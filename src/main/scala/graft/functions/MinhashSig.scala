package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression: MinHash signature.
  *
  * `MinhashSig(tokens, H)` returns `array<long>` of length H where entry
  * h = min over tokens t of ((2h+1)·t + (h²+7)) mod 1000000007 — the
  * affine hash family every minhash consumer (within-corpus LSH q14/q25,
  * cross-corpus contamination q54) shares with its DuckDB oracle.
  *
  * This is the dedup stack's hottest inner loop: the HOF composition
  * (`transform(sequence(H), h -> array_min(transform(tokens, ...)))`)
  * evaluates O(H·n) interpreted Catalyst nodes per row — the dominant
  * cost of the 4M-doc contamination ladder. Here it is one fused
  * primitive-long loop participating in whole-stage codegen.
  *
  * Semantics match the HOF form exactly, including edge cases: null
  * token elements contribute nothing (array_min skips nulls); an empty
  * array or all-null elements yield H NULL entries; a NULL tokens array
  * yields NULL. Remainder is Java `%` (sign of dividend), identical to
  * Spark's Remainder and the oracle's `%`.
  */
case class MinhashSig(child: Expression, numHashes: Int)
    extends UnaryKernel[ArrayData] {
  require(numHashes > 0, "numHashes must be positive")

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  def compute(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getInt(i).toLong
        any = true
        var h = 0
        while (h < numHashes) {
          val v = ((2L * h + 1) * t + (h.toLong * h + 7)) % MinhashSig.P
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    if (any) new GenericArrayData(mins)
    else new GenericArrayData(new Array[Any](numHashes)) // H null entries
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  final val P = 1000000007L

  /** Column API: minhash_sig(tokens, H) -> array<long>[H]. */
  def apply(tokens: Column, numHashes: Int): Column =
    Bridge.column(MinhashSig(Bridge.expression(tokens), numHashes))
}

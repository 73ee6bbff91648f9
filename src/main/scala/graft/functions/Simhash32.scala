package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression: 32-bit SimHash over token identities with
  * multiplicity. Bit j of the result is set when
  * Σ_tokens sign(bit_j(hash(t))) > 0, hash(t) = (t·2654435761) mod 2³²
  * (Knuth multiplicative) — the family the q16 DuckDB oracle reproduces.
  *
  * Replaces the `aggregate(tokens, 32-long acc, transform(...))` HOF
  * chain, which evaluated O(32·n) interpreted Catalyst nodes per row —
  * per-document cost on the same tier as the minhash signature. Here:
  * one fused int-array loop in whole-stage codegen.
  *
  * Null token elements are skipped: they leave every Σ untouched. (The
  * HOF form instead poisoned the bit's sum, `cnt + NULL = NULL`, which the
  * final OR read as unset; the tables carry containsNull=false arrays, and
  * the two forms are asserted equal on null-free inputs.) Empty array ->
  * every Σ is 0, no bit set -> 0L, as in the HOF form.
  *
  * The per-bit update adds 2·bit − 1 instead of branching on the bit:
  * hash bits are unpredictable, so the branch mispredicted about half the
  * time.
  */
case class Simhash32(child: Expression) extends UnaryKernel[ArrayData] {
  import Simhash32._

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash32"

  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = java.lang.Math.floorMod(arr.getInt(i).toLong * Knuth, TwoTo32)
        var j = 0
        while (j < 32) {
          counts(j) += 2 * ((h >>> j) & 1L).toInt - 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash32 =
    copy(child = newChild)
}

object Simhash32 {
  final val Knuth = 2654435761L
  final val TwoTo32 = 4294967296L

  /** Column API: simhash32(tokens) -> bigint. */
  def apply(tokens: Column): Column =
    Bridge.column(Simhash32(Bridge.expression(tokens)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression: bucketed token histogram.
  *
  * `TokenHistogram(tokens, k)` returns `array<long>` of length k where
  * bucket b counts tokens with token mod k == b. This is the hot inner
  * loop of the grid-output analog (n_tok-normalized token histograms,
  * SURVEY.md §7.2); a higher-order-function composition would be
  * O(n_tok × k) per row (transform-inside-aggregate), this is O(n_tok)
  * with a primitive long[] in whole-stage codegen — no boxing, no UDF
  * serialization.
  *
  * A null token element makes the whole result NULL (the FrameAgg/VecDot
  * convention): counting it as token 0 would fabricate a bin, and
  * skipping it would leave bins that no longer sum to n_tok.
  */
case class TokenHistogram(child: Expression, buckets: Int)
    extends UnaryKernel[ArrayData] {
  require(buckets > 0, "buckets must be positive")

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable || (child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_histogram"

  def compute(arr: ArrayData): GenericArrayData = {
    val counts = new Array[Long](buckets)
    val n = arr.numElements()
    // k = 2^m: token mod k is the low m bits (also for negative tokens),
    // which spares the per-token division by a non-constant k
    val mask = if ((buckets & (buckets - 1)) == 0) buckets - 1 else -1
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val t = arr.getInt(i)
      counts(if (mask >= 0) t & mask else java.lang.Math.floorMod(t, buckets)) += 1L
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHistogram =
    copy(child = newChild)
}

object TokenHistogram {
  /** Column API: token_histogram(tokens, k) -> array<long>[k]. */
  def apply(tokens: Column, buckets: Int): Column =
    Bridge.column(TokenHistogram(Bridge.expression(tokens), buckets))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expression: count of positions where two `array<long>`
  * signatures agree (both non-null and equal). The minhash
  * signature-estimated-Jaccard verify step runs this once per CANDIDATE
  * PAIR — the highest-volume row stream in the LSH dedup path (80k+
  * pairs at sf0.01 q25, bucket-bounded but large at corpus scale), where
  * the `size(filter(zip_with(...)))` composition allocated two
  * intermediate arrays and evaluated O(H) interpreted nodes per pair.
  *
  * Matches the HOF exactly: positions beyond the shorter array (zip_with
  * null-pads) and positions where either side is NULL never count;
  * NULL === NULL does not count (SQL equality, not <=>). NULL input
  * array -> NULL.
  */
case class SlotAgree(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "slot_agree"

  def compute(x: ArrayData, y: ArrayData): java.lang.Integer = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        c += 1
      i += 1
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SlotAgree =
    copy(left = newLeft, right = newRight)
}

object SlotAgree {
  /** Column API: slot_agree(a, b) -> int. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(SlotAgree(Bridge.expression(a), Bridge.expression(b)))
}

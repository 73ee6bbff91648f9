package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Count of common elements between two SORTED, DISTINCT array<long>
  * columns — a single merge pass, zero allocation.
  *
  * Why an Expression: pairwise set similarity via
  * `size(array_intersect(a, b))` builds a hash set and a result array
  * PER PAIR; on an all-pairs near-dup join that allocation dominates.
  * With both sides sorted once per row upstream, the intersection count
  * is a linear merge in codegen. Union size follows arithmetically
  * (|A| + |B| - |A∩B|), so jaccard needs no union array either. */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "intersect_count"

  /** Lengths MAY differ (set semantics); a null element — which
    * array_sort places LAST, so an O(1) tail check suffices — makes the
    * result NULL, surfacing corrupt shingle sets instead of
    * under-counting. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val na = a.numElements(); val nb = b.numElements()
    if ((na > 0 && a.isNullAt(na - 1)) || (nb > 0 && b.isNullAt(nb - 1)))
      return null
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Integer.valueOf(c)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {
  def count(a: Column, b: Column): Column =
    Bridge.column(IntersectCount(Bridge.expression(a), Bridge.expression(b)))
}

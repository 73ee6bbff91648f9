package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native dot product of two array<double> columns.
  *
  * Why an Expression: the HOF chain `aggregate(zip_with(a, b, _*_), 0, +)`
  * is interpreted per element with a boxed accumulator — on an all-pairs
  * similarity join (|pairs| × dim evaluations) that chain dominates the
  * stage. This runs the same sum as a primitive double loop inside
  * whole-stage codegen. Semantics match the HOF form exactly: left-to-right
  * accumulation (bit-identical sums), NULL on length mismatch (zip_with
  * pads with null) and NULL on any null element — corrupt vectors surface
  * as NULL, never as a plausible partial score. The SQL binding
  * (GraftExtensions) inserts Casts so literal arrays coerce like
  * built-in functions. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  /** Null result for length mismatch / null elements, mirroring the
    * zip_with form. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  def dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))
}

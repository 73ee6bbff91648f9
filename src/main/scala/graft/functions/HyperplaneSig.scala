package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native random-hyperplane LSH signature: sign bit of v · plane(p) for
  * each of nPlanes hyperplanes, packed into a long.
  *
  * Why an Expression: the HOF form evaluates the xxhash64-derived plane
  * coefficient INSIDE the per-element lambda — nPlanes × dim interpreted
  * hash evaluations per row (the coefficients are row-invariant!). Here
  * the coefficient matrix is folded once at plan-build time (same
  * Catalyst xxhash64 expressions evaluated driver-side, so the values
  * are identical) and the signature is one primitive loop in codegen.
  *
  * Coefficients are held as Seq[Seq[Double]] so case-class equality is
  * by VALUE — Catalyst canonicalization (semanticEquals, CSE, exchange
  * reuse) would silently degrade with reference-equal Array fields.
  *
  * Malformed vectors (length ≠ dim, or any null element) get signature
  * 0L, matching the HOF form where a null dot product set no bits. */
case class HyperplaneSig(child: Expression, coeffs: Seq[Seq[Double]])
    extends UnaryKernel[ArrayData] {

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  @transient private lazy val coeffArr: Array[Array[Double]] =
    coeffs.map(_.toArray).toArray
  @transient private lazy val dim: Int =
    if (coeffs.isEmpty) 0 else coeffs.head.length

  def compute(v: ArrayData): java.lang.Long = {
    val n = v.numElements()
    if (n != dim) return 0L
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    var sig = 0L
    var p = 0
    while (p < coeffArr.length) {
      val c = coeffArr(p)
      var d = 0.0
      i = 0
      while (i < n) { d += v.getDouble(i) * c(i); i += 1 }
      if (d >= 0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  def sig(v: Column, coeffs: Seq[Seq[Double]]): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(v), coeffs))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native sliding-frame aggregate over a token array: one output element
  * per frame of `block` tokens advancing by `step` (W1 framing +
  * frame-feature fusion).
  *
  * kinds: "mean" (mean token value), "energy" (mean square, optionally
  * tapered by a per-position coefficient window — W2).
  *
  * Why an Expression: the equivalent higher-order-function chain
  * (transform(sequence) + slice + aggregate) is interpreted per element —
  * measured ~20s for 360k frames on local[32]; this runs the same frames
  * as a primitive int[]/double[] loop inside whole-stage codegen, ~100×
  * less per-element cost and no per-frame allocation. (The hot inner loop
  * the reference runs natively in its plugin process() calls,
  * /root/reference/runner/FeatureExtractionManager.cpp:965-966.)
  */
case class FrameAgg(child: Expression, step: Int, block: Int, kind: String,
    taper: Option[Seq[Double]] = None)
    extends UnaryKernel[ArrayData] {
  require(step > 0 && block > 0, "step/block must be positive")
  require(Seq("mean", "energy").contains(kind), s"unknown frame agg kind: $kind")
  require(taper.forall(_.length == block), "taper length must equal block")

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = s"frame_$kind"

  @transient private lazy val taperArr: Array[Double] = taper.map(_.toArray).orNull

  override def nullable: Boolean = true // null elements -> null result

  /** The frame loop. Null result on any null element (VecDot
    * convention): unboxing a null token to 0 would fabricate plausible
    * frame values. */
  def compute(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    var p = 0
    while (p < n) { if (arr.isNullAt(p)) return null; p += 1 }
    val nf = if (n < block) 0 else (n - block) / step + 1
    val out = new Array[Double](nf)
    val sq = kind == "energy"
    var f = 0
    while (f < nf) {
      val s = f * step
      var acc = 0.0
      var i = 0
      while (i < block) {
        var x = arr.getInt(s + i).toDouble
        if (taperArr != null) x *= taperArr(i)
        acc += (if (sq) x * x else x)
        i += 1
      }
      out(f) = acc / block
      f += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): FrameAgg =
    copy(child = newChild)
}

object FrameAgg {
  def mean(tokens: Column, step: Int, block: Int): Column =
    Bridge.column(FrameAgg(Bridge.expression(tokens), step, block, "mean"))
  def energy(tokens: Column, step: Int, block: Int,
      taper: Option[Seq[Double]] = None): Column =
    Bridge.column(FrameAgg(Bridge.expression(tokens), step, block, "energy", taper))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native per-frame magnitude spectrum over a token array — the W3
  * frequency-domain adaptation (the reference windows each frame and
  * FFTs it before handing it to FrequencyDomain plugins:
  * PluginInputDomainAdapter with ShiftData timestamping,
  * /root/reference/runner/FeatureExtractionManager.cpp:294-311).
  *
  * For each frame of `block` tokens advancing by `step`, emits the
  * (block/2 + 1)-bin real-DFT magnitude spectrum of the TAPERED frame:
  *
  *   re_k = Σ_j x_j · cre(k)(j),   im_k = Σ_j x_j · cim(k)(j)
  *   mag_k = sqrt(re_k² + im_k²)   (stored float32, the reference's
  *                                  feature value width)
  *
  * The taper is FOLDED into the coefficient matrices at plan build
  * (cre(k)(j) = w_j·cos(2πkj/N), cim(k)(j) = −w_j·sin(2πkj/N)), so the
  * hot loop is a pure literal mat-vec — and the exact double literals
  * can be embedded verbatim in the DuckDB oracle (the taper-coefficient
  * trick), making the whole spectrum bit-reproducible cross-engine:
  * products and sums run in the same left-to-right order, sqrt is IEEE
  * correctly-rounded everywhere.
  *
  * Why an Expression: the HOF equivalent is interpreted per element
  * (bins × block evaluations per frame); this is one primitive loop in
  * whole-stage codegen, no per-frame allocation beyond the output.
  */
case class FrameSpectrum(child: Expression, step: Int, block: Int,
    cre: Seq[Seq[Double]], cim: Seq[Seq[Double]])
    extends UnaryKernel[ArrayData] {
  require(step > 0 && block > 0, "step/block must be positive")
  require(cre.nonEmpty && cre.length == cim.length,
    "cre/cim must have the same (nonzero) bin count")
  require(cre.forall(_.length == block) && cim.forall(_.length == block),
    "coefficient rows must have length block")

  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType =
    ArrayType(ArrayType(FloatType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true // null elements -> null result
  override def prettyName: String = "frame_spectrum"

  @transient private lazy val creArr: Array[Array[Double]] =
    cre.map(_.toArray).toArray
  @transient private lazy val cimArr: Array[Array[Double]] =
    cim.map(_.toArray).toArray

  /** The frame loop. Returns null (whole result) if any element is
    * null — the VecDot convention; silently unboxing a null token to 0
    * would fabricate a plausible spectrum. */
  def compute(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    var p = 0
    while (p < n) { if (arr.isNullAt(p)) return null; p += 1 }
    val nf = if (n < block) 0 else (n - block) / step + 1
    val bins = creArr.length
    val out = new Array[Any](nf)
    var f = 0
    while (f < nf) {
      val s = f * step
      val mags = new Array[Float](bins)
      var k = 0
      while (k < bins) {
        val rowRe = creArr(k); val rowIm = cimArr(k)
        var re = 0.0; var im = 0.0
        var j = 0
        while (j < block) {
          val x = arr.getInt(s + j).toDouble
          re += x * rowRe(j)
          im += x * rowIm(j)
          j += 1
        }
        mags(k) = math.sqrt(re * re + im * im).toFloat
        k += 1
      }
      out(f) = new GenericArrayData(mags)
      f += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): FrameSpectrum =
    copy(child = newChild)
}

object FrameSpectrum {
  def spectrum(tokens: Column, step: Int, block: Int,
      cre: Seq[Seq[Double]], cim: Seq[Seq[Double]]): Column =
    Bridge.column(FrameSpectrum(Bridge.expression(tokens), step, block, cre, cim))
}

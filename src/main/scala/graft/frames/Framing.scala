package graft.frames

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.WindowShape

/** Frame/step blocking over per-row token arrays (W1 in SURVEY.md §2.5) and
  * taper window coefficients (W2).
  *
  * The reference slides a blockSize window by stepSize over the sample
  * stream (read loop /root/reference/runner/FeatureExtractionManager.cpp:894-899),
  * rebuffering arbitrary read blocks into plugin-sized blocks (`:313-329`).
  * Here a "stream" is one row's `tokens` array, so framing is array-local:
  * no shuffle, no explosion unless a row-per-frame output shape is asked
  * for — at 10^12 rows this is the difference between a map-only stage and
  * an unusable 100× row blowup.
  */
object Framing {

  /** Number of complete frames: floor((n - block)/step) + 1 for n >= block,
    * else 0 (frames never run past the end). */
  def frameCount(nTok: Column, step: Int, block: Int): Column =
    when(nTok >= block, floor((nTok - block) / step.toDouble).cast("long") + 1L)
      .otherwise(0L)

  /** Resolve step/block defaulting like the reference
    * (FeatureExtractionManager.cpp:319-329): 0 means "plugin preferred";
    * our extractors prefer block=16, step=block (tumbling). */
  def resolveSizes(step: Int, block: Int,
      preferredBlock: Int = 16): (Int, Int) = {
    val b = if (block > 0) block else preferredBlock
    val s = if (step > 0) step else b
    (s, b)
  }

  /** One row per frame: (frame: long, frame_ts: long, slice: array<int>).
    * `tsPerStep` synthesizes OneSamplePerStep timestamps (W4):
    * ts = frame * step (position units) times the caller's time scale. */
  def explodeFrames(df: DataFrame, tokensCol: String, nTokCol: String,
      step: Int, block: Int): DataFrame = {
    df.where(col(nTokCol) >= block)
      .select(col("*"),
        posexplode(sequence(lit(0L), frameCount(col(nTokCol), step, block) - 1L)))
      .withColumnRenamed("col", "frame")
      .drop("pos")
      .withColumn("frame_ts", col("frame") * step)
      .withColumn("slice",
        slice(col(tokensCol), (col("frame") * step + 1).cast("int"), lit(block)))
  }

  /** FixedSampleRate timestamp snapping (W4): explicit timestamps snap to
    * the fixed grid round(t*rate)/rate — golden
    * tests/test-vamp-test-plugin/expected/vamp-test-plugin-curve-fsr-timed.csv
    * ("0.3 at 0.333 snap to 0.4"). `ts` in ns, rate in Hz. */
  def snapToGrid(ts: Column, rate: Double): Column = {
    val period = 1e9 / rate
    (round(ts.cast("double") / period) * period).cast("long")
  }

  /** Taper coefficient array (reference window functions,
    * FeatureExtractionManager.cpp:155-180; default Hann; unsupported
    * shapes fall back to Hann there and in WindowShape.fromName). */
  def taperCoefficients(shape: WindowShape, n: Int): Array[Double] = {
    import math.{cos, Pi}
    def cosSum(a0: Double, a1: Double, a2: Double, a3: Double): Array[Double] =
      Array.tabulate(n) { i =>
        val x = 2 * Pi * i / n
        a0 - a1 * cos(x) + a2 * cos(2 * x) - a3 * cos(3 * x)
      }
    shape match {
      case WindowShape.Rectangular => Array.fill(n)(1.0)
      case WindowShape.Bartlett =>
        Array.tabulate(n)(i => 1.0 - math.abs((i - (n - 1) / 2.0) / ((n - 1) / 2.0)))
      case WindowShape.Hamming  => cosSum(0.54, 0.46, 0, 0)
      case WindowShape.Hanning  => cosSum(0.50, 0.50, 0, 0)
      case WindowShape.Blackman => cosSum(0.42, 0.50, 0.08, 0)
      case WindowShape.Nuttall  => cosSum(0.355768, 0.487396, 0.144232, 0.012604)
      case WindowShape.BlackmanHarris => cosSum(0.35875, 0.48829, 0.14128, 0.01168)
    }
  }
}

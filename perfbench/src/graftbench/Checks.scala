package graftbench

/** Plain-Scala references the outputs are checked against. None of this
  * calls engine code: it restates the documented semantics directly. */
object Checks {

  /** Continuous-time summaries of one (doc, transform) timeline, per bin.
    * Each feature (no duration) spans until the next feature's timestamp;
    * the last one spans until `end` (the later of the input's end and the
    * doc's last feature). Median: smallest value whose cumulative span
    * reaches half the total; mode: value with the greatest total span,
    * ties to the smallest value. Spans weight mean and (population) sd. */
  final case class Summary(mean: Array[Double], sd: Array[Double],
      median: Array[Float], mode: Array[Float])

  def summarize(rows: Seq[(Long, Array[Float])], end: Long): Summary = {
    val sorted = rows.sortBy(_._1)
    val spans = sorted.indices.map { i =>
      val next = if (i + 1 < sorted.size) sorted(i + 1)._1 else end
      (next - sorted(i)._1).toDouble
    }
    val bins = sorted.map(_._2.length).max
    val total = spans.sum
    def bin(b: Int): (Double, Double, Float, Float) = {
      val vw = sorted.indices.collect {
        case i if b < sorted(i)._2.length => (sorted(i)._2(b), spans(i))
      }
      val sw = vw.map(_._2).sum
      val mean = vw.map { case (v, w) => w * v }.sum / sw
      val ev2 = vw.map { case (v, w) => w * v * v }.sum / sw
      val sd = math.sqrt(math.max(0.0, ev2 - mean * mean))
      val byValue = vw.groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .sortWith((x, y) => java.lang.Float.compare(x._1, y._1) < 0)
      val cum = byValue.scanLeft(0.0)(_ + _._2).tail
      val median = byValue(cum.indexWhere(_ >= sw / 2.0))._1
      val mode = byValue.foldLeft(byValue.head) { (best, x) =>
        if (x._2 > best._2) x else best }._1
      (mean, sd, median, mode)
    }
    require(total > 0, "empty timeline")
    val per = (0 until bins).map(bin)
    Summary(per.map(_._1).toArray, per.map(_._2).toArray,
      per.map(_._3).toArray, per.map(_._4).toArray)
  }

  /** Values printed with 6 significant digits: equal up to print precision.
    * `scale` absorbs the cancellation in sd = sqrt(E[x^2] - E[x]^2), whose
    * absolute error is ~1e-8 of the bin's mean however small sd is. */
  def close(printed: Double, exact: Double, scale: Double = 0.0): Boolean =
    math.abs(printed - exact) <= 1e-5 * math.max(math.abs(printed), math.abs(exact)) +
      1e-6 * math.abs(scale) + 1e-30

  /** Onset rule of the energy detection function: frame i > 0 is an onset
    * when its energy exceeds `threshold` and the previous frame's energy
    * by `sensitivity` percent. */
  def onsets(curve: Array[Double], threshold: Double = 3.0,
      sensitivity: Double = 40.0): Int =
    (1 until curve.length).count(i =>
      curve(i) > threshold && curve(i) > curve(i - 1) * (1.0 + sensitivity / 100.0))

  /** Frames of `block` tokens advancing by `step` over an n-token doc. */
  def frames(n: Int, step: Int = 16, block: Int = 16): Long =
    if (n < block) 0L else ((n - block) / step + 1).toLong

  /** Exact Jaccard of two sorted distinct int arrays. */
  def jaccard(a: Array[Int], b: Array[Int]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }
}

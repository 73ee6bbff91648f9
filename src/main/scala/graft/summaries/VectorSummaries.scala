package graft.summaries

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, struct, udaf}
import graft.model.SummaryType

/** Element-wise (per-bin) summary reducers over `array<double>` values —
  * the reference's grid outputs apply every reducer per bin
  * (fixture /root/reference/tests/test-summaries/expected/testplug-grid-fsr-min.csv:1-2,
  * SURVEY.md §2.4 A1).
  *
  * Implemented as typed Aggregators over the raw arrays so 10^12-scale runs
  * never explode rows: per-group state is O(binCount) (moments) or
  * O(binCount × distinct values) (median/mode), shuffled once as partial
  * aggregates (map-side combine), not one row per array element.
  *
  * Ragged inputs are tolerated: buffers grow to the longest array seen and
  * bins absent from a row simply contribute nothing to that bin.
  */
object VectorSummaries {

  /** Input element: one feature row's values + its continuous-time span. */
  final case class VW(values: Seq[Double], w: Double)

  // ------------------------------------------------------------- moments

  final case class MomentsBuf(
      var n: Long,
      var sumW: Double,
      var mins: Array[Double],
      var maxs: Array[Double],
      var sums: Array[Double],
      var sumWV: Array[Double],
      var sumWV2: Array[Double])

  final case class MomentsOut(
      count: Long,
      min: Seq[Double],
      max: Seq[Double],
      sum: Seq[Double],
      mean: Seq[Double],
      variance: Seq[Double],
      sd: Seq[Double])

  private def grow(a: Array[Double], n: Int, fill: Double = 0.0): Array[Double] =
    if (a.length >= n) a else Array.tabulate(n)(i => if (i < a.length) a(i) else fill)

  /** count/min/max/sum + continuous-time weighted mean/variance/sd, per bin. */
  class VectorMomentsAgg extends Aggregator[VW, MomentsBuf, MomentsOut] {
    def zero: MomentsBuf = MomentsBuf(0L, 0.0,
      Array.empty, Array.empty, Array.empty, Array.empty, Array.empty)

    def reduce(b: MomentsBuf, in: VW): MomentsBuf = {
      val vs = in.values
      if (vs != null) {
        val n = vs.length
        b.mins = grow(b.mins, n, Double.PositiveInfinity)
        b.maxs = grow(b.maxs, n, Double.NegativeInfinity)
        b.sums = grow(b.sums, n); b.sumWV = grow(b.sumWV, n); b.sumWV2 = grow(b.sumWV2, n)
        var i = 0
        while (i < n) {
          val v = vs(i)
          if (v < b.mins(i)) b.mins(i) = v
          if (v > b.maxs(i)) b.maxs(i) = v
          b.sums(i) += v
          b.sumWV(i) += in.w * v
          b.sumWV2(i) += in.w * v * v
          i += 1
        }
        b.n += 1
        b.sumW += in.w
      }
      b
    }

    def merge(a: MomentsBuf, c: MomentsBuf): MomentsBuf = {
      val n = math.max(a.mins.length, c.mins.length)
      a.mins = grow(a.mins, n, Double.PositiveInfinity)
      a.maxs = grow(a.maxs, n, Double.NegativeInfinity)
      a.sums = grow(a.sums, n); a.sumWV = grow(a.sumWV, n); a.sumWV2 = grow(a.sumWV2, n)
      var i = 0
      while (i < c.mins.length) {
        if (c.mins(i) < a.mins(i)) a.mins(i) = c.mins(i)
        if (c.maxs(i) > a.maxs(i)) a.maxs(i) = c.maxs(i)
        a.sums(i) += c.sums(i); a.sumWV(i) += c.sumWV(i); a.sumWV2(i) += c.sumWV2(i)
        i += 1
      }
      a.n += c.n
      a.sumW += c.sumW
      a
    }

    def finish(b: MomentsBuf): MomentsOut = {
      val n = b.mins.length
      val mean = Array.tabulate(n)(i => if (b.sumW > 0) b.sumWV(i) / b.sumW else Double.NaN)
      val variance = Array.tabulate(n) { i =>
        if (b.sumW > 0) math.max(0.0, b.sumWV2(i) / b.sumW - mean(i) * mean(i)) else Double.NaN
      }
      MomentsOut(b.n, b.mins.toSeq, b.maxs.toSeq, b.sums.toSeq,
        mean.toSeq, variance.toSeq, variance.map(math.sqrt).toSeq)
    }

    // Product (struct) encoder keeps spilled/shuffled partial buffers
    // columnar UnsafeRows instead of opaque Kryo blobs.
    def bufferEncoder: Encoder[MomentsBuf] = Encoders.product[MomentsBuf]
    def outputEncoder: Encoder[MomentsOut] = Encoders.product[MomentsOut]
  }

  // --------------------------------------------------------- median/mode

  final case class MedianModeOut(median: Seq[Double], mode: Seq[Double])

  /** Median/mode partial state: per bin, a value→total-span table kept as
    * PARALLEL SORTED ARRAYS (keys ascending in java.util.Arrays total
    * order: -0.0 < 0.0, NaN last — the same order the finisher needs).
    * Product-encoded: partials spill/shuffle as columnar UnsafeRows
    * (nested double arrays), not opaque Kryo blobs. */
  final case class MMBuf(var keys: Array[Array[Double]], var ws: Array[Array[Double]])

  /** Per-bin continuous-time weighted median + mode. State is one sorted
    * value→span table per bin; suitable when per-bin distinct values are
    * bounded (e.g. token-derived features): state grows with the number
    * of distinct values per bin per group. */
  class VectorMedianModeAgg extends Aggregator[VW, MMBuf, MedianModeOut] {

    def zero: MMBuf = MMBuf(Array.empty, Array.empty)

    private def growBuf(b: MMBuf, n: Int): MMBuf = {
      if (b.keys.length < n) {
        b.keys = Array.tabulate(n)(i => if (i < b.keys.length) b.keys(i) else Array.empty[Double])
        b.ws = Array.tabulate(n)(i => if (i < b.ws.length) b.ws(i) else Array.empty[Double])
      }
      b
    }

    /** Sorted insert-or-add; O(log k) hit, O(k) copy on a new distinct
      * value — k is bounded by contract, and the arrays stay finish-ready. */
    private def add(b: MMBuf, bin: Int, v: Double, w: Double): Unit = {
      val ks = b.keys(bin)
      val idx = java.util.Arrays.binarySearch(ks, v)
      if (idx >= 0) b.ws(bin)(idx) += w
      else {
        val ins = -idx - 1
        val nk = new Array[Double](ks.length + 1)
        val nw = new Array[Double](ks.length + 1)
        System.arraycopy(ks, 0, nk, 0, ins)
        System.arraycopy(b.ws(bin), 0, nw, 0, ins)
        nk(ins) = v; nw(ins) = w
        System.arraycopy(ks, ins, nk, ins + 1, ks.length - ins)
        System.arraycopy(b.ws(bin), ins, nw, ins + 1, ks.length - ins)
        b.keys(bin) = nk; b.ws(bin) = nw
      }
    }

    def reduce(b0: MMBuf, in: VW): MMBuf = {
      if (in.values == null) return b0
      val b = growBuf(b0, in.values.length)
      var i = 0
      while (i < in.values.length) {
        add(b, i, in.values(i), in.w)
        i += 1
      }
      b
    }

    def merge(a0: MMBuf, c: MMBuf): MMBuf = {
      val a = growBuf(a0, c.keys.length)
      var i = 0
      while (i < c.keys.length) {
        val ck = c.keys(i); val cw = c.ws(i)
        val ak = a.keys(i); val aw = a.ws(i)
        if (ak.isEmpty) { a.keys(i) = ck; a.ws(i) = cw }
        else {
          // linear merge of two sorted tables
          val nk = new Array[Double](ak.length + ck.length)
          val nw = new Array[Double](ak.length + ck.length)
          var x = 0; var y = 0; var z = 0
          while (x < ak.length && y < ck.length) {
            val cmp = java.lang.Double.compare(ak(x), ck(y))
            if (cmp == 0) { nk(z) = ak(x); nw(z) = aw(x) + cw(y); x += 1; y += 1 }
            else if (cmp < 0) { nk(z) = ak(x); nw(z) = aw(x); x += 1 }
            else { nk(z) = ck(y); nw(z) = cw(y); y += 1 }
            z += 1
          }
          while (x < ak.length) { nk(z) = ak(x); nw(z) = aw(x); x += 1; z += 1 }
          while (y < ck.length) { nk(z) = ck(y); nw(z) = cw(y); y += 1; z += 1 }
          a.keys(i) = java.util.Arrays.copyOf(nk, z)
          a.ws(i) = java.util.Arrays.copyOf(nw, z)
        }
        i += 1
      }
      a
    }

    def finish(b: MMBuf): MedianModeOut = {
      val med = new Array[Double](b.keys.length)
      val mode = new Array[Double](b.keys.length)
      var i = 0
      while (i < b.keys.length) {
        val ks = b.keys(i); val ws = b.ws(i)
        var total = 0.0
        var j = 0
        while (j < ws.length) { total += ws(j); j += 1 }
        var cum = 0.0
        var m = Double.NaN
        j = 0
        while (j < ks.length && m.isNaN) {
          cum += ws(j)
          if (cum >= total / 2.0) m = ks(j)
          j += 1
        }
        med(i) = m
        // mode: greatest total span; ties -> smallest value (keys ascending,
        // strict > keeps the first = smallest)
        var best = Double.NaN; var bestW = Double.NegativeInfinity
        j = 0
        while (j < ks.length) {
          if (ws(j) > bestW) { bestW = ws(j); best = ks(j) }
          j += 1
        }
        mode(i) = best
        i += 1
      }
      MedianModeOut(med.toSeq, mode.toSeq)
    }

    def bufferEncoder: Encoder[MMBuf] = Encoders.product[MMBuf]
    def outputEncoder: Encoder[MedianModeOut] = Encoders.product[MedianModeOut]
  }

  /** Summary types served by the cheap moments aggregator; the rest
    * (median/mode) need the per-bin value→span map aggregator. */
  private val momentTypes: Set[SummaryType] = Set(
    SummaryType.Count, SummaryType.Min, SummaryType.Max, SummaryType.Sum,
    SummaryType.Mean, SummaryType.Variance, SummaryType.Sd)

  /** DataFrame-level API: per-group per-bin summaries in ONE shuffle.
    * `valuesCol` is any numeric array (cast once to array<double>; a
    * float feature upcasts exactly), `wCol` the span from
    * Summaries.withSpans.
    *
    * Only the aggregators needed for `types` run: a mean-only request
    * never pays the median/mode state (one sorted value→span table per
    * bin per group, rebuilt on every partial merge — pure waste on the
    * common mean/count path at 10^12 rows). Output columns are
    * the requested subset of: count, min, max, sum, mean, variance, sd,
    * median, mode (arrays), then the `extra` aggregates by name — computed
    * in the same aggregate, so the caller's input is evaluated once.
    * The reducers skip rows whose values are null; `extra` still sees them. */
  def summarizeVector(
      spanned: DataFrame,
      groupCols: Seq[String],
      valuesCol: String,
      wCol: String = "w",
      types: Set[SummaryType] = momentTypes ++
        Set(SummaryType.Median, SummaryType.Mode),
      extra: Seq[(String, Column)] = Nil): DataFrame = {
    require(types.nonEmpty, "no summary types requested")
    val needMoments = types.exists(momentTypes)
    val needMedMode = types.contains(SummaryType.Median) ||
      types.contains(SummaryType.Mode)
    val (vc, wc) = (col(valuesCol).cast("array<double>"), col(wCol).cast("double"))

    val aggs = Seq(
      if (needMoments)
        Some(udaf(new VectorMomentsAgg, Encoders.product[VW])(vc, wc).as("m"))
      else None,
      if (needMedMode)
        Some(udaf(new VectorMedianModeAgg, Encoders.product[VW])(vc, wc).as("mm"))
      else None).flatten ++ extra.map { case (n, c) => c.as(n) }

    val momentOuts =
      if (needMoments)
        Seq("count", "min", "max", "sum", "mean", "variance", "sd")
          .filter(n => types.exists(_.name == n) || (n == "count")) // count is free
          .map(n => col(s"m.$n").as(n))
      else Nil
    val mmOuts =
      if (needMedMode)
        Seq("median", "mode").filter(n => types.exists(_.name == n))
          .map(n => col(s"mm.$n").as(n))
      else Nil

    spanned.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(groupCols.map(col) ++ momentOuts ++ mmOuts ++ extra.map(e => col(e._1)): _*)
  }
}

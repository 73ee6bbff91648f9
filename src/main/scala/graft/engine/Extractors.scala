package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.frames.Framing
import graft.functions.TokenFeatures
import graft.model.{OutputDescriptor, OutputShape, TransformSpec}
import graft.sources.SequenceGen

/** Feature extractors — the engine's plugins (the reference's extension
  * surface is the Vamp ABI: fixed-size frames in, FeatureSet out,
  * /root/reference/runner/FeatureExtractionManager.cpp:965-985; ours is
  * pure Catalyst column algebra over token arrays).
  *
  * An extractor emits ALL its outputs in one pass as rows
  * (doc_id, output, ts, duration, values, label) — the FeatureSet demux by
  * output index (`:1105-1107`) becomes a filter on the `output` column.
  * ts/duration are integer nanoseconds; position -> time uses the spec's
  * sample rate (positions per second, default 1000).
  */
trait FeatureExtractor {
  def name: String
  def outputs: Seq[OutputDescriptor]
  def preferredBlock: Int = 16
  def defaultParams: Map[String, Double] = Map.empty

  /** Plugin version, reported by metadata-bearing sinks (the reference's
    * plugin apiVersion surfaces in JAMS annotator blocks,
    * JAMSFeatureWriter.cpp golden expected/curve-fsr.json:16). */
  def version: Int = 1

  /** One pass over sequences -> all outputs' feature rows. */
  def extract(seqs: DataFrame, spec: TransformSpec): DataFrame

  /** Output descriptors for a CONFIGURED transform. Extractors whose bin
    * count depends on the resolved block size (the reference's dynamic
    * output descriptors, re-queried after initialise) override this;
    * the no-arg [[outputs]] reports the preferred-block shape — what
    * `--list`/`--skeleton` show before any transform is configured. */
  def outputsFor(spec: TransformSpec): Seq[OutputDescriptor] = outputs

  /** Effective (step, block, rate) with the reference's defaulting rule
    * (transform override wins, else plugin preference;
    * FeatureExtractionManager.cpp:319-329,187-206). */
  def resolve(spec: TransformSpec): (Int, Int, Double) = {
    val (s, b) = Framing.resolveSizes(spec.stepSize, spec.blockSize, preferredBlock)
    (s, b, if (spec.sampleRate > 0) spec.sampleRate else TransformSpec.DefaultRate)
  }

  /** position (long/int column) -> integer ns at `rate` positions/sec. */
  protected def posToNs(pos: Column, rate: Double): Column =
    (pos.cast("double") * (1e9 / rate)).cast("long")

  protected def featRow(output: String, ts: Column, duration: Column,
      values: Column, label: Column): Column =
    struct(lit(output).as("output"), ts.as("ts"), duration.as("duration"),
      values.as("values"), label.as("label"))
}

/** Per-frame + whole-doc normalized token histograms (grid outputs). */
object HistogramExtractor extends FeatureExtractor {
  val name = "graft:histogram"
  override def defaultParams: Map[String, Double] = Map("buckets" -> 16)
  def outputs: Seq[OutputDescriptor] = Seq(
    OutputDescriptor("grid", "Per-frame token histogram", OutputShape.GridOSS, 16),
    OutputDescriptor("global", "Whole-sequence token histogram", OutputShape.GridFSR, 16))

  def extract(seqs: DataFrame, spec: TransformSpec): DataFrame = {
    val (step, block, rate) = resolve(spec)
    val k = spec.parameters.getOrElse("buckets", 16.0).toInt
    val grid = Framing.explodeFrames(seqs, "tokens", "n_tok", step, block)
      .select(col("doc_id"), lit("grid").as("output"),
        posToNs(col("frame_ts"), rate).as("ts"),
        lit(null).cast("long").as("duration"),
        transform(TokenFeatures.histogram(col("slice"), lit(block), k),
          x => x.cast("float")).as("values"),
        lit("").as("label"))
    val global = seqs.select(col("doc_id"), lit("global").as("output"),
      lit(0L).as("ts"),
      posToNs(col("n_tok"), rate).as("duration"),
      transform(TokenFeatures.histogram(col("tokens"), col("n_tok"), k),
        x => x.cast("float")).as("values"),
      lit("").as("label"))
    grid.unionByName(global)
  }
}

/** Tapered frame energy curve + onset instants (the percussiononsets
  * analog: detectionfunction + onsets outputs,
  * /root/reference/tests/test-summaries/transforms/detectionfunction.n3). */
object EnergyExtractor extends FeatureExtractor {
  val name = "graft:energy"
  override def defaultParams: Map[String, Double] =
    Map("sensitivity" -> 40.0, "threshold" -> 3.0)
  def outputs: Seq[OutputDescriptor] = Seq(
    OutputDescriptor("detectionfunction", "Frame energy", OutputShape.CurveOSS, 1),
    OutputDescriptor("onsets", "Energy onsets", OutputShape.Instants, 0))

  def extract(seqs: DataFrame, spec: TransformSpec): DataFrame = {
    val (step, block, rate) = resolve(spec)
    val sens = spec.parameters.getOrElse("sensitivity", 40.0)
    val thr = spec.parameters.getOrElse("threshold", 3.0)
    // one array-local pass computes the energy curve (native FrameAgg
    // expression — the HOF chain is interpreted and ~100x slower);
    // onsets derive from the same array. PlanBarrier: without it the
    // explode's inferred size()>0 filter re-evaluates the frame loop
    // (guide §4.4 duplication — see the node's doc).
    val df = col("df")
    val withDf = graft.plans.PlanBarrier(seqs.select(col("doc_id"),
      graft.functions.FrameAgg.energy(col("tokens"), step, block,
        Some(Framing.taperCoefficients(spec.windowType, block).toSeq))
        .as("df")))
    // Both outputs come from ONE pass over the frames (a union of two
    // branches would scan the sequences and run the frame loop twice):
    // every frame emits its curve row, and an onset frame also emits its
    // onset row. Onset: frame energy exceeds threshold and the previous
    // frame by sensitivity%. Plain expressions, no lambdas, so the whole
    // chain compiles to code.
    val e = col("e")
    val isOnset = col("pos") >= 1 && e > thr &&
      e > get(df, col("pos") - 1) * (1.0 + sens / 100.0)
    val ts = posToNs(col("pos") * step, rate)
    val curve = featRow("detectionfunction", ts, lit(null).cast("long"),
      array(e.cast("float")), lit(""))
    val onset = featRow("onsets", ts, lit(null).cast("long"),
      array().cast("array<float>"), lit("onset"))
    withDf.select(col("doc_id"), df, posexplode(df).as(Seq("pos", "e")))
      .select(col("doc_id"),
        explode(when(isOnset, array(curve, onset)).otherwise(array(curve))).as("r"))
      .select(col("doc_id"), col("r.output"), col("r.ts"), col("r.duration"),
        col("r.values"), col("r.label"))
  }
}

/** Per-frame magnitude spectrum (the W3 frequency-domain adaptation:
  * the reference tapers each frame and FFTs it before FrequencyDomain
  * plugins see it — PluginInputDomainAdapter + ShiftData, so the
  * timestamp stays at the BLOCK START; FeatureExtractionManager.cpp:
  * 294-311). Token analog: real-DFT magnitudes of the tapered frame,
  * block/2+1 bins, computed by the native FrameSpectrum expression with
  * the taper folded into plan-time literal coefficient matrices (which
  * the DuckDB oracle embeds verbatim — gate q53). */
object SpectrumExtractor extends FeatureExtractor {
  val name = "graft:spectrum"
  // block/2+1 at the PREFERRED block of 16 — the pre-configuration
  // (--list/--skeleton) shape; [[outputsFor]] reports the configured
  // block's true count
  def outputs: Seq[OutputDescriptor] = Seq(
    OutputDescriptor("magnitude", "Per-frame DFT magnitude spectrum",
      OutputShape.GridOSS, preferredBlock / 2 + 1))

  override def outputsFor(spec: TransformSpec): Seq[OutputDescriptor] = {
    val (_, block, _) = resolve(spec)
    outputs.map(_.copy(binCount = block / 2 + 1))
  }

  /** Taper-folded DFT coefficient matrices — shared with the oracle
    * builder so both engines use the IDENTICAL double literals. */
  def dftCoefficients(shape: graft.model.WindowShape, block: Int)
      : (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    val w = Framing.taperCoefficients(shape, block)
    val bins = block / 2 + 1
    val cre = Seq.tabulate(bins, block)((k, j) =>
      w(j) * math.cos(2.0 * math.Pi * k * j / block))
    val cim = Seq.tabulate(bins, block)((k, j) =>
      -w(j) * math.sin(2.0 * math.Pi * k * j / block))
    (cre, cim)
  }

  def extract(seqs: DataFrame, spec: TransformSpec): DataFrame = {
    val (step, block, rate) = resolve(spec)
    val (cre, cim) = dftCoefficients(spec.windowType, block)
    graft.plans.PlanBarrier(seqs
      .select(col("doc_id"),
        graft.functions.FrameSpectrum.spectrum(col("tokens"), step, block,
          cre, cim).as("spec")))
      .select(col("doc_id"), posexplode(col("spec")))
      .select(col("doc_id"), lit("magnitude").as("output"),
        posToNs(col("pos") * step, rate).as("ts"), // ShiftData: block start
        lit(null).cast("long").as("duration"),
        col("col").as("values"),
        lit("").as("label"))
  }
}

/** Maximal runs of identical tokens as (ts, duration, value, label)
  * interval rows — the notes-regions analog. Run-length encoding is
  * array-local (boundary-index HOF), no per-token shuffle. */
object RegionsExtractor extends FeatureExtractor {
  val name = "graft:regions"
  override def defaultParams: Map[String, Double] = Map("min_run" -> 2.0)
  def outputs: Seq[OutputDescriptor] = Seq(
    OutputDescriptor("regions", "Equal-token runs", OutputShape.NotesRegions, 1))

  def extract(seqs: DataFrame, spec: TransformSpec): DataFrame = {
    val (_, _, rate) = resolve(spec)
    val minRun = spec.parameters.getOrElse("min_run", 2.0).toInt
    // starts[i] = positions where a new run begins (0 or token != prev).
    // PlanBarrier before the explode: the inferred size()>0 filter would
    // otherwise re-evaluate the whole interpreted HOF chain per row.
    val withRuns = graft.plans.PlanBarrier(seqs
      .where(col("n_tok") > 0) // sequence(0, -1) would be descending
      .withColumn("starts",
        // when() rather than ||: ANSI element_at(tokens, 0) would throw and
        // Catalyst's Or short-circuit is an implementation detail
        filter(sequence(lit(0), col("n_tok") - 1), i =>
          when(i === 0, lit(true)).otherwise(
            element_at(col("tokens"), i + 1) =!= element_at(col("tokens"), i))))
      .select(col("doc_id"), col("tokens"),
        zip_with(col("starts"),
          concat(slice(col("starts"), lit(2), size(col("starts"))),
            array(col("n_tok"))),
          (s, e) => struct(s.as("s"), (e - s).as("len"))).as("runs")))
      .select(col("doc_id"), explode(col("runs")).as("r"),
        col("tokens"))
      .where(col("r.len") >= minRun)
    withRuns.select(col("doc_id"), lit("regions").as("output"),
      posToNs(col("r.s"), rate).as("ts"),
      posToNs(col("r.len"), rate).as("duration"),
      array(element_at(col("tokens"), col("r.s") + 1).cast("float")).as("values"),
      concat(lit("run:"), element_at(col("tokens"), col("r.s") + 1)).as("label"))
  }
}

/** Marker-token instants (the "3 clicks" analog: positions of the click
  * token; golden analog tests/test-transforms-basic/expected/
  * percussiononsets.csv:1-3). */
object ClicksExtractor extends FeatureExtractor {
  val name = "graft:clicks"
  override def defaultParams: Map[String, Double] =
    Map("marker" -> SequenceGen.ClickToken.toDouble)
  def outputs: Seq[OutputDescriptor] = Seq(
    OutputDescriptor("clicks", "Marker-token instants", OutputShape.Instants, 0))

  def extract(seqs: DataFrame, spec: TransformSpec): DataFrame = {
    val (_, _, rate) = resolve(spec)
    val marker = spec.parameters.getOrElse("marker",
      SequenceGen.ClickToken.toDouble).toInt
    graft.plans.PlanBarrier(seqs
      .where(col("n_tok") > 0)
      .select(col("doc_id"),
        filter(sequence(lit(0), col("n_tok") - 1), i =>
          element_at(col("tokens"), i + 1) === marker).as("hits")))
      .select(col("doc_id"), explode(col("hits")).as("p"))
      .select(col("doc_id"), lit("clicks").as("output"),
        posToNs(col("p"), rate).as("ts"),
        lit(null).cast("long").as("duration"),
        array().cast("array<float>").as("values"),
        lit("click").as("label"))
  }
}

/** Sparse token change-point curve on a FIXED output sample rate
  * (OutputShape.CurveFSR): one feature wherever the token value changes,
  * its explicit source timestamp SNAPPED to the output grid via
  * Framing.snapToGrid — the reference's FixedSampleRate timing rule
  * ("0.3 at 0.333 snap to 0.4", tests/test-vamp-test-plugin/expected/
  * vamp-test-plugin-curve-fsr-timed.csv:1-10), exercised end-to-end
  * rather than only at the unit level (round-1 gap W4). Map-only:
  * array-local change detection, no shuffle. */
object ChangepointsExtractor extends FeatureExtractor {
  val name = "graft:changepoints"
  override def defaultParams: Map[String, Double] = Map("out_rate" -> 2.5)
  def outputs: Seq[OutputDescriptor] = Seq(
    OutputDescriptor("changecurve", "Token change-points on the fixed grid",
      OutputShape.CurveFSR, 1, sampleRate = 2.5))

  def extract(seqs: DataFrame, spec: TransformSpec): DataFrame = {
    val (_, _, rate) = resolve(spec)
    val outRate = spec.parameters.getOrElse("out_rate", 2.5)
    graft.plans.PlanBarrier(seqs
      .where(col("n_tok") > 0)
      .select(col("doc_id"), col("tokens"),
        filter(sequence(lit(0), col("n_tok") - 1), i =>
          (i === 0) ||
            element_at(col("tokens"), i + 1) =!= element_at(col("tokens"), i))
          .as("hits")))
      .select(col("doc_id"), col("tokens"), explode(col("hits")).as("i"))
      .select(col("doc_id"), lit("changecurve").as("output"),
        graft.frames.Framing.snapToGrid(posToNs(col("i"), rate), outRate).as("ts"),
        lit(null).cast("long").as("duration"),
        array(element_at(col("tokens"), col("i") + 1).cast("float")).as("values"),
        lit("").as("label"))
  }
}

package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{SummaryType, TransformSpec}
import graft.operators.Windows
import graft.summaries.{Summaries, VectorSummaries}

/** Plan builder: compiles a batch of TransformSpecs over a sequences table
  * into ONE Spark DAG, reproducing the reference's two design-time
  * optimizations (SURVEY.md §4.1) natively:
  *
  *   1. Shared scan, multi-consumer: all transforms of a batch read the
  *      sequences table once.
  *   2. Plugin-instance sharing ("a vital optimisation",
  *      /root/reference/runner/FeatureExtractionManager.cpp:227-258):
  *      transforms equal up to output/summary share ONE extraction pass.
  *      Catalyst does not CSE across union branches, so we do what the
  *      reference does: key extraction on spec.sharingKey, run each
  *      extractor once, then fan the rows out to transforms with a
  *      broadcast join against the tiny (output -> transform) spec table —
  *      a map-side operation, not a second pass.
  *   3. Stream sharing for summaries: one plugin instance computes every
  *      requested summary of its output (FeatureExtractionManager.cpp:
  *      998-1011); [[summarize]] reduces each stream once, not once per
  *      requested summary type.
  *
  * Output: feature rows
  *   (doc_id, transform_id, output, ts, duration, values, label)
  * ordered deterministically at sink time (reference ordered-plugin rule,
  * FeatureExtractionManager.h:100-108).
  */
object Engine {

  val registry: Map[String, FeatureExtractor] =
    Seq(HistogramExtractor, EnergyExtractor, RegionsExtractor, ClicksExtractor,
      ChangepointsExtractor, SpectrumExtractor)
      .map(e => e.name -> e).toMap

  /** Enumerate available extractors (the reference's --list,
    * runner/main.cpp:437-453). */
  def list: Seq[String] =
    registry.values.toSeq.sortBy(_.name).flatMap(e =>
      e.outputs.map(o => s"${e.name}:${o.identifier}"))

  /** The registered extractor named `plugin`; unknown names fail. */
  def extractor(plugin: String): FeatureExtractor = registry.getOrElse(plugin,
    throw new IllegalArgumentException(
      s"unknown plugin: $plugin (available: ${registry.keys.toSeq.sorted.mkString(", ")})"))

  /** Run a batch of transforms; one DAG, shared extraction passes. */
  def run(sequences: DataFrame, specs: Seq[TransformSpec]): DataFrame = {
    require(specs.nonEmpty, "no transforms")
    val spark = sequences.sparkSession
    val bySharing = specs.groupBy(_.sharingKey).toSeq
      // deterministic plan order (reference ordered-transform rule)
      .sortBy(_._2.map(_.id).min)

    val parts = bySharing.map { case (key, group) =>
      val ex = extractor(key.plugin)
      val rows = ex.extract(sequences, group.head)
      // fan out to the transforms sharing this pass: tiny broadcast join on
      // output, then the per-transform time-range filter (P2).
      val consumers = group.map { spec =>
        val out = if (spec.output.nonEmpty) spec.output
          else ex.outputs.head.identifier
        require(ex.outputs.exists(_.identifier == out),
          s"plugin ${ex.name} has no output '$out'")
        val endNs = if (spec.duration > 0) spec.start + spec.duration else Long.MaxValue
        (spec.id, out, spec.start, endNs)
      }
      val specTable = spark.createDataFrame(consumers)
        .toDF("transform_id", "output", "start_ns", "end_ns")
      // LITERAL pre-filter on the consumed outputs: extractors emit ALL
      // their outputs in one union, and the broadcast spec join drops the
      // unconsumed ones only at RUNTIME — the literal isin folds to false
      // inside dead union branches, so Catalyst prunes them at plan time
      // (a single-output transform no longer pays the other outputs'
      // extraction work). Outputs that one pass emits together (energy's
      // curve and onsets) are filtered at runtime instead. The join below
      // makes it semantically a no-op.
      val consumed = consumers.map(_._2).distinct
      rows.where(col("output").isin(consumed: _*))
        .join(broadcast(specTable), Seq("output"))
        .where(col("ts") >= col("start_ns") && col("ts") < col("end_ns"))
        .select(col("doc_id"), col("transform_id"), col("output"),
          col("ts"), col("duration"), col("values"), col("label"))
    }
    parts.reduce(_.unionByName(_))
  }

  /** Continuous-time summaries for the specs that request one
    * (vamp:summary_type), over feature rows from [[run]]. Vector-aware
    * (per-bin reducers); optional fixed segment boundaries (ns) for
    * `--segments` semantics. Summary row layout mirrors FIXTURES.md §4:
    * (doc_id, transform_id, seg_start_ns, seg_duration_ns, summary_name,
    *  values: array<double>, label).
    *
    * Stream sharing: transforms whose specs are equal apart from `id` and
    * `summaryType` read identical rows from [[run]] (same sharing pass,
    * output and time range), so they form ONE stream. Each stream is
    * spanned and reduced once, under its smallest summarizing id, with
    * the union of its requested reducers; the finished rows then fan out
    * to every requesting id. Contract: `features` holds [[run]]'s rows
    * for `specs` — rows that differ between two ids of one stream are
    * summarized from the representative's rows only. */
  def summarize(
      features: DataFrame,
      specs: Seq[TransformSpec],
      boundaries: Seq[Long] = Nil,
      inputEnds: Option[DataFrame] = None): DataFrame = {
    val spark = features.sparkSession
    val wanted = specs.flatMap(s => s.summaryType.map(t => s.id -> t)).distinct
    require(wanted.nonEmpty, "no transform requests a summary")
    // the broadcast typeTable JOIN below fans out per matching row:
    // one transform id carrying TWO different summary types would emit
    // each group twice under conflicting names — reject it loudly
    // (duplicate (id, type) entries are deduped above; the reference's
    // transform model binds at most one summary_type per transform)
    require(wanted.map(_._1).distinct.size == wanted.size,
      "duplicate transform id with conflicting summary types: " +
        wanted.groupBy(_._1).filter(_._2.size > 1).keys.mkString(", "))
    val types = wanted.map(_._2).toSet

    // An id's rows are fixed by the multiset of its specs up to id and
    // summary type, so ids with equal multisets are one stream. Copies'
    // rows are dropped before the span windows; rows of transforms that
    // request no summary stay, as they still set the entity's last end.
    val streamOf = specs.groupBy(_.id).view.mapValues(
      _.groupMapReduce(_.copy(id = "", summaryType = None))(_ => 1)(_ + _)).toMap
    val repOf = wanted.map(_._1).groupBy(streamOf).values
      .flatMap(ids => ids.map(_ -> ids.min)).toMap
    val reps = repOf.values.toSeq.distinct
    val copies = repOf.collect { case (id, rep) if id != rep => id }.toSeq
    val streams =
      if (copies.isEmpty) features
      else features.where(!col("transform_id").isin(copies: _*))

    // Optional (doc_id, transform_id, input_end_ns): the reference rule
    // says the FINAL durationless feature extends to the END OF THE
    // INPUT; without it the last span is 0 (and a single-feature doc
    // would summarize to null). The CLI derives it from n_tok; callers
    // that only have the feature table get the last-ending-output rule.
    val featForSpans = inputEnds match {
      case Some(ie) => streams.join(ie, Seq("doc_id", "transform_id"), "left")
      case None => streams
    }
    val spanned0 = Summaries.withSpans(
      featForSpans, "doc_id", Some("transform_id"), "ts", Some("duration"),
      inputEnd = inputEnds.map(_ => col("input_end_ns")))
      .drop("input_end_ns")
    val spanned = if (boundaries.nonEmpty)
      Windows.segment(spanned0, "ts", boundaries)
    else spanned0.withColumn("seg_start", lit(0L))

    // ONE aggregate over the spanned rows, evaluated once: only the
    // requested reducers (a mean/count request must not pay the
    // median/mode value-map aggregator's state + merges) see the valued
    // rows, while the segment end takes every row; a group without
    // values (an instants output) emits no row.
    val wide = VectorSummaries.summarizeVector(
      spanned.where(col("transform_id").isin(reps: _*))
        .withColumn("values", when(size(col("values")) > 0, col("values"))),
      Seq("doc_id", "transform_id", "seg_start"), "values", types = types,
      extra = Seq("seg_end" -> max(col("w_end")), "valued" -> count(col("values"))))
      .where(col("valued") > 0)

    // Fan-out without a per-type union: route each stream's rows through a
    // broadcast (representative -> transform_id, summary) lookup and
    // select the value array with ONE CASE over the requested types. The
    // vector Aggregator then executes exactly once per group — the
    // reference's one-pass multi-summary ("a vital optimisation",
    // FeatureExtractionManager.cpp:229-232, 998-1011).
    def valueOf(t: SummaryType): Column = t match {
      case SummaryType.Count => array(col("count").cast("double"))
      case other => col(other.name)
    }
    val typeTable = spark.createDataFrame(
      wanted.map { case (id, t) => (repOf(id), id, t.name, t.label) })
      .toDF("rep", "transform_id", "summary_name", "label")
    val branches = types.toSeq.sortBy(_.name)
    val valueCol = branches.tail
      .foldLeft(when(col("summary_name") === branches.head.name, valueOf(branches.head))) {
        (acc, t) => acc.when(col("summary_name") === t.name, valueOf(t))
      }
    wide.withColumnRenamed("transform_id", "rep")
      .join(broadcast(typeTable), Seq("rep"))
      .select(col("doc_id"), col("transform_id"),
        col("seg_start").as("seg_start_ns"),
        (col("seg_end") - col("seg_start")).as("seg_duration_ns"),
        col("summary_name"),
        valueCol.as("values"),
        col("label"))
  }
}

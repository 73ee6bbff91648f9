package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.TransformSpec

/** JAMS-style JSON writer (K3 in SURVEY.md §2.1; reference
  * /root/reference/runner/JAMSFeatureWriter.cpp:102-326, golden matrix
  * tests/test-jams-writer/expected/<shape>.json): one JSON document per
  * (doc, transform) mirroring the reference's field structure:
  *
  *   file_metadata: jams_version, identifiers.filename, duration (sec)
  *   annotations[0]: namespace "unknown";
  *     annotation_metadata.annotator: plugin_id, output_id, step_size,
  *       block_size, sample_rate, parameters, transform_id;
  *     data[]: { time, duration, confidence, [label,] value }
  *
  * Per-shape value rules pinned by the reference goldens:
  *   - 0-bin outputs (instants): the LABEL becomes the value string and no
  *     label key is emitted (expected/instants.json:27-36)
  *   - 1-bin outputs: scalar value, label key when a label exists
  *     (expected/curve-fsr.json:27, notes-regions.json:27 with duration)
  *   - n-bin outputs: value is the array (expected/grid-oss.json:27)
  *   - times/durations at 9 decimals; absent duration prints 0.0;
  *     confidence is always 1.0; NaN/Inf feature values become the
  *     strings "NaN"/"Inf" (JAMSFeatureWriter.cpp:177-181); value digits
  *     follow the writer's digits option (expected/af-{0,2,6}.json)
  *
  * Emitted as JSONL (one document per line) — the cluster-friendly layout;
  * a driver-side pretty print is trivial for small outputs.
  */
object JsonSink {

  /** minimal JSON string escaping for label text. */
  private def esc(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")

  private def escS(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Driver-side annotator block for one transform (tiny, one per spec).
    * step/block/sample_rate are emitted when configured — the reference
    * prints the transform's effective values; the CLI passes resolved
    * specs. `pluginVersion` is emitted when the caller's extractor
    * exposes one (the reference goldens carry it,
    * expected/curve-fsr.json:16; the CLI passes the registry's version —
    * ADVICE r4). */
  def annotatorJson(s: TransformSpec, pluginVersion: Option[String] = None): String = {
    def num(d: Double): String = CsvSink.gFormatValue(d, 6)
    val fields = Seq(
      Some(s"""\"plugin_id\": \"${escS(s.plugin)}\""""),
      if (s.output.nonEmpty) Some(s"""\"output_id\": \"${escS(s.output)}\"""") else None,
      pluginVersion.map(v => s"""\"plugin_version\": \"${escS(v)}\""""),
      if (s.stepSize > 0) Some(s"""\"step_size\": ${s.stepSize}""") else None,
      if (s.blockSize > 0) Some(s"""\"block_size\": ${s.blockSize}""") else None,
      if (s.sampleRate > 0) Some(s"""\"sample_rate\": ${num(s.sampleRate)}""") else None,
      if (s.parameters.nonEmpty)
        Some(s.parameters.toSeq.sortBy(_._1)
          .map { case (k, v) => s"""\"${escS(k)}\": ${num(v)}""" }
          .mkString("\"parameters\": { ", ", ", " }"))
      else None,
      Some(s"""\"transform_id\": \"${escS(s.id)}\"""")).flatten
    fields.mkString("{ ", ", ", " }")
  }

  /** features: (doc_id, transform_id, ts, duration, values, label).
    * Observations are assembled as raw JSON fragments so NaN/Inf become
    * STRINGS while finite values stay numbers (mixed-type arrays are not
    * expressible through to_json).
    *
    * `inputEnds` (doc_id, transform_id, input_end_ns) feeds
    * file_metadata.duration (the reference reports the input's duration);
    * without it the group's last-ending feature is used. */
  def toJams(
      features: DataFrame,
      specs: Seq[TransformSpec] = Nil,
      digits: Int = 6,
      inputEnds: Option[DataFrame] = None,
      versions: Map[String, String] = Map.empty): DataFrame = {
    val g = CsvSink.gFormat(digits)
    def jn(v: Column): Column =
      when(isnan(v), lit("\"NaN\""))
        .when(v === Float.PositiveInfinity, lit("\"Inf\""))
        .when(v === Float.NegativeInfinity, lit("\"-Inf\""))
        .otherwise(g(v))
    val valueCol = when(size(col("values")) === 0,
        concat(lit("\""), esc(col("label")), lit("\"")))
      .when(size(col("values")) === 1, jn(element_at(col("values"), 1)))
      .otherwise(concat(lit("[ "),
        array_join(transform(col("values"), v => jn(v)), ", "), lit(" ]")))
    val labelPart = when(size(col("values")) > 0 && length(col("label")) > 0,
      concat(lit("\"label\": \""), esc(col("label")), lit("\", ")))
      .otherwise(lit(""))
    val durPart = when(col("duration").isNotNull, CsvSink.secs9(col("duration")))
      .otherwise(lit("0.0"))
    val obs = concat(
      lit("{ \"time\": "), CsvSink.secs9(col("ts")),
      lit(", \"duration\": "), durPart,
      lit(", \"confidence\": 1.0, "), labelPart,
      lit("\"value\": "), valueCol, lit(" }"))

    // tiny per-transform annotator lookup: a literal map, no join
    val fallbackAnn = concat(lit("{ \"transform_id\": \""),
      esc(col("transform_id")), lit("\" }"))
    val annJson: Column =
      if (specs.isEmpty) fallbackAnn
      else coalesce(
        element_at(
          map(specs.flatMap(s =>
            Seq(lit(s.id), lit(annotatorJson(s, versions.get(s.id))))): _*),
          col("transform_id")),
        fallbackAnn)

    val withEnd = inputEnds match {
      case Some(ie) => features.join(ie, Seq("doc_id", "transform_id"), "left")
      case None => features.withColumn("input_end_ns", lit(null).cast("long"))
    }
    withEnd
      .groupBy(col("doc_id"), col("transform_id"))
      .agg(sort_array(collect_list(struct(col("ts"), obs.as("o")))).as("rows"),
        max(greatest(coalesce(col("input_end_ns"), lit(0L)),
          col("ts") + coalesce(col("duration"), lit(0L)))).as("end_ns"))
      .select(col("doc_id"), col("transform_id"),
        concat(
          lit("{ \"file_metadata\": { \"jams_version\": \"0.2.0\", " +
            "\"identifiers\": { \"filename\": \""),
          esc(col("doc_id")),
          lit("\" }, \"duration\": "), CsvSink.secs9(col("end_ns")),
          lit(" }, \"annotations\": [ { \"namespace\": \"unknown\", " +
            "\"annotation_metadata\": { \"annotation_tools\": \"Graft\", " +
            "\"data_source\": \"Automatic feature extraction\", " +
            "\"annotator\": "),
          annJson,
          lit(" }, \"data\": [ "),
          array_join(transform(col("rows"), r => r("o")), ", "),
          lit(" ] } ] }")).as("jams"))
  }
}

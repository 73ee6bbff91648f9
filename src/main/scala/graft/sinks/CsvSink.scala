package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.TransformSpec
import graft.operators.Windows

/** CSV feature/summary writer reproducing the reference's column layout and
  * option matrix (K1/K2 in SURVEY.md §2.1; option semantics exercised by
  * /root/reference/tests/test-csv-writer/test-csv-writer.sh:10-100):
  *
  *   [file,] ts, [duration|end,] value..., "label"            (features)
  *   [file,] segStart, segDuration, summaryName, value..., "label"  (summaries)
  *
  * - seconds printed with 9 decimals (integer-exact from ns, the reference
  *   fixed a 1ns float bug — CHANGELOG:47-48)
  * - values g-format with `digits` significant digits (default 6,
  *   LabFeatureWriter.cpp:63-64,186)
  * - filename column quoted and only on the first row of each doc
  *   (goldens tests/test-summaries/expected/summaries.csv:1-2)
  * - end-times: duration column becomes ts+duration; fill-ends:
  *   durationless rows get end = next row's ts, last row = own ts
  * - sample-timing: integer positions instead of seconds
  *
  * Formatting is fully distributed (window + projection); where the lines
  * land, and whether they may replace a file, is [[Output]]'s. Formatting
  * NEVER leaks into the compute path (SURVEY.md §7.4).
  */
object CsvSink {

  case class Options(
      separator: String = ",",
      omitFilename: Boolean = false,
      endTimes: Boolean = false,
      fillEnds: Boolean = false,
      sampleTiming: Boolean = false,
      digits: Int = 6,
      force: Boolean = false,
      append: Boolean = false) {
    def policy: Output.Policy = Output.Policy(force, append)
  }

  /** C `%g` semantics for one double (shared by the UDF and tests).
    * Java's `%.Ng` keeps trailing mantissa zeros ("1.00000e+07") where C
    * trims them ("1e+07") — mismatch on every value ≥ 1e6 or < 1e-4
    * against the reference CSV goldens (round-1 advice). */
  def gFormatValue(d: Double, digits: Int): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "Inf" else "-Inf"
    val s = String.format(s"%.${digits}g", java.lang.Double.valueOf(d))
    def trimFrac(m: String): String =
      if (m.contains('.')) m.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else m
    val eIdx = s.indexWhere(ch => ch == 'e' || ch == 'E')
    if (eIdx >= 0) {
      // trim the mantissa like C; keep the e+NN exponent form (C prints
      // at least two exponent digits, as Java does)
      trimFrac(s.substring(0, eIdx)) + s.substring(eIdx)
    } else trimFrac(s)
  }

  /** %g-style significant-digit formatter (sink-side only). Native
    * codegen'd expression (graft.functions.GFormat) — formatting stays
    * inside whole-stage codegen; round 1 used a Scala UDF here, the one
    * UDF in the repo, which forced a row encode/decode per value. */
  def gFormat(digits: Int): Column => Column = c =>
    coalesce(graft.functions.GFormat.format(c, digits), lit(""))

  /** integer-exact seconds with 9 decimals from a ns column (Spark's `/`
    * is fractional division even on longs — use floor). */
  def secs9(ns: Column): Column =
    format_string("%d.%09d",
      floor(ns.cast("long") / 1000000000L).cast("long"),
      pmod(ns.cast("long"), lit(1000000000L)))

  /** Format feature rows (doc_id, transform_id, ts, duration, values,
    * label) into one `line` string column + ordering keys. `rates` maps
    * transform id -> positions/sec for sample-timing; a transform absent
    * from it runs at [[TransformSpec.DefaultRate]]. */
  def formatFeatures(features: DataFrame, opts: Options,
      rates: Map[String, Double] = Map.empty): DataFrame = {
    // the doc name opens each (doc, transform) block: a per-block window
    // (no single-transform funnel), the same partitioning and order as
    // the fill-ends `lead`, so with fill-ends both share one exchange
    // and one sort
    val w = Window.partitionBy(col("transform_id"), col("doc_id")).orderBy(col("ts"))
    val sep = opts.separator
    val g = gFormat(opts.digits)

    // sample-timing positions at each transform's rate
    val rate = coalesce(element_at(typedLit(rates), col("transform_id")),
      lit(TransformSpec.DefaultRate))
    def pos(ns: Column): Column = (ns.cast("double") * rate / 1e9).cast("long").cast("string")
    val tsOut: Column = if (opts.sampleTiming) pos(col("ts")) else secs9(col("ts"))

    // end/duration column per the option matrix; fill-ends reads the
    // `end_ts` that Windows.fillEnds appends below
    val fillEnds = opts.fillEnds && !opts.endTimes
    val endCol: Option[Column] =
      if (opts.endTimes)
        Some(when(col("duration").isNotNull,
          if (opts.sampleTiming) pos(col("ts") + col("duration"))
          else secs9(col("ts") + col("duration"))))
      else if (fillEnds)
        Some(if (opts.sampleTiming) pos(col("end_ts")) else secs9(col("end_ts")))
      else
        Some(when(col("duration").isNotNull,
          if (opts.sampleTiming) pos(col("duration")) else secs9(col("duration"))))

    val fileCol: Option[Column] =
      if (opts.omitFilename) None
      else Some(when(row_number().over(w) === 1,
        concat(lit("\""), col("doc_id"), lit("\""))).otherwise(lit("")))

    // Build the line CONDITIONALLY per optional slot instead of post-hoc
    // collapsing of repeated separators: the old `sep{2,} -> sep` regex
    // also merged legitimately empty fields INSIDE the values array (null
    // values format to ""), silently shifting later columns relative to
    // the reference layout (round-1 advice). The optional slots are:
    //   - duration/end: dropped when the row has no duration (golden
    //     tests/test-transforms-basic/expected/percussiononsets.csv:1-3)
    //     — except fill-ends, which always emits an end
    //   - values: dropped when the array is empty (instants shapes)
    //   - label: dropped when empty
    // The LEADING filename slot keeps its separator on repeat rows
    // (",0.016,…" — goldens tests/test-summaries/expected/summaries.csv).
    def opt(piece: Column): Column = // prepend sep when present, else ""
      coalesce(concat(lit(sep), piece), lit(""))
    val valuesPiece = when(size(col("values")) > 0,
      concat(lit(sep), array_join(transform(col("values"), v => g(v)), sep)))
    val labelPiece = when(length(col("label")) > 0,
      concat(lit(sep), lit("\""), col("label"), lit("\"")))
    // filename slot: absent entirely under omitFilename; otherwise the
    // (possibly empty) quoted doc id plus its separator
    val fileStart: Column =
      fileCol.map(f => concat(coalesce(f, lit("")), lit(sep))).getOrElse(lit(""))

    val line = concat(
      Seq(fileStart, tsOut) ++
        endCol.map(opt).toSeq ++
        Seq(coalesce(valuesPiece, lit("")), coalesce(labelPiece, lit(""))): _*)
    val timed =
      if (fillEnds)
        Windows.fillEnds(features, Seq("transform_id", "doc_id"), "ts", Some("duration"))
      else features
    timed
      .withColumn("line", line)
      .select(col("doc_id"), col("transform_id"), col("ts"), col("line"))
  }

  /** Format summary rows from Engine.summarize. */
  def formatSummaries(summaries: DataFrame, opts: Options): DataFrame = {
    val sep = opts.separator
    // the doc name opens each (doc, transform) block; partitioning by doc
    // too reuses the summaries' doc_id partitioning (no extra exchange)
    val w = Window.partitionBy(col("transform_id"), col("doc_id"))
      .orderBy(col("seg_start_ns"), col("summary_name"))
    val g = gFormat(opts.digits)
    val fileCol =
      if (opts.omitFilename) lit(null).cast("string")
      else when(row_number().over(w) === 1,
        concat(lit("\""), col("doc_id"), lit("\""))).otherwise(lit(""))
    val pieces: Seq[Column] = (if (opts.omitFilename) Nil else Seq(fileCol)) ++ Seq(
      secs9(col("seg_start_ns")),
      secs9(col("seg_duration_ns")),
      col("summary_name"),
      array_join(transform(col("values"), v => g(v.cast("float"))), sep),
      concat(lit("\""), col("label"), lit("\"")))
    summaries.withColumn("line",
      concat_ws(sep, pieces.map(p => coalesce(p, lit(""))): _*))
      .select(col("doc_id"), col("transform_id"),
        col("seg_start_ns").as("ts"), col("line"))
  }

  /** One csv file of formatted lines (the reference --csv-one-file):
    * [[Output.oneFile]] under these options' force/append, for callers
    * holding CSV options (perfbench's sink layer, the sink tests). */
  def writeOneFile(lines: DataFrame, path: String, opts: Options): Unit =
    Output.oneFile(lines, path, opts.policy)

  /** One (key, name, body) row per (doc, transform) for
    * [[Output.filePerKey]]: `<doc>_<transform ':'->'_'>.csv` (K8 naming,
    * tests/test-csv-destinations/test-csv-destinations.sh:8-17) holding
    * the block's lines in ts order. */
  def trackFiles(lines: DataFrame): DataFrame =
    lines.groupBy(col("doc_id"), col("transform_id"))
      .agg(encode(concat(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("line")))), s => s("line")), "\n"),
        lit("\n")), "UTF-8").as("body"))
      .select(
        concat(lit("doc "), col("doc_id"), lit(" transform "), col("transform_id")).as("key"),
        concat(col("doc_id"), lit("_"), translate(col("transform_id"), ":", "_"), lit(".csv"))
          .as("name"),
        col("body"))
}

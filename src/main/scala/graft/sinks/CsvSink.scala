package graft.sinks

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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
  * Formatting is fully distributed (window + projection); only file moves
  * happen on the driver. Formatting NEVER leaks into the compute path
  * (SURVEY.md §7.4).
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
      append: Boolean = false,
      rate: Double = 1000.0, // positions/sec, for sample-timing
      distributedFiles: Boolean = false) // per-track tier: executor-direct

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
    * label) into one `line` string column + ordering keys. */
  def formatFeatures(features: DataFrame, opts: Options): DataFrame = {
    // the doc name opens each (doc, transform) block: a per-block window
    // (no single-transform funnel), the same partitioning and order as
    // the fill-ends `lead`, so with fill-ends both share one exchange
    // and one sort
    val w = Window.partitionBy(col("transform_id"), col("doc_id")).orderBy(col("ts"))
    val sep = opts.separator
    val g = gFormat(opts.digits)

    val tsOut: Column =
      if (opts.sampleTiming)
        (col("ts").cast("double") * opts.rate / 1e9).cast("long").cast("string")
      else secs9(col("ts"))

    // end/duration column per the option matrix; fill-ends reads the
    // `end_ts` that Windows.fillEnds appends below
    val fillEnds = opts.fillEnds && !opts.endTimes
    val endCol: Option[Column] =
      if (opts.endTimes)
        Some(when(col("duration").isNotNull,
          if (opts.sampleTiming)
            ((col("ts") + col("duration")).cast("double") * opts.rate / 1e9)
              .cast("long").cast("string")
          else secs9(col("ts") + col("duration"))))
      else if (fillEnds)
        Some(if (opts.sampleTiming)
          (col("end_ts").cast("double") * opts.rate / 1e9).cast("long").cast("string")
        else secs9(col("end_ts")))
      else
        Some(when(col("duration").isNotNull,
          if (opts.sampleTiming)
            (col("duration").cast("double") * opts.rate / 1e9).cast("long").cast("string")
          else secs9(col("duration"))))

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

  /** Write formatted lines as ONE csv file (the reference --csv-one-file):
    * deterministic global order (doc, transform, ts), single part file
    * moved to `path`. Refuses to overwrite unless force/append (K8).
    *
    * The lines are gathered into one partition and sorted there: the
    * upstream stages keep their parallelism up to the single-partition
    * exchange, and the input is evaluated once. A global `orderBy` would
    * add a range-partitioner sampling job that evaluates the whole input
    * a second time, only to pick boundaries for partitions that are then
    * coalesced into one. */
  def writeOneFile(lines: DataFrame, path: String, opts: Options): Unit = {
    val target = Paths.get(path)
    if (Files.exists(target) && !opts.force && !opts.append)
      throw new IllegalStateException(
        s"output $path exists (use force/append)") // K8 overwrite policy
    val tmp = path + ".__graft_tmp"
    lines.select(col("doc_id"), col("transform_id"), col("ts"), col("line"))
      .repartition(1)
      .sortWithinPartitions(col("doc_id"), col("transform_id"), col("ts"))
      .select(col("line"))
      .write.mode("overwrite").text(tmp)
    val src = Using.resource(Files.list(Paths.get(tmp))) {
      _.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).orNull
    }
    if (opts.append && Files.exists(target)) {
      val prev = Files.readAllBytes(target)
      val add = if (src == null) Array.empty[Byte] else Files.readAllBytes(src)
      Files.write(target, prev ++ add)
    } else if (src == null) {
      Files.write(target, Array.empty[Byte])
    } else {
      Files.createDirectories(target.toAbsolutePath.getParent)
      Files.move(src, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // clean tmp
    Using.resource(Files.walk(Paths.get(tmp))) {
      _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    }
  }

  /** Per-(doc, transform) files named `<doc>_<transform ':'->'_'>.csv`
    * (K8 naming, tests/test-csv-destinations/test-csv-destinations.sh:8-17).
    * Pre-flight existence validation before any extraction output is
    * written (K9 fail-fast, FeatureExtractionManager.cpp:1119-1134).
    *
    * O(1) Spark jobs, O(one file) driver memory: lines aggregate to one
    * (doc, transform, content) row per output file (sorted inside the
    * aggregation) and the grouped table is persisted; job 1 collects
    * ONLY the (doc, transform) name pairs for the K9 pre-flight; job 2
    * streams contents with toLocalIterator, so the driver holds one
    * file's content at a time — never the whole output set. Round 1
    * launched one job + collect PER pair (10k tracks = 10k jobs); the
    * first round-2 cut collected every file's content at once (10k
    * tracks x 10 MB = a 100 GB driver peak). */
  def writePerTrack(lines: DataFrame, basedir: String, opts: Options): Seq[String] = {
    Files.createDirectories(Paths.get(basedir))
    val grouped = lines
      .groupBy(col("doc_id"), col("transform_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("line")))),
          s => s("line")),
        "\n").as("content"))
      .persist()
    def fileFor(doc: String, tr: String) =
      Paths.get(basedir, s"${doc}_${tr.replace(':', '_')}.csv")
    try {
      // K9: validate ALL destinations before writing any (names only)
      grouped.select(col("doc_id"), col("transform_id")).collect()
        .foreach { r =>
          val f = fileFor(r.getString(0), r.getString(1))
          if (Files.exists(f) && !opts.force && !opts.append)
            throw new IllegalStateException(s"output $f exists (use force/append)")
        }
      val written = scala.collection.mutable.ListBuffer.empty[String]
      grouped.toLocalIterator().forEachRemaining { r =>
        val f = fileFor(r.getString(0), r.getString(1))
        val body = r.getString(2) + "\n"
        if (opts.append && Files.exists(f))
          Files.writeString(f, body, java.nio.file.StandardOpenOption.APPEND)
        else Files.writeString(f, body)
        written += f.toString
      }
      written.sorted.toSeq
    } finally grouped.unpersist()
  }

  /** Large-corpus tier of [[writePerTrack]] (>10^4 output files): files
    * are written DIRECTLY from executor tasks (foreachPartition + the
    * Hadoop FileSystem API, so any task-visible FS — local, NFS, HDFS —
    * works), and neither file contents nor even the file-NAME list ever
    * materializes on the driver; at 10^7 files the default tier's
    * toLocalIterator stream and its names-only K9 collect both become
    * driver bottlenecks. The K9 pre-flight is likewise distributed: each
    * task probes existence for its own groups and the driver receives at
    * most ONE conflicting name. Task-retry safe: a re-executed task
    * rewrites the same files with the same bytes (per-file overwrite is
    * idempotent). --append is not supported in this tier (distributed
    * append to shared files is not coordinatable); the default tier
    * remains the right choice for small outputs (single writer, ordered
    * name list returned). Returns the file count. */
  def writePerTrackDistributed(lines: DataFrame, basedir: String,
      opts: Options): Long = {
    require(!opts.append,
      "--append is not supported by the distributed per-track tier")
    val spark = lines.sparkSession
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(basedir)
    val baseFs = basePath.getFileSystem(hconf)
    baseFs.mkdirs(basePath)
    val base = baseFs.makeQualified(basePath).toString
    // ship the DRIVER's Hadoop configuration to the tasks (as a plain
    // serializable property list — Configuration itself is not
    // serializable): a fresh Configuration() in the executor would lack
    // every spark.hadoop.* setting (s3a credentials, HA nameservices)
    // and break exactly the non-local filesystems this tier exists for
    val hconfProps: Array[(String, String)] = {
      val it = hconf.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.toArray
    }
    def taskFs(): org.apache.hadoop.fs.FileSystem = {
      val c = new org.apache.hadoop.conf.Configuration(false)
      hconfProps.foreach { case (k, v) => c.set(k, v) }
      // newInstance, NOT get: we flip setWriteChecksum below, and get()
      // returns the JVM-cached shared FS — mutating it would silently
      // disable .crc checksums for every other user in this executor
      org.apache.hadoop.fs.FileSystem.newInstance(
        java.net.URI.create(base), c)
    }
    def fileUri(doc: String, tr: String) =
      s"$base/${doc}_${tr.replace(':', '_')}.csv"

    val grouped = lines
      .groupBy(col("doc_id"), col("transform_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("line")))),
          s => s("line")),
        "\n").as("content"))
      .persist()
    try {
      if (!opts.force) {
        // distributed K9: probe per task, return at most one conflict
        val conflict = grouped.select(col("doc_id"), col("transform_id"))
          .as[(String, String)]
          .mapPartitions { it =>
            val fs = taskFs()
            try it.filter { case (d, t) =>
              fs.exists(new org.apache.hadoop.fs.Path(fileUri(d, t)))
            }.take(1).toList.iterator
            finally fs.close()
          }.take(1)
        conflict.headOption.foreach { case (d, t) =>
          throw new IllegalStateException(
            s"output ${fileUri(d, t)} exists (use force)")
        }
      }
      grouped.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val fs = taskFs()
        fs.setWriteChecksum(false) // no .crc sidecars next to user CSVs
        try rows.foreach { r =>
          val p = new org.apache.hadoop.fs.Path(
            fileUri(r.getString(0), r.getString(1)))
          val out = fs.create(p, true)
          try out.write((r.getString(2) + "\n").getBytes("UTF-8"))
          finally out.close()
        } finally fs.close()
      }
      grouped.count()
    } finally { grouped.unpersist(); () }
  }
}

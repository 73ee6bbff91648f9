package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.engine.{Main, Engine}
import graft.functions.Scalars
import graft.operators.Multiplex
import graft.sinks.CsvSink
import graft.sources.{SequenceGen, Tables}

class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private lazy val inputPath = {
    val p = tmp("graftcli") + "/seqs"
    SequenceGen.generate(spark, 20, seed = 42L).write.parquet(p)
    p
  }

  test("end-to-end CLI: transforms file -> per-track csv files") {
    val tf = tmp("grafttf") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "clicks", "plugin": "graft:clicks"}]""")
    val out = tmp("graftout")
    Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf,
      "--writer", "csv", "--output", out)))
    val files = Files.list(Paths.get(out)).toArray.map(_.toString)
    assert(files.exists(_.endsWith("doc_0000000001_clicks.csv")))
    val lines = Files.readAllLines(
      Paths.get(s"$out/doc_0000000001_clicks.csv"))
    assert(lines.size() == 3) // the 3-clicks doc
    assert(lines.get(0).matches("\"doc_0000000001\",0\\.085000000,\"click\""))
  }

  test("end-to-end CLI: jams writer emits resolved annotator metadata") {
    val tf = tmp("grafttfjams") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "df", "plugin": "graft:energy",
        |  "output": "detectionfunction"}]""".stripMargin)
    val out = tmp("graftoutjams") + "/feat.jsonl"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf,
      "--writer", "jams", "--output", out)))
    // name-filter carefully: Hadoop writes binary .part-*.crc sidecars
    val docs = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-"))
      .flatMap(p => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(Paths.get(p))).asScala)
      .filter(_.nonEmpty)
    assert(docs.nonEmpty)
    val parsed = org.json4s.jackson.JsonMethods.parse(docs.head)
    // resolved annotator metadata (plugin defaults filled in by the CLI)
    val ann = (parsed \ "annotations")(0) \ "annotation_metadata" \ "annotator"
    assert((ann \ "plugin_id") == org.json4s.JString("graft:energy"))
    assert((ann \ "output_id") == org.json4s.JString("detectionfunction"))
    // the registry's plugin version rides along (reference golden
    // expected/curve-fsr.json:16 — ADVICE r4)
    assert((ann \ "plugin_version") == org.json4s.JString("1"))
    assert((ann \ "step_size") == org.json4s.JInt(16)) // resolved default
    // file duration comes from the INPUT end (n_tok at the spec rate),
    // not just the last feature
    val dur = (parsed \ "file_metadata" \ "duration")
    assert(dur != org.json4s.JNothing)
  }

  test("end-to-end CLI: -S summaries, summary-only, one file") {
    val tf = tmp("grafttf2") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "df", "plugin": "graft:energy", "output": "detectionfunction"}]""")
    val out = tmp("graftout2") + "/sums.csv"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf,
      "--summaries", "mean,count", "--summary-only",
      "--writer", "csv", "--output", out, "--one-file")))
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.size() == 2 * 20) // 2 summary types x 20 docs
    assert(lines.toArray.exists(_.toString.contains(
      "mean") ))
    assert(lines.toArray.exists(_.toString.contains(
      "\"(mean value, continuous-time average)\"")))
  }

  test("CLI checkpointed parquet writer is resumable") {
    val tf = tmp("grafttf3") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "c", "plugin": "graft:clicks"}]""")
    val out = tmp("graftout3")
    val cfg = Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf,
      "--writer", "parquet", "--output", out, "--checkpoint-buckets", "3"))
    Main.run(spark, cfg)
    assert(graft.engine.Checkpoint.manifest(out).size == 3)
    Main.run(spark, cfg) // re-run: all buckets skipped, no error
    assert(spark.read.parquet(s"$out/data").count() == 9) // 3 + 6 clicks
  }

  /** Energy curve + onsets (one sharing pass) and a histogram grid. */
  private def annotateTransforms(): String = {
    val tf = tmp("grafttfa") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "df", "plugin": "graft:energy", "output": "detectionfunction"},
        | {"id": "on", "plugin": "graft:energy", "output": "onsets"},
        | {"id": "grid", "plugin": "graft:histogram", "output": "grid"}]""".stripMargin)
    tf
  }

  private def bytes(path: String): Seq[Byte] = Files.readAllBytes(Paths.get(path)).toSeq

  test("a run that writes features and summaries reads its input 3 times") {
    // one energy pass, one histogram pass and the input-ends scan: the
    // feature sink and the summaries share one extraction
    val scanned = new java.util.concurrent.atomic.AtomicLong
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.endsWith(inputPath)) =>
            s.metrics("numOutputRows").value
        }.foreach(scanned.addAndGet)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Main.run(spark, Main.parseArgs(Seq(
        "--input", inputPath, "--transforms", annotateTransforms(),
        "--summaries", "mean,sd", "--writer", "parquet",
        "--output", tmp("graftscan") + "/feat")))
      org.apache.spark.grafttest.ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(scanned.get == 3L * 20, s"input rows read: ${scanned.get}")
  }

  test("features + summaries: same summaries as --summary-only, features as Engine.run") {
    val tf = annotateTransforms()
    def args(out: String, more: String*) = Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf, "--summaries", "mean,sd",
      "--output", out) ++ more)
    val sumsOnly = tmp("graftso") + "/sums.csv"
    Main.run(spark, args(sumsOnly, "--summary-only", "--writer", "csv", "--one-file"))
    val cfg = args("unused")
    val expected = Engine.run(Tables.sequences(spark, inputPath), Main.loadSpecs(cfg))
      .withColumn("doc_id", col("doc_id").cast("string"))
    val cols = Seq("doc_id", "transform_id", "output", "ts", "duration", "values", "label")

    val pq = tmp("graftpq") + "/feat"
    Main.run(spark, args(pq, "--writer", "parquet"))
    assert(bytes(pq + "_summaries.csv") == bytes(sumsOnly))
    val written = spark.read.parquet(pq).select(cols.map(col): _*)
    val want = expected.select(cols.map(col): _*)
    assert(written.count() == want.count())
    assert(written.exceptAll(want).isEmpty && want.exceptAll(written).isEmpty)

    val csv = tmp("graftcsv") + "/feat.csv"
    Main.run(spark, args(csv, "--writer", "csv", "--one-file"))
    assert(bytes(csv.stripSuffix(".csv") + "_summaries.csv") == bytes(sumsOnly))
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(csv))).asScala.toSeq
    val wantLines = CsvSink.formatFeatures(expected, cfg.csv)
      .select("line").as[String].collect().toSeq
    assert(lines.nonEmpty && lines.sorted == wantLines.sorted)
  }

  test("bucketed parquet run writes the same summaries as an unbucketed one") {
    val tf = tmp("grafttfb") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "df", "plugin": "graft:energy", "output": "detectionfunction"}]""")
    def run(out: String, more: String*): Unit = Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf, "--summaries", "mean",
      "--writer", "parquet", "--output", out) ++ more))
    val plain = tmp("graftnb") + "/feat"
    val bucketed = tmp("graftb") + "/feat"
    run(plain)
    run(bucketed, "--checkpoint-buckets", "3")
    assert(graft.engine.Checkpoint.manifest(bucketed).size == 3)
    val sums = bytes(bucketed + "_summaries.csv")
    assert(sums.nonEmpty && sums == bytes(plain + "_summaries.csv"))
  }

  test("--multiplex collapses all inputs into one mixed sequence") {
    val tf = tmp("grafttfm") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "r", "plugin": "graft:regions", "parameters": {"min_run": 1}}]""")
    val out = tmp("graftoutm")
    Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--multiplex", "--transforms", tf,
      "--writer", "parquet", "--output", out, "--force")))
    val rows = spark.read.parquet(out)
    // one multiplexed doc, named after the first source (reference
    // MultiplexedReader rule)
    assert(rows.select("doc_id").distinct().count() == 1)
    assert(rows.select("doc_id").first().getString(0) == "doc_0000000000")
  }

  test("--normalize peak-scales feature values per (doc, transform)") {
    val tf = tmp("grafttfn") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "df", "plugin": "graft:energy", "output": "detectionfunction"}]""")
    val out = tmp("graftoutn")
    Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf, "--normalize",
      "--writer", "parquet", "--output", out, "--force")))
    val peaks = spark.read.parquet(out)
      .groupBy("doc_id")
      .agg(max(array_max(transform(col("values"),
        v => abs(v.cast("double"))))).as("peak"))
      .select("peak").collect().map(_.getDouble(0))
    // every non-silent doc's peak is exactly 1.0
    assert(peaks.forall(p => math.abs(p - 1.0) < 1e-6 || p == 0.0))
  }

  test("multiplex: duplicate selection tolerated, missing doc_id fails fast") {
    val seqs = Seq(
      ("a", Seq(1, 2, 3), 3, "s"), ("a", Seq(1, 2, 3), 3, "s"), // dup doc
      ("b", Seq(4, 5), 2, "s")).toDF("doc_id", "tokens", "n_tok", "source")
    val ok = Multiplex.multiplex(seqs, Seq("a", "b")).collect()
    assert(ok.length == 1 && ok.head.getAs[Int]("n_tok") == 3)
    // a requested id absent from the input raises a clear error
    val err = intercept[Exception] {
      Multiplex.multiplex(seqs, Seq("a", "zzz")).collect()
    }
    assert(err.getMessage.contains("multiplex") ||
      Option(err.getCause).exists(_.getMessage.contains("multiplex")),
      err.getMessage)
    // fully-missing selection -> zero rows (not one all-null row)
    assert(Multiplex.multiplex(seqs, Seq("zzz2")).count() == 0)
  }

  test("manifest source selects a doc subset (playlist analog)") {
    val seqs = Tables.sequences(spark, inputPath)
    val manifest = Seq("doc_0000000001", "doc_0000000002").toDF("doc_id")
    val sel = Tables.fromManifest(seqs, manifest)
    assert(sel.select("doc_id").as[String].collect().toSet ==
      Set("doc_0000000001", "doc_0000000002"))
  }

  /** What a writer left at `out`, comparable across runs: each file's
    * bytes by relative path, except Spark part files (named per run),
    * compared as their sorted lines or, for parquet, sorted rows. */
  private def snapshot(out: String): Map[String, String] = {
    val root = Paths.get(out)
    def text(f: java.nio.file.Path) =
      new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.ISO_8859_1)
    if (Files.isRegularFile(root)) return Map("" -> text(root))
    val files = scala.util.Using.resource(Files.walk(root)) {
      _.toArray.map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_)).toSeq
    }
    val parts = files.filter(_.getFileName.toString.startsWith("part-"))
    if (parts.exists(_.toString.endsWith(".parquet")))
      Map("rows" -> spark.read.parquet(out).collect().map(_.toString).sorted.mkString("\n"))
    else if (parts.nonEmpty)
      Map("lines" -> parts.flatMap(f => text(f).split("\n")).sorted.mkString("\n"))
    else files.map(f => root.relativize(f).toString -> text(f)).toMap
  }

  /** Overwrite `out`, or its first data file, with junk. */
  private def tamper(out: String): Unit = {
    val root = Paths.get(out)
    val target =
      if (Files.isRegularFile(root)) root
      else scala.util.Using.resource(Files.walk(root)) {
        _.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.matches("[._].*"))
          .minBy(_.toString)
      }
    Files.writeString(target, "junk\n")
  }

  test("every writer refuses an existing output, --force replaces it, csv --append appends") {
    val tf = tmp("grafttfw") + "/t.json"
    Files.writeString(Paths.get(tf), """[{"id": "r", "plugin": "graft:regions"}]""")
    // (writer arguments, output name, appends)
    val writers = Seq(
      (Seq("--writer", "csv"), "tracks", true),
      (Seq("--writer", "csv", "--one-file"), "out.csv", true),
      (Seq("--writer", "jams"), "out.jsonl", false),
      (Seq("--writer", "xml"), "out.xml", false),
      (Seq("--writer", "midi"), "mid", false),
      (Seq("--writer", "rdf"), "out.n3", false),
      (Seq("--writer", "parquet"), "pq", false))
    writers.foreach { case (writer, name, appends) =>
      val label = writer.mkString(" ")
      val out = tmp("graftw") + "/" + name
      def run(more: String*): Unit = Main.run(spark, Main.parseArgs(Seq(
        "--input", inputPath, "--transforms", tf, "--output", out) ++ writer ++ more))
      run()
      val first = snapshot(out)
      assert(first.nonEmpty && first.values.forall(_.nonEmpty), label)
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("exists"), s"$label: ${e.getMessage}")
      assert(snapshot(out) == first, s"$label: a refused run changed the output")
      tamper(out)
      run("--force")
      assert(snapshot(out) == first, s"$label: --force did not replace the output")
      if (appends) {
        run("--append")
        assert(snapshot(out) == first.map { case (k, v) => k -> (v + v) }, label)
      }
    }
  }

  test("per-track csv --append, run twice: each file holds run 1's lines, then run 2's") {
    val tf = tmp("grafttfap") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "df", "plugin": "graft:energy", "output": "detectionfunction"}]""")
    def run(out: String, more: String*): Unit = Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf, "--writer", "csv",
      "--output", out) ++ more))
    val (run1, run2, appended) = (tmp("graftap1"), tmp("graftap2"), tmp("graftap"))
    run(run1)
    run(run2, "--digits", "2")
    run(appended, "--append")
    run(appended, "--append", "--digits", "2")
    val (s1, s2) = (snapshot(run1), snapshot(run2))
    assert(s1.size == 20 && s1 != s2)
    assert(snapshot(appended) == s1.map { case (k, v) => k -> (v + s2(k)) })
  }

  test("K9: an existing summaries file fails the run before features are written") {
    val tf = tmp("grafttfk9") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "df", "plugin": "graft:energy", "output": "detectionfunction"}]""")
    val out = tmp("graftk9") + "/feat.csv"
    val sums = Paths.get(out.stripSuffix(".csv") + "_summaries.csv")
    Files.writeString(sums, "old\n")
    val e = intercept[IllegalStateException] {
      Main.run(spark, Main.parseArgs(Seq(
        "--input", inputPath, "--transforms", tf, "--writer", "csv", "--one-file",
        "--summaries", "mean", "--output", out)))
    }
    assert(e.getMessage.contains("_summaries.csv exists"), e.getMessage)
    assert(!Files.exists(Paths.get(out)), "features written before the refusal")
    assert(Files.readString(sums) == "old\n")
  }

  test("--sample-timing prints positions at the transform's sample_rate") {
    val tf = tmp("grafttfst") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "clicks", "plugin": "graft:clicks", "sample_rate": 2000}]""")
    val out = tmp("graftst")
    Main.run(spark, Main.parseArgs(Seq(
      "--input", inputPath, "--transforms", tf, "--writer", "csv",
      "--sample-timing", "--output", out)))
    val tokens = Tables.sequences(spark, inputPath)
      .where(col("doc_id") === "doc_0000000001").select("tokens").as[Seq[Int]].head()
    val positions = tokens.indices.filter(tokens(_) == SequenceGen.ClickToken)
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(s"$out/doc_0000000001_clicks.csv"))).asScala.toSeq
    assert(positions.size == 3)
    assert(lines == positions.zipWithIndex.map { case (p, i) =>
      (if (i == 0) "\"doc_0000000001\"" else "") + s",$p,\"click\""
    })
  }

  test("S4 URL source: a file:// URL drives the CLI end-to-end") {
    // the remote-source row (S4) maps to Hadoop FS URI handling; exercise
    // the URI path through the real CLI instead of leaving it
    // documentation-only (round-2 'What's missing' #6). file:// is the
    // scheme this sandbox can serve; hdfs://, s3a://, etc. ride the same
    // FileSystem resolution.
    val tf = tmp("grafttfurl") + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "clicks", "plugin": "graft:clicks"}]""")
    val out = tmp("graftouturl")
    Main.run(spark, Main.parseArgs(Seq(
      "--input", s"file://$inputPath", "--transforms", tf,
      "--writer", "csv", "--output", out)))
    assert(Files.list(Paths.get(out)).toArray.map(_.toString)
      .exists(_.endsWith("doc_0000000001_clicks.csv")))
    // and the raw Tables.sequences URI read equals the plain-path read
    assert(Tables.sequences(spark, s"file://$inputPath").count() ==
      Tables.sequences(spark, inputPath).count())
  }

  test("contamination CLI: detect -> report -> drop end-to-end") {
    // dedicated token-disjoint corpus (the generator's docs are real
    // near-dups of each other, which would entangle the drop set):
    // c1's content is planted in the benchmark; c2-c4 share no tokens
    // with it and must survive
    val corpusPath = tmp("graftccorpus") + "/seqs"
    def doc(id: String, lo: Int) = (id, (lo until lo + 12).toList, 12, "s")
    Seq(doc("c1", 1), doc("c2", 100), doc("c3", 200), doc("c4", 300))
      .toDF("doc_id", "tokens", "n_tok", "source").write.parquet(corpusPath)
    val benchPath = tmp("graftbench") + "/bench"
    Seq(("bench_hit", (1 until 13).toList, 12, "b"),
      ("bench_miss", List(900001, 900002, 900003), 3, "b"))
      .toDF("doc_id", "tokens", "n_tok", "source").write.parquet(benchPath)

    def reportLines(dirPath: String): Seq[org.json4s.JValue] =
      Files.list(Paths.get(dirPath)).toArray.map(_.toString)
        .filter(p => Paths.get(p).getFileName.toString.startsWith("part-"))
        .flatMap(p => scala.jdk.CollectionConverters
          .ListHasAsScala(Files.readAllLines(Paths.get(p))).asScala)
        .filter(_.nonEmpty).toSeq
        .map(org.json4s.jackson.JsonMethods.parse(_))

    // 1) detect + report (no transforms needed in this mode)
    val rep = tmp("graftcontam") + "/report"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", corpusPath, "--contamination-check", benchPath,
      "--output", rep)))
    val rows = reportLines(rep)
    assert(rows.map(r => (r \ "bench_id")).toSet ==
      Set(org.json4s.JString("bench_hit")), "only the planted twin reports")
    val hit = rows.head
    assert((hit \ "max_est_jaccard") == org.json4s.JDouble(1.0))
    assert((hit \ "matched_ids").children
      .contains(org.json4s.JString("c1")))

    // 2) drop: surviving corpus parquet + report beside it
    val cleanedOut = tmp("graftcontam2") + "/cleaned"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", corpusPath, "--contamination-check", benchPath,
      "--drop-contaminated", "--output", cleanedOut)))
    val cleaned = spark.read.parquet(cleanedOut)
      .select("doc_id").as[String].collect().toSet
    assert(cleaned == Set("c2", "c3", "c4"))
    assert(reportLines(cleanedOut.stripSuffix("/") + "_contamination")
      .nonEmpty)
  }

  test("redact CLI: rule chain over a raw document table end-to-end") {
    val docsPath = tmp("graftredact") + "/docs"
    Seq(
      (1L, "write to a@b.org or call +1-555-123-4567"),
      (2L, "host 10.0.0.1 responded"),
      (3L, "nothing sensitive here"))
      .toDF("doc_id", "text").write.parquet(docsPath)
    val out = tmp("graftredactout") + "/redacted"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", docsPath, "--redact", "--output", out)))
    val got = spark.read.parquet(out)
      .select("doc_id", "n_email", "n_phone", "n_ipv4", "n_redacted",
        "redacted_text")
      .orderBy("doc_id")
      .as[(Long, Int, Int, Int, Int, String)].collect().toSeq
    assert(got == Seq(
      (1L, 1, 1, 0, 2, "write to <EMAIL> or call <PHONE>"),
      (2L, 0, 0, 1, 1, "host <IP> responded"),
      (3L, 0, 0, 0, 0, "nothing sensitive here")))
    // missing text column fails loudly, naming the columns it saw
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Main.parseArgs(Seq(
        "--input", docsPath, "--redact", "--redact-column", "body",
        "--output", out + "2")))
    }
    assert(e.getMessage.contains("no 'body' column"))
  }

  test("segment-dedup CLI: line dedup with reassembly end-to-end") {
    val docsPath = tmp("graftsegdd") + "/docs"
    Seq(
      (1L, "alpha\nbeta\nalpha"), // 3rd line repeats the 1st
      (2L, "beta\ngamma"),        // "beta" lost to doc 1
      (3L, "alpha\nbeta"))        // nothing left
      .toDF("doc_id", "text").write.parquet(docsPath)
    val out = tmp("graftsegddout") + "/deduped"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", docsPath, "--segment-dedup", "--output", out)))
    val got = spark.read.parquet(out)
      .select("doc_id", "n_kept", "text").orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, "alpha\nbeta"),
      (2L, 1L, "gamma"),
      (3L, 0L, "")))
  }

  test("segment-dedup CLI: blank lines pass through (paragraph boundaries kept)") {
    val docsPath = tmp("graftsegblank") + "/docs"
    Seq(
      (1L, "alpha\n\nbeta"),  // blank paragraph break
      (2L, "gamma\n\ndelta")) // its blank must NOT be deduped away
      .toDF("doc_id", "text").write.parquet(docsPath)
    val out = tmp("graftsegblankout") + "/deduped"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", docsPath, "--segment-dedup", "--output", out)))
    val got = spark.read.parquet(out)
      .select("doc_id", "text").orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "alpha\n\nbeta"),
      (2L, "gamma\n\ndelta")))
  }

  test("conflicting pipeline mode flags fail loudly") {
    val docsPath = tmp("graftconflict") + "/docs"
    Seq((1L, "x")).toDF("doc_id", "text").write.parquet(docsPath)
    val e = intercept[IllegalArgumentException] {
      Main.run(spark, Main.parseArgs(Seq(
        "--input", docsPath, "--redact", "--segment-dedup",
        "--output", tmp("graftconflictout") + "/o")))
    }
    assert(e.getMessage.contains("conflicting pipeline modes"))
    assert(e.getMessage.contains("--redact") &&
      e.getMessage.contains("--segment-dedup"))
  }

  test("epoch-shuffle CLI: permutation + batches end-to-end") {
    val docsPath = tmp("graftepoch") + "/docs"
    (0L until 200L).toDF("doc_id").write.parquet(docsPath)
    val out = tmp("graftepochout") + "/shuffled"
    Main.run(spark, Main.parseArgs(Seq(
      "--input", docsPath, "--epoch-shuffle", "4",
      "--batch-size", "32", "--output", out)))
    val got = spark.read.parquet(out)
      .select("doc_id", "epoch_pos", "batch")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2).sorted == (0L until 200L))
    assert(got.forall { case (_, p, b) => b == p / 32 })
    assert(got.sortBy(_._2).map(_._1) != (0L until 200L).toSeq)
  }

  test("scalar functions: hz->midi, frame<->ns, version compare, sanitize") {
    val r = Seq((440.0, 880.0)).toDF("a", "b")
      .select(Scalars.hzToMidi($"a").as("m1"), Scalars.hzToMidi($"b").as("m2"),
        Scalars.nsToFrame(lit(1500000000L), 4.0).as("f"),
        Scalars.frameToNs(lit(6L), 4.0).as("ns"),
        Scalars.sanitizeId(lit("p:x:y")).as("s"))
      .collect().head
    assert(r.getAs[Int]("m1") == 69 && r.getAs[Int]("m2") == 81)
    assert(r.getAs[Long]("f") == 6L && r.getAs[Long]("ns") == 1500000000L)
    assert(r.getAs[String]("s") == "p_x_y")
    assert(Scalars.compareVersions("1.10", "1.9") > 0)
    assert(Scalars.compareVersions("1.5", "1.5") == 0)
    assert(Scalars.compareVersions("1.5pre1", "1.5") < 0) // pre-release first
  }

  test("FSR grid snapping matches the reference rule (0.333 -> 0.4 at 2.5Hz)") {
    // golden: vamp-test-plugin-curve-fsr-timed.csv "0.3 at 0.333 snap to 0.4"
    val snapped = Seq(333000000L, 400000000L, 0L).toDF("ts")
      .select(graft.frames.Framing.snapToGrid($"ts", 2.5).as("s"))
      .as[Long].collect().toSeq
    assert(snapped == Seq(400000000L, 400000000L, 0L))
  }

  test("channel mixdown: mean across channels") {
    val df = Seq((Seq(Seq(1, 3), Seq(3, 5)))).toDF("channels")
    val out = Multiplex.mixdown(df, "channels").select("mixed")
      .as[Seq[Double]].collect().head
    assert(out == Seq(2.0, 4.0))
  }

  test("xml debug sink escapes and formats") {
    val feats = Seq(("d", "t", 1500000000L, None: Option[Long],
      Seq(1.5f), "a<b&c")).toDF(
      "doc_id", "transform_id", "ts", "duration", "values", "label")
    val xml = graft.sinks.XmlSink.toXmlRows(feats)
      .select("xml").as[String].collect().head
    assert(xml ==
      "<feature><timestamp>1.500000000</timestamp><values>1.5</values><label>a&lt;b&amp;c</label></feature>")
  }

  test("--default-transform: unknown plugins fail before the input is opened") {
    // the input path does not exist: the plugin error must come first
    val missing = tmp("graftdmissing") + "/no-such-seqs"
    Seq("foo" -> "foo", "graft:nope" -> "graft:nope",
        "graft:energyy:onsets" -> "graft:energyy:onsets").foreach {
      case (d, named) =>
        val e = intercept[IllegalArgumentException] {
          Main.run(spark, Main.parseArgs(Seq("--input", missing,
            "--default-transform", d, "--output", tmp("graftdout") + "/o")))
        }
        assert(e.getMessage.contains(s"unknown plugin: $named (available: "),
          e.getMessage)
    }
    // known plugin, with and without an output
    val specs = Main.loadSpecs(Main.parseArgs(Seq(
      "--default-transform", "graft:energy:onsets")))
    assert(specs.map(s => (s.plugin, s.output)) == Seq(("graft:energy", "onsets")))
    assert(Main.loadSpecs(Main.parseArgs(Seq("--default-transform",
      "graft:clicks"))).map(s => (s.plugin, s.output)) == Seq(("graft:clicks", "")))
  }

  test("--list and unknown plugin errors") {
    assert(Engine.list.contains("graft:histogram:grid"))
    val e = intercept[IllegalArgumentException] {
      Engine.run(SequenceGen.generate(spark, 4).toDF(),
        Seq(graft.model.TransformSpec(id = "x", plugin = "graft:nope")))
    }
    assert(e.getMessage.contains("unknown plugin"))
    val e2 = intercept[IllegalArgumentException] {
      Engine.run(SequenceGen.generate(spark, 4).toDF(),
        Seq(graft.model.TransformSpec(id = "x", plugin = "graft:energy",
          output = "nope")))
    }
    assert(e2.getMessage.contains("no output"))
  }
}

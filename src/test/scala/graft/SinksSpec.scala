package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.{CsvSink, JsonSink, MidiSink, Output}

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val S = 1000000000L

  /** curve features like the reference curve-vsr golden. */
  private def curve = (0 until 3).map { i =>
    ("docA", "t1", (i * 0.75 * S).toLong, None: Option[Long],
      Seq((i / 10.0).toFloat), s"${i + 1} of 3")
  }.toDF("doc_id", "transform_id", "ts", "duration", "values", "label")

  private def instants = Seq(
    ("docA", "t1", 777868480L, None: Option[Long], Seq.empty[Float], ""),
    ("docA", "t1", 1648616780L, None: Option[Long], Seq.empty[Float], ""))
    .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")

  test("curve layout: filename-on-change, 9-decimal seconds, g-format values") {
    val lines = CsvSink.formatFeatures(curve, CsvSink.Options())
      .orderBy("ts").select("line").as[String].collect()
    assert(lines(0) == "\"docA\",0.000000000,0,\"1 of 3\"")
    assert(lines(1) == ",0.750000000,0.1,\"2 of 3\"")
    assert(lines(2) == ",1.500000000,0.2,\"3 of 3\"")
  }

  test("instants layout: empty values and labels drop their fields") {
    val lines = CsvSink.formatFeatures(instants, CsvSink.Options())
      .orderBy("ts").select("line").as[String].collect()
    // golden shape: tests/test-transforms-basic/expected/percussiononsets.csv
    assert(lines(0) == "\"docA\",0.777868480")
    assert(lines(1) == ",1.648616780")
  }

  test("fill-ends: end = next ts, last = own ts") {
    val lines = CsvSink.formatFeatures(curve,
      CsvSink.Options(fillEnds = true, omitFilename = true))
      .orderBy("ts").select("line").as[String].collect()
    // golden shape: tests/test-csv-writer/expected/curve-vsr-fill-ends.csv
    assert(lines(0) == "0.000000000,0.750000000,0,\"1 of 3\"")
    assert(lines(2) == "1.500000000,1.500000000,0.2,\"3 of 3\"")
  }

  test("end-times converts durations to end timestamps") {
    val notes = Seq(
      ("d", "t", 0L, Some((1.75 * S).toLong), Seq(0.0f), "n1"),
      ("d", "t", S, Some((0.5 * S).toLong), Seq(0.1f), "n2"))
      .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")
    val plain = CsvSink.formatFeatures(notes,
      CsvSink.Options(omitFilename = true)).orderBy("ts")
      .select("line").as[String].collect()
    assert(plain(0) == "0.000000000,1.750000000,0,\"n1\"")
    val endt = CsvSink.formatFeatures(notes,
      CsvSink.Options(endTimes = true, omitFilename = true)).orderBy("ts")
      .select("line").as[String].collect()
    // golden shape: tests/test-csv-writer/expected/notes-regions-end-times.csv
    assert(endt(0) == "0.000000000,1.750000000,0,\"n1\"")
    assert(endt(1) == "1.000000000,1.500000000,0.1,\"n2\"")
  }

  test("sample-timing prints integer positions; custom separator; digits") {
    val lines = CsvSink.formatFeatures(curve,
      CsvSink.Options(sampleTiming = true, omitFilename = true,
        separator = "@", digits = 2))
      .orderBy("ts").select("line").as[String].collect()
    assert(lines(0) == "0@0@\"1 of 3\"")
    assert(lines(1) == "750@0.10@\"2 of 3\"" || lines(1) == "750@0.1@\"2 of 3\"")
  }

  test("one-file write: ordered, single file, overwrite policy enforced") {
    val dir = Files.createTempDirectory("graftcsv").toString
    val path = s"$dir/out.csv"
    val lines = CsvSink.formatFeatures(curve, CsvSink.Options())
    CsvSink.writeOneFile(lines, path, CsvSink.Options())
    val content = Files.readAllLines(Paths.get(path))
    assert(content.size() == 3)
    assert(content.get(0).startsWith("\"docA\",0.000000000"))
    intercept[IllegalStateException] {
      CsvSink.writeOneFile(lines, path, CsvSink.Options()) // K8: refuse
    }
    CsvSink.writeOneFile(lines, path, CsvSink.Options(append = true))
    assert(Files.readAllLines(Paths.get(path)).size() == 6)
  }

  /** (doc_id, transform_id, ts, line) rows with unique keys, dealt into
    * `parts` shuffled partitions. */
  private def shuffledLines(n: Int, parts: Int) = {
    val rnd = new scala.util.Random(11L)
    rnd.shuffle((0 until n).map { i =>
      val (d, t, ts) = (f"d${i % 7}%02d", f"t${i % 3}", i.toLong * S)
      (d, t, ts, s"$d|$t|$ts")
    }).toDF("doc_id", "transform_id", "ts", "line").repartition(parts)
  }

  test("one-file write: the global (doc, transform, ts) order from any input") {
    val dir = Files.createTempDirectory("graftorder").toString
    val lines = shuffledLines(500, 5)
    CsvSink.writeOneFile(lines, s"$dir/out.csv", CsvSink.Options())
    val expected = lines.as[(String, String, Long, String)].collect()
      .sortBy(r => (r._1, r._2, r._3)).map(_._4).toSeq
    assert(Files.readAllLines(Paths.get(s"$dir/out.csv")).toArray.toSeq == expected)
    CsvSink.writeOneFile(lines.limit(0), s"$dir/empty.csv", CsvSink.Options())
    assert(Files.size(Paths.get(s"$dir/empty.csv")) == 0L)
  }

  test("one-file write evaluates its input once (no range-sampling pass)") {
    val n = 1000
    val evals = spark.sparkContext.longAccumulator("line evaluations")
    val render = udf { (d: String, ts: Long) => evals.add(1L); s"$d,$ts" }
    // the counting UDF runs in the last stage before the sink
    val lines = shuffledLines(n, 4)
      .withColumn("line", render(col("doc_id"), col("ts")))
    val dir = Files.createTempDirectory("graftonce").toString
    CsvSink.writeOneFile(lines, s"$dir/out.csv", CsvSink.Options())
    assert(Files.readAllLines(Paths.get(s"$dir/out.csv")).size() == n)
    assert(evals.value == n, s"$n lines evaluated ${evals.value} times")
  }

  test("fill-ends formatting: one exchange per (transform, doc), one sort") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.engine.PlanFingerprint
    val df = CsvSink.formatFeatures(curve, CsvSink.Options(fillEnds = true))
    val fp = PlanFingerprint.of(df)
    assert(fp.exchanges == 1 && fp.sorts == 1, fp.json)
    // the filename window shares the fill-ends exchange, which spreads a
    // transform's docs over tasks instead of funnelling them into one
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val keys = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning => h.references.map(_.name).toSet }
    assert(keys == Seq(Set("transform_id", "doc_id")), s"exchange keys: $keys")
  }

  /** Open file descriptors of this JVM, where `/proc/self/fd` exists. */
  private def openFds(): Long = {
    val fd = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fd), "needs /proc/self/fd")
    System.gc()
    scala.util.Using.resource(Files.list(fd))(_.count())
  }

  test("manifest reads and one-file writes close their directory handles") {
    import graft.engine.Checkpoint
    val out = Files.createTempDirectory("graftfds")
    val manifestDir = Files.createDirectories(out.resolve("_graft_manifest"))
    (0 until 3).foreach(b => Files.writeString(manifestDir.resolve(s"bucket-$b.json"), "{}"))
    val lines = CsvSink.formatFeatures(curve, CsvSink.Options())
    val path = s"$out/one.csv"
    CsvSink.writeOneFile(lines, path, CsvSink.Options(force = true)) // warm-up
    Checkpoint.manifest(out.toString)
    val before = openFds()
    (0 until 50).foreach(_ => assert(Checkpoint.manifest(out.toString).size == 3))
    (0 until 10).foreach(_ => CsvSink.writeOneFile(lines, path, CsvSink.Options(force = true)))
    val leaked = openFds() - before
    assert(leaked < 10, s"$leaked file descriptors left open")
  }

  test("gFormat matches C %g in exponent range (trimmed mantissa)") {
    // C: printf("%.6g", 1e7) -> "1e+07"; Java alone keeps "1.00000e+07"
    assert(CsvSink.gFormatValue(1e7, 6) == "1e+07")
    assert(CsvSink.gFormatValue(1.2e6, 6) == "1.2e+06")
    assert(CsvSink.gFormatValue(0.00005, 6) == "5e-05")
    assert(CsvSink.gFormatValue(1234567.0, 6) == "1.23457e+06")
    assert(CsvSink.gFormatValue(0.1, 6) == "0.1")
    assert(CsvSink.gFormatValue(12345.0, 6) == "12345")
    assert(CsvSink.gFormatValue(-3.25e8, 6) == "-3.25e+08")
  }

  test("null value elements keep their column slot (no separator collapse)") {
    val df = Seq(("d", "t", 0L, None: Option[Long],
      Seq(Some(1.5f), None, Some(2.5f)), ""))
      .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")
    val lines = CsvSink.formatFeatures(df, CsvSink.Options())
      .select("line").as[String].collect()
    // the middle (null) value must keep its empty slot: 1.5,,2.5
    assert(lines(0) == "\"d\",0.000000000,1.5,,2.5")
  }

  /** (doc, transform) curve rows: two per doc, `n` docs. */
  private def tracks(n: Int) = (0 until n).flatMap { i =>
    Seq((f"doc_$i%03d", "t1", 0L, None: Option[Long], Seq(1.0f), ""),
      (f"doc_$i%03d", "t1", S, None: Option[Long], Seq(2.0f), ""))
  }.toDF("doc_id", "transform_id", "ts", "duration", "values", "label")

  /** Names of the files in `dir`, sorted. */
  private def listNames(dir: String): Seq[String] =
    scala.util.Using.resource(Files.list(Paths.get(dir))) {
      _.toArray.map(p => Paths.get(p.toString).getFileName.toString).sorted.toSeq
    }

  test("per-track write of >100 tracks runs O(partitions) jobs, not O(tracks)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    /** jobs started by one per-track write of `n` tracks */
    def jobsFor(n: Int, out: String): Int = {
      val lines = CsvSink.formatFeatures(tracks(n), CsvSink.Options())
      org.apache.spark.grafttest.ListenerBus.drain(spark.sparkContext)
      val before = jobs.get()
      assert(Output.filePerKey(CsvSink.trackFiles(lines), out, Output.Policy()) == n)
      org.apache.spark.grafttest.ListenerBus.drain(spark.sparkContext)
      jobs.get() - before
    }
    spark.sparkContext.addSparkListener(listener)
    val out = Files.createTempDirectory("graftmany").toString
    val (few, many) =
      try (jobsFor(12, Files.createTempDirectory("graftfew").toString), jobsFor(120, out))
      finally spark.sparkContext.removeSparkListener(listener)
    // pin + name check + write: a fixed number of jobs whatever the
    // track count (round 1 ran one job per track: 120 tracks -> 121+)
    assert(many == few, s"$few jobs for 12 tracks, $many for 120")
    assert(listNames(out).size == 120)
    val lines0 = Files.readAllLines(Paths.get(s"$out/doc_000_t1.csv"))
    assert(lines0.size() == 2)
    assert(lines0.get(0) == "\"doc_000\",0.000000000,1")
    assert(lines0.get(1) == ",1.000000000,2")
  }

  test("per-file writer: executor-direct writes, K9 pre-flight, force rewrites") {
    val n = 300
    val files = CsvSink.trackFiles(CsvSink.formatFeatures(tracks(n), CsvSink.Options()))
    val out = Files.createTempDirectory("graftdist").toString
    assert(Output.filePerKey(files, out, Output.Policy()) == n)
    val f0 = Files.readAllLines(Paths.get(s"$out/doc_000_t1.csv"))
    assert(f0.size() == 2)
    assert(f0.get(0) == "\"doc_000\",0.000000000,1")
    assert(f0.get(1) == ",1.000000000,2")
    assert(listNames(out).size == n) // no .crc sidecars
    // K9 pre-flight: an existing destination fails before any write
    Files.writeString(Paths.get(s"$out/doc_299_t1.csv"), "junk\n")
    val e = intercept[IllegalStateException] {
      Output.filePerKey(files, out, Output.Policy())
    }
    assert(e.getMessage.contains("exists"), e.getMessage)
    assert(Files.readString(Paths.get(s"$out/doc_299_t1.csv")) == "junk\n")
    // force replaces every file
    assert(Output.filePerKey(files, out, Output.Policy(force = true)) == n)
    assert(Files.readAllLines(Paths.get(s"$out/doc_299_t1.csv")).size() == 2)
  }

  test("per-file writer: colliding or escaping names fail before any write, naming the keys") {
    // transform ids p:x and p_x both name docA_p_x.csv
    val collide = CsvSink.trackFiles(CsvSink.formatFeatures(
      curve.withColumn("transform_id", lit("p:x"))
        .unionByName(curve.withColumn("transform_id", lit("p_x"))), CsvSink.Options()))
    val dir = Files.createTempDirectory("graftnames").toString
    val e = intercept[IllegalArgumentException] {
      Output.filePerKey(collide, dir, Output.Policy(force = true))
    }
    assert(e.getMessage.contains("docA_p_x.csv") && e.getMessage.contains("transform p:x") &&
      e.getMessage.contains("transform p_x"), e.getMessage)
    assert(listNames(dir).isEmpty)
    // doc ids that are not one path component would write outside `dir`
    Seq("a/b", "../escape").foreach { doc =>
      val out = dir + "/sub"
      val notes = Seq((doc, "t", 0, 0L, Some(S), 60, 100))
        .toDF("doc_id", "transform_id", "channel", "ts", "duration", "pitch", "velocity")
      val e2 = intercept[IllegalArgumentException] {
        Output.filePerKey(MidiSink.docFiles(notes), out, Output.Policy(force = true))
      }
      assert(e2.getMessage.contains(s"doc $doc"), e2.getMessage)
      assert(listNames(dir).isEmpty)
    }
  }

  test("per-file writer: re-running a pinned row's write gives the same bytes") {
    val dir = Files.createTempDirectory("graftretry")
    val f = dir.resolve("d_t.csv")
    Files.writeString(f, "run 1\n")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(f.toUri)
    val body = "run 2\n".getBytes("UTF-8")
    // an append keeps the pinned pre-run length (6 bytes), however often
    // the task that writes the row runs
    (0 until 3).foreach { _ =>
      Output.writeFile(fs, path, body, keep = 6L)
      assert(Files.readString(f) == "run 1\nrun 2\n")
    }
    Output.writeFile(fs, path, body, keep = 0L)
    assert(Files.readString(f) == "run 2\n")
  }

  test(".mid encoding round-trips through javax.sound.midi") {
    val notes = Seq(
      ("d1", "t", 0, 0L, Some(500000000L), 60, 100),
      ("d1", "t", 0, 500000000L, Some(250000000L), 64, 90),
      ("d1", "t", 1, 1000000000L, None: Option[Long], 67, 100),
      ("d2", "t", 0, 0L, Some(1000000000L), 72, 100))
      .toDF("doc_id", "transform_id", "channel", "ts", "duration",
        "pitch", "velocity")
    val out = Files.createTempDirectory("graftmidi").toString
    assert(Output.filePerKey(MidiSink.docFiles(notes), out, Output.Policy()) == 2)
    assert(listNames(out) == Seq("d1.mid", "d2.mid")) // no .crc sidecars
    val seq1 = javax.sound.midi.MidiSystem.getSequence(
      new java.io.File(s"$out/d1.mid"))
    assert(seq1.getResolution == 480) // ticks per quarter
    val msgs = (0 until seq1.getTracks()(0).size()).map(
      seq1.getTracks()(0).get(_))
    val ons = msgs.collect {
      case e if e.getMessage.isInstanceOf[javax.sound.midi.ShortMessage] &&
          e.getMessage.asInstanceOf[javax.sound.midi.ShortMessage]
            .getCommand == javax.sound.midi.ShortMessage.NOTE_ON =>
        val m = e.getMessage.asInstanceOf[javax.sound.midi.ShortMessage]
        (e.getTick, m.getChannel, m.getData1, m.getData2)
    }
    // 120 BPM, 480 tpq: 1 s = 960 ticks
    assert(ons == Seq((0L, 0, 60, 100), (480L, 0, 64, 90), (960L, 1, 67, 100)))
  }

  test("CLI --writer midi emits one parseable .mid per doc") {
    val in = Files.createTempDirectory("graftmidicli").toString + "/seqs"
    graft.sources.SequenceGen.generate(spark, 5, seed = 11L).write.parquet(in)
    val tf = Files.createTempDirectory("graftmiditf").toString + "/t.json"
    Files.writeString(Paths.get(tf),
      """[{"id": "r", "plugin": "graft:regions"}]""")
    val out = Files.createTempDirectory("graftmidiout").toString
    graft.engine.Main.run(spark, graft.engine.Main.parseArgs(Seq(
      "--input", in, "--transforms", tf, "--writer", "midi",
      "--output", out)))
    val mids = new java.io.File(out).listFiles()
    assert(mids.nonEmpty && mids.forall(_.getName.endsWith(".mid"))) // no .crc
    val seq0 = javax.sound.midi.MidiSystem.getSequence(mids.head)
    assert(seq0.getResolution == 480)
  }

  test("per-track files: naming, pre-flight collision check") {
    val dir = Files.createTempDirectory("graftcsv2").toString
    val lines = CsvSink.formatFeatures(
      curve.withColumn("transform_id", lit("p:x:y")), CsvSink.Options())
    Output.filePerKey(CsvSink.trackFiles(lines), dir, Output.Policy())
    // K8 naming: ':' -> '_'
    assert(listNames(dir) == Seq("docA_p_x_y.csv"))
    intercept[IllegalStateException] {
      Output.filePerKey(CsvSink.trackFiles(lines), dir, Output.Policy())
    }
  }

  test("summary rows match the reference summary CSV layout") {
    val sums = Seq(("docA", "t1", 0L, (9.75 * S).toLong, "mean",
      Seq(0.553846), "(mean value, continuous-time average)"))
      .toDF("doc_id", "transform_id", "seg_start_ns", "seg_duration_ns",
        "summary_name", "values", "label")
    val line = CsvSink.formatSummaries(sums, CsvSink.Options())
      .select("line").as[String].collect().head
    // golden shape: testplug-curve-vsr-mean.csv:20
    assert(line ==
      "\"docA\",0.000000000,9.750000000,mean,0.553846,\"(mean value, continuous-time average)\"")
  }

  test("summary lines name the doc only on the first line of each (doc, transform)") {
    val label = "(mean value, continuous-time average)"
    val rows = for (doc <- Seq("docA", "docB"); t <- Seq("t1", "t2"); seg <- 0 until 3)
      yield (doc, t, seg * 2 * S, 2 * S, "mean", Seq(seg + 0.5), label)
    val sums = scala.util.Random.shuffle(rows).toDF("doc_id", "transform_id",
      "seg_start_ns", "seg_duration_ns", "summary_name", "values", "label")
      .repartition(3)
    val lines = CsvSink.formatSummaries(sums, CsvSink.Options())
      .as[(String, String, Long, String)].collect()
      .sortBy(l => (l._1, l._2, l._3))
    assert(lines.length == 12)
    lines.groupBy(l => (l._1, l._2)).foreach { case ((doc, t), block) =>
      assert(block.map(_._4).toSeq == Seq(
        s"\"$doc\",0.000000000,2.000000000,mean,0.5,\"$label\"",
        s",2.000000000,2.000000000,mean,1.5,\"$label\"",
        s",4.000000000,2.000000000,mean,2.5,\"$label\""), s"$doc/$t")
    }
  }

  test("JAMS golden matrix: full documents per output shape") {
    // the per-shape golden table mirroring the reference's
    // tests/test-jams-writer/expected/{instants,curve-fsr,notes-regions,
    // grid-oss,af-2}.json field structure: label-as-value for 0-bin
    // instants (no label key), scalar value + label for curves, 9-decimal
    // durations for notes, array value for grids, digits option honored
    import graft.model.TransformSpec
    val spec = TransformSpec(id = "t1", plugin = "graft:test", output = "out",
      stepSize = 8, blockSize = 16, sampleRate = 1000.0,
      parameters = Map("sens" -> 40.0))
    val meta = "{ \"file_metadata\": { \"jams_version\": \"0.2.0\", " +
      "\"identifiers\": { \"filename\": \"dA\" }, \"duration\": %s }, " +
      "\"annotations\": [ { \"namespace\": \"unknown\", " +
      "\"annotation_metadata\": { \"annotation_tools\": \"Graft\", " +
      "\"data_source\": \"Automatic feature extraction\", \"annotator\": " +
      "{ \"plugin_id\": \"graft:test\", \"output_id\": \"out\", " +
      "\"step_size\": 8, \"block_size\": 16, \"sample_rate\": 1000, " +
      "\"parameters\": { \"sens\": 40 }, \"transform_id\": \"t1\" } }, " +
      "\"data\": [ %s ] } ] }"
    def doc(rows: Seq[(Long, Option[Long], Seq[Float], String)]) =
      rows.map { case (ts, d, vs, l) => ("dA", "t1", ts, d, vs, l) }
        .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")
    val matrix: Seq[(String, Seq[(Long, Option[Long], Seq[Float], String)], Int, String)] = Seq(
      ("instants",
        Seq((0L, None, Seq.empty[Float], "1 of 2"),
          ((15 * S) / 10, None, Seq.empty[Float], "2 of 2")), 6,
        meta.format("1.500000000",
          "{ \"time\": 0.000000000, \"duration\": 0.0, \"confidence\": 1.0, " +
            "\"value\": \"1 of 2\" }, " +
            "{ \"time\": 1.500000000, \"duration\": 0.0, \"confidence\": 1.0, " +
            "\"value\": \"2 of 2\" }")),
      ("curve",
        Seq((0L, None, Seq(0.0f), "1 of 2"), ((4 * S) / 10, None, Seq(0.1f), "2 of 2")), 6,
        meta.format("0.400000000",
          "{ \"time\": 0.000000000, \"duration\": 0.0, \"confidence\": 1.0, " +
            "\"label\": \"1 of 2\", \"value\": 0 }, " +
            "{ \"time\": 0.400000000, \"duration\": 0.0, \"confidence\": 1.0, " +
            "\"label\": \"2 of 2\", \"value\": 0.1 }")),
      ("notes-with-durations",
        Seq((0L, Some((175 * S) / 100), Seq(0.0f), "n1"),
          (1 * S, Some(S / 2), Seq(0.1f), "n2")), 6,
        meta.format("1.750000000",
          "{ \"time\": 0.000000000, \"duration\": 1.750000000, " +
            "\"confidence\": 1.0, \"label\": \"n1\", \"value\": 0 }, " +
            "{ \"time\": 1.000000000, \"duration\": 0.500000000, " +
            "\"confidence\": 1.0, \"label\": \"n2\", \"value\": 0.1 }")),
      ("grid",
        Seq((0L, None, Seq(0.0666667f, 0.1f, 0.133333f), "g1")), 6,
        meta.format("0.000000000",
          "{ \"time\": 0.000000000, \"duration\": 0.0, \"confidence\": 1.0, " +
            "\"label\": \"g1\", \"value\": [ 0.0666667, 0.1, 0.133333 ] }")),
      ("digits-2 (af-2 analog)",
        Seq((0L, None, Seq(0.00359596f), "")), 2,
        meta.format("0.000000000",
          "{ \"time\": 0.000000000, \"duration\": 0.0, \"confidence\": 1.0, " +
            "\"value\": 0.0036 }")))
    matrix.foreach { case (name, rows, digits, expected) =>
      val got = JsonSink.toJams(doc(rows), Seq(spec), digits)
        .select("jams").as[String].collect().head
      assert(got == expected, s"JAMS golden mismatch for $name:\nGOT  $got\nWANT $expected")
      // and every golden parses as JSON with the reference's key paths
      val p = org.json4s.jackson.JsonMethods.parse(got)
      assert((p \ "file_metadata" \ "jams_version") ==
        org.json4s.JString("0.2.0"), name)
      assert((p \\ "annotator" \ "plugin_id") ==
        org.json4s.JString("graft:test"), name)
    }
  }

  test("JAMS annotator emits plugin_version when the extractor exposes one") {
    import graft.model.TransformSpec
    val spec = TransformSpec(id = "t1", plugin = "graft:test", output = "out")
    // reference field order (expected/curve-fsr.json:14-17): plugin_id,
    // output_id, plugin_version, then the numeric config
    assert(JsonSink.annotatorJson(spec, Some("5")) ==
      "{ \"plugin_id\": \"graft:test\", \"output_id\": \"out\", " +
        "\"plugin_version\": \"5\", \"transform_id\": \"t1\" }")
    // absent version -> field omitted (the pre-r5 shape, goldens above)
    assert(!JsonSink.annotatorJson(spec).contains("plugin_version"))
    val feats = Seq(("dA", "t1", 0L, None: Option[Long], Seq(1.0f), ""))
      .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")
    val j = JsonSink.toJams(feats, Seq(spec), versions = Map("t1" -> "5"))
      .select("jams").as[String].collect().head
    val p = org.json4s.jackson.JsonMethods.parse(j)
    assert((p \\ "annotator" \ "plugin_version") == org.json4s.JString("5"))
  }

  test("JAMS file_metadata.duration uses inputEnds when provided") {
    val feats = Seq(("dA", "t1", 0L, None: Option[Long], Seq(1.0f), ""))
      .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")
    val ends = Seq(("dA", "t1", 13 * S / 2))
      .toDF("doc_id", "transform_id", "input_end_ns")
    val j = JsonSink.toJams(feats, inputEnds = Some(ends))
      .select("jams").as[String].collect().head
    assert(j.contains("\"duration\": 6.500000000"), j)
  }

  test("JAMS JSON: NaN values become strings, document is valid-ish") {
    val feats = Seq(
      ("d", "t", 0L, None: Option[Long], Seq(Float.NaN, 1.5f), "x"))
      .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")
    val j = JsonSink.toJams(feats).select("jams").as[String].collect().head
    assert(j.contains("\"NaN\""))
    assert(j.contains("\"file_metadata\""))
    assert(j.contains("\"annotations\""))
    // parses back as JSON
    val parsed = org.json4s.jackson.JsonMethods.parse(j)
    assert((parsed \ "annotations") != org.json4s.JNothing)
  }
}

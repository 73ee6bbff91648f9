package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Checkpointing, Dedup, Similarity, Windows}

/** Round-2 scale-shape guarantees: the IVF assignment stays map-only,
  * global row numbering avoids the single-partition window, connected
  * components handles string ids and the reliable-checkpoint config. */
class ScaleShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("IVF plan: cell assignment is map-only (single Window in whole plan)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val out = Similarity.ivfTopK(
      e.where($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv")),
      e.select($"vec_id".as("cid"), $"v".as("cv")),
      k = 3, nCentroids = 8, nProbe = 2)
    val p = out.queryExecution.executedPlan.toString
    // round 1 assigned cells via crossJoin+row_number: two extra Window
    // ops (and their hash exchanges) over |corpus| x nCentroids rows.
    // Now the only Window exec is the final per-query top-k re-rank
    // ("Window [" = WindowExec's toString; WindowGroupLimit is the
    // planner's top-k pushdown of that same window, not a second one).
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 1, s"expected exactly 1 Window (final top-k), got $windows:\n$p")
    assert(out.count() > 0)
  }

  test("cosineTopK re-rank runs a PARTIAL top-k below the exchange") {
    // the |C|x|Q| scored stream must shrink to <= k rows per (qid,
    // partition) BEFORE shuffling — Spark's WindowGroupLimit pushdown;
    // this pins that the query shape keeps qualifying for it
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val out = Similarity.cosineTopK(
      e.where($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv")),
      e.select($"vec_id".as("cid"), $"v".as("cv")), 5)
    val p = out.queryExecution.executedPlan.toString
    val partialIdx = p.indexOf("row_number(), 5, Partial")
    val exchangeIdx = p.indexOf("Exchange")
    assert(partialIdx >= 0, p)
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial top-k should sit BELOW the exchange:\n$p")
  }

  test("csv sink formatting stays codegen'd (native g_format, no UDF)") {
    val df = Seq(("d", "t", 0L, None: Option[Long], Seq(1.5f), ""))
      .toDF("doc_id", "transform_id", "ts", "duration", "values", "label")
    val lines = graft.sinks.CsvSink.formatFeatures(df, graft.sinks.CsvSink.Options())
    val p = lines.queryExecution.executedPlan.toString
    assert(p.contains("g_format"), p)
    assert(!p.contains("UDF"), s"sink plan must not contain a UDF:\n$p")
  }

  test("globalRowNumber == row_number over the global order, no global window") {
    val df = spark.range(1000).toDF("id")
      .withColumn("key", concat(lit("k"), lpad($"id".cast("string"), 5, "0")))
      .withColumn("v", $"id" * 3)
    val got = Windows.globalRowNumber(df, "key")
      .select($"key", $"pos").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = df.withColumn("pos",
        row_number().over(Window.orderBy("key")).cast("long"))
      .select($"key", $"pos").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("globalRowNumberByGroup == per-group row_number, one fused pass") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 2000).map(i =>
      (i.toLong, s"g${rnd.nextInt(4)}", rnd.nextDouble()))
    val df = rows.toDF("id", "grp", "v")
    val got = graft.operators.Windows
      .globalRowNumberByGroup(df, "grp", "id")
      .select($"id", $"pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("pos",
        row_number().over(Window.partitionBy("grp").orderBy("id")).cast("long"))
      .select($"id", $"pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("connectedComponents supports string node ids (lexicographic min label)") {
    // chain a—a1—a12 plus isolated pair z1—z2; prefix-extension ids on
    // purpose (the round-1 packed-key failure shape)
    val pairs = Seq(("a1", "a"), ("a1", "a12"), ("z2", "z1"))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "a1" -> "a", "a12" -> "a",
      "z1" -> "z1", "z2" -> "z1"))
  }

  test("reliable checkpoint path (spark.graft.checkpointDir) yields same clusters") {
    val dir = java.nio.file.Files.createTempDirectory("graftchk").toString
    spark.conf.set(Checkpointing.ConfKey, dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
      // the small-graph union-find branch never checkpoints; edge limit 0
      // forces the star branch, whose reliable checkpoints this test pins
      val got = Dedup.connectedComponents(pairs, "id_a", "id_b", 20, 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the reliable checkpoint actually wrote RDD blocks to the dir
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, s"nothing checkpointed under $dir")
    } finally spark.conf.unset(Checkpointing.ConfKey)
  }

  test("summarize with inputEnds: single-feature docs span to the input end") {
    // the reference rule: a final durationless feature extends to the END
    // OF THE INPUT; without inputEnds its span is 0 and a one-feature doc
    // means to null
    import graft.engine.{Engine, TransformSpecs}
    val specs = TransformSpecs.parseJson(
      """[{"id": "m", "plugin": "graft:energy",
        |  "output": "detectionfunction", "step_size": 8,
        |  "block_size": 16, "window_type": "rectangular",
        |  "summary_type": "mean"}]""".stripMargin)
    // 16 tokens -> exactly ONE frame
    val seqs = Seq(("solo", (1 to 16).toArray, 16, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val features = Engine.run(seqs, specs)
    val without = Engine.summarize(features, specs)
      .select($"values").head().getSeq[Double](0)
    assert(without.head.isNaN || without.head == 0.0 ||
      without == null || without.headOption.isEmpty ||
      java.lang.Double.isNaN(without.head),
      s"without inputEnds the single span is 0 -> degenerate mean: $without")
    val ie = Seq(("solo", "m", 16000000L)).toDF(
      "doc_id", "transform_id", "input_end_ns")
    val mean = Engine.summarize(features, specs, inputEnds = Some(ie))
      .select($"values").head().getSeq[Double](0).head
    val expect = (1 to 16).map(x => x * x).sum / 16.0
    assert(math.abs(mean - expect) < 1e-9,
      s"single feature spans to input end: mean=$mean expect=$expect")
  }

  test("rebucketTs: integral period is int64-exact; non-integral rounds to grid") {
    // integral period (1e6 Hz -> 10 Hz = 1e5 ticks): the double form put
    // the measured value one ulp under the grid and truncated to ...199999
    val a = graft.sources.Tables.rebucketTs(
      Seq(1704067207180000L).toDF("ts"), "ts", 1000000.0, 10.0)
      .as[Long].head()
    assert(a == 1704067207200000L)
    // non-integral period (3 Hz -> 2 Hz = 1.5 ticks): ts=3 IS a grid
    // point and must stay 3 (cast-truncation returned 2)
    val b = graft.sources.Tables.rebucketTs(
      Seq(0L, 3L, 5L).toDF("ts"), "ts", 3.0, 2.0)
      .as[Long].collect().sorted
    assert(b.toSeq == Seq(0L, 3L, 5L)) // grid 0, 3.0, 4.5->rounds to 5
    // NEGATIVE timestamps: floor-division semantics (DuckDB `//`), not
    // Spark `div` truncation toward zero — ts=-149999 with period 1e5
    // snaps to -100000 (floor((-149999+50000)/1e5) = -1), where `div`
    // silently returned 0
    val c = graft.sources.Tables.rebucketTs(
      Seq(-151000L, -149999L, -50000L, -49999L).toDF("ts"), "ts",
      1000000.0, 10.0)
      .as[Long].collect().sorted
    // floor((-151000+50000)/1e5) = -2 -> -200000 (div gave -100000);
    // floor((-149999+50000)/1e5) = -1 -> -100000 (div gave 0);
    // -50000 and -49999 -> 0
    assert(c.toSeq == Seq(-200000L, -100000L, 0L, 0L),
      s"negative-ts floor snap broken: ${c.toSeq}")
  }

  test("packGreedy matches under the reliable checkpoint path too") {
    val dir = java.nio.file.Files.createTempDirectory("graftchk2").toString
    val df = spark.range(500).toDF("id")
      .withColumn("doc_id", concat(lit("d"), lpad($"id".cast("string"), 4, "0")))
      .withColumn("n_tok", pmod($"id" * 37 + 11, lit(900)) + 1)
      .select("doc_id", "n_tok")
    val base = graft.operators.Packing.packGreedy(df, "doc_id", "n_tok", 2048)
      .select($"doc_id", $"pack_start").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set(Checkpointing.ConfKey, dir)
    try {
      val rel = graft.operators.Packing.packGreedy(df, "doc_id", "n_tok", 2048)
        .select($"doc_id", $"pack_start").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rel == base)
    } finally spark.conf.unset(Checkpointing.ConfKey)
  }
}

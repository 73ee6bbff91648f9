package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import graft.engine.{Engine, TransformSpecs}
import graft.model.{SummaryType, TransformSpec}
import graft.sources.SequenceGen

class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val seqs = SequenceGen.generate(spark, 10, maxLen = 512, seed = 42L).toDF.cache()

  test("clicks extractor finds exactly the 3 and 6 marker instants") {
    val out = Engine.run(seqs, Seq(TransformSpec(id = "t", plugin = "graft:clicks")))
      .collect()
    val byDoc = out.groupBy(_.getAs[String]("doc_id"))
    assert(byDoc("doc_0000000001").length == 3)
    assert(byDoc("doc_0000000002").length == 6)
    // positions 85, 255, 425 at 1000 pos/sec -> 85ms... in ns
    assert(byDoc("doc_0000000001").map(_.getAs[Long]("ts")).sorted.toSeq ==
      Seq(85000000L, 255000000L, 425000000L))
    assert(out.forall(_.getAs[String]("label") == "click"))
  }

  test("regions extractor RLE: silence doc is one full-length run") {
    val out = Engine.run(seqs,
      Seq(TransformSpec(id = "t", plugin = "graft:regions")))
      .where($"doc_id" === "doc_0000000000").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("ts") == 0L)
    assert(out.head.getAs[Long]("duration") == 512L * 1000000L)
    assert(out.head.getAs[scala.collection.Seq[Float]]("values").head == 0.0f)
  }

  test("plugin-instance sharing: one extraction pass serves two transforms") {
    val specs = Seq(
      TransformSpec(id = "a", plugin = "graft:energy", output = "detectionfunction"),
      TransformSpec(id = "b", plugin = "graft:energy", output = "onsets"))
    val out = Engine.run(seqs, specs)
    val ids = out.select("transform_id").distinct().as[String].collect().toSet
    assert(ids == Set("a", "b"))
    // sharing is plan-level: the physical plan scans the source once per
    // sharing group (the spec fan-out is a broadcast join, not a re-scan)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
    // one scan leaf of the cached sequences: the shared pass emits both
    // outputs from one walk over the frames, not from one union branch each
    val scans = new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s
    }
    assert(scans.size == 1, s"scans of the cached sequences: ${scans.size}")
  }

  test("time-range filter (start/duration) trims features") {
    val all = Engine.run(seqs, Seq(TransformSpec(id = "t", plugin = "graft:clicks")))
      .where($"doc_id" === "doc_0000000001")
    val trimmed = Engine.run(seqs, Seq(TransformSpec(id = "t",
      plugin = "graft:clicks", start = 100000000L, duration = 200000000L)))
      .where($"doc_id" === "doc_0000000001")
    assert(all.count() == 3)
    val ts = trimmed.select("ts").as[Long].collect().toSeq
    assert(ts == Seq(255000000L)) // only the click inside [0.1s, 0.3s)
  }

  test("histogram extractor: global histogram sums to 1") {
    val out = Engine.run(seqs, Seq(TransformSpec(id = "t",
      plugin = "graft:histogram", output = "global")))
      .where($"doc_id" === "doc_0000000000").collect()
    assert(out.length == 1)
    val vs = out.head.getAs[scala.collection.Seq[Float]]("values")
    assert(vs.length == 16)
    assert(math.abs(vs.map(_.toDouble).sum - 1.0) < 1e-6)
    assert(math.abs(vs.head - 1.0) < 1e-6) // silence: all tokens in bucket 0
  }

  test("engine summaries carry reference layout and labels") {
    val specs = Seq(TransformSpec(id = "m", plugin = "graft:energy",
      output = "detectionfunction", summaryType = Some(SummaryType.Mean)))
    val feats = Engine.run(seqs, specs)
    val sums = Engine.summarize(feats, specs)
      .where($"doc_id" === "doc_0000000000").collect()
    assert(sums.length == 1)
    val r = sums.head
    assert(r.getAs[String]("summary_name") == "mean")
    assert(r.getAs[String]("label") == "(mean value, continuous-time average)")
    assert(r.getAs[Long]("seg_start_ns") == 0L)
    assert(r.getAs[Long]("seg_duration_ns") > 0L)
  }

  test("P5: binCount==0 outputs are excluded from summaries, not poisoned") {
    // instants outputs (clicks) carry EMPTY value arrays — the reference
    // skips binCount==0 outputs in value-space writers/summaries rather
    // than emitting degenerate rows (AudioDBFeatureWriter binCount==0
    // skip). A mean over clicks must yield ZERO summary rows...
    val clickSpec = Seq(TransformSpec(id = "c", plugin = "graft:clicks",
      summaryType = Some(SummaryType.Mean)))
    val clickSums = Engine.summarize(Engine.run(seqs, clickSpec), clickSpec)
    assert(clickSums.count() == 0L)
    // ...and in a MIXED batch the valued transform still summarizes while
    // the instants transform contributes nothing
    val mixed = Seq(
      TransformSpec(id = "m", plugin = "graft:energy",
        output = "detectionfunction", summaryType = Some(SummaryType.Mean)),
      TransformSpec(id = "c", plugin = "graft:clicks",
        summaryType = Some(SummaryType.Mean)))
    val sums = Engine.summarize(Engine.run(seqs, mixed), mixed)
      .select($"transform_id").distinct().as[String].collect().toSet
    assert(sums == Set("m"), s"instants transform leaked into summaries: $sums")
  }

  test("multi-type summary executes the vector aggregator ONCE (no fan-out)") {
    def mk(ts: Seq[(String, SummaryType)]) = ts.map { case (id, t) =>
      TransformSpec(id = id, plugin = "graft:energy",
        output = "detectionfunction", summaryType = Some(t))
    }
    val one = mk(Seq("a" -> SummaryType.Mean))
    val three = mk(Seq("a" -> SummaryType.Mean, "b" -> SummaryType.Sum,
      "c" -> SummaryType.Variance))
    // the aggregator must appear in the SAME number of plan nodes for a
    // 3-type request as for a 1-type request: summary routing is a
    // broadcast lookup + CASE, not per-type union branches each re-running
    // the reduce-side Aggregator merge
    def aggCount(specs: Seq[TransformSpec]): Int = {
      val out = Engine.summarize(Engine.run(seqs, specs), specs)
      "vectormomentsagg".r
        .findAllIn(out.queryExecution.executedPlan.toString.toLowerCase).length
    }
    val c1 = aggCount(one)
    assert(c1 > 0)
    assert(aggCount(three) == c1)
    // and rows still route to their transform's requested type
    val out = Engine.summarize(Engine.run(seqs, three), three)
    val names = out.select("transform_id", "summary_name").distinct()
      .as[(String, String)].collect().toSet
    assert(names == Set("a" -> "mean", "b" -> "sum", "c" -> "variance"))
  }

  test("transform spec XML parses the reference format") {
    val spec = TransformSpecs.parseXml(
      """<transform id="vamp:vamp-example-plugins:percussiononsets" program=""
        |  stepSize="512" blockSize="1024" windowType="hanning"
        |  startTime="0.000000000" duration="0.000000000" sampleRate="0">
        |  <parameter name="sensitivity" value="40"/>
        |  <parameter name="threshold" value="3"/>
        |</transform>""".stripMargin)
    assert(spec.plugin == "vamp:vamp-example-plugins:percussiononsets")
    assert(spec.stepSize == 512 && spec.blockSize == 1024)
    assert(spec.parameters == Map("sensitivity" -> 40.0, "threshold" -> 3.0))
  }

  test("transform spec JSON parses multi-transform files with summaries") {
    val specs = TransformSpecs.parseJson(
      """[{"plugin": "graft:energy", "output": "detectionfunction",
        |  "summary_type": "mean"},
        | {"plugin": "graft:energy", "output": "detectionfunction",
        |  "step_size": 32, "block_size": 64, "summary_type": "median"}]""".stripMargin)
    assert(specs.length == 2)
    assert(specs.head.summaryType.contains(SummaryType.Mean))
    assert(specs(1).stepSize == 32 && specs(1).blockSize == 64)
    assert(specs.map(_.id) == Seq("transform0", "transform1"))
  }

  test("segment list parser reproduces the reference's sloppy semantics") {
    // fixture shape: tests/test-summaries/transforms/segmentlist:1-5
    val text = " \n# ignore this\n0\n# 4,\"ignore this too\"\n,9.9,15.2,\"label\",\"rest\"\n"
    val b = TransformSpecs.parseSegments(text)
    assert(b == Seq(0L, 9900000000L))
    intercept[IllegalArgumentException] {
      TransformSpecs.parseSegments("not-a-number\n")
    }
  }

  test("skeleton emits parseable default config (reference --skeleton)") {
    val sk = TransformSpecs.skeleton("graft:energy")
    val specs = TransformSpecs.parseJson(sk)
    assert(specs.head.plugin == "graft:energy")
    assert(specs.head.parameters("sensitivity") == 40.0)
    assert(Engine.list.contains("graft:energy:onsets"))
  }

  test("windowType variants change the detectionfunction (taper applied)") {
    def df(wt: String) = Engine.run(seqs, Seq(TransformSpec(id = "t",
      plugin = "graft:energy",
      windowType = graft.model.WindowShape.fromName(wt))))
      .where($"doc_id" === "doc_0000000003" && $"output" === "detectionfunction")
      .select("values").as[Seq[Float]].collect().map(_.head)
    val hann = df("hanning")
    val rect = df("rectangular")
    val default = df("unsupported-shape") // falls back to hanning like the reference
    assert(hann.toSeq == default.toSeq)
    assert(hann.toSeq != rect.toSeq)
  }

  test("W3 spectrum: native FrameSpectrum equals a naive DFT; DC bin exact") {
    import graft.engine.SpectrumExtractor
    import graft.model.WindowShape
    val toks = Array(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3,
      2, 3, 8, 4, 6, 2, 6, 4)
    val (cre, cim) = SpectrumExtractor.dftCoefficients(WindowShape.Hanning, 16)
    val got = Seq(toks.toSeq).toDF("tokens")
      .select(graft.functions.FrameSpectrum.spectrum(
        $"tokens", 8, 16, cre, cim).as("s"))
      .as[Seq[Seq[Float]]].head()
    assert(got.length == 2) // frames at 0 and 8
    // naive reference DFT, same literals, same accumulation order
    def naive(off: Int): Seq[Float] = (0 until 9).map { k =>
      var re = 0.0; var im = 0.0
      for (j <- 0 until 16) {
        re += toks(off + j) * cre(k)(j); im += toks(off + j) * cim(k)(j)
      }
      math.sqrt(re * re + im * im).toFloat
    }
    assert(got(0) == naive(0) && got(1) == naive(8))
    // rectangular DC bin is exactly the frame sum (integer-exact doubles)
    val (rre, rim) = SpectrumExtractor.dftCoefficients(WindowShape.Rectangular, 16)
    val rect = Seq(toks.toSeq).toDF("tokens")
      .select(graft.functions.FrameSpectrum.spectrum(
        $"tokens", 8, 16, rre, rim).as("s"))
      .as[Seq[Seq[Float]]].head()
    assert(rect(0)(0) == toks.take(16).sum.toFloat)
  }

  test("W3 spectrum runs through Engine.run with ShiftData timestamps") {
    val seqs = Seq(("d1", (1 to 24).toArray.toSeq, 24, "s"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val specs = graft.engine.TransformSpecs.parseJson(
      """[{"id": "sp", "plugin": "graft:spectrum", "step_size": 8,
         |  "block_size": 16}]""".stripMargin)
    val rows = Engine.run(seqs, specs)
      .orderBy("ts").collect()
    assert(rows.length == 2) // frames at position 0 and 8
    // ShiftData: ts at block START (0 and 8 ms at the default 1000/s)
    assert(rows.map(_.getAs[Long]("ts")).toSeq == Seq(0L, 8000000L))
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("values").size == 9))
  }

  /** Summary rows as sortable keys plus their value arrays. */
  private def summaryRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getAs[String]("doc_id"), r.getAs[String]("transform_id"),
        r.getAs[Long]("seg_start_ns"), r.getAs[Long]("seg_duration_ns"),
        r.getAs[String]("summary_name"), r.getAs[String]("label")) ->
        r.getAs[scala.collection.Seq[Double]]("values").toSeq
    }.sortBy(_._1.toString)

  test("summarize over a batch equals the union of per-spec summarize calls") {
    import SummaryType._
    val df = TransformSpec(id = "", plugin = "graft:energy", output = "detectionfunction")
    val grid = TransformSpec(id = "", plugin = "graft:histogram", output = "grid")
    val specs =
      // one stream, four summary types (the CLI's --summaries expansion)
      Seq(Mean, Median, Mode, Sd).map(t => df.copy(id = s"df:${t.name}", summaryType = Some(t))) ++
      Seq(
        // differ from df:* only in start/duration: their own streams
        df.copy(id = "late:mean", start = 100000000L, duration = 250000000L,
          summaryType = Some(Mean)),
        df.copy(id = "late:count", start = 100000000L, duration = 250000000L,
          summaryType = Some(Count)),
        df.copy(id = "early:mean", start = 0L, duration = 200000000L,
          summaryType = Some(Mean)),
        grid.copy(id = "grid:median", summaryType = Some(Median)),
        grid.copy(id = "grid:max", summaryType = Some(Max)),
        // instants (no values): must give no rows
        TransformSpec(id = "clicks:mean", plugin = "graft:clicks", summaryType = Some(Mean)),
        // requests no summary; its rows still set each doc's last end
        TransformSpec(id = "regions", plugin = "graft:regions"))
    for (seed <- Seq(42L, 7L)) {
      val docs = SequenceGen.generate(spark, 10, maxLen = 512, seed = seed).toDF
      val feats = Engine.run(docs, specs).localCheckpoint()
      val ends = docs.select($"doc_id", ($"n_tok".cast("long") * 1000000L + 3000000L)
        .as("input_end_ns")).crossJoin(specs.map(_.id).toDF("transform_id"))
      for (bounds <- Seq(Nil, Seq(150000000L, 300000000L));
           ie <- Seq(None, Some(ends))) {
        val batch = summaryRows(Engine.summarize(feats, specs, bounds, ie))
        val single = summaryRows(specs.filter(_.summaryType.nonEmpty)
          .map(s => Engine.summarize(feats, Seq(s), bounds, ie)).reduce(_ union _))
        val ctx = s"seed $seed, boundaries $bounds, inputEnds ${ie.nonEmpty}"
        assert(batch.map(_._1).toSeq == single.map(_._1).toSeq, ctx)
        batch.zip(single).foreach { case ((k, a), (_, b)) =>
          assert(a.size == b.size && a.zip(b).forall { case (x, y) =>
            (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
          }, s"$ctx $k: $a vs $b")
        }
        val ids = batch.map(_._1._2).toSet
        assert(!ids.contains("clicks:mean"), ctx)
        assert(ids.contains("late:mean") && ids.contains("early:mean") && ids.contains("grid:max"), ctx)
      }
      // start/duration keep streams apart: the windowed means differ
      val means = summaryRows(Engine.summarize(feats, specs)).collect {
        case (k, v) if k._5 == "mean" => (k._1, k._2) -> v
      }.toMap
      assert(means.keys.map(_._1).exists(d =>
        means.get((d, "late:mean")) != means.get((d, "df:mean"))), s"seed $seed")
    }
  }

  test("K summary types on one transform feed the reducer N rows, not K*N") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val specs = Seq(SummaryType.Mean, SummaryType.Median, SummaryType.Mode, SummaryType.Sd)
      .map(t => TransformSpec(id = s"df:${t.name}", plugin = "graft:energy",
        output = "detectionfunction", summaryType = Some(t)))
    val feats = Engine.run(seqs, specs).localCheckpoint()
    val n = feats.where($"transform_id" === "df:mean").count()
    assert(n > 0 && feats.count() == 4 * n)
    val sums = Engine.summarize(feats, specs)
    assert(sums.count() == 4 * feats.select("doc_id").distinct().count())
    // rows entering every partial aggregate of the executed plan: the
    // vector reducers and the segment end share one aggregate over one
    // copy of the stream (a per-copy, two-pass plan would read 8N)
    val helper = new AdaptiveSparkPlanHelper {}
    val partials = helper.collect(sums.queryExecution.executedPlan) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a
    }
    assert(partials.nonEmpty)
    assert(partials.map(_.child.execute().count()).sum == n,
      sums.queryExecution.executedPlan.toString)
  }
}

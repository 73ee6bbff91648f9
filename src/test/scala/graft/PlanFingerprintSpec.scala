package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, explode, lit}
import graft.engine.{ChangepointsExtractor, ClicksExtractor, EnergyExtractor,
  Pipelines, PlanFingerprint, PlanProbes, Queries, Queries3, Queries5,
  Queries6, RegionsExtractor, SpectrumExtractor}
import graft.model.TransformSpec
import graft.sources.SequenceGen

/** Plan-shape regression net over the heavy gate chains (VERDICT r4 #3):
  * the scale-safety claims — capped bucket equi-joins, native one-pass
  * as-of, NO cartesian stage anywhere except the deliberate q33 baseline
  * — asserted as physical-plan node counts, so an edit that un-pushes a
  * cap filter or regresses a join to a cartesian product fails CI at
  * sf0.001 instead of only dying at corpus scale. `graft.Bench` records
  * the same fingerprints per gate into BENCH/metrics.json. */
class PlanFingerprintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("LSH pair generation (q39/q40 input): no cartesian, bounded exchanges") {
    val fp = PlanFingerprint.of(PlanProbes.all(spark, dir)
      .find(_._1 == "probe_lsh_pairs").get._2)
    info(s"probe_lsh_pairs: ${fp.json}")
    assert(fp.cartesians == 0, "bucket blocking must stay an equi-join")
    assert(fp.broadcastNLJoins == 0)
    // measured 3 at sf0.001: two cap windows + the pair dedup; the
    // bucket equi-join itself reuses the window partitioning (or
    // broadcasts). 4 allows a stats-driven BHJ<->SMJ flip, no more.
    assert(fp.exchanges <= 4,
      s"LSH pair chain grew to ${fp.exchanges} exchanges")
  }

  test("q54 contamination pair table: no cartesian, no NL join") {
    val fp = PlanFingerprint.of(Queries5.q54Contamination(spark, dir))
    info(s"q54: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0,
      "contamination must stay hash/band equi-joins")
    // measured 5 at sf0.001 (two cap windows, pair dedup, verdict
    // group-agg, final sort); 7 allows join-strategy wobble only
    assert(fp.exchanges <= 7,
      s"contamination chain grew to ${fp.exchanges} exchanges")
  }

  test("q33 exact baseline: the ONE deliberate broadcast NL join") {
    val fp = PlanFingerprint.of(Queries3.q33EmbedDup(spark, dir))
    info(s"q33: ${fp.json}")
    assert(fp.broadcastNLJoins == 1 && fp.cartesians == 0)
    // map-only up to the final orderBy: broadcast keeps the corpus side
    // shuffle-free
    assert(fp.exchanges == 1, s"q33 exchanges: ${fp.exchanges}")
  }

  test("native as-of (q31): exactly one AsOfJoinExec, no fallback join") {
    val fp = PlanFingerprint.of(Queries3.q31AsofNative(spark, dir))
    info(s"q31: ${fp.json}")
    assert(fp.asofNative == 1)
    assert(fp.sortMergeJoins == 0 && fp.cartesians == 0 &&
      fp.broadcastNLJoins == 0)
    // one exchange per side on the entity key + the final orderBy range
    // exchange — the "one shuffle each" as-of contract, exactly
    assert(fp.exchanges == 3, s"native as-of exchanges: ${fp.exchanges}")
  }

  test("q35 CC cluster assembly: lineage truncated, no cartesian") {
    // the iterative CC rounds checkpoint per round (lineage truncation
    // is itself the scale-safety property), so the final plan is the
    // label-assembly stage: it must stay small and equi-join-only. The
    // one deliberate BNL join is q35's input (the q33 exact baseline).
    val fp = PlanFingerprint.of(Queries3.q35DedupClusters(spark, dir))
    info(s"q35: ${fp.json}")
    assert(fp.cartesians == 0, "CC assembly must stay equi-join")
    assert(fp.exchanges <= 3,
      s"q35 assembly grew to ${fp.exchanges} exchanges — lineage " +
        "truncation may have stopped cutting the per-round joins")
  }

  test("q59 segment dedup: keyed equi-joins only, bounded exchanges") {
    val fp = PlanFingerprint.of(Queries6.q59SegmentDedup(spark, dir))
    info(s"q59: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0,
      "keep-first election must stay a keyed aggregate + equi-join")
    // keeper agg on segment + survivor join + reassembly agg on doc +
    // join back to input + final orderBy; allow BHJ<->SMJ wobble
    assert(fp.exchanges <= 8,
      s"segment-dedup chain grew to ${fp.exchanges} exchanges")
  }

  test("q60 redact: map-only above the scan (single orderBy exchange)") {
    val fp = PlanFingerprint.of(Queries6.q60Redact(spark, dir))
    info(s"q60: ${fp.json}")
    assert(fp.exchanges == 1, s"redact must stay map-only, " +
      s"got ${fp.exchanges} exchanges")
    assert(fp.broadcastHashJoins == 0 && fp.sortMergeJoins == 0 &&
      fp.cartesians == 0 && fp.broadcastNLJoins == 0)
  }

  test("q61 epoch shuffle: prefix-sum layout, no corpus re-shuffle") {
    // packGreedy materializes the ranged prefix sums, so the visible
    // plan is the broadcast offsets join + the gate's orderBy — the
    // corpus is never hash-shuffled after the ONE range exchange
    val fp = PlanFingerprint.of(Queries6.q61EpochShuffle(spark, dir))
    info(s"q61: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0 &&
      fp.sortMergeJoins == 0)
    assert(fp.exchanges <= 2,
      s"epoch-shuffle assembly grew to ${fp.exchanges} exchanges")
  }

  test("window as-of (q2): no cartesian/NL stage") {
    val fp = PlanFingerprint.of(Queries.q2AsofJoin(spark, dir))
    info(s"q2: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0)
  }

  test("q6/q7/q8 run the product reducers; q7 has no window over value") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    // walks into the executed AQE query stages
    val stages = new AdaptiveSparkPlanHelper {}
    for ((q, df, agg) <- Seq(
        ("q6", Queries.q6SummaryCt(spark, dir), "vectormomentsagg"),
        ("q7", Queries.q7MedianModeCt(spark, dir), "vectormedianmodeagg"),
        ("q8", Queries.q8VarianceCt(spark, dir), "vectormomentsagg"))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains(agg), s"$q:\n$plan")
      // the only windows are the span rule's, over each user's ts
      val orderedBy = stages.collect(plan) { case w: WindowExec => w.orderSpec }
        .flatten.flatMap(_.child.references.map(_.name)).distinct
      assert(orderedBy == Seq("ts"), s"$q orders its windows by $orderedBy:\n$plan")
    }
  }

  test("the span rule's windows share one sort (summarize and q6)") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.engine.Engine
    import graft.model.SummaryType
    val stages = new AdaptiveSparkPlanHelper {}
    // the sorts between a window and the exchange that feeds it
    def sortsUnder(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: Exchange | _: QueryStageExec => Nil
      case s: SortExec => s +: s.children.flatMap(sortsUnder)
      case o => o.children.flatMap(sortsUnder)
    }
    def spanSorts(df: DataFrame): (Int, Int) = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val windows = stages.collect(plan) { case w: WindowExec => w }
      val sorts = windows.flatMap(w => sortsUnder(w.child))
        .map(System.identityHashCode).distinct
      (windows.size, sorts.size)
    }
    val specs = Seq(
      TransformSpec(id = "df", plugin = "graft:energy",
        output = "detectionfunction", summaryType = Some(SummaryType.Mean)),
      TransformSpec(id = "grid", plugin = "graft:histogram",
        output = "grid", summaryType = Some(SummaryType.Median)))
    val seqs = SequenceGen.generate(spark, 12, seed = 5L).toDF()
    val ends = seqs.select(col("doc_id"), explode(lit(Array("df", "grid"))).as("transform_id"),
      (col("n_tok").cast("long") * 1000000L).as("input_end_ns"))
    // q6 has no transform column: its two windows have one spec and
    // collapse into one window node
    for ((name, df, expectedWindows) <- Seq(
        ("summarize", Engine.summarize(Engine.run(seqs, specs), specs,
          inputEnds = Some(ends)), 2),
        ("q6", Queries.q6SummaryCt(spark, dir), 1))) {
      val (windows, sorts) = spanSorts(df)
      assert(windows == expectedWindows && sorts == 1,
        s"$name: $windows span windows over $sorts sorts:\n${df.queryExecution.executedPlan}")
    }
  }

  /** A sequences table on parquet with one extra wide column no pipeline
    * reads: a scan that reads it has lost its column pruning. */
  private lazy val wideSeqs: DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graftwide").toString + "/seqs"
    SequenceGen.generate(spark, 40, seed = 3L).toDF()
      .withColumn("wide", lit("w" * 256)).write.parquet(p)
    spark.read.parquet(p)
  }

  /** The distinct ReadSchemas (sorted field names) of the parquet scans in
    * `df`'s plan. */
  private def readSchemas(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.sorted.mkString(",")
    }.distinct.sorted

  test("every PlanBarrier site reads only the columns it uses") {
    // column pruning must reach the scan through each barrier: the sites
    // are the five barrier extractors and the bench pipeline's two
    // compact-row sides
    val dt = "doc_id,tokens"
    val dtn = "doc_id,n_tok,tokens"
    val sites: Seq[(String, DataFrame, Seq[String])] = Seq(
      EnergyExtractor -> dt, SpectrumExtractor -> dt, RegionsExtractor -> dtn,
      ClicksExtractor -> dtn, ChangepointsExtractor -> dtn).map { case (ex, cols) =>
        (ex.name, ex.extract(wideSeqs, TransformSpec(id = "t", plugin = ex.name)),
          Seq(cols))
      } :+ (("asofFeaturePipelineNativeOver",
        Pipelines.asofFeaturePipelineNativeOver(wideSeqs),
        Seq("doc_id,n_tok", dt)))
    sites.foreach { case (name, df, expected) =>
      assert(readSchemas(df) == expected, s"$name: ReadSchema widened")
    }
  }

  test("bench as-of pipeline: two exchanges, two compact-row sorts, one as-of") {
    // the frozen headline and the asof_features workload run this plan;
    // the sorts are on the compact per-doc rows, the exploded timelines
    // stream into the as-of unsorted by the planner (ordering claims)
    val fp = PlanFingerprint.of(Pipelines.asofFeaturePipelineNativeOver(wideSeqs))
    info(s"asofFeaturePipelineNativeOver: ${fp.json}")
    assert(fp == PlanFingerprint(exchanges = 2, sorts = 2,
      broadcastHashJoins = 0, broadcastNLJoins = 0, sortMergeJoins = 0,
      cartesians = 0, asofNative = 1, wholeStageCodegen = 0), fp.json)
    // the initial adaptive plan has no codegen stages yet: count them on
    // the non-adaptive plan, where every non-codegen node splits a stage
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    val stages = try PlanFingerprint.of(
      Pipelines.asofFeaturePipelineNativeOver(wideSeqs)).wholeStageCodegen
    finally spark.conf.set(key, saved)
    assert(stages == 6, s"codegen stages: $stages")
  }
}

package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.AsOf
import graft.sources.SequenceGen

/** The headline benchmark pipeline (BASELINE.json metric): sequences/sec
  * through the as-of join + window-feature stage over the synthetic token
  * table.
  *
  * Stages (all one DAG):
  *   1. scan/generate sequences (doc_id, tokens, n_tok, source)
  *   2. window-feature stage: per-frame energy over sliding frames
  *      (array-local HOF, no shuffle) -> feature timeline (doc_id, ts, v)
  *   3. query timeline: deterministic pseudo-random ts per doc
  *   4. as-of join (zero leakage) queries -> latest prior frame feature
  *   5. sanity aggregate (count + checksum) to force full evaluation
  */
object Pipelines {

  def asofFeaturePipeline(spark: SparkSession, nDocs: Long,
      step: Int = 8, block: Int = 16, queriesPerDoc: Int = 4): DataFrame =
    asofFeaturePipelineOver(SequenceGen.generate(spark, nDocs).toDF(),
      step, block, queriesPerDoc)

  /** Same pipeline over an existing sequences table (the bench materializes
    * the generated table to parquet once so both parallelism levels scan
    * identical bytes — and so the measured stage is scan + features + join,
    * not synthetic-data generation). */
  def asofFeaturePipelineOver(seqs: DataFrame,
      step: Int = 8, block: Int = 16, queriesPerDoc: Int = 4): DataFrame = {
    // window-feature stage: per-frame mean-square token value — native
    // FrameAgg expression (codegen'd primitive loop), array-local, no shuffle
    val features = seqs
      .withColumn("df",
        graft.functions.FrameAgg.energy(col("tokens"), step, block))
      .select(col("doc_id"), posexplode(col("df")))
      .select(col("doc_id"), (col("pos") * step * 1000000L).as("ts"),
        col("col").as("fv"))
    // query timeline: a few deterministic ts per doc over the doc's span
    val queries = seqs
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0), lit(queriesPerDoc - 1))).as("k"))
      .select(col("doc_id"),
        pmod(abs(xxhash64(col("doc_id"), col("k"))),
          greatest(col("n_tok").cast("long"), lit(1L)) * 1000000L).as("ts"))
    AsOf.join(queries, features, "doc_id", "ts", Seq("fv"))
  }

  /** Same pipeline using the NATIVE Catalyst as-of operator
    * (graft.plans.AsOfJoinExec): single-pass sort-merge-carry, no window
    * buffering; plan = 1 exchange + 1 sort per side.
    *
    * Shuffle diet (guide §2.3/§8): both sides are exchanged as the
    * COMPACT per-doc rows — (doc_id, frame-array) and (doc_id, n_tok) —
    * and the frame/query explode happens AFTER the exchange, so the
    * shuffle moves one row per document (~5x fewer bytes than the
    * exploded timeline; at 10^12 rows the difference is the network
    * bill). The explode preserves the hash partitioning on doc_id, so
    * the plan keeps exactly one exchange + one sort per side — the
    * partition count is pinned on both sides so the sides stay
    * co-partitioned for the exec's zip. */
  def asofFeaturePipelineNativeOver(seqs: DataFrame,
      step: Int = 8, block: Int = 16, queriesPerDoc: Int = 4): DataFrame = {
    val parts = seqs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Sort diet on top of the shuffle diet: sorting the COMPACT doc rows
    // by key (one row per doc) and exploding afterwards yields a stream
    // that is already (doc_id, ts)-sorted — frame positions explode in
    // ascending ts order, and the query timestamps are array_sort'ed
    // in-row before the explode. AsOfNative.assumeSorted declares that
    // ordering to the planner (skipping two full sorts of the exploded
    // timelines); each claim checks every row it emits, so a future edit
    // breaking the invariant fails loudly (see AssumeOrderedNode).
    // The compact rows sit under a PlanBarrier: InferFiltersFromGenerate
    // adds a size(child)>0 filter before every explode, and pushdown
    // would substitute the frame-energy expression into it — evaluating
    // the frame loop up to 3x per row (the guide §4.4 duplication, in JVM
    // form). Above the barrier the inferred filter tests the already-
    // computed column instead.
    val compactF = graft.plans.PlanBarrier(seqs
      .withColumn("df",
        graft.functions.FrameAgg.energy(col("tokens"), step, block))
      .select(col("doc_id"), col("df"))
      .repartition(parts, col("doc_id"))
      .sortWithinPartitions("doc_id"))
    val features = graft.plans.AsOfNative.assumeSorted(compactF
      .select(col("doc_id"), posexplode(col("df")))
      .select(col("doc_id"), (col("pos") * step * 1000000L).as("ts"),
        col("col").as("fv")),
      "doc_id", "ts")
    val compactQ = graft.plans.PlanBarrier(seqs
      .select(col("doc_id"), col("n_tok"))
      .repartition(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .select(col("doc_id"),
        array_sort(transform(sequence(lit(0), lit(queriesPerDoc - 1)),
          k => pmod(abs(xxhash64(col("doc_id"), k)),
            greatest(col("n_tok").cast("long"), lit(1L)) * 1000000L)))
          .as("tsArr")))
    val queries = graft.plans.AsOfNative.assumeSorted(compactQ
      .select(col("doc_id"), explode(col("tsArr")).as("ts")),
      "doc_id", "ts")
    graft.plans.AsOfNative.join(queries, features, "doc_id", "ts", Seq("fv"))
  }

  /** Co-located fast path: when the feature timeline is a dense GRID
    * (OneSamplePerStep timestamps, exactly the reference's dense outputs,
    * runner/FeatureExtractionManager.cpp:941) and queries derive from the
    * same row, the as-of join degenerates to an index lookup into the
    * frame array: latest frame ts <= q.ts is frame floor(q.ts/step). ZERO
    * shuffle — the 10^12-scale plan when the table is bucketed by entity.
    * Sparse (vsr) timelines still need the general sort-merge path. */
  def asofColocatedPipeline(seqs: DataFrame,
      step: Int = 8, block: Int = 16, queriesPerDoc: Int = 4): DataFrame = {
    val stepNs = step * 1000000L
    seqs
      .withColumn("df", graft.functions.FrameAgg.energy(col("tokens"), step, block))
      .select(col("doc_id"), col("df"), col("n_tok"),
        explode(sequence(lit(0), lit(queriesPerDoc - 1))).as("k"))
      .select(col("doc_id"), col("df"),
        pmod(abs(xxhash64(col("doc_id"), col("k"))),
          greatest(col("n_tok").cast("long"), lit(1L)) * 1000000L).as("ts"))
      .select(col("doc_id"), col("ts"),
        when(size(col("df")) > 0,
          element_at(col("df"),
            least(floor(col("ts") / stepNs).cast("int") + 1, size(col("df")))))
          .as("fv"),
        when(size(col("df")) > 0,
          least(floor(col("ts") / stepNs).cast("long"),
            size(col("df")).cast("long") - 1L) * stepNs)
          .as("matched_ts"))
  }

  /** Force full evaluation; returns (queryRows, matchedRows, checksum). */
  def runAndChecksum(df: DataFrame): (Long, Long, Double) = {
    val r = df.agg(
      count(lit(1)).as("n"),
      count(col("fv")).as("matched"),
      coalesce(sum(col("fv")), lit(0.0)).as("chk")).collect()(0)
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }
}

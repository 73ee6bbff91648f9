package graftbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Engine, Main => Cli, Pipelines}
import graft.functions.{FrameAgg, TokenFeatures}
import graft.operators.{CapMetrics, Dedup}
import graft.plans.AsOfNative
import graft.sinks.CsvSink

/** The traced run's layer sweep: each probe times one call into a repo
  * module on an already materialized input, inside a span. Layers the
  * workload exercises run on its full input; the rest run on a fixed slice
  * of it, so every layer metric is reported for every workload. */
final class Layers(spark: SparkSession, env: Env, tracer: Tracer, plans: PlanStats,
    w: Workload, full: String, slice: String) {

  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def put(k: String, v: Double): Unit = metrics(k) = v

  private def inputFor(layer: String): String = if (w.ownLayers(layer)) full else slice

  /** The input as a sequences table (the slice is written as one). */
  private def seqs(path: String): DataFrame =
    if (path == full) w.sequences(spark.read.parquet(path)) else spark.read.parquet(path)

  /** Span around `body`, annotated with the task counters of its jobs. */
  private def probe[A](name: String, path: String)(body: => A): (A, Double) = {
    env.stats.take(spark.sparkContext)
    val (r, s) = tracer.span(name, Map("input" -> path))(body)
    val c = env.stats.take(spark.sparkContext)
    tracer.annotate(s, Map("task_cpu_s" -> c.cpuNs / 1e9, "records_read" -> c.recordsRead,
      "shuffle_write_bytes" -> c.shuffleWrite, "tasks" -> c.tasks))
    (r, s.seconds)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def counted(df: DataFrame, name: String): Long = {
    val o = Observation(name)
    noop(df.observe(o, count(lit(1)).as("n")))
    o.get("n").asInstanceOf[Long]
  }

  /** Median of three probes of `sum(c)` over `df`. */
  private def aggregate(name: String, p: String, df: DataFrame)(
      c: org.apache.spark.sql.Column): Double =
    Env.median((1 to 3).map(_ => probe(name, p)(df.agg(sum(c)).collect())._2))

  def sources(): Unit =
    put("sources.scan_s", aggregate("sources.scan", full, spark.read.parquet(full))(
      size(col("tokens"))))

  /** An expression layer's time: the same aggregate over the token arrays,
    * held in memory, with and without the expression. */
  private def expression(layer: String)(c: org.apache.spark.sql.Column): Double = {
    val p = inputFor(layer)
    val tokens = seqs(p).select("tokens").localCheckpoint(true)
    val bare = aggregate(s"$layer.bare", p, tokens)(size(col("tokens")))
    val t = aggregate(layer, p, tokens)(c) - bare
    tokens.unpersist()
    t
  }

  def frameEnergy(): Unit = put("functions.frame_energy_s",
    expression("functions.frame_energy")(size(FrameAgg.energy(col("tokens"), 8, 16))))

  def minhash(): Unit = put("functions.minhash_sig_s",
    expression("functions.minhash_sig")(size(TokenFeatures.minhashSignature(col("tokens"), 32))))

  /** AsOfJoinExec over both timelines, exploded, partitioned and sorted by
    * the pipeline's rule and checkpointed first. */
  def asof(): Unit = {
    val p = inputFor("plans")
    val s = seqs(p)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val features = s.select(col("doc_id"),
        posexplode(FrameAgg.energy(col("tokens"), 8, 16)))
      .select(col("doc_id"), (col("pos") * 8 * 1000000L).as("ts"), col("col").as("fv"))
      .repartition(parts, col("doc_id")).sortWithinPartitions("doc_id", "ts")
      .localCheckpoint(true)
    val queries = s.select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .select(col("doc_id"), pmod(abs(xxhash64(col("doc_id"), col("k"))),
        greatest(col("n_tok").cast("long"), lit(1L)) * 1000000L).as("ts"))
      .repartition(parts, col("doc_id")).sortWithinPartitions("doc_id", "ts")
      .localCheckpoint(true)
    plans.take(spark)
    val (_, t) = probe("plans.asof_exec", p) {
      Pipelines.runAndChecksum(AsOfNative.join(
        AsOfNative.assumeSorted(queries, "doc_id", "ts"),
        AsOfNative.assumeSorted(features, "doc_id", "ts"), "doc_id", "ts", Seq("fv")))
    }
    val m = plans.take(spark)
    put("plans.asof_exec_s", t)
    put("plans.asof_match_rate",
      m.getOrElse("asof.numMatched", 0L).toDouble / math.max(1L, m.getOrElse("asof.numOutputRows", 0L)))
    features.unpersist(); queries.unpersist()
  }

  /** Engine.run, Engine.summarize and the sinks, each timed on the
    * previous stage's checkpointed output (one input: the three layers are
    * exercised together or not at all). */
  def annotateChain(): Unit = {
    val specs = Cli.loadSpecs(Cli.parseArgs(AnnotateCli.args(env, "-", "-")))
    val p = inputFor("engine")
    val s = seqs(p)
    val (rows, te) = probe("engine.extract", p) { counted(Engine.run(s, specs), "features") }
    put("engine.extract_s", te)
    put("engine.feature_rows", rows.toDouble)

    val feats = Engine.run(s, specs).localCheckpoint(true)
    // end of input per (doc, transform): n_tok positions at 1000/s
    val ends = s.select(col("doc_id"),
        explode(array(specs.map(sp => lit(sp.id)): _*)).as("transform_id"),
        (col("n_tok").cast("long") * 1000000L).as("input_end_ns"))
      .localCheckpoint(true)
    val (groups, tr) = probe("summaries.reduce", p) {
      counted(Engine.summarize(feats, specs, Nil, Some(ends)), "groups")
    }
    put("summaries.reduce_s", tr)
    put("summaries.groups", groups.toDouble)

    val sums = Engine.summarize(feats, specs, Nil, Some(ends)).localCheckpoint(true)
    val dir = env.dir("layers")
    val opts = CsvSink.Options(force = true)
    val (_, tp) = probe("sinks.features_parquet", p) {
      feats.write.mode("overwrite").partitionBy("transform_id", "output")
        .parquet(s"$dir/features")
    }
    val (_, tf) = probe("sinks.summaries_format", p) {
      noop(CsvSink.formatSummaries(sums, opts))
    }
    val lines = CsvSink.formatSummaries(sums, opts).localCheckpoint(true)
    val (_, tw) = probe("sinks.summaries_write", p) {
      CsvSink.writeOneFile(lines, s"$dir/summaries.csv", opts)
    }
    put("sinks.features_parquet_s", tp)
    put("sinks.summaries_format_s", tf)
    put("sinks.summaries_write_s", tw)
    put("sinks.out_bytes",
      (Env.dataBytes(s"$dir/features") + Env.dataBytes(s"$dir/summaries.csv")).toDouble)
    Seq(feats, ends, sums, lines).foreach(_.unpersist())
  }

  /** LSH pairs, connected components and the keep, on checkpointed inputs. */
  def dedup(): Unit = {
    val p = inputFor("operators")
    val corpus = (if (w == NearDupKeep) spark.read.parquet(p)
      else spark.read.parquet(p).select(
        substring(col("doc_id"), 5, 10).cast("long").as("id"), col("tokens")))
      .select("id", "tokens").localCheckpoint(true)
    val capBefore = { org.apache.spark.graftbench.Bus.drain(spark.sparkContext); CapMetrics.totalDroppedRows }
    val (pairs, tl) = probe("operators.lsh_pairs", p) {
      Dedup.minhashLshPairs(corpus, "id", "tokens", threshold = NearDupKeep.threshold)
        .localCheckpoint(true)
    }
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    put("operators.lsh_pairs_s", tl)
    put("operators.cap_dropped_rows", (CapMetrics.totalDroppedRows - capBefore).toDouble)
    val collected = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val sets = corpus.select(col("id"), array_sort(array_distinct(col("tokens")))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    val good = collected.count { case (a, b) =>
      Checks.jaccard(sets(a), sets(b)) >= NearDupKeep.threshold }
    put("operators.candidate_pairs", collected.length.toDouble)
    put("operators.pair_precision", if (collected.isEmpty) 1.0 else good.toDouble / collected.length)
    val (_, tc) = probe("operators.cc", p) {
      Dedup.connectedComponents(pairs, "id_a", "id_b").localCheckpoint(true)
    }
    put("operators.cc_s", tc)
    put("operators.cc_edges", collected.length.toDouble)
    val dir = env.dir("layers")
    val (_, tk) = probe("operators.keep", p) {
      Dedup.dropNearDuplicates(corpus, "id", pairs).write.mode("overwrite").parquet(s"$dir/kept")
    }
    put("operators.keep_s", tk)
    pairs.unpersist(); corpus.unpersist()
  }

  def run(): Map[String, Double] = {
    tracer.span("layers", Map("workload" -> w.name, "full" -> full, "slice" -> slice)) {
      sources(); frameEnergy(); minhash(); asof(); annotateChain(); dedup()
    }
    metrics.toMap
  }
}

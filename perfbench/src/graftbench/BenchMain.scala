package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Entry point of one benchmark run (launched by perfbench/run.py):
  *
  *   graftbench.BenchMain --workload W --seed N --seconds S --trace 0|1 --bench-dir DIR
  *
  * Set-up (timed, `SetupReps` times, median reported): start the session,
  * generate the seeded input and write it as parquet. The input is then
  * cached under DIR/cache by (workload, size, seed) with its reference
  * answers, and the program is warmed up by unchecked calls on it (their
  * times are in the audit record, not in setup_s: after the first,
  * JVM-cold call they only repeat the measured call). Untraced runs
  * measure the workload for S seconds and report the end-to-end metrics;
  * traced runs time the workload with and without the plan listener
  * (tracing overhead) and sweep the layers.
  * Prints `DETAIL {...}` (the audit record) and `RESULT {...}`, whose
  * metrics run.py labels with the units of BENCHMARK.json. */
object BenchMain {
  val SetupReps = 3
  val TracedReps = 2
  val SliceDocs = 1500L

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workload.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val env = new Env(a("bench-dir"), w.name, seed)
    val load0 = Env.loadAvg1
    val steal0 = Env.stealSeconds

    // ---- set-up
    var spark: SparkSession = null
    val setupParts = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    val setupSamples = (1 to (if (trace) 1 else SetupReps)).map { r =>
      if (spark != null) spark.stop()
      val d = s"${env.work}/setup/${w.name}-rep$r"
      Env.rm(d)
      val (_, tStart) = Env.time { spark = env.start() }
      val (_, tGen) = Env.time(w.materialize(spark, env, d))
      setupParts += Seq(tStart, tGen)
      tStart + tGen
    }
    val input = env.cacheDir(w.docs)
    if (!Files.exists(Paths.get(s"$input/_SUCCESS"))) {
      Env.rm(input)
      Files.createDirectories(Paths.get(input).getParent)
      Files.move(Paths.get(s"${env.work}/setup/${w.name}-rep1"), Paths.get(input))
    }
    Env.rm(s"${env.work}/setup")
    val warmSeconds = (1 to w.warmupCalls).map(_ => Env.time(w.warmup(spark, env, input))._2)
    val refFile = Paths.get(s"$input.reference")
    val (ref, refSeconds) = Env.time {
      if (Files.exists(refFile)) readProps(refFile)
      else { val r = w.reference(spark, env, input); writeProps(refFile, r); r }
    }
    w.prepare(spark, env, input, ref)
    val inBytes = Env.dataBytes(input)

    // ---- measurement
    val detail = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "input_rows" -> w.docs, "input_bytes" -> inBytes, "input_path" -> input,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> env.cores,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens")),
      "spark_confs" -> env.confs(env.cores).toMap,
      "spark_version" -> spark.version,
      "source_sha256" -> sys.props.getOrElse("graftbench.sourceSha256", "unknown"),
      "reference" -> ref, "reference_seconds" -> refSeconds,
      "setup_samples_s" -> setupSamples,
      "setup_session_generate_s" -> setupParts, "warmup_s" -> warmSeconds,
      "load1_before" -> load0)

    val (ops, metrics) =
      if (!trace) {
        val m = w.measure(spark, env, input, ref, seconds)
        spark = m.spark
        val p = m.primary
        val failedShare = m.all.count(!_.ok).toDouble / m.all.size
        detail ++= m.extra
        detail("failed_share") = failedShare
        val outBytes = p.map(_.outBytes)
        if (outBytes.exists(_ > 0))
          detail("out_bytes_per_in_byte") = Env.median(outBytes.map(_.toDouble)) / inBytes
        (m.all, Seq(
          "docs_per_s" -> w.docs / Env.median(p.map(_.seconds)),
          "setup_s" -> Env.median(setupSamples),
          "task_cpu_s" -> Env.median(p.map(_.c.cpuNs / 1e9)),
          "peak_exec_mem_mb" -> Env.median(p.map(_.c.peakExecMem / 1048576.0))))
      } else traced(spark, env, w, input, ref, detail)

    detail("load1_after") = Env.loadAvg1
    detail("cpu_steal_s") = Env.stealSeconds - steal0
    detail("ops") = ops.map(o => Map("seconds" -> o.seconds, "ok" -> o.ok, "note" -> o.note,
      "task_cpu_s" -> o.c.cpuNs / 1e9, "peak_exec_mem_mb" -> o.c.peakExecMem / 1048576.0,
      "out_bytes" -> o.outBytes, "task_failures" -> o.c.failures))
    detail("metrics") = metrics.toMap
    val failed = ops.count(!_.ok)
    Env.write(s"${env.outRoot}/run-${w.name}-seed$seed-trace${if (trace) 1 else 0}.json",
      Json(detail))
    println("DETAIL " + Json(detail))
    ops.filterNot(_.ok).map(_.note).distinct.take(3).foreach(n => println(s"CHECK FAILED ${w.name}: $n"))
    println("RESULT " + Json(Map(
      "correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> metrics.toMap)))
    spark.stop()
  }

  /** Traced run: the workload with the task listener only, then with the
    * plan listener and spans too; then the layer sweep. */
  private def traced(spark: SparkSession, env: Env, w: Workload, input: String,
      ref: Map[String, String],
      detail: scala.collection.mutable.Map[String, Any]): (Seq[Op], Seq[(String, Double)]) = {
    val tracer = new Tracer(s"${w.name}-seed${env.seed}")
    val plans = new PlanStats
    // alternate untraced and traced calls, so JIT warming favours neither
    val pairs = (1 to TracedReps).map { i =>
      val untraced = w.op(spark, env, input, ref)
      spark.listenerManager.register(plans)
      val (op, s) = tracer.span("workload.op", Map("rep" -> i))(w.op(spark, env, input, ref))
      tracer.annotate(s, Map("ok" -> op.ok, "task_cpu_s" -> op.c.cpuNs / 1e9,
        "records_read" -> op.c.recordsRead, "shuffle_write_bytes" -> op.c.shuffleWrite,
        "fetch_wait_s" -> op.c.fetchWaitMs / 1000.0))
      spark.listenerManager.unregister(plans)
      (untraced, op)
    }
    val (untraced, tracedOps) = pairs.unzip
    spark.listenerManager.register(plans)
    def dps(xs: Seq[Op]) = w.docs / Env.median(xs.map(_.seconds))
    val c = tracedOps.last.c

    val slice = s"${env.work}/slice/${w.name}"
    Env.rm(slice)
    w.sequences(spark.read.parquet(input))
      .where(col("doc_id") < f"doc_$SliceDocs%010d")
      .repartition(4).write.parquet(slice)
    val layers = new Layers(spark, env, tracer, plans, w, input, slice).run()

    val tracePath = s"${env.outRoot}/trace-${w.name}-seed${env.seed}.json"
    Env.write(tracePath, Json(tracer.toJson))
    detail("trace_file") = tracePath
    detail("slice_docs") = SliceDocs
    detail("own_layers") = w.ownLayers.toSeq.sorted
    detail("untraced_docs_per_s") = dps(untraced)
    detail("traced_docs_per_s") = dps(tracedOps)
    // local shuffles barely wait: a constant 0 is no per-layer metric
    detail("spark_fetch_wait_s") = c.fetchWaitMs / 1000.0

    val sparkMetrics = Seq(
      "sources.rows_read_per_input_row" -> c.recordsRead.toDouble / w.docs,
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.gc_s" -> c.gcMs / 1000.0,
      "spark.task_failures" -> c.failures.toDouble)
    (untraced ++ tracedOps, layers.toSeq ++ sparkMetrics :+
      ("trace.overhead_docs_per_s" -> (dps(tracedOps) - dps(untraced))))
  }

  private def readProps(p: java.nio.file.Path): Map[String, String] = {
    val props = new java.util.Properties
    val in = Files.newInputStream(p)
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    props.asScala.toMap
  }

  private def writeProps(p: java.nio.file.Path, m: Map[String, String]): Unit = {
    val props = new java.util.Properties
    m.foreach { case (k, v) => props.setProperty(k, v) }
    val out = Files.newOutputStream(p)
    try props.store(out, "reference answers") finally out.close()
  }
}

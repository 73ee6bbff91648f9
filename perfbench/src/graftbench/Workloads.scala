package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Main => Cli, Pipelines}
import graft.operators.Dedup
import graft.sources.SequenceGen

/** One measured call of a workload: wall seconds, whether its output passed
  * the check (an exception counts as a failed check), task counters. */
final case class Op(seconds: Double, ok: Boolean, note: String, c: Counters,
    outBytes: Long = 0L)

/** A measured phase: `primary` ops give the headline metrics; `extra` holds
  * workload-specific figures (scaling, bytes ratio, check detail). */
final case class Measured(primary: Seq[Op], others: Seq[Op], extra: Map[String, Any],
    spark: SparkSession) {
  def all: Seq[Op] = primary ++ others
}

trait Workload {
  def name: String
  /** Rows of the generated input table (docs_per_s counts these). */
  def docs: Long
  /** Generate the seeded input and write it as parquet to `path`. */
  def materialize(spark: SparkSession, env: Env, path: String): Unit
  /** The program's call on `input`, unchecked: the warm-up. */
  def warmup(spark: SparkSession, env: Env, input: String): Unit
  /** Reference answers for the input, computed once per (size, seed). */
  def reference(spark: SparkSession, env: Env, input: String): Map[String, String]
  /** Load per-run check state (driver-side copies of the input). */
  def prepare(spark: SparkSession, env: Env, input: String, ref: Map[String, String]): Unit = ()
  /** The program's call, timed and checked. */
  def op(spark: SparkSession, env: Env, input: String, ref: Map[String, String]): Op
  /** Unchecked calls before measuring (JIT and codegen caches). */
  def warmupCalls: Int = 1
  /** Fewest measured calls, however long they take. */
  def minReps: Int = 3
  /** The measured phase (default: `op` in a closed loop for `seconds`). */
  def measure(spark: SparkSession, env: Env, input: String,
      ref: Map[String, String], seconds: Double): Measured =
    Measured(Workload.loop(seconds, minReps)(op(spark, env, input, ref)), Nil,
      Map.empty, spark)
  /** Layers this workload exercises; the trace sweep runs these on the full
    * input and every other layer on the shared slice. */
  def ownLayers: Set[String]
  /** The workload's input as a sequences table (doc_id, tokens, n_tok). */
  def sequences(df: DataFrame): DataFrame = df
}

object Workload {
  val all: Seq[Workload] = Seq(AsofFeatures, AnnotateCli, NearDupKeep)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (have ${all.map(_.name).mkString(", ")})"))

  /** Closed loop: the next call starts when the previous one returns; at
    * least `minReps` calls, then until `seconds` have passed. */
  def loop(seconds: Double, minReps: Int)(op: => Op): Seq[Op] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[Op]
    while (out.size < minReps || (System.nanoTime() - t0) / 1e9 < seconds) out += op
    out.toSeq
  }

  /** Time `body` (returning check verdict, note, bytes written) with the
    * task counters of exactly its jobs. */
  def timed(spark: SparkSession, env: Env)(body: => (Boolean, String, Long)): Op = {
    env.stats.take(spark.sparkContext)
    val t0 = System.nanoTime()
    val r = scala.util.Try(body)
    val t = (System.nanoTime() - t0) / 1e9
    val c = env.stats.take(spark.sparkContext)
    r match {
      case scala.util.Success((ok, note, bytes)) => Op(t, ok, note, c, bytes)
      case scala.util.Failure(e) =>
        Op(t, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}", c)
    }
  }
}

/** Native as-of feature pipeline (the headline pipeline of the frozen
  * bench), forced with runAndChecksum; no writes. */
object AsofFeatures extends Workload {
  val name = "asof_features"
  val docs = 40000L
  override def warmupCalls: Int = 8
  val ownLayers = Set("sources", "functions.frame_energy", "plans", "spark")

  def materialize(spark: SparkSession, env: Env, path: String): Unit =
    SequenceGen.generate(spark, docs, seed = env.seed)
      .repartition(16).write.parquet(path)

  private def call(spark: SparkSession, input: String): (Long, Long, Double) =
    Pipelines.runAndChecksum(
      Pipelines.asofFeaturePipelineNativeOver(spark.read.parquet(input)))

  def warmup(spark: SparkSession, env: Env, input: String): Unit = call(spark, input)

  /** The window-rewrite as-of over the same input: an independent plan. */
  def reference(spark: SparkSession, env: Env, input: String): Map[String, String] = {
    val (n, m, chk) = Pipelines.runAndChecksum(
      Pipelines.asofFeaturePipelineOver(spark.read.parquet(input)))
    Map("rows" -> n.toString, "matched" -> m.toString, "checksum" -> chk.toString)
  }

  def op(spark: SparkSession, env: Env, input: String, ref: Map[String, String]): Op =
    Workload.timed(spark, env) {
      val (n, m, chk) = call(spark, input)
      val rc = ref("checksum").toDouble
      val ok = n == ref("rows").toLong && m == ref("matched").toLong &&
        math.abs(chk - rc) <= math.abs(rc) * 1e-9 + 1e-6
      (ok, s"rows $n matched $m checksum $chk (reference ${ref("rows")} ${ref("matched")} $rc)", 0L)
    }

  /** local[cores] loop, then a local[1] leg in a fresh session (same JVM,
    * so already warm) for the scaling ratio. */
  override def measure(spark: SparkSession, env: Env, input: String,
      ref: Map[String, String], seconds: Double): Measured = {
    val many = Workload.loop(seconds * 0.7, minReps)(op(spark, env, input, ref))
    spark.stop()
    val one = env.start(1)
    val single = Workload.loop(seconds * 0.3, 1)(op(one, env, input, ref))
    val eff = (Env.median(single.map(_.seconds)) / Env.median(many.map(_.seconds))) / env.cores
    Measured(many, single, Map(
      s"scaling_eff_1_to_${env.cores}" -> eff,
      "local1_seconds" -> single.map(_.seconds)), one)
  }
}

/** The user-facing CLI run, in process: parquet features plus the
  * one-file summaries CSV. */
object AnnotateCli extends Workload {
  val name = "annotate_cli"
  // one CLI run costs ~7 s of fixed planning and job overhead on 4 cores
  // at any size, so the window holds only the minimum three calls
  val docs = 600L
  val ownLayers = Set("sources", "functions.frame_energy", "engine", "summaries", "sinks", "spark")
  val summaryTypes = Seq("mean", "median", "mode", "sd")
  val transformsJson: String =
    """[{"id":"df","plugin":"graft:energy","output":"detectionfunction"},
      | {"id":"on","plugin":"graft:energy","output":"onsets"},
      | {"id":"grid","plugin":"graft:histogram","output":"grid"}]""".stripMargin
  val sampleDocs = 12

  def transforms(env: Env): String = {
    val p = s"${env.dir("annotate")}/transforms.json"
    Env.write(p, transformsJson)
    p
  }

  def args(env: Env, input: String, output: String): Seq[String] = Seq(
    "--input", input, "--transforms", transforms(env),
    "--summaries", summaryTypes.mkString(","), "--writer", "parquet",
    "--output", output, "--force")

  def materialize(spark: SparkSession, env: Env, path: String): Unit =
    SequenceGen.generate(spark, docs, seed = env.seed)
      .repartition(8).write.parquet(path)

  def warmup(spark: SparkSession, env: Env, input: String): Unit =
    Cli.run(spark, Cli.parseArgs(args(env, input, outputDir(env))))

  /** Frame counts from n_tok alone (the framing rule, restated). */
  def reference(spark: SparkSession, env: Env, input: String): Map[String, String] = {
    val nTok = spark.read.parquet(input).select("n_tok").collect().map(_.getInt(0))
    Map("frames" -> nTok.map(n => Checks.frames(n)).sum.toString,
      "docs" -> nTok.length.toString)
  }

  private var nTokOf: Map[String, Int] = Map.empty
  private var sample: Seq[String] = Nil

  override def prepare(spark: SparkSession, env: Env, input: String,
      ref: Map[String, String]): Unit = {
    nTokOf = spark.read.parquet(input).select("doc_id", "n_tok").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val rnd = new scala.util.Random(env.seed)
    sample = rnd.shuffle(nTokOf.keys.toSeq.sorted).take(sampleDocs).sorted
  }

  def outputDir(env: Env): String = env.dir("annotate") + "/features"

  def op(spark: SparkSession, env: Env, input: String, ref: Map[String, String]): Op = {
    val out = outputDir(env)
    val r = Workload.timed(spark, env) {
      Cli.run(spark, Cli.parseArgs(args(env, input, out)))
      (true, "", Env.dataBytes(out) + Env.dataBytes(out + "_summaries.csv"))
    }
    if (!r.ok) r
    else {
      val problems = scala.util.Try(check(spark, out, ref)).fold(
        e => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}"), identity)
      r.copy(ok = problems.isEmpty, note = problems.take(5).mkString("; "))
    }
  }

  /** Feature and summary row counts, plus mean/median/mode/sd recomputed
    * for a seeded sample of docs from the written features. */
  def check(spark: SparkSession, out: String, ref: Map[String, String]): Seq[String] = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val feats = spark.read.parquet(out)
    val counts = feats.groupBy("transform_id", "output").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val frames = ref("frames").toLong
    val nDocs = ref("docs").toLong
    // onsets restated over the written detection curve (float-rounded, so
    // a frame exactly at the 40% edge may flip: allow 0.1%)
    val curves = feats.where(col("transform_id") === "df:mean")
      .select(col("doc_id"), col("ts"), element_at(col("values"), 1)).collect()
      .groupBy(_.getString(0)).values
      .map(rs => rs.sortBy(_.getLong(1)).map(_.getFloat(2).toDouble))
    val onsets = curves.map(c => Checks.onsets(c)).sum.toLong
    summaryTypes.foreach { t =>
      def expect(tid: String, output: String, n: Long, tol: Long = 0): Unit = {
        val got = counts.getOrElse((s"$tid:$t", output), 0L)
        if (math.abs(got - n) > tol) problems += s"$tid:$t/$output rows $got, expected $n"
      }
      expect("df", "detectionfunction", frames)
      expect("grid", "grid", frames)
      expect("on", "onsets", onsets, math.max(1L, onsets / 1000))
    }
    if (counts.size != 3 * summaryTypes.size)
      problems += s"feature streams ${counts.keys.toSeq.sorted.mkString(",")}"

    // summaries CSV: one line per (doc, transform with values)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(out + "_summaries.csv")).toArray.map(_.toString)
    if (lines.length != 2 * summaryTypes.size * nDocs)
      problems += s"summary lines ${lines.length}, expected ${2 * summaryTypes.size * nDocs}"
    // "doc",start,duration,name,v1,...,vn,"label" (the label may hold commas)
    val printed = lines.flatMap { l =>
      val f = l.split(",", -1)
      val doc = f(0).stripPrefix("\"").stripSuffix("\"")
      if (!sample.contains(doc)) None
      else {
        val values = f.drop(4).takeWhile(!_.startsWith("\"")).map(_.toDouble)
        Some((doc, f(3), values.length) -> values)
      }
    }.toMap
    val rows = feats.where(col("doc_id").isin(sample: _*) &&
        col("transform_id").isin("df:mean", "grid:mean", "on:mean"))
      .select("doc_id", "transform_id", "ts", "values").collect()
    rows.groupBy(_.getString(0)).foreach { case (doc, rs) =>
      val end = math.max(nTokOf(doc).toLong * 1000000L, rs.map(_.getLong(2)).max)
      Seq("df:mean" -> 1, "grid:mean" -> 16).foreach { case (tid, bins) =>
        val tl = rs.filter(_.getString(1) == tid)
          .map(r => (r.getLong(2), r.getSeq[Float](3).toArray))
        val s = Checks.summarize(tl.toSeq, end)
        val expected = Map(
          "mean" -> s.mean.toSeq, "sd" -> s.sd.toSeq,
          "median" -> s.median.toSeq.map(_.toDouble), "mode" -> s.mode.toSeq.map(_.toDouble))
        summaryTypes.foreach { t =>
          printed.get((doc, t, bins)) match {
            case None => problems += s"$doc ${tid.takeWhile(_ != ':')}:$t missing from summaries"
            case Some(got) =>
              val exp = expected(t)
              val bad = exp.indices.filterNot(b => b < got.length &&
                Checks.close(got(b), exp(b), s.mean(b)))
              if (bad.nonEmpty || got.length != exp.length)
                problems += s"$doc ${tid.takeWhile(_ != ':')}:$t printed " +
                  s"${got.mkString("|")} expected ${exp.mkString("|")}"
          }
        }
      }
    }
    if (rows.map(_.getString(0)).distinct.length != sample.size)
      problems += "sampled docs missing from features"
    problems.toSeq
  }
}

/** Training-data near-duplicate removal: MinHash LSH pairs, connected
  * components, keep one per cluster, write parquet. */
object NearDupKeep extends Workload {
  val name = "near_dup_keep"
  val originals = 8000L
  val copyEvery = 8
  val copyBase = 1000000000L
  val threshold = 0.5
  val ownLayers = Set("functions.minhash_sig", "operators", "spark")

  // generated docs 0-2 are fixtures with one or two distinct tokens (and
  // docs 1 and 2 share one token set): "a few tokens edited" is no
  // near-copy of them, so the corpus starts at doc 3
  val firstDoc = 3L
  def nCopies: Long = (firstDoc until firstDoc + originals).count(_ % copyEvery == 0).toLong
  def docs: Long = originals + nCopies

  def corpus(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val g = SequenceGen.generate(spark, n + firstDoc, seed = seed).toDF()
      .withColumn("i", substring(col("doc_id"), 5, 10).cast("long"))
      .where(col("i") >= firstDoc)
    // a copy edits three tokens at seeded positions
    def pos(k: Int) = pmod(xxhash64(lit(seed), col("i"), lit(k)), col("n_tok").cast("long"))
    def tok(k: Int) = pmod(xxhash64(lit(seed + 1), col("i"), lit(k)), lit(50000L)).cast("int")
    val copies = g.where(col("i") % copyEvery === 0).select(
      (col("i") + copyBase).as("id"),
      transform(col("tokens"), (t, p) =>
        when(p === pos(0), tok(0)).when(p === pos(1), tok(1))
          .when(p === pos(2), tok(2)).otherwise(t)).as("tokens"),
      col("n_tok"))
    g.select(col("i").as("id"), col("tokens"), col("n_tok")).unionByName(copies)
  }

  def materialize(spark: SparkSession, env: Env, path: String): Unit =
    corpus(spark, originals, env.seed).repartition(8).write.parquet(path)

  def program(corpus: DataFrame): DataFrame =
    Dedup.dropNearDuplicates(corpus, "id",
      Dedup.minhashLshPairs(corpus, "id", "tokens", threshold = threshold))

  def warmup(spark: SparkSession, env: Env, input: String): Unit =
    program(spark.read.parquet(input)).write.mode("overwrite").parquet(outputDir(env))

  /** The planted structure: every copy is a true near-dup of its original. */
  def reference(spark: SparkSession, env: Env, input: String): Map[String, String] = {
    loadSets(spark, input)
    val planted = sets.keys.toSeq.filter(_ >= copyBase)
      .map(c => Checks.jaccard(sets(c), sets(c - copyBase)))
    Map("originals" -> originals.toString, "copies" -> planted.size.toString,
      "min_planted_jaccard" -> planted.min.toString)
  }

  private var sets: Map[Long, Array[Int]] = Map.empty
  private var pairCheck = ""
  private var pairsOk = false

  private def loadSets(spark: SparkSession, input: String): Unit =
    sets = spark.read.parquet(input)
      .select(col("id"), array_sort(array_distinct(col("tokens")))).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap

  /** Every pair the LSH stage reports for this input, against its exact
    * Jaccard: computed once per run (the stage is deterministic) and part
    * of every call's verdict. */
  override def prepare(spark: SparkSession, env: Env, input: String,
      ref: Map[String, String]): Unit = {
    loadSets(spark, input)
    val pairs = Dedup.minhashLshPairs(spark.read.parquet(input), "id", "tokens",
      threshold = threshold).select("id_a", "id_b").collect()
      .map(p => (p.getLong(0), p.getLong(1)))
    val (prec, n) = precision(pairs)
    pairsOk = prec == 1.0
    pairCheck = f"LSH pairs $n, exact Jaccard >= $threshold in ${prec * 100}%.2f%%"
  }

  override def sequences(df: DataFrame): DataFrame =
    df.select(format_string("doc_%010d", col("id")).as("doc_id"), col("tokens"),
      col("n_tok"), lit("src0").as("source"))

  def outputDir(env: Env): String = env.dir("near_dup") + "/kept"

  /** Share of reported pairs whose exact token-set Jaccard reaches the
    * threshold, and the count of pairs. */
  def precision(pairs: Array[(Long, Long)]): (Double, Long) = {
    val good = pairs.count { case (a, b) => Checks.jaccard(sets(a), sets(b)) >= threshold }
    (if (pairs.isEmpty) 1.0 else good.toDouble / pairs.length, pairs.length.toLong)
  }

  def op(spark: SparkSession, env: Env, input: String, ref: Map[String, String]): Op = {
    val out = outputDir(env)
    val r = Workload.timed(spark, env) {
      program(spark.read.parquet(input)).write.mode("overwrite").parquet(out)
      (true, "", Env.dataBytes(out))
    }
    if (!r.ok) r
    else {
      val kept = spark.read.parquet(out).select("id").collect().map(_.getLong(0))
      val copiesKept = kept.count(_ >= copyBase)
      val originalsDropped = originals - (kept.length - copiesKept)
      val ok = copiesKept == 0 && originalsDropped == 0 && pairsOk
      r.copy(ok = ok, note = s"kept ${kept.length} of $docs docs (expected $originals): " +
        s"planted copies kept $copiesKept, originals dropped $originalsDropped; $pairCheck")
    }
  }
}

package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable partitioned execution with per-partition lineage + counters
  * (north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics"; the lineage/counters manifest is the semantic equivalent of
  * the reference's RDF provenance sink, SURVEY.md §2.1 K6, written beside
  * the output the way Iceberg writes snapshot metadata beside data files).
  *
  * Model: the job is split into `buckets` deterministic entity-hash
  * partitions (bucket = pmod(xxhash64(entity), buckets)). Each bucket runs
  * as an independent Spark job appending
  * `out/data/bucket=<b>/` and then atomically records a manifest entry
  * `out/_graft_manifest/bucket-<b>.json` with row counters and lineage.
  * A re-run (after a crash or a kill) skips every bucket whose manifest
  * entry exists — idempotent because a bucket directory is only ever
  * re-written whole (overwrite mode per bucket) before its manifest entry
  * appears.
  *
  * At cluster scale each "bucket job" is itself fully parallel (a bucket
  * is a hash-slice of entities, not one partition), so resume granularity
  * and parallelism are independent knobs.
  */
object Checkpoint {

  case class BucketResult(bucket: Int, rows: Long, skipped: Boolean)

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Run `job` bucket-by-bucket, resumably.
    *
    * @param build  bucket index -> the DataFrame to write for that bucket
    *               (caller filters its input by the same bucket function)
    * @return per-bucket results including skipped (already-done) buckets
    */
  def runBuckets(
      spark: SparkSession,
      outDir: String,
      buckets: Int,
      lineage: Map[String, String])(
      build: Int => DataFrame): Seq[BucketResult] = {
    val manifestDir = Paths.get(outDir, "_graft_manifest")
    Files.createDirectories(manifestDir)
    (0 until buckets).map { b =>
      val entry = manifestDir.resolve(s"bucket-$b.json")
      if (Files.exists(entry)) BucketResult(b, -1L, skipped = true)
      else {
        val df = build(b)
        val path = s"$outDir/data/bucket=$b"
        df.write.mode("overwrite").parquet(path)
        // count from the written files (cheap metadata scan) so the counter
        // reflects what is durably on disk
        val rows = spark.read.parquet(path).count()
        val json =
          (lineage ++ Map(
            "bucket" -> b.toString,
            "rows" -> rows.toString,
            "completed_at" -> java.time.Instant.now().toString,
            "spark_version" -> spark.version))
            .map { case (k, v) => s"${q(k)}: ${q(v)}" }
            .mkString("{", ", ", "}")
        // atomic publish: write tmp then move — the manifest entry is the
        // commit point
        val tmp = manifestDir.resolve(s".bucket-$b.json.tmp")
        Files.writeString(tmp, json)
        Files.move(tmp, entry, StandardCopyOption.ATOMIC_MOVE)
        BucketResult(b, rows, skipped = false)
      }
    }
  }

  /** The bucket assignment used by callers to slice their input. */
  def bucketOf(entityCol: String, buckets: Int) =
    pmod(xxhash64(col(entityCol)), lit(buckets.toLong)).cast("int")

  /** Read back the manifest (lineage + counters) for inspection. */
  def manifest(outDir: String): Seq[String] = {
    val dir = Paths.get(outDir, "_graft_manifest")
    if (!Files.exists(dir)) Nil
    else {
      Using.resource(Files.list(dir)) {
        _.iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
          .map(p => Files.readString(p)).toSeq.sorted
      }
    }
  }
}

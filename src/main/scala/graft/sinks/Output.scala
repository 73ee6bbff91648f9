package graft.sinks

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.operators.Checkpointing

/** Where every sink's output goes and when it may replace what is there
  * (K8/K9, SURVEY.md §2.1; runner/FeatureExtractionManager.cpp:1119-1134):
  * an existing destination is refused unless `force` (replace it) or
  * `append` (add to its end; wins over force). Placements, each on a
  * filesystem the tasks can see: [[oneFile]] (CSV `--one-file`, summaries,
  * RDF, XML; it moves its part file with java.nio, so its target is a
  * local path), [[filePerKey]] (CSV per-track, MIDI) and Spark directories
  * written with [[saveMode]] (parquet, JAMS, corpus modes). */
object Output {

  final case class Policy(force: Boolean = false, append: Boolean = false)

  /** The rule for a Spark-written directory. */
  def saveMode(p: Policy): SaveMode =
    if (p.append) SaveMode.Append
    else if (p.force) SaveMode.Overwrite
    else SaveMode.ErrorIfExists

  private def refused(dest: String) =
    new IllegalStateException(s"output $dest exists (use --force or --append)")

  /** Fail when `path` exists and the policy refuses it: a run checks its
    * fixed destinations with this before it extracts anything (K9). */
  def requireFree(spark: SparkSession, path: String, p: Policy): Unit =
    if (!p.force && !p.append) {
      val hp = new Path(path)
      if (hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp))
        throw refused(path)
    }

  /** Write (doc_id, transform_id, ts, line) rows as ONE file at `path`
    * (the reference --csv-one-file): deterministic global order (doc,
    * transform, ts), single part file moved to `path`.
    *
    * The lines are gathered into one partition and sorted there: the
    * upstream stages keep their parallelism up to the single-partition
    * exchange, and the input is evaluated once. A global `orderBy` would
    * add a range-partitioner sampling job that evaluates the whole input
    * a second time, only to pick boundaries for partitions that are then
    * coalesced into one. */
  def oneFile(lines: DataFrame, path: String, p: Policy): Unit = {
    requireFree(lines.sparkSession, path, p)
    val target = Paths.get(path)
    val tmp = path + ".__graft_tmp"
    lines.select(col("doc_id"), col("transform_id"), col("ts"), col("line"))
      .repartition(1)
      .sortWithinPartitions(col("doc_id"), col("transform_id"), col("ts"))
      .select(col("line"))
      .write.mode("overwrite").text(tmp)
    val src = Using.resource(Files.list(Paths.get(tmp))) {
      _.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).orNull
    }
    if (p.append && Files.exists(target)) {
      val prev = Files.readAllBytes(target)
      val add = if (src == null) Array.empty[Byte] else Files.readAllBytes(src)
      Files.write(target, prev ++ add)
    } else if (src == null) {
      Files.write(target, Array.empty[Byte])
    } else {
      Files.createDirectories(target.toAbsolutePath.getParent)
      Files.move(src, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // clean tmp
    Using.resource(Files.walk(Paths.get(tmp))) {
      _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    }
  }

  /** Write one file per (key, name, body: binary) row under `basedir`
    * from executor tasks; `key` names the row's source in errors. Neither
    * contents nor names reach the driver, and the job count is constant.
    * Before the first write one aggregate over the names fails on a name
    * that is not one path component, on two keys with one name and
    * (unless force/append) on an existing file (K9). The rows are pinned
    * ([[Checkpointing.materialize]]) with each file's pre-run length, so
    * a re-executed task writes the same bytes: the pre-run prefix (under
    * append), then the body (Hadoop's local `append` is unsupported).
    * Returns the file count. */
  def filePerKey(files: DataFrame, basedir: String, p: Policy): Long = {
    val spark = files.sparkSession
    import spark.implicits._
    // the driver's Hadoop settings (spark.hadoop.*), shipped to the tasks
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val basePath = new Path(basedir)
    val baseFs = basePath.getFileSystem(conf.value)
    val base = baseFs.makeQualified(basePath).toString
    def taskFs(): FileSystem = {
      // newInstance, not get: the cached shared instance must keep
      // writing .crc checksums for everyone else in the executor
      val fs = FileSystem.newInstance(java.net.URI.create(base), conf.value)
      TaskContext.get().addTaskCompletionListener[Unit](_ => fs.close())
      fs
    }
    def fileOf(name: String) = new Path(s"$base/$name")

    val pinned = Checkpointing.materialize(
      files.select(col("key"), col("name"), col("body"))
        .as[(String, String, Array[Byte])]
        .mapPartitions { rows =>
          val fs = taskFs()
          rows.map { case (key, name, body) =>
            val ok = name != null && name.nonEmpty && name != "." && name != ".." &&
              !name.contains('/')
            val f = if (ok) Some(fileOf(name)).filter(fs.exists) else None
            (key, name, body, ok, f.fold(-1L)(fs.getFileStatus(_).getLen))
          }
        }.toDF("key", "name", "body", "ok", "prev_len"))

    val check = pinned.groupBy(col("name"))
      .agg(count(lit(1)).as("n"), min(col("key")).as("k1"), max(col("key")).as("k2"),
        min(col("ok")).as("ok"), max(col("prev_len")).as("prev_len"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("files"),
        min(when(!col("ok"), struct(col("name"), col("k1")))).as("bad"),
        min(when(col("n") > 1, struct(col("name"), col("k1"), col("k2")))).as("dup"),
        min(when(col("prev_len") >= 0, col("name"))).as("existing"))
      .head()
    Option(check.getStruct(1)).foreach { r =>
      throw new IllegalArgumentException(
        s"output name '${r.getString(0)}' of ${r.getString(1)} is not one file name")
    }
    Option(check.getStruct(2)).foreach { r =>
      throw new IllegalArgumentException(
        s"${r.getString(1)} and ${r.getString(2)} both write ${r.getString(0)}")
    }
    if (!p.force && !p.append)
      Option(check.getString(3)).foreach(n => throw refused(s"$base/$n"))

    baseFs.mkdirs(basePath)
    val append = p.append
    pinned.select(col("name"), col("body"), col("prev_len"))
      .as[(String, Array[Byte], Long)]
      .foreachPartition { (rows: Iterator[(String, Array[Byte], Long)]) =>
        val fs = taskFs()
        fs.setWriteChecksum(false) // no .crc sidecars next to user files
        rows.foreach { case (name, body, prevLen) =>
          writeFile(fs, fileOf(name), body, if (append) math.max(prevLen, 0L) else 0L)
        }
      }
    check.getLong(0)
  }

  /** Replace `f` with its first `keep` bytes followed by `body`: the
    * same bytes however often it runs with the same arguments. */
  def writeFile(fs: FileSystem, f: Path, body: Array[Byte], keep: Long): Unit = {
    val head = new Array[Byte](Math.toIntExact(keep))
    if (keep > 0) {
      val in = fs.open(f)
      try in.readFully(0L, head) finally in.close()
    }
    val out = fs.create(f, true)
    try { out.write(head); out.write(body) } finally out.close()
  }
}

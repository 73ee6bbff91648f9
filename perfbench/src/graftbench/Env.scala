package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Session, filesystem and host helpers shared by the workloads. Every path
  * the benchmark touches is under its own directory (`benchDir`). */
final class Env(val benchDir: String, val workload: String, val seed: Long) {
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
  val work: String = s"$benchDir/work"
  val cacheRoot: String = s"$benchDir/cache"
  val outRoot: String = s"$benchDir/out"
  val stats = new TaskStats

  /** Confs every session of the benchmark uses (recorded in the audit). */
  def confs(nCores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nCores]",
    "spark.sql.shuffle.partitions" -> math.max(cores, 4).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.shuffle.file.buffer" -> "1m",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/spark-warehouse")

  def start(nCores: Int = cores): SparkSession = {
    val b = SparkSession.builder().appName(s"graftbench-$workload")
    confs(nCores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(stats)
    s
  }

  def dir(parts: String*): String = {
    val p = (work +: parts).mkString("/")
    new File(p).mkdirs()
    p
  }

  def cacheDir(size: Long): String = s"$cacheRoot/$workload-n$size-seed$seed"
}

object Env {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def loadAvg1: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Host CPU seconds stolen from this VM so far (0 where not reported). */
  def stealSeconds: Double =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
  }

  /** Bytes of the data files under `path` (a file or a directory), skipping
    * Spark's checksum and marker files. */
  def dataBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      var total = 0L
      Files.walk(p).forEach { f =>
        val n = f.getFileName.toString
        if (Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_"))
          total += Files.size(f)
      }
      total
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }
}

package org.apache.spark.graftbench {

  /** The listener bus is private to Spark; counters read right after an
    * action must first see every task-end event of that action. */
  object Bus {
    def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graftbench {

  import org.apache.spark.{SparkContext, Success}
  import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.util.QueryExecutionListener

  /** Task counters summed over the tasks of one measured call. */
  final case class Counters(
      tasks: Long = 0, failures: Long = 0, cpuNs: Long = 0, peakExecMem: Long = 0,
      shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
      fetchWaitMs: Long = 0, gcMs: Long = 0, recordsRead: Long = 0)

  /** Spark's own task metrics, accumulated from task-end events. Cheap
    * enough to stay on in untraced runs: it is how task CPU and peak
    * execution memory are measured at all. */
  final class TaskStats extends SparkListener {
    private var c = Counters()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val failed = if (e.reason == Success) 0L else 1L
      c = if (m == null) c.copy(tasks = c.tasks + 1, failures = c.failures + failed)
      else c.copy(
        tasks = c.tasks + 1,
        failures = c.failures + failed,
        cpuNs = c.cpuNs + m.executorCpuTime,
        peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory),
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        gcMs = c.gcMs + m.jvmGCTime,
        recordsRead = c.recordsRead + m.inputMetrics.recordsRead)
    }

    /** Counters since the previous take, after every pending event. */
    def take(sc: SparkContext): Counters = {
      org.apache.spark.graftbench.Bus.drain(sc)
      synchronized { val r = c; c = Counters(); r }
    }
  }

  /** AsOfJoinExec's SQL metrics, summed over the final (adaptive) plans of
    * finished queries. Only registered in traced runs. */
  final class PlanStats extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private val sums = scala.collection.mutable.Map.empty[String, Long]

    private def add(k: String, v: Long): Unit = sums(k) = sums.getOrElse(k, 0L) + v

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }.foreach { p =>
          def metric(n: String): Long = p.metrics.get(n).fold(0L)(_.value)
          if (p.nodeName.startsWith("AsOfJoin")) {
            add("asof.numOutputRows", metric("numOutputRows"))
            add("asof.numMatched", metric("numMatched"))
          }
        }
      }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Sums since the previous take. */
    def take(spark: SparkSession): Map[String, Long] = {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      synchronized { val r = sums.toMap; sums.clear(); r }
    }
  }

  /** One traced layer call: name, parent span, start/end, attributes. */
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long, attrs: Map[String, Any]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** In-memory span recorder; written once, at the end of the run. */
  final class Tracer(val runId: String) {
    private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    private var stack = List(0)
    private var nextId = 1

    def span[A](name: String, attrs: => Map[String, Any] = Map.empty)(body: => A): (A, Span) = {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      val r = try body finally stack = stack.tail
      val s = Span(id, parent, name, t0, System.nanoTime(), attrs)
      spans += s
      (r, s)
    }

    def annotate(s: Span, more: Map[String, Any]): Unit = {
      val i = spans.indexWhere(_.id == s.id)
      spans(i) = s.copy(attrs = s.attrs ++ more)
    }

    def toJson: Any = Map(
      "run_id" -> runId,
      "spans" -> spans.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "trace" -> runId, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "seconds" -> s.seconds,
        "attrs" -> s.attrs)))
  }

  /** Minimal JSON writer for the result, detail and trace records. */
  object Json {
    private def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }

    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => apply(f.toDouble)
      case n: Int => n.toString
      case n: Long => n.toString
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
      case other => str(other.toString)
    }
  }
}

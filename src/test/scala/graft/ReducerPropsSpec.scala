package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.SummaryType
import graft.summaries.{Summaries, VectorSummaries}

/** The product's span rule + nine reducers (`Summaries.withSpans` then
  * `VectorSummaries.summarizeVector`) against a plain-Scala restatement,
  * on seeded random timelines built to hit the edge cases: double values
  * that are not float-exact (k/100), repeated values, single-row
  * entities, explicit (also zero) durations, zero-length final spans, two
  * transforms sharing one entity's last end, and an optional end of input. */
class ReducerPropsSpec extends AnyFunSuite {
  import ReducerPropsSpec.Row0
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def timelines(seed: Long): Seq[Row0] = {
    val rnd = new scala.util.Random(seed)
    (0 until 40).flatMap { d =>
      val doc = f"d$d%02d"
      val inputEnd = if (rnd.nextBoolean()) Some(200L + rnd.nextInt(100)) else None
      Seq("a", "b").flatMap { tr =>
        val n = if (rnd.nextInt(4) == 0) 1 else 1 + rnd.nextInt(12)
        val ts = rnd.shuffle((0L until 150L).toList).take(n).sorted
        ts.map { t =>
          val dur = rnd.nextInt(5) match {
            case 0 => Some(0L)
            case 1 => Some(1L + rnd.nextInt(40))
            case _ => None
          }
          // few distinct values per bin: repeats are the median/mode case
          Row0(doc, tr, t, dur, (rnd.nextInt(12) - 3) / 100.0,
            rnd.nextInt(600) / 100.0, inputEnd)
        }
      }
    }
  }

  /** Expected per-(doc, transform) reducers, stated directly from the
    * reference's weighting rule. */
  private def expected(rows: Seq[Row0]): Map[(String, String), Map[String, Seq[Double]]] = {
    val lastEnd = rows.groupBy(_.doc).map { case (doc, rs) =>
      doc -> (rs.map(r => r.ts + r.dur.getOrElse(0L)) ++ rs.head.inputEnd).max
    }
    rows.groupBy(r => (r.doc, r.tr)).map { case (key, rs0) =>
      val rs = rs0.sortBy(_.ts)
      val nexts = rs.drop(1).map(r => Some(r.ts)) :+ None
      val ws = rs.zip(nexts).map { case (r, next) =>
        (r.dur.map(r.ts + _).orElse(next).getOrElse(lastEnd(r.doc)) - r.ts).toDouble
      }
      def bin(vs: Seq[Double]): Map[String, Double] = {
        val sumW = ws.sum
        val mean = if (sumW > 0) vs.zip(ws).map { case (v, w) => w * v }.sum / sumW
          else Double.NaN
        val variance = if (sumW > 0)
          math.max(0.0, vs.zip(ws).map { case (v, w) => w * v * v }.sum / sumW - mean * mean)
          else Double.NaN
        val table = vs.zip(ws).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
        val total = table.map(_._2).sum
        val cums = table.map(_._2).scanLeft(0.0)(_ + _).tail
        val median = table.zip(cums).find(_._2 >= total / 2.0).get._1._1
        val mode = table.maxBy(_._2)._1 // first maximum = smallest value
        Map("min" -> vs.min, "max" -> vs.max, "sum" -> vs.sum, "mean" -> mean,
          "variance" -> variance, "sd" -> math.sqrt(variance),
          "median" -> median, "mode" -> mode)
      }
      val b0 = bin(rs.map(_.v0)); val b1 = bin(rs.map(_.v1))
      key -> (b0.keys.map(k => k -> Seq(b0(k), b1(k))).toMap +
        ("count" -> Seq(rs.size.toDouble)))
    }
  }

  private def close(got: Double, exp: Double, name: String): Boolean =
    if (exp.isNaN) got.isNaN
    else name match {
      // selected or compared input values: exact, no float rounding
      case "min" | "max" | "median" | "mode" | "count" => got == exp
      // sums of products: summation order differs
      case _ => math.abs(got - exp) <= 1e-9 * math.max(1.0, math.abs(exp))
    }

  for (seed <- Seq(1L, 2L, 3L))
    test(s"nine reducers match a plain-Scala restatement (seed $seed)") {
      val rows = timelines(seed)
      val df = rows.toDF()
        .withColumn("values", array($"v0", $"v1"))
      val spanned = Summaries.withSpans(df, "doc", Some("tr"), "ts", Some("dur"),
        inputEnd = Some($"inputEnd"))
      val got = VectorSummaries.summarizeVector(spanned, Seq("doc", "tr"), "values",
        types = SummaryType.all.toSet).collect()
      val exp = expected(rows)
      assert(got.length == exp.size)
      for (r <- got) {
        val key = (r.getAs[String]("doc"), r.getAs[String]("tr"))
        for ((name, want) <- exp(key)) {
          val have =
            if (name == "count") Seq(r.getAs[Long]("count").toDouble)
            else r.getAs[scala.collection.Seq[Double]](name).toSeq
          assert(have.length == want.length, s"$key $name: $have vs $want")
          have.zip(want).foreach { case (h, w) =>
            assert(close(h, w, name), s"$key $name: got $have, expected $want")
          }
        }
      }
    }
}

object ReducerPropsSpec {
  /** One feature row: two bins, so the reducers run per bin. */
  final case class Row0(doc: String, tr: String, ts: Long,
      dur: Option[Long], v0: Double, v1: Double, inputEnd: Option[Long])
}

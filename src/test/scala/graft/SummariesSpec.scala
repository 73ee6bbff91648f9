package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine
import graft.model.{SummaryType, TransformSpec}
import graft.summaries.{Summaries, VectorSummaries}

/** The nine reducers against the reference's own worked examples
  * (/root/reference/tests/test-summaries/expected/testplug-curve-vsr-*.csv):
  * a curve with values 0.0..0.9 at ts 0, 0.75, ..., 6.75 s; the entity's
  * last-ending output (a notes-regions feature) ends at 9.75 s, so the
  * final curve value spans 6.75..9.75. */
class SummariesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val S = 1000000000L // ns per second

  /** curve features + one notes feature (sets the entity's last end). */
  private def fixture = {
    val curve = (0 until 10).map { i =>
      ("doc", "curve", (i * 0.75 * S).toLong, None: Option[Long], i / 10.0)
    }
    val notes = Seq(("doc", "notes", 6 * S, Some((3.75 * S).toLong), 99.0))
    (curve ++ notes).toDF("doc_id", "transform_id", "ts", "duration", "value")
      .withColumn("values", array($"value".cast("float")))
  }

  /** The curve values as the float32 feature storage holds them. */
  private val curve32 = (0 until 10).map(i => (i / 10.0).toFloat.toDouble)

  private def summary: Map[String, Double] = {
    val spanned = Summaries.withSpans(fixture, "doc_id", Some("transform_id"),
      "ts", Some("duration"))
      .where($"transform_id" === "curve")
    val row = VectorSummaries.summarizeVector(
      spanned, Seq("doc_id", "transform_id"), "values").collect().head
    SummaryType.all.map { t =>
      t.name -> (if (t == SummaryType.Count) row.getAs[Long]("count").toDouble
        else row.getAs[scala.collection.Seq[Any]](t.name).head.toString.toDouble)
    }.toMap
  }

  /** Feature rows in `Engine.run`'s layout, for `Engine.summarize`. */
  private def featureRows =
    fixture.select($"doc_id", $"transform_id", $"ts", $"duration", $"values")

  test("continuous-time reducers match the reference worked examples") {
    val s = summary
    assert(s("count") == 10.0)
    assert(math.abs(s("min") - 0.0) < 1e-9)
    // min/max/median/mode select a stored value: exactly the float32
    // feature value, upcast without rounding
    assert(s("max") == curve32(9))
    assert(math.abs(s("max") - 0.9) < 1e-6)
    assert(math.abs(s("sum") - curve32.sum) < 1e-9)
    assert(math.abs(s("sum") - 4.5) < 1e-6)
    // testplug-curve-vsr-mean.csv:12-19 -> 0.553846
    assert(math.abs(s("mean") - 0.5538461538) < 1e-6)
    // testplug-curve-vsr-median.csv:12-16 -> 0.6
    assert(s("median") == curve32(6))
    assert(math.abs(s("median") - 0.6) < 1e-6)
    // testplug-curve-vsr-mode.csv:12-15 -> 0.9
    assert(s("mode") == curve32(9))
    assert(math.abs(s("mode") - 0.9) < 1e-6)
    // testplug-curve-vsr-variance.csv:12-19 -> 0.0994083
    assert(math.abs(s("variance") - 0.0994083) < 1e-6)
    // testplug-curve-vsr-sd.csv -> 0.315291
    assert(math.abs(s("sd") - 0.315291) < 1e-6)
  }

  test("explicit inputEnd extends the final span (end-of-input rule)") {
    val curveOnly = fixture.where($"transform_id" === "curve")
    // input end 13.5s: last value 0.9 spans 6.75..13.5 also shifts the mean
    val spanned = Summaries.withSpans(curveOnly, "doc_id", Some("transform_id"),
      "ts", Some("duration"), Some(lit((13.5 * S).toLong)))
    val wide = VectorSummaries.summarizeVector(spanned, Seq("doc_id"), "values",
      types = Set(SummaryType.Mean))
    val mean = wide.collect().head.getAs[scala.collection.Seq[Double]]("mean").head
    val expected = (curve32.take(9).sum * 0.75 + curve32(9) * 6.75) / 13.5
    assert(math.abs(mean - expected) < 1e-9)
    assert(math.abs(mean - (3.6 * 0.75 + 0.9 * 6.75) / 13.5) < 1e-6)
  }

  test("vector reducers match scalar reducers per bin") {
    val spanned = Summaries.withSpans(fixture, "doc_id", Some("transform_id"),
      "ts", Some("duration"))
      .where($"transform_id" === "curve")
      .withColumn("values", array($"value".cast("float"), ($"value" * 2).cast("float")))
    val out = VectorSummaries.summarizeVector(spanned, Seq("doc_id"), "values")
      .collect().head
    def arr(name: String): Seq[Double] =
      out.getAs[scala.collection.Seq[Any]](name).toSeq.map(_.toString.toDouble)
    assert(out.getAs[Long]("count") == 10L)
    assert(math.abs(arr("mean")(0) - 0.5538461538) < 1e-6)
    assert(math.abs(arr("mean")(1) - 2 * 0.5538461538) < 1e-5)
    assert(math.abs(arr("median")(0) - 0.6) < 1e-6)
    assert(math.abs(arr("mode")(0) - 0.9) < 1e-6)
    assert(math.abs(arr("variance")(0) - 0.0994083) < 1e-6)
    assert(math.abs(arr("variance")(1) - 4 * 0.0994083) < 1e-5)
    assert(math.abs(arr("sd")(0) - 0.315291) < 1e-6)
    assert(math.abs(arr("sum")(0) - 4.5) < 1e-6) // float32 value storage
    assert(math.abs(arr("min")(1) - 0.0) < 1e-9)
    assert(math.abs(arr("max")(1) - 1.8) < 1e-6)
  }

  test("mean-only vector path runs ONLY the moments aggregator") {
    val spanned = Summaries.withSpans(fixture, "doc_id", Some("transform_id"),
      "ts", Some("duration"))
      .where($"transform_id" === "curve")
    val out = VectorSummaries.summarizeVector(spanned, Seq("doc_id"), "values",
      types = Set(SummaryType.Mean))
    // schema: no median/mode columns materialized
    assert(out.columns.toSet == Set("doc_id", "count", "mean"))
    // plan: the median/mode value-map aggregator must NOT be in the DAG
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("momentsagg"), plan)
    assert(!plan.toLowerCase.contains("medianmode"), plan)
    val row = out.collect().head
    def arr(name: String): Seq[Double] =
      row.getAs[scala.collection.Seq[Any]](name).toSeq.map(_.toString.toDouble)
    assert(math.abs(arr("mean")(0) - 0.5538461538) < 1e-6)
  }

  test("median-only vector path skips the moments aggregator") {
    val spanned = Summaries.withSpans(fixture, "doc_id", Some("transform_id"),
      "ts", Some("duration"))
      .where($"transform_id" === "curve")
    val out = VectorSummaries.summarizeVector(spanned, Seq("doc_id"), "values",
      types = Set(SummaryType.Median))
    assert(out.columns.toSet == Set("doc_id", "median"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("momentsagg"), plan)
    val row = out.collect().head
    val med = row.getAs[scala.collection.Seq[Any]]("median").head.toString.toDouble
    assert(math.abs(med - 0.6) < 1e-6)
  }

  test("median/mode partials are product-encoded (columnar, not a Kryo blob)") {
    val enc = org.apache.spark.sql.Encoders.product[VectorSummaries.MMBuf]
    // a Kryo encoder would surface as a single opaque binary field; the
    // product encoder keeps shuffled/spilled partials as nested arrays in
    // UnsafeRows
    assert(!enc.schema.exists(_.dataType == org.apache.spark.sql.types.BinaryType),
      enc.schema.treeString)
    assert(enc.schema.fields.map(_.dataType.typeName).toSeq == Seq("array", "array"),
      enc.schema.treeString)
  }

  test("median/mode buffer merge handles ragged + NaN + tie cases") {
    val agg = new VectorSummaries.VectorMedianModeAgg
    val b1 = agg.reduce(agg.zero, VectorSummaries.VW(Seq(1.0, Double.NaN), 1.0))
    val b2 = agg.reduce(agg.zero, VectorSummaries.VW(Seq(1.0, 2.0, 3.0), 2.0))
    val m = agg.merge(b1, b2)
    val out = agg.finish(m)
    // bin 0: {1.0 -> 3.0}; bin 1: {NaN -> 1, 2.0 -> 2} -> mode 2.0 (max w)
    assert(out.mode(0) == 1.0)
    assert(out.mode(1) == 2.0)
    // bin 2 only present in b2
    assert(out.median(2) == 3.0)
    // NaN keys accumulate into ONE entry (Java double total order)
    val b3 = agg.reduce(b1, VectorSummaries.VW(Seq(0.0, Double.NaN), 5.0))
    val out3 = agg.finish(b3)
    assert(out3.mode(1).isNaN) // NaN span now 6.0 > nothing else
  }

  test("segmented summaries: per-segment counts sum to global count") {
    val specs = Seq(TransformSpec("curve", "graft:energy",
      summaryType = Some(SummaryType.Count)))
    val counts = Engine.summarize(featureRows, specs, Seq(2 * S, 5 * S))
      .collect().map(r => r.getAs[Long]("seg_start_ns") ->
        r.getAs[scala.collection.Seq[Double]]("values").head.toLong).toMap
    assert(counts.values.sum == 10L)
    assert(counts(0L) == 3)          // ts 0, .75, 1.5
    assert(counts(2 * S) == 4)       // 2.25 3.0 3.75 4.5
    assert(counts(5 * S) == 3)       // 5.25 6.0 6.75
  }

  test("summary rows carry the reference's label strings") {
    // one summary type per transform (the reference's transform model);
    // "notes" is a notes-regions stream of its own, as its rows differ
    val specs = Seq(
      TransformSpec("curve", "graft:energy", summaryType = Some(SummaryType.Mean)),
      TransformSpec("notes", "graft:regions", summaryType = Some(SummaryType.Count)))
    val rows = Engine.summarize(featureRows, specs)
      .collect().map(r => r.getAs[String]("summary_name") -> r.getAs[String]("label")).toMap
    assert(rows("mean") == "(mean value, continuous-time average)")
    assert(rows("count") == "(count)")
  }
}

package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Windows

class WindowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sessionize: new session when gap exceeds threshold") {
    val df = Seq(("u", 0L, 1.0), ("u", 10L, 1.0), ("u", 100L, 1.0),
      ("u", 105L, 1.0), ("v", 0L, 1.0)).toDF("user", "ts", "v")
    val out = Windows.sessionize(df, "user", "ts", 50L)
      .collect().map(r => (r.getAs[String]("user"), r.getAs[Long]("ts")) ->
        r.getAs[Long]("session_id")).toMap
    assert(out(("u", 0L)) == 0)
    assert(out(("u", 10L)) == 0)
    assert(out(("u", 100L)) == 1)
    assert(out(("u", 105L)) == 1)
    assert(out(("v", 0L)) == 0)
  }

  test("forwardFill carries last non-null per entity") {
    val df = Seq(("u", 1L, Some(5.0)), ("u", 2L, None), ("u", 3L, None),
      ("u", 4L, Some(7.0)), ("v", 1L, None))
      .toDF("user", "ts", "v")
    val out = Windows.forwardFill(df, "user", "ts", Seq("v"))
      .collect().map(r => (r.getAs[String]("user"), r.getAs[Long]("ts")) ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    assert(out(("u", 1L)).contains(5.0))
    assert(out(("u", 2L)).contains(5.0))
    assert(out(("u", 3L)).contains(5.0))
    assert(out(("u", 4L)).contains(7.0))
    assert(out(("v", 1L)).isEmpty)
  }

  test("fillEnds: end = next ts; last row = own ts (reference fill-ends rule)") {
    // goldens tests/test-csv-writer/expected/curve-vsr-fill-ends.csv
    val df = Seq(("d", 0L), ("d", 10L), ("d", 25L)).toDF("doc", "ts")
    val out = Windows.fillEnds(df, Seq("doc"), "ts")
      .collect().map(r => r.getAs[Long]("ts") -> r.getAs[Long]("end_ts")).toMap
    assert(out(0L) == 10L)
    assert(out(10L) == 25L)
    assert(out(25L) == 25L)
    // the summarizer's form: timelines keyed by (doc, transform), the last
    // row extended to a given end
    val two = Seq(("d", "a", 0L), ("d", "a", 10L), ("d", "b", 5L)).toDF("doc", "tr", "ts")
    val ext = Windows.fillEnds(two, Seq("doc", "tr"), "ts", lastEnd = Some(lit(40L)))
      .collect().map(r => (r.getAs[String]("tr"), r.getAs[Long]("ts")) ->
        r.getAs[Long]("end_ts")).toMap
    assert(ext == Map(("a", 0L) -> 10L, ("a", 10L) -> 40L, ("b", 5L) -> 40L))
  }

  test("fillEnds with duration: explicit duration wins (end-times rule)") {
    // goldens tests/test-csv-writer/expected/notes-regions-end-times.csv
    val df = Seq(("d", 0L, Some(4L)), ("d", 10L, None: Option[Long]))
      .toDF("doc", "ts", "dur")
    val out = Windows.fillEnds(df, Seq("doc"), "ts", Some("dur"))
      .collect().map(r => r.getAs[Long]("ts") -> r.getAs[Long]("end_ts")).toMap
    assert(out(0L) == 4L)
    assert(out(10L) == 10L)
  }

  test("segment assigns greatest boundary <= ts, pre-boundary rows to 0") {
    val df = Seq(("d", 1L), ("d", 5L), ("d", 9L), ("d", 20L)).toDF("doc", "ts")
    val out = Windows.segment(df, "ts", Seq(5L, 10L))
      .collect().map(r => r.getAs[Long]("ts") -> r.getAs[Long]("seg_start")).toMap
    assert(out(1L) == 0L)
    assert(out(5L) == 5L)
    assert(out(9L) == 5L)
    assert(out(20L) == 10L)
  }

  test("globalRowNumberByGroup rejects inputs carrying its internal columns") {
    // the offsets join adds __opid/__g/__offset; an input column of the
    // same name must fail with the crafted message, not an ambiguous
    // reference deep in the plan
    val df = Seq((1L, "a", 0), (2L, "a", 0), (3L, "b", 1)).toDF("id", "grp", "__g")
    val e = intercept[IllegalArgumentException](
      Windows.globalRowNumberByGroup(df, "grp", "id").collect())
    assert(e.getMessage.contains("output columns already exist: __g"), e.getMessage)
  }
}

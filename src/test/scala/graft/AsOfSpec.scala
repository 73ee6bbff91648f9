package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AsOf

/** As-of join vs a brute-force in-memory oracle + the zero-temporal-leakage
  * invariant (north_rule; FIXTURES.md §6). Property-style testing with a
  * seeded RNG (deterministic; scalatestplus is not in the offline cache). */
case class F(doc_id: String, ts: Long, v: Double)
case class Q(doc_id: String, ts: Long)

class AsOfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomCase(rnd: scala.util.Random): (List[F], List[Q]) = {
    val docs = (0 until 1 + rnd.nextInt(4)).map(i => s"d$i")
    val feats = List.fill(30)(F(docs(rnd.nextInt(docs.size)),
      rnd.nextInt(50).toLong, rnd.nextInt(1000) / 10.0))
      // one feature per (doc, ts) so the oracle is well-defined
      .groupBy(f => (f.doc_id, f.ts)).map(_._2.maxBy(_.v)).toList
    val qs = List.fill(30)(Q(docs(rnd.nextInt(docs.size)),
      rnd.nextInt(60).toLong)).distinct
    (feats, qs)
  }

  private def oracle(fs: List[F], q: Q): Option[F] =
    fs.filter(f => f.doc_id == q.doc_id && f.ts <= q.ts)
      .sortBy(_.ts).lastOption

  test("as-of join matches brute-force oracle; zero leakage (20 seeded cases)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val (fs, qs) = randomCase(rnd)
      val out = AsOf.join(
        qs.toDF("doc_id", "ts"),
        fs.map(f => (f.doc_id, f.ts, f.v)).toDF("doc_id", "ts", "fv"),
        "doc_id", "ts", Seq("fv"))
        .collect()
        .map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("ts")) ->
          (Option(r.getAs[java.lang.Double]("fv")).map(_.toDouble),
           Option(r.getAs[java.lang.Long]("matched_ts")).map(_.toLong)))
        .toMap
      assert(out.size == qs.size)
      qs.foreach { q =>
        val (gotV, gotTs) = out((q.doc_id, q.ts))
        val exp = oracle(fs, q)
        assert(gotV == exp.map(_.v), s"value for $q (features $fs)")
        assert(gotTs == exp.map(_.ts), s"matched_ts for $q")
        gotTs.foreach(t => assert(t <= q.ts, "temporal leakage!"))
      }
    }
  }

  test("strict variant excludes equal-timestamp features") {
    val fs = Seq(("d", 10L, 1.0), ("d", 20L, 2.0)).toDF("doc_id", "ts", "fv")
    val qs = Seq(("d", 10L), ("d", 20L), ("d", 25L), ("d", 5L)).toDF("doc_id", "ts")
    val out = AsOf.join(qs, fs, "doc_id", "ts", Seq("fv"), strict = true)
      .collect().map(r => r.getAs[Long]("ts") ->
        Option(r.getAs[java.lang.Double]("fv")).map(_.toDouble)).toMap
    assert(out(5L).isEmpty)
    assert(out(10L).isEmpty)        // equal ts not visible in strict mode
    assert(out(20L).contains(1.0))  // sees the 10 but not the 20
    assert(out(25L).contains(2.0))
  }

  test("inclusive default sees equal-timestamp features") {
    val fs = Seq(("d", 10L, 1.0)).toDF("doc_id", "ts", "fv")
    val qs = Seq(("d", 10L)).toDF("doc_id", "ts")
    val out = AsOf.join(qs, fs, "doc_id", "ts", Seq("fv")).collect().head
    assert(out.getAs[Double]("fv") == 1.0)
    assert(out.getAs[Long]("matched_ts") == 10L)
  }

  test("interval variant expires features past ts+duration") {
    val fs = Seq(("d", 10L, Some(5L), 1.0), ("d", 30L, None: Option[Long], 3.0))
      .toDF("doc_id", "ts", "dur", "fv")
    val qs = Seq(("d", 12L), ("d", 14L), ("d", 15L), ("d", 20L), ("d", 31L))
      .toDF("doc_id", "ts")
    val out = AsOf.joinInterval(qs, fs, "doc_id", "ts", "dur", Seq("fv"))
      .collect().map(r => r.getAs[Long]("ts") ->
        Option(r.getAs[java.lang.Double]("fv")).map(_.toDouble)).toMap
    assert(out(12L).contains(1.0))
    assert(out(14L).contains(1.0))
    assert(out(15L).isEmpty)  // interval is [10, 15): expired exactly at end
    assert(out(20L).isEmpty)
    assert(out(31L).contains(3.0)) // open-ended (null duration)
  }

  test("bucketed (skew-resistant) join is identical to the plain join") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val (fs, qs) = randomCase(rnd)
      val fdf = fs.map(f => (f.doc_id, f.ts, f.v)).toDF("doc_id", "ts", "fv")
      val qdf = qs.toDF("doc_id", "ts")
      val plain = AsOf.join(qdf, fdf, "doc_id", "ts", Seq("fv"))
        .orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
      val bucketed = AsOf.joinBucketed(qdf, fdf, "doc_id", "ts", Seq("fv"), 7L)
        .orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
      assert(bucketed == plain)
    }
  }

  test("native Catalyst as-of (custom SparkPlan) equals the window rewrite") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 10) {
      val (fs, qs) = randomCase(rnd)
      val fdf = fs.map(f => (f.doc_id, f.ts, f.v)).toDF("doc_id", "ts", "fv")
      val qdf = qs.toDF("doc_id", "ts")
      for (strict <- Seq(false, true)) {
        val window = AsOf.join(qdf, fdf, "doc_id", "ts", Seq("fv"), strict)
          .orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
        val native = graft.plans.AsOfNative.join(qdf, fdf, "doc_id", "ts",
          Seq("fv"), strict)
          .orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
        assert(native == window, s"strict=$strict")
      }
    }
  }

  test("native as-of plan inserts one exchange + one sort per side") {
    val fdf = Seq(("d", 1L, 1.0)).toDF("doc_id", "ts", "fv")
    val qdf = Seq(("d", 2L)).toDF("doc_id", "ts")
    val plan = graft.plans.AsOfNative.join(qdf, fdf, "doc_id", "ts", Seq("fv"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2)
  }

  test("assumeSorted on truly-sorted input equals the planner-sorted join") {
    val fdf = Seq(("a", 1L, 1.0), ("a", 5L, 2.0), ("b", 3L, 3.0))
      .toDF("doc_id", "ts", "fv")
      .repartition(1, org.apache.spark.sql.functions.col("doc_id"))
      .sortWithinPartitions("doc_id", "ts")
    val qdf = Seq(("a", 2L), ("a", 9L), ("b", 2L), ("b", 4L)).toDF("doc_id", "ts")
    val plain = graft.plans.AsOfNative.join(qdf, fdf, "doc_id", "ts", Seq("fv"))
      .orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
    val claimed = graft.plans.AsOfNative.join(qdf,
      graft.plans.AsOfNative.assumeSorted(fdf, "doc_id", "ts"),
      "doc_id", "ts", Seq("fv"))
      .orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
    assert(claimed == plain)
  }

  /** The messages of `t` and all its causes (task failures arrive wrapped). */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  /** Run `df` and assert it fails with the ordering-violation error of a
    * claim on `cols`. */
  private def assertClaimViolated(df: org.apache.spark.sql.DataFrame,
      cols: String): Unit = {
    val e = intercept[org.apache.spark.SparkException] { df.collect() }
    assert(msgs(e).exists(_.contains(s"not sorted by ($cols)")),
      s"expected ordering-violation error, got: ${msgs(e)}")
  }

  /** Native as-of over single-partition sides, so EnsureRequirements
    * inserts no exchange (which would re-sort and mask a false claim). */
  private def claimedJoin(qs: Seq[(String, Long)], fs: Seq[(String, Long, Double)],
      claimQueries: Boolean, claimFeatures: Boolean) = {
    import graft.plans.AsOfNative
    val qdf = qs.toDF("doc_id", "ts").coalesce(1)
    val fdf = fs.toDF("doc_id", "ts", "fv").coalesce(1)
    AsOfNative.join(
      if (claimQueries) AsOfNative.assumeSorted(qdf, "doc_id", "ts") else qdf,
      if (claimFeatures) AsOfNative.assumeSorted(fdf, "doc_id", "ts") else fdf,
      "doc_id", "ts", Seq("fv"))
  }

  test("a FALSE assumeSorted claim fails loudly, never silently") {
    // deliberately unsorted feature stream in one partition
    assertClaimViolated(claimedJoin(Seq(("a", 10L), ("a", 11L)),
      Seq(("a", 9L, 1.0), ("a", 1L, 2.0), ("a", 5L, 3.0)),
      claimQueries = false, claimFeatures = true), "doc_id, ts")
    // deliberately unsorted query stream; the features are planner-sorted
    assertClaimViolated(claimedJoin(Seq(("a", 11L), ("a", 10L)),
      Seq(("a", 1L, 1.0), ("a", 5L, 2.0)),
      claimQueries = true, claimFeatures = false), "doc_id, ts")
    // a claim must name at least one column
    intercept[IllegalArgumentException] {
      graft.plans.AsOfNative.assumeSorted(Seq(1).toDF("k"))
    }
  }

  test("a false claim on right rows the merge never matches still fails") {
    // the unsorted right rows all lie past the only left row: a merge that
    // stops reading at the last left row would return a silent no-match
    // where (a, 1) is the right answer
    assertClaimViolated(claimedJoin(Seq(("a", 3L)),
      Seq(("a", 5L, 1.0), ("a", 1L, 2.0)),
      claimQueries = false, claimFeatures = true), "doc_id, ts")
  }

  test("a false claim out of order across entities fails") {
    // (b, 1) before (a, 1): entity order broken, the (a, 1) match lost
    assertClaimViolated(claimedJoin(Seq(("a", 2L)),
      Seq(("b", 1L, 1.0), ("a", 1L, 2.0)),
      claimQueries = false, claimFeatures = true), "doc_id, ts")
  }

  test("a false assumeSorted claim under a sort-merge join fails loudly") {
    import graft.plans.AsOfNative
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      // same repartition(n, key) on both sides: co-partitioned, so the
      // planner adds no exchange, and the claims satisfy the join's
      // required ordering, so it adds no sort either
      val l = AsOfNative.assumeSorted(Seq(("b", 1), ("a", 2), ("c", 3))
        .toDF("k", "lv").repartition(1, $"k"), "k")
      val r = AsOfNative.assumeSorted(Seq(("a", 4), ("b", 5), ("c", 6))
        .toDF("k2", "rv").repartition(1, $"k2"), "k2")
      val joined = l.join(r, $"k" === $"k2", "full_outer")
      val fp = graft.engine.PlanFingerprint.of(joined)
      assert(fp.sortMergeJoins == 1 && fp.sorts == 0,
        s"expected an SMJ that trusts the claims, got ${fp.json}")
      assertClaimViolated(joined, "k")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("native as-of handles NULL entity keys like the window rewrite (no NPE)") {
    val fs = Seq((Some("d"), 5L, 1.5), (None, 3L, 9.0), (None, 7L, 8.0))
      .toDF("doc_id", "ts", "fv")
    val qs = Seq((Some("d"), 6L), (None, 4L), (None, 10L), (Some("e"), 2L))
      .toDF("doc_id", "ts")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"ts", $"fv", $"matched_ts").collect()
        .map(r => (Option(r.get(0)), r.getLong(1)) ->
          (Option(r.get(2)), Option(r.get(3)))).toMap
    val win = key(AsOf.join(qs, fs, "doc_id", "ts", Seq("fv")))
    val nat = key(graft.plans.AsOfNative.join(qs, fs, "doc_id", "ts", Seq("fv")))
    assert(nat == win)
    // null entities form their own timeline (the window groups them)
    assert(win((None, 4L)) == (Some(9.0), Some(3L)))
    assert(win((None, 10L)) == (Some(8.0), Some(7L)))
    assert(win((Some("e"), 2L)) == (None, None))
  }

  test("native as-of fails fast on cross-side entity dtype mismatch") {
    val fs = Seq((1L, 5L, 1.5)).toDF("doc_id", "ts", "fv")
    val qs = Seq((1, 6L)).toDF("doc_id", "ts") // Int vs Long entity
    val e = intercept[IllegalArgumentException] {
      graft.plans.AsOfNative.join(qs, fs, "doc_id", "ts", Seq("fv"))
    }
    assert(e.getMessage.contains("entity dtype mismatch"))
  }

  test("query columns and row count are preserved (one row per query)") {
    val fs = Seq(("d", 5L, 1.0), ("d", 5L, 1.0)).toDF("doc_id", "ts", "fv")
    val qs = Seq(("d", 6L, "x"), ("d", 6L, "y"), ("e", 1L, "z"))
      .toDF("doc_id", "ts", "payload")
    val out = AsOf.join(qs, fs, "doc_id", "ts", Seq("fv"))
    assert(out.count() == 3)
    assert(out.columns.toSeq == Seq("doc_id", "ts", "payload", "fv", "matched_ts"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.GraftExtensions

/** The SparkSessionExtensions surface: SQL access to the native
  * expressions and the injected as-of planner strategy. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("minhash_sig native expression == the HOF executable spec") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TokenFeatures
    val rows = Seq(
      Seq[Integer](3, 1, 4, 1, 5, 9, 2, 6),
      Seq[Integer](0),
      Seq[Integer](),                        // empty -> H null entries
      Seq[Integer](Int.MaxValue, 7, -3),     // overflow + negative dividend
      Seq[Integer](2, null, 9))              // null elements skipped
    val df = rows.toDF("tokens")
    val both = df.select(
      TokenFeatures.minhashSignature(col("tokens"), 8).as("native"),
      HofSpecs.minhashSignatureHof(col("tokens"), 8).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), r.toString)
    }
    // NULL tokens array -> H null ENTRIES (the HOF mapped over
    // sequence(H), so the result array itself was never null; the
    // native wrapper preserves that exactly)
    val nr = Seq(Tuple1(null: Seq[Integer])).toDF("tokens")
      .select(TokenFeatures.minhashSignature(col("tokens"), 4).as("n"),
        HofSpecs.minhashSignatureHof(col("tokens"), 4).as("h"))
      .collect().head
    assert(!nr.isNullAt(0) && !nr.isNullAt(1))
    assert(nr.getSeq[Any](0) == nr.getSeq[Any](1))
    assert(nr.getSeq[Any](0) == Seq(null, null, null, null))
    // the dedup plan carries the fused expression, not the HOF chain
    val plan = df.select(TokenFeatures.minhashSignature(col("tokens"), 8))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("minhash_sig"), plan)
    assert(!plan.contains("array_min"), plan)
  }

  test("simhash32 native expression == the HOF executable spec") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TokenFeatures
    val rows = Seq(
      Seq(3, 1, 4, 1, 5, 9, 2, 6),
      Seq(0),
      Seq.empty[Int],                 // empty -> 0L
      Seq(Int.MaxValue, -7, 42),      // overflow + negative tokens
      (1 to 200).toSeq)
    val both = rows.toDF("tokens").select(
      TokenFeatures.simhash32(col("tokens")).as("native"),
      HofSpecs.simhash32Hof(col("tokens")).as("hof"))
    both.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), r.toString)
    }
    val plan = rows.toDF("tokens")
      .select(TokenFeatures.simhash32(col("tokens")))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("simhash32"), plan)
    assert(!plan.contains("aggregate(lambda"), plan)
  }

  test("fingerprint64 native expression == the HOF executable spec") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TokenFeatures
    val rows = Seq(
      Seq[Integer](3, 1, 4, 1, 5),
      Seq[Integer](),
      Seq[Integer](0, 0, 0),
      Seq[Integer](Int.MaxValue, 2, Int.MaxValue),
      Seq[Integer](9, null, 4)) // null element poisons the fold -> NULL
    val both = rows.toDF("tokens").select(
      TokenFeatures.fingerprint(col("tokens")).as("native"),
      HofSpecs.fingerprintHof(col("tokens")).as("hof"))
    both.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), r.toString)
    }
  }

  test("ngram_repetition stats: totals, distinct, top multiplicity") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.NgramRepetitionStats
    val rows = Seq(
      Seq[Integer](7, 7, 7, 7),        // (7,7) x3 -> total 3, distinct 1, top 3
      Seq[Integer](1, 2, 3),           // total 2, distinct 2, top 1
      Seq[Integer](1),                 // no window
      Seq[Integer](1, null, 2, 9))     // null windows excluded -> only (2,9)
    val got = rows.toDF("tokens")
      .select(NgramRepetitionStats(col("tokens"), 2).as("st"))
      .select("st.total", "st.distinct", "st.top")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(got(0) == ((3, 1, 3)))
    assert(got(1) == ((2, 2, 1)))
    assert(got(2) == ((0, 0, 0)))
    assert(got(3) == ((1, 1, 1)))
  }

  test("register exposes the native expressions to spark.sql") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val ic = spark.sql(
      "SELECT intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS c")
      .head().getInt(0)
    assert(ic == 2)
    val fe = spark.sql(
      "SELECT frame_energy(array(1, 2, 3, 4), 2, 2) AS f")
      .head().getSeq[Double](0)
    assert(fe == Seq((1.0 + 4.0) / 2, (9.0 + 16.0) / 2))
    val fm = spark.sql(
      "SELECT frame_mean(array(2, 4, 6, 8), 2, 2) AS f")
      .head().getSeq[Double](0)
    assert(fm == Seq(3.0, 7.0))
    val th = spark.sql(
      "SELECT token_histogram(array(0, 1, 17, 5), 16) AS h")
      .head().getSeq[Long](0)
    assert(th(0) == 1 && th(1) == 2 && th(5) == 1)
    val ms = spark.sql(
      "SELECT minhash_sig(array(3, 1, 4), 2) AS s")
      .head().getSeq[Long](0)
    assert(ms == Seq(8L, 11L)) // h=0: min(t+7); h=1: min(3t+8)
    val hs = spark.sql(
      "SELECT hyperplane_sig(array(1.0d, 0.0d, 0.5d, 0.2d), 4, 4) AS s")
      .head().getLong(0)
    val v = Seq(1.0, 0.0, 0.5, 0.2)
    val expectSig = graft.operators.Similarity.planeMatrix(4, 4).zipWithIndex
      .foldLeft(0L) { case (acc, (plane, p)) =>
        val d = v.zip(plane).foldLeft(0.0)((a, xc) => a + xc._1 * xc._2)
        if (d >= 0) acc | (1L << p) else acc
      }
    assert(hs == expectSig)
    val gf = spark.sql("SELECT g_format(10000000.0d, 6) AS g")
      .head().getString(0)
    assert(gf == "1e+07")
    // frame_spectrum: rectangular DC bin of one frame = frame sum
    val fs = spark.sql(
      "SELECT frame_spectrum(array(1, 2, 3, 4), 4, 4, 'rectangular') AS s")
      .head().getSeq[scala.collection.Seq[Float]](0)
    assert(fs.length == 1 && fs.head.length == 3) // 4/2+1 bins
    assert(fs.head.head == 10.0f)
    // null elements surface as NULL (VecDot convention), never as a
    // silently-zeroed plausible value
    assert(spark.sql(
      "SELECT frame_spectrum(array(1, NULL, 3, 4), 4, 4, 'rectangular')")
      .head().isNullAt(0))
    assert(spark.sql("SELECT frame_energy(array(1, NULL), 2, 2)")
      .head().isNullAt(0))
    // registration is idempotent
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT vec_dot(array(1.0d), array(2.0d))")
      .head().getDouble(0) == 2.0)
  }

  test("builder-time apply() actually injects the strategy and functions") {
    // getOrCreate would hand back the shared session (extensions apply
    // only on construction) — evaluate the extensions object itself
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    val strategies = org.apache.spark.sql.graftbridge.Bridge
      .builtPlannerStrategies(ext, spark)
    assert(strategies.exists(_.isInstanceOf[graft.plans.AsOfJoinStrategy.type]))
    val reg = org.apache.spark.sql.graftbridge.Bridge.registerInjectedFunctions(
      ext, org.apache.spark.sql.graftbridge.Bridge.emptyFunctionRegistry())
    assert(GraftExtensions.functions.length == 14)
    for ((name, _, _) <- GraftExtensions.functions)
      assert(reg.functionExists(name), s"$name not registered by apply()")
  }

  test("every SQL function reports a wrong argument count the same way") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    def arityError(name: String, args: Seq[Expression]) = {
      val build = GraftExtensions.functions.find(_._1.funcName == name).get._3
      intercept[IllegalArgumentException](build(args)).getMessage
    }
    assert(arityError("vec_dot", Seq(Literal(1))) == "vec_dot takes 2 arguments, got 1")
    assert(arityError("fingerprint64", Nil) == "fingerprint64 takes 1 argument, got 0")
  }

  test("token_histogram: a NULL token makes the histogram NULL, not bin 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TokenFeatures
    GraftExtensions.register(spark)
    assert(spark.sql(
      "SELECT token_histogram(array(1, CAST(NULL AS INT), 3), 4)").head().isNullAt(0))
    // floor-mod bins for negative tokens, power-of-two k or not
    assert(spark.sql("SELECT token_histogram(array(1, 5, 3, -1, -6), 4)")
      .head().getSeq[Long](0) == Seq(0L, 2L, 1L, 2L))
    assert(spark.sql("SELECT token_histogram(array(-1, -6, 7), 5)")
      .head().getSeq[Long](0) == Seq(0L, 0L, 1L, 0L, 2L))
    // the normalized histogram the CLI emits: NULL too, never bins
    // that stop summing to 1
    val h = Seq(Seq[Integer](1, null, 3)).toDF("tokens")
      .select(TokenFeatures.histogram(col("tokens"), size(col("tokens")), 4))
      .head()
    assert(h.isNullAt(0))
  }

  test("SQL functions coerce natural literals and surface corrupt inputs as NULL") {
    GraftExtensions.register(spark)
    // unsuffixed decimal literals: array<decimal> must implicit-cast
    assert(spark.sql("SELECT vec_dot(array(1.0, 2.0), array(3.0, 4.0))")
      .head().getDouble(0) == 11.0)
    assert(spark.sql("SELECT intersect_count(array(1, 3), array(3, 4))")
      .head().getInt(0) == 1)
    // length mismatch / null element -> NULL, matching the HOF forms
    assert(spark.sql("SELECT vec_dot(array(1.0d), array(1.0d, 2.0d))").head().isNullAt(0))
    assert(spark.sql(
      "SELECT vec_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(2.0d, 3.0d))")
      .head().isNullAt(0))
    assert(spark.sql(
      "SELECT intersect_count(array(0L), array(CAST(NULL AS BIGINT)))")
      .head().isNullAt(0))
  }

  test("frame_energy rejects non-literal step/block with a clear error") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT frame_energy(array(1, 2), cast(rand() * 2 as int), 2)")
        .collect()
    }
    assert(e.getMessage.contains("literal int") ||
      e.getMessage.contains("must be"), e.getMessage)
  }
}

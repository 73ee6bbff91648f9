package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Connected components: the driver union-find branch and the
  * large-star/small-star branch of `Dedup.connectedComponents` share one
  * output contract (every paired node -> min reachable id; self-pair-only
  * nodes label themselves; null-endpoint pairs dropped). Equivalence is
  * property-tested on seeded random pair graphs (the two branches share
  * no code; edge limit 0 forces the star branch) and against a
  * test-side min-label loop,
  * and the round count is pinned on the adversarial chain graph — the
  * high-diameter shape the star alternation exists for. */
class CCStarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("node").cast("long"), col("cluster").cast("long"))
      .as[(Long, Long)].collect().toSet

  /** Test oracle: the distributed min-label loop. Every paired node starts
    * labelled by itself; each round takes the min label over a node's
    * neighbours, until no label changes. Slow (one job per diameter step)
    * but shares no code with either `connectedComponents` branch. */
  private def minLabelLoop(pairs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    val e = pairs.select(col("id_a").cast("long").as("x"), col("id_b").cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    val bi = e.union(e.select(col("y").as("x"), col("x").as("y"))).cache()
    try {
      var cur = labelsOf(bi.select(col("x").as("node"), col("x").as("cluster")))
      var prev = Set.empty[(Long, Long)]
      while (cur != prev) {
        prev = cur
        // rebuilt from the collected labels: no lineage growth per round
        val labels = cur.toSeq.toDF("node", "cluster")
        cur = labelsOf(labels.union(
          bi.join(labels, col("y") === col("node"))
            .select(col("x").as("node"), col("cluster")))
          .groupBy("node").agg(min("cluster").as("cluster")))
      }
      cur
    } finally bi.unpersist()
  }

  test("star CC equals min-label CC on seeded random pair graphs") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      // ids deliberately non-contiguous: min-of-component must be an id
      // comparison, not a position artifact
      val ids = (0 until n).map(i => i * 13L + (i % 5))
      val edges = (0 until 80).map { _ =>
        val a = ids(rnd.nextInt(n)); val b = ids(rnd.nextInt(n))
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val pairs = edges.toDF("id_a", "id_b")
      // default limit: this small integral graph takes the union-find branch
      val unionFind = labelsOf(Dedup.connectedComponents(pairs, "id_a", "id_b"))
      val star = labelsOf(Dedup.connectedComponentsStar(pairs, "id_a", "id_b"))
      assert(star == minLabelLoop(pairs), s"seed $seed: star != min-label")
      assert(star == unionFind, s"seed $seed: star != union-find")
      // every cluster label is the component minimum = a member of its
      // own cluster with label == itself
      assert(star.map(_._2).forall(c => star.contains((c, c))), s"seed $seed")
    }
  }

  test("star CC on a 256-node chain: correct and within the round bound") {
    val n = 256
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.starRounds(pairs, "id_a", "id_b", maxIter = 30)
    val got = labelsOf(labels)
    assert(got == (0L until n.toLong).map(i => (i, 0L)).toSet)
    info(s"chain($n) converged in $rounds star rounds")
    // Kiveris et al. bound is O(log^2 n) rounds; empirically a chain of
    // 256 resolves in far fewer. Pin a bound that a regression to
    // per-hop propagation (O(n) rounds) cannot meet.
    assert(rounds <= 16, s"chain($n) took $rounds rounds")
  }

  test("star CC handles string ids (lexicographic minima)") {
    val pairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
      .as[(String, String)].collect().toSet
    assert(star == Set(("a", "a"), ("b", "a"), ("c", "a"),
      ("x", "x"), ("y", "x")))
  }

  test("star CC empty pair table -> empty labels") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponentsStar(pairs, "id_a", "id_b").count() == 0L)
  }

  test("local union-find fast path equals the distributed min-label loop") {
    for (seed <- Seq(3, 11, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      val ids = (0 until n).map(i => i * 17L + (i % 7))
      val edges = (0 until 120).map { _ =>
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
      }.distinct
      val pairs = edges.toDF("id_a", "id_b")
      // default limit: small integral graph takes the driver fast path
      val local = labelsOf(Dedup.connectedComponents(pairs, "id_a", "id_b"))
      assert(local == minLabelLoop(pairs), s"seed $seed: fast path != min-label")
    }
  }

  test("localEdgeLimit=0 disables the fast path (conf escape hatch)") {
    // the escape hatch is now the private[graft] edgeLimit parameter
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = labelsOf(Dedup.connectedComponents(pairs, "id_a", "id_b", 20, 0L))
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    // union-find ignores maxIter; the star branch cannot converge in 0 rounds
    assert(labelsOf(Dedup.connectedComponents(pairs, "id_a", "id_b", 0, Long.MaxValue)) == got)
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, "id_a", "id_b", 0, 0L))
    assert(e.getMessage.contains("did not converge in 0"), e.getMessage)
  }

  test("union-find and star branches return the same rows (Long/Int/String ids, self-pairs, null endpoints)") {
    import org.apache.spark.sql.types._
    for (seed <- Seq(3, 11, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      val ids = (0 until n).map(i => i * 17L + (i % 7))
      val random = (0 until 120).map { _ =>
        (Option(ids(rnd.nextInt(n))), Option(ids(rnd.nextInt(n))))
      }
      // 5000: seen only in a self-pair; 6000/7000: seen only next to a
      // null; ids(0) also pairs with a null on either side
      val edges = (random ++ Seq((Some(5000L), Some(5000L)),
        (Some(6000L), None), (None, Some(7000L)), (None, None),
        (Some(ids(0)), None), (None, Some(ids(0))))).distinct
      val longs = edges.toDF("id_a", "id_b")
      val expect = labelsOf(Dedup.connectedComponents(longs, "id_a", "id_b", 20, Long.MaxValue))
      assert(expect.contains((5000L, 5000L)), s"seed $seed")
      assert(!expect.exists(l => Set(6000L, 7000L)(l._1)), s"seed $seed")
      // zero-padded strings order like the longs they encode
      val typed = Seq(
        LongType -> longs,
        IntegerType -> longs.select(col("id_a").cast("int").as("id_a"),
          col("id_b").cast("int").as("id_b")),
        StringType -> longs.select(lpad(col("id_a").cast("string"), 6, "0").as("id_a"),
          lpad(col("id_b").cast("string"), 6, "0").as("id_b")))
      for ((dt, pairs) <- typed; limit <- Seq(Long.MaxValue, 0L)) {
        val out = Dedup.connectedComponents(pairs, "id_a", "id_b", 20, limit)
        assert(out.schema("node").dataType == dt && out.schema("cluster").dataType == dt,
          s"seed $seed $dt limit $limit: ${out.schema}")
        assert(labelsOf(out) == expect, s"seed $seed $dt limit $limit")
      }
    }
  }

  test("local fast path preserves integer id types") {
    val pairs = Seq((5, 9), (9, 2), (30, 40)).toDF("id_a", "id_b") // IntegerType
    val out = Dedup.connectedComponents(pairs, "id_a", "id_b")
    assert(out.schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(out.schema("cluster").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val got = out.as[(Int, Int)].collect().toSet
    assert(got == Set((2, 2), (5, 2), (9, 2), (30, 30), (40, 30)))
  }

  test("star branch on a 4,096-node chain: within the default maxIter, pinned rounds") {
    val n = 4096
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // the default maxIter must cover it: connectedComponents would throw
    val got = labelsOf(Dedup.connectedComponents(pairs, "id_a", "id_b", 20, 0L))
    assert(got == (0L until n.toLong).map(i => (i, 0L)).toSet)
    val (_, rounds) = Dedup.starRounds(pairs, "id_a", "id_b")
    info(s"chain($n) converged in $rounds star rounds")
    // measured: 13 rounds (the 256-node chain takes 9)
    assert(rounds <= 13, s"chain($n) took $rounds rounds")
    // non-convergence still fails loudly
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, "id_a", "id_b", 2, 0L))
    assert(e.getMessage.contains("did not converge in 2"), e.getMessage)
  }

  test("connectedComponents evaluates the pair input once on either branch") {
    val evals = spark.sparkContext.longAccumulator("cc-pair-evals")
    // a predicate, not a projection: count() may prune an unused
    // projected UDF, but never a filter
    val counted = udf { (_: Long) => evals.add(1); true }.asNondeterministic()
    val n = 200L
    // clusters of 10 hanging off their multiple of 10 (self-pairs included)
    val source = spark.range(n).where(counted(col("id")))
      .select(col("id"), (col("id") - col("id") % 10).as("root"))
    val expect = (0L until n).map(i => (i, i - i % 10)).toSet
    val typed = Seq(
      "long" -> source.select(col("id").as("id_a"), col("root").as("id_b")),
      "string" -> source.select(lpad(col("id").cast("string"), 4, "0").as("id_a"),
        lpad(col("root").cast("string"), 4, "0").as("id_b")))
    for ((name, pairs) <- typed; limit <- Seq(Long.MaxValue, 0L)) {
      evals.reset()
      val got = labelsOf(Dedup.connectedComponents(pairs, "id_a", "id_b", 20, limit))
      assert(got == expect, s"$name limit $limit")
      assert(evals.value == n, s"$name limit $limit: ${evals.value} evaluations of $n pair rows")
    }
  }

  test("star convergence signature: second fold catches first-fold collisions") {
    // Craft two DIFFERENT 2-edge multisets whose (count, sum hash(x,y))
    // agree — a birthday search over murmur3 pair hashes — and assert the
    // second fold (sum hash(y,x)) separates them: the exact silent-
    // convergence hazard VERDICT r5 #2 describes cannot slip past the
    // two-fold signature.
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    def h(x: Long, y: Long): Long =
      Murmur3Hash(Seq(Literal(x), Literal(y)), 42).eval(null)
        .asInstanceOf[Int].toLong
    val cands = (0L until 2000L).map(i => (i + 1000L, i)) // canonical (hi, lo)
    val sums = scala.collection.mutable.HashMap.empty[Long, (Int, Int)]
    var found: Option[((Long, Long), (Long, Long), (Long, Long), (Long, Long))] = None
    var i = 0
    while (found.isEmpty && i < cands.length) {
      var j = i + 1
      while (found.isEmpty && j < cands.length) {
        val s = h(cands(i)._1, cands(i)._2) + h(cands(j)._1, cands(j)._2)
        sums.get(s) match {
          case Some((pi, pj)) if pi != i && pj != i && pi != j && pj != j =>
            found = Some((cands(pi), cands(pj), cands(i), cands(j)))
          case None => sums(s) = (i, j)
          case _ => ()
        }
        j += 1
      }
      i += 1
    }
    val (e1, e2, e3, e4) = found.getOrElse(
      fail("no first-fold collision found in the search space"))
    // first fold collides by construction...
    assert(h(e1._1, e1._2) + h(e2._1, e2._2) == h(e3._1, e3._2) + h(e4._1, e4._2))
    // ...the reversed-argument fold separates the multisets
    assert(h(e1._2, e1._1) + h(e2._2, e2._1) != h(e3._2, e3._1) + h(e4._2, e4._1),
      s"two-fold signature failed to separate $e1,$e2 from $e3,$e4")
  }
}

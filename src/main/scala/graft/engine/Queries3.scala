package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.TransformSpec
import graft.operators.{Dedup, Multiplex, Similarity, Windows}

/** Correctness-gate queries, part 3: minhash-LSH candidate pairs, fixed
  * segment boundaries, fill-ends, ANN (rows-only), positional alignment,
  * and an end-to-end Engine run (spec parsing -> shared-scan plan ->
  * extraction) with a full SQL oracle. */
object Queries3 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueryUtil.t(s, dir, name)

  private def ev(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ts", unix_micros(col("ts").cast("timestamp")))

  private def docsTok(s: SparkSession, dir: String): DataFrame =
    QueryUtil.docsTok(s, dir)

  // --------------------------------------------------------------- q25
  /** MinHash + banded LSH candidate pairs (8 hashes, 4 bands of 2), with
    * the portable band key so DuckDB reproduces the bucketing exactly. */
  def q25MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docsTok(s, dir), "doc_id", "tokens",
      numHashes = 8, bands = 4, threshold = 0.25,
      maxBucket = 1000, portableBucketKey = true)
      .orderBy("id_a", "id_b")

  // --------------------------------------------------------------- q26
  /** Fixed-boundary segmented summaries (the reference `--segments`):
    * boundaries at 2024-01-10 / 2024-01-20 UTC. */
  def q26Segments(s: SparkSession, dir: String): DataFrame = {
    val b1 = 1704844800000000L
    val b2 = 1705708800000000L
    Windows.segment(ev(s, dir), "ts", Seq(b1, b2))
      .groupBy(col("user_id"), col("seg_start"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_v"))
      .orderBy("user_id", "seg_start")
  }

  // --------------------------------------------------------------- q27
  /** fill-ends projection (reference Lab writer rule): end = next event's
    * ts on the user timeline, last event's end = its own ts. */
  def q27FillEnds(s: SparkSession, dir: String): DataFrame =
    Windows.fillEnds(ev(s, dir), Seq("user_id"), "ts")
      .select("event_id", "user_id", "ts", "end_ts")
      .orderBy("event_id")

  // --------------------------------------------------------------- q28
  /** Hyperplane-LSH ANN top-5 (multiprobe). The hyperplane coefficients
    * come from the exact-int64 quadratic-affine family (Similarity
    * .planeMatrix), so the FULL pipeline — signatures, multiprobe bucket
    * join, re-rank — is reproduced verbatim by the DuckDB oracle. */
  def q28AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    Similarity.annTopK(
      e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("v").as("qv")),
      e.select(col("vec_id").as("cid"), col("v").as("cv")),
      dim = 64, k = 5).orderBy("qid", "rk")
  }

  // --------------------------------------------------------------- q29
  /** Positional full-outer alignment (the multiplex zip-join J1 in
    * relational form): purchases vs errors by per-type row position,
    * missing positions contribute 0. Positions come from
    * Windows.globalRowNumber (range-partitioned prefix sum) — round 1
    * used a global row_number window, which moves the whole stream to a
    * single task (the bench log's "No Partition Defined" warning). */
  def q29AlignByPos(s: SparkSession, dir: String): DataFrame = {
    // ONE fused range-partitioned prefix pass numbers both streams
    // (globalRowNumberByGroup) instead of one full
    // sample+materialize+offset chain per event type — identical
    // positions (rank of event_id within type), half the fixed cost
    val e = ev(s, dir)
      .where(col("event_type").isin("purchase", "error"))
      .select(col("event_id"), col("event_type"), col("value"))
    val pos = Windows.globalRowNumberByGroup(e, "event_type", "event_id")
    def seq(tpe: String) = pos.where(col("event_type") === tpe)
      .select("pos", "value")
    Multiplex.alignByPosition(seq("purchase"), seq("error"),
      "purchase_v", "error_v")
      .select(col("pos"), round(col("purchase_v"), 6).as("purchase_v"),
        round(col("error_v"), 6).as("error_v"))
      .orderBy("pos")
  }

  // --------------------------------------------------------------- q30
  /** End-to-end Engine run with a full oracle: JSON transform spec ->
    * shared-scan plan -> energy extractor (rectangular taper, step 8,
    * block 16) over document token sequences. Values are k/16 with k
    * integer (word-length squares), so float32 storage is exact. */
  def q30EngineEnergy(s: SparkSession, dir: String): DataFrame = {
    val specs = TransformSpecs.parseJson(
      """[{"id": "e2e", "plugin": "graft:energy",
         |  "output": "detectionfunction", "step_size": 8,
         |  "block_size": 16, "window_type": "rectangular"}]""".stripMargin)
    val seqs = docsTok(s, dir).select(
      col("doc_id").cast("string").as("doc_id"),
      col("tokens"), col("n_tok"), col("source"))
    Engine.run(seqs, specs)
      .select(col("doc_id"), col("ts"),
        round(element_at(col("values"), 1).cast("double"), 6).as("energy"))
      .orderBy("doc_id", "ts")
  }

  // --------------------------------------------------------------- q31
  /** The NATIVE Catalyst as-of operator (graft.plans.AsOfJoinExec) against
    * the same DuckDB ASOF oracle as q2 — the custom physical plan is
    * oracle-verified, not just property-tested. */
  def q31AsofNative(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val queries = e.where(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")
    val features = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase_value"))
    graft.plans.AsOfNative.join(queries, features, "user_id", "ts",
      Seq("last_purchase_value"))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- q32
  /** MIDI-notes projection (K4): regions rows -> (channel, pitch from Hz,
    * velocity, start, duration); Hz->MIDI per the reference rule. */
  def q32MidiNotes(s: SparkSession, dir: String): DataFrame = {
    // synthesize a notes table from events: value as frequency-like Hz
    val e = ev(s, dir).where(col("event_type") === "click")
    graft.sinks.MidiSink.toNotes(
      e.select(col("user_id").cast("string").as("doc_id"),
        lit("t").as("transform_id"), col("ts").as("ts"),
        lit(500000L).as("duration"),
        array((col("value") + 20.0).cast("float"), lit(0.5f)).as("values"),
        lit("").as("label")),
      unitIsHz = true)
      .select(col("doc_id"), col("ts"), col("pitch"), col("velocity"))
      .orderBy("doc_id", "ts")
  }

  // --------------------------------------------------------------- q33
  /** Embedding-cosine near-duplicate pairs, exact brute-force baseline
    * (the oracle-checkable reference answer for `Dedup.embeddingDupPairs`,
    * whose hyperplane-LSH blocking is recall<1 by design and asserted a
    * subset of THIS result in ScalaTest). Broadcast one side: map-only,
    * no shuffle; at 10^12 rows the LSH variant replaces the cross join. */
  def q33EmbedDup(s: SparkSession, dir: String): DataFrame =
    embedDupPairsExact(s, dir).orderBy("id_a", "id_b")

  /** The q33 pair table WITHOUT the gate's final sort — the CC gates
    * (q35/q36) consume the pairs as an unordered edge set and re-sort
    * their own output, so feeding them the sorted gate wastes a full
    * range exchange + sort of the pair table. */
  private def embedDupPairsExact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n", Similarity.norm(col("v"))) // once per row, not per pair
    val a = e.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("n").as("n_a"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("v_b"),
      col("n").as("n_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosinePre(col("v_a"), col("v_b"),
          col("n_a"), col("n_b")), 6).as("cos"))
      .where(col("cos") >= 0.35)
  }

  // --------------------------------------------------------------- q34
  /** IVF-bucketed ANN top-5 (the inverted-file scale path next to q28's
    * hyperplane LSH). Centroid selection uses the portable id-hash and
    * cell assignment is a literal-folded map-only argmax, so the DuckDB
    * oracle reproduces the whole pipeline (centroids, assignment,
    * probing, re-rank). Recall vs brute force asserted in ScalaTest. */
  def q34IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    Similarity.ivfTopK(
      e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("v").as("qv")),
      e.select(col("vec_id").as("cid"), col("v").as("cv")),
      k = 5, nCentroids = 32, nProbe = 6).orderBy("qid", "rk")
  }

  // --------------------------------------------------------------- q35
  /** Near-duplicate CLUSTERS: connected components (min-reachable-id
    * label) over the q33 embedding-dup pair graph — the canonical-group
    * assignment a dedup pipeline keys its "keep one per cluster" on.
    * Oracle: DuckDB recursive-CTE transitive closure over the same pairs. */
  def q35DedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(embedDupPairsExact(s, dir), "id_a", "id_b")
      .select(col("node").as("id"), col("cluster"))
      .orderBy("id")

  // --------------------------------------------------------------- q36
  /** Near-dup dedup MATERIALIZED: the embeddings table with every
    * non-representative cluster member dropped (keep min id per q35
    * cluster) — the "keep one per cluster" output a training pipeline
    * actually feeds downstream. */
  def q36DedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDuplicates(
      t(s, dir, "embeddings").select(col("vec_id"), col("label")),
      "vec_id", embedDupPairsExact(s, dir))
      .orderBy("vec_id")

  // --------------------------------------------------------------- q37
  /** Sequence packing (training-data layout): every doc assigned to the
    * 2048-token training bin where its first token lands on the
    * deterministic doc_id-ordered stream — computed with the two-stage
    * distributed prefix sum (no single-partition window). */
  def q37Pack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packGreedy(
      docsTok(s, dir).select(col("doc_id"), col("n_tok")),
      "doc_id", "n_tok", 2048)
      .select(col("doc_id"), col("pack_start"), col("pack_bin"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q38
  /** Corpus-level vocabulary frequency top-100: the explode -> groupBy
    * shape where map-side partial aggregation carries the whole job —
    * at 10^12 docs the exploded stream is ~100× the row count, but the
    * shuffle moves only |vocab| partial counts per task (the plan shows
    * partial_count below the exchange). Deterministic tie-break on token. */
  def q38VocabTopK(s: SparkSession, dir: String): DataFrame =
    docsTok(s, dir)
      .select(explode(col("tokens")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(100)

  // --------------------------------------------------------------- q39
  /** Near-dup pair table via the LSH SCALE path (hyperplane-bucket
    * equi-join, `Dedup.embeddingDupPairs`) — no O(N²) stage anywhere.
    * Shared by q39/q40; the portable plane family makes the bucket
    * assignment reproducible in the DuckDB oracle, so the scale path is
    * now oracle-pinned, not just recall-asserted (round-1 gap: the
    * cluster gates q35/q36 fed off the q33 all-pairs baseline).
    *
    * nPlanes/bands/maxBucket are the operator DEFAULTS (16/2/1000 —
    * VERDICT r4 #5: the gate pins the configuration a user gets without
    * tuning, and the defaults must not be the recall trap the plan-time
    * warning describes). */
  private[engine] def lshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingDupPairs(
      t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", dim = 64, threshold = 0.35)

  /** Duplicate clusters over the LSH pair graph: connected components,
    * min-reachable-id label — the scale-path twin of q35. */
  def q39LshClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(lshPairs(s, dir), "id_a", "id_b")
      .select(col("node").as("id"), col("cluster"))
      .orderBy("id")

  // --------------------------------------------------------------- q40
  /** Keep-one-per-cluster over the LSH pair graph — the scale-path twin
    * of q36: every stage (pair gen, clustering, anti join) is bounded by
    * bucket sizes / the pair-graph size; nothing is O(N²). */
  def q40LshKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDuplicates(
      t(s, dir, "embeddings").select(col("vec_id"), col("label")),
      "vec_id", lshPairs(s, dir))
      .orderBy("vec_id")

  // --------------------------------------------------------------- q41
  /** Curve-fsr end-to-end: the changepoints extractor emits sparse
    * explicit-timestamp features SNAPPED to the 2.5 Hz output grid
    * (Framing.snapToGrid; the reference's FixedSampleRate rule, golden
    * vamp-test-plugin-curve-fsr-timed.csv "0.333 snap to 0.4"). Oracle
    * recomputes change positions and the round(ts·rate)/rate snap in
    * DuckDB. Duplicate grid timestamps are KEPT, like the reference. */
  def q41CurveFsr(s: SparkSession, dir: String): DataFrame = {
    val specs = TransformSpecs.parseJson(
      """[{"id": "cp", "plugin": "graft:changepoints",
         |  "output": "changecurve"}]""".stripMargin)
    val seqs = docsTok(s, dir).select(
      col("doc_id").cast("string").as("doc_id"),
      col("tokens"), col("n_tok"), col("source"))
    Engine.run(seqs, specs)
      .select(col("doc_id"), col("ts"),
        element_at(col("values"), 1).cast("double").as("v"))
      .orderBy("doc_id", "ts", "v")
  }

  // ------------------------------------------------------------- wiring

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q25_minhash_lsh" -> q25MinhashLsh,
    "q26_segments" -> q26Segments,
    "q27_fill_ends" -> q27FillEnds,
    "q28_ann_topk" -> q28AnnTopK,
    "q29_align_by_pos" -> q29AlignByPos,
    "q30_engine_energy" -> q30EngineEnergy,
    "q31_asof_native" -> q31AsofNative,
    "q32_midi_notes" -> q32MidiNotes,
    "q33_embed_dup" -> q33EmbedDup,
    "q34_ivf_topk" -> q34IvfTopK,
    "q35_dedup_clusters" -> q35DedupClusters,
    "q36_dedup_keep" -> q36DedupKeep,
    "q37_pack" -> q37Pack,
    "q38_vocab_topk" -> q38VocabTopK,
    "q39_lsh_clusters" -> q39LshClusters,
    "q40_lsh_keep" -> q40LshKeep,
    "q41_curve_fsr" -> q41CurveFsr)

  private val toksSql = QueryUtil.toksSql

  /** DuckDB CTEs reproducing Similarity.planeMatrix (exact-int64
    * double-mixed quadratic-affine coefficients, dim 64 × 8 planes) and
    * the per-vector hyperplane sign-bit bucket — verbatim the engine's
    * LSH blocking. The inner list_transform is mix(x), the outer applies
    * mix again and rescales to [-1, 1). */
  private val sigCte =
    """v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       planes AS (
         SELECT p, list_transform(
           list_transform(range(64), j ->
             ((((p*64+j+1)*(p*64+j+1) % 1000003) * 2654435761
               + 40503*(p*64+j+1) + 1299721) % 1000003)),
           t -> (((t*t % 1000003) * 2654435761
                  + 40503*t + 1299721) % 1000003) / 500001.5 - 1.0) AS w
         FROM range(8) t(p)),
       sigb AS (
         SELECT v.vec_id,
           CAST(sum(CASE WHEN list_dot_product(v.emb, planes.w) >= 0
                    THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
         FROM v, planes GROUP BY v.vec_id),
       sig AS (SELECT v.vec_id, v.emb, sigb.bucket
               FROM v JOIN sigb USING (vec_id))"""

  /** DuckDB CTE for the unrounded-cosine LSH pair list — verbatim
    * Dedup.embeddingDupPairs(dim=64, threshold=0.35) at the operator
    * DEFAULTS nPlanes=16, bands=2, maxBucket=1000 (VERDICT r4 #5): band
    * b's 16-bit signature uses global planes [16b, 16b+16) of the same
    * exact-int64 family (p // 16 = band, p % 16 = bit), candidates are
    * any-band bucket matches, and degenerate (band, bucket) groups over
    * 1000 members are DROPPED — the engine's skew cap, which the oracle
    * must model (the q25 lesson: invisible at sf0.01, divergent at
    * sf0.1). */
  private val lshPairsCte =
    """v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       planes AS (
         SELECT p, list_transform(
           list_transform(range(64), j ->
             ((((p*64+j+1)*(p*64+j+1) % 1000003) * 2654435761
               + 40503*(p*64+j+1) + 1299721) % 1000003)),
           t -> (((t*t % 1000003) * 2654435761
                  + 40503*t + 1299721) % 1000003) / 500001.5 - 1.0) AS w
         FROM range(32) t(p)),
       sigb AS (
         SELECT v.vec_id, p // 16 AS band,
           CAST(sum(CASE WHEN list_dot_product(v.emb, planes.w) >= 0
                    THEN 1 << (p % 16) ELSE 0 END) AS BIGINT) AS bucket
         FROM v, planes GROUP BY v.vec_id, p // 16),
       capped AS (
         SELECT vec_id, band, bucket FROM (
           SELECT vec_id, band, bucket,
             count(*) OVER (PARTITION BY band, bucket) AS bn
           FROM sigb) WHERE bn <= 1000),
       p AS (
         SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM capped a JOIN capped b
           ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
         JOIN v va ON va.vec_id = a.vec_id
         JOIN v vb ON vb.vec_id = b.vec_id
         WHERE list_dot_product(va.emb, vb.emb) /
           (sqrt(list_dot_product(va.emb, va.emb)) *
            greatest(sqrt(list_dot_product(vb.emb, vb.emb)), 1e-12)) >= 0.35),
       e AS (SELECT id_a AS a, id_b AS b FROM p
             UNION SELECT id_b, id_a FROM p),
       reach(node, r) AS (
         SELECT a, a FROM e
         UNION
         SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a)"""

  val oracle: Map[String, String] = Map(
    "q41_curve_fsr" ->
      s"""WITH t AS (SELECT doc_id::VARCHAR AS doc_id, $toksSql AS toks
                     FROM documents),
         c AS (
           SELECT doc_id,
             unnest(list_transform(
               list_filter(range(len(toks)),
                 i -> i = 0 OR toks[i+1] <> toks[i]),
               i -> {'i': i, 'v': toks[i+1]})) AS r
           FROM t WHERE len(toks) > 0)
         SELECT doc_id,
                CAST(round((r.i * 1000000) / 400000000.0) * 400000000
                  AS BIGINT) AS ts,
                CAST(r.v AS DOUBLE) AS v
         FROM c ORDER BY doc_id, ts, v""",
    "q28_ann_topk" ->
      s"""WITH $sigCte,
         flips AS (
           SELECT CAST(0 AS BIGINT) AS f
           UNION ALL SELECT CAST(1 << a.a AS BIGINT) FROM range(8) a(a)
           UNION ALL SELECT CAST((1 << a.a) | (1 << b.b) AS BIGINT)
             FROM range(8) a(a), range(8) b(b) WHERE a.a < b.b),
         cand AS (
           SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
             round(list_dot_product(q.emb, c.emb) /
               (sqrt(list_dot_product(q.emb, q.emb)) *
                greatest(sqrt(list_dot_product(c.emb, c.emb)), 1e-12)),
               6) AS score
           FROM sig q, flips, sig c
           WHERE q.vec_id < 20 AND c.bucket = xor(q.bucket, flips.f)
             AND q.vec_id <> c.vec_id),
         rk AS (SELECT qid, cid, score,
                row_number() OVER (PARTITION BY qid
                  ORDER BY score DESC, cid) AS rk
                FROM cand)
         SELECT qid, rk, cid, score FROM rk WHERE rk <= 5
         ORDER BY qid, rk""",
    "q34_ivf_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         cents AS (
           SELECT vec_id AS centroid_id, emb AS cemb FROM v
           ORDER BY (vec_id % 1000000007) * 2654435761 % 1000000007, vec_id
           LIMIT 32),
         cc AS (
           SELECT v.vec_id, cents.centroid_id,
             list_dot_product(v.emb, cents.cemb) /
               (sqrt(list_dot_product(v.emb, v.emb)) *
                greatest(sqrt(list_dot_product(cents.cemb, cents.cemb)),
                  1e-12)) AS cs
           FROM v, cents),
         rkc AS (SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cs DESC, centroid_id) AS rn
                 FROM cc),
         cand AS (
           SELECT DISTINCT p.vec_id AS qid, a.vec_id AS cid,
             round(list_dot_product(q.emb, c.emb) /
               (sqrt(list_dot_product(q.emb, q.emb)) *
                greatest(sqrt(list_dot_product(c.emb, c.emb)), 1e-12)),
               6) AS score
           FROM (SELECT * FROM rkc WHERE rn <= 6 AND vec_id < 20) p
           JOIN (SELECT * FROM rkc WHERE rn = 1) a
             ON p.centroid_id = a.centroid_id
           JOIN v q ON q.vec_id = p.vec_id
           JOIN v c ON c.vec_id = a.vec_id
           WHERE p.vec_id <> a.vec_id),
         rk AS (SELECT qid, cid, score,
                row_number() OVER (PARTITION BY qid
                  ORDER BY score DESC, cid) AS rk
                FROM cand)
         SELECT qid, rk, cid, score FROM rk WHERE rk <= 5
         ORDER BY qid, rk""",
    "q39_lsh_clusters" ->
      s"""WITH RECURSIVE $lshPairsCte
         SELECT node AS id, min(r) AS cluster FROM reach
         GROUP BY 1 ORDER BY 1""",
    "q40_lsh_keep" ->
      s"""WITH RECURSIVE $lshPairsCte,
         losers AS (
           SELECT node FROM reach GROUP BY node HAVING node <> min(r))
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT node FROM losers)
         ORDER BY vec_id""",
    "q38_vocab_topk" ->
      s"""SELECT token, count(*) AS cnt
         FROM (SELECT unnest($toksSql) AS token FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 100""",
    "q37_pack" ->
      s"""WITH t AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                     FROM documents),
         c AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS s
               FROM t)
         SELECT doc_id, s - n AS pack_start, (s - n) // 2048 AS pack_bin
         FROM c ORDER BY doc_id""",
    "q36_dedup_keep" ->
      """WITH RECURSIVE
         v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM v a JOIN v b ON a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.emb, b.emb) /
             (sqrt(list_dot_product(a.emb, a.emb)) *
              greatest(sqrt(list_dot_product(b.emb, b.emb)), 1e-12)), 6)
             >= 0.35),
         e AS (SELECT id_a AS a, id_b AS b FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(node, r) AS (
           SELECT a, a FROM e
           UNION
           SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a),
         losers AS (
           SELECT node FROM reach GROUP BY node HAVING node <> min(r))
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT node FROM losers)
         ORDER BY vec_id""",
    "q35_dedup_clusters" ->
      """WITH RECURSIVE
         v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM v a JOIN v b ON a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.emb, b.emb) /
             (sqrt(list_dot_product(a.emb, a.emb)) *
              greatest(sqrt(list_dot_product(b.emb, b.emb)), 1e-12)), 6)
             >= 0.35),
         e AS (SELECT id_a AS a, id_b AS b FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(node, r) AS (
           SELECT a, a FROM e
           UNION
           SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a)
         SELECT node AS id, min(r) AS cluster FROM reach
         GROUP BY 1 ORDER BY 1""",
    "q33_embed_dup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.emb, b.emb) /
                  (sqrt(list_dot_product(a.emb, a.emb)) *
                   greatest(sqrt(list_dot_product(b.emb, b.emb)), 1e-12)),
                  6) AS cos
         FROM v a JOIN v b ON a.vec_id < b.vec_id
         WHERE cos >= 0.35
         ORDER BY 1, 2""",
    "q25_minhash_lsh" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         sig AS (
           SELECT doc_id AS id,
             list_transform(range(8), h ->
               list_min(list_transform(toks,
                 tk -> ((2*h+1)*tk + (h*h+7)) % 1000000007))) AS sig
           FROM t),
         banded0 AS (
           SELECT id, sig, b,
             array_to_string(list_transform(sig[b*2+1:b*2+2],
               x -> CAST(x AS VARCHAR)), ',') AS bucket
           FROM sig, range(4) r(b)),
         banded AS (
           -- the engine CAPS degenerate buckets (maxBucket=1000) so one
           -- boilerplate bucket cannot own n^2 work; model the same rule
           -- (at sf0.01 no bucket exceeds it; at sf0.1 several do)
           SELECT id, sig, b, bucket FROM (
             SELECT id, sig, b, bucket,
               count(*) OVER (PARTITION BY b, bucket) AS bn
             FROM banded0) WHERE bn <= 1000),
         pairs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             CAST(len(list_filter(range(8),
               i -> a.sig[i+1] = b.sig[i+1])) AS DOUBLE) / 8 AS est_jaccard
           FROM banded a JOIN banded b
             ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id)
         SELECT id_a, id_b, est_jaccard FROM pairs
         WHERE est_jaccard >= 0.25 ORDER BY 1, 2""",
    "q26_segments" ->
      """WITH g AS (
           SELECT user_id, value,
             CASE WHEN epoch_us(ts) >= 1705708800000000 THEN 1705708800000000
                  WHEN epoch_us(ts) >= 1704844800000000 THEN 1704844800000000
                  ELSE 0 END AS seg_start
           FROM events)
         SELECT user_id, seg_start, count(*) AS n,
                round(sum(value), 6) AS sum_v
         FROM g GROUP BY 1, 2 ORDER BY 1, 2""",
    "q31_asof_native" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts,
                p.value AS last_purchase_value, epoch_us(p.ts) AS matched_ts
         FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY e.event_id""",
    "q32_midi_notes" ->
      """SELECT user_id::VARCHAR AS doc_id, epoch_us(ts) AS ts,
                CAST(round(69 + 12 * log2((value + 20.0) / 440.0)) AS INT) AS pitch,
                CAST(round(0.5 * 127) AS INT) AS velocity
         FROM events WHERE event_type = 'click'
         ORDER BY 1, 2""",
    "q27_fill_ends" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts,
                coalesce(lead(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts), epoch_us(ts)) AS end_ts
         FROM events ORDER BY event_id""",
    "q29_align_by_pos" ->
      """WITH p AS (
           SELECT row_number() OVER (ORDER BY event_id) AS pos, value
           FROM events WHERE event_type = 'purchase'),
         e AS (
           SELECT row_number() OVER (ORDER BY event_id) AS pos, value
           FROM events WHERE event_type = 'error')
         SELECT coalesce(p.pos, e.pos) AS pos,
                round(coalesce(p.value, 0.0), 6) AS purchase_v,
                round(coalesce(e.value, 0.0), 6) AS error_v
         FROM p FULL OUTER JOIN e ON p.pos = e.pos
         ORDER BY pos""",
    "q30_engine_energy" ->
      s"""WITH t AS (SELECT doc_id::VARCHAR AS doc_id, $toksSql AS toks
                    FROM documents),
         f AS (
           SELECT doc_id, toks,
                  unnest(range((len(toks) - 16) // 8 + 1)) AS frame
           FROM t WHERE len(toks) >= 16)
         SELECT doc_id, frame * 8000000 AS ts,
                round(CAST(list_sum(list_transform(
                  toks[frame*8+1 : frame*8+16], x -> x*x)) AS DOUBLE) / 16.0,
                  6) AS energy
         FROM f ORDER BY 1, 2""")
}

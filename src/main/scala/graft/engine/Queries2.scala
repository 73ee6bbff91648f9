package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multiplex, Similarity}
import graft.functions.TokenFeatures

/** Correctness-gate queries, part 2: dedup / similarity / text-analysis /
  * multiplex / enrichment-join operators (the training-data-pipeline
  * surface). Same oracle-parity conventions as [[Queries]]. */
object Queries2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueryUtil.t(s, dir, name)

  private def docsTok(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("words", split(col("text"), " "))
      .withColumn("tokens", transform(col("words"), w => length(w)))
      .withColumn("n_tok", size(col("tokens")))

  // --------------------------------------------------------------- q13
  /** Exact dedup: keep smallest doc_id per identical text. */
  def q13DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  // --------------------------------------------------------------- q14
  /** MinHash signatures (8 hashes, affine family) as csv string. */
  def q14Minhash(s: SparkSession, dir: String): DataFrame =
    docsTok(s, dir)
      .select(col("doc_id"),
        array_join(transform(
          TokenFeatures.minhashSignature(col("tokens"), 8),
          x => x.cast("string")), ",").as("sig"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q15
  /** n-gram (3-shingle) Jaccard near-dup pairs over token sequences,
    * blocked by (lang, n_chars bucket). */
  def q15NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      docsTok(s, dir), "doc_id", "tokens", 3,
      Seq(col("lang"), floor(col("n_chars") / 100).as("lenb")), 0.2)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")

  // --------------------------------------------------------------- q16
  /** SimHash(32) document fingerprints. */
  def q16Simhash(s: SparkSession, dir: String): DataFrame =
    docsTok(s, dir)
      .select(col("doc_id"), TokenFeatures.simhash32(col("tokens")).as("simhash"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q17
  /** Brute-force cosine top-5 neighbours for query vectors vec_id < 20. */
  def q17CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"))
    Similarity.cosineTopK(queries, corpus, 5).orderBy("qid", "rk")
  }

  // --------------------------------------------------------------- q18
  /** Text analysis: whitespace + BPE-ish token counts, stopword ratio,
    * quality score, language-ID heuristic. */
  def q18TextAnalysis(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("words", split(col("text"), "\\s+"))
    d.select(
      col("doc_id"),
      size(col("words")).as("n_ws"),
      TokenFeatures.tokenCountBpe(col("text")).as("n_bpe"),
      round(TokenFeatures.stopwordRatio(col("words"), "en"), 6).as("sw_en"),
      TokenFeatures.qualityScore(col("text")).as("quality"),
      TokenFeatures.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q19
  /** Rolling polynomial document fingerprint over token arrays. */
  def q19Fingerprint(s: SparkSession, dir: String): DataFrame =
    docsTok(s, dir)
      .select(col("doc_id"), TokenFeatures.fingerprint(col("tokens")).as("fp"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q20
  /** Multiplex (J1/S8): zip token sequences of docs 0,1,2 into channels,
    * shorter channels 0-padded to the longest. */
  def q20Multiplex(s: SparkSession, dir: String): DataFrame = {
    val m = Multiplex.multiplex(
      docsTok(s, dir).select(col("doc_id").cast("string").as("doc_id"),
        col("tokens"), col("n_tok"), col("source")),
      Seq("0", "1", "2"))
    m.select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
      array_join(transform(col("channels")(0), x => x.cast("string")), ",").as("ch0"),
      array_join(transform(col("channels")(1), x => x.cast("string")), ",").as("ch1"),
      array_join(transform(col("channels")(2), x => x.cast("string")), ",").as("ch2"))
  }

  // --------------------------------------------------------------- q21
  /** Broadcast-enrichment join (J3): revenue per nation/segment —
    * orders joined to the small customer/nation dims. */
  def q21EnrichJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name", "c_mktsegment")
  }

  // --------------------------------------------------------------- q22
  /** Peak-normalized token histogram (S7 analog), exploded per bucket. */
  def q22PeakNorm(s: SparkSession, dir: String): DataFrame = {
    val h = docsTok(s, dir).select(col("doc_id"),
      TokenFeatures.histogram(col("tokens"), col("n_tok"), 16).as("hist"))
    // broadcast-join bucket fan-out instead of posexplode: Generate would
    // re-evaluate the interpreted normalize chain per output row (16x)
    val buckets = s.range(16).toDF("bucket")
    Multiplex.peakNormalize(h, "hist")
      .crossJoin(broadcast(buckets))
      .select(col("doc_id"), col("bucket"),
        round(element_at(col("hist"), col("bucket").cast("int") + 1), 6)
          .as("norm_freq"))
      .orderBy("doc_id", "bucket")
  }

  // --------------------------------------------------------------- q23
  /** Skew-resistant bucketed as-of join — must equal q2's plain as-of
    * output (same DuckDB ASOF oracle). */
  def q23AsofBucketed(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").withColumn("ts", unix_micros(col("ts").cast("timestamp")))
    val queries = e.where(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")
    val features = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase_value"))
    graft.operators.AsOf.joinBucketed(queries, features, "user_id", "ts",
      Seq("last_purchase_value"), 86400000000L) // 1-day buckets
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- q24
  /** Multimodal plumbing projection: opaque binary payload + typed
    * metadata (byte length, head byte); the batched media decoders live
    * in graft.operators.Multimodal (gates q51/q52). */
  def q24Multimodal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        ascii(substring(col("text"), 1, 1)).as("head_byte"))
      .orderBy("doc_id")

  // ------------------------------------------------------------- wiring

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q13_dedup_exact" -> q13DedupExact,
    "q14_minhash" -> q14Minhash,
    "q15_ngram_jaccard" -> q15NgramJaccard,
    "q16_simhash" -> q16Simhash,
    "q17_cosine_topk" -> q17CosineTopK,
    "q18_text_analysis" -> q18TextAnalysis,
    "q19_fingerprint" -> q19Fingerprint,
    "q20_multiplex" -> q20Multiplex,
    "q21_enrich_join" -> q21EnrichJoin,
    "q22_peak_norm" -> q22PeakNorm,
    "q23_asof_bucketed" -> q23AsofBucketed,
    "q24_multimodal" -> q24Multimodal)

  private val toksSql = QueryUtil.toksSql

  val oracle: Map[String, String] = Map(
    "q13_dedup_exact" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id""",
    "q14_minhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         SELECT doc_id,
           array_to_string(list_transform(range(8), h ->
             CAST(list_min(list_transform(toks,
               tk -> ((2*h+1)*tk + (h*h+7)) % 1000000007)) AS VARCHAR)), ',') AS sig
         FROM t ORDER BY doc_id""",
    "q15_ngram_jaccard" ->
      s"""WITH s AS (
           SELECT doc_id, lang, n_chars // 100 AS lenb,
             list_distinct(list_transform(range(len(toks) - 2),
               i -> (toks[i+1]::BIGINT * 1031 + toks[i+2]) * 1031 + toks[i+3])) AS sh
           FROM (SELECT doc_id, lang, n_chars, $toksSql AS toks
                 FROM documents)
           WHERE len(toks) >= 3)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             greatest(len(list_distinct(a.sh || b.sh)), 1), 6) AS jaccard
         FROM s a JOIN s b
           ON a.lang = b.lang AND a.lenb = b.lenb AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.2
         ORDER BY 1, 2""",
    "q16_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         b AS (
           SELECT e.doc_id, r.j,
             sum(CASE WHEN (((tok * 2654435761) % 4294967296) >> r.j) & 1 = 1
                 THEN 1 ELSE -1 END) AS sgn
           FROM e, range(32) r(j) GROUP BY 1, 2)
         SELECT doc_id,
           sum(CASE WHEN sgn > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
         FROM b GROUP BY 1 ORDER BY 1""",
    "q17_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             round(list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) *
                greatest(sqrt(list_dot_product(c.v, c.v)), 1e-12)), 6) AS score
           FROM (SELECT * FROM e WHERE vec_id < 20) q
           JOIN e c ON q.vec_id <> c.vec_id),
         r AS (SELECT qid, cid, score,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, cid ASC) AS rk
               FROM s)
         SELECT qid, rk, cid, score FROM r WHERE rk <= 5 ORDER BY qid, rk""",
    "q18_text_analysis" ->
      """WITH d AS (
           SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS ws
           FROM documents),
         feat AS (
           SELECT doc_id, text, ws,
             len(ws) AS n_ws,
             len(regexp_extract_all(text,
               '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS n_bpe,
             CAST(len(list_filter(ws, w -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'],
               lower(w)))) AS DOUBLE) / greatest(len(ws), 1) AS sw_en,
             CAST(len(list_filter(ws, w -> list_contains(
               ['der','die','das','und','ist','nicht','ein','mit','auf','zu'],
               lower(w)))) AS DOUBLE) / greatest(len(ws), 1) AS sw_de,
             CAST(len(list_filter(ws, w -> list_contains(
               ['le','la','les','et','est','une','dans','que','pour','des'],
               lower(w)))) AS DOUBLE) / greatest(len(ws), 1) AS sw_fr,
             CAST(len(list_filter(ws, w -> list_contains(
               ['el','la','los','y','es','una','en','que','por','con'],
               lower(w)))) AS DOUBLE) / greatest(len(ws), 1) AS sw_es,
             CAST(length(text) - length(regexp_replace(text,
               '[一-鿿]', '', 'g')) AS DOUBLE) /
               greatest(length(text), 1) AS zh_ratio,
             least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
             1.0 - least(CAST(length(text) - length(regexp_replace(text,
               '[[:punct:]]', '', 'g')) AS DOUBLE) /
               greatest(length(text), 1) * 5.0, 1.0) AS punct_score,
             CAST(length(text) AS DOUBLE) / greatest(len(ws), 1) AS mwl
           FROM d),
         lang AS (
           SELECT doc_id, l AS lang_cand, sc,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY sc DESC, l ASC) AS rn
           FROM (
             SELECT doc_id, 'de' AS l, sw_de AS sc FROM feat UNION ALL
             SELECT doc_id, 'en', sw_en FROM feat UNION ALL
             SELECT doc_id, 'es', sw_es FROM feat UNION ALL
             SELECT doc_id, 'fr', sw_fr FROM feat))
         SELECT f.doc_id, f.n_ws, f.n_bpe, round(f.sw_en, 6) AS sw_en,
           round((f.len_score + f.punct_score +
             least(f.sw_en * 4.0, 1.0) +
             CASE WHEN f.mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
             6) AS quality,
           CASE WHEN f.zh_ratio > 0.2 THEN 'zh' ELSE lg.lang_cand END AS lang_guess
         FROM feat f JOIN lang lg ON f.doc_id = lg.doc_id AND lg.rn = 1
         ORDER BY f.doc_id""",
    "q19_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT, toks),
             (acc, tk) -> (acc * 31 + tk) % 1000000007) AS fp
         FROM t ORDER BY doc_id""",
    "q20_multiplex" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
                    WHERE doc_id IN (0, 1, 2)),
         m AS (SELECT max(len(toks)) AS ml FROM t),
         p AS (SELECT doc_id,
                 toks || list_transform(range(ml - len(toks)), x -> 0) AS ch
               FROM t, m)
         SELECT '0' AS doc_id, (SELECT ml FROM m)::BIGINT AS n_tok,
           (SELECT array_to_string(list_transform(ch, x -> CAST(x AS VARCHAR)), ',')
              FROM p WHERE doc_id = 0) AS ch0,
           (SELECT array_to_string(list_transform(ch, x -> CAST(x AS VARCHAR)), ',')
              FROM p WHERE doc_id = 1) AS ch1,
           (SELECT array_to_string(list_transform(ch, x -> CAST(x AS VARCHAR)), ',')
              FROM p WHERE doc_id = 2) AS ch2""",
    "q21_enrich_join" ->
      """SELECT n_name, c_mktsegment,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q22_peak_norm" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         e AS (SELECT doc_id, len(toks) AS n_tok, unnest(toks) AS tok FROM t),
         h AS (SELECT doc_id, tok % 16 AS bucket,
                 CAST(count(*) AS DOUBLE) / any_value(n_tok) AS freq
               FROM e GROUP BY 1, 2),
         g AS (SELECT doc_id, bucket, freq,
                 max(freq) OVER (PARTITION BY doc_id) AS peak FROM h),
         full_h AS (
           SELECT t.doc_id, r.b AS bucket,
             coalesce(g.freq, 0.0) AS freq,
             max(coalesce(g.freq, 0.0)) OVER (PARTITION BY t.doc_id) AS peak
           FROM t CROSS JOIN range(16) r(b)
           LEFT JOIN g ON g.doc_id = t.doc_id AND g.bucket = r.b)
         SELECT doc_id, bucket,
           round(CASE WHEN peak > 0 THEN freq / peak ELSE freq END, 6)
             AS norm_freq
         FROM full_h ORDER BY 1, 2""",
    "q23_asof_bucketed" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts,
                p.value AS last_purchase_value, epoch_us(p.ts) AS matched_ts
         FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY e.event_id""",
    "q24_multimodal" ->
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
                ascii(substr(text, 1, 1)) AS head_byte
         FROM documents ORDER BY doc_id""")
}

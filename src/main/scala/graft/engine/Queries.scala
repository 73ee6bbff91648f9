package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.SummaryType
import graft.operators.{AsOf, Windows}
import graft.summaries.{Summaries, VectorSummaries}

/** The correctness-gate query surface: every operator from SURVEY.md §2
  * exposed as a (SparkSession, sfDir) => DataFrame, each with an equivalent
  * DuckDB oracle SQL in [[oracleSql]] (column names matched exactly).
  *
  * Conventions for oracle parity:
  *   - timestamps leave the engine as epoch microseconds (BIGINT) — never
  *     as timestamp strings, which format differently across engines;
  *   - big float sums go through DECIMAL(18,2) so they are exact and
  *     order-independent; small float results are round()ed to 6 places
  *     (the reference's own test fuzz: tests/include.sh:33-41);
  *   - arrays leave as comma-joined strings (list hashing differs across
  *     engines); the engine-internal API keeps real arrays.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueryUtil.t(s, dir, name)

  /** events with ts as epoch micros (BIGINT). Parquet timestamp[us] loads
    * as TIMESTAMP_NTZ in Spark 4; with session tz UTC the cast to LTZ gives
    * the same epoch micros DuckDB's epoch_us() returns. */
  private def ev(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ts", unix_micros(col("ts").cast("timestamp")))

  // ---------------------------------------------------------------- q1
  /** TPC-H-Q1-style multi-agg (SURVEY.md A3/A5: one shuffle, N reducers). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---------------------------------------------------------------- q2
  /** The centerpiece: as-of (point-in-time) join — latest prior purchase
    * value in effect at each non-purchase event (J2 in SURVEY.md §2.3). */
  def q2AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val queries = e.where(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")
    val features = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("last_purchase_value"))
    AsOf.join(queries, features, "user_id", "ts", Seq("last_purchase_value"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q3
  /** lag/lead over the entity timeline (W5). */
  def q3LagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    ev(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        lag(col("value"), 1).over(w).as("value_lag1"),
        lead(col("value"), 1).over(w).as("value_lead1"),
        (col("ts") - lag(col("ts"), 1).over(w)).as("gap_us"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q4
  /** Gap-based sessionization (A2 generalization, north_rule). */
  def q4Sessionize(s: SparkSession, dir: String): DataFrame =
    Windows.sessionStats(ev(s, dir), "user_id", "ts", 1800000000L, "value")
      .withColumn("sum_value", round(col("sum_value"), 6))
      .orderBy("user_id", "session_id")

  // ---------------------------------------------------------------- q5
  /** Forward-fill backfill (north_rule): latest prior purchase value
    * carried forward on each user's timeline. */
  def q5ForwardFill(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("pv",
      when(col("event_type") === "purchase", col("value")))
    Windows.forwardFill(e, "user_id", "ts", Seq("pv"))
      .select("event_id", "user_id", "ts", "pv")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q6
  /** The product's continuous-time reducers over one scalar value per
    * entity event (SURVEY.md §2.4): each value extends to the next
    * event's ts; the last extends to the end of input (global max ts, the
    * analog of "end of input or last-ending output"). q6/q7/q8 each ask
    * [[VectorSummaries.summarizeVector]] for their own reducers over the
    * spans from [[Summaries.withSpans]]; `value` is the one bin. */
  private def summaryCt(s: SparkSession, dir: String,
      types: Set[SummaryType]): DataFrame = {
    val e = ev(s, dir)
    val globalEnd = e.agg(max(col("ts")).as("global_end"))
    val spanned = Summaries.withSpans(e.crossJoin(broadcast(globalEnd)),
      "user_id", None, "ts", inputEnd = Some(col("global_end")))
    VectorSummaries.summarizeVector(spanned.withColumn("values", array(col("value"))),
      Seq("user_id"), "values", types = types)
  }

  /** Continuous-time weighted mean/sum/count/min/max per entity. */
  def q6SummaryCt(s: SparkSession, dir: String): DataFrame = {
    import SummaryType._
    summaryCt(s, dir, Set(Count, Min, Max, Sum, Mean))
      .select(col("user_id"), col("count").as("n"),
        round(col("min")(0), 6).as("min_v"),
        round(col("max")(0), 6).as("max_v"),
        round(col("sum")(0), 6).as("sum_v"),
        round(col("mean")(0), 6).as("mean_ct"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q7
  /** Continuous-time weighted median + mode per entity (the reference's
    * hardest reducers; worked examples in
    * tests/test-summaries/expected/testplug-curve-vsr-{median,mode}.csv). */
  def q7MedianModeCt(s: SparkSession, dir: String): DataFrame =
    summaryCt(s, dir, Set(SummaryType.Median, SummaryType.Mode))
      .select(col("user_id"), col("median")(0).as("median_ct"),
        col("mode")(0).as("mode_ct"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- q8
  /** Continuous-time weighted variance/sd (one-pass weighted moments). */
  def q8VarianceCt(s: SparkSession, dir: String): DataFrame =
    summaryCt(s, dir, Set(SummaryType.Variance, SummaryType.Sd))
      .select(col("user_id"),
        round(col("variance")(0), 4).as("variance_ct"),
        round(col("sd")(0), 6).as("sd_ct"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- q9
  /** Top-k per entity (W6): top-3 purchases per user by value. */
  def q9TopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    ev(s, dir).where(col("event_type") === "purchase")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select("user_id", "rk", "event_id", "value")
      .orderBy("user_id", "rk")
  }

  // --------------------------------------------------------------- q10
  /** Deterministic tokenization of documents into the sequences shape
    * (doc_id, tokens, n_tok, source) — token id = word length (reproducible
    * in ANSI SQL). Arrays leave as csv strings for the oracle. */
  def tokenized(s: SparkSession, dir: String): DataFrame =
    QueryUtil.docsTok(s, dir)

  def q10Tokenize(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir)
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("source"),
        array_join(transform(col("tokens"), x => x.cast("string")), ",").as("tokens_str"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q11
  /** n_tok-normalized token histogram (analog of S7 peak-normalisation +
    * grid outputs), exploded to rows for the oracle; the engine-internal
    * array-local form is graft.functions.TokenFeatures.histogram. */
  def q11Histogram(s: SparkSession, dir: String): DataFrame = {
    // bucket rows come from a broadcast join, NOT explode: Generate
    // re-evaluates an interpreted-HOF child per OUTPUT row (measured 16x);
    // the join + element_at form does the histogram work once per doc
    val buckets = s.range(16).toDF("bucket")
    tokenized(s, dir)
      .select(col("doc_id"), col("n_tok"),
        graft.functions.TokenHistogram(col("tokens"), 16).as("hist"))
      .crossJoin(broadcast(buckets))
      .select(col("doc_id"), col("bucket"),
        (element_at(col("hist"), col("bucket").cast("int") + 1).cast("double") /
          col("n_tok")).as("freq"))
      .where(col("freq") > 0)
      .withColumn("freq", round(col("freq"), 6))
      .orderBy("doc_id", "bucket")
  }

  // --------------------------------------------------------------- q12
  /** Sliding-window frame features (W1): step=8, block=16 over tokens;
    * per-frame mean token value — the curve-oss analog. */
  def q12Frames(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir)
      .where(col("n_tok") >= 16)
      .select(col("doc_id"),
        posexplode(graft.functions.FrameAgg.mean(col("tokens"), 8, 16)))
      .select(col("doc_id"), col("pos").cast("long").as("frame"),
        round(col("col"), 6).as("frame_mean"))
      .orderBy("doc_id", "frame")

  // ------------------------------------------------------------- wiring

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> q1Agg,
    "q2_asof_join" -> q2AsofJoin,
    "q3_lag_lead" -> q3LagLead,
    "q4_sessionize" -> q4Sessionize,
    "q5_forward_fill" -> q5ForwardFill,
    "q6_summary_ct" -> q6SummaryCt,
    "q7_median_mode_ct" -> q7MedianModeCt,
    "q8_variance_ct" -> q8VarianceCt,
    "q9_topk" -> q9TopK,
    "q10_tokenize" -> q10Tokenize,
    "q11_histogram" -> q11Histogram,
    "q12_frames" -> q12Frames)

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
    "q2_asof_join" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts,
                p.value AS last_purchase_value, epoch_us(p.ts) AS matched_ts
         FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY e.event_id""",
    "q3_lag_lead" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts,
                lag(value) OVER w AS value_lag1,
                lead(value) OVER w AS value_lead1,
                epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""",
    "q4_sessionize" ->
      """WITH g AS (
           SELECT user_id, epoch_us(ts) AS ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
               THEN 1 ELSE 0 END AS ns
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM g)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                min(ts) AS session_start,
                max(ts) AS session_end, count(*) AS n_events,
                round(sum(value), 6) AS sum_value
         FROM s GROUP BY 1,2 ORDER BY 1,2""",
    "q5_forward_fill" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts,
             last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
         FROM events ORDER BY event_id""",
    "q6_summary_ct" ->
      """WITH w AS (
           SELECT user_id, value,
             coalesce(lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts),
                      (SELECT max(epoch_us(ts)) FROM events)) - epoch_us(ts) AS w_us
           FROM events)
         SELECT user_id, count(*) AS n,
                round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
                round(sum(value), 6) AS sum_v,
                round(sum(value * w_us) / sum(w_us), 6) AS mean_ct
         FROM w GROUP BY 1 ORDER BY 1""",
    "q7_median_mode_ct" ->
      """WITH w AS (
           SELECT user_id, value,
             CAST(coalesce(lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts),
                      (SELECT max(epoch_us(ts)) FROM events)) - epoch_us(ts) AS DOUBLE) AS w_us
           FROM events),
         g AS (SELECT user_id, value, sum(w_us) AS w FROM w GROUP BY 1,2),
         c AS (
           SELECT user_id, value, w,
             sum(w) OVER (PARTITION BY user_id ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(w) OVER (PARTITION BY user_id) / 2.0 AS half
           FROM g),
         med AS (SELECT user_id, min(value) AS median_ct FROM c
                 WHERE cum >= half GROUP BY 1),
         m AS (
           SELECT user_id, value AS mode_ct,
             row_number() OVER (PARTITION BY user_id ORDER BY w DESC, value ASC) AS rn
           FROM g)
         SELECT med.user_id, med.median_ct, m.mode_ct
         FROM med JOIN m ON med.user_id = m.user_id AND m.rn = 1
         ORDER BY med.user_id""",
    "q8_variance_ct" ->
      """WITH w AS (
           SELECT user_id, value,
             CAST(coalesce(lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts),
                      (SELECT max(epoch_us(ts)) FROM events)) - epoch_us(ts) AS DOUBLE) AS w_us
           FROM events),
         v AS (
           SELECT user_id,
             sum(value * value * w_us) / sum(w_us) -
               (sum(value * w_us) / sum(w_us)) * (sum(value * w_us) / sum(w_us)) AS var_raw
           FROM w GROUP BY 1)
         SELECT user_id, round(var_raw, 4) AS variance_ct,
                round(sqrt(var_raw), 6) AS sd_ct
         FROM v ORDER BY 1""",
    "q9_topk" ->
      """SELECT user_id, rk, event_id, value FROM (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id ASC) AS rk
           FROM events WHERE event_type = 'purchase') t
         WHERE rk <= 3 ORDER BY user_id, rk""",
    "q10_tokenize" ->
      """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok, source,
                array_to_string(list_transform(string_split(text, ' '),
                  w -> CAST(length(w) AS VARCHAR)), ',') AS tokens_str
         FROM documents ORDER BY doc_id""",
    "q11_histogram" ->
      """WITH t AS (
           SELECT doc_id, list_transform(string_split(text, ' '),
             w -> length(w)) AS toks FROM documents),
         e AS (SELECT doc_id, len(toks) AS n_tok, unnest(toks) AS tok FROM t)
         SELECT doc_id, tok % 16 AS bucket,
                round(count(*)::DOUBLE / any_value(n_tok), 6) AS freq
         FROM e GROUP BY 1,2 ORDER BY 1,2""",
    "q12_frames" ->
      """WITH t AS (
           SELECT doc_id, list_transform(string_split(text, ' '),
             w -> length(w)) AS toks FROM documents),
         f AS (
           SELECT doc_id, toks,
                  unnest(range((len(toks) - 16) // 8 + 1)) AS frame
           FROM t WHERE len(toks) >= 16)
         SELECT doc_id, frame,
                round(CAST(list_sum(toks[frame*8+1 : frame*8+16]) AS DOUBLE) / 16.0, 6)
                  AS frame_mean
         FROM f ORDER BY 1,2""")
}

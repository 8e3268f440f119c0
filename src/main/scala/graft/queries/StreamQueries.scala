package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.TextAnalysis
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Streaming-shaped queries run in batch mode: the identical plans
  * serve `readStream` (StreamingSpec proves stream/batch equivalence).
  * Windowed aggregates, watermarked dedup and joins, session windows,
  * drift and quality monitors, and rate limiting.
  */
object StreamQueries {

  /** The q_bot_flags plant: one synthetic user firing 200 events at
    * one-second intervals inside the 2024-01-05 12:00 hour.
    */
  private def withBot(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"))
    val bu = base.agg(max(col("user_id"))).head().getAs[Number](0)
      .longValue + 1L
    base.unionByName(s.range(0, 200)
      .select(lit(bu).as("user_id"),
        timestamp_seconds(lit(1704456000L) + col("id")).as("ts")))
  }

  private val WindowSec = 21600L // 6 hours

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_stream_tumbling", (s, dir) => {
      // window() exactly as the streaming job uses it; decimal-exact sum.
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy(col("window_start"), col("event_type"))
    },
      """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),
    QueryDef("q_stream_hll", (s, dir) => {
      // batch form of Streams.windowedApproxDistinct plus the exact
      // audit (the q_sketch_distinct bounded-error pattern): the HLL++
      // estimate is approximate by design; DuckDB recomputes the EXACT
      // counts and pins the claimed band boolean, so a Spark-side band
      // violation (within_band=false) breaks the hash — the band
      // itself is asserted, not independently re-derived. The band is absolute-OR-
      // relative — |approx − exact| ≤ max(3, 10%·exact) — because a
      // relative-only band is vacuously unfair at the tiny window
      // cardinalities this slicing produces (exact=4 off by 1 is 25%
      // "error"), and the absolute floor covers the sparse-register
      // regime (measured worst deviations: |err|=3 at exact=30,
      // |err|=1 at exact=4, across all three SFs). The streaming form (constant state per open
      // window — the only viable distinct shape on an unbounded
      // stream) runs against a real readStream in StreamingSpec.
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("_approx"),
          countDistinct(col("user_id")).as("exact_distinct_users"),
          count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("exact_distinct_users"), col("n"),
          (abs(col("_approx") - col("exact_distinct_users")).cast("double") <=
            greatest(lit(3.0),
              lit(0.10) * col("exact_distinct_users").cast("double")))
            .as("within_band"))
        .orderBy(col("window_start"), col("event_type"))
    },
      """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           COUNT(DISTINCT user_id) AS exact_distinct_users, COUNT(*) AS n,
           TRUE AS within_band
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),
    QueryDef("q_stream_session", (s, dir) => {
      // session_window vs the oracle's gaps-and-islands formulation.
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         m AS (SELECT *, CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk FROM e),
         g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS grp FROM m)
         SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM g GROUP BY user_id, grp ORDER BY user_id, session_start"""),
    QueryDef("q_stream_sliding", (s, dir) => {
      // 1-hour window sliding every 15 minutes: each event lands in 4
      // overlapping windows (window() expands rows, then one shuffle)
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
        .orderBy(col("window_start"), col("event_type"))
    },
      """SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
             - k.k * INTERVAL '15 minutes' AS window_start,
           event_type, COUNT(*) AS n
         FROM events CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS k) k
         GROUP BY 1, 2 ORDER BY window_start, event_type"""),
    QueryDef("q_stream_dedup", (s, dir) => {
      // planted at-least-once feed: the event table unioned with
      // itself; dedup must emit each event exactly once. This is the
      // batch form (dropDuplicates) of Streams.dedupStream — Spark
      // restricts dropDuplicatesWithinWatermark to streaming frames;
      // StreamingSpec runs the real watermarked stream and matches.
      // Duplicate rows are bit-identical, so the arbitrary-survivor
      // semantics of dropDuplicates stay deterministic — which relies
      // on event_id being unique in the BASE table; StreamingSpec
      // asserts that precondition at both the test and gate SFs so a
      // generator change fails loudly instead of flaking the hash.
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.unionAll(ev)
        .dropDuplicates("event_id")
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, event_type, value
         FROM events ORDER BY event_id"""),
    QueryDef("q_stream_interval_join", (s, dir) => {
      // stream-stream interval join in its batch form (StreamingSpec
      // runs the same plan as a dual readStream and gets equal output)
      Streams.viewClickJoin(Tables.load(s, dir, "events"))
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
    },
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts, CAST(c.ts AS TIMESTAMP) AS click_ts
         FROM events v JOIN events c
           ON v.user_id = c.user_id
           AND v.event_type = 'view' AND c.event_type = 'click'
           AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
           AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
         ORDER BY v.user_id, view_id, click_id"""),
    QueryDef("q_stream_left_join", (s, dir) => {
      // the LEFT OUTER variant: unclicked views survive null-padded —
      // in a stream the null rows emit once the watermark proves no
      // match can arrive; batch runs the identical plan eagerly
      Streams.viewClickJoinLeft(Tables.load(s, dir, "events"))
        .orderBy(col("user_id"), col("view_id"), col("click_id"))
    },
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           CAST(v.ts AS TIMESTAMP) AS view_ts, CAST(c.ts AS TIMESTAMP) AS click_ts
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON v.user_id = c.user_id
           AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
           AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
         ORDER BY v.user_id, view_id, click_id"""),
    // ---- streaming windowed content fingerprint (batch form) ----
    QueryDef("q_stream_fingerprint", (s, dir) =>
      // identical plan serves readStream (StreamingSpec proves
      // stream/batch equality); the oracle recomputes each hour's
      // xor-combined event hashes from scratch
      Streams.windowedFingerprint(Tables.load(s, dir, "events"), "1 hour")
        .orderBy(col("window_start")),
      """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           bit_xor(CAST(('0x' || substr(md5(
             CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) ||
             ':' || COALESCE(event_type, '') || ':' || COALESCE(props, '')),
             1, 15)) AS BIGINT)) AS fingerprint
         FROM events GROUP BY 1 ORDER BY window_start"""),
    // ---- streaming windowed top-k heavy hitters (batch form) ----
    QueryDef("q_stream_topk", (s, dir) =>
      // the counts stage is the watermark-bounded streaming aggregate
      // (StreamingSpec runs it as a real stream); the top-k cut runs on
      // the finalized window counts, as it would on the sink
      graft.streaming.Streams.windowedTopK(
          Tables.load(s, dir, "events"), "1 hour", k = 3)
        .orderBy(col("window_start"), col("rk")),
      """WITH c AS (
           SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT window_start, event_type, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY window_start
               ORDER BY n DESC, event_type) AS BIGINT) AS rk
           FROM c)
         SELECT window_start, event_type, n, rk FROM r
         WHERE rk <= 3 ORDER BY window_start, rk"""),
    // ---- streaming distribution drift ----
    QueryDef("q_stream_drift", (s, dir) =>
      // counts stage is the proven stream-safe windowedCounts; drift is
      // sink-side. L1 numerators are integers, so the distances are
      // engine-exact
      graft.streaming.Streams.windowedDrift(
          Tables.load(s, dir, "events"), "1 hour")
        .orderBy(col("window_start")),
      """WITH c AS (
           SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         g AS (SELECT event_type, SUM(n) AS nt FROM c GROUP BY 1),
         wt AS (SELECT window_start, SUM(n) AS nw FROM c GROUP BY 1),
         tot AS (SELECT SUM(n) AS n_all FROM c),
         grid AS (SELECT window_start, event_type, nw, nt
                  FROM wt CROSS JOIN g),
         m AS (
           SELECT grid.window_start, grid.event_type, COALESCE(c.n, 0) AS n,
             nw, nt
           FROM grid LEFT JOIN c USING (window_start, event_type))
         SELECT window_start, CAST(nw AS BIGINT) AS n_events,
           ROUND(CAST(SUM(ABS(n * n_all - nt * nw)) AS DOUBLE) /
             CAST(nw * n_all AS DOUBLE), 6) AS l1,
           ROUND(MAX(CAST(ABS(n * n_all - nt * nw) AS DOUBLE) /
             CAST(nw * n_all AS DOUBLE)), 6) AS max_dev
         FROM m CROSS JOIN tot
         GROUP BY window_start, nw, n_all ORDER BY window_start"""),
    // ---- watermark-lateness audit ----
    QueryDef("q_stream_lateness", (s, dir) =>
      // the synthetic feed arrives perfectly ordered, so late arrivals
      // are planted in-plan: every 10th event arrives 37 slots late
      graft.streaming.Streams.latenessProfile(
          Tables.load(s, dir, "events").withColumn("arrival",
            col("event_id") + when(col("event_id") % 10 === 0, 37L)
              .otherwise(0L)),
          "arrival", bucketSeconds = 600, maxBucket = 23,
          blockSize = 1000L)
        .orderBy(col("late_bucket")),
      """WITH e AS (
           SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
             event_id + CASE WHEN event_id % 10 = 0 THEN 37 ELSE 0 END
               AS arr
           FROM events),
         r AS (
           SELECT event_id, tsu, MAX(tsu) OVER (ORDER BY arr, event_id
             ROWS UNBOUNDED PRECEDING) AS run
           FROM e),
         l AS (SELECT (run - tsu) // 1000000 AS late_s FROM r)
         SELECT LEAST(late_s // 600, 23) AS late_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late
         FROM l GROUP BY 1 ORDER BY late_bucket"""),
    // ---- streaming windowed quality monitor ----
    QueryDef("q_stream_quality", (s, dir) => {
      // synthesized event-time (one doc per minute from 2024-01-01)
      // with junk docs landing in the same windows as their source
      // docs; the aggregate is the proven watermark+window shape
      val docs = Tables.load(s, dir, "documents")
      val junk = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("text", lit("tiny doc"))
      val flagged = TextAnalysis.qualityFilterReasons(
          docs.unionByName(junk), "text")
        .withColumn("ts",
          timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L))
      graft.streaming.Streams.windowedKeepRate(
          flagged.select(col("ts"), col("keep")), "1 hour")
        .orderBy(col("window_start"))
    },
      s"""WITH corpus AS (
           SELECT doc_id AS id, text, 's' AS source FROM documents
           UNION ALL
           SELECT doc_id, 'tiny doc', 's' FROM documents
           WHERE doc_id % 50 = 0),
         ${PipelineQueries.qualityRulesSql},
         w AS (
           SELECT DATE_TRUNC('hour', TIMESTAMP '2024-01-01 00:00:00' +
             id * INTERVAL 1 MINUTE) AS window_start, keep
           FROM r)
         SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
         FROM w GROUP BY 1 ORDER BY window_start"""),

    /* Streaming rate limiting — the (window, user)
     * watermarked aggregate with an in-plan threshold filter, the
     * online half of q_bot_flags. The planted 1-event-per-second bot
     * guarantees a flagged window; batch replay is the identical plan
     * the oracle recomputes.
     */
    QueryDef("q_stream_ratelimit", (s, dir) =>
      Streams.userRateFlags(withBot(s, dir), "1 hour", limit = 50L)
        .orderBy(col("window_start"), col("user_id")),
      """WITH mx AS (SELECT MAX(user_id) + 1 AS bu FROM events),
         bot AS (SELECT mx.bu AS user_id,
             TIMESTAMP '2024-01-05 12:00:00' +
               UNNEST(range(0, 200)) * INTERVAL 1 SECOND AS ts
           FROM mx),
         c AS (SELECT user_id, ts FROM events
           UNION ALL SELECT user_id, ts FROM bot)
         SELECT DATE_TRUNC('hour', ts) AS window_start, user_id,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM c GROUP BY 1, 2 HAVING COUNT(*) > 50
         ORDER BY window_start, user_id"""),

    /* The streaming in-window value trend — the
     * [[graft.ops.TimeSeries.rollingTrend]] idea re-shaped for Structured
     * Streaming: the regression moments become ONE watermarked
     * map-combinable aggregate per (window, type), so the identical plan
     * serves readStream (StreamingSpec drives it over a file source) and
     * the batch oracle below.
     */
    QueryDef("q_stream_trend", (s, dir) =>
      Streams.windowedTrend(Tables.load(s, dir, "events"), WindowSec)
        .orderBy(col("window_start"), col("event_type")),
      s"""WITH e AS (
           SELECT event_type,
             time_bucket(INTERVAL '$WindowSec seconds',
               CAST(ts AS TIMESTAMP)) AS window_start,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
               % $WindowSec AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           FROM events),
         a AS (
           SELECT window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM e GROUP BY 1, 2)
         SELECT window_start, event_type, n,
           CASE WHEN n * sxx - sx * sx > 0
             THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
               CAST(n * sxx - sx * sx AS DOUBLE), 6)
             END AS slope_cents_per_sec,
           ROUND(CAST(sy AS DOUBLE) / CAST(n * 100 AS DOUBLE), 6)
             AS mean_value
         FROM a ORDER BY window_start, event_type"""))
}

package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Behavior, Dedup, Graphs, Preferences, SeqData, TimeSeries}
import graft.queries.GraphFixtures.itemOf
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Behavior analytics over events, orders and preference labels:
  * sessions, funnels, retention and cohorts, RFM and attribution, event
  * sequences and paths, time-series diagnostics (EWMA, ACF, CUSUM,
  * seasonality, trends), experiment analysis, bot and peak-load audits,
  * and preference-data QA.
  */
object BehaviorQueries {

  /** Events plus one planted bot: 200 events at exactly one-second
    * intervals inside a single hour — fires both the fast-gap and the
    * burst rule with analytic certainty.
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

  private val FunnelSteps = Seq("signup", "view", "click", "purchase")
  private val FunnelWindowSec = 172800L // 2 days
  private val EwmaLookback = 8
  // anomaly threshold thrNum/thrDen — interpolated into BOTH the Spark
  // call and the generated oracle SQL so neither can drift alone
  private val EwmaThrNum = 1
  private val EwmaThrDen = 2
  private val AcfMaxLag = 5

  // (key, day) counts — shared CTE for the two series oracles
  private val dailySql: String =
    """d AS (
         SELECT event_type AS k,
           CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
             AS day_idx,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2)"""

  private def funnelSql: String = {
    val w = FunnelWindowSec
    val chain = FunnelSteps.zipWithIndex.map { case (st, i) =>
      val src = if (i == 0) "ev" else s"s${i - 1}"
      val cond =
        if (i == 0) s"ty = '$st'"
        else s"ty = '$st' AND es >= m${i - 1} AND es <= m0 + $w"
      s"s$i AS (SELECT *, MIN(CASE WHEN $cond THEN es END) OVER (PARTITION BY u) AS m$i FROM $src)"
    }.mkString(",\n         ")
    val mins = FunnelSteps.indices.map(i => s"MIN(m$i) AS m$i").mkString(", ")
    val cnts = FunnelSteps.indices.map(i => s"COUNT(m$i) AS n$i").mkString(", ")
    val rows = FunnelSteps.zipWithIndex.map { case (st, i) =>
      val convPrev =
        if (i == 0) "CAST(NULL AS DOUBLE)"
        else s"CASE WHEN n${i - 1} > 0 THEN ROUND(CAST(n$i AS DOUBLE) / CAST(n${i - 1} AS DOUBLE), 6) END"
      s"""SELECT $i AS step_idx, '$st' AS step, n$i AS n_users,
            $convPrev AS conv_prev,
            CASE WHEN n0 > 0 THEN ROUND(CAST(n$i AS DOUBLE) / CAST(n0 AS DOUBLE), 6) END AS conv_first
          FROM c"""
    }.mkString("\n          UNION ALL ")
    s"""WITH ev AS (
          SELECT user_id AS u,
            CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
            event_type AS ty
          FROM events),
         $chain,
         pu AS (SELECT u, $mins FROM s${FunnelSteps.size - 1} GROUP BY u),
         c AS (SELECT $cnts FROM pu)
        SELECT * FROM ($rows) ORDER BY step_idx"""
  }

  private def ewmaSql: String = {
    val L = EwmaLookback
    def wgt(j: Int): Long = {
      var p = 1L; (1 to j).foreach(_ => p *= 3L)
      (j until L).foreach(_ => p *= 4L); p
    }
    val lags = (1 to L).map(j =>
      s"LAG(n, $j) OVER (PARTITION BY k ORDER BY day_idx) AS l$j").mkString(", ")
    def term(j: Int, withN: Boolean): String = {
      val v = if (j == 0) "n" else s"l$j"
      val body = if (withN) s"${wgt(j)} * $v" else s"${wgt(j)}"
      if (j == 0) s"CAST($body AS BIGINT)"
      else s"CASE WHEN l$j IS NOT NULL THEN CAST($body AS BIGINT) ELSE 0 END"
    }
    def dot(from: Int, withN: Boolean): String =
      (from to L).map(term(_, withN)).mkString(" + ")
    s"""WITH $dailySql,
         l AS (SELECT k, day_idx, n, $lags FROM d),
         m AS (SELECT k, day_idx, n,
             ${dot(0, withN = true)} AS num,
             ${dot(0, withN = false)} AS den,
             ${dot(1, withN = true)} AS nump,
             ${dot(1, withN = false)} AS denp
           FROM l)
        SELECT k, day_idx, n,
          ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma,
          CASE WHEN denp > 0
            THEN ROUND(CAST(nump AS DOUBLE) / CAST(denp AS DOUBLE), 6)
            END AS ewma_prev,
          CASE WHEN denp > 0
            THEN ABS(n * denp - nump) * $EwmaThrDen > $EwmaThrNum * nump
            ELSE FALSE END AS is_anomaly
        FROM m ORDER BY k, day_idx"""
  }

  private def acfSql: String = {
    val L = AcfMaxLag
    val lags = (1 to L).map(j =>
      s"LAG(n, $j) OVER (PARTITION BY k ORDER BY day_idx) AS y$j").mkString(", ")
    val aggs = (1 to L).map { j =>
      s"""CAST(SUM(CASE WHEN y$j IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS np$j,
          CAST(COALESCE(SUM(CASE WHEN y$j IS NOT NULL THEN n END), 0) AS BIGINT) AS sx$j,
          CAST(COALESCE(SUM(y$j), 0) AS BIGINT) AS sy$j,
          CAST(COALESCE(SUM(n * y$j), 0) AS BIGINT) AS sxy$j,
          CAST(COALESCE(SUM(CASE WHEN y$j IS NOT NULL THEN n * n END), 0) AS BIGINT) AS sx2$j,
          CAST(COALESCE(SUM(y$j * y$j), 0) AS BIGINT) AS sy2$j"""
    }.mkString(",\n          ")
    val rows = (1 to L).map { j =>
      s"""SELECT k, $j AS "lag", np$j AS n_pairs,
            CASE WHEN (np$j * sx2$j - sx$j * sx$j) > 0
                  AND (np$j * sy2$j - sy$j * sy$j) > 0
              THEN ROUND(CAST(np$j * sxy$j - sx$j * sy$j AS DOUBLE) /
                SQRT(CAST(np$j * sx2$j - sx$j * sx$j AS DOUBLE) *
                     CAST(np$j * sy2$j - sy$j * sy$j AS DOUBLE)), 6)
              END AS acf
          FROM a"""
    }.mkString("\n          UNION ALL ")
    s"""WITH $dailySql,
         l AS (SELECT k, day_idx, n, $lags FROM d),
         a AS (SELECT k, $aggs FROM l GROUP BY k)
        SELECT * FROM ($rows) ORDER BY k, "lag""""
  }
  private val TrendWindow = 7

  /** (prompt, win, lose, rater, first) comparison rows: base votes
    * (winner by the id mod 3 rule, rater (id·3+1) mod 7), reversed
    * duplicates for the conflict class — cast by a PROVABLY different
    * rater, (base + 1 + id mod 5) mod 7: the shift is in 1..5, never
    * ≡ 0 (mod 7), so it cannot collide with the base rater (the naive
    * (id·5+2) mod 7 collided for every id ≡ 3 (mod 7)) — and the
    * planted 3-cycles (rater 6). `first` is the completion SHOWN
    * first: an (id·13+5) mod 10 coin — except any vote cast by rater
    * 3, the planted position-follower, which lands on the first-shown
    * REGARDLESS of row class, so their q_pref_position share is
    * exactly 1.0 by construction; conflict rows otherwise show the
    * reversed coin, cycles the written order.
    */
  private def comparisons(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val prompt = id % 50
    val a = (id * 7 + 1) % 20
    val b = (id * 11 + 3) % 20
    val aWins = id % 3 =!= 0
    val win = when(aWins, a).otherwise(b)
    val lose = when(aWins, b).otherwise(a)
    def cmpRow(p: org.apache.spark.sql.Column,
        w: org.apache.spark.sql.Column, l: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.Column, fw: org.apache.spark.sql.Column) =
      struct(p.as("prompt"), w.as("win"), l.as("lose"), r.as("rater"),
        when(fw || r === 3, w).otherwise(l).as("first"))
    val emptyRow = array().cast("array<struct<prompt:bigint,win:bigint," +
      "lose:bigint,rater:bigint,first:bigint>>")
    val coin = (id * 13 + 5) % 10 < 5
    val baseRater = (id * 3 + 1) % 7
    val confRater = (baseRater + 1 + id % 5) % 7
    val base = when(a =!= b, array(cmpRow(prompt, win, lose, baseRater, coin)))
      .otherwise(emptyRow)
    val conflict = when(a =!= b && id % 13 === 0,
        array(cmpRow(prompt, lose, win, confRater, !coin)))
      .otherwise(emptyRow)
    // exact integral divide (SQL DIV) — the double-divide-then-cast
    // form diverges from the oracle's integer `//` past ~2^52
    val cyclePrompt = call_function("div", id, lit(250L)) % 50
    val cycle = when(id % 250 === 0, array(
        cmpRow(cyclePrompt, lit(101L), lit(102L), lit(6L), lit(true)),
        cmpRow(cyclePrompt, lit(102L), lit(103L), lit(6L), lit(true)),
        cmpRow(cyclePrompt, lit(103L), lit(101L), lit(6L), lit(true))))
      .otherwise(emptyRow)
    Tables.load(s, dir, "documents")
      .select(explode(concat(base, conflict, cycle)).as("c"))
      .select(col("c.prompt").as("prompt"), col("c.win").as("win"),
        col("c.lose").as("lose"), col("c.rater").as("rater"),
        col("c.first").as("first"))
  }

  /** The synthesis as a shared CTE: base + reversed-conflict + planted
    * cycle rows, each field the same integer function of doc_id.
    */
  private val cmpSql: String =
    """cmp AS (
         SELECT doc_id % 50 AS prompt,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END AS win,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END AS lose
         FROM documents WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
         UNION ALL
         SELECT doc_id % 50,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END
         FROM documents
         WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
           AND doc_id % 13 = 0
         UNION ALL
         SELECT (doc_id // 250) % 50, c.w, c.l
         FROM documents
         CROSS JOIN (VALUES (101, 102), (102, 103), (103, 101)) AS c(w, l)
         WHERE doc_id % 250 = 0),
       votes AS (
         SELECT prompt, LEAST(win, lose) AS lo, GREATEST(win, lose) AS hi,
           CAST(SUM(CASE WHEN win < lose THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lo_wins,
           CAST(SUM(CASE WHEN win > lose THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hi_wins
         FROM cmp GROUP BY 1, 2, 3)"""

  /** The synthesis with the rater field, for the agreement oracle. */
  private val cmpRaterSql: String =
    """cmpr AS (
         SELECT doc_id % 50 AS prompt,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END AS win,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END AS lose,
           (doc_id * 3 + 1) % 7 AS rater
         FROM documents WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
         UNION ALL
         SELECT doc_id % 50,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 11 + 3) % 20
                ELSE (doc_id * 7 + 1) % 20 END,
           CASE WHEN doc_id % 3 <> 0 THEN (doc_id * 7 + 1) % 20
                ELSE (doc_id * 11 + 3) % 20 END,
           ((doc_id * 3 + 1) % 7 + 1 + doc_id % 5) % 7
         FROM documents
         WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
           AND doc_id % 13 = 0
         UNION ALL
         SELECT (doc_id // 250) % 50, c.w, c.l, 6
         FROM documents
         CROSS JOIN (VALUES (101, 102), (102, 103), (103, 101)) AS c(w, l)
         WHERE doc_id % 250 = 0),
       vr AS (
         SELECT prompt, LEAST(win, lose) AS lo, GREATEST(win, lose) AS hi,
           win < lose AS lo_won, rater
         FROM cmpr),
       pr AS (
         SELECT prompt, lo, hi,
           SUM(CASE WHEN lo_won THEN 1 ELSE 0 END) AS n_lo,
           SUM(CASE WHEN lo_won THEN 0 ELSE 1 END) AS n_hi
         FROM vr GROUP BY 1, 2, 3)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_events_hourly", (s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
        .orderBy(col("hour"), col("event_type"))
    },
      """SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),
    // ---- gaps-and-islands sessionization (batch form) ----
    QueryDef("q_sessionize", (s, dir) => {
      // the relational dual of q_stream_session: a session break is a
      // >30 min gap; islands numbered by a running sum over the break
      // flags — two window passes over one shuffle on user_id
      val w = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("es"))
        .withColumn("new_s",
          when(lag(col("es"), 1).over(w).isNull ||
            col("es") - lag(col("es"), 1).over(w) > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("es")) - min(col("es"))).as("duration_s"))
        .orderBy(col("user_id"), col("session_id"))
    },
      """WITH e AS (
           SELECT user_id, event_id,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
           FROM events),
         f AS (
           SELECT user_id, event_id, es,
             CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
         s AS (
           SELECT user_id, es,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM f)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MAX(es) - MIN(es) AS duration_s
         FROM s GROUP BY user_id, session_id
         ORDER BY user_id, session_id"""),

    // ---- conversion funnel (view → click → purchase) ----
    QueryDef("q_funnel", (s, dir) => {
      // each stage keys on the previous stage's first-event time; the
      // stage joins stay on user_id (one shuffle key throughout), and
      // the final counts are three single-row aggregates cross-joined
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), unix_timestamp(col("ts")).as("es"))
      // v and c each feed the next stage's join AND the final count —
      // persist so the per-stage event aggregation runs once
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("es")).as("t_view"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("es") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("es")).as("t_click"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("es") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("es")).as("t_buy"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
    },
      """WITH e AS (
           SELECT user_id, event_type,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
           FROM events),
         v AS (SELECT user_id, MIN(es) AS t_view FROM e
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(es) AS t_click FROM e
           JOIN v USING (user_id)
           WHERE event_type = 'click' AND es > t_view GROUP BY 1),
         p AS (SELECT e.user_id, MIN(es) AS t_buy FROM e
           JOIN c USING (user_id)
           WHERE event_type = 'purchase' AND es > t_click GROUP BY 1)
         SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase"""),

    // ---- week-over-week retention ----
    QueryDef("q_retention", (s, dir) => {
      // distinct user-weeks self-joined one week apart; DATE-normalized
      // because Spark's date_trunc returns TIMESTAMP where DuckDB's
      // returns DATE
      val uw = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val prev = uw.select(col("user_id"), date_add(col("wk"), 7).as("wk"))
      uw.join(prev, Seq("user_id", "wk"))
        .groupBy(col("wk")).agg(countDistinct(col("user_id")).as("n_retained"))
        .orderBy(col("wk"))
    },
      """WITH uw AS (
           SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
           FROM events)
         SELECT a.wk, COUNT(DISTINCT a.user_id) AS n_retained
         FROM uw a JOIN uw b
           ON a.user_id = b.user_id AND a.wk = b.wk + 7
         GROUP BY a.wk ORDER BY a.wk"""),
    // ---- per-group z-score anomalies ----
    QueryDef("q_anomaly_zscore", (s, dir) => {
      // classic outlier screen: standardize within event_type, keep
      // |z| > 3. The filter compares the ROUNDED z on both engines so
      // boundary rows cannot flip on last-ulp stddev differences.
      val w = Window.partitionBy(col("event_type"))
      val z = (col("value") - avg(col("value")).over(w)) /
        stddev_samp(col("value")).over(w)
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 4).as("z"))
        .filter(abs(col("z")) > 3)
        .orderBy(col("event_id"))
    },
      """SELECT event_id, event_type, value, z FROM (
           SELECT event_id, event_type, value,
             ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 4) AS z
           FROM events WINDOW w AS (PARTITION BY event_type))
         WHERE ABS(z) > 3 ORDER BY event_id"""),

    // ---- interval-overlap concurrency (sweep line) ----
    QueryDef("q_concurrency", (s, dir) => {
      // max concurrent sessions per day: sessionize (the q_sessionize
      // islands), emit +1/-1 deltas at session start/end, pre-aggregate
      // deltas per distinct second, then a partition-and-stitch prefix
      // sum: the running sum within each day is a day-partitioned
      // window (parallel across days, each task bounded by 86400
      // seconds), and the carry-in from all prior days is a running sum
      // over the per-day total frame, which broadcasts back as an
      // equi-join. The whole sweep stays in one Spark plan.
      val wS = Window.partitionBy(col("user_id")).orderBy(col("es"), col("event_id"))
      val run = wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("es"))
        .withColumn("new_s",
          when(lag(col("es"), 1).over(wS).isNull ||
            col("es") - lag(col("es"), 1).over(wS) > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("es")).as("t0"), max(col("es")).as("t1"))
      // the session frame feeds both union branches and perSec feeds
      // the carry aggregate AND the stitched join side — materialized
      // eagerly (r17) so concurrent AQE stages read stored partitions
      // instead of racing to compute a lazy cache (Dedup.materialized)
      val sessM = graft.ops.Dedup.materialized(sess)
      val deltas = sessM.select(col("t0").as("es"), lit(1L).as("d"))
        .unionByName(sessM.select((col("t1") + 1).as("es"), lit(-1L).as("d")))
      val perSec = graft.ops.Dedup.materialized(
        deltas.groupBy(col("es")).agg(sum(col("d")).as("d"))
          .withColumn("day_idx", floor(col("es") / 86400).cast("long")))
      // carry(day) = sum of every prior day's net delta (sessions still
      // open at midnight). A session spanning days contributes +1 on
      // its start day and -1 after its end day, so the stitched count
      // perSec.run + carry equals the global prefix sum exactly.
      // The carry is an in-plan running sum over the day-total frame —
      // one row per calendar day, bounded by the calendar (~3.7k rows/
      // decade) and not by the corpus, so its single-partition window
      // is a tiny task at any data scale while the event-scale frames
      // stay day-partitioned (asserted in Round4Spec). r6 verdict
      // item 5: this replaced the last bench-path driver-side collect.
      val wCarry = Window.orderBy(col("day_idx"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carries = perSec.groupBy(col("day_idx")).agg(sum(col("d")).as("dt"))
        .withColumn("carry", coalesce(sum(col("dt")).over(wCarry), lit(0L)))
        .select(col("day_idx"), col("carry"))
      val wDay = Window.partitionBy(col("day_idx")).orderBy(col("es"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perSec.withColumn("run", sum(col("d")).over(wDay))
        .join(broadcast(carries), Seq("day_idx"))
        .groupBy(col("day_idx"))
        .agg(max(col("run") + col("carry")).as("max_concurrent"))
        .orderBy(col("day_idx"))
    },
      """WITH e AS (
           SELECT user_id, event_id,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
           FROM events),
         f AS (
           SELECT user_id, event_id, es,
             CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
               THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
         s AS (
           SELECT user_id, es,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM f),
         sess AS (
           SELECT user_id, session_id, MIN(es) AS t0, MAX(es) AS t1
           FROM s GROUP BY 1, 2),
         deltas AS (
           SELECT t0 AS es, 1 AS d FROM sess
           UNION ALL SELECT t1 + 1, -1 FROM sess),
         per_ts AS (SELECT es, SUM(d) AS d FROM deltas GROUP BY 1),
         running AS (
           SELECT es, SUM(d) OVER (ORDER BY es
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM per_ts)
         SELECT CAST(FLOOR(es / 86400) AS BIGINT) AS day_idx,
           CAST(MAX(c) AS BIGINT) AS max_concurrent
         FROM running GROUP BY 1 ORDER BY day_idx"""),

    // ---- 7-day rolling active users ----
    QueryDef("q_rolling_wau", (s, dir) => {
      // COUNT(DISTINCT) over a sliding window can't be a window frame,
      // and a day-spine range join plans as BroadcastNestedLoopJoin —
      // every (day, user) row tested against every spine day, a 3650x
      // blowup on a 10-year corpus. Scale-safe form: each distinct
      // (day, user) pair covers AT MOST 7 spine days, so explode
      // exactly those (bounded 7x expansion). The r5 variant bounded
      // the spine with a days-distinct + broadcast semi-join — a second
      // pass over the persisted pairs and an extra shuffle; the bound
      // is really just the max observed date, a one-row column-pruned
      // aggregate, so the spine tail is cut by a scalar filter instead
      // and the (day, user) distinct is consumed exactly once (no
      // persist, no join anywhere in the plan). Semantics: a spine day
      // appears iff some event day falls in its trailing week — on a
      // calendar with multi-day gaps this also reports the up-to-6
      // quiet days after a burst (deliberate: rolling actives are
      // defined for those days too), where the r5 observed-days form
      // dropped them. The oracle mirrors this definition exactly.
      val ev = Tables.load(s, dir, "events")
      val maxD = ev.agg(max(to_date(col("ts")))).head().getDate(0)
      ev.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("spine_d"),
          col("user_id"))
        .filter(col("spine_d") <= lit(maxD))
        .groupBy(col("spine_d"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy(col("spine_d"))
    },
      """WITH du AS (
           SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         sp AS (
           SELECT d + CAST(i AS INTEGER) AS spine_d, user_id
           FROM du CROSS JOIN range(7) t(i))
         SELECT spine_d, COUNT(DISTINCT user_id) AS wau
         FROM sp
         WHERE spine_d <= (SELECT MAX(CAST(ts AS DATE)) FROM events)
         GROUP BY 1 ORDER BY 1"""),

    // ---- cohort analysis (first-seen week × week offset) ----
    QueryDef("q_cohort", (s, dir) => {
      // each user's cohort is their first active week; activity is
      // distinct (user, week); the per-user cohort frame joins back on
      // user_id — same shuffle key as the distinct, so AQE coalesces
      val uw = Tables.load(s, dir, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fw = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      uw.join(fw, "user_id")
        .select(col("cohort"),
          floor(datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_offset"),
          col("user_id"))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    },
      """WITH uw AS (
           SELECT DISTINCT user_id,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
           FROM events),
         fw AS (SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY 1)
         SELECT cohort,
           CAST(FLOOR((wk - cohort) / 7) AS BIGINT) AS week_offset,
           COUNT(DISTINCT uw.user_id) AS n_users
         FROM uw JOIN fw USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort, week_offset"""),
    // ---- event-type Markov transitions ----
    QueryDef("q_event_transitions", (s, dir) =>
      Graphs.typeTransitions(Tables.load(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id")
        .orderBy(col("from_type"), col("to_type")),
      """SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
           SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events)
         WHERE to_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY from_type, to_type"""),

    // ---- offline recommender evaluation (hit-rate@k) ----
    // (plain load, not loadSpread: the spread was A/B-measured slower
    // here — recHitRate persists its projected events frame right away,
    // so the parse cost amortizes across its many consumers)
    QueryDef("q_rec_eval", (s, dir) =>
      Graphs.recHitRate(Tables.load(s, dir, "events"), "user_id", "ts",
          "event_id", itemOf, date_trunc("hour", col("ts")),
          lit("2024-01-26 00:00:00").cast("timestamp"), k = 5)
        .orderBy(col("user_id")),
      """WITH b AS (SELECT DISTINCT user_id AS u,
             DATE_TRUNC('hour', ts) AS h,
             CAST(json_extract(props, '$.k') AS BIGINT) AS item
           FROM events WHERE ts < TIMESTAMP '2024-01-26'),
         ok AS (SELECT u, h FROM b GROUP BY u, h HAVING COUNT(*) <= 100),
         kept AS (SELECT b.* FROM b JOIN ok ON b.u = ok.u AND b.h = ok.h),
         p AS (SELECT a.item AS ia, b2.item AS ib, COUNT(*) AS sup
           FROM kept a JOIN kept b2
             ON a.u = b2.u AND a.h = b2.h AND a.item < b2.item
           GROUP BY 1, 2),
         hist AS (SELECT DISTINCT user_id AS u,
             CAST(json_extract(props, '$.k') AS BIGINT) AS item
           FROM events WHERE ts < TIMESTAMP '2024-01-26'),
         ho AS (SELECT u, item AS heldout FROM (
             SELECT e.user_id AS u,
               CAST(json_extract(e.props, '$.k') AS BIGINT) AS item,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                 ORDER BY e.ts, e.event_id) AS rk
             FROM events e LEFT JOIN hist h ON e.user_id = h.u
               AND CAST(json_extract(e.props, '$.k') AS BIGINT) = h.item
             WHERE e.ts >= TIMESTAMP '2024-01-26' AND h.u IS NULL)
           WHERE rk = 1),
         sym AS (SELECT ia AS i, ib AS j, sup FROM p
           UNION ALL SELECT ib, ia, sup FROM p),
         sc AS (SELECT h.u, s.j AS cand, SUM(s.sup) AS score
           FROM hist h JOIN sym s ON h.item = s.i
           LEFT JOIN hist h2 ON h.u = h2.u AND s.j = h2.item
           WHERE h2.u IS NULL GROUP BY 1, 2),
         tk AS (SELECT u, cand, rk FROM (
             SELECT u, cand, ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY score DESC, cand) AS rk
             FROM sc) WHERE rk <= 5)
         SELECT ho.u AS user_id, ho.heldout,
           CAST(tk.rk AS INT) AS hit_rank, (tk.rk IS NOT NULL) AS hit
         FROM ho LEFT JOIN tk ON ho.u = tk.u AND ho.heldout = tk.cand
         ORDER BY user_id"""),

    // ---- last-touch revenue attribution ----
    QueryDef("q_attribution", (s, dir) =>
      Behavior.lastTouchAttribution(Tables.load(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "value",
          touchType = "click", convType = "purchase")
        .orderBy(col("event_id")),
      """WITH e AS (SELECT user_id AS u,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             event_id AS eid, event_type AS ty, value AS v
           FROM events),
         t AS (SELECT *,
             MAX(CASE WHEN ty = 'click' THEN es * 100000000 + eid END)
               OVER (PARTITION BY u ORDER BY es
                 RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING) AS touch
           FROM e)
         SELECT eid AS event_id, u AS user_id, es, v AS value,
           touch % 100000000 AS touch_event_id,
           (touch IS NOT NULL) AS attributed
         FROM t WHERE ty = 'purchase' ORDER BY event_id"""),

    // ---- RFM segmentation ----
    QueryDef("q_rfm", (s, dir) =>
      Behavior.rfmSegments(Tables.load(s, dir, "events"),
          "user_id", "ts", "value")
        .orderBy(col("user_id")),
      """SELECT user_id, last_es, n_events, cents, r, f, m,
           concat_ws('-', r, f, m) AS segment
         FROM (
           SELECT user_id, last_es, n_events, cents,
             CAST(NTILE(5) OVER (ORDER BY last_es, user_id) AS INT) AS r,
             CAST(NTILE(5) OVER (ORDER BY n_events, user_id) AS INT) AS f,
             CAST(NTILE(5) OVER (ORDER BY cents, user_id) AS INT) AS m
           FROM (
             SELECT user_id,
               MAX(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
                 AS last_es,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
             FROM events GROUP BY user_id))
         ORDER BY user_id"""),

    // ---- sequence-model training examples ----
    QueryDef("q_seq_examples", (s, dir) =>
      SeqData.seqExamples(Tables.load(s, dir, "events"), "user_id", "ts",
          "event_id", itemOf, gapSec = 1800, maxHistory = 8,
          negK = 3, nItems = 100)
        .orderBy(col("user_id"), col("session_id"), col("pos")),
      """WITH e AS (SELECT user_id AS u,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
             event_id AS tie,
             CAST(json_extract(props, '$.k') AS BIGINT) AS item
           FROM events),
         f AS (SELECT u, es, tie, item,
             CASE WHEN LAG(es) OVER (PARTITION BY u ORDER BY es, tie)
                 IS NULL OR
               es - LAG(es) OVER (PARTITION BY u ORDER BY es, tie) > 1800
               THEN 1 ELSE 0 END AS new_s
           FROM e),
         s AS (SELECT u, es, tie, item,
             SUM(new_s) OVER (PARTITION BY u ORDER BY es, tie
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
           FROM f),
         x AS (SELECT u AS user_id, CAST(session_id AS BIGINT) AS session_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY u, session_id
               ORDER BY es, tie) AS INT) AS pos,
             array_to_string(list(item) OVER (PARTITION BY u, session_id
               ORDER BY es, tie
               ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), ',') AS history,
             item AS label
           FROM s)
         SELECT user_id, session_id, pos, history, label,
           array_to_string(list_transform(range(1, 4), i ->
             CAST(('0x' || SUBSTR(md5(concat_ws(':', user_id, session_id,
               pos, i)), 1, 8)) AS BIGINT) % 100), ',') AS negatives
         FROM x WHERE pos >= 2
         ORDER BY user_id, session_id, pos"""),
    // ---- integer-exact time-decayed user value ----
    QueryDef("q_decay_score", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val asOf = ev.agg(max(col("ts"))).head().getTimestamp(0)
      Behavior.decayedValue(ev, "user_id", "ts", "value", lit(asOf),
          halfLifeDays = 4, maxHalfLives = 8)
        .orderBy(col("user_id"))
    },
      """WITH mx AS (SELECT MAX(CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS a
           FROM events),
         e AS (SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(FLOOR(CAST(a - CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS DOUBLE) / (86400 * 4)) AS BIGINT) AS b
           FROM events CROSS JOIN mx)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(cents * (CASE WHEN b >= 0 AND b < 8
             THEN CAST(POWER(2, 7 - b) AS BIGINT) ELSE 0 END)) AS DOUBLE) / 128.0
             AS decayed_cents
         FROM e GROUP BY 1 ORDER BY user_id"""),
    // ---- CUPED-adjusted A/B lift ----
    QueryDef("q_ab_cuped", (s, dir) =>
      Behavior.cupedLift(Tables.load(s, dir, "events"),
        "user_id", "ts", "value", splitTs = "2024-01-16 00:00:00"),
      """WITH per AS (SELECT user_id AS u,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
               THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
               THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
         a AS (SELECT x, y,
             substr(md5('exp1:' || CAST(u AS VARCHAR)), 1, 1) < '8' AS t
           FROM per),
         g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT) AS sxt,
             CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS syt
           FROM a),
         e AS (SELECT n, nt, n - nt AS ncnt,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
               CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn,
             CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) AS xbt,
             CAST(sx - sxt AS DOUBLE) / CAST(n - nt AS DOUBLE) AS xbc,
             CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) AS ybt,
             CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE) AS ybc
           FROM g)
         SELECT n, nt AS n_treat, ncnt AS n_control,
           CASE WHEN nt > 0 AND ncnt > 0 THEN ROUND(ybt, 6) END AS y_mean_treat,
           CASE WHEN nt > 0 AND ncnt > 0 THEN ROUND(ybc, 6) END AS y_mean_control,
           CASE WHEN nt > 0 AND ncnt > 0 THEN ROUND(ybt - ybc, 6) END AS raw_lift,
           CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) END AS theta,
           CASE WHEN nt > 0 AND ncnt > 0 AND varxn > 0
             THEN ROUND((ybt - ybc) - (covn / varxn) * (xbt - xbc), 6)
             END AS adj_lift,
           CASE WHEN varxn > 0 AND varyn > 0
             THEN ROUND(covn * covn / (varxn * varyn), 6) END AS rho2
         FROM e"""),

    /* Evaluation and behavior analytics — score
     * calibration (reliability diagram + ECE), market-basket association
     * rules, and Kaplan-Meier survival of user lifetimes. All three are
     * ratios/folds of exact integer counts, so the rounded doubles are
     * engine-exact and every row is DuckDB-checkable.
     */
    // ---- Kaplan-Meier survival of user lifetimes ----
    QueryDef("q_survival_km", (s, dir) =>
      Behavior.kaplanMeier(Tables.load(s, dir, "events"), "user_id", "ts",
          censorDays = 7)
        .orderBy(col("t")),
      """WITH per AS (SELECT user_id AS u, MIN(CAST(ts AS DATE)) AS d0,
             MAX(CAST(ts AS DATE)) AS d1
           FROM events GROUP BY 1),
         e AS (SELECT MAX(CAST(ts AS DATE)) AS endd FROM events),
         lab AS (SELECT datediff('day', d0, d1) AS t,
             datediff('day', d1, endd) >= 7 AS churned
           FROM per CROSS JOIN e),
         tp AS (SELECT t,
             CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS n_churn,
             CAST(SUM(CASE WHEN NOT churned THEN 1 ELSE 0 END) AS BIGINT) AS n_cens
           FROM lab GROUP BY 1),
         rk AS (SELECT t, n_churn, n_cens,
             CAST(SUM(n_churn + n_cens) OVER (ORDER BY t DESC) AS BIGINT)
               AS n_risk
           FROM tp),
         f AS (SELECT t,
             CAST(1.0 AS DOUBLE) -
               CAST(n_churn AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fct
           FROM rk),
         s AS (SELECT f1.t,
             ROUND(list_reduce(
               list_prepend(CAST(1.0 AS DOUBLE), list(f2.fct ORDER BY f2.t)),
               (a, b) -> a * b), 6) AS survival
           FROM f f1 JOIN f f2 ON f2.t <= f1.t GROUP BY f1.t)
         SELECT rk.t, rk.n_risk, rk.n_churn, rk.n_cens, s.survival
         FROM rk JOIN s ON rk.t = s.t ORDER BY rk.t"""),

    /* Sequence mining and job-config planning — the
     * frequent event-type path table and the partition/broadcast sizing
     * advisor. Both exact-integer, DuckDB-checked.
     */
    // ---- top-20 frequent 3-step behavior paths ----
    QueryDef("q_path_mining", (s, dir) =>
      Graphs.frequentPaths(Tables.load(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id", len = 3, topK = 20)
        .orderBy(col("rank")),
      """WITH s AS (SELECT event_type AS step1,
             LEAD(event_type, 1) OVER w AS step2,
             LEAD(event_type, 2) OVER w AS step3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         g AS (SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
           FROM s
           WHERE step1 IS NOT NULL AND step2 IS NOT NULL
             AND step3 IS NOT NULL
           GROUP BY 1, 2, 3),
         rk AS (SELECT *, ROW_NUMBER() OVER (
             ORDER BY n DESC, step1, step2, step3) AS rank FROM g)
         SELECT step1, step2, step3, n, CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 20 ORDER BY rank"""),

    /* Abuse detection and load-shape analytics — the
     * bot-likeness audit (planted 1-event-per-second bot) and peak-hour
     * concentration. All exact integer ratios; timezone-independent by
     * construction (only gap DIFFERENCES and truncated-hour counts are
     * used). DuckDB-checked.
     */
    // ---- bot-likeness flags with planted certainty ----
    QueryDef("q_bot_flags", (s, dir) =>
      Behavior.botFlags(withBot(s, dir), "user_id", "ts")
        .orderBy(col("user_id")),
      """WITH mx AS (SELECT MAX(user_id) + 1 AS bu FROM events),
         bot AS (SELECT mx.bu AS user_id,
             TIMESTAMP '2024-01-05 12:00:00' +
               UNNEST(range(0, 200)) * INTERVAL 1 SECOND AS ts
           FROM mx),
         c AS (SELECT user_id, ts FROM events
           UNION ALL SELECT user_id, ts FROM bot),
         g AS (SELECT user_id AS u, CAST(epoch(ts) AS BIGINT) AS es,
             DATE_TRUNC('hour', ts) AS h FROM c),
         g2 AS (SELECT u, es, h,
             es - LAG(es) OVER (PARTITION BY u ORDER BY es) AS gap
           FROM g),
         pu AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_events,
             quantile_cont(gap, 0.5) AS median_gap_s,
             CAST(SUM(CASE WHEN gap <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fast,
             CAST(COUNT(gap) AS BIGINT) AS n_gaps
           FROM g2 GROUP BY 1),
         hh AS (SELECT u, CAST(MAX(nh) AS BIGINT) AS max_events_hour FROM (
             SELECT u, h, COUNT(*) AS nh FROM g2 GROUP BY 1, 2)
           GROUP BY 1)
         SELECT pu.u AS user_id, pu.n_events, pu.median_gap_s,
           ROUND(CAST(pu.n_fast AS DOUBLE) / CAST(pu.n_gaps AS DOUBLE), 6)
             AS fast_frac,
           hh.max_events_hour,
           CASE WHEN pu.n_events >= 20 AND pu.n_fast * 2 > pu.n_gaps
                  AND hh.max_events_hour > 100 THEN 'fast+burst'
                WHEN pu.n_events >= 20 AND pu.n_fast * 2 > pu.n_gaps
                  THEN 'fast'
                ELSE 'burst' END AS reason
         FROM pu JOIN hh ON pu.u = hh.u
         WHERE (pu.n_events >= 20 AND pu.n_fast * 2 > pu.n_gaps)
            OR hh.max_events_hour > 100
         ORDER BY user_id"""),

    // ---- peak-hour concentration per event type ----
    QueryDef("q_peak_hours", (s, dir) =>
      Behavior.peakHours(Tables.load(s, dir, "events"), "event_type", "ts")
        .orderBy(col("event_type")),
      """WITH h AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total
           FROM h GROUP BY 1),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY n DESC, hod) AS rn FROM h)
         SELECT rk.event_type, rk.hod AS peak_hour, rk.n AS peak_n,
           t.n_total,
           ROUND(CAST(rk.n AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
             AS peak_share
         FROM rk JOIN t ON rk.event_type = t.event_type
         WHERE rn = 1 ORDER BY rk.event_type"""),
    // ---- day-of-week seasonal index ----
    QueryDef("q_seasonal_index", (s, dir) =>
      Behavior.seasonalIndex(Tables.load(s, dir, "events"),
          "event_type", "ts")
        .orderBy(col("event_type"), col("dow")),
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(dayofweek(ts) + 1 AS BIGINT) AS dow FROM events),
         bd AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_dow
           FROM d GROUP BY 1, 2),
         bt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
           FROM d GROUP BY 1),
         dy AS (SELECT DISTINCT d, dow FROM d),
         dd AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS days_dow
           FROM dy GROUP BY 1),
         da AS (SELECT CAST(COUNT(*) AS BIGINT) AS days_all FROM dy)
         SELECT bd.event_type, bd.dow, bd.n_dow, dd.days_dow,
           ROUND((CAST(bd.n_dow AS DOUBLE) / CAST(dd.days_dow AS DOUBLE)) /
             (CAST(bt.n_type AS DOUBLE) / CAST(da.days_all AS DOUBLE)), 6)
             AS seasonal_index
         FROM bd JOIN bt ON bd.event_type = bt.event_type
                 JOIN dd ON bd.dow = dd.dow
                 CROSS JOIN da
         ORDER BY bd.event_type, bd.dow"""),

    /* Longitudinal behavior analytics — weekly cohort
     * retention, rank-based winsorized group statistics (on the r9
     * distributed order-statistic machinery), and integer CUSUM
     * level-shift detection over the daily series. Deterministic end to
     * end; every expression mirrored by its DuckDB oracle.
     */
    // ---- weekly cohort retention matrix ----
    QueryDef("q_cohort_retention", (s, dir) =>
      Behavior.cohortRetention(Tables.load(s, dir, "events"),
          "user_id", "ts")
        .orderBy(col("cohort_wk"), col("week_offset")),
      """WITH uw AS (
           SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 604800 AS wk
           FROM events),
         fw AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1),
         cells AS (
           SELECT cohort_wk, wk - cohort_wk AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
           FROM uw JOIN fw USING (user_id) GROUP BY 1, 2),
         sz AS (SELECT cohort_wk, n_active AS cohort_size
           FROM cells WHERE week_offset = 0)
         SELECT cohort_wk, week_offset, n_active, cohort_size,
           ROUND(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6)
             AS retention
         FROM cells JOIN sz USING (cohort_wk)
         ORDER BY cohort_wk, week_offset"""),

    // ---- CUSUM level-shift detection ----
    QueryDef("q_cusum", (s, dir) => {
      // planted changepoint: the event stream doubles from Jan 21 on
      // (the tail unions in twice), so the positive CUSUM must climb
      // and alarm after the shift while the pre-shift days stay quiet
      val ev = Tables.load(s, dir, "events")
      val shifted = ev.unionByName(
        ev.filter(col("ts") >= lit("2024-01-21 00:00:00").cast("timestamp")))
      Behavior.cusumChangepoint(shifted, "ts", alarmMeanDays = 3)
        .orderBy(col("day_idx"))
    },
      """WITH ev AS (
           SELECT ts FROM events
           UNION ALL
           SELECT ts FROM events
           WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-21 00:00:00'),
         d AS (
           SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
             // 86400 AS day_idx
           FROM ev),
         daily AS (SELECT day_idx, CAST(COUNT(*) AS BIGINT) AS n
           FROM d GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all,
             CAST(COUNT(*) AS BIGINT) AS dd FROM daily),
         p AS (
           SELECT day_idx, n, n_all,
             SUM(n * dd - n_all) OVER (ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
           FROM daily CROSS JOIN t),
         rr AS (
           SELECT day_idx, n, pre, n_all,
             MIN(pre) OVER (ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin,
             MAX(pre) OVER (ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
           FROM p)
         SELECT day_idx, n,
           CAST(pre - LEAST(rmin, 0) AS BIGINT) AS cusum_pos,
           CAST(GREATEST(rmax, 0) - pre AS BIGINT) AS cusum_neg,
           (pre - LEAST(rmin, 0) > 3 * n_all) AS alarm_pos,
           (GREATEST(rmax, 0) - pre > 3 * n_all) AS alarm_neg
         FROM rr ORDER BY day_idx"""),

    /* Time-series diagnostics and the conversion
     * funnel — per-key EWMA anomaly bands (integer cross-multiplied
     * test), the autocorrelation function at small lags, and the
     * ordered-step funnel chained through stacked per-user windows.
     * The EWMA/ACF oracle SQL is generated by the same lag-index loops
     * that build the Spark plans, so the two renderings cannot drift.
     */
    QueryDef("q_funnel_window", (s, dir) =>
      Behavior.funnelSteps(Tables.load(s, dir, "events"), "user_id",
          "ts", "event_type", FunnelSteps, FunnelWindowSec)
        .orderBy(col("step_idx")),
      funnelSql),

    QueryDef("q_ewma_daily", (s, dir) =>
      TimeSeries.ewmaDaily(Tables.load(s, dir, "events"), "ts",
          "event_type", lookback = EwmaLookback,
          thrNum = EwmaThrNum, thrDen = EwmaThrDen)
        .orderBy(col("k"), col("day_idx")),
      ewmaSql),

    QueryDef("q_acf_daily", (s, dir) =>
      TimeSeries.acfDaily(Tables.load(s, dir, "events"), "ts",
          "event_type", maxLag = AcfMaxLag)
        .orderBy(col("k"), col("lag")),
      acfSql),
    QueryDef("q_rolling_trend", (s, dir) =>
      TimeSeries.rollingTrend(Tables.load(s, dir, "events"), "ts",
          "event_type", window = TrendWindow)
        .orderBy(col("k"), col("day_idx")),
      s"""WITH d AS (
           SELECT event_type AS k,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400
               AS day_idx,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT k, day_idx, n,
             CAST(COUNT(*) OVER win AS BIGINT) AS cnt,
             CAST(SUM(day_idx) OVER win AS BIGINT) AS sx,
             CAST(SUM(n) OVER win AS BIGINT) AS sy,
             CAST(SUM(day_idx * n) OVER win AS BIGINT) AS sxy,
             CAST(SUM(day_idx * day_idx) OVER win AS BIGINT) AS sxx
           FROM d
           WINDOW win AS (PARTITION BY k ORDER BY day_idx
             ROWS BETWEEN ${TrendWindow - 1} PRECEDING AND CURRENT ROW))
         SELECT k, day_idx, n, cnt AS n_obs,
           CASE WHEN cnt * sxx - sx * sx > 0
             THEN ROUND(CAST(cnt * sxy - sx * sy AS DOUBLE) /
               CAST(cnt * sxx - sx * sx AS DOUBLE), 6) END AS slope,
           ROUND(CAST(sy AS DOUBLE) / CAST(cnt AS DOUBLE), 6)
             AS mean_level
         FROM w ORDER BY k, day_idx"""),

    /* Preference-data QA — the audit pass an RLHF/DPO
     * pipeline runs over pairwise comparison labels before a reward model
     * ever sees them. Comparisons are synthesized in-plan from documents
     * with every field a deterministic function of the id, with all three
     * defect classes PLANTED so each audit's positive rows are certain:
     * every 13th comparison is re-emitted reversed (a direct conflict),
     * and every 250th id adds a 101>102>103>101 majority triple on its
     * own prompt (an intransitivity certificate no reward model can fit).
     * The oracle replays the synthesis and the integer vote arithmetic
     * end to end.
     */
    // ---- direction conflicts per (prompt, unordered pair) ----
    QueryDef("q_pref_conflicts", (s, dir) =>
      Preferences.conflictAudit(comparisons(s, dir), "prompt", "win", "lose")
        .orderBy(col("prompt"), col("lo"), col("hi")),
      s"""WITH $cmpSql
         SELECT prompt, lo, hi, n_lo_wins, n_hi_wins,
           (n_lo_wins > 0 AND n_hi_wins > 0) AS conflicted,
           ABS(n_lo_wins - n_hi_wins) AS margin
         FROM votes ORDER BY prompt, lo, hi"""),

    // ---- exact win rates + Copeland strength per completion ----
    QueryDef("q_pref_winrate", (s, dir) =>
      Preferences.winRates(comparisons(s, dir), "prompt", "win", "lose")
        .orderBy(col("prompt"), col("completion")),
      s"""WITH $cmpSql,
         sides AS (
           SELECT prompt, win AS completion, 1 AS w FROM cmp
           UNION ALL
           SELECT prompt, lose, 0 FROM cmp)
         SELECT prompt, completion,
           CAST(SUM(w) AS BIGINT) AS wins,
           CAST(SUM(1 - w) AS BIGINT) AS losses,
           CAST(COUNT(*) AS BIGINT) AS games,
           ROUND(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS win_rate,
           CAST(SUM(w) - SUM(1 - w) AS BIGINT) AS copeland
         FROM sides GROUP BY 1, 2 ORDER BY prompt, completion"""),

    // ---- majority-preference 3-cycles (intransitivity) ----
    QueryDef("q_pref_cycles", (s, dir) =>
      Preferences.majorityCycles(comparisons(s, dir), "prompt", "win", "lose")
        .orderBy(col("prompt")),
      s"""WITH $cmpSql,
         edges AS (
           SELECT prompt,
             CASE WHEN n_lo_wins > n_hi_wins THEN lo ELSE hi END AS src,
             CASE WHEN n_lo_wins > n_hi_wins THEN hi ELSE lo END AS dst
           FROM votes WHERE n_lo_wins <> n_hi_wins)
         SELECT e1.prompt, CAST(COUNT(*) AS BIGINT) AS n_cycles
         FROM edges e1
         JOIN edges e2 ON e1.prompt = e2.prompt AND e1.dst = e2.src
         JOIN edges e3 ON e2.prompt = e3.prompt AND e2.dst = e3.src
           AND e3.dst = e1.src
         WHERE e1.src < e2.src AND e1.src < e3.src
         GROUP BY e1.prompt ORDER BY e1.prompt"""),

    // ---- per-rater majority-agreement audit (r12 verdict item 7) ----
    // the conflict class is planted on rater (id*5+2)%7, so the
    // disagreement concentrates on specific raters — the audit must
    // separate them from the consensus raters
    QueryDef("q_rater_agreement", (s, dir) =>
      Preferences.raterAgreement(comparisons(s, dir), "prompt", "win",
          "lose", "rater")
        .orderBy(col("rater")),
      s"""WITH $cmpRaterSql
         SELECT vr.rater,
           CAST(COUNT(*) AS BIGINT) AS n_votes,
           CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_decided,
           CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi
               AND vr.lo_won = (pr.n_lo > pr.n_hi) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_majority,
           ROUND(CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi
               AND vr.lo_won = (pr.n_lo > pr.n_hi) THEN 1 ELSE 0 END)
               AS DOUBLE) /
             NULLIF(CAST(SUM(CASE WHEN pr.n_lo <> pr.n_hi THEN 1 ELSE 0 END)
               AS DOUBLE), 0), 6) AS agreement
         FROM vr JOIN pr ON vr.prompt = pr.prompt AND vr.lo = pr.lo
           AND vr.hi = pr.hi
         GROUP BY vr.rater ORDER BY rater"""),

    // ---- per-rater position-bias audit ----
    // rater 3 is the planted position-follower (their vote always
    // lands on the first-shown completion → share 1.0); everyone else
    // sits near the synthesis coin's base rate
    QueryDef("q_pref_position", (s, dir) =>
      Preferences.positionBias(comparisons(s, dir), "win", "lose",
          "first", "rater")
        .orderBy(col("rater")),
      // win == first reduces to the synthesis' (fw OR rater = 3) flag,
      // replayed per row class (base: coin; conflict: reversed coin,
      // rater (base+1+id%5)%7; cycles: written order, rater 6)
      """WITH pos AS (
           SELECT (doc_id * 3 + 1) % 7 AS rater,
             CASE WHEN (doc_id * 13 + 5) % 10 < 5
                 OR (doc_id * 3 + 1) % 7 = 3 THEN 1 ELSE 0 END AS fw
           FROM documents
           WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
           UNION ALL
           SELECT ((doc_id * 3 + 1) % 7 + 1 + doc_id % 5) % 7,
             CASE WHEN (doc_id * 13 + 5) % 10 >= 5
                 OR ((doc_id * 3 + 1) % 7 + 1 + doc_id % 5) % 7 = 3
               THEN 1 ELSE 0 END
           FROM documents
           WHERE (doc_id * 7 + 1) % 20 <> (doc_id * 11 + 3) % 20
             AND doc_id % 13 = 0
           UNION ALL
           SELECT 6, 1 FROM documents
           CROSS JOIN (VALUES (1), (2), (3)) AS c(k)
           WHERE doc_id % 250 = 0)
         SELECT rater, CAST(COUNT(*) AS BIGINT) AS n_votes,
           CAST(SUM(fw) AS BIGINT) AS n_first_won,
           ROUND(CAST(SUM(fw) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS first_win_share
         FROM pos GROUP BY rater ORDER BY rater"""),

    // ---- per-rater length-bias audit ----
    // completion length by the deterministic rule (c*37) mod 97 + 10;
    // lengths never tie on this synthesis (completions 0..19 and
    // 101..103 are distinct mod 97), so n_len_ties pins at 0 and the
    // share is a pure structural measurement the oracle replays
    QueryDef("q_pref_lenbias", (s, dir) => {
      def lenOf(c: org.apache.spark.sql.Column) = (c * 37) % 97 + 10
      Preferences.lengthBias(comparisons(s, dir), lenOf(col("win")),
          lenOf(col("lose")), col("rater"))
        .orderBy(col("rater"))
    },
      s"""WITH $cmpRaterSql
         SELECT rater, CAST(COUNT(*) AS BIGINT) AS n_votes,
           CAST(SUM(CASE WHEN (win * 37) % 97 + 10 > (lose * 37) % 97 + 10
             THEN 1 ELSE 0 END) AS BIGINT) AS n_longer_won,
           CAST(SUM(CASE WHEN (win * 37) % 97 + 10 = (lose * 37) % 97 + 10
             THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ties,
           ROUND(CAST(SUM(CASE WHEN (win * 37) % 97 + 10 >
                 (lose * 37) % 97 + 10 THEN 1 ELSE 0 END) AS DOUBLE) /
             NULLIF(CAST(COUNT(*) - SUM(CASE WHEN (win * 37) % 97 + 10 =
                 (lose * 37) % 97 + 10 THEN 1 ELSE 0 END) AS DOUBLE), 0),
             6) AS longer_win_share
         FROM cmpr GROUP BY rater ORDER BY rater"""))
}

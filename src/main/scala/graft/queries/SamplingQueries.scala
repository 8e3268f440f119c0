package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Dedup, Profile, Sampling, Sketches, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling and robust statistics: stratified, quota, mixture and
  * importance samples, deterministic and leakage-safe splits, exact
  * budget apportionment, sketches (count-min, heavy hitters, distinct),
  * winsorizing, MAD outliers, quantile normalization and Benford.
  */
object SamplingQueries {

  /** Shared oracle fragment: the count-min cell table over user ids
    * (depth 4, 2 hex chars → 256 buckets), as CTEs `vc` (value counts)
    * and `sk` (sketch cells).
    */
  private val cmsSql: String =
    """vc AS (SELECT CAST(user_id AS VARCHAR) AS v, COUNT(*) AS c
         FROM events GROUP BY 1),
       ds AS (SELECT UNNEST(range(0, 4)) AS d),
       sk AS (SELECT d, substr(md5(d || ':' || v), 1, 2) AS bucket,
           CAST(SUM(c) AS BIGINT) AS cnt
         FROM vc CROSS JOIN ds GROUP BY 1, 2)"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_train_split", (s, dir) => {
      // full train/val/test assignment via md5 bucket thresholds — the
      // engine-portable split, so the exact membership of all three
      // splits is oracle-checked (the xxhash64 two-way split remains in
      // Sampling.trainTestSplit, spec-verified for disjointness and
      // stability in SamplingSpec; it has no DuckDB equivalent)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          Sampling.md5SplitLabel(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
           CASE WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split
         FROM documents ORDER BY doc_id"""),
    QueryDef("q_sketch_distinct", (s, dir) => {
      // bounded-error form (r5 verdict item 8): the HLL++ estimate is
      // approximate by design, but the within-5% claim is exact and
      // DuckDB recomputes it — a sketch regression breaks the hash.
      // rsd 0.02 against a 5% audit band: the sketch's one-sigma error
      // is 2%, so the 2.5-sigma claim holds with margin at every SF
      // (the default 5% rsd missed the band in one sf0.01 group).
      Sketches.approxDistinctAudit(
          Tables.load(s, dir, "orders"), "o_orderpriority", "o_custkey",
          rsd = 0.02, relErr = 0.05)
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           COUNT(*) AS n, TRUE AS within_rel_err
         FROM orders GROUP BY 1 ORDER BY 1"""),
    // ---- md5 train/test split (cross-engine verifiable) ----
    QueryDef("q_split_md5", (s, dir) => {
      // unlike q_train_split's xxhash64 bucket (rows-only check), the
      // md5 split is reproducible in any engine — the oracle recomputes
      // the exact membership
      val (train, _) = Sampling.md5TrainTestSplit(
        Tables.load(s, dir, "documents"), "doc_id", 80)
      train.select(col("doc_id")).orderBy(col("doc_id"))
    },
      """SELECT doc_id FROM documents
         WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
         ORDER BY doc_id"""),
    // ---- heavy hitters (relative-frequency filter) ----
    QueryDef("q_heavy_hitters", (s, dir) => {
      // users contributing >1% of an event type's traffic: counts per
      // (type, user), then the type total as a window sum over the
      // aggregated frame — one shuffle, no join-back (the q_tf_idf
      // lesson applied)
      val w = Window.partitionBy(col("event_type"))
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(w))
        .filter(col("n").cast("double") / col("total").cast("double") > 0.01)
        .select(col("event_type"), col("user_id"), col("n"),
          round(col("n").cast("double") / col("total").cast("double"), 6).as("share"))
        .orderBy(col("event_type"), col("user_id"))
    },
      """SELECT event_type, user_id, n,
           ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
         FROM (
           SELECT event_type, user_id, n,
             SUM(n) OVER (PARTITION BY event_type) AS total
           FROM (SELECT event_type, user_id, COUNT(*) AS n
                 FROM events GROUP BY 1, 2))
         WHERE CAST(n AS DOUBLE) / CAST(total AS DOUBLE) > 0.01
         ORDER BY event_type, user_id"""),

    // ---- deterministic stratified sampling ----
    QueryDef("q_sample_stratified", (s, dir) => {
      // per-stratum rates (50% of URGENT orders, 10% of the rest) via
      // md5 membership — a pure filter: no shuffle, no sort, no RNG
      // state, and any engine recomputes the exact sample. This is how
      // a 100 TB table is subsampled: the predicate pushes into the
      // scan and the job never materializes the excluded rows.
      val h = substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 2)
      Tables.load(s, dir, "orders")
        .filter(when(col("o_orderpriority") === "1-URGENT", h < "80")
          .otherwise(h < "1a"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         WHERE CASE WHEN o_orderpriority = '1-URGENT'
           THEN SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
           ELSE SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a' END
         ORDER BY o_orderkey"""),

    // ---- winsorization (feature clipping) ----
    QueryDef("q_winsorize", (s, dir) => {
      // clip a training feature at per-group exact percentiles: the
      // percentile frame is one row per group (tiny at any scale) and
      // broadcasts back onto the fact — the standard two-pass clip.
      // Exact percentile buffers each group's values, fine at bench SF
      // and required for oracle parity; at 100 TB the same plan runs
      // with approx_percentile (mergeable sketch, bounded memory) and
      // everything downstream is unchanged.
      val li = Tables.load(s, dir, "lineitem")
      val pct = li.groupBy(col("l_returnflag").as("rf"))
        .agg(expr("percentile(l_extendedprice, 0.01)").as("p01"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"))
      // l_returnflag rides along so the clip is auditable per group —
      // (orderkey, linenumber) is not unique in this corpus, so the
      // group cannot be re-derived by key join downstream
      li.join(broadcast(pct), col("l_returnflag") === col("rf"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_returnflag"), col("l_extendedprice"),
          round(least(greatest(col("l_extendedprice"), col("p01")), col("p99")), 6)
            .as("clipped"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_returnflag"), col("l_extendedprice"), col("clipped"))
    },
      """WITH pct AS (
           SELECT l_returnflag AS rf,
             quantile_cont(l_extendedprice, 0.01) AS p01,
             quantile_cont(l_extendedprice, 0.99) AS p99
           FROM lineitem GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag, l_extendedprice,
           ROUND(LEAST(GREATEST(l_extendedprice, p01), p99), 6) AS clipped
         FROM lineitem JOIN pct ON l_returnflag = rf
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_returnflag,
           l_extendedprice, clipped"""),
    // ---- source rebalancing (data-mixture downsampling) ----
    QueryDef("q_source_balance", (s, dir) => {
      // cap every source at 10 documents chosen by md5 rank — the
      // deterministic mixture-rebalancing step (downsample
      // over-represented sources before training). The rank filter
      // compiles to WindowGroupLimit: each map task keeps only its
      // per-source top rows BEFORE the shuffle, so the exchange moves
      // ~cap×sources×tasks rows, not the corpus (the q_latest_event
      // lesson). Any engine recomputes the identical sample.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 10 ORDER BY doc_id"""),
    // ---- temperature-based mixture sampling ----
    QueryDef("q_mixture_sample", (s, dir) => {
      // per-source kept counts under alpha=0.5 temperature at 30%
      // target — integers, so the oracle is exact up to the 16-bit
      // threshold grid (pow/ulp drift between engines cannot move a
      // doc's md5 hash, and flips the floor'd threshold only when
      // rate*65536 lands within an ulp of an integer, ~2^-40 per
      // source; see Sampling.temperatureSample)
      graft.ops.Sampling.temperatureSample(
          Tables.load(s, dir, "documents"), "doc_id", "source",
          alpha = 0.5, targetFraction = 0.3)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    },
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
                      SUM(POW(CAST(n AS DOUBLE), 0.5)) AS w_total FROM c),
         r AS (SELECT source,
                 POW(CAST(n AS DOUBLE), 0.5) / w_total * n_total * 0.3
                   / CAST(n AS DOUBLE) AS rate
               FROM c CROSS JOIN t)
         SELECT d.source, COUNT(*) AS n_kept
         FROM documents d JOIN r ON d.source = r.source
         WHERE rate >= 1.0 OR
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
             lpad(lower(to_hex(CAST(FLOOR(rate * 65536) AS BIGINT))), 4, '0')
         GROUP BY 1 ORDER BY 1"""),
    // ---- token-budget mixture plan ----
    QueryDef("q_token_budget", (s, dir) =>
      // integer weights derived from the source name (1 + length % 7)
      // normalize inside the operator: target = budget * w DIV sum(w),
      // all exact integer arithmetic, so the whole plan is engine-
      // independent. Budget is ~half the corpus tokens at every SF via
      // a per-source clamp: small sources land in the multi-epoch
      // regime, big ones downsample.
      Sampling.tokenBudgetPlan(Tables.load(s, dir, "documents"),
          "source", "text",
          weightExpr = lit(1L) + length(col("source")).cast("long") % 7L,
          budgetTokens = 3000000L, maxEpochs = 4.0)
        .orderBy(col("source")),
      """WITH per AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
               AS BIGINT) AS avail_tokens,
             CAST(1 + LENGTH(source) % 7 AS BIGINT) AS weight
           FROM documents GROUP BY source),
         tot AS (SELECT SUM(weight) AS w_total FROM per)
         SELECT source, n_docs, avail_tokens, weight,
           CAST(3000000 * weight // w_total AS BIGINT) AS target_tokens,
           ROUND(LEAST(1.0,
             CAST(3000000 * weight // w_total AS DOUBLE) /
             CAST(avail_tokens AS DOUBLE)), 6) AS sample_rate,
           ROUND(LEAST(4.0,
             CAST(3000000 * weight // w_total AS DOUBLE) /
             CAST(avail_tokens AS DOUBLE)), 6) AS epochs,
           GREATEST(CAST(0 AS BIGINT),
             CAST(3000000 * weight // w_total AS BIGINT) -
             CAST(FLOOR(avail_tokens * 4.0) AS BIGINT)) AS deficit_tokens
         FROM per CROSS JOIN tot ORDER BY source"""),
    // ---- DSIR-flavored hashed-n-gram importance scoring ----
    QueryDef("q_importance", (s, dir) =>
      // target distribution = the 'src0' slice; every doc scored by
      // integer-quantized target/background bucket ratios — exact
      // integer sums, so the full frame is hash-comparable
      Sampling.importanceWeights(Tables.load(s, dir, "documents"),
          "doc_id", "text", isTarget = col("source") === "src0")
        .orderBy(col("id")),
      """WITH tok AS (
           SELECT doc_id AS id, (source = 'src0') AS is_t,
             UNNEST(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0)) AS w
           FROM documents),
         bk AS (
           SELECT id, is_t,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 256 AS b
           FROM tok),
         bs AS (
           SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tcnt,
             COUNT(*) AS bcnt
           FROM bk GROUP BY b),
         tot AS (SELECT SUM(tcnt) AS ttot, SUM(bcnt) AS btot FROM bs),
         r AS (
           SELECT b, CAST(FLOOR(
             (CAST(tcnt + 1 AS DOUBLE) / (CAST(ttot AS DOUBLE) + 256.0)) /
             (CAST(bcnt + 1 AS DOUBLE) / (CAST(btot AS DOUBLE) + 256.0)) *
             1000.0) AS BIGINT) AS r
           FROM bs CROSS JOIN tot),
         db AS (SELECT id, b, COUNT(*) AS c FROM bk GROUP BY id, b),
         s AS (
           SELECT id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * r) AS BIGINT) AS score
           FROM db JOIN r USING (b) GROUP BY id)
         SELECT d.doc_id AS id,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(score, 0) AS score
         FROM documents d LEFT JOIN s ON d.doc_id = s.id
         ORDER BY id"""),
    // ---- per-source unigram KL drift vs the corpus blend ----
    QueryDef("q_source_kl", (s, dir) =>
      TextAnalysis.sourceDivergence(Tables.load(s, dir, "documents"),
          "source", "text")
        .orderBy(col("source")),
      """WITH tok AS (
           SELECT source, UNNEST(string_split_regex(LOWER(TRIM(text)),
             '\s+')) AS w
           FROM documents),
         cnt AS (
           SELECT source, w, COUNT(*) AS c FROM tok
           WHERE LENGTH(w) > 0 GROUP BY source, w),
         g AS (SELECT w, SUM(c) AS gc FROM cnt GROUP BY w),
         st AS (SELECT source, SUM(c) AS n_src FROM cnt GROUP BY source),
         gt AS (SELECT SUM(gc) AS n_all FROM g)
         SELECT cnt.source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_vocab,
           ROUND(SUM((CAST(c AS DOUBLE) / n_src) *
             LN((CAST(c AS DOUBLE) / n_src) /
                (CAST(gc AS DOUBLE) / n_all))), 6) + 0.0 AS kl
         FROM cnt
         JOIN g USING (w) JOIN st USING (source) CROSS JOIN gt
         GROUP BY cnt.source ORDER BY cnt.source"""),

    // ---- curriculum difficulty buckets (length-based, per source) ----
    QueryDef("q_curriculum", (s, dir) =>
      Sampling.curriculumBuckets(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", buckets = 4)
        .orderBy(col("id")),
      """SELECT doc_id AS id, source,
           CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+'))
             AS BIGINT) AS n_tokens,
           CAST(NTILE(4) OVER (PARTITION BY source
             ORDER BY LEN(string_split_regex(LOWER(TRIM(text)), '\s+')),
               doc_id) AS BIGINT) AS bucket
         FROM documents ORDER BY id"""),
    // ---- leakage-safe split ----
    QueryDef("q_split_leakage", (s, dir) => {
      // planted exact duplicates (same text, new id) make the property
      // non-vacuous: a per-doc split would strand ~2·0.8·0.2 of the
      // pairs across the boundary; here both members provably carry
      // the representative's label
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"))
      val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
      val copies = docs.filter(col("id") % 7 === 0).crossJoin(off)
        .select((col("id") + col("_off")).as("id"), col("text"))
      Dedup.leakageSafeSplit(docs.unionByName(copies), "id", "text", 80)
        .orderBy(col("id"))
    },
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         c AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o
           WHERE doc_id % 7 = 0),
         f AS (SELECT id,
             md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS fp
           FROM c),
         r AS (SELECT fp, MIN(id) AS rep_id FROM f GROUP BY fp)
         SELECT id, rep_id,
           CASE WHEN SUBSTR(md5(CAST(rep_id AS VARCHAR)), 1, 2) < 'cc'
             THEN 'train' ELSE 'test' END AS split
         FROM f JOIN r USING (fp) ORDER BY id"""),

    // ---- exact-quota per-stratum sample ----
    QueryDef("q_sample_quota", (s, dir) =>
      Sampling.quotaSample(Tables.load(s, dir, "documents"),
          "doc_id", "source", quota = 12)
        .select(col("doc_id"), col("source"), col("_quota_rk").as("rk"))
        .orderBy(col("source"), col("rk")),
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source, ROW_NUMBER() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents)
         WHERE rk <= 12 ORDER BY source, rk"""),
    // ---- per-source n-gram diversity ----
    QueryDef("q_source_diversity", (s, dir) =>
      TextAnalysis.sourceDiversity(Tables.load(s, dir, "documents"),
          "doc_id", "source", "text")
        .orderBy(col("source")),
      """WITH t AS (SELECT doc_id, source,
             list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
               x -> LENGTH(x) > 0) AS tk
           FROM documents),
         g AS (SELECT doc_id, source,
             UNNEST(CASE WHEN LEN(tk) = 0 THEN []
               ELSE list_transform(range(1, GREATEST(LEN(tk) - 3, 0) + 2),
                 i -> array_to_string(tk[i:i+2], ' ')) END) AS gram
           FROM t)
         SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS diversity
         FROM g GROUP BY source ORDER BY source"""),
    // ---- count-min sketch table ----
    QueryDef("q_countmin", (s, dir) =>
      Sketches.countMin(Tables.load(s, dir, "events"), "user_id",
          depth = 4, widthHexChars = 2)
        .orderBy(col("d"), col("bucket")),
      s"""WITH $cmsSql
         SELECT CAST(d AS INT) AS d, bucket, cnt FROM sk
         ORDER BY d, bucket"""),

    // ---- count-min point-estimate audit vs ground truth ----
    QueryDef("q_countmin_audit", (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val sketch = Sketches.countMin(ev, "user_id", depth = 4, widthHexChars = 2)
      Sketches.countMinAudit(sketch, ev, "user_id",
          topN = 20, depth = 4, widthHexChars = 2)
        .orderBy(col("true_cnt").desc, col("v"))
    },
      s"""WITH $cmsSql,
         top AS (SELECT v, CAST(c AS BIGINT) AS true_cnt FROM vc
           ORDER BY c DESC, v LIMIT 20),
         probe AS (SELECT t.v, t.true_cnt, ds.d,
             substr(md5(ds.d || ':' || t.v), 1, 2) AS bucket
           FROM top t CROSS JOIN ds)
         SELECT p.v, p.true_cnt, MIN(sk.cnt) AS est_cnt,
           MIN(sk.cnt) - p.true_cnt AS overestimate
         FROM probe p JOIN sk ON p.d = sk.d AND p.bucket = sk.bucket
         GROUP BY p.v, p.true_cnt
         ORDER BY p.true_cnt DESC, p.v"""),

    /* Exact apportionment and robust statistics — the
     * largest-remainder token-budget allocation (sums to the budget
     * EXACTLY) and MAD-based outlier detection (the heavy-tail-safe
     * companion to q_anomaly_zscore). Both pure integer/exact-percentile
     * arithmetic, DuckDB-checked row for row.
     */
    // ---- largest-remainder exact budget apportionment ----
    QueryDef("q_budget_exact", (s, dir) =>
      Sampling.tokenBudgetExact(Tables.load(s, dir, "documents"),
          "source", "text",
          weightExpr = lit(1L) + length(col("source")).cast("long") % 7L,
          budgetTokens = 2999999L)
        .orderBy(col("source")),
      """WITH per AS (SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
               AS BIGINT) AS avail_tokens,
             CAST(1 + LENGTH(source) % 7 AS BIGINT) AS weight
           FROM documents GROUP BY source),
         t AS (SELECT SUM(weight) AS wt FROM per),
         b AS (SELECT per.*, 2999999 * weight // wt AS base_tokens,
             2999999 * weight % wt AS remainder
           FROM per CROSS JOIN t),
         r AS (SELECT b.*,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rk,
             2999999 - SUM(base_tokens) OVER () AS short
           FROM b)
         SELECT source, n_docs, avail_tokens, weight,
           CAST(base_tokens AS BIGINT) AS base_tokens,
           CAST(remainder AS BIGINT) AS remainder,
           CAST(CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base_tokens + CASE WHEN rk <= short THEN 1 ELSE 0 END
             AS BIGINT) AS target_tokens
         FROM r ORDER BY source"""),

    // ---- MAD robust outliers over event values ----
    QueryDef("q_mad_outliers", (s, dir) =>
      Profile.madOutliers(Tables.load(s, dir, "events"),
          col("event_type"), round(col("value") * 100).cast("long"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type")),
      """WITH v AS (SELECT event_type AS g,
             CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
         med AS (SELECT g, quantile_cont(x, 0.5) AS median_cents
           FROM v GROUP BY 1),
         dev AS (SELECT v.g, v.x, m.median_cents,
             ABS(CAST(v.x AS DOUBLE) - m.median_cents) AS ad
           FROM v JOIN med m ON v.g = m.g),
         mad AS (SELECT g, quantile_cont(ad, 0.5) AS mad_cents
           FROM dev GROUP BY 1)
         SELECT d.g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
           d.median_cents, mad.mad_cents,
           CAST(SUM(CASE WHEN d.ad > CAST(4.4478 AS DOUBLE) * mad.mad_cents
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(CAST(SUM(CASE WHEN d.ad > CAST(4.4478 AS DOUBLE) *
               mad.mad_cents THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS outlier_rate
         FROM dev d JOIN mad ON d.g = mad.g
         GROUP BY 1, 3, 4 ORDER BY 1"""),
    // ---- Benford first-digit audit of order totals ----
    QueryDef("q_benford", (s, dir) =>
      Profile.benfordAudit(Tables.load(s, dir, "orders"),
          col("o_totalprice"))
        .orderBy(col("digit")),
      """WITH v AS (SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS digit FROM orders),
         obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
           FROM v WHERE digit BETWEEN '1' AND '9' GROUP BY 1),
         p AS (SELECT * FROM (VALUES
             ('1', CAST(0.3010299957 AS DOUBLE)),
             ('2', CAST(0.1760912591 AS DOUBLE)),
             ('3', CAST(0.1249387366 AS DOUBLE)),
             ('4', CAST(0.0969100130 AS DOUBLE)),
             ('5', CAST(0.0791812460 AS DOUBLE)),
             ('6', CAST(0.0669467896 AS DOUBLE)),
             ('7', CAST(0.0579919470 AS DOUBLE)),
             ('8', CAST(0.0511525224 AS DOUBLE)),
             ('9', CAST(0.0457574906 AS DOUBLE))) AS t(digit, p)),
         e AS (SELECT p.digit, COALESCE(obs.n_obs, 0) AS n_obs, p.p
           FROM p LEFT JOIN obs ON p.digit = obs.digit),
         t2 AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nt FROM e),
         e3 AS (SELECT e.digit, CAST(e.n_obs AS BIGINT) AS n_obs,
             CAST(t2.nt AS DOUBLE) * e.p AS expected,
             (CAST(e.n_obs AS DOUBLE) - CAST(t2.nt AS DOUBLE) * e.p) *
               (CAST(e.n_obs AS DOUBLE) - CAST(t2.nt AS DOUBLE) * e.p) /
               (CAST(t2.nt AS DOUBLE) * e.p) AS contrib
           FROM e CROSS JOIN t2),
         chi AS (SELECT ROUND(list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE), list(contrib ORDER BY digit)),
             (a, b) -> a + b), 6) AS chi2 FROM e3)
         SELECT e3.digit, e3.n_obs, ROUND(e3.expected, 6) AS expected,
           ROUND(e3.contrib, 6) AS contrib, chi.chi2
         FROM e3 CROSS JOIN chi ORDER BY e3.digit"""),

    /* Feature normalization and seasonality — the
     * quantile-rank lookup table (the rank transform for heavy-tailed
     * features) and the day-of-week seasonal index. Exact-integer
     * ratios throughout, DuckDB-checked.
     */
    // ---- percent-rank lookup table per event type ----
    QueryDef("q_quantile_norm", (s, dir) =>
      Profile.quantileRank(Tables.load(s, dir, "events"),
          col("event_type"), round(col("value") * 100).cast("long"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"), col("value_cents")),
      """WITH v AS (SELECT event_type AS g,
             CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
         c AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n
           FROM v GROUP BY 1, 2),
         t AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n_total
           FROM c GROUP BY 1),
         w AS (SELECT g, v, n,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_below
           FROM c)
         SELECT w.g AS event_type, w.v AS value_cents, w.n,
           CASE WHEN t.n_total > 1
             THEN ROUND(CAST(w.n_below AS DOUBLE) /
               CAST(t.n_total - 1 AS DOUBLE), 6) END AS pct_rank
         FROM w JOIN t ON w.g = t.g
         ORDER BY event_type, value_cents"""),
    // ---- winsorized per-type value statistics ----
    QueryDef("q_winsorized", (s, dir) =>
      Profile.winsorizedStats(Tables.load(s, dir, "events"),
          "event_type", "value", tailFrac = 0.02)
        .orderBy(col("grp")),
      """WITH v AS (
           SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
           FROM events WHERE value IS NOT NULL),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM v),
         kk AS (SELECT GREATEST(CAST(CEIL(n_all * 0.02) AS BIGINT), 1) AS k,
             n_all FROM nn),
         r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM v),
         b AS (
           SELECT MAX(CASE WHEN rn = k THEN c END) AS lo,
             MAX(CASE WHEN rn = n_all + 1 - k THEN c END) AS hi
           FROM r CROSS JOIN kk)
         SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_lo,
           CAST(SUM(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_hi,
           CAST(SUM(GREATEST(LEAST(c, hi), lo)) AS BIGINT)
             AS sum_cents_winsor,
           MIN(lo) AS lo_cents, MIN(hi) AS hi_cents
         FROM v CROSS JOIN b GROUP BY 1 ORDER BY 1"""),
    // ---- approx-percentile MAD with a rank-space audit (item 7) ----
    QueryDef("q_mad_approx", (s, dir) =>
      Profile.madOutliersApprox(Tables.load(s, dir, "events"),
          col("event_type"), round(col("value") * 100).cast("long"))
        .withColumnRenamed("g", "event_type")
        // the sketch's VALUE can vary with partition merge order — only
        // the exact columns and the theorem-band booleans are hashable
        .select(col("event_type"), col("n"), col("sum_cents"),
          col("med_rank_ok"), col("mad_rank_ok"))
        .orderBy(col("event_type")),
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           TRUE AS med_rank_ok, TRUE AS mad_rank_ok
         FROM events GROUP BY 1 ORDER BY 1"""))
}

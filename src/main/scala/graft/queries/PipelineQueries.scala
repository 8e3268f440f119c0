package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Classify, Dedup, Packing, Pipelines, Profile, Sampling, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline queries: the composed corpus-prep pipeline,
  * curation and catalog runs, quality rule sets and their audits,
  * decontamination, sequence packing, classifier evaluation
  * (calibration, AUC, kappa, confusion, learning curves) and ingest
  * expectations.
  */
object PipelineQueries {

  /** Planted quality junk for q_quality_audit and q_pipeline_curation
    * (ONE definition — the two oracles must stay byte-identical on
    * these texts): every 50th doc spawns a too-short, a punctuation,
    * and a repetition variant carrying the original's source. `docs`
    * must have (id, text, source); `off` = max(id) + 1.
    */
  private def plantedJunk(docs: DataFrame, off: Long): DataFrame = {
    val seed = docs.filter(col("id") % 50 === 0)
    seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source"))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"), col("source")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        rtrim(repeat(lit("spark "), 30)).as("text"), col("source")))
  }

  /** The q_quality_audit planted-junk corpus: reused so the quality
    * rates these queries report are non-vacuous.
    */
  private def plantedQualityCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = broadcast(docs.agg((max(col("id")) + 1L).as("_off")))
    def plant(mul: Int, text: Column) =
      docs.filter(col("id") % 50 === 0).crossJoin(off)
        .select((col("id") + lit(mul) * col("_off")).as("id"),
          text.as("text"), col("source"))
    docs
      .unionByName(plant(1, lit("tiny doc")))
      .unionByName(plant(2, lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++")))
      .unionByName(plant(3, rtrim(expr("repeat('spark ', 30)"))))
  }

  private[queries] val qualityRulesSql: String =
    """m AS (
         SELECT id, source,
           LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
           CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
             GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
           list_filter(list_transform(
             range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
             i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
             x -> LENGTH(x) > 0) AS s
         FROM corpus),
       r AS (
         SELECT id, source,
           NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1 OR
             (CASE WHEN LEN(s) = 0 THEN 0.0
               ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
               > 0.2) AS keep
         FROM m)"""

  /** Planted junk for the filter-evaluation rows: every 23rd doc (23
    * is coprime to the 20-source cycle, so every source gets junk)
    * spawns a too-short, a punctuation, and a BORDERLINE variant
    * carrying the original's source. The borderline text scores
    * quality 0.6444 — inside the organic distribution (which spans
    * 0.50–0.89) — so the AUC is strictly < 1 and the ranking is a real
    * discrimination test, not a planted-ceiling tautology. Ground-truth
    * labels (organic = clean) are independent of the score under
    * evaluation.
    */
  private val borderlineText =
    "the item item item item item item item item item item item"

  private def withJunkLabels(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    val seed = docs.filter(col("id") % 23 === 0)
    docs.withColumn("clean", lit(true))
      .unionByName(seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"),
        col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        lit(borderlineText).as("text"), col("source"), lit(false).as("clean")))
  }

  /** The q_quality_audit planted corpus (every 50th doc → too-short,
    * punctuation, repetition variants) — reused so the kappa row has
    * non-vacuous disagreement cells: the repetition docs are kept by
    * the three-rule policy but dropped by the four-rule one.
    */
  private def kappaCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    val seed = docs.filter(col("id") % 50 === 0)
    docs
      .unionByName(seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source")))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"),
        col("source")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        rtrim(repeat(lit("spark "), 30)).as("text"), col("source")))
  }

  /** Shared oracle fragment: per-doc quality score (the
    * q_text_lang_quality expression tree, rounded to 6 dp) over a
    * corpus CTE named `corpus(id, text, source, y)`.
    */
  private val qualitySql: String =
    """m AS (SELECT source, y,
           string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
           CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
             GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct
         FROM corpus),
       sc AS (SELECT source, y,
           ROUND((LEAST(CAST(LEN(toks) AS DOUBLE) / 20.0, 1.0) +
             (1.0 - LEAST(punct * 4.0, 1.0)) +
             LEAST(CAST(LEN(list_filter(
               ['the','a','of','and','to','in','is','that','it','for'],
               w -> list_contains(toks, w))) AS DOUBLE) / 3.0, 1.0)) / 3.0, 6) AS s
         FROM m)"""

  /** Planted symbol junk so the Gopher symbol/alpha rules are
    * non-vacuous on this corpus (organic docs are pure lowercase
    * words): every 40th doc spawns a '#'-riddled variant.
    */
  private def gopherCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    docs.unionByName(docs.filter(col("id") % 40 === 0)
      .select((col("id") + off).as("id"),
        lit("## fast ## ## table ## ## ## row ##").as("text"),
        col("source")))
  }

  /** The q_score_auc junk-labeling technique on its own modulus: every
    * 29th doc spawns three labeled-junk variants (too-short, pure
    * punctuation, borderline repetition) so the calibration bins hold
    * both classes at several score levels.
    */
  private def calibCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text"), col("source"))
    val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
    val seed = docs.filter(col("id") % 29 === 0)
    docs.withColumn("clean", lit(true))
      .unionByName(seed.select((col("id") + off).as("id"),
        lit("tiny doc").as("text"), col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 2 * off).as("id"),
        lit("!!! ??? *** %%% ((( ))) ;;; ::: === +++").as("text"),
        col("source"), lit(false).as("clean")))
      .unionByName(seed.select((col("id") + 3 * off).as("id"),
        lit("the item item item item item item item item item item item")
          .as("text"),
        col("source"), lit(false).as("clean")))
  }

  /** Orders plus a planted bad batch (every 997th order re-inserted
    * with its key DUPLICATED, a negative total, status 'X', and a NULL
    * custkey) so every expectation rule has real violations to count.
    */
  private def corruptOrders(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.unionByName(o.filter(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit("X").as("o_orderstatus"),
        (-col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority")))
  }

  /** One curve point: centroids from hex < '<t>', scored on the shared
    * fixed test CTEs.
    */
  private def pointSql(label: String, t: String): String = {
    val i = label
    s"""cen_$i AS (SELECT source AS s, w, CAST(SUM(c) AS BIGINT) AS sc
         FROM tw WHERE hex < '$t' GROUP BY 1, 2),
       sn_$i AS (SELECT s, CAST(SUM(sc * sc) AS BIGINT) AS n2
         FROM cen_$i GROUP BY 1),
       dot_$i AS (SELECT t2.id, c2.s, CAST(SUM(t2.c * c2.sc) AS BIGINT) AS dp
         FROM test t2 JOIN cen_$i c2 ON t2.w = c2.w GROUP BY 1, 2),
       sim_$i AS (SELECT dot_$i.id, dot_$i.s,
           CAST(dot_$i.dp AS DOUBLE) /
             (sqrt(CAST(dn.d2 AS DOUBLE)) * sqrt(CAST(sn_$i.n2 AS DOUBLE)))
             AS cs
         FROM dot_$i JOIN dn ON dot_$i.id = dn.id
                     JOIN sn_$i ON dot_$i.s = sn_$i.s),
       pred_$i AS (SELECT id, s AS pred_source FROM (
           SELECT id, s,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY cs DESC, s) AS rn
           FROM sim_$i) WHERE rn = 1),
       acc_$i AS (SELECT '$label' AS train_frac,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN p.pred_source IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_predicted,
           CAST(SUM(CASE WHEN p.pred_source IS NOT DISTINCT FROM lab.source
             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         FROM lab LEFT JOIN pred_$i p ON lab.id = p.id)"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_pipeline_corpus", (s, dir) => {
      // planted end-to-end oracle: three planted families, each dying
      // at a different stage, analytically —
      //  (1) exact copies of every 10th doc at id+off: same canonical
      //      fingerprint, larger id → die at the exact-dedup stage;
      //  (2) a periodic "repetitious" pair per 20th doc ("p{id} q{id}"
      //      repeated 8× at 2·off+id and 9× at 3·off+id): different
      //      fingerprints but IDENTICAL distinct 3-gram shingle sets,
      //      so the minhash signatures are equal (every band matches —
      //      candidate with certainty) and the true Jaccard is exactly
      //      1.0 → the larger id dies at the near-dedup stage;
      //  (3) a punctuation-junk doc per 20th doc ("!!!!!!!! z{id}"):
      //      quality ≈ 0.03 → dies at the quality gate.
      // With verification = exact Jaccard at θ=0.9, the organic drop
      // set is the exact ≥0.9 distinct-3-gram-Jaccard pair set over
      // the survivors — DuckDB computes the identical set (an organic
      // qualifying pair escapes candidacy only if all 16 bands miss:
      // P ≤ (1−0.9⁴)¹⁶ ≈ 4e-8 per pair; fixed seeds make the outcome
      // deterministic, and it is verified at all three SFs).
      val docs = Tables.loadSpread(s, dir, "documents", "doc_id")
        .select(col("doc_id"), col("text"))
      // off comes from the PLAIN scan (r17): the max aggregate needs no
      // parallel per-row work, so paying the loadSpread exchange (the
      // full text payload shuffled) just to compute one max was waste
      val off = Tables.load(s, dir, "documents")
        .agg(max(col("doc_id"))).head().getAs[Number](0).longValue + 1L
      val pat = concat(lit("p"), col("doc_id").cast("string"),
        lit(" q"), col("doc_id").cast("string"), lit(" "))
      val planted = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + off).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2 * off).as("doc_id"),
            rtrim(repeat(pat, 8)).as("text")))
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 3 * off).as("doc_id"),
            rtrim(repeat(pat, 9)).as("text")))
        .unionByName(docs.filter(col("doc_id") % 20 === 10)
          .select((col("doc_id") + 4 * off).as("doc_id"),
            concat(lit("!!!!!!!! z"), col("doc_id").cast("string")).as("text")))
      Pipelines.prepareCorpus(docs.unionByName(planted), "doc_id", "text",
          Pipelines.CorpusConfig(minQuality = 0.3, nearDupThreshold = 0.9))
        .select(col("doc_id"), col("lang_pred"), round(col("quality"), 4).as("quality"),
          col("n_tokens"), col("n_bpeish_tokens"))
        .orderBy(col("doc_id"))
    },
      // full pipeline mirror: planting → quality/lang expressions (the
      // q_text_lang_quality trees) → fingerprint keep-min → exact
      // distinct-3-gram Jaccard ≥ 0.9 drop-larger (the q_dedup_ngram
      // machinery, uncapped) → stats. Engine shingles are 64-bit hashes;
      // parity rests on the same injectivity argument as q_dedup_ngram.
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + off, text FROM documents CROSS JOIN o WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2 * off,
             rtrim(repeat('p' || CAST(doc_id AS VARCHAR) || ' q' || CAST(doc_id AS VARCHAR) || ' ', 8))
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 3 * off,
             rtrim(repeat('p' || CAST(doc_id AS VARCHAR) || ' q' || CAST(doc_id AS VARCHAR) || ' ', 9))
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 0
           UNION ALL
           SELECT doc_id + 4 * off, '!!!!!!!! z' || CAST(doc_id AS VARCHAR)
           FROM documents CROSS JOIN o WHERE doc_id % 20 = 10),
         d AS (SELECT doc_id, text,
                 string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
               FROM corpus),
         m AS (
           SELECT doc_id, text, toks,
             LEN(list_filter(['the','a','of','and','to','in','is','that','it','for'],
               w -> list_contains(toks, w))) AS en_n,
             LEN(list_filter(['der','die','das','und','ist','nicht','ein','eine','zu','mit'],
               w -> list_contains(toks, w))) AS de_n,
             LEN(list_filter(['le','la','les','et','est','une','un','pas','pour','dans'],
               w -> list_contains(toks, w))) AS fr_n,
             LEN(list_filter(['el','los','las','y','es','una','uno','no','por','para'],
               w -> list_contains(toks, w))) AS es_n,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct
           FROM d),
         g AS (
           SELECT doc_id, text, toks,
             (LEAST(CAST(LEN(toks) AS DOUBLE) / 20.0, 1.0) +
              (1.0 - LEAST(punct * 4.0, 1.0)) +
              LEAST(CAST(en_n AS DOUBLE) / 3.0, 1.0)) / 3.0 AS quality,
             CASE WHEN de_n = GREATEST(de_n, en_n, es_n, fr_n) AND de_n > 0 THEN 'de'
                  WHEN en_n = GREATEST(de_n, en_n, es_n, fr_n) AND en_n > 0 THEN 'en'
                  WHEN es_n = GREATEST(de_n, en_n, es_n, fr_n) AND es_n > 0 THEN 'es'
                  WHEN fr_n = GREATEST(de_n, en_n, es_n, fr_n) AND fr_n > 0 THEN 'fr'
                  ELSE 'und' END AS lang_pred
           FROM m),
         gated AS (SELECT * FROM g WHERE quality >= 0.3),
         keep AS (
           SELECT *, MIN(doc_id) OVER (PARTITION BY
             md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))))) AS keep_id
           FROM gated),
         surv AS (SELECT * FROM keep WHERE doc_id = keep_id),
         sh AS (
           SELECT doc_id, UNNEST(list_distinct(list_transform(
             range(1, GREATEST(LEN(toks) - 3, 0) + 2),
             i -> array_to_string(toks[i:i+2], ' ')))) AS s
           FROM surv),
         sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         pairs AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         drops AS (
           SELECT DISTINCT ib AS doc_id
           FROM pairs JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
           WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.9)
         SELECT doc_id, lang_pred, ROUND(quality, 4) AS quality,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT)
             AS n_bpeish_tokens
         FROM surv
         WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         ORDER BY doc_id"""),
    // ---- per-label embedding centroids ----
    QueryDef("q_label_centroid", (s, dir) => {
      // class prototypes: explode each vector with its position, average
      // per (label, dim) — one map-side-combinable aggregation whose
      // output is labels × dims rows regardless of corpus size. The
      // same shape seeds IVF cells and powers nearest-centroid
      // classification.
      Tables.load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("col").cast("double")), 6).as("c"))
        .orderBy(col("label"), col("pos"))
    },
      """SELECT label, i - 1 AS pos,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS c
         FROM (SELECT label, embedding,
                 UNNEST(generate_series(1, LEN(embedding))) AS i
               FROM embeddings)
         GROUP BY 1, 2 ORDER BY label, pos"""),

    // ---- chi-squared feature selection (token ↔ language) ----
    QueryDef("q_chi2_features", (s, dir) => {
      // which tokens are most associated with English documents: the
      // 2×2 contingency χ² from four counts, all derived from ONE
      // distinct (doc, token) aggregation plus a broadcast one-row
      // totals frame. Arithmetic runs in doubles with the identical
      // expression tree on both engines; tokens present in every doc
      // are excluded exactly (n1 < N on integers) before the division.
      val docs = Tables.load(s, dir, "documents")
      val dt = docs.select(col("lang"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
      val tok = dt.groupBy(col("token"))
        .agg(count(lit(1)).as("n1"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("e1"))
      val tot = docs.agg(count(lit(1)).as("nn"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ee"))
      val d = (c: Column) => c.cast("double")
      val diff = d(col("e1")) * d(col("nn") - col("ee") - (col("n1") - col("e1"))) -
        d(col("n1") - col("e1")) * d(col("ee") - col("e1"))
      tok.crossJoin(tot)
        .filter(col("n1") < col("nn") && col("n1") >= 5)
        .select(col("token"), col("n1"), col("e1"),
          round(d(col("nn")) * diff * diff /
            (d(col("n1")) * d(col("nn") - col("n1")) * d(col("ee")) * d(col("nn") - col("ee"))), 4)
            .as("chi2"))
        .orderBy(col("chi2").desc, col("token"))
        .limit(30)
    },
      """WITH dt AS (
           SELECT lang, UNNEST(list_distinct(
             string_split_regex(LOWER(TRIM(text)), '\s+'))) AS token
           FROM documents),
         tok AS (
           SELECT token, COUNT(*) AS n1,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS e1
           FROM dt GROUP BY 1),
         tot AS (
           SELECT COUNT(*) AS nn,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ee
           FROM documents)
         SELECT token, n1, e1,
           ROUND(CAST(nn AS DOUBLE) *
             (CAST(e1 AS DOUBLE) * CAST(nn - ee - (n1 - e1) AS DOUBLE) -
              CAST(n1 - e1 AS DOUBLE) * CAST(ee - e1 AS DOUBLE)) *
             (CAST(e1 AS DOUBLE) * CAST(nn - ee - (n1 - e1) AS DOUBLE) -
              CAST(n1 - e1 AS DOUBLE) * CAST(ee - e1 AS DOUBLE)) /
             (CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE) *
              CAST(ee AS DOUBLE) * CAST(nn - ee AS DOUBLE)), 4) AS chi2
         FROM tok CROSS JOIN tot
         WHERE n1 < nn AND n1 >= 5
         ORDER BY chi2 DESC, token LIMIT 30"""),
    // ---- train→eval contamination screen (decontamination) ----
    QueryDef("q_decontaminate", (s, dir) => {
      // benchmark-leakage check: eval docs (every 10th) screened for
      // 5-gram overlap with the train corpus — the decontamination
      // pass run before an eval set is trusted. Shingle-hash equi-join
      // (the incremental-dedup shape); counts equal string-n-gram
      // counts because the 64-bit shingle hash is injective over
      // space-joined token n-grams.
      val docs = Tables.load(s, dir, "documents")
      Dedup.crossCorpusContamination(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", n = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id, UNNEST(list_filter(list_distinct(list_transform(
             range(1, GREATEST(LEN(t) - 5, 0) + 2),
             i -> array_to_string(t[i:i+4], ' '))),
             x -> LENGTH(x) > 0)) AS s
           FROM toks),
         tr AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 0),
         ev AS (SELECT * FROM sh WHERE doc_id % 10 = 0)
         SELECT doc_id, COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN s IN (SELECT s FROM tr) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           SUM(CASE WHEN s IN (SELECT s FROM tr) THEN 1 ELSE 0 END) > 0 AS contaminated
         FROM ev GROUP BY 1 ORDER BY 1"""),

    // ---- sequence packing (concat-then-chunk batching) ----
    QueryDef("q_pack_sequences", (s, dir) => {
      // where each document's first token lands after the corpus is
      // concatenated in doc_id order and cut into 512-token sequences.
      // Two-level distributed prefix scan — no global single-task
      // window (see ops.Packing).
      Packing.packSequences(Tables.load(s, dir, "documents"),
          "doc_id", "text", seqTokens = 512, blockSize = 1000)
        .orderBy(col("doc_id"))
    },
      """WITH d AS (
           SELECT doc_id,
             CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM d)
         SELECT doc_id, n_tokens,
           CAST(FLOOR(off / 512) AS BIGINT) AS seq_id,
           CAST(off % 512 AS BIGINT) AS seq_offset
         FROM o ORDER BY doc_id"""),
    // ---- curation pipeline: quality filter -> temperature sample ----
    QueryDef("q_pipeline_curation", (s, dir) => {
      // end-to-end composition of two round-7 stages, both exactly
      // deterministic, so unlike q_pipeline_corpus (whose near-dedup
      // stage needs a planted oracle) the WHOLE pipeline is
      // DuckDB-recomputable: plant the q_quality_audit junk (the
      // organic corpus is uniformly clean), drop by reason, then
      // temperature-sample the survivors with rates computed from the
      // POST-FILTER source counts. Integer outputs only.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"), col("source"))
      val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      // deliberately NOT persisted: the per-row quality expressions
      // are linear since ngramHashesLinear (~2.5 s per pass over the
      // 10× corpus), so re-evaluating them per consumer beats paying
      // an InMemoryRelation materialization of a lambda-heavy
      // projection
      val audited = TextAnalysis.qualityFilterReasons(
          docs.unionByName(plantedJunk(docs, off)), "text")
        .select(col("id"), col("source"), col("keep"))
      val kept = audited.filter(col("keep"))
        .select(col("id"), col("source"))
      val sampled = graft.ops.Sampling.temperatureSample(kept, "id", "source",
        alpha = 0.7, targetFraction = 0.5)
      audited.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("keep").cast("long")).as("n_kept"))
        .join(sampled.groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled")), Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_kept"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("source"))
    },
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30)), source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         m AS (
           SELECT id, source,
             LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
             list_filter(list_transform(
               range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
               x -> LENGTH(x) > 0) AS s
           FROM corpus),
         r AS (
           SELECT id, source,
             NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1 OR
               (CASE WHEN LEN(s) = 0 THEN 0.0
                 ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
                 > 0.2) AS keep
           FROM m),
         kept AS (SELECT id, source FROM r WHERE keep),
         kc AS (SELECT source, COUNT(*) AS n FROM kept GROUP BY 1),
         kt AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total,
                       SUM(POW(CAST(n AS DOUBLE), 0.7)) AS w_total FROM kc),
         rates AS (SELECT source,
             POW(CAST(n AS DOUBLE), 0.7) / w_total * n_total * 0.5
               / CAST(n AS DOUBLE) AS rate
           FROM kc CROSS JOIN kt),
         sampled AS (
           SELECT k.source, COUNT(*) AS n_sampled
           FROM kept k JOIN rates USING (source)
           WHERE rate >= 1.0 OR
             substr(md5(CAST(id AS VARCHAR)), 1, 4) <
               lpad(lower(to_hex(CAST(FLOOR(rate * 65536) AS BIGINT))), 4, '0')
           GROUP BY 1)
         SELECT r.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COALESCE(ANY_VALUE(n_sampled), 0) AS BIGINT) AS n_sampled
         FROM r LEFT JOIN sampled ON r.source = sampled.source
         GROUP BY 1 ORDER BY 1"""),

    // ---- quality-filter audit with reason codes ----
    QueryDef("q_quality_audit", (s, dir) => {
      // the synthetic corpus is uniformly clean (no doc trips any
      // rule), so every 50th doc spawns three planted junk variants —
      // too-short, punctuation junk, repetition junk — carrying the
      // original's source; the per-source audit must attribute each
      // planted doc to exactly its reason and keep all organic docs.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"), col("text"), col("source"))
      val off = docs.agg(max(col("id"))).head().getAs[Number](0).longValue + 1L
      TextAnalysis.qualityFilterReasons(
          docs.unionByName(plantedJunk(docs, off)), "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("too_short").cast("long")).as("n_too_short"),
          sum(col("too_long").cast("long")).as("n_too_long"),
          sum(col("high_punct").cast("long")).as("n_high_punct"),
          sum(col("repetitious").cast("long")).as("n_repetitious"),
          sum(col("keep").cast("long")).as("n_kept"))
        .orderBy(col("source"))
    },
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30)), source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         m AS (
           SELECT source,
             LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
             list_filter(list_transform(
               range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
               x -> LENGTH(x) > 0) AS s
           FROM corpus),
         r AS (
           SELECT source,
             n_tok < 10 AS too_short,
             n_tok > 5000 AS too_long,
             punct > 0.1 AS high_punct,
             (CASE WHEN LEN(s) = 0 THEN 0.0
               ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
               > 0.2 AS repetitious
           FROM m)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN too_short THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
           CAST(SUM(CASE WHEN too_long THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long,
           CAST(SUM(CASE WHEN high_punct THEN 1 ELSE 0 END) AS BIGINT) AS n_high_punct,
           CAST(SUM(CASE WHEN repetitious THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitious,
           CAST(SUM(CASE WHEN NOT (too_short OR too_long OR high_punct OR repetitious)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM r GROUP BY 1 ORDER BY 1"""),
    // ---- materialized packed sequences (concat-then-chunk) ----
    QueryDef("q_pack_emit", (s, dir) => {
      // 64-token sequences over the documents corpus: every sequence's
      // exact token window is pinned by its md5, including documents
      // straddling sequence boundaries — DuckDB recomputes the same
      // global positions with a window prefix sum and must reproduce
      // every hash. The multi-level scan (blockSize 1000, levels 2)
      // covers id ranges to 10^6 without a global window.
      Packing.emitPackedSequences(Tables.load(s, dir, "documents"),
          "doc_id", "text", seqTokens = 64, blockSize = 1000, levels = 2)
        .orderBy(col("seq_id"))
    },
      """WITH d AS (
           SELECT doc_id AS id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         o AS (
           SELECT id, t,
             COALESCE(SUM(LEN(t)) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
           FROM d),
         tok AS (
           SELECT id, off + generate_subscripts(t, 1) - 1 AS gpos,
             UNNEST(t) AS tok
           FROM o)
         SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS seq_len,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
           MIN(id) AS first_doc,
           MAX(id) AS last_doc,
           md5(string_agg(tok, ' ' ORDER BY gpos)) AS content_md5
         FROM tok
         GROUP BY 1 ORDER BY seq_id"""),

    // ---- packed-sequence doc-span map (attention-mask input) ----
    QueryDef("q_pack_spans", (s, dir) =>
      Packing.packedDocSpans(Tables.load(s, dir, "documents"),
          "doc_id", "text", seqTokens = 64, blockSize = 1000, levels = 2)
        .orderBy(col("seq_id"), col("doc_id")),
      """WITH d AS (
           SELECT doc_id AS id,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM documents),
         o AS (
           SELECT id, t,
             COALESCE(SUM(LEN(t)) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS BIGINT)) AS off
           FROM d),
         tok AS (
           SELECT id, CAST(gpos // 64 AS BIGINT) AS seq_id, gpos
           FROM (SELECT id, off + generate_subscripts(t, 1) - 1 AS gpos
                 FROM o))
         SELECT seq_id, id AS doc_id,
           CAST(MIN(gpos) - seq_id * 64 AS BIGINT) AS start_in_seq,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_in_seq
         FROM tok GROUP BY 1, 2 ORDER BY seq_id, doc_id"""),

    // ---- length-bucketed batching stats ----
    QueryDef("q_length_buckets", (s, dir) =>
      // maxSeq 256 sits inside the synthetic doc-length range, so both
      // padding waste and truncation are exercised
      Packing.lengthBuckets(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxSeq = 256)
        .orderBy(col("bucket")),
      """WITH e AS (
           SELECT CAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+'))
               AS BIGINT) AS n_tok,
             CAST(LEAST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')),
               256) AS BIGINT) AS n_eff
           FROM documents),
         b AS (
           SELECT n_tok, n_eff,
             CASE WHEN n_eff <= 1 THEN CAST(1 AS BIGINT)
               ELSE CAST(1 AS BIGINT) << LENGTH(bin(n_eff - 1)) END AS bucket
           FROM e)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_eff) AS BIGINT) AS n_tokens,
           CAST(SUM(bucket - n_eff) AS BIGINT) AS n_padding,
           CAST(SUM(n_tok - n_eff) AS BIGINT) AS n_truncated,
           ROUND(CAST(SUM(n_eff) AS DOUBLE) /
             CAST(SUM(n_eff) + SUM(bucket - n_eff) AS DOUBLE), 6)
             AS utilization
         FROM b GROUP BY 1 ORDER BY bucket"""),
    // ---- one-pass column profile (orders: 3 dtypes, 6 columns) ----
    QueryDef("q_profile", (s, dir) =>
      Profile.profile(Tables.load(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name")),
      {
      val cols = Seq(
        ("o_orderkey", "bigint", "num"), ("o_custkey", "bigint", "num"),
        ("o_orderstatus", "string", "str"), ("o_totalprice", "double", "num"),
        ("o_orderdate", "timestamp_ntz", "ts"), ("o_orderpriority", "string", "str"))
      cols.map { case (c, dt, kind) =>
        val (mn, mx) = kind match {
          case "num" => (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)")
          case "ts" => (s"CAST(epoch_us(MIN($c)) AS DOUBLE)",
            s"CAST(epoch_us(MAX($c)) AS DOUBLE)")
          case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        }
        val (ms, xs) =
          if (kind == "str") (s"MIN($c)", s"MAX($c)")
          else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        s"""SELECT '$c' AS col_name, '$dt' AS dtype,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             $mn AS min_num, $mx AS max_num,
             $ms AS min_str, $xs AS max_str
           FROM orders"""
      }.mkString("", "\n         UNION ALL ", "\n         ORDER BY col_name")
    }),

    // ---- per-source data card (fingerprint × importance rollup) ----
    QueryDef("q_pipeline_catalog", (s, dir) =>
      Pipelines.sourceCatalog(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", isTarget = col("source") === "src0")
        .orderBy(col("grp")),
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
           SELECT id, SUM(c) AS n_tokens, SUM(c * r) AS score
           FROM db JOIN r USING (b) GROUP BY id),
         imp AS (
           SELECT d.source AS grp,
             SUM(COALESCE(s.score, 0)) AS sc,
             SUM(COALESCE(s.n_tokens, 0)) AS tk
           FROM documents d LEFT JOIN s ON d.doc_id = s.id
           GROUP BY 1),
         fp AS (
           SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
               AS BIGINT) AS n_tokens,
             bit_xor(CAST(('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')), 1, 15))
               AS BIGINT)) AS fingerprint
           FROM documents GROUP BY source)
         SELECT fp.grp, n_docs, n_tokens, fingerprint,
           CASE WHEN tk > 0
             THEN ROUND(CAST(sc AS DOUBLE) / CAST(tk AS DOUBLE), 6)
             ELSE 0.0 END AS affinity_per_token
         FROM fp JOIN imp ON fp.grp = imp.grp
         ORDER BY fp.grp"""),
    // ---- span-level contamination map (GPT-3/Pile decontamination) ----
    QueryDef("q_contamination_spans", (s, dir) => {
      // eval = every 10th doc, train = the rest (the q_decontaminate
      // split); planted eval docs (every 30th, at offset ids) append
      // train doc 1's full text, so the span map must find one long
      // contaminated span there while organic eval docs stay sparse
      val docs = Tables.load(s, dir, "documents")
      val evalBase = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val off = broadcast(docs.agg((max(col("doc_id")) + 1L).as("_off")))
      val t1 = broadcast(docs.filter(col("doc_id") === 1L)
        .select(col("text").as("_t1")))
      val planted = evalBase.filter(col("doc_id") % 30 === 0)
        .crossJoin(off).crossJoin(t1)
        .select((col("doc_id") + col("_off")).as("doc_id"),
          concat(col("text"), lit(" "), col("_t1")).as("text"))
      Dedup.contaminationSpans(
          evalBase.select(col("doc_id"), col("text")).unionByName(planted),
          train, "doc_id", "text", n = 5)
        .orderBy(col("id"))
    },
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         t1 AS (SELECT text AS t1txt FROM documents WHERE doc_id = 1),
         ev AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + off, text || ' ' || t1txt
           FROM documents CROSS JOIN o CROSS JOIN t1
           WHERE doc_id % 10 = 0 AND doc_id % 30 = 0),
         evt AS (
           SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\s+') AS t
           FROM ev),
         evsh AS (
           SELECT doc_id,
             UNNEST(range(1, GREATEST(LEN(t) - 5, 0) + 2)) AS i,
             UNNEST(list_transform(range(1, GREATEST(LEN(t) - 5, 0) + 2),
               i -> array_to_string(t[i:i+4], ' '))) AS s
           FROM evt),
         trsh AS (
           SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS s
           FROM (SELECT string_split_regex(LOWER(TRIM(text)), '\s+') AS t
                 FROM documents WHERE doc_id % 10 <> 0),
             UNNEST(range(1, GREATEST(LEN(t) - 5, 0) + 2)) AS u(i)),
         hits AS (
           SELECT doc_id, i - 1 AS pos FROM evsh
           WHERE s IN (SELECT s FROM trsh)),
         isl AS (
           SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL
                    OR pos > LAG(pos) OVER w + 5 THEN 1 ELSE 0 END AS ns
           FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         sids AS (
           SELECT doc_id, pos,
             SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
           FROM isl),
         sp AS (
           SELECT doc_id, sid, COUNT(*) AS nh,
             MAX(pos) + 5 - MIN(pos) AS len
           FROM sids GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(SUM(nh) AS BIGINT) AS n_hits,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(len) AS BIGINT) AS covered_tokens,
             CAST(MAX(len) AS BIGINT) AS max_span
           FROM sp GROUP BY 1)
         SELECT ev.doc_id AS id,
           COALESCE(n_hits, 0) AS n_hits,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(covered_tokens, 0) AS covered_tokens,
           COALESCE(max_span, 0) AS max_span
         FROM ev LEFT JOIN agg USING (doc_id) ORDER BY id"""),

    /* Planning and monitoring operators — range-partition
     * planning for sorted writes, embedding outlier detection over a
     * Lloyd run, per-source keep rates with Wilson confidence intervals,
     * and the streaming windowed quality monitor. Every query is
     * deterministic and recomputed end to end by its DuckDB oracle.
     */
    // ---- per-source keep rate with Wilson CI ----
    QueryDef("q_quality_ci", (s, dir) =>
      TextAnalysis.keepRateCi(plantedQualityCorpus(s, dir),
          "source", "text")
        .orderBy(col("source")),
      s"""WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++', source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30)), source
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         $qualityRulesSql,
         agg AS (
           SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
           FROM r GROUP BY 1),
         w AS (
           SELECT source, n, n_keep,
             CAST(n_keep AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST(n AS DOUBLE) AS nd
           FROM agg)
         SELECT source, n, n_keep,
           ROUND(p, 6) AS keep_rate,
           ROUND((p + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd)
             - (1.96 * SQRT(p * (1.0 - p) / nd +
                 (1.96 * 1.96) / (4.0 * nd * nd))) /
               (1.0 + (1.96 * 1.96) / nd), 6) AS ci_low,
           ROUND((p + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd)
             + (1.96 * SQRT(p * (1.0 - p) / nd +
                 (1.96 * 1.96) / (4.0 * nd * nd))) /
               (1.0 + (1.96 * 1.96) / nd), 6) AS ci_high
         FROM w ORDER BY source"""),
    // ---- k-anonymity / l-diversity release gate ----
    QueryDef("q_k_anonymity", (s, dir) => {
      // QI = (segment, nation); sensitive = coarse balance bucket.
      // Classes thinner than k=10 generalize to the '*' residual.
      val cust = Tables.load(s, dir, "customer")
        .withColumn("bal_bucket",
          floor(col("c_acctbal") / 2000).cast("long"))
      Profile.kAnonymityClasses(cust,
          Seq("c_mktsegment", "c_nationkey"), "bal_bucket", k = 10)
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    },
      """WITH s AS (SELECT CAST(c_mktsegment AS VARCHAR) AS seg,
             CAST(c_nationkey AS VARCHAR) AS nat,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS sv
           FROM customer),
         z AS (SELECT seg, nat, COUNT(*) AS n FROM s GROUP BY 1, 2),
         g AS (SELECT
             CASE WHEN z.n < 10 THEN '*' ELSE s.seg END AS c_mktsegment,
             CASE WHEN z.n < 10 THEN '*' ELSE s.nat END AS c_nationkey,
             sv
           FROM s JOIN z USING (seg, nat))
         SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT sv) AS BIGINT) AS l_diversity,
           (c_mktsegment = '*') AS suppressed
         FROM g GROUP BY 1, 2 ORDER BY c_mktsegment, c_nationkey"""),

    /* Frequency sketches and offline filter evaluation —
     * a count-min sketch materialized as a mergeable counter table (plus
     * its ground-truth audit), exact rank-based ROC-AUC of the quality
     * score against planted-junk ground truth, Cohen's kappa between two
     * filter policies, and the integer-exact time-decayed user value.
     * Every row is deterministic and recomputed end to end by its DuckDB
     * oracle.
     */
    // ---- exact ROC-AUC of the quality score vs planted ground truth ----
    QueryDef("q_score_auc", (s, dir) =>
      Profile.rocAuc(withJunkLabels(s, dir), col("source"),
          round(TextAnalysis.qualityScore(col("text")), 6), col("clean"))
        .withColumnRenamed("grp", "source")
        .orderBy(col("source")),
      s"""WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source, TRUE AS y FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', source, FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 23 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++',
             source, FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 23 = 0
           UNION ALL
           SELECT doc_id + 3 * off,
             'the item item item item item item item item item item item',
             source, FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 23 = 0),
         $qualitySql,
         bys AS (SELECT source, s,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS nn
           FROM sc GROUP BY 1, 2),
         wr AS (SELECT source, np, nn,
             COALESCE(SUM(nn) OVER (PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nnb
           FROM bys)
         SELECT source, CAST(SUM(np + nn) AS BIGINT) AS n,
           CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
           CASE WHEN SUM(np) > 0 AND SUM(nn) > 0
             THEN ROUND(CAST(SUM(np * (2 * nnb + nn)) AS DOUBLE) /
               (2.0 * SUM(np) * SUM(nn)), 6) END AS auc
         FROM wr GROUP BY 1 ORDER BY 1"""),

    // ---- Cohen's kappa between the 4-rule and 3-rule filter policies ----
    QueryDef("q_kappa", (s, dir) => {
      val q = TextAnalysis.qualityFilterReasons(kappaCorpus(s, dir), "text")
      Profile.raterAgreement(q, col("keep"),
        !(col("too_short") || col("too_long") || col("high_punct")))
    },
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc'
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++'
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0
           UNION ALL
           SELECT doc_id + 3 * off, rtrim(repeat('spark ', 30))
           FROM documents CROSS JOIN o WHERE doc_id % 50 = 0),
         m AS (
           SELECT LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tok,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct,
             list_filter(list_transform(
               range(1, GREATEST(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string((string_split_regex(LOWER(TRIM(text)), '\s+'))[i:i+2], ' ')),
               x -> LENGTH(x) > 0) AS s
           FROM corpus),
         r AS (
           SELECT NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1 OR
               (CASE WHEN LEN(s) = 0 THEN 0.0
                 ELSE 1.0 - CAST(LEN(list_distinct(s)) AS DOUBLE) / CAST(LEN(s) AS DOUBLE) END)
                 > 0.2) AS a,
             NOT (n_tok < 10 OR n_tok > 5000 OR punct > 0.1) AS b
           FROM m),
         c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop
           FROM r)
         SELECT n, n_both_keep, n_a_only, n_b_only, n_both_drop,
           ROUND(CAST(n_both_keep + n_both_drop AS DOUBLE) / n, 6) AS p_o,
           ROUND((CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
             (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n), 6) AS p_e,
           CASE WHEN (CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
             (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
               (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n) < 1.0
             THEN ROUND((CAST(n_both_keep + n_both_drop AS DOUBLE) / n -
               ((CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
               (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n))) /
               (1.0 - ((CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (CAST(n_both_keep + n_b_only AS DOUBLE) / n) +
               (1.0 - CAST(n_both_keep + n_a_only AS DOUBLE) / n) *
                 (1.0 - CAST(n_both_keep + n_b_only AS DOUBLE) / n))), 6)
           END AS kappa
         FROM c"""),

    /* Published filter rule sets and experimentation
     * analytics — the Gopher quality-rule audit (Rae et al. 2021) and
     * CUPED variance-reduced A/B lift (Deng et al. 2013). Deterministic
     * end to end; every expression tree mirrored term-for-term by its
     * DuckDB oracle.
     */
    // ---- Gopher quality-rule audit ----
    QueryDef("q_gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(gopherCorpus(s, dir), "source", "text")
        .orderBy(col("source")),
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, source FROM documents
           UNION ALL
           SELECT doc_id + off, '## fast ## ## table ## ## ## row ##', source
           FROM documents CROSS JOIN o WHERE doc_id % 40 = 0),
         m AS (SELECT source, text,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS toks
           FROM corpus),
         r AS (SELECT source,
             (LEN(toks) < 50 OR LEN(toks) > 100000) AS v_word_count,
             (CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS DOUBLE) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) < 3.0 OR
              CAST(LENGTH(REGEXP_REPLACE(text, '\s', '', 'g')) AS DOUBLE) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) > 10.0) AS v_word_len,
             ((CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', '')) AS DOUBLE) +
               CAST(LENGTH(text) - LENGTH(REPLACE(text, '...', '')) AS DOUBLE) / 3.0 +
               CAST(LENGTH(text) - LENGTH(REPLACE(text, '…', '')) AS DOUBLE)) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) > 0.1) AS v_symbol,
             (CAST(LEN(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) /
                GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) < 0.8) AS v_alpha,
             (LEN(list_filter(toks, w -> list_contains(
               ['the','be','to','of','and','that','have','with'], w))) < 2) AS v_stop
           FROM m)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN v_word_count THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count,
           CAST(SUM(CASE WHEN v_word_len THEN 1 ELSE 0 END) AS BIGINT) AS n_word_len,
           CAST(SUM(CASE WHEN v_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
           CAST(SUM(CASE WHEN v_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
           CAST(SUM(CASE WHEN v_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           CAST(SUM(CASE WHEN NOT (v_word_count OR v_word_len OR v_symbol
             OR v_alpha OR v_stop) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM r GROUP BY 1 ORDER BY 1"""),
    // ---- reliability diagram + expected calibration error ----
    QueryDef("q_calibration", (s, dir) =>
      Profile.calibration(calibCorpus(s, dir),
          round(TextAnalysis.qualityScore(col("text")), 6), col("clean"))
        .orderBy(col("bin")),
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         corpus AS (
           SELECT doc_id AS id, text, TRUE AS y FROM documents
           UNION ALL
           SELECT doc_id + off, 'tiny doc', FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 29 = 0
           UNION ALL
           SELECT doc_id + 2 * off, '!!! ??? *** %%% ((( ))) ;;; ::: === +++',
             FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 29 = 0
           UNION ALL
           SELECT doc_id + 3 * off,
             'the item item item item item item item item item item item',
             FALSE
           FROM documents CROSS JOIN o WHERE doc_id % 29 = 0),
         m AS (SELECT y,
             string_split_regex(LOWER(TRIM(text)), '\s+') AS toks,
             CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9_\s]', '', 'g')) AS DOUBLE) /
               GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS punct
           FROM corpus),
         sc AS (SELECT y,
             ROUND((LEAST(CAST(LEN(toks) AS DOUBLE) / 20.0, 1.0) +
               (1.0 - LEAST(punct * 4.0, 1.0)) +
               LEAST(CAST(LEN(list_filter(
                 ['the','a','of','and','to','in','is','that','it','for'],
                 w -> list_contains(toks, w))) AS DOUBLE) / 3.0, 1.0)) / 3.0, 6) AS s
           FROM m),
         g AS (SELECT y, CAST(ROUND(s * 1000000) AS BIGINT) AS mi
           FROM sc),
         pb AS (SELECT LEAST(CAST(FLOOR(mi / 100000.0) AS BIGINT), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(mi) AS BIGINT) AS sm
           FROM g GROUP BY 1),
         pb2 AS (SELECT bin, n_docs, n_pos, sm,
             ABS(sm - 1000000 * n_pos) AS gap_micro FROM pb),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt,
             CAST(SUM(gap_micro) AS BIGINT) AS gt FROM pb2)
         SELECT bin, n_docs, n_pos,
           ROUND(CAST(sm AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0, 6)
             AS mean_pred,
           ROUND(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS frac_pos,
           CAST(gap_micro AS BIGINT) AS gap_micro,
           ROUND(CAST(gt AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000.0, 6) AS ece
         FROM pb2 CROSS JOIN t ORDER BY bin"""),

    /* Supervised classification and encoding forensics —
     * a nearest-centroid source classifier whose held-out confusion
     * matrix is engine-exact (integer dot products, no log-prob float
     * folds), and the ftfy-style mojibake audit. Both DuckDB-checked
     * row for row.
     */
    // ---- held-out nearest-centroid source confusion matrix ----
    QueryDef("q_classify_confusion", (s, dir) =>
      // the centroid model table is staged write-once training state
      // (r13 verdict item 6 — train-once / score-many): the timed work
      // is tokenizing the held-out split, the dot-product join against
      // the stored model, and the confusion rollup. The oracle still
      // recomputes train AND score end to end from the base table.
      Classify.centroidConfusionFromCentroids(
          Tables.load(s, dir, "documents"), "doc_id", "source", "text",
          Tables.storedFixture(s, dir, "cls_centroids_v1")(
            Classify.trainCentroids(
              Tables.loadSpread(s, dir, "documents", "doc_id"),
              "doc_id", "source", "text")))
        .orderBy(col("true_source"), col("pred_source")),
      """WITH d AS (SELECT doc_id AS id, source, COALESCE(text, '') AS text,
             substr(md5('cls:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
               AS is_train
           FROM documents),
         tok AS (SELECT id, source, is_train,
             UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
           FROM d),
         tw AS (SELECT id, source, is_train, w,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM tok WHERE LENGTH(w) > 0 GROUP BY 1, 2, 3, 4),
         cen AS (SELECT source AS s, w, CAST(SUM(c) AS BIGINT) AS sc
           FROM tw WHERE is_train GROUP BY 1, 2),
         sn AS (SELECT s, CAST(SUM(sc * sc) AS BIGINT) AS n2
           FROM cen GROUP BY 1),
         test AS (SELECT id, w, c FROM tw WHERE NOT is_train),
         dn AS (SELECT id, CAST(SUM(c * c) AS BIGINT) AS d2
           FROM test GROUP BY 1),
         dot AS (SELECT t.id, c2.s, CAST(SUM(t.c * c2.sc) AS BIGINT) AS dp
           FROM test t JOIN cen c2 ON t.w = c2.w GROUP BY 1, 2),
         sim AS (SELECT dot.id, dot.s,
             CAST(dot.dp AS DOUBLE) /
               (sqrt(CAST(dn.d2 AS DOUBLE)) * sqrt(CAST(sn.n2 AS DOUBLE)))
               AS cs
           FROM dot JOIN dn ON dot.id = dn.id JOIN sn ON dot.s = sn.s),
         pred AS (SELECT id, s AS pred_source FROM (
             SELECT id, s,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY cs DESC, s) AS rn
             FROM sim) WHERE rn = 1),
         lab AS (SELECT id, source FROM d WHERE NOT is_train)
         SELECT lab.source AS true_source,
           COALESCE(p.pred_source, 'none') AS pred_source,
           CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM lab LEFT JOIN pred p ON lab.id = p.id
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    /* Ingest contracts and forensic statistics — the
     * declarative expectations gate (Great-Expectations shape) over a
     * corrupted orders batch, and the Benford first-digit audit. Both
     * integer-exact / ordered-fold deterministic, DuckDB-checked.
     */
    // ---- declarative expectations over a corrupted batch ----
    QueryDef("q_expectations", (s, dir) =>
      Profile.expectations(corruptOrders(s, dir),
          rowRules = Seq(
            ("not_null", "o_custkey", col("o_custkey").isNull),
            ("range", "o_totalprice",
              !col("o_totalprice").between(0.0, 600000.0)),
            ("in_set", "o_orderstatus",
              !col("o_orderstatus").isin("O", "F", "P")),
            ("regex", "o_orderpriority",
              !col("o_orderpriority").rlike("^[1-5]-"))),
          uniqueCols = Seq("o_orderkey"))
        .orderBy(col("rule"), col("col_name")),
      """WITH corrupt AS (
           SELECT * FROM orders
           UNION ALL
           SELECT o_orderkey, NULL, 'X', -o_totalprice, o_orderdate,
             o_orderpriority
           FROM orders WHERE o_orderkey % 997 = 0),
         base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS v_null,
             CAST(SUM(CASE WHEN NOT (o_totalprice BETWEEN 0 AND 600000)
               THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
               THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
             CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority,
               '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS v_regex,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_uniq
           FROM corrupt),
         rows_out AS (
           SELECT 'not_null' AS rule, 'o_custkey' AS col_name, n, v_null AS v
             FROM base
           UNION ALL SELECT 'range', 'o_totalprice', n, v_range FROM base
           UNION ALL SELECT 'in_set', 'o_orderstatus', n, v_set FROM base
           UNION ALL SELECT 'regex', 'o_orderpriority', n, v_regex FROM base
           UNION ALL SELECT 'unique', 'o_orderkey', n, v_uniq FROM base)
         SELECT rule, col_name, n AS n_checked, v AS n_violations,
           v = 0 AS pass
         FROM rows_out ORDER BY rule, col_name"""),

    /* The classifier learning curve — held-out accuracy
     * at nested 25/50/75% train fractions over one fixed test set. The
     * whole curve is exact-integer evaluation of the engine-exact
     * centroid scorer, so DuckDB replays every point.
     */
    QueryDef("q_learning_curve", (s, dir) =>
      Classify.learningCurve(Tables.load(s, dir, "documents"),
          "doc_id", "source", "text")
        .orderBy(col("train_frac")),
      {
      val points = Seq(("train25", "4"), ("train50", "8"), ("train75", "c"))
      val blocks = points.map { case (l, t) => pointSql(l, t) }.mkString(",\n")
      val union = points.map { case (l, _) =>
        s"SELECT * FROM acc_$l" }.mkString("\n         UNION ALL ")
      s"""WITH d AS (SELECT doc_id AS id, source, COALESCE(text, '') AS text,
             substr(md5('cls:' || CAST(doc_id AS VARCHAR)), 1, 1) AS hex
           FROM documents),
         tok AS (SELECT id, source, hex,
             UNNEST(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS w
           FROM d),
         tw AS (SELECT id, source, hex, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok WHERE LENGTH(w) > 0 GROUP BY 1, 2, 3, 4),
         test AS (SELECT id, w, c FROM tw WHERE hex >= 'c'),
         dn AS (SELECT id, CAST(SUM(c * c) AS BIGINT) AS d2
           FROM test GROUP BY 1),
         lab AS (SELECT id, source FROM d WHERE hex >= 'c'),
         $blocks
         SELECT train_frac, n_test, n_predicted, n_correct,
           ROUND(CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
             AS accuracy,
           ROUND(CAST(n_predicted AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
             AS coverage
         FROM ($union)
         ORDER BY train_frac"""
    }))
}

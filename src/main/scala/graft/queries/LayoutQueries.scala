package graft.queries

import graft.{QueryDef, Tables}
import graft.ingest.Ingest
import graft.ops.{Layout, Profile, Sampling, Sketches, Skew}
import org.apache.spark.sql.functions._

/** Storage-layout and planning queries: z-order and zone maps, column
  * encodings, partition and shard planning, Bloom runtime filters, join
  * cardinality, stable ids, schema merge, and table fingerprints and
  * snapshot diffs.
  */
object LayoutQueries {

  private val zTermsSql: String =
    (0 until 10).flatMap(b => Seq(
      s"(((x >> $b) & 1) << ${2 * b})",
      s"(((y >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")

  val defs: Seq[QueryDef] = Seq(
    // ---- order-independent corpus fingerprint per source ----
    QueryDef("q_fingerprint", (s, dir) =>
      Profile.corpusFingerprint(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source")
        .orderBy(col("grp")),
      """SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
             AS BIGINT) AS n_tokens,
           bit_xor(CAST(('0x' || substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')), 1, 15))
             AS BIGINT)) AS fingerprint
         FROM documents GROUP BY source ORDER BY grp"""),

    // ---- snapshot diff (planted v2: drops, edits, adds) ----
    QueryDef("q_snapshot_diff", (s, dir) => {
      // v2 derived from v1 by exact integer rules: every 31st doc
      // dropped, every 17th surviving doc edited (text + ' v2'),
      // every 41st doc re-added as a new id past the v1 range — the
      // diff must classify all four ways via content hashes alone
      val v1 = Tables.load(s, dir, "documents")
      val off = broadcast(v1.agg((max(col("doc_id")) + 1L).as("_off")))
      val kept = v1.filter(col("doc_id") % 31 =!= 0)
      val edited = kept.withColumn("text",
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      val added = v1.filter(col("doc_id") % 41 === 0).crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val v2 = edited.unionByName(added)
      Profile.snapshotDiff(v1, v2, "doc_id", "text", "source")
        .orderBy(col("grp"), col("status"))
    },
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         v1 AS (
           SELECT doc_id AS id, source AS grp,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
               COALESCE(text, '')), 1, 15)) AS BIGINT) AS h
           FROM documents),
         v2raw AS (
           SELECT doc_id AS id, source AS grp,
             CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 31 <> 0
           UNION ALL
           SELECT doc_id + off, source, text
           FROM documents CROSS JOIN o WHERE doc_id % 41 = 0),
         v2 AS (
           SELECT id, grp,
             CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' ||
               COALESCE(text, '')), 1, 15)) AS BIGINT) AS h
           FROM v2raw),
         j AS (
           SELECT COALESCE(b.grp, a.grp) AS grp,
             CASE WHEN a.id IS NULL THEN 'added'
               WHEN b.id IS NULL THEN 'removed'
               WHEN a.h = b.h THEN 'unchanged'
               ELSE 'changed' END AS status
           FROM v1 a FULL OUTER JOIN v2 b ON a.id = b.id)
         SELECT grp, status, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM j GROUP BY grp, status ORDER BY grp, status"""),
    // ---- epoch-deterministic shard / training-order plan ----
    QueryDef("q_shard_plan", (s, dir) =>
      // the full (id, shard, pos) assignment for epoch 3 over 8 shards
      // is oracle-checked — hash bucketing is the shard split (no
      // global sort), the within-shard ordinal is a per-shard sort
      Sampling.epochShards(Tables.load(s, dir, "documents"),
          "doc_id", epoch = 3, nShards = 8)
        .orderBy(col("shard"), col("pos")),
      """WITH h AS (
           SELECT doc_id AS id,
             CAST(('0x' || substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS ord
           FROM documents),
         sh AS (
           SELECT id, ord, CAST(ord % 8 AS INT) AS shard FROM h)
         SELECT id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, id)
             AS BIGINT) - 1 AS pos
         FROM sh ORDER BY shard, pos"""),

    // ---- incremental fingerprint maintenance (O(batch) versioning) ----
    QueryDef("q_fingerprint_update", (s, dir) => {
      // the q_snapshot_diff mutation rules as a delta feed: drops
      // (%31), edits (%17, old text removed + new text added), adds
      // (%41 at offset ids). The incremental result must equal a
      // from-scratch corpusFingerprint of v2 — which is exactly what
      // the oracle computes; XOR self-inverse makes it O(batch)
      val v1 = Tables.load(s, dir, "documents")
      val off = broadcast(v1.agg((max(col("doc_id")) + 1L).as("_off")))
      val dropped = v1.filter(col("doc_id") % 31 === 0)
      val editedOld = v1.filter(col("doc_id") % 17 === 0 &&
        col("doc_id") % 31 =!= 0)
      val editedNew = editedOld.withColumn("text",
        concat(col("text"), lit(" v2")))
      val adds = v1.filter(col("doc_id") % 41 === 0).crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      val sel = Seq("doc_id", "text", "source").map(col)
      graft.ops.Profile.updateFingerprint(
          graft.ops.Profile.corpusFingerprint(v1, "doc_id", "text", "source"),
          dropped.select(sel: _*).unionByName(editedOld.select(sel: _*)),
          editedNew.select(sel: _*).unionByName(adds.select(sel: _*)),
          "doc_id", "text", "source")
        .orderBy(col("grp"))
    },
      // from-scratch rebuild of the v2 fingerprint (the q_fingerprint
      // formula over the mutated corpus) — the incremental path must
      // reproduce it exactly
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END
               AS text,
             source
           FROM documents WHERE doc_id % 31 <> 0
           UNION ALL
           SELECT doc_id + off, text, source
           FROM documents CROSS JOIN o WHERE doc_id % 41 = 0)
         SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN(string_split_regex(LOWER(TRIM(text)), '\s+')))
             AS BIGINT) AS n_tokens,
           bit_xor(CAST(('0x' || substr(md5(
             CAST(doc_id AS VARCHAR) || ':' || COALESCE(text, '')), 1, 15))
             AS BIGINT)) AS fingerprint
         FROM v2 GROUP BY source ORDER BY grp"""),

    /* Scale-infrastructure operators — the layout,
     * planning, and runtime-filtering machinery a 100 TB lake needs
     * around the analytics themselves. Z-order multi-dim clustering,
     * dense id assignment without a global sort, Bloom runtime-filter
     * joins, join-cardinality planning synopses, JL random-projection
     * embedding compression, schema-evolution snapshot merges, media
     * payload dedup, and streaming distribution-drift monitoring. Every
     * query is deterministic and recomputed end to end by its DuckDB
     * oracle.
     */
    // ---- Z-order layout locality audit ----
    QueryDef("q_zorder", (s, dir) =>
      // orders clustered on (customer, order day): each of the 64
      // z-buckets must cover a narrow rectangle of both dimensions —
      // the property parquet min/max pruning exploits after a z-sorted
      // write. All-integer output.
      Layout.zorderStats(Tables.load(s, dir, "orders"),
          col("o_custkey") % 1024,
          datediff(col("o_orderdate"), lit("1995-01-01")) % 1024,
          bits = 10, bucketBits = 6)
        .orderBy(col("bucket")),
      s"""WITH b AS (
           SELECT o_custkey % 1024 AS x,
             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               % 1024 AS y
           FROM orders),
         z AS (SELECT x, y, $zTermsSql AS zv FROM b)
         SELECT CAST(zv >> 14 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           MAX(x) - MIN(x) + 1 AS x_span, MAX(y) - MIN(y) + 1 AS y_span
         FROM z GROUP BY 1 ORDER BY bucket"""),

    // ---- dense stable ids without a global sort ----
    QueryDef("q_stable_ids", (s, dir) =>
      Layout.assignStableIds(Tables.load(s, dir, "documents"), "doc_id")
        .orderBy(col("new_id")),
      """WITH h AS (
           SELECT doc_id AS id,
             CAST(('0x' || substr(md5('sid:' || CAST(doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS ord
           FROM documents)
         SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY ord, id) AS BIGINT) - 1
           AS new_id
         FROM h ORDER BY new_id"""),

    // ---- Bloom runtime-filter join ----
    QueryDef("q_bloom_join", (s, dir) => {
      // dim side = suppliers of one nation (selective); the Bloom
      // pre-filter cuts the lineitem shuffle to matching suppliers
      // before the join — the result is EXACTLY the plain join, which
      // is what the oracle runs
      val li = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
        .filter(col("s_nationkey") === 3)
      Skew.bloomPrunedJoin(li, "l_suppkey", sup, "s_suppkey")
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("s_suppkey"))
    },
      """SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         WHERE s_nationkey = 3
         GROUP BY s_suppkey ORDER BY s_suppkey"""),

    // ---- join-size planning synopsis ----
    QueryDef("q_join_cardinality", (s, dir) =>
      // events×orders on user=customer is genuinely many-to-many; the
      // audit row carries the exact pair count (from two per-key
      // aggregates, no join materialized) and the O(buckets) upper
      // bound a stored synopsis would give
      Sketches.joinCardinalityAudit(
        Tables.load(s, dir, "events"), "user_id",
        Tables.load(s, dir, "orders"), "o_custkey", buckets = 256),
      """WITH ca AS (SELECT user_id AS k, COUNT(*) AS na
                     FROM events GROUP BY 1),
         cb AS (SELECT o_custkey AS k, COUNT(*) AS nb
                FROM orders GROUP BY 1),
         j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_join_keys,
                 CAST(SUM(na * nb) AS BIGINT) AS exact_pairs
               FROM ca JOIN cb USING (k)),
         ba AS (SELECT CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))
                  AS BIGINT) % 256 AS bk, SUM(na) AS na
                FROM ca GROUP BY 1),
         bb AS (SELECT CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))
                  AS BIGINT) % 256 AS bk, SUM(nb) AS nb
                FROM cb GROUP BY 1),
         u AS (SELECT CAST(SUM(na * nb) AS BIGINT) AS bucket_upper
               FROM ba JOIN bb USING (bk))
         SELECT n_join_keys, exact_pairs, bucket_upper,
           ROUND(CAST(bucket_upper AS DOUBLE) / CAST(exact_pairs AS DOUBLE),
             6) AS overestimate
         FROM j CROSS JOIN u"""),

    // ---- schema-evolution snapshot merge ----
    QueryDef("q_schema_merge", (s, dir) => {
      // v1 predates the lang column; v2 (shifted ids) added lang and a
      // derived quality column — merged BY NAME with null-fill and
      // per-row provenance
      val docs = Tables.load(s, dir, "documents")
      val off = broadcast(docs.agg((max(col("doc_id")) + 1L).as("_off")))
      val v1 = docs.select(col("doc_id"), col("text"), col("source"))
      val v2 = docs.crossJoin(off)
        .select((col("doc_id") + col("_off")).as("doc_id"), col("text"),
          col("source"), col("lang"), (col("n_chars") % 5).as("quality"))
      Ingest.mergeSnapshots(Seq("v1" -> v1, "v2" -> v2))
        .orderBy(col("_version"), col("doc_id"))
    },
      """WITH o AS (SELECT MAX(doc_id) + 1 AS off FROM documents)
         SELECT doc_id, text, source, CAST(NULL AS VARCHAR) AS lang,
           CAST(NULL AS BIGINT) AS quality, 'v1' AS _version
         FROM documents
         UNION ALL
         SELECT doc_id + off, text, source, lang, n_chars % 5, 'v2'
         FROM documents CROSS JOIN o
         ORDER BY _version, doc_id"""),
    // ---- range-partition planning ----
    QueryDef("q_partition_plan", (s, dir) =>
      Layout.rangePartitionPlan(Tables.load(s, dir, "orders"),
          "o_totalprice", parts = 8)
        .orderBy(col("part")),
      """WITH b AS (
           SELECT quantile_disc(o_totalprice,
             [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bounds
           FROM orders)
         SELECT CAST(LEN(list_filter(bounds, x -> o_totalprice > x))
             AS INT) AS part,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS min_key, MAX(o_totalprice) AS max_key
         FROM orders CROSS JOIN b GROUP BY 1 ORDER BY part"""),

    /* Storage-layout economics — the zone-map pruning
     * audit (what sort-clustering buys a reader) and the column-encoding
     * advisor (what the write order buys the writer). Both are exact
     * integer statistics a 100 TB rewrite decision would be made from,
     * and both are DuckDB-recomputable row for row.
     */
    // ---- zone-map pruning: clustered vs scattered layout ----
    QueryDef("q_zonemap_prune", (s, dir) =>
      Layout.zoneMapPrune(Tables.load(s, dir, "lineitem"),
          datediff(col("l_shipdate"), lit("1970-01-01").cast("date")),
          nFiles = 64, nPreds = 8)
        .orderBy(col("layout"), col("pred")),
      """WITH b AS (SELECT datediff('day', DATE '1970-01-01',
             CAST(l_shipdate AS DATE)) AS k FROM lineitem),
         mm AS (SELECT MIN(k) AS kmin, MAX(k) AS kmax,
             MAX(k) - MIN(k) + 1 AS span FROM b),
         z0 AS (SELECT k,
             CAST(FLOOR(CAST((k - kmin) * 64 AS DOUBLE) /
               CAST(span AS DOUBLE)) AS BIGINT) AS fc,
             k % 64 AS fs
           FROM b CROSS JOIN mm),
         z AS (SELECT 'clustered' AS layout, fc AS file,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(k) AS zmin, MAX(k) AS zmax FROM z0 GROUP BY 2
           UNION ALL
           SELECT 'scattered', fs, CAST(COUNT(*) AS BIGINT),
             MIN(k), MAX(k) FROM z0 GROUP BY 2),
         tot AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS files_total
           FROM z GROUP BY 1),
         pr AS (SELECT CAST(p.i AS BIGINT) AS pred,
             kmin + CAST(FLOOR(CAST(p.i * span AS DOUBLE) / 8.0)
               AS BIGINT) AS lo,
             kmin + CAST(FLOOR(CAST((p.i + 1) * span AS DOUBLE) / 8.0)
               AS BIGINT) - 1 AS hi
           FROM (SELECT UNNEST(range(0, 8)) AS i) p CROSS JOIN mm),
         ev AS (SELECT z.layout, pr.pred, pr.lo, pr.hi,
             CAST(SUM(CASE WHEN z.zmin <= pr.hi AND z.zmax >= pr.lo
               THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
             CAST(SUM(CASE WHEN z.zmin <= pr.hi AND z.zmax >= pr.lo
               THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
           FROM z CROSS JOIN pr GROUP BY 1, 2, 3, 4)
         SELECT ev.layout, ev.pred, ev.lo, ev.hi, t.files_total,
           ev.files_scanned, ev.rows_scanned,
           ROUND(1.0 - CAST(ev.files_scanned AS DOUBLE) /
             CAST(t.files_total AS DOUBLE), 6) AS prune_pct
         FROM ev JOIN tot t ON ev.layout = t.layout
         ORDER BY ev.layout, ev.pred"""),

    // ---- column-encoding advisor over the date-sorted write order ----
    QueryDef("q_encoding_plan", (s, dir) =>
      Layout.encodingPlan(Tables.load(s, dir, "orders"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long") * 10000000L + col("o_orderkey"),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey",
            "o_orderdate", "o_totalprice"))
        .orderBy(col("col_name")),
      """WITH base AS (SELECT datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) * 10000000 + o_orderkey AS k,
             o_orderstatus, o_orderpriority, o_custkey, o_orderdate,
             o_totalprice
           FROM orders),
         mm AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) + 1 AS span
           FROM base),
         ub AS (
           SELECT k, 'o_orderstatus' AS cname,
             CAST(o_orderstatus AS VARCHAR) AS v FROM base
           UNION ALL SELECT k, 'o_orderpriority',
             CAST(o_orderpriority AS VARCHAR) FROM base
           UNION ALL SELECT k, 'o_custkey',
             CAST(o_custkey AS VARCHAR) FROM base
           UNION ALL SELECT k, 'o_orderdate',
             CAST(o_orderdate AS VARCHAR) FROM base
           UNION ALL SELECT k, 'o_totalprice',
             CAST(o_totalprice AS VARCHAR) FROM base),
         m AS (SELECT k, cname, v,
             CAST(FLOOR(CAST((k - kmin) * 256 AS DOUBLE) /
               CAST(span AS DOUBLE)) AS BIGINT) AS bucket
           FROM ub CROSS JOIN mm),
         st AS (SELECT cname, bucket, k, v,
             CASE WHEN lag(k) OVER (PARTITION BY cname, bucket ORDER BY k)
                    IS NULL
                  OR NOT (v IS NOT DISTINCT FROM
                    lag(v) OVER (PARTITION BY cname, bucket ORDER BY k))
               THEN 1 ELSE 0 END AS s
           FROM m),
         pb AS (SELECT cname, bucket, SUM(s) AS starts,
             arg_min(v, k) AS fv, arg_max(v, k) AS lv
           FROM st GROUP BY 1, 2),
         bd AS (SELECT cname, starts,
             CASE WHEN lag(bucket) OVER (PARTITION BY cname ORDER BY bucket)
                    IS NOT NULL
                  AND (fv IS NOT DISTINCT FROM
                    lag(lv) OVER (PARTITION BY cname ORDER BY bucket))
               THEN 1 ELSE 0 END AS dup
           FROM pb),
         rn AS (SELECT cname, CAST(SUM(starts) - SUM(dup) AS BIGINT)
             AS n_runs FROM bd GROUP BY 1),
         ds AS (SELECT cname, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
           FROM m GROUP BY 1)
         SELECT ds.cname AS col_name, ds.n_rows, ds.n_null, ds.n_distinct,
           rn.n_runs,
           ROUND(CAST(ds.n_distinct AS DOUBLE) / CAST(ds.n_rows AS DOUBLE), 6)
             AS distinct_ratio,
           ROUND(CAST(ds.n_rows AS DOUBLE) / CAST(rn.n_runs AS DOUBLE), 6)
             AS avg_run_len,
           CASE WHEN ds.n_distinct * 20 <= ds.n_rows
                  AND ds.n_rows >= rn.n_runs * 4 THEN 'RLE_DICT'
                WHEN ds.n_distinct * 20 <= ds.n_rows THEN 'DICT'
                WHEN ds.n_rows >= rn.n_runs * 4 THEN 'RLE'
                ELSE 'PLAIN' END AS encoding
         FROM ds JOIN rn ON ds.cname = rn.cname
         ORDER BY col_name"""),
    // ---- partition/broadcast sizing advisor ----
    QueryDef("q_partition_advisor", (s, dir) =>
      Layout.partitionAdvisor(
          Seq("nation", "customer", "orders", "lineitem", "documents")
            .map(t => t -> Tables.load(s, dir, t)),
          targetPartitionBytes = 4L * 1024 * 1024,
          broadcastThreshold = 1L * 1024 * 1024)
        .orderBy(col("table_name")),
      {
      // the schema-driven width rule, restated per table: strings cost
      // LENGTH+4, every fixed-width column 8
      val widths = Map(
        "nation" -> "8 + LENGTH(n_name) + 4 + 8",
        "customer" -> ("8 + LENGTH(c_name) + 4 + 8 + " +
          "LENGTH(c_mktsegment) + 4 + 8"),
        "orders" -> ("8 + 8 + LENGTH(o_orderstatus) + 4 + 8 + 8 + " +
          "LENGTH(o_orderpriority) + 4"),
        "lineitem" -> ("8 + 8 + 8 + 8 + 8 + 8 + 8 + 8 + " +
          "LENGTH(l_returnflag) + 4 + LENGTH(l_linestatus) + 4 + 8"),
        "documents" -> ("8 + LENGTH(text) + 4 + LENGTH(lang) + 4 + " +
          "LENGTH(source) + 4 + 8"))
      val target = 4L * 1024 * 1024
      val bcast = 1L * 1024 * 1024
      val per = Seq("customer", "documents", "lineitem", "nation", "orders")
        .map { t =>
          s"""SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(${widths(t)}) AS BIGINT) AS est_bytes FROM $t"""
        }.mkString("\n         UNION ALL ")
      s"""WITH per AS ($per)
         SELECT table_name, n_rows, est_bytes,
           est_bytes // n_rows AS est_row_bytes,
           GREATEST(CAST(1 AS BIGINT),
             (est_bytes + ${target - 1}) // $target) AS n_partitions,
           est_bytes <= $bcast AS broadcastable
         FROM per ORDER BY table_name"""
    }))
}

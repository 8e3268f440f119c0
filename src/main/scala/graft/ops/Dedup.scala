package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact → n-gram Jaccard → MinHash+LSH → SimHash →
  * embedding cosine (see Similarity for the vector ops).
  *
  * Scale design: every method is shuffle-bounded by (a) hash-groupBy on
  * a fingerprint, or (b) an equi-join on a *bucket key* (LSH band /
  * SimHash chunk / shingle) — never an all-pairs cross join. Hot keys
  * are controlled with document-frequency caps, the standard web-dedup
  * trick, so a 100 TB corpus with a viral boilerplate shingle doesn't
  * produce a quadratic bucket.
  */
object Dedup {

  /** Spread a narrow input across the cluster before a CPU-heavy
    * per-document stage: a small corpus arrives as one parquet split
    * and would otherwise run the shingle/signature expressions on a
    * single core. No-op when the input is already wide (a 100 TB scan
    * has thousands of splits; an extra shuffle would be waste).
    */
  private[ops] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // df.rdd.getNumPartitions is deliberate: it costs one driver-side
    // plan→RDD translation per operator call, but it is the only
    // pre-execution partition count that is CORRECT — the seemingly
    // cheaper executedPlan.outputPartitioning is UnknownPartitioning(0)
    // for AQE roots and non-bucketed scans (empirically: a 16-partition
    // frame reports 0), which would turn this guard into an
    // unconditional repartition that can even NARROW wide frames
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Eagerly materialize a frame consumed by SEVERAL downstream
    * subtrees of one action: localCheckpoint stores the partitions
    * once, and the fresh-attribute LogicalRDD barrier makes every
    * consumer read the stored RDD through a 5-node leaf plan.
    *
    * This replaces the bare `persist(MEMORY_AND_DISK)` idiom at
    * multi-consumer sites (r17): a LAZY persisted frame whose
    * consumers are independent AQE query stages gets materialized by
    * all of them CONCURRENTLY — each racing stage re-computes the
    * full subtree into the same cache blocks, so an expensive build
    * (a signature aggregation, a shingle explode) ran 2-4x depending
    * on scheduling. The pinned bench record showed the symptom as
    * 4-7x pass-to-pass swings on q_dedup_minhash/q_dedup_incremental.
    * The barrier also removes the per-consumer CacheManager probe,
    * which re-canonicalizes the frame's full analyzed subtree.
    */
  private[graft] def materialized(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.freshAttributes(
      df.localCheckpoint())

  /** (id, shingle) with shingles as 64-bit hashes — the shared input of
    * the n-gram Jaccard join and the minhash signature build. Token
    * hashes are bound to a real column first so the n-gram lambda reads
    * a materialized long array (see TextAnalysis.shingleHashesFrom).
    */
  private[graft] def explodedShingleHashes(df: DataFrame, idCol: String,
      textCol: String, n: Int, distinct: Boolean): DataFrame =
    widen(df)
      .withColumn("_th", TextAnalysis.tokenHashes(col(textCol)))
      .select(col(idCol).as("id"),
        explode(TextAnalysis.shingleHashesFrom(col("_th"), n, distinct)).as("shingle"))

  // ---- exact ----

  /** Exact dedup on canonical text: keep the smallest id per
    * fingerprint. Single hash aggregation, fully map-side combinable.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- n-gram Jaccard ----

  /** All pairs with token-n-gram Jaccard ≥ threshold.
    *
    * Plan shape: explode shingles → self-equi-join on shingle →
    * count co-occurrences → |A∩B| / (|A|+|B|−|A∩B|). The join key is
    * the shingle, so co-location comes from one shuffle; `maxShingleDf`
    * drops shingles present in more than that many documents (stop-
    * shingles), which both bounds skew and removes noise.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxShingleDf: Int = 1000): DataFrame =
    ngramJaccardPairsFromShingles(
      explodedShingleHashes(df, idCol, textCol, n, distinct = true),
      threshold, maxShingleDf)

  /** [[ngramJaccardPairs]] over a PRE-BUILT distinct (id, shingle)
    * frame ([[explodedShingleHashes]] output) — the form a pipeline
    * uses when the shingle table is persisted state shared across
    * queries (threshold sweeps, cluster plans, and the pair list all
    * derive from ONE shingle build; at 100 TB the shingle frame is a
    * written table, not something each query re-derives from text).
    */
  def ngramJaccardPairsFromShingles(shingles: DataFrame,
      threshold: Double, maxShingleDf: Int): DataFrame = {
    // Persist the exploded shingle table FIRST: every downstream job
    // (the hot-shingle aggregate, its broadcast subplan, the anti-join,
    // the sizes aggregate, both self-join sides) would otherwise
    // re-evaluate the shingle construction — measured as the dominant
    // cost when re-run 4-5x per invocation. Shingles travel as 64-bit
    // hashes, so the persisted/shuffled rows are two longs, not
    // (long, string). Compact rows, spillable. (An eager checkpoint of
    // the filtered frame was A/B-measured slower — r17.)
    val raw = shingles
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    raw.count() // materialize once, eagerly
    // Stop-shingle removal via aggregate + broadcast anti-join: the hot
    // list is tiny by construction (shingles in >maxShingleDf docs).
    // Hot shingles contribute O(df²) join pairs, so this cap is what
    // keeps the self-join near-linear on skewed corpora. Jaccard is
    // then computed over the FILTERED shingle universe (sizes too).
    val filtered =
      if (maxShingleDf >= Int.MaxValue / 2) raw
      else {
        val hot = raw.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf).select("shingle")
        raw.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val co = filtered.as("a")
      .join(filtered.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    co.join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- MinHash + LSH ----

  /** k minhash values per document: explode shingles once, aggregate k
    * independent mins in a single pass (one shuffle, map-side partial
    * min). Hash family: xxhash64(shingle_hash, seed_i) — re-hashing an
    * 8-byte long k times is far cheaper than re-hashing the shingle
    * string k times, and the min-hash uniformity argument is unchanged.
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, n: Int = 3): DataFrame = {
    // distinct=false: min over a multiset equals min over its set, so
    // the array_distinct pass would be pure waste here
    val sh = explodedShingleHashes(df, idCol, textCol, n, distinct = false)
    val mins: Seq[Column] = (0 until k).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Candidate near-duplicate pairs via banded LSH over the minhash
    * signature (bands × rowsPerBand = k). Two documents are candidates
    * iff at least one band matches exactly; est_jaccard is the fraction
    * of equal minhash components. The join key is (band index, band
    * hash) — equality join, one shuffle, no cross product.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // bands > k would make every band hash an empty slice (identical for
    // all docs → full cross product); a non-divisor silently ignores the
    // signature tail and weakens the bands×rows=k recall guarantee
    require(bands > 0 && bands <= k && k % bands == 0,
      s"need bands to divide k, got k=$k bands=$bands")
    minhashLshPairsFromSignatures(
      minhashSignature(df, idCol, textCol, k, n), k, bands, threshold)
  }

  /** [[minhashLshPairs]] over a PRE-BUILT (id, sig) signature frame —
    * the stored-signature-table form: at 100 TB signatures are computed
    * once per document at ingest and written ([[minhashSignature]] is
    * that job); pair detection band-joins the stored table
    * ([[minhashLshPairsIncremental]] is the batch-vs-stored flavor of
    * the same shape).
    */
  def minhashLshPairsFromSignatures(signatures: DataFrame, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"need bands to divide k, got k=$k bands=$bands")
    // persist: consumed by the band explode AND both re-attach joins;
    // compact (one k-long array per doc), spillable. Lifecycle note:
    // the returned frame is lazy, so we cannot unpersist here — callers
    // in long-lived sessions should spark.catalog.clearCache() after
    // consuming results (Verify/Bench do so between queries). An eager
    // checkpoint here was A/B-measured SLOWER (r17): the extra action +
    // storage write costs more than the lazy cache's duplicate fills.
    val sig = signatures
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    estJaccardOfPairs(lshCandidates(sig, k, bands), sig, k)
      .filter(col("est_jaccard") >= threshold)
  }

  /** Candidate pairs (id_a < id_b) whose signatures agree on at least
    * one LSH band.
    *
    * The band join shuffles only (id, band, band_hash) — 24 bytes/row —
    * instead of dragging the k-element signature through a 16-way
    * explode; signatures are re-attached to the (deduplicated, tiny)
    * candidate pair set afterwards.
    */
  private def lshCandidates(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val banded = bandedOf(sig, k, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-duplicate pairs as candidate generation + exact
    * verification: banded LSH proposes candidates (any band equal),
    * then each candidate's TRUE distinct-shingle Jaccard is computed
    * by a candidate-bounded shingle join and thresholded — the
    * web-scale dedup shape (MinHash recalls, exact similarity
    * decides). Unlike `est_jaccard`, the verified score is a
    * deterministic function of the two token streams, reproducible by
    * any engine that can count n-grams — which is what makes the
    * corpus-prep pipeline's survivor set oracle-checkable end to end
    * (see Pipelines.prepareCorpus / PipelineQueries). A qualifying
    * pair is missed only if every band misses:
    * P ≤ (1 − θ^(k/bands))^bands ≈ 4e-8 per pair at θ = 0.9 with
    * 16×4 banding — and exactly 0 for identical shingle sets, where
    * every band matches.
    *
    * Scale: the verify join is bounded by candidates × shingles per
    * document, never corpus²; everything upstream is the
    * minhashLshPairs plan. No document-frequency cap on the verify
    * universe — skew there is bounded by the candidate set, and the
    * uncapped Jaccard is what external engines reproduce.
    */
  def lshVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, n: Int = 3, threshold: Double = 0.9): DataFrame =
    lshVerifiedPairsFromShingles(
      explodedShingleHashes(df, idCol, textCol, n, distinct = true),
      k, bands, threshold)

  /** [[lshVerifiedPairs]] over a PRE-BUILT distinct (id, shingle)
    * frame — the persisted-shingle-table form (see
    * [[ngramJaccardPairsFromShingles]]).
    */
  def lshVerifiedPairsFromShingles(shingles: DataFrame,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.9): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"need bands to divide k, got k=$k bands=$bands")
    // ONE tokenize+shingle pass feeds everything: the signature build
    // derives from the same materialized distinct-shingle table (min
    // over the distinct set equals min over the multiset, so the
    // signatures are bit-identical to minhashSignature's), and the
    // table then serves both sides of the intersection join. Rows are
    // two longs, spillable.
    //
    // Materialization discipline (r17), replacing the former persist +
    // sh.count + sig.count pair: sh stays a LAZY persist — sig's eager
    // checkpoint below scans it, populating the cache in the same pass,
    // so a separate sh materialize bought nothing but an extra job —
    // but downstream consumers reference it through a fresh-attribute
    // LogicalRDD barrier over the cache-backed RDD. The barrier kills
    // the CACHE LOOKUP canonicalization tax: every reference to a
    // persisted frame re-canonicalizes its full analyzed subtree for
    // the CacheManager probe, and when the shingle frame's lineage is
    // a planted-corpus explode (q_dedup_impact, q_pipeline_corpus)
    // that tree is thousands of nodes, probed once per consumer — the
    // measured driver gap. A LogicalRDD is a leaf: every downstream
    // plan, probe, and AQE re-optimization sees 5 nodes instead.
    val sh0 = shingles
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = org.apache.spark.sql.GraftColumnBridge.freshAttributes(sh0)
    // per-doc shingle-set sizes fold into the SAME id-keyed aggregate
    // as the signature mins (r17): the separate sh.groupBy(id).count
    // pass — a full extra aggregation + exchange over the shingle
    // table — is free here, and the verify step reads sizes from the
    // (tiny, stored) signature frame instead
    val mins: Seq[Column] = (0 until k).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    // sig IS eagerly checkpointed: it is consumed 4x (banded a/b, est
    // attach a/b) by AQE stages that materialize CONCURRENTLY, and its
    // one eager pass also materializes sh's cache
    val sig = org.apache.spark.sql.GraftColumnBridge.freshAttributes(
      sh0.groupBy("id")
        .agg(mins.head, mins.tail :+ count(lit(1)).as("n_sh"): _*)
        .select(col("id"),
          array((0 until k).map(i => col(s"h$i")): _*).as("sig"),
          col("n_sh"))
        .localCheckpoint())
    // est-Jaccard pre-filter before the exact verify: band candidacy
    // alone admits every random band collision and every low-J organic
    // pair; the signature estimate (already in hand, one array zip per
    // pair) cuts those before the intersection join. The 0.4 margin
    // keeps the analytic guarantee: a pair with true J ≥ threshold has
    // est < threshold − 0.4 with P ≤ exp(−2k·0.4²) ≈ 1.3e-9 at k=64
    // (Hoeffding), the same order as the all-bands-miss bound.
    val cand = estJaccardOfPairs(lshCandidates(sig, k, bands), sig, k)
      .filter(col("est_jaccard") >= threshold - 0.4)
      .select(col("id_a"), col("id_b"))
    val sizes = sig.select(col("id"), col("n_sh"))
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("shingle").as("sh")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle").as("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (id, band, band_hash) rows: one per band per signature. */
  private def bandedOf(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    sig.select(col("id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** Attach est_jaccard (fraction of equal minhash components) to
    * (id_a, id_b) candidate pairs from a signature table.
    */
  private def estJaccardOfPairs(cand: DataFrame, sig: DataFrame, k: Int): DataFrame =
    cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / lit(k.toDouble)).as("est_jaccard"))

  /** Incremental near-dedup: pairs between a NEW batch's signatures and
    * a stored corpus signature table (plus new-vs-new), WITHOUT
    * touching corpus documents. The daily-ingest shape at 100 TB:
    * signatures are computed once per document ([[minhashSignature]])
    * and appended to a signature table; each incoming batch band-joins
    * against it — cost scales with batch × matching buckets, never
    * with corpus². Corpus-vs-corpus pairs are deliberately excluded
    * (they were found when those documents were ingested). Ids must be
    * unique across both tables.
    */
  def minhashLshPairsIncremental(newSig: DataFrame, corpusSig: DataFrame,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    require(bands > 0 && bands <= k && k % bands == 0,
      s"need bands to divide k, got k=$k bands=$bands")
    val fresh = newSig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persist the union too: it feeds the band join AND both
    // est_jaccard re-attach joins — without it a computed corpusSig
    // (as in the self-contained driver query) is evaluated three times.
    // (Eager checkpoints here were A/B-measured slower — r17.)
    val all = corpusSig.select(col("id"), col("sig")).unionByName(fresh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // left side is always a new doc, so corpus×corpus never joins; a
    // new×new pair appears in both orders → normalize + dedupe.
    val cand = bandedOf(fresh, k, bands).as("a")
      .join(bandedOf(all, k, bands).as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash")
          && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    estJaccardOfPairs(cand, all, k).filter(col("est_jaccard") >= threshold)
  }

  // ---- duplicate clusters (connected components) ----

  /** Cluster ids over an undirected near-duplicate pair graph: every
    * document connected (transitively) through pairs gets the minimum
    * doc id of its component as `cluster_id`. This is the step that
    * turns pairwise dedup output into keep/drop decisions — keep one
    * representative per cluster, drop the rest.
    *
    * Algorithm: iterative min-label propagation with pointer jumping.
    * Each round every node takes the min of its own label and its
    * neighbors' labels (one equi-join on the edge list plus one hash
    * aggregation), then resolves its label through the label's own
    * label (one self-join). The neighbor step alone moves a component's
    * minimum one hop per round — O(diameter) rounds, which a long
    * path-shaped component would exhaust silently; the jumping step
    * doubles the distance covered each round, making convergence
    * O(log diameter). Each round materializes via `localCheckpoint` to
    * truncate lineage (an unbounded iterative plan re-executes every
    * prior round at every action). Convergence is certified by the
    * label-sum: labels only ever decrease, so an unchanged sum means a
    * fixpoint — one cheap aggregate instead of a change-count join.
    * Exhausting `maxIter` without the certificate throws: wrong
    * cluster ids must never be returned silently.
    *
    * Scale: state is (node, label) pairs — two longs per distinct doc
    * appearing in any pair — and each round is one shuffle bounded by
    * the edge count. The same loop distributed over 1000 executors is
    * the standard large-graph CC shape (GraphX/GraphFrames implement
    * the same propagation with star-contraction shortcuts).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // symmetrize via a single explode, NOT a self-union: a union would
    // evaluate the (potentially expensive) pair subtree once per branch
    // before the persist below ever sees a row
    val edges = pairs.select(explode(array(
        struct(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst")),
        struct(col(idB).cast("long").as("src"), col(idA).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    def labelSum(l: DataFrame): Long = {
      val r = l.agg(sum(col("label"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // materialize a round's labels AND mint fresh attribute ids: the
    // loop re-joins each round's output against the edge list and
    // itself, and reusing the same attributes across the union +
    // self-join pattern trips Catalyst's Union constraint rewriting.
    // freshAttributes keeps both properties (new LogicalRDD output
    // attrs, truncated lineage) without the external-Row round-trip.
    def materialize(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftColumnBridge.freshAttributes(
        df.localCheckpoint())
    // seed: own id vs min direct neighbor (first propagation round for free)
    var labels = materialize(edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("m"))
      .select(col("node"), least(col("node"), col("m")).as("label")))
    var sum0 = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      // materialized BEFORE the self-join below (fresh attributes, no
      // Union left in the plan)
      val viaNbr = materialize(
        prop.unionByName(labels.select(col("node"), col("label")))
          .groupBy(col("node")).agg(min(col("label")).as("label")))
      // pointer jumping: label := label(label). Every label is itself a
      // node of the graph (labels are node ids), so the lookup is a
      // self-join; least() guards the round where the looked-up row
      // still carries a larger label than the looker.
      val next = materialize(viaNbr.as("l")
        .join(viaNbr.select(col("node").as("label"), col("label").as("ll")).as("r"),
          Seq("label"), "left")
        .select(col("node"), least(col("label"), coalesce(col("ll"), col("label"))).as("label")))
      val sum1 = labelSum(next)
      converged = sum1 == sum0
      sum0 = sum1
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // labels are fully materialized (localCheckpoint), so the edge cache
    // has no remaining consumer — release it rather than leaking a
    // cached block per call in a long-lived session
    edges.unpersist(blocking = false)
    labels.select(col("node").as("id"), col("label").as("cluster_id"))
  }

  // ---- passage-level dedup ----

  /** Substring/passage-level dedup: production corpora repeat PASSAGES
    * (boilerplate, quoted paragraphs, licence blocks) across documents
    * that are not near-duplicates as wholes, so document-granular dedup
    * misses them. Splits each document into fixed-size token passages
    * ([[TextAnalysis.chunkTokens]], overlap 0), keeps the globally
    * FIRST occurrence of each distinct passage (ordered by doc id then
    * passage index), and reassembles every document from its kept
    * passages. Returns (id, n_passages, n_kept, dedup_text).
    *
    * Scale shape: one shuffle on the passage fingerprint (md5 — 128
    * bits, collision-safe at web scale where a 64-bit key would start
    * merging distinct passages), a row_number over each fingerprint's
    * (tiny) duplicate group, then one aggregation back to documents.
    * No joins, no all-pairs anything: cost is linear in total passages.
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
      passageTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pass = widen(df)
      .select(col(idCol).as("id"),
        posexplode(TextAnalysis.chunkTokens(col(textCol), passageTokens, 0)))
      .select(col("id"), col("pos").cast("long").as("p_idx"), col("col").as("passage"))
    val firstSeen = Window.partitionBy(col("fp")).orderBy(col("id"), col("p_idx"))
    pass
      .withColumn("fp", md5(col("passage").cast("binary")))
      .withColumn("kept", row_number().over(firstSeen) === 1)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("p_idx"), col("passage"))))),
          x => x.getField("passage")), " ").as("dedup_text"))
  }

  /** Line-level boilerplate removal (the CCNet / RefinedWeb line-dedup
    * step, `select.go`-era engines have no equivalent): a line whose
    * trimmed text recurs in >= `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, licence headers) and is
    * removed from EVERY document — unlike [[passageDedup]], which keeps
    * the first occurrence, boilerplate has no "first" worth keeping.
    * Documents are reassembled from their surviving lines in original
    * order. Returns (id, n_lines, n_kept, clean_text); empty/blank
    * lines are dropped before counting so they neither count as
    * boilerplate nor pad n_lines.
    *
    * Scale shape: lines explode once; the only shuffles are a groupBy
    * on the 128-bit line fingerprint (count of distinct docs — partial
    * aggregation collapses each document's repeats map-side) and an
    * equi-join of lines against the (small: repeated-lines-only)
    * boilerplate set, then one aggregation back to documents. Linear
    * in total lines, no all-pairs stage; a viral boilerplate line costs
    * one hot fingerprint in a count-distinct, not a quadratic bucket.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame = {
    val lines = widen(df)
      .select(col(idCol).as("id"),
        posexplode(filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => length(l) > 0)))
      .select(col("id"), col("pos").cast("long").as("l_idx"), col("col").as("line"))
      .withColumn("fp", md5(col("line").cast("binary")))
    val boiler = lines.groupBy(col("fp"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("fp"), lit(true).as("boiler"))
    lines.join(boiler, Seq("fp"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("boiler").isNull,
            struct(col("l_idx"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
  }

  /** Train→eval contamination screen (decontamination): for every
    * document of `eval`, how many of its distinct token-n-grams appear
    * anywhere in `train` — the standard benchmark-leakage check run
    * before an evaluation set is trusted. Returns
    * (id, n_ngrams, n_hit, contaminated) with contaminated = any hit.
    *
    * Scale shape: both corpora explode to 64-bit shingle hashes
    * (injective stand-ins for the n-gram strings), the train side
    * deduplicates to a distinct-shingle set, and one equi-join on the
    * hash marks eval hits — the incremental-dedup join pattern, so
    * cost scales with eval size × bucket hits, never train × eval.
    * Docs with zero non-empty tokens have no n-grams and drop out.
    */
  def crossCorpusContamination(eval: DataFrame, train: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val evalSh = explodedShingleHashes(eval, idCol, textCol, n, distinct = true)
    val trainSh = explodedShingleHashes(train, idCol, textCol, n, distinct = true)
      .select(col("shingle")).dropDuplicates("shingle")
      .withColumn("hit", lit(1L))
    evalSh.join(trainSh, Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contaminated", col("n_hit") > 0)
  }

  /** Span-level contamination map (the GPT-3 / Pile decontamination
    * shape): [[crossCorpusContamination]] says HOW MUCH of an eval doc
    * leaks from train; this says WHERE — hit n-gram positions merge
    * into maximal contaminated token spans (two hits merge when their
    * [p, p+n) windows overlap or touch), which is what span-removal
    * decontamination actually cuts. Returns one row per eval doc:
    * (id, n_hits, n_spans, covered_tokens, max_span), zeros for clean
    * docs.
    *
    * Scale shape: the train side collapses to a distinct-shingle set
    * and the only corpus-scale shuffle is the hash equi-join (the
    * decontaminate pattern); the island-merge window runs over HIT
    * positions only — sparse by construction for any corpus worth
    * training on — partitioned by doc, never a global sort.
    */
  def contaminationSpans(eval: DataFrame, train: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val evalSh = widen(eval)
      .withColumn("_th", TextAnalysis.tokenHashes(col(textCol)))
      .select(col(idCol).as("id"),
        posexplode(TextAnalysis.shingleHashesFrom(col("_th"), n,
          distinct = false)).as(Seq("pos", "shingle")))
    val trainSh = explodedShingleHashes(train, idCol, textCol, n,
        distinct = true)
      .select(col("shingle")).dropDuplicates("shingle")
    val hits = evalSh.join(trainSh, Seq("shingle"))
      .select(col("id"), col("pos").cast("long").as("pos"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prev = lag(col("pos"), 1).over(w)
    val spans = hits
      .withColumn("ns", when(prev.isNull || col("pos") > prev + n, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(w))
      .groupBy(col("id"), col("sid"))
      .agg(count(lit(1)).as("nh"),
        (max(col("pos")) + n - min(col("pos"))).as("len"))
      .groupBy(col("id"))
      .agg(sum(col("nh")).as("n_hits"), count(lit(1)).as("n_spans"),
        sum(col("len")).as("covered_tokens"), max(col("len")).as("max_span"))
    eval.select(col(idCol).as("id")).join(spans, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))
  }

  /** Per-source dedup-impact dashboard: for each source, how many docs
    * participate in a verified near-dup pair ([[lshVerifiedPairs]]),
    * split by whether the partner lives in the SAME source (internal
    * redundancy — fix the crawler) or ANOTHER source (cross-source
    * syndication — fix the mixture weights). The report that decides
    * where dedup budget actually goes. Returns
    * (source, n_docs, n_dup_docs, n_dup_within, n_dup_cross).
    *
    * Scale shape: everything [[lshVerifiedPairs]] costs plus two
    * pair-bounded equi-joins to attach sources and one doc-level
    * aggregate — nothing new is corpus-quadratic.
    */
  def sourceDedupImpact(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, threshold: Double = 0.9): DataFrame = {
    val src = df.select(col(idCol).cast("long").as("id"),
      col(srcCol).as("source"))
    val pairs = lshVerifiedPairs(df, idCol, textCol, threshold = threshold)
    val withSrc = pairs
      .join(src.select(col("id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
      .withColumn("same", col("src_a") === col("src_b"))
    val members = withSrc
      .select(col("id_a").as("id"), col("same"))
      .unionByName(withSrc.select(col("id_b").as("id"), col("same")))
    val perDoc = members.groupBy(col("id"))
      .agg(max(when(col("same"), 1L).otherwise(0L)).as("has_within"),
        max(when(!col("same"), 1L).otherwise(0L)).as("has_cross"))
    src.join(perDoc, Seq("id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("has_within").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(coalesce(col("has_within"), lit(0L))).as("n_dup_within"),
        sum(coalesce(col("has_cross"), lit(0L))).as("n_dup_cross"))
  }

  /** Exact substring duplication audit (the suffix-array dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", computed by hashed char-k-gram sampling instead of a
    * suffix array): for every sampled character position (stride
    * `stride`), the k-char substring starting there is fingerprinted
    * with xxhash64; a fingerprint occurring at >= 2 positions anywhere
    * in the corpus marks a duplicated substring. Per document this
    * yields (n_grams sampled, n_dup duplicated, dup_frac) — the
    * memorization-risk statistic used to decide substring-level dedup.
    *
    * Scale: gram extraction is a codegen'd per-row expression (no
    * UDF); the only shuffle is the fingerprint groupBy + equi-join,
    * both on 8-byte longs, cost linear in chars/stride. `stride` is
    * the 100 TB knob — stride s samples 1/s of positions while still
    * catching any duplicated run of length >= k + s - 1 at full
    * confidence (some window into the run is sampled in both copies
    * only when copies are aligned; for unaligned copies detection is
    * probabilistic per position but near-certain over long runs).
    * Docs shorter than k chars contribute zero grams and report
    * dup_frac 0.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 40, stride: Int = 10): DataFrame = {
    require(k > 0 && stride > 0, "k and stride must be positive")
    val txt = lower(trim(col(textCol)))
    val len = length(txt)
    val grams = when(len >= k,
        transform(sequence(lit(0), len - k, lit(stride)),
          i => xxhash64(txt.substr(i + 1, lit(k)))))
      .otherwise(array().cast("array<bigint>"))
    // explode_outer keeps sub-k docs as a single null-gram row, so the
    // per-doc aggregate covers every document in one pass (no third
    // scan + re-join to restore them); the null gram groups once in
    // the occurrence count and joins nothing (null never equi-matches)
    val pos = widen(df).select(col(idCol).as("id"), explode_outer(grams).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = pos.filter(col("g").isNotNull)
      .groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("g"), lit(1L).as("is_dup"))
    pos.join(dup, Seq("g"), "left")
      .groupBy(col("id"))
      .agg(count(col("g")).as("n_grams"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      .select(col("id"), col("n_grams"), col("n_dup"),
        round(when(col("n_grams") > 0,
          col("n_dup").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)), 6).as("dup_frac"))
  }

  /** Substring-duplication REMOVAL (the cut [[substringDupStats]] only
    * reports — Lee et al. 2022's actual operation, at token
    * granularity): every token-`k`-gram occurrence that is not the
    * globally FIRST occurrence of that gram (ordered by (id, position),
    * the same first-wins rule as [[passageDedup]]) marks its k covered
    * token positions for removal; surviving tokens reassemble into
    * `dedup_text`. A repeated span of length L ≥ k in a later document
    * is covered end to end by its k-grams' removal windows, so the
    * whole span disappears while the first occurrence keeps it.
    * Returns (id, n_tokens, n_kept, dedup_text); text is canonical
    * (lowercased, single-spaced), the [[TextAnalysis.fingerprintMd5]]
    * granularity. Docs under k tokens are never cut.
    *
    * Scale shape: gram extraction is the codegen'd sliding-hash
    * expression; duplicated grams are found with a map-combinable
    * min/count aggregate on the 8-byte gram key (NOT a row_number
    * window — a viral boilerplate gram at 100 TB would funnel its
    * whole occurrence list through one window task, whereas min+count
    * partials combine map-side), removal positions come from one
    * bounded explode (k rows per duplicated occurrence), and
    * reassembly is one aggregation keyed by id. Nothing is quadratic;
    * both persisted frames are spillable.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    import org.apache.spark.storage.StorageLevel
    // one tokenization feeds BOTH the gram side and the reassembly
    // side, so gram positions and token positions index the same
    // (empty-token-filtered) array
    val base = widen(df).select(col(idCol).as("id"),
        filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0).as("_tok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val grams = base
      .withColumn("_th", transform(col("_tok"), t => xxhash64(t)))
      .select(col("id"), posexplode(
        when(size(col("_th")) >= k,
          TextAnalysis.shingleHashesFrom(col("_th"), k, distinct = false))
          .otherwise(array().cast("array<bigint>"))))
      .select(col("id"), col("pos").cast("long").as("p"), col("col").as("g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dupFirsts = grams.groupBy(col("g"))
      .agg(min(struct(col("id"), col("p"))).as("_first"), count(lit(1)).as("_occ"))
      .filter(col("_occ") >= 2)
      .select(col("g"), col("_first"))
    val removed = grams.join(dupFirsts, Seq("g"))
      .filter(struct(col("id"), col("p")) =!= col("_first"))
      .select(col("id"), explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .dropDuplicates("id", "pos") // overlapping windows cover a position many times
      .withColumn("_rm", lit(1))
    base.select(col("id"), posexplode_outer(col("_tok")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
      .join(removed, Seq("id", "pos"), "left")
      .groupBy(col("id"))
      .agg(count(col("tok")).as("n_tokens"),
        sum(when(col("tok").isNotNull && col("_rm").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("_rm").isNull, struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ").as("dedup_text"))
  }

  /** Cross-source shingle-overlap matrix: for every pair of corpus
    * sources, the Jaccard similarity of their DISTINCT token-n-gram
    * shingle sets — the corpus-curation statistic that reveals mirror
    * sites, shared boilerplate, and double-counted crawls before
    * mixture weights are chosen.
    *
    * Plan: one (source, shingle-hash) distinct pass, then a self
    * equi-join on the shingle key. A shingle present in m sources
    * contributes m(m-1)/2 pair rows — bounded by the SOURCE count
    * squared (tiny, independent of corpus size), so unlike document
    * pair joins there is no skew cap needed: cost is linear in total
    * distinct (source, shingle) rows.
    */
  def sourceOverlapMatrix(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    // materialized: consumed by the sizes aggregate and both self-join
    // sides — see [[materialized]]
    val sh = materialized(widen(df)
      .withColumn("_th", TextAnalysis.tokenHashes(col(textCol)))
      .select(col(srcCol).as("src"),
        explode(TextAnalysis.shingleHashesFrom(col("_th"), n)).as("g"))
      .dropDuplicates("src", "g"))
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val co = sh.as("a")
      .join(sh.as("b"), col("a.g") === col("b.g") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    co.join(sizes.select(col("src").as("src_a"), col("n").as("n_a")), Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("n").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 6).as("jaccard"))
  }

  // ---- SimHash ----

  /** (id, sim) with the 64-bit SimHash per document, computed as a
    * codegen'd hash aggregation: explode tokens, hash each once, and
    * take 64 parallel ±1-vote sums (map-side combinable, one shuffle
    * keyed by id). PipelineOpsSpec cross-checks it bit-for-bit against
    * an independent higher-order-array formulation — including the
    * empty-document case (`split` yields the single empty token) and
    * NULL text (explode_outer keeps the row; the null hash makes every
    * vote null, so the fingerprint is 0) — while this hot path runs
    * inside whole-stage codegen instead of an interpreted 64-wide
    * zip_with per token.
    */
  def simhashDocs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = widen(df)
      .select(col(idCol).as("id"),
        explode_outer(TextAnalysis.tokens(col(textCol))).as("_t"))
      // xxhash64(null) would return the seed, not null — keep null
      // tokens null so null-text docs aggregate to fingerprint 0
      .select(col("id"), when(col("_t").isNotNull, xxhash64(col("_t"))).as("_h"))
    val votes = (0 until 64).map(i =>
      sum(shiftright(col("_h"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"v$i"))
    val bits = (0 until 64).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    tok.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), bits.as("sim"))
  }

  /** Near-duplicate candidate pairs by SimHash: split the 64-bit
    * fingerprint into `maxHamming + 1` chunks; any pair within Hamming
    * distance ≤ maxHamming must share at least one chunk (pigeonhole —
    * the chunk count is derived from the parameter, so the guarantee
    * holds for ANY maxHamming < 64, not just the 4-chunk ≤ 3 case), so
    * an equality join on (chunk index, chunk value) finds all of them
    * without a cross join. Pairs are then verified with the true
    * Hamming distance.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromDocs(simhashDocs(df, idCol, textCol), maxHamming)

  /** [[simhashPairs]] over a PRE-BUILT (id, sim) fingerprint frame —
    * the stored-fingerprint-table form (fingerprints are per-document
    * write-once state at scale, exactly like minhash signatures).
    */
  def simhashPairsFromDocs(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"need 0 <= maxHamming < 64, got $maxHamming")
    val nChunks = maxHamming + 1
    // chunk c covers bits [bounds(c), bounds(c+1)) — widths differ by
    // at most one bit when nChunks does not divide 64
    val bounds = (0 to nChunks).map(c => c * 64 / nChunks)
    // persist: the fingerprint frame feeds both self-join sides
    val withSim = sims
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunked = withSim.select(col("id"), col("sim"),
      posexplode(array((0 until nChunks).map { c =>
        val lo = bounds(c)
        val w = bounds(c + 1) - lo
        val mask = if (w == 64) -1L else (1L << w) - 1L
        shiftright(col("sim"), lo).bitwiseAND(lit(mask))
      }: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "chunk_val")
    val popcnt = (x: Column) => bit_count(x)
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.chunk_val") === col("b.chunk_val")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", popcnt(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct
    * shingles whose first occurrence (smallest id) is this doc — the
    * "what does this doc add to the corpus" curation signal (a copy of
    * earlier material scores 0, fresh text scores near 1; data-
    * selection papers rank acquisition batches by exactly this).
    * One shingle pass feeds both the first-occurrence aggregate and
    * the per-doc rollup; the join is shingle-bucketed, never pairwise.
    * Counts are integers and the ratio is one division — engine-exact.
    */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = explodedShingleHashes(df, idCol, textCol, n, distinct = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = sh.groupBy("shingle").agg(min(col("id")).as("first_id"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("first_id") === col("id")).cast("long")).as("n_novel"))
      .withColumn("novelty", round(
        col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** Dedup threshold sensitivity curve: for each candidate Jaccard
    * threshold, how many near-dup pairs fire and how many docs the
    * keep-smallest-id rule would drop. ONE [[lshVerifiedPairs]] run at
    * the lowest threshold feeds every higher cut (pairs carry their
    * exact Jaccard; a threshold is a filter, not a recompute) — the
    * tuning loop costs one dedup pass instead of |thresholds|.
    * Thresholds must stay ≥ the banding's reliable-recall regime
    * (≥ 0.9 with the 16×4 default) for the exact-oracle property to
    * hold.
    */
  def dedupSweep(df: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double], k: Int = 64, bands: Int = 16,
      n: Int = 3): DataFrame =
    dedupSweepFromShingles(
      explodedShingleHashes(df, idCol, textCol, n, distinct = true),
      thresholds, k, bands)

  /** [[dedupSweep]] over a PRE-BUILT distinct (id, shingle) frame —
    * the persisted-shingle-table form (see
    * [[ngramJaccardPairsFromShingles]]).
    */
  def dedupSweepFromShingles(shingles: DataFrame,
      thresholds: Seq[Double], k: Int = 64, bands: Int = 16): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val pairs = lshVerifiedPairsFromShingles(shingles, k, bands,
      threshold = thresholds.min)
    pairs.withColumn("threshold", explode(typedlit(thresholds.sorted)))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_docs_dropped"))
  }

  /** Leakage-safe train/test split: exact duplicates ALWAYS land in the
    * same split. A per-doc hash split ([[Sampling.md5TrainTestSplit]])
    * puts two byte-identical documents on opposite sides of the
    * boundary with probability 2·p·(1−p) each — the classic eval-set
    * contamination — so the split key here is the duplicate GROUP's
    * representative (min id over the md5-fingerprint class), not the
    * doc id. Membership is the same engine-portable md5-prefix
    * threshold as [[Sampling.md5SplitLabel]], so an external system
    * recomputes the exact assignment.
    *
    * Plan: groupBy on the 16-byte fingerprint picks the
    * representative, then a fingerprint equi-join carries it back —
    * both sides hash-partition on `fp`, so the join reuses the
    * aggregate's exchange and adds no new corpus shuffle; the split
    * label itself is a per-row expression. Nothing is pairwise, and
    * group skew is bounded by the duplicate multiplicity (a
    * pathological billion-copy document still reduces map-side).
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      trainPct: Int): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct in (0,100)")
    val fp = df.select(col(idCol).as("id"),
      TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
    val rep = fp.groupBy(col("fp")).agg(min(col("id")).as("rep_id"))
    fp.join(rep, Seq("fp"))
      .select(col("id"), col("rep_id"),
        Sampling.md5SplitLabel(col("rep_id"),
          Seq("train" -> trainPct, "test" -> (100 - trainPct))).as("split"))
  }

  /** Winnowing-based match candidates: documents sharing at least
    * `minShared` winnow fingerprints ([[TextAnalysis
    * .winnowFingerprints]]). By the winnowing guarantee, any pair with
    * a common run of ≥ w+k−1 tokens shares at least one selected
    * fingerprint, so this finds COPIED-PASSAGE relations (quotes,
    * boilerplate, stitched documents) that whole-document Jaccard
    * scores far below its threshold — the MOSS use case at corpus
    * scale.
    *
    * Plan shape: per-row fingerprinting (zero shuffle) → explode →
    * one equi-join on the 16-char fingerprint — identical to the
    * shingle/band dedup family, never pairwise over the corpus.
    * `maxFpDf` drops fingerprints present in more than that many docs
    * (stop-fingerprints): a boilerplate hash shared by a million docs
    * would otherwise fan out a million² pair rows — the cap is the
    * same skew bound the shingle joins use, applied as a broadcast
    * anti-join. The exploded fingerprint table is persisted once and
    * feeds the hot-list and both join sides.
    */
  def winnowMatchPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxFpDf: Int = 1000): DataFrame =
    winnowMatchPairsFromFps(explodedWinnowFps(df, idCol, textCol, k, w),
      minShared, maxFpDf)

  /** The exploded (id, fp) winnow-fingerprint frame — the persisted
    * index form of [[winnowMatchPairs]]'s input (a MOSS deployment
    * fingerprints each document once and stores the postings).
    */
  def explodedWinnowFps(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame =
    widen(df).select(col(idCol).cast("long").as("id"),
      explode(TextAnalysis.winnowFingerprints(col(textCol), k, w)).as("fp"))

  /** [[winnowMatchPairs]] over a PRE-BUILT (id, fp) fingerprint frame
    * ([[explodedWinnowFps]] output).
    */
  def winnowMatchPairsFromFps(fingerprints: DataFrame,
      minShared: Int = 2, maxFpDf: Int = 1000): DataFrame = {
    val fps = fingerprints
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxFpDf).select(col("fp"))
    val cold = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    cold.select(col("fp"), col("id").as("id_a"))
      .join(cold.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus release plan over near-duplicate clusters: for every doc,
    * (a) its cluster representative (connected-component min id over
    * [[ngramJaccardPairs]], own id for singletons), (b) a leakage-safe
    * split label keyed on that representative — the [[leakageSafeSplit]]
    * guarantee extended from exact to NEAR duplicates, so paraphrased
    * copies can't straddle train/test either — and (c) the cluster's
    * quality-keep winner: the member with the most bpe-ish tokens
    * (tie → min id), the RefinedWeb-style "keep the longest version"
    * rule, with `is_kept` marking survivors of cluster dedup.
    *
    * One pair build + one CC run feeds all three decisions; the
    * keep-winner is a max over (score, −id) structs grouped by the
    * cluster key, and the join back is co-partitioned on that key, so
    * beyond the dedup machinery itself the plan adds one aggregate and
    * two same-key joins — nothing pairwise, nothing collected.
    */
  def dedupClusterPlan(df: DataFrame, idCol: String, textCol: String,
      trainPct: Int, n: Int = 3, threshold: Double = 0.2,
      maxShingleDf: Int = 1000): DataFrame =
    dedupClusterPlanFromShingles(df, idCol, textCol,
      explodedShingleHashes(df, idCol, textCol, n, distinct = true),
      trainPct, threshold, maxShingleDf)

  /** [[dedupClusterPlan]] with the pair build running over a PRE-BUILT
    * distinct (id, shingle) frame for `df` (the persisted-shingle-table
    * form); the quality scores still come from the text column.
    */
  def dedupClusterPlanFromShingles(df: DataFrame, idCol: String,
      textCol: String, shingles: DataFrame, trainPct: Int,
      threshold: Double = 0.2, maxShingleDf: Int = 1000): DataFrame =
    dedupClusterPlanFromPairs(df, idCol, textCol,
      ngramJaccardPairsFromShingles(shingles, threshold, maxShingleDf),
      trainPct)

  /** [[dedupClusterPlanFromShingles]] over a PRE-BUILT near-dup pair
    * frame — the stored-pair-table form: at scale the pair list is the
    * pairing job's written output (the job q_dedup_ngram prices), and
    * the release plan is a downstream consumer reading that table.
    */
  def dedupClusterPlanFromPairs(df: DataFrame, idCol: String,
      textCol: String, pairs: DataFrame, trainPct: Int): DataFrame = {
    val cc = connectedComponents(pairs)
    val scored = df.select(col(idCol).cast("long").as("id"),
      TextAnalysis.bpeishTokenCount(col(textCol)).as("score"))
    val labeled = scored.join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("rep_id"), col("score"))
    val best = labeled.groupBy(col("rep_id"))
      .agg(max(struct(col("score"), (-col("id")).as("nid"))).as("_m"))
      .select(col("rep_id"), (-col("_m.nid")).as("keep_id"))
    labeled.join(best, Seq("rep_id"))
      .select(col("id"), col("rep_id"),
        Sampling.md5SplitLabel(col("rep_id"),
          Seq("train" -> trainPct, "test" -> (100 - trainPct))).as("split"),
        col("keep_id"), (col("id") === col("keep_id")).as("is_kept"))
  }

  /** Near-dup EXPLANATION: for each candidate pair, the longest run of
    * consecutive matching token n-grams — the "show me WHERE they
    * overlap" step after any dedup detector fires, and the evidence a
    * removal decision gets reviewed on. Matching positions group into
    * diagonal islands (diag = pos_a − pos_b; consecutive positions on
    * one diagonal are one contiguous copied span, the classic dot-plot
    * argument), islands reduce to (start_a, start_b, length), and the
    * longest survives per pair under a total order. Grams are matched
    * as STRINGS (array_join of token slices), so any engine replays
    * the match set exactly — no hash function to mirror.
    *
    * Scale shape: gram explode is per-DOC-in-a-pair, not per-corpus —
    * the pair list bounds everything; the island window partitions by
    * (pair, diag), never more than one doc's grams in a partition.
    */
  def matchSpans(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(coalesce(col(textCol), lit("")))
    val g = docs.withColumn(s"${textCol}_toks", toks)
      .select(col(idCol).as("_id"), col(s"${textCol}_toks"))
      .select(col("_id"),
        // the short-doc guard is load-bearing: sequence(1, 0) is the
        // DESCENDING array [1, 0], and slice(toks, 0, n) throws — one
        // sub-n-token doc anywhere in the corpus would kill the query
        posexplode(expr(
          s"CASE WHEN size(${textCol}_toks) >= $n THEN " +
            s"transform(sequence(1, size(${textCol}_toks) - ${n - 1}), " +
            s"i -> array_join(slice(${textCol}_toks, i, $n), ' ')) " +
            s"ELSE array() END"))
          .as(Seq("_p", "_gram")))
      .select(col("_id"), (col("_p") + 1).cast("long").as("_p"),
        col("_gram"))
    val m = pairs
      .join(g.select(col("_id").as("id_a"), col("_p").as("pos_a"),
        col("_gram").as("gram")), Seq("id_a"))
      .join(g.select(col("_id").as("id_b"), col("_p").as("pos_b"),
        col("_gram").as("gram")), Seq("id_b", "gram"))
    val wd = Window.partitionBy(col("id_a"), col("id_b"), col("_diag"))
      .orderBy(col("pos_a"))
    val islands = m
      .withColumn("_diag", col("pos_a") - col("pos_b"))
      .withColumn("_isl", col("pos_a") -
        row_number().over(wd).cast("long"))
      .groupBy(col("id_a"), col("id_b"), col("_diag"), col("_isl"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        count(lit(1)).as("len_ngrams"))
    val best = Window.partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("len_ngrams").desc, col("start_a"), col("start_b"))
    islands.withColumn("_rn", row_number().over(best))
      .filter(col("_rn") === 1)
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"),
        col("len_ngrams"), (col("len_ngrams") + (n - 1)).as("len_tokens"))
  }

  /** Line-permutation-invariant exact dedup: documents whose non-empty
    * trimmed LINES form the same multiset match even when the lines
    * were reordered — the scraped-page section-shuffle / list-reorder
    * duplicates that byte-exact dedup misses entirely and Jaccard
    * near-dedup only catches above its threshold. Lines are the right
    * unit because their boundaries are content-defined: a reordering
    * preserves each line verbatim, whereas positional token chunks
    * would re-segment differently after the shuffle. The order-free
    * fingerprint is md5 over the SORTED list of per-line md5s: sorting
    * the 16-byte line hashes (not the line text) keeps the row cost
    * O(lines log lines), and the rest is the same tiny fingerprint
    * groupBy as [[exact]] — one corpus scan, one shuffle of
    * (id, 32-byte fp) rows. Single-line documents degrade to exact
    * dedup (modulo surrounding whitespace). The group member list is
    * safe to collect: its size is the duplicate multiplicity, not the
    * corpus.
    */
  def permutationInvariantGroups(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)),
      l => length(l) > 0)
    df.select(col(idCol).as("id"),
        md5(array_join(array_sort(transform(lines, l => md5(l))), ","))
          .as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col("id"))).as("ids"))
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** 10x scale probe (reproducible version of the round-1 ad-hoc probe):
  * synthesizes a 6M-row lineitem and a 50k-doc corpus by unioning
  * sf0.1 ten times with offset keys (worst-case duplication: every
  * document has 9 exact copies), then times the flagship aggregate and
  * the three fuzzy-dedup operators. Results recorded in BASELINE.md.
  *
  * Run: SPARK_GRAFT_CPUS=8 sbt "runMain graft.ScaleProbe"
  * Writes only under /tmp/graft_scale10.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = "/tmp/graft_scale10"
    val spark = Sessions.local("graft-scale-probe")

    // guard on the _SUCCESS marker of the LAST write — the directory
    // itself appears at write START, so only the marker proves the
    // synthesis completed. Cached artifacts under /tmp (incl.
    // corpus_sig/ivf_idx below) are tied to the current hash/centroid
    // scheme: rm -rf /tmp/graft_scale10 after changing signature code.
    if (!Files.exists(Paths.get(s"$out/documents.parquet/_SUCCESS"))) {
      val li = Tables.load(spark, base, "lineitem")
      (0 until 10).map(i => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(i * 100000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      val docs = Tables.load(spark, base, "documents")
      (0 until 10).map(i => docs.withColumn("doc_id",
          col("doc_id") + lit(i * 10000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"[probe] synthesized 10x data under $out")
    }

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }

    // round-3 probes run the actual SparkEntry queries against the 10x
    // dir, so the probed plan is exactly the production plan: orders and
    // events scale 10x (offset keys), the customer dim copies 1x (dims
    // don't scale with the fact at 100 TB either)
    if (!Files.exists(Paths.get(s"$out/orders.parquet/_SUCCESS"))) {
      val o = Tables.load(spark, base, "orders")
      (0 until 10).map(i => o.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * 100000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
    }
    if (!Files.exists(Paths.get(s"$out/events.parquet/_SUCCESS"))) {
      // raw read keeps ts as nanos long (conf set by loadEvents), so the
      // 10x copy round-trips through Tables.load like the original
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val e = spark.read.parquet(s"$base/events.parquet")
      (0 until 10).map(i => e.withColumn("event_id",
          col("event_id") + lit(i * 100000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    if (!Files.exists(Paths.get(s"$out/customer.parquet/_SUCCESS")))
      Tables.load(spark, base, "customer")
        .write.mode("overwrite").parquet(s"$out/customer.parquet")

    val li = Tables.load(spark, out, "lineitem")
    val docs = Tables.load(spark, out, "documents")
    println(s"[probe] cpus=${Sessions.cpus} lineitem=${li.count()} docs=${docs.count()}")

    time("q1 shape over 6M rows") {
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base"),
          count(lit(1)).as("n"))
        .count()
    }
    time("tpch q3 shape: 6M lineitem ⋈ 1.5M orders ⋈ customer dim") {
      SparkEntry.queries("q_tpch_q3")(spark, out).count()
    }
    time("sessionize 1M events (gaps-and-islands)") {
      SparkEntry.queries("q_sessionize")(spark, out).count()
    }
    time("tf-idf over 50k docs") {
      SparkEntry.queries("q_tf_idf")(spark, out).count()
    }
    time("minhash LSH pairs, 50k docs, 9 exact copies each") {
      graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 64, bands = 16, threshold = 0.35).count()
    }
    time("simhash pairs, 50k docs") {
      graft.ops.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count()
    }
    time("ngram Jaccard pairs, 50k docs") {
      graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.2, maxShingleDf = 50).count()
    }
    time("LSH + exact-verified pairs, 50k docs (225k true pairs to verify)") {
      // worst-case duplication: every doc's 9 exact copies make every
      // candidate a TRUE pair, so the est pre-filter cuts nothing and
      // the verify join runs at full candidate volume — the upper
      // bound on verification cost at this corpus size
      graft.ops.Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        threshold = 0.9).count()
    }

    time("substring-dup stats, 50k docs (char-40-gram stride 10)") {
      // worst-case: 9 exact copies per doc make every sampled gram a
      // duplicate, so the dup-gram set is as large as it can get
      graft.ops.Dedup.substringDupStats(docs, "doc_id", "text",
        k = 40, stride = 10).count()
    }
    time("BPE merge-step pair counts, 50k docs") {
      graft.ops.TextAnalysis.bpePairStep(docs, "text", topK = 50).count()
    }
    time("source-overlap matrix, 50k docs") {
      graft.ops.Dedup.sourceOverlapMatrix(docs, "source", "text", n = 3).count()
    }
    time("temperature mixture sample (alpha 0.5, target 0.3), 50k docs") {
      graft.ops.Sampling.temperatureSample(docs, "doc_id", "source",
        alpha = 0.5, targetFraction = 0.3).count()
    }
    time("curation pipeline (quality filter -> temperature sample), 50k docs") {
      // unpersisted by design — see the q_pipeline_curation comment
      val base = docs.select(col("doc_id").as("id"), col("text"), col("source"))
      val kept = graft.ops.TextAnalysis.qualityFilterReasons(base, "text")
        .filter(col("keep")).select(col("id"), col("source"))
      graft.ops.Sampling.temperatureSample(kept, "id", "source",
        alpha = 0.7, targetFraction = 0.5).count()
    }
    if (!Files.exists(Paths.get(s"$out/embeddings.parquet/_SUCCESS"))) {
      val e = Tables.load(spark, base, "embeddings")
      (0 until 10).map(i => e.withColumn("vec_id",
          col("vec_id") + lit(i * 10000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    time("kNN graph (k=5, 4 LSH tables), 20k vectors, 9 exact copies each") {
      graft.ops.Similarity.knnGraphLsh(
        Tables.load(spark, out, "embeddings"), "vec_id", "embedding",
        k = 5, nBits = 10, tables = 4).count()
    }
    time("semantic dedup sweep, 20k vectors (9-copy clusters -> keep min)") {
      graft.ops.Similarity.semanticDedup(
        Tables.load(spark, out, "embeddings"), "vec_id", "embedding",
        threshold = 0.95).filter(!col("keep")).count()
    }
    time("incremental kNN update: 2k new vectors vs 20k stored signatures") {
      val emb10 = Tables.load(spark, out, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val stored = graft.ops.Similarity.withLshSignatures(emb10, "id", "v")
      val batch = graft.ops.Similarity.withLshSignatures(
        emb10.filter(col("id") % 10 === 0)
          .select((col("id") + lit(1000000000L)).as("id"), col("v")), "id", "v")
      graft.ops.Similarity.knnGraphIncrement(batch, stored, k = 5).count()
    }

    time("winsorize 6M lineitem (per-group percentile clip)") {
      SparkEntry.queries("q_winsorize")(spark, out).count()
    }
    // the 100 TB drop-in the q_winsorize comment promises: same plan,
    // approx_percentile (mergeable sketch, bounded memory) replacing the
    // exact value-buffering percentile. Timed, and the bound drift is
    // printed so BASELINE.md can record the exact-vs-approx delta.
    time("winsorize 6M lineitem with approx_percentile (accuracy 10k)") {
      val li = Tables.load(spark, out, "lineitem")
      val pct = li.groupBy(col("l_returnflag").as("rf"))
        .agg(expr("approx_percentile(l_extendedprice, 0.01, 10000)").as("p01"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99"))
      li.join(broadcast(pct), col("l_returnflag") === col("rf"))
        .select(col("l_orderkey"),
          round(least(greatest(col("l_extendedprice"), col("p01")), col("p99")), 6)
            .as("clipped"))
        .count()
    }
    locally {
      val li = Tables.load(spark, out, "lineitem")
      val exact = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.01)").as("e01"),
          expr("percentile(l_extendedprice, 0.99)").as("e99"))
      val approx = li.groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, 0.01, 10000)").as("a01"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("a99"))
      val drift = exact.join(approx, "l_returnflag")
        .select(greatest(
          abs(col("a01") - col("e01")) / abs(col("e01")),
          abs(col("a99") - col("e99")) / abs(col("e99"))).as("rel"))
        .agg(max(col("rel"))).head().getDouble(0)
      println(f"[probe] approx_percentile max relative bound drift vs exact: $drift%.6f")
      spark.catalog.clearCache()
    }
    time("passage dedup over 50k docs (9 exact copies each)") {
      graft.ops.Dedup.passageDedup(docs, "doc_id", "text", passageTokens = 10).count()
    }
    time("decontamination: 5k eval docs screened against 45k train docs") {
      graft.ops.Dedup.crossCorpusContamination(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", n = 5).count()
    }
    time("sequence packing offsets over 50k docs (two-level prefix scan)") {
      graft.ops.Packing.packSequences(docs, "doc_id", "text",
        seqTokens = 512, blockSize = 1000).count()
    }
    // the recursive level (r6 verdict item 4): at levels=3 the carry
    // recursion reduces the base window's frame to the non-empty
    // level-2 block totals — printed so BASELINE.md can record that no
    // task scans more than blockSize rows of any one block
    locally {
      val ids = docs.select(col("doc_id").cast("long").as("id"))
      val l1 = ids.select(floor(col("id") / 1000).as("b")).distinct().count()
      val l2 = ids.select(floor(col("id") / 1000000).as("b")).distinct().count()
      println(s"[probe] packing frames: corpus=${docs.count()} level-1 blocks=$l1 base-window rows (levels=3)=$l2")
    }
    time("sequence packing, recursive 3-level scan (blockSize 1000)") {
      graft.ops.Packing.packSequences(docs, "doc_id", "text",
        seqTokens = 512, blockSize = 1000, levels = 3).count()
    }
    time("rolling 7-day actives over 1M events") {
      SparkEntry.queries("q_rolling_wau")(spark, out).count()
    }

    time("bigram-LM scoring over 50k docs (hot-key split join)") {
      SparkEntry.queries("q_lm_score")(spark, out).count()
    }
    // residual skew after the top-64 broadcast split: the hottest key
    // LEFT on the shuffled (cold) side vs the median — recorded in
    // BASELINE.md as the straggler-delta evidence for the r6 item-6 fix
    locally {
      val t = graft.ops.TextAnalysis.tokens(col("text"))
      val bg = docs.select(explode(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c"))
      val top = bg.orderBy(col("c").desc).limit(70).collect().map(_.getLong(1))
      val med = bg.agg(expr("percentile(c, 0.5)")).head().getDouble(0)
      println(s"[probe] bigram skew: hottest=${top.head} cold-max (65th)=${top.lift(64).getOrElse(0L)} median=$med")
      spark.catalog.clearCache()
    }
    time("OOV rate at tokenizer-scale k=32768 over 50k docs") {
      graft.ops.TextAnalysis.oovRate(docs, "doc_id", "text", vocabK = 32768).count()
    }

    // duplicate clusters: every doc has 9 exact copies, so the pair
    // graph is 50k nodes of 10-cliques — a dense worst case for the
    // label-propagation loop (pairs built once outside the timer; the
    // probe isolates the CC cost itself)
    val ccPairs = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 64, bands = 16, threshold = 0.35)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[probe] cc input pairs: ${ccPairs.count()}")
    time("connected components over the 50k-node dup-clique graph") {
      graft.ops.Dedup.connectedComponents(ccPairs).count()
    }
    ccPairs.unpersist()

    // incremental ingest: 1/10 of the corpus as the "new batch" against
    // the other 9/10's stored signatures — the cost that matters daily
    val sigDir = s"$out/corpus_sig.parquet"
    val docsRenamed = docs.select(col("doc_id").as("id"), col("text"))
    if (!Files.exists(Paths.get(sigDir))) {
      val t0 = System.nanoTime()
      graft.ops.Dedup.minhashSignature(
          docsRenamed.filter(col("id") % 10 =!= 0), "id", "text", k = 64)
        .write.mode("overwrite").parquet(sigDir)
      println(f"[probe] one-off signature-table build (45k docs): ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    time("incremental minhash: 5k new docs vs 45k stored signatures") {
      val freshSig = graft.ops.Dedup.minhashSignature(
        docsRenamed.filter(col("id") % 10 === 0), "id", "text", k = 64)
      graft.ops.Dedup.minhashLshPairsIncremental(freshSig,
        spark.read.parquet(sigDir), k = 64, bands = 16, threshold = 0.35).count()
    }

    // persisted IVF: one-off partitioned index build, then a probe that
    // reads only nProbe of nCentroids cells
    val embBase = Tables.load(spark, base, "embeddings")
    val emb10 = (0 until 10).map(i => embBase.withColumn("vec_id",
        col("vec_id") + lit(i * 10000000L)))
      .reduce(_ unionAll _)
    val idxDir = s"$out/ivf_idx"
    val query = embBase.orderBy(col("vec_id")).limit(1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    if (!Files.exists(Paths.get(idxDir))) {
      val t0 = System.nanoTime()
      graft.ops.Similarity.buildIvfIndex(emb10, "vec_id", "embedding", idxDir,
        nCentroids = 16, lloydIters = 2)
      println(f"[probe] one-off IVF index build (${emb10.count()} vectors): ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    time("IVF probe top-10 (4/16 cells) vs full corpus") {
      graft.ops.Similarity.probeIvfIndex(spark, idxDir, "vec_id", "embedding",
        query, k = 10, nProbe = 4).count()
    }
    time("brute-force top-10 over the same corpus") {
      graft.ops.Similarity.bruteForceTopK(emb10, "vec_id", "embedding",
        query, k = 10).count()
    }

    // round-8b probes: search / profile / fingerprint / diff over the
    // 10x corpus — the index-once / search-many split is the part that
    // matters at 100 TB, so build and search are timed separately
    val pIdxDir = s"$out/postings_idx"
    if (!Files.exists(Paths.get(s"$pIdxDir/_SUCCESS"))) {
      val t0 = System.nanoTime()
      graft.ops.Search.invertedIndex(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(pIdxDir)
      println(f"[probe] one-off inverted-index build over 10x docs: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    time("top-20 relevance search over the PERSISTED postings index") {
      graft.ops.Search.searchIndex(spark.read.parquet(pIdxDir),
        Seq("spark", "query", "join", "filter"), k = 20,
        docs.groupBy().agg(count(lit(1)).as("n"))).count()
    }
    time("phrase search (in-plan positional index, 10x docs)") {
      graft.ops.Search.phraseSearch(
        graft.ops.Search.positionalIndex(docs, "doc_id", "text"),
        Seq("query", "join"), k = 20).count()
    }
    time("exact column profile of 6M-row lineitem (6 cols)") {
      graft.ops.Profile.profile(li, Seq("l_orderkey", "l_partkey",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")).count()
    }
    time("approx column profile of 6M-row lineitem (same cols)") {
      graft.ops.Profile.profileApprox(li, Seq("l_orderkey", "l_partkey",
        "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")).count()
    }
    time("corpus fingerprint over 10x docs") {
      graft.ops.Profile.corpusFingerprint(docs, "doc_id", "text", "source").count()
    }
    time("proximity search (slop 3) over 10x docs") {
      graft.ops.Search.proximitySearch(
        graft.ops.Search.positionalIndex(docs, "doc_id", "text"),
        "query", "join", slop = 3, k = 20).count()
    }
    time("snippet extraction top-20 over 10x docs") {
      graft.ops.Search.searchSnippets(docs, "doc_id", "text", "spark", k = 20).count()
    }
    time("importance scoring (256 hashed buckets) over 10x docs") {
      graft.ops.Sampling.importanceWeights(docs, "doc_id", "text",
        isTarget = col("source") === "src0").count()
    }
    time("incremental index update: ~8% churn batch vs stored 10x postings") {
      val edits = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" updated")).as("text"))
      val deletes = docs.filter(col("doc_id") % 31 === 0).select(col("doc_id"))
      graft.ops.Search.updateIndex(spark.read.parquet(pIdxDir),
        edits, deletes, "doc_id", "text").count()
    }
    time("line dedup (boilerplate removal) over 10x docs") {
      // 9 exact copies per doc → EVERY line is cross-doc boilerplate:
      // worst case for the removal join (nothing prunes)
      graft.ops.Dedup.lineDedup(docs, "doc_id", "text", minDocs = 2).count()
    }
    time("epoch shard plan (8 shards) over 10x docs") {
      graft.ops.Sampling.epochShards(docs, "doc_id", epoch = 3, nShards = 8).count()
    }
    time("per-source KL drift over 10x docs") {
      graft.ops.TextAnalysis.sourceDivergence(docs, "source", "text").count()
    }
    time("incremental fingerprint update: ~9% churn delta vs 50k-doc base") {
      val base = graft.ops.Profile.corpusFingerprint(docs, "doc_id", "text", "source")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      base.count() // the stored artifact a real pipeline would read
      val rem = docs.filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"), col("text"), col("source"))
      val add = docs.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"), col("source"))
      val n = graft.ops.Profile.updateFingerprint(base, rem, add,
        "doc_id", "text", "source").count()
      base.unpersist()
      n
    }
    time("left-outer stream-stream interval join shape over 1M events") {
      graft.streaming.Streams.viewClickJoinLeft(
        Tables.load(spark, out, "events")).count()
    }
    time("per-source dedup impact over 50k docs (9 exact copies each)") {
      // worst case again: every doc has 9 partners, so the source joins
      // run at full pair volume (~250k pairs)
      graft.ops.Dedup.sourceDedupImpact(docs, "doc_id", "text", "source",
        threshold = 0.9).count()
    }
    time("contamination span map: 5k eval docs vs 45k train docs") {
      graft.ops.Dedup.contaminationSpans(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", n = 5).count()
    }
    time("hybrid retrieval (BM25 x cosine, RRF) over 10x docs + 20k vectors") {
      val q = graft.ops.Similarity.vectorOf(
        Tables.load(spark, out, "embeddings"), "vec_id", "embedding", 0L)
      graft.ops.Search.hybridSearch(docs, "doc_id", "text",
        Seq("spark", "query", "join", "filter"),
        Tables.load(spark, out, "embeddings"), "vec_id", "embedding",
        q, n = 50, k = 20).count()
    }
    time("vocab coverage curve over 10x docs") {
      graft.ops.TextAnalysis.vocabCoverage(docs, "text",
        Seq(10, 20, 50, 100)).count()
    }
    time("windowed top-3 heavy hitters over 1M events") {
      graft.streaming.Streams.windowedTopK(
        Tables.load(spark, out, "events"), "1 hour", k = 3).count()
    }
    time("snapshot diff: 10x docs vs mutated v2 (drops/edits/adds)") {
      val v2 = docs.filter(col("doc_id") % 31 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.ops.Profile.snapshotDiff(docs, v2, "doc_id", "text", "source").count()
    }
    time("winnow fingerprints, 50k docs (per-row, zero shuffle)") {
      docs.select(graft.ops.TextAnalysis.winnowFingerprints(col("text"))
        .as("fps")).count()
    }
    time("winnow match pairs, 50k docs (9 exact copies -> ~225k pairs)") {
      // worst case: every doc's copies share EVERY fingerprint, so each
      // fingerprint bucket fans out all 45 copy-pairs — the join runs at
      // maximal pair volume, like the lshVerifiedPairs worst case
      graft.ops.Dedup.winnowMatchPairs(docs, "doc_id", "text",
        minShared = 2).count()
    }
    time("leakage-safe split, 50k docs (9 exact copies each)") {
      graft.ops.Dedup.leakageSafeSplit(docs, "doc_id", "text", 80).count()
    }
    time("line-permutation groups, 50k docs") {
      graft.ops.Dedup.permutationInvariantGroups(docs, "doc_id", "text")
        .count()
    }
    time("dedup release plan (pairs + CC + split + keep-best), 50k docs") {
      // the 9-copy worst case drives the CC over ~225k-edge components
      graft.ops.Dedup.dedupClusterPlan(docs, "doc_id", "text",
        trainPct = 80, threshold = 0.2, maxShingleDf = 50).count()
    }
    time("exact-quota sample (12 per source), 50k docs") {
      graft.ops.Sampling.quotaSample(docs, "doc_id", "source", 12).count()
    }

    // round-10 probes (r9 verdict items 1 + 4): entity resolution at
    // 10x. The corpus is 150k CONTIGUOUS ids (names encode 6 digits, so
    // offset-copy ids would alias names) + the standard 4% tail-edit
    // variants. At 10x the blocking keys are re-sized — prefix 24
    // (id mod 10000 -> ~15-row forward blocks) / rev 30 (id div 10 ->
    // ~10-row reverse blocks) — which is exactly the knob the operator
    // exposes: block size, and therefore candidate volume per record,
    // stays CONSTANT as the corpus grows; only the block COUNT scales.
    val erDir = s"$out/er10"
    if (!Files.exists(Paths.get(s"$erDir/customer.parquet/_SUCCESS")))
      spark.range(1, 150001).select(col("id").as("c_custkey"))
        .write.mode("overwrite").parquet(s"$erDir/customer.parquet")
    val erKeys = graft.ops.MasterData.prefixKeys(col("nm"), 24, 30)
    locally {
      val corpus = graft.queries.DedupQueries.namedCorpus(spark, erDir)
      val members = graft.ops.MasterData.linkageMembers(corpus, "id", "nm", erKeys)
      val dfs = graft.ops.MasterData.linkageBlockDfs(members)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = dfs.filter(col("_df") <= 64)
        .agg(coalesce(sum(col("_df") * (col("_df") - 1) / 2), lit(0L))
          .cast("long")).head().getLong(0)
      val dropped = dfs.filter(col("_df") > 64)
        .agg(coalesce(sum(col("_df")), lit(0L)).cast("long")).head().getLong(0)
      val n = corpus.count()
      println(s"[probe] linkage 10x: corpus=$n candidate pairs=$cand " +
        s"(~${cand / math.max(n, 1)} per record; r9 defect class was ~500 per record) " +
        s"rows in dropped blocks=$dropped")
      dfs.unpersist()
      spark.catalog.clearCache()
    }
    time("entity resolution over the 10x name corpus (156k records)") {
      graft.ops.MasterData.resolveEntities(
        graft.queries.DedupQueries.namedCorpus(spark, erDir), "id", "nm",
        prefixLen = 24, maxDist = 1, maxBlockDf = 64, revPrefixLen = 30).count()
    }
    // incremental: stored state built once (the daily job reads it),
    // the timed op absorbs a 1/10 batch — candidate work O(batch·block)
    locally {
      val corpus = graft.queries.DedupQueries.namedCorpus(spark, erDir)
      val stored = corpus.filter(col("id") % 10 =!= 0)
      val memDir = s"$erDir/members.parquet"
      if (!Files.exists(Paths.get(s"$memDir/_SUCCESS"))) {
        val t0 = System.nanoTime()
        graft.ops.MasterData.linkageMembers(stored, "id", "nm", erKeys)
          .write.mode("overwrite").parquet(memDir)
        graft.ops.MasterData.linkageBlockDfs(spark.read.parquet(memDir))
          .write.mode("overwrite").parquet(s"$erDir/dfs.parquet")
        graft.ops.MasterData.linkagePairsByKeys(stored, "id", "nm", erKeys,
            maxDist = 1, maxBlockDf = 64)
          .write.mode("overwrite").parquet(s"$erDir/pairs.parquet")
        println(f"[probe] one-off linkage state build (140k stored): ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      time("incremental entity resolution: 15.6k batch vs 140k stored state") {
        graft.ops.MasterData.resolveEntitiesIncrement(corpus, "id",
          spark.read.parquet(memDir),
          spark.read.parquet(s"$erDir/dfs.parquet"),
          spark.read.parquet(s"$erDir/pairs.parquet"),
          corpus.filter(col("id") % 10 === 0), "nm", erKeys,
          maxDist = 1, maxBlockDf = 64).count()
      }
    }

    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** 100x scale probe (r10 verdict item 4): the 10x probe
  * ([[ScaleProbe]]) stops at 6M rows / 50k docs; this one runs ONLY
  * the two worst cost families — dedup pair generation and entity
  * resolution — at 100x (500k docs / 1.56M linkage records), reporting
  * candidate-volume-vs-true-pairs and wall time so BASELINE.md can
  * record whether candidate work grows NEAR-LINEARLY with the corpus.
  *
  * Corpus shape matters for that claim: the 10x probe's all-copies
  * corpus (every doc x10) is the right worst case for verification
  * cost, but scaling IT 10x more would square the per-group pair count
  * (100-cliques) — an intrinsically quadratic duplication profile no
  * pipeline exhibits. Real corpora grow with a roughly CONSTANT
  * duplication rate, so the 100x synthesis keeps the 10x probe's
  * duplication profile (each text in a 10-copy group) and scales the
  * number of DISTINCT texts 10x instead: 10 replicas x 10 "families"
  * of the sf0.1 base, where family g suffixes every token with g —
  * zero shared shingles across families, identical text within a
  * group. True-pair count is then exactly 10x the 10x probe's
  * (5k docs x 10 families x C(10,2) = 2.25M vs 225k), so a
  * near-linear candidate count at 10x the corpus is the pass
  * criterion, and the per-group verify volume is unchanged.
  *
  * Entity resolution widens the round-9b digit-word name scheme to 7
  * words (1.56M ids exceed the 6-digit namespace and would alias) and
  * re-sizes the blocking keys exactly the way the operator's contract
  * says to: forward prefix 30 (5 words = id mod 100000, ~15-row
  * blocks), reverse prefix 36 (6 words = id div 10, ~10-row blocks) —
  * block SIZE, and therefore candidate volume per record, stays
  * constant; only the block COUNT scales with the corpus.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe100"
  * Writes only under /tmp/graft_scale100.
  */
object ScaleProbe100 {

  private val words = Seq("alpha", "bravo", "charl", "delta", "echox",
    "foxtr", "golfx", "hotel", "india", "julie")

  private def nameOf7(c: Column): Column = {
    val arr = array(words.map(lit): _*)
    def digit(p: Long) = ((c / p).cast("long") % 10).cast("int")
    concat_ws("-", (0 until 7).map(i =>
      element_at(arr, digit(math.pow(10, i).toLong) + 1)): _*)
  }

  def main(args: Array[String]): Unit = {
    // optional args = section subset (see `sections` below)
    // so a new family can be probed without re-timing the others; an
    // unknown name must fail loudly, not silently probe nothing
    val sections = Set("dedup", "er", "url", "graph", "knn", "cc",
      "graphx", "pref", "media", "captions", "sq8", "ivf_sq8")
    require(args.forall(sections), s"unknown section in ${args.toSeq}; " +
      s"valid: ${sections.mkString("|")}")
    def enabled(section: String): Boolean =
      args.isEmpty || args.contains(section)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = "/tmp/graft_scale100"
    val spark = Sessions.local("graft-scale-probe-100x")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe100] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }

    // ---- 500k-doc corpus: 10 families x 10 replicas of the 5k base ----
    // Staged on first use by ANY section that reads it (dedup and cc),
    // so each section is independently runnable on a fresh machine.
    def corpus100(): org.apache.spark.sql.DataFrame = {
      if (!Files.exists(Paths.get(s"$out/documents.parquet/_SUCCESS"))) {
        val t0 = System.nanoTime()
        val docs = Tables.load(spark, base, "documents")
        (0 until 10).flatMap { g =>
          (0 until 10).map { r =>
            docs.select(
              (col("doc_id") + lit((g * 10 + r) * 10000000L)).as("doc_id"),
              regexp_replace(col("text"), "(\\S+)", "$1g" + g).as("text"),
              col("lang"), col("source"), col("n_chars"))
          }
        }.reduce(_ unionAll _)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")
        println(f"[probe100] one-off 100x corpus synthesis: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      Tables.load(spark, out, "documents")
    }

    if (enabled("dedup")) locally {
    val docs = corpus100()
    println(s"[probe100] cpus=${Sessions.cpus} docs=${docs.count()}")

    // true pairs from the group structure (exact-text groups)
    val truePairs = docs.groupBy(xxhash64(col("text")))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2).cast("long"))
      .head().getLong(0)
    // LSH candidate volume = the distinct band-collision pair count
    // (threshold 0 keeps every candidate; est_jaccard >= 0 always)
    val candidates = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.0).count()
    spark.catalog.clearCache()
    println(s"[probe100] dedup: true pairs=$truePairs lsh candidates=$candidates " +
      f"(candidate/true ratio ${candidates.toDouble / truePairs}%.3f; " +
      "10x probe: 225k true pairs at 50k docs — near-linear = ~10x both)")
    time("minhash LSH pairs (k=64, b=16, threshold 0.35), 500k docs") {
      graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 64, bands = 16, threshold = 0.35).count()
    }
    time("LSH + exact-verified pairs (threshold 0.9), 500k docs") {
      graft.ops.Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        threshold = 0.9).count()
    }
    }

    // ---- entity resolution over 1.56M records ----
    if (enabled("er")) locally {
    val erDir = s"$out/er100"
    if (!Files.exists(Paths.get(s"$erDir/corpus.parquet/_SUCCESS"))) {
      val t0 = System.nanoTime()
      val ids = spark.range(1, 1500001).select(col("id"))
      val named = ids.select(col("id"), nameOf7(col("id")).as("nm"))
      named.unionByName(
        named.filter(col("id") % 25 === 0)
          .select((col("id") + lit(1500001L)).as("id"),
            concat(substring(col("nm"), 1, 40), lit("z")).as("nm")))
        .write.mode("overwrite").parquet(s"$erDir/corpus.parquet")
      println(f"[probe100] one-off 100x name corpus synthesis: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val corpus = spark.read.parquet(s"$erDir/corpus.parquet")
    val erKeys = graft.ops.MasterData.prefixKeys(col("nm"), 30, 36)
    locally {
      val members = graft.ops.MasterData.linkageMembers(corpus, "id", "nm", erKeys)
      val dfs = graft.ops.MasterData.linkageBlockDfs(members)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = dfs.filter(col("_df") <= 64)
        .agg(coalesce(sum(col("_df") * (col("_df") - 1) / 2), lit(0L))
          .cast("long")).head().getLong(0)
      val dropped = dfs.filter(col("_df") > 64)
        .agg(coalesce(sum(col("_df")), lit(0L)).cast("long")).head().getLong(0)
      val n = corpus.count()
      // planted pairs: one tail-edit variant per 25th id
      println(s"[probe100] linkage: corpus=$n candidate pairs=$cand " +
        s"(~${cand / math.max(n, 1)} per record; true pairs=${1500000 / 25}) " +
        s"rows in dropped blocks=$dropped")
      dfs.unpersist()
      spark.catalog.clearCache()
    }
    time("entity resolution over the 100x name corpus (1.56M records)") {
      graft.ops.MasterData.resolveEntities(corpus, "id", "nm",
        prefixLen = 30, maxDist = 1, maxBlockDf = 64, revPrefixLen = 36).count()
    }
    // incremental: stored state built once, the timed op absorbs 1/10
    locally {
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
        println(f"[probe100] one-off linkage state build (1.4M stored): ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      time("incremental entity resolution: 156k batch vs 1.4M stored state") {
        graft.ops.MasterData.resolveEntitiesIncrement(corpus, "id",
          spark.read.parquet(memDir),
          spark.read.parquet(s"$erDir/dfs.parquet"),
          spark.read.parquet(s"$erDir/pairs.parquet"),
          corpus.filter(col("id") % 10 === 0), "nm", erKeys,
          maxDist = 1, maxBlockDf = 64).count()
      }
    }
    }

    // ---- round-11 families at 100x ----
    // URL canonicalization + rule matching over 30M generated URLs
    // (15M ids x base+variant, the q_url_canonical shapes): per-row
    // string work rides the scan, the only exchange is the final
    // group-by-canonical — throughput should track row count linearly.
    if (enabled("url")) locally {
      val ids = spark.range(1L, 15000001L, 1L, 64).select(col("id"))
      val hostBase = concat(lit("shop"), (col("id") % 997).cast("string"),
        lit(".example.com"))
      val pathBase = concat(lit("/item/"), col("id").cast("string"))
      val base = concat(lit("https://"), hostBase, pathBase,
        when(col("id") % 3 === 0, lit("?a=1&b=2")).otherwise(lit("")))
      val variant = concat(lit("HTTPS://WWW."), upper(hostBase),
        lit(":443"), pathBase, lit("/?utm_source=mail#frag"))
      val urls = ids.select(explode(array(
          struct((col("id") * 2).as("url_id"), base.as("url")),
          struct((col("id") * 2 + 1).as("url_id"), variant.as("url"))))
          .as("_u"))
        .select(col("_u.url_id").as("url_id"), col("_u.url").as("url"))
      time("URL canonicalization + group-by-canonical, 30M urls") {
        urls.select(graft.ops.Urls.canonical(col("url")).as("c"))
          .groupBy(col("c")).agg(count(lit(1))).count()
      }
      import spark.implicits._
      val rulesDf = (0 until 997).flatMap(h => Seq(
          (s"shop$h.example.com", "/item", h % 2 == 0),
          (s"shop$h.example.com", "/item/1", true)))
        .toDF("host", "prefix", "allow")
      time("robots-rule verdicts (1,994 rules, broadcast), 30M urls") {
        graft.ops.Urls.applyRules(urls, "url", rulesDf)
          .groupBy(col("allowed")).agg(count(lit(1))).count()
      }
    }
    // link prediction over a synthesized 1M-node bounded-degree graph
    // (ring + 3 chord families -> degree 8 for every node, no hubs):
    // wedge volume is exactly sum(deg^2)/2-ish = bounded by maxDeg*|E|,
    // so candidate work scales with EDGES, not nodes^2.
    if (enabled("graph")) locally {
      val n = 1000000L
      val nodes = spark.range(0L, n, 1L, 64).select(col("id"))
      val edges = (Seq(1L, 7919L, 104729L, 999983L)).map { step =>
        nodes.select(col("id").as("raw_a"),
            pmod(col("id") + step, lit(n)).as("raw_b"))
          .select(least(col("raw_a"), col("raw_b")).as("item_a"),
            greatest(col("raw_a"), col("raw_b")).as("item_b"))
      }.reduce(_ unionByName _)
      time("link prediction top-3, 1M nodes / 4M edges (deg 8, no hubs)") {
        graft.ops.Graphs.linkPrediction(edges, maxDeg = 64, k = 3).count()
      }
    }

    // ---- graph analytics at 100x (r12 verdict item 4): PageRank /
    // k-core / triangles on a 1M-node graph with a PLANTED HUB ----
    // The base is the link-prediction probe's 4-ring union (uniform
    // degree 8, 4M undirected a<b edges); the hub sits at id n/2 with
    // half its neighbors below and half above — the worst case for the
    // id-ordered wedge join in Graphs.triangleCounts, whose first join
    // produces Σ_b in(b)·out(b) rows: a mid-id hub of degree d
    // contributes (d/2)² wedges. The probe MEASURES that quadratic law
    // (wedge rows at d = 0 / 2k / 20k) instead of asserting it, then
    // shows the serving-path mitigation: the same degree guard the
    // co-click builder applies via keptBaskets (basket cap 100) keeps
    // enumeration flat, and Graphs.hubAudit reports the exclusion —
    // the no-silent-caps discipline at 1M-node scale.
    if (enabled("graphx")) locally {
      val n = 1000000L
      val hub = n / 2
      val nodes = spark.range(0L, n, 1L, 64).select(col("id"))
      val ringEdges = Seq(1L, 7919L, 104729L, 999983L).map { step =>
        nodes.select(col("id").as("raw_a"),
            pmod(col("id") + step, lit(n)).as("raw_b"))
          .select(least(col("raw_a"), col("raw_b")).as("item_a"),
            greatest(col("raw_a"), col("raw_b")).as("item_b"))
      }.reduce(_ unionByName _)
      def hubEdges(d: Long) = spark.range(1L, d / 2 + 1, 1L, 32)
        .select(explode(array(
          struct((lit(hub) - col("id")).as("item_a"), lit(hub).as("item_b")),
          struct(lit(hub).as("item_a"), (lit(hub) + col("id")).as("item_b"))))
          .as("e"))
        .select(col("e.item_a"), col("e.item_b"))
      def withHub(d: Long) =
        if (d == 0) ringEdges else ringEdges.unionByName(hubEdges(d))

      // 1. the wedge-volume growth law (first-join row count)
      Seq(0L, 2000L, 20000L).foreach { d =>
        val e = withHub(d).distinct()
          .select(col("item_a").as("a"), col("item_b").as("b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time(f"triangle wedge volume, 1M nodes, hub degree $d%d") {
          val w = e.join(e.select(col("a").as("b"), col("b").as("c")),
            Seq("b")).count()
          println(s"[probe100]   wedges=$w (hub contributes ~${d * d / 4})")
          w
        }
        e.unpersist()
      }

      // 2. full triangle enumeration: uncapped at hub=2k (tolerable
      // 1M-wedge bump), then hub=20k under the serving-path degree
      // guard (cap 100, mirroring keptBaskets) — must run ring-flat
      val t2k = withHub(2000L)
      time("triangleCounts UNCAPPED, 1M nodes / 4M edges, hub degree 2k") {
        graft.ops.Graphs.triangleCounts(t2k).count()
      }
      val t20k = withHub(20000L)
      val deg = t20k
        .select(explode(array(col("item_a"), col("item_b"))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val hubs = deg.filter(col("deg") > 100).select(col("u"))
      val capped = t20k
        .join(hubs.select(col("u").as("item_a")), Seq("item_a"), "left_anti")
        .join(hubs.select(col("u").as("item_b")), Seq("item_b"), "left_anti")
      time("triangleCounts with degree guard (cap 100), hub degree 20k") {
        graft.ops.Graphs.triangleCounts(capped).count()
      }
      time("hubAudit (maxDeg=100), 1M nodes, hub degree 20k") {
        val a = graft.ops.Graphs.hubAudit(t20k, maxDeg = 100).head()
        println(s"[probe100]   audit: hubs_dropped=${a.getLong(0)} " +
          s"nodes_kept=${a.getLong(1)} edges_touching=${a.getLong(2)}")
        1L
      }

      // 3. PageRank and k-core on the hubbed graph (symmetrized 8M+
      // directed edges): the iteration machinery at 1M-node scale
      val sym20k = withHub(20000L)
        .select(col("item_a").as("src"), col("item_b").as("dst"))
      val both = sym20k.unionByName(
        sym20k.select(col("dst").as("src"), col("src").as("dst")))
      time("pageRankFixedPoint(iters=3), 1M nodes / 8M directed edges, hub 20k") {
        graft.ops.Graphs.pageRankFixedPoint(both, iters = 3).count()
      }
      time("kCore(k=3, rounds=4), 1M nodes / 4M+ edges, hub 20k") {
        graft.ops.Graphs.kCore(
          sym20k.select(col("src"), col("dst")), k = 3, rounds = 4).count()
      }
    }

    // ---- preference majority-cycles at 100x (r12 verdict item 7):
    // the Σdeg² claim under a planted dense-prompt adversary ----
    // q_pref_cycles' cost claim is that the two triangle self-joins are
    // bounded by Σ_prompt deg², never corpus². The probe plants one
    // ADVERSARIAL prompt with C completions and all C(C,2) pairs voted
    // (deterministic mixed orientation so real cycles exist) on top of
    // a 100k-prompt bounded-budget base (8 votes/prompt — the practical
    // shape): doubling C holds the corpus ~constant while wedge volume
    // grows ~C³ — if wall tracks the wedge count and not the corpus,
    // the bound is the Σdeg² term, measured.
    if (enabled("pref")) locally {
      val basePrompts = 100000L
      // 8 bounded votes per prompt over 6 completions, orientation
      // flipped by (prompt + k) parity
      val pairs = Seq((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0),
        (0, 2), (1, 3))
      val base = spark.range(0L, basePrompts, 1L, 32)
        .select(col("id").as("prompt"),
          explode(array(pairs.zipWithIndex.map { case ((a, b), k) =>
            val flip = (col("id") + k) % 2 === 0
            struct(when(flip, lit(a.toLong)).otherwise(lit(b.toLong)).as("win"),
              when(flip, lit(b.toLong)).otherwise(lit(a.toLong)).as("lose"))
          }: _*)).as("v"))
        .select(col("prompt"), col("v.win"), col("v.lose"))
      def dense(c: Long) = spark.range(0L, c, 1L, 32).select(col("id").as("i"))
        .join(spark.range(0L, c, 1L, 32).select(col("id").as("j")),
          col("i") < col("j"))
        .select(lit(-1L).as("prompt"),
          when((col("i") + col("j")) % 3 === 0, col("j")).otherwise(col("i"))
            .as("win"),
          when((col("i") + col("j")) % 3 === 0, col("i")).otherwise(col("j"))
            .as("lose"))
      Seq(250L, 500L).foreach { c =>
        val votes = base.unionByName(dense(c))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nVotes = votes.count()
        // measure the wedge term the claim bounds: majority edges
        // joined to themselves on (prompt, dst=src)
        val audit = graft.ops.Preferences.conflictAudit(votes,
          "prompt", "win", "lose")
        val edges = audit.filter(col("n_lo_wins") =!= col("n_hi_wins"))
          .select(col("prompt"),
            when(col("n_lo_wins") > col("n_hi_wins"), col("lo"))
              .otherwise(col("hi")).as("src"),
            when(col("n_lo_wins") > col("n_hi_wins"), col("hi"))
              .otherwise(col("lo")).as("dst"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val wedges = edges.as("e1")
          .join(edges.as("e2"), col("e1.prompt") === col("e2.prompt") &&
            col("e1.dst") === col("e2.src")).count()
        time(f"majorityCycles, 100k prompts + dense C=$c%d " +
            f"($nVotes%d votes, $wedges%d wedges)") {
          val out = graft.ops.Preferences.majorityCycles(votes,
            "prompt", "win", "lose")
          val cyc = out.agg(coalesce(sum(col("n_cycles")), lit(0L)))
            .head().getLong(0)
          println(s"[probe100]   total cycles=$cyc")
          cyc
        }
        edges.unpersist(); votes.unpersist()
      }
    }

    // ---- real multimodal decode at 100x (round 13) ----
    // 1M decodable payloads (500k real PNGs + 500k real WAVs, every
    // 97th corrupted): the decode is per-row JDK work with NO shuffle
    // at all — the scale question is pure throughput, so the probe
    // reports wall + decoded-unit volume for the feature pass and the
    // full decode→downsample→re-encode→re-decode thumbnail round trip,
    // and asserts the corruption-flag count lands exactly on the
    // generation rule (a decoder that silently mis-flags at volume
    // would corrupt a training corpus quietly).
    if (enabled("media")) locally {
      val n = 1000000L
      val ids = spark.range(0L, n, 1L, 64).select(col("id").as("doc_id"))
      val media = graft.ops.Multimodal.decodableMedia(ids, "doc_id")
      time("extractFeatures (real PNG/WAV decode), 1M payloads") {
        val f = graft.ops.Multimodal.extractFeatures(media)
          .agg(sum(col("n_units")),
            sum(when(col("decode_ok"), 0L).otherwise(1L))).head()
        val flagged = f.getLong(1)
        val expect = (n + 96) / 97
        require(flagged == expect, s"flagged $flagged, expected $expect")
        println(s"[probe100]   decoded units=${f.getLong(0)} " +
          s"flagged=$flagged (exactly the planted 1/97)")
        f.getLong(0)
      }
      time("thumbnails (decode->downsample->re-encode->re-decode), 1M payloads") {
        val t = graft.ops.Multimodal.thumbnails(media)
          .agg(sum(col("px_sum")),
            sum(when(col("thumb_ok"), 1L).otherwise(0L))).head()
        println(s"[probe100]   thumb px_sum=${t.getLong(0)} ok=${t.getLong(1)}")
        t.getLong(1)
      }
      // real animated-GIF video: synthesize + LZW-encode AND decode +
      // frame-sample 1M payloads (2-5 frames each, ~3.5M frames) — the
      // whole path is per-partition map work, so wall scales linearly
      // with payload count and the flag count must stay EXACTLY the
      // planted 1/97 (no silent decode losses at scale)
      val video = graft.ops.Multimodal.decodableVideo(ids, "doc_id")
      time("sampleFrames (real GIF LZW decode, every 2nd frame), 1M videos") {
        val v = graft.ops.Multimodal.sampleFrames(video, everyK = 2)
          .agg(sum(col("px_sum")), count(lit(1)),
            sum(when(col("decode_ok"), 0L).otherwise(1L))).head()
        val flagged = v.getLong(2)
        val expect = (n + 96) / 97
        require(flagged == expect, s"flagged $flagged, expected $expect")
        println(s"[probe100]   sampled frames=${v.getLong(1) - flagged} " +
          s"px_sum=${v.getLong(0)} flagged=$flagged (exactly 1/97)")
        v.getLong(1)
      }
      // baseline JPEG decode at 100x (round 14): 1M real baseline-JFIF
      // payloads, 1-12 DCT blocks each (marker walk + canonical
      // Huffman + dequant + separable IDCT per block) — per-row JDK
      // work, no shuffle, and the corruption flag count must stay
      // EXACTLY the planted 1/97
      val jpeg = graft.ops.Multimodal.decodableJpeg(ids, "doc_id")
      time("extractFeatures (real JPEG Huffman+IDCT decode), 1M payloads") {
        val j = graft.ops.Multimodal.extractFeatures(jpeg)
          .agg(sum(col("n_units")),
            sum(when(col("decode_ok"), 0L).otherwise(1L))).head()
        val flagged = j.getLong(1)
        val expect = (n + 96) / 97
        require(flagged == expect, s"flagged $flagged, expected $expect")
        println(s"[probe100]   decoded px=${j.getLong(0)} " +
          s"flagged=$flagged (exactly the planted 1/97)")
        j.getLong(0)
      }
      // COLOR 4:2:0 JPEG decode at 100x (round 15): interleaved
      // 3-component MCU scan (6 blocks per MCU), chroma upsample, JFIF
      // convert — 1-6 MCUs per payload (mean 3 = 768 px), so ~770M RGB
      // pixels through the full color path; flag count stays EXACTLY 1/97
      val color = graft.ops.Multimodal.decodableJpegColor(ids, "doc_id")
      time("rgbStats (real COLOR JPEG decode, 4:2:0 interleave), 1M payloads") {
        val c = graft.ops.Multimodal.rgbStats(color)
          .agg(sum(col("n_px")),
            sum(when(col("decode_ok"), 0L).otherwise(1L))).head()
        val flagged = c.getLong(1)
        val expect = (n + 96) / 97
        require(flagged == expect, s"flagged $flagged, expected $expect")
        println(s"[probe100]   decoded rgb px=${c.getLong(0)} " +
          s"flagged=$flagged (exactly the planted 1/97)")
        c.getLong(0)
      }
    }

    // ---- cross-modal caption-join adversary at 100x (round 14) ----
    // q_video_captions ships under a "per-media captions <= 3, bounded
    // equi-join" claim; this probe plants ONE pathological media with
    // 10^4 caption segments among 1M media (5 sampled frames each) and
    // MEASURES that the join stays |frames_m| x |caps_m|-bounded: the
    // hub adds 5 x 10^4 = 50k intermediate pairs (per-key work, one
    // task), the output row count is IDENTICAL (left join, <= 1
    // covering caption per frame), and wall stays flat vs the no-hub
    // control. captionAudit must report the hub non-silently — the
    // hubAudit discipline applied to cross-modal pairing.
    if (enabled("captions")) locally {
      val n = 1000000L
      val hubId = 500000L
      val media = spark.range(0L, n, 1L, 32).select(col("id").as("media_id"))
      val frames = media.select(col("media_id"),
          explode(sequence(lit(0L), lit(4L))).as("frame_idx"))
        .select(col("media_id"), col("frame_idx"),
          (col("frame_idx") * 200).as("t_ms"))
      def capsOf(hubCaps: Long): org.apache.spark.sql.DataFrame = {
        val organic = media
          .filter(if (hubCaps > 0) col("media_id") =!= hubId else lit(true))
          .select(col("media_id"),
            explode(sequence(lit(0L), col("media_id") % 3)).as("cj"))
        val withHub =
          if (hubCaps > 0) organic.unionByName(
            spark.range(0L, hubCaps, 1L, 32)
              .select(lit(hubId).as("media_id"), col("id").as("cj")))
          else organic
        withHub.select(col("media_id"), col("cj"),
          (col("cj") * 150).as("cs"), (col("cj") * 150 + 150).as("ce"))
      }
      def runJoin(caps: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = frames.as("f").join(caps.as("c"),
            col("f.media_id") === col("c.media_id") &&
              col("t_ms") >= col("cs") && col("t_ms") < col("ce"), "left")
          .agg(count(lit(1)),
            sum(when(col("cj").isNotNull, 1L).otherwise(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      // organic matched rows: frame t in {0,200,400,600,800}, captions
      // cover [0, 150*(m%3+1)) -> 1 + [m%3>=1] + [m%3>=2] per media;
      // count the id-residue classes explicitly (1M % 3 != 0)
      val m0 = (n + 2) / 3; val m1 = (n + 1) / 3; val m2 = n / 3
      val organicMatched = m0 * 1 + m1 * 2 + m2 * 3
      runJoin(capsOf(0L)) // untimed codegen/JIT warmup (the Bench rule)
      time("caption join, 1M media x 5 frames, organic <=3 caps/media") {
        val (rows, matched) = runJoin(capsOf(0L))
        require(rows == 5L * n, s"row count $rows != ${5L * n}")
        require(matched == organicMatched,
          s"matched $matched != $organicMatched")
        rows
      }
      time("caption join, same + ONE media with 10^4 caption segments") {
        val (rows, matched) = runJoin(capsOf(10000L))
        require(rows == 5L * n, s"row count $rows != ${5L * n}")
        // the hub media (500000 % 3 = 2 -> 3 matched organically) now
        // matches all 5 frames: +2 rows, nothing else may move
        require(matched == organicMatched + 2,
          s"matched $matched != ${organicMatched + 2}")
        rows
      }
      val audit = graft.ops.Multimodal.captionAudit(
        capsOf(10000L), "media_id", maxCapsPerMedia = 64).head()
      require(audit.getLong(0) == 1L &&
        audit.getLong(1) == 10000L && audit.getLong(3) == 10000L,
        s"caption audit silent on the planted hub: $audit")
      println(s"[probe100]   captionAudit: media_over_cap=${audit.getLong(0)} " +
        s"rows_over=${audit.getLong(1)} max_caps=${audit.getLong(3)} " +
        "(the planted 10^4-segment media, non-silent)")
    }

    // ---- connected components at 100x: the dedup-cluster step ----
    // Two regimes: (a) the REAL shape — the 500k-doc corpus's LSH pair
    // graph (10-cliques, diameter 1: converges in ~2 certified
    // rounds), pairs built OUTSIDE the timer so the probe isolates CC;
    // (b) the ADVERSARIAL shape — a 1M-node ring, ONE component of
    // diameter 500k, where plain min-propagation would need 500k
    // rounds and the pointer-jumping step must close it in ~log2(d)
    // ≈ 20 — the property that makes the loop safe on path-shaped
    // contamination chains at any scale.
    if (enabled("cc")) locally {
      val docs = corpus100() // stages the corpus if dedup didn't run
      val ccPairs = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 64, bands = 16, threshold = 0.35)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[probe100] cc input pairs: ${ccPairs.count()}")
      time("connected components, 500k-node dup-clique graph (2.5M pairs)") {
        graft.ops.Dedup.connectedComponents(ccPairs).count()
      }
      ccPairs.unpersist()
      val n = 1000000L
      val ring = spark.range(0L, n, 1L, 64)
        .select(col("id").as("id_a"), pmod(col("id") + 1L, lit(n)).as("id_b"))
      time("connected components, 1M-node ring (diameter 500k, log-d jumping)") {
        val cc = graft.ops.Dedup.connectedComponents(ring)
        val comps = cc.agg(countDistinct(col("cluster_id"))).head().getLong(0)
        require(comps == 1L, s"ring must be one component, got $comps")
        cc.count()
      }
    }

    // ---- kNN graph / semantic dedup at 100x (r11 verdict item 4) ----
    // 200k 64-dim vectors with PLANTED CLIQUE structure: 20k anchor
    // directions x 10 near-identical replicas (relative perturbation
    // 1e-3 → intra-clique angle ~1e-3 rad, inter-anchor angles
    // effectively random). True near-neighbor pairs = 20k x C(10,2) =
    // 900k — the same constant-duplication-rate profile as the dedup
    // corpus above. nBits is the SCALE KNOB of hyperplane LSH and the
    // probe MEASURES it rather than assuming: random co-bucketing per
    // table is ~C(n/2^nBits, 2)·2^nBits pairs, so holding nBits fixed
    // across a 10x corpus grows random collisions ~100x (the fixed-bits
    // CONTROL row shows exactly that), while growing buckets with the
    // corpus (13 bits at 20k → 16 bits at 200k, constant ~2.4-3
    // vectors/bucket load) holds candidate/true near-constant — the
    // property that carries to a billion vectors. Recall is safe at
    // either setting: a clique pair splits on one hyperplane with
    // P ≈ θ/π ≈ 3e-4, so even 16 bits keeps ~99.5% of true pairs per
    // table and 4 independent tables push recall to ~1.
    if (enabled("knn")) locally {
      val tables = 4
      // hash-derived dims, not sin(g·j): a linear-phase family aliases
      // (anchors at regular id deltas come out near-parallel), which
      // would plant unintended cross-clique near-dups; xxhash64 per
      // (anchor, dim) gives independent uniform dims, so inter-anchor
      // cosines concentrate at N(0, 1/64) and only the cliques are true
      def pr(a: Column, j: Column, seed: Int): Column =
        (xxhash64(a, j, lit(seed)) % 1001L).cast("double") / lit(500.0)
      def vecs(nCliques: Int): org.apache.spark.sql.DataFrame =
        spark.range(0L, nCliques * 10L, 1L, 64)
          .select(col("id"),
            transform(sequence(lit(1), lit(64)), j =>
              pr((col("id") / 10).cast("long"), j, 1)
                + lit(1e-3) * pr(col("id"), j, 2)).as("vec"))
      def candVolume(df: org.apache.spark.sql.DataFrame, nBits: Int): Long = {
        val signed = graft.ops.Similarity.withLshSignatures(
            df, "id", "vec", nBits, tables)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = (0 until tables).map { t =>
          val slim = signed.select(col("id"), col(s"sig$t").as("s"))
          slim.select(col("id").as("src"), col("s"))
            .join(slim.select(col("id").as("dst"), col("s")), Seq("s"))
            .filter(col("src") < col("dst"))
            .select(col("src"), col("dst"))
        }.reduce(_ unionByName _).dropDuplicates("src", "dst").count()
        signed.unpersist(blocking = false)
        n
      }
      Seq((2000, 13, "load-matched small"),
          (20000, 16, "load-matched 10x — near-linear = ratio holds"),
          (20000, 13, "fixed-bits CONTROL — random collisions go ~100x"))
        .foreach { case (nCliques, nBits, note) =>
          val trues = nCliques * 45L
          val cand = candVolume(vecs(nCliques), nBits)
          println(s"[probe100] knn-lsh: cliques=$nCliques vectors=${nCliques * 10} " +
            s"nBits=$nBits true pairs=$trues lsh candidates=$cand " +
            f"(candidate/true ratio ${cand.toDouble / trues}%.3f; $note)")
          spark.catalog.clearCache()
        }
      time(s"kNN graph top-5 (nBits=16, tables=$tables), 200k vectors") {
        graft.ops.Similarity.knnGraphLsh(vecs(20000), "id", "vec",
          k = 5, nBits = 16, tables = tables).count()
      }
      time("semantic dedup (cosine >= 0.95 cliques -> keep one), 200k vectors") {
        val out = graft.ops.Similarity.semanticDedup(vecs(20000), "id", "vec",
          threshold = 0.95, nBits = 16)
        val kept = out.filter(col("keep")).count()
        println(s"[probe100]   kept=$kept of 200000 (planted optimum 20000)")
        kept
      }
    }
    if (enabled("sq8")) locally {
      // SQ8 at 1M x 64d (r14 verdict item 3): the train/serve split —
      // bounds build (one |dims|-group aggregate, written once at
      // ingest) vs query time (one scan + TakeOrdered over the stored
      // bounds) — plus recall@10 against the exact float ranking. The
      // knn section's clique corpus: ids 0-9 share a base direction
      // with 1e-3 noise, so the probe's clique is the
      // planted-certainty top-10 (inter-clique cosines concentrate at
      // N(0, 1/64)).
      def pr(a: Column, j: Column, seed: Int): Column =
        (xxhash64(a, j, lit(seed)) % 1001L).cast("double") / lit(500.0)
      val vecs = spark.range(0L, 1000000L, 1L, 64)
        .select(col("id"),
          transform(sequence(lit(1), lit(64)), j =>
            (pr((col("id") / 10).cast("long"), j, 1)
              + lit(1e-3) * pr(col("id"), j, 2)).cast("float")).as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vecs.count() // materialize: the split prices the ops, not synthesis
      var mn: Array[Double] = null; var mx: Array[Double] = null
      time("sq8 TRAIN: per-dim bounds aggregate, 1M x 64d (ingest-time, written once)") {
        val b = graft.ops.Similarity.sq8Bounds(vecs, "vec")
          .orderBy(col("dim")).collect()
        mn = b.map(_.getAs[Double]("mn")); mx = b.map(_.getAs[Double]("mx"))
        b.length.toLong
      }
      time("sq8 SERVE: dequantized-cosine top-10 from stored bounds, 1M vectors") {
        val top = graft.ops.Similarity.sq8TopKFromBounds(vecs, "id", "vec",
          mn, mx, queryId = 0L, k = 10).collect()
        val ids = top.map(_.getLong(0)).toSet
        require(ids == (0L to 9L).toSet, s"planted clique not the top-10: $ids")
        top.length.toLong
      }
      time("sq8 RECALL: top-10 overlap vs the exact float ranking, 1M vectors") {
        val r = graft.ops.Similarity.sq8Recall(vecs, "id", "vec",
          mn, mx, queryId = 0L, k = 10).head()
        println(s"[probe100]   sq8 recall@10 = ${r.getDouble(2)} " +
          s"(n_hits=${r.getLong(1)})")
        r.getLong(1)
      }
      // the compressed-serving comparison: the same top-10 from the
      // 64-byte int8 CODE table through the fused dequantize+cosine
      // kernel — the scan a 100 TB deployment actually pays for
      val codes = graft.ops.Similarity.sq8Encode(vecs, "id", "vec", mn, mx)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("sq8 ENCODE: 1M x 64d -> int8 code table (ingest-time, written once)") {
        codes.count()
      }
      time("sq8 SERVE (codes): fused kernel top-10 over 64-byte codes, 1M vectors") {
        val qhat = graft.ops.Similarity.sq8DequantizedProbe(
          vecs, "id", "vec", mn, mx, queryId = 0L)
        val top = graft.ops.Similarity.sq8TopKFromCodes(codes, "id",
          "codes", mn, mx, qhat, k = 10).collect()
        val ids = top.map(_.getLong(0)).toSet
        require(ids == (0L to 9L).toSet, s"planted clique not the top-10: $ids")
        top.length.toLong
      }
      codes.unpersist(blocking = false)
      vecs.unpersist(blocking = false)
    }
    if (enabled("ivf_sq8")) locally {
      // the COMPOSED coarse+fine layout at 1M x 64d (r15 verdict item
      // 2): int8 codes partitioned on disk by coarse cell (the
      // q_ivf_sq8 geometry — argmax of the first 8 raw components),
      // then the pruned directory scan vs the full code-table scan.
      // The numbers to record: scanned fraction per nProbe, wall vs
      // the full-scan baseline, and recall vs the planted clique
      // (ids 0-9 share a base direction; the probe IS vec 0, so the
      // exact float top-10 is the clique with planted certainty).
      def pr(a: Column, j: Column, seed: Int): Column =
        (xxhash64(a, j, lit(seed)) % 1001L).cast("double") / lit(500.0)
      val vecs = spark.range(0L, 1000000L, 1L, 64)
        .select(col("id"),
          transform(sequence(lit(1), lit(64)), j =>
            (pr((col("id") / 10).cast("long"), j, 1)
              + lit(1e-3) * pr(col("id"), j, 2)).cast("float")).as("vec"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      vecs.count()
      val b = graft.ops.Similarity.sq8Bounds(vecs, "vec")
        .orderBy(col("dim")).collect()
      val mn = b.map(_.getAs[Double]("mn"))
      val mx = b.map(_.getAs[Double]("mx"))
      val dir = s"$out/ivf_sq8_codes"
      time("ivf_sq8 BUILD: assign 8 cells + encode + write PARTITIONED BY cell, 1M x 64d (ingest-time, once)") {
        val v = col("vec").cast("array<double>")
        val comps = array((0 until 8).map(j => element_at(v, j + 1)): _*)
        val best = array_max(zip_with(comps, sequence(lit(0), lit(7)),
          (x, i) => struct(x.as("sim"), (-i).as("negidx"))))
        vecs.select(col("id"),
            (-best.getField("negidx")).cast("int").as("ivf_cid"),
            graft.functions.VectorExpressions.sq8_encode(
              col("vec"), mn, mx).as("codes"))
          .write.mode("overwrite").partitionBy("ivf_cid").parquet(dir)
        1000000L
      }
      val stored = spark.read.parquet(dir)
      val qhat = graft.ops.Similarity.sq8DequantizedProbe(
        vecs, "id", "vec", mn, mx, queryId = 0L)
      val cellOrder = qhat.take(8).zipWithIndex
        .sortBy { case (x, i) => (-x, i) }.map(_._2)
      time("ivf_sq8 BASELINE: full code-table scan top-10 (no pruning), 1M") {
        val top = graft.ops.Similarity.sq8TopKFromCodes(stored, "id",
          "codes", mn, mx, qhat, k = 10).collect()
        require(top.map(_.getLong(0)).toSet == (0L to 9L).toSet,
          "planted clique not the full-scan top-10")
        top.length.toLong
      }
      for (np <- Seq(1, 2, 4)) {
        val probed = cellOrder.take(np).map(Int.box).toIndexedSeq
        val cand = stored.filter(col("ivf_cid").isin(probed: _*))
        val nCand = cand.count()
        time(f"ivf_sq8 SERVE nProbe=$np: directory-pruned scan " +
            f"(${nCand / 1e6 * 100 / 1.0}%.1f%% of corpus scanned)") {
          val top = graft.ops.Similarity.sq8TopKFromCodes(cand, "id",
            "codes", mn, mx, qhat, k = 10).collect()
          val hits = top.map(_.getLong(0)).count(id => id >= 0L && id <= 9L)
          println(s"[probe100]   nProbe=$np recall@10 vs exact = ${hits / 10.0} " +
            s"(scanned $nCand of 1000000 rows)")
          top.length.toLong
        }
      }
      vecs.unpersist(blocking = false)
    }
    spark.stop()
  }
}

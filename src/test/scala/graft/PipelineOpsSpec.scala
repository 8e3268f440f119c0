package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth tests for the training-data-pipeline operators: exact
  * behavior on planted inputs, and LSH variants validated against
  * brute-force truth.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---- LSH + exact verification ----
  test("lshVerifiedPairs: exact Jaccard decides; periodic pair verifies at exactly 1.0") {
    // A and B are "p q" repeated 8 and 9 times: different strings,
    // IDENTICAL distinct 3-gram sets → candidate with certainty (equal
    // signatures) and true Jaccard exactly 1.0. C shares roughly half
    // its shingles with D — a candidate the exact verify must CUT at
    // θ=0.9 even when the est_jaccard path would have surfaced it at a
    // lower threshold.
    // C: 42 tokens → 40 distinct trigrams; D adds 10 tokens → 50, all
    // 40 of C's shared → true J = 40/50 = 0.8 (candidacy certain:
    // P[all 16 bands miss] = (1−0.8⁴)¹⁶ ≈ 2e-4, fixed seeds)
    val base = (1 to 42).map("w" + _).mkString(" ")
    val df = Seq(
      (1L, ("p q " * 8).trim),
      (2L, ("p q " * 9).trim),
      (3L, base),
      (4L, base + " " + (1 to 10).map("x" + _).mkString(" "))).toDF("id", "text")
    val pairs = Dedup.lshVerifiedPairs(df, "id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)), pairs.mkString(";"))
    // at a permissive threshold the C/D pair appears with its true J
    val loose = Dedup.lshVerifiedPairs(df, "id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(loose === Set((1L, 2L, 1.0), (3L, 4L, 0.8)), loose.mkString(";"))
  }

  // ---- text analysis ----
  test("token counts: whitespace and BPE-ish") {
    val df = Seq((1L, "Hello, world! It's 2024.")).toDF("id", "text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("ws"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bp")).head()
    assert(r.getLong(0) == 4) // Hello, | world! | It's | 2024.
    // Hello , world ! It ' s 2024 . → 9
    assert(r.getLong(1) == 9)
  }

  test("language id picks the stopword-majority language") {
    val df = Seq(
      (1L, "the cat sat of the mat and it is that"),
      (2L, "der hund und die katze ist nicht das problem"),
      (3L, "el perro y los gatos es una cosa para no"),
      (4L, "zzz qqq xxx")).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "und"))
  }

  test("md5 fingerprint collapses spacing/case variants; rolling hash is order-sensitive") {
    val df = Seq(
      (1L, "The  Quick   Fox"), (2L, "the quick fox"),
      (3L, "fox quick the")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprintMd5(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
    val rolls = df.select(TextAnalysis.fingerprintRolling(col("text"))).collect().map(_.getLong(0))
    assert(rolls(0) == rolls(1) && rolls(0) != rolls(2))
  }

  test("quality score prefers clean prose over junk") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it is a fine day in the park today"),
      (2L, "!!! ### $$$ %% ^^ && ** (( ))")).toDF("id", "text")
    val s = df.select(col("id"), TextAnalysis.qualityScore(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > 0.8 && s(2L) < 0.4)
  }

  // ---- dedup ----
  test("exact dedup groups canonical-equal texts and keeps min id") {
    val df = Seq(
      (10L, "Alpha  Beta"), (3L, "alpha beta"), (7L, "gamma")).toDF("doc_id", "text")
    val groups = Dedup.exact(df, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((3L, 2L), (7L, 1L))) // (keep_id, n_copies)
  }

  test("ngram jaccard finds the planted near-duplicates in documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, maxShingleDf = 1000000).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("minhash LSH recalls the true high-jaccard pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.7, maxShingleDf = 1000000)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = truth.count(lsh.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} truth pairs")
  }

  test("simhash pairs: near-identical docs collide, distinct docs do not") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "sigmaX")
    val far = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  /** Independent SimHash formulation used ONLY as a cross-check for
    * [[Dedup.simhashDocs]]: per token, each bit of xxhash64(token)
    * votes ±1 via a 64-wide interpreted zip_with fold (superseded in
    * main source by the codegen'd aggregation — kept here so the spec
    * compares two genuinely different computations of the same
    * fingerprint, r7 verdict finding 3).
    */
  private def simhashViaArrays(df: org.apache.spark.sql.DataFrame,
      textCol: String, out: String): org.apache.spark.sql.DataFrame = {
    val hashes = transform(TextAnalysis.tokens(col(textCol)), t => xxhash64(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(i =>
          shiftright(h, i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)): _*),
        (a, v) => a + v))
    val bits = (0 until 64).map(i =>
      when(element_at(col("_votes"), i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    df.withColumn("_votes", votes).withColumn(out, bits).drop("_votes")
  }

  test("simhash: NULL-text docs keep fingerprint 0 and match the array formulation") {
    val df = Seq((1L, "alpha beta gamma"), (2L, null: String), (3L, null: String))
      .toDF("doc_id", "text")
    val agg = Dedup.simhashDocs(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaArray = simhashViaArrays(df, "text", "sim")
      .select(col("doc_id"), col("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg == viaArray, "codegen'd aggregation must match the array formulation")
    assert(agg(2L) == 0L && agg(3L) == 0L)
    // two null docs are Hamming-0 near-duplicates, as in the array path
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 3L)))
  }

  // ---- similarity ----
  private def perturb(v: Array[Double], eps: Double, seed: Int): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    v.map(x => x + eps * rnd.nextGaussian())
  }

  test("LSH ANN finds planted near neighbors with high recall") {
    val rnd = new scala.util.Random(7)
    val dims = 64
    val query = Array.fill(dims)(rnd.nextGaussian())
    val planted = (1 to 10).map(i => (i.toLong, perturb(query, 0.05, i).map(_.toFloat)))
    val noise = (11 to 500).map(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
    val df = (planted ++ noise).toDF("vec_id", "embedding")
    val ann = Similarity.annTopK(df, "vec_id", "embedding", query, k = 10, nBits = 12)
      .collect().map(_.getLong(0)).toSet
    val recall = (1 to 10).count(i => ann.contains(i.toLong)) / 10.0
    assert(recall >= 0.8, s"ANN recall $recall")
  }

  test("IVF ANN finds planted near neighbors") {
    val rnd = new scala.util.Random(11)
    val dims = 64
    val query = Array.fill(dims)(rnd.nextGaussian())
    val planted = (1 to 10).map(i => (i.toLong, perturb(query, 0.05, i).map(_.toFloat)))
    val noise = (11 to 500).map(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
    val df = (planted ++ noise).toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", query,
      k = 10, nCentroids = 8, nProbe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = (1 to 10).count(i => ivf.contains(i.toLong)) / 10.0
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  test("LSH ANN signs every query dimension: a differing tail splits the bucket") {
    // 200 rows equal to the probe on dims 1-64 with a random tail on
    // 65-128: hyperplanes over only the first 64 dims would put every
    // row in the probe's bucket and return all 200
    val rnd = new scala.util.Random(21)
    val head = Array.fill(64)(rnd.nextGaussian())
    val query = head ++ Array.fill(64)(rnd.nextGaussian())
    val df = (0L until 200L).map(i =>
      (i, (head ++ Array.fill(64)(rnd.nextGaussian())).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val n = Similarity.annTopK(df, "vec_id", "embedding", query, k = 200, nBits = 12)
      .count()
    assert(n < 100, s"$n of 200 rows probed: the tail dims are not signed")
  }

  test("vectorOf: a missing id fails naming the column and the id") {
    val df = Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding")
    assert(Similarity.vectorOf(df, "vec_id", "embedding", 1L).toSeq == Seq(1.0, 2.0))
    val e = intercept[NoSuchElementException] {
      Similarity.vectorOf(df, "vec_id", "embedding", 7L)
    }
    assert(e.getMessage.contains("vec_id = 7") && e.getMessage.contains("embedding"),
      e.getMessage)
  }

  test("persisted IVF index: probe prunes partitions and matches in-memory IVF") {
    val rnd = new scala.util.Random(12)
    val dims = 32
    val query = Array.fill(dims)(rnd.nextGaussian())
    val planted = (1 to 10).map(i => (i.toLong, perturb(query, 0.05, i).map(_.toFloat)))
    val noise = (11 to 500).map(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
    val df = (planted ++ noise).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    try {
      val centroids = Similarity.buildIvfIndex(df, "vec_id", "embedding", dir,
        nCentroids = 8, lloydIters = 2)
      assert(Similarity.loadIvfCentroids(dir).map(_.toSeq).toSeq ==
        centroids.map(_.toSeq).toSeq)

      val probe = Similarity.probeIvfIndex(spark, dir, "vec_id", "embedding",
        query, k = 10, nProbe = 3)
      // partition pruning is visible in the scan: only probed cells' files
      // read (input_file_name must be read below any exchange, so rebuild
      // the probe's filtered scan directly)
      val probedCells = Similarity.nearestCentroids(centroids, query, 3).toSet
      val scannedCells = spark.read.parquet(dir)
        .filter(col("ivf_cid").isin(probedCells.toSeq: _*))
        .select(input_file_name()).distinct().collect()
        .map(_.getString(0).replaceAll(".*ivf_cid=(\\d+).*", "$1").toInt).toSet
      assert(scannedCells.subsetOf(probedCells),
        s"scanned $scannedCells beyond probed $probedCells")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("ivf_cid"),
        "isin on the partition column must become a PartitionFilter")

      val got = probe.collect().map(_.getLong(0)).toSet
      val recall = (1 to 10).count(i => got.contains(i.toLong)) / 10.0
      assert(recall >= 0.8, s"persisted-IVF recall $recall")
    } finally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator.asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  test("incremental minhash equals full-batch pairs restricted to new docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val corpus = docs.filter(col("id") % 5 =!= 0)
    val fresh = docs.filter(col("id") % 5 === 0)
    val corpusSig = Dedup.minhashSignature(corpus, "id", "text", k = 64, n = 3)
    val freshSig = Dedup.minhashSignature(fresh, "id", "text", k = 64, n = 3)
    val incr = Dedup.minhashLshPairsIncremental(freshSig, corpusSig,
        k = 64, bands = 16, threshold = 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val freshIds = fresh.select("id").collect().map(_.getLong(0)).toSet
    val full = Dedup.minhashLshPairs(docs, "id", "text",
        k = 64, bands = 16, n = 3, threshold = 0.35)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => freshIds.contains(a) || freshIds.contains(b) }
      .toSet

    assert(incr == full, s"incremental-only diff: ${incr.diff(full)}; missing: ${full.diff(incr)}")
    assert(incr.nonEmpty, "expected planted near-duplicates to span the split")
  }

  test("brute-force top-k equals exact ranking") {
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0f, 1f)), (4L, Array(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding", Array(1.0, 0.0), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
  }

  test("sq8 quantization: codes span 0..255, constant dims code to 0, ranking tracks cosine") {
    val rnd = new scala.util.Random(14)
    val dims = 16
    // base direction + noisy copies at decreasing similarity, plus a
    // CONSTANT dimension appended to exercise the mx == mn guard
    val a = Array.fill(dims)(rnd.nextGaussian())
    def noisy(scale: Double, seed: Int) = perturb(a, scale, seed)
    val rows = Seq(
      (0L, a), (1L, noisy(0.01, 1)), (2L, noisy(0.05, 2)),
      (3L, noisy(0.3, 3)), (4L, a.map(-_))).map { case (id, v) =>
      (id, (v :+ 7.0).map(_.toFloat)) // dim 17 constant = 7
    }
    val df = rows.toDF("vec_id", "embedding")
    val b = Similarity.sq8Bounds(df, "embedding").orderBy("dim").collect()
    val got = Similarity.sq8TopKFromBounds(df, "vec_id", "embedding",
        b.map(_.getAs[Double]("mn")), b.map(_.getAs[Double]("mx")), queryId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // dequantized-cosine ranking: the probe ranks itself first (raw
    // code DOTS would not guarantee this — the affine offsets bias
    // them, which is why the op reconstructs), noisy copies follow in
    // noise order, the antipodal vector ranks last (its sim stays
    // positive: the shared constant dim contributes 49 to every dot)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(got.head._2 > 0.999)
    assert(got.map(_._2).sliding(2).forall(p => p(0) > p(1)),
      s"similarities not strictly decreasing: $got")
  }

  test("sq8 staged serving: stored-bounds path matches the inline build; recall row audits vs exact") {
    val rnd = new scala.util.Random(15)
    val dims = 16
    val a = Array.fill(dims)(rnd.nextGaussian())
    def noisy(scale: Double, seed: Int) = perturb(a, scale, seed)
    val rows = Seq(
      (0L, a), (1L, noisy(0.01, 1)), (2L, noisy(0.4, 2)),
      (3L, noisy(0.8, 3)), (4L, a.map(-_)),
      (5L, Array.fill(dims)(rnd.nextGaussian())))
      .map { case (id, v) => (id, v.map(_.toFloat)) }
    val df = rows.toDF("vec_id", "embedding")
    val b = Similarity.sq8Bounds(df, "embedding").orderBy("dim").collect()
    val mn = b.map(_.getAs[Double]("mn"))
    val mx = b.map(_.getAs[Double]("mx"))
    // serving over bounds staged through parquet is the SAME ranking
    // the in-memory bounds produce (doubles round-trip bit-exactly)
    val tmp = java.nio.file.Files.createTempDirectory("sq8_bounds").toFile
    val sb = try {
      Similarity.sq8Bounds(df, "embedding").write.parquet(s"$tmp/b")
      spark.read.parquet(s"$tmp/b").orderBy("dim").collect()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    val inline = Similarity.sq8TopKFromBounds(df, "vec_id", "embedding",
      mn, mx, queryId = 0L, k = 4).collect().toSeq
    val staged = Similarity.sq8TopKFromBounds(df, "vec_id", "embedding",
      sb.map(_.getAs[Double]("mn")), sb.map(_.getAs[Double]("mx")),
      queryId = 0L, k = 4).collect().toSeq
    assert(inline == staged)
    // similarity gaps here are orders of magnitude above the <=1/255
    // per-dim quantization error, so SQ8 agrees with the exact ranking
    val rec = Similarity.sq8Recall(df, "vec_id", "embedding",
      mn, mx, queryId = 0L, k = 3).head()
    assert(rec.getInt(0) == 3)
    assert(rec.getLong(1) == 3L)
    assert(rec.getDouble(2) == 1.0)
  }

  test("sq8 code table: binary encode matches the quantizer formula; fused kernel matches the float path") {
    val rnd = new scala.util.Random(16)
    val dims = 16
    val a = Array.fill(dims)(rnd.nextGaussian())
    def noisy(scale: Double, seed: Int) = perturb(a, scale, seed)
    // constant dim 17 exercises the span = 0 branch (code 0, xhat = mn)
    val rows = Seq(
      (0L, a), (1L, noisy(0.02, 1)), (2L, noisy(0.3, 2)),
      (3L, noisy(0.7, 3)), (4L, a.map(-_)),
      (5L, Array.fill(dims)(rnd.nextGaussian())))
      .map { case (id, v) => (id, (v :+ 7.0).map(_.toFloat)) }
    val df = rows.toDF("vec_id", "embedding")
    val b = Similarity.sq8Bounds(df, "embedding").orderBy("dim").collect()
    val mn = b.map(_.getAs[Double]("mn"))
    val mx = b.map(_.getAs[Double]("mx"))
    val codes = Similarity.sq8Encode(df, "vec_id", "embedding", mn, mx)
    val byId = codes.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("codes")).toMap
    assert(byId.values.forall(_.length == dims + 1))
    // byte codes replay the floor((x-mn)*255/span + 0.5) formula; the
    // constant dim codes to 0
    for ((id, v) <- rows) {
      val expect = v.zipWithIndex.map { case (x, i) =>
        val span = mx(i) - mn(i)
        if (span > 0.0)
          math.min(math.max(
            math.floor((x.toDouble - mn(i)) * 255.0 / span + 0.5), 0.0),
            255.0).toInt
        else 0
      }
      assert(byId(id).map(_ & 0xff).toSeq == expect.toSeq, s"vec $id codes")
    }
    assert(rows.forall { case (id, _) => (byId(id).last & 0xff) == 0 })
    // the fused binary kernel returns the SAME rows (ids and rounded
    // sims) as the float-scan path — the one-oracle-covers-both claim
    val qhat = Similarity.sq8DequantizedProbe(
      df, "vec_id", "embedding", mn, mx, queryId = 0L)
    val fromCodes = Similarity.sq8TopKFromCodes(codes, "vec_id", "codes",
      mn, mx, qhat, k = 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val fromFloats = Similarity.sq8TopKFromBounds(df, "vec_id", "embedding",
      mn, mx, queryId = 0L, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(fromCodes.toSeq == fromFloats.toSeq)
  }

  test("cosine near-dup pairs: planted duplicates found, random pairs excluded") {
    val rnd = new scala.util.Random(3)
    val dims = 64
    val a = Array.fill(dims)(rnd.nextGaussian())
    val rows = Seq(
      (1L, a.map(_.toFloat)), (2L, perturb(a, 0.02, 1).map(_.toFloat))) ++
      (3 to 200).map(i => (i.toLong, Array.fill(dims)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.95, nBits = 8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }
}

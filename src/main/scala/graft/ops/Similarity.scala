package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — one scan, no shuffle except the
  * final TakeOrdered(k). Scale path: random-hyperplane LSH — each row
  * gets an n-bit signature; candidates come from an equality match on
  * the signature (plus Hamming≤1 multiprobe), so a 100 TB table is
  * probed by bucket instead of scanned. Signatures are plain columns:
  * they can be precomputed, partitioned on, and pruned like any other.
  *
  * All arithmetic is double-precision, computed by the native Catalyst
  * expressions in graft.functions.VectorExpressions (codegen'd fused
  * loops — Spark's higher-order lambdas would interpret per element).
  */
object Similarity {
  import graft.functions.VectorExpressions

  /** Dot product of two array columns, accumulated in double. */
  private def dot(a: Column, b: Column): Column = VectorExpressions.dot_product(a, b)

  /** Cosine similarity, 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = VectorExpressions.cosine_sim(a, b)

  /** Deterministic pseudo-random unit-ish hyperplanes (fixed seed so
    * signatures are stable across runs and cluster restarts).
    */
  private def hyperplanes(nBits: Int, dims: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Array.fill(dims)(rnd.nextGaussian()))
  }

  /** n-bit signature of a vector column: bit i = sign(v · plane_i). */
  private def signature(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedlit(p)) >= 0.0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** The vector of row `id` as doubles: the 1-row probe lookup that
    * parameterizes a retrieval plan with its query literal. Fails
    * naming the column and the id when no row carries that id.
    */
  def vectorOf(df: DataFrame, idCol: String, vecCol: String, id: Long): Array[Double] =
    df.filter(col(idCol) === id).select(col(vecCol).cast("array<double>"))
      .head(1).headOption.map(_.getSeq[Double](0).toArray)
      .getOrElse(throw new NoSuchElementException(
        s"vectorOf: no row with $idCol = $id to read $vecCol from"))

  /** The ranked top-k tail every retrieval family ends in: `score`
    * (named `name`) per id, best first — descending for similarities,
    * ascending for distances — ties broken by ascending id, first k.
    * Compiles to scan → project → TakeOrderedAndProject: no global
    * sort, no shuffle of the table.
    */
  private def rankTopK(rows: DataFrame, idCol: String, score: Column,
      name: String, desc: Boolean, k: Int): DataFrame =
    rows.select(col(idCol), score.as(name))
      .orderBy(if (desc) col(name).desc else col(name), col(idCol))
      .limit(k)

  /** [[rankTopK]] by similarity, rounded to 6 dp after the cut: the
    * selection sees raw scores, the output the presentation value.
    */
  private def roundedTopK(rows: DataFrame, idCol: String, sim: Column,
      k: Int): DataFrame =
    rankTopK(rows, idCol, sim, "_sim", desc = true, k)
      .select(col(idCol), round(col("_sim"), 6).as("sim"))

  /** recall@k of an approximate top-k against the exact one: a single
    * (k, n_hits, recall) row, where n_hits counts the rows the two
    * share (joined on every column of `exact`) and recall = n_hits / k
    * to 6 dp. Both rankings break ties by id, so both sets are
    * engine-exact and a DuckDB oracle replays the row.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.join(approx, exact.columns.toSeq)
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(k).as("k"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(k.toDouble), 6).as("recall"))

  /** Grouped recall@k: `approx` labels each ranked row with `groupCol`
    * and holds `queries` rankings per group (keyed by the columns it
    * shares with `exact`). One (groupCol, k, n_hits, recall) row per
    * entry of `groups`, recall = n_hits / (k · queries) to 6 dp; a
    * group with no hit keeps its row with n_hits 0 (left join), so the
    * output is total.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int,
      groupCol: String, groups: Seq[String], queries: Int): DataFrame = {
    val hits = exact.join(approx, exact.columns.toSeq)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("_h"))
    val spark = exact.sparkSession
    import spark.implicits._
    val n = coalesce(col("_h"), lit(0L))
    groups.toDF(groupCol).join(hits, Seq(groupCol), "left")
      .select(col(groupCol), lit(k).as("k"), n.as("n_hits"),
        round(n.cast("double") / lit(k.toDouble * queries), 6).as("recall"))
  }

  /* Scalar int8 quantization (SQ8): the embedding-STORAGE technique at
   * 100 TB (4x smaller than float32). Per-DIMENSION global [min, max]
   * bounds map each value to floor((x-mn)*255/(mx-mn) + 0.5) in
   * 0..255 — `floor(u + 0.5)` explicitly, never a round() builtin,
   * because IEEE double subtract/multiply/divide are bit-defined across
   * engines while round-half tie policies are not, so the DuckDB oracle
   * replays the codes exactly. Ranking DEQUANTIZES (xhat = mn +
   * c*(mx-mn)/255) and uses reconstructed cosine: raw code dot products
   * are a BIASED similarity under the affine map (the per-dim offsets
   * leak into every dot — measured: a noisy copy outranks the probe
   * itself), so real SQ8 retrieval reconstructs before scoring. All
   * per-vector arithmetic stays in ARRAY order (transform + the
   * codegen'd cosine expression), the cross-engine-deterministic
   * accumulation the q_ann_topk oracle already proves out. A constant
   * dimension (mx == mn) reconstructs to mn for every vector — it
   * carries no ranking information either way.
   */

  /** Per-dimension global [min, max] bounds over an embedding column —
    * SQ8's TRAINING-time state: one |dims|-group aggregate over the
    * corpus. At 100 TB these are written once at ingest alongside the
    * int8 code table; serving reads the stored |dims|-row frame (the
    * PQ-codebook staging precedent). Returns (dim, mn, mx).
    */
  def sq8Bounds(df: DataFrame, vecCol: String): DataFrame =
    Dedup.widen(df)
      .select(posexplode(col(vecCol)).as(Seq("dim", "x0")))
      .select(col("dim"), col("x0").cast("double").as("x"))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** SQ8 top-k against PRE-TRAINED per-dimension bounds — the serving
    * shape: the |dims|-row bounds parameterize the scoring expression,
    * and the query-time plan is ONE scan with a per-row array
    * transform + TakeOrdered. No bounds aggregate, no join, no shuffle
    * of the table. The only driver read is the 1-row probe lookup.
    */
  def sq8TopKFromBounds(df: DataFrame, idCol: String, vecCol: String,
      mn: Array[Double], mx: Array[Double], queryId: Long, k: Int): DataFrame = {
    val mnL = typedlit(mn); val mxL = typedlit(mx)
    def dequantized(v: Column): Column = transform(v, (x, i) => {
      val m = element_at(mnL, i + 1); val big = element_at(mxL, i + 1)
      when(big > m,
        m + least(greatest(floor((x.cast("double") - m) * 255.0 /
            (big - m) + 0.5), lit(0L)), lit(255L)).cast("double") *
          (big - m) / 255.0)
        .otherwise(m)
    })
    val qhat = sq8DequantizedProbe(df, idCol, vecCol, mn, mx, queryId)
    roundedTopK(Dedup.widen(df), idCol,
      cosine(dequantized(col(vecCol)), typedlit(qhat)), k)
  }

  /** The probe's reconstructed (quantize -> dequantize) vector,
    * computed with the SAME IEEE double formula on the driver from the
    * [[vectorOf]] lookup.
    */
  def sq8DequantizedProbe(df: DataFrame, idCol: String, vecCol: String,
      mn: Array[Double], mx: Array[Double], queryId: Long): Array[Double] =
    vectorOf(df, idCol, vecCol, queryId).zipWithIndex.map { case (x, i) =>
      if (mx(i) > mn(i)) {
        val c = math.min(math.max(
          math.floor((x - mn(i)) * 255.0 / (mx(i) - mn(i)) + 0.5), 0.0), 255.0)
        mn(i) + c * (mx(i) - mn(i)) / 255.0
      } else mn(i)
    }

  /** SQ8 ENCODE: the int8 code table itself — (id, codes BINARY, one
    * byte per dimension), the 4x-compressed storage format written
    * once at ingest next to the bounds. Codegen'd
    * [[VectorExpressions.sq8_encode]]; codes replay floor((x-mn)*255/
    * (mx-mn) + 0.5) bit-exactly in DuckDB.
    */
  def sq8Encode(df: DataFrame, idCol: String, vecCol: String,
      mn: Array[Double], mx: Array[Double]): DataFrame =
    df.select(col(idCol),
      VectorExpressions.sq8_encode(col(vecCol), mn, mx).as("codes"))

  /** SQ8 top-k SERVED FROM THE CODE TABLE: one scan of the binary
    * codes column (64 bytes/vector instead of the float array — the
    * shape a 100 TB deployment actually scans), a fused
    * dequantize+cosine codegen kernel
    * ([[VectorExpressions.sq8_cosine_to_query]], bit-identical
    * arithmetic to the float path), TakeOrdered. Returns the same
    * rows as [[sq8TopKFromBounds]]; one oracle covers both paths.
    */
  def sq8TopKFromCodes(codes: DataFrame, idCol: String, codesCol: String,
      mn: Array[Double], mx: Array[Double], qhat: Array[Double],
      k: Int): DataFrame =
    roundedTopK(Dedup.widen(codes), idCol,
      VectorExpressions.sq8_cosine_to_query(col(codesCol), mn, mx, qhat), k)

  /** [[recallAtK]] of the SQ8 dequantized-cosine ranking against the
    * exact float-cosine ranking: the RAW probe drives the exact side,
    * its QUANTIZED form the SQ8 side.
    */
  def sq8Recall(df: DataFrame, idCol: String, vecCol: String,
      mn: Array[Double], mx: Array[Double], queryId: Long, k: Int): DataFrame =
    recallAtK(
      bruteForceTopK(df, idCol, vecCol, vectorOf(df, idCol, vecCol, queryId), k)
        .select(col(idCol)),
      sq8TopKFromBounds(df, idCol, vecCol, mn, mx, queryId, k).select(col(idCol)),
      k)

  /** Per-CELL per-dimension [min, max] bounds — LOCAL scalar
    * quantization, the IVFADC idea (quantize within the coarse cell,
    * not globally) carried to SQ8: global bounds waste code range in
    * tight cells, so training bounds per cell spends all 256 codes on
    * each cell's actual span. One (cell, dim)-grouped aggregate; the
    * output is nCells x dims rows — training-time state stored next to
    * the per-cell code table (the sq8Bounds staging precedent).
    * Returns (cellCol, dim, mn, mx).
    */
  def sq8BoundsPerCell(df: DataFrame, cellCol: String,
      vecCol: String): DataFrame =
    Dedup.widen(df)
      .select(col(cellCol), posexplode(col(vecCol)).as(Seq("dim", "x0")))
      .select(col(cellCol), col("dim"), col("x0").cast("double").as("x"))
      .groupBy(col(cellCol), col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Pivot a [[sq8BoundsPerCell]] frame to one row per cell with
    * dim-ordered (mns, mxs) arrays — the broadcast-join side of the
    * local serving scan (nCells rows of 2 x dims doubles: tiny).
    * sort_array on (dim, value) structs gives the deterministic dim
    * order without a window.
    */
  def sq8CellBoundArrays(bounds: DataFrame, cellCol: String): DataFrame =
    bounds.groupBy(col(cellCol))
      .agg(
        transform(sort_array(collect_list(struct(col("dim"), col("mn")))),
          s => s.getField("mn")).as("mns"),
        transform(sort_array(collect_list(struct(col("dim"), col("mx")))),
          s => s.getField("mx")).as("mxs"))

  /** Top-k over a per-cell-quantized code table: broadcast-join the
    * nCells-row bound arrays onto the (pruned) code scan and score
    * with the fused column-bounds kernel
    * ([[VectorExpressions.sq8_cosine_to_query_cols]]) — ASYMMETRIC
    * (ADC): db vectors dequantize per their cell's bounds, the query
    * stays raw full-precision (quantizing it against any one cell's
    * bounds would bias every other cell's scores). One scan +
    * TakeOrdered; the join adds nothing corpus-sized.
    */
  def sq8LocalTopKFromCodes(codes: DataFrame, idCol: String,
      codesCol: String, cellCol: String, cellBounds: DataFrame,
      qRaw: Array[Double], k: Int): DataFrame =
    roundedTopK(Dedup.widen(codes).join(broadcast(cellBounds), Seq(cellCol)),
      idCol, VectorExpressions.sq8_cosine_to_query_cols(
        col(codesCol), col("mns"), col("mxs"), qRaw.toSeq), k)

  /** Brute-force cosine top-k against a literal query vector: the
    * exact re-rank every approximate family runs over its candidates
    * (`df` is then the candidate frame), and the exact side of every
    * recall row.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame =
    rankTopK(df, idCol, cosine(col(vecCol), typedlit(query)), "sim", desc = true, k)

  /** LSH-bucketed approximate top-k: probe the query's signature bucket
    * plus all Hamming-distance-1 buckets (multiprobe), brute-force only
    * within candidates. On a partitioned-by-signature table this reads
    * a tiny fraction of rows; recall is tunable via nBits/probes. The
    * hyperplanes span all `query.length` dimensions.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nBits: Int = 12): DataFrame = {
    val planes = hyperplanes(nBits, query.length)
    val qSig = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d >= 0.0) 1L << i else 0L
    }.reduce(_ | _)
    val probeSigs = qSig +: (0 until nBits).map(i => qSig ^ (1L << i))
    bruteForceTopK(Dedup.widen(df).withColumn("lsh_sig", signature(col(vecCol), planes))
      .filter(col("lsh_sig").isin(probeSigs: _*)), idCol, vecCol, query, k)
  }

  // ---- IVF (inverted-file) index: the partition-pruned ANN scale path ----

  /** The one Lloyd core, behind the coarse IVF centroids and
    * [[clusterEmbeddings]]: `init` (or, without it, the deterministic
    * sample of the first n rows by xxhash64(id)) refined by `iters`
    * distributed steps. Each step is
    * one assignment pass (n codegen'd cosines per row) plus one
    * per-dimension mean — explode + groupBy(cid, dim), then collected
    * (n × dims values, tiny). Empty cells keep their previous centroid.
    * The iters + 1 passes read one persisted (vector, hash) projection
    * (a few doubles per row; at 100 TB run this on a sample).
    */
  private def lloyd(df: DataFrame, idCol: String, vecCol: String, n: Int,
      iters: Int, init: Option[Array[Array[Double]]]): Array[Array[Double]] = {
    require(n > 0, "need at least one centroid")
    val vecs = df
      .select(col(vecCol).cast("array<double>").as("v"), xxhash64(col(idCol)).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids = init.getOrElse(vecs.orderBy(col("h")).limit(n)
        .collect().map(_.getSeq[Double](0).toArray))
      for (_ <- 0 until iters) {
        val byCid = withIvfCid(vecs.select(col("v")), "v", centroids, "cid")
          .select(col("cid"), posexplode(col("v")))
          .groupBy(col("cid"), col("pos"))
          .agg(avg(col("col")).as("m"))
          .collect().groupBy(_.getInt(0))
        centroids = centroids.indices.map { c =>
          byCid.get(c) match {
            case Some(rows) =>
              rows.map(r => r.getInt(1) -> r.getDouble(2)).sortBy(_._1).map(_._2)
            case None => centroids(c) // empty cell keeps its seed
          }
        }.toArray
      }
      centroids
    } finally vecs.unpersist(blocking = false)
  }

  /** First-class embedding k-means: Lloyd clustering exposed as a
    * frame — (id, cid, cos_to_centroid) — not just the IVF internals.
    * Seeding is the same deterministic hash-ordered sample as
    * the IVF centroids unless explicit `init`
    * centroids are passed (the sklearn `init=array` shape; also what
    * makes a planted oracle analytic: from fixed init, wide-margin
    * clusters converge identically on any engine).
    *
    * Scale shape: lloydIters + 1 passes over a persisted (vector, hash)
    * projection; each pass is nClusters codegen'd cosines per row with
    * no shuffle, the per-step means are one explode + groupBy(cid, dim)
    * whose result is nClusters × dims rows (tiny collect — the merge
    * decision parameterizes the next plan, as in bpeTrain). At 100 TB
    * seed/refine on a sample, then the final assignment pass is the
    * only corpus-scale job.
    */
  def clusterEmbeddings(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, lloydIters: Int = 2,
      init: Option[Array[Array[Double]]] = None): DataFrame = {
    init.foreach(c => require(c.length == nClusters,
      s"init has ${c.length} centroids, expected $nClusters"))
    val cents = lloyd(df, idCol, vecCol, nClusters, lloydIters, init)
    df.select(col(idCol), col(vecCol).cast("array<double>").as("_cv"))
      .select(col(idCol), nearestCentroid(col("_cv"), cents).as("_b"))
      .select(col(idCol),
        (-col("_b.negidx")).cast("int").as("cid"),
        col("_b.sim").as("cos_to_centroid"))
  }

  /** Embedding outlier detection over a Lloyd run: members whose
    * cosine to their centroid falls below `alpha ×` the cluster mean —
    * the mislabeled/noise-document sweep run after clustering (the
    * complement of [[clusterPrune]]'s keep-the-prototypes). The
    * assignment frame is (id, cid, cos) — three scalars — so the
    * per-cluster mean is a k-row broadcast join, nothing corpus-sized
    * shuffles twice. The outlier FLAG compares raw doubles whose
    * planted-geometry separations (~1e-6) sit far above float noise,
    * so the boolean is engine-exact even where the rounded cosines
    * collapse.
    */
  def clusterOutliers(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, lloydIters: Int = 2,
      init: Option[Array[Array[Double]]] = None,
      alpha: Double = 1.0): DataFrame = {
    val a = clusterEmbeddings(df, idCol, vecCol, nClusters, lloydIters, init)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = a.groupBy(col("cid"))
      .agg(avg(col("cos_to_centroid")).as("_mean_cos"))
    a.join(broadcast(m), Seq("cid"))
      .select(col(idCol), col("cid"),
        round(col("cos_to_centroid"), 6).as("cos"),
        round(col("_mean_cos"), 6).as("cluster_mean"),
        (col("cos_to_centroid") < col("_mean_cos") * alpha).as("is_outlier"))
  }

  /** Cluster-based diversity pruning (the SemDeDup / SSL-prototypes
    * curation shape): k-means the embeddings, then keep only the
    * `keepPerCluster` most prototypical members of each cluster —
    * highest cosine to the learned centroid, ties broken by id. (The
    * anti-prototype variant — DROP the most typical to diversify — is
    * the same frame with the rank filter flipped by the caller, so the
    * rank column is returned.)
    *
    * Scale shape: everything [[clusterEmbeddings]] does plus ONE
    * per-cluster top-k — rank over (cid) partitions compiles to
    * WindowGroupLimit, so each cluster's scan carries at most
    * keepPerCluster rows past the filter; no global sort.
    */
  def clusterPrune(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, keepPerCluster: Int, lloydIters: Int = 2,
      init: Option[Array[Array[Double]]] = None): DataFrame = {
    require(keepPerCluster > 0, "need keepPerCluster > 0")
    val clustered = clusterEmbeddings(df, idCol, vecCol, nClusters,
      lloydIters, init)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"))
      .orderBy(col("cos_to_centroid").desc, col(idCol))
    clustered.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= keepPerCluster)
  }

  /** Cluster-health dashboard over [[clusterEmbeddings]]: per-cluster
    * size, mean and WORST member-to-centroid cosine — the numbers that
    * decide whether k was too small (a low min_cos tail) or a cluster
    * collapsed (n_members 0/1). One k-row aggregate on top of the
    * Lloyd run; mean is rounded (summation order), min is order-
    * independent by definition.
    */
  def clusterQuality(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, lloydIters: Int = 2,
      init: Option[Array[Array[Double]]] = None): DataFrame =
    clusterEmbeddings(df, idCol, vecCol, nClusters, lloydIters, init)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("cos_to_centroid")), 6).as("mean_cos"),
        round(min(col("cos_to_centroid")), 6).as("min_cos"))

  /** The one argmax: the max over (score, -idx) structs of `scores`
    * (an n-element array), so ties keep the first index (max of -idx
    * is min idx). Fields `sim` and `negidx`.
    */
  private[graft] def argmaxStruct(scores: Column, n: Int): Column =
    array_max(zip_with(scores, sequence(lit(0), lit(n - 1)),
      (s, i) => struct(s.as("sim"), (-i).as("negidx"))))

  /** Generator of the nearest centroid of `v` by cosine as one
    * [[argmaxStruct]] row. The explode of the 1-element array is a
    * Generate barrier, so the native cosines are evaluated EXACTLY once
    * per row: without it ProjectCollapse inlines the struct into every
    * consumer and the cosine array is computed twice per row (measured
    * 2x on the k=64 probe).
    */
  private def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    explode(array(argmaxStruct(
      array(centroids.map(c => cosine(v, typedlit(c))): _*), centroids.length)))

  /** Attach the nearest-centroid id (argmax cosine, first index on
    * ties). At scale, WRITE the table partitioned by this column — a
    * probe then reads only nProbe directories.
    */
  private def withIvfCid(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]], out: String): DataFrame =
    df.select(col("*"), nearestCentroid(col(vecCol), centroids).as("_b"))
      .withColumn(out, (-col("_b.negidx")).cast("int"))
      .drop("_b")

  /** IVF approximate top-k: probe the nProbe centroid cells nearest the
    * query, brute-force only within them. On a cid-partitioned table
    * the non-probed cells are pruned at the directory level, so the
    * scan cost is ~nProbe/nCentroids of the corpus.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 2): DataFrame = {
    val centroids = lloyd(df, idCol, vecCol, nCentroids, lloydIters, None)
    val probed = nearestCentroids(centroids, query, nProbe)
    bruteForceTopK(withIvfCid(Dedup.widen(df), vecCol, centroids, "ivf_cid")
      .filter(col("ivf_cid").isin(probed.toIndexedSeq: _*)), idCol, vecCol, query, k)
  }

  /** Indices of the nProbe centroids nearest (by cosine) to the query. */
  def nearestCentroids(centroids: Array[Array[Double]], query: Array[Double],
      nProbe: Int): Array[Int] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / math.sqrt(na * nb)
    }
    centroids.zipWithIndex.sortBy { case (c, _) => -cos(c, query) }
      .take(nProbe).map(_._2)
  }

  // ---- persisted IVF index: build once, probe many ----

  /** Build a persistent IVF index at `path`: the table written as
    * parquet PARTITIONED BY ivf_cid (one directory per cell), with the
    * trained centroids in a `_ivf_centroids.txt` sidecar (the leading
    * underscore keeps Spark's file listing from treating it as data).
    * Probes then read only the probed cells' directories — at 100 TB
    * the index build is a one-off batch job and every query scans
    * ~nProbe/nCentroids of the corpus. Returns the centroids.
    */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, nCentroids: Int = 16, lloydIters: Int = 2,
      fixedCentroids: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    val centroids = fixedCentroids.getOrElse(
      lloyd(df, idCol, vecCol, nCentroids, lloydIters, None))
    withIvfCid(df, vecCol, centroids, "ivf_cid")
      .write.mode("overwrite").partitionBy("ivf_cid").parquet(path)
    val sidecar = java.nio.file.Paths.get(path, "_ivf_centroids.txt")
    java.nio.file.Files.write(sidecar,
      centroids.map(_.mkString(",")).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    centroids
  }

  /** Incremental IVF maintenance: absorb a new batch into an existing
    * [[buildIvfIndex]] index WITHOUT rebuilding it. The batch is
    * assigned against the index's frozen sidecar centroids (so an
    * incremental add lands every vector in exactly the cell a full
    * rebuild-assign would), already-indexed ids are dropped by an
    * anti-join (re-delivered batches are no-ops — the at-least-once
    * ingest contract), and the remainder is APPENDED into the cid
    * partition directories. Cost is O(batch) assignment + one id
    * anti-join + an append that touches only the batch's cells; the
    * base index files are never rewritten (spec-asserted). This is the
    * daily-ingest path the kNN-graph and fingerprint stores already
    * have: at 100 TB the index is built once and absorbs batches, and
    * centroid drift is handled by a scheduled full rebuild, not by
    * every ingest. Returns the number of newly indexed rows.
    */
  def updateIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): Long = {
    val centroids = loadIvfCentroids(path)
    val existing = graft.ParquetSchemas.read(spark, path).select(col(idCol))
    val fresh = withIvfCid(batch, vecCol, centroids, "ivf_cid")
      .join(existing, Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = fresh.count()
    if (n > 0)
      fresh.write.mode("append").partitionBy("ivf_cid").parquet(path)
    fresh.unpersist()
    n
  }

  /** Centroids from a [[buildIvfIndex]] sidecar. */
  def loadIvfCentroids(path: String): Array[Array[Double]] =
    new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path, "_ivf_centroids.txt")),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.split(",").map(_.toDouble))

  /** Top-k against a persisted IVF index. The isin filter on the
    * partition column becomes a PartitionFilter in the scan: pruned
    * cells are never listed, let alone read (asserted in spec).
    */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, query: Array[Double], k: Int,
      nProbe: Int = 4): DataFrame = {
    val probed = nearestCentroids(loadIvfCentroids(path), query, nProbe)
    bruteForceTopK(graft.ParquetSchemas.read(spark, path)
      .filter(col("ivf_cid").isin(probed.toIndexedSeq: _*)), idCol, vecCol, query, k)
  }

  /** SemDeDup-style semantic dedup sweep: embedding near-duplicate
    * pairs ([[cosineNearDupPairs]] — LSH-bucketed candidates, exact
    * cosine cut) feed [[Dedup.connectedComponents]] (pointer-jumping
    * min-label propagation), and each cluster keeps its minimum id.
    * Returns the input keyed frame plus (cluster_id, keep): filter on
    * `keep` to materialize the deduped corpus, aggregate on
    * `cluster_id` to audit cluster sizes.
    *
    * Scale: the pair build is one signature shuffle (never all-pairs),
    * CC is O(log diameter) rounds over the near-dup subgraph only
    * (nodes without a near-dup never enter the loop), and the final
    * membership join is a plain equi-join on the id. The composition
    * reuses two independently oracle-verified operators.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nBits: Int = 16, dims: Int = 64): DataFrame = {
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, nBits, dims)
    val cc = Dedup.connectedComponents(pairs)
      .select(col("id").as("_cc_id"), col("cluster_id"))
    df.join(cc, df(idCol) === col("_cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), df(idCol)))
      .withColumn("keep", col("cluster_id") === df(idCol))
      .drop("_cc_id")
  }

  /** Deterministic ±1 Achlioptas/JL sign for (output dim j, input dim
    * i): parity of the first hex digit of md5("rp:seed:j:i"). Any
    * engine with md5 recomputes the identical matrix — the property
    * that lets the DuckDB oracle replay the whole projection.
    */
  def rpSign(seed: Long, j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"rp:$seed:$j:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0x1) == 0) 1.0 else -1.0
  }

  /** Random-projection (Johnson–Lindenstrauss) dimensionality
    * reduction: out_j = Σ_i sign(j,i)·v_i with a deterministic ±1 sign
    * matrix. Shrinks the embedding column dims/outDims× before the
    * expensive downstream ops (LSH signing, kNN candidate ranking,
    * k-means) while preserving pairwise distances within the JL bound —
    * at 100 TB the projection is a pure per-row map (zero shuffle, no
    * model state, nothing to broadcast but the literal sign matrix) so
    * it runs at scan speed.
    *
    * The sign rows are literal arrays folded by the native codegen'd
    * dot product (sequential loop, same order as DuckDB's
    * list_dot_product, so the rounded values are engine-exact).
    * Output: (id, out_dim, val) exploded rows.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dims: Int = 64, seed: Long = 42L): DataFrame = {
    val signs = Array.tabulate(outDims, dims)((j, i) => rpSign(seed, j, i))
    val projArr = array((0 until outDims).map { j =>
      round(dot(typedlit(signs(j).toSeq), col("_v")), 6)
    }: _*)
    df.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .select(col("id"), posexplode(projArr))
      .select(col("id"), col("pos").cast("long").as("out_dim"),
        col("col").as("val"))
  }

  /** (id, v, sig0..sigN) — the multi-table LSH signature frame shared
    * by [[knnGraphLsh]] and [[knnGraphIncrement]]. At 100 TB this is
    * the persisted "index": write it once (optionally bucketed by a
    * signature column) and daily batches join against it without
    * re-signing the corpus.
    */
  def withLshSignatures(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int = 10, tables: Int = 4, dims: Int = 64): DataFrame = {
    val sigCols = (0 until tables).map { t =>
      signature(col(vecCol), hyperplanes(nBits, dims, seed = 42L + t)).as(s"sig$t")
    }
    df.select(Seq(col(idCol).as("id"), col(vecCol).as("v")) ++ sigCols: _*)
  }

  /** Approximate kNN GRAPH over the whole embedding table — the
    * all-nodes neighbor structure behind embedding-based clustering,
    * diversity curation, and semantic-dedup sweeps (as opposed to
    * [[annTopK]], which answers one query). Multi-table hyperplane
    * LSH: `tables` independent signature columns; any shared bucket in
    * any table makes a candidate pair; exact cosine ranks each node's
    * candidates and `row_number <= k` keeps the top k (Spark 4 rewrites
    * the rank filter into WindowGroupLimit — per-key top-k starts
    * map-side, before the exchange).
    *
    * Scale: no all-pairs stage anywhere — cost is sum over buckets of
    * bucket², and random hyperplanes keep buckets balanced (no data
    * hot key, unlike token shingles: a signature collision needs
    * angular proximity). The candidate stage moves ONLY (src, dst) id
    * pairs — 16 bytes/row; vectors attach AFTER the cross-table
    * dedup, via two id-keyed joins against the (tables×
    * smaller) node frame, so the dims-sized payload is shuffled once
    * per node side, not once per bucket collision (measured 2.1× on the
    * 10× probe's worst-case duplicated corpus: 12.1 → 5.9 s). Nodes with no bucket
    * collision in any table have no edges and drop out —
    * approximate-by-design, like every LSH structure; raise `tables`
    * or lower `nBits` for denser recall.
    */
  def knnGraphLsh(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int = 10, tables: Int = 4, dims: Int = 64): DataFrame = {
    require(k > 0 && nBits > 0 && tables > 0, "k, nBits, tables must be positive")
    // persist: tables×nBits×dims dot products per row, read by 2×tables
    // slim join sides plus the two vector-attach sides
    val signed = withLshSignatures(Dedup.widen(df), idCol, vecCol, nBits, tables, dims)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    knnEdges(signed, signed, tables, k)
  }

  /** The kNN candidate → exact re-rank tail shared by both graph
    * builds: (src, dst) pairs sharing a bucket in any of `tables`
    * signature columns (a pair colliding in m tables ranks once),
    * vectors attached after the dedup, exact cosine, top k per src.
    * Returns (src, dst, cos, rank).
    */
  private def knnEdges(srcs: DataFrame, dsts: DataFrame, tables: Int,
      k: Int): DataFrame = {
    val cand = (0 until tables).map { t =>
      srcs.select(col("id").as("src"), col(s"sig$t").as("s"))
        .join(dsts.select(col("id").as("dst"), col(s"sig$t").as("s")), Seq("s"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
    }.reduce(_ unionByName _)
      .dropDuplicates("src", "dst")
    rankWithin(cand
      .join(srcs.select(col("id").as("src"), col("v").as("va")), Seq("src"))
      .join(dsts.select(col("id").as("dst"), col("v").as("vb")), Seq("dst"))
      .select(col("src"), col("dst"), cosine(col("va"), col("vb")).as("cos")),
      "src", Seq(col("cos").desc, col("dst")), k, "rank")
  }

  /** Rows of `df` ranked within each `key` by `order` into `rankCol`,
    * the first k kept. Spark 4 rewrites the rank filter into
    * WindowGroupLimit, so per-key top-k starts map-side, before the
    * exchange.
    */
  private def rankWithin(df: DataFrame, key: String, order: Seq[Column],
      k: Int, rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(key)).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /** Incremental kNN-graph update — the daily-ingest path: edges for a
    * NEW batch of vectors against a stored corpus signature frame
    * (a [[withLshSignatures]] result, persisted as the index at scale),
    * plus within-batch edges. Cost scales with batch × bucket hits,
    * never corpus² — the [[Dedup.minhashLshPairsIncremental]] shape
    * for embeddings. Returns (src, dst, cos, rank) for batch ids only;
    * stored nodes gaining a new neighbor appear as that edge's dst
    * (merge reversed edges into the stored graph downstream).
    */
  def knnGraphIncrement(newSigned: DataFrame, corpusSigned: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // the table count comes from the frames themselves, and both sides
    // must carry the SAME signature columns: two withLshSignatures
    // frames built with different nBits/tables would still join
    // column-wise but (almost) never match bucket-wise, yielding a
    // silently near-empty graph — fail loudly instead. (Differing
    // nBits/seed with equal column sets cannot be detected from the
    // schema; persist index parameters alongside the index.)
    val sigCols = (df: DataFrame) =>
      df.columns.filter(_.startsWith("sig")).sorted.toSeq
    val tables = sigCols(newSigned).size
    require(tables > 0 && sigCols(newSigned) == sigCols(corpusSigned),
      s"signature columns differ: batch=${sigCols(newSigned)} corpus=${sigCols(corpusSigned)}")
    val batch = newSigned
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the batch joins the corpus AND itself (within-batch duplicates)
    knnEdges(batch, corpusSigned.unionByName(batch), tables, k)
  }

  /** Embedding-cosine near-duplicate pairs: equality join on the LSH
    * signature (single shuffle on a compact long key), then exact
    * cosine verification ≥ threshold. The signature join finds pairs
    * with high angular similarity; threshold does the final cut.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nBits: Int = 16, dims: Int = 64): DataFrame = {
    val planes = hyperplanes(nBits, dims)
    // persist: nBits×dims dot products per row, consumed by both join sides
    val signed = Dedup.widen(df).select(col(idCol).as("id"), col(vecCol).as("v"),
      signature(col(vecCol), planes).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    signed.as("a")
      .join(signed.as("b"), col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---- Product quantization (PQ): the compressed-domain ANN scale path ----
  // Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  // Search" (TPAMI 2011): split each vector into m contiguous
  // subspaces, quantize each against its own k-codeword codebook, and
  // search with asymmetric distance (query stays full-precision; each
  // database vector costs m table lookups). 64 doubles collapse to
  // m log2(k) bits — at m=8, k=16 that's 4 bytes/vector, the 100 TB
  // trick that keeps a billion-vector index in executor memory while
  // the raw embeddings stay on disk.

  /** Deterministic sampled codebooks: per subspace, the subvectors of
    * the `k` corpus vectors ranked first by (md5(id), id) — an
    * engine-portable pseudo-random sample, so any engine rebuilds the
    * identical codebooks (the portability games a trained-kmeans
    * codebook can't play; codeword QUALITY is audited by pqRecall).
    * One k-row collect, driver-side slicing. dims must divide by m.
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Array[Array[Array[Double]]] = {
    require(m >= 1 && k >= 2, "need m >= 1, k >= 2")
    val seeds = df
      .select(col(idCol).as("_id"), col(vecCol).cast("array<double>").as("_e"))
      .orderBy(md5(col("_id").cast("string")), col("_id"))
      .limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    require(seeds.length == k, s"corpus smaller than k=$k")
    val dims = seeds.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val dsub = dims / m
    Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** PQ-encode every vector: per subspace the nearest codeword (ties →
    * lowest code, via the (dist, code) struct-min), plus the total
    * quantization error. Zero shuffle — m·k codegen'd squared
    * distances per row against broadcast-literal codebooks; the output
    * is (id, codes array, err), the 4-byte compressed index frame.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    // one fused codegen'd loop nest (functions.PqEncode), not m·k
    // interpreted aggregate(zip_with(...)) sub-distances — the same
    // arithmetic in the same order (left-to-right element sums,
    // NaN-greatest struct-min with ties to the lowest code, err summed
    // in subspace order), so codes and err are bit-identical and the
    // ordered-list_reduce oracles replay unchanged (PqExprSpec pins
    // parity against the old formulation)
    val enc = graft.functions.PqExpressions.pq_encode(
      col(vecCol).cast("array<double>"), codebooks)
    df.select(col(idCol),
      enc.getField("codes").as("codes"),
      enc.getField("err").as("err"))
  }

  /** Asymmetric-distance top-k over a PQ-encoded frame: the query's
    * m×k distance table is computed driver-side (tiny) and baked in as
    * literals, so each database vector costs m array lookups + m−1
    * adds — no vector arithmetic, no shuffle, and the TakeOrdered
    * top-k never sorts the corpus. This is the scan shape that makes
    * PQ the in-memory billion-vector path.
    */
  def pqAdcTopK(encoded: DataFrame, idCol: String, codesCol: String,
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      topK: Int): DataFrame = {
    require(query.length == codebooks.length * codebooks.head.head.length,
      "query dims != m * dsub")
    rankTopK(encoded, idCol, adcDistance(col(codesCol), adcTable(codebooks, query)),
      "approx_dist", desc = false, topK)
  }

  /** The query's m×k ADC table: squared L2 from each query subvector
    * to each codeword of its subspace, a left-to-right double sum.
    */
  private def adcTable(codebooks: Array[Array[Array[Double]]],
      query: Array[Double]): Array[Array[Double]] =
    Array.tabulate(codebooks.length) { j =>
      val dsub = codebooks(j).head.length
      val qs = query.slice(j * dsub, (j + 1) * dsub)
      codebooks(j).map { cw =>
        var acc = 0.0; var i = 0
        while (i < dsub) { val d = qs(i) - cw(i); acc += d * d; i += 1 }
        acc
      }
    }

  /** ADC distance of a codes column: m literal-table lookups summed in
    * subspace order.
    */
  private def adcDistance(codes: Column, dt: Array[Array[Double]]): Column =
    dt.indices.map(j => element_at(typedlit(dt(j)), element_at(codes, j + 1) + 1))
      .reduceLeft(_ + _)

  /** Quantized-space vector column: round(x · 2^20) per dimension,
    * held as integer-valued doubles. Training on this grid is what
    * makes TRAINED codebooks engine-exact: per-cluster per-dim sums
    * become sums of integers — commutative, so any engine in any
    * partition order produces the identical rational centroid S/n —
    * where float means are summation-order-dependent and
    * unverifiable. The ~1e-6 relative grid noise is irrelevant to
    * ranking quality.
    */
  def pqQuantize(vecCol: Column): Column =
    transform(vecCol.cast("array<double>"), x => round(x * lit(1048576.0)))

  /** K-means-trained PQ codebooks (the Jégou et al. training step),
    * run per subspace on the quantized grid: init = the (md5, id)
    * sampled codebooks, then `iters` Lloyd steps. Each step is ONE
    * distributed job — assignment via m·k codegen'd distances, a
    * posexplode to (subspace, code, subvector) grain, and a
    * (j, code) aggregate of exact integer per-dim sums (m·k rows
    * collected, tiny). Empty cells keep their previous codeword.
    * Integer sums + one division make every centroid bit-identical
    * across engines and execution orders — the property that lets an
    * oracle replay the whole training run.
    */
  def pqTrainCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int = 2): Array[Array[Array[Double]]] = {
    val qdf = df
      .select(col(idCol).as("_id"), pqQuantize(col(vecCol)).as("_qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cbs = pqCodebooks(qdf, "_id", "_qv", m, k)
      val dsub = cbs.head.head.length
      for (_ <- 1 to iters) {
        // assignment via ONE fused pq_encode per row — the same
        // (dist, code) struct-min semantics, codegen'd (see PqEncode),
        // projected BEFORE the explode so it runs once per row
        val withCodes = qdf.select(col("_qv"),
          graft.functions.PqExpressions.pq_encode(col("_qv"), cbs)
            .getField("codes").as("_codes"))
        val perSub = (0 until m).map { j =>
          struct(element_at(col("_codes"), j + 1).as("code"),
            slice(col("_qv"), j * dsub + 1, dsub).as("sub"))
        }
        val aggs = count(lit(1)).as("n") +:
          (0 until dsub).map(i => sum(col("s.sub")(i)).as(s"s$i"))
        val sums = withCodes
          .select(posexplode(array(perSub: _*)).as(Seq("j", "s")))
          .groupBy(col("j"), col("s.code").as("code"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        val next = cbs.map(_.map(_.clone()))
        sums.foreach { r =>
          val j = r.getAs[Int]("j"); val c = r.getAs[Int]("code")
          val n = r.getAs[Long]("n").toDouble
          next(j)(c) = Array.tabulate(dsub)(i => r.getAs[Double](s"s$i") / n)
        }
        cbs = next
      }
      cbs
    } finally qdf.unpersist(blocking = false)
  }

  /** Mean recall@k of the ADC ranking against the exact squared-L2
    * ranking over a BATCH of probe queries, for SEVERAL codebooks over
    * the same corpus — single-probe recall is far too noisy to compare
    * codebooks on (one draw swings 0.1–0.5), so the codebook-quality
    * number must average. One distributed plan: the exact and the ADC
    * per-probe top-k compile to WindowGroupLimit over an exploded
    * (probe, id, dist) frame — no driver loop, no per-probe job; the
    * exact ranking, identical for every codebook, is computed once and
    * joined against the union of the per-codebook ADC rankings by the
    * grouped [[recallAtK]], so a codebook with zero overlap keeps its
    * row. Probe batches are small by construction (an audit samples
    * tens of queries, not the corpus).
    */
  def pqRecallMeanMulti(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[(String, Array[Array[Array[Double]]])],
      probes: Seq[(Long, Array[Double])], k: Int): DataFrame = {
    require(probes.nonEmpty, "need at least one probe")
    require(codebooks.nonEmpty, "need at least one codebook")
    val e = col(vecCol).cast("array<double>")
    def topkPerProbe(pairs: DataFrame): DataFrame =
      rankWithin(pairs, "p", Seq(col("d"), col("id")), k, "rn").select(col("p"), col("id"))
    val exact = topkPerProbe(df.select(col(idCol).as("id"),
        explode(array(probes.map { case (p, q) =>
          struct(lit(p).as("p"),
            graft.functions.PqExpressions.sq_l2_to_query(e, q.toSeq).as("d"))
        }: _*)).as("s"))
      .select(col("id"), col("s.p").as("p"), col("s.d").as("d")))
    val adc = codebooks.map { case (label, cbs) =>
      topkPerProbe(pqEncode(df, idCol, vecCol, cbs)
        .select(col(idCol).as("id"),
          explode(array(probes.map { case (p, q) =>
            struct(lit(p).as("p"),
              adcDistance(col("codes"), adcTable(cbs, q)).as("d"))
          }: _*)).as("s"))
        .select(col("id"), col("s.p").as("p"), col("s.d").as("d")))
        .withColumn("codebook", lit(label))
    }.reduce(_ unionByName _)
    recallAtK(exact, adc, k, "codebook", codebooks.map(_._1), probes.length)
      .select(col("codebook"), col("k"), lit(probes.length).as("n_probes"),
        col("n_hits"), col("recall").as("mean_recall"))
  }

  /** Recall@k audit of the ADC ranking against the exact squared-L2
    * top-k — the quality number a PQ deployment must publish. Both
    * rankings are deterministic, so the single audit row is
    * oracle-recomputable end to end.
    */
  def pqRecall(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      k: Int): DataFrame = {
    // codegen'd, bit-identical to the HOF fold (see SqL2ToQuery)
    val exactDist = graft.functions.PqExpressions.sq_l2_to_query(
      col(vecCol).cast("array<double>"), query.toSeq)
    recallAtK(
      rankTopK(df, idCol, exactDist, "d", desc = false, k).select(col(idCol)),
      pqAdcTopK(pqEncode(df, idCol, vecCol, codebooks),
        idCol, "codes", codebooks, query, k).select(col(idCol)),
      k)
  }

  /** IVF probe sweep: recall@k and candidate volume at each nProbe in
    * `probes`, against the exact brute-force top-k — the
    * latency/recall tradeoff curve an IVF deployment publishes before
    * choosing its operating point. Centroids are supplied (a trained
    * codebook is an input at serving time), cell assignment runs once
    * and is shared by every curve point, and each point is one
    * cell-pruned filter + TakeOrdered — at 100 TB over a
    * cid-partitioned table each point scans ~nProbe/nCells of the
    * corpus and the sweep costs the sum of its points, nothing more.
    */
  def ivfProbeSweep(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, centroids: Array[Array[Double]],
      probes: Seq[Int]): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    require(probes.nonEmpty, "need at least one probe count")
    val cid = withIvfCid(df, vecCol, centroids, "ivf_cid")
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("ivf_cid"))
      .persist(MEMORY_AND_DISK)
    val truth = bruteForceTopK(df, idCol, vecCol, query, k)
      .select(col(idCol).as("id")).persist(MEMORY_AND_DISK)
    probes.map { p =>
      val cells = nearestCentroids(centroids, query, p)
      val cand = cid.filter(
        col("ivf_cid").isin(cells.map(Int.box).toIndexedSeq: _*))
      val top = bruteForceTopK(cand, "id", "v", query, k).select(col("id"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(recallAtK(truth, top, k))
        .select(lit(p).as("n_probe"), col("n_candidates"), col("n_hits"),
          col("recall").as(s"recall_at_$k"))
    }.reduce(_.unionByName(_))
  }

  /** Maximal-Marginal-Relevance diversity re-rank (Carbonell &
    * Goldstein, SIGIR'98) of per-probe candidate lists: greedily pick
    * k results maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), so
    * near-duplicate hits stop crowding out coverage — the re-rank a
    * retrieval-augmented training-data sampler runs after ANN.
    *
    * Determinism across engines is by INTEGER selection: relevance and
    * pairwise cosines are quantized to micro-units (×10⁶, rounded
    * half-away like both engines' ROUND). Pick 1 is argmax relevance
    * (MMR's round 1 has an empty selected set, so the diversity term
    * is identically 0 — ranking by srel directly also keeps λ = 0
    * meaningful instead of degenerating to a constant score); picks
    * 2..k are argmax of the BIGINT λnum·srel − (λden−λnum)·maxsim.
    * Every tie breaks on id ascending — a total order with no float
    * anywhere in a decision.
    *
    * Scale shape: greedy MMR is inherently sequential in k, but the
    * sequence is PER PROBE over an already-cut candidate list (`cands`
    * should be an ANN/brute-force top-c cut), so it belongs inside one
    * task, not across k cluster-wide rounds. The plan is: one
    * probe-partitioned row_number (dense per-probe index, ordered by
    * id so integer index ties replay id ties), ONE distributed
    * self-join computing the Σ_p c_p² pairwise quantized cosines, one
    * probe-keyed collect, then the greedy loop runs as a scalar
    * function over each probe's O(c²) integer matrix — O(c·k)
    * comparisons per probe, one row per probe through the function,
    * probes parallelize freely, zero sequential jobs. (k cluster-wide
    * rounds with a localCheckpoint each would pay a fixed per-round
    * job overhead that dominates the actual work ~20× and does not
    * amortize with scale.) The imperative greedy
    * selection is a deliberate UDF: it is genuinely sequential
    * per-group logic over bounded arrays, not a per-row hot path.
    *
    * Input columns: probeCol, idCol, relCol (cosine-like relevance in
    * [−1, 1]), vecCol (numeric array). Returns (probeCol, idCol, pos
    * 1..k, rel — the micro-quantized relevance).
    */
  def mmrRerank(cands: DataFrame, probeCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int,
      lambdaNum: Int = 7, lambdaDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Row
    require(k >= 1 && lambdaDen >= 1 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      "need k >= 1 and 0 <= lambdaNum/lambdaDen <= 1")
    // eager localCheckpoint: the frame is referenced four times below
    // (pair self-join twice, candidate collect, final id join-back), and
    // the upstream candidate cut may be expensive — materialize once.
    // Null-relevance / null-vector candidates are unrankable and DROP
    // here (documented contract): the greedy fold reads srel/sim as
    // primitive longs, so a null reaching it would abort the query
    // instead of degrading.
    val base = cands
      .filter(col(relCol).isNotNull && col(vecCol).isNotNull)
      .select(col(probeCol).as("p"), col(idCol).as("id"),
        round(col(relCol) * 1e6).cast("long").as("srel"), col(vecCol).as("v"))
      .withColumn("ix", row_number().over(
        Window.partitionBy(col("p")).orderBy(col("id"))))
      .localCheckpoint(true)
    val sims = base.select(col("p"), col("ix").as("ia"), col("v").as("va"))
      .join(base.select(col("p"), col("ix").as("ib"), col("v").as("vb")),
        Seq("p"))
      .filter(col("ia") < col("ib"))
      // coalesce: a degenerate (zero-norm) vector's cosine is NULL/NaN;
      // quantize it to 0 similarity rather than NPE-ing the greedy fold
      .select(col("p"), col("ia"), col("ib"),
        coalesce(round(cosine(col("va"), col("vb")) * 1e6).cast("long"),
          lit(0L)).as("sim"))
      .groupBy(col("p"))
      .agg(collect_list(struct(col("ia"), col("ib"), col("sim"))).as("ss"))
    val ln = lambdaNum.toLong
    val dv = (lambdaDen - lambdaNum).toLong
    val kk = k
    val greedy = udf((cs: Seq[Row], ps: Seq[Row]) => {
      val n = cs.size
      val srel = new Array[Long](n) // slot ix-1 (dense per-probe index)
      cs.foreach(r => srel(r.getInt(0) - 1) = r.getLong(1))
      val sim = Array.ofDim[Long](n, n)
      if (ps != null) ps.foreach { r =>
        val a = r.getInt(0) - 1; val b = r.getInt(1) - 1
        sim(a)(b) = r.getLong(2); sim(b)(a) = r.getLong(2)
      }
      val taken = new Array[Boolean](n)
      val maxsim = new Array[Long](n)
      val out = Seq.newBuilder[(Int, Int)]
      var pos = 1
      while (pos <= math.min(kk, n)) {
        var best = -1
        var i = 0
        while (i < n) {
          if (!taken(i) && (best < 0 || {
            // ascending scan + strict > keeps the LOWEST index (= lowest
            // id, by the row_number ordering) on score ties
            if (pos == 1) srel(i) > srel(best)
            else ln * srel(i) - dv * maxsim(i) >
              ln * srel(best) - dv * maxsim(best)
          })) best = i
          i += 1
        }
        taken(best) = true
        out += ((best + 1, pos))
        i = 0
        while (i < n) {
          // after pick 1 the selected set is a singleton: maxsim IS that
          // sim, which may be NEGATIVE — assign, don't max against the
          // zero-initialized slot
          if (!taken(i) &&
              (pos == 1 || sim(i)(best) > maxsim(i)))
            maxsim(i) = sim(i)(best)
          i += 1
        }
        pos += 1
      }
      out.result()
    })
    val picks = base
      .groupBy(col("p"))
      .agg(collect_list(struct(col("ix"), col("srel"))).as("cs"))
      .join(sims, Seq("p"), "left") // single-candidate probes have no pairs
      .select(col("p"), explode(greedy(col("cs"), col("ss"))).as("_k"))
      .select(col("p"), col("_k._1").as("ix"), col("_k._2").as("pos"))
    picks.join(base, Seq("p", "ix"))
      .select(col("p").as(probeCol), col("id").as(idCol), col("pos"),
        round(col("srel").cast("double") / 1e6, 6).as("rel"))
  }
}

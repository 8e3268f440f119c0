package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 part 10: product quantization. */
class Round8jSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Double])*) =
    rows.toDF("id", "v")

  test("pqCodebooks: md5-ordered sample, subspace slicing") {
    val df = vecs(
      1L -> Seq(1.0, 2.0, 3.0, 4.0),
      2L -> Seq(5.0, 6.0, 7.0, 8.0),
      3L -> Seq(9.0, 10.0, 11.0, 12.0))
    val cb = Similarity.pqCodebooks(df, "id", "v", m = 2, k = 2)
    assert(cb.length === 2)               // m subspaces
    assert(cb.forall(_.length === 2))     // k codewords each
    assert(cb.forall(_.forall(_.length === 2))) // dsub = 2
    // codeword c of subspace 1 is the back half of the SAME seed as
    // codeword c of subspace 0
    val fronts = cb(0).map(_.toSeq)
    val backs = cb(1).map(_.toSeq)
    val full = Seq(Seq(1.0, 2.0, 3.0, 4.0), Seq(5.0, 6.0, 7.0, 8.0),
      Seq(9.0, 10.0, 11.0, 12.0))
    fronts.zip(backs).foreach { case (f, b) =>
      assert(full.contains(f ++ b))
    }
    // deterministic
    val cb2 = Similarity.pqCodebooks(df, "id", "v", m = 2, k = 2)
    assert(cb.map(_.toSeq.map(_.toSeq)).toSeq === cb2.map(_.toSeq.map(_.toSeq)).toSeq)
  }

  test("pqEncode: a codeword vector encodes to itself with err 0") {
    val df = vecs(
      1L -> Seq(0.0, 0.0, 10.0, 10.0),
      2L -> Seq(10.0, 10.0, 0.0, 0.0),
      3L -> Seq(0.1, 0.0, 10.0, 10.1)) // near vec 1
    val cb = Similarity.pqCodebooks(df, "id", "v", m = 2, k = 2)
    val enc = Similarity.pqEncode(df, "id", "v", cb)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getSeq[Int](1), r.getAs[Double]("err")))).toMap
    // seeds are two of the three vectors; each seed encodes losslessly
    val zeroErr = enc.filter(_._2._2 == 0.0)
    assert(zeroErr.size >= 2)
    // vec 3 quantizes to the cell nearest vec 1's halves
    val near1 = enc(3L)._1
    val exact1 = enc(1L)._1
    assert(near1 === exact1)
    assert(enc(3L)._2 > 0.0)
  }

  test("pqAdcTopK: an exact query copy ranks first with the minimal ADC distance") {
    val base = (1L to 20L).map(i =>
      i -> Seq(i.toDouble, -i.toDouble, 2.0 * i, 1.0 / i))
    val query = Seq(7.0, -7.0, 14.0, 1.0 / 7.0)
    val df = vecs((base :+ (99L -> query)): _*)
    val cb = Similarity.pqCodebooks(df, "id", "v", m = 2, k = 4)
    val enc = Similarity.pqEncode(df, "id", "v", cb)
    val top = Similarity.pqAdcTopK(enc, "id", "codes", cb, query.toArray, topK = 21)
      .collect()
    // ids 7 and 99 share the query's vector, so they sit at the global
    // ADC minimum — along with any OTHER vector quantized into the same
    // cell (ADC can't see within-cell differences; cell-mates tie by id)
    val minDist = top.map(_.getAs[Double]("approx_dist")).min
    val atMin = top.filter(_.getAs[Double]("approx_dist") == minDist)
      .map(_.getAs[Long]("id")).toSet
    assert(top(0).getAs[Double]("approx_dist") === minDist)
    assert(atMin.contains(7L) && atMin.contains(99L))
    assert(top.map(_.getAs[Double]("approx_dist")).toSeq ===
      top.map(_.getAs[Double]("approx_dist")).sorted.toSeq)
  }

  test("pqTrainCodebooks: Lloyd moves codewords to cluster means, error never grows") {
    // two tight clusters in each subspace half; k = 2 must converge to
    // the two cluster means
    val rows = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 100.0 else -100.0
      i -> Seq(base + i, base - i, -base + i, -base - i)
    }
    val df = vecs(rows: _*)
    val sampled = Similarity.pqCodebooks(
      df.select(col("id"), Similarity.pqQuantize(col("v")).as("qv")),
      "id", "qv", m = 2, k = 2)
    val trained = Similarity.pqTrainCodebooks(df, "id", "v", m = 2, k = 2, iters = 3)
    val q = df.select(col("id"), Similarity.pqQuantize(col("v")).as("qv"))
    def totalErr(cb: Array[Array[Array[Double]]]): Double =
      Similarity.pqEncode(q, "id", "qv", cb)
        .agg(sum(col("err"))).head().getDouble(0)
    assert(totalErr(trained) <= totalErr(sampled))
    // trained centroid of subspace 0 ≈ a cluster mean: every member of a
    // cluster is equidistant-split, so per-cluster err is the within-
    // cluster variance — strictly below the sampled codebook's err here
    assert(totalErr(trained) < totalErr(sampled))
  }

  test("pqTrainCodebooks: deterministic across invocations") {
    val df = vecs((1L to 10L).map(i =>
      i -> Seq(i * 1.1, -i * 0.7, i * 0.3, 2.0 - i)): _*)
    val a = Similarity.pqTrainCodebooks(df, "id", "v", m = 2, k = 3, iters = 2)
    val b = Similarity.pqTrainCodebooks(df, "id", "v", m = 2, k = 3, iters = 2)
    assert(a.map(_.toSeq.map(_.toSeq)).toSeq === b.map(_.toSeq.map(_.toSeq)).toSeq)
  }

  test("pqRecallMean: lossless corpus, two probes → mean recall 1.0") {
    val df = vecs(
      1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 1.0, 0.0),
      4L -> Seq(0.0, 0.0, 0.0, 1.0))
    val cb = Similarity.pqCodebooks(df, "id", "v", m = 2, k = 4)
    val probes = Seq(1L -> Array(1.0, 0.0, 0.0, 0.0),
      3L -> Array(0.0, 0.0, 1.0, 0.0))
    val r = Similarity.pqRecallMeanMulti(df, "id", "v", Seq("cb" -> cb), probes, k = 2)
      .head()
    assert(r.getAs[Int]("k") === 2)
    assert(r.getAs[Int]("n_probes") === 2)
    assert(r.getAs[Long]("n_hits") === 4L)
    assert(r.getAs[Double]("mean_recall") === 1.0)
  }

  test("pqRecall: lossless corpus (every vector is a codeword) → recall 1.0") {
    // 4 well-separated vectors, k = 4 → every vector IS a codeword,
    // ADC ranking == exact ranking
    val df = vecs(
      1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 1.0, 0.0),
      4L -> Seq(0.0, 0.0, 0.0, 1.0))
    val cb = Similarity.pqCodebooks(df, "id", "v", m = 2, k = 4)
    val r = Similarity.pqRecall(df, "id", "v", cb,
      Array(1.0, 0.0, 0.0, 0.0), k = 2).head()
    assert(r.getAs[Int]("k") === 2)
    assert(r.getAs[Long]("n_hits") === 2L)
    assert(r.getAs[Double]("recall") === 1.0)
  }

  test("recallAtK: partial overlap counts the shared ids") {
    val exact = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val approx = Seq(1L, 3L, 5L, 8L, 9L).toDF("id")
    val r = Similarity.recallAtK(exact, approx, k = 5).head()
    assert(r.getAs[Int]("k") === 5)
    assert(r.getAs[Long]("n_hits") === 3L)
    assert(r.getAs[Double]("recall") === 0.6)
  }

  test("recallAtK: equal scores break by id the same way on both sides") {
    // ids 1..4 point the probe's way (power-of-two scales keep every
    // cosine the same double, every LSH signature the probe's); the top-2 cut keeps the two lowest ids in
    // the exact and the approximate ranking alike, so the row order of
    // the input cannot change the overlap
    val df = Seq((4L, Array(1f, 1f)), (2L, Array(2f, 2f)), (3L, Array(4f, 4f)),
      (1L, Array(8f, 8f))).toDF("id", "v")
    val q = Array(1.0, 1.0)
    val exact = Similarity.bruteForceTopK(df, "id", "v", q, k = 2)
    val top = exact.collect()
    assert(top.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(top(0).getDouble(1) === top(1).getDouble(1))
    val approx = Similarity.annTopK(df.repartition(3), "id", "v", q, k = 2)
    val r = Similarity.recallAtK(exact.select("id"), approx.select("id"), k = 2).head()
    assert(r.getAs[Long]("n_hits") === 2L)
    assert(r.getAs[Double]("recall") === 1.0)
  }

  test("recallAtK grouped: a group with no hits keeps its row at n_hits 0") {
    val exact = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("p", "id")
    val approx = Seq((0L, 1L, "a"), (0L, 2L, "a"), (1L, 4L, "a"), (1L, 9L, "a"),
      (0L, 7L, "b"), (1L, 8L, "b")).toDF("p", "id", "g")
    val r = Similarity.recallAtK(exact, approx, k = 2, "g", Seq("a", "b", "c"),
        queries = 2)
      .orderBy("g").collect()
      .map(x => (x.getString(0), x.getAs[Long]("n_hits"), x.getAs[Double]("recall")))
    assert(r.toSeq === Seq(("a", 3L, 0.75), ("b", 0L, 0.0), ("c", 0L, 0.0)))
  }
}

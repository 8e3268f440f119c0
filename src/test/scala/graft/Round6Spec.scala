package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 pack: passage-level dedup semantics, the three new TPC-H
  * plan shapes (Q4 semi-join, Q13 aggregate-before-outer-join, Q16
  * broadcast dim + anti-join), the ANN recall audit, and the sketch
  * bounded-error contract.
  */
class Round6Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("passageDedup: cross-document repeated passage removed exactly once") {
    import spark.implicits._
    val p1 = "a b c d e f g h i j"        // shared first passage
    val p2 = "k l m n o p q r s t"
    val p3 = "z y x w v u one two three four"
    val df = Seq(
      (1L, s"$p1 $p2"),
      (2L, s"$p1 $p3")).toDF("doc_id", "text")
    val out = Dedup.passageDedup(df, "doc_id", "text", passageTokens = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 (smaller id) keeps everything; doc 2 loses only the shared
    // passage and reassembles in original order
    assert(out(1L) === ((2L, 2L, s"$p1 $p2")))
    assert(out(2L) === ((2L, 1L, p3)))
  }

  test("passageDedup: within-document repeat also deduplicates") {
    import spark.implicits._
    val p = "a b c d e f g h i j"
    val df = Seq((7L, s"$p $p")).toDF("doc_id", "text")
    val out = Dedup.passageDedup(df, "doc_id", "text", passageTokens = 10).head()
    assert(out.getLong(1) === 2L && out.getLong(2) === 1L)
    assert(out.getString(3) === p)
  }

  test("passageDedup: short tail passage kept, counts conserved") {
    import spark.implicits._
    // 13 tokens → one full passage + a 3-token tail
    val df = Seq((1L, "a b c d e f g h i j tail one two")).toDF("doc_id", "text")
    val out = Dedup.passageDedup(df, "doc_id", "text", passageTokens = 10).head()
    assert(out.getLong(1) === 2L && out.getLong(2) === 2L)
    assert(out.getString(3) === "a b c d e f g h i j tail one two")
  }

  test("q_tpch_q4: EXISTS plans as a left-semi join with pushed date filter") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q_tpch_q11: a NULL l_partkey row counts in the total, not in np") {
    import spark.implicits._
    // per-part values 50, 10, 70 and a NULL-key value 20: t = 150 and
    // np = COUNT(DISTINCT l_partkey) = 3, so the cut is 1.2 × 50 = 60
    // and only part 3 passes; counting the NULL group as a part would
    // lower the cut to 45 and let part 1 through
    val dir = java.nio.file.Files.createTempDirectory("graft_q11_null").toFile
    try {
      Seq[(Option[Long], Double, Double)]((Some(1L), 30.0, 0.0), (Some(1L), 20.0, 0.0),
          (Some(2L), 10.0, 0.0), (Some(3L), 70.0, 0.0), (None, 20.0, 0.0))
        .toDF("l_partkey", "l_extendedprice", "l_discount")
        .write.parquet(Tables.path(dir.getAbsolutePath, "lineitem"))
      val got = SparkEntry.queries("q_tpch_q11")(spark, dir.getAbsolutePath)
        .as[(Option[Long], Double)].collect().toSeq
      assert(got == Seq((Some(3L), 70.0)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("q_tpch_q13: orders aggregate before the outer join, bounded shuffles") {
    val p = plan("q_tpch_q13")
    val finalTree = p.split("== Initial Plan ==").head
    // the per-custkey count must run BELOW the join — at least a
    // partial+final pair for it plus the distribution aggregate
    assert("HashAggregate".r.findAllIn(finalTree).size >= 3, finalTree)
    // no raw customer×orders shuffle beyond the aggregated frame: the
    // final-plan shuffle headers stay ≤ 4 (agg, join sides, sort)
    val shuffles = """\(\d+\) Exchange\b""".r.findAllIn(finalTree).size
    assert(shuffles <= 4, s"too many shuffle exchanges ($shuffles):\n$finalTree")
  }

  test("q_tpch_q16: part dim broadcasts, supplier exclusion is an anti join") {
    val p = plan("q_tpch_q16")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftAnti"), p)
    // the part-profile predicates prune the part scan
    assert(p.contains("PushedFilters") && p.contains("p_size"), p)
  }

  test("q_tpch_q15: exact-revenue argmax with pushed date filter, dims broadcast") {
    val p = plan("q_tpch_q15")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_tpch_q17: threshold aggregate joins back as a broadcast") {
    val p = plan("q_tpch_q17")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("EqualTo(p_brand,Brand#23)"), p)
  }

  test("q_tpch_q19: shared quantity bound pushed to the fact scan") {
    val p = plan("q_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,1"), p)
    assert(p.contains("LessThanOrEqual(l_quantity,30"), p)
  }

  test("q_tpch_q22: recent-orders exclusion plans as an anti join") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
  }

  test("q_lm_score: token-level joins only, documents scan pruned") {
    val p = plan("q_lm_score")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("lang"), readSchema)
    // skew guard: the hot-bigram path must be a broadcast join and the
    // cold path must anti-join the hot list away before shuffling
    assert(p.contains("BroadcastHashJoin"), "hot-bigram broadcast path missing:\n" + p)
    assert(p.contains("LeftAnti"), "hot-list anti-join missing from the cold path:\n" + p)
  }

  test("q_lm_score: every score is a mean of log-probabilities (≤ 0)") {
    val r = SparkEntry.queries("q_lm_score")(spark, sf).cache()
    assert(r.filter(col("lm_score") > 0).count() === 0)
    assert(r.filter(col("n_bigrams") < 1).count() === 0)
    r.unpersist()
  }

  test("crossCorpusContamination: planted copy flags, fresh text does not") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "prefix words alpha beta gamma delta epsilon zeta suffix"), // shares 5-grams
      (11L, "completely unrelated fresh evaluation sentence tokens here")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.crossCorpusContamination(eval, train, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(10L)._2 === true && out(10L)._1 >= 1, out.toString)
    assert(out(11L) === ((0L, false)), out.toString)
  }

  test("repetitionStats: exact dup ratio on a planted loop, zero when unique") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c a b c"),                     // 7 3-grams, 3 distinct
      (2L, "u v w x y z q r s")).toDF("doc_id", "text")
    val r = df.select(Seq(col("doc_id")) ++
        graft.ops.TextAnalysis.repetitionStats(col("text"), 3): _*)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getBoolean(4)))).toMap
    assert(r(1L) === ((7L, 3L, BigDecimal(1.0 - 3.0 / 7.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, true)), r.toString)
    assert(r(2L) === ((7L, 7L, 0.0, false)), r.toString)
  }

  test("q_pack_sequences: two-level scan equals the sequential prefix sum") {
    val out = SparkEntry.queries("q_pack_sequences")(spark, sf)
      .orderBy(col("doc_id")).collect()
    // reconstruct offsets and compare to a sequential fold
    var off = 0L
    out.foreach { r =>
      val (n, seqId, seqOff) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(seqId === off / 512 && seqOff === off % 512,
        s"doc ${r.getLong(0)}: expected offset $off, got seq=$seqId+$seqOff")
      assert(seqOff >= 0 && seqOff < 512)
      off += n
    }
    assert(out.nonEmpty)
  }

  test("q_source_balance: rank-limit pushed below the window shuffle, exact caps") {
    val p = plan("q_source_balance")
    val finalTree = p.split("== Initial Plan ==").head
    assert(finalTree.contains("WindowGroupLimit"),
      "per-source cap must apply map-side before the exchange:\n" + finalTree)
    val out = SparkEntry.queries("q_source_balance")(spark, sf)
    val counts = out.groupBy("source").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) <= 10), counts.mkString(";"))
  }

  test("q_repetition / q_decontaminate plans: no nested-loop joins anywhere") {
    assert(!plan("q_repetition").contains("Join"))
    val pd = plan("q_decontaminate")
    assert(!pd.contains("BroadcastNestedLoopJoin") && !pd.contains("CartesianProduct"), pd)
  }

  test("q_tpch_q2: min-per-part window rides the aggregate partitioning") {
    val p = plan("q_tpch_q2")
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters") && p.contains("p_size"), p)
  }

  test("q_tpch_q11: one fact aggregation + broadcast scalar threshold") {
    val p = plan("q_tpch_q11")
    val finalTree = p.split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(finalTree).size >= 2, finalTree)
    assert(!p.contains("CartesianProduct"),
      "the 1-row threshold frame must broadcast, not cartesian:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_tpch_q8: every dim chain broadcasts, date filter pushed") {
    val p = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p)
    // one fact-fact shuffle (lineitem⋈orders) + agg + sort at most
    val finalTree = p.split("== Initial Plan ==").head
    val shuffles = """\(\d+\) Exchange\b""".r.findAllIn(finalTree).size
    assert(shuffles <= 4, s"too many shuffle exchanges ($shuffles):\n$finalTree")
  }

  test("q_tpch_q9: part LIKE filter prunes the dim before broadcast") {
    val p = plan("q_tpch_q9")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("p_name") && p.contains("Contains"), p)
  }

  test("q_tpch_q20: per-part total is a window on the aggregate, semi-join out") {
    val p = plan("q_tpch_q20")
    assert(p.contains("LeftSemi"), p)
    // the share window must run on the (part, supplier) AGGREGATE, so
    // a Window node follows HashAggregates — and no second fact scan
    assert(p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_oov_rate: fixed-k vocabulary broadcasts, rates in [0,1]") {
    val p = plan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "vocab top-k must not global-sort: " + p)
    val r = SparkEntry.queries("q_oov_rate")(spark, sf)
    assert(r.filter(col("oov_rate") < 0 || col("oov_rate") > 1).count() === 0)
  }

  test("oovRate at tokenizer-scale k=32768 keeps the TakeOrdered + broadcast plan") {
    // the corpus vocabulary is 31 tokens, so the oracle-checked query
    // runs at k=16; this pins the claim that a 32k vocab changes
    // NOTHING about the plan shape — the vocab is still a TakeOrdered
    // (never a global sort) and still broadcasts into the token join
    val df = graft.ops.TextAnalysis.oovRate(
      Tables.load(spark, sf, "documents"), "doc_id", "text", vocabK = 32768)
    df.collect()
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "32k vocab fell back to a shuffle join:\n" + p)
    // with k past the whole vocabulary, every token is in-vocab
    assert(df.filter(col("oov_rate") =!= 0.0).count() === 0)
  }

  test("q_tpch_q21: double-EXISTS compiles to semi + anti joins") {
    val p = plan("q_tpch_q21")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // r7: the full-fact persist is gone — the R-filtered branches must
    // be pushed-filter parquet re-scans, not cached-projection reads
    assert(!p.contains("InMemoryTableScan"),
      "fact projection cache leaked back into q21:\n" + p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q_multimodal_meta: payload expression pruned, documents scan minimal") {
    val p = plan("q_multimodal_meta")
    // the payload construction (unhex/repeat/md5 chain) must vanish
    // from the metadata-only projection — at scale this is the
    // difference between reading metadata and reading the media bytes
    assert(!p.contains("unhex"), "payload expression survived pruning:\n" + p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text"), readSchema)
  }

  test("q_ann_recall: both approximate paths at full planted recall") {
    // the driver dump gates on the ≥0.9 boolean (corpus-robust); the
    // exact 1.0 is pinned HERE, at the SFs where it is verified
    val raw = graft.queries.RetrievalQueries.annRecall(spark, sf)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(raw === Map("ivf" -> 1.0, "lsh" -> 1.0), raw.toString)
    val gated = SparkEntry.queries("q_ann_recall")(spark, sf)
      .collect().map(x => x.getString(0) -> x.getBoolean(1)).toMap
    assert(gated === Map("ivf" -> true, "lsh" -> true), gated.toString)
  }

  test("q_sketch_distinct: every group inside the 5% audit band") {
    val r = SparkEntry.queries("q_sketch_distinct")(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getBoolean(3)), r.mkString("; "))
  }
}

package graftbench

import graft.SparkEntry
import org.apache.spark.sql.Row
import scala.collection.mutable

/** The `operators` workload: fixed SparkEntry queries called directly
  * from one thread. The set-up is one cold pass over every query
  * (fixture staging, code generation, JIT); the timed passes then run
  * the queries in an order shuffled by the seed until the run's time is
  * used, at least two full passes, and report each query's best time.
  * Every result is checked against the row count and fingerprint
  * recorded in `expected/operators.json`.
  */
object Operators {

  /** The per-query job floor lives here: schema inference, side jobs
    * while plans are built, materialization. The list holds every query
    * an open ROADMAP item names.
    */
  val queries: Seq[String] = Seq(
    "q1_agg", "q_join_multi", "q_tpch_q3", "q_tpch_q5", "q_tpch_q11", "q_tpch_q18",
    "q_window_rank", "q_topk", "q_global_agg",
    "q_dialect_groupby", "q_dialect_where", "q_dialect_having", "q_dialect_distinct",
    "q_dialect_limit", "q_dialect_like_in", "q_dialect_global",
    "q_rfm", "q_pagerank", "q_entities_increment", "q_semantic_dedup",
    "q_pipeline_corpus", "q_cluster_prune", "q_cluster_quality", "q_concurrency",
    "q_dedup_verified", "q_item_cooccur", "q_cooccur_update", "q_join_audit",
    "q_link_predict", "q_corr_matrix", "q_pq_gain", "q_bloom_join", "q_sq8_codes",
    "q_media_jpeg", "q_dedup_minhash", "q_dedup_ngram", "q_ann_ivf", "q_ann_topk",
    "q_tf_idf", "q_stream_session", "q_sessionize")

  final case class Expected(rows: Long, fingerprint: String)

  /** Query order of one timed pass. */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val expected = ctx.expectedOps
    val recorded = mutable.LinkedHashMap[String, Expected]()

    /** Build the plan, run it to completion and check the rows. Returns
      * the wall time of build plus action, which excludes the check.
      */
    def once(name: String, traced: Boolean, req: Long): Double = {
      val tr = if (traced) ctx.tracer else ctx.untraced
      val t0 = System.nanoTime()
      val rows: Either[Throwable, Array[Row]] =
        try Right(tr.request(req, name) {
          val df = tr.span("queries.build")(SparkEntry.queries(name)(spark, ctx.dataDir))
          tr.span("spark.plan")(df.queryExecution.executedPlan)
          tr.span("spark.exec")(df.collect())
        }) catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      out.attempted += 1
      rows match {
        case Left(e) =>
          out.fail(s"$name: ${e.getMessage}")
        case Right(rs) =>
          val got = Expected(rs.length.toLong, Check.fingerprint(rs))
          recorded(name) = got
          if (ctx.recordTo.isEmpty && !expected.get(name).contains(got))
            out.fail(s"$name: got $got, expected ${expected.get(name)}")
      }
      ms
    }

    val setupStart = System.nanoTime()
    order(ctx.seed, 0).foreach(q => once(q, traced = false, 0))
    out.setup(Seq((System.nanoTime() - setupStart) / 1e9))
    Workloads.settle()

    /** Timed passes, each in its own shuffled order, until `minSeconds`
      * are used and at least `minPasses` are done: every pass's times by
      * query.
      */
    def passes(traced: Boolean, minPasses: Int, minSeconds: Double): Seq[Map[String, Double]] = {
      val done = mutable.ArrayBuffer[Map[String, Double]]()
      val start = System.nanoTime()
      while (done.size < minPasses || (System.nanoTime() - start) / 1e9 < minSeconds) {
        val pass = done.size + 1
        done += order(ctx.seed, pass).zipWithIndex.map { case (q, i) =>
          q -> once(q, traced, pass * 1000L + i)
        }.toMap
      }
      out.note(if (traced) "traced_pass_s" else "pass_s", done.map(_.values.sum / 1000.0).toSeq)
      done.toSeq
    }

    /** ops_per_s and query_p95_ms of per-query times. */
    def summary(ms: Seq[Double]): Map[String, Double] = Map(
      "ops_per_s" -> ms.size / (ms.sum / 1000.0),
      "query_p95_ms" -> Stats.percentile(ms, 95))

    // Each query's best time over the passes: a burst of load from
    // outside the benchmark slows one pass's run of a query, rarely both.
    val timed = passes(traced = false, minPasses = 2, ctx.seconds)
    val best = queries.map(q => timed.map(_(q)).min)
    out.latencies("query", best)
    out.note("query_pass_ms", queries.map(q => timed.map(_(q))))
    summary(best).foreach { case (k, v) => out.e2e(k, v) }
    out.layer("latency.query_p50_ms", Stats.median(best))
    out.layer("queries.suite_s", best.sum / 1000.0)

    if (ctx.trace) {
      Workloads.settle()
      ctx.ledger.clear()
      val t0 = System.nanoTime()
      val traced = passes(traced = true, minPasses = 1, 0).head
      val wallMs = (System.nanoTime() - t0) / 1e6
      // one traced pass against the first untraced pass
      val untraced = summary(queries.map(timed.head))
      out.overhead(summary(queries.map(traced)), untraced)
      Layers.report(ctx, out, wallMs)
    }
    ctx.recordTo.foreach(p => Expectations.write(p, recorded.toSeq.sortBy(_._1)))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{Window, WindowGroupLimit}

/** Guard for the r8 verdict's blind spot: the suite legitimately runs a
  * handful of ordered-but-unpartitioned windows, each over a BOUNDED
  * frame (bucket histograms, block-total carries, sources/vocab/top-n
  * frames), and their steady WindowExec warning noise would mask a NEW
  * unbounded global window — the exact shape of the r8 rfmSegments
  * defect, which sorted the full user frame through one task while
  * every warning looked routine. This audit walks every query's
  * optimized logical plan: a query may contain at most its pinned
  * number of unpartitioned Window/WindowGroupLimit nodes, and a query
  * not pinned here may contain none, so adding a global window
  * anywhere in the full query suite (every SparkEntry entry) fails CI with the offending query
  * named.
  */
class UnpartitionedWindowAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** query -> allowed unpartitioned-window count; every entry must be a
    * window over a frame whose size is bounded by construction, with
    * the bounding argument in the operator's scaladoc.
    */
  private val pinned: Map[String, Int] = Map(
    // tokenBudgetExact: remainder rank + budget-shortfall sum, both
    // over the |sources| frame (Sampling.scala)
    "q_budget_exact" -> 2,
    // sweep-line day-carry running sum over the per-day total frame
    // (BehaviorQueries q_concurrency)
    "q_concurrency" -> 1,
    // block-total carry over the blocks frame, rows/blockSize
    // (Packing.scala multi-level prefix scan)
    "q_pack_emit" -> 1,
    "q_pack_sequences" -> 1,
    "q_pack_spans" -> 1,
    // rangePartitionPlan: ≤64-row bucket-histogram prefix window; the
    // owner subtree embeds it twice in the logical TREE (distinct
    // semi-join + pick join), so the same bounded window counts twice
    "q_partition_plan" -> 2,
    // joinSizeAudit: top-k rank whose LimitPushDownThroughWindow
    // rewrite puts a distributed TakeOrdered(limit=k) BELOW the
    // window, so the final window runs on exactly k rows
    // (Skew.scala; pushdown spec-asserted in Round9cSpec)
    "q_join_audit" -> 1,
    // frequentPaths: top-K rank over the distinct |event_type|^len
    // path-count frame (Graphs.scala)
    "q_path_mining" -> 1,
    // cusumChangepoint: prefix sum + running min/max over the days
    // frame, bounded by calendar days (Behavior.scala)
    "q_cusum" -> 2,
    // exactTile: one ≤64-row bucket-histogram prefix window per R/F/M
    // metric (Behavior.scala)
    "q_rfm" -> 3,
    // reciprocal-rank fusion over the n=50 candidate frames
    // (Search.scala:275,281)
    "q_search_hybrid" -> 2,
    // assignStableIds: ≤256-row bucket-histogram carry (Layout.scala)
    "q_stable_ids" -> 1,
    // lateness-histogram ordinal over the bucketed-lateness frame
    // (Streams.scala:232)
    "q_stream_lateness" -> 1,
    // Kaplan-Meier cumulative product + at-risk count over the
    // distinct-event-times frame (Behavior.scala)
    "q_survival_km" -> 2,
    // Layout.orderStats ≤64-row histogram prefix window, embedded
    // twice in the logical tree via the owner subtree (Profile
    // winsorizedStats)
    "q_winsorized" -> 2)

  test("no query grows a new unpartitioned global window") {
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val n = q(spark, sf).queryExecution.optimizedPlan.collect {
          case w: Window if w.partitionSpec.isEmpty => 1
          case g: WindowGroupLimit if g.partitionSpec.isEmpty => 1
        }.sum
        if (n > 0) Some(name -> n) else None
    }.toMap
    val grown = found.filter { case (k, v) => v > pinned.getOrElse(k, 0) }
    val shrunk = pinned.filter { case (k, v) => found.getOrElse(k, 0) < v }
    assert(grown.isEmpty && shrunk.isEmpty,
      s"\nunpartitioned-window drift —" +
        s"\n  new/grown (justify boundedness + pin, or fix): " +
        grown.toSeq.sorted.mkString(", ") +
        s"\n  stale pins (tighten the whitelist): " +
        shrunk.toSeq.sorted.mkString(", "))
  }
}

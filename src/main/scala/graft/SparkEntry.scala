package graft

import graft.queries.{BehaviorQueries, DedupQueries, DialectQueries,
  GraphQueries, LayoutQueries, MediaQueries, PipelineQueries,
  RelationalQueries, RetrievalQueries, SamplingQueries, StreamQueries,
  TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan builder over an sf directory and
  * the equivalent ANSI SQL that DuckDB runs on the same parquet tables.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is one [[QueryDef]] in a domain pack; the registry lists
  * each pack once. `Verify` dumps every query's rows at sf0.01, and
  * `tools/check.py` hash-compares them against the DuckDB oracles.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every domain pack, each once, under the name an error reports. */
  private val packs: Seq[(String, Seq[QueryDef])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs,
    "DialectQueries" -> DialectQueries.defs,
    "TextQueries" -> TextQueries.defs,
    "DedupQueries" -> DedupQueries.defs,
    "RetrievalQueries" -> RetrievalQueries.defs,
    "GraphQueries" -> GraphQueries.defs,
    "MediaQueries" -> MediaQueries.defs,
    "StreamQueries" -> StreamQueries.defs,
    "BehaviorQueries" -> BehaviorQueries.defs,
    "LayoutQueries" -> LayoutQueries.defs,
    "SamplingQueries" -> SamplingQueries.defs,
    "PipelineQueries" -> PipelineQueries.defs)

  /** The packs' definitions by name; a name defined twice throws, naming
    * both packs, instead of letting the later one shadow the earlier.
    */
  def registry(packs: Seq[(String, Seq[QueryDef])]): Map[String, QueryDef] =
    packs.foldLeft(Map.empty[String, (String, QueryDef)]) {
      case (acc, (pack, defs)) =>
        defs.foldLeft(acc) { (m, d) =>
          m.get(d.name).foreach { case (first, _) =>
            throw new IllegalArgumentException(
              s"query ${d.name} is defined in both $first and $pack")
          }
          m.updated(d.name, (pack, d))
        }
    }.map { case (name, (_, d)) => name -> d }

  private val defs: Map[String, QueryDef] = registry(packs)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (name, d) => name -> d.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    defs.map { case (name, d) => name -> d.oracle }
}

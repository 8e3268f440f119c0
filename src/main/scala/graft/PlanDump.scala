package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main: print the formatted physical plan of named
  * SparkEntry queries after execution (so AQE's final plan is shown).
  * Usage: runMain graft.PlanDump <sfDir> <query> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.local("graft-plandump")
    args.drop(1).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      println(s"===== $name =====")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}

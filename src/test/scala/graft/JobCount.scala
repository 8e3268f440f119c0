package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block launches, counted by a listener under a job
  * group of its own: all of them, the ones outside any SQL execution
  * (parquet schema inference is such a job), and the distinct SQL
  * executions the rest belong to.
  */
final case class JobCount(jobs: Int, outsideSql: Int, sqlExecutions: Int)

object JobCount {
  def of(spark: SparkSession)(body: => Any): JobCount = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group))
          executions.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val all = executions.asScala.toSeq
    JobCount(all.size, all.count(_.isEmpty), all.flatten.distinct.size)
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic main (optimization rounds): run named SparkEntry queries
  * and print a per-job / per-stage time breakdown from a
  * SparkListener, plus the wall split between driver-side work
  * (planning, collects between jobs) and cluster-side job time.
  * Usage: runMain graft.JobProfile <sfDir> <query> [query...]
  * Env: SPARK_GRAFT_CPUS (default: all cores), SPARK_GRAFT_PROFILE_PASSES
  * (default 2 — pass 1 warms codegen/JIT, last pass is reported).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    val spark = Sessions.local("graft-jobprofile")

    case class Job(id: Int, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var stageMs: Long = 0L)
    val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
    // stage → the job whose JobStart listed it first (a later job that
    // reuses the stage's shuffle output lists it too, but skips it)
    val stageJob = scala.collection.mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, e.time)
          e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val info = e.stageInfo
          stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += info.numTasks
            for (s <- info.submissionTime; c <- info.completionTime)
              j.stageMs += c - s
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    args.drop(1).foreach { name =>
      (1 to passes).foreach { pass =>
        jobs.synchronized { jobs.clear(); stageJob.clear() }
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        if (pass == passes) {
          Thread.sleep(300) // let listener events drain
          val js = jobs.synchronized { jobs.values.toSeq }
          val jobSum = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
          println(f"===== $name: wall $wall%.3f s, ${js.size} jobs, " +
            f"job-time sum $jobSum%.3f s, driver gap ${wall - jobSum}%.3f s =====")
          js.foreach { j =>
            println(f"  job ${j.id}%3d  ${math.max(0L, j.end - j.start)}%6d ms  " +
              f"stages ${j.stages}%3d  tasks ${j.tasks}%4d  stage-sum ${j.stageMs}%6d ms")
          }
        }
      }
    }
    spark.stop()
  }
}

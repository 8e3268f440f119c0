package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a request's root span;
  * every span of one operation shares `request`.
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records nested spans around calls into the engine's public
  * functions. Spans stay in memory until the run ends. Each operation
  * runs under its own Spark job group, and the innermost open span id
  * travels with every job as a local property, so the listener can
  * charge a job to the exact span that launched it. When disabled,
  * `request` and `span` only run their body.
  */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Span]](() => Nil)

  def request[T](req: Long, name: String)(f: => T): T =
    if (!enabled) f
    else {
      sc.setJobGroup(s"op-$req", name)
      try enter(name, req)(f) finally sc.clearJobGroup()
    }

  def span[T](name: String)(f: => T): T = open.get match {
    case top :: _ if enabled => enter(name, top.request)(f)
    case _ => f
  }

  private def enter[T](name: String, req: Long)(f: => T): T = {
    val outer = open.get
    val s = Span(ids.incrementAndGet(), outer.headOption.fold(0L)(_.id), req, name,
      System.nanoTime(), 0L)
    open.set(s :: outer)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try f finally {
      done.add(s.copy(endNs = System.nanoTime()))
      open.set(outer)
      sc.setLocalProperty(Tracer.SpanKey, outer.headOption.map(_.id.toString).orNull)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.durNs - covered(s, kids.getOrElse(s.id, Nil)))).toMap
  }

  private def covered(s: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

/** Spark-side costs of the jobs the benchmark launches. Stages are
  * charged to the job whose `SparkListenerJobStart.stageIds` first
  * listed them, and jobs to the span named in their local properties.
  */
final class JobLedger extends SparkListener {
  import JobLedger._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val ended = mutable.Set[Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val submitted = mutable.Map[Int, Long]()
  private val stages = mutable.Map[Int, StageCost]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    // parquet schema inference: a `parquet at` job that is not part of
    // a SQL execution (writes and scans always are)
    val schema = site.startsWith("parquet at") && prop("spark.sql.execution.id").isEmpty
    jobs(e.jobId) = Job(e.jobId, prop(Tracer.SpanKey).fold(0L)(_.toLong), schema)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    ended += e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    submitted(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
    stages.getOrElseUpdate(info.stageId, new StageCost)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stages.getOrElseUpdate(e.stageId, new StageCost)
    c.tasks += 1
    submitted.get(e.stageId).foreach(t => c.waitMs += math.max(0L, e.taskInfo.launchTime - t))
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Block until every started job has ended and the bus has been quiet
    * for a moment, so the counts read below are complete.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(jobs.keys.forall(ended)) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); ended.clear(); stageJob.clear(); submitted.clear(); stages.clear()
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)

  /** Stages that ran (were submitted) on behalf of the given jobs. */
  def stagesOf(jobIds: Set[Int]): Seq[StageCost] = synchronized {
    stages.collect { case (s, c) if stageJob.get(s).exists(jobIds) => c }.toSeq
  }
}

object JobLedger {
  /** Task totals of one stage. */
  final class StageCost {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var inputBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
  }

  final case class Job(id: Int, span: Long, schemaInference: Boolean)
}

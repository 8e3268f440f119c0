package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything a workload run needs. */
final class Ctx(val spark: SparkSession, val work: Path, val dataDir: String,
    val seed: Long, val seconds: Double, val trace: Boolean,
    val expectedOps: Map[String, Operators.Expected], val recordTo: Option[Path]) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val ledger = new JobLedger
  if (trace) spark.sparkContext.addSparkListener(ledger)
  val tracer = new Tracer(spark.sparkContext, enabled = true)
  val untraced = new Tracer(spark.sparkContext, enabled = false)
  /** Traced-phase counters that spans alone do not carry. */
  val ingestRows = new AtomicLong(0)
  val changedBytes = new AtomicLong(0)
  val filesMax = new AtomicLong(0)
}

/** What one run measured, and the failures it saw. */
final class Outcome {
  val e2eMetrics = mutable.LinkedHashMap[String, Double]()
  val layerMetrics = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  @volatile var attempted = 0L

  def e2e(k: String, v: Double): Unit = synchronized(e2eMetrics(k) = v)
  def layer(k: String, v: Double): Unit = synchronized(layerMetrics(k) = v)
  def note(k: String, v: Any): Unit = synchronized(notes(k) = v)
  def fail(msg: String): Unit = synchronized(failures += msg)

  /** Set-up time: the median of the set-ups performed. */
  def setup(seconds: Seq[Double]): Unit = {
    e2e("setup_s", Stats.median(seconds))
    note("setup_s_samples", seconds)
  }

  /** Median and supported tail of one operation class, with counts. */
  def latencies(cls: String, ms: Seq[Double]): Unit = if (ms.nonEmpty) {
    note(s"${cls}_n", ms.size)
    note(s"${cls}_p50_ms", Stats.median(ms))
    note(s"${cls}_p95_ms", Stats.percentile(ms, 95))
    note(s"${cls}_supported_tail", Stats.supportedTail(ms.size).getOrElse(0.0))
  }

  /** Tracing overhead: traced minus untraced, per end-to-end metric. */
  def overhead(traced: Map[String, Double], untraced: Map[String, Double]): Unit =
    traced.foreach { case (k, v) => layer(s"trace.overhead.$k", v - untraced(k)) }
}

object Outcome {
  /** The end-to-end metrics every workload reports, with their units. */
  val e2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "query_p95_ms" -> "ms")
}

object Workloads {
  /** Let the ContextCleaner reclaim the previous phase's garbage before
    * the next phase is timed.
    */
  def settle(): Unit = (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }

  /** A fixed CPU-bound probe (no IO, no shuffle variance): on a quiet
    * host it lands in a narrow band, so a contended run shows in its
    * own artifact. The first call warms code generation.
    */
  def calibrate(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32).selectExpr("sum(id * 3 + 1) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once(); once()
  }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Block-manager memory plus Spark local-dir bytes still held once the
    * caches are cleared and the cleaner has run, in MB.
    */
  def retainedStorageMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    settle()
    val mem = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val disk = spark.sparkContext.getConf.get("spark.local.dir").split(",").map { d =>
      val p = Paths.get(d)
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
        finally s.close()
      }
    }.sum
    (mem + disk) / 1e6
  }
}

/** The recorded per-query row counts and fingerprints. */
object Expectations {
  private val mapper = new ObjectMapper()

  def read(p: Path): Map[String, Operators.Expected] = {
    val root: JsonNode = mapper.readTree(p.toFile)
    root.properties().asScala.map { e =>
      e.getKey -> Operators.Expected(e.getValue.get("rows").asLong, e.getValue.get("fingerprint").asText)
    }.toMap
  }

  def write(p: Path, rows: Seq[(String, Operators.Expected)]): Unit =
    Files.writeString(p, rows.map { case (k, e) =>
      s"""  "$k": {"rows": ${e.rows}, "fingerprint": "${e.fingerprint}"}"""
    }.mkString("{\n", ",\n", "\n}\n"))
}

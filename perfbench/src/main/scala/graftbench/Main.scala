package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result file.
  *
  * {{{
  * graftbench.Main --workload operators|serve --seed N
  *   --seconds S --trace 0|1 --data DIR --work DIR --result FILE
  *   [--expected FILE] [--record FILE]
  * }}}
  *
  * `--data` holds the generated parquet tables, `--work` receives the
  * catalogs, Spark's local files and the temp files of the run.
  * `--record` writes the operators' row counts and fingerprints instead
  * of checking them against `--expected`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val load = Workloads.loadavg()
    val calibration = Workloads.calibrate(spark)
    val ctx = new Ctx(spark, work, Paths.get(a("data")).toAbsolutePath.toString,
      a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a.get("expected").map(p => Expectations.read(Paths.get(p))).getOrElse(Map.empty),
      a.get("record").map(Paths.get(_)))
    val out = new Outcome
    a("workload") match {
      case "operators" => Operators.run(ctx, out)
      case "serve" => ServeWorkload.run(ctx, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out.layer("spark.retained_storage_mb", Workloads.retainedStorageMb(spark))
    out.layer("host.calibration_s", calibration)
    out.layer("host.loadavg", load)
    out.layer("failed_frac", out.failures.size.toDouble / math.max(1L, out.attempted))
    Layers.units.foreach { case (k, _) => if (!out.layerMetrics.contains(k)) out.layer(k, 0.0) }

    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", a("workload"))
    root.put("seed", ctx.seed)
    root.put("trace", ctx.trace)
    root.put("cores", cores)
    root.put("attempted", out.attempted)
    root.put("failed", out.failures.size)
    val fails = root.putArray("failures")
    out.failures.take(50).foreach(f => fails.add(f))
    val e2e = root.putObject("end_to_end")
    out.e2eMetrics.foreach { case (k, v) => e2e.put(k, v) }
    val layer = root.putObject("per_layer")
    out.layerMetrics.foreach { case (k, v) => layer.put(k, v) }
    val units = root.putObject("units")
    (Outcome.e2eUnits ++ Layers.units).foreach { case (k, u) => units.put(k, u) }
    val notes = root.putObject("notes")
    out.notes.foreach { case (k, v) => notes.set[JsonNode](k, m.valueToTree[JsonNode](toJava(v))) }
    Files.writeString(Paths.get(a("result")),
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    spark.stop()
  }

  private def toJava(v: Any): AnyRef = v match {
    case s: Seq[_] => java.util.Arrays.asList(s.map(toJava): _*)
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Integer.valueOf(i)
    case l: Long => java.lang.Long.valueOf(l)
    case other => other.toString
  }
}

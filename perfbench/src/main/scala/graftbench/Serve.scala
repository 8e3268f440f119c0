package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import graft.{Engine, Server}
import graft.dialect.{Delete, Insert, Parser, Select, Update}
import graft.exec.{Dml, Executor}
import graft.ingest.Ingest
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A response in the shape `POST /api/query` and `/api/upload` return. */
final case class Resp(status: Int, columns: Seq[String], rows: Seq[JsonNode],
    message: Option[String], rowsImported: Option[Long], generatedSql: Option[String]) {
  /** Canonical text of the payload, for repeat-consistency checks. */
  def payload: String = (columns.mkString(",") +: rows.map(_.toString) :+
    message.getOrElse("") :+ generatedSql.getOrElse("")).mkString("\n")
}

object Resp {
  private val mapper = new ObjectMapper()

  def parse(status: Int, body: String): Resp = {
    val j = mapper.readTree(body)
    def opt(k: String) = Option(j.get(k)).filter(!_.isNull)
    Resp(status,
      opt("columns").map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil),
      opt("rows").map(_.elements.asScala.toSeq).getOrElse(Nil),
      opt("message").orElse(opt("error")).map(_.asText),
      opt("rowsImported").map(_.asLong), opt("generatedSQL").map(_.asText))
  }

  def json(s: String): JsonNode = mapper.readTree(s)

  def body(fields: (String, Any)*): String =
    mapper.writeValueAsString(fields.toMap.asJava)
}

/** One generated request: a dialect statement, a natural-language
  * question, or a CSV upload into `table`. `check` judges the response;
  * `oracle` is an ANSI statement with the same answer, checked after the
  * run, and `ordered` says whether row order is part of the answer.
  */
final case class Req(kind: String, text: String, natural: Boolean = false,
    upload: Option[String] = None, check: Resp => Option[String] = _ => None,
    oracle: Option[String] = None, ordered: Boolean = true, changedBytes: Long = 0,
    table: Option[String] = None)

/** The HTTP server and the in-process path through the same engine
  * functions `Server.handleQuery` calls, with a span around each call.
  */
final class Service(ctx: Ctx, val engine: Engine) {
  private val server = new Server(engine, 0)
  server.start()
  private val base = s"http://127.0.0.1:${server.boundPort}"

  /** One connection per client: a client sends its next request only
    * after the previous response arrived.
    */
  def httpClient(): Req => Resp = {
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    (r: Req) => {
      val request = r.upload match {
        case Some(csv) =>
          HttpRequest.newBuilder(URI.create(s"$base/api/upload?table=${r.table.get}&format=csv"))
            .POST(HttpRequest.BodyPublishers.ofString(csv)).build()
        case None =>
          HttpRequest.newBuilder(URI.create(s"$base/api/query"))
            .POST(HttpRequest.BodyPublishers.ofString(
              Resp.body("query" -> r.text, "isNatural" -> r.natural))).build()
      }
      val res = client.send(request, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      Resp.parse(res.statusCode, res.body)
    }
  }

  private val tr = ctx.tracer
  private val dml = new Dml(engine.catalog)
  // catalog.load_* cover the loads of Executor.select only: value
  // sampling (nl.sample_jobs) and Dml call Catalog.load directly
  private val executor = new Executor(name => tr.span("catalog.load")(engine.catalog.load(name)))

  /** The traced in-process request path. */
  def inProcess(req: Long, r: Req): Resp = {
    val resp = tr.request(req, r.kind) {
      r.upload match {
        case Some(csv) =>
          val tmp = Files.createTempFile("upload", ".csv")
          try {
            Files.writeString(tmp, csv)
            val n = tr.span("ingest.import")(Ingest.importCsv(engine.catalog, tmp.toString, r.table.get))
            ctx.ingestRows.addAndGet(n)
            Resp(200, Nil, Nil, None, Some(n), None)
          } finally Files.deleteIfExists(tmp)
        case None if r.natural =>
          tr.span("nl.translate")(engine.naturalToSql(r.text, None)) match {
            case Some(text) if !engine.isDestructive(text) => sql(text).copy(generatedSql = Some(text))
            case other => Resp(422, Nil, Nil, other, None, None)
          }
        case None => sql(r.text)
      }
    }
    if (r.kind == "write") {
      ctx.changedBytes.addAndGet(r.changedBytes)
      r.table.foreach(t => ctx.filesMax.accumulateAndGet(
        engine.catalog.fileStats(t).fileCount.toLong, math.max))
    }
    resp
  }

  private def sql(text: String): Resp =
    tr.span("dialect.parse")(Parser.parse(text)) match {
      case s: Select =>
        val df = tr.span("exec.select")(executor.select(s))
        val out = df.limit(Service.RowCap + 1).toJSON
        tr.span("spark.plan")(out.queryExecution.executedPlan)
        val rows = tr.span("spark.exec")(out.collect())
        Resp(200, df.columns.toSeq, rows.take(Service.RowCap).map(Resp.json).toSeq, None, None, None)
      case i: Insert =>
        Resp(200, Nil, Nil, Some(tr.span("exec.insert")(dml.run(i))), None, None)
      case stmt @ (_: Update | _: Delete) =>
        Resp(200, Nil, Nil, Some(tr.span("exec.overwrite")(dml.run(stmt))), None, None)
      case other => Resp(200, Nil, Nil, Some(dml.run(other)), None, None)
    }

  /** `Server.stop` leaves the server's request pool running, which keeps
    * the JVM alive; shut the pool down through the HttpServer it is
    * registered with.
    */
  def stop(): Unit = {
    val field = classOf[Server].getDeclaredFields.find(_.getType == classOf[HttpServer]).get
    field.setAccessible(true)
    val http = field.get(server).asInstanceOf[HttpServer]
    server.stop()
    http.getExecutor match {
      case pool: ExecutorService =>
        pool.shutdownNow()
        pool.awaitTermination(10, TimeUnit.SECONDS)
      case _ => ()
    }
  }
}

object Service {
  /** The server returns at most this many rows per response. */
  val RowCap = 1000
}

/** Closed-loop load: `clients` threads, each sending its next request
  * when the previous one has answered, until the time is up.
  */
object ClosedLoop {
  /** A completed request: its latency, and when it completed, in seconds
    * since the loop started.
    */
  final case class Done(req: Req, resp: Resp, ms: Double, atS: Double)

  /** Returns the completed requests and the wall time until the last one
    * completed.
    */
  def run(clients: Int, seconds: Double, next: Int => Req,
      send: Int => Req => Resp): (Seq[Done], Double) = {
    val done = new ConcurrentLinkedQueue[Done]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val sender = send(c)
        while (System.nanoTime() < deadline) {
          val r = next(c)
          val t0 = System.nanoTime()
          val resp =
            try sender(r)
            catch { case e: Exception => Resp(599, Nil, Nil, Some(e.toString), None, None) }
          val end = System.nanoTime()
          done.add(Done(r, resp, (end - t0) / 1e6, (end - start) / 1e9))
        }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (done.asScala.toSeq, (System.nanoTime() - start) / 1e9)
  }
}

/** Set-up, checking and measurement of the `serve` workload. */
object Serve {

  /** Judges every completed request; a response that differs from an
    * earlier response to the same read counts as a failure too. Reads
    * with an oracle are kept for the ANSI comparison after the run.
    */
  final class Judge(out: Outcome) {
    private val firstPayload = mutable.Map[String, String]()
    val oracleChecks = mutable.LinkedHashMap[String, (Req, Resp, Int)]()

    def apply(ds: Seq[ClosedLoop.Done]): Unit = ds.foreach { d =>
      out.attempted += 1
      val err =
        if (d.resp.status != 200) Some(s"HTTP ${d.resp.status}: ${d.resp.message.getOrElse("")}")
        else d.req.check(d.resp)
      err.foreach(e => out.fail(s"${d.req.text.take(120)}: $e"))
      if (err.isEmpty && d.req.oracle.isDefined) synchronized {
        val key = d.req.text
        firstPayload.get(key) match {
          case Some(p) if p != d.resp.payload => out.fail(s"$key: response changed between repeats")
          case Some(_) =>
            oracleChecks(key) = oracleChecks(key).copy(_3 = oracleChecks(key)._3 + 1)
          case None =>
            firstPayload(key) = d.resp.payload
            oracleChecks(key) = (d.req, d.resp, 1)
        }
      }
    }

    /** One JSON line per distinct read, for the oracle comparison. */
    def writeOracleChecks(p: Path): Unit = {
      val m = new ObjectMapper()
      val lines = oracleChecks.values.map { case (r, resp, n) =>
        val node = m.createObjectNode()
        node.put("statement", r.text)
        node.put("oracle", r.oracle.get)
        node.put("ordered", r.ordered)
        node.put("count", n)
        val cols = node.putArray("columns"); resp.columns.foreach(c => cols.add(c))
        val rows = node.putArray("rows"); resp.rows.foreach(x => rows.add(x))
        m.writeValueAsString(node)
      }
      Files.writeString(p, lines.mkString("", "\n", "\n"))
    }
  }

  def classMs(ds: Seq[ClosedLoop.Done], kind: String): Seq[Double] =
    ds.filter(_.req.kind == kind).map(_.ms)

  /** Set up `times` fresh services and keep the last; the set-up time
    * is their median. `build` creates the catalog contents.
    */
  def setUp(ctx: Ctx, out: Outcome, times: Int)(build: (Engine, Boolean) => Unit): Service = {
    var last: Service = null
    val secs = (1 to times).map { i =>
      if (last != null) last.stop()
      val t0 = System.nanoTime()
      val engine = new Engine(ctx.spark, ctx.work.resolve(s"db$i").toString)
      build(engine, ctx.trace && i == times)
      last = new Service(ctx, engine)
      (System.nanoTime() - t0) / 1e9
    }
    out.setup(secs)
    last
  }

  /** Warm-up, the measured HTTP phase and, on a traced run, the traced
    * in-process phase over the same request stream.
    */
  def measure(ctx: Ctx, out: Outcome, svc: Service, judge: Judge,
      warm: Int => Req, next: Int => Req, restart: () => Unit): Unit = {
    val clients = ctx.cores
    judge(ClosedLoop.run(clients, Serve.WarmupSeconds, warm, _ => svc.httpClient())._1)
    val (ds, wall) = ClosedLoop.run(clients, ctx.seconds, next, _ => svc.httpClient())
    judge(ds)
    out.note("requests", ds.size)
    // completions per quarter of the window: a rising count means the
    // warm-up was too short for the JIT to settle
    out.note("requests_per_quarter",
      (0 until 4).map(i => ds.count(d => (d.atS * 4 / wall).toInt.min(3) == i)))
    val query = classMs(ds, "query")
    Seq("query", "nl", "write").foreach(k => out.latencies(k, classMs(ds, k)))
    out.e2e("ops_per_s", ds.size / wall)
    out.e2e("query_p95_ms", Stats.percentile(query, 95))
    def p(kind: String, q: Double) = { val xs = classMs(ds, kind); if (xs.isEmpty) 0.0 else Stats.percentile(xs, q) }
    out.layer("latency.query_p50_ms", p("query", 50))
    out.layer("latency.nl_p50_ms", p("nl", 50))
    out.layer("latency.nl_p95_ms", p("nl", 95))
    out.layer("latency.write_p50_ms", p("write", 50))
    out.layer("latency.write_p95_ms", p("write", 95))

    if (ctx.trace) {
      restart()
      Workloads.settle()
      ctx.ledger.clear()
      val ids = new java.util.concurrent.atomic.AtomicLong(0)
      val (tds, twall) = ClosedLoop.run(clients, ctx.seconds, next,
        _ => (r: Req) => svc.inProcess(ids.incrementAndGet(), r))
      judge(tds)
      val tq = classMs(tds, "query")
      out.overhead(Map("ops_per_s" -> tds.size / twall, "query_p95_ms" -> Stats.percentile(tq, 95)),
        out.e2eMetrics.toMap)
      Seq("query" -> "server.query_self_ms", "nl" -> "server.nl_self_ms",
          "write" -> "server.write_self_ms").foreach { case (k, name) =>
        val (http, inproc) = (classMs(ds, k), classMs(tds, k))
        out.layer(name, if (http.isEmpty || inproc.isEmpty) 0.0 else Stats.median(http) - Stats.median(inproc))
      }
      Layers.report(ctx, out, twall * 1000)
    }
  }

  /** Long enough that throughput no longer rises through the window: with
    * 4 s of warm-up the JIT was still settling and the first quarter of a
    * 12 s window completed a quarter fewer requests than the last.
    */
  val WarmupSeconds = 10.0
}

package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** HTTP REST surface (reference entry point 2, `cmd/server/main.go`):
  * `POST /api/query` {query, isNatural, conversationId} → rows + the
  * generated SQL when the NL path ran; `GET /api/tables`;
  * `POST /api/upload?table=T&format=csv|parquet` with the file as the
  * request body; conversation persistence (N6) as JSON files under
  * `<db>/conversations`. Also serves the static chat console (the
  * reference's `web/index.html` + `web/static` asset surface, original
  * implementation) from classpath resources under `graft/web`. JDK
  * HttpServer — no extra dependencies; query execution itself is the
  * same Engine the REPL uses.
  */
final class Server(engine: Engine, port: Int) {
  // loopback by default (r7 advice): the console is unauthenticated and
  // POST /api/image-dir repoints a process-global setting at arbitrary
  // host directories — a wildcard bind would hand that (plus a
  // path-existence probe via the validation error) to any network
  // client. GRAFT_BIND_HOST opts into a wider bind for trusted
  // networks; the reference server binds the wildcard address
  // (cmd/server/main.go), a divergence we take deliberately.
  private val bindHost = sys.env.getOrElse("GRAFT_BIND_HOST", "127.0.0.1")
  private val server = HttpServer.create(new InetSocketAddress(bindHost, port), 0)
  // non-daemon request threads: stop() must shut them down or the JVM
  // cannot exit
  private val pool = Executors.newFixedThreadPool(8)
  private val convDir: Path = Paths.get(engine.catalog.dbPath, "conversations")
  Files.createDirectories(convDir)

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    server.createContext("/api/query", (ex: HttpExchange) => handle(ex, handleQuery))
    server.createContext("/api/tables", (ex: HttpExchange) => handle(ex, handleTables))
    server.createContext("/api/upload", (ex: HttpExchange) => handle(ex, handleUpload))
    server.createContext("/api/conversations", (ex: HttpExchange) => handle(ex, handleConversations))
    server.createContext("/api/image-dir", (ex: HttpExchange) => handle(ex, handleImageDir))
    // JDK HttpServer routes by longest prefix, so "/" catches only what
    // the /api contexts don't — the static chat console (reference
    // `web/index.html` + `web/static` assets, re-implemented)
    server.createContext("/", (ex: HttpExchange) => handleStatic(ex))
    server.setExecutor(pool)
    server.start()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(ex: HttpExchange, f: HttpExchange => (Int, String)): Unit = {
    val (status, body) = try f(ex)
    catch {
      case e: graft.dialect.DialectException => (400, jsonError(e.message))
      case e: Exception => (500, jsonError(Option(e.getMessage).getOrElse(e.toString)))
    }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  private def jsonError(msg: String): String =
    s"""{"success":false,"error":${Json.str(msg)}}"""

  private def readBody(ex: HttpExchange, maxBytes: Int = 64 << 20): Array[Byte] = {
    val in = ex.getRequestBody
    try in.readNBytes(maxBytes + 1) match {
      case b if b.length > maxBytes => throw graft.dialect.DialectException("body too large (64 MB max)")
      case b => b
    } finally in.close()
  }

  // ---- static console: GET / and GET /static/** from the classpath ----
  private val staticTypes = Map(
    "html" -> "text/html; charset=utf-8",
    "css" -> "text/css; charset=utf-8",
    "js" -> "application/javascript; charset=utf-8")

  private def handleStatic(ex: HttpExchange): Unit = {
    // same failure contract as the /api routes (handle()): an I/O or
    // classpath error becomes a 500 JSON body, never a dropped exchange.
    // HEAD is served as GET without a body (ADVICE r6).
    val isHead = ex.getRequestMethod == "HEAD"
    val (status, contentType, bytes) = try {
      if (ex.getRequestMethod != "GET" && !isHead)
        (405, "application/json", jsonError("GET required").getBytes(StandardCharsets.UTF_8))
      else {
        val path = ex.getRequestURI.getPath match {
          case "/" | "" => "index.html"
          case p => p.stripPrefix("/")
        }
        // classpath-only lookup with a traversal guard: the resource name
        // is rebuilt from validated segments, never the raw request path
        val segs = path.split("/").toSeq
        val safe = segs.nonEmpty && segs.forall(_.matches("[A-Za-z0-9._-]+")) &&
          !segs.exists(s => s == ".." || s == ".")
        (if (safe) Option(getClass.getResourceAsStream(s"/graft/web/$path")) else None) match {
          case Some(in) =>
            val body = try in.readAllBytes() finally in.close()
            val ext = path.substring(path.lastIndexOf('.') + 1)
            (200, staticTypes.getOrElse(ext, "application/octet-stream"), body)
          case None =>
            (404, "application/json", jsonError("not found").getBytes(StandardCharsets.UTF_8))
        }
      }
    } catch {
      case e: Exception =>
        (500, "application/json",
          jsonError(Option(e.getMessage).getOrElse(e.toString)).getBytes(StandardCharsets.UTF_8))
    }
    try {
      ex.getResponseHeaders.add("Content-Type", contentType)
      if (isHead) {
        // -1 = no response body (JDK HttpServer contract for HEAD)
        ex.sendResponseHeaders(status, -1)
      } else {
        ex.sendResponseHeaders(status, bytes.length)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    } finally ex.close()
  }

  // ---- POST /api/query ----
  private def handleQuery(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestMethod != "POST") return (405, jsonError("POST required"))
    val body = new String(readBody(ex), StandardCharsets.UTF_8)
    val query = Json.getString(body, "query").getOrElse(
      return (400, jsonError("missing 'query'")))
    val isNatural = Json.getBool(body, "isNatural").getOrElse(false)
    val convId = Json.getString(body, "conversationId")

    val confirmed = Json.getBool(body, "confirm").getOrElse(false)
    val prevTable = convId.flatMap(lastTableOf)
    val (generated, result) =
      if (isNatural || graft.nl.Patterns.isNaturalLanguage(query)) {
        engine.naturalToSql(query, prevTable) match {
          case Some(sql) if engine.isDestructive(sql) && !confirmed =>
            // reference-style confirmation gate: a heuristic table match
            // must not drop/update the wrong data — client re-sends with
            // "confirm":true to execute
            return (200,
              s"""{"success":true,"requiresConfirmation":true,"generatedSQL":${Json.str(sql)}}""")
          case Some(sql) => (Some(sql), engine.execute(sql))
          case None => return (422, jsonError("could not translate to SQL"))
        }
      } else (None, engine.execute(query))

    val resultJson = result match {
      case Left(msg) => s""""message":${Json.str(msg)}"""
      case Right(df) =>
        // fetch cap+1 so a capped result is distinguishable from one
        // with exactly `cap` rows; consumers see "truncated":true
        val cap = 1000
        val rows = df.limit(cap + 1).toJSON.collect()
        val truncated = rows.length > cap
        s""""rows":[${rows.take(cap).mkString(",")}],"columns":${Json.strArr(df.columns.toSeq)},"truncated":$truncated"""
    }
    convId.foreach(c => appendConversation(c, query, generated))
    val gen = generated.map(g => s""","generatedSQL":${Json.str(g)}""").getOrElse("")
    (200, s"""{"success":true,$resultJson$gen}""")
  }

  // ---- GET /api/tables ----
  private def handleTables(ex: HttpExchange): (Int, String) =
    (200, s"""{"success":true,"tables":${Json.strArr(engine.catalog.listTables)}}""")

  // ---- GET/POST /api/image-dir ----
  // the reference console's image-directory surface
  // (WEB_FRONTEND_README.md:118, web/static/js/app.js:499-515; its
  // server forgot to register the route — cmd/server/main.go:168-174 —
  // so this closes the reference's own console/server gap): GET
  // returns the session image directory, POST {directory} sets it via
  // the same validation the REPL's SET IMAGE DIR uses
  private def handleImageDir(ex: HttpExchange): (Int, String) =
    ex.getRequestMethod match {
      case "GET" =>
        val dir = graft.functions.ImageResolver.getImageDir
          .map(Json.str).getOrElse("\"\"")
        (200, s"""{"success":true,"directory":$dir}""")
      case "POST" =>
        val body = new String(readBody(ex), StandardCharsets.UTF_8)
        val dir = Json.getString(body, "directory").getOrElse(
          return (400, jsonError("missing 'directory'")))
        graft.functions.ImageResolver.setImageDir(dir) // invalid dir → DialectException → 400
        (200, """{"success":true}""")
      case _ => (405, jsonError("GET or POST required"))
    }

  // ---- POST /api/upload?table=T&format=csv|parquet ----
  private def handleUpload(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestMethod != "POST") return (405, jsonError("POST required"))
    val params = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }).toMap
    val table = params.getOrElse("table", return (400, jsonError("missing ?table=")))
    val format = params.getOrElse("format", "csv")
    if (!Set("csv", "parquet").contains(format))
      return (400, jsonError("format must be csv or parquet"))
    val tmp = Files.createTempFile("graft_upload", s".$format")
    try {
      Files.write(tmp, readBody(ex))
      val n = format match {
        case "csv" => graft.ingest.Ingest.importCsv(engine.catalog, tmp.toString, table)
        case _ => graft.ingest.Ingest.importParquet(engine.catalog, tmp.toString, table)
      }
      (200, s"""{"success":true,"rowsImported":$n}""")
    } finally Files.deleteIfExists(tmp)
  }

  // ---- conversations (N6): GET list / POST create ----
  private def handleConversations(ex: HttpExchange): (Int, String) =
    ex.getRequestMethod match {
      case "GET" =>
        val ids = {
          val s = Files.list(convDir)
          try s.iterator.asScala.map(_.getFileName.toString.stripSuffix(".json")).toSeq.sorted
          finally s.close()
        }
        (200, s"""{"success":true,"conversations":${Json.strArr(ids)}}""")
      case "POST" =>
        val id = java.util.UUID.randomUUID().toString
        Files.writeString(convDir.resolve(s"$id.json"), """{"messages":[]}""")
        (200, s"""{"success":true,"conversationId":${Json.str(id)}}""")
      case _ => (405, jsonError("GET or POST"))
    }

  private def convFile(id: String): Path = {
    if (!id.matches("[A-Za-z0-9-]{1,64}"))
      throw graft.dialect.DialectException("invalid conversation id")
    convDir.resolve(s"$id.json")
  }

  /** Context for follow-up questions: the table of the last generated
    * SQL in the conversation (reference `cmd/server/main.go:414-433`).
    */
  private def lastTableOf(id: String): Option[String] = {
    val f = convFile(id)
    if (!Files.exists(f)) return None
    val text = Files.readString(f)
    """(?i)FROM\s+(\w+)""".r.findAllMatchIn(text).toSeq.lastOption.map(_.group(1))
  }

  private val convLock = new Object

  /** Read-modify-write under a lock: two pool threads appending to the
    * same conversation must not drop each other's message.
    */
  private def appendConversation(id: String, query: String, sql: Option[String]): Unit = convLock.synchronized {
    val f = convFile(id)
    if (!Files.exists(f)) return
    val text = Files.readString(f)
    val entry = s"""{"query":${Json.str(query)},"sql":${Json.str(sql.getOrElse(""))}}"""
    val updated =
      if (text.contains("\"messages\":[]")) text.replace("\"messages\":[]", s""""messages":[$entry]""")
      else text.replaceFirst("\\]\\}\\s*$", s",$entry]}")
    Files.writeString(f, updated)
  }
}

/** Minimal JSON helpers shared by the server (escape-correct, no deps). */
private[graft] object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def strArr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")

  /** Pull a top-level string field out of a flat JSON object. */
  def getString(json: String, key: String): Option[String] = {
    val pat = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
    pat.findFirstMatchIn(json).map(m => unescape(m.group(1)))
  }

  def getBool(json: String, key: String): Option[Boolean] = {
    val pat = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(true|false)").r
    pat.findFirstMatchIn(json).map(_.group(1) == "true")
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => sb += other; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}

object Server {
  def main(args: Array[String]): Unit = {
    val dbPath = args.headOption.getOrElse("graft_db")
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val spark = Sessions.local("graft-server")
    val server = new Server(new Engine(spark, dbPath), port)
    server.start()
    println(s"graft server listening on :${server.boundPort}, db at $dbPath")
    Thread.currentThread().join()
  }
}

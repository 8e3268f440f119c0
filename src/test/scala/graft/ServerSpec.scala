package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.ThreadPoolExecutor
import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

/** Drives the REST surface over a real socket: DDL+DML+query, NL
  * translation with conversation context, CSV upload, error paths.
  */
class ServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val server = {
    val s = new Server(new Engine(spark, Files.createTempDirectory("graftsrv").toString), 0)
    s.start(); s
  }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String, contentType: String = "application/json"): HttpResponse[String] =
    client.send(HttpRequest.newBuilder().uri(URI.create(s"$base$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder().uri(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def q(sql: String): HttpResponse[String] =
    post("/api/query", s"""{"query":${Json.str(sql)}}""")

  test("query endpoint: DDL, DML, SELECT round-trip") {
    assert(q("CREATE TABLE crew (id INT, name TEXT, score DECIMAL)").body().contains("\"success\":true"))
    assert(q("INSERT INTO crew (id, name, score) VALUES (1, 'Ana', 9.5)").statusCode() == 200)
    assert(q("INSERT INTO crew (id, name, score) VALUES (2, 'Bo', 7.0)").statusCode() == 200)
    val r = q("SELECT name, score FROM crew ORDER BY score DESC")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""rows":[{"name":"Ana","score":9.5},{"name":"Bo","score":7.0}]"""), r.body())
  }

  test("tables endpoint lists catalog tables") {
    q("CREATE TABLE listed (id INT)")
    val r = get("/api/tables")
    assert(r.body().contains("listed"))
  }

  test("natural language with conversation context") {
    val conv = post("/api/conversations", "")
    val id = """"conversationId":"([a-f0-9-]+)"""".r.findFirstMatchIn(conv.body()).get.group(1)
    val r = post("/api/query",
      s"""{"query":"how many crew are there?","isNatural":true,"conversationId":"$id"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""generatedSQL":"SELECT COUNT(*) FROM crew""""), r.body())
    assert(r.body().contains(""""count":2"""), r.body())
    // follow-up resolves the table from conversation context
    val r2 = post("/api/query",
      s"""{"query":"and among these, how many?","isNatural":true,"conversationId":"$id"}""")
    assert(r2.body().contains("SELECT COUNT(*) FROM crew"), r2.body())
    // conversation listed
    assert(get("/api/conversations").body().contains(id))
  }

  test("csv upload imports rows") {
    val csv = "id,city\n1,Lyon\n2,Oslo\n"
    val r = post("/api/upload?table=cities&format=csv", csv, "text/csv")
    assert(r.body().contains(""""rowsImported":2"""), r.body())
    assert(q("SELECT COUNT(*) FROM cities").body().contains(""""count":2"""))
  }

  test("upload with a traversal table name is rejected with 400") {
    val r = post("/api/upload?table=" + java.net.URLEncoder.encode("../../pwn", "UTF-8") +
      "&format=csv", "id\n1\n", "text/csv")
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("invalid table name"), r.body())
  }

  test("query results carry an explicit truncated flag") {
    q("CREATE TABLE trunc_t (id INT)")
    q("INSERT INTO trunc_t VALUES (1)")
    val r = q("SELECT * FROM trunc_t")
    assert(r.body().contains(""""truncated":false"""), r.body())
  }

  test("error paths: bad SQL is 400, bad method is 405, missing query is 400") {
    assert(q("SELECT FROM WHERE").statusCode() == 400)
    assert(q("SELECT * FROM nosuch").statusCode() == 400)
    val r = client.send(HttpRequest.newBuilder().uri(URI.create(s"$base/api/query")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 405)
    assert(post("/api/query", """{"nope":1}""").statusCode() == 400)
  }

  test("static console: index, assets, content types, traversal guard") {
    val idx = get("/")
    assert(idx.statusCode() == 200, idx.body())
    assert(idx.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
    assert(idx.body().contains("<html") && idx.body().contains("graft"), idx.body().take(200))
    val js = get("/static/js/app.js")
    assert(js.statusCode() == 200)
    assert(js.headers().firstValue("Content-Type").orElse("").startsWith("application/javascript"))
    assert(js.body().contains("/api/query"))
    val css = get("/static/css/style.css")
    assert(css.statusCode() == 200)
    assert(css.headers().firstValue("Content-Type").orElse("").startsWith("text/css"))
    assert(get("/no-such-page").statusCode() == 404)
    // traversal shapes must not escape the web resource root
    assert(get("/../graft/Server.class").statusCode() == 404)
    assert(get("/static/js/%2e%2e/%2e%2e/secret").statusCode() == 404)
  }

  test("image-dir endpoint: GET empty, POST sets, invalid dir is 400") {
    val before = get("/api/image-dir")
    assert(before.statusCode() == 200 && before.body().contains("\"success\":true"), before.body())
    val dir = Files.createTempDirectory("graftimg").toString
    val set = post("/api/image-dir", s"""{"directory":${Json.str(dir)}}""")
    assert(set.statusCode() == 200 && set.body().contains("\"success\":true"), set.body())
    val after = get("/api/image-dir")
    assert(after.body().contains(Json.str(dir).drop(1).dropRight(1)), after.body())
    val bad = post("/api/image-dir", """{"directory":"/no/such/dir/graft"}""")
    assert(bad.statusCode() == 400, bad.body())
    assert(post("/api/image-dir", """{"nope":1}""").statusCode() == 400)
  }

  test("static console: HEAD is GET without a body") {
    val head = client.send(HttpRequest.newBuilder().uri(URI.create(s"$base/"))
      .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(head.statusCode() == 200, head.body())
    assert(head.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
    assert(head.body().isEmpty, head.body().take(100))
    // non-GET/HEAD still rejected
    val put = client.send(HttpRequest.newBuilder().uri(URI.create(s"$base/"))
      .PUT(HttpRequest.BodyPublishers.ofString("x")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(put.statusCode() == 405)
  }

  test("destructive NL requires confirmation; confirm:true executes") {
    q("CREATE TABLE victims (id INT, tag TEXT)")
    q("INSERT INTO victims (id, tag) VALUES (1, 'x')")
    val r = post("/api/query", """{"query":"remove the victims table","isNatural":true}""")
    assert(r.body().contains(""""requiresConfirmation":true"""), r.body())
    assert(r.body().contains("DROP TABLE victims"))
    // not executed yet
    assert(q("SELECT COUNT(*) FROM victims").statusCode() == 200)
    val r2 = post("/api/query",
      """{"query":"remove the victims table","isNatural":true,"confirm":true}""")
    assert(r2.body().contains(""""success":true"""), r2.body())
    assert(q("SELECT COUNT(*) FROM victims").statusCode() == 400) // gone
  }

  test("stop shuts down the request pool") {
    val s = new Server(new Engine(spark, Files.createTempDirectory("graftstop").toString), 0)
    s.start()
    val r = client.send(HttpRequest.newBuilder()
      .uri(URI.create(s"http://127.0.0.1:${s.boundPort}/api/tables")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    val field = classOf[Server].getDeclaredFields.find(_.getType == classOf[HttpServer]).get
    field.setAccessible(true)
    val pool = field.get(s).asInstanceOf[HttpServer].getExecutor
      .asInstanceOf[ThreadPoolExecutor]
    assert(pool.getPoolSize > 0)
    s.stop()
    assert(pool.isTerminated)
    assert(pool.getPoolSize == 0)
  }
}

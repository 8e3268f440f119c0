package graft.nl

import graft.Json
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Optional LLM NL→SQL path (reference §2.12 N2): POST to a local
  * Ollama server, prompt carries the schema context, response is
  * cleaned down to the first SQL-looking line. Disabled unless
  * GRAFT_OLLAMA_URL is set; the deterministic [[Patterns]] fallbacks
  * run first, mirroring the reference's heuristics-then-LLM order.
  * Generated SQL should be confirmation-gated by callers (the reference
  * prompts the user before executing).
  */
object Ollama {
  final case class Config(
      url: String = sys.env.getOrElse("GRAFT_OLLAMA_URL", "http://localhost:11434"),
      model: String = sys.env.getOrElse("GRAFT_OLLAMA_MODEL", "llama3"),
      timeoutSec: Long = 30,
      // injectable so tests can point at a stubbed HTTP server without
      // touching process env; defaults to the env-gated prod behavior
      enabled: Boolean = sys.env.contains("GRAFT_OLLAMA_URL"))

  def enabled: Boolean = sys.env.contains("GRAFT_OLLAMA_URL")

  def buildPrompt(query: String, tables: Seq[Patterns.TableInfo]): String = {
    val schema = tables.map(t => s"${t.name}(${t.columns.mkString(", ")})").mkString("\n")
    s"""You translate questions to SQL for a small dialect (single-table
       |SELECT with WHERE/GROUP BY/HAVING/ORDER BY/LIMIT, INSERT, UPDATE,
       |DELETE, CREATE TABLE, DROP TABLE). Tables:
       |$schema
       |Question: $query
       |Answer with exactly one SQL statement, nothing else.""".stripMargin
  }

  /** Strip markdown fences and keep the first SQL-looking line. */
  def cleanResponse(raw: String): Option[String] = {
    val noFences = raw.replaceAll("```[a-zA-Z]*", "").trim
    noFences.linesIterator.map(_.trim).find { l =>
      val u = l.toUpperCase
      Seq("SELECT", "INSERT", "UPDATE", "DELETE", "CREATE", "DROP", "SHOW")
        .exists(u.startsWith)
    }.map(_.stripSuffix(";"))
  }

  /** Call Ollama /api/generate (non-streaming). Returns None on any
    * failure — callers fall back to Patterns or report no translation.
    */
  def translate(query: String, tables: Seq[Patterns.TableInfo],
      config: Config = Config()): Option[String] = {
    if (!config.enabled) return None
    try {
      val prompt = buildPrompt(query, tables)
      val body =
        s"""{"model":${Json.str(config.model)},"prompt":${Json.str(prompt)},"stream":false,
           |"options":{"temperature":0.1,"num_predict":100}}""".stripMargin
      val client = HttpClient.newBuilder()
        .connectTimeout(Duration.ofSeconds(config.timeoutSec)).build()
      val req = HttpRequest.newBuilder()
        .uri(URI.create(s"${config.url}/api/generate"))
        .timeout(Duration.ofSeconds(config.timeoutSec))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200) return None
      // pull the "response" field out of the JSON body
      val pat = """"response"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      pat.findFirstMatchIn(resp.body()).flatMap { m =>
        val text = m.group(1)
          .replace("\\n", "\n").replace("\\\"", "\"").replace("\\\\", "\\")
        cleanResponse(text)
      }
    } catch { case _: Exception => None }
  }
}

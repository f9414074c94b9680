package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.types._

/** HTTP surface over a MultiDb instance (reference: HTTP_CLIENT.md):
  * `POST /query`, `GET /health`, `POST /validate/query` (zero-I/O), with
  * error status mapping Validation/Config→400, Planner→422, Execution→500,
  * Connection/Provider→503 and `toJSON` bodies so clients can reconstruct
  * typed errors from `code`. Zero dependencies: the JDK's HttpServer.
  *
  * Requests are served concurrently by a fixed pool with one thread per
  * task slot of the session (`defaultParallelism`), so the server admits
  * no more queries at once than Spark has slots to run their tasks.
  *
  * Connections are accepted with `TCP_NODELAY` on. The JDK server writes a
  * reply's headers and its body as two TCP writes; under Nagle's algorithm
  * the body then waits for the client's delayed ACK, about 40 ms on every
  * request. The JDK reads the option from the system property
  * `sun.net.httpserver.nodelay` once, when the first `HttpServer` of the
  * JVM is created; the companion sets it before this class creates its
  * server, unless the user set it. A JDK `HttpServer` created in the JVM
  * before the first `MultiDbHttpServer` fixes the setting for all of them.
  */
final class MultiDbHttpServer(db: MultiDb, port: Int = 0) {

  private val server = MultiDbHttpServer.create(port)
  private val pool = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(math.max(1, db.spark.sparkContext.defaultParallelism), { r =>
      val t = new Thread(r, s"graft-http-${n.incrementAndGet()}"); t.setDaemon(true); t
    })
  }

  def start(): Int = {
    server.createContext("/query", (ex: HttpExchange) => handle(ex) {
      val (defn, ctx) = Json.parseQuery(readBody(ex))
      (200, Json.writeResult(db.query(defn, ctx)))
    })
    server.createContext("/health", (ex: HttpExchange) => handle(ex) {
      val h = db.healthCheck()
      (if (h.healthy) 200 else 503, Json.writeHealth(h))
    })
    server.createContext("/reload", (ex: HttpExchange) => handle(ex) {
      // wire surface for the reference's reloadMetadata()/reloadRoles()
      // lifecycle (METADATA.md:180-181); one call refreshes both providers
      // atomically. A failing provider surfaces as a 503 ProviderError and
      // the previous config stays active (C1311). Mutating endpoint →
      // POST-only; a GET must not trigger a config reload.
      if (ex.getRequestMethod != "POST") {
        // RFC 9110 §15.5.6: a 405 MUST carry the allowed methods
        ex.getResponseHeaders.set("Allow", "POST")
        (405, """{"code":"METHOD_NOT_ALLOWED","message":"POST required"}""")
      } else {
        db.reloadMetadata()
        (200, """{"reloaded":true}""")
      }
    })
    server.createContext("/validate/query", (ex: HttpExchange) => handle(ex) {
      // zero-I/O validation endpoint: runs the validator only
      val (defn, ctx) = Json.parseQuery(readBody(ex))
      db.validateOnly(defn, ctx)
      (200, """{"valid":true}""")
    })
    server.createContext("/validate/config", (ex: HttpExchange) => handle(ex) {
      // config validation endpoint (HTTP_CLIENT.md:16-18): metadata + role
      // references checked with ALL issues collected; no executors touched
      val root = Json.mapper.readTree(readBody(ex))
      val cfg = Json.parseMetadataConfig(Option(root.get("metadata"))
        .getOrElse(throw new IllegalArgumentException("missing 'metadata'")))
      val roles = Option(root.get("roles")).map(Json.parseRoles).getOrElse(Nil)
      val issues = graft.meta.MetadataIndex.validate(cfg) ++ validateRoleRefs(cfg, roles)
      if (issues.nonEmpty) throw ConfigError(issues)
      (200, """{"valid":true}""")
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  /** Closes the socket, then interrupts in-flight handlers and waits (up to
    * 10 s) for the pool's threads to exit.
    */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  /** Role-side config checks: every role table/column reference must exist
    * (the role provider half of "/validate/config validates metadata + role
    * configuration").
    */
  private def validateRoleRefs(cfg: graft.meta.MetadataConfig,
      roles: Seq[graft.meta.RoleMeta]): Seq[ConfigIssue] = {
    val byId = cfg.tables.map(t => t.id -> t).toMap
    roles.flatMap { r =>
      r.tables.getOrElse(Nil).flatMap { ta =>
        byId.get(ta.tableId) match {
          case None => Seq(ConfigIssue("INVALID_REFERENCE",
            s"role '${r.id}' references unknown table '${ta.tableId}'",
            Map("role" -> r.id, "table" -> ta.tableId)))
          case Some(t) =>
            (ta.allowedColumns.getOrElse(Nil) ++ ta.maskedColumns).distinct
              .filterNot(c => t.columns.exists(_.apiName == c))
              .map(c => ConfigIssue("INVALID_REFERENCE",
                s"role '${r.id}' references unknown column '${ta.tableId}.$c'",
                Map("role" -> r.id, "table" -> ta.tableId, "field" -> c)))
        }
      }
    }
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def statusOf(e: MultiDbError): Int = e match {
    case _: ValidationError | _: ConfigError  => 400
    case _: PlannerError                       => 422
    case _: ExecutionError                     => 500
    case _: ConnectionError | _: ProviderError => 503
  }

  private def handle(ex: HttpExchange)(body: => (Int, String)): Unit = {
    val (status, payload) =
      try body
      catch {
        case e: MultiDbError => (statusOf(e), Json.writeError(e))
        case e: IllegalArgumentException =>
          (400, s"""{"code":"BAD_REQUEST","message":${Json.mapper.writeValueAsString(e.getMessage)}}""")
        case e: Exception =>
          (500, s"""{"code":"INTERNAL","message":${Json.mapper.writeValueAsString(String.valueOf(e.getMessage))}}""")
      }
    val bytes = payload.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

object MultiDbHttpServer {

  /** The JDK server's switch for `TCP_NODELAY` on accepted connections. */
  val NoDelayProperty = "sun.net.httpserver.nodelay"

  // runs when the companion is first used, so before the first create below;
  // a value the user set explicitly wins
  if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")

  private def create(port: Int): HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
}

/** HTTP client implementing the same query surface as in-process MultiDb
  * (HTTP_CLIENT.md: MultiDbClient). Key behaviors ported:
  *  - typed-error reconstruction from the `code` field (callers
  *    pattern-match exactly as in-process);
  *  - request timeout → ConnectionError(REQUEST_TIMEOUT);
  *  - unreachable server → ConnectionError(NETWORK_ERROR);
  *  - no retry logic (intentionally simple).
  * Zero dependencies: java.net.http.HttpClient.
  */
final class MultiDbHttpClient(
    baseUrl: String,
    timeoutMs: Long = 30000,
    headers: Map[String, String] = Map.empty,
) {
  import java.net.URI
  import java.net.http.{HttpClient, HttpRequest, HttpResponse}
  import java.time.Duration

  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(timeoutMs)).build()

  private def send(path: String, body: Option[String],
      throwOnError: Boolean = true): String = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl$path"))
      .timeout(Duration.ofMillis(timeoutMs))
    headers.foreach { case (k, v) => b.header(k, v) }
    val req = body match {
      case Some(s) => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(s, UTF_8)).build()
      case None => b.GET().build()
    }
    val resp =
      try client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
      catch {
        // connect-phase timeouts are UNREACHABILITY, not a slow response:
        // HttpConnectTimeoutException extends HttpTimeoutException, so it
        // must be matched first or it would misreport as REQUEST_TIMEOUT
        case e: java.net.http.HttpConnectTimeoutException =>
          throw ConnectionError("NETWORK_ERROR",
            Map("path" -> path, "cause" -> String.valueOf(e.getMessage)))
        case e: java.net.http.HttpTimeoutException =>
          throw ConnectionError("REQUEST_TIMEOUT",
            Map("timeoutMs" -> timeoutMs, "path" -> path, "cause" -> String.valueOf(e.getMessage)))
        case e: java.io.IOException =>
          throw ConnectionError("NETWORK_ERROR",
            Map("path" -> path, "cause" -> String.valueOf(e.getMessage)))
      }
    if (throwOnError && resp.statusCode() >= 400)
      throw MultiDbClient.reconstructError(resp.body())
    resp.body()
  }

  def query(defn: QueryDefinition, ctx: ExecutionContext = ExecutionContext()): QueryResult =
    Json.parseResult(send("/query", Some(Json.writeQueryRequest(defn, ctx))))

  /** An unhealthy server answers 503 with the SAME HealthCheckResult body
    * (C1303) — the client parses it rather than raising.
    */
  def healthCheck(): HealthCheckResult =
    Json.parseHealth(send("/health", None, throwOnError = false))

  def validateQuery(defn: QueryDefinition, ctx: ExecutionContext = ExecutionContext()): Unit = {
    send("/validate/query", Some(Json.writeQueryRequest(defn, ctx))); ()
  }

  def validateConfig(metadataJson: String, rolesJson: String): Unit = {
    send("/validate/config", Some(s"""{"metadata":$metadataJson,"roles":$rolesJson}""")); ()
  }

  /** POST /reload — server-side reloadMetadata(); provider failures come
    * back as the typed 503 ProviderError (C1311 semantics over the wire).
    */
  def reload(): Unit = { send("/reload", Some("{}")); () }
}

/** Client-side error reconstruction (HTTP_CLIENT.md:78-83): rebuild typed
  * errors from the `code` field so callers can pattern-match across the
  * wire exactly as in-process.
  */
object MultiDbClient {

  def reconstructError(json: String): MultiDbError = {
    val n = Json.mapper.readTree(json)
    val code = Option(n.get("code")).map(_.asText()).getOrElse("INTERNAL")
    def issues: Seq[ValidationIssue] =
      Option(n.get("errors")).map(_.elements()).map { it =>
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(e =>
          ValidationIssue(e.get("code").asText(), e.get("message").asText())).toSeq
      }.getOrElse(Nil)
    code match {
      case "VALIDATION_FAILED" =>
        ValidationError(Option(n.get("fromTable")).map(_.asText()).getOrElse(""), issues)
      case "CONFIG_INVALID" =>
        ConfigError(issues.map(i => ConfigIssue(i.code, i.message)))
      case "UNREACHABLE_TABLES" | "TRINO_DISABLED" | "NO_CATALOG" | "FRESHNESS_UNMET" =>
        PlannerError(code, Option(n.get("fromTable")).map(_.asText()).getOrElse(""))
      case "EXECUTOR_MISSING" | "CACHE_PROVIDER_MISSING" | "QUERY_FAILED" | "QUERY_TIMEOUT" =>
        ExecutionError(code)
      case "METADATA_LOAD_FAILED" | "ROLE_LOAD_FAILED" =>
        ProviderError(code, "metadata")
      case other => ConnectionError(other)
    }
  }
}

package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{MultiDb, MultiDbClient, MultiDbHttpServer}
import graft.types._

/** End-to-end HTTP surface tests (reference: HTTP_CLIENT.md, TESTS.md
  * #208-218): real JDK HttpServer + real HttpClient over a loopback port.
  */
class HttpApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private lazy val server = new MultiDbHttpServer(ContractFixture.multiDb(spark))
  private lazy val port: Int = server.start()
  private val client = HttpClient.newHttpClient()

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())

  test("POST /query executes and returns kind=data with ISO timestamps") {
    val r = post("/query",
      """{"definition": {"from": "orders",
        |  "columns": ["id", "status", "createdAt", "isPaid"],
        |  "filters": [{"column": "status", "operator": "=", "value": "active"}],
        |  "orderBy": [{"column": "id", "direction": "asc"}]}}""".stripMargin)
    assert(r.statusCode() == 200)
    val n = graft.api.Json.mapper.readTree(r.body())
    assert(n.get("kind").asText() == "data")
    val rows = n.get("data")
    assert(rows.size() == 2)
    assert(rows.get(0).get("id").asInt() == 1)
    assert(rows.get(0).get("createdAt").asText() == "2024-01-15T10:00:00Z")
    assert(rows.get(0).get("isPaid").isBoolean && rows.get(0).get("isPaid").asBoolean())
    assert(n.get("meta").get("strategy").asText() == "direct")
  }

  test("POST /query with filters group / exists / count mode round-trips") {
    val r = post("/query",
      """{"definition": {"from": "samples", "executeMode": "count",
        |  "filters": [
        |    {"logic": "or", "conditions": [
        |      {"column": "status", "operator": "=", "value": "active"},
        |      {"table": "sampleItems", "count": {"operator": ">=", "value": 2}}]}]}}""".stripMargin)
    assert(r.statusCode() == 200)
    val n = graft.api.Json.mapper.readTree(r.body())
    assert(n.get("kind").asText() == "count")
    assert(n.get("count").asLong() == 3) // ids 1,4 active + 5 (>=2 items); 1 dedup
  }

  test("POST /query with context roles applies masking over the wire") {
    val r = post("/query",
      """{"definition": {"from": "orders", "columns": ["id", "total"],
        |  "orderBy": [{"column": "id", "direction": "asc"}]},
        | "context": {"roles": {"user": ["tenant-user"]}}}""".stripMargin)
    val n = graft.api.Json.mapper.readTree(r.body())
    assert(n.get("data").get(0).get("total").asInt() == 0) // number-masked
    val colMeta = n.get("meta").get("columns")
    assert((0 until colMeta.size()).exists(i =>
      colMeta.get(i).get("apiName").asText() == "total" &&
        colMeta.get(i).get("masked").asBoolean()))
  }

  test("sql-only over the wire returns sql+params, no data") {
    val r = post("/query",
      """{"definition": {"from": "orders", "columns": ["id"],
        |  "filters": [{"column": "total", "operator": ">", "value": 50}],
        |  "executeMode": "sql-only"}}""".stripMargin)
    val n = graft.api.Json.mapper.readTree(r.body())
    assert(n.get("kind").asText() == "sql")
    assert(n.get("sql").asText().contains("?"))
    assert(n.get("params").get(0).asLong() == 50)
    assert(!n.has("data"))
  }

  test("validation error → 400 with collected errors; client reconstructs type (C1200/C1201)") {
    val r = post("/query",
      """{"definition": {"from": "orders", "columns": ["ghost1", "ghost2"]}}""")
    assert(r.statusCode() == 400)
    val e = MultiDbClient.reconstructError(r.body())
    val ve = e.asInstanceOf[ValidationError]
    assert(ve.fromTable == "orders" && ve.errors.size == 2)
    assert(ve.errors.forall(_.code == "UNKNOWN_COLUMN"))
  }

  test("planner error → 422 over the wire (C1202)") {
    val srv2 = new MultiDbHttpServer(ContractFixture.multiDb(spark, trinoEnabled = false))
    val p2 = srv2.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p2/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"definition": {"from": "events", "columns": ["id"],
            |  "joins": [{"table": "users", "columns": []}]}}""".stripMargin))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 422)
      assert(MultiDbClient.reconstructError(r.body())
        .isInstanceOf[PlannerError])
    } finally srv2.stop()
  }

  test("execution error → 500 over the wire with typed code (C1203)") {
    val base = ContractFixture.registry(spark)
    val broken = base.copy(loaders = base.loaders.map {
      case (("pg-main", "orders"), _) =>
        (("pg-main", "orders"),
          () => spark.read.parquet("/nonexistent/path/orders.parquet"))
      case other => other
    })
    val srv = new MultiDbHttpServer(graft.api.MultiDb(
      spark, ContractFixture.config(), ContractFixture.roles, broken))
    val p = srv.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"definition": {"from": "orders", "columns": ["id"]}}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 500)
      val e = MultiDbClient.reconstructError(r.body())
      assert(e.asInstanceOf[ExecutionError].code == "QUERY_FAILED")
    } finally srv.stop()
  }

  test("provider error → 503 over the wire; old config keeps serving (C1206/C1311)") {
    // provider succeeds at construction, then breaks — POST /reload must
    // surface 503 ProviderError and leave the old snapshot answering
    var broken = false
    val meta = new graft.api.MetadataProvider {
      def load(): graft.meta.MetadataConfig =
        if (broken) throw new RuntimeException("config store down")
        else ContractFixture.config()
    }
    val roles = new graft.api.RoleProvider {
      def load(): Seq[graft.meta.RoleMeta] = ContractFixture.roles
    }
    val db2 = new graft.api.MultiDb(spark, meta, roles, ContractFixture.registry(spark))
    val srv = new MultiDbHttpServer(db2)
    val p = srv.start()
    try {
      def send(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(send("/reload", "{}").statusCode() == 200)
      broken = true
      val r = send("/reload", "{}")
      assert(r.statusCode() == 503)
      val e = MultiDbClient.reconstructError(r.body())
      assert(e.asInstanceOf[ProviderError].code == "METADATA_LOAD_FAILED")
      // C1311: the pre-failure snapshot still answers queries
      val q = send("/query", """{"definition": {"from": "orders", "columns": ["id"]}}""")
      assert(q.statusCode() == 200)
    } finally srv.stop()
  }

  test("/reload is POST-only: GET → 405 and no reload; typed client reload() works") {
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val meta = new graft.api.MetadataProvider {
      def load(): graft.meta.MetadataConfig = {
        loads.incrementAndGet(); ContractFixture.config()
      }
    }
    val roles = new graft.api.RoleProvider {
      def load(): Seq[graft.meta.RoleMeta] = ContractFixture.roles
    }
    val db2 = new graft.api.MultiDb(spark, meta, roles, ContractFixture.registry(spark))
    val srv = new MultiDbHttpServer(db2)
    val p = srv.start()
    try {
      val before = loads.get()
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/reload")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 405, s"GET /reload must be rejected, got ${r.statusCode()}")
      // RFC 9110 §15.5.6: the 405 must name the allowed methods
      assert(r.headers().firstValue("Allow").orElse("") == "POST",
        s"405 without Allow header: ${r.headers().map()}")
      assert(loads.get() == before, "a rejected GET must not trigger a reload")
      new graft.api.MultiDbHttpClient(s"http://127.0.0.1:$p").reload()
      assert(loads.get() == before + 1)
    } finally srv.stop()
  }

  test("GET /health returns the contract shape (C1300/C1301/C1302/C1304)") {
    val r = get("/health")
    assert(r.statusCode() == 200)
    val n = graft.api.Json.mapper.readTree(r.body())
    assert(n.get("healthy").asBoolean())
    assert(n.get("executors").has("pg-main") && n.get("executors").has("ch-analytics"))
    assert(n.get("executors").get("pg-main").get("healthy").asBoolean())
    assert(n.get("executors").get("pg-main").get("latencyMs").isNumber)
    assert(n.get("cacheProviders").get("redis-main").get("healthy").asBoolean())
  }

  test("POST /validate/query is zero-I/O and returns valid:true / 400") {
    val ok = post("/validate/query",
      """{"definition": {"from": "orders", "columns": ["id"]}}""")
    assert(ok.statusCode() == 200 && ok.body().contains("\"valid\":true"))
    val bad = post("/validate/query",
      """{"definition": {"from": "orders", "limit": -5}}""")
    assert(bad.statusCode() == 400)
  }

  test("malformed JSON → 400 BAD_REQUEST, not a 500") {
    val r = post("/query", """{"nope": 1}""")
    assert(r.statusCode() == 400)
    assert(r.body().contains("BAD_REQUEST"))
  }

  test("POST /validate/config: valid config → valid:true; bad refs → 400 ConfigError") {
    val ok = post("/validate/config",
      """{"metadata": {
        |  "databases": [{"id": "db1", "engine": "postgres"}],
        |  "tables": [{"id": "t1", "apiName": "things", "database": "db1",
        |    "physicalName": "things",
        |    "columns": [{"apiName": "id", "physicalName": "id", "columnType": "int"}],
        |    "primaryKey": ["id"]}]},
        | "roles": [{"id": "admin"}]}""".stripMargin)
    assert(ok.statusCode() == 200 && ok.body().contains("\"valid\":true"))

    // three independent issues: bad apiName, unknown database, bad role column
    val bad = post("/validate/config",
      """{"metadata": {
        |  "databases": [{"id": "db1", "engine": "postgres"}],
        |  "tables": [{"id": "t1", "apiName": "Bad_Name", "database": "nope",
        |    "physicalName": "things",
        |    "columns": [{"apiName": "id", "physicalName": "id", "columnType": "int"}]}]},
        | "roles": [{"id": "r1", "tables": [{"tableId": "t1",
        |    "allowedColumns": ["ghost"]}]}]}""".stripMargin)
    assert(bad.statusCode() == 400)
    val e = MultiDbClient.reconstructError(bad.body()).asInstanceOf[ConfigError]
    assert(e.errors.size >= 3, s"expected collected issues, got ${e.errors}")
  }

  test("MultiDbHttpClient: typed query round-trip matches in-process result") {
    val c = new graft.api.MultiDbHttpClient(s"http://127.0.0.1:$port")
    val res = c.query(QueryDefinition("orders", columns = Some(Seq("id", "status")),
      orderBy = Seq(QueryOrderBy("id"))))
    val data = res.asInstanceOf[DataResult]
    assert(data.meta.strategy == "direct")
    val local = ContractFixture.multiDb(spark)
      .query(QueryDefinition("orders", columns = Some(Seq("id", "status")),
        orderBy = Seq(QueryOrderBy("id")))).asInstanceOf[DataResult]
    assert(data.data.map(r => (r("id"), r("status"))) ==
      local.data.map(r => (r("id"), r("status"))))
    c.validateQuery(QueryDefinition("orders", columns = Some(Seq("id")))) // no throw
    val ve = intercept[ValidationError] {
      c.validateQuery(QueryDefinition("orders", columns = Some(Seq("ghost"))))
    }
    assert(ve.errors.head.code == "UNKNOWN_COLUMN")
    assert(c.healthCheck().healthy &&
      c.healthCheck().executors("pg-main").healthy)
  }

  test("client timeout → ConnectionError(REQUEST_TIMEOUT); unreachable → NETWORK_ERROR") {
    // slow server: sleeps past the client deadline (C1205)
    val slow = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    slow.createContext("/query", (ex: com.sun.net.httpserver.HttpExchange) => {
      Thread.sleep(2000)
      val b = "{}".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    slow.start()
    try {
      val c = new graft.api.MultiDbHttpClient(
        s"http://127.0.0.1:${slow.getAddress.getPort}", timeoutMs = 200)
      val e = intercept[ConnectionError] { c.query(QueryDefinition("orders")) }
      assert(e.code == "REQUEST_TIMEOUT")
    } finally slow.stop(0)
    // unreachable server (C1204)
    val dead = new graft.api.MultiDbHttpClient("http://127.0.0.1:1", timeoutMs = 500)
    val ne = intercept[ConnectionError] { dead.query(QueryDefinition("orders")) }
    assert(ne.code == "NETWORK_ERROR")
  }

  test("POST /query is served concurrently; stop() ends the handler threads") {
    // the first request blocks in its loader until the second one has been
    // answered; a server with one handler thread cannot answer the second,
    // so its client times out (both waits are bounded: fail, never hang)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val base = ContractFixture.registry(spark)
    val registry = base.copy(loaders = base.loaders.updated(("pg-main", "products"), () => {
      entered.countDown()
      release.await(30, TimeUnit.SECONDS)
      ContractFixture.productsDf(spark)
    }))
    def httpThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-http")).toSet
    val before = httpThreads
    val srv = new MultiDbHttpServer(
      MultiDb(spark, ContractFixture.config(), ContractFixture.roles, registry))
    val p = srv.start()
    def req(body: String) =
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/query"))
        .timeout(Duration.ofSeconds(20))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    try {
      val first = client.sendAsync(
        req("""{"definition": {"from": "products", "columns": ["id"]}}"""),
        HttpResponse.BodyHandlers.ofString())
      assert(entered.await(30, TimeUnit.SECONDS), "first request never reached its loader")
      val second = client.send(req("""{"definition": {"from": "orders", "columns": ["id"]}}"""),
        HttpResponse.BodyHandlers.ofString())
      assert(second.statusCode() == 200)
      assert(graft.api.Json.mapper.readTree(second.body()).get("data").size() == 5)
      assert(!first.isDone, "the first request finished before its release")
      release.countDown()
      val r1 = first.get(30, TimeUnit.SECONDS)
      assert(r1.statusCode() == 200)
      assert(graft.api.Json.mapper.readTree(r1.body()).get("data").size() == 3)
    } finally {
      release.countDown()
      srv.stop()
    }
    val left = httpThreads -- before
    left.foreach(_.join(2000)) // a worker may still be unwinding its run()
    assert(left.forall(!_.isAlive), s"threads left running: ${left.map(_.getName)}")
  }
}

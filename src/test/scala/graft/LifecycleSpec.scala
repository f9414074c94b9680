package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{MetadataProvider, MultiDb, RoleProvider}
import graft.meta._
import graft.planner.{CacheProvider, SourceRegistry}
import graft.types._

/** Signals that a scan task is running; the UDF below reads it statically. */
object SlowScan {
  val started = new CountDownLatch(1)
}

/** Lifecycle behaviors (reference: METADATA.md:174-193, C1300-C1313):
  * healthCheck, reload with snapshot isolation, per-query timeout, provider
  * failure wrapping, error JSON shape.
  */
class LifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("healthCheck reports databases and cache providers (C1300-C1304 shape)") {
    val db = ContractFixture.multiDb(spark)
    val h = db.healthCheck()
    assert(h.healthy)
    // C1301: executor keys match configured database ids
    assert(h.executors.keySet == Set("pg-main", "ch-analytics"))
    // C1302: each component reports healthy + measured latency
    (h.executors.values ++ h.cacheProviders.values).foreach { c =>
      assert(c.healthy && c.latencyMs >= 0 && c.error.isEmpty)
    }
    // C1304: cache provider present
    assert(h.cacheProviders.get("redis-main").exists(_.healthy))
    // C1303: a failing loader flips both component and top-level health
    val broken = ContractFixture.registry(spark)
    val reg2 = broken.copy(loaders = broken.loaders.map {
      case (("pg-main", t), _) =>
        (("pg-main", t), () => throw new RuntimeException("db stopped"))
      case other => other
    })
    val db2 = graft.api.MultiDb(spark, ContractFixture.config(), ContractFixture.roles, reg2)
    val h2 = db2.healthCheck()
    assert(!h2.healthy)
    assert(!h2.executors("pg-main").healthy)
    assert(h2.executors("pg-main").error.exists(_.contains("db stopped")))
    assert(h2.executors("ch-analytics").healthy)
  }

  test("reloadMetadata atomically swaps config (new table visible after)") {
    var cfg = ContractFixture.config()
    val provider = new MetadataProvider { def load(): MetadataConfig = cfg }
    val roles = new RoleProvider { def load(): Seq[RoleMeta] = ContractFixture.roles }
    val base = ContractFixture.registry(spark)
    val registry = base.copy(loaders = base.loaders +
      (("pg-main", "newTable") -> (() => ContractFixture.ordersDf(spark))))
    val db = new MultiDb(spark, provider, roles, registry)
    intercept[ValidationError](db.query(QueryDefinition("newTable")))
    cfg = cfg.copy(tables = cfg.tables :+ TableMeta(
      "newTable", "newTable", "pg-main", "orders",
      ContractFixture.ordersTable.columns, primaryKey = Seq("id")))
    // not yet reloaded → still unknown
    intercept[ValidationError](db.query(QueryDefinition("newTable")))
    db.reloadMetadata()
    val r = db.query(QueryDefinition("newTable", columns = Some(Seq("id"))))
    assert(r.asInstanceOf[DataResult].data.size == 5)
  }

  test("in-flight work uses the pre-reload snapshot (#171)") {
    var cfg = ContractFixture.config()
    val provider = new MetadataProvider { def load(): MetadataConfig = cfg }
    val roles = new RoleProvider { def load(): Seq[RoleMeta] = ContractFixture.roles }
    val db = new MultiDb(spark, provider, roles, ContractFixture.registry(spark))
    // a lazy frame resolved against the current snapshot stands in for an
    // in-flight query: it must keep executing after the config is swapped
    val inFlight = db.frame(QueryDefinition("orders", columns = Some(Seq("id", "status"))))
    cfg = cfg.copy(tables = cfg.tables.map(t =>
      if (t.id == "orders") // rename a column out from under the old plan
        t.copy(columns = t.columns.map(c =>
          if (c.apiName == "status") c.copy(apiName = "orderState") else c))
      else t))
    db.reloadMetadata()
    assert(inFlight.count() == 5) // old snapshot plan still runs
    // the new snapshot governs new queries
    intercept[ValidationError](
      db.query(QueryDefinition("orders", columns = Some(Seq("status")))))
    assert(db.query(QueryDefinition("orders", columns = Some(Seq("orderState"))))
      .asInstanceOf[DataResult].data.size == 5)
  }

  test("a table whose database has no registered loader → EXECUTOR_MISSING (C1260, #44)") {
    val base = ContractFixture.registry(spark)
    val registry = base.copy(loaders =
      base.loaders.removed(("ch-analytics", "events")))
    val db = MultiDb(spark, ContractFixture.config(), ContractFixture.roles, registry)
    val e = intercept[ExecutionError](
      db.query(QueryDefinition("events", columns = Some(Seq("id")))))
    assert(e.code == "EXECUTOR_MISSING")
  }

  test("broken reload throws ConfigError and keeps serving old snapshot") {
    var cfg = ContractFixture.config()
    val provider = new MetadataProvider { def load(): MetadataConfig = cfg }
    val roles = new RoleProvider { def load(): Seq[RoleMeta] = ContractFixture.roles }
    val db = new MultiDb(spark, provider, roles, ContractFixture.registry(spark))
    cfg = cfg.copy(tables = cfg.tables.map(t =>
      if (t.id == "orders") t.copy(apiName = "BAD NAME") else t))
    intercept[ConfigError](db.reloadMetadata())
    // old snapshot still answers
    assert(db.query(QueryDefinition("orders", columns = Some(Seq("id"))))
      .asInstanceOf[DataResult].data.size == 5)
  }

  test("provider failure wraps in ProviderError with cause (C1270/C1271)") {
    val boom = new MetadataProvider {
      def load(): MetadataConfig = throw new RuntimeException("db down")
    }
    val roles = new RoleProvider { def load(): Seq[RoleMeta] = Nil }
    val e = intercept[ProviderError] {
      new MultiDb(spark, boom, roles, SourceRegistry(Map.empty))
    }
    assert(e.code == "METADATA_LOAD_FAILED" && e.getCause.getMessage == "db down")
    // C1271: a failing ROLE provider gets its own code
    val okMeta = new MetadataProvider { def load(): MetadataConfig = ContractFixture.config() }
    val boomRoles = new RoleProvider {
      def load(): Seq[RoleMeta] = throw new RuntimeException("roles down")
    }
    val e2 = intercept[ProviderError] {
      new MultiDb(spark, okMeta, boomRoles, SourceRegistry(Map.empty))
    }
    assert(e2.code == "ROLE_LOAD_FAILED" && e2.getCause.getMessage == "roles down")
  }

  test("per-database timeout triggers QUERY_TIMEOUT (C1263)") {
    val registry = ContractFixture.registry(spark)
      .copy(executorTimeoutMs = Map("pg-main" -> 1L)) // 1 ms
    val db = MultiDb(spark, ContractFixture.config(), ContractFixture.roles, registry)
    val e = intercept[ExecutionError] {
      db.query(QueryDefinition("orders",
        filters = Seq(QueryExistsFilter("invoices"))))
    }
    assert(e.code == "QUERY_TIMEOUT")
    assert(e.toJson("details").asInstanceOf[Map[String, Any]]("timeoutMs") == 1L)
  }

  test("a timed-out query cancels only its own jobs; a concurrent query completes") {
    // the events scan signals once a task is running, then sleeps per row
    // (nondeterministic, so the optimizer neither folds it on the driver
    // nor pushes it below the repartition)
    val slow = udf { (_: String) =>
      SlowScan.started.countDown(); Thread.sleep(300); true
    }.asNondeterministic()
    val base = ContractFixture.registry(spark)
    val registry = base.copy(
      loaders = base.loaders.updated(("ch-analytics", "events"),
        () => ContractFixture.eventsDf(spark).repartition(1).filter(slow(col("id")))),
      executorTimeoutMs = Map("pg-main" -> 1L)) // ch-analytics keeps the default
    val db = MultiDb(spark, ContractFixture.config(), ContractFixture.roles, registry)
    val other = Future(db.query(QueryDefinition("events", columns = Some(Seq("id")),
      orderBy = Seq(QueryOrderBy("id", "asc")))))
    assert(SlowScan.started.await(60, TimeUnit.SECONDS), "events scan never started")
    val e = intercept[ExecutionError](db.query(QueryDefinition("orders",
      columns = Some(Seq("id")))))
    assert(e.code == "QUERY_TIMEOUT")
    val r = Await.result(other, 60.seconds).asInstanceOf[DataResult]
    assert(r.data.map(_("id")) == Seq("uuid-e1", "uuid-e2", "uuid-e3"))
  }

  test("a reload fired mid-query leaves the query on its entry snapshot") {
    // second load renames users.email: a query that re-read the live config
    // after the reload would fail validation
    val cfg1 = ContractFixture.config()
    val cfg2 = cfg1.copy(tables = cfg1.tables.map(t =>
      if (t.id != "users") t
      else t.copy(columns = t.columns.map(c =>
        if (c.apiName == "email") c.copy(apiName = "mail") else c))))
    val loads = new AtomicInteger()
    val provider = new MetadataProvider {
      def load(): MetadataConfig = if (loads.incrementAndGet() == 1) cfg1 else cfg2
    }
    val roles = new RoleProvider { def load(): Seq[RoleMeta] = ContractFixture.roles }
    val base = ContractFixture.registry(spark)
    // the cache holds uuid-c1 only, so uuid-c2 takes the partial-hit refetch
    val full = base.cacheProviders("redis-main")
    val partial = new CacheProvider {
      def getMany(keys: Seq[String]): Map[String, Map[String, Any]] =
        full.getMany(keys).filter(_._1 == "users:uuid-c1")
    }
    var db: MultiDb = null
    val fired = new AtomicBoolean(false)
    val usersLoad = base.loaders(("pg-main", "users"))
    val registry = base.copy(
      loaders = base.loaders.updated(("pg-main", "users"), () => {
        if (fired.compareAndSet(false, true)) db.reloadMetadata()
        usersLoad()
      }),
      cacheProviders = Map("redis-main" -> partial))
    db = new MultiDb(spark, provider, roles, registry)
    val q = QueryDefinition("users", columns = Some(Seq("id", "email")),
      byIds = Some(Seq("uuid-c1", "uuid-c2")))
    val r = db.query(q)
    assert(fired.get && loads.get == 2)
    assert(r.meta.strategy == "cache")
    assert(r.asInstanceOf[DataResult].data.map(_("email")) ==
      Seq("alice@example.com", "bob@example.com"))
    // the reload did land: the next query sees the second snapshot
    intercept[ValidationError](db.query(q))
  }

  test("error toJson carries code/message/errors for transports") {
    val db = ContractFixture.multiDb(spark)
    val e = intercept[ValidationError](db.query(QueryDefinition("orders",
      columns = Some(Seq("ghost1", "ghost2")))))
    val j = e.toJson
    assert(j("code") == "VALIDATION_FAILED")
    assert(j("fromTable") == "orders")
    assert(j("errors").asInstanceOf[Seq[_]].size == 2)
  }

  test("timing fields present per mode (C003/C407)") {
    val db = ContractFixture.multiDb(spark)
    val d = db.query(QueryDefinition("orders", columns = Some(Seq("id"))))
    assert(d.meta.timing.planningMs >= 0 && d.meta.timing.executionMs.exists(_ >= 0))
    val s = db.query(QueryDefinition("orders", columns = Some(Seq("id")),
      executeMode = "sql-only"))
    assert(s.meta.timing.executionMs.isEmpty)
  }

  test("debug log present only when requested; phases + fields per C030-C034") {
    val db = ContractFixture.multiDb(spark)
    assert(db.query(QueryDefinition("orders", columns = Some(Seq("id"))))
      .debugLog.isEmpty)
    val withLog = db.query(QueryDefinition("orders", columns = Some(Seq("id")),
      debug = true)).debugLog
    assert(withLog.exists(_.nonEmpty)) // C030
    withLog.get.foreach { e =>        // C031
      assert(e.timestamp > 0 && e.phase.nonEmpty && e.message.nonEmpty)
    }
    val phases = withLog.get.map(_.phase).toSet // C032
    assert(Set("validation", "access-control", "planning", "name-resolution",
      "sql-generation", "execution").subsetOf(phases), s"phases = $phases")
    // C033/C034: debug rides along in sql-only and count modes
    val sqlLog = db.query(QueryDefinition("orders", executeMode = "sql-only",
      debug = true))
    assert(sqlLog.isInstanceOf[SqlResult] && sqlLog.debugLog.exists(_.nonEmpty))
    val cntLog = db.query(QueryDefinition("orders", executeMode = "count",
      debug = true))
    assert(cntLog.isInstanceOf[CountResult] && cntLog.debugLog.exists(_.nonEmpty))
  }
}

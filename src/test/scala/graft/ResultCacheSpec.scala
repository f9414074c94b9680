package graft

import java.io.File
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{MetadataProvider, MultiDb, ResultCache, RoleProvider}
import graft.meta._
import graft.planner.{CacheProvider, SourceRegistry}
import graft.sources.{SourceLoaders, TpchCatalog}
import graft.types._
import TestSpark.{jobsDuring, writeParquet}

/** `MultiDb.query`'s result cache: a repeated query over parquet is served
  * without a Spark job while its files are unchanged, and nothing is served
  * stale: rewritten or deleted files, reloads, roles, non-file sources, P0
  * provider rows, debug queries and oversized results all re-run.
  */
class ResultCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import TestSpark.session.implicits._

  /** A fresh parquet file holding `rows` as (id, v). */
  private def items(rows: Seq[(Int, Int)]): File = {
    val file = TempDirs.create("graft-test-rc").resolve("items.parquet").toFile
    writeParquet(rows.toDF("id", "v"), file)
    file
  }

  private val admin = RoleMeta("admin", None)
  private val analyst = RoleMeta("analyst", Some(Seq(
    TableRoleAccess("items", None, maskedColumns = Seq("v")))))
  private val asAdmin = ExecutionContext(userRoles = Some(Seq("admin")))
  private val asAnalyst = ExecutionContext(userRoles = Some(Seq("analyst")))

  private def config(caches: Seq[CacheMeta] = Nil) = MetadataConfig(
    databases = Seq(DatabaseMeta("pq", "parquet")),
    tables = Seq(TableMeta("items", "items", "pq", "items",
      Seq(ColumnMeta("id", "id", "int"), ColumnMeta("v", "v", "int", maskingFn = Some("number"))),
      primaryKey = Seq("id"))),
    caches = caches)

  private def registry(file: File) =
    SourceRegistry(Map(("pq", "items") -> (() => SourceLoaders.parquet(spark, file.getPath))))

  /** A one-table engine over `file`, loaded through `SourceLoaders.parquet`. */
  private def engine(file: File): MultiDb =
    MultiDb(spark, config(), Seq(admin, analyst), registry(file))

  private val byId = QueryDefinition("items", columns = Some(Seq("id", "v")),
    orderBy = Seq(QueryOrderBy("id", "asc")))

  private def rows(r: QueryResult): Seq[(Any, Any)] =
    r.asInstanceOf[DataResult].data.map(m => m("id") -> m("v"))

  test("a repeated parquet query returns equal data and runs no Spark job the second time") {
    val db = engine(items(Seq((1, 10), (2, 20))))
    val first = db.query(byId)
    var second: QueryResult = null
    assert(jobsDuring { second = db.query(byId) } == 0)
    assert(rows(first) == Seq(1 -> 10, 2 -> 20) && rows(second) == rows(first))
    // the stored strategy, tables and columns; this call's timing
    assert(second.meta.copy(timing = first.meta.timing) == first.meta)
    val count = QueryDefinition("items", executeMode = "count")
    assert(db.query(count).asInstanceOf[CountResult].count == 2)
    var counted = -1L
    assert(jobsDuring { counted = db.query(count).asInstanceOf[CountResult].count } == 0)
    assert(counted == 2)
    val stats = db.resultCacheStats
    assert(stats.hits == 2 && stats.misses == 2 && stats.entries == 2 && stats.stale == 0)
  }

  test("a rewritten file returns its new rows; a deleted one fails as QUERY_FAILED") {
    val file = items(Seq((1, 10)))
    val db = engine(file)
    assert(rows(db.query(byId)) == Seq(1 -> 10))
    writeParquet(Seq((1, 11), (2, 21)).toDF("id", "v"), file)
    assert(rows(db.query(byId)) == Seq(1 -> 11, 2 -> 21))
    assert(db.resultCacheStats.stale == 1)
    assert(rows(db.query(byId)) == Seq(1 -> 11, 2 -> 21))
    assert(db.resultCacheStats.hits == 1)
    assert(file.delete())
    assert(intercept[ExecutionError](db.query(byId)).code == "QUERY_FAILED")
    assert(db.resultCacheStats.stale == 2 && db.resultCacheStats.entries == 0)
  }

  test("an equal reload keeps cached results; a reload that masks a column re-runs") {
    val viewer = RoleMeta("viewer", Some(Seq(TableRoleAccess("items", None))))
    @volatile var roles = Seq(admin, viewer)
    val db = new MultiDb(spark,
      new MetadataProvider { def load(): MetadataConfig = config() },
      new RoleProvider { def load(): Seq[RoleMeta] = roles },
      registry(items(Seq((1, 10), (2, 20)))))
    val asViewer = ExecutionContext(userRoles = Some(Seq("viewer")))
    assert(rows(db.query(byId, asViewer)) == Seq(1 -> 10, 2 -> 20))
    db.reloadMetadata()
    db.reloadRoles()
    var again: QueryResult = null
    assert(jobsDuring { again = db.query(byId, asViewer) } == 0)
    assert(rows(again) == Seq(1 -> 10, 2 -> 20) && db.resultCacheStats.hits == 1)
    roles = Seq(admin, viewer.copy(tables = Some(Seq(
      TableRoleAccess("items", None, maskedColumns = Seq("v"))))))
    db.reloadRoles()
    assert(db.resultCacheStats.entries == 0)
    assert(rows(db.query(byId, asViewer)) == Seq(1 -> 0, 2 -> 0))
  }

  test("admin and analyst get separate entries") {
    val db = engine(items(Seq((1, 10), (2, 20))))
    for (_ <- 1 to 2) {
      assert(rows(db.query(byId, asAdmin)) == Seq(1 -> 10, 2 -> 20))
      assert(rows(db.query(byId, asAnalyst)) == Seq(1 -> 0, 2 -> 0))
    }
    val stats = db.resultCacheStats
    assert(stats.entries == 2 && stats.hits == 2)
  }

  test("a literal of another type is another key") {
    // Scala's == equates 1L and 1.0; validation rejects a double for an int
    val db = engine(items(Seq((1, 10), (2, 20))))
    val eq = (v: Any) => byId.copy(filters = Seq(QueryFilter("id", "=", Some(v))))
    assert(rows(db.query(eq(1L))) == Seq(1 -> 10))
    intercept[ValidationError](db.query(eq(1.0)))
    assert(db.resultCacheStats.hits == 0)
  }

  test("in-memory, DSv2 and JDBC sources are never cached and run jobs every time") {
    val contract = ContractFixture.multiDb(spark)
    val orders = QueryDefinition("orders", columns = Some(Seq("id")),
      orderBy = Seq(QueryOrderBy("id", "asc")))
    // a catalog over a directory holding only the nation table the Derby
    // fixture copies; the DSv2 items table needs no files
    val sfDir = TempDirs.create("graft-test-rc-sf")
    writeParquet(Seq((0, "ALGERIA", 0), (1, "ARGENTINA", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey"), sfDir.resolve("nation.parquet").toFile)
    val tpch = MultiDb(spark, TpchCatalog.config, TpchCatalog.roles,
      TpchCatalog.registry(spark, sfDir.toString))
    val cases = Seq(
      contract -> orders,
      tpch -> QueryDefinition("items", columns = Some(Seq("id")),
        orderBy = Seq(QueryOrderBy("id", "asc"))),
      tpch -> QueryDefinition("nationDim", columns = Some(Seq("nationkey", "name")),
        orderBy = Seq(QueryOrderBy("nationkey", "asc"))))
    cases.foreach { case (db, q) =>
      val first = db.query(q).asInstanceOf[DataResult].data
      assert(first.nonEmpty)
      var again: Seq[Map[String, Any]] = Nil
      assert(jobsDuring { again = db.query(q).asInstanceOf[DataResult].data } >= 1, q.from)
      assert(again == first)
    }
    Seq(contract, tpch).foreach { db =>
      val stats = db.resultCacheStats
      assert(stats.hits == 0 && stats.entries == 0 && stats.skipped >= 2)
    }
  }

  test("a P0 partial hit reflects a changed provider answer; its database part is cached") {
    @volatile var cached = Map[String, Map[String, Any]]("items:1" -> Map("id" -> 1, "v" -> 111))
    val provider = new CacheProvider {
      def getMany(keys: Seq[String]): Map[String, Map[String, Any]] =
        keys.flatMap(k => cached.get(k).map(k -> _)).toMap
    }
    val file = items(Seq((1, 10), (2, 20)))
    val db = MultiDb(spark,
      config(Seq(CacheMeta("kv", tables = Seq(CachedTableMeta("items", "items:{id}"))))),
      Seq(admin), registry(file).copy(cacheProviders = Map("kv" -> provider)))
    val q = QueryDefinition("items", columns = Some(Seq("id", "v")), byIds = Some(Seq(1, 2)))
    def sorted(r: QueryResult) = rows(r).sortBy(_._1.asInstanceOf[Int])
    assert(sorted(db.query(q)) == Seq(1 -> 111, 2 -> 20))
    cached = Map("items:2" -> Map("id" -> 2, "v" -> 222))
    assert(sorted(db.query(q)) == Seq(1 -> 10, 2 -> 222))
    cached = Map("items:1" -> Map("id" -> 1, "v" -> 111))
    var r: QueryResult = null
    assert(jobsDuring { r = db.query(q) } == 0) // id 2 comes from the cached refetch
    assert(sorted(r) == Seq(1 -> 111, 2 -> 20) && r.meta.strategy == "cache")
    assert(db.resultCacheStats.hits == 1)
  }

  test("debug queries and results over the size bound are not stored") {
    val db = engine(items(Seq((1, 10))))
    val debug = byId.copy(debug = true)
    db.query(debug)
    assert(jobsDuring(db.query(debug)) >= 1)
    assert(db.resultCacheStats.entries == 0)
    val n = (ResultCache.MaxEntryCells / 2 + 1).toInt // two columns per row
    val big = engine(items((1 to n).map(i => (i, i))))
    val all = QueryDefinition("items", columns = Some(Seq("id", "v")))
    assert(big.query(all).asInstanceOf[DataResult].data.size == n)
    var again = 0
    assert(jobsDuring { again = big.query(all).asInstanceOf[DataResult].data.size } >= 1)
    assert(again == n)
    val stats = big.resultCacheStats
    assert(stats.entries == 0 && stats.skipped == 2 && stats.hits == 0)
  }

  test("8 concurrent callers of one key all get the correct rows") {
    val expected = (1 to 50).map(i => i -> i * 10)
    val db = engine(items(expected))
    val pool = Executors.newFixedThreadPool(8)
    try {
      for (_ <- 1 to 2) { // cold, then from the cache
        val start = new CountDownLatch(1)
        val calls = (1 to 8).map(_ => pool.submit(new Callable[Seq[(Any, Any)]] {
          def call(): Seq[(Any, Any)] = { start.await(); rows(db.query(byId)) }
        }))
        start.countDown()
        calls.foreach(c => assert(c.get(120, TimeUnit.SECONDS) == expected))
      }
    } finally pool.shutdownNow()
    assert(db.resultCacheStats.hits >= 8)
  }

  test("close drops cached results and a closed engine fails with EXECUTOR_MISSING") {
    val db = engine(items(Seq((1, 10))))
    db.query(byId)
    db.query(byId)
    assert(db.resultCacheStats.hits == 1)
    db.close()
    assert(db.resultCacheStats.entries == 0)
    assert(intercept[ExecutionError](db.query(byId)).code == "EXECUTOR_MISSING")
  }

  test("reloads run one at a time") {
    val inLoad = new AtomicInteger()
    val overlapped = new AtomicBoolean(false)
    val entered = new CountDownLatch(2)
    @volatile var blocking = false
    val provider = new MetadataProvider {
      def load(): MetadataConfig = {
        if (inLoad.incrementAndGet() > 1) overlapped.set(true)
        if (blocking) {
          // wait for the other reload to enter too; serialized, it cannot
          entered.countDown()
          entered.await(2, TimeUnit.SECONDS)
        }
        inLoad.decrementAndGet()
        config()
      }
    }
    val db = new MultiDb(spark, provider,
      new RoleProvider { def load(): Seq[RoleMeta] = Seq(admin) }, registry(items(Seq((1, 10)))))
    blocking = true
    val reloads = Seq.fill(2)(new Thread(() => db.reloadMetadata()))
    reloads.foreach(_.start())
    reloads.foreach(_.join(30000))
    assert(entered.getCount == 0 && !overlapped.get)
  }
}

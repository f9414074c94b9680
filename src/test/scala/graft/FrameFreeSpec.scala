package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.MultiDb
import graft.planner.{CacheProvider, SourceRegistry}
import graft.sources.SourceLoaders
import graft.types._
import TestSpark.{jobsDuring, writeParquet}

/** A request builds a DataFrame only if it runs one: sql-only and P0 cache
  * hits load no table and run no Spark job, and answer as before, while a
  * failing loader is still a QUERY_FAILED wherever a frame is built.
  */
class FrameFreeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** Counts every loader call of the engines below. */
  private val loads = new AtomicInteger()

  private def counted(l: () => DataFrame): () => DataFrame =
    () => { loads.incrementAndGet(); l() }

  /** The fixture's users, from parquet: a P0 refetch over a file relation
    * can be held by the result cache.
    */
  private lazy val usersFile: File = {
    val f = TempDirs.create("graft-test-frame-free").resolve("users.parquet").toFile
    writeParquet(ContractFixture.usersDf(spark), f)
    f
  }

  /** The fixture engine with counted loaders; its cache provider holds only
    * the users in `cachedIds`.
    */
  private def engine(cachedIds: Set[String] = Set("uuid-c1", "uuid-c2", "uuid-c3"),
      base: SourceRegistry = ContractFixture.registry(spark)): MultiDb = {
    val all = new ContractFixture.UsersCache(spark)
    all.getMany(Seq("users:uuid-c1")) // its rows are collected once, here
    val provider = new CacheProvider {
      def getMany(keys: Seq[String]): Map[String, Map[String, Any]] =
        all.getMany(keys.filter(k => cachedIds.contains(k.stripPrefix("users:"))))
    }
    val users = () => SourceLoaders.parquet(spark, usersFile.getPath)
    MultiDb(spark, ContractFixture.config(), ContractFixture.roles, base.copy(
      loaders = base.loaders.updated(("pg-main", "users"), users)
        .map { case (k, l) => k -> counted(l) },
      replicaLoaders = base.replicaLoaders.map { case (k, l) => k -> counted(l) },
      cacheProviders = Map("redis-main" -> provider)))
  }

  /** `body`'s value, the loader calls and the Spark jobs it took. */
  private def measured[T](body: => T): (T, Int, Int) = {
    val before = loads.get()
    var out: Option[T] = None
    val jobs = jobsDuring { out = Some(body) }
    (out.get, loads.get() - before, jobs)
  }

  private def rows(r: QueryResult): Seq[Map[String, Any]] = r.asInstanceOf[DataResult].data

  test("sql-only loads no table and runs no job; text, params and columns are unchanged") {
    val db = engine()
    val q = QueryDefinition("orders",
      columns = Some(Seq("id", "total")),
      joins = Seq(QueryJoin("users", columns = Some(Seq("firstName")),
        filters = Seq(QueryFilter("role", "=", Some("admin"))))),
      filters = Seq(
        QueryFilter("status", "in", Some(Seq("active", "paid"))),
        QueryExistsFilter("invoices", count = Some(CountCond(">=", 1)))),
      orderBy = Seq(QueryOrderBy("total", "desc")),
      limit = Some(10), offset = Some(5),
      executeMode = "sql-only")
    val (r, nLoads, jobs) = measured(db.query(q).asInstanceOf[SqlResult])
    assert(nLoads == 0 && jobs == 0, s"$nLoads loads, $jobs jobs")
    assert(r.sql ==
      """SELECT t0."id" AS "t0__id", t0."total_amount" AS "t0__total", t1."first_name" AS "t1__firstName"
        |FROM "orders" AS t0
        |LEFT JOIN "users" AS t1 ON t1."id" = t0."customer_id"
        |WHERE t0."order_status" IN (?) AND (SELECT COUNT(*) FROM "invoices" AS s0 WHERE s0."order_id" = t0."id") >= ? AND t1."role" = ?
        |ORDER BY t0."total_amount" DESC
        |LIMIT 10
        |OFFSET 5""".stripMargin)
    assert(r.params == Seq(Seq("active", "paid"), 1L, "admin"))
    assert(r.meta.strategy == "direct")
    assert(r.meta.columns.map(c => (c.apiName, c.columnType, c.fromTable)) ==
      Seq(("id", "int", "orders"), ("total", "decimal", "orders"), ("firstName", "string", "users")))
  }

  test("a P0 full hit loads no table and runs no job; it answers as the database does") {
    val db = engine()
    val q = QueryDefinition("users", columns = Some(Seq("id", "email")),
      byIds = Some(Seq("uuid-c1", "uuid-c2")))
    val (r, nLoads, jobs) = measured(db.query(q))
    assert(nLoads == 0 && jobs == 0, s"$nLoads loads, $jobs jobs")
    assert(r.meta.strategy == "cache")
    // a filter keeps the same ids off the P0 path
    val direct = db.query(q.copy(filters = Seq(QueryFilter("role", "in", Some(Seq("admin", "viewer")))),
      orderBy = Seq(QueryOrderBy("id"))))
    assert(direct.meta.strategy == "direct")
    assert(rows(r) == rows(direct) && rows(r).map(_("id")) == Seq("uuid-c1", "uuid-c2"))
  }

  test("a P0 partial hit loads only its refetch, and nothing once the refetch is cached") {
    val db = engine(cachedIds = Set("uuid-c1"))
    val q = QueryDefinition("users", columns = Some(Seq("id", "firstName")),
      byIds = Some(Seq("uuid-c1", "uuid-c3")))
    val expected = Seq(Map("id" -> "uuid-c1", "firstName" -> "Alice"),
      Map("id" -> "uuid-c3", "firstName" -> "Carol"))
    val (first, firstLoads, firstJobs) = measured(db.query(q))
    assert(firstLoads == 1 && firstJobs >= 1, s"$firstLoads loads, $firstJobs jobs")
    val (second, nLoads, jobs) = measured(db.query(q))
    assert(nLoads == 0 && jobs == 0, s"$nLoads loads, $jobs jobs")
    assert(rows(first) == expected && rows(second) == expected)
    assert(second.meta.strategy == "cache" && db.resultCacheStats.hits == 1)
  }

  test("a broken loader fails execute, count and frame() as QUERY_FAILED; sql-only never calls it") {
    val base = ContractFixture.registry(spark)
    val db = engine(base = base.copy(loaders = base.loaders.updated(("pg-main", "orders"),
      () => spark.read.parquet("/nonexistent/path/orders.parquet"))))
    val q = QueryDefinition("orders", columns = Some(Seq("id")))
    def failed(body: => Any): String = intercept[ExecutionError](body).code
    assert(failed(db.query(q)) == "QUERY_FAILED")
    assert(failed(db.query(q.copy(executeMode = "count"))) == "QUERY_FAILED")
    assert(failed(db.frame(q)) == "QUERY_FAILED")
    val (r, nLoads, _) = measured(db.query(q.copy(executeMode = "sql-only")))
    assert(nLoads == 0 && r.isInstanceOf[SqlResult])
  }
}

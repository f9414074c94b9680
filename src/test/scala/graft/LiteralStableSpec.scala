package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.access.Masking
import graft.api.MultiDb
import graft.meta.{CacheMeta, CachedTableMeta}
import graft.planner.CacheProvider
import graft.sources.TpchCatalog
import graft.types._
import TestSpark.{jobsDuring, writeParquet}

/** `MultiDb.query` runs its frames literal-stable: a query that differs from
  * an earlier one only in its parameter values compiles no new class, and
  * returns the rows its plain `frame()` returns. The four templates are the
  * engine-API shapes that reach Spark: a filtered top-k, a count, a masked
  * join and the database refetch of a P0 partial cache hit.
  */
class LiteralStableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** TPC-H-shaped `orders` (3,000 rows) and `customer` (200 rows) parquet
    * files, with the column types of the benchmark tables.
    */
  private lazy val dir: String = {
    val d = TempDirs.create("graft-test-literal-stable").toFile
    writeParquet(spark.range(1, 3001).selectExpr(
      "id AS o_orderkey", "id % 200 + 1 AS o_custkey",
      "element_at(array('F', 'O', 'P'), CAST(id % 3 + 1 AS INT)) AS o_orderstatus",
      "CAST(id * 37 % 1000 AS DOUBLE) + 0.25 * (id % 4) AS o_totalprice",
      "CAST(date_add(DATE'1995-01-01', CAST(id % 700 AS INT)) AS TIMESTAMP) AS o_orderdate",
      "concat(CAST(id % 5 + 1 AS STRING), '-PRIO') AS o_orderpriority"),
      new File(d, "orders.parquet"))
    writeParquet(customers, new File(d, "customer.parquet"))
    d.getPath
  }

  private def customers: DataFrame = spark.range(1, 201).selectExpr(
    "id AS c_custkey", "concat('Customer#', id) AS c_name", "CAST(id % 25 AS INT) AS c_nationkey",
    "CAST(id * 13 % 900 AS DOUBLE) + 0.5 AS c_acctbal",
    "element_at(array('AUTO', 'BUILD', 'MACH'), CAST(id % 3 + 1 AS INT)) AS c_mktsegment")

  /** Customers 1 to 100 are in the P0 cache provider. */
  private lazy val db: MultiDb = {
    val cached = customers.where("c_custkey <= 100").collect().map { r =>
      s"customer:${r.getLong(0)}" -> Map[String, Any]("custkey" -> r.getLong(0),
        "name" -> r.getString(1), "nationkey" -> r.getInt(2), "acctbal" -> r.getDouble(3),
        "mktsegment" -> r.getString(4))
    }.toMap
    val provider = new CacheProvider {
      def getMany(keys: Seq[String]): Map[String, Map[String, Any]] =
        keys.flatMap(k => cached.get(k).map(k -> _)).toMap
    }
    MultiDb(spark,
      TpchCatalog.config.copy(caches = Seq(CacheMeta("p0",
        tables = Seq(CachedTableMeta("customer", "customer:{id}"))))),
      TpchCatalog.roles,
      TpchCatalog.registry(spark, dir).copy(cacheProviders = Map("p0" -> provider)))
  }

  private val analyst = ExecutionContext(userRoles = Some(Seq("analyst")))

  private def topk(status: String, price: Double) = QueryDefinition("orders",
    columns = Some(Seq("orderkey", "custkey", "totalprice", "orderdate")),
    filters = Seq(QueryFilter("orderstatus", "=", Some(status)),
      QueryFilter("totalprice", ">", Some(price))),
    orderBy = Seq(QueryOrderBy("totalprice", "desc"), QueryOrderBy("orderkey")),
    limit = Some(10))

  private def count(from: String, to: String, priority: String) = QueryDefinition("orders",
    executeMode = "count",
    filters = Seq(QueryFilter("orderdate", "between", Some((from, to))),
      QueryFilter("orderpriority", "=", Some(priority))))

  private def masked(firstKey: Long) = QueryDefinition("orders",
    columns = Some(Seq("orderkey", "totalprice")),
    joins = Seq(QueryJoin("customer", columns = Some(Seq("name")))),
    filters = Seq(QueryFilter("orderkey", ">=", Some(firstKey))),
    orderBy = Seq(QueryOrderBy("orderkey")), limit = Some(20))

  /** Two cached ids and two the database must serve. */
  private def byIds(missed: Long*) = QueryDefinition("customer",
    columns = Some(Seq("custkey", "name", "acctbal", "mktsegment")),
    byIds = Some(Seq[Long](3, 7) ++ missed))

  /** Classes Spark compiled while `body` ran (JVM-wide counter). */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** `db.query` bypassing the result cache, with the classes it compiled and
    * the Spark jobs it ran.
    */
  private def measured(q: QueryDefinition, ctx: ExecutionContext): (QueryResult, Long, Int) = {
    var out: QueryResult = null
    var n = 0L
    val jobs = jobsDuring { n = compiles { out = db.query(q.copy(debug = true), ctx) } }
    (out, n, jobs)
  }

  /** The rows `frame(q)` returns, masked as `query` masks them, each cell
    * rendered as text (so NaN and -0.0 compare as themselves).
    */
  private def frameRows(q: QueryDefinition, ctx: ExecutionContext): Seq[Seq[String]] = {
    val df = db.frame(q, ctx)
    val fns = if (ctx == analyst) Map("totalprice" -> "number", "name" -> "name") else Map.empty[String, String]
    df.collect().toSeq.map(r => df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      val raw = r.get(i)
      String.valueOf(fns.get(c).map(Masking(_, raw)).getOrElse(raw))
    })
  }

  private def queryRows(r: QueryResult, columns: Seq[String]): Seq[Seq[String]] = r match {
    case d: DataResult => d.data.map(row => columns.map(c => String.valueOf(row(c))))
    case c: CountResult => Seq(Seq(c.count.toString))
    case other => fail(s"unexpected result $other")
  }

  private val templates: Seq[(String, ExecutionContext, QueryDefinition, QueryDefinition)] = Seq(
    ("topk", ExecutionContext(), topk("F", 400.5), topk("O", 610.25)),
    ("count", ExecutionContext(), count("1995-02-01", "1995-04-30", "2-PRIO"),
      count("1995-06-11", "1995-07-19", "4-PRIO")),
    ("masked", analyst, masked(120), masked(2213)),
    ("byIds refetch", ExecutionContext(), byIds(150, 161), byIds(171, 188)))

  for ((name, ctx, first, second) <- templates) {
    test(s"$name: a second parameter value compiles no class and returns the frame() rows") {
      measured(first, ctx) // compiles the template's classes
      val (result, classes, jobs) = measured(second, ctx)
      assert(jobs > 0, "the query never reached Spark")
      assert(classes == 0, s"a fresh $name value compiled $classes classes")
      val expected = second.executeMode match {
        case "count" =>
          Seq(Seq(db.frame(second.copy(executeMode = "execute"), ctx).count().toString))
        case _ => frameRows(second, ctx)
      }
      val columns = result match {
        case d: DataResult => d.meta.columns.map(_.apiName)
        case _ => Nil
      }
      val got = queryRows(result, columns)
      if (second.byIds.isDefined) assert(got.sortBy(_.head) == expected.sortBy(_.head))
      else assert(got == expected)
      assert(got.nonEmpty && (second.executeMode != "count" || got.head.head != "0"),
        s"$name selects nothing; the comparison shows nothing")
    }
  }

  test("MultiDb runs a frame only through its literal-stable helpers") {
    val file = Paths.get("src/main/scala/graft/api/MultiDb.scala")
    assert(Files.isRegularFile(file), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val lines = Files.readAllLines(file).asScala.toSeq
    val comment = Seq("*", "/*", "//")
    val hits = lines.zipWithIndex.collect {
      case (line, i) if """\.(collect|count)\(\)""".r.findFirstIn(line).isDefined &&
          !line.contains("LiteralStable(") && !comment.exists(line.trim.startsWith) =>
        s"$file:${i + 1}: ${line.trim}"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(lines.count(_.contains("LiteralStable(")) == 2)
  }
}

package graft

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.MultiDb
import graft.exec.{LiteralStable, ParamLiteral}
import graft.meta._
import graft.planner.SourceRegistry
import graft.sources.SourceLoaders
import graft.types._

/** A [[ParamLiteral]] changes only how a literal is compiled: every operator
  * on every swapped type, edge values included, returns the rows of the
  * plain plan, pushes the same parquet filters, and compares equal and
  * semantically equal to the plain literal in both directions.
  */
class ParamLiteralEquivalenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  /** One parquet file; every value column has a NULL row and its type's
    * edge values.
    */
  private lazy val file: File = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("i", IntegerType), StructField("l", LongType), StructField("d", DoubleType),
      StructField("dt", DateType), StructField("ts", TimestampType), StructField("b", BooleanType)))
    val rows = Seq(
      Row(1, Int.MinValue, Long.MinValue, Double.NaN, Date.valueOf("1970-01-01"),
        ts("1970-01-01T00:00:00Z"), true),
      Row(2, -1, -1L, Double.NegativeInfinity, Date.valueOf("1969-12-31"),
        ts("1969-12-31T23:59:59.999999Z"), false),
      Row(3, 0, 0L, -0.0, Date.valueOf("2024-02-29"), ts("2024-02-29T12:00:00Z"), true),
      Row(4, 0, 5L, 0.0, Date.valueOf("2024-03-01"), ts("2024-02-29T12:00:00.000001Z"), false),
      Row(5, 7, Long.MaxValue - 1, 1.5, Date.valueOf("9999-12-31"), ts("2038-01-19T03:14:08Z"), true),
      Row(6, Int.MaxValue, Long.MaxValue, Double.PositiveInfinity, Date.valueOf("0001-01-01"),
        ts("0001-01-01T00:00:00Z"), false),
      Row(7, null, null, null, null, null, null),
      Row(8, 7, 5L, -2.5, Date.valueOf("2024-02-29"), ts("2024-02-29T12:00:00Z"), true))
    val f = TempDirs.create("graft-test-param-literal").resolve("vals.parquet").toFile
    TestSpark.writeParquet(spark.createDataFrame(spark.sparkContext.parallelize(rows), schema), f)
    f
  }

  /** Declared type of each column: `l` is a 64-bit column and `d` a double
    * column behind the reference's `int` and `decimal` types.
    */
  private val columns = Seq("i" -> "int", "l" -> "int", "d" -> "decimal", "dt" -> "date",
    "ts" -> "timestamp", "b" -> "boolean")

  private lazy val db: MultiDb = MultiDb(spark,
    MetadataConfig(Seq(DatabaseMeta("pq", "parquet")), Seq(TableMeta("vals", "vals", "pq", "vals",
      ColumnMeta("id", "id", "int", nullable = false) +:
        columns.map { case (c, t) => ColumnMeta(c, c, t, nullable = true) },
      primaryKey = Seq("id")))),
    Seq(RoleMeta("admin", None)),
    SourceRegistry(Map(("pq", "vals") -> (() => SourceLoaders.parquet(spark, file.getPath)))))

  private val MaxTs = "2038-01-19T03:14:08Z"

  /** Values per column: the scalars `=`…`<=` take, the pairs `between` and
    * `notBetween` take, and the list `in`/`notIn` take (None: the validator
    * rejects the operator for the type).
    */
  private val values: Map[String, (Seq[Any], Seq[(Any, Any)], Option[Seq[Any]])] = Map(
    "i" -> (Seq(Int.MinValue, 0, 7, Int.MaxValue),
      Seq((Int.MinValue, 0), (0, Int.MaxValue)), Some(Seq(Int.MinValue, 7, Int.MaxValue))),
    "l" -> (Seq(Long.MinValue, 5L, Long.MaxValue - 1, Long.MaxValue),
      Seq((Long.MinValue, 5L), (5L, Long.MaxValue)), Some(Seq(Long.MaxValue, 5L))),
    "d" -> (Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0, 1.5),
      Seq((Double.NegativeInfinity, -0.0), (0.0, Double.NaN)),
      Some(Seq(Double.NaN, -0.0, Double.PositiveInfinity))),
    "dt" -> (Seq("1970-01-01", "2024-02-29", "9999-12-31"),
      Seq(("1969-12-31", "2024-02-29"), ("0001-01-01", "1970-01-01")), None),
    "ts" -> (Seq("1970-01-01T00:00:00Z", "2024-02-29T12:00:00Z", MaxTs),
      Seq(("1969-12-31T23:59:59.999999Z", "2024-02-29T12:00:00Z"), ("2024-02-29T12:00:00.000001Z", MaxTs)),
      None),
    "b" -> (Seq(true, false), Nil, None))

  private val orderable = Set("=", "!=", ">", "<", ">=", "<=")

  private val cases: Seq[QueryFilter] = columns.flatMap { case (c, t) =>
    val (scalars, pairs, list) = values(c)
    val ops = if (t == "boolean") Seq("=", "!=") else orderable.toSeq.sorted
    ops.flatMap(op => scalars.map(v => QueryFilter(c, op, Some(v)))) ++
      Seq("between", "notBetween").flatMap(op => pairs.map(p => QueryFilter(c, op, Some(p)))) ++
      list.toSeq.flatMap(vs => Seq("in", "notIn").map(op => QueryFilter(c, op, Some(vs))))
  }

  private def query(f: QueryFilter) = QueryDefinition("vals",
    columns = Some("id" +: columns.map(_._1)), filters = Seq(f), orderBy = Seq(QueryOrderBy("id")))

  /** Each cell as text, so NaN and -0.0 compare as themselves. */
  private def text(v: Any): String = v match {
    case d: Double => java.lang.Double.toString(d)
    case other => String.valueOf(other)
  }

  private def hasParam(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.isInstanceOf[ParamLiteral])))

  private def swappable(p: LogicalPlan): Boolean = p.exists(_.expressions.exists(_.exists {
    case l: Literal => l.value != null && !l.dataType.isInstanceOf[StringType] &&
      !l.dataType.isInstanceOf[DecimalType]
    case _ => false
  }))

  private def pushed(df: DataFrame): Seq[String] = df.queryExecution.sparkPlan.collect {
    case s: FileSourceScanExec => s.metadata("PushedFilters")
  }

  test("every operator, type and edge value: MultiDb rows equal frame() rows") {
    assert(cases.size > 100, s"${cases.size} cases")
    val mismatches = cases.flatMap { f =>
      val q = query(f)
      val got = db.query(q.copy(debug = true)).asInstanceOf[DataResult].data
        .map(row => q.columns.get.map(c => text(row(c))))
      val df = db.frame(q)
      val want = df.collect().toSeq.map(r => r.toSeq.map(text))
      if (got == want) None else Some(s"$f: MultiDb $got, frame() $want")
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
  }

  test("the literal-stable plan swaps its literals and pushes the same parquet filters") {
    val problems = cases.flatMap { f =>
      val plain = db.frame(query(f))
      val stable = LiteralStable(plain)
      val swapped = !swappable(plain.queryExecution.optimizedPlan) ||
        hasParam(stable.queryExecution.optimizedPlan)
      val (a, b) = (pushed(plain), pushed(stable))
      if (!swapped) Some(s"$f: no literal was swapped")
      else if (a.isEmpty || a != b) Some(s"$f: pushed $a, literal-stable $b")
      else None
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("a ParamLiteral and its plain Literal are equal and semanticEquals both ways") {
    val edge = Seq(Literal(Int.MinValue), Literal(Long.MaxValue), Literal(Double.NaN),
      Literal(-0.0), Literal(Double.NegativeInfinity), Literal(true),
      Literal(Date.valueOf("2024-02-29")), Literal(ts(MaxTs)), Literal(1.5f), Literal(3.toShort))
    for (l <- edge) {
      val p = LiteralStable.expression(l)
      assert(p.isInstanceOf[ParamLiteral], s"$l was not swapped")
      assert(p == l && l == p && p.hashCode == l.hashCode, s"$l")
      assert(p.semanticEquals(l) && l.semanticEquals(p), s"$l")
      assert(p.eval() == l.eval() || (p.eval() != p.eval() && l.eval() != l.eval()), s"$l")
      assert(p.toString == l.toString && p.sql == l.sql)
    }
  }

  test("null values, strings and decimals stay plain literals") {
    for (l <- Seq(Literal(null, IntegerType), Literal(null, DoubleType), Literal(null, DateType),
        Literal("x"), Literal(BigDecimal("1.25"))))
      assert(LiteralStable.expression(l) eq l, s"$l")
  }

  test("Spark's own rewrites keep an equal plain literal; the literal-stable rewrite does not") {
    val a = AttributeReference("a", IntegerType)()
    val plain: Expression = EqualTo(Add(a, Literal(1)), Literal(5))
    // the pitfall: transformUp sees the ParamLiteral as equal to the old node
    val viaSpark = plain.transformUp { case l: Literal => new ParamLiteral(l.value, l.dataType) }
    assert(!viaSpark.exists(_.isInstanceOf[ParamLiteral]))
    val stable = LiteralStable.expression(plain)
    assert(stable.collect { case p: ParamLiteral => p.value } == Seq(1, 5))
    assert(stable == plain && stable.semanticEquals(plain) && plain.semanticEquals(stable))
    // and once swapped, an identity rewrite keeps the parameters
    assert(stable.transformUp { case l: Literal => Literal(l.value, l.dataType) }
      .collect { case p: ParamLiteral => p }.size == 2)
    assert(LiteralStable.expression(stable) eq stable)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.types._

/** sql-only golden snapshot (reference: #20-30 SQL-generation scenarios;
  * TESTS.md #225: formatting may vary between implementations, params must
  * match — we pin our own formatting as the regression baseline).
  */
class SqlOnlySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  lazy val db: graft.api.MultiDb = ContractFixture.multiDb(spark)

  test("representative query renders stable parameterized SQL") {
    val r = db.query(QueryDefinition("orders",
      columns = Some(Seq("id", "total")),
      joins = Seq(QueryJoin("users", columns = Some(Seq("firstName")),
        filters = Seq(QueryFilter("role", "=", Some("admin"))))),
      filters = Seq(
        QueryFilter("status", "in", Some(Seq("active", "paid"))),
        QueryExistsFilter("invoices", count = Some(CountCond(">=", 1)))),
      orderBy = Seq(QueryOrderBy("total", "desc")),
      limit = Some(10), offset = Some(5),
      executeMode = "sql-only")).asInstanceOf[SqlResult]
    val expected =
      """SELECT t0."id" AS "t0__id", t0."total_amount" AS "t0__total", t1."first_name" AS "t1__firstName"
        |FROM "orders" AS t0
        |LEFT JOIN "users" AS t1 ON t1."id" = t0."customer_id"
        |WHERE t0."order_status" IN (?) AND (SELECT COUNT(*) FROM "invoices" AS s0 WHERE s0."order_id" = t0."id") >= ? AND t1."role" = ?
        |ORDER BY t0."total_amount" DESC
        |LIMIT 10
        |OFFSET 5""".stripMargin
    assert(r.sql == expected, s"\ngot:\n${r.sql}")
    assert(r.params == Seq(Seq("active", "paid"), 1L, "admin"))
  }

  test("count-mode SQL collapses to SELECT COUNT(*) keeping joins+filters") {
    val r = db.query(QueryDefinition("orders",
      columns = Some(Seq("id")),
      joins = Seq(QueryJoin("products", columns = Some(Nil))),
      filters = Seq(QueryFilter("status", "=", Some("active"))),
      limit = Some(5), orderBy = Seq(QueryOrderBy("id")),
      executeMode = "sql-only").copy(executeMode = "count"))
    // count mode executes; to see the text, re-ask in sql-only with count
    val s = db.query(QueryDefinition("orders",
      joins = Seq(QueryJoin("products", columns = Some(Nil))),
      filters = Seq(QueryFilter("status", "=", Some("active"))),
      executeMode = "count")).asInstanceOf[CountResult]
    assert(s.count == 2 && r.isInstanceOf[CountResult])
  }

  test("sql-only params bind per operator family in traversal order (#66-207)") {
    def p(d: QueryDefinition): Seq[Any] =
      db.query(d.copy(executeMode = "sql-only")).asInstanceOf[SqlResult].params
    def sf(fs: QueryFilterNode*) =
      QueryDefinition("samples", columns = Some(Seq("id")), filters = fs)
    // pattern fragment is the raw value — wildcards are added in the SQL
    // text, never in the param (SECURITY.md: values bound, not interpolated)
    assert(p(sf(QueryFilter("email", "contains", Some("al%ha")))) == Seq("al%ha"))
    assert(p(sf(QueryFilter("amount", "between", Some((100, 200))))) == Seq(100, 200))
    assert(p(sf(QueryFilter("name", "levenshteinLte", Some(("Alphb", 2))))) ==
      Seq("Alphb", 2))
    assert(p(sf(QueryFilter("tags", "arrayContainsAll", Some(Seq("fast", "new"))))) ==
      Seq(Seq("fast", "new")))
    assert(p(sf(QueryFilter("id", "in", Some(Seq(1, 2, 3))))) == Seq(Seq(1, 2, 3)))
    // nested group params surface depth-first in declaration order
    assert(p(sf(
      QueryFilterGroup("or", Seq(
        QueryFilter("status", "=", Some("active")),
        QueryFilter("amount", ">", Some(100)))),
      QueryFilter("isActive", "=", Some(true)))) == Seq("active", 100, true))
    // byIds binds the PK values ahead of filters (C507)
    assert(p(QueryDefinition("samples", columns = Some(Seq("id")),
      byIds = Some(Seq(1, 2)),
      filters = Seq(QueryFilter("status", "=", Some("active"))))) ==
      Seq(Seq(1, 2), "active"))
    // HAVING params come after WHERE params
    assert(p(QueryDefinition("samples", columns = Some(Seq("status")),
      groupBy = Seq(QueryGroupBy("status")),
      aggregations = Seq(QueryAggregation("amount", "sum", "totalAmt")),
      filters = Seq(QueryFilter("amount", ">", Some(10))),
      having = Seq(QueryFilter("totalAmt", "between", Some((100, 300)))))) ==
      Seq(10, 100, 300))
  }

  test("sql-only counted EXISTS: child-filter params precede the count value (#225)") {
    def p(d: QueryDefinition): Seq[Any] =
      db.query(d.copy(executeMode = "sql-only")).asInstanceOf[SqlResult].params
    // the generated text is '(SELECT COUNT(*) FROM ... WHERE corr AND
    // status = ?) >= ?' — the child's param must bind FIRST, the count
    // value last, for every operator including the tautological ones
    // (where the execute path skips the join but the SQL still renders it)
    for (op <- Seq(">=", ">", "=", "!=", "<", "<=")) {
      val d = QueryDefinition("samples", columns = Some(Seq("id")),
        filters = Seq(QueryExistsFilter("sampleItems",
          filters = Seq(QueryFilter("status", "=", Some("paid"))),
          count = Some(CountCond(op, 2)))))
      assert(p(d) == Seq("paid", 2L), s"op $op")
    }
    for (op <- Seq(">=", "<", "=", "!=")) { // v = 0 boundary forms
      val d = QueryDefinition("samples", columns = Some(Seq("id")),
        filters = Seq(QueryExistsFilter("sampleItems",
          filters = Seq(QueryFilter("status", "=", Some("paid"))),
          count = Some(CountCond(op, 0)))))
      assert(p(d) == Seq("paid", 0L), s"op $op v=0")
    }
  }

  test("sql-only != renders the engine's NULL-inclusive semantics") {
    val r = db.query(QueryDefinition("samples", columns = Some(Seq("id")),
      filters = Seq(QueryFilter("isActive", "!=", Some(true))),
      executeMode = "sql-only")).asInstanceOf[SqlResult]
    assert(r.sql.contains("IS DISTINCT FROM ?"), r.sql)
    assert(r.params == Seq(true))
  }

  test("sql-only WHERE fragment per operator — all 31 operators render") {
    def sqlOf(f: QueryFilterNode): String =
      db.query(QueryDefinition("samples", columns = Some(Seq("id")),
        filters = Seq(f), executeMode = "sql-only")).asInstanceOf[SqlResult].sql
    val cases: Seq[(QueryFilter, String)] = Seq(
      QueryFilter("status", "=", Some("active"))        -> """"status" = ?""",
      QueryFilter("isActive", "!=", Some(true))         -> """"is_active" IS DISTINCT FROM ?""",
      QueryFilter("amount", ">", Some(10))              -> """"amount" > ?""",
      QueryFilter("amount", "<", Some(10))              -> """"amount" < ?""",
      QueryFilter("amount", ">=", Some(10))             -> """"amount" >= ?""",
      QueryFilter("amount", "<=", Some(10))             -> """"amount" <= ?""",
      QueryFilter("id", "in", Some(Seq(1)))             -> """"id" IN (?)""",
      QueryFilter("id", "notIn", Some(Seq(1)))          -> """"id" NOT IN (?)""",
      QueryFilter("email", "like", Some("%a%"))         -> """"email" LIKE ?""",
      QueryFilter("email", "notLike", Some("%a%"))      -> """"email" NOT LIKE ?""",
      QueryFilter("email", "ilike", Some("%A%"))        -> """LOWER(t0."email") LIKE LOWER(?)""",
      QueryFilter("email", "notIlike", Some("%A%"))     -> """LOWER(t0."email") NOT LIKE LOWER(?)""",
      QueryFilter("email", "contains", Some("a"))       -> """"email" LIKE '%' || ? || '%'""",
      QueryFilter("email", "notContains", Some("a"))    -> """"email" NOT LIKE '%' || ? || '%'""",
      QueryFilter("email", "icontains", Some("A"))      -> """LOWER(t0."email") LIKE '%' || LOWER(?) || '%'""",
      QueryFilter("email", "notIcontains", Some("A"))   -> """LOWER(t0."email") NOT LIKE '%' || LOWER(?) || '%'""",
      QueryFilter("name", "startsWith", Some("A"))      -> """"name" LIKE ? || '%'""",
      QueryFilter("name", "istartsWith", Some("a"))     -> """LOWER(t0."name") LIKE LOWER(?) || '%'""",
      QueryFilter("email", "endsWith", Some("m"))       -> """"email" LIKE '%' || ?""",
      QueryFilter("email", "iendsWith", Some("M"))      -> """LOWER(t0."email") LIKE '%' || LOWER(?)""",
      QueryFilter("discount", "isNull", None)           -> """"discount" IS NULL""",
      QueryFilter("discount", "isNotNull", None)        -> """"discount" IS NOT NULL""",
      QueryFilter("amount", "between", Some((1, 2)))    -> """"amount" BETWEEN ? AND ?""",
      QueryFilter("amount", "notBetween", Some((1, 2))) -> """"amount" NOT BETWEEN ? AND ?""",
      QueryFilter("name", "levenshteinLte", Some(("Al", 1))) -> """LEVENSHTEIN(t0."name", ?) <= ?""",
      QueryFilter("scores", "arrayContains", Some(1))   -> """ARRAY_CONTAINS(t0."scores", ?)""",
      QueryFilter("tags", "arrayContainsAll", Some(Seq("a"))) -> """ARRAY_CONTAINS_ALL(t0."tags", ?)""",
      QueryFilter("tags", "arrayContainsAny", Some(Seq("a"))) -> """ARRAYS_OVERLAP(t0."tags", ?)""",
      QueryFilter("scores", "arrayIsEmpty", None)       -> """CARDINALITY(t0."scores") = 0""",
      QueryFilter("scores", "arrayIsNotEmpty", None)    -> """CARDINALITY(t0."scores") > 0""",
    )
    cases.foreach { case (f, frag) =>
      val sql = sqlOf(f)
      assert(sql.contains(frag), s"operator ${f.operator}:\n$sql\nexpected fragment: $frag")
    }
    // 31st operator: column-vs-column renders physical names on both sides
    val colcmp = db.query(QueryDefinition("samples", columns = Some(Seq("id")),
      filters = Seq(QueryColumnFilter("amount", ">", "discount")),
      executeMode = "sql-only")).asInstanceOf[SqlResult]
    assert(colcmp.sql.contains("""t0."amount" > t0."discount""""), colcmp.sql)
    assert(colcmp.params.isEmpty)
  }

  test("sql-only binds one param per placeholder, for every operator and clause") {
    def r(d: QueryDefinition): SqlResult =
      db.query(d.copy(executeMode = "sql-only")).asInstanceOf[SqlResult]
    def placeholders(sql: String): Int = sql.count(_ == '?')
    val filters: Seq[QueryFilterNode] = Seq(
      QueryFilter("status", "=", Some("active")), QueryFilter("isActive", "!=", Some(true)),
      QueryFilter("amount", ">", Some(10)), QueryFilter("amount", "<=", Some(10)),
      QueryFilter("id", "in", Some(Seq(1))), QueryFilter("id", "notIn", Some(Seq(1))),
      QueryFilter("email", "like", Some("%a%")), QueryFilter("email", "notIlike", Some("%A%")),
      QueryFilter("email", "contains", Some("a")), QueryFilter("email", "icontains", Some("A")),
      QueryFilter("email", "notIcontains", Some("A")), QueryFilter("name", "startsWith", Some("A")),
      QueryFilter("name", "istartsWith", Some("a")), QueryFilter("email", "endsWith", Some("m")),
      QueryFilter("email", "iendsWith", Some("M")), QueryFilter("discount", "isNull", None),
      QueryFilter("amount", "between", Some((1, 2))), QueryFilter("amount", "notBetween", Some((1, 2))),
      QueryFilter("name", "levenshteinLte", Some(("Al", 1))), QueryFilter("scores", "arrayContains", Some(1)),
      QueryFilter("tags", "arrayContainsAll", Some(Seq("a"))),
      QueryFilter("tags", "arrayContainsAny", Some(Seq("a"))), QueryFilter("scores", "arrayIsEmpty", None),
      QueryExistsFilter("sampleItems", filters = Seq(QueryFilter("status", "=", Some("paid"))),
        count = Some(CountCond("<", 2))))
    filters.foreach { f =>
      val res = r(QueryDefinition("samples", columns = Some(Seq("id")), filters = Seq(f)))
      assert(placeholders(res.sql) == res.params.size, s"$f:\n${res.sql}\n${res.params}")
    }
    // the case-insensitive pattern operators bind their value like the others
    assert(r(QueryDefinition("samples", columns = Some(Seq("id")),
      filters = Seq(QueryFilter("email", "icontains", Some("A"))))).params == Seq("A"))
    // clauses together: byIds, a group and EXISTS; then WHERE and HAVING
    val byIds = r(QueryDefinition("samples", columns = Some(Seq("id")),
      byIds = Some(Seq(1, 2)),
      filters = Seq(QueryFilterGroup("or", filters.take(4)), filters.last)))
    assert(placeholders(byIds.sql) == byIds.params.size, s"${byIds.sql}\n${byIds.params}")
    assert(byIds.params == Seq(Seq(1, 2), "active", true, 10, 10, "paid", 2L))
    val grouped = r(QueryDefinition("samples", columns = Some(Seq("status")),
      groupBy = Seq(QueryGroupBy("status")),
      aggregations = Seq(QueryAggregation("amount", "sum", "totalAmt")),
      filters = Seq(QueryFilterGroup("or", filters.take(4))),
      having = Seq(QueryFilter("totalAmt", "between", Some((100, 300))))))
    assert(placeholders(grouped.sql) == grouped.params.size, s"${grouped.sql}\n${grouped.params}")
    assert(grouped.params == Seq("active", true, 10, 10, 100, 300))
  }

  test("sql-only never interpolates a hostile value into the text") {
    val hostile = "x'; DROP TABLE samples; --"
    val r = db.query(QueryDefinition("samples", columns = Some(Seq("id")),
      filters = Seq(QueryFilter("status", "=", Some(hostile))),
      executeMode = "sql-only")).asInstanceOf[SqlResult]
    assert(!r.sql.contains("DROP"))
    assert(r.params == Seq(hostile))
  }
}

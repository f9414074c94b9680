package graft.exec

import graft.meta._
import graft.planner.Plan
import graft.types._

/** Parameterized ANSI-SQL text for sql-only mode (reference: QUERY.md:133-139,
  * SQL_DIALECTS.md:250-259). Our engine executes Catalyst plans, not SQL
  * strings, but the sql-only contract survives: the text below is a faithful
  * dialect-agnostic rendering of the resolved query with `?` placeholders
  * (SQL formatting may differ between implementations; params must match —
  * TESTS.md #225). Values are NEVER interpolated into the text (SECURITY.md
  * layer 2).
  *
  * Text and params come from one walk: every placeholder is written by
  * `bind`, which appends its value in the same step, so the params are the
  * placeholders' values in text order by construction. The walk reads only
  * metadata: no table is loaded and no DataFrame is built, so a sql-only
  * request costs no Spark work.
  */
object SqlText {

  def generate(
      index: MetadataIndex,
      plan: Plan,
      q: QueryDefinition,
      mappings: Seq[ColumnMapping],
      aliasOf: Map[String, String],
  ): (String, Seq[Any]) = {
    val params = Seq.newBuilder[Any]
    def bind(v: Any): String = { params += v; "?" }
    // the two placeholders of a pair operand (between, levenshteinLte)
    def bindPair(v: Any): (String, String) = {
      val (a, b) = v.asInstanceOf[(Any, Any)]
      (bind(a), bind(b))
    }
    var subCounter = 0
    def tbl(api: String) = index.tablesByApi(api)
    def phys(api: String, colApi: String): String =
      index.column(api, colApi).get.physicalName
    def ident(s: String) = "\"" + s.replace("\"", "\"\"") + "\""
    def qualified(api: String): String = {
      val pt = plan.tables(api)
      ident(pt.physicalName)
    }

    def filterSql(node: QueryFilterNode, defaultTable: String,
        aliasFor: String => String, parentApi: String, parentAlias: String): String =
      node match {
        case f: QueryFilter =>
          val a = aliasFor(f.table.getOrElse(defaultTable))
          val c = s"$a.${ident(phys(f.table.getOrElse(defaultTable), f.column))}"
          def v = f.value.get
          f.operator match {
            // != is NULL-inclusive engine-wide (C107) — the text must carry
            // the same semantics the engine executes
            case "=" => s"$c = ${bind(v)}"
            case "!=" => s"$c IS DISTINCT FROM ${bind(v)}"
            case ">" => s"$c > ${bind(v)}"        case "<" => s"$c < ${bind(v)}"
            case ">=" => s"$c >= ${bind(v)}"      case "<=" => s"$c <= ${bind(v)}"
            case "in" => s"$c IN (${bind(v)})"    case "notIn" => s"$c NOT IN (${bind(v)})"
            case "like" => s"$c LIKE ${bind(v)}"  case "notLike" => s"$c NOT LIKE ${bind(v)}"
            case "ilike" => s"LOWER($c) LIKE LOWER(${bind(v)})"
            case "notIlike" => s"LOWER($c) NOT LIKE LOWER(${bind(v)})"
            case "contains" => s"$c LIKE '%' || ${bind(v)} || '%'"
            case "notContains" => s"$c NOT LIKE '%' || ${bind(v)} || '%'"
            case "icontains" => s"LOWER($c) LIKE '%' || LOWER(${bind(v)}) || '%'"
            case "notIcontains" => s"LOWER($c) NOT LIKE '%' || LOWER(${bind(v)}) || '%'"
            case "startsWith" => s"$c LIKE ${bind(v)} || '%'"
            case "istartsWith" => s"LOWER($c) LIKE LOWER(${bind(v)}) || '%'"
            case "endsWith" => s"$c LIKE '%' || ${bind(v)}"
            case "iendsWith" => s"LOWER($c) LIKE '%' || LOWER(${bind(v)})"
            case "isNull" => s"$c IS NULL"
            case "isNotNull" => s"$c IS NOT NULL"
            case "between" => val (a, b) = bindPair(v); s"$c BETWEEN $a AND $b"
            case "notBetween" => val (a, b) = bindPair(v); s"$c NOT BETWEEN $a AND $b"
            case "levenshteinLte" => val (t, d) = bindPair(v); s"LEVENSHTEIN($c, $t) <= $d"
            case "arrayContains" => s"ARRAY_CONTAINS($c, ${bind(v)})"
            case "arrayContainsAll" => s"ARRAY_CONTAINS_ALL($c, ${bind(v)})"
            case "arrayContainsAny" => s"ARRAYS_OVERLAP($c, ${bind(v)})"
            case "arrayIsEmpty" => s"CARDINALITY($c) = 0"
            case "arrayIsNotEmpty" => s"CARDINALITY($c) > 0"
            case other => other
          }
        case cf: QueryColumnFilter =>
          val la = aliasFor(cf.table.getOrElse(defaultTable))
          val ra = aliasFor(cf.refTable.getOrElse(defaultTable))
          val op = if (cf.operator == "!=") "IS DISTINCT FROM" else cf.operator
          s"$la.${ident(phys(cf.table.getOrElse(defaultTable), cf.column))} $op " +
            s"$ra.${ident(phys(cf.refTable.getOrElse(defaultTable), cf.refColumn))}"
        case g: QueryFilterGroup =>
          val inner = g.conditions
            .map(filterSql(_, defaultTable, aliasFor, parentApi, parentAlias))
            .mkString(s" ${g.logic.toUpperCase} ")
          if (g.not) s"NOT ($inner)" else s"($inner)"
        case e: QueryExistsFilter =>
          val sAlias = s"s$subCounter"; subCounter += 1
          val (fkChild, pkParent) = index.relationBetween(e.table, parentApi).get
          val corr = s"$sAlias.${ident(phys(e.table, fkChild))} = " +
            s"$parentAlias.${ident(phys(parentApi, pkParent))}"
          val sub = e.filters
            .map(filterSql(_, e.table, api => if (api == e.table) sAlias else aliasFor(api),
              e.table, sAlias))
          val where = (corr +: sub).mkString(" AND ")
          val fromSql = s"${qualified(e.table)} AS $sAlias"
          e.count match {
            case Some(CountCond(op, n)) =>
              s"(SELECT COUNT(*) FROM $fromSql WHERE $where) $op ${bind(n)}"
            case None =>
              val kw = if (e.exists) "EXISTS" else "NOT EXISTS"
              s"$kw (SELECT 1 FROM $fromSql WHERE $where)"
          }
      }

    val fromAlias = aliasOf(q.from)
    val sb = new StringBuilder
    if (q.executeMode == "count") sb.append("SELECT COUNT(*)")
    else {
      sb.append("SELECT ")
      if (q.distinct) sb.append("DISTINCT ")
      val items = mappings.map { m =>
        if (m.internalName.contains("__")) { // table column: "tN__api"
          val colApi = m.internalName.substring(m.internalName.indexOf("__") + 2)
          val a = m.internalName.take(m.internalName.indexOf("__"))
          s"$a.${ident(phys(m.fromTable, colApi))} AS ${ident(m.internalName)}"
        } else {
          // aggregation alias
          val agg = q.aggregations.find(_.alias == m.finalKey).get
          val arg =
            if (agg.column == "*") "*"
            else s"${aliasOf(agg.table.getOrElse(q.from))}.${ident(phys(agg.table.getOrElse(q.from), agg.column))}"
          s"${agg.fn.toUpperCase}($arg) AS ${ident(agg.alias)}"
        }
      }
      sb.append(items.mkString(", "))
    }
    sb.append(s"\nFROM ${qualified(q.from)} AS $fromAlias")
    q.joins.zipWithIndex.foreach { case (j, i) =>
      val a = s"t${i + 1}"
      val prior = (q.from +: q.joins.take(i).map(_.table))
      val anchor = prior.find(p => index.relationBetween(j.table, p).isDefined).get
      val (fkOnJoin, pkOnAnchor) = index.relationBetween(j.table, anchor).get
      val kw = if (j.joinType == "inner") "INNER JOIN" else "LEFT JOIN"
      sb.append(s"\n$kw ${qualified(j.table)} AS $a ON " +
        s"$a.${ident(phys(j.table, fkOnJoin))} = " +
        s"${aliasOf(anchor)}.${ident(phys(anchor, pkOnAnchor))}")
    }

    val whereParts = Seq.newBuilder[String]
    q.byIds.foreach { ids =>
      val pk = tbl(q.from).primaryKey.head
      whereParts += s"$fromAlias.${ident(phys(q.from, pk))} IN (${bind(ids)})"
    }
    q.filters.foreach(f =>
      whereParts += filterSql(f, q.from, aliasOf, q.from, fromAlias))
    q.joins.foreach(j => j.filters.foreach(f =>
      whereParts += filterSql(f, j.table, aliasOf, j.table, aliasOf(j.table))))
    val wp = whereParts.result()
    if (wp.nonEmpty) sb.append("\nWHERE ").append(wp.mkString(" AND "))

    if (q.executeMode != "count") {
      if (q.groupBy.nonEmpty)
        sb.append("\nGROUP BY ").append(q.groupBy.map { g =>
          val tApi = g.table.getOrElse(q.from)
          s"${aliasOf(tApi)}.${ident(phys(tApi, g.column))}"
        }.mkString(", "))
      if (q.having.nonEmpty) {
        def havingSql(n: QueryFilterNode): String = n match {
          case f: QueryFilter =>
            val c = ident(f.column)
            def v = f.value.get
            f.operator match {
              case "in" => s"$c IN (${bind(v)})"   case "notIn" => s"$c NOT IN (${bind(v)})"
              case "between" => val (a, b) = bindPair(v); s"$c BETWEEN $a AND $b"
              case "notBetween" => val (a, b) = bindPair(v); s"$c NOT BETWEEN $a AND $b"
              case "isNull" => s"$c IS NULL" case "isNotNull" => s"$c IS NOT NULL"
              case "!=" => s"$c IS DISTINCT FROM ${bind(v)}"
              case op => s"$c $op ${bind(v)}"
            }
          case g: QueryFilterGroup =>
            val inner = g.conditions.map(havingSql).mkString(s" ${g.logic.toUpperCase} ")
            if (g.not) s"NOT ($inner)" else s"($inner)"
          case _ => "1=1"
        }
        sb.append("\nHAVING ").append(q.having.map(havingSql).mkString(" AND "))
      }
      if (q.orderBy.nonEmpty)
        sb.append("\nORDER BY ").append(q.orderBy.map { o =>
          val ref =
            if (o.table.isEmpty && q.aggregations.exists(_.alias == o.column)) ident(o.column)
            else s"${aliasOf(o.table.getOrElse(q.from))}.${ident(phys(o.table.getOrElse(q.from), o.column))}"
          s"$ref ${o.direction.toUpperCase}"
        }.mkString(", "))
      q.limit.foreach(l => sb.append(s"\nLIMIT $l"))
      q.offset.foreach(o => sb.append(s"\nOFFSET $o"))
    }
    (sb.toString, params.result())
  }
}

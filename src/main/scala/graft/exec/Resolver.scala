package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.access.EffectiveAccess
import graft.meta._
import graft.planner.{Plan, PlannedTable}
import graft.types._

/** Resolves a validated QueryDefinition into a Spark DataFrame program.
  *
  * Replaces the reference's name-resolution + SqlParts + 3 dialect generators
  * (reference: SQL_DIALECTS.md:63-247): Catalyst is our dialect. Every table
  * instance gets an alias (t0 = from, t1.. = joins, s0.. = EXISTS subqueries,
  * same scheme as SQL_DIALECTS.md:194-196) and every column a unique internal
  * name `tN__api`, so joins — including self-joins — are never ambiguous and
  * result remapping is a pure rename.
  *
  * EXISTS filters compile to a decorrelated aggregate left-join: the related
  * table is grouped by its FK and the predicate becomes
  * `coalesce(cnt, 0) <op> N` — one uniform, composable form that stays a
  * boolean Column (so it works inside OR groups / NOT), keeps zero-child
  * parents for `<`/`<=`/`=`/`!=` (CROSS_DB_NORMALIZATION.md:14-44), and lets
  * Catalyst pick broadcast vs shuffle. Plain top-level EXISTS/NOT-EXISTS under
  * the implicit AND is optimized to a LEFT SEMI / LEFT ANTI join instead.
  *
  * The result columns and the sql-only text ([[SqlText]]) come from
  * metadata alone; the frames load tables and build plans only on first
  * use ([[ResolvedQuery]]).
  */
final case class ColumnMapping(
    internalName: String,
    finalKey: String,
    fromTable: String,    // table apiName (or from-table for count(*) aggs)
    columnType: String,   // reference type; aggs: count→int, avg→decimal, else source
    nullable: Boolean,
    masked: Boolean,
    maskingFn: Option[String],
)

/** A resolved query. `mappings`, `sql` and `params` come from metadata
  * alone; `frame` and `countFrame` load their tables and build their plans
  * on first use, so a request that runs neither (sql-only, a P0 cache hit)
  * loads no table and builds no DataFrame. A failing source loader
  * therefore throws from `frame`/`countFrame`, not from `Resolver.resolve`.
  */
final class ResolvedQuery(
    val mappings: Seq[ColumnMapping],
    val sql: String,
    val params: Seq[Any],
    buildFrame: => DataFrame,
    buildCountFrame: => DataFrame,
) {
  /** Projected + renamed to final keys, ordered, limited. */
  lazy val frame: DataFrame = buildFrame
  /** The rows count mode counts: joined + filtered, pre-projection. */
  lazy val countFrame: DataFrame = buildCountFrame
}

object Resolver {

  def resolve(
      index: MetadataIndex,
      plan: Plan,
      access: EffectiveAccess,
      q: QueryDefinition,
  ): ResolvedQuery = new Resolver(index, plan, access, q).run()
}

private final class Resolver(
    index: MetadataIndex,
    plan: Plan,
    access: EffectiveAccess,
    q: QueryDefinition,
) {
  private var subqueryCounter = 0

  private def internal(alias: String, colApi: String) = s"${alias}__$colApi"

  private def tableOf(api: String): TableMeta = index.tablesByApi(api)
  private def colMeta(tableApi: String, colApi: String): ColumnMeta =
    index.column(tableApi, colApi).get

  /** alias per table instance in the main query scope. */
  private val aliasOf: Map[String, String] =
    (Map(q.from -> "t0") ++ q.joins.zipWithIndex.map { case (j, i) => j.table -> s"t${i + 1}" })

  /** Load a planned table and rename its columns to internal names. */
  private def baseFrame(tableApi: String, alias: String): DataFrame = {
    val pt = plan.tables(tableApi)
    val df = pt.load()
    df.select(pt.table.columns.map(c =>
      col(c.physicalName).as(internal(alias, c.apiName))): _*)
  }

  // ---------------------------------------------------------------------
  // literals
  // ---------------------------------------------------------------------

  private def toLiteral(v: Any, declared: String): Column =
    declared match {
      case "timestamp" => v match {
        case s: String =>
          lit(java.sql.Timestamp.from(graft.validation.Validator.parseTimestamp(s).get))
        case t: java.time.Instant => lit(java.sql.Timestamp.from(t))
        case other => lit(other)
      }
      case "date" => v match {
        case s: String => lit(java.sql.Date.valueOf(java.time.LocalDate.parse(s)))
        case d: java.time.LocalDate => lit(java.sql.Date.valueOf(d))
        case other => lit(other)
      }
      case _ => lit(v)
    }

  private def toLiteralArray(vs: Seq[Any], elemType: String): Column =
    array(vs.map {
      case s: String if elemType == "timestamp" =>
        lit(java.sql.Timestamp.from(graft.validation.Validator.parseTimestamp(s).get))
      case s: String if elemType == "date" =>
        lit(java.sql.Date.valueOf(java.time.LocalDate.parse(s)))
      case v => lit(v)
    }: _*)

  // ---------------------------------------------------------------------
  // filter compilation — returns (frame', predicate)
  // ---------------------------------------------------------------------

  /** Compile one scalar filter to a boolean Column over internal names. */
  private def compileFilter(f: QueryFilter, defaultTable: String,
      resolveAlias: String => String): Column = {
    val tApi = f.table.getOrElse(defaultTable)
    val cm = colMeta(tApi, f.column)
    val c = col(internal(resolveAlias(tApi), f.column))
    val t = cm.columnType
    val elem = ColumnTypes.elementType(t)
    def l(v: Any) = toLiteral(v, t)
    f.operator match {
      case "="  => c === l(f.value.get)
      // NULL-inclusive inequality: the contract pins `isActive != true`
      // keeping the NULL row (CONTRACT_TESTS.md C107 — "false and null"),
      // i.e. IS DISTINCT FROM semantics, not SQL's NULL-excluding <>
      case "!=" => !(c <=> l(f.value.get))
      case ">"  => c > l(f.value.get)
      case "<"  => c < l(f.value.get)
      case ">=" => c >= l(f.value.get)
      case "<=" => c <= l(f.value.get)
      case "in"    => c.isin(f.value.get.asInstanceOf[Seq[Any]]: _*)
      case "notIn" => !c.isin(f.value.get.asInstanceOf[Seq[Any]]: _*)
      case "like"     => c.like(str(f))
      case "notLike"  => !c.like(str(f))
      case "ilike"    => c.ilike(str(f))
      case "notIlike" => !c.ilike(str(f))
      case "contains"     => c.contains(lit(str(f)))
      case "notContains"  => !c.contains(lit(str(f)))
      case "icontains"    => lower(c).contains(lower(lit(str(f))))
      case "notIcontains" => !lower(c).contains(lower(lit(str(f))))
      case "startsWith"   => c.startsWith(lit(str(f)))
      case "istartsWith"  => lower(c).startsWith(lower(lit(str(f))))
      case "endsWith"     => c.endsWith(lit(str(f)))
      case "iendsWith"    => lower(c).endsWith(lower(lit(str(f))))
      case "isNull"    => c.isNull
      case "isNotNull" => c.isNotNull
      case "between" =>
        val (from, to) = f.value.get.asInstanceOf[(Any, Any)]
        c.between(toLiteral(from, t), toLiteral(to, t))
      case "notBetween" =>
        val (from, to) = f.value.get.asInstanceOf[(Any, Any)]
        !c.between(toLiteral(from, t), toLiteral(to, t))
      case "levenshteinLte" =>
        val (text, maxD) = f.value.get.asInstanceOf[(String, Int)]
        levenshtein(c, lit(text)) <= lit(maxD)
      case "arrayContains"    => array_contains(c, toLiteral(f.value.get, elem))
      case "arrayContainsAll" =>
        size(array_except(toLiteralArray(f.value.get.asInstanceOf[Seq[Any]], elem), c)) === 0
      case "arrayContainsAny" =>
        arrays_overlap(c, toLiteralArray(f.value.get.asInstanceOf[Seq[Any]], elem))
      case "arrayIsEmpty"    => size(c) === 0
      case "arrayIsNotEmpty" => size(c) > 0
      case other => throw new IllegalStateException(s"unvalidated operator $other")
    }
  }

  private def str(f: QueryFilter): String = f.value.get.asInstanceOf[String]

  private def compileColumnFilter(cf: QueryColumnFilter, defaultTable: String,
      resolveAlias: String => String): Column = {
    val lApi = cf.table.getOrElse(defaultTable)
    val rApi = cf.refTable.getOrElse(defaultTable)
    val a = col(internal(resolveAlias(lApi), cf.column))
    val b = col(internal(resolveAlias(rApi), cf.refColumn))
    cf.operator match {
      case "="  => a === b
      case "!=" => !(a <=> b) // same NULL-inclusive != as scalar filters (C107)
      case ">"  => a > b
      case "<"  => a < b
      case ">=" => a >= b
      case "<=" => a <= b
    }
  }

  /** Walk a filter tree: attach EXISTS count-joins to `frame` and return the
    * combined predicate. `parentAlias`/`parentApi` anchor EXISTS correlation.
    */
  private def compileTree(
      frame0: DataFrame,
      nodes: Seq[QueryFilterNode],
      defaultTable: String,
      parentApi: String,
      parentAlias: String,
      resolveAlias: String => String,
      topLevelAnd: Boolean,
  ): (DataFrame, Option[Column]) = {
    var frame = frame0
    val preds = Seq.newBuilder[Column]
    nodes.foreach {
      case f: QueryFilter =>
        preds += compileFilter(f, defaultTable, resolveAlias)
      case cf: QueryColumnFilter =>
        preds += compileColumnFilter(cf, defaultTable, resolveAlias)
      case g: QueryFilterGroup =>
        val (fr2, subPreds) = compileEach(frame, g.conditions, defaultTable,
          parentApi, parentAlias, resolveAlias)
        frame = fr2
        if (subPreds.nonEmpty) {
          val joined =
            if (g.logic == "or") subPreds.reduce(_ || _) else subPreds.reduce(_ && _)
          preds += (if (g.not) !joined else joined)
        }
      case e: QueryExistsFilter =>
        // top-level plain EXISTS under implicit AND → semi/anti join fast path
        if (topLevelAnd && e.count.isEmpty) {
          frame = existsSemiJoin(frame, e, parentApi, parentAlias)
        } else if (topLevelAnd) {
          // counted EXISTS under implicit AND: semi/anti join against the
          // HAVING-filtered child aggregate — no NULLable cnt column rides
          // through the main frame (see existsCountJoin scaladoc)
          frame = existsCountJoin(frame, e, parentApi, parentAlias)
        } else {
          val (fr2, pred) = existsCountPredicate(frame, e, parentApi, parentAlias)
          frame = fr2
          preds += pred
        }
    }
    val ps = preds.result()
    (frame, if (ps.isEmpty) None else Some(ps.reduce(_ && _)))
  }

  /** compile each node to its own predicate (no implicit AND fold). */
  private def compileEach(
      frame0: DataFrame,
      nodes: Seq[QueryFilterNode],
      defaultTable: String,
      parentApi: String,
      parentAlias: String,
      resolveAlias: String => String,
  ): (DataFrame, Seq[Column]) = {
    var frame = frame0
    val preds = Seq.newBuilder[Column]
    nodes.foreach { n =>
      val (fr2, p) = compileTree(frame, Seq(n), defaultTable, parentApi,
        parentAlias, resolveAlias, topLevelAnd = false)
      frame = fr2
      p.foreach(preds += _)
    }
    (frame, preds.result())
  }

  /** Build the filtered child frame for an EXISTS node (recursive: nested
    * EXISTS inside `e.filters` resolves against THIS child as parent —
    * the chain-walk of README.md:282).
    */
  private def existsChild(e: QueryExistsFilter,
      parentApi: String): (DataFrame, String, String, String) = {
    val alias = s"s$subqueryCounter"; subqueryCounter += 1
    val (fkChild, pkParent) = index.relationBetween(e.table, parentApi)
      .getOrElse(throw new IllegalStateException(s"unvalidated exists relation ${e.table}"))
    var child = baseFrame(e.table, alias)
    val (child2, predOpt) = compileTree(child, e.filters, e.table, e.table, alias,
      api => if (api == e.table) alias
             else aliasOf.getOrElse(api, alias), topLevelAnd = false)
    child = child2
    predOpt.foreach(p => child = child.where(p))
    (child, alias, fkChild, pkParent)
  }

  private def existsSemiJoin(frame: DataFrame, e: QueryExistsFilter,
      parentApi: String, parentAlias: String): DataFrame = {
    val (child, alias, fkChild, pkParent) = existsChild(e, parentApi)
    val cond = col(internal(parentAlias, pkParent)) === child(internal(alias, fkChild))
    frame.join(child, cond, if (e.exists) "left_semi" else "left_anti")
  }

  /** Top-level counted EXISTS never needs the left-join+coalesce form: a
    * parent qualifies (or not) purely by membership in the HAVING-filtered
    * child aggregate, so every operator compiles to a LEFT SEMI or LEFT
    * ANTI join — the rewrite the reference names as its one performance
    * optimization (SQL_DIALECTS.md:30, CROSS_DB_NORMALIZATION.md:30-40),
    * generalized. Zero-child parents are handled for free: they have no
    * row in the aggregate, so semi drops them and anti keeps them — which
    * is exactly the required semantics (cnt = 0) for every operator:
    *   >= n (n≥1) / > n / = n (n≥1)  → SEMI on cnt ⋈ n
    *   < n (n≥1) / <= n / != n (n≥1) → ANTI on the complement
    *   = 0 → ANTI on any-child;  != 0 → SEMI on any-child
    *   >= 0 → no-op (always true);  < 0 → empty (cnt can't be negative)
    */
  private def existsCountJoin(frame: DataFrame, e: QueryExistsFilter,
      parentApi: String, parentAlias: String): DataFrame = {
    val CountCond(op, v) = e.count.get
    val (child, alias, fkChild, pkParent) = existsChild(e, parentApi)
    val corr = col(internal(parentAlias, pkParent)) === child(internal(alias, fkChild))
    (op, v) match {
      case (">=", 0L) => return frame                    // cnt >= 0: tautology
      case ("<", 0L)  => return frame.where(lit(false))  // cnt < 0: never
      // cnt = 0 ⟺ NOT EXISTS, cnt != 0 ⟺ EXISTS: plain anti/semi on the
      // raw child — no aggregate node needed
      case ("=", 0L)  => return frame.join(child, corr, "left_anti")
      case ("!=", 0L) => return frame.join(child, corr, "left_semi")
      case _          => ()
    }
    val keyCol = s"__${alias}_key"
    val cntCol = s"__${alias}_cnt"
    val counts = child
      .groupBy(col(internal(alias, fkChild)).as(keyCol))
      .agg(count(lit(1)).as(cntCol))
    val (cond, joinType) = op match {
      case ">=" => (col(cntCol) >= v, "left_semi")
      case ">"  => (col(cntCol) > v, "left_semi")
      case "="  => (col(cntCol) === v, "left_semi")
      case "!=" => (col(cntCol) === v, "left_anti")
      case "<"  => (col(cntCol) >= v, "left_anti")
      case "<=" => (col(cntCol) > v, "left_anti")
    }
    frame.join(counts.where(cond),
      col(internal(parentAlias, pkParent)) === col(keyCol), joinType)
  }

  private def existsCountPredicate(frame: DataFrame, e: QueryExistsFilter,
      parentApi: String, parentAlias: String): (DataFrame, Column) = {
    val (child, alias, fkChild, pkParent) = existsChild(e, parentApi)
    val keyCol = s"__${alias}_key"
    val cntCol = s"__${alias}_cnt"
    val counts = child.groupBy(col(internal(alias, fkChild)).as(keyCol))
      .agg(count(lit(1)).as(cntCol))
    val joined = frame.join(counts,
      col(internal(parentAlias, pkParent)) === col(keyCol), "left")
      .drop(keyCol)
    val n = coalesce(col(cntCol), lit(0L))
    val pred = e.count match {
      case Some(CountCond(op, v)) =>
        op match {
          case "="  => n === v
          case "!=" => n =!= v
          case ">"  => n > v
          case "<"  => n < v
          case ">=" => n >= v
          case "<=" => n <= v
        }
      case None => if (e.exists) n > 0 else n === 0
    }
    (joined, pred)
  }

  // ---------------------------------------------------------------------
  // result columns (metadata only)
  // ---------------------------------------------------------------------

  private val aggPresent = q.aggregations.nonEmpty || q.groupBy.nonEmpty

  /** Selected columns as (tableApi, alias, colApi), ACL-trimmed defaults. */
  private val selected: Seq[(String, String, String)] = {
    def defaultCols(tableApi: String): Seq[String] =
      if (aggPresent) q.groupBy.filter(_.table.getOrElse(q.from) == tableApi).map(_.column)
      else access.allowedColumnsOf(tableOf(tableApi))
    val fromCols = q.columns.getOrElse(defaultCols(q.from)).map(c => (q.from, "t0", c))
    val joinCols = q.joins.zipWithIndex.flatMap { case (j, i) =>
      j.columns.getOrElse(defaultCols(j.table)).map(c => (j.table, s"t${i + 1}", c))
    }
    fromCols ++ joinCols
  }

  // column-collision qualification (README.md:522): colliding apiNames
  // after a join → result keys "table.column"
  private val collisions: Set[String] = selected.groupBy(_._3).collect {
    case (api, xs) if xs.size > 1 => api
  }.toSet

  private def finalKey(tableApi: String, colApi: String): String =
    if (collisions.contains(colApi)) s"$tableApi.$colApi" else colApi

  /** The result columns in order: selected table columns, then aggregation
    * aliases (never masked, QUERY.md:197).
    */
  private val mappings: Seq[ColumnMapping] = {
    val columns = selected.map { case (tableApi, alias, colApi) =>
      val cm = colMeta(tableApi, colApi)
      val masked = access.maskedColumns(tableApi).contains(colApi)
      ColumnMapping(internal(alias, colApi), finalKey(tableApi, colApi), tableApi,
        cm.columnType, cm.nullable, masked,
        if (masked) cm.maskingFn.orElse(Some("full")) else None)
    }
    val aggregations = q.aggregations.map { a =>
      val (srcType, srcNullable, srcTable) =
        if (a.column == "*") ("int", false, q.from)
        else {
          val tApi = a.table.getOrElse(q.from)
          val cm = colMeta(tApi, a.column)
          (cm.columnType, cm.nullable, tApi)
        }
      val resultType = a.fn match {
        case "count" => "int"
        case "avg"   => "decimal"
        case _       => srcType
      }
      ColumnMapping(a.alias, a.alias, srcTable, resultType,
        a.fn != "count" && srcNullable, masked = false, None)
    }
    columns ++ aggregations
  }

  private val selectedKeys: Set[String] = mappings.map(_.finalKey).toSet

  def run(): ResolvedQuery = {
    val (sql, params) = SqlText.generate(index, plan, q, mappings, aliasOf)
    // count mode counts matching rows pre-limit — but DISTINCT projects
    // first: `distinct: true` + count = number of distinct projected rows
    // (reference C1713), not the pre-projection row count
    new ResolvedQuery(mappings, sql, params, resultFrame,
      if (q.distinct) projected.distinct() else filtered)
  }

  // ---------------------------------------------------------------------
  // frames, built on first use
  // ---------------------------------------------------------------------

  /** FROM + JOINs + byIds + WHERE: joined and filtered, pre-projection. */
  private lazy val filtered: DataFrame = {
    // --- FROM + JOINs (declaration order; ON from relation metadata,
    //     bidirectional + transitive lookup)
    var frame = baseFrame(q.from, "t0")
    q.joins.zipWithIndex.foreach { case (j, i) =>
      val alias = s"t${i + 1}"
      val right = baseFrame(j.table, alias)
      // find the already-present table this join relates to
      val prior = (q.from +: q.joins.take(i).map(_.table))
      val anchor = prior.find(p => index.relationBetween(j.table, p).isDefined).get
      val (fkOnJoin, pkOnAnchor) = index.relationBetween(j.table, anchor).get
      val cond = col(internal(aliasOf(anchor), pkOnAnchor)) ===
        col(internal(alias, fkOnJoin))
      frame = frame.join(right, cond, j.joinType)
    }

    // --- byIds fast filter (pk IN ids)
    q.byIds.foreach { ids =>
      val pk = tableOf(q.from).primaryKey.head
      frame = frame.where(col(internal("t0", pk)).isin(ids: _*))
    }

    // --- WHERE: top-level filters (implicit AND) + join-scoped filters
    val (fr1, topPred) = compileTree(frame, q.filters, q.from, q.from, "t0",
      api => aliasOf(api), topLevelAnd = true)
    frame = fr1
    topPred.foreach(p => frame = frame.where(p))
    q.joins.foreach { j =>
      // join-scoped filters: unqualified columns resolve against the joined
      // table; they land in WHERE, not ON (QUERY.md:57-61); EXISTS inside
      // them correlates against the joined table
      val (fr2, p) = compileTree(frame, j.filters, j.table, j.table, aliasOf(j.table),
        api => aliasOf(api), topLevelAnd = true)
      frame = fr2
      p.foreach(x => frame = frame.where(x))
    }
    frame
  }

  /** ORDER BY may reference unselected columns (valid SQL when not
    * DISTINCT/grouped): they ride through the projection under hidden
    * names and are dropped after sort+limit. internalName -> hiddenKey.
    */
  private val hiddenSortCols: Seq[(String, String)] =
    if (q.distinct) Nil
    else if (aggPresent)
      // grouped query: an unselected GROUP BY key still exists on the
      // grouped frame under its internal name (contract C204 orders by a
      // joined groupBy column the join's columns:[] excluded from SELECT)
      q.orderBy.flatMap { o =>
        val tApi = o.table.getOrElse(q.from)
        if (selectedKeys.contains(finalKey(tApi, o.column)) ||
          (o.table.isEmpty && q.aggregations.exists(_.alias == o.column))) None
        else if (q.groupBy.exists(g =>
          g.table.getOrElse(q.from) == tApi && g.column == o.column)) {
          val in = internal(aliasOf(tApi), o.column)
          Some(in -> s"__ord_$in")
        } else None
      }.distinct
    else q.orderBy.flatMap { o =>
      val key = finalKey(o.table.getOrElse(q.from), o.column)
      if (selectedKeys.contains(key)) None
      else {
        val in = internal(aliasOf(o.table.getOrElse(q.from)), o.column)
        Some(in -> s"__ord_$in")
      }
    }.distinct

  /** Grouped (+ HAVING) and projected to final keys plus hidden sort keys. */
  private lazy val projected: DataFrame = {
    var frame = filtered
    if (aggPresent) {
      val groupCols = q.groupBy.map { g =>
        val tApi = g.table.getOrElse(q.from)
        col(internal(aliasOf(tApi), g.column))
      }
      val aggExprs = q.aggregations.map(a => aggExpr(a, frame).as(a.alias))
      frame =
        // GROUP BY with no aggregations (contract C320) = distinct over the
        // group keys — Spark's grouped API requires >= 1 aggregate
        if (aggExprs.isEmpty) frame.select(groupCols: _*).distinct()
        else if (groupCols.isEmpty) frame.agg(aggExprs.head, aggExprs.tail: _*)
        else frame.groupBy(groupCols: _*).agg(aggExprs.head, aggExprs.tail: _*)
      // HAVING: predicates over aggregation aliases only
      if (q.having.nonEmpty) frame = frame.where(q.having.map(havingPredicate).reduce(_ && _))
    }
    // exactCol: an aggregation mapping's internalName is the user-supplied
    // alias — must be referenced as an exact name, never parsed
    frame.select(mappings.map(m => exactCol(m.internalName).as(m.finalKey)) ++
      hiddenSortCols.map { case (in, hid) => col(in).as(hid) }: _*)
  }

  /** The result frame: distinct, ordered, offset, limited, masked. */
  private def resultFrame: DataFrame = {
    var result = if (q.distinct) projected.distinct() else projected

    // --- ORDER BY (columns or aggregation aliases)
    val hiddenByInternal = hiddenSortCols.toMap
    if (q.orderBy.nonEmpty) {
      val sortCols = q.orderBy.map { o =>
        val key =
          if (o.table.isEmpty && q.aggregations.exists(_.alias == o.column)) o.column
          else {
            val fk = finalKey(o.table.getOrElse(q.from), o.column)
            if (selectedKeys.contains(fk)) fk
            else hiddenByInternal(internal(aliasOf(o.table.getOrElse(q.from)), o.column))
          }
        // collision-qualified keys contain '.', so quote with backticks
        val kc = exactCol(key)
        if (o.direction == "desc") kc.desc else kc.asc
      }
      result = result.orderBy(sortCols: _*)
    }

    // --- OFFSET / LIMIT (sort → offset → limit)
    q.offset.foreach(o => result = result.offset(o.toInt))
    q.limit.foreach(l => result = result.limit(l.toInt))
    if (hiddenSortCols.nonEmpty)
      result = result.drop(hiddenSortCols.map(_._2): _*)

    // --- in-plan masking, LAST (after sort/distinct/limit, mirroring the
    // reference's post-query masking semantics): frame() consumers get
    // masked data without a driver-side collect; the row-level path in
    // MultiDb.assemble is idempotent on these outputs
    if (mappings.exists(_.maskingFn.isDefined))
      result = result.select(mappings.map { m =>
        val c = exactCol(m.finalKey)
        m.maskingFn match {
          case Some(fn) => graft.access.MaskingColumns.mask(fn, c).as(m.finalKey)
          case None     => c
        }
      }: _*)
    result
  }

  /** Aggregate expression with deterministic numeric accumulation: columns
    * declared `decimal` but physically stored as double are accumulated in
    * DecimalType SEMANTICS so partition order can never change the result,
    * then cast back to double (exact → deterministic bit pattern). avg
    * follows the reference rule "avg is always decimal" via exact-sum /
    * count.
    *
    * The exact accumulation runs on the int64 fast path
    * ([[graft.functions.DecimalSumOps.dsum_exact]], r18): value-identical
    * to `sum(cast(c AS DECIMAL(38,6))).cast("double")` (DecimalSumSpec
    * pins byte-equality, including on this engine's e_* fixtures) but the
    * aggregation buffer stays a codegen long instead of a non-compact
    * Decimal — the r17 probe measured that representation tax at ~8× on
    * a 6.0M-row sum (TPC-H q1: 7.8 s decimal vs 0.9 s double-shaped).
    * Domain is fenced, not assumed: per value |x| < 9.2·10¹² at scale 6
    * and per group Σ|unscaled| < 9·10¹⁸, both raising NAMED errors where
    * a long could wrap — magnitudes past them need the decimal path back.
    */
  private def aggExpr(a: QueryAggregation, frame: DataFrame): Column = {
    val D6 = DecimalType(38, 6)
    if (a.column == "*") return count(lit(1))
    val tApi = a.table.getOrElse(q.from)
    val cm = colMeta(tApi, a.column)
    val name = internal(aliasOf(tApi), a.column)
    val c = col(name)
    // a column *declared* decimal but physically stored as floating point is
    // accumulated exactly in decimal-at-scale-6 semantics and cast back, so
    // the result type matches the storage while the value is
    // partition-order independent
    val physicalFloat = frame.schema.find(_.name == name)
      .exists(f => f.dataType == DoubleType || f.dataType == FloatType)
    val exact = cm.columnType == "decimal" && physicalFloat
    a.fn match {
      case "count" => count(c)
      case "sum" if exact => graft.functions.DecimalSumOps.dsum_exact(c, 6)
      case "sum"   => sum(c)
      case "avg" if exact =>
        graft.functions.DecimalSumOps.dsum_exact(c, 6) / count(c)
      case "avg" if cm.columnType == "int" =>
        avg(c.cast(D6)) // reference: AVG is always decimal, even over int
      case "avg"   => avg(c)
      case "min"   => min(c)
      case "max"   => max(c)
    }
  }

  /** Column reference treating `name` as an EXACT attribute name: backticks
    * inside the name are doubled per Spark's quoted-identifier rule. A raw
    * `col(name)` parses metacharacters (a user-supplied aggregation alias
    * like "x`; --" threw INVALID_ATTRIBUTE_NAME_SYNTAX from the plan —
    * aliases are data, never syntax; CONTRACT_TESTS §16.2).
    */
  private def exactCol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def havingPredicate(node: QueryFilterNode): Column = node match {
    case f: QueryFilter =>
      val c = exactCol(f.column)
      def v = f.value.get
      f.operator match {
        case "="  => c === lit(v)
        case "!=" => !(c <=> lit(v)) // NULL-inclusive != (C107), e.g. a NULL SUM group
        case ">"  => c > lit(v)
        case "<"  => c < lit(v)
        case ">=" => c >= lit(v)
        case "<=" => c <= lit(v)
        case "in"    => c.isin(v.asInstanceOf[Seq[Any]]: _*)
        case "notIn" => !c.isin(v.asInstanceOf[Seq[Any]]: _*)
        case "between" =>
          val (a, b) = v.asInstanceOf[(Any, Any)]; c.between(lit(a), lit(b))
        case "notBetween" =>
          val (a, b) = v.asInstanceOf[(Any, Any)]; !c.between(lit(a), lit(b))
        case "isNull"    => c.isNull
        case "isNotNull" => c.isNotNull
      }
    case g: QueryFilterGroup =>
      val ps = g.conditions.map(havingPredicate)
      val joined = if (g.logic == "or") ps.reduce(_ || _) else ps.reduce(_ && _)
      if (g.not) !joined else joined
    case other => throw new IllegalStateException(s"unvalidated having node $other")
  }
}

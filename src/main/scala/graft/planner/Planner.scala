package graft.planner

import org.apache.spark.sql.DataFrame
import graft.meta._
import graft.types._

/** Per-table physical source selection — the reference's strategy planner
  * P0-P4 (reference: README.md:230-266, STAGES.md:264-293) mapped onto a
  * Spark source registry. Pure pre-plan logic: Catalyst never sees
  * freshness/lag/cache metadata, so this is deliberately NOT a Catalyst rule.
  *
  * In Spark terms a "database" is a registered source namespace; each logical
  * table may have several physical sources (original, materialized replica,
  * cache). The planner picks one strategy and reports truthful
  * strategy/targetDatabase/tablesUsed in result meta.
  */
trait CacheProvider {
  /** MGET-style by-key fetch; returns found rows keyed by the cache key. */
  def getMany(keys: Seq[String]): Map[String, Map[String, Any]]
  def ping(): Boolean = true
}

/** Loader for one physical table: called at plan-execution time so reloads
  * and snapshot isolation behave, and called once per table reference per
  * query, so it must be cheap. The scan itself is lazy, but a bare
  * `spark.read.parquet` is not: it runs a schema-inference job on every
  * call. Parquet tables therefore load through `SourceLoaders.parquet`,
  * which reuses the inferred schema while the file's (modificationTime,
  * length) is unchanged and re-infers when it changes.
  */
final case class SourceRegistry(
    loaders: Map[(String, String), () => DataFrame], // (databaseId, tableId) → loader
    replicaLoaders: Map[(String, String), () => DataFrame] = Map.empty, // (targetDb, sourceTableId)
    cacheProviders: Map[String, CacheProvider] = Map.empty, // cacheId → provider
    executorTimeoutMs: Map[String, Long] = Map.empty, // databaseId → timeout
) {
  def timeoutFor(db: String): Long = executorTimeoutMs.getOrElse(db, 120000L)
}

final case class PlannedTable(
    table: TableMeta,
    source: String, // original | materialized | cache
    database: String,
    physicalName: String,
    load: () => DataFrame,
)

final case class Plan(
    strategy: String, // direct | cache | materialized | trino-cross-db
    targetDatabase: String,
    dialect: Option[String],
    tables: Map[String, PlannedTable], // keyed by table apiName
    cache: Option[(CacheMeta, CachedTableMeta, CacheProvider)] = None,
)

object Planner {

  /** All tables a query touches: from + joins + EXISTS tables, recursively
    * (README.md:243-247).
    */
  def requiredTables(index: MetadataIndex, q: QueryDefinition): Seq[TableMeta] = {
    def fromFilters(nodes: Seq[QueryFilterNode]): Seq[String] = nodes.flatMap {
      case e: QueryExistsFilter => e.table +: fromFilters(e.filters)
      case g: QueryFilterGroup  => fromFilters(g.conditions)
      case _                    => Nil
    }
    val apis = (q.from +: q.joins.map(_.table)) ++
      fromFilters(q.filters) ++ q.joins.flatMap(j => fromFilters(j.filters))
    apis.distinct.flatMap(index.tablesByApi.get)
  }

  def plan(index: MetadataIndex, registry: SourceRegistry, q: QueryDefinition): Plan = {
    val required = requiredTables(index, q)
    val dbs = index.databasesById

    def dialectOf(dbId: String): Option[String] = dbs.get(dbId).map(_.engine match {
      case "iceberg" => "trino" // Iceberg is always queried via Trino (README.md:246)
      case e         => e
    })

    // ---- P0: cache fast path — byIds only, no filters/joins/groupBy/aggs,
    // single-column PK, cache column superset (README.md:234-242)
    val p0Match = for {
      ids <- q.byIds
      if ids.nonEmpty && q.filters.isEmpty && q.joins.isEmpty &&
        q.groupBy.isEmpty && q.aggregations.isEmpty && q.executeMode != "sql-only"
      table <- index.tablesByApi.get(q.from)
      if table.primaryKey.size == 1
      (cacheMeta, cachedTable) <- index.cachesByTable.getOrElse(table.id, Nil)
        .find { case (_, ct) =>
          // cached column set must cover the requested columns
          ct.columns.forall { cached =>
            q.columns.getOrElse(table.columns.map(_.apiName))
              .forall(cached.contains)
          }
        }
    } yield (table, cacheMeta, cachedTable)
    p0Match match {
      case Some((table, cacheMeta, cachedTable)) =>
        // a qualifying cache with no registered provider is a typed error
        // (reference C1261), NOT a silent fall-through to P1
        val provider = registry.cacheProviders.getOrElse(cacheMeta.id,
          throw ExecutionError("CACHE_PROVIDER_MISSING", Map("cacheId" -> cacheMeta.id)))
        return Plan(
          strategy = "cache",
          targetDatabase = cacheMeta.id,
          dialect = None,
          tables = Map(q.from -> plannedOriginal(registry, table)
            .getOrElse(throw ExecutionError("EXECUTOR_MISSING",
              Map("database" -> table.database)))),
          cache = Some((cacheMeta, cachedTable, provider)),
        )
      case None => ()
    }

    // Shared P2-style resolution: can `db` serve every required table, as an
    // original it owns or a fresh-enough replica it hosts? When
    // `requireReplica` the resolution only counts if at least one table
    // actually rides a replica (an all-original resolution is just P1).
    val candidateDbs = dbs.keys.toSeq.sortBy(db => -required.count(_.database == db))
    val freshnessReq = q.freshness
    def resolveVia(db: String, requireReplica: Boolean,
        ignoreFreshness: Boolean = false): Option[Map[String, PlannedTable]] =
      required.foldLeft(Option(Map.empty[String, PlannedTable])) { (accOpt, t) =>
        accOpt.flatMap { acc =>
          if (t.database == db) plannedOriginal(registry, t).map(p => acc + (t.apiName -> p))
          else index.syncsBySource.getOrElse(t.id, Nil)
            .find(s => s.targetDatabase == db && (ignoreFreshness ||
              freshnessReq.forall(f => Freshness.lagSatisfies(s.estimatedLag, f))))
            .flatMap { s =>
              registry.replicaLoaders.get((db, t.id)).map { loader =>
                acc + (t.apiName -> PlannedTable(t, "materialized", db,
                  s.targetPhysicalName, loader))
              }
            }
        }
      }.filter(tables => !requireReplica ||
        tables.values.exists(_.source == "materialized"))
    def firstMaterialized(requireReplica: Boolean): Option[Plan] =
      candidateDbs.iterator
        .flatMap(db => resolveVia(db, requireReplica)
          .map(ts => Plan("materialized", db, dialectOf(db), ts)))
        .nextOption()

    // ---- Analytical offload: an EXPLICIT non-realtime freshness tolerance
    // declares replica lag acceptable, so the planner routes to a
    // replica-hosting database even when the originals are reachable
    // directly (contract C1711/C1716; C1715 pins that 'realtime' never
    // offloads). At 100 TB this is the lever that moves OLAP scans off the
    // OLTP source. Absent freshness keeps strict P1-before-P2 priority.
    if (freshnessReq.exists(_ != "realtime"))
      firstMaterialized(requireReplica = true) match {
        case Some(p) => return p
        case None    => ()
      }

    // ---- P1: single-DB direct — every required table lives in one DB
    val byDb = required.groupBy(_.database)
    if (byDb.size == 1) {
      val dbId = byDb.keys.head
      // every required table lives in dbId, so resolveVia takes the
      // plannedOriginal branch for each — an all-original resolution
      resolveVia(dbId, requireReplica = false) match {
        case Some(tables) =>
          return Plan("direct", dbId, dialectOf(dbId), tables)
        case None =>
          // primary executor down: serve from a replica-hosting DB instead
          // of failing (contract C1253; at scale: primary outage → offload).
          // A replica path that exists but is too stale for the requested
          // freshness is a planner conflict, not a missing executor.
          firstMaterialized(requireReplica = false) match {
            case Some(p) => return p
            case None =>
              if (candidateDbs.exists(db =>
                resolveVia(db, requireReplica = false, ignoreFreshness = true).isDefined))
                throw PlannerError("FRESHNESS_UNMET", q.from,
                  Map("requiredFreshness" -> freshnessReq.getOrElse("realtime"),
                    "reason" -> "original source unavailable; replicas too stale"))
              throw ExecutionError("EXECUTOR_MISSING", Map("database" -> dbId))
          }
      }
    }

    // ---- P2: materialized replicas make everything available in one DB,
    // freshness permitting; prefer the DB owning the most originals
    firstMaterialized(requireReplica = false) match {
      case Some(p) => return p
      case None    => ()
    }

    // ---- P3: cross-DB federation. The reference needs Trino + catalogs; our
    // Spark build reads every source in one SparkSession, but the metadata
    // gates are honored so planner semantics (and P4 errors) stay contract-true.
    if (!index.config.trinoEnabled) {
      // distinguish FRESHNESS_UNMET: a replica path existed but lag too high
      val freshnessBlocked = freshnessReq.exists { f =>
        candidateDbs.exists { db =>
          required.forall(t =>
            t.database == db || index.syncsBySource.getOrElse(t.id, Nil)
              .exists(_.targetDatabase == db))
        } && !candidateDbs.exists { db =>
          required.forall(t =>
            t.database == db || index.syncsBySource.getOrElse(t.id, Nil)
              .exists(s => s.targetDatabase == db && Freshness.lagSatisfies(s.estimatedLag, f)))
        }
      }
      if (freshnessBlocked)
        throw PlannerError("FRESHNESS_UNMET", q.from,
          Map("requiredFreshness" -> freshnessReq.get))
      // no sync machinery at all (contract C1252): cross-DB tables are
      // fundamentally unreachable — blaming trino would mislead; with syncs
      // configured the actionable fix is enabling trino (C1250)
      if (index.syncsBySource.isEmpty)
        throw PlannerError("UNREACHABLE_TABLES", q.from,
          Map("tables" -> required.map(_.apiName)))
      throw PlannerError("TRINO_DISABLED", q.from)
    }
    val noCatalog = required.map(_.database).distinct
      .filter(db => dbs.get(db).forall(_.trinoCatalog.isEmpty))
    if (noCatalog.nonEmpty)
      throw PlannerError("NO_CATALOG", q.from, Map("databases" -> noCatalog))

    val tables = required.map { t =>
      t.apiName -> plannedOriginal(registry, t).getOrElse(
        throw PlannerError("UNREACHABLE_TABLES", q.from, Map("tables" -> Seq(t.apiName))))
    }.toMap
    Plan("trino-cross-db", "trino", Some("trino"), tables)
  }

  private def plannedOriginal(registry: SourceRegistry, t: TableMeta): Option[PlannedTable] =
    registry.loaders.get((t.database, t.id))
      .map(loader => PlannedTable(t, "original", t.database, t.physicalName, loader))
}

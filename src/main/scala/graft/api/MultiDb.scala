package graft.api

import java.util.concurrent.{Executors, TimeUnit, TimeoutException, FutureTask}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.access.{AccessControl, Masking}
import graft.exec.{LiteralStable, Resolver, ResolvedQuery}
import graft.meta._
import graft.planner.{Plan, Planner, SourceRegistry}
import graft.types._

/** Provider interfaces (reference: METADATA.md:153-159). */
trait MetadataProvider { def load(): MetadataConfig }
trait RoleProvider { def load(): Seq[RoleMeta] }

/** The engine facade (reference: METADATA.md:174-189):
  * query / reloadMetadata / reloadRoles / healthCheck / close, with
  * snapshot isolation — in-flight queries keep the metadata/roles references
  * captured at entry; reload atomically swaps them (METADATA.md:191-193).
  *
  * `query` answers repeats of an `execute` or `count` query from a
  * [[ResultCache]] keyed on the snapshot (by identity), the definition and
  * the context, after checking that the files the answer was read from are
  * unchanged. A reload that returns an equal config and equal roles keeps
  * the snapshot and so the cached results; any other reload drops them.
  */
final class MultiDb(
    val spark: SparkSession,
    metadataProvider: MetadataProvider,
    roleProvider: RoleProvider,
    registry: SourceRegistry,
) extends AutoCloseable {

  /** One consistent (metadata, roles) pair; a reload swaps it whole. Equal
    * by identity: it keys the result cache.
    */
  private final class Snapshot(val index: MetadataIndex, val rolesById: Map[String, RoleMeta])

  @volatile private var state: Snapshot = {
    val (cfg, rolesById) = load()
    new Snapshot(MetadataIndex.build(cfg), rolesById)
  }
  private val reloadLock = new Object
  private val results = new ResultCache(spark.sparkContext.hadoopConfiguration)
  private val timeoutPool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-query-timeout"); t.setDaemon(true); t
  }

  private def load(): (MetadataConfig, Map[String, RoleMeta]) = {
    val cfg =
      try metadataProvider.load()
      catch { case e: Exception if !e.isInstanceOf[MultiDbError] =>
        throw ProviderError("METADATA_LOAD_FAILED", "metadata", Some(e)) }
    val roles =
      try roleProvider.load()
      catch { case e: Exception if !e.isInstanceOf[MultiDbError] =>
        throw ProviderError("ROLE_LOAD_FAILED", "role", Some(e)) }
    (cfg, roles.map(r => r.id -> r).toMap)
  }

  def reloadMetadata(): Unit = reload()
  def reloadRoles(): Unit = reload()

  /** Reloads run one at a time. An equal config and equal roles keep the
    * current snapshot (its index and cached results); anything else
    * installs a new snapshot and drops every cached result.
    */
  private def reload(): Unit = reloadLock.synchronized {
    val (cfg, rolesById) = load()
    if (cfg != state.index.config || rolesById != state.rolesById) {
      state = new Snapshot(MetadataIndex.build(cfg), rolesById)
      results.clear()
    }
  }

  /** Hit, miss, stale and skip counts of the result cache. */
  def resultCacheStats: ResultCacheStats = results.stats

  /** Contract-shaped health report (reference C1300-C1304): overall
    * `healthy` plus per-executor and per-cache-provider status with
    * measured latency and the failure message when unhealthy.
    */
  def healthCheck(): HealthCheckResult = {
    val index = state.index
    def probe(body: => Unit): ComponentHealth = {
      val t0 = System.nanoTime()
      try { body; ComponentHealth(healthy = true, (System.nanoTime() - t0) / 1000000) }
      catch { case e: Exception =>
        ComponentHealth(healthy = false, (System.nanoTime() - t0) / 1000000,
          Some(String.valueOf(e.getMessage)))
      }
    }
    val executors = index.config.databases.map { d =>
      // source connectivity: EVERY registered loader for the database must
      // produce a frame (probing only the first hid per-table outages)
      d.id -> probe(registry.loaders
        .collect { case ((db, _), l) if db == d.id => l }
        .foreach(l => l().schema))
    }.toMap
    val caches = registry.cacheProviders.map { case (id, p) =>
      id -> probe(if (!p.ping()) throw new IllegalStateException("ping returned false"))
    }.toMap
    HealthCheckResult(
      healthy = (executors.values ++ caches.values).forall(_.healthy),
      executors = executors, cacheProviders = caches)
  }

  @volatile private var closed = false

  /** After close, queries fail with a typed EXECUTOR_MISSING (reference
    * C1313), not an untyped rejected-execution error.
    */
  override def close(): Unit = { closed = true; timeoutPool.shutdownNow(); results.clear() }

  private def ensureOpen(): Unit =
    if (closed) throw ExecutionError("EXECUTOR_MISSING", Map("reason" -> "closed"))

  /** Zero-I/O validation: run rules 1-14 only (the /validate/query
    * endpoint); throws ValidationError, never touches a DataFrame.
    */
  def validateOnly(q: QueryDefinition, context: ExecutionContext = ExecutionContext()): Unit = {
    val snapshot = state
    val issues = graft.validation.Validator.validate(snapshot.index, snapshot.rolesById, q, context)
    if (issues.nonEmpty) throw ValidationError(q.from, issues)
  }

  /** Build the DataFrame for a query without executing (Spark-native entry
    * point — lets callers keep the plan lazy, write it out, or chain it; the
    * 100 TB path never materializes on the driver).
    */
  def frame(q: QueryDefinition, context: ExecutionContext = ExecutionContext()): DataFrame = {
    val ((resolved, plan, _), _) = resolveTimed(state, q, context)
    failedAsQuery(plan)(resolved.frame)
  }

  /** Full reference-shaped query lifecycle. An `execute` or `count` query
    * without `debug` is first looked up in the result cache; a hit skips
    * validation, access control, planning and resolution and runs no Spark
    * job. Its meta carries the stored strategy, tables and columns and the
    * timing of this call.
    *
    * A query builds its DataFrame only if it runs one: sql-only returns the
    * generated text and a P0 cache-provider hit is served by MGET, so
    * neither loads a table; a P0 partial hit builds only the refetch of the
    * missed ids, and only when the result cache does not hold it. Frames
    * are built inside the query's timeout, so a loader that fails there is
    * a QUERY_FAILED and one that hangs is a QUERY_TIMEOUT.
    */
  def query(q: QueryDefinition, context: ExecutionContext = ExecutionContext()): QueryResult = {
    ensureOpen()
    val t0 = System.nanoTime()
    // one snapshot for the whole query: every resolve below (including the
    // partial-cache refetch) reads it, never the live `state` a concurrent
    // reload may have swapped
    val snapshot = state
    val key =
      if (q.debug || (q.executeMode != "execute" && q.executeMode != "count")) None
      else Some(resultKey(snapshot, "result", q, context))
    key.flatMap(results.get) match {
      case Some(hit) =>
        val timing = Timing(planningMs = 0, generationMs = 0,
          executionMs = Some((System.nanoTime() - t0) / 1000000))
        hit match {
          case d: DataResult => d.copy(meta = d.meta.copy(timing = timing))
          case c: CountResult => c.copy(meta = c.meta.copy(timing = timing))
          case other => other
        }
      case None => run(snapshot, q, context, t0, key)
    }
  }

  /** `query` past the result-cache lookup; stores under `key` when given. */
  private def run(snapshot: Snapshot, q: QueryDefinition, context: ExecutionContext,
      t0: Long, key: Option[Any]): QueryResult = {
    val debug = Seq.newBuilder[DebugLogEntry]
    def log(phase: String, msg: String): Unit =
      if (q.debug) debug += DebugLogEntry(System.currentTimeMillis(), phase, msg)
    val index = snapshot.index
    log("validation", s"validating query from '${q.from}'")
    val ((resolved, plan, mappingsMeta), tPlanned) = resolveTimed(snapshot, q, context, Some(log))
    val t1 = System.nanoTime()

    def metaOf(executionMs: Option[Long], columns: Seq[ResultColumnMeta]): QueryResultMeta =
      QueryResultMeta(
        strategy = plan.strategy,
        targetDatabase = plan.targetDatabase,
        dialect = plan.dialect,
        tablesUsed = Planner.requiredTables(index, q).map { t =>
          val pt = plan.tables(t.apiName)
          TableUsed(t.id, pt.source, pt.database, pt.physicalName)
        },
        columns = columns,
        timing = Timing(
          planningMs = (tPlanned - t0) / 1000000,
          generationMs = (t1 - tPlanned) / 1000000,
          executionMs = executionMs),
      )

    q.executeMode match {
      case "sql-only" =>
        log("sql-generation", "sql-only mode: returning generated SQL")
        SqlResult(resolved.sql, resolved.params, metaOf(None, mappingsMeta),
          if (q.debug) Some(debug.result()) else None)
      case "count" =>
        val t2 = System.nanoTime()
        val n = withTimeout(plan, countRows(resolved.countFrame))
        log("execution", s"count = $n")
        val result = CountResult(n, metaOf(Some((System.nanoTime() - t2) / 1000000), Nil),
          if (q.debug) Some(debug.result()) else None)
        key.foreach(store(snapshot, _, result, resolved.countFrame))
        result
      case _ if plan.cache.isDefined =>
        // P0 Redis-style fast path: MGET by key pattern; full hit serves from
        // cache, partial hit merges cache rows with a DB fetch for the
        // misses, full miss falls back to the DB (README.md:234-242)
        val (cacheMeta, cachedTable, provider) = plan.cache.get
        val t2 = System.nanoTime()
        val ids = q.byIds.get
        val keyOf = (id: Any) => cachedTable.keyPattern.replace("{id}", String.valueOf(id))
        val hits = provider.getMany(ids.map(keyOf))
        log("cache", s"cache '${cacheMeta.id}': ${hits.size}/${ids.size} hit")
        val missing = ids.filterNot(id => hits.contains(keyOf(id)))
        val cacheData = ids.flatMap(id => hits.get(keyOf(id))).map { row =>
          resolved.mappings.map { m =>
            val api = m.internalName.substring(m.internalName.indexOf("__") + 2)
            val raw = row.getOrElse(api, null)
            m.finalKey -> m.maskingFn.map(Masking(_, raw)).getOrElse(raw)
          }.toMap
        }
        val dbData =
          if (missing.isEmpty) Nil
          else {
            // provider rows are never cached; the database refetch of the
            // missed ids is, keyed by its own definition
            val refetch = q.copy(byIds = Some(missing))
            val refetchKey =
              if (q.debug) None else Some(resultKey(snapshot, "p0-refetch", refetch, context))
            refetchKey.flatMap(results.get) match {
              case Some(hit) => hit.asInstanceOf[DataResult].data
              case None =>
                log("cache", s"fetching ${missing.size} missed ids from database")
                val ((res2, _, _), _) = resolveTimed(snapshot, refetch, context)
                val data = assemble(withTimeout(plan, collectRows(res2.frame)), res2)
                refetchKey.foreach(store(snapshot, _, DataResult(data, metaOf(None, Nil)), res2.frame))
                data
            }
          }
        DataResult(cacheData ++ dbData,
          metaOf(Some((System.nanoTime() - t2) / 1000000), mappingsMeta),
          if (q.debug) Some(debug.result()) else None)
      case _ =>
        val t2 = System.nanoTime()
        val rows = withTimeout(plan, collectRows(resolved.frame))
        log("execution", s"fetched ${rows.length} rows")
        val data = assemble(rows, resolved)
        val result = DataResult(data,
          metaOf(Some((System.nanoTime() - t2) / 1000000), mappingsMeta),
          if (q.debug) Some(debug.result()) else None)
        key.foreach(store(snapshot, _, result, resolved.frame))
        result
    }
  }

  /** The result-cache key of `q` on `snapshot`; `part` tells a whole result
    * from the database part of a P0 partial hit.
    */
  private def resultKey(snapshot: Snapshot, part: String, q: QueryDefinition,
      context: ExecutionContext): Any =
    (snapshot, part, ResultCache.typed(q), ResultCache.typed(context))

  /** Offers `result` to the cache unless a reload or close has retired
    * `snapshot` meanwhile.
    */
  private def store(snapshot: Snapshot, key: Any, result: QueryResult, frame: DataFrame): Unit =
    if (!closed && (state eq snapshot)) results.put(key, result, frame)

  /** Validate, ACL, plan and resolve `q` against one config snapshot,
    * also returning the nanoTime boundary between planning (validate + ACL
    * + strategy selection) and generation (result columns and SQL text) so
    * `timing.planningMs` and `generationMs` are distinct real measurements,
    * not one duplicated value. Building and analyzing the DataFrame counts
    * toward execution: it happens when the query runs it.
    */
  private def resolveTimed(
      snapshot: Snapshot,
      q: QueryDefinition,
      context: ExecutionContext,
      log: Option[(String, String) => Unit] = None,
  ): ((ResolvedQuery, Plan, Seq[ResultColumnMeta]), Long) = {
    val (index, rolesById) = (snapshot.index, snapshot.rolesById)
    val issues = graft.validation.Validator.validate(index, rolesById, q, context)
    if (issues.nonEmpty) throw ValidationError(q.from, issues)
    val access = AccessControl.resolve(index, rolesById, context)
    log.foreach(_("access-control", "role scopes resolved (union within, intersection across)"))
    log.foreach(_("planning", "selecting strategy"))
    val plan = Planner.plan(index, registry, q)
    log.foreach(_("planning", s"strategy=${plan.strategy} target=${plan.targetDatabase}"))
    val tPlanned = System.nanoTime()
    log.foreach(_("name-resolution", s"resolving '${q.from}'; its DataFrame is built when run"))
    val resolved = failedAsQuery(plan)(Resolver.resolve(index, plan, access, q))
    log.foreach(_("sql-generation", "parameterized SQL text generated"))
    val columnsMeta = resolved.mappings.map(m => ResultColumnMeta(
      m.finalKey, m.columnType, m.nullable, m.fromTable, m.masked))
    ((resolved, plan, columnsMeta), tPlanned)
  }

  /** Runs `body`, reporting its failure as a runtime database failure: a
    * source loader that fails (missing files, dead connection) is a typed
    * QUERY_FAILED (reference C1262), not a raw AnalysisException escaping
    * to the caller.
    */
  private def failedAsQuery[T](plan: Plan)(body: => T): T =
    try body
    catch {
      case m: MultiDbError => throw m
      case e: Exception => throw ExecutionError("QUERY_FAILED",
        Map("database" -> plan.targetDatabase), Some(e))
    }

  /** Per-query timeout at the driver boundary (reference: executor-level
    * timeoutMs, README.md:523) → ExecutionError QUERY_TIMEOUT. The body runs
    * under its own job group, so a timeout cancels this query's jobs only,
    * never those of concurrent callers sharing the session.
    */
  private def withTimeout[T](plan: Plan, body: => T): T = {
    val timeoutMs = registry.timeoutFor(plan.targetDatabase)
    val group = s"graft-query-${MultiDb.queryIds.incrementAndGet()}"
    val sc = spark.sparkContext
    val task = new FutureTask[T](() => {
      // pool threads inherit local properties from the thread that spawned
      // them, so the group is set per task and cleared before the next one
      sc.setJobGroup(group, s"graft query on '${plan.targetDatabase}'", interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    })
    timeoutPool.execute(task)
    try task.get(timeoutMs, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException =>
        // also covers jobs the body submits after this point (it may be
        // between two actions when the interrupt lands)
        sc.cancelJobGroupAndFutureJobs(group, s"query timed out after $timeoutMs ms")
        task.cancel(true)
        throw ExecutionError("QUERY_TIMEOUT",
          Map("database" -> plan.targetDatabase, "timeoutMs" -> timeoutMs))
      case e: java.util.concurrent.ExecutionException =>
        e.getCause match {
          case m: MultiDbError => throw m
          case c => throw ExecutionError("QUERY_FAILED",
            Map("database" -> plan.targetDatabase), Some(c))
        }
    }
  }

  /** The rows of `df`, run literal-stable ([[LiteralStable]]): a query that
    * differs from an earlier one only in its parameter values reuses that
    * query's compiled classes. These two are the only places `query` runs a
    * frame; `frame()` results run as the caller runs them.
    */
  private def collectRows(df: DataFrame): Array[Row] = LiteralStable(df).collect()

  /** `df.count()`, run literal-stable like [[collectRows]]: the aggregate
    * `count()` adds holds only the constant `count(1)`.
    */
  private def countRows(df: DataFrame): Long = LiteralStable(df).count()

  /** Row → apiName-keyed map with masking applied (post-query, reference-
    * faithful: METADATA.md:116); null passes through unmasked.
    */
  private def assemble(rows: Array[Row], resolved: ResolvedQuery): Seq[Map[String, Any]] = {
    val ms = resolved.mappings
    rows.toSeq.map { row =>
      ms.zipWithIndex.map { case (m, i) =>
        val raw = row.get(i) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case v => v
        }
        val v = m.maskingFn match {
          case Some(fn) => Masking(fn, raw)
          case None     => raw
        }
        m.finalKey -> v
      }.toMap
    }
  }
}

object MultiDb {
  /** Numbers every query's job group, unique per JVM (so per SparkContext):
    * a group cancelled with its future jobs must never be reused.
    */
  private val queryIds = new AtomicLong()

  def apply(
      spark: SparkSession,
      config: MetadataConfig,
      roles: Seq[RoleMeta],
      registry: SourceRegistry,
  ): MultiDb = new MultiDb(
    spark,
    new MetadataProvider { def load(): MetadataConfig = config },
    new RoleProvider { def load(): Seq[RoleMeta] = roles },
    registry)
}

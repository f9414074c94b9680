package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}
import graft.access.{AccessControl, Masking}
import graft.api.{Json, MultiDb, MultiDbHttpClient, MultiDbHttpServer}
import graft.exec.{ResolvedQuery, Resolver}
import graft.meta.{CacheMeta, CachedTableMeta, MetadataIndex}
import graft.planner.{CacheProvider, Planner, SourceRegistry}
import graft.sources.TpchCatalog
import graft.types._
import graft.validation.Validator

/** The `api_point` workload: 4 closed-loop clients over HTTP `/query` (plus
  * a small share of `/validate/query` and `/reload`), through
  * [[MultiDbHttpServer]] and [[MultiDbHttpClient]].
  *
  * The traced run then replays the ops the loop completed in process,
  * untraced and with a span around every layer call, in the order
  * [[MultiDb.query]] makes them.
  */
object Engine {

  /** The benchmark's stand-in for a Redis cache: a fixed map of cached
    * customer rows keyed by the P0 key pattern.
    */
  final class MapCache(rows: Map[String, Map[String, Any]]) extends CacheProvider {
    def getMany(keys: Seq[String]): Map[String, Map[String, Any]] =
      keys.iterator.flatMap(k => rows.get(k).map(k -> _)).toMap
  }

  val CacheId = "p0"
  val config = TpchCatalog.config.copy(caches = Seq(
    CacheMeta(CacheId, tables = Seq(CachedTableMeta("customer", "customer:{id}")))))

  /** One engine stack: the facade, a server on a free localhost port and a
    * client for it.
    */
  final class Stack(spark: SparkSession, registry: SourceRegistry) {
    val db: MultiDb = MultiDb(spark, config, TpchCatalog.roles, registry)
    private val server = new MultiDbHttpServer(db)
    private val client = new MultiDbHttpClient(s"http://localhost:${server.start()}")

    /** One request; returns the reply (a result or the acknowledgement). */
    def call(op: Ops.Op, q: (QueryDefinition, ExecutionContext)): Any = op.kind match {
      case "query"    => client.query(q._1, q._2)
      case "validate" => client.validateQuery(q._1, q._2); """{"valid":true}"""
      case "reload"   => client.reload(); """{"reloaded":true}"""
      case k => throw new IllegalArgumentException(s"unknown op kind '$k'")
    }

    /** What the server does for one request, in process and untraced. */
    def serve(op: Ops.Op): Any = op.kind match {
      case "reload" => db.reloadMetadata()
      case "validate" => val (q, ctx) = Json.parseQuery(op.body); db.validateOnly(q, ctx)
      case _ => val (q, ctx) = Json.parseQuery(op.body); Json.writeResult(db.query(q, ctx))
    }

    def close(): Unit = { server.stop(); db.close() }
  }

  def run(spark: SparkSession, args: Main.Args, header: JsonNode, summary: ObjectNode): Unit = {
    val ops = Ops.ops(args("ops"))
    def parse(op: Ops.Op) = if (op.body.isEmpty) null else Json.parseQuery(op.body)
    val parsed = ops.map(parse)
    val warm = header.get("warmup").elements().asScala.zipWithIndex
      .map { case (n, i) => Ops.op(-1 - i, n) }.toSeq

    val cache = loadCache(header.get("cache_rows"))
    val registry = TpchCatalog.registry(spark, args.data)
      .copy(cacheProviders = Map(CacheId -> cache))

    // set-up is repeated: each round builds a fresh stack (facade, server,
    // client) and sends the generator's warm-up ops through it
    val stackTimes = ArrayBuffer.empty[Double]
    var stack: Stack = null
    for (_ <- 1 to 3) {
      if (stack != null) stack.close()
      val t0 = System.nanoTime()
      stack = new Stack(spark, registry)
      warm.foreach(op => stack.call(op, parse(op)))
      stackTimes += Main.secondsSince(t0)
    }
    val stackArr = summary.putArray("stack_setup_s")
    stackTimes.foreach(stackArr.add(_))
    summary.put("setup_s", summary.get("session_s").asDouble() + Main.median(stackTimes.toSeq))

    // untimed traffic first, so JIT compilation settles before the timed
    // loop; the warm ops are the first `warm_ops` of the file
    val warmOps = header.get("warm_ops").asInt()
    loop(stack, ops, parsed, 0, warmOps, header.get("warm_seconds").asDouble())
    val (records, elapsed) = loop(stack, ops, parsed, warmOps, ops.size, args.seconds)
    summary.put("clients", Clients)
    summary.put("loop_s", elapsed)
    Main.writeLines(new java.io.File(args.out, "results.jsonl"), records.map { r =>
      val n = Main.mapper.createObjectNode()
      n.put("seq", r.seq).put("client", r.client).put("t0_us", r.t0Us).put("ms", r.ms)
      r.error match {
        case Some(e) => n.put("ok", false).put("error", e)
        case None => n.put("ok", true).put("result", r.received match {
          case q: QueryResult => Json.writeResult(q)
          case s => String.valueOf(s)
        })
      }
      n
    })

    if (args.trace) {
      val executed = records.map(r => ops(r.seq))
      val counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      val tracer = new Tracer
      val replay = new Replay(stack.db, registry, tracer)
      // each op runs untraced and traced back to back, alternating which
      // goes first, so warm-up order does not bias the tracing overhead
      val untraced = new Array[Double](executed.size)
      val rows = executed.zipWithIndex.map { case (op, i) =>
        def plain(): Unit = {
          val t0 = System.nanoTime()
          stack.serve(op)
          untraced(i) = (System.nanoTime() - t0) / 1e6
        }
        def traced(): ReplayStats = {
          tracer.op = op.seq
          spark.sparkContext.setJobGroup(s"op-${op.seq}", s"${op.template} #${op.seq}")
          try replay.run(op)
          finally spark.sparkContext.clearJobGroup()
        }
        if (i % 2 == 0) { plain(); traced() }
        else { val s = traced(); plain(); s }
      }
      counters.drain(spark)
      spark.listenerManager.unregister(counters)
      spark.sparkContext.removeSparkListener(counters)
      Main.writeLines(new java.io.File(args.out, "replay.jsonl"),
        executed.indices.map { i =>
          val n = Main.mapper.createObjectNode()
          n.put("seq", executed(i).seq).put("untraced_ms", untraced(i))
          rows(i).fill(n)
        })
      Main.writeTrace(args.out, tracer, counters)
    }
    stack.close()
  }

  val Clients = 4

  final case class Rec(seq: Int, client: Int, t0Us: Long, ms: Double,
      received: Any, error: Option[String])

  /** Closed loop over ops `from until until`: each client takes the next op
    * only after its previous reply; no op starts after the deadline and
    * every started op finishes.
    */
  def loop(stack: Stack, ops: IndexedSeq[Ops.Op],
      parsed: IndexedSeq[(QueryDefinition, ExecutionContext)],
      from: Int, until: Int, seconds: Double): (Seq[Rec], Double) = {
    val next = new AtomicInteger(from)
    val recs = new Array[Rec](ops.size)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          if (i >= until) go = false
          else {
            val t0 = System.nanoTime()
            val (received, error) =
              try (stack.call(ops(i), parsed(i)), None)
              catch { case e: Throwable => (null, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
            recs(i) = Rec(i, c, (t0 - start) / 1000, (System.nanoTime() - t0) / 1e6, received, error)
          }
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (recs.toSeq.slice(from, until).takeWhile(_ != null), Main.secondsSince(start))
  }

  /** The customer rows run.py read for the seeded half of the keys, keyed
    * by the P0 key pattern.
    */
  def loadCache(rows: JsonNode): MapCache = new MapCache(
    rows.elements().asScala.map { r =>
      s"customer:${r.get("custkey").asLong()}" ->
        r.fields().asScala.map(e => e.getKey -> Json.jsonValue(e.getValue)).toMap
    }.toMap)

  /** What one traced op did, for replay.jsonl. */
  final case class ReplayStats(rows: Int, strategy: String, keys: Int, hits: Int) {
    def fill(n: ObjectNode): ObjectNode =
      n.put("rows", rows).put("strategy", strategy).put("keys", keys).put("hits", hits)
  }

  /** Re-runs an op in process, calling each layer's public function in the
    * order [[MultiDb.query]] does, with one span per call. Source loaders are
    * wrapped so every table load is its own span.
    */
  final class Replay(db: MultiDb, registry: SourceRegistry, tracer: Tracer) {
    private val index = MetadataIndex.build(config)
    private val rolesById = TpchCatalog.roles.map(r => r.id -> r).toMap
    private val traced = registry.copy(loaders = registry.loaders.map { case (k, load) =>
      k -> (() => tracer.span("sources.load")(load()))
    })

    def run(op: Ops.Op): ReplayStats =
      tracer.span("op") {
        lazy val (q, ctx) = tracer.span("api.json.parse")(Json.parseQuery(op.body))
        op.kind match {
          case "reload" =>
            tracer.span("api.reload")(db.reloadMetadata())
            ReplayStats(0, "", 0, 0)
          case "validate" =>
            validate(q, ctx)
            ReplayStats(0, "", 0, 0)
          case "query" =>
            val (result, stats) = query(q, ctx)
            tracer.span("api.json.write")(Json.writeResult(result))
            stats
        }
      }

    private def validate(q: QueryDefinition, ctx: ExecutionContext): Unit = {
      val issues = tracer.span("validation.validate")(Validator.validate(index, rolesById, q, ctx))
      if (issues.nonEmpty) throw ValidationError(q.from, issues)
    }

    private def resolve(q: QueryDefinition, ctx: ExecutionContext) = {
      validate(q, ctx)
      val access = tracer.span("access.resolve")(AccessControl.resolve(index, rolesById, ctx))
      val plan = tracer.span("planner.plan")(Planner.plan(index, traced, q))
      (plan, tracer.span("exec.resolve")(Resolver.resolve(index, plan, access, q)))
    }

    private def query(q: QueryDefinition, ctx: ExecutionContext): (QueryResult, ReplayStats) = {
      val (plan, resolved) = resolve(q, ctx)
      val meta = QueryResultMeta(plan.strategy, plan.targetDatabase, plan.dialect,
        Planner.requiredTables(index, q).map { t =>
          val pt = plan.tables(t.apiName)
          TableUsed(t.id, pt.source, pt.database, pt.physicalName)
        },
        resolved.mappings.map(m => ResultColumnMeta(
          m.finalKey, m.columnType, m.nullable, m.fromTable, m.masked)),
        Timing(0, 0, None))
      q.executeMode match {
        case "sql-only" =>
          (SqlResult(resolved.sql, resolved.params, meta), ReplayStats(0, plan.strategy, 0, 0))
        case "count" =>
          val n = tracer.span("exec.execute")(resolved.countFrame.count())
          (CountResult(n, meta), ReplayStats(1, plan.strategy, 0, 0))
        case _ if plan.cache.isDefined =>
          val (_, cachedTable, provider) = plan.cache.get
          val ids = q.byIds.get
          val keyOf = (id: Any) => cachedTable.keyPattern.replace("{id}", String.valueOf(id))
          val hits = tracer.span("sources.cache_get")(provider.getMany(ids.map(keyOf)))
          val missing = ids.filterNot(id => hits.contains(keyOf(id)))
          val cacheData = tracer.span("api.assemble") {
            ids.flatMap(id => hits.get(keyOf(id))).map { row =>
              resolved.mappings.map { m =>
                val api = m.internalName.substring(m.internalName.indexOf("__") + 2)
                val raw = row.getOrElse(api, null)
                m.finalKey -> m.maskingFn.map(Masking(_, raw)).getOrElse(raw)
              }.toMap
            }
          }
          val dbData =
            if (missing.isEmpty) Nil
            else {
              val (_, res2) = resolve(q.copy(byIds = Some(missing)), ctx)
              val rows = tracer.span("exec.execute")(res2.frame.collect())
              tracer.span("api.assemble")(assemble(rows, res2))
            }
          (DataResult(cacheData ++ dbData, meta),
            ReplayStats(cacheData.size + dbData.size, plan.strategy, ids.size, ids.size - missing.size))
        case _ =>
          val rows = tracer.span("exec.execute")(resolved.frame.collect())
          val data = tracer.span("api.assemble")(assemble(rows, resolved))
          (DataResult(data, meta), ReplayStats(data.size, plan.strategy, 0, 0))
      }
    }

    /** Row → apiName-keyed map with masking, as the facade assembles it. */
    private def assemble(rows: Array[Row], resolved: ResolvedQuery): Seq[Map[String, Any]] =
      rows.toSeq.map { row =>
        resolved.mappings.zipWithIndex.map { case (m, i) =>
          val raw = row.get(i) match {
            case s: scala.collection.Seq[_] => s.toSeq
            case v => v
          }
          m.finalKey -> m.maskingFn.map(Masking(_, raw)).getOrElse(raw)
        }.toMap
      }
  }
}

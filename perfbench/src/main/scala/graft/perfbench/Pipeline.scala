package graft.perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** `pipeline_batch`: sequential passes of one client over a fixed list of
  * oracle-gated [[SparkEntry.queries]] rows, each written to the `noop`
  * sink. It bypasses the engine API: what it measures is DataFrame
  * construction (eager checkpoints, count gates, index builds) and Spark
  * execution.
  */
object Pipeline {

  def rows(header: JsonNode): Seq[String] =
    header.get("rows").elements().asScala.map(_.asText()).toSeq

  /** The rows' oracle SQL, for run.py's DuckDB check. */
  def writeOracleSql(header: JsonNode, out: File): Unit = {
    val oracle = Main.mapper.createObjectNode()
    rows(header).foreach(r => oracle.put(r, SparkEntry.oracleSql(r)))
    Files.writeString(new File(out, "oracle_sql.json").toPath,
      Main.mapper.writeValueAsString(oracle))
  }

  final case class RowRec(pass: Int, row: String, constructMs: Double, executeMs: Double,
      error: Option[String])

  def run(spark: SparkSession, args: Main.Args, header: JsonNode, summary: ObjectNode): Unit = {
    val names = rows(header)
    val queries = SparkEntry.queries
    val dir = args.data

    /** Row `i` once: construct, then `sink`; with spans if traced. */
    def row(p: Int, i: Int, tracer: Option[Tracer],
        sink: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()): RowRec = {
      val r = names(i)
      def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
      tracer.foreach(_.op = i)
      spark.sparkContext.setJobGroup(s"row-$r", r)
      try span("op") {
        val t0 = System.nanoTime()
        val df = span("ops.construct")(queries(r)(spark, dir))
        val t1 = System.nanoTime()
        span("ops.execute")(sink(df))
        RowRec(p, r, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, None)
      } catch {
        case e: Throwable => RowRec(p, r, 0, 0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      } finally spark.sparkContext.clearJobGroup()
    }

    // set-up: a warm-up pass builds the per-JVM fixture tables and indexes
    // the rows memoize
    val tWarm = System.nanoTime()
    names.indices.foreach(row(-1, _, None))
    summary.put("warm_pass_s", Main.secondsSince(tWarm))
    summary.put("setup_s", summary.get("session_s").asDouble() + summary.get("warm_pass_s").asDouble())

    // untimed and outside set-up, like api_point's warm loop: a pass keeps
    // getting faster for tens of seconds after the set-up pass (Spark's
    // per-job code warming up), so the timed passes start after
    // `warm_seconds` of untimed ones. The first of them writes each row's
    // output once, as parquet, for run.py to check against the oracle.
    val warmDeadline = System.nanoTime() + (header.get("warm_seconds").asDouble() * 1e9).toLong
    val checkErrors = summary.putObject("check_errors")
    names.indices.foreach { i =>
      val rec = row(-2, i, None, _.coalesce(1).write.mode("overwrite")
        .parquet(new File(args.out, s"check/${names(i)}").getPath))
      rec.error.foreach(checkErrors.put(names(i), _))
    }
    while (System.nanoTime() < warmDeadline) names.indices.foreach(row(-3, _, None))

    val recs = ArrayBuffer.empty[RowRec]
    if (!args.trace) {
      // at least three passes, so the median pass is robust to one slow
      // one; another only while it is expected to end within the run's time
      val passS = summary.putArray("pass_s")
      val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
      var last = 0.0
      var p = 0
      while (p < 3 || System.nanoTime() + last * 1e9 < deadline) {
        val t0 = System.nanoTime()
        recs ++= names.indices.map(row(p, _, None))
        last = Main.secondsSince(t0)
        passS.add(last)
        p += 1
      }
    } else {
      // one paired pass: each row runs untraced (pass 0) and traced
      // (pass 1) back to back, alternating which goes first
      val counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      val tracer = new Tracer
      names.indices.foreach { i =>
        if (i % 2 == 0) { recs += row(0, i, None); recs += row(1, i, Some(tracer)) }
        else { val t = row(1, i, Some(tracer)); recs += row(0, i, None); recs += t }
      }
      counters.drain(spark)
      spark.listenerManager.unregister(counters)
      spark.sparkContext.removeSparkListener(counters)
      Main.writeTrace(args.out, tracer, counters)
    }
    Main.writeLines(new File(args.out, "results.jsonl"), recs.map { r =>
      val n = Main.mapper.createObjectNode().put("pass", r.pass).put("row", r.row)
        .put("construct_ms", r.constructMs).put("execute_ms", r.executeMs)
      r.error.fold(n.put("ok", true))(e => n.put("ok", false).put("error", e))
    })
  }
}

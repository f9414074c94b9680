package graft.perfbench

import java.io.{BufferedWriter, File}
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`perfbench/run.py` drives it).
  *
  * {{{
  * Main --workload api_point|pipeline_batch --data <dir>
  *      --ops <ops.jsonl> --seconds <s> --trace 0|1 --out <dir>
  * Main --workload oracle-sql --ops <ops.jsonl> --out <dir>
  * }}}
  *
  * It runs the generated ops against the engine, timing them from this
  * harness's own code, and writes raw records to `--out`: `summary.json`,
  * `results.jsonl` (one line per op), and for traced runs `spans.jsonl`,
  * `jobs.jsonl`, `stages.jsonl` and `phases.jsonl`. All statistics are
  * computed by run.py from these files.
  */
object Main {

  val mapper = new ObjectMapper()

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def workload: String = apply("workload")
    def data: String = apply("data")
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def out: File = new File(apply("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    args.out.mkdirs()
    val header = Ops.header(args("ops"))
    if (args.workload == "oracle-sql") {
      Pipeline.writeOracleSql(header, args.out)
      return
    }
    val summary = mapper.createObjectNode()
    val tSession = System.nanoTime()
    val spark = session()
    canary(spark) // JVM/executor warm-up; also pays the canary plan's codegen
    summary.put("session_s", secondsSince(tSession))
    summary.put("canary_before_s", canary(spark))
    args.workload match {
      case "api_point" => Engine.run(spark, args, header, summary)
      case "pipeline_batch" => Pipeline.run(spark, args, header, summary)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    summary.put("canary_after_s", canary(spark))
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    summary.put("gc_ms", gcMs)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    summary.put("heap_peak_mb", heapPeak / 1048576.0)
    Files.writeString(new File(args.out, "summary.json").toPath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(summary))
    spark.stop()
  }

  /** `local[nproc]` with the engine bench's settings; scratch paths come
    * from the JVM's `java.io.tmpdir`, which run.py points into the
    * benchmark's work directory.
    */
  def session(): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The engine bench's host-noise canary: one fixed, data-independent
    * range shuffle + aggregate.
    */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(8000000)
      .selectExpr("id % 9973 AS k", "id")
      .groupBy("k").sum("id")
      .write.format("noop").mode("overwrite").save()
    secondsSince(t0)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Write one JSON object per line. */
  def writeLines(file: File, nodes: Iterable[ObjectNode]): Unit = {
    val w: BufferedWriter = Files.newBufferedWriter(file.toPath)
    try nodes.foreach { n => w.write(mapper.writeValueAsString(n)); w.newLine() }
    finally w.close()
  }

  /** Dump the traced run's spans and Spark counters. */
  def writeTrace(out: File, tracer: Tracer, counters: SparkCounters): Unit = {
    writeLines(new File(out, "spans.jsonl"), tracer.spans.map { s =>
      val n = mapper.createObjectNode()
      n.put("op", s.op).put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("t0", s.t0).put("t1", s.t1)
    })
    counters.synchronized {
      writeLines(new File(out, "jobs.jsonl"), counters.jobs.map { j =>
        val n = mapper.createObjectNode()
        n.put("job", j.job).put("submit_ms", j.submitMs).put("group", j.group)
        val st = n.putArray("stages"); j.stages.foreach(st.add(_)); n
      })
      writeLines(new File(out, "stages.jsonl"), counters.stages.map { case (id, s) =>
        mapper.createObjectNode().put("stage", id).put("tasks", s.tasks)
          .put("run_ms", s.runMs).put("scheduler_delay_ms", s.schedulerDelayMs)
          .put("shuffle_read_bytes", s.shuffleReadBytes)
          .put("shuffle_write_bytes", s.shuffleWriteBytes)
          .put("spill_bytes", s.spillBytes).put("result_bytes", s.resultBytes)
          .put("records_read", s.recordsRead)
      })
      writeLines(new File(out, "phases.jsonl"), counters.phases.map { p =>
        mapper.createObjectNode().put("phase", p.phase)
          .put("start_ms", p.startMs).put("end_ms", p.endMs)
      })
    }
  }
}

/** The generated op file: a header line, then one op per line. */
object Ops {
  import com.fasterxml.jackson.databind.JsonNode

  final case class Op(seq: Int, kind: String, template: String, body: String)

  /** An op from its JSON form; reloads carry no body. */
  def op(seq: Int, n: JsonNode): Op =
    Op(seq, n.get("kind").asText(), n.get("template").asText(),
      Option(n.get("body")).filterNot(_.isNull).map(_.asText()).getOrElse(""))

  def header(path: String): JsonNode = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try Main.mapper.readTree(src.getLines().next())
    finally src.close()
  }

  def ops(path: String): IndexedSeq[Op] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).zipWithIndex.map { case (line, i) =>
      val n = Main.mapper.readTree(line)
      op(i, n)
    }.toIndexedSeq
    finally src.close()
  }
}

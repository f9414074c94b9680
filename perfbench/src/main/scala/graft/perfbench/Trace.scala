package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call. Times are epoch microseconds (see [[Clock]]);
  * `parent` is the enclosing span's id or -1.
  */
final case class Span(op: Int, id: Int, parent: Int, name: String, t0: Long, t1: Long)

/** Clock shared by spans and Spark's millisecond timestamps: `nowUs` maps
  * `System.nanoTime` onto epoch microseconds, so job submission and
  * Catalyst phase times (epoch ms) line up with spans.
  */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory span recorder for the single benchmark thread that replays
  * ops. Spans nest by call order; nothing is written until [[Tracer.spans]]
  * is dumped at the end of the run.
  */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(op, id, stack.headOption.getOrElse(-1), name, Clock.nowUs(), -1L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(t1 = Clock.nowUs())
    }
  }
}

/** Per-stage task totals, summed over the stage's finished tasks. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0L
  var schedulerDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var recordsRead = 0L
}

final case class JobRecord(job: Int, submitMs: Long, group: String, stages: Seq[Int])
final case class PhaseRecord(phase: String, startMs: Long, endMs: Long)

/** Spark-side counters for the traced run: jobs with their submission time
  * and job group, per-stage task metrics, and the Catalyst phase times of
  * every executed query. Events arrive on Spark's listener bus threads;
  * everything is read only after [[drain]].
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobRecord]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageTotals]
  val phases = ArrayBuffer.empty[PhaseRecord]
  private val endedJobs = scala.collection.mutable.Set.empty[Int]
  @volatile private var lastQueryEndMs = 0L
  private var drains = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JobRecord(e.jobId, e.time, group.getOrElse(""), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(endedJobs += e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageTotals)
      s.tasks += 1
      s.runMs += m.executorRunTime
      // time the task spent neither deserializing, running nor serializing
      // its result: launch overhead and result fetch (Spark UI definition)
      s.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRecord(name, p.startTimeMs, p.endTimeMs)
    }
    lastQueryEndMs = System.currentTimeMillis()
  }

  /** Wait until both listener paths have delivered the events of a marker
    * query run now, so every earlier event has been counted.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    drains += 1
    val group = s"perfbench-drain-$drains"
    val since = System.currentTimeMillis()
    spark.sparkContext.setJobGroup(group, "listener drain marker")
    try spark.range(1).collect()
    finally spark.sparkContext.clearJobGroup()
    def done = synchronized(jobs.exists(j => j.group == group && endedJobs(j.job))) &&
      lastQueryEndMs >= since
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

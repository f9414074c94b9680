package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** [[Concurrent.all]]: input-order results, a failed branch cancels its
  * running sibling's Spark job and rethrows, no branch thread outlives the
  * call, and branch jobs stay in (and are cancellable through) the
  * caller's job group.
  */
class ConcurrentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  /** Natural run time of one [[slowJob]]: far beyond every bound below. */
  private val SlowSeconds = 60L

  /** A Spark job whose tasks sleep [[SlowSeconds]] unless killed; tagged
    * with local property `test.branch` = `name` so the listener finds it.
    */
  private def slowJob(name: String): Long = {
    spark.sparkContext.setLocalProperty("test.branch", name)
    val secs = SlowSeconds
    val slow = udf { (x: Long) =>
      val ctx = TaskContext.get()
      val end = System.nanoTime() + TimeUnit.SECONDS.toNanos(secs)
      while (System.nanoTime() < end && !ctx.isInterrupted()) Thread.sleep(20)
      x
    }
    spark.range(0, 2, 1, 2).select(slow(col("id"))).collect().length.toLong
  }

  /** Job starts/ends of [[slowJob]]s, keyed by branch name. */
  private class Jobs extends SparkListener {
    val ids = new ConcurrentHashMap[String, Integer]()
    val groups = new ConcurrentHashMap[String, String]()
    val failed = new ConcurrentHashMap[Integer, java.lang.Boolean]()
    val started = new ConcurrentHashMap[String, CountDownLatch]()
    val ended = new ConcurrentHashMap[Integer, CountDownLatch]()
    def startLatch(b: String) = started.computeIfAbsent(b, _ => new CountDownLatch(1))
    def endLatch(id: Int) = ended.computeIfAbsent(id, _ => new CountDownLatch(1))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("test.branch"))).foreach { b =>
        ids.put(b, e.jobId)
        groups.put(b, Option(e.properties.getProperty("spark.jobGroup.id")).getOrElse(""))
        startLatch(b).countDown()
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      failed.put(e.jobId, e.jobResult.isInstanceOf[JobFailed])
      endLatch(e.jobId).countDown()
    }
  }

  private def withListener[A](body: Jobs => A): A = {
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try body(jobs) finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("results come back in input order, whatever order branches finish in") {
    val out = Concurrent.all(spark)(Seq(
      () => { Thread.sleep(300); "slow" }, () => "fast", () => "mid"))
    assert(out == Seq("slow", "fast", "mid"))
  }

  test("a failed branch cancels its sibling's job, rethrows, and leaves no branch thread") {
    withListener { jobs =>
      val sc = spark.sparkContext
      val group = s"concurrent-spec-${System.nanoTime()}"
      val boom = new IllegalStateException("branch A failed")
      val threads = new ConcurrentHashMap[String, Thread]()
      sc.setJobGroup(group, "concurrent spec caller")
      val t0 = System.nanoTime()
      val thrown = try intercept[IllegalStateException] {
        Concurrent.all(spark)(Seq(
          () => {
            threads.put("A", Thread.currentThread())
            assert(jobs.startLatch("B").await(60, TimeUnit.SECONDS), "B's job never started")
            throw boom
          },
          () => { threads.put("B", Thread.currentThread()); slowJob("B") }))
      } finally sc.clearJobGroup()
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(thrown eq boom)
      val b: Int = jobs.ids.get("B")
      assert(jobs.endLatch(b).await(20, TimeUnit.SECONDS), "B's job never ended")
      assert(jobs.failed.get(b), "B's job should end cancelled (JobFailed)")
      assert(elapsed < SlowSeconds / 3, s"all() took $elapsed s; B runs $SlowSeconds s")
      assert(jobs.groups.get("B") == group, "branch jobs must keep the caller's job group")
      assert(threads.size == 2)
      threads.values.forEach(t => assert(!t.isAlive, s"${t.getName} outlived the call"))
    }
  }

  test("cancelling the caller's job group reaches the branch jobs") {
    withListener { jobs =>
      val sc = spark.sparkContext
      val group = s"concurrent-spec-cancel-${System.nanoTime()}"
      val canceller = new Thread(() => {
        if (jobs.startLatch("C").await(60, TimeUnit.SECONDS) &&
            jobs.startLatch("D").await(60, TimeUnit.SECONDS))
          sc.cancelJobGroup(group)
      })
      canceller.setDaemon(true)
      canceller.start()
      sc.setJobGroup(group, "concurrent spec caller")
      val t0 = System.nanoTime()
      try intercept[org.apache.spark.SparkException] {
        Concurrent.all(spark)(Seq(() => slowJob("C"), () => slowJob("D")))
      } finally sc.clearJobGroup()
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(elapsed < SlowSeconds / 3, s"all() took $elapsed s; branches run $SlowSeconds s")
      Seq("C", "D").foreach { b =>
        val id: Int = jobs.ids.get(b)
        assert(jobs.endLatch(id).await(20, TimeUnit.SECONDS), s"$b's job never ended")
        assert(jobs.failed.get(id), s"$b's job should end cancelled")
      }
      canceller.join()
    }
  }
}

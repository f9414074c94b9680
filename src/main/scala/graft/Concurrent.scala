package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.SparkSession

/** The one way this engine overlaps independent eager Spark work, each
  * branch building and running its own jobs: index probe vs in-batch
  * closure, the criteria matrix's four pair kernels, the media
  * modalities' decodes.
  *
  * Each call gets its own pool, one thread per branch, created from the
  * calling thread — Spark copies the caller's local properties (job
  * group, description, tags, `interruptOnCancel`) into a thread only when
  * it is created, so every branch job is attributed to, and cancellable
  * through, the caller's job group. A shared long-lived pool would pin
  * whichever caller first spawned each thread. Branches add a job TAG of
  * their own and never touch the group.
  *
  * Rules:
  *  - results come back in input order;
  *  - on the first failure, every unfinished sibling's jobs are cancelled
  *    by tag (again, until the sibling returns — a branch may start its
  *    next job after a cancel), then the first failure is rethrown
  *    unwrapped; no branch thread outlives the call;
  *  - there is no timeout: a correct long branch must not fail at an
  *    arbitrary wall limit. A caller that needs one sets it on its own
  *    job group (`MultiDb.withTimeout`), and cancelling that group
  *    reaches the branch jobs, which inherit it.
  */
object Concurrent {

  private val calls = new AtomicLong()

  def all[T](spark: SparkSession)(branches: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-branch-${calls.incrementAndGet()}"
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(math.max(1, branches.size), { r =>
      val th = new Thread(r, tag)
      th.setDaemon(true)
      threads.add(th)
      th
    })
    val done = new ExecutorCompletionService[T](pool)
    try {
      val futures = branches.zipWithIndex.map { case (branch, i) =>
        done.submit(() => { sc.addJobTag(s"$tag-$i"); branch() })
      }
      try {
        // completion order, so the first failure surfaces at once
        futures.foreach(_ => done.take().get())
        futures.map(_.get())
      } catch {
        case e: Throwable =>
          var live = futures.indices.filterNot(futures(_).isDone)
          while (live.nonEmpty) {
            live.foreach(i => sc.cancelJobsWithTag(s"$tag-$i"))
            LockSupport.parkNanos(TimeUnit.MILLISECONDS.toNanos(20))
            live = live.filterNot(futures(_).isDone)
          }
          throw (e match { case x: ExecutionException => x.getCause; case x => x })
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      // the pool reports termination just before its last worker thread
      // exits: join them, so no branch thread outlives the call
      threads.forEach(_.join())
    }
  }
}

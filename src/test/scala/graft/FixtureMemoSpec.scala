package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** [[TempDirs.memo]]: one build per `(kind, key)`, nested calls for other
  * keys, no memoized failures, and independent keys building in parallel.
  */
class FixtureMemoSpec extends AnyFunSuite {

  private def kind(name: String) = s"memo-spec-$name-${System.nanoTime()}"

  /** Runs `n` copies of `body` on their own threads and returns the results. */
  private def onThreads[A](n: Int)(body: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val fs = (0 until n).map(i => pool.submit(() => body(i)))
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("a build may call the memo for another key") {
    val k = kind("nested")
    // the ivfIndex → embCount shape: the outer build reads other memos,
    // enough of them that the map grows while the outer build runs
    val v = TempDirs.memo(k, "index") {
      (0 until 256).map(i => TempDirs.memo(k, s"count-$i")(i.toLong)).sum
    }
    assert(v == (0 until 256).sum)
    assert(TempDirs.memo(k, "count-41")(0L) == 41L)
    assert(TempDirs.memo(k, "index")(0L) == v)
  }

  test("concurrent callers of one key run the build once") {
    val k = kind("once")
    val builds = new AtomicInteger()
    val ready = new CountDownLatch(8)
    val out = onThreads(8) { _ =>
      ready.countDown()
      ready.await()
      TempDirs.memo(k, "dir") { builds.incrementAndGet(); Thread.sleep(200); "built" }
    }
    assert(out == Seq.fill(8)("built"))
    assert(builds.get == 1)
  }

  test("a build that throws is not memoized: the next call builds again") {
    val k = kind("retry")
    val builds = new AtomicInteger()
    intercept[RuntimeException] {
      TempDirs.memo[String](k, "dir") { builds.incrementAndGet(); throw new RuntimeException("write failed") }
    }
    assert(TempDirs.memo(k, "dir") { builds.incrementAndGet(); "ok" } == "ok")
    assert(TempDirs.memo(k, "dir")("unused") == "ok")
    assert(builds.get == 2)
  }

  test("different keys build at the same time, not one after the other") {
    val k = kind("parallel")
    val both = new CountDownLatch(2)
    // each build waits until the other has started: builds serialized on
    // one lock would time out here instead of meeting
    val met = onThreads(2) { i =>
      TempDirs.memo(k, s"asset-$i") { both.countDown(); both.await(20, TimeUnit.SECONDS) }
    }
    assert(met == Seq(true, true))
  }
}

package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs started while `body` runs, in any job group (a `MultiDb`
    * query runs its jobs under a group of its own). A listener counts the
    * job starts between two marker jobs, run before and after `body`; the
    * listener bus delivers events in order, so seeing the second marker
    * means every job `body` started has been seen.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = session.sparkContext
    val marker = s"jobs-during-marker-${System.nanoTime()}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def markerJob(): Unit = {
      sc.setJobGroup(marker, "listener flush marker")
      try session.range(1).collect() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      markerJob()
      body
      markerJob()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (groups.asScala.count(_ == marker) < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      val seen = groups.asScala.toSeq
      assert(seen.count(_ == marker) == 2, "listener never saw the marker jobs")
      seen.dropWhile(_ != marker).drop(1).takeWhile(_ != marker).size
    } finally sc.removeSparkListener(listener)
  }

  /** Writes `df` as one parquet file at `file` (replacing it). */
  def writeParquet(df: DataFrame, file: File): Unit = {
    val dir = TempDirs.create("graft-test-pq-write").resolve("out").toString
    df.coalesce(1).write.parquet(dir)
    val part = new File(dir).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
  }
}

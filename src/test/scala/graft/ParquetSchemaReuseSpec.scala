package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.MultiDb
import graft.meta._
import graft.planner.SourceRegistry
import graft.sources.SourceLoaders
import graft.types._

/** `SourceLoaders.parquet` infers a file's schema once per file version:
  * repeat loads run no Spark job, a rewritten file re-infers, and a missing
  * file still fails the load (QUERY_FAILED, unhealthy executor).
  */
class ParquetSchemaReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import TestSpark.session.implicits._

  /** Writes `df` as one parquet file at `file` (replacing it). */
  private def writeParquet(df: DataFrame, file: File): Unit = {
    val dir = TempDirs.create("graft-test-pq-write").resolve("out").toString
    df.coalesce(1).write.parquet(dir)
    val part = new File(dir).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  private def tempFile(): File =
    TempDirs.create("graft-test-pq").resolve("items.parquet").toFile

  /** Jobs started while `body` runs on this thread, counted by a listener
    * that a marker job (in another group) has flushed.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"schema-reuse-${System.nanoTime()}"
    val marker = s"$group-marker"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "schema reuse probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** A one-table engine over `path`, loaded through `SourceLoaders.parquet`. */
  private def engine(path: File): MultiDb = MultiDb(spark,
    MetadataConfig(
      databases = Seq(DatabaseMeta("pq", "parquet")),
      tables = Seq(TableMeta("items", "items", "pq", "items",
        Seq(ColumnMeta("id", "id", "int"), ColumnMeta("v", "v", "int")),
        primaryKey = Seq("id")))),
    Seq(RoleMeta("admin", None)),
    SourceRegistry(Map(("pq", "items") -> SourceLoaders.parquet(spark, path.getPath))))

  private val byId = QueryDefinition("items", columns = Some(Seq("id", "v")),
    orderBy = Seq(QueryOrderBy("id", "asc")))

  test("repeat loads of an unchanged file run no Spark job and keep the inferred schema") {
    val file = tempFile()
    writeParquet(Seq((1, 10), (2, 20)).toDF("id", "v"), file)
    val load = SourceLoaders.parquet(spark, file.getPath)
    assert(jobsDuring(load()) >= 1) // first load infers (and proves the counter counts)
    var frames = Seq.empty[DataFrame]
    assert(jobsDuring { frames = Seq.fill(3)(load()) } == 0)
    val inferred = spark.read.parquet(file.getPath).schema
    frames.foreach(f => assert(f.schema == inferred))
    // every load is a fresh relation: a self-join resolves without ambiguity
    val Seq(a, b, _) = frames
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    assert(a.join(b, a("id") === b("v") / 10).count() == 2)
  }

  test("a file or directory rewritten with a different column type re-infers its schema") {
    val file = tempFile()
    val dir = new File(tempFile().getParentFile, "items")
    val writers = Seq[(File, DataFrame => Unit)](
      file -> (df => writeParquet(df, file)),
      dir -> (df => df.coalesce(1).write.mode("overwrite").parquet(dir.getPath)))
    writers.foreach { case (path, write) =>
      write(Seq((1, 10), (2, 20)).toDF("id", "v"))
      val db = engine(path)
      assert(db.query(byId).asInstanceOf[DataResult].data.map(_("v")) == Seq(10, 20))
      write(Seq((1, 5000000000L), (2, 6000000000L)).toDF("id", "v"))
      assert(db.query(byId).asInstanceOf[DataResult].data.map(_("v")) ==
        Seq(5000000000L, 6000000000L), s"after rewriting $path")
    }
  }

  test("a deleted file fails the query as QUERY_FAILED and the executor as unhealthy") {
    val file = tempFile()
    writeParquet(Seq((1, 10)).toDF("id", "v"), file)
    val db = engine(file)
    assert(db.query(byId).asInstanceOf[DataResult].data.size == 1)
    assert(db.healthCheck().executors("pq").healthy)
    assert(file.delete())
    val e = intercept[ExecutionError](db.query(byId))
    assert(e.code == "QUERY_FAILED")
    val h = db.healthCheck()
    assert(!h.healthy && !h.executors("pq").healthy)
  }
}

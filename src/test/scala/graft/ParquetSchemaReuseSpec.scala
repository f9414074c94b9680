package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.MultiDb
import graft.meta._
import graft.planner.SourceRegistry
import graft.sources.SourceLoaders
import graft.types._
import TestSpark.{jobsDuring, writeParquet}

/** `SourceLoaders.parquet` infers a file's schema once per file version
  * and parquet read settings: repeat loads run no Spark job, a rewritten
  * file or a changed setting re-infers, and a missing file still fails the
  * load (QUERY_FAILED, unhealthy executor).
  */
class ParquetSchemaReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import TestSpark.session.implicits._

  private def tempFile(): File =
    TempDirs.create("graft-test-pq").resolve("items.parquet").toFile

  /** A one-table engine over `path`, loaded through `SourceLoaders.parquet`. */
  private def engine(path: File): MultiDb = MultiDb(spark,
    MetadataConfig(
      databases = Seq(DatabaseMeta("pq", "parquet")),
      tables = Seq(TableMeta("items", "items", "pq", "items",
        Seq(ColumnMeta("id", "id", "int"), ColumnMeta("v", "v", "int")),
        primaryKey = Seq("id")))),
    Seq(RoleMeta("admin", None)),
    SourceRegistry(Map(("pq", "items") -> (() => SourceLoaders.parquet(spark, path.getPath)))))

  private val byId = QueryDefinition("items", columns = Some(Seq("id", "v")),
    orderBy = Seq(QueryOrderBy("id", "asc")))

  test("repeat loads of an unchanged file run no Spark job and keep the inferred schema") {
    val file = tempFile()
    writeParquet(Seq((1, 10), (2, 20)).toDF("id", "v"), file)
    val load = () => SourceLoaders.parquet(spark, file.getPath)
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

  test("a file rewritten in place inside a partition directory re-infers its schema") {
    // the directory entries above the file do not change when it is
    // rewritten in place, so only a recursive file version sees it
    def bytes(df: DataFrame): Array[Byte] = {
      val f = tempFile()
      writeParquet(df, f)
      Files.readAllBytes(f.toPath)
    }
    val dir = new File(tempFile().getParentFile, "parts")
    val file = new File(dir, "p=1/x.parquet").toPath
    Files.createDirectories(file.getParent)
    Files.write(file, bytes(Seq((1, 10)).toDF("id", "v")))
    val load = () => SourceLoaders.parquet(spark, dir.getPath)
    assert(load().schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    Files.write(file, bytes(Seq((1, 5000000000L)).toDF("id", "v")))
    val reloaded = load()
    assert(reloaded.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(reloaded.select("v").as[Long].collect().toSeq == Seq(5000000000L))
  }

  test("switching spark.sql.parquet.mergeSchema between two loads re-infers the schema") {
    val dir = new File(tempFile().getParentFile, "merge")
    Seq((1, 10)).toDF("id", "a").write.parquet(new File(dir, "p=1").getPath)
    Seq((2, 20)).toDF("id", "b").write.parquet(new File(dir, "p=2").getPath)
    val load = () => SourceLoaders.parquet(spark, dir.getPath)
    assert(load().schema.fieldNames.toSet != Set("id", "a", "b", "p"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = load()
      assert(merged.schema == spark.read.parquet(dir.getPath).schema)
      assert(merged.schema.fieldNames.toSet == Set("id", "a", "b", "p"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(load().schema == spark.read.parquet(dir.getPath).schema)
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

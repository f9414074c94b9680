package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source readers: each logical database maps to whatever reader fits its
  * engine. [[parquet]] is the one parquet read path of the whole engine
  * (registry loaders, the query registry's tables and fixtures, ANN index
  * serves); only the offline `tools/` mains read parquet directly. The JDBC
  * loader shows the federated path (compile-checked only: no test reaches
  * a live database) — partitioned reads keep a 100 TB table from funneling
  * through one connection.
  */
object SourceLoaders {

  /** Every runtime parquet read: `spark.read.parquet(path)` with the
    * inferred schema memoized JVM-wide.
    *
    * `spark.read.parquet` runs a Spark job to read footers and infer the
    * schema on every call. This reader lists the path again on every call
    * (so a missing file still fails the read) and keys the inferred schema
    * by qualified path. While the path's recursive [[fileVersion]] and the
    * session's parquet read settings ([[parquetSettings]]) both match the
    * entry, it returns `spark.read.schema(memo).parquet(path)`: a fresh
    * relation (fresh attribute ids, field metadata kept) built with no
    * Spark job. Otherwise it infers again and replaces the entry.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val key = root.getFileSystem(conf).makeQualified(root).toString
    val version = fileVersion(conf, root)
    val settings = parquetSettings(spark)
    Option(schemas.get(key)) match {
      case Some(e) if e.version == version && e.settings == settings =>
        spark.read.schema(e.schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, SchemaEntry(version, settings, df.schema))
        df
    }
  }

  private final case class SchemaEntry(version: Seq[FileStamp],
      settings: Map[String, String], schema: StructType)

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, SchemaEntry]()

  /** The session settings that change what parquet schema inference
    * returns (`mergeSchema`, the legacy timestamp and int96 readings,
    * partition column typing): every explicitly set key under these
    * prefixes.
    */
  private def parquetSettings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k.startsWith("spark.sql.sources.partitionColumnTypeInference.")
    }

  /** One file's identity for change detection: qualified path, length and
    * modification time. A rewrite that keeps the length within the file
    * system's mtime granularity goes unseen, as it does for Spark's own
    * file listing.
    */
  final case class FileStamp(path: String, length: Long, modificationTime: Long)

  /** Every file under `root`, listed recursively (hidden files included),
    * sorted by path; `root` itself when it is a file. Throws
    * `FileNotFoundException` when `root` is missing.
    */
  def fileVersion(conf: Configuration, root: Path): Seq[FileStamp] = {
    val fs = root.getFileSystem(conf)
    def walk(st: FileStatus): Seq[FileStamp] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.toString).flatMap(walk)
      else Seq(FileStamp(st.getPath.toString, st.getLen, st.getModificationTime))
    walk(fs.getFileStatus(root))
  }

  /** Partition-parallel JDBC scan: `partitionColumn` must be indexed and
    * roughly uniform; Spark issues `numPartitions` range queries. Filters
    * and column pruning push down through the JDBC source.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: java.util.Properties = new java.util.Properties)
      : () => DataFrame =
    () => spark.read
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .jdbc(url, table, props)
}

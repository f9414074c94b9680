package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.MultiDb
import graft.meta._
import graft.planner.SourceRegistry

/** Registers the driver-generated TPC-H-ish testdata (TESTDATA.md) as a
  * source namespace so the same engine surface drives both fixture families
  * (FIXTURES.md §B). apiNames are camelCase (apiName grammar forbids
  * snake_case); physicalNames are the parquet column names. Floating-point
  * measure columns are declared `decimal` — the resolver then accumulates
  * aggregates exactly (partition-order independent) and casts back to double.
  */
object TpchCatalog {

  private def c(api: String, phys: String, t: String, nullable: Boolean = false) =
    ColumnMeta(api, phys, t, nullable)

  val tables: Seq[TableMeta] = Seq(
    TableMeta("region", "region", "tpch", "region", Seq(
      c("regionkey", "r_regionkey", "int"), c("name", "r_name", "string")),
      primaryKey = Seq("regionkey")),
    TableMeta("nation", "nation", "tpch", "nation", Seq(
      c("nationkey", "n_nationkey", "int"), c("name", "n_name", "string"),
      c("regionkey", "n_regionkey", "int")),
      primaryKey = Seq("nationkey"),
      relations = Seq(RelationMeta("regionkey", "region", "regionkey"))),
    TableMeta("customer", "customer", "tpch", "customer", Seq(
      c("custkey", "c_custkey", "int"),
      ColumnMeta("name", "c_name", "string", maskingFn = Some("name")),
      c("nationkey", "c_nationkey", "int"), c("acctbal", "c_acctbal", "decimal"),
      c("mktsegment", "c_mktsegment", "string")),
      primaryKey = Seq("custkey"),
      relations = Seq(RelationMeta("nationkey", "nation", "nationkey"))),
    TableMeta("supplier", "supplier", "tpch", "supplier", Seq(
      c("suppkey", "s_suppkey", "int"), c("name", "s_name", "string"),
      c("nationkey", "s_nationkey", "int"), c("acctbal", "s_acctbal", "decimal")),
      primaryKey = Seq("suppkey"),
      relations = Seq(RelationMeta("nationkey", "nation", "nationkey"))),
    TableMeta("part", "part", "tpch", "part", Seq(
      c("partkey", "p_partkey", "int"), c("name", "p_name", "string"),
      c("brand", "p_brand", "string"), c("ptype", "p_type", "string"),
      c("size", "p_size", "int"), c("retailprice", "p_retailprice", "decimal")),
      primaryKey = Seq("partkey")),
    TableMeta("orders", "orders", "tpch", "orders", Seq(
      c("orderkey", "o_orderkey", "int"), c("custkey", "o_custkey", "int"),
      c("orderstatus", "o_orderstatus", "string"),
      ColumnMeta("totalprice", "o_totalprice", "decimal", maskingFn = Some("number")),
      c("orderdate", "o_orderdate", "timestamp"),
      c("orderpriority", "o_orderpriority", "string")),
      primaryKey = Seq("orderkey"),
      relations = Seq(RelationMeta("custkey", "customer", "custkey"))),
    TableMeta("lineitem", "lineitem", "tpch", "lineitem", Seq(
      c("orderkey", "l_orderkey", "int"), c("partkey", "l_partkey", "int"),
      c("suppkey", "l_suppkey", "int"), c("linenumber", "l_linenumber", "int"),
      c("quantity", "l_quantity", "decimal"),
      c("extendedprice", "l_extendedprice", "decimal"),
      c("discount", "l_discount", "decimal"), c("tax", "l_tax", "decimal"),
      c("returnflag", "l_returnflag", "string"),
      c("linestatus", "l_linestatus", "string"),
      c("shipdate", "l_shipdate", "timestamp")),
      primaryKey = Seq("orderkey", "linenumber"),
      relations = Seq(
        RelationMeta("orderkey", "orders", "orderkey"),
        RelationMeta("partkey", "part", "partkey"),
        RelationMeta("suppkey", "supplier", "suppkey"))),
    TableMeta("events", "events", "tpch", "events", Seq(
      c("eventId", "event_id", "int"), c("ts", "ts", "timestamp"),
      c("userId", "user_id", "int"), c("eventType", "event_type", "string"),
      c("value", "value", "decimal"), c("props", "props", "string")),
      primaryKey = Seq("eventId")),
    TableMeta("documents", "documents", "tpch", "documents", Seq(
      c("docId", "doc_id", "int"), c("text", "text", "string"),
      c("lang", "lang", "string"), c("source", "source", "string"),
      c("nChars", "n_chars", "int")),
      primaryKey = Seq("docId")),
    TableMeta("embeddings", "embeddings", "tpch", "embeddings", Seq(
      c("vecId", "vec_id", "int"), c("embedding", "embedding", "decimal[]"),
      c("label", "label", "int")),
      primaryKey = Seq("vecId")),
    // third physical source kind: a LIVE JDBC table (embedded Derby,
    // materialized from the nation parquet once per JVM) — the federated
    // path a Postgres/ClickHouse namespace would take, partition-parallel
    TableMeta("nationDim", "nationDim", "warehouse", "nation", Seq(
      c("nationkey", "n_nationkey", "int"), c("name", "n_name", "string"),
      c("regionkey", "n_regionkey", "int")),
      primaryKey = Seq("nationkey")),
    // second physical source kind: a DSv2 in-memory table with the nullable
    // + array columns the TPC-H data lacks (isNull / array-op oracle rows)
    TableMeta("items", "items", "fixture", "graft_fixture_items", Seq(
      c("id", "id", "int"), c("name", "name", "string"),
      c("tag", "tag", "string", nullable = true),
      c("tags", "tags", "string[]", nullable = true),
      c("parentId", "parentId", "int", nullable = true)),
      primaryKey = Seq("id"),
      relations = Seq(RelationMeta("parentId", "items", "id"))),
  )

  def config: MetadataConfig = MetadataConfig(
    databases = Seq(DatabaseMeta("tpch", "parquet"), DatabaseMeta("fixture", "memory"),
      DatabaseMeta("warehouse", "derby")),
    tables = tables,
    // CDC-style replica of the orders fact in the warehouse namespace: the
    // planner's analytical-offload path (explicit relaxed freshness) routes
    // OLAP scans here instead of the primary (C1711/C1716 semantics)
    syncs = Seq(ExternalSync("orders", "warehouse", "orders_replica",
      estimatedLag = "seconds")))

  val roles: Seq[RoleMeta] = Seq(
    RoleMeta("admin", None),
    // restricted role for the masked-path oracle query: sees orders +
    // customer only, with totalprice number-masked and name name-masked
    RoleMeta("analyst", Some(Seq(
      TableRoleAccess("orders", None, maskedColumns = Seq("totalprice")),
      TableRoleAccess("customer", None, maskedColumns = Seq("name"))))))

  def registry(spark: SparkSession, sfDir: String): SourceRegistry = SourceRegistry(
    loaders = tables.collect {
      case t if t.database == "fixture" =>
        ("fixture", t.id) ->
          (() => spark.read.format("graft.sources.FixtureItemsSource").load())
      // dispatch per table id: a future warehouse table without its own
      // loader must surface EXECUTOR_MISSING, never silently read nation
      case t if t.database == "warehouse" && t.id == "nationDim" =>
        ("warehouse", t.id) -> (() => DerbyFixture.nation(spark, sfDir))
      case t if t.database == "tpch" =>
        ("tpch", t.id) -> SourceLoaders.parquet(spark, s"$sfDir/${t.physicalName}.parquet")
    }.toMap,
    // replica content mirrors the primary byte-for-byte (zero simulated
    // lag), so offloaded queries return identical rows — oracle-checkable
    replicaLoaders = Map(("warehouse", "orders") ->
      SourceLoaders.parquet(spark, s"$sfDir/orders.parquet")))

  private val cache = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), MultiDb]()

  /** One MultiDb per (session, sfDir) — loaders stay lazy; reuse avoids
    * re-validating metadata per query call. */
  def multiDb(spark: SparkSession, sfDir: String): MultiDb =
    cache.computeIfAbsent((spark, sfDir),
      _ => MultiDb(spark, config, roles, registry(spark, sfDir)))

  def frame(spark: SparkSession, sfDir: String)(q: graft.types.QueryDefinition): DataFrame =
    multiDb(spark, sfDir).frame(q)
}

/** Source-loader constructors for the registry: each logical database maps
  * to whatever reader fits its engine. Parquet backs the TPC-H catalog; the
  * JDBC form shows the federated path (compile-checked only: no test reaches
  * a live database) — partitioned reads keep a 100 TB table from funneling
  * through one connection.
  */
object SourceLoaders {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.types.StructType

  /** Parquet loader that infers the schema once per file version.
    *
    * `spark.read.parquet` runs a Spark job to read footers and infer the
    * schema on every call. This loader stats the path on every call (so a
    * missing file still fails the load) and keys the inferred schema on its
    * `(modificationTime, length)`; while the key holds it returns
    * `spark.read.schema(memo).parquet(path)`, a fresh relation (fresh
    * attribute ids) built with no Spark job. A rewritten file re-infers.
    * For a directory the key is its newest mtime and total size over its
    * direct children.
    */
  def parquet(spark: SparkSession, path: String): () => DataFrame = {
    val memo = new java.util.concurrent.atomic.AtomicReference[((Long, Long), StructType)]()
    () => {
      val key = stamp(new Path(path), spark)
      Option(memo.get) match {
        case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          memo.set((key, df.schema))
          df
      }
    }
  }

  private def stamp(p: Path, spark: SparkSession): (Long, Long) = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p) // FileNotFoundException when missing
    if (!st.isDirectory) (st.getModificationTime, st.getLen)
    else fs.listStatus(p).foldLeft((st.getModificationTime, 0L)) { case ((m, n), c) =>
      (m max c.getModificationTime, n + c.getLen)
    }
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

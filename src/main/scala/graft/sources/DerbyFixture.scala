package graft.sources

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A LIVE JDBC source for the federated path: the `nation` dim is loaded
  * once per JVM into an embedded Apache Derby database (the only RDBMS on
  * this container's classpath — `/opt/spark/jars/derby-*.jar`), then read
  * back through `spark.read.jdbc` exactly the way a Postgres/ClickHouse
  * namespace would be (reference README.md:20-30 executor-per-engine).
  *
  * The read is partition-parallel: Spark issues `numPartitions` range
  * queries on the integer PK — the pattern that keeps a 100 TB JDBC table
  * from funneling through one connection (see [[SourceLoaders.jdbc]]).
  * Pushdown works through the JDBC relation, so engine filters become SQL
  * WHERE clauses on the database side (pinned by PlanQualitySpec).
  */
object DerbyFixture {

  /** Materialize `<sfDir>/nation.parquet` into a process-private embedded
    * Derby DB (once per JVM per sfDir) and return its JDBC url.
    */
  def nationUrl(spark: SparkSession, sfDir: String): String =
    graft.TempDirs.memo("graft_derby", sfDir) {
      val dir = graft.TempDirs.create("graft_derby")
      // keep derby.log out of the process cwd
      System.setProperty("derby.stream.error.file", s"$dir/derby.log")
      val url = s"jdbc:derby:$dir/graftdb;create=true"
      SourceLoaders.parquet(spark, s"$sfDir/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1) // 25 rows; one INSERT connection is plenty
        .write
        // Spark's DerbyDialect maps StringType to CLOB, which Derby cannot
        // compare or index; declare a plain VARCHAR instead
        .option("createTableColumnTypes", "n_name VARCHAR(128)")
        .jdbc(url, "nation", new Properties)
      url
    }

  /** Partition-parallel JDBC read of the materialized dim: 4 range scans
    * on `n_nationkey`. Column pruning and filter pushdown reach Derby.
    */
  def nation(spark: SparkSession, sfDir: String): DataFrame =
    spark.read
      .option("partitionColumn", "n_nationkey")
      .option("lowerBound", 0)
      .option("upperBound", 25)
      .option("numPartitions", 4)
      .jdbc(nationUrl(spark, sfDir), "nation", new Properties)
}

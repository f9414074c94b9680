package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed co-located joins — the 100 TB lever for repeated equi-joins and
  * aggregations on a stable key: pay the partition-by-key shuffle ONCE at
  * write time (`bucketBy` + `sortBy`), then every subsequent join or
  * aggregation on that key reads both sides already hash-partitioned and
  * sorted, so Catalyst plans a SortMergeJoin with NO Exchange on either
  * side (pinned by PlanQualitySpec). On a 1000-executor cluster this turns
  * the nightly fact×fact join from a full network shuffle of the big table
  * into a purely local merge.
  *
  * Tables are written as managed parquet tables in a process-private
  * `graft_buckets` database (Spark's built-in catalog supports bucketed
  * parquet without Hive). Both join sides MUST use the same bucket count,
  * or Spark re-shuffles the smaller side.
  */
object Bucketing {

  private lazy val location =
    graft.TempDirs.create("graft_buckets").toString

  private def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Collision-safe table-name tag for a source directory: a readable
    * sanitized prefix plus a 64-bit content hash (plain sanitization maps
    * e.g. `sf0.1` and `sf0_1` to the same tag; a silent collision would
    * serve one SF's data to another).
    */
  def dirTag(dir: String): String =
    dir.replaceAll("[^a-zA-Z0-9]", "_") + "_" + sha16(dir)

  /** Materialize `df` as a bucketed+sorted managed table, once per JVM per
    * (table, key, buckets) — [[graft.TempDirs.memo]] blocks concurrent
    * callers until the write completes; a re-call with the same name but a
    * different bucketing spec writes a distinct physical table rather than
    * silently serving the stale one. The physical name hashes the SAME
    * delimited spec as the cache key, so two cache entries can never
    * overwrite each other's files. The caller owns keeping `df`'s content
    * stable for a given `table` name. Returns the fully-qualified name.
    */
  def ensureBucketed(spark: SparkSession, df: => DataFrame, table: String,
      key: String, buckets: Int): String = {
    val spec = s"$table|$key|$buckets"
    graft.TempDirs.memo("graft_buckets", spec) {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_buckets LOCATION '$location'")
      val fq = s"graft_buckets.`${table.replaceAll("[^a-zA-Z0-9]", "_")}_${sha16(spec)}`"
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(fq)
      fq
    }
  }
}

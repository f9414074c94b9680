package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a `factor`× copy of a testdata scale-factor directory on
  * disk (default 10× of sf0.1 ≈ sf1.0), for the headline-bench scaling
  * evidence: run the same queries at two scale points a decade apart and
  * record the observed exponents in BENCH_NOTES.md.
  *
  * Shape-preserving, join-consistent replication (the [[Synth]] rules):
  * every 64-bit id column shifts by `rep · 10⁹`, the SAME shift on both
  * sides of every FK (replica r of lineitem joins replica r of orders —
  * the corpus grows, per-key join fan-out does not); fixed-cardinality
  * dimensions (region, nation) copy unchanged, exactly like TPC-H's
  * fixed tables. Document text Caesar-rotates per replica (same lengths
  * and word structure, disjoint shingle sets — no synthetic duplicate
  * explosion) and embeddings multiply by a per-replica deterministic ±1
  * dimension mask (same-replica cosines exactly preserved, cross-replica
  * dots ~0). Timestamps and categorical columns ride through unchanged,
  * so date-range predicates keep their selectivity at every factor.
  *
  * Usage: `runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1.0 10`
  */
object ScaleUp {

  private val Off = 1000000000L

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/sf1.0")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 2 && factor <= 10,
      s"factor out of [2, 10] (Caesar rotations bound it): $factor")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"$t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    // cross-join each row with rep = 0..factor-1, shift the given long id
    // columns by rep·10⁹, leave everything else untouched
    def replicate(df: DataFrame, idCols: Seq[String]): DataFrame = {
      val reps = explode(sequence(lit(0), lit(factor - 1))).as("__rep")
      df.select(col("*"), reps)
        .select(df.columns.map { c =>
          if (idCols.contains(c)) (col(c) + col("__rep").cast("long") * Off).as(c)
          else col(c)
        }: _*)
    }

    // replication rules shared via Synth; identityZero: rep 0 keeps the
    // ORIGINAL text byte-for-byte (the 1× slice of the scaled corpus is
    // the source corpus)
    val caesar: Column =
      Synth.caesarByRep(col("text"), col("__rep"), factor, identityZero = true)
    val signMask: Column = Synth.maskByRep(col("embedding"), col("__rep"), factor)

    // fixed-cardinality dimensions: copy unchanged (the TPC-H convention)
    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), Seq("event_id", "user_id")), "events")

    val docs = read("documents")
    write(docs.select(col("*"),
        explode(sequence(lit(0), lit(factor - 1))).as("__rep"))
      .select((col("doc_id") + col("__rep").cast("long") * Off).as("doc_id"),
        caesar.as("text"), col("lang"), col("source"), col("n_chars")),
      "documents")

    val emb = read("embeddings")
    write(emb.select(col("*"),
        explode(sequence(lit(0), lit(factor - 1))).as("__rep"))
      .select((col("vec_id") + col("__rep").cast("long") * Off).as("vec_id"),
        signMask.as("embedding"), col("label")),
      "embeddings")

    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE definition of the corpus-replication invariants the scale
  * tools ([[ScaleUp]], [[RecallX100]]) build their synthetic decades
  * from. Each tool composes these primitives its own way (fold-CASE
  * columns vs broadcast mask tables), but the rules
  * themselves — what a rotation is, what a replica mask is — live here,
  * so a fix to the mask family or rotation alphabet cannot silently
  * diverge one tool's corpus from another's measurements (r15 review:
  * three tools carried hand-copied variants of the same ~12 lines, and
  * the round's own projSign mask fix had to be applied to two of them).
  *
  * The rules:
  *  - text replicas Caesar-rotate by their replica (mod alphabet use):
  *    same lengths and word structure, DISJOINT shingle sets — corpus
  *    grows without synthetic duplicate explosion; rotation 0 is the
  *    identity, so the 1× slice of a scaled corpus IS the source corpus;
  *  - embedding replicas multiply by a deterministic per-replica ±1
  *    dimension mask from the [[graft.ops.Similarity.projSign]] family
  *    (salt 1000 + replica): same-replica cosines exactly preserved,
  *    cross-replica dots ~0. NOT the banding family — and NOT any affine
  *    generator: affine masks correlate across replicas (two of 100
  *    measured IDENTICAL) and plant false cross-replica near-dup
  *    structure (measured by the since-removed StressX100 tool);
  *  - replica ids shift by replica × a decade-wide constant, the SAME
  *    shift on both sides of any FK, so join fan-out per key is scale-
  *    invariant.
  */
private[graft] object Synth {

  val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** `text` Caesar-rotated by `r` alphabet positions (lowercased first so
    * the alphabet map is total). `rotate(text, 0)` lowercases only.
    */
  def rotate(text: Column, r: Int): Column =
    if (r == 0) lower(text)
    else translate(lower(text), Alpha, Alpha.drop(r % 26) + Alpha.take(r % 26))

  /** Fold-CASE rotation column: rotation class = `repCol` for replicas in
    * [0, maxRot); class 0 keeps the ORIGINAL text byte-for-byte (not even
    * lowercased) when `identityZero` — ScaleUp's rule, where the 1× slice
    * must be the source corpus verbatim.
    */
  def caesarByRep(text: Column, repCol: Column, maxRot: Int,
      identityZero: Boolean = false): Column =
    (1 until maxRot).foldLeft(if (identityZero) text else lower(text)) {
      (acc, r) => when(repCol === r, rotate(text, r)).otherwise(acc)
    }

  /** The per-replica ±1 embedding mask (64 dims): replica 0 = identity. */
  def replicaMask(r: Int): Array[Float] =
    if (r == 0) Array.fill(64)(1.0f)
    else Array.tabulate(64)(i =>
      graft.ops.Similarity.projSign(1000 + r, i + 1).toFloat)

  /** `(__rep, __mask)` table of [[replicaMask]] rows for broadcast-join
    * replication (100-replica decades, where a 100-branch CASE column
    * would not fold).
    */
  def maskTable(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(r => (r, replicaMask(r))).toDF("__rep", "__mask")
  }

  /** The broadcast-mask-table embedding replication ([[RecallX100]]'s
    * decades): n replicas, per-replica ±1 dimension
    * masks, ids shifted by replica × 10M. Checkpointed — the tools time
    * probes, not generation.
    */
  def replicateEmb(spark: SparkSession, df: DataFrame, n: Int): DataFrame = {
    val masks = maskTable(spark, n)
    df.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(n - 1))).as("__rep"))
      .join(broadcast(masks), Seq("__rep"))
      .select((col("vec_id") + col("__rep").cast("long") * 10000000L).as("vec_id"),
        zip_with(col("embedding"), col("__mask"), (x, s) => x * s).as("embedding"))
      .localCheckpoint()
  }

  /** Fold-CASE mask column for small replica counts ([[ScaleUp]]). */
  def maskByRep(v: Column, repCol: Column, n: Int): Column =
    (1 until n).foldLeft(v) { (acc, r) =>
      val mask = array(replicaMask(r).map(lit(_)).toIndexedSeq: _*)
      when(repCol === r, zip_with(v, mask, (x, s) => x * s)).otherwise(acc)
    }
}

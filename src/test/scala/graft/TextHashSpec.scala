package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.ops.Dedup

/** Parity and completeness properties for the native text-hash kernels
  * (graft.functions.TextHashOps):
  *
  *  1. each kernel must equal an independent pure-Scala reference built on
  *     the REGEX normalization path (`lower` + `[^a-z0-9 ]`→space) — this
  *     pins the byte-level fast path to the documented semantics, including
  *     multi-byte UTF-8 separators;
  *  2. the simhash block bucketing must be provably complete: every pair at
  *     Hamming distance ≤ maxHamming < blocks is found (pigeonhole), and
  *     the guard rejects parameters that would silently lose recall
  *     (round-1 VERDICT §wrong-1).
  */
class TextHashSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val P57 = (1L << 57) - 13
  private val P31 = 2147483647L

  private def refWords(text: String): Seq[String] =
    text.toLowerCase.replaceAll("[^a-z0-9 ]", " ").split(" ").filter(_.nonEmpty).toSeq

  private def refPoly(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % P57)

  private def refShingleHashes(text: String): Seq[Long] = {
    val ws = refWords(text)
    if (ws.length < 3) Seq.empty
    else ws.sliding(3).map(g => refPoly(g.mkString(" "))).toSeq.distinct
  }

  private def refMinhash(hs: Seq[Long], k: Int): Seq[Long] =
    (0 until k).map(j =>
      hs.map(h => ((2L * j + 3) * (h % P31) + (j.toLong * j + 7L * j + 41)) % P31).min)

  private def refSimhash(text: String): Long = {
    val ws = refWords(text)
    if (ws.isEmpty) -1L
    else {
      val hs = ws.map(w => refPoly(w) % P31)
      (0 until 31).map { b =>
        val v = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (v > 0) 1L << b else 0L
      }.sum
    }
  }

  private lazy val samples: Seq[String] = Seq(
    "", "   ", "!!!", "one", "one two", "one two three",
    "The QUICK brown FOX—jumps; over the lazy dog!!",
    "a b c a b c a b c", "numbers 123 and 456 mix3d in",
    "repeat repeat repeat repeat repeat") ++
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").limit(40).collect().map(_.getString(0)).toSeq

  private lazy val sampleDf =
    samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("shingle_hashes equals the regex-path Scala reference") {
    val got = sampleDf
      .select(col("id"), TextFunctions.shingle_hashes(col("text")).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    samples.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == refShingleHashes(t), s"sample $i: '${t.take(40)}'")
    }
  }

  test("minhash_sig equals the Scala reference") {
    val got = sampleDf
      .select(col("id"),
        TextFunctions.minhash_sig(TextFunctions.shingle_hashes(col("text")), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    samples.zipWithIndex.foreach { case (t, i) =>
      val hs = refShingleHashes(t)
      val want = if (hs.isEmpty) Seq.empty[Long] else refMinhash(hs, 32)
      assert(got(i.toLong) == want, s"sample $i")
    }
  }

  test("simhash31 equals the Scala reference; -1 sentinel for wordless text") {
    val got = sampleDf
      .select(col("id"), TextFunctions.simhash31(col("text")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    samples.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == refSimhash(t), s"sample $i: '${t.take(40)}'")
    }
    assert(got(0L) == -1L) // empty string
    assert(got(2L) == -1L) // punctuation only
  }

  test("property: kernels equal the Scala reference on 500 generated strings") {
    // deterministic generator over the ASCII alphabet plus a few safe
    // non-ASCII separators (the documented fast-path contract: multi-byte
    // chars tokenize as separators, same as the regex path)
    val rnd = new scala.util.Random(42)
    val alphabet = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      Seq(' ', ' ', ' ', '.', ',', '!', '-', '\t', '\n', 'é', '—', 'ʼ')
    def genString(): String = {
      val n = rnd.nextInt(120)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val cases = Seq.fill(500)(genString())
    cases.foreach { t =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      val gotSh = {
        val a = graft.functions.TextHashOps.shingleHashes(u, 3)
        (0 until a.numElements()).map(a.getLong)
      }
      assert(gotSh == refShingleHashes(t), s"shingles diverge on '$t'")
      assert(graft.functions.TextHashOps.simhash31(u) == refSimhash(t),
        s"simhash diverges on '$t'")
      if (gotSh.nonEmpty) {
        val sig = graft.functions.TextHashOps.minhashSig(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(gotSh.toArray), 16)
        assert((0 until 16).map(sig.getLong) == refMinhash(gotSh, 16),
          s"minhash diverges on '$t'")
      }
      val gotP = {
        val a = graft.functions.TextHashOps.passageHashes(u, 20, 7)
        (0 until a.numElements()).map(a.getLong)
      }
      val refP = { // byte-level fold, matching the kernel's raw-bytes contract
        val bytes = t.getBytes("UTF-8")
        if (bytes.length < 20) Seq.empty[Long]
        else (0 to (bytes.length - 20) / 7).map { i =>
          var h = 0L
          (i * 7 until i * 7 + 20).foreach { j =>
            h = (h * 31 + (bytes(j) & 0xff)) % graft.functions.TextHashOps.P57 }
          h
        }
      }
      assert(gotP == refP, s"passage hashes diverge on '$t'")
    }
  }

  test("simhash blocked pairing equals brute force for d <= maxHamming < blocks") {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(40)(rnd.nextLong() & 0x7fffffffL)
    val sims = base.zipWithIndex.flatMap { case (s, i) =>
      Seq((i * 10L, s),
        (i * 10L + 1, s ^ (1L << rnd.nextInt(31))),
        (i * 10L + 2,
          s ^ (1L << rnd.nextInt(31)) ^ (1L << rnd.nextInt(31)) ^ (1L << rnd.nextInt(31))))
    }
    val df = sims.toDF("id", "sim")
    val got = Dedup.pairsFromHash(df, maxHamming = 3, blocks = 4, bits = 31)
      .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (a, sa) <- sims; (b, sb) <- sims
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(want.nonEmpty)
    assert(got == want) // complete (pigeonhole) AND sound
    intercept[IllegalArgumentException] {
      Dedup.pairsFromHash(df, maxHamming = 4, blocks = 4, bits = 31)
    }
  }

  test("31-bit combo blocking (k=2 and k=3, the sf0.1/sf1.0 shipped layouts) equals brute force") {
    // the corpus-adaptive widths d_dedup_simhash now runs with: pair sets
    // must be blocking-INDEPENDENT (lossless pigeonhole at every k)
    val rnd = new scala.util.Random(23)
    val base = Seq.fill(40)(rnd.nextInt(Int.MaxValue).toLong)
    val sims = base.zipWithIndex.flatMap { case (s, i) =>
      Seq((i * 10L, s),
        (i * 10L + 1, s ^ (1L << rnd.nextInt(31))),
        (i * 10L + 2,
          s ^ (1L << rnd.nextInt(31)) ^ (1L << rnd.nextInt(31)) ^ (1L << rnd.nextInt(31))),
        (i * 10L + 3, rnd.nextInt(Int.MaxValue).toLong))
    }
    val df = sims.toDF("id", "sim")
    val want = (for {
      (a, sa) <- sims; (b, sb) <- sims
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(want.nonEmpty)
    for (k <- Seq(2, 3)) {
      val got = Dedup.pairsFromHash(df, maxHamming = 3, blocks = 3 + k,
          bits = 31, comboWidth = k)
        .select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"comboWidth $k")
    }
    // the pigeonhole precondition still raises when violated at k > 1
    intercept[IllegalArgumentException] {
      Dedup.pairsFromHash(df, maxHamming = 3, blocks = 4, bits = 31, comboWidth = 2)
    }
  }

  test("64-bit blocked pairing (image dHash width) equals brute force, sign bit included") {
    // full-range longs: the sign bit must survive the block-key split
    // (shiftrightunsigned — an arithmetic shift would smear it across
    // every high block and split true pairs into different buckets)
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(30)(rnd.nextLong() | Long.MinValue) // force bit 63
    val sims = base.zipWithIndex.flatMap { case (s, i) =>
      Seq((i * 10L, s),
        (i * 10L + 1, s ^ (1L << rnd.nextInt(64))),
        (i * 10L + 2, s ^ (1L << 63) ^ (1L << rnd.nextInt(63)) ^ (1L << rnd.nextInt(63))),
        (i * 10L + 3, rnd.nextLong()))
    }
    val df = sims.toDF("id", "sim")
    val got = Dedup.pairsFromHash(df, maxHamming = 4, blocks = 5, bits = 64)
      .select("idA", "idB", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (a, sa) <- sims; (b, sb) <- sims
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 4
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }
}

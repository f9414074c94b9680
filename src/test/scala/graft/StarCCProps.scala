package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property suite for [[graft.ops.Dedup.connectedComponentsStar]] — the
  * one closure every clustering/removal/incremental dedup path rides on.
  * The example specs pin chains, triangles, and the id-sum potential;
  * this sweep checks the algorithm against a plain union-find reference
  * on random multigraphs (duplicate edges, both orientations,
  * self-loops, isolated self-loop-only nodes): for EVERY node of the
  * pair list, the emitted
  * component label must be the MINIMUM id reachable from it, and the
  * output must carry exactly one row per distinct node. Spark-backed, so
  * iterations are few; the graphs are small but adversarially shaped
  * (long chains force multiple large/small-star rounds).
  */
object StarCCProps extends Properties("connectedComponentsStar") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withWorkers(1)

  private lazy val spark = TestSpark.session

  // sparse ids (gaps >> n) so min-id labels are not just 0..n, plus a
  // chain backbone over a random subset to force deep closures
  private val genGraph: Gen[List[(Long, Long)]] = for {
    nNodes <- Gen.chooseNum(2, 24)
    ids <- Gen.listOfN(nNodes, Gen.chooseNum(0L, 1000000L)).map(_.distinct)
    nEdges <- Gen.chooseNum(0, 40)
    edges <- Gen.listOfN(nEdges, for {
      u <- Gen.oneOf(ids); v <- Gen.oneOf(ids)
    } yield (u, v))
    chainLen <- Gen.chooseNum(0, ids.size)
  } yield edges ++ ids.take(chainLen).sliding(2).collect {
    case List(a, b) => (a, b)
  }.toList

  private def unionFind(pairs: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    // canonicalize to the min member id (find already roots at the min
    // because unions always parent the larger root under the smaller)
    pairs.flatMap(p => List(p._1, p._2)).distinct
      .map(n => n -> find(n)).toMap
  }

  // evaluate under a forced size-gate setting, restoring the default so
  // the two paths (driver union-find below the cap, distributed loop
  // past it — r20) are each pinned explicitly
  private def withCap[A](cap: Option[String])(body: => A): A = {
    cap match {
      case Some(c) => spark.conf.set("spark.graft.cc.localEdgeCap", c)
      case None => spark.conf.unset("spark.graft.cc.localEdgeCap")
    }
    try body finally spark.conf.unset("spark.graft.cc.localEdgeCap")
  }

  property("labels every pair-list node with its component's min id (both gate paths)") =
    forAll(genGraph) { pairs =>
      pairs.isEmpty || {
        import spark.implicits._
        def got = graft.ops.Dedup.connectedComponentsStar(
            pairs.toDF("idA", "idB"), "idA", "idB")
          .as[(Long, Long)].collect().toMap
        val want = unionFind(pairs)
        withCap(None)(got) == want && withCap(Some("0"))(got) == want
      }
    }

  // EXTREME id magnitudes: node ids are arbitrary longs in production
  // (banded media ids ~2^41, xxhash64-keyed ids spanning the full signed
  // range), and the convergence potential's id-sum overflowed PER ROW
  // (u + v past Long.Max) and in the long accumulator before it moved to
  // widen-then-sum DECIMAL(38,0) — the sf1.0 sweep crashed
  // m_media_dedup_rates on exactly this. Same union-find contract, ids
  // pushed to both extremes of the long line.
  private val genExtremeGraph: Gen[List[(Long, Long)]] = for {
    nNodes <- Gen.chooseNum(2, 12)
    ids <- Gen.listOfN(nNodes, Gen.oneOf(
      Gen.chooseNum(Long.MaxValue - 1000000L, Long.MaxValue),
      Gen.chooseNum(Long.MinValue, Long.MinValue + 1000000L),
      Gen.chooseNum(0L, 1000000L))).map(_.distinct)
    nEdges <- Gen.chooseNum(1, 20)
    edges <- Gen.listOfN(nEdges, for {
      u <- Gen.oneOf(ids); v <- Gen.oneOf(ids)
    } yield (u, v))
  } yield edges

  property("survives and labels correctly at extreme long ids (no ANSI overflow)") =
    forAll(genExtremeGraph) { pairs =>
      pairs.isEmpty || {
        import spark.implicits._
        def got = graft.ops.Dedup.connectedComponentsStar(
            pairs.toDF("idA", "idB"), "idA", "idB")
          .as[(Long, Long)].collect().toMap
        val want = unionFind(pairs)
        // the id-sum potential overflow under test lives on the
        // DISTRIBUTED path; check the driver path rides along unharmed
        withCap(Some("0"))(got) == want && withCap(None)(got) == want
      }
    }
}

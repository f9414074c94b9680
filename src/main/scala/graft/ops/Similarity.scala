package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dot_product
import graft.sources.SourceLoaders

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every ANN tier is one pipeline of three parts, named by a spec:
  *  - a [[Similarity.Router]] picks candidate (qid, cid) pairs: banded
  *    hyperplane [[Similarity.Lsh]], coarse cells ([[Similarity.Ivf]], or
  *    [[Similarity.IvfSharded]] past the one-index broadcast ceiling), or
  *    [[Similarity.Exhaustive]] (every pair);
  *  - a [[Similarity.Codec]] ranks the candidates on a compressed form and
  *    cuts each query's list to `refine`: [[Similarity.Pq]] (ADC over
  *    per-subspace codes, optionally on cell residuals), [[Similarity.Sq8]]
  *    (one byte per dimension), [[Similarity.Projected]] (JL sign
  *    projection), or [[Similarity.Raw]] (no cut);
  *  - one exact cosine rescore keeps the per-query top-k.
  * [[Similarity.annTopK]] runs a spec in flight; [[Similarity.writeAnnIndex]]
  * persists the router state (centroids, cells as partition directories),
  * the codec state (codes, codebook, ranges or projections) and the
  * vectors; [[Similarity.serveAnnIndex]] rebuilds the spec from the index
  * and runs it with every cid-keyed read pruned to the probed cells.
  * [[Similarity.bruteForceTopK]] is the exact reference.
  *
  * The stamp rule: an index carries every spec parameter and sizing
  * integer (`graft.router`, `graft.codec`, `graft.nlist`, …,
  * `graft.corpusCount`) as schema metadata on the `cid` field of its
  * `vectors` table, in every layout. Parquet keeps field metadata, and the
  * serve reads it from the memoized schema ([[SourceLoaders.parquet]]), so
  * sizing a probe or a refine budget runs no Spark job. An index without
  * the stamp RAISES instead of guessing a policy.
  *
  * The inner product is a custom codegen'd Catalyst expression
  * (graft.functions.DotProduct) — Spark's HOF fold is CodegenFallback and
  * interprets every lambda step; the native loop keeps the whole stage in
  * generated code. Summation is sequential, so results stay bit-identical
  * to the DuckDB oracle's `list_reduce` fold. Norms are computed once per
  * row, never per pair.
  */
object Similarity {

  def dot(a: Column, b: Column): Column = dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot_product(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private val MaxDims = 512

  /** ±1 sign of LSH banding hyperplane `p` (0-based) at dimension `i`
    * (1-based) — the [[projSign]] mixing (two modular squares, all
    * intermediates < 2⁶²) under its OWN salt and bit, so banding planes
    * and JL-projection planes are independent families and the DuckDB
    * oracle can recompute the exact matrix in overflow-checked BIGINT
    * (OracleFrag.bandSignSql) — data-independent, reproducible, no
    * stored model.
    *
    * This replaces the original affine generator (one Lehmer step on
    * `a·p + b·i + c`): adjacent plane rows there differ by a constant
    * pre-bit-extraction shift and correlate heavily — planes 11-15
    * measured PAIRWISE |corr| = 1.0, mean 0.60 over the first 16 — so a
    * band of `planes` sign bits collapsed to ~2-4 effective buckets
    * (half the corpus in one bucket per degenerate band), and at a 100×
    * corpus the candidate set measured 57% of ALL pairs: the LSH
    * bounded nothing and every cosine probe degenerated toward
    * all-pairs verification. The earlier "banding only needs per-plane
    * balance" rationale was wrong: bucket entropy IS cross-plane
    * independence. bandSign rows measure mean |corr| 0.098 ≈ the 1/√64
    * independent level across the 120 planes the widest banding uses.
    */
  /** Version of the banding-plane formula family. A persisted band index
    * is only probeable by the formula generation that built it — probing
    * across generations produces buckets that match by 2^-planes chance,
    * i.e. SILENT recall collapse, not an error. [[graft.ops.Dedup.cosineIndex]]
    * stamps this (plus its planes/bands parameters) into the index
    * schema's `bucket` field metadata (survives parquet round-trips);
    * every prober validates and raises on mismatch. v1 = the affine
    * one-step Lehmer generator (never stamped — indexes from it predate
    * stamping and must be re-banded); v2 = [[bandSign]] below.
    */
  val BandFormatVersion: Long = 2L

  def bandSign(p: Int, i: Int): Double = {
    val P31 = 2147483647L
    val s = (1000003L * p + 7919L * i + 54321L) % P31
    val x1 = (s * s) % P31
    val x2 = ((x1 + s) * 48271L) % P31
    val x3 = (x2 * x2) % P31
    if (((x3 >> 17) & 1L) == 1L) 1.0 else -1.0
  }

  /** Deterministic ±1 hyperplane row as a constant-folded literal. Plane
    * vectors are truncated to the data's dimension by DotProduct's
    * min-length loop.
    */
  private def signRow(p: Int): Column =
    array((1 to MaxDims).map(i => lit(bandSign(p, i))): _*)

  /** Bucket id = packed sign bits of `planes` projections starting at
    * plane `firstPlane` (first plane = most significant bit). Distinct
    * `firstPlane` offsets give independent bands for OR-amplified LSH.
    */
  def hyperplaneBucket(v: Column, planes: Int, firstPlane: Int = 0): Column =
    (firstPlane until firstPlane + planes).foldLeft(lit(0L)) { (acc, p) =>
      shiftleft(acc, 1).bitwiseOR(
        when(dot_product(v, signRow(p)) > 0, 1L).otherwise(0L))
    }

  /** Constant-occupancy band width: the planes/band that keeps the
    * EXPECTED vectors-per-bucket near `targetPerBucket` at a corpus of
    * `corpusSize` vectors — the smallest `planes` with
    * `2^planes ≥ corpusSize / targetPerBucket`, clamped to
    * `[minPlanes, maxPlanes]`.
    *
    * This is the operating rule banded cosine LSH needs at scale: a
    * band's bucket count is `2^planes` REGARDLESS of corpus size, so
    * holding planes fixed while the corpus grows 10× grows bucket
    * occupancy — and candidate pairs per probe — ~10× (quadratically for
    * within-corpus pairing). Growing planes with log2(corpus) instead
    * holds occupancy constant: measured across 1×/10×/100× indexes
    * (tools.StressX100, 8/12/15 planes), the SAME incremental-dedup
    * probe is ≤1.3×/decade under this rule vs 2.1× in its first decade
    * with planes held at 8. Size every new index with this; the oracle
    * pins band parameters per query, so RE-sizing an existing index
    * means re-banding it (one pass over stored vectors), not mutating
    * it in place.
    *
    * `maxPlanes` ≤ 62 because a bucket id is the packed sign bits in one
    * long ([[hyperplaneBucket]]); the default cap 30 (~10⁹ buckets/band)
    * is past any single-index size this engine should serve unpartitioned.
    */
  def planesForCorpus(corpusSize: Long, targetPerBucket: Int = 8,
      minPlanes: Int = 4, maxPlanes: Int = 30): Int = {
    require(corpusSize >= 0, s"corpusSize must be >= 0: $corpusSize")
    require(targetPerBucket >= 1, s"targetPerBucket must be >= 1: $targetPerBucket")
    require(minPlanes >= 1 && minPlanes <= maxPlanes && maxPlanes <= 62,
      s"need 1 <= minPlanes <= maxPlanes <= 62: [$minPlanes, $maxPlanes]")
    // exact integer form of ceil(log2(ceil(corpusSize / target))): no
    // double rounding at the 2^k boundaries, and no `2^planes * target`
    // product that could wrap past 2^63 at wide planes
    val neededBuckets =
      if (corpusSize == 0) 0L else (corpusSize - 1) / targetPerBucket + 1
    var planes = 0
    while (planes < maxPlanes && (1L << planes) < neededBuckets) planes += 1
    math.max(minPlanes, planes)
  }

  /** Constant-cell-size IVF list count — the IVF analogue of
    * [[planesForCorpus]]: the nlist that keeps the EXPECTED vectors per
    * coarse cell near `targetCellSize` at a corpus of `corpusSize`
    * vectors — `ceil(corpusSize / targetCellSize)`, clamped to
    * `[minNlist, maxNlist]`.
    *
    * Why constant cell size and not the classic √n: RecallX100 measured
    * both probe policies over 1×/10×/100× corpora under constant cell
    * size, and the recall lever turned out to be the PROBED FRACTION,
    * not the cell count form — constant-fraction probing held and then
    * exceeded its 1× recall (0.47 → 0.73 → 0.98) while constant-count
    * probing decayed (0.47 → 0.24). Constant cell size makes that
    * policy's cost model linear and legible: a probe touches
    * `nprobe × targetCellSize` candidates exactly, cells stay
    * hash-partitionable at any corpus, and re-sizing an index is one
    * re-assignment pass (like re-banding under [[planesForCorpus]]).
    * √n cells would instead grow BOTH the cell size and the cell count
    * with the corpus, so neither the per-cell scan nor the centroid
    * broadcast stays constant.
    *
    * The default target 125 reproduces the long-gated 16-cell layout at
    * the sf0.1 corpus (2000 vectors) — the shipped parameters before
    * this rule existed — and scales it linearly beyond (20k → 160
    * cells, 2M → 16k cells). `maxNlist` bounds the broadcast centroid
    * table (2²⁰ centroids × 64 dims ≈ 0.5 GiB, the practical broadcast
    * ceiling); past it, partition the corpus and shard the index.
    */
  def nlistForCorpus(corpusSize: Long, targetCellSize: Int = 125,
      minNlist: Int = 8, maxNlist: Int = 1 << 20): Int = {
    require(corpusSize >= 0, s"corpusSize must be >= 0: $corpusSize")
    require(targetCellSize >= 1, s"targetCellSize must be >= 1: $targetCellSize")
    require(minNlist >= 1 && minNlist <= maxNlist,
      s"need 1 <= minNlist <= maxNlist: [$minNlist, $maxNlist]")
    val cells =
      if (corpusSize == 0) 0L else (corpusSize - 1) / targetCellSize + 1
    math.max(minNlist.toLong, math.min(maxNlist.toLong, cells)).toInt
  }

  /** Constant-probed-fraction nprobe policy: probe `ceil(nCells /
    * probeDen)` cells — a fixed 1/probeDen of the index — clamped to
    * `[minProbe, nCells]`.
    *
    * This is the measured recall-HOLDING policy (RecallX100, 1×/10×/100×
    * corpora): probing a constant fraction of ever-finer cells held
    * recall@10 at 0.47 → 0.73 → 0.98 while a constant nprobe decayed to
    * 0.24 at 10×. The price is explicit and linear — candidates per
    * query ≈ corpus/probeDen under [[nlistForCorpus]]'s constant cell
    * size — which is the honest cost of held recall ("recall you hold,
    * you pay for"); a deployment that prefers constant cost per query
    * should pin nprobe and accept the documented decay curve instead.
    */
  def nprobeForCells(nCells: Int, probeDen: Int = 4, minProbe: Int = 2): Int = {
    require(nCells >= 1, s"nCells must be >= 1: $nCells")
    require(probeDen >= 1, s"probeDen must be >= 1: $probeDen")
    require(minProbe >= 1, s"minProbe must be >= 1: $minProbe")
    math.min(nCells, math.max(minProbe, (nCells + probeDen - 1) / probeDen))
  }

  /** The SHARD-COUNT probe term (r20 — the rule the r19 verdict's item
    * #4 anticipated, measured before shipping): per-shard nprobe =
    * `ceil(nprobeForCells(cells) · (4 + log2(nShards)) / 2)`, identity
    * at nShards = 1.
    *
    * Why a term exists at all: sharding restricts ASSIGNMENT — a corpus
    * vector whose best union cell lives in another shard lands in a
    * worse own-shard cell, which ranks lower in the query's probe order
    * — so the equal-budget sharded index sits measurably below the
    * unsharded router (100× decade, seeded: 0.907/0.856/0.833 at
    * nShards 2/4/8 vs 0.976 unsharded; identical under per-shard and
    * global allocation, which ruled allocation out). The calibration
    * grid (RecallX100 `GRAFT_RECALL_PROBE_SCALE`) measured the
    * multipliers against BOTH bars: the unsharded-SEEDED 0.976 is
    * bought back at ×2/≈×2.2/×2.5 (nShards 2/4/8), but the
    * unsharded-TRAINED bar is 1.000 and the trained-sharded rows need
    * ×2.5 at nShards=2 to come within 0.02 of it (0.961 at ×2 → 0.984
    * at ×2.5, 0.996 at ×3). The shipped rule (4 + log2 ns)/2 =
    * ×2.5/×3/×3.5 meets the trained criterion at every measured point
    * (seeded reads 0.987/0.997/≥0.993 there). The cost is explicit and
    * linear — candidates per query scale by the same multiplier — the
    * policy family's standing trade ("recall you hold, you pay for"):
    * sharding buys the broadcast ceiling and the 1/nShards assignment
    * scan, and pays the probe premium.
    */
  def nprobeShardedForCells(nCells: Int, nShards: Int): Int = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val base = nprobeForCells(nCells)
    // ceil(log2) for non-power-of-2 shard counts — round the premium up
    val log2 = 32 - Integer.numberOfLeadingZeros(nShards - 1 max 0)
    val num = if (nShards == 1) 2 else 4 + log2
    math.min(nCells, (base * num + 1) / 2)
  }

  /** The expected per-query candidate population an IVF probe ranks:
    * `floor(corpusSize · nProbe / nCells)` under [[nlistForCorpus]]'s
    * near-uniform cells. This is the population whose ADC/decode ranking
    * noise a refine budget must absorb — the input to
    * [[refineForCandidates]] for the cell-routed tiers (the exhaustive
    * PQ/SQ8 tiers rank the whole corpus, so their candidates ARE the
    * corpus count). Multiply-before-divide keeps the integer rule exact
    * and SQL-mirrorable; corpus·nProbe stays far under 2⁶³ for any
    * single index this engine serves unpartitioned (maxNlist 2²⁰).
    */
  def expectedProbed(corpusSize: Long, nCells: Int, nProbe: Int): Long = {
    require(corpusSize >= 0, s"corpusSize must be >= 0: $corpusSize")
    require(nCells >= 1, s"nCells must be >= 1: $nCells")
    require(nProbe >= 1 && nProbe <= nCells,
      s"need 1 <= nProbe <= nCells: [$nProbe, $nCells]")
    // enforce, don't just assert in prose: a pathological corpusSize
    // would WRAP the product silently and size a wrong refine budget —
    // contrary to the family's raise-not-wrap convention
    require(corpusSize <= Long.MaxValue / nProbe,
      s"corpusSize * nProbe would overflow int64: $corpusSize * $nProbe")
    corpusSize * nProbe / nCells
  }

  /** The shipped refine denominator — ONE constant shared by
    * [[refineForCandidates]]'s default and OracleFrag.refineCte's SQL
    * default, so the Scala rule and its DuckDB mirror cannot drift.
    * Chosen from the r17 RecallX100 recall-vs-den table in BENCH_NOTES.
    */
  val RefineDen = 16

  /** Constant-fraction exact-rescore budget — the refine analogue of
    * [[nprobeForCells]]'s constant probed fraction: rescore
    * `ceil(candidates / refineDen)` of the approximately-ranked pool,
    * floored at `minRefine` (the long-gated refine-30 operating point)
    * and capped at `maxRefine` (past ~2¹⁶ exact rescores per query the
    * refine tail rivals the compressed scan it was meant to avoid — grow
    * kCode/subspaces instead at that point).
    *
    * Why a FRACTION and not the fixed 30: RecallX100 measured IVF-PQ at
    * a fixed refine-30 trading recall DOWN with corpus growth even under
    * held routing recall (trained centroids, constant probed fraction:
    * 0.236 → 0.122 → 0.047 across 1×/10×/100×) — with 16 codes per
    * 8-dim subspace the ADC ranking noise scales with the ranked pool,
    * so the true top-k drifts below any constant cutoff. Holding the
    * cutoff AS A FRACTION of the pool absorbs that drift; the measured
    * recall-vs-den table in BENCH_NOTES (r17) is the spec for the
    * default, exactly as the RecallX100 probe table is for
    * [[nprobeForCells]].
    */
  def refineForCandidates(candidates: Long, refineDen: Int = RefineDen,
      minRefine: Int = 30, maxRefine: Int = 1 << 16): Int = {
    require(candidates >= 0, s"candidates must be >= 0: $candidates")
    require(refineDen >= 1, s"refineDen must be >= 1: $refineDen")
    require(minRefine >= 1 && minRefine <= maxRefine,
      s"need 1 <= minRefine <= maxRefine: [$minRefine, $maxRefine]")
    val frac = if (candidates == 0) 0L else (candidates - 1) / refineDen + 1
    math.max(minRefine.toLong, math.min(maxRefine.toLong, frac)).toInt
  }

  /** Corpus-adaptive PQ codebook RESOLUTION — the last ANN dial that was
    * a constant: centroids per subspace codebook, `ceil(corpusSize /
    * targetPerCode)` clamped to `[minKCode, maxKCode]`.
    *
    * Why the codebook must grow with the corpus: with `kCode` centroids
    * per `subDim`-dim subspace, ADC ranks candidates on m·log2(kCode)
    * bits of signal, so the ADC ranking noise is a fixed FRACTION of the
    * ranked pool — the r17 RecallX100 table measured IVF-PQ recall at
    * kCode=16 stuck at 0.593 at a 100× corpus even under held routing
    * (trained centroids, constant probed fraction) and an adaptive
    * refine absorbing 1/16 of the pool, while plain IVF reached 1.000:
    * past a point, MORE REFINE cannot recover rank signal the 4-bit
    * codes never encoded. Growing kCode with the corpus holds the
    * per-candidate code resolution in step with the population the ADC
    * must separate; the r18 RecallX100 column is the measured spec
    * (kCode 16 → 160 → 256 across 1×/10×/100×).
    *
    * The default target 125 reproduces the long-gated kCode=16 at the
    * sf0.1 corpus (2000 vectors) — the [[nlistForCorpus]] convention:
    * the rule's floor IS the shipped historical parameter. `maxKCode`
    * 256 is the one-BYTE code ceiling (classic 8-bit PQ): past it a code
    * no longer fits the m-bytes-per-vector storage story, and the right
    * next dial is more subspaces (m) or the SQ8 tier, not a wider
    * codebook. Cost shape: the encode pass is corpus·m·kCode subspace
    * dots — linear in kCode, paid once per build (or per query set in
    * the in-flight form); the ADC scan itself never touches kCode (one
    * lookup per (candidate, subspace)).
    */
  def kCodeForCorpus(corpusSize: Long, targetPerCode: Int = 125,
      minKCode: Int = 16, maxKCode: Int = 256): Int = {
    require(corpusSize >= 0, s"corpusSize must be >= 0: $corpusSize")
    require(targetPerCode >= 1, s"targetPerCode must be >= 1: $targetPerCode")
    require(minKCode >= 1 && minKCode <= maxKCode,
      s"need 1 <= minKCode <= maxKCode: [$minKCode, $maxKCode]")
    val codes =
      if (corpusSize == 0) 0L else (corpusSize - 1) / targetPerCode + 1
    math.max(minKCode.toLong, math.min(maxKCode.toLong, codes)).toInt
  }

  /** The rule PAST the kCode = 256 byte ceiling (r19 — the r18 verdict's
    * named frontier: at `n ≥ 32k·baseM/8` per the clamp, the codebook
    * RESOLUTION dial goes constant again, the same shape kCode=16 had
    * before r18): grow the SUBSPACE COUNT `m` instead. The invariant the
    * two rules jointly hold is `m · kCode ≥ ceil(corpusSize /
    * targetPerCode)` — total codebook centroids track the population the
    * ADC must separate; kCode grows first (free at serve time: the ADC
    * scan never touches kCode), and once it caps at one byte, m doubles
    * (each doubling halves subDim, so 256 codes cover an easier,
    * lower-dimensional subspace — the standard PQ refinement axis).
    *
    * Explicit costs of the m dial, so the trade is chosen, not implied:
    * compressed storage is m bytes/vector (16 at the first doubling —
    * still 16× under raw floats), the ADC scan is m lookups/candidate
    * (linear in m), and the build-time encode is corpus·m·kCode rows —
    * which is why the serving story for this rule is the PERSISTED
    * index ([[writeAnnIndex]] with a [[Pq]] codec): encode is
    * build state, paid once. Endpoint: m caps at `dims` (subDim = 1 —
    * 256-level per-dimension codes, which IS the SQ8 tier with a trained
    * codebook per dim); past that point the family has no finer PQ dial
    * and the right move is the SQ8/raw tiers. The r19 RecallX100 row at
    * 200× (the first decade where the rule moves: needed = 3200 > 256·8)
    * is the measured spec, exactly as the r18 table was for
    * [[kCodeForCorpus]].
    */
  def mForCorpus(corpusSize: Long, dims: Int = 64, baseM: Int = 8,
      targetPerCode: Int = 125, maxKCode: Int = 256): Int = {
    require(corpusSize >= 0, s"corpusSize must be >= 0: $corpusSize")
    require(dims >= 1 && baseM >= 1 && baseM <= dims,
      s"need 1 <= baseM <= dims: [$baseM, $dims]")
    require(dims % baseM == 0, s"baseM $baseM must divide dims $dims")
    require(targetPerCode >= 1 && maxKCode >= 1,
      s"targetPerCode/maxKCode must be >= 1: [$targetPerCode, $maxKCode]")
    val needed =
      if (corpusSize == 0) 0L else (corpusSize - 1) / targetPerCode + 1
    var m = baseM
    while (m.toLong * maxKCode < needed && m * 2 <= dims && dims % (m * 2) == 0)
      m *= 2
    m
  }

  /** Compression-tier selection — the [[mForCorpus]] endpoint specified
    * as a RULE (r20, the r19 verdict's item #8, measured first):
    * serve PQ while `mForCorpus(n) ≤ dims/8`, switch to the SQ8 tier
    * past it.
    *
    * The measured basis (RecallX100, trained routing + adaptive refine
    * at every row — BENCH_NOTES r20): PQ never wins on recall-per-cost
    * in this family — IVF-SQ8 reads 1.000 recall at BOTH the 100× and
    * 200× decades (67.5 / 143.5 s in-flight) while IVF-PQ at the m = 8
    * floor caps at 0.946/0.964 under a byte-capped codebook and needs
    * the m = 16 doubling to match 1.000 at 200×, at 11.4× the SQ8 cost
    * (1631.3 s — the corpus·m·kCode encode scan; amortizable at build,
    * but the ADC serve premium remains). PQ's value is BYTES: m
    * bytes/vector vs SQ8's dims. While the resolution invariant
    * m·kCode ≥ ceil(n/125) holds at m ≤ dims/8, that advantage is ≥ 8×
    * and PQ is the memory lever; the first forced doubling past dims/8
    * halves the advantage while compounding the cost premium — so the
    * boundary sits exactly where [[mForCorpus]] first moves past
    * dims/8. At dims = 64 the switch lands at n > 256,000 vectors
    * (needed > 256·8), between the measured decades — the table
    * brackets it from both sides. Pinned by IvfSizingProps: tier is PQ
    * iff mForCorpus(n) ≤ dims/8, monotone in n, and the returned PQ m
    * always satisfies the joint invariant.
    */
  def compressionTierForCorpus(corpusSize: Long, dims: Int = 64,
      baseM: Int = 8): String = {
    val m = mForCorpus(corpusSize, dims, baseM)
    if (m.toLong * 8 <= dims) "pq" else "sq8"
  }

  /** Multi-probe bucket list: the exact bucket plus `probes` variants with
    * the WEAKEST sign bits flipped (smallest |projection| = the planes the
    * vector sits closest to, i.e. the likeliest misclassifications —
    * standard multi-probe LSH). Query-side only: recall rises without
    * touching the corpus index or adding bands. Returns array<long> of
    * 1 + probes buckets.
    */
  def hyperplaneProbes(v: Column, planes: Int, firstPlane: Int, probes: Int): Column = {
    require(probes >= 0 && probes <= planes, "probes must be in [0, planes]")
    // per-plane dots via the one-pass kernel (bit-identical to the
    // per-plane DotProduct folds — BandKernelSpec's parity argument)
    val dots = graft.functions.BandFunctions.plane_dots(v, planes, "band", firstPlane)
    graft.functions.Exprs.let(dots, ds => {
      val bucket = (0 until planes).foldLeft(lit(0L)) { (acc, j) =>
        shiftleft(acc, 1).bitwiseOR(
          when(element_at(ds, j + 1) > 0, 1L).otherwise(0L))
      }
      graft.functions.Exprs.let(bucket, b => {
        // rank plane positions by |dot| ascending; flip the weakest bits
        val ranked = sort_array(transform(sequence(lit(0), lit(planes - 1)),
          j => struct(abs(element_at(ds, j + 1)).as("a"), j.as("j"))))
        val flips = transform(slice(ranked, 1, probes), s =>
          b.bitwiseXOR(
            pow(lit(2.0), (lit(planes - 1) - s.getField("j")).cast("double"))
              .cast("long")))
        concat(array(b), flips)
      })
    })
  }

  private def prep(df: DataFrame, idName: String): DataFrame =
    df.select(col(idName),
      transform(col("vec"), _.cast("double")).as(s"${idName}_v"))
      .withColumn(s"${idName}_n", norm(col(s"${idName}_v")))

  /** Shared exact-rescore tail of every candidate-cut ANN variant: re-join
    * the (qid, cid) candidate pairs to their vectors, score the exact
    * cosine, and keep the per-query top-k (ties broken by cid). Candidates
    * shuffled before this point carry ids only — vectors join in here.
    */
  private def rescoreTopK(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val scored = cand
      .join(prep(queries, "qid"), "qid")
      .join(prep(corpus, "cid"), "cid")
      .select(col("qid"), col("cid"),
        round(dot_product(col("qid_v"), col("cid_v")) /
          (col("qid_n") * col("cid_n")), 6).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** [[rescoreTopK]] over candidates that ALREADY carry the corpus vector
    * (`qid, cid, vec`) — the persisted-layout serves: their probed-cell
    * scan has `vec` in hand, so re-joining the store by cid (a second
    * directory read plus an exchange) is pure waste (r21, guide §2.4).
    * Same cosine formula, rounding and ties as [[rescoreTopK]].
    */
  private def rescoreTopKWithVec(cand: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val scored = cand
      .join(prep(queries, "qid"), "qid")
      .withColumn("cid_v", transform(col("vec"), _.cast("double")))
      .select(col("qid"), col("cid"),
        round(dot_product(col("qid_v"), col("cid_v")) /
          (col("qid_n") * norm(col("cid_v"))), 6).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Brute-force cosine top-k: every query vector against the whole corpus.
    * Exact; the oracle baseline. Corpus is broadcast (small side); per-side
    * norms are precomputed.
    */
  def bruteForceTopK(
      queries: DataFrame, // (qid, vec)
      corpus: DataFrame,  // (cid, vec)
      k: Int = 10,
  ): DataFrame = {
    val q = prep(queries, "qid")
    val c = prep(corpus, "cid")
    val scored = q.crossJoin(broadcast(c))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        round(dot_product(col("qid_v"), col("cid_v")) /
          (col("qid_n") * col("cid_n")), 6).as("sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  // --------------------------------------------------------------------
  // The spec: a router picks candidate pairs, a codec ranks them and cuts
  // each query's list to `refine`, one exact cosine rescore finishes.

  /** Where candidate (qid, cid) pairs come from. */
  sealed trait Router

  /** Banded hyperplane LSH (OR-amplification): a candidate is scored if it
    * shares ANY of `bands` independent `planesPerBand`-bit buckets with the
    * query; `probes` adds query-side multi-probe bit flips per band. One
    * band is single-table LSH.
    *
    * The two knobs trade recall against bucket size — recall ≈
    * 1-(1-(1-θ/π)^planesPerBand)^bands (measured on the sf0.01 fixture:
    * recall@5 0.43/0.73/0.76 at 2/4/8 bands with 4 planes — OpsSpec pins
    * the monotonicity and the ≥0.7 default). The 100 TB playbook:
    *  - recall too low → add bands (linear candidate cost, exponential
    *    miss-probability decay); multi-probe (flipping the weakest sign
    *    bit) is the next step beyond bands;
    *  - buckets too big (hot-bucket skew: dense embedding regions hash
    *    together) → add planes per band: each plane halves the expected
    *    bucket; AQE's skew-join split handles residual stragglers since
    *    the in-bucket join is a plain shuffle join on (band, bucket);
    *  - candidate shuffle stays id-only either way — vectors re-join
    *    AFTER pair dedup, so widening bands never ships vectors per band.
    */
  final case class Lsh(planesPerBand: Int = 4, bands: Int = 4, probes: Int = 0)
      extends Router

  /** IVF (inverted-file) routing: coarse-quantize the corpus into `nCells`
    * cells — each vector assigned to its nearest centroid by cosine — and
    * pair each query with the `nProbe` nearest cells (-1 = the
    * [[nprobeForCells]] policy). The classic candidate-cut shape: corpus
    * scan cost is one broadcast-centroid pass, the probe join touches
    * ~nProbe/nCells of the corpus, and cells are hash-partitionable on
    * centId at any scale.
    *
    * The quantizer is SEEDED by default (centroids = the corpus vectors
    * with the `nCells` smallest ids): deterministic, so the DuckDB oracle
    * mirrors assignment + probing exactly. `centroids` swaps in a trained
    * `(centId, cent_v, cent_n)` frame ([[kmeansCentroids]] or a committed
    * fixture) without touching the plumbing (a trained quantizer is not
    * oracle-expressible, which is why the seeded one is the gated
    * variant); `nCells` then sizes only the probe and refine policies.
    * `nCells = -1` sizes the cells from the corpus count by
    * [[nlistForCorpus]] (one count job, which an index build takes for its
    * stamp anyway).
    */
  final case class Ivf(nCells: Int = 16, nProbe: Int = 4,
      centroids: Option[DataFrame] = None) extends Router

  /** Sharded IVF — the 100 TB path PAST the single-index broadcast
    * ceiling: hash-partition the corpus into `nShards` shards, build an
    * independent constant-cell IVF index per shard
    * ([[shardedSeededCentroids]]), rank ALL shards' cells together and
    * probe the `nShards·nProbe` globally best per query.
    *
    * [[nlistForCorpus]]'s maxNlist (2²⁰ cells ≈ 0.5 GiB of broadcast
    * centroids) bounds one index at ~131M vectors under the constant-cell
    * rule; a corpus of billions of embeddings must be hash-partitioned
    * into shards, each carrying its OWN constant-cell index, with probes
    * fanning out per shard and one global exact re-rank at the end. Every
    * stage stays the single-index shape: centroids broadcast PER SHARD
    * (each under the ceiling), assignment is an argmax aggregate, the
    * candidate shuffle carries ids only.
    *
    * Recall shape (r20 — MEASURED, not assumed): the r18 design probed
    * the top `nProbe` cells in EVERY shard, on the argument that each
    * shard is a uniform 1/nShards sample; RecallX100 refuted it at the
    * 100× decade (equal allocation 0.908/0.853/0.837 at nShards 2/4/8
    * seeded vs 0.976 unsharded; trained x2 0.840 vs 1.000) — a query's
    * neighbor mass is NOT uniform across shards, so the hot shard's
    * per-shard probe list truncates while cold shards burn probes. The
    * fix is two-part (both measured): ONE global probe list of
    * `nShards·nProbe` cells over the union of per-shard quantizers
    * (restores the unsharded router's cell CHOICE — necessary but
    * measured insufficient alone), plus the [[nprobeShardedForCells]]
    * shard-count term (the equal-budget residual is the per-shard
    * ASSIGNMENT restriction; the term's ×2.5/×3/×3.5 at nShards 2/4/8
    * measured seeded 0.987/0.997/≥0.993 vs 0.976 unsharded, trained
    * 0.984 at x2 vs the 1.000 unsharded-trained bar). Cost shape:
    * candidates per query ≈ nShards · nProbe · cellSize =
    * (4+log2 nShards)/2 × the unsharded probed fraction — the explicit
    * price of held recall under sharding; what sharding buys
    * is each shard's centroid table staying under the broadcast ceiling,
    * the assignment scan scoring only |corpus|·perShardCells rows
    * (≈ 1/nShards of the unsharded scan — the measured 354→77→34→22 s
    * cost slide across nShards 1/2/4/8 at the 100× decade), and index
    * builds/rebuilds parallelizing per shard.
    *
    * `nCells`/`nProbe` default to -1 = sized by [[nlistForCorpus]] /
    * [[nprobeShardedForCells]] from the EXPECTED SHARD population
    * `ceil(corpusSize/nShards)` (corpusSize -1 = one count job; pass the
    * known count to avoid it). `centroids` swaps in a trained per-shard
    * quantizer frame (shard, centId, cent_v, cent_n) —
    * [[shardedKmeansCentroids]] or a committed fixture — without touching
    * the assignment/probe/re-rank plumbing; the per-shard cell count
    * (and the probe policy) then derive from the FRAME, and every
    * quantizer is validated shard-complete/even before use: supplied
    * frames through the full [[requireShardedCentroids]] check, the
    * seeded deal through one count() over its pushed-down scan (r19
    * advisor — count == nShards·nCells over distinct non-negative ids
    * below that bound implies exactly ids 0..bound-1). A contiguous
    * corpus SMALLER than the rule's deal clamps nCells to n/nShards —
    * the smaller quantizer, not a misleading raise.
    */
  final case class IvfSharded(nShards: Int = 2, nCells: Int = -1,
      nProbe: Int = -1, centroids: Option[DataFrame] = None,
      corpusSize: Long = -1L) extends Router

  /** Every (query, corpus) pair — for codecs small enough to scan whole:
    * memory shrinks by the codec's ratio, scan work does not. */
  case object Exhaustive extends Router

  /** How candidates are ranked before the exact rescore, and how many of
    * each query's candidates (`refine`; -1 = [[refineForCandidates]] of
    * the router's expected pool) survive to it. */
  sealed trait Codec

  /** No compressed ranking: every routed candidate is rescored exactly. */
  case object Raw extends Codec

  /** Product quantization (PQ/ADC): compress each corpus vector to `m`
    * one-byte codes — per `subDim`-dim subspace, the id of its nearest
    * codebook centroid — rank candidates by the asymmetric-distance sum of
    * per-subspace query·centroid dots, exact-rescore the top `refine`. THE
    * memory lever at 100 TB: a 64-dim float vector (256 B) becomes `m`
    * bytes (32× smaller), so the candidate scan touches codes, not
    * vectors, and the shuffle carries (id, subspace, code) ints only.
    *
    * The codebook is SEEDED by default (centroids = sub-vectors of the
    * `kCode` smallest-id corpus vectors): deterministic, so the DuckDB
    * oracle recomputes encode + ADC + refine exactly; `codebook` swaps in a
    * trained `(s, codeId, cb_sub)` frame ([[pqTrainedCodebook]]).
    *
    * `kCode = -1` sizes the seeded codebook from the corpus count by
    * [[kCodeForCorpus]] (one count job, which an index build takes for its
    * stamp anyway).
    *
    * ADC sums are decimal-accumulated over per-subspace dots rounded to 9
    * decimals — bit-reproducible across engines, so the refine cutoff can
    * never drift from the oracle.
    *
    * Under a cell router the codes are non-residual by default: one
    * codebook serves all cells, so routing changes WHICH codes are
    * scanned, never the codes themselves. `residual` (IVFADC, Jegou et al.
    * 2011) quantizes vec − assigned centroid instead and ranks by
    * dot(q, centroid) + Σ_s dot(q_sub, cb_s) — one broadcast qcent term per
    * (query, cell) plus the same lookup table. At equal bits the codebook
    * spans the residual cloud instead of the whole corpus spread, so
    * ranking is finer and recall ≥ the non-residual form (pinned by
    * OpsSpec on the fixture); pass [[pqResidualCodebook]]'s frame.
    */
  final case class Pq(m: Int = 8, subDim: Int = 8, kCode: Int = 16,
      refine: Int = 30, codebook: Option[DataFrame] = None,
      residual: Boolean = false) extends Codec

  /** Scalar quantization (SQ8): compress each corpus dimension to ONE
    * byte — code = ⌊(x − lo_d) / step_d⌋ clamped to [0, 255], with
    * per-dimension ranges [lo_d, hi_d) from one corpus aggregate and
    * step_d = (hi_d − lo_d)/256 — then rank candidates by the exact dot
    * against the BUCKET-MIDPOINT reconstruction (lo_d + (code+0.5)·step_d,
    * the asymmetric-distance convention: the query stays full-precision).
    * The compression tier between raw floats and PQ: 4× (float32→byte)
    * with near-exact ranking — each dimension keeps 256 levels where PQ's
    * 16-centroid codebook keeps 16 levels per 8-dim SUBSPACE — so SQ8
    * needs a far smaller refine budget for the same recall (FAISS's SQ8
    * vs PQ trade).
    *
    * Deterministic end-to-end (min/max are order-independent, floor and
    * the midpoint decode are exact double arithmetic), so the DuckDB
    * oracle recomputes ranges → codes → reconstruction → refine
    * bit-for-bit; the approximate dot rounds to 9 decimals and ranks as
    * DECIMAL so the refine cutoff can never drift between engines. Ranges
    * come from the WHOLE corpus, so under a cell router routing changes
    * which codes are scanned, never the codes, and probing every cell
    * reproduces the exhaustive form exactly (pinned in OpsSpec).
    */
  final case class Sq8(refine: Int = 30) extends Codec

  /** JL project-then-rescore: candidates rank by PROJECTED-space cosine —
    * an `outDims/64`-cost ranking dot against [[signProject]]'s
    * deterministic matrix from plane `firstPlane` — and the refine best
    * per query rescore exactly in full space (the SQ8 coarse-then-refine
    * composition one compression family over: quantize bytes vs project
    * dimensions). Projected vectors are the ROUNDED signProject output, so
    * a serve ranking against the persisted projections lands on identical
    * candidates. A zero-norm projection scores −2 (below every cosine)
    * instead of NULL-ranking nondeterministically.
    */
  final case class Projected(outDims: Int = 16, firstPlane: Int = 100,
      refine: Int = 30) extends Codec

  /** ANN top-k in flight: route, rank and cut with the codec, rescore
    * exactly. Output `(qid, cid, sim, rank)`, ties broken by cid. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int, router: Router,
      codec: Codec): DataFrame = {
    requireSpec(router, codec)
    val c = prep(corpus, "cid")
    val q = prep(queries, "qid")
    lazy val n = corpusCount(router, corpus)
    val cells = resolveCells(router, c, n)
    val assigned = cells.map(assign(c, _))
    // keep=1 assignment puts each cid in exactly one cell and the probe
    // emits distinct (qid, cell) rows, so cell-routed pairs are already
    // unique — no distinct() exchange (r21)
    val pairs = router match {
      case r: Lsh => Some(lshPairs(q, c, r))
      case _ => cells.map(cl => probe(q, cl).join(assigned.get, cl.keys)
        .where(col("qid") =!= col("cid")).select("qid", "cid", "centId"))
    }
    val tables = encode(codec, c, corpus, cells, assigned, n)
    rescoreTopK(rankAndCut(codec, q, queries, pairs, cells, tables, n),
      queries, corpus, k)
  }

  /** Persist an ANN index — the build-offline / serve-online split: cell
    * assignment and encode are paid once here, and [[serveAnnIndex]]
    * never re-derives them (ROUTING STATE IS INDEX STATE: a serve that
    * re-derived cells or codes from seeds against a drifted corpus would
    * rank in a different quantization than the codes were written in, a
    * silent-recall bug). The layout under `path`:
    *  - `vectors` — `(cid, vec)`, laid out `centId=…` (Ivf) or
    *    `shard=…/centId=…` (IvfSharded) so a probe reads only the probed
    *    cell directories; its `cid` field carries the stamp;
    *  - `centroids` — the cell routers' quantizer;
    *  - the codec state: `codes` + `codebook` (Pq), `codes` + `ranges`
    *    (Sq8) or `projected` (Projected); every cid-keyed table is laid
    *    out like the vectors.
    * What a serve SCANS to rank is the codec table — `m` small ints per
    * vector (Pq), one byte per dimension (Sq8) or `outDims/64` of the raw
    * floats (Projected) — while full-precision vectors are read only for
    * the refine survivors. Results of a serve equal [[annTopK]] with the
    * same spec (assignment and encode are deterministic), so one DuckDB
    * oracle gates both.
    */
  def writeAnnIndex(corpus: DataFrame, path: String, router: Router,
      codec: Codec): Unit = {
    requireSpec(router, codec)
    require(!router.isInstanceOf[Lsh],
      "an Lsh router has no persisted layout: index with Ivf, IvfSharded or Exhaustive")
    val c = prep(corpus, "cid")
    lazy val n = corpusCount(router, corpus)
    val cells = resolveCells(router, c, n)
    val assigned = cells.map(assign(c, _))
    // the stamp records the quantizer's actual size: a corpus smaller
    // than nCells seeds fewer cells
    val built = cells match {
      case Some(cl) if cl.sharded => IvfSharded(cl.nShards, cl.nCells)
      case Some(cl) => Ivf(cl.cent.count().toInt)
      case None => Exhaustive
    }
    val stamp = stampOf(built, codec, if (codec == Raw) None else Some(n))
    val keys = cells.fold(Seq.empty[String])(_.keys)
    def write(name: String, t: DataFrame): Unit =
      if (!t.columns.contains("cid")) t.write.parquet(s"$path/$name")
      else assigned.fold(t)(t.join(_, "cid"))
        .write.partitionBy(keys: _*).parquet(s"$path/$name")
    write("vectors", corpus.select(col("cid").as("cid", stamp), col("vec")))
    cells.foreach(cl => write("centroids", cl.cent))
    encode(codec, c, corpus, cells, assigned, n).foreach { case (name, t) => write(name, t) }
  }

  /** Serve a [[writeAnnIndex]] layout: rebuild the spec from the index's
    * stamp, probe the persisted centroids, read only the probed cell
    * directories of every cid-keyed table, rank the persisted codec
    * state, and rescore exactly against the persisted vectors.
    *
    * `nProbe = -1` applies the router's probe policy ([[nprobeForCells]],
    * or [[nprobeShardedForCells]] per shard) to the STAMPED cell count;
    * `refine = -1` sizes the budget with [[refineForCandidates]] from the
    * STAMPED corpus count (the probed population under a cell router, the
    * corpus otherwise) — zero jobs over the store. `refine` defaults to
    * -1 because the fixed 30 it replaced measured a recall decay of
    * 0.236 → 0.047 across corpus decades. `expect` names the codec
    * the caller ranks with: a stamp built with other parameters raises
    * instead of silently ranking in the wrong space. An index without the
    * stamp RAISES: guessing a policy silently serves wrong recall.
    */
  def serveAnnIndex(queries: DataFrame, path: String, k: Int = 10,
      nProbe: Int = -1, refine: Int = -1,
      expect: Option[Codec] = None): DataFrame = {
    val spark = queries.sparkSession
    val st = readStamp(spark, path, nProbe, refine)
    expect.foreach(e => require(
      codecKind(e) == codecKind(st.codec) && codecInts(e) == codecInts(st.codec),
      s"ANN index at $path was built with ${describe(st.codec)}, caller passed ${describe(e)}"))
    def load(name: String) = SourceLoaders.parquet(spark, s"$path/$name")
    val cells = st.router match {
      case Ivf(nlist, np, _) => Some(Cells(load("centroids"), 1, nlist, np, sharded = false))
      case r: IvfSharded => Some(Cells(load("centroids"), r.nShards, r.nCells, r.nProbe, sharded = true))
      case _ => None
    }
    val q = prep(queries, "qid")
    val probed = cells.map(probe(q, _))
    // restrict once to the union of probed cells (per-query restriction
    // happens in the pair join): every cid-keyed read prunes to probed
    // cell directories
    val probedCells = cells.map(cl =>
      broadcast(probed.get.select(cl.keys.map(col): _*).distinct()))
    def pruned(t: DataFrame) = cells.fold(t)(cl => t.join(probedCells.get, cl.keys))
    val vectors = pruned(st.vectors)
    // pairs carry `vec` straight from the one vectors scan, so the Raw
    // rescore never re-joins the store by cid (r21)
    val pairs = cells.map(cl => vectors.join(probed.get, cl.keys)
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("centId"), col("vec")))
    if (st.codec == Raw) rescoreTopKWithVec(pairs.get, queries, k)
    else {
      def table(name: String) = { val t = load(name); if (t.columns.contains("cid")) pruned(t) else t }
      rescoreTopK(rankAndCut(st.codec, q, queries, pairs, cells, table, st.corpusCount),
        queries, vectors.select(col("cid"), col("vec")), k)
    }
  }

  /** The cells of an [[Ivf]]-routed [[writeAnnIndex]] layout — `(cid, vec,
    * centId)`, one partition directory per cell — for operators that pair
    * within cells. Raises like [[serveAnnIndex]] on an unstamped index. */
  def annIndexCells(spark: SparkSession, path: String): DataFrame = {
    val st = readStamp(spark, path, -1, -1)
    require(st.router.isInstanceOf[Ivf], s"ANN index at $path is not Ivf-routed")
    st.vectors
  }

  private def requireSpec(router: Router, codec: Codec): Unit = {
    require(router != Exhaustive || codec != Raw,
      "Exhaustive routing with the Raw codec is exact search: use bruteForceTopK")
    codec match {
      case p: Pq if p.residual => require(router.isInstanceOf[Ivf] || router.isInstanceOf[IvfSharded],
        "residual PQ codes need a cell router (Ivf or IvfSharded)")
      case _ =>
    }
  }

  private def corpusCount(router: Router, corpus: DataFrame): Long = router match {
    case r: IvfSharded if r.corpusSize >= 0 => r.corpusSize
    case _ => corpus.count()
  }

  // --------------------------------------------------------------------
  // The index stamp: every spec parameter and sizing integer, as schema
  // metadata on the `vectors` table's `cid` field.

  private final case class Stamped(vectors: DataFrame, router: Router,
      codec: Codec, corpusCount: Long)

  private def routerKind(router: Router): String = router match {
    case _: Lsh => "lsh"
    case _: Ivf => "ivf"
    case _: IvfSharded => "ivf_sharded"
    case Exhaustive => "exhaustive"
  }

  private def codecKind(codec: Codec): String = codec match {
    case Raw => "raw"
    case _: Pq => "pq"
    case _: Sq8 => "sq8"
    case _: Projected => "projected"
  }

  /** The integers the serve rebuilds a codec from — the projection space,
    * the subspace split; never `refine`, a serve-time dial. */
  private def codecInts(codec: Codec): Seq[(String, Long)] = codec match {
    case p: Pq => Seq("m" -> p.m.toLong, "subDim" -> p.subDim.toLong,
      "residual" -> (if (p.residual) 1L else 0L))
    case p: Projected => Seq("outDims" -> p.outDims.toLong, "firstPlane" -> p.firstPlane.toLong)
    case _ => Nil
  }

  private def describe(codec: Codec): String =
    codecKind(codec) + codecInts(codec).map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")")

  private def stampOf(router: Router, codec: Codec,
      corpusCount: Option[Long]): org.apache.spark.sql.types.Metadata = {
    val routerInts = router match {
      case r: Ivf => Seq("nlist" -> r.nCells.toLong)
      case r: IvfSharded => Seq("nShards" -> r.nShards.toLong, "perShardCells" -> r.nCells.toLong)
      case _ => Nil
    }
    val b = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("graft.router", routerKind(router))
      .putString("graft.codec", codecKind(codec))
    (routerInts ++ codecInts(codec) ++ corpusCount.map("corpusCount" -> _))
      .foreach { case (key, v) => b.putLong(s"graft.$key", v) }
    b.build()
  }

  /** THE stamp reader: the index's vectors table (one memoized schema read,
    * zero jobs) and the spec rebuilt from its stamp, with the caller's
    * `nProbe`/`refine` dials. Raises when the index has no vectors table
    * or the stamp lacks a key the spec needs. */
  private def readStamp(spark: SparkSession, path: String, nProbe: Int,
      refine: Int): Stamped = {
    val vectors =
      try SourceLoaders.parquet(spark, s"$path/vectors")
      catch { case e: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"ANN index at $path has no meta stamp: no vectors table — build it with writeAnnIndex", e)
      }
    val md = vectors.schema("cid").metadata
    def stamped(key: String): String = {
      val missing = if (key == "corpusCount") "no stamped corpus count" else "no meta stamp"
      require(md.contains(s"graft.$key"),
        s"ANN index at $path has $missing (graft.$key on vectors.cid) — rebuild it with writeAnnIndex")
      s"graft.$key"
    }
    def int(key: String): Int = md.getLong(stamped(key)).toInt
    val router = md.getString(stamped("router")) match {
      case "exhaustive" => Exhaustive
      case "ivf" => Ivf(int("nlist"), nProbe)
      case "ivf_sharded" => IvfSharded(int("nShards"), int("perShardCells"), nProbe)
    }
    val codec = md.getString(stamped("codec")) match {
      case "raw" => Raw
      case "pq" => Pq(int("m"), int("subDim"), refine = refine, residual = int("residual") == 1)
      case "sq8" => Sq8(refine)
      case "projected" => Projected(int("outDims"), int("firstPlane"), refine)
    }
    Stamped(vectors, router, codec,
      if (codec == Raw) -1L else md.getLong(stamped("corpusCount")))
  }

  // --------------------------------------------------------------------
  // Routers

  /** Banded candidate pairs of [[Lsh]] over prepped frames — the band
    * shuffle carries ids only; vectors re-join after pair dedup (the
    * per-side frames are small relative to candidate rows — AQE
    * broadcasts). Banding runs through the one-pass bucket kernel
    * (bit-identical to the defining hyperplaneBucket folds —
    * BandKernelSpec).
    */
  private def lshPairs(q: DataFrame, c: DataFrame, r: Lsh): DataFrame = {
    def banded(df: DataFrame, id: String) =
      df.select(col(id), posexplode(
          graft.functions.BandFunctions.band_buckets(col(s"${id}_v"), r.planesPerBand, r.bands)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    // the query side probes (1+probes) buckets per band; the corpus index
    // is untouched — multi-probe trades a little query fan-out for recall
    def bandedProbed(df: DataFrame, id: String) = {
      val probeLists = array((0 until r.bands).map(b =>
        hyperplaneProbes(col(s"${id}_v"), r.planesPerBand, b * r.planesPerBand, r.probes)): _*)
      df.select(col(id), posexplode(probeLists))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "buckets"))
        .select(col(id), col("band"), explode(col("buckets")).as("bucket"))
    }
    val qSide = if (r.probes == 0) banded(q, "qid") else bandedProbed(q, "qid")
    qSide.join(banded(c, "cid"), Seq("band", "bucket"))
      .where(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
  }

  /** Cosine of a prepped `id` row to a centroid row, as `csim`. */
  private def csim(id: String): Column =
    (dot_product(col(s"${id}_v"), col("cent_v")) /
      (col(s"${id}_n") * col("cent_n"))).as("csim")

  /** Lloyd-iterated k-means centroids over the corpus (cosine assignment,
    * element-wise mean update). Init = the seeded centroids, so iters = 0
    * reproduces the oracle-gated variant exactly. Mean aggregation is
    * float-order dependent, so TRAINED centroids are for the recall/skew
    * unit gate, not the hash oracle — which is precisely why [[Ivf]]
    * keeps the seeded quantizer as its gated default. At scale each
    * iteration is one broadcast-centroid pass + one groupBy(centId):
    * linear, shuffle-light, and the centroid frame stays tiny.
    */
  def kmeansCentroids(corpus: DataFrame, nCells: Int = 16, iters: Int = 5,
      dims: Int = 0): DataFrame = {
    val c = prep(corpus, "cid")
    // derive the dimension from the data unless given — a hardcoded width
    // over shorter vectors would mean-aggregate nulls into the centroids
    val d = if (dims > 0) dims
      else corpus.select(size(col("vec"))).head.getInt(0)
    var cent = c.where(col("cid") < nCells)
      .select(col("cid").cast("int").as("centId"), col("cid_v").as("cent_v"),
        col("cid_n").as("cent_n"))
    for (_ <- 1 to iters) {
      // the winning cell re-joins its vector by id for the mean update
      val assigned = nearestCells(c, "cid", cent, keep = 1)
        .join(c.select(col("cid"), col("cid_v")), "cid")
      val updated = assigned.groupBy("centId")
        .agg(array((0 until d).map(i =>
          avg(element_at(col("cid_v"), i + 1))): _*).as("new_v"))
      // Lloyd edge cases: an empty cluster (no winning assignment) or a
      // zero-mean cluster (norm 0 → NaN similarity) keeps its previous
      // centroid instead of vanishing / poisoning the ranking
      cent = cent.select(col("centId"), col("cent_v").as("old_v"))
        .join(updated, Seq("centId"), "left")
        .select(col("centId"),
          when(col("new_v").isNull || norm(col("new_v")) === 0, col("old_v"))
            .otherwise(col("new_v")).as("cent_v"))
        .withColumn("cent_n", norm(col("cent_v")))
        // the frame is ≤ nCells rows but its plan nests every prior
        // iteration — truncate lineage so each action runs training once
        .localCheckpoint(true)
    }
    cent
  }

  /** Nearest-centroid assignment of every corpus vector — (cid, centId).
    * The balance of these cells is what decides IVF probe cost and skew.
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    nearestCells(prep(corpus, "cid"), "cid", centroids, keep = 1)

  /** Seeded coarse quantizer: centroids = the `nCells` smallest-id corpus
    * vectors (prepped frame in). Deterministic → oracle-expressible.
    */
  private def seededCentroids(c: DataFrame, nCells: Int): DataFrame =
    c.where(col("cid") < nCells)
      .select(col("cid").as("centId"), col("cid_v").as("cent_v"), col("cid_n").as("cent_n"))

  /** Per-row `keep` nearest centroids by cosine (ties → smallest centId).
    * keep=1 is corpus cell assignment; keep=nProbe is the query probe list.
    * One broadcast-centroid pass — no corpus shuffle.
    *
    * The keep=1 path — the CORPUS-sized one at scale (every vector ×
    * every centroid) — is an argmax AGGREGATE (`max_by` over the
    * (csim, −centId) pair: same winner, same smallest-centId ties as the
    * window form), not a row_number window: partial aggregation collapses
    * the |corpus|·nlist scored rows map-side to |corpus| rows before any
    * exchange, where the window form shuffled and sorted ALL scored rows
    * (measured 541 s for a 200k×1600-cell assignment in the r16
    * RecallX100 run — the aggregate form is the fix). keep>1 (the
    * query-side probe list, queries ≪ corpus) keeps the top-N window.
    */
  private def nearestCells(df: DataFrame, id: String, cent: DataFrame,
      keep: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(cent))
      .select(col(id), col("centId"), csim(id))
    if (keep == 1)
      scored.groupBy(col(id))
        .agg(max_by(col("centId"),
          struct(col("csim"), (-col("centId")).as("negId"))).as("centId"))
        .select(col(id), col("centId"))
    else {
      val w = Window.partitionBy(col(id)).orderBy(col("csim").desc, col("centId"))
      scored
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= keep)
        .select(col(id), col("centId"))
    }
  }

  /** Shard of an id under `nShards` hash partitions — `pmod(id, n)`, the
    * deterministic, oracle-expressible stand-in for a production hash
    * partitioner (for the synthetic contiguous ids it IS uniform).
    */
  def shardOf(id: Column, nShards: Int): Column =
    pmod(id, lit(nShards.toLong))

  /** Per-shard seeded coarse quantizer: shard `s` gets the `nCells`
    * vectors with ids `s, s+nShards, …, s+(nCells−1)·nShards` — i.e. the
    * `nShards·nCells` smallest ids dealt round-robin, so the rule is one
    * SCAN predicate (`cid < nShards·nCells`), never a per-shard sort, and
    * the DuckDB oracle mirrors it with the same two integers. Each shard
    * ends up with exactly `nCells` centroids (ids are contiguous from 0 —
    * the seededCentroids assumption, ENFORCED at every resolution by one
    * count() over the deal: a sparse or non-contiguous corpus would
    * otherwise deal shards uneven or missing centroids and silently
    * degrade recall). centId = the centroid's cid: globally unique, so
    * candidate joins can key on centId alone.
    */
  private def shardedSeededCentroids(c: DataFrame, nShards: Int,
      nCells: Int): DataFrame =
    c.where(col("cid") < nShards.toLong * nCells)
      .select(shardOf(col("cid"), nShards).as("shard"),
        col("cid").as("centId"), col("cid_v").as("cent_v"),
        col("cid_n").as("cent_n"))

  /** Enforce the sharded-quantizer shape instead of assuming it (r18
    * advisor item): every one of `nShards` shards must carry the SAME
    * number of centroids. Used for CALLER-SUPPLIED/trained frames
    * (fixture-sized local relations); the seeded deal validates with one
    * cheap count() instead (r19 advisor — its frame is a pushed-down
    * corpus scan, and count == nShards·nCells over distinct non-negative
    * ids below that bound already implies the shard-complete even deal).
    * Returns the per-shard cell count — the number
    * [[nprobeShardedForCells]] sizes the per-shard probe from.
    */
  private def requireShardedCentroids(cent: DataFrame, nShards: Int): Int = {
    val counts = cent.groupBy("shard").count().collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    require(counts.size == nShards,
      s"sharded quantizer must cover all $nShards shards, found " +
        s"${counts.size} (shards ${counts.keys.toSeq.sorted.mkString(",")}) " +
        "— sparse or non-contiguous corpus ids under the seeded rule?")
    require(counts.values.toSet.size == 1,
      s"sharded quantizer dealt UNEVEN per-shard centroid counts " +
        s"(${counts.toSeq.sortBy(_._1).mkString(", ")}) — sparse or " +
        "non-contiguous corpus ids under the seeded rule?")
    counts.values.head.toInt
  }

  /** Per-shard Lloyd-trained centroids — the trained-quantizer analogue
    * of [[shardedSeededCentroids]] (r18 verdict item: the sharded path,
    * which exists precisely for the largest corpora, was seeded-only
    * while the unsharded measurements showed trained cells are both the
    * recall ceiling and the cheaper probe). ONE joint job trains all
    * shards — group key (shard, centId), the [[pqTrainedCodebook]]
    * convention — so training cost stays a broadcast-assign pass plus a
    * groupBy per iteration regardless of nShards. Init = each shard's
    * `nCells` smallest-id members (a per-shard row_number window over the
    * tiny candidate set, so sparse/non-contiguous ids train fine; the
    * probe-time validation only binds the SEEDED deal). centId = the
    * init vector's cid — globally unique across shards, the candidate
    * joins' keying assumption. Float means are order-dependent, so
    * trained centroids are for the recall gate / committed fixtures
    * (tools.TrainIvfShardedFixture), not the live hash oracle — the
    * [[kmeansCentroids]] caveat.
    */
  def shardedKmeansCentroids(corpus: DataFrame, nShards: Int = 2,
      nCells: Int = 16, iters: Int = 5, dims: Int = 0): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val c = prep(corpus, "cid")
      .withColumn("shard", shardOf(col("cid"), nShards))
    val d = if (dims > 0) dims
      else corpus.select(size(col("vec"))).head.getInt(0)
    val initW = Window.partitionBy(col("shard")).orderBy(col("cid"))
    var cent = c
      .withColumn("rn", row_number().over(initW))
      .where(col("rn") <= nCells)
      .select(col("shard"), col("cid").as("centId"),
        col("cid_v").as("cent_v"), col("cid_n").as("cent_n"))
      .localCheckpoint(true) // small frame; pin init before iterating
    for (_ <- 1 to iters) {
      // argmax aggregate within OWN shard (the nearestCells keep=1 rule:
      // partial aggregation collapses the |corpus|·nCells scored rows
      // map-side); the winning cell re-joins its vector for the mean
      val assigned = c.join(broadcast(cent), "shard")
        .select(col("cid"), col("shard"), col("centId"), csim("cid"))
        .groupBy(col("cid"), col("shard"))
        .agg(max_by(col("centId"),
          struct(col("csim"), (-col("centId")).as("negId"))).as("centId"))
        .join(c.select(col("cid"), col("cid_v")), "cid")
      val updated = assigned.groupBy("shard", "centId")
        .agg(array((0 until d).map(i =>
          avg(element_at(col("cid_v"), i + 1))): _*).as("new_v"))
      // Lloyd edge cases as in kmeansCentroids: empty or zero-mean cells
      // keep their previous centroid
      cent = cent.select(col("shard"), col("centId"), col("cent_v").as("old_v"))
        .join(updated, Seq("shard", "centId"), "left")
        .select(col("shard"), col("centId"),
          when(col("new_v").isNull || norm(col("new_v")) === 0, col("old_v"))
            .otherwise(col("new_v")).as("cent_v"))
        .withColumn("cent_n", norm(col("cent_v")))
        .localCheckpoint(true) // nShards·nCells rows; truncate lineage
    }
    cent
  }

  /** A cell router resolved against its quantizer: the centroid table
    * (`centId, cent_v, cent_n`, plus `shard` when sharded), the shard
    * count, cells per shard, and the cells a query probes per shard
    * (`nProbeArg` -1 = the router's policy). */
  private final case class Cells(cent: DataFrame, nShards: Int, nCells: Int,
      nProbeArg: Int, sharded: Boolean) {
    val nProbe: Int =
      if (nProbeArg != -1) nProbeArg
      else if (sharded) nprobeShardedForCells(nCells, nShards)
      else nprobeForCells(nCells)
    def keys: Seq[String] = if (sharded) Seq("shard", "centId") else Seq("centId")
  }

  /** Resolve a cell router against a prepped corpus: the caller's
    * quantizer or the seeded one, validated (sharded) and sized. */
  private def resolveCells(router: Router, c: DataFrame, n: => Long): Option[Cells] =
    router match {
      case r: Ivf =>
        val nc = if (r.nCells != -1) r.nCells else nlistForCorpus(n)
        Some(Cells(r.centroids.getOrElse(seededCentroids(c, nc)), 1,
          nc, r.nProbe, sharded = false))
      case r: IvfSharded =>
        require(r.nShards >= 1, s"nShards must be >= 1: ${r.nShards}")
        val seededCells = if (r.centroids.isDefined) -1 else {
          require(n >= r.nShards,
            s"corpus ($n rows) cannot seed one centroid per shard (nShards=${r.nShards})")
          val perShard = (n - 1) / r.nShards + 1
          val want = if (r.nCells != -1) r.nCells else nlistForCorpus(perShard)
          // corpus smaller than the quantizer the rule would deal (r19
          // advisor): the seeded deal draws ids < nShards·nCells, so a
          // CONTIGUOUS corpus with n < nShards·nCells would under-deal some
          // shards and trip the shape validation with a misleading
          // "non-contiguous ids" error. Clamp to what the id range can
          // supply — the smaller quantizer the pre-validation path served.
          math.min(want.toLong, n / r.nShards).toInt
        }
        val cent = r.centroids.getOrElse(shardedSeededCentroids(c, r.nShards, seededCells))
        val nc =
          if (r.centroids.isDefined) requireShardedCentroids(cent, r.nShards)
          else {
            // Seeded path (r19 advisor): the frame is a pushed-down
            // `cid < nShards·seededCells` scan over the CORPUS, not a local
            // relation — the full per-shard groupBy/collect weakened the
            // documented "pass the known count to avoid a job" contract.
            // Distinct non-negative ids below the bound count to
            // nShards·seededCells ONLY when they are exactly 0..bound-1,
            // i.e. the round-robin deal is shard-complete AND even — one
            // count() over the tiny filtered scan pins the whole shape.
            val bound = r.nShards.toLong * seededCells
            val got = cent.count()
            require(got == bound,
              s"seeded sharded quantizer found $got corpus ids below $bound, " +
                s"expected $bound — sparse or non-contiguous corpus ids " +
                "(the round-robin deal assumes ids contiguous from 0)")
            seededCells
          }
        Some(Cells(cent, r.nShards, nc, r.nProbe, sharded = true))
      case _ => None
    }

  /** Corpus cell assignment, `(cid, centId)` — plus `shard` when sharded,
    * where the argmax runs within the vector's OWN shard (equi-join on
    * shard keeps the scored population at |corpus|·nCells, same as
    * unsharded). */
  private def assign(c: DataFrame, cl: Cells): DataFrame =
    if (!cl.sharded) nearestCells(c, "cid", cl.cent, keep = 1)
    else c.withColumn("shard", shardOf(col("cid"), cl.nShards))
      .join(broadcast(cl.cent), "shard")
      .select(col("cid"), col("shard"), col("centId"), csim("cid"))
      .groupBy(col("cid"), col("shard"))
      .agg(max_by(col("centId"),
        struct(col("csim"), (-col("centId")).as("negId"))).as("centId"))

  /** Each query's probed cells, `(qid, centId)` — plus `shard` when
    * sharded, where ONE GLOBAL probe list of nShards·nProbe cells ranks
    * the union of per-shard quantizers (r20 — the measured fix: equal
    * per-shard allocation `PARTITION BY (qid, shard) … rn <= nProbe` sat
    * 0.07–0.16 recall below the unsharded router at the 100× decade,
    * because a query's neighbor mass is NOT uniform across shards and the
    * hot shard's probe list truncates while cold shards burn probes;
    * ranking all shards' cells together restores the unsharded router's
    * cell choice at the IDENTICAL candidate budget). */
  private def probe(q: DataFrame, cl: Cells): DataFrame =
    if (!cl.sharded) nearestCells(q, "qid", cl.cent, keep = cl.nProbe)
    else {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("csim").desc, col("centId"))
      q.crossJoin(broadcast(cl.cent))
        .select(col("qid"), col("shard"), col("centId"), csim("qid"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= cl.nShards.toLong * cl.nProbe)
        .select(col("qid"), col("shard"), col("centId"))
    }

  // --------------------------------------------------------------------
  // Codecs

  /** A codec's build state, keyed by the index directory it persists to:
    * `codebook` + `codes` (Pq), `ranges` + `codes` (Sq8), `projected`. */
  private def encode(codec: Codec, c: DataFrame, corpus: DataFrame,
      cells: Option[Cells], assigned: Option[DataFrame], n: => Long): Map[String, DataFrame] =
    codec match {
      case Raw => Map.empty
      case p: Pq =>
        val base =
          if (!p.residual) c
          else residualFrame(assigned.get, c, cells.get.cent)
            .select(col("cid"), col("r_v").as("cid_v"))
        val cbSub = p.codebook.getOrElse(seededCodebook(base, p.m, p.subDim,
          if (p.kCode != -1) p.kCode else kCodeForCorpus(n)))
        Map("codebook" -> cbSub, "codes" -> pqEncode(base, cbSub, p.m, p.subDim))
      case _: Sq8 =>
        val rg = sq8Ranges(c)
        Map("ranges" -> rg, "codes" -> sq8Codes(c, rg))
      case p: Projected =>
        Map("projected" -> signProject(corpus.select(col("cid"), col("vec")),
          "cid", "vec", p.outDims, p.firstPlane))
    }

  /** Rank the router's pairs (None = every pair) on the codec's state and
    * keep each query's top `refine` — `(qid, cid)` ids only downstream.
    * Every ranking value is the 9-decimal no-drift [[adotLong]], so the
    * refine cutoff matches the DuckDB oracles. Raw passes pairs through.
    */
  private def rankAndCut(codec: Codec, q: DataFrame, queries: DataFrame,
      pairs: Option[DataFrame], cells: Option[Cells], table: String => DataFrame,
      n: => Long): DataFrame = {
    def cut(approx: DataFrame, refine: Int): DataFrame = {
      // the ranked pool: the expected probed population under a cell
      // router, the corpus otherwise
      val rf = if (refine != -1) refine
        else refineForCandidates(cells.fold(n)(cl => expectedProbed(n, cl.nCells, cl.nProbe)))
      approx
        .withColumn("arn", row_number().over(
          Window.partitionBy("qid").orderBy(col("adot").desc, col("cid"))))
        .where(col("arn") <= rf).select("qid", "cid")
    }
    def paired(qSide: DataFrame, cSide: DataFrame): DataFrame = pairs match {
      case Some(p) => p.join(cSide, "cid").join(qSide, "qid")
      case None => qSide.crossJoin(cSide).where(col("qid") =!= col("cid"))
    }
    codec match {
      case Raw => pairs.get
      case p: Pq =>
        val cbSub = table("codebook")
        val codes = table("codes").select("cid", "s", "codeId")
        val qTab = pqQueryTable(q, cbSub, p.m, p.subDim)
        val approx =
          if (p.residual) {
            val qcent = q.select(col("qid"), col("qid_v"))
              .crossJoin(broadcast(cells.get.cent))
              .select(col("qid"), col("centId"),
                adotLong(round(dot_product(col("qid_v"), col("cent_v")), 9)).as("qcdot"))
            pairs.get.join(codes, "cid").join(qTab, Seq("qid", "s", "codeId"))
              .groupBy("qid", "cid", "centId").agg(sum(col("pdot")).as("rdot"))
              .join(qcent, Seq("qid", "centId"))
              .select(col("qid"), col("cid"), (col("rdot") + col("qcdot")).as("adot"))
          } else (pairs match {
            // the routed ADC scan never touches unprobed cells
            case Some(pr) => pr.join(codes, "cid").join(qTab, Seq("qid", "s", "codeId"))
            case None => qTab.join(codes, Seq("s", "codeId"))
              .where(col("qid") =!= col("cid"))
          }).groupBy("qid", "cid").agg(sum(col("pdot")).as("adot"))
        cut(approx, p.refine)
      case s: Sq8 =>
        // the decode runs once per corpus ROW, never per candidate pair
        val rec = sq8Decode(table("codes"), table("ranges"))
        cut(paired(q.select(col("qid"), col("qid_v")), rec)
          .select(col("qid"), col("cid"),
            adotLong(round(dot_product(col("qid_v"), col("rv")), 9)).as("adot")),
          s.refine)
      case p: Projected =>
        val qp = signProject(queries.select(col("qid"), col("vec")), "qid", "vec",
            p.outDims, p.firstPlane)
          .select(col("qid"), col("proj").as("qp"))
        val cp = table("projected").select(col("cid"), col("proj").as("cp"))
        cut(paired(qp.withColumn("qp_n", norm(col("qp"))),
            cp.withColumn("cp_n", norm(col("cp"))))
          .select(col("qid"), col("cid"),
            adotLong(when(col("qp_n") * col("cp_n") =!= 0.0,
              round(dot_product(col("qp"), col("cp")) /
                (col("qp_n") * col("cp_n")), 9))
              .otherwise(lit(-2.0))).as("adot")),
          p.refine)
    }
  }

  /** Per-subspace k-means codebooks for [[Pq]] — one joint job trains
    * all `m` codebooks (group key = (s, codeId)), seeded from the
    * deterministic codebook so iters = 0 reproduces the oracle-gated
    * variant. Same Lloyd edge-case handling as [[kmeansCentroids]]; same
    * caveat: float means are order-dependent, so trained codebooks are for
    * the recall unit gate, not the hash oracle.
    */
  def pqTrainedCodebook(corpus: DataFrame, m: Int = 8, subDim: Int = 8,
      kCode: Int = 16, iters: Int = 5): DataFrame = {
    val c = prep(corpus, "cid")
    def subSlices(v: Column) =
      array((0 until m).map(s => slice(v, s * subDim + 1, subDim)): _*)
    val cSub = c.select(col("cid"), posexplode(subSlices(col("cid_v"))))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "c_sub"))
    var cb = c.where(col("cid") < kCode)
      .select(col("cid").cast("int").as("codeId"), posexplode(subSlices(col("cid_v"))))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "cb_sub"))
    for (_ <- 1 to iters) {
      val w = Window.partitionBy("cid", "s").orderBy(col("d2").asc, col("codeId"))
      val assigned = cSub.join(broadcast(cb), "s")
        .select(col("cid"), col("s"), col("codeId"), col("c_sub"),
          (dot_product(col("c_sub"), col("c_sub"))
            - lit(2.0) * dot_product(col("c_sub"), col("cb_sub"))
            + dot_product(col("cb_sub"), col("cb_sub"))).as("d2"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      val updated = assigned.groupBy("s", "codeId")
        .agg(array((0 until subDim).map(i =>
          avg(element_at(col("c_sub"), i + 1))): _*).as("new_sub"))
      cb = cb.withColumnRenamed("cb_sub", "old_sub")
        .join(updated, Seq("s", "codeId"), "left")
        .select(col("s"), col("codeId"),
          coalesce(col("new_sub"), col("old_sub")).as("cb_sub"))
        .localCheckpoint(true) // m×kCode rows; truncate per-iteration lineage
    }
    cb
  }

  /** The ANN family's no-drift ranking value on the int64 fast path: the
    * UNSCALED DECIMAL(38,12) rendering of a 9-dp-rounded double
    * (functions.DecimalSumOps.dec_unscaled). Ranking on this long IS
    * ranking on the old `cast(DECIMAL(38,12))` column — one scale, so
    * unscaled order = decimal order, strictly — but the refine window
    * sorts/compares codegen longs instead of Decimal objects, and ADC
    * sums accumulate as plain longs (sum of unscaleds at one scale = the
    * unscaled of the decimal sum). The value never escapes: every tier
    * exact-rescores the survivors, so outputs and the DuckDB oracles are
    * untouched. Domain: |x| < 9.2·10⁶ per ranked value (longValueExact
    * raises past it) and ANSI long-sum overflow raises on pathological
    * magnitudes — loud, never silently wrong.
    */
  private def adotLong(c: Column): Column =
    graft.functions.DecimalSumOps.dec_unscaled(c, 12)

  private def subSlices(v: Column, m: Int, subDim: Int): Column =
    array((0 until m).map(s => slice(v, s * subDim + 1, subDim)): _*)

  /** Seeded per-subspace codebook: sub-vectors of the `kCode` smallest-id
    * corpus vectors (prepped frame in) — (s, codeId, cb_sub). Deterministic
    * → oracle-expressible; [[pqTrainedCodebook]] swaps in frame-for-frame.
    */
  private def seededCodebook(c: DataFrame, m: Int, subDim: Int, kCode: Int): DataFrame =
    c.where(col("cid") < kCode)
      .select(col("cid").cast("int").as("codeId"), posexplode(subSlices(col("cid_v"), m, subDim)))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "cb_sub"))

  /** PQ encode: per (cid, s) the L2-nearest codebook centroid (ties →
    * smallest id) — the m-byte compressed corpus, (cid, s, codeId).
    * Argmin AGGREGATE, not a row_number window (the nearestCells keep=1
    * rule): the corpus side scores m·kCode rows per vector, and partial
    * aggregation collapses them map-side before any exchange.
    *
    * The ranking value is the REDUCED distance `|cb|² − 2·c·cb`: at a
    * fixed (cid, s) the full ‖c − cb‖² differs from it by the constant
    * |c|², so the argmin is the same quantizer — but the hot join row
    * computes ONE subspace dot instead of three (|cb|² is precomputed
    * once on the m·kCode-row broadcast side). This matters since
    * [[kCodeForCorpus]]: the encode scan is corpus·m·kCode rows, the one
    * stage that grows with the codebook (r18 RecallX100 measured the
    * 3-dot form at 77 s for a 20k corpus at kCode 160). The DuckDB
    * oracles rank on the SAME reduced expression — constant-shifted
    * doubles can collapse float ties differently than the full form, so
    * the two engines must share one formula, not two algebraically-equal
    * ones.
    */
  private def pqEncode(c: DataFrame, cbSub: DataFrame, m: Int, subDim: Int): DataFrame = {
    val cSub = c.select(col("cid"), posexplode(subSlices(col("cid_v"), m, subDim)))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "c_sub"))
    val cb = cbSub.withColumn("cbn", dot_product(col("cb_sub"), col("cb_sub")))
    cSub.join(broadcast(cb), "s")
      .select(col("cid"), col("s"), col("codeId"),
        (col("cbn") - lit(2.0) * dot_product(col("c_sub"), col("cb_sub"))).as("d2"))
      .groupBy(col("cid"), col("s"))
      .agg(min_by(col("codeId"), struct(col("d2"), col("codeId"))).as("codeId"))
      .select("cid", "s", "codeId")
  }

  /** ADC lookup table: per (qid, s, codeId) the query-subvector · centroid
    * dot, rounded to 9 decimals and decimal-typed so ADC sums are
    * bit-reproducible across engines (the refine cutoff can never drift
    * from the oracle).
    */
  private def pqQueryTable(q: DataFrame, cbSub: DataFrame, m: Int, subDim: Int): DataFrame =
    q.select(col("qid"), posexplode(subSlices(col("qid_v"), m, subDim)))
      .withColumnsRenamed(Map("pos" -> "s", "col" -> "q_sub"))
      .join(broadcast(cbSub), "s")
      .select(col("qid"), col("s"), col("codeId"),
        adotLong(round(dot_product(col("q_sub"), col("cb_sub")), 9)).as("pdot"))

  /** Per-row residuals against the assigned coarse cell: (cid, centId,
    * r_v = vec − cell centroid), from an `(cid, centId)` assignment. One
    * broadcast-centroid join; the only shuffle is the id-keyed join
    * re-attaching vectors to their assignment.
    */
  private def residualFrame(assigned: DataFrame, c: DataFrame,
      cent: DataFrame): DataFrame =
    assigned.select(col("cid"), col("centId"))
      .join(broadcast(cent.select(col("centId"), col("cent_v"))), "centId")
      .join(c.select(col("cid"), col("cid_v")), "cid")
      .select(col("cid"), col("centId"),
        zip_with(col("cid_v"), col("cent_v"), (x, m) => x - m).as("r_v"))

  /** Train a per-subspace codebook on RESIDUALS (vec − assigned-cell
    * centroid) — the standard IVFADC preparation (Jegou et al. 2011,
    * §III): residuals concentrate near the origin, so `kCode` centroids
    * cover them far more faithfully than they cover raw vectors, which is
    * where residual IVF-PQ's recall edge comes from. Same Lloyd kernel as
    * [[pqTrainedCodebook]]; float-order dependent, so commit the result
    * as a fixture (tools.TrainPqResidualFixture) and gate the SERVE path.
    */
  def pqResidualCodebook(corpus: DataFrame, centroids: DataFrame,
      m: Int = 8, subDim: Int = 8, kCode: Int = 16, iters: Int = 5): DataFrame = {
    val c = prep(corpus, "cid")
    pqTrainedCodebook(
      residualFrame(nearestCells(c, "cid", centroids, keep = 1), c, centroids)
        .select(col("cid"), col("r_v").as("vec")),
      m, subDim, kCode, iters)
  }

  /** The ONE per-dimension range aggregate of the SQ8 family — one row,
    * `(los, sts)` arrays — shared by the in-flight and persisted forms. */
  private def sq8Ranges(c: DataFrame): DataFrame =
    c.select(posexplode(col("cid_v")))
      .groupBy("pos")
      .agg(min("col").as("lo"),
        ((max("col") - min("col")) / lit(256.0)).as("st"))
      .agg(array_sort(collect_list(struct(col("pos"), col("lo"), col("st")))).as("ps"))
      .select(transform(col("ps"), p => p.getField("lo")).as("los"),
        transform(col("ps"), p => p.getField("st")).as("sts"))

  /** The ONE floor-encode: byte codes per corpus vector — `(cid, codes)`.
    * One code per element of the vector itself, so building the codes
    * needs no width and runs no Spark job. */
  private def sq8Codes(c: DataFrame, rg: DataFrame): DataFrame =
    c.crossJoin(broadcast(rg))
      .select(col("cid"),
        transform(col("cid_v"), (x, i) => {
          val lo = element_at(col("los"), i + 1)
          val st = element_at(col("sts"), i + 1)
          when(st === 0.0, lit(0))
            .otherwise(least(lit(255), floor((x - lo) / st).cast("int")))
        }).as("codes"))

  /** The ONE midpoint decode of a codes frame — `(cid, rv)`. */
  private def sq8Decode(codes: DataFrame, rg: DataFrame): DataFrame =
    codes.crossJoin(broadcast(rg))
      .select(col("cid"),
        transform(col("codes"), (cd, i) =>
          element_at(col("los"), i + 1) +
            (cd.cast("double") + lit(0.5)) * element_at(col("sts"), i + 1))
          .as("rv"))

  /** Hard-negative mining for contrastive embedding training (the
    * ANCE-style "near but wrong" selection, Xiong et al. 2021,
    * arXiv:2007.00808): for each query vector, the top-k most-similar
    * corpus vectors whose `label` DIFFERS from the query's — the
    * negatives that actually shape a decision boundary, as opposed to
    * random negatives the model already separates.
    *
    * Inputs carry (qid|cid, vec, label). The candidate cut is the [[Lsh]]
    * router (id-only band shuffle, OR-amplified buckets); labels join in
    * at rescore time with the vectors — int-sized columns on
    * candidate-count rows — and the mismatch filter runs BEFORE ranking,
    * so negatives crowded out by same-label neighbors still surface.
    * Exact cosine, rank ties to cid.
    */
  def hardNegatives(
      queries: DataFrame, // (qid, vec, label)
      corpus: DataFrame,  // (cid, vec, label)
      k: Int = 5,
      planesPerBand: Int = 4,
      bands: Int = 4,
  ): DataFrame = {
    val cand = lshPairs(prep(queries, "qid"), prep(corpus, "cid"),
      Lsh(planesPerBand, bands))
    val scored = cand
      .join(prep(queries, "qid"), "qid")
      .join(prep(corpus, "cid"), "cid")
      .join(queries.select(col("qid"), col("label").as("qlabel")), "qid")
      .join(corpus.select(col("cid"), col("label").as("neg_label")), "cid")
      .where(col("qlabel") =!= col("neg_label"))
      .select(col("qid"), col("cid"), col("neg_label"),
        round(dot_product(col("qid_v"), col("cid_v")) /
          (col("qid_n") * col("cid_n")), 6).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
  }

  /** ±1 entry of the JL projection matrix at plane `p`, dimension `i`
    * (1-based). Two modular SQUARES break the affine structure that
    * correlated the original one-step Lehmer generator's rows (measured
    * mean |corr| 0.51 over 64 dims — a 0.48 mean cosine distortion at
    * 16 output dims, vs the ~1/√16 theory; by r15 the same flaw was
    * measured collapsing the LSH bucket space, so [[bandSign]] now uses
    * this mixing too, under its own salt/bit so the two plane families
    * stay independent). Measured mean |corr| 0.11 ≈ the 1/√64
    * independent-row level. All intermediates < 2⁶² (s < 2³¹ squares
    * safely), so DuckDB replays it in overflow-checked BIGINT.
    */
  def projSign(p: Int, i: Int): Double = {
    val P31 = 2147483647L
    val s = (1000003L * p + 7919L * i + 12345L) % P31
    val x1 = (s * s) % P31
    val x2 = ((x1 + s) * 48271L) % P31
    val x3 = (x2 * x2) % P31
    if (((x3 >> 13) & 1L) == 1L) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss SIGN projection: reduce each embedding to
    * `outDims` coordinates `y_p = ⟨v, s_p⟩` against the deterministic
    * ±1 matrix ([[projSign]] — data-independent, no stored model, the
    * oracle recomputes it in SQL). Achlioptas 2001 shows ±1 entries carry the full JL
    * distance-preservation guarantee; the common `1/√outDims` scale is
    * OMITTED — cosine and relative-distance comparisons are invariant
    * to it, and leaving it off keeps the output the plain signed sums.
    * Components round to 6 decimals at output (the family convention).
    *
    * Scale shape: one row-local projection — the sign matrix constant-
    * folds into the plan, `Exprs.let` binds the double-cast vector once,
    * zero exchanges. `firstPlane` offsets select an independent matrix
    * (e.g. keep the banding planes and the projection planes disjoint).
    */
  def signProject(corpus: DataFrame, idCol: String, vecCol: String,
      outDims: Int, firstPlane: Int = 0): DataFrame = {
    require(outDims >= 1 && outDims <= MaxDims,
      s"outDims out of [1, $MaxDims]: $outDims")
    // raw projections via the one-pass kernel (bit-identical to the
    // per-plane DotProduct folds); the 6-decimal rounding stays Spark's
    // own `round`, so output doubles are byte-for-byte unchanged
    corpus.select(col(idCol),
      transform(
        graft.functions.BandFunctions.plane_dots(
          transform(col(vecCol), x => x.cast("double")), outDims, "proj",
          firstPlane),
        d => round(d, 6)).as("proj"))
  }

  /** Corpus-level embedding feature prep: mean-center every vector on the
    * corpus centroid, then L2-normalize — the standard conditioning step
    * before k-means / cosine ANN (removes the common-direction bias that
    * makes raw embedding cosines cluster near 1). A zero vector after
    * centering (a vector AT the centroid) stays zero rather than
    * dividing by its own zero norm.
    *
    * Scale shape: the mean is 64 dimension-keyed partial aggregates
    * (map-side combined, DECIMAL-exact so the centroid is partition-order
    * independent), collected into ONE broadcast array; the
    * center+normalize pass is then a row-local projection. Components
    * round to 6 decimals at output (the cosine-family convention).
    */
  def normalizeEmbeddings(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import graft.functions.Exprs
    val withV = corpus.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    // exact decimal(38,18)-semantics mean on the split-int64 fast path
    // (functions.DecimalSumOps: the decimal SUM's non-compact
    // accumulation measured ~4.5x the double sum on this 1.28M-row
    // explode at sf1.0; values are unchanged, DecimalSumSpec-pinned)
    val mu = withV.select(col(idCol), posexplode(col("v")))
      .groupBy("pos")
      .agg((graft.functions.DecimalSumOps.dsum_exact_split(col("col"), 18) /
        count(lit(1)).cast("double")).as("mu"))
    val muArr = mu
      .agg(array_sort(collect_list(struct(col("pos"), col("mu")))).as("pm"))
      .select(transform(col("pm"), p => p.getField("mu")).as("mu"))
    withV.crossJoin(broadcast(muArr))
      .select(col(idCol),
        Exprs.let(zip_with(col("v"), col("mu"), (x, m) => x - m), { cv =>
          Exprs.let(norm(cv), { nrm =>
            when(nrm =!= lit(0.0), transform(cv, c => round(c / nrm, 6)))
              .otherwise(transform(cv, c => round(c, 6)))
          })
        }).as("nvec"))
  }

  /** Embedding-space dataset card: per trained-quantizer cell, the vector
    * count and the distribution of cosine-to-own-centroid (mean exact via
    * DECIMAL accumulation, min/max rounded at output) — the cluster-
    * balance / compactness report a curation run logs next to the corpus
    * manifest, and the "is one cell swallowing the corpus" check before
    * [[graft.ops.Dedup.semanticDedup]]'s per-cell pair stage.
    * One broadcast-centroid argmax pass + one map-side-combined aggregate
    * keyed by (at most) the quantizer size.
    */
  def cellProfile(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val c = prep(corpus, "cid")
    val w = Window.partitionBy(col("cid")).orderBy(col("csim").desc, col("centId"))
    val assigned = c.crossJoin(broadcast(centroids))
      .select(col("cid"), col("centId"), csim("cid"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    assigned.groupBy(col("centId").as("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(graft.functions.DecimalSumOps.dsum_exact_split(col("csim"), 18) /
          count(lit(1)).cast("double"), 6).as("avg_csim"),
        round(min(col("csim")), 6).as("min_csim"),
        round(max(col("csim")), 6).as("max_csim"))
  }
}


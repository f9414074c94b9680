package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.ops.{Dedup, TextAnalysis}

/** Streaming ingest for the `documents` table — the training-data-pipeline
  * operators re-expressed over Structured Streaming, so a 100 TB/day corpus
  * can be cleaned incrementally instead of re-batched:
  *
  *  - enrichment (language-ID / quality / token counts / fingerprint) is
  *    stateless column math → runs unchanged per micro-batch;
  *  - exact dedup uses `dropDuplicatesWithinWatermark` on the content
  *    fingerprint: state holds only fingerprints younger than the
  *    watermark — bounded, unlike a naive dropDuplicates whose state grows
  *    with the corpus;
  *  - near-dup detection joins each arriving micro-batch against a STATIC
  *    simhash block index of the existing corpus (stream-static join,
  *    stateless on the stream side; the index is small — two longs per
  *    corpus doc×blocks — and broadcastable). New-vs-new dups within a
  *    batch surface on the next index refresh, the standard lambda split.
  */
object DocumentStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of documents parquet files, with
    * an event-time column (file streams have no embedded time; ingest time
    * anchors the dedup watermark).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)
      .withColumn("ingestTs", current_timestamp())

  /** Stateless enrichment — identical semantics to the batch operator. */
  def enriched(docs: DataFrame): DataFrame = TextAnalysis.analyze(docs)

  /** Stateless PII scrubbing — [[graft.ops.Pii.scrub]]'s projection
    * applied per micro-batch. Like [[hashSample]], the redaction is a pure
    * row-local function: no watermark, no state store, and a document gets
    * byte-identical clean text and counts whether it arrives by stream or
    * batch backfill — every stateless batch gate has a streaming twin.
    */
  def scrubbed(docs: DataFrame, textCol: String = "text",
      outCol: String = "text_clean"): DataFrame =
    graft.ops.Pii.scrub(docs, textCol, outCol)

  /** Stateless train/val/test labeling — [[graft.ops.Sampling.splitLabels]]
    * per micro-batch. Membership is a pure function of the id against
    * driver-inlined integer thresholds, so a document gets the same split
    * whether it arrives by stream or batch backfill — no state, no
    * watermark.
    */
  def splitLabeled(docs: DataFrame, idCol: String = "doc_id",
      fractions: Seq[(String, Double)]): DataFrame =
    graft.ops.Sampling.splitLabels(docs, idCol, fractions)

  /** BM25 relevance scoring of ARRIVING documents against a frozen
    * corpus-statistics snapshot ([[graft.ops.Ranking.bm25Stats]]) — the
    * query-routing serve path: stateless stream-static join + row-local
    * term fold, no state store, no corpus rescan.
    */
  def bm25Scored(docs: DataFrame, stats: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    graft.ops.Ranking.bm25Score(docs, idCol, textCol, stats)

  /** Terminal tokenization on the stream — [[graft.ops.Unigram.tokenIds]]
    * VERBATIM: the row-local transform-lambda projection carries no state,
    * so arriving documents tokenize in their micro-batch with exact batch
    * parity (structural, same expressions).
    */
  def tokenized(docs: DataFrame, m: graft.ops.Unigram.Trained,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    graft.ops.Unigram.tokenIds(docs, textCol, idCol, m)

  /** Stateless within-doc duplicate-line stats —
    * [[graft.ops.TextAnalysis.lineRepetition]]'s row-local sorted-adjacency
    * projection per micro-batch; the same expressions, so stream/batch
    * parity is structural.
    */
  def lineRepetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.lineRepetition(docs, idCol, textCol)

  /** Stateless within-doc repeated-line removal —
    * [[graft.ops.Boilerplate.dedupLinesWithinLocal]]'s row-local projection
    * per micro-batch (the batch window+regroup form needs a per-document
    * shuffle a stream doesn't; the two forms are parity-pinned in OpsSpec,
    * so the stream still matches a batch backfill row-for-row).
    */
  def lineDeduped(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.ops.Boilerplate.dedupLinesWithinLocal(docs, textCol)

  /** Stateless quality classification — [[graft.ops.Classifier.classify]]'s
    * fused-kernel projection per micro-batch. The "model" (the committed
    * weight formula) rides in the expression, so there is no state, no
    * lookup side, and stream/batch label parity is structural.
    */
  def classified(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.ops.Classifier.classify(docs, textCol)

  /** Stateless TRAINED-classifier gate — the index-split pattern applied
    * to a model: training ([[graft.ops.Classifier.train]], corpus-wide
    * counts) is the batch index-build job's problem; the trained weight
    * table rides into the streaming projection as a codegen object
    * reference, so scoring is stateless and a document is labeled
    * identically by stream or batch backfill against the same weights
    * snapshot.
    */
  def classifiedTrained(docs: DataFrame, weights: Seq[Long],
      textCol: String = "text"): DataFrame =
    graft.ops.Classifier.classifyTrained(docs, weights, textCol)

  /** Stateless DSIR admission gate — [[graft.ops.Classifier.dsirGate]]'s
    * integer cross-multiplied threshold per micro-batch: the micro-nat
    * log-ratio table (estimated batch-side by
    * [[graft.ops.Classifier.dsirLogRatios]], the index-split pattern)
    * rides in as a codegen object reference, so each arriving document is
    * admitted or cut the moment it is scored — the streaming half of
    * importance resampling (a global top-n needs the corpus; the
    * threshold form doesn't).
    */
  def dsirGated(docs: DataFrame, weights: Seq[Long],
      minImportanceMicro: Long, textCol: String = "text"): DataFrame =
    graft.ops.Classifier.dsirGate(docs, weights, minImportanceMicro, textCol)

  /** Stateless Gopher rule gate — [[graft.ops.TextAnalysis.gopherRules]]'s
    * integer-exact flag projection per micro-batch; same structural
    * stream/batch parity as [[classified]].
    */
  def ruleGated(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.ops.TextAnalysis.gopherRules(docs, textCol)

  /** Streaming boilerplate removal against a PRECOMPUTED frequent-line
    * index — [[graft.ops.Boilerplate.cleanAgainstIndex]] with the index as
    * the static batch side of a stream-static broadcast join (the same
    * split as [[nearDupsAgainstCorpus]]: corpus-wide counting is the
    * index-build job's problem; per-document line filtering is stateless).
    * A document is cleaned identically by stream or batch backfill against
    * the same index snapshot.
    */
  def cleanedAgainstIndex(docs: DataFrame, freqIndex: DataFrame,
      textCol: String = "text", outCol: String = "text_clean"): DataFrame =
    graft.ops.Boilerplate.cleanAgainstIndex(docs, freqIndex, textCol,
      outCol = outCol)

  /** Deterministic streaming sample — [[graft.ops.Sampling.hashSample]]'s
    * integer-hash membership applied per micro-batch. Membership is a pure
    * function of the id, so this is STATELESS (no watermark, no state
    * store, nothing grows) and a document keeps the same in/out decision
    * whether it arrives by stream or by batch backfill — the lambda-split
    * property the rest of this module gets from watermarked state, here
    * for free. The per-stratum [[graft.ops.Sampling.stratifiedSample]]
    * composes the same way (also a pure filter); rank-based samplers
    * (stratifiedFixed / mixtureSample) do NOT — their quotas depend on
    * corpus-wide counts and belong to the batch/index side of the split.
    */
  def hashSample(docs: DataFrame, idCol: String, fraction: Double): DataFrame =
    graft.ops.Sampling.hashSample(docs, idCol, fraction)

  /** Quality-weighted streaming sample — survival probability = the
    * row's own weight column, via the same pure-hash membership as
    * [[hashSample]] (stateless, stream == backfill decision).
    */
  def weightedSample(docs: DataFrame, idCol: String,
      weightCol: String): DataFrame =
    graft.ops.Sampling.weightedHashSample(docs, idCol, weightCol)

  /** Per-stratum streaming sample — same stateless property as
    * [[hashSample]], with per-source fractions (downsample the crawl,
    * keep curated sources whole) compiled into the scan's when-cascade.
    */
  def stratifiedSample(docs: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], default: Double): DataFrame =
    graft.ops.Sampling.stratifiedSample(docs, strataCol, idCol, fractions, default)

  /** Exact dedup within a watermark window, keyed on xxhash64 of the RAW
    * text (byte-exact duplicate detection, the cheapest exact key; swap in
    * TextFunctions.shingle_hashes-based keys for normalized-content
    * dedup). State = one row per distinct key seen within `delay` —
    * bounded by arrival rate × delay.
    *
    * NULL text RAISES (the batch [[graft.ops.Dedup.indexCut]] convention):
    * `xxhash64(NULL)` is the SEED constant (42), not NULL, so distinct
    * null-text documents would all share one contentKey and silently
    * dedup against each other — filter or repair upstream. For always-on
    * deployments that prefer availability over the crash-loop,
    * `passNullText = true` is the explicit opt-in (the [[guardedId]]
    * doc's two-conventions rationale): null-text rows BYPASS the dedup
    * entirely (emitted with a null contentKey, never merged with anything
    * and holding no state) — the conservative direction for a dedup
    * (extra rows survive; nothing is silently merged).
    */
  def dedupExactWithinWatermark(docs: DataFrame, delay: String = "10 minutes",
      passNullText: Boolean = false): DataFrame =
    if (passNullText) {
      val wm = docs.withWatermark("ingestTs", delay)
      wm.where(col("text").isNotNull)
        .withColumn("contentKey", xxhash64(col("text")))
        .dropDuplicatesWithinWatermark("contentKey")
        .unionByName(wm.where(col("text").isNull)
          .withColumn("contentKey", lit(null).cast("long")))
    } else docs
      .withColumn("contentKey",
        when(col("text").isNull, raise_error(lit(
          "dedupExactWithinWatermark: null text — xxhash64(NULL) is the " +
            "seed constant, so distinct null-text documents would " +
            "silently dedup against each other; filter or repair " +
            "upstream, or opt into passNullText = true")))
          .otherwise(xxhash64(col("text"))))
      .withWatermark("ingestTs", delay)
      .dropDuplicatesWithinWatermark("contentKey")

  /** Streaming incremental exact dedup against a STATIC key index — the
    * stream half of [[graft.ops.Dedup.dedupIncremental]]'s split: the
    * accumulated corpus contributes only its fingerprint index (a static
    * anti-join side), arriving documents whose key is already indexed are
    * dropped per micro-batch, statelessly. Within-stream duplicates are
    * [[dedupExactWithinWatermark]]'s job — compose both for the full
    * increment semantics.
    */
  def dedupAgainstIndex(docs: DataFrame, keyIndex: DataFrame,
      keyCol: Column): DataFrame =
    Dedup.indexCut(docs, keyIndex, keyCol).drop("__inc_k")

  /** Static simhash block index of an existing corpus: (block, blockKey,
    * corpusId, corpusSim) — the join side for streaming near-dup lookups.
    * ONE builder shared with the batch increment
    * ([[graft.ops.Dedup.simhashIndex]]), so a persisted index serves both
    * the stream and the batch backfill identically. `blocks` must exceed
    * the lookup's maxHamming (pigeonhole, as in batch).
    */
  def simhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      blocks: Int = 4): DataFrame =
    Dedup.simhashIndex(corpus, idCol, textCol, blocks)

  /** Streaming near-dup detection: each arriving doc is simhashed, its
    * blocks joined against the static index (broadcast — the index is tiny
    * relative to the stream), and exact Hamming verifies candidates.
    * Emits (doc_id, corpusId, dist) for dist ≤ maxHamming. A pair that
    * collides in several blocks is deduped with
    * `dropDuplicatesWithinWatermark` — state bounded by the watermark,
    * never the corpus size.
    */
  /** Null-id guard shared by the streaming corpus probes — the batch
    * probes route through guardedSims/guardedVecs, which raise on a null
    * id precisely because NULL never survives the `doc_id =!= corpusId`
    * identity filter: a null-id near-duplicate's matches vanish and a
    * downstream remove-matched step silently re-admits it.
    *
    * The module carries TWO null conventions on purpose, chosen by what a
    * dropped row costs: [[bloomGate]] admits null text and MediaStream
    * drops null ids because those outputs are conservative filters — a
    * tolerated null can only let one extra row through, and raising would
    * wedge an always-on query in a crash loop a restart cannot clear. The
    * near-dup PROBES' output feeds removal decisions, where a silently
    * skipped row IS the integrity failure, so they default to the batch
    * family's raise. For always-on deployments that prefer availability
    * (repair ids upstream, restart nothing), each probe takes
    * `dropNullIds = true` — an EXPLICIT opt-in that filters null-id rows
    * before the guard; the drop is visible in the sink's row counts
    * (input vs output) rather than a poison-pill crash loop.
    */
  private def guardedId(c: Column, op: String): Column =
    when(c.isNull, raise_error(lit(
      s"$op: null doc_id — a null-id near-duplicate would be silently " +
        "re-admitted (NULL never matches the identity filter); filter " +
        "or repair ids upstream, or opt into dropNullIds = true"))).otherwise(c)

  /** The dropNullIds opt-in (see [[guardedId]]): pre-filter null-id rows
    * so the guard never fires — the drop-with-visible-row-counts
    * convention for always-on probes. */
  private def nullIdPolicy(df: DataFrame, dropNullIds: Boolean): DataFrame =
    if (dropNullIds) df.where(col("doc_id").isNotNull) else df

  def nearDupsAgainstCorpus(stream: DataFrame, index: DataFrame,
      maxHamming: Int = 3, blocks: Int = 4,
      dedupDelay: String = "10 minutes",
      dropNullIds: Boolean = false): DataFrame = {
    val withSim = nullIdPolicy(stream, dropNullIds)
      .select(guardedId(col("doc_id"), "nearDupsAgainstCorpus").as("doc_id"),
        col("ingestTs"),
        TextFunctions.simhash31(col("text")).as("sim"))
      .where(col("sim") >= 0)
    // the probe itself is the ONE shared definition (Dedup.hashIndexMatchCore);
    // only the multi-block-collision collapse — and the broadcast hint,
    // which a stream-static join wants on the static side — is
    // streaming-specific (the batch probe lets Catalyst pick by stats)
    Dedup.hashIndexMatchCore(withSim, broadcast(index), maxHamming, blocks,
        bits = 31, idName = "doc_id")
      .select(col("doc_id"), col("ingestTs"), col("corpusId"), col("dist"))
      .withWatermark("ingestTs", dedupDelay)
      .dropDuplicatesWithinWatermark("doc_id", "corpusId")
      .drop("ingestTs")
  }

  /** Est-Jaccard sibling of [[nearDupsAgainstCorpus]]: arriving documents
    * probed against a static [[graft.ops.Dedup.minhashIndex]] of the
    * accumulated corpus. The banding and the per-collision probe are the
    * batch operator's own definitions ([[graft.ops.Dedup.bandExplode]] /
    * `minhashMatchCore`) — only the signature projection (streams skip the
    * stats-based repartition), the broadcast hint, and the
    * watermark-bounded multi-band collapse are streaming-specific.
    */
  def minhashNearDupsAgainstCorpus(stream: DataFrame, index: DataFrame,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.3,
      dedupDelay: String = "10 minutes",
      dropNullIds: Boolean = false): DataFrame = {
    val withSig = nullIdPolicy(stream, dropNullIds)
      .select(guardedId(col("doc_id"), "minhashNearDupsAgainstCorpus").as("doc_id"),
        col("ingestTs"),
        TextFunctions.minhash_sig(
          TextFunctions.shingle_hashes(col("text")), numHashes).as("sig"))
      .where(size(col("sig")) > 0)
    Dedup.minhashMatchCore(
        Dedup.bandExplode(withSig, numHashes, bands), broadcast(index), numHashes)
      .where(col("estJaccard") >= threshold)
      .select(col("doc_id"), col("ingestTs"), col("corpusId"), col("estJaccard"))
      .withWatermark("ingestTs", dedupDelay)
      .dropDuplicatesWithinWatermark("doc_id", "corpusId")
      .drop("ingestTs")
  }

  /** Embedding sibling of [[nearDupsAgainstCorpus]], completing the
    * streaming increment across all three near-dup criteria: arriving
    * `(doc_id, vec)` rows are hyperplane-banded with the batch operator's
    * own definitions ([[graft.ops.Dedup.cosineBandRows]] /
    * `cosineCandidateCore` / `cosineVerify`), candidates joined against a
    * static [[graft.ops.Dedup.cosineIndex]], and exact cosine verified
    * against the broadcast [[graft.ops.Dedup.cosineVecStore]]. Emits
    * `(doc_id, corpusId, cosine)` for cosine ≥ `threshold`.
    *
    * Streaming-specific (everything else is the batch definition): the
    * stream's own vector rides through the band explode as `__v`/`__nrm` —
    * a stream cannot re-join to itself, so the batch probe's
    * dedup-pairs-then-RE-JOIN-vectors shape doesn't apply; instead the
    * multi-band collapse runs BEFORE the vector-store join and the exact
    * verify (the candidate rows already carry the stream vector), so a
    * pair colliding in all `bands` bands pays ONE dot product, not
    * `bands` — the streaming analogue of the batch probe's
    * dedup-pairs-first rule. Both static sides are broadcast
    * (stream-static joins want the static side as build side).
    *
    * Because the collapse runs pre-verify, the collapse key includes a
    * CONTENT hash of the vector, not just (doc_id, corpusId): the
    * simhash/minhash twins filter failed probes before their collapse,
    * but here a first arrival that FAILS the verify would otherwise
    * occupy the (doc_id, corpusId) slot and silently drop a mutated
    * re-arrival of the same id whose new vector PASSES — exactly the
    * re-crawled-id-with-changed-content case [[cdcIngestProbe]] exists
    * for. With the hash in the key, identical re-deliveries (the case
    * the collapse targets) still collapse to one dot product, while a
    * changed vector verifies on its own row — output matches the batch
    * probe over the same arrivals up to watermark-late drops.
    */
  def cosineNearDupsAgainstCorpus(stream: DataFrame, index: DataFrame,
      vecStore: DataFrame, vecCol: String = "vec",
      threshold: Double = 0.95, planesPerBand: Int = 4, bands: Int = 8,
      dedupDelay: String = "10 minutes",
      dropNullIds: Boolean = false): DataFrame = {
    val withVec = nullIdPolicy(stream, dropNullIds)
      .select(guardedId(col("doc_id"), "cosineNearDupsAgainstCorpus").as("doc_id"),
        col("ingestTs"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.ops.Similarity.norm(col("v")))
      .withColumn("__v", col("v")).withColumn("__nrm", col("nrm"))
      // content fingerprint for the collapse key (see docstring): computed
      // on the double-cast vector so float/double inputs of equal value
      // fingerprint identically
      .withColumn("__vh", xxhash64(col("v")))
    Dedup.cosineCandidateCore(withVec, broadcast(index), planesPerBand, bands)
      .select(col("doc_id"), col("ingestTs"), col("corpusId"),
        col("__v"), col("__nrm"), col("__vh"))
      .withWatermark("ingestTs", dedupDelay)
      .dropDuplicatesWithinWatermark("doc_id", "corpusId", "__vh")
      .join(broadcast(vecStore), "corpusId")
      .select(col("doc_id"), col("corpusId"),
        Dedup.cosineVerify(col("__v"), col("__nrm"),
          col("corpusV"), col("corpusN")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Stream-stream self-dedup: near-dup pairs BETWEEN documents arriving in
    * the same stream, found online — closes the lambda gap that
    * [[nearDupsAgainstCorpus]] leaves for new-vs-new duplicates. Both sides
    * are the simhash-blocked stream joined to itself on (block, blockKey)
    * with a time-range condition, so state is bounded by the watermark
    * delay × arrival rate (Spark drops buffered rows once the watermark
    * passes `window`), never by corpus size. `idA < idB` keeps each
    * unordered pair once; multi-block collisions are collapsed per batch
    * with a watermark-bounded distinct.
    */
  def nearDupsWithinStream(stream: DataFrame, maxHamming: Int = 3,
      blocks: Int = 4, window: String = "10 minutes"): DataFrame = {
    require(blocks > maxHamming, "pigeonhole: blocks must exceed maxHamming")
    def blocked(df: DataFrame) = df
      .withColumn("sim", TextFunctions.simhash31(col("text")))
      .where(col("sim") >= 0)
      .select(col("doc_id"), col("ingestTs"), col("sim"),
        posexplode(Dedup.comboKeyCols(col("sim"), blocks, bits = 31, comboWidth = 1)))
      .withColumnsRenamed(Map("pos" -> "block", "col" -> "blockKey"))
    val left = blocked(stream).withWatermark("ingestTs", window)
    val right = blocked(stream)
      .withColumnsRenamed(Map("doc_id" -> "idB", "ingestTs" -> "tsB", "sim" -> "simB"))
      .withWatermark("tsB", window)
    left.join(right,
        left("block") === right("block") && left("blockKey") === right("blockKey") &&
          col("doc_id") < col("idB") &&
          col("tsB") >= col("ingestTs") - expr(s"interval $window") &&
          col("tsB") <= col("ingestTs") + expr(s"interval $window"))
      .select(col("doc_id").as("idA"), col("idB"), col("ingestTs"),
        Dedup.hamming(col("sim"), col("simB")).as("dist"))
      .where(col("dist") <= maxHamming)
      // ingestTs carries left's watermark through the join — do not redefine
      .dropDuplicatesWithinWatermark("idA", "idB")
      .drop("ingestTs")
  }

  /** Static benchmark shingle index: the distinct shingle hashes of the
    * evaluation set — the broadcast side for streaming decontamination.
    * Tiny by construction (benchmarks are small), exactly like the batch
    * operator's broadcast side (graft.ops.Decontaminate).
    */
  def benchShingleIndex(bench: DataFrame, textCol: String = "text"): DataFrame =
    bench.select(explode(TextFunctions.shingle_hashes(col(textCol))).as("sh"))
      .distinct()

  /** Streaming decontamination: every arriving document's shingles are
    * checked against the static benchmark index (stream-static broadcast
    * join — stateless on the stream side), emitting distinct
    * `(doc_id, sh)` collisions. A downstream quarantine drops any doc_id
    * that appears at all (the batch operator's `minShared = 1`
    * semantics); multi-shingle collisions are collapsed by a
    * watermark-bounded distinct, so state is arrival-rate × delay, never
    * corpus size.
    */
  def contaminationAgainstBench(stream: DataFrame, benchIndex: DataFrame,
      dedupDelay: String = "10 minutes"): DataFrame =
    stream
      .select(col("doc_id"), col("ingestTs"),
        explode(TextFunctions.shingle_hashes(col("text"))).as("sh"))
      .join(broadcast(benchIndex), Seq("sh"))
      .withWatermark("ingestTs", dedupDelay)
      .dropDuplicatesWithinWatermark("doc_id", "sh")
      .select("doc_id", "sh")

  final case class KmvPos(source: String, m: Long)
  final case class KmvState(seq: Long, mins: Array[Long])
  final case class KmvEst(source: String, seq: Long, n_est: Long)

  /** Streaming KMV distinct-count sketch — the sketch family's natural
    * streaming form, because the state IS the sketch: ≤ k mixed
    * positions per group ([[graft.ops.Sketch.mixedPosition]] — the same
    * definition the batch estimator ranks), merged micro-batch by
    * micro-batch with the bounded insert rule (admit a position only if
    * the sketch isn't full or it beats the current k-th minimum). Each
    * update emits the group's running estimate with a sequence number so
    * consumers (and the parity test) can pick the latest. After any
    * prefix of the stream, the emitted estimate equals the batch
    * [[graft.ops.Sketch.kmvDistinct]] estimate over the rows seen so far
    * — KMV is order-insensitive, so arrival order and batching cannot
    * move it.
    */
  def runningKmv(docs: DataFrame, k: Int = graft.ops.Sketch.MaxK,
      sourceCol: String = "source", textCol: String = "text"): Dataset[KmvEst] = {
    // the batch kmvDistinct's bound, for the same reason: (k-1)·P57 must
    // fit int64 (k > MaxK silently wraps the estimate negative once the
    // sketch fills; k <= 1 crashes on buf.last or always estimates 0)
    require(k >= 2 && k <= graft.ops.Sketch.MaxK,
      s"k out of [2, ${graft.ops.Sketch.MaxK}]: $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val p57 = graft.ops.Sketch.P57
    docs.select(col(sourceCol).as("source"),
        explode(TextFunctions.shingle_hashes(col(textCol))).as("h"))
      .select(col("source"), graft.ops.Sketch.mixedPosition(col("h")).as("m"))
      .as[KmvPos]
      .groupByKey(_.source)
      .mapGroupsWithState[KmvState, KmvEst](GroupStateTimeout.NoTimeout) {
        case (source, rows, state: GroupState[KmvState]) =>
          val prev = state.getOption.getOrElse(KmvState(0L, Array.empty[Long]))
          val buf = scala.collection.mutable.SortedSet.empty[Long] ++ prev.mins
          rows.foreach { r =>
            if (buf.size < k) buf += r.m
            // evict only on real growth: a duplicate position must not
            // push out the current k-th minimum
            else if (r.m < buf.last) { buf += r.m; if (buf.size > k) buf -= buf.last }
          }
          val mins = buf.toArray
          state.update(KmvState(prev.seq + 1, mins))
          val est = if (mins.length < k) mins.length.toLong
            else (k - 1).toLong * p57 / mins(k - 1)
          KmvEst(source, prev.seq + 1, est)
      }
  }

  /** Streaming CDC ingest probe: per arriving document, how many of its
    * content-defined chunks (and bytes) the chunk store already holds —
    * [[graft.ops.Dedup.cdcIndexMatches]] against a static
    * [[graft.ops.Dedup.cdcChunkIndex]]: chunking is row-local and the
    * probe is a stream-static join on chunk identity, but the per-doc
    * re-aggregation after the chunk explode IS a stateful streaming
    * aggregation — keyed by `idCol` alone its state holds one row per
    * distinct document id EVER seen (unbounded on an always-on ingest)
    * and a re-crawled id arriving in a later micro-batch MERGES into the
    * old row, double-counting n_chunks/bytes.
    *
    * So: when the stream carries an `ingestTs` column, the probe
    * watermarks it and joins it into the group key — state is evicted
    * once the watermark passes (bounded by arrival rate × `delay`), and
    * each ARRIVAL aggregates its own row (a re-crawl probes
    * independently, which is the increment semantics). The output then
    * carries `ingestTs` alongside the batch op's schema. The bare
    * (unbounded-state) form is an EXPLICIT opt-in: a STREAMING input
    * without an `ingestTs` column raises at plan time unless
    * `allowUnboundedState = true` — the silent fallback it replaces meant
    * a column-name typo (`ingest_ts`) degraded an always-on query into
    * one-state-row-per-id-ever-seen with re-crawls merging and
    * double-counting, exactly the failure the docstring warned about but
    * nothing enforced. Batch inputs never need the opt-in (their
    * "state" ends with the job).
    */
  def cdcIngestProbe(docs: DataFrame, index: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 16, maskBits: Int = 6, delay: String = "10 minutes",
      allowUnboundedState: Boolean = false): DataFrame = {
    val bounded = docs.isStreaming && docs.columns.contains("ingestTs")
    require(!docs.isStreaming || bounded || allowUnboundedState,
      "cdcIngestProbe: streaming input has no ingestTs column — the per-doc " +
        "re-aggregation would keep one state row per distinct id EVER seen " +
        "(unbounded on always-on ingest) and re-crawled ids would merge and " +
        "double-count. Add an ingestTs event-time column (watermarked, " +
        s"state evicted after $delay), or pass allowUnboundedState = true " +
        "for a deliberately bounded backfill")
    val in = if (bounded) docs.withWatermark("ingestTs", delay) else docs
    Dedup.cdcIndexMatches(in, index, idCol, textCol, k, maskBits,
      carryCols = if (bounded) Seq("ingestTs") else Nil)
  }

  /** Streaming Bloom admission gate: drop arriving documents whose
    * content fingerprint is MAYBE in the corpus filter
    * ([[graft.ops.Sketch.bloomBitsArray]] of a persisted/merged
    * `(word, bits)` table). The membership test is the ROW-LOCAL
    * [[graft.ops.Sketch.bloomMaybeMember]] — zero joins, zero state, so
    * the gate is stateless-streaming-safe in append mode and costs a
    * scan-stage filter per micro-batch. Direction of error is the safe
    * one for admission: false positives DROP a few novel docs (rate
    * `(1−e^{−kn/m})^k`, sized at filter build), false negatives never
    * happen — an already-seen fingerprint is always rejected. New-vs-new
    * dups within the stream surface on the next filter refresh, the
    * same lambda split as the simhash index.
    *
    * NULL-text documents are ADMITTED (fingerprint(NULL) is NULL — there
    * is nothing to test membership of): the module's convention is to
    * tolerate null text (runningManifest counts it, the near-dup probes
    * filter it), and [[graft.ops.Sketch.bloomMaybeMember]]'s null-hash
    * raise would otherwise wedge an always-on admission gate into the
    * permanent crash loop a file-source restart cannot clear.
    */
  def bloomGate(docs: DataFrame, words: Array[Long], mBits: Int = 65536,
      kHashes: Int = 4, textCol: String = "text"): DataFrame =
    docs.where(graft.functions.Exprs.let(
      TextAnalysis.fingerprint(col(textCol)),
      fp => when(fp.isNull, lit(true))
        .otherwise(!graft.ops.Sketch.bloomMaybeMember(fp, words, mBits, kHashes))))

  final case class CmsOcc(source: String, m1: Long, m2: Long)
  final case class CmsState(seq: Long, counters: Array[Long])
  final case class CmsEst(source: String, seq: Long, w_hash: Long, n_est: Long)

  /** Streaming count-min sketch — the CMS member of the running-sketch
    * family ([[runningKmv]], [[runningHistQuantiles]]): per-source
    * `depth × width` counters as state, bumped per micro-batch with the
    * batch double-hash walk (the two Lehmer mixes are computed ONCE per
    * occurrence in the plan, exactly like the batch builder), and after
    * each batch the running frequency ESTIMATES of a fixed watch-list of
    * keys are emitted (the production shape: "how often have we seen
    * these N boilerplate markers so far?"). Counter updates are
    * order/batching-insensitive sums, so after any stream prefix the
    * latest emit equals batch [[graft.ops.Sketch.cmsSketch]] +
    * [[graft.ops.Sketch.cmsLookup]] over the rows seen so far
    * (parity-pinned). State is `depth·width` longs per source — bounded
    * at build time, no watermark needed.
    */
  def runningCms(docs: DataFrame, watch: Seq[Long], depth: Int = 4,
      width: Int = 2048, sourceCol: String = "source",
      textCol: String = "text"): Dataset[CmsEst] = {
    require(depth >= 1 && depth <= 16, s"depth out of [1, 16]: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    require(watch.nonEmpty, "watch list must not be empty")
    val spark = docs.sparkSession
    import spark.implicits._
    // the watch keys' cell coordinates, precomputed driver-side with the
    // ONE shared scalar mix (Sketch.mixedPositionLong/mixedPosition2Long
    // — the column math's twin, so the definitions cannot drift apart).
    // floorMod, not %: the batch side reduces with pmod, and a NEGATIVE
    // watch hash (raw xxhash64) makes the mixed position negative —
    // sign-following % would index out of bounds / diverge from batch
    def cells(h: Long): Array[Int] = {
      val h1 = Math.floorMod(graft.ops.Sketch.mixedPositionLong(h), width.toLong)
      val h2 = 1 + Math.floorMod(graft.ops.Sketch.mixedPosition2Long(h), (width - 1).toLong)
      Array.tabulate(depth)(r =>
        (r * width + Math.floorMod(h1 + r * h2, width.toLong)).toInt)
    }
    val watchCells: Array[(Long, Array[Int])] =
      watch.toArray.map(h => h -> cells(h))
    val occ = docs.select(col(sourceCol).as("source"),
        explode(TextFunctions.word_hashes(col(textCol))).as("__h"))
      .select(col("source"),
        graft.ops.Sketch.mixedPosition(col("__h")).as("m1"),
        graft.ops.Sketch.mixedPosition2(col("__h")).as("m2"))
      .as[CmsOcc]
    occ.groupByKey(_.source)
      .flatMapGroupsWithState[CmsState, CmsEst](OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        case (source, rows, state: GroupState[CmsState]) =>
          val prev = state.getOption.getOrElse(
            CmsState(0L, new Array[Long](depth * width)))
          val counters = prev.counters.clone()
          rows.foreach { o =>
            // floorMod mirrors the batch builder's pmod — word_hashes are
            // nonnegative today, but the cell walk must not depend on it
            val h1 = Math.floorMod(o.m1, width.toLong)
            val h2 = 1 + Math.floorMod(o.m2, (width - 1).toLong)
            var r = 0
            while (r < depth) {
              counters(r * width + Math.floorMod(h1 + r * h2, width.toLong).toInt) += 1
              r += 1
            }
          }
          state.update(CmsState(prev.seq + 1, counters))
          watchCells.iterator.map { case (h, cs) =>
            CmsEst(source, prev.seq + 1, h, cs.map(counters(_)).min)
          }
      }
  }

  final case class HistVal(source: String, v: Long)
  final case class HistState(seq: Long, counts: Array[Long])
  final case class HistQuant(source: String, seq: Long, n: Long,
    p50: Long, p90: Long, p99: Long)

  /** Streaming histogram quantile sketch — like [[runningKmv]], the
    * state IS the sketch: `nBuckets` counters per source, bumped per
    * micro-batch, quantiles read off the counters at emit time with the
    * batch rule (first bucket whose cumulative count reaches
    * `ceil(pct·n/100)`, estimate = upper bucket edge —
    * [[graft.ops.Sketch.histQuantiles]] verbatim). Histogram counts are
    * order- and batching-insensitive sums, so after any stream prefix
    * the latest emit equals the batch sketch over the rows seen so far
    * (parity-pinned). State is `nBuckets` longs per source — bounded by
    * construction, no watermark needed.
    */
  def runningHistQuantiles(docs: DataFrame, lo: Long, hi: Long,
      nBuckets: Int = 64, sourceCol: String = "source",
      valueCol: String = "n_chars"): Dataset[HistQuant] = {
    require(hi > lo, s"hi must exceed lo: [$lo, $hi)")
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    require(BigInt(hi) - BigInt(lo) <= BigInt(Long.MaxValue / nBuckets),
      s"(hi - lo) * nBuckets overflows int64: [$lo, $hi) x $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(sourceCol).as("source"), col(valueCol).cast("long").as("v"))
      .as[HistVal]
      .groupByKey(_.source)
      .mapGroupsWithState[HistState, HistQuant](GroupStateTimeout.NoTimeout) {
        case (source, rows, state: GroupState[HistState]) =>
          val prev = state.getOption.getOrElse(
            HistState(0L, new Array[Long](nBuckets)))
          val counts = prev.counts.clone()
          rows.foreach { r =>
            // clamp BEFORE the multiply (batch histBucket convention): an
            // unclamped huge outlier would wrap the product and land in
            // bucket 0 instead of the top bucket
            val vc = r.v max lo min hi
            val b = ((vc - lo) * nBuckets / (hi - lo)) max 0L min (nBuckets - 1L)
            counts(b.toInt) += 1
          }
          state.update(HistState(prev.seq + 1, counts))
          val n = counts.sum
          def q(pct: Int): Long = {
            val target = (n * pct + 99) / 100
            var cum = 0L; var b = 0
            while (b < nBuckets && cum + counts(b) < target) { cum += counts(b); b += 1 }
            lo + (b + 1).toLong * (hi - lo) / nBuckets
          }
          HistQuant(source, prev.seq + 1, n, q(50), q(90), q(99))
      }
  }

  /** Streaming passage probe against a static corpus passage-hash index
    * ([[graft.ops.Dedup.passageHashIndex]]): each arriving document's
    * aligned window hashes are checked by a stream-static broadcast join
    * (stateless on the stream side), emitting the `(doc_id, char_start)`
    * dirty-start rows a downstream redactor consumes — the streaming
    * face of [[graft.ops.Dedup.passageIndexMatches]] (parity-pinned).
    * The watermark-bounded distinct collapses micro-batch replays, so
    * state is arrival-rate × delay, never corpus size.
    */
  def passageProbe(stream: DataFrame, index: DataFrame, window: Int = 60,
      stride: Int = 20, dedupDelay: String = "10 minutes"): DataFrame =
    stream
      .select(col("doc_id"), col("ingestTs"),
        posexplode(TextFunctions.passage_hashes(col("text"), window, stride)))
      .select(col("doc_id"), col("ingestTs"),
        (col("pos") * stride).as("char_start"), col("col").as("h"))
      .join(broadcast(index.select(col("h"))), Seq("h"))
      .withWatermark("ingestTs", dedupDelay)
      .dropDuplicatesWithinWatermark("doc_id", "char_start")
      .select("doc_id", "char_start")

  /** Streaming winnow probe against a static corpus fingerprint index
    * ([[graft.ops.Dedup.winnowIndex]]): arriving documents' winnow
    * fingerprints hit the broadcast index (stream-static, stateless on
    * the stream side), emitting `(doc_id, corpus_id, h)` collision rows
    * a downstream aggregator turns into shared-fingerprint counts.
    * No df-prune on the stream (document frequency is a global
    * statistic); prune downstream or refresh a pruned index — the
    * parity pin compares against the unpruned batch probe.
    */
  def winnowProbe(stream: DataFrame, index: DataFrame, k: Int = 30,
      w: Int = 10, dedupDelay: String = "10 minutes"): DataFrame =
    stream
      .select(col("doc_id"), col("ingestTs"),
        explode(TextFunctions.winnow_hashes(col("text"), k, w)).as("f"))
      .select(col("doc_id"), col("ingestTs"), col("f").getField("h").as("h"))
      .join(broadcast(index.select(col("h"), col("id").as("corpus_id"))), Seq("h"))
      .withWatermark("ingestTs", dedupDelay)
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id", "h")
      .select("doc_id", "corpus_id", "h")

  final case class BudgetDoc(doc_id: Long, source: String, nTokens: Int)
  final case class BudgetAdmit(doc_id: Long, source: String, nTokens: Int, cumTokens: Long)

  /** Streaming per-source token-budget cut — the incremental form of the
    * batch pipeline's windowed running sum (SparkEntry `d_pipeline_prep`):
    * admit documents while the per-source running total (counting EVERY
    * seen document's tokens, admitted or not, exactly like the batch
    * window-then-filter semantics) stays within `budget`.
    *
    * '''Ordering assumption''': batch equivalence holds when each source's
    * doc_ids arrive nondecreasing ACROSS micro-batches (within a batch the
    * explicit sort handles any order). A late out-of-order document is
    * charged against a running total that already includes higher-id docs,
    * so its admit/reject decision can diverge from the batch cut. That is
    * the correct trade for an unbounded stream — the alternative (buffering
    * by event time behind a watermark before admitting) delays every
    * admission by the lateness bound; callers with out-of-order sources
    * should pre-sort per micro-batch upstream or accept at-the-margin
    * divergence for docs arriving after the budget boundary was crossed.
    *
    * State = ONE Long per source — bounded by source count, not corpus
    * size; per-invocation work = this micro-batch's slice of one source
    * (sorted by doc_id in memory: bounded by batch size, never corpus
    * size). Sources progress independently and in parallel, the same
    * reason the batch version windows per source instead of keeping a
    * global running sum.
    */
  def tokenBudgetPerSource(docs: DataFrame, budget: Long): Dataset[BudgetAdmit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("source"),
        col("nTokens").cast("int")).as[BudgetDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, BudgetAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source, rows, state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          // deterministic intra-batch order; the micro-batch slice of one
          // source fits memory by construction (batch-size bounded)
          val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
            cum += d.nTokens
            if (cum <= budget) Some(BudgetAdmit(d.doc_id, source, d.nTokens, cum))
            else None
          }
          state.update(cum)
          out.iterator
      }
  }

  final case class BudgetEvt(doc_id: Long, source: String, nTokens: Int,
      eventTs: java.sql.Timestamp)
  final case class BudgetHold(cum: Long, buffer: List[BudgetEvt])

  /** Event-time variant of [[tokenBudgetPerSource]] that tolerates
    * out-of-ORDER ARRIVAL up to the watermark `delay`: documents are
    * buffered until the watermark passes their event time, then charged in
    * doc_id order — so a document arriving a few micro-batches late (but
    * within `delay`) gets exactly the admit/reject decision the batch
    * window would give it, instead of being charged against a running
    * total that already includes later ids. The residual assumptions,
    * both explicit:
    *
    *  - a document later than the watermark is DROPPED by Spark before it
    *    reaches the state function (never admitted, never charged) — the
    *    standard watermark contract, versus [[tokenBudgetPerSource]]'s
    *    silent at-the-margin divergence;
    *  - batch equivalence needs doc_id order to agree with event-time
    *    order across finalization triggers (ids finalized under an earlier
    *    watermark are charged first); within one trigger any interleaving
    *    is handled by the explicit sort.
    *
    * The admission delay this buys costs exactly `delay` of latency —
    * the trade [[tokenBudgetPerSource]]'s scaladoc names. State = one
    * running total + the documents inside the lateness horizon (bounded by
    * arrival rate × delay, never corpus size); the event-time timeout
    * flushes buffered docs when the watermark advances past them even if
    * their source receives no further data.
    */
  def tokenBudgetPerSourceEventTime(docs: DataFrame, budget: Long,
      delay: String = "10 minutes"): Dataset[BudgetAdmit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.withWatermark("eventTs", delay)
      .select(col("doc_id").cast("long"), col("source"),
        col("nTokens").cast("int"), col("eventTs")).as[BudgetEvt]
      .groupByKey(_.source)
      .flatMapGroupsWithState[BudgetHold, BudgetAdmit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (source, rows, state: GroupState[BudgetHold]) =>
          val prev = state.getOption.getOrElse(BudgetHold(0L, Nil))
          val wm = state.getCurrentWatermarkMs()
          // finalize everything at-or-before the watermark; Spark already
          // dropped rows older than it, so `hold` only shrinks as wm moves
          val (ready, hold) = (prev.buffer ++ rows)
            .partition(_.eventTs.getTime <= wm)
          var cum = prev.cum
          val out = ready.sortBy(_.doc_id).flatMap { d =>
            cum += d.nTokens
            if (cum <= budget) Some(BudgetAdmit(d.doc_id, source, d.nTokens, cum))
            else None
          }
          state.update(BudgetHold(cum, hold))
          // wake this source when the watermark REACHES its oldest held doc,
          // even if no further data arrives for it. Spark fires an event-time
          // timeout only when the watermark advances strictly BEYOND the set
          // timestamp, so arming at minHeldTs would never flush a doc whose
          // eventTs lands exactly on the final watermark — arm at
          // minHeldTs − 1 (clamped to wm + 1, the smallest legal value) so
          // wm == minHeldTs already fires and the `<= wm` partition above
          // flushes the doc. Residual corner, documented: when minHeldTs is
          // exactly wm + 1 the clamp makes the two equal and that one doc
          // still needs the watermark to move one more ms; any further data
          // on ANY source does that.
          if (hold.nonEmpty) {
            val minHeldTs = hold.map(_.eventTs.getTime).min
            state.setTimeoutTimestamp(math.max(minHeldTs - 1, wm + 1))
          }
          out.iterator
      }
  }

  final case class ManifestDoc(source: String, shard: Int,
      fp: Option[Long], tok: Option[Long])
  final case class ManifestAcc(nDocs: Long, nContent: Long, nTokens: Long,
      xorFp: Long, modFp: Long)
  final case class ManifestRow(source: String, shard: Int, n_docs: Long,
      n_tokens: Option[Long], content_xor: Option[Long],
      content_mod: Option[Long])

  /** Streaming twin of [[graft.ops.Manifest.snapshot]]: a per-(source,
    * shard) RUNNING release manifest, updated every micro-batch, so an
    * always-on ingest can publish "what would the manifest be if we cut a
    * release now" without re-scanning the corpus.
    *
    * The per-document values (`shard`, fingerprint, token count) come from
    * [[graft.ops.Manifest.fingerprinted]] — the SAME Catalyst expressions
    * the batch aggregate folds, so the twins cannot drift; only the fold
    * differs. And because every fold here is commutative and associative
    * (count, sum, XOR, modular sum — the fingerprint is already reduced
    * into [0, 2³¹−1) per document, so per-step `% p` equals the batch's
    * decimal-sum-then-mod), the running manifest equals the batch manifest
    * of everything ingested so far REGARDLESS of arrival order — stronger
    * than the budget twins, which need id-ordered arrival. That is the
    * point of the XOR/mod hash design: order-independence is what makes
    * the manifest both cluster-layout-proof in batch and exactly
    * incrementable in a stream.
    *
    * State = one 5-long accumulator per (source, shard) — bounded by
    * sources × nShards, never corpus size. NULL ids raise in the shared
    * projection (guard-before-use); NULL text counts toward `n_docs` but
    * contributes no tokens/content, and the emitted row keeps the batch's
    * NULL semantics (all-null group → NULL sums/xor) via the `nContent`
    * counter. Output mode: Update (each key re-emits its current row).
    */
  def runningManifest(docs: DataFrame, nShards: Int,
      sourceCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): Dataset[ManifestRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val P31 = 2147483647L
    graft.ops.Manifest.fingerprinted(docs, sourceCol, idCol, textCol, nShards)
      .select(col(sourceCol).as("source"), col("shard"),
        col("__fp").as("fp"), col("__tok").cast("long").as("tok"))
      .as[ManifestDoc]
      .groupByKey(d => (d.source, d.shard))
      .mapGroupsWithState[ManifestAcc, ManifestRow](
        GroupStateTimeout.NoTimeout) {
        case ((source, shard), rows, state: GroupState[ManifestAcc]) =>
          var acc = state.getOption.getOrElse(ManifestAcc(0L, 0L, 0L, 0L, 0L))
          rows.foreach { d =>
            val withDoc = d.fp match {
              case Some(f) => ManifestAcc(acc.nDocs + 1, acc.nContent + 1,
                acc.nTokens + d.tok.getOrElse(0L),
                acc.xorFp ^ f, (acc.modFp + f) % P31)
              case None => acc.copy(nDocs = acc.nDocs + 1)
            }
            acc = withDoc
          }
          state.update(acc)
          if (acc.nContent > 0)
            ManifestRow(source, shard, acc.nDocs, Some(acc.nTokens),
              Some(acc.xorFp), Some(acc.modFp))
          else ManifestRow(source, shard, acc.nDocs, None, None, None)
      }
  }
}

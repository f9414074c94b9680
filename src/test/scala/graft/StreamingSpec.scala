package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{DocumentStream, EventStream, MediaStream}

/** Streaming extension: the file source drives the testdata events through
  * the watermarked windowed aggregation and the stateful sessionizer, with
  * results checked against the equivalent batch computation.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  /** The file source requires a directory; stage the single parquet file. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  test("windowed counts over the stream match the batch computation") {
    val stream = EventStream.read(spark, streamDir)
    EventStream.runToMemory(EventStream.windowedCounts(stream), "win_counts",
      OutputMode.Complete())
    val streamed = spark.table("win_counts")
      .select(col("window.start"), col("event_type"), col("n"))
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("sessionizer accumulates per-user state and closes on timeout") {
    val stream = EventStream.read(spark, streamDir)
    val sessions = EventStream.sessionize(stream, gapMs = 1)
    // processing-time timeouts keep microbatches ticking, so
    // processAllAvailable never settles — poll the sink with a deadline
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("sessions").isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(500)
    } finally q.stop()
    val out = spark.table("sessions")
    assert(!out.isEmpty, "no session closed within deadline")
    assert(out.columns.toSeq == Seq("userId", "nEvents", "totalValue",
      "startTs", "endTs", "durationSec"))
    val nUsers = spark.read.parquet(s"$dir/events.parquet")
      .select(countDistinct(col("user_id"))).first().getLong(0)
    assert(out.select("userId").distinct().count() <= nUsers)
    assert(out.groupBy().agg(sum("nEvents")).first().getLong(0) <= 1000)
  }

  private lazy val docStreamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-docstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  test("streaming hash sample: membership identical to batch, fully stateless") {
    val stream = DocumentStream.read(spark, docStreamDir)
    val sampled = DocumentStream.hashSample(stream, "doc_id", fraction = 0.25)
    // stateless: the plan has no stateful operator — nothing to grow or
    // time out; this is the invariant that makes stream == backfill
    val q = sampled.writeStream.outputMode("append")
      .format("memory").queryName("doc_hash_sample").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    val streamed = spark.table("doc_hash_sample")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.ops.Sampling.hashSample(batchDocs, "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty && streamed.size < batchDocs.count(),
      s"sampled ${streamed.size}")
    assert(streamed == batch,
      s"stream sampled ${streamed.size}, batch ${batch.size}")
  }

  test("streaming pii scrub + enrichment: row-for-row parity with batch, stateless") {
    val stream = DocumentStream.read(spark, docStreamDir)
    val scrubbed = DocumentStream.scrubbed(DocumentStream.enriched(stream))
      .select("doc_id", "text_clean", "n_pii_email", "n_pii_ipv4",
        "n_pii_phone", "n_pii_ssn", "n_pii_idnum", "langGuess", "quality")
    // stateless: the scrub+analyze projection must add no state operator —
    // the invariant that makes stream == backfill with zero reprocessing
    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("doc_pii_scrub").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val streamed = spark.table("doc_pii_scrub").collect().map(key).sorted
    val batch = graft.ops.Pii.scrub(
        graft.ops.TextAnalysis.analyze(spark.read.parquet(s"$dir/documents.parquet")),
        "text")
      .select("doc_id", "text_clean", "n_pii_email", "n_pii_ipv4",
        "n_pii_phone", "n_pii_ssn", "n_pii_idnum", "langGuess", "quality")
      .collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length}, batch ${batch.length}")
  }

  test("streaming stratified sample: per-source fractions match batch membership") {
    val fr = Map("web" -> 0.2, "books" -> 1.0)
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.stratifiedSample(stream, "source", "doc_id", fr, default = 0.5),
      "doc_strat_sample")
    val streamed = spark.table("doc_strat_sample")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.ops.Sampling.stratifiedSample(
        spark.read.parquet(s"$dir/documents.parquet"), "source", "doc_id", fr, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size}, batch ${batch.size}")
  }

  test("streaming classifier: label parity with batch, stateless") {
    val stream = DocumentStream.read(spark, docStreamDir)
    val classified = DocumentStream.classified(stream)
      .select("doc_id", "n_words", "score_sum", "label")
    val q = classified.writeStream.outputMode("append")
      .format("memory").queryName("doc_classified").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val streamed = spark.table("doc_classified").collect().map(key).sorted
    val batch = graft.ops.Classifier.classify(
        spark.read.parquet(s"$dir/documents.parquet"))
      .select("doc_id", "n_words", "score_sum", "label")
      .collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length}, batch ${batch.length}")
  }

  test("streaming TRAINED classifier: label parity with batch, stateless") {
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val weights = graft.ops.Classifier.trainedWeights(graft.ops.Classifier.train(
      batchDocs.withColumn("is_positive", col("source").isin("src0", "src1")),
      "text", "is_positive")).toSeq
    val stream = DocumentStream.read(spark, docStreamDir)
    val classified = DocumentStream.classifiedTrained(stream, weights)
      .select("doc_id", "n_words", "score_sum", "label")
    val q = classified.writeStream.outputMode("append")
      .format("memory").queryName("doc_cls_trained").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val streamed = spark.table("doc_cls_trained").collect().map(key).sorted
    val batch = graft.ops.Classifier.classifyTrained(batchDocs, weights)
      .select("doc_id", "n_words", "score_sum", "label")
      .collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length}, batch ${batch.length}")
  }

  test("streaming DSIR gate: admission parity with batch, stateless") {
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val weights = graft.ops.Classifier.packWeights(
      graft.ops.Classifier.dsirLogRatios(
        batchDocs.withColumn("is_target", col("source").isin("src0", "src1")),
        "text", "is_target"), "lr_micro").toSeq
    // a data-derived threshold (the batch median importance, in micro-nats
    // per word) so the gate demonstrably separates on this fixture — in
    // production the threshold is calibrated offline the same way
    val thr = graft.ops.Classifier.dsirGate(batchDocs, weights, 0L)
      .where(col("n_words") > 0)
      .select((col("lr_sum").cast("double") / col("n_words").cast("double")).as("imp"))
      .stat.approxQuantile("imp", Array(0.5), 0.0)(0).floor.toLong
    val stream = DocumentStream.read(spark, docStreamDir)
    val gated = DocumentStream.dsirGated(stream, weights, minImportanceMicro = thr)
      .select("doc_id", "n_words", "lr_sum", "admitted")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("doc_dsir_gate").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val streamed = spark.table("doc_dsir_gate").collect().map(key).sorted
    val batch = graft.ops.Classifier.dsirGate(batchDocs, weights, thr)
      .select("doc_id", "n_words", "lr_sum", "admitted")
      .collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length}, batch ${batch.length}")
    // the gate separates: both admitted and cut documents exist
    val admitted = spark.table("doc_dsir_gate").where(col("admitted")).count()
    assert(admitted > 0 && admitted < streamed.length)
  }

  test("streaming dedup against a static key index: indexed docs dropped, rest pass") {
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val fp = graft.ops.TextAnalysis.fingerprint(col("text"))
    val index = batchDocs.where(col("doc_id") < 250)
      .select(fp.as("key")).distinct()
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.dedupAgainstIndex(stream, index, fp)
        .select("doc_id"),
      "doc_inc_dedup")
    val streamed = spark.table("doc_inc_dedup")
      .collect().map(_.getLong(0)).toSet
    val batch = batchDocs.withColumn("__k", fp)
      .join(index.select(col("key").as("__k")), Seq("__k"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size}, batch ${batch.size}")
    assert(!streamed.exists(_ < 250)) // every indexed doc was cut
  }

  test("streaming weighted sample: quality-paced membership matches batch") {
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.weightedSample(
        DocumentStream.enriched(stream), "doc_id", "quality"),
      "doc_weighted_sample")
    val streamed = spark.table("doc_weighted_sample")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.ops.Sampling.weightedHashSample(
        graft.ops.TextAnalysis.analyze(
          spark.read.parquet(s"$dir/documents.parquet")),
        "doc_id", "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size}, batch ${batch.size}")
  }

  test("streaming gopher rule gate: flag parity with batch, stateless") {
    val cols = Seq("doc_id", "n_words", "r_word_count", "r_word_len",
      "r_alpha_frac", "r_dup_words", "r_top_bigram", "kept")
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.ruleGated(stream).select(cols.map(col): _*),
      "doc_rule_gate")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val streamed = spark.table("doc_rule_gate").collect().map(key).sorted
    val batch = graft.ops.TextAnalysis.gopherRules(
        spark.read.parquet(s"$dir/documents.parquet"))
      .select(cols.map(col): _*)
      .collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length}, batch ${batch.length}")
  }

  test("streaming boilerplate clean vs static index: parity with batch backfill") {
    // the index is the batch side of the split: pick 5 known documents'
    // full texts as the "frequent lines" (the synthetic corpus has no
    // embedded newlines, so each text is exactly one line) — those docs
    // must clean to empty both by stream and by batch
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val freqIndex = batchDocs.where(col("doc_id") < 5)
      .select(col("text").as("line"))
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.cleanedAgainstIndex(stream, freqIndex)
        .select("doc_id", "text_clean", "n_lines_removed"),
      "doc_bl_clean")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val streamed = spark.table("doc_bl_clean").collect().map(key).sorted
    val batch = graft.ops.Boilerplate.cleanAgainstIndex(batchDocs, freqIndex, "text")
      .select("doc_id", "text_clean", "n_lines_removed")
      .collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length}, batch ${batch.length}")
    // and the cut really happened: the 5 indexed docs cleaned to empty
    val cleaned = spark.table("doc_bl_clean")
      .where(col("doc_id") < 5 && col("text_clean") === "" &&
        col("n_lines_removed") === 1)
    assert(cleaned.count() == 5)
  }

  test("streaming exact dedup within watermark matches batch distinct-on-content") {
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.dedupExactWithinWatermark(stream), "doc_dedup")
    val streamed = spark.table("doc_dedup")
    val batchDistinct = spark.read.parquet(s"$dir/documents.parquet")
      .select(countDistinct(xxhash64(col("text")))).first().getLong(0)
    assert(streamed.count() == batchDistinct,
      s"streaming dedup kept ${streamed.count()} rows, batch distinct = $batchDistinct")
  }

  test("streaming near-dup lookup vs static simhash index matches batch pairs") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val index = DocumentStream.simhashIndex(corpus, "doc_id", "text")
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.nearDupsAgainstCorpus(stream, index, maxHamming = 3), "doc_neardup")
    val streamed = spark.table("doc_neardup")
      .select("doc_id", "corpusId").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch truth: every unordered near-dup pair, seen from both sides
    val batchPairs = graft.ops.Dedup
      .simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("idA", "idB").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    assert(streamed == batchPairs,
      s"stream found ${streamed.size} directed pairs, batch ${batchPairs.size}")
  }

  test("streaming minhash probe vs static band index matches the batch probe") {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val half = corpus.where(col("doc_id") < 250)
    val index = graft.ops.Dedup.minhashIndex(half, "doc_id", "text")
    val stream = DocumentStream.read(spark, docStreamDir)
      .where(col("doc_id") >= 250)
    EventStream.runToMemory(
      DocumentStream.minhashNearDupsAgainstCorpus(stream, index), "doc_mh_probe")
    val streamed = spark.table("doc_mh_probe")
      .select("doc_id", "corpusId", "estJaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.ops.Dedup.minhashIndexMatches(
        corpus.where(col("doc_id") >= 250), index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size} matches, batch ${batch.size}")
  }

  test("streaming cosine probe vs static hyperplane index matches the batch probe") {
    import org.apache.spark.sql.types._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val half = emb.where(col("vec_id") < 250)
    val index = graft.ops.Dedup.cosineIndex(half, "vec_id", "embedding")
    val store = graft.ops.Dedup.cosineVecStore(half, "vec_id", "embedding")
    val d = java.nio.file.Files.createTempDirectory("graft-embstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
      d.resolve("part-0.parquet"))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val stream = spark.readStream.schema(embSchema).parquet(d.toString)
      .withColumn("ingestTs", current_timestamp())
      .where(col("vec_id") >= 250)
      .select(col("vec_id").as("doc_id"), col("embedding").as("vec"), col("ingestTs"))
    EventStream.runToMemory(
      DocumentStream.cosineNearDupsAgainstCorpus(stream, index, store,
        threshold = 0.4), "emb_cos_probe")
    val streamed = spark.table("emb_cos_probe")
      .select("doc_id", "corpusId", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.ops.Dedup.cosineIndexMatches(
        emb.where(col("vec_id") >= 250), index, store, "vec_id", "embedding",
        threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size} matches, batch ${batch.size}")
  }

  test("streaming per-source token budget matches the batch windowed running sum") {
    import org.apache.spark.sql.expressions.Window
    val stream = DocumentStream.read(spark, docStreamDir)
      .withColumn("nTokens", graft.ops.TextAnalysis.wsTokenCount(col("text")))
    EventStream.runToMemory(
      DocumentStream.tokenBudgetPerSource(stream, budget = 5000).toDF(), "doc_budget")
    val streamed = spark.table("doc_budget")
      .select("doc_id", "source", "cumTokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // batch truth: the d_pipeline_prep-style window-then-filter semantics
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batch = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("nTokens", graft.ops.TextAnalysis.wsTokenCount(col("text")))
      .withColumn("cumTokens", sum(col("nTokens").cast("long")).over(w))
      .where(col("cumTokens") <= 5000)
      .select("doc_id", "source", "cumTokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream admitted ${streamed.size}, batch ${batch.size}")
  }

  test("streaming split + line-repetition: stateless, row-for-row batch parity") {
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val stream = DocumentStream.read(spark, docStreamDir)
    // split: the only stateful thing a split could smuggle in is a shuffle
    // for the filter — assert none
    val q = DocumentStream.splitLabeled(stream, "doc_id", fr)
      .select("doc_id", "split")
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_split").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val splitS = spark.table("doc_split").collect().map(key).sorted
    val splitB = graft.ops.Sampling.splitLabels(batchDocs, "doc_id", fr)
      .select("doc_id", "split").collect().map(key).sorted
    assert(splitS.nonEmpty && splitS.sameElements(splitB),
      s"split: stream ${splitS.length}, batch ${splitB.length}")
    // line repetition: same expressions per micro-batch
    EventStream.runToMemory(
      DocumentStream.lineRepetitionStats(
        DocumentStream.read(spark, docStreamDir)), "doc_lr")
    val lrS = spark.table("doc_lr").collect().map(key).sorted
    val lrB = graft.ops.TextAnalysis.lineRepetition(batchDocs)
      .collect().map(key).sorted
    assert(lrS.nonEmpty && lrS.sameElements(lrB),
      s"lineRepetition: stream ${lrS.length}, batch ${lrB.length}")
    // within-doc line dedup: the stream runs the row-local form; batch
    // truth is the SHUFFLE form — cross-form AND cross-mode parity at once
    EventStream.runToMemory(
      DocumentStream.lineDeduped(DocumentStream.read(spark, docStreamDir))
        .select("doc_id", "text_clean", "n_lines_removed"), "doc_linededup")
    val ldS = spark.table("doc_linededup").collect().map(key).sorted
    val ldB = graft.ops.Boilerplate.dedupLinesWithin(batchDocs, "doc_id", "text")
      .select("doc_id", "text_clean", "n_lines_removed")
      .collect().map(key).sorted
    assert(ldS.nonEmpty && ldS.sameElements(ldB),
      s"lineDedup: stream ${ldS.length}, batch ${ldB.length}")
  }

  test("streaming running manifest: final per-key rows equal the batch snapshot") {
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.runningManifest(stream, nShards = 4).toDF(),
      "doc_manifest", OutputMode.Update())
    // update-mode sink appends one row per key per micro-batch; n_docs is
    // strictly increasing per key, so the max-n_docs struct is the latest
    val latest = spark.table("doc_manifest")
      .groupBy("source", "shard")
      .agg(max(struct(col("n_docs"), col("n_tokens"), col("content_xor"),
        col("content_mod"))).as("m"))
      .select(col("source"), col("shard"), col("m.n_docs"), col("m.n_tokens"),
        col("m.content_xor"), col("m.content_mod"))
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Manifest.snapshot(
        spark.read.parquet(s"$dir/documents.parquet"),
        "source", "doc_id", "text", nShards = 4)
      .collect().map(_.toSeq).toSet
    assert(latest.nonEmpty && latest == batch,
      s"stream ${latest.size} manifest rows, batch ${batch.size}")
  }

  test("streaming split -> running manifest composes: live per-split release manifests") {
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val stream = DocumentStream.splitLabeled(
      DocumentStream.read(spark, docStreamDir), "doc_id", fr)
    EventStream.runToMemory(
      DocumentStream.runningManifest(stream, nShards = 4,
        sourceCol = "split").toDF(),
      "doc_split_manifest", OutputMode.Update())
    val latest = spark.table("doc_split_manifest")
      .groupBy("source", "shard")
      .agg(max(struct(col("n_docs"), col("n_tokens"), col("content_xor"),
        col("content_mod"))).as("m"))
      .select(col("source"), col("shard"), col("m.n_docs"), col("m.n_tokens"),
        col("m.content_xor"), col("m.content_mod"))
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Manifest.snapshot(
        graft.ops.Sampling.splitLabels(
          spark.read.parquet(s"$dir/documents.parquet"), "doc_id", fr),
        "split", "doc_id", "text", nShards = 4)
      .withColumnRenamed("split", "source")
      .collect().map(_.toSeq).toSet
    assert(latest.nonEmpty && latest == batch,
      s"stream ${latest.size} split-manifest rows, batch ${batch.size}")
  }

  test("running manifest is arrival-order independent across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // adversarial arrival: reverse-id order, split mid-shard so every key
    // accumulates across both micro-batches
    val reversed = docs.sortBy(-_._1)
    val (b1, b2) = reversed.splitAt(reversed.length / 2)
    val input = MemoryStream[(Long, String, String)]
    val q = DocumentStream.runningManifest(
        input.toDF().toDF("doc_id", "text", "source"), nShards = 4).toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("doc_manifest_ooo").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("doc_manifest_ooo")
      .groupBy("source", "shard")
      .agg(max(struct(col("n_docs"), col("n_tokens"), col("content_xor"),
        col("content_mod"))).as("m"))
      .select(col("source"), col("shard"), col("m.n_docs"), col("m.n_tokens"),
        col("m.content_xor"), col("m.content_mod"))
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Manifest.snapshot(
        spark.read.parquet(s"$dir/documents.parquet"),
        "source", "doc_id", "text", nShards = 4)
      .collect().map(_.toSeq).toSet
    assert(latest == batch,
      s"out-of-order stream ${latest.size} rows != batch ${batch.size}")
  }

  test("running KMV sketch: bounded state, final estimate equals the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // reverse order, split so every source accumulates across both batches
    val reversed = docs.reverse
    val (b1, b2) = reversed.splitAt(reversed.length / 2)
    val input = MemoryStream[(String, String)]
    val q = DocumentStream.runningKmv(
        input.toDF().toDF("source", "text"), k = 64).toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("doc_kmv").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("doc_kmv")
      .groupBy("source").agg(max(struct(col("seq"), col("n_est"))).as("m"))
      .select(col("source"), col("m.n_est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        explode(graft.functions.TextFunctions.shingle_hashes(col("text"))).as("h"))
    val batch = graft.ops.Sketch.kmvDistinct(sh, "source", col("h"), k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(latest.nonEmpty && latest == batch,
      s"stream ${latest.size} sources, batch ${batch.size}")
  }

  test("bloom admission gate: stream admits exactly the batch probe's non-members") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fps = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
    val corpus = fps.where(pmod(col("doc_id"), lit(2)) === 0)
    val batchSide = fps.where(pmod(col("doc_id"), lit(2)) === 1)
    val sk = graft.ops.Sketch.bloomSketch(corpus, col("fp"),
      mBits = 65536, kHashes = 4)
    val words = graft.ops.Sketch.bloomBitsArray(sk, mBits = 65536)
    // batch truth: the join-based probe's non-members
    val admitBatch = graft.ops.Sketch.bloomProbe(batchSide, "doc_id",
        col("fp"), sk, mBits = 65536, kHashes = 4)
      .where(!col("maybe_member")).select("doc_id")
      .as[Long].collect().toSet
    val rows = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // plant a cross-parity exact dup: an odd-id copy of an even doc's text
    // MUST be rejected (the no-false-negative direction of the gate)
    val evenText = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .select("text").head().getString(0)
    val planted = (999999L, evenText)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = DocumentStream.bloomGate(
        input.toDF().toDF("doc_id", "text"), words,
        mBits = 65536, kHashes = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_bloom_gate").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq :+ planted); q.processAllAvailable()
    } finally q.stop()
    val admitStream = spark.table("doc_bloom_gate")
      .select("doc_id").as[Long].collect().toSet
    assert(admitStream - planted._1 == admitBatch,
      s"stream admitted ${admitStream.size}, batch ${admitBatch.size}")
    // no false negatives: the planted dup and every odd doc whose
    // fingerprint appears in the even corpus MUST have been rejected
    val dupIds = batchSide.join(corpus.select(col("fp")).distinct(), "fp")
      .select("doc_id").as[Long].collect().toSet + planted._1
    assert((dupIds & admitStream).isEmpty,
      s"false negative: admitted known dups ${dupIds & admitStream}")
  }

  test("running transitions and funnel: time-ordered stream equals the batch cards") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_id"),
        unix_seconds(col("ts").cast("timestamp")).as("tsSec"), col("event_type"))
      .orderBy("tsSec", "event_id") // the event-log norm: time-ordered ingest
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    // ---- transitions
    val tIn = MemoryStream[(Long, Long, Long, String)]
    val tq = EventStream.runningTransitions(
        tIn.toDF().toDF("user_id", "event_id", "tsSec", "event_type")
          .withColumn("ts", timestamp_seconds(col("tsSec"))))
      .toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("ev_trans").start()
    try {
      tIn.addData(b1.toSeq); tq.processAllAvailable()
      tIn.addData(b2.toSeq); tq.processAllAvailable()
    } finally tq.stop()
    val streamPairs = spark.table("ev_trans")
      .groupBy("prev_type", "next_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tsSec"), col("event_id"))
    val batchPairs = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_seconds(col("ts").cast("timestamp")).as("tsSec"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamPairs.nonEmpty && streamPairs == batchPairs,
      s"stream ${streamPairs.size} cells, batch ${batchPairs.size}")
    // ---- funnel
    val fIn = MemoryStream[(Long, Long, String)]
    val fq = EventStream.runningFunnel(
        fIn.toDF().toDF("user_id", "tsSec", "event_type")
          .withColumn("ts", timestamp_seconds(col("tsSec"))))
      .toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("ev_funnel").start()
    try {
      fIn.addData(b1.map(e => (e._1, e._3, e._4)).toSeq); fq.processAllAvailable()
      fIn.addData(b2.map(e => (e._1, e._3, e._4)).toSeq); fq.processAllAvailable()
    } finally fq.stop()
    val latest = spark.table("ev_funnel")
      .groupBy("user_id").agg(max(struct(col("t1"), col("t2"), col("t3"))).as("m"))
      .select(col("user_id"), col("m.t1"), col("m.t2"), col("m.t3"))
      .collect().map(r => (r.getLong(1) >= 0, r.getLong(2) >= 0, r.getLong(3) >= 0))
    val nView = latest.count(_._1); val nClick = latest.count(_._2)
    val nPurch = latest.count(_._3)
    // batch truth: the q18 chained min-aggregates
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_type"),
        unix_seconds(col("ts").cast("timestamp")).as("tsSec"))
    val a = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("tsSec").as("t1"))
    val b = e.join(a, "user_id")
      .where(col("event_type") === "click" && col("tsSec") >= col("t1"))
      .groupBy("user_id").agg(min("tsSec").as("t2"))
    val c = e.join(b, "user_id")
      .where(col("event_type") === "purchase" && col("tsSec") >= col("t2"))
      .groupBy("user_id").agg(min("tsSec").as("t3"))
    assert((nView.toLong, nClick.toLong, nPurch.toLong) ==
      ((a.count(), b.count(), c.count())),
      s"funnel stream ($nView, $nClick, $nPurch) vs batch (${a.count()}, ${b.count()}, ${c.count()})")
  }

  test("cdc ingest probe: streamed batch matches the batch op row-for-row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.where(col("doc_id") < 30)
    val idx = graft.ops.Dedup.cdcChunkIndex(corpus, "doc_id", "text",
      k = 16, maskBits = 5).localCheckpoint()
    val batchDocs = docs.where(col("doc_id") >= 30)
    val expect = graft.ops.Dedup.cdcIndexMatches(batchDocs, idx,
        "doc_id", "text", k = 16, maskBits = 5)
      .collect().map(_.toSeq).toSet
    val rows = batchDocs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, String)]
    // a streaming input WITHOUT ingestTs must name the unbounded-state
    // risk explicitly — the silent fallback was the r15 ADVICE item
    intercept[IllegalArgumentException](DocumentStream.cdcIngestProbe(
      input.toDF().toDF("doc_id", "text"), idx, k = 16, maskBits = 5))
    val q = DocumentStream.cdcIngestProbe(
        input.toDF().toDF("doc_id", "text"), idx, k = 16, maskBits = 5,
        allowUnboundedState = true)
      .writeStream.outputMode("update")
      .format("memory").queryName("doc_cdc_probe").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("doc_cdc_probe").collect().map(_.toSeq).toSet
    assert(got == expect, s"stream ${got.size} rows != batch ${expect.size}")
  }

  test("running CMS: watch-list estimates equal the batch sketch per source") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    // watch list: the 5 most frequent corpus words (hashes)
    val watch = docsDf
      .select(explode(graft.functions.TextFunctions.word_hashes(col("text"))).as("h"))
      .groupBy("h").count().orderBy(col("count").desc, col("h")).limit(5)
      .select("h").as[Long].collect().toSeq
    val rows = docsDf.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val (b1, b2) = rows.reverse.splitAt(rows.length / 2)
    val input = MemoryStream[(String, String)]
    val q = DocumentStream.runningCms(
        input.toDF().toDF("source", "text"), watch, depth = 4, width = 256)
      .toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("doc_cms").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("doc_cms")
      .groupBy("source", "w_hash")
      .agg(max(struct(col("seq"), col("n_est"))).as("m"))
      .select(col("source"), col("w_hash"), col("m.n_est"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // batch truth: per-source CMS + lookup of the same watch list
    val batch = docsDf.select("source").distinct().as[String].collect().flatMap { src =>
      val occ = docsDf.where(col("source") === src)
        .select(explode(graft.functions.TextFunctions.word_hashes(col("text"))).as("h"))
      val cms = graft.ops.Sketch.cmsSketch(occ, col("h"), depth = 4, width = 256)
      graft.ops.Sketch.cmsLookup(watch.map(h => (h, h)).toDF("id", "h"), "id",
          col("h"), cms, depth = 4, width = 256)
        .collect().map(r => (src, r.getLong(0)) -> r.getLong(1))
    }.toMap
    assert(latest.nonEmpty && latest == batch,
      s"stream ${latest.size} cells, batch ${batch.size}")
  }

  test("running CMS: negative watch hash (raw xxhash64) — in-bounds cells, batch parity") {
    // r13 advice pin: the driver-side cell precompute used sign-following
    // `%` while the batch builder reduces with pmod — a NEGATIVE watch
    // hash produced out-of-bounds (or divergent) cell indexes. floorMod
    // fixed it; pin that the stream completes and equals batch cmsLookup
    // for negative keys.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val watch = Seq(-1L, Long.MinValue + 7, -987654321987654321L, 42L)
    val rows = Seq(("web", "alpha beta gamma alpha"), ("web", "beta beta delta"),
      ("book", "alpha epsilon"))
    val input = MemoryStream[(String, String)]
    val q = DocumentStream.runningCms(
        input.toDF().toDF("source", "text"), watch, depth = 4, width = 64)
      .toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("doc_cms_neg").start()
    try {
      input.addData(rows); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("doc_cms_neg")
      .select("source", "w_hash", "n_est")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docsDf = rows.toDF("source", "text")
    val batch = Seq("web", "book").flatMap { src =>
      val occ = docsDf.where(col("source") === src)
        .select(explode(graft.functions.TextFunctions.word_hashes(col("text"))).as("h"))
      val cms = graft.ops.Sketch.cmsSketch(occ, col("h"), depth = 4, width = 64)
      graft.ops.Sketch.cmsLookup(watch.map(h => (h, h)).toDF("id", "h"), "id",
          col("h"), cms, depth = 4, width = 64)
        .collect().map(r => (src, r.getLong(0)) -> r.getLong(1))
    }.toMap
    assert(got.size == watch.size * 2 && got == batch,
      s"stream $got != batch $batch")
  }

  test("running histogram quantiles: final emits equal the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val reversed = docs.reverse
    val (b1, b2) = reversed.splitAt(reversed.length / 2)
    val input = MemoryStream[(String, Long)]
    val q = DocumentStream.runningHistQuantiles(
        input.toDF().toDF("source", "n_chars"),
        lo = 0L, hi = 1024L, nBuckets = 64).toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("doc_hist").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val latest = spark.table("doc_hist")
      .groupBy("source")
      .agg(max(struct(col("seq"), col("n"), col("p50"), col("p90"), col("p99"))).as("m"))
      .select(col("source"), col("m.n"), col("m.p50"), col("m.p90"), col("m.p99"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val batch = graft.ops.Sketch.histQuantiles(
        graft.ops.Sketch.histSketch(
          spark.read.parquet(s"$dir/documents.parquet"),
          "source", "n_chars", lo = 0L, hi = 1024L, nBuckets = 64),
        "source", Seq(50, 90, 99), lo = 0L, hi = 1024L, nBuckets = 64)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(4)))
      .toMap
    assert(latest.nonEmpty)
    latest.foreach { case (src, (n, p50, p90, p99)) =>
      assert(batch((src, 50)) == ((n, p50)), s"$src p50")
      assert(batch((src, 90)) == ((n, p90)), s"$src p90")
      assert(batch((src, 99)) == ((n, p99)), s"$src p99")
    }
  }

  test("online ANN serving over the persisted IVF index matches the batch path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = emb.select($"vec_id".as("cid"), $"embedding".as("vec"))
    val path = graft.TempDirs.create("graft-test-annserve").resolve("index").toString
    graft.ops.Similarity.writeAnnIndex(corpus, path,
      graft.ops.Similarity.Ivf(nCells = 8), graft.ops.Similarity.Raw)
    val qvecs = emb.where($"vec_id" < 12)
      .select($"vec_id".as("qid"), $"embedding".as("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val served = scala.collection.mutable.Set[(Long, Long, Int)]()
    val q = graft.streaming.AnnStream.topKPerBatch(
      input.toDF().toDF("qid", "vec"), path, k = 3, nProbe = 3) { (df, _) =>
      served.synchronized {
        served ++= df.select("qid", "cid", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      }
    }
    try {
      input.addData(qvecs.take(6).toSeq) // two micro-batches of queries
      q.processAllAvailable()
      input.addData(qvecs.drop(6).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.ops.Similarity.serveAnnIndex(
        emb.where($"vec_id" < 12).select($"vec_id".as("qid"), $"embedding".as("vec")),
        path, k = 3, nProbe = 3)
      .select("qid", "cid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(served.nonEmpty && served.toSet == batch,
      s"served ${served.size} rows, batch ${batch.size}")
  }

  test("streaming decontamination flags exactly the batch overlap set") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.where(col("doc_id") < 25)
    val index = DocumentStream.benchShingleIndex(bench)
    val stream = DocumentStream.read(spark, docStreamDir)
      .where(col("doc_id") >= 25)
    EventStream.runToMemory(
      DocumentStream.contaminationAgainstBench(stream, index), "doc_contam")
    val flagged = spark.table("doc_contam")
      .select("doc_id").distinct().as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val batch = graft.ops.Decontaminate.overlap(
        docs.where(col("doc_id") >= 25), bench, "doc_id", "text", minShared = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty && flagged == batch,
      s"stream flagged ${flagged.size}, batch ${batch.size}")
  }

  test("streaming epoch upsampling: stateless, epochs match batch row-for-row") {
    val served = graft.ops.Sampling.epochUpsample(
        DocumentStream.read(spark, docStreamDir), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.0), default = 0.25)
      .select("doc_id", "source", "epoch")
    val q = served.writeStream.outputMode("append")
      .format("memory").queryName("doc_epochs").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1), r.getInt(2))
    val streamed = spark.table("doc_epochs").collect().map(key).sorted
    val batch = graft.ops.Sampling.epochUpsample(
        spark.read.parquet(s"$dir/documents.parquet"), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.0), default = 0.25)
      .select("doc_id", "source", "epoch").collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("streaming passage probe vs static hash index matches the batch probe") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = graft.ops.Dedup.passageHashIndex(
      docs.where(col("doc_id") < 250), "doc_id", "text")
    val stream = DocumentStream.read(spark, docStreamDir)
      .where(col("doc_id") >= 250)
    EventStream.runToMemory(
      DocumentStream.passageProbe(stream, index), "doc_passage_probe")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1))
    val streamed = spark.table("doc_passage_probe").collect().map(key).toSet
    val batch = graft.ops.Dedup.passageIndexMatches(
        docs.where(col("doc_id") >= 250), index, "doc_id", "text")
      .collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size}, batch ${batch.size}")
  }

  test("streaming winnow probe vs static fingerprint index matches the unpruned batch probe") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = graft.ops.Dedup.winnowIndex(
      docs.where(col("doc_id") < 250), "doc_id", "text")
    val stream = DocumentStream.read(spark, docStreamDir)
      .where(col("doc_id") >= 250)
    EventStream.runToMemory(
      DocumentStream.winnowProbe(stream, index), "doc_winnow_probe")
    val streamed = spark.table("doc_winnow_probe")
      .groupBy("doc_id", "corpus_id").agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Dedup.winnowIndexMatches(
        docs.where(col("doc_id") >= 250), index, "doc_id", "text",
        maxDf = Int.MaxValue, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size}, batch ${batch.size}")
  }

  test("streaming media near-dup probe vs static fingerprint index matches the batch probe") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // asset stream fixture: the planted near-dup PNGs, written once
    val assetDir = java.nio.file.Files.createTempDirectory("graft-mediastream")
    graft.ops.Multimodal.imageDedupAssets(docs).write.mode("overwrite")
      .parquet(assetDir.toString)
    val corpusHashes = graft.ops.Multimodal.imageHashes(
      spark.read.parquet(assetDir.toString)
        .as[graft.ops.Multimodal.MediaAsset](graft.ops.Multimodal.assetEnc)
        .filter(_.assetId < 250))
    val index = graft.ops.Dedup.hashIndex(corpusHashes, blocks = 5, bits = 64)
    val stream = MediaStream.read(spark, assetDir.toString)
      .where(col("assetId") >= 250)
    EventStream.runToMemory(
      MediaStream.mediaNearDupsAgainstCorpus(
        MediaStream.imageFingerprints(stream), index), "media_neardup")
    val streamed = spark.table("media_neardup")
      .select("id", "corpusId", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batchHashes = graft.ops.Multimodal.imageHashes(
      spark.read.parquet(assetDir.toString)
        .as[graft.ops.Multimodal.MediaAsset](graft.ops.Multimodal.assetEnc)
        .filter(_.assetId >= 250))
    val batch = graft.ops.Dedup.hashIndexMatches(batchHashes, index,
        maxHamming = 4, blocks = 5, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size}, batch ${batch.size}")
  }

  test("streaming media fingerprints drop poison assets instead of wedging the query") {
    // a stream must not crash-loop on an undecodable payload: the file
    // source re-reads the same file on restart, so a throw inside the
    // decode is a PERMANENT wedge (batch tables raise by contract;
    // streams drop)
    val assetDir = java.nio.file.Files.createTempDirectory("graft-poison")
    val good = graft.ops.Multimodal.encodeNearDupPng(4L)
    spark.createDataset(Seq(
        graft.ops.Multimodal.MediaAsset(4L, "image", good, "t"),
        graft.ops.Multimodal.MediaAsset(5L, "image", Array[Byte](1, 2, 3), "t")))(
        graft.ops.Multimodal.assetEnc)
      .write.mode("overwrite").parquet(assetDir.toString)
    val stream = MediaStream.read(spark, assetDir.toString)
    EventStream.runToMemory(
      MediaStream.imageFingerprints(stream), "media_poison")
    val out = spark.table("media_poison").select("id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == Set(4L)) // poison row dropped, good row hashed
    assert(out(4L) == graft.ops.Multimodal.imageHash(good))
  }

  test("streaming span redaction: frozen-set serve path matches batch, stateless") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.where(col("doc_id") < 25)
    val set = graft.ops.Decontaminate.benchGramSet(bench, "text")
    val stream = DocumentStream.read(spark, docStreamDir)
      .where(col("doc_id") >= 25)
    val served = graft.ops.Decontaminate.redactSpansServe(stream, set, "text")
      .select("doc_id", "n_words", "n_dirty_words", "kept_words", "kept_text")
    // the serve form must be a pure projection: no join, no aggregate, no
    // state — the invariant that makes the gate watermark-free
    val q = served.writeStream.outputMode("append")
      .format("memory").queryName("doc_redact_serve").start()
    try {
      q.processAllAvailable()
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty, s"unexpected state operators: $st")
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf(_)).mkString("|")
    val streamed = spark.table("doc_redact_serve").collect().map(key).sorted
    val batch = graft.ops.Decontaminate.redactSpans(
        docs.where(col("doc_id") >= 25), bench, "doc_id", "text")
      .select("doc_id", "n_words", "n_dirty_words", "kept_words", "kept_text")
      .collect().map(key).sorted
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.length}, batch ${batch.length}")
  }

  test("event-time token budget: late-but-in-watermark docs decided like batch, too-late dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val input = MemoryStream[(Long, String, Int, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "source", "nTokens", "eventTs")
    val q = graft.streaming.DocumentStream
      .tokenBudgetPerSourceEventTime(docs, budget = 100, delay = "10 seconds")
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("et_budget").start()
    try {
      // doc 2 (event t25) ARRIVES two micro-batches after doc 3 (event t30).
      // The arrival-order operator would charge 1,3 first (cum 40,80 — both
      // admitted) and reject 2 at cum 120; the batch window admits {1,2} and
      // rejects 3. The event-time operator must match the batch cut.
      input.addData((1L, "a", 40, ts(10)), (3L, "a", 40, ts(30)))
      q.processAllAvailable() // wm 0: both held
      input.addData((2L, "a", 40, ts(25)))
      q.processAllAvailable() // wm 20: doc 1 finalized (cum 40, admitted)
      input.addData((4L, "a", 10, ts(50)))
      q.processAllAvailable() // wm 20 (max was 30): no change
      input.addData((5L, "a", 10, ts(200)))
      q.processAllAvailable() // wm 40: docs 2,3 finalized in id order
      // doc 6 arrives with event time far below the watermark (190): Spark
      // drops it before the state function — never admitted, never charged
      input.addData((6L, "a", 40, ts(20)))
      q.processAllAvailable() // wm 190: doc 4 finalized (cum 130, rejected)
      val got = spark.table("et_budget")
        .select("doc_id", "cumTokens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch truth over the in-watermark docs {1..5} in doc_id order:
      // cum 40, 80, 120, 130, 140 with budget 100 → admits 1 and 2 only
      assert(got == Set((1L, 40L), (2L, 80L)), s"got $got")
    } finally q.stop()
  }

  test("too-late doc is never charged: a later doc's admit decision proves it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val input = MemoryStream[(Long, String, Int, java.sql.Timestamp)]
    val q = graft.streaming.DocumentStream
      .tokenBudgetPerSourceEventTime(
        input.toDF().toDF("doc_id", "source", "nTokens", "eventTs"),
        budget = 100, delay = "10 seconds")
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("et_budget_late").start()
    try {
      // budget 100. In-watermark docs: 1 (40 tokens) and 9 (30 tokens).
      // Doc 7 (50 tokens, id BETWEEN them) arrives too late: if it were
      // charged, doc 9 would finalize at cum 40+50+30 = 120 and be
      // REJECTED — so doc 9's admission at cum 70 is load-bearing proof
      // the too-late doc was dropped before the state function, not
      // merely unobservable (the r7 ADVICE gap: doc 6's charge there
      // couldn't flip any decision).
      input.addData((1L, "a", 40, ts(10)), (9L, "a", 30, ts(100)))
      q.processAllAvailable() // fn sees wm 0: both held; wm after = 90
      input.addData((7L, "a", 50, ts(20))) // t20 < wm 90 → dropped
      q.processAllAvailable() // fn wm 90: doc 1 finalized, cum 40, admitted
      input.addData((8L, "a", 1, ts(300)))
      q.processAllAvailable() // fn wm 90: nothing ready; wm after = 290
      input.addData((10L, "a", 1, ts(301)))
      q.processAllAvailable() // fn wm 290: doc 9 finalized — cum 70, ADMITTED
      val got = spark.table("et_budget_late")
        .select("doc_id", "cumTokens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 40L), (9L, 70L)), s"got $got")
    } finally q.stop()
  }

  test("event-time budget tracks interleaved sources independently") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val input = MemoryStream[(Long, String, Int, java.sql.Timestamp)]
    val q = graft.streaming.DocumentStream
      .tokenBudgetPerSourceEventTime(
        input.toDF().toDF("doc_id", "source", "nTokens", "eventTs"),
        budget = 100, delay = "10 seconds")
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("et_budget_multi").start()
    try {
      // sources interleave and arrive out of order; each budget is its own
      input.addData((1L, "a", 40, ts(10)), (4L, "b", 30, ts(20)))
      q.processAllAvailable()
      // t15 stays above the watermark (10) at arrival — t10 here would be
      // boundary-late and dropped, which the single-source test covers
      input.addData((2L, "a", 40, ts(20)), (3L, "b", 80, ts(15)))
      q.processAllAvailable()
      input.addData((5L, "a", 1, ts(300)), (6L, "b", 1, ts(300))) // advance wm
      q.processAllAvailable()
      val got = spark.table("et_budget_multi")
        .select("doc_id", "source", "cumTokens").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      // a: 40, 80 both admitted; b: 80 admitted, then 110 rejected —
      // b's rejection must not affect a, and vice versa
      assert(got == Set((1L, "a", 40L), (2L, "a", 80L), (3L, "b", 80L)), s"got $got")
    } finally q.stop()
  }

  test("BM25 serve path: streamed scores match batch retrieval, termless docs at 0") {
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val q = Seq("spark", "window", "join")
    val stats = graft.ops.Ranking.bm25Stats(batchDocs, "doc_id", "text", q)
      .localCheckpoint(true) // frozen snapshot, reused per micro-batch
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(DocumentStream.bm25Scored(stream, stats), "doc_bm25")
    val streamed = spark.table("doc_bm25").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.ops.Ranking.bm25(batchDocs, "doc_id", "text", q,
        topK = Int.MaxValue)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(batch.nonEmpty && streamed.size == batchDocs.count())
    // retrieval only scores docs containing a term; the router scores all
    batch.foreach { case (id, s) =>
      assert(math.abs(streamed(id) - s) <= 2e-6, s"doc $id: ${streamed(id)} vs $s")
    }
    assert(streamed.count(_._2 == 0.0) == streamed.size - batch.size)
  }

  test("streaming tokenization matches the batch tokenizer doc for doc") {
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.tokenized(stream, SparkEntry.fixtureUnigram), "doc_tok")
    val streamed = spark.table("doc_tok")
      .select("doc_id", "token_ids", "n_tok").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getInt(2)))).toMap
    val batch = graft.ops.Unigram.tokenIds(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id",
        SparkEntry.fixtureUnigram)
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getInt(2)))).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stream-stream self-dedup matches batch simhash pairs") {
    val stream = DocumentStream.read(spark, docStreamDir)
    EventStream.runToMemory(
      DocumentStream.nearDupsWithinStream(stream, maxHamming = 3), "doc_ss_neardup")
    val streamed = spark.table("doc_ss_neardup")
      .select("idA", "idB").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = graft.ops.Dedup
      .simhashPairs(spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", maxHamming = 3)
      .select("idA", "idB").collect()
      .map(r => (r.getLong(0) min r.getLong(1), r.getLong(0) max r.getLong(1)))
      .toSet
    assert(streamed == batchPairs,
      s"stream found ${streamed.size} pairs, batch ${batchPairs.size}")
  }

  test("streaming exact dedup raises on null text (xxhash64(NULL) = seed constant)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two DISTINCT null-text docs share contentKey 42 — without the guard
    // the second silently dedups away; with it the query fails loudly
    val input = MemoryStream[(Long, String)]
    val q = DocumentStream.dedupExactWithinWatermark(
        input.toDF().toDF("doc_id", "text")
          .withColumn("ingestTs", current_timestamp()))
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_dedup_null").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { input.addData(Seq((1L, null: String), (2L, null: String)))
            q.processAllAvailable() } finally q.stop()
    }
    assert(e.getMessage.contains("null text"))
  }

  test("streaming corpus probes raise on null doc_id (silent re-admission guard)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val index = DocumentStream.simhashIndex(corpus, "doc_id", "text")
    val someText = corpus.select("text").head().getString(0)
    val input = MemoryStream[(Option[Long], String)]
    val q = DocumentStream.nearDupsAgainstCorpus(
        input.toDF().toDF("doc_id", "text")
          .withColumn("ingestTs", current_timestamp()), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_neardup_null").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { input.addData(Seq((None, someText)))
            q.processAllAvailable() } finally q.stop()
    }
    assert(e.getMessage.contains("null doc_id"))
  }

  test("bloom gate admits null-text docs instead of wedging the stream") {
    // stateless filter — semantics identical in batch, so pin it there;
    // the membership raise on a null fingerprint would be a PERMANENT
    // crash loop in an always-on admission gate
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sk = graft.ops.Sketch.bloomSketch(
      docs.select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp")),
      col("fp"), mBits = 65536, kHashes = 4)
    val words = graft.ops.Sketch.bloomBitsArray(sk, mBits = 65536)
    val corpusText = docs.select("text").head().getString(0)
    val mixed = Seq((1L, null: String), (2L, corpusText))
      .toDF("doc_id", "text")
    val admitted = DocumentStream.bloomGate(mixed, words)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L)) // null text admitted, known dup rejected
  }

  test("streaming cosine probe: mutated re-arrival within the watermark verifies on its own row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 1 band × 1 plane: bucket = sign of the dot with plane 0, so the
    // collision is constructed, not probabilistic. c IS plane 0's sign
    // pattern; v1 keeps the dot positive (same bucket) but scores cosine
    // ≈ 0.115 < 0.4 (fails the verify); v2 = c scores 1.0 (passes).
    val s = (1 to 4).map(i => graft.ops.Similarity.bandSign(0, i))
    val c = s
    val v1 = Seq(s(0) * 4, -s(1), -s(2), -s(3))
    val corpus = Seq((100L, c)).toDF("vec_id", "vec")
    val index = graft.ops.Dedup.cosineIndex(corpus, "vec_id", "vec",
      planesPerBand = 1, bands = 1)
    val store = graft.ops.Dedup.cosineVecStore(corpus, "vec_id", "vec")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 10:02:00")
    val t3 = java.sql.Timestamp.valueOf("2026-01-01 10:04:00")
    val input = MemoryStream[(Long, Seq[Double], java.sql.Timestamp)]
    val q = DocumentStream.cosineNearDupsAgainstCorpus(
        input.toDF().toDF("doc_id", "vec", "ingestTs"), index, store,
        threshold = 0.4, planesPerBand = 1, bands = 1)
      .writeStream.outputMode("append")
      .format("memory").queryName("cos_rearrival").start()
    try {
      // first arrival of doc 7 band-collides with the corpus but FAILS the
      // verify — before the content hash joined the collapse key, this
      // arrival occupied the (7, 100) slot and silently swallowed the next
      input.addData(Seq((7L, v1, t1))); q.processAllAvailable()
      // mutated re-arrival (re-crawl with changed content) must verify on
      // its own row and emit the match
      input.addData(Seq((7L, c, t2))); q.processAllAvailable()
      // identical re-delivery (the case the collapse targets) still
      // collapses: no second row for the same content
      input.addData(Seq((7L, c, t3))); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cos_rearrival")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((7L, 100L, 1.0)), s"got $got")
  }

  test("streaming exact dedup: passNullText bypasses null-text rows instead of raising") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Option[String])]
    val q = DocumentStream.dedupExactWithinWatermark(
        input.toDF().toDF("doc_id", "text")
          .withColumn("ingestTs", current_timestamp()),
        passNullText = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_dedup_passnull").start()
    try {
      // two DISTINCT null-text docs (must BOTH survive — xxhash64(NULL)
      // would have merged them) + a real duplicate pair (must collapse)
      input.addData(Seq((1L, None), (2L, None),
        (3L, Some("same text")), (4L, Some("same text"))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("doc_dedup_passnull")
      .select("doc_id").as[Long].collect().toSet
    assert(got.intersect(Set(1L, 2L)) == Set(1L, 2L), s"null rows lost: $got")
    assert(got.intersect(Set(3L, 4L)).size == 1, s"dup pair not collapsed: $got")
  }

  test("streaming corpus probe: dropNullIds filters null-id rows instead of wedging") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val index = DocumentStream.simhashIndex(corpus, "doc_id", "text")
    val corpusText = corpus.select("text").head().getString(0)
    val input = MemoryStream[(Option[Long], String)]
    val q = DocumentStream.nearDupsAgainstCorpus(
        input.toDF().toDF("doc_id", "text")
          .withColumn("ingestTs", current_timestamp()), index,
        dropNullIds = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("doc_neardup_dropnull").start()
    try {
      // the null-id poison row is dropped; the real duplicate still probes
      input.addData(Seq((None, corpusText), (Some(9999L), corpusText)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("doc_neardup_dropnull")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(9999L), s"got $got")
  }

  test("runningKmv validates k like the batch estimator") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    intercept[IllegalArgumentException](
      DocumentStream.runningKmv(docs, k = graft.ops.Sketch.MaxK + 1))
    intercept[IllegalArgumentException](DocumentStream.runningKmv(docs, k = 1))
  }

  test("cdc ingest probe with event time: bounded state, per-arrival aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.where(col("doc_id") < 30)
    val idx = graft.ops.Dedup.cdcChunkIndex(corpus, "doc_id", "text",
      k = 16, maskBits = 5).localCheckpoint()
    val (docId, text) = {
      val r = docs.where(col("doc_id") === 40).select("doc_id", "text").head()
      (r.getLong(0), r.getString(1))
    }
    val perDoc = graft.ops.Dedup.cdcIndexMatches(
        docs.where(col("doc_id") === 40), idx, "doc_id", "text",
        k = 16, maskBits = 5).head()
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2026-01-01 10:05:00")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocumentStream.cdcIngestProbe(
        input.toDF().toDF("doc_id", "text", "ingestTs"), idx,
        k = 16, maskBits = 5)
      .writeStream.outputMode("update")
      .format("memory").queryName("doc_cdc_rearrival").start()
    try {
      // the SAME doc_id re-arrives in a later micro-batch: each arrival
      // must aggregate independently (n_chunks = the batch op's per-doc
      // value, NOT doubled by a cross-batch state merge)
      input.addData(Seq((docId, text, ts1))); q.processAllAvailable()
      input.addData(Seq((docId, text, ts2))); q.processAllAvailable()
      // and the aggregation is watermark-evictable: a state operator
      // exists AND the group key carries the event-time column
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
    val got = spark.table("doc_cdc_rearrival")
      .select("doc_id", "ingestTs", "n_chunks", "n_dup", "bytes", "bytes_dup")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val expect = Set(
      (docId, ts1, perDoc.getLong(1), perDoc.getLong(2), perDoc.getLong(3), perDoc.getLong(4)),
      (docId, ts2, perDoc.getLong(1), perDoc.getLong(2), perDoc.getLong(3), perDoc.getLong(4)))
    assert(got == expect, s"got $got, expect $expect")
  }

  test("streaming media fingerprints drop null-id assets instead of crashing the encoder") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val assetDir = java.nio.file.Files.createTempDirectory("graft-nullid")
    val good = graft.ops.Multimodal.encodeNearDupPng(6L)
    // a null assetId crashes the non-nullable Long tuple encoder BEFORE
    // the Try-wrapped decode — the poison-row contract must cover it
    spark.createDataFrame(
        java.util.Arrays.asList(
          Row(6L, "image", good, "t"),
          Row(null, "image", good, "t")),
        MediaStream.assetSchema)
      .write.mode("overwrite").parquet(assetDir.toString)
    val stream = MediaStream.read(spark, assetDir.toString)
    EventStream.runToMemory(
      MediaStream.imageFingerprints(stream), "media_nullid")
    val out = spark.table("media_nullid").select("id").collect()
      .map(_.getLong(0)).toSet
    assert(out == Set(6L)) // null-id row dropped, good row fingerprinted
  }
}

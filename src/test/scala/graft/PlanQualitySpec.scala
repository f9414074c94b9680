package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the engine's aliasing/metadata layers must not
  * break Catalyst's pushdown, pruning, broadcast selection, or whole-stage
  * codegen — these are the properties that make plans survive a 100 TB
  * scale-up.
  */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** Build/inspect a plan with derived-frame materialization OFF
    * (spark.graft.materialize=false, the [[graft.ops.Materialize]] gate):
    * the shape pins below assert the derived frames' LOGICAL structure
    * (aggregate-fed single-partition windows, guards on the broadcast
    * side), which the default eager checkpoint hides behind a
    * `Scan ExistingRDD` — the structure still executes, inside the
    * checkpoint's own job. A separate pin holds the default ON.
    */
  private def withoutMaterialize[A](body: => A): A = {
    spark.conf.set("spark.graft.materialize", "false")
    try body finally spark.conf.unset("spark.graft.materialize")
  }

  test("engine filter query pushes predicates into the parquet scan") {
    val p = planOf("e_filter_compare")
    assert(p.contains("PushedFilters:") &&
      p.contains("IsNotNull(o_totalprice)"), p.take(2000))
    assert(p.contains("GreaterThan(o_"), p.take(2000)) // toString truncates the list
  }

  test("engine projection prunes the parquet read schema") {
    val p = planOf("e_proj_sort_page")
    // only the 3 selected columns are read, not all 6
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"),
      p.take(2000))
  }

  test("engine join broadcasts the small dimension side") {
    val p = planOf("e_join_left")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("engine EXISTS semi-join stays a join, not a cartesian") {
    val p = planOf("e_exists")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("counted EXISTS >= n compiles to a semi join, not left-join+coalesce") {
    // zero-child parents can never satisfy count >= 12, so the aggregated
    // child is HAVING-filtered and semi-joined — no NULLable cnt column
    // rides through the main frame (the reference's named perf rewrite)
    val p = planOf("e_exists_count_ge")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("coalesce"), p.take(3000))
  }

  test("counted EXISTS < n compiles to an ANTI join (zero-child parents kept for free)") {
    // parents with cnt >= n are excluded via LeftAnti; zero-child parents
    // never appear in the aggregate, so the anti join keeps them — no
    // NULLable cnt column, no coalesce
    val p = planOf("e_exists_count_lt")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.toLowerCase.contains("coalesce"), p.take(3000))
  }

  test("persisted IVF index: the cells scan is pruned to probed partitions") {
    val df = SparkEntry.queries("s_ann_ivf_indexed")(spark, dir)
    df.collect() // materialize so AQE + runtime filters finalize
    val p = df.queryExecution.executedPlan.toString
    // the cells read must carry a DYNAMIC pruning expression on centId —
    // the probe restricts directories, not just rows
    assert(p.contains("PartitionFilters: [isnotnull(centId"), p.take(4000))
    assert(p.contains("dynamicpruning"), p.take(4000))
    assert(!p.contains("CartesianProduct"))
  }

  test("a second s_ann_ivf_indexed serve reads its nlist stamp from the memoized schema") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    SparkEntry.queries("s_ann_ivf_indexed")(spark, dir).collect()
    var served: org.apache.spark.sql.DataFrame = null
    // a missing stamp would fall back to a count job over the centroids
    assert(TestSpark.jobsDuring { served = SparkEntry.queries("s_ann_ivf_indexed")(spark, dir) } == 0)
    val vectors = served.queryExecution.analyzed.collect {
      case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.rootPaths.exists(_.getName == "vectors") => r
    }
    assert(vectors.nonEmpty)
    vectors.foreach(r => assert(
      r.output.find(_.name == "cid").get.metadata.contains("graft.nlist"), r.output))
    // every persisted-index row: a second construction runs no Spark job
    Seq("s_ann_ivf_trained_indexed", "s_ann_ivf_sharded_indexed",
        "s_ann_ivf_sharded_trained_indexed", "s_ann_pq", "s_ann_ivfpq",
        "s_ann_ivfpq_trained_indexed", "s_ann_sq8_indexed", "s_ann_projected_indexed")
      .foreach { row =>
        SparkEntry.queries(row)(spark, dir).collect()
        assert(TestSpark.jobsDuring(SparkEntry.queries(row)(spark, dir)) == 0, row)
      }
  }

  test("final sort: a small result sorts in one partition, a 1-byte advisory size keeps the range exchange") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object aqe extends AdaptiveSparkPlanHelper
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    // d_sample_hash's rows in order, the exchange feeding the executed
    // (adaptive) plan's root sort, and the jobs the run took, with the row
    // built and run under `size` (the session default when None)
    def run(size: Option[String]): (Seq[Row], Option[Partitioning], Int) = {
      size.foreach(spark.conf.set(advisory, _))
      try {
        val df = SparkEntry.queries("d_sample_hash")(spark, dir)
        var rows = Seq.empty[Row]
        val jobs = TestSpark.jobsDuring { rows = df.collect().toSeq }
        val plan = df.queryExecution.executedPlan
        val exchange = aqe.collectFirst(plan) { case s: SortExec if s.global => s }
          .flatMap(s => aqe.collectFirst(s.child) { case e: ShuffleExchangeExec => e.outputPartitioning })
        (rows, exchange, jobs)
      } finally size.foreach(_ => spark.conf.unset(advisory))
    }
    val (small, onePartition, smallJobs) = run(None)
    val (large, range, largeJobs) = run(Some("1"))
    assert(onePartition.contains(SinglePartition), onePartition)
    assert(range.collect { case r: RangePartitioning => r.numPartitions }
      .contains(spark.conf.get("spark.sql.shuffle.partitions").toInt), range)
    // the range exchange's sampling job is the one job the small form drops
    assert(smallJobs < largeJobs, s"one partition: $smallJobs jobs, range: $largeJobs jobs")
    assert(small.nonEmpty)
    assert(small == large)
  }

  test("SQ8: a second construction of s_ann_sq8 and s_ann_ivfsq8 runs no Spark job") {
    // the codes are one byte per element of each vector: no width job
    Seq("s_ann_sq8", "s_ann_ivfsq8").foreach { row =>
      SparkEntry.queries(row)(spark, dir).collect()
      assert(TestSpark.jobsDuring(SparkEntry.queries(row)(spark, dir)) == 0, row)
    }
  }

  test("final sort: a second construction of d_text_analysis runs no Spark job") {
    SparkEntry.queries("d_text_analysis")(spark, dir)
    assert(TestSpark.jobsDuring(SparkEntry.queries("d_text_analysis")(spark, dir)) == 0)
  }

  test("hand-built star join broadcasts all three dims") {
    val p = planOf("q8_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(3000))
  }

  test("whole-stage codegen covers the scan+filter+agg pipeline") {
    val df = SparkEntry.queries("e_agg_groupby")(spark, dir)
    df.collect() // materialize so AQE finalizes the physical plan
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted mode stars codegen'd operators; the agg pipeline must be in
    assert(p.contains("* HashAggregate") && p.contains("* Project"), p.take(3000))
  }

  test("top-k becomes TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("q5_filter_project")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("dedup pipelines never degenerate to cartesian/nested-loop joins") {
    for (name <- Seq("d_dedup_minhash", "d_dedup_simhash", "d_dedup_ngram",
      "d_dedup_cosine_lsh", "d_dedup_passages", "s_ann_lsh", "s_ann_lsh_probed",
      "d_dedup_simhash_vs_index", "d_dedup_minhash_vs_index",
      "d_dedup_simhash_incremental", "d_dedup_lines_within",
      "d_dedup_cosine_vs_index", "d_dedup_cosine_incremental",
      "d_decontaminate_pairs", "d_decontaminate_redact",
      "d_dedup_passages_redact", "d_dedup_passages_incremental",
      "d_dedup_passages_vs_index", "d_dedup_winnow",
      "d_dedup_winnow_removal", "d_dedup_winnow_vs_index",
      "m_media_dedup", "m_media_dedup_removal", "m_media_dedup_vs_index",
      "m_media_audio_dedup", "m_media_video_dedup")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name has a nested-loop join:\n${p.take(2000)}")
    }
  }

  test("dedup scans read only the id+text columns (pruned schema)") {
    val p = planOf("d_dedup_ngram")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(3000))
  }

  test("native hash kernels stay inside whole-stage codegen (no fallback)") {
    // materialization off: the simhash31 projection otherwise runs in
    // the signature checkpoint's own job and the inspected plan would
    // only show its ExistingRDD scan
    val df = withoutMaterialize(SparkEntry.queries("d_dedup_simhash")(spark, dir))
    df.collect() // materialize so AQE finalizes and codegen stars render
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the simhash31 projection must be codegen'd (starred), proving the
    // kernel call participates in whole-stage codegen rather than forcing
    // an interpreted projection
    assert(p.contains("* Project"), p.take(3000))
    assert(p.contains("simhash31"), p.take(3000))
  }

  test("cosine near-dup re-joins vectors via broadcast after pair dedup") {
    val p = planOf("d_dedup_cosine_lsh")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("cosine index probe: id-only band shuffle, vectors re-join after pair dedup") {
    val df = SparkEntry.queries("d_dedup_cosine_vs_index")(spark, dir)
    df.collect() // materialize so AQE finalizes join strategies
    val p = df.queryExecution.executedPlan.toString
    // the candidate join on (band, bucket) must see NO vector column — the
    // id-only-shuffle invariant that keeps widening bands from shipping
    // vectors per band row; vectors enter via the post-dedup joins only
    val candJoin = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("band#") && l.contains("bucket#"))
    assert(candJoin.isDefined, p.take(4000))
    assert(!candJoin.get.contains("corpusV"), candJoin.get)
    // the exact-verify tail re-joins the (small) vector sides broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"))
  }

  test("dedupIncrementalCosine bands once: consumers read the checkpointed band frame") {
    import org.apache.spark.sql.functions._
    // the exact wiring dedupIncrementalCosine uses: band the prepped
    // vectors ONCE, checkpoint, feed both the pairing and the index probe.
    // Banding is a posexplode (Generate) over the hyperplane sign buckets —
    // a consumer of the checkpointed frame must plan NO Generate: the
    // 8-band sign computation was paid once at checkpoint time (the r14
    // audit measured the old shape paying it once per consumer)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.ops.Similarity.norm(col("v")))
    val banded = graft.ops.Dedup.cosineBandRows(
      emb.select("doc_id", "v", "nrm"), 4, 8).localCheckpoint(true)
    val pairs = graft.ops.Dedup.cosinePairsFromBanded(banded, emb, 0.3)
    val p = pairs.queryExecution.optimizedPlan.toString
    assert(!p.contains("Generate"), s"pairing re-derives the banding:\n${p.take(3000)}")
    assert(p.contains("LogicalRDD"), s"pairing does not read the checkpoint:\n${p.take(3000)}")
    // and the banded path computes the same pairs as the public one-shot API
    val viaBanded = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = graft.ops.Dedup.cosineNearDupPairs(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaBanded.nonEmpty && viaBanded == oneShot,
      s"banded ${viaBanded.size} pairs != one-shot ${oneShot.size}")
  }

  test("IVF-PQ's ADC aggregate scans the probed subset, not the full corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    def adcAgg(name: String): Aggregate = {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      val aggs = plan.collect { case a: Aggregate
        if a.aggregateExpressions.exists(_.name == "adot") => a }
      assert(aggs.nonEmpty, s"$name: no ADC aggregate in the optimized plan")
      aggs.head
    }
    def hasRoutingJoin(a: Aggregate): Boolean = a.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "centId")) => j
    }.nonEmpty
    // the sum(pdot) aggregate must sit ABOVE the centId routing join — i.e.
    // ADC only ever sees (qid, cid) pairs inside probed IVF cells
    assert(hasRoutingJoin(adcAgg("s_ann_ivfpq")),
      "s_ann_ivfpq: ADC aggregate is not fed by the centId routing join")
    // the trained composition keeps the same shape — fixture quantizers
    // swap in frame-for-frame without touching the routing
    assert(hasRoutingJoin(adcAgg("s_ann_ivfpq_trained")),
      "s_ann_ivfpq_trained: ADC aggregate is not fed by the centId routing join")
    // the documented contrast: plain PQ is compression-only — its ADC
    // aggregate has no routing join and touches every (query, corpus) pair
    assert(!hasRoutingJoin(adcAgg("s_ann_pq")),
      "s_ann_pq grew a routing join; update the compression-only docs")
  }

  test("DSv2 fixture scan appears as BatchScan with the source partitioning") {
    val p = planOf("e_filter_isnull")
    assert(p.contains("BatchScan"), p.take(2000))
  }

  test("engine JDBC source scans partition-parallel with the filter pushed to the DB") {
    val p = planOf("e_jdbc_source")
    assert(p.contains("JDBCRelation(nation)"), p.take(2000))
    // 4 range queries on the PK — the pattern that keeps a 100 TB JDBC
    // table from funneling through one connection
    assert(p.contains("numPartitions=4"), p.take(2000))
    // the IN filter becomes a WHERE on the Derby side, not a Spark Filter
    assert(p.contains("PushedFilters:") && p.contains("In(n_regionkey"), p.take(2000))
  }

  test("mixed JDBC×parquet join broadcasts the JDBC dim") {
    val p = planOf("q13_jdbc_join")
    assert(p.contains("JDBCRelation(nation)") && p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("bucketed co-located join plans with no Exchange on either side") {
    // forbid broadcast so the co-location (not table size) is what removes
    // the shuffle — the situation a fact×fact join faces at 100 TB
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import graft.ops.Bucketing
      val tag = Bucketing.dirTag(dir)
      val lt = spark.table(Bucketing.ensureBucketed(spark,
        spark.read.parquet(s"$dir/lineitem.parquet")
          .select("l_orderkey", "l_quantity", "l_extendedprice"),
        s"lineitem_$tag", "l_orderkey", 16))
      val ot = spark.table(Bucketing.ensureBucketed(spark,
        spark.read.parquet(s"$dir/orders.parquet")
          .select("o_orderkey", "o_orderpriority"),
        s"orders_$tag", "o_orderkey", 16))
      val joined = lt.join(ot, lt("l_orderkey") === ot("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange"), p.take(3000))
      // the engine query built on these tables returns rows
      assert(SparkEntry.queries("q14_bucketed_join")(spark, dir).count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned scan prunes whole partition directories") {
    val p = planOf("q15_partitioned_scan")
    assert(p.contains("PartitionFilters:") && p.contains("o_year"), p.take(2000))
    // 2 of the 7 year partitions survive pruning
    val scan = SparkEntry.partitionedOrders(spark, dir)
      .where(org.apache.spark.sql.functions.col("o_year").between(1995, 1996))
    val pruned = scan.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!pruned.contains("o_year=1997"), pruned.take(1500))
  }

  test("dim-filtered join triggers dynamic partition pruning on the fact") {
    import org.apache.spark.sql.functions._
    val fact = SparkEntry.partitionedOrders(spark, dir)
    val dim = spark.range(1995, 2002)
      .select(col("id").cast("int").as("y"),
        (col("id") < 1997).as("recent"))
    val joined = fact.join(dim, fact("o_year") === dim("y"))
      .where(col("recent")).groupBy("o_year").count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(3000))
  }

  test("decontamination broadcasts the bench shingles (never a corpus-wide shuffle join)") {
    // the corpus side must stream map-side through a broadcast hash join;
    // if Catalyst ever picked SMJ here the "no corpus shuffle" property of
    // ops/Decontaminate.scala dies silently — this pin is the tripwire
    val p = planOf("d_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // broadcast() wraps the bench side, which sits right of the join
    assert(p.contains("BuildRight"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("epoch upsampling is a scan-stage explode: zero exchanges") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.Sampling.epochUpsample(docs, "source", "doc_id",
      Map("src0" -> 2.5, "src2" -> 0.0), default = 0.25)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"epochUpsample shuffles:\n${p.take(2000)}")
    assert(p.contains("Generate"), s"explode missing:\n${p.take(2000)}")
  }

  test("length-bucket card: bucket aggregate + one-row broadcast max, no window") {
    // the card must stay a map-side-combined aggregate over <= maxExp+1
    // keys plus a broadcast one-row global max — a corpus-wide Window (or
    // a shuffle join against the max) here would serialize at scale
    val p = planOf("d_length_buckets")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("frozen-set span redaction serve path: zero exchanges, codegen'd membership") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val set = graft.ops.Decontaminate.benchGramSet(
      docs.where(col("doc_id") < 25), "text")
    val df = graft.ops.Decontaminate.redactSpansServe(
      docs.where(col("doc_id") >= 25), set, "text")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"serve path shuffles:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"serve path joins:\n${p.take(2000)}")
    assert(p.contains("matched_starts"), p.take(3000))
  }

  test("span redaction: bench grams broadcast, matches return by one id-keyed left join") {
    // redactSpans scans the corpus twice (gram probe + rebuild) but must
    // never shuffle-join it against the bench side: the gram match is a
    // broadcast hash join, and the only corpus-keyed join is the LEFT join
    // bringing matched start positions back by id
    val p = planOf("d_decontaminate_redact")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("hash + fractional stratified sampling stay scan-stage filters: zero exchanges") {
    import graft.ops.Sampling
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for ((label, df) <- Seq(
      "hashSample" -> Sampling.hashSample(docs, "doc_id", 0.25),
      "stratifiedSample" -> Sampling.stratifiedSample(docs, "source", "doc_id",
        Map("src0" -> 1.0, "src2" -> 0.0), default = 0.4),
      "splitLabels" -> Sampling.splitLabels(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"$label shuffles:\n${p.take(2000)}")
      assert(p.contains("Filter"), s"$label lost its filter:\n${p.take(2000)}")
    }
  }

  test("line repetition is one row-local projection: no explode, no shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(graft.ops.TextAnalysis.lineRepetition(docs))
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"lineRepetition shuffles:\n${plan.toString.take(2000)}")
    assert(!plan.toString.contains("Generate"),
      s"lineRepetition exploded:\n${plan.toString.take(2000)}")
  }

  test("row-local line dedup has zero exchanges; regroup form exactly two") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val local = nonAdaptivePlan(
      graft.ops.Boilerplate.dedupLinesWithinLocal(docs, "text"))
    assert(local.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"local form shuffles:\n${local.toString.take(2000)}")
    // window (id, line) + regroup (id) + the restore join's doc side: the
    // line stream moves at most twice and there is NO corpus-level
    // aggregate — every exchange is keyed by the document id (or id+line),
    // so parallelism scales with documents (the broadcast Catalyst may
    // pick for the restore join at fixture scale is stats-driven and
    // flips to SMJ at corpus scale)
    val shuffled = nonAdaptivePlan(
      graft.ops.Boilerplate.dedupLinesWithin(docs, "doc_id", "text"))
    val n = shuffled.collect { case e: ShuffleExchangeExec => e }.size
    assert(n <= 3, s"regroup form has $n exchanges:\n${shuffled.toString.take(3000)}")
    assert(!shuffled.toString.contains("CartesianProduct") &&
      !shuffled.toString.contains("BroadcastNestedLoopJoin"),
      s"degenerate join:\n${shuffled.toString.take(2000)}")
  }

  test("corpus-wide line dedup: line/doc-keyed exchanges only, no degenerate join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(
      graft.ops.Boilerplate.dedupLinesAcross(docs, "doc_id", "text"))
    // first-occurrence aggregate (line), membership join (line), regroup
    // (id), restore join (id): every exchange is keyed by line or doc id —
    // never a corpus-wide single-partition stage — and the min(struct)
    // aggregate partial-combines, so a hub line collapses map-side
    val n = plan.collect { case e: ShuffleExchangeExec => e }.size
    assert(n <= 5, s"dedupLinesAcross has $n exchanges:\n${plan.toString.take(3000)}")
    assert(plan.toString.contains("partial_min") || plan.toString.contains("partial min"),
      s"first-occurrence min is not partially aggregated:\n${plan.toString.take(3000)}")
    assert(!plan.toString.contains("CartesianProduct") &&
      !plan.toString.contains("BroadcastNestedLoopJoin"),
      s"degenerate join:\n${plan.toString.take(2000)}")
  }

  test("DSIR top-n cut is TakeOrderedAndProject over a join-free scoring scan") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val labeled = docs.withColumn("is_target", col("source").isin("src0", "src1"))
    val w = graft.ops.Classifier.packWeights(
      graft.ops.Classifier.dsirLogRatios(labeled, "text", "is_target"), "lr_micro")
    val plan = nonAdaptivePlan(
      graft.ops.Classifier.dsirTopN(docs, "doc_id", "text", w.toSeq, 100))
    val p = plan.toString
    // the model rides in the expression: scoring is one scan-stage
    // projection (no join anywhere), and the global cut is per-partition
    // heaps, not a full sort of the corpus
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Join"), s"DSIR scoring plans a join:\n${p.take(2000)}")
  }

  test("manifest verify joins two shard-sized aggregates, never the corpora") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val released = graft.ops.Manifest.snapshot(docs, "source", "doc_id", "text", 8)
    val plan = nonAdaptivePlan(
      graft.ops.Manifest.verify(docs, released, "source", "doc_id", "text", 8))
    // exactly one join, and BOTH of its children are post-aggregate
    // (shards-sized) subtrees — the corpora meet only through their hashes
    val joins = plan.collect {
      case j: BroadcastHashJoinExec => j: org.apache.spark.sql.execution.SparkPlan
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }
    assert(joins.size == 1, s"expected 1 join:\n${plan.toString.take(3000)}")
    joins.head.children.foreach { side =>
      val aggs = side.collect {
        case a: HashAggregateExec => a: org.apache.spark.sql.execution.SparkPlan
        case a: ObjectHashAggregateExec => a
      }
      assert(aggs.nonEmpty, s"join side lacks an aggregate:\n${side.toString.take(2000)}")
    }
  }

  /** Build `df` with AQE off and return its executedPlan as a traversable
    * tree (AdaptiveSparkPlanExec is a leaf — collect() can't see through it,
    * and sparkPlan predates EnsureRequirements, so it has no exchanges).
    */
  private def nonAdaptivePlan(mk: => org.apache.spark.sql.DataFrame): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      mk.queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** The exchange feeding a registry row's root global sort: the one
    * [[graft.ops.FinalSort]] sizes.
    */
  private def presentationExchange(plan: SparkPlan)
      : Option[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case other => other
    }
    unwrap(plan) match {
      case s: SortExec if s.global => Some(unwrap(s.child)).collect { case e: ShuffleExchangeExec => e }
      case _ => None
    }
  }

  /** The plan below a row's root presentation sort and its exchange. */
  private def belowPresentationSort(plan: SparkPlan): SparkPlan =
    presentationExchange(plan).fold(plan)(_.child)

  test("pii scrub is one scan-stage projection: no shuffle, codegen'd, prune-friendly") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(graft.ops.Pii.scrub(docs, "text"))
    // the 5-category count+replace chain is a single projection over the
    // scan — zero exchanges, inside whole-stage codegen (the pii_scan
    // kernel is a codegen'd Catalyst expression, not a UDF)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString.take(2000))
    assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty,
      plan.toString.take(2000))
    // a downstream filter on a passthrough column still reaches the scan
    // (the scrub projection must not block pushdown)
    val filtered = nonAdaptivePlan(
      graft.ops.Pii.scrub(docs, "text")
        .where(org.apache.spark.sql.functions.col("source") === "src0"))
    val scans = filtered.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.head.metadata("PushedFilters").contains("src0"),
      scans.map(_.metadata("PushedFilters")).mkString("; "))
  }

  test("exact-n stratified/mixture rank window reads presample survivors, not the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // force the LARGE-input regime: this pin is about the scale shape
    spark.conf.set(graft.ops.Sampling.OnePhaseMaxBytesConf, "0")
    try {
    for ((label, df) <- Seq(
      "stratifiedFixed" -> graft.ops.Sampling.stratifiedFixed(
        docs, "source", "doc_id", 8),
      "mixtureSample" -> graft.ops.Sampling.mixtureSample(
        docs, "source", "doc_id", Map("src0" -> 3.0, "src1" -> 1.0), 0.5),
      "mixtureSampleTemperature" -> graft.ops.Sampling.mixtureSampleTemperature(
        docs, "source", "doc_id", 0.7))) {
      val plan = nonAdaptivePlan(df)
      // the row_number rank window partitions by source — single-digit
      // parallelism — so its input MUST be the bucket-filtered survivors
      // (≈ n per stratum), never the corpus: below the rank window sit the
      // broadcast cutoff join and the __b <= __bmax scan-stage filter
      val rankWs = plan.collect {
        case w: WindowExec
          if w.windowExpression.exists(_.toString.contains("row_number")) => w }
      assert(rankWs.size == 1, s"$label: ${plan.toString.take(3000)}")
      val sub = rankWs.head
      assert(sub.collectFirst {
        case f: FilterExec if f.condition.toString.contains("__bmax") => f
      }.nonEmpty, s"$label rank window input not presample-filtered:\n" +
        sub.toString.take(3000))
      assert(sub.collectFirst { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"$label cutoffs not broadcast:\n${sub.toString.take(3000)}")
      // phase 1's corpus-sized shuffle is the (source, bucket) histogram —
      // parallelism strata × buckets, not strata
      assert(plan.collect { case e: ShuffleExchangeExec => e }.exists { e =>
        val p = e.outputPartitioning.toString
        p.contains("source") && p.contains("__b")
      }, s"$label histogram not bucket-partitioned:\n${plan.toString.take(3000)}")
    }
    } finally spark.conf.unset(graft.ops.Sampling.OnePhaseMaxBytesConf)
  }

  test("corpus manifest is one map-side-combined aggregate: single exchange, no window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(
      graft.ops.Manifest.snapshot(docs, "source", "doc_id", "text", 8))
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 1,
      s"manifest must shuffle exactly once:\n${plan.toString.take(3000)}")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "manifest must not use windows")
    assert(plan.collect {
      case h: HashAggregateExec
        if h.aggregateExpressions.exists(_.mode == Partial) => h
    }.nonEmpty, s"manifest aggregate not map-side combined:\n${plan.toString.take(3000)}")
  }

  test("exact-n samplers below the size cutoff skip the histogram machinery") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // sf0.001 sits far below the default cutoff → one-phase: a direct
    // stratum-keyed rank window, NO (source, __b) histogram exchange and
    // no second scan of the input
    val plan = nonAdaptivePlan(
      graft.ops.Sampling.stratifiedFixed(docs, "source", "doc_id", 8))
    assert(plan.collect { case w: WindowExec => w }.size == 1)
    assert(!plan.collect { case e: ShuffleExchangeExec => e }.exists { e =>
      val p = e.outputPartitioning.toString
      p.contains("source") && p.contains("__b")
    }, s"small input still pays the histogram:\n${plan.toString.take(3000)}")
  }

  test("epoch shuffle shards with one shard-key exchange, never a global sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(
      graft.ops.Sampling.epochShards(docs, "doc_id", nShards = 16, epoch = 3))
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, plan.toString.take(2000))
    assert(shuffles.head.outputPartitioning.toString.contains("shard"),
      shuffles.head.outputPartitioning.toString)
    assert(!shuffles.exists(_.outputPartitioning == SinglePartition))
  }

  test("global budget: the only single-partition stage consumes bucket SUMS, not rows") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = withoutMaterialize(nonAdaptivePlan(
      graft.ops.Budget.globalRunningBudget(
        docs, "doc_id", "n_chars", budget = 60000L, bucketWidth = 64)))
    val singles = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
    // exactly one — the offsets window over #buckets rows; the naive form
    // this operator replaces would put the FULL corpus there
    assert(singles.size == 1, plan.toString.take(3000))
    assert(singles.head.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
      s"single-partition exchange not fed by the bucket-sum aggregate:\n" +
        singles.head.toString.take(2000))
    // per-bucket offsets come back via broadcast, not another shuffle
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(3000))
  }

  test("composed full pipeline keeps every stage's plan shape in one query") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val plan = withoutMaterialize(
      nonAdaptivePlan(SparkEntry.queries("d_pipeline_full")(spark, dir)))
    val p = plan.toString
    // decontamination still broadcasts the bench shingles inside the
    // composition, and nothing degenerated to a cartesian
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the global budget's offsets window stays the only single-partition
    // exchange below the root presentation sort (whose own exchange
    // FinalSort sizes)
    val singles = belowPresentationSort(plan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
    assert(singles.size == 1, p.take(3000))
  }

  test("epoch-shuffled sharded packing has ZERO single-partition stages") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    // unlike the global-order packSequences (whose one single-partition
    // stage is the tiny aggregate-fed offsets window), per-shard packing
    // must be fully parallel end to end
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(graft.ops.Budget.packSequencesSharded(
      graft.ops.Sampling.epochShards(docs, "doc_id", nShards = 16, epoch = 3),
      "shard", "pos", "n_chars", seqLen = 2048))
    val singles = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
    assert(singles.isEmpty, plan.toString.take(3000))
  }

  test("packExamples: the chunk-span explode is partition-local (no new exchange)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      nonAdaptivePlan(df).collect { case e: ShuffleExchangeExec => e }.size
    assert(exchanges(graft.ops.Budget.packExamples(
        docs, "doc_id", "n_chars", seqLen = 2048, bucketWidth = 64)) ==
      exchanges(graft.ops.Budget.packSequences(
        docs, "doc_id", "n_chars", seqLen = 2048, bucketWidth = 64)))
  }

  test("tokenize: per-doc token-ID assembly is one exchange-free projection") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(graft.ops.Unigram.tokenIds(
      docs, "text", "doc_id", SparkEntry.fixtureUnigram))
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString.take(2000))
  }

  test("packTokenIds: single-partition stages are aggregate-fed (bucket offsets only)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.functions.col
    // a tokenized stand-in (the real tokenizer's plan shape upstream of
    // packing is already pinned by its own rows)
    val tok = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.array(
          (col("doc_id") % 7).cast("int")).as("token_ids"))
      .withColumn("n_tok", org.apache.spark.sql.functions.size(col("token_ids")))
    val plan = nonAdaptivePlan(
      graft.ops.Budget.packTokenIds(tok, "doc_id", seqLen = 128, bucketWidth = 64))
    val singles = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
    // the only global-order stage is packSequences' offsets window, whose
    // input is the bucket-sum aggregate — token arrays never pass through
    // a single-partition exchange
    singles.foreach(e => assert(
      e.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
      s"single-partition stage not fed by an aggregate:\n${e.toString.take(2000)}"))
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("quantile gate: single-partition stage sees only the value histogram") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("n_chars") % 100).as("score"))
    val plan = withoutMaterialize(nonAdaptivePlan(
      graft.ops.Quantile.selectTopFraction(docs, "score", 0.25)))
    val singles = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
    // the cutoff window's input must be the histogram aggregate, never rows
    assert(singles.nonEmpty, plan.toString.take(3000))
    singles.foreach(e => assert(
      e.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
      s"single-partition stage not fed by an aggregate:\n${e.toString.take(2000)}"))
    // the corpus-side filter gets the cutoff via broadcast
    assert(plan.toString.contains("BroadcastNestedLoopJoin") ||
      plan.toString.contains("BroadcastHashJoin"), plan.toString.take(3000))
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("quantile cardinality guard rides the broadcast side, not the window stage") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.functions.col
    // the guard must be able to fail the job BEFORE the single-partition
    // window sorts a corpus-sized histogram: broadcast exchanges
    // materialize (in their own job) before any main-stage task runs, so
    // the raise_error belongs in a broadcast subtree and must NOT appear
    // inside the single-partition exchange's subtree
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("n_chars") % 100).as("score"))
    val plan = withoutMaterialize(nonAdaptivePlan(
      graft.ops.Quantile.selectTopFraction(docs, "score", 0.25)))
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.exists(_.toString.contains("distinct values")),
      plan.toString.take(3000))
    val singles = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
    assert(singles.nonEmpty)
    singles.foreach(e => assert(!e.toString.contains("distinct values"),
      e.toString.take(2000)))
  }

  test("derived-frame materialization is ON by default (r20): cutoff/offsets pre-computed") {
    import org.apache.spark.sql.functions.col
    // under the default conf the quantile cutoff and the budget offsets
    // arrive as pre-materialized checkpoint scans — the main plan carries
    // ONE copy of the corpus subtree instead of one per branch (the
    // exponential-composition fix); values are pinned identical to the
    // gate-off shape by the oracle rows and DecimalSumSpec-style suites
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), (col("n_chars") % 100).as("score"), col("n_chars"))
    val gated = nonAdaptivePlan(
      graft.ops.Quantile.selectTopFraction(docs, "score", 0.25)).toString
    assert(gated.contains("ExistingRDD"), gated.take(3000))
    val budgeted = nonAdaptivePlan(graft.ops.Budget.globalRunningBudget(
      docs, "doc_id", "n_chars", budget = 60000L, bucketWidth = 64)).toString
    assert(budgeted.contains("ExistingRDD"), budgeted.take(3000))
    // and the off-gate round-trips: same rows either way
    val on = graft.ops.Quantile.selectTopFraction(docs, "score", 0.25)
      .collect().map(_.getLong(0)).sorted.toSeq
    val off = withoutMaterialize(
      graft.ops.Quantile.selectTopFraction(docs, "score", 0.25)
        .collect().map(_.getLong(0)).sorted.toSeq)
    assert(on == off)
  }

  test("pipeline_pack + mixture + curriculum: every single-partition stage consumes aggregates") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    for (name <- Seq("d_pipeline_pack", "d_mixture_sample", "d_pipeline_clean",
      "d_mixture_tokens", "d_curriculum", "d_length_quantiles")) {
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = nonAdaptivePlan(df)
      // the root presentation sort is one partition exactly when its
      // input's size estimate fits one advisory-sized partition
      val qe = df.queryExecution
      assert(presentationExchange(plan).map(_.outputPartitioning == SinglePartition) ==
        Some(qe.optimizedPlan.stats.sizeInBytes <= qe.sparkSession.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)), name)
      val singles = belowPresentationSort(plan).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
      // pipeline_pack: quantile histogram total + cutoff window + two
      // prefix-sum offset windows; mixture (docs and tokens): the
      // feasibility min — all of them tiny post-aggregate data (the
      // agg-fed check below is the load-bearing invariant; the count just
      // bounds drift)
      assert(singles.size <= 4, s"$name: ${plan.toString.take(3000)}")
      singles.foreach(e => assert(
        e.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
        s"$name single-partition stage not aggregate-fed:\n${e.toString.take(2000)}"))
      assert(!plan.toString.contains("CartesianProduct"), name)
    }
  }

  test("surprisal word join partitions on (word, salt): no reducer owns a hub word") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    // at web scale the vocabulary side is too big to broadcast — force the
    // shuffle join the operator defends so the salt is visible in the plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plan = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      nonAdaptivePlan(graft.ops.TextAnalysis.unigramSurprisal(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    // both join inputs hash on (word, __salt) — the hub word's token
    // stream spreads over saltBuckets reducers instead of pinning one
    val saltedSides = shuffles.filter(
      _.outputPartitioning.toString.contains("__salt"))
    assert(saltedSides.size >= 2, plan.toString.take(3000))
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("near-dup removal cuts via an anti join, never a cartesian") {
    val p = planOf("d_dedup_removal")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("repetition signals never degenerate to cartesian/nested-loop joins") {
    val p = planOf("d_text_repetition")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("boilerplate broadcast-set form never shuffles the document side") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(
      graft.ops.Boilerplate.clean(docs, "doc_id", "text", minDocs = 25))
    // the only legal shuffles belong to the frequent-set AGGREGATION —
    // every exchange subtree must contain a partial aggregate; the doc
    // stream itself goes scan → broadcast-join → project, exchange-free
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty, plan.toString.take(2000))
    shuffles.foreach(e => assert(
      e.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
      s"document-side shuffle leaked in:\n${e.toString.take(2000)}"))
    assert(plan.toString.contains("BroadcastNestedLoopJoin"),
      plan.toString.take(3000))
    // the oversized-set guard rides the broadcast side, so it fails the
    // job before any document task runs
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.exists(_.toString.contains("maxFreqLines")),
      plan.toString.take(3000))
  }

  test("boilerplate join form broadcasts the frequent set (hash probe, no cartesian)") {
    val plan = nonAdaptivePlan(graft.ops.Boilerplate.cleanViaJoin(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      minDocs = 25)).toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("classifier is one exchange-free codegen projection") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = nonAdaptivePlan(graft.ops.Classifier.classify(docs))
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString.take(2000))
    // the fused kernel generates inside whole-stage codegen — no
    // CodegenFallback HOF in the hot path
    assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty &&
      plan.toString.contains("classifier_score"), plan.toString.take(2000))
  }

  test("top-ngrams mining plans a TakeOrderedAndProject, not a global sort") {
    val p = planOf("d_top_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("replica offload reads the warehouse replica, not the primary") {
    val df = SparkEntry.queries("e_replica_offload")(spark, dir)
    assert(df.count() > 0)
    val meta = graft.sources.TpchCatalog.multiDb(spark, dir)
      .query(graft.types.QueryDefinition("orders",
        columns = Some(Seq("orderkey")), freshness = Some("minutes"),
        limit = Some(1))).meta
    assert(meta.strategy == "materialized" &&
      meta.tablesUsed.head.physicalName == "orders_replica")
  }

  test("bm25 global cut is TakeOrderedAndProject, never a single-task sort") {
    val p = planOf("d_bm25_search")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("semanticDedup: cell pairing is a hash join on the cell key, never cartesian") {
    val p = planOf("d_dedup_semantic")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the within-cell self-join and the loser cut must be equi-joins
    assert(p.contains("LeftAnti"), p.take(3000))
  }

  test("source-overlap estimate plans no shingle self-join (signature-sized pair stage)") {
    val p = planOf("d_source_overlap_est")
    // the only join in the plan is the #sources² signature cross pair —
    // a nested-loop over source-count rows, NOT a shingle-keyed shuffle
    // join; the corpus itself is consumed by aggregates only
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("ShuffledHashJoin"), p.take(3000))
  }
}

package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{SourceLoaders, TpchCatalog}
import graft.types._
import graft.ops.Materialize.MaterializeOps
import graft.ops.Similarity.{Exhaustive, Ivf, IvfSharded, Lsh, Pq, Projected, Raw, Sq8}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Two query families:
  *   - `q*`  : hand-built DataFrame programs (bench headliners)
  *   - `e_*` : the same engine surface the reference exposes — a typed
  *     QueryDefinition routed through MultiDb (validate → ACL → plan →
  *     resolve → Catalyst), one per operator family in SURVEY.md §2
  *
  * Numeric determinism convention (required for the DuckDB-oracle hash gate):
  * every aggregated double goes through an exact DECIMAL accumulation
  * (`sum(cast(x as decimal))`) and is cast back to double at the end, so
  * Spark's partition-order-dependent double addition can never drift from
  * the oracle; the engine does this automatically for columns declared
  * `decimal` that are physically doubles. Averages are exact-sum / count.
  * Every query ORDER BYs a deterministic unique key prefix.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    SourceLoaders.parquet(s, s"$dir/$name.parquet")

  private val D4 = DecimalType(38, 4)
  private val D6 = DecimalType(38, 6)

  /** Documents with injected multi-line page chrome for the boilerplate-
    * removal rows: two lines shared by EVERY doc (nav bar, cookie banner),
    * a 7-variant promo line (~n/7 docs each), an intentionally-blank
    * separator line, a 16-variant "shared" line that is GLOBALLY frequent
    * but rare WITHIN each of the 20 sources (global df = n/16 ≥ 25 at
    * both sfs; per-source df = n/320 < 25 at both — the line that
    * separates corpus-wide from per-source boilerplate semantics), a
    * 100-variant "ref" line whose document frequency straddles the
    * minDocs=25 cut ACROSS scale factors (sf0.01, n=500: df=5 → kept;
    * sf0.1, n=5000: df=50 → removed — the threshold provably bites on
    * real counts), and a unique per-doc signature line. Same integer
    * arithmetic in the oracle.
    */
  private def boilerplateDocs(s: SparkSession, dir: String): DataFrame = {
    val c = (e: org.apache.spark.sql.Column) => e.cast("string")
    t(s, dir, "documents").withColumn("text_bl", concat(
      lit("HOME | ABOUT | CONTACT\nThis site uses cookies.\n"), col("text"),
      lit("\n\nPROMO CODE "), c(pmod(col("doc_id"), lit(7))),
      lit("\nshared "), c(pmod(col("doc_id"), lit(16))),
      lit("\nref "), c(pmod(col("doc_id"), lit(100))),
      lit("\ndoc "), c(col("doc_id"))))
  }

  /** Planted within-doc duplicate-line chrome shared by
    * `d_line_repetition` and `d_dedup_lines_within`: every doc carries a
    * twice-repeated nav line; docs with doc_id % 3 == 0 additionally
    * duplicate their body. Mirrored by [[LineRepDocsSql]].
    */
  private def lineRepDocs(s: SparkSession, dir: String): DataFrame = {
    val c = (e: org.apache.spark.sql.Column) => e.cast("string")
    t(s, dir, "documents").withColumn("text_lr", concat(
      lit("NAV MENU\n"), col("text"), lit("\nNAV MENU\nfooter "),
      c(pmod(col("doc_id"), lit(5))),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("\n"), col("text"))).otherwise(lit(""))))
  }

  /** DuckDB mirror of [[lineRepDocs]] (CTE `b` exposing `doc_id, t`).
    * Concatenation operators sit at line ENDS: this string is interpolated
    * into oracles whose own stripMargin would otherwise eat a leading `|`.
    */
  private val LineRepDocsSql: String =
    """b AS (SELECT doc_id,
      |  'NAV MENU' || chr(10) || text || chr(10) || 'NAV MENU' || chr(10) ||
      |    'footer ' || (doc_id % 5) ||
      |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || text ELSE '' END AS t
      |  FROM documents)""".stripMargin

  /** Exact sum of a double column: decimal semantics, double out — on the
    * unscaled-int64 fast path (functions.DecimalSumOps: Spark's decimal
    * SUM past 18 digits of precision leaves the compact representation,
    * an ~8× accumulation tax the r17 probe measured on Q1; the kernel is
    * value-identical with a per-group overflow fence).
    */
  private def dsum(c: org.apache.spark.sql.Column) =
    graft.functions.DecimalSumOps.dsum_exact(c, 4)

  /** [[dsum]] at scale 6 — the `sum(x·(1−d))`-style product sums. */
  private def dsum6(c: org.apache.spark.sql.Column) =
    graft.functions.DecimalSumOps.dsum_exact(c, 6)

  private def eng(name: String)(mk: => QueryDefinition): (String, (SparkSession, String) => DataFrame) =
    name -> ((s: SparkSession, dir: String) => TpchCatalog.frame(s, dir)(mk))

  /** Masked-view oracle shared by the analyst-role and the cross-scope-
    * intersection queries (both must produce exactly this).
    */
  private val MaskedJoinOracle: String =
    """SELECT o.o_orderkey AS orderkey, CAST(0 AS INT) AS totalprice,
      |  CASE WHEN length(c.c_name) <= 2 THEN '***'
      |       ELSE substring(c.c_name, 1, 1)
      |         || repeat('*', length(c.c_name) - 2)
      |         || substring(c.c_name, length(c.c_name), 1)
      |  END AS name
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o.o_orderkey LIMIT 200""".stripMargin

  /** Full-corpus manifest SQL, shared by `d_corpus_manifest` (direct
    * snapshot) and `d_manifest_update` (released + increment combined):
    * the shared string IS the associativity claim's oracle.
    */
  private lazy val CorpusManifestSql: String =
    s"""WITH w AS (SELECT doc_id, source, ${OracleFrag.ws("text")} AS ws FROM documents),
       |m AS (SELECT source,
       |        CAST((${OracleFrag.unitHash("doc_id")}) % 8 AS INT) AS shard,
       |        CAST(len(ws) AS BIGINT) AS tok,
       |        ${OracleFrag.fingerprintExpr} AS fp
       |      FROM w)
       |SELECT source, shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
       |  CAST(bit_xor(fp) AS BIGINT) AS content_xor,
       |  CAST(SUM(fp) % 2147483647 AS BIGINT) AS content_mod
       |FROM m GROUP BY source, shard ORDER BY source, shard""".stripMargin

  /** DuckDB mirror of [[boilerplateDocs]]'s injected page chrome (CTE `b`
    * exposing `doc_id, t`) — same line set, same integer arithmetic.
    */
  private val BoilerplateDocsSql: String =
    """b AS (SELECT doc_id, source,
      |  'HOME | ABOUT | CONTACT' || chr(10) || 'This site uses cookies.' || chr(10) ||
      |  text || chr(10) || chr(10) || 'PROMO CODE ' || (doc_id % 7) || chr(10) ||
      |  'shared ' || (doc_id % 16) || chr(10) ||
      |  'ref ' || (doc_id % 100) || chr(10) || 'doc ' || doc_id AS t
      |  FROM documents)""".stripMargin

  /** Shared oracle for the two boilerplate-removal forms (broadcast-set
    * and join) — identical results are part of the contract, so both rows
    * compare against this one statement: document-frequency over non-empty
    * lines, then a list filter against the frequent set mirroring the
    * broadcast-array probe (empty frequent set → empty list, keep all).
    */
  private val BoilerplateCleanOracle: String =
    s"""WITH $BoilerplateDocsSql,
       |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM b),
       |f AS (SELECT line FROM l WHERE len(line) > 0
       |      GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 25),
       |fl AS (SELECT coalesce(list(line), []) AS fset FROM f),
       |c AS (SELECT doc_id, t,
       |        list_filter(string_split(t, chr(10)),
       |          __x -> NOT list_contains(fl.fset, __x)) AS kept
       |      FROM b, fl)
       |SELECT doc_id, array_to_string(kept, chr(10)) AS text_clean,
       |  CAST(len(string_split(t, chr(10))) - len(kept) AS INT) AS n_lines_removed
       |FROM c ORDER BY doc_id""".stripMargin

  /** Per-JVM materializations (ORC region, JSON/CSV supplier, ANN
    * indexes, media asset tables, partitioned orders) and corpus counts
    * are each built once per sfDir through [[TempDirs.memo]], under a
    * fresh process-private temp dir named after the fixture's kind.
    */
  private def tempFixture(kind: String, dir: String, leaf: String)(write: String => Unit): String =
    TempDirs.memo(kind, dir) {
      val path = TempDirs.create(kind).resolve(leaf).toString
      write(path)
      path
    }

  /** Per-JVM cached embeddings row count per sfDir — the corpus size the
    * count-adaptive sizing rules (planesForCorpus, nlistForCorpus) read.
    * One metadata-cheap aggregate per directory per JVM, not one per
    * query run; at a production deployment this number comes from the
    * index/manifest (stampedCorpusCount), never a count job.
    */
  private def embCount(s: SparkSession, dir: String): Long =
    TempDirs.memo("emb_count", dir)(t(s, dir, "embeddings").count())

  /** Cached documents row count per sfDir — the corpus-size input to the
    * Hamming combo-blocking rule (one metadata-cheap parquet count per
    * session, the embCount convention). */
  private def docCount(s: SparkSession, dir: String): Long =
    TempDirs.memo("doc_count", dir)(t(s, dir, "documents").count())

  /** A persisted ANN index over the sfDir's embeddings (`cid`, `vec`),
    * written once per JVM by `write(corpus, path)`.
    */
  private def annIndex(s: SparkSession, dir: String, kind: String)(
      write: (DataFrame, String) => Unit): String =
    tempFixture(kind, dir, "index") { path =>
      write(t(s, dir, "embeddings").select(col("vec_id").as("cid"), col("embedding").as("vec")),
        path)
    }

  /** Per-JVM persisted IVF index (vectors partitioned by centId +
    * centroid table) — seeded quantizer so the s_ann_ivf oracle applies
    * unchanged. Constant-cell-size sizing at BUILD time (the one place a
    * corpus count belongs); serving reads the cell count back from the
    * index's stamp, never from the store.
    */
  private def ivfIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_ivf") { (corpus, path) =>
      ops.Similarity.writeAnnIndex(corpus, path,
        Ivf(nCells = ops.Similarity.nlistForCorpus(embCount(s, dir))), Raw)
    }

  /** Per-JVM persisted IVF index built from the TRAINED-centroid FIXTURE —
    * the full build-offline/serve-online composition: cell assignment is
    * paid once at index-build time, and the query path is byte-identical
    * to the seeded [[ivfIndex]] probe (partition-pruned to probed cells).
    * The quantizer is the committed k-means snapshot
    * ([[tools.TrainIvfFixture]]): live Lloyd means are float-order
    * dependent and can't be hash-oracled, but serving a FIXED trained
    * artifact is deterministic — so this path carries the same DuckDB
    * oracle as the seeded variants, parameterized on the fixture values.
    * The training job itself stays pinned by OpsSpec (recall floors,
    * trained ≡ persisted parity).
    */
  private[graft] def trainedIvfIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_ivf_trained") { (corpus, path) =>
      ops.Similarity.writeAnnIndex(corpus, path,
        Ivf(nCells = 16, centroids = Some(fixtureCentroids(s))), Raw)
    }

  /** Per-JVM persisted SHARDED IVF index (vectors laid out
    * shard=…/centId=…, shard-keyed centroid table) — written once per sfDir;
    * assignment is deterministic, so the s_ann_ivf_sharded oracle applies
    * unchanged to the served path.
    */
  private def shardedIvfIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_ivf_sharded")(
      ops.Similarity.writeAnnIndex(_, _, IvfSharded(nShards = 2), Raw))

  /** Per-JVM persisted SHARDED IVF index under the TRAINED per-shard
    * fixture quantizer (r19 — the r18 verdict's "sharded is seeded-only"
    * close): same shard=…/centId=… layout and stamp as the seeded
    * sharded index, with assignment against the committed per-shard
    * k-means snapshot. Deterministic given the fixture, so the
    * s_ann_ivf_sharded_trained oracle applies unchanged to the serve.
    */
  private def shardedTrainedIvfIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_ivf_sharded_tr")(
      ops.Similarity.writeAnnIndex(_, _,
        IvfSharded(nShards = 2, centroids = Some(fixtureShardedCentroids(s))), Raw))

  /** Per-JVM persisted plain-PQ index under the SEEDED corpus-sized
    * codebook (r19 — the kCode-amortization directive): since
    * kCodeForCorpus, the encode scan (corpus·m·kCode rows) dominates the
    * in-flight PQ row at one decade up (r18: 11.2 s in-flight vs ~2 s
    * served at sf1.0) — and encode output is BUILD state, a pure
    * function of (corpus, codebook). The s_ann_pq row serves from this
    * layout; results are identical to the in-flight form (deterministic
    * encode given the persisted codebook), so the same count-adaptive
    * oracle gates both.
    */
  private def pqSeededIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_pq")(ops.Similarity.writeAnnIndex(_, _, Exhaustive,
      Pq(m = 8, subDim = 8, kCode = -1)))

  /** Per-JVM persisted IVF-PQ index under the SEEDED corpus-sized
    * quantizers (nlistForCorpus cells, kCodeForCorpus codebook — the
    * s_ann_ivfpq sizing): the scan-pruned twin of [[pqSeededIndex]],
    * built by the same amortization argument. Serving sizes nprobe from
    * the stamped nlist and refine from the stamped corpus count —
    * exactly the integers the in-flight form computes — so results and
    * oracle are unchanged.
    */
  private def ivfPqSeededIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_ivfpq")(ops.Similarity.writeAnnIndex(_, _, Ivf(nCells = -1),
      Pq(m = 8, subDim = 8, kCode = -1)))

  /** Per-JVM persisted IVF-PQ index under the TRAINED fixtures (k-means
    * centroids route, k-means codebook compresses) — codes and vectors
    * laid out centId=… so serving prunes both reads to probed cells;
    * quantizers persist beside them, spec + corpus count ride the stamp.
    * Deterministic given the committed fixtures, so the
    * s_ann_ivfpq_trained oracle applies unchanged to the served path.
    */
  private def ivfPqTrainedIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_ivfpq_trained")(
      ops.Similarity.writeAnnIndex(_, _,
        Ivf(nCells = 16, centroids = Some(fixtureCentroids(s))),
        Pq(m = 8, subDim = 8, codebook = Some(fixtureCodebook(s)))))

  /** Per-JVM persisted SQ8 index (byte codes + range row + raw vectors) —
    * written once per sfDir; ranges and codes are byte-identical to the
    * in-flight build, so the s_ann_sq8 oracle applies unchanged.
    */
  private def sq8Index(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_sq8")(ops.Similarity.writeAnnIndex(_, _, Exhaustive, Sq8()))

  /** Per-JVM persisted JL projected index (rounded projections + raw
    * vectors) — written once per sfDir; projections are bit-identical to
    * the in-flight build, so the s_ann_projected oracle applies unchanged.
    */
  private def projectedIndex(s: SparkSession, dir: String): String =
    annIndex(s, dir, "graft_projected")(
      ops.Similarity.writeAnnIndex(_, _, Exhaustive,
        Projected(outDims = 16, firstPlane = 100)))

  /** The non-empty lines of the committed resource fixture `/graft/<name>`,
    * split on single spaces.
    */
  private def fixtureLines(name: String): List[Array[String]] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"$name fixture missing from resources")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split(' ')).toList
    finally src.close()
  }

  /** The committed k-means centroid fixture, parsed once per JVM. Lines
    * are `centId v1 .. v64` with `Double.toString` values — the shortest
    * decimal that round-trips to the same IEEE double, so Spark and the
    * DuckDB oracle (which embeds the SAME text as literals) operate on
    * bit-identical centroids.
    */
  private[graft] lazy val fixtureCentroidRows: Seq[(Int, Seq[Double])] =
    fixtureLines("ivf_trained_centroids.txt").map { parts =>
      parts.head.toInt -> parts.tail.map(_.toDouble).toSeq
    }

  /** Fixture centroids as the (centId, cent_v, cent_n) frame [[ops.Similarity.Ivf]]
    * expects; cent_n recomputed with the same norm fold `kmeansCentroids`
    * uses, so serving math is identical to a live-trained frame.
    */
  private[graft] def fixtureCentroids(s: SparkSession): DataFrame = {
    import s.implicits._
    fixtureCentroidRows.toDF("centId", "cent_v")
      .withColumn("cent_n", ops.Similarity.norm(col("cent_v")))
  }

  /** The committed SHARDED k-means centroid fixture (r19,
    * tools.TrainIvfShardedFixture — per-shard Lloyd, 2 shards × 16
    * cells), parsed once per JVM. Lines are `shard centId v1 .. v64`
    * with `Double.toString` values — the [[fixtureCentroidRows]]
    * bit-exactness contract: Spark and the DuckDB oracle (which embeds
    * the SAME text as literals) serve bit-identical centroids.
    */
  private[graft] lazy val fixtureShardedCentroidRows: Seq[(Long, Long, Seq[Double])] =
    fixtureLines("ivf_sharded_trained_centroids.txt").map { parts =>
      (parts(0).toLong, parts(1).toLong, parts.drop(2).map(_.toDouble).toSeq)
    }

  /** Fixture sharded centroids as the (shard, centId, cent_v, cent_n)
    * frame [[ops.Similarity.IvfSharded]] expects; cent_n recomputed
    * with the same norm fold the trainer used. Per-shard cell count =
    * rows/2 — the probe policy's input, like the unsharded fixture's
    * size pins its nCells.
    */
  private[graft] def fixtureShardedCentroids(s: SparkSession): DataFrame = {
    import s.implicits._
    fixtureShardedCentroidRows.toDF("shard", "centId", "cent_v")
      .withColumn("cent_n", ops.Similarity.norm(col("cent_v")))
  }

  /** The committed per-subspace PQ codebook fixture (tools.TrainPqFixture),
    * parsed once per JVM. Lines are `s codeId v1 .. v8` with
    * `Double.toString` values, so Spark and the DuckDB oracle (which
    * embeds the SAME text as literals) encode against bit-identical
    * codebook doubles.
    */
  private[graft] lazy val fixtureCodebookRows: Seq[(Int, Int, Seq[Double])] =
    codebookRows("pq_trained_codebook.txt")

  private def codebookRows(name: String): Seq[(Int, Int, Seq[Double])] =
    fixtureLines(name).map { parts =>
      (parts(0).toInt, parts(1).toInt, parts.drop(2).map(_.toDouble).toSeq)
    }

  /** Fixture codebook as the (s, codeId, cb_sub) frame [[ops.Similarity.Pq]]
    * expects — swaps in frame-for-frame where the seeded codebook would be.
    */
  private[graft] def fixtureCodebook(sp: SparkSession): DataFrame = {
    import sp.implicits._
    fixtureCodebookRows.toDF("s", "codeId", "cb_sub")
  }

  /** The committed RESIDUAL PQ codebook fixture
    * (tools.TrainPqResidualFixture): per-subspace Lloyd trained on
    * vec − assigned-fixture-centroid residuals. Same line format and
    * bit-exactness contract as [[fixtureCodebookRows]].
    */
  private[graft] lazy val fixtureResidualCodebookRows: Seq[(Int, Int, Seq[Double])] =
    codebookRows("pq_residual_codebook.txt")

  private[graft] def fixtureResidualCodebook(sp: SparkSession): DataFrame = {
    import sp.implicits._
    fixtureResidualCodebookRows.toDF("s", "codeId", "cb_sub")
  }

  /** The committed unigram-LM model fixture (tools.TrainUnigramFixture),
    * parsed once per JVM: header `! maxPieceLen unkLogProb`, then
    * `piece count logProb` lines. Log probs sit on the trainer's 2⁻⁴⁰
    * dyadic grid, so Viterbi path sums over these literals are exact in
    * ANY engine — what lets the DuckDB oracle replay segmentation.
    */
  private[graft] lazy val fixtureUnigram: ops.Unigram.Trained = {
    val header :: lines = fixtureLines("unigram_trained_pieces.txt")
    require(header(0) == "!", s"bad unigram fixture header: ${header.mkString(" ")}")
    val pieces = lines.map(p => ops.Unigram.Piece(p(0), p(1).toLong, p(2).toDouble))
    ops.Unigram.Trained(pieces, header(1).toInt, header(2).toDouble, Seq.empty)
  }

  private type Assets = org.apache.spark.sql.Dataset[ops.Multimodal.MediaAsset]

  /** Widen an asset frame to the cluster's parallelism BEFORE the
    * materializing write — never narrow a wide one (the ensureParallelism
    * contract). Media decode is ~100x costlier per byte than a columnar
    * scan, so partition count, not byte size, is the right guard: the r16
    * sf1.0 sweep measured the 50k-asset WAV table arriving as ONE ~100 MB
    * parquet split (documents scan → one file), which serialized the
    * whole AudioSystem decode onto one core — m_media_audio read exponent
    * 1.16 with 31 idle threads. Writing the fixture pre-widened gives
    * every decode reader its file-split parallelism with zero per-query
    * shuffles; at production scale asset stores are already many files
    * and the guard is a no-op.
    */
  private def widenAssets(ds: Assets): Assets = {
    val target = ds.sparkSession.sparkContext.defaultParallelism
    // read the partition count off the executed plan's RDD (one plan,
    // reused by the write) — `ds.rdd` would build a SECOND physical plan
    // with a deserializer just to ask getNumPartitions
    if (ds.queryExecution.toRdd.getNumPartitions < target)
      ds.repartition(target)
    else ds
  }

  /** A media asset table generated from the sfDir's documents by `mk`,
    * materialized (widened) once per JVM and read back per query.
    */
  private def assetTable(s: SparkSession, dir: String, kind: String)(
      mk: DataFrame => Assets): Assets = {
    val path = tempFixture(kind, dir, "assets") { path =>
      widenAssets(mk(t(s, dir, "documents"))).write.parquet(path)
    }
    SourceLoaders.parquet(s, path).as[ops.Multimodal.MediaAsset](ops.Multimodal.assetEnc)
  }

  /** Per-JVM materialized PNG asset table (binary payload + metadata) —
    * a real pipeline stores encoded media and DECODES on read; writing
    * the fixture once per sfDir keeps the m_media_* rows measuring the
    * decode path, not fixture generation, and exercises binary columns
    * through parquet like production would.
    */
  private[graft] def imageAssetTable(s: SparkSession, dir: String): Assets =
    assetTable(s, dir, "graft_media")(ops.Multimodal.imageAssets(_))

  /** Per-JVM materialized NEAR-DUP PNG asset table (groups of 4 planted
    * near-identical variants — [[graft.ops.Multimodal.nearDupPixel]]) —
    * the image-dedup rows must measure the real decode + fingerprint
    * path, not fixture generation.
    */
  private[graft] def imageDedupAssetTable(s: SparkSession, dir: String): Assets =
    assetTable(s, dir, "graft_media_dup")(ops.Multimodal.imageDedupAssets(_))

  /** Per-JVM materialized NEAR-DUP WAV asset table — the audio sibling
    * of [[imageDedupAssetTable]].
    */
  private[graft] def audioDedupAssetTable(s: SparkSession, dir: String): Assets =
    assetTable(s, dir, "graft_media_dupwav")(ops.Multimodal.audioDedupAssets(_))

  /** Per-JVM materialized WAV asset table — same rationale as
    * [[imageAssetTable]]: the m_media_audio* rows must measure the REAL
    * `AudioSystem` container parse, not fixture generation.
    */
  private[graft] def audioAssetTable(s: SparkSession, dir: String): Assets =
    assetTable(s, dir, "graft_media_wav")(ops.Multimodal.audioAssets(_))

  /** Per-JVM hive-layout partitioned copy of orders (dirs keyed by order
    * year) — the physical layout that makes partition pruning and dynamic
    * partition pruning possible.
    */
  private[graft] def partitionedOrders(s: SparkSession, dir: String): DataFrame =
    SourceLoaders.parquet(s, tempFixture("graft_part", dir, "orders") { path =>
      t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").parquet(path)
    })

  /** Engine-routed query under a specific (non-admin) role — the
    * ACL + in-plan masking path under the oracle gate. */
  private def engAs(name: String, roles: Seq[String],
      serviceRoles: Option[Seq[String]] = None)(mk: => QueryDefinition): (String, (SparkSession, String) => DataFrame) =
    name -> ((s: SparkSession, dir: String) =>
      TpchCatalog.multiDb(s, dir)
        .frame(mk, ExecutionContext(userRoles = Some(roles), serviceRoles = serviceRoles)))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("e_agg_groupby")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Built once;
    * every row's root presentation sort goes through [[ops.FinalSort]],
    * which sorts a small result in one partition (no sampling job).
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // ================= hand-built DataFrame headliners =================
    // ---- 2.6 aggregation: count/sum/avg/min/max + group by (TPC-H Q1-ish)
    "q1_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // ---- 2.5 joins (dim broadcast + fact shuffle) + top-k
    "q3_top_revenue" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"), "inner")
        .join(l, o("o_orderkey") === l("l_orderkey"), "inner")
        .groupBy(c("c_custkey"), c("c_name"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    },
    // ---- 2.4 EXISTS → left-semi join
    "q4_exists" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").where(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    },
    // ---- 2.3 filters + 2.2 projection + 2.7 sort/limit
    "q5_filter_project" -> { (s, dir) =>
      t(s, dir, "orders")
        .where(col("o_orderstatus") === "F" &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("o_totalprice").between(50000.0, 200000.0))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    // ---- 2.6 HAVING over aggregation alias
    "q6_having" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_spent"))
        .where(col("n_orders") >= 5)
        .orderBy(col("o_custkey"))
    },
    // ---- 2.2 DISTINCT
    "q7_distinct" -> { (s, dir) =>
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .orderBy("c_mktsegment")
    },
    // ---- 5-table star join: region→nation→customer→orders→lineitem (Q5-ish)
    "q8_star_join" -> { (s, dir) =>
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), n("n_name"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },
    // ---- 2.3 array operators over derived word arrays (documents)
    "q9_array_ops" -> { (s, dir) =>
      t(s, dir, "documents")
        .withColumn("words", split(col("text"), " "))
        .where(array_contains(col("words"), "spark") &&
          arrays_overlap(col("words"), array(lit("join"), lit("merge"))))
        .select(col("doc_id"), col("lang"), size(col("words")).as("n_words"))
        .orderBy("doc_id")
    },

    // ================= engine-routed (QueryDefinition → MultiDb) =========
    // ---- 2.2 projection + 2.7 multi-column sort + limit/offset pagination
    eng("e_proj_sort_page")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "custkey", "totalprice")),
      orderBy = Seq(QueryOrderBy("totalprice", "desc"), QueryOrderBy("orderkey")),
      limit = Some(50), offset = Some(100))),
    // ---- 2.3 comparison operators =, !=, >, <=
    eng("e_filter_compare")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "orderstatus", "totalprice")),
      filters = Seq(
        QueryFilter("orderstatus", "!=", Some("O")),
        QueryFilter("totalprice", ">", Some(350000.0)),
        QueryFilter("totalprice", "<=", Some(450000.0))),
      orderBy = Seq(QueryOrderBy("orderkey")))),
    // ---- 2.3 in / notIn
    eng("e_filter_in_notin")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "orderpriority")),
      filters = Seq(
        QueryFilter("orderpriority", "in", Some(Seq("1-URGENT", "5-LOW"))),
        QueryFilter("orderstatus", "notIn", Some(Seq("P")))),
      orderBy = Seq(QueryOrderBy("orderkey")))),
    // ---- 2.3 between on timestamp bound by ISO-8601 Z strings
    eng("e_filter_between_ts")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "orderdate")),
      filters = Seq(QueryFilter("orderdate", "between",
        Some(("1996-01-01T00:00:00Z", "1996-12-31T23:59:59Z")))),
      orderBy = Seq(QueryOrderBy("orderkey")))),
    // ---- 2.3 pattern family: like / ilike / contains / startsWith / endsWith
    eng("e_filter_patterns")(QueryDefinition("part",
      columns = Some(Seq("partkey", "name", "brand")),
      filters = Seq(
        QueryFilter("name", "like", Some("%bolt%")),
        QueryFilter("name", "istartsWith", Some("S")),
        QueryFilter("brand", "contains", Some("1")),
        QueryFilter("name", "iendsWith", Some("BOLT")),
        QueryFilter("name", "notContains", Some("zzz"))),
      orderBy = Seq(QueryOrderBy("partkey")))),
    // ---- 2.3 remaining pattern family: notLike / ilike / notIlike /
    //      icontains / notIcontains / startsWith / endsWith (completes
    //      per-operator oracle coverage of ops 9-22)
    eng("e_filter_patterns2")(QueryDefinition("part",
      columns = Some(Seq("partkey", "name")),
      filters = Seq(
        QueryFilter("name", "notLike", Some("%steel%")),
        QueryFilter("name", "ilike", Some("%BOLT%")),
        QueryFilter("name", "notIlike", Some("%ZINC%")),
        QueryFilter("name", "icontains", Some("O")),
        QueryFilter("name", "notIcontains", Some("XYL")),
        QueryFilter("name", "startsWith", Some("s")),
        QueryFilter("name", "endsWith", Some("t"))),
      orderBy = Seq(QueryOrderBy("partkey")))),
    // ---- 2.3 notBetween (numeric)
    eng("e_filter_notbetween")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "totalprice")),
      filters = Seq(QueryFilter("totalprice", "notBetween", Some((1000.0, 400000.0)))),
      orderBy = Seq(QueryOrderBy("orderkey")))),
    // ---- 2.3 nested filter groups with or / not
    eng("e_filter_groups")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "orderstatus", "totalprice")),
      filters = Seq(QueryFilterGroup("or", Seq(
        QueryFilter("totalprice", "<", Some(5000.0)),
        QueryFilterGroup("and", Seq(
          QueryFilter("orderstatus", "=", Some("F")),
          QueryFilter("totalprice", ">", Some(470000.0))), not = true)),
        not = true)),
      orderBy = Seq(QueryOrderBy("orderkey")))),
    // ---- 2.3 column-vs-column filter
    eng("e_filter_colcmp")(QueryDefinition("lineitem",
      columns = Some(Seq("orderkey", "linenumber", "discount", "tax")),
      filters = Seq(QueryColumnFilter("discount", ">", "tax")),
      orderBy = Seq(QueryOrderBy("orderkey"), QueryOrderBy("linenumber")))),
    // ---- 2.3 levenshteinLte (built-in levenshtein Expression)
    eng("e_filter_levenshtein")(QueryDefinition("part",
      columns = Some(Seq("partkey", "name")),
      filters = Seq(QueryFilter("name", "levenshteinLte", Some(("cold widget", 2)))),
      orderBy = Seq(QueryOrderBy("partkey")))),
    // ---- 2.5 left join (unmatched kept) with selected join columns
    eng("e_join_left")(QueryDefinition("customer",
      columns = Some(Seq("custkey", "mktsegment")),
      joins = Seq(QueryJoin("nation", columns = Some(Seq("name")))),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.5 inner join + join-scoped filters (WHERE, not ON)
    eng("e_join_inner_filtered")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "totalprice")),
      joins = Seq(QueryJoin("customer", joinType = "inner",
        columns = Some(Seq("name")),
        filters = Seq(QueryFilter("mktsegment", "=", Some("BUILDING"))))),
      filters = Seq(QueryFilter("orderstatus", "=", Some("O"))),
      orderBy = Seq(QueryOrderBy("orderkey")))),
    // ---- 2.5 transitive join chain lineitem→orders→customer
    eng("e_join_transitive")(QueryDefinition("lineitem",
      columns = Some(Seq("orderkey", "linenumber", "extendedprice")),
      joins = Seq(
        QueryJoin("orders", joinType = "inner", columns = Some(Nil)),
        QueryJoin("customer", joinType = "inner", columns = Some(Seq("mktsegment")))),
      filters = Seq(QueryFilter("quantity", ">", Some(49.0))),
      orderBy = Seq(QueryOrderBy("orderkey"), QueryOrderBy("linenumber")))),
    // ---- 2.6 aggregations: all 5 fns + count(*) + groupBy (engine Q1)
    eng("e_agg_groupby")(QueryDefinition("lineitem",
      columns = Some(Seq("returnflag", "linestatus")),
      groupBy = Seq(QueryGroupBy("returnflag"), QueryGroupBy("linestatus")),
      aggregations = Seq(
        QueryAggregation("quantity", "sum", "sumQty"),
        QueryAggregation("extendedprice", "sum", "sumPrice"),
        QueryAggregation("quantity", "avg", "avgQty"),
        QueryAggregation("quantity", "min", "minQty"),
        QueryAggregation("quantity", "max", "maxQty"),
        QueryAggregation("*", "count", "cnt")),
      orderBy = Seq(QueryOrderBy("returnflag"), QueryOrderBy("linestatus")))),
    // ---- 2.6 HAVING over aliases (in + comparison)
    eng("e_agg_having")(QueryDefinition("orders",
      columns = Some(Seq("custkey")),
      groupBy = Seq(QueryGroupBy("custkey")),
      aggregations = Seq(
        QueryAggregation("*", "count", "nOrders"),
        QueryAggregation("totalprice", "sum", "totalSpent")),
      having = Seq(QueryFilter("nOrders", ">=", Some(8)),
        QueryFilter("totalSpent", ">", Some(100000.0))),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.6 aggregation over a joined table's column
    eng("e_agg_joined")(QueryDefinition("customer",
      columns = Some(Seq("custkey", "name")),
      joins = Seq(QueryJoin("orders", joinType = "inner", columns = Some(Nil))),
      groupBy = Seq(QueryGroupBy("custkey"), QueryGroupBy("name")),
      aggregations = Seq(
        QueryAggregation("totalprice", "sum", "spent", table = Some("orders")),
        QueryAggregation("*", "count", "n")),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.2 DISTINCT through the engine
    eng("e_distinct")(QueryDefinition("customer",
      columns = Some(Seq("mktsegment")), distinct = true,
      orderBy = Seq(QueryOrderBy("mktsegment")))),
    // ---- 2.4 EXISTS with sub-filter (left-semi)
    eng("e_exists")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "orderstatus")),
      filters = Seq(QueryExistsFilter("lineitem",
        filters = Seq(QueryFilter("quantity", ">", Some(45.0))))),
      orderBy = Seq(QueryOrderBy("orderkey")))),
    // ---- 2.4 NOT EXISTS (left-anti)
    eng("e_not_exists")(QueryDefinition("customer",
      columns = Some(Seq("custkey", "name")),
      filters = Seq(QueryExistsFilter("orders", exists = false)),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.4 counted EXISTS >= N (decorrelated semi form)
    eng("e_exists_count_ge")(QueryDefinition("customer",
      columns = Some(Seq("custkey")),
      filters = Seq(QueryExistsFilter("orders",
        count = Some(CountCond(">=", 12)))),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.4 counted EXISTS < N — must keep zero-child parents
    eng("e_exists_count_lt")(QueryDefinition("customer",
      columns = Some(Seq("custkey")),
      filters = Seq(QueryExistsFilter("orders",
        count = Some(CountCond("<", 8)))),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.4 nested EXISTS (inner resolves against outer EXISTS table)
    eng("e_exists_nested")(QueryDefinition("customer",
      columns = Some(Seq("custkey")),
      filters = Seq(QueryExistsFilter("orders",
        filters = Seq(QueryExistsFilter("lineitem",
          filters = Seq(QueryFilter("quantity", ">", Some(49.0))))))),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.4 EXISTS inside an OR group (count-join form, composable)
    eng("e_exists_in_or")(QueryDefinition("customer",
      columns = Some(Seq("custkey", "acctbal")),
      filters = Seq(QueryFilterGroup("or", Seq(
        QueryExistsFilter("orders", count = Some(CountCond(">=", 15))),
        QueryFilter("acctbal", "<", Some(-900.0))))),
      orderBy = Seq(QueryOrderBy("custkey")))),
    // ---- 2.13 in-plan column masking under a restricted role: number
    //      mask on the fact measure, name mask on the joined dim (both
    //      masks are deterministic → the oracle recomputes them in SQL)
    engAs("e_masked_join", Seq("analyst"))(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "totalprice")),
      joins = Seq(QueryJoin("customer", columns = Some(Seq("name")))),
      orderBy = Seq(QueryOrderBy("orderkey")), limit = Some(200))),
    // ---- 2.13 multi-role UNION within the user scope: analyst+admin
    //      together see the unmasked data (admin's full grant wins) — the
    //      exact same query as e_masked_join, different oracle
    engAs("e_multirole_union", Seq("analyst", "admin"))(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "totalprice")),
      joins = Seq(QueryJoin("customer", columns = Some(Seq("name")))),
      orderBy = Seq(QueryOrderBy("orderkey")), limit = Some(200))),
    // ---- 2.13 INTERSECTION across scopes: the user scope grants full
    //      admin access, but the service scope only grants analyst —
    //      intersection masks exactly like analyst alone (same oracle
    //      shape as e_masked_join)
    engAs("e_scope_intersect", Seq("admin"), serviceRoles = Some(Seq("analyst")))(
      QueryDefinition("orders",
        columns = Some(Seq("orderkey", "totalprice")),
        joins = Seq(QueryJoin("customer", columns = Some(Seq("name")))),
        orderBy = Seq(QueryOrderBy("orderkey")), limit = Some(200))),
    // ---- 2.14 byIds fast path (+ extra filter)
    eng("e_byids")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "totalprice")),
      byIds = Some(Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L)),
      filters = Seq(QueryFilter("totalprice", ">", Some(0.0))),
      orderBy = Seq(QueryOrderBy("orderkey")))),

    // ---- 2.3 array operator through the engine (embeddings decimal[])
    eng("e_filter_array")(QueryDefinition("embeddings",
      columns = Some(Seq("vecId", "label")),
      filters = Seq(QueryFilter("embedding", "arrayIsNotEmpty"),
        QueryFilter("label", ">=", Some(5))),
      orderBy = Seq(QueryOrderBy("vecId")), limit = Some(100))),

    // ---- 2.3 isNull/isNotNull + array-contains family through the engine,
    //      over the DSv2 fixture namespace (nullable + array columns that
    //      TPC-H lacks; plan reads the in-memory source, P1 on db "fixture")
    eng("e_filter_isnull")(QueryDefinition("items",
      columns = Some(Seq("id", "name")),
      filters = Seq(QueryFilter("tag", "isNull")),
      orderBy = Seq(QueryOrderBy("id")))),
    eng("e_filter_isnotnull")(QueryDefinition("items",
      columns = Some(Seq("id", "tag")),
      filters = Seq(QueryFilter("tag", "isNotNull")),
      orderBy = Seq(QueryOrderBy("id")))),
    eng("e_filter_arr_contains")(QueryDefinition("items",
      columns = Some(Seq("id", "name")),
      filters = Seq(QueryFilter("tags", "arrayContains", Some("t1"))),
      orderBy = Seq(QueryOrderBy("id")))),
    eng("e_filter_arr_contains_all")(QueryDefinition("items",
      columns = Some(Seq("id")),
      filters = Seq(QueryFilter("tags", "arrayContainsAll", Some(Seq("t1", "t3")))),
      orderBy = Seq(QueryOrderBy("id")))),
    eng("e_filter_arr_contains_any")(QueryDefinition("items",
      columns = Some(Seq("id")),
      filters = Seq(QueryFilter("tags", "arrayContainsAny", Some(Seq("t0", "t5")))),
      orderBy = Seq(QueryOrderBy("id")))),
    eng("e_filter_arr_empty")(QueryDefinition("items",
      columns = Some(Seq("id")),
      filters = Seq(QueryFilter("tags", "arrayIsEmpty")),
      orderBy = Seq(QueryOrderBy("id")))),
    // ---- 2.4 self-referencing EXISTS (items whose parent exists, via the
    //      items.parentId → items.id self-relation; fresh alias per level)
    eng("e_exists_self")(QueryDefinition("items",
      columns = Some(Seq("id", "name")),
      filters = Seq(QueryExistsFilter("items",
        filters = Seq(QueryFilter("tag", "isNotNull")))),
      orderBy = Seq(QueryOrderBy("id")))),
    // ---- 2.4 counted EXISTS with `=` (exact-count correlated subquery)
    eng("e_exists_count_eq")(QueryDefinition("customer",
      columns = Some(Seq("custkey")),
      filters = Seq(QueryExistsFilter("orders",
        count = Some(CountCond("=", 10)))),
      orderBy = Seq(QueryOrderBy("custkey")))),

    // ---- window analytics over event sequences (per-user ordering,
    //      gaps, running sums — the feature-engineering shapes a training
    //      pipeline derives from event logs; ts is parquet timestamp[us],
    //      no timezone → Spark infers TIMESTAMP_NTZ, DuckDB naive TIMESTAMP)
    "q11_window_features" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // second-granularity gap math on both sides (floor to epoch seconds);
      // the NTZ→TIMESTAMP cast is identity under the UTC session timezone,
      // matching DuckDB's naive epoch_us
      e.select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("tsSec", unix_seconds(col("ts").cast("timestamp")))
        .withColumn("seqNum", row_number().over(w))
        .withColumn("gapSec", col("tsSec") - lag(col("tsSec"), 1).over(w))
        .withColumn("runValue",
          graft.functions.DecimalSumOps.dsum_exact_over(col("value"), 6, w))
        .select(col("user_id").as("userId"), col("event_id").as("eventId"),
          col("seqNum"), col("gapSec"), col("runValue"))
        .orderBy("userId", "seqNum")
    },
    // ---- ordered CONVERSION FUNNEL (first-touch): a user reaches step i
    //      only via an event AT OR AFTER their first step-(i−1) touch —
    //      view → click → purchase. Three user-keyed min-aggregates
    //      chained by joins (never a per-user window over the full log);
    //      the card is four one-row frames unioned + one broadcast total
    "q18_funnel" -> { (s, dir) =>
      val e = t(s, dir, "events").select(col("user_id"), col("event_type"),
        unix_seconds(col("ts").cast("timestamp")).as("tsSec"))
      // each chained step frame feeds the NEXT step and the step card:
      // checkpoint the user-keyed one-column frames so the event log is
      // scanned once per step, not once per reference (review r13 #2)
      val a = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("tsSec").as("t1")).localCheckpoint()
      val b = e.join(a, "user_id")
        .where(col("event_type") === "click" && col("tsSec") >= col("t1"))
        .groupBy("user_id").agg(min("tsSec").as("t2")).localCheckpoint()
      val c = e.join(b, "user_id")
        .where(col("event_type") === "purchase" && col("tsSec") >= col("t2"))
        .groupBy("user_id").agg(min("tsSec").as("t3"))
      val total = e.agg(countDistinct("user_id").as("n_total")).localCheckpoint()
      val steps = total
        .select(lit("0_any").as("step"), col("n_total").as("n_users"))
        .unionByName(a.agg(count(lit(1)).as("n_users"))
          .select(lit("1_view").as("step"), col("n_users")))
        .unionByName(b.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("step"), col("n_users")))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("step"), col("n_users")))
      steps.crossJoin(broadcast(total))
        .select(col("step"), col("n_users"),
          round(col("n_users").cast("double") / col("n_total").cast("double"), 6)
            .as("reach_rate"))
        .orderBy("step")
    },
    // ---- weekly RETENTION COHORTS: cohort = the week of a user's first
    //      event; one per-user min-aggregate, one distinct on (user,
    //      cohort, offset), counts bounded by cohorts × offsets
    "q19_retention" -> { (s, dir) =>
      val e = t(s, dir, "events").select(col("user_id"),
          unix_seconds(col("ts").cast("timestamp")).as("tsSec"))
        .select(col("user_id"), expr("tsSec DIV 86400L").as("d"))
      val f = e.groupBy("user_id").agg(min("d").as("d0"))
      // materialized: the cohort-size branch and the retention groupBy
      // each re-planned the events scan + first-touch join (4 scans of
      // the events table in one plan, r20 audit); w is (user × week)
      // distinct rows, ≪ events
      val w = e.join(f, "user_id")
        .select(col("user_id"), expr("d0 DIV 7L").as("cohort_week"),
          expr("(d - d0) DIV 7L").as("week_offset"))
        .distinct()
        .localCheckpoint()
      val cs = w.where(col("week_offset") === 0)
        .groupBy("cohort_week").agg(count(lit(1)).as("cohort_n"))
      w.groupBy("cohort_week", "week_offset").agg(count(lit(1)).as("n_users"))
        .join(cs, "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("n_users"),
          round(col("n_users").cast("double") / col("cohort_n").cast("double"), 6)
            .as("retention"))
        .orderBy("cohort_week", "week_offset")
    },
    // ---- event-type TRANSITION MATRIX (first-order Markov card): per
    //      user-ordered consecutive event pairs, count and row-normalized
    //      probability — the behavioral-flow card next to the funnel's
    //      fixed path. One lag window per user partition, one pair count,
    //      one per-prev total join (25 rows at 5 event types)
    "q20_transitions" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tsSec"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_seconds(col("ts").cast("timestamp")).as("tsSec"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // 25-row matrix; totals + join re-planned the
                           // events window chain twice without it (r20)
      val totals = pairs.groupBy("prev_type").agg(sum("n").as("n_prev"))
      pairs.join(totals, "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / col("n_prev").cast("double"), 6).as("p"))
        .orderBy("prev_type", "next_type")
    },
    // ---- gap-based SESSIONIZATION (the classic event-log op): a >30 min
    //      silence starts a new session; running session counter via a
    //      cumulative sum over the break flags, then one per-session
    //      aggregate. Scale shape: user-key-partitioned windows (each
    //      user's history is one partition — the natural event-log
    //      layout), one groupBy on (user, session)
    "q17_sessionize" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tsSec"), col("event_id"))
      e.select(col("user_id"), col("event_id"), col("value"),
          unix_seconds(col("ts").cast("timestamp")).as("tsSec"))
        .withColumn("gapSec", col("tsSec") - lag(col("tsSec"), 1).over(w))
        .withColumn("newSess",
          when(col("gapSec").isNull || col("gapSec") > 1800, 1L).otherwise(0L))
        .withColumn("sessionNum", sum(col("newSess"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("user_id").as("userId"), col("sessionNum"))
        .agg(count(lit(1)).as("nEvents"),
          min(col("tsSec")).as("startSec"),
          max(col("tsSec")).as("endSec"),
          (max(col("tsSec")) - min(col("tsSec"))).as("durationSec"),
          dsum6(col("value")).as("sumValue"))
        .orderBy("userId", "sessionNum")
    },
    // ---- mixed-format plan: parquet fact × DSv2 in-memory dim in one join
    "q10_cross_source" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val items = s.read.format("graft.sources.FixtureItemsSource").load()
      d.join(items, (d("doc_id") % 200 + 1) === items("id"))
        .select(d("doc_id"), col("name"), col("tag"))
        .orderBy("doc_id")
    },

    // ---- third physical format: ORC dim (materialized once per JVM from
    //      the region parquet, under a fresh process-private temp dir — no
    //      cross-process races, no stale copies) joined with a parquet
    //      fact in one plan; the oracle reads the identical source data
    //      via the parquet view
    "q12_orc_source" -> { (s, dir) =>
      val r = s.read.orc(tempFixture("graft_orc", dir, "region") { path =>
        t(s, dir, "region").write.orc(path)
      })
      val n = t(s, dir, "nation")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy("n_nationkey")
    },

    // ---- JSON-lines + CSV landing formats: supplier materialized once in
    //      each text format (explicit schemas — no inference at scale),
    //      then both variants join in one plan and must agree row-for-row
    //      with the parquet-only oracle
    "q16_text_formats" -> { (s, dir) =>
      val base = TempDirs.memo("graft_text", dir) {
        val root = TempDirs.create("graft_text").toString
        val sup = t(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
        sup.write.json(s"$root/json")
        sup.write.option("header", "true").csv(s"$root/csv")
        root
      }
      val schema = "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT"
      val j = s.read.schema(schema).json(s"$base/json")
      val cs = s.read.schema(schema).option("header", "true").csv(s"$base/csv")
        .select(col("s_suppkey").as("c_suppkey"), col("s_nationkey").as("c_natkey"))
      j.join(cs, j("s_suppkey") === cs("c_suppkey"))
        .where(col("s_nationkey") === col("c_natkey")) // formats must agree
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("suppliers"))
        .select(col("nationkey"), col("suppliers"))
        .orderBy("nationkey")
    },

    // ---- LIVE JDBC source, engine-routed: the planner resolves nationDim
    //      to the warehouse (embedded Derby) namespace — partition-parallel
    //      range scan, filter pushed down as a WHERE on the database side;
    //      the oracle reads the identical source data via the parquet view
    eng("e_jdbc_source")(QueryDefinition("nationDim",
      filters = Seq(QueryFilter("regionkey", "in", Some(Seq(0, 2)))),
      orderBy = Seq(QueryOrderBy("nationkey")))),

    // ---- mixed-format plan: parquet fact × live-JDBC dim in one join
    "q13_jdbc_join" -> { (s, dir) =>
      val n = sources.DerbyFixture.nation(s, dir)
      val c = t(s, dir, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"))
        .agg(count(lit(1)).as("customers"))
        .select(col("n_name").as("nation"), col("customers"))
        .orderBy("nation")
    },

    // ---- analytical offload: explicit relaxed freshness routes the scan to
    //      the warehouse replica of orders (planner strategy 'materialized');
    //      replica content mirrors the primary, so rows match the oracle
    eng("e_replica_offload")(QueryDefinition("orders",
      columns = Some(Seq("orderkey", "orderstatus", "totalprice")),
      filters = Seq(QueryFilter("totalprice", ">", Some(400000.0))),
      freshness = Some("minutes"),
      orderBy = Seq(QueryOrderBy("orderkey")))),

    // ---- bucketed co-located join: both facts pre-bucketed on the join key
    //      (shuffle paid once at write), so the join itself plans with NO
    //      Exchange on either side (pinned by PlanQualitySpec)
    "q14_bucketed_join" -> { (s, dir) =>
      val tag = ops.Bucketing.dirTag(dir)
      val lt = s.table(ops.Bucketing.ensureBucketed(s,
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice"),
        s"lineitem_$tag", "l_orderkey", 16))
      val ot = s.table(ops.Bucketing.ensureBucketed(s,
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        s"orders_$tag", "o_orderkey", 16))
      lt.join(ot, lt("l_orderkey") === ot("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("line_count"), dsum(col("l_extendedprice")).as("revenue"))
        .select(col("o_orderpriority").as("priority"), col("line_count"), col("revenue"))
        .orderBy("priority")
    },

    // ---- partition pruning: the year filter prunes whole partition dirs
    //      before any file is opened (PlanQualitySpec pins PartitionFilters
    //      + dynamic partition pruning through a dim join) — the #1 scan
    //      reducer on a date-partitioned 100 TB fact
    "q15_partitioned_scan" -> { (s, dir) =>
      partitionedOrders(s, dir)
        .where(col("o_year").between(1995, 1996))
        .groupBy(col("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_year", "o_orderstatus")
    },

    // ================= LLM-pipeline operators (graft.ops) ================
    // ---- text analysis: language-ID, quality, token counts, fingerprint
    "d_text_analysis" -> { (s, dir) =>
      ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .select(col("doc_id"), col("langGuess"), col("quality"),
          col("nTokensWs"), col("nTokensBpe"), col("fingerprint"))
        .orderBy("doc_id")
    },
    // ---- exact dedup: keep first doc per (lang, source) group
    "d_dedup_exact" -> { (s, dir) =>
      ops.Dedup.exactDedup(t(s, dir, "documents"),
        struct(col("lang"), col("source")), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },
    // ---- n-gram Jaccard near-dup pairs (exact, inverted index + df prune)
    "d_dedup_ngram" -> { (s, dir) =>
      ops.Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.1, maxDf = 100)
        .orderBy("idA", "idB")
    },
    // ---- MinHash+LSH near-dup pairs; the oracle mirrors the signature and
    //      banding arithmetic exactly (OracleFrag), so candidates AND
    //      estimates are hash-gated
    "d_dedup_minhash" -> { (s, dir) =>
      ops.Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.3).orderBy("idA", "idB")
    },
    // ---- SimHash blocked-Hamming pairs; blocks(4) > maxHamming(3) makes
    //      blocking lossless (pigeonhole), and the oracle brute-forces ALL
    //      pairs — the gate checks blocking completeness, not just candidates
    "d_dedup_simhash" -> { (s, dir) =>
      // constant-occupancy combo blocking (hammingComboWidth — the Manku
      // rule the media dHash rows already ride): k grows with the corpus
      // so bucket occupancy, and candidate pairs per bucket, stay flat.
      // LOSSLESS at every k (pigeonhole: blocks−maxHamming ≥ k), so the
      // pair set — and the all-pairs oracle — is blocking-independent:
      // 500 docs → k=1 (the long-gated 4-block layout), 5000 → k=2 (10
      // tables), 50k → k=3 (20 tables of 15-bit keys)
      val k = ops.Dedup.hammingComboWidth(docCount(s, dir),
        maxHamming = 3, bits = 31)
      ops.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, blocks = 3 + k, comboWidth = k).orderBy("idA", "idB")
    },
    // ---- embedding cosine near-dup via banded hyperplane LSH (8 bands,
    //      OR-amplified), planes/band sized by the constant-occupancy rule
    //      (planesForCorpus: ~8 vectors/bucket whatever the corpus — the
    //      StressX100-measured scale rule; fixed 4 planes measured a 0.93
    //      sf1.0 exponent because occupancy, and candidate pairs
    //      quadratically, grew with the corpus). The oracle recomputes the
    //      SAME rule from count(*), so banding stays mirrored at every SF.
    "d_dedup_cosine_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val planes = ops.Similarity.planesForCorpus(embCount(s, dir))
      ops.Dedup.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.3, planesPerBand = planes, bands = 8).orderBy("idA", "idB")
    },
    // ---- ANN: brute-force cosine top-k baseline (exact)
    "s_ann_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.bruteForceTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        k = 5).orderBy("qid", "rank")
    },
    // ---- ANN: banded-LSH scale path (4 bands OR-amplified), planes/band
    //      sized by the constant-occupancy rule at target 32/bucket — the
    //      ANN candidate budget is then ~bands×32 exact rescores per query
    //      REGARDLESS of corpus size (the dedup queries target 8 because
    //      their within-bucket cost is quadratic; a top-k probe's is
    //      linear, and a deeper candidate pool buys recall). The oracle
    //      recomputes the rule from count(*).
    "s_ann_lsh" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val planes = ops.Similarity.planesForCorpus(embCount(s, dir), targetPerBucket = 32)
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Lsh(planesPerBand = planes, bands = 4), Raw).orderBy("qid", "rank")
    },
    // ---- ANN: banded LSH with query-side multi-probe (2 weakest-bit
    //      flips per band → 3 buckets probed per band); the corpus index
    //      is identical to s_ann_lsh — recall rises from extra query
    //      fan-out only. Oracle mirrors the |dot|-ranked bit flips.
    "s_ann_lsh_probed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val planes = ops.Similarity.planesForCorpus(embCount(s, dir), targetPerBucket = 32)
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Lsh(planesPerBand = planes, bands = 4, probes = 2), Raw).orderBy("qid", "rank")
    },
    // ---- ANN: IVF scale path, corpus-adaptively sized — nlist from the
    //      constant-cell-size rule (nlistForCorpus: ~125 vectors/cell),
    //      nprobe from the constant-probed-fraction policy
    //      (nprobeForCells: 1/4 of the cells — the RecallX100-measured
    //      recall-HOLDING policy). The oracle recomputes both integers
    //      from count(*), so one SQL text is correct at every SF.
    "s_ann_ivf" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val nCells = ops.Similarity.nlistForCorpus(embCount(s, dir))
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Ivf(nCells = nCells, nProbe = ops.Similarity.nprobeForCells(nCells)), Raw)
        .orderBy("qid", "rank")
    },
    // ---- ANN: the same IVF probe against a PERSISTED index — corpus
    //      written partitioned by centId (build-offline/serve-online);
    //      probing nprobe/nlist cells reads nprobe/nlist partition
    //      directories. nlist was sized at BUILD time; the serve path
    //      derives nprobe from the nlist stamped on the index (nProbe =
    //      -1), so no sizing job touches the store. Identical results to
    //      s_ann_ivf → same oracle.
    "s_ann_ivf_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        ivfIndex(s, dir), k = 5, nProbe = -1).orderBy("qid", "rank")
    },
    // ---- ANN: the SERVE path of a TRAINED quantizer — centroids are the
    //      committed k-means snapshot (tools.TrainIvfFixture); assignment,
    //      probe and rescore are deterministic given them, so the oracle
    //      recomputes routing from the same literal values
    "s_ann_ivf_trained" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      // nlist here is a property of the committed MODEL (the fixture's
      // centroid count), not of the corpus; only the probe policy applies
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Ivf(nCells = fixtureCentroidRows.size,
          nProbe = ops.Similarity.nprobeForCells(fixtureCentroidRows.size),
          centroids = Some(fixtureCentroids(s))), Raw).orderBy("qid", "rank")
    },
    // ---- ANN: trained quantizer + PERSISTED index — training and cell
    //      assignment paid once at build; the probe reads 4/16 partition
    //      directories. Identical results to s_ann_ivf_trained → same
    //      fixture-parameterized oracle.
    "s_ann_ivf_trained_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        trainedIvfIndex(s, dir), k = 5, nProbe = -1).orderBy("qid", "rank")
    },
    // ---- ANN: SHARDED IVF (r18) — the path past the 2²⁰-centroid
    //      broadcast ceiling (~131M vectors/index under the constant-cell
    //      rule): hash-partition the corpus (vec_id % 2), per-shard
    //      constant-cell index sized from the SHARD population, probe
    //      nprobe cells in EVERY shard, one global exact re-rank. The
    //      oracle recomputes shard/cell/probe routing from count(*).
    "s_ann_ivf_sharded" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, IvfSharded(nShards = 2, corpusSize = embCount(s, dir)), Raw).orderBy("qid", "rank")
    },
    // ---- ANN: the same sharded probe against a PERSISTED sharded index —
    //      cells laid out shard=…/centId=… (a probe reads probed
    //      DIRECTORY PAIRS only); nprobe sized from the per-shard cell
    //      count STAMPED at build (unstamped indexes RAISE). Identical
    //      results to s_ann_ivf_sharded → same oracle.
    "s_ann_ivf_sharded_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        shardedIvfIndex(s, dir), k = 5, nProbe = -1).orderBy("qid", "rank")
    },
    // ---- ANN: SHARDED IVF under TRAINED per-shard centroids (r19 — the
    //      r18 verdict's "sharded is seeded-only" gap): the committed
    //      per-shard k-means fixture routes (2 shards × 16 cells), probe
    //      policy applies to the per-shard cell count, one global exact
    //      re-rank. Serving a FIXED trained artifact is deterministic, so
    //      the oracle embeds the same centroid literals (the
    //      s_ann_ivf_trained convention, shard-keyed).
    "s_ann_ivf_sharded_trained" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, IvfSharded(nShards = 2, centroids = Some(fixtureShardedCentroids(s))), Raw)
        .orderBy("qid", "rank")
    },
    // ---- ANN: the same trained-sharded probe against a PERSISTED
    //      sharded index (shard=…/centId=… layout, per-shard cell count
    //      stamped at build). Identical results to
    //      s_ann_ivf_sharded_trained → same oracle.
    "s_ann_ivf_sharded_trained_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        shardedTrainedIvfIndex(s, dir), k = 5, nProbe = -1).orderBy("qid", "rank")
    },
    // ---- ANN, product-quantization/ADC variant (32x vector compression;
    //      codes-only candidate scan; decimal-exact ADC so the refine
    //      cutoff is oracle-reproducible). The rescore budget is the
    //      corpus-sized refineForCandidates rule (the ADC ranking noise
    //      the cut must absorb scales with the RANKED pool — here the
    //      whole corpus), and the codebook RESOLUTION is the corpus-sized
    //      kCodeForCorpus rule (r18: ADC rank signal must grow with the
    //      population it separates — refine absorbs noise, kCode bounds
    //      it). The oracle recomputes both integers from count(*)
    //      Since r19 this row runs the BUILD-THEN-SERVE composition (the
    //      r18 verdict's amortization directive): the corpus-sized encode
    //      (corpus·m·kCode rows — 10× at sf1.0 under kCode=160) is paid
    //      once at index build and the query ADC-ranks the PERSISTED
    //      codes; encode is deterministic given the persisted codebook,
    //      so results and the count-adaptive oracle are unchanged. The
    //      in-flight annTopK form remains the build-time/API form (OpsSpec
    //      pins served ≡ in-flight). m = 8 is the mForCorpus floor at every
    //      gated scale (parity require below keeps drift loud).
    "s_ann_pq" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      require(ops.Similarity.mForCorpus(embCount(s, dir)) == 8,
        "s_ann_pq oracle hardcodes m=8 subspaces; mForCorpus moved off the " +
          "floor at this corpus size — regenerate the oracle SQL for the new m")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        pqSeededIndex(s, dir), k = 5, refine = -1)
        .orderBy("qid", "rank")
    },
    // ---- ANN, scalar-quantization (SQ8) variant: one byte per dimension
    //      from corpus min/max ranges, bucket-midpoint reconstruction
    //      ranks (decimal-exact, count-adaptive refine), exact rescore
    //      finishes — the 4x-compression tier between raw floats and PQ's 32x
    "s_ann_sq8" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Exhaustive, Sq8(refine = ops.Similarity.refineForCandidates(embCount(s, dir))))
        .orderBy("qid", "rank")
    },
    // ---- ANN: PERSISTED SQ8 index — codes (1 B/dim on disk) + ranges +
    //      vectors written once; serving decodes the code scan and touches
    //      full-precision vectors only for refine survivors. refine = -1
    //      sizes the budget from the corpus count STAMPED at build time
    //      (a schema read, zero jobs over the store — the cosine-index
    //      stamp convention). Identical results to s_ann_sq8 → same oracle.
    "s_ann_sq8_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        sq8Index(s, dir), k = 5, refine = -1).orderBy("qid", "rank")
    },
    // ---- ANN, IVF-SQ8 composition: coarse cells route (corpus-sized
    //      nlist, constant-fraction probe — the s_ann_ivf rule), byte
    //      codes compress, the midpoint-decode dot ranks ONLY inside
    //      probed cells — the scan-pruning form of s_ann_sq8
    "s_ann_ivfsq8" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val n = embCount(s, dir)
      val nCells = ops.Similarity.nlistForCorpus(n)
      val nProbe = ops.Similarity.nprobeForCells(nCells)
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Ivf(nCells = nCells, nProbe = nProbe),
        // the ranked pool here is the PROBED population, not the corpus
        Sq8(refine = ops.Similarity.refineForCandidates(
          ops.Similarity.expectedProbed(n, nCells, nProbe))))
        .orderBy("qid", "rank")
    },
    // ---- ANN, IVF-PQ composition: coarse cells route (corpus-sized
    //      nlist, constant-fraction probe — the s_ann_ivf rule), PQ codes
    //      compress, ADC ranks ONLY inside probed cells, exact rescore
    //      finishes — the scan-pruning form of s_ann_pq
    //      Since r19: build-then-serve (the s_ann_pq amortization note
    //      above) — the index build pays the corpus-sized encode once
    //      with the SAME seeded quantizers (nlistForCorpus cells,
    //      kCodeForCorpus codebook), and the serve derives nprobe from
    //      the stamped nlist and refine from the stamped corpus count —
    //      exactly the integers the in-flight form computed, so results
    //      and oracle are unchanged (OpsSpec pins served ≡ in-flight).
    "s_ann_ivfpq" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      require(ops.Similarity.mForCorpus(embCount(s, dir)) == 8,
        "s_ann_ivfpq oracle hardcodes m=8 subspaces; mForCorpus moved off " +
          "the floor at this corpus size — regenerate the oracle SQL for the new m")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        ivfPqSeededIndex(s, dir), k = 5)
        .orderBy("qid", "rank")
    },
    // ---- ANN: PQ serve path under the TRAINED codebook — the committed
    //      per-subspace k-means snapshot (tools.TrainPqFixture); encode,
    //      ADC and refine are deterministic given it, so the oracle
    //      recomputes quantization from the same literal values
    "s_ann_pq_trained" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Exhaustive, Pq(m = 8, subDim = 8, kCode = 16,
          refine = ops.Similarity.refineForCandidates(embCount(s, dir)),
          codebook = Some(fixtureCodebook(s)))).orderBy("qid", "rank")
    },
    // ---- ANN: the FULLY-trained IVF-PQ composition — trained coarse
    //      quantizer routes, trained codebook compresses; both committed
    //      fixtures, so the whole serve path stays hash-oracled
    "s_ann_ivfpq_trained" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      // the fixture quantizer pins nCells; the probed POPULATION still
      // grows with the corpus, so the refine budget sizes from it
      val nCells = fixtureCentroidRows.size
      val nProbe = ops.Similarity.nprobeForCells(nCells)
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Ivf(nCells = nCells, nProbe = nProbe, centroids = Some(fixtureCentroids(s))),
        Pq(m = 8, subDim = 8, kCode = 16,
          refine = ops.Similarity.refineForCandidates(
            ops.Similarity.expectedProbed(embCount(s, dir), nCells, nProbe)),
          codebook = Some(fixtureCodebook(s)))).orderBy("qid", "rank")
    },
    // ---- ANN: the TRAINED IVF-PQ pipeline served from a PERSISTED index
    //      (r18) — routing state IS index state: centroids, codebook,
    //      cell-partitioned codes and vectors, and the corpus count all
    //      ride the stamp; serving sizes nprobe from the stamped nlist and
    //      refine from the stamped count, and prunes both the code scan
    //      and the rescore read to probed centId= directories. Identical
    //      results to s_ann_ivfpq_trained → same oracle.
    "s_ann_ivfpq_trained_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        ivfPqTrainedIndex(s, dir), k = 5).orderBy("qid", "rank")
    },
    // ---- ANN, RESIDUAL IVF-PQ (IVFADC): codes quantize vec − assigned
    //      fixture centroid with the committed RESIDUAL codebook; ADC =
    //      broadcast dot(q, centroid) + per-subspace lookups. The
    //      higher-recall standard form at the same bits
    "s_ann_ivfpq_residual" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val nCells = fixtureCentroidRows.size
      val nProbe = ops.Similarity.nprobeForCells(nCells)
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Ivf(nCells = nCells, nProbe = nProbe, centroids = Some(fixtureCentroids(s))),
        Pq(m = 8, subDim = 8, kCode = 16,
          refine = ops.Similarity.refineForCandidates(
            ops.Similarity.expectedProbed(embCount(s, dir), nCells, nProbe)),
          codebook = Some(fixtureResidualCodebook(s)), residual = true)).orderBy("qid", "rank")
    },
    // ---- multimodal: REAL PNG decode (javax.imageio) via mapPartitions —
    //      fixture PNGs are deterministic pixel functions of (x, y, id),
    //      so the oracle recomputes the decoded raster's checksum
    //      analytically; a wrong decode fails the hash gate
    "m_media_features" -> { (s, dir) =>
      ops.Multimodal.decodeFeatures(imageAssetTable(s, dir))
        .select(col("assetId"), col("width"), col("height"), col("checksum"))
        .orderBy("assetId")
    },
    // ---- multimodal: frame sampling over binary chunks (video-ish stub)
    "m_media_frames" -> { (s, dir) =>
      ops.Multimodal.sampleFrames(
        ops.Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text"),
        everyK = 2, frameBytes = 128)
        .orderBy("assetId", "frameIdx")
    },
    // ---- multimodal: REAL WAV decode (javax.sound.sampled) — fixture
    //      waveforms are deterministic sample functions of (t, id), so the
    //      oracle recomputes duration/energy/checksum analytically; a
    //      wrong container parse fails the hash gate. rms is derived from
    //      sumSq/nSamples (both oracled exactly), so the float column is
    //      transitively verified and kept out of the hash compare.
    "m_media_audio" -> { (s, dir) =>
      ops.Multimodal.decodeAudioFeatures(audioAssetTable(s, dir))
        .select(col("assetId"), col("sampleRate"), col("nSamples"),
          col("durationMs"), col("sumSq"), col("checksum"))
        .orderBy("assetId")
    },
    // ---- multimodal: window sampling over the DECODED audio stream —
    //      genuine WAV containers in, per-window amplitude checksums out
    "m_media_audio_frames" -> { (s, dir) =>
      ops.Multimodal.sampleAudioWindows(audioAssetTable(s, dir),
        windowSamples = 256, everyK = 2)
        .orderBy("assetId", "windowIdx")
    },
    // ---- multimodal: the byte-chunk frame sampler over GENUINE media
    //      containers (real WAV payloads, not UTF-8 text posing as video)
    //      — the oracle reconstructs the RIFF container BYTE FOR BYTE
    //      (canonical 44-byte JDK header: two little-endian length fields
    //      + fixed fmt block, then the PCM sample stream) and refolds each
    //      chunk's checksum, so a single wrong container byte fails the
    //      gate. Only ffmpeg-class video remains on the text harness
    "m_media_frames_wav" -> { (s, dir) =>
      ops.Multimodal.sampleFrames(audioAssetTable(s, dir),
        everyK = 2, frameBytes = 256)
        .orderBy("assetId", "frameIdx")
    },
    // ---- multimodal: batched nearest-neighbor resize over REAL decoded
    //      pixels (explicit integer resample — oracle-reproducible)
    "m_media_resize" -> { (s, dir) =>
      ops.Multimodal.resize(imageAssetTable(s, dir), width = 24, height = 24)
        .toDF().select("assetId", "width", "height", "nBytes", "checksum")
        .orderBy("assetId")
    },
    // ---- multimodal NEAR-DUP dedup: dHash-64 perceptual fingerprints
    //      over REAL decoded PNGs (planted groups of 4 near-identical
    //      variants), paired through the width-generic pigeonhole
    //      blocking — never all-pairs. The oracle brute-forces the SAME
    //      dHash definition analytically from the fixture's closed-form
    //      pixels, so both the decode and the blocking must be lossless
    //      at maxHamming=4 to match
    "m_media_dedup" -> { (s, dir) =>
      // localCheckpoint: the blocked self-join scans (id, sim) twice —
      // materializing the signature-sized frame decodes each PNG ONCE
      // constant-occupancy blocking (see m_media_dedup_rates): k = 1
      // (5 blocks, today's shape) at every oracle-gated scale, wider
      // combinations as the corpus grows; the brute-force oracle gates
      // any lossless blocking
      val kDup = ops.Dedup.hammingComboWidth(
        t(s, dir, "documents").count(), maxHamming = 4, bits = 64)
      val hashes = ops.Multimodal.imageHashes(imageDedupAssetTable(s, dir))
        .localCheckpoint()
      ops.Dedup.pairsFromHash(hashes, maxHamming = 4, blocks = 4 + kDup,
          bits = 64, comboWidth = kDup)
        .orderBy("idA", "idB")
    },
    // ---- image near-dup REMOVAL: dHash pairs -> star-CC -> one LEFT
    //      ANTI — the multimodal criterion gets the same removal closure
    //      every text criterion has
    "m_media_dedup_removal" -> { (s, dir) =>
      val kDup = ops.Dedup.hammingComboWidth(
        t(s, dir, "documents").count(), maxHamming = 4, bits = 64)
      val hashes = ops.Multimodal.imageHashes(imageDedupAssetTable(s, dir))
        .localCheckpoint() // 3 scans (pair sides + survivor join), 1 decode
      ops.Dedup.removeByClosure(hashes, "id",
          ops.Dedup.pairsFromHash(hashes, maxHamming = 4,
            blocks = 4 + kDup, bits = 64, comboWidth = kDup))
        .select(col("id").as("assetId")).orderBy("assetId")
    },
    // ---- image near-dup INDEX PROBE: a batch of new assets against the
    //      persisted corpus fingerprint index (signature-sized — corpus
    //      payloads never redecoded), the family's incremental shape
    "m_media_dedup_vs_index" -> { (s, dir) =>
      // filters on the fingerprint OUTPUT can't push through the decode
      // mapPartitions — checkpoint so both sides share one decode pass
      val hashes = ops.Multimodal.imageHashes(imageDedupAssetTable(s, dir))
        .localCheckpoint()
      val index = ops.Dedup.hashIndex(hashes.where(col("id") < 250),
        blocks = 5, bits = 64)
      ops.Dedup.hashIndexMatches(hashes.where(col("id") >= 250), index,
          maxHamming = 4, blocks = 5, bits = 64)
        .select(col("id").as("assetId"), col("corpusId").as("corpus_id"),
          col("dist"))
        .orderBy("assetId", "corpus_id")
    },
    // ---- AUDIO near-dup: energy-difference fingerprints over REAL
    //      decoded WAVs (planted variant groups), the same width-generic
    //      blocked pairing — dedup's second modality
    "m_media_audio_dedup" -> { (s, dir) =>
      val kDup = ops.Dedup.hammingComboWidth(
        t(s, dir, "documents").count(), maxHamming = 4, bits = 64)
      val hashes = ops.Multimodal.audioHashes(audioDedupAssetTable(s, dir))
        .localCheckpoint() // one WAV container parse, two pair-side scans
      ops.Dedup.pairsFromHash(hashes, maxHamming = 4, blocks = 4 + kDup,
          bits = 64, comboWidth = kDup)
        .orderBy("idA", "idB")
    },
    // ---- per-modality dataset card: decoded dimensions/durations per
    //      media type — the release-manifest view of the asset corpus;
    //      every number flows through the REAL decode, the oracle
    //      recomputes it from the fixture sizing
    "m_media_manifest" -> { (s, dir) =>
      val img = ops.Multimodal.decodeFeatures(imageAssetTable(s, dir)).toDF()
        .agg(count(lit(1)).as("n_assets"),
          sum(col("width").cast("long") * col("height")).as("sum_units"),
          min(least(col("width"), col("height"))).cast("int").as("min_dim"),
          max(greatest(col("width"), col("height"))).cast("int").as("max_dim"))
        .select(lit("image").as("media_type"), col("n_assets"),
          col("sum_units"), col("min_dim"), col("max_dim"))
      val aud = ops.Multimodal.decodeAudioFeatures(audioAssetTable(s, dir)).toDF()
        .agg(count(lit(1)).as("n_assets"),
          sum(col("nSamples").cast("long")).as("sum_units"),
          min(col("nSamples")).cast("int").as("min_dim"),
          max(col("nSamples")).cast("int").as("max_dim"))
        .select(lit("audio").as("media_type"), col("n_assets"),
          col("sum_units"), col("min_dim"), col("max_dim"))
      img.unionByName(aud).orderBy("media_type")
    },
    // ---- per-modality dedup-rate card: the d_dedup_rates triage view
    //      across all three fingerprint criteria — which modality needs
    //      dedup at all, from the removal closures
    "m_media_dedup_rates" -> { (s, dir) =>
      // ONE star-CC over all three modalities: pair ids shift into
      // disjoint 2^40-wide bands (components can't cross modalities by
      // construction, so the union closure equals three separate
      // closures), collapsing three driver-paced iterative CC loops into
      // one — measured 12.0 s -> the union form on the same fixtures
      // decode ONCE per modality (the pair self-join + the n_assets agg
      // rescan the frame), and build the three checkpoints CONCURRENTLY
      // (guide §2.6): the three eager decode jobs are independent and
      // previously ran one after another at construction
      val modalityDefs: Seq[(String, Long, () => DataFrame)] = Seq(
        ("image", 0L,
          () => ops.Multimodal.imageHashes(imageDedupAssetTable(s, dir))
            .localCheckpoint()),
        ("audio", 1L << 40,
          () => ops.Multimodal.audioHashes(audioDedupAssetTable(s, dir))
            .localCheckpoint()),
        ("video", 2L << 40, () => ops.Multimodal.videoHashes(
          ops.Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text"))
          .localCheckpoint()))
      val modalities: Seq[(String, Long, DataFrame)] = Concurrent.all(s)(
        modalityDefs.map { case (n, off, f) => () => (n, off, f()) })
      // the band arithmetic is only sound for ids inside one 2^40 band —
      // enforce it (guard-before-use), don't assume it
      def banded(c: org.apache.spark.sql.Column, off: Long): org.apache.spark.sql.Column =
        when(c < 0 || c >= (1L << 40), raise_error(concat(
          lit("m_media_dedup_rates: asset id outside the 2^40 modality band: "),
          c.cast("string")))).otherwise(c + off)
      // constant-occupancy blocking (hammingComboWidth, the Manku
      // combination scheme): every modality has one asset per document,
      // so the corpus count sizes the combination width — k=1 (5 blocks,
      // today's shape) through sf0.1, k=2 (6 blocks, 15 tables, ~2^21
      // buckets) at the sf1.0 sweep where fixed 2^13 buckets measured a
      // 13× cost at 10× rows. The oracle brute-forces ALL pairs, so any
      // lossless blocking matches it by construction.
      val nAssets = t(s, dir, "documents").count()
      val k = ops.Dedup.hammingComboWidth(nAssets, maxHamming = 4, bits = 64)
      val pairs = modalities.map { case (_, off, hashes) =>
        ops.Dedup.pairsFromHash(hashes, maxHamming = 4, blocks = 4 + k,
            bits = 64, comboWidth = k)
          .select(banded(col("idA"), off).as("idA"),
            banded(col("idB"), off).as("idB"))
      }.reduce(_ unionByName _)
      val losers = ops.Dedup.connectedComponentsStar(pairs, "idA", "idB")
        .where(col("node") =!= col("comp"))
        .select(shiftrightunsigned(col("node"), 40).as("band"))
        .groupBy("band").agg(count(lit(1)).as("n_lost"))
      // ONE union aggregate over the three checkpointed hash frames (the
      // same fold as the pair union above) — the r14 audit flagged three
      // separate n_assets jobs rescanning the checkpoints one by one.
      // Seeded from the static modality list, NOT the groupBy output: an
      // empty modality produces no group, and the triage card must show
      // its n_assets=0 row (the per-modality-agg form did), not drop the
      // media_type from the output
      val seed = {
        import s.implicits._
        modalities.zipWithIndex
          .map { case ((label, _, _), band) => (label, band.toLong) }
          .toDF("media_type", "band") // one LocalTableScan, not 3 range stages
      }
      val counted = modalities.zipWithIndex.map { case ((_, _, hashes), band) =>
        hashes.select(lit(band.toLong).as("band"))
      }.reduce(_ unionByName _)
        .groupBy("band").agg(count(lit(1)).as("n_assets"))
      val counts = seed.join(counted, Seq("band"), "left")
        .select(col("media_type"), col("band"),
          coalesce(col("n_assets"), lit(0L)).as("n_assets"))
      counts.join(losers, Seq("band"), "left")
        .select(col("media_type"), col("n_assets"),
          (col("n_assets") - coalesce(col("n_lost"), lit(0L))).as("n_kept"),
          when(col("n_assets") === 0, lit(0.0)).otherwise(
            round(coalesce(col("n_lost"), lit(0L)).cast("double") /
              col("n_assets").cast("double"), 6)).as("dup_rate"))
        .orderBy("media_type")
    },
    // ---- VIDEO near-dup (stub decode tier): chunk-energy fingerprints
    //      over the encoded container bytes — the chunking/fingerprint/
    //      blocking plumbing is real; a codec drop-in replaces only the
    //      per-frame statistic. Dedup's third modality
    "m_media_video_dedup" -> { (s, dir) =>
      val kDup = ops.Dedup.hammingComboWidth(
        t(s, dir, "documents").count(), maxHamming = 4, bits = 64)
      val hashes = ops.Multimodal.videoHashes(
        ops.Multimodal.assetsFromText(t(s, dir, "documents"), "doc_id", "text"))
      ops.Dedup.pairsFromHash(hashes, maxHamming = 4, blocks = 4 + kDup,
          bits = 64, comboWidth = kDup)
        .orderBy("idA", "idB")
    },

    // ---- skew-safe aggregation: the two-phase salted plan must produce
    //      byte-identical results to a plain GROUP BY (the oracle IS the
    //      plain GROUP BY) — proves hot keys can be spread over 32
    //      reducers without changing any aggregate
    "d_skew_salted_agg" -> { (s, dir) =>
      ops.Skew.saltedAggregate(t(s, dir, "events"),
        Seq(col("event_type")), saltBuckets = 32,
        partial = Seq(count(lit(1)).as("pn"), sum(col("value").cast(D4)).as("ps"),
          min(col("value")).as("pmin"), max(col("value")).as("pmax")),
        merge = Seq(sum(col("pn")).as("n_events"),
          sum(col("ps")).cast("double").as("sum_value"),
          min(col("pmin")).as("min_value"), max(col("pmax")).as("max_value")))
        .orderBy("event_type")
    },
    // ---- skew-safe salted JOIN (oracle = the plain join + GROUP BY) —
    //      the replicated-dim salt spreads each hot key over 32 reducers
    //      without changing any joined row; SkewSpec pins the plan shape
    "d_skew_salted_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val dim = ev.groupBy(col("event_type").as("dim_type"))
        .agg(length(col("event_type")).cast("int").as("type_len"))
      ops.Skew.saltedJoin(ev, col("event_type"), col("event_id"),
        dim, col("dim_type"), saltBuckets = 32)
        .groupBy(col("event_type"), col("type_len"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(D4)).cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // ---- end-to-end training-data prep: quality gate → language gate →
    //      fingerprint dedup → per-source token-budget cut. The running
    //      token total is windowed PER SOURCE (parallel across sources —
    //      a global running sum would serialize at 100 TB)
    // ---- BPE tokenizer TRAINING (Sennrich et al. 2016): 8 merge rounds
    //      of map-side-combined pair counts over the DISTINCT-WORD table;
    //      the result is the merge table itself — fully deterministic
    //      (count DESC, lexicographic tie-break), recomputed round for
    //      round by the oracle's unrolled CTEs
    "d_bpe_train" -> { (s, dir) =>
      import s.implicits._
      ops.Bpe.train(t(s, dir, "documents"), "text", numMerges = 8)
        .toDF().select(col("rank").cast("int").as("merge_rank"),
          col("lhs"), col("rhs"), col("pairCount").as("pair_count"))
        .orderBy("merge_rank")
    },
    // ---- WordPiece-style tokenizer TRAINING (Schuster & Nakajima 2012):
    //      same distinct-word machinery as BPE, but the round argmax
    //      maximizes likelihood gain c/(cl·cr) — cohesive rare pairs beat
    //      merely-frequent ones; table emitted integer-only, the score
    //      order proven safe as correctly-rounded IEEE division
    "d_wordpiece_train" -> { (s, dir) =>
      import s.implicits._
      ops.Bpe.trainWordPiece(t(s, dir, "documents"), "text", numMerges = 8)
        .toDF().select(col("rank").cast("int").as("merge_rank"),
          col("lhs"), col("rhs"), col("pairCount").as("pair_count"),
          col("leftCount").as("left_count"), col("rightCount").as("right_count"))
        .orderBy("merge_rank")
    },
    // ---- tokens under the TRAINED WordPiece tokenizer — the same
    //      unit-owned-space segmentation machinery as d_bpe_tokens, under
    //      the likelihood-scored merge table; next to the BPE counts the
    //      row is the tokenizer-choice comparison a pipeline team reads
    "d_wordpiece_tokens" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val merges = ops.Bpe.trainWordPiece(docs, "text", numMerges = 8)
      ops.Bpe.tokenCountsWordPiece(docs, "text", "doc_id", merges)
        .withColumnRenamed("n_tok_trained", "n_tok_wp")
        .orderBy("doc_id")
    },
    // ---- tokens under the TRAINED unigram-LM model (committed fixture,
    //      tools.TrainUnigramFixture) — the third tokenizer family's
    //      oracle-gated token-count row: the 2⁻⁴⁰ log-prob grid makes
    //      every Viterbi path sum exact, so the oracle re-derives the DP
    //      argmax by enumerating segmentations over the same literals
    "d_unigram_tokens" -> { (s, dir) =>
      ops.Unigram.tokenCounts(t(s, dir, "documents"), "text", "doc_id",
        fixtureUnigram).orderBy("doc_id")
    },
    // ---- CCNet-style LM quality filter: per-doc NLL/token under the
    //      committed unigram model (grid-exact path scores, decimal-exact
    //      doc sums); cutoff 3.75 ≈ p90 of the corpus
    "d_unigram_ppl" -> { (s, dir) =>
      ops.Unigram.docNll(t(s, dir, "documents"), "text", "doc_id",
        fixtureUnigram, nllCutoff = 3.75).orderBy("doc_id")
    },
    // ---- the TRAINER itself under the oracle gate: DuckDB replays the
    //      full hard-EM run (seeding → 3 Viterbi/m-step rounds → prune →
    //      final count pass) against the same corpus; the 2⁻⁴⁰ grid snap
    //      and the exact-dyadic DP sums make every intermediate model
    //      bit-identical cross-engine (fixture params: vocab 300,
    //      maxPieceLen 4, 3 rounds, 256 seed multis)
    "d_unigram_train" -> { (s, dir) =>
      import s.implicits._
      val m = ops.Unigram.train(t(s, dir, "documents"), "text",
        vocabSize = 300, maxPieceLen = 4, emRounds = 3, seedMultis = 256)
      m.pieces.map(p => (p.piece, p.count, p.logProb))
        .toDF("piece", "cnt", "log_prob").orderBy("piece")
    },
    // ---- tokenizer-quality card: per-source FERTILITY (tokens/word
    //      under the committed unigram model) + chars/token — the "is
    //      this tokenizer efficient on this source" report every
    //      multilingual tokenizer writeup tables
    "d_tokenizer_fertility" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tok = ops.Unigram.tokenCounts(docs, "text", "doc_id", fixtureUnigram)
      docs.select(col("doc_id"), col("source"), col("n_chars"),
          ops.TextAnalysis.wsTokenCount(col("text")).cast("long").as("nw"))
        .join(tok, "doc_id")
        .groupBy("source")
        .agg(sum(col("n_tok_unigram")).as("n_tok"),
          sum(col("nw")).as("n_words"),
          round(sum(col("n_tok_unigram")).cast("double") /
            sum(col("nw")).cast("double"), 6).as("fertility"),
          round(sum(col("n_chars")).cast("double") /
            sum(col("n_tok_unigram")).cast("double"), 6).as("chars_per_tok"))
        .orderBy("source")
    },
    // ---- embedding DRIFT card: per-dimension decimal-exact centroid of
    //      two corpus snapshots (even/odd vec_id split) and the absolute
    //      shift — the dataset-monitoring view that catches embedding
    //      regeneration or upstream model swaps between releases
    "d_embed_drift" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(transform(col("embedding"),
          x => x.cast("double"))))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
          col("col").as("x"))
      val D18 = org.apache.spark.sql.types.DecimalType(38, 18)
      e.groupBy("dim")
        .agg(
          (sum(when(col("vec_id") % 2 === 0, col("x")).cast(D18)).cast("double") /
            count(when(col("vec_id") % 2 === 0, 1)).cast("double")).as("mu_old"),
          (sum(when(col("vec_id") % 2 === 1, col("x")).cast(D18)).cast("double") /
            count(when(col("vec_id") % 2 === 1, 1)).cast("double")).as("mu_new"))
        .select(col("dim"), round(col("mu_old"), 6).as("mu_old"),
          round(col("mu_new"), 6).as("mu_new"),
          round(abs(col("mu_new") - col("mu_old")), 6).as("drift"))
        .orderBy("dim")
    },
    // ---- TERMINAL tokenization: per-doc token-ID sequences under the
    //      committed unigram model, ids concatenated in word order
    "d_tokenize_ids" -> { (s, dir) =>
      // Oracle-facing projection: the driver's comparator sorts rows with
      // pandas, which cannot order array cells — gate on the CSV scalar
      // (ints render identically in Spark and DuckDB); the operator
      // itself stays array-returning for pipeline composition.
      ops.Unigram.tokenIds(t(s, dir, "documents"), "text", "doc_id",
        fixtureUnigram)
        .select(col("doc_id"),
          concat_ws(",", col("token_ids")).as("token_ids_csv"),
          col("n_tok"))
        .orderBy("doc_id")
    },
    // ---- tokenize → pack, materialized: the actual 128-token training
    //      examples (prefix-sum chunking; every chunk full except the
    //      stream's last). The oracle is an INDEPENDENT formulation —
    //      flatten the doc-ordered global stream and slice — so the span
    //      arithmetic is proved against the definition, not itself
    "d_pack_tokens" -> { (s, dir) =>
      val tok = ops.Unigram.tokenIds(t(s, dir, "documents"), "text", "doc_id",
        fixtureUnigram)
      ops.Budget.packTokenIds(tok, "doc_id", seqLen = 128)
        .select(col("chunk"),
          concat_ws(",", col("token_ids")).as("token_ids_csv"),
          col("n_tok"))
        .orderBy("chunk")
    },
    // ---- packing with EOS document separators — the real pre-training
    //      stream shape: each nonempty doc's ids followed by the reserved
    //      eos id (= vocab size) before the global chunking
    "d_pack_eos" -> { (s, dir) =>
      val tok = ops.Unigram.tokenIds(t(s, dir, "documents"), "text", "doc_id",
        fixtureUnigram)
      ops.Budget.packTokenIdsEos(tok, "doc_id", seqLen = 128,
        eosId = fixtureUnigram.pieceStrings.length)
        .select(col("chunk"),
          concat_ws(",", col("token_ids")).as("token_ids_csv"),
          col("n_tok"))
        .orderBy("chunk")
    },
    // ---- tokens under the TRAINED tokenizer vs the closed-form estimate
    //      — the "is nTokensBpe honest?" comparison, per document
    "d_bpe_tokens" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val merges = ops.Bpe.train(docs, "text", numMerges = 8)
      ops.Bpe.tokenCounts(docs, "text", "doc_id", merges)
        .join(docs.select(col("doc_id"),
          ops.TextAnalysis.tokenEstimate(col("text")).cast("long").as("n_tok_est")),
          Seq("doc_id"))
        .orderBy("doc_id")
    },
    // ---- PII scrubbing: the corpus word salad carries no PII, so the
    //      row plants a deterministic specimen of every category per doc
    //      (built from doc_id with IDENTICAL integer arithmetic in the
    //      oracle) — the gate then verifies the scrubbed text
    //      byte-for-byte AND the per-category counts, i.e. that each
    //      regex matched exactly what it should and nothing else
    "d_pii_scrub" -> { (s, dir) =>
      val c = (e: org.apache.spark.sql.Column) => e.cast("string")
      val injected = t(s, dir, "documents").withColumn("text_pii", concat(
        col("text"), lit(" contact user"), c(col("doc_id")),
        lit("@example.com call +1-"),
        c(lit(100) + pmod(col("doc_id"), lit(900))), lit("-"),
        c(lit(100) + pmod(col("doc_id") * 3, lit(900))), lit("-"),
        c(lit(1000) + pmod(col("doc_id"), lit(9000))),
        lit(" from 10."), c(pmod(col("doc_id"), lit(256))), lit(".0."),
        c(lit(1) + pmod(col("doc_id"), lit(254))),
        lit(" ssn "), c(lit(100) + pmod(col("doc_id"), lit(900))), lit("-"),
        c(lit(10) + pmod(col("doc_id"), lit(90))), lit("-"),
        c(lit(1000) + pmod(col("doc_id"), lit(9000))),
        lit(" card 4111"), c(lit(100000000000L) + col("doc_id")), lit(" end")))
      ops.Pii.scrub(injected, "text_pii")
        .select(col("doc_id"), col("text_clean"), col("n_pii_email"),
          col("n_pii_ipv4"), col("n_pii_phone"), col("n_pii_ssn"),
          col("n_pii_idnum"))
        .orderBy("doc_id")
    },
    // ---- C4-style boilerplate line removal, broadcast-set form: lines in
    //      >= 25 distinct docs are deleted corpus-wide; the document side
    //      is never shuffled (frequent set -> one row -> broadcast ->
    //      scan-stage array filter). Gate covers the cleaned TEXT itself
    //      byte-for-byte plus the per-doc removed count
    "d_boilerplate" -> { (s, dir) =>
      ops.Boilerplate.clean(boilerplateDocs(s, dir), "doc_id", "text_bl",
          minDocs = 25)
        .select(col("doc_id"), col("text_clean"), col("n_lines_removed"))
        .orderBy("doc_id")
    },
    // ---- same semantics through the JOIN form (posexplode -> broadcast
    //      left join -> order-restoring regroup) — the scale path when the
    //      frequent set outgrows a linear broadcast-array probe; sharing
    //      the oracle with d_boilerplate pins cross-form parity at the
    //      rows+schema+hash level
    "d_boilerplate_join" -> { (s, dir) =>
      ops.Boilerplate.cleanViaJoin(boilerplateDocs(s, dir), "doc_id",
          "text_bl", minDocs = 25)
        .select(col("doc_id"), col("text_clean"), col("n_lines_removed"))
        .orderBy("doc_id")
    },
    // ---- PER-SOURCE boilerplate (the per-domain granularity): a line is
    //      cut only where it is frequent WITHIN its source — the injected
    //      16-variant "shared" line is globally frequent but per-source
    //      rare, so it survives here and falls only to the global forms
    "d_boilerplate_by_source" -> { (s, dir) =>
      ops.Boilerplate.cleanViaJoinBy(boilerplateDocs(s, dir), "source",
          "doc_id", "text_bl", minDocs = 25)
        .select(col("doc_id"), col("text_clean"), col("n_lines_removed"))
        .orderBy("doc_id")
    },
    // ---- the frequent-line table itself (line, document frequency) — the
    //      corpus-level aggregate both forms consume
    "d_boilerplate_lines" -> { (s, dir) =>
      ops.Boilerplate.frequentLines(boilerplateDocs(s, dir), "doc_id",
          "text_bl", minDocs = 25)
        .select(col("line"), col("line_df").cast("long").as("line_df"))
        .orderBy("line")
    },
    // ---- hashed-feature linear classifier (fastText-style gate): mean
    //      bucket weight vs integer thresholds, scored by the fused
    //      codegen kernel; the oracle refolds every word's bucket weight
    "d_quality_classifier" -> { (s, dir) =>
      ops.Classifier.classify(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("score_sum"), col("label"))
        .orderBy("doc_id")
    },
    // ---- classifier TRAINING (CCNet-style: curated sources positive,
    //      the crawl negative): per hashed feature bucket, smoothed
    //      integer positive-rate weights from ONE map-side-combined
    //      aggregate — every weight recomputed bit-for-bit by the oracle
    "d_classifier_train" -> { (s, dir) =>
      val labeled = t(s, dir, "documents").withColumn("is_positive",
        col("source").isin("src0", "src1", "src2", "src3", "src4"))
      ops.Classifier.train(labeled, "text", "is_positive")
        .orderBy("bucket")
    },
    // ---- train → weights → gate, end-to-end: the trained table rides
    //      into the scoring expression as a codegen object reference
    //      (the BPE model-artifact pattern), inference stays one
    //      scan-stage projection
    "d_classifier_trained" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("is_positive",
        col("source").isin("src0", "src1", "src2", "src3", "src4"))
      val w = ops.Classifier.trainedWeights(
        ops.Classifier.train(labeled, "text", "is_positive"))
      ops.Classifier.classifyTrained(docs, w.toSeq)
        .select(col("doc_id"), col("n_words"), col("score_sum"), col("label"))
        .orderBy("doc_id")
    },
    // ---- per-source dedup-rate card: the curation report a near-dup
    //      removal run logs — docs in, survivors, dup rate per source
    //      (one id-keyed left join of the corpus against the survivor
    //      set + one source-keyed aggregate on top of the removal op)
    "d_dedup_rates" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val surv = ops.Dedup.removeNearDuplicates(docs, "doc_id", "text")
        .select(col("doc_id").as("__s_id"))
      docs.join(surv, docs("doc_id") === col("__s_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__s_id").isNotNull, 1L).otherwise(0L)).as("n_kept"),
          round(sum(when(col("__s_id").isNull, 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("dup_rate"))
        .orderBy("source")
    },
    // ---- DSIR importance resampling: per-bucket target-vs-raw micro-nat
    //      log-ratios (curated sources = target), scored through the SAME
    //      trained-weights codegen kernel, global top-100 by mean
    //      importance — estimate → weights → select, end-to-end in-plan
    "d_dsir_sample" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("is_target",
        col("source").isin("src0", "src1", "src2", "src3", "src4"))
      val w = ops.Classifier.packWeights(
        ops.Classifier.dsirLogRatios(labeled, "text", "is_target"), "lr_micro")
      ops.Classifier.dsirTopN(docs, "doc_id", "text", w.toSeq, 100)
        .select(col("doc_id"), col("n_words"), col("lr_sum"),
          col("importance"), col("rank"))
        .orderBy("rank")
    },
    // ---- DSIR admission GATE: the threshold (streamable) serving shape —
    //      integer cross-multiplied cut, every row covered by the hash
    //      gate; threshold 0 micro-nats = "more target-like than raw"
    "d_dsir_gate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val labeled = docs.withColumn("is_target",
        col("source").isin("src0", "src1", "src2", "src3", "src4"))
      val w = ops.Classifier.packWeights(
        ops.Classifier.dsirLogRatios(labeled, "text", "is_target"), "lr_micro")
      ops.Classifier.dsirGate(docs, w.toSeq, minImportanceMicro = 0L)
        .select(col("doc_id"), col("n_words"), col("lr_sum"), col("admitted"))
        .orderBy("doc_id")
    },
    // ---- incremental dedup: yesterday's corpus contributes only its
    //      FINGERPRINT INDEX; today's batch anti-joins it, then dedups
    //      within itself — the accumulated corpus is never rescanned
    "d_dedup_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val fp = ops.TextAnalysis.fingerprint(col("text"))
      val index = docs.where(col("doc_id") < 250)
        .select(fp.as("key")).distinct()
      ops.Dedup.dedupIncremental(docs.where(col("doc_id") >= 250), index,
          fp, "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    // ---- incremental NEAR-dup: the accumulated corpus contributes only
    //      its signature-sized simhash block index; every batch doc within
    //      Hamming ≤ 3 of an indexed doc is reported — the batch twin of
    //      the streaming corpus lookup (one shared probe definition)
    "d_dedup_simhash_vs_index" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = ops.Dedup.simhashIndex(docs.where(col("doc_id") < 250),
        "doc_id", "text", blocks = 4)
      ops.Dedup.simhashIndexMatches(docs.where(col("doc_id") >= 250), index,
          "doc_id", "text", maxHamming = 3, blocks = 4)
        .orderBy("doc_id", "corpusId")
    },
    // ---- incremental NEAR-dedup: drop batch docs near the corpus index,
    //      every member of a batch component that touches the corpus (its
    //      released near-original is the survivor), and non-representatives
    //      of untouched components — reproduces the full-rerun survivor
    //      set while never rescanning the accumulated corpus
    //      (batch capped at doc_id < 1250 — a no-op at sf0.01's 500 docs —
    //      because the ORACLE's recursive transitive closure over the
    //      dense within-batch pair graph is quadratic per component in
    //      DuckDB; the operator's own scale shape is what the plan pins
    //      and the ×10 stress measure, not the fixture size)
    // ---- est-Jaccard sibling of the simhash index probe: batch documents
    //      within estimated Jaccard 0.3 of the accumulated MinHash band
    //      index — same banded recall contract as d_dedup_minhash, same
    //      id-identity rule as the simhash probe
    "d_dedup_minhash_vs_index" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = ops.Dedup.minhashIndex(docs.where(col("doc_id") < 250),
        "doc_id", "text")
      ops.Dedup.minhashIndexMatches(docs.where(col("doc_id") >= 250), index,
          "doc_id", "text")
        .orderBy("doc_id", "corpusId")
    },
    "d_dedup_simhash_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = ops.Dedup.simhashIndex(docs.where(col("doc_id") < 250),
        "doc_id", "text", blocks = 4)
      ops.Dedup.dedupIncrementalNear(
          docs.where(col("doc_id") >= 250 && col("doc_id") < 1250), index,
          "doc_id", "text", maxHamming = 3, blocks = 4)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    // ---- est-Jaccard criterion of the incremental family: the composed
    //      MinHash incremental (index probe + within-batch CC + the shared
    //      touched-component cut) — closes the last asymmetry where
    //      MinHash had index + probe halves but no composed operator
    //      (same batch cap as the simhash sibling: the ORACLE's recursive
    //      closure is quadratic per component in DuckDB)
    "d_dedup_minhash_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = ops.Dedup.minhashIndex(docs.where(col("doc_id") < 250),
        "doc_id", "text")
      ops.Dedup.dedupIncrementalMinhash(
          docs.where(col("doc_id") >= 250 && col("doc_id") < 1250), index,
          "doc_id", "text")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    // ---- embedding criterion of the incremental family: batch vectors
    //      probed against the accumulated corpus's hyperplane-band index
    //      (id-only rows); candidate pairs dedup id-only, then exact cosine
    //      verifies against the corpus VECTOR STORE — same banded-recall
    //      contract as d_dedup_cosine_lsh (the oracle replays the banding),
    //      same id-identity rule as the simhash/minhash probes
    "d_dedup_cosine_vs_index" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") < 250)
      // constant-occupancy sizing from the INDEX corpus (the side whose
      // bucket occupancy the probe pays per candidate) happens at BUILD
      // time inside cosineIndexAdaptive, which stamps planes/bands/count
      // into the index schema; the PROBE side reads the stamp (a schema
      // read, zero jobs over the store). The vec_id < 250 cut pins the
      // corpus at 250 vectors at every SF, so the rule statically
      // resolves to 5 planes and the oracle bakes 5 in
      val index = ops.Dedup.cosineIndexAdaptive(corpus, "vec_id", "embedding",
        bands = 8)
      val (planes, bands) = ops.Dedup.stampedBandParams(index)
      val store = ops.Dedup.cosineVecStore(corpus, "vec_id", "embedding")
      ops.Dedup.cosineIndexMatches(emb.where(col("vec_id") >= 250), index,
          store, "vec_id", "embedding", threshold = 0.4,
          planesPerBand = planes, bands = bands)
        .orderBy("doc_id", "corpusId")
    },
    // ---- incremental SEMANTIC dedup (the SemDeDup-style criterion): drop
    //      batch vectors whose cosine reaches an indexed corpus vector,
    //      whole corpus-touching within-batch components, and
    //      non-representatives — dedupIncrementalNear's touched-component
    //      semantics under the cosine criterion, completing the
    //      daily-increment family across exact, token, and embedding
    "d_dedup_cosine_incremental" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") < 250)
      // same build-sizes/serve-reads-the-stamp split as
      // d_dedup_cosine_vs_index: the 250-vector corpus statically
      // resolves to 5 planes per band
      val index = ops.Dedup.cosineIndexAdaptive(corpus, "vec_id", "embedding",
        bands = 8)
      val (planes, bands) = ops.Dedup.stampedBandParams(index)
      val store = ops.Dedup.cosineVecStore(corpus, "vec_id", "embedding")
      ops.Dedup.dedupIncrementalCosine(emb.where(col("vec_id") >= 250), index,
          store, "vec_id", "embedding", threshold = 0.4,
          planesPerBand = planes, bands = bands)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },
    // ---- train→test LEAKAGE removal: the split assignment feeding the
    //      near-dup index machinery — test docs index their simhashes,
    //      train docs within Hamming 3 of any test doc are dropped (the
    //      doc-level contamination cut that n-gram decontamination
    //      against external benchmarks doesn't cover)
    "d_split_decontam" -> { (s, dir) =>
      val labeled = ops.Sampling.splitLabels(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val idx = ops.Dedup.simhashIndex(
        labeled.where(col("split") === "test"), "doc_id", "text")
      val train = labeled.where(col("split") === "train")
      val leaked = ops.Dedup.simhashIndexMatches(train, idx, "doc_id", "text")
        .select(col("doc_id")).distinct()
      train.join(leaked, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id")
    },
    // ---- SemDeDup (cluster-then-dedup): committed-quantizer cells, exact
    //      within-cell cosine prune — the EXACT-within-cell alternative to
    //      the LSH-banded near-dup path, served off the trained-IVF
    //      centroid fixture so the oracle replays the assignment
    "d_dedup_semantic" -> { (s, dir) =>
      ops.Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          fixtureCentroids(s), threshold = 0.3)
        .orderBy("vec_id")
    },
    // ---- SemDeDup over the PERSISTED cell layout (trained-fixture
    //      quantizer): assignment paid at index build, within-cell pairs
    //      read from their own partition directories — identical results
    //      to d_dedup_semantic, same oracle
    "d_dedup_semantic_indexed" -> { (s, dir) =>
      ops.Dedup.semanticDedupIndexed(s, trainedIvfIndex(s, dir), "vec_id",
          threshold = 0.3)
        .orderBy("vec_id")
    },
    // ---- BM25 retrieval over the corpus: one literal query, global
    //      top-10 via TakeOrderedAndProject (per-partition heaps, never a
    //      single-task sort)
    "d_bm25_search" -> { (s, dir) =>
      ops.Ranking.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "window", "join"), topK = 10)
        .orderBy("rank")
    },
    // ---- per-doc TF-IDF keywords (top 3): doc-partitioned rank window
    //      over the salted df join
    "d_tfidf_keywords" -> { (s, dir) =>
      ops.Ranking.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text",
          topPerDoc = 3)
        .orderBy("doc_id", "rank")
    },
    // ---- hard-negative mining (ANCE-style): per query, top-5 nearest
    //      corpus vectors with a DIFFERENT label — banded-LSH candidates,
    //      label mismatch before ranking
    "d_ann_negatives" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.hardNegatives(
        e.where(col("vec_id") < 20).select(col("vec_id").as("qid"),
          col("embedding").as("vec"), col("label")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec"), col("label")),
        k = 5).orderBy("qid", "rank")
    },
    // ---- BM25 SERVE path: frozen corpus stats → row-local scoring of
    //      every doc (router semantics: termless docs score 0); the same
    //      artifact the streaming twin consumes
    "d_bm25_served" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val stats = ops.Ranking.bm25Stats(docs, "doc_id", "text",
        Seq("spark", "window", "join"))
      ops.Ranking.bm25Score(docs, "doc_id", "text", stats).orderBy("doc_id")
    },
    // ---- batched BM25: a (qid, term) query TABLE scored in one corpus
    //      pass, per-query top-5
    "d_bm25_multi" -> { (s, dir) =>
      import s.implicits._
      val qs = Seq(("qa", "spark"), ("qa", "window"), ("qa", "join"),
        ("qb", "customer"), ("qb", "query"), ("qb", "table"),
        ("qc", "vector"), ("qc", "stream")).toDF("qid", "term")
      ops.Ranking.bm25Batch(t(s, dir, "documents"), "doc_id", "text", qs, topK = 5)
        .orderBy("qid", "rank")
    },
    // ---- embedding feature prep: mean-center on the corpus centroid,
    //      L2-normalize (decimal-exact centroid, row-local projection)
    "d_embed_normalize" -> { (s, dir) =>
      // Oracle-facing projection: one scalar row per (vector, dim) —
      // format-safe for doubles (the driver comparator can sort and hash
      // scalars; a CSV of floats would hinge on renderer formatting) and
      // strictly stronger than a digest: every component is checked.
      ops.Similarity.normalizeEmbeddings(t(s, dir, "embeddings"),
        "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("nvec")))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
          col("col").as("x"))
        .orderBy("vec_id", "dim")
    },
    // ---- JL sign projection 64 -> 16 dims against the deterministic
    //      ±1 plane matrix (planes 100+ keep it disjoint from the LSH
    //      banding planes) — dimension reduction ahead of ANN
    "d_embed_project" -> { (s, dir) =>
      ops.Similarity.signProject(t(s, dir, "embeddings"),
        "vec_id", "embedding", outDims = 16, firstPlane = 100)
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
          col("col").as("x"))
        .orderBy("vec_id", "dim")
    },
    // ---- embedding-space dataset card: per trained-cell count +
    //      cosine-to-centroid distribution (decimal-exact mean)
    "d_semantic_cells" -> { (s, dir) =>
      ops.Similarity.cellProfile(
        t(s, dir, "embeddings").select(col("vec_id").as("cid"),
          col("embedding").as("vec")),
        fixtureCentroids(s)).orderBy("cell")
    },
    // ---- exact pairwise source shingle-overlap (the cross-source dedup
    //      audit); corpus collapses to distinct (source, shingle) first
    "d_source_overlap" -> { (s, dir) =>
      ops.TextAnalysis.sourceOverlap(t(s, dir, "documents"), "source", "text")
        .orderBy("srcA", "srcB")
    },
    // ---- MinHash estimate of the same matrix — the 100 TB path: one
    //      32-long signature per source (min-of-mins), #sources² compares
    "d_source_overlap_est" -> { (s, dir) =>
      ops.TextAnalysis.sourceOverlapEst(t(s, dir, "documents"), "source", "text")
        .orderBy("srcA", "srcB")
    },
    // ---- quality-weighted soft sampling: survival probability = the
    //      doc's own quality score, deterministically (u < floor(q·P31))
    //      — quality pacing between a hard gate and keep-everything
    "d_sample_weighted" -> { (s, dir) =>
      val scored = ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
      ops.Sampling.weightedHashSample(scored, "doc_id", "quality")
        .orderBy("doc_id")
    },
    // ---- cluster-balanced "diverse subset" selection: assign every
    //      vector to its trained-centroid cell (broadcast centroids, no
    //      corpus shuffle), then exactly-n per cell via the two-phase
    //      sampler — embedding-space diversity sampling for data
    //      curation, composed entirely from individually-gated operators
    "d_diverse_sample" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val assigned = ops.Similarity.assignCells(
        emb.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        fixtureCentroids(s))
      ops.Sampling.stratifiedFixed(
        assigned.select(col("cid").as("vec_id"), col("centId").as("cell")),
        "cell", "vec_id", n = 20)
        .orderBy("vec_id")
    },
    // ---- Gopher rule battery (Rae et al. 2021): per-doc boolean per
    //      heuristic rule + the conjunction — every flag an exact integer
    //      cross-multiplication, so the gate AND its reject reasons are
    //      hash-compared bit-for-bit
    "d_quality_rules" -> { (s, dir) =>
      ops.TextAnalysis.gopherRules(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"), col("r_word_count"),
          col("r_word_len"), col("r_alpha_frac"), col("r_dup_words"),
          col("r_top_bigram"), col("kept"))
        .orderBy("doc_id")
    },
    // ---- incremental manifest UPDATE: released(docs < 250) combined with
    //      snapshot(batch ≥ 250) — the oracle recomputes the FULL corpus,
    //      so the row pins combine's associativity claim exactly; one
    //      shards-sized full-outer join, accumulated corpus never rescanned
    "d_manifest_update" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val released = ops.Manifest.snapshot(docs.where(col("doc_id") < 250),
        "source", "doc_id", "text", 8)
      val inc = ops.Manifest.snapshot(docs.where(col("doc_id") >= 250),
        "source", "doc_id", "text", 8)
      ops.Manifest.combine(released, inc, "source").orderBy("source", "shard")
    },
    // ---- backfill VERIFICATION against the released manifest: the probe
    //      plants a lost document, a corrupted text, and a renamed-source
    //      handful — the diff must flag exactly those shards ('mismatch' /
    //      'missing' / 'unexpected') and pass everything else 'ok'; two
    //      snapshot aggregates + one shards-sized join, corpora never joined
    "d_manifest_verify" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val released = ops.Manifest.snapshot(docs, "source", "doc_id", "text", 8)
      val probe = docs
        .where(col("doc_id") =!= 3)
        .withColumn("text", when(pmod(col("doc_id"), lit(97)) === 13,
          concat(col("text"), lit(" corrupted"))).otherwise(col("text")))
        .withColumn("source", when(col("doc_id") < 5, lit("backfill_extra"))
          .otherwise(col("source")))
      ops.Manifest.verify(probe, released, "source", "doc_id", "text", 8)
        .orderBy("source", "shard")
    },
    // ---- Gopher-style WITHIN-doc duplicate-line stats over planted page
    //      chrome (every doc carries a twice-repeated nav line; docs with
    //      doc_id % 3 == 0 additionally duplicate their body) — row-local
    //      sorted-adjacency, no explode, no shuffle
    "d_line_repetition" -> { (s, dir) =>
      ops.TextAnalysis.lineRepetition(lineRepDocs(s, dir), "doc_id", "text_lr")
        .orderBy("doc_id")
    },
    // ---- the CLEANER counterpart: keep the first occurrence of every
    //      repeated line within each doc, order preserved, empties kept —
    //      same planted chrome, so the nav line loses its second copy and
    //      doc_id % 3 == 0 docs lose their duplicated body
    "d_dedup_lines_within" -> { (s, dir) =>
      ops.Boilerplate.dedupLinesWithin(lineRepDocs(s, dir), "doc_id", "text_lr")
        .select(col("doc_id"), col("text_clean"), col("n_lines_removed"))
        .orderBy("doc_id")
    },
    // ---- CORPUS-WIDE first-occurrence line dedup (CCNet's paragraph
    //      dedup): every non-empty line survives only at its smallest
    //      (doc_id, pos) — the planted chrome keeps ONE copy in the
    //      min-id doc (contrast d_boilerplate, which deletes it from
    //      every doc), and duplicated bodies vanish from later docs
    "d_dedup_lines_across" -> { (s, dir) =>
      ops.Boilerplate.dedupLinesAcross(lineRepDocs(s, dir), "doc_id", "text_lr")
        .select(col("doc_id"), col("text_clean"), col("n_lines_removed"))
        .orderBy("doc_id")
    },
    // ---- deterministic train/val/test split: integer thresholds on the
    //      unit-hash line, precomputed once and inlined as literals in
    //      BOTH engines — disjoint, layout-stable, zero exchanges
    "d_split_corpus" -> { (s, dir) =>
      ops.Sampling.splitLabels(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    },
    // ---- the release view of the split: a manifest PER SPLIT (split as
    //      the manifest's source key) — what actually ships alongside
    //      train/val/test artifacts, and the split-disjointness proof at
    //      the release level (per-split n_docs sum to the corpus; the
    //      content folds are per-split recomputable)
    "d_split_manifest" -> { (s, dir) =>
      val split = ops.Sampling.splitLabels(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      ops.Manifest.snapshot(split, "split", "doc_id", "text", 8)
        .orderBy("split", "shard")
    },
    // ---- gate-calibration crosstab: classifier label × Gopher-rule
    //      verdict — the agreement table a pipeline reads to tune its
    //      thresholds (how often does the learned gate contradict the
    //      heuristic battery?); two scan-stage projections, one id join,
    //      one tiny aggregate
    "d_quality_calibration" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val kept = ops.TextAnalysis.gopherRules(docs)
        .select(col("doc_id"), col("kept"))
      val lab = ops.Classifier.classify(docs)
        .select(col("doc_id"), col("label"))
      lab.join(kept, Seq("doc_id"))
        .groupBy("label", "kept").agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy("label", "kept")
    },
    // ---- dataset-card crosstab: per (source, label) doc/token/score
    //      totals — the composition-decision table a mixture job reads;
    //      one map-side-combined aggregate over the scan-stage
    //      classifier+analysis projections
    "d_corpus_labels" -> { (s, dir) =>
      ops.Classifier.classify(ops.TextAnalysis.analyze(t(s, dir, "documents")))
        .groupBy("source", "label").agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("nTokensWs").cast("long")).as("n_tokens"),
          sum(col("score_sum")).as("score_total"))
        .orderBy("source", "label")
    },
    // ---- corpus-wide frequent-phrase mining: exact trigram multiset
    //      counts, minCount-pruned before the sort, deterministic
    //      (cnt DESC, gram ASC) top-k via TakeOrderedAndProject
    "d_top_ngrams" -> { (s, dir) =>
      ops.Ngrams.topNgrams(t(s, dir, "documents"), "text", n = 3, k = 50,
        minCount = 2)
    },
    // ---- the round-9 stages composed into ONE plan: boilerplate clean
    //      (broadcast-set) → PII scrub of the CLEANED text → classifier →
    //      language/quality/label gates → fingerprint dedup. Proves the
    //      new scan-stage gates chain without plan blow-ups, exactly like
    //      d_pipeline_prep did for the PII stage in round 8
    "d_pipeline_clean" -> { (s, dir) =>
      val cleaned = ops.Boilerplate.clean(boilerplateDocs(s, dir), "doc_id",
        "text_bl", minDocs = 25)
      val scrubbed = cleaned.withColumn("text",
        ops.Pii.scrubExprs(col("text_clean"))._1)
      val gated = ops.TextAnalysis.analyze(ops.Classifier.classify(scrubbed))
        .where(col("langGuess") === "en" && col("quality") >= 0.5 &&
          col("label") =!= "discard")
      ops.Dedup.exactDedup(gated, col("fingerprint"), "doc_id")
        .select(col("doc_id"), col("source"), col("n_lines_removed"),
          col("n_words"), col("score_sum"), col("label"))
        .orderBy("doc_id")
    },

    "d_pipeline_prep" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // PII scrub composes in front of the analysis gates — one more
      // scan-stage projection on the same single plan (the corpus is
      // synthetic word salad, so the scrub is a verified no-op here; the
      // injected-PII d_pii_scrub row is where redaction itself is gated)
      val scrubbed = t(s, dir, "documents")
        .withColumn("text", ops.Pii.scrubExprs(col("text"))._1)
      val kept = ops.Dedup.exactDedup(
        ops.TextAnalysis.analyze(scrubbed)
          .where(col("langGuess") === "en" && col("quality") >= 0.5),
        col("fingerprint"), "doc_id")
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      kept
        .withColumn("cum_tokens", sum(col("nTokensWs").cast("long")).over(w))
        .where(col("cum_tokens") <= 5000)
        .select(col("doc_id"), col("source"),
          col("nTokensWs").cast("int").as("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    },

    // ---- FULL training-data pipeline, one plan: quality/language gate →
    //      benchmark decontamination (anti-join vs the broadcast bench
    //      overlap) → fingerprint dedup → per-source fractional sample →
    //      GLOBAL token budget via the parallel prefix sum. Each stage is
    //      the scale-shaped operator gated individually above; this row
    //      proves they compose without plan blow-ups (pin: PlanQualitySpec)
    // ---- redaction feeding admission: passage-redact the corpus, drop
    //      fully-redacted docs, then admit per source while the running
    //      KEPT-token total stays in budget — duplicated content stops
    //      charging the budget, which is the point of redacting first
    "d_pipeline_redact" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val red = ops.Dedup.redactRepeatedPassages(t(s, dir, "documents"),
          "doc_id", "text", window = 60, stride = 20, minRunChars = 20)
        .where(col("kept_text").isNotNull)
        .withColumn("n_tokens",
          coalesce(ops.TextAnalysis.wsTokenCount(col("kept_text")), lit(0))
            .cast("int"))
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      red
        .withColumn("cum_tokens", sum(col("n_tokens").cast("long")).over(w))
        .where(col("cum_tokens") <= 4000)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    },
    "d_pipeline_full" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") < 25)
      val corpus = docs.where(col("doc_id") >= 25)
      // analyze ONCE (r20), but checkpoint only the gate/dedup/budget
      // COLUMNS, never the corpus text (guide §5 — the r20 full-row
      // checkpoint carried text executor-side); the decontamination probe
      // reads raw text instead: `dirty` is only an anti-join id set, and
      // for every gated id the ungated row has the same text, so probing
      // the ungated corpus yields the identical join result. The two
      // corpus passes (analysis kernel, shingle probe) are independent,
      // so they build CONCURRENTLY (guide §2.6 — the r20 shape ran them
      // serially through the checkpoint: VERDICT r20 wrong-item #1).
      val Seq(gated, dirty) = Concurrent.all(s)(Seq(
        () => ops.TextAnalysis.analyze(corpus)
          .where(col("langGuess") === "en" && col("quality") >= 0.5)
          .select(col("doc_id"), col("source"), col("fingerprint"),
            col("nTokensWs"))
          .localCheckpoint(),
        () => ops.Decontaminate.overlap(corpus, bench, "doc_id", "text",
          minShared = 2).select("doc_id").localCheckpoint()))
      val clean = gated.join(dirty, Seq("doc_id"), "left_anti")
      val deduped = ops.Dedup.exactDedup(clean, col("fingerprint"), "doc_id")
      // materialize the sampled frame (bounded: one short row per
      // surviving doc): the budget's offsets derivation embeds the whole
      // upstream subtree, so without this the anti-join → dedup → sample
      // chain executed twice — once under the offsets checkpoint, once in
      // the final join (r21 PlanProfile: the duplicated 0.65 MB job chain)
      val sampled = ops.Sampling.stratifiedSample(deduped, "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.2), default = 0.6)
        .materialized
      ops.Budget.globalRunningBudget(sampled, "doc_id", "nTokensWs",
        budget = 30000L, bucketWidth = 64)
        .select(col("doc_id"), col("source"),
          col("nTokensWs").cast("int").as("n_tokens"), col("cum"))
        .orderBy("doc_id")
    },

    // ---- producer-side pipeline tail, one plan: quality/language gate →
    //      fingerprint dedup → exact top-50% quality-quantile gate →
    //      global admission budget → sequence packing. The output is what
    //      a loader consumes: per-document stream offset + chunk under a
    //      token budget, with every stage's oracle fragment composed
    "d_pipeline_pack" -> { (s, dir) =>
      val gated = ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .where(col("langGuess") === "en" && col("quality") >= 0.5)
      // materialize the deduped 3-column projection (bounded, text-free —
      // the d_pipeline_full rule, r21): the quantile cutoff, the budget
      // offsets and the packing offsets each embed their upstream, so
      // without this the analyze+dedup chain re-executed once per stage
      // (2 surviving parquet scans in the r20-audited plan; 1 checkpoint
      // job + 0 final-plan scans now)
      val deduped = ops.Dedup.exactDedup(gated, col("fingerprint"), "doc_id")
        .select(col("doc_id"), col("quality"), col("nTokensWs"))
        .materialized
      val top = ops.Quantile.selectTopFraction(deduped, "quality", frac = 0.5)
      val admitted = ops.Budget.globalRunningBudget(top, "doc_id", "nTokensWs",
        budget = 20000L, bucketWidth = 64).drop("cum")
      ops.Budget.packSequences(admitted, "doc_id", "nTokensWs",
        seqLen = 512, bucketWidth = 64)
        .select(col("doc_id"), col("nTokensWs").cast("int").as("n_tokens"),
          col("offset"), col("chunk")).orderBy("doc_id")
    },

    // ---- benchmark decontamination: corpus docs (doc_id >= 25) sharing
    //      >= 2 distinct 3-word shingle hashes with the "benchmark" slice
    //      (doc_id < 25). The exploded bench shingles are BROADCAST — the
    //      corpus streams through a map-side join, no corpus-wide shuffle
    "d_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      ops.Decontaminate.overlap(
        docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
        "doc_id", "text", minShared = 2).orderBy("doc_id")
    },
    // ---- per-(doc, bench item) ATTRIBUTION: which eval item leaked into
    //      which document, with the shingle evidence count — the audit
    //      table behind d_decontaminate's per-doc rollup
    "d_decontaminate_pairs" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      ops.Decontaminate.overlapPairs(
        docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
        "doc_id", "text", minShared = 2).orderBy("doc_id", "bench_id")
    },
    // ---- containment-ratio decontamination: quarantine when >= 15% of a
    //      doc's distinct shingles appear anywhere in the bench slice —
    //      the right gate for short eval items (absolute counts miss them)
    "d_decontaminate_containment" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      ops.Decontaminate.containment(
        docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
        "doc_id", "text", minRatio = 0.15).orderBy("doc_id")
    },
    // ---- SURGICAL span-level decontamination (the GPT-3 appendix-C
    //      practice): words covered by a bench 3-gram are cut, the longest
    //      clean fragment >= 10 words survives, untouched docs keep their
    //      raw text — the keep-the-document alternative to d_decontaminate
    "d_decontaminate_redact" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      ops.Decontaminate.redactSpans(
          docs.where(col("doc_id") >= 25), docs.where(col("doc_id") < 25),
          "doc_id", "text", n = 3, minFragmentWords = 10)
        .select(col("doc_id"), col("n_words"), col("n_dirty_words"),
          col("kept_words"), col("kept_text"))
        .orderBy("doc_id")
    },
    // ---- the SERVE shape of span redaction: bench grams frozen into a
    //      sorted array, membership via codegen'd binary search — ONE
    //      join-free projection (the stream-safe form; parity-pinned by
    //      StreamingSpec, same oracle as the batch form)
    "d_decontaminate_redact_served" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val set = ops.Decontaminate.benchGramSet(
        docs.where(col("doc_id") < 25), "text")
      ops.Decontaminate.redactSpansServe(
          docs.where(col("doc_id") >= 25), set, "text",
          n = 3, minFragmentWords = 10)
        .select(col("doc_id"), col("n_words"), col("n_dirty_words"),
          col("kept_words"), col("kept_text"))
        .orderBy("doc_id")
    },
    // ---- exact-substring passage REDACTION (Lee et al. 2021): duplicated
    //      60-char windows cut everywhere but their first occurrence,
    //      clean runs >= 20 chars survive concatenated
    "d_dedup_passages_redact" -> { (s, dir) =>
      ops.Dedup.redactRepeatedPassages(t(s, dir, "documents"), "doc_id",
          "text", window = 60, stride = 20, minRunChars = 20)
        .select(col("doc_id"), col("n_chars"), col("n_dup_chars"),
          col("kept_chars"), col("kept_text"))
        .orderBy("doc_id")
    },
    // ---- per-source passage-duplication card: how much of each source's
    //      character volume sits in duplicated passages, and how many docs
    //      the surgical cut touches / drops — the triage view that decides
    //      whether a source needs redaction at all
    "d_dedup_passage_rates" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      ops.Dedup.redactRepeatedPassages(docs, "doc_id", "text",
          window = 60, stride = 20, minRunChars = 20)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_dup_chars") > 0, 1L).otherwise(0L)).as("n_touched"),
          sum(when(col("n_chars").isNotNull && col("kept_text").isNull, 1L)
            .otherwise(0L)).as("n_dropped"),
          sum(coalesce(col("n_chars").cast("long"), lit(0L))).as("sum_chars"),
          sum(coalesce(col("n_dup_chars").cast("long"), lit(0L))).as("dup_chars"),
          round(sum(coalesce(col("n_dup_chars").cast("long"), lit(0L))).cast("double")
            / sum(coalesce(col("n_chars").cast("long"), lit(0L))).cast("double"),
            6).as("dup_char_rate"))
        .orderBy("source")
    },
    // ---- deterministic KMV distinct-count sketch: per-source distinct
    //      shingles, estimate vs exact vs realized error — the
    //      oracle-replayable alternative to HLL (whose register layout no
    //      two engines share)
    "d_distinct_sketch" -> { (s, dir) =>
      val sh = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.TextFunctions.shingle_hashes(col("text")))
            .as("h"))
      ops.Sketch.kmvDistinct(sh, "source", col("h"), k = 64)
        .orderBy("source")
    },
    // ---- KMV mergeability — the sketch's 100 TB property: per-shard
    //      sketches (doc_id mod 8) unioned per source give the EXACT
    //      one-shot estimate (k-minima union is lossless)
    "d_distinct_sketch_merged" -> { (s, dir) =>
      val sh = t(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
        .select(col("source"), col("shard"),
          explode(graft.functions.TextFunctions.shingle_hashes(col("text")))
            .as("h"))
      val sketches = ops.Sketch.kmvSketch(sh, "source", "shard", col("h"), k = 64)
      ops.Sketch.kmvMergeEstimate(sketches, "source", k = 64).orderBy("source")
    },
    // ---- KMV SET ALGEBRA: pairwise union/intersection/Jaccard estimates
    //      between sources computed ENTIRELY from persisted k-minima —
    //      "how much do srcA and srcB overlap?" answered from two 64-long
    //      arrays, corpus never rescanned
    "d_distinct_sketch_ops" -> { (s, dir) =>
      val sh = t(s, dir, "documents")
        .where(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(col("source"),
          explode(graft.functions.TextFunctions.shingle_hashes(col("text")))
            .as("h"))
        .withColumn("one", lit(0))
      val sk = ops.Sketch.kmvSketch(sh, "source", "one", col("h"), k = 64)
        .drop("one")
      ops.Sketch.kmvSetOps(sk, "source", k = 64).orderBy("gA", "gB")
    },
    // ---- Bloom membership gate: the cheapest "seen before?" serve tier —
    //      a FIXED-SIZE bit table (mBits/32 rows, whatever the corpus)
    //      probed by the batch; no false negatives ever, false positives
    //      priced by (1−e^{−kn/m})^k. Corpus = even doc fingerprints,
    //      batch = odd docs; is_member (the exact answer) rides along so
    //      the no-false-negative guarantee is VISIBLE in the row data
    "d_member_sketch" -> { (s, dir) =>
      // four consumers of the fingerprint lineage (filter build, probe,
      // ride-along join, exact-membership join) — checkpoint the
      // fingerprint-sized frame so the corpus HOF aggregate runs ONCE
      val fps = t(s, dir, "documents")
        .select(col("doc_id"), ops.TextAnalysis.fingerprint(col("text")).as("fp"))
        .localCheckpoint()
      val corpus = fps.where(pmod(col("doc_id"), lit(2)) === 0)
      val batch = fps.where(pmod(col("doc_id"), lit(2)) === 1)
      val sk = ops.Sketch.bloomSketch(corpus, col("fp"), mBits = 65536, kHashes = 4)
      val probed = ops.Sketch.bloomProbe(batch, "doc_id", col("fp"), sk,
        mBits = 65536, kHashes = 4)
      batch.join(probed, "doc_id")
        .join(corpus.select(col("fp")).distinct().withColumn("__in", lit(true)),
          Seq("fp"), "left")
        .select(col("doc_id"), col("maybe_member"),
          coalesce(col("__in"), lit(false)).as("is_member"))
        .orderBy("doc_id")
    },
    // ---- Bloom mergeability — per-shard filters OR-merge into the
    //      one-shot bit table BIT-IDENTICALLY (the union of set bits);
    //      the oracle ignores the sharding and replays one-shot semantics
    "d_member_sketch_merged" -> { (s, dir) =>
      val fps = t(s, dir, "documents")
        .select(col("doc_id"), ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      val corpus = fps.where(pmod(col("doc_id"), lit(2)) === 0)
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
      val batch = fps.where(pmod(col("doc_id"), lit(2)) === 1)
      val sk = ops.Sketch.bloomMerge(ops.Sketch.bloomShardSketch(
        corpus, "shard", col("fp"), mBits = 65536, kHashes = 4))
      ops.Sketch.bloomProbe(batch, "doc_id", col("fp"), sk,
          mBits = 65536, kHashes = 4)
        .orderBy("doc_id")
    },
    // ---- count-min frequency sketch: the whole corpus word bag counted
    //      ONCE into 4×2048 cells; any key's frequency answered later
    //      without re-reading the corpus. Probe = the exact top-30 words;
    //      est >= exact always (collisions only ADD — `over` shows them)
    "d_freq_sketch" -> { (s, dir) =>
      // the occurrence bag feeds the sketch AND the exact top-30, and the
      // top feeds the lookup AND the ride-along join: checkpoint the two
      // tiny derivatives so the corpus explode runs ONCE per consumer
      // tier instead of once per reference
      val occ = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.word_hashes(col("text")))
          .as("w_hash"))
        .localCheckpoint()
      val cms = ops.Sketch.cmsSketch(occ, col("w_hash"), depth = 4, width = 2048)
      val top = occ.groupBy("w_hash").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("w_hash")).limit(30)
        .localCheckpoint()
      ops.Sketch.cmsLookup(top, "w_hash", col("w_hash"), cms,
          depth = 4, width = 2048)
        .join(top, "w_hash")
        .select(col("w_hash"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("over"))
        .orderBy(col("n_exact").desc, col("w_hash"))
    },
    // ---- CMS mergeability — counters are sums, so per-shard sketches
    //      sum-merge into the one-shot sketch CELL-identically; same
    //      probe, same answers, oracle ignores the sharding
    "d_freq_sketch_merged" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val occ = docs.select(pmod(col("doc_id"), lit(8)).as("shard"),
        explode(graft.functions.TextFunctions.word_hashes(col("text")))
          .as("w_hash"))
        .localCheckpoint()
      val cms = ops.Sketch.cmsMerge(ops.Sketch.cmsShardSketch(
        occ, "shard", col("w_hash"), depth = 4, width = 2048))
      val top = occ.groupBy("w_hash").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("w_hash")).limit(30)
      ops.Sketch.cmsLookup(top, "w_hash", col("w_hash"), cms,
          depth = 4, width = 2048)
        .orderBy("w_hash")
    },
    // ---- histogram quantile sketch: per-source length quantiles off a
    //      64-bucket mergeable histogram — error bounded by ONE bucket
    //      width (16 chars) at build time, not by data luck; the exact
    //      sibling (d_length_quantiles) re-sorts the corpus per query
    "d_quantile_sketch" -> { (s, dir) =>
      val hist = ops.Sketch.histSketch(t(s, dir, "documents"),
        "source", "n_chars", lo = 0L, hi = 1024L, nBuckets = 64)
      ops.Sketch.histQuantiles(hist, "source", Seq(50, 90, 99),
          lo = 0L, hi = 1024L, nBuckets = 64)
        .orderBy("source", "pct")
    },
    // ---- histogram mergeability — per-shard histograms sum-merge
    //      losslessly; identical quantile reads, oracle ignores sharding
    "d_quantile_sketch_merged" -> { (s, dir) =>
      val hist = ops.Sketch.histMerge(ops.Sketch.histShardSketch(
        t(s, dir, "documents").withColumn("shard", pmod(col("doc_id"), lit(8))),
        "source", "shard", "n_chars", lo = 0L, hi = 1024L, nBuckets = 64),
        "source")
      ops.Sketch.histQuantiles(hist, "source", Seq(50, 90, 99),
          lo = 0L, hi = 1024L, nBuckets = 64)
        .orderBy("source", "pct")
    },
    // ---- content-defined chunking (rsync/LBFS rule): boundaries after
    //      any 16-gram whose poly-57 hash ends in 6 zero bits — a
    //      boundary depends only on its local k chars, so edits re-align
    //      downstream chunks (the storage-granularity dedup criterion)
    "d_cdc_chunks" -> { (s, dir) =>
      ops.Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
          k = 16, maskBits = 6)
        .groupBy("id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("len").cast("long")).as("n_bytes"),
          max(col("len")).cast("long").as("max_chunk"))
        .select(col("id").as("doc_id"), col("n_chunks"), col("n_bytes"),
          col("max_chunk"))
        .orderBy("doc_id")
    },
    // ---- per-source STORAGE-dedup card: bytes a chunk store would hold
    //      vs the raw corpus — exact dups collapse entirely, near-dups
    //      still share every untouched chunk (boundaries are content-
    //      local); two map-side aggregates, never a pair join
    "d_cdc_dedup" -> { (s, dir) =>
      ops.Dedup.cdcDedupRates(t(s, dir, "documents"), "source", "doc_id",
          "text", k = 16, maskBits = 6)
        .orderBy("source")
    },
    // ---- CDC as a NEAR-DUP CRITERION: documents sharing >= 2 rare chunk
    //      identities pair up — chunk-granularity resemblance, df-pruned
    //      [2, 50] before the pair expansion (the winnow recipe)
    "d_cdc_pairs" -> { (s, dir) =>
      ops.Dedup.cdcPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 16, maskBits = 6, maxDf = 50, minShared = 2)
        .orderBy("idA", "idB")
    },
    // ---- CROSS-CRITERION AGREEMENT MATRIX: the governance card for "which
    //      dedup criteria do we actually need to run?" — pair sets from four
    //      criteria (est-Jaccard MinHash, Hamming SimHash, winnow
    //      fingerprints, CDC chunk share) intersected pairwise; diagonal
    //      rows are each criterion's own pair count. The four pair
    //      pipelines run ONCE (checkpointed, pair-count-sized) and the
    //      matrix join is over id pairs only. The (doc_id, text) scan is
    //      checkpointed ONCE and shared by all four criteria — their
    //      tokenizations genuinely differ (CDC bytes, word shingles,
    //      words, char 30-grams), but the r15 plan audit found each
    //      re-reading the parquet independently; one in-memory frame
    //      cuts three scan+decompress passes.
    "d_dedup_criteria_matrix" -> { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .localCheckpoint()
      // criteria carry a BIT each (alphabetical order = the output's
      // critA/critB order): the matrix aggregates per-pair criterion
      // BITMASKS instead of self-joining the labeled pair union — each
      // criterion emits a pair at most once (every kernel ends in a
      // distinct/groupBy), so sum(bit) == bit_or and one map-side-combined
      // aggregate replaces the (idA, idB)-keyed join exchange over the
      // full pair union (guide §2.3 aggregate-before-shuffle; the r20
      // collect_set rewrite failed because it built per-pair ARRAYS — a
      // bit sum is a codegen long)
      def lbl(bit: Int, df: DataFrame) =
        df.select(lit(bit.toLong).as("critBit"),
          col("idA").cast("long").as("idA"),
          col("idB").cast("long").as("idB"))
      // the four criteria construct CONCURRENTLY (guide §2.6: overlap
      // independent jobs): each pair kernel now materializes its
      // fingerprint stream eagerly (r20), and building them one after
      // another serialized four independent scan jobs that previously
      // overlapped as branches of the single union plan — measured
      // 4.6 → 8.0 s on this row before this fix, back under it after.
      // Results are order-independent (the union is unordered input to
      // a groupBy); branch jobs stay in the caller's job group.
      val defs: Seq[(String, () => DataFrame)] = Seq(
        ("cdc", () => ops.Dedup.cdcPairs(docs, "doc_id", "text",
          k = 16, maskBits = 6, maxDf = 50, minShared = 2)),
        ("minhash", () => ops.Dedup.minhashLshPairs(docs, "doc_id",
          "text", numHashes = 32, bands = 8, threshold = 0.3)),
        ("simhash", () => {
          // the same corpus-sized combo blocking as d_dedup_simhash
          // (lossless, so the criterion's pair set is unchanged)
          val k = ops.Dedup.hammingComboWidth(docCount(s, dir),
            maxHamming = 3, bits = 31)
          ops.Dedup.simhashPairs(docs, "doc_id", "text",
            maxHamming = 3, blocks = 3 + k, comboWidth = k)
        }),
        ("winnow", () => ops.Dedup.winnowedPassagePairs(docs,
          "doc_id", "text", k = 30, w = 10, maxDf = 50, minShared = 2)))
      // bit i and the combo frame's (critA, critB) orientation both follow
      // list order, which must be name order to match the oracle's ORDER BY
      val names = defs.map(_._1)
      require(names == names.sorted,
        s"d_dedup_criteria_matrix: criteria must be listed by name, got $names")
      val all = Concurrent.all(s)(defs.zipWithIndex.map { case ((_, f), i) =>
        () => lbl(1 << i, f())
      }).reduce(_ unionByName _)
      // per-pair mask → per-mask count (≤ 2^4 − 1 rows) → expand to the
      // (critA, critB) cells via a 10-row combo frame: n_common(a, b) =
      // Σ over masks containing both bits. No row for an empty cell,
      // exactly like the former inner self-join (r21 A/B, interleaved
      // min-of-3 ×4 rounds: mask 3.37 s vs self-join 4.14 s best — and
      // the union localCheckpoint the self-join needed is gone).
      val maskCounts = all.groupBy("idA", "idB")
        .agg(expr("bit_or(critBit)").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n"))
      val combos = for {
        i <- names.indices; j <- i until names.size
      } yield (names(i), names(j), ((1L << i) | (1L << j)))
      val comboDf = s.createDataFrame(combos).toDF("critA", "critB", "bits")
      maskCounts
        .join(broadcast(comboDf),
          col("mask").bitwiseAND(col("bits")) === col("bits"))
        .groupBy("critA", "critB").agg(sum(col("n")).as("n_common"))
        .orderBy("critA", "critB")
    },
    // ---- the criterion's removal closure: pairs -> star-CC -> LEFT ANTI,
    //      smallest id survives each component (family-standard)
    "d_cdc_removal" -> { (s, dir) =>
      ops.Dedup.cdcRemoveNearDuplicates(t(s, dir, "documents"), "doc_id",
          "text", k = 16, maskBits = 6, maxDf = 50, minShared = 2)
        .select(col("doc_id"), col("source"), col("n_chars")).orderBy("doc_id")
    },
    // ---- the chunk criterion's daily increment: index-matched docs out,
    //      corpus-touching within-batch components out whole,
    //      non-representatives of untouched components out — the
    //      family-shared incrementalCut semantics under chunk-share pairs
    "d_cdc_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val idx = ops.Dedup.cdcChunkIndex(docs.where(col("doc_id") < 250),
        "doc_id", "text", k = 16, maskBits = 6)
      ops.Dedup.dedupIncrementalCdc(docs.where(col("doc_id") >= 250), idx,
          "doc_id", "text", k = 16, maskBits = 6, maxDf = 50, minShared = 2)
        .select(col("doc_id"), col("source"), col("n_chars")).orderBy("doc_id")
    },
    // ---- incremental CDC probe: what would this batch ACTUALLY cost to
    //      ingest into the chunk store? batch chunks vs the persisted
    //      (h, len) chunk-identity index of the corpus half
    "d_cdc_vs_index" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val idx = ops.Dedup.cdcChunkIndex(docs.where(col("doc_id") < 250),
        "doc_id", "text", k = 16, maskBits = 6)
      ops.Dedup.cdcIndexMatches(docs.where(col("doc_id") >= 250), idx,
          "doc_id", "text", k = 16, maskBits = 6)
        .orderBy("doc_id")
    },
    // ---- ANN via JL project-then-rescore: 16-dim projected cosine ranks
    //      (4x cheaper dot), count-adaptive exact full-space rescore (the
    //      projected rank noise the cut absorbs scales with the corpus)
    "s_ann_projected" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.annTopK(
        e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("vec")),
        e.select(col("vec_id").as("cid"), col("embedding").as("vec")),
        5, Exhaustive, Projected(outDims = 16, firstPlane = 100,
          refine = ops.Similarity.refineForCandidates(embCount(s, dir))))
        .orderBy("qid", "rank")
    },
    // ---- ANN: PERSISTED JL projected index — rounded 16-dim projections
    //      (what serving scans: outDims/64 of the raw ranking I/O) +
    //      vectors written once; projections are bit-identical to the
    //      in-flight build, so results equal s_ann_projected → same oracle.
    //      refine = -1 sizes the budget from the corpus count stamped on
    //      the index (zero jobs over the store at serve time)
    "s_ann_projected_indexed" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ops.Similarity.serveAnnIndex(
        e.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("vec")),
        projectedIndex(s, dir), k = 5, refine = -1,
        expect = Some(Projected(outDims = 16, firstPlane = 100))).orderBy("qid", "rank")
    },
    // ---- alignment-robust passage pairs: winnowing fingerprints (MOSS)
    //      catch shared passages at ANY offset — the recall the aligned
    //      stride windows trade away
    "d_dedup_winnow" -> { (s, dir) =>
      ops.Dedup.winnowedPassagePairs(t(s, dir, "documents"), "doc_id", "text",
        k = 30, w = 10, maxDf = 50, minShared = 2).orderBy("idA", "idB")
    },
    // ---- winnow probe of a persisted corpus fingerprint index: the
    //      *_vs_index member of the winnow family (batch x corpus shared
    //      fingerprint counts, hub fingerprints df-pruned on the union)
    "d_dedup_winnow_vs_index" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = ops.Dedup.winnowIndex(
        docs.where(col("doc_id") < 250), "doc_id", "text", k = 30, w = 10)
      ops.Dedup.winnowIndexMatches(
          docs.where(col("doc_id") >= 250), index, "doc_id", "text",
          k = 30, w = 10, maxDf = 50, minShared = 2)
        .orderBy("doc_id", "corpus_id")
    },
    // ---- winnow pairs -> star-CC -> one LEFT ANTI: character-level
    //      near-dup removal under the alignment-robust criterion
    "d_dedup_winnow_removal" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      ops.Dedup.removeByClosure(docs, "doc_id",
          ops.Dedup.winnowedPassagePairs(docs, "doc_id", "text",
            k = 30, w = 10, maxDf = 50, minShared = 2))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    // ---- probe stage alone: the (doc, char_start) dirty set a batch
    //      inherits from the corpus passage-hash index (the shape the
    //      streaming twin consumes)
    "d_dedup_passages_vs_index" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = ops.Dedup.passageHashIndex(
        docs.where(col("doc_id") < 250), "doc_id", "text")
      ops.Dedup.passageIndexMatches(
          docs.where(col("doc_id") >= 250), index, "doc_id", "text",
          window = 60, stride = 20)
        .orderBy("doc_id", "char_start")
    },
    // ---- the passage criterion's daily increment: batch redacted against
    //      the corpus's fingerprint-sized distinct-hash index plus itself,
    //      corpus never rescanned; equals the full rerun restricted to the
    //      batch under the monotone-id ingest layout (OpsSpec-pinned, and
    //      the oracle IS the full rerun restricted to batch ids)
    "d_dedup_passages_incremental" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = ops.Dedup.passageHashIndex(
        docs.where(col("doc_id") < 250), "doc_id", "text")
      ops.Dedup.redactRepeatedPassagesIncremental(
          docs.where(col("doc_id") >= 250), index, "doc_id", "text",
          window = 60, stride = 20, minRunChars = 20)
        .select(col("doc_id"), col("n_chars"), col("n_dup_chars"),
          col("kept_chars"), col("kept_text"))
        .orderBy("doc_id")
    },
    // ---- verbatim repeated-passage pairs: 60-char windows at stride 20,
    //      df-pruned hub windows, distinct-counted shared passages
    "d_dedup_passages" -> { (s, dir) =>
      ops.Dedup.repeatedPassagePairs(t(s, dir, "documents"), "doc_id", "text",
        window = 60, stride = 20, maxDf = 50, minShared = 2)
        .orderBy("idA", "idB")
    },
    // ---- dedup clusters: minhash LSH pairs (same params as
    //      d_dedup_minhash) closed into connected components by the one
    //      closure (driver union-find below the edge cap, distributed
    //      large-star/small-star past it) — the oracle recomputes the
    //      transitive closure recursively, so the closure is proven
    //      equal to true reachability, not just plausible
    "d_dedup_clusters" -> { (s, dir) =>
      val pairs = ops.Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.3)
      ops.Dedup.connectedComponentsStar(pairs, "idA", "idB")
        .select(col("node").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    },
    // ---- same clustering by the O(log n)-round large-star/small-star
    //      algorithm — one shared recursive-closure oracle gates both
    "d_dedup_clusters_star" -> { (s, dir) =>
      val pairs = ops.Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.3)
      ops.Dedup.connectedComponentsStar(pairs, "idA", "idB")
        .select(col("node").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")
    },
    // ---- end-to-end near-dup REMOVAL: pairs → components → one survivor
    //      per transitive dup group (min id); the cut is an id-keyed anti
    //      join, never a per-pair delete (which over-deletes on chains)
    "d_dedup_removal" -> { (s, dir) =>
      ops.Dedup.removeNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.3)
        .select(col("doc_id"), col("source"), col("n_chars")).orderBy("doc_id")
    },
    // ---- QUALITY-AWARE removal: each duplicate cluster keeps its
    //      LONGEST member (score = n_chars; ties -> smallest id) — the
    //      production representative choice, one max_by per component
    "d_dedup_removal_best" -> { (s, dir) =>
      ops.Dedup.removeNearDuplicatesKeepBest(t(s, dir, "documents"),
        "doc_id", "text", "n_chars", numHashes = 32, bands = 8,
        threshold = 0.3)
        .select(col("doc_id"), col("source"), col("n_chars")).orderBy("doc_id")
    },
    // ---- repetition signals (Gopher-style quality gates): word-level
    //      dup fraction (row-local) + top-bigram fraction (explode → count
    //      → max per doc; linear in doc length, never O(len²) per row)
    "d_text_repetition" -> { (s, dir) =>
      ops.TextAnalysis.repetitionSignals(t(s, dir, "documents")).orderBy("doc_id")
    },
    // ---- deterministic Bernoulli sample: pure integer hash membership,
    //      stable across runs/partitionings — a stateless scan-stage filter
    "d_sample_hash" -> { (s, dir) =>
      ops.Sampling.hashSample(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"), col("source"), col("u")).orderBy("doc_id")
    },
    // ---- exactly-8-per-source stratified sample: hash-ordered rank inside
    //      each stratum, one shuffle on the stratum key, strata in parallel
    "d_sample_stratified" -> { (s, dir) =>
      ops.Sampling.stratifiedFixed(t(s, dir, "documents"), "source", "doc_id", 8)
        .select(col("doc_id"), col("source"), col("rk")).orderBy("doc_id")
    },
    // ---- per-stratum FRACTIONAL sample (keep src0 whole, downsample src1
    //      to 10%, drop src2, everything else 40%) — still a stateless
    //      scan-stage filter; the when-cascade covers both boundaries
    //      (fraction 1.0 keeps all, 0.0 admits nothing)
    "d_sample_stratified_frac" -> { (s, dir) =>
      ops.Sampling.stratifiedSample(t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.1, "src2" -> 0.0), default = 0.4)
        .select(col("doc_id"), col("source"), col("u")).orderBy("doc_id")
    },
    // ---- unigram self-surprisal (CCNet-style perplexity filtering
    //      without a model): mean -ln p(word) under the corpus's own
    //      unigram distribution
    "d_text_surprisal" -> { (s, dir) =>
      ops.TextAnalysis.unigramSurprisal(t(s, dir, "documents")).orderBy("doc_id")
    },
    // ---- bigram-interpolated surprisal (Jelinek-Mercer λ=3/4): the
    //      context-aware tier — word salad built FROM common words scores
    //      normal under unigrams but improbable under bigrams; token
    //      stream joined ONCE, salted on the Zipf-pinned bigram key
    "d_text_surprisal2" -> { (s, dir) =>
      ops.TextAnalysis.bigramSurprisal(t(s, dir, "documents")).orderBy("doc_id")
    },
    // ---- per-source drift card: unigram KL vs the whole corpus +
    //      entropy — the register-change monitor a mixture owner reads;
    //      aggregates run over the COUNT table, the token stream is
    //      never joined
    "d_source_kl" -> { (s, dir) =>
      ops.TextAnalysis.sourceDivergence(t(s, dir, "documents")).orderBy("source")
    },
    // ---- per-source corpus profile: the report every pipeline run emits
    //      (doc counts, token volume, quality distribution, language mix);
    //      one map-side-combined aggregate, decimal-exact means
    "d_corpus_stats" -> { (s, dir) =>
      ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nTokensWs").cast("long")).as("n_tokens"),
          sum(col("n_chars").cast("long")).as("n_chars"),
          (dsum(col("quality")) / count(lit(1))).as("avg_quality"),
          min(col("quality")).as("min_quality"), max(col("quality")).as("max_quality"),
          sum(when(col("langGuess") === "en", 1L).otherwise(0L)).as("n_en"))
        .orderBy("source")
    },
    // ---- corpus snapshot manifest: per (source, shard) row count, token
    //      sum and order-independent content hashes (XOR + modular-sum
    //      folds of the shared document fingerprint) — the release
    //      artifact a backfill proves identity against; one map-side-
    //      combined aggregate, shard = pure hash of the id
    "d_corpus_manifest" -> { (s, dir) =>
      ops.Manifest.snapshot(t(s, dir, "documents"), "source", "doc_id",
          "text", nShards = 8)
        .orderBy("source", "shard")
    },
    // ---- weighted mixture: rescale sources to 3 : 1 : 0.5-per-other
    //      target ratios under availability; quotas broadcast, one
    //      stratum-key shuffle for the rank window
    "d_mixture_sample" -> { (s, dir) =>
      ops.Sampling.mixtureSample(t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 3.0, "src1" -> 1.0), default = 0.5)
        .select(col("doc_id"), col("source"), col("rk")).orderBy("doc_id")
    },
    // ---- TOKEN-budgeted mixture: quotas in tokens, not documents ("3:1
    //      by tokens") — per-source token availability feeds the same
    //      feasibility min, and each source admits its hash-ordered prefix
    //      while the inclusive running token total stays ≤ quota (the
    //      boundary document that would overflow is cut, documents being
    //      atomic); bucketed prefix sums keep the running window off the
    //      corpus
    "d_mixture_tokens" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("nTokens", ops.TextAnalysis.wsTokenCount(col("text")))
      ops.Sampling.mixtureSampleTokens(docs, "source", "doc_id", "nTokens",
        Map("src0" -> 3.0, "src1" -> 1.0), default = 0.5)
        .select(col("doc_id"), col("source"), col("nTokens"), col("cumTokens"))
        .orderBy("doc_id")
    },
    // ---- language-balanced mixture: the SAME exact-quota machinery over
    //      a DERIVED stratum (the analyzer's language guess) — the
    //      multilingual rebalance a pipeline actually runs, and the proof
    //      that the samplers compose with analysis columns, not just
    //      physical ones
    "d_mixture_lang" -> { (s, dir) =>
      val analyzed = ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .select(col("doc_id"), col("langGuess"))
      ops.Sampling.mixtureSample(analyzed, "langGuess", "doc_id",
        Map("en" -> 1.0, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0), default = 0.25)
        .select(col("doc_id"), col("langGuess"), col("rk")).orderBy("doc_id")
    },
    // ---- temperature-scaled mixture (weights = avail^τ, the multilingual
    //      sampling standard): same exact-quota machinery, weights derived
    //      from the corpus's own counts
    "d_mixture_temp" -> { (s, dir) =>
      ops.Sampling.mixtureSampleTemperature(t(s, dir, "documents"),
        "source", "doc_id", tau = 0.7)
        .select(col("doc_id"), col("source"), col("rk")).orderBy("doc_id")
    },
    // ---- exact top-quantile quality gate: keep the top 25% of documents
    //      by (quantized) quality score — histogram + tiny cutoff window +
    //      broadcast filter, never a corpus sort; ties at the cutoff kept
    "d_quality_topq" -> { (s, dir) =>
      val scored = ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
      ops.Quantile.selectTopFraction(scored, "quality", frac = 0.25)
        .orderBy("doc_id")
    },
    // ---- curriculum phases: 4 equal-count quality-quantile buckets,
    //      phase 1 = lowest quality (the easy→hard training schedule);
    //      integer boundary arithmetic, tie-stable per score value
    "d_curriculum" -> { (s, dir) =>
      val scored = ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
      ops.Quantile.curriculumPhases(scored, "quality", phases = 4)
        .orderBy("doc_id")
    },
    // ---- deterministic epoch shuffle + shard (epoch 3, 16 shards): the
    //      per-epoch corpus permutation a data loader consumes — pure
    //      integer functions of (id, epoch), one shard-key shuffle,
    //      per-shard windows in parallel
    "d_epoch_shards" -> { (s, dir) =>
      ops.Sampling.epochShards(t(s, dir, "documents"), "doc_id",
        nShards = 16, epoch = 3)
        .select(col("doc_id"), col("shard"), col("pos")).orderBy("doc_id")
    },
    // ---- concatenate-and-chunk sequence packing: global stream offsets
    //      via the same parallel prefix sum as the budget; each doc gets
    //      the 2048-token chunk its first token lands in
    "d_pack_sequences" -> { (s, dir) =>
      ops.Budget.packSequences(t(s, dir, "documents"), "doc_id", "n_chars",
        seqLen = 2048, bucketWidth = 64)
        .select(col("doc_id"), col("n_chars"), col("offset"),
          col("chunk"), col("chunk_pos")).orderBy("doc_id")
    },
    // ---- GLOBAL admission budget via parallel prefix sum (bucket sums +
    //      tiny offsets window + per-bucket running sums) — the scalable
    //      form of the one-task no-PARTITION-BY running-sum window, which
    //      is exactly what the oracle runs
    "d_budget_global" -> { (s, dir) =>
      ops.Budget.globalRunningBudget(t(s, dir, "documents"), "doc_id", "n_chars",
        budget = 60000L, bucketWidth = 64)
        .select(col("doc_id"), col("n_chars"), col("cum")).orderBy("doc_id")
    },
    // ---- repetition-aware per-source upsampling (the LLaMA-recipe
    //      shape): src0 seen 2.5 epochs (fractional half hash-sampled),
    //      src1 once, src2 dropped, everything else 0.25 epochs
    "d_mixture_epochs" -> { (s, dir) =>
      ops.Sampling.epochUpsample(t(s, dir, "documents"), "source", "doc_id",
          Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.0), default = 0.25)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },
    // ---- per-source token-length profile: exact p50/p90/p99 over the
    //      quantized count histogram — no corpus sort, windows run over
    //      histograms partitioned per source
    "d_length_quantiles" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("nTokens",
          coalesce(ops.TextAnalysis.wsTokenCount(col("text")), lit(0)))
      ops.Quantile.groupQuantiles(docs, "source", "nTokens",
          Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .orderBy("source")
    },
    // ---- length-bucketed batching card: padding cost of power-of-two
    //      length buckets vs padding every batch to the corpus max — the
    //      batch-shape analysis behind non-packed fine-tuning loaders
    "d_length_buckets" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("nTokens",
          coalesce(ops.TextAnalysis.wsTokenCount(col("text")), lit(0)))
      ops.Budget.lengthBucketCard(docs, "nTokens").orderBy("bucket")
    },
    // ---- epoch-shuffled SHARDED packing: the per-epoch permutation
    //      (epochShards) composed with per-shard concatenate-and-chunk —
    //      chunk indexes are per-shard, windows run per-shard in
    //      parallel, and the plan has ZERO single-partition stages (the
    //      truly parallel packing shape when global order isn't needed)
    "d_epoch_pack" -> { (s, dir) =>
      ops.Budget.packSequencesSharded(
        ops.Sampling.epochShards(t(s, dir, "documents"), "doc_id",
          nShards = 16, epoch = 3),
        shardCol = "shard", orderCol = "pos", weightCol = "n_chars",
        seqLen = 2048)
        .select(col("doc_id"), col("shard"), col("pos"),
          col("offset"), col("chunk"), col("chunk_pos"))
        .orderBy("doc_id")
    },
    // ---- materialized packed examples: the chunk-side view of packing —
    //      one row per (chunk, doc) span via a partition-local explode
    //      over each doc's chunk range; group by chunk = training example
    "d_pack_examples" -> { (s, dir) =>
      ops.Budget.packExamples(t(s, dir, "documents"), "doc_id", "n_chars",
        seqLen = 2048, bucketWidth = 64)
        .orderBy("doc_id", "chunk")
    },
  ).map { case (name, row) => name -> ((s: SparkSession, dir: String) => ops.FinalSort(row(s, dir))) }

  /** Shared IVF oracle: cosine argmin assignment to `centSelect`'s
    * centroids, `nprobeSql`-cell probe, exact top-k inside probed cells —
    * gates the in-memory and persisted-index variants of BOTH quantizers
    * (deterministic assignment ⇒ identical results): seeded (centroids =
    * the nlist smallest-id corpus vectors, nlist/nprobe recomputed from
    * count(*) via OracleFrag.ivfSizingCtes — one SQL text correct at
    * every SF) and trained (centroids = the committed k-means fixture,
    * embedded as literal VALUES from the same text Spark parses; nlist is
    * the fixture's own size, nprobe the same policy applied to it).
    */
  private def ivfOracleSqlWith(centSelect: String, sizingCtes: String,
      nprobeSql: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
       |${if (sizingCtes.isEmpty) "" else sizingCtes + ",\n"}cent AS ($centSelect),
       |asg AS (SELECT vec_id AS cid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n CROSS JOIN cent) WHERE rn = 1),
       |qc AS (SELECT vec_id AS qid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n CROSS JOIN cent WHERE n.vec_id < 20) WHERE rn <= $nprobeSql),
       |p AS (SELECT DISTINCT qc.qid, asg.cid
       |      FROM qc JOIN asg ON qc.centid = asg.centid WHERE qc.qid != asg.cid),
       |sc AS (SELECT p.qid, p.cid,
       |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
       |       FROM p JOIN n nq ON nq.vec_id = p.qid JOIN n nc ON nc.vec_id = p.cid)
       |SELECT qid, cid, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Sharded-IVF oracle (r18; r20 router): shard = vec_id % 2, per-shard
    * nlist sized from the SHARD population ceil(count/2) (the
    * ivfSizingCtes rule over that count), per-shard seeded centroids =
    * the 2·nlist smallest ids dealt round-robin (one scan predicate —
    * Similarity.shardedSeededCentroids), assignment within OWN shard,
    * the probe keeps the 2·min(nlist, ceil(5·nprobe/2)) GLOBALLY best
    * cells per query over the union of both shards' cells (r20 — the
    * global router plus the measured shard-count probe term
    * nprobeShardedForCells: RecallX100 measured equal-budget sharding
    * 0.07 below the unsharded router at 100× and a ×2.5 per-shard
    * probe restoring parity against the trained bar at nShards=2), one
    * global exact re-rank. Gates both the in-flight and the
    * persisted-layout serve (identical results — the s_ann_ivf_indexed
    * rule).
    */
  private lazy val shardedIvfOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
       |${OracleFrag.ivfSizingCtes("((SELECT count(*) FROM e) + 1) // 2")},
       |cent AS (SELECT vec_id % 2 AS shard, vec_id AS centid, v AS cv, nrm AS cn
       |         FROM n WHERE vec_id < 2 * (SELECT nlist FROM __nl)),
       |asg AS (SELECT vec_id AS cid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n JOIN cent ON n.vec_id % 2 = cent.shard) WHERE rn = 1),
       |qc AS (SELECT vec_id AS qid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n CROSS JOIN cent WHERE n.vec_id < 20)
       |  WHERE rn <= 2 * LEAST((SELECT nlist FROM __nl), (5 * (SELECT nprobe FROM __np) + 1) // 2)),
       |p AS (SELECT DISTINCT qc.qid, asg.cid
       |      FROM qc JOIN asg ON qc.centid = asg.centid WHERE qc.qid != asg.cid),
       |sc AS (SELECT p.qid, p.cid,
       |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
       |       FROM p JOIN n nq ON nq.vec_id = p.qid JOIN n nc ON nc.vec_id = p.cid)
       |SELECT qid, cid, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Sharded-TRAINED IVF oracle (r19): the sharded routing shape of
    * [[shardedIvfOracleSql]] with the quantizer swapped for the committed
    * per-shard k-means fixture embedded as literal VALUES — the same
    * `Double.toString` text [[fixtureShardedCentroids]] parses, so both
    * engines route on bit-identical centroids (the trainedIvfOracleSql
    * convention, shard-keyed). nprobe is the SHARDED probe policy
    * (nprobeShardedForCells — base policy × the measured shard-count
    * term) applied to the fixture's OWN per-shard cell count (a
    * property of the MODEL, like the unsharded fixture's 16 cells),
    * with the r20 GLOBAL router: the 2·nprobe best cells over the
    * union of both shards' fixtures. ONE text gates both the
    * in-flight and persisted-layout serves (identical results —
    * deterministic assignment given the fixture).
    */
  private lazy val shardedTrainedIvfOracleSql: String = {
    val centValues = fixtureShardedCentroidRows.map { case (shard, id, v) =>
      s"($shard, $id, [${v.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    // Derive the per-shard cell count from the fixture's OWN shard keys
    // instead of hardcoding /2 (r19 advisor): the serve side routes with
    // nShards=2 and this SQL joins on `vec_id % 2`, so a regenerated
    // fixture with any other shard set must fail loudly at load, not
    // silently mis-size the probe width.
    val byShard = fixtureShardedCentroidRows.groupBy(_._1).view.mapValues(_.size).toMap
    require(byShard.keySet == Set(0L, 1L),
      s"sharded fixture must cover exactly shards {0,1} (the serve-side " +
        s"nShards=2 and this oracle's `% 2` join), found shards " +
        s"{${byShard.keys.toSeq.sorted.mkString(",")}}")
    require(byShard.values.toSet.size == 1,
      s"sharded fixture dealt uneven per-shard cell counts: " +
        byShard.toSeq.sortBy(_._1).map { case (s, c) => s"shard $s -> $c" }.mkString(", "))
    val perShardCells = byShard(0L)
    // the r20 shard-count probe term, computed by the SAME rule the
    // serve side applies (nShards=2 → per-shard probe 2·base, capped)
    val fxProbe = ops.Similarity.nprobeShardedForCells(perShardCells, 2)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
       |cent AS (SELECT shard, centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn
       |         FROM (VALUES $centValues) AS __cent(shard, centid, cv)),
       |asg AS (SELECT vec_id AS cid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n JOIN cent ON n.vec_id % 2 = cent.shard) WHERE rn = 1),
       |qc AS (SELECT vec_id AS qid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n CROSS JOIN cent WHERE n.vec_id < 20) WHERE rn <= ${2 * fxProbe}),
       |p AS (SELECT DISTINCT qc.qid, asg.cid
       |      FROM qc JOIN asg ON qc.centid = asg.centid WHERE qc.qid != asg.cid),
       |sc AS (SELECT p.qid, p.cid,
       |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
       |       FROM p JOIN n nq ON nq.vec_id = p.qid JOIN n nc ON nc.vec_id = p.cid)
       |SELECT qid, cid, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** The FULLY-trained IVF-PQ oracle: fixture-centroid routing CTEs (the
    * s_ann_ivf_trained mirror) feed the trained-codebook ADC CTEs — ax
    * aggregates ONLY routed (qid, cid) pairs, then the count-adaptive
    * refine + rescore. The fixture pins nCells; the probed population
    * (count·nprobe/nlist) still grows with the corpus, so the refine
    * budget recomputes from it. ONE text gates both the in-flight
    * s_ann_ivfpq_trained and the persisted-index serve (identical
    * results — routing/encode deterministic given the stamped quantizers).
    */
  private lazy val trainedIvfPqOracleSql: String = {
    val centValues = fixtureCentroidRows.map { case (id, v) =>
      s"($id, [${v.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    val fxCells = fixtureCentroidRows.size
    val fxProbe = ops.Similarity.nprobeForCells(fxCells)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
       |${OracleFrag.refineCte(s"((SELECT count(*) FROM e) * $fxProbe) // $fxCells")},
       |cent AS (SELECT centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn
       |         FROM (VALUES $centValues) AS __cent(centid, cv)),
       |asg AS (SELECT vec_id AS cid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n CROSS JOIN cent) WHERE rn = 1),
       |qc AS (SELECT vec_id AS qid, centid FROM (
       |  SELECT n.vec_id, cent.centid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
       |  FROM n CROSS JOIN cent WHERE n.vec_id < 20) WHERE rn <= $fxProbe),
       |rt AS (SELECT qc.qid, asg.cid
       |       FROM qc JOIN asg ON qc.centid = asg.centid WHERE qc.qid != asg.cid),
       |cb AS ($trainedPqCbSelect),
       |$trainedPqEncQtab,
       |ax AS (
       |  SELECT rt.qid, rt.cid, SUM(qtab.pdot) AS adot
       |  FROM rt JOIN enc ON enc.cid = rt.cid
       |          JOIN qtab ON qtab.qid = rt.qid AND qtab.s = enc.s AND qtab.codeid = enc.codeid
       |  GROUP BY rt.qid, rt.cid),
       |cand AS (SELECT qid, cid FROM (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
       |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
       |sc AS (SELECT cand.qid, cand.cid,
       |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
       |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
       |                 JOIN n nc ON nc.vec_id = cand.cid)
       |SELECT qid, cid, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  private lazy val ivfOracleSql: String = ivfOracleSqlWith(
    "SELECT vec_id AS centid, v AS cv, nrm AS cn FROM n " +
      "WHERE vec_id < (SELECT nlist FROM __nl)",
    OracleFrag.ivfSizingCtes("SELECT count(*) FROM e"),
    "(SELECT nprobe FROM __np)")

  /** Trained-quantizer oracle: the fixture centroids as literal VALUES —
    * the same `Double.toString` text [[fixtureCentroids]] parses, so both
    * engines compute on bit-identical centroid doubles; cn mirrors the
    * sequential norm fold.
    */
  private lazy val trainedIvfOracleSql: String = {
    val values = fixtureCentroidRows.map { case (id, v) =>
      s"($id, [${v.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    ivfOracleSqlWith(
      s"SELECT centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn " +
        s"FROM (VALUES $values) AS __cent(centid, cv)",
      sizingCtes = "",
      nprobeSql =
        ops.Similarity.nprobeForCells(fixtureCentroidRows.size).toString)
  }

  /** Trained-PQ codebook as literal VALUES — the same `Double.toString`
    * text [[fixtureCodebook]] parses, so both engines quantize against
    * bit-identical codebook doubles (the [[trainedIvfOracleSql]] pattern).
    */
  private lazy val trainedPqCbSelect: String = {
    val values = fixtureCodebookRows.map { case (s, c, v) =>
      s"($s, $c, [${v.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"SELECT s, codeid, bv FROM (VALUES $values) AS __cb(s, codeid, bv)"
  }

  /** Trained-codebook encode + ADC-table CTE bodies shared by the two
    * trained-PQ oracles: the codebook rows carry their OWN subspace id, so
    * the seeded oracle's `sub × cb` cross join collapses to `cb` alone;
    * cross terms use the mixed-width dot (full vector slice × 8-wide
    * centroid), matching `DotProduct(slice(v), cb_sub)`'s fold exactly.
    */
  private lazy val trainedPqEncQtab: String =
    s"""enc AS (SELECT cid, s, codeid FROM (
       |  SELECT c.vec_id AS cid, cb.s, cb.codeid,
       |    row_number() OVER (PARTITION BY c.vec_id, cb.s ORDER BY
       |      (${OracleFrag.dotN("cb.bv", "cb.bv", 8)}
       |       - 2.0 * ${OracleFrag.subDotFix("c.v", "cb.bv", "cb.s", 8)}) ASC, cb.codeid) AS rn
       |  FROM e c CROSS JOIN cb) WHERE rn = 1),
       |qtab AS (
       |  SELECT q.vec_id AS qid, cb.s, cb.codeid,
       |    CAST(round(${OracleFrag.subDotFix("q.v", "cb.bv", "cb.s", 8)}, 9) AS DECIMAL(38,12)) AS pdot
       |  FROM e q CROSS JOIN cb WHERE q.vec_id < 20)""".stripMargin

  // ================ media fingerprint oracle fragments ================

  /** Hamming distance of two packed 64-bit fingerprints held as 32-bit
    * halves `(h1, h2)` — BIGINT-safe (no 2^63 packing hazards).
    */
  private def mediaHamming(a: String, b: String): String =
    s"CAST(bit_count(xor($a.h1, $b.h1)) + bit_count(xor($a.h2, $b.h2)) AS INT)"

  /** Shared bit-packing tail: `${p}bits(id, k, b)` → `${p}hx(id, h1, h2)`
    * — prefixed so the per-modality fragments compose in ONE query
    * (the dedup-rates card needs all three reachability closures).
    */
  private def mediaPackCtes(p: String): String =
    s"""${p}hx AS (SELECT id,
       |        CAST(SUM(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS h1,
       |        CAST(SUM(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << CAST(k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS h2
       |       FROM ${p}bits GROUP BY id)""".stripMargin

  /** Brute-force pair + reachability-closure CTEs over a packed-halves
    * table `${p}hx`: `${p}p` (pairs ≤ maxHamming), `${p}reach` fixpoint,
    * `${p}losers` (non-min component members).
    */
  private def mediaClosureCtes(p: String, maxHamming: Int): String =
    s"""${p}cp AS (SELECT a.id AS ia, b.id AS ib
       |       FROM ${p}hx a JOIN ${p}hx b ON a.id < b.id
       |       WHERE ${mediaHamming("a", "b")} <= $maxHamming),
       |${p}ced AS (SELECT ia AS a, ib AS b FROM ${p}cp UNION SELECT ib, ia FROM ${p}cp),
       |${p}reach(node, r) AS (
       |  SELECT DISTINCT a, a FROM ${p}ced
       |  UNION
       |  SELECT ${p}ced.a, ${p}reach.r FROM ${p}ced JOIN ${p}reach ON ${p}reach.node = ${p}ced.b),
       |${p}comp AS (SELECT node, MIN(r) AS component FROM ${p}reach GROUP BY node),
       |${p}losers AS (SELECT node FROM ${p}comp WHERE node != component)""".stripMargin

  /** dHash-64 of the near-dup PNG fixture, analytically: per id, sample
    * the 9×8 luminance grid from the closed-form raster — the bandSign
    * two-modular-squares mix of seed `(1000003g + 7919sx² + 104729sy² +
    * 54321) mod P31`, low 24 bits as RGB, plus the variant's
    * left-strip/even-row red shift — derive the 64 adjacent-comparison
    * bits, pack into halves. Ends in `ids(id, g, v)` + `hx(id, h1, h2)`.
    * The s0/x2 fragments are machine-inlined (DuckDB lambdas and CTE
    * columns have no let-binding at this granularity).
    */
  private lazy val mediaDhashCtes: String = {
    val s0 = "((1000003*g + 7919*sx*sx + 104729*sy*sy + 54321) % 2147483647)"
    val x2 = s"((($s0*$s0 % 2147483647) + $s0) * 48271 % 2147483647)"
    val x3 = s"($x2*$x2 % 2147483647)"
    s"""ids AS (SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |             FROM documents),
       |dim AS (SELECT id, g, v, 8 + (7*g + 3) % 24 AS w, 8 + (13*g + 5) % 24 AS h
       |        FROM ids),
       |grid AS (SELECT id, g, v, (gx * w) // 9 AS sx, (gy * h) // 8 AS sy, gx, gy
       |         FROM dim
       |         CROSS JOIN (SELECT unnest(range(0, 9)) AS gx) __x
       |         CROSS JOIN (SELECT unnest(range(0, 8)) AS gy) __y),
       |pix AS (SELECT id, v, gx, gy, sx, sy, $x3 % 16777216 AS rgb
       |        FROM grid),
       |lum AS (SELECT id, gx, gy,
       |          (CASE WHEN sx < 2 AND sy % 2 = 0
       |                THEN (rgb // 65536 + 8*v) % 256
       |                ELSE rgb // 65536 END)
       |          + (rgb // 256) % 256
       |          + rgb % 256 AS lum
       |        FROM pix),
       |ibits AS (SELECT a.id, a.gy * 8 + a.gx AS k,
       |           CASE WHEN a.lum < b.lum THEN 1 ELSE 0 END AS b
       |         FROM lum a JOIN lum b ON a.id = b.id AND a.gy = b.gy
       |                               AND b.gx = a.gx + 1
       |         WHERE a.gx < 8),
       |${mediaPackCtes("i")}""".stripMargin
  }

  /** Audio energy fingerprint of the near-dup WAV fixture, analytically:
    * 65 windows of w = 10 + g mod 8 samples, exact integer
    * absolute-amplitude sums of the perturbed closed-form waveform —
    * the bandSign two-modular-squares mix of seed
    * `(1000003g + 7919t² + 54321) mod P31` (every intermediate < 2⁶²,
    * plain BIGINT), then `(x3 + bump) mod 65536 − 32768` with
    * bump = 512v on t mod 97 < 5 — 64 adjacent comparisons, packed
    * halves. The s0/x2 fragments are machine-inlined below (DuckDB
    * lambdas have no let-binding).
    */
  private lazy val mediaAudioFpCtes: String = {
    val s0 = "((1000003*g + 7919*__t*__t + 54321) % 2147483647)"
    val x2 = s"((($s0*$s0 % 2147483647) + $s0) * 48271 % 2147483647)"
    val x3 = s"($x2*$x2 % 2147483647)"
    s"""aids AS (SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS v
       |         FROM documents),
       |aw AS (SELECT id, g, v, 10 + g % 8 AS w FROM aids),
       |ae AS (SELECT id, k,
       |         CAST(list_sum(list_transform(range(k * w, (k + 1) * w), __t ->
       |           abs(($x3
       |                + CASE WHEN __t % 97 < 5 THEN 512*v ELSE 0 END) % 65536
       |               - 32768))) AS BIGINT) AS e
       |       FROM aw CROSS JOIN (SELECT unnest(range(0, 65)) AS k) __k),
       |abits AS (SELECT a.id, a.k, CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS b
       |         FROM ae a JOIN ae b ON a.id = b.id AND b.k = a.k + 1
       |         WHERE a.k < 64),
       |${mediaPackCtes("a")}""".stripMargin
  }

  /** Video chunk-energy fingerprint of the stub tier, analytically: the
    * payload IS the UTF-8 text (ASCII corpus ⇒ byte t = ascii of char
    * t+1 — the m_media_frames precedent), 65 windows of w = len/65
    * bytes, exact integer ascii sums, packed halves. Docs under 65
    * bytes have no frame grid and are skipped.
    */
  private lazy val mediaVideoFpCtes: String =
    s"""vids AS (SELECT doc_id AS id, text FROM documents
       |              WHERE length(text) >= 65),
       |vw AS (SELECT id, text, length(text) // 65 AS w FROM vids),
       |ve AS (SELECT id, k,
       |         CAST(list_sum(list_transform(range(k * w, (k + 1) * w), __t ->
       |           ascii(substring(text, CAST(__t + 1 AS INT), 1)))) AS BIGINT) AS e
       |       FROM vw CROSS JOIN (SELECT unnest(range(0, 65)) AS k) __k),
       |vbits AS (SELECT a.id, a.k, CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS b
       |         FROM ve a JOIN ve b ON a.id = b.id AND b.k = a.k + 1
       |         WHERE a.k < 64),
       |${mediaPackCtes("v")}""".stripMargin

  /** Residual codebook as literal VALUES — the residual oracles' `rcb`. */
  private lazy val trainedPqResidualCbSelect: String = {
    val values = fixtureResidualCodebookRows.map { case (s, c, v) =>
      s"($s, $c, [${v.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"SELECT s, codeid, bv FROM (VALUES $values) AS __rcb(s, codeid, bv)"
  }

  // ================= unigram TRAINER oracle fragments =================
  // The d_unigram_train oracle replays the ENTIRE hard-EM training run in
  // DuckDB: seeding → 3 EM rounds (Viterbi counts → m-step) → prune →
  // final count pass → final m-step. Cross-engine exactness rests on two
  // legs: (1) log-probs snap to the 2⁻⁴⁰ dyadic grid via floor(x·S + 0.5)
  // — the identical IEEE op sequence in both engines (Unigram.quantized),
  // with Java Math.log ≡ glibc/DuckDB ln verified bit-for-bit on the
  // committed fixture values — and (2) all Viterbi sums are exact on the
  // grid, so the per-word argmax (score DESC, backward-lens DESC) is
  // engine-independent. The per-word DP is a list_reduce fold (O(len·4)),
  // NOT path enumeration — the seed model's 256 multis would make
  // exhaustive enumeration explode. CTEs are MATERIALIZED: DuckDB inlines
  // CTEs by default, and the four chained passes would re-evaluate the
  // whole upstream chain exponentially. The accumulator is a PLAIN list
  // of structs (j = len(acc)) — DuckDB 1.0's list_reduce silently drops
  // list-valued STRUCT FIELDS in accumulators.
  private val unigramTrainScale = "CAST(1099511627776 AS DOUBLE)" // 2^40

  /** One Viterbi pass under model CTE `$m(piece, lp)` + unk CTE
    * `$u(ulp)`: per-word best segmentation via the suffix DP (candidates
    * look back ≤ maxPieceLen=4), then per-piece counts weighted by word
    * frequency. Tie-break = backward-lens list DESC, matching the
    * kernel's longest-final-piece rule.
    */
  private def unigramTrainPass(i: Int, m: String, u: String): String =
    s"""lq$i AS MATERIALIZED (SELECT w, p, l,
       |    CASE WHEN l = 1 THEN COALESCE(pc.lp, u.ulp) ELSE pc.lp END AS lp
       |  FROM (SELECT w, CAST(p AS INT) AS p, CAST(l AS INT) AS l,
       |          substring(w, CAST(p AS INT), CAST(l AS INT)) AS piece
       |        FROM (SELECT w, unnest(range(1, length(w) + 1)) AS p FROM wd) __wp
       |        CROSS JOIN (SELECT unnest(range(1, 5)) AS l) __l
       |        WHERE p + l - 1 <= length(w)) q
       |  CROSS JOIN $u u
       |  LEFT JOIN $m pc ON pc.piece = q.piece),
       |lt$i AS MATERIALIZED (SELECT w, list(ll ORDER BY p) AS lps
       |  FROM (SELECT w, p, list(lp ORDER BY l) AS ll FROM lq$i GROUP BY w, p) __g
       |  GROUP BY w),
       |dp$i AS MATERIALIZED (SELECT w,
       |  list_extract(list_reduce(
       |    list_prepend([{'s': 0.0, 'l': CAST([] AS BIGINT[])}],
       |      list_transform(range(1, length(w) + 1),
       |        __j -> CAST(NULL AS STRUCT(s DOUBLE, l BIGINT[])[]))),
       |    (__a, __b) -> list_append(__a,
       |      list_reduce(
       |        list_filter(
       |          list_transform(range(1, least(4, len(__a)) + 1),
       |            __l -> {'s': __a[CAST(len(__a) - __l + 1 AS INT)].s
       |                       + lps[CAST(length(w) - len(__a) + 1 AS INT)][CAST(__l AS INT)],
       |                    'l': list_append(__a[CAST(len(__a) - __l + 1 AS INT)].l, __l)}),
       |          __c -> __c.s IS NOT NULL),
       |        (__x, __y) -> CASE WHEN __y.s > __x.s OR (__y.s = __x.s AND __y.l > __x.l)
       |                      THEN __y ELSE __x END))),
       |  CAST(length(w) + 1 AS INT)) AS bestdp
       |  FROM lt$i),
       |best$i AS MATERIALIZED (SELECT w, bestdp.l AS lens FROM dp$i),
       |pp$i AS MATERIALIZED (SELECT w, substring(w, pre + 1, l) AS piece FROM (
       |  SELECT w, CAST(COALESCE(list_sum(list_slice(ordlens, 1, CAST(kk - 1 AS INT))), 0) AS INT) AS pre,
       |         CAST(ordlens[CAST(kk AS INT)] AS INT) AS l
       |  FROM (SELECT w, ordlens, unnest(range(1, len(ordlens) + 1)) AS kk
       |        FROM (SELECT w, list_reverse(lens) AS ordlens FROM best$i) __s$i) __k$i)),
       |cnt$i AS MATERIALIZED (SELECT pp$i.piece, CAST(SUM(wdc.cnt) AS BIGINT) AS c
       |          FROM pp$i JOIN wdc ON wdc.w = pp$i.w GROUP BY 1)""".stripMargin

  /** m-step CTEs from `tab$k(piece, c)`: denom, grid-snapped model, unk. */
  private def unigramTrainMstep(k: String): String = {
    val us = unigramTrainScale
    s"""d$k AS MATERIALIZED (SELECT CAST(SUM(c) + COUNT(*) FILTER (WHERE length(piece) = 1) AS DOUBLE) AS dn FROM tab$k),
       |m$k AS MATERIALIZED (SELECT piece,
       |          floor(ln(CAST(c + CASE WHEN length(piece) = 1 THEN 1 ELSE 0 END AS DOUBLE) / dn)
       |                * $us + 0.5) / $us AS lp
       |        FROM tab$k CROSS JOIN d$k),
       |u$k AS MATERIALIZED (SELECT floor(ln(0.5 / dn) * $us + 0.5) / $us AS ulp FROM d$k)""".stripMargin
  }

  /** EM-round table update: counts replace, zero-count multis drop. */
  private def unigramTrainDrop(k: Int, prev: Int): String =
    s"""tab$k AS MATERIALIZED (SELECT t.piece, COALESCE(cnt$k.c, 0) AS c
       |         FROM tab$prev t LEFT JOIN cnt$k ON cnt$k.piece = t.piece
       |         WHERE NOT (COALESCE(cnt$k.c, 0) = 0 AND length(t.piece) > 1))""".stripMargin

  private lazy val unigramTrainOracleSql: String =
    s"""WITH
       |docw AS MATERIALIZED (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
       |wo AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w FROM docw),
       |wdc AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM wo GROUP BY w),
       |wd AS MATERIALIZED (SELECT w FROM wdc),
       |sub AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM (
       |   SELECT cnt, unnest(flatten(list_transform(range(1, length(w) + 1),
       |     __s -> list_transform(range(1, least(4, length(w) - __s + 1) + 1),
       |       __l -> substring(w, CAST(__s AS INT), CAST(__l AS INT)))))) AS piece
       |   FROM wdc) GROUP BY piece),
       |tab0 AS MATERIALIZED (SELECT piece, c FROM sub WHERE length(piece) = 1
       |         UNION ALL
       |         SELECT piece, c FROM (
       |           SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rn
       |           FROM sub WHERE length(piece) > 1) WHERE rn <= 256),
       |${unigramTrainMstep("0")},
       |${unigramTrainPass(1, "m0", "u0")},
       |${unigramTrainDrop(1, 0)},
       |${unigramTrainMstep("1")},
       |${unigramTrainPass(2, "m1", "u1")},
       |${unigramTrainDrop(2, 1)},
       |${unigramTrainMstep("2")},
       |${unigramTrainPass(3, "m2", "u2")},
       |${unigramTrainDrop(3, 2)},
       |nch AS MATERIALIZED (SELECT COUNT(*) AS n FROM tab3 WHERE length(piece) = 1),
       |tabA AS MATERIALIZED (SELECT piece, c FROM tab3 WHERE length(piece) = 1
       |         UNION ALL
       |         SELECT piece, c FROM (
       |           SELECT t.piece, t.c, row_number() OVER (ORDER BY t.c DESC, t.piece) AS rn
       |           FROM tab3 t WHERE length(t.piece) > 1) __m CROSS JOIN nch
       |         WHERE rn <= greatest(300 - nch.n, 0)),
       |${unigramTrainMstep("A")},
       |${unigramTrainPass(4, "mA", "uA")},
       |tabF AS MATERIALIZED (SELECT t.piece, COALESCE(cnt4.c, 0) AS c
       |         FROM tabA t LEFT JOIN cnt4 ON cnt4.piece = t.piece),
       |${unigramTrainMstep("F")}
       |SELECT t.piece, CAST(t.c AS BIGINT) AS cnt, m.lp AS log_prob
       |FROM tabF t JOIN mF m ON m.piece = t.piece ORDER BY t.piece""".stripMargin

  /** Shared unigram-Viterbi CTE body (caller prepends `WITH RECURSIVE`):
    * enumerate every segmentation of each distinct word backwards over
    * the fixture piece table (unk only for uncovered single chars), score
    * with the grid-exact literal log probs, and end in `best(w, ntok,
    * score)` — the DP's path: max score, ties to the lexicographically-
    * largest piece-length list (= longest final piece, recursively:
    * UnigramOps' documented tie-break). `wo(doc_id, w)` stays visible for
    * the per-doc aggregation the callers add.
    */
  private lazy val unigramBestCtes: String = {
    val pieceValues = fixtureUnigram.pieces
      .map(p => s"('${p.piece}', ${p.logProb})").mkString(", ")
    s"""docw AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
       |wo AS (SELECT doc_id, unnest(ws) AS w FROM docw),
       |wd AS (SELECT DISTINCT w FROM wo),
       |pc AS (SELECT piece, lp FROM (VALUES $pieceValues) AS __p(piece, lp)),
       |ln AS (SELECT unnest(range(1, ${fixtureUnigram.maxPieceLen + 1})) AS l),
       |paths(w, pos, score, ntok, lens) AS (
       |  SELECT w, CAST(length(w) AS BIGINT), CAST(0.0 AS DOUBLE), 0, CAST([] AS BIGINT[]) FROM wd
       |  UNION ALL
       |  SELECT p.w, p.pos - ln.l,
       |         p.score + COALESCE(pc.lp, ${fixtureUnigram.unkLogProb}),
       |         p.ntok + 1,
       |         list_append(p.lens, ln.l)
       |  FROM paths p
       |  JOIN ln ON ln.l <= p.pos
       |  LEFT JOIN pc ON pc.piece = substring(p.w, CAST(p.pos - ln.l + 1 AS INT), CAST(ln.l AS INT))
       |  WHERE p.pos > 0 AND (pc.piece IS NOT NULL OR ln.l = 1)),
       |best AS (SELECT w, ntok, score, lens FROM (
       |  SELECT w, ntok, score, lens, row_number() OVER (PARTITION BY w ORDER BY score DESC, lens DESC) AS rn
       |  FROM paths WHERE pos = 0) WHERE rn = 1)""".stripMargin
  }

  /** Shared clusters CTE prefix: the minhash pair CTEs closed by a
    * RECURSIVE reachability fixpoint, ending in `reach(node, r)`.
    */
  /** Winnow fingerprint pair CTEs (through `p`) — shared by the pair row
    * and the removal closure. */
  private lazy val winnowPairCtes: String =
    s"""gr AS (SELECT doc_id,
       |    list_transform(range(1, length(text) - 30 + 2),
       |      i -> ${OracleFrag.poly57("substr(text, CAST(i AS INT), 30)")}) AS g
       |  FROM documents WHERE length(text) >= 30),
       |sel AS (SELECT doc_id,
       |          unnest(${OracleFrag.winnowSelected("g", 10)}) AS h FROM gr),
       |rare AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50),
       |hh AS (SELECT sel.doc_id, sel.h FROM sel JOIN rare USING (h)),
       |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ns
       |      FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)""".stripMargin

  // CDC near-dup pair CTEs shared by d_cdc_pairs / d_cdc_removal: distinct
  // per-doc chunk identities (h, len), df-prune [2, 50], pair counts
  private lazy val cdcPairCtes: String =
    s"""${OracleFrag.cdcCtes(16, 6)},
       |dc AS (SELECT DISTINCT doc_id, h, len FROM c_cdc),
       |dfh AS (SELECT h, len FROM dc GROUP BY h, len
       |        HAVING COUNT(*) BETWEEN 2 AND 50),
       |dp AS (SELECT dc.doc_id, dc.h, dc.len FROM dc JOIN dfh USING (h, len)),
       |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ns
       |      FROM dp a JOIN dp b
       |        ON a.h = b.h AND a.len = b.len AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)""".stripMargin

  private lazy val clustersCtes: String =
    s"""WITH RECURSIVE w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
       |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS shs FROM w),
       |s AS (SELECT doc_id, ${OracleFrag.minhashSig("shs", 32)} AS sig FROM h WHERE len(shs) > 0),
       |bd AS (SELECT s.doc_id, s.sig, bb.b AS band,
       |         array_slice(s.sig, bb.b*4 + 1, bb.b*4 + 4) AS bkey
       |       FROM s CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb),
       |p AS (SELECT DISTINCT a.doc_id AS ia, c.doc_id AS ib
       |      FROM bd a JOIN bd c ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
       |pr AS (SELECT ia, ib FROM (
       |        SELECT p.ia, p.ib,
       |          CAST(list_sum(list_transform(range(1, 33),
       |            __i -> CASE WHEN sa.sig[__i] = sb.sig[__i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS ej
       |        FROM p JOIN s sa ON sa.doc_id = p.ia JOIN s sb ON sb.doc_id = p.ib)
       |       WHERE ej >= 0.3),
       |e AS (SELECT ia AS a, ib AS b FROM pr UNION SELECT ib, ia FROM pr),
       |reach(node, r) AS (
       |  SELECT DISTINCT a, a FROM e
       |  UNION
       |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b)""".stripMargin

  /** Shared span-redaction oracle — gates both the broadcast-join
    * batch form (`d_decontaminate_redact`) and the frozen-set serve
    * form (`d_decontaminate_redact_served`): identical semantics by
    * construction (shared rebuild fold), two plan shapes proven
    * against one independent SQL formulation.
    */
  private lazy val redactSpansOracleSql: String =
      s"""WITH a AS (SELECT doc_id, text, ${OracleFrag.ws("text")} AS ws
         |           FROM documents WHERE doc_id >= 25),
         |bw AS (SELECT ${OracleFrag.ws("text")} AS ws FROM documents WHERE doc_id < 25),
         |bs AS (SELECT DISTINCT unnest(${OracleFrag.shingleHashes("ws")}) AS sh FROM bw),
         |g AS (SELECT doc_id, unnest(list_transform(${OracleFrag.shingleHashesAt("ws")},
         |        (__g, __gi) -> struct_pack(p := __gi, gh := __g))) AS s FROM a),
         |m AS (SELECT DISTINCT g.doc_id, g.s.p AS p FROM g JOIN bs ON g.s.gh = bs.sh),
         |wp AS (SELECT doc_id, unnest(list_transform(ws,
         |        (__w, __wi) -> struct_pack(wp := __wi, wd := __w))) AS s FROM a),
         |wd AS (SELECT wp.doc_id, wp.s.wp AS wp, wp.s.wd AS wd,
         |         EXISTS (SELECT 1 FROM m WHERE m.doc_id = wp.doc_id
         |                 AND m.p <= wp.s.wp AND wp.s.wp <= m.p + 2) AS dirty
         |       FROM wp),
         |cl AS (SELECT doc_id, wp, wd,
         |         wp - row_number() OVER (PARTITION BY doc_id ORDER BY wp) AS isl
         |       FROM wd WHERE NOT dirty),
         |runs AS (SELECT doc_id, isl, MIN(wp) AS st, CAST(COUNT(*) AS INT) AS len,
         |           string_agg(wd, ' ' ORDER BY wp) AS frag
         |         FROM cl GROUP BY doc_id, isl),
         |best AS (SELECT doc_id, len, frag FROM (
         |  SELECT doc_id, len, frag,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY len DESC, st ASC) AS rn
         |  FROM runs) WHERE rn = 1),
         |dm AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS nd FROM wd WHERE dirty GROUP BY doc_id)
         |SELECT a.doc_id,
         |  CAST(CASE WHEN a.text IS NULL THEN NULL ELSE len(a.ws) END AS INT) AS n_words,
         |  CAST(CASE WHEN a.text IS NULL THEN NULL ELSE COALESCE(dm.nd, 0) END AS INT) AS n_dirty_words,
         |  CAST(CASE WHEN a.text IS NULL THEN NULL
         |       WHEN dm.nd IS NULL THEN len(a.ws)
         |       WHEN COALESCE(best.len, 0) >= 10 THEN best.len
         |       ELSE 0 END AS INT) AS kept_words,
         |  CASE WHEN a.text IS NULL THEN NULL
         |       WHEN dm.nd IS NULL THEN a.text
         |       WHEN COALESCE(best.len, 0) >= 10 THEN best.frag
         |  END AS kept_text
         |FROM a LEFT JOIN dm USING (doc_id) LEFT JOIN best USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin

  /** Shared passage-redaction oracle: the full-corpus formulation,
    * with an optional final-select predicate — the incremental row's
    * oracle IS the full rerun restricted to the batch ids (the
    * equivalence the monotone-id ingest layout guarantees).
    */
  private def passagesRedactOracleSql(finalWhere: String): String =
      s"""WITH occ AS (SELECT doc_id, i*20 AS s,
         |    ${OracleFrag.poly57("substr(text, i*20 + 1, 60)")} AS h
         |  FROM documents, LATERAL (SELECT unnest(range(0,
         |    GREATEST((length(text) - 60) // 20 + 1, 0))) AS i)
         |  WHERE length(text) >= 60),
         |od AS (SELECT doc_id, s,
         |    COUNT(*) OVER (PARTITION BY h) AS cnt,
         |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
         |  FROM occ),
         |dirty AS (SELECT doc_id, s, s + 60 AS e FROM od WHERE cnt >= 2 AND rn > 1),
         |o AS (SELECT doc_id, s, e, MAX(e) OVER (PARTITION BY doc_id ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM dirty),
         |g AS (SELECT doc_id, s, e, SUM(CASE WHEN pmax IS NULL OR s > pmax
         |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM o),
         |iv AS (SELECT doc_id, grp, MIN(s) AS s, MAX(e) AS e FROM g GROUP BY doc_id, grp),
         |dm AS (SELECT doc_id, SUM(e - s) AS nd FROM iv GROUP BY doc_id),
         |runs AS (
         |  SELECT doc_id, COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS rs,
         |    s AS re FROM iv
         |  UNION ALL
         |  SELECT iv.doc_id, MAX(iv.e), MAX(length(d.text))
         |  FROM iv JOIN documents d ON iv.doc_id = d.doc_id GROUP BY iv.doc_id),
         |k AS (SELECT r.doc_id,
         |    SUM(CASE WHEN r.re - r.rs >= 20 THEN r.re - r.rs ELSE 0 END) AS kc,
         |    string_agg(CASE WHEN r.re - r.rs >= 20
         |      THEN substr(d.text, r.rs + 1, r.re - r.rs) END, '' ORDER BY r.rs) AS kt
         |  FROM runs r JOIN documents d ON r.doc_id = d.doc_id
         |  WHERE r.re > r.rs GROUP BY r.doc_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN d.text IS NULL THEN NULL ELSE length(d.text) END AS INT) AS n_chars,
         |  CAST(CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(dm.nd, 0) END AS INT) AS n_dup_chars,
         |  CAST(CASE WHEN d.text IS NULL THEN NULL
         |       WHEN dm.nd IS NULL THEN length(d.text)
         |       ELSE COALESCE(k.kc, 0) END AS INT) AS kept_chars,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       WHEN dm.nd IS NULL THEN d.text
         |       WHEN COALESCE(k.kc, 0) > 0 THEN k.kt
         |  END AS kept_text
         |FROM documents d LEFT JOIN dm ON d.doc_id = dm.doc_id
         |LEFT JOIN k ON d.doc_id = k.doc_id
         |$finalWhere
         |ORDER BY d.doc_id""".stripMargin

  /** Shared clusters oracle — gates both `d_dedup_clusters` (label
    * propagation) and `d_dedup_clusters_star` (large-star/small-star),
    * which must agree with true transitive reachability AND each other.
    */
  private lazy val clustersOracleSql: String =
    s"""$clustersCtes
       |SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS component
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** Removal oracle: the same closure, then keep only docs that are their
    * own component representative (or in no component at all).
    */
  private lazy val removalOracleSql: String =
    s"""$clustersCtes,
       |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
       |SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node != component)
       |ORDER BY d.doc_id""".stripMargin

  /** Shared SQ8 oracle — gates both the in-flight `s_ann_sq8` and the
    * persisted `s_ann_sq8_indexed` (byte-identical ranges + codes):
    * per-dim min/max → step=(hi−lo)/256, floor-encode clamped to 255,
    * bucket-midpoint decode, 9-decimal DECIMAL ranking (the PQ adot
    * convention), count-adaptive refine (the refineForCandidates mirror), exact rescore.
    */
  /** Projected ANN oracle — shared by the in-flight and persisted-index
    * serve paths (bit-identical projections make the answer sets equal).
    */
  private lazy val projectedOracleSql: String = {
    val projList = (100 until 116).map(p =>
      s"round(${OracleFrag.projDot("v", p)}, 6)")
      .mkString("[", ",\n         |  ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
       |p AS (SELECT vec_id, $projList AS pv FROM e),
       |pn AS (SELECT vec_id, pv, sqrt(${OracleFrag.dotN("pv", "pv", 16)}) AS pnrm FROM p),
       |${OracleFrag.refineCte("SELECT count(*) FROM e")},
       |ax AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         CASE WHEN q.pnrm * c.pnrm != 0 THEN
       |           CAST(round(${OracleFrag.dotN("q.pv", "c.pv", 16)} / (q.pnrm * c.pnrm), 9) AS DECIMAL(38,12))
       |         ELSE CAST(-2 AS DECIMAL(38,12)) END AS adot
       |       FROM pn q CROSS JOIN pn c
       |       WHERE q.vec_id < 20 AND q.vec_id != c.vec_id),
       |cand AS (SELECT qid, cid FROM (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
       |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
       |sc AS (SELECT cand.qid, cand.cid,
       |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
       |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
       |                 JOIN n nc ON nc.vec_id = cand.cid)
       |SELECT qid, cid, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  private lazy val sq8OracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
       |${OracleFrag.refineCte("SELECT count(*) FROM e")},
       |mm AS (SELECT k, MIN(v[CAST(k AS INT)]) AS lo,
       |         (MAX(v[CAST(k AS INT)]) - MIN(v[CAST(k AS INT)])) / 256.0 AS st
       |       FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS k) __k
       |       GROUP BY k),
       |rg AS (SELECT list(lo ORDER BY k) AS los, list(st ORDER BY k) AS sts FROM mm),
       |cd AS (SELECT vec_id AS cid,
       |         list_transform(range(1, 65), __i ->
       |           CASE WHEN sts[__i] = 0 THEN 0
       |                ELSE LEAST(255, CAST(FLOOR((v[__i] - los[__i]) / sts[__i]) AS INT))
       |           END) AS codes
       |       FROM e, rg),
       |rc AS (SELECT cid,
       |         list_transform(range(1, 65), __i ->
       |           los[__i] + (CAST(codes[__i] AS DOUBLE) + 0.5) * sts[__i]) AS rv
       |       FROM cd, rg),
       |ax AS (SELECT q.vec_id AS qid, rc.cid,
       |         CAST(round(${OracleFrag.dot64("q.v", "rc.rv")}, 9) AS DECIMAL(38,12)) AS adot
       |       FROM e q CROSS JOIN rc WHERE q.vec_id < 20 AND q.vec_id != rc.cid),
       |cand AS (SELECT qid, cid FROM (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
       |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
       |sc AS (SELECT cand.qid, cand.cid,
       |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
       |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
       |                 JOIN n nc ON nc.vec_id = cand.cid)
       |SELECT qid, cid, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
       |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY revenue DESC, c.c_custkey LIMIT 10""".stripMargin,
    "q4_exists" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    "q5_filter_project" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q6_having" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 5 ORDER BY o_custkey""".stripMargin,
    "q7_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q8_star_join" ->
      """SELECT r.r_name, n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""".stripMargin,
    "q9_array_ops" ->
      """SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INT) AS n_words
        |FROM documents
        |WHERE list_contains(string_split(text, ' '), 'spark')
        |  AND (list_contains(string_split(text, ' '), 'join')
        |       OR list_contains(string_split(text, ' '), 'merge'))
        |ORDER BY doc_id""".stripMargin,

    "e_proj_sort_page" ->
      """SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 50 OFFSET 100""".stripMargin,
    "e_filter_compare" ->
      """SELECT o_orderkey AS orderkey, o_orderstatus AS orderstatus, o_totalprice AS totalprice
        |FROM orders WHERE o_orderstatus != 'O' AND o_totalprice > 350000.0
        |  AND o_totalprice <= 450000.0 ORDER BY o_orderkey""".stripMargin,
    "e_filter_in_notin" ->
      """SELECT o_orderkey AS orderkey, o_orderpriority AS orderpriority
        |FROM orders WHERE o_orderpriority IN ('1-URGENT','5-LOW')
        |  AND o_orderstatus NOT IN ('P') ORDER BY o_orderkey""".stripMargin,
    "e_filter_between_ts" ->
      """SELECT o_orderkey AS orderkey, o_orderdate AS orderdate
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
        |ORDER BY o_orderkey""".stripMargin,
    "e_filter_patterns" ->
      """SELECT p_partkey AS partkey, p_name AS name, p_brand AS brand
        |FROM part
        |WHERE p_name LIKE '%bolt%'
        |  AND LOWER(p_name) LIKE LOWER('S') || '%'
        |  AND p_brand LIKE '%' || '1' || '%'
        |  AND LOWER(p_name) LIKE '%' || LOWER('BOLT')
        |  AND p_name NOT LIKE '%zzz%'
        |ORDER BY p_partkey""".stripMargin,
    "e_filter_patterns2" ->
      """SELECT p_partkey AS partkey, p_name AS name
        |FROM part
        |WHERE p_name NOT LIKE '%steel%'
        |  AND LOWER(p_name) LIKE LOWER('%BOLT%')
        |  AND NOT (LOWER(p_name) LIKE LOWER('%ZINC%'))
        |  AND LOWER(p_name) LIKE '%' || LOWER('O') || '%'
        |  AND NOT (LOWER(p_name) LIKE '%' || LOWER('XYL') || '%')
        |  AND p_name LIKE 's' || '%'
        |  AND p_name LIKE '%' || 't'
        |ORDER BY p_partkey""".stripMargin,
    "e_filter_notbetween" ->
      """SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
        |FROM orders WHERE o_totalprice NOT BETWEEN 1000.0 AND 400000.0
        |ORDER BY o_orderkey""".stripMargin,
    "e_filter_groups" ->
      """SELECT o_orderkey AS orderkey, o_orderstatus AS orderstatus, o_totalprice AS totalprice
        |FROM orders
        |WHERE NOT (o_totalprice < 5000.0
        |  OR NOT (o_orderstatus = 'F' AND o_totalprice > 470000.0))
        |ORDER BY o_orderkey""".stripMargin,
    "e_filter_colcmp" ->
      """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
        |  l_discount AS discount, l_tax AS tax
        |FROM lineitem WHERE l_discount > l_tax
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "e_filter_levenshtein" ->
      """SELECT p_partkey AS partkey, p_name AS name FROM part
        |WHERE levenshtein(p_name, 'cold widget') <= 2 ORDER BY p_partkey""".stripMargin,
    "e_join_left" ->
      """SELECT c.c_custkey AS custkey, c.c_mktsegment AS mktsegment, n.n_name AS name
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY c.c_custkey""".stripMargin,
    "e_join_inner_filtered" ->
      """SELECT o.o_orderkey AS orderkey, o.o_totalprice AS totalprice, c.c_name AS name
        |FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus = 'O' AND c.c_mktsegment = 'BUILDING'
        |ORDER BY o.o_orderkey""".stripMargin,
    "e_join_transitive" ->
      """SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
        |  l.l_extendedprice AS extendedprice, c.c_mktsegment AS mktsegment
        |FROM lineitem l
        |INNER JOIN orders o ON l.l_orderkey = o.o_orderkey
        |INNER JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE l.l_quantity > 49.0
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,
    "e_agg_groupby" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS "sumQty",
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS "sumPrice",
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS "avgQty",
        |  MIN(l_quantity) AS "minQty", MAX(l_quantity) AS "maxQty",
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e_agg_having" ->
      """SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS "nOrders",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS "totalSpent"
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) >= 8
        |  AND CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) > 100000.0
        |ORDER BY o_custkey""".stripMargin,
    "e_agg_joined" ->
      """SELECT c.c_custkey AS custkey, c.c_name AS name,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS spent,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer c INNER JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "e_distinct" ->
      "SELECT DISTINCT c_mktsegment AS mktsegment FROM customer ORDER BY 1",
    "e_exists" ->
      """SELECT o_orderkey AS orderkey, o_orderstatus AS orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45.0)
        |ORDER BY o_orderkey""".stripMargin,
    "e_not_exists" ->
      """SELECT c_custkey AS custkey, c_name AS name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "e_exists_count_ge" ->
      """SELECT c_custkey AS custkey FROM customer c
        |WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) >= 12
        |ORDER BY c_custkey""".stripMargin,
    "e_exists_count_lt" ->
      """SELECT c_custkey AS custkey FROM customer c
        |WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) < 8
        |ORDER BY c_custkey""".stripMargin,
    "e_exists_nested" ->
      """SELECT c_custkey AS custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49.0))
        |ORDER BY c_custkey""".stripMargin,
    "e_exists_in_or" ->
      """SELECT c_custkey AS custkey, c_acctbal AS acctbal FROM customer c
        |WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) >= 15
        |   OR c_acctbal < -900.0
        |ORDER BY c_custkey""".stripMargin,
    "e_multirole_union" ->
      """SELECT o.o_orderkey AS orderkey, o.o_totalprice AS totalprice, c.c_name AS name
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_orderkey LIMIT 200""".stripMargin,
    // number mask → 0; name mask → first + '*'×(len−2) + last
    "e_masked_join" -> MaskedJoinOracle,
    // cross-scope intersection (admin user ∩ analyst service) yields the
    // analyst view — identical masked output
    "e_scope_intersect" -> MaskedJoinOracle,
    "e_byids" ->
      """SELECT o_orderkey AS orderkey, o_totalprice AS totalprice FROM orders
        |WHERE o_orderkey IN (1,2,3,5,8,13,21,34,55,89) AND o_totalprice > 0.0
        |ORDER BY o_orderkey""".stripMargin,

    "e_filter_array" ->
      """SELECT vec_id AS "vecId", label FROM embeddings
        |WHERE len(embedding) > 0 AND label >= 5
        |ORDER BY vec_id LIMIT 100""".stripMargin,
    "e_filter_isnull" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT id, name FROM items WHERE tag IS NULL ORDER BY id""".stripMargin,
    "e_filter_isnotnull" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT id, tag FROM items WHERE tag IS NOT NULL ORDER BY id""".stripMargin,
    "e_filter_arr_contains" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT id, name FROM items WHERE list_contains(tags, 't1') ORDER BY id""".stripMargin,
    "e_filter_arr_contains_all" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT id FROM items WHERE list_has_all(tags, ['t1', 't3']) ORDER BY id""".stripMargin,
    "e_filter_arr_contains_any" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT id FROM items WHERE list_has_any(tags, ['t0', 't5']) ORDER BY id""".stripMargin,
    "e_filter_arr_empty" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT id FROM items WHERE len(tags) = 0 ORDER BY id""".stripMargin,
    // self-EXISTS correlation: child.parentId = parent.id (the fresh child
    // alias references the outer row through the items.parentId → items.id
    // self-relation) — "items that have a tagged child"
    "e_exists_self" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT i.id, i.name FROM items i
         |WHERE EXISTS (SELECT 1 FROM items c
         |  WHERE c."parentId" = i.id AND c.tag IS NOT NULL)
         |ORDER BY i.id""".stripMargin,
    "e_exists_count_eq" ->
      """SELECT c_custkey AS custkey FROM customer c
        |WHERE (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) = 10
        |ORDER BY c_custkey""".stripMargin,
    "q10_cross_source" ->
      s"""WITH ${sources.FixtureItems.oracleCte}
         |SELECT d.doc_id, i.name, i.tag
         |FROM documents d JOIN items i ON (d.doc_id % 200) + 1 = i.id
         |ORDER BY d.doc_id""".stripMargin,
    "q12_orc_source" ->
      """SELECT n.n_nationkey, n.n_name, r.r_name
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY n.n_nationkey""".stripMargin,
    // the Spark side reads nation through embedded-Derby JDBC; content is
    // identical to the parquet the oracle sees
    "e_jdbc_source" ->
      """SELECT n_nationkey AS nationkey, n_name AS name, n_regionkey AS regionkey
        |FROM nation WHERE n_regionkey IN (0, 2)
        |ORDER BY n_nationkey""".stripMargin,
    "q13_jdbc_join" ->
      """SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS customers
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY nation""".stripMargin,
    // Spark reads supplier through JSON-lines and CSV copies of the parquet
    "q16_text_formats" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        |  CAST(count(*) AS BIGINT) AS suppliers
        |FROM supplier GROUP BY s_nationkey ORDER BY nationkey""".stripMargin,
    // Spark reads the warehouse replica; content mirrors the primary parquet
    "e_replica_offload" ->
      """SELECT o_orderkey AS orderkey, o_orderstatus AS orderstatus,
        |  o_totalprice AS totalprice
        |FROM orders WHERE o_totalprice > 400000.0
        |ORDER BY o_orderkey""".stripMargin,
    // Spark reads the year-partitioned copy; content mirrors the parquet
    "q15_partitioned_scan" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1996
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Spark reads bucketed managed tables; content mirrors the parquet
    "q14_bucketed_join" ->
      """SELECT o.o_orderpriority AS priority,
        |  CAST(count(*) AS BIGINT) AS line_count,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY priority""".stripMargin,
    // ts is parquet timestamp[us] with no timezone; DuckDB reads it as a
    // naive TIMESTAMP, so epoch_us // 1e6 is the same floor-to-seconds the
    // Spark side computes with unix_seconds under the UTC session zone
    "q11_window_features" ->
      """SELECT user_id AS "userId", event_id AS "eventId",
        |  CAST(row_number() OVER w AS INT) AS "seqNum",
        |  epoch_us(ts) // 1000000 - lag(epoch_us(ts) // 1000000, 1) OVER w AS "gapSec",
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS "runValue"
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY 1, 3""".stripMargin,
    // First-touch funnel replayed: same chained min-after-previous-touch
    // rule on second-floored times
    "q18_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) // 1000000 AS tsSec
        |           FROM events),
        |a AS (SELECT user_id, MIN(tsSec) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |b AS (SELECT e.user_id, MIN(tsSec) AS t2 FROM e JOIN a USING (user_id)
        |      WHERE event_type = 'click' AND tsSec >= t1 GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(tsSec) AS t3 FROM e JOIN b USING (user_id)
        |      WHERE event_type = 'purchase' AND tsSec >= t2 GROUP BY 1),
        |t AS (SELECT COUNT(DISTINCT user_id) AS nt FROM e),
        |u AS (SELECT '0_any' AS step, nt AS n FROM t
        |      UNION ALL SELECT '1_view', COUNT(*) FROM a
        |      UNION ALL SELECT '2_click', COUNT(*) FROM b
        |      UNION ALL SELECT '3_purchase', COUNT(*) FROM c)
        |SELECT step, CAST(n AS BIGINT) AS n_users,
        |  round(CAST(n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6) AS reach_rate
        |FROM u, t ORDER BY step""".stripMargin,
    // Weekly retention replayed: same day floor, same cohort-week and
    // offset integer division, distinct (user, cohort, offset)
    "q19_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS d
        |           FROM events),
        |f AS (SELECT user_id, MIN(d) AS d0 FROM e GROUP BY 1),
        |w AS (SELECT DISTINCT e.user_id, d0 // 7 AS cohort_week,
        |        (d - d0) // 7 AS week_offset
        |      FROM e JOIN f USING (user_id)),
        |cs AS (SELECT cohort_week, COUNT(*) AS cohort_n FROM w
        |       WHERE week_offset = 0 GROUP BY 1)
        |SELECT w.cohort_week, w.week_offset, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  round(CAST(COUNT(*) AS DOUBLE) / CAST(cs.cohort_n AS DOUBLE), 6) AS retention
        |FROM w JOIN cs USING (cohort_week)
        |GROUP BY w.cohort_week, w.week_offset, cs.cohort_n
        |ORDER BY 1, 2""".stripMargin,
    // Transition matrix replayed: same (tsSec, event_id) per-user order,
    // same lag pairing, row-normalized counts
    "q20_transitions" ->
      """WITH b AS (SELECT user_id, event_id, event_type,
        |             epoch_us(ts) // 1000000 AS tsSec FROM events),
        |g AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY tsSec, event_id) AS prev_type
        |      FROM b),
        |p AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |      FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, SUM(n) AS n_prev FROM p GROUP BY 1)
        |SELECT p.prev_type, p.next_type, CAST(p.n AS BIGINT) AS n,
        |  round(CAST(p.n AS DOUBLE) / CAST(t.n_prev AS DOUBLE), 6) AS p
        |FROM p JOIN t USING (prev_type)
        |ORDER BY 1, 2""".stripMargin,
    // Sessionization replayed: same second-floored gaps, same >1800 s
    // session-break rule, running session counter, per-session card
    "q17_sessionize" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsSec, value
        |           FROM events),
        |g AS (SELECT user_id, event_id, tsSec, value,
        |        CASE WHEN tsSec - lag(tsSec) OVER w IS NULL
        |               OR tsSec - lag(tsSec) OVER w > 1800 THEN 1 ELSE 0 END AS newSess
        |      FROM b WINDOW w AS (PARTITION BY user_id ORDER BY tsSec, event_id)),
        |sn AS (SELECT user_id, tsSec, value,
        |         SUM(newSess) OVER (PARTITION BY user_id ORDER BY tsSec, event_id
        |           ROWS UNBOUNDED PRECEDING) AS sessionNum
        |       FROM g)
        |SELECT user_id AS "userId", CAST(sessionNum AS BIGINT) AS "sessionNum",
        |  CAST(COUNT(*) AS BIGINT) AS "nEvents",
        |  MIN(tsSec) AS "startSec", MAX(tsSec) AS "endSec",
        |  MAX(tsSec) - MIN(tsSec) AS "durationSec",
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS "sumValue"
        |FROM sn GROUP BY user_id, sessionNum
        |ORDER BY 1, 2""".stripMargin,
    "d_text_analysis" ->
      s"""WITH ${OracleFrag.docAnalysisCtes()}
         |SELECT doc_id,
         |  ${OracleFrag.langGuessExpr} AS "langGuess",
         |  ${OracleFrag.qualityExpr} AS quality,
         |  CAST(len(ws) AS INT) AS "nTokensWs",
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS "nTokensBpe",
         |  ${OracleFrag.fingerprintExpr} AS fingerprint
         |FROM s ORDER BY doc_id""".stripMargin,
    "d_dedup_exact" ->
      """SELECT doc_id, lang, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    // the salted two-phase plan must equal this plain GROUP BY exactly
    "d_skew_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the salted replicated-dim join must equal this plain join + GROUP BY
    "d_skew_salted_join" ->
      """SELECT e.event_type, CAST(length(e.event_type) AS INT) AS type_len,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN (SELECT event_type AS dim_type,
        |        CAST(length(event_type) AS INT) AS type_len
        |      FROM events GROUP BY event_type) d
        |  ON e.event_type = d.dim_type
        |GROUP BY e.event_type, d.type_len
        |ORDER BY e.event_type""".stripMargin,
    // mirrors the composed pipeline stage-for-stage (fragments shared with
    // d_text_analysis): quality/lang gates, fingerprint dedup, per-source
    // running token budget
    // BPE training replayed round-for-round: same distinct-word counts,
    // same pair counting, same argmax tie-break, same left-to-right
    // " l r " -> " lr " replace — the merge table must match exactly
    "d_bpe_train" ->
      s"""WITH ${OracleFrag.bpeCtes(8)},
         |m AS (${(1 to 8).map(r =>
             s"SELECT $r AS merge_rank, l AS lhs, r AS rhs, c AS pair_count FROM best$r")
           .mkString("\n      UNION ALL ")})
         |SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, pair_count
         |FROM m ORDER BY merge_rank""".stripMargin,
    // WordPiece training replayed round-for-round: same pair counts plus
    // per-round symbol counts; argmax by the identical IEEE-double score
    // with the same lexicographic tie-break
    "d_wordpiece_train" ->
      s"""WITH ${OracleFrag.wordpieceCtes(8)},
         |m AS (${(1 to 8).map(r =>
             s"SELECT $r AS merge_rank, l AS lhs, r AS rhs, c AS pair_count, " +
               s"cl AS left_count, cr AS right_count FROM best$r")
           .mkString("\n      UNION ALL ")})
         |SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, pair_count,
         |  left_count, right_count
         |FROM m ORDER BY merge_rank""".stripMargin,
    // WordPiece-trained token counts: the SAME nested-replace segmentation
    // (bpeSegment reads best1..best8, which wordpieceCtes also defines —
    // the merge application is tokenizer-agnostic, only the argmax differs)
    "d_wordpiece_tokens" ->
      s"""WITH ${OracleFrag.wordpieceCtes(8)},
         |tok AS (SELECT doc_id, unnest(${OracleFrag.ws("text")}) AS w FROM documents),
         |tc AS (SELECT doc_id,
         |    CAST(SUM(len(${OracleFrag.bpeSyms(OracleFrag.bpeSegment("w", 8))})) AS BIGINT)
         |      AS n_tok_wp
         |  FROM tok GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(tc.n_tok_wp, 0) AS BIGINT) AS n_tok_wp
         |FROM documents d LEFT JOIN tc ON d.doc_id = tc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // The trainer replayed END TO END — see unigramTrainOracleSql's
    // scaladoc for the exactness argument (grid m-steps, fold-DP Viterbi,
    // materialized CTE chain).
    "d_unigram_train" -> unigramTrainOracleSql,
    // Fertility card replayed over the SAME path enumeration as the
    // token-count row, aggregated per source with the raw word counts
    "d_tokenizer_fertility" ->
      s"""WITH RECURSIVE $unigramBestCtes,
         |tc AS (SELECT wo.doc_id, CAST(SUM(best.ntok) AS BIGINT) AS n
         |       FROM wo JOIN best ON wo.w = best.w GROUP BY 1),
         |dw AS (SELECT doc_id, len(ws) AS nw FROM docw)
         |SELECT d.source,
         |  CAST(SUM(COALESCE(tc.n, 0)) AS BIGINT) AS n_tok,
         |  CAST(SUM(dw.nw) AS BIGINT) AS n_words,
         |  round(CAST(SUM(COALESCE(tc.n, 0)) AS DOUBLE)
         |        / CAST(SUM(dw.nw) AS DOUBLE), 6) AS fertility,
         |  round(CAST(SUM(d.n_chars) AS DOUBLE)
         |        / CAST(SUM(COALESCE(tc.n, 0)) AS DOUBLE), 6) AS chars_per_tok
         |FROM documents d JOIN dw ON dw.doc_id = d.doc_id
         |LEFT JOIN tc ON tc.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Trained-unigram token counts replayed WITHOUT the DP: enumerate
    // every segmentation of each distinct word (recursive CTE from the
    // word's end backwards over the fixture piece table; unk only for
    // uncovered single chars), score with the SAME grid-exact literal
    // log probs, and pick the DP's path — max score, ties to the
    // lexicographically-largest piece-length list (= longest final
    // piece, recursively: UnigramOps' documented tie-break).
    "d_unigram_tokens" ->
      s"""WITH RECURSIVE $unigramBestCtes,
         |tc AS (SELECT wo.doc_id, CAST(SUM(best.ntok) AS BIGINT) AS n
         |       FROM wo JOIN best ON wo.w = best.w GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(tc.n, 0) AS BIGINT) AS n_tok_unigram
         |FROM documents d LEFT JOIN tc ON d.doc_id = tc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Token-ID sequences replayed: best's winning lens list (reversed to
    // word order) slices each word back into its pieces, pieces map to
    // their committed-table ordinals (-1 = unk), and per-doc assembly
    // re-concatenates in word order via explicit positions
    "d_tokenize_ids" -> {
      val pidValues = fixtureUnigram.pieces.zipWithIndex
        .map { case (p, i) => s"('${p.piece}', $i)" }.mkString(", ")
      s"""WITH RECURSIVE $unigramBestCtes,
         |pcx AS (SELECT piece, pid FROM (VALUES $pidValues) AS __px(piece, pid)),
         |seg AS (SELECT w, list_reverse(lens) AS ordlens FROM best),
         |pk AS (SELECT w, ordlens, unnest(range(1, len(ordlens) + 1)) AS k FROM seg),
         |off AS (SELECT w, k,
         |          CAST(COALESCE(list_sum(list_slice(ordlens, 1, CAST(k - 1 AS INT))), 0) AS INT) AS pre,
         |          CAST(ordlens[CAST(k AS INT)] AS INT) AS l FROM pk),
         |pid AS (SELECT off.w, off.k, COALESCE(pcx.pid, -1) AS pid
         |        FROM off LEFT JOIN pcx ON pcx.piece = substring(off.w, off.pre + 1, off.l)),
         |wid AS (SELECT w, list(CAST(pid AS INT) ORDER BY k) AS ids FROM pid GROUP BY w),
         |wp AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS wpos FROM docw),
         |wp2 AS (SELECT doc_id, wpos, ws[CAST(wpos AS INT)] AS w FROM wp),
         |docids AS (SELECT wp2.doc_id, flatten(list(wid.ids ORDER BY wp2.wpos)) AS ids
         |           FROM wp2 JOIN wid ON wid.w = wp2.w GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(array_to_string(docids.ids, ','), '') AS token_ids_csv,
         |  CAST(len(COALESCE(docids.ids, CAST([] AS INTEGER[]))) AS INT) AS n_tok
         |FROM documents d LEFT JOIN docids ON docids.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    // Packed examples proved against the DEFINITION: per-doc id lists
    // (the d_tokenize_ids CTEs) laid end-to-end in doc order with global
    // positions, then grouped by position div seqLen — no span arithmetic
    // in common with the Spark plan
    "d_pack_tokens" -> {
      val pidValues = fixtureUnigram.pieces.zipWithIndex
        .map { case (p, i) => s"('${p.piece}', $i)" }.mkString(", ")
      s"""WITH RECURSIVE $unigramBestCtes,
         |pcx AS (SELECT piece, pid FROM (VALUES $pidValues) AS __px(piece, pid)),
         |seg AS (SELECT w, list_reverse(lens) AS ordlens FROM best),
         |pk AS (SELECT w, ordlens, unnest(range(1, len(ordlens) + 1)) AS k FROM seg),
         |off AS (SELECT w, k,
         |          CAST(COALESCE(list_sum(list_slice(ordlens, 1, CAST(k - 1 AS INT))), 0) AS INT) AS pre,
         |          CAST(ordlens[CAST(k AS INT)] AS INT) AS l FROM pk),
         |pid AS (SELECT off.w, off.k, COALESCE(pcx.pid, -1) AS pid
         |        FROM off LEFT JOIN pcx ON pcx.piece = substring(off.w, off.pre + 1, off.l)),
         |wid AS (SELECT w, list(CAST(pid AS INT) ORDER BY k) AS ids FROM pid GROUP BY w),
         |wp AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS wpos FROM docw),
         |wp2 AS (SELECT doc_id, wpos, ws[CAST(wpos AS INT)] AS w FROM wp),
         |docids AS (SELECT wp2.doc_id, flatten(list(wid.ids ORDER BY wp2.wpos)) AS ids
         |           FROM wp2 JOIN wid ON wid.w = wp2.w GROUP BY 1),
         |offs AS (SELECT doc_id, ids,
         |           COALESCE(SUM(len(ids)) OVER (ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
         |         FROM docids),
         |tokpos AS (SELECT goff + tk - 1 AS gpos, ids[CAST(tk AS INT)] AS tid
         |           FROM (SELECT goff, ids, unnest(range(1, len(ids) + 1)) AS tk FROM offs))
         |SELECT CAST(gpos // 128 AS BIGINT) AS chunk,
         |  COALESCE(array_to_string(list(CAST(tid AS INT) ORDER BY gpos), ','), '') AS token_ids_csv,
         |  CAST(COUNT(*) AS INT) AS n_tok
         |FROM tokpos GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // EOS-separated packing: the SAME stream formulation with the
    // reserved eos id (= vocab size) appended per nonempty document
    // before the global offsets — empty docs contribute nothing
    "d_pack_eos" -> {
      val pidValues = fixtureUnigram.pieces.zipWithIndex
        .map { case (p, i) => s"('${p.piece}', $i)" }.mkString(", ")
      val eos = fixtureUnigram.pieceStrings.length
      s"""WITH RECURSIVE $unigramBestCtes,
         |pcx AS (SELECT piece, pid FROM (VALUES $pidValues) AS __px(piece, pid)),
         |seg AS (SELECT w, list_reverse(lens) AS ordlens FROM best),
         |pk AS (SELECT w, ordlens, unnest(range(1, len(ordlens) + 1)) AS k FROM seg),
         |off AS (SELECT w, k,
         |          CAST(COALESCE(list_sum(list_slice(ordlens, 1, CAST(k - 1 AS INT))), 0) AS INT) AS pre,
         |          CAST(ordlens[CAST(k AS INT)] AS INT) AS l FROM pk),
         |pid AS (SELECT off.w, off.k, COALESCE(pcx.pid, -1) AS pid
         |        FROM off LEFT JOIN pcx ON pcx.piece = substring(off.w, off.pre + 1, off.l)),
         |wid AS (SELECT w, list(CAST(pid AS INT) ORDER BY k) AS ids FROM pid GROUP BY w),
         |wp AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS wpos FROM docw),
         |wp2 AS (SELECT doc_id, wpos, ws[CAST(wpos AS INT)] AS w FROM wp),
         |docids AS (SELECT wp2.doc_id,
         |             list_append(flatten(list(wid.ids ORDER BY wp2.wpos)), $eos) AS ids
         |           FROM wp2 JOIN wid ON wid.w = wp2.w GROUP BY 1),
         |offs AS (SELECT doc_id, ids,
         |           COALESCE(SUM(len(ids)) OVER (ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS goff
         |         FROM docids),
         |tokpos AS (SELECT goff + tk - 1 AS gpos, ids[CAST(tk AS INT)] AS tid
         |           FROM (SELECT goff, ids, unnest(range(1, len(ids) + 1)) AS tk FROM offs))
         |SELECT CAST(gpos // 128 AS BIGINT) AS chunk,
         |  COALESCE(array_to_string(list(CAST(tid AS INT) ORDER BY gpos), ','), '') AS token_ids_csv,
         |  CAST(COUNT(*) AS INT) AS n_tok
         |FROM tokpos GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // Per-doc LM NLL replayed over the SAME path enumeration: best now
    // carries its (grid-exact, hence order-independent) path score; the
    // cross-word sum goes through DECIMAL(38,18) like the Spark side
    "d_unigram_ppl" ->
      s"""WITH RECURSIVE $unigramBestCtes,
         |tc AS (SELECT wo.doc_id, CAST(SUM(best.ntok) AS BIGINT) AS n,
         |         CAST(SUM(CAST(best.score AS DECIMAL(38,18))) AS DOUBLE) AS lp
         |       FROM wo JOIN best ON wo.w = best.w GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(tc.n, 0) AS BIGINT) AS n_tok,
         |  CASE WHEN tc.n > 0 THEN round(-(tc.lp / CAST(tc.n AS DOUBLE)), 6) END AS nll_per_tok,
         |  COALESCE(CASE WHEN tc.n > 0
         |    THEN round(-(tc.lp / CAST(tc.n AS DOUBLE)), 6) <= 3.75 END, false) AS kept
         |FROM documents d LEFT JOIN tc ON d.doc_id = tc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Trained-tokenizer token counts per doc (the best1..best8 merges
    // applied as nested replaces) next to the closed-form estimate
    "d_bpe_tokens" ->
      s"""WITH ${OracleFrag.bpeCtes(8)},
         |tok AS (SELECT doc_id, unnest(${OracleFrag.ws("text")}) AS w FROM documents),
         |tc AS (SELECT doc_id,
         |    CAST(SUM(len(${OracleFrag.bpeSyms(OracleFrag.bpeSegment("w", 8))})) AS BIGINT)
         |      AS n_tok_trained
         |  FROM tok GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(tc.n_tok_trained, 0) AS BIGINT) AS n_tok_trained,
         |  CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
         |    AS n_tok_est
         |FROM documents d LEFT JOIN tc ON d.doc_id = tc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // The PII chain mirrored stage-for-stage (OracleFrag.piiStages drives
    // off the same Pii.categories), over text with one planted specimen
    // of every category built from doc_id with the same integer math
    "d_pii_scrub" ->
      s"""WITH p0 AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@example.com call +1-' ||
         |  (100 + doc_id % 900) || '-' || (100 + (doc_id*3) % 900) || '-' ||
         |  (1000 + doc_id % 9000) || ' from 10.' || (doc_id % 256) || '.0.' ||
         |  (1 + doc_id % 254) || ' ssn ' || (100 + doc_id % 900) || '-' ||
         |  (10 + doc_id % 90) || '-' || (1000 + doc_id % 9000) ||
         |  ' card 4111' || (100000000000 + doc_id) || ' end' AS __t
         |  FROM documents),
         |${OracleFrag.piiStages()}
         |SELECT doc_id, __t AS text_clean, n_pii_email, n_pii_ipv4,
         |  n_pii_phone, n_pii_ssn, n_pii_idnum
         |FROM p${ops.Pii.categories.size} ORDER BY doc_id""".stripMargin,
    // Both boilerplate forms must equal the same statement — cross-form
    // parity IS the oracle contract (see BoilerplateCleanOracle)
    "d_boilerplate" -> BoilerplateCleanOracle,
    "d_boilerplate_join" -> BoilerplateCleanOracle,
    // Per-source scope: document frequency grouped by (source, line), the
    // removal probe null-safe per source (IS NOT DISTINCT FROM)
    "d_boilerplate_by_source" ->
      s"""WITH $BoilerplateDocsSql,
         |l AS (SELECT doc_id, source, unnest(string_split(t, chr(10))) AS line FROM b),
         |f AS (SELECT source, line FROM l WHERE len(line) > 0
         |      GROUP BY source, line HAVING COUNT(DISTINCT doc_id) >= 25),
         |fl AS (SELECT source, list(line) AS fset FROM f GROUP BY source),
         |c AS (SELECT b.doc_id,
         |        list_filter(string_split(b.t, chr(10)),
         |          __x -> NOT list_contains(coalesce(fl.fset, []), __x)) AS kept,
         |        len(string_split(b.t, chr(10))) AS n0
         |      FROM b LEFT JOIN fl ON b.source IS NOT DISTINCT FROM fl.source)
         |SELECT doc_id, array_to_string(kept, chr(10)) AS text_clean,
         |  CAST(n0 - len(kept) AS INT) AS n_lines_removed
         |FROM c ORDER BY doc_id""".stripMargin,
    "d_boilerplate_lines" ->
      s"""WITH $BoilerplateDocsSql,
         |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM b)
         |SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df
         |FROM l WHERE len(line) > 0
         |GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 25
         |ORDER BY line""".stripMargin,
    // Training replayed: same poly-57 buckets (bag semantics), exact
    // integer counts, and the smoothed positive-rate weight recomputed
    // with DuckDB's integer division — every weight bit-for-bit
    "d_classifier_train" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |f AS (SELECT source IN ('src0','src1','src2','src3','src4') AS y,
         |        unnest(${OracleFrag.classifierBuckets("ws")}) AS bucket
         |      FROM w),
         |c AS (SELECT bucket,
         |        CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_cnt,
         |        CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg_cnt
         |      FROM f GROUP BY bucket)
         |SELECT bucket, pos_cnt, neg_cnt,
         |  CAST((pos_cnt + 1) * 1000 // (pos_cnt + neg_cnt + 2) - 500 AS BIGINT) AS w_milli
         |FROM c ORDER BY bucket""".stripMargin,
    // Train → weights → gate replayed end-to-end: the weight CTE feeds a
    // per-occurrence join, scores summed exactly, the same integer label
    // cut — the whole trained chain inside one hash-compared query
    "d_classifier_trained" ->
      s"""WITH w AS (SELECT doc_id, source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |f AS (SELECT source IN ('src0','src1','src2','src3','src4') AS y,
         |        unnest(${OracleFrag.classifierBuckets("ws")}) AS bucket
         |      FROM w),
         |c AS (SELECT bucket,
         |        CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_cnt,
         |        CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg_cnt
         |      FROM f GROUP BY bucket),
         |wt AS (SELECT bucket,
         |        CAST((pos_cnt + 1) * 1000 // (pos_cnt + neg_cnt + 2) - 500 AS BIGINT) AS wm
         |       FROM c),
         |d AS (SELECT doc_id, unnest(${OracleFrag.classifierBuckets("ws")}) AS bucket FROM w),
         |s2 AS (SELECT d.doc_id, CAST(SUM(wt.wm) AS BIGINT) AS ss
         |       FROM d JOIN wt USING (bucket) GROUP BY d.doc_id)
         |SELECT w.doc_id, CAST(len(w.ws) AS INT) AS n_words,
         |  CAST(CASE WHEN w.ws IS NULL THEN NULL
         |            ELSE COALESCE(s2.ss, 0) END AS BIGINT) AS score_sum,
         |  CASE WHEN w.ws IS NULL THEN NULL
         |       WHEN len(w.ws) = 0 THEN 'empty'
         |       WHEN COALESCE(s2.ss, 0) >= ${graft.ops.Classifier.keepMilli} * len(w.ws) THEN 'keep'
         |       WHEN COALESCE(s2.ss, 0) <= ${graft.ops.Classifier.discardMilli} * len(w.ws) THEN 'discard'
         |       ELSE 'borderline' END AS label
         |FROM w LEFT JOIN s2 ON s2.doc_id = w.doc_id
         |ORDER BY w.doc_id""".stripMargin,
    // DSIR replayed: dense bucket counts (target = curated sources, raw =
    // all occurrences), the SAME ln micro-nat integerization (ln runs once
    // per bucket — the BM25 ln precedent), exact BIGINT per-doc sums, and
    // the top-100 cut on the identical double division
    "d_dsir_sample" -> {
      val B = graft.ops.Classifier.numBuckets
      s"""WITH w AS (SELECT doc_id, source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |f AS (SELECT doc_id, source IN ('src0','src1','src2','src3','src4') AS y,
         |        unnest(${OracleFrag.classifierBuckets("ws")}) AS bucket
         |      FROM w),
         |c AS (SELECT bucket,
         |        CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
         |        CAST(COUNT(*) AS BIGINT) AS r_cnt
         |      FROM f GROUP BY bucket),
         |dn AS (SELECT b.bucket, COALESCE(c.t_cnt, 0) AS t_cnt,
         |         COALESCE(c.r_cnt, 0) AS r_cnt
         |       FROM (SELECT unnest(range(0, $B)) AS bucket) b
         |       LEFT JOIN c USING (bucket)),
         |tt AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS T, CAST(SUM(r_cnt) AS BIGINT) AS R FROM dn),
         |lr AS (SELECT bucket,
         |         CAST(round((ln(CAST(t_cnt + 1 AS DOUBLE) / CAST(T + $B AS DOUBLE))
         |                   - ln(CAST(r_cnt + 1 AS DOUBLE) / CAST(R + $B AS DOUBLE)))
         |                   * 1000000.0, 0) AS BIGINT) AS lrm
         |       FROM dn, tt),
         |sc AS (SELECT f.doc_id, CAST(COUNT(*) AS INT) AS n_words,
         |         CAST(SUM(lr.lrm) AS BIGINT) AS lr_sum
         |       FROM f JOIN lr USING (bucket) GROUP BY f.doc_id),
         |r AS (SELECT doc_id, n_words, lr_sum,
         |        CAST(lr_sum AS DOUBLE) / CAST(n_words AS DOUBLE) AS importance
         |      FROM sc)
         |SELECT doc_id, n_words, lr_sum, importance,
         |  CAST(row_number() OVER (ORDER BY importance DESC, doc_id) AS INT) AS rank
         |FROM r QUALIFY rank <= 100 ORDER BY rank""".stripMargin
    },
    // The gate form: same estimator CTEs, then the integer
    // cross-multiplied admission per document (threshold 0 micro-nats)
    "d_dsir_gate" -> {
      val B = graft.ops.Classifier.numBuckets
      s"""WITH w AS (SELECT doc_id, source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |f AS (SELECT doc_id, source IN ('src0','src1','src2','src3','src4') AS y,
         |        unnest(${OracleFrag.classifierBuckets("ws")}) AS bucket
         |      FROM w),
         |c AS (SELECT bucket,
         |        CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
         |        CAST(COUNT(*) AS BIGINT) AS r_cnt
         |      FROM f GROUP BY bucket),
         |dn AS (SELECT b.bucket, COALESCE(c.t_cnt, 0) AS t_cnt,
         |         COALESCE(c.r_cnt, 0) AS r_cnt
         |       FROM (SELECT unnest(range(0, $B)) AS bucket) b
         |       LEFT JOIN c USING (bucket)),
         |tt AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS T, CAST(SUM(r_cnt) AS BIGINT) AS R FROM dn),
         |lr AS (SELECT bucket,
         |         CAST(round((ln(CAST(t_cnt + 1 AS DOUBLE) / CAST(T + $B AS DOUBLE))
         |                   - ln(CAST(r_cnt + 1 AS DOUBLE) / CAST(R + $B AS DOUBLE)))
         |                   * 1000000.0, 0) AS BIGINT) AS lrm
         |       FROM dn, tt),
         |sc AS (SELECT f.doc_id, CAST(SUM(lr.lrm) AS BIGINT) AS ls
         |       FROM f JOIN lr USING (bucket) GROUP BY f.doc_id)
         |SELECT w.doc_id,
         |  CAST(CASE WHEN w.ws IS NULL THEN NULL ELSE len(w.ws) END AS INT) AS n_words,
         |  CAST(CASE WHEN w.ws IS NULL THEN NULL ELSE COALESCE(sc.ls, 0) END AS BIGINT) AS lr_sum,
         |  CASE WHEN w.ws IS NULL THEN NULL
         |       ELSE len(w.ws) > 0 AND COALESCE(sc.ls, 0) >= 0 * len(w.ws)
         |  END AS admitted
         |FROM w LEFT JOIN sc ON sc.doc_id = w.doc_id
         |ORDER BY w.doc_id""".stripMargin
    },
    // Every word's bucket weight refolded from the same poly-57 hash and
    // Lehmer weight formula as the fused kernel; label by exact integer
    // cross-multiplication (no division)
    "d_quality_classifier" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |sc AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
         |  ${OracleFrag.classifierScoreSum("ws")} AS score_sum
         |  FROM w)
         |SELECT doc_id, n_words, score_sum,
         |  ${OracleFrag.classifierLabelExpr} AS label
         |FROM sc ORDER BY doc_id""".stripMargin,
    // Increment replayed: NOT IN the old half's fingerprint set, then the
    // within-batch min-id QUALIFY — shared fingerprint fragment
    "d_dedup_incremental" ->
      s"""WITH ${OracleFrag.docAnalysisCtes(", source")},
         |f AS (SELECT doc_id, source, ${OracleFrag.fingerprintExpr} AS fp FROM s),
         |idx AS (SELECT DISTINCT fp FROM f WHERE doc_id < 250),
         |batch AS (SELECT * FROM f WHERE doc_id >= 250)
         |SELECT doc_id, source FROM batch
         |WHERE fp NOT IN (SELECT fp FROM idx)
         |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin,
    // BRUTE-FORCE vs-index oracle: ALL (batch × corpus) Hamming pairs —
    // like d_dedup_simhash it proves the blocked probe loses no match
    "d_dedup_simhash_vs_index" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |s AS (SELECT doc_id, ${OracleFrag.simhash31("ws")} AS sim FROM w WHERE len(ws) > 0),
         |idx AS (SELECT doc_id AS cid, sim FROM s WHERE doc_id < 250),
         |bt AS (SELECT doc_id, sim FROM s WHERE doc_id >= 250)
         |SELECT bt.doc_id, idx.cid AS "corpusId",
         |  CAST(bit_count(xor(bt.sim, idx.sim)) AS INT) AS dist
         |FROM bt JOIN idx ON bit_count(xor(bt.sim, idx.sim)) <= 3
         |ORDER BY 1, 2""".stripMargin,
    // Increment replayed against the full-rerun rule: brute-force index
    // matches, within-batch Hamming closure (recursive reach), then drop
    // matched docs, whole corpus-touching components, and non-reps
    "d_dedup_simhash_incremental" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |s AS (SELECT doc_id, ${OracleFrag.simhash31("ws")} AS sim FROM w WHERE len(ws) > 0),
         |idx AS (SELECT sim FROM s WHERE doc_id < 250),
         |bt AS (SELECT doc_id, sim FROM s WHERE doc_id >= 250 AND doc_id < 1250),
         |m AS (SELECT DISTINCT bt.doc_id FROM bt JOIN idx
         |      ON bit_count(xor(bt.sim, idx.sim)) <= 3),
         |pr AS (SELECT a.doc_id AS ia, c.doc_id AS ib FROM bt a JOIN bt c
         |       ON a.doc_id < c.doc_id AND bit_count(xor(a.sim, c.sim)) <= 3),
         |e AS (SELECT ia AS ea, ib AS eb FROM pr UNION SELECT ib, ia FROM pr),
         |reach(node, r) AS (
         |  SELECT DISTINCT ea, ea FROM e
         |  UNION
         |  SELECT e.ea, reach.r FROM e JOIN reach ON reach.node = e.eb),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |touched AS (SELECT DISTINCT component FROM comp
         |            WHERE node IN (SELECT doc_id FROM m)),
         |losers AS (
         |  SELECT doc_id AS id FROM m
         |  UNION SELECT node FROM comp
         |        WHERE component IN (SELECT component FROM touched)
         |  UNION SELECT node FROM comp WHERE node != component)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id >= 250 AND d.doc_id < 1250
         |  AND d.doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // est-Jaccard sibling: banding replayed (the banded-recall contract),
    // matches + within-batch pairs both gated at estJaccard >= 0.3, then
    // the same recursive closure and touched-component loser rule
    "d_dedup_minhash_incremental" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS shs FROM w),
         |s AS (SELECT doc_id, ${OracleFrag.minhashSig("shs", 32)} AS sig FROM h WHERE len(shs) > 0),
         |bd AS (SELECT s.doc_id, s.sig, bb.b AS band,
         |         array_slice(s.sig, bb.b*4 + 1, bb.b*4 + 4) AS bkey
         |       FROM s CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb),
         |idx AS (SELECT * FROM bd WHERE doc_id < 250),
         |bt AS (SELECT * FROM bd WHERE doc_id >= 250 AND doc_id < 1250),
         |mc AS (SELECT DISTINCT bt.doc_id, idx.doc_id AS cid
         |       FROM bt JOIN idx ON bt.band = idx.band AND bt.bkey = idx.bkey),
         |m AS (SELECT DISTINCT mc.doc_id FROM mc
         |      JOIN s sa ON sa.doc_id = mc.doc_id JOIN s sb ON sb.doc_id = mc.cid
         |      WHERE CAST(list_sum(list_transform(range(1, 33),
         |        __i -> CASE WHEN sa.sig[__i] = sb.sig[__i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 >= 0.3),
         |p AS (SELECT DISTINCT a.doc_id AS ia, c.doc_id AS ib
         |      FROM bt a JOIN bt c ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
         |pr AS (SELECT ia, ib FROM (
         |        SELECT p.ia, p.ib,
         |          CAST(list_sum(list_transform(range(1, 33),
         |            __i -> CASE WHEN sa.sig[__i] = sb.sig[__i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS ej
         |        FROM p JOIN s sa ON sa.doc_id = p.ia JOIN s sb ON sb.doc_id = p.ib)
         |       WHERE ej >= 0.3),
         |e AS (SELECT ia AS ea, ib AS eb FROM pr UNION SELECT ib, ia FROM pr),
         |reach(node, r) AS (
         |  SELECT DISTINCT ea, ea FROM e
         |  UNION
         |  SELECT e.ea, reach.r FROM e JOIN reach ON reach.node = e.eb),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |touched AS (SELECT DISTINCT component FROM comp
         |            WHERE node IN (SELECT doc_id FROM m)),
         |losers AS (
         |  SELECT doc_id AS id FROM m
         |  UNION SELECT node FROM comp
         |        WHERE component IN (SELECT component FROM touched)
         |  UNION SELECT node FROM comp WHERE node != component)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id >= 250 AND d.doc_id < 1250
         |  AND d.doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // Survival cut replayed from the shared quality formula and Lehmer
    // hash; FLOOR spelled explicitly (DuckDB CAST rounds, Spark truncates)
    "d_sample_weighted" ->
      s"""WITH ${OracleFrag.docAnalysisCtes()},
         |q AS (SELECT doc_id, ${OracleFrag.qualityExpr} AS quality FROM s)
         |SELECT doc_id, quality, ${OracleFrag.unitHash("doc_id")} AS u
         |FROM q
         |WHERE ${OracleFrag.unitHash("doc_id")} < CAST(FLOOR(quality * 2147483647) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,
    // Fixture-centroid assignment (the trained-IVF mirror) + the Lehmer
    // rank membership — diversity sampling replayed end-to-end
    "d_diverse_sample" -> {
      val values = fixtureCentroidRows.map { case (id, v) =>
        s"($id, [${v.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |cent AS (SELECT centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn
         |         FROM (VALUES $values) AS __cent(centid, cv)),
         |asg AS (SELECT vec_id, centid AS cell FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent) WHERE rn = 1)
         |SELECT vec_id, cell, rk FROM (
         |  SELECT vec_id, cell, CAST(row_number() OVER (
         |    PARTITION BY cell ORDER BY ${OracleFrag.unitHash("vec_id")}, vec_id) AS INT) AS rk
         |  FROM asg) WHERE rk <= 20 ORDER BY vec_id""".stripMargin
    },
    // Every rule flag recomputed from exact counts (the distinct-words
    // count is by 57-bit hash on the Spark side and exact strings here —
    // the same accepted-collision parity d_text_repetition pins)
    "d_quality_rules" ->
      s"""WITH w AS (SELECT doc_id, text, ${OracleFrag.ws("text")} AS ws FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), __i ->
         |         ws[__i] || ' ' || ws[__i+1])) AS g FROM w WHERE len(ws) >= 2),
         |bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |m AS (SELECT doc_id, MAX(c) AS maxc, SUM(c) AS nbg FROM bgc GROUP BY 1),
         |c AS (SELECT doc_id,
         |        CAST(len(ws) AS BIGINT) AS n,
         |        CAST(len(list_distinct(ws)) AS BIGINT) AS nd,
         |        COALESCE(CAST(list_sum(list_transform(ws, __t1 -> len(__t1))) AS BIGINT), 0) AS chars,
         |        CAST(len(list_filter(ws, __t2 -> regexp_matches(__t2, '^[0-9]+$$'))) AS BIGINT) AS dtok
         |      FROM w),
         |j AS (SELECT c.*, COALESCE(m.maxc, 0) AS maxc, COALESCE(m.nbg, 0) AS nbg
         |      FROM c LEFT JOIN m USING (doc_id))
         |SELECT doc_id, CAST(n AS INT) AS n_words,
         |  n >= 50 AND n <= 100000 AS r_word_count,
         |  chars >= n * 3 AND chars <= n * 10 AS r_word_len,
         |  (n - dtok) * 10 >= n * 8 AS r_alpha_frac,
         |  nd * 2 >= n AS r_dup_words,
         |  maxc * 5 <= nbg AS r_top_bigram,
         |  (n >= 50 AND n <= 100000) AND (chars >= n * 3 AND chars <= n * 10)
         |    AND ((n - dtok) * 10 >= n * 8) AND (nd * 2 >= n)
         |    AND (maxc * 5 <= nbg) AS kept
         |FROM j ORDER BY doc_id""".stripMargin,
    // Backfill verification: both snapshots rebuilt with the shared
    // manifest fragments over the raw and the planted-corruption corpus,
    // then the same null-safe four-cell diff
    "d_manifest_verify" -> {
      def snap(alias: String, from: String) =
        s"""${alias}m AS (SELECT source,
           |        CAST((${OracleFrag.unitHash("doc_id")}) % 8 AS INT) AS shard,
           |        CAST(len(ws) AS BIGINT) AS tok,
           |        ${OracleFrag.fingerprintExpr} AS fp
           |      FROM (SELECT doc_id, source, ${OracleFrag.ws("text")} AS ws
           |            FROM $from)),
           |$alias AS (SELECT source, shard,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(tok) AS BIGINT) AS n_tokens,
           |    CAST(bit_xor(fp) AS BIGINT) AS content_xor,
           |    CAST(SUM(fp) % 2147483647 AS BIGINT) AS content_mod
           |  FROM ${alias}m GROUP BY source, shard)""".stripMargin
      val probeFrom =
        """(SELECT doc_id,
          |   CASE WHEN doc_id < 5 THEN 'backfill_extra' ELSE source END AS source,
          |   CASE WHEN doc_id % 97 = 13 THEN text || ' corrupted' ELSE text END AS text
          | FROM documents WHERE doc_id <> 3)""".stripMargin
      s"""WITH ${snap("rel", "documents")},
         |${snap("got", probeFrom)}
         |SELECT COALESCE(g.source, r.source) AS source,
         |  COALESCE(g.shard, r.shard) AS shard,
         |  CASE WHEN r.n_docs IS NULL THEN 'unexpected'
         |       WHEN g.n_docs IS NULL THEN 'missing'
         |       WHEN g.n_docs = r.n_docs
         |         AND g.n_tokens IS NOT DISTINCT FROM r.n_tokens
         |         AND g.content_xor IS NOT DISTINCT FROM r.content_xor
         |         AND g.content_mod IS NOT DISTINCT FROM r.content_mod THEN 'ok'
         |       ELSE 'mismatch' END AS status,
         |  g.n_docs AS n_docs_got, r.n_docs AS n_docs_want,
         |  g.n_tokens IS NOT DISTINCT FROM r.n_tokens AS tokens_ok,
         |  (g.content_xor IS NOT DISTINCT FROM r.content_xor
         |    AND g.content_mod IS NOT DISTINCT FROM r.content_mod) AS content_ok
         |FROM got g FULL OUTER JOIN rel r
         |  ON g.source = r.source AND g.shard = r.shard
         |ORDER BY source, shard""".stripMargin
    },
    // Within-doc duplicate-line stats: same planted chrome (integer
    // arithmetic), same sorted-adjacency dup rule via indexed lambdas
    // (DuckDB lists are 1-based where Spark transform's index is 0-based;
    // both spell "equals the previous or next sorted line")
    "d_line_repetition" ->
      s"""WITH $LineRepDocsSql,
        |l AS (SELECT doc_id, t,
        |        list_sort(list_filter(string_split(t, chr(10)),
        |          __l -> len(__l) > 0)) AS ls
        |      FROM b),
        |d AS (SELECT doc_id, t, ls, len(ls) AS n,
        |        list_transform(ls, (__x, __i) -> CASE WHEN
        |          (__i > 1 AND __x = ls[__i - 1]) OR
        |          (__i < len(ls) AND __x = ls[__i + 1])
        |          THEN 1 ELSE 0 END) AS dup
        |      FROM l)
        |SELECT doc_id,
        |  CAST(CASE WHEN t IS NULL THEN 0 ELSE n END AS INT) AS n_lines,
        |  CAST(COALESCE(list_sum(dup), 0) AS INT) AS n_dup_lines,
        |  CASE WHEN n > 0 THEN CAST(round(
        |    CAST(list_sum(dup) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE)
        |  END AS dup_line_frac,
        |  CASE WHEN n > 0 THEN CAST(round(
        |    CAST(list_sum(list_transform(dup, (__d, __i) -> __d * len(ls[__i]))) AS DOUBLE)
        |      / CAST(list_sum(list_transform(ls, __x -> len(__x))) AS DOUBLE), 6) AS DOUBLE)
        |  END AS dup_char_frac
        |FROM d ORDER BY doc_id""".stripMargin,
    // Within-doc line dedup: the same rn=1-or-empty keep rule over the
    // shared chrome; string_agg skips the CASE-nulled cut lines exactly
    // as concat_ws skips the collect_list's dropped structs
    "d_dedup_lines_within" ->
      s"""WITH $LineRepDocsSql,
         |l AS (SELECT doc_id, t,
         |        unnest(list_transform(string_split(t, chr(10)),
         |          (__x, __i) -> struct_pack(pos := __i, line := __x))) AS s
         |      FROM b),
         |m AS (SELECT doc_id, s.pos AS pos, s.line AS line,
         |        row_number() OVER (PARTITION BY doc_id, s.line ORDER BY s.pos) AS rn
         |      FROM l),
         |r AS (SELECT doc_id,
         |        string_agg(CASE WHEN rn = 1 OR line = '' THEN line END,
         |          chr(10) ORDER BY pos) AS clean,
         |        CAST(SUM(CASE WHEN rn = 1 OR line = '' THEN 0 ELSE 1 END) AS INT)
         |          AS removed
         |      FROM m GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.t IS NULL THEN NULL ELSE r.clean END AS text_clean,
         |  CASE WHEN d.t IS NULL THEN NULL ELSE r.removed END AS n_lines_removed
         |FROM b d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Corpus-wide first occurrence: the SAME regroup, with the keep window
    // partitioned by line ALONE ordered by (doc_id, pos) — rn=1 is the
    // global min (doc_id, pos), the operator's min(struct(id, pos))
    "d_dedup_lines_across" ->
      s"""WITH $LineRepDocsSql,
         |l AS (SELECT doc_id, t,
         |        unnest(list_transform(string_split(t, chr(10)),
         |          (__x, __i) -> struct_pack(pos := __i, line := __x))) AS s
         |      FROM b),
         |m AS (SELECT doc_id, s.pos AS pos, s.line AS line,
         |        row_number() OVER (PARTITION BY s.line ORDER BY doc_id, s.pos) AS rn
         |      FROM l),
         |r AS (SELECT doc_id,
         |        string_agg(CASE WHEN rn = 1 OR line = '' THEN line END,
         |          chr(10) ORDER BY pos) AS clean,
         |        CAST(SUM(CASE WHEN rn = 1 OR line = '' THEN 0 ELSE 1 END) AS INT)
         |          AS removed
         |      FROM m GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN d.t IS NULL THEN NULL ELSE COALESCE(r.clean, '') END AS text_clean,
         |  CASE WHEN d.t IS NULL THEN NULL ELSE r.removed END AS n_lines_removed
         |FROM b d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Split thresholds are the SAME Scala-computed literals the operator
    // inlines — no per-row float arithmetic on either side
    "d_split_corpus" -> {
      val Seq(t1, t2, t3) = ops.Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
      s"""WITH t AS (SELECT doc_id,
         |  ${OracleFrag.unitHash("doc_id")} AS u FROM documents)
         |SELECT doc_id,
         |  CASE WHEN u < $t1 THEN 'train'
         |       WHEN u < $t2 THEN 'val'
         |       WHEN u < $t3 THEN 'test' END AS split
         |FROM t WHERE u < $t3 ORDER BY doc_id""".stripMargin
    },
    // Per-split manifests: the split CASE feeding the shared manifest
    // fragments, grouped by (split, shard)
    "d_split_manifest" -> {
      val Seq(t1, t2, t3) = ops.Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
      s"""WITH sp AS (SELECT doc_id, text,
         |    CASE WHEN ${OracleFrag.unitHash("doc_id")} < $t1 THEN 'train'
         |         WHEN ${OracleFrag.unitHash("doc_id")} < $t2 THEN 'val'
         |         WHEN ${OracleFrag.unitHash("doc_id")} < $t3 THEN 'test' END AS split
         |  FROM documents),
         |w AS (SELECT doc_id, split, ${OracleFrag.ws("text")} AS ws FROM sp),
         |m AS (SELECT split,
         |        CAST((${OracleFrag.unitHash("doc_id")}) % 8 AS INT) AS shard,
         |        CAST(len(ws) AS BIGINT) AS tok,
         |        ${OracleFrag.fingerprintExpr} AS fp
         |      FROM w)
         |SELECT split, shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
         |  CAST(bit_xor(fp) AS BIGINT) AS content_xor,
         |  CAST(SUM(fp) % 2147483647 AS BIGINT) AS content_mod
         |FROM m GROUP BY split, shard ORDER BY split, shard""".stripMargin
    },
    // Calibration crosstab: the rules CTEs and the classifier fragments
    // joined on doc_id, counts exact integers
    "d_quality_calibration" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), __i ->
         |         ws[__i] || ' ' || ws[__i+1])) AS g FROM w WHERE len(ws) >= 2),
         |bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |m AS (SELECT doc_id, MAX(c) AS maxc, SUM(c) AS nbg FROM bgc GROUP BY 1),
         |c AS (SELECT doc_id,
         |        CAST(len(ws) AS BIGINT) AS n,
         |        CAST(len(list_distinct(ws)) AS BIGINT) AS nd,
         |        COALESCE(CAST(list_sum(list_transform(ws, __t1 -> len(__t1))) AS BIGINT), 0) AS chars,
         |        CAST(len(list_filter(ws, __t2 -> regexp_matches(__t2, '^[0-9]+$$'))) AS BIGINT) AS dtok
         |      FROM w),
         |j AS (SELECT c.*, COALESCE(m.maxc, 0) AS maxc, COALESCE(m.nbg, 0) AS nbg
         |      FROM c LEFT JOIN m USING (doc_id)),
         |k AS (SELECT doc_id,
         |        (n >= 50 AND n <= 100000) AND (chars >= n * 3 AND chars <= n * 10)
         |          AND ((n - dtok) * 10 >= n * 8) AND (nd * 2 >= n)
         |          AND (maxc * 5 <= nbg) AS kept
         |      FROM j),
         |a AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
         |        ${OracleFrag.classifierScoreSum("ws")} AS score_sum
         |      FROM w),
         |lab AS (SELECT doc_id, ${OracleFrag.classifierLabelExpr} AS label FROM a)
         |SELECT lab.label, k.kept, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM lab JOIN k USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Label × source crosstab from the shared classifier fragments; sums
    // are exact integers so the hash gate covers the whole card
    "d_corpus_labels" ->
      s"""WITH w AS (SELECT doc_id, source, ${OracleFrag.ws("text")} AS ws
         |           FROM documents),
         |a AS (SELECT doc_id, source, CAST(len(ws) AS INT) AS n_words,
         |        ${OracleFrag.classifierScoreSum("ws")} AS score_sum
         |      FROM w),
         |lab AS (SELECT *, ${OracleFrag.classifierLabelExpr} AS label FROM a)
         |SELECT source, label, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
         |  CAST(SUM(score_sum) AS BIGINT) AS score_total
         |FROM lab GROUP BY source, label ORDER BY source, label""".stripMargin,
    // Trigram multiset counts rebuilt with the same tokenizer; the top-k
    // cut is unique because ties break on the gram string itself
    "d_top_ngrams" ->
      s"""WITH w AS (SELECT ${OracleFrag.ws("text")} AS ws FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(ws) - 1), __i ->
         |        ws[__i] || ' ' || ws[__i+1] || ' ' || ws[__i+2])) AS gram
         |      FROM w WHERE len(ws) >= 3)
         |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g
         |GROUP BY gram HAVING COUNT(*) >= 2
         |ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,
    // The composed clean pipeline mirrored stage-for-stage: boilerplate
    // CTEs (shared with d_boilerplate), PII stages on the CLEANED text,
    // classifier fragments, the d_pipeline_prep analysis gates, and the
    // fingerprint-dedup QUALIFY
    "d_pipeline_clean" ->
      s"""WITH $BoilerplateDocsSql,
         |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM b),
         |f AS (SELECT line FROM l WHERE len(line) > 0
         |      GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 25),
         |fl AS (SELECT coalesce(list(line), []) AS fset FROM f),
         |pc0 AS (SELECT doc_id, source,
         |        CAST(len(string_split(t, chr(10))) -
         |          len(list_filter(string_split(t, chr(10)),
         |            __x -> NOT list_contains(fl.fset, __x))) AS INT) AS n_lines_removed,
         |        array_to_string(list_filter(string_split(t, chr(10)),
         |          __x -> NOT list_contains(fl.fset, __x)), chr(10)) AS __t
         |      FROM b, fl),
         |${OracleFrag.piiStages("pc")},
         |base AS (SELECT doc_id, source, n_lines_removed, __t AS text
         |         FROM pc${ops.Pii.categories.size}),
         |${OracleFrag.docAnalysisCtes(", source, n_lines_removed", from = "base")},
         |a AS (
         |  SELECT doc_id, source, n_lines_removed,
         |    ${OracleFrag.langGuessExpr} AS lang_guess,
         |    ${OracleFrag.qualityExpr} AS quality,
         |    CAST(len(ws) AS INT) AS n_words,
         |    ${OracleFrag.classifierScoreSum("ws")} AS score_sum,
         |    ${OracleFrag.fingerprintExpr} AS fingerprint
         |  FROM s),
         |lab AS (SELECT *, ${OracleFrag.classifierLabelExpr} AS label FROM a),
         |g AS (SELECT * FROM lab
         |      WHERE lang_guess = 'en' AND quality >= 0.5 AND label <> 'discard'
         |      QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1)
         |SELECT doc_id, source, n_lines_removed, n_words, score_sum, label
         |FROM g ORDER BY doc_id""".stripMargin,
    "d_pipeline_prep" ->
      s"""WITH pp0 AS (SELECT doc_id, source, text AS __t FROM documents),
         |${OracleFrag.piiStages("pp")},
         |pclean AS (SELECT doc_id, source, __t AS text
         |           FROM pp${ops.Pii.categories.size}),
         |${OracleFrag.docAnalysisCtes(", source", from = "pclean")},
         |a AS (
         |  SELECT doc_id, source,
         |    ${OracleFrag.langGuessExpr} AS lang_guess,
         |    ${OracleFrag.qualityExpr} AS quality,
         |    CAST(len(ws) AS INT) AS n_tokens,
         |    ${OracleFrag.fingerprintExpr} AS fingerprint
         |  FROM s),
         |d AS (
         |  SELECT * FROM a WHERE lang_guess = 'en' AND quality >= 0.5
         |  QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM d)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 5000 ORDER BY doc_id""".stripMargin,
    // Mirrors d_pipeline_full stage-for-stage: analysis gates and
    // fingerprint dedup share d_pipeline_prep's fragments, decontamination
    // d_decontaminate's, sampling the Lehmer unit hash, and the budget IS
    // the naive global running window the bucketed plan replaces.
    "d_pipeline_full" ->
      s"""WITH ${OracleFrag.docAnalysisCtes(", source")},
         |a AS (
         |  SELECT doc_id, source, ws,
         |    ${OracleFrag.langGuessExpr} AS lang_guess,
         |    ${OracleFrag.qualityExpr} AS quality,
         |    CAST(len(ws) AS INT) AS n_tokens,
         |    ${OracleFrag.fingerprintExpr} AS fingerprint
         |  FROM s WHERE doc_id >= 25),
         |g AS (SELECT * FROM a WHERE lang_guess = 'en' AND quality >= 0.5),
         |bh AS (SELECT doc_id AS bid, unnest(${OracleFrag.shingleHashes("ws")}) AS sh
         |       FROM w WHERE doc_id < 25),
         |ch AS (SELECT doc_id, unnest(${OracleFrag.shingleHashes("ws")}) AS sh FROM g),
         |dirty AS (SELECT ch.doc_id FROM ch JOIN bh USING (sh)
         |          GROUP BY ch.doc_id HAVING COUNT(DISTINCT sh) >= 2),
         |clean AS (SELECT * FROM g WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         |d AS (SELECT * FROM clean
         |      QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
         |smp AS (SELECT * FROM d WHERE ${OracleFrag.unitHash("doc_id")} < CASE source
         |  WHEN 'src0' THEN ${(1.0 * 2147483647L).toLong}
         |  WHEN 'src1' THEN ${(0.2 * 2147483647L).toLong}
         |  ELSE ${(0.6 * 2147483647L).toLong} END),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM smp)
         |SELECT doc_id, source, n_tokens, cum FROM c
         |WHERE cum <= 30000 ORDER BY doc_id""".stripMargin,
    // Mirrors Decontaminate.overlap: same distinct poly-57 shingle hashes,
    // same bench/corpus split, COUNT(DISTINCT …) aggregates.
    "d_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS hs FROM w),
         |c AS (SELECT doc_id, unnest(hs) AS sh FROM h WHERE doc_id >= 25),
         |b AS (SELECT doc_id AS bid, unnest(hs) AS sh FROM h WHERE doc_id < 25),
         |j AS (SELECT c.doc_id, c.sh, b.bid FROM c JOIN b USING (sh))
         |SELECT doc_id, CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shared,
         |  CAST(COUNT(DISTINCT bid) AS BIGINT) AS n_bench
         |FROM j GROUP BY doc_id HAVING COUNT(DISTINCT sh) >= 2
         |ORDER BY doc_id""".stripMargin,
    // The attribution table: same CTEs, grouped by (doc, bench item)
    "d_decontaminate_pairs" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS hs FROM w),
         |c AS (SELECT doc_id, unnest(hs) AS sh FROM h WHERE doc_id >= 25),
         |b AS (SELECT doc_id AS bid, unnest(hs) AS sh FROM h WHERE doc_id < 25),
         |j AS (SELECT c.doc_id, c.sh, b.bid FROM c JOIN b USING (sh))
         |SELECT doc_id, bid AS bench_id,
         |  CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shared
         |FROM j GROUP BY doc_id, bid HAVING COUNT(DISTINCT sh) >= 2
         |ORDER BY doc_id, bench_id""".stripMargin,
    // Mirrors d_pipeline_pack stage-for-stage: analysis gates + dedup from
    // d_pipeline_prep's fragments, the quantile histogram/cutoff from
    // d_quality_topq's, then naive-window budget and packing.
    "d_pipeline_pack" ->
      s"""WITH ${OracleFrag.docAnalysisCtes()},
         |a AS (
         |  SELECT doc_id,
         |    ${OracleFrag.langGuessExpr} AS lang_guess,
         |    ${OracleFrag.qualityExpr} AS quality,
         |    CAST(len(ws) AS INT) AS n_tokens,
         |    ${OracleFrag.fingerprintExpr} AS fingerprint
         |  FROM s),
         |g AS (SELECT * FROM a WHERE lang_guess = 'en' AND quality >= 0.5),
         |d AS (SELECT * FROM g
         |      QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1),
         |hh AS (SELECT quality AS v, COUNT(*) AS c FROM d GROUP BY 1),
         |t AS (SELECT SUM(c) AS n FROM hh),
         |cc AS (SELECT v, SUM(c) OVER (ORDER BY v DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hh),
         |cut AS (SELECT MAX(v) AS cutv FROM cc, t WHERE cum >= CEIL(0.5 * n)),
         |q AS (SELECT d.* FROM d, cut WHERE d.quality >= cutv),
         |c1 AS (SELECT doc_id, n_tokens,
         |  CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM q),
         |b AS (SELECT doc_id, n_tokens FROM c1 WHERE cum <= 20000),
         |p AS (SELECT doc_id, n_tokens,
         |  CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
         |  FROM b)
         |SELECT doc_id, n_tokens,
         |  CAST(cum2 - n_tokens AS BIGINT) AS "offset",
         |  CAST((cum2 - n_tokens) // 512 AS BIGINT) AS chunk
         |FROM p ORDER BY doc_id""".stripMargin,
    // Mirrors Decontaminate.containment: shared distinct shingles over the
    // doc's own distinct-shingle count, same 0.15 ratio gate.
    "d_decontaminate_containment" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS hs FROM w),
         |c AS (SELECT doc_id, len(hs) AS nsh, unnest(hs) AS sh
         |      FROM h WHERE doc_id >= 25 AND len(hs) > 0),
         |b AS (SELECT DISTINCT unnest(hs) AS sh FROM h WHERE doc_id < 25),
         |j AS (SELECT c.doc_id, c.nsh, COUNT(*) AS n_shared
         |      FROM c JOIN b USING (sh) GROUP BY 1, 2)
         |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(nsh AS INT) AS n_shingles,
         |  round(n_shared / CAST(nsh AS DOUBLE), 6) AS containment
         |FROM j WHERE round(n_shared / CAST(nsh AS DOUBLE), 6) >= 0.15
         |ORDER BY doc_id""".stripMargin,
    // Span redaction replayed with an INDEPENDENT formulation: positional
    // gram hashes (1-based on both sides of every comparison), dirty words
    // by a range join, clean runs via gaps-and-islands (wp − row_number),
    // longest-earliest fragment by window rank — where the operator uses a
    // row-local fold, the oracle uses SQL islands; semantics must agree.
    // The SAME oracle gates the frozen-set serve path (identical
    // semantics, join-free plan) — one definition, two plan shapes proven.
    "d_decontaminate_redact" -> redactSpansOracleSql,
    "d_decontaminate_redact_served" -> redactSpansOracleSql,
    // Mirrors Dedup.repeatedPassagePairs: poly-57 over the same raw
    // 60-char windows at stride 20 (ascii() == byte for the ASCII
    // testdata), df-prune [2, 50], distinct shared-window counts.
    // Passage redaction replayed with an INDEPENDENT formulation: the
    // operator's row-local interval-merge fold becomes SQL
    // gaps-and-islands — canonical occurrence by ROW_NUMBER over (doc, s),
    // merged dirty intervals via running-MAX grouping, clean runs via LAG
    // over the merged intervals plus the per-doc tail run
    "d_dedup_passages_redact" -> passagesRedactOracleSql(""),
    "d_dedup_passages_incremental" ->
      passagesRedactOracleSql("WHERE d.doc_id >= 250"),
    // KMV replayed naively: the oracle takes the k-th smallest distinct
    // hash per source by brute row_number — the operator's two-phase
    // bucketed cut must land on the identical h_(k); 63·P57 stays in
    // int64 on both engines
    "d_distinct_sketch" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |sh AS (SELECT DISTINCT source, unnest(${OracleFrag.shingleHashes("ws")}) AS h FROM w),
         |mx AS (SELECT source, h, CAST(((CAST(h AS HUGEINT) + 1) * 48271 % ${ops.Sketch.P57})
         |         * 48271 % ${ops.Sketch.P57} AS BIGINT) AS m FROM sh),
         |ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM mx GROUP BY 1),
         |dm AS (SELECT DISTINCT source, m FROM mx),
         |kk AS (SELECT source, m, row_number() OVER (PARTITION BY source ORDER BY m) AS rk FROM dm),
         |hk AS (SELECT source, m AS hk FROM kk WHERE rk = 64),
         |est AS (SELECT ex.source, ex.n_exact,
         |          CAST(COALESCE((63 * ${ops.Sketch.P57}) // hk.hk, ex.n_exact) AS BIGINT) AS n_est
         |        FROM ex LEFT JOIN hk ON ex.source = hk.source)
         |SELECT source, n_exact, n_est,
         |  round(CAST(ABS(n_est - n_exact) AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) AS rel_err
         |FROM est ORDER BY source""".stripMargin,
    // Mergeability proof: the oracle IGNORES the sharding entirely and
    // recomputes the one-shot distinct-position estimate — merged
    // per-shard sketches must land on the identical k-th minimum
    "d_distinct_sketch_merged" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |sh AS (SELECT DISTINCT source, unnest(${OracleFrag.shingleHashes("ws")}) AS h FROM w),
         |mx AS (SELECT source, CAST(((CAST(h AS HUGEINT) + 1) * 48271 % ${ops.Sketch.P57})
         |         * 48271 % ${ops.Sketch.P57} AS BIGINT) AS m FROM sh),
         |dm AS (SELECT DISTINCT source, m FROM mx),
         |kk AS (SELECT source, m, row_number() OVER (PARTITION BY source ORDER BY m) AS rk FROM dm),
         |hk AS (SELECT source, m AS hk FROM kk WHERE rk = 64),
         |cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nm FROM dm GROUP BY 1)
         |SELECT cnt.source,
         |  CAST(COALESCE((63 * ${ops.Sketch.P57}) // hk.hk, cnt.nm) AS BIGINT) AS n_est
         |FROM cnt LEFT JOIN hk ON cnt.source = hk.source
         |ORDER BY cnt.source""".stripMargin,
    // CDC replayed: same gram-hash cut rule (poly-57 low bits zero, end =
    // start + k − 1 in 1-based SQL), same final-end completion, chunk
    // hash re-folded over the substring
    "d_cdc_chunks" ->
      s"""WITH ${OracleFrag.cdcCtes(16, 6)}
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(len) AS BIGINT) AS n_bytes,
         |  CAST(MAX(len) AS BIGINT) AS max_chunk
         |FROM c_cdc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d_cdc_dedup" ->
      s"""WITH ${OracleFrag.cdcCtes(16, 6, extraCols = ", source")},
         |al AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |         CAST(SUM(len) AS BIGINT) AS bytes
         |       FROM c_cdc GROUP BY source),
         |di AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |         CAST(SUM(len) AS BIGINT) AS bytes_distinct
         |       FROM (SELECT DISTINCT source, h, len FROM c_cdc) GROUP BY source)
         |SELECT al.source, n_docs, n_chunks, n_distinct, bytes, bytes_distinct,
         |  round(CAST(1 AS DOUBLE) - CAST(bytes_distinct AS DOUBLE) / CAST(bytes AS DOUBLE), 6)
         |    AS dup_byte_rate
         |FROM al JOIN di ON al.source = di.source ORDER BY al.source""".stripMargin,
    // The agreement matrix replays all FOUR pair criteria in one query —
    // each chain is the corresponding single-criterion oracle with
    // renamed CTEs — then intersects the labeled pair sets pairwise
    "d_dedup_criteria_matrix" ->
      s"""WITH ${OracleFrag.cdcCtes(16, 6, p = "m")},
         |mdc AS (SELECT DISTINCT doc_id, h, len FROM m_cdc),
         |mdfh AS (SELECT h, len FROM mdc GROUP BY h, len
         |         HAVING COUNT(*) BETWEEN 2 AND 50),
         |mdp AS (SELECT mdc.doc_id, mdc.h, mdc.len FROM mdc JOIN mdfh USING (h, len)),
         |cdcp AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |         FROM mdp a JOIN mdp b
         |           ON a.h = b.h AND a.len = b.len AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |mw AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |mh AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS shs FROM mw),
         |ms AS (SELECT doc_id, ${OracleFrag.minhashSig("shs", 32)} AS sig FROM mh WHERE len(shs) > 0),
         |mbd AS (SELECT ms.doc_id, ms.sig, bb.b AS band,
         |          array_slice(ms.sig, bb.b*4 + 1, bb.b*4 + 4) AS bkey
         |        FROM ms CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb),
         |mp AS (SELECT DISTINCT a.doc_id AS ia, c.doc_id AS ib
         |       FROM mbd a JOIN mbd c
         |         ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
         |mhp AS (SELECT ia, ib FROM (
         |         SELECT mp.ia, mp.ib,
         |           CAST(list_sum(list_transform(range(1, 33),
         |             __i -> CASE WHEN sa.sig[__i] = sb.sig[__i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS ej
         |         FROM mp JOIN ms sa ON sa.doc_id = mp.ia JOIN ms sb ON sb.doc_id = mp.ib)
         |        WHERE ej >= 0.3),
         |shs2 AS (SELECT doc_id, ${OracleFrag.simhash31("ws")} AS sim FROM mw WHERE len(ws) > 0),
         |shp AS (SELECT a.doc_id AS ia, c.doc_id AS ib
         |        FROM shs2 a JOIN shs2 c ON a.doc_id < c.doc_id
         |        WHERE bit_count(xor(a.sim, c.sim)) <= 3),
         |gr AS (SELECT doc_id,
         |    list_transform(range(1, length(text) - 30 + 2),
         |      i -> ${OracleFrag.poly57("substr(text, CAST(i AS INT), 30)")}) AS g
         |  FROM documents WHERE length(text) >= 30),
         |sel AS (SELECT doc_id,
         |          unnest(${OracleFrag.winnowSelected("g", 10)}) AS h FROM gr),
         |rare AS (SELECT h FROM sel GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50),
         |hh AS (SELECT sel.doc_id, sel.h FROM sel JOIN rare USING (h)),
         |wnp AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |        FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |u AS (SELECT 'cdc' AS crit, ia, ib FROM cdcp
         |      UNION ALL SELECT 'minhash', ia, ib FROM mhp
         |      UNION ALL SELECT 'simhash', ia, ib FROM shp
         |      UNION ALL SELECT 'winnow', ia, ib FROM wnp)
         |SELECT a.crit AS "critA", b.crit AS "critB",
         |  CAST(COUNT(*) AS BIGINT) AS n_common
         |FROM u a JOIN u b ON a.ia = b.ia AND a.ib = b.ib AND a.crit <= b.crit
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // CDC pairs replayed: distinct per-doc chunk identities, the same
    // [2, 50] df prune, pair counts
    "d_cdc_pairs" ->
      s"""WITH $cdcPairCtes
         |SELECT ia AS "idA", ib AS "idB", CAST(ns AS BIGINT) AS n_shared
         |FROM p WHERE ns >= 2 ORDER BY 1, 2""".stripMargin,
    // CDC removal: the winnow-removal closure over CDC pairs — recursive
    // reachability, min-id components, survivors kept
    "d_cdc_removal" ->
      s"""WITH RECURSIVE $cdcPairCtes,
         |pr AS (SELECT ia, ib FROM p WHERE ns >= 2),
         |e AS (SELECT ia AS a, ib AS b FROM pr UNION SELECT ib, ia FROM pr),
         |reach(node, r) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
         |SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node != component)
         |ORDER BY d.doc_id""".stripMargin,
    // CDC increment replayed EXACTLY (not via rerun-equivalence — the
    // within-batch df prune is batch-local by family convention): index
    // membership probe, batch-local pairs, recursive components, the
    // three loser branches, survivors
    "d_cdc_incremental" ->
      s"""WITH RECURSIVE ${OracleFrag.cdcCtes(16, 6,
             from = "(SELECT doc_id, text FROM documents WHERE doc_id < 250)", p = "x")},
         |${OracleFrag.cdcCtes(16, 6,
             from = "(SELECT doc_id, text FROM documents WHERE doc_id >= 250)", p = "b")},
         |idx AS (SELECT DISTINCT h, len FROM x_cdc),
         |bc AS (SELECT DISTINCT doc_id, h, len FROM b_cdc),
         |matched AS (SELECT doc_id FROM bc JOIN idx USING (h, len)
         |            GROUP BY doc_id HAVING COUNT(*) >= 2),
         |dfh AS (SELECT h, len FROM bc GROUP BY h, len
         |        HAVING COUNT(*) BETWEEN 2 AND 50),
         |dp AS (SELECT bc.doc_id, bc.h, bc.len FROM bc JOIN dfh USING (h, len)),
         |p AS (SELECT a.doc_id AS ia, b2.doc_id AS ib, COUNT(*) AS ns
         |      FROM dp a JOIN dp b2
         |        ON a.h = b2.h AND a.len = b2.len AND a.doc_id < b2.doc_id
         |      GROUP BY 1, 2),
         |pr AS (SELECT ia, ib FROM p WHERE ns >= 2),
         |e AS (SELECT ia AS a, ib AS b FROM pr UNION SELECT ib, ia FROM pr),
         |reach(node, r) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |touched AS (SELECT DISTINCT component FROM comp
         |            JOIN matched ON comp.node = matched.doc_id),
         |losers AS (SELECT doc_id AS node FROM matched
         |           UNION SELECT node FROM comp
         |             WHERE component IN (SELECT component FROM touched)
         |           UNION SELECT node FROM comp WHERE node != component)
         |SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
         |FROM documents d
         |WHERE d.doc_id >= 250 AND d.doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY d.doc_id""".stripMargin,
    "d_cdc_vs_index" ->
      s"""WITH ${OracleFrag.cdcCtes(16, 6,
             from = "(SELECT doc_id, text FROM documents WHERE doc_id < 250)", p = "x")},
         |${OracleFrag.cdcCtes(16, 6,
             from = "(SELECT doc_id, text FROM documents WHERE doc_id >= 250)", p = "b")},
         |idx AS (SELECT DISTINCT h, len FROM x_cdc),
         |pr AS (SELECT b.doc_id, b.len,
         |         CASE WHEN idx.h IS NOT NULL THEN 1 ELSE 0 END AS hit
         |       FROM b_cdc b LEFT JOIN idx ON b.h = idx.h AND b.len = idx.len)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(hit) AS BIGINT) AS n_dup,
         |  CAST(SUM(len) AS BIGINT) AS bytes,
         |  CAST(SUM(len * hit) AS BIGINT) AS bytes_dup
         |FROM pr GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // KMV set algebra replayed: per-source k-minima from the same mixed
    // positions, combined sketch = 64 smallest of the union, the same
    // union rule and integer intersection estimate
    "d_distinct_sketch_ops" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents
         |           WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
         |sh AS (SELECT DISTINCT source, unnest(${OracleFrag.shingleHashes("ws")}) AS h FROM w),
         |mx AS (SELECT source, ${OracleFrag.mix1("h")} AS m FROM sh),
         |dm AS (SELECT DISTINCT source, m FROM mx),
         |ks AS (SELECT source, array_slice(list_sort(list(m)), 1, 64) AS p
         |       FROM dm GROUP BY source),
         |pr AS (SELECT a.source AS ga, b.source AS gb, a.p AS pa, b.p AS pb
         |       FROM ks a JOIN ks b ON a.source < b.source),
         |cm AS (SELECT ga, gb, pa, pb,
         |         array_slice(list_sort(list_distinct(list_concat(pa, pb))), 1, 64) AS pk
         |       FROM pr),
         |fin AS (SELECT ga, gb, len(pk) AS nk,
         |          CASE WHEN len(pk) < 64 THEN CAST(len(pk) AS BIGINT)
         |               ELSE CAST((63 * ${ops.Sketch.P57}) // pk[64] AS BIGINT) END AS u_est,
         |          len(list_filter(pk, __x ->
         |            list_contains(pa, __x) AND list_contains(pb, __x))) AS ni
         |        FROM cm)
         |SELECT ga AS "gA", gb AS "gB", u_est AS n_union_est,
         |  CAST((ni * u_est) // nk AS BIGINT) AS n_inter_est,
         |  round(CAST(ni AS DOUBLE) / CAST(nk AS DOUBLE), 6) AS jaccard_est
         |FROM fin ORDER BY 1, 2""".stripMargin,
    // Bloom replayed SEMANTICALLY: the bit table is exactly the distinct
    // position set of the inserted keys, so the oracle skips the 32-bit
    // word packing and asks "are all 4 probe positions set?" directly —
    // same double-hash walk (mix1/mix2 Lehmer rounds), same answer
    "d_member_sketch" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |f AS (SELECT doc_id, ${OracleFrag.fingerprintExpr} AS fp FROM w),
         |ck AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
         |cm AS (SELECT fp, ${OracleFrag.mix1("fp")} AS m1, ${OracleFrag.mix2("fp")} AS m2 FROM ck),
         |cpos AS (SELECT DISTINCT ${OracleFrag.sketchPos("m1", "m2", "i", 65536)} AS pos
         |         FROM cm CROSS JOIN range(0, 4) t(i)),
         |bm AS (SELECT doc_id, fp, ${OracleFrag.mix1("fp")} AS m1, ${OracleFrag.mix2("fp")} AS m2
         |       FROM f WHERE doc_id % 2 = 1),
         |pm AS (SELECT doc_id, fp,
         |         bool_and(${OracleFrag.sketchPos("m1", "m2", "i", 65536)}
         |           IN (SELECT pos FROM cpos)) AS maybe_member
         |       FROM bm CROSS JOIN range(0, 4) t(i) GROUP BY 1, 2)
         |SELECT doc_id, maybe_member, fp IN (SELECT fp FROM ck) AS is_member
         |FROM pm ORDER BY doc_id""".stripMargin,
    // Mergeability proof: the oracle IGNORES the sharding — per-shard
    // filters OR-merged must probe exactly like the one-shot filter
    "d_member_sketch_merged" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |f AS (SELECT doc_id, ${OracleFrag.fingerprintExpr} AS fp FROM w),
         |ck AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
         |cm AS (SELECT fp, ${OracleFrag.mix1("fp")} AS m1, ${OracleFrag.mix2("fp")} AS m2 FROM ck),
         |cpos AS (SELECT DISTINCT ${OracleFrag.sketchPos("m1", "m2", "i", 65536)} AS pos
         |         FROM cm CROSS JOIN range(0, 4) t(i)),
         |bm AS (SELECT doc_id, fp, ${OracleFrag.mix1("fp")} AS m1, ${OracleFrag.mix2("fp")} AS m2
         |       FROM f WHERE doc_id % 2 = 1)
         |SELECT doc_id,
         |  bool_and(${OracleFrag.sketchPos("m1", "m2", "i", 65536)}
         |    IN (SELECT pos FROM cpos)) AS maybe_member
         |FROM bm CROSS JOIN range(0, 4) t(i) GROUP BY 1
         |ORDER BY doc_id""".stripMargin,
    // CMS replayed cell-for-cell: the same double-hash walk drops every
    // word OCCURRENCE into 4 of 4x2048 counters; the probe takes the MIN
    // of its 4 cells — `over` must be >= 0 on every row (the deterministic
    // CMS guarantee, visible in the data)
    "d_freq_sketch" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |occ AS (SELECT unnest(list_transform(ws, __w -> ${OracleFrag.poly57("__w")})) AS h FROM w),
         |mx AS (SELECT h, ${OracleFrag.mix1("h")} AS m1, ${OracleFrag.mix2("h")} AS m2 FROM occ),
         |cells AS (SELECT i AS r, ${OracleFrag.sketchPos("m1", "m2", "i", 2048)} AS c,
         |            COUNT(*) AS cnt
         |          FROM mx CROSS JOIN range(0, 4) t(i) GROUP BY 1, 2),
         |top AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_exact FROM occ GROUP BY h
         |        ORDER BY n_exact DESC, h LIMIT 30),
         |tp AS (SELECT h, n_exact, ${OracleFrag.mix1("h")} AS m1, ${OracleFrag.mix2("h")} AS m2 FROM top),
         |est AS (SELECT tp.h, tp.n_exact, MIN(COALESCE(cells.cnt, 0)) AS n_est
         |        FROM tp CROSS JOIN range(0, 4) t(i)
         |        LEFT JOIN cells ON cells.r = i
         |          AND cells.c = ${OracleFrag.sketchPos("m1", "m2", "i", 2048)}
         |        GROUP BY 1, 2)
         |SELECT h AS w_hash, n_exact, CAST(n_est AS BIGINT) AS n_est,
         |  CAST(n_est - n_exact AS BIGINT) AS "over"
         |FROM est ORDER BY n_exact DESC, w_hash""".stripMargin,
    // Mergeability proof: oracle ignores the sharding — summed per-shard
    // counters must answer point queries exactly like the one-shot sketch
    "d_freq_sketch_merged" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |occ AS (SELECT unnest(list_transform(ws, __w -> ${OracleFrag.poly57("__w")})) AS h FROM w),
         |mx AS (SELECT h, ${OracleFrag.mix1("h")} AS m1, ${OracleFrag.mix2("h")} AS m2 FROM occ),
         |cells AS (SELECT i AS r, ${OracleFrag.sketchPos("m1", "m2", "i", 2048)} AS c,
         |            COUNT(*) AS cnt
         |          FROM mx CROSS JOIN range(0, 4) t(i) GROUP BY 1, 2),
         |top AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_exact FROM occ GROUP BY h
         |        ORDER BY n_exact DESC, h LIMIT 30),
         |tp AS (SELECT h, ${OracleFrag.mix1("h")} AS m1, ${OracleFrag.mix2("h")} AS m2 FROM top)
         |SELECT tp.h AS w_hash, CAST(MIN(COALESCE(cells.cnt, 0)) AS BIGINT) AS n_est
         |FROM tp CROSS JOIN range(0, 4) t(i)
         |LEFT JOIN cells ON cells.r = i
         |  AND cells.c = ${OracleFrag.sketchPos("m1", "m2", "i", 2048)}
         |GROUP BY 1 ORDER BY w_hash""".stripMargin,
    // Histogram quantile sketch replayed: same integer bucket map (DIV,
    // clamped edges), same ceil-rank rule, estimate = upper bucket edge
    "d_quantile_sketch" ->
      s"""WITH hb AS (SELECT source,
         |    LEAST(63, GREATEST(0, (n_chars * 64) // 1024)) AS b FROM documents),
         |hc AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM hb GROUP BY 1, 2),
         |cum AS (SELECT source, b, cnt,
         |          SUM(cnt) OVER (PARTITION BY source ORDER BY b) AS cum,
         |          SUM(cnt) OVER (PARTITION BY source) AS n FROM hc),
         |sel AS (SELECT source, pct, n, b, cum,
         |          row_number() OVER (PARTITION BY source, pct ORDER BY b) AS rn
         |        FROM cum CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct)
         |        WHERE cum >= (n * pct + 99) // 100)
         |SELECT source, CAST(pct AS INT) AS pct, CAST(n AS BIGINT) AS n,
         |  CAST(cum AS BIGINT) AS n_le_est, CAST((b + 1) * 16 AS BIGINT) AS est
         |FROM sel WHERE rn = 1 ORDER BY source, pct""".stripMargin,
    // Mergeability proof: oracle ignores the sharding — summed per-shard
    // histograms must read identical quantiles
    "d_quantile_sketch_merged" ->
      s"""WITH hb AS (SELECT source,
         |    LEAST(63, GREATEST(0, (n_chars * 64) // 1024)) AS b FROM documents),
         |hc AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM hb GROUP BY 1, 2),
         |cum AS (SELECT source, b, cnt,
         |          SUM(cnt) OVER (PARTITION BY source ORDER BY b) AS cum,
         |          SUM(cnt) OVER (PARTITION BY source) AS n FROM hc),
         |sel AS (SELECT source, pct, n, b, cum,
         |          row_number() OVER (PARTITION BY source, pct ORDER BY b) AS rn
         |        FROM cum CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct)
         |        WHERE cum >= (n * pct + 99) // 100)
         |SELECT source, CAST(pct AS INT) AS pct, CAST(n AS BIGINT) AS n,
         |  CAST(cum AS BIGINT) AS n_le_est, CAST((b + 1) * 16 AS BIGINT) AS est
         |FROM sel WHERE rn = 1 ORDER BY source, pct""".stripMargin,
    // Winnow pairs replayed: same k-gram poly-57 list, the same
    // rightmost-min window selection (winnowSelected mirrors the kernel's
    // tie rule), per-doc distinct, df-prune [2, 50], pair counts
    "d_dedup_winnow" ->
      s"""WITH $winnowPairCtes
         |SELECT ia AS "idA", ib AS "idB", CAST(ns AS BIGINT) AS n_shared
         |FROM p WHERE ns >= 2 ORDER BY 1, 2""".stripMargin,
    // Winnow index probe replayed: per-side fingerprint sets, df-prune
    // on the UNION's document frequency, batch x corpus pair counts
    "d_dedup_winnow_vs_index" ->
      s"""WITH gA AS (SELECT doc_id,
         |    list_transform(range(1, length(text) - 30 + 2),
         |      i -> ${OracleFrag.poly57("substr(text, CAST(i AS INT), 30)")}) AS g
         |  FROM documents WHERE doc_id >= 250 AND length(text) >= 30),
         |sA AS (SELECT doc_id, unnest(${OracleFrag.winnowSelected("g", 10)}) AS h FROM gA),
         |gB AS (SELECT doc_id,
         |    list_transform(range(1, length(text) - 30 + 2),
         |      i -> ${OracleFrag.poly57("substr(text, CAST(i AS INT), 30)")}) AS g
         |  FROM documents WHERE doc_id < 250 AND length(text) >= 30),
         |sB AS (SELECT doc_id, unnest(${OracleFrag.winnowSelected("g", 10)}) AS h FROM gB),
         |dfh AS (SELECT h FROM (SELECT h FROM sA UNION ALL SELECT h FROM sB)
         |        GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50),
         |p AS (SELECT sA.doc_id AS bid, sB.doc_id AS cid, COUNT(*) AS ns
         |      FROM sA JOIN dfh USING (h) JOIN sB ON sA.h = sB.h
         |      GROUP BY 1, 2)
         |SELECT bid AS doc_id, cid AS corpus_id, CAST(ns AS BIGINT) AS n_shared
         |FROM p WHERE ns >= 2 ORDER BY 1, 2""".stripMargin,
    // Winnow pairs closed into components recursively, survivors kept —
    // the same reach/comp closure the minhash removal oracle proves
    "d_dedup_winnow_removal" ->
      s"""WITH RECURSIVE $winnowPairCtes,
         |pr AS (SELECT ia, ib FROM p WHERE ns >= 2),
         |e AS (SELECT ia AS a, ib AS b FROM pr UNION SELECT ib, ia FROM pr),
         |reach(node, r) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.a, reach.r FROM e JOIN reach ON reach.node = e.b),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
         |SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node != component)
         |ORDER BY d.doc_id""".stripMargin,
    // Probe stage: batch windows whose hash appears anywhere in the
    // corpus half — the distinct-hash membership semantics, replayed
    "d_dedup_passages_vs_index" ->
      s"""WITH ih AS (SELECT DISTINCT ${OracleFrag.poly57("substr(text, i*20 + 1, 60)")} AS h
         |  FROM documents, LATERAL (SELECT unnest(range(0,
         |    GREATEST((length(text) - 60) // 20 + 1, 0))) AS i)
         |  WHERE doc_id < 250 AND length(text) >= 60),
         |occ AS (SELECT doc_id, i*20 AS s,
         |    ${OracleFrag.poly57("substr(text, i*20 + 1, 60)")} AS h
         |  FROM documents, LATERAL (SELECT unnest(range(0,
         |    GREATEST((length(text) - 60) // 20 + 1, 0))) AS i)
         |  WHERE doc_id >= 250 AND length(text) >= 60)
         |SELECT occ.doc_id, CAST(occ.s AS INT) AS char_start
         |FROM occ JOIN ih USING (h) ORDER BY 1, 2""".stripMargin,
    // Redact → admit composed: the shared redaction formulation nested as
    // a CTE, kept-token counts over kept_text, the same per-source
    // running-sum admission window as d_pipeline_prep
    "d_pipeline_redact" ->
      s"""WITH red AS (${passagesRedactOracleSql("")}),
         |rk AS (SELECT red.doc_id, d.source,
         |         CAST(COALESCE(len(${OracleFrag.ws("red.kept_text")}), 0) AS INT) AS n_tokens
         |       FROM red JOIN documents d ON red.doc_id = d.doc_id
         |       WHERE red.kept_text IS NOT NULL),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(SUM(CAST(n_tokens AS BIGINT)) OVER (
         |          PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM rk)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 4000 ORDER BY doc_id""".stripMargin,
    // The card is the redaction result re-aggregated per source — the
    // oracle nests the shared full-corpus formulation verbatim
    "d_dedup_passage_rates" ->
      s"""SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN j.n_dup_chars > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
         |  CAST(SUM(CASE WHEN j.n_chars IS NOT NULL AND j.kept_text IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(SUM(COALESCE(j.n_chars, 0)) AS BIGINT) AS sum_chars,
         |  CAST(SUM(COALESCE(j.n_dup_chars, 0)) AS BIGINT) AS dup_chars,
         |  round(CAST(SUM(COALESCE(j.n_dup_chars, 0)) AS DOUBLE)
         |    / CAST(SUM(COALESCE(j.n_chars, 0)) AS DOUBLE), 6) AS dup_char_rate
         |FROM (${passagesRedactOracleSql("")}) j
         |JOIN documents d ON j.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "d_dedup_passages" ->
      s"""WITH h AS (SELECT doc_id,
         |    ${OracleFrag.poly57("substr(text, i*20 + 1, 60)")} AS h
         |  FROM documents, LATERAL (SELECT unnest(range(0,
         |    GREATEST((length(text) - 60) // 20 + 1, 0))) AS i)
         |  WHERE length(text) >= 60),
         |rare AS (SELECT h FROM h GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 50),
         |hh AS (SELECT h.doc_id, h.h FROM h JOIN rare USING (h)),
         |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(DISTINCT a.h) AS ns
         |      FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT ia AS "idA", ib AS "idB", CAST(ns AS BIGINT) AS n_shared
         |FROM p WHERE ns >= 2 ORDER BY 1, 2""".stripMargin,
    // The pair CTEs are d_dedup_minhash's verbatim; the closure is a
    // RECURSIVE reachability fixpoint — true transitive components, which
    // the one closure must reproduce exactly on both sides of its edge
    // cap (driver union-find and distributed large-star/small-star).
    "d_dedup_clusters" -> clustersOracleSql,
    "d_dedup_clusters_star" -> clustersOracleSql,
    "d_dedup_removal" -> removalOracleSql,
    // Quality-aware removal replayed: same reachability closure, the
    // representative re-derived per component by (n_chars DESC, node) —
    // an INDEPENDENT row_number formulation of the max_by choice
    "d_dedup_removal_best" ->
      s"""$clustersCtes,
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |cq AS (SELECT comp.node, comp.component, d.n_chars
         |       FROM comp JOIN documents d ON d.doc_id = comp.node),
         |rep AS (SELECT component, node AS keep FROM (
         |  SELECT component, node,
         |    row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, node) AS rn
         |  FROM cq) WHERE rn = 1),
         |losers AS (SELECT cq.node FROM cq JOIN rep ON rep.component = cq.component
         |           WHERE cq.node != rep.keep)
         |SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY d.doc_id""".stripMargin,
    // The removal closure grouped per source: docs in, survivors, dup rate
    "d_dedup_rates" ->
      s"""$clustersCtes,
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |losers AS (SELECT node FROM comp WHERE node != component)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT node FROM losers) THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |  round(CAST(SUM(CASE WHEN doc_id IN (SELECT node FROM losers) THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // Mirrors TextAnalysis.repetitionSignals: same normalized words, same
    // bigram construction, mode via per-(doc, bigram) counts.
    "d_text_repetition" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |b AS (SELECT doc_id, ws FROM w WHERE len(ws) > 0),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), __i ->
         |         ws[__i] || ' ' || ws[__i+1])) AS g FROM b WHERE len(ws) >= 2),
         |bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |m AS (SELECT doc_id, MAX(c) AS maxc, SUM(c) AS nbg FROM bgc GROUP BY 1)
         |SELECT b.doc_id, CAST(len(b.ws) AS INT) AS n_words,
         |  round(1.0 - len(list_distinct(b.ws)) / CAST(len(b.ws) AS DOUBLE), 6) AS dup_word_frac,
         |  round(COALESCE(m.maxc / CAST(m.nbg AS DOUBLE), 0.0), 6) AS top_bigram_frac
         |FROM b LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Membership recomputed from the same two-step Lehmer hash.
    "d_sample_hash" ->
      s"""SELECT doc_id, source, ${OracleFrag.unitHash("doc_id")} AS u
         |FROM documents
         |WHERE ${OracleFrag.unitHash("doc_id")} < ${(0.25 * 2147483647L).toLong}
         |ORDER BY doc_id""".stripMargin,
    "d_sample_stratified" ->
      s"""SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
         |  SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source ORDER BY ${OracleFrag.unitHash("doc_id")}, doc_id) AS rk
         |  FROM documents) WHERE rk <= 8 ORDER BY doc_id""".stripMargin,
    // Per-stratum cutoffs recomputed with the same (fraction * (2^31-1))
    // long truncation the operator applies.
    "d_sample_stratified_frac" ->
      s"""SELECT doc_id, source, ${OracleFrag.unitHash("doc_id")} AS u
         |FROM documents
         |WHERE ${OracleFrag.unitHash("doc_id")} < CASE source
         |  WHEN 'src0' THEN ${(1.0 * 2147483647L).toLong}
         |  WHEN 'src1' THEN ${(0.1 * 2147483647L).toLong}
         |  WHEN 'src2' THEN ${(0.0 * 2147483647L).toLong}
         |  ELSE ${(0.4 * 2147483647L).toLong} END
         |ORDER BY doc_id""".stripMargin,
    // Mirrors TextAnalysis.unigramSurprisal: same tokenization, same
    // corpus-wide unigram distribution, mean -ln p(w) rounded at 6.
    "d_text_surprisal" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM w),
         |cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
         |t AS (SELECT SUM(c) AS n FROM cnt)
         |SELECT tok.doc_id,
         |  CAST(COUNT(*) AS INT) AS n_words,
         |  round(-(CAST(SUM(CAST(ln(cnt.c / CAST(t.n AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE)
         |    / COUNT(*)), 6) AS surprisal
         |FROM tok JOIN cnt USING (w), t
         |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin,
    // Bigram surprisal replayed: same interpolation in the same IEEE
    // double shape (λ=3/4 exactly representable; Java Math.log ≡ DuckDB
    // ln bit-for-bit), DECIMAL(38,18) ln accumulation like the unigram row
    "d_text_surprisal2" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM w),
         |t AS (SELECT COUNT(*) AS n FROM tok),
         |uni AS (SELECT w, COUNT(*) AS cu FROM tok GROUP BY 1),
         |b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |        __i -> [ws[__i], ws[__i + 1]])) AS pr
         |      FROM w WHERE len(ws) >= 2),
         |bp AS (SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM b),
         |bgc AS (SELECT w1, w2, COUNT(*) AS cb FROM bp GROUP BY 1, 2),
         |pc AS (SELECT w1, COUNT(*) AS cp FROM bp GROUP BY 1)
         |SELECT bp.doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
         |  round(-(CAST(SUM(CAST(ln(
         |      0.75 * (CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE))
         |      + 0.25 * (CAST(cu AS DOUBLE) / CAST(t.n AS DOUBLE))
         |    ) AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)), 6) AS surprisal2
         |FROM bp JOIN bgc USING (w1, w2) JOIN pc USING (w1)
         |  JOIN uni ON uni.w = bp.w2, t
         |GROUP BY bp.doc_id ORDER BY bp.doc_id""".stripMargin,
    // Source-drift card replayed: same (source, word) / word count
    // tables, same double shapes for p_s and p_c, DECIMAL(38,18) ln-term
    // accumulation (the surprisal convention)
    "d_source_kl" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |tok AS (SELECT source, unnest(ws) AS w FROM w),
         |sw AS (SELECT source, w, COUNT(*) AS csw FROM tok GROUP BY 1, 2),
         |cw AS (SELECT w, SUM(csw) AS cwc FROM sw GROUP BY 1),
         |t AS (SELECT SUM(cwc) AS n FROM cw),
         |ns AS (SELECT source, SUM(csw) AS nsrc FROM sw GROUP BY 1)
         |SELECT sw.source,
         |  CAST(MAX(nsrc) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_vocab,
         |  round(CAST(SUM(CAST(
         |      (CAST(csw AS DOUBLE) / CAST(nsrc AS DOUBLE))
         |        * ln((CAST(csw AS DOUBLE) / CAST(nsrc AS DOUBLE))
         |              / (CAST(cwc AS DOUBLE) / CAST(t.n AS DOUBLE)))
         |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl,
         |  round(-CAST(SUM(CAST(
         |      (CAST(csw AS DOUBLE) / CAST(nsrc AS DOUBLE))
         |        * ln(CAST(csw AS DOUBLE) / CAST(nsrc AS DOUBLE))
         |    AS DECIMAL(38,18))) AS DOUBLE), 6) AS entropy
         |FROM sw JOIN cw USING (w) JOIN ns USING (source), t
         |GROUP BY sw.source ORDER BY sw.source""".stripMargin,
    // Manifest replayed: same Lehmer shard hash, same rolling fingerprint,
    // XOR and exact-HUGEINT-sum-then-mod folds recomputed per cell
    "d_corpus_manifest" -> CorpusManifestSql,
    // The incremental update's oracle IS the full recompute: combine's
    // whole claim is combine(snapshot(A), snapshot(B)) = snapshot(A ∪ B),
    // so the two keys share one SQL string
    "d_manifest_update" -> CorpusManifestSql,
    // Mirrors d_corpus_stats: same analysis fragments, DECIMAL(38,4)-exact
    // quality mean, language-mix count.
    "d_corpus_stats" ->
      s"""WITH ${OracleFrag.docAnalysisCtes(", source, n_chars")},
         |a AS (
         |  SELECT doc_id, source, n_chars,
         |    ${OracleFrag.langGuessExpr} AS lang_guess,
         |    ${OracleFrag.qualityExpr} AS quality,
         |    CAST(len(ws) AS INT) AS n_tokens
         |  FROM s)
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars,
         |  CAST(SUM(CAST(quality AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*) AS avg_quality,
         |  MIN(quality) AS min_quality, MAX(quality) AS max_quality,
         |  CAST(SUM(CASE WHEN lang_guess = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
         |FROM a GROUP BY source ORDER BY source""".stripMargin,
    // Mirrors Sampling.mixtureSample: same availability counts, IEEE
    // double feasibility min, floored quotas, hash-ranked keep. The quota
    // join is null-safe (IS NOT DISTINCT FROM) like Sampling's
    // joinOnStratum — a NULL stratum samples under the default weight.
    "d_mixture_sample" ->
      s"""WITH cnt AS (SELECT source, COUNT(*) AS avail FROM documents GROUP BY 1),
         |w AS (SELECT source, avail, CASE source
         |        WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0 ELSE 0.5 END AS wt
         |      FROM cnt),
         |t AS (SELECT MIN(avail / wt) AS tmax FROM w WHERE wt > 0),
         |q AS (SELECT source, CAST(FLOOR(tmax * wt) AS BIGINT) AS quota
         |      FROM w, t WHERE wt > 0),
         |r AS (SELECT doc_id, source, row_number() OVER (
         |        PARTITION BY source ORDER BY ${OracleFrag.unitHash("doc_id")}, doc_id) AS rk
         |      FROM documents)
         |SELECT r.doc_id, r.source, CAST(r.rk AS INT) AS rk
         |FROM r JOIN q ON r.source IS NOT DISTINCT FROM q.source
         |WHERE r.rk <= q.quota
         |ORDER BY doc_id""".stripMargin,
    // Epoch upsampling replayed: same per-source floor/frac-cut integer
    // literals (floored once, here at SQL-build time), same Lehmer unit
    // hash, LATERAL range materializes the epoch rows
    "d_mixture_epochs" ->
      s"""WITH f AS (SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 1
         |         WHEN source = 'src2' THEN 0 ELSE 0 END AS nfull,
         |    CASE WHEN source = 'src0' THEN ${(0.5 * 2147483647.0).toLong}
         |         WHEN source = 'src1' THEN 0 WHEN source = 'src2' THEN 0
         |         ELSE ${(0.25 * 2147483647.0).toLong} END AS fcut,
         |    ${OracleFrag.unitHash("doc_id")} AS u FROM documents),
         |n AS (SELECT doc_id, source,
         |        nfull + CASE WHEN u < fcut THEN 1 ELSE 0 END AS n FROM f)
         |SELECT doc_id, source, CAST(e AS INT) AS epoch
         |FROM n, LATERAL (SELECT unnest(range(1, n + 1)) AS e)
         |ORDER BY doc_id, epoch""".stripMargin,
    // Per-source quantile profile replayed: same histogram, same
    // discrete lower-quantile rule (DECIMAL literals on both sides, so
    // CEIL(q*n) has no float boundary)
    "d_length_quantiles" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |tk AS (SELECT source, COALESCE(CAST(len(ws) AS INT), 0) AS v FROM w),
         |hh AS (SELECT source, v, COUNT(*) AS c FROM tk GROUP BY 1, 2),
         |t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hh GROUP BY 1),
         |cc AS (SELECT source, v, SUM(c) OVER (PARTITION BY source ORDER BY v
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hh)
         |SELECT t.source, t.n AS n_rows,
         |  CAST(MIN(CASE WHEN cc.cum >= CEIL(0.5 * t.n) THEN cc.v END) AS INT) AS p50,
         |  CAST(MIN(CASE WHEN cc.cum >= CEIL(0.9 * t.n) THEN cc.v END) AS INT) AS p90,
         |  CAST(MIN(CASE WHEN cc.cum >= CEIL(0.99 * t.n) THEN cc.v END) AS INT) AS p99
         |FROM cc JOIN t ON cc.source = t.source
         |GROUP BY t.source, t.n ORDER BY t.source""".stripMargin,
    // Length-bucket card: the same integer-only <=-chain over 2^k
    // literals (no float log2 on either side), same global-max padding
    // baseline, same 6-decimal savings rounding
    "d_length_buckets" ->
      s"""WITH tk AS (SELECT COALESCE(CAST(len(${OracleFrag.ws("text")}) AS BIGINT), 0) AS ntok
         |  FROM documents),
         |b AS (SELECT ntok, CASE WHEN ntok <= 1 THEN 1 ${(1 to 20).map(k =>
                 s"WHEN ntok <= ${1L << k} THEN ${1L << k}").mkString(" ")} END AS bucket
         |  FROM tk),
         |g AS (SELECT MAX(ntok) AS gmax FROM tk)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
         |  CAST(COUNT(*) * bucket AS BIGINT) AS pad_bucket,
         |  CAST(COUNT(*) * (SELECT gmax FROM g) AS BIGINT) AS pad_global,
         |  round(1.0 - CAST(COUNT(*) * bucket AS DOUBLE)
         |    / CAST(COUNT(*) * (SELECT gmax FROM g) AS DOUBLE), 6) AS savings
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // Token-quota mixture replayed: per-source token sums, the same
    // feasibility min and floor, and the inclusive running token total in
    // (unitHash, id) order — the boundary document cut is `cum <= quota`
    // in both engines
    "d_mixture_tokens" ->
      s"""WITH w AS (SELECT doc_id, source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |tk AS (SELECT doc_id, source, CAST(len(ws) AS INT) AS ntok,
         |        ${OracleFrag.unitHash("doc_id")} AS u FROM w),
         |av AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS avail FROM tk GROUP BY 1),
         |wt AS (SELECT source, avail, CASE source
         |        WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0 ELSE 0.5 END AS wt
         |      FROM av),
         |t AS (SELECT MIN(CAST(avail AS DOUBLE) / wt) AS tmax FROM wt WHERE wt > 0),
         |q AS (SELECT source, CAST(FLOOR(tmax * wt) AS BIGINT) AS quota
         |      FROM wt, t WHERE wt > 0),
         |r AS (SELECT doc_id, source, ntok,
         |        CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY u, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM tk)
         |SELECT r.doc_id, r.source, r.ntok AS "nTokens", r.cum AS "cumTokens"
         |FROM r JOIN q ON r.source IS NOT DISTINCT FROM q.source
         |WHERE r.cum <= q.quota
         |ORDER BY doc_id""".stripMargin,
    // Same quota machinery over the DERIVED language stratum (the shared
    // analyzer fragments compute langGuess); weights 1.0/0.25 are exact
    // binary fractions, so decimal-vs-double division cannot drift
    "d_mixture_lang" ->
      s"""WITH ${OracleFrag.docAnalysisCtes()},
         |lg AS (SELECT doc_id, ${OracleFrag.langGuessExpr} AS lang FROM s),
         |cnt AS (SELECT lang, COUNT(*) AS avail FROM lg GROUP BY 1),
         |lw AS (SELECT lang, avail, CASE lang
         |        WHEN 'en' THEN 1.0 WHEN 'de' THEN 1.0
         |        WHEN 'fr' THEN 1.0 WHEN 'es' THEN 1.0 ELSE 0.25 END AS wt
         |      FROM cnt),
         |t AS (SELECT MIN(avail / wt) AS tmax FROM lw WHERE wt > 0),
         |q AS (SELECT lang, CAST(FLOOR(tmax * wt) AS BIGINT) AS quota
         |      FROM lw, t WHERE wt > 0),
         |r AS (SELECT doc_id, lang, row_number() OVER (
         |        PARTITION BY lang ORDER BY ${OracleFrag.unitHash("doc_id")}, doc_id) AS rk
         |      FROM lg)
         |SELECT r.doc_id, r.lang AS "langGuess", CAST(r.rk AS INT) AS rk
         |FROM r JOIN q ON r.lang IS NOT DISTINCT FROM q.lang
         |WHERE r.rk <= q.quota
         |ORDER BY doc_id""".stripMargin,
    // Same quota machinery with wt = avail^0.7 — the tmax expression
    // mirrors Spark's exact formula shape (avail/wt, not avail^0.3) and
    // the relative-1e-12 + absolute-1e-9 epsilon before FLOOR matches
    // Sampling's guard against a last-ulp pow() difference flipping the
    // floor at exact integers (relative, because one ulp of a large
    // product outgrows any absolute epsilon)
    "d_mixture_temp" ->
      s"""WITH cnt AS (SELECT source, COUNT(*) AS avail FROM documents GROUP BY 1),
         |w AS (SELECT source, avail, pow(CAST(avail AS DOUBLE), 0.7) AS wt FROM cnt),
         |t AS (SELECT MIN(CAST(avail AS DOUBLE) / wt) AS tmax FROM w),
         |q AS (SELECT source, CAST(FLOOR(tmax * wt * (1 + 1e-12) + 1e-9) AS BIGINT) AS quota
         |      FROM w, t),
         |r AS (SELECT doc_id, source, row_number() OVER (
         |        PARTITION BY source ORDER BY ${OracleFrag.unitHash("doc_id")}, doc_id) AS rk
         |      FROM documents)
         |SELECT r.doc_id, r.source, CAST(r.rk AS INT) AS rk
         |FROM r JOIN q ON r.source IS NOT DISTINCT FROM q.source
         |WHERE r.rk <= q.quota
         |ORDER BY doc_id""".stripMargin,
    // Mirrors Quantile.selectTopFraction: same histogram → running count →
    // k-th-best cutoff (k = ceil(frac·n)) → >= filter with ties kept.
    "d_quality_topq" ->
      s"""WITH ${OracleFrag.docAnalysisCtes()},
         |a AS (SELECT doc_id, ${OracleFrag.qualityExpr} AS quality FROM s),
         |hh AS (SELECT quality AS v, COUNT(*) AS c FROM a GROUP BY 1),
         |t AS (SELECT SUM(c) AS n FROM hh),
         |cc AS (SELECT v, SUM(c) OVER (ORDER BY v DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hh),
         |cut AS (SELECT MAX(v) AS cutv FROM cc, t WHERE cum >= CEIL(0.25 * n))
         |SELECT doc_id, quality FROM a, cut WHERE quality >= cutv
         |ORDER BY doc_id""".stripMargin,
    // Curriculum replayed: ascending cumulative histogram, the same
    // integer ceil-division phase boundary, phases joined back by score
    "d_curriculum" ->
      s"""WITH ${OracleFrag.docAnalysisCtes()},
         |a AS (SELECT doc_id, ${OracleFrag.qualityExpr} AS quality FROM s),
         |hh AS (SELECT quality AS v, COUNT(*) AS c FROM a GROUP BY 1),
         |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hh),
         |cc AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v ASC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM hh),
         |ph AS (SELECT v, CAST((cum * 4 + n - 1) // n AS INT) AS phase FROM cc, t)
         |SELECT a.doc_id, a.quality, ph.phase
         |FROM a JOIN ph ON a.quality = ph.v ORDER BY a.doc_id""".stripMargin,
    // Same epoch salt + Lehmer hash + shard mod + per-shard rank.
    "d_epoch_shards" ->
      s"""WITH t AS (SELECT doc_id,
         |  ${OracleFrag.unitHash(s"(doc_id + ${3L * 2654435761L})")} AS u
         |  FROM documents)
         |SELECT doc_id, CAST(u % 16 AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY u % 16 ORDER BY u, doc_id) AS INT) AS pos
         |FROM t ORDER BY doc_id""".stripMargin,
    // Naive-window oracle again: exclusive prefix offsets + integer
    // chunk division.
    "d_pack_sequences" ->
      """SELECT doc_id, n_chars,
        |  CAST(cum - n_chars AS BIGINT) AS "offset",
        |  CAST((cum - n_chars) // 2048 AS BIGINT) AS chunk,
        |  CAST((cum - n_chars) % 2048 AS BIGINT) AS chunk_pos
        |FROM (
        |  SELECT doc_id, n_chars,
        |    SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // Same epoch salt/hash/shard/pos as d_epoch_shards, then the naive
    // per-shard running-sum window and per-shard chunk math.
    "d_epoch_pack" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  ${OracleFrag.unitHash(s"(doc_id + ${3L * 2654435761L})")} AS u
         |  FROM documents),
         |s AS (SELECT doc_id, n_chars, CAST(u % 16 AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY u % 16 ORDER BY u, doc_id) AS INT) AS pos
         |  FROM t),
         |p AS (SELECT doc_id, shard, pos,
         |  CAST(SUM(n_chars) OVER (PARTITION BY shard ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT)
         |    AS "offset"
         |  FROM s)
         |SELECT doc_id, shard, pos, "offset",
         |  CAST("offset" // 2048 AS BIGINT) AS chunk,
         |  CAST("offset" % 2048 AS BIGINT) AS chunk_pos
         |FROM p ORDER BY doc_id""".stripMargin,
    // Chunk-span recompute from the naive window: per doc, generate_series
    // over its inclusive chunk range and clip the span to each chunk —
    // equality proves the explode materialization re-derives exactly the
    // spans the offsets imply.
    "d_pack_examples" ->
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS off
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, n_chars, off,
        |    unnest(generate_series(off // 2048, (off + n_chars - 1) // 2048)) AS chunk
        |  FROM p WHERE n_chars > 0)
        |SELECT CAST(chunk AS BIGINT) AS chunk, doc_id,
        |  CAST(greatest(off, chunk * 2048) - off AS BIGINT) AS doc_offset,
        |  CAST(least(off + n_chars, (chunk + 1) * 2048)
        |       - greatest(off, chunk * 2048) AS BIGINT) AS len,
        |  CAST(greatest(off, chunk * 2048) - chunk * 2048 AS BIGINT) AS chunk_pos
        |FROM e ORDER BY doc_id, chunk""".stripMargin,
    // The oracle IS the naive one-task global running-sum window the
    // bucketed two-stage plan replaces — equality proves the parallel
    // prefix sum is exact.
    "d_budget_global" ->
      """SELECT doc_id, n_chars, cum FROM (
        |  SELECT doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM documents)
        |WHERE cum <= 60000 ORDER BY doc_id""".stripMargin,
    // Mirrors Dedup.ngramJaccardPairs formula-for-formula: same poly-57
    // shingle hashes, df-prune window [2, maxDf], pre-prune sizes.
    "d_dedup_ngram" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS hs FROM w),
         |d AS (SELECT doc_id, len(hs) AS nsh, unnest(hs) AS sh FROM h WHERE len(hs) > 0),
         |rare AS (SELECT sh FROM d GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 100),
         |ds AS (SELECT d.doc_id, d.nsh, d.sh FROM d JOIN rare USING (sh)),
         |shared AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.nsh AS na, b.nsh AS nb, COUNT(*) AS sh
         |  FROM ds a JOIN ds b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT ia AS "idA", ib AS "idB",
         |  round(sh / CAST(na + nb - sh AS DOUBLE), 6) AS jaccard
         |FROM shared
         |WHERE round(sh / CAST(na + nb - sh AS DOUBLE), 6) >= 0.1
         |ORDER BY 1, 2""".stripMargin,
    // Mirrors Dedup.minhashLshPairs: poly-57 shingle hashes → 32-function
    // signature → 8 bands × 4 rows (array-slice keys) → distinct pairs →
    // estJaccard = matching positions / 32 (exact in binary).
    "d_dedup_minhash" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS shs FROM w),
         |s AS (SELECT doc_id, ${OracleFrag.minhashSig("shs", 32)} AS sig FROM h WHERE len(shs) > 0),
         |bd AS (SELECT s.doc_id, s.sig, bb.b AS band,
         |         array_slice(s.sig, bb.b*4 + 1, bb.b*4 + 4) AS bkey
         |       FROM s CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb),
         |p AS (SELECT DISTINCT a.doc_id AS ia, c.doc_id AS ib
         |      FROM bd a JOIN bd c ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id),
         |sc AS (SELECT p.ia, p.ib,
         |        CAST(list_sum(list_transform(range(1, 33),
         |          __i -> CASE WHEN sa.sig[__i] = sb.sig[__i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS ej
         |       FROM p JOIN s sa ON sa.doc_id = p.ia JOIN s sb ON sb.doc_id = p.ib)
         |SELECT ia AS "idA", ib AS "idB", ej AS "estJaccard"
         |FROM sc WHERE ej >= 0.3 ORDER BY 1, 2""".stripMargin,
    // The index probe replayed: same signatures, same banding, restricted
    // to (batch ≥ 250) × (index < 250) — the within-batch oracle's split
    // sibling
    "d_dedup_minhash_vs_index" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT doc_id, ${OracleFrag.shingleHashes("ws")} AS shs FROM w),
         |s AS (SELECT doc_id, ${OracleFrag.minhashSig("shs", 32)} AS sig FROM h WHERE len(shs) > 0),
         |bd AS (SELECT s.doc_id, s.sig, bb.b AS band,
         |         array_slice(s.sig, bb.b*4 + 1, bb.b*4 + 4) AS bkey
         |       FROM s CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bb),
         |p AS (SELECT DISTINCT b.doc_id AS did, i.doc_id AS cid
         |      FROM bd b JOIN bd i ON b.band = i.band AND b.bkey = i.bkey
         |      WHERE b.doc_id >= 250 AND i.doc_id < 250),
         |sc AS (SELECT p.did, p.cid,
         |        CAST(list_sum(list_transform(range(1, 33),
         |          __i -> CASE WHEN sa.sig[__i] = sb.sig[__i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32.0 AS ej
         |       FROM p JOIN s sa ON sa.doc_id = p.did JOIN s sb ON sb.doc_id = p.cid)
         |SELECT did AS doc_id, cid AS "corpusId", ej AS "estJaccard"
         |FROM sc WHERE ej >= 0.3 ORDER BY 1, 2""".stripMargin,
    // BRUTE-FORCE oracle (all pairs, exact Hamming ≤ 3): stronger than a
    // mirror — it also proves the 4-block pigeonhole bucketing loses no pair.
    "d_dedup_simhash" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |s AS (SELECT doc_id, ${OracleFrag.simhash31("ws")} AS sim FROM w WHERE len(ws) > 0)
         |SELECT a.doc_id AS "idA", c.doc_id AS "idB",
         |  CAST(bit_count(xor(a.sim, c.sim)) AS INT) AS dist
         |FROM s a JOIN s c ON a.doc_id < c.doc_id
         |WHERE bit_count(xor(a.sim, c.sim)) <= 3
         |ORDER BY 1, 2""".stripMargin,
    // Mirrors Dedup.cosineNearDupPairs under constant-occupancy sizing:
    // 8 bands of planesForCorpus(count(*)) deterministic hyperplanes —
    // the SQL recomputes the plane count from the corpus count and
    // evaluates the same sign formula with the plane index a runtime
    // variable (OracleFrag.adaptive*), then exact sequential-fold cosine.
    "d_dedup_cosine_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.adaptivePlanesCtes("SELECT count(*) FROM embeddings", bands = 8)},
         |${OracleFrag.adaptiveBandCte("bd", bands = 8)},
         |p AS (SELECT DISTINCT a.vec_id AS ia, c.vec_id AS ib
         |      FROM bd a JOIN bd c ON a.band = c.band AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |sc AS (SELECT p.ia, p.ib,
         |        round(${OracleFrag.dot64("na.v", "nb.v")} / (na.nrm * nb.nrm), 6) AS cosine
         |       FROM p JOIN n na ON na.vec_id = p.ia JOIN n nb ON nb.vec_id = p.ib)
         |SELECT ia AS "idA", ib AS "idB", cosine
         |FROM sc WHERE cosine >= 0.3 ORDER BY 1, 2""".stripMargin,
    // The cosine index probe replayed: same 8×4 banding, restricted to
    // (batch ≥ 250) × (index < 250), exact-cosine verify — the split
    // sibling of the d_dedup_cosine_lsh oracle
    "d_dedup_cosine_vs_index" -> {
      // planesForCorpus over the vec_id < 250 index corpus statically
      // resolves to 5 planes (250 vectors is pinned at every SF), so the
      // mirror bakes 5 in rather than recomputing from count(*)
      val bandSelects = (0 until 8).map(b =>
        s"SELECT vec_id, $b AS band, ${OracleFrag.bucket("v", 5, b * 5)} AS bucket FROM n")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS MATERIALIZED (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |bd AS MATERIALIZED (\n  $bandSelects),
         |p AS (SELECT DISTINCT b.vec_id AS did, i.vec_id AS cid
         |      FROM bd b JOIN bd i ON b.band = i.band AND b.bucket = i.bucket
         |      WHERE b.vec_id >= 250 AND i.vec_id < 250),
         |sc AS (SELECT p.did, p.cid,
         |        round(${OracleFrag.dot64("nb.v", "ni.v")} / (nb.nrm * ni.nrm), 6) AS cosine
         |       FROM p JOIN n nb ON nb.vec_id = p.did JOIN n ni ON ni.vec_id = p.cid)
         |SELECT did AS doc_id, cid AS "corpusId", cosine
         |FROM sc WHERE cosine >= 0.4 ORDER BY 1, 2""".stripMargin
    },
    // The cosine increment replayed against the full-rerun rule: banded
    // index matches, banded within-batch pairs, recursive closure, then
    // drop matched docs, corpus-touching components, and non-reps — the
    // cosine sibling of the d_dedup_simhash_incremental oracle
    "d_dedup_cosine_incremental" -> {
      // same static resolution as d_dedup_cosine_vs_index: the 250-vector
      // corpus makes planesForCorpus a constant 5
      val bandSelects = (0 until 8).map(b =>
        s"SELECT vec_id, $b AS band, ${OracleFrag.bucket("v", 5, b * 5)} AS bucket FROM n")
        .mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS MATERIALIZED (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |bd AS MATERIALIZED (\n  $bandSelects),
         |mc AS MATERIALIZED (SELECT DISTINCT b.vec_id AS did, i.vec_id AS cid
         |       FROM bd b JOIN bd i ON b.band = i.band AND b.bucket = i.bucket
         |       WHERE b.vec_id >= 250 AND i.vec_id < 250),
         |m AS MATERIALIZED (SELECT DISTINCT mc.did FROM mc
         |      JOIN n nb ON nb.vec_id = mc.did JOIN n ni ON ni.vec_id = mc.cid
         |      WHERE round(${OracleFrag.dot64("nb.v", "ni.v")} / (nb.nrm * ni.nrm), 6) >= 0.4),
         |pc AS MATERIALIZED (SELECT DISTINCT a.vec_id AS ia, c.vec_id AS ib
         |       FROM bd a JOIN bd c ON a.band = c.band AND a.bucket = c.bucket
         |       WHERE a.vec_id >= 250 AND c.vec_id >= 250 AND a.vec_id < c.vec_id),
         |pr AS MATERIALIZED (SELECT pc.ia, pc.ib FROM pc
         |       JOIN n na ON na.vec_id = pc.ia JOIN n nc ON nc.vec_id = pc.ib
         |       WHERE round(${OracleFrag.dot64("na.v", "nc.v")} / (na.nrm * nc.nrm), 6) >= 0.4),
         |e2 AS MATERIALIZED (SELECT ia AS ea, ib AS eb FROM pr UNION SELECT ib, ia FROM pr),
         |reach(node, r) AS (
         |  SELECT DISTINCT ea, ea FROM e2
         |  UNION
         |  SELECT e2.ea, reach.r FROM e2 JOIN reach ON reach.node = e2.eb),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |touched AS (SELECT DISTINCT component FROM comp
         |            WHERE node IN (SELECT did FROM m)),
         |losers AS (
         |  SELECT did AS id FROM m
         |  UNION SELECT node FROM comp
         |        WHERE component IN (SELECT component FROM touched)
         |  UNION SELECT node FROM comp WHERE node != component)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id >= 250 AND vec_id NOT IN (SELECT id FROM losers)
         |ORDER BY vec_id""".stripMargin
    },
    // Split-leakage removal replayed brute-force: the split CASE over the
    // unit hash, then train docs with ANY test doc within Hamming 3
    // dropped (blocking completeness already proved by the vs_index row)
    "d_split_decontam" -> {
      val Seq(t1, t2, t3) = ops.Sampling.splitThresholds(Seq(0.8, 0.1, 0.1))
      s"""WITH sp AS (SELECT doc_id, text, source,
         |  CASE WHEN u < $t1 THEN 'train'
         |       WHEN u < $t2 THEN 'val'
         |       WHEN u < $t3 THEN 'test' END AS split
         |  FROM (SELECT doc_id, text, source,
         |          ${OracleFrag.unitHash("doc_id")} AS u FROM documents)
         |  WHERE u < $t3),
         |w AS (SELECT doc_id, split, ${OracleFrag.ws("text")} AS ws FROM sp),
         |s AS (SELECT doc_id, split, ${OracleFrag.simhash31("ws")} AS sim
         |      FROM w WHERE len(ws) > 0),
         |tst AS (SELECT sim FROM s WHERE split = 'test'),
         |trn AS (SELECT doc_id, sim FROM s WHERE split = 'train'),
         |leak AS (SELECT DISTINCT trn.doc_id FROM trn JOIN tst
         |         ON bit_count(xor(trn.sim, tst.sim)) <= 3)
         |SELECT doc_id, source, split FROM sp
         |WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM leak)
         |ORDER BY doc_id""".stripMargin
    },
    // SemDeDup replayed: fixture-centroid argmax assignment (the
    // d_diverse_sample CTE), then within-cell exact-cosine losers — any
    // vector with a smaller-id neighbor ≥ 0.3 in its own cell
    "d_dedup_semantic" -> {
      val values = fixtureCentroidRows.map { case (id, v) =>
        s"($id, [${v.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |cent AS (SELECT centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn
         |         FROM (VALUES $values) AS __cent(centid, cv)),
         |asg AS (SELECT vec_id, centid AS cell FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent) WHERE rn = 1),
         |losers AS (SELECT DISTINCT b.vec_id AS lid
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE round(${OracleFrag.dot64("na.v", "nb.v")} / (na.nrm * nb.nrm), 6) >= 0.3)
         |SELECT vec_id, cell FROM asg WHERE vec_id NOT IN (SELECT lid FROM losers)
         |ORDER BY vec_id""".stripMargin
    },
    // The persisted cell layout assigns with the same argmax/tiebreak at
    // write time, so the indexed form carries the identical oracle
    "d_dedup_semantic_indexed" -> {
      val values = fixtureCentroidRows.map { case (id, v) =>
        s"($id, [${v.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |cent AS (SELECT centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn
         |         FROM (VALUES $values) AS __cent(centid, cv)),
         |asg AS (SELECT vec_id, centid AS cell FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent) WHERE rn = 1),
         |losers AS (SELECT DISTINCT b.vec_id AS lid
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE round(${OracleFrag.dot64("na.v", "nb.v")} / (na.nrm * nb.nrm), 6) >= 0.3)
         |SELECT vec_id, cell FROM asg WHERE vec_id NOT IN (SELECT lid FROM losers)
         |ORDER BY vec_id""".stripMargin
    },
    // Hard negatives replayed: hardNegatives' own 4×4 banding restricted to
    // query ids, label-mismatch filter BEFORE the rank, same tie-break
    "d_ann_negatives" -> {
      val bandSelects = (0 until 4).map(b =>
        s"SELECT vec_id, $b AS band, ${OracleFrag.bucket("v", 4, b * 4)} AS bucket FROM n")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |n AS (SELECT vec_id, v, label, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |bd AS (\n  $bandSelects),
         |p AS (SELECT DISTINCT a.vec_id AS qid, c.vec_id AS cid
         |      FROM bd a JOIN bd c ON a.band = c.band AND a.bucket = c.bucket AND a.vec_id != c.vec_id
         |      WHERE a.vec_id < 20),
         |sc AS (SELECT p.qid, p.cid, nc.label AS neg_label,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM p JOIN n nq ON nq.vec_id = p.qid JOIN n nc ON nc.vec_id = p.cid
         |       WHERE nq.label != nc.label)
         |SELECT qid, cid, neg_label, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin
    },
    // Serve-path BM25 replayed as the ROW-LOCAL fold it is: per-term
    // scores collected in sorted term order and reduced left-to-right in
    // plain doubles (the serve projection's exact addition order — NOT
    // the retrieval form's decimal sum), termless docs at 0
    "d_bm25_served" -> {
      val k1 = 1.2; val b = 0.75
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |dl AS (SELECT doc_id, len(ws) AS dl FROM w),
         |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
         |qt AS (SELECT t FROM (VALUES ('join'), ('spark'), ('window')) __q(t)),
         |dfq AS (SELECT qt.t, COALESCE(c.df, 0) AS df FROM qt
         |        LEFT JOIN (SELECT qt2.t, COUNT(*) AS df FROM (SELECT t FROM qt) qt2
         |                   JOIN w ON list_contains(w.ws, qt2.t) GROUP BY 1) c
         |        ON c.t = qt.t),
         |sc AS (SELECT w.doc_id, dfq.t,
         |  CASE WHEN len(list_filter(w.ws, __x -> __x = dfq.t)) > 0 THEN
         |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
         |              / (CAST(dfq.df AS DOUBLE) + 0.5))
         |    * ((CAST(len(list_filter(w.ws, __x -> __x = dfq.t)) AS DOUBLE) * ${k1 + 1.0})
         |       / (CAST(len(list_filter(w.ws, __x -> __x = dfq.t)) AS DOUBLE) + ${k1} * (${1.0 - b}
         |          + (${b} * CAST(len(w.ws) AS DOUBLE))
         |            / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
         |  ELSE 0.0 END AS s
         |  FROM w CROSS JOIN dfq, st)
         |SELECT doc_id,
         |  round(list_reduce(list_prepend(0.0, list(s ORDER BY t)), (__a, __b) -> __a + __b), 6) AS score
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // Batched BM25 replayed: the d_bm25_search CTEs with the query VALUES
    // table joined in for the per-(qid, doc) grouping
    "d_bm25_multi" -> {
      val k1 = 1.2; val b = 0.75
      val qvals = Seq("qa" -> "spark", "qa" -> "window", "qa" -> "join",
        "qb" -> "customer", "qb" -> "query", "qb" -> "table",
        "qc" -> "vector", "qc" -> "stream")
        .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |dl AS (SELECT doc_id, len(ws) AS dl FROM w),
         |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
         |qt AS (SELECT qid, t FROM (VALUES $qvals) AS __q(qid, t)),
         |terms AS (SELECT DISTINCT t FROM qt),
         |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok JOIN terms USING (t)
         |       GROUP BY 1, 2),
         |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT qt.qid, tf.doc_id,
         |  round(CAST(SUM(CAST(
         |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
         |              / (CAST(df.df AS DOUBLE) + 0.5))
         |    * ((CAST(tf.tf AS DOUBLE) * ${k1 + 1.0})
         |       / (CAST(tf.tf AS DOUBLE) + ${k1} * (${1.0 - b}
         |          + (${b} * CAST(dl.dl AS DOUBLE))
         |            / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
         |   AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
         |  FROM tf JOIN df USING (t) JOIN dl ON dl.doc_id = tf.doc_id
         |       JOIN qt ON qt.t = tf.t, st
         |  GROUP BY 1, 2)
         |SELECT qid, doc_id, score,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin
    },
    // Normalization replayed: decimal-exact per-dim centroid (list built
    // in dim order), sequential-fold norm of the centered vector, same
    // zero-norm escape, components rounded 6
    "d_embed_normalize" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |dims AS (SELECT k, CAST(SUM(CAST(v[CAST(k AS INT)] AS DECIMAL(38,18))) AS DOUBLE)
         |           / CAST(COUNT(*) AS DOUBLE) AS mu
         |         FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS k) __k
         |         GROUP BY k),
         |mul AS (SELECT list(mu ORDER BY k) AS mus FROM dims),
         |c AS (SELECT vec_id,
         |        list_transform(range(1, 65), __i -> v[__i] - mus[__i]) AS cv
         |      FROM e, mul),
         |n2 AS (SELECT vec_id, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS nrm FROM c)
         |SELECT vec_id, CAST(__i AS INT) AS dim,
         |  CASE WHEN nrm != 0 THEN round(cv[CAST(__i AS INT)] / nrm, 6)
         |       ELSE round(cv[CAST(__i AS INT)], 6) END AS x
         |FROM n2 CROSS JOIN (SELECT unnest(range(1, 65)) AS __i) __d
         |ORDER BY vec_id, dim""".stripMargin,
    // Drift card replayed: two decimal-exact per-dim centroids (even/odd
    // snapshot split), shift from the UNROUNDED means — same op order
    "d_embed_drift" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |m AS (SELECT CAST(k AS INT) AS dim,
         |        CAST(SUM(CASE WHEN vec_id % 2 = 0
         |          THEN CAST(v[CAST(k AS INT)] AS DECIMAL(38,18)) END) AS DOUBLE)
         |          / CAST(COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS DOUBLE) AS mu_old,
         |        CAST(SUM(CASE WHEN vec_id % 2 = 1
         |          THEN CAST(v[CAST(k AS INT)] AS DECIMAL(38,18)) END) AS DOUBLE)
         |          / CAST(COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS DOUBLE) AS mu_new
         |      FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS k) __k
         |      GROUP BY 1)
         |SELECT dim, round(mu_old, 6) AS mu_old, round(mu_new, 6) AS mu_new,
         |  round(abs(mu_new - mu_old), 6) AS drift
         |FROM m ORDER BY dim""".stripMargin,
    // Projected ANN replayed: the same rounded 16-dim projections, the
    // same -2 zero-norm sentinel, DECIMAL(38,12) candidate ranking,
    // count-adaptive refine, exact full-space rescore. The indexed twin serves from
    // bit-identical persisted projections → the SAME oracle gates both
    "s_ann_projected" -> projectedOracleSql,
    "s_ann_projected_indexed" -> projectedOracleSql,
    // JL sign projection replayed: the same squared-Lehmer projection
    // matrix (projSign mirror), sequential per-plane dot in index order
    "d_embed_project" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id, ${(100 until 116).map(p =>
              s"round(${OracleFrag.projDot("v", p)}, 6)")
              .mkString("[", ",\n         |  ", "]")} AS proj
         |FROM e)
         |SELECT vec_id, CAST(__i AS INT) AS dim, proj[CAST(__i AS INT)] AS x
         |FROM p CROSS JOIN (SELECT unnest(range(1, 17)) AS __i) __d
         |ORDER BY vec_id, dim""".stripMargin,
    // Cell profile replayed: fixture-centroid argmax with csim retained,
    // then per-cell count + decimal-exact mean + rounded extremes
    "d_semantic_cells" -> {
      val values = fixtureCentroidRows.map { case (id, v) =>
        s"($id, [${v.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |cent AS (SELECT centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn
         |         FROM (VALUES $values) AS __cent(centid, cv)),
         |cj AS (SELECT n.vec_id, cent.centid,
         |         ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) AS csim
         |       FROM n CROSS JOIN cent),
         |asgc AS (SELECT vec_id, centid AS cell, csim FROM (
         |  SELECT vec_id, centid, csim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centid) AS rn
         |  FROM cj) WHERE rn = 1)
         |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  round(CAST(SUM(CAST(csim AS DECIMAL(38,18))) AS DOUBLE)
         |        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_csim,
         |  round(MIN(csim), 6) AS min_csim,
         |  round(MAX(csim), 6) AS max_csim
         |FROM asgc GROUP BY cell ORDER BY cell""".stripMargin
    },
    // BM25 replayed formula-for-formula: same left-assoc double op order
    // as Ranking.bm25, per-(doc,term) score terms accumulated in
    // DECIMAL(38,18), constants interpolated from the SAME Scala doubles
    "d_bm25_search" -> {
      val k1 = 1.2; val b = 0.75
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |dl AS (SELECT doc_id, len(ws) AS dl FROM w),
         |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
         |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok
         |       WHERE t IN ('spark', 'window', 'join') GROUP BY 1, 2),
         |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |  round(CAST(SUM(CAST(
         |    ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
         |              / (CAST(df.df AS DOUBLE) + 0.5))
         |    * ((CAST(tf.tf AS DOUBLE) * ${k1 + 1.0})
         |       / (CAST(tf.tf AS DOUBLE) + ${k1} * (${1.0 - b}
         |          + (${b} * CAST(dl.dl AS DOUBLE))
         |            / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
         |   AS DECIMAL(38,18))) AS DOUBLE), 6) AS score
         |  FROM tf JOIN df USING (t) JOIN dl ON dl.doc_id = tf.doc_id, st
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
         |FROM sc QUALIFY rank <= 10 ORDER BY rank""".stripMargin
    },
    // TF-IDF keywords replayed: same smoothed idf, rank over the ROUNDED
    // score with the term string as tiebreak
    "d_tfidf_keywords" ->
      s"""WITH w AS (SELECT doc_id, ${OracleFrag.ws("text")} AS ws FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.t AS term, tf.tf,
         |        round(CAST(tf.tf AS DOUBLE) *
         |          ln((1.0 + CAST(st.n_docs AS DOUBLE))
         |             / (1.0 + CAST(df.df AS DOUBLE))), 6) AS tfidf
         |       FROM tf JOIN df USING (t), st)
         |SELECT doc_id, term, tf, tfidf,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
         |FROM sc QUALIFY rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // Exact source-overlap matrix: distinct (source, shingle) set, pair
    // intersection by shingle join, Jaccard from exact set sizes
    "d_source_overlap" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT source, ${OracleFrag.shingleHashes("ws")} AS shs FROM w),
         |sh AS (SELECT DISTINCT source AS src, unnest(shs) AS sh FROM h),
         |sizes AS (SELECT src, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.src AS sa, b.src AS sb, COUNT(*) AS n_shared
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.src < b.src
         |          GROUP BY 1, 2)
         |SELECT sa AS "srcA", sb AS "srcB",
         |  CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b,
         |  CAST(n_shared AS BIGINT) AS n_shared,
         |  round(CAST(n_shared AS DOUBLE) / CAST(za.n + zb.n - n_shared AS DOUBLE), 6) AS jaccard
         |FROM inter JOIN sizes za ON za.src = sa JOIN sizes zb ON zb.src = sb
         |ORDER BY 1, 2""".stripMargin,
    // MinHash estimate replayed WITHOUT the per-doc detour: min over docs
    // of per-doc signature components = min over the source's union
    // shingle set (min-of-mins), so the oracle computes each source
    // signature directly from the distinct shingles
    "d_source_overlap_est" ->
      s"""WITH w AS (SELECT source, ${OracleFrag.ws("text")} AS ws FROM documents),
         |h AS (SELECT source, ${OracleFrag.shingleHashes("ws")} AS shs FROM w),
         |sh AS (SELECT DISTINCT source AS src, unnest(shs) AS sh FROM h),
         |sig AS (SELECT src, q,
         |          MIN(((2*q + 3) * (sh % ${OracleFrag.P31}) + (q*q + 7*q + 41)) % ${OracleFrag.P31}) AS mh
         |        FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS q) __q
         |        GROUP BY 1, 2),
         |pr AS (SELECT a.src AS sa, b.src AS sb,
         |         SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS neq
         |       FROM sig a JOIN sig b ON a.q = b.q AND a.src < b.src
         |       GROUP BY 1, 2)
         |SELECT sa AS "srcA", sb AS "srcB",
         |  round(CAST(neq AS DOUBLE) / 32.0, 6) AS est_jaccard
         |FROM pr ORDER BY 1, 2""".stripMargin,
    // Mirrors annTopK(Lsh, Raw) under constant-occupancy sizing:
    // 4 bands of planesForCorpus(count(*), target 32) planes — the SQL
    // recomputes the rule from the corpus count (OracleFrag.adaptive*) —
    // union of band matches, exact cosine, rank over (sim DESC, cid).
    "s_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.adaptivePlanesCtes("SELECT count(*) FROM embeddings", bands = 4, target = 32)},
         |${OracleFrag.adaptiveBandCte("bd", bands = 4)},
         |p AS (SELECT DISTINCT a.vec_id AS qid, c.vec_id AS cid
         |      FROM bd a JOIN bd c ON a.band = c.band AND a.bucket = c.bucket AND a.vec_id != c.vec_id
         |      WHERE a.vec_id < 20),
         |sc AS (SELECT p.qid, p.cid,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM p JOIN n nq ON nq.vec_id = p.qid JOIN n nc ON nc.vec_id = p.cid)
         |SELECT qid, cid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
    // Mirrors annTopK(Lsh(probes = 2), Raw) under the same
    // adaptive sizing: the query side probes the exact bucket plus the 2
    // weakest-|dot| bit flips per band (OracleFrag.adaptiveProbeCtes =
    // the probeBuckets flip arithmetic with planes a runtime variable);
    // the corpus index is the plain per-band bucket.
    "s_ann_lsh_probed" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.adaptivePlanesCtes("SELECT count(*) FROM embeddings", bands = 4, target = 32)},
         |${OracleFrag.adaptiveBandCte("bdc", bands = 4)},
         |${OracleFrag.adaptiveProbeCtes("bdq", bands = 4, probes = 2, where = "WHERE n.vec_id < 20")},
         |p AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |      FROM bdq q JOIN bdc c ON q.band = c.band AND q.bucket = c.bucket AND q.vec_id != c.vec_id),
         |sc AS (SELECT p.qid, p.cid,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM p JOIN n nq ON nq.vec_id = p.qid JOIN n nc ON nc.vec_id = p.cid)
         |SELECT qid, cid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
    // Mirrors annTopK(Ivf, Raw): seeded centroids (the nlist smallest
    // ids, nlist count-adaptive), cosine argmin assignment, constant-
    // fraction probe, exact top-k inside probed cells.
    "s_ann_ivf" -> ivfOracleSql,
    // identical semantics served from the persisted partitioned index —
    // the SAME oracle gates both forms
    "s_ann_ivf_indexed" -> ivfOracleSql,
    // trained serve paths: the SAME routing/rescore oracle, parameterized
    // on the committed k-means fixture (identical in-memory vs persisted)
    "s_ann_ivf_trained" -> trainedIvfOracleSql,
    "s_ann_ivf_trained_indexed" -> trainedIvfOracleSql,
    // Sharded IVF (r18): shard routing recomputed from count(*); the
    // persisted layout serves identical results → same oracle text
    "s_ann_ivf_sharded" -> shardedIvfOracleSql,
    "s_ann_ivf_sharded_indexed" -> shardedIvfOracleSql,
    "s_ann_ivf_sharded_trained" -> shardedTrainedIvfOracleSql,
    "s_ann_ivf_sharded_trained_indexed" -> shardedTrainedIvfOracleSql,
    // Mirrors annTopK(Exhaustive, Pq) stage-for-stage: seeded codebook, per-
    // subspace L2 encode (d2 = c·c − 2c·b + b·b, same fold order), ADC
    // table with round(·,9) decimal sums, count-adaptive refine cut, exact rescore.
    "s_ann_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.refineCte("SELECT count(*) FROM e")},
         |${OracleFrag.kCodeCte("SELECT count(*) FROM e")},
         |sub AS (SELECT unnest(range(0, 8)) AS s),
         |cb AS (SELECT vec_id AS codeid, v AS bv FROM e
         |       WHERE vec_id < (SELECT kc FROM __kc)),
         |enc AS (SELECT cid, s, codeid FROM (
         |  SELECT c.vec_id AS cid, sub.s, cb.codeid,
         |    row_number() OVER (PARTITION BY c.vec_id, sub.s ORDER BY
         |      (${OracleFrag.subDot("cb.bv", "cb.bv", "sub.s", 8)}
         |       - 2.0 * ${OracleFrag.subDot("c.v", "cb.bv", "sub.s", 8)}) ASC, cb.codeid) AS rn
         |  FROM e c CROSS JOIN sub CROSS JOIN cb) WHERE rn = 1),
         |qtab AS (
         |  SELECT q.vec_id AS qid, sub.s, cb.codeid,
         |    CAST(round(${OracleFrag.subDot("q.v", "cb.bv", "sub.s", 8)}, 9) AS DECIMAL(38,12)) AS pdot
         |  FROM e q CROSS JOIN sub CROSS JOIN cb WHERE q.vec_id < 20),
         |ax AS (
         |  SELECT qtab.qid, enc.cid, SUM(pdot) AS adot
         |  FROM qtab JOIN enc ON qtab.s = enc.s AND qtab.codeid = enc.codeid
         |  WHERE qtab.qid != enc.cid GROUP BY qtab.qid, enc.cid),
         |cand AS (SELECT qid, cid FROM (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
         |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
         |sc AS (SELECT cand.qid, cand.cid,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
         |                 JOIN n nc ON nc.vec_id = cand.cid)
         |SELECT qid, cid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
    // SQ8 replayed range-for-range: per-dim min/max → step=(hi-lo)/256,
    // floor-encode clamped to 255, bucket-midpoint decode, 9-decimal
    // DECIMAL ranking (the PQ adot convention), count-adaptive refine, exact rescore
    "s_ann_sq8" -> sq8OracleSql,
    // The persisted layout serves byte-identical ranges + codes, so the
    // indexed path carries the same oracle (the s_ann_ivf_indexed rule)
    "s_ann_sq8_indexed" -> sq8OracleSql,
    // Mirrors annTopK(Ivf, Sq8): the s_ann_ivf routing CTEs (count-
    // adaptive nlist/nprobe) feed the s_ann_sq8 quantization CTEs — ax
    // ranks ONLY routed (qid, cid) pairs, then the same count-adaptive refine +
    // exact rescore
    "s_ann_ivfsq8" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.ivfSizingCtes("SELECT count(*) FROM e")},
         |${OracleFrag.refineCte(OracleFrag.probedCandSql("SELECT count(*) FROM e"))},
         |cent AS (SELECT vec_id AS centid, v AS cv, nrm AS cn FROM n
         |         WHERE vec_id < (SELECT nlist FROM __nl)),
         |asg AS (SELECT vec_id AS cid, centid FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent) WHERE rn = 1),
         |qc AS (SELECT vec_id AS qid, centid FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent WHERE n.vec_id < 20) WHERE rn <= (SELECT nprobe FROM __np)),
         |rt AS (SELECT qc.qid, asg.cid
         |       FROM qc JOIN asg ON qc.centid = asg.centid WHERE qc.qid != asg.cid),
         |mm AS (SELECT k, MIN(v[CAST(k AS INT)]) AS lo,
         |         (MAX(v[CAST(k AS INT)]) - MIN(v[CAST(k AS INT)])) / 256.0 AS st
         |       FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS k) __k
         |       GROUP BY k),
         |rg AS (SELECT list(lo ORDER BY k) AS los, list(st ORDER BY k) AS sts FROM mm),
         |cd AS (SELECT vec_id AS cid,
         |         list_transform(range(1, 65), __i ->
         |           CASE WHEN sts[__i] = 0 THEN 0
         |                ELSE LEAST(255, CAST(FLOOR((v[__i] - los[__i]) / sts[__i]) AS INT))
         |           END) AS codes
         |       FROM e, rg),
         |rc AS (SELECT cid,
         |         list_transform(range(1, 65), __i ->
         |           los[__i] + (CAST(codes[__i] AS DOUBLE) + 0.5) * sts[__i]) AS rv
         |       FROM cd, rg),
         |ax AS (SELECT rt.qid, rt.cid,
         |         CAST(round(${OracleFrag.dot64("q.v", "rc.rv")}, 9) AS DECIMAL(38,12)) AS adot
         |       FROM rt JOIN rc ON rc.cid = rt.cid JOIN e q ON q.vec_id = rt.qid),
         |cand AS (SELECT qid, cid FROM (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
         |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
         |sc AS (SELECT cand.qid, cand.cid,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
         |                 JOIN n nc ON nc.vec_id = cand.cid)
         |SELECT qid, cid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
    // Mirrors annTopK(Ivf, Pq): the s_ann_ivf routing CTEs (count-
    // adaptive seeded cells, argmin assignment, constant-fraction probe)
    // feed the s_ann_pq ADC CTEs — ax aggregates ONLY routed (qid, cid)
    // pairs, then the count-adaptive refine + rescore. The PQ codebook is
    // the count-adaptive kCodeForCorpus rule (r18) — sized from the
    // CORPUS count like the encode pass, not the probed pool.
    "s_ann_ivfpq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.ivfSizingCtes("SELECT count(*) FROM e")},
         |${OracleFrag.refineCte(OracleFrag.probedCandSql("SELECT count(*) FROM e"))},
         |${OracleFrag.kCodeCte("SELECT count(*) FROM e")},
         |cent AS (SELECT vec_id AS centid, v AS cv, nrm AS cn FROM n
         |         WHERE vec_id < (SELECT nlist FROM __nl)),
         |asg AS (SELECT vec_id AS cid, centid FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent) WHERE rn = 1),
         |qc AS (SELECT vec_id AS qid, centid FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent WHERE n.vec_id < 20) WHERE rn <= (SELECT nprobe FROM __np)),
         |rt AS (SELECT qc.qid, asg.cid
         |       FROM qc JOIN asg ON qc.centid = asg.centid WHERE qc.qid != asg.cid),
         |sub AS (SELECT unnest(range(0, 8)) AS s),
         |cb AS (SELECT vec_id AS codeid, v AS bv FROM e
         |       WHERE vec_id < (SELECT kc FROM __kc)),
         |enc AS (SELECT cid, s, codeid FROM (
         |  SELECT c.vec_id AS cid, sub.s, cb.codeid,
         |    row_number() OVER (PARTITION BY c.vec_id, sub.s ORDER BY
         |      (${OracleFrag.subDot("cb.bv", "cb.bv", "sub.s", 8)}
         |       - 2.0 * ${OracleFrag.subDot("c.v", "cb.bv", "sub.s", 8)}) ASC, cb.codeid) AS rn
         |  FROM e c CROSS JOIN sub CROSS JOIN cb) WHERE rn = 1),
         |qtab AS (
         |  SELECT q.vec_id AS qid, sub.s, cb.codeid,
         |    CAST(round(${OracleFrag.subDot("q.v", "cb.bv", "sub.s", 8)}, 9) AS DECIMAL(38,12)) AS pdot
         |  FROM e q CROSS JOIN sub CROSS JOIN cb WHERE q.vec_id < 20),
         |ax AS (
         |  SELECT rt.qid, rt.cid, SUM(qtab.pdot) AS adot
         |  FROM rt JOIN enc ON enc.cid = rt.cid
         |          JOIN qtab ON qtab.qid = rt.qid AND qtab.s = enc.s AND qtab.codeid = enc.codeid
         |  GROUP BY rt.qid, rt.cid),
         |cand AS (SELECT qid, cid FROM (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
         |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
         |sc AS (SELECT cand.qid, cand.cid,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
         |                 JOIN n nc ON nc.vec_id = cand.cid)
         |SELECT qid, cid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
    // The PQ pipeline under the TRAINED codebook: same encode/ADC/refine
    // CTEs, codebook = the committed fixture as literal VALUES (rows carry
    // their own subspace id, so `sub × cb` collapses to `cb`).
    "s_ann_pq_trained" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.refineCte("SELECT count(*) FROM e")},
         |cb AS ($trainedPqCbSelect),
         |$trainedPqEncQtab,
         |ax AS (
         |  SELECT qtab.qid, enc.cid, SUM(pdot) AS adot
         |  FROM qtab JOIN enc ON qtab.s = enc.s AND qtab.codeid = enc.codeid
         |  WHERE qtab.qid != enc.cid GROUP BY qtab.qid, enc.cid),
         |cand AS (SELECT qid, cid FROM (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
         |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
         |sc AS (SELECT cand.qid, cand.cid,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
         |                 JOIN n nc ON nc.vec_id = cand.cid)
         |SELECT qid, cid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
    // The FULLY-trained IVF-PQ: fixture-centroid routing CTEs (the
    // s_ann_ivf_trained mirror) feed the trained-codebook ADC CTEs — ax
    // aggregates ONLY routed (qid, cid) pairs, then the count-adaptive refine + rescore.
    "s_ann_ivfpq_trained" -> trainedIvfPqOracleSql,
    // The persisted layout serves the same quantizers (centroids,
    // codebook, codes, corpus count all stamped), so the served path
    // carries the same oracle (the s_ann_ivf_indexed rule).
    "s_ann_ivfpq_trained_indexed" -> trainedIvfPqOracleSql,
    // RESIDUAL IVF-PQ replayed: fixture-centroid routing (rt keeps the
    // cell id), residuals rv = v − assigned centroid, encode against the
    // RESIDUAL codebook literals, ADC = Σ_s dot(q_sub, cb) + one
    // dot(q, centroid) term — all on the DECIMAL(38,12) grid so the
    // refine cutoff can never drift — then the count-adaptive refine + exact rescore.
    "s_ann_ivfpq_residual" -> {
      val centValues = fixtureCentroidRows.map { case (id, v) =>
        s"($id, [${v.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      val fxCells = fixtureCentroidRows.size
      val fxProbe = ops.Similarity.nprobeForCells(fxCells)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${OracleFrag.dot64("v", "v")}) AS nrm FROM e),
         |${OracleFrag.refineCte(s"((SELECT count(*) FROM e) * $fxProbe) // $fxCells")},
         |cent AS (SELECT centid, cv, sqrt(${OracleFrag.dot64("cv", "cv")}) AS cn
         |         FROM (VALUES $centValues) AS __cent(centid, cv)),
         |asg AS (SELECT vec_id AS cid, centid FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent) WHERE rn = 1),
         |qc AS (SELECT vec_id AS qid, centid FROM (
         |  SELECT n.vec_id, cent.centid,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${OracleFrag.dot64("n.v", "cent.cv")} / (n.nrm * cent.cn) DESC, cent.centid) AS rn
         |  FROM n CROSS JOIN cent WHERE n.vec_id < 20) WHERE rn <= ${ops.Similarity.nprobeForCells(fixtureCentroidRows.size)}),
         |rt AS (SELECT qc.qid, asg.cid, asg.centid
         |       FROM qc JOIN asg ON qc.centid = asg.centid WHERE qc.qid != asg.cid),
         |rcb AS ($trainedPqResidualCbSelect),
         |rres AS (SELECT asg.cid, asg.centid,
         |           list_transform(range(1, 65), __i -> e.v[__i] - cent.cv[__i]) AS rv
         |         FROM asg JOIN cent ON cent.centid = asg.centid
         |                  JOIN e ON e.vec_id = asg.cid),
         |enc AS (SELECT cid, s, codeid FROM (
         |  SELECT r.cid, cb.s, cb.codeid,
         |    row_number() OVER (PARTITION BY r.cid, cb.s ORDER BY
         |      (${OracleFrag.dotN("cb.bv", "cb.bv", 8)}
         |       - 2.0 * ${OracleFrag.subDotFix("r.rv", "cb.bv", "cb.s", 8)}) ASC, cb.codeid) AS rn
         |  FROM rres r CROSS JOIN rcb cb) WHERE rn = 1),
         |qtab AS (
         |  SELECT q.vec_id AS qid, cb.s, cb.codeid,
         |    CAST(round(${OracleFrag.subDotFix("q.v", "cb.bv", "cb.s", 8)}, 9) AS DECIMAL(38,12)) AS pdot
         |  FROM e q CROSS JOIN rcb cb WHERE q.vec_id < 20),
         |qct AS (
         |  SELECT q.vec_id AS qid, cent.centid,
         |    CAST(round(${OracleFrag.dot64("q.v", "cent.cv")}, 9) AS DECIMAL(38,12)) AS qcdot
         |  FROM e q CROSS JOIN cent WHERE q.vec_id < 20),
         |ax AS (
         |  SELECT rt.qid, rt.cid, SUM(qtab.pdot) + MAX(qct.qcdot) AS adot
         |  FROM rt JOIN enc ON enc.cid = rt.cid
         |          JOIN qtab ON qtab.qid = rt.qid AND qtab.s = enc.s AND qtab.codeid = enc.codeid
         |          JOIN qct ON qct.qid = rt.qid AND qct.centid = rt.centid
         |  GROUP BY rt.qid, rt.cid),
         |cand AS (SELECT qid, cid FROM (
         |  SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY adot DESC, cid) AS arn
         |  FROM ax) WHERE arn <= (SELECT refine FROM __rf)),
         |sc AS (SELECT cand.qid, cand.cid,
         |        round(${OracleFrag.dot64("nq.v", "nc.v")} / (nq.nrm * nc.nrm), 6) AS sim
         |       FROM cand JOIN n nq ON nq.vec_id = cand.qid
         |                 JOIN n nc ON nc.vec_id = cand.cid)
         |SELECT qid, cid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
         |FROM sc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin
    },
    // Deterministic chunk math: frames = every 2nd 128-byte chunk of the
    // UTF-8 payload (ASCII text ⇒ byte k = ascii of char k); checksum is
    // the same (a*131 + byte) mod (2^31-1) fold as Multimodal.checksum.
    "m_media_frames" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, text, n,
        |        unnest(range(0, CAST((n + 127) // 128 AS BIGINT), 2)) AS fi
        |      FROM d)
        |SELECT doc_id AS "assetId", CAST(fi AS INT) AS "frameIdx",
        |  CAST(least(128, n - fi*128) AS INT) AS "frameBytes",
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(fi*128 + 1, fi*128 + least(128, n - fi*128) + 1),
        |      __j -> CAST(ascii(text[__j]) AS BIGINT))),
        |    (__a, __c) -> (__a * 131 + __c) % 2147483647) AS "frameChecksum"
        |FROM f ORDER BY 1, 2""".stripMargin,
    "s_ann_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    round(
        |      list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (a,b) -> a + b)
        |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> q.v[i] * q.v[i])), (a,b) -> a + b))
        |       * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> c.v[i] * c.v[i])), (a,b) -> a + b))), 6) AS sim
        |  FROM e q JOIN e c ON q.vec_id != c.vec_id
        |  WHERE q.vec_id < 20)
        |SELECT qid, cid, sim,
        |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS INT) AS rank
        |FROM p QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
    // The decoded waveform recomputed ANALYTICALLY: the fixture WAV's
    // sample is s(t) = (2029t + 48271·id + 12345) mod 65536 − 32768 over
    // n = 512 + n_chars mod 512 samples at 8 kHz; sumSq folds s², the
    // checksum folds the biased amplitude s+32768 (= the mod value) with
    // the (a·31 + v) mod (2^31−1) fold — equality proves the RIFF/PCM
    // container parse returned the original samples bit-exactly
    "m_media_audio" ->
      """WITH d AS (SELECT doc_id, 512 + n_chars % 512 AS n FROM documents)
        |SELECT doc_id AS "assetId", CAST(8000 AS INT) AS "sampleRate",
        |  CAST(n AS INT) AS "nSamples",
        |  CAST(n * 1000 // 8000 AS BIGINT) AS "durationMs",
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, n),
        |      t -> CAST((t*2029 + doc_id*48271 + 12345) % 65536 - 32768 AS BIGINT))),
        |    (__a, __s) -> __a + __s * __s) AS "sumSq",
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, n),
        |      t -> CAST((t*2029 + doc_id*48271 + 12345) % 65536 AS BIGINT))),
        |    (__a, __s) -> (__a * 31 + __s) % 2147483647) AS "checksum"
        |FROM d ORDER BY doc_id""".stripMargin,
    // Same analytic waveform, windowed: every 2nd 256-sample window of the
    // DECODED stream, with the biased-amplitude fold per window
    "m_media_audio_frames" ->
      """WITH d AS (SELECT doc_id, 512 + n_chars % 512 AS n FROM documents),
        |f AS (SELECT doc_id, n,
        |        unnest(range(0, CAST((n + 255) // 256 AS BIGINT), 2)) AS wi
        |      FROM d)
        |SELECT doc_id AS "assetId", CAST(wi AS INT) AS "windowIdx",
        |  CAST(least(256, n - wi*256) AS INT) AS "nSamples",
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(wi*256, wi*256 + least(256, n - wi*256)),
        |      t -> CAST((t*2029 + doc_id*48271 + 12345) % 65536 AS BIGINT))),
        |    (__a, __s) -> (__a * 31 + __s) % 2147483647) AS "windowChecksum"
        |FROM f ORDER BY 1, 2""".stripMargin,
    // The RIFF container reconstructed byte for byte: canonical 44-byte
    // JDK WAV header (RIFF size = 36 + 2n and data size = 2n as
    // little-endian u32, fixed PCM fmt block: mono, 8000 Hz, 16-bit,
    // byte rate 16000, block align 2) followed by the little-endian
    // 16-bit samples of the analytic waveform; every 2nd 256-byte chunk
    // folds (a*131 + byte) mod (2^31-1) — the payload-byte checksum the
    // frame sampler computes on the REAL encodeWav output
    "m_media_frames_wav" ->
      """WITH d AS (SELECT doc_id, 512 + n_chars % 512 AS n FROM documents),
        |f AS (SELECT doc_id, n, 44 + 2*n AS total,
        |        unnest(range(0, CAST((44 + 2*n + 255) // 256 AS BIGINT), 2)) AS fi
        |      FROM d)
        |SELECT doc_id AS "assetId", CAST(fi AS INT) AS "frameIdx",
        |  CAST(least(256, total - fi*256) AS INT) AS "frameBytes",
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(fi*256, fi*256 + least(256, total - fi*256)), __p ->
        |      CAST(CASE
        |        WHEN __p = 0 THEN 82 WHEN __p = 1 THEN 73
        |        WHEN __p = 2 THEN 70 WHEN __p = 3 THEN 70
        |        WHEN __p = 4 THEN (36 + 2*n) % 256
        |        WHEN __p = 5 THEN (36 + 2*n) // 256
        |        WHEN __p IN (6, 7) THEN 0
        |        WHEN __p = 8 THEN 87 WHEN __p = 9 THEN 65
        |        WHEN __p = 10 THEN 86 WHEN __p = 11 THEN 69
        |        WHEN __p = 12 THEN 102 WHEN __p = 13 THEN 109
        |        WHEN __p = 14 THEN 116 WHEN __p = 15 THEN 32
        |        WHEN __p = 16 THEN 16 WHEN __p IN (17, 18, 19) THEN 0
        |        WHEN __p = 20 THEN 1 WHEN __p = 21 THEN 0
        |        WHEN __p = 22 THEN 1 WHEN __p = 23 THEN 0
        |        WHEN __p = 24 THEN 64 WHEN __p = 25 THEN 31 WHEN __p IN (26, 27) THEN 0
        |        WHEN __p = 28 THEN 128 WHEN __p = 29 THEN 62 WHEN __p IN (30, 31) THEN 0
        |        WHEN __p = 32 THEN 2 WHEN __p = 33 THEN 0
        |        WHEN __p = 34 THEN 16 WHEN __p = 35 THEN 0
        |        WHEN __p = 36 THEN 100 WHEN __p = 37 THEN 97
        |        WHEN __p = 38 THEN 116 WHEN __p = 39 THEN 97
        |        WHEN __p = 40 THEN (2*n) % 256
        |        WHEN __p = 41 THEN (2*n) // 256
        |        WHEN __p IN (42, 43) THEN 0
        |        WHEN (__p - 44) % 2 = 0
        |          THEN ((((__p - 44) // 2) * 2029 + doc_id * 48271 + 12345) % 65536) % 256
        |        ELSE (((((__p - 44) // 2) * 2029 + doc_id * 48271 + 12345) % 65536) // 256 + 128) % 256
        |      END AS BIGINT))),
        |    (__a, __b) -> (__a * 131 + __b) % 2147483647) AS "frameChecksum"
        |FROM f ORDER BY 1, 2""".stripMargin,
    // The decoded raster recomputed ANALYTICALLY: the fixture PNG's pixel
    // (x,y) is r=(7x+13y+id), g=(11x+3y+5id), b=(5x+17y+11id) each mod
    // 256; the checksum is the row-major (a*31 + rgb) mod (2^31-1) fold
    // over out(X,Y) = in(⌊X·w/24⌋, ⌊Y·h/24⌋) — equality proves
    // ImageIO.read returned the original raster AND the nearest-neighbor
    // resample picked the exact source pixels (PNG is lossless)
    "m_media_resize" ->
      """WITH d AS (SELECT doc_id, 8 + n_chars % 24 AS w, 8 + doc_id % 24 AS h
        |           FROM documents)
        |SELECT doc_id AS "assetId", CAST(24 AS INT) AS width,
        |  CAST(24 AS INT) AS height, CAST(24*24*3 AS INT) AS "nBytes",
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, 576), p ->
        |      ((((p % 24) * w) // 24) * 7 + (((p // 24) * h) // 24) * 13 + doc_id) % 256 * 65536
        |    + ((((p % 24) * w) // 24) * 11 + (((p // 24) * h) // 24) * 3 + doc_id * 5) % 256 * 256
        |    + ((((p % 24) * w) // 24) * 5 + (((p // 24) * h) // 24) * 17 + doc_id * 11) % 256)),
        |    (__a, __c) -> (__a * 31 + __c) % 2147483647) AS checksum
        |FROM d ORDER BY doc_id""".stripMargin,
    // Same analytic raster, un-resampled: width/height are the REAL decoded
    // dimensions (must equal the fixture sizing from doc stats) and the
    // checksum folds every pixel row-major — the real-decode gate
    "m_media_features" ->
      """WITH d AS (SELECT doc_id, 8 + n_chars % 24 AS w, 8 + doc_id % 24 AS h
        |           FROM documents)
        |SELECT doc_id AS "assetId", CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, w * h), p ->
        |      ((p % w) * 7 + (p // w) * 13 + doc_id) % 256 * 65536
        |    + ((p % w) * 11 + (p // w) * 3 + doc_id * 5) % 256 * 256
        |    + ((p % w) * 5 + (p // w) * 17 + doc_id * 11) % 256)),
        |    (__a, __c) -> (__a * 31 + __c) % 2147483647) AS checksum
        |FROM d ORDER BY doc_id""".stripMargin,
    // dHash-64 image near-dup replayed ANALYTICALLY (fragments above):
    // closed-form grid bits packed into two 32-bit halves, BRUTE-FORCE
    // Hamming over all id pairs — the blocked Spark plan must be
    // lossless at maxHamming=4 to match the exhaustive answer
    "m_media_dedup" ->
      s"""WITH $mediaDhashCtes
         |SELECT a.id AS "idA", b.id AS "idB", ${mediaHamming("a", "b")} AS dist
         |FROM ihx a JOIN ihx b ON a.id < b.id
         |WHERE ${mediaHamming("a", "b")} <= 4
         |ORDER BY 1, 2""".stripMargin,
    // pairs → reachability fixpoint → min-component losers → survivors:
    // the removal closure over the SAME brute-forced pair set (the star-
    // CC mirror every text removal row uses)
    "m_media_dedup_removal" ->
      s"""WITH RECURSIVE $mediaDhashCtes,
         |${mediaClosureCtes("i", 4)}
         |SELECT id AS "assetId" FROM ids
         |WHERE id NOT IN (SELECT node FROM ilosers)
         |ORDER BY 1""".stripMargin,
    // persisted-index probe: batch (id >= 250) vs accumulated corpus
    // (id < 250), exhaustive Hamming — the blocked index probe must be
    // lossless at the same threshold
    "m_media_dedup_vs_index" ->
      s"""WITH $mediaDhashCtes
         |SELECT b.id AS "assetId", c.id AS corpus_id, ${mediaHamming("b", "c")} AS dist
         |FROM ihx b JOIN ihx c ON b.id >= 250 AND c.id < 250
         |WHERE ${mediaHamming("b", "c")} <= 4
         |ORDER BY 1, 2""".stripMargin,
    // video chunk-energy near-dup (stub tier): the payload IS the UTF-8
    // text (ASCII corpus ⇒ byte t = ascii of char t+1 — the
    // m_media_frames precedent), so window energies are exact integer
    // ascii sums; docs under 65 bytes have no frame grid and are skipped
    "m_media_video_dedup" ->
      s"""WITH $mediaVideoFpCtes
         |SELECT a.id AS "idA", b.id AS "idB", ${mediaHamming("a", "b")} AS dist
         |FROM vhx a JOIN vhx b ON a.id < b.id
         |WHERE ${mediaHamming("a", "b")} <= 4
         |ORDER BY 1, 2""".stripMargin,
    // audio energy-fingerprint near-dup: closed-form window energies
    // (EXACT integer sums of the perturbed fixture waveform), 64
    // adjacent comparisons, packed halves, brute-force Hamming
    "m_media_audio_dedup" ->
      s"""WITH $mediaAudioFpCtes
         |SELECT a.id AS "idA", b.id AS "idB", ${mediaHamming("a", "b")} AS dist
         |FROM ahx a JOIN ahx b ON a.id < b.id
         |WHERE ${mediaHamming("a", "b")} <= 4
         |ORDER BY 1, 2""".stripMargin,
    // per-modality dataset card: decoded dimensions/durations aggregated
    // per media type — every number analytic from the fixture sizing, so
    // a wrong decode shows up in the card
    "m_media_manifest" ->
      """SELECT 'audio' AS media_type, CAST(COUNT(*) AS BIGINT) AS n_assets,
        |  CAST(SUM(512 + n_chars % 512) AS BIGINT) AS sum_units,
        |  CAST(MIN(512 + n_chars % 512) AS INT) AS min_dim,
        |  CAST(MAX(512 + n_chars % 512) AS INT) AS max_dim
        |FROM documents
        |UNION ALL
        |SELECT 'image', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM((8 + n_chars % 24) * (8 + doc_id % 24)) AS BIGINT),
        |  CAST(MIN(LEAST(8 + n_chars % 24, 8 + doc_id % 24)) AS INT),
        |  CAST(MAX(GREATEST(8 + n_chars % 24, 8 + doc_id % 24)) AS INT)
        |FROM documents
        |ORDER BY 1""".stripMargin,
    // per-modality dedup-rate card: all three fingerprint closures in one
    // query (prefixed fragments), kept = assets − non-min component
    // members — the d_dedup_rates triage view across modalities
    "m_media_dedup_rates" ->
      s"""WITH RECURSIVE $mediaDhashCtes,
         |$mediaAudioFpCtes,
         |$mediaVideoFpCtes,
         |${mediaClosureCtes("i", 4)},
         |${mediaClosureCtes("a", 4)},
         |${mediaClosureCtes("v", 4)}
         |SELECT 'audio' AS media_type,
         |  CAST((SELECT COUNT(*) FROM ahx) AS BIGINT) AS n_assets,
         |  CAST((SELECT COUNT(*) FROM ahx) - (SELECT COUNT(*) FROM alosers) AS BIGINT) AS n_kept,
         |  round(CAST((SELECT COUNT(*) FROM alosers) AS DOUBLE)
         |        / CAST((SELECT COUNT(*) FROM ahx) AS DOUBLE), 6) AS dup_rate
         |UNION ALL
         |SELECT 'image',
         |  CAST((SELECT COUNT(*) FROM ihx) AS BIGINT),
         |  CAST((SELECT COUNT(*) FROM ihx) - (SELECT COUNT(*) FROM ilosers) AS BIGINT),
         |  round(CAST((SELECT COUNT(*) FROM ilosers) AS DOUBLE)
         |        / CAST((SELECT COUNT(*) FROM ihx) AS DOUBLE), 6)
         |UNION ALL
         |SELECT 'video',
         |  CAST((SELECT COUNT(*) FROM vhx) AS BIGINT),
         |  CAST((SELECT COUNT(*) FROM vhx) - (SELECT COUNT(*) FROM vlosers) AS BIGINT),
         |  round(CAST((SELECT COUNT(*) FROM vlosers) AS DOUBLE)
         |        / CAST((SELECT COUNT(*) FROM vhx) AS DOUBLE), 6)
         |ORDER BY 1""".stripMargin,
  )
}

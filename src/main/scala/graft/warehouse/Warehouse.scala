package graft.warehouse

import graft.Graft.LeaseOps

import java.security.MessageDigest

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dims.DimDates
import graft.operators.{FactBuild, Scd2}
import graft.sources.Ingest

/** Corpus-backed warehouse: the reference's dim/fact tables (SURVEY.md
  * §1.3) materialized ONCE per corpus and read as parquet by every
  * analytic query — exactly the reference's own design, where the DAG
  * creates persisted tables (process_orders_sqls.py:15-26,67-90) and the
  * analytic queries (docs/cheat-sheets/postgresql.md:102-146) just read
  * them. Rebuilding a dim inside every analytic query is a plan you would
  * never ship at 100 TB; at scale the SCD2 chain runs nightly and lands
  * via [[Ingest.overwriteSwap]], which is precisely what
  * [[ensureMaterialized]] does.
  *
  * Mapping: `events` plays the order-event stream
  * (/root/reference/README.md:29-39) with user_id→order id,
  * event_type→status, ts→event time, event_id→tiebreak; `part` plays the
  * product snapshot (README.md:18-27) with p_type→category,
  * p_retailprice→price. A second synthetic product snapshot
  * (deterministic: every 5th part changes category and price) drives real
  * SCD2 version chains so the as-of joins (J2) have multiple versions to
  * choose between at different event times.
  *
  * Scale posture: dims are bounded by entity cardinality (users/parts),
  * never by fact size. Each batch merge materializes its output before
  * the next batch reads it (overwriteSwap between the chained product /
  * event batches) — chaining merges lazily compounds each merge's triple
  * probe of its input dim into an exponentially duplicated join tree.
  */
object Warehouse {
  /** Batch ts for the events merge — after the last corpus event. */
  val OrdersBatchTs = "2025-01-01 00:00:00"
  /** Product snapshot batches: v1 before lineitem history, v2 mid-history
    * so `l_shipdate` straddles the version boundary. */
  val PartsBatch1 = "1995-01-01 00:00:00"
  val PartsBatch2 = "1998-01-01 00:00:00"

  val ordersDimSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("status", StringType),
    StructField("event_time", TimestampType),
    StructField("processed_time", TimestampType),
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType)))

  val partsDimSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("category", StringType),
    StructField("price", DoubleType),
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType),
    StructField("processed_time", TimestampType)))

  /** Empty seed dim as a LocalRelation — NOT an empty RDD. An
    * `ExistingRDD` scan reports `defaultSizeInBytes` (= huge), so
    * Catalyst can neither propagate the empty relation nor pick
    * broadcast: the round-2 q10 physical plan was a 95-node
    * SortMergeJoin tree whose first merge should have folded away.
    * A LocalRelation empty lets `PropagateEmptyRelation` delete the
    * seed merge entirely. */
  def emptyDim(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  // ---------------------------------------------------------------------
  // Builders: the merge chains themselves (directly unit-testable).
  // ---------------------------------------------------------------------

  private def orderEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("user_id").as("id"),
      col("event_type").as("status"),
      col("ts").as("event_time"),
      col("event_id").as("tiebreak"))

  /** dim_orders (process_orders_sqls.py:67-77) via SCD2-EVENTS over the
    * corpus event stream. */
  def buildDimOrders(spark: SparkSession, sfDir: String): DataFrame =
    Scd2.eventsMerge(emptyDim(spark, ordersDimSchema),
      orderEvents(spark, sfDir), OrdersBatchTs)

  /** First (v1) product snapshot: `part` as-is. */
  def partsSnapshot1(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir).select(
      col("p_partkey").as("id"),
      col("p_type").as("category"),
      col("p_retailprice").as("price"))

  /** Second (v2) snapshot: every 5th part gets a new category suffix and a
    * +1.0 price bump (exact in binary FP — oracle-reproducible). */
  def partsSnapshot2(spark: SparkSession, sfDir: String): DataFrame = {
    val chg = col("id") % 5 === 0
    partsSnapshot1(spark, sfDir)
      .withColumn("category", when(chg, concat(col("category"), lit("_V2"))).otherwise(col("category")))
      .withColumn("price", when(chg, col("price") + lit(1.0)).otherwise(col("price")))
  }

  /** dim_products (process_orders_sqls.py:15-26) via two chained
    * SCD2-SNAPSHOT merges: changed parts carry [v1: 1995→1998) and
    * [v2: 1998→sentinel), unchanged parts a single open version.
    * `materialize` lands each batch's output before the next batch reads
    * it (identity = lazy chain with a persist, for tests; the cached
    * warehouse passes a parquet swap). */
  def buildDimParts(spark: SparkSession, sfDir: String,
                    materialize: DataFrame => DataFrame = d => d.leased): DataFrame = {
    val d1 = Scd2.snapshotMerge(
      emptyDim(spark, partsDimSchema), partsSnapshot1(spark, sfDir),
      Seq("category", "price"), PartsBatch1)
    Scd2.snapshotMerge(materialize(d1), partsSnapshot2(spark, sfDir),
      Seq("category", "price"), PartsBatch2)
  }

  /** The corpus event stream split at mid-month. */
  val BatchSplit = "2024-01-16 00:00:00"
  val Batch1Ts = "2024-01-16 00:00:00"
  val Batch2Ts = "2024-02-01 00:00:00"

  /** dim_orders built by TWO chained SCD2-EVENTS merges (the corpus
    * stream split at [[BatchSplit]]) — the multi-day pipeline shape:
    * batch 2's earliest event per id closes batch 1's open version AT
    * BATCH TIME (the reference quirk), then batch 2's own version chain
    * appends. */
  def buildDimOrdersTwoBatches(spark: SparkSession, sfDir: String,
                               materialize: DataFrame => DataFrame = d => d.leased): DataFrame = {
    val ev = orderEvents(spark, sfDir)
    val split = to_timestamp(lit(BatchSplit))
    val d1 = Scd2.eventsMerge(
      emptyDim(spark, ordersDimSchema), ev.where(col("event_time") < split), Batch1Ts)
    Scd2.eventsMerge(materialize(d1), ev.where(col("event_time") >= split), Batch2Ts)
  }

  /** IVF codebook for the corpus embeddings: deterministic sampled
    * spherical k-means ([[graft.vector.Similarity.trainIvfCentroids]]),
    * trained ONCE per corpus — retrieval queries read it instead of
    * re-running Lloyd iterations per query. Corpora without an
    * embeddings table get an empty codebook (searches return no rows).
    *
    * ncells SCALES with the corpus (target cell width ~[[IvfCellWidth]]
    * vectors, floor 16, cap [[IvfCellCap]]): every blocked consumer —
    * in-cell ANN candidate scans, SemDeDup pairs, margin-mining fanout —
    * costs cell_width² per cell, so a FIXED cell count turns them
    * quadratic as the corpus grows (measured: 16 cells over a 10×
    * corpus made q125 ~12× slower, not ~10×). At the test SFs (≤ 2k
    * vectors) the formula resolves to the floor 16, the historical
    * value. */
  def buildIvfCodebook(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/embeddings.parquet")
    val cents =
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Seq.empty
      else {
        val e = Tables.embeddings(spark, sfDir)
        val ncells = math.max(16L, math.min(IvfCellCap, e.count() / IvfCellWidth)).toInt
        graft.vector.Similarity.trainIvfCentroids(
          e, ncells = ncells, iters = 3, sampleMod = 4)
      }
    // repartition(1): an empty LocalRelation writes zero part files
    // (only _SUCCESS), leaving nothing to infer the schema from on read
    graft.vector.Similarity.codebookDf(spark, cents).repartition(1)
  }

  /** Target vectors per IVF cell (see [[buildIvfCodebook]]). */
  val IvfCellWidth = 512L

  /** Codebook size ceiling — lifted 4096 → 65536 (r14) now that the
    * production assignment is two-level above the crossover: the 4096
    * cap existed because FLAT assignment pays ncells dots/vector, and
    * it silently expired the in-cell-quadratic bound at ~2M vectors
    * (cell width grows linearly past the cap, pair mass quadratically —
    * the r13 `weak`). With O(√ncells) assignment the binding constraint
    * moves to the driver-side artifacts: at 65536 cells the codebook is
    * 65536 × 64 doubles ≈ 33 MB (collected once per build, broadcast as
    * the two-level join's small side — comfortably literal-sized) and
    * the super layer is a √65536 = 256-point driver k-means over it
    * (milliseconds). Cell width therefore stays ~[[IvfCellWidth]] up to
    * ~33.5M vectors per corpus partition of the index; past THAT the
    * same machinery stacks (a third level / distributed super training),
    * but 65536 is where the collected-codebook contract stops being
    * obviously cheap, so the cap states it. */
  val IvfCellCap = 65536L

  /** Rank depth materialized in the `ivf_assign` artifact. Consumers
    * probe at most rn ≤ 6 (nprobe) and index on rn = 1; 8 leaves
    * headroom. Bounding the depth matters at scale: the flat build used
    * to land ALL ncells ranks per vector — ncells/8 × the artifact rows
    * for ranks nothing reads (78M rows at sf10, 1.6M bounded). */
  val IvfAssignMaxRank = 8

  /** Near-dup cluster assignment (doc_id, cluster_id) — LSH pairs →
    * connected components, computed ONCE per corpus build exactly like
    * the dims: dedup clusters are corpus state, not query state, and at
    * 100 TB nothing recomputes a transitive closure inside an analytic
    * query. Queries project keepers/sizes from this table. */
  def buildNearDupClusters(spark: SparkSession, sfDir: String,
                           pairs: DataFrame): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("doc_id"), col("id").as("cluster_id"))
        .repartition(1)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    graft.operators.Components.minLabel(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
  }

  /** Empty (doc_id, band, band_key) band table — the no-documents shape
    * of the two band-signature artifacts below. */
  private def emptyBands(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"), col("id").cast("int").as("band"),
      col("id").cast("string").as("band_key")).repartition(1)

  private def emptyGroups(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"), col("id").as("th"),
      col("id").as("rep")).repartition(1)

  /** Exact-duplicate group table (doc_id, th, rep) over the FULL corpus
    * ([[graft.text.TextDedup.exactGroups]]) — the stage-1 dedup state
    * the banding artifacts derive from (r14: exact dedup BEFORE
    * near-dup, the RefinedWeb ordering): `band_signatures` bands one
    * rep per group, `neardup_pairs` recovers intra-group relations as
    * star edges through this table. */
  def buildExactReps(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return emptyGroups(spark)
    graft.text.TextDedup.exactGroups(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
  }

  /** [[buildExactReps]] over the BASE slice (doc_id % 10 !=
    * [[HoldoutMod]]) — the corpus-side group table the incremental
    * near-dup (q76) and [[graft.streaming.StreamRelease]] probe for
    * exact hits (built from the base slice directly: a group's rep is
    * the min id WITHIN the population the probe claims to know). */
  def buildExactRepsBase(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return emptyGroups(spark)
    graft.text.TextDedup.exactGroups(
      Tables.documents(spark, sfDir)
        .where(pmod(col("doc_id"), lit(10)) =!= HoldoutMod)
        .select(col("doc_id"), col("text")))
  }

  /** Capped MinHash-LSH band-signature table (doc_id, band, band_key)
    * over the FULL corpus — the parquet twin of what the pair build
    * computes ([[graft.text.TextDedup.bandSignatures]]'s own design
    * note): the signature table is CORPUS STATE, landed once per build
    * so the pair self-join (and any band-probing analytic) joins
    * parquet instead of re-running shingle → minhash → band → cap
    * window per query. Maintained incrementally by the
    * [[graft.text.TextDedup.bandRowsAdmitted]] append law
    * ([[graft.streaming.StreamRelease]] applies it per micro-batch;
    * WarehouseMaintenanceSpec pins append ≡ cold rebuild). */
  def buildBandSignatures(spark: SparkSession, sfDir: String,
                          groups: DataFrame): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return emptyBands(spark)
    // one REP per exact group bands (r14 — the landed `exact_reps`
    // table passed in, the registry dependency pattern): a boilerplate
    // mega-group holds one band slot, so the occupancy cap stops
    // discarding the distinct near-dup tail behind it
    graft.text.TextDedup.bandSignatures(
      graft.text.TextDedup.shingled(graft.text.TextDedup.repDocs(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")), groups)),
      graft.text.TextDedup.LshMaxBucket)
  }

  /** Capped band-signature table of the BASE corpus (doc_id % 10 !=
    * [[HoldoutMod]]) — the maintained corpus-side index the incremental
    * near-dup (q76) probes, exactly parallel to `gram_index_base` for
    * the substring scrub. Built from the base slice directly (NOT a
    * filter of the full table: the occupancy cap is a window over the
    * banded population, so cap-then-filter ≠ filter-then-cap). */
  def buildBandSignaturesBase(spark: SparkSession, sfDir: String,
                              groups: DataFrame): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return emptyBands(spark)
    graft.text.TextDedup.bandSignatures(
      graft.text.TextDedup.shingled(graft.text.TextDedup.repDocs(
        Tables.documents(spark, sfDir)
          .where(pmod(col("doc_id"), lit(10)) =!= HoldoutMod)
          .select(col("doc_id"), col("text")), groups)),
      graft.text.TextDedup.LshMaxBucket)
  }

  /** The MinHash-LSH near-dup PAIR table (doc_a, doc_b, jaccard) — the
    * duplicate graph's edge list, materialized once per corpus like the
    * clusters built from it: every graph analytic (closure q35,
    * centrality q105, triangle density q107) reads this table instead
    * of re-running shingle → signature → band join per query. The
    * candidate self-join reads the `band_signatures` artifact LANDED
    * just above it in the registry (the ivf_assign dependency pattern);
    * only the exact-jaccard verify re-shingles, and only surviving
    * candidates are intersected. */
  def buildNearDupPairs(spark: SparkSession, sfDir: String,
                        bands: DataFrame, groups: DataFrame): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("doc_a"), col("id").as("doc_b"),
        col("id").cast("double").as("jaccard")).repartition(1)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // rep-level verified pairs (bands hold reps only since r14) UNION
    // the intra-group star edges — the duplicate graph's spanning edge
    // set, linear in the corpus where member×member expansion is
    // quadratic in group size
    graft.text.TextDedup.minhashLshPairsFromBands(
        bands,
        graft.text.TextDedup.shingled(
          graft.text.TextDedup.repDocs(docs, groups)).leased)
      .unionByName(graft.text.TextDedup.exactStarEdges(groups))
      .orderBy("doc_a", "doc_b")
  }

  /** PQ codebooks (subspace, code, cv) — the trained product-quantizer
    * a production pipeline persists beside the IVF codebook (FAISS
    * index = coarse centroids + PQ codebooks + codes; the codes are
    * per-vector data, these two are the literal-sized artifacts). */
  def buildPqCodebooks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(s"$sfDir/embeddings.parquet")
    val books =
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        Seq.empty[Seq[Seq[Double]]]
      else graft.vector.ProductQuant.trainCodebooks(
        Tables.embeddings(spark, sfDir), dim = 64, m = 4, ksub = 16)
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) => (s, j, c) }
    }.toDF("subspace", "code", "cv").repartition(1)
  }

  /** Ranked IVF cell assignment (vec_id, cell, rn ≤ [[IvfAssignMaxRank]])
    * under the trained codebook — the inverted-list index itself, the
    * per-vector half of the FAISS artifact pair (codebook =
    * literal-sized, assignment = per-vector). Materialized so retrieval
    * queries pay two parquet joins instead of re-scoring ncells literal
    * centroids per vector per query (the q29/q44 cold-path cost was
    * exactly that codegen).
    *
    * Built under the PRODUCTION selector
    * ([[graft.vector.Similarity.cellRankAuto]]): flat literal ranking
    * while the codebook holds ≤ crossover cells (the test SFs),
    * two-level super-cell ranking above it — O(√ncells) dots/vector,
    * the change that let [[IvfCellCap]] lift off 4096. The super-cell
    * artifacts are LANDED before this table (registry order) and passed
    * in, so the assignment provably derives from the same super layer
    * its probers read. */
  def buildIvfAssign(spark: SparkSession, sfDir: String, codebook: DataFrame,
                     supercells: DataFrame, superMap: DataFrame): DataFrame = {
    val p = new Path(s"$sfDir/embeddings.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      // repartition(1): see buildIvfCodebook — an empty write must still
      // land one part file or the read-back has no schema to infer
      return spark.range(0).select(col("id").as("vec_id"), col("id").as("cell"),
        col("id").cast("int").as("rn")).repartition(1)
    graft.vector.Similarity.cellRankAuto(Tables.embeddings(spark, sfDir), codebook,
      probes = IvfAssignMaxRank, supercells = Some(supercells),
      superMap = Some(superMap))
  }

  /** PQ codes (vec_id, codes array<int>) under the trained codebooks —
    * the compressed per-vector index state (m bytes/vector; the only
    * data-sized piece of the PQ artifact). Encoded once per corpus
    * build; q44's search joins these instead of re-encoding the corpus
    * inside every query. */
  def buildPqCodes(spark: SparkSession, sfDir: String,
                   books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val p = new Path(s"$sfDir/embeddings.parquet")
    if (books.isEmpty ||
        !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("vec_id"),
        array().cast("array<int>").as("codes")).repartition(1)
    graft.vector.ProductQuant.encode(Tables.embeddings(spark, sfDir), dim = 64, books)
  }

  /** √ncells SUPER-CELL layer over the trained codebook (sid, sv,
    * snrm) — the two-level coarse-assignment artifact
    * ([[graft.vector.Similarity.trainSuperCells]]): flat assignment is
    * ncells dots/vector and ncells scales with the corpus, so at the
    * 4096-cell cap every assignment pays 4096 dots; probing `sprobe`
    * supers then their member cells costs O(√ncells). Trained on the
    * DRIVER from the landed codebook (literal-sized input), like the
    * codebook itself a refresh-on-build artifact. */
  def buildIvfSuperCells(spark: SparkSession, codebook: DataFrame): DataFrame = {
    val (supers, m) = graft.vector.Similarity.trainSuperCells(
      graft.vector.Similarity.collectCodebook(codebook).toSeq)
    if (supers.isEmpty)
      return spark.range(0).select(col("id").as("sid"),
        array().cast("array<double>").as("sv"), col("id").cast("double").as("snrm"))
        .repartition(1)
    graft.vector.Similarity.superCellTables(spark, supers, m)._1.repartition(1)
  }

  /** cell → super-cell membership (cid, sid) under the SAME training
    * run as [[buildIvfSuperCells]] (deterministic, so re-deriving here
    * cannot fork from the super table). */
  def buildIvfSuperMap(spark: SparkSession, codebook: DataFrame): DataFrame = {
    val (supers, m) = graft.vector.Similarity.trainSuperCells(
      graft.vector.Similarity.collectCodebook(codebook).toSeq)
    if (supers.isEmpty)
      return spark.range(0).select(col("id").as("cid"), col("id").as("sid"))
        .repartition(1)
    graft.vector.Similarity.superCellTables(spark, supers, m)._2.repartition(1)
  }

  /** Per-vector margin-mining denominators (id, den) under the landed
    * ivf_assign — the CCMatrix criterion's per-vector normalizers
    * ([[graft.vector.Similarity.marginDenoms]]), refreshed per corpus
    * build beside the assignment so the full (q125) and incremental
    * (q137) miners score against identical neighborhoods. */
  def buildMarginDenoms(spark: SparkSession, sfDir: String,
                        assign: DataFrame): DataFrame = {
    val p = new Path(s"$sfDir/embeddings.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id"), col("id").as("den")).repartition(1)
    graft.vector.Similarity.marginDenoms(Tables.embeddings(spark, sfDir), assign)
  }

  /** Empty (qid, rank, nid, cosine) ranked list — the shared shape of
    * the three retrieval artifacts below for corpora without an
    * embeddings table. */
  private def emptyRankedList(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("qid"), col("id").cast("int").as("rank"),
      col("id").as("nid"), col("id").cast("double").as("cosine")).repartition(1)

  private def hasEmbeddings(spark: SparkSession, sfDir: String): Boolean = {
    val p = new Path(s"$sfDir/embeddings.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Label-blocked exact-kNN ground truth (qid, rank, nid, cosine) —
    * the single most expensive corpus derivation in the registry
    * (quadratic within each block), and pure corpus state: four evals
    * (recall q99, ensemble q104, rerank q117, hard negatives q118) plus
    * the operator demo q17 all consume the SAME truth table.
    * Materializing it turns four quadratic recomputations per bench run
    * into bounded parquet joins — the q29/q44 discipline applied to the
    * eval harness itself. At 100 TB the truth table is a nightly
    * build beside the index artifacts; evals are joins against it. */
  def buildKnnExact(spark: SparkSession, sfDir: String): DataFrame = {
    if (!hasEmbeddings(spark, sfDir)) return emptyRankedList(spark)
    graft.vector.Similarity.knnBruteForce(Tables.embeddings(spark, sfDir))
  }

  /** Hyperplane-LSH top-k list (qid, rank, nid, cosine) — the searched
    * index output, same build-once argument as [[buildKnnExact]]: five
    * queries (q18/q102/q104/q114/q117/q118/q120) re-ran the bucketed
    * search per query; the ranked list is deterministic corpus state. */
  def buildAnnLshTopk(spark: SparkSession, sfDir: String): DataFrame = {
    if (!hasEmbeddings(spark, sfDir)) return emptyRankedList(spark)
    graft.vector.Similarity.annLsh(Tables.embeddings(spark, sfDir))
  }

  /** Trained-IVF top-k list (qid, rank, nid, cosine) under the landed
    * ivf_assign — the searched-index sibling of [[buildAnnLshTopk]]. */
  def buildAnnIvfTopk(spark: SparkSession, sfDir: String,
                      assign: DataFrame): DataFrame = {
    if (!hasEmbeddings(spark, sfDir)) return emptyRankedList(spark)
    graft.vector.Similarity.annIvfWithAssign(Tables.embeddings(spark, sfDir), assign)
  }

  /** Sampled-GLOBAL exact top-k (qid, rank, nid, cosine) — ground
    * truth under the protocol that survives corpus scale (hash-sampled
    * queries × streamed corpus, sample broadcast): the second
    * denominator every recall eval reports beside the label-blocked
    * truth. Corpus state like [[buildKnnExact]]. */
  def buildKnnGlobalSampled(spark: SparkSession, sfDir: String): DataFrame = {
    if (!hasEmbeddings(spark, sfDir)) return emptyRankedList(spark)
    graft.vector.Similarity.knnGlobalSampled(Tables.embeddings(spark, sfDir))
  }

  /** Fixed-point label-centroid SUM state (label, pos, s, n) of the
    * BASE corpus (vec_id % 10 != [[HoldoutMod]]) — the maintained
    * corpus side of the embedding-drift monitor (q156):
    * [[graft.vector.Similarity.labelCentroidSums]], labels × dim rows,
    * sum-mergeable under appends (WarehouseMaintenanceSpec pins the
    * law), so scoring an arriving batch never re-aggregates the
    * corpus. */
  def buildLabelCentroidSumsBase(spark: SparkSession, sfDir: String): DataFrame = {
    if (!hasEmbeddings(spark, sfDir))
      return spark.range(0).select(col("id").cast("int").as("label"),
        col("id").cast("int").as("pos"), col("id").as("s"), col("id").as("n"))
        .repartition(1)
    graft.vector.Similarity.labelCentroidSums(
      Tables.embeddings(spark, sfDir)
        .where(pmod(col("vec_id"), lit(10)) =!= HoldoutMod))
  }

  /** Corpus gram-occurrence table (doc_id, pos, h) at the ExactSubstr
    * resolution (8 tokens) — the distributed suffix-array stand-in,
    * corpus state by the neardup_pairs argument: every substring
    * analytic (scrub q122, incremental scrub q123, source overlap
    * q124) reads this table instead of re-hashing the corpus's grams
    * per query. */
  def buildGramOccurrences(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("doc_id"), col("id").as("pos"),
        col("id").as("h")).repartition(1)
    graft.text.SegmentDedup.gramOccurrences(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
  }

  /** The canonical ingestion-simulation split shared by every
    * incremental query (q76/q77/q123/q137): the landed, immutable
    * "base corpus" is `id % 10 != `[[HoldoutMod]], the arriving batch
    * is `id % 10 == `[[HoldoutMod]]. */
  val HoldoutMod = 7

  /** Distinct gram-hash index of the BASE corpus (docs with
    * doc_id % 10 != [[HoldoutMod]]) — the maintained index the
    * incremental substring scrub (q123) probes, reduced from the landed
    * gram_occurrences artifact. At 100 TB this is the per-batch-appended
    * index [[graft.text.SegmentDedup.scrubExactSubstrAgainstIndex]]'s
    * scaladoc describes; here the base-corpus slice plays the landed
    * history. */
  def buildGramIndexBase(grams: DataFrame): DataFrame =
    grams.where(pmod(col("doc_id"), lit(10)) =!= HoldoutMod)
      .select(col("h")).distinct()

  /** Serialized sketch bloom fronting [[buildGramIndexBase]] — the
    * map-side pre-filter for the index probe (built once when the index
    * lands, exactly the artifact the operator scaladoc promises). One
    * row: (bf BINARY, n_items, fpp_micro). An empty index gets a
    * 1-capacity bloom (still a valid filter; nothing passes that the
    * semi-join wouldn't drop). */
  def buildGramBloomBase(spark: SparkSession, index: DataFrame): DataFrame = {
    import spark.implicits._
    val n = index.count()
    val bytes = graft.operators.BloomPrune.sketchBloomBytes(
      index, "h", math.max(n, 1L), 0.01)
    Seq((bytes, n, 10000L)).toDF("bf", "n_items", "fpp_micro").repartition(1)
  }

  /** Trained BPE merge table (rank, left, right, pair_freq) — the
    * tokenizer is corpus state exactly like the IVF/PQ codebooks:
    * trained once per corpus build, read by every encode query. Corpora
    * without a documents table get an empty table (encode emits no
    * rows). */
  def buildBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(s"$sfDir/documents.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val table =
      if (!fs.exists(p))
        Seq.empty[(Int, String, String, Long)].toDF("rank", "left", "right", "pair_freq")
      else graft.text.Bpe.mergeTable(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")), 12)
    table.repartition(1)
  }

  /** Word co-occurrence edge list (tok_a, tok_b, w) — corpus state by
    * the neardup_pairs argument: vocabulary-bounded, derived once,
    * shared by the PMI collocations (q93) and TextRank (q101) graph
    * analytics instead of each re-deriving the same edges per query. */
  def buildCooccurEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").cast("string").as("tok_a"),
        col("id").cast("string").as("tok_b"), col("id").as("w")).repartition(1)
    graft.text.Cooccur.pairCounts(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
  }

  /** BM25 inverted index (tok, doc_id, tf) — sparse-retrieval corpus
    * state beside the dense ann_* artifacts: every BM25 query reads
    * this instead of re-tokenizing `documents`. Landed term-sorted in
    * one file so a query-term filter prunes by parquet row-group
    * stats (the demo-scale stand-in for bucketing by `tok`). */
  def buildBm25Postings(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").cast("string").as("tok"),
        col("id").as("doc_id"), col("id").as("tf")).repartition(1)
    graft.text.TextAnalysis.bm25Postings(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .repartition(1).sortWithinPartitions("tok", "doc_id")
  }

  /** BM25 per-doc token lengths (doc_id, len) — derived from the
    * LANDED postings (Σ tf per doc), the length-normalization side of
    * the index pair. */
  def buildBm25DocLens(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))

  /** DSIR distribution state over the BASE corpus (doc_id % 10 !=
    * [[HoldoutMod]]): per-bucket hashed-bigram counts under the raw
    * corpus and the 'en' target slice
    * ([[graft.text.Curation.dsirCounts]]). ≤ 1024 rows — the
    * broadcast-size ratio table the incremental scorer (q153) probes,
    * so scoring an arriving batch never re-reads the corpus. Counts
    * sum-merge under appends (WarehouseMaintenanceSpec pins the law). */
  def buildDsirCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("feat"),
        col("id").as("cnt_r"), col("id").as("cnt_t")).repartition(1)
    graft.text.Curation.dsirCounts(graft.text.Curation.dsirFeatures(
      Tables.documents(spark, sfDir)
        .where(pmod(col("doc_id"), lit(10)) =!= HoldoutMod)
        .select(col("doc_id"), col("text"), col("lang"))))
  }

  /** Canonical hashed shingle sets (doc_id, hs ARRAY<BIGINT>) — the
    * shared exact-set-similarity artifact
    * ([[graft.text.TextDedup.hashedShingleSets]]): PPJoin (q32),
    * containment (q40) and dup-gram coverage (q82) read it instead of
    * re-shingling the corpus per query. */
  def buildDocHashsets(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("doc_id"),
        array().cast("array<bigint>").as("hs")).repartition(1)
    graft.text.TextDedup.hashedShingleSets(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
  }

  /** Positional posting table (tok, doc_id, pos) — the phrase-query
    * artifact beside the tf-only bm25_postings (see
    * [[graft.text.InvertedIndex.tokenPositions]]); landed term-sorted
    * for row-group pruning. */
  def buildTokenPositions(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").cast("string").as("tok"),
        col("id").as("doc_id"), col("id").cast("int").as("pos")).repartition(1)
    graft.text.InvertedIndex.tokenPositions(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .repartition(1).sortWithinPartitions("tok", "doc_id", "pos")
  }

  /** Composite document quality (doc_id, quality) — the keeper-policy
    * score ([[graft.text.TextAnalysis.compositeQuality]]), corpus
    * state like the clusters it ranks: derived once, read by every
    * keeper/curation analytic instead of re-flagging the corpus per
    * query. */
  def buildDocQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("doc_id"), col("id").as("quality"))
        .repartition(1)
    graft.text.TextAnalysis.compositeQuality(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
  }

  /** Scrubbed RELEASE-SURVIVOR pool (doc_id, source, quality,
    * n_tokens, n_dup_tokens, kept_tokens, clean_text) — stages 1+2 of
    * the release chain ([[graft.pipeline.Release.survivors]]: exact-
    * substring scrub of the near-dup keepers against the full-corpus
    * gram table, quality and source attached) as corpus state. The
    * scrub is a pure function of artifacts that already live here
    * (gram_occurrences × neardup_clusters × doc_quality × documents),
    * so re-running it inside every release analytic (q140's card,
    * q147's diff) re-paid the corpus's dominant gram shuffle per
    * query; landed once, the release queries become decision-layer
    * arithmetic over this table — the same argument that moved the
    * near-dup closure (r5) and the ANN index state (r7) into the
    * warehouse. The streaming twin maintains the equivalent pool
    * incrementally (scrub-at-arrival,
    * [[graft.streaming.StreamRelease]], stream≡batch spec-gated). */
  def buildReleaseSurvivors(spark: SparkSession, sfDir: String,
                            grams: DataFrame, clusters: DataFrame,
                            quality: DataFrame): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("doc_id"),
        lit("").as("source"), col("id").as("quality"),
        col("id").as("n_tokens"), col("id").as("n_dup_tokens"),
        col("id").as("kept_tokens"), lit("").as("clean_text")).repartition(1)
    graft.pipeline.Release.survivors(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text")),
      grams, clusters, quality)
  }

  /** Unigram counts (tok, n) under the same tokenization — the PMI
    * denominator table beside [[buildCooccurEdges]]. */
  def buildTokenUnigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/documents.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").cast("string").as("tok"),
        col("id").as("n")).repartition(1)
    graft.text.Cooccur.unigramCounts(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
  }

  /** The events stream laid out for date pruning: hive-partitioned by
    * `day` = to_date(ts) — the warehouse layout the reference's daily
    * batches imply (docs/guides.md:61-62): a date-ranged metric reads
    * only the matching day directories (PartitionFilters at the scan,
    * pinned by PlanShapeSpec), and each daily batch appends ONE new
    * partition ([[Ingest.appendPartitioned]]) without rewriting landed
    * days. At 100 TB this is the difference between scanning years and
    * scanning a week. */
  def buildEventsByDay(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new Path(s"$sfDir/events.parquet")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return spark.range(0).select(col("id").as("event_id"),
        current_timestamp().as("ts"), col("id").as("user_id"),
        col("id").cast("string").as("event_type"), col("id").cast("double").as("value"),
        col("id").cast("string").as("props"), current_date().as("day"))
        .repartition(1)
    Tables.events(spark, sfDir).withColumn("day", to_date(col("ts")))
  }

  /** fact_orders_created (process_orders_sqls.py:79-90): the first event
    * per order joined to the date dimension for the surrogate key. */
  def buildFactOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("user_id").as("key"),
      col("ts").as("event_time"),
      col("event_id").as("tiebreak"),
      col("event_type").as("first_status"),
      col("value"))
    FactBuild.firstEventFacts(ev, DimDates.build(spark)).select(
      col("key").as("order_id"),
      col("created_date_id"),
      col("created_time"),
      col("first_status"),
      col("value"))
  }

  // ---------------------------------------------------------------------
  // Materialized layer: build once per corpus, read parquet thereafter.
  // ---------------------------------------------------------------------

  /** Bump whenever any builder/merge SEMANTIC changes — a stale cache
    * would otherwise silently feed old results to the correctness gate.
    * v2: + ivf_codebook table (embeddings joined the fingerprint).
    * v3: + bpe_merges table (documents joined the fingerprint).
    * v4: + ivf_assign and pq_codes (the per-vector index state — q29/q44
    *   read these instead of re-assigning/re-encoding per query).
    * v6: + cooccur_edges and token_unigrams (the word co-occurrence
    *   graph — q93/q101 read corpus state instead of re-deriving).
    * v7: + doc_quality (the composite keeper score — q113/q115 read
    *   corpus state instead of re-flagging per query).
    * v8: + knn_exact / knn_global_sampled / ann_lsh_topk / ann_ivf_topk
    *   (both exact truths and the two searched-index lists — the
    *   retrieval evals and the q17/q18/q29 demos read corpus state
    *   instead of re-searching) + gram_occurrences (the ExactSubstr
    *   gram table — q122/q123/q124 read it instead of re-hashing).
    * v9: ivf_codebook ncells scales with corpus size (fixed cell-width
    *   target; resolves to the legacy 16 at the test SFs) + bm25
    *   postings/doclens, gram_index_base/gram_bloom_base, margin_denoms
    *   artifacts joined the registry.
    * v10: + band_signatures / band_signatures_base (the capped LSH
    *   signature tables as corpus state — neardup_pairs self-joins the
    *   landed full-corpus table; q76 probes the base slice) +
    *   label_centroid_sums_base (the drift monitor's corpus side as
    *   mergeable sum state — q156 probes it).
    * v11: ivf_assign built under the PRODUCTION selector (flat ≤ the
    *   crossover, two-level above) and truncated at
    *   [[IvfAssignMaxRank]] ranks; super layer lands before the
    *   assignment; [[IvfCellCap]] lifted 4096 → 65536.
    * v12: exact dedup BEFORE near-dup — + exact_reps/exact_reps_base;
    *   band_signatures* band one rep per exact group; neardup_pairs =
    *   rep-level verified pairs ∪ intra-group star edges. */
  private val CacheVersion = "v12"

  /** Per-artifact build-recipe versions — bump ONE entry when that
    * artifact's build semantics change, instead of bumping
    * [[CacheVersion]] and re-landing the whole warehouse (r14: the
    * selector/banding changes re-built all ~40 artifacts, 46 s at
    * sf0.1 and hours at sf10, when only 3 had changed). Downstream
    * artifacts re-land automatically: an artifact's on-disk stamp
    * ([[artifactStamps]]) hashes its own version AND its dependencies'
    * stamps, so a bump propagates through [[artifactDeps]] exactly as
    * far as the build graph requires. Artifacts absent here are at
    * version 1. [[CacheVersion]] remains the LAYOUT version (dir
    * naming, marker scheme) — bump it only when the cache format
    * itself changes. */
  private val artifactVersions: Map[String, Int] = Map(
    // v2: annLsh's bucket join salted (SkewJoin ×LshSalt — same rows,
    // same top-k; re-land so the cache reflects the shipped plan)
    "ann_lsh_topk" -> 2)

  /** The build-graph edges: artifact → the landed artifacts its build
    * thunk reads (the `$dir/<name>` parquet reads in [[registry]]).
    * Used ONLY for stamp propagation — build ORDER is still the
    * registry's ordered Seq. A name listed here but missing from the
    * registry fails [[ensureMaterialized]] loudly (typo guard); the
    * spec additionally pins that every dep precedes its dependent in
    * registry order. */
  private[graft] val artifactDeps: Map[String, Seq[String]] = Map(
    "ivf_supercells" -> Seq("ivf_codebook"),
    "ivf_super_map" -> Seq("ivf_codebook"),
    "ivf_assign" -> Seq("ivf_codebook", "ivf_supercells", "ivf_super_map"),
    "margin_denoms" -> Seq("ivf_assign"),
    "ann_ivf_topk" -> Seq("ivf_assign"),
    "pq_codes" -> Seq("pq_codebooks"),
    "band_signatures" -> Seq("exact_reps"),
    "band_signatures_base" -> Seq("exact_reps_base"),
    "neardup_pairs" -> Seq("band_signatures", "exact_reps"),
    "neardup_clusters" -> Seq("neardup_pairs"),
    "gram_index_base" -> Seq("gram_occurrences"),
    "gram_bloom_base" -> Seq("gram_index_base"),
    "bm25_doclens" -> Seq("bm25_postings"),
    "release_survivors" -> Seq("gram_occurrences", "neardup_clusters", "doc_quality"))

  /** Recipe version for one artifact: the static table, overridable at
    * launch via `-Dgraft.wh.vbump=name:ver,...` (or SPARK_GRAFT_WH_VBUMP)
    * — the operational force-rebuild knob: bump one artifact and its
    * dependents re-land on next touch, nothing else does. */
  private def versionOf(name: String): Int = {
    val bumps = sys.props.get("graft.wh.vbump")
      .orElse(sys.env.get("SPARK_GRAFT_WH_VBUMP"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
        val parts = kv.split(":")
        require(parts.length == 2, s"graft.wh.vbump entry '$kv' is not name:version")
        (parts(0).trim, parts(1).trim.toInt)
      }.toMap).getOrElse(Map.empty)
    bumps.getOrElse(name, artifactVersions.getOrElse(name, 1))
  }

  /** Effective per-artifact stamp: md5 of (name, own version, dep
    * stamps) — pure, so the propagation law is spec-testable without a
    * Spark session. A dependency's bump changes every transitive
    * dependent's stamp and ONLY those. */
  private[graft] def artifactStamps(version: String => Int,
                                    deps: Map[String, Seq[String]],
                                    names: Seq[String]): Map[String, String] = {
    val memo = scala.collection.mutable.Map.empty[String, String]
    def stamp(n: String): String = memo.getOrElseUpdate(n, {
      val d = deps.getOrElse(n, Seq.empty).map(stamp)
      val raw = s"$n:${version(n)}|${d.mkString(",")}"
      java.security.MessageDigest.getInstance("MD5")
        .digest(raw.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    })
    names.foreach(stamp)
    memo.toMap
  }

  private[graft] def cacheRoot: String =
    sys.props.get("graft.wh.cache")
      .orElse(sys.env.get("SPARK_GRAFT_WH_CACHE"))
      .getOrElse("target/graft-warehouse")

  /** Input fingerprint (path, length, mtime of every source file) — the
    * cache key self-invalidates if a corpus is regenerated in place
    * (tests point builders at freshly written temp dirs). */
  private def inputFingerprint(spark: SparkSession, sfDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = Seq("events.parquet", "part.parquet", "embeddings.parquet",
        "documents.parquet").flatMap { t =>
      val p = new Path(s"$sfDir/$t")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq(s"$t:absent")
      else {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          b += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
        }
        b.result().sorted
      }
    }
    val md5 = MessageDigest.getInstance("MD5")
      .digest(entries.mkString("\n").getBytes("UTF-8"))
    md5.take(6).map(b => f"$b%02x").mkString
  }

  /** Resolved cache dir per sfDir (memoized per JVM — the FS fingerprint
    * walk runs once per corpus, not once per query). Failed resolutions
    * are memoized too (Left): a deterministic failure that happened once
    * happens again — retrying it inside every downstream query silently
    * charges repeated attempts to whatever is being timed. */
  private val resolved = TrieMap.empty[String, Either[Throwable, String]]

  /** Per-TABLE build results, keyed by `$dir/$name`. Ten warehouse
    * artifacts are ten independent nightly jobs, not one transaction: in
    * r7 a corpus-regeneration type drift broke the events loader and the
    * single memoized `Left` took down every embeddings/documents-derived
    * artifact (ivf/pq/bpe/neardup) with it — 13 queries whose sources
    * were intact. Per-table memoization keeps a failed dim loud for ITS
    * readers while unrelated corpus state still lands. */
  private val tableState = TrieMap.empty[String, Either[Throwable, Unit]]

  /** Drop the per-JVM memos so the next read re-fingerprints its inputs.
    * Needed only when a corpus is REGENERATED IN PLACE within one JVM
    * (tests; an ops notebook reloading a day): across JVMs the
    * fingerprint in the directory name self-invalidates. */
  def invalidateResolved(): Unit = { resolved.clear(); tableState.clear() }

  private val buildLock = new Object

  private def resolveDir(spark: SparkSession, sfDir: String): String =
    resolved.getOrElseUpdate(sfDir,
      try Right(s"$cacheRoot/$CacheVersion-${inputFingerprint(spark, sfDir)}-" +
        sfDir.replaceAll("[^A-Za-z0-9.]+", "_"))
      catch { case e: Throwable => Left(e) }
    ).fold(e => throw e, identity)

  /** The warehouse table registry for one corpus, in dependency order
    * (index/cluster builds read artifacts landed earlier in the list). */
  private def registry(spark: SparkSession, sfDir: String, dir: String): Seq[(String, () => DataFrame)] = {
    // dim_products batch 1 is itself a materialized table (the nightly
    // recipe: merge N's output is swapped in before merge N+1 reads it).
    def viaSwap(name: String): DataFrame => DataFrame = { df =>
      Ingest.overwriteSwap(spark, df, s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    Seq(
      "dim_orders" -> (() => buildDimOrders(spark, sfDir)),
      "dim_products" -> (() => buildDimParts(spark, sfDir, viaSwap("dim_products_b1"))),
      "dim_orders_2b" -> (() => buildDimOrdersTwoBatches(spark, sfDir, viaSwap("dim_orders_2b_b1"))),
      "fact_orders" -> (() => buildFactOrders(spark, sfDir)),
      "ivf_codebook" -> (() => buildIvfCodebook(spark, sfDir)),
      // index state builds read the codebooks LANDED just above
      // (ordered seq): re-training them here would fork the artifact.
      // A failed codebook propagates: the parquet read throws, so the
      // dependent table records its own Left — loud for its readers.
      // Super layer lands BEFORE the assignment (r14): the assignment
      // build ranks through it above the crossover, so it must read the
      // same landed super tables its probers will.
      "ivf_supercells" -> (() => buildIvfSuperCells(spark,
        spark.read.parquet(s"$dir/ivf_codebook"))),
      "ivf_super_map" -> (() => buildIvfSuperMap(spark,
        spark.read.parquet(s"$dir/ivf_codebook"))),
      "ivf_assign" -> (() => buildIvfAssign(spark, sfDir,
        spark.read.parquet(s"$dir/ivf_codebook"),
        spark.read.parquet(s"$dir/ivf_supercells"),
        spark.read.parquet(s"$dir/ivf_super_map"))),
      "margin_denoms" -> (() => buildMarginDenoms(spark, sfDir,
        spark.read.parquet(s"$dir/ivf_assign"))),
      // retrieval truth + searched-index lists: corpus state consumed
      // by the eval queries (q99/q104/q117/q118) and the demos
      // (q17/q18/q29) — built once, beside the index they evaluate
      "label_centroid_sums_base" -> (() => buildLabelCentroidSumsBase(spark, sfDir)),
      "knn_exact" -> (() => buildKnnExact(spark, sfDir)),
      "knn_global_sampled" -> (() => buildKnnGlobalSampled(spark, sfDir)),
      "ann_lsh_topk" -> (() => buildAnnLshTopk(spark, sfDir)),
      "ann_ivf_topk" -> (() => buildAnnIvfTopk(spark, sfDir,
        spark.read.parquet(s"$dir/ivf_assign"))),
      "pq_codebooks" -> (() => buildPqCodebooks(spark, sfDir)),
      "pq_codes" -> (() => buildPqCodes(spark, sfDir,
        decodeBooks(spark.read.parquet(s"$dir/pq_codebooks")))),
      "bpe_merges" -> (() => buildBpeMerges(spark, sfDir)),
      // exact groups land first (r14: exact dedup BEFORE near-dup);
      // the signature tables band their reps, the pair build self-joins
      // the signatures and expands intra-group relations through the
      // group table, the cluster closure reads the pairs (single source
      // of truth for the duplicate graph — q14's operator demo still
      // derives pairs fresh, but the graph analytics q35/q105/q107
      // read corpus state, as production would)
      "exact_reps" -> (() => buildExactReps(spark, sfDir)),
      "exact_reps_base" -> (() => buildExactRepsBase(spark, sfDir)),
      "band_signatures" -> (() => buildBandSignatures(spark, sfDir,
        spark.read.parquet(s"$dir/exact_reps"))),
      "band_signatures_base" -> (() => buildBandSignaturesBase(spark, sfDir,
        spark.read.parquet(s"$dir/exact_reps_base"))),
      "neardup_pairs" -> (() => buildNearDupPairs(spark, sfDir,
        spark.read.parquet(s"$dir/band_signatures"),
        spark.read.parquet(s"$dir/exact_reps"))),
      "neardup_clusters" -> (() => buildNearDupClusters(spark, sfDir,
        spark.read.parquet(s"$dir/neardup_pairs"))),
      "gram_occurrences" -> (() => buildGramOccurrences(spark, sfDir)),
      // base-corpus index + its fronting bloom, reduced from the gram
      // table LANDED just above (the ivf_assign pattern: index state
      // derives from the landed artifact, never a re-derivation)
      "gram_index_base" -> (() => buildGramIndexBase(
        spark.read.parquet(s"$dir/gram_occurrences"))),
      "gram_bloom_base" -> (() => buildGramBloomBase(spark,
        spark.read.parquet(s"$dir/gram_index_base"))),
      "bm25_postings" -> (() => buildBm25Postings(spark, sfDir)),
      "dsir_counts" -> (() => buildDsirCounts(spark, sfDir)),
      "token_positions" -> (() => buildTokenPositions(spark, sfDir)),
      "doc_hashsets" -> (() => buildDocHashsets(spark, sfDir)),
      "bm25_doclens" -> (() => buildBm25DocLens(
        spark.read.parquet(s"$dir/bm25_postings"))),
      "cooccur_edges" -> (() => buildCooccurEdges(spark, sfDir)),
      "token_unigrams" -> (() => buildTokenUnigrams(spark, sfDir)),
      "doc_quality" -> (() => buildDocQuality(spark, sfDir)),
      // the scrubbed survivor pool reads three artifacts LANDED above
      // (gram_occurrences → dup marking, neardup_clusters → keepers,
      // doc_quality → gate input) — the ivf_assign dependency pattern
      "release_survivors" -> (() => buildReleaseSurvivors(spark, sfDir,
        spark.read.parquet(s"$dir/gram_occurrences"),
        spark.read.parquet(s"$dir/neardup_clusters"),
        spark.read.parquet(s"$dir/doc_quality"))),
      "events_by_day" -> (() => buildEventsByDay(spark, sfDir)))
  }

  /** Artifacts landed hive-partitioned (name → partition column) —
    * [[ensureTable]] swaps these in via
    * [[Ingest.overwriteSwapPartitioned]] so date-ranged readers prune
    * at the scan. */
  private val partitionedArtifacts: Map[String, String] =
    Map("events_by_day" -> "day")

  /** Build one table if not yet landed AT THE CURRENT RECIPE STAMP;
    * memoize ITS OWN outcome. Each table lands atomically via
    * [[Ingest.overwriteSwap]] (write beside, rename over), so a killed
    * build never leaves a half-written table with a `_SUCCESS` marker.
    * Freshness = `_SUCCESS` present AND the `_GRAFT_V` marker equals
    * `want` ([[artifactStamps]]) — a version bump re-lands exactly this
    * artifact and its dependents, nothing else. A landed table with NO
    * marker (pre-r15 cache) is adopted: stamped at `want` without a
    * rebuild, since those caches were built by the code that introduced
    * the markers. The marker is written AFTER the swap, so a crash
    * between them re-runs the (idempotent) build, never serves a
    * half-landed table. */
  private def ensureTable(spark: SparkSession, dir: String, name: String,
                          build: () => DataFrame, want: String): Either[Throwable, Unit] =
    tableState.getOrElseUpdate(s"$dir/$name", buildLock.synchronized {
      // re-check under the lock: a racing thread may have landed it
      tableState.get(s"$dir/$name").getOrElse {
        try {
          val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
          val marker = new Path(s"$dir/$name/_GRAFT_V")
          val landed = fs.exists(new Path(s"$dir/$name/_SUCCESS"))
          val fresh = landed && {
            if (fs.exists(marker)) {
              val in = fs.open(marker)
              val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                        finally in.close()
              got == want
            } else { writeMarker(fs, marker, want); true } // adopt pre-marker cache
          }
          if (!fresh)
            // leaseScope: intermediates the build operators lease are
            // provably consumed once the artifact lands on parquet —
            // release them here instead of letting a 30-artifact
            // ensureMaterialized accumulate block-manager state
            graft.Graft.leaseScope {
              partitionedArtifacts.get(name) match {
                case Some(pc) =>
                  val df = build()
                  // a ZERO-row partitioned write emits no data files
                  // (only _SUCCESS) — an unreadable dir the _SUCCESS
                  // memoization would then pin forever; land empties
                  // flat (schema-bearing parquet, the same shape every
                  // non-partitioned fallback uses)
                  if (df.isEmpty) Ingest.overwriteSwap(spark, df, s"$dir/$name")
                  else Ingest.overwriteSwapPartitioned(spark, df, s"$dir/$name", pc)
                case None => Ingest.overwriteSwap(spark, build(), s"$dir/$name")
              }
              writeMarker(fs, marker, want)
            }
          Right(())
        } catch { case e: Throwable => Left(e) }
      }
    })

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                          stamp: String): Unit = {
    val out = fs.create(p, true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
  }

  /** Artifacts excluded from materialization — comma-separated registry
    * names via `-Dgraft.wh.skip` or `SPARK_GRAFT_WH_SKIP`. This is the
    * cross-scale stress posture made operational: at sf10 the quadratic
    * eval-truth tables (`knn_exact`, sampled/searched top-k lists) are
    * deliberately not built, exactly as a 100 TB deployment samples its
    * eval truth instead of materializing it. A skipped artifact never
    * lands and is never memoized, so its readers fail LOUDLY at the
    * parquet read (no silent empties), and dropping the skip later
    * builds it into the same cache dir. Unknown names throw: a typo
    * that silently built the quadratic table would defeat the point. */
  private def skipSet(names: Seq[String]): Set[String] = {
    val s = sys.props.get("graft.wh.skip")
      .orElse(sys.env.get("SPARK_GRAFT_WH_SKIP"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val unknown = s -- names.toSet
    require(unknown.isEmpty,
      s"graft.wh.skip names not in the warehouse registry: ${unknown.mkString(",")}")
    s
  }

  /** Attempt every warehouse table for `sfDir` (each build isolated —
    * one failed dim no longer aborts unrelated artifacts); returns the
    * cache directory. Idempotent and cheap after first touch. Throws
    * only if NO table could be attempted (dir resolution failed);
    * per-table failures surface at that table's reader. */
  def ensureMaterialized(spark: SparkSession, sfDir: String): String = {
    val dir = resolveDir(spark, sfDir)
    val reg = registry(spark, sfDir, dir)
    val names = reg.map(_._1)
    val badDeps = (artifactDeps.keySet ++ artifactDeps.values.flatten) -- names.toSet
    require(badDeps.isEmpty,
      s"artifactDeps names not in the warehouse registry: ${badDeps.mkString(",")}")
    val skip = skipSet(names)
    val stamps = artifactStamps(versionOf, artifactDeps, names)
    reg.foreach { case (name, build) =>
      if (!skip.contains(name)) ensureTable(spark, dir, name, build, stamps(name))
    }
    dir
  }

  /** Every artifact name in the registry, in build order — the audit
    * surface: WarehouseMaintenanceSpec classifies each name as
    * incrementally-maintained (with a stream≡rebuild equality test),
    * maintained-elsewhere, or refresh-on-build, and FAILS on any name
    * it has never heard of, so a new artifact cannot land without a
    * maintenance story. Build thunks are not invoked. */
  def artifactNames(spark: SparkSession, sfDir: String): Seq[String] =
    registry(spark, sfDir, "<names-only>").map(_._1)

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val dir = ensureMaterialized(spark, sfDir)
    tableState.get(s"$dir/$name") match {
      case Some(Left(e)) =>
        throw new IllegalStateException(s"warehouse table '$name' failed to build for $sfDir", e)
      case _ => spark.read.parquet(s"$dir/$name")
    }
  }

  /** dim_orders, materialized-once (see [[buildDimOrders]]). */
  def dimOrders(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "dim_orders")

  /** dim_products, materialized-once (see [[buildDimParts]]). */
  def dimParts(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "dim_products")

  /** Two-batch dim_orders, materialized-once (see
    * [[buildDimOrdersTwoBatches]]). */
  def dimOrdersTwoBatches(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "dim_orders_2b")

  /** fact_orders_created, materialized-once (see [[buildFactOrders]]). */
  def factOrders(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "fact_orders")

  /** Trained IVF codebook, materialized-once (see [[buildIvfCodebook]]). */
  def ivfCodebook(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "ivf_codebook")

  /** Near-dup cluster assignments, materialized-once (see
    * [[buildNearDupClusters]]). */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "neardup_clusters")

  /** Near-dup pair table, materialized-once (see [[buildNearDupPairs]]). */
  def nearDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "neardup_pairs")

  /** Full-corpus capped band-signature table, materialized-once (see
    * [[buildBandSignatures]]). */
  def bandSignatures(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "band_signatures")

  /** Base-corpus capped band-signature table, materialized-once (see
    * [[buildBandSignaturesBase]]). */
  def bandSignaturesBase(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "band_signatures_base")

  /** Full-corpus exact-duplicate groups, materialized-once (see
    * [[buildExactReps]]). */
  def exactReps(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "exact_reps")

  /** Base-corpus exact-duplicate groups, materialized-once (see
    * [[buildExactRepsBase]]). */
  def exactRepsBase(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "exact_reps_base")

  /** Co-occurrence edges, materialized-once (see [[buildCooccurEdges]]). */
  def cooccurEdges(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "cooccur_edges")

  /** Unigram counts, materialized-once (see [[buildTokenUnigrams]]). */
  def tokenUnigrams(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "token_unigrams")

  /** Composite doc quality, materialized-once (see [[buildDocQuality]]). */
  def docQuality(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "doc_quality")

  /** Scrubbed release-survivor pool, materialized-once (see
    * [[buildReleaseSurvivors]]). */
  def releaseSurvivors(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "release_survivors")

  /** Day-partitioned events, materialized-once (see
    * [[buildEventsByDay]]). */
  def eventsByDay(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "events_by_day")

  /** Trained BPE merge rules, materialized-once, reassembled in rank
    * order to the in-memory form [[graft.text.Bpe.encode]] consumes
    * (vocabulary-training emits a FIXED small rule count — literal-sized
    * by construction, like the codebooks). */
  def bpeMerges(spark: SparkSession, sfDir: String): Seq[graft.text.Bpe.Merge] =
    read(spark, sfDir, "bpe_merges")
      .collect()
      .map(r => graft.text.Bpe.Merge(r.getAs[Int]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("pair_freq")))
      .sortBy(_.rank).toSeq

  /** Trained PQ codebooks, materialized-once, reassembled to the
    * in-memory matrix form [[graft.vector.ProductQuant]] consumes
    * (m × ksub × dsub — literal-sized by construction). */
  def pqCodebooks(spark: SparkSession, sfDir: String): Seq[Seq[Seq[Double]]] =
    decodeBooks(read(spark, sfDir, "pq_codebooks"))

  /** PQ codebooks as their parquet DataFrame (see [[buildPqCodebooks]]). */
  def pqCodebooksDf(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "pq_codebooks")

  private def decodeBooks(df: DataFrame): Seq[Seq[Seq[Double]]] =
    df.collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  /** Materialized ranked IVF cell assignment (see [[buildIvfAssign]]). */
  def ivfAssign(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "ivf_assign")

  /** Materialized PQ codes (see [[buildPqCodes]]). */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "pq_codes")

  /** Materialized margin denominators (see [[buildMarginDenoms]]). */
  def marginDenoms(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "margin_denoms")

  /** Materialized exact-kNN ground truth (see [[buildKnnExact]]). */
  def knnExact(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "knn_exact")

  /** Materialized sampled-global truth (see [[buildKnnGlobalSampled]]). */
  def knnGlobalSampled(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "knn_global_sampled")

  /** Materialized gram-occurrence table (see [[buildGramOccurrences]]). */
  def gramOccurrences(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "gram_occurrences")

  /** Materialized BM25 inverted index (see [[buildBm25Postings]]). */
  def bm25Postings(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "bm25_postings")

  /** Materialized BM25 doc lengths (see [[buildBm25DocLens]]). */
  def bm25DocLens(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "bm25_doclens")

  /** Materialized DSIR bucket counts (see [[buildDsirCounts]]). */
  def dsirCounts(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "dsir_counts")

  /** Materialized positional postings (see [[buildTokenPositions]]). */
  def tokenPositions(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "token_positions")

  /** Materialized hashed shingle sets (see [[buildDocHashsets]]). */
  def docHashsets(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "doc_hashsets")

  /** Materialized base-corpus gram index (see [[buildGramIndexBase]]). */
  def gramIndexBase(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "gram_index_base")

  /** Serialized sketch bloom fronting the base gram index (see
    * [[buildGramBloomBase]]) — literal-sized corpus state like the
    * codebooks/merge rules, collected for plan embedding. */
  def gramBloomBase(spark: SparkSession, sfDir: String): Array[Byte] =
    read(spark, sfDir, "gram_bloom_base")
      .select(col("bf")).head.getAs[Array[Byte]](0)

  /** Materialized LSH top-k list (see [[buildAnnLshTopk]]). */
  def annLshTopk(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "ann_lsh_topk")

  /** Materialized trained-IVF top-k list (see [[buildAnnIvfTopk]]). */
  def annIvfTopk(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "ann_ivf_topk")

  /** Materialized base-corpus label-centroid sums (see
    * [[buildLabelCentroidSumsBase]]). */
  def labelCentroidSumsBase(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "label_centroid_sums_base")

  /** Materialized super-cell layer (see [[buildIvfSuperCells]]). */
  def ivfSuperCells(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "ivf_supercells")

  /** Materialized cell → super map (see [[buildIvfSuperMap]]). */
  def ivfSuperMap(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "ivf_super_map")
}

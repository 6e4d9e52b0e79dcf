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
import graft.operators.{BloomPrune, Components, FactBuild, Scd2}
import graft.pipeline.Release
import graft.sources.Ingest
import graft.text.{Bpe, Cooccur, Curation, InvertedIndex, SegmentDedup, TextAnalysis, TextDedup}
import graft.vector.{ProductQuant, Similarity}

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
  // Builders called outside the registry (specs, gates, streaming). Every
  // other artifact's recipe is its registry row.
  // ---------------------------------------------------------------------

  private def orderEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("user_id").as("id"),
      col("event_type").as("status"),
      col("ts").as("event_time"),
      col("event_id").as("tiebreak"))

  /** dim_products (process_orders_sqls.py:15-26) via two chained
    * SCD2-SNAPSHOT merges: changed parts carry [v1: 1995→1998) and
    * [v2: 1998→sentinel), unchanged parts a single open version. v1 is
    * `part` as-is; v2 gives every 5th part a new category suffix and a
    * +1.0 price bump (exact in binary FP — oracle-reproducible).
    * `materialize` lands each batch's output before the next batch reads
    * it (identity = lazy chain with a persist, for tests; the cached
    * warehouse passes a parquet swap). */
  def buildDimParts(spark: SparkSession, sfDir: String,
                    materialize: DataFrame => DataFrame = d => d.leased): DataFrame = {
    // a def: each merge scans `part` itself, so the second merge never
    // joins the first one's (leased) lineage against its own attributes
    def v1 = Tables.part(spark, sfDir).select(
      col("p_partkey").as("id"),
      col("p_type").as("category"),
      col("p_retailprice").as("price"))
    val chg = col("id") % 5 === 0
    val v2 = v1
      .withColumn("category", when(chg, concat(col("category"), lit("_V2"))).otherwise(col("category")))
      .withColumn("price", when(chg, col("price") + lit(1.0)).otherwise(col("price")))
    val d1 = Scd2.snapshotMerge(
      emptyDim(spark, partsDimSchema), v1, Seq("category", "price"), PartsBatch1)
    Scd2.snapshotMerge(materialize(d1), v2, Seq("category", "price"), PartsBatch2)
  }

  /** The corpus event stream split at mid-month (`dim_orders_2b`). */
  val BatchSplit = "2024-01-16 00:00:00"
  val Batch1Ts = "2024-01-16 00:00:00"
  val Batch2Ts = "2024-02-01 00:00:00"

  /** IVF codebook for the corpus embeddings: deterministic sampled
    * spherical k-means ([[Similarity.trainIvfCentroids]]),
    * trained ONCE per corpus — retrieval queries read it instead of
    * re-running Lloyd iterations per query.
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
    val e = Tables.embeddings(spark, sfDir)
    val ncells = math.max(16L, math.min(IvfCellCap, e.count() / IvfCellWidth)).toInt
    Similarity.codebookDf(spark, Similarity.trainIvfCentroids(
      e, ncells = ncells, iters = 3, sampleMod = 4)).repartition(1)
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

  /** √ncells SUPER-CELL layer over the trained codebook (sid, sv,
    * snrm) — the two-level coarse-assignment artifact
    * ([[Similarity.trainSuperCells]]): flat assignment is
    * ncells dots/vector and ncells scales with the corpus, so at the
    * 4096-cell cap every assignment pays 4096 dots; probing `sprobe`
    * supers then their member cells costs O(√ncells). Trained on the
    * DRIVER from the landed codebook (literal-sized input), like the
    * codebook itself a refresh-on-build artifact. */
  def buildIvfSuperCells(spark: SparkSession, codebook: DataFrame): DataFrame = {
    val (supers, m) = Similarity.trainSuperCells(Similarity.collectCodebook(codebook).toSeq)
    if (supers.isEmpty) return emptyArtifact(spark, "ivf_supercells")
    Similarity.superCellTables(spark, supers, m)._1.repartition(1)
  }

  /** cell → super-cell membership (cid, sid) under the SAME training
    * run as [[buildIvfSuperCells]] (deterministic, so re-deriving here
    * cannot fork from the super table). */
  def buildIvfSuperMap(spark: SparkSession, codebook: DataFrame): DataFrame = {
    val (supers, m) = Similarity.trainSuperCells(Similarity.collectCodebook(codebook).toSeq)
    if (supers.isEmpty) return emptyArtifact(spark, "ivf_super_map")
    Similarity.superCellTables(spark, supers, m)._2.repartition(1)
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
    * ([[Similarity.cellRankAuto]]): flat literal ranking
    * while the codebook holds ≤ crossover cells (the test SFs),
    * two-level super-cell ranking above it — O(√ncells) dots/vector,
    * the change that let [[IvfCellCap]] lift off 4096. The super-cell
    * artifacts are declared inputs, landed and passed in, so the
    * assignment provably derives from the same super layer its probers
    * read. */
  def buildIvfAssign(spark: SparkSession, sfDir: String, codebook: DataFrame,
                     supercells: DataFrame, superMap: DataFrame): DataFrame =
    Similarity.cellRankAuto(Tables.embeddings(spark, sfDir), codebook,
      probes = IvfAssignMaxRank, supercells = Some(supercells),
      superMap = Some(superMap))

  /** The canonical ingestion-simulation split shared by every
    * incremental query (q76/q77/q123/q137): the landed, immutable
    * "base corpus" is `id % 10 != `[[HoldoutMod]], the arriving batch
    * is `id % 10 == `[[HoldoutMod]]. */
  val HoldoutMod = 7

  /** Serialized sketch bloom fronting `gram_index_base` — the map-side
    * pre-filter for the index probe (built once when the index lands,
    * exactly the artifact the operator scaladoc promises; StreamErasure
    * rebuilds it with this same function). One row: (bf BINARY, n_items,
    * fpp_micro). An empty index gets the empty 1-capacity bloom (still a
    * valid filter; nothing passes that the semi-join wouldn't drop). */
  def buildGramBloomBase(spark: SparkSession, index: DataFrame): DataFrame = {
    import spark.implicits._
    val n = index.count()
    val bytes = BloomPrune.sketchBloomBytes(index, "h", math.max(n, 1L), 0.01)
    Seq((bytes, n, 10000L)).toDF("bf", "n_items", "fpp_micro").repartition(1)
  }

  /** BM25 per-doc token lengths (doc_id, len) — derived from the
    * LANDED postings (Σ tf per doc), the length-normalization side of
    * the index pair. */
  def buildBm25DocLens(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))

  // ---------------------------------------------------------------------
  // Materialized layer: build once per corpus, read parquet thereafter.
  // ---------------------------------------------------------------------

  /** The cache LAYOUT version (dir naming, marker scheme): bump it only
    * when the cache format itself changes. A build-semantics change
    * bumps its artifact's declared `version` instead ([[Artifact]]).
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

  /** One warehouse artifact, declared once. Its build reads landed
    * artifacts only through [[Build.in]], so `inputs` is the whole
    * build graph: it orders the registry, feeds the stamps
    * ([[artifactStamps]]), bounds what the build may read and gives each
    * artifact the cone a [[read]] attempts.
    *  - `source`: the corpus table the artifact derives from; when that
    *    table is absent the artifact lands as `empty` without building.
    *  - `empty`: the landed schema as DDL (WarehouseCacheSpec pins it
    *    against a full build).
    *  - `version`: the build recipe. Bump it when this artifact's build
    *    semantics change instead of bumping [[CacheVersion]] and
    *    re-landing the whole warehouse (r14: the selector/banding
    *    changes re-built all ~40 artifacts, 46 s at sf0.1 and hours at
    *    sf10, when only 3 had changed); the stamps carry the bump to
    *    every transitive dependent and no further.
    *  - `partitionBy`: lands the artifact hive-partitioned on that column
    *    ([[Ingest.overwriteSwapPartitioned]]), so date-ranged readers
    *    prune at the scan. */
  private[graft] final case class Artifact(name: String, source: Option[String],
      empty: String, inputs: Seq[String] = Nil, version: Int = 1,
      partitionBy: Option[String] = None)(val build: Build => DataFrame)

  /** What an artifact's build sees: the session, the corpus dir and its
    * declared inputs. */
  private[graft] final class Build(val spark: SparkSession, val sfDir: String,
                                   dir: String, artifact: Artifact) {
    /** A declared input, read from the cache dir; any other name throws. */
    def in(input: String): DataFrame = {
      require(artifact.inputs.contains(input), s"warehouse artifact " +
        s"'${artifact.name}' reads '$input', which it does not declare as an input")
      Tables.parquet(spark, s"$dir/$input")
    }

    /** The corpus documents as (doc_id, text). */
    def docs: DataFrame = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

    def embeddings: DataFrame = Tables.embeddings(spark, sfDir)

    /** Lands the first batch of a chained merge beside the artifact and
      * reads it back: the nightly recipe swaps merge N's output in before
      * merge N+1 reads it. */
    def landBatch(df: DataFrame): DataFrame = {
      Ingest.overwriteSwap(spark, df, s"$dir/${artifact.name}_b1")
      Tables.parquet(spark, s"$dir/${artifact.name}_b1")
    }
  }

  /** The registry in build order; throws unless every input is declared
    * before its dependent. */
  private[graft] def declare(artifacts: Artifact*): Seq[Artifact] = {
    artifacts.foldLeft(Set.empty[String]) { (before, a) =>
      val late = a.inputs.filterNot(before)
      require(late.isEmpty, s"warehouse artifact '${a.name}' reads " +
        s"${late.mkString(",")}, which is not declared before it")
      before + a.name
    }
    artifacts
  }

  private val Documents = Some("documents")
  private val Embeddings = Some("embeddings")
  private val RankedList = "qid BIGINT, rank INT, nid BIGINT, cosine DOUBLE"
  private val Groups = "doc_id BIGINT, th BIGINT, rep BIGINT"
  private val Bands = "doc_id BIGINT, band INT, band_key STRING"

  private def base(df: DataFrame, id: String = "doc_id"): DataFrame =
    df.where(pmod(col(id), lit(10)) =!= HoldoutMod)

  private def bands(docs: DataFrame, groups: DataFrame): DataFrame =
    TextDedup.bandSignatures(TextDedup.shingled(TextDedup.repDocs(docs, groups)),
      TextDedup.LshMaxBucket)

  /** Every warehouse artifact of a corpus, in build order. The `base`
    * artifacts cover the base slice only (id % 10 != [[HoldoutMod]]):
    * the corpus side the incremental queries and streams probe. */
  private[graft] val registry: Seq[Artifact] = declare(
    // dim_orders (process_orders_sqls.py:67-77) via SCD2-EVENTS over the
    // corpus event stream
    Artifact("dim_orders", None, ordersDimSchema.toDDL)(b =>
      Scd2.eventsMerge(emptyDim(b.spark, ordersDimSchema), orderEvents(b.spark, b.sfDir),
        OrdersBatchTs)),
    Artifact("dim_products", None, partsDimSchema.toDDL)(b =>
      buildDimParts(b.spark, b.sfDir, b.landBatch)),
    // dim_orders by TWO chained merges over the stream split at
    // BatchSplit — the multi-day pipeline shape: batch 2's earliest event
    // per id closes batch 1's open version AT BATCH TIME (the reference
    // quirk), then batch 2's own version chain appends
    Artifact("dim_orders_2b", None, ordersDimSchema.toDDL) { b =>
      val ev = orderEvents(b.spark, b.sfDir)
      val split = to_timestamp(lit(BatchSplit))
      val d1 = Scd2.eventsMerge(
        emptyDim(b.spark, ordersDimSchema), ev.where(col("event_time") < split), Batch1Ts)
      Scd2.eventsMerge(b.landBatch(d1), ev.where(col("event_time") >= split), Batch2Ts)
    },
    // fact_orders_created (process_orders_sqls.py:79-90): the first event
    // per order joined to the date dimension for the surrogate key
    Artifact("fact_orders", None, "order_id BIGINT, created_date_id STRING, " +
      "created_time TIMESTAMP, first_status STRING, value DOUBLE") { b =>
      val ev = Tables.events(b.spark, b.sfDir).select(col("user_id").as("key"),
        col("ts").as("event_time"), col("event_id").as("tiebreak"),
        col("event_type").as("first_status"), col("value"))
      FactBuild.firstEventFacts(ev, DimDates.build(b.spark)).select(col("key").as("order_id"),
        col("created_date_id"), col("created_time"), col("first_status"), col("value"))
    },
    Artifact("ivf_codebook", Embeddings, "cid BIGINT, cv ARRAY<DOUBLE>, cnrm DOUBLE")(b =>
      buildIvfCodebook(b.spark, b.sfDir)),
    // the super layer lands BEFORE the assignment (r14): above the
    // crossover the assignment ranks through it, so it must read the
    // same landed super tables its probers will
    Artifact("ivf_supercells", None, "sid BIGINT, sv ARRAY<DOUBLE>, snrm DOUBLE",
      Seq("ivf_codebook"))(b => buildIvfSuperCells(b.spark, b.in("ivf_codebook"))),
    Artifact("ivf_super_map", None, "cid BIGINT, sid BIGINT", Seq("ivf_codebook"))(b =>
      buildIvfSuperMap(b.spark, b.in("ivf_codebook"))),
    Artifact("ivf_assign", Embeddings, "vec_id BIGINT, cell BIGINT, rn INT",
      Seq("ivf_codebook", "ivf_supercells", "ivf_super_map"))(b =>
      buildIvfAssign(b.spark, b.sfDir, b.in("ivf_codebook"), b.in("ivf_supercells"),
        b.in("ivf_super_map"))),
    // the CCMatrix margin criterion's per-vector denominators, beside the
    // assignment so the full (q125) and incremental (q137) miners score
    // against identical neighborhoods
    Artifact("margin_denoms", Embeddings, "id BIGINT, den BIGINT", Seq("ivf_assign"))(b =>
      Similarity.marginDenoms(b.embeddings, b.in("ivf_assign"))),
    // the drift monitor's (q156) corpus side as fixed-point label-centroid
    // SUMS: sum-mergeable under appends (WarehouseMaintenanceSpec pins the
    // law), so scoring an arriving batch never re-aggregates the corpus
    Artifact("label_centroid_sums_base", Embeddings,
      "label INT, pos INT, s BIGINT, n BIGINT")(b =>
      Similarity.labelCentroidSums(base(b.embeddings, "vec_id"))),
    // retrieval truth + searched-index lists: corpus state consumed by the
    // eval queries (q99/q104/q117/q118) and the demos (q17/q18/q29), which
    // would otherwise re-run the quadratic label-blocked truth or the
    // search per query
    Artifact("knn_exact", Embeddings, RankedList)(b => Similarity.knnBruteForce(b.embeddings)),
    Artifact("knn_global_sampled", Embeddings, RankedList)(b =>
      Similarity.knnGlobalSampled(b.embeddings)),
    // v2: annLsh's bucket join salted (SkewJoin ×LshSalt — same rows,
    // same top-k; re-land so the cache reflects the shipped plan)
    Artifact("ann_lsh_topk", Embeddings, RankedList, version = 2)(b =>
      Similarity.annLsh(b.embeddings)),
    Artifact("ann_ivf_topk", Embeddings, RankedList, Seq("ivf_assign"))(b =>
      Similarity.annIvfWithAssign(b.embeddings, b.in("ivf_assign"))),
    // the trained product quantizer, persisted beside the IVF codebook
    // (FAISS index = coarse centroids + PQ codebooks + codes)
    Artifact("pq_codebooks", Embeddings, "subspace INT, code INT, cv ARRAY<DOUBLE>") { b =>
      import b.spark.implicits._
      val books = ProductQuant.trainCodebooks(b.embeddings, dim = 64, m = 4, ksub = 16)
      books.zipWithIndex.flatMap { case (book, s) =>
        book.zipWithIndex.map { case (c, j) => (s, j, c) }
      }.toDF("subspace", "code", "cv").repartition(1)
    },
    Artifact("pq_codes", Embeddings, "vec_id BIGINT, codes ARRAY<INT>",
      Seq("pq_codebooks")) { b =>
      val books = decodeBooks(b.in("pq_codebooks"))
      if (books.isEmpty) emptyArtifact(b.spark, "pq_codes")
      else ProductQuant.encode(b.embeddings, dim = 64, books)
    },
    Artifact("bpe_merges", Documents, "rank INT, left STRING, right STRING, pair_freq BIGINT")(b =>
      Bpe.mergeTable(b.docs, 12).repartition(1)),
    // exact groups land first (r14: exact dedup BEFORE near-dup); the
    // signature tables band their reps, the pair build self-joins the
    // signatures and expands intra-group relations through the group
    // table, the cluster closure reads the pairs (single source of
    // truth for the duplicate graph — q14's operator demo still derives
    // pairs fresh, but the graph analytics q35/q105/q107 read corpus
    // state, as production would)
    Artifact("exact_reps", Documents, Groups)(b => TextDedup.exactGroups(b.docs)),
    // from the base slice directly: a group's rep is the min id WITHIN
    // the population the probe claims to know
    Artifact("exact_reps_base", Documents, Groups)(b => TextDedup.exactGroups(base(b.docs))),
    // one REP per exact group bands: a boilerplate mega-group holds one
    // band slot, so the occupancy cap stops discarding the distinct
    // near-dup tail behind it
    Artifact("band_signatures", Documents, Bands, Seq("exact_reps"))(b =>
      bands(b.docs, b.in("exact_reps"))),
    // from the base slice directly, NOT a filter of the full table: the
    // occupancy cap is a window over the banded population, so
    // cap-then-filter ≠ filter-then-cap
    Artifact("band_signatures_base", Documents, Bands, Seq("exact_reps_base"))(b =>
      bands(base(b.docs), b.in("exact_reps_base"))),
    // rep-level verified pairs UNION the intra-group star edges — the
    // duplicate graph's spanning edge set, linear in the corpus where
    // member×member expansion is quadratic in group size
    Artifact("neardup_pairs", Documents, "doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE",
      Seq("band_signatures", "exact_reps")) { b =>
      val groups = b.in("exact_reps")
      TextDedup.minhashLshPairsFromBands(b.in("band_signatures"),
          TextDedup.shingled(TextDedup.repDocs(b.docs, groups)).leased)
        .unionByName(TextDedup.exactStarEdges(groups))
        .orderBy("doc_a", "doc_b")
    },
    Artifact("neardup_clusters", Documents, "doc_id BIGINT, cluster_id BIGINT",
      Seq("neardup_pairs"))(b =>
      Components.minLabel(b.docs.select(col("doc_id").as("id")),
          b.in("neardup_pairs").select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))),
    Artifact("gram_occurrences", Documents, "doc_id BIGINT, pos BIGINT, h BIGINT")(b =>
      SegmentDedup.gramOccurrences(b.docs)),
    Artifact("gram_index_base", None, "h BIGINT", Seq("gram_occurrences"))(b =>
      base(b.in("gram_occurrences")).select(col("h")).distinct()),
    Artifact("gram_bloom_base", None, "bf BINARY, n_items BIGINT, fpp_micro BIGINT",
      Seq("gram_index_base"))(b => buildGramBloomBase(b.spark, b.in("gram_index_base"))),
    // landed term-sorted in one file so a query-term filter prunes by
    // parquet row-group stats (likewise token_positions)
    Artifact("bm25_postings", Documents, "tok STRING, doc_id BIGINT, tf BIGINT")(b =>
      TextAnalysis.bm25Postings(b.docs).repartition(1).sortWithinPartitions("tok", "doc_id")),
    // ≤ 1024 rows that sum-merge under appends, so the incremental scorer
    // (q153) never re-reads the corpus
    Artifact("dsir_counts", Documents, "feat BIGINT, cnt_r BIGINT, cnt_t BIGINT")(b =>
      Curation.dsirCounts(Curation.dsirFeatures(base(
        Tables.documents(b.spark, b.sfDir)).select(col("doc_id"), col("text"), col("lang"))))),
    Artifact("token_positions", Documents, "tok STRING, doc_id BIGINT, pos INT")(b =>
      InvertedIndex.tokenPositions(b.docs).repartition(1)
        .sortWithinPartitions("tok", "doc_id", "pos")),
    Artifact("doc_hashsets", Documents, "doc_id BIGINT, hs ARRAY<BIGINT>")(b =>
      TextDedup.hashedShingleSets(b.docs)),
    Artifact("bm25_doclens", None, "doc_id BIGINT, len BIGINT", Seq("bm25_postings"))(b =>
      buildBm25DocLens(b.in("bm25_postings"))),
    Artifact("cooccur_edges", Documents, "tok_a STRING, tok_b STRING, w BIGINT")(b =>
      Cooccur.pairCounts(b.docs)),
    Artifact("token_unigrams", Documents, "tok STRING, n BIGINT")(b =>
      Cooccur.unigramCounts(b.docs)),
    Artifact("doc_quality", Documents, "doc_id BIGINT, quality BIGINT")(b =>
      TextAnalysis.compositeQuality(b.docs)),
    // stages 1+2 of the release chain (scrub of the near-dup keepers,
    // quality and source attached) as corpus state: re-running the scrub
    // inside every release analytic (q140, q147) re-paid the corpus's
    // dominant gram shuffle per query. StreamRelease maintains the same
    // pool incrementally (stream ≡ batch, spec-gated)
    Artifact("release_survivors", Documents, "doc_id BIGINT, n_tokens BIGINT, " +
      "n_dup_tokens BIGINT, clean_text STRING, kept_tokens BIGINT, source STRING, quality BIGINT",
      Seq("gram_occurrences", "neardup_clusters", "doc_quality"))(b =>
      Release.survivors(
        Tables.documents(b.spark, b.sfDir).select(col("doc_id"), col("source"), col("text")),
        b.in("gram_occurrences"), b.in("neardup_clusters"), b.in("doc_quality"))),
    // hive-partitioned by day (docs/guides.md:61-62): a date-ranged metric
    // reads only its day directories (PartitionFilters, pinned by
    // PlanShapeSpec) and each daily batch appends one partition
    // (Ingest.appendPartitioned)
    Artifact("events_by_day", Some("events"), "event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING, day DATE",
      partitionBy = Some("day"))(b =>
      Tables.events(b.spark, b.sfDir).withColumn("day", to_date(col("ts")))))

  private val declared: Map[String, Artifact] = registry.map(a => a.name -> a).toMap

  /** Each artifact's cone: its transitive inputs and itself, in registry
    * order. */
  private val cones: Map[String, Seq[Artifact]] =
    registry.foldLeft(Map.empty[String, Set[String]]) { (closure, a) =>
      closure + (a.name -> (a.inputs.flatMap(closure).toSet + a.name))
    }.map { case (n, cone) => n -> registry.filter(a => cone(a.name)) }

  /** An artifact's declared empty shape. repartition(1): an empty write
    * otherwise lands only `_SUCCESS`, leaving nothing to infer the schema
    * from on read. */
  private def emptyArtifact(spark: SparkSession, name: String): DataFrame =
    emptyDim(spark, StructType.fromDDL(declared(name).empty)).repartition(1)

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

  /** Build one table if not yet landed AT THE CURRENT RECIPE STAMP;
    * memoize ITS OWN outcome. Each table lands atomically via
    * [[Ingest.overwriteSwap]] (write beside, rename over), so a killed
    * build never leaves a half-written table with a `_SUCCESS` marker.
    * Freshness = `_SUCCESS` present AND the `_GRAFT_V` marker equals
    * `want` ([[artifactStamps]]) — a version bump re-lands exactly this
    * artifact and its dependents, nothing else. A landed table with NO
    * marker is adopted: stamped at `want` without a rebuild. Three
    * writers leave one: a pre-r15 cache, built by the code that
    * introduced the markers; a crash between the swap and the marker
    * write (the marker is written AFTER the swap, so the table that
    * landed is this build's complete output, never a half-landed one);
    * and [[graft.streaming.StreamErasure]], whose overwriteSwap rewrites
    * of a maintained artifact drop `_GRAFT_V` — rebuilding that artifact
    * from the corpus would bring the erased documents back. An artifact
    * whose source corpus table is absent lands its declared empty shape
    * instead of building. */
  private def ensureTable(spark: SparkSession, sfDir: String, dir: String,
                          a: Artifact, want: String): Either[Throwable, Unit] =
    tableState.getOrElseUpdate(s"$dir/${a.name}", buildLock.synchronized {
      // re-check under the lock: a racing thread may have landed it
      tableState.get(s"$dir/${a.name}").getOrElse {
        try {
          val conf = spark.sparkContext.hadoopConfiguration
          val fs = new Path(dir).getFileSystem(conf)
          val marker = new Path(s"$dir/${a.name}/_GRAFT_V")
          val landed = fs.exists(new Path(s"$dir/${a.name}/_SUCCESS"))
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
              val sourced = a.source.forall { t =>
                val p = new Path(s"$sfDir/$t.parquet")
                p.getFileSystem(conf).exists(p)
              }
              val df =
                if (sourced) a.build(new Build(spark, sfDir, dir, a)) else emptyArtifact(spark, a.name)
              a.partitionBy match {
                // a ZERO-row partitioned write emits no data files (only
                // _SUCCESS) — an unreadable dir the _SUCCESS memoization
                // would then pin forever; land empties flat
                case Some(pc) if !df.isEmpty =>
                  Ingest.overwriteSwapPartitioned(spark, df, s"$dir/${a.name}", pc)
                case _ => Ingest.overwriteSwap(spark, df, s"$dir/${a.name}")
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

  /** A per-artifact launch option: comma-separated entries of `-D<key>`
    * (or env `<env>`), each parsed to (registry name, value). Unknown
    * names throw: a typo that silently skipped or re-landed nothing
    * would defeat the option. */
  private def artifactOption[A](key: String, env: String)
                               (parse: String => (String, A)): Map[String, A] = {
    val entries = sys.props.get(key).orElse(sys.env.get(env)).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map(parse).toMap
    val unknown = entries.keySet -- declared.keySet
    require(unknown.isEmpty,
      s"$key names not in the warehouse registry: ${unknown.mkString(",")}")
    entries
  }

  /** Attempt every warehouse table for `sfDir` (each build isolated —
    * one failed dim no longer aborts unrelated artifacts); returns the
    * cache directory. Idempotent and cheap after first touch. Throws
    * only if NO table could be attempted (dir resolution failed, or an
    * option names an unknown artifact); per-table failures surface at
    * that table's reader.
    *
    * Two launch options, both parsed here once per call:
    *  - `-Dgraft.wh.skip=name,...` (or SPARK_GRAFT_WH_SKIP) excludes
    *    artifacts. This is the cross-scale stress posture made
    *    operational: at sf10 the quadratic eval-truth tables
    *    (`knn_exact`, sampled/searched top-k lists) are deliberately not
    *    built, exactly as a 100 TB deployment samples its eval truth
    *    instead of materializing it. A skipped artifact never lands and
    *    is never memoized, so its readers fail naming it, and dropping
    *    the skip later builds it into the same cache dir.
    *  - `-Dgraft.wh.vbump=name:ver,...` (or SPARK_GRAFT_WH_VBUMP)
    *    overrides declared recipe versions — the operational
    *    force-rebuild knob: bump one artifact and its dependents re-land
    *    on next touch, nothing else does. */
  def ensureMaterialized(spark: SparkSession, sfDir: String): String =
    materialize(spark, sfDir, registry)

  /** Attempt `artifacts` (a registry-ordered slice: the registry or one
    * cone) for `sfDir` under the launch options; returns the cache dir. */
  private def materialize(spark: SparkSession, sfDir: String,
                          artifacts: Seq[Artifact]): String = {
    val dir = resolveDir(spark, sfDir)
    val skip = artifactOption("graft.wh.skip", "SPARK_GRAFT_WH_SKIP")(n => n -> ()).keySet
    val bumps = artifactOption("graft.wh.vbump", "SPARK_GRAFT_WH_VBUMP") { kv =>
      kv.split(":") match {
        case Array(n, v) => n.trim -> v.trim.toInt
        case _ => throw new IllegalArgumentException(s"graft.wh.vbump entry '$kv' is not name:version")
      }
    }
    val stamps = artifactStamps(n => bumps.getOrElse(n, declared(n).version),
      declared.map { case (n, a) => n -> a.inputs }, artifacts.map(_.name))
    artifacts.foreach { a =>
      if (!skip(a.name)) ensureTable(spark, sfDir, dir, a, stamps(a.name))
    }
    dir
  }

  /** Every artifact name in the registry, in build order — the audit
    * surface: WarehouseMaintenanceSpec classifies each name as
    * incrementally-maintained (with a stream≡rebuild equality test),
    * maintained-elsewhere, or refresh-on-build, and FAILS on any name
    * it has never heard of, so a new artifact cannot land without a
    * maintenance story. Needs no session. */
  def artifactNames(spark: SparkSession, sfDir: String): Seq[String] =
    registry.map(_.name)

  /** The one DataFrame read of a warehouse artifact. It attempts only
    * `name`'s cone, its transitive inputs and itself in registry order, so
    * a read never stamps or builds an artifact outside it.
    * Throws IllegalArgumentException for an undeclared name, and
    * IllegalStateException naming the artifact when it failed to build or
    * `graft.wh.skip` lists it. */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(cones.contains(name), s"'$name' is not a declared warehouse artifact")
    val dir = materialize(spark, sfDir, cones(name))
    tableState.get(s"$dir/$name") match {
      case Some(Right(_)) => Tables.parquet(spark, s"$dir/$name")
      case Some(Left(e)) =>
        throw new IllegalStateException(s"warehouse table '$name' failed to build for $sfDir", e)
      // materialize attempts every artifact of the cone the skip list omits
      case None => throw new IllegalStateException(
        s"warehouse table '$name' is not built for $sfDir: graft.wh.skip lists it")
    }
  }

  /** Trained BPE merge rules, reassembled in rank order to the in-memory
    * form [[Bpe.encode]] consumes (vocabulary-training emits a FIXED small
    * rule count — literal-sized by construction, like the codebooks). */
  def bpeMerges(spark: SparkSession, sfDir: String): Seq[Bpe.Merge] =
    read(spark, sfDir, "bpe_merges")
      .collect()
      .map(r => Bpe.Merge(r.getAs[Int]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("pair_freq")))
      .sortBy(_.rank).toSeq

  /** Trained PQ codebooks, reassembled to the in-memory matrix form
    * [[ProductQuant]] consumes (m × ksub × dsub — literal-sized by
    * construction). */
  def pqCodebooks(spark: SparkSession, sfDir: String): Seq[Seq[Seq[Double]]] =
    decodeBooks(read(spark, sfDir, "pq_codebooks"))

  private def decodeBooks(df: DataFrame): Seq[Seq[Seq[Double]]] =
    df.collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"), r.getSeq[Double](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  /** The serialized sketch bloom fronting `gram_index_base` — literal-sized
    * corpus state like the codebooks/merge rules, collected for plan
    * embedding. */
  def gramBloomBase(spark: SparkSession, sfDir: String): Array[Byte] =
    read(spark, sfDir, "gram_bloom_base")
      .select(col("bf")).head.getAs[Array[Byte]](0)
}

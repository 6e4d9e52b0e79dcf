package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.Components
import graft.pipeline.Release
import graft.sources.Ingest
import graft.text.{SegmentDedup, TextAnalysis, TextDedup}

/** CONTINUOUS dataset release — the streaming twin of the
  * [[graft.pipeline.Release]] capstone (q140), the composed form of
  * the per-stage twins ([[StreamSubstrScrub]], [[StreamNearDup]],
  * [[StreamBm25]], [[StreamPack]]): documents arrive in micro-batches,
  * corpus state (gram index, shingle table, near-dup clusters,
  * scrubbed survivor pool, raw counts) is maintained incrementally,
  * and the released-dataset CARD is re-derived after every batch —
  * continuous curation at the reference's daily-batch cadence
  * (`docs/guides.md:16`, generalized to the 100 TB ingestion shape).
  *
  * == Stream ≡ batch ==
  * After ingesting batches B₁..Bₙ the card at `statePath/card` equals
  * `Release.releaseCard(B₁∪..∪Bₙ, …)` EXACTLY (spec-gated), under the
  * ingestion precondition that doc_ids are unique and batches arrive
  * in ascending doc_id ranges (monotonic ids — the natural shape of an
  * append-only ingest log). The per-stage arguments:
  *
  *  - ''Scrub'': first occurrence = lexicographic min over (doc_id,
  *    pos), so history (all smaller ids) can only mark a new doc's
  *    spans, never the reverse — scrub-at-arrival against the
  *    maintained gram index + within-batch keeper resolution is the
  *    batch scrub, and a landed scrub result never changes.
  *  - ''Keepers'': cluster labels are component MINIMA, and new docs
  *    have larger ids than all of history, so labels only ever
  *    DECREASE as edges accumulate: a non-keeper is never promoted
  *    (its label can only drop further) and scrubbing batch keepers at
  *    arrival covers every doc that could be a keeper in any final
  *    state. A keeper IS demoted when a later doc bridges its cluster
  *    to one with a smaller min — so the pool keeps scrub results for
  *    every doc that was a keeper AT ARRIVAL, and the card derivation
  *    re-filters the pool by the CURRENT keeper set each batch.
  *  - ''Quality'': per-doc map-only ([[TextAnalysis.compositeQuality]])
  *    — batch-local computation equals the corpus-wide artifact.
  *  - ''Gate / mixture / pack'': global DECISIONS, not state — re-run
  *    by [[Release.releaseCardFromSurvivors]] over the maintained
  *    survivor table every batch, exactly as the batch capstone runs
  *    them over its corpus.
  *
  * == State ==
  * All state is parquet under `statePath` — readable by any batch
  * consumer, nothing in the streaming state store (the
  * [[StreamSubstrScrub]] discipline):
  *
  *  - `gram_index`  (h, last_batch)        — all ingested docs' grams;
  *                                           carries the ledger and is
  *                                           written LAST (commit point)
  *  - `reps/batch=N`  (doc_id, th, rep)    — exact-duplicate groups
  *                                           with rep resolved against
  *                                           history (r14: exact dedup
  *                                           BEFORE near-dup; the union
  *                                           over batches ≡ cold
  *                                           [[TextDedup.exactGroups]])
  *  - `shingles/batch=N`  (doc_id, shingles) — REP shingles only; the
  *                                           exact-jaccard verify side
  *                                           of the near-dup join
  *  - `bands/batch=N`  (doc_id, band, band_key) — the CAPPED band-
  *                                           signature artifact over
  *                                           new-text REPS, append-
  *                                           only under the
  *                                           [[TextDedup.bandRowsAdmitted]]
  *                                           law; the bipartite candidate
  *                                           join probes it, so history
  *                                           is never re-banded
  *  - `pool/batch=N`     scrub-at-arrival survivor rows
  *  - `raw/batch=N`      (source, n)       — per-batch raw counts
  *  - `clusters`  (doc_id, cluster_id)     — near-dup closure, swapped
  *  - `card`                               — the released-dataset card
  *
  * == Exactly-once ==
  * The ledger (`gram_index.last_batch`) makes redelivery of a merged
  * batch a no-op. A crash MID-batch leaves the ledger at the previous
  * batch; every pre-ledger write is idempotent under re-run: per-batch
  * subdirs are atomic [[Ingest.overwriteSwap]] rewrites of themselves,
  * the cluster rewrite anti-joins the batch's ids out of the old table
  * before re-applying (and relabeling an already-relabeled table is a
  * fixpoint), and the gram-index union is a distinct. The card is
  * re-derived UNCONDITIONALLY on every call — even a redelivered
  * no-op — so a crash between the ledger commit and the card swap
  * heals at the next delivery.
  *
  * == Scale posture ==
  * Per-batch corpus-dependent cost is narrow-row only: the bipartite
  * candidate join probes the maintained capped BAND table (three short
  * columns — history's shingle → minhash → band computation never
  * re-runs; the band merge itself is one occupancy aggregate over the
  * same narrow table, the gram-index-distinct cost class), the verify
  * attach hash-joins the maintained shingle table on surviving
  * candidates, and the card re-derivation scans the pool; the
  * quadratic stages (pair generation within history, history re-scrub,
  * history re-band) never re-run. The cluster table is rewritten per batch at
  * demo scale; at 100 TB it is partitioned by cluster_id range and
  * only partitions holding relabeled clusters rewrite (the relabel map
  * is batch-bounded and broadcast-sized). */
object StreamRelease {

  private def emptyIndex(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("h"))

  /** Merge one micro-batch of documents (doc_id, source, text) into the
    * release state at `statePath` and refresh the card — exactly once
    * per batchId. `mixture` = static (source, mix_ppm) targets. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 statePath: String, mixture: DataFrame,
                 minTokens: Int = 8, threshold: Double = 0.5,
                 window: Int = 64, stride: Int = 48,
                 packBudget: Long = 512L): Unit = {
    val indexPath = s"$statePath/gram_index"
    val existingIndex =
      if (Ingest.readyRecovering(spark, indexPath)) Some(Tables.parquet(spark, indexPath))
      else None
    val lastMerged = existingIndex
      .flatMap(df => Option(df.agg(max(col("last_batch"))).head.get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)

    if (batchId > lastMerged) graft.Graft.leaseScope {
      val docs = graft.Graft.lease(
        batch.select(col("doc_id"), col("source"), col("text")))

      // ---- exact groups FIRST (r14 — the rep-banded artifact rule):
      // batch docs whose text hash matches a maintained corpus group
      // key to its rep by one narrow hash join; only unseen-text batch
      // reps shingle, band, and probe ----
      val g = graft.Graft.lease(
        TextDedup.exactGroups(docs.select(col("doc_id"), col("text"))))
      val repsPath = s"$statePath/reps"
      val oldReps =
        if (Ingest.readyRecovering(spark, repsPath))
          Some(graft.Graft.lease(Tables.parquet(spark, repsPath)
            .where(col("batch") < batchId)
            .where(col("doc_id") === col("rep"))
            .select(col("th"), col("rep"))))
        else None
      val corpusRepOf = oldReps.getOrElse(
        spark.range(0).select(col("id").as("th"), col("id").as("rep")))
      val seen = g.join(corpusRepOf.withColumnRenamed("rep", "corpus_rep"), Seq("th"))
      val gNew = graft.Graft.lease(
        g.join(corpusRepOf.select(col("th")), Seq("th"), "left_anti"))
      val shNew = graft.Graft.lease(TextDedup.shingled(
        docs.select(col("doc_id"), col("text"))
          .join(gNew.where(col("doc_id") === col("rep")).select(col("doc_id")),
            Seq("doc_id"), "left_semi")))

      // ---- near-dup edges: within-batch rep pairs + intra-group stars
      // + exact hits to corpus groups + batch×corpus bipartite ----
      val within = TextDedup.minhashLshPairsFromShingles(shNew, threshold)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(TextDedup.exactStarEdges(gNew)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      val shinglesPath = s"$statePath/shingles"
      val bandsPath = s"$statePath/bands"
      val clustersPath = s"$statePath/clusters"
      val oldClusters =
        if (Ingest.readyRecovering(spark, clustersPath))
          Tables.parquet(spark, clustersPath).select(col("doc_id"), col("cluster_id"))
        else spark.range(0).select(col("id").as("doc_id"), col("id").as("cluster_id"))
      // exact hits: batch members of an existing corpus group join that
      // group's CLUSTER (via the corpus rep's current label) — the path
      // that makes byte-identical arrivals exact instead of cap-lossy
      // LEFT join + raise on a null label (r14 ADVICE): the maintained
      // invariant is "every previously ingested doc has a clusters
      // row" — an inner join would silently degrade an exact hit to a
      // singleton cluster if that state were ever compacted or
      // half-swapped, so a missing row fails the batch loudly instead
      val crossExact = seen
        .join(oldClusters.withColumnRenamed("doc_id", "corpus_rep"), Seq("corpus_rep"), "left")
        .select(col("doc_id").as("src"),
          coalesce(col("cluster_id"), raise_error(concat(
            lit("StreamRelease state invariant broken: corpus rep "),
            col("corpus_rep").cast("string"),
            lit(" has no clusters row")))).as("dst"))
      // both per-batch state dirs are read STRICTLY below the current
      // batchId: a crash after this batch's own subdir landed but
      // before the ledger commit must re-run against the same history
      // the first attempt saw (idempotent re-run), never against its
      // own partial output
      val oldBands =
        if (Ingest.readyRecovering(spark, bandsPath))
          Some(graft.Graft.lease(Tables.parquet(spark, bandsPath)
            .where(col("batch") < batchId)
            .select(col("doc_id"), col("band"), col("band_key"))))
        else None
      val crossRep = (oldBands match {
        case Some(bands) =>
          val shOld = Tables.parquet(spark, shinglesPath)
            .where(col("batch") < batchId)
            .select(col("doc_id"), col("shingles"))
          // the corpus side is the MAINTAINED capped REP band artifact —
          // per-batch work is the batch's banding + the bipartite
          // join; history is never re-banded (shOld holds rep shingles
          // and feeds only the exact-jaccard attach of surviving
          // candidates). Edges go to the corpus doc's CLUSTER REP (its
          // component min), so the tiny rep-graph below merges whole
          // clusters
          TextDedup.minhashLshPairsBetweenAgainstBands(
              shNew, bands, shOld, threshold)
            .join(oldClusters.withColumnRenamed("doc_id", "old_id"), Seq("old_id"))
            .select(col("new_id").as("src"), col("cluster_id").as("dst"))
        case None => within.limit(0)
      }).unionByName(crossExact)

      // ---- incremental closure on the batch-induced rep graph ----
      // nodes = batch docs + touched cluster reps: batch-bounded, so
      // the iterative propagation runs on a graph that scales with the
      // BATCH, never the corpus
      val comp = Components.minLabel(
        docs.select(col("doc_id").as("id")),
        within.unionByName(crossRep))
      val batchLabels = graft.Graft.lease(
        docs.select(col("doc_id").as("id"))
          .join(comp, Seq("id"))
          .select(col("id").as("doc_id"), col("component").as("cluster_id")))
      // reps whose component label dropped: relabel their whole cluster
      val relabel = comp
        .join(docs.select(col("doc_id").as("id")), Seq("id"), "left_anti")
        .where(col("component") =!= col("id"))
        .select(col("id").as("cluster_id"), col("component").as("new_cluster"))
      val updatedClusters = oldClusters
        .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti") // replay-idempotent
        .join(broadcast(relabel), Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("new_cluster"), col("cluster_id")).as("cluster_id"))
        .unionByName(batchLabels)

      // ---- scrub batch keepers at arrival (the q123 shape) ----
      // grams cover ALL batch docs: a span whose first occurrence lives
      // in a dropped near-dup still scrubs (the batch capstone's rule)
      val grams = SegmentDedup.gramOccurrences(
        docs.select(col("doc_id"), col("text")), minTokens)
      val index = existingIndex.map(_.select(col("h"))).getOrElse(emptyIndex(spark))
      val keeperDocs = docs
        .join(batchLabels.where(col("doc_id") === col("cluster_id"))
          .select(col("doc_id")), Seq("doc_id"))
      val quality = TextAnalysis.compositeQuality(
        keeperDocs.select(col("doc_id"), col("text")))
      val poolRows = SegmentDedup
        .scrubAgainstIndexFromGrams(
          keeperDocs.select(col("doc_id"), col("text")), grams, index, minTokens)
        .withColumn("kept_tokens", col("n_tokens") - col("n_dup_tokens"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .join(quality, Seq("doc_id"))

      // ---- land state; every write before the ledger is idempotent ----
      Ingest.overwriteSwap(spark, poolRows, s"$statePath/pool/batch=$batchId")
      // group rows with rep RESOLVED against history (corpus rep for
      // seen texts, batch rep for new) — the union over batches equals
      // a cold exactGroups over the whole corpus under monotonic ids
      Ingest.overwriteSwap(spark,
        seen.select(col("doc_id"), col("th"), col("corpus_rep").as("rep"))
          .unionByName(gNew.select(col("doc_id"), col("th"), col("rep"))),
        s"$repsPath/batch=$batchId")
      Ingest.overwriteSwap(spark, shNew, s"$shinglesPath/batch=$batchId")
      // the batch's ADMITTED band rows under the global occupancy cap
      // ([[TextDedup.bandRowsAdmitted]] — append-only: landed batches
      // never rewrite, and the union over batches equals a cold capped
      // re-band of the whole corpus under monotonic ids)
      Ingest.overwriteSwap(spark,
        TextDedup.bandRowsAdmitted(shNew,
          oldBands.getOrElse(spark.range(0).select(col("id").as("doc_id"),
            col("id").cast("int").as("band"), col("id").cast("string").as("band_key")))),
        s"$bandsPath/batch=$batchId")
      Ingest.overwriteSwap(spark,
        docs.groupBy(col("source")).agg(count(lit(1)).as("n")),
        s"$statePath/raw/batch=$batchId")
      Ingest.overwriteSwap(spark, updatedClusters, clustersPath)
      // commit point: the ledger rides the gram index
      val mergedIndex = index
        .unionByName(grams.select(col("h")).distinct())
        .distinct()
        .withColumn("last_batch", lit(batchId))
      Ingest.overwriteSwap(spark, mergedIndex, indexPath)
    }

    refreshCard(spark, statePath, mixture, window, stride, packBudget)
  }

  /** Re-derive the card from the maintained state — unconditionally
    * idempotent (called on every delivery, including replayed no-ops,
    * so a crash between ledger commit and card swap self-heals). */
  def refreshCard(spark: SparkSession, statePath: String, mixture: DataFrame,
                  window: Int = 64, stride: Int = 48,
                  packBudget: Long = 512L): Unit = {
    val clustersPath = s"$statePath/clusters"
    if (!Ingest.readyRecovering(spark, clustersPath)) return // nothing ingested yet
    graft.Graft.leaseScope {
      val keepers = Tables.parquet(spark, clustersPath)
        .where(col("doc_id") === col("cluster_id")).select(col("doc_id"))
      val surv = Tables.parquet(spark, s"$statePath/pool")
        .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"),
          col("n_dup_tokens"), col("kept_tokens"), col("clean_text"))
        .join(keepers, Seq("doc_id")) // demotions drop out here
      val raw = Tables.parquet(spark, s"$statePath/raw")
        .groupBy(col("source")).agg(sum(col("n")).as("n_docs_raw"))
      val card = Release.releaseCardFromSurvivors(
        surv, raw, mixture, window, stride, packBudget)
      Ingest.overwriteSwap(spark, card, s"$statePath/card")
    }
  }

  /** Attach the continuous-release sink. `docs` is a streaming
    * DataFrame carrying (doc_id, source, text). */
  def sink(spark: SparkSession, docs: DataFrame, statePath: String,
           mixture: DataFrame, checkpointDir: String,
           minTokens: Int = 8, threshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, statePath, mixture,
          minTokens, threshold)
      }
      .start()
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.Erasure
import graft.sources.Ingest

/** Continuous right-to-be-forgotten — the streaming deployment of the
  * q141 index erasure: deletion requests (victim doc ids) arrive as a
  * stream, and each micro-batch is applied across every maintained
  * index artifact present under `root` — row deletes on the id-keyed
  * tables (bm25_postings, bm25_doclens, gram_occurrences), the
  * any-endpoint rule on the pair table (neardup_pairs), derived-state
  * REPAIR where a row delete is wrong (gram_index_base keeps a hash
  * only while a surviving occurrence carries it; neardup_clusters
  * relabel to their minimum surviving member — the q141 semantics,
  * including its documented bridge caveat: relabeling never re-splits
  * a cluster whose only bridge was the victim), and a full SKETCH
  * REBUILD for the bloom (gram_bloom_base): a bloom cannot subtract,
  * so erasure re-derives it from the repaired index — same geometry
  * as the warehouse build, so the rebuilt artifact is byte-identical
  * to a cold build over the surviving corpus.
  *
  * RTBF is legally CONTINUOUS — requests trickle in daily and each has
  * a deadline — so the production shape is this maintainer, not a
  * quarterly batch job.
  *
  * Exactly-once: every apply step is IDEMPOTENT (erasing already-
  * erased rows, re-repairing a repaired index, and re-relabeling
  * relabeled clusters are all fixpoints), so replay after a crash is
  * naturally safe; the cumulative victim LEDGER (`erasure_ledger`:
  * key, batch_id) commits LAST, both as the redelivery guard (a
  * batchId ≤ the ledger max is a no-op) and as the compliance record
  * an auditor reads. Each table lands via the crash-safe
  * [[Ingest.overwriteSwap]] and is read back through
  * [[Ingest.readyRecovering]] (single-writer swap recovery).
  *
  * Scale: one broadcast anti-join per table per batch (victim sets are
  * tiny), one semi-join for the index repair, one bounded aggregate
  * for the relabel — each table pays one scan per batch; at 100 TB
  * batches coalesce daily and the scan amortizes over every request
  * in the batch. */
object StreamErasure {

  /** Artifact child names under `root` (the warehouse registry names —
    * a deployment maintains whichever subset it has landed). */
  val Postings = "bm25_postings"
  val DocLens = "bm25_doclens"
  val GramOccurrences = "gram_occurrences"
  val GramIndex = "gram_index_base"
  val GramBloom = "gram_bloom_base"
  val Pairs = "neardup_pairs"
  val Clusters = "neardup_clusters"
  val ReleaseSurvivors = "release_survivors"
  val Ledger = "erasure_ledger"

  /** Bloom-rebuild deferral threshold: the sketch is rebuilt only when
    * the repaired index has shrunk ≥ this percent below the size it
    * was built over (the bloom row's own n_items — no extra state).
    *
    * Why deferral is SAFE: erasure only removes index keys, so the
    * standing bloom was built over a SUPERSET of the current index —
    * every surviving key still hits (the no-false-negative contract
    * holds unconditionally); an erased key may also still hit, which
    * costs the consumer probe overshoot, never a wrong answer. Why it
    * exists: a bloom cannot subtract, so the only repair is a full
    * rebuild from the index — per-batch rebuild makes every RTBF
    * micro-batch cost O(index) regardless of batch size. Deferral
    * decouples them: below the threshold the batch pays only its own
    * row deletes + the index repair; the O(index) rebuild amortizes
    * over ~shrinkPct of index mass erased. Set 0 to rebuild eagerly
    * (every batch, the pre-r12 behavior). */
  val BloomRebuildShrinkPct = 10

  private def readIf(spark: SparkSession, path: String): Option[DataFrame] =
    if (Ingest.readyRecovering(spark, path)) Some(Tables.parquet(spark, path)) else None

  /** Apply one batch of victims (single column `key`) across every
    * artifact present under `root`.
    *
    * Skip rule is KEY-BASED, not batch-id-based: foreachBatch batchIds
    * are monotonic only within one checkpointLocation, but the ledger
    * outlives checkpoints — a sink re-attached with a fresh checkpoint
    * restarts at batchId 0 carrying NEW victims, and a batch-id
    * watermark would silently drop them (deletion requests have legal
    * deadlines; silent is the one thing this must never be). Instead
    * the batch applies iff it carries at least one key the ledger has
    * not recorded; an exact redelivery (all keys recorded) is a no-op
    * regardless of which checkpoint delivered it. Applying an already-
    * recorded key again is harmless anyway — every step is a fixpoint. */
  def mergeBatch(spark: SparkSession, victims: DataFrame, batchId: Long,
                 root: String,
                 bloomRebuildShrinkPct: Int = BloomRebuildShrinkPct): Unit = {
    val ledgerPath = s"$root/$Ledger"
    val v = victims.select(col("key")).dropDuplicates("key")
    val ledger = readIf(spark, ledgerPath)
    val newKeys = ledger.fold(v)(l =>
      v.join(l.select(col("key")), Seq("key"), "left_anti"))
    // leaseScope: the victim-scoped repair leases its victim-key table
    // (one base scan instead of two — Erasure scaladoc); every leased
    // intermediate is consumed once the artifacts land, so release at
    // batch close instead of letting a long-running deletion stream
    // accumulate block-manager state across batches
    if (!newKeys.isEmpty) graft.Graft.leaseScope {
      // fail-fast BEFORE any mutation: an index without its occurrence
      // base cannot be repaired (victim-only hashes are
      // indistinguishable from shared ones — silent under-deletion);
      // checking late would leave a misconfigured root mid-rewrite on
      // every retry
      require(!Ingest.readyRecovering(spark, s"$root/$GramIndex") ||
        Ingest.readyRecovering(spark, s"$root/$GramOccurrences"),
        s"$root has $GramIndex but no $GramOccurrences: the distinct index " +
          "cannot be repaired without its occurrence base — land the base " +
          "or drop the index from this deployment")
      // same fail-fast for the sketch: a bloom can only be maintained
      // by rebuilding from the repaired index — a root with the bloom
      // but no index would silently keep a stale sketch whose bits
      // still encode victim-derived gram hashes
      require(!Ingest.readyRecovering(spark, s"$root/$GramBloom") ||
        Ingest.readyRecovering(spark, s"$root/$GramIndex"),
        s"$root has $GramBloom but no $GramIndex: the bloom cannot be " +
          "maintained without the index it is rebuilt from — land the " +
          "index or drop the bloom from this deployment")
      def applyTo(name: String)(f: DataFrame => DataFrame): Unit =
        readIf(spark, s"$root/$name").foreach(df =>
          Ingest.overwriteSwap(spark, f(df), s"$root/$name"))
      applyTo(Postings)(Erasure.erase(_, "doc_id", v))
      applyTo(DocLens)(Erasure.erase(_, "doc_id", v))
      // INDEX REPAIR BEFORE BASE ERASE — victim-scoped
      // ([[Erasure.repairDistinctIndexVictimScoped]]): only the hashes
      // the victims carried can leave the index, so the batch probes
      // the base for those alone instead of re-deduplicating every
      // corpus gram hash per deletion batch — the shuffle is O(victim
      // grams), decoupled from corpus size. The repair needs the
      // PRE-erase base (the victims' own rows are the evidence of
      // which hashes to re-check), so it runs before the base swap,
      // with the erase applied as a VIEW (anti-join) for the
      // surviving-carrier probe — the rows it sees are exactly the
      // post-erase table. Ordering is what makes crash replay
      // converge: a crash after this swap but before the base erase
      // replays against the still-intact base (repair is a fixpoint —
      // the orphans are already gone); a crash after the base erase
      // replays with an empty victim-hash set, a no-op on an index
      // that this very step already repaired. Both sides filter to
      // the SAME slice the index was built from (the `gram_index_base`
      // registry row's %10 ≠ HoldoutMod) — probing the full base would keep a hash
      // whose only surviving carrier is a holdout doc, silently
      // forking the maintained index from a cold rebuild.
      readIf(spark, s"$root/$GramOccurrences").foreach { preBase =>
        val baseSlice = preBase.where(pmod(col("doc_id"), lit(10)) =!=
          graft.warehouse.Warehouse.HoldoutMod)
        val victimGrams = baseSlice
          .join(broadcast(v.withColumnRenamed("key", "doc_id")),
            Seq("doc_id"), "left_semi")
          .select(col("h")).dropDuplicates("h")
        val erasedView = Erasure.erase(baseSlice, "doc_id", v)
        applyTo(GramIndex)(
          Erasure.repairDistinctIndexVictimScoped(_, "h", erasedView, victimGrams))
      }
      applyTo(GramOccurrences)(Erasure.erase(_, "doc_id", v))
      // the survivor pool stores the victim's SCRUBBED TEXT keyed by
      // doc_id — the one artifact where a missed delete is personal
      // data retained, not just index drift.
      //
      // DOCUMENTED SEMANTICS — monotonic shrink on keeper erasure: when
      // a near-dup cluster KEEPER is erased, the relabel below promotes
      // a new keeper (min surviving member), but its scrubbed row is
      // NOT added here — the scrub needs the promoted doc's raw text,
      // and raw documents are deliberately not a maintained artifact
      // under this root (keeping a raw-text copy beside the index
      // artifacts would widen the RTBF surface this maintainer exists
      // to shrink). So a keepers-only pool under continuous erasure
      // holds a SUBSET of what a cold warehouse rebuild over the
      // surviving corpus would: releases never leak erased content
      // (the privacy contract), but may omit a promoted keeper's
      // content until the next warehouse build re-derives the pool
      // (the cold build is the repair path, exactly like the cluster
      // bridge caveat). Pinned by the keepers-only-pool spec.
      applyTo(ReleaseSurvivors)(Erasure.erase(_, "doc_id", v))
      // sketch maintenance AFTER the index repair above (the bloom
      // re-derives from the repaired index — artifact-dependency order)
      readIf(spark, s"$root/$GramIndex").foreach { idx =>
        readIf(spark, s"$root/$GramBloom").foreach { bloomRow =>
          // DEFERRED rebuild (see [[BloomRebuildShrinkPct]]): the
          // bloom row's own n_items records the index size it was
          // built over; rebuild only once the repaired index has
          // shrunk past the threshold (or — defensively — GROWN,
          // which would mean false negatives: another maintainer
          // added keys without updating the sketch). In between, the
          // stale superset bloom keeps the no-false-negative
          // contract and the batch cost stays O(batch + repair),
          // decoupled from index size.
          val builtOver = bloomRow.select(col("n_items")).head().getLong(0)
          val cur = idx.count()
          val shrunkPastThreshold =
            (builtOver - cur) * 100L >= builtOver * bloomRebuildShrinkPct.toLong
          if (builtOver <= 0L || cur > builtOver || shrunkPastThreshold)
            // the warehouse's own builder — one source of truth for
            // the sketch geometry, so streamed and batch-built blooms
            // stay byte-identical by construction
            Ingest.overwriteSwap(spark,
              graft.warehouse.Warehouse.buildGramBloomBase(spark, idx),
              s"$root/$GramBloom")
        }
      }
      applyTo(Pairs)(Erasure.eraseAny(_, Seq("doc_a", "doc_b"), v))
      applyTo(Clusters)(Erasure.relabelClusters(_, v))
      // ledger LAST: a crash anywhere above leaves keys unrecorded and
      // replay re-applies (fixpoints converge). Written through the
      // SAME crash-safe overwriteSwap path as every other artifact
      // (old ∪ new keys into a fresh swap dir, then rename) — the
      // previous append-only write leaned on committer rename
      // atomicity, and a torn append on a non-atomic store would have
      // corrupted the one artifact an auditor reads. The rewrite is
      // O(ledger), not O(batch), but the ledger is a keys-only table
      // (bounded by total deletion requests ever — megabytes after
      // years), so the swap's cost is noise next to the index repair
      // the same batch already paid.
      val rows = newKeys.withColumn("batch_id", lit(batchId))
      val merged = ledger.fold(rows)(l =>
        l.select(col("key"), col("batch_id")).unionByName(rows))
      Ingest.overwriteSwap(spark, merged.repartition(1), ledgerPath)
    }
  }

  /** Attach the continuously-erasing sink. `victims` is a streaming
    * DataFrame carrying a single `key` column of doc ids. */
  def sink(spark: SparkSession, victims: DataFrame, root: String,
           checkpointDir: String): StreamingQuery =
    victims.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, root)
      }
      .start()
}

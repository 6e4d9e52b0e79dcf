package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query bench regression gate — run before closing a round.
  *
  * The r5→r6 drift (q44 2.6→15.6 s cold, plus six smaller regressions)
  * shipped because nothing in-round compared per-query times against a
  * recorded budget: the aggregate bench total moved ~20 s across 101
  * queries and read as noise. This gate re-runs the historically most
  * expensive queries through [[Measure]]'s loop (N runs, one JVM,
  * teardown between runs) and fails loudly when a steady median exceeds
  * [[Headroom]] × its recorded budget.
  *
  * Budgets are the steady medians recorded in BASELINE.md §Measured
  * (r7 in-repo run, sf0.1 local[32]) rounded UP to absorb run-to-run
  * jitter; 1.5× headroom on top means a trip signals a real plan or
  * codegen change, not variance. Re-record budgets when a query is
  * deliberately made faster/slower — the budget is a ratchet, not a
  * history.
  *
  * Usage: `runMain graft.BenchGuard [sfDir] [runs]` (defaults sf0.1,
  * 4 runs). Exit 1 on any budget trip — wire into the round-close
  * checklist next to the full verify.
  */
object BenchGuard {
  /** Recorded steady-median budgets (seconds) — r10 re-measure
    * (×5 post-cold medians, warehouse v9). The retrieval
    * evals are pinned at their ARTIFACT-backed costs (q104 5.5→1.5,
    * q117 5.0→2.2, q102 3.2→0.8, q114 2.5→1.2, q118 3.2→1.1): a trip
    * there means something re-introduced a per-query index/truth
    * re-scan. q101/q55 stay pinned at their r8 repaired costs. r10
    * pins: the substring family at its salted/bloom-fronted costs
    * (q122 2.4, q123 2.2 — a trip means the keeper re-join or the
    * per-query index re-derivation is back), bm25 at its
    * postings-artifact costs (q80/q133 ~1.0), margin mining at its
    * denominator-artifact costs (q125 2.4, q137 3.6), and the q140
    * release capstone at its whole-chain 11 s. */
  val Budgets: Seq[(String, Double)] = Seq(
    "q117_rerank_recall" -> 3.1,
    "q115_quality_training_prep" -> 1.8,
    "q118_hard_negatives" -> 1.1,
    "q114_rerank_exact" -> 1.2,
    "q104_ensemble_recall" -> 1.5,
    // r9: weight table became a plan literal (one digest chain per
    // feature instead of two) — a trip means the second chain is back
    "q106_model_filter" -> 1.9,
    "q125_margin_mining" -> 2.6,
    // r15: re-pinned from the interleaved same-host A/B (BASELINE.md
    // "r15 root-cause") — the r14 'regression' was host drift; these
    // pins are today's measured medians, not the calmer r13 host's
    "q137_margin_mining_incr" -> 5.2,
    "q102_rrf_ensemble" -> 0.8,
    "q99_ann_recall" -> 1.4,
    "q61_zorder_layout" -> 2.5,
    "q32_ngram_jaccard" -> 3.7,
    "q27_winnow_fingerprints" -> 2.8,
    "q88_cube_revenue" -> 2.3,
    "q07_stock_category_month_end" -> 2.2,
    "q57_rollup_revenue" -> 2.2,
    "q44_ann_ivfpq" -> 2.5,
    "q101_textrank" -> 1.3,
    "q55_countmin_tokens" -> 1.2,
    "q122_substr_scrub" -> 2.8,
    "q123_substr_scrub_incr" -> 2.5,
    "q124_source_substr_overlap" -> 1.9,
    "q129_source_gram_diversity" -> 1.3,
    "q92_bpe_fertility" -> 1.7,
    "q80_bm25_search" -> 1.1,
    "q133_bm25_postings" -> 1.2,
    "q139_gram_skew_audit" -> 1.5,
    // r12: the LSH pair build now enforces the LshMaxBucket occupancy
    // cap (one extra narrow-row window over the band table — measured
    // 1.66 s steady vs 1.50 uncapped at sf0.1; 47 s vs 499 s at sf10
    // where the cap actually fires). A trip here means the band table
    // stopped being narrow or the capped window grew a corpus sort.
    "q14_dedup_minhash_lsh" -> 2.0,
    // r11 (cont.): both release analytics read the materialized
    // release_survivors artifact — the scrub's gram shuffle moved to
    // warehouse build. A trip here means a release query re-grew a
    // corpus scrub (q140 repeat-run median 7.1, q147 ~4.9)
    "q140_release_card" -> 7.5,
    "q147_release_diff" -> 5.5,
    "q152_model_calibration" -> 2.9,
    "q151_dsir_weights" -> 1.8,
    "q154_dsir_resample" -> 2.8,
    "q141_index_erasure" -> 5.5, // r15 re-pin, see q137 note
    "q142_curriculum_pack" -> 2.4,
    "q143_index_drift" -> 2.0,
    "q144_tokenizer_drift" -> 1.8,
    "q84_phrase_search" -> 1.2,
    "q28_curation_pipeline" -> 4.5,
    "q39_keywords" -> 3.3,
    "q98_cas_chunks" -> 2.8,
    // r11 (cont.): drift/dataloader family + release receipt — pinned
    // from the 163-query fresh-bench steadies (172.2 s total)
    "q156_embedding_drift" -> 2.0,
    "q157_quality_drift" -> 1.1,
    "q158_batch_novelty" -> 1.7,
    "q159_epoch_shuffle" -> 0.8,
    "q160_worker_mixture" -> 2.1,
    "q161_release_manifest" -> 2.0,
    "q162_lsh_bucket_audit" -> 1.0)

  val Headroom = 1.5

  /** Per-STAGE budgets for the q140 release capstone (seconds, sf0.1
    * steady medians) — the capstone is a 5-stage composite under one
    * 11.5 s whole-chain budget, so a 2× regression in one stage hides
    * inside it (the r10 verdict's ask #3). Each pin times ONE stage:
    * predecessor stage outputs are persisted and materialized OUTSIDE
    * the timed region. Budgets from the r11 re-measure; 1.5× headroom
    * as for the query pins. */
  val ReleaseStageBudgets: Seq[(String, Double)] = Seq(
    "q140:scrub" -> 4.0,
    "q140:gate" -> 1.0,
    "q140:mixture" -> 1.0,
    "q140:pack" -> 2.6)

  /** Time the q140 stages in isolation (see [[ReleaseStageBudgets]]).
    * Returns (label, steadyMedian) rows. */
  private def releaseStageTimes(spark: SparkSession, sfDir: String, runs: Int): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val wh = graft.warehouse.Warehouse
    val rel = graft.pipeline.Release
    def docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    def mixture = docs.select(col("source")).distinct()
      .withColumn("mix_ppm", lit(50000L))
    // pre: build + materialize the predecessor OUTSIDE the clock;
    // timed: one stage's own action over the warmed predecessor
    def timed(label: String, pre: () => DataFrame, stage: DataFrame => DataFrame): (String, Double) = {
      val times = (1 to runs).map { _ =>
        Measure.teardown(spark)
        val p = pre().persist()
        p.count()
        val dt = Measure.seconds(Measure.noop(stage(p)))
        p.unpersist(blocking = false)
        dt
      }
      (label, Measure.steadyMedian(times))
    }
    def surv = rel.survivors(docs, wh.read(spark, sfDir, "gram_occurrences"),
      wh.read(spark, sfDir, "neardup_clusters"), wh.read(spark, sfDir, "doc_quality"))
    Seq(
      // scrub has no in-session predecessor (reads landed artifacts) —
      // the 1-row pre keeps the run structure uniform
      timed("q140:scrub", () => spark.range(1).toDF("x"), _ => surv),
      timed("q140:gate", () => surv, s => rel.gated(s)),
      timed("q140:mixture", () => rel.gated(Graft.lease(surv)),
        g => rel.releasedDocs(g, rel.mixtureRates(g, mixture))),
      timed("q140:pack", () => {
        val g = rel.gated(Graft.lease(surv))
        rel.releasedDocs(g, rel.mixtureRates(g, mixture))
      }, r => rel.chunkPack(r)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 4
    val spark = Graft.localSession()
    graft.warehouse.Warehouse.ensureMaterialized(spark, sfDir)

    def check(label: String, budget: Double, steady: Double): Option[(String, Double)] = {
      val limit = budget * Headroom
      val verdict = if (steady > limit) "FAIL" else "ok"
      println(f"[guard] $verdict $label steady=$steady%.2f s budget=$budget%.2f (limit $limit%.2f)")
      Option.when(steady > limit)(label -> steady)
    }
    val allFailures = Budgets.flatMap { case (name, budget) =>
      check(name, budget, Measure.steadyMedian(
        Measure.samples(spark, runs)(Measure.noop(SparkEntry.queries(name)(spark, sfDir)))))
    } ++ releaseStageTimes(spark, sfDir, runs).flatMap { case (label, steady) =>
      check(label, ReleaseStageBudgets.toMap.apply(label), steady)
    }
    spark.stop()
    if (allFailures.nonEmpty) {
      println(s"[guard] ${allFailures.size} budget trip(s): " +
        allFailures.map { case (n, s) => f"$n=$s%.2f s" }.mkString(", "))
      sys.exit(1)
    }
    println(s"[guard] all ${Budgets.size + ReleaseStageBudgets.size} budgets hold")
  }
}

package graft.text

import graft.Graft.LeaseOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The canonical LLM training-data curation pipeline, composed from the
  * verified operators: exact/normalized dedup keepers → MinHash+LSH
  * near-duplicate removal (drop the higher doc id of each verified
  * pair — deterministic greedy) → quality floor → language filter.
  *
  * Each stage is one of the oracle-gated operators; the composition is
  * itself oracle-gated (q28), because at 100 TB this chain IS the
  * workload — a curation run that silently disagrees with its spec on
  * 0.1% of documents poisons a dataset.
  *
  * Scale: dedup/near-dup stages are banded (never all-pairs), the
  * quality/language stages are pure map work, and the joins against the
  * (small) loser/keeper id sets are semi/anti joins on doc_id.
  */
object Curation {

  /** Surviving documents with their quality scores.
    * docs columns: doc_id, text.
    *
    * Memory lifecycle: the pipeline persists two intermediates (the
    * shared shingle projection here, the narrow band table inside the
    * near-dup stage). They stay cached until the caller drops them —
    * `spark.catalog.clearCache()` between pipeline runs (what Bench and
    * Verify do), or `unpersist()` on a dedicated session. A production
    * deployment materializes both to parquet instead (the plan shape is
    * identical), which is also the only option at 100 TB. */
  def curate(docs: DataFrame,
             jaccardThreshold: Double = 0.5,
             minQuality: Double = 0.5,
             lang: String = "en"): DataFrame = {
    // One persisted shingle projection feeds both shingle consumers of
    // the near-dup stage (signatures AND jaccard verification) — without
    // it the composed pipeline re-derived shingles+md5 per sub-pipeline
    // and cost ~2.5× the sum of its stages (round-2 verdict). The
    // normalized-dedup / quality / language stages are cheap map scans
    // of the raw docs and share the parquet scan via codegen fusion.
    // exact-dedup-first (r14): band one rep per identical-text group;
    // losers = rep-level pair losers + every non-rep member (the star
    // edges' doc_b side) — identical keep/drop decisions below the
    // bucket cap, and no mega-group can flood a band bucket above it
    val g = TextDedup.exactGroups(docs).leased
    val sh = TextDedup.shingled(TextDedup.repDocs(docs, g)).leased
    val keepers = TextDedup.normalized(docs).select(col("doc_id"))
    val nearDupLosers = TextDedup.minhashLshPairsFromShingles(sh, jaccardThreshold)
      .unionByName(TextDedup.exactStarEdges(g))
      .select(col("doc_b").as("doc_id")).distinct()
    val quality = TextAnalysis.stats(docs).select(col("doc_id"), col("quality_score"))
    val langs = TextAnalysis.langGuess(docs).select(col("doc_id"), col("lang_guess"))
    docs.select(col("doc_id"))
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .join(quality, Seq("doc_id"))
      .join(langs, Seq("doc_id"))
      .where(col("quality_score") >= lit(minQuality) && col("lang_guess") === lit(lang))
      .select(col("doc_id"), col("quality_score"))
      .orderBy("doc_id")
  }

  /** [[curate]] over the MATERIALIZED duplicate-graph edge list
    * (warehouse `neardup_pairs` = rep-level verified pairs ∪ exact star
    * edges — its row in [[graft.warehouse.Warehouse.registry]]): the
    * near-dup stage reads corpus state exactly like the graph analytics
    * (q35/q105/q107 read the same table) instead of re-running
    * exact-group → shingle → minhash → band → verify per query.
    * Decisions identical by construction — the artifact IS
    * [[graft.text.TextDedup.minhashLshPairs]]' pair set at the default
    * threshold, so `losers` (the doc_b sides) match the fresh
    * derivation row-for-row. r16: removes the three heaviest per-query
    * corpus passes (exact-group md5, shingle+minhash signatures, the
    * band self-join) from the composed pipeline's plan. */
  def curateFromPairs(docs: DataFrame, pairs: DataFrame,
                      minQuality: Double = 0.5,
                      lang: String = "en"): DataFrame = {
    val keepers = TextDedup.normalized(docs).select(col("doc_id"))
    val nearDupLosers = pairs.select(col("doc_b").as("doc_id")).distinct()
    val quality = TextAnalysis.stats(docs).select(col("doc_id"), col("quality_score"))
    val langs = TextAnalysis.langGuess(docs).select(col("doc_id"), col("lang_guess"))
    docs.select(col("doc_id"))
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .join(quality, Seq("doc_id"))
      .join(langs, Seq("doc_id"))
      .where(col("quality_score") >= lit(minQuality) && col("lang_guess") === lit(lang))
      .select(col("doc_id"), col("quality_score"))
      .orderBy("doc_id")
  }

  /** Per-stage YIELD REPORT for the same pipeline — the one-row summary
    * every curation run ships with its dataset: how many documents
    * survive each successive stage (raw → exact/normalized dedup →
    * near-dup removal → quality floor → language filter). Computed as
    * ONE pass: per-doc survival flags from the stage operators, then a
    * single conditional aggregate — no per-stage rescans, so the report
    * costs one extra aggregate over the flags, not five pipeline runs. */
  def funnel(docs: DataFrame,
             jaccardThreshold: Double = 0.5,
             minQuality: Double = 0.5,
             lang: String = "en"): DataFrame = {
    // rep-banded near-dup, exactly the [[curate]] rule
    val g = TextDedup.exactGroups(docs).leased
    val sh = TextDedup.shingled(TextDedup.repDocs(docs, g)).leased
    val keepers = TextDedup.normalized(docs).select(col("doc_id")).withColumn("kf", lit(1))
    val losers = TextDedup.minhashLshPairsFromShingles(sh, jaccardThreshold)
      .unionByName(TextDedup.exactStarEdges(g))
      .select(col("doc_b").as("doc_id")).distinct().withColumn("lzf", lit(1))
    val quality = TextAnalysis.stats(docs).select(col("doc_id"), col("quality_score"))
    val langs = TextAnalysis.langGuess(docs).select(col("doc_id"), col("lang_guess"))
    docs.select(col("doc_id"))
      .join(keepers, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"))
      .join(langs, Seq("doc_id"))
      .select(
        coalesce(col("kf"), lit(0)).as("kf"),
        (lit(1) - coalesce(col("lzf"), lit(0))).as("nlf"),
        coalesce((col("quality_score") >= lit(minQuality)).cast("int"), lit(0)).as("qf"),
        coalesce((col("lang_guess") === lit(lang)).cast("int"), lit(0)).as("lf"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(col("kf")).as("n_after_dedup"),
        sum(col("kf") * col("nlf")).as("n_after_neardup"),
        sum(col("kf") * col("nlf") * col("qf")).as("n_after_quality"),
        sum(col("kf") * col("nlf") * col("qf") * col("lf")).as("n_after_lang"))
  }

  /** [[funnel]] over the materialized duplicate-graph edge list — the
    * artifact-path twin of [[curateFromPairs]] (same `neardup_pairs`
    * table, same identical-decisions argument). */
  def funnelFromPairs(docs: DataFrame, pairs: DataFrame,
                      minQuality: Double = 0.5,
                      lang: String = "en"): DataFrame = {
    val keepers = TextDedup.normalized(docs).select(col("doc_id")).withColumn("kf", lit(1))
    val losers = pairs.select(col("doc_b").as("doc_id")).distinct()
      .withColumn("lzf", lit(1))
    val quality = TextAnalysis.stats(docs).select(col("doc_id"), col("quality_score"))
    val langs = TextAnalysis.langGuess(docs).select(col("doc_id"), col("lang_guess"))
    docs.select(col("doc_id"))
      .join(keepers, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"))
      .join(langs, Seq("doc_id"))
      .select(
        coalesce(col("kf"), lit(0)).as("kf"),
        (lit(1) - coalesce(col("lzf"), lit(0))).as("nlf"),
        coalesce((col("quality_score") >= lit(minQuality)).cast("int"), lit(0)).as("qf"),
        coalesce((col("lang_guess") === lit(lang)).cast("int"), lit(0)).as("lf"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(col("kf")).as("n_after_dedup"),
        sum(col("kf") * col("nlf")).as("n_after_neardup"),
        sum(col("kf") * col("nlf") * col("qf")).as("n_after_quality"),
        sum(col("kf") * col("nlf") * col("qf") * col("lf")).as("n_after_lang"))
  }

  /** Per-source quota cap — the curation staple that stops one crawl
    * domain from dominating the training mix: keep only the `quota`
    * highest-quality documents of each source (quality DESC, doc_id
    * ties). The complement of [[graft.SparkEntry]] q83's rate-based
    * mixing: quotas cap hard, rates thin proportionally.
    *
    * `docs` columns: doc_id, text, source. Output: (source, rank,
    * doc_id, quality_score), rank 1..quota per source.
    *
    * Scale: selection is the bounded `top_k_pairs` aggregate — quota
    * rows of state per source with map-side partials, never a
    * per-source sort window (a hot domain at 100 TB has billions of
    * docs; a rank window would sort all of them inside the shuffle).
    * Docs with NULL quality (empty text) are ineligible by definition.
    * The quality join is doc_id-keyed; in production the score is a
    * scan-projection column of the curated table, same plan minus the
    * join. */
  def sourceQuota(docs: DataFrame, quota: Int = 10): DataFrame = {
    require(quota > 0)
    val q = TextAnalysis.stats(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("quality_score"))
      .where(col("quality_score").isNotNull)
    docs.select(col("doc_id"), col("source")).join(q, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(expr(s"top_k_pairs(doc_id, quality_score, $quota)").as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("r0", "p")))
      .select(col("source"), (col("r0") + 1).as("rank"),
        col("p.id").as("doc_id"), col("p.score").as("quality_score"))
      .orderBy("source", "rank")
  }

  /** The default gate fraction (top `TopFractionNum/TopFractionDen` =
    * top quartile) — ONE definition read by both spellings of the gate
    * ([[topFractionThresholds]] and
    * [[graft.pipeline.Release.decisionTable]]'s windowed fold), so a
    * fraction change cannot silently diverge the card/diff gate from
    * the standalone gate operators (r15 ADVICE). */
  val TopFractionNum = 1
  val TopFractionDen = 4

  /** Per-group exact top-fraction thresholds: for each `group`, the
    * smallest `score` value such that the rows scoring ≥ it are the
    * group's top `num/den` fraction (at least one row; ties at the
    * boundary are INCLUDED — keeping a doc never depends on tie order).
    * Output: (group, n_rows, threshold).
    *
    * Scale shape: the cumulative window runs over the per-group
    * DISTINCT-VALUE table (group-then-window) — value-compressed rows,
    * never the raw corpus; the group-partitioned sort is bounded by
    * score cardinality, not document count. Since values are distinct
    * within a partition, RANGE/ROWS framing peers are identical, so
    * any SQL engine replays it exactly. */
  def topFractionThresholds(scored: DataFrame, group: String, score: String,
                            num: Int = TopFractionNum,
                            den: Int = TopFractionDen): DataFrame = {
    require(num > 0 && den >= num, s"top fraction must be in (0,1]: $num/$den")
    import org.apache.spark.sql.expressions.Window
    val n = scored.groupBy(col(group)).agg(count(lit(1)).as("n_rows"))
    val dist = scored.groupBy(col(group), col(score)).agg(count(lit(1)).as("c"))
    val cum = dist.withColumn("cum", sum(col("c")).over(
      Window.partitionBy(col(group)).orderBy(col(score).desc)))
    cum.join(n, Seq(group))
      .where(col("cum") >= greatest(lit(1L), expr(s"(n_rows * $num) div $den")))
      .groupBy(col(group), col("n_rows"))
      .agg(max(col(score)).as("threshold"))
      .select(col(group), col("n_rows"), col("threshold"))
  }

  /** Data Selection with Importance Resampling weights (Xie et al. 2023,
    * arXiv:2302.03169), fixed-point variant: score each document by how
    * much more likely its hashed n-gram features are under a TARGET
    * distribution than under the raw corpus. Features are adjacent-token
    * bigrams hashed to `nBuckets` ids (the paper's hashed n-gram model);
    * the target distribution is estimated from the docs matching
    * `targetLang`, the raw distribution from the whole corpus, both with
    * add-one smoothing over the bucket domain.
    *
    * Determinism: the paper's log-likelihood ratio sum is replaced by
    * the per-occurrence likelihood-RATIO mean in integer ppm (the q65
    * count-LM pattern) — bucket probabilities are first fixed to ppb by
    * integer division, then ratioed to ppm, so any SQL engine replays
    * the score bit-exactly; monotonicity in "more target-like" is
    * preserved, which is all resampling consumes. Docs with fewer than
    * two tokens have no features and are absent (same contract as q65).
    *
    * Output per doc: n_feats (bigram occurrences), score_ppm,
    * keep_target_like = score_ppm ≥ 1e6 (more target- than raw-typical).
    *
    * Scale: two grouped counts over the bigram stream (map-side
    * combine), two 1-row broadcast totals, and a broadcast-size ratio
    * table (`nBuckets` rows) joined back map-side — per-doc cost is one
    * pass over its tokens; nothing driver-side, nothing all-pairs. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  nBuckets: Int = 1024): DataFrame = {
    val bi = dsirFeatures(docs, nBuckets).leased // distributions + scorer
    dsirScoreAgainstCounts(bi, dsirCounts(bi, targetLang), nBuckets)
  }

  /** Hashed-bigram feature stream: one row per adjacent-token bigram
    * occurrence, (doc_id, every other input column, feat ∈ [0,
    * nBuckets)). The shared featurizer under [[dsirCounts]] and
    * [[dsirScoreAgainstCounts]] — both sides of an incremental
    * deployment MUST hash features identically or the ratio table is
    * garbage, so there is exactly one implementation. */
  def dsirFeatures(docs: DataFrame, nBuckets: Int = 1024): DataFrame = {
    val keep = docs.columns.filterNot(_ == "text").map(col).toSeq
    docs
      .select(keep :+ expr("filter(split(text, ' '), w -> w != '')").as("ws"): _*)
      .select(keep :+ explode(expr(
        """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |         slice(ws, 2, greatest(size(ws) - 1, 0)),
          |         (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"): _*)
      .select(keep :+ expr(s"md5_prefix(bg, 15) % ${nBuckets}L").as("feat"): _*)
  }

  /** The DSIR distribution state: per-bucket occurrence counts under
    * the raw corpus (cnt_r) and the target slice (cnt_t, docs with
    * lang = targetLang). Row count bounded by the featurizer's bucket
    * space — broadcastable corpus state, and incrementally
    * maintainable by a keyed sum-merge (counts add;
    * WarehouseMaintenanceSpec pins the law). Input: a [[dsirFeatures]]
    * stream carrying `lang`; the bucket space is FIXED at
    * featurization time (this is a plain keyed count — it takes no
    * nBuckets on purpose, so no caller can believe the counts layer
    * re-buckets). */
  def dsirCounts(feats: DataFrame, targetLang: String = "en"): DataFrame =
    feats.groupBy("feat").agg(
      count(lit(1)).as("cnt_r"),
      sum((col("lang") === lit(targetLang)).cast("long")).as("cnt_t"))

  /** Score a [[dsirFeatures]] stream against a landed counts table
    * (the incremental-deployment half: distributions estimated once on
    * the corpus, every arriving doc scored in one map pass + a
    * broadcast join with the ≤nBuckets-row table — per-batch cost
    * independent of corpus size). Buckets the corpus never saw take
    * the add-one-smoothed 0/0 ratio, so out-of-vocabulary text scores
    * against the uniform prior instead of being dropped.
    *
    * Determinism and scale bounds: bucket probabilities are fixed to
    * ppb by integer division, then ratioed to ppm. The ppb numerator
    * stays under 2^63 for any corpus below ~9e9 bigrams; the ppb
    * VALUE is clamped to ≥ 1 on BOTH sides — past ~1e9 bigrams a
    * rare bucket's ppb probability underflows to 0, and an unclamped
    * ratio would divide by zero (ANSI Spark throws, DuckDB NULLs —
    * both wrong) exactly at the corpus sizes DSIR targets. The clamp
    * is a 1e-9 probability-resolution floor: buckets rarer than
    * one-in-1e9 saturate at the floor, preserving monotonicity, which
    * is all resampling consumes. The doc score is the per-occurrence
    * ratio mean in ppm. Docs with no features are absent (q65
    * contract). */
  def dsirScoreAgainstCounts(feats: DataFrame, counts: DataFrame,
                             nBuckets: Int = 1024): DataFrame = {
    val tots = counts.agg(sum(col("cnt_r")).as("tot_r"),
      sum(col("cnt_t")).as("tot_t"))
    val ratios = counts.crossJoin(broadcast(tots))
      .select(col("feat"), expr(
        s"""greatest(1L, (coalesce(cnt_t, 0L) + 1L) * 1000000000L div (coalesce(tot_t, 0L) + ${nBuckets}L))
           | * 1000000L
           | div greatest(1L, (coalesce(cnt_r, 0L) + 1L) * 1000000000L div (coalesce(tot_r, 0L) + ${nBuckets}L))"""
          .stripMargin.replace("\n", "")).as("ratio_ppm"))
    // OOV ratio = the same formula at cnt_t = cnt_r = 0, carried as a
    // broadcast 1-row join so the plan stays pure dataframe (the
    // oracle replays it as a scalar subquery).
    val oov = tots.select(expr(
      s"""greatest(1L, (0L + 1L) * 1000000000L div (coalesce(tot_t, 0L) + ${nBuckets}L))
         | * 1000000L
         | div greatest(1L, (0L + 1L) * 1000000000L div (coalesce(tot_r, 0L) + ${nBuckets}L))"""
        .stripMargin.replace("\n", "")).as("oov_ppm"))
    feats.join(broadcast(ratios), Seq("feat"), "left")
      .crossJoin(broadcast(oov))
      .withColumn("ratio_ppm", coalesce(col("ratio_ppm"), col("oov_ppm")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        expr("sum(ratio_ppm) div count(1)").as("score_ppm"))
      .withColumn("keep_target_like", (col("score_ppm") >= lit(1000000L)).cast("int"))
      .orderBy("doc_id")
  }

  /** Realize the DSIR RESAMPLING step over [[dsirWeights]] scores:
    * keep each doc with probability proportional to its importance
    * weight, targeting ~1/denomFrac of the scored corpus. The keep
    * decision is a deterministic hash threshold (the q140 sampling
    * pattern, 'rs:'-prefixed so it decorrelates from every other
    * sampler in the pipeline), so the realized dataset is replayable
    * bit-for-bit by any engine.
    *
    * Overflow discipline: p_i = min(1e6, (score_ppm_i · 1e6) div
    * (tot div N)) — the numerator is bounded by max-score·1e6
    * INDEPENDENT of corpus size (score_ppm_i · N · 1e6 div tot, the
    * naive form, overflows 2^63 once N passes ~1e7 docs). E[kept] ≈ N
    * up to the min-clamp on over-weighted docs.
    *
    * Scale: one pass over the scored table + two broadcast 1-row
    * totals; no shuffle beyond [[dsirWeights]]'s own. */
  def dsirResample(docs: DataFrame, targetLang: String = "en",
                   denomFrac: Int = 4): DataFrame = {
    val w = dsirWeights(docs, targetLang).leased
    val tot = w.agg(sum(col("score_ppm")).as("tot"),
      (count(lit(1)) / lit(denomFrac)).cast("long").as("n_target"))
    w.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("score_ppm"),
        least(lit(1000000L),
          expr("(score_ppm * 1000000L) div greatest(1L, tot div greatest(1L, n_target))"))
          .as("keep_prob_ppm"))
      .withColumn("kept",
        (expr("md5_prefix(concat('rs:', cast(doc_id as string)), 15) % 1000000L")
          < col("keep_prob_ppm")).cast("int"))
      .orderBy("doc_id")
  }

  /** Train/test split LEAKAGE audit: a deterministic 10% holdout split
    * ('sp:'-prefixed hash, decorrelated from every sampler), then the
    * near-duplicate pair graph is probed for pairs that STRADDLE the
    * split — a test doc with a train-side near-duplicate is a
    * contaminated eval point (its score measures memorization, not
    * generalization). Reports, per source: split sizes, the number of
    * contaminated test docs, and the contamination rate in integer ppm.
    *
    * Scale: two id-keyed joins of the (corpus-state) pair table against
    * the split flags, a distinct over the contaminated ids, and a
    * per-source rollup — no pair generation here; the landed
    * neardup_pairs artifact is the single source of truth for the
    * duplicate graph (the q35/q105 argument). */
  def splitLeakage(docs: DataFrame, pairs: DataFrame,
                   testPct: Int = 10): DataFrame = {
    val d = docs.select(col("doc_id"), col("source"),
      (expr("md5_prefix(concat('sp:', cast(doc_id as string)), 15) % 100")
        < lit(testPct)).cast("int").as("is_test")).leased
    val flags = d.select(col("doc_id"), col("is_test"))
    val cross = pairs.select(col("doc_a"), col("doc_b"))
      .join(flags.select(col("doc_id").as("doc_a"), col("is_test").as("ta")), Seq("doc_a"))
      .join(flags.select(col("doc_id").as("doc_b"), col("is_test").as("tb")), Seq("doc_b"))
      .where(col("ta") =!= col("tb"))
      .select(when(col("ta") === 1, col("doc_a")).otherwise(col("doc_b")).as("doc_id"))
      .distinct()
    d.join(cross.withColumn("contaminated", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        sum(lit(1) - col("is_test")).as("n_train"),
        sum(col("is_test")).as("n_test"),
        sum(coalesce(col("contaminated"), lit(0)) * col("is_test")).as("n_test_contaminated"))
      .withColumn("leak_ppm",
        when(col("n_test") > 0,
          expr("(n_test_contaminated * 1000000) div n_test")).otherwise(lit(0L)))
      .orderBy("source")
  }

  /** Quality-DISTRIBUTION drift — the PSI-style monitor for the
    * curation gate, beside the index (q143) and tokenizer (q144)
    * monitors: corpus-defined decile bins of the composite quality
    * score, with the arriving batch's occupancy reported against the
    * corpus's in integer ppm. The corpus side is ~100,000 ppm per bin
    * by construction (deciles of itself), so `drift_ppm` reads
    * directly as "how far this batch's quality mix is from the
    * distribution the gate thresholds were tuned on" — a rising
    * low-bin share is the early-warning that a crawl source degraded
    * BEFORE the gate starts silently dropping most of it.
    *
    * Binning is tie-stable (the q152 rule): cumulative strictly-below
    * counts over the DISTINCT-value table of the CORPUS side — never
    * ntile, never a corpus-wide window; engine tie order cannot move a
    * doc across bins. Bin edges (each bin's min value) collapse to ONE
    * broadcast array row, so assigning EITHER side is a map-only
    * 10-element array scan — a batch doc below every corpus value
    * clamps to bin 0. Integer end to end.
    *
    * Scale: one distinct-value aggregate of the corpus quality table
    * (bounded by the score's value range, ≪ corpus — the q152
    * argument), a window over THAT table only, one 1-row broadcast of
    * the edges, one map-side-combined (side, bin) count. The quality
    * table itself is the materialized doc_quality artifact. */
  def qualityDrift(quality: DataFrame, isBatch: org.apache.spark.sql.Column,
                   nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = quality.select(col("doc_id"), col("quality"),
      isBatch.cast("int").as("is_b"))
    val dist = q.where(col("is_b") === 0)
      .groupBy(col("quality")).agg(count(lit(1)).as("c"))
    val tot = dist.agg(sum(col("c")).as("tot"))
    // distinct values only → RANGE ≡ ROWS peers; the window runs over
    // the value table, never the corpus
    val binned = dist.crossJoin(broadcast(tot))
      .withColumn("below",
        sum(col("c")).over(Window.orderBy("quality")) - col("c"))
      .withColumn("bin",
        least(lit(nBins - 1), expr(s"(below * $nBins) div tot")))
    val edges = binned.groupBy(col("bin")).agg(min(col("quality")).as("bin_min"))
    // occupied bins can be SPARSE (fewer distinct values than bins), so
    // assignment takes the LARGEST occupied bin whose edge ≤ v — never
    // the edge's ordinal (ordinal ≠ bin id once a bin is empty)
    val edgeRow = edges
      .agg(expr("array_sort(collect_list(struct(bin_min, bin)))").as("bin_edges"))
    val assigned = q.crossJoin(broadcast(edgeRow))
      .withColumn("bin", coalesce(
        expr("try_element_at(filter(bin_edges, e -> e.bin_min <= quality), -1).bin"),
        lit(0L)))
      .groupBy(col("bin"))
      .agg(sum(lit(1L) - col("is_b")).as("corpus_n"),
        sum(col("is_b").cast("long")).as("batch_n"))
    val allBins = quality.sparkSession.range(nBins).select(col("id").as("bin"))
    val j = allBins
      .join(assigned, Seq("bin"), "left")
      .join(edges, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("bin_min"), lit(-1L)).as("bin_min_quality"),
        coalesce(col("corpus_n"), lit(0L)).as("corpus_n"),
        coalesce(col("batch_n"), lit(0L)).as("batch_n"))
    val t2 = j.agg(sum(col("corpus_n")).as("ct"), sum(col("batch_n")).as("bt"))
    j.crossJoin(broadcast(t2))
      .select(col("bin"), col("bin_min_quality"), col("corpus_n"), col("batch_n"),
        expr("(corpus_n * 1000000) div greatest(1L, ct)").as("corpus_ppm"),
        expr("(batch_n * 1000000) div greatest(1L, bt)").as("batch_ppm"),
        expr("abs((corpus_n * 1000000) div greatest(1L, ct) - " +
          "(batch_n * 1000000) div greatest(1L, bt))").as("drift_ppm"))
      .orderBy("bin")
  }
}

package graft.pipeline

import graft.Graft.LeaseOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum
import graft.text.{Chunking, Curation, SegmentDedup}

/** End-to-end dataset RELEASE — the capstone composition of the
  * curation stages that the registry gates individually, chained over
  * one corpus in their production order:
  *
  *   1. exact-substring scrub (q122 — repeated ≥L-token spans removed,
  *      first occurrence survives),
  *   2. near-dup keeper filter (the cluster artifact's one-doc-per-
  *      cluster rule),
  *   3. per-source top-quartile quality gate (q128's source-RELATIVE
  *      thresholds, computed over the SURVIVORS — gating the corpus
  *      that is actually shipping, not the raw one),
  *   4. mixture realization (q132's capped per-source hash keep-rates
  *      against the DoReMi-style targets; shares measured in RELEASED
  *      token mass, since that is what survives to training),
  *   5. chunk + pack the released clean text (q45's windows and
  *      fixed-budget packing).
  *
  * Output: the per-source data card OF THE RELEASED DATASET (q134
  * describes the raw corpus; this is the card a dataset release ships
  * with) — raw/surviving/gated/released doc counts, the gate
  * threshold, scrub removal rate, released token mass, realized vs
  * target mixture, released average quality, and the chunk/pack
  * footprint.
  *
  * Scale posture: every stage is the already-gated operator itself —
  * the corpus is touched by the scrub (one gram shuffle, salted) and
  * the chunker (map-only); everything else is source-cardinality
  * arithmetic, 1-row broadcasts, and id-keyed joins of corpus state
  * (clusters, quality, grams are materialized warehouse artifacts).
  * The intermediate survivors/released tables are persisted — probed
  * by the threshold/mass aggregates AND the downstream stage (the
  * session-cache contract, [[graft.Graft]]).
  */
object Release {

  /** Stage 1+2 — scrub the near-dup KEEPERS against the FULL corpus
    * gram table: dup marking and keeper-resolution see every occurrence
    * corpus-wide (a span whose first occurrence lives in a dropped
    * near-dup still scrubs), but the reassembly runs only over docs
    * that can ship. ONE scrub pass: the clean text rides in the
    * persisted survivor table to the chunker — measured cheaper than
    * a leaner stats pass + a second released-only scrub, because the
    * gram-side dup marking (not the reassembly) dominates the scrub
    * and would run twice. */
  def survivors(docs: DataFrame, grams: DataFrame, clusters: DataFrame,
                quality: DataFrame, minTokens: Int = 8): DataFrame = {
    val keepers = clusters.where(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))
    SegmentDedup.scrubExactSubstrFromGrams(
        docs.select(col("doc_id"), col("text")).join(keepers, Seq("doc_id")),
        grams, minTokens)
      .withColumn("kept_tokens", col("n_tokens") - col("n_dup_tokens"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .join(quality, Seq("doc_id"))
  }

  /** Stage 3 — source-relative top-quartile gate over the survivors. */
  def gated(surv: DataFrame): DataFrame =
    gatedBy(surv, gateThresholds(surv).select(col("source"), col("threshold")))

  /** [[gated]] under an ALREADY-computed threshold table — the single
    * definition of the gate predicate; releaseDiff's two decision
    * layers go through here so a gate change cannot silently diverge
    * between the card and the diff. `thr` has one row per source with
    * its `threshold`; its other columns ride along to the gated rows, so
    * a rates frame that carries the threshold ([[ratesFromDecision]])
    * gates and brings the sample's keep rate in one join (q161). */
  def gatedBy(surv: DataFrame, thr: DataFrame): DataFrame =
    surv
      .join(thr, Seq("source"))
      .where(col("quality") >= col("threshold"))

  /** The gate's per-source thresholds (exposed for the card). */
  def gateThresholds(surv: DataFrame): DataFrame =
    Curation.topFractionThresholds(
      surv.select(col("source"), col("quality")), "source", "quality")

  /** r15: ALL per-source decision scalars of the card/diff chain from
    * ONE windowed pass over the (text-free) light projection of the
    * survivors — (source, n_rows, threshold, n_gated, gated_tokens,
    * all_tokens), one row per source. Replaces the aggregate→join-back
    * cascade (threshold dist/cum/n chain + gated mass + global total =
    * ~6 exchanges and a dozen AQE jobs per decision layer) with one
    * exchange by source + in-partition windows + a source-cardinality
    * dedup. The window shuffle carries 4 scalar columns, never
    * clean_text — the corpus-frame attaches below stay broadcast joins
    * (guide §8: decide on proxies, move payloads once).
    *
    * Semantics are bit-equal to the operators it folds:
    *  - threshold: over the per-source DISTINCT-quality counts (the
    *    group-then-window discipline — see the r16 note in the body),
    *    cum(q) = sum of counts over (source ORDER BY quality DESC)
    *    counts rows with quality ≥ q — exactly topFractionThresholds'
    *    running sum evaluated at q; threshold = max quality whose cum
    *    reaches greatest(1, (n_rows*num) div den) at the shared
    *    [[graft.text.Curation.TopFractionNum]]/`Den` fraction. Integer
    *    arithmetic identical.
    *  - gated mass: windows over the threshold-filtered distinct-quality
    *    rows (the partitioning by source survives the filter — no new
    *    exchange).
    *  - all_tokens: an unpartitioned window over the SOURCE-CARDINALITY
    *    dedup (bounded ~20 rows forever), computed BEFORE the mixture
    *    join exactly like mixtureRates' `tot`.
    * The fold is oracle-pinned: q140/q147/q128-family hash gates re-run
    * green after the change.
    *
    * The distinct-quality table is bounded by construction (sources ×
    * score values), so every window and the dedup run in one task after
    * its one shuffle ([[graft.Par.single]]): no exchange by source, no
    * single-partition exchange for `all_tokens`, and the output is one
    * partition. That also makes the decision branch a single query stage,
    * so it cannot race a consumer's other branches for the adaptive
    * planner's codegen stage ids (q161: a race there renumbered the
    * generated classes and recompiled them on a warm call). */
  private[graft] def decisionTable(surv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    // r16 (the r15 verdict's skew fix): pre-aggregate to the per-source
    // DISTINCT-QUALITY table BEFORE any window — exactly
    // [[graft.text.Curation.topFractionThresholds]]' group-then-window
    // discipline. The r15 shape ran the cumulative window over RAW
    // survivor rows partitioned only by source: one reducer sorts a
    // source's entire document set — a multi-TB per-source serialization
    // at 100 TB. The hash aggregate below is map-side combinable and
    // value-compresses the window input to score cardinality; every
    // window then runs over the bounded distinct-quality frame.
    // Equivalence is row-arithmetic identical: with distinct quality per
    // source, ROWS framing ≡ the old RANGE framing (no peers), and
    // sum(__c) over quality ≥ q ≡ the old count of raw rows with
    // quality ≥ q; the gated sums fold the identical longs.
    val byQualDesc = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    graft.Par.single(surv.select(col("source"), col("quality"), col("kept_tokens"))
      .groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("__c"), sum(col("kept_tokens")).as("__t")))
      .withColumn("n_rows", sum(col("__c")).over(bySrc))
      .withColumn("__cum", sum(col("__c")).over(byQualDesc))
      .withColumn("threshold",
        max(when(col("__cum") >= greatest(lit(1L), expr(
          s"(n_rows * ${graft.text.Curation.TopFractionNum}) " +
            s"div ${graft.text.Curation.TopFractionDen}")),
          col("quality"))).over(bySrc))
      .where(col("quality") >= col("threshold"))
      .withColumn("n_gated", sum(col("__c")).over(bySrc))
      .withColumn("gated_tokens", sum(col("__t")).over(bySrc))
      .select(col("source"), col("n_rows"), col("threshold"),
        col("n_gated"), col("gated_tokens"))
      .dropDuplicates("source")
      .withColumn("all_tokens", sum(col("gated_tokens")).over(all))
  }

  /** [[mixtureRates]]' arithmetic over an already-computed
    * [[decisionTable]] — bounded-frame column math, no corpus touch.
    * r16: LEFT join — every decision-table source stays present, with
    * share/keep/mix NULL for a source the mixture table does not know
    * (exactly the rows the pre-r16 inner join dropped: the released
    * filter treats a NULL keep_ppm as "not released" just as it treated
    * the missing row, and the card/diff assemblies coalesce the NULLs
    * to the same zeros). One frame now serves gate, sample and
    * assembly, so the card's survivor stats no longer need a second
    * dec-derived join. */
  private[graft] def ratesFromDecision(dec: DataFrame, mixture: DataFrame): DataFrame =
    // the mixture is source-cardinality: broadcast it, so the decision
    // branch is never the build side of its own stage (see decisionTable)
    dec.join(broadcast(mixture.select(col("source"), col("mix_ppm"))), Seq("source"), "left")
      .withColumn("share_ppm",
        when(col("mix_ppm").isNotNull,
          expr("(gated_tokens * 1000000) div greatest(1L, all_tokens)")))
      .withColumn("keep_ppm", when(col("mix_ppm").isNotNull, least(lit(1000000L),
        expr("(mix_ppm * 1000000) div greatest(1L, share_ppm)"))))

  /** Stage 4a — mixture realization rates on released token mass. */
  def mixtureRates(gatedDf: DataFrame, mixture: DataFrame): DataFrame = {
    val mass = gatedDf.groupBy(col("source"))
      .agg(count(lit(1)).as("n_gated"), sum(col("kept_tokens")).as("gated_tokens"))
    val tot = mass.agg(sum(col("gated_tokens")).as("all_tokens"))
    mass.crossJoin(broadcast(tot))
      .join(mixture.select(col("source"), col("mix_ppm")), Seq("source"))
      .withColumn("share_ppm",
        expr("(gated_tokens * 1000000) div greatest(1L, all_tokens)"))
      .withColumn("keep_ppm", least(lit(1000000L),
        expr("(mix_ppm * 1000000) div greatest(1L, share_ppm)")))
  }

  /** Stage 4b — the capped per-source hash sample under the rates. */
  def releasedDocs(gatedDf: DataFrame, rates: DataFrame): DataFrame =
    sampled(gatedDf
      .join(broadcast(rates.select(col("source"), col("keep_ppm"))), Seq("source")))

  /** The sample predicate of [[releasedDocs]], the single definition of
    * it, over gated rows that already carry their source's `keep_ppm`. */
  private[graft] def sampled(gatedDf: DataFrame): DataFrame =
    gatedDf.where(pmod(graft.functions.PortableHash.h60(col("doc_id").cast("string")),
      lit(1000000L)) < col("keep_ppm"))

  /** Stage 5 — chunk + pack the released clean text (empty-scrubbed
    * docs contribute no chunks). */
  def chunkPack(released: DataFrame, window: Int = 64, stride: Int = 48,
                packBudget: Long = 512L): DataFrame = {
    val chunks = Chunking.tokenWindows(
        released.select(col("doc_id"), col("clean_text").as("text")), window, stride)
      .where(col("n_chunk_tokens") > 0)
      .withColumn("k",
        when(col("chunk_id") >= 1024, expr(
          "raise_error('chunk_id >= 1024 overflows the doc_id*1024 pack order key')")
          .cast("long"))
          .otherwise(col("doc_id") * 1024 + col("chunk_id")))
    PrefixSum.packByBudget(chunks, "k", "n_chunk_tokens", packBudget)
  }

  /** RELEASE-TO-RELEASE DIFF — continuous-curation observability: what
    * did the arrival of a batch change about release COMPOSITION? Two
    * decision layers (gate → mixture → sample) run over the same
    * scrubbed survivor corpus — `prev` restricted to `!isNew` docs,
    * `cur` over everything — and the per-source diff reports released
    * membership churn (docs ADDED, and docs the batch pushed OUT: a
    * rising per-source threshold or a falling keep-rate de-releases
    * previously-released docs) plus the threshold/keep-rate shifts
    * that caused it.
    *
    * Semantics: a DECISION-layer diff under the CURRENT corpus state —
    * clusters, scrub and quality are today's artifacts for both sides,
    * so the diff isolates what the decision stages did, not what the
    * artifacts were last week (the historical card itself is what
    * [[graft.streaming.StreamRelease]] lands per batch; diffing two
    * landed cards needs no operator). Scale: ONE scrub pass (the
    * q140:scrub stage), then source-cardinality arithmetic and one
    * id-keyed full-outer join of the two released sets. */
  def releaseDiff(docs: DataFrame, grams: DataFrame, clusters: DataFrame,
                  quality: DataFrame, mixture: DataFrame,
                  isNew: org.apache.spark.sql.Column,
                  minTokens: Int = 8): DataFrame =
    releaseDiffFromSurvivors(survivors(docs, grams, clusters, quality, minTokens),
      docs.select(col("source")).distinct(), mixture, isNew)

  /** [[releaseDiff]] over an ALREADY-SCRUBBED survivor table — the
    * materialized-artifact path (warehouse `release_survivors`): the
    * diff is then pure decision-layer arithmetic, no corpus scan.
    * `sourceDim` = the distinct source dim of the RAW corpus (the
    * card-completeness rule: a source whose docs all fell to the
    * keeper filter still appears, zeroed). Same eager-fill API note as
    * [[releaseCardFromSurvivors]]. */
  def releaseDiffFromSurvivors(survIn: DataFrame, sourceDim: DataFrame,
                               mixture: DataFrame,
                               isNew: org.apache.spark.sql.Column): DataFrame = {
    val surv = survIn.leased
    surv.count() // eager fill — both decision layers read it (q32 rule)
    // every decide() output is consumed TWICE downstream (churn + its
    // stats/assembly join) and Spark recomputes each DataFrame
    // reference — unleased, the whole threshold→gate→rate→sample tree
    // re-executed per consumer (~12 s of re-run stages at sf0.1 for
    // zero new information); leased, each fills once
    def decide(s: DataFrame): (DataFrame, DataFrame) = {
      // one leased bounded decision table per layer (r15): thresholds,
      // rates and the released set all derive from it — the pre-r15
      // shape leased four frames and re-ran the aggregate→join-back
      // chain per layer (see decisionTable's scaladoc). r16: the rates
      // frame carries the dec columns (left-join rewrite), so it is the
      // layer's single decision output — threshold and keep rate both
      // read from it downstream.
      val dec = graft.Graft.lease(decisionTable(s))
      // leased: rates carries the mixture subtree (a corpus scan) and
      // is probed by the released filter AND the assembly join
      val rates = graft.Graft.lease(ratesFromDecision(dec, mixture))
      val g = gatedBy(s, dec.select(col("source"), col("threshold")))
      (rates, graft.Graft.lease(releasedDocs(g, rates)
        .select(col("doc_id"), col("source"), col("kept_tokens"))))
    }
    val (ratesP, relP) = decide(surv.where(!isNew))
    val (ratesC, relC) = decide(surv)
    val churn = relC.select(col("doc_id"), col("source"), lit(1L).as("in_cur"))
      .join(relP.select(col("doc_id"), lit(1L).as("in_prev")), Seq("doc_id"), "full_outer")
      // source rides the cur side; a prev-only doc re-reads it from surv
      .join(surv.select(col("doc_id"), col("source").as("s2")), Seq("doc_id"))
      .select(coalesce(col("source"), col("s2")).as("source"),
        col("in_cur"), col("in_prev"))
      .groupBy(col("source"))
      .agg(count(when(col("in_cur").isNotNull && col("in_prev").isNull, 1)).as("n_added"),
        count(when(col("in_prev").isNotNull && col("in_cur").isNull, 1)).as("n_removed"))
    def relStats(rel: DataFrame, suffix: String): DataFrame =
      rel.groupBy(col("source"))
        .agg(count(lit(1)).as(s"n_released_$suffix"),
          sum(col("kept_tokens")).as(s"released_tokens_$suffix"))
    // diff assembly (r16): each layer's threshold AND keep rate ride
    // the one leased rates frame (it carries the dec columns since the
    // left-join rewrite), folding the pre-r16 7-join cascade to 5 LEFT
    // joins of bounded frames. The card-completeness rule is unchanged:
    // a source absent from one release still appears, zeroed.
    def decCols(r: DataFrame, suffix: String): DataFrame =
      r.select(col("source"), col("threshold").as(s"threshold_$suffix"),
        col("keep_ppm").as(s"keep_ppm_$suffix"))
    sourceDim
      .join(relStats(relP, "prev"), Seq("source"), "left")
      .join(relStats(relC, "cur"), Seq("source"), "left")
      .join(churn, Seq("source"), "left")
      .join(decCols(ratesP, "prev"), Seq("source"), "left")
      .join(decCols(ratesC, "cur"), Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_released_prev"), lit(0L)).as("n_released_prev"),
        coalesce(col("n_released_cur"), lit(0L)).as("n_released_cur"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("released_tokens_prev"), lit(0L)).as("released_tokens_prev"),
        coalesce(col("released_tokens_cur"), lit(0L)).as("released_tokens_cur"),
        coalesce(col("threshold_prev"), lit(0L)).as("threshold_prev"),
        coalesce(col("threshold_cur"), lit(0L)).as("threshold_cur"),
        coalesce(col("keep_ppm_prev"), lit(0L)).as("keep_ppm_prev"),
        coalesce(col("keep_ppm_cur"), lit(0L)).as("keep_ppm_cur"))
      .orderBy("source")
  }

  /** The released-dataset card. Inputs are corpus state: `docs`
    * (doc_id, source, text), `grams` = the gram-occurrence artifact at
    * `minTokens` resolution, `clusters` = near-dup closure, `quality` =
    * composite doc quality, `mixture` = (source, mix_ppm) targets.
    * Composes the named stage builders above — the per-stage BenchGuard
    * pins time exactly these, so a budget trip names the stage. */
  def releaseCard(docs: DataFrame, grams: DataFrame, clusters: DataFrame,
                  quality: DataFrame, mixture: DataFrame,
                  minTokens: Int = 8, window: Int = 64, stride: Int = 48,
                  packBudget: Long = 512L): DataFrame =
    releaseCardFromSurvivors(
      survivors(docs, grams, clusters, quality, minTokens),
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs_raw")),
      mixture, window, stride, packBudget)

  /** Decision stages of the card (gate → mixture → sample → pack →
    * assembly) over an ALREADY-SCRUBBED survivor table — shared by
    * [[releaseCard]] and the continuous twin
    * ([[graft.streaming.StreamRelease]]), which maintains the scrubbed
    * corpus incrementally and re-derives only these decisions per
    * batch. `surv` columns: doc_id, source, quality, n_tokens,
    * n_dup_tokens, kept_tokens, clean_text. `raw` = per-source
    * (source, n_docs_raw) over the RAW corpus.
    *
    * '''API note — this is an ACTION, not a lazy transformation''':
    * the survivor cache is eager-filled (`surv.count()` below) before
    * the four consuming subtrees run, because concurrent lazy fill of
    * a shared cached plan measured 4–15× slower when the race bit
    * (the q32 lesson). Callers composing the release chain lazily
    * should use the stage builders ([[survivors]]/[[gated]]/
    * [[mixtureRates]]/[[releasedDocs]]/[[chunkPack]]) directly. */
  def releaseCardFromSurvivors(survIn: DataFrame, raw: DataFrame,
                               mixture: DataFrame, window: Int = 64,
                               stride: Int = 48,
                               packBudget: Long = 512L): DataFrame = {
    val surv = survIn
      .leased // probed by the threshold agg, the gate, and the stats
    // eager fill (the q32 discipline): four subtrees of the final plan
    // read surv inside one action; filling the cache up front removes
    // the lazy-fill race those concurrent stage futures CAN hit
    // (measured neutral here, but the failure mode is load-dependent
    // and cost a measured 4-15× on q32 when it bit)
    surv.count()
    // the bounded per-source decision table, leased: thr, rates, the
    // survivor counts and the assembly all read it (r15 — one windowed
    // light pass replaces the per-layer aggregate→join-back chains)
    val dec = graft.Graft.lease(decisionTable(surv))
    val thr = dec.select(col("source"), col("threshold"))
    val gatedDf = surv
      .join(thr, Seq("source"))
      .where(col("quality") >= col("threshold"))
    // leased: probed by the released filter AND the assembly pivot, and
    // the mixture side is a corpus-scan subtree (pre-r15 it re-ran per
    // consumer)
    val rates = graft.Graft.lease(ratesFromDecision(dec, mixture))
    val released = releasedDocs(gatedDf, rates)
      .leased // probed by the chunk-pass id join and the stats
    val packed = chunkPack(released, window, stride, packBudget)
    val packStats = packed
      .join(released.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("pack_id")).as("n_packs_touched"))
    val relStats = released.groupBy(col("source"))
      .agg(count(lit(1)).as("n_released"),
        sum(col("n_tokens")).as("pre_scrub_tokens"),
        sum(col("kept_tokens")).as("released_tokens"),
        sum(col("quality")).as("sq"))
      .select(col("source"), col("n_released"), col("released_tokens"),
        expr("((pre_scrub_tokens - released_tokens) * 1000000) div " +
          "greatest(1L, pre_scrub_tokens)").as("scrub_removed_ppm"),
        expr("sq div n_released").as("avg_quality_released"))
    // card assembly (r16): every decision scalar rides the ONE leased
    // rates frame (it carries the dec columns since the left-join
    // rewrite), so the pre-r16 raw ⟕ survStats ⟕ thr ⟕ rates ⟕
    // relStats ⟕ packStats cascade is now 3 LEFT joins of bounded
    // frames. (A union+pivot single-exchange assembly was measured and
    // REVERTED: fusing every branch into one stage built a plan/codegen
    // unit 4× the size, whose per-task setup cost more than the
    // broadcast builds it removed — see OPTIMIZATION_r16.md.) The
    // zeroed-columns rule is unchanged: a source whose docs are all
    // removed by a stage (or that is missing from the mixture table)
    // still appears with its n_docs_raw and zeroed stage columns —
    // n_gated is surfaced only when the mixture knows the source,
    // exactly the rows the pre-r16 inner-join rates dropped.
    val decision = rates.select(col("source"),
      col("n_rows").as("n_survivors"), col("threshold"),
      when(col("mix_ppm").isNotNull, col("n_gated")).as("n_gated"),
      col("share_ppm"), col("mix_ppm"), col("keep_ppm"))
    raw
      .join(decision, Seq("source"), "left")
      .join(relStats, Seq("source"), "left")
      .join(packStats, Seq("source"), "left")
      .select(col("source"), col("n_docs_raw"),
        coalesce(col("n_survivors"), lit(0L)).as("n_survivors"),
        coalesce(col("threshold"), lit(0L)).as("threshold"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("share_ppm"), lit(0L)).as("share_ppm"),
        coalesce(col("mix_ppm"), lit(0L)).as("mix_ppm"),
        coalesce(col("keep_ppm"), lit(0L)).as("keep_ppm"),
        coalesce(col("n_released"), lit(0L)).as("n_released"),
        coalesce(col("released_tokens"), lit(0L)).as("released_tokens"),
        coalesce(col("scrub_removed_ppm"), lit(0L)).as("scrub_removed_ppm"),
        coalesce(col("avg_quality_released"), lit(0L)).as("avg_quality_released"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_packs_touched"), lit(0L)).as("n_packs_touched"))
      .orderBy("source")
  }
}

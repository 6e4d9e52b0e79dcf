package graft

import graft.Graft.LeaseOps

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dims.DimDates
import graft.media.Multimodal
import graft.metrics.Metrics
import graft.text.{Curation, TextAnalysis, TextDedup}
import graft.vector.Similarity

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB-runnable twin in [[oracleSql]]
  * with IDENTICAL column names and ORDER BY keys. Conventions that keep the
  * two engines hash-identical (see SURVEY.md §7.4):
  *  - timestamps are emitted as formatted strings (`yyyy-MM-dd HH:mm:ss.SSSSSS`
  *    vs strftime `%f`) — avoids tz-annotation mismatches in parquet;
  *  - money aggregations run in exact integer cents / DECIMAL, cast to DOUBLE
  *    at the very end — immune to FP summation order;
  *  - every hash is md5-derived (graft.functions.PortableHash);
  *  - every result ends in a total ORDER BY over a unique key set.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Metrics.ordersPerQuarter(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    * Numbering follows SURVEY §2.8 for Q2–Q7; SURVEY's Q1 (current orders
    * by status) is registered as q08 because q01 was already taken by the
    * date dimension — the scaladoc of each Metrics method carries the
    * authoritative reference citation. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_dim_dates" -> ((s, _) => DimDates.build(s).orderBy("datum")),
    "q02_orders_per_quarter" -> ((s, d) => Metrics.ordersPerQuarter(s, d)),
    "q03_orders_quarter_category" -> ((s, d) => Metrics.ordersQuarterCategory(s, d)),
    "q04_retained_not_completed" -> ((s, d) => Metrics.retainedNotCompleted(s, d)),
    "q05_created_not_completed_month" -> ((s, d) => Metrics.createdNotCompleted(s, d, "month")),
    "q05_created_not_completed_day" -> ((s, d) => Metrics.createdNotCompleted(s, d, "day")),
    "q06_stock_category_day" -> ((s, d) =>
      Metrics.stockByCategory(s, d, "2001-10-01", "2001-10-31", monthEnd = false)),
    "q07_stock_category_month_end" -> ((s, d) =>
      Metrics.stockByCategory(s, d, "2000-01-01", "2001-10-31", monthEnd = true)),
    "q08_current_orders_by_status" -> ((s, d) => Metrics.currentOrdersByStatus(s, d)),
    "q09_dim_orders_scd2" -> ((s, d) => Metrics.dimOrdersScd2(s, d)),
    "q10_dim_products_scd2" -> ((s, d) => Metrics.dimProductsScd2(s, d)),
    "q11_fact_orders_created" -> ((s, d) => Metrics.factOrdersCreated(s, d)),
    "q12_dedup_exact" -> ((s, d) => TextDedup.exact(docs(s, d)).orderBy("doc_id")),
    "q13_dedup_normalized" -> ((s, d) => TextDedup.normalized(docs(s, d)).orderBy("doc_id")),
    // r16: the operator demo keeps its candidate/verify stages live but
    // reads the exact-group and capped band-signature tables as CORPUS
    // STATE (exactly what the warehouse pair build itself consumes —
    // the `neardup_pairs` row's shape) instead of re-deriving group md5
    // + shingle→minhash→band window per query. Pair decisions identical;
    // the oracle replays the full chain from documents.
    "q14_dedup_minhash_lsh" -> ((s, d) => {
      val g = graft.warehouse.Warehouse.read(s, d, "exact_reps")
      TextDedup.minhashLshPairsFromBands(
          graft.warehouse.Warehouse.read(s, d, "band_signatures"),
          graft.Graft.lease(TextDedup.shingled(TextDedup.repDocs(docs(s, d), g))))
        .unionByName(TextDedup.exactStarEdges(g))
        .orderBy("doc_a", "doc_b")
    }),
    "q15_simhash_fingerprints" -> ((s, d) => TextDedup.simhashFingerprints(docs(s, d)).orderBy("doc_id")),
    "q16_simhash_neardup" -> ((s, d) => TextDedup.simhashNearDup(docs(s, d))),
    // Exact truth / LSH search are materialized corpus state (built
    // once beside the IVF index — Warehouse v8); the demos read and
    // re-order, the oracle replays the full derivation so the hash
    // gate still checks the artifact end-to-end.
    "q17_knn_cosine" -> ((s, d) =>
      graft.warehouse.Warehouse.read(s, d, "knn_exact").orderBy("qid", "rank")),
    "q18_ann_lsh" -> ((s, d) =>
      graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk").orderBy("qid", "rank")),
    "q19_media_stats" -> ((s, d) => Multimodal.mediaStats(docs(s, d))),
    "q20_text_stats" -> ((s, d) => TextAnalysis.stats(docs(s, d)).orderBy("doc_id")),
    "q21_lang_guess" -> ((s, d) => TextAnalysis.langGuess(docs(s, d)).orderBy("doc_id")),
    "q22_doc_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id")),
    "q23_sql_current_by_status" -> ((s, d) => Metrics.sqlCurrentOrdersByStatus(s, d)),
    // Cell-blocked (trained IVF, landed ivf_assign): the in-block
    // quadratic is bounded by the ~512-vector cell width — corpus-
    // independent by construction, unlike a fixed-cardinality label
    // block whose width grows with the corpus (20M pairs at sf1).
    "q24_embedding_neardup" -> ((s, d) => Similarity.cosineNearDupInCells(
      Tables.embeddings(s, d), graft.warehouse.Warehouse.read(s, d, "ivf_assign"))),
    "q25_ann_ivf" -> ((s, d) => Similarity.annIvf(Tables.embeddings(s, d))),
    "q26_dim_orders_two_batches" -> ((s, d) => Metrics.dimOrdersTwoBatches(s, d)),
    // r16: leased before the global sort — rangepartitioning SAMPLES the
    // child by executing it, so an expensive map-only upstream with no
    // shuffle to reuse runs twice (q27's profile: twin 7.3 s + 2.5 s-run
    // winnow stages). Cached, the sampler and the sort both read the
    // fingerprint rows, and winnow_fps runs once.
    "q27_winnow_fingerprints" -> ((s, d) =>
      graft.Graft.lease(TextAnalysis.winnow(docs(s, d))).orderBy("doc_id")),
    // r16: the near-dup stage reads the materialized duplicate-graph
    // edge list (neardup_pairs — what q35/q105/q107 already do) instead
    // of re-running exact-group → shingle → minhash → band → verify
    // per query; decisions identical (the artifact IS that derivation),
    // oracle still replays the whole chain from documents.
    "q28_curation_pipeline" -> ((s, d) => Curation.curateFromPairs(docs(s, d),
      graft.warehouse.Warehouse.read(s, d, "neardup_pairs"))),
    // Training (k-means) is not SQL-expressible and stays spec-gated
    // (recall floor in SimilaritySpec); the SEARCH stage IS, so the
    // oracle replays it over the materialized CODEBOOK parquet (the
    // verify dump exposes the warehouse dir; see [[oracleWhDir]]),
    // re-deriving the cell ranking independently — while the engine
    // reads the materialized ivf_assign index. The hash gate therefore
    // checks the warehouse assignment against DuckDB's recomputation
    // from the codebook: a stale or mis-ranked index table fails the
    // compare. Per-query cost = two joins on a three-int parquet, not
    // ncells literal-centroid dots per vector (the r6 cold-path cost).
    "q29_ann_ivf_trained" -> ((s, d) =>
      graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk").orderBy("qid", "rank")),
    // r16: same lease-before-sort rule as q27 (regex-count map pass)
    "q30_lang_cjk" -> ((s, d) =>
      graft.Graft.lease(TextAnalysis.langGuessCjk(docs(s, d))).orderBy("doc_id")),
    // IVF-PQ with exact re-rank (FAISS recipe): codes are the only
    // per-vector state in the candidate shuffle. Codebook TRAINING stays
    // spec-gated (exhaustive-params equality vs knnBruteForce, recall
    // floor at defaults). The engine reads the MATERIALIZED index state
    // (pq_codes + ivf_assign — encoded/ranked once per corpus build);
    // the oracle re-derives codes and assignment from the codebook
    // parquet independently, so the hash gate verifies the materialized
    // index against a from-scratch DuckDB replay. Per-query work is ADC
    // lookup + shortlist + re-rank — no per-query corpus re-encode
    // (q44's r6 regression was exactly that encode codegen).
    "q44_ann_ivfpq" -> ((s, d) => graft.vector.ProductQuant.annIvfPq(
      Tables.embeddings(s, d),
      graft.warehouse.Warehouse.read(s, d, "ivf_codebook"),
      graft.warehouse.Warehouse.pqCodebooks(s, d), dim = 64,
      codesOpt = Some(graft.warehouse.Warehouse.read(s, d, "pq_codes")),
      assignOpt = Some(graft.warehouse.Warehouse.read(s, d, "ivf_assign")))),
    // Skew-salted join, oracle-gated through an aggregate: the salt must
    // neither drop nor duplicate rows, or the per-brand sums shift.
    // Exact n-gram Jaccard self-join (prefix filtering): deterministic
    // perfect recall — the oracle is plain brute-force jaccard, so a
    // hash-match proves the prefix filter dropped nothing.
    // r16 (r15 verdict task 6): routed over the salted multi-pass
    // operator with the pass count AUTO-sized — below one slice's worth
    // of docs (every bench/oracle scale) the auto sizer picks P=1 and
    // the plan is EXACTLY the old single-pass candidate/verify chain;
    // on a dense corpus (sf10) the identical decomposition that carries
    // q166 bounds the live candidate shuffle instead of dying on disk.
    // Any pass count yields the identical pair set (SaltedJaccardSpec).
    "q32_ngram_jaccard" -> ((s, d) => TextDedup.ngramJaccardPairsSalted(
      graft.warehouse.Warehouse.read(s, d, "doc_hashsets"),
      saltedLandingDir(s, "q32", d))),
    // q32's BOUNDED at-scale form (r14 verdict task 2): the identical
    // PPJoin candidate/verify chain run as `passes` disjoint
    // tok-hash slices, each its own action, so the live candidate
    // shuffle is ~1/passes of the single-pass footprint — the knob that
    // lets exact all-pairs Jaccard complete when one stage's candidate
    // mass exceeds available (local or fleet) shuffle disk. Same oracle
    // as q32: the hash gate proves the decomposition drops nothing.
    "q166_jaccard_salted" -> ((s, d) => TextDedup.ngramJaccardPairsSalted(
      graft.warehouse.Warehouse.read(s, d, "doc_hashsets"),
      saltedLandingDir(s, "q166", d))),
    // q40's BOUNDED at-scale form (the containment twin of q166): the
    // identical prefix/index candidate chain run as disjoint tok-hash
    // slices, each its own action — exact decontamination whose live
    // candidate shuffle is ~1/passes of the single-pass footprint. Same
    // oracle as q40: the hash gate proves the decomposition drops
    // nothing.
    "q167_containment_salted" -> ((s, d) => {
      val hs = graft.warehouse.Warehouse.read(s, d, "doc_hashsets")
      TextDedup.containmentPairsSalted(
        hs.where(col("doc_id") % 10 === 0),
        hs.where(col("doc_id") % 10 =!= 0),
        saltedLandingDir(s, "q167", d))
    }),
    // Near-dup cluster assignment: LSH pairs → connected components
    // (iterative min-label propagation) → one keeper per cluster. The
    // oracle is a recursive-CTE transitive closure, so the hash-match
    // proves the distributed fixpoint equals the exact closure.
    // Count-based bigram LM table: occurrence (not document) counts via
    // a map-only zip_with pairing, conditional probability emitted as
    // exact integer micros ((cnt·10⁶) div prefix) — no floats, so the
    // LM estimates hash-match the oracle. Top-50 by a total order.
    "q53_bigram_lm" -> ((s, d) => {
      val pairs = graft.Par.fanOut(docs(s, d))
        .select(expr("filter(split(text, ' '), w -> w != '')").as("ws"))
        .select(explode(expr(
          """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
            |         slice(ws, 2, greatest(size(ws) - 1, 0)),
            |         (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("z"))
        .select(col("z.w1").as("w1"), col("z.w2").as("w2"))
      val bc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      val pc = pairs.groupBy(col("w1")).agg(count(lit(1)).as("prefix_cnt"))
      bc.join(pc, Seq("w1"))
        .select(col("w1"), col("w2"), col("cnt"), col("prefix_cnt"),
          expr("(cnt * 1000000L) div prefix_cnt").as("p_micros"))
        .orderBy(col("cnt").desc, col("w1"), col("w2")).limit(50)
    }),
    // Ingest-volume anomaly monitor: daily event counts vs the exact
    // integer median (rank selection as q43) — a day is a spike when
    // cnt > 2×median, all-integer comparisons. The global window runs
    // over DAY-cardinality rows (tiny forever), not events.
    "q52_volume_spikes" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("cnt"), col("d"))
      val all = org.apache.spark.sql.expressions.Window.partitionBy()
      val med = daily
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(all))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("cnt"))).as("median_cnt"))
      daily.crossJoin(med)
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("cnt"), col("median_cnt"),
          (col("cnt") > col("median_cnt") * 2).cast("int").as("is_spike"))
        .orderBy("day")
    }),
    // KMV (k-minimum-values) distinct-count sketch per source — the
    // mergeable cardinality estimator for 100 TB rollups, made
    // ENGINE-REPRODUCIBLE: hashes are md5-derived, the estimate is
    // (k−1)·2⁶⁰ / h_k with identical double arithmetic on both sides,
    // so unlike HLL the oracle hash-matches the approximation itself.
    // Groups thinner than k report their exact distinct count.
    "q51_kmv_distinct" -> ((s, d) => {
      val k = 16
      val h = Tables.documents(s, d)
        .select(col("source"),
          graft.functions.PortableHash.h60(TextDedup.normText(col("text"))).as("h"))
        .where(col("h").isNotNull) // null text: engines order nulls differently
        .dropDuplicates("source", "h")
      // bounded k_min state (IncrementalAgg), not a per-source rank
      // window: ranking EVERY distinct hash to take the kth is a full
      // per-source sort — at billions of distinct hashes per source the
      // window is the scale-killer; the aggregate state is k longs.
      // Input is deduped, so cnt = exact distinct count and the
      // unfilled-sketch estimate (size(hs)) equals it.
      graft.operators.IncrementalAgg.estimate(
          graft.operators.IncrementalAgg.state(h, "source", "h", k), k)
        .select(col("source"), col("cnt").as("n_distinct_exact"), col("kmv_estimate"))
        .orderBy("source")
    }),
    // HyperLogLog distinct tokens per source — the register-sketch twin
    // of q51's KMV: per-key state is ≤64 registers (vs k hashes), merge
    // is register-wise max (associative — the same incremental-rollup
    // shape as q63), and the alpha·m²/Σ2^−M estimator runs entirely in
    // BIGINT (scale 2^40, alpha = 726/1024) so the estimate itself
    // hash-matches the oracle. Exact distinct rides along as the
    // out-of-family ground-truth probe (the q91 lesson).
    "q95_hll_distinct" -> ((s, d) => {
      val tok = graft.Par.fanOut(Tables.documents(s, d))
        .select(col("source"),
          explode(expr("filter(split(text, ' '), w -> w <> '')")).as("tok"))
      val h = tok.select(col("source"), graft.functions.PortableHash.h60(col("tok")).as("h"))
      val exact = tok.dropDuplicates("source", "tok")
        .groupBy(col("source")).agg(count(lit(1)).as("n_distinct_exact"))
      graft.operators.Hll.estimate(
          graft.operators.Hll.registers(h, "source", "h"), "source")
        .join(exact, Seq("source"))
        .select(col("source"), col("n_regs"), col("s_sum"),
          col("hll_estimate"), col("n_distinct_exact"))
        .orderBy("source")
    }),
    // Within-doc repetition profile (the Gopher rep-removal metrics
    // q47's word-frequency flag doesn't cover): duplicate-sentence and
    // duplicate word-5-gram fractions, in exact integer ppm. Entirely
    // MAP-ONLY — dup counts are array_distinct deltas per row, so the
    // operator adds zero shuffles at any corpus size.
    // Within-doc repetition REMOVAL (the scrub q100 only measures) —
    // the Gopher/C4 repetition-scrub stage beside the corpus-wide
    // segment dedup (q54). The corpus has no repeated sentences, so
    // the removal branch is additionally golden-spec'd on synthetic
    // docs (RepetitionScrubSpec); the oracle gate pins the md5 of the
    // reconstructed text byte-for-byte.
    "q121_repetition_scrub" -> ((s, d) =>
      TextAnalysis.scrubRepeatedSentences(docs(s, d)).orderBy("doc_id")),
    // TRUE cross-corpus repeated-substring removal (the ExactSubstr
    // stage q82's coverage metric only measures): delete every ≥8-token
    // span whose text occurs elsewhere in the corpus, first occurrence
    // survives verbatim. One gram-hash shuffle + per-doc HOF coverage
    // union — see [[graft.text.SegmentDedup.scrubExactSubstr]].
    "q122_substr_scrub" -> ((s, d) =>
      graft.text.SegmentDedup.scrubExactSubstrFromGrams(docs(s, d),
          graft.warehouse.Warehouse.read(s, d, "gram_occurrences"))
        .orderBy("doc_id")),
    // q122's INGESTION shape (the q76/q77 incremental family): scrub
    // the arriving batch (doc_id % 10 = 7) against the immutable
    // corpus — batch grams probe the corpus's materialized distinct
    // gram index, FRONTED by its materialized sketch bloom (map-side
    // might-contain prune before the semi-join shuffle; no false
    // negatives, so the scrub output is unchanged) + in-batch keeper;
    // corpus×corpus never re-pairs.
    "q123_substr_scrub_incr" -> ((s, d) => {
      val g = graft.warehouse.Warehouse.read(s, d, "gram_occurrences")
      graft.text.SegmentDedup.scrubAgainstIndexFromGrams(
          docs(s, d).where(pmod(col("doc_id"), lit(10)) === 7),
          g.where(pmod(col("doc_id"), lit(10)) === 7),
          graft.warehouse.Warehouse.read(s, d, "gram_index_base"),
          bloom = Some(graft.warehouse.Warehouse.gramBloomBase(s, d)))
        .orderBy("doc_id")
    }),
    // Which sources share verbatim ≥8-token spans — the exact-substring
    // provenance matrix beside q116's near-dup one (template/boilerplate
    // flow between sources, scored as shared/min-side containment ppm).
    "q124_source_substr_overlap" -> ((s, d) =>
      graft.text.SegmentDedup.sourceGramOverlapFromGrams(
          graft.warehouse.Warehouse.read(s, d, "gram_occurrences"),
          Tables.documents(s, d).select(col("doc_id"), col("source")))
        .orderBy("src_x", "src_y")),
    // Per-source quality percentile gate: keep each source's top
    // quartile by composite quality — thresholds are source-RELATIVE
    // (a global cutoff would empty weak sources and keep boilerplate
    // from strong ones; cf. per-source quotas q86). Exact threshold
    // selection runs on the (source, quality) DISTINCT-VALUE table —
    // the cumulative window scans value-compressed rows, never the
    // corpus (group-then-window, the exact-quantile-by-group shape).
    "q128_quality_percentile_gate" -> ((s, d) => {
      val pd = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .join(graft.warehouse.Warehouse.read(s, d, "doc_quality"), Seq("doc_id"))
      // r16: threshold/count/mass scalars from ONE windowed pass over
      // the distinct-quality table ([[graft.pipeline.Release
      // .decisionTable]] — bit-equal to the topFractionThresholds →
      // filtered-aggregate → join-back cascade it replaces, same shared
      // TopFraction constants; n_chars rides the kept_tokens slot)
      graft.pipeline.Release.decisionTable(
          pd.select(col("source"), col("quality"),
            col("n_chars").as("kept_tokens")))
        .select(col("source"), col("n_rows").as("n_docs"), col("threshold"),
          col("n_gated").as("n_kept"), col("gated_tokens").as("kept_chars"),
          expr("(n_gated * 1000000) div n_rows").as("kept_ppm"))
        .orderBy("source")
    }),
    // Per-source verbatim diversity: distinct vs total 8-token grams
    // (type-token ratio at ExactSubstr resolution) + the fraction of
    // gram occurrences that are WITHIN-source repeats beyond each
    // gram's first occurrence (c−1 per repeated gram — the first
    // occurrence is content, only re-occurrences are boilerplate) —
    // the self-boilerplate rate, the intra-source companion to q124's
    // cross-source matrix. Reads the gram artifact; two-level agg.
    "q129_source_gram_diversity" -> ((s, d) => {
      val per = graft.warehouse.Warehouse.read(s, d, "gram_occurrences")
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
      per.groupBy(col("source"))
        .agg(sum(col("c")).as("total_grams"),
          count(lit(1)).as("distinct_grams"),
          sum(col("c") - 1).as("dup_occurrences"))
        .select(col("source"), col("total_grams"), col("distinct_grams"),
          col("dup_occurrences"),
          expr("(distinct_grams * 1000000) div total_grams").as("diversity_ppm"),
          expr("(dup_occurrences * 1000000) div total_grams").as("boilerplate_ppm"))
        .orderBy("source")
    }),
    // The q71 skew audit pointed at the substring machinery's ONE
    // skew-exposed shuffle key: gram-hash occurrence counts from the
    // materialized gram table — top grams vs the median frequency, plus
    // the salt-bucket count the scrub's hot-key rule
    // (SegmentDedup.dupOccurrences) would assign each. The ops view of
    // "is boilerplate about to hot-spot the dup-marking join, and is
    // the salting engaged for it".
    "q139_gram_skew_audit" -> ((s, d) => {
      val freq = graft.warehouse.Warehouse.read(s, d, "gram_occurrences")
        .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      val dist = freq.groupBy(col("cnt")).agg(count(lit(1)).as("n_keys"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("cnt"))
      val med = dist
        .withColumn("cum", sum(col("n_keys")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .crossJoin(broadcast(freq.agg(count(lit(1)).as("n"))))
        .where(col("cum") * 2 >= col("n") + 1)
        .agg(min(col("cnt")).as("median_cnt"))
      val hotN = graft.text.SegmentDedup.HotGramOccurrences
      freq.crossJoin(broadcast(med))
        .select(col("h"), col("cnt"), col("median_cnt"),
          expr("(cnt * 1000000L) div median_cnt").as("skew_micros"),
          expr(s"CAST(CASE WHEN cnt > $hotN THEN least(64L, (cnt + ${hotN - 1}) div $hotN) " +
            "ELSE 1L END AS BIGINT)").as("salt_buckets"))
        .orderBy(col("cnt").desc, col("h")).limit(10)
    }),
    // The release capstone: scrub → near-dup keepers → per-source
    // quality gate → mixture realization → chunk/pack, emitting the
    // per-source data card OF THE RELEASED DATASET (q134 describes the
    // raw corpus). The scrubbed survivor pool is the materialized
    // release_survivors artifact (corpus state — the scrub's gram
    // shuffle is paid once per corpus build, not per release
    // analytic); the decision stages run here. The oracle still
    // replays the whole chain end-to-end from documents.
    "q140_release_card" -> ((s, d) =>
      graft.pipeline.Release.releaseCardFromSurvivors(
        graft.warehouse.Warehouse.read(s, d, "release_survivors"),
        Tables.documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs_raw")),
        domainMixture(s, d).select(col("source"), col("mix_ppm")))),
    // Release-to-release DIFF (continuous-curation observability): the
    // canonical holdout batch (doc_id%10 = 7) plays the newly-arrived
    // crawl; the diff reports per-source released-membership churn
    // (adds AND the de-releases caused by threshold/keep-rate shifts)
    // under frozen corpus state — see Release.releaseDiff.
    "q147_release_diff" -> ((s, d) =>
      graft.pipeline.Release.releaseDiffFromSurvivors(
        graft.warehouse.Warehouse.read(s, d, "release_survivors"),
        Tables.documents(s, d).select(col("source")).distinct(),
        domainMixture(s, d).select(col("source"), col("mix_ppm")),
        isNew = pmod(col("doc_id"), lit(10)) === 7)),
    // Right-to-be-forgotten ACROSS THE INDEX ARTIFACTS — q79 deletes
    // warehouse rows; this erases a victim doc set from the DERIVED
    // state a pipeline actually serves from (postings, doc lengths,
    // gram occurrences, near-dup pairs) and REPAIRS the state that
    // can't be row-deleted: the distinct gram index keeps a hash only
    // while a surviving occurrence carries it, and clusters whose
    // min-label WAS a victim are relabeled to their minimum surviving
    // member. Every row re-probes its erased output (n_leaked is
    // measured, never assumed); n_repaired counts relabeled members.
    "q141_index_erasure" -> ((s, d) => {
      val wh = graft.warehouse.Warehouse
      val victims = Tables.documents(s, d).select(col("doc_id").as("key"))
        .where(pmod(col("doc_id"), lit(37)) === 5)
      // release_survivors carries the victims' SCRUBBED TEXT — the
      // artifact where a missed delete is retained personal data, not
      // just index drift (the StreamErasure finding)
      val base = graft.operators.Erasure.audit(Seq("bm25_doclens", "bm25_postings",
          "doc_hashsets", "gram_occurrences", "release_survivors", "token_positions")
          .map(n => (n, wh.read(s, d, n), "doc_id")), victims)
        .withColumn("n_repaired", lit(0L))
      val pairsRow = graft.operators.Erasure.auditAny("neardup_pairs",
          wh.read(s, d, "neardup_pairs"), Seq("doc_a", "doc_b"), victims)
        .withColumn("n_repaired", lit(0L))
      // index repair stats in ONE pass over the gram table: per-hash
      // (total, victim-carried) counts decide survival — a hash dies
      // iff its every occurrence was a victim's; leaked is the
      // measured count of survivors with no surviving occurrence
      val go = wh.read(s, d, "gram_occurrences")
      // leased (r15): perH is probed three times below (the 3-count
      // aggregate, the victim-only leak set, and the repair's index
      // input) — unleased, each probe re-ran the gram-wide groupBy
      val perH = graft.Graft.lease(go
        .join(broadcast(victims.select(col("key").as("doc_id"))
          .withColumn("__v", lit(1))), Seq("doc_id"), "left")
        .groupBy(col("h"))
        .agg(count(lit(1)).as("n_total"), count(col("__v")).as("n_victim")))
      // n_leaked is MEASURED from the repair operator's actual output:
      // run [[Erasure.repairDistinctIndex]] over the erased base and
      // probe it against the victim-only hash set derived by the
      // INDEPENDENT grouped pass above — a broken repair (wrong key,
      // stale base) shows as n_leaked > 0 instead of being defined away.
      // The index input is perH's key set (== the distinct gram index,
      // same rows as the pre-r15 go.select(h).dropDuplicates — that
      // spelling paid a second gram-wide dedup exchange for the
      // identical set); the repair's own erased-base dedup still runs.
      val repaired = graft.operators.Erasure.repairDistinctIndex(
        perH.select(col("h")), "h",
        graft.operators.Erasure.erase(go, "doc_id", victims))
      val idxRow = perH.agg(
          count(lit(1)).as("n_before"),
          count(when(col("n_total") === col("n_victim"), 1)).as("n_deleted"),
          count(when(col("n_total") > col("n_victim"), 1)).as("n_after"))
        .crossJoin(repaired.join(
            perH.where(col("n_total") === col("n_victim")).select(col("h")),
            Seq("h"), "left_semi")
          .agg(count(lit(1)).as("n_leaked")))
        .select(lit("gram_index").as("table_name"), col("n_before"),
          col("n_deleted"), col("n_after"), col("n_leaked"),
          lit(0L).as("n_repaired"))
      val cl = wh.read(s, d, "neardup_clusters")
      // leased (r15): three of the four crossJoined counts below probe
      // rel — unleased, the erase+relabel subtree re-executed per probe
      val rel = graft.Graft.lease(
        graft.operators.Erasure.relabelClusters(cl, victims))
      val clRow = cl.agg(count(lit(1)).as("n_before"))
        .crossJoin(rel.agg(count(lit(1)).as("n_after")))
        .crossJoin(rel
          .join(victims.select(col("key")), rel("doc_id") === col("key") ||
            rel("cluster_id") === col("key"), "left_semi")
          .agg(count(lit(1)).as("n_leaked")))
        .crossJoin(rel.join(cl.withColumnRenamed("cluster_id", "__old"), Seq("doc_id"))
          .agg(count(when(col("cluster_id") =!= col("__old"), 1)).as("n_repaired")))
        .select(lit("neardup_clusters").as("table_name"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_deleted"),
          col("n_after"), col("n_leaked"), col("n_repaired"))
      base.unionByName(pairsRow).unionByName(idxRow).unionByName(clRow)
        .orderBy("table_name")
    }),
    // Contrastive-training triplet export: anchor = every query, the
    // exact top-1 neighbor as positive, the best-ranked q118 hard
    // negative (fused-ANN hit that is NOT a true neighbor) as negative
    // — the (a, p, n) dataset an embedding fine-tune consumes.
    // Bounded joins of corpus state + the k·queries rerank; anchors
    // with no hard negative drop (inner join) — their retrieval was
    // already perfect.
    "q130_triplet_export" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = graft.warehouse.Warehouse.read(s, d, "knn_exact")
      val pos = exact.where(col("rank") === 1)
        .select(col("qid"), col("nid").as("pos_id"),
          expr("CAST(floor(cosine * 1000000.0) AS BIGINT)").as("pos_cos_micro"))
      val negs = Similarity.rerankExact(emb,
        Similarity.rrfFuse(Seq(
            graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk"),
            graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk")))
          .join(exact.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti"))
      val bestNeg = negs.groupBy(col("qid"))
        .agg(min(struct(col("retr_rank"), col("nid"), col("cos_micro"))).as("b"))
        .select(col("qid"), col("b.nid").as("neg_id"),
          col("b.cos_micro").as("neg_cos_micro"))
      pos.join(bestNeg, Seq("qid"))
        .select(col("qid").as("anchor_id"), col("pos_id"), col("pos_cos_micro"),
          col("neg_id"), col("neg_cos_micro"))
        .orderBy("anchor_id")
    }),
    // Dedup burn-down across ingestion batches (doc_id % 10 as the
    // pseudo-day, the q76 convention): per batch, how many docs (and
    // how much char mass) already near-duplicate an EARLIER batch —
    // the curve an ingestion pipeline watches to see dedup pressure
    // build. One read of the pair artifact, no re-pairing.
    "q131_dedup_burndown" -> ((s, d) => {
      val pairs = graft.warehouse.Warehouse.read(s, d, "neardup_pairs")
        .select(col("doc_a"), col("doc_b"))
      val dir = pairs.select(col("doc_a").as("x"), col("doc_b").as("y"))
        .unionByName(pairs.select(col("doc_b").as("x"), col("doc_a").as("y")))
      val dupPrior = dir
        .where(pmod(col("y"), lit(10)) < pmod(col("x"), lit(10)))
        .select(col("x").as("doc_id")).distinct()
        .withColumn("dup_prior", lit(1L))
      Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
          pmod(col("doc_id"), lit(10)).as("batch"))
        .join(dupPrior, Seq("doc_id"), "left")
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dup_prior"), lit(0L))).as("n_dup_prior"),
          sum(when(col("dup_prior").isNotNull, col("n_chars")).otherwise(0L))
            .as("dup_chars"))
        .select(col("batch"), col("n_docs"), col("n_dup_prior"), col("dup_chars"),
          expr("(n_dup_prior * 1000000) div n_docs").as("dup_ppm"))
        .orderBy("batch")
    }),
    // Mixture REALIZATION: q127's learned mix targets turned into
    // per-source deterministic hash keep-rates (downsample
    // overrepresented sources toward their target char share; a rate
    // never exceeds 1 — no upsampling) and applied, reporting achieved
    // vs target. The q83 thinning rule driven by the DoReMi weights:
    // design (q127) → realization (this) → quotas (q86) is the
    // mixture-construction chain. Source-cardinality arithmetic + one
    // map-side filtered rollup.
    "q132_mixture_realize" -> ((s, d) => {
      val dd = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val mix = domainMixture(s, d).select(col("source"), col("mix_ppm"))
      val chars = dd.groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("src_chars"))
      val ctot = chars.agg(sum(col("src_chars")).as("all_chars"))
      val rates = chars.crossJoin(broadcast(ctot)).join(mix, Seq("source"))
        .withColumn("share_ppm", expr("(src_chars * 1000000) div all_chars"))
        .withColumn("keep_ppm", least(lit(1000000L),
          expr("(mix_ppm * 1000000) div greatest(1L, share_ppm)")))
      val kept = dd.join(broadcast(rates.select(col("source"), col("keep_ppm"))),
          Seq("source"))
        .where(pmod(graft.functions.PortableHash.h60(col("doc_id").cast("string")),
          lit(1000000L)) < col("keep_ppm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("share_ppm"), col("mix_ppm"),
          col("keep_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
        .orderBy("source")
    }),
    // Token-level budget accounting: per-source BPE token mass under
    // the warehouse-trained merges — the token-denominated companion
    // to q132's char shares (budgets are spent in tokens, and
    // tokens-per-char varies by source; q92 showed it varies by
    // language). One encode pass + a source rollup + a 1-row broadcast.
    "q138_token_budget" -> ((s, d) => {
      val per = graft.text.Bpe.encode(docs(s, d),
          graft.warehouse.Warehouse.bpeMerges(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"), col("source"),
          col("n_chars")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_pieces")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
      val tot = per.agg(sum(col("n_tokens")).as("tok_all"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
          expr("(n_tokens * 1000000) div tok_all").as("token_share_ppm"),
          expr("(n_tokens * 1000000) div greatest(1L, n_chars)")
            .as("tokens_per_char_micro"))
        .orderBy("source")
    }),
    // q125's INGESTION shape: mine the arriving batch (vec_id % 10 = 7)
    // against the immutable corpus only — bipartite in-cell candidates,
    // per-side neighborhoods over the candidate set, mutual best.
    // Corpus×corpus never re-pairs (the q76/q77 discipline for the
    // bitext miner).
    "q137_margin_mining_incr" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.marginMiningBetween(
        e.where(pmod(col("vec_id"), lit(10)) === 7),
        e.where(pmod(col("vec_id"), lit(10)) =!= 7),
        graft.warehouse.Warehouse.read(s, d, "ivf_assign"),
        graft.warehouse.Warehouse.read(s, d, "ivf_codebook"),
        corpusDenoms = Some(graft.warehouse.Warehouse.read(s, d, "margin_denoms")),
        supercells = Some(graft.warehouse.Warehouse.read(s, d, "ivf_supercells")),
        superMap = Some(graft.warehouse.Warehouse.read(s, d, "ivf_super_map")))
    }),
    // INDEX-DRIFT monitor — the retrain trigger every frozen-codebook
    // deployment needs: per-cell occupancy of the landed corpus
    // assignment vs a freshly-assigned arriving batch (same codebook,
    // so divergence IS data drift, not index noise), in integer ppm
    // with the absolute gap. A drifting mixture shows up as cells
    // gaining/losing share; ops re-trains when max drift crosses its
    // threshold. Cells enumerate from the codebook (small dim) so
    // zero-occupancy cells report too.
    "q143_index_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val ca = graft.warehouse.Warehouse.read(s, d, "ivf_assign")
        .where(col("rn") === 1)
        .where(pmod(col("vec_id"), lit(10)) =!= 7)
        .groupBy(col("cell")).agg(count(lit(1)).as("corpus_n"))
      val ba = Similarity.cellRankAuto(
          e.where(pmod(col("vec_id"), lit(10)) === 7),
          graft.warehouse.Warehouse.read(s, d, "ivf_codebook"), probes = 1,
          supercells = Some(graft.warehouse.Warehouse.read(s, d, "ivf_supercells")),
          superMap = Some(graft.warehouse.Warehouse.read(s, d, "ivf_super_map")))
        .where(col("rn") === 1)
        .groupBy(col("cell")).agg(count(lit(1)).as("batch_n"))
      val cells = graft.warehouse.Warehouse.read(s, d, "ivf_codebook")
        .select(col("cid").as("cell"))
      val joined = cells
        .join(ca, Seq("cell"), "left").join(ba, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("corpus_n"), lit(0L)).as("corpus_n"),
          coalesce(col("batch_n"), lit(0L)).as("batch_n"))
      val tot = joined.agg(sum(col("corpus_n")).as("ct"), sum(col("batch_n")).as("bt"))
      joined.crossJoin(broadcast(tot))
        .select(col("cell"), col("corpus_n"), col("batch_n"),
          expr("(corpus_n * 1000000) div greatest(1L, ct)").as("corpus_ppm"),
          expr("(batch_n * 1000000) div greatest(1L, bt)").as("batch_ppm"),
          expr("abs((corpus_n * 1000000) div greatest(1L, ct) - " +
            "(batch_n * 1000000) div greatest(1L, bt))").as("drift_ppm"))
        .orderBy("cell")
    }),
    // EMBEDDING-DISTRIBUTION drift — the semantic companion to q143's
    // cell-occupancy view: per-label fixed-point centroid of the landed
    // corpus vs the arriving batch, centroid-pair cosine in micros +
    // label-share shift in ppm. A label can hold its cell histogram
    // while its meaning moves WITHIN cells; this is the monitor that
    // sees it (see [[graft.vector.Similarity.centroidDrift]]).
    "q156_embedding_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // corpus side = the MAINTAINED label_centroid_sums_base artifact
      // (sum-mergeable fixed-point state): per-batch drift cost is the
      // batch's own aggregate + a label-cardinality join, never a
      // corpus re-scan (the q76/q77 discipline for the monitor).
      Similarity.centroidDriftFromSums(
        graft.warehouse.Warehouse.read(s, d, "label_centroid_sums_base"),
        e.where(pmod(col("vec_id"), lit(10)) === 7))
    }),
    // Quality-DISTRIBUTION drift — the PSI-style curation-gate monitor
    // beside q143 (index) and q144 (tokenizer): corpus-decile bins of
    // the materialized doc_quality score, batch occupancy vs corpus in
    // integer ppm. Tie-stable binning (q152 rule), map-only bin
    // assignment against ONE broadcast edge array.
    "q157_quality_drift" -> ((s, d) =>
      graft.text.Curation.qualityDrift(
        graft.warehouse.Warehouse.read(s, d, "doc_quality"),
        pmod(col("doc_id"), lit(10)) === graft.warehouse.Warehouse.HoldoutMod)),
    // Batch GRAM-NOVELTY monitor — "does this crawl bring anything
    // new?": the arriving batch's gram occurrences vs the maintained
    // corpus index, per source, novelty in ppm + distinct-novel count.
    // Bloom-fronted the q123 way (one-sided: bloom-negative grams are
    // novel map-side; only the maybe-known mass probes the index).
    "q158_batch_novelty" -> ((s, d) => {
      val wh = graft.warehouse.Warehouse
      graft.text.SegmentDedup.batchNovelty(
        wh.read(s, d, "gram_occurrences")
          .where(pmod(col("doc_id"), lit(10)) === wh.HoldoutMod),
        Tables.documents(s, d)
          .where(pmod(col("doc_id"), lit(10)) === wh.HoldoutMod)
          .select(col("doc_id"), col("source")),
        wh.read(s, d, "gram_index_base"),
        Some(wh.gramBloomBase(s, d)))
    }),
    // Deterministic EPOCH SHUFFLE — the dataloader order: seeded
    // global permutation (md5-hash rank, two-level prefix-sum shape,
    // never a global window) + round-robin worker assignment. A
    // resumed trainer re-derives byte-identical batches from nothing
    // but (epoch, doc_id).
    "q159_epoch_shuffle" -> ((s, d) =>
      graft.text.Sampling.epochShuffle(
          Tables.documents(s, d).select(col("doc_id")))
        .select(col("doc_id"), col("pos"), col("worker"))
        .orderBy("pos")),
    // Training-batch PROVENANCE — worker-mixture uniformity: each
    // epoch-shuffle shard (q159's round-robin workers) sees its own
    // source mixture, and a worker whose mixture drifts from the
    // corpus's biases its gradient contribution (the data-parallel
    // version of q83's mixing concern). Per (worker, source): doc/token
    // mass, the worker-local share vs the corpus share, drift in ppm —
    // hash sharding should hold drift near zero, and this is the audit
    // that proves it (or catches a skewed shard assignment).
    "q160_worker_mixture" -> ((s, d) => {
      // leased: toks feeds the shard rollup AND both corpus totals,
      // per feeds the worker totals AND the final join — unleased,
      // the tokenize scan ran 3× and the shuffle+rank subtree 2×
      // (PlanShapeSpec pins the window count that caught it)
      val toks = graft.Graft.lease(graft.Par.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"),
          expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)")
            .as("n_tokens")))
      val per = graft.Graft.lease(graft.text.Sampling.epochShuffle(toks)
        .groupBy(col("worker"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok")))
      val wt = per.groupBy(col("worker")).agg(sum(col("tok")).as("wt"))
      val cs = toks.groupBy(col("source")).agg(sum(col("n_tokens")).as("stok"))
      val ct = toks.agg(sum(col("n_tokens")).as("ctot"))
      per.join(wt, Seq("worker"))
        .join(broadcast(cs.crossJoin(broadcast(ct))), Seq("source"))
        .select(col("worker"), col("source"), col("n_docs"), col("tok"),
          expr("(tok * 1000000) div greatest(1L, wt)").as("share_ppm"),
          expr("(stok * 1000000) div greatest(1L, ctot)").as("corpus_share_ppm"),
          expr("abs((tok * 1000000) div greatest(1L, wt) - " +
            "(stok * 1000000) div greatest(1L, ctot))").as("drift_ppm"))
        .orderBy("worker", "source")
    }),
    // RELEASE MANIFEST — the reproducibility receipt a dataset release
    // ships with: per source, the released membership count, token
    // mass, and an ORDER-INDEPENDENT 60-bit content fingerprint
    // (bit_xor of h60(doc_id ':' md5(clean_text))) over the released
    // docs. Two builds agree on every manifest row iff they released
    // the same docs with the same scrubbed bytes — the check a
    // downstream trainer runs before trusting a re-delivered dataset
    // (xor is a receipt against drift/corruption, not an adversarial
    // MAC). Decision layer over the materialized survivor pool; the
    // fingerprint aggregate is map-side combinable.
    "q161_release_manifest" -> ((s, d) => {
      val rel = graft.pipeline.Release
      val surv = graft.warehouse.Warehouse.read(s, d, "release_survivors")
      // thresholds + rates from ONE windowed decision-table pass (the
      // r15 card fold — oracle-pinned bit-equal to the gateThresholds →
      // mixtureRates cascade it replaces). The rates frame carries the
      // threshold beside the keep rate, so the gate and the sample read
      // it through ONE broadcast: the decision chain is planned once
      // with nothing leased (two consumers would plan it twice).
      val rates = rel.ratesFromDecision(rel.decisionTable(surv),
        domainMixture(s, d).select(col("source"), col("mix_ppm")))
      val released = rel.sampled(rel.gatedBy(surv,
        broadcast(rates.select(col("source"), col("threshold"), col("keep_ppm")))))
      graft.Par.single(released
        .select(col("source"), col("kept_tokens"),
          graft.functions.PortableHash.h60(
            concat(col("doc_id").cast("string"), lit(":"),
              md5(coalesce(col("clean_text"), lit(""))))).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_released"),
          sum(col("kept_tokens")).as("released_tokens"),
          expr("bit_xor(fp)").as("content_fp60")))
        .orderBy("source")
    }),
    // LSH band-bucket occupancy audit — the degeneracy monitor the
    // sf10 stress motivated (pair build 29.5× for 10× docs: bucket
    // occupancy up 10× ⇒ in-bucket candidates up ~100×): per band,
    // bucket count, hottest bucket, EXACT candidate-pair mass the
    // self-join would generate, hot bucket's share in ppm. Audit
    // first, pair second.
    "q162_lsh_bucket_audit" -> ((s, d) => {
      // audits the PRODUCTION banding population — one rep per exact
      // group (r14): dropped_ppm now measures the cap's loss on the
      // genuinely-distinct tail, not on boilerplate copies exact dedup
      // already owns
      val dd = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.text.TextDedup.bandOccupancyAudit(
        graft.text.TextDedup.repDocs(dd, graft.warehouse.Warehouse.read(s, d, "exact_reps")))
    }),
    // Malformed-payload quarantine: the synthesized media corpus
    // carries PLANTED corrupt blobs by deterministic rule (truncated
    // payload / flipped magic), the permissive decode turns them into
    // dead-letter rows instead of a stage abort, and the audit counts
    // them per (source, error class) — the monitor that catches a
    // source shipping garbage at 100 TB, where decode-throws means one
    // bad blob fails the stage. The oracle replays the plant rule and
    // the healthy payloads' header arithmetic.
    "q163_media_quarantine" -> ((s, d) => Multimodal.quarantineAudit(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")))),
    // Semi-structured QUARANTINE variant of q78 (r13 judge ask #6): the
    // props JSON column with PLANTED malformed payloads by
    // deterministic rule (truncated object / leading garbage / NULL),
    // parsed permissively so bad rows become dead-letter rows instead
    // of a stage abort, audited per (event_type, err_kind) beside the
    // healthy-row stats. The corrupt channel is Spark's native
    // columnNameOfCorruptRecord (codegen'd JSON path, no UDF); the
    // oracle replays the plant rule and classifies with DuckDB's own
    // json_valid — two INDEPENDENT parsers must agree on the
    // dead-letter set for the hash to match.
    "q165_props_quarantine" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("props"))
      val faulted = ev.withColumn("p",
        when(pmod(col("event_id"), lit(101)) === 5,
          expr("substring(props, 1, length(props) - 1)"))
          .when(pmod(col("event_id"), lit(101)) === 17,
            concat(lit("garbage<<"), col("props")))
          .when(pmod(col("event_id"), lit(101)) === 29, lit(null).cast("string"))
          .otherwise(col("props")))
      // Parser contract (r14 ADVICE): the engine/oracle parity is
      // narrower than "any two parsers agree" — Spark's corrupt channel
      // also fires on schema/type mismatch while DuckDB's json_valid
      // checks syntax only. Options pin the overlap: PERMISSIVE is the
      // dead-letter mode by definition, and allowSingleQuotes=false
      // drops Jackson's lenient {'k':1} extension so "valid JSON" means
      // the same thing to both engines. The remaining reliance — props
      // are strict JSON objects with INTEGER k (so no non-object roots
      // or k=1.5 type mismatches reach the corrupt channel) — is the
      // datagen's schema, asserted by Q165ContractSpec.
      val parsed = faulted.withColumn("j",
          from_json(col("p"), "k BIGINT, _corrupt STRING",
            Map("columnNameOfCorruptRecord" -> "_corrupt",
                "mode" -> "PERMISSIVE", "allowSingleQuotes" -> "false")))
        .withColumn("err_kind",
          when(col("p").isNull, lit("null_props"))
            .when(col("j._corrupt").isNotNull, lit("malformed"))
            .otherwise(lit("ok")))
        .withColumn("k", when(col("err_kind") === "ok", col("j.k")))
      graft.Par.single(parsed.groupBy(col("event_type"), col("err_kind"))
        .agg(count(lit(1)).as("n_events"), count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k")))
        .orderBy("event_type", "err_kind")
    }),
    // Two-level coarse assignment: rank √ncells super-cells (landed
    // artifact trained over the codebook's own centroids), then score
    // only the probed supers' member cells — O(√ncells) dots/vector
    // where flat assignment pays ncells (4096 at the cell cap). At the
    // test SFs sprobe ≥ nsuper, so the result provably equals the flat
    // assignment (SimilaritySpec pins both that equality and the
    // partial-probe agreement rate).
    "q164_two_level_assign" -> ((s, d) => Similarity.cellAssignmentsTwoLevel(
      Tables.embeddings(s, d),
      graft.warehouse.Warehouse.read(s, d, "ivf_codebook"),
      graft.warehouse.Warehouse.read(s, d, "ivf_supercells"),
      graft.warehouse.Warehouse.read(s, d, "ivf_super_map"))),
    // Mixed-language / code-switching audit: the q21 stopword vote per
    // SENTENCE vs per document — the pre-filter a monolingual slice
    // needs before trusting doc-level language ids.
    "q136_code_switch" -> ((s, d) =>
      TextAnalysis.codeSwitch(docs(s, d))),
    // Substring-level split leakage: val/test docs sharing a verbatim
    // ≥8-token span with ANY train doc — contamination at ExactSubstr
    // resolution, where q70 only sees whole-document near-dups (a
    // benchmark answer pasted into one training doc never trips an LSH
    // pair, but trips this). Train side reduces to its DISTINCT gram
    // index; eval grams semi-join probe it (the q123 incremental
    // shape applied to eval hygiene).
    "q135_split_substr_leakage" -> ((s, d) => {
      def splitOf(c: org.apache.spark.sql.Column) = {
        val b = pmod(graft.functions.PortableHash.h60(c.cast("string")), lit(10L))
        when(b < 8, "train").when(b < 9, "val").otherwise("test")
      }
      val sp = Tables.documents(s, d)
        .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
      val g = graft.warehouse.Warehouse.read(s, d, "gram_occurrences")
        .join(sp, Seq("doc_id"))
      val trainGrams = g.where(col("split") === "train").select(col("h")).distinct()
      val contam = g.where(col("split") =!= "train")
        .join(trainGrams, Seq("h"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("hit", lit(1L))
      sp.where(col("split") =!= "train")
        .join(contam, Seq("doc_id"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .select(col("split"), col("n_docs"), col("n_contaminated"),
          expr("(n_contaminated * 1000000) div n_docs").as("contam_ppm"))
        .orderBy("split")
    }),
    // The per-source DATA CARD — the one-page corpus report a dataset
    // release ships: volume, language spread, quality, novelty
    // (soft-dedup retention), verbatim diversity, and the learned
    // mixture target, one wide row per source. Pure assembly of
    // materialized corpus state (quality, clusters, grams) + the
    // source-cardinality mixture chain — six bounded rollups joined on
    // the source dim; nothing rescans raw text.
    "q134_data_card" -> ((s, d) => {
      val dd = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      val baseStats = dd.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      val qual = dd.select(col("doc_id"), col("source"))
        .join(graft.warehouse.Warehouse.read(s, d, "doc_quality"), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("quality")).as("sq"), count(lit(1)).as("nq"))
        .select(col("source"), expr("sq div nq").as("avg_quality"))
      val cl = graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
      val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      val ret = dd.join(
          cl.join(sizes, Seq("cluster_id"))
            .select(col("doc_id"), expr("1000000L div n_members").as("weight_ppm")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(expr("n_chars * weight_ppm")).as("effm"), sum(col("n_chars")).as("rc"))
        .select(col("source"), expr("effm div rc").as("retention_ppm"))
      val gram = graft.warehouse.Warehouse.read(s, d, "gram_occurrences")
        .join(dd.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
        .groupBy(col("source")).agg(sum(col("c")).as("tg"), count(lit(1)).as("dg"))
        .select(col("source"), expr("(dg * 1000000) div tg").as("gram_diversity_ppm"))
      baseStats
        .join(qual, Seq("source"))
        .join(ret, Seq("source"))
        .join(gram, Seq("source"))
        .join(domainMixture(s, d).select(col("source"), col("mix_ppm")), Seq("source"))
        .orderBy("source")
    }),
    // Margin-based cross-label pair mining (the CCMatrix bitext
    // criterion with `label` as the language id): in-cell cross-label
    // candidates from the materialized IVF assignment, margin vs both
    // sides' top-k foreign neighborhoods, mutual-best filter. The
    // oracle re-derives the assignment from the codebook parquet, so
    // the gate checks the artifact too (the q29/q44 replay).
    "q125_margin_mining" -> ((s, d) =>
      Similarity.marginMining(Tables.embeddings(s, d),
        graft.warehouse.Warehouse.read(s, d, "ivf_assign"),
        denoms = Some(graft.warehouse.Warehouse.read(s, d, "margin_denoms")))),
    // Duplicate-aware DOWN-WEIGHTING (soft dedup): instead of dropping
    // non-keepers, every doc weights 1e6/cluster_size — each near-dup
    // cluster contributes one doc's worth of mass no matter how wide.
    // Rolled to per-source effective char mass + retention ppm: the
    // "how much of this source is genuinely novel" number a mixture
    // designer reads next to q86's quotas. Reads corpus state (cluster
    // artifact); one grouped agg + two joins.
    "q126_soft_dedup_weights" -> ((s, d) => {
      val cl = graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
      val sizes = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      val w = cl.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), expr("1000000L div n_members").as("weight_ppm"))
      graft.Par.single(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
          .join(w, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("raw_chars"),
            sum(expr("n_chars * weight_ppm")).as("eff_chars_micro")))
        .select(col("source"), col("n_docs"), col("raw_chars"),
          expr("eff_chars_micro div 1000000").as("eff_chars"),
          expr("eff_chars_micro div raw_chars").as("retention_ppm"))
        .orderBy("source")
    }),
    // DoReMi-style domain reweighting (multiplicative weights, the
    // polynomial surrogate for exp — integer-exact): each source's
    // quality DEFICIT vs the corpus average is its excess-loss proxy;
    // five unrolled w ← w·(1 + η·deficit) updates upweight the sources
    // the quality model finds hardest, then normalize to mix ppm. The
    // whole iteration runs on a source-cardinality table (one grouped
    // agg feeds it) — the update loop is column arithmetic, no driver
    // round trips, no joins beyond two 1-row broadcasts.
    "q127_domain_mixture" -> ((s, d) =>
      domainMixture(s, d)
        .select(col("source"), col("n_docs"), col("avg_q"), col("deficit_ppm"),
          col("w").as("weight_raw"), col("mix_ppm"))
        .orderBy("source")),
    "q100_doc_repetition" -> ((s, d) =>
      graft.Par.fanOut(docs(s, d)).where(col("text").isNotNull)
        .withColumn("sents", expr(
          "filter(transform(split(text, '\\\\. '), x -> trim(x)), x -> x <> '')"))
        .withColumn("ws", expr("filter(split(text, ' '), w -> w <> '')"))
        .withColumn("g5", expr(
          """CASE WHEN size(ws) >= 5
            |  THEN transform(sequence(1, size(ws) - 4),
            |         i -> concat_ws(' ', slice(ws, i, 5)))
            |  ELSE slice(ws, 1, 0) END""".stripMargin))
        .select(col("doc_id"),
          size(col("sents")).as("n_sents"),
          (size(col("sents")) - size(array_distinct(col("sents")))).as("n_dup_sents"),
          expr("""CASE WHEN size(sents) > 0
                 |  THEN ((size(sents) - size(array_distinct(sents))) * 1000000L)
                 |       div size(sents)
                 |  ELSE 0L END""".stripMargin).as("dup_sent_ppm"),
          size(col("g5")).as("n_grams5"),
          (size(col("g5")) - size(array_distinct(col("g5")))).as("n_dup_grams5"),
          expr("""CASE WHEN size(g5) > 0
                 |  THEN ((size(g5) - size(array_distinct(g5))) * 1000000L)
                 |       div size(g5)
                 |  ELSE 0L END""".stripMargin).as("dup_gram5_ppm"))
        .orderBy("doc_id")),
    // TextRank keywords: PageRank over the q93 co-occurrence graph,
    // fixed 5 iterations in integer micros (graph is vocabulary-
    // bounded; each iteration one join + one map-side-combined sum).
    // The edge list is the materialized cooccur_edges artifact — pair
    // generation itself is map-only (Cooccur.pairCounts; zero joins).
    // The oracle unrolls the identical recurrence in DuckDB CTEs.
    "q101_textrank" -> ((s, d) => graft.text.TextRank.keywordsFromPairs(
      graft.warehouse.Warehouse.read(s, d, "cooccur_edges"))),
    // Corpus-graph centrality: fixed-iteration integer PageRank over
    // the MinHash-LSH near-dup graph (q14's pairs) — ranks documents
    // WITHIN their duplicate blobs (canonical-representative pick) and
    // leaves singletons at the teleport base. One shuffle join + sum
    // per iteration, Pregel-shaped, no driver state.
    // Learned-quality-filter inference: hashed unigram+bigram features
    // × integer milli-weights, exact BIGINT logit, keep = logit >= 0.
    // Map-only (one projection of codegen'd builtins; the only
    // exchange is the output sort) — the deployment shape of a
    // fasttext-style classifier at corpus scale.
    // r16: the sort lives here now (score() is unordered) and the
    // scored rows are leased first — same lease-before-sort rule as q27
    "q106_model_filter" -> ((s, d) =>
      graft.Graft.lease(graft.text.HashedLinearModel.score(docs(s, d)))
        .orderBy("doc_id")),
    "q105_pagerank" -> ((s, d) => {
      val pairs = graft.warehouse.Warehouse.read(s, d, "neardup_pairs")
      graft.operators.PageRank.ranks(
          docs(s, d).select(col("doc_id").as("id")),
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("id").as("doc_id"), col("pr_fix"))
        .orderBy("doc_id")
    }),
    // Similarity-weighted centrality: q105's recurrence with outflow
    // split by Jaccard ppm — rank flows toward the most TIGHTLY
    // duplicated variant, the better canonical pick within a blob.
    "q112_weighted_pagerank" -> ((s, d) => {
      val pairs = graft.warehouse.Warehouse.read(s, d, "neardup_pairs")
        .select(col("doc_a").as("src"), col("doc_b").as("dst"),
          expr("CAST(floor(jaccard * 1000000.0) AS BIGINT)").as("w"))
      graft.operators.PageRank.ranksWeighted(
          docs(s, d).select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("pr_fix"))
        .orderBy("doc_id")
    }),
    // Quality-weighted cluster keeper policy: per near-dup cluster pick
    // the member with the best composite quality (Gopher flags dominate,
    // then longest text, then lowest doc_id — see [[qualityKeepers]])
    // instead of blind min-id — the curation upgrade over q45's keeper
    // rule, reported beside the min-id choice so `keeper_moved` shows
    // exactly where the policy pays. Bounded argmax aggregate (max of a
    // (quality, −doc_id) struct), no window; clusters are the
    // materialized warehouse closure.
    "q113_quality_keepers" -> ((s, d) => qualityKeepers(s, d).orderBy("cluster_id")),
    // The q45 capstone under the q113 policy: near-dup clusters →
    // QUALITY-weighted keeper per cluster → context-window chunking →
    // fixed-budget packing. Gates that the upgraded keeper rule
    // COMPOSES with the prep path exactly (oracle replays closure +
    // flags + argmax + chunk/pack arithmetic end to end).
    "q115_quality_training_prep" -> ((s, d) => {
      val keepers = qualityKeepers(s, d).select(col("keeper_doc").as("doc_id"))
      val chunks = graft.text.Chunking.tokenWindows(docs(s, d).join(keepers, Seq("doc_id")))
      val keyed = chunkOrderKey(chunks) // guarded (doc, chunk) composite
      graft.operators.PrefixSum.packByBudget(keyed, "k", "n_chunk_tokens", budget = 512L)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          col("running_total"), col("pack_id"))
        .orderBy("doc_id", "chunk_id")
    }),
    // Retrieve-then-rerank (cross-encoder serving shape): the q102 RRF
    // fusion proposes k candidates per query, then an exact full-vector
    // cosine re-orders ONLY the short list — re-rank cost is
    // k × queries, corpus-size-independent. `moved` rows are where the
    // expensive stage earned its cost.
    "q114_rerank_exact" -> ((s, d) => {
      Similarity.rerankExact(Tables.embeddings(s, d), Similarity.rrfFuse(Seq(
        graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk"),
        graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk"))))
    }),
    // Cross-source duplication matrix: which sources copy from which —
    // the near-dup PAIR table joined twice to the doc→source dim and
    // rolled up per unordered source pair (n_pairs + summed floor-micro
    // jaccard). Reads corpus state; two map joins + one combine. The
    // doc_id→source projection is PER-DOCUMENT (corpus-sized), so no
    // broadcast hint — at sf scale AQE picks a broadcast on its own;
    // at 100 TB these are shuffle joins on doc_id, which is correct
    // (a true broadcastable dim would be source-level, not doc-level).
    // The provenance audit a mixture-weighted pipeline runs before
    // trusting per-source quotas (q86).
    "q116_source_overlap" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      graft.warehouse.Warehouse.read(s, d, "neardup_pairs")
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), Seq("doc_b"))
        .select(least(col("source_a"), col("source_b")).as("src_x"),
          greatest(col("source_a"), col("source_b")).as("src_y"),
          expr("CAST(floor(jaccard * 1000000.0) AS BIGINT)").as("jac_micro"))
        .groupBy(col("src_x"), col("src_y"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("jac_micro")).as("sum_jac_micro"))
        .orderBy("src_x", "src_y")
    }),
    // GLOBAL recall@3 under the sampled protocol: exact global top-3
    // for a deterministic ~2% hash-sample of queries (sample broadcast,
    // corpus streamed — the eval you can actually afford at scale,
    // unlike label-blocked truth whose denominator is the block) vs the
    // fused RRF ensemble on the same sampled qids.
    "q120_sampled_global_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = Similarity.knnGlobalSampled(emb).select(col("qid"), col("nid"))
      val fused = Similarity.rrfFuse(Seq(
          graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk"),
          graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk")))
        .select(col("qid").as("aqid"), col("nid").as("anid"))
      exact
        .join(fused, col("qid") === col("aqid") && col("nid") === col("anid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("anid")).as("hits"), count(lit(1)).as("n_exact"))
        .join(emb.select(col("vec_id").as("qid"), col("label")), Seq("qid"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_queries"),
          sum(col("hits")).as("sum_hits"), sum(col("n_exact")).as("sum_exact"))
        .select(col("label"), col("n_queries"), col("sum_hits"), col("sum_exact"),
          expr("(sum_hits * 1000000L) div sum_exact").as("recall_ppm"))
        .orderBy("label")
    }),
    // Hard-negative mining (contrastive-training data): candidates the
    // fused ANN ranks in its top-3 that are NOT exact top-3 neighbors —
    // they LOOK similar to the retriever but aren't true neighbors,
    // which is precisely the negative a contrastive trainer wants.
    // One anti-join against ground truth, then the exact score attaches
    // via the bounded rerank (k·queries pairs, corpus-independent).
    "q118_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val exact = graft.warehouse.Warehouse.read(s, d, "knn_exact").select(col("qid"), col("nid"))
      val fused = Similarity.rrfFuse(Seq(
        graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk"),
        graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk")))
      val negs = fused.join(exact, Seq("qid", "nid"), "left_anti")
      Similarity.rerankExact(emb, negs)
        .select(col("qid"), col("nid"), col("retr_rank"), col("cos_micro"))
        .orderBy("qid", "retr_rank", "nid")
    }),
    // Cluster-consistent dataset split: q69's hash-split rule applied at
    // CLUSTER granularity — every member inherits its near-dup cluster's
    // split, so a test doc can never near-duplicate a train doc (the q70
    // leakage is impossible by construction: every pair lives inside one
    // cluster). `moved` marks docs whose split changed vs the doc-level
    // rule — the price of leak-freedom, quantified.
    "q119_cluster_split" -> ((s, d) => {
      def splitOf(c: org.apache.spark.sql.Column) = {
        val b = pmod(graft.functions.PortableHash.h60(c.cast("string")), lit(10L))
        when(b < 8, "train").when(b < 9, "val").otherwise("test")
      }
      graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
        .select(col("doc_id"), col("cluster_id"),
          splitOf(col("cluster_id")).as("split"),
          (splitOf(col("cluster_id")) =!= splitOf(col("doc_id"))).cast("int").as("moved"))
        .orderBy("doc_id")
    }),
    // Does the rerank stage pay? The q104 eval extended to the
    // retrieve-then-rerank pipeline: recall@3 of the plain RRF top-3
    // vs reranking the FUSED top-6 by exact cosine and keeping 3 —
    // same ground truth, same ppm rollup. Deeper retrieval + exact
    // re-rank is the standard recall lever; this measures it in-engine.
    "q117_rerank_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val lsh = graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk")
      val ivf = graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk")
      // (r16 note: a fuse-once + leased variant — one k=6 fusion, the
      // top-3 as its prefix, both method frames leased for the two
      // truth probes — measured 0.64× in the interleaved final A/B:
      // the cache fills serialize what the unleased plan runs as
      // concurrent subtrees, and the saved recompute is small on these
      // artifact-fed bounded lists. Reverted; see OPTIMIZATION_r16.md.)
      val fused3 = Similarity.rrfFuse(Seq(lsh, ivf)).select(col("qid"), col("nid"))
      val rer3 = Similarity.rerankExact(emb, Similarity.rrfFuse(Seq(lsh, ivf), k = 6))
        .where(col("rr_rank") <= 3).select(col("qid"), col("nid"))
      (for {
        (mn, m) <- Seq(("ens_rrf", fused3), ("rrf_rerank", rer3))
        (tn, truth) <- recallTruths(s, d)
      } yield recallRollup(emb, truth, m)
        .select(col("label"), lit(mn).as("method"), lit(tn).as("truth"),
          col("n_queries"), col("sum_hits"), col("sum_exact"),
          expr("(sum_hits * 1000000L) div sum_exact").as("recall_ppm"))
      ).reduce(_ unionByName _).orderBy("label", "method", "truth")
    }),
    // JL random-projection distortion audit: 64→16-dim ±1 projection
    // (literal sign matrix, 16 codegen'd vec_dot per row, map-only),
    // then per-label mean/max |cos_orig − cos_proj| over same-label
    // pairs blocked by the TRAINED IVF CELL (landed ivf_assign — the
    // q24 discipline: a fixed-cardinality label block goes quadratic
    // with the corpus; the cell-bounded pair sample measures the same
    // statistic) — the "did compression keep the geometry" gate.
    "q111_jl_distortion" -> ((s, d) =>
      graft.vector.RandomProjection.distortionAudit(Tables.embeddings(s, d),
        graft.warehouse.Warehouse.read(s, d, "ivf_assign"))),
    // Output-shard manifest: deterministic 16 KiB-budget shard
    // assignment by cumulative byte offset (the webdataset/WARC shard-
    // writing step) rolled up to the per-shard index a random-access
    // reader needs: doc range, count, bytes, fill. Runs on the
    // PrefixSum two-level scan — no single-partition window.
    "q110_shard_manifest" -> ((s, d) => {
      val dd = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      graft.operators.PrefixSum.packByBudget(dd, "doc_id", "n_chars", budget = 16384L)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .select(col("pack_id").as("shard_id"), col("n_docs"), col("total_bytes"),
          col("first_doc"), col("last_doc"),
          expr("(total_bytes * 1000000) div 16384").as("fill_ppm"))
        .orderBy("shard_id")
    }),
    // MinHash-estimator calibration: signature estimate vs exact
    // Jaccard per true-similarity decile over ALL LSH candidates —
    // the dedup stack's q99-style in-engine eval.
    "q109_minhash_calibration" -> ((s, d) =>
      graft.text.TextDedup.minhashCalibration(docs(s, d))),
    // SQ8 round-trip audit: per-dimension int8 quantization of the
    // embedding corpus, mean squared reconstruction error per label in
    // integer fixed point — the "are 8 bits enough" companion to the
    // PQ audit (q103). Stats pass + broadcast-joined map-side encode.
    "q108_sq8_audit" -> ((s, d) =>
      graft.vector.ScalarQuant.reconstructionAudit(Tables.embeddings(s, d))),
    // Near-dup graph density: degree-ordered triangle counts + integer
    // clustering coefficient — distinguishes clique-shaped duplicate
    // blobs (template spam) from chain-shaped ones (drifted revisions).
    "q107_triangles" -> ((s, d) => {
      val pairs = graft.warehouse.Warehouse.read(s, d, "neardup_pairs")
      graft.operators.Triangles.perNode(
          docs(s, d).select(col("doc_id").as("id")),
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("id").as("doc_id"), col("degree"), col("n_tri"), col("cc_ppm"))
        .orderBy("doc_id")
    }),
    // Chaining audit over the near-dup closure: connected components
    // admit A~B~C without A~C ever being verified, so a "cluster" can
    // be a drift CHAIN whose endpoints share almost nothing — the
    // classic over-merge failure of transitive dedup (and the reason
    // production pipelines audit cluster diameter before keeper
    // election). Per multi-member cluster: verified-edge density vs
    // the clique bound (integer ppm) and the weakest verified link;
    // `chained` flags anything below clique density. Both inputs are
    // materialized warehouse artifacts (pair graph + closure) — two
    // id-keyed aggregates and one cluster-keyed join, never text.
    "q149_cluster_chain_audit" -> ((s, d) => {
      val cl = graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
      val pe = graft.warehouse.Warehouse.read(s, d, "neardup_pairs")
        .join(cl.select(col("doc_id").as("doc_a"), col("cluster_id")), Seq("doc_a"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_edges"),
          min(expr("CAST(floor(jaccard * 1000000.0) AS BIGINT)")).as("min_jacc_ppm"))
      cl.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .join(pe, Seq("cluster_id"))
        .withColumn("density_ppm",
          expr("(2 * n_edges * 1000000) div (n_members * (n_members - 1))"))
        .select(col("cluster_id"), col("n_members"), col("n_edges"),
          col("density_ppm"), col("min_jacc_ppm"),
          expr("CAST(density_ppm < 1000000 AS INT)").as("chained"))
        .orderBy("cluster_id")
    }),
    // The q149 remedy: re-run the min-label closure over STRONG edges
    // only (jaccard ≥ 0.8 in fixed ppm) and report, per doc, the
    // original cluster beside its refined cluster plus a cluster-level
    // split flag — cutting the weak links a drift chain rode in on.
    // Same bounded Components iteration as the warehouse closure, over
    // a strictly smaller edge list; the pair table is the materialized
    // artifact, so the refinement never re-shingles text.
    "q150_chain_cut" -> ((s, d) =>
      graft.operators.Components.chainCut(
          docs(s, d).select(col("doc_id").as("id")),
          graft.warehouse.Warehouse.read(s, d, "neardup_clusters"),
          graft.warehouse.Warehouse.read(s, d, "neardup_pairs"))
        .orderBy("doc_id")),
    // DSIR importance weights (Xie et al. 2023): target-vs-raw hashed
    // bigram likelihood ratio per doc, integer-ppm fixed point — the
    // data-selection scorer that upsamples target-domain-like documents
    // without a trained model. See [[graft.text.Curation.dsirWeights]].
    "q151_dsir_weights" -> ((s, d) =>
      graft.text.Curation.dsirWeights(graft.Par.fanOut(
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))))),
    // Reliability table for the q106 learned filter against the q47
    // heuristic gold: tie-stable score deciles × integer-ppm agreement.
    // The audit a production filter ships with — see
    // [[graft.text.HashedLinearModel.calibrationAudit]].
    "q152_model_calibration" -> ((s, d) =>
      graft.text.HashedLinearModel.calibrationAudit(docs(s, d))),
    // Incremental DSIR: the arriving batch (doc_id % 10 = 7) scored
    // against the MATERIALIZED base-corpus bucket counts — one map
    // pass over the batch + a broadcast join with the ≤1024-row ratio
    // table; the corpus is never re-read (the q137/q133 artifact
    // shape). Out-of-vocabulary buckets take the smoothed uniform
    // ratio instead of being dropped.
    "q153_dsir_incremental" -> ((s, d) =>
      graft.text.Curation.dsirScoreAgainstCounts(
        graft.text.Curation.dsirFeatures(graft.Par.fanOut(
          Tables.documents(s, d)
            .where(pmod(col("doc_id"), lit(10)) ===
              graft.warehouse.Warehouse.HoldoutMod)
            .select(col("doc_id"), col("text")))),
        graft.warehouse.Warehouse.read(s, d, "dsir_counts"))),
    // DSIR resampling REALIZED: deterministic hash-threshold keep with
    // probability ∝ importance weight, targeting 1/4 of the corpus —
    // the weights→dataset step the paper's pipeline ends with. Keep
    // probability is corpus-size-overflow-safe (see dsirResample).
    "q154_dsir_resample" -> ((s, d) =>
      graft.text.Curation.dsirResample(graft.Par.fanOut(
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))))),
    // Train/test split leakage: a 10% holdout split probed against the
    // MATERIALIZED near-dup pair graph for pairs straddling the split —
    // contaminated test docs measure memorization, not generalization.
    // Per-source rates in integer ppm.
    "q155_split_leakage" -> ((s, d) =>
      graft.text.Curation.splitLeakage(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        graft.warehouse.Warehouse.read(s, d, "neardup_pairs"))),
    // Hybrid-retrieval ensemble: reciprocal-rank fusion of the LSH
    // (q18) and materialized-IVF (q29) top-3 lists — integer-micros
    // RRF, fused over the bounded lists only (never the corpus). The
    // oracle replays both searches AND the fusion.
    "q102_rrf_ensemble" -> ((s, d) => Similarity.rrfFuse(Seq(
      graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk"),
      graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk")))),
    // Ensemble-recall eval: recall@3 per label for LSH, IVF, and their
    // RRF fusion against blocked-exact ground truth — the q99 eval
    // extended to answer "does the ensemble pay for itself" inside the
    // engine. Truth and both index lists are materialized warehouse
    // state (v8) — the eval is three bounded joins, no index re-scan.
    // Measured at sf0.01: ivf 100666 ppm, ens_rrf 100000, lsh 56000 —
    // fusing a much weaker retriever DILUTES the stronger one slightly
    // (rank-only RRF can't tell which list to trust), the classic
    // ensemble caveat this eval exists to surface.
    "q104_ensemble_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val lsh = graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk")
      val ivf = graft.warehouse.Warehouse.read(s, d, "ann_ivf_topk")
      // (r16 note: leasing the fused list for its two truth probes
      // measured 0.67× in the interleaved final A/B — same lesson as
      // q117: on a bounded artifact-fed subtree the fill serializes
      // more than the recompute costs. Kept unleased.)
      val fused = Similarity.rrfFuse(Seq(lsh, ivf))
      (for {
        (mn, m) <- Seq(("lsh", lsh), ("ivf", ivf), ("ens_rrf", fused))
        (tn, truth) <- recallTruths(s, d)
      } yield recallRollup(emb, truth, m)
        .select(col("label"), lit(mn).as("method"), lit(tn).as("truth"),
          col("n_queries"), col("sum_hits"), col("sum_exact"),
          expr("(sum_hits * 1000000L) div sum_exact").as("recall_ppm"))
      ).reduce(_ unionByName _).orderBy("label", "method", "truth")
    }),
    // PQ index-quality audit: per-cell reconstruction error from the
    // materialized codes/codebooks/assignment — integer fixed-point
    // squared error, one corpus pass, bounded joins. The oracle
    // re-derives codes AND assignment from the codebook parquet (the
    // q44 replay), so the gate checks the whole materialized index.
    "q103_pq_recon_error" -> ((s, d) => graft.vector.ProductQuant.cellReconstructionError(
      Tables.embeddings(s, d),
      graft.warehouse.Warehouse.read(s, d, "pq_codes"),
      graft.warehouse.Warehouse.read(s, d, "pq_codebooks"),
      graft.warehouse.Warehouse.read(s, d, "ivf_assign"), dim = 64)),
    // Retrieval-quality eval INSIDE the engine (the langid-eval q46
    // pattern applied to ANN): recall@3 of the hyperplane-LSH index
    // (q18) against blocked exact kNN (q17) as ground truth, rolled up
    // per label — integer ppm recall, denominator = actual exact-
    // neighbor count per query (robust to labels smaller than k). The
    // eval is itself a distributed query: two index scans, one
    // hash-join on (qid, nid), no collect.
    "q99_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val ann = graft.warehouse.Warehouse.read(s, d, "ann_lsh_topk")
      recallTruths(s, d).map { case (tn, truth) =>
        recallRollup(emb, truth, ann)
          .select(col("label"), lit(tn).as("truth"), col("n_queries"),
            col("sum_hits"), col("sum_exact"), col("n_perfect"),
            expr("(sum_hits * 1000000L) div sum_exact").as("recall_ppm"))
      }.reduce(_ unionByName _).orderBy("label", "truth")
    }),
    // Content-defined chunking + CAS block dedup: rolling-hash cut
    // points (md5 gram ≡ 0 mod 64), so identical spans chunk
    // identically at any offset — fixed-offset blocking measures ZERO
    // dups on this corpus, CDC finds the real 1–4%. Map-only chunking;
    // shuffles only on (source, digest).
    "q98_cas_chunks" -> ((s, d) =>
      graft.text.CasChunk.stats(graft.Par.fanOut(
          Tables.documents(s, d).select(col("source"), col("text"))))
        .orderBy("source")),
    // Blocked fuzzy entity match over the part-name registry: distinct
    // names first (the registry is tiny next to the fact table), then
    // levenshtein only within blocks — candidate generation bounded by
    // block size, never all-pairs. Blocking is two-pass (first token ∪
    // last token) so a typo inside either key still pairs. Support
    // counts ride along for survivorship.
    "q96_fuzzy_match" -> ((s, d) =>
      graft.operators.FuzzyMatch.blockedPairs(
          Tables.part(s, d).select(col("p_name")), "p_name",
          Seq(graft.operators.FuzzyMatch.firstToken _,
            graft.operators.FuzzyMatch.lastToken _), maxDist = 3)
        .orderBy("name_a", "name_b")),
    // CDC apply (MERGE INTO): replay the q62 change feed onto the older
    // snapshot — inserts/updates land new values, deletes drop keys,
    // untouched rows pass through. apply(s1, diff(s1,s2)) ≡ s2 is the
    // operator's contract (property-gated in SnapshotDiffSpec); the
    // oracle replays the apply algebra itself, not the shortcut.
    "q97_cdc_apply" -> ((s, d) => {
      val dim = graft.warehouse.Warehouse.read(s, d, "dim_orders")
      def at(t: String) = graft.operators.AsOfJoin.currentAt(dim, t)
        .select(col("order_id"), col("status"))
      val s1 = at("2024-01-08 00:00:00")
      val s2 = at("2024-01-15 00:00:00")
      graft.operators.SnapshotDiff
        .applyChanges(s1, graft.operators.SnapshotDiff.diff(s1, s2, "order_id", Seq("status")),
          "order_id", Seq("status"))
        .orderBy("order_id")
    }),
    // Ordered conversion funnel view → click → purchase: each stage's
    // timestamp must strictly follow the previous stage's first
    // occurrence (three chained user-keyed min aggregates — all
    // co-partitioned shuffles on user_id).
    "q49_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = ev.where(col("event_type") === "click")
        .join(v, Seq("user_id")).where(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, Seq("user_id")).where(col("ts") > col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked_after_view")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased_after_click")))
    }),
    // Weekly retention cohorts: cohort = week of a user's first event,
    // activity = distinct (user, week), offset in whole weeks — all
    // date_trunc/datediff integer arithmetic.
    "q50_retention_cohorts" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"), date_trunc("week", col("first_ts")).cast("date").as("cohort_w"))
      val weeks = ev
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("w"))
        .dropDuplicates("user_id", "w")
      weeks.join(first, Seq("user_id"))
        .groupBy(col("cohort_w"), expr("datediff(w, cohort_w) div 7").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cohort_w"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),
    // Gap-based sessionization over the event stream (30-min silence
    // starts a new session) — boundaries compared in integer epoch-µs,
    // so session numbering is engine-exact.
    "q48_sessionize" -> ((s, d) =>
      graft.operators.Sessionize.byGap(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id")))
        .orderBy("user_id", "session_seq")),
    // Peak-concurrency sweep over the session intervals: boundaries
    // collapse per instant, the ±1 walk is the two-level PrefixSum
    // scan (day-width buckets) — no single-partition window; the
    // oracle replays a naive global-window sweep.
    "q59_peak_concurrency" -> ((s, d) => {
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val sess = graft.operators.Sessionize.byGap(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id")))
        .select(to_timestamp(col("session_start"), fmt).as("st"),
          to_timestamp(col("session_end"), fmt).as("en"))
      graft.operators.Sweep.concurrency(sess, "st", "en")
        .groupBy(date_format(timestamp_micros(col("t")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_instants"), max(col("concurrent")).as("peak_concurrent"))
        .orderBy("day")
    }),
    // Language-ID evaluation: confusion matrix of the stopword-vote
    // guess against the corpus's ground-truth lang column — the eval
    // harness every classifier heuristic needs next to it.
    "q46_langid_eval" -> ((s, d) => {
      val t = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
      val g = TextAnalysis.langGuess(t.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("lang_guess"))
      graft.Par.single(t.select(col("doc_id"), col("lang")).join(g, Seq("doc_id"))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n_docs")))
        .orderBy("lang", "lang_guess")
    }),
    // Gopher-style quality firewall report: per-source counts of
    // integer-exact repetition / word-length / symbol flags.
    "q47_quality_flags" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      graft.Par.single(TextAnalysis.qualityFlags(docs(s, d)).join(src, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("flag_repetitive")).as("n_repetitive"),
          sum(col("flag_short_words")).as("n_short_words"),
          sum(col("flag_long_words")).as("n_long_words"),
          sum(col("flag_symbol_heavy")).as("n_symbol_heavy")))
        .orderBy("source")
    }),
    // Capstone composition — the full training-data prep path: LSH
    // near-dup clusters → keep one doc per cluster → context-window
    // chunking → fixed-budget sequence packing. Every stage is an
    // operator gated on its own (q35/q36/q38); this gates that they
    // COMPOSE exactly (the oracle replays the whole path in SQL).
    "q45_training_prep" -> ((s, d) => {
      val ds = docs(s, d)
      val keepers = graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
        .where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"))
      val chunks = graft.text.Chunking.tokenWindows(ds.join(keepers, Seq("doc_id")))
      val keyed = chunkOrderKey(chunks) // guarded (doc, chunk) composite

      graft.operators.PrefixSum.packByBudget(keyed, "k", "n_chunk_tokens", budget = 512L)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
          col("running_total"), col("pack_id"))
        .orderBy("doc_id", "chunk_id")
    }),
    // PACK-EFFICIENCY audit over q45's packed output — the padding-
    // waste metric a training pipeline watches per release: per-pack
    // token fill vs the 512 budget, rolled up by fill decile (a
    // boundary-spanning chunk can overfill a pack past 1e6 ppm — those
    // report in deciles ≥ 10, deliberately unclamped). Integer ppm
    // arithmetic; source-cardinality-free (pack-count-sized rollup).
    "q148_pack_efficiency" -> ((s, d) => {
      val keepers = graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
        .where(col("doc_id") === col("cluster_id")).select(col("doc_id"))
      val chunks = graft.text.Chunking.tokenWindows(docs(s, d).join(keepers, Seq("doc_id")))
      graft.Par.single(graft.operators.PrefixSum
        .packByBudget(chunkOrderKey(chunks), "k", "n_chunk_tokens", budget = 512L)
        .groupBy(col("pack_id"))
        .agg(sum(col("n_chunk_tokens")).as("pack_tokens"),
          count(lit(1)).as("n_chunks"))
        .select(col("pack_id"), col("pack_tokens"), col("n_chunks"),
          expr("(pack_tokens * 1000000) div 512").as("fill_ppm"),
          expr("greatest(512 - pack_tokens, 0L)").as("padding_tokens"))
        .groupBy(expr("fill_ppm div 100000").as("decile"))
        .agg(count(lit(1)).as("n_packs"),
          sum(col("n_chunks")).as("n_chunks"),
          min(col("fill_ppm")).as("min_fill_ppm"),
          max(col("fill_ppm")).as("max_fill_ppm"),
          sum(col("pack_tokens")).as("sum_tokens"),
          sum(col("padding_tokens")).as("sum_padding")))
        .orderBy("decile")
    }),
    // CURRICULUM packing: q45's chunk/pack with the global pack order
    // flipped to (quality DESC, doc, chunk) — easy-first curriculum
    // ordering, the training-prep variant where batch composition
    // follows the quality signal instead of ingestion order. The order
    // key folds (MaxQuality − quality, doc, chunk) into one guarded
    // integer so the SAME two-level distributed prefix sum assigns
    // pack ids — no global sort of the chunk stream, ever.
    "q142_curriculum_pack" -> ((s, d) => {
      val keepers = graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
        .where(col("doc_id") === col("cluster_id")).select(col("doc_id"))
      val chunks = graft.text.Chunking
        .tokenWindows(docs(s, d).join(keepers, Seq("doc_id")))
        .join(graft.warehouse.Warehouse.read(s, d, "doc_quality"), Seq("doc_id"))
      // composite bounds: quality < 2^23 by construction (4 flag
      // levels × 2^20 + chars capped at 2^20−1); doc_id*1024+chunk
      // must fit 2^34 — guarded, same discipline as chunkOrderKey
      val MaxQ = 5242879L
      val keyed = chunks.withColumn("k",
        when(col("chunk_id") >= 1024 || col("doc_id") >= (1L << 24), expr(
          "raise_error('curriculum key overflow: need chunk_id < 1024 and doc_id < 2^24')")
          .cast("long"))
          .otherwise((lit(MaxQ) - col("quality")) * (1L << 34) +
            col("doc_id") * 1024 + col("chunk_id")))
      graft.operators.PrefixSum.packByBudget(keyed, "k", "n_chunk_tokens",
          budget = 512L, bucketWidth = 1L << 34)
        .select(col("doc_id"), col("chunk_id"), col("quality"),
          col("n_chunk_tokens"), col("running_total"), col("pack_id"))
        .orderBy(col("quality").desc, col("doc_id"), col("chunk_id"))
    }),
    // Corpus length-distribution profile: exact percentile_disc by
    // integer rank selection — rank ⌈q·n⌉ in (n_tokens, doc_id) order,
    // all-integer (⌈q·n⌉ = (q·n + denom−1) div denom), so quantiles
    // hash-match the oracle with no interpolation ulps. Scale note: the
    // per-language sort is the inherent cost of EXACT quantiles; the
    // 100 TB path swaps in a mergeable sketch (KLL/t-digest) at the
    // cost of exactness — this operator is the auditable reference.
    "q43_length_quantiles" -> ((s, d) => {
      val st = TextAnalysis.stats(docs(s, d)).select(col("doc_id"), col("n_tokens"))
      val lg = TextAnalysis.langGuess(docs(s, d)).select(col("doc_id"), col("lang_guess"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang_guess"))
      val byLen = w.orderBy(col("n_tokens"), col("doc_id"))
      st.join(lg, Seq("doc_id"))
        .withColumn("rn", row_number().over(byLen).cast("long"))
        .withColumn("n", count(lit(1)).over(w))
        .groupBy(col("lang_guess"))
        .agg(
          max(col("n")).as("n_docs"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("n_tokens"))).as("p50_tokens"),
          max(when(col("rn") === expr("(9*n + 9) div 10"), col("n_tokens"))).as("p90_tokens"),
          max(when(col("rn") === expr("(99*n + 99) div 100"), col("n_tokens"))).as("p99_tokens"))
        .orderBy("lang_guess")
    }),
    // Decontamination: test docs (id % 10 = 0) whose shingle sets are
    // ≥50% contained in some train doc. Oracle is the brute-force
    // any-shared-shingle join — the hash-match proves the containment
    // prefix filter has perfect recall.
    "q40_contamination" -> ((s, d) => {
      val hs = graft.warehouse.Warehouse.read(s, d, "doc_hashsets")
      TextDedup.containmentPairsFromHashsets(
        hs.where(col("doc_id") % 10 === 0),
        hs.where(col("doc_id") % 10 =!= 0))
    }),
    // Segmented inverted index over normalized words (posting lists
    // bounded per segment; comma-joined canonical form).
    "q41_inverted_index" -> ((s, d) =>
      graft.text.InvertedIndex.postings(docs(s, d)).orderBy("tok", "seg")),
    // Corpus-level top phrases: document frequency of word-3-gram
    // shingles, global top-100 (TakeOrderedAndProject — no full sort).
    "q42_top_phrases" -> ((s, d) =>
      graft.Par.fanOut(docs(s, d))
        .select(explode(TextDedup.shingleExpr("text")).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("gram")).limit(100)),
    // Keyword extraction: top-3 terms per doc by integer TF·N div DF
    // salience — float-free, so ranks hash-match the oracle exactly.
    "q39_keywords" -> ((s, d) => {
      val ds = docs(s, d)
      TextAnalysis.keywords(ds, nDocs = ds.count()).orderBy("doc_id", "kw_rank")
    }),
    // Corpus mixing: exactly 50 docs per detected language, in
    // deterministic md5-hash order — no RNG, so the DuckDB oracle
    // reproduces the "random" sample bit-for-bit.
    "q37_stratified_sample" -> ((s, d) => {
      val lg = TextAnalysis.langGuess(docs(s, d)).select(col("doc_id"), col("lang_guess"))
      graft.text.Sampling.stratifiedHashSample(lg, "lang_guess", "doc_id", 50)
        .select(col("lang_guess"), col("smp_rank").cast("long").as("smp_rank"), col("doc_id"))
        .orderBy("lang_guess", "smp_rank")
    }),
    // Sequence packing: two-level distributed prefix sum over doc_id
    // order, then fixed 512-token pack assignment. The oracle is the
    // naive single-window running total, so a hash-match proves the
    // bucket-offset decomposition is exact at every boundary.
    "q38_sequence_pack" -> ((s, d) => {
      val st = TextAnalysis.stats(docs(s, d)).select(col("doc_id"), col("n_tokens"))
      graft.operators.PrefixSum.packByBudget(st, "doc_id", "n_tokens", budget = 512L)
        .select(col("doc_id"), col("n_tokens"), col("running_total"), col("pack_id"))
        .orderBy("doc_id")
    }),
    // Context-window chunking: overlapping 64-token windows at stride 48.
    // Map-only (explode + slice); the oracle replays the same integer
    // window arithmetic, so a hash-match proves no token is dropped,
    // duplicated, or mis-sliced at any boundary.
    "q36_doc_chunks" -> ((s, d) =>
      graft.text.Chunking.tokenWindows(docs(s, d)).orderBy("doc_id", "chunk_id")),
    // The closure itself is corpus state, built once per corpus into
    // the warehouse (`neardup_clusters`, exactly like the dims) — the
    // query projects sizes and keepers from the materialized table.
    "q35_neardup_clusters" -> ((s, d) => {
      val comp = graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
      val sizes = comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      comp.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("n_members"),
          (col("doc_id") === col("cluster_id")).cast("int").as("is_keeper"))
        .orderBy("doc_id")
    }),
    // Corpus profile: the read-side analytic over the text operators —
    // per-language doc counts, token/piece totals, quality envelope.
    // Quality sums run in DECIMAL (order-independent) and cast to
    // double at the end; integer sums are exact; min/max are
    // order-free — every aggregate is summation-order-immune.
    "q34_corpus_profile" -> ((s, d) => {
      val st = TextAnalysis.stats(docs(s, d))
      val lg = TextAnalysis.langGuess(docs(s, d)).select(col("doc_id"), col("lang_guess"))
      graft.Par.single(st.join(lg, Seq("doc_id"))
        // integer bucket arithmetic (n - n % 25), identical in DuckDB —
        // `/` on longs would go through double
        .withColumn("token_bucket", col("n_tokens") - pmod(col("n_tokens"), lit(25L)))
        .groupBy(col("lang_guess"), col("token_bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("quality_score")).as("n_scored"),
          // integer MICROS, not double: casting the decimal sum to
          // double diverges from DuckDB by one ulp (BigDecimal
          // round-trip vs int128/10^15); floor to micros is exact in
          // both engines
          floor(sum(col("quality_score").cast("decimal(28,15)")) * lit(1000000))
            .cast("long").as("sum_quality_micros"),
          min(col("quality_score")).as("min_quality"),
          max(col("quality_score")).as("max_quality"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_pieces")).as("sum_pieces")))
        .orderBy("lang_guess", "token_bucket")
    }),
    // Keyless binned range join: line items priced inside each brand's
    // retail-price envelope (overlapping intervals, no equi key — the
    // shape Spark would otherwise BNLJ). Oracle is a plain BETWEEN
    // join, so the hash-match proves the binning drops/duplicates
    // nothing.
    "q33_range_join_price_bands" -> ((s, d) => {
      val env = Tables.part(s, d).groupBy(col("p_brand"))
        .agg(min(col("p_retailprice")).as("lo"), max(col("p_retailprice")).as("hi"))
      val pts = Tables.lineitem(s, d)
        .select(col("l_extendedprice"), col("l_quantity").cast("decimal(18,2)").as("qty"))
      graft.operators.RangeJoin
        .pointInInterval(pts, "l_extendedprice", env, "lo", "hi", binWidth = 64.0)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"), sum(col("qty")).cast("double").as("sum_qty"))
        .orderBy("p_brand")
    }),
    "q31_skew_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity").cast("decimal(18,2)").as("qty"))
      val parts = Tables.part(s, d)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      // audit-driven salting (q71's hot-key rule sizes the buckets):
      // only measured-hot keys fan out; cold keys pay no replication
      graft.operators.SkewJoin.saltedAudited(li, parts, Seq("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("qty")).cast("double").as("total_qty"))
        .orderBy("p_brand")
    }),
    // C4-style segment-level dedup: corpus-wide removal of repeated
    // fixed-size token segments (first occurrence survives), documents
    // reassembled — the granularity between exact-doc dedup (q12) and
    // near-dup pairs (q14/q32).
    "q54_segment_dedup" -> ((s, d) =>
      graft.text.SegmentDedup.dedupSegments(docs(s, d)).orderBy("doc_id")),
    // Count-Min sketch frequency audit: md5-salted rows, exact integer
    // counters/minima — the APPROXIMATION itself is oracle-verified
    // (the KMV q51 companion for point frequencies).
    "q55_countmin_tokens" -> ((s, d) => graft.text.CountMin.frequencyAudit(docs(s, d))),
    // Data-quality audit: FK orphans (left-anti on deduped keys),
    // duplicate business keys, domain violations — one report row per
    // check; the validation pass between ingest and publish.
    "q56_dq_audit" -> ((s, d) => graft.operators.DqAudit.auditStarSchema(s, d)),
    // Join-skew audit: the 10 hottest keys of a join column with their
    // exact ratio to the median key frequency (integer micros) — the
    // report that tells you which keys need a salted join (q31's
    // SkewJoin) or AQE skew split BEFORE the join melts. The median is
    // rank-selected over the frequency-of-frequency table, which stays
    // tiny regardless of key cardinality.
    "q71_skew_audit" -> ((s, d) => {
      val freq = Tables.lineitem(s, d)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      // median over the (cnt, n_keys) distribution: day-table trick —
      // the window runs over DISTINCT frequencies, not keys
      val dist = freq.groupBy(col("cnt")).agg(count(lit(1)).as("n_keys"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("cnt"))
      val med = dist
        .withColumn("cum", sum(col("n_keys")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .crossJoin(broadcast(freq.agg(count(lit(1)).as("n"))))
        .where(col("cum") * 2 >= col("n") + 1)
        .agg(min(col("cnt")).as("median_cnt"))
      freq.crossJoin(broadcast(med))
        .select(col("l_partkey"), col("cnt"), col("median_cnt"),
          expr("(cnt * 1000000L) div median_cnt").as("skew_micros"))
        .orderBy(col("cnt").desc, col("l_partkey")).limit(10)
    }),
    // Deterministic dataset split: md5-hash assignment (8/1/1) — stable
    // under corpus growth (a doc's split never changes), engine-exact,
    // and stratification-free by design (the hash IS the randomness).
    "q69_dataset_split" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          pmod(graft.functions.PortableHash.h60(col("doc_id").cast("string")), lit(10L))
            .as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 8, "train").when(col("bucket") < 9, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")),
    // Cross-split leakage audit: near-dup pairs (q14's LSH machinery)
    // that STRADDLE splits — the eval-integrity check every dataset
    // release needs (a test doc near-duplicating a train doc leaks).
    "q70_split_leakage" -> ((s, d) => {
      val split = docs(s, d).select(col("doc_id"),
        pmod(graft.functions.PortableHash.h60(col("doc_id").cast("string")), lit(10L))
          .as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 8, "train").when(col("bucket") < 9, "val")
            .otherwise("test").as("split"))
      // r16: the leakage audit is a duplicate-GRAPH analytic — it reads
      // the materialized pair table like q35/q105/q107 instead of
      // re-running the full shingle → minhash → band → verify chain per
      // query (the artifact IS minhashLshPairs' output; oracle replays
      // the whole derivation from documents)
      graft.warehouse.Warehouse.read(s, d, "neardup_pairs")
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
        .where(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),
    // Payload-level (perceptual-hash) near-dup for multimodal columns:
    // gram SimHash + hamming chunk buckets — no tokenization, so it
    // covers byte/char streams the word-shingle dedup can't.
    "q68_payload_neardup" -> ((s, d) => Multimodal.payloadNearDup(docs(s, d))),
    // Table-statistics profile — the ANALYZE pass that feeds a cost
    // model: per column, exact row/null counts, min/max (string-safe
    // types only — cross-engine float formatting is not canonical),
    // and NDV via the q51 KMV estimator. One scan per column batch;
    // every sketch is mergeable, so per-partition profiles roll up.
    "q66_table_stats" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def prof(c: String) = {
        val v = o.select(col(c).cast("string").as("v"))
        val h = v.where(col("v").isNotNull)
          .select(graft.functions.PortableHash.h60(col("v")).as("h"))
          .dropDuplicates("h")
        // kth smallest via top-k (TakeOrderedAndProject), never a
        // global-sort window over the distinct hashes
        val kth = h.orderBy(col("h")).limit(16)
          .agg(max(col("h")).as("hk"), count(lit(1)).as("n16"))
        val nd = h.agg(count(lit(1)).as("n_distinct_exact"))
        v.agg(count(lit(1)).as("n_rows"),
            count(when(col("v").isNull, 1)).as("n_nulls"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .crossJoin(kth).crossJoin(nd)
          .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
            col("min_v"), col("max_v"),
            when(col("n16") === 16,
              lit(15.0) * pow(lit(2.0), lit(60.0)) / col("hk").cast("double"))
              .otherwise(col("n_distinct_exact").cast("double")).as("ndv_est"))
      }
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(prof).reduce(_.union(_)).orderBy("column_name")
    }),
    // Star join over five tables (the TPC-H Q5 shape): revenue by
    // region × order year. Catalyst's join reorder + AQE pick the
    // broadcast chain — the query itself stays declarative; money in
    // DECIMAL until the final cast.
    "q67_star_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_suppkey"), col("l_extendedprice").cast("decimal(18,2)").as("price"))
      val o = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).as("yr"))
      val c = Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_nationkey"))
      val n = Tables.nation(s, d).select(col("n_nationkey").as("c_nationkey"),
        col("n_regionkey"))
      val r = Tables.region(s, d).select(col("r_regionkey").as("n_regionkey"),
        col("r_name"))
      li.join(o, Seq("l_orderkey")).join(c, Seq("o_custkey"))
        .join(n, Seq("c_nationkey")).join(r, Seq("n_regionkey"))
        .groupBy(col("r_name"), col("yr"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("price")).cast("double").as("revenue"))
        .orderBy("r_name", "yr")
    }),
    // LM-likelihood filter (the CCNet/perplexity-filter pattern with
    // the q53 count LM): score = integer mean of the doc's bigram
    // conditional probabilities in micros — exact arithmetic end to
    // end, so the filter decisions hash-match. Low-likelihood docs
    // (score below 1/10 uniform mass) get flagged for quarantine.
    "q65_lm_filter" -> ((s, d) => {
      val toks = graft.Par.fanOut(docs(s, d))
        .select(col("doc_id"), expr("filter(split(text, ' '), w -> w != '')").as("ws"))
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
            |         slice(ws, 2, greatest(size(ws) - 1, 0)),
            |         (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("z"))
        .select(col("doc_id"), col("z.w1").as("w1"), col("z.w2").as("w2"))
      val lm = toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
        .join(toks.groupBy(col("w1")).agg(count(lit(1)).as("prefix_cnt")), Seq("w1"))
        .select(col("w1"), col("w2"), expr("(cnt * 1000000L) div prefix_cnt").as("p_micros"))
      toks.join(lm, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_micros) div count(1)").as("score_micros"))
        .withColumn("flag_low_likelihood", (col("score_micros") < 100000L).cast("int"))
        .orderBy("doc_id")
    }),
    // BPE merge table: the trained tokenizer. Like the ANN codebooks,
    // the rules are CORPUS STATE — trained once per corpus build
    // (warehouse `bpe_merges`; training cost lands in
    // warehouse_build_sec, exactly the reference's build-nightly/
    // query-often split) and READ here. Oracle-gated since r7: the
    // iteration count is a fixed training constant, so the argmax loop
    // unrolls into plain SQL ([[bpeTrainSql]]) — DuckDB re-trains the
    // whole merge table from `documents` independently and the hash
    // compare proves the warehouse artifact equals that re-training.
    // Specs additionally pin tie-break determinism, checkpoint-interval
    // independence, and the encode roundtrip; the ENCODE stage under
    // the fixed table is oracle-gated separately (q72).
    "q64_bpe_merges" -> ((s, d) => {
      import s.implicits._
      graft.warehouse.Warehouse.bpeMerges(s, d)
        .map(m => (m.rank, m.left, m.right, m.freq))
        .toDF("rank", "left", "right", "pair_freq").orderBy("rank")
    }),
    // BPE encode under the corpus-trained merge table (a warehouse
    // artifact, like the ANN codebooks): deterministic greedy string
    // rewriting the oracle replays rule by rule — the per-doc piece
    // counts and position-weighted checksum hash-match, gating the
    // encoder (and, transitively, the trained rules it consumes).
    "q72_bpe_encode" -> ((s, d) => graft.text.Bpe.encode(docs(s, d),
      graft.warehouse.Warehouse.bpeMerges(s, d)).orderBy("doc_id")),
    // Tokenizer fertility (pieces per word) by language under the
    // warehouse-trained merges — THE multilingual-fairness metric for a
    // tokenizer: a language with high fertility pays more tokens per
    // word in every downstream budget. Integer piece/word sums, one
    // double division per lang.
    "q92_bpe_fertility" -> ((s, d) =>
      graft.Par.single(
        graft.text.Bpe.encode(docs(s, d), graft.warehouse.Warehouse.bpeMerges(s, d))
          .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
            sum(col("n_pieces")).as("n_pieces")))
        .withColumn("fertility",
          col("n_pieces").cast("double") / col("n_words").cast("double"))
        .orderBy("lang")),
    // TOKENIZER-DRIFT monitor — q143's sibling for the frozen BPE: per
    // language, fertility (pieces per word, integer micros) of the
    // landed corpus vs the arriving batch under the SAME merge table.
    // Rising batch fertility = the vocabulary no longer fits the
    // incoming text (new domain/language mix) — the retrain trigger
    // for the tokenizer artifact, exactly as q143 is for the codebook.
    // One encode pass, split by the canonical doc_id%10 holdout.
    "q144_tokenizer_drift" -> ((s, d) => {
      val isBatch = pmod(col("doc_id"), lit(10)) === 7
      graft.Par.single(
        graft.text.Bpe.encode(docs(s, d), graft.warehouse.Warehouse.bpeMerges(s, d))
          .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(
            coalesce(sum(when(!isBatch, col("n_words"))), lit(0L)).as("corpus_words"),
            coalesce(sum(when(!isBatch, col("n_pieces"))), lit(0L)).as("corpus_pieces"),
            coalesce(sum(when(isBatch, col("n_words"))), lit(0L)).as("batch_words"),
            coalesce(sum(when(isBatch, col("n_pieces"))), lit(0L)).as("batch_pieces")))
        .select(col("lang"), col("corpus_words"), col("corpus_pieces"),
          col("batch_words"), col("batch_pieces"),
          expr("(corpus_pieces * 1000000) div greatest(1L, corpus_words)")
            .as("corpus_fert_micro"),
          expr("(batch_pieces * 1000000) div greatest(1L, batch_words)")
            .as("batch_fert_micro"),
          expr("abs((corpus_pieces * 1000000) div greatest(1L, corpus_words) - " +
            "(batch_pieces * 1000000) div greatest(1L, batch_words))").as("drift_micro"))
        .orderBy("lang")
    }),
    // Date-RANGED daily metric over the day-partitioned events
    // artifact (`events_by_day`): the filter on the partition
    // column reaches the scan as a PartitionFilter (PlanShapeSpec pins
    // it), so only the seven matching day directories are read — at
    // 100 TB the years outside the window cost nothing. Fixed-point
    // value sums keep both engines exact.
    "q145_events_day_range" -> ((s, d) =>
      graft.warehouse.Warehouse.read(s, d, "events_by_day")
        .where(col("day").between(lit("2024-01-10"), lit("2024-01-16")))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * lit(1048576L)).cast("long")).as("v_fix"))
        .orderBy("day", "event_type")),
    // Second pruned shape over the same artifact: per-user activity in
    // a 3-day window — a point-lookup-ish range whose scan reads 3 of
    // 30 partitions (PartitionFilters pinned alongside q145).
    "q146_events_recent_window" -> ((s, d) =>
      graft.warehouse.Warehouse.read(s, d, "events_by_day")
        .where(col("day") >= lit("2024-01-28"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          max(col("day")).as("last_day"))
        .orderBy("user_id")),
    // PII scrubbing (pre-release redaction pass). The corpus carries no
    // natural PII, so each doc is extended with DETERMINISTIC synthetic
    // contact fields derived from doc_id — the oracle replays the same
    // augmentation, so the scrubber (counts + redacted text) is what
    // the hash-match gates, with non-zero per-doc ground truth.
    "q73_pii_scrub" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val aug = docs(s, d).select(col("doc_id"), concat(
        coalesce(col("text"), lit("")),
        lit(" contact user"), id, lit("@mail.example.com tel "),
        lpad(pmod(col("doc_id") * 7, lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(col("doc_id") * 13, lit(1000)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod(col("doc_id") * 17, lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
        pmod(col("doc_id") * 3, lit(256)).cast("string"), lit("."),
        pmod(col("doc_id") * 5, lit(256)).cast("string"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit(""))).as("text"))
      graft.text.Pii.scrub(aug)
        .select(col("doc_id"), col("n_ids"), col("n_emails"), col("n_ips"),
          col("n_phones"), md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),
    // Frame sampling over the binary payload column (video → every
    // k-th frame): each frame is one RASTER ROW of the REALLY-decoded
    // P6 image (PpmCodec parses the header, slices pixel rows), in the
    // mapPartitions/flatMap fan-out shape a codec stage runs in —
    // oracle-gated byte-exactly. The digest goes over the frame's hex
    // form because the oracle engine rebuilds the raster as hex
    // strings; both engines emit uppercase hex, so frame boundaries
    // (including mid-codepoint CJK splits) and digests match bit for
    // bit.
    "q74_frame_sample" -> ((s, d) => {
      val media = Multimodal.mediaTable(docs(s, d)).where(col("media").isNotNull)
      Multimodal.sampleFrames(s, media).toDF()
        .select(col("doc_id"), col("frame_idx"),
          md5(hex(col("frame"))).as("frame_md5"),
          length(col("frame")).cast("long").as("n_bytes"))
        .orderBy("doc_id", "frame_idx")
    }),
    // Curation yield report: per-stage survivor counts for the q28
    // pipeline in ONE pass (per-doc stage flags + one conditional
    // aggregate) — the dataset-release funnel summary, oracle-gated
    // so a silent stage-order or flag regression shifts a count.
    // r16: artifact-path twin of the q28 change (same neardup_pairs)
    "q75_curation_funnel" -> ((s, d) => Curation.funnelFromPairs(docs(s, d),
      graft.warehouse.Warehouse.read(s, d, "neardup_pairs"))),
    // BM25 retrieval over the corpus for a fixed query-term set —
    // integer-micros scoring (no libm ln), bounded top-k, reading the
    // MATERIALIZED inverted index + doc lengths (the corpus text is
    // never re-tokenized per query; the oracle still replays from
    // `documents`, so the gate checks the artifacts too). Terms are
    // compile-time constants mirrored in the oracle.
    "q80_bm25_search" -> ((s, d) =>
      TextAnalysis.bm25FromIndex(
        graft.warehouse.Warehouse.read(s, d, "bm25_postings"),
        graft.warehouse.Warehouse.read(s, d, "bm25_doclens"), Bm25Terms, 20)),
    // Ranked posting lists per query term (top-10 by the term's BM25
    // partial, ranked at e9 so the top-k DOUBLE state stays exact —
    // see bm25TopkPerTerm's bound note) — the sparse-retrieval serving
    // shape next to the dense ann_*_topk lists; bounded per-term top-k
    // aggregate over the materialized index, never a posting-stream
    // sort window.
    "q133_bm25_postings" -> ((s, d) =>
      TextAnalysis.bm25TopkPerTermFromIndex(
        graft.warehouse.Warehouse.read(s, d, "bm25_postings"),
        graft.warehouse.Warehouse.read(s, d, "bm25_doclens"), Bm25Terms, 10)),
    // SemDeDup: semantic near-dup removal within trained IVF cells —
    // the embedding-space twin of q14's LSH dedup. Training stays
    // spec-gated (k-means); the dedup stage under the fixed codebook
    // is assignment + in-cell pairs, which the oracle replays over the
    // materialized codebook parquet (q29's mechanism).
    "q81_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(
      Tables.embeddings(s, d), graft.warehouse.Warehouse.read(s, d, "ivf_codebook"),
      supercells = Some(graft.warehouse.Warehouse.read(s, d, "ivf_supercells")),
      superMap = Some(graft.warehouse.Warehouse.read(s, d, "ivf_super_map")))),
    // Cross-document duplicated-n-gram coverage — suffix-array dedup's
    // distributed proxy: per doc, the fraction of its distinct shingles
    // that recur elsewhere in the corpus (boilerplate detector).
    "q82_dupgram_coverage" -> ((s, d) => TextDedup.dupGramCoverageFromHashsets(
      graft.warehouse.Warehouse.read(s, d, "doc_hashsets"))),
    // Temperature-based multilingual mixing (the mT5/CC multinomial
    // recipe, α = ½): per-language keep rates ∝ √n_lang, applied as a
    // deterministic integer-ppm hash filter (q69's split mechanism).
    // isqrt via IEEE sqrt + a ±1 integer correction, exact on both
    // engines; kept_id_sum is an exact integer checksum of the kept
    // set, so the oracle gates the per-row filter, not just counts.
    "q83_lang_mix" -> ((s, d) => {
      val dd = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val x = col("n_docs") * lit(1000000L)
      val perLang = dd.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("r0", floor(sqrt(x.cast("double"))).cast("long"))
        .withColumn("w",
          when(col("r0") * col("r0") > x, col("r0") - 1)
            .when((col("r0") + 1) * (col("r0") + 1) <= x, col("r0") + 1)
            .otherwise(col("r0")))
      val tot = perLang.agg(sum(col("w")).as("w_total"),
        sum(col("n_docs")).as("n_total"))
      val rates = perLang.crossJoin(broadcast(tot))
        .withColumn("rate_ppm", least(lit(1000000L),
          expr("(1000000L * ((2 * n_total) div 5) * w) div (w_total * n_docs)")))
        .select(col("lang"), col("n_docs"), col("w"), col("rate_ppm"))
      val kept = dd.join(broadcast(rates.select(col("lang"), col("rate_ppm"))), Seq("lang"))
        .where(pmod(graft.functions.PortableHash.h60(col("doc_id").cast("string")),
          lit(1000000L)) < col("rate_ppm"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"))
      rates.join(broadcast(kept), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("w"), col("rate_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
        .orderBy("lang")
    }),
    // Positional phrase search: adjacency join over the (doc, pos, tok)
    // posting stream, filtered to the phrase's terms before any join.
    // Counts overlapping occurrences — substring replace can't.
    "q84_phrase_search" -> ((s, d) =>
      graft.text.InvertedIndex.phraseSearchFromIndex(
        graft.warehouse.Warehouse.read(s, d, "token_positions"), PhraseTerms)),
    // Skip-gram co-occurrence with an integer PMI surrogate — the
    // word-embedding / collocation training-prep table. Window ±3 as a
    // map-side offset explode + (doc, pos) EQUI-join (never a range
    // join); pairs are canonicalized (least, greatest); the ranking
    // score is linear-space PMI in micros — (10⁶·n_pair·T) div (n_a·n_b),
    // order-equivalent to log-PMI with no libm. Top-20 is a bounded
    // TakeOrdered with full tie-break (score, tok_a, tok_b) — ties are
    // common in a small vocab and MUST be broken for a stable cut.
    // Unigram table broadcast (vocab ≪ corpus; at web scale this
    // becomes an ordinary shuffle join, same dataflow).
    "q93_cooccurrence" -> ((s, d) => {
      // Edges and unigrams are warehouse corpus state (Cooccur.pairCounts
      // / unigramCounts, materialized once beside neardup_pairs); the
      // query is two broadcast probes of the vocabulary-sized tables.
      val uni = graft.warehouse.Warehouse.read(s, d, "token_unigrams")
      val tot = uni.agg(sum(col("n")).as("n_tokens"))
      graft.warehouse.Warehouse.read(s, d, "cooccur_edges")
        .withColumnRenamed("w", "n_pair")
        .join(broadcast(uni.select(col("tok").as("tok_a"), col("n").as("na"))), Seq("tok_a"))
        .join(broadcast(uni.select(col("tok").as("tok_b"), col("n").as("nb"))), Seq("tok_b"))
        .crossJoin(broadcast(tot))
        .withColumn("pmi_micro", expr("(1000000L * n_pair * n_tokens) div (na * nb)"))
        .select(col("tok_a"), col("tok_b"), col("n_pair"), col("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("tok_a"), col("tok_b")).limit(20)
    }),
    // Label-noise detection: per-label fixed-point centroid (exact
    // integer mean — engine- and order-independent), then the 3 least
    // centroid-similar vectors per label via the bounded top-k
    // aggregate on the negated cosine.
    "q85_label_outliers" -> ((s, d) =>
      Similarity.labelOutliers(Tables.embeddings(s, d))),
    // Per-source quota: keep the 10 highest-quality docs per source —
    // hard caps against domain dominance (q83 thins, q86 caps).
    "q86_source_quota" -> ((s, d) => Curation.sourceQuota(
      Tables.documents(s, d).select(col("doc_id"), col("text"), col("source")))),
    // Pivot: month × order-status matrix with EXPLICIT pivot values, so
    // the output schema is static (a values-less pivot collects the
    // distinct statuses to the driver and bakes corpus state into the
    // schema — wrong for a 100 TB table and nondeterministic columns).
    // One hash aggregate; pivot cells are conditional counts.
    "q87_status_pivot" -> ((s, d) =>
      graft.Par.single(Tables.orders(s, d)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"), col("o_orderstatus"))
        .groupBy(col("month")).pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1))))
        .na.fill(0L, Seq("O", "F", "P"))
        .select(col("month"), col("O").as("n_open"), col("F").as("n_filled"),
          col("P").as("n_partial"))
        .orderBy("month")),
    // CUBE over (year, brand) — all four grouping sets in ONE pass
    // (Spark expands grouping sets before the partial aggregate, so the
    // scan is paid once); q57's rollup tie-break lesson applies: g_*
    // columns join the sort keys so subtotal rows can't tie with 'ALL'
    // data rows.
    "q88_cube_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
      val o = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        year(col("o_orderdate")).as("yr"))
      val p = Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.Par.single(li.join(o, Seq("l_orderkey")).join(p, Seq("l_partkey"))
        .cube(col("yr"), col("p_brand"))
        .agg(grouping(col("yr")).cast("long").as("g_yr"),
          grouping(col("p_brand")).cast("long").as("g_brand"),
          count(lit(1)).as("n_items"),
          sum(col("price")).cast("double").as("revenue")))
        .select(coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
          coalesce(col("p_brand"), lit("ALL")).as("brand"),
          col("g_yr"), col("g_brand"), col("n_items"), col("revenue"))
        .orderBy("yr", "brand", "g_yr", "g_brand")
    }),
    // Last-touch attribution: each purchase is attributed to the same
    // user's most recent PRECEDING click within a 7-day window — the
    // classic event-stream as-of lookup, done as ONE pass: a running
    // `last(click, ignoreNulls)` window over (ts, event_id) — no
    // self-join, no per-purchase probe. The (ts, event_id) order key is
    // unique, so the ROWS frame is deterministic; gaps are exact epoch
    // micros (integer — no timestamp float math). Per-user state is the
    // single carried click — the same carry-forward shape as W5.
    "q94_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      ev
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"),
          when(col("click_ts").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("click_ts")) <= lit(604800000000L), 1L)
            .otherwise(0L).as("attributed"))
        .orderBy("event_id")
    }),
    // Exponential-decay engagement (recency-weighted user score): the
    // decay factor is 2^(−weeks_old) — an EXACT dyadic scale, applied
    // as an integer right-shift of the fixed-point value (v_fix div
    // 2^w), so every score is engine- and order-exact; libm pow never
    // runs. The as-of anchor is one 1-row broadcast (max day). Shift
    // capped at 62: beyond it the quotient is exactly 0 anyway.
    // CONTRACT: event `value` is nonnegative (corpus-generated scores).
    // For negative values the shift-divide decays toward zero rather
    // than toward −∞ — Spark `div` and DuckDB `//` BOTH truncate on
    // BIGINT operands (measured: (−300)//7 = −42 in DuckDB 1.0), so the
    // hash gate stays aligned either way; only the decay semantics,
    // not the compare, would be debatable for negatives.
    "q90_decay_engagement" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(1048576L)).cast("long").as("v_fix"))
      val mx = ev.agg(max(col("day")).as("max_day"))
      ev.crossJoin(broadcast(mx))
        .withColumn("w", expr("datediff(max_day, day) div 7"))
        .withColumn("dec", expr("v_fix div shiftleft(1L, cast(least(w, 62L) as int))"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("dec")).cast("double") / lit(1048576.0)).as("score"))
        .orderBy("user_id")
    }),
    // Z-score outlier counts per event type WITHOUT a single float in
    // the test: |v − mean| > 1.5σ  ⟺  4(n·v − s)² > 9(n·ssq − s²) over
    // (multiply the σ² form (n·ssq − s²)/n² through by n²) —
    // exact fixed-point integers (DECIMAL(38,0) — the squares reach
    // ~10²⁷, 64-bit would wrap), so the flag is bit-exact on both
    // engines; only the REPORTED mean is a double (exact: s < 2⁵³).
    // One grouped aggregate + a broadcast join back + one conditional
    // count — two scans of events, no shuffle beyond the type key.
    "q91_zscore_outliers" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        floor(col("value") * lit(1048576L)).cast("long").as("v"))
      val st = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast("decimal(38,0)")).as("ssq"))
      graft.Par.single(ev.join(broadcast(st), Seq("event_type"))
        .withColumn("lhs",
          expr("cast(4 * cast(n * v - s as decimal(38,0)) * cast(n * v - s as decimal(38,0)) as decimal(38,0))"))
        .withColumn("rhs",
          expr("cast(9 * (cast(n as decimal(38,0)) * ssq - cast(s as decimal(38,0)) * cast(s as decimal(38,0))) as decimal(38,0))"))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_events"),
          (max(col("s")).cast("double") / max(col("n")).cast("double")
            / lit(1048576.0)).as("mean_value"),
          sum(when(col("lhs") > col("rhs"), 1L).otherwise(0L)).as("n_outliers")))
        .orderBy("event_type")
    }),
    // Trailing 7-observed-day moving aggregates over the PRE-AGGREGATED
    // daily table — the window sees calendar-sized input (the per-event
    // shuffle happened in the grouped aggregate with map-side combine),
    // so the single-partition ordered window is bounded by the calendar,
    // not the corpus; value sums are fixed-point integers (floor(v·2²⁰))
    // so every mean is engine- and order-exact.
    "q89_moving_average" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * lit(1048576L)).cast("long").as("v_fix"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("v_fix")).as("s_fix"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("day")).rowsBetween(-6, 0)
      daily.select(col("day"), col("n_events"),
          sum(col("n_events")).over(w).as("n_7d"),
          (sum(col("s_fix")).over(w).cast("double") / lit(1048576.0)).as("v_7d"))
        .orderBy("day")
    }),
    // Incremental near-dup: today's batch (doc_id % 10 = 7 plays the
    // new crawl) against the rest of the corpus, under the EXACT-DEDUP-
    // FIRST rule (r14): batch docs whose text hash matches a corpus
    // group key to its rep by one narrow hash join (exact hits —
    // jaccard 1); only unseen-text batch reps band and probe the LANDED
    // corpus-REP band artifact. Per-batch work = one hash join + batch
    // banding + the bipartite join; history is never re-banded and the
    // old×old pairing never re-runs. The daily shape at 100 TB.
    "q76_incremental_neardup" -> ((s, d) => {
      val dd = docs(s, d)
      TextDedup.minhashLshPairsBetweenGrouped(
        dd.where(pmod(col("doc_id"), lit(10)) === 7),
        graft.warehouse.Warehouse.read(s, d, "exact_reps_base")
          .where(col("doc_id") === col("rep")),
        graft.warehouse.Warehouse.read(s, d, "band_signatures_base"),
        TextDedup.shingled(TextDedup.repDocs(
          dd.where(pmod(col("doc_id"), lit(10)) =!= 7),
          graft.warehouse.Warehouse.read(s, d, "exact_reps_base"))).leased)
    }),
    // Incremental ANN: today's embedding batch (vec_id % 10 = 7)
    // searched against the existing corpus index under the trained
    // codebook — the corpus×corpus search never re-runs (q76's shape
    // for retrieval). Oracle replays assignment + cross-set top-k.
    "q77_ann_incremental" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // corpus side reads the LANDED ivf_assign artifact (rn = 1 rows;
      // batch vec_ids drop in the join) — per-batch cost is batch
      // assignment + in-cell candidates, never a corpus re-assignment.
      // The batch probe ranks under the PRODUCTION selector (r14): flat
      // below the crossover (the cheaper plan at ≤ 128 cells), TWO-LEVEL
      // above it — ~√ncells·(1+sprobe) dots per arriving vector instead
      // of ncells, the term that scaled with the corpus in the stress
      // row. One rule everywhere: the same selector builds ivf_assign.
      Similarity.annIvfNewAgainstAssignedAuto(
        e.where(pmod(col("vec_id"), lit(10)) === 7),
        e.where(pmod(col("vec_id"), lit(10)) =!= 7),
        graft.warehouse.Warehouse.read(s, d, "ivf_assign"),
        graft.warehouse.Warehouse.read(s, d, "ivf_codebook"),
        Some(graft.warehouse.Warehouse.read(s, d, "ivf_supercells")),
        Some(graft.warehouse.Warehouse.read(s, d, "ivf_super_map")))
    }),
    // Right-to-be-forgotten erasure audit: delete a deterministic
    // victim set (user_id % 97 = 13) across the event stream and the
    // SCD2/fact warehouse tables; each audit row carries the counts
    // AND a leak check re-probed from the erased output.
    "q79_erasure_audit" -> ((s, d) => {
      val victims = Tables.events(s, d)
        .where(pmod(col("user_id"), lit(97)) === 13)
        .select(col("user_id").as("key")).distinct()
      graft.operators.Erasure.audit(Seq(
          ("events", Tables.events(s, d), "user_id"),
          ("dim_orders", graft.warehouse.Warehouse.read(s, d, "dim_orders"), "order_id"),
          ("fact_orders", graft.warehouse.Warehouse.read(s, d, "fact_orders"), "order_id")),
          victims)
        .orderBy("table_name")
    }),
    // Semi-structured extraction: the events' JSON props column parsed
    // in the scan projection (get_json_object — codegen'd path walk, no
    // UDF) and aggregated per event type. Missing keys are NULL on both
    // engines, so presence counts and integer stats hash-match.
    "q78_props_extract" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      graft.Par.single(ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k")))
        .orderBy("event_type")
    }),
    // Incremental rollup maintenance: per-day partial states (count +
    // KMV hash set) folded in a balanced tree — the oracle recomputes
    // from scratch, so the hash-match PROVES fold ≡ recompute (counts
    // add exactly; k-smallest of a union = k-smallest of merged
    // k-smallests). The nightly-batch pattern that never rescans
    // history.
    "q63_incremental_rollup" -> ((s, d) => {
      val k = 16
      val ev = Tables.events(s, d).select(col("event_type"),
        to_date(col("ts")).as("day"),
        graft.functions.PortableHash.h60(col("user_id").cast("string")).as("h"))
      // ONE plan regardless of calendar size: per-day states as a single
      // grouped aggregate, merged by one more aggregate (the round-5
      // per-day collected loop built a subplan per day — linear plan
      // growth; at years of history a thousand-subplan union). The
      // merge is associative/commutative, so day → total in one step
      // equals any fold tree — IncrementalAggSpec pins fold ≡ recompute.
      graft.operators.IncrementalAgg.estimate(
          graft.operators.IncrementalAgg.mergeStates(
            graft.operators.IncrementalAgg.stateByBatch(ev, "event_type", "day", "h", k),
            "event_type", k), k)
        .select(col("event_type"), col("cnt").as("n_events"), col("kmv_estimate"))
        .orderBy("event_type")
    }),
    // Snapshot diff (CDC): point-in-time reads of the SCD2 dim a week
    // apart, reconciled into an insert/update/delete change feed — the
    // inverse of the merge that built the dim, and the replication-
    // validation primitive. Null-safe value compare; full-outer hash
    // join on the business key.
    "q62_snapshot_diff" -> ((s, d) => {
      val dim = graft.warehouse.Warehouse.read(s, d, "dim_orders")
      def at(t: String) = graft.operators.AsOfJoin.currentAt(dim, t)
        .select(col("order_id"), col("status"))
      graft.operators.SnapshotDiff
        .diff(at("2024-01-08 00:00:00"), at("2024-01-15 00:00:00"),
          "order_id", Seq("status"))
        .orderBy("order_id")
    }),
    // Z-order layout audit: the table's distinct (part-residue,
    // order-residue) keys cut into 64 equal-occupancy files (ntile in
    // key order) under a Morton interleave vs a row-major key; an
    // aligned ⅛×⅛ probe box must touch far fewer z-files. The dims are
    // 10-bit residues — Morton needs COMPARABLE bit widths per
    // dimension (interleaving an 11-bit with a 7-bit key degenerates
    // to row-major; that requirement is part of the operator's
    // contract). The exact global ntile is the audit's determinism
    // stand-in for a layout job's sampled repartitionByRange.
    "q61_zorder_layout" -> ((s0, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.lineitem(s0, d)
        .select(pmod(col("l_partkey"), lit(1024)).cast("long").as("p"),
          pmod(col("l_orderkey"), lit(1024)).cast("long").as("s"))
        .dropDuplicates("p", "s")
      // r16: z leased — the box-scalar aggregate AND the window input
      // both probe it (unleased, the lineitem dedup exchange ran twice:
      // twin 4 MB-shuffle stages in the profile); bounded by the ≤1024²
      // key grid. The ntiles run over the NARROW (p, s, zv, rk) cache
      // and the box scalars attach AFTER them — the windowed-expression
      // payload rule: the single-partition window sorter materializes
      // every column it carries (10 longs → 4 through the 13 MB
      // single-task sort).
      val z = graft.Graft.lease(t
        .withColumn("zv", graft.operators.ZOrder.zValue(col("p"), col("s"), 10))
        .withColumn("rk", expr("p * 1024 + s")))
      val st = z.agg(max("p").as("pmax"), max("s").as("smax"))
      val zz = z
        .withColumn("bz", ntile(64).over(Window.orderBy(col("zv"), col("p"), col("s"))))
        .withColumn("br", ntile(64).over(Window.orderBy(col("rk"))))
        .crossJoin(broadcast(st))
        .withColumn("p_lo", expr("(pmax + 1) div 4"))
        .withColumn("p_hi", expr("(pmax + 1) div 4 + greatest((pmax + 1) div 8, 1)"))
        .withColumn("s_lo", expr("(smax + 1) div 4"))
        .withColumn("s_hi", expr("(smax + 1) div 4 + greatest((smax + 1) div 8, 1)"))
      val boxCols = Seq("p_lo", "p_hi", "s_lo", "s_hi").map(col)
      val layouts = zz.select(lit("zorder").as("layout") +: col("bz").as("bucket") +:
          col("p") +: col("s") +: boxCols: _*)
        .union(zz.select(lit("rowmajor") +: col("br") +:
          col("p") +: col("s") +: boxCols: _*))
      val zm = layouts.groupBy(col("layout"), col("bucket")).agg(
        count(lit(1)).as("n_keys"),
        min("p").as("min_p"), max("p").as("max_p"),
        min("s").as("min_s"), max("s").as("max_s"),
        // box bounds are global constants; max() just carries them
        max("p_lo").as("p_lo"), max("p_hi").as("p_hi"),
        max("s_lo").as("s_lo"), max("s_hi").as("s_hi"))
      val touched = col("max_p") >= col("p_lo") && col("min_p") < col("p_hi") &&
        col("max_s") >= col("s_lo") && col("min_s") < col("s_hi")
      val tb = zm.groupBy(col("layout")).agg(
        count(lit(1)).as("n_buckets"),
        count(when(touched, 1)).as("n_touched"),
        coalesce(sum(when(touched, col("n_keys"))), lit(0L)).as("n_keys_touched"))
      val mt = zz.where(col("p") >= col("p_lo") && col("p") < col("p_hi") &&
          col("s") >= col("s_lo") && col("s") < col("s_hi"))
        .agg(count(lit(1)).as("n_keys_matching"))
      tb.crossJoin(mt).orderBy("layout")
    }),
    // Bloom-prune audit: the bitmap's pass set vs the exact semi-join —
    // hash-matching n_exact_match AND n_false_pos proves one-sidedness
    // (no member dropped, overshoot exactly reproduced).
    "q60_bloom_prune" -> ((s, d) => {
      val dim = Tables.part(s, d).where(col("p_size") > 47)
      val factKeys = Tables.lineitem(s, d)
        .select(col("l_partkey").cast("string").as("s")).dropDuplicates("s")
      val bits = graft.operators.BloomPrune.bloomBits(dim, "p_partkey")
      val pass = graft.operators.BloomPrune.passingKeys(factKeys, bits)
      val exact = factKeys.join(
        dim.select(col("p_partkey").cast("string").as("s")).dropDuplicates("s"),
        Seq("s"), "left_semi")
      factKeys.agg(count(lit(1)).as("n_fact_keys"))
        .crossJoin(pass.agg(count(lit(1)).as("n_bloom_pass")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact_match")))
        .withColumn("n_false_pos", col("n_bloom_pass") - col("n_exact_match"))
    }),
    // Histogram quantile sketch: the mergeable 100 TB stand-in q43's
    // scaladoc promises — (lang, 16-token bin) cells, estimates by
    // integer cumulative rank; each estimate's bin contains q43's
    // exact quantile (spec-gated), and the sketch itself hash-matches.
    "q58_hist_quantiles" -> ((s, d) => {
      val st = TextAnalysis.stats(docs(s, d)).select(col("doc_id"), col("n_tokens"))
      val lg = TextAnalysis.langGuess(docs(s, d)).select(col("doc_id"), col("lang_guess"))
      graft.operators.HistQuantile.estimates(
        st.join(lg, Seq("doc_id")), "lang_guess", "n_tokens", 16L,
        Seq(("p50_bin", 1, 2), ("p90_bin", 9, 10), ("p99_bin", 99, 100)))
        .withColumnRenamed("n_rows", "n_docs")
        .orderBy("lang_guess")
    }),
    // OLAP rollup: year → quarter → brand revenue hierarchy in one
    // pass (partial aggregation handles all grouping sets — no
    // per-level rescans); money stays DECIMAL until the final cast.
    "q57_rollup_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"))
      val o = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        year(col("o_orderdate")).as("yr"), quarter(col("o_orderdate")).as("qtr"))
      val p = Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.Par.single(li.join(o, Seq("l_orderkey")).join(p, Seq("l_partkey"))
        .rollup(col("yr"), col("qtr"), col("p_brand"))
        .agg(
          grouping(col("yr")).cast("long").as("g_yr"),
          grouping(col("qtr")).cast("long").as("g_qtr"),
          grouping(col("p_brand")).cast("long").as("g_brand"),
          count(lit(1)).as("n_items"),
          sum(col("price")).cast("double").as("revenue"))
        .select(
          coalesce(col("yr").cast("string"), lit("ALL")).as("yr"),
          coalesce(col("qtr").cast("string"), lit("ALL")).as("qtr"),
          coalesce(col("p_brand"), lit("ALL")).as("brand"),
          col("g_yr"), col("g_qtr"), col("g_brand"),
          col("n_items"), col("revenue")))
        // g_* in the sort keys: a NULL o_orderdate/p_brand data row
        // coalesces to 'ALL' and would otherwise tie with a subtotal
        // row, leaving Spark/DuckDB free to order the tie differently
        .orderBy("yr", "qtr", "brand", "g_yr", "g_qtr", "g_brand")
    }),
  )

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("text"))

  /** Where a salted multi-pass query (q32/q166/q167) lands its per-pass
    * files: one dir per query and data dir, inside a per-application dir
    * under the warehouse cache root, so two runs over one corpus never
    * share pass files. The application dir is deleted at JVM exit. */
  private[graft] def saltedLandingDir(spark: SparkSession, query: String, sfDir: String): String = {
    val root = new Path(graft.warehouse.Warehouse.cacheRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val run = fs.makeQualified(new Path(root, s"run-${spark.sparkContext.applicationId}"))
    fs.mkdirs(run)
    fs.deleteOnExit(run)
    s"$run/$query-${sfDir.replaceAll("[^A-Za-z0-9.]+", "_")}"
  }

  /** The two recall denominators every retrieval eval reports
    * (q99/q104/q117): label-BLOCKED exact truth (measures recall within
    * the block — cheap but flattering: the denominator excludes
    * cross-block true neighbors) and the sampled-GLOBAL truth (q120's
    * protocol — hash-sampled queries scored against the whole corpus,
    * the honest number you can actually afford at 100 TB). Both are
    * materialized warehouse artifacts; the evals are bounded joins. */
  private def recallTruths(s: SparkSession, d: String): Seq[(String, DataFrame)] = Seq(
    ("blocked", graft.warehouse.Warehouse.read(s, d, "knn_exact").select(col("qid"), col("nid"))),
    ("global3", graft.warehouse.Warehouse.read(s, d, "knn_global_sampled")
      .select(col("qid"), col("nid"))))

  /** Per-label recall rollup of one ranked list against one truth
    * table — the shared kernel of the retrieval evals: hits = |truth ∩
    * list| per query, denominator = that query's truth size (robust to
    * blocks smaller than k). Two hash joins + two bounded aggregations;
    * no index scan, no collect. */
  private def recallRollup(emb: DataFrame, truth: DataFrame, ann: DataFrame): DataFrame = {
    val a = ann.select(col("qid").as("aqid"), col("nid").as("anid"))
    truth
      .join(a, col("qid") === col("aqid") && col("nid") === col("anid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("anid")).as("hits"), count(lit(1)).as("n_exact"))
      .join(emb.select(col("vec_id").as("qid"), col("label")), Seq("qid"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("hits")).as("sum_hits"), sum(col("n_exact")).as("sum_exact"),
        sum(when(col("hits") === col("n_exact"), 1L).otherwise(0L)).as("n_perfect"))
  }

  /** Composite (doc, chunk) pack-order key for the training-prep path
    * (q45/q115). chunk_id < 1024 holds for the 64/48 token windows over
    * this corpus's bounded docs, but a longer-doc regeneration would
    * silently mis-order (and can collide) — so the bound is ENFORCED
    * per row, not asserted in a comment: a ≥1024 chunk_id fails the
    * query loudly instead of producing a subtly wrong pack order. */
  private def chunkOrderKey(chunks: DataFrame): DataFrame =
    chunks.withColumn("k",
      when(col("chunk_id") >= 1024, expr(
        "raise_error('chunk_id >= 1024 overflows the doc_id*1024 pack order key')")
        .cast("long"))
        .otherwise(col("doc_id") * 1024 + col("chunk_id")))

  /** Quality-weighted keeper per near-dup cluster (q113's policy,
    * composed again by q115): composite integer quality
    * ([[TextAnalysis.compositeQuality]] — flags dominate, then the
    * longer member, then lowest doc_id), read from the materialized
    * `doc_quality` warehouse table beside the cluster closure it
    * ranks. Selected by ONE argmax aggregate (max of a
    * (quality, −doc_id) struct) — no window, no re-clustering, no
    * per-query corpus re-flagging. */
  private def qualityKeepers(s: SparkSession, d: String): DataFrame = {
    val quality = graft.warehouse.Warehouse.read(s, d, "doc_quality")
    graft.warehouse.Warehouse.read(s, d, "neardup_clusters")
      .join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("minid_keeper"),
        max(struct(col("quality"), (-col("doc_id")).as("nd"))).as("kq"))
      .select(col("cluster_id"), col("n_members"),
        (-col("kq.nd")).as("keeper_doc"),
        col("kq.quality").as("keeper_quality"),
        ((-col("kq.nd")) =!= col("minid_keeper")).cast("int").as("keeper_moved"))
  }

  /** The q127 multiplicative-weights chain, shared by q127 (reports
    * it), q132 (realizes it), and q134 (summarizes it): per-source
    * quality deficits vs the corpus average, five unrolled integer
    * w ← w·(1+η·deficit) updates, ppm normalization. Source-cardinality
    * arithmetic; two 1-row broadcasts. Returns (source, n_docs, avg_q,
    * deficit_ppm, factor, w, mix_ppm). */
  private def domainMixture(s: SparkSession, d: String): DataFrame = {
    val perDoc = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(graft.warehouse.Warehouse.read(s, d, "doc_quality"), Seq("doc_id"))
    // ONE corpus scan+join (pre-r15 the perDoc subtree was re-evaluated
    // 4× across glob/tot/final — 8 scans per mixture consumer), and the
    // global average / weight total attach as UNPARTITIONED WINDOW sums
    // over the per-source frame instead of agg→crossJoin(broadcast):
    // perSrc is source-cardinality (bounded ~20 rows forever), so the
    // single-partition window is scale-free, while each broadcast
    // scalar attach cost 2 extra jobs under AQE (agg stage + broadcast
    // build) — q127 ran 17 sequential jobs for 20 rows of output, and
    // every mixture consumer (q140/q147/q132/q153/q154/q160) paid the
    // same tail. Integer arithmetic is unchanged: window sums fold the
    // identical longs the broadcast aggregates did.
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val base = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("quality")).as("sum_q"))
      .withColumn("avg_q", expr("sum_q div n_docs"))
      .withColumn("__n_all", sum(col("n_docs")).over(all))
      .withColumn("__q_all", sum(col("sum_q")).over(all))
      .withColumn("gavg", expr("__q_all div __n_all"))
      .withColumn("deficit_ppm",
        greatest(lit(0L), expr("((gavg - avg_q) * 1000000) div gavg")))
      .withColumn("factor", expr("1000000 + (200000 * deficit_ppm) div 1000000"))
    val iterated = (1 to 5).foldLeft(base.withColumn("w", lit(1000000L))) {
      (df, _) => df.withColumn("w", expr("(w * factor) div 1000000"))
    }
    iterated
      .withColumn("mix_ppm", expr(s"(w * 1000000) div (sum(w) over ())"))
      .select(col("source"), col("n_docs"), col("avg_q"), col("deficit_ppm"),
        col("factor"), col("w"), col("mix_ppm"))
  }

  /** q80's fixed query-term set — compile-time constants mirrored
    * literally in the oracle SQL (mid-frequency corpus terms, so the
    * ranking exercises both the idf and tf-normalization factors). */
  private val Bm25Terms: Seq[String] = Seq("join", "vector", "key")

  /** q84's fixed phrase — two mid-frequency terms whose adjacency is
    * rare enough to be selective, mirrored literally in the oracle. */
  private val PhraseTerms: Seq[String] = Seq("join", "hash")

  /** Shared oracle CTE: the SCD2-EVENTS version chain over `events`
    * (dedup on (id,status) keep-first, re-sequence, chain with lead —
    * mirrors process_orders_sqls.py:92-133 semantics). */
  private val VersionsCte: String =
    """WITH dedup AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS dup
      |  FROM events),
      |surv AS (
      |  SELECT user_id, event_type, ts,
      |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      |  FROM dedup WHERE dup = 1),
      |versions AS (
      |  SELECT user_id AS order_id, event_type AS status, ts AS start_time,
      |         coalesce(next_ts, TIMESTAMP '2999-12-31 23:59:59') AS end_time
      |  FROM surv),
      |first_ev AS (
      |  SELECT user_id AS order_id, ts AS created_time, event_type AS first_status, value
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |        FROM events) WHERE rn = 1)""".stripMargin

  /** Analytic statement of the two-batch product SCD2 (independent of the
    * merge algorithm — every 5th part changes at the 1998 batch). */
  private val DimPartsCte: String =
    """dimp AS (
      |  SELECT p_partkey AS id, p_type AS category, p_retailprice AS price,
      |         TIMESTAMP '1995-01-01 00:00:00' AS start_time,
      |         CASE WHEN p_partkey % 5 = 0 THEN TIMESTAMP '1998-01-01 00:00:00'
      |              ELSE TIMESTAMP '2999-12-31 23:59:59' END AS end_time
      |  FROM part
      |  UNION ALL
      |  SELECT p_partkey, p_type || '_V2', p_retailprice + 1.0,
      |         TIMESTAMP '1998-01-01 00:00:00', TIMESTAMP '2999-12-31 23:59:59'
      |  FROM part WHERE p_partkey % 5 = 0)""".stripMargin

  /** Shared oracle CTE: distinct word-3-gram shingles per document
    * (mirrors TextDedup.shingleExpr). */
  private val ShinglesCte: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
      |    list_transform(generate_series(1, len(w) - 2),
      |                   i -> array_to_string(w[i:i+2], ' '))
      |    ELSE []::VARCHAR[] END) AS shingles
      |  FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))""".stripMargin

  /** Shared oracle CTE chain: MinHash+LSH near-dup pairs over `sh`
    * under the EXACT-DEDUP-FIRST rule (r14 — mirrors
    * TextDedup.minhashLshPairs / the neardup_pairs artifact): one rep
    * per identical-text group bands (md5-h60 group key, cap over the
    * rep population); `pairs(doc_a, doc_b, jaccard)` = rep-level
    * verified pairs ∪ intra-group star edges (rep → member, 1.0). */
  private val LshPairsCtes: String = lshPairsCtes("0.5")

  /** RAW (ungrouped) LSH pair chain — every document bands, no star
    * edges: the estimator-calibration path (q109 samples candidate
    * pairs across the full similarity range, where the production rule
    * would hide the identical-text decile behind group membership).
    * Ends in `pairs`; also exposes `sig` for per-doc signatures. */
  private def rawLshPairsCtes(threshold: String): String =
    s"""hs AS (SELECT doc_id, shingles,
      |  list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)) AS h28s
      |  FROM sh),
      |sig AS (SELECT doc_id,
      |  list_transform(generate_series(0, 15), j ->
      |    coalesce(list_min(list_transform(h28s,
      |      h -> ((2*j + 1) * h + 104729*j + 7919) % 268435399)), 268435399)) AS sig
      |  FROM hs),
      |bands AS (SELECT doc_id, b, band_key FROM (
      |  SELECT doc_id, b, band_key,
      |    row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS bkrn
      |  FROM (SELECT doc_id,
      |    b, CAST(sig[2*b + 1] AS VARCHAR) || '_' || CAST(sig[2*b + 2] AS VARCHAR) AS band_key
      |    FROM sig, generate_series(0, 7) t(b))) WHERE bkrn <= 256),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id),
      |jac AS (SELECT doc_a, doc_b,
      |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |  nullif(CAST(len(sa.shingles) + len(sb.shingles)
      |       - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE),
      |         CAST(0.0 AS DOUBLE)) AS jaccard
      |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
      |pairs AS MATERIALIZED (SELECT doc_a, doc_b, jaccard FROM jac
      |  WHERE jaccard >= CAST($threshold AS DOUBLE))""".stripMargin

  /** [[LshPairsCtes]] with a caller-chosen jaccard threshold (q109's
    * calibration wants ALL candidates, threshold 0). `bands` mirrors
    * the engine's enforced [[graft.text.TextDedup.LshMaxBucket]]
    * occupancy cap: per (band, band_key) bucket, only the 256 smallest
    * doc_ids participate in candidate generation (row_number rule —
    * identical on both engines; never fires on the hash-uniform
    * corpora through sf1 where max bucket is 97). */
  private def lshPairsCtes(threshold: String): String =
    s"""grp AS MATERIALIZED (SELECT doc_id,
      |    min(doc_id) OVER (PARTITION BY
      |      CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS rep
      |  FROM documents),
      |hs AS (SELECT sh.doc_id, shingles,
      |  list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)) AS h28s
      |  FROM sh JOIN grp ON grp.doc_id = sh.doc_id AND grp.doc_id = grp.rep),
      |sig AS (SELECT doc_id,
      |  list_transform(generate_series(0, 15), j ->
      |    coalesce(list_min(list_transform(h28s,
      |      h -> ((2*j + 1) * h + 104729*j + 7919) % 268435399)), 268435399)) AS sig
      |  FROM hs),
      |bands AS (SELECT doc_id, b, band_key FROM (
      |  SELECT doc_id, b, band_key,
      |    row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS bkrn
      |  FROM (SELECT doc_id,
      |    b, CAST(sig[2*b + 1] AS VARCHAR) || '_' || CAST(sig[2*b + 2] AS VARCHAR) AS band_key
      |    FROM sig, generate_series(0, 7) t(b))) WHERE bkrn <= 256),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id),
      |jac AS (SELECT doc_a, doc_b,
      |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |  nullif(CAST(len(sa.shingles) + len(sb.shingles)
      |       - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE),
      |         CAST(0.0 AS DOUBLE)) AS jaccard
      |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b),
      |pairs AS MATERIALIZED (SELECT doc_a, doc_b, jaccard FROM jac
      |  WHERE jaccard >= CAST($threshold AS DOUBLE)
      |  UNION ALL SELECT rep AS doc_a, doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
      |  FROM grp WHERE doc_id <> rep)""".stripMargin

  /** Shared oracle CTE: per-document 32-bit simhash over shingles
    * (mirrors TextDedup.simhashExpr). */
  private val SimhashCte: String =
    s"""$ShinglesCte,
       |h60 AS (SELECT doc_id,
       |  list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS h60s
       |  FROM sh),
       |sim AS (SELECT doc_id,
       |  CAST(list_sum(list_transform(generate_series(0, 31), i ->
       |    CASE WHEN len(list_filter(h60s, h -> ((h >> i) & 1) = 1)) * 2 > len(h60s)
       |         THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
       |  FROM h60)""".stripMargin

  /** Shared oracle CTE: embeddings as double vectors with norms
    * (mirrors Similarity.prepared). */
  private val VecCte: String =
    """en AS MATERIALIZED (
      |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
      |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))""".stripMargin

  /** Shared oracle CTE chain: cell ranking of `src`(vec_id, v, nrm)
    * under the PRODUCTION selector rule (the
    * [[graft.vector.Similarity.cellRankAuto]] replay): flat literal
    * ranking while the landed codebook holds ≤
    * [[graft.vector.Similarity.IvfTwoLevelCrossover]] cells, two-level
    * super-cell ranking (top-[[graft.vector.Similarity.SuperProbe]]
    * supers → their member cells, the landed `ivf_supercells` /
    * `ivf_super_map` artifacts) above it — the branch is chosen by the
    * codebook's OWN row count, so ONE SQL string replays the engine's
    * selector exactly at every SF. Ends in `<r>(vec_id, cell, rn)`;
    * tie-breaks replay the engine on both branches (supers by
    * (−cos, sid), cells by (−cos, cid)). Set `withBooks = false` for
    * the second+ instance in one query (the `cent`/`sup`/`smp`
    * artifact CTEs are emitted once). */
  private def assignSelectorCtes(src: String, r: String,
                                 withBooks: Boolean = true): String = {
    val sprobe = graft.vector.Similarity.SuperProbe
    val xover = graft.vector.Similarity.IvfTwoLevelCrossover
    val books =
      s"""cent AS (SELECT cid, cv, cnrm FROM '$oracleWhDir/ivf_codebook/*.parquet'),
         |sup AS (SELECT sid, sv, snrm FROM '$oracleWhDir/ivf_supercells/*.parquet'),
         |smp AS (SELECT cid, sid FROM '$oracleWhDir/ivf_super_map/*.parquet'),
         |""".stripMargin
    // the selector guard sits INSIDE each branch's vector source (not
    // on the final union): the dead branch's window/join pipelines then
    // run over ZERO rows — an outer WHERE would still materialize the
    // flat branch's ncells-per-vector ranking at sf10 (measured: DuckDB
    // spilled past 60 GB computing the never-selected flat branch)
    (if (withBooks) books else "") +
      s"""${r}_srk AS (SELECT vec_id, sid FROM (
         |  SELECT e.vec_id, s.sid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, s.sv) / (e.nrm * s.snrm) DESC, s.sid) AS srn
         |  FROM (SELECT vec_id, v, nrm FROM $src
         |        WHERE (SELECT count(*) FROM cent) > $xover) e
         |  CROSS JOIN sup s) WHERE srn <= $sprobe),
         |${r}_two AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
         |  FROM (SELECT e.vec_id, c.cid AS cell,
         |      list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS ccos
         |    FROM $src e JOIN ${r}_srk k ON k.vec_id = e.vec_id
         |    JOIN smp ON smp.sid = k.sid JOIN cent c ON c.cid = smp.cid)),
         |${r}_flat AS (SELECT e.vec_id, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM (SELECT vec_id, v, nrm FROM $src
         |        WHERE (SELECT count(*) FROM cent) <= $xover) e
         |  CROSS JOIN cent c),
         |$r AS (SELECT vec_id, cell, rn FROM ${r}_flat
         |  UNION ALL SELECT vec_id, cell, rn FROM ${r}_two)""".stripMargin
  }

  /** Shared oracle CTE chain: the recursive-CTE near-dup closure (the
    * q35 replay — compose under `WITH RECURSIVE` after the LSH pair
    * CTEs) × the q47 quality-flag replica, ending in the per-cluster
    * rollup `g(cluster_id, n_members, minid_keeper)` and the quality
    * argmax ranking `a(cluster_id, keeper_doc, keeper_quality, rn)`.
    * q113 reads the rn=1 row; q115 filters documents through it. */
  private def clusterQualityCtes: String =
    s"""edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, peer) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
      |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
      |$docQualityCtes,
      |j AS (SELECT c.cluster_id, c.doc_id, q.quality
      |  FROM comp c JOIN q USING (doc_id)),
      |g AS (SELECT cluster_id, count(*) AS n_members, min(doc_id) AS minid_keeper
      |  FROM j GROUP BY cluster_id),
      |a AS (SELECT cluster_id, doc_id AS keeper_doc, quality AS keeper_quality,
      |    row_number() OVER (PARTITION BY cluster_id
      |      ORDER BY quality DESC, doc_id) AS rn
      |  FROM j)""".stripMargin

  /** The composite-quality replica alone (the q113 flag arithmetic
    * ending in `q(doc_id, quality)`) — the doc_quality artifact's
    * from-scratch replay for oracles that don't need the closure. */
  private def docQualityCtes: String =
    """tk AS (SELECT doc_id,
      |    unnest(list_filter(str_split(trim(regexp_replace(regexp_replace(
      |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
      |      w -> w <> '')) AS tok
      |  FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
      |rep AS (SELECT doc_id, max(tf) AS max_tf, sum(tf) AS n_toks,
      |    sum(length(tok) * tf) AS sum_len
      |  FROM tf GROUP BY doc_id),
      |base AS (SELECT doc_id,
      |    length(coalesce(text, '')) AS n_chars,
      |    length(coalesce(text, ''))
      |      - length(regexp_replace(coalesce(text, ''), '[a-zA-Z0-9 ]', '', 'g')) AS n_plain
      |  FROM documents),
      |fl AS (SELECT b.doc_id,
      |    CAST(coalesce(max_tf, 0) * 5 >= coalesce(n_toks, 0)
      |         AND coalesce(n_toks, 0) > 0 AS INT) AS f1,
      |    CAST(coalesce(sum_len, 0) < coalesce(n_toks, 0) * 3
      |         OR coalesce(n_toks, 0) = 0 AS INT) AS f2,
      |    CAST(coalesce(sum_len, 0) > coalesce(n_toks, 0) * 10 AS INT) AS f3,
      |    CAST((n_chars - n_plain) * 10 >= n_chars AND n_chars > 0 AS INT) AS f4
      |  FROM base b LEFT JOIN rep ON rep.doc_id = b.doc_id),
      |q AS MATERIALIZED (SELECT fl.doc_id,
      |    CAST((4 - f1 - f2 - f3 - f4) * 1048576
      |         + least(b.n_chars, 1048575) AS BIGINT) AS quality
      |  FROM fl JOIN base b ON b.doc_id = fl.doc_id)""".stripMargin

  /** Shared oracle CTE chain: the q102 RRF ensemble — hyperplane-LSH
    * top-3 + trained-IVF top-3 (re-deriving the cell ranking from the
    * codebook parquet), fused by reciprocal rank. Ends in
    * `fu(qid, nid, rrf_micro)`; q102 ranks it, q114 reranks it. */
  private def rrfFusedCtes: String =
    // lr/ir AS MATERIALIZED (r15): each retriever's pair stream is
    // 600M+ rows at sf10 and its rank window spills ~25-30 GB — plain
    // CTEs let DuckDB keep both retrievers' sorts alive inside one
    // pipeline tree (q102 at sf10 blew past local disk); materializing
    // the (tiny, rank ≤ 3) lists serializes the two spills so the peak
    // is ONE retriever's, and frees lp/ip temp blocks before fusion.
    // bk likewise: it is referenced twice (both join sides) and a plain
    // CTE re-inlines the bucket computation per use.
    s"""bk AS MATERIALIZED (SELECT vec_id, v, nrm,
       |  CAST(list_sum(list_transform(generate_series(0, 5), j ->
       |    CASE WHEN list_dot_product(
       |        list_transform(generate_series(1, 64), i ->
       |          CAST(CAST(('0x' || substr(md5('hp_' || j || '_' || i), 1, 7)) AS BIGINT)
       |               % 2001 - 1000 AS DOUBLE)),
       |        v) > CAST(0.0 AS DOUBLE)
       |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
       |  FROM en),
       |lp AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
       |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |lr AS MATERIALIZED (SELECT qid, nid, rank FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM lp) WHERE rank <= 3),
       |${assignSelectorCtes("en", "asn")},
       |iq AS (SELECT en.vec_id AS qid, cell, v AS va, nrm AS na
       |  FROM en JOIN asn ON en.vec_id = asn.vec_id AND asn.rn <= 6),
       |ix AS (SELECT en.vec_id AS nid, cell, v AS vb, nrm AS nb
       |  FROM en JOIN asn ON en.vec_id = asn.vec_id AND asn.rn = 1),
       |ip AS (SELECT qid, nid, list_dot_product(va, vb) / (na * nb) AS cosine
       |  FROM iq JOIN ix ON iq.cell = ix.cell AND qid <> nid),
       |ir AS MATERIALIZED (SELECT qid, nid, rank FROM (
       |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
       |  FROM ip) WHERE rank <= 3),
       |fu AS (SELECT qid, nid, CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
       |  FROM (SELECT * FROM lr UNION ALL SELECT * FROM ir) GROUP BY qid, nid)""".stripMargin

  /** Label-blocked exact-top-3 truth CTE (`exb`) — the q17 replay;
    * compose after `en`. */
  private def blockedExactCte: String =
    // the inner scalar projection (qid, nid, score) is load-bearing:
    // without it DuckDB carries the 64-double embedding arrays through
    // the window sort — at sf1 that was a 60 GiB OOM, projected it is
    // seconds (same expression, same tie-break, identical values)
    s"""exb AS (SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |        ORDER BY score DESC, nid) AS rank
       |    FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
       |            list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS score
       |          FROM en a JOIN en b ON a.label = b.label AND a.vec_id <> b.vec_id))
       |  WHERE rank <= 3)""".stripMargin

  /** Sampled-GLOBAL exact-top-3 truth CTEs (`sq`, `exg`) — the q120
    * protocol replay (md5 hash-sample of qids, scored against the whole
    * corpus); compose after `en`. */
  private def sampledGlobalExactCtes: String =
    s"""sq AS (SELECT vec_id, v, nrm FROM en
       |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % 50 = 0),
       |exg AS (SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |        ORDER BY score DESC, nid) AS rank
       |    FROM (SELECT s.vec_id AS qid, e.vec_id AS nid,
       |            list_dot_product(s.v, e.v) / (s.nrm * e.nrm) AS score
       |          FROM sq s JOIN en e ON s.vec_id <> e.vec_id))
       |  WHERE rank <= 3)""".stripMargin

  /** Both truth tables stacked with a `truth` tag (`tr`) — the dual
    * denominator each recall eval reports; composes [[blockedExactCte]]
    * and [[sampledGlobalExactCtes]]. */
  private def dualTruthCtes: String =
    s"""$blockedExactCte,
       |$sampledGlobalExactCtes,
       |tr AS MATERIALIZED (
       |  SELECT 'blocked' AS truth, qid, nid FROM exb
       |  UNION ALL SELECT 'global3', qid, nid FROM exg)""".stripMargin

  /** Absolute path of the materialized warehouse for the corpus being
    * verified — set by [[Verify]] (system property `graft.oracle.whdir`)
    * before it dumps [[oracleSql]], so oracles for queries that consume
    * trained warehouse artifacts (q29/q44 codebooks, q72 merge rules)
    * can read the SAME artifact parquet DuckDB-side. The artifacts are
    * INPUTS shared by both engines, not Spark outputs: each oracle
    * independently replays the search/encode computation over them, so
    * the compare gates the computation, not a copy of itself. */
  private def oracleWhDir: String =
    sys.props.getOrElse("graft.oracle.whdir", "target/graft-warehouse/UNSET")

  /** Shared oracle CTE chain: the q72 BPE-encode replay under the
    * warehouse merge table (doubled-separator greedy pass — RE2 has no
    * lookahead, see the q72 comment). BPE merges never cross word
    * boundaries, so the recursion encodes DISTINCT words and joins the
    * per-word piece count back to positions — the recursion's working
    * set is the vocabulary, not every word occurrence in the corpus
    * (at sf1 that's the difference between ~31 rows × rank iterations
    * and ~2.75M × rank, which thrashed DuckDB's buffer pool). Ends in
    * `pc(doc_id, pos, n_pieces)`, one row per word occurrence; compose
    * under `WITH RECURSIVE`. */
  private def bpeEncodeCtes: String =
    s"""m AS (
       |  SELECT rank, "left" AS l, "right" AS r
       |  FROM '$oracleWhDir/bpe_merges/*.parquet'),
       |t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
       |  FROM documents),
       |wp AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos FROM t),
       |dw AS (SELECT DISTINCT word FROM wp),
       |w0 AS (SELECT word,
       |    '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS syms
       |  FROM dw),
       |enc AS (
       |  SELECT word, syms, 0 AS rk FROM w0
       |  UNION ALL
       |  SELECT e.word,
       |    replace(e.syms, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' '),
       |    e.rk + 1
       |  FROM enc e JOIN m ON m.rank = e.rk + 1),
       |fin AS (SELECT word, syms FROM enc
       |  WHERE rk = (SELECT coalesce(max(rank), 0) FROM m)),
       |pcw AS (SELECT word,
       |    len(list_filter(str_split(trim(syms), ' '), s -> s <> '')) AS n_pieces
       |  FROM fin),
       |pc AS (SELECT doc_id, pos, n_pieces FROM wp JOIN pcw USING (word))""".stripMargin

  /** q64 oracle: a FULLY INDEPENDENT DuckDB replay of BPE merge
    * training, unrolled for the fixed `nMerges` the warehouse trains
    * (iteration count is a training constant, so unrolling is legal —
    * each step is one CTE pair). Builds its own distinct-word frequency
    * table from `documents`, then per rank g: pair-count argmax with the
    * engine's tie-break (freq DESC, left, right) and a doubled-separator
    * greedy rewrite (the q72 trick — RE2 has no lookahead, so two-space
    * boundaries make plain replace() reproduce the engine's
    * ` l r(?= )` non-overlapping merge scan exactly). Nothing is read
    * from the warehouse: a training bug cannot mirror itself into this
    * oracle. */
  private def bpeTrainSql(nMerges: Int): String = {
    val steps = (1 to nMerges).map { g =>
      s"""g$g AS MATERIALIZED (SELECT l, r, pf FROM (
         |    SELECT l, r, CAST(sum(freq) AS BIGINT) AS pf FROM (
         |      SELECT unnest(ss[1:len(ss)-1]) AS l, unnest(ss[2:len(ss)]) AS r, freq
         |      FROM (SELECT list_filter(str_split(trim(syms), ' '), s -> s <> '') AS ss,
         |            freq FROM w${g - 1}))
         |    GROUP BY l, r)
         |  ORDER BY pf DESC, l, r LIMIT 1),
         |w$g AS MATERIALIZED (SELECT replace(syms,
         |    (SELECT ' ' || l || '  ' || r || ' ' FROM g$g),
         |    (SELECT ' ' || l || r || ' ' FROM g$g)) AS syms, freq FROM w${g - 1})""".stripMargin
    }
    val ranks = (1 to nMerges).map(g =>
      s"""SELECT CAST($g AS INT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM g$g""")
      .mkString("\n  UNION ALL ")
    s"""WITH wt AS MATERIALIZED (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS word
       |    FROM documents) GROUP BY word),
       |w0 AS MATERIALIZED (SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS syms, freq FROM wt),
       |${steps.mkString(",\n")}
       |SELECT * FROM (
       |  $ranks)
       |ORDER BY rank""".stripMargin
  }

  /** Q1 oracle, shared by the DataFrame (q08) and spark.sql-text (q23)
    * implementations — both must match the same DuckDB result. */
  private lazy val CurrentByStatusSql: String =
    s"""$VersionsCte
       |SELECT status, count(*) AS order_count FROM versions
       |WHERE TIMESTAMP '2024-01-15 00:00:00' >= start_time
       |  AND TIMESTAMP '2024-01-15 00:00:00' < end_time
       |GROUP BY status ORDER BY status""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_dim_dates" ->
      """SELECT strftime(d, '%Y%m%d') AS id, d AS datum,
        |  CAST(dayofmonth(d) AS INT) AS day_of_month,
        |  CAST(dayofyear(d) AS INT) AS day_of_year,
        |  CAST(month(d) AS INT) AS month,
        |  CAST(quarter(d) AS INT) AS quarter,
        |  CAST(year(d) AS INT) AS year,
        |  CAST(date_trunc('month', d) AS DATE) AS first_day_of_month,
        |  last_day(d) AS last_day_of_month,
        |  CAST(date_trunc('month', d) + INTERVAL 1 MONTH AS DATE) AS first_day_of_next_month
        |FROM (SELECT CAST(r AS DATE) AS d
        |      FROM generate_series(DATE '1970-01-01', DATE '2049-12-31', INTERVAL 1 DAY) t(r))
        |ORDER BY datum""".stripMargin,
    "q02_orders_per_quarter" ->
      """SELECT CAST(year(o_orderdate) AS VARCHAR) || '_' || CAST(quarter(o_orderdate) AS VARCHAR)
        |    AS year_quarter,
        |  count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY year_quarter
        |ORDER BY year_quarter""".stripMargin,
    "q03_orders_quarter_category" ->
      s"""WITH $DimPartsCte
         |SELECT CAST(year(l_shipdate) AS VARCHAR) || '_' || CAST(quarter(l_shipdate) AS VARCHAR)
         |    AS year_quarter,
         |  category, count(*) AS order_count
         |FROM lineitem JOIN dimp ON l_partkey = dimp.id
         |  AND l_shipdate >= start_time AND l_shipdate < end_time
         |GROUP BY year_quarter, category
         |ORDER BY year_quarter, category""".stripMargin,
    "q04_retained_not_completed" ->
      s"""$VersionsCte
         |SELECT count(*) AS order_count
         |FROM first_ev f JOIN versions v ON f.order_id = v.order_id
         |  AND TIMESTAMP '2024-02-15 00:00:00' >= v.start_time
         |  AND TIMESTAMP '2024-02-15 00:00:00' < v.end_time
         |WHERE v.status <> 'purchase'
         |  AND f.created_time < date_trunc('month', TIMESTAMP '2024-02-15 00:00:00')""".stripMargin,
    "q05_created_not_completed_month" ->
      s"""$VersionsCte,
         |purch AS (
         |  SELECT order_id, min(start_time) AS purchase_time
         |  FROM versions WHERE status = 'purchase' GROUP BY order_id)
         |SELECT CAST(year(created_time) AS VARCHAR) || '_' ||
         |    lpad(CAST(month(created_time) AS VARCHAR), 2, '0') AS bucket,
         |  count(*) AS created_count,
         |  count(*) FILTER (WHERE purchase_time IS NULL OR purchase_time >=
         |    CAST(date_trunc('month', created_time) + INTERVAL 1 MONTH AS TIMESTAMP))
         |    AS not_completed_count
         |FROM first_ev LEFT JOIN purch USING (order_id)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q05_created_not_completed_day" ->
      s"""$VersionsCte,
         |purch AS (
         |  SELECT order_id, min(start_time) AS purchase_time
         |  FROM versions WHERE status = 'purchase' GROUP BY order_id)
         |SELECT strftime(created_time, '%Y-%m-%d') AS bucket,
         |  count(*) AS created_count,
         |  count(*) FILTER (WHERE purchase_time IS NULL OR purchase_time >=
         |    CAST(CAST(created_time AS DATE) + INTERVAL 1 DAY AS TIMESTAMP))
         |    AS not_completed_count
         |FROM first_ev LEFT JOIN purch USING (order_id)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q06_stock_category_day" ->
      """WITH snaps AS (
        |  SELECT l_partkey AS entity,
        |         greatest(CAST(l_shipdate AS DATE), DATE '2001-10-01') AS snap_date,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS value,
        |         l_shipdate AS tb_ts, l_orderkey AS tb_ok, l_linenumber AS tb_ln
        |  FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '2001-10-31'),
        |daily AS (
        |  SELECT entity, snap_date, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY entity, snap_date
        |      ORDER BY tb_ts DESC, tb_ok DESC, tb_ln DESC) AS rn FROM snaps)
        |  WHERE rn = 1),
        |days AS (SELECT CAST(r AS DATE) AS datum
        |         FROM generate_series(DATE '2001-10-01', DATE '2001-10-31', INTERVAL 1 DAY) t(r)),
        |scaffold AS (SELECT e.entity, d.datum
        |             FROM (SELECT DISTINCT entity FROM snaps) e CROSS JOIN days d),
        |filled AS (
        |  SELECT s.entity, s.datum,
        |    last_value(dl.value IGNORE NULLS) OVER (PARTITION BY s.entity ORDER BY s.datum
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |  FROM scaffold s LEFT JOIN daily dl
        |    ON s.entity = dl.entity AND s.datum = dl.snap_date)
        |SELECT p_type AS category, datum, CAST(sum(value) AS DOUBLE) AS stock
        |FROM filled JOIN part ON entity = p_partkey
        |WHERE value IS NOT NULL
        |GROUP BY category, datum ORDER BY category, datum""".stripMargin,
    "q07_stock_category_month_end" ->
      """WITH snaps AS (
        |  SELECT l_partkey AS entity,
        |         greatest(last_day(CAST(l_shipdate AS DATE)), DATE '2000-01-31') AS snap_date,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS value,
        |         l_shipdate AS tb_ts, l_orderkey AS tb_ok, l_linenumber AS tb_ln
        |  FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '2001-10-31'),
        |daily AS (
        |  SELECT entity, snap_date, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY entity, snap_date
        |      ORDER BY tb_ts DESC, tb_ok DESC, tb_ln DESC) AS rn FROM snaps)
        |  WHERE rn = 1),
        |days AS (SELECT last_day(CAST(r AS DATE)) AS datum
        |         FROM generate_series(DATE '2000-01-01', DATE '2001-10-01', INTERVAL 1 MONTH) t(r)),
        |scaffold AS (SELECT e.entity, d.datum
        |             FROM (SELECT DISTINCT entity FROM snaps) e CROSS JOIN days d),
        |filled AS (
        |  SELECT s.entity, s.datum,
        |    last_value(dl.value IGNORE NULLS) OVER (PARTITION BY s.entity ORDER BY s.datum
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |  FROM scaffold s LEFT JOIN daily dl
        |    ON s.entity = dl.entity AND s.datum = dl.snap_date)
        |SELECT p_type AS category, datum, CAST(sum(value) AS DOUBLE) AS stock
        |FROM filled JOIN part ON entity = p_partkey
        |WHERE value IS NOT NULL
        |GROUP BY category, datum ORDER BY category, datum""".stripMargin,
    "q08_current_orders_by_status" -> CurrentByStatusSql,
    "q23_sql_current_by_status" -> CurrentByStatusSql,
    "q09_dim_orders_scd2" ->
      s"""$VersionsCte
         |SELECT order_id, status,
         |  strftime(start_time, '%Y-%m-%d %H:%M:%S.%f') AS start_time,
         |  strftime(end_time, '%Y-%m-%d %H:%M:%S.%f') AS end_time
         |FROM versions ORDER BY order_id, start_time, status""".stripMargin,
    "q10_dim_products_scd2" ->
      s"""WITH $DimPartsCte
         |SELECT id, category, price,
         |  strftime(start_time, '%Y-%m-%d %H:%M:%S.%f') AS start_time,
         |  strftime(end_time, '%Y-%m-%d %H:%M:%S.%f') AS end_time
         |FROM dimp ORDER BY id, start_time""".stripMargin,
    "q11_fact_orders_created" ->
      s"""$VersionsCte
         |SELECT order_id,
         |  strftime(CAST(created_time AS DATE), '%Y%m%d') AS created_date_id,
         |  strftime(created_time, '%Y-%m-%d %H:%M:%S.%f') AS created_time,
         |  first_status, value
         |FROM first_ev ORDER BY order_id""".stripMargin,
    "q26_dim_orders_two_batches" ->
      """WITH e1 AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |e2 AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |v1 AS (
        |  SELECT user_id AS order_id, event_type AS status, ts AS start_time,
        |         coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |                  TIMESTAMP '2999-12-31 23:59:59') AS end_time
        |  FROM (SELECT user_id, event_type, ts, event_id,
        |          row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS dup
        |        FROM e1) WHERE dup = 1),
        |v2 AS (
        |  SELECT user_id AS order_id, event_type AS status, ts AS start_time,
        |         coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |                  TIMESTAMP '2999-12-31 23:59:59') AS end_time
        |  FROM (SELECT user_id, event_type, ts, event_id,
        |          row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS dup
        |        FROM e2) WHERE dup = 1),
        |f2 AS (
        |  SELECT user_id, event_type, ts FROM (
        |    SELECT user_id, event_type, ts,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM e2) WHERE rn = 1),
        |v1c AS (
        |  SELECT v1.order_id, v1.status, v1.start_time,
        |    CASE WHEN v1.end_time = TIMESTAMP '2999-12-31 23:59:59'
        |          AND f2.user_id IS NOT NULL AND v1.status <> f2.event_type
        |          AND v1.start_time < f2.ts
        |         THEN TIMESTAMP '2024-02-01 00:00:00' ELSE v1.end_time END AS end_time
        |  FROM v1 LEFT JOIN f2 ON v1.order_id = f2.user_id)
        |SELECT order_id, status,
        |  strftime(start_time, '%Y-%m-%d %H:%M:%S.%f') AS start_time,
        |  strftime(end_time, '%Y-%m-%d %H:%M:%S.%f') AS end_time
        |FROM (SELECT * FROM v1c UNION ALL SELECT * FROM v2)
        |ORDER BY order_id, start_time, status""".stripMargin,
    "q28_curation_pipeline" ->
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         |keepers AS (SELECT min(doc_id) AS doc_id FROM (
         |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         |                        ' +', ' ', 'g'))) AS nh FROM documents) GROUP BY nh),
         |t AS (SELECT doc_id, text, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |      FROM documents),
         |meta AS (
         |  SELECT doc_id,
         |    (CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) /
         |       nullif(CAST(length(text) AS DOUBLE), CAST(0.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)) +
         |    (CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS DOUBLE) /
         |       nullif(CAST(len(ws) AS DOUBLE), CAST(0.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)) +
         |    (least(CAST(len(ws) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |       * CAST(0.2 AS DOUBLE)) AS quality_score,
         |    len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS en_hits,
         |    len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS de_hits,
         |    len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS es_hits,
         |    len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS fr_hits
         |  FROM t)
         |SELECT doc_id, quality_score
         |FROM meta
         |WHERE doc_id IN (SELECT doc_id FROM keepers)
         |  AND doc_id NOT IN (SELECT doc_id FROM losers)
         |  AND quality_score >= CAST(0.5 AS DOUBLE)
         |  AND (CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
         |            WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
         |            WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END) = 'en'
         |ORDER BY doc_id""".stripMargin,
    "q12_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q13_dedup_normalized" ->
      """WITH n AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                        ' +', ' ', 'g'))), 1, 15)) AS BIGINT) AS norm_hash
        |  FROM documents)
        |SELECT min(doc_id) AS doc_id, norm_hash, count(*) AS n_copies
        |FROM n GROUP BY norm_hash ORDER BY doc_id""".stripMargin,
    "q14_dedup_minhash_lsh" ->
      s"""WITH $ShinglesCte,
         |$LshPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "q53_bigram_lm" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM t),
        |pairs AS (SELECT a.w AS w1, b.w AS w2
        |  FROM wp a JOIN wp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY w1, w2),
        |pc AS (SELECT w1, count(*) AS prefix_cnt FROM pairs GROUP BY w1)
        |SELECT w1, w2, cnt, prefix_cnt,
        |  CAST(cnt * 1000000 // prefix_cnt AS BIGINT) AS p_micros
        |FROM bc JOIN pc USING (w1)
        |ORDER BY cnt DESC, w1, w2 LIMIT 50""".stripMargin,
    "q52_volume_spikes" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (SELECT d, cnt,
        |    row_number() OVER (ORDER BY cnt, d) AS rn,
        |    count(*) OVER () AS n
        |  FROM daily),
        |m AS (SELECT max(CASE WHEN rn = (n + 1) // 2 THEN cnt END) AS median_cnt FROM r)
        |SELECT strftime(d, '%Y-%m-%d') AS day, cnt, median_cnt,
        |  CAST(cnt > median_cnt * 2 AS INT) AS is_spike
        |FROM daily, m ORDER BY day""".stripMargin,
    // Same md5 hashes, same rank selection, same double arithmetic —
    // the APPROXIMATION itself is oracle-verified.
    "q51_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))), 1, 15)) AS BIGINT) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |  FROM h),
        |kth AS (SELECT source, h AS hk FROM r WHERE rn = 16),
        |nd AS (SELECT source, count(*) AS n_distinct_exact FROM r GROUP BY source)
        |SELECT nd.source, n_distinct_exact,
        |  CASE WHEN hk IS NOT NULL
        |       THEN CAST(15 AS DOUBLE) * pow(CAST(2 AS DOUBLE), CAST(60 AS DOUBLE))
        |            / CAST(hk AS DOUBLE)
        |       ELSE CAST(n_distinct_exact AS DOUBLE) END AS kmv_estimate
        |FROM nd LEFT JOIN kth ON kth.source = nd.source
        |ORDER BY nd.source""".stripMargin,
    // Bit-for-bit replay of the integer HLL: same md5-derived hash, same
    // bin()-length rho (DuckDB's bin matches Spark's — minimal binary,
    // bin(0)='0'), same 2^40-scaled harmonic sum, same 726/1024 alpha.
    // CASTs to BIGINT guard against DuckDB's sum() widening to HUGEINT.
    "q95_hll_distinct" ->
      s"""WITH tok AS (SELECT source,
        |    unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT source, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM tok),
        |r AS (SELECT source, h % 64 AS reg,
        |    max(CASE WHEN h // 64 = 0 THEN 55
        |             ELSE 55 - length(bin(h // 64)) END) AS m_j
        |  FROM h GROUP BY source, h % 64),
        |s AS (SELECT source, count(*) AS n_regs,
        |    CAST(sum(1::BIGINT << (40 - least(m_j, 40))) AS BIGINT) AS s_obs
        |  FROM r GROUP BY source),
        |x AS (SELECT source, count(DISTINCT tok) AS n_distinct_exact
        |  FROM tok GROUP BY source),
        |f AS (SELECT source, n_regs,
        |    s_obs + (64 - n_regs) * (1::BIGINT << 40) AS s_sum FROM s),
        |e AS (SELECT source, n_regs, s_sum,
        |    ((4503599627370496 // s_sum) * 726) // 1024 AS est_raw FROM f)
        |SELECT e.source, e.n_regs, e.s_sum,
        |  CASE WHEN e.n_regs < 64 AND e.est_raw <= ${graft.operators.Hll.LcThreshold}
        |       THEN CAST(list_extract(${graft.operators.Hll.lcTableDuck},
        |                              CAST(64 - e.n_regs AS INT) + 1) AS BIGINT)
        |       ELSE e.est_raw END AS hll_estimate,
        |  x.n_distinct_exact
        |FROM e JOIN x ON x.source = e.source
        |ORDER BY e.source""".stripMargin,
    // Same literal '. ' sentence split, same sliding 5-gram join with
    // single spaces, same distinct-delta arithmetic; len() is cast to
    // INT to match Spark's size().
    // ExactSubstr replay: same 60-bit md5 gram hashes over the same
    // ' '-joined 8-token slices, keeper = min doc then min pos (two
    // chained aggregates, no composite key), coverage union via
    // list_distinct(flatten(...)) exactly as the engine's HOF chain.
    "q122_substr_scrub" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
        |  FROM t WHERE len(ws) >= 8),
        |g AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    CAST(('0x' || substr(md5(
        |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM g0),
        |kd AS (SELECT h, min(doc_id) AS kd FROM g GROUP BY h),
        |kp AS (SELECT g.h, k.kd, min(g.pos) AS kp
        |  FROM g JOIN kd k ON g.h = k.h AND g.doc_id = k.kd GROUP BY g.h, k.kd),
        |dp AS (SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS ps
        |  FROM g JOIN kp ON g.h = kp.h
        |  WHERE NOT (g.doc_id = kp.kd AND g.pos = kp.kp)
        |  GROUP BY g.doc_id),
        |r AS (SELECT t.doc_id, ws, coalesce(ps, CAST([] AS BIGINT[])) AS ps
        |  FROM t LEFT JOIN dp USING (doc_id)),
        |c AS (SELECT doc_id, ws,
        |    list_distinct(flatten(list_transform(ps, p -> generate_series(p, p + 7)))) AS cov
        |  FROM r)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(cov) AS BIGINT) AS n_dup_tokens,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(generate_series(1, len(ws)), i -> NOT list_contains(cov, i)),
        |    i -> ws[i]), ' '), '') AS clean_text
        |FROM c ORDER BY doc_id""".stripMargin,
    // Same md5 gram hashes distinct-reduced per source; pair join +
    // two total joins; integer ppm containment.
    "q124_source_substr_overlap" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |g0 AS (SELECT source, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
        |  FROM t WHERE len(ws) >= 8),
        |gs AS (SELECT DISTINCT source,
        |    CAST(('0x' || substr(md5(
        |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM g0),
        |tot AS (SELECT source, count(*) AS n FROM gs GROUP BY source),
        |p AS (SELECT a.source AS src_x, b.source AS src_y, count(*) AS n_shared
        |  FROM gs a JOIN gs b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_x, src_y, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(ta.n AS BIGINT) AS grams_x, CAST(tb.n AS BIGINT) AS grams_y,
        |  (CAST(n_shared AS BIGINT) * 1000000) // CAST(least(ta.n, tb.n) AS BIGINT)
        |    AS share_ppm
        |FROM p JOIN tot ta ON ta.source = src_x JOIN tot tb ON tb.source = src_y
        |ORDER BY src_x, src_y""".stripMargin,
    // Full margin-mining replay: rn=1 assignment re-derived under the
    // SELECTOR rule (so the ivf_assign artifact is checked), then
    // the same integer-micros margin + mutual-best arithmetic.
    "q125_margin_mining" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "rsel")},
         |asn1 AS MATERIALIZED (SELECT vec_id, cell FROM rsel WHERE rn = 1),
         |ec AS MATERIALIZED (SELECT en.vec_id, en.label, en.v, en.nrm, asn1.cell
         |  FROM en JOIN asn1 USING (vec_id)),
         |cpos AS MATERIALIZED (SELECT * FROM (
         |  SELECT a.vec_id AS xid, a.label AS xlab, b.vec_id AS yid, b.label AS ylab,
         |    CAST(floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000.0)
         |         AS BIGINT) AS cos_micro
         |  FROM ec a JOIN ec b ON a.cell = b.cell AND a.label <> b.label)
         |  WHERE cos_micro > 0),
         |den AS MATERIALIZED (SELECT xid AS id, CAST(sum(cos_micro) AS BIGINT) // count(*) AS den
         |  FROM (SELECT xid, yid, cos_micro,
         |      row_number() OVER (PARTITION BY xid ORDER BY cos_micro DESC, yid) AS rk
         |    FROM cpos) WHERE rk <= 3 GROUP BY xid),
         |sc AS MATERIALIZED (SELECT c.xid, c.xlab, c.yid, c.ylab, c.cos_micro,
         |    (2 * c.cos_micro * 1000000) // (dx.den + dy.den) AS margin_ppm
         |  FROM cpos c JOIN den dx ON dx.id = c.xid JOIN den dy ON dy.id = c.yid),
         |bs AS (SELECT xid, yid FROM (
         |  SELECT xid, yid,
         |    row_number() OVER (PARTITION BY xid ORDER BY margin_ppm DESC, yid) AS rn
         |  FROM sc) WHERE rn = 1)
         |SELECT s.xid AS vec_x, s.yid AS vec_y, s.xlab AS label_x, s.ylab AS label_y,
         |  s.cos_micro, s.margin_ppm
         |FROM sc s
         |JOIN bs bx ON bx.xid = s.xid AND bx.yid = s.yid
         |JOIN bs byy ON byy.xid = s.yid AND byy.yid = s.xid
         |WHERE s.xid < s.yid ORDER BY vec_x, vec_y""".stripMargin,
    // Closure replay + the 1e6/cluster_size weight rollup.
    "q126_soft_dedup_weights" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |cs AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY cluster_id),
         |w AS (SELECT c.doc_id, 1000000 // n_members AS weight_ppm
         |  FROM comp c JOIN cs USING (cluster_id)),
         |m AS (SELECT d.source, d.n_chars, w.weight_ppm
         |  FROM documents d JOIN w ON w.doc_id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS raw_chars,
         |  CAST(sum(n_chars * weight_ppm) AS BIGINT) // 1000000 AS eff_chars,
         |  CAST(sum(n_chars * weight_ppm) AS BIGINT) // CAST(sum(n_chars) AS BIGINT)
         |    AS retention_ppm
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
    // Quality replay + the unrolled multiplicative-weights arithmetic
    // (each step's floor-division replicated textually).
    "q127_domain_mixture" ->
      s"""WITH $docQualityCtes,
         |pd AS (SELECT d.doc_id, d.source, q.quality
         |  FROM documents d JOIN q USING (doc_id)),
         |ps AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(quality) AS BIGINT) // count(*) AS avg_q
         |  FROM pd GROUP BY source),
         |g AS (SELECT CAST(sum(quality) AS BIGINT) // count(*) AS gavg FROM pd),
         |b AS (SELECT ps.source, ps.n_docs, ps.avg_q,
         |    greatest(CAST(0 AS BIGINT),
         |      ((g.gavg - ps.avg_q) * 1000000) // g.gavg) AS deficit_ppm
         |  FROM ps CROSS JOIN g),
         |f AS (SELECT *, 1000000 + (200000 * deficit_ppm) // 1000000 AS factor FROM b),
         |it AS (SELECT *,
         |    ((((((((((1000000 * factor) // 1000000) * factor) // 1000000)
         |      * factor) // 1000000) * factor) // 1000000) * factor) // 1000000) AS w
         |  FROM f),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM it)
         |SELECT source, n_docs, avg_q, deficit_ppm, w AS weight_raw,
         |  (w * 1000000) // w_tot AS mix_ppm
         |FROM it CROSS JOIN t ORDER BY source""".stripMargin,
    // Quality replay + exact per-source top-quartile threshold over the
    // distinct-value cumulative (window peers identical both engines:
    // values are distinct within a partition, so RANGE ≡ ROWS).
    "q128_quality_percentile_gate" ->
      s"""WITH $docQualityCtes,
         |pd AS (SELECT d.doc_id, d.source, d.n_chars, q.quality
         |  FROM documents d JOIN q USING (doc_id)),
         |n AS (SELECT source, count(*) AS n_docs FROM pd GROUP BY source),
         |dist AS (SELECT source, quality, count(*) AS c
         |  FROM pd GROUP BY source, quality),
         |cum AS (SELECT source, quality,
         |    CAST(sum(c) OVER (PARTITION BY source ORDER BY quality DESC)
         |         AS BIGINT) AS cum
         |  FROM dist),
         |thr AS (SELECT c.source, max(c.quality) AS threshold
         |  FROM cum c JOIN n USING (source)
         |  WHERE c.cum >= greatest(1, n.n_docs // 4)
         |  GROUP BY c.source),
         |k AS (SELECT p.source, count(*) AS n_kept,
         |    CAST(sum(p.n_chars) AS BIGINT) AS kept_chars
         |  FROM pd p JOIN thr t ON t.source = p.source AND p.quality >= t.threshold
         |  GROUP BY p.source)
         |SELECT n.source, n.n_docs, t.threshold, k.n_kept, k.kept_chars,
         |  (k.n_kept * 1000000) // n.n_docs AS kept_ppm
         |FROM n JOIN thr t USING (source) JOIN k USING (source)
         |ORDER BY source""".stripMargin,
    // Gram replay (the q124 derivation without the DISTINCT) + the
    // per-(source, gram) count rollup.
    "q129_source_gram_diversity" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |g0 AS (SELECT source, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
        |  FROM t WHERE len(ws) >= 8),
        |go AS (SELECT source,
        |    CAST(('0x' || substr(md5(
        |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM g0),
        |per AS (SELECT source, h, count(*) AS c FROM go GROUP BY source, h)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS total_grams,
        |  count(*) AS distinct_grams,
        |  CAST(sum(c - 1) AS BIGINT) AS dup_occurrences,
        |  (count(*) * 1000000) // CAST(sum(c) AS BIGINT) AS diversity_ppm,
        |  (CAST(sum(c - 1) AS BIGINT) * 1000000)
        |    // CAST(sum(c) AS BIGINT) AS boilerplate_ppm
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    // Erasure arithmetic replayed over the landed index artifacts
    // (the artifacts themselves are gated by their own queries): same
    // victim rule, same any-key pair rule, same distinct-index repair
    // semi-join, same min-surviving-member relabel; every n_leaked is
    // measured from the erased output.
    "q141_index_erasure" ->
      s"""WITH v AS (SELECT doc_id AS key FROM documents WHERE doc_id % 37 = 5),
         |dl AS (SELECT * FROM '$oracleWhDir/bm25_doclens/*.parquet'),
         |bp AS (SELECT * FROM '$oracleWhDir/bm25_postings/*.parquet'),
         |go2 AS (SELECT * FROM '$oracleWhDir/gram_occurrences/*.parquet'),
         |pr AS (SELECT * FROM '$oracleWhDir/neardup_pairs/*.parquet'),
         |cl AS (SELECT * FROM '$oracleWhDir/neardup_clusters/*.parquet'),
         |hsd AS (SELECT * FROM '$oracleWhDir/doc_hashsets/*.parquet'),
         |tp AS (SELECT * FROM '$oracleWhDir/token_positions/*.parquet'),
         |rs AS (SELECT * FROM '$oracleWhDir/release_survivors/*.parquet'),
         |goe AS (SELECT * FROM go2 WHERE doc_id NOT IN (SELECT key FROM v)),
         |perh AS (SELECT h, count(*) AS n_total,
         |    count(CASE WHEN doc_id IN (SELECT key FROM v) THEN 1 END) AS n_victim
         |  FROM go2 GROUP BY h),
         |surv AS (SELECT * FROM cl WHERE doc_id NOT IN (SELECT key FROM v)),
         |nlab AS (SELECT cluster_id, min(doc_id) AS nl FROM surv GROUP BY cluster_id),
         |rel AS (SELECT s.doc_id, n.nl AS new_cid, s.cluster_id AS old_cid
         |  FROM surv s JOIN nlab n USING (cluster_id))
         |SELECT * FROM (
         |SELECT 'bm25_doclens' AS table_name,
         |  (SELECT count(*) FROM dl) AS n_before,
         |  (SELECT count(*) FROM dl WHERE doc_id IN (SELECT key FROM v)) AS n_deleted,
         |  (SELECT count(*) FROM dl WHERE doc_id NOT IN (SELECT key FROM v)) AS n_after,
         |  (SELECT count(*) FROM dl WHERE doc_id NOT IN (SELECT key FROM v)
         |     AND doc_id IN (SELECT key FROM v)) AS n_leaked,
         |  CAST(0 AS BIGINT) AS n_repaired
         |UNION ALL
         |SELECT 'bm25_postings',
         |  (SELECT count(*) FROM bp),
         |  (SELECT count(*) FROM bp WHERE doc_id IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM bp WHERE doc_id NOT IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM bp WHERE doc_id NOT IN (SELECT key FROM v)
         |     AND doc_id IN (SELECT key FROM v)),
         |  CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'gram_occurrences',
         |  (SELECT count(*) FROM go2),
         |  (SELECT count(*) FROM go2 WHERE doc_id IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM goe),
         |  (SELECT count(*) FROM goe WHERE doc_id IN (SELECT key FROM v)),
         |  CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'neardup_pairs',
         |  (SELECT count(*) FROM pr),
         |  (SELECT count(*) FROM pr WHERE doc_a IN (SELECT key FROM v)
         |     OR doc_b IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM pr WHERE doc_a NOT IN (SELECT key FROM v)
         |     AND doc_b NOT IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM pr WHERE doc_a NOT IN (SELECT key FROM v)
         |     AND doc_b NOT IN (SELECT key FROM v)
         |     AND (doc_a IN (SELECT key FROM v) OR doc_b IN (SELECT key FROM v))),
         |  CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'doc_hashsets',
         |  (SELECT count(*) FROM hsd),
         |  (SELECT count(*) FROM hsd WHERE doc_id IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM hsd WHERE doc_id NOT IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM hsd WHERE doc_id NOT IN (SELECT key FROM v)
         |     AND doc_id IN (SELECT key FROM v)),
         |  CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'token_positions',
         |  (SELECT count(*) FROM tp),
         |  (SELECT count(*) FROM tp WHERE doc_id IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM tp WHERE doc_id NOT IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM tp WHERE doc_id NOT IN (SELECT key FROM v)
         |     AND doc_id IN (SELECT key FROM v)),
         |  CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'release_survivors',
         |  (SELECT count(*) FROM rs),
         |  (SELECT count(*) FROM rs WHERE doc_id IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM rs WHERE doc_id NOT IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM rs WHERE doc_id NOT IN (SELECT key FROM v)
         |     AND doc_id IN (SELECT key FROM v)),
         |  CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'gram_index',
         |  (SELECT count(*) FROM perh),
         |  (SELECT count(*) FROM perh WHERE n_total = n_victim),
         |  (SELECT count(*) FROM perh WHERE n_total > n_victim),
         |  (SELECT count(*)
         |     FROM (SELECT DISTINCT h FROM go2
         |           WHERE h IN (SELECT h FROM goe)) rep
         |     WHERE rep.h IN (SELECT h FROM perh WHERE n_total = n_victim)),
         |  CAST(0 AS BIGINT)
         |UNION ALL
         |SELECT 'neardup_clusters',
         |  (SELECT count(*) FROM cl),
         |  (SELECT count(*) FROM cl) - (SELECT count(*) FROM rel),
         |  (SELECT count(*) FROM rel),
         |  (SELECT count(*) FROM rel WHERE doc_id IN (SELECT key FROM v)
         |     OR new_cid IN (SELECT key FROM v)),
         |  (SELECT count(*) FROM rel WHERE new_cid <> old_cid)
         |) ORDER BY table_name""".stripMargin,
    // The release capstone replayed END-TO-END: LSH closure → keepers,
    // q122 scrub (clean token lists), q128 thresholds over the
    // survivors, the q127 mixture chain, q132 hash sampling on released
    // token mass, q45 chunk/pack over the released clean text — one
    // card per source.
    // Band-occupancy replay: the LSH signature/band CTEs (the q14
    // chain up to `bands`), per-bucket counts, per-band rollup.
    "q162_lsh_bucket_audit" ->
      s"""WITH $ShinglesCte,
         |grp AS (SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY
         |      CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS rep
         |  FROM documents),
         |hs AS (SELECT sh.doc_id, shingles,
         |  list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)) AS h28s
         |  FROM sh JOIN grp ON grp.doc_id = sh.doc_id AND grp.doc_id = grp.rep),
         |sig AS (SELECT doc_id,
         |  list_transform(generate_series(0, 15), j ->
         |    coalesce(list_min(list_transform(h28s,
         |      h -> ((2*j + 1) * h + 104729*j + 7919) % 268435399)), 268435399)) AS sig
         |  FROM hs),
         |bands AS (SELECT doc_id,
         |  b, CAST(sig[2*b + 1] AS VARCHAR) || '_' || CAST(sig[2*b + 2] AS VARCHAR) AS band_key
         |  FROM sig, generate_series(0, 7) t(b)),
         |occ AS (SELECT b AS band, band_key, CAST(count(*) AS BIGINT) AS n
         |  FROM bands GROUP BY b, band_key)
         |SELECT CAST(band AS BIGINT) AS band,
         |  count(*) AS n_buckets,
         |  CAST(max(n) AS BIGINT) AS max_bucket,
         |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs,
         |  CAST(max(n * (n - 1) // 2) AS BIGINT) AS max_bucket_pairs,
         |  (CAST(max(n * (n - 1) // 2) AS BIGINT) * 1000000)
         |    // greatest(1, CAST(sum(n * (n - 1) // 2) AS BIGINT)) AS hot_share_ppm,
         |  CAST(sum(least(n, 256) * (least(n, 256) - 1) // 2) AS BIGINT) AS capped_pairs,
         |  CAST(sum(n * (n - 1) // 2) - sum(least(n, 256) * (least(n, 256) - 1) // 2)
         |    AS BIGINT) AS dropped_pairs,
         |  (CAST(sum(n * (n - 1) // 2) - sum(least(n, 256) * (least(n, 256) - 1) // 2)
         |     AS BIGINT) * 1000000)
         |    // greatest(1, CAST(sum(n * (n - 1) // 2) AS BIGINT)) AS dropped_ppm
         |FROM occ GROUP BY band ORDER BY band""".stripMargin,
    // Manifest replay: the q140 chain verbatim up to the released set,
    // then the order-independent xor fingerprint (bit_xor of
    // h60(doc_id ':' md5(clean_text))) per source.
    "q161_release_manifest" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
         |t AS MATERIALIZED (SELECT doc_id,
         |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
         |  FROM t WHERE len(ws) >= 8),
         |g AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    CAST(('0x' || substr(md5(
         |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM g0),
         |kd AS (SELECT h, min(doc_id) AS kd FROM g GROUP BY h),
         |kp AS (SELECT g.h, k.kd, min(g.pos) AS kp
         |  FROM g JOIN kd k ON g.h = k.h AND g.doc_id = k.kd GROUP BY g.h, k.kd),
         |dp AS (SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS ps
         |  FROM g JOIN kp ON g.h = kp.h
         |  WHERE NOT (g.doc_id = kp.kd AND g.pos = kp.kp)
         |  GROUP BY g.doc_id),
         |rr AS (SELECT t.doc_id, ws, coalesce(ps, CAST([] AS BIGINT[])) AS ps
         |  FROM t LEFT JOIN dp USING (doc_id)),
         |cv AS (SELECT doc_id, ws,
         |    list_distinct(flatten(list_transform(ps, p -> generate_series(p, p + 7)))) AS cov
         |  FROM rr),
         |scr AS MATERIALIZED (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(ws) - len(cov) AS BIGINT) AS kept_tokens,
         |    list_transform(list_filter(generate_series(1, len(ws)),
         |      i -> NOT list_contains(cov, i)), i -> ws[i]) AS cws
         |  FROM cv),
         |$docQualityCtes,
         |surv AS MATERIALIZED (SELECT scr.doc_id, d.source, scr.n_tokens, scr.kept_tokens,
         |    scr.cws, q.quality
         |  FROM scr JOIN keep USING (doc_id)
         |  JOIN documents d USING (doc_id) JOIN q USING (doc_id)),
         |sn AS (SELECT source, count(*) AS n_rows FROM surv GROUP BY source),
         |sdist AS (SELECT source, quality, count(*) AS cq
         |  FROM surv GROUP BY source, quality),
         |scum AS (SELECT source, quality,
         |    CAST(sum(cq) OVER (PARTITION BY source ORDER BY quality DESC)
         |         AS BIGINT) AS cum
         |  FROM sdist),
         |thr AS (SELECT s2.source, max(s2.quality) AS threshold
         |  FROM scum s2 JOIN sn USING (source)
         |  WHERE s2.cum >= greatest(1, sn.n_rows // 4)
         |  GROUP BY s2.source),
         |gated AS MATERIALIZED (SELECT s3.* FROM surv s3
         |  JOIN thr t3 ON t3.source = s3.source AND s3.quality >= t3.threshold),
         |pd2 AS (SELECT d.doc_id, d.source, q.quality
         |  FROM documents d JOIN q USING (doc_id)),
         |ps2 AS (SELECT source, CAST(sum(quality) AS BIGINT) // count(*) AS avg_q
         |  FROM pd2 GROUP BY source),
         |gg2 AS (SELECT CAST(sum(quality) AS BIGINT) // count(*) AS gavg FROM pd2),
         |b2 AS (SELECT ps2.source,
         |    greatest(CAST(0 AS BIGINT),
         |      ((gg2.gavg - ps2.avg_q) * 1000000) // gg2.gavg) AS deficit_ppm
         |  FROM ps2 CROSS JOIN gg2),
         |f2 AS (SELECT source,
         |    1000000 + (200000 * deficit_ppm) // 1000000 AS factor FROM b2),
         |it2 AS (SELECT source,
         |    ((((((((((1000000 * factor) // 1000000) * factor) // 1000000)
         |      * factor) // 1000000) * factor) // 1000000) * factor) // 1000000) AS w
         |  FROM f2),
         |tt2 AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM it2),
         |mx AS (SELECT source, (w * 1000000) // w_tot AS mix_ppm
         |  FROM it2 CROSS JOIN tt2),
         |mass AS (SELECT source, count(*) AS n_gated,
         |    CAST(sum(kept_tokens) AS BIGINT) AS gated_tokens
         |  FROM gated GROUP BY source),
         |mtot AS (SELECT CAST(sum(gated_tokens) AS BIGINT) AS all_tokens FROM mass),
         |rates AS (SELECT mass.source, mass.n_gated,
         |    (mass.gated_tokens * 1000000) // greatest(1, mtot.all_tokens) AS share_ppm,
         |    mx.mix_ppm,
         |    least(1000000, (mx.mix_ppm * 1000000) // greatest(1,
         |      (mass.gated_tokens * 1000000) // greatest(1, mtot.all_tokens))) AS keep_ppm
         |  FROM mass CROSS JOIN mtot JOIN mx ON mx.source = mass.source),
         |rel AS MATERIALIZED (SELECT g2.*, r2.keep_ppm FROM gated g2
         |  JOIN rates r2 ON r2.source = g2.source
         |  WHERE CAST(('0x' || substr(md5(CAST(g2.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % 1000000 < r2.keep_ppm)
         |SELECT source, count(*) AS n_released,
         |  CAST(sum(kept_tokens) AS BIGINT) AS released_tokens,
         |  bit_xor(CAST(('0x' || substr(md5(
         |      CAST(doc_id AS VARCHAR) || ':' ||
         |      md5(coalesce(array_to_string(cws, ' '), ''))), 1, 15)) AS BIGINT))
         |    AS content_fp60
         |FROM rel GROUP BY source ORDER BY source""".stripMargin,
    "q140_release_card" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
         |-- (comp is MATERIALIZED: the closure rollup is re-read by several
         |-- consumers; inlining re-ran the recursive reach per consumer)
         |t AS MATERIALIZED (SELECT doc_id,
         |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
         |  FROM t WHERE len(ws) >= 8),
         |g AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    CAST(('0x' || substr(md5(
         |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM g0),
         |kd AS (SELECT h, min(doc_id) AS kd FROM g GROUP BY h),
         |kp AS (SELECT g.h, k.kd, min(g.pos) AS kp
         |  FROM g JOIN kd k ON g.h = k.h AND g.doc_id = k.kd GROUP BY g.h, k.kd),
         |dp AS (SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS ps
         |  FROM g JOIN kp ON g.h = kp.h
         |  WHERE NOT (g.doc_id = kp.kd AND g.pos = kp.kp)
         |  GROUP BY g.doc_id),
         |rr AS (SELECT t.doc_id, ws, coalesce(ps, CAST([] AS BIGINT[])) AS ps
         |  FROM t LEFT JOIN dp USING (doc_id)),
         |cv AS (SELECT doc_id, ws,
         |    list_distinct(flatten(list_transform(ps, p -> generate_series(p, p + 7)))) AS cov
         |  FROM rr),
         |scr AS MATERIALIZED (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(ws) - len(cov) AS BIGINT) AS kept_tokens,
         |    list_transform(list_filter(generate_series(1, len(ws)),
         |      i -> NOT list_contains(cov, i)), i -> ws[i]) AS cws
         |  FROM cv),
         |$docQualityCtes,
         |surv AS MATERIALIZED (SELECT scr.doc_id, d.source, scr.n_tokens, scr.kept_tokens,
         |    scr.cws, q.quality
         |  FROM scr JOIN keep USING (doc_id)
         |  JOIN documents d USING (doc_id) JOIN q USING (doc_id)),
         |sn AS (SELECT source, count(*) AS n_rows FROM surv GROUP BY source),
         |sdist AS (SELECT source, quality, count(*) AS cq
         |  FROM surv GROUP BY source, quality),
         |scum AS (SELECT source, quality,
         |    CAST(sum(cq) OVER (PARTITION BY source ORDER BY quality DESC)
         |         AS BIGINT) AS cum
         |  FROM sdist),
         |thr AS (SELECT s2.source, max(s2.quality) AS threshold
         |  FROM scum s2 JOIN sn USING (source)
         |  WHERE s2.cum >= greatest(1, sn.n_rows // 4)
         |  GROUP BY s2.source),
         |gated AS MATERIALIZED (SELECT s3.* FROM surv s3
         |  JOIN thr t3 ON t3.source = s3.source AND s3.quality >= t3.threshold),
         |pd2 AS (SELECT d.doc_id, d.source, q.quality
         |  FROM documents d JOIN q USING (doc_id)),
         |ps2 AS (SELECT source, CAST(sum(quality) AS BIGINT) // count(*) AS avg_q
         |  FROM pd2 GROUP BY source),
         |gg2 AS (SELECT CAST(sum(quality) AS BIGINT) // count(*) AS gavg FROM pd2),
         |b2 AS (SELECT ps2.source,
         |    greatest(CAST(0 AS BIGINT),
         |      ((gg2.gavg - ps2.avg_q) * 1000000) // gg2.gavg) AS deficit_ppm
         |  FROM ps2 CROSS JOIN gg2),
         |f2 AS (SELECT source,
         |    1000000 + (200000 * deficit_ppm) // 1000000 AS factor FROM b2),
         |it2 AS (SELECT source,
         |    ((((((((((1000000 * factor) // 1000000) * factor) // 1000000)
         |      * factor) // 1000000) * factor) // 1000000) * factor) // 1000000) AS w
         |  FROM f2),
         |tt2 AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM it2),
         |mx AS (SELECT source, (w * 1000000) // w_tot AS mix_ppm
         |  FROM it2 CROSS JOIN tt2),
         |mass AS (SELECT source, count(*) AS n_gated,
         |    CAST(sum(kept_tokens) AS BIGINT) AS gated_tokens
         |  FROM gated GROUP BY source),
         |mtot AS (SELECT CAST(sum(gated_tokens) AS BIGINT) AS all_tokens FROM mass),
         |rates AS (SELECT mass.source, mass.n_gated,
         |    (mass.gated_tokens * 1000000) // greatest(1, mtot.all_tokens) AS share_ppm,
         |    mx.mix_ppm,
         |    least(1000000, (mx.mix_ppm * 1000000) // greatest(1,
         |      (mass.gated_tokens * 1000000) // greatest(1, mtot.all_tokens))) AS keep_ppm
         |  FROM mass CROSS JOIN mtot JOIN mx ON mx.source = mass.source),
         |rel AS MATERIALIZED (SELECT g2.*, r2.keep_ppm FROM gated g2
         |  JOIN rates r2 ON r2.source = g2.source
         |  WHERE CAST(('0x' || substr(md5(CAST(g2.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % 1000000 < r2.keep_ppm),
         |cc AS (SELECT doc_id, source, len(cws) AS nn,
         |    unnest(generate_series(CAST(0 AS BIGINT),
         |      CAST((greatest(len(cws) - 64, 0) + 47) // 48 AS BIGINT))) AS chunk_id
         |  FROM rel),
         |chf AS (SELECT doc_id, source, chunk_id,
         |    greatest(least(nn - chunk_id*48, 64), CAST(0 AS BIGINT)) AS nct
         |  FROM cc WHERE greatest(least(nn - chunk_id*48, 64), CAST(0 AS BIGINT)) > 0),
         |rt2 AS (SELECT doc_id, source, chunk_id, nct,
         |    sum(nct) OVER (ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING)
         |      AS running_total
         |  FROM chf),
         |pk AS (SELECT source, (running_total - nct) // 512 AS pack_id FROM rt2),
         |pstats AS (SELECT source, count(*) AS n_chunks,
         |    count(DISTINCT pack_id) AS n_packs_touched FROM pk GROUP BY source),
         |raw2 AS (SELECT source, count(*) AS n_docs_raw FROM documents GROUP BY source),
         |sstats AS (SELECT source, count(*) AS n_survivors FROM surv GROUP BY source),
         |rstats AS (SELECT source, count(*) AS n_released,
         |    CAST(sum(n_tokens) AS BIGINT) AS pre_toks,
         |    CAST(sum(kept_tokens) AS BIGINT) AS released_tokens,
         |    CAST(sum(quality) AS BIGINT) AS sq
         |  FROM rel GROUP BY source)
         |SELECT raw2.source, raw2.n_docs_raw,
         |  coalesce(sstats.n_survivors, 0) AS n_survivors,
         |  coalesce(thr.threshold, 0) AS threshold,
         |  coalesce(rates.n_gated, 0) AS n_gated,
         |  coalesce(rates.share_ppm, 0) AS share_ppm,
         |  coalesce(rates.mix_ppm, 0) AS mix_ppm,
         |  coalesce(rates.keep_ppm, 0) AS keep_ppm,
         |  coalesce(rstats.n_released, 0) AS n_released,
         |  coalesce(rstats.released_tokens, 0) AS released_tokens,
         |  coalesce(((rstats.pre_toks - rstats.released_tokens) * 1000000)
         |    // greatest(1, rstats.pre_toks), 0) AS scrub_removed_ppm,
         |  coalesce(rstats.sq // rstats.n_released, 0) AS avg_quality_released,
         |  coalesce(pstats.n_chunks, 0) AS n_chunks,
         |  coalesce(pstats.n_packs_touched, 0) AS n_packs_touched
         |FROM raw2 LEFT JOIN sstats USING (source) LEFT JOIN thr USING (source)
         |LEFT JOIN rates USING (source) LEFT JOIN rstats USING (source)
         |LEFT JOIN pstats USING (source)
         |ORDER BY source""".stripMargin,
    // The diff replayed: one shared closure+scrub+quality derivation
    // (q140's), then the gate/mixture/sample decision chain TWICE —
    // once over the base membership (doc_id%10<>7), once over all —
    // and the per-source churn via a full-outer join of the two
    // released sets. Mixture targets (mx) are the frozen full-corpus
    // policy on both sides, exactly as the operator documents.
    "q147_release_diff" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
         |-- (comp is MATERIALIZED: the closure rollup is re-read by several
         |-- consumers; inlining re-ran the recursive reach per consumer)
         |t AS MATERIALIZED (SELECT doc_id,
         |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
         |  FROM t WHERE len(ws) >= 8),
         |g AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    CAST(('0x' || substr(md5(
         |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM g0),
         |kd AS (SELECT h, min(doc_id) AS kd FROM g GROUP BY h),
         |kp AS (SELECT g.h, k.kd, min(g.pos) AS kp
         |  FROM g JOIN kd k ON g.h = k.h AND g.doc_id = k.kd GROUP BY g.h, k.kd),
         |dp AS (SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS ps
         |  FROM g JOIN kp ON g.h = kp.h
         |  WHERE NOT (g.doc_id = kp.kd AND g.pos = kp.kp)
         |  GROUP BY g.doc_id),
         |rr AS (SELECT t.doc_id, ws, coalesce(ps, CAST([] AS BIGINT[])) AS ps
         |  FROM t LEFT JOIN dp USING (doc_id)),
         |cv AS (SELECT doc_id, ws,
         |    list_distinct(flatten(list_transform(ps, p -> generate_series(p, p + 7)))) AS cov
         |  FROM rr),
         |scr AS MATERIALIZED (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |    CAST(len(ws) - len(cov) AS BIGINT) AS kept_tokens
         |  FROM cv),
         |$docQualityCtes,
         |surv AS MATERIALIZED (SELECT scr.doc_id, d.source, scr.n_tokens, scr.kept_tokens,
         |    q.quality
         |  FROM scr JOIN keep USING (doc_id)
         |  JOIN documents d USING (doc_id) JOIN q USING (doc_id)),
         |pd2 AS (SELECT d.doc_id, d.source, q.quality
         |  FROM documents d JOIN q USING (doc_id)),
         |ps2 AS (SELECT source, CAST(sum(quality) AS BIGINT) // count(*) AS avg_q
         |  FROM pd2 GROUP BY source),
         |gg2 AS (SELECT CAST(sum(quality) AS BIGINT) // count(*) AS gavg FROM pd2),
         |b2 AS (SELECT ps2.source,
         |    greatest(CAST(0 AS BIGINT),
         |      ((gg2.gavg - ps2.avg_q) * 1000000) // gg2.gavg) AS deficit_ppm
         |  FROM ps2 CROSS JOIN gg2),
         |f2 AS (SELECT source,
         |    1000000 + (200000 * deficit_ppm) // 1000000 AS factor FROM b2),
         |it2 AS (SELECT source,
         |    ((((((((((1000000 * factor) // 1000000) * factor) // 1000000)
         |      * factor) // 1000000) * factor) // 1000000) * factor) // 1000000) AS w
         |  FROM f2),
         |tt2 AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM it2),
         |mx AS (SELECT source, (w * 1000000) // w_tot AS mix_ppm
         |  FROM it2 CROSS JOIN tt2),
         |survp AS MATERIALIZED (SELECT * FROM surv WHERE doc_id % 10 <> 7),
         |snp AS (SELECT source, count(*) AS n_rows FROM survp GROUP BY source),
         |sdp AS (SELECT source, quality, count(*) AS cq
         |  FROM survp GROUP BY source, quality),
         |scp AS (SELECT source, quality,
         |    CAST(sum(cq) OVER (PARTITION BY source ORDER BY quality DESC)
         |         AS BIGINT) AS cum
         |  FROM sdp),
         |thrp AS (SELECT s2.source, max(s2.quality) AS threshold
         |  FROM scp s2 JOIN snp USING (source)
         |  WHERE s2.cum >= greatest(1, snp.n_rows // 4)
         |  GROUP BY s2.source),
         |gatp AS (SELECT s3.* FROM survp s3
         |  JOIN thrp t3 ON t3.source = s3.source AND s3.quality >= t3.threshold),
         |masp AS (SELECT source, count(*) AS n_gated,
         |    CAST(sum(kept_tokens) AS BIGINT) AS gated_tokens
         |  FROM gatp GROUP BY source),
         |mtp AS (SELECT CAST(sum(gated_tokens) AS BIGINT) AS all_tokens FROM masp),
         |ratp AS (SELECT masp.source,
         |    least(1000000, (mx.mix_ppm * 1000000) // greatest(1,
         |      (masp.gated_tokens * 1000000) // greatest(1, mtp.all_tokens))) AS keep_ppm
         |  FROM masp CROSS JOIN mtp JOIN mx ON mx.source = masp.source),
         |relp AS (SELECT g2.doc_id, g2.source, g2.kept_tokens FROM gatp g2
         |  JOIN ratp r2 ON r2.source = g2.source
         |  WHERE CAST(('0x' || substr(md5(CAST(g2.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % 1000000 < r2.keep_ppm),
         |snc AS (SELECT source, count(*) AS n_rows FROM surv GROUP BY source),
         |sdc AS (SELECT source, quality, count(*) AS cq
         |  FROM surv GROUP BY source, quality),
         |scc AS (SELECT source, quality,
         |    CAST(sum(cq) OVER (PARTITION BY source ORDER BY quality DESC)
         |         AS BIGINT) AS cum
         |  FROM sdc),
         |thrc AS (SELECT s2.source, max(s2.quality) AS threshold
         |  FROM scc s2 JOIN snc USING (source)
         |  WHERE s2.cum >= greatest(1, snc.n_rows // 4)
         |  GROUP BY s2.source),
         |gatc AS (SELECT s3.* FROM surv s3
         |  JOIN thrc t3 ON t3.source = s3.source AND s3.quality >= t3.threshold),
         |masc AS (SELECT source, count(*) AS n_gated,
         |    CAST(sum(kept_tokens) AS BIGINT) AS gated_tokens
         |  FROM gatc GROUP BY source),
         |mtc AS (SELECT CAST(sum(gated_tokens) AS BIGINT) AS all_tokens FROM masc),
         |ratc AS (SELECT masc.source,
         |    least(1000000, (mx.mix_ppm * 1000000) // greatest(1,
         |      (masc.gated_tokens * 1000000) // greatest(1, mtc.all_tokens))) AS keep_ppm
         |  FROM masc CROSS JOIN mtc JOIN mx ON mx.source = masc.source),
         |relc AS (SELECT g2.doc_id, g2.source, g2.kept_tokens FROM gatc g2
         |  JOIN ratc r2 ON r2.source = g2.source
         |  WHERE CAST(('0x' || substr(md5(CAST(g2.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % 1000000 < r2.keep_ppm),
         |churn AS (SELECT coalesce(relc.source, relp.source) AS source,
         |    count(CASE WHEN relc.doc_id IS NOT NULL AND relp.doc_id IS NULL
         |               THEN 1 END) AS n_added,
         |    count(CASE WHEN relp.doc_id IS NOT NULL AND relc.doc_id IS NULL
         |               THEN 1 END) AS n_removed
         |  FROM relc FULL OUTER JOIN relp USING (doc_id) GROUP BY 1),
         |rsp AS (SELECT source, count(*) AS n_released_prev,
         |    CAST(sum(kept_tokens) AS BIGINT) AS released_tokens_prev
         |  FROM relp GROUP BY source),
         |rsc AS (SELECT source, count(*) AS n_released_cur,
         |    CAST(sum(kept_tokens) AS BIGINT) AS released_tokens_cur
         |  FROM relc GROUP BY source),
         |dim AS (SELECT DISTINCT source FROM documents)
         |SELECT dim.source,
         |  coalesce(rsp.n_released_prev, 0) AS n_released_prev,
         |  coalesce(rsc.n_released_cur, 0) AS n_released_cur,
         |  coalesce(churn.n_added, 0) AS n_added,
         |  coalesce(churn.n_removed, 0) AS n_removed,
         |  coalesce(rsp.released_tokens_prev, 0) AS released_tokens_prev,
         |  coalesce(rsc.released_tokens_cur, 0) AS released_tokens_cur,
         |  coalesce(thrp.threshold, 0) AS threshold_prev,
         |  coalesce(thrc.threshold, 0) AS threshold_cur,
         |  coalesce(ratp.keep_ppm, 0) AS keep_ppm_prev,
         |  coalesce(ratc.keep_ppm, 0) AS keep_ppm_cur
         |FROM dim LEFT JOIN rsp USING (source) LEFT JOIN rsc USING (source)
         |LEFT JOIN churn USING (source) LEFT JOIN thrp USING (source)
         |LEFT JOIN thrc USING (source) LEFT JOIN ratp USING (source)
         |LEFT JOIN ratc USING (source)
         |ORDER BY dim.source""".stripMargin,
    // Gram replay (the q124/q129 derivation) + the q71 median/skew
    // arithmetic + the integer salt-bucket rule.
    "q139_gram_skew_audit" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
         |  FROM t WHERE len(ws) >= 8),
         |go AS (SELECT CAST(('0x' || substr(md5(
         |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM g0),
         |freq AS (SELECT h, count(*) AS cnt FROM go GROUP BY h),
         |dist AS (SELECT cnt, count(*) AS n_keys FROM freq GROUP BY cnt),
         |c AS (SELECT cnt,
         |    sum(n_keys) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM dist),
         |n AS (SELECT count(*) AS n FROM freq),
         |m AS (SELECT CAST(min(cnt) AS BIGINT) AS median_cnt FROM c, n
         |  WHERE cum * 2 >= n + 1)
         |SELECT h, CAST(cnt AS BIGINT) AS cnt, median_cnt,
         |  (CAST(cnt AS BIGINT) * 1000000) // median_cnt AS skew_micros,
         |  CAST(CASE WHEN cnt > 1024 THEN least(64, (cnt + 1023) // 1024)
         |    ELSE 1 END AS BIGINT) AS salt_buckets
         |FROM freq CROSS JOIN m ORDER BY cnt DESC, h LIMIT 10""".stripMargin,
    // The q92 encode replay rolled to sources, with char mass and the
    // global token total for shares.
    "q138_token_budget" ->
      s"""WITH RECURSIVE $bpeEncodeCtes,
         |ag AS (SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS p
         |  FROM pc GROUP BY doc_id),
         |per AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(p) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM ag JOIN documents USING (doc_id) GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_all FROM per)
         |SELECT source, n_docs, n_tokens, n_chars,
         |  (n_tokens * 1000000) // tok_all AS token_share_ppm,
         |  (n_tokens * 1000000) // greatest(1, n_chars) AS tokens_per_char_micro
         |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,
    // Assignment replay under the SELECTOR rule for both sides, the
    // same vec_id%10 split, per-cell counts over the codebook's cell
    // dim, integer ppm + abs gap.
    "q143_index_drift" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |a1 AS (SELECT vec_id, cell FROM r WHERE rn = 1),
         |ca AS (SELECT cell, count(*) AS corpus_n FROM a1
         |  WHERE vec_id % 10 <> 7 GROUP BY cell),
         |ba AS (SELECT cell, count(*) AS batch_n FROM a1
         |  WHERE vec_id % 10 = 7 GROUP BY cell),
         |j AS (SELECT c.cid AS cell,
         |    CAST(coalesce(ca.corpus_n, 0) AS BIGINT) AS corpus_n,
         |    CAST(coalesce(ba.batch_n, 0) AS BIGINT) AS batch_n
         |  FROM cent c LEFT JOIN ca ON ca.cell = c.cid LEFT JOIN ba ON ba.cell = c.cid),
         |t AS (SELECT CAST(sum(corpus_n) AS BIGINT) AS ct,
         |             CAST(sum(batch_n) AS BIGINT) AS bt FROM j)
         |SELECT cell, corpus_n, batch_n,
         |  (corpus_n * 1000000) // greatest(1, ct) AS corpus_ppm,
         |  (batch_n * 1000000) // greatest(1, bt) AS batch_ppm,
         |  abs((corpus_n * 1000000) // greatest(1, ct)
         |    - (batch_n * 1000000) // greatest(1, bt)) AS drift_ppm
         |FROM j CROSS JOIN t ORDER BY cell""".stripMargin,
    // Centroid-drift replay: the q85 fixed-point centroid CTE twice
    // (corpus/batch split on vec_id), full-outer label join, floor'd
    // centroid cosine — the −2e6 sentinel mirrors the engine's
    // "one side empty" rule.
    "q156_embedding_drift" ->
      s"""WITH $VecCte,
         |fx AS (SELECT CAST(vec_id % 10 = 7 AS INT) AS is_b, label, i,
         |    CAST(sum(CAST(floor((v[i] + 1) * 1048576) AS BIGINT)) AS BIGINT) AS s,
         |    count(*) AS n
         |  FROM en, generate_series(1, 64) t(i) GROUP BY is_b, label, i),
         |cent AS (SELECT is_b, label,
         |    list(CAST(s // n AS DOUBLE) / 1048576.0 - 1 ORDER BY i) AS cv,
         |    max(n) AS n
         |  FROM fx GROUP BY is_b, label),
         |j AS (SELECT coalesce(c.label, b.label) AS label, c.cv AS cv_c, b.cv AS cv_b,
         |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_corpus,
         |    CAST(coalesce(b.n, 0) AS BIGINT) AS n_batch
         |  FROM (SELECT * FROM cent WHERE is_b = 0) c
         |  FULL OUTER JOIN (SELECT * FROM cent WHERE is_b = 1) b ON c.label = b.label),
         |tot AS (SELECT CAST(sum(n_corpus) AS BIGINT) AS ct,
         |               CAST(sum(n_batch) AS BIGINT) AS bt FROM j)
         |SELECT label, n_corpus, n_batch,
         |  (n_corpus * 1000000) // greatest(1, ct) AS corpus_share_ppm,
         |  (n_batch * 1000000) // greatest(1, bt) AS batch_share_ppm,
         |  abs((n_corpus * 1000000) // greatest(1, ct)
         |    - (n_batch * 1000000) // greatest(1, bt)) AS share_drift_ppm,
         |  CASE WHEN cv_c IS NULL OR cv_b IS NULL THEN CAST(-2000000 AS BIGINT)
         |    ELSE CAST(floor(list_dot_product(cv_c, cv_b)
         |      / (sqrt(list_dot_product(cv_c, cv_c)) * sqrt(list_dot_product(cv_b, cv_b)))
         |      * 1000000.0) AS BIGINT) END AS centroid_cos_micro
         |FROM j CROSS JOIN tot ORDER BY label""".stripMargin,
    // Quality-drift replay: q47/q113's quality CTE, tie-stable decile
    // binning over the corpus side's distinct values, the same
    // edges-array clamp rule (a batch value below every corpus value
    // lands in bin 0).
    "q157_quality_drift" ->
      s"""WITH $docQualityCtes,
         |qq AS (SELECT doc_id, quality, CAST(doc_id % 10 = 7 AS INT) AS is_b FROM q),
         |dist AS (SELECT quality, count(*) AS c FROM qq WHERE is_b = 0 GROUP BY quality),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM dist),
         |cb AS (SELECT quality,
         |    least(9, (CAST(sum(c) OVER (ORDER BY quality) - c AS BIGINT) * 10) // tot)
         |      AS bin
         |  FROM dist CROSS JOIN tot),
         |bm AS (SELECT bin, min(quality) AS bin_min FROM cb GROUP BY bin),
         |asg AS (SELECT qq.doc_id, qq.is_b,
         |    coalesce((SELECT max(bin) FROM bm WHERE bm.bin_min <= qq.quality), 0)
         |      AS bin
         |  FROM qq),
         |cnt AS (SELECT bin, CAST(sum(1 - is_b) AS BIGINT) AS corpus_n,
         |    CAST(sum(is_b) AS BIGINT) AS batch_n FROM asg GROUP BY bin),
         |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
         |j AS (SELECT b.bin,
         |    CAST(coalesce(bm.bin_min, -1) AS BIGINT) AS bin_min_quality,
         |    coalesce(c.corpus_n, 0) AS corpus_n, coalesce(c.batch_n, 0) AS batch_n
         |  FROM bins b LEFT JOIN cnt c ON c.bin = b.bin LEFT JOIN bm ON bm.bin = b.bin),
         |t2 AS (SELECT CAST(sum(corpus_n) AS BIGINT) AS ct,
         |               CAST(sum(batch_n) AS BIGINT) AS bt FROM j)
         |SELECT bin, bin_min_quality, corpus_n, batch_n,
         |  (corpus_n * 1000000) // greatest(1, ct) AS corpus_ppm,
         |  (batch_n * 1000000) // greatest(1, bt) AS batch_ppm,
         |  abs((corpus_n * 1000000) // greatest(1, ct)
         |    - (batch_n * 1000000) // greatest(1, bt)) AS drift_ppm
         |FROM j CROSS JOIN t2 ORDER BY bin""".stripMargin,
    // Novelty replay: the q129 gram CTE split corpus/batch on doc_id,
    // distinct corpus index, left join, per-source rollup driven from
    // the batch's source dim (a gram-less source still reports zeros).
    "q158_batch_novelty" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
        |  FROM t WHERE len(ws) >= 8),
        |go AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(
        |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM g0),
        |idx AS (SELECT DISTINCT h FROM go WHERE doc_id % 10 <> 7),
        |bg AS (SELECT doc_id, h FROM go WHERE doc_id % 10 = 7),
        |m AS (SELECT bg.doc_id, bg.h,
        |    CAST(idx.h IS NOT NULL AS INT) AS known
        |  FROM bg LEFT JOIN idx ON idx.h = bg.h),
        |per AS (SELECT d.source,
        |    count(*) AS n_grams,
        |    CAST(sum(1 - known) AS BIGINT) AS n_novel,
        |    count(DISTINCT CASE WHEN known = 0 THEN m.h END) AS n_distinct_novel
        |  FROM m JOIN documents d USING (doc_id) GROUP BY d.source),
        |srcs AS (SELECT DISTINCT source FROM documents WHERE doc_id % 10 = 7)
        |SELECT s.source,
        |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
        |  coalesce(n_novel, 0) AS n_novel,
        |  (coalesce(n_novel, 0) * 1000000) // greatest(1, coalesce(n_grams, 0))
        |    AS novelty_ppm,
        |  CAST(coalesce(n_distinct_novel, 0) AS BIGINT) AS n_distinct_novel
        |FROM srcs s LEFT JOIN per ON per.source = s.source
        |ORDER BY s.source""".stripMargin,
    // Epoch-shuffle replay: the oracle IS the naive global window the
    // engine never runs (the q38 compare discipline) — hash-matching
    // proves the bucket decomposition exact at every boundary.
    "q159_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5('ep:1:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |  FROM k)
        |SELECT doc_id, pos, CAST(pos % 8 AS BIGINT) AS worker
        |FROM r ORDER BY pos""".stripMargin,
    // Worker-mixture replay: the q159 rank as a global window, token
    // counts under the shared tokenization, per-(worker, source)
    // rollup against worker-local and corpus totals.
    "q160_worker_mixture" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(list_filter(str_split(text, ' '), w -> w <> '')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |k AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5('ep:1:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) % 8 AS worker
        |  FROM k),
        |per AS (SELECT worker, source, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS tok
        |  FROM t JOIN r USING (doc_id) GROUP BY worker, source),
        |wt AS (SELECT worker, CAST(sum(tok) AS BIGINT) AS wt FROM per GROUP BY worker),
        |cs AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS stok FROM t GROUP BY source),
        |ct AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS ctot FROM t)
        |SELECT p.worker, p.source, p.n_docs, p.tok,
        |  (p.tok * 1000000) // greatest(1, wt.wt) AS share_ppm,
        |  (cs.stok * 1000000) // greatest(1, ct.ctot) AS corpus_share_ppm,
        |  abs((p.tok * 1000000) // greatest(1, wt.wt)
        |    - (cs.stok * 1000000) // greatest(1, ct.ctot)) AS drift_ppm
        |FROM per p JOIN wt USING (worker) JOIN cs USING (source) CROSS JOIN ct
        |ORDER BY worker, source""".stripMargin,
    // Bipartite margin replay: assignment under the SELECTOR rule,
    // batch/corpus split on vec_id, mutual best — denominators replay
    // the margin_denoms ARTIFACT semantics: the FULL-corpus
    // cross-label neighborhoods (so the gate checks the landed
    // denominators too), coalesced over the bipartite estimate exactly
    // like the engine's fallback for artifact-unseen vectors.
    "q137_margin_mining_incr" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |a1 AS MATERIALIZED (SELECT vec_id, cell FROM r WHERE rn = 1),
         |ec AS MATERIALIZED (SELECT en.vec_id, en.label, en.v, en.nrm, a1.cell
         |  FROM en JOIN a1 USING (vec_id)),
         |nx AS (SELECT * FROM ec WHERE vec_id % 10 = 7),
         |cy AS (SELECT * FROM ec WHERE vec_id % 10 <> 7),
         |cpos AS MATERIALIZED (SELECT * FROM (
         |  SELECT x.vec_id AS xid, x.label AS xlab, y.vec_id AS yid, y.label AS ylab,
         |    CAST(floor(list_dot_product(x.v, y.v) / (x.nrm * y.nrm) * 1000000.0)
         |         AS BIGINT) AS cos_micro
         |  FROM nx x JOIN cy y ON x.cell = y.cell AND x.label <> y.label)
         |  WHERE cos_micro > 0),
         |fpos AS MATERIALIZED (SELECT * FROM (
         |  SELECT a.vec_id AS xid, b.vec_id AS yid,
         |    CAST(floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000.0)
         |         AS BIGINT) AS cos_micro
         |  FROM ec a JOIN ec b ON a.cell = b.cell AND a.label <> b.label)
         |  WHERE cos_micro > 0),
         |fden AS (SELECT xid AS id, CAST(sum(cos_micro) AS BIGINT) // count(*) AS den
         |  FROM (SELECT xid, yid, cos_micro,
         |      row_number() OVER (PARTITION BY xid ORDER BY cos_micro DESC, yid) AS rk
         |    FROM fpos) WHERE rk <= 3 GROUP BY xid),
         |dxb AS (SELECT xid, CAST(sum(cos_micro) AS BIGINT) // count(*) AS den_b
         |  FROM (SELECT xid, yid, cos_micro,
         |      row_number() OVER (PARTITION BY xid ORDER BY cos_micro DESC, yid) AS rk
         |    FROM cpos) WHERE rk <= 3 GROUP BY xid),
         |dyb AS (SELECT yid, CAST(sum(cos_micro) AS BIGINT) // count(*) AS den_b
         |  FROM (SELECT xid, yid, cos_micro,
         |      row_number() OVER (PARTITION BY yid ORDER BY cos_micro DESC, xid) AS rk
         |    FROM cpos) WHERE rk <= 3 GROUP BY yid),
         |dx AS (SELECT b.xid, COALESCE(f.den, b.den_b) AS den_x
         |  FROM dxb b LEFT JOIN fden f ON f.id = b.xid),
         |dy AS (SELECT b.yid, COALESCE(f.den, b.den_b) AS den_y
         |  FROM dyb b LEFT JOIN fden f ON f.id = b.yid),
         |sc AS MATERIALIZED (SELECT c.xid, c.xlab, c.yid, c.ylab, c.cos_micro,
         |    (2 * c.cos_micro * 1000000) // (dx.den_x + dy.den_y) AS margin_ppm
         |  FROM cpos c JOIN dx USING (xid) JOIN dy USING (yid)),
         |bx AS (SELECT xid, yid FROM (
         |  SELECT xid, yid,
         |    row_number() OVER (PARTITION BY xid ORDER BY margin_ppm DESC, yid) AS rn
         |  FROM sc) WHERE rn = 1),
         |by2 AS (SELECT yid, xid FROM (
         |  SELECT yid, xid,
         |    row_number() OVER (PARTITION BY yid ORDER BY margin_ppm DESC, xid) AS rn
         |  FROM sc) WHERE rn = 1)
         |SELECT s.xid AS vec_new, s.yid AS vec_corpus,
         |  s.xlab AS label_new, s.ylab AS label_corpus, s.cos_micro, s.margin_ppm
         |FROM sc s JOIN bx ON bx.xid = s.xid AND bx.yid = s.yid
         |JOIN by2 ON by2.yid = s.yid AND by2.xid = s.xid
         |ORDER BY vec_new, vec_corpus""".stripMargin,
    // The q21 vote replayed at both granularities + the disagreement
    // rollup (DuckDB lateral alias refs keep the counts readable).
    "q136_code_switch" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(list_transform(str_split(text, '. '), x -> trim(x)),
        |      x -> x <> '') AS sents
        |  FROM documents WHERE text IS NOT NULL),
        |dh AS (SELECT doc_id, sents,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS den,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS dde,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS des,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS dfr
        |  FROM (SELECT doc_id, sents,
        |      list_filter(str_split(text, ' '), w -> w <> '') AS ws FROM t)),
        |dv AS (SELECT doc_id, sents,
        |    CASE WHEN den >= dde AND den >= des AND den >= dfr THEN 'en'
        |         WHEN dde >= des AND dde >= dfr THEN 'de'
        |         WHEN des >= dfr THEN 'es' ELSE 'fr' END AS doc_lang
        |  FROM dh),
        |sx AS (SELECT doc_id, doc_lang, unnest(sents) AS sent FROM dv),
        |sh AS (SELECT doc_id, doc_lang,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS sen,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS sde,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS ses,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS sfr
        |  FROM (SELECT doc_id, doc_lang,
        |      list_filter(str_split(sent, ' '), w -> w <> '') AS ws FROM sx)),
        |sv AS (SELECT doc_id, doc_lang,
        |    CASE WHEN sen >= sde AND sen >= ses AND sen >= sfr THEN 'en'
        |         WHEN sde >= ses AND sde >= sfr THEN 'de'
        |         WHEN ses >= sfr THEN 'es' ELSE 'fr' END AS sent_lang
        |  FROM sh)
        |SELECT doc_id, doc_lang, count(*) AS n_sents,
        |  CAST(sum(CASE WHEN sent_lang <> doc_lang THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_switched,
        |  (CAST(sum(CASE WHEN sent_lang <> doc_lang THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // count(*) AS mixed_ppm
        |FROM sv GROUP BY doc_id, doc_lang ORDER BY doc_id""".stripMargin,
    // Gram replay + the split-hash rule + the train-index probe.
    "q135_split_substr_leakage" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                   AS BIGINT) % 10 < 8 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                   AS BIGINT) % 10 < 9 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |g0 AS (SELECT doc_id, split,
        |    unnest(generate_series(1, len(ws) - 7)) AS pos, ws
        |  FROM t WHERE len(ws) >= 8),
        |g AS (SELECT doc_id, split,
        |    CAST(('0x' || substr(md5(
        |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM g0),
        |tg AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
        |cont AS (SELECT DISTINCT doc_id FROM g
        |  WHERE split <> 'train' AND h IN (SELECT h FROM tg))
        |SELECT t.split, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  (CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000) // count(*) AS contam_ppm
        |FROM t LEFT JOIN cont ON cont.doc_id = t.doc_id
        |WHERE t.split <> 'train'
        |GROUP BY t.split ORDER BY t.split""".stripMargin,
    // The full data-card replay: closure + quality + grams + mixture,
    // every per-source statistic re-derived from documents alone.
    "q134_data_card" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |$docQualityCtes,
         |bs AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |    count(DISTINCT lang) AS n_langs
         |  FROM documents GROUP BY source),
         |qs AS (SELECT d.source, CAST(sum(q.quality) AS BIGINT) // count(*) AS avg_quality
         |  FROM documents d JOIN q USING (doc_id) GROUP BY d.source),
         |csz AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY cluster_id),
         |wt AS (SELECT c.doc_id, 1000000 // n_members AS weight_ppm
         |  FROM comp c JOIN csz USING (cluster_id)),
         |rt AS (SELECT d.source,
         |    CAST(sum(d.n_chars * wt.weight_ppm) AS BIGINT)
         |      // CAST(sum(d.n_chars) AS BIGINT) AS retention_ppm
         |  FROM documents d JOIN wt ON wt.doc_id = d.doc_id GROUP BY d.source),
         |gt AS (SELECT source, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |g0 AS (SELECT source, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
         |  FROM gt WHERE len(ws) >= 8),
         |go AS (SELECT source,
         |    CAST(('0x' || substr(md5(
         |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
         |  FROM g0),
         |pg AS (SELECT source, h, count(*) AS c FROM go GROUP BY source, h),
         |gd AS (SELECT source,
         |    (count(*) * 1000000) // CAST(sum(c) AS BIGINT) AS gram_diversity_ppm
         |  FROM pg GROUP BY source),
         |pd2 AS (SELECT d.doc_id, d.source, q.quality
         |  FROM documents d JOIN q USING (doc_id)),
         |ps2 AS (SELECT source, CAST(sum(quality) AS BIGINT) // count(*) AS avg_q
         |  FROM pd2 GROUP BY source),
         |gg2 AS (SELECT CAST(sum(quality) AS BIGINT) // count(*) AS gavg FROM pd2),
         |b2 AS (SELECT ps2.source,
         |    greatest(CAST(0 AS BIGINT),
         |      ((gg2.gavg - ps2.avg_q) * 1000000) // gg2.gavg) AS deficit_ppm
         |  FROM ps2 CROSS JOIN gg2),
         |f2 AS (SELECT source,
         |    1000000 + (200000 * deficit_ppm) // 1000000 AS factor FROM b2),
         |it2 AS (SELECT source,
         |    ((((((((((1000000 * factor) // 1000000) * factor) // 1000000)
         |      * factor) // 1000000) * factor) // 1000000) * factor) // 1000000) AS w
         |  FROM f2),
         |tt2 AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM it2),
         |mx AS (SELECT source, (w * 1000000) // w_tot AS mix_ppm
         |  FROM it2 CROSS JOIN tt2)
         |SELECT bs.source, bs.n_docs, bs.total_chars, bs.n_langs, qs.avg_quality,
         |  rt.retention_ppm, gd.gram_diversity_ppm, mx.mix_ppm
         |FROM bs JOIN qs USING (source) JOIN rt USING (source)
         |JOIN gd USING (source) JOIN mx USING (source)
         |ORDER BY source""".stripMargin,
    // Pair replay + the earlier-batch flag rollup.
    "q131_dedup_burndown" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |dirp AS (SELECT doc_a AS x, doc_b AS y FROM pairs
         |         UNION ALL SELECT doc_b, doc_a FROM pairs),
         |dp AS (SELECT DISTINCT x AS doc_id FROM dirp WHERE (y % 10) < (x % 10))
         |SELECT (d.doc_id % 10) AS batch, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_prior,
         |  CAST(sum(CASE WHEN dp.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)
         |       AS BIGINT) AS dup_chars,
         |  (CAST(sum(CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // count(*) AS dup_ppm
         |FROM documents d LEFT JOIN dp ON dp.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Quality replay + the q127 iteration + share/keep-rate arithmetic
    // + the md5 thinning filter, all floor divisions replicated.
    "q132_mixture_realize" ->
      s"""WITH $docQualityCtes,
         |pd AS (SELECT d.doc_id, d.source, q.quality
         |  FROM documents d JOIN q USING (doc_id)),
         |ps AS (SELECT source, count(*) AS n_docs_q,
         |    CAST(sum(quality) AS BIGINT) // count(*) AS avg_q
         |  FROM pd GROUP BY source),
         |gg AS (SELECT CAST(sum(quality) AS BIGINT) // count(*) AS gavg FROM pd),
         |b AS (SELECT ps.source,
         |    greatest(CAST(0 AS BIGINT),
         |      ((gg.gavg - ps.avg_q) * 1000000) // gg.gavg) AS deficit_ppm
         |  FROM ps CROSS JOIN gg),
         |f AS (SELECT source,
         |    1000000 + (200000 * deficit_ppm) // 1000000 AS factor FROM b),
         |it AS (SELECT source,
         |    ((((((((((1000000 * factor) // 1000000) * factor) // 1000000)
         |      * factor) // 1000000) * factor) // 1000000) * factor) // 1000000) AS w
         |  FROM f),
         |tt AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM it),
         |mix AS (SELECT source, (w * 1000000) // w_tot AS mix_ppm
         |  FROM it CROSS JOIN tt),
         |ch AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS src_chars
         |  FROM documents GROUP BY source),
         |ct AS (SELECT CAST(sum(n_chars) AS BIGINT) AS all_chars FROM documents),
         |rates AS (SELECT ch.source, ch.n_docs,
         |    (ch.src_chars * 1000000) // ct.all_chars AS share_ppm,
         |    m.mix_ppm,
         |    least(1000000, (m.mix_ppm * 1000000)
         |      // greatest(1, (ch.src_chars * 1000000) // ct.all_chars)) AS keep_ppm
         |  FROM ch CROSS JOIN ct JOIN mix m ON m.source = ch.source),
         |k AS (SELECT d.source, count(*) AS n_kept,
         |    CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
         |  FROM documents d JOIN rates r ON r.source = d.source
         |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % 1000000 < r.keep_ppm
         |  GROUP BY d.source)
         |SELECT r.source, r.n_docs, r.share_ppm, r.mix_ppm, r.keep_ppm,
         |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.kept_chars, 0) AS kept_chars
         |FROM rates r LEFT JOIN k USING (source) ORDER BY source""".stripMargin,
    // Full triplet replay: fused retrieval + blocked-exact truth (with
    // rank-1 cosine), hard negatives as fr∖ex3, best negative by
    // (retr_rank, nid).
    "q130_triplet_export" ->
      s"""WITH $VecCte,
         |$rrfFusedCtes,
         |fr AS (SELECT qid, nid, rank FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu) WHERE rank <= 3),
         |exf AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
         |        b.vec_id) AS rank
         |  FROM en a JOIN en b ON a.label = b.label AND a.vec_id <> b.vec_id),
         |ex3 AS (SELECT qid, nid FROM exf WHERE rank <= 3),
         |pos AS (SELECT qid, nid AS pos_id,
         |    CAST(floor(cosine * 1000000.0) AS BIGINT) AS pos_cos_micro
         |  FROM exf WHERE rank = 1),
         |ng AS (SELECT f.qid, f.nid, f.rank AS retr_rank FROM fr f
         |  WHERE NOT EXISTS (SELECT 1 FROM ex3 e WHERE e.qid = f.qid AND e.nid = f.nid)),
         |sc AS (SELECT n.qid, n.nid, n.retr_rank,
         |    CAST(floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000.0)
         |         AS BIGINT) AS cos_micro
         |  FROM ng n JOIN en a ON a.vec_id = n.qid JOIN en b ON b.vec_id = n.nid),
         |bn AS (SELECT qid, nid AS neg_id, cos_micro AS neg_cos_micro FROM (
         |  SELECT qid, nid, cos_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY retr_rank, nid) AS rn
         |  FROM sc) WHERE rn = 1)
         |SELECT p.qid AS anchor_id, p.pos_id, p.pos_cos_micro,
         |  b.neg_id, b.neg_cos_micro
         |FROM pos p JOIN bn b USING (qid) ORDER BY anchor_id""".stripMargin,
    // The q122 replay restricted to the batch: batch grams marked dup
    // when present in the corpus gram set OR non-first within the
    // batch; same coverage/reassembly tail.
    "q123_substr_scrub_incr" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents WHERE doc_id % 10 = 7),
        |tc AS (SELECT doc_id,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents WHERE doc_id % 10 <> 7),
        |g0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
        |  FROM t WHERE len(ws) >= 8),
        |g AS MATERIALIZED (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    CAST(('0x' || substr(md5(
        |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM g0),
        |gc0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 7)) AS pos, ws
        |  FROM tc WHERE len(ws) >= 8),
        |gc AS (SELECT DISTINCT
        |    CAST(('0x' || substr(md5(
        |      array_to_string(list_slice(ws, pos, pos + 7), ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM gc0),
        |kd AS (SELECT h, min(doc_id) AS kd FROM g GROUP BY h),
        |kp AS (SELECT g.h, k.kd, min(g.pos) AS kp
        |  FROM g JOIN kd k ON g.h = k.h AND g.doc_id = k.kd GROUP BY g.h, k.kd),
        |du AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM gc)
        |  UNION SELECT g.doc_id, g.pos FROM g JOIN kp ON g.h = kp.h
        |  WHERE NOT (g.doc_id = kp.kd AND g.pos = kp.kp)),
        |dp AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS ps
        |  FROM du GROUP BY doc_id),
        |r AS (SELECT t.doc_id, ws, coalesce(ps, CAST([] AS BIGINT[])) AS ps
        |  FROM t LEFT JOIN dp USING (doc_id)),
        |c AS (SELECT doc_id, ws,
        |    list_distinct(flatten(list_transform(ps, p -> generate_series(p, p + 7)))) AS cov
        |  FROM r)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(cov) AS BIGINT) AS n_dup_tokens,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(generate_series(1, len(ws)), i -> NOT list_contains(cov, i)),
        |    i -> ws[i]), ' '), '') AS clean_text
        |FROM c ORDER BY doc_id""".stripMargin,
    // Same sentence split; first-occurrence keep via 1-based
    // list_position = 1-based lambda index (Spark's index is 0-based,
    // hence the i + 1 there); md5 over the same '. ' rejoin.
    "q121_repetition_scrub" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(list_transform(str_split(text, '. '), x -> trim(x)),
        |      x -> x <> '') AS sents
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (SELECT doc_id, sents,
        |    list_filter(sents, (x, i) -> list_position(sents, x) = i) AS uniq
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(sents) AS INT) AS n_sents,
        |  CAST(len(sents) - len(uniq) AS INT) AS n_removed,
        |  md5(array_to_string(uniq, '. ')) AS scrub_md5
        |FROM u ORDER BY doc_id""".stripMargin,
    "q100_doc_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(list_transform(str_split(text, '. '), x -> trim(x)),
        |      x -> x <> '') AS sents,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, sents,
        |    CASE WHEN len(ws) >= 5
        |      THEN list_transform(generate_series(1, len(ws) - 4),
        |             i -> array_to_string(list_slice(ws, i, i + 4), ' '))
        |      ELSE [] END AS g5
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(sents) AS INT) AS n_sents,
        |  CAST(len(sents) - len(list_distinct(sents)) AS INT) AS n_dup_sents,
        |  CASE WHEN len(sents) > 0
        |    THEN ((len(sents) - len(list_distinct(sents))) * 1000000)
        |         // len(sents)
        |    ELSE 0 END AS dup_sent_ppm,
        |  CAST(len(g5) AS INT) AS n_grams5,
        |  CAST(len(g5) - len(list_distinct(g5)) AS INT) AS n_dup_grams5,
        |  CASE WHEN len(g5) > 0
        |    THEN ((len(g5) - len(list_distinct(g5))) * 1000000) // len(g5)
        |    ELSE 0 END AS dup_gram5_ppm
        |FROM g ORDER BY doc_id""".stripMargin,
    // Replays BOTH index scans (q17's label-blocked exact top-3, q18's
    // hyperplane buckets) and the hit-join; the float cosine ranking is
    // already proven engine-identical by the q17/q18 hash-matches.
    "q99_ann_recall" ->
      s"""WITH $VecCte,
         |$dualTruthCtes,
         |bk AS MATERIALIZED (SELECT vec_id, v, nrm,
         |  CAST(list_sum(list_transform(generate_series(0, 5), j ->
         |    CASE WHEN list_dot_product(
         |        list_transform(generate_series(1, 64), i ->
         |          CAST(CAST(('0x' || substr(md5('hp_' || j || '_' || i), 1, 7)) AS BIGINT)
         |               % 2001 - 1000 AS DOUBLE)),
         |        v) > CAST(0.0 AS DOUBLE)
         |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
         |  FROM en),
         |an AS (SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |        ORDER BY score DESC, nid) AS rank
         |    FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |            list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS score
         |          FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id))
         |  WHERE rank <= 3),
         |h AS (SELECT e.truth, e.qid, count(an.nid) AS hits, count(*) AS n_exact
         |  FROM tr e LEFT JOIN an ON an.qid = e.qid AND an.nid = e.nid
         |  GROUP BY e.truth, e.qid)
         |SELECT en.label, h.truth, count(*) AS n_queries,
         |  CAST(sum(hits) AS BIGINT) AS sum_hits,
         |  CAST(sum(n_exact) AS BIGINT) AS sum_exact,
         |  CAST(sum(CASE WHEN hits = n_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect,
         |  (CAST(sum(hits) AS BIGINT) * 1000000) // CAST(sum(n_exact) AS BIGINT)
         |    AS recall_ppm
         |FROM h JOIN en ON en.vec_id = h.qid
         |GROUP BY en.label, h.truth ORDER BY en.label, h.truth""".stripMargin,
    // Same rolling-hash cuts (28-bit md5 gram hash mod 64), same
    // shifted-list zip into chunks, same digest grouping — dup and
    // cross-share stats hash-match. Struct fields from list_zip are
    // accessed positionally (DuckDB's zip structs are unnamed).
    "q98_cas_chunks" ->
      """WITH d AS (SELECT source, text FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0),
        |c0 AS (SELECT source, text, list_reduce(
        |    list_prepend([CAST(0 AS BIGINT)], list_transform(
        |      list_transform(list_filter(generate_series(1, length(text)),
        |        i -> i + 7 <= length(text)
        |         AND CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 7)) AS BIGINT)
        |             % 64 = 0),
        |      i -> i + 7), q -> [CAST(q AS BIGINT)])),
        |    (acc, x) -> acc
        |      || list_transform(generate_series(1, (x[1] - acc[-1] - 1) // 256),
        |           j -> acc[-1] + j * 256)
        |      || (CASE WHEN x[1] - (acc[-1] + ((x[1] - acc[-1] - 1) // 256) * 256) >= 16
        |          THEN [x[1]] ELSE [] END)) AS cuts0 FROM d),
        |c AS (SELECT source, text, cuts0
        |    || list_transform(generate_series(1, (length(text) - cuts0[-1] - 1) // 256),
        |         j -> cuts0[-1] + j * 256)
        |    || (CASE WHEN length(text) > cuts0[-1]
        |        THEN [CAST(length(text) AS BIGINT)] ELSE [] END) AS cuts
        |  FROM c0),
        |ch AS (SELECT source, md5(substring(text, CAST(p[1] + 1 AS INT),
        |    CAST(p[2] - p[1] AS INT))) AS block_md5
        |  FROM c, unnest(list_zip(cuts[1:len(cuts)-1], cuts[2:len(cuts)])) t(p)),
        |per AS (SELECT source, block_md5, count(*) AS n FROM ch
        |  GROUP BY source, block_md5),
        |src AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_chunks,
        |    count(*) AS n_distinct FROM per GROUP BY source),
        |cb AS (SELECT block_md5, count(*) AS nsrc FROM per GROUP BY block_md5),
        |cs AS (SELECT per.source, count(*) AS n_cross_shared
        |  FROM per JOIN cb USING (block_md5) WHERE cb.nsrc > 1 GROUP BY per.source)
        |SELECT src.source, n_chunks, n_distinct,
        |  ((n_chunks - n_distinct) * 1000000) // n_chunks AS dup_ppm,
        |  coalesce(cs.n_cross_shared, 0) AS n_cross_shared
        |FROM src LEFT JOIN cs ON cs.source = src.source
        |ORDER BY src.source""".stripMargin,
    // Same registry → two blocking passes (first ∪ last token, UNION
    // dedups) → levenshtein; DuckDB's levenshtein is the same unit-cost
    // edit distance as Spark's.
    "q96_fuzzy_match" ->
      """WITH reg AS (SELECT p_name AS name, count(*) AS n_rows,
        |    list_extract(str_split(p_name, ' '), 1) AS b1,
        |    list_extract(str_split(p_name, ' '), -1) AS b2
        |  FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT a.name AS name_a, b.name AS name_b,
        |      a.n_rows AS n_a, b.n_rows AS n_b
        |  FROM reg a JOIN reg b ON a.b1 = b.b1 AND a.name < b.name
        |  UNION
        |  SELECT a.name, b.name, a.n_rows, b.n_rows
        |  FROM reg a JOIN reg b ON a.b2 = b.b2 AND a.name < b.name)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INT) AS dist, n_a, n_b
        |FROM cand
        |WHERE levenshtein(name_a, name_b) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    // Replays the apply algebra over s1 + the diff feed (keep untouched
    // via anti-join, land upserts) — NOT the s2 shortcut, so the oracle
    // proves the MERGE semantics, with the roundtrip making it exact.
    "q97_cdc_apply" ->
      s"""$VersionsCte,
         |s1 AS (SELECT order_id, status FROM versions
         |  WHERE TIMESTAMP '2024-01-08 00:00:00' >= start_time
         |    AND TIMESTAMP '2024-01-08 00:00:00' < end_time),
         |s2 AS (SELECT order_id, status FROM versions
         |  WHERE TIMESTAMP '2024-01-15 00:00:00' >= start_time
         |    AND TIMESTAMP '2024-01-15 00:00:00' < end_time),
         |d AS (SELECT coalesce(s1.order_id, s2.order_id) AS order_id,
         |    CASE WHEN s1.order_id IS NULL THEN 'insert'
         |         WHEN s2.order_id IS NULL THEN 'delete'
         |         WHEN s1.status IS DISTINCT FROM s2.status THEN 'update' END
         |      AS change_type,
         |    s2.status AS new_status
         |  FROM s1 FULL OUTER JOIN s2 ON s1.order_id = s2.order_id),
         |ch AS (SELECT * FROM d WHERE change_type IS NOT NULL),
         |keep AS (SELECT s1.order_id, s1.status FROM s1
         |  LEFT JOIN ch ON ch.order_id = s1.order_id
         |  WHERE ch.order_id IS NULL),
         |up AS (SELECT order_id, new_status AS status FROM ch
         |  WHERE change_type <> 'delete')
         |SELECT order_id, status FROM keep
         |UNION ALL SELECT order_id, status FROM up
         |ORDER BY order_id""".stripMargin,
    "q49_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_viewed,
        |       (SELECT count(*) FROM c) AS n_clicked_after_view,
        |       (SELECT count(*) FROM p) AS n_purchased_after_click
        |ORDER BY n_viewed""".stripMargin,
    "q50_retention_cohorts" ->
      """WITH f AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_w
        |  FROM events GROUP BY user_id),
        |w AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events)
        |SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', cohort_w, w) // 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM w JOIN f USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q48_sessionize" ->
      """WITH l AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |t AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM t)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    // Naive global-window sweep over the same session intervals — the
    // distributed two-level scan must reproduce it exactly.
    "q59_peak_concurrency" ->
      """WITH l AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |t AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |s AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM t),
        |sess AS (SELECT user_id, session_seq, min(ts) AS st, max(ts) AS en
        |  FROM s GROUP BY user_id, session_seq),
        |b AS (SELECT epoch_us(st) AS bt, 1 AS sflag, 0 AS eflag FROM sess
        |  UNION ALL SELECT epoch_us(en), 0, 1 FROM sess),
        |g AS (SELECT bt, CAST(sum(sflag) AS BIGINT) AS n_starts,
        |    CAST(sum(eflag) AS BIGINT) AS n_ends
        |  FROM b GROUP BY bt),
        |r AS (SELECT bt, n_starts, n_ends,
        |    sum(n_starts - n_ends) OVER (ORDER BY bt ROWS UNBOUNDED PRECEDING)
        |      + n_ends AS concurrent
        |  FROM g)
        |SELECT strftime(make_timestamp(bt), '%Y-%m-%d') AS day,
        |  count(*) AS n_instants,
        |  CAST(max(concurrent) AS BIGINT) AS peak_concurrent
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    "q46_langid_eval" ->
      """WITH t AS (SELECT doc_id, lang, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS fr_hits
        |  FROM t),
        |lg AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
        |  FROM h)
        |SELECT lang, lang_guess, count(*) AS n_docs FROM lg
        |GROUP BY lang, lang_guess ORDER BY lang, lang_guess""".stripMargin,
    // Integer-exact Gopher flags: max-term-frequency, mean word length,
    // and symbol-density comparisons — no float ratios anywhere.
    "q47_quality_flags" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(str_split(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
        |      w -> w <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
        |rep AS (SELECT doc_id, max(tf) AS max_tf, sum(tf) AS n_toks,
        |    sum(length(tok) * tf) AS sum_len
        |  FROM tf GROUP BY doc_id),
        |base AS (SELECT doc_id, source,
        |    length(coalesce(text, '')) AS n_chars,
        |    length(coalesce(text, ''))
        |      - length(regexp_replace(coalesce(text, ''), '[a-zA-Z0-9 ]', '', 'g')) AS n_plain
        |  FROM documents),
        |f AS (SELECT b.doc_id, b.source,
        |    CAST(coalesce(max_tf, 0) * 5 >= coalesce(n_toks, 0)
        |         AND coalesce(n_toks, 0) > 0 AS INT) AS flag_repetitive,
        |    CAST(coalesce(sum_len, 0) < coalesce(n_toks, 0) * 3
        |         OR coalesce(n_toks, 0) = 0 AS INT) AS flag_short_words,
        |    CAST(coalesce(sum_len, 0) > coalesce(n_toks, 0) * 10 AS INT) AS flag_long_words,
        |    CAST((n_chars - n_plain) * 10 >= n_chars AND n_chars > 0 AS INT) AS flag_symbol_heavy
        |  FROM base b LEFT JOIN rep ON rep.doc_id = b.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(flag_repetitive) AS BIGINT) AS n_repetitive,
        |  CAST(sum(flag_short_words) AS BIGINT) AS n_short_words,
        |  CAST(sum(flag_long_words) AS BIGINT) AS n_long_words,
        |  CAST(sum(flag_symbol_heavy) AS BIGINT) AS n_symbol_heavy
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    // The whole prep path replayed in SQL: recursive-CTE clusters →
    // keeper filter → window arithmetic chunks → naive global-window
    // running total → pack assignment.
    "q45_training_prep" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
         |-- (comp is MATERIALIZED: the closure rollup is re-read by several
         |-- consumers; inlining re-ran the recursive reach per consumer)
         |t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents JOIN keep USING (doc_id)),
         |c AS (SELECT doc_id, len(ws) AS n,
         |  unnest(generate_series(CAST(0 AS BIGINT),
         |    CAST((greatest(len(ws) - 64, 0) + 47) // 48 AS BIGINT))) AS chunk_id
         |  FROM t),
         |ch AS (SELECT doc_id, chunk_id,
         |  greatest(least(n - chunk_id*48, 64), CAST(0 AS BIGINT)) AS n_chunk_tokens
         |  FROM c),
         |r AS (SELECT doc_id, chunk_id, n_chunk_tokens,
         |  sum(n_chunk_tokens) OVER (ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING)
         |    AS running_total
         |  FROM ch)
         |SELECT doc_id, chunk_id, n_chunk_tokens,
         |  CAST(running_total AS BIGINT) AS running_total,
         |  CAST((running_total - n_chunk_tokens) // 512 AS BIGINT) AS pack_id
         |FROM r ORDER BY doc_id, chunk_id""".stripMargin,
    // q45's replay + the per-pack/per-decile rollup.
    "q148_pack_efficiency" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
         |-- (comp is MATERIALIZED: the closure rollup is re-read by several
         |-- consumers; inlining re-ran the recursive reach per consumer)
         |t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents JOIN keep USING (doc_id)),
         |c AS (SELECT doc_id, len(ws) AS n,
         |  unnest(generate_series(CAST(0 AS BIGINT),
         |    CAST((greatest(len(ws) - 64, 0) + 47) // 48 AS BIGINT))) AS chunk_id
         |  FROM t),
         |ch AS (SELECT doc_id, chunk_id,
         |  greatest(least(n - chunk_id*48, 64), CAST(0 AS BIGINT)) AS n_chunk_tokens
         |  FROM c),
         |r AS (SELECT doc_id, chunk_id, n_chunk_tokens,
         |  sum(n_chunk_tokens) OVER (ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING)
         |    AS running_total
         |  FROM ch),
         |pp AS (SELECT (running_total - n_chunk_tokens) // 512 AS pack_id,
         |    CAST(sum(n_chunk_tokens) AS BIGINT) AS pack_tokens,
         |    count(*) AS n_chunks
         |  FROM r GROUP BY 1),
         |pf AS (SELECT pack_id, pack_tokens, n_chunks,
         |    (pack_tokens * 1000000) // 512 AS fill_ppm,
         |    greatest(512 - pack_tokens, 0) AS padding_tokens
         |  FROM pp)
         |SELECT fill_ppm // 100000 AS decile, count(*) AS n_packs,
         |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
         |  min(fill_ppm) AS min_fill_ppm, max(fill_ppm) AS max_fill_ppm,
         |  CAST(sum(pack_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(padding_tokens) AS BIGINT) AS sum_padding
         |FROM pf GROUP BY decile ORDER BY decile""".stripMargin,
    // q45's replay with the pack order flipped to (quality DESC, doc,
    // chunk) — closure for keepers, quality chain, chunking, one
    // running-total window in curriculum order.
    "q142_curriculum_pack" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |keep AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
         |-- (comp is MATERIALIZED: the closure rollup is re-read by several
         |-- consumers; inlining re-ran the recursive reach per consumer)
         |$docQualityCtes,
         |t2 AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents JOIN keep USING (doc_id)),
         |c3 AS (SELECT doc_id, len(ws) AS n,
         |  unnest(generate_series(CAST(0 AS BIGINT),
         |    CAST((greatest(len(ws) - 64, 0) + 47) // 48 AS BIGINT))) AS chunk_id
         |  FROM t2),
         |ch3 AS (SELECT doc_id, chunk_id,
         |  greatest(least(n - chunk_id*48, 64), CAST(0 AS BIGINT)) AS n_chunk_tokens
         |  FROM c3),
         |j3 AS (SELECT ch3.doc_id, ch3.chunk_id, q.quality, ch3.n_chunk_tokens
         |  FROM ch3 JOIN q USING (doc_id)),
         |r3 AS (SELECT doc_id, chunk_id, quality, n_chunk_tokens,
         |  sum(n_chunk_tokens) OVER (ORDER BY quality DESC, doc_id, chunk_id
         |    ROWS UNBOUNDED PRECEDING) AS running_total
         |  FROM j3)
         |SELECT doc_id, chunk_id, quality, n_chunk_tokens,
         |  CAST(running_total AS BIGINT) AS running_total,
         |  CAST((running_total - n_chunk_tokens) // 512 AS BIGINT) AS pack_id
         |FROM r3 ORDER BY quality DESC, doc_id, chunk_id""".stripMargin,
    // Same rank-selection quantiles (percentile_disc semantics) with
    // identical integer ceiling arithmetic.
    "q43_length_quantiles" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM t),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS fr_hits
        |  FROM t),
        |lg AS (
        |  SELECT doc_id,
        |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
        |  FROM h),
        |r AS (SELECT lang_guess, n_tokens,
        |    row_number() OVER (PARTITION BY lang_guess ORDER BY n_tokens, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang_guess) AS n
        |  FROM s JOIN lg USING (doc_id))
        |SELECT lang_guess, max(n) AS n_docs,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN n_tokens END) AS p50_tokens,
        |  max(CASE WHEN rn = (9*n + 9) // 10 THEN n_tokens END) AS p90_tokens,
        |  max(CASE WHEN rn = (99*n + 99) // 100 THEN n_tokens END) AS p99_tokens
        |FROM r GROUP BY lang_guess ORDER BY lang_guess""".stripMargin,
    // Brute-force containment: any shared shingle is a candidate; the
    // Spark side's prefix filter must reproduce this exactly.
    "q40_contamination" ->
      s"""WITH $ShinglesCte,
         |hsq AS (SELECT doc_id, list_sort(list_distinct(list_transform(shingles,
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS hs
         |  FROM sh),
         |te AS (SELECT doc_id AS test_id, hs AS sh_t FROM hsq WHERE doc_id % 10 = 0),
         |tr AS (SELECT doc_id AS train_id, hs AS sh_r FROM hsq WHERE doc_id % 10 <> 0),
         |tt AS (SELECT test_id, unnest(sh_t) AS tok FROM te),
         |rt AS (SELECT train_id, unnest(sh_r) AS tok FROM tr),
         |cand AS (SELECT DISTINCT test_id, train_id FROM tt JOIN rt USING (tok)),
         |c AS (SELECT test_id, train_id,
         |  CAST(len(list_intersect(sh_t, sh_r)) AS DOUBLE) /
         |    nullif(CAST(len(sh_t) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS containment
         |  FROM cand JOIN te USING (test_id) JOIN tr USING (train_id))
         |SELECT test_id, train_id, containment FROM c
         |WHERE containment >= CAST(0.5 AS DOUBLE)
         |ORDER BY test_id, train_id""".stripMargin,
    // identical to q40's oracle: the salted decomposition must produce
    // the same pair set and containment values as brute-force ground
    // truth
    "q167_containment_salted" ->
      s"""WITH $ShinglesCte,
         |hsq AS (SELECT doc_id, list_sort(list_distinct(list_transform(shingles,
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS hs
         |  FROM sh),
         |te AS (SELECT doc_id AS test_id, hs AS sh_t FROM hsq WHERE doc_id % 10 = 0),
         |tr AS (SELECT doc_id AS train_id, hs AS sh_r FROM hsq WHERE doc_id % 10 <> 0),
         |tt AS (SELECT test_id, unnest(sh_t) AS tok FROM te),
         |rt AS (SELECT train_id, unnest(sh_r) AS tok FROM tr),
         |cand AS (SELECT DISTINCT test_id, train_id FROM tt JOIN rt USING (tok)),
         |c AS (SELECT test_id, train_id,
         |  CAST(len(list_intersect(sh_t, sh_r)) AS DOUBLE) /
         |    nullif(CAST(len(sh_t) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS containment
         |  FROM cand JOIN te USING (test_id) JOIN tr USING (train_id))
         |SELECT test_id, train_id, containment FROM c
         |WHERE containment >= CAST(0.5 AS DOUBLE)
         |ORDER BY test_id, train_id""".stripMargin,
    // Same normalized tokens, segment arithmetic, and canonical
    // comma-joined sorted posting lists.
    "q41_inverted_index" ->
      """WITH tk AS (SELECT DISTINCT doc_id, tok FROM (
        |  SELECT doc_id,
        |    unnest(list_filter(str_split(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
        |      w -> w <> '')) AS tok
        |  FROM documents))
        |SELECT tok, doc_id // 200 AS seg, count(*) AS df_seg,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM tk GROUP BY tok, seg ORDER BY tok, seg""".stripMargin,
    "q42_top_phrases" ->
      s"""WITH $ShinglesCte,
         |g AS (SELECT doc_id, unnest(shingles) AS gram FROM sh)
         |SELECT gram, count(*) AS n_docs FROM g GROUP BY gram
         |ORDER BY n_docs DESC, gram LIMIT 100""".stripMargin,
    // Same normalized tokens, tf/df counts, and integer salience rank.
    "q39_keywords" ->
      """WITH tk AS (SELECT doc_id,
        |    unnest(list_filter(str_split(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
        |      w -> w <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |r AS (SELECT doc_id, tok, tf, df,
        |    (tf * (SELECT count(*) FROM documents)) // df AS salience
        |  FROM tf JOIN dfq USING (tok)),
        |rk AS (SELECT doc_id, tok, tf, df, salience,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY salience DESC, tf DESC, tok) AS kw_rank
        |  FROM r)
        |SELECT doc_id, kw_rank, tok, tf, df, salience FROM rk
        |WHERE kw_rank <= 3 ORDER BY doc_id, kw_rank""".stripMargin,
    // Same stratified order, DuckDB-side: rank within language by the
    // md5-derived 60-bit hash of the doc id string.
    "q37_stratified_sample" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS fr_hits
        |  FROM t),
        |lg AS (
        |  SELECT doc_id,
        |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
        |  FROM h),
        |r AS (SELECT lang_guess, doc_id,
        |  row_number() OVER (PARTITION BY lang_guess ORDER BY
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id)
        |    AS smp_rank
        |  FROM lg)
        |SELECT lang_guess, smp_rank, doc_id FROM r WHERE smp_rank <= 50
        |ORDER BY lang_guess, smp_rank""".stripMargin,
    // Naive single-window running total — the Spark side's two-level
    // bucket decomposition must reproduce it exactly.
    "q38_sequence_pack" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM t),
        |r AS (SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS running_total
        |  FROM s)
        |SELECT doc_id, n_tokens, CAST(running_total AS BIGINT) AS running_total,
        |       CAST((running_total - n_tokens) // 512 AS BIGINT) AS pack_id
        |FROM r ORDER BY doc_id""".stripMargin,
    // Same window arithmetic, DuckDB-side: starts every 48 tokens until
    // one reaches the end; 1-based inclusive list slicing mirrors
    // Spark's slice(ws, start, 64).
    "q36_doc_chunks" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |c AS (SELECT doc_id, ws, len(ws) AS n,
        |  unnest(generate_series(CAST(0 AS BIGINT),
        |    CAST((greatest(len(ws) - 64, 0) + 47) // 48 AS BIGINT))) AS chunk_id
        |  FROM t)
        |SELECT doc_id, chunk_id,
        |  greatest(least(n - chunk_id*48, 64), CAST(0 AS BIGINT)) AS n_chunk_tokens,
        |  array_to_string(ws[(chunk_id*48 + 1):(chunk_id*48 + 64)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // Recursive-CTE transitive closure over the LSH pairs — the Spark
    // side's iterative min-label propagation must reach the exact same
    // fixpoint (component = min reachable doc_id).
    "q35_neardup_clusters" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY cluster_id)
         |SELECT doc_id, cluster_id, n_members,
         |       CAST(doc_id = cluster_id AS INT) AS is_keeper
         |FROM comp JOIN sizes USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // Replays HashedLinearModel's two-stage md5 derivation (feature →
    // bucket → milli-weight) and the exact integer logit sum; list_sum
    // of an empty list is NULL in DuckDB, hence the coalesce (Spark's
    // aggregate() returns its BIGINT init for empty arrays).
    "q106_model_filter" -> {
      val h28 = (x: String) => s"CAST(('0x' || substr(md5($x), 1, 7)) AS BIGINT)"
      val w = (x: String) =>
        s"(${h28(s"'w:' || CAST(${h28(x)} % 4096 AS VARCHAR)")} % 2001 - 1000)"
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, ws,
         |    CASE WHEN len(ws) >= 2 THEN
         |      list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
         |    ELSE []::VARCHAR[] END AS bis
         |  FROM t),
         |s AS (
         |  SELECT doc_id,
         |    CAST(len(ws) + len(bis) AS BIGINT) AS n_feats,
         |    CAST(coalesce(list_sum(list_transform(ws,  x -> ${w("x")})), 0)
         |       + coalesce(list_sum(list_transform(bis, x -> ${w("x")})), 0) AS BIGINT)
         |      AS logit_milli
         |  FROM f)
         |SELECT doc_id, n_feats, logit_milli, CAST(logit_milli >= 0 AS INT) AS keep
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // q105's chained-CTE replay with weight-proportional outflow
    // (w = floor(jaccard·10^6), W(u) = Σw — all nonneg integer).
    "q112_weighted_pagerank" -> {
      val iterCtes = (1 to 5).map { k =>
        s"""r$k AS (SELECT e.dst AS id,
           |  CAST(150000 AS BIGINT) + CAST(sum((((r.pr * 85) // 100) * e.w) // t.wtot) AS BIGINT) AS pr
           |  FROM es e JOIN r${k - 1} r ON r.id = e.src JOIN wt t ON t.src = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |we AS (SELECT doc_a, doc_b, CAST(floor(jaccard * 1000000.0) AS BIGINT) AS w
         |       FROM pairs),
         |es AS (SELECT doc_a AS src, doc_b AS dst, w FROM we
         |       UNION SELECT doc_b, doc_a, w FROM we),
         |wt AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot FROM es GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM wt),
         |$iterCtes
         |SELECT doc_id, coalesce(r.pr, CAST(150000 AS BIGINT)) AS pr_fix
         |FROM documents LEFT JOIN r5 r ON r.id = doc_id
         |ORDER BY doc_id""".stripMargin
    },
    // Recursive-CTE clusters (the q35 replay) × the q47 quality-flag
    // replica, keeper picked by the same (quality DESC, doc_id) order
    // via a rank window.
    "q113_quality_keepers" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |$clusterQualityCtes
         |SELECT g.cluster_id, g.n_members, a.keeper_doc, a.keeper_quality,
         |  CAST(a.keeper_doc <> g.minid_keeper AS INT) AS keeper_moved
         |FROM g JOIN a ON a.cluster_id = g.cluster_id AND a.rn = 1
         |ORDER BY g.cluster_id""".stripMargin,
    // The q45 replay with the keeper CTE swapped for the q113 argmax;
    // chunk/pack tail identical.
    "q115_quality_training_prep" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |$clusterQualityCtes,
         |keep AS (SELECT keeper_doc AS doc_id FROM a WHERE rn = 1),
         |t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents JOIN keep USING (doc_id)),
         |c AS (SELECT doc_id, len(ws) AS n,
         |  unnest(generate_series(CAST(0 AS BIGINT),
         |    CAST((greatest(len(ws) - 64, 0) + 47) // 48 AS BIGINT))) AS chunk_id
         |  FROM t),
         |ch AS (SELECT doc_id, chunk_id,
         |  greatest(least(n - chunk_id*48, 64), CAST(0 AS BIGINT)) AS n_chunk_tokens
         |  FROM c),
         |r AS (SELECT doc_id, chunk_id, n_chunk_tokens,
         |  sum(n_chunk_tokens) OVER (ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING)
         |    AS running_total
         |  FROM ch)
         |SELECT doc_id, chunk_id, n_chunk_tokens,
         |  CAST(running_total AS BIGINT) AS running_total,
         |  CAST((running_total - n_chunk_tokens) // 512 AS BIGINT) AS pack_id
         |FROM r ORDER BY doc_id, chunk_id""".stripMargin,
    // Replays the projection against the SAME literal ±1 matrix
    // (list_dot_product ≡ vec_dot, the VecCte bit-exactness), the
    // trained-codebook cell blocking (q24's CTE shape), and the
    // floor-ppm error rollup.
    "q111_jl_distortion" -> {
      val projList = (0 until graft.vector.RandomProjection.OutDims).map { j =>
        val lst = graft.vector.RandomProjection.signCol(j)
          .map(s => if (s > 0) "1.0" else "-1.0").mkString(", ")
        s"list_dot_product(v, [$lst])"
      }.mkString(",\n         |    ")
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |pr AS (SELECT vec_id, label, v, nrm AS nv,
         |    [$projList] AS p
         |  FROM en),
         |pn AS (SELECT pr.vec_id, label, v, p, nv,
         |    sqrt(list_dot_product(p, p)) AS np, r.cell
         |  FROM pr JOIN r ON pr.vec_id = r.vec_id AND r.rn = 1),
         |ps AS (SELECT a.label,
         |    list_dot_product(a.v, b.v) / (a.nv * b.nv) AS cos_o,
         |    list_dot_product(a.p, b.p) / (a.np * b.np) AS cos_p
         |  FROM pn a JOIN pn b
         |    ON a.cell = b.cell AND a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE a.nv > 0 AND b.nv > 0 AND a.np > 0 AND b.np > 0),
         |e AS (SELECT label,
         |    CAST(floor(abs(cos_o - cos_p) * 1000000.0) AS BIGINT) AS err_ppm
         |  FROM ps)
         |SELECT label, count(*) AS n_pairs,
         |  CAST(sum(err_ppm) AS BIGINT) // count(*) AS mean_abs_err_ppm,
         |  max(err_ppm) AS max_abs_err_ppm
         |FROM e GROUP BY label ORDER BY label""".stripMargin
    },
    // Replays the running total as a plain window (the oracle CAN
    // afford the single-partition scan) and the same start-offset
    // shard arithmetic.
    "q110_shard_manifest" ->
      """WITH rt AS (SELECT doc_id, n_chars,
        |    sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total
        |  FROM documents),
        |sh AS (SELECT doc_id, n_chars,
        |    CAST((running_total - n_chars) // 16384 AS BIGINT) AS shard_id
        |  FROM rt)
        |SELECT shard_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  (CAST(sum(n_chars) AS BIGINT) * 1000000) // 16384 AS fill_ppm
        |FROM sh GROUP BY shard_id
        |ORDER BY shard_id""".stripMargin,
    // Replays the full candidate set (threshold 0), the 16-component
    // signature match count, and the ppm decile rollup.
    "q109_minhash_calibration" ->
      s"""WITH $ShinglesCte,
         |${rawLshPairsCtes("0.0")},
         |ps AS (SELECT p.jaccard, sa.sig AS sig_a, sb.sig AS sig_b
         |  FROM pairs p
         |  JOIN sig sa ON sa.doc_id = p.doc_a
         |  JOIN sig sb ON sb.doc_id = p.doc_b),
         |m AS (SELECT
         |  (CAST(len(list_filter(list_transform(generate_series(1, 16),
         |     i -> sig_a[i] = sig_b[i]), x -> x)) AS BIGINT) * 1000000) // 16 AS est_ppm,
         |  CAST(floor(jaccard * 1000000.0) AS BIGINT) AS true_ppm
         |  FROM ps),
         |g AS (SELECT true_ppm // 100000 AS decile, count(*) AS n_pairs,
         |  CAST(sum(abs(est_ppm - true_ppm)) AS BIGINT) AS sum_abs_err_ppm
         |  FROM m GROUP BY 1)
         |SELECT decile, n_pairs, sum_abs_err_ppm,
         |  sum_abs_err_ppm // n_pairs AS mean_abs_err_ppm
         |FROM g ORDER BY decile""".stripMargin,
    // Replays ScalarQuant.reconstructionAudit: per-dim min/max, the
    // identical double-association encode/recon expressions, integer
    // fixed-point error rollup. pos is 1-based here vs posexplode's
    // 0-based — join-key-only, never output.
    "q108_sq8_audit" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |flat AS (SELECT vec_id, label, u.pos AS pos, u.val AS val FROM (
        |  SELECT vec_id, label,
        |    unnest(list_transform(generate_series(1, len(v)),
        |                          i -> struct_pack(pos := i, val := v[i]))) AS u
        |  FROM e)),
        |stats AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM flat GROUP BY pos),
        |coded AS (SELECT label, val, mn, mx,
        |    CASE WHEN mx > mn
        |         THEN least(255, CAST(floor((val - mn) * 255.0 / (mx - mn)) AS BIGINT))
        |         ELSE CAST(0 AS BIGINT) END AS code
        |  FROM flat JOIN stats USING (pos)),
        |recon AS (SELECT label, val,
        |    CASE WHEN mx > mn
        |         THEN mn + (CAST(code AS DOUBLE) + 0.5) * (mx - mn) / 255.0
        |         ELSE mn END AS recon
        |  FROM coded),
        |err AS (SELECT label,
        |    CAST(floor((val - recon) * (val - recon) * 1073741824.0) AS BIGINT) AS e_fix
        |  FROM recon),
        |agg AS (SELECT label, CAST(sum(e_fix) AS BIGINT) AS sum_err_fix FROM err GROUP BY label),
        |nv AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT label, n_vecs, sum_err_fix, sum_err_fix // n_vecs AS mean_err_fix
        |FROM agg JOIN nv USING (label)
        |ORDER BY label""".stripMargin,
    // Replays the q14 pair graph, degree-ordered orientation, and the
    // once-per-triangle wedge+close join (Triangles.perNode).
    "q107_triangles" ->
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |es AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |       UNION SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT src AS id, count(*) AS d FROM es GROUP BY src),
         |ori AS (SELECT e.src AS u, e.dst AS v, dv.d AS dv
         |  FROM es e JOIN deg du ON du.id = e.src JOIN deg dv ON dv.id = e.dst
         |  WHERE du.d < dv.d OR (du.d = dv.d AND e.src < e.dst)),
         |tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM ori a JOIN ori b ON a.u = b.u
         |    AND (a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v))
         |  JOIN ori c ON c.u = a.v AND c.v = b.v),
         |tn AS (SELECT id, count(*) AS n_tri FROM (
         |    SELECT x AS id FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY id)
         |SELECT doc_id, coalesce(deg.d, 0) AS degree, coalesce(tn.n_tri, 0) AS n_tri,
         |  CASE WHEN coalesce(deg.d, 0) >= 2
         |       THEN (2 * coalesce(tn.n_tri, 0) * 1000000) // (deg.d * (deg.d - 1))
         |       ELSE CAST(0 AS BIGINT) END AS cc_ppm
         |FROM documents
         |LEFT JOIN deg ON deg.id = doc_id
         |LEFT JOIN tn ON tn.id = doc_id
         |ORDER BY doc_id""".stripMargin,
    // Replays the q14 pair graph + the q35 recursive min-label closure,
    // then the per-cluster edge/density/weakest-link arithmetic.
    "q149_cluster_chain_audit" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |pe AS (SELECT c.cluster_id, count(*) AS n_edges,
         |    min(CAST(floor(p.jaccard * 1000000.0) AS BIGINT)) AS min_jacc_ppm
         |  FROM pairs p JOIN comp c ON c.doc_id = p.doc_a GROUP BY c.cluster_id),
         |g AS (SELECT cluster_id, count(*) AS n_members FROM comp
         |  GROUP BY cluster_id HAVING count(*) >= 2)
         |SELECT g.cluster_id, g.n_members, pe.n_edges,
         |  (2 * pe.n_edges * 1000000) // (g.n_members * (g.n_members - 1)) AS density_ppm,
         |  pe.min_jacc_ppm,
         |  CAST((2 * pe.n_edges * 1000000) // (g.n_members * (g.n_members - 1))
         |       < 1000000 AS INT) AS chained
         |FROM g JOIN pe USING (cluster_id)
         |ORDER BY cluster_id""".stripMargin,
    // Replays the q14 pair graph, BOTH min-label closures (all edges
    // vs strong-only), and the per-cluster split-flag arithmetic.
    "q150_chain_cut" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |sedges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |    WHERE CAST(floor(jaccard * 1000000.0) AS BIGINT) >= 800000
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |    WHERE CAST(floor(jaccard * 1000000.0) AS BIGINT) >= 800000),
         |sreach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM sedges e JOIN sreach r ON r.id = e.src),
         |scomp AS (SELECT id AS doc_id, min(peer) AS refined_cluster_id
         |  FROM sreach GROUP BY id),
         |j AS (SELECT c.doc_id, c.cluster_id, s.refined_cluster_id
         |  FROM comp c JOIN scomp s USING (doc_id)),
         |fl AS (SELECT cluster_id,
         |    CAST(count(DISTINCT refined_cluster_id) > 1 AS INT) AS was_split
         |  FROM j GROUP BY cluster_id HAVING count(*) >= 2)
         |SELECT j.doc_id, j.cluster_id, j.refined_cluster_id, fl.was_split
         |FROM j JOIN fl USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // Independent DSIR replay: hashed-bigram distributions for the
    // 'en' target and the raw corpus, add-one smoothed, ppb-fixed, ppm
    // ratio mean per doc — the same integer pipeline end to end.
    "q151_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, lang, unnest(ws) AS w,
        |    generate_subscripts(ws, 1) AS pos FROM t),
        |bi AS (SELECT a.doc_id, a.lang,
        |    CAST(('0x' || substr(md5(a.w || ' ' || b.w), 1, 15)) AS BIGINT) % 1024 AS feat
        |  FROM wp a JOIN wp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |cr AS (SELECT feat, count(*) AS cnt_r FROM bi GROUP BY feat),
        |ct AS (SELECT feat, count(*) AS cnt_t FROM bi WHERE lang = 'en' GROUP BY feat),
        |tr AS (SELECT count(*) AS tot_r FROM bi),
        |tt AS (SELECT count(*) AS tot_t FROM bi WHERE lang = 'en'),
        |ratio AS (SELECT feat,
        |    greatest(1, (coalesce(cnt_t, 0) + 1) * 1000000000 // (tot_t + 1024)) * 1000000
        |      // greatest(1, (cnt_r + 1) * 1000000000 // (tot_r + 1024)) AS ratio_ppm
        |  FROM cr LEFT JOIN ct USING (feat) CROSS JOIN tr CROSS JOIN tt)
        |SELECT doc_id, count(*) AS n_feats,
        |  CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS score_ppm,
        |  CAST(CAST(sum(ratio_ppm) // count(*) AS BIGINT) >= 1000000 AS INT)
        |    AS keep_target_like
        |FROM bi JOIN ratio USING (feat)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Incremental DSIR replay: base-corpus (doc_id % 10 <> 7) bucket
    // counts, then the batch scored with the LEFT-join + smoothed-OOV
    // fallback the incremental scorer uses — the artifact is re-derived
    // from documents, so a stale/corrupt landed counts table fails here.
    "q153_dsir_incremental" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, lang, unnest(ws) AS w,
        |    generate_subscripts(ws, 1) AS pos FROM t),
        |bi AS (SELECT a.doc_id, a.lang,
        |    CAST(('0x' || substr(md5(a.w || ' ' || b.w), 1, 15)) AS BIGINT) % 1024 AS feat
        |  FROM wp a JOIN wp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |cnts AS (SELECT feat, count(*) AS cnt_r,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_t
        |  FROM bi WHERE doc_id % 10 <> 7 GROUP BY feat),
        |tots AS (SELECT coalesce(sum(cnt_r), 0) AS tot_r,
        |    coalesce(sum(cnt_t), 0) AS tot_t FROM cnts),
        |ratio AS (SELECT feat,
        |    greatest(1, (cnt_t + 1) * 1000000000 // (tot_t + 1024)) * 1000000
        |      // greatest(1, (cnt_r + 1) * 1000000000 // (tot_r + 1024)) AS ratio_ppm
        |  FROM cnts CROSS JOIN tots),
        |oov AS (SELECT greatest(1, 1 * 1000000000 // (tot_t + 1024)) * 1000000
        |      // greatest(1, 1 * 1000000000 // (tot_r + 1024)) AS oov_ppm FROM tots)
        |SELECT doc_id, count(*) AS n_feats,
        |  CAST(sum(coalesce(ratio_ppm, oov_ppm)) // count(*) AS BIGINT) AS score_ppm,
        |  CAST(CAST(sum(coalesce(ratio_ppm, oov_ppm)) // count(*) AS BIGINT)
        |    >= 1000000 AS INT) AS keep_target_like
        |FROM bi LEFT JOIN ratio USING (feat) CROSS JOIN oov
        |WHERE doc_id % 10 = 7
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q151's replay + the resample arithmetic: totals, the overflow-safe
    // keep probability, and the 'rs:'-hash keep decision.
    "q154_dsir_resample" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, lang, unnest(ws) AS w,
        |    generate_subscripts(ws, 1) AS pos FROM t),
        |bi AS (SELECT a.doc_id, a.lang,
        |    CAST(('0x' || substr(md5(a.w || ' ' || b.w), 1, 15)) AS BIGINT) % 1024 AS feat
        |  FROM wp a JOIN wp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |cr AS (SELECT feat, count(*) AS cnt_r FROM bi GROUP BY feat),
        |ct AS (SELECT feat, count(*) AS cnt_t FROM bi WHERE lang = 'en' GROUP BY feat),
        |tr AS (SELECT count(*) AS tot_r FROM bi),
        |tt AS (SELECT count(*) AS tot_t FROM bi WHERE lang = 'en'),
        |ratio AS (SELECT feat,
        |    greatest(1, (coalesce(cnt_t, 0) + 1) * 1000000000 // (tot_t + 1024)) * 1000000
        |      // greatest(1, (cnt_r + 1) * 1000000000 // (tot_r + 1024)) AS ratio_ppm
        |  FROM cr LEFT JOIN ct USING (feat) CROSS JOIN tr CROSS JOIN tt),
        |sc AS (SELECT doc_id,
        |    CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS score_ppm
        |  FROM bi JOIN ratio USING (feat) GROUP BY doc_id),
        |tot AS (SELECT CAST(sum(score_ppm) AS BIGINT) AS tot,
        |    CAST(count(*) // 4 AS BIGINT) AS n_target FROM sc),
        |pr AS (SELECT doc_id, score_ppm,
        |    least(1000000, (score_ppm * 1000000)
        |      // greatest(1, tot // greatest(1, n_target))) AS keep_prob_ppm
        |  FROM sc CROSS JOIN tot)
        |SELECT doc_id, score_ppm, keep_prob_ppm,
        |  CAST(CAST(('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |       % 1000000 < keep_prob_ppm AS INT) AS kept
        |FROM pr ORDER BY doc_id""".stripMargin,
    // Replays the near-dup pair graph (the artifact's own derivation),
    // the 'sp:'-hash split, and the straddling-pair contamination
    // rollup — per-source integer-ppm leak rates.
    "q155_split_leakage" ->
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |d AS (SELECT doc_id, source,
         |    CAST(CAST(('0x' || substr(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |         % 100 < 10 AS INT) AS is_test
         |  FROM documents),
         |xdoc AS (SELECT DISTINCT
         |    CASE WHEN da.is_test = 1 THEN p.doc_a ELSE p.doc_b END AS doc_id
         |  FROM pairs p JOIN d da ON da.doc_id = p.doc_a
         |  JOIN d db ON db.doc_id = p.doc_b
         |  WHERE da.is_test <> db.is_test)
         |SELECT d.source,
         |  CAST(sum(1 - is_test) AS BIGINT) AS n_train,
         |  CAST(sum(is_test) AS BIGINT) AS n_test,
         |  CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN is_test ELSE 0 END) AS BIGINT)
         |    AS n_test_contaminated,
         |  CASE WHEN sum(is_test) > 0 THEN
         |    (CAST(sum(CASE WHEN x.doc_id IS NOT NULL THEN is_test ELSE 0 END) AS BIGINT)
         |     * 1000000) // CAST(sum(is_test) AS BIGINT)
         |  ELSE CAST(0 AS BIGINT) END AS leak_ppm
         |FROM d LEFT JOIN xdoc x USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // Full replay of scoring (q106's CTEs) + gold flags (q47's CTEs) +
    // the tie-stable cumulative binning — distinct-logit cum window, so
    // RANGE/ROWS peers coincide and both engines bin identically.
    "q152_model_calibration" -> {
      val h28 = (x: String) => s"CAST(('0x' || substr(md5($x), 1, 7)) AS BIGINT)"
      val w = (x: String) =>
        s"(${h28(s"'w:' || CAST(${h28(x)} % 4096 AS VARCHAR)")} % 2001 - 1000)"
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, ws,
         |    CASE WHEN len(ws) >= 2 THEN
         |      list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
         |    ELSE []::VARCHAR[] END AS bis
         |  FROM t),
         |s AS (
         |  SELECT doc_id,
         |    CAST(coalesce(list_sum(list_transform(ws,  x -> ${w("x")})), 0)
         |       + coalesce(list_sum(list_transform(bis, x -> ${w("x")})), 0) AS BIGINT)
         |      AS logit_milli
         |  FROM f),
         |dist AS (SELECT logit_milli, count(*) AS c FROM s GROUP BY logit_milli),
         |cum AS (SELECT logit_milli,
         |    CAST(sum(c) OVER (ORDER BY logit_milli) - c AS BIGINT) AS below
         |  FROM dist),
         |tot AS (SELECT count(*) AS tot FROM s),
         |binned AS (SELECT doc_id, logit_milli,
         |    CAST(logit_milli >= 0 AS BIGINT) AS keep,
         |    least(9, (below * 10) // tot) AS decile
         |  FROM s JOIN cum USING (logit_milli) CROSS JOIN tot),
         |tk AS (SELECT doc_id,
         |    unnest(list_filter(str_split(trim(regexp_replace(regexp_replace(
         |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' '),
         |      w2 -> w2 <> '')) AS tok
         |  FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
         |rep AS (SELECT doc_id, max(tf) AS max_tf, sum(tf) AS n_toks,
         |    sum(length(tok) * tf) AS sum_len
         |  FROM tf GROUP BY doc_id),
         |base AS (SELECT doc_id,
         |    length(coalesce(text, '')) AS n_chars,
         |    length(coalesce(text, ''))
         |      - length(regexp_replace(coalesce(text, ''), '[a-zA-Z0-9 ]', '', 'g')) AS n_plain
         |  FROM documents),
         |gold AS (SELECT b.doc_id,
         |    CAST(NOT ((coalesce(max_tf, 0) * 5 >= coalesce(n_toks, 0)
         |               AND coalesce(n_toks, 0) > 0)
         |        OR (coalesce(sum_len, 0) < coalesce(n_toks, 0) * 3
         |            OR coalesce(n_toks, 0) = 0)
         |        OR coalesce(sum_len, 0) > coalesce(n_toks, 0) * 10
         |        OR ((n_chars - n_plain) * 10 >= n_chars AND n_chars > 0))
         |      AS BIGINT) AS gold_keep
         |  FROM base b LEFT JOIN rep ON rep.doc_id = b.doc_id)
         |SELECT decile, count(*) AS n_docs,
         |  min(logit_milli) AS lo_milli, max(logit_milli) AS hi_milli,
         |  CAST(sum(keep) * 1000000 // count(*) AS BIGINT) AS model_keep_ppm,
         |  CAST(sum(gold_keep) * 1000000 // count(*) AS BIGINT) AS gold_keep_ppm
         |FROM binned JOIN gold USING (doc_id)
         |GROUP BY decile ORDER BY decile""".stripMargin
    },
    // Replays the q14 pair graph, then 5 chained integer power
    // iterations (PageRank.Scale/DampNum/TeleportFix) — nonneg operands
    // so DuckDB // and Spark div agree; singletons via the final LEFT
    // JOIN at the teleport base.
    "q105_pagerank" -> {
      val iterCtes = (1 to 5).map { k =>
        s"""r$k AS (SELECT e.dst AS id,
           |  CAST(150000 AS BIGINT) + CAST(sum(((r.pr * 85) // 100) // d.outdeg) AS BIGINT) AS pr
           |  FROM es e JOIN r${k - 1} r ON r.id = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |es AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |       UNION SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM es GROUP BY src),
         |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |$iterCtes
         |SELECT doc_id, coalesce(r.pr, CAST(150000 AS BIGINT)) AS pr_fix
         |FROM documents LEFT JOIN r5 r ON r.id = doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "q34_corpus_profile" ->
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |      AS n_pieces,
        |    CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) /
        |      nullif(CAST(length(text) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS alpha_ratio,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS DOUBLE) /
        |      nullif(CAST(len(ws) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS stopword_ratio
        |  FROM t),
        |q AS (
        |  SELECT doc_id, n_tokens, n_pieces,
        |    (alpha_ratio * CAST(0.5 AS DOUBLE)) + (stopword_ratio * CAST(0.3 AS DOUBLE)) +
        |    (least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |     * CAST(0.2 AS DOUBLE)) AS quality_score
        |  FROM s),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS fr_hits
        |  FROM t),
        |lg AS (
        |  SELECT doc_id,
        |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
        |  FROM h)
        |SELECT lang_guess, n_tokens - n_tokens % 25 AS token_bucket,
        |  count(*) AS n_docs,
        |  count(quality_score) AS n_scored,
        |  CAST(floor(sum(CAST(quality_score AS DECIMAL(28,15))) * 1000000) AS BIGINT)
        |    AS sum_quality_micros,
        |  min(quality_score) AS min_quality,
        |  max(quality_score) AS max_quality,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_pieces) AS BIGINT) AS sum_pieces
        |FROM q JOIN lg USING (doc_id)
        |GROUP BY lang_guess, token_bucket
        |ORDER BY lang_guess, token_bucket""".stripMargin,
    // Plain BETWEEN range join — the Spark side's binned rewrite must
    // reproduce this EXACTLY (no drops, no duplicate matches).
    "q33_range_join_price_bands" ->
      """WITH env AS (SELECT p_brand, min(p_retailprice) AS lo, max(p_retailprice) AS hi
        |  FROM part GROUP BY p_brand)
        |SELECT p_brand, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN env ON l_extendedprice BETWEEN lo AND hi
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // Brute-force exact jaccard (any shared shingle is a candidate) —
    // the Spark side's prefix filter must reproduce this EXACTLY.
    // Brute force over the SAME 60-bit hashed shingle sets the engine
    // uses — the compare is exact, collisions and all.
    // Intersection size = shared-hash count straight off the token
    // self-join (hs is per-doc distinct, so count(*) per pair IS
    // |A∩B|) — no per-pair list_intersect re-scan. Equivalent to the
    // materialize-candidates-then-intersect form but hash-agg all the
    // way down, so DuckDB parallelizes and spills it at sf1 instead of
    // thrashing on hundreds of millions of list intersections.
    "q32_ngram_jaccard" ->
      s"""WITH $ShinglesCte,
         |hsq AS (SELECT doc_id, list_sort(list_distinct(list_transform(shingles,
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS hs
         |  FROM sh),
         |sz AS (SELECT doc_id, len(hs) AS n FROM hsq),
         |tok AS (SELECT doc_id, unnest(hs) AS tok FROM hsq),
         |ints AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_shared
         |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |jac AS (SELECT doc_a, doc_b,
         |  CAST(n_shared AS DOUBLE) /
         |  nullif(CAST(sa.n + sb.n - n_shared AS DOUBLE),
         |         CAST(0.0 AS DOUBLE)) AS jaccard
         |  FROM ints JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM jac
         |WHERE jaccard >= CAST(0.5 AS DOUBLE) ORDER BY doc_a, doc_b""".stripMargin,
    // identical to q32's oracle: the salted decomposition must produce
    // the same pair set and jaccard values as brute-force ground truth
    "q166_jaccard_salted" ->
      s"""WITH $ShinglesCte,
         |hsq AS (SELECT doc_id, list_sort(list_distinct(list_transform(shingles,
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))) AS hs
         |  FROM sh),
         |sz AS (SELECT doc_id, len(hs) AS n FROM hsq),
         |tok AS (SELECT doc_id, unnest(hs) AS tok FROM hsq),
         |ints AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_shared
         |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |jac AS (SELECT doc_a, doc_b,
         |  CAST(n_shared AS DOUBLE) /
         |  nullif(CAST(sa.n + sb.n - n_shared AS DOUBLE),
         |         CAST(0.0 AS DOUBLE)) AS jaccard
         |  FROM ints JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM jac
         |WHERE jaccard >= CAST(0.5 AS DOUBLE) ORDER BY doc_a, doc_b""".stripMargin,
    "q15_simhash_fingerprints" ->
      s"""WITH $SimhashCte
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,
    "q16_simhash_neardup" ->
      s"""WITH $SimhashCte,
         |chunks AS (SELECT doc_id, simhash, c, (simhash >> (8*c)) & 255 AS chunk_val
         |  FROM sim, generate_series(0, 3) t(c)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.chunk_val = b.chunk_val
         |    AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "q17_knn_cosine" ->
      s"""WITH $VecCte,
         |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM en a JOIN en b ON a.label = b.label AND a.vec_id <> b.vec_id)
         |SELECT qid, rank, nid, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM p)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "q18_ann_lsh" ->
      s"""WITH $VecCte,
         |bk AS (SELECT vec_id, v, nrm,
         |  CAST(list_sum(list_transform(generate_series(0, 5), j ->
         |    CASE WHEN list_dot_product(
         |        list_transform(generate_series(1, 64), i ->
         |          CAST(CAST(('0x' || substr(md5('hp_' || j || '_' || i), 1, 7)) AS BIGINT)
         |               % 2001 - 1000 AS DOUBLE)),
         |        v) > CAST(0.0 AS DOUBLE)
         |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
         |  FROM en),
         |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT qid, rank, nid, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM p)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // Rebuilds the synthesized P6 payload byte-for-byte in SQL (header
    // + utf-8 text raster + '2E' pad hex) and digests the hex form —
    // the decode audit's width/height/digests all replay analytically.
    "q19_media_stats" ->
      """WITH p AS (
        |  SELECT doc_id, hex(encode(text)) AS thx,
        |    greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0) AS BIGINT)) AS h
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, h,
        |    thx || repeat('2E', CAST(h*48 - length(thx)//2 AS INT)) AS px,
        |    hex(encode('P6' || chr(10) || '16 ' || CAST(h AS VARCHAR) || chr(10)
        |        || '255' || chr(10))) AS hdr
        |  FROM p)
        |SELECT doc_id, CAST(16 AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST((length(hdr) + length(px)) // 2 AS BIGINT) AS n_bytes,
        |  md5(hdr || px) AS content_md5,
        |  md5(px) AS pixel_md5
        |FROM x ORDER BY doc_id""".stripMargin,
    // Replays the corruption plant BY RULE (doc_id % 13) and the
    // healthy payloads' header arithmetic (w=16, h=ceil(bytes/48));
    // quarantined rows contribute the −1 dimension sentinels.
    "q163_media_quarantine" ->
      """WITH k AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 5 THEN 'malformed'
        |         WHEN doc_id % 13 = 9 THEN 'bad_magic' ELSE 'ok' END AS err_kind,
        |    greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0) AS BIGINT)) AS h
        |  FROM documents)
        |SELECT source, err_kind, count(*) AS n_payloads,
        |  CAST(sum(CASE WHEN err_kind = 'ok' THEN 16 ELSE -1 END) AS BIGINT) AS sum_width,
        |  CAST(sum(CASE WHEN err_kind = 'ok' THEN h ELSE -1 END) AS BIGINT) AS sum_height,
        |  CAST(sum(CASE WHEN err_kind = 'ok' THEN h*48 ELSE 0 END) AS BIGINT)
        |    AS sum_pixel_bytes
        |FROM k GROUP BY source, err_kind ORDER BY source, err_kind""".stripMargin,
    // Replays the two-level rule from the LANDED super-cell artifacts:
    // rank supers per vector (−cos, sid), probe the top 4, rank the
    // probed supers' member cells (−cos, cid), keep the best.
    "q164_two_level_assign" ->
      s"""WITH $VecCte,
         |cent AS (SELECT cid, cv, cnrm FROM '$oracleWhDir/ivf_codebook/*.parquet'),
         |sup AS (SELECT sid, sv, snrm FROM '$oracleWhDir/ivf_supercells/*.parquet'),
         |mp AS (SELECT cid, sid FROM '$oracleWhDir/ivf_super_map/*.parquet'),
         |ss AS (SELECT e.vec_id, s.sid,
         |    list_dot_product(e.v, s.sv) / (e.nrm * s.snrm) AS sscore
         |  FROM en e CROSS JOIN sup s),
         |rs AS (SELECT vec_id, sid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY sscore DESC, sid) AS rn
         |  FROM ss),
         |cand AS (SELECT e.vec_id, c.cid,
         |    list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) AS cos
         |  FROM en e JOIN rs ON rs.vec_id = e.vec_id AND rs.rn <= 4
         |  JOIN mp ON mp.sid = rs.sid JOIN cent c ON c.cid = mp.cid),
         |r AS (SELECT vec_id, cid, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |  FROM cand)
         |SELECT vec_id, cid AS cell, CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_micro
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q20_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    CAST(len(ws) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(ws,
        |      t2 -> CAST(floor((length(t2) + 3) / 4) AS BIGINT))) AS BIGINT) AS n_subwords,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |      AS n_pieces,
        |    CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) /
        |      nullif(CAST(length(text) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS alpha_ratio,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS DOUBLE) /
        |      nullif(CAST(len(ws) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS stopword_ratio
        |  FROM t)
        |SELECT doc_id, n_chars, n_tokens, n_subwords, n_pieces, alpha_ratio, stopword_ratio,
        |  (alpha_ratio * CAST(0.5 AS DOUBLE)) + (stopword_ratio * CAST(0.3 AS DOUBLE)) +
        |  (least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |   * CAST(0.2 AS DOUBLE)) AS quality_score
        |FROM s ORDER BY doc_id""".stripMargin,
    "q21_lang_guess" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS fr_hits
        |  FROM t)
        |SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |       WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
        |FROM h ORDER BY doc_id""".stripMargin,
    "q30_lang_cjk" ->
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS fr_hits,
        |    CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS han_chars,
        |    CAST(len(regexp_extract_all(text, '\p{Hiragana}'))
        |       + len(regexp_extract_all(text, '\p{Katakana}')) AS BIGINT) AS kana_chars,
        |    CAST(len(regexp_extract_all(text, '\p{Hangul}')) AS BIGINT) AS hangul_chars,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM t),
        |v AS (
        |  SELECT *,
        |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_stopword
        |  FROM h)
        |SELECT doc_id, han_chars, kana_chars, hangul_chars, lang_stopword,
        |  CASE WHEN (han_chars + kana_chars + hangul_chars) * 2 > n_chars THEN
        |    CASE WHEN hangul_chars >= han_chars AND hangul_chars >= kana_chars THEN 'ko'
        |         WHEN kana_chars > 0 THEN 'ja' ELSE 'zh' END
        |  ELSE lang_stopword END AS lang_final
        |FROM v ORDER BY doc_id""".stripMargin,
    "q31_skew_salted_join" ->
      """SELECT p_brand, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // Same selector-rule cell assignment as the engine's landed
    // ivf_assign (rn = 1), pairs confined to a cell — the oracle
    // mirrors the corpus-independent blocking, not a label block.
    "q24_embedding_neardup" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |ea AS MATERIALIZED (SELECT en.vec_id, v, nrm, cell
         |  FROM en JOIN r ON en.vec_id = r.vec_id AND r.rn = 1)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM ea a JOIN ea b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |WHERE cosine >= CAST(0.4 AS DOUBLE) ORDER BY vec_a, vec_b""".stripMargin,
    "q25_ann_ivf" ->
      s"""WITH $VecCte,
         |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en ORDER BY vec_id LIMIT 8),
         |assign AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM en e CROSS JOIN cent c) WHERE rn = 1),
         |ea AS (SELECT en.vec_id, v, nrm, cell FROM en JOIN assign ON en.vec_id = assign.vec_id),
         |p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM ea a JOIN ea b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |SELECT qid, rank, nid, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM p)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // IVF search under the TRAINED codebook (training itself is
    // spec-gated; this replays assignment + multi-probe top-k over the
    // materialized codebook parquet — same probe discipline as the
    // engine: index side = each vector's single nearest cell, probe
    // side = the query's top-6 cells).
    "q29_ann_ivf_trained" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |idx AS (SELECT vec_id, cell FROM r WHERE rn = 1),
         |prb AS (SELECT vec_id, cell FROM r WHERE rn <= 6),
         |q AS (SELECT en.vec_id AS qid, cell, v AS va, nrm AS na
         |  FROM en JOIN prb ON en.vec_id = prb.vec_id),
         |n AS (SELECT en.vec_id AS nid, cell, v AS vb, nrm AS nb
         |  FROM en JOIN idx ON en.vec_id = idx.vec_id),
         |p AS (SELECT qid, nid, list_dot_product(va, vb) / (na * nb) AS cosine
         |  FROM q JOIN n ON q.cell = n.cell AND qid <> nid)
         |SELECT qid, rank, nid, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM p)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // IVF-PQ search under the trained codebooks: PQ-encode each vector
    // (per-subspace argmin of ‖c‖² − 2·x_s·c, first-wins ties), rank
    // in-cell candidates by the ADC sum of the 4 subspace LUT dots in
    // fixed subspace order, exact-re-rank the top-12, emit the top-3.
    // Constants mirror q44's call: dim=64, m=4 (dsub=16), nprobe=6.
    "q44_ann_ivfpq" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |pq AS (SELECT subspace, code, cv AS pcv FROM '$oracleWhDir/pq_codebooks/*.parquet'),
         |sc AS (SELECT e.vec_id, p.subspace, p.code,
         |    list_dot_product(p.pcv, p.pcv)
         |      - 2.0 * list_dot_product(list_slice(e.v, p.subspace*16 + 1, p.subspace*16 + 16),
         |                               p.pcv) AS score
         |  FROM en e CROSS JOIN pq p),
         |codes AS (SELECT vec_id,
         |    max(CASE WHEN subspace = 0 THEN code END) AS c0,
         |    max(CASE WHEN subspace = 1 THEN code END) AS c1,
         |    max(CASE WHEN subspace = 2 THEN code END) AS c2,
         |    max(CASE WHEN subspace = 3 THEN code END) AS c3
         |  FROM (SELECT vec_id, subspace, code,
         |      row_number() OVER (PARTITION BY vec_id, subspace ORDER BY score, code) AS rn
         |    FROM sc) WHERE rn = 1 GROUP BY vec_id),
         |idx AS (SELECT vec_id, cell FROM r WHERE rn = 1),
         |prb AS (SELECT vec_id, cell FROM r WHERE rn <= 6),
         |q AS (SELECT en.vec_id AS qid, cell, v AS va, nrm AS na
         |  FROM en JOIN prb ON en.vec_id = prb.vec_id),
         |n AS (SELECT codes.vec_id AS nid, cell, c0, c1, c2, c3
         |  FROM codes JOIN idx ON codes.vec_id = idx.vec_id),
         |cand AS (SELECT qid, nid, va, na,
         |    ((list_dot_product(list_slice(va, 1, 16), p0.pcv)
         |      + list_dot_product(list_slice(va, 17, 32), p1.pcv))
         |      + list_dot_product(list_slice(va, 33, 48), p2.pcv))
         |      + list_dot_product(list_slice(va, 49, 64), p3.pcv) AS adc
         |  FROM q JOIN n ON q.cell = n.cell AND qid <> nid
         |  JOIN pq p0 ON p0.subspace = 0 AND p0.code = c0
         |  JOIN pq p1 ON p1.subspace = 1 AND p1.code = c1
         |  JOIN pq p2 ON p2.subspace = 2 AND p2.code = c2
         |  JOIN pq p3 ON p3.subspace = 3 AND p3.code = c3),
         |short AS (SELECT qid, nid, va, na FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS srank
         |    FROM cand) WHERE srank <= 12),
         |rer AS (SELECT qid, nid, list_dot_product(va, e2.v) / (na * e2.nrm) AS cosine
         |  FROM short JOIN en e2 ON e2.vec_id = short.nid)
         |SELECT qid, rank, nid, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM rer)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // Ensemble-recall replay: blocked-exact truth (q99's ex), the q102
    // LSH/IVF/fused lists, then one eval per method via a method-keyed
    // union — recall arithmetic identical to q99's.
    "q104_ensemble_recall" ->
      s"""WITH $VecCte,
         |$dualTruthCtes,
         |bk AS (SELECT vec_id, v, nrm,
         |  CAST(list_sum(list_transform(generate_series(0, 5), j ->
         |    CASE WHEN list_dot_product(
         |        list_transform(generate_series(1, 64), i ->
         |          CAST(CAST(('0x' || substr(md5('hp_' || j || '_' || i), 1, 7)) AS BIGINT)
         |               % 2001 - 1000 AS DOUBLE)),
         |        v) > CAST(0.0 AS DOUBLE)
         |      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
         |  FROM en),
         |lp AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |lr AS (SELECT qid, nid, rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM lp) WHERE rank <= 3),
         |${assignSelectorCtes("en", "asn")},
         |iq AS (SELECT en.vec_id AS qid, cell, v AS va, nrm AS na
         |  FROM en JOIN asn ON en.vec_id = asn.vec_id AND asn.rn <= 6),
         |ix AS (SELECT en.vec_id AS nid, cell, v AS vb, nrm AS nb
         |  FROM en JOIN asn ON en.vec_id = asn.vec_id AND asn.rn = 1),
         |ip AS (SELECT qid, nid, list_dot_product(va, vb) / (na * nb) AS cosine
         |  FROM iq JOIN ix ON iq.cell = ix.cell AND qid <> nid),
         |ir AS (SELECT qid, nid, rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM ip) WHERE rank <= 3),
         |fu AS (SELECT qid, nid, CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
         |  FROM (SELECT * FROM lr UNION ALL SELECT * FROM ir) GROUP BY qid, nid),
         |fr AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu) WHERE rank <= 3),
         |al AS MATERIALIZED (
         |  SELECT 'lsh' AS method, qid, nid FROM lr
         |  UNION ALL SELECT 'ivf', qid, nid FROM ir
         |  UNION ALL SELECT 'ens_rrf', qid, nid FROM fr),
         |h AS (SELECT m.method, e.truth, e.qid, count(a.nid) AS hits, count(*) AS n_exact
         |  FROM (SELECT DISTINCT method FROM al) m
         |  CROSS JOIN tr e
         |  LEFT JOIN al a ON a.method = m.method AND a.qid = e.qid AND a.nid = e.nid
         |  GROUP BY m.method, e.truth, e.qid)
         |SELECT en.label, h.method, h.truth, count(*) AS n_queries,
         |  CAST(sum(hits) AS BIGINT) AS sum_hits,
         |  CAST(sum(n_exact) AS BIGINT) AS sum_exact,
         |  (CAST(sum(hits) AS BIGINT) * 1000000) // CAST(sum(n_exact) AS BIGINT)
         |    AS recall_ppm
         |FROM h JOIN en ON en.vec_id = h.qid
         |GROUP BY en.label, h.method, h.truth
         |ORDER BY en.label, h.method, h.truth""".stripMargin,
    // PQ reconstruction-error replay: codes and assignment re-derived
    // from the codebook parquet exactly as in q44, then the per-dim
    // fixed-point squared error (floor(diff·2^20), exact int64 sums)
    // rolled up per cell.
    "q103_pq_recon_error" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |pq AS (SELECT subspace, code, cv AS pcv FROM '$oracleWhDir/pq_codebooks/*.parquet'),
         |sc AS (SELECT e.vec_id, p.subspace, p.code,
         |    list_dot_product(p.pcv, p.pcv)
         |      - 2.0 * list_dot_product(list_slice(e.v, p.subspace*16 + 1, p.subspace*16 + 16),
         |                               p.pcv) AS score
         |  FROM en e CROSS JOIN pq p),
         |codes AS (SELECT vec_id,
         |    max(CASE WHEN subspace = 0 THEN code END) AS c0,
         |    max(CASE WHEN subspace = 1 THEN code END) AS c1,
         |    max(CASE WHEN subspace = 2 THEN code END) AS c2,
         |    max(CASE WHEN subspace = 3 THEN code END) AS c3
         |  FROM (SELECT vec_id, subspace, code,
         |      row_number() OVER (PARTITION BY vec_id, subspace ORDER BY score, code) AS rn
         |    FROM sc) WHERE rn = 1 GROUP BY vec_id),
         |idx AS (SELECT vec_id, cell FROM r WHERE rn = 1),
         |er AS (SELECT c.vec_id,
         |  ${(0 until 4).map(s =>
              s"""list_sum(list_transform(list_transform(generate_series(1, 16),
                 |      i -> CAST(floor((e.v[${s * 16} + i] - p$s.pcv[i]) * 1048576) AS BIGINT)),
                 |    d -> d*d))""".stripMargin).mkString("(", "\n   + ", ")")} AS err
         |  FROM codes c JOIN en e ON e.vec_id = c.vec_id
         |  JOIN pq p0 ON p0.subspace = 0 AND p0.code = c.c0
         |  JOIN pq p1 ON p1.subspace = 1 AND p1.code = c.c1
         |  JOIN pq p2 ON p2.subspace = 2 AND p2.code = c.c2
         |  JOIN pq p3 ON p3.subspace = 3 AND p3.code = c.c3)
         |SELECT idx.cell, count(*) AS n_vectors,
         |  CAST(sum(er.err) AS BIGINT) // count(*) AS mean_err_fix,
         |  CAST(max(er.err) AS BIGINT) AS max_err_fix
         |FROM er JOIN idx ON idx.vec_id = er.vec_id
         |GROUP BY idx.cell ORDER BY idx.cell""".stripMargin,
    // BPE merge TRAINING replayed from scratch (see [[bpeTrainSql]]):
    // the oracle builds its own word table from `documents` and runs
    // the full 12-rank argmax/rewrite loop unrolled — the engine's
    // warehouse-trained table must equal an independent re-training.
    "q64_bpe_merges" -> bpeTrainSql(12),
    // BPE encode replay under the trained merge table. RE2 has no
    // lookahead, so the engine's greedy pass " l r(?= )" → " lr" is
    // replayed with DOUBLED separators: in "  s1  s2  " every boundary
    // holds two spaces, the literal pattern " l  r " consumes one space
    // from each boundary, and adjacent occurrences no longer share a
    // character — ONE plain left-to-right replace() pass merges exactly
    // the greedy non-overlapping occurrence set (runs like "a a a"
    // included), and the " lr " replacement restores the two-space
    // invariant. Rules apply in rank order via the recursive CTE.
    "q72_bpe_encode" ->
      s"""WITH RECURSIVE $bpeEncodeCtes
         |SELECT doc_id, count(*) AS n_words, CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(n_pieces * pos) AS BIGINT) AS pieces_checksum
         |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Tokenizer fertility by language (pieces per word — the
    // multilingual-fairness metric): the same encode replay, rolled up
    // per lang; docs with zero tokens have no words to encode and are
    // absent on both sides by construction.
    "q92_bpe_fertility" ->
      s"""WITH RECURSIVE $bpeEncodeCtes,
         |ag AS (SELECT doc_id, count(*) AS w, CAST(sum(n_pieces) AS BIGINT) AS p
         |  FROM pc GROUP BY doc_id)
         |SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words,
         |  CAST(sum(p) AS BIGINT) AS n_pieces,
         |  CAST(CAST(sum(p) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE)
         |    AS fertility
         |FROM ag JOIN documents USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // The q92 encode replay split by the holdout rule, integer-micros
    // fertility per side + abs gap.
    "q144_tokenizer_drift" ->
      s"""WITH RECURSIVE $bpeEncodeCtes,
         |ag AS (SELECT doc_id, count(*) AS w, CAST(sum(n_pieces) AS BIGINT) AS p
         |  FROM pc GROUP BY doc_id),
         |per AS (SELECT lang,
         |    CAST(sum(CASE WHEN doc_id % 10 <> 7 THEN w ELSE 0 END) AS BIGINT) AS corpus_words,
         |    CAST(sum(CASE WHEN doc_id % 10 <> 7 THEN p ELSE 0 END) AS BIGINT) AS corpus_pieces,
         |    CAST(sum(CASE WHEN doc_id % 10 = 7 THEN w ELSE 0 END) AS BIGINT) AS batch_words,
         |    CAST(sum(CASE WHEN doc_id % 10 = 7 THEN p ELSE 0 END) AS BIGINT) AS batch_pieces
         |  FROM ag JOIN documents USING (doc_id) GROUP BY lang)
         |SELECT lang, corpus_words, corpus_pieces, batch_words, batch_pieces,
         |  (corpus_pieces * 1000000) // greatest(1, corpus_words) AS corpus_fert_micro,
         |  (batch_pieces * 1000000) // greatest(1, batch_words) AS batch_fert_micro,
         |  abs((corpus_pieces * 1000000) // greatest(1, corpus_words)
         |    - (batch_pieces * 1000000) // greatest(1, batch_words)) AS drift_micro
         |FROM per ORDER BY lang""".stripMargin,
    // Date-range replay from the base events table (the artifact is a
    // partitioned relayout of it — same rows, plus the day key).
    "q145_events_day_range" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 1048576) AS BIGINT)) AS BIGINT) AS v_fix
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
        |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "q146_events_recent_window" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  max(CAST(ts AS DATE)) AS last_day
        |FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-28'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Same deterministic augmentation, same restricted-regex rules in
    // the same order — counts on the original, replaces chained, md5 of
    // the scrubbed text hash-gates the redaction end to end.
    "q73_pii_scrub" ->
      s"""WITH aug AS (SELECT doc_id,
         |    coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com tel '
         |      || lpad(CAST((doc_id*7) % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST((doc_id*13) % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST((doc_id*17) % 10000 AS VARCHAR), 4, '0')
         |      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id*3) % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id*5) % 256 AS VARCHAR)
         |      || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ids,
         |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<ID>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'),
         |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
         |FROM aug ORDER BY doc_id""".stripMargin,
    // Counts replayed over the same version/fact CTE chain; the oracle's
    // n_after/n_leaked are before−deleted and 0 — matching them proves
    // the anti-join deleted exactly the victim rows and nothing else.
    "q79_erasure_audit" ->
      s"""$VersionsCte,
         |victims AS (SELECT DISTINCT user_id AS key FROM events WHERE user_id % 97 = 13),
         |ev AS (SELECT count(*) AS nb,
         |  count(CASE WHEN user_id IN (SELECT key FROM victims) THEN 1 END) AS nd FROM events),
         |dv AS (SELECT count(*) AS nb,
         |  count(CASE WHEN order_id IN (SELECT key FROM victims) THEN 1 END) AS nd FROM versions),
         |fv AS (SELECT count(*) AS nb,
         |  count(CASE WHEN order_id IN (SELECT key FROM victims) THEN 1 END) AS nd FROM first_ev)
         |SELECT 'events' AS table_name, nb AS n_before, nd AS n_deleted,
         |  nb - nd AS n_after, CAST(0 AS BIGINT) AS n_leaked FROM ev
         |UNION ALL SELECT 'dim_orders', nb, nd, nb - nd, CAST(0 AS BIGINT) FROM dv
         |UNION ALL SELECT 'fact_orders', nb, nd, nb - nd, CAST(0 AS BIGINT) FROM fv
         |ORDER BY table_name""".stripMargin,
    "q78_props_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Plant rule replayed verbatim; classification by DuckDB's own
    // json_valid (independent of Spark's Jackson corrupt-record
    // channel), k extraction only on valid rows.
    "q165_props_quarantine" ->
      """WITH f AS (SELECT event_type,
        |    CASE WHEN event_id % 101 = 5 THEN substr(props, 1, length(props) - 1)
        |         WHEN event_id % 101 = 17 THEN 'garbage<<' || props
        |         WHEN event_id % 101 = 29 THEN NULL
        |         ELSE props END AS p
        |  FROM events),
        |c AS (SELECT event_type,
        |    CASE WHEN p IS NULL THEN 'null_props'
        |         WHEN NOT json_valid(p) THEN 'malformed'
        |         ELSE 'ok' END AS err_kind,
        |    CASE WHEN p IS NOT NULL AND json_valid(p)
        |         THEN CAST(json_extract(p, '$.k') AS BIGINT) END AS k
        |  FROM f)
        |SELECT event_type, err_kind, count(*) AS n_events,
        |  count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM c GROUP BY event_type, err_kind
        |ORDER BY event_type, err_kind""".stripMargin,
    // Same codebook assignment, probe side restricted to the new
    // batch, index side to the corpus — no self-exclusion needed
    // (the sets are disjoint).
    "q77_ann_incremental" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |q AS (SELECT en.vec_id AS qid, r.cell, v AS va, nrm AS na
         |  FROM en JOIN r ON en.vec_id = r.vec_id AND r.rn <= 6
         |  WHERE en.vec_id % 10 = 7),
         |n AS (SELECT en.vec_id AS nid, r.cell, v AS vb, nrm AS nb
         |  FROM en JOIN r ON en.vec_id = r.vec_id AND r.rn = 1
         |  WHERE en.vec_id % 10 <> 7),
         |p AS (SELECT qid, nid, list_dot_product(va, vb) / (na * nb) AS cosine
         |  FROM q JOIN n ON q.cell = n.cell)
         |SELECT qid, rank, nid, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM p)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // EXACT-DEDUP-FIRST replay (r14): batch docs with a corpus-known
    // text hash key to that group's rep (jaccard 1); only unseen-text
    // batch reps band (per-side caps over the REP populations) and
    // verify against corpus-rep shingles.
    "q76_incremental_neardup" ->
      s"""WITH $ShinglesCte,
         |th AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS th
         |  FROM documents),
         |grpo AS MATERIALIZED (SELECT doc_id, th,
         |    min(doc_id) OVER (PARTITION BY th) AS rep
         |  FROM th WHERE doc_id % 10 <> 7),
         |grpn AS MATERIALIZED (SELECT doc_id, th,
         |    min(doc_id) OVER (PARTITION BY th) AS rep
         |  FROM th WHERE doc_id % 10 = 7),
         |cro AS (SELECT DISTINCT th, rep FROM grpo),
         |hits AS (SELECT n.doc_id AS new_id, cro.rep AS old_id,
         |    CAST(1.0 AS DOUBLE) AS jaccard
         |  FROM grpn n JOIN cro ON cro.th = n.th),
         |repn AS (SELECT doc_id FROM grpn
         |  WHERE doc_id = rep AND th NOT IN (SELECT th FROM cro)),
         |hs AS (SELECT doc_id, shingles,
         |  list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)) AS h28s
         |  FROM sh WHERE doc_id IN (SELECT doc_id FROM repn)
         |    OR doc_id IN (SELECT doc_id FROM grpo WHERE doc_id = rep)),
         |sig AS (SELECT doc_id,
         |  list_transform(generate_series(0, 15), j ->
         |    coalesce(list_min(list_transform(h28s,
         |      h -> ((2*j + 1) * h + 104729*j + 7919) % 268435399)), 268435399)) AS sig
         |  FROM hs),
         |bands0 AS (SELECT doc_id,
         |  b, CAST(sig[2*b + 1] AS VARCHAR) || '_' || CAST(sig[2*b + 2] AS VARCHAR) AS band_key
         |  FROM sig, generate_series(0, 7) t(b)),
         |bandsn AS (SELECT doc_id, b, band_key FROM (
         |  SELECT doc_id, b, band_key,
         |    row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS bkrn
         |  FROM bands0 WHERE doc_id IN (SELECT doc_id FROM repn)) WHERE bkrn <= 256),
         |bandso AS (SELECT doc_id, b, band_key FROM (
         |  SELECT doc_id, b, band_key,
         |    row_number() OVER (PARTITION BY b, band_key ORDER BY doc_id) AS bkrn
         |  FROM bands0 WHERE doc_id % 10 <> 7) WHERE bkrn <= 256),
         |candx AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM bandsn a JOIN bandso b ON a.b = b.b AND a.band_key = b.band_key),
         |px AS (SELECT new_id, old_id,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         |  nullif(CAST(len(sa.shingles) + len(sb.shingles)
         |       - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE),
         |         CAST(0.0 AS DOUBLE)) AS jaccard
         |  FROM candx JOIN sh sa ON sa.doc_id = new_id JOIN sh sb ON sb.doc_id = old_id)
         |SELECT new_id, old_id, jaccard FROM (
         |  SELECT new_id, old_id, jaccard FROM px
         |  WHERE jaccard >= CAST(0.5 AS DOUBLE)
         |  UNION ALL SELECT new_id, old_id, jaccard FROM hits)
         |ORDER BY new_id, old_id""".stripMargin,
    // Same stage flags (exact-dedup keeper, near-dup loser via the
    // shared LSH pair CTEs, quality floor, language pick), same
    // single-pass conditional sums.
    "q75_curation_funnel" ->
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |keepers AS (SELECT min(doc_id) AS doc_id FROM (
         |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         |                        ' +', ' ', 'g'))) AS nh FROM documents) GROUP BY nh),
         |z AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         |t AS (SELECT doc_id, text, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |      FROM documents),
         |meta AS (
         |  SELECT doc_id,
         |    (CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) /
         |       nullif(CAST(length(text) AS DOUBLE), CAST(0.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)) +
         |    (CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS DOUBLE) /
         |       nullif(CAST(len(ws) AS DOUBLE), CAST(0.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)) +
         |    (least(CAST(len(ws) AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |       * CAST(0.2 AS DOUBLE)) AS quality_score,
         |    len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS en_hits,
         |    len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS de_hits,
         |    len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS es_hits,
         |    len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS fr_hits
         |  FROM t),
         |f AS (SELECT d.doc_id,
         |    CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kf,
         |    CASE WHEN z.doc_id IS NOT NULL THEN 0 ELSE 1 END AS nlf,
         |    CASE WHEN m.quality_score >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END AS qf,
         |    CASE WHEN (CASE WHEN m.en_hits >= m.de_hits AND m.en_hits >= m.es_hits
         |                         AND m.en_hits >= m.fr_hits THEN 'en'
         |                    WHEN m.de_hits >= m.es_hits AND m.de_hits >= m.fr_hits THEN 'de'
         |                    WHEN m.es_hits >= m.fr_hits THEN 'es' ELSE 'fr' END) = 'en'
         |         THEN 1 ELSE 0 END AS lf
         |  FROM documents d
         |  LEFT JOIN keepers k ON k.doc_id = d.doc_id
         |  LEFT JOIN z ON z.doc_id = d.doc_id
         |  JOIN meta m ON m.doc_id = d.doc_id)
         |SELECT count(*) AS n_raw,
         |  CAST(sum(kf) AS BIGINT) AS n_after_dedup,
         |  CAST(sum(kf*nlf) AS BIGINT) AS n_after_neardup,
         |  CAST(sum(kf*nlf*qf) AS BIGINT) AS n_after_quality,
         |  CAST(sum(kf*nlf*qf*lf) AS BIGINT) AS n_after_lang
         |FROM f ORDER BY n_raw""".stripMargin,
    // BM25 replay with the same integer-micros fixed-point arithmetic:
    // every factor is an exact BIGINT floor-division, every score an
    // exact integer sum — no ln, no double accumulation order.
    "q80_bm25_search" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS tok
         |  FROM documents),
         |len AS (SELECT doc_id, count(*) AS len FROM t GROUP BY doc_id),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(len) AS BIGINT) AS sum_len FROM len),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
         |  WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |sc AS (SELECT doc_id,
         |    ((1000000 * (2 * (n_docs - df) + 1)) // (2 * df + 1)) *
         |    ((1000000 * 22 * tf * sum_len) //
         |     (10 * tf * sum_len + 3 * sum_len + 9 * len * n_docs)) AS s
         |  FROM tf JOIN dfq USING (tok) JOIN len USING (doc_id) CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit, CAST(sum(s) AS BIGINT) AS bm25_e12
         |FROM sc GROUP BY doc_id ORDER BY bm25_e12 DESC, doc_id LIMIT 20""".stripMargin,
    // The q80 scoring chain, ranked per term instead of summed per doc.
    "q133_bm25_postings" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS tok
         |  FROM documents),
         |len AS (SELECT doc_id, count(*) AS len FROM t GROUP BY doc_id),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(len) AS BIGINT) AS sum_len FROM len),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
         |  WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |sc AS (SELECT tok, doc_id,
         |    ((1000000 * (2 * (n_docs - df) + 1)) // (2 * df + 1)) *
         |    ((1000000 * 22 * tf * sum_len) //
         |     (10 * tf * sum_len + 3 * sum_len + 9 * len * n_docs)) AS s
         |  FROM tf JOIN dfq USING (tok) JOIN len USING (doc_id) CROSS JOIN tot)
         |SELECT tok AS term, rank, doc_id, CAST(s9 AS BIGINT) AS bm25_e9 FROM (
         |  SELECT tok, doc_id, s // 1000 AS s9,
         |    row_number() OVER (PARTITION BY tok ORDER BY s // 1000 DESC, doc_id) AS rank
         |  FROM sc) WHERE rank <= 10 ORDER BY term, rank""".stripMargin,
    // SemDeDup replay over the materialized IVF codebook (q29's
    // mechanism): window-ranked nearest cell ≡ the engine's map-side
    // sort_array assignment (same `ccos DESC, cid` tie-break), then
    // in-cell pairs, drop rule, and lowest-id witness via arg_min.
    "q81_semantic_dedup" ->
      s"""WITH $VecCte,
         |${assignSelectorCtes("en", "r")},
         |cells AS (SELECT en.vec_id, cell, v, nrm
         |  FROM en JOIN (SELECT vec_id, cell FROM r WHERE rn = 1) idx USING (vec_id)),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT vec_b AS dropped, min(vec_a) AS witness,
         |  arg_min(cosine, vec_a) AS witness_cosine,
         |  CAST(count(*) AS BIGINT) AS n_witnesses
         |FROM p WHERE cosine >= CAST(0.4 AS DOUBLE)
         |GROUP BY vec_b ORDER BY dropped""".stripMargin,
    // Duplicated-n-gram coverage over the SAME 60-bit hashed shingle
    // sets as q32 — collisions and all, so the compare stays exact.
    "q82_dupgram_coverage" ->
      s"""WITH $ShinglesCte,
         |hsq AS (SELECT doc_id, list_distinct(list_transform(shingles,
         |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS hs
         |  FROM sh),
         |tok AS (SELECT doc_id, unnest(hs) AS h FROM hsq),
         |dup AS (SELECT h FROM tok GROUP BY h HAVING count(*) >= 2),
         |nd AS (SELECT doc_id, count(*) AS n_dup FROM tok JOIN dup USING (h) GROUP BY doc_id)
         |SELECT q.doc_id, CAST(len(hs) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
         |  CASE WHEN len(hs) > 0 THEN CAST(coalesce(n_dup, 0) AS DOUBLE) / CAST(len(hs) AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS dup_ratio
         |FROM hsq q LEFT JOIN nd USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Temperature mixing replay: exact isqrt (IEEE sqrt + ±1 integer
    // correction), integer-ppm rates, md5-hash keep filter — all
    // BIGINT floor divisions, bit-identical on both engines.
    "q83_lang_mix" ->
      """WITH pl AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |    CASE WHEN r0 * r0 > n_docs * 1000000 THEN r0 - 1
        |         WHEN (r0 + 1) * (r0 + 1) <= n_docs * 1000000 THEN r0 + 1
        |         ELSE r0 END AS w
        |  FROM (SELECT lang, n_docs,
        |      CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT) AS r0 FROM pl)),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_total,
        |               CAST(sum(n_docs) AS BIGINT) AS n_total FROM w),
        |rates AS (SELECT lang, n_docs, w,
        |    least(1000000, (1000000 * ((2 * n_total) // 5) * w) // (w_total * n_docs)) AS rate_ppm
        |  FROM w CROSS JOIN tot),
        |kept AS (SELECT d.lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
        |  FROM documents d JOIN rates r ON d.lang = r.lang
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % 1000000 < r.rate_ppm
        |  GROUP BY d.lang)
        |SELECT r.lang, n_docs, w, CAST(rate_ppm AS BIGINT) AS rate_ppm,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(kept_id_sum, 0) AS BIGINT) AS kept_id_sum
        |FROM rates r LEFT JOIN kept k ON r.lang = k.lang ORDER BY r.lang""".stripMargin,
    // Co-occurrence replay: same window offsets, same canonical pair,
    // same integer PMI surrogate — ranking ties fully broken.
    "q93_cooccurrence" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS pos FROM t),
        |uni AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok),
        |pr AS (SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2, 3)),
        |pc AS (SELECT tok_a, tok_b, count(*) AS n_pair FROM pr GROUP BY tok_a, tok_b)
        |SELECT tok_a, tok_b, n_pair,
        |  CAST((1000000 * n_pair * n_tokens) // (ua.n * ub.n) AS BIGINT) AS pmi_micro
        |FROM pc JOIN uni ua ON ua.tok = pc.tok_a JOIN uni ub ON ub.tok = pc.tok_b
        |CROSS JOIN tot
        |ORDER BY pmi_micro DESC, tok_a, tok_b LIMIT 20""".stripMargin,
    // TextRank replay: the same co-occurrence pairing as q93, edges
    // symmetrized with strengths, then the weighted-PageRank recurrence
    // unrolled 5 iterations in the engine's exact integer-micros
    // arithmetic (init 10^6; contribution (w·ws)//strength; damping
    // 150000 + (85·S)//100). AS MATERIALIZED: each iteration references
    // the edge CTE, which DuckDB would otherwise inline per reference.
    "q101_textrank" ->
      s"""WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS pos FROM t),
         |pr AS (SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b
         |  FROM tok a JOIN tok b
         |    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2, 3)),
         |pc AS MATERIALIZED (SELECT tok_a, tok_b, count(*) AS w FROM pr
         |  WHERE tok_a <> tok_b GROUP BY tok_a, tok_b),
         |ed AS MATERIALIZED (
         |  SELECT tok_a AS src, tok_b AS dst, w FROM pc
         |  UNION ALL SELECT tok_b, tok_a, w FROM pc),
         |sw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM ed GROUP BY src),
         |ws0 AS (SELECT src AS tok, CAST(1000000 AS BIGINT) AS ws FROM sw),
         |${(1 to 5).map(i =>
             s"""ws$i AS (SELECT ed.dst AS tok,
                |    150000 + (85 * CAST(sum((ed.w * ws${i - 1}.ws) // sw.sw) AS BIGINT)) // 100 AS ws
                |  FROM ed JOIN ws${i - 1} ON ws${i - 1}.tok = ed.src
                |    JOIN sw ON sw.src = ed.src
                |  GROUP BY ed.dst)""".stripMargin).mkString(",\n")}
         |SELECT tok, ws AS ws_micro FROM ws5
         |ORDER BY ws_micro DESC, tok LIMIT 20""".stripMargin,
    // RRF replay: the q18 LSH pairs and the q29 IVF pairs (identical
    // CTE text), each ranked top-3, fused with integer-micros
    // reciprocal ranks, re-ranked by (rrf DESC, nid).
    "q102_rrf_ensemble" ->
      s"""WITH $VecCte,
         |$rrfFusedCtes
         |SELECT qid, rank, nid, rrf_micro FROM (
         |  SELECT qid, nid, rrf_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // Pair replay joined twice to the source dim, unordered-pair rollup.
    "q116_source_overlap" ->
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |sp AS (SELECT least(da.source, db.source) AS src_x,
         |    greatest(da.source, db.source) AS src_y,
         |    CAST(floor(p.jaccard * 1000000.0) AS BIGINT) AS jac_micro
         |  FROM pairs p
         |  JOIN documents da ON da.doc_id = p.doc_a
         |  JOIN documents db ON db.doc_id = p.doc_b)
         |SELECT src_x, src_y, count(*) AS n_pairs,
         |  CAST(sum(jac_micro) AS BIGINT) AS sum_jac_micro
         |FROM sp GROUP BY src_x, src_y ORDER BY src_x, src_y""".stripMargin,
    // Sampled-global protocol replay: md5 % 50 query sample, exact
    // global top-3 for the sample, fused top-3 probed against it.
    "q120_sampled_global_recall" ->
      s"""WITH $VecCte,
         |$rrfFusedCtes,
         |sq AS (SELECT vec_id, v, nrm FROM en
         |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % 50 = 0),
         |ex AS (SELECT qid, nid FROM (
         |    SELECT s.vec_id AS qid, e.vec_id AS nid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY list_dot_product(s.v, e.v) / (s.nrm * e.nrm) DESC,
         |          e.vec_id) AS rank
         |    FROM sq s JOIN en e ON s.vec_id <> e.vec_id)
         |  WHERE rank <= 3),
         |fr AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu) WHERE rank <= 3),
         |h AS (SELECT ex.qid, count(a.nid) AS hits, count(*) AS n_exact
         |  FROM ex LEFT JOIN fr a ON a.qid = ex.qid AND a.nid = ex.nid
         |  GROUP BY ex.qid)
         |SELECT en.label, count(*) AS n_queries,
         |  CAST(sum(hits) AS BIGINT) AS sum_hits,
         |  CAST(sum(n_exact) AS BIGINT) AS sum_exact,
         |  (CAST(sum(hits) AS BIGINT) * 1000000) // CAST(sum(n_exact) AS BIGINT)
         |    AS recall_ppm
         |FROM h JOIN en ON en.vec_id = h.qid
         |GROUP BY en.label ORDER BY en.label""".stripMargin,
    // Fused top-3 anti-joined against the exact top-3 replay, exact
    // cosine attached to the surviving negatives.
    "q118_hard_negatives" ->
      s"""WITH $VecCte,
         |$rrfFusedCtes,
         |ex AS (SELECT qid, nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |      row_number() OVER (PARTITION BY a.vec_id
         |        ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC,
         |          b.vec_id) AS rank
         |    FROM en a JOIN en b ON a.label = b.label AND a.vec_id <> b.vec_id)
         |  WHERE rank <= 3),
         |fr AS (SELECT qid, nid, rank FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu) WHERE rank <= 3),
         |ng AS (SELECT f.qid, f.nid, f.rank FROM fr f
         |  WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.qid = f.qid AND ex.nid = f.nid)),
         |sc AS (SELECT n.qid, n.nid, n.rank AS retr_rank,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM ng n JOIN en a ON a.vec_id = n.qid JOIN en b ON b.vec_id = n.nid)
         |SELECT qid, nid, CAST(retr_rank AS BIGINT) AS retr_rank,
         |  CAST(floor(cosine * 1000000.0) AS BIGINT) AS cos_micro
         |FROM sc ORDER BY qid, retr_rank, nid""".stripMargin,
    // Closure replay + the q69 split arithmetic applied to cluster_id
    // (and to doc_id for the `moved` comparison).
    "q119_cluster_split" ->
      s"""WITH RECURSIVE $ShinglesCte,
         |$LshPairsCtes,
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(id, peer) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.peer FROM edges e JOIN reach r ON r.id = e.src),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(peer) AS cluster_id FROM reach GROUP BY id),
         |s AS (SELECT doc_id, cluster_id,
         |    CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bc,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bd
         |  FROM comp)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN bc < 8 THEN 'train' WHEN bc < 9 THEN 'val' ELSE 'test' END AS split,
         |  CAST((CASE WHEN bc < 8 THEN 'train' WHEN bc < 9 THEN 'val' ELSE 'test' END)
         |    <> (CASE WHEN bd < 8 THEN 'train' WHEN bd < 9 THEN 'val' ELSE 'test' END)
         |    AS INT) AS moved
         |FROM s ORDER BY doc_id""".stripMargin,
    // The q104 recall harness over the fused list and its reranked
    // deepening: top-6 of fu re-scored by exact cosine, keep 3.
    "q117_rerank_recall" ->
      s"""WITH $VecCte,
         |$rrfFusedCtes,
         |$dualTruthCtes,
         |fr AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu) WHERE rank <= 3),
         |f6 AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu) WHERE rank <= 6),
         |rr AS (SELECT f.qid, f.nid,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM f6 f JOIN en a ON a.vec_id = f.qid JOIN en b ON b.vec_id = f.nid),
         |r3 AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rr_rank
         |  FROM rr) WHERE rr_rank <= 3),
         |al AS MATERIALIZED (
         |  SELECT 'ens_rrf' AS method, qid, nid FROM fr
         |  UNION ALL SELECT 'rrf_rerank', qid, nid FROM r3),
         |h AS (SELECT m.method, e.truth, e.qid, count(a.nid) AS hits, count(*) AS n_exact
         |  FROM (SELECT DISTINCT method FROM al) m
         |  CROSS JOIN tr e
         |  LEFT JOIN al a ON a.method = m.method AND a.qid = e.qid AND a.nid = e.nid
         |  GROUP BY m.method, e.truth, e.qid)
         |SELECT en.label, h.method, h.truth, count(*) AS n_queries,
         |  CAST(sum(hits) AS BIGINT) AS sum_hits,
         |  CAST(sum(n_exact) AS BIGINT) AS sum_exact,
         |  (CAST(sum(hits) AS BIGINT) * 1000000) // CAST(sum(n_exact) AS BIGINT)
         |    AS recall_ppm
         |FROM h JOIN en ON en.vec_id = h.qid
         |GROUP BY en.label, h.method, h.truth
         |ORDER BY en.label, h.method, h.truth""".stripMargin,
    // The q102 fusion replayed to its top-3, then the rerank stage:
    // exact cosine over ONLY the fused candidates, both ranks emitted.
    "q114_rerank_exact" ->
      s"""WITH $VecCte,
         |$rrfFusedCtes,
         |fr AS (SELECT qid, nid, rank FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS rank
         |  FROM fu) WHERE rank <= 3),
         |rr AS (SELECT f.qid, f.nid, f.rank AS retr_rank,
         |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
         |  FROM fr f JOIN en a ON a.vec_id = f.qid JOIN en b ON b.vec_id = f.nid),
         |rk AS (SELECT qid, nid, retr_rank, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rr_rank
         |  FROM rr)
         |SELECT qid, nid, CAST(retr_rank AS BIGINT) AS retr_rank,
         |  CAST(rr_rank AS BIGINT) AS rr_rank,
         |  CAST(floor(cosine * 1000000.0) AS BIGINT) AS cos_micro,
         |  CAST(rr_rank <> retr_rank AS INT) AS moved
         |FROM rk ORDER BY qid, rr_rank""".stripMargin,
    // Phrase replay on the SAME token stream the engine splits (not a
    // substring scan): consecutive-element check over the filtered
    // word list, so overlap counting and multi-space handling agree by
    // construction.
    "q84_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
         |  FROM documents),
         |occ AS (SELECT doc_id, len(list_filter(generate_series(1, len(ws) - 1),
         |    i -> ws[i] = '${PhraseTerms(0)}' AND ws[i + 1] = '${PhraseTerms(1)}'))
         |    AS n_occurrences
         |  FROM t WHERE len(ws) >= 2)
         |SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences FROM occ
         |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin,
    // Fixed-point centroid replay: identical integer floor/sum/div
    // arithmetic, then IEEE cosine against the bit-identical centroid;
    // rank window ≡ the engine's bounded top-k on the negated score.
    "q85_label_outliers" ->
      s"""WITH $VecCte,
         |fx AS (SELECT label, i,
         |    CAST(sum(CAST(floor((v[i] + 1) * 1048576) AS BIGINT)) AS BIGINT) AS s,
         |    count(*) AS n
         |  FROM en, generate_series(1, 64) t(i) GROUP BY label, i),
         |cent AS (SELECT label,
         |    list(CAST(s // n AS DOUBLE) / 1048576.0 - 1 ORDER BY i) AS cv
         |  FROM fx GROUP BY label),
         |sc AS (SELECT e.label, e.vec_id,
         |    list_dot_product(e.v, c.cv)
         |      / (e.nrm * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
         |  FROM en e JOIN cent c ON e.label = c.label)
         |SELECT label, rank, vec_id, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cosine, vec_id) AS rank
         |  FROM sc)
         |WHERE rank <= 3 ORDER BY label, rank""".stripMargin,
    // Quota replay: q20's quality formula + a per-source rank window ≡
    // the engine's bounded top-k (quality DESC, doc_id ties).
    "q86_source_quota" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |         list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) /
        |      nullif(CAST(length(text) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS alpha_ratio,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS DOUBLE) /
        |      nullif(CAST(len(ws) AS DOUBLE), CAST(0.0 AS DOUBLE)) AS stopword_ratio,
        |    CAST(len(ws) AS BIGINT) AS n_tokens
        |  FROM t),
        |q AS (
        |  SELECT doc_id, source,
        |    (alpha_ratio * CAST(0.5 AS DOUBLE)) + (stopword_ratio * CAST(0.3 AS DOUBLE)) +
        |    (least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |     * CAST(0.2 AS DOUBLE)) AS quality_score
        |  FROM s)
        |SELECT source, CAST(rank AS INT) AS rank, doc_id, quality_score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY quality_score DESC, doc_id) AS rank
        |  FROM q WHERE quality_score IS NOT NULL)
        |WHERE rank <= 10 ORDER BY source, rank""".stripMargin,
    // Attribution replay: the same ignore-nulls running window over
    // the unique (ts, event_id) key; gaps in exact epoch micros.
    "q94_attribution" ->
      """WITH w AS (SELECT event_id, event_type, ts,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER uw AS click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER uw AS click_ts
        |  FROM events
        |  WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, click_id,
        |  CAST(epoch_us(ts) - epoch_us(click_ts) AS BIGINT) AS gap_us,
        |  CAST(CASE WHEN click_ts IS NOT NULL
        |              AND epoch_us(ts) - epoch_us(click_ts) <= 604800000000
        |            THEN 1 ELSE 0 END AS BIGINT) AS attributed
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // Decay replay: same integer shift — 2^(−w) never touches libm.
    "q90_decay_engagement" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 1048576) AS BIGINT) AS v_fix FROM events),
        |mx AS (SELECT max(day) AS max_day FROM ev),
        |dc AS (SELECT user_id,
        |    v_fix // (CAST(1 AS BIGINT) << CAST(least(date_diff('day', day, max_day) // 7, 62) AS INT)) AS dec
        |  FROM ev CROSS JOIN mx)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(CAST(sum(dec) AS BIGINT) AS DOUBLE) / 1048576.0 AS score
        |FROM dc GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Z-score replay: the identical integer inequality — the 1.5σ test
    // never leaves exact arithmetic, so outlier flags can't drift.
    "q91_zscore_outliers" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(floor(value * 1048576) AS BIGINT) AS v FROM events),
        |st AS (SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
        |    sum(CAST(v AS HUGEINT) * v) AS ssq
        |  FROM ev GROUP BY event_type)
        |SELECT ev.event_type, max(n) AS n_events,
        |  CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE) / 1048576.0 AS mean_value,
        |  CAST(sum(CASE WHEN 4 * CAST(n * ev.v - s AS HUGEINT) * (n * ev.v - s)
        |                     > 9 * (CAST(n AS HUGEINT) * ssq - CAST(s AS HUGEINT) * s)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM ev JOIN st USING (event_type)
        |GROUP BY ev.event_type ORDER BY ev.event_type""".stripMargin,
    // Pivot ≡ conditional aggregation (the portable form).
    "q87_status_pivot" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_open,
        |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_filled,
        |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_partial
        |FROM orders GROUP BY month ORDER BY month""".stripMargin,
    "q88_cube_revenue" ->
      """SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
        |  coalesce(p_brand, 'ALL') AS brand,
        |  CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_yr,
        |  CAST(GROUPING(p_brand) AS BIGINT) AS g_brand,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN part ON p_partkey = l_partkey
        |GROUP BY CUBE (year(o_orderdate), p_brand)
        |ORDER BY yr, brand, g_yr, g_brand""".stripMargin,
    // Moving window over the pre-aggregated daily table; fixed-point
    // value sums make the 7-day mean exact on both engines.
    "q89_moving_average" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |         sum(CAST(floor(value * 1048576) AS BIGINT)) AS s_fix
        |  FROM events GROUP BY day)
        |SELECT day, n_events,
        |  CAST(sum(n_events) OVER w AS BIGINT) AS n_7d,
        |  CAST(CAST(sum(s_fix) OVER w AS BIGINT) AS DOUBLE) / 1048576.0 AS v_7d
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    // Byte-exact frame replay: utf-8 payload → hex → 128-hex-char
    // (64-byte) frames → every 4th — same stride, same tail-frame
    // truncation, digests over the same uppercase hex text.
    // Frames are raster ROWS of the decoded P6 image (16 px × 3 = 48
    // bytes = 96 hex chars); the oracle rebuilds the '.'-padded raster
    // and slices every 4th row.
    "q74_frame_sample" ->
      """WITH p AS (SELECT doc_id, hex(encode(text)) AS thx,
        |    greatest(1, CAST(ceil(octet_length(encode(text)) / 48.0) AS BIGINT)) AS h
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (SELECT doc_id, h,
        |    thx || repeat('2E', CAST(h*48 - length(thx)//2 AS INT)) AS px
        |  FROM p),
        |f AS (SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |    substring(px, CAST(i*96 + 1 AS BIGINT), 96) AS fh
        |  FROM b, unnest(range(h)) t(i)
        |  WHERE i % 4 = 0)
        |SELECT doc_id, frame_idx, md5(fh) AS frame_md5,
        |  CAST(length(fh) // 2 AS BIGINT) AS n_bytes
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "q27_winnow_fingerprints" ->
      """WITH grams AS (
        |  SELECT doc_id, i AS pos,
        |         CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 7)) AS BIGINT) AS g
        |  FROM documents, UNNEST(generate_series(1, length(text) - 7)) t(i)
        |  WHERE length(text) >= 8),
        |wmin AS (
        |  SELECT doc_id, pos,
        |    min(g) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS n
        |  FROM grams)
        |SELECT doc_id, array_to_string(list_sort(list(DISTINCT m)), ',') AS fingerprints,
        |  CAST(len(list_sort(list(DISTINCT m))) AS BIGINT) AS n_fps
        |FROM wmin WHERE pos <= n - 7
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q22_doc_fingerprint" ->
      """SELECT doc_id, CASE WHEN length(text) >= 8 THEN
        |    list_min(list_transform(generate_series(1, length(text) - 7),
        |      i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 7)) AS BIGINT)))
        |  ELSE CAST(('0x' || substr(md5(text), 1, 7)) AS BIGINT) END AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same segmentation arithmetic, same two-level (doc, seg) min, same
    // md5 grouping key — the reassembled clean_text hash-matches.
    "q54_segment_dedup" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |ids AS (SELECT doc_id, ws,
        |    unnest(range(greatest((len(ws) + 15) // 16, 1))) AS seg_id
        |  FROM t),
        |segs AS (SELECT doc_id, seg_id,
        |    array_to_string(list_slice(ws, seg_id * 16 + 1, seg_id * 16 + 16), ' ') AS seg_text
        |  FROM ids),
        |m AS (SELECT doc_id, seg_id, seg_text,
        |    min(doc_id) OVER (PARTITION BY md5(seg_text)) AS min_doc
        |  FROM segs),
        |m2 AS (SELECT doc_id, seg_id, seg_text, min_doc,
        |    min(CASE WHEN doc_id = min_doc THEN seg_id END)
        |      OVER (PARTITION BY md5(seg_text)) AS min_seg
        |  FROM m),
        |k AS (SELECT doc_id, seg_id, seg_text,
        |    (doc_id = min_doc AND seg_id = min_seg) AS keep FROM m2)
        |SELECT doc_id, count(*) AS n_segs,
        |  count(CASE WHEN keep THEN 1 END) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep THEN seg_text END, ' ' ORDER BY seg_id), '')
        |    AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same md5-salted cells, same integer counters and minima — every
    // sketch estimate hash-matches.
    "q55_countmin_tokens" ->
      """WITH toks AS (SELECT unnest(list_filter(str_split(text, ' '), w -> w <> '')) AS tok
        |  FROM documents),
        |occ AS (SELECT tok, unnest(range(4)) AS r FROM toks),
        |cells AS (SELECT r,
        |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 7)) AS BIGINT)
        |      % 1024 AS bucket
        |  FROM occ),
        |counters AS (SELECT r, bucket, count(*) AS cnt FROM cells GROUP BY r, bucket),
        |truth AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok),
        |probe AS (SELECT tok, true_cnt, unnest(range(4)) AS r FROM truth),
        |pc AS (SELECT tok, true_cnt, r,
        |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 7)) AS BIGINT)
        |      % 1024 AS bucket
        |  FROM probe)
        |SELECT tok, true_cnt, min(cnt) AS cm_estimate
        |FROM pc JOIN counters USING (r, bucket)
        |GROUP BY tok, true_cnt
        |ORDER BY true_cnt DESC, tok LIMIT 50""".stripMargin,
    "q56_dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'fk_orders_custkey' AS check_name, count(*) AS violations FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'fk_lineitem_orderkey', count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'fk_lineitem_partkey', count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
        |  UNION ALL
        |  SELECT 'fk_lineitem_suppkey', count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        |  UNION ALL
        |  SELECT 'fk_customer_nationkey', count(*) FROM customer c
        |    WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        |  UNION ALL
        |  SELECT 'pk_orders_orderkey', count(*) FROM
        |    (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'pk_part_partkey', count(*) FROM
        |    (SELECT p_partkey FROM part GROUP BY p_partkey HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'null_orders_orderdate', count(*) FROM orders WHERE o_orderdate IS NULL
        |  UNION ALL
        |  SELECT 'nonpositive_orders_totalprice', count(*) FROM orders WHERE o_totalprice <= 0
        |  UNION ALL
        |  SELECT 'nonpositive_lineitem_quantity', count(*) FROM lineitem WHERE l_quantity <= 0
        |  UNION ALL
        |  SELECT 'discount_out_of_range', count(*) FROM lineitem
        |    WHERE l_discount < 0 OR l_discount > 1)
        |ORDER BY check_name""".stripMargin,
    // Same frequency-of-frequency median, same integer skew ratio.
    "q71_skew_audit" ->
      """WITH freq AS (SELECT l_partkey, count(*) AS cnt FROM lineitem
        |  GROUP BY l_partkey),
        |dist AS (SELECT cnt, count(*) AS n_keys FROM freq GROUP BY cnt),
        |c AS (SELECT cnt,
        |    sum(n_keys) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM dist),
        |n AS (SELECT count(*) AS n FROM freq),
        |m AS (SELECT CAST(min(cnt) AS BIGINT) AS median_cnt FROM c, n
        |  WHERE cum * 2 >= n + 1)
        |SELECT l_partkey, cnt, median_cnt,
        |  CAST(cnt * 1000000 // median_cnt AS BIGINT) AS skew_micros
        |FROM freq, m
        |ORDER BY cnt DESC, l_partkey LIMIT 10""".stripMargin,
    "q69_dataset_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // q14's LSH pair chain + the q69 split arithmetic — the leakage
    // list hash-matches.
    "q70_split_leakage" ->
      s"""WITH $ShinglesCte,
         |$LshPairsCtes,
         |sp AS (SELECT doc_id,
         |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
         |    FROM documents))
         |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, jaccard
         |FROM pairs JOIN sp sa ON sa.doc_id = doc_a JOIN sp sb ON sb.doc_id = doc_b
         |WHERE sa.split <> sb.split
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Same gram hashes, same majority vote, same chunk buckets — the
    // payload sketch pairs hash-match.
    "q68_payload_neardup" ->
      """WITH g60 AS (SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, length(text) - 7),
        |      i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT)))
        |      AS h60s
        |  FROM documents WHERE length(text) >= 8),
        |sim AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(0, 31), i ->
        |    CASE WHEN len(list_filter(h60s, h -> ((h >> i) & 1) = 1)) * 2 > len(h60s)
        |         THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
        |    AS simhash
        |  FROM g60),
        |chunks AS (SELECT doc_id, simhash, c, (simhash >> (8*c)) & 255 AS chunk_val
        |  FROM sim, generate_series(0, 3) t(c)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sa, b.simhash AS sb
        |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.chunk_val = b.chunk_val
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // Same casts, same md5 NDV arithmetic per column — the profile
    // hash-matches.
    "q66_table_stats" ->
      """WITH cols(column_name) AS (VALUES ('o_orderkey'), ('o_custkey'),
        |    ('o_orderstatus'), ('o_orderpriority')),
        |v AS (SELECT 'o_orderkey' AS column_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
        |  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
        |base AS (SELECT column_name, count(*) AS n_rows,
        |    count(CASE WHEN v IS NULL THEN 1 END) AS n_nulls,
        |    min(v) AS min_v, max(v) AS max_v
        |  FROM v GROUP BY column_name),
        |h AS (SELECT DISTINCT column_name,
        |    CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
        |  FROM v WHERE v IS NOT NULL),
        |r AS (SELECT column_name, h,
        |    row_number() OVER (PARTITION BY column_name ORDER BY h) AS rn FROM h),
        |kv AS (SELECT column_name, count(*) AS n_distinct_exact,
        |    max(CASE WHEN rn = 16 THEN h END) AS hk
        |  FROM r GROUP BY column_name)
        |SELECT base.column_name, n_rows, n_nulls, min_v, max_v,
        |  CASE WHEN hk IS NOT NULL
        |       THEN CAST(15 AS DOUBLE) * pow(CAST(2 AS DOUBLE), CAST(60 AS DOUBLE))
        |            / CAST(hk AS DOUBLE)
        |       ELSE CAST(n_distinct_exact AS DOUBLE) END AS ndv_est
        |FROM base JOIN kv USING (column_name)
        |ORDER BY column_name""".stripMargin,
    "q67_star_join" ->
      """SELECT r_name, CAST(year(o_orderdate) AS INT) AS yr,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |GROUP BY r_name, yr ORDER BY r_name, yr""".stripMargin,
    // Same LM counts, same integer micros mean — the filter decisions
    // hash-match (docs without bigrams drop out of the inner join on
    // both sides).
    "q65_lm_filter" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |wp AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM t),
        |pairs AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM wp a JOIN wp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bc AS (SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY w1, w2),
        |pc AS (SELECT w1, count(*) AS prefix_cnt FROM pairs GROUP BY w1),
        |lm AS (SELECT w1, w2, CAST(cnt * 1000000 // prefix_cnt AS BIGINT) AS p_micros
        |  FROM bc JOIN pc USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(p_micros) // count(*) AS BIGINT) AS score_micros,
        |  CAST(CAST(sum(p_micros) // count(*) AS BIGINT) < 100000 AS INT)
        |    AS flag_low_likelihood
        |FROM pairs JOIN lm USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // From-scratch recompute with q51's KMV arithmetic — the balanced
    // fold of daily states must reproduce it exactly.
    "q63_incremental_rollup" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
        |kth AS (SELECT event_type, h AS hk FROM r WHERE rn = 16),
        |nd AS (SELECT event_type, count(*) AS n_h FROM r GROUP BY event_type),
        |c AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type)
        |SELECT c.event_type, n_events,
        |  CASE WHEN hk IS NOT NULL
        |       THEN CAST(15 AS DOUBLE) * pow(CAST(2 AS DOUBLE), CAST(60 AS DOUBLE))
        |            / CAST(hk AS DOUBLE)
        |       ELSE CAST(n_h AS DOUBLE) END AS kmv_estimate
        |FROM c JOIN nd USING (event_type) LEFT JOIN kth USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // Two point-in-time selects over the same version chain, same
    // full-outer reconciliation — the change feed hash-matches.
    "q62_snapshot_diff" ->
      s"""$VersionsCte,
         |s1 AS (SELECT order_id, status FROM versions
         |  WHERE TIMESTAMP '2024-01-08 00:00:00' >= start_time
         |    AND TIMESTAMP '2024-01-08 00:00:00' < end_time),
         |s2 AS (SELECT order_id, status FROM versions
         |  WHERE TIMESTAMP '2024-01-15 00:00:00' >= start_time
         |    AND TIMESTAMP '2024-01-15 00:00:00' < end_time),
         |d AS (SELECT coalesce(s1.order_id, s2.order_id) AS order_id,
         |    CASE WHEN s1.order_id IS NULL THEN 'insert'
         |         WHEN s2.order_id IS NULL THEN 'delete'
         |         WHEN s1.status IS DISTINCT FROM s2.status THEN 'update' END
         |      AS change_type,
         |    s1.status AS old_status, s2.status AS new_status
         |  FROM s1 FULL OUTER JOIN s2 ON s1.order_id = s2.order_id)
         |SELECT order_id, change_type, old_status, new_status FROM d
         |WHERE change_type IS NOT NULL ORDER BY order_id""".stripMargin,
    // Same Morton interleave (list_sum over shifted bits), same derived
    // box, same ntile file assignment, same overlap arithmetic — the
    // pruning ratios hash-match.
    "q61_zorder_layout" ->
      """WITH t AS (SELECT DISTINCT CAST(l_partkey % 1024 AS BIGINT) AS p,
        |    CAST(l_orderkey % 1024 AS BIGINT) AS s FROM lineitem),
        |z AS (SELECT p, s, CAST(list_sum(list_transform(range(10),
        |    i -> (((p >> CAST(i AS INT)) & 1) << CAST(2*i AS INT))
        |       + (((s >> CAST(i AS INT)) & 1) << CAST(2*i + 1 AS INT)))) AS BIGINT) AS zv,
        |    p * 1024 + s AS rk
        |  FROM t),
        |st AS (SELECT max(p) AS pmax, max(s) AS smax FROM z),
        |zz AS (SELECT z.*, (pmax + 1) // 4 AS p_lo,
        |    (pmax + 1) // 4 + greatest((pmax + 1) // 8, 1) AS p_hi,
        |    (smax + 1) // 4 AS s_lo,
        |    (smax + 1) // 4 + greatest((smax + 1) // 8, 1) AS s_hi,
        |    ntile(64) OVER (ORDER BY zv, p, s) AS bz,
        |    ntile(64) OVER (ORDER BY rk) AS br
        |  FROM z, st),
        |layouts AS (
        |  SELECT 'zorder' AS layout, bz AS bucket, p, s,
        |      p_lo, p_hi, s_lo, s_hi FROM zz
        |  UNION ALL
        |  SELECT 'rowmajor', br, p, s, p_lo, p_hi, s_lo, s_hi FROM zz),
        |zm AS (SELECT layout, bucket, count(*) AS n_keys,
        |    min(p) AS min_p, max(p) AS max_p, min(s) AS min_s, max(s) AS max_s,
        |    max(p_lo) AS p_lo, max(p_hi) AS p_hi,
        |    max(s_lo) AS s_lo, max(s_hi) AS s_hi
        |  FROM layouts GROUP BY layout, bucket),
        |tb AS (SELECT layout, count(*) AS n_buckets,
        |    count(CASE WHEN max_p >= p_lo AND min_p < p_hi
        |               AND max_s >= s_lo AND min_s < s_hi THEN 1 END) AS n_touched,
        |    CAST(coalesce(sum(CASE WHEN max_p >= p_lo AND min_p < p_hi
        |               AND max_s >= s_lo AND min_s < s_hi THEN n_keys END), 0) AS BIGINT)
        |      AS n_keys_touched
        |  FROM zm GROUP BY layout),
        |mt AS (SELECT count(*) AS n_keys_matching FROM zz
        |  WHERE p >= p_lo AND p < p_hi AND s >= s_lo AND s < s_hi)
        |SELECT layout, n_buckets, n_touched, n_keys_touched, n_keys_matching
        |FROM tb, mt ORDER BY layout""".stripMargin,
    // Same md5-salted positions, same 60-bit word packing, same
    // all-k-hits rule — the bitmap and its overshoot are reproduced.
    "q60_bloom_prune" ->
      """WITH dimk AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS s
        |  FROM part WHERE p_size > 47),
        |dpos AS (SELECT
        |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || s), 1, 7)) AS BIGINT)
        |      % 1024 AS p
        |  FROM dimk, unnest(range(3)) AS t(i)),
        |bits AS (SELECT p // 60 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(p % 60 AS INT)) AS b
        |  FROM dpos GROUP BY word),
        |fk AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS s FROM lineitem),
        |probe AS (SELECT s,
        |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || s), 1, 7)) AS BIGINT)
        |      % 1024 AS p
        |  FROM fk, unnest(range(3)) AS t(i)),
        |hits AS (SELECT s, count(*) AS nhit
        |  FROM probe JOIN bits ON bits.word = probe.p // 60
        |  WHERE (bits.b & (CAST(1 AS BIGINT) << CAST(probe.p % 60 AS INT))) <> 0
        |  GROUP BY s),
        |pass AS (SELECT s FROM hits WHERE nhit = 3),
        |exact AS (SELECT s FROM fk WHERE EXISTS
        |  (SELECT 1 FROM dimk WHERE dimk.s = fk.s))
        |SELECT (SELECT count(*) FROM fk) AS n_fact_keys,
        |  (SELECT count(*) FROM pass) AS n_bloom_pass,
        |  (SELECT count(*) FROM exact) AS n_exact_match,
        |  (SELECT count(*) FROM pass) - (SELECT count(*) FROM exact) AS n_false_pos
        |ORDER BY n_fact_keys""".stripMargin,
    // Same binning, same integer cumulative-rank selection — the sketch
    // estimates hash-match (lg CTE chain shared with q43's oracle).
    "q58_hist_quantiles" ->
      """WITH t AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM t),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['der','die','das','und'], w))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['el','la','de','y'], w))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(ws, w -> list_contains(['le','la','de','et'], w))) AS BIGINT) AS fr_hits
        |  FROM t),
        |lg AS (
        |  SELECT doc_id,
        |    CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |         WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_guess
        |  FROM h),
        |hist AS (SELECT lang_guess, n_tokens - n_tokens % 16 AS bin, count(*) AS cnt
        |  FROM s JOIN lg USING (doc_id) GROUP BY lang_guess, bin),
        |c AS (SELECT lang_guess, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY lang_guess ORDER BY bin
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY lang_guess) AS n
        |  FROM hist)
        |SELECT lang_guess, CAST(max(n) AS BIGINT) AS n_docs,
        |  min(CASE WHEN cum * 2 >= n THEN bin END) AS p50_bin,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN bin END) AS p90_bin,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS p99_bin
        |FROM c GROUP BY lang_guess ORDER BY lang_guess""".stripMargin,
    "q57_rollup_revenue" ->
      """SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
        |  coalesce(CAST(quarter(o_orderdate) AS VARCHAR), 'ALL') AS qtr,
        |  coalesce(p_brand, 'ALL') AS brand,
        |  CAST(GROUPING(year(o_orderdate)) AS BIGINT) AS g_yr,
        |  CAST(GROUPING(quarter(o_orderdate)) AS BIGINT) AS g_qtr,
        |  CAST(GROUPING(p_brand) AS BIGINT) AS g_brand,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN part ON p_partkey = l_partkey
        |GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate), p_brand)
        |ORDER BY yr, qtr, brand, g_yr, g_qtr, g_brand""".stripMargin,
  )
}

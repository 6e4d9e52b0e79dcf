package graft

/** Generated operator catalog — the registry rendered as a document.
  *
  * 163 registry entries exceed what a hand-written README table can
  * index without drifting, so the catalog is GENERATED from the same
  * structures the driver gates run against: `SparkEntry.queries` (the
  * operator inventory), `SparkEntry.oracleSql` (the correctness gate
  * per entry), `BenchGuard.Budgets` (per-query regression pins), and a
  * scale-class assignment that CatalogSpec forces to stay total — a new
  * query cannot land without declaring its scale behavior, and the
  * checked-in CATALOG.md must byte-match [[render]] (the CI diff), so
  * doc drift fails the build instead of accumulating.
  *
  * Regenerate with `sbt "runMain graft.CatalogGen"`.
  */
object Catalog {

  /** Scale classes: the 100 TB cost model each query inherits. Class
    * key → definition shown in the catalog header. */
  val ClassDefs: Seq[(String, String)] = Seq(
    "dim-merge" -> ("SCD2/fact merges and dimension generators: shuffle keyed on the " +
      "business key, date dims broadcast; steady-state cost tracks changed rows per " +
      "batch, not warehouse size."),
    "bounded-agg" -> ("map-side partial aggregation into low-cardinality groups " +
      "(status, source, quarter, flag): one shuffle of partials, output is " +
      "dimension-sized regardless of corpus size."),
    "corpus-linear" -> ("one or a few full passes, map-heavy with doc/gram-keyed " +
      "shuffles: cost grows ~linearly with corpus bytes (stress-measured sf1→sf10, " +
      "BASELINE.md cross-scale table)."),
    "fixed-batch-incremental" -> ("a fixed arriving batch probed against maintained " +
      "index artifacts (gram index+bloom, ivf_assign, dsir_counts): per-batch cost " +
      "stays near-flat as the corpus grows (stress: 1.5–2.4× per 10× corpus) — the " +
      "100 TB ingestion shape."),
    "bounded-candidates" -> ("candidate pairs bounded by construction — LSH band-" +
      "bucket cap (256), IVF ~512-vector cell width, SimHash hamming chunks, prefix/" +
      "length filters: never all-pairs, and the bound is enforced in the operator, " +
      "not assumed of the data."),
    "salted-multipass" -> ("exact candidate/verify chains run as disjoint token-" +
      "hash slices, one ACTION per slice landing post-verify survivors: live " +
      "shuffle footprint ≈ candidate-mass/passes, pass union collapses exactly " +
      "(spec-pinned) — the disk-bounding form of the candidate-mass-bound exact " +
      "tools (q32/q40) whose single-pass shuffle exceeds one host at sf10."),
    "decision-layer" -> ("arithmetic over source-cardinality or survivor artifacts " +
      "(thresholds, quotas, mixtures, diffs): no corpus scan; scales with the " +
      "number of sources, not documents."),
    "artifact-read" -> ("joins against materialized warehouse state (truth lists, " +
      "postings, codes, cluster/pair tables): the corpus-sized derivation is paid " +
      "once at artifact build; per-query cost is bounded by artifact size."),
    "graph-iterative" -> ("bounded-round join+agg propagation (min-label, PageRank) " +
      "with rolling checkpoint release: one edge-list shuffle per round, rounds " +
      "bounded by graph diameter / a fixed iteration count."),
    "keyed-window" -> ("entity-keyed windows (session, user, day series): one " +
      "shuffle on the entity key, window evaluation within partitions — no global " +
      "windows anywhere."),
    "sketch" -> ("mergeable sketches (KMV, HLL, CMS, fixed-bin histograms, bloom): " +
      "one pass, constant state per group, map-side combinable."),
    "pruned-scan" -> ("partition/predicate-pruned reads over hive-partitioned " +
      "artifacts: the scan touches only matching partitions (PartitionFilters " +
      "pinned by PlanShapeSpec)."))

  /** Every registry entry's scale class — kept total by CatalogSpec
    * (missing or stale names fail the build). */
  val ScaleClass: Map[String, String] = Seq(
    "dim-merge" -> Seq("q01_dim_dates", "q09_dim_orders_scd2", "q10_dim_products_scd2",
      "q11_fact_orders_created", "q26_dim_orders_two_batches", "q31_skew_salted_join",
      "q67_star_join", "q97_cdc_apply"),
    "bounded-agg" -> Seq("q02_orders_per_quarter", "q03_orders_quarter_category",
      "q04_retained_not_completed", "q05_created_not_completed_day",
      "q05_created_not_completed_month", "q08_current_orders_by_status",
      "q23_sql_current_by_status", "q34_corpus_profile", "q42_top_phrases",
      "q46_langid_eval", "q47_quality_flags", "q56_dq_audit", "q57_rollup_revenue",
      "q61_zorder_layout", "q66_table_stats", "q71_skew_audit", "q78_props_extract",
      "q83_lang_mix", "q87_status_pivot", "q88_cube_revenue", "q91_zscore_outliers",
      "q92_bpe_fertility", "q139_gram_skew_audit", "q144_tokenizer_drift",
      "q148_pack_efficiency", "q152_model_calibration", "q155_split_leakage",
      "q165_props_quarantine"),
    "corpus-linear" -> Seq("q12_dedup_exact", "q13_dedup_normalized",
      "q15_simhash_fingerprints", "q19_media_stats", "q20_text_stats",
      "q21_lang_guess", "q22_doc_fingerprint", "q27_winnow_fingerprints",
      "q28_curation_pipeline", "q30_lang_cjk", "q36_doc_chunks",
      "q37_stratified_sample", "q38_sequence_pack", "q39_keywords",
      "q41_inverted_index", "q45_training_prep", "q53_bigram_lm",
      "q54_segment_dedup", "q62_snapshot_diff", "q64_bpe_merges", "q65_lm_filter",
      "q69_dataset_split", "q72_bpe_encode", "q73_pii_scrub", "q74_frame_sample",
      "q75_curation_funnel", "q79_erasure_audit", "q82_dupgram_coverage",
      "q98_cas_chunks", "q100_doc_repetition", "q106_model_filter",
      "q108_sq8_audit", "q110_shard_manifest", "q113_quality_keepers",
      "q115_quality_training_prep", "q121_repetition_scrub", "q122_substr_scrub",
      "q124_source_substr_overlap", "q129_source_gram_diversity",
      "q135_split_substr_leakage", "q136_code_switch", "q141_index_erasure",
      "q163_media_quarantine", "q164_two_level_assign",
      "q142_curriculum_pack", "q151_dsir_weights", "q154_dsir_resample",
      "q159_epoch_shuffle", "q160_worker_mixture", "q162_lsh_bucket_audit"),
    "fixed-batch-incremental" -> Seq("q63_incremental_rollup",
      "q76_incremental_neardup", "q77_ann_incremental", "q123_substr_scrub_incr",
      "q131_dedup_burndown", "q137_margin_mining_incr", "q143_index_drift",
      "q153_dsir_incremental", "q156_embedding_drift", "q157_quality_drift",
      "q158_batch_novelty"),
    "bounded-candidates" -> Seq("q14_dedup_minhash_lsh", "q16_simhash_neardup",
      "q24_embedding_neardup", "q25_ann_ivf", "q29_ann_ivf_trained",
      "q32_ngram_jaccard", "q33_range_join_price_bands", "q40_contamination",
      "q44_ann_ivfpq", "q68_payload_neardup", "q70_split_leakage",
      "q81_semantic_dedup", "q85_label_outliers", "q96_fuzzy_match",
      "q109_minhash_calibration", "q111_jl_distortion", "q116_source_overlap",
      "q125_margin_mining"),
    "salted-multipass" -> Seq("q166_jaccard_salted", "q167_containment_salted"),
    "decision-layer" -> Seq("q86_source_quota", "q126_soft_dedup_weights",
      "q127_domain_mixture", "q128_quality_percentile_gate", "q132_mixture_realize",
      "q134_data_card", "q138_token_budget", "q140_release_card",
      "q147_release_diff", "q161_release_manifest"),
    "artifact-read" -> Seq("q17_knn_cosine", "q18_ann_lsh", "q35_neardup_clusters",
      "q80_bm25_search", "q84_phrase_search", "q93_cooccurrence", "q99_ann_recall",
      "q102_rrf_ensemble", "q103_pq_recon_error", "q104_ensemble_recall",
      "q114_rerank_exact", "q117_rerank_recall", "q118_hard_negatives",
      "q120_sampled_global_recall", "q130_triplet_export", "q133_bm25_postings"),
    "graph-iterative" -> Seq("q101_textrank", "q105_pagerank", "q107_triangles",
      "q112_weighted_pagerank", "q119_cluster_split", "q149_cluster_chain_audit",
      "q150_chain_cut"),
    "keyed-window" -> Seq("q06_stock_category_day", "q07_stock_category_month_end",
      "q48_sessionize", "q49_funnel", "q50_retention_cohorts", "q52_volume_spikes",
      "q59_peak_concurrency", "q89_moving_average", "q90_decay_engagement",
      "q94_attribution"),
    "sketch" -> Seq("q43_length_quantiles", "q51_kmv_distinct", "q55_countmin_tokens",
      "q58_hist_quantiles", "q60_bloom_prune", "q95_hll_distinct"),
    "pruned-scan" -> Seq("q145_events_day_range", "q146_events_recent_window")
  ).flatMap { case (cls, names) => names.map(_ -> cls) }.toMap

  /** Operator objects referenced by a query body — extracted from the
    * SparkEntry source so the "code" column cannot drift from the code.
    * The allowlist is the set of graft source-file basenames. */
  private def graftObjects(srcRoot: java.nio.file.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(srcRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString.stripSuffix(".scala"))
      .toSet - "SparkEntry"
  }

  /** `source` with its `//` and block comments blanked out; string
    * literals are kept. The comment that introduces a registry entry
    * sits in the previous entry's segment, so refs come from code only. */
  private[graft] def stripComments(source: String): String = {
    val out = new StringBuilder(source.length)
    var i = 0
    def at(s: String) = source.startsWith(s, i)
    def copyUntil(end: String, escapes: Boolean): Unit = {
      while (i < source.length && !at(end)) {
        if (escapes && source(i) == '\\' && i + 1 < source.length) { out += source(i); i += 1 }
        out += source(i); i += 1
      }
      out ++= source.substring(i, math.min(i + end.length, source.length)); i += end.length
    }
    while (i < source.length) {
      if (at("\"\"\"")) { out ++= "\"\"\""; i += 3; copyUntil("\"\"\"", escapes = false) }
      else if (at("\"")) { out += '"'; i += 1; copyUntil("\"", escapes = true) }
      else if (at("'\"'")) { out ++= "'\"'"; i += 3 }
      else if (at("//")) { while (i < source.length && source(i) != '\n') i += 1 }
      else if (at("/*")) { val e = source.indexOf("*/", i + 2); i = if (e < 0) source.length else e + 2 }
      else { out += source(i); i += 1 }
    }
    out.result()
  }

  private def querySegments(entrySource: String, names: Seq[String]): Map[String, String] = {
    // first occurrence of each key = the queries-map entry (oracleSql
    // entries come later in the file); segment runs to the next key
    val firstIdx = names.map(n => n -> entrySource.indexOf("\"" + n + "\" ->")).toMap
    val starts = firstIdx.values.filter(_ >= 0).toSeq.sorted
    names.map { n =>
      val s = firstIdx(n)
      if (s < 0) n -> ""
      else {
        val e = starts.find(_ > s).getOrElse(entrySource.length)
        n -> entrySource.substring(s, e)
      }
    }.toMap
  }

  /** Per entry, the first three `Object.member` refs its code makes to
    * `objects`; a read by name renders with its artifact:
    * `Warehouse.read(knn_exact)`. */
  private[graft] def codeRefs(entrySource: String, names: Seq[String],
                              objects: Set[String]): Map[String, Seq[String]] = {
    val ref = """([A-Z][A-Za-z0-9]*)\.(?:read\([^()"]*"(\w+)"\)|([a-zA-Z]\w*))""".r
    querySegments(stripComments(entrySource), names).map { case (n, segment) =>
      n -> ref.findAllMatchIn(segment)
        .map(m => (m.group(1), Option(m.group(2)).fold(m.group(3))(a => s"read($a)")))
        .filter { case (o, _) => objects.contains(o) }
        .map { case (o, mth) => s"$o.$mth" }
        .distinct.take(3).toSeq
    }
  }

  def render(repoRoot: String = "."): String = {
    val root = java.nio.file.Paths.get(repoRoot)
    val src = java.nio.file.Files.readString(
      root.resolve("src/main/scala/graft/SparkEntry.scala"))
    val names = SparkEntry.queries.keys.toSeq.sorted
    val refs = codeRefs(src, names, graftObjects(root.resolve("src/main/scala/graft")))
    val budgets = BenchGuard.Budgets.toMap

    val sb = new StringBuilder
    sb ++= "# graft operator catalog\n\n"
    sb ++= "GENERATED — do not edit. `sbt \"runMain graft.CatalogGen\"` regenerates;\n"
    sb ++= "CatalogSpec fails the build if this file, the scale classification, or\n"
    sb ++= "the registry drift apart.\n\n"
    sb ++= "## Scale classes\n\n"
    ClassDefs.foreach { case (k, d) => sb ++= s"- **$k** — $d\n" }
    val counts = names.groupBy(ScaleClass).map { case (c, ns) => c -> ns.size }
    sb ++= s"\n${names.size} registry entries: " +
      ClassDefs.map { case (k, _) => s"$k ${counts.getOrElse(k, 0)}" }.mkString(", ") + ".\n"
    sb ++= "\n## Registry\n\n"
    sb ++= "Gate: `hash` = full DuckDB value compare (rows + schema + md5 of every\n"
    sb ++= "cell); every entry is hash-gated. Pin: BenchGuard steady-median budget\n"
    sb ++= "at sf0.1 (seconds), for the queries expensive enough to pin.\n\n"
    sb ++= "| query | scale class | gate | pin (s) | code |\n"
    sb ++= "|---|---|---|---|---|\n"
    names.foreach { n =>
      val gate = if (SparkEntry.oracleSql.contains(n)) "hash" else "rows-only"
      val pin = budgets.get(n).map(b => f"$b%.1f").getOrElse("—")
      val code = if (refs(n).isEmpty) "SparkEntry inline" else refs(n).mkString(", ")
      sb ++= s"| $n | ${ScaleClass(n)} | $gate | $pin | $code |\n"
    }
    sb.result()
  }
}

/** `sbt "runMain graft.CatalogGen"` — regenerate CATALOG.md. */
object CatalogGen {
  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(if (args.nonEmpty) args(0) else "CATALOG.md")
    java.nio.file.Files.writeString(out, Catalog.render())
    println(s"wrote $out")
  }
}

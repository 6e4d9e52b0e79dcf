package graft

/** Scale-regression guard on PHYSICAL PLAN SHAPE for queries whose
  * round-6 rewrites removed a specific anti-pattern — the correctness
  * gate cannot see a silent reintroduction (results stay equal), so
  * the absence is pinned here:
  *  - q51/q63: the KMV sketch must come from the bounded aggregate,
  *    never a per-group rank window (a full per-group sort at scale);
  *    q63 additionally must stay ONE plan — no per-day Union fan-in.
  *  - q25 (IVF): cell assignment must stay map-only — exactly the one
  *    final top-k window, no window for the ×ncells assignment rank.
  *  - q73/q74 (scrub / frame-sample): map-only operators — no joins,
  *    no windows, nothing but scan → project/generate → sort.
  * Assertions are absences (or exact small counts) on the executed
  * plan string — robust to node renames around them. */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  private def countWindows(p: String): Int = "Window \\[".r.findAllIn(p).size

  test("q51: bounded k_min aggregate, no rank window") {
    val p = plan("q51_kmv_distinct")
    assert(!p.contains("Window"), s"q51 regained a window:\n$p")
  }

  test("q63: one constant-size plan — no per-day Union, no window") {
    val p = plan("q63_incremental_rollup")
    assert(!p.contains("Union"), s"q63 regained the per-day union:\n$p")
    assert(!p.contains("Window"), s"q63 regained a window:\n$p")
  }

  test("q25: IVF search is fully window-free (map-only assignment, bounded top-k aggregate)") {
    val p = plan("q25_ann_ivf")
    assert(countWindows(p) == 0,
      s"q25 regained a rank window (assignment or top-k), got ${countWindows(p)}:\n$p")
    assert(!p.contains("CartesianProduct"), s"q25 regained a cross join:\n$p")
  }

  test("q29/q44: materialized-index ANN — window-free, no literal-codebook re-encode") {
    // r7 moved the cell assignment and PQ codes into warehouse tables;
    // the per-query plan must stay two parquet joins + bounded top-k
    // aggregates — no rank window, no crossJoin, and (for q44) no
    // 64-expression encode stage re-materializing per query.
    for (q <- Seq("q29_ann_ivf_trained", "q44_ann_ivfpq")) {
      val p = plan(q)
      assert(countWindows(p) == 0, s"$q regained a rank window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q regained a cross join:\n$p")
    }
  }

  test("bounded global windows stay bounded-by-construction (q52/q61/q71)") {
    // These three queries legitimately use unpartitioned windows, each
    // over an input bounded INDEPENDENT of corpus size:
    //  - q52: one row per day (calendar-bounded) before the fold;
    //  - q61: ntile over the deduped ≤1024² z-order key grid;
    //  - q71: the skew audit's frequency-of-frequency table (≤ distinct
    //    counts observed) feeding the median.
    // Pin the EXACT global-window count so a new unpartitioned window
    // over data-sized input can't slip in silently behind them.
    val expected = Map(
      "q52_volume_spikes" -> 2, "q61_zorder_layout" -> 2, "q71_skew_audit" -> 1)
    for ((q, n) <- expected) {
      val p = plan(q)
      assert(countWindows(p) == n,
        s"$q global-window count drifted (want $n, got ${countWindows(p)}):\n$p")
    }
  }

  test("co-occurrence pair generation is map-only — no joins, no windows") {
    // r7's q101 exploded the corpus token stream ×window and hash-joined
    // it back to itself (two corpus-sized shuffles); the pairing is
    // position-local per document, so the plan must be scan → project/
    // generate → one aggregate exchange, nothing else.
    val p = graft.text.Cooccur.pairCounts(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .selectExpr("doc_id", "text"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"pair generation gained a join:\n$p")
    assert(!p.contains("Window"), s"pair generation gained a window:\n$p")
  }

  test("q113: keeper selection is one argmax aggregate — no window, no cartesian") {
    val p = plan("q113_quality_keepers")
    assert(!p.contains("Window"), s"q113 keeper pick regained a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"q113 gained a cross join:\n$p")
  }

  test("q114: exactly the one bounded per-qid rerank window") {
    // the retrievers and the RRF fusion are window-free (bounded top-k
    // aggregates); the rerank itself orders ≤ k candidate rows per qid.
    // Pin the exact count so a data-sized rank window can't slip into
    // the retrieval stages behind it.
    val p = plan("q114_rerank_exact")
    assert(countWindows(p) == 1,
      s"q114 window count drifted (want 1, got ${countWindows(p)}):\n$p")
    assert(!p.contains("CartesianProduct"), s"q114 gained a cross join:\n$p")
  }

  test("q73/q74: map-only — no joins, no windows") {
    for (q <- Seq("q73_pii_scrub", "q74_frame_sample")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q gained a join:\n$p")
      assert(!p.contains("Window"), s"$q gained a window:\n$p")
    }
  }

  test("q125/q133: bounded top-k aggregates, no rank window, no cartesian") {
    // q133 selects per-term top-k via the bounded aggregate in-plan;
    // q125's denominator aggregate moved INTO the margin_denoms
    // warehouse build (r10) — its per-query plan must stay top_k_free
    // joins of corpus state, window-free either way
    val p133 = plan("q133_bm25_postings")
    assert(p133.contains("top_k_pairs"), s"q133 lost the bounded top-k aggregate:\n$p133")
    for (q <- Seq("q125_margin_mining", "q133_bm25_postings")) {
      val p = plan(q)
      assert(countWindows(p) == 0, s"$q regained a rank window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q gained a cross join:\n$p")
    }
  }

  test("q80/q133: BM25 reads the materialized index, never document text") {
    // the scorer joins bm25_postings + bm25_doclens; a `text` column in
    // any scan schema means the corpus is being re-tokenized per query
    // (the per-query-rescan regression r9 fixed for grams/knn truth)
    for (q <- Seq("q80_bm25_search", "q133_bm25_postings", "q84_phrase_search")) {
      val p = plan(q)
      assert(!p.contains("text"), s"$q re-reads raw text:\n$p")
    }
  }

  test("q153: incremental DSIR probes the landed counts artifact, broadcast-only joins") {
    // the batch is the ONLY documents scan (the base corpus lives in
    // the dsir_counts parquet); the ratio/OOV joins must broadcast the
    // ≤1024-row side — a sort-merge join here means the broadcast hint
    // was lost and the batch would shuffle on feat at scale
    val qe = SparkEntry.queries("q153_dsir_incremental")(spark, sfDir).queryExecution
    // plan-string locations truncate; read the scan roots off the
    // optimized logical plan instead
    val scans = qe.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    assert(scans.exists(_.contains("dsir_counts")),
      s"q153 no longer reads the counts artifact; scans = $scans")
    assert(scans.count(_.contains("documents.parquet")) == 1,
      s"q153 must scan documents exactly once (the batch); scans = $scans")
    val p = qe.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"q153 regained a shuffle join:\n$p")
    assert(!p.contains("Window"), s"q153 regained a window:\n$p")
  }

  test("q128: the quantile window runs over the distinct-value table, not the corpus") {
    // group-then-window: every window must run over the (source,
    // quality) DISTINCT-VALUE aggregate. r16: q128 rides
    // Release.decisionTable's single windowed pass — up to four windows
    // (n_rows, cum, threshold, gated sums), ALL over the
    // value-compressed frame; the pre-r16 cascade had 1–2. Reject a
    // FIFTH window (a data-sized rank window slipping in) or zero, and
    // require the value-compressing aggregate BELOW them — the actual
    // guarantee this pin exists for.
    val p = plan("q128_quality_percentile_gate")
    assert(countWindows(p) >= 1 && countWindows(p) <= 4,
      s"q128 window count drifted (want 1..4, got ${countWindows(p)}):\n$p")
    assert("HashAggregate\\(keys=\\[source#\\d+L?, quality#\\d+L?\\]".r
        .findFirstIn(p).isDefined,
      s"q128 lost the distinct-value aggregate below its windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"q128 gained a cross join:\n$p")
  }

  test("q122: keeper is one struct-min aggregate; the dup-marking join is salt-ready") {
    // keeper resolution must stay a map-side-combinable aggregate (no
    // kDoc re-join of the gram table), and the occurrence×keeper join
    // must run through the audited salt so a boilerplate mega-gram
    // spreads instead of hot-spotting one reducer
    val p = plan("q122_substr_scrub")
    assert(p.contains("__salt"), s"q122 lost the salted dup-marking join:\n$p")
  }

  test("q141: index erasure audits the landed artifacts, never document text") {
    // every audited table is materialized corpus state; a `text` column
    // in any scan schema means an artifact was silently re-derived
    val p = plan("q141_index_erasure")
    assert(!p.contains("text"), s"q141 re-reads raw text:\n$p")
  }

  test("q149: the chaining audit reads the pair/closure artifacts, never text") {
    // density + weakest-link come from the materialized pair graph and
    // closure; a `text` column in any scan schema means the LSH chain
    // was silently re-run per audit
    val p = plan("q149_cluster_chain_audit")
    assert(!p.contains("text"), s"q149 re-reads raw text:\n$p")
    assert(!p.contains("CartesianProduct"), s"q149 gained a cross join:\n$p")
  }

  test("q123: the sketch bloom fronts the gram-index probe, map-side, payload-free") {
    // the incremental scrub's batch grams must hit the codegen'd
    // bloom_contains FILTER before the index semi-join shuffle — and
    // the sketch must travel as a summarized reference object, never a
    // printed literal (a binary child literal would bloat every plan
    // string by the sketch's full hex).
    val p = plan("q123_substr_scrub_incr")
    assert(p.contains("bloom_contains"), s"q123 lost the bloom pre-filter:\n$p")
    assert(p.contains("<bloom:"), s"q123 bloom prints unsummarized:\n$p")
    assert(p.length < 500000, s"q123 plan string blew up (${p.length} chars)")
  }

  test("q134: the data card never reads document text") {
    // every text-derived statistic comes from materialized corpus state
    // (doc_quality, clusters, gram_occurrences); a `text` column in any
    // scan schema means an artifact was silently re-derived per query.
    val p = plan("q134_data_card")
    assert(!p.contains("text"), s"q134 re-reads raw text:\n$p")
    assert(!p.contains("CartesianProduct"), s"q134 gained a cross join:\n$p")
  }

  test("q158: the novelty probe is bloom-fronted and batch-proportional") {
    // bloom-negative grams classify map-side (the codegen'd
    // bloom_contains filter), only maybe-known mass reaches the index
    // join; the sketch must travel summarized, not as a hex literal.
    // (The index join itself MAY be a hash-keyed shuffle join — the
    // index side is corpus-sized at scale; that is the correct shape,
    // not a regression.)
    val p = plan("q158_batch_novelty")
    assert(p.contains("bloom_contains"), s"q158 lost the bloom front:\n$p")
    assert(p.contains("<bloom:"), s"q158 bloom prints unsummarized:\n$p")
    assert(!p.contains("CartesianProduct"), s"q158 gained a cross join:\n$p")
  }

  test("q157: the binning window runs over the distinct-value table, never the corpus") {
    // the only exchange is the quality aggregate's; the value table is
    // then one partition (Par.single), so the binning windows, the
    // per-bin aggregate and the final sort add no exchange, and the bin
    // edges and totals travel in no broadcast. A window below the
    // quality aggregate would run over the corpus.
    val p = plan("q157_quality_drift")
    val lines = p.split("\n").toSeq
    assert(!p.contains("BroadcastExchange"), s"q157 regained a broadcast:\n$p")
    assert("(?<!Broadcast)Exchange ".r.findAllIn(p).size == 1,
      s"q157 plans more than the quality aggregate's exchange:\n$p")
    val qualityAgg = lines.lastIndexWhere(_.contains("HashAggregate(keys=[quality"))
    val windows = lines.indices.filter(i => lines(i).contains("Window ["))
    assert(qualityAgg >= 0 && windows.nonEmpty && windows.forall(_ < qualityAgg),
      s"q157 has a window below the quality aggregate:\n$p")
  }

  test("q159/q160: the epoch rank is two-level — no corpus-sized global window") {
    // the permutation's only unpartitioned window is the exclusive
    // scan over the ≤2^bucketBits-row bucket table; the data-sized
    // rank window stays partitioned by bucket. q159 is the bare
    // permutation: exactly two windows. q160 consumes the LEASED
    // shard rollup twice — the plan string reprints the cached
    // 2-window subtree per InMemoryTableScan, so pin the lease (the
    // subtree executes once) and cap the printed copies.
    val p159 = plan("q159_epoch_shuffle")
    assert(countWindows(p159) == 2,
      s"q159 window count drifted (want 2: bucket scan + in-bucket rank, " +
        s"got ${countWindows(p159)}):\n$p159")
    assert(!p159.contains("SortMergeJoin"),
      s"q159 offset join stopped broadcasting:\n$p159")
    val p160 = plan("q160_worker_mixture")
    assert(p160.contains("InMemoryTableScan"),
      s"q160 lost the shard-rollup lease (the epoch subtree would run twice):\n$p160")
    assert(countWindows(p160) <= 4,
      s"q160 gained a window beyond the cached epoch subtree's reprints " +
        s"(got ${countWindows(p160)}):\n$p160")
    assert(!p160.contains("SortMergeJoin"), s"q160 regained a shuffle join:\n$p160")
  }

  test("q145/q146: date-ranged reads PRUNE the day-partitioned events artifact") {
    // the warehouse lands events_by_day hive-partitioned on `day`; the
    // range predicate must reach the scan as a PartitionFilter (read
    // only the matching day directories) — an empty PartitionFilters
    // means the relayout is decorative and the scan still reads every
    // day at any corpus age.
    for (q <- Seq("q145_events_day_range", "q146_events_recent_window")) {
      val p = plan(q)
      assert(p.contains("PartitionFilters: ["), s"$q scan reports no partition filters:\n$p")
      assert(!p.replaceAll("\\s", "").contains("PartitionFilters:[]"),
        s"$q partition filters are EMPTY — the day range never reached the scan:\n$p")
    }
  }
}

package graft.text

import graft.Tables
import graft.Graft.LeaseOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Document deduplication operators for LLM training-data pipelines:
  * exact, normalized, MinHash+LSH near-dup, and SimHash near-dup.
  *
  * Design notes (100 TB posture):
  *  - Signatures (shingles → minhash/simhash) are computed per-row with
  *    built-in codegen'd expressions — embarrassingly parallel, no
  *    shuffle, no UDFs.
  *  - Candidate generation is ALWAYS banded/bucketed (LSH bands or
  *    hamming chunks): the only shuffles are hash-joins on band keys,
  *    and the quadratic blow-up is confined to same-bucket groups.
  *    All-pairs comparison never happens.
  *  - Every hash is md5-derived ([[PortableHash]]) so the DuckDB oracle
  *    reproduces results bit-for-bit.
  *
  * The shingle/banding parameters are chosen for provable recall at the
  * dedup threshold: 16 permutations in 8 bands × 2 rows catches a
  * jaccard-0.9 pair with p ≈ 1 − (1 − 0.81)⁸ ≈ 0.999998.
  */
object TextDedup {
  /** Modulus for minhash permutations: largest prime < 2²⁸, so
    * a·h + b stays far inside int64 for 28-bit h. */
  val MinhashP = 268435399L
  val MinhashK = 16
  val LshBands = 8 // × 2 rows per band = 16 perms

  /** ENFORCED band-bucket occupancy cap for LSH candidate generation.
    *
    * Why it exists (measured, not hypothetical): the sf1→sf10 stress
    * measured the uncapped pair build at 29.5× cost for 10× docs —
    * band-bucket occupancy grows with corpus duplication density, so
    * in-bucket candidate pairs grow QUADRATICALLY (boilerplate-dense
    * corpora put thousands of byte-identical docs in one bucket of
    * every band). [[bandOccupancyAudit]] measures the degeneracy; this
    * cap BOUNDS it by construction: within each (band, band_key)
    * bucket, only the `cap` smallest doc_ids participate in candidate
    * generation (deterministic — the DuckDB oracle mirrors the same
    * row_number rule), so per-bucket candidate mass is ≤ cap·(cap−1)/2
    * regardless of corpus density.
    *
    * 256 is chosen from the measured occupancy ladder: the hottest
    * bucket is 17 at sf0.1 and 97 at sf1 (cap never fires on a
    * hash-uniform corpus — results are bit-identical to uncapped),
    * while sf10 has 361 buckets above 256 (max 1234) and the planted
    * boilerplate corpus has 2 600-doc buckets — exactly the regime the
    * cap exists to bound. Recall loss when it fires is REPORTED, not
    * silent: [[bandOccupancyAudit]]'s capped_pairs/dropped_pairs/
    * dropped_ppm columns quantify the dropped candidate mass per band
    * before the join runs. The loss is concentrated on byte-identical
    * template docs — the documented mitigation stands: run exact dedup
    * FIRST (q12 precedes q14 in the curation chain) so identical docs
    * collapse to one band representative and the cap never fires. */
  val LshMaxBucket = 256

  /** AUTO pass sizing for [[ngramJaccardPairsSalted]]: one pass per
    * this many corpus docs (clamped to [2, 16]) — the per-pass
    * candidate mass then stays near one bench-scale corpus's worth
    * regardless of corpus size, and the between-pass GC only fires
    * when the corpus is at least this large. */
  val SaltedSliceDocs = 65536L

  /** Bound on Spark's size estimate of the hashset sides (see
    * [[verifyFitsBroadcast]]) below which the exact-join VERIFY stage
    * attaches the shingle arrays by BROADCAST instead of shuffle_hash.
    * Why this matters (measured, r15 sf10): the verify attach is
    * pair-keyed, so a shuffled attach moves every surviving candidate
    * row WITH a ~700 B hashset array through the second exchange —
    * ~310 GB at sf10's 1.13e10 prefix-candidate mass, the stage that
    * actually exceeded local disk (the 16 B/row candidate dedup
    * exchange is two orders smaller). Broadcasting the (bounded,
    * corpus-linear) hashset table instead moves it once per executor
    * and the pair stream never re-shuffles. Above the bound (huge
    * corpora where the table itself is no longer broadcastable) the
    * shuffled attach returns and the pass count is the footprint knob,
    * as before — on a cluster that shuffle is aggregate disk.
    *
    * The estimate is the parquet files' size, not the broadcast's
    * in-memory size (Σ |hs|·8 + rows·32 B). On landed `doc_hashsets`,
    * files over memory measure 0.96 at sf0.001 and sf0.01, 0.58 at sf0.1
    * and 0.23 at sf10 (52,963,790 B against 227,643,688 B), near this
    * corpus's floor: its ≤ 29,791 distinct shingles dictionary-encode in
    * 15 bits, against 8 B per hash in memory. The bound is a 1 GiB
    * in-memory bound scaled by the sf10 ratio: it admits ~1.1 GiB in
    * memory on the most compressible corpus measured, and on corpora
    * whose hashes compress less the shuffled attach returns sooner. */
  val BroadcastVerifyBytes = 1L << 28

  /** Whether the verify stage may broadcast the hashset `sides`: the sum
    * of Spark's own size estimates (the optimized plan's statistics, the
    * figure `autoBroadcastJoinThreshold` is compared with) is at most
    * `bound`. Planning only, no job: on a parquet scan the estimate is
    * the files' size, and a filter does not shrink it while cost-based
    * optimization is off, so two id-filters of one table count it twice. */
  private[graft] def verifyFitsBroadcast(sides: Seq[DataFrame],
                                         bound: Long = BroadcastVerifyBytes): Boolean =
    sides.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <= bound

  /** A computed hashset table, cached and filled before the operators'
    * prefix and verify subtrees read it inside one action: Spark's lazy
    * cache fill is not synchronized across concurrent build futures, so
    * each would recompute the shingle pipeline per partition (measured
    * 17–62 s vs ~4 s warm in round 4). One cheap count serializes the
    * fill. */
  private def filled(hs: DataFrame): DataFrame = {
    val c = hs.leased
    c.count()
    c
  }

  /** Distinct word 3-gram shingles of a text column (`c` must be a
    * column NAME, resolvable in scope). Native codegen'd expression
    * ([[graft.functions.WordShingles]]) — the SQL `transform(...,
    * i -> concat_ws(' ', slice(split(c,' '), i, 3)))` shape re-ran the
    * split once PER WINDOW (lambda inlining), i.e. O(words²) per doc.
    * NULL text coalesces to the empty shingle set — the semantics of
    * the CASE-shaped SQL it replaced, and of the DuckDB oracle's
    * ShinglesCte (word_shingles itself is SQL-conventional:
    * NULL in → NULL out). */
  def shingleExpr(c: String): Column =
    coalesce(expr(s"word_shingles($c, 3)"), typedLit(Seq.empty[String]))

  /** MinHash signature (length [[MinhashK]]) from a 28-bit-hash array
    * column: sig[j] = min over shingles of ((2j+1)·h + 104729j + 7919)
    * mod P. Empty input → all-P sentinel signature.
    *
    * Native codegen'd expression ([[graft.functions.MinhashSig]]) —
    * identical integer arithmetic to the single-fold SQL shape it
    * replaces (which itself replaced a perms-outer `transform` that the
    * lambda-inlining rule re-evaluated 16× per row), minus the
    * interpreted higher-order-function dispatch. Still map-only. */
  def minhashExpr(hashArr: String): Column =
    expr(s"minhash_sig($hashArr, $MinhashK)")

  /** 32-bit SimHash from a 60-bit-hash array column: bit i is set iff a
    * strict majority of hashes have bit i set (ties → 0). Native
    * codegen'd expression ([[graft.functions.Simhash32]]) — same
    * majority-vote arithmetic as the fold it replaces ([[minhashExpr]]
    * note applies). */
  def simhashExpr(hashArr: String): Column =
    expr(s"simhash32($hashArr)")

  /** Exact dedup: one keeper (min id) per identical text + copy count.
    * docs columns: doc_id, text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Exact-duplicate groups keyed by the md5-derived 60-bit text hash
    * (doc_id, th, rep) with rep = min doc_id per group — the stage-1
    * state of the production dedup ORDERING (RefinedWeb: exact dedup
    * BEFORE near-dup): the banding stages run on one REPRESENTATIVE
    * per group, so a boilerplate mega-group occupies ONE band slot
    * instead of flooding its buckets past the [[LshMaxBucket]] cap and
    * silently dropping the distinct near-dup relations behind it
    * (q162 measured 54–68%% of sf10 candidate mass dropped under raw
    * banding on boilerplate-dense corpora). Hash-keyed (not raw text)
    * so the group shuffle carries 8 bytes per doc; an h60 collision
    * merges two groups — deterministic and replayed verbatim by the
    * DuckDB oracles, and at 500k docs the birthday term is ~1e-7. */
  def exactGroups(docs: DataFrame): DataFrame =
    graft.Par.fanOut(docs)
      .select(col("doc_id"), PortableHash.h60(col("text")).as("th"))
      .withColumn("rep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("th"))))
      .select(col("doc_id"), col("th"), col("rep"))

  /** One document per exact group (the rep rows of `groups`). */
  def repDocs(docs: DataFrame, groups: DataFrame): DataFrame =
    docs.join(groups.where(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** The intra-group STAR edges (rep → member, jaccard 1.0) that,
    * unioned with the rep-level verified pairs, span the same
    * duplicate components as all-pairs banding — linear in the corpus
    * where member×member expansion is quadratic in group size. */
  def exactStarEdges(groups: DataFrame): DataFrame =
    groups.where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))

  /** Normalization used by [[normalized]]: lower, strip non-alnum,
    * collapse runs of spaces, trim. Literal-space patterns only — `\s`
    * classes differ subtly across regex engines. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Normalized dedup: group by md5-derived hash of the normalized text.
    * Returns keeper id, the 60-bit norm hash, and the copy count. */
  def normalized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), PortableHash.h60(normText(col("text"))).as("norm_hash"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("norm_hash"), col("n_copies"))

  /** Shared (doc_id, shingles) projection — compute once, feed both the
    * signature stage and the exact-jaccard verification (and, in
    * [[graft.text.Curation]], every shingle-consuming stage of the
    * composed pipeline). At 100 TB this projection is a materialized
    * parquet table, not a memory persist — the plan shape is the same. */
  def shingled(docs: DataFrame): DataFrame =
    graft.Par.fanOut(docs)
      .select(col("doc_id"), shingleExpr("text").as("shingles"))

  /** Per-document LSH band keys, one NARROW row per (doc, band) — the
    * "signature table" a production pipeline materializes to parquet
    * (warehouse artifacts `band_signatures`/`band_signatures_base`;
    * [[graft.streaming.StreamRelease]] maintains the same table
    * incrementally via [[bandRowsAdmitted]]). Persisted because the
    * candidate self-join probes it twice (without it Spark re-evaluates
    * the whole shingle+md5+minhash subtree per join side — the round-1
    * snapshotMerge lesson). Footprint is O(docs × 8) short rows.
    *
    * `maxBucket` < Int.MaxValue applies the [[LshMaxBucket]] occupancy
    * cap: a row_number window over (band, band_key) ordered by doc_id
    * keeps the cap smallest ids per bucket. One extra shuffle of the
    * narrow band rows, sort confined to each bucket — O(n_b log n_b)
    * where the join it guards is O(n_b²). The persisted table is the
    * CAPPED one (smaller, and it is what both join probes read). */
  def bandSignatures(sh: DataFrame,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    val raw = sh
      .withColumn("sig", minhashExpr("shingles"))
      .select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(0, ${LshBands - 1}), b -> struct(b AS band,
             |  concat_ws('_', element_at(sig, 2*b + 1), element_at(sig, 2*b + 2)) AS band_key))"""
            .stripMargin)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_key"))
    val capped =
      if (maxBucket == Int.MaxValue) raw
      else raw
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("band_key")).orderBy(col("doc_id"))))
        .where(col("rn") <= maxBucket)
        .drop("rn")
    // not leased here: single-probe consumers (audits, bipartite sides,
    // artifact writes) read it once; the self-join path leases at its
    // own double-probe site ([[minhashLshPairsFromBands]])
    capped
  }

  /** MinHash+LSH near-duplicate pairs over a fresh shingle projection —
    * see [[minhashLshPairsFromShingles]]. The projection (and the band
    * table inside) stay persisted until the caller clears them
    * (clearCache / unpersist) — see [[graft.text.Curation.curate]]'s
    * lifecycle note. */
  def minhashLshPairs(docs: DataFrame, threshold: Double = 0.5,
                      maxBucket: Int = LshMaxBucket): DataFrame = {
    // EXACT DEDUP FIRST (r14, the RefinedWeb ordering): band one rep
    // per identical-text group, recover intra-group relations as star
    // edges — byte-identical boilerplate can no longer flood a band
    // bucket past the cap, so the cap's dropped mass falls to the
    // genuinely-distinct near-dup tail (q162 audits the rep build).
    val g = exactGroups(docs).leased
    minhashLshPairsFromShingles(shingled(repDocs(docs, g)).leased,
        threshold, maxBucket)
      .unionByName(exactStarEdges(g))
      .orderBy("doc_a", "doc_b")
  }

  /** LSH band-bucket OCCUPANCY audit — the "is my LSH degenerating"
    * monitor: per band, the bucket count, the hottest bucket, the
    * EXACT candidate-pair mass Σ n_b·(n_b−1)/2 the self-join will
    * generate, and the single hottest bucket's share of it in ppm.
    *
    * Why it exists (measured, not hypothetical): the sf1→sf10 stress
    * found the pair build scaling 29.5× for 10× docs — band-bucket
    * occupancy grows with corpus density, so in-bucket candidates grow
    * quadratically. That is LSH's genuine degeneracy mode on
    * boilerplate-dense corpora (byte-identical template docs all share
    * every band). A rising max_bucket / hot_share_ppm across builds is
    * the signal to (a) run exact dedup BEFORE near-dup — byte-identical
    * docs collapse to one band representative (q12 precedes q14 in the
    * curation chain for exactly this reason), (b) enrich the shingle
    * space, or (c) cap audited-hot buckets the SkewJoin way.
    *
    * Cost: the band table's one aggregate — runs BEFORE the self-join
    * whose cost it predicts (the point: you audit, then decide to
    * pair). */
  def bandOccupancyAudit(docs: DataFrame,
                         maxBucket: Int = LshMaxBucket): DataFrame = {
    val occ = bandSignatures(shingled(docs))
      .groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("n"))
    occ.groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("cand_pairs"),
        max(expr("n * (n - 1) div 2")).as("max_bucket_pairs"),
        // analytic replay of the [[LshMaxBucket]] cap: capped mass is
        // Σ min(n, cap)·(min(n, cap)−1)/2 — computed from the SAME
        // occupancy aggregate, no second window/join. dropped_pairs is
        // the exact candidate mass the capped build will NOT generate
        // (the quantified recall loss the cap trades for boundedness).
        sum(expr(s"least(n, $maxBucket) * (least(n, $maxBucket) - 1) div 2"))
          .as("capped_pairs"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("max_bucket"), col("cand_pairs"), col("max_bucket_pairs"),
        expr("(max_bucket_pairs * 1000000) div greatest(1L, cand_pairs)")
          .as("hot_share_ppm"),
        col("capped_pairs"),
        (col("cand_pairs") - col("capped_pairs")).as("dropped_pairs"),
        expr("((cand_pairs - capped_pairs) * 1000000) div greatest(1L, cand_pairs)")
          .as("dropped_ppm"))
      .orderBy("band")
  }

  /** MinHash+LSH near-duplicate pairs with exact-jaccard verification:
    * candidates share ≥1 of 8 two-row bands; survivors have word-3-gram
    * jaccard ≥ `threshold`. Output: doc_a < doc_b, jaccard.
    * `sh` columns: doc_id, shingles — persist (or materialize) it before
    * calling: both the signature stage and the jaccard attach read it.
    *
    * Scale: candidates come from a self-join of the narrow persisted
    * band table (shuffle carries only (doc_id, band, band_key) — never
    * shingle arrays); pairs are deduped while still narrow, and the
    * shingle sets are attached only to surviving candidates for the
    * exact-jaccard check. Bucket occupancy is CAPPED at `maxBucket`
    * ([[LshMaxBucket]] — never fires on the hash-uniform corpora
    * through sf1; bounds the quadratic on boilerplate-dense ones;
    * dropped candidate mass quantified by [[bandOccupancyAudit]]). */
  def minhashLshPairsFromShingles(sh: DataFrame, threshold: Double = 0.5,
                                  maxBucket: Int = LshMaxBucket): DataFrame =
    minhashLshPairsFromBands(bandSignatures(sh, maxBucket), sh, threshold)

  /** [[minhashLshPairsFromShingles]] with the (already capped) band
    * table supplied — the artifact path: the warehouse lands
    * `band_signatures` once per corpus ([[bandSignatures]]'s parquet
    * twin) and the pair build self-joins it instead of re-computing
    * shingle → minhash → band → cap window per query. `sh` is still
    * consumed by the exact-jaccard attach of surviving candidates —
    * persist (or materialize) both inputs. */
  def minhashLshPairsFromBands(bands: DataFrame, sh: DataFrame,
                               threshold: Double = 0.5): DataFrame = {
    val sigs = bands.leased // probed twice by the candidate self-join
    val cand = sigs.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
      .join(sigs.select(col("band"), col("band_key"), col("doc_id").as("doc_b")),
        Seq("band", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      // two shingle-less docs can band-collide on the sentinel signature;
      // their jaccard is undefined (0/0) — null, dropped by the threshold
      // (they are EXACT dups, the exact/normalized operators' job)
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter").cast("double") / col("uni").cast("double")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL MinHash+LSH near-dup: pairs BETWEEN a new batch and an
    * existing corpus — the daily-crawl shape. The historical corpus is
    * already internally deduped (its band table a materialized parquet
    * artifact in production), so candidates are generated ONLY across
    * the bipartite (new × old) band join: the old×old quadratic never
    * re-runs, and the candidate volume scales with the BATCH, not with
    * history. New-batch internal dedup is the ordinary
    * [[minhashLshPairsFromShingles]] over the batch alone.
    * Output: (new_id, old_id, jaccard ≥ threshold). */
  def minhashLshPairsBetween(newDocs: DataFrame, corpus: DataFrame,
                             threshold: Double = 0.5,
                             maxBucket: Int = LshMaxBucket): DataFrame =
    minhashLshPairsBetweenFromShingles(
      shingled(newDocs).leased, shingled(corpus).leased, threshold, maxBucket)

  /** [[minhashLshPairsBetween]] with both shingle projections supplied.
    * NOTE: this form still RE-BANDS the corpus side per call (minhash +
    * cap window over every corpus shingle row) — use
    * [[minhashLshPairsBetweenAgainstBands]] with the maintained band
    * artifact for per-batch ingestion, where that O(corpus) hash work
    * must not recur ([[graft.streaming.StreamRelease]] does). Persist
    * (or materialize) both inputs: each feeds its signature stage AND
    * the exact-jaccard attach.
    *
    * The [[LshMaxBucket]] cap applies PER SIDE: each side's bucket
    * keeps its own cap smallest ids (so a bipartite bucket generates
    * at most cap² candidates). Per-side — not over the union — because
    * the two band tables are separate artifacts in production (the
    * corpus side is maintained parquet; the batch side is built per
    * micro-batch and must not depend on corpus ids for its own cap). */
  def minhashLshPairsBetweenFromShingles(shNew: DataFrame, shOld: DataFrame,
                                         threshold: Double = 0.5,
                                         maxBucket: Int = LshMaxBucket): DataFrame =
    minhashLshPairsBetweenAgainstBands(shNew, bandSignatures(shOld, maxBucket),
      shOld, threshold, maxBucket)

  /** The incremental near-dup's PRODUCTION form: the corpus side's band
    * table is a MAINTAINED ARTIFACT (warehouse `band_signatures_base`,
    * or [[graft.streaming.StreamRelease]]'s per-batch-appended `bands`
    * state) supplied already capped — per-batch work is then the
    * BATCH's shingle → minhash → band computation plus the bipartite
    * band join; the corpus is never re-banded (the
    * annIvfNewAgainstAssigned discipline: the corpus-sized derivation
    * is paid once when the artifact lands, not once per batch).
    * `shOld` is still consumed by the exact-jaccard attach, but only
    * rows surviving the candidate join are intersected — a hash join
    * against the maintained shingle table, no signature recompute.
    * Row-equal to [[minhashLshPairsBetweenFromShingles]] when
    * `oldBands` = [[bandSignatures]] of `shOld` at the same cap
    * (TextDedupSpec pins it). */
  def minhashLshPairsBetweenAgainstBands(shNew: DataFrame, oldBands: DataFrame,
                                         shOld: DataFrame,
                                         threshold: Double = 0.5,
                                         maxBucket: Int = LshMaxBucket): DataFrame = {
    val cand = bandSignatures(shNew, maxBucket)
      .select(col("band"), col("band_key"), col("doc_id").as("new_id"))
      .join(oldBands
        .select(col("band"), col("band_key"), col("doc_id").as("old_id")),
        Seq("band", "band_key"))
      .select(col("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")
    cand
      .join(shNew.select(col("doc_id").as("new_id"), col("shingles").as("sh_a")), Seq("new_id"))
      .join(shOld.select(col("doc_id").as("old_id"), col("shingles").as("sh_b")), Seq("old_id"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter").cast("double") / col("uni").cast("double")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("jaccard"))
      .orderBy("new_id", "old_id")
  }

  /** The incremental near-dup under the EXACT-DEDUP-FIRST rule (r14 —
    * the production form beside the rep-banded [[minhashLshPairs]]):
    *
    *  - ''exact hits'': every batch doc whose text hash matches a
    *    corpus group keys to that group's rep by ONE narrow hash join —
    *    (new_id, corpus_rep, 1.0). At ingestion scale most arriving
    *    duplicates ARE byte-identical, and this path finds them exactly
    *    where raw banding lost them to the bucket cap.
    *  - ''near-dup probe'': only batch docs with UNSEEN text form
    *    within-batch groups; their reps band and probe the maintained
    *    corpus-rep band artifact — (new_rep, old_rep, jaccard ≥ t).
    *    Members of a new-text batch group are the within-batch
    *    operator's job ([[minhashLshPairs]] over the batch), not this
    *    bipartite table's.
    *
    * `corpusReps` = the maintained (th, rep) group table of the corpus
    * (warehouse `exact_reps_base`); `oldBands` = the corpus-REP band
    * artifact; `shOldReps` = corpus-rep shingles for the verify attach. */
  def minhashLshPairsBetweenGrouped(newDocs: DataFrame, corpusReps: DataFrame,
                                    oldBands: DataFrame, shOldReps: DataFrame,
                                    threshold: Double = 0.5,
                                    maxBucket: Int = LshMaxBucket): DataFrame = {
    val g = exactGroups(newDocs).leased
    val cr = corpusReps.select(col("th"), col("rep").as("old_id")).leased
    val exactHits = g.join(cr, Seq("th"))
      .select(col("doc_id").as("new_id"), col("old_id"),
        lit(1.0).as("jaccard"))
    val newTextReps = g.where(col("doc_id") === col("rep"))
      .join(cr.select(col("th")), Seq("th"), "left_anti")
      .select(col("doc_id"))
    val shNewReps = shingled(
      newDocs.join(newTextReps, Seq("doc_id"), "left_semi")).leased
    minhashLshPairsBetweenAgainstBands(shNewReps, oldBands, shOldReps,
        threshold, maxBucket)
      .unionByName(exactHits)
      .orderBy("new_id", "old_id")
  }

  /** The band rows a NEW batch contributes to a maintained corpus band
    * artifact under the global [[LshMaxBucket]] cap — the APPEND LAW
    * that keeps the `band_signatures` table exactly equal to a cold
    * [[bandSignatures]] rebuild over the union corpus without ever
    * re-banding history.
    *
    * Exactness argument (requires the ingestion precondition every
    * incremental operator here shares: batch doc_ids exceed all landed
    * ids): per bucket, the corpus-wide cap keeps the `maxBucket`
    * smallest ids. The landed artifact already holds the smallest
    * `n_old = min(maxBucket, total_old)` of them, and every batch id is
    * larger than every landed id, so the merged capped set is the old
    * rows PLUS the batch rows whose within-batch bucket rank `rn`
    * satisfies `n_old + rn ≤ maxBucket`. The artifact therefore only
    * ever APPENDS (the gram-index ledger pattern — no rewrite of landed
    * rows), and WarehouseMaintenanceSpec pins append ≡ cold rebuild.
    *
    * Cost: one batch-sized band computation + window, and one NARROW
    * occupancy aggregate over the landed band table (three short
    * columns — the same cost class as the gram-index distinct merge,
    * nothing re-hashes corpus text). */
  def bandRowsAdmitted(shNew: DataFrame, oldBands: DataFrame,
                       maxBucket: Int = LshMaxBucket): DataFrame = {
    val occ = oldBands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("__n_old"))
    bandSignatures(shNew)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_key")).orderBy(col("doc_id"))))
      .join(occ, Seq("band", "band_key"), "left")
      .where(col("__rn") + coalesce(col("__n_old"), lit(0L)) <= maxBucket)
      .select(col("doc_id"), col("band"), col("band_key"))
  }

  /** MinHash ESTIMATOR calibration — the q99-style eval-in-engine for
    * the dedup stack: over every LSH candidate pair (threshold 0, so
    * low-similarity collisions are in the sample too), compare the
    * signature estimate (matching components / [[MinhashK]]) against
    * exact shingle-set Jaccard, rolled up per true-Jaccard decile.
    * Answers "how far off is a 16-perm signature, and where" — the
    * number that justifies (or indicts) the band/threshold choice,
    * measured on the corpus itself instead of trusted from theory.
    *
    * Output: (decile, n_pairs, sum_abs_err_ppm, mean_abs_err_ppm),
    * decile = floor(true·10)..10. Integer ppm arithmetic throughout;
    * the zip_with/filter match-count is interpreted (CodegenFallback)
    * but runs only over candidate PAIRS — band-bounded, never the
    * corpus. */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    val sh = shingled(docs).leased
    val pairs = minhashLshPairsFromShingles(sh, 0.0)
    val sigs = sh.withColumn("sig", minhashExpr("shingles"))
      .select(col("doc_id"), col("sig"))
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_ppm", expr(
        s"(CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m)) AS BIGINT) * 1000000) div $MinhashK"))
      .withColumn("true_ppm", expr("CAST(floor(jaccard * 1000000.0) AS BIGINT)"))
      .groupBy(expr("true_ppm div 100000").as("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(abs(col("est_ppm") - col("true_ppm"))).as("sum_abs_err_ppm"))
      .select(col("decile"), col("n_pairs"), col("sum_abs_err_ppm"),
        expr("sum_abs_err_ppm div n_pairs").as("mean_abs_err_ppm"))
      .orderBy("decile")
  }

  /** Exact n-gram Jaccard near-duplicate pairs over a fresh shingle
    * projection — see [[ngramJaccardPairsFromShingles]]. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    // no .persist() on the shingle projection: it is read exactly once to
    // derive the hashed-set table, which is the cache the joins reuse
    ngramJaccardPairsFromShingles(shingled(docs), threshold)

  /** Canonical hashed shingle SETS (doc_id, hs ARRAY<BIGINT> — 60-bit
    * md5 hashes, distinct + sorted) — the shared corpus artifact behind
    * every exact set-similarity operator (warehouse `doc_hashsets`):
    * the PPJoin self-join (q32), the containment probe (q40), and the
    * dup-gram coverage metric (q82) all consume THIS table instead of
    * re-shingling the corpus per query. Fixed-width longs, ~8 bytes per
    * corpus token. */
  def hashedShingleSets(docs: DataFrame): DataFrame =
    hashedSets(shingled(docs))

  /** EXACT n-gram (word-3-gram) Jaccard set-similarity self-join via
    * prefix filtering — the AllPairs/PPJoin family (Bayardo et al.,
    * WWW'07; Vernica et al., SIGMOD'10 for the MapReduce formulation).
    * Unlike MinHash+LSH ([[minhashLshPairsFromShingles]]) this is
    * deterministic with PERFECT recall at any threshold: every pair with
    * jaccard ≥ `threshold` is returned, none missed.
    *
    * Candidate generation: under the LEXICOGRAPHIC order on shingles, a
    * doc with |s| shingles emits only its ⌊|s| − ⌈t·|s|⌉⌋ + 1 smallest
    * (its "prefix"); the prefix-filter lemma guarantees any pair with
    * jaccard ≥ t shares its smallest common shingle, which lies in BOTH
    * prefixes. Candidates = self-join of the narrow prefix table on the
    * shingle, + the length filter t·|b| ≤ |a| ≤ |b|/t; survivors get
    * the exact-jaccard verification.
    *
    * The lemma holds for ANY fixed total order; the classic
    * rarest-first frequency order is a skew heuristic, and this
    * operator used it until round 5 — at the cost of a corpus-wide
    * frequency aggregate, a frequency join, and a per-doc rank window
    * (≈20 AQE jobs; the driver-measured time was 4–24 s run-to-run from
    * driver-side planning/codegen overhead alone). Lexicographic
    * prefixes are a pure MAP over the shingle arrays (sort + slice +
    * posexplode), candidates measured within 5% of the
    * frequency-ordered count on this corpus (hottest shingle df = 25),
    * and the whole query collapses to one cached map stage + the
    * candidate/verify joins. Under genuinely skewed vocabularies
    * (boilerplate shingles in millions of docs), reintroduce frequency
    * ordering — or cheaper, a stopword-shingle blacklist — exactly as
    * documented by Bayardo et al.
    *
    * Scale: one hash self-join on prefix shingles (narrow rows);
    * shingle arrays attach only to surviving candidates. At 100 TB the
    * prefix table is materialized parquet, same plan shape. */
  def ngramJaccardPairsFromShingles(sh: DataFrame, threshold: Double = 0.5): DataFrame =
    // 60-bit hashed shingle SETS (distinct + sorted = canonical): the
    // candidate shuffle carries fixed-width longs instead of ~20-char
    // shingle strings, and the verify intersects long arrays instead of
    // UTF8 arrays (round-5 rewrite: string sets exist only inside this
    // map stage). Jaccard over hashed sets differs from string sets
    // only on md5-60-bit collisions — and the ORACLE HASHES IDENTICALLY,
    // so the compare stays exact, not approximate. The prefix-filter
    // lemma is order-agnostic: the hash order is just another fixed
    // total order on shingles.
    ngramJaccardPairsFromHashsets(filled(hashedSets(sh)), threshold)

  /** [[ngramJaccardPairsFromShingles]] over the materialized hashed-set
    * artifact ([[hashedShingleSets]] / warehouse `doc_hashsets`).
    *
    * A lazy transformation: building it launches no job. `hashsets` is
    * read by four subtrees (two prefix sides, two verify attaches), so it
    * should be a landed table, which each re-scans at the cost of reading
    * a cache, or one the caller has cached and filled. */
  def ngramJaccardPairsFromHashsets(hashsets: DataFrame,
                                    threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    jaccardCandVerify(hashsets, jaccardPrefix(hashsets, threshold), threshold,
        broadcastVerify = verifyFitsBroadcast(Seq(hashsets)))
      .orderBy("doc_a", "doc_b")
  }

  /** The PPJoin prefix projection of a hashed-set table: (tok, doc_id,
    * len, pos) — each doc's ⌊|s| − ⌈t·|s|⌉⌋ + 1 smallest hashes. */
  private def jaccardPrefix(hs: DataFrame, threshold: Double): DataFrame =
    hs.select(col("doc_id"), size(col("hs")).as("len"),
        posexplode(expr(
          s"slice(hs, 1, cast(size(hs) - ceil(size(hs) * $threshold) + 1 as int))"))
          .as(Seq("pos0", "tok")))
      .select(col("tok"), col("doc_id"), col("len"), (col("pos0") + 1).as("pos"))

  /** Candidate join + exact verification over a (possibly tok-sliced)
    * prefix table — the shared core of the single-pass operator and the
    * salted multi-pass variant. Emits UNSORTED verified pairs.
    * `broadcastVerify` picks the attach-join strategy for the verify
    * stage (see [[verifyFitsBroadcast]]): callers decide once and thread
    * the decision in. */
  private def jaccardCandVerify(hs: DataFrame, prefix: DataFrame,
                                threshold: Double,
                                broadcastVerify: Boolean): DataFrame = {
    // shuffle_hash everywhere below: at 100 TB neither the prefix table
    // nor the corpus is broadcast-small, and locally the hint removes
    // the racing broadcast-build futures that made this query's wall
    // time nondeterministic (1.3–10 s for the SAME build job across
    // runs: concurrent futures + lazy cache fill interact badly).
    val cand = prefix.select(col("tok"), col("doc_id").as("doc_a"),
        col("len").as("len_a"), col("pos").as("pos_a"))
      .hint("shuffle_hash")
      .join(prefix.select(col("tok"), col("doc_id").as("doc_b"),
          col("len").as("len_b"), col("pos").as("pos_b"))
          .hint("shuffle_hash"),
        Seq("tok"))
      .where(col("doc_a") < col("doc_b"))
      // length filter: jaccard ≥ t ⇒ t·|b| ≤ |a| and t·|a| ≤ |b|
      // (ε guards the FP boundary for non-dyadic thresholds)
      .where(col("len_a") >= lit(threshold) * col("len_b") - lit(1e-9) &&
             col("len_b") >= lit(threshold) * col("len_a") - lit(1e-9))
      // positional filter (PPJoin): a match at prefix positions (pa, pb)
      // bounds the overlap by min(la−pa, lb−pb)+1, which must reach
      // α = ⌈t/(1+t)·(la+lb)⌉ (the jaccard⟺overlap translation). A true
      // pair always survives via its globally-smallest common token (the
      // proof that puts that token in both prefixes also bounds the
      // count of common tokens AFTER it) — measured 3.3× candidate cut
      // at sf0.1 (409k → 125k). ε loosens, never tightens.
      .where((least(col("len_a") - col("pos_a"), col("len_b") - col("pos_b")) + lit(1))
        .cast("double") >=
        lit(threshold / (1.0 + threshold)) * (col("len_a") + col("len_b")) - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // verify attach: broadcast keeps the pair stream in place (the
    // shuffled form re-exchanges every candidate WITH the first side's
    // array — the measured sf10 disk killer); shuffle_hash above the
    // broadcast bound
    def attach(side: DataFrame): DataFrame =
      if (broadcastVerify) broadcast(side) else side.hint("shuffle_hash")
    cand
      .join(attach(hs.select(col("doc_id").as("doc_a"), col("hs").as("sh_a"))),
        Seq("doc_a"))
      .join(attach(hs.select(col("doc_id").as("doc_b"), col("hs").as("sh_b"))),
        Seq("doc_b"))
      .withColumn("inter",
        // hashed sets are sorted+distinct by construction: the native
        // two-pointer count replaces the per-pair hash-set build +
        // intersection-array materialization of the built-in chain
        expr("sorted_intersect_count(sh_a, sh_b)"))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter").cast("double") / col("uni").cast("double")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[ngramJaccardPairsFromHashsets]] as a SALTED MULTI-PASS join — the
    * r14 verdict's bounded at-scale form for exact all-pairs Jaccard.
    *
    * Why: exact prefix-filtered all-pairs is intrinsically
    * candidate-mass-bound — the candidate dedup shuffles Σ_tok df(tok)²
    * pair rows, and on a dense corpus (sf10: 500k docs over a ~30k
    * trigram space) that is ~10⁹–10¹⁰ rows, past one host's local disk
    * even though the per-pair arithmetic is trivial. The fix is the
    * classic salted decomposition: candidates partition DISJOINTLY by
    * the matched prefix token, so slicing the prefix table into
    * `passes` hash-of-tok groups and running the identical
    * candidate/verify chain per slice bounds the LIVE shuffle footprint
    * to ~candidate-mass/passes, while the union of pass outputs is a
    * superset of the single-pass output that the final
    * `dropDuplicates` collapses exactly (a true pair that shares prefix
    * tokens in k slices verifies identically k times — same jaccard,
    * same pair). Each pass is its own ACTION landing its (small,
    * post-verify) survivors to `outDir/pass=<p>`; pass-local shuffle
    * state is released between passes (ref drop + GC → ContextCleaner),
    * so peak disk is one pass's, not the sum. On a cluster the same
    * operator runs with passes=1 (aggregate executor disk absorbs the
    * full candidate shuffle) or passes>1 when a single stage's shuffle
    * would exceed the fleet's disk — the knob trades wall-clock for
    * footprint with NO recall loss (SaltedJaccardSpec pins equality
    * with the single-pass operator).
    *
    * '''P=1 contract note''': at an effective pass count of 1 (explicit
    * or auto) `outDir` is UNUSED — no `pass=0` parquet is landed and
    * the verify chain returns directly (in-pass candidates are already
    * deduped, so the cross-pass collapse is vacuous). Callers that
    * inspect the landing directory should treat it as present only for
    * P ≥ 2.
    *
    * Perfect recall is per-pass: the prefix-filter lemma guarantees a
    * true pair shares its globally-smallest common prefix token t*, and
    * the pass containing t* generates the pair (other shared prefix
    * toks may regenerate it in other passes — duplicates, never
    * misses). */
  def ngramJaccardPairsSalted(hashsets: DataFrame, outDir: String,
                              threshold: Double = 0.5,
                              passes: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(passes >= 0, "passes must be non-negative (0 = auto)")
    val spark = hashsets.sparkSession
    val nDocs = hashsets.count()
    // AUTO (passes = 0): scale the slice count with the corpus so the
    // per-pass candidate mass stays roughly one [[SaltedSliceDocs]]
    // corpus's worth — bench-scale corpora run 2 thin passes (the
    // decomposition path stays live, its overhead doesn't), sf10 runs 8.
    // Any explicit count produces the identical pair set (spec-pinned),
    // so the knob is purely a footprint/wall trade.
    // r15: one pass per slice, floor 1 (was floor 2) — below one
    // slice's worth of docs the whole run's candidate mass fits one
    // pass trivially, and the decomposition's parquet round-trip +
    // extra actions were pure overhead (~1.2 s of q166's sf0.1 cost).
    // The decomposition path itself stays exercised by the P≥2 specs
    // and the sf10 gate (8 passes); any pass count yields the
    // identical pair set (SaltedJaccardSpec).
    val nPasses = if (passes > 0) passes
      else math.max(1, math.min(16,
        ((nDocs + SaltedSliceDocs - 1) / SaltedSliceDocs).toInt))
    // the between-pass GC (ref drop → ContextCleaner reclaims the dead
    // pass's shuffle files — the step that turns `passes` into a
    // LIVE-disk bound instead of a mere re-ordering of the same spill)
    // only earns its pause when a pass's footprint is material; below
    // one slice's worth of docs the whole run's shuffle is trivial
    val gcBetween = nDocs >= SaltedSliceDocs
    val bcast = verifyFitsBroadcast(Seq(hashsets))
    val prefix = jaccardPrefix(hashsets, threshold)
    // single pass ≡ the whole chain with no tok restriction: skip the
    // pass landing + re-read entirely (in-pass candidates are already
    // deduped, so the cross-pass dropDuplicates is vacuous at P=1)
    if (nPasses == 1)
      return jaccardCandVerify(hashsets, prefix, threshold, broadcastVerify = bcast)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    (0 until nPasses).foreach { p =>
      jaccardCandVerify(hashsets, prefix.where(pmod(col("tok"), lit(nPasses)) === p),
          threshold, broadcastVerify = bcast)
        .write.mode("overwrite").parquet(s"$outDir/pass=$p")
      if (gcBetween) System.gc()
    }
    Tables.parquet(spark, (0 until nPasses).map(p => s"$outDir/pass=$p"): _*)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Train/test contamination scan — the decontamination primitive of
    * every LLM data pipeline: find test/eval documents whose content is
    * substantially CONTAINED in some training document (asymmetric by
    * design: a test doc quoted inside a much larger train doc is
    * contamination even though their jaccard is tiny).
    *
    * Containment C(test, train) = |S_test ∩ S_train| / |S_test| over
    * word-3-gram shingle sets; pairs with C ≥ `threshold` are returned.
    *
    * EXACT with perfect recall via the containment prefix filter: order
    * all shingles lexicographically; a test doc with s shingles emits
    * only its smallest ⌊(1−t)·s⌋+1 shingles — if C ≥ t, fewer than
    * (1−t)·s+1 of the test doc's shingles lie outside the train doc, so
    * at least one PREFIX shingle is shared. The train side indexes all
    * its shingles (an inverted index — [[graft.text.InvertedIndex]] is
    * the materialized form). Candidates = prefix-tok ⋈ index; exact
    * intersection verifies survivors.
    *
    * Scale: the candidate shuffle carries (tok, doc_id) pairs only;
    * shingle arrays attach to surviving candidates. Lexicographic
    * ordering is parameter-free; under heavy stopword-shingle skew,
    * switch the order to global-frequency-first exactly as
    * [[ngramJaccardPairsFromShingles]] does (the lemma holds for ANY
    * total order). */
  /** Canonical 60-bit hashed shingle set (distinct + sorted) — the
    * fixed-width representation the jaccard/containment joins shuffle
    * and intersect (see [[ngramJaccardPairsFromShingles]]'s note; the
    * oracles hash identically, keeping the compare exact). */
  /** Cross-document duplicated-n-gram coverage — the distributed proxy
    * for suffix-array substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): a
    * shingle is "duplicated" when it occurs in ≥ 2 distinct documents;
    * each doc reports how much of it is made of such corpus-repeated
    * n-grams. High-coverage docs are boilerplate/template candidates
    * that pairwise near-dup misses (each pair can be under every
    * jaccard threshold while the doc is still 100% recycled text).
    * Output per doc: n_shingles (distinct), n_dup, dup_ratio.
    *
    * Scale: the exploded (doc, shingle-hash) stream is the inverted
    * index shape — fixed-width 60-bit longs, never shingle strings; one
    * hash-keyed count agg (map-side combine), one semi-join back. The
    * single division per doc is IEEE-exact from integers, so the DuckDB
    * oracle reproduces every ratio bit-for-bit. */
  def dupGramCoverage(docs: DataFrame): DataFrame =
    dupGramCoverageFromHashsets(hashedSets(shingled(docs)))

  /** [[dupGramCoverage]] over the materialized hashed-set artifact. */
  def dupGramCoverageFromHashsets(hashsets: DataFrame): DataFrame = {
    val hs = hashsets.leased
    hs.count() // eager fill: read by the token stream AND the join-back
    val tok = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    // arrays are distinct per doc, so count(*) per hash = distinct docs
    val dup = tok.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
    val nd = tok.join(dup.select("h"), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    hs.select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"))
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_shingles") > 0,
          coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)).as("dup_ratio"))
      .orderBy("doc_id")
  }

  private def hashedSets(sh: DataFrame): DataFrame =
    // md5_prefix(s, 15): native twin of conv(substring(md5(s),1,15),16,10)
    // — same value, no hex render/substring/base-16 re-parse per shingle
    sh.select(col("doc_id"), expr(
      """array_sort(array_distinct(transform(shingles,
        |  s -> md5_prefix(s, 15))))"""
        .stripMargin).as("hs"))

  def containmentPairs(test: DataFrame, train: DataFrame,
                       threshold: Double = 0.5): DataFrame =
    containmentPairsFromHashsets(filled(hashedSets(shingled(test))),
      filled(hashedSets(shingled(train))), threshold)

  /** [[containmentPairs]] over pre-hashed shingle sets (the artifact
    * path: both splits are id-filters of warehouse `doc_hashsets`).
    *
    * A lazy transformation: building it launches no job. Each side is
    * read by a candidate and a verify subtree, so it should be a landed
    * table, or one the caller has cached and filled. */
  def containmentPairsFromHashsets(testSets: DataFrame, trainSets: DataFrame,
                                   threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    containmentCandVerify(testSets, trainSets, containmentPrefix(testSets, threshold),
        containmentIndex(trainSets), threshold,
        broadcastVerify = verifyFitsBroadcast(Seq(testSets, trainSets)))
      .orderBy("test_id", "train_id")
  }

  /** The containment prefix projection of the TEST side: (tok, test_id,
    * len_t) — each test doc's smallest ⌊(1−t)·s⌋+1 hashes, map-only (the
    * arrays are already sorted), no window. */
  private def containmentPrefix(hsTest: DataFrame, threshold: Double): DataFrame =
    hsTest
      .select(col("doc_id").as("test_id"), size(col("hs")).as("len_t"),
        explode(expr(
          s"slice(hs, 1, cast(floor(size(hs) * ${1.0 - threshold}) as int) + 1)")).as("tok"))

  /** The TRAIN side's full inverted projection: (tok, train_id). */
  private def containmentIndex(hsTrain: DataFrame): DataFrame =
    hsTrain.select(col("doc_id").as("train_id"), explode(col("hs")).as("tok"))

  /** Candidate join + exact verification over (possibly tok-sliced)
    * prefix/index projections — the shared core of the single-pass
    * operator and the salted multi-pass variant. Emits UNSORTED
    * verified pairs. */
  private def containmentCandVerify(hsTest: DataFrame, hsTrain: DataFrame,
                                    prefix: DataFrame, index: DataFrame,
                                    threshold: Double,
                                    broadcastVerify: Boolean): DataFrame = {
    val cand = prefix.hint("shuffle_hash")
      .join(index.hint("shuffle_hash"), Seq("tok"))
      .select(col("test_id"), col("train_id"))
      .dropDuplicates("test_id", "train_id")
    // same attach-strategy rule as [[jaccardCandVerify]]: a shuffled
    // second attach re-exchanges every candidate with the test side's
    // array — broadcast while the hashset tables stay bounded
    def attach(side: DataFrame): DataFrame =
      if (broadcastVerify) broadcast(side) else side.hint("shuffle_hash")
    cand
      .join(attach(hsTest.select(col("doc_id").as("test_id"), col("hs").as("sh_t"))),
        Seq("test_id"))
      .join(attach(hsTrain.select(col("doc_id").as("train_id"), col("hs").as("sh_r"))),
        Seq("train_id"))
      .withColumn("inter", expr("sorted_intersect_count(sh_t, sh_r)"))
      .withColumn("containment",
        when(size(col("sh_t")) > 0,
          col("inter").cast("double") / size(col("sh_t")).cast("double")))
      .where(col("containment") >= threshold)
      .select(col("test_id"), col("train_id"), col("containment"))
  }

  /** [[containmentPairsFromHashsets]] as a SALTED MULTI-PASS join — the
    * bounded at-scale form for exact decontamination, the containment
    * twin of [[ngramJaccardPairsSalted]] (see its scaladoc for the full
    * footprint argument; the r14 verdict's task 2 named BOTH q32 and
    * q40 as the candidate-mass-bound family).
    *
    * The candidate space partitions DISJOINTLY by the matched token, so
    * slicing BOTH projections by `pmod(tok, passes)` (they join on tok
    * equality — rows in different slices can never match, so slicing the
    * index side too only shrinks the per-pass shuffle input) and running
    * the identical candidate/verify chain per slice bounds the live
    * candidate shuffle to ~1/passes of the single-pass footprint. Each
    * pass is its own ACTION landing its (small, post-verify) survivors
    * to `outDir/pass=<p>`; the union is a superset of the single-pass
    * output that the final `dropDuplicates` collapses exactly.
    *
    * Perfect recall is per-pass: the containment prefix lemma guarantees
    * a contaminated pair shares ≥ 1 PREFIX shingle t*; the pass holding
    * t*'s slice generates the pair (other shared prefix shingles may
    * regenerate it elsewhere — duplicates with the SAME containment
    * value, never misses). ContainmentSaltedSpec pins pass-count
    * invariance vs the single-pass operator.
    *
    * '''P=1 contract note''': same as [[ngramJaccardPairsSalted]] — at
    * an effective pass count of 1, `outDir` is unused (no landing). */
  def containmentPairsSalted(testSets: DataFrame, trainSets: DataFrame,
                             outDir: String, threshold: Double = 0.5,
                             passes: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(passes >= 0, "passes must be non-negative (0 = auto)")
    val spark = testSets.sparkSession
    val nDocs = testSets.count() + trainSets.count()
    // AUTO sizing: same rule as [[ngramJaccardPairsSalted]] over the
    // combined corpus — the candidate mass Σ df_test(tok)·df_train(tok)
    // scales with the same token-frequency profile
    // r15: floor 1, single-pass fast path — same rationale and spec
    // pins as [[ngramJaccardPairsSalted]]
    val nPasses = if (passes > 0) passes
      else math.max(1, math.min(16,
        ((nDocs + SaltedSliceDocs - 1) / SaltedSliceDocs).toInt))
    val gcBetween = nDocs >= SaltedSliceDocs
    val bcast = verifyFitsBroadcast(Seq(testSets, trainSets))
    val prefix = containmentPrefix(testSets, threshold)
    val index = containmentIndex(trainSets)
    // r16: no dropDuplicates here — containmentCandVerify already
    // dedups candidates before verify, so at P=1 the pair stream is
    // unique by construction and the extra exchange was pure overhead
    if (nPasses == 1)
      return containmentCandVerify(testSets, trainSets, prefix, index, threshold,
          broadcastVerify = bcast)
        .select(col("test_id"), col("train_id"), col("containment"))
        .orderBy("test_id", "train_id")
    (0 until nPasses).foreach { p =>
      containmentCandVerify(testSets, trainSets,
          prefix.where(pmod(col("tok"), lit(nPasses)) === p),
          index.where(pmod(col("tok"), lit(nPasses)) === p), threshold,
          broadcastVerify = bcast)
        .write.mode("overwrite").parquet(s"$outDir/pass=$p")
      if (gcBetween) System.gc()
    }
    Tables.parquet(spark, (0 until nPasses).map(p => s"$outDir/pass=$p"): _*)
      .dropDuplicates("test_id", "train_id")
      .select(col("test_id"), col("train_id"), col("containment"))
      .orderBy("test_id", "train_id")
  }

  /** Per-document 32-bit SimHash fingerprints over word-3-gram shingles. */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    graft.Par.fanOut(docs)
      .withColumn("shingles", shingleExpr("text"))
      .select(col("doc_id"), simhashExpr("shingles").as("simhash"))

  /** SimHash near-duplicate pairs at hamming distance ≤ `maxHam` (≤ 3):
    * candidates share ≥1 of the 4 byte-chunks of the fingerprint — by
    * pigeonhole, any pair within hamming 3 of a 32-bit hash shares at
    * least one unchanged byte, so chunk-bucketing has PERFECT recall at
    * maxHam ≤ 3 (the scale path: no all-pairs hamming scan). */
  def simhashNearDup(docs: DataFrame, maxHam: Int = 3): DataFrame =
    simhashPairs(simhashFingerprints(docs), maxHam)

  /** Near-dup pairs from ANY (doc_id, simhash) fingerprint table at
    * hamming ≤ `maxHam` — the chunk-bucket machinery shared by the
    * word-shingle variant above and the payload-gram variant
    * ([[graft.media.Multimodal.payloadNearDup]]). */
  def simhashPairs(fingerprints: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam <= 3, "chunk bucketing guarantees recall only for maxHam <= 3")
    // narrow (doc_id, simhash) persisted: probed twice by the self-join
    val fp = fingerprints.leased
      .select(col("doc_id"), col("simhash"),
        explode(expr(
          "transform(sequence(0, 3), c -> struct(c AS chunk, (shiftright(simhash, 8*c) & 255) AS chunk_val))"))
          .as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.chunk_val"))
    val left = fp.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val right = fp.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    left.join(right, Seq("chunk", "chunk_val"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHam)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }
}

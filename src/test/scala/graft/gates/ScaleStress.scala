package graft.gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Graft, Measure, Tables}

/** Cross-scale WALL-CLOCK stress for the linear text family — the
  * measured companion to the per-SF oracle gates: the same operators
  * timed at sf0.1 → sf1 → sf10 (5k → 50k → 500k docs; two decades) so
  * BASELINE.md can record the scaling EXPONENT, not just one point.
  * The contract under test, per operator class:
  *
  *  - corpus-linear ops (full scrub, DSIR weights, epoch shuffle,
  *    survivor build): cost grows ~linearly with corpus size — a
  *    super-linear bend is a latent q125-class bug (the fixed-ncells
  *    lesson: width² fanout was invisible below sf1);
  *  - FIXED-BATCH incremental ops (index-probed scrub, gram novelty,
  *    DSIR incremental scoring): the SAME 5,000-doc batch is scored
  *    against a 10× and 100× corpus — cost must stay ~flat (the
  *    maintained index absorbs corpus growth; this is THE 100 TB
  *    ingestion claim, measured instead of asserted);
  *  - decision-layer ops (release card from survivors): linear in
  *    survivors, trivially parallel.
  *
  * Corpus state (grams, index+bloom, clusters, quality, survivors,
  * dsir counts) is built ONCE per run into a temp dir and timed as
  * `state:` rows — the warehouse-build cost a production deployment
  * amortizes; the quadratic eval-truth artifacts (knn_exact) are
  * deliberately out of scope at sf10, exactly as they would be
  * sampled in production.
  *
  * Usage: `sbt "Test/runMain graft.gates.ScaleStress [sfDir] [runs]"`
  * (default target/sf10, 3). Prints one line per op with cold +
  * post-cold median. */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "target/sf10"
    val runs = if (args.length > 1) args(1).toInt else 3
    val vectorOnly = args.length > 2 && args(2) == "vector-only"
    val spark = Graft.localSession()
    val tmp = java.nio.file.Files.createTempDirectory("scale_stress").toString

    def land(name: String)(df: => DataFrame): DataFrame = {
      val sec = Measure.seconds(graft.sources.Ingest.overwriteSwap(spark, df, s"$tmp/$name"))
      println(f"[scale] state:$name $sec%.2f s")
      spark.read.parquet(s"$tmp/$name")
    }
    def time(label: String)(df: => DataFrame): Unit = {
      val times = Measure.samples(spark, runs)(Measure.noop(df))
      println(f"[scale] $label: cold ${times.head}%.2f s steady-median ${Measure.steadyMedian(times)}%.2f s")
    }

    // fanOut mirrors every registered query's read path: these corpora
    // are single parquet files (one scan partition at any size), and
    // without redistribution the compute-heavy map stages (md5 grams,
    // minhash signatures, bigram hashing) serialize onto one core —
    // the first sf10 run measured dsir_counts 27× sf1 for 10× data
    // from exactly this harness bug (operators were fine)
    val docs = graft.Par.fanOut(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("source"), col("text"))
    val nDocs = docs.count()
    println(s"[scale] corpus $sfDir: $nDocs docs")

    // ---- corpus state, built once (the warehouse-build analog) ----
    if (!vectorOnly) {
    val grams = land("grams")(
      graft.text.SegmentDedup.gramOccurrences(docs.select(col("doc_id"), col("text"))))
    val index = land("gram_index")(
      grams.where(pmod(col("doc_id"), lit(10)) =!= 7).select(col("h")).distinct())
    val bloom = graft.operators.BloomPrune.sketchBloomBytes(
      index, "h", math.max(index.count(), 1L), 0.01)
    val quality = land("quality")(
      graft.text.TextAnalysis.compositeQuality(docs.select(col("doc_id"), col("text"))))
    val pairs = land("pairs")(
      graft.text.TextDedup.minhashLshPairs(docs.select(col("doc_id"), col("text"))))
    val clusters = land("clusters")(
      graft.operators.Components.minLabel(
          docs.select(col("doc_id").as("id")),
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("id").as("doc_id"), col("component").as("cluster_id")))
    val surv = land("survivors")(
      graft.pipeline.Release.survivors(docs, grams, clusters, quality))
    val counts = land("dsir_counts")(
      graft.text.Curation.dsirCounts(graft.text.Curation.dsirFeatures(
        graft.Par.fanOut(Tables.documents(spark, sfDir))
          .where(pmod(col("doc_id"), lit(10)) =!= 7)
          .select(col("doc_id"), col("text"), col("lang")))))

    // the FIXED batch: same 5,000-doc size at every scale
    val batch = docs.where(col("doc_id") < 5000).persist()
    batch.count()
    val batchGrams = land("batch_grams")(
      graft.text.SegmentDedup.gramOccurrences(batch.select(col("doc_id"), col("text"))))

    // ---- corpus-linear family ----
    time("full_scrub(corpus)")(
      graft.text.SegmentDedup.scrubExactSubstrFromGrams(
        docs.select(col("doc_id"), col("text")), grams))
    time("dsir_weights(corpus)")(
      graft.text.Curation.dsirWeights(graft.Par.fanOut(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text"), col("lang"))))
    time("epoch_shuffle(corpus)")(
      graft.text.Sampling.epochShuffle(docs.select(col("doc_id"))))
    time("release_card(decisions over survivors)")(
      graft.pipeline.Release.releaseCardFromSurvivors(surv,
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs_raw")),
        docs.select(col("source")).distinct().withColumn("mix_ppm", lit(50000L))))

    // ---- fixed-batch incremental family (the flat-cost claim) ----
    // corpus side of the incremental near-dup: the maintained CAPPED
    // band artifact + the shingle table (landed once, like production)
    val corpusShingles = land("corpus_shingles")(
      graft.text.TextDedup.shingled(
        docs.where(col("doc_id") >= 5000).select(col("doc_id"), col("text"))))
    val corpusBands = land("corpus_bands")(
      graft.text.TextDedup.bandSignatures(corpusShingles,
        graft.text.TextDedup.LshMaxBucket))
    time("incr_neardup(fixed 5k batch vs band artifact)")(
      graft.text.TextDedup.minhashLshPairsBetweenAgainstBands(
        graft.text.TextDedup.shingled(batch.select(col("doc_id"), col("text"))),
        corpusBands, corpusShingles))
    // the REPLACED path, for the ratio: re-bands the corpus per call
    time("incr_neardup_reband(fixed 5k batch, corpus re-banded)")(
      graft.text.TextDedup.minhashLshPairsBetweenFromShingles(
        graft.text.TextDedup.shingled(batch.select(col("doc_id"), col("text"))),
        corpusShingles))
    time("incr_scrub(fixed 5k batch)")(
      graft.text.SegmentDedup.scrubAgainstIndexFromGrams(
        batch.select(col("doc_id"), col("text")), batchGrams, index, 8, Some(bloom)))
    time("batch_novelty(fixed 5k batch)")(
      graft.text.SegmentDedup.batchNovelty(batchGrams,
        batch.select(col("doc_id"), col("source")), index, Some(bloom)))
    time("dsir_incremental(fixed 5k batch)")(
      graft.text.Curation.dsirScoreAgainstCounts(
        graft.text.Curation.dsirFeatures(batch.select(col("doc_id"), col("text"))),
        counts))
    }

    // ---- vector family: does the literal-centroid assignment survive
    // a corpus-scaled codebook? The ~512-vector cell-width target makes
    // ncells grow with the corpus (sf10: ~390 cells), and the map-only
    // assignment embeds ncells × dim centroid literals into ONE
    // projection — the stage that would hit codegen method limits
    // first. Measured here so the cliff (or its absence) is a number.
    val embPath = new org.apache.hadoop.fs.Path(s"$sfDir/embeddings.parquet")
    if (embPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(embPath)) {
      val emb = graft.Par.fanOut(Tables.embeddings(spark, sfDir))
      println(s"[scale] vectors: ${emb.count()}")
      val cb = land("ivf_codebook")(
        graft.warehouse.Warehouse.buildIvfCodebook(spark, sfDir))
      println(s"[scale] ncells: ${cb.count()}")
      time("ivf_assign(corpus)")(
        graft.vector.Similarity.cellAssignments(emb, cb))
      // the O(√ncells) two-level path vs the flat row above — the
      // assignment-cost cliff the corpus-scaled codebook builds toward
      // (4096 dots/vector at the cell cap)
      val sc = land("ivf_supercells")(
        graft.warehouse.Warehouse.buildIvfSuperCells(spark, cb))
      val mp = land("ivf_super_map")(
        graft.warehouse.Warehouse.buildIvfSuperMap(spark, cb))
      time("ivf_assign_two_level(corpus)")(
        graft.vector.Similarity.cellAssignmentsTwoLevel(emb, cb, sc, mp))
      // the PRODUCTION incremental path: corpus side reads the LANDED
      // ivf_assign artifact (built once per corpus, timed as state:
      // above), so the per-batch row measures batch assignment +
      // in-cell candidates only — the flat-cost claim as deployed,
      // not a harness re-assignment of the corpus per call
      val assign = land("ivf_assign")(
        graft.warehouse.Warehouse.buildIvfAssign(spark, sfDir, cb, sc, mp))
      val batchV = emb.where(col("vec_id") < 5000)
      val corpusV = emb.where(col("vec_id") >= 5000)
      time("ann_incremental(fixed 5k vecs vs corpus)")(
        graft.vector.Similarity.annIvfNewAgainstAssigned(batchV, corpusV, assign, cb))
      // the q77 path since r13: the batch probe ranks through the
      // super-cell layer — the flat row above isolates what the
      // two-level probe saves per batch as ncells grows
      time("ann_incremental_two_level(fixed 5k vecs vs corpus)")(
        graft.vector.Similarity.annIvfNewAgainstAssignedTwoLevel(
          batchV, corpusV, assign, cb, sc, mp))
    }

    spark.stop()
  }
}

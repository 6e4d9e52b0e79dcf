package graft.streaming

import graft.SparkSpec
import graft.text.SegmentDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamSubstrScrubSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"sscrub_$tag").toString

  private def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, String)] =
    df.select("doc_id", "n_tokens", "n_dup_tokens", "clean_text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

  // sequential ground truth: scrub each batch against everything
  // ingested before it via the batch operator
  private def sequential(batches: Seq[Seq[(Long, String)]], l: Int) =
    batches.zipWithIndex.map { case (b, i) =>
      val prior = batches.take(i).flatten
      canon(SegmentDedup.scrubExactSubstrAgainst(
        b.toDF("doc_id", "text"),
        prior.toDF("doc_id", "text"), minTokens = l))
    }.reduce(_ ++ _)

  test("streamed scrub output equals sequential batch scrubbing") {
    implicit val sqlCtx = spark.sqlContext
    val index = tmp("state") + "/idx"
    val out = tmp("out") + "/scrubbed"
    val in = MemoryStream[(Long, String)]
    val q = StreamSubstrScrub.sink(spark, in.toDF.toDF("doc_id", "text"),
      index, out, tmp("ckpt"), minTokens = 3)
    val batches = Seq(
      Seq((1L, "a b c d e"), (2L, "f g h i")),
      Seq((10L, "x a b c d"), (11L, "f g h i j"), (12L, "p q r s")),
      Seq((20L, "p q r s t"), (21L, "fresh tokens only here")))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = canon(spark.read.parquet(out))
      assert(streamed == sequential(batches, 3))
      // the shared 3-grams really were scrubbed (not a vacuous pass)
      assert(streamed.contains((10L, 5L, 4L, "x")))
      assert(streamed.contains((20L, 5L, 4L, "t")))
      assert(streamed.contains((21L, 4L, 0L, "fresh tokens only here")))
    } finally q.stop()
  }

  test("redelivered batch is a no-op (a replay must not scrub against its own grams)") {
    val index = tmp("replay") + "/idx"
    val out = tmp("replayout") + "/scrubbed"
    val b0 = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val b1 = Seq((2L, "x a b c")).toDF("doc_id", "text")
    StreamSubstrScrub.mergeBatch(spark, b0, 0L, index, out, minTokens = 3)
    StreamSubstrScrub.mergeBatch(spark, b1, 1L, index, out, minTokens = 3)
    val before = canon(spark.read.parquet(out))
    StreamSubstrScrub.mergeBatch(spark, b1, 1L, index, out, minTokens = 3) // replay
    assert(canon(spark.read.parquet(out)) == before)
    assert(before == Set((1L, 4L, 0L, "a b c d"), (2L, 4L, 3L, "x")))
  }

  test("maintained index equals the batch operator's index over all ingested docs") {
    val index = tmp("idx") + "/idx"
    val out = tmp("idxout") + "/scrubbed"
    val b0 = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val b1 = Seq((2L, "c d e f")).toDF("doc_id", "text")
    StreamSubstrScrub.mergeBatch(spark, b0, 0L, index, out, minTokens = 3)
    StreamSubstrScrub.mergeBatch(spark, b1, 1L, index, out, minTokens = 3)
    val streamed = spark.read.parquet(index).select("h").as[Long].collect().toSet
    val direct = SegmentDedup.gramIndex(
        Seq((1L, "a b c d"), (2L, "c d e f")).toDF("doc_id", "text"), minTokens = 3)
      .as[Long].collect().toSet
    assert(streamed == direct)
  }

  test("attaching to a pre-existing index without a bloom seeds the sketch from the index") {
    import org.apache.spark.sql.functions.{col, lit}
    val index = tmp("attach") + "/idx"
    val out = tmp("attachout") + "/scrubbed"
    // a batch-built index (ledger present, NO bloom file) — the
    // deployment the scaladoc documents: the stream attaches to the
    // artifact the batch pipeline already maintains
    graft.sources.Ingest.overwriteSwap(spark,
      SegmentDedup.gramIndex(Seq((1L, "a b c d")).toDF("doc_id", "text"), minTokens = 3)
        .withColumn("last_batch", lit(0L)), index)
    // attach-batch carries only fresh grams; a batch-only bootstrap
    // bloom would miss every pre-existing gram from here on
    StreamSubstrScrub.mergeBatch(spark,
      Seq((2L, "q r s t")).toDF("doc_id", "text"), 1L, index, out, minTokens = 3)
    // the NEXT batch repeats a gram known only to the pre-existing
    // index — it must still be scrubbed (the r10 false-negative bug)
    StreamSubstrScrub.mergeBatch(spark,
      Seq((3L, "x a b c")).toDF("doc_id", "text"), 2L, index, out, minTokens = 3)
    assert(canon(spark.read.parquet(out)) ==
      Set((2L, 4L, 0L, "q r s t"), (3L, 4L, 3L, "x")))
    val bloom = spark.read.parquet(s"${index}_bloom")
      .select(col("bf")).head.getAs[Array[Byte]](0)
    val dropped = spark.read.parquet(index).select(col("h"))
      .where(!graft.operators.BloomPrune.mightContainLong(bloom, col("h"))).count()
    assert(dropped == 0L, s"bootstrap bloom dropped $dropped index grams — false negatives")
  }

  test("maintained bloom passes every gram of the maintained index (no false negatives)") {
    import org.apache.spark.sql.functions.col
    val index = tmp("bloom") + "/idx"
    val out = tmp("bloomout") + "/scrubbed"
    StreamSubstrScrub.mergeBatch(spark,
      Seq((1L, "a b c d")).toDF("doc_id", "text"), 0L, index, out, minTokens = 3)
    StreamSubstrScrub.mergeBatch(spark,
      Seq((2L, "c d e f"), (3L, "q r s t")).toDF("doc_id", "text"), 1L, index, out, minTokens = 3)
    val bloom = spark.read.parquet(s"${index}_bloom")
      .select(col("bf")).head.getAs[Array[Byte]](0)
    val idx = spark.read.parquet(index).select(col("h"))
    val dropped = idx.where(
      !graft.operators.BloomPrune.mightContainLong(bloom, col("h"))).count()
    assert(dropped == 0L, s"merged bloom dropped $dropped index grams — false negatives")
  }

  test("a micro-batch whose docs are all shorter than minTokens still merges") {
    val index = tmp("short") + "/idx"
    val out = tmp("shortout") + "/scrubbed"
    val long = "a b c d e f g h i"
    // fewer than 8 tokens each: the first batch contributes no gram, so
    // its sketch is built over an empty key set
    StreamSubstrScrub.mergeBatch(spark,
      Seq((1L, "a b c"), (2L, "d e f g h")).toDF("doc_id", "text"), 0L, index, out)
    StreamSubstrScrub.mergeBatch(spark, Seq((3L, long)).toDF("doc_id", "text"), 1L, index, out)
    StreamSubstrScrub.mergeBatch(spark, Seq((4L, s"$long z")).toDF("doc_id", "text"), 2L, index, out)
    assert(canon(spark.read.parquet(out)) == Set((1L, 3L, 0L, "a b c"),
      (2L, 5L, 0L, "d e f g h"), (3L, 9L, 0L, long), (4L, 10L, 9L, "z")))
  }
}

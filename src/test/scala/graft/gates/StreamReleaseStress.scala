package graft.gates

import org.apache.spark.sql.functions._

import graft.{Graft, Measure, Tables}

/** sf10 gate for [[graft.streaming.StreamRelease]]'s GROUP APPEND LAW
  * (r14 verdict task 6): the maintained exact-duplicate group state
  * (`reps/batch=N`, rep resolved against history) unioned over N
  * monotonic-id batches must equal the cold
  * [[graft.text.TextDedup.exactGroups]] over the full corpus — at the
  * scale where exact groups actually get large (sf10's boilerplate
  * rule fully overwrites ~short docs, so byte-identical groups reach
  * hundreds of members; the small-scale spec never exercises that).
  *
  * Verdict: EXACT row equality (exceptAll both ways), plus the group
  * histogram so the run records that large groups were present — an
  * equality over singleton groups would be vacuously easy.
  *
  * Usage: `sbt "Test/runMain graft.gates.StreamReleaseStress [sfDir] [nBatches]"`
  * (defaults target/sf10, 5). Prints one summary line per check; exits nonzero
  * on any violation. */
object StreamReleaseStress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "target/sf10"
    val nBatches = if (args.length > 1) args(1).toInt else 5
    val spark = Graft.localSession()

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val width = maxId / nBatches + 1
    val mixture = docs.select(col("source")).distinct()
      .withColumn("mix_ppm", lit(50000L))
    val state = java.nio.file.Files.createTempDirectory("srel-stress").toString
    println(s"[stress] state=$state corpus=$sfDir batches=$nBatches")

    val ingestSec = Measure.seconds((0 until nBatches).foreach { b =>
      val batch = docs.where(col("doc_id") >= b * width && col("doc_id") < (b + 1) * width)
      val sec = Measure.seconds(
        graft.streaming.StreamRelease.mergeBatch(spark, batch, b.toLong, state, mixture))
      println(f"[stress] batch $b merged in $sec%.1f s")
    })
    println(f"[stress] total ingest $ingestSec%.1f s")

    // ---- the group append law ----
    val maintained = spark.read.parquet(s"$state/reps")
      .select(col("doc_id"), col("th"), col("rep"))
    val cold = graft.text.TextDedup.exactGroups(docs.select(col("doc_id"), col("text")))
    val onlyM = maintained.exceptAll(cold).count()
    val onlyC = cold.exceptAll(maintained).count()
    val nRows = maintained.count()

    // non-vacuity: the corpus must actually contain LARGE exact groups
    val hist = cold.groupBy(col("th")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_groups"), max(col("sz")).as("max_group"),
        count(when(col("sz") >= 100, 1)).as("groups_ge_100"))
      .head()
    println(s"[stress] reps rows=$nRows onlyMaintained=$onlyM onlyCold=$onlyC " +
      s"groups=${hist.getLong(0)} maxGroup=${hist.getLong(1)} ge100=${hist.getLong(2)}")

    val ok = onlyM == 0 && onlyC == 0 && hist.getLong(1) >= 100
    println(if (ok) "STREAM-RELEASE GROUP LAW OK at " + sfDir
            else "STREAM-RELEASE GROUP LAW FAILED")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}

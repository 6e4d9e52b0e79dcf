package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The pre-fold [[Curation.qualityDrift]], kept as the reference its
  * one-task fold is checked against (QualityDriftSpec): corpus bin edges
  * from a cumulative window over the corpus value table, collected into
  * one broadcast array row, every doc assigned by scanning that array,
  * the bins enumerated with `range` and left-joined to the counts and
  * edges, and the totals attached by a second broadcast. Same columns,
  * same integer arithmetic; about 11 jobs where the fold runs 2. */
object QualityDriftReference {
  def apply(quality: DataFrame, isBatch: Column, nBins: Int = 10): DataFrame = {
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

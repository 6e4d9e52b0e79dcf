package graft.gates

import org.apache.spark.sql.functions._

import graft.{Graft, Measure}

/** Planted-skew WALL-CLOCK stress for the scrub's dup-marking join —
  * the measured companion to SkewPlantSpec's deterministic placement
  * bounds: a block of byte-identical boilerplate documents big enough
  * that the unsalted control serializes its gram groups onto a handful
  * of tasks, timed against the salted path on the SAME corpus.
  *
  * The fixture isolates the HOT stage: boilerplate docs carry 3 grams
  * each (short docs), so the unsalted join funnels nPlant rows per
  * gram into 3 reducer groups while the other cores idle; the salted
  * path spreads them over ceil(nPlant/1024)-capped-64 buckets per
  * gram. Background docs are unique (cold keys pay no replication in
  * either variant — SkewJoin's audit salts only the audited keys), so
  * the delta between the two numbers IS the skew cost.
  *
  * Usage: `sbt "Test/runMain graft.gates.SkewStress [nPlant] [nBackground] [runs]"`
  * (defaults 2,000,000 / 100,000 / 4). Prints one line per variant
  * with the post-cold median — the BASELINE.md §planted-skew row. */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val nPlant = if (args.length > 0) args(0).toLong else 2000000L
    val nBg = if (args.length > 1) args(1).toLong else 100000L
    val runs = if (args.length > 2) args(2).toInt else 4
    val spark = Graft.localSession()

    val boiler = "terms of service apply to all content herein forever and ever"
    val docs = spark.range(nPlant)
      .select(col("id").as("doc_id"), lit(boiler).as("text"))
      .unionByName(spark.range(nBg)
        .select((col("id") + nPlant).as("doc_id"),
          concat_ws(" ", lit("unique background doc"),
            md5(col("id").cast("string")),
            md5((col("id") * 7).cast("string")),
            md5((col("id") * 13).cast("string"))).as("text")))
    val grams = graft.text.SegmentDedup.gramOccurrences(docs, 8).persist()
    val nGrams = grams.count()

    def unsaltedControl(g: org.apache.spark.sql.DataFrame) = {
      val keeper = g.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        .select(col("h"), col("k.doc_id").as("kd"), col("k.pos").as("kp"))
      g.join(keeper, Seq("h"))
        .where(!(col("doc_id") === col("kd") && col("pos") === col("kp")))
        .select(col("doc_id"), col("pos"))
    }

    // no Measure.teardown between runs: its clearCache would drop the
    // persisted `grams` every variant reads
    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val times = (1 to runs).map { _ =>
        Graft.releaseLeases(); System.gc()
        Measure.seconds(Measure.noop(df))
      }
      println(f"[skew-stress] $label: cold ${times.head}%.2f s steady-median ${Measure.steadyMedian(times)}%.2f s" +
        f" (plant=$nPlant bg=$nBg grams=$nGrams)")
    }

    time("salted (dupOccurrences)")(graft.text.SegmentDedup.dupOccurrences(grams))
    // AQE's runtime skew split rescues the unsalted local run (it IS
    // the documented second line of defense) — time it both ways so
    // the row records the rescue AND the unrescued degradation (the
    // shape AQE can't classify: nested subqueries, bucketed-layout
    // requirements, or a split still exceeding executor memory)
    time("unsalted + AQE skew rescue")(unsaltedControl(grams))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("unsalted, no rescue")(unsaltedControl(grams))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    // the scale metric wall-clock can understate at local scale: the
    // largest single reducer group each variant must absorb
    val hotN = graft.text.SegmentDedup.HotGramOccurrences
    val freq = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt")).persist()
    val maxUnsalted = freq.agg(max(col("cnt"))).head.getLong(0)
    val buckets = math.min(64L, (maxUnsalted + hotN - 1) / hotN)
    val maxSalted = grams
      .join(freq.where(col("cnt") > hotN).select(col("h")), Seq("h"))
      .withColumn("salt",
        pmod(xxhash64(col("doc_id"), col("pos"), col("h")), lit(buckets)).cast("int"))
      .groupBy(col("h"), col("salt")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head.getLong(0)
    println(s"[skew-stress] max reducer group: unsalted=$maxUnsalted " +
      s"salted=$maxSalted (${buckets}x spread)")
    freq.unpersist(); grams.unpersist()
    spark.stop()
  }
}

package graft.gates

import org.apache.spark.sql.functions._

import graft.{Graft, Measure, Tables}
import graft.sources.Ingest
import graft.streaming.StreamErasure

/** Per-batch RTBF cost probe for the deferred bloom rebuild: lands the
  * gram artifacts (occurrences + base index + bloom) for a corpus,
  * then times `StreamErasure.mergeBatch` for a small victim batch
  * twice — with the production deferral threshold (the bloom rebuild
  * skipped while cumulative shrink < [[StreamErasure.BloomRebuildShrinkPct]])
  * and in eager mode (shrinkPct = 0, the pre-r12 per-batch rebuild) —
  * so "per-batch cost decoupled from index size" is a measured number
  * at each corpus scale, not scaladoc. Usage:
  * `sbt "Test/runMain graft.gates.ErasureProbe [sfDir]"` (default target/sf1). */
object ErasureProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "target/sf1"
    val spark = Graft.localSession()
    val docs = graft.Par.fanOut(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("text"))
    println(s"[erasure] corpus $sfDir: ${docs.count()} docs")

    def landRoot(): String = {
      val root = java.nio.file.Files.createTempDirectory("erasure_probe").toString
      val grams = graft.text.SegmentDedup.gramOccurrences(docs)
      Ingest.overwriteSwap(spark, grams, s"$root/${StreamErasure.GramOccurrences}")
      val idx = grams
        .where(pmod(col("doc_id"), lit(10)) =!= graft.warehouse.Warehouse.HoldoutMod)
        .select(col("h")).distinct()
      Ingest.overwriteSwap(spark, idx, s"$root/${StreamErasure.GramIndex}")
      Ingest.overwriteSwap(spark,
        graft.warehouse.Warehouse.buildGramBloomBase(
          spark, spark.read.parquet(s"$root/${StreamErasure.GramIndex}")),
        s"$root/${StreamErasure.GramBloom}")
      println(s"[erasure] index size: ${idx.count()} hashes")
      root
    }

    // ten tiny batches of 10 victims each — the RTBF trickle shape
    def run(label: String, pct: Int): Unit = {
      val root = landRoot()
      val times = (0 until 10).map { b =>
        import spark.implicits._
        val victims = (0 until 10).map(i => b * 1000L + i * 10L + 1L).toDF("key")
        Measure.seconds(StreamErasure.mergeBatch(spark, victims, b.toLong, root,
          bloomRebuildShrinkPct = pct))
      }
      println(f"[erasure] $label: median ${Measure.median(times)}%.2f s " +
        f"total ${times.sum}%.1f s (10 batches x 10 victims)")
    }
    run(s"deferred(pct=${StreamErasure.BloomRebuildShrinkPct})",
      StreamErasure.BloomRebuildShrinkPct)
    run("eager(pct=0)", 0)
    spark.stop()
  }
}

package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Curation.qualityDrift]] — the PSI-style gate monitor (q157). Pins
  * the tie-stable corpus-decile binning, the bin-0 clamp for batch
  * values below every corpus value, the zero-filled bin enumeration,
  * partitioning immunity, and row-for-row equality with the pre-fold
  * [[QualityDriftReference]] on seeded random frames. */
class QualityDriftSpec extends SparkSpec {
  import spark.implicits._

  private def q(rows: Seq[(Long, Long)]) = rows.toDF("doc_id", "quality")

  test("uniform corpus deciles: 10 equal bins, batch occupancy exact") {
    // corpus: doc_ids 0..99 excluding %10==7, quality = doc_id → ~10 per bin
    // batch: %10==7 docs with quality pushed to the extremes
    val rows = (0L until 100L).map { id =>
      if (id % 10 == 7) (id, if (id < 50) -5L else 900L) // below-all → bin 0; above-all → bin 9
      else (id, id)
    }
    val out = Curation.qualityDrift(q(rows), pmod(col("doc_id"), lit(10)) === 7)
      .select("bin", "corpus_n", "batch_n").as[(Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(out.map(_._1) == (0L until 10L))
    assert(out.map(_._2).sum == 90L && out.map(_._3).sum == 10L)
    // corpus deciles of 90 values → 9 per bin
    assert(out.forall(_._2 == 9L))
    // batch: 5 docs at -5 (clamp to bin 0), 5 at 900 (above all → bin 9)
    assert(out.head._3 == 5L && out.last._3 == 5L)
    assert(out.slice(1, 9).forall(_._3 == 0L))
  }

  test("ties never straddle a bin: equal values land in one bin") {
    // 30 corpus docs with only three distinct values
    val rows = (0L until 30L).filter(_ % 10 != 7).map(id => (id, (id % 3) * 100L)) ++
      Seq((7L, 100L), (17L, 200L), (27L, 0L))
    val out = Curation.qualityDrift(q(rows), pmod(col("doc_id"), lit(10)) === 7)
    val withVals = out.select("bin", "bin_min_quality", "corpus_n", "batch_n")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // three distinct corpus values → exactly three occupied bins, the
    // rest report bin_min_quality = -1 and zeros
    val occupied = withVals.filter(_._3 > 0)
    assert(occupied.size == 3)
    assert(withVals.filter(_._3 == 0).forall(r => r._2 == -1L && r._4 == 0L))
    // every batch doc shares a value with a corpus value → same bin
    occupied.foreach { case (_, binMin, _, bn) => assert(bn == 1L, s"bin_min=$binMin") }
  }

  test("ppm columns: corpus side ~100000 per decile, drift is the abs gap") {
    val rows = (0L until 100L).map { id =>
      if (id % 10 == 7) (id, 95L) else (id, id) // all batch docs in the top bin
    }
    val out = Curation.qualityDrift(q(rows), pmod(col("doc_id"), lit(10)) === 7)
      .select("bin", "corpus_ppm", "batch_ppm", "drift_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out.forall { case (_, c, b, d) => d == math.abs(c - b) })
    assert(out.last._3 == 1000000L) // every batch doc in bin 9
  }

  test("partitioning-immune and drift is zero when batch ≡ corpus distribution") {
    val rows = (0L until 200L).map(id => (id, id % 40))
    val df = q(rows)
    val a = Curation.qualityDrift(df, pmod(col("doc_id"), lit(10)) === 7).collect().toSeq
    val b = Curation.qualityDrift(df.repartition(13), pmod(col("doc_id"), lit(10)) === 7)
      .collect().toSeq
    assert(a == b)
  }

  /** Both implementations' rows, in bin order. */
  private def both(df: org.apache.spark.sql.DataFrame, isBatch: org.apache.spark.sql.Column,
                   nBins: Int) = {
    val fold = Curation.qualityDrift(df, isBatch, nBins)
    val ref = QualityDriftReference(df, isBatch, nBins)
    assert(fold.schema == ref.schema)
    (fold.collect().toSeq, ref.collect().toSeq)
  }

  test("a batch-only value just above a corpus bin edge takes the bin of the value below it") {
    // corpus 1 (×1) and 3 (×9): bins 0 and 1. The batch value 2 has one
    // corpus doc strictly below it, which `below`-based binning would
    // put in bin 1; the largest corpus value at or below 2 is 1, bin 0.
    val rows = Seq((0L, 1L)) ++ (1L to 9L).map(i => (i * 10, 3L)) ++ Seq((7L, 2L))
    val (fold, ref) = both(q(rows), col("doc_id") === 7, 10)
    assert(fold == ref)
    val byBin = fold.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byBin(0L) == ((1L, 1L, 1L)))
    assert(byBin(1L) == ((3L, 9L, 0L)))
  }

  test("an empty corpus side: every batch doc in bin 0, no bin has an edge") {
    val rows = (0L until 12L).map(i => (i * 10 + 7, i % 5 - 2))
    val (fold, ref) = both(q(rows), pmod(col("doc_id"), lit(10)) === 7, 10)
    assert(fold == ref)
    assert(fold.map(_.getLong(1)).forall(_ == -1L))
    assert(fold.map(_.getLong(2)).forall(_ == 0L))
    assert(fold.map(_.getLong(3)) == 12L +: Seq.fill(9)(0L))
    assert(fold.head.getLong(5) == 1000000L)
  }

  test("an empty input: every bin reports -1 and zeros") {
    val (fold, ref) = both(q(Nil), col("doc_id") === 7, 10)
    assert(fold == ref)
    assert(fold.map(r => (0 until r.length).map(r.getLong)) ==
      (0L until 10L).map(b => Seq(b, -1L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("equals the reference on seeded random frames") {
    // 0-60 rows, value ranges 1-40 wide (negatives included), batch
    // share 0-100 %, 1-12 bins, random partitioning
    val rnd = new scala.util.Random(157)
    (1 to 40).foreach { c =>
      val n = rnd.nextInt(61)
      val width = 1 + rnd.nextInt(40)
      val lo = rnd.nextInt(41) - 20
      val batchPct = rnd.nextInt(101)
      val nBins = 1 + rnd.nextInt(12)
      val rows = (0 until n).map(i =>
        (i.toLong, (lo + rnd.nextInt(width)).toLong, if (rnd.nextInt(100) < batchPct) 1 else 0))
      val df = rows.toDF("doc_id", "quality", "b").repartition(1 + rnd.nextInt(7))
      val (fold, ref) = both(df, col("b") === 1, nBins)
      assert(fold == ref, s"case $c: n=$n width=$width lo=$lo batch=$batchPct% bins=$nBins")
    }
  }
}

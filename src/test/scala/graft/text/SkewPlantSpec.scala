package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-skew stress for the substring-scrub dup-marking join: the
  * sf corpora are hash-uniform, so nothing in the registry ever
  * actually EXERCISES the hot-gram salting q139 audits and q122
  * carries — this fixture plants the pathological case (a block of
  * byte-identical boilerplate documents, the C4 failure mode) above
  * the [[SegmentDedup.HotGramOccurrences]] threshold and pins:
  *  1. result equality — salted dup marking ≡ the unsalted join,
  *     row-for-row, on the planted corpus;
  *  2. the audit fires — every boilerplate gram is detected hot with
  *     ceil(cnt / HotGramOccurrences) salt buckets;
  *  3. placement balance — under the salted assignment no (gram,
  *     bucket) task group exceeds its fair share, while the unsalted
  *     control necessarily puts ALL occurrences of a hot gram in one
  *     group (the straggler/OOM that kills the join at 100 TB).
  * Wall-clock numbers for the same comparison at stress scale come
  * from [[graft.gates.SkewStress]], run with
  * `sbt "Test/runMain graft.gates.SkewStress"` (BASELINE.md §planted-skew). */
class SkewPlantSpec extends SparkSpec {
  import spark.implicits._

  private val L = 8
  // 9 tokens → 2 grams per doc; 1200 identical docs → cnt 1200 > 1024
  private val boiler = "terms of service apply to all content herein forever"
  private val nPlant = 1200

  private def docs = {
    val planted = (1 to nPlant).map(i => (i.toLong, boiler))
    val background = (1 to 300).map(i =>
      (2000L + i, s"unique background document number $i carries its own words b$i c$i d$i"))
    (planted ++ background).toDF("doc_id", "text")
  }

  private def grams = SegmentDedup.gramOccurrences(docs, L)

  private def unsaltedControl(g: org.apache.spark.sql.DataFrame) = {
    val keeper = g.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("h"), col("k.doc_id").as("kd"), col("k.pos").as("kp"))
    g.join(keeper, Seq("h"))
      .where(!(col("doc_id") === col("kd") && col("pos") === col("kp")))
      .select(col("doc_id"), col("pos"))
  }

  test("salted dup marking equals the unsalted control on the planted corpus") {
    val g = grams.persist()
    try {
      val salted = rowsOf(SegmentDedup.dupOccurrences(g))
      val control = rowsOf(unsaltedControl(g))
      assert(salted == control)
      // non-vacuous: every planted doc after the first is fully dup-marked
      assert(salted.size >= (nPlant - 1) * 2)
    } finally g.unpersist()
  }

  test("the hot-gram audit fires on the boilerplate with proportional buckets") {
    val freq = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    val hotN = SegmentDedup.HotGramOccurrences
    val hot = freq.where(col("cnt") > hotN).collect()
    assert(hot.length == 2, s"expected the 2 boilerplate grams hot, got ${hot.length}")
    hot.foreach { r =>
      val cnt = r.getAs[Long]("cnt")
      assert(cnt == nPlant.toLong)
      val buckets = math.min(64L, (cnt + hotN - 1) / hotN)
      assert(buckets == 2L) // ceil(1200/1024)
    }
  }

  test("salted placement bounds the per-task group; unsalted does not") {
    val g = grams.persist()
    try {
      val hotN = SegmentDedup.HotGramOccurrences
      val hotKeys = g.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > hotN).select(col("h"))
      val hotRows = g.join(hotKeys, Seq("h"))
      // the EXACT salt formula of SkewJoin.saltedAudited: xxhash64 over
      // the big side's full row, mod the audited bucket count (2 here)
      val placed = hotRows
        .withColumn("salt",
          pmod(xxhash64(col("doc_id"), col("pos"), col("h")), lit(2)).cast("int"))
        .groupBy(col("h"), col("salt")).agg(count(lit(1)).as("rows"))
        .collect()
      // both buckets of each hot gram are populated, and no bucket
      // holds more than ~fair share (cnt/buckets × 1.25 slack) — the
      // unsalted group is cnt by construction
      assert(placed.length == 4, s"expected 2 grams × 2 buckets, got ${placed.length}")
      placed.foreach { r =>
        val n = r.getAs[Long]("rows")
        assert(n > 0 && n <= (nPlant / 2 * 1.25).toLong,
          s"bucket holds $n of $nPlant rows — salting did not spread the hot gram")
      }
    } finally g.unpersist()
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ForwardFillSpec extends SparkSpec {
  import spark.implicits._

  test("property: fill equals an in-memory last-observation reference on random inputs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val snapGen = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        e <- Gen.oneOf("a", "b", "c")
        day <- Gen.choose(1, 15)
        v <- Gen.choose(1, 99)
        tb <- Gen.choose(1, 5)
      } yield (e, day, v.toDouble, tb))
    } yield rows.distinctBy(r => (r._1, r._2, r._4)) // unique tiebreak per (entity, day)
    val prop = Prop.forAllNoShrink(snapGen) { rows =>
      val days = (1 to 15).map(d => f"2020-01-$d%02d")
      val snaps = rows.map { case (e, d, v, tb) => (e, f"2020-01-$d%02d", v, tb) }
        .toDF("entity", "snap_date", "value", "tiebreak")
        .withColumn("snap_date", col("snap_date").cast("date"))
      val daysDf = days.toDF("datum").withColumn("datum", col("datum").cast("date"))
      val got = ForwardFill.fill(snaps, daysDf)
        .select(col("entity"), col("datum").cast("string"), col("value"))
        .as[(String, String, Double)].collect().toSet
      // reference: per (entity, day) winner = max tiebreak; carry forward
      val winner = rows.groupBy(r => (r._1, r._2)).view
        .mapValues(_.maxBy(_._4)._3).toMap
      val expect = (for {
        e <- rows.map(_._1).distinct
        (day, i) <- days.zipWithIndex
        lastKnown = (1 to i + 1).reverse.collectFirst {
          case d if winner.contains((e, d)) => winner((e, d))
        }
        v <- lastKnown
      } yield (e, day, v)).toSet
      got == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("fill carries last-known value forward across missing days") {
    val snaps = Seq(
      ("p1", "2019-01-01", 100.0, 1),
      ("p1", "2019-01-03", 50.0, 1),
      ("p2", "2019-01-02", 7.0, 1))
      .toDF("entity", "snap_date", "value", "tiebreak")
      .withColumn("snap_date", col("snap_date").cast("date"))

    val days = Seq("2019-01-01", "2019-01-02", "2019-01-03", "2019-01-04")
      .toDF("datum").withColumn("datum", col("datum").cast("date"))

    val out = ForwardFill.fill(snaps, days)
      .select(col("entity"), col("datum").cast("string"), col("value").cast("string"))

    assertSameRows(out, Seq(
      Seq("p1", "2019-01-01", "100.0"),
      Seq("p1", "2019-01-02", "100.0"), // carried
      Seq("p1", "2019-01-03", "50.0"),
      Seq("p1", "2019-01-04", "50.0"),  // carried
      // p2 contributes nothing before its first snapshot (SURVEY.md §7.4.1)
      Seq("p2", "2019-01-02", "7.0"),
      Seq("p2", "2019-01-03", "7.0"),
      Seq("p2", "2019-01-04", "7.0")))
  }

  test("within-day duplicates resolve to the latest by tiebreak") {
    val snaps = Seq(
      ("p1", "2019-01-01", 1.0, 1),
      ("p1", "2019-01-01", 2.0, 2)) // higher tiebreak wins
      .toDF("entity", "snap_date", "value", "tiebreak")
      .withColumn("snap_date", col("snap_date").cast("date"))
    val days = Seq("2019-01-01").toDF("datum").withColumn("datum", col("datum").cast("date"))
    val out = ForwardFill.fill(snaps, days)
    assert(out.head().getDouble(2) == 2.0)
  }

  test("a NULL tiebreak ranks lowest but keeps its slot, on the single and the struct path") {
    val snaps = Seq[(String, String, Double, Option[Int])](
      ("p1", "2019-01-01", 1.0, None),    // alone in its slot: kept
      ("p2", "2019-01-01", 2.0, None),    // loses to the non-null tiebreak
      ("p2", "2019-01-01", 3.0, Some(1)),
      ("p3", "2019-01-02", 4.0, Some(1)))
      .toDF("entity", "snap_date", "value", "tiebreak")
      .withColumn("snap_date", col("snap_date").cast("date"))
      .withColumn("tb2", lit(0))
    val days = Seq("2019-01-01", "2019-01-02").toDF("datum")
      .withColumn("datum", col("datum").cast("date"))
    val expected = Seq(
      Seq("p1", "2019-01-01", "1.0"), Seq("p1", "2019-01-02", "1.0"),
      Seq("p2", "2019-01-01", "3.0"), Seq("p2", "2019-01-02", "3.0"),
      Seq("p3", "2019-01-02", "4.0"))
    for (tbs <- Seq(Seq("tiebreak"), Seq("tiebreak", "tb2")))
      assertSameRows(ForwardFill.fill(snaps, days, tbs)
        .select(col("entity"), col("datum").cast("string"), col("value").cast("string")),
        expected)
  }
}

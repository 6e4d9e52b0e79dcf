package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify's dump names every failed query instead of hiding it on stderr. */
class VerifySpec extends SparkSpec {

  test("a throwing query lands in errors.json and the summary; the others still dump") {
    val out = Files.createTempDirectory("graft-verify-spec").toString
    val planted: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "planted_ok" -> ((s, _) => s.range(3).toDF("id")),
      "planted_throw" -> ((_, _) => throw new IllegalStateException("planted \"failure\"\nline 2")))
    val errors = Verify.dump(spark, "/nonexistent", out, planted)
    assert(errors == Map("planted_throw" -> "planted \"failure\"\nline 2"))
    val json = Files.readString(Paths.get(s"$out/errors.json"))
    assert(json == "{" + Json.quote("planted_throw") + ": " +
      Json.quote("planted \"failure\"\nline 2") + "}")
    assert(spark.read.parquet(s"$out/planted_ok").count() == 3)
    assert(!Files.exists(Paths.get(s"$out/planted_throw")))
    assert(Verify.summary(planted.size, errors) ==
      "[verify] 1/2 queries dumped, 1 failed: planted_throw (messages in errors.json)")
  }

  test("a clean dump writes an empty errors.json") {
    val out = Files.createTempDirectory("graft-verify-spec").toString
    val errors = Verify.dump(spark, "/nonexistent", out,
      Seq("planted_ok" -> ((s: SparkSession, _: String) => s.range(1).toDF("id"))))
    assert(errors.isEmpty)
    assert(Files.readString(Paths.get(s"$out/errors.json")) == "{}")
    assert(Verify.summary(1, errors) == "[verify] 1/1 queries dumped, 0 failed")
  }

  test("the summary line stays bounded however many queries fail, with whatever message") {
    val errors = (1 to 168).map(i => ("q" * 200 + i) -> ("m" * 10000)).toMap
    val line = Verify.summary(168, errors)
    assert(line.length <= 450, s"${line.length} chars")
    assert(!line.contains("\n"))
    assert(line.endsWith(s"and ${168 - Verify.SummaryNames} more (messages in errors.json)"))
  }
}

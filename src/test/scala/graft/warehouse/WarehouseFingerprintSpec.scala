package graft.warehouse

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SparkSpec

/** Per-artifact recipe stamps (r15): a build-semantics change re-lands
  * exactly the changed artifact and its transitive dependents — never
  * the whole warehouse (r14's CacheVersion bump re-built all ~40
  * artifacts, 46 s at sf0.1, when 3 had changed). These specs pin the
  * propagation law on the pure stamp function and the re-land scoping
  * end-to-end on a real (tiny) cache dir. */
class WarehouseFingerprintSpec extends SparkSpec {

  private val names = Warehouse.artifactNames(spark, "/root/testdata/sf0.001")

  /** The build-graph edges, read from the declarations. */
  private val inputs = Warehouse.registry.map(a => a.name -> a.inputs).toMap

  private def stamps(bumps: Map[String, Int] = Map.empty): Map[String, String] =
    Warehouse.artifactStamps(n => bumps.getOrElse(n, 1), inputs, names)

  test("a build reading an undeclared input throws, naming both artifacts") {
    val decl = Warehouse.registry.find(_.name == "margin_denoms").get
    val e = intercept[IllegalArgumentException](
      new Warehouse.Build(spark, "unused-sf", "unused-dir", decl).in("ivf_codebook"))
    assert(e.getMessage.contains("margin_denoms") && e.getMessage.contains("ivf_codebook"))
  }

  test("a declaration whose input is declared after it fails the registry build") {
    def art(name: String, in: String*) =
      Warehouse.Artifact(name, None, "id BIGINT", in)(_ => spark.emptyDataFrame)
    assert(Warehouse.declare(art("a"), art("b", "a")).map(_.name) === Seq("a", "b"))
    val e = intercept[IllegalArgumentException](Warehouse.declare(art("b", "a"), art("a")))
    assert(e.getMessage.contains("'b' reads a,"))
  }

  test("a bump re-stamps the artifact and exactly its transitive dependents") {
    val base = stamps()
    val bumped = stamps(Map("exact_reps" -> 2))
    val changed = names.filter(n => base(n) != bumped(n)).toSet
    // the exact_reps cone: banding/pairs/clusters + the survivor pool
    assert(changed === Set("exact_reps", "band_signatures", "neardup_pairs",
      "neardup_clusters", "release_survivors"))
  }

  test("the selector cone: an ivf_assign bump re-stamps only its consumers") {
    val base = stamps()
    val bumped = stamps(Map("ivf_assign" -> 2))
    val changed = names.filter(n => base(n) != bumped(n)).toSet
    assert(changed === Set("ivf_assign", "margin_denoms", "ann_ivf_topk"))
  }

  test("stamps are deterministic and name-sensitive") {
    assert(stamps() === stamps())
    val s = stamps()
    assert(s.values.toSet.size === s.size,
      "distinct artifacts must get distinct stamps (name feeds the hash)")
  }

  private def copyCorpus(dst: Path): Unit =
    Seq("events.parquet", "part.parquet").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t"), dst.resolve(t),
        StandardCopyOption.REPLACE_EXISTING)
    }

  test("end-to-end: a vbump re-lands only the bumped artifact's cone") {
    val sfDir = Files.createTempDirectory("whfp-sf")
    val cacheRoot = Files.createTempDirectory("whfp-root")
    copyCorpus(sfDir)
    System.setProperty("graft.wh.cache", cacheRoot.toString)
    try {
      Warehouse.invalidateResolved()
      val dir = Warehouse.ensureMaterialized(spark, sfDir.toString)
      def mtime(n: String) = Files.getLastModifiedTime(Paths.get(dir, n, "_SUCCESS"))
      val before = Seq("dim_orders", "fact_orders", "ivf_codebook").map(n => n -> mtime(n)).toMap

      // simulate a dim_orders recipe change: bump its version
      System.setProperty("graft.wh.vbump", "dim_orders:2")
      Warehouse.invalidateResolved()
      val dir2 = Warehouse.ensureMaterialized(spark, sfDir.toString)
      assert(dir2 == dir, "recipe bumps must NOT re-key the cache dir")
      assert(mtime("dim_orders") != before("dim_orders"), "bumped artifact must re-land")
      assert(mtime("fact_orders") == before("fact_orders"),
        "artifacts outside the cone must not rebuild")
      assert(mtime("ivf_codebook") == before("ivf_codebook"),
        "artifacts outside the cone must not rebuild")

      // same bump again: stamp now matches, nothing re-lands
      val t1 = mtime("dim_orders")
      Warehouse.invalidateResolved()
      Warehouse.ensureMaterialized(spark, sfDir.toString)
      assert(mtime("dim_orders") == t1, "an already-landed stamp must be a no-op")

      // a typo or a malformed entry throws instead of re-landing nothing
      Seq("dim_orderz:2", "dim_orders").foreach { bump =>
        System.setProperty("graft.wh.vbump", bump)
        Warehouse.invalidateResolved()
        val e = intercept[IllegalArgumentException](
          Warehouse.ensureMaterialized(spark, sfDir.toString))
        assert(e.getMessage.contains(bump.takeWhile(_ != ':')))
      }
    } finally {
      System.clearProperty("graft.wh.cache")
      System.clearProperty("graft.wh.vbump")
      Warehouse.invalidateResolved()
    }
  }
}

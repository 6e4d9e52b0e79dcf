package graft.warehouse

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The materialized-warehouse cache is the round-3 machinery most able
  * to fail SILENTLY: a stale cache feeds old results to every analytic
  * query while the merges themselves stay green. These specs pin the
  * two invalidation paths (input fingerprint; idempotent re-entry). */
class WarehouseCacheSpec extends SparkSpec {

  private def copyCorpus(dst: Path): Unit =
    Seq("events.parquet", "part.parquet").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t"), dst.resolve(t),
        StandardCopyOption.REPLACE_EXISTING)
    }

  test("ensureMaterialized is idempotent and keyed by input fingerprint") {
    val sfDir = Files.createTempDirectory("whcache-sf")
    val cacheRoot = Files.createTempDirectory("whcache-root")
    copyCorpus(sfDir)
    System.setProperty("graft.wh.cache", cacheRoot.toString)
    try {
      Warehouse.invalidateResolved()
      val dir1 = Warehouse.ensureMaterialized(spark, sfDir.toString)
      val rows1 = Warehouse.read(spark, sfDir.toString, "dim_orders").count()
      assert(rows1 > 0)
      // second touch: same dir, no rebuild (marker mtime unchanged)
      val marker = Paths.get(dir1, "dim_orders", "_SUCCESS")
      val mtime1 = Files.getLastModifiedTime(marker)
      Warehouse.invalidateResolved()
      val dir2 = Warehouse.ensureMaterialized(spark, sfDir.toString)
      assert(dir2 == dir1, "unchanged inputs must resolve to the same cache dir")
      assert(Files.getLastModifiedTime(marker) == mtime1, "unchanged inputs must not rebuild")

      // regenerate the corpus in place: fingerprint must move the cache
      // dir (stale results would otherwise be served for the new data)
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      val tmpOut = Files.createTempDirectory("whcache-newev")
      ev.limit(50).coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
      val newFile = Files.list(tmpOut).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.copy(newFile, sfDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Warehouse.invalidateResolved()
      val dir3 = Warehouse.ensureMaterialized(spark, sfDir.toString)
      assert(dir3 != dir1, "changed inputs must re-key the cache")
      val rows3 = Warehouse.read(spark, sfDir.toString, "dim_orders").count()
      assert(rows3 > 0 && rows3 != rows1, "rebuilt dim must reflect the new corpus")

      // without documents/embeddings their artifacts land from the
      // declared empty shape, which must match the full build's schema
      System.clearProperty("graft.wh.cache")
      Warehouse.invalidateResolved()
      val full = Warehouse.ensureMaterialized(spark, "/root/testdata/sf0.001")
      def shape(dir: String, n: String) = spark.read.parquet(s"$dir/$n").schema
        .map(f => s"${f.name} ${f.dataType.catalogString}")
      Warehouse.registry.foreach { a =>
        val want = shape(full, a.name)
        assert(shape(dir3, a.name) === want, s"${a.name} landed empty with a different shape")
        assert(org.apache.spark.sql.types.StructType.fromDDL(a.empty)
          .map(f => s"${f.name} ${f.dataType.catalogString}") === want,
          s"${a.name} declares a different empty shape")
      }
    } finally {
      System.clearProperty("graft.wh.cache")
      Warehouse.invalidateResolved()
    }
  }

  test("a broken events source fails ONLY events-derived tables (per-table isolation)") {
    // r7 regression shape: corpus regeneration re-typed events.ts and the
    // whole warehouse (ivf/pq/bpe/neardup included) died on one memoized
    // failure. Fixture: corpus with documents+embeddings intact but an
    // events.parquet whose schema has NO ts column at all — the loader's
    // dtype dispatch can't save that, so events-derived builds must fail.
    val sfDir = Files.createTempDirectory("whiso-sf")
    val cacheRoot = Files.createTempDirectory("whiso-root")
    Seq("part.parquet", "documents.parquet", "embeddings.parquet").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t"), sfDir.resolve(t),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val tmpOut = Files.createTempDirectory("whiso-badev")
    spark.range(10).selectExpr("id AS event_id", "id AS user_id")
      .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val badFile = Files.list(tmpOut).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(badFile, sfDir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    System.setProperty("graft.wh.cache", cacheRoot.toString)
    try {
      Warehouse.invalidateResolved()
      // events-derived readers fail loudly, naming their table
      val e = intercept[IllegalStateException](
        Warehouse.read(spark, sfDir.toString, "dim_orders").count())
      assert(e.getMessage.contains("dim_orders"))
      intercept[IllegalStateException](Warehouse.read(spark, sfDir.toString, "fact_orders").count())
      // ...while unrelated corpus state still lands and reads green
      assert(Warehouse.read(spark, sfDir.toString, "neardup_pairs").columns.contains("doc_a"))
      assert(Warehouse.read(spark, sfDir.toString, "neardup_clusters").count() > 0)
      assert(Warehouse.read(spark, sfDir.toString, "ivf_assign").count() > 0)
      assert(Warehouse.read(spark, sfDir.toString, "pq_codes").count() > 0)
      assert(Warehouse.bpeMerges(spark, sfDir.toString).nonEmpty)
      assert(Warehouse.read(spark, sfDir.toString, "dim_products").count() > 0)
    } finally {
      System.clearProperty("graft.wh.cache")
      Warehouse.invalidateResolved()
    }
  }

  test("graft.wh.skip excludes named artifacts; readers fail loudly; unknown names throw") {
    // the sf10-gate posture: quadratic eval-truth tables are deliberately
    // not built at stress scale — skipped artifacts must never land, their
    // readers must fail LOUDLY (not serve empties), and a typo in the skip
    // list must throw rather than silently building the quadratic table
    val sfDir = Files.createTempDirectory("whskip-sf")
    val cacheRoot = Files.createTempDirectory("whskip-root")
    Seq("documents.parquet", "embeddings.parquet").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t"), sfDir.resolve(t),
        StandardCopyOption.REPLACE_EXISTING)
    }
    System.setProperty("graft.wh.cache", cacheRoot.toString)
    System.setProperty("graft.wh.skip",
      "knn_exact,knn_global_sampled,ann_lsh_topk,ann_ivf_topk")
    try {
      Warehouse.invalidateResolved()
      val dir = Warehouse.ensureMaterialized(spark, sfDir.toString)
      assert(!Files.exists(Paths.get(dir, "knn_exact")), "skipped artifact must not land")
      assert(Files.exists(Paths.get(dir, "ivf_assign", "_SUCCESS")),
        "non-skipped artifacts still land")
      // reader of a skipped artifact fails loudly, naming it and the skip
      val e = intercept[IllegalStateException](Warehouse.read(spark, sfDir.toString, "knn_exact"))
      assert(e.getMessage.contains("knn_exact") && e.getMessage.contains("graft.wh.skip"))
      // non-skipped readers unaffected
      assert(Warehouse.read(spark, sfDir.toString, "ivf_codebook").count() > 0)
      // dropping the skip builds the artifact into the SAME cache dir
      System.clearProperty("graft.wh.skip")
      Warehouse.invalidateResolved()
      assert(Warehouse.ensureMaterialized(spark, sfDir.toString) == dir)
      assert(Warehouse.read(spark, sfDir.toString, "knn_exact").count() > 0)
      // a typo throws instead of silently building everything
      System.setProperty("graft.wh.skip", "knn_exactt")
      Warehouse.invalidateResolved()
      intercept[IllegalArgumentException](
        Warehouse.ensureMaterialized(spark, sfDir.toString))
    } finally {
      System.clearProperty("graft.wh.cache")
      System.clearProperty("graft.wh.skip")
      Warehouse.invalidateResolved()
    }
  }

  test("a read lands only its artifact's cone; ensureMaterialized lands the rest") {
    val sfDir = "/root/testdata/sf0.001"
    val cacheRoot = Files.createTempDirectory("whcone-root")
    def names(dir: Path) = Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet
    System.setProperty("graft.wh.cache", cacheRoot.toString)
    try {
      Warehouse.invalidateResolved()
      assert(Warehouse.read(spark, sfDir, "bm25_doclens").count() > 0)
      val Seq(dir) = Files.list(cacheRoot).iterator.asScala.toSeq
      assert(names(dir) == Set("bm25_postings", "bm25_doclens"))
      val postings = Files.getLastModifiedTime(dir.resolve("bm25_postings/_SUCCESS"))
      assert(Warehouse.ensureMaterialized(spark, sfDir) == dir.toString)
      val all = Warehouse.registry.map(_.name)
      assert(names(dir).filterNot(_.endsWith("_b1")) == all.toSet)
      assert(all.forall(n => Files.exists(dir.resolve(s"$n/_GRAFT_V"))))
      assert(Files.getLastModifiedTime(dir.resolve("bm25_postings/_SUCCESS")) == postings,
        "the cone's artifacts must not rebuild")
    } finally {
      System.clearProperty("graft.wh.cache")
      Warehouse.invalidateResolved()
    }
  }

  test("materialized dims equal a direct build of the merge chain") {
    val sfDir = "/root/testdata/sf0.001"
    val direct = rowsOf(Warehouse.buildDimParts(spark, sfDir)
      .select(col("id"), col("category"), col("price"), col("start_time"), col("end_time")))
    val cached = rowsOf(Warehouse.read(spark, sfDir, "dim_products")
      .select(col("id"), col("category"), col("price"), col("start_time"), col("end_time")))
    assert(cached == direct)
  }
}

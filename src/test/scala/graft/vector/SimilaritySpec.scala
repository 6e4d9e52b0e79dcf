package graft.vector

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("brute-force knn returns k ranked neighbors with valid cosines") {
    val out = Similarity.knnBruteForce(embeddings, k = 3).cache()
    val n = embeddings.count()
    assert(out.count() == n * 3)
    assert(out.where(col("cosine") > 1.0 || col("cosine") < -1.0).count() == 0)
    // rank 1 cosine >= rank 3 cosine for every query
    val bad = out.groupBy("qid")
      .agg(min(when(col("rank") === 1, col("cosine"))).as("c1"),
           max(when(col("rank") === 3, col("cosine"))).as("c3"))
      .where(col("c1") < col("c3")).count()
    assert(bad == 0)
    out.unpersist()
  }

  test("ann lsh self-consistency: neighbors share the query's bucket and cosines match brute force") {
    val ann = Similarity.annLsh(embeddings, planes = 6, dim = 64, k = 3)
      .select("qid", "nid", "cosine").as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty)
    val bf = Similarity.knnBruteForce(embeddings, k = 3)
    // ANN is blocked by bucket, BF by label — where a pair appears in both,
    // the cosine must be identical (same fold, same doubles).
    val bfMap = bf.select("qid", "nid", "cosine").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    ann.foreach { case (q, n, c) =>
      bfMap.get((q, n)).foreach(cbf => assert(cbf == c, s"cosine mismatch for ($q,$n)"))
    }
  }

  test("sampled global kNN equals forced-global brute force on the sampled qids") {
    val sampled = Similarity.knnGlobalSampled(embeddings, sampleMod = 10, k = 3)
      .select("qid", "rank", "nid").as[(Long, Long, Long)].collect().toSet
    assert(sampled.nonEmpty, "mod-10 sample produced no queries")
    val sampledQids = sampled.map(_._1)
    // ground truth: brute force with the label block forced global
    val global = Similarity.knnBruteForce(
        embeddings.withColumn("g", lit(0)), k = 3, blockCol = "g")
      .select("qid", "rank", "nid").as[(Long, Long, Long)].collect()
      .filter(r => sampledQids.contains(r._1)).toSet
    assert(sampled == global,
      s"sampled-global kNN diverged from global brute force")
  }

  test("cell-blocked near-dup == global threshold pairs restricted to shared cells") {
    val cents = Similarity.trainIvfCentroids(embeddings, ncells = 8, iters = 2)
    val cb = Similarity.codebookDf(spark, cents)
    val assign = Similarity.cellAssignments(embeddings, cb)
    val got = Similarity.cosineNearDupInCells(embeddings, assign, threshold = 0.2)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(got.nonEmpty, "threshold 0.2 should admit some in-cell pairs")
    // truth: forced-global pairs, filtered to pairs sharing an rn=1 cell
    val cellOf = assign.where(col("rn") === 1).select("vec_id", "cell")
      .as[(Long, Long)].collect().toMap
    val global = Similarity.cosineNearDup(
        embeddings.withColumn("g", lit(0)), threshold = 0.2, blockCol = "g")
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => cellOf(a) == cellOf(b) }.toSet
    assert(got == global)
    // and the blocking API refuses an unblocked corpus
    val err = intercept[IllegalArgumentException] {
      Similarity.cosineNearDup(embeddings.drop("label"))
    }
    assert(err.getMessage.contains("blocking column"))
  }

  test("two-level assignment: exact when every super is probed; near-exact at partial probe") {
    val cents = Similarity.trainIvfCentroids(embeddings, ncells = 16, iters = 2)
    val cb = Similarity.codebookDf(spark, cents)
    val (supers, m) = Similarity.trainSuperCells(
      Similarity.collectCodebook(cb).toSeq)
    val (sc, mp) = Similarity.superCellTables(spark, supers, m)
    assert(supers.length == 4 && m.size == 16) // √16 supers, total map
    val flat = Similarity.cellAssignments(embeddings, cb)
      .where(col("rn") === 1).select("vec_id", "cell")
      .as[(Long, Long)].collect().toMap
    // sprobe = nsuper → every cell is scored → EXACT equality with flat
    val exact = Similarity.cellAssignmentsTwoLevel(embeddings, cb, sc, mp,
        sprobe = supers.length)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(exact == flat, "full-probe two-level diverged from flat assignment")
    // partial probe: complete output (one row per vector), measured
    // agreement stays high — the documented hierarchical-IVF trade
    val partial = Similarity.cellAssignmentsTwoLevel(embeddings, cb, sc, mp,
        sprobe = 2)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(partial.keySet == flat.keySet)
    val agree = partial.count { case (v, c) => flat(v) == c }.toDouble / flat.size
    assert(agree >= 0.8, f"sprobe=2 agreement $agree%.2f below 0.8")
  }

  test("IVF recall vs global brute force rises with multi-probe") {
    val globalTop = Similarity.knnBruteForce(embeddings.withColumn("label", lit(0)), k = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val ann = Similarity.annIvf(embeddings, ncells = 8, k = 3, nprobe = nprobe)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      ann.intersect(globalTop).size.toDouble / globalTop.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1, s"multi-probe must not lower recall: $r1 -> $r2")
    assert(r1 > 0.05, s"single-probe recall implausibly low: $r1")
    info(f"IVF recall@3: nprobe=1 $r1%.3f, nprobe=2 $r2%.3f")
  }

  test("vec_dot matches the interpreted sequential fold bitwise") {
    val e = embeddings.withColumn("v", col("embedding").cast("array<double>"))
    val mismatches = e.select(
      expr("vec_dot(v, v)").as("native"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
        .as("fold"))
      .where(col("native") =!= col("fold")).count()
    assert(mismatches == 0, "native dot must be bit-identical to the fold it replaced")
  }

  test("trained IVF: deterministic k-means, recall beats first-N and clears 0.6 at nprobe=3") {
    val c1 = Similarity.trainIvfCentroids(embeddings, ncells = 8, iters = 3)
    val c2 = Similarity.trainIvfCentroids(embeddings, ncells = 8, iters = 3)
    assert(c1 == c2, "decimal-summed k-means must be bit-deterministic across runs")

    val globalTop = Similarity.knnBruteForce(embeddings.withColumn("label", lit(0)), k = 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val s = df.select("qid", "nid").as[(Long, Long)].collect().toSet
      s.intersect(globalTop).size.toDouble / globalTop.size
    }
    val firstN = recall(Similarity.annIvf(embeddings, ncells = 8, k = 3, nprobe = 2))
    val trained2 = recall(Similarity.annIvfTrained(embeddings, ncells = 8, k = 3, nprobe = 2, iters = 3))
    val trainedDefault = recall(Similarity.annIvfTrained(embeddings))
    info(f"recall@3: firstN@8x2 $firstN%.3f, trained@8x2 $trained2%.3f, trained@16x6 $trainedDefault%.3f")
    assert(trained2 > firstN, s"training must beat first-N centroids: $firstN -> $trained2")
    assert(trainedDefault >= 0.6, s"trained recall at default 16x6 below bar: $trainedDefault")
  }

  test("warehouse codebook path == inline training (same corpus, same params)") {
    val inline = Similarity.annIvfTrained(embeddings)
      .select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    val viaWh = Similarity.annIvfWithCodebook(
      embeddings, graft.warehouse.Warehouse.read(spark, sfDir, "ivf_codebook"))
      .select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    assert(viaWh == inline,
      "pre-trained codebook search must return exactly what inline training returns")
    assert(graft.warehouse.Warehouse.read(spark, sfDir, "ivf_codebook").count() == 16)
  }

  test("assign-reading incremental ANN == corpus-reassigning incremental ANN") {
    // the production path (corpus side joins the landed ivf_assign
    // artifact) must return row-for-row what the self-contained form
    // (which re-assigns the corpus per call) returns — same codebook,
    // same (−ccos, cid) tie-break, so equality is by construction
    val cb = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_codebook")
    val assign = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_assign")
    val batch = embeddings.where(pmod(col("vec_id"), lit(10)) === 7)
    val corpus = embeddings.where(pmod(col("vec_id"), lit(10)) =!= 7)
    val direct = Similarity.annIvfNewAgainstCorpus(batch, corpus, cb)
      .select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    val viaAssign = Similarity.annIvfNewAgainstAssigned(batch, corpus, assign, cb)
      .select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    assert(direct.nonEmpty)
    assert(viaAssign == direct,
      "materialized-assignment search must equal the re-assigning search exactly")
    // full-corpus assign beside a FILTERED corpus side: batch rows drop
    assert(!viaAssign.exists { case (_, _, nid, _) => nid % 10 == 7 },
      "index side must contain only corpus vectors")
  }

  test("two-level incremental ANN == flat incremental ANN at full super probe") {
    // the q77 production path: the batch probe ranks through the
    // super-cell layer. With sprobe = nsuper every cell is a candidate,
    // so the probe set — and therefore the whole search — must equal
    // the flat form row-for-row; at the default SuperProbe the result
    // keys stay complete and overlap stays high (recall trade, measured)
    val cb = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_codebook")
    val assign = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_assign")
    val sc = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_supercells")
    val mp = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_super_map")
    val nsuper = sc.count().toInt
    val batch = embeddings.where(pmod(col("vec_id"), lit(10)) === 7)
    val corpus = embeddings.where(pmod(col("vec_id"), lit(10)) =!= 7)
    val flat = Similarity.annIvfNewAgainstAssigned(batch, corpus, assign, cb)
      .select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    val full = Similarity.annIvfNewAgainstAssignedTwoLevel(
        batch, corpus, assign, cb, sc, mp, sprobe = nsuper)
      .select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    assert(flat.nonEmpty)
    assert(full == flat,
      "full-super-probe two-level search must equal the flat search exactly")
    val dflt = Similarity.annIvfNewAgainstAssignedTwoLevel(
        batch, corpus, assign, cb, sc, mp)
      .select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    // STRUCTURAL guarantee first (r13 ADVICE): every super in the landed
    // map owns >= 1 member cell, so a batch vector's top-sprobe supers
    // always yield a non-empty probe set — the completeness below is
    // then a property of the artifact, not of this fixture's geometry
    // (what remains fixture-dependent is only whether a probed CELL
    // holds any corpus vector at rn = 1).
    val supersWithCells = mp.select("sid").distinct().count()
    assert(supersWithCells == sc.count(),
      "every super-cell must own at least one member cell")
    assert(dflt.map(_._1) == flat.map(_._1), "default probe must still answer every query")
    val overlap = dflt.intersect(flat).size.toDouble / flat.size
    assert(overlap >= 0.8, f"default-sprobe overlap $overlap%.2f below 0.8")
  }

  test("auto selector: flat branch at/below the crossover, two-level branch above it") {
    val cb = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_codebook") // 16 cells
    val assign = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_assign")
    val sc = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_supercells")
    val mp = graft.warehouse.Warehouse.read(spark, sfDir, "ivf_super_map")
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("vec_id", "cell", "rn").as[(Long, Long, Int)].collect().toSet
    // default crossover (128 >= 16 cells) → flat, truncated at probes
    val auto = canon(Similarity.cellRankAuto(embeddings, cb, probes = 8))
    val flat8 = canon(Similarity.cellAssignments(embeddings, cb).where(col("rn") <= 8))
    assert(auto == flat8, "auto below the crossover must equal truncated flat")
    // forced two-level (crossover 8 < 16 cells) → the landed-artifact
    // two-level ranking, and the artifact-free call derives the SAME
    // supers from the codebook (determinism = the no-fork claim)
    val twoArt = canon(Similarity.cellRankAuto(embeddings, cb, probes = 8,
      supercells = Some(sc), superMap = Some(mp), crossover = 8))
    val twoDrv = canon(Similarity.cellRankAuto(embeddings, cb, probes = 8,
      crossover = 8))
    val twoRef = canon(Similarity.cellRankTwoLevel(embeddings, cb, sc, mp, probes = 8))
    assert(twoArt == twoRef, "auto above the crossover must equal two-level ranking")
    assert(twoDrv == twoArt, "derived supers must not fork from the landed artifacts")
    // the search selector follows the same switch
    val batch = embeddings.where(pmod(col("vec_id"), lit(10)) === 7)
    val corpus = embeddings.where(pmod(col("vec_id"), lit(10)) =!= 7)
    def srch(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long, Double)] =
      df.select("qid", "rank", "nid", "cosine").as[(Long, Int, Long, Double)].collect().toSet
    val autoFlat = srch(Similarity.annIvfNewAgainstAssignedAuto(
      batch, corpus, assign, cb, Some(sc), Some(mp)))
    val refFlat = srch(Similarity.annIvfNewAgainstAssigned(batch, corpus, assign, cb))
    assert(autoFlat == refFlat, "auto search below the crossover must be the flat search")
    val autoTwo = srch(Similarity.annIvfNewAgainstAssignedAuto(
      batch, corpus, assign, cb, Some(sc), Some(mp), crossover = 8))
    val refTwo = srch(Similarity.annIvfNewAgainstAssignedTwoLevel(
      batch, corpus, assign, cb, sc, mp))
    assert(autoTwo == refTwo, "auto search above the crossover must be the two-level search")
  }

  test("cap-lift recall study: two-level probe-reachable recall at two SFs") {
    // The evidence trail behind IvfTwoLevelCrossover / SuperProbe (r13
    // verdict ask #8): at each SF, the fraction of true global top-3
    // neighbors whose index cell lies inside the query's top-6 probe
    // set — the recall CEILING the probe rule imposes on any in-cell
    // search — measured for the flat rule and the two-level rule.
    def study(dir: String, ncells: Int = 16): (Double, Double) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cents = Similarity.trainIvfCentroids(emb, ncells = ncells, iters = 2)
      val cb = Similarity.codebookDf(spark, cents)
      val (supers, m) = Similarity.trainSuperCells(Similarity.collectCodebook(cb).toSeq)
      val (sc, mp) = Similarity.superCellTables(spark, supers, m)
      val truth = Similarity.knnBruteForce(emb.withColumn("label", lit(0)), k = 3)
        .select("qid", "nid").as[(Long, Long)].collect()
      val cell1 = Similarity.cellAssignments(emb, cb).where(col("rn") === 1)
        .select("vec_id", "cell").as[(Long, Long)].collect().toMap
      def reach(probe: org.apache.spark.sql.DataFrame): Double = {
        val pc = probe.select("vec_id", "cell").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        truth.count { case (q, n) => pc.getOrElse(q, Set.empty).contains(cell1(n)) }
          .toDouble / truth.length
      }
      val flat = reach(Similarity.cellAssignments(emb, cb).where(col("rn") <= 6))
      val two = reach(Similarity.cellRankTwoLevel(emb, cb, sc, mp, probes = 6))
      (flat, two)
    }
    val (f1, t1) = study("/root/testdata/sf0.001")
    val (f2, t2) = study("/root/testdata/sf0.01")
    // a codebook wide enough that nsuper (8) > SuperProbe (4): the first
    // geometry where the two-level probe can actually lose cells
    val (f3, t3) = study("/root/testdata/sf0.01", ncells = 64)
    info(f"probe-reachable recall@3, 16 cells x 6 probes: sf0.001 flat $f1%.3f " +
      f"two-level $t1%.3f; sf0.01 flat $f2%.3f two-level $t2%.3f; " +
      f"sf0.01 @64 cells flat $f3%.3f two-level $t3%.3f")
    // floors pinned at measurement (r14): sf0.001 flat 0.708 / two-level
    // 0.708, sf0.01 flat 0.713 / two-level 0.713 — at 16 cells the super
    // layer has nsuper = 4 = SuperProbe, so the two-level probe set IS
    // the flat one (exact by construction); divergence only begins when
    // nsuper > sprobe, i.e. above ~21 cells. At 64 cells (nsuper 8 > 4):
    // flat 0.465, two-level 0.417 — a 4.8 pt hierarchical trade at the
    // same nprobe (the flat drop 0.713 → 0.465 is the probe-fraction
    // effect, 6/64 vs 6/16). The band assertions keep an evidence trail
    // for future ncells/sprobe retunes.
    assert(f1 >= 0.65 && f2 >= 0.65, f"flat probe recall fell: $f1%.3f / $f2%.3f")
    assert(t1 >= 0.65 && t2 >= 0.65, f"two-level probe recall fell: $t1%.3f / $t2%.3f")
    assert(t1 >= f1 - 0.10 && t2 >= f2 - 0.10,
      f"two-level trails flat by more than the pinned band: ($f1%.3f,$t1%.3f) ($f2%.3f,$t2%.3f)")
    assert(t3 >= f3 - 0.20,
      f"two-level @64 cells trails flat beyond the pinned band: flat $f3%.3f two-level $t3%.3f")
  }

  test("trained IVF survives inputs thinner than the codebook") {
    // 6 vectors < ncells=16: the 1/4 sample can't even seed one centroid
    // per cell — training must fall back to the full table and a smaller
    // codebook instead of crashing (round-3 review finding).
    val tiny = embeddings.limit(6)
    val out = Similarity.annIvfTrained(tiny, ncells = 16, k = 3, nprobe = 6, iters = 2)
    assert(out.count() > 0, "thin input must still search, not crash")
    val cents = Similarity.trainIvfCentroids(tiny, ncells = 16, iters = 1)
    assert(cents.nonEmpty && cents.length <= 6)
    assert(Similarity.trainIvfCentroids(embeddings.limit(0), ncells = 4, iters = 1).isEmpty)
  }

  test("margin mining: mutual-best, cross-label, canonical orientation") {
    // one shared cell → candidate set is all cross-label pairs; the
    // mined set must be mutually-best by margin, each pair emitted once
    val assign = embeddings.select(col("vec_id"), lit(0L).as("cell"),
      lit(1).as("rn"))
    val mined = Similarity.marginMining(embeddings, assign, k = 3)
      .collect()
    assert(mined.nonEmpty, "a one-cell corpus must mine at least one pair")
    mined.foreach { r =>
      assert(r.getAs[Long]("vec_x") < r.getAs[Long]("vec_y"))
      assert(r.getAs[Int]("label_x") != r.getAs[Int]("label_y"))
      assert(r.getAs[Long]("cos_micro") > 0L)
      assert(r.getAs[Long]("margin_ppm") > 0L)
    }
    // a vector can appear in at most one mined pair (it has ONE best)
    val ids = mined.flatMap(r => Seq(r.getAs[Long]("vec_x"), r.getAs[Long]("vec_y")))
    assert(ids.distinct.length == ids.length, "mutual-best pairs must be disjoint")
  }

  test("margin mining: a planted cross-label near-duplicate is mined with top margin") {
    // two labels, one planted near-identical cross-label pair (0,10),
    // everything else near-orthogonal → (0,10) must be mined
    def v(i: Int): Array[Float] = {
      val a = Array.fill(8)(0.01f); a(i % 8) = 1.0f; a
    }
    val rows = Seq(
      (0L, v(0), 0), (1L, v(1), 0), (2L, v(2), 0), (3L, v(3), 0),
      (10L, v(0), 1), (11L, v(5), 1), (12L, v(6), 1), (13L, v(7), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val assign = emb.select(col("vec_id"), lit(0L).as("cell"), lit(1).as("rn"))
    val mined = Similarity.marginMining(emb, assign, k = 3)
      .select("vec_x", "vec_y").as[(Long, Long)].collect().toSet
    assert(mined.contains((0L, 10L)),
      s"planted duplicate (0,10) not mined; got $mined")
  }

  test("incremental mining with the denominator artifact scores shared pairs exactly like the full miner") {
    // three labels, one cell: the corpus holds labels 0 and 1, the
    // arriving batch label 2 — so a corpus vector's FULL foreign
    // neighborhood (labels 1+2) is strictly richer than what the
    // bipartite candidate set shows it (label 2 only), and the planted
    // near-dup (0, 20) is mutual-best in both runs
    def v(i: Int): Array[Float] = { val a = Array.fill(8)(0.01f); a(i % 8) = 1.0f; a }
    val v10 = { val a = Array.fill(8)(0.01f); a(0) = 1.0f; a(1) = 0.5f; a }
    val rows = Seq(
      (0L, v(0), 0), (1L, v(1), 0), (2L, v(2), 0),
      (10L, v10, 1), (11L, v(4), 1),
      (20L, v(0), 2), (21L, v(5), 2), (22L, v(6), 2))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val assign = emb.select(col("vec_id"), lit(0L).as("cell"), lit(1).as("rn"))
    val denoms = Similarity.marginDenoms(emb, assign, k = 3)
    val full = Similarity.marginMining(emb, assign, k = 3, denoms = Some(denoms))
      .select("vec_x", "vec_y", "cos_micro", "margin_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (x, y, c, m) => (x, y) -> ((c, m)) }.toMap
    val batch = emb.where(col("vec_id") >= 20L)
    val corpus = emb.where(col("vec_id") < 20L)
    val cb = Similarity.codebookDf(spark,
      Similarity.trainIvfCentroids(emb, ncells = 1, iters = 1, sampleMod = 1))
    def mineIncr(dn: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.marginMiningBetween(batch, corpus, assign, cb, k = 3, corpusDenoms = dn)
        .select("vec_new", "vec_corpus", "cos_micro", "margin_ppm")
        .as[(Long, Long, Long, Long)].collect()
        .map { case (n, c, cos, m) => (math.min(n, c), math.max(n, c)) -> ((cos, m)) }
    val withArt = mineIncr(Some(denoms))
    val shared = withArt.filter { case (key, _) => full.contains(key) }
    assert(shared.nonEmpty, s"no shared pairs — vacuous (incr=${withArt.toSeq}, full=$full)")
    assert(shared.map(_._1).toSet.contains((0L, 20L)), "planted pair not shared")
    shared.foreach { case (key, got) =>
      assert(got == full(key), s"$key: artifact-denominator run scored $got, full run ${full(key)}")
    }
    // sharpness: without the artifact the corpus side only sees its
    // bipartite neighborhood, so the planted pair's margin must differ
    val bipOnly = mineIncr(None).toMap
    assert(bipOnly((0L, 20L))._2 != full((0L, 20L))._2,
      "bipartite denominators accidentally equal the full ones — test lost its teeth")
  }

  test("hyperplanes are deterministic and distribute vectors across buckets") {
    val e = embeddings.withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("bucket", Similarity.bucketExpr(6, 64))
    val buckets = e.groupBy("bucket").count()
    assert(buckets.count() > 8, "vectors should spread over many of the 64 buckets")
    // determinism: same input → same buckets on recompute
    val b1 = e.select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val b2 = e.select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b1 == b2)
  }
}

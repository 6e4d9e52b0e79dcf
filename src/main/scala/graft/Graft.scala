package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Library entry point: a SparkSession configured the way graft's
  * operators expect it. Using any other session works too, as long as
  * it registers [[graft.functions.GraftExtensions]] (the native
  * md5_prefix / vec_dot / minhash_sig / simhash32 / winnow_fps
  * functions) and pins the session timezone to UTC (timestamp renders
  * feed hash-compared results).
  *
  * `shufflePartitions` should track the executor-core budget of the
  * deployment — the repo default (32) matches the local[32] harness;
  * a real cluster sets cores and lets AQE coalesce from there.
  *
  * == Session-cache contract ==
  * Operators persist shared intermediates (a candidate table probed by
  * both a denominator aggregate and the scoring join, a bucketed side
  * probed twice, …) and deliberately do NOT unpersist them before
  * returning: the returned DataFrame is lazy and still executes over
  * those intermediates — an eager unpersist inside the builder would
  * defeat the sharing it exists for. The contract is now CODE, not
  * documentation: every such persist goes through [[lease]], so release
  * is one call, not a doc-reading exercise.
  *
  *  - Inside a [[leaseScope]] (every warehouse artifact build), leases
  *    release automatically in `finally` when the scope closes — an
  *    `ensureMaterialized` over 30 artifacts returns with ZERO cached
  *    blocks (spec-pinned by PersistBalanceSpec).
  *  - Outside a scope (a directly-composed operator), leases register
  *    in a session-global set; the caller runs [[releaseLeases]] after
  *    consuming the result. `spark.catalog.clearCache()` still works
  *    (every lease is CacheManager-registered) but clobbers the
  *    consumer's own cached data; releaseLeases touches only graft's.
  *  - [[withCached]] is the scoped form for a caller composing several
  *    operators over shared inputs: persist, run, release in `finally`.
  *
  * All graft entry points — Bench, BenchGuard, Verify, Measure — release
  * between queries. At MEMORY_AND_DISK default storage the worst case of
  * NOT releasing is eviction, never OOM-by-cache.
  *
  * The contract is enforced registry-wide, not per-operator:
  * PersistBalanceSpec's REGISTRY SWEEP runs every `SparkEntry.queries`
  * entry through the Bench/Verify teardown and fails — naming the
  * query — if any retained cached block survives, so a future operator
  * that persists outside the lease discipline cannot land green.
  */
object Graft {

  private val globalLeases = scala.collection.mutable.ListBuffer.empty[() => Unit]
  private val scopeStack = new ThreadLocal[List[scala.collection.mutable.ListBuffer[() => Unit]]] {
    override def initialValue(): List[scala.collection.mutable.ListBuffer[() => Unit]] = Nil
  }

  private def register(release: () => Unit): Unit = scopeStack.get() match {
    case head :: _ => head += release
    case Nil => globalLeases.synchronized { globalLeases += release }
  }

  /** Persist `ds` and REGISTER the acquisition: inside a [[leaseScope]]
    * the innermost scope releases it on close; otherwise it joins the
    * session-global set released by [[releaseLeases]]. Operators use
    * this instead of bare `.persist()` so every acquisition has a
    * matching structural release site. Registration is per-creating-
    * thread (DataFrame CONSTRUCTION is single-threaded even when the
    * consuming action fans out to executor threads). */
  def lease[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    register(() => ds.unpersist(blocking = false))
    ds
  }

  /** Register a custom release action under the same discipline as
    * [[lease]] — for cached state that is NOT a catalog-registered
    * Dataset persist (the RDD behind an eager `localCheckpoint`, a
    * broadcast handle). Runs when the innermost [[leaseScope]] closes,
    * or at [[releaseLeases]]. */
  def leaseAction(release: () => Unit): Unit = register(release)

  /** Run `body`; any [[lease]]/[[leaseAction]] acquired by this thread
    * inside it is released (non-blocking) in `finally`. Use at a
    * boundary where the leased intermediates are provably consumed —
    * e.g. a warehouse artifact build, whose output lands on parquet
    * before the scope closes. Nests: inner scopes release only their
    * own leases. */
  def leaseScope[T](body: => T): T = {
    val buf = scala.collection.mutable.ListBuffer.empty[() => Unit]
    scopeStack.set(buf :: scopeStack.get())
    try body
    finally {
      scopeStack.set(scopeStack.get().tail)
      buf.foreach(r => try r() catch { case _: Throwable => () })
    }
  }

  /** Release every session-global lease (operators run outside any
    * [[leaseScope]]). The library-consumer contract: call after
    * consuming an operator's result in a long-lived session. Returns
    * the number of leases released. */
  def releaseLeases(): Int = globalLeases.synchronized {
    val n = globalLeases.size
    globalLeases.foreach(r => try r() catch { case _: Throwable => () })
    globalLeases.clear()
    n
  }

  /** Persist `dfs` for the duration of `body`, releasing in `finally` —
    * the scoped caller-side form: consume (collect/write) inside `body`;
    * frames returned OUT of it no longer read the cache. */
  def withCached[T](dfs: Dataset[_]*)(body: => T): T = {
    dfs.foreach(_.persist())
    try body
    finally dfs.foreach(d => try d.unpersist(blocking = false) catch { case _: Throwable => () })
  }

  /** `ds.leased` — suffix form of [[lease]] for builder chains. */
  implicit class LeaseOps[T](private val ds: Dataset[T]) extends AnyVal {
    def leased: Dataset[T] = lease(ds)
  }

  /** The session graft's entry points and tests run on.
    *
    * Three of these settings are STATIC SQL confs, which take effect
    * only when this call creates the JVM's first session:
    *  - `spark.sql.extensions` registers graft's native functions (checked
    *    below, because without it every operator fails);
    *  - `spark.sql.codegen.cache.maxEntries` = 400: Spark's JVM-wide cache
    *    of compiled generated classes. At Spark's default of 100, a loop
    *    that re-runs a dashboard of registry queries (~30 classes each)
    *    evicts every class before it is reused, so each call recompiles
    *    all its stages and runs them before the JIT has warmed them. 400
    *    holds a loop of ~13 such queries; each class costs ~25 KB of heap;
    *  - `spark.sql.ui.retainedExecutions` = 50: the plan graphs Spark keeps
    *    for finished queries are read only by the UI, which graft turns
    *    off.
    */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32,
              appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", 400)
      .config("spark.sql.ui.retainedExecutions", 50)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // spark.sql.extensions is a STATIC conf: if getOrCreate returned an
    // already-running session built without it, the native functions are
    // silently absent and the first operator call fails with an opaque
    // "Undefined function". Fail here, with instructions, instead.
    require(spark.catalog.functionExists("md5_prefix"),
      "Graft.session returned a pre-existing SparkSession that was built without " +
        "graft's extensions (spark.sql.extensions is static and cannot be applied " +
        "retroactively). Start the JVM's first session via Graft.session, or add " +
        "spark.sql.extensions=graft.functions.GraftExtensions to its builder/submit conf.")
    // The repo's deliberate global windows (q52 day-cardinality fold,
    // q61's ntile over the deduped key grid, the skew audit's
    // frequency-of-frequency median) all run over inputs bounded by
    // construction — PlanShapeSpec pins the window counts. WindowExec
    // still WARNs "No Partition Defined" per execution, and dozens of
    // those lines drown the bench/verify stdout tail the driver parses
    // (~2 KB). Silence exactly that logger; real warnings stay on.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** The [[session]] graft's command-line entry points run on: `local[N]`
    * with N shuffle partitions, where N is `SPARK_GRAFT_CPUS` or, when that
    * is unset, the host's core count. Spark logs at WARN. */
  def localSession(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)
    val spark = session(master = s"local[$cpus]", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

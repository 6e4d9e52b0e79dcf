package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hashed-feature linear classifier INFERENCE — the deployment shape of
  * a fasttext-style learned quality filter (reference quality flags:
  * q47 is the heuristic variant; this is the model-driven one): tokens
  * and token bigrams are hashed into a FIXED bucket space (the hashing
  * trick — the model is `NBuckets` weights regardless of vocabulary
  * size), each bucket carries an integer milli-weight, and a document's
  * logit is the exact BIGINT sum of its feature weights. keep = logit
  * >= 0 (comparing the logit against a threshold is sigmoid-free — the
  * sigmoid is monotone, so the decision needs no floating point).
  *
  * In production the weight table is a trained artifact shipped with
  * the pipeline (like the PQ codebooks, [[graft.vector.ProductQuant]]);
  * here the weights are derived deterministically from md5 of the
  * bucket id ([[graft.functions.PortableHash]] conventions) so the
  * DuckDB oracle replays scoring end-to-end. The operator under test is
  * the inference PLAN: map-only, codegen'd builtins inside one
  * projection, no UDF, no shuffle — at 100 TB it is a single scan that
  * parallelizes to any cluster width.
  */
object HashedLinearModel {
  /** Model size: weights live in buckets 0..NBuckets-1. */
  val NBuckets = 4096L
  /** Milli-weight span: weights are integers in [-1000, 1000]. */
  val WSpan = 2001L

  // r16: the native [[graft.functions.Md5Prefix]] expression — value-
  // identical to conv(substring(md5(x), 1, 7), 16, 10) but computed
  // straight from the digest bytes. The built-in chain paid a 32-char
  // hex render + substring + base-16 re-parse PER FEATURE OCCURRENCE
  // (every token and bigram of the corpus) in the scoring fold below.
  private def h28(x: String): String = s"md5_prefix($x, 7)"

  /** The full weight table, computed ONCE at plan-build time on the JVM
    * ([[graft.functions.PortableHash.h28jvm]] is the bit-exact twin of
    * the expression-side md5 arithmetic, proven by the hyperplane /
    * codebook paths) and shipped as a 4096-long literal array. The
    * expression-side alternative — `h28('w:' || bucket)` inline — pays
    * a SECOND md5 per feature occurrence for a value set of size
    * NBuckets; at corpus scale that second digest chain was most of the
    * query's cost (measured 4.3 → 1.7 s steady at sf0.1). */
  private lazy val weightTable: Seq[Long] =
    (0L until NBuckets).map(b =>
      graft.functions.PortableHash.h28jvm(s"w:$b") % WSpan - 1000L)

  /** Integer milli-weight of feature string `x`: bucket = h28(x) mod
    * NBuckets, weight = weightTable[bucket] (≡ h28('w:' || bucket) mod
    * WSpan - 1000 — the oracle replays that derivation and hash-matches,
    * checking the literal table too). Hashes are nonnegative, so Spark
    * `%` and DuckDB `%` agree. */
  private def weightExpr(x: String): String =
    s"element_at(__wt, CAST(${h28(x)} % $NBuckets AS INT) + 1)"

  /** Per-document score: (doc_id, n_feats, logit_milli, keep).
    * `docs` needs columns doc_id, text. Output is UNORDERED (r16 — the
    * trailing global sort moved to the one caller that needs it, q106:
    * rangepartitioning samples its child by executing it, so the sort
    * re-ran this whole map-only scoring pass; consumers like
    * [[calibrationAudit]] never needed the order). */
  def score(docs: DataFrame): DataFrame =
    docs
      .withColumn("__wt", typedLit(weightTable))
      .withColumn("ws", expr("filter(split(text, ' '), w -> w <> '')"))
      // bigrams: 1-based element_at + inclusive sequence mirror DuckDB's
      // 1-based list indexing; the size guard keeps sequence() ascending
      .withColumn("bis", expr(
        """CASE WHEN size(ws) >= 2
          |THEN transform(sequence(1, size(ws) - 1),
          |               i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
          |ELSE CAST(array() AS array<string>) END""".stripMargin))
      .withColumn("logit_milli", expr(
        s"""aggregate(ws,  CAST(0 AS BIGINT), (acc, x) -> acc + ${weightExpr("x")}) +
           |aggregate(bis, CAST(0 AS BIGINT), (acc, x) -> acc + ${weightExpr("x")})""".stripMargin))
      .select(col("doc_id"),
        (size(col("ws")) + size(col("bis"))).cast("long").as("n_feats"),
        col("logit_milli"),
        (col("logit_milli") >= 0).cast("int").as("keep"))

  /** Model-vs-heuristic calibration audit (reliability table): the
    * [[score]] logits bucketed into 10 score deciles, each reporting how
    * often the heuristic gold standard ([[TextAnalysis.qualityFlags]] —
    * a doc is gold-keep iff NO flag fires) agrees, in integer ppm. A
    * usable filter shows gold_keep_ppm rising with the decile; a flat
    * table means the model separates nothing the heuristics see.
    *
    * Deciles are TIE-STABLE: docs are binned by the cumulative count of
    * strictly-lower logits (`(cum_below·10) div total`, capped at 9), so
    * equal logits always share a bin and no engine-specific tie order
    * can move a doc across a boundary — the reason this is not ntile().
    *
    * Scale: the only window runs over the DISTINCT-logit table (value-
    * compressed, like [[Curation.topFractionThresholds]]), never the
    * corpus; the report is a 10-row aggregate. The doc→bin join is
    * left to the planner UNHINTED: the distinct-logit cardinality is
    * bounded by the logit value RANGE, which grows with max
    * features-per-doc (long-document corpora can reach millions of
    * distinct values) — a forced broadcast there would be the OOM. */
  def calibrationAudit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.Graft.lease(
      score(docs).select(col("doc_id"), col("logit_milli"), col("keep")))
    val dist = scored.groupBy(col("logit_milli")).agg(count(lit(1)).as("c"))
    val cum = dist.withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("logit_milli"))))
      .select(col("logit_milli"), (col("cum") - col("c")).as("below"))
    val tot = scored.agg(count(lit(1)).as("tot"))
    val binned = scored
      .join(cum, Seq("logit_milli"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("logit_milli"), col("keep"),
        least(lit(9L), expr("(below * 10) div tot")).as("decile"))
    val gold = TextAnalysis.qualityFlags(docs)
      .select(col("doc_id"),
        (greatest(col("flag_repetitive"), col("flag_short_words"),
          col("flag_long_words"), col("flag_symbol_heavy")) === 0)
          .cast("long").as("gold_keep"))
    graft.Par.single(binned.join(gold, Seq("doc_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("logit_milli")).as("lo_milli"),
        max(col("logit_milli")).as("hi_milli"),
        expr("(sum(keep) * 1000000) div count(1)").as("model_keep_ppm"),
        expr("(sum(gold_keep) * 1000000) div count(1)").as("gold_keep_ppm")))
      .orderBy("decile")
  }
}

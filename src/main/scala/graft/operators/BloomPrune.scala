package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.PortableHash

/** Bloom-filter join pruning — the shuffle-reduction primitive for big
  * joins with a selective build side: hash the dim's join keys into a
  * tiny bitmap, broadcast it, and drop probe rows whose key cannot be
  * in the dim BEFORE they enter the join shuffle. One-sided by
  * construction: a member key always passes (no false negatives — the
  * pruned join equals the exact join), a non-member passes with
  * probability ≈ (1−e^(−kn/m))^k and is eliminated by the join itself.
  *
  * Spark's own runtime row-group filtering does this opportunistically;
  * this operator is the EXPLICIT, engine-reproducible form: positions
  * are md5-salted ([[PortableHash.h28]] of "i:key"), the bitmap packs
  * into 60-bit words (signed-overflow-free in both engines), so the
  * DuckDB oracle rebuilds the identical bitmap and the pass/match/
  * false-positive counts hash-match.
  *
  * Scale posture (100 TB): the bitmap is ⌈m/60⌉ words — broadcast-sized
  * at any corpus scale (m grows with DIM cardinality, not fact size);
  * building it is one map-side-combinable bit_or aggregation over the
  * dim. The probe is a broadcast hash join against the word table plus
  * a per-key counting aggregate — no shuffle of fact rows until after
  * the prune, which is the whole point.
  */
object BloomPrune {

  private def pos(m: Int) =
    PortableHash.h28(concat_ws(":", col("i").cast("string"), col("s"))).mod(m)

  /** The bitmap: k md5-salted positions in [0, m) per distinct key of
    * `dim.col(key)`, packed into 60-bit words. Output: (word, b). */
  def bloomBits(dim: DataFrame, key: String, m: Int = 1024, k: Int = 3): DataFrame = {
    require(m > 0 && k > 0, "bloom dimensions must be positive")
    dim.select(col(key).cast("string").as("s")).dropDuplicates("s")
      .select(col("s"), explode(expr(s"sequence(0, ${k - 1})")).as("i"))
      .select(pos(m).as("p"))
      .groupBy(expr("p div 60").as("word"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 60 as int)))").as("b"))
  }

  /** Keys (column `s`, string) whose k positions are ALL set in `bits`
    * — the no-false-negative candidate set. */
  def passingKeys(keys: DataFrame, bits: DataFrame, m: Int = 1024, k: Int = 3): DataFrame =
    keys
      .select(col("s"), explode(expr(s"sequence(0, ${k - 1})")).as("i"))
      .withColumn("p", pos(m))
      .join(broadcast(bits), expr("p div 60") === bits("word"))
      .where(expr("(b & shiftleft(1L, cast(p % 60 as int))) != 0"))
      .groupBy(col("s")).agg(count(lit(1)).as("nhit"))
      .where(col("nhit") === k)
      .select(col("s"))

  /** Prune `fact` to rows whose `fk` passes the bloom over
    * `dim.col(key)` — a superset of the exact semi-join containing
    * every true match. */
  def prunedSemiJoin(fact: DataFrame, fk: String, dim: DataFrame, key: String,
                     m: Int = 1024, k: Int = 3): DataFrame = {
    val pass = passingKeys(
      fact.select(col(fk).cast("string").as("s")).dropDuplicates("s"),
      bloomBits(dim, key, m, k), m, k)
    fact.join(pass, fact(fk).cast("string") === pass("s"), "left_semi")
  }

  // -------------------------------------------------------------------
  // Sketch-backed variant — the PRODUCTION-scale form of the prune.
  //
  // The md5 bitmap above is the oracle-reproducible teaching form (m is
  // dim-cardinality-sized, the bitmap is a row table both engines can
  // rebuild). When the build side is a corpus-scale key set (the gram
  // index: millions of 60-bit hashes), the prune instead uses Spark's
  // own `util.sketch.BloomFilter` — the exact sketch the engine's
  // InjectRuntimeFilter builds for runtime semi-join filtering — carried
  // as a serialized binary LITERAL into the codegen'd
  // `BloomFilterMightContain` predicate, so the probe side is a
  // MAP-SIDE filter with zero shuffle: only might-contain survivors
  // enter the semi-join shuffle. One-sided like the md5 form: a member
  // always passes (no false negatives — the pruned semi-join equals the
  // exact one); stray passers are eliminated by the join itself, so the
  // result is oracle-identical and the sketch never needs an oracle
  // twin.
  // -------------------------------------------------------------------

  /** Build a serialized sketch bloom over the LONG key column `key` of
    * `keys` (putLong semantics — probe with [[mightContainLong]]).
    * Runs two Spark jobs: an emptiness probe (`limit 1`), then the
    * sketch. An empty key set yields the empty filter of the requested
    * geometry, which still merges with any other filter of it; Spark
    * 4.1's `stat.bloomFilter` throws an NPE on empty input. */
  def sketchBloomBytes(keys: DataFrame, key: String, expectedItems: Long,
                       fpp: Double = 0.01): Array[Byte] = {
    require(expectedItems > 0, "expectedItems must be positive")
    serialize(
      if (keys.isEmpty) BloomFilter.create(expectedItems, fpp)
      else keys.stat.bloomFilter(key, expectedItems, fpp))
  }

  def serialize(bf: BloomFilter): Array[Byte] = {
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    os.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** The codegen'd might-contain predicate over a serialized sketch
    * bloom ([[graft.functions.BloomContainsLong]]): true for every key
    * that was put (no false negatives), probabilistically true
    * otherwise. `value` must be a BIGINT column matching the
    * putLong-built sketch of [[sketchBloomBytes]]. */
  def mightContainLong(bloom: Array[Byte], value: Column): Column =
    call_function("bloom_contains", value,
      lit(java.util.Base64.getEncoder.encodeToString(bloom)))
}

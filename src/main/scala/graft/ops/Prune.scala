package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}

/** Join-input pruning with a Bloom filter, on the CODEGEN probe path.
  *
  * The 100 TB problem this solves: an inner join between a huge fact
  * table and a selective dimension shuffles the ENTIRE fact side, even
  * though only the rows whose keys survive the dimension filter can
  * match. A Bloom filter over the dimension keys, applied to the fact
  * side BEFORE its shuffle, drops the non-matching bulk at scan time —
  * shuffle volume follows the match rate, not the fact size. Bloom
  * filters have no false negatives, so no matching row is ever lost;
  * false positives (rate `fpp`) survive the pre-filter and are removed
  * by the join itself — the result is exactly the plain join's.
  *
  * Mechanics (shared with [[Bloom]], q196's oracle-gated path): the
  * filter is DATA, not driver state — a one-row DataFrame holding the
  * m/64 64-bit words as a dense `array<long>`, built distributedly by one
  * aggregate over the key set, attached to the fact side as a broadcast
  * single-row cross join, and probed by k codegen'd `xxhash64`
  * expressions. No scalar UDF anywhere (round-7 change: the previous
  * driver-side `BloomFilter` + `udf(mightContainLong)` probe was opaque
  * to whole-stage codegen and forced the filter object through task
  * serialization; this form stays inside the generated code).
  *
  * Spark's AQE can inject a runtime bloom automatically
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) when it can SEE
  * the selective filter in the plan. The explicit form here covers the
  * cases the planner can't: a small side produced by an opaque upstream
  * computation (a collected sample, an external id list, a previous
  * round's survivors) where Catalyst has no selectivity estimate — and
  * a built [[KeyFilter]] is reusable across many scans.
  *
  * Sizing: textbook m = −n·ln(fpp)/ln²2 ≈ 9.6 bits/key at fpp=1% —
  * 10⁸ distinct dimension keys ≈ 115 MB, the practical broadcast
  * ceiling; beyond that fall back to a shuffled semi-join (the filter
  * itself becomes the shuffle).
  */
object Prune {

  /** A built filter: the one-row words DataFrame plus its geometry.
    * Apply with [[KeyFilter.pruned]]; reuse across any number of scans.
    * [[bloomFor]] keeps the words row cached ([[graft.CacheScope]]) so
    * rebuilds never recompute the key aggregate.
    */
  final case class KeyFilter(bf: DataFrame, mBits: Int, k: Int, keyType: DataType) {

    /** `df` with the rows whose `key` cannot be in the build set
      * removed (nulls never pass — a null never equi-joins). One
      * broadcast of the single filter row + k codegen'd hash probes.
      */
    def pruned(df: DataFrame, key: String): DataFrame = {
      val probe = normalize(col(key), df.schema(key).dataType)
      df.crossJoin(broadcast(bf.select(col("bf").as("__graft_bf"))))
        .filter(col(key).isNotNull &&
          Bloom.mightContain(col("__graft_bf"), probe, mBits, k))
        .drop("__graft_bf")
    }
  }

  /** Integral keys normalize to long on BOTH build and probe so an
    * int fact key probes a filter built from a long dim key (xxhash64
    * hashes the binary layout — unnormalized widths would hash apart).
    * The integral/string restriction is deliberate: float/decimal keys
    * make equi-join semantics themselves questionable.
    */
  private def normalize(c: Column, dt: DataType): Column = dt match {
    case LongType | IntegerType | ShortType | ByteType => c.cast("long")
    case StringType => c
    case other =>
      throw new IllegalArgumentException(
        s"bloom pruning supports integral/string keys, got $other")
  }

  /** Textbook geometry for `n` distinct keys at false-positive rate
    * `fpp`: m = ⌈−n·ln(fpp)/ln²2⌉ rounded up to a multiple of 64,
    * k = round(m/n·ln 2) clamped to [1, 8]. m is capped at 2²⁷ bits
    * (a 16 MB dense word array — comfortably broadcastable); past the
    * cap (≈ 14 M keys at fpp 1%) the REALIZED fpp degrades gracefully
    * rather than the broadcast growing unbounded — false positives
    * only cost join work, never correctness. Far beyond that, a
    * shuffled semi-join beats any bloom (the filter itself becomes the
    * shuffle).
    */
  private[ops] def sizing(n: Long, fpp: Double): (Int, Int) = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val ln2 = math.log(2)
    val mRaw = math.ceil(-n.toDouble * math.log(fpp) / (ln2 * ln2)).toLong
    val m = math.max(64L, math.min(((mRaw + 63) / 64) * 64, 1L << 27)).toInt
    val k = math.max(1, math.min(8, math.round(m.toDouble / n * ln2).toInt))
    (m, k)
  }

  /** Build a [[KeyFilter]] over the DISTINCT values of `keyCol`
    * (sizing by raw row count would inflate the filter by the
    * duplication factor — a 10⁹-row reference list over 10⁶ distinct
    * keys must size at 10⁶). The distinct key set is persisted for the
    * two passes over it (count for sizing, then the word aggregate)
    * and released before returning; the filter words stay a one-row
    * DataFrame — nothing key-shaped ever lands on the driver. */
  def bloomFor(keys: DataFrame, keyCol: String, fpp: Double = 0.01): KeyFilter = {
    val keyType = keys.schema(keyCol).dataType
    val distinctKeys = keys
      .select(normalize(col(keyCol), keyType).as("__key"))
      .filter(col("__key").isNotNull)
      .distinct().persist()
    try {
      val n = math.max(distinctKeys.count(), 1L)
      val (m, k) = sizing(n, fpp)
      // the words materialize while the key set is still cached
      val words = graft.CacheScope.keep(Bloom.build(distinctKeys, "__key", m, k))
      words.count()
      KeyFilter(words, m, k, keyType)
    } finally distinctKeys.unpersist()
  }

  /** Inner join `big ⋈ small` with the big side pre-pruned by a Bloom
    * filter over `small`'s keys. Result is EXACTLY `big.join(small)` —
    * pruning is invisible in the output (no false negatives; false
    * positives die in the join). Only join types that drop unmatched
    * big rows are sound here (inner / left_semi): for an outer join the
    * pre-filter would delete rows the join must keep.
    *
    * NOTE on evaluation count: `small` is evaluated once for the filter
    * build and again when the join runs — inherent to any plan that
    * both summarizes and joins a dataset. If `small` is an expensive
    * upstream computation, `persist()` it before calling (the build
    * itself dedups and caches only the key column, not `small`).
    */
  def bloomPrunedJoin(
      big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
      fpp: Double = 0.01, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_semi",
      s"bloom pruning is only sound for inner/left_semi joins, got $joinType")
    val kf = bloomFor(small.select(smallKey), smallKey, fpp)
    val pruned = kf.pruned(big, bigKey)
    pruned.join(small, pruned(bigKey) === small(smallKey), joinType)
  }
}

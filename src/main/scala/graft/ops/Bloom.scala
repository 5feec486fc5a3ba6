package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-filter join pruning (SURVEY.md §2.3.1 extensions, q196).
  *
  * The semi-join reduction a 100 TB fact scan wants when the dim key
  * set is too large to ship as an exact hash set but fits as bits: an
  * m-bit Bloom filter over the build-side keys travels to the fact
  * side as ONE broadcast row — a DENSE `array<long>` of all m/64
  * words, so each probe is an O(1) positional `element_at` (round-7:
  * the previous non-zero-words MAP cost a LINEAR scan per probe —
  * Spark's map element_at walks the entries — which at 550 k words ×
  * 7 hashes × 60 M fact rows turned q55's 100× run into a hang; the
  * dense 35 M-bit array is 4.4 MB, broadcast-trivial) — and the fact
  * stream is pre-filtered by k codegen'd hash probes BEFORE the join
  * shuffle.
  * Bloom filters have no false negatives, so prefilter + exact join
  * is result-identical to the plain join — q196 puts that equivalence
  * under the driver's oracle gate (the DuckDB twin is the PLAIN join,
  * no bloom anywhere), and BloomSpec pins the no-false-negative
  * property plus the measured false-positive rate on disjoint keys.
  *
  * This is the manual, composable twin of Spark's runtime bloom
  * pushdown (`spark.sql.optimizer.runtime.bloomFilter.enabled`): the
  * optimizer only injects one when a selective filter sits directly
  * on the build side of a shuffle join; building it as data lets a
  * pipeline reuse one filter across many scans (e.g. a nightly
  * "active entities" filter applied to every fact source).
  */
object Bloom {

  /** The `mBits`-bit, `k`-hash Bloom filter over `keyDf[keyCol]` as a
    * one-row DataFrame with a single DENSE `array<long>` column `bf`
    * of all mBits/64 words in order (unset words zero-filled — O(1)
    * positional probe access; a sparse word MAP costs a linear entry
    * scan per `element_at`, measured as a scale hang on q55). Hash i
    * of key x is `pmod(xxhash64(x, i), mBits)`. `mBits` must be a
    * multiple of 64. The densify step is one |non-zero words|-row
    * left join against an mBits/64-row range spine — trivial next to
    * the key scan.
    */
  def build(keyDf: DataFrame, keyCol: String, mBits: Int, k: Int): DataFrame = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    val nWords = mBits / 64
    val words = keyDf.select(col(keyCol).as("__key"))
      .select(explode(array((0 until k).map(lit): _*)).as("__seed"),
        col("__key"))
      .select(pmod(xxhash64(col("__key"), col("__seed")), lit(mBits.toLong))
        .as("__h"))
      .groupBy((col("__h") / 64).cast("int").as("__w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(__h % 64 AS INT)))")
        .as("__word"))
    // the non-zero word set is bounded by the FILTER GEOMETRY
    // (≤ mBits/64 rows ≤ 2M at Prune's cap), never by the data — an
    // explicitly-declared broadcast, legal even in the no-broadcast
    // regime (same class as the nation/region bounded dims)
    keyDf.sparkSession.range(nWords)
      .select(col("id").cast("int").as("__w"))
      .join(broadcast(words), Seq("__w"), "left")
      .select(col("__w"), coalesce(col("__word"), lit(0L)).as("__word"))
      .agg(sort_array(collect_list(struct(col("__w"), col("__word"))))
        .as("__sw"))
      .select(transform(col("__sw"), s => s.getField("__word")).as("bf"))
  }

  /** Membership probe: true whenever `key` was in the build set
    * (never a false negative; false positives at the (1−e^(−kn/m))^k
    * textbook rate). `bf` is the dense word array from [[build]] —
    * each probe is one O(1) `element_at` (1-based) plus a mask test,
    * all inside codegen.
    */
  def mightContain(bf: Column, key: Column, mBits: Int, k: Int): Column =
    (0 until k).map { i =>
      val h = pmod(xxhash64(key, lit(i)), lit(mBits.toLong))
      val mask = call_function("shiftleft", lit(1L), (h % 64).cast("int"))
      element_at(bf, (h / 64).cast("int") + 1)
        .bitwiseAND(mask) === mask
    }.reduce(_ && _)

  // --------------------------------------------------------------- q196

  private val M = 1 << 17 // 131072 bits = at most 2048 words
  private val K = 3

  /** q196 — revenue by order priority for BUILDING-segment customers,
    * computed through the bloom-prefiltered join: the segment's
    * custkeys build a 131072-bit, 3-hash filter (≲3 per-mille FPP at
    * sf0.1's key count), orders are pre-screened by [[mightContain]],
    * and only survivors enter the exact join that removes the false
    * positives. The DuckDB oracle is the PLAIN join — the gate proves
    * the bloom path loses nothing.
    */
  def query(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bf = build(cust, "c_custkey", M, K)
    Tables.load(spark, dir, "orders")
      .crossJoin(broadcast(bf))
      .filter(mightContain(col("bf"), col("o_custkey"), M, K))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 2)
          .as("revenue"))
      .coalesce(1).orderBy(col("o_orderpriority"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q196_bloom_join" -> (query _))
}

/** DuckDB twin for [[Bloom]] (driver correctness gate): the plain
  * join — bloom prefiltering must be invisible in the result.
  */
object BloomOracle {

  val all: Seq[(String, String)] = Seq(
    "q196_bloom_join" ->
      """SELECT o.o_orderpriority,
        |       count(*) AS n_orders,
        |       round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |             / 100.0, 2) AS revenue
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin)
}

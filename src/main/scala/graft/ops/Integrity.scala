package graft.ops

import graft.Tables
import graft.text.FuzzyJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table fingerprinting, column profiling and statistical summaries —
  * the integrity surface a 100 TB pipeline needs around every copy,
  * migration and backfill (SURVEY.md §2.3.1 extensions, q84–q88).
  *
  * Scale shapes:
  *  - [[bucketChecksum]] shuffles once on the bucket key; per-bucket
  *    state is the bucket's rows (pick `bucket` so a bucket is
  *    row-group-sized — e.g. key ranges or file partitions), and the
  *    result is one 128-bit digest per bucket, so verifying a replica
  *    moves digests, never data.
  *  - [[fastChecksum]] is fully algebraic (sum/xor of per-row hashes):
  *    map-side partial aggregation, O(1) state, no sort — the default
  *    at unbounded scale. It is Spark-specific (xxhash64), so the
  *    portable md5 variant is the one under the DuckDB oracle.
  *  - [[profile]] is one aggregate pass; exact `count(DISTINCT)` over
  *    many columns plans through Catalyst's Expand (one shuffle, data
  *    duplicated once per profiled column).
  */
object Integrity {

  /** Portable bucketed table checksum: rows are rendered with `rowStr`
    * (keep it to integer/string columns — float rendering is not
    * portable across engines), sorted within a bucket by `sortKeys`
    * WITH the rendered row string as the final tiebreaker (so a
    * non-unique sort key still yields a deterministic digest — an
    * external reproducer must order the same way), newline-joined and
    * md5'd. Two tables are replicas iff the (bucket, n_rows, checksum)
    * sets match.
    */
  def bucketChecksum(
      df: DataFrame, bucket: Column, sortKeys: Seq[Column], rowStr: Column): DataFrame =
    df.select(bucket.as("bucket"), struct(sortKeys :+ rowStr.as("__rs"): _*).as("__s"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        md5(array_join(
          transform(array_sort(collect_list(col("__s"))), s => s.getField("__rs")),
          "\n").cast("binary")).as("checksum"))

  /** Algebraic whole-table fingerprint: order- and layout-independent
    * (commutative sum + xor of per-row xxhash64, plus count). One row
    * out; any single-cell change flips it. The sum runs in
    * decimal(38,0) so it can never overflow (ANSI-safe at any row
    * count). Not portable across engines — use [[bucketChecksum]] when
    * an external system must reproduce the digest.
    */
  def fastChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns given")
    val h = xxhash64(cols.map(col): _*)
    df.agg(
      count(lit(1)).as("n_rows"),
      sum(h.cast("decimal(38,0)")).as("hash_sum"),
      expr(s"bit_xor(xxhash64(${cols.mkString(", ")}))").as("hash_xor"))
  }

  /** Long-format column profile: per column — row count, null count,
    * exact distinct count, min/max rendered as strings. One aggregate
    * pass over the table.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns given")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val entries = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        col(s"__nd_$c").cast("long").as("n_distinct"),
        col(s"__min_$c").as("min_val"),
        col(s"__max_$c").as("max_val"))
    }
    one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
  }

  /** Portable AND algebraic per-bucket checksum — the unbounded-scale
    * variant of [[bucketChecksum]]: instead of sorting and digesting a
    * bucket's rows (whose per-bucket state grows with the bucket), sum
    * a per-ROW 64-bit digest commutatively. The digest is the
    * little-endian lower half of md5(rowStr) — chosen because an
    * external engine can recompute it (DuckDB: `md5_number_lower`;
    * here: eight codegen'd conv/shiftleft terms over the hex — no UDF),
    * interpreted as a SIGNED 64-bit value and summed in decimal(38,0)
    * so the total never overflows. Map-side partial aggregation, O(1)
    * state per bucket, order/layout independent.
    */
  def algebraicChecksum(df: DataFrame, bucket: Column, rowStr: Column): DataFrame = {
    val hex = md5(rowStr.cast("binary"))
    // bytes 9..16 of the digest, least-significant first
    val lower = (0 to 7)
      .map(i => shiftleft(conv(substring(hex, 17 + 2 * i, 2), 16, 10).cast("long"), 8 * i))
      .reduce(_ + _)
    df.select(bucket.as("bucket"), lower.as("__h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__h").cast("decimal(38,0)")).as("hash_sum"))
  }

  /** Snapshot reconciliation: classify every entity key as added /
    * removed / changed / unchanged between two table versions. One
    * full-outer join on the key (single keyed shuffle; pre-aggregate
    * the sides to key grain first). `valueCols` defines "changed";
    * null-safe compare, so null→value and value→null are changes.
    */
  def diffSnapshots(
      oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "no key columns given")
    require(valueCols.nonEmpty, "no value columns given")
    val o = oldDf.select((keys ++ valueCols).map(col): _*)
      .withColumnsRenamed(valueCols.map(c => c -> s"__old_$c").toMap)
      .withColumn("__in_old", lit(true))
    val n = newDf.select((keys ++ valueCols).map(col): _*)
      .withColumnsRenamed(valueCols.map(c => c -> s"__new_$c").toMap)
      .withColumn("__in_new", lit(true))
    val same = valueCols.map(c => col(s"__old_$c") <=> col(s"__new_$c")).reduce(_ && _)
    o.join(n, keys, "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(same, lit("unchanged"))
          .otherwise(lit("changed")))
      .drop("__in_old", "__in_new")
  }

  // ---------------------------------------------------------------- q84

  /** Size-derived bucket count honoring [[bucketChecksum]]'s sizing
    * rule ("pick `bucket` so a bucket is row-group-sized"): with
    * `target` rows per bucket, B = max(16, ⌈n/target⌉) — pure integer
    * arithmetic so ANY engine recomputing the digest derives the
    * identical geometry from the identical row count (the DuckDB twin
    * evaluates the same formula in SQL). The 16-bucket floor keeps the
    * historical geometry (and hashes) at every oracle scale; past
    * 16·target rows the count grows linearly, so per-bucket sorted
    * state stays O(target) and the digest aggregation never goes
    * superlinear (round-7 scale finding: a PINNED 16 buckets put
    * 3.75 M rows per bucket at 100× — 14.8× time for 10× data).
    */
  def checksumBuckets(n: Long, target: Long = 65536L): Long =
    math.max(16L, (n + target - 1) / target)

  /** q84 — portable replication checksum of lineitem in key-range
    * buckets. The row rendering sticks to integers and strings (price
    * scaled to cents — `round` yields an integral double in both
    * engines, so the long cast is exact); the digest is engine-portable
    * md5, which is exactly what the DuckDB oracle recomputes. The
    * bucket count is [[checksumBuckets]] of the exact row count (one
    * cheap columnar count job) — row-group-sized buckets at any scale,
    * same formula the oracle SQL evaluates.
    */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val b = checksumBuckets(li.count())
    bucketChecksum(
      li,
      bucket = col("l_orderkey") % b,
      sortKeys = Seq(col("l_orderkey"), col("l_linenumber")),
      rowStr = concat_ws("|",
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long"), col("l_returnflag")))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------- q85

  /** q85 — column profile of documents (text/lang/source/n_chars):
    * null counts, exact distincts, min/max (long values truncated to 20
    * chars so document-length cells stay readable; ASCII corpus, so
    * lexicographic order agrees across engines).
    */
  def profileDocs(spark: SparkSession, dir: String): DataFrame =
    profile(Tables.load(spark, dir, "documents"), Seq("text", "lang", "source", "n_chars"))
      .withColumn("min_val", substring(col("min_val"), 1, 20))
      .withColumn("max_val", substring(col("max_val"), 1, 20))
      .orderBy(col("col_name"))

  // ---------------------------------------------------------------- q86

  /** q86 — correlation/regression battery per return flag: Pearson
    * corr, sample covariance and the OLS line of extendedprice on
    * quantity (slope/intercept/R²). All single-pass algebraic
    * aggregates (co-moments merge associatively — map-side partials,
    * one shuffle); rounded so cross-engine accumulation-order noise
    * (≤1e-9 relative) cannot flip the hash.
    */
  def corrRegr(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("covar_pq"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- q87

  /** q87 — unpivot (wide → long), the inverse of q35's pivot: the
    * pricing summary melted to (flag, metric, value) triples via the
    * native `unpivot` operator (a Generate — no shuffle beyond the
    * aggregate that built the wide side). Metrics are cast to one
    * common double type, as unpivot (and SQL UNION ALL) require.
    */
  def unpivotPricing(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).cast("double").as("n_rows"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_rows")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  // ---------------------------------------------------------------- q88

  /** q88 — fuzzy vocabulary matching: all token pairs of the documents
    * vocabulary within edit distance 2, via [[FuzzyJoin.symDeleteJoin]]
    * (lossless symmetric-delete blocking — candidates share a ≤2-char
    * deletion variant, then exact levenshtein verifies). The oracle is
    * the brute-force all-pairs filter, so the blocking's losslessness
    * is itself under the correctness gate.
    */
  def fuzzyVocab(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    FuzzyJoin.symDeleteJoin(vocab, "w", maxDist = 2)
      .select(col("s1").as("w1"), col("s2").as("w2"), col("dist"))
      .orderBy(col("w1"), col("w2"))
  }

  // ---------------------------------------------------------------- q93

  /** q93 — snapshot reconciliation drill (oracle-checked): split the
    * event stream at its midpoint instant, reduce each half to the
    * latest event_type per sparse entity key (user × props.k — sparse
    * enough that every status occurs), and [[diffSnapshots]] the two.
    * The midpoint is integer-µs arithmetic (`(lo+hi) div 2`) so both
    * engines cut at the identical microsecond.
    */
  def snapshotDiffStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val base = ev.select(
      col("user_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val mid = base.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .select(expr("(lo + hi) div 2").as("mid")).head().getLong(0) // one-row driver scalar
    def latest(half: DataFrame) = half.groupBy(col("user_id"), col("k"))
      .agg(max_by(col("event_type"), col("us")).as("v")) // (user,k,ts) unique — no tie
    diffSnapshots(
        latest(base.filter(col("us") < mid)),
        latest(base.filter(col("us") >= mid)),
        keys = Seq("user_id", "k"), valueCols = Seq("v"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  // ---------------------------------------------------------------- q94

  /** q94 — the algebraic portable checksum over the same 16 key-range
    * buckets and row rendering as q84. Where q84's sorted-digest holds
    * a bucket's rows in memory (its sizing rule: buckets must stay
    * row-group-sized), this one is a pure streaming aggregate — the
    * variant that runs at ANY bucket size; the oracle recomputes the
    * per-row digests via `md5_number_lower` and sums identically.
    */
  def rollingChecksum(spark: SparkSession, dir: String): DataFrame =
    algebraicChecksum(
        Tables.load(spark, dir, "lineitem"),
        bucket = col("l_orderkey") % 16,
        rowStr = concat_ws("|",
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long"), col("l_returnflag")))
      // digits-as-text: the driver's pandas comparator coerces 128-bit
      // oracle integers to float64, which loses the low digits — a
      // checksum compared lossily is no checksum at all
      .withColumn("hash_sum", col("hash_sum").cast("string"))
      .orderBy(col("bucket"))

  // ---------------------------------------------------------------- q99

  /** First-significant-digit (Benford) screen of a positive numeric
    * column: per digit 1–9, the observed share vs Benford's
    * log10(1 + 1/d) expectation and the absolute deviation. Fabricated
    * or truncated financial data shows up as a digit histogram far from
    * the law; a re-scaled copy does not (the law is scale-invariant).
    * One narrow aggregate + a single-row total attach. The digit is
    * extracted NUMERICALLY (x / 10^floor(log10 x)) — never via string
    * rendering, which differs across engines for doubles.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol)
    val digit = floor(x / pow(lit(10.0), floor(log10(x)))).cast("long")
    val counts = df.filter(x > 0).groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .withColumn("obs_frac", round(col("n") / col("__t"), 6))
      .withColumn("exp_frac", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("abs_dev", round(abs(col("obs_frac") - col("exp_frac")), 6))
      .drop("__t")
  }

  /** q99 — Benford screen over order totals: the digit histogram the
    * integrity suite would alarm on after a bad backfill multiplies or
    * truncates a money column.
    */
  def benfordOrders(spark: SparkSession, dir: String): DataFrame =
    benford(Tables.load(spark, dir, "orders"), "o_totalprice")
      .coalesce(1).orderBy(col("digit"))

  // ---------------------------------------------------------------- q125

  /** q125 — Jaro-Winkler scored fuzzy token pairs: the q88 sym-delete
    * candidate set (lossless for levenshtein ≤ 2) re-scored with the
    * native [[graft.functions.expressions.JaroWinkler]] expression and
    * thresholded at ≥ 0.7 — the name-matching readout where edit
    * distance alone over-merges short tokens. The DuckDB oracle
    * recomputes `jaro_winkler_similarity` over the brute-force pair
    * set, so the expression's conventions (byte-wise match window,
    * strict >0.7 boost threshold, ℓ≤4 prefix) are themselves under the
    * driver's gate, pair by pair.
    */
  def jaroPairs(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
    FuzzyJoin.symDeleteJoin(vocab, "w", maxDist = 2)
      .withColumn("jw",
        round(graft.GraftFunctions.jaroWinkler(col("s1"), col("s2")), 6))
      .filter(col("jw") >= 0.7)
      .select(col("s1").as("w1"), col("s2").as("w2"), col("dist"), col("jw"))
      .coalesce(1).orderBy(col("w1"), col("w2"))
  }

  // ---------------------------------------------------------------- q164

  /** q164 — functional-dependency audit: for each declared candidate
    * FD key → dep, how many keys exist, how many carry more than one
    * distinct dependent value, and the violation share — the
    * data-contract check that a column a pipeline ASSUMES is
    * determined by a key actually is. Each FD is one keyed
    * exact-distinct aggregate (two shuffles: (key, dep) dedup with
    * map-side partials, then per-key count) folded to a single row;
    * four FDs union to a 4-row scorecard. At any scale the output is
    * |FDs| rows.
    */
  def fdAudit(spark: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, key: String, dep: String): DataFrame =
      df.groupBy(col(key)).agg(countDistinct(col(dep)).as("__d"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__d") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_keys"), col("n_violating"),
          round(col("n_violating") / col("n_keys").cast("double"), 6)
            .as("violation_share"))
    val li = Tables.load(spark, dir, "lineitem")
    val ev = Tables.load(spark, dir, "events")
    val doc = Tables.load(spark, dir, "documents")
    val ord = Tables.load(spark, dir, "orders")
    one("lineitem: l_partkey -> l_suppkey", li, "l_partkey", "l_suppkey")
      .unionByName(one("events: user_id -> event_type", ev, "user_id", "event_type"))
      .unionByName(one("documents: source -> lang", doc, "source", "lang"))
      .unionByName(one("orders: o_custkey -> o_orderpriority", ord,
        "o_custkey", "o_orderpriority"))
      .coalesce(1).orderBy(col("fd"))
  }

  // ---------------------------------------------------------------- q165

  /** q165 — bitmap-word exact distinct: distinct users per event type
    * computed two ways in the same row — the classic bitmap-index
    * technique (user ids packed into 63-bit words: `word = id div 63`,
    * `bit = id % 63`; per-(type, word) `bit_or`, then Σ popcount) next
    * to the plain exact `count(distinct)`. The bitmap path turns a
    * holistic distinct into an ALGEBRAIC aggregate — partials combine
    * by OR, so map-side combine collapses each word to one long per
    * partition and the shuffle carries |types|·⌈maxId/63⌉ longs
    * regardless of row count; at 100 TB that is the difference between
    * shuffling every (type, user) pair and shuffling a fixed bitmap.
    * 63-bit words keep the shift off the sign bit, which DuckDB
    * rejects as overflow (both engines then agree bit-for-bit).
    */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val bm = ev.select(col("event_type"),
        expr("user_id div 63").as("__w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").as("__b"))
      .groupBy(col("event_type"), col("__w"))
      .agg(expr("bit_or(__b)").as("__m"))
      .groupBy(col("event_type"))
      .agg(sum(expr("CAST(bit_count(__m) AS BIGINT)")).as("n_users_bitmap"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users_exact"))
    bm.join(exact, Seq("event_type"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- q166

  /** q166 — exact proration with largest-remainder rounding: each
    * order's header total allocated across its lineitems proportional
    * to extended price, in integer cents, with the leftover cents from
    * flooring handed to the largest fractional remainders (linenumber
    * tiebreak) — so every order's allocation sums to EXACTLY its
    * total, by construction. The financial-allocation primitive where
    * "round each share" silently loses pennies at scale. All integer
    * arithmetic: base = ⌊T·p/S⌋, remainder rank on (T·p mod S) desc —
    * no float division anywhere, so both engines allocate bit-
    * identically. Plan: one order-key join + windows all partitioned
    * on the same order key (one shuffle), then the per-order
    * conservation check and a priority-bounded scorecard. The output
    * row carries max |Σalloc − T| per priority — the oracle gate
    * itself verifies conservation (all zeros).
    */
  def prorationQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("__pc"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("__t"))
    val wOrd = Window.partitionBy(col("l_orderkey"))
    val wRank = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("__fr").desc, col("l_linenumber"))
    val alloc = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("__s", sum(col("__pc")).over(wOrd))
      .withColumn("__base", expr("(__t * __pc) div __s"))
      .withColumn("__fr", expr("(__t * __pc) % __s"))
      .withColumn("__rem", col("__t") - sum(col("__base")).over(wOrd))
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__alloc",
        col("__base") + when(col("__rk") <= col("__rem"), 1L).otherwise(0L))
    val perOrder = alloc.groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("__n"), sum(col("__alloc")).as("__sa"),
        first(col("__t")).as("__tt"),
        sum(when(col("__rk") <= col("__rem"), 1L).otherwise(0L)).as("__nb"))
    perOrder.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("__n")).as("n_lines"),
        round(sum(col("__sa")) / lit(100.0), 2).as("alloc_total"),
        round(sum(col("__tt")) / lit(100.0), 2).as("order_total"),
        max(abs(col("__sa") - col("__tt"))).as("max_abs_diff"),
        sum(col("__nb")).as("n_bumped"))
      .coalesce(1).orderBy(col("o_orderpriority"))
  }

  // ---------------------------------------------------------------- q170

  /** q170 — trailing-7-day distinct users via OR-merged bitmaps: the
    * q92 rolling-distinct problem solved with the q165 bitmap
    * technique. Per (day, word) masks OR-combine; each contributes to
    * its ≤7 target days (the bounded explode — never a day×day join);
    * per target day, Σ popcount of the re-OR'd words. The shuffle
    * carries day×word MASKS, not (day, user) rows — at 100 TB the
    * bitmap is the difference between re-shuffling every user-day
    * pair 7× and shipping ⌈maxId/63⌉ longs per day. The DuckDB oracle
    * deliberately computes the NAIVE formulation (7-day range join +
    * count distinct), so the gate proves bitmap ≡ naive end-to-end.
    */
  def windowBitmapDau(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.load(spark, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val words = du
      .select(col("day"), expr("user_id div 63").as("__w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").as("__b"))
      .groupBy(col("day"), col("__w"))
      .agg(expr("bit_or(__b)").as("__m"))
    val contrib = words
      .select(col("__w"), col("__m"),
        explode(sequence(lit(0), lit(6))).as("__o"), col("day"))
      .select(expr("date_add(day, __o)").as("__td"), col("__w"), col("__m"))
    val observed = du.select(col("day")).distinct()
    contrib
      .groupBy(col("__td"), col("__w"))
      .agg(expr("bit_or(__m)").as("__mm"))
      .groupBy(col("__td"))
      .agg(sum(expr("CAST(bit_count(__mm) AS BIGINT)")).as("n_users_7d"))
      .join(observed, col("__td") === col("day"))
      .select(col("day"), col("n_users_7d"))
      .coalesce(1).orderBy(col("day"))
  }

  // --------------------------------------------------------------- q181

  /** q181 — k-anonymity risk audit: equivalence classes over the
    * quasi-identifier tuple (nation, market segment, 1000-unit
    * account-balance band), then per-nation re-identification risk:
    * the smallest class size (the k the dataset actually achieves)
    * and the share of customers in classes smaller than 5 — the rows
    * a release under k=5 would have to suppress or generalize.
    * Shape: two hash aggregates (class grain, then nation grain), no
    * windows, no joins beyond the bounded nation dim; the balance
    * band is VALUE-based (floor(bal/1000)), never a global ntile, so
    * no single-partition sort exists at any scale.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("__band"))
      .agg(count(lit(1)).as("__k"))
    classes.groupBy(col("n_name"))
      .agg(sum(col("__k")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("__k")).as("min_k"),
        sum(when(col("__k") < 5, col("__k")).otherwise(0L))
          .as("rows_at_risk"),
        round(sum(when(col("__k") < 5, col("__k")).otherwise(0L)) /
          sum(col("__k")).cast("double"), 6).as("risk_rate"))
      .coalesce(1).orderBy(col("n_name"))
  }

  // --------------------------------------------------------------- q185

  /** q185 — join fan-out audit: for each candidate join relationship,
    * predict the output cardinality WITHOUT running the join —
    * Σ_k n_left(k)·n_right(k) over the per-key count aggregates — and
    * report it with per-side key stats and the row-amplification
    * factor. This is the guardrail a pipeline runs before an
    * enrichment join ships: an unexpected N:M key (amplification ≫ 1)
    * is caught from two cheap aggregates instead of an exploded
    * shuffle. Each relationship costs two hash aggregates plus an
    * equi-join of key-count tables (rows = distinct keys, not data).
    */
  def joinFanout(spark: SparkSession, dir: String): DataFrame = {
    def audit(label: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val l = left.groupBy(col(lk).as("__k")).agg(count(lit(1)).as("__nl"))
      val r = right.groupBy(col(rk).as("__rk")).agg(count(lit(1)).as("__nr"))
      l.join(r, col("__k") === col("__rk"))
        .agg(count(lit(1)).as("matched_keys"),
          sum(col("__nl")).as("rows_left"),
          sum(col("__nr")).as("rows_right"),
          sum(col("__nl") * col("__nr")).as("est_out_rows"),
          max(col("__nl") * col("__nr")).as("max_key_out"))
        .select(lit(label).as("relationship"), col("matched_keys"),
          col("rows_left"), col("rows_right"), col("est_out_rows"),
          col("max_key_out"),
          round(col("est_out_rows") / col("rows_left").cast("double"), 4)
            .as("amplification"))
    }
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val ev = Tables.load(spark, dir, "events")
    audit("events_self_user", ev, "user_id", ev, "user_id")
      .unionAll(audit("lineitem_orders", li, "l_orderkey", ord, "o_orderkey"))
      .unionAll(audit("lineitem_part", li, "l_partkey",
        Tables.load(spark, dir, "part"), "p_partkey"))
      .unionAll(audit("orders_customer", ord, "o_custkey",
        Tables.load(spark, dir, "customer"), "c_custkey"))
      .coalesce(1).orderBy(col("relationship"))
  }

  // ---------------------------------------------------------------- q207

  /** q207 — linear-counting distinct estimate per event type, next to
    * the exact answer in the same row: user ids hash through the q58
    * engine-independent mixer into an m = 4096-cell table; the
    * estimator is −m·ln(z/m) over the exact occupied-cell count
    * (z = empty cells) — the occupancy sketch that, like q165's
    * bitmap, makes distinct ALGEBRAIC (per-cell presence OR-combines;
    * the shuffle carries ≤ m cells per group regardless of row
    * count), but at a FIXED m independent of the id domain, trading
    * exactness for the textbook √m relative error. Because the hash
    * and the estimator are deterministic closed forms over exact
    * integers, the ESTIMATE itself sits under the oracle gate — a
    * sketch whose cross-engine value is bit-reproducible, not just
    * statistically characterized (q31's HLL bound test is the
    * contrast). Rel-error column reads the quality against the exact
    * distinct.
    */
  def linearCounting(spark: SparkSession, dir: String): DataFrame = {
    val m = 4096
    val ev = Tables.load(spark, dir, "events")
    val cell = pmod(Curation.mixedKey(col("user_id"), 13L), lit(m.toLong))
    val occ = ev.select(col("event_type"), cell.as("__cell"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("__cell")).as("occupied"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    // a SATURATED table (occupied = m) is outside the estimator's
    // domain (ln of 0) — emit null, never a crash: hit live on the
    // 10x-amplified corpus where 15k users fill all 4096 cells
    val est = when(col("occupied") < m, round(lit(m.toDouble) *
      log(lit(m.toDouble) / (lit(m) - col("occupied")).cast("double")), 4))
    occ.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("occupied"),
        est.as("lc_estimate"),
        when(col("occupied") < m,
          round((lit(m.toDouble) *
            log(lit(m.toDouble) / (lit(m) - col("occupied")).cast("double")) -
            col("n_exact")) / col("n_exact").cast("double"), 6))
          .as("rel_error"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- q210

  /** q210 — rapid-repeat transaction screen: per user, consecutive
    * purchase events landing within one hour of the previous purchase
    * — the double-submit / replay / bot audit a payments pipeline
    * runs continuously (an exact-duplicate-invoice rule is vacuous on
    * near-continuous synthetic amounts — measured: zero pairs at any
    * SF — so the screen keys on TIME proximity, which the corpus
    * genuinely exhibits). ONE user-key window pass (lag over the
    * purchase stream, deterministic (ts, event_id) order), exact-µs
    * gaps, then a per-user scorecard of flagged users only: total
    * purchases, rapid repeats, tightest gap in seconds, repeat share.
    */
  def rapidRepeatScreen(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("__gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("__gap_us") <= 3600000000L, 1L).otherwise(0L))
          .as("rapid_repeats"),
        min(when(col("__gap_us") <= 3600000000L,
          expr("__gap_us div 1000000"))).as("min_gap_sec"))
      .filter(col("rapid_repeats") > 0)
      .select(col("user_id"), col("n_purchases"), col("rapid_repeats"),
        col("min_gap_sec"),
        round(col("rapid_repeats").cast("double") / col("n_purchases"), 6)
          .as("repeat_share"))
      .coalesce(1).orderBy(col("rapid_repeats").desc, col("user_id"))
  }

  // ---------------------------------------------------------------- q213

  /** q213 — capture–recapture population estimate: treat each event
    * type's distinct-user audience as an independent "capture" of the
    * user population and estimate the true population from every
    * audience PAIR with the Chapman estimator
    * (n₁+1)(n₂+1)/(m+1) − 1 — the mark-recapture technique that sizes
    * a population you can't enumerate (here the truth IS enumerable,
    * so the estimator's bias sits directly under the oracle gate next
    * to the exact answer). Intersections come from the q151 per-user
    * self-pairing (fan-out ≤ C(|types|,2) per user — never
    * user×user); the estimate is exact integer products with ONE
    * floor division, so no float rounding exists anywhere.
    */
  def captureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val ut = ev.select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("__sz"))
    val truth = ev.agg(countDistinct(col("user_id")).as("__t"))
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("overlap"))
    pairs
      .join(broadcast(sizes).withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("__sz", "n_a"), "type_a")
      .join(broadcast(sizes).withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("__sz", "n_b"), "type_b")
      .crossJoin(broadcast(truth))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("overlap"),
        expr("((n_a + 1) * (n_b + 1)) div (overlap + 1) - 1")
          .as("chapman_estimate"),
        col("__t").as("n_true"),
        round((expr("((n_a + 1) * (n_b + 1)) div (overlap + 1) - 1") -
          col("__t")).cast("double") / col("__t"), 6).as("bias"))
      .coalesce(1).orderBy(col("type_a"), col("type_b"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q84_table_checksum" -> (tableChecksum _),
    "q85_profile" -> (profileDocs _),
    "q86_corr_regr" -> (corrRegr _),
    "q87_unpivot" -> (unpivotPricing _),
    "q88_fuzzy_vocab" -> (fuzzyVocab _),
    "q93_snapshot_diff" -> (snapshotDiffStats _),
    "q94_rolling_checksum" -> (rollingChecksum _),
    "q99_benford" -> (benfordOrders _),
    "q125_jaro_pairs" -> (jaroPairs _),
    "q164_fd_audit" -> (fdAudit _),
    "q165_bitmap_distinct" -> (bitmapDistinct _),
    "q166_proration" -> (prorationQuery _),
    "q170_window_bitmap_dau" -> (windowBitmapDau _),
    "q181_k_anonymity" -> (kAnonymity _),
    "q185_join_fanout" -> (joinFanout _),
    "q207_linear_counting" -> (linearCounting _),
    "q210_rapid_repeats" -> (rapidRepeatScreen _),
    "q213_capture_recapture" -> (captureRecapture _))
}

/** DuckDB twins for [[Integrity]] (driver correctness gate). */
object IntegrityOracle {

  val all: Seq[(String, String)] = Seq(
    // portable digest twin: same rendering (ints + strings only), same
    // per-bucket ordering, same newline join, same md5 — and the SAME
    // size-derived bucket count (integer max(16, ceil(n/65536)), see
    // Integrity.checksumBuckets), so both engines derive the identical
    // geometry from the identical row count
    "q84_table_checksum" ->
      """WITH nb AS (
        |  SELECT greatest(16, (count(*) + 65535) // 65536) AS b FROM lineitem),
        |r AS (
        |  SELECT l_orderkey % (SELECT b FROM nb) AS bucket,
        |         concat_ws('|', l_orderkey, l_linenumber,
        |           CAST(round(l_extendedprice*100) AS BIGINT), l_returnflag) AS rs,
        |         l_orderkey, l_linenumber
        |  FROM lineitem)
        |SELECT bucket, count(*) AS n_rows,
        |       md5(string_agg(rs, chr(10) ORDER BY l_orderkey, l_linenumber, rs)) AS checksum
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q85_profile" ->
      """SELECT col_name, n_rows, n_null, n_distinct,
        |       substr(min_val, 1, 20) AS min_val, substr(max_val, 1, 20) AS max_val
        |FROM (
        |  SELECT 'text' AS col_name, count(*) AS n_rows, count(*)-count(text) AS n_null,
        |         count(DISTINCT text) AS n_distinct, min(text) AS min_val, max(text) AS max_val
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*), count(*)-count(lang), count(DISTINCT lang),
        |         min(lang), max(lang) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*), count(*)-count(source), count(DISTINCT source),
        |         min(source), max(source) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*)-count(n_chars), count(DISTINCT n_chars),
        |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents)
        |ORDER BY col_name""".stripMargin,

    // y-then-x argument order in both engines (regr_*(y, x))
    "q86_corr_regr" ->
      """SELECT l_returnflag,
        |  round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
        |  round(covar_samp(l_extendedprice, l_quantity), 4) AS covar_pq,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q87_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |         round(sum(l_quantity), 2) AS sum_qty,
        |         round(sum(l_extendedprice), 2) AS sum_price,
        |         CAST(count(*) AS DOUBLE) AS n_rows
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM wide
        |  UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM wide)
        |ORDER BY l_returnflag, metric""".stripMargin,

    // brute-force all-pairs twin with DuckDB's own jaro_winkler — the
    // native expression's conventions are under the gate pair by pair
    "q125_jaro_pairs" ->
      """WITH tok AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
        |t AS (SELECT w FROM tok WHERE length(w) > 0)
        |SELECT w1, w2, dist, jw FROM (
        |  SELECT a.w AS w1, b.w AS w2, levenshtein(a.w, b.w) AS dist,
        |         round(jaro_winkler_similarity(a.w, b.w), 6) AS jw
        |  FROM t a JOIN t b ON a.w < b.w AND levenshtein(a.w, b.w) <= 2)
        |WHERE jw >= 0.7
        |ORDER BY w1, w2""".stripMargin,

    // brute-force all-pairs twin — the engine's sym-delete blocking must
    // reproduce it exactly (losslessness under the gate)
    "q88_fuzzy_vocab" ->
      """WITH tok AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
        |t AS (SELECT w FROM tok WHERE length(w) > 0)
        |SELECT a.w AS w1, b.w AS w2, levenshtein(a.w, b.w) AS dist
        |FROM t a JOIN t b ON a.w < b.w AND levenshtein(a.w, b.w) <= 2
        |ORDER BY w1, w2""".stripMargin,

    // snapshot-diff twin: identical integer-µs midpoint cut, arg_max
    // latest per sparse key, full-outer classify
    "q93_snapshot_diff" ->
      """WITH base AS (
        |  SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) k,
        |         event_type, epoch_us(ts) us
        |  FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 m FROM base),
        |old AS (SELECT user_id, k, arg_max(event_type, us) v FROM base
        |        WHERE us < (SELECT m FROM mid) GROUP BY 1, 2),
        |new AS (SELECT user_id, k, arg_max(event_type, us) v FROM base
        |        WHERE us >= (SELECT m FROM mid) GROUP BY 1, 2),
        |diff AS (
        |  SELECT CASE WHEN o.user_id IS NULL THEN 'added'
        |              WHEN n.user_id IS NULL THEN 'removed'
        |              WHEN o.v <> n.v THEN 'changed' ELSE 'unchanged' END status
        |  FROM old o FULL JOIN new n ON o.user_id = n.user_id AND o.k = n.k)
        |SELECT status, count(*) AS n FROM diff GROUP BY status ORDER BY status""".stripMargin,

    // algebraic checksum twin: md5_number_lower IS the little-endian
    // lower half the engine assembles from the hex; reinterpret the
    // UBIGINT as signed and sum in HUGEINT (engine sums decimal(38,0))
    "q94_rolling_checksum" ->
      """WITH r AS (
        |  SELECT l_orderkey % 16 AS bucket,
        |         md5_number_lower(concat_ws('|', l_orderkey, l_linenumber,
        |           CAST(round(l_extendedprice*100) AS BIGINT), l_returnflag)) AS u
        |  FROM lineitem)
        |SELECT bucket, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN u >= 9223372036854775808::HUGEINT
        |                THEN CAST(u AS HUGEINT) - 18446744073709551616::HUGEINT
        |                ELSE CAST(u AS HUGEINT) END) AS VARCHAR) AS hash_sum
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,

    // numeric first-digit extraction (identical IEEE ops), shares over
    // the filtered total, Benford expectation log10(1 + 1/d)
    "q99_benford" ->
      """WITH d AS (
        |  SELECT CAST(floor(o_totalprice / power(10.0, floor(log10(o_totalprice)))) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT sum(n) AS tt FROM c)
        |SELECT digit, n,
        |       round(CAST(n AS DOUBLE) / tt, 6) AS obs_frac,
        |       round(log10(1.0 + 1.0 / digit), 6) AS exp_frac,
        |       round(abs(round(CAST(n AS DOUBLE) / tt, 6) - round(log10(1.0 + 1.0 / digit), 6)), 6) AS abs_dev
        |FROM c, t ORDER BY digit""".stripMargin,

    // same per-key exact-distinct aggregates, one row per declared FD
    "q164_fd_audit" ->
      """WITH
        |f1 AS (
        |  SELECT 'lineitem: l_partkey -> l_suppkey' AS fd,
        |         CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
        |  FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS d
        |        FROM lineitem GROUP BY l_partkey)),
        |f2 AS (
        |  SELECT 'events: user_id -> event_type' AS fd,
        |         CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT user_id, count(DISTINCT event_type) AS d
        |        FROM events GROUP BY user_id)),
        |f3 AS (
        |  SELECT 'documents: source -> lang' AS fd,
        |         CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT source, count(DISTINCT lang) AS d
        |        FROM documents GROUP BY source)),
        |f4 AS (
        |  SELECT 'orders: o_custkey -> o_orderpriority' AS fd,
        |         CAST(count(*) AS BIGINT), CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS d
        |        FROM orders GROUP BY o_custkey)),
        |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
        |SELECT fd, n_keys, n_violating,
        |       round(n_violating / CAST(n_keys AS DOUBLE), 6) AS violation_share
        |FROM u ORDER BY fd""".stripMargin,

    // identical 63-bit word packing; bit_or + popcount vs exact distinct
    "q165_bitmap_distinct" ->
      """WITH w AS (
        |  SELECT event_type, user_id // 63 AS wd,
        |         bit_or((1::BIGINT) << CAST(user_id % 63 AS INT)) AS m
        |  FROM events GROUP BY event_type, user_id // 63),
        |bm AS (
        |  SELECT event_type,
        |         CAST(sum(CAST(bit_count(m) AS BIGINT)) AS BIGINT) AS n_users_bitmap
        |  FROM w GROUP BY event_type),
        |ex AS (
        |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
        |  FROM events GROUP BY event_type)
        |SELECT bm.event_type, bm.n_users_bitmap, ex.n_users_exact
        |FROM bm JOIN ex ON ex.event_type = bm.event_type
        |ORDER BY bm.event_type""".stripMargin,

    // identical integer largest-remainder allocation; conservation
    // (max_abs_diff = 0) is itself part of the compared row
    "q166_proration" ->
      """WITH j AS (
        |  SELECT l.l_orderkey, l.l_linenumber,
        |         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS pc,
        |         o.o_orderpriority,
        |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS t
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |a AS (
        |  SELECT *, sum(pc) OVER (PARTITION BY l_orderkey) AS s FROM j),
        |b AS (
        |  SELECT *, (t * pc) // s AS base, (t * pc) % s AS fr FROM a),
        |c AS (
        |  SELECT *,
        |         t - sum(base) OVER (PARTITION BY l_orderkey) AS rem,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY fr DESC, l_linenumber) AS rk
        |  FROM b),
        |d AS (
        |  SELECT *, base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS alloc
        |  FROM c),
        |po AS (
        |  SELECT l_orderkey, o_orderpriority,
        |         CAST(count(*) AS BIGINT) AS n, CAST(sum(alloc) AS BIGINT) AS sa,
        |         CAST(min(t) AS BIGINT) AS tt,
        |         CAST(sum(CASE WHEN rk <= rem THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM d GROUP BY l_orderkey, o_orderpriority)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(n) AS BIGINT) AS n_lines,
        |       round(sum(sa) / 100.0, 2) AS alloc_total,
        |       round(sum(tt) / 100.0, 2) AS order_total,
        |       CAST(max(abs(sa - tt)) AS BIGINT) AS max_abs_diff,
        |       CAST(sum(nb) AS BIGINT) AS n_bumped
        |FROM po GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // DELIBERATELY the naive formulation (range join + count distinct):
    // the gate proves the bitmap path equals it end-to-end
    "q170_window_bitmap_dau" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du)
        |SELECT days.day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS n_users_7d
        |FROM days JOIN du ON du.day BETWEEN days.day - 6 AND days.day
        |GROUP BY days.day ORDER BY days.day""".stripMargin,

    // identical QI grain (value-based balance band, never ntile) and
    // identical <5 risk threshold
    "q181_k_anonymity" ->
      """WITH cls AS (
        |  SELECT n.n_name, c.c_mktsegment,
        |         floor(c.c_acctbal / 1000) AS band,
        |         count(*) AS k
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY n.n_name, c.c_mktsegment, floor(c.c_acctbal / 1000))
        |SELECT n_name, CAST(sum(k) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(min(k) AS BIGINT) AS min_k,
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |         AS rows_at_risk,
        |       round(sum(CASE WHEN k < 5 THEN k ELSE 0 END) /
        |             CAST(sum(k) AS DOUBLE), 6) AS risk_rate
        |FROM cls GROUP BY n_name ORDER BY n_name""".stripMargin,

    // same per-key count aggregates and sum-of-products estimate
    "q185_join_fanout" ->
      """WITH a AS (
        |  SELECT 'events_self_user' AS relationship, l.__nl, r.__nr
        |  FROM (SELECT user_id AS k, count(*) AS __nl FROM events GROUP BY 1) l
        |  JOIN (SELECT user_id AS k, count(*) AS __nr FROM events GROUP BY 1) r
        |    ON l.k = r.k),
        |b AS (
        |  SELECT 'lineitem_orders' AS relationship, l.__nl, r.__nr
        |  FROM (SELECT l_orderkey AS k, count(*) AS __nl FROM lineitem GROUP BY 1) l
        |  JOIN (SELECT o_orderkey AS k, count(*) AS __nr FROM orders GROUP BY 1) r
        |    ON l.k = r.k),
        |c AS (
        |  SELECT 'lineitem_part' AS relationship, l.__nl, r.__nr
        |  FROM (SELECT l_partkey AS k, count(*) AS __nl FROM lineitem GROUP BY 1) l
        |  JOIN (SELECT p_partkey AS k, count(*) AS __nr FROM part GROUP BY 1) r
        |    ON l.k = r.k),
        |d AS (
        |  SELECT 'orders_customer' AS relationship, l.__nl, r.__nr
        |  FROM (SELECT o_custkey AS k, count(*) AS __nl FROM orders GROUP BY 1) l
        |  JOIN (SELECT c_custkey AS k, count(*) AS __nr FROM customer GROUP BY 1) r
        |    ON l.k = r.k),
        |u AS (
        |  SELECT * FROM a UNION ALL SELECT * FROM b
        |  UNION ALL SELECT * FROM c UNION ALL SELECT * FROM d)
        |SELECT relationship, CAST(count(*) AS BIGINT) AS matched_keys,
        |       CAST(sum(__nl) AS BIGINT) AS rows_left,
        |       CAST(sum(__nr) AS BIGINT) AS rows_right,
        |       CAST(sum(__nl * __nr) AS BIGINT) AS est_out_rows,
        |       CAST(max(__nl * __nr) AS BIGINT) AS max_key_out,
        |       round(sum(__nl * __nr) / CAST(sum(__nl) AS DOUBLE), 4)
        |         AS amplification
        |FROM u GROUP BY relationship ORDER BY relationship""".stripMargin,

    // same integer mixer, same occupancy count, same closed-form
    // -m*ln(z/m) estimator over exact integers
    "q207_linear_counting" ->
      """WITH h AS (
        |  SELECT event_type, user_id,
        |         ((((user_id % 1000003) * 2654435761
        |            + (user_id >> 16) * 7919 + 13 * 10007)
        |           % 1000000007) * 2654435761) % 1000000007 % 4096
        |           AS cell
        |  FROM events),
        |occ AS (
        |  SELECT event_type, count(DISTINCT cell) AS occupied
        |  FROM h GROUP BY event_type),
        |ex AS (
        |  SELECT event_type, count(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY event_type)
        |SELECT ex.event_type, ex.n_exact, occ.occupied,
        |       CASE WHEN occ.occupied < 4096 THEN
        |         round(4096.0 * ln(4096.0 /
        |               CAST(4096 - occ.occupied AS DOUBLE)), 4) END
        |         AS lc_estimate,
        |       CASE WHEN occ.occupied < 4096 THEN
        |         round((4096.0 * ln(4096.0 /
        |               CAST(4096 - occ.occupied AS DOUBLE)) - ex.n_exact)
        |               / CAST(ex.n_exact AS DOUBLE), 6) END AS rel_error
        |FROM ex JOIN occ ON occ.event_type = ex.event_type
        |ORDER BY ex.event_type""".stripMargin,

    // same (ts, event_id)-ordered lag, same exact-µs 1-hour rule
    "q210_rapid_repeats" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |         epoch_us(ts) - epoch_us(lag(ts) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT user_id, count(*) AS n_purchases,
        |         sum(CASE WHEN gap_us <= 3600000000 THEN 1 ELSE 0 END)
        |           AS rapid_repeats,
        |         min(CASE WHEN gap_us <= 3600000000
        |                  THEN gap_us // 1000000 END) AS min_gap_sec
        |  FROM p GROUP BY user_id)
        |SELECT user_id, n_purchases, CAST(rapid_repeats AS BIGINT)
        |         AS rapid_repeats, min_gap_sec,
        |       round(CAST(rapid_repeats AS DOUBLE) / n_purchases, 6)
        |         AS repeat_share
        |FROM s WHERE rapid_repeats > 0
        |ORDER BY rapid_repeats DESC, user_id""".stripMargin,

    // same bounded per-user pairing, same integer Chapman estimator
    "q213_capture_recapture" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (
        |  SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
        |truth AS (
        |  SELECT count(DISTINCT user_id) AS t FROM events),
        |ov AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         count(*) AS overlap
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT ov.type_a, ov.type_b,
        |       sa.n AS n_a, sb.n AS n_b, ov.overlap,
        |       ((sa.n + 1) * (sb.n + 1)) // (ov.overlap + 1) - 1
        |         AS chapman_estimate,
        |       truth.t AS n_true,
        |       round(CAST(((sa.n + 1) * (sb.n + 1)) // (ov.overlap + 1)
        |             - 1 - truth.t AS DOUBLE) / truth.t, 6) AS bias
        |FROM ov JOIN sz sa ON sa.event_type = ov.type_a
        |        JOIN sz sb ON sb.event_type = ov.type_b
        |        CROSS JOIN truth
        |ORDER BY ov.type_a, ov.type_b""".stripMargin)
}

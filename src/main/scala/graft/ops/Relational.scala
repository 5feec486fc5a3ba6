package graft.ops

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType}

/** The relational operator inventory, SURVEY.md §2.2 (Q01–Q20).
  *
  * Every query is expressed with declarative DataFrame operations so
  * Catalyst gets full visibility: predicate pushdown and column pruning
  * reach the parquet scans, small dimension tables broadcast, aggregates
  * run partial+final, and everything stays inside whole-stage codegen.
  * The only derived operators are the as-of join (Q18, see [[AsOfJoin]])
  * and cosine similarity (Q13, higher-order functions — no UDF).
  *
  * Column aliases here must stay byte-identical to the oracle SQL in
  * [[graft.SparkEntry.oracleSql]] — the driver's comparator matches
  * columns by name.
  */
object Relational {

  private def ts(s: String) = to_timestamp(lit(s))

  /** Final total-order for group-bounded outputs (group-key cardinality
    * ≪ data size at every scale): merge to one partition first, so the
    * sort is a local sort — no range exchange and, critically, no
    * range-partitioner sampling job. Never use on unbounded outputs.
    */
  private def orderedSmall(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.coalesce(1).orderBy(cols: _*)

  /** Merge a GROUP-BOUNDED frame (≤ a few hundred rows at any scale —
    * typically a grouped aggregate over low-cardinality keys) to one
    * partition so every downstream operator — Expand for grouping sets,
    * a re-aggregation, a ranking window, the final sort — runs locally:
    * `CoalesceExec(1)` reports `SinglePartition`, which satisfies any
    * ClusteredDistribution, so EnsureRequirements inserts NO exchange
    * above it (r12, guide §2.4 "remove shuffles outright"). The same
    * reasoning as [[orderedSmall]], applied one operator earlier.
    * Never use on frames that scale with the corpus.
    */
  private def oneFold(df: DataFrame): DataFrame = df.coalesce(1)

  /** Grouping-set re-aggregation over a GROUP-BOUNDED base aggregate
    * with no second exchange (r12, guide §2.4). The builtin
    * rollup/cube/groupingSets plan an `Expand`, and `ExpandExec`
    * reports `UnknownPartitioning` (it rewrites the grouping columns),
    * so even a [[oneFold]]ed input gets re-exchanged for the final
    * aggregate. Here the expansion is an `explode` over one array of
    * per-set structs — `GenerateExec` PRESERVES its child's
    * partitioning, so over a SinglePartition base the re-aggregation
    * needs no exchange at all: the whole rollup tail (expand + re-agg
    * + sort) runs in the one task the final sort already needed.
    *
    * `__set` plays the role of `spark_grouping_id`: it keeps a
    * data-null key value at one grouping level distinct from the
    * subtotal null of a coarser level — exactly the builtin semantics
    * — and is dropped from the output. Aggregations re-applied per set
    * must be re-aggregable over the base grain (sum/count/min/max).
    *
    * Never use on frames that scale with the corpus: the base must be
    * group-bounded (the caller [[oneFold]]s it for exactly that
    * reason).
    */
  private def localGroupingSets(
      base: DataFrame,
      keys: Seq[String],
      sets: Seq[Seq[String]],
      aggFirst: org.apache.spark.sql.Column,
      aggRest: org.apache.spark.sql.Column*): DataFrame = {
    val valueCols = base.columns.toSeq.filterNot(keys.contains)
    val setStructs = sets.zipWithIndex.map { case (set, i) =>
      struct(
        (lit(i).as("__set") +:
          keys.map(k =>
            (if (set.contains(k)) col(k) else lit(null).cast(base.schema(k).dataType)).as(k))) ++
          valueCols.map(col): _*)
    }
    oneFold(base)
      .select(explode(array(setStructs: _*)).as("__e"))
      .select(col("__e.*"))
      .groupBy((col("__set") +: keys.map(col)): _*)
      .agg(aggFirst, aggRest: _*)
      .drop("__set")
  }

  /** Q01 — pricing summary: filter + multi-agg hash aggregate (TPC-H Q1). */
  def q01(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= ts("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .transform(orderedSmall(_, col("l_returnflag"), col("l_linestatus")))
  }

  /** Q02 — selective filter + scalar aggregate (TPC-H Q6). */
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(
        col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 20)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
  }

  /** Q03 — 5-way equi-join + agg (TPC-H Q5 analogue).
    *
    * Join order is written smallest-out first: region filter → nation →
    * customer → orders (all broadcastable at bench scale), so the only
    * shuffles are the fact-side l_orderkey exchange (none while ordDim
    * broadcasts) and the final aggregation.
    * nation/region are BOUNDED dims (25/5 rows at any SF) and keep
    * unconditional broadcast hints; custDim is customer-derived and
    * SCALES, so its hint goes through [[graft.ScaleConfig.scalingBroadcast]]
    * — broadcast while the session allows it, clean sort-merge demotion
    * when the operator sets autoBroadcastJoinThreshold=-1 (the regime
    * where customer no longer fits an executor). NoBroadcastPlanSpec
    * pins both plans.
    */
  def q03(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")

    val asiaNations = nation.join(
      broadcast(region.filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
    val custDim = customer.join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))

    // r11: attach the nation to ORDERS first, then probe the fact with
    // ONE join — the fact-side pipeline evaluates one hash probe per
    // lineitem row instead of two, and in the no-broadcast regime the
    // fact is shuffled ONCE (by l_orderkey) where the old
    // li⋈o-then-⋈custDim form re-shuffled the fact-scale join result a
    // second time by o_custkey. custDim/ordDim SCALE with the corpus
    // (customer/orders-derived): broadcast while the session allows it,
    // demote to keyed shuffle joins when broadcasts are off
    // (threshold=-1; see ScaleConfig.scalingBroadcast).
    val ordDim = orders
      .join(graft.ScaleConfig.scalingBroadcast(custDim),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("n_name"))
    lineitem
      .join(graft.ScaleConfig.scalingBroadcast(ordDim),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .transform(orderedSmall(_, col("revenue").desc, col("n_name")))
  }

  /** Q04 — global top-k (TakeOrderedAndProject: per-partition heap + merge). */
  def q04(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Q05 — ranking window, top-3 orders per customer. */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("p"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
      .limit(100)
  }

  /** Q06 — exact distinct count per group (expand + two-phase agg). */
  def q06(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))
      .transform(orderedSmall(_, col("event_type")))

  /** Q07 — ROLLUP grouping sets, PRE-AGGREGATED (r11, guide §2.3
    * "aggregate before you shuffle"): the naive `rollup` Expands every
    * fact row ×3 (one copy per grouping set) BEFORE the partial
    * aggregate, tripling the aggregation input. sum/count re-aggregate
    * losslessly, so the rollup runs over the (flag, status)-grain base
    * aggregate instead — the Expand multiplies ≤|groups| rows, not the
    * fact. At 100 TB the ×3 row multiplication moves from the fact scan
    * to a ~6-row frame; measured at sf0.1 bench (same host, same
    * session floor): median 0.512 → 0.402 s, min-of-5 0.494 → 0.359 s.
    *
    * r12 ([[localGroupingSets]], guide §2.4): the rollup
    * re-aggregation over the ≤|flag×status| base frame runs in the
    * SAME single task the final sort already needed — the r11 form
    * paid a second exchange + stage for it (the one cost the driver's
    * r11 bench charged this family). Plan: 2 exchanges → 1,
    * 3 stages → 2; the expansion input is unchanged (group-grain).
    */
  def q07(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_extendedprice")).as("__s"), count(lit(1)).as("__c"))
    localGroupingSets(base,
        Seq("l_returnflag", "l_linestatus"),
        Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag"), Seq()),
        round(sum(col("__s")), 2).as("s"), sum(col("__c")).as("c"))
      .transform(orderedSmall(_, col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))
  }

  /** Q08 — semi + anti join as scalar counts (null-safe NOT IN coincides
    * with anti join here: o_custkey is non-null in the corpus).
    * Single-pass: one left join against the distinct key set answers both
    * the EXISTS and NOT-EXISTS counts — halves the scans and jobs of the
    * naive semi+anti pair, and the distinct key side broadcasts.
    */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val orderKeys = Tables.load(spark, dir, "orders")
      .select(col("o_custkey")).distinct()
    // the distinct order-key set scales with orders — hint only while
    // the session permits broadcasts (see ScaleConfig.scalingBroadcast)
    customer.join(graft.ScaleConfig.scalingBroadcast(orderKeys),
        col("c_custkey") === col("o_custkey"), "left")
      .agg(
        count(when(col("o_custkey").isNotNull, 1)).as("with_orders"),
        count(when(col("o_custkey").isNull, 1)).as("without_orders"))
  }

  /** Q09 — calendar month bucketing + agg. */
  def q09(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(count(lit(1)).as("c"), round(sum(col("o_totalprice")), 2).as("s"))
      .transform(orderedSmall(_, col("m")))

  /** Q10 — JSON path extraction over events.props. */
  def q10(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(avg(get_json_object(col("props"), "$.k").cast("int")), 4).as("avg_k"))
      .transform(orderedSmall(_, col("event_type")))

  /** Q11 — sessionization: lag window + 30-minute gap rule (batch twin of
    * streaming session windows). One shuffle on user_id serves both the
    * window and the re-aggregation. */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.load(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_s")).as("sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
      .limit(100)
  }

  /** Q12 — exact dedup counts over (lang, source, text); the public
    * operator form lives in [[graft.text.Dedup.exact]]. */
  def q12(spark: SparkSession, dir: String): DataFrame =
    // single pass: group sizes give both the unique count and, re-summed,
    // the total — no second scan, no crossJoin of two scalar jobs
    Tables.load(spark, dir, "documents")
      .groupBy(col("lang"), col("source"), col("text"))
      .agg(count(lit(1)).as("dup_cnt"))
      .agg(count(lit(1)).as("n_unique"), sum(col("dup_cnt")).as("n_total"))

  /** Q13 — brute-force cosine top-k vs query vector 0 (exact baseline the
    * LSH path approximates). Query vector is a 1-row broadcast. */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(asDouble(col("embedding")).as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.GraftFunctions.cosineSim(asDouble(col("embedding")), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** Q14 — tumbling 1-hour window aggregate (batch twin of A5 streaming). */
  def q14(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum(col("value")), 2).as("s"))
      .select(col("window.start").as("w"), col("event_type"), col("c"), col("s"))
      .orderBy(col("w"), col("event_type"))
      .limit(200)

  /** Q15 — set operations (UNION distinct / INTERSECT / EXCEPT).
    * Computed in one pass: the two key columns union side-tagged, one
    * keyed aggregate derives each key's membership flags, and all three
    * set cardinalities fall out of one scalar aggregate — 2 exchanges
    * and no join (the r1–r10 form distinct-ed each side and full-outer
    * joined: 3 shuffles + a join; the naive union-of-three-subqueries
    * plan is 6 exchanges).
    */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    // r11: one keyed aggregate instead of two distincts + a full-outer
    // join — the union's partial aggregation collapses each map
    // partition to ≤|keys| rows before the single shuffle, and the
    // membership flags fall out of max() over the side tag. Same three
    // counts, two exchanges and zero joins (was: 2 distinct shuffles +
    // join + agg). Measured at sf0.1 bench (same host/session):
    // median 0.453 → 0.253 s, min-of-5 0.402 → 0.236 s.
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").as("k"), lit(1).as("__side"))
    val s = Tables.load(spark, dir, "supplier")
      .select(col("s_nationkey").as("k"), lit(2).as("__side"))
    // r12 (oneFold): the scalar re-count runs on the ≤|keys|-row keyed
    // aggregate — folding it to one partition first removes the
    // SinglePartition exchange + its stage (2 exchanges → 1).
    // Null-key note (r11 ADVICE): groupBy unifies a null key from both
    // sides into ONE group with in_c AND in_s true — SQL set-op
    // GROUPING semantics, and what DuckDB's UNION/INTERSECT/EXCEPT
    // (distinct) compute; the pre-r11 distinct+full-outer-join form
    // never matched null keys, which was the DIVERGENT one. nationkey
    // is non-null in the corpus, so both agreed at bench.
    val sets = oneFold(c.unionByName(s)
      .groupBy(col("k"))
      .agg(max(col("__side") === 1).as("in_c"), max(col("__side") === 2).as("in_s")))
      .agg(
        count(lit(1)).as("all_distinct"),
        count(when(col("in_c") && col("in_s"), 1)).as("both"),
        count(when(col("in_c") && !col("in_s"), 1)).as("cust_only"))
    sets.select(explode(map(
        lit("all_distinct"), col("all_distinct"),
        lit("both"), col("both"),
        lit("cust_only"), col("cust_only"))).as(Seq("tag", "c")))
      .transform(orderedSmall(_, col("tag")))
  }

  /** Q16 — string function battery (LIKE / substr / upper / length / regex). */
  def q16(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "part")
      .agg(
        count(when(col("p_name").like("%red%"), 1)).as("n_red"),
        countDistinct(upper(substring(col("p_type"), 1, 3))).as("n_pfx"),
        sum(length(col("p_name"))).as("tot_len"),
        count(when(col("p_name").rlike("^(red|blue) "), 1)).as("n_regex"))

  /** Q17 — array higher-order functions: per-row L2 norm fold + agg. */
  def q17(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("label"), l2Norm(asDouble(col("embedding"))).as("l2"))
      .groupBy(col("label"))
      .agg(round(avg(col("l2")), 3).as("avg_l2"))
      .transform(orderedSmall(_, col("label")))

  /** Q18 — as-of join: each purchase matched to the latest click at or
    * before it (same user). Inner semantics: unmatched purchases drop. */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase").select(col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click").select(col("user_id"), col("ts"))
    AsOfJoin(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("ts" -> "click_ts"))
      .filter(col("click_ts").isNotNull)
      .select(((unix_micros(col("ts")) - unix_micros(col("click_ts"))) / lit(1e6)).as("gap_s"))
      .agg(count(lit(1)).as("n_matched"), round(avg(col("gap_s")), 2).as("avg_gap_s"))
  }

  /** Q19 — CUBE grouping sets over (event_type, day), PRE-AGGREGATED
    * (r11, same rationale as [[q07]]): the cube's ×4 Expand runs over
    * the (type, day)-grain counts — exact integer re-aggregation, so
    * the rewrite is lossless by construction. At 100 TB the Expand
    * multiplies a |type×day|-grain frame, not the fact.
    *
    * r12 ([[localGroupingSets]], guide §2.4): r11's base aggregate
    * paid a second exchange + stage for the cube re-aggregation, which
    * the driver's bench measured as a 0.26 → 0.39 s regression vs the
    * direct cube. The explode-based expansion over the folded
    * |type×day| frame runs expand + re-agg + sort in the single task
    * the final sort already needed: 2 exchanges → 1, 3 stages → 2 —
    * fewer exchanges than BOTH earlier forms, with the fact-side
    * Expand still gone.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "events")
      .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("__c"))
    localGroupingSets(base,
        Seq("event_type", "d"),
        Seq(Seq("event_type", "d"), Seq("event_type"), Seq("d"), Seq()),
        sum(col("__c")).as("c"))
      .transform(orderedSmall(_, col("event_type").asc_nulls_first, col("d").asc_nulls_first))
  }

  /** Q20 — argmax per group: most common nation per region (3-way join
    * + agg + argmax over the (region, nation)-grain counts).
    *
    * r11 tried a min(struct(−count, name)) aggregate for the argmax;
    * a struct is not a mutable hash-aggregation buffer type, so Spark
    * planned it as SortAggregate — two extra Sorts, no codegen — and
    * the driver's bench measured the regression (0.29 → 0.35 s). r12:
    * the counts frame is GROUP-BOUNDED (≤|regions×nations| rows at any
    * scale), so [[oneFold]] merges it to one partition and the rank-1
    * window runs there with NO exchange (SinglePartition satisfies the
    * window's ClusteredDistribution) — one local sort of a tiny frame,
    * everything around it codegen. The final orderBy(r_name) is
    * satisfied by the window's (r_name, c DESC, n_name) sort order, so
    * EnsureRequirements elides that sort too. Plan: 2 shuffle
    * exchanges → 1, SortAggregate ×2 → 0, 5 stages → 2 + 2 broadcast
    * builds. Tie rule unchanged: highest c, then lowest n_name.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    val counts = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("r_name"))
      .orderBy(col("c").desc, col("n_name"))
    oneFold(counts)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("r_name"), col("n_name"), col("c"))
      .orderBy(col("r_name"))
  }

  /** Q32 — exact percentiles + correlation (ordered-set & co-moment
    * aggregates). Spark's exact `percentile` interpolates at rank
    * (n−1)·p — the same definition as DuckDB's `quantile_cont`. */
  def q32(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(corr(col("value"), col("k")), 4).as("corr_vk"))
      .transform(orderedSmall(_, col("event_type")))

  /** Q33 — correlated scalar subquery, expressed decorrelated: per-key
    * aggregate + equi-join, the shape Catalyst's
    * `RewriteCorrelatedScalarSubquery` produces anyway — written directly
    * so the join is a plain shuffle/broadcast hash join at any scale.
    */
  def q33(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    Tables.load(spark, dir, "customer")
      .join(counts, col("c_custkey") === col("o_custkey"))
      .filter(col("n_orders") >= 12)
      .select(col("c_custkey"), col("n_orders"))
      .orderBy(col("n_orders").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q34 — window frame battery: running sum (ROWS UNBOUNDED PRECEDING),
    * lead, ntile — one shuffle on o_custkey shared by all three frames. */
  def q34(spark: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .filter(col("o_custkey") < 30)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice"), 2).as("p"),
        round(sum(col("o_totalprice"))
          .over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("run_sum"),
        round(lead(col("o_totalprice"), 1).over(byDate), 2).as("next_p"),
        ntile(4).over(byPrice).as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .limit(100)
      .drop("o_orderdate")
  }

  /** Q35 — pivoted conditional aggregation (what `.pivot(col, values)`
    * rewrites to): one pass, one shuffle, no per-value scans. */
  def q35(spark: SparkSession, dir: String): DataFrame = {
    def pv(t: String) =
      round(sum(when(col("event_type") === t, col("value")).otherwise(0d)), 2)
    Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        pv("click").as("click_v"),
        pv("purchase").as("purchase_v"),
        pv("view").as("view_v"),
        count(lit(1)).as("n"))
      .orderBy(col("user_id"))
      .limit(50)
  }

  /** Q36 — date arithmetic over a fact-fact join: order-to-ship lag in
    * days, bucketed by order month. The o↔l equi-join is the one real
    * shuffle; both sides prune to 2–3 columns at the scan. */
  def q36(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(
        round(avg(datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))), 4)
          .as("avg_ship_days"),
        count(lit(1)).as("c"))
      .transform(orderedSmall(_, col("m")))
  }

  /** Q38 — trailing-1h moving average per user (RANGE frame, µs-exact) —
    * SURVEY A7 exposed as an oracle query via [[Analytics.movingAgg]]. */
  def q38(spark: SparkSession, dir: String): DataFrame =
    Analytics.movingAgg(
        Tables.load(spark, dir, "events").filter(col("user_id") < 5),
        "user_id", "ts", "value", 3600)
      .select(col("user_id"), col("ts"), round(col("avg_value_3600s"), 4).as("mv"))
      .orderBy(col("user_id"), col("ts"))
      .limit(100)

  /** Q39 — banded range self-join (SURVEY A8 via [[Analytics.bandJoin]]):
    * same-user event pairs within 60 s, counted per type pair. The band
    * rewrite keeps this a keyed shuffle — the naive theta form is a
    * nested loop that dies at scale. */
  def q39(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val l = ev.select(col("user_id"), col("event_id").as("eid_a"),
      col("event_type").as("ta"), col("ts").as("tsa"))
    val r = ev.select(col("user_id"), col("event_id").as("eid_b"),
      col("event_type").as("tb"), col("ts").as("tsb"))
    Analytics.bandJoin(l, r, Seq("user_id"), "tsa", "tsb", 60)
      .filter(col("eid_a") < col("eid_b"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("c"))
      .transform(orderedSmall(_, col("ta"), col("tb")))
  }

  /** q43 — explicit GROUPING SETS: the general grouping-set form that
    * ROLLUP (q07) and CUBE (q19) are shorthands for — here a mixed set
    * ((flag, status), (flag), ()) no shorthand expresses. One Expand +
    * one aggregate, same physical shape as rollup/cube.
    */
  def q43(spark: SparkSession, dir: String): DataFrame = {
    // r11: pre-aggregated like q07/q19 — the expansion multiplies the
    // (flag, status)-grain base aggregate, not the fact scan.
    // r12: localGroupingSets removes the re-aggregation's exchange
    // (see q07).
    val base = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("__q"), count(lit(1)).as("__n"))
    localGroupingSets(base,
        Seq("l_returnflag", "l_linestatus"),
        Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag"), Seq()),
        round(sum(col("__q")), 2).as("sum_qty"), sum(col("__n")).as("n"))
      .transform(orderedSmall(_,
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first))
  }

  /** q47 — BAG-semantics set operations (EXCEPT ALL / INTERSECT ALL /
    * UNION ALL), the multiplicity-preserving complement of q15's
    * distinct set ops. Exercises `exceptAll`/`intersectAll` directly
    * (Spark plans them as aggregate+generate over signed counts — no
    * distinct collapse). The 100 TB alternative when only COUNTS are
    * needed: one full-outer join of per-key counts, then
    * Σmax(a−b,0) / Σmin(a,b) / Σ(a+b) — one shuffle total.
    */
  def q47(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer").select(col("c_nationkey").as("k"))
    val s = Tables.load(spark, dir, "supplier").select(col("s_nationkey").as("k"))
    def tagged(tag: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("c")).select(lit(tag).as("tag"), col("c"))
    tagged("except_all", c.exceptAll(s))
      .unionByName(tagged("inter_all", c.intersectAll(s)))
      .unionByName(tagged("union_all", c.union(s)))
      .transform(orderedSmall(_, col("tag")))
  }

  /** q55 — Bloom-pruned fact⋈dim join ([[Prune.bloomPrunedJoin]]): the
    * lineitem fact pre-filters against a Bloom filter over the urgent
    * orders' keys BEFORE any join machinery touches it. Oracle = the
    * plain join, because pruning is result-invisible (no false
    * negatives; false positives die in the join). At 100 TB this is the
    * difference between shuffling the whole fact table and shuffling
    * only the ~⅕ of it that can match.
    */
  def q55(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val urgent = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    Prune.bloomPrunedJoin(li, urgent, "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .transform(orderedSmall(_, col("l_returnflag")))
  }

  /** q56 — SLIDING 1h/30min window aggregate, the overlap complement of
    * q14's tumbling window: each event lands in exactly two
    * epoch-aligned windows. Spark's `window(ts, width, slide)` plans
    * this as one generate (per-row window expansion) + one hash
    * aggregate — same shuffle count as tumbling, output ×(width/slide).
    */
  def q56(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum(col("value")), 2).as("s"))
      .select(col("window.start").as("w"), col("event_type"), col("c"), col("s"))
      .orderBy(col("w"), col("event_type"))
      .limit(200)

  /** Latest-record-per-key — the CDC-compaction / upsert-view primitive:
    * one row per key, the maximum by `orderCols` (which must totally
    * order rows within a key — include a unique tiebreaker, or ties
    * resolve by comparing the remaining payload fields). Implemented as
    * ONE `max(struct(order ⧺ payload))` hash aggregate: partial
    * aggregation collapses each map partition to ≤|keys| rows BEFORE the
    * shuffle, so at 100 TB (think: day of change-log, billions of rows,
    * millions of keys) the wire carries keys, not rows — where the
    * window/`row_number` formulation shuffles and sorts EVERY row.
    * Null order values sort first (Spark struct comparison), so a
    * non-null record always beats an all-null one.
    */
  def latestByKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty, "need key and order columns")
    val payload = df.columns.filterNot(c => keyCols.contains(c) || orderCols.contains(c))
    val ordered = orderCols ++ payload
    df.groupBy(keyCols.map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("__top"))
      .select(keyCols.map(col) ++ ordered.map(c => col(s"__top.$c").as(c)): _*)
  }

  /** q60 — latest event per user ([[latestByKey]]): the upsert-view
    * read of the event change-log. `ts_us` exports epoch micros (the
    * engine's native timestamp precision) so the oracle compares
    * integers, not formatted timestamps.
    */
  def q60(spark: SparkSession, dir: String): DataFrame =
    latestByKey(Tables.load(spark, dir, "events"),
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .transform(orderedSmall(_, col("user_id")))

  /** q61 — null-semantics battery: NULLIF-manufactured nulls exercise
    * null GROUPING (nulls form one group), count(*) vs count(col) vs
    * count(DISTINCT col) (the latter two skip nulls), the NULL-SAFE
    * equality `<=>` (true when both sides are null — plain `=` would be
    * unknown), and NULLS FIRST ordering. Pure single-pass aggregate.
    */
  def q61(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(expr("nullif(event_type, 'click')").as("x"),
        expr("nullif(event_type, 'view')").as("y"))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("n"), count(col("y")).as("n_y"),
        countDistinct(col("y")).as("nd_y"),
        count(when(col("x") <=> col("y"), 1)).as("nullsafe_eq"))
      .transform(orderedSmall(_, col("x").asc_nulls_first))

  /** q62 — second window-function battery (complement of q34's running
    * sum/lead/ntile): first/last/nth_value over the FULL frame,
    * percent_rank and cume_dist over the default ranking frame. One
    * partition ordering serves all five — one shuffle + one sort; the
    * per-priority re-aggregation keeps the output group-bounded.
    * Ordering includes the unique o_orderkey so rank ties cannot exist
    * and every function is deterministic.
    *
    * SIZE-GUARDED (the q116/q133 pattern; r8 100× sweep measured the
    * window form 12.8× for 10× data): o_orderpriority has 5 values, so
    * the window sort runs in 5 tasks no matter the cluster — above
    * [[WindowBatteryMaxRows]] the SAME five outputs are read off
    * [[Concentration.groupedCumCounts]]' block-parallel cumulative
    * counts instead. Every output is tie-invariant closed form under
    * the unique (price, orderkey) order: first = group min, last =
    * group max, nth_value(10) = the value whose inclusive cumulative
    * count first reaches 10 (null when N < 10, like the window), avg
    * percent_rank = Σ(i−1)/(N−1)/N = 1/2 exactly (0 when N = 1), avg
    * cume_dist = Σ(i/N)/N = (N+1)/(2N) — so both paths agree at the
    * 2/4-dp rounding the query reports (spec-pinned equivalence).
    */
  val WindowBatteryMaxRows = 2000000L

  def q62(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    if (orders.count() <= WindowBatteryMaxRows) q62Window(orders)
    else q62Scalable(orders)
  }

  private[ops] def q62Window(orders: DataFrame): DataFrame = {
    val full = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rank = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders
      .select(col("o_orderpriority"),
        first(col("o_totalprice")).over(full).as("fv"),
        last(col("o_totalprice")).over(full).as("lv"),
        nth_value(col("o_totalprice"), 10).over(full).as("nth"),
        percent_rank().over(rank).as("pr"),
        cume_dist().over(rank).as("cd"))
      .groupBy(col("o_orderpriority"))
      .agg(round(min(col("fv")), 2).as("min_first"),
        round(max(col("lv")), 2).as("max_last"),
        round(min(col("nth")), 2).as("nth10"),
        round(avg(col("pr")), 4).as("avg_pr"),
        round(avg(col("cd")), 4).as("avg_cd"))
      .transform(orderedSmall(_, col("o_orderpriority")))
  }

  private[ops] def q62Scalable(orders: DataFrame): DataFrame = {
    val cum = Concentration.groupedCumCounts(
      orders.select(col("o_orderpriority"), col("o_totalprice")),
      "o_orderpriority", "o_totalprice")
    cum.groupBy(col("o_orderpriority"))
      .agg(round(min(col("__v")), 2).as("min_first"),
        round(max(col("__v")), 2).as("max_last"),
        round(min(when(col("__cum") >= 10, col("__v"))), 2).as("nth10"),
        max(col("__n")).as("__N"))
      .select(col("o_orderpriority"), col("min_first"), col("max_last"),
        col("nth10"),
        when(col("__N") > 1, lit(0.5)).otherwise(lit(0.0)).as("avg_pr"),
        round((col("__N") + 1) / (col("__N") * 2.0), 4).as("avg_cd"))
      .transform(orderedSmall(_, col("o_orderpriority")))
  }

  /** q63 — array-operation battery over tokenized documents: sort,
    * distinct, slice, reverse, membership — the HOF/array surface a
    * curation stage leans on. The array results are rendered as
    * space-joined strings (`array_join` / `array_to_string`) because the
    * driver's pandas comparator cannot sort/hash raw list cells
    * (numpy.ndarray is unhashable — CORRECTNESS_r03 q63 err); the array
    * operators themselves are unchanged, only the output rendering is
    * scalar. `array_sort` AFTER `array_distinct` because distinct's
    * output order is implementation-defined in both engines.
    */
  def q63(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        array_join(slice(array_sort(array_distinct(col("toks"))), 1, 5), " ").as("first5"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        array_join(slice(reverse(col("toks")), 1, 3), " ").as("rev3"),
        array_contains(col("toks"), "the").as("has_the"))
      .transform(orderedSmall(_, col("doc_id")))

  /** q64 — TPC-H Q21-style "late alone" multi-EXISTS, written
    * DECORRELATED: the textbook form is two correlated EXISTS/NOT EXISTS
    * subqueries per lineitem; here each collapses into a per-(order,
    * supplier) aggregate whose per-ORDER statistics come from a WINDOW
    * over the same frame. "Late" = shipped more than 90 days after the
    * order date; a supplier qualifies in orders with ≥2 suppliers where
    * it was the ONLY late one.
    *
    * Round-10 (the one open r9 scale flag, adjudicated by plan forensics
    * not drift): the per-order stats used to be a groupBy + self-join
    * back onto perOrderSupp — Spark reuses only the EXCHANGES across the
    * two branches, so the 100× executed plan ran the 60 M-row merge join
    * AND the (order, supplier) aggregate TWICE (visible in the adaptive
    * plan: the same SMJ at stages (7) and (10), both over
    * ReusedExchange inputs). The whole-partition window computes
    * n_supp/n_late in ONE pass over the aggregate's existing
    * ok-partitioning — no second join, no second aggregation, and the
    * only fact-scale exchanges left are the two join inputs. Measured
    * at 100×: 71.4 s → 15.9 s (10×: 6.1 → 3.7 s; ratio 15.3 → 4.3,
    * linear). A shuffle-hash hint on the big join was tried first and
    * REJECTED by measurement (96 s vs SMJ's 71 s at 100× — the
    * per-partition hash build loses to the sort at this shape).
    */
  def q64(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val perOrderSupp = li.join(o,
        li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1)
        .otherwise(0)).as("late"))
    // r12 (guide §2.4, the q20 recipe): the r10 whole-partition window
    // still paid a full SORT of the (order, supplier) frame by
    // l_orderkey plus a two-pass WindowExec materialization, only to
    // ask three per-order questions. A per-order hash AGGREGATE answers
    // all three without sorting: n_supp = count, n_late = Σlate, and —
    // because a qualifying order has EXACTLY ONE late supplier — that
    // supplier's key is max(when(late = 1, suppkey)) (any pick rule
    // works over a one-element set; max needs no distinct machinery).
    // The filter then runs on ORDER grain (|orders| rows, not
    // |order × supplier|), and the final per-supplier count re-uses the
    // same exact-integer semantics. The executed plan loses the Window
    // + its Sort (plan pair in plans/r12/); exchange count unchanged —
    // the sort and the member-grain filter pass are the win (A/B
    // numbers in OPTIMIZATION_r12.md).
    perOrderSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"),
        max(when(col("late") === 1, col("l_suppkey"))).as("l_suppkey"))
      .filter(col("n_late") === 1 && col("n_supp") >= 2)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("l_suppkey"))
      .limit(10)
  }

  /** q65 — FULL OUTER join battery: per-nation customer vs supplier
    * counts over deliberately asymmetric slices (customers from nations
    * <20, suppliers from nations >5), so both unmatched sides actually
    * occur and the null-coalescing semantics are exercised. Aggregate
    * BEFORE the join: the outer join runs on two key-cardinality-sized
    * inputs, never on raw rows.
    */
  def q65(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .filter(col("c_nationkey") < 20)
      .groupBy(col("c_nationkey").as("k")).agg(count(lit(1)).as("c_cnt"))
    val s = Tables.load(spark, dir, "supplier")
      .filter(col("s_nationkey") > 5)
      .groupBy(col("s_nationkey").as("k")).agg(count(lit(1)).as("s_cnt"))
    c.join(s, Seq("k"), "full_outer")
      .select(col("k"), coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
        coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
      .transform(orderedSmall(_, col("k")))
  }

  /** q67 — schema-drift union: two ingest "generations" of the same
    * table with different column sets merge by NAME with missing
    * columns null-filled (`unionByName(allowMissingColumns)` — the
    * positional `union` would silently misalign), then aggregate across
    * the seam. The everyday shape of a table whose schema grew
    * mid-history; at scale this is how old and new partitions read as
    * one relation without a rewrite.
    */
  def q67(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val gen1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val gen2 = o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .groupBy(coalesce(col("o_orderpriority"), lit("<missing>")).as("prio"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .transform(orderedSmall(_, col("prio")))
  }

  /** q70 — time-series GAP FILL: hourly error counts joined onto a
    * generated calendar spine, missing hours surfacing as explicit
    * zeros (a plain groupBy silently skips empty buckets — poison for
    * downstream moving averages and anomaly baselines). The spine
    * derives from one scalar min/max aggregate and `sequence()`, so it
    * is hours-sized regardless of event volume, and the left join runs
    * small-spine ⋈ small-aggregate — the raw table is touched exactly
    * once, by the aggregate.
    */
  def q70(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val hourly = ev.filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"), round(sum(col("value")), 2).as("s"))
    val spine = ev
      .agg(min(date_trunc("hour", col("ts"))).as("lo"),
        max(date_trunc("hour", col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
    spine.join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("s"), lit(0.0)).as("s"))
      .orderBy(col("h")).limit(200)
  }

  /** q71 — DecimalType surface (oracle-checked): the corpus stores
    * money as double (SURVEY §1.2 put decimals off the critical path),
    * but real money columns arrive as DECIMAL fast — so cast at the
    * scan and aggregate in EXACT decimal arithmetic (sum, discounted
    * sum). Sums are rendered as strings: decimal-to-string is exact
    * and identical across engines, where double rendering can diverge
    * in the last bit. The avg goes through the exact decimal sum, cast
    * to double only for the final division (both engines divide the
    * same exact value — deterministic IEEE). DuckDB's `avg(DECIMAL)`
    * returns DOUBLE, which is why avg is NOT aggregated natively.
    */
  def q71(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    li.filter(col("l_shipdate") <= ts("1998-09-01"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(price).as("sum_base_dec"),
        sum(price * (lit(1) - disc)).as("sum_disc_dec"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"),
        col("sum_base_dec").cast("string").as("sum_base"),
        col("sum_disc_dec").cast("string").as("sum_disc"),
        round(col("sum_base_dec").cast("double") / col("cnt"), 4).as("avg_price"),
        col("cnt"))
      .transform(orderedSmall(_, col("l_returnflag")))
  }

  /** q72 — MapType surface (oracle-checked): parse the JSON props into
    * a real `map<string,bigint>` column, explode its entries, and
    * aggregate per (event_type, key). Closes the declared MapType gap
    * the same way q71 closes DecimalType: the corpus carries no native
    * map column, so the map is materialized in-plan (`from_json` to
    * MapType — schema-pinned, no sampling inference) and the map
    * codepath (MapType encoder → generate/explode over entries) is what
    * the query exercises; the oracle reproduces the values from the
    * JSON text with `json_keys`/`json_extract`.
    */
  def q72(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.select(col("event_type"),
        from_json(col("props"), MapType(StringType, LongType)).as("m"))
      .select(col("event_type"), explode(col("m")).as(Seq("k", "v")))
      .groupBy(col("event_type"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .transform(orderedSmall(_, col("event_type"), col("k")))
  }

  /** q82 — as-of join under HEAVY timestamp ties, oracled by DuckDB's
    * native `ASOF JOIN` (the only engine-to-engine pin of the derived
    * operator's boundary semantics; the unit/property specs pin it
    * against an in-repo reference scan). Both sides' ts are truncated
    * to the hour so equal timestamps are the common case, exercising
    * the inclusive rule (rt == lt matches) in both directions —
    * backward (`l.ts >= r.ts`) and forward (`l.ts <= r.ts`). The right
    * side is pre-aggregated to one row per (user, hour): with duplicate
    * right timestamps the carried payload is ambiguous in any engine.
    */
  def q82(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), date_trunc("hour", col("ts")).as("ts"), col("value"))
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("v"))
    def stats(direction: String, sfx: String) =
      AsOfJoin(views, clicks, Seq("user_id"), "ts", "ts", Seq("v" -> "v"),
          direction = direction)
        .agg(count(col("v")).as(s"n_$sfx"),
          round(sum(col("v")), 2).as(s"sum_v_$sfx"))
    views.agg(count(lit(1)).as("n_left"))
      .crossJoin(stats("backward", "b"))
      .crossJoin(stats("forward", "f"))
  }

  /** q91 — concurrent-session detection: sessionize (30-min gap, the
    * q11 rule) a bounded user cohort, then find cross-user session
    * pairs that overlap in time via [[IntervalJoin.overlapJoin]] — the
    * bucket-tiled rewrite (one keyed shuffle, each pair emitted exactly
    * once in its overlap-start bucket), never a nested loop. The oracle
    * replays the naive range-predicate self-join, so the tiling
    * rewrite's exactness is itself under the gate.
    */
  def q91(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sess = Tables.load(spark, dir, "events")
      .filter(col("user_id") < 50)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
    val a = sess.select(col("user_id").as("u1"), col("st").as("st1"), col("en").as("en1"))
    val b = sess.select(col("user_id").as("u2"), col("st").as("st2"), col("en").as("en2"))
    IntervalJoin.overlapJoin(a, b, "st1", "en1", "st2", "en2", bucketSeconds = 6 * 3600)
      .filter(col("u1") < col("u2"))
      .groupBy(col("u1"), col("u2")).agg(count(lit(1)).as("n_overlaps"))
      .orderBy(col("n_overlaps").desc, col("u1"), col("u2"))
      .limit(20)
  }

  /** q92 — rolling engagement (DAU/WAU/MAU): exact trailing-window
    * distinct users per day via [[Analytics.rollingActiveUsers]]'
    * bounded contribution-explode (each day-user grain row fans out to
    * its ≤30 target days — never a day×day self-join). The oracle
    * replays the windows as day-range joins.
    */
  def q92(spark: SparkSession, dir: String): DataFrame =
    Analytics.rollingActiveUsers(
        Tables.load(spark, dir, "events"), "user_id", "ts", Seq(7, 30))
      .select(col("d"), col("dau"), col("au_7").as("wau"), col("au_30").as("mau"))
      .orderBy(col("d"))

  // ----------------------------------------------------- q158–q162
  // The decorrelation battery: the classic TPC-H correlated-subquery
  // shapes (Q2 / Q17 / Q15 / Q22 / Q18), each written in the
  // decorrelated join form that survives at fact-table scale — a
  // per-key aggregate joined back instead of a per-row subquery
  // re-execution. All money/quantity arithmetic in exact integer
  // cents so both engines compare identical values; thresholds
  // against averages are cross-multiplied into pure integer
  // comparisons (x > avg ⟺ x·n > sum), so no float division can
  // disagree at a boundary.

  /** q158 — cheapest supplier per part (TPC-H Q2 shape): for each
    * size-10 part, the supplier(s) whose lineitem price achieves the
    * per-part minimum. The textbook form is a correlated scalar
    * `= (SELECT min(...) WHERE partkey = outer)`; here it is one
    * per-part min aggregate joined back on (partkey, price) — two
    * keyed shuffles, ties kept (both engines emit every minimal
    * supplier). Global top-100 by price via TakeOrdered, so the
    * output stays bounded at any scale.
    */
  def q158(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.load(spark, dir, "part")
      .filter(col("p_size") === 10).select(col("p_partkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("l_extendedprice") * 100).cast("long").as("__pc"))
      .join(parts, col("l_partkey") === col("p_partkey"))
    val minp = li.groupBy(col("l_partkey").as("__mk"))
      .agg(min(col("__pc")).as("__min"))
    li.join(minp, col("l_partkey") === col("__mk") && col("__pc") === col("__min"))
      .select(col("l_partkey"), col("l_suppkey"), col("__min")).distinct()
      .join(Tables.load(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.load(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_name"), col("n_name"),
        round(col("__min") / lit(100.0), 2).as("min_price"))
      .orderBy(col("min_price"), col("p_partkey"), col("s_name"))
      .limit(100)
  }

  /** q159 — small-quantity revenue by brand (TPC-H Q17 shape): revenue
    * carried by lineitems whose quantity is below 20% of their part's
    * average. Decorrelated: per-part (count, sum) aggregate joined
    * back; the threshold test is the cross-multiplied integer
    * comparison 5·qty·n < Σqty — exact at the boundary in both
    * engines (a float 0.2·avg compare could round differently).
    */
  def q159(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("__qc"),
        round(col("l_extendedprice") * 100).cast("long").as("__pc"))
    val per = li.groupBy(col("l_partkey").as("__pk"))
      .agg(count(lit(1)).as("__n"), sum(col("__qc")).as("__sq"))
    li.join(per, col("l_partkey") === col("__pk"))
      .filter(col("__qc") * 5 * col("__n") < col("__sq"))
      .join(Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"), sum(col("__pc")).as("__rev"))
      .select(col("p_brand"), col("n_small"),
        round(col("__rev") / lit(100.0), 2).as("revenue"))
      .transform(orderedSmall(_, col("p_brand")))
  }

  /** q160 — top supplier by quarter revenue (TPC-H Q15 shape): total
    * discounted revenue per supplier over Q1-1996 shipments, keep the
    * supplier(s) achieving the maximum. The view + scalar-max
    * subquery collapses to one supplier aggregate plus a single-row
    * broadcast max attached by crossJoin — no second scan of the
    * fact. Revenue in exact 10⁻⁴-dollar integers
    * (cents · (100 − discount%)), one division at render.
    */
  def q160(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1996-04-01"))
      .select(col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("__r4"))
      .groupBy(col("l_suppkey")).agg(sum(col("__r4")).as("__tot"))
    val mx = rev.agg(max(col("__tot")).as("__mx"))
    rev.crossJoin(broadcast(mx)).filter(col("__tot") === col("__mx"))
      .join(Tables.load(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("__tot") / lit(10000.0), 2).as("total_revenue"))
      .transform(orderedSmall(_, col("s_suppkey")))
  }

  /** q161 — idle rich customers per nation (TPC-H Q22 shape):
    * customers whose balance exceeds the average positive balance and
    * who have placed no order since 2000 (every customer in this
    * corpus has SOME order, so the recency window is what makes the
    * anti-join non-vacuous). The scalar-avg subquery is a single-row
    * (n, Σ) broadcast with the integer test bal·n > Σ; the NOT EXISTS
    * is one left-anti join against distinct recent-order customers —
    * the date filter pushes to the orders scan before the distinct.
    * Nation-bounded output.
    */
  def q161(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("__bc"))
    val stats = cust.filter(col("__bc") > 0)
      .agg(count(lit(1)).as("__n"), sum(col("__bc")).as("__s"))
    cust.crossJoin(broadcast(stats))
      .filter(col("__bc") * col("__n") > col("__s"))
      .join(Tables.load(spark, dir, "orders")
        .filter(col("o_orderdate") >= ts("2000-01-01"))
        .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sum(col("__bc")).as("__tb"))
      .select(col("n_name"), col("n_cust"),
        round(col("__tb") / lit(100.0), 2).as("total_balance"))
      .transform(orderedSmall(_, col("n_name")))
  }

  /** q162 — large-volume orders (TPC-H Q18 shape): orders whose total
    * lineitem quantity exceeds 250 units, with their customer. The
    * IN-(grouped HAVING) subquery is the per-order quantity aggregate
    * itself filtered then joined to orders/customer — the filter
    * leaves a tiny qualifying set, so AQE broadcasts it into the
    * orders join at runtime. Top-50 by quantity via TakeOrdered.
    */
  def q162(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity") * 100).cast("long")).as("__tq"))
      .filter(col("__tq") > 25000L)
    per.join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        round(col("__tq") / lit(100.0), 2).as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(50)
  }

  /** name → implementation, in inventory order. */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_revenue" -> (q02 _),
    "q03_join_revenue_by_nation" -> (q03 _),
    "q04_topk_orders" -> (q04 _),
    "q05_window_rank" -> (q05 _),
    "q06_distinct_users" -> (q06 _),
    "q07_rollup" -> (q07 _),
    "q08_semi_anti" -> (q08 _),
    "q09_month_agg" -> (q09 _),
    "q10_json_extract" -> (q10 _),
    "q11_sessionize" -> (q11 _),
    "q12_dedup_docs" -> (q12 _),
    "q13_cosine_topk" -> (q13 _),
    "q14_tumbling_1h" -> (q14 _),
    "q15_set_ops" -> (q15 _),
    "q16_strings" -> (q16 _),
    "q17_vector_norm" -> (q17 _),
    "q18_asof_join" -> (q18 _),
    "q19_cube" -> (q19 _),
    "q20_argmax_group" -> (q20 _),
    "q32_percentile_corr" -> (q32 _),
    "q33_correlated_count" -> (q33 _),
    "q34_window_frames" -> (q34 _),
    "q35_pivot_values" -> (q35 _),
    "q36_ship_lag" -> (q36 _),
    "q38_moving_avg" -> (q38 _),
    "q39_band_pairs" -> (q39 _),
    "q43_grouping_sets" -> (q43 _),
    "q47_set_ops_all" -> (q47 _),
    "q55_bloom_join" -> (q55 _),
    "q56_sliding_30m" -> (q56 _),
    "q60_latest_events" -> (q60 _),
    "q61_null_semantics" -> (q61 _),
    "q62_window_battery2" -> (q62 _),
    "q63_array_ops" -> (q63 _),
    "q64_late_alone" -> (q64 _),
    "q65_full_outer" -> (q65 _),
    "q67_schema_drift" -> (q67 _),
    "q70_gap_fill" -> (q70 _),
    "q71_decimal_pricing" -> (q71 _),
    "q72_map_entries" -> (q72 _),
    "q82_asof_ties" -> (q82 _),
    "q91_concurrent_sessions" -> (q91 _),
    "q92_active_users" -> (q92 _),
    "q158_min_cost_supplier" -> (q158 _),
    "q159_small_qty_revenue" -> (q159 _),
    "q160_top_supplier" -> (q160 _),
    "q161_idle_rich" -> (q161 _),
    "q162_big_orders" -> (q162 _))

  val allNames: Seq[String] = all.map(_._1)
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Co-engagement similarity (SURVEY.md §2.3.1 extensions, q126):
  * item-item collaborative filtering over entity×item interaction
  * counts — the "customers who bought X also bought Y" readout.
  *
  * Scale shape: the pair fan-out comes from a self-join on the ENTITY
  * key, so each entity contributes C(|its items|, 2) pairs — bounded
  * by per-entity item diversity, never by corpus size (the q107
  * basket shape). Item norms are an |items|-bounded aggregate attached
  * by broadcast. For adversarial hot entities (one customer touching
  * every item), cap per-entity items first — the same head-cap lever
  * as q90's document frequency cut.
  */
object Recommend {

  private def orderedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).orderBy(cols: _*)

  /** Item-item cosine similarity over (entity, item, count) integer
    * interactions: cos(a,b) = Σ_e n_ea·n_eb / √(Σn_ea²·Σn_eb²). All
    * sums are exact integers; the final expression — CAST(dot) /
    * sqrt(CAST(na2)·CAST(nb2)) — is one closed double form both
    * engines evaluate identically. Pairs require `minEntities` common
    * entities (support floor). Duplicate (entity, item) rows are
    * summed into one interaction first (round-8: the array-HOF pair
    * stage otherwise emits self-pairs and inflated dots on duplicate
    * input, where the historical strict-< self-join silently didn't) —
    * callers need no uniqueness precondition.
    *
    * The pre-aggregated interaction relation is kept cached
    * ([[graft.CacheScope]]): norms and the pair stage both read it, and
    * the upstream is typically a multi-join aggregate that would
    * otherwise re-derive per consumer. */
  def itemCosine(
      df: DataFrame, entityCol: String, itemCol: String, countCol: String,
      minEntities: Long = 1L): DataFrame = {
    val base = graft.CacheScope.keep(df.select(col(entityCol).as("__e"),
        col(itemCol).as("__i"), col(countCol).as("__n"))
      .groupBy(col("__e"), col("__i")).agg(sum(col("__n")).as("__n")))
    val norms = base.groupBy(col("__i"))
      .agg(sum(col("__n") * col("__n")).as("__n2"))
    // pair enumeration without a self-join (the q107 round-7 form):
    // one entity-key aggregate to an item-sorted struct array, then
    // the C(k,2) ordered pairs explode from an array HOF carrying the
    // per-pair dot term — items are entity-distinct, so positional
    // i < j is exactly item_a < item_b
    val grouped = base.groupBy(col("__e"))
      .agg(sort_array(collect_list(struct(col("__i"), col("__n")))).as("__xs"))
    val pairs = grouped.select(explode(flatten(transform(col("__xs"),
        (x, i) => transform(
          slice(col("__xs"), i + lit(2), size(col("__xs"))),
          y => struct(
            x.getField("__i").as("a"), y.getField("__i").as("c"),
            (x.getField("__n") * y.getField("__n")).as("d")))))).as("__p"))
      .groupBy(col("__p.a").as("item_a"), col("__p.c").as("item_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("__p.d")).as("dot"))
      .filter(col("n_common") >= minEntities)
    // item-vocabulary attach: broadcast only while the measured item
    // cardinality stays bounded (the q107/q138 guard — reads the cache)
    val normsH = Hints.broadcastIfBounded(norms, base, col("__i"))
    pairs
      .join(normsH.withColumnRenamed("__i", "item_a")
        .withColumnRenamed("__n2", "__na2"), "item_a")
      .join(normsH.withColumnRenamed("__i", "item_b")
        .withColumnRenamed("__n2", "__nb2"), "item_b")
      .select(col("item_a"), col("item_b"), col("n_common"), col("dot"),
        round(col("dot").cast("double") /
          sqrt(col("__na2").cast("double") * col("__nb2").cast("double")),
          6).as("cosine"))
  }

  // --------------------------------------------------------------- q126

  /** q126 — "bought together" brand affinity: cosine similarity of
    * brand purchase-count vectors over customers (≥ 20 common
    * customers), top 50 pairs. */
  def itemCfQuery(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey"), col("p_brand"))
      .agg(count(lit(1)).as("n"))
    orderedSmall(
      itemCosine(counts, "o_custkey", "p_brand", "n", minEntities = 20L),
      col("cosine").desc, col("item_a"), col("item_b"))
      .limit(50)
  }

  // --------------------------------------------------------------- q169

  /** q169 — reciprocal-rank fusion: suppliers ranked two independent
    * ways — total 1996 revenue and distinct parts supplied — fused by
    * RRF(k=60): score = 1/(60+r₁) + 1/(60+r₂), the standard
    * training-free way to combine retrieval rankings (the q153 BM25
    * list with a vector list, say) without comparable scores. Both
    * input ranks come from exact integer aggregates under a total
    * order (value desc, suppkey), so the ranks — and therefore the
    * two-term float sum, which has a FIXED evaluation order — are
    * identical cross-engine. Missing-from-one-list members contribute
    * only their present term (the standard convention). Plan: two
    * supplier-key aggregates, two supplier-bounded rank sorts, one
    * full-outer key join, global top-20 TakeOrdered.
    */
  def rrfQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val rev = li.filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .groupBy(col("l_suppkey").as("__k1"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("__rev"))
      .withColumn("__r1", row_number().over(
        Window.orderBy(col("__rev").desc, col("__k1"))))
    val breadth = li.groupBy(col("l_suppkey").as("__k2"))
      .agg(countDistinct(col("l_partkey")).as("__np"))
      .withColumn("__r2", row_number().over(
        Window.orderBy(col("__np").desc, col("__k2"))))
    rev.join(breadth, col("__k1") === col("__k2"), "full_outer")
      .select(coalesce(col("__k1"), col("__k2")).as("s_suppkey"),
        coalesce(col("__r1"), lit(0)).as("rank_revenue"),
        coalesce(col("__r2"), lit(0)).as("rank_breadth"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("__r1")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("__r2")), lit(0.0)), 6)
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("s_suppkey"))
      .limit(20)
  }

  // --------------------------------------------------------------- q192

  /** q192 — catalog coverage and popularity skew per brand: the share
    * of each brand's parts that were ever purchased, the interaction
    * concentration on the single most-popular part, and the mean
    * interactions per covered part — the recommender-health triple
    * (low coverage + high top-1 share = a feedback loop amplifying the
    * head). One partkey aggregate joined to the part dim (broadcast at
    * dim scale), then a brand rollup; exact integer counts until the
    * two final ratios.
    */
  def coverageQuery(spark: SparkSession, dir: String): DataFrame = {
    val pop = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("__n"))
    Tables.load(spark, dir, "part")
      .join(pop, col("p_partkey") === col("l_partkey"), "left")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        count(col("__n")).as("n_covered"),
        sum(coalesce(col("__n"), lit(0L))).as("n_interactions"),
        max(coalesce(col("__n"), lit(0L))).as("__top"))
      .select(col("p_brand"), col("n_parts"), col("n_covered"),
        round(col("n_covered") / col("n_parts").cast("double"), 6)
          .as("coverage"),
        col("n_interactions"),
        round(col("__top") / col("n_interactions").cast("double"), 6)
          .as("top1_share"),
        round(col("n_interactions") / col("n_covered").cast("double"), 4)
          .as("mean_per_covered"))
      .coalesce(1).orderBy(col("p_brand"))
  }

  // --------------------------------------------------------------- q222

  /** q222 — Wilson lower-bound brand ranking: brands ranked by the
    * 95% lower confidence bound on their repurchase rate (customers
    * who bought the brand AGAIN / customers who bought it at all) —
    * the ranking-under-uncertainty rule that stops a 2-for-2 brand
    * from outranking a 480-for-500 one, which the raw rate (and any
    * top-k over it) gets wrong. LB = (p̂ + z²/2n − z·√(p̂(1−p̂)/n +
    * z²/4n²))/(1 + z²/n) at z = 1.96, one closed-form double AST over
    * exact integer (successes, trials); rank on the ROUNDED bound
    * with brand tiebreak (the q153 discipline). One (brand, customer)
    * aggregate, |brands| rows out.
    */
  def wilsonQuery(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("o_custkey"))
      .agg(countDistinct(col("o_orderkey")).as("__orders"))
    val agg = per.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_buyers"),
        sum(when(col("__orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
    // z² spelled as 1.96*1.96 so both engines build the identical
    // double (a decimal literal of the product would differ in ulps)
    val z = lit(1.96)
    val z2 = z * z
    val n = col("n_buyers").cast("double")
    val p = col("n_repeat").cast("double") / n
    val lb = (p + z2 / (lit(2.0) * n) -
      z * sqrt(p * (lit(1.0) - p) / n +
        z2 / (lit(4.0) * n * n))) / (lit(1.0) + z2 / n)
    agg.select(col("p_brand"), col("n_buyers"), col("n_repeat"),
        round(p, 6).as("repeat_rate"),
        round(lb, 6).as("wilson_lb"))
      .coalesce(1).orderBy(col("wilson_lb").desc, col("p_brand"))
  }

  // --------------------------------------------------------------- q230

  /** q230 — empirical-Bayes shrinkage of brand repeat rates: each
    * brand's raw rate pulled toward the cross-brand prior with
    * beta-binomial method-of-moments strength (α+β = m(1−m)/v − 1,
    * prior mean m and variance v over the raw rates), shrunk =
    * (x + α)/(n + α + β) — the James–Stein-style stabilizer that
    * complements q222's Wilson bound: Wilson widens uncertainty,
    * shrinkage BORROWS it. Brand counts exact; m and v are float
    * folds over the ≤|brands| rate list (the q183 convention); the
    * shrink is one fixed closed-form AST. The moment estimate needs
    * v > 0 and α,β > 0 — degenerate priors surface as nulls, stated.
    */
  def ebShrinkQuery(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("o_custkey"))
      .agg(countDistinct(col("o_orderkey")).as("__orders"))
    val agg = per.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_buyers"),
        sum(when(col("__orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
      .withColumn("__p",
        col("n_repeat").cast("double") / col("n_buyers").cast("double"))
    val prior = agg.agg(count(lit(1)).as("__k"),
      sum(col("__p")).as("__sp"), sum(col("__p") * col("__p")).as("__sq"))
    val m = col("__sp") / col("__k")
    val v = col("__sq") / col("__k") - m * m
    val strength = m * (lit(1.0) - m) / v - lit(1.0)
    agg.crossJoin(broadcast(prior))
      .select(col("p_brand"), col("n_buyers"), col("n_repeat"),
        round(col("__p"), 6).as("raw_rate"),
        round(m, 6).as("prior_mean"),
        when(v > 0 && strength > 0,
          round((col("n_repeat") + strength * m) /
            (col("n_buyers") + strength), 6)).as("shrunk_rate"))
      .coalesce(1).orderBy(col("p_brand"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q126_item_cf" -> (itemCfQuery _),
    "q169_rank_fusion" -> (rrfQuery _),
    "q192_coverage" -> (coverageQuery _),
    "q222_wilson_rank" -> (wilsonQuery _),
    "q230_eb_shrinkage" -> (ebShrinkQuery _))
}

/** DuckDB twins for [[Recommend]] (driver correctness gate). */
object RecommendOracle {

  val all: Seq[(String, String)] = Seq(
    // identical integer dot/norm sums; one closed-form double each
    "q126_item_cf" ->
      """WITH counts AS (
        |  SELECT o.o_custkey AS e, p.p_brand AS i, count(*) AS n
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY o.o_custkey, p.p_brand),
        |norms AS (SELECT i, sum(n * n) AS n2 FROM counts GROUP BY i),
        |pairs AS (
        |  SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_common,
        |         sum(l.n * r.n) AS dot
        |  FROM counts l JOIN counts r ON l.e = r.e AND l.i < r.i
        |  GROUP BY l.i, r.i HAVING count(*) >= 20)
        |SELECT p.item_a, p.item_b, p.n_common,
        |       CAST(p.dot AS BIGINT) AS dot,
        |       round(CAST(p.dot AS DOUBLE) /
        |             sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
        |             6) AS cosine
        |FROM pairs p
        |JOIN norms na ON na.i = p.item_a
        |JOIN norms nb ON nb.i = p.item_b
        |ORDER BY cosine DESC, item_a, item_b LIMIT 50""".stripMargin,

    // same exact-integer ranks; the 2-term float sum has a fixed
    // evaluation order; DOUBLE casts keep DuckDB out of DECIMAL math
    "q169_rank_fusion" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS k1,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rv
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey),
        |r1 AS (SELECT k1, row_number() OVER (ORDER BY rv DESC, k1) AS r1 FROM rev),
        |br AS (
        |  SELECT l_suppkey AS k2, count(DISTINCT l_partkey) AS np
        |  FROM lineitem GROUP BY l_suppkey),
        |r2 AS (SELECT k2, row_number() OVER (ORDER BY np DESC, k2) AS r2 FROM br)
        |SELECT coalesce(k1, k2) AS s_suppkey,
        |       CAST(coalesce(r1, 0) AS INT) AS rank_revenue,
        |       CAST(coalesce(r2, 0) AS INT) AS rank_breadth,
        |       round(coalesce(CAST(1 AS DOUBLE) / (60 + r1), 0.0) +
        |             coalesce(CAST(1 AS DOUBLE) / (60 + r2), 0.0), 6) AS rrf_score
        |FROM r1 FULL OUTER JOIN r2 ON r2.k2 = r1.k1
        |ORDER BY rrf_score DESC, s_suppkey LIMIT 20""".stripMargin,

    // same left join against the partkey popularity aggregate
    "q192_coverage" ->
      """WITH pop AS (
        |  SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey),
        |b AS (
        |  SELECT p.p_brand, count(*) AS n_parts,
        |         count(pop.n) AS n_covered,
        |         sum(coalesce(pop.n, 0)) AS n_interactions,
        |         max(coalesce(pop.n, 0)) AS top
        |  FROM part p LEFT JOIN pop ON pop.l_partkey = p.p_partkey
        |  GROUP BY p.p_brand)
        |SELECT p_brand, CAST(n_parts AS BIGINT) AS n_parts,
        |       CAST(n_covered AS BIGINT) AS n_covered,
        |       round(n_covered / CAST(n_parts AS DOUBLE), 6) AS coverage,
        |       CAST(n_interactions AS BIGINT) AS n_interactions,
        |       round(top / CAST(n_interactions AS DOUBLE), 6) AS top1_share,
        |       round(n_interactions / CAST(n_covered AS DOUBLE), 4)
        |         AS mean_per_covered
        |FROM b ORDER BY p_brand""".stripMargin,

    // same exact counts, same closed-form Wilson AST with z2 spelled
    // 1.96*1.96
    "q222_wilson_rank" ->
      """WITH per AS (
        |  SELECT p.p_brand, o.o_custkey,
        |         count(DISTINCT o.o_orderkey) AS orders
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_brand, o.o_custkey),
        |a AS (
        |  SELECT p_brand, count(*) AS n_buyers,
        |         CAST(sum(CASE WHEN orders >= 2 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_repeat
        |  FROM per GROUP BY p_brand),
        |c AS (
        |  SELECT p_brand, n_buyers, n_repeat,
        |         CAST(n_buyers AS DOUBLE) AS n,
        |         CAST(n_repeat AS DOUBLE) / CAST(n_buyers AS DOUBLE) AS p
        |  FROM a)
        |SELECT p_brand, n_buyers, n_repeat,
        |       round(p, 6) AS repeat_rate,
        |       round((p + (1.96 * 1.96) / (2.0 * n) -
        |              1.96 * sqrt(p * (1.0 - p) / n +
        |                (1.96 * 1.96) / (4.0 * n * n)))
        |             / (1.0 + (1.96 * 1.96) / n), 6) AS wilson_lb
        |FROM c ORDER BY wilson_lb DESC, p_brand""".stripMargin,

    // same raw rates, same moment prior, same shrink AST
    "q230_eb_shrinkage" ->
      """WITH per AS (
        |  SELECT p.p_brand, o.o_custkey,
        |         count(DISTINCT o.o_orderkey) AS orders
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_brand, o.o_custkey),
        |a AS (
        |  SELECT p_brand, count(*) AS n_buyers,
        |         CAST(sum(CASE WHEN orders >= 2 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_repeat,
        |         CAST(sum(CASE WHEN orders >= 2 THEN 1 ELSE 0 END)
        |              AS DOUBLE) / CAST(count(*) AS DOUBLE) AS p
        |  FROM per GROUP BY p_brand),
        |pr AS (
        |  SELECT count(*) AS k, sum(p) AS sp, sum(p * p) AS sq FROM a),
        |f AS (
        |  SELECT a.*, pr.sp / pr.k AS m,
        |         pr.sq / pr.k - (pr.sp / pr.k) * (pr.sp / pr.k) AS v,
        |         (pr.sp / pr.k) * (1.0 - pr.sp / pr.k) /
        |           (pr.sq / pr.k - (pr.sp / pr.k) * (pr.sp / pr.k))
        |           - 1.0 AS s
        |  FROM a, pr)
        |SELECT p_brand, n_buyers, n_repeat,
        |       round(p, 6) AS raw_rate,
        |       round(m, 6) AS prior_mean,
        |       CASE WHEN v > 0 AND s > 0 THEN
        |         round((n_repeat + s * m) / (n_buyers + s), 6) END
        |         AS shrunk_rate
        |FROM f ORDER BY p_brand""".stripMargin)
}

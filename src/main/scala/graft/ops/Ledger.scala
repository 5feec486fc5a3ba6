package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ledger-style quantity matching (SURVEY.md §2.3.1 extensions, q178):
  * FIFO lot-to-demand allocation via the cumulative-range interval
  * join — the set-based rewrite of the classic row-at-a-time FIFO
  * costing loop.
  *
  * Scale shape: each side gets ONE key shuffle for its running-sum
  * window; the match is an equi-join on the item key with a range
  * predicate on the cumulative intervals, so candidate pairs are
  * bounded per key by how many lots a single demand row straddles —
  * never a per-key cross product, never a driver loop.
  */
object Ledger {

  /** FIFO allocation: match `demand` rows against `supply` lots in
    * first-in-first-out order WITHOUT iterating. Each supply lot
    * covers the half-open cumulative-quantity interval
    * [cum − qty, cum) of its key's supply timeline, each demand row
    * the analogous interval of the demand timeline; FIFO matching is
    * exactly the overlap of the two interval sets, so
    * matched(lot, dem) = min(hi_s, hi_d) − max(lo_s, lo_d) on the
    * overlapping pairs. Quantities must be integral (exactness), and
    * `seqCols` must make the per-key ordering total (determinism).
    *
    * Returns one row per (key, lot, demand) matched pair with the
    * matched quantity and both cumulative intervals.
    */
  def fifoMatch(
      supply: DataFrame, demand: DataFrame, keyCol: String, qtyCol: String,
      seqCols: Seq[String]): DataFrame = {
    def ranged(df: DataFrame, prefix: String): DataFrame = {
      val w = Window.partitionBy(col(keyCol))
        .orderBy(seqCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(s"${prefix}_hi", sum(col(qtyCol).cast("long")).over(w))
        .withColumn(s"${prefix}_lo",
          col(s"${prefix}_hi") - col(qtyCol).cast("long"))
    }
    val s = ranged(supply, "s").select(
      col(keyCol).as("__k"), col("s_lo"), col("s_hi"),
      struct(supply.columns.map(col): _*).as("supply"))
    val d = ranged(demand, "d").select(
      col(keyCol).as("__dk"), col("d_lo"), col("d_hi"),
      struct(demand.columns.map(col): _*).as("demand"))
    s.join(d, col("__k") === col("__dk") &&
        col("s_lo") < col("d_hi") && col("d_lo") < col("s_hi"))
      .withColumn("matched_qty",
        least(col("s_hi"), col("d_hi")) - greatest(col("s_lo"), col("d_lo")))
      .drop("__dk")
      .withColumnRenamed("__k", keyCol)
  }

  // --------------------------------------------------------------- q178

  /** q178 — FIFO cost of goods for returned quantity, per brand:
    * returned lineitems (R) consume non-returned lots (N) of the same
    * part in shipdate FIFO order; each matched slice is costed at its
    * LOT's unit price (exact integer cents per unit), so the result is
    * the FIFO COGS a bookkeeping system would produce — computed here
    * as one window pass per side plus one partkey equi-join. Brand
    * rollup reports demand coverage (fill rate) and exact-cents COGS.
    */
  def fifoCostingQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
    val seqCols = Seq("l_shipdate", "l_orderkey", "l_linenumber")
    val supply = li.filter(col("l_returnflag") === "N")
      .withColumn("unit_cents",
        round(col("l_extendedprice") * 100 / col("l_quantity")).cast("long"))
    val demand = li.filter(col("l_returnflag") === "R")
    val pairs = fifoMatch(supply, demand, "l_partkey", "l_quantity", seqCols)
      .select(col("l_partkey"), col("matched_qty"),
        (col("matched_qty") * col("supply.unit_cents")).as("__cents"))
    val perPartMatched = pairs.groupBy(col("l_partkey"))
      .agg(sum(col("matched_qty")).as("__mq"), sum(col("__cents")).as("__cc"))
    val perPartDemand = demand.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("__dq"))
    perPartDemand
      .join(perPartMatched, Seq("l_partkey"), "left")
      .join(Tables.load(spark, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("__dq")).as("demand_qty"),
        sum(coalesce(col("__mq"), lit(0L))).as("matched_qty"),
        round(sum(coalesce(col("__mq"), lit(0L))) /
          sum(col("__dq")).cast("double"), 6).as("fill_rate"),
        round(sum(coalesce(col("__cc"), lit(0L))) / lit(100.0), 2)
          .as("fifo_cogs"))
      .coalesce(1).orderBy(col("p_brand"))
  }

  // --------------------------------------------------------------- q184

  /** q184 — clamped running balance: purchases credit, errors debit,
    * and the balance saturates at [0, cap] — so the final state
    * depends on WHERE the clamps bit, which no window rewrite can
    * express (a clamp erases history; prefix sums don't). Engine: one
    * user-key shuffle, events folded in (ts, event_id) order by the
    * `aggregate` HOF carrying (balance, clamp-high count, clamp-low
    * count) — the q175-debounce shape: per-key sequential state, keys
    * distributed. All arithmetic is exact integer cents. Output is the
    * bounded $20-bucket histogram of final balances.
    */
  def cappedBalanceQuery(spark: SparkSession, dir: String): DataFrame = {
    val capCents = 20000L
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))
          .otherwise(-round(col("value") * 100).cast("long")).as("d"))
    val folded = ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        col("ts"), col("event_id"), col("d")))).as("__evs"))
      .withColumn("__st", expr(
        s"""aggregate(__evs,
           |  named_struct('bal', 0L, 'nh', 0L, 'nl', 0L),
           |  (a, x) -> named_struct(
           |    'bal', least(${capCents}L, greatest(0L, a.bal + x.d)),
           |    'nh', a.nh + IF(a.bal + x.d > ${capCents}L, 1L, 0L),
           |    'nl', a.nl + IF(a.bal + x.d < 0L, 1L, 0L)))""".stripMargin))
    folded
      .groupBy(expr("__st.bal div 2000L").as("bal_bucket"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__st.nh")).as("n_clamp_high"),
        sum(col("__st.nl")).as("n_clamp_low"))
      .coalesce(1).orderBy(col("bal_bucket"))
  }

  // --------------------------------------------------------------- q214

  /** q214 — year-over-year unit-value price index per part type over
    * the COMMON basket (parts traded in both 1996 and 1997 — the
    * index-number discipline that stops assortment churn from
    * masquerading as price movement): index = (R₉₇·Q₉₆)/(Q₉₇·R₉₆),
    * the ratio of per-unit revenues, computed as exact decimal(38,0)
    * cross products with ONE final division; per-year unit values are
    * the exact 10⁻⁴-dollar floor divisions (R·100) div Q. Plan: one
    * (type, part, year) aggregate, a part-grain self-pair to keep
    * common parts (part-key shuffle), |types| rows out.
    */
  def unitValueIndexQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("p_type"), col("p_partkey"),
        year(col("o_orderdate")).as("yr"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("r"),
        sum(col("l_quantity").cast("long")).as("q"))
    val both = base.groupBy(col("p_type"), col("p_partkey"))
      .agg(sum(when(col("yr") === 1996, col("r"))).as("r96"),
        sum(when(col("yr") === 1996, col("q"))).as("q96"),
        sum(when(col("yr") === 1997, col("r"))).as("r97"),
        sum(when(col("yr") === 1997, col("q"))).as("q97"))
      .filter(col("r96").isNotNull && col("r97").isNotNull)
    def d38(c: Column) = c.cast("decimal(38,0)")
    both.groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_common_parts"),
        sum(col("r96")).as("__r96"), sum(col("q96")).as("__q96"),
        sum(col("r97")).as("__r97"), sum(col("q97")).as("__q97"))
      .select(col("p_type"), col("n_common_parts"),
        (expr("(__r96 * 100) div __q96") / lit(10000.0)).as("unit_value_96"),
        (expr("(__r97 * 100) div __q97") / lit(10000.0)).as("unit_value_97"),
        round((d38(col("__r97")) * d38(col("__q96"))).cast("double") /
          (d38(col("__q97")) * d38(col("__r96"))).cast("double"), 6)
          .as("uv_index"))
      .coalesce(1).orderBy(col("p_type"))
  }

  // --------------------------------------------------------------- q242

  /** q242 — FIFO ending-inventory valuation: the OTHER side of q178's
    * ledger — after returned quantity consumes non-returned lots in
    * FIFO order, what remains on the shelf per brand, valued at each
    * LOT's own unit cost (the FIFO carrying value a balance sheet
    * reports). Per-lot remaining = qty − Σmatched via one aggregate
    * over [[fifoMatch]]'s pairs LEFT-joined back to the full lot list
    * (unmatched lots carry in full); exact integer quantities and
    * cents throughout; the per-brand depletion share is one division.
    * Conservation — matched + remaining = supplied, brand by brand —
    * sits in LedgerSpec. The lot identity is (partkey, s_lo): this
    * corpus REUSES (orderkey, linenumber) across rows (found live —
    * a (orderkey, linenumber) rollup over-attributed 14 units on one
    * brand at sf0.001), while the cumulative interval start is unique
    * per lot within a part by construction.
    */
  def endingInventoryQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))
    val seqCols = Seq("l_shipdate", "l_orderkey", "l_linenumber")
    val supply = li.filter(col("l_returnflag") === "N")
      .withColumn("unit_cents",
        round(col("l_extendedprice") * 100 / col("l_quantity")).cast("long"))
    val demand = li.filter(col("l_returnflag") === "R")
    val matched = fifoMatch(supply, demand, "l_partkey", "l_quantity", seqCols)
      .groupBy(col("l_partkey").as("__pk"), col("s_lo").as("__slo"))
      .agg(sum(col("matched_qty")).as("__m"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(seqCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    supply
      .withColumn("__shi", sum(col("l_quantity").cast("long")).over(w))
      .withColumn("__slo2", col("__shi") - col("l_quantity").cast("long"))
      .join(matched, col("l_partkey") === col("__pk") &&
        col("__slo2") === col("__slo"), "left")
      .withColumn("__rem",
        col("l_quantity").cast("long") - coalesce(col("__m"), lit(0L)))
      .join(broadcast(Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lots"),
        sum(col("l_quantity").cast("long")).as("supplied_qty"),
        sum(col("__rem")).as("remaining_qty"),
        round(sum(col("__rem") * col("unit_cents")) / 100.0, 2)
          .as("fifo_value"),
        round(sum(col("__rem")).cast("double") /
          sum(col("l_quantity").cast("long")), 6).as("remaining_share"))
      .coalesce(1).orderBy(col("p_brand"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q178_fifo_costing" -> (fifoCostingQuery _),
    "q184_capped_balance" -> (cappedBalanceQuery _),
    "q214_unit_value_index" -> (unitValueIndexQuery _),
    "q242_ending_inventory" -> (endingInventoryQuery _))
}

/** DuckDB twins for [[Ledger]] (driver correctness gate). */
object LedgerOracle {

  val all: Seq[(String, String)] = Seq(
    // identical cumulative half-open intervals on both timelines,
    // identical overlap arithmetic, exact integer cents throughout
    "q178_fifo_costing" ->
      """WITH supply AS (
        |  SELECT l_partkey,
        |         CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT)
        |           AS unit_cents,
        |         sum(CAST(l_quantity AS BIGINT)) OVER (
        |           PARTITION BY l_partkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_hi,
        |         CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem WHERE l_returnflag = 'N'),
        |dem AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_quantity AS BIGINT)) OVER (
        |           PARTITION BY l_partkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_hi,
        |         CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |pairs AS (
        |  SELECT s.l_partkey,
        |         least(s.s_hi, d.d_hi) -
        |           greatest(s.s_hi - s.q, d.d_hi - d.q) AS m,
        |         (least(s.s_hi, d.d_hi) -
        |           greatest(s.s_hi - s.q, d.d_hi - d.q)) * s.unit_cents AS c
        |  FROM supply s JOIN dem d
        |    ON s.l_partkey = d.l_partkey
        |   AND s.s_hi - s.q < d.d_hi AND d.d_hi - d.q < s.s_hi),
        |pm AS (
        |  SELECT l_partkey, sum(m) AS mq, sum(c) AS cc
        |  FROM pairs GROUP BY l_partkey),
        |pd AS (
        |  SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS dq
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey)
        |SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(pd.dq) AS BIGINT) AS demand_qty,
        |       CAST(sum(coalesce(pm.mq, 0)) AS BIGINT) AS matched_qty,
        |       round(sum(coalesce(pm.mq, 0)) /
        |             CAST(sum(pd.dq) AS DOUBLE), 6) AS fill_rate,
        |       round(sum(coalesce(pm.cc, 0)) / 100.0, 2) AS fifo_cogs
        |FROM pd LEFT JOIN pm ON pm.l_partkey = pd.l_partkey
        |JOIN part p ON p.p_partkey = pd.l_partkey
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin,

    // the same clamp fold via list_reduce: a zero-state element is
    // prepended as the seed (list_reduce seeds from the first element),
    // so every element carries (d, nh, nl, bal) with identical
    // saturation arithmetic; identical (ts, event_id) fold order.
    // FIELD ORDER MATTERS: DuckDB 1.0 materializes the lambda's result
    // struct field-by-field INTO the accumulator, so a field reading
    // a.bal after 'bal' is assigned would see the NEW balance —
    // 'bal' is therefore the LAST field, keeping nh/nl on the
    // pre-update accumulator exactly like Spark's functional fold
    "q184_capped_balance" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type = 'purchase'
        |              THEN CAST(round(value * 100) AS BIGINT)
        |              ELSE -CAST(round(value * 100) AS BIGINT) END AS d
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |folded AS (
        |  SELECT user_id,
        |         list_reduce(
        |           list_prepend(
        |             {'d': CAST(0 AS BIGINT), 'nh': CAST(0 AS BIGINT),
        |              'nl': CAST(0 AS BIGINT), 'bal': CAST(0 AS BIGINT)},
        |             list({'d': d, 'nh': CAST(0 AS BIGINT),
        |                   'nl': CAST(0 AS BIGINT), 'bal': CAST(0 AS BIGINT)}
        |                  ORDER BY ts, event_id)),
        |           (a, x) -> {
        |             'd': CAST(0 AS BIGINT),
        |             'nh': a.nh + CASE WHEN a.bal + x.d > 20000
        |                               THEN 1 ELSE 0 END,
        |             'nl': a.nl + CASE WHEN a.bal + x.d < 0
        |                               THEN 1 ELSE 0 END,
        |             'bal': least(CAST(20000 AS BIGINT),
        |                          greatest(CAST(0 AS BIGINT), a.bal + x.d))}) AS st
        |  FROM ev GROUP BY user_id)
        |SELECT st.bal // 2000 AS bal_bucket,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(st.nh) AS BIGINT) AS n_clamp_high,
        |       CAST(sum(st.nl) AS BIGINT) AS n_clamp_low
        |FROM folded GROUP BY st.bal // 2000
        |ORDER BY bal_bucket""".stripMargin,

    // same common-basket rule, same exact cross-product index
    "q214_unit_value_index" ->
      """WITH base AS (
        |  SELECT p.p_type, p.p_partkey, year(o.o_orderdate) AS yr,
        |         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS r,
        |         sum(CAST(l.l_quantity AS BIGINT)) AS q
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE year(o.o_orderdate) IN (1996, 1997)
        |  GROUP BY p.p_type, p.p_partkey, year(o.o_orderdate)),
        |bt AS (
        |  SELECT p_type, p_partkey,
        |         sum(CASE WHEN yr = 1996 THEN r END) AS r96,
        |         sum(CASE WHEN yr = 1996 THEN q END) AS q96,
        |         sum(CASE WHEN yr = 1997 THEN r END) AS r97,
        |         sum(CASE WHEN yr = 1997 THEN q END) AS q97
        |  FROM base GROUP BY p_type, p_partkey
        |  HAVING r96 IS NOT NULL AND r97 IS NOT NULL),
        |t AS (
        |  SELECT p_type, count(*) AS n_common_parts,
        |         CAST(sum(r96) AS BIGINT) AS r96,
        |         CAST(sum(q96) AS BIGINT) AS q96,
        |         CAST(sum(r97) AS BIGINT) AS r97,
        |         CAST(sum(q97) AS BIGINT) AS q97
        |  FROM bt GROUP BY p_type)
        |SELECT p_type, n_common_parts,
        |       ((r96 * 100) // q96) / 10000.0 AS unit_value_96,
        |       ((r97 * 100) // q97) / 10000.0 AS unit_value_97,
        |       round(CAST(CAST(r97 AS DECIMAL(38,0)) * CAST(q96
        |             AS DECIMAL(38,0)) AS DOUBLE) /
        |             CAST(CAST(q97 AS DECIMAL(38,0)) * CAST(r96
        |             AS DECIMAL(38,0)) AS DOUBLE), 6) AS uv_index
        |FROM t ORDER BY p_type""".stripMargin,

    // same intervals as q178, remaining = qty - matched per LOT
    "q242_ending_inventory" ->
      """WITH supply AS (
        |  SELECT l_partkey, l_orderkey, l_linenumber,
        |         CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT)
        |           AS unit_cents,
        |         sum(CAST(l_quantity AS BIGINT)) OVER (
        |           PARTITION BY l_partkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_hi,
        |         CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem WHERE l_returnflag = 'N'),
        |dem AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_quantity AS BIGINT)) OVER (
        |           PARTITION BY l_partkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_hi,
        |         CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |pairs AS (
        |  SELECT s.l_partkey AS pk, s.s_hi - s.q AS slo,
        |         least(s.s_hi, d.d_hi) -
        |           greatest(s.s_hi - s.q, d.d_hi - d.q) AS m
        |  FROM supply s JOIN dem d
        |    ON s.l_partkey = d.l_partkey
        |   AND s.s_hi - s.q < d.d_hi AND d.d_hi - d.q < s.s_hi),
        |ml AS (
        |  SELECT pk, slo, CAST(sum(m) AS BIGINT) AS m
        |  FROM pairs GROUP BY pk, slo),
        |inv AS (
        |  SELECT s.l_partkey, s.unit_cents, s.q,
        |         s.q - coalesce(ml.m, 0) AS rem
        |  FROM supply s LEFT JOIN ml
        |    ON ml.pk = s.l_partkey AND ml.slo = s.s_hi - s.q)
        |SELECT p.p_brand, count(*) AS n_lots,
        |       CAST(sum(inv.q) AS BIGINT) AS supplied_qty,
        |       CAST(sum(inv.rem) AS BIGINT) AS remaining_qty,
        |       round(sum(inv.rem * inv.unit_cents) / 100.0, 2)
        |         AS fifo_value,
        |       round(CAST(sum(inv.rem) AS DOUBLE) / sum(inv.q), 6)
        |         AS remaining_share
        |FROM inv JOIN part p ON inv.l_partkey = p.p_partkey
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)
}

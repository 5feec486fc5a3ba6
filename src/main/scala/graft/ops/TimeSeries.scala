package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics: time-weighted averages, exponential
  * smoothing, and interpolated gap fill (SURVEY.md §2.3.1 extensions,
  * q102–q104).
  *
  * Scale shapes: every operator partitions by a series key (entity,
  * day, or metric id) — windows never concentrate on a single
  * partition; [[ewma]] is the bounded-contribution-explode pattern
  * (fan-out = lookback, never a day×day self-join), the same shape
  * that keeps q92's rolling distincts linear.
  */
object TimeSeries {

  /** Time-weighted average of a step series: within each (key, day),
    * each observation's value holds until the NEXT observation, and
    * the average weights each value by its holding duration in µs —
    * the standard TWAP over the observed span. Series with fewer than
    * two observations in a window have no held interval and are
    * dropped (n_obs counts the full series, intervals = n_obs − 1).
    * Durations are exact integer µs; only the final weighted mean is
    * floating-point. One series-key shuffle.
    */
  def twap(
      df: DataFrame, keyCols: Seq[String], tsCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val stepped = df
      .select(keyCols.map(col) :+ col(tsCol) :+ col(tieCol) :+ col(valueCol): _*)
      .withColumn("__next_us", lead(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("__dur", col("__next_us") - unix_micros(col(tsCol)))
    stepped.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("__dur")).as("span_us"),
        round(
          sum(col(valueCol) * col("__dur")) / sum(col("__dur")), 6).as("twap"))
      .filter(col("span_us").isNotNull && col("span_us") > 0)
  }

  /** Exponentially weighted moving average of a per-(key, day) series
    * with the given half-life, over a bounded trailing `lookback`
    * days: EWMA(d) = Σ_k w(k)·x(d−k) / Σ_k w(k) with w(k) =
    * 0.5^(k/halflife), summed over the OBSERVED days in the window
    * (missing days contribute neither weight nor value — the
    * irregular-series EWMA convention). Shape: each observation
    * contributes to its next `lookback` target days via one bounded
    * `sequence` explode (fan-out = lookback) — never a day×day
    * self-join; one (key, day) shuffle either side.
    */
  def ewma(
      df: DataFrame, keyCols: Seq[String], dayCol: String, valueCol: String,
      halflifeDays: Double = 7.0, lookback: Int = 30): DataFrame = {
    require(lookback >= 1 && lookback <= 366, s"lookback must be in 1..366: $lookback")
    require(halflifeDays > 0, "halflife must be positive")
    val ks = keyCols.map(col)
    val days = df.select((ks :+ col(dayCol).as("d")): _*).distinct()
    val contrib = df
      .select((ks :+ col(dayCol).as("__src") :+ col(valueCol).as("__x")): _*)
      .withColumn("d", explode(sequence(col("__src"), date_add(col("__src"), lookback - 1))))
      .withColumn("__w",
        pow(lit(0.5), datediff(col("d"), col("__src")).cast("double") / halflifeDays))
    contrib
      .groupBy((ks :+ col("d")): _*)
      .agg(round(sum(col("__w") * col("__x")) / sum(col("__w")), 6).as("ewma"),
        count(lit(1)).as("n_in_window"))
      .join(days, keyCols :+ "d") // only days that exist in the series
  }

  /** Linear interpolation of missing points in a regular per-key grid:
    * rows where `valueCol` is null get
    * prev + (next − prev) · (t − t_prev)/(t_next − t_prev), using the
    * nearest non-null neighbors in each direction (IGNORE NULLS window
    * scans); leading/trailing gaps (no neighbor on one side) stay
    * null. Position arithmetic is exact integer µs; one series-key
    * shuffle, two ordered window passes.
    */
  def interpolate(
      df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val back = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsUs = when(col(valueCol).isNotNull, us)
    val withNbrs = df
      .withColumn("__pv", last(col(valueCol), ignoreNulls = true).over(back))
      .withColumn("__pt", last(obsUs, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col(valueCol), ignoreNulls = true).over(fwd))
      .withColumn("__nt", first(obsUs, ignoreNulls = true).over(fwd))
    withNbrs
      .withColumn("__filled",
        when(col(valueCol).isNotNull, col(valueCol))
          .otherwise(
            col("__pv") + (col("__nv") - col("__pv")) *
              ((us - col("__pt")) / (col("__nt") - col("__pt")))))
      .drop("__pv", "__pt", "__nv", "__nt")
  }

  // --------------------------------------------------------------- q102

  /** q102 — per-(user, day) time-weighted average event value: the
    * step-function TWAP over each user-day's observed span, tie-broken
    * on event_id. Bounded output: user × active-day grain.
    */
  def twapQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("day", to_date(col("ts")))
    twap(ev, Seq("user_id", "day"), "ts", "event_id", "value")
      .orderBy(col("user_id"), col("day")).limit(500)
  }

  // --------------------------------------------------------------- q103

  /** q103 — 7-day-half-life EWMA of daily event counts per event type
    * over a 30-day trailing window: the smoothed trend line an
    * alerting pipeline thresholds against.
    */
  def ewmaQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("c"))
    ewma(daily, Seq("event_type"), "day", "c", halflifeDays = 7.0, lookback = 30)
      .select(col("event_type"), col("d"), col("ewma"), col("n_in_window"))
      .coalesce(1).orderBy(col("event_type"), col("d"))
  }

  // --------------------------------------------------------------- q104

  /** q104 — interpolated hourly gap fill: the q70 spine (every hour in
    * the observed range) with missing error-hour sums LINEARLY
    * interpolated between the neighboring observed hours instead of
    * zero-filled — per event type, so the interpolation window
    * partitions by the series key. Rendered: value rounded, flag
    * telling observed from interpolated.
    */
  def interpolateQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    // exact integer-cents sum: double accumulation order differs
    // across engines and an interpolant on a .00005 boundary flips the
    // final rounding (seen at sf0.001) — fixed-point keeps v exact
    val hourly = ev.filter(col("event_type").isin("error", "purchase"))
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg((sum(round(col("value") * 100).cast("long")) / lit(100.0)).as("v"))
    val spine = ev
      .agg(min(date_trunc("hour", col("ts"))).as("lo"),
        max(date_trunc("hour", col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
      .crossJoin(Seq("error", "purchase").toDF("event_type"))
    val grid = spine.join(hourly, Seq("event_type", "h"), "left")
    // NO final rounding: with exact-cents inputs both engines compute
    // bit-identical doubles, while round()'s decimal-tie handling is
    // engine-specific (27.88875 → 27.8888 in DuckDB, 27.8887 via
    // BigDecimal HALF_UP on the binary value) — rounding here would
    // ADD divergence, not remove it
    interpolate(grid, Seq("event_type"), "h", "v")
      .select(col("event_type"), col("h"),
        col("__filled").as("v_filled"),
        col("v").isNotNull.as("observed"))
      .orderBy(col("event_type"), col("h")).limit(800)
  }

  // --------------------------------------------------------------- q150

  /** q150 — order-fulfillment lag percentiles per order priority:
    * exact integer day lags (l_shipdate − o_orderdate) through the
    * lineitem⋈orders key join (big-big equi-join — shuffle on
    * orderkey, never broadcast), then n / mean / p50 / p90 / max per
    * priority. Exact `percentile` over a handful of priority groups is
    * the q89 convention (both engines interpolate identically on
    * integer inputs); the 100 TB swap for unbounded group counts is
    * `approx_percentile`. Mean is an exact integer-sum division. The
    * SLA table an ops team reads per release. */
  def shipLagQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("__lag"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__lag")) / count(lit(1)).cast("double"), 4)
          .as("mean_days"),
        round(expr("percentile(__lag, 0.5)"), 4).as("p50_days"),
        round(expr("percentile(__lag, 0.9)"), 4).as("p90_days"),
        max(col("__lag")).as("max_days"))
      .coalesce(1).orderBy(col("o_orderpriority"))

  /** Per-nation monthly revenue in exact integer cents — the shared
    * series under q179/q180. One orderkey-free dim join (customer →
    * nation broadcasts), one (nation, month) aggregate.
    */
  private def nationMonthly(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_trunc("month", col("o_orderdate")).as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))

  // --------------------------------------------------------------- q179

  /** q179 — worst decline-from-peak (max drawdown) of each nation's
    * monthly revenue: running peak via one ordered window over the
    * 25×~80-row aggregate (windows never see fact rows), drawdown =
    * (peak − rev)/peak, argmax by `max(struct(dd, month))` so a tie
    * resolves to the LATEST month — the oracle's ORDER BY dd DESC,
    * m DESC replay. Revenue is exact cents; only the final ratio is
    * floating-point.
    */
  def drawdownQuery(spark: SparkSession, dir: String): DataFrame = {
    val wPeak = Window.partitionBy(col("n_name")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nationMonthly(spark, dir)
      .withColumn("__peak", max(col("rev_cents")).over(wPeak))
      .withColumn("__dd",
        (col("__peak") - col("rev_cents")) / col("__peak").cast("double"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_months"),
        max(struct(col("__dd"), col("m"))).as("__best"))
      .select(col("n_name"), col("n_months"),
        round(col("__best.__dd"), 6).as("max_drawdown"),
        to_date(col("__best.m")).as("dd_month"))
      .coalesce(1).orderBy(col("n_name"))
  }

  // --------------------------------------------------------------- q180

  /** q180 — Kendall tau-b trend test per nation: concordant /
    * discordant / tied pair counts between month order and monthly
    * revenue, from a self-join of the per-nation monthly aggregate on
    * m1 < m2 — pairs are bounded by the CALENDAR (~80 months →
    * ~3.2k pairs per nation), not by data volume, so the quadratic
    * lives entirely on the post-aggregate 25-key table. Months are
    * unique within a nation (no x-ties), so
    * tau_b = (nc − nd) / sqrt(n0 · (n0 − n_rev_ties)). Exact-cents
    * revenue makes every comparison exact.
    */
  def kendallQuery(spark: SparkSession, dir: String): DataFrame = {
    val m = nationMonthly(spark, dir)
    val a = m.select(col("n_name"), col("m").as("m1"),
      col("rev_cents").as("r1"))
    val b = m.select(col("n_name").as("__n2"), col("m").as("m2"),
      col("rev_cents").as("r2"))
    val pairs = a.join(b,
      col("n_name") === col("__n2") && col("m1") < col("m2"))
    pairs.groupBy(col("n_name"))
      .agg(sum(when(col("r2") > col("r1"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("r2") < col("r1"), 1L).otherwise(0L)).as("nd"),
        sum(when(col("r2") === col("r1"), 1L).otherwise(0L)).as("n_ties"),
        count(lit(1)).as("n0"))
      .select(col("n_name"), col("nc"), col("nd"), col("n_ties"),
        round((col("nc") - col("nd")) /
          sqrt(col("n0").cast("double") * (col("n0") - col("n_ties"))), 6)
          .as("tau_b"))
      .coalesce(1).orderBy(col("n_name"))
  }

  // --------------------------------------------------------------- q189

  /** q189 — Holt double exponential smoothing (level + trend) of daily
    * event counts per type, α=0.3 β=0.1, initialized (l₁=x₁, b₁=0):
    * the recursive update l′=αx+(1−α)(l+b), b′=β(l′−l)+(1−β)b cannot
    * be window-rewritten (each step feeds the next through TWO coupled
    * states), so it folds per series via the `aggregate` HOF over the
    * day-sorted list — per-type sequential state, types distributed,
    * the q184 shape. Both engines execute the identical IEEE op
    * sequence in the identical order, so the doubles match bitwise
    * before the final rounding. Emits the last level/trend and the
    * 7-day-ahead linear forecast.
    */
  def holtQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    // b' needs both the old and the new level, so l' is inlined into
    // b' (same doubles, same op order as the oracle's recursive CTE,
    // which reuses the identical expression text).
    val lNew = "IF(a.n = 0L, x.x, 0.3D * x.x + 0.7D * (a.l + a.b))"
    val folded = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("__s"))
      .withColumn("__st", expr(
        s"""aggregate(__s,
           |  named_struct('l', 0D, 'b', 0D, 'n', 0L),
           |  (a, x) -> named_struct(
           |    'l', $lNew,
           |    'b', IF(a.n = 0L, 0D,
           |            0.1D * (($lNew) - a.l) + 0.9D * a.b),
           |    'n', a.n + 1L))""".stripMargin))
    folded.select(col("event_type"), col("__st.n").as("n_days"),
        round(col("__st.l"), 6).as("level"),
        round(col("__st.b"), 6).as("trend"),
        round(col("__st.l") + lit(7.0) * col("__st.b"), 6).as("forecast_7d"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- q206

  /** q206 — classical seasonal decomposition (STL-lite) of the daily
    * event count per type: trend = centered 7-day moving average
    * (FULL windows only — edges stay null, never a shrunken-window
    * bias), seasonal = weekday mean of the detrended series, residual
    * = series − trend − seasonal. ENTIRELY exact integer arithmetic:
    * the series is carried in ×7 units (det7 = 7·x − Σ₇, an exact
    * long) and the emitted components are 10⁻⁴-unit FLOOR divisions —
    * Spark's `div` and DuckDB's `//` both truncate toward zero
    * (pinned in TimeSeriesSpec for negative numerators, which the
    * detrended series produces), so no float accumulation or rounding
    * boundary exists anywhere in the query. Plan: windows partition
    * by the series key; the seasonal join attaches a |types|·7-row
    * broadcast.
    */
  /** The shared q206/q212 decomposition grid: per (type, day) the
    * count, 10⁻⁴-unit trend/seasonal components and the exact-integer
    * residual (nulls where the centered window is not full). */
  private[ops] def seasonalParts(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val det = daily
      .withColumn("__n7", count(lit(1)).over(w7))
      .withColumn("__s7", sum(col("x")).over(w7))
      .withColumn("__det7",
        when(col("__n7") === 7, lit(7) * col("x") - col("__s7")))
      .withColumn("dow", date_format(col("day"), "EEEE"))
    val seasonal = det.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("__det7")).as("__sn"),
        count(col("__det7")).as("__sc"))
      .withColumn("__seas_e4", expr("(__sn * 10000) div (7 * __sc)"))
      .select(col("event_type"), col("dow"), col("__seas_e4"))
    det.join(broadcast(seasonal), Seq("event_type", "dow"))
      .withColumn("__trend_e4",
        when(col("__n7") === 7, expr("(__s7 * 10000) div 7")))
      .withColumn("__resid_e4",
        col("x") * 10000L - col("__trend_e4") - col("__seas_e4"))
  }

  def seasonalDecomposeQuery(spark: SparkSession, dir: String): DataFrame =
    seasonalParts(spark, dir)
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("x").as("n_events"),
        (col("__trend_e4") / lit(10000.0)).as("trend"),
        (col("__seas_e4") / lit(10000.0)).as("seasonal"),
        (col("__resid_e4") / lit(10000.0)).as("residual"))
      .coalesce(1).orderBy(col("event_type"), col("day"))

  // --------------------------------------------------------------- q212

  /** q212 — deseasonalized anomaly screen, composed ON TOP of q206:
    * per type the residual series' σ and the worst day by |z|, where
    * z = (n·r − Σr)/√(n·Σr² − (Σr)²) — every input an exact integer
    * (the residuals are 10⁻⁴-unit longs BY CONSTRUCTION of q206's
    * floor-division decomposition), so the argmax runs on the
    * cross-multiplied integer |n·r − Σr| with a day tiebreak and no
    * float compare can reorder it. The detector a raw-count z-score
    * (q97) gets wrong on strongly weekly-patterned series: weekday
    * swings inflate σ and mask true anomalies.
    */
  def deseasonalAnomalyQuery(spark: SparkSession, dir: String): DataFrame = {
    val parts = seasonalParts(spark, dir)
      .filter(col("__resid_e4").isNotNull)
    val wT = Window.partitionBy(col("event_type"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val enriched = parts
      .withColumn("__n", count(lit(1)).over(wT))
      .withColumn("__s", sum(d38(col("__resid_e4"))).over(wT))
      .withColumn("__q",
        sum(d38(col("__resid_e4") * col("__resid_e4"))).over(wT))
      .withColumn("__dev",
        abs(d38(col("__n")) * d38(col("__resid_e4")) - col("__s")))
      .withColumn("__rn", row_number().over(
        wT.orderBy(col("__dev").desc, col("day"))))
    enriched.filter(col("__rn") === 1)
      .select(col("event_type"), col("__n").as("n_days"),
        round(sqrt((d38(col("__n")) * col("__q") - col("__s") * col("__s"))
          .cast("double")) / (col("__n") * lit(10000.0)), 4)
          .as("resid_sigma"),
        col("day").cast("string").as("worst_day"),
        (col("__resid_e4") / lit(10000.0)).as("worst_resid"),
        round((d38(col("__n")) * d38(col("__resid_e4")) - col("__s"))
          .cast("double") /
          sqrt((d38(col("__n")) * col("__q") - col("__s") * col("__s"))
            .cast("double")), 4).as("worst_z"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- q223

  /** q223 — value-at-risk and expected shortfall of daily revenue
    * moves per nation: VaR95 = the 5th percentile of day-over-day
    * revenue deltas, CVaR = the mean of the deltas at or below it
    * (the coherent tail measure VaR alone is not). Deltas are exact
    * integer cents over the observed-day series (one nation-key
    * window); the percentile is the interpolating quantile both
    * engines define identically over identical doubles, and the tail
    * mean is an exact-integer split floor division over the rows the
    * shared VaR double admits — so even the tail MEMBERSHIP decision
    * is cross-engine identical.
    */
  def varQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
    val wN = Window.partitionBy(col("n_name")).orderBy(col("day"))
    val deltas = daily
      .withColumn("d", col("c") - lag(col("c"), 1).over(wN))
      .filter(col("d").isNotNull)
    val varTbl = deltas.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_deltas"),
        expr("percentile(CAST(d AS DOUBLE), 0.05)").as("__var"))
    deltas.join(varTbl, "n_name")
      .filter(col("d").cast("double") <= col("__var"))
      .groupBy(col("n_name"))
      .agg(max(col("n_deltas")).as("n_deltas"),
        round(max(col("__var")) / 100.0, 4).as("var95"),
        (expr("(sum(d) div count(1)) * 100 + ((sum(d) % count(1)) * 100) div count(1)")
          / lit(10000.0)).as("cvar95"))
      .coalesce(1).orderBy(col("n_name"))
  }

  // --------------------------------------------------------------- q224

  /** q224 — seasonal-naive forecast backtest per event type: predict
    * each day's count with the SAME-WEEKDAY value 7 calendar days
    * back, score MAE against the one-day-back naive as MASE =
    * MAE(seasonal)/MAE(naive1) — the scale-free "did seasonality
    * help" gate run before any fancier model earns a slot (MASE ≥ 1
    * means the 7-day pattern adds nothing). Calendar-day self-joins
    * (not row lags), so a missing day yields no forecast rather than
    * a silently shifted one; both MAEs are exact 10⁻⁴-unit floor
    * divisions; the final ratio is one double division of exact
    * longs.
    */
  def maseQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    def lagged(n: Int, as: String) = daily.select(col("event_type"),
      date_add(col("day"), n).as("day"), col("x").as(as))
    val scored = daily
      .join(lagged(7, "x7"), Seq("event_type", "day"))
      .join(lagged(1, "x1"), Seq("event_type", "day"))
      .select(col("event_type"),
        abs(col("x") - col("x7")).as("e7"),
        abs(col("x") - col("x1")).as("e1"))
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        expr("(sum(e7) div count(1)) * 10000 + ((sum(e7) % count(1)) * 10000) div count(1)")
          .as("__m7"),
        expr("(sum(e1) div count(1)) * 10000 + ((sum(e1) % count(1)) * 10000) div count(1)")
          .as("__m1"))
      .select(col("event_type"), col("n_eval"),
        (col("__m7") / lit(10000.0)).as("mae_seasonal"),
        (col("__m1") / lit(10000.0)).as("mae_naive1"),
        round(col("__m7").cast("double") / col("__m1"), 6).as("mase"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- q241

  /** q241 — weekday-seasonality strength per event type: the share of
    * daily-count variance explained by the day-of-week means,
    * η² = SS_between/SS_total over the daily series — the single
    * number that says whether q206's decomposition is worth running
    * at all (η² ≈ 0 ⇒ no weekly pattern to remove). Exact decimal
    * power sums per (type, weekday) cell; SS terms combine in the
    * fixed q208 closed form; grand terms attach as one broadcast row
    * per type via a window over the ≤|types|·7 aggregate.
    */
  def seasonalityStrengthQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("dow", date_format(col("day"), "EEEE"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val cells = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("nc"), sum(d38(col("x"))).as("sc"),
        sum(d38(col("x") * col("x"))).as("qc"))
    val wT = Window.partitionBy(col("event_type"))
    val g = cells
      .withColumn("__n", sum(col("nc")).over(wT))
      .withColumn("__s", sum(col("sc")).over(wT))
      .withColumn("__q", sum(col("qc")).over(wT))
      // per-cell contribution to SS_between: sc²/nc (double, fixed AST)
      .withColumn("__cellterm",
        col("sc").cast("double") * col("sc").cast("double") /
          col("nc").cast("double"))
    g.groupBy(col("event_type"))
      .agg(max(col("__n")).as("n_days"),
        sum(col("__cellterm")).as("__between_raw"),
        max(col("__s").cast("double")).as("__sd"),
        max(col("__q").cast("double")).as("__qd"),
        max(col("__n")).cast("double").as("__nd"))
      .select(col("event_type"), col("n_days"),
        round((col("__between_raw") - col("__sd") * col("__sd") / col("__nd"))
          / (col("__qd") - col("__sd") * col("__sd") / col("__nd")), 6)
          .as("eta_sq"))
      .coalesce(1).orderBy(col("event_type"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q102_twap" -> (twapQuery _),
    "q103_ewma" -> (ewmaQuery _),
    "q104_interpolate" -> (interpolateQuery _),
    "q150_ship_lag" -> (shipLagQuery _),
    "q179_drawdown" -> (drawdownQuery _),
    "q180_kendall" -> (kendallQuery _),
    "q189_holt" -> (holtQuery _),
    "q206_seasonal_decompose" -> (seasonalDecomposeQuery _),
    "q212_deseasonal_anomaly" -> (deseasonalAnomalyQuery _),
    "q223_var_cvar" -> (varQuery _),
    "q224_mase_backtest" -> (maseQuery _),
    "q241_seasonality_strength" -> (seasonalityStrengthQuery _))
}

/** DuckDB twins for [[TimeSeries]] (driver correctness gate). */
object TimeSeriesOracle {

  val all: Seq[(String, String)] = Seq(
    // lead-window replay: exact integer µs durations, weighted mean
    "q102_twap" ->
      """WITH s AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value, epoch_us(ts) AS us,
        |         lead(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, CAST(ts AS DATE)
        |           ORDER BY ts, event_id) AS next_us
        |  FROM events),
        |g AS (
        |  SELECT user_id, day, count(*) AS n_obs,
        |         CAST(sum(next_us - us) AS BIGINT) AS span_us,
        |         round(sum(value * (next_us - us)) / sum(next_us - us), 6) AS twap
        |  FROM s GROUP BY user_id, day)
        |SELECT user_id, day, n_obs, span_us, twap
        |FROM g WHERE span_us IS NOT NULL AND span_us > 0
        |ORDER BY user_id, day LIMIT 500""".stripMargin,

    // bounded day-range join with the identical 0.5^(lag/7) weight
    "q103_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |e AS (
        |  SELECT t.event_type, t.day AS d,
        |         round(sum(power(0.5, date_diff('day', s.day, t.day) / 7.0) * s.c)
        |               / sum(power(0.5, date_diff('day', s.day, t.day) / 7.0)), 6) AS ewma,
        |         count(*) AS n_in_window
        |  FROM daily t JOIN daily s
        |    ON s.event_type = t.event_type
        |   AND s.day BETWEEN t.day - 29 AND t.day
        |  GROUP BY t.event_type, t.day)
        |SELECT event_type, d, ewma, n_in_window
        |FROM e ORDER BY event_type, d""".stripMargin,

    // same spine, same IGNORE NULLS neighbor scans, same exact-µs ratio
    "q104_interpolate" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS v
        |  FROM events WHERE event_type IN ('error', 'purchase')
        |  GROUP BY event_type, date_trunc('hour', ts)),
        |bounds AS (
        |  SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT t.event_type, g.h
        |  FROM (SELECT unnest(['error', 'purchase']) AS event_type) t,
        |       (SELECT unnest(generate_series(
        |          (SELECT lo FROM bounds), (SELECT hi FROM bounds),
        |          INTERVAL 1 HOUR)) AS h) g),
        |grid AS (
        |  SELECT s.event_type, s.h, hourly.v FROM spine s
        |  LEFT JOIN hourly ON hourly.event_type = s.event_type AND hourly.h = s.h),
        |nb AS (
        |  SELECT event_type, h, v,
        |    last_value(v IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN epoch_us(h) END IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(v IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN epoch_us(h) END IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM grid)
        |SELECT event_type, h,
        |       CASE WHEN v IS NOT NULL THEN v
        |            ELSE pv + (nv - pv) * ((epoch_us(h) - pt) / (nt - pt))
        |       END AS v_filled,
        |       v IS NOT NULL AS observed
        |FROM nb ORDER BY event_type, h LIMIT 800""".stripMargin,

    // exact integer day lags; quantile_cont ≡ Spark's interpolating
    // percentile on integer inputs (the q89 convention); mean is an
    // exact integer-sum division
    "q150_ship_lag" ->
      """WITH lag AS (
        |  SELECT o.o_orderpriority,
        |         date_diff('day', o.o_orderdate, l.l_shipdate) AS d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(d) / CAST(count(*) AS DOUBLE), 4) AS mean_days,
        |       round(quantile_cont(d, 0.5), 4) AS p50_days,
        |       round(quantile_cont(d, 0.9), 4) AS p90_days,
        |       max(d) AS max_days
        |FROM lag GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // identical running-peak window; argmax replayed as
    // ORDER BY dd DESC, m DESC (Spark's max(struct) tie rule)
    "q179_drawdown" ->
      """WITH monthly AS (
        |  SELECT n.n_name, date_trunc('month', o.o_orderdate) AS m,
        |         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev
        |  FROM orders o
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY n.n_name, date_trunc('month', o.o_orderdate)),
        |dd AS (
        |  SELECT n_name, m,
        |         (max(rev) OVER (PARTITION BY n_name ORDER BY m
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rev)
        |         / CAST(max(rev) OVER (PARTITION BY n_name ORDER BY m
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS DOUBLE) AS d
        |  FROM monthly),
        |ranked AS (
        |  SELECT n_name, m, d,
        |         count(*) OVER (PARTITION BY n_name) AS n_months,
        |         row_number() OVER (PARTITION BY n_name
        |           ORDER BY d DESC, m DESC) AS rn
        |  FROM dd)
        |SELECT n_name, n_months, round(d, 6) AS max_drawdown,
        |       CAST(m AS DATE) AS dd_month
        |FROM ranked WHERE rn = 1 ORDER BY n_name""".stripMargin,

    // same bounded month-pair self-join, same exact-cents comparisons,
    // same tau-b denominator (months unique per nation: no x-ties)
    "q180_kendall" ->
      """WITH monthly AS (
        |  SELECT n.n_name, date_trunc('month', o.o_orderdate) AS m,
        |         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev
        |  FROM orders o
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY n.n_name, date_trunc('month', o.o_orderdate)),
        |p AS (
        |  SELECT a.n_name,
        |         sum(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END) AS nc,
        |         sum(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END) AS nd,
        |         sum(CASE WHEN b.rev = a.rev THEN 1 ELSE 0 END) AS n_ties,
        |         count(*) AS n0
        |  FROM monthly a JOIN monthly b
        |    ON b.n_name = a.n_name AND a.m < b.m
        |  GROUP BY a.n_name)
        |SELECT n_name, CAST(nc AS BIGINT) AS nc, CAST(nd AS BIGINT) AS nd,
        |       CAST(n_ties AS BIGINT) AS n_ties,
        |       round((nc - nd) /
        |             sqrt(CAST(n0 AS DOUBLE) * (n0 - n_ties)), 6) AS tau_b
        |FROM p ORDER BY n_name""".stripMargin,

    // identical Holt recursion replayed as a RECURSIVE CTE stepping
    // one observation per iteration (the q175 fixpoint precedent —
    // DuckDB 1.0's list_reduce aliases struct-state fields, so a
    // multi-field recurrence can't fold reliably there); l' and b'
    // reuse the same expression text, so the IEEE sequence matches
    // Spark's HOF bit-for-bit
    "q189_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY CAST(ts AS DATE)) AS rn
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |rec AS (
        |  SELECT event_type, rn, x AS l, CAST(0 AS DOUBLE) AS b
        |  FROM daily WHERE rn = 1
        |  UNION ALL
        |  SELECT d.event_type, d.rn,
        |         0.3 * d.x + 0.7 * (r.l + r.b),
        |         0.1 * ((0.3 * d.x + 0.7 * (r.l + r.b)) - r.l) + 0.9 * r.b
        |  FROM rec r JOIN daily d
        |    ON d.event_type = r.event_type AND d.rn = r.rn + 1),
        |fin AS (
        |  SELECT event_type, rn, l, b,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY rn DESC) AS rr
        |  FROM rec)
        |SELECT event_type, CAST(rn AS BIGINT) AS n_days,
        |       round(l, 6) AS level, round(b, 6) AS trend,
        |       round(l + 7.0 * b, 6) AS forecast_7d
        |FROM fin WHERE rr = 1 ORDER BY event_type""".stripMargin,

    // same x7-unit detrending and 1e-4-unit truncating divisions
    // (DuckDB // and Spark div both truncate toward zero)
    "q206_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |d AS (
        |  SELECT *,
        |         count(*) OVER w AS n7,
        |         sum(x) OVER w AS s7,
        |         dayname(day) AS dow
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT *, CASE WHEN n7 = 7 THEN 7 * x - s7 END AS det7
        |  FROM d),
        |seas AS (
        |  SELECT event_type, dow,
        |         (sum(det7) * 10000) // (7 * count(det7)) AS seas_e4
        |  FROM det GROUP BY event_type, dow)
        |SELECT det.event_type, CAST(det.day AS VARCHAR) AS day,
        |       det.x AS n_events,
        |       (CASE WHEN det.n7 = 7 THEN (det.s7 * 10000) // 7 END)
        |         / 10000.0 AS trend,
        |       seas.seas_e4 / 10000.0 AS seasonal,
        |       (det.x * 10000
        |        - (CASE WHEN det.n7 = 7 THEN (det.s7 * 10000) // 7 END)
        |        - seas.seas_e4) / 10000.0 AS residual
        |FROM det JOIN seas
        |  ON seas.event_type = det.event_type AND seas.dow = det.dow
        |ORDER BY det.event_type, day""".stripMargin,

    // same decomposition, same cross-multiplied integer argmax and
    // closed z form over exact residual power sums
    "q212_deseasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |d AS (
        |  SELECT *,
        |         count(*) OVER w AS n7,
        |         sum(x) OVER w AS s7,
        |         dayname(day) AS dow
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |det AS (
        |  SELECT *, CASE WHEN n7 = 7 THEN 7 * x - s7 END AS det7
        |  FROM d),
        |seas AS (
        |  SELECT event_type, dow,
        |         (sum(det7) * 10000) // (7 * count(det7)) AS seas_e4
        |  FROM det GROUP BY event_type, dow),
        |r AS (
        |  SELECT det.event_type, det.day,
        |         det.x * 10000 - (det.s7 * 10000) // 7 - seas.seas_e4
        |           AS resid_e4
        |  FROM det JOIN seas
        |    ON seas.event_type = det.event_type AND seas.dow = det.dow
        |  WHERE det.n7 = 7 AND seas.seas_e4 IS NOT NULL),
        |m AS (
        |  SELECT *,
        |         count(*) OVER t AS n,
        |         sum(CAST(resid_e4 AS DECIMAL(38,0))) OVER t AS s,
        |         sum(CAST(resid_e4 * resid_e4 AS DECIMAL(38,0))) OVER t AS q
        |  FROM r
        |  WINDOW t AS (PARTITION BY event_type)),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(CAST(n AS DECIMAL(38,0)) * CAST(resid_e4
        |      AS DECIMAL(38,0)) - s) DESC, day) AS rn
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |       round(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q - s * s
        |             AS DOUBLE)) / (n * 10000.0), 4) AS resid_sigma,
        |       CAST(day AS VARCHAR) AS worst_day,
        |       resid_e4 / 10000.0 AS worst_resid,
        |       round(CAST(CAST(n AS DECIMAL(38,0)) * CAST(resid_e4
        |             AS DECIMAL(38,0)) - s AS DOUBLE) /
        |             sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q - s * s
        |             AS DOUBLE)), 4) AS worst_z
        |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // same observed-day deltas, same interpolating 5th percentile,
    // same double-admitted tail membership and exact tail mean
    "q223_var_cvar" ->
      """WITH daily AS (
        |  SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
        |         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS c
        |  FROM orders o
        |  JOIN customer cu ON o.o_custkey = cu.c_custkey
        |  JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, CAST(o.o_orderdate AS DATE)),
        |deltas AS (
        |  SELECT n_name,
        |         c - lag(c) OVER (PARTITION BY n_name ORDER BY day) AS d
        |  FROM daily
        |  QUALIFY d IS NOT NULL),
        |v AS (
        |  SELECT n_name, count(*) AS n_deltas,
        |         quantile_cont(CAST(d AS DOUBLE), 0.05) AS var
        |  FROM deltas GROUP BY n_name),
        |tail AS (
        |  SELECT deltas.n_name, v.n_deltas, v.var, deltas.d
        |  FROM deltas JOIN v ON v.n_name = deltas.n_name
        |  WHERE CAST(deltas.d AS DOUBLE) <= v.var)
        |SELECT n_name, CAST(max(n_deltas) AS BIGINT) AS n_deltas,
        |       round(max(var) / 100.0, 4) AS var95,
        |       ((sum(d) // count(*)) * 100
        |        + ((sum(d) % count(*)) * 100) // count(*)) / 10000.0
        |         AS cvar95
        |FROM tail GROUP BY n_name ORDER BY n_name""".stripMargin,

    // same calendar-day joins, same exact e4 MAEs, same final ratio
    "q224_mase_backtest" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |s AS (
        |  SELECT d.event_type,
        |         abs(d.x - l7.x) AS e7, abs(d.x - l1.x) AS e1
        |  FROM daily d
        |  JOIN daily l7 ON l7.event_type = d.event_type
        |              AND l7.day + 7 = d.day
        |  JOIN daily l1 ON l1.event_type = d.event_type
        |              AND l1.day + 1 = d.day)
        |SELECT event_type, count(*) AS n_eval,
        |       ((sum(e7) // count(*)) * 10000
        |        + ((sum(e7) % count(*)) * 10000) // count(*)) / 10000.0
        |         AS mae_seasonal,
        |       ((sum(e1) // count(*)) * 10000
        |        + ((sum(e1) % count(*)) * 10000) // count(*)) / 10000.0
        |         AS mae_naive1,
        |       round(CAST((sum(e7) // count(*)) * 10000
        |              + ((sum(e7) % count(*)) * 10000) // count(*) AS DOUBLE)
        |             / ((sum(e1) // count(*)) * 10000
        |              + ((sum(e1) % count(*)) * 10000) // count(*)), 6)
        |         AS mase
        |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same exact cell sums, same fixed closed-form eta squared
    "q241_seasonality_strength" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x,
        |         dayname(CAST(ts AS DATE)) AS dow
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |cells AS (
        |  SELECT event_type, dow, count(*) AS nc,
        |         sum(CAST(x AS DECIMAL(38,0))) AS sc,
        |         sum(CAST(x * x AS DECIMAL(38,0))) AS qc
        |  FROM daily GROUP BY event_type, dow),
        |g AS (
        |  SELECT event_type,
        |         CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |           / CAST(nc AS DOUBLE) AS cellterm,
        |         sum(nc) OVER (PARTITION BY event_type) AS n,
        |         sum(sc) OVER (PARTITION BY event_type) AS s,
        |         sum(qc) OVER (PARTITION BY event_type) AS q
        |  FROM cells)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
        |       round((sum(cellterm) - CAST(max(s) AS DOUBLE)
        |              * CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE))
        |             / (CAST(max(q) AS DOUBLE) - CAST(max(s) AS DOUBLE)
        |              * CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE)), 6)
        |         AS eta_sq
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin)
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential-statistics and distribution-integrity operators
  * (SURVEY.md §2.3.1 extensions, q113–q116): CUSUM change-point
  * estimation, lagged autocorrelation, event path mining, and
  * winsorized robust means.
  *
  * Cross-engine determinism: every statistic is derived from EXACT
  * integer sums (counts, cents, integer products) so both engines
  * compute the same IEEE doubles from the same closed-form expression —
  * never from order-dependent floating accumulation (the q97 lesson).
  *
  * Scale shapes:
  *  - [[cusumChangepoints]] / [[acf]]: one (series, day) aggregate
  *    shuffle; windows partition by the series key so no single
  *    partition concentrates; per-series readouts are series-count
  *    rows, not data-sized.
  *  - [[acf]] joins the daily grid to itself through a bounded
  *    lag explode (fan-out = |lags|, never day×day).
  *  - [[pathTrigrams]]: one user-key shuffle for the ordered lag scan,
  *    then a |types|³-bounded aggregate.
  *  - [[winsorizedMeans]] / [[weightedMedianQuery]]: exact per-group
  *    percentiles are holistic (per-group distinct-value map in ONE
  *    aggregation buffer) — fine while value cardinality is bounded;
  *    both run behind the [[exactIsSafe]] size guard, so a 100 TB
  *    caller cannot accidentally build an unbounded in-memory map:
  *    over the bound, q116 swaps to the mergeable `approx_percentile`
  *    sketch and q133 to the EXACT cumulative-window form (spillable
  *    sort, O(1) per-row state).
  */
object Drift {

  /** Per-group percentile regimes. The holistic `percentile` aggregate
    * keeps each group's distinct-value map in ONE aggregation buffer:
    * fastest at bounded cardinality, memory grows with distinct values.
    * The bounded-memory forms are `approx_percentile` (unweighted, at
    * [[SketchAccuracy]]) and the exact cumulative-weight window
    * (weighted). [[winsorizedMeans]] and [[weightedMedianQuery]] pick
    * the regime from the data through [[exactIsSafe]], so a caller gets
    * small-scale speed AND cannot OOM an executor at 100 TB.
    *
    * 4M distinct longs per group ≈ tens of MB of aggregation buffer:
    * comfortably inside an executor, far above any cents-grid
    * cardinality seen at test scale.
    */
  private val MaxDistinctPerGroup = 4000000L

  /** `approx_percentile` accuracy on the sketch regime. */
  private val SketchAccuracy = 10000

  /** True = the holistic path is safe on the observed data. One
    * approx_count_distinct guard job (two-column aggregate, mergeable
    * sketch, map-side partials). The threshold is shaded to 90% of
    * [[MaxDistinctPerGroup]]: the sketch carries ~2–5% relative error
    * and this check exists purely as an OOM guard, so a group
    * moderately over the memory bound must never be routed to the
    * unbounded holistic path by under-estimation. */
  private def exactIsSafe(
      pairs: DataFrame, keyCol: String, valueCol: String): Boolean = {
    val worst = pairs
      .groupBy(col(keyCol))
      .agg(approx_count_distinct(col(valueCol)).as("__d"))
      .agg(max(col("__d")).as("__m"))
      .head()
    worst.isNullAt(0) ||
      worst.getLong(0) <= MaxDistinctPerGroup - MaxDistinctPerGroup / 10
  }

  private def orderedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).orderBy(cols: _*)

  /** CUSUM change-point estimate per series: with C_t = Σ_{i≤t}(x_i − μ)
    * (the cumulative sum of deviations from the series mean), the
    * classic estimator places the change at argmax_t |C_t|; the
    * normalized statistic max|C|/(σ·√n) is the threshold a monitor
    * alerts on. The running sum of the integer-valued series is exact;
    * μ and σ come from exact power sums, so C_t is the same double in
    * any engine. Ties on max|C_t| break to the earliest period.
    *
    * Input: one row per (series key, period) with an integer value
    * column. One series-key shuffle; output is one row per series.
    */
  def cusumChangepoints(
      df: DataFrame, keyCol: String, periodCol: String,
      valueCol: String): DataFrame = {
    val k = col(keyCol)
    val stats = df.groupBy(k).agg(
      count(lit(1)).as("__n"),
      sum(col(valueCol)).as("__s"),
      sum(col(valueCol) * col(valueCol)).as("__s2"))
    val w = Window.partitionBy(k).orderBy(col(periodCol))
    // per-series stats/top are one row per key — broadcast only while
    // the measured key cardinality stays bounded (unbounded in
    // general); one guard job decides both hints
    val bounded = Hints.keyIsBounded(df, k)
    def hinted(d: DataFrame): DataFrame = if (bounded) broadcast(d) else d
    val cus = df
      .join(hinted(stats), keyCol)
      .withColumn("__mu", col("__s") / col("__n"))
      .withColumn("__cusum",
        abs(sum(col(valueCol)).over(w) - row_number().over(w) * col("__mu")))
    val top = cus.groupBy(k).agg(max(col("__cusum")).as("__m"))
    cus.join(hinted(top), keyCol)
      .filter(col("__cusum") === col("__m"))
      .groupBy(k, col("__n"), col("__s"), col("__s2"), col("__m"))
      .agg(min(col(periodCol)).as("cp_period"))
      .select(k, col("cp_period"), col("__n").as("n_periods"),
        round(col("__m"), 4).as("max_abs_cusum"),
        round(col("__m") /
          nullif(sqrt(col("__s2") / col("__n") -
            (col("__s") / col("__n")) * (col("__s") / col("__n"))) *
            sqrt(col("__n")), lit(0.0)), 4).as("cusum_stat"))
  }

  /** Lag-k autocorrelation of an integer-valued regular series, for
    * each lag in 1..`maxLag`:
    * r_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)², expanded so every sum is
    * an exact integer (Σx_t·x_{t+k}, Σx over matched pairs, pair
    * count) and the division is one closed-form double expression.
    * Pairs are built by a bounded lag explode joined back to the grid
    * on (key, period+lag) — fan-out = maxLag, never a grid self-cross.
    * Constant series (zero variance) yield null.
    */
  def acf(
      df: DataFrame, keyCol: String, periodCol: String, valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"maxLag must be in 1..60: $maxLag")
    val k = col(keyCol)
    val stats = df.groupBy(k).agg(
      count(lit(1)).as("__n"),
      sum(col(valueCol)).as("__s"),
      sum(col(valueCol) * col(valueCol)).as("__s2"))
    val base = df.select(k, col(periodCol).as("__p"), col(valueCol).as("__x"))
    val probes = base
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("__tp", date_add(col("__p"), col("lag")))
    val pairs = probes.alias("l")
      .join(base.alias("r"),
        col(s"l.$keyCol") === col(s"r.$keyCol") &&
          col("l.__tp") === col("r.__p"))
      .select(col(s"l.$keyCol").as(keyCol), col("l.lag"),
        col("l.__x").as("__xa"), col("r.__x").as("__xb"))
    pairs.groupBy(k, col("lag"))
      .agg(count(lit(1)).as("__m"),
        sum(col("__xa") * col("__xb")).as("__sxy"),
        sum(col("__xa")).as("__sx"),
        sum(col("__xb")).as("__sy"))
      // per-series stats: cardinality-guarded hint, as in
      // [[cusumChangepoints]]
      .join(Hints.broadcastIfBounded(stats, df, k), keyCol)
      .withColumn("__mu", col("__s") / col("__n"))
      .select(k, col("lag"), col("__m").as("n_pairs"),
        round(
          (col("__sxy") - col("__mu") * col("__sx") - col("__mu") * col("__sy")
            + col("__m") * col("__mu") * col("__mu")) /
            nullif(col("__s2") - col("__s") * (col("__s") / col("__n")),
              lit(0.0)),
          6).as("acf"))
  }

  /** Consecutive event trigrams per entity: each entity's stream is
    * ordered by (ts, tiebreak) and every window of three consecutive
    * events becomes one (e1, e2, e3) observation; counts and global
    * share per trigram. One entity-key shuffle for the lag scan, then
    * a |types|³-bounded aggregate — output never scales with rows.
    */
  def pathTrigrams(
      df: DataFrame, entityCol: String, tsCol: String, tieCol: String,
      typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val tri = df
      .select(col(entityCol), col(tsCol), col(tieCol), col(typeCol).as("e3"))
      .withColumn("e2", lag(col("e3"), 1).over(w))
      .withColumn("e1", lag(col("e3"), 2).over(w))
      .filter(col("e1").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
    val tot = tri.agg(sum(col("n")).as("__t"))
    tri.crossJoin(broadcast(tot))
      .select(col("e1"), col("e2"), col("e3"), col("n"),
        round(col("n") / col("__t"), 6).as("share"))
  }

  /** Winsorized per-group means: values are clamped to the exact
    * [pLo, pHi] interpolated percentiles of their group before
    * averaging — the standard outlier treatment that keeps a corrupted
    * tail from dragging a training-mix statistic. Arithmetic is exact
    * integer cents end-to-end: percentile boundaries (identical IEEE
    * doubles in both engines) are rounded to integer cents, the clamp
    * runs on BIGINTs, and each mean is one division of an exact sum.
    * Two passes over the group: a percentile aggregate broadcast
    * back, then one algebraic aggregate. The percentile pass runs
    * behind the [[exactIsSafe]] size guard: exact holistic below the
    * distinct-value bound, `approx_percentile` (mergeable sketch, same
    * call shape; cut values approximate, clamp+means still exact
    * integers against those cuts) above it.
    */
  def winsorizedMeans(
      df: DataFrame, keyCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, s"need 0<=pLo<pHi<=1: $pLo, $pHi")
    winsorizedMeansWith(df, keyCol, valueCol, pLo, pHi,
      holistic = exactIsSafe(cents(df, keyCol, valueCol), keyCol, "__c"))
  }

  private def cents(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.select(col(keyCol), round(col(valueCol) * 100).cast("long").as("__c"))

  /** [[winsorizedMeans]] in a resolved regime: holistic `percentile`
    * cuts, or `approx_percentile` ones. */
  private[ops] def winsorizedMeansWith(
      df: DataFrame, keyCol: String, valueCol: String,
      pLo: Double, pHi: Double, holistic: Boolean): DataFrame = {
    val k = col(keyCol)
    val c = cents(df, keyCol, valueCol)
    val cuts =
      if (holistic) c.groupBy(k).agg(
        round(expr(s"percentile(__c, $pLo)")).cast("long").as("__lo"),
        round(expr(s"percentile(__c, $pHi)")).cast("long").as("__hi"))
      else c.groupBy(k).agg(
        round(expr(s"approx_percentile(__c, $pLo, $SketchAccuracy)")).cast("long").as("__lo"),
        round(expr(s"approx_percentile(__c, $pHi, $SketchAccuracy)")).cast("long").as("__hi"))
    c.join(broadcast(cuts), keyCol)
      .withColumn("__w", least(greatest(col("__c"), col("__lo")), col("__hi")))
      .groupBy(k)
      .agg(count(lit(1)).as("n"),
        first(col("__lo")).as("__l"), first(col("__hi")).as("__h"),
        sum(col("__c")).as("__sr"), sum(col("__w")).as("__sw"),
        sum(when(col("__c") < col("__lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("__c") > col("__hi"), 1L).otherwise(0L)).as("n_clip_hi"))
      .select(k, col("n"),
        round(col("__l") / lit(100.0), 2).as("lo_cut"),
        round(col("__h") / lit(100.0), 2).as("hi_cut"),
        round(col("__sr") / col("n") / lit(100.0), 4).as("mean_raw"),
        round(col("__sw") / col("n") / lit(100.0), 4).as("mean_winsor"),
        col("n_clip_lo"), col("n_clip_hi"))
  }

  // ------------------------------------------------------ shared input

  /** Daily event counts per type — the q113/q114 series (exact ints). */
  private def dailyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))

  // --------------------------------------------------------------- q113

  /** q113 — CUSUM change-point screen over daily event volumes: for
    * each event type, where does the cumulative deviation from the
    * mean peak, and how large is it in σ·√n units. */
  def cusumQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      cusumChangepoints(dailyCounts(spark, dir), "event_type", "day", "c")
        .withColumnRenamed("cp_period", "cp_day"),
      col("event_type"))

  // --------------------------------------------------------------- q114

  /** q114 — autocorrelation of daily event counts at lags 1..7 per
    * event type: the weekly-seasonality detector. */
  def acfQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      acf(dailyCounts(spark, dir), "event_type", "day", "c", maxLag = 7),
      col("event_type"), col("lag"))

  // --------------------------------------------------------------- q115

  /** q115 — top consecutive event trigrams across user streams
    * (ts, event_id ordered): the path-mining readout one step deeper
    * than q95's Markov pairs. */
  def trigramQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      pathTrigrams(Tables.load(spark, dir, "events"),
        "user_id", "ts", "event_id", "event_type"),
      col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(50)

  // --------------------------------------------------------------- q116

  /** q116 — winsorized order-value means per order priority: the
    * [p05, p95]-clamped average next to the raw one, with clip
    * counts — mean drift under tail clamping. */
  def winsorQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      winsorizedMeans(Tables.load(spark, dir, "orders"),
        "o_orderpriority", "o_totalprice", 0.05, 0.95),
      col("o_orderpriority"))

  // --------------------------------------------------------------- q127

  /** q127 — freshness / staleness audit per event type: hours since
    * the type's last event (relative to the corpus max instant, exact
    * integer µs), plus the rate-decay ratio of the trailing 7 days vs
    * the prior 28 (exact counts, one closed-form double) — the feed
    * monitor that catches a source going quiet before a mix drifts.
    * The corpus max instant/day is a single-row broadcast attach.
    */
  def freshnessQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val gmax = ev.agg(max(col("ts")).as("__gm"),
      max(to_date(col("ts"))).as("__gd"))
    val perType = ev.crossJoin(broadcast(gmax))
      .withColumn("__back", datediff(col("__gd"), to_date(col("ts"))))
      .groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_seen"),
        first(col("__gm")).as("__m"),
        sum(when(col("__back").between(0, 6), 1L).otherwise(0L)).as("n_last7"),
        sum(when(col("__back").between(7, 34), 1L).otherwise(0L)).as("n_prior28"))
      .select(col("event_type"), col("last_seen"),
        round((unix_micros(col("__m")) - unix_micros(col("last_seen"))) /
          lit(3600.0e6), 4).as("hours_stale"),
        col("n_last7"), col("n_prior28"),
        round((col("n_last7") / lit(7.0)) /
          nullif(col("n_prior28") / lit(28.0), lit(0.0)), 6).as("rate_ratio"))
    orderedSmall(perType, col("event_type"))
  }

  // --------------------------------------------------------------- q128

  /** q128 — inter-event gap histogram on a log2 scale: per-user
    * consecutive gaps in exact integer µs, bucketed by ⌊log2(gap)⌋
    * computed as `length(bin(gap)) − 1` — pure integer/string
    * arithmetic, so the bucket of every gap is identical in any engine
    * (no floating log at a power-of-two boundary). Simultaneous events
    * (gap 0) land in bucket −1. One user-key shuffle, ≤64-bucket
    * output with exact bounds per bucket — the burstiness profile that
    * sizes session-gap and watermark thresholds.
    */
  def gapHistogramQuery(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("__gap", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("__gap").isNotNull)
      .withColumn("bucket",
        when(col("__gap") === 0, lit(-1))
          .otherwise(length(bin(col("__gap"))) - 1))
    val hist = gaps.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("__gap")).as("min_gap_us"),
        max(col("__gap")).as("max_gap_us"))
    val tot = hist.agg(sum(col("n")).as("__t"))
    orderedSmall(
      hist.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"), col("min_gap_us"), col("max_gap_us"),
          round(col("n") / col("__t").cast("double"), 6).as("share")),
      col("bucket"))
  }

  // --------------------------------------------------------------- q129

  /** q129 — day-of-week activity profile per event type: events per
    * weekday NAME (identical strings in both engines — integer
    * weekday codes differ between them), normalized by the number of
    * distinct calendar days of that weekday in the corpus, plus the
    * share of the type's volume. All exact integer counts; two
    * divisions. The weekly-rhythm twin of q97's hour-of-day screen.
    */
  def dowProfileQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("__d"))
      .withColumn("dow", date_format(col("__d"), "EEEE"))
    val counts = ev.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"), countDistinct(col("__d")).as("n_days"))
    val typeTot = ev.groupBy(col("event_type")).agg(count(lit(1)).as("__t"))
    orderedSmall(
      counts.join(broadcast(typeTot), "event_type")
        .select(col("event_type"), col("dow"), col("n"), col("n_days"),
          round(col("n") / col("n_days").cast("double"), 4).as("per_day"),
          round(col("n") / col("__t").cast("double"), 6).as("share")),
      col("event_type"), col("dow"))
  }

  // --------------------------------------------------------------- q132

  /** q132 — rolling 7-day correlation of each event type's daily
    * volume against the purchase series: corr over a trailing 7-ROW
    * window from exact integer co-moment sums (Σx, Σy, Σxy, Σx², Σy²,
    * n — all BIGINT window sums), combined in ONE closed-form double —
    * no streaming-variance accumulation, so both engines emit the same
    * IEEE value. Windows partition by the series key; the daily grain
    * bounds rows to types × calendar days. Zero-variance windows yield
    * null. The co-movement monitor that catches a funnel decoupling
    * from its traffic.
    */
  def rollingCorrQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(spark, dir)
    val purchases = daily.filter(col("event_type") === "purchase")
      .select(col("day"), col("c").as("y"))
    val joined = daily.filter(col("event_type") =!= "purchase")
      .join(purchases, "day")
      .select(col("event_type"), col("day"), col("c").as("x"), col("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    val sums = joined
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(col("x")).over(w))
      .withColumn("__sy", sum(col("y")).over(w))
      .withColumn("__sxy", sum(col("x") * col("y")).over(w))
      .withColumn("__sx2", sum(col("x") * col("x")).over(w))
      .withColumn("__sy2", sum(col("y") * col("y")).over(w))
      .filter(col("__n") === 7)
    orderedSmall(
      sums.select(col("event_type"), col("day"), col("__n").as("n"),
        round(
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
            nullif(sqrt((col("__n") * col("__sx2") - col("__sx") * col("__sx"))
              .cast("double") *
              (col("__n") * col("__sy2") - col("__sy") * col("__sy"))
                .cast("double")), lit(0.0)),
          6).as("corr7")),
      col("event_type"), col("day"))
      .limit(600)
  }

  // --------------------------------------------------------------- q167

  /** q167 — quantile normalization (nearest-rank): each document's
    * length is replaced by the POOLED corpus length at the same
    * quantile position within its source — the batch-effect remover
    * that forces every source onto one distribution while preserving
    * within-source order. Nearest-rank (not interpolated), so every
    * normalized value is an actual corpus length (a long): the
    * per-source means are then exact integer sums, and the target
    * position is computed by integer half-up rounding
    * ⌊(2·(r−1)·(N−1) + (n_g−1)) / (2·(n_g−1))⌋ + 1 — no float
    * rounding can disagree at a .5 boundary. Plan: one per-source
    * rank window, one global rank (range exchange — the documented
    * swap at unbounded scale is an approx-quantile grid), one
    * position-keyed join. Source-bounded output; the pooled mean is
    * the drift readout (all sources land near it — that is the
    * point of the operator).
    */
  def quantileNormQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val wSrcAll = Window.partitionBy(col("source"))
    val ranked = docs
      .withColumn("__r", row_number().over(wSrc))
      .withColumn("__ng", count(lit(1)).over(wSrcAll))
    val pooled = docs
      .select(col("n_chars").as("__pv"), col("doc_id").as("__pd"))
      .withColumn("__pos",
        row_number().over(Window.orderBy(col("__pv"), col("__pd"))))
      .drop("__pd")
    val n = docs.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("__t",
        when(col("__ng") === 1, expr("(__n + 1) div 2"))
          .otherwise(expr(
            "(2 * (__r - 1) * (__n - 1) + (__ng - 1)) div (2 * (__ng - 1)) + 1")))
      .join(pooled, col("__t") === col("__pos"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")) / count(lit(1)).cast("double"), 4)
          .as("mean_raw"),
        round(sum(col("__pv")) / count(lit(1)).cast("double"), 4)
          .as("mean_norm"),
        min(col("__pv")).as("min_norm"), max(col("__pv")).as("max_norm"))
      .coalesce(1).orderBy(col("source"))
  }

  // --------------------------------------------------------------- q171

  /** q171 — one-pass pairwise correlation matrix: all three pairwise
    * Pearson correlations among (quantity, price, discount) per
    * return flag from ONE aggregate scan — n plus nine exact
    * decimal(38,0) (co-)moment sums, unpivoted to a 9-row (flag,
    * var_a, var_b) matrix. Correlation is scale-free, so the integer
    * unit encodings (qty·100, price·100, disc·100) cancel exactly;
    * each corr is one closed-form double from integer sums with a
    * textually parallel AST in DuckDB (q132/q145 discipline). The
    * multivariate drift readout ("did discount stop tracking
    * quantity") at |flags|·3 output rows, map-side partials, no
    * second scan.
    */
  def corrMatrixQuery(spark: SparkSession, dir: String): DataFrame = {
    // r12 (guide §1.2 per-task work): the unit encodings are ≤ 10⁷, so
    // every per-row (co-)moment product is ≤ 10¹⁴ — exact in LONG; only
    // the cross-row SUMS can exceed 2⁶³ at scale, so each product is
    // cast to decimal(38,0) for accumulation. Bit-identical to the old
    // all-decimal form (same exact integers), but the 9 per-row
    // BigDecimal multiplies (the dominant cost — 37 s at 10×, 9 rows
    // out) become integer-ALU multiplies; the decimal adds stay compact
    // (Spark Decimal holds ≤18-digit values in a long) until the sums
    // genuinely outgrow a long.
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("__x"),
        round(col("l_extendedprice") * 100).cast("long").as("__y"),
        round(col("l_discount") * 100).cast("long").as("__z"))
    val g = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
        sum(dec(col("__z"))).as("__sz"),
        sum(dec(col("__x") * col("__x"))).as("__sxx"),
        sum(dec(col("__y") * col("__y"))).as("__syy"),
        sum(dec(col("__z") * col("__z"))).as("__szz"),
        sum(dec(col("__x") * col("__y"))).as("__sxy"),
        sum(dec(col("__x") * col("__z"))).as("__sxz"),
        sum(dec(col("__y") * col("__z"))).as("__syz"))
    def corr(sa: String, sb: String, saa: String, sbb: String,
        sab: String): Column =
      round(
        (col("n") * col(sab) - col(sa) * col(sb)).cast("double") /
          sqrt((col("n") * col(saa) - col(sa) * col(sa)).cast("double") *
            (col("n") * col(sbb) - col(sb) * col(sb)).cast("double")), 6)
    def pair(a: String, b: String, c: Column): DataFrame =
      g.select(col("l_returnflag"), lit(a).as("var_a"), lit(b).as("var_b"),
        col("n"), c.as("corr"))
    pair("quantity", "price", corr("__sx", "__sy", "__sxx", "__syy", "__sxy"))
      .unionByName(pair("quantity", "discount",
        corr("__sx", "__sz", "__sxx", "__szz", "__sxz")))
      .unionByName(pair("price", "discount",
        corr("__sy", "__sz", "__syy", "__szz", "__syz")))
      .coalesce(1).orderBy(col("l_returnflag"), col("var_a"), col("var_b"))
  }

  // --------------------------------------------------------------- q190

  /** q190 — isotonic (monotone non-decreasing) regression of mean
    * event value over hour-of-day per event type, via the CLOSED-FORM
    * minimax identity ŷᵢ = max_{j≤i} min_{k≥i} mean(y_j..y_k) instead
    * of the sequential pool-adjacent-violators loop — PAVA ≡ minimax
    * (property-pinned in DriftSpec against a reference PAVA), and the
    * minimax form is pure joins/aggregates over the BOUNDED 24-bucket
    * series, so the "quadratic" lives on a ≤24-row aggregate while
    * fact data is touched once. Prefix sums run in a deterministic
    * ROWS window (identical doubles both engines).
    */
  def isotonicQuery(spark: SparkSession, dir: String): DataFrame = {
    val y = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), hour(col("ts")).as("i"))
      .agg((sum(round(col("value") * 100).cast("long")) /
        (count(lit(1)) * 100.0)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = y.withColumn("__S", sum(col("y")).over(w))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("i"))))
    val sj = s.select(col("event_type").as("__e1"), col("__r").as("__j"),
      (col("__S") - col("y")).as("__Sj1")) // S_{j-1}
    val sk = s.select(col("event_type").as("__e2"), col("__r").as("__k"),
      col("__S").as("__Sk"))
    val means = sj.join(sk, col("__e1") === col("__e2") &&
        col("__j") <= col("__k"))
      .select(col("__e1").as("__e"), col("__j"), col("__k"),
        ((col("__Sk") - col("__Sj1")) / (col("__k") - col("__j") + 1))
          .as("__m"))
    val minK = means.join(
        s.select(col("event_type").as("__ei"), col("__r").as("__i")),
        col("__e") === col("__ei") && col("__j") <= col("__i") &&
          col("__i") <= col("__k"))
      .groupBy(col("__e"), col("__i"), col("__j"))
      .agg(min(col("__m")).as("__mj"))
    val fit = minK.groupBy(col("__e"), col("__i"))
      .agg(max(col("__mj")).as("__fit"))
    s.join(fit, col("event_type") === col("__e") && col("__r") === col("__i"))
      .select(col("event_type"), col("i").as("hod"),
        round(col("y"), 6).as("y_mean"), round(col("__fit"), 6).as("iso_fit"))
      .coalesce(1).orderBy(col("event_type"), col("hod"))
  }

  // --------------------------------------------------------------- q191

  /** q191 — burstiness profile of hourly event arrivals per type: the
    * Fano factor (variance/mean of hourly counts) and the bounded
    * burstiness score B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 periodic, 0
    * Poisson-like, →1 bursty). Variance from exact integer power sums
    * (Σc, Σc² are longs), so both engines evaluate the same closed
    * form — the q97 convention.
    */
  def burstinessQuery(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("c")).as("__s"), sum(col("c") * col("c")).as("__s2"))
      .withColumn("__mu", col("__s").cast("double") / col("n_hours"))
      .withColumn("__var",
        (col("__s2").cast("double") - col("__s").cast("double") * col("__mu")) /
          (col("n_hours") - 1))
      .withColumn("__sd", sqrt(col("__var")))
      .select(col("event_type"), col("n_hours"),
        round(col("__mu"), 6).as("mean_per_hour"),
        round(col("__var") / col("__mu"), 6).as("fano"),
        round((col("__sd") - col("__mu")) / (col("__sd") + col("__mu")), 6)
          .as("burstiness"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- q195

  /** q195 — Simpson's-paradox screen: the pooled regression slope of
    * quantity on discount versus each brand's within-stratum slope,
    * flagging strata whose trend REVERSES the pooled one. Slopes come
    * from exact integer power sums (discounts are integral cents,
    * quantities integral; Σx, Σy, Σxy, Σx² carried in decimal(38,0)),
    * so the reversal flag compares exact integer numerator signs —
    * positive denominators make sign(slope) = sign(n·Σxy − Σx·Σy) —
    * and can never flip on accumulation noise. One brand aggregate +
    * a broadcast pooled row.
    */
  def simpsonQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round(col("l_discount") * 100).cast("long").as("__x"),
        col("l_quantity").cast("long").as("__y"))
    def sums(df: DataFrame, keys: Seq[Column]) = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__x").cast("decimal(38,0)")).as("__sx"),
        sum(col("__y").cast("decimal(38,0)")).as("__sy"),
        sum((col("__x") * col("__y")).cast("decimal(38,0)")).as("__sxy"),
        sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("__sxx"))
    def num(pre: String) = col(s"${pre}__n") * col(s"${pre}__sxy") -
      col(s"${pre}__sx") * col(s"${pre}__sy")
    def den(pre: String) = col(s"${pre}__n") * col(s"${pre}__sxx") -
      col(s"${pre}__sx") * col(s"${pre}__sx")
    val pooled = sums(base, Seq.empty)
      .select(col("__n").as("p__n"), col("__sx").as("p__sx"),
        col("__sy").as("p__sy"), col("__sxy").as("p__sxy"),
        col("__sxx").as("p__sxx"))
    sums(base, Seq(col("p_brand")))
      .crossJoin(broadcast(pooled))
      .select(col("p_brand"), col("__n").as("n"),
        round(num("").cast("double") / den("").cast("double"), 6)
          .as("brand_slope"),
        round(num("p").cast("double") / den("p").cast("double"), 6)
          .as("pooled_slope"),
        (signum(num("").cast("double")) =!=
          signum(num("p").cast("double"))).as("reversed"))
      .coalesce(1).orderBy(col("p_brand"))
  }

  // --------------------------------------------------------------- q198

  /** q198 — Gaussian kernel density of order value per priority on a
    * fixed 21-point grid: the smooth distribution profile a histogram
    * (q146's equi-depth, q128's log2 bins) jumps past. Order values
    * normalize to [0,1] by the EXACT global integer min/max (one
    * broadcast stats row), grid points are j/20, bandwidth 0.05; each
    * order contributes exp(−½z²) to every grid point via a bounded
    * 21× explode — |orders|·21 rows into a (priority, j) aggregate,
    * never a data×data cross. Both engines evaluate the identical
    * closed-form kernel over identical exact inputs; the final
    * density divides once by n·h·√(2π).
    */
  def kdeQuery(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("__c"))
    val stats = orders.agg(min(col("__c")).as("__mn"), max(col("__c")).as("__mx"))
    orders.crossJoin(broadcast(stats))
      .withColumn("__u", (col("__c") - col("__mn")).cast("double") /
        (col("__mx") - col("__mn")).cast("double"))
      .select(col("o_orderpriority"), col("__u"),
        explode(sequence(lit(0), lit(20))).as("j"))
      .withColumn("__z", (col("__u") - col("j") / lit(20.0)) / lit(0.05))
      .groupBy(col("o_orderpriority"), col("j"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(exp(col("__z") * col("__z") / lit(-2.0))) /
          (count(lit(1)) * lit(0.05) * sqrt(lit(2.0) * lit(math.Pi))), 6)
          .as("density"))
      .select(col("o_orderpriority"), round(col("j") / 20.0, 2).as("u_grid"),
        col("n_orders"), col("density"))
      .coalesce(1).orderBy(col("o_orderpriority"), col("u_grid"))
  }

  // --------------------------------------------------------------- q199

  /** q199 — two-regressor OLS per return flag: quantity regressed on
    * discount AND tax jointly via the closed-form normal equations —
    * the multi-feature step past q195's single-slope screen (which
    * cannot separate two correlated drivers). The five centered
    * co-moments S_x1x1, S_x2x2, S_x1x2, S_x1y, S_x2y are exact
    * decimal(38,0) integer forms (n·Σab − Σa·Σb over cents/units);
    * each casts to double ONCE and the 2×2 solve
    * b = [S_x2x2·S_x1y − S_x1x2·S_x2y, S_x1x1·S_x2y − S_x1x2·S_x1y]/det
    * is a fixed-shape closed-form AST both engines evaluate
    * identically (the determinant of n²-scaled moments would overflow
    * decimal(38) at extreme scale, so the COMBINATION is double by
    * design — the q145 discipline). R² = (b1·S_x1y + b2·S_x2y)/S_yy.
    * Plan: ONE algebraic aggregate pass over the fact, |groups| rows
    * out — map-side partials, no second scan.
    */
  def ols2Query(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_discount") * 100).cast("long").as("__x1"),
        round(col("l_tax") * 100).cast("long").as("__x2"),
        col("l_quantity").cast("long").as("__y"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val agg = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("__n"),
        sum(d38(col("__x1"))).as("__s1"),
        sum(d38(col("__x2"))).as("__s2"),
        sum(d38(col("__y"))).as("__sy"),
        sum(d38(col("__x1") * col("__x1"))).as("__s11"),
        sum(d38(col("__x2") * col("__x2"))).as("__s22"),
        sum(d38(col("__x1") * col("__x2"))).as("__s12"),
        sum(d38(col("__x1") * col("__y"))).as("__s1y"),
        sum(d38(col("__x2") * col("__y"))).as("__s2y"),
        sum(d38(col("__y") * col("__y"))).as("__syy"))
    def ctr(ab: String, a: String, b: String) =
      ((col("__n") * col(s"__s$ab") - col(s"__s$a") * col(s"__s$b"))
        .cast("double")).as(s"__c$ab")
    val m = agg.select(col("l_returnflag"), col("__n"),
      col("__s1"), col("__s2"), col("__sy"),
      ctr("11", "1", "1"), ctr("22", "2", "2"), ctr("12", "1", "2"),
      ctr("1y", "1", "y"), ctr("2y", "2", "y"), ctr("yy", "y", "y"))
    val det = col("__c11") * col("__c22") - col("__c12") * col("__c12")
    val b1 = (col("__c22") * col("__c1y") - col("__c12") * col("__c2y")) / det
    val b2 = (col("__c11") * col("__c2y") - col("__c12") * col("__c1y")) / det
    m.select(col("l_returnflag"), col("__n").as("n"),
        round(b1, 6).as("b_discount"),
        round(b2, 6).as("b_tax"),
        round((col("__sy").cast("double") - b1 * col("__s1").cast("double") -
          b2 * col("__s2").cast("double")) / col("__n").cast("double"), 6)
          .as("intercept"),
        round((b1 * col("__c1y") + b2 * col("__c2y")) / col("__cyy"), 6)
          .as("r2"))
      .coalesce(1).orderBy(col("l_returnflag"))
  }

  // --------------------------------------------------------------- q200

  /** q200 — principal-axis (PCA / total-least-squares) decomposition
    * of the per-lineitem (discount, tax) cloud per return flag: the
    * ORTHOGONAL regression q199's OLS is not — errors in both
    * variables, axis = leading eigenvector of the 2×2 covariance
    * matrix, which has a closed form: λ = (tr ± √(diff² + 4c²))/2,
    * θ = ½·atan2(2c, diff). Co-moments are exact decimal(38,0)
    * integer forms cast to double once (their squares inside the
    * discriminant would overflow decimal(38) at extreme scale);
    * explained share λ1/tr is scale-invariant in n so the n²-scaling
    * cancels. ONE algebraic aggregate pass, |groups| rows out.
    */
  def pcaQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_discount") * 100).cast("long").as("__x"),
        round(col("l_tax") * 100).cast("long").as("__y"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val agg = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("__n"),
        sum(d38(col("__x"))).as("__sx"),
        sum(d38(col("__y"))).as("__sy"),
        sum(d38(col("__x") * col("__x"))).as("__sxx"),
        sum(d38(col("__y") * col("__y"))).as("__syy"),
        sum(d38(col("__x") * col("__y"))).as("__sxy"))
    val vx = (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double")
    val vy = (col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .cast("double")
    val cxy = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val tr = vx + vy
    val disc = sqrt((vx - vy) * (vx - vy) + lit(4.0) * cxy * cxy)
    agg.select(col("l_returnflag"), col("__n").as("n"),
        round((tr + disc) / (lit(2.0) * tr), 6).as("explained_share"),
        round(atan2(lit(2.0) * cxy, vx - vy) / lit(2.0), 6)
          .as("axis_angle_rad"),
        round(cxy / sqrt(vx * vy), 6).as("corr"))
      .coalesce(1).orderBy(col("l_returnflag"))
  }

  // --------------------------------------------------------------- q205

  /** q205 — deterministic Poisson bootstrap CI for the mean order
    * value per priority: B = 32 resampling replicates where each
    * order's per-replicate multiplicity is a Poisson(1)-distributed
    * INTEGER drawn from the q58 engine-independent mixer (salt =
    * replicate id) compared against hard-coded integer inverse-CDF
    * thresholds (⌈cdf·(10⁹+7)⌉ — the draw is pure integer compares,
    * no float RNG anywhere, so both engines resample the IDENTICAL
    * multiset). Replicate means come out in exact 10⁻⁴-dollar units
    * via the overflow-safe split floor division (quot·10⁴ +
    * (rem·10⁴ div Σw)); the 90% percentile interval is order
    * statistics 2 and 31 of the 32 sorted replicate means. This is
    * the uncertainty readout none of the point-statistic families
    * carry. Plan: one bounded 32× explode (never data×data), one
    * (group, replicate) aggregate with map-side partials, a ≤32-row
    * per-group list fold.
    */
  def bootstrapQuery(spark: SparkSession, dir: String): DataFrame = {
    val B = 32
    // ceil(P(Poisson(1) <= k) * (1e9+7)) for k = 0..8; w = #{T <= v}
    val thresholds = Seq(367879444L, 735758888L, 919698610L, 981011850L,
      996340161L, 999405823L, 999916766L, 999989758L, 999998882L)
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("__c"))
    // Curation.mixedKey with a per-row (replicate) salt column
    val inner = pmod(
      pmod(col("o_orderkey"), lit(1000003L)) * lit(2654435761L) +
        shiftright(col("o_orderkey"), 16) * lit(7919L) +
        col("b") * lit(10007L),
      lit(1000000007L))
    val v = pmod(inner * lit(2654435761L), lit(1000000007L))
    val w = thresholds.map(t => when(v >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val reps = orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("__c"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("__w", w)
      .groupBy(col("o_orderpriority"), col("b"))
      .agg(sum(col("__w") * col("__c")).as("__wx"),
        sum(col("__w")).as("__sw"))
      // a replicate where EVERY order drew weight 0 (P ≈ 0.368^n, only
      // possible at trivially small corpora) has no mean: drop it rather
      // than emit a null that would shift the sorted order statistics
      .filter(col("__sw") > 0)
      .withColumn("__m_e4",
        expr("(__wx div __sw) * 10000 + ((__wx % __sw) * 10000) div __sw"))
    val point = orders.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("__c")).as("__tc"))
      .withColumn("__p_e4",
        expr("(__tc div n_orders) * 10000 + ((__tc % n_orders) * 10000) div n_orders"))
    reps.groupBy(col("o_orderpriority"))
      .agg(sort_array(collect_list(col("__m_e4"))).as("__arr"))
      .join(point, "o_orderpriority")
      .select(col("o_orderpriority"), col("n_orders"),
        (col("__p_e4") / lit(10000.0)).as("mean_value"),
        (element_at(col("__arr"), 2) / lit(10000.0)).as("boot_lo"),
        (element_at(col("__arr"), 31) / lit(10000.0)).as("boot_hi"))
      .coalesce(1).orderBy(col("o_orderpriority"))
  }

  // --------------------------------------------------------------- q208

  /** q208 — two-way ANOVA of quantity on return flag (A/N/R) ×
    * line status (F/O): the main-effect + interaction decomposition
    * q105's single-factor z-test can't express. Every sum-of-squares
    * term is assembled from EXACT integer cell sums (n, Σy, Σy² via a
    * conditional-aggregation pivot over the literal 3×2 grid, so the
    * per-level float additions happen in a FIXED textual order — the
    * q153 discipline), then combined in one closed-form double AST:
    * SS_A = Σᵢsᵢ²/nᵢ − G²/N, SS_AB = Σᵢⱼsᵢⱼ²/nᵢⱼ − CF − SS_A − SS_B,
    * SS_E = ΣY² − Σᵢⱼsᵢⱼ²/nᵢⱼ, F = (SS/df)/(SS_E/df_E). ONE aggregate
    * pass over the fact, one row out. The level literals are part of
    * the query contract (TPC-H-shaped lineitem); a missing level
    * surfaces as a 0-count cell, never a silent wrong F.
    */
  def anovaQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("a"), col("l_linestatus").as("b"),
        col("l_quantity").cast("long").as("y"))
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    def s(p: Column) = sum(when(p, col("y")).otherwise(0L))
    val aL = Seq("A", "N", "R"); val bL = Seq("F", "O")
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n"), sum(col("y")).as("g"),
        sum(col("y") * col("y")).as("q")) ++
      aL.flatMap(av => Seq(
        cnt(col("a") === av).as(s"n_$av"), s(col("a") === av).as(s"s_$av"))) ++
      bL.flatMap(bv => Seq(
        cnt(col("b") === bv).as(s"n_$bv"), s(col("b") === bv).as(s"s_$bv"))) ++
      (for { av <- aL; bv <- bL } yield Seq(
        cnt(col("a") === av && col("b") === bv).as(s"n_${av}${bv}"),
        s(col("a") === av && col("b") === bv).as(s"s_${av}${bv}"))).flatten
    val m = li.agg(aggs.head, aggs.tail: _*)
    def dd(c: String) = col(c).cast("double")
    def ratio(sc: String, nc: String) = dd(sc) * dd(sc) / dd(nc)
    val cf = dd("g") * dd("g") / dd("n")
    val ssA = aL.map(av => ratio(s"s_$av", s"n_$av")).reduce(_ + _) - cf
    val ssB = bL.map(bv => ratio(s"s_$bv", s"n_$bv")).reduce(_ + _) - cf
    val cells = (for { av <- aL; bv <- bL }
      yield ratio(s"s_${av}${bv}", s"n_${av}${bv}")).reduce(_ + _)
    val ssAB = cells - cf - ssA - ssB
    val ssE = dd("q") - cells
    val dfE = dd("n") - lit(6.0)
    m.select(col("n").as("n_rows"),
        round(ssA, 4).as("ss_flag"), round(ssB, 4).as("ss_status"),
        round(ssAB, 4).as("ss_interaction"), round(ssE, 4).as("ss_error"),
        round((ssA / lit(2.0)) / (ssE / dfE), 6).as("f_flag"),
        round((ssB / lit(1.0)) / (ssE / dfE), 6).as("f_status"),
        round((ssAB / lit(2.0)) / (ssE / dfE), 6).as("f_interaction"))
  }

  // --------------------------------------------------------------- q209

  /** q209 — decision-stump split finder: per market segment, the
    * account-balance threshold that best separates converters
    * (customers active in the 1997 holdout year — every customer has
    * SOME order in this corpus, so the all-time label is degenerate)
    * from non-converters by entropy
    * impurity — one trained tree node, the primitive every
    * boosted/forest pipeline repeats. Candidates are the observed
    * distinct balance values (cents); cumulative class counts come
    * from a segment-partitioned window over the per-value aggregate
    * (group-parallel, never a global sort); the weighted impurity
    * n_L·H_L + n_R·H_R expands to Σ(n ln n − p ln p − q ln q) — every
    * ln argument an exact integer, 0·ln 0 guarded to 0, fixed AST
    * order. The argmin is a deterministic (impurity, threshold)
    * window rank: identical doubles both engines, integer tiebreak.
    * Info gain is reported in nats.
    */
  def stumpQuery(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer")
    val conv = Tables.load(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1997)
      .select(col("o_custkey")).distinct()
    val labeled = cust.join(conv, col("c_custkey") === col("o_custkey"),
        "left")
      .select(col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("bal"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("pos"))
    val byVal = labeled.groupBy(col("seg"), col("bal"))
      .agg(count(lit(1)).as("__n"), sum(col("pos")).as("__p"))
    val wSeg = Window.partitionBy(col("seg"))
    val wCum = wSeg.orderBy(col("bal"))
    // xlnx(0) = 0 — the entropy convention
    def xlnx(c: Column) = when(c > 0, c.cast("double") * log(c.cast("double")))
      .otherwise(lit(0.0))
    val cand = byVal
      .withColumn("__nl", sum(col("__n")).over(wCum))
      .withColumn("__pl", sum(col("__p")).over(wCum))
      .withColumn("__nt", sum(col("__n")).over(wSeg))
      .withColumn("__pt", sum(col("__p")).over(wSeg))
      .filter(col("__nl") < col("__nt")) // right side must be non-empty
      .withColumn("__nr", col("__nt") - col("__nl"))
      .withColumn("__pr", col("__pt") - col("__pl"))
      .withColumn("__imp",
        xlnx(col("__nl")) - xlnx(col("__pl")) - xlnx(col("__nl") - col("__pl"))
          + xlnx(col("__nr")) - xlnx(col("__pr"))
          - xlnx(col("__nr") - col("__pr")))
      .withColumn("__rn", row_number().over(
        wSeg.orderBy(col("__imp"), col("bal"))))
    cand.filter(col("__rn") === 1)
      .select(col("seg"),
        (col("bal") / lit(100.0)).as("threshold"),
        col("__nl").as("n_le"), col("__nr").as("n_gt"),
        round(col("__pl").cast("double") / col("__nl"), 6).as("rate_le"),
        round(col("__pr").cast("double") / col("__nr"), 6).as("rate_gt"),
        round((xlnx(col("__nt")) - xlnx(col("__pt"))
          - xlnx(col("__nt") - col("__pt")) - col("__imp")) /
          col("__nt").cast("double"), 6).as("info_gain"))
      .coalesce(1).orderBy(col("seg"))
  }

  // --------------------------------------------------------------- q220

  /** q220 — Theil–Sen robust trend per nation: the MEDIAN of all
    * pairwise slopes of the daily-revenue series — the estimator a
    * single outlier day cannot move, where q189/q195's least-squares
    * fits shift with every extreme point (breakdown point 29% vs 0%).
    * The series is first reduced to ≤|days| rows per nation (bounded
    * aggregate), so the pairwise fan-out is C(|days|,2) per nation —
    * bounded by the calendar, NEVER by fact rows. Each slope is ONE
    * division of exact integers (Δcents/Δdays); the median is the
    * interpolating percentile both engines define identically. The
    * series is the 1996 trading year (≤366 points, ~67k pairs per
    * nation) — the pair count is CALENDAR-bounded, so it stays
    * constant under any fact-scale growth.
    */
  def theilSenQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        datediff(to_date(col("o_orderdate")), lit("1996-01-01")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
    daily.as("a").join(daily.as("b"),
        col("a.n_name") === col("b.n_name") && col("a.d") < col("b.d"))
      .select(col("a.n_name").as("n_name"),
        ((col("b.c") - col("a.c")).cast("double") /
          (col("b.d") - col("a.d"))).as("slope"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)") / 100.0, 4)
          .as("theil_sen_slope"))
      .coalesce(1).orderBy(col("n_name"))
  }

  // --------------------------------------------------------------- q226

  /** q226 — exponential inter-arrival fit per event type: the MLE
    * rate λ̂ = n/Σgaps (exact integer inputs, one division) and the
    * Kolmogorov–Smirnov distance between the empirical gap CDF and
    * the fitted Exponential(λ̂) — the memorylessness test that says
    * whether arrivals are Poisson-like or clumped (q191's burstiness
    * asks the same question through moments; this answers it through
    * the whole distribution). D = max over sorted gaps of
    * max(|r/n − F(x)|, |(r−1)/n − F(x)|) (both one-sided gaps around
    * each step), F(x) = 1 − e^(−λ̂x); ranks come from a type-
    * partitioned window, every per-row double is the same fixed AST
    * in both engines, and the argmax reduces through max() so no
    * ordering ambiguity exists. Fan-out: one user-key window for
    * gaps, one type-partitioned rank window over the gap rows.
    */
  def expFitQuery(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.load(spark, dir, "events")
      .withColumn("__gap",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wU)))
      .filter(col("__gap").isNotNull && col("__gap") > 0)
      .select(col("event_type"), (col("__gap") / lit(3600000000.0)).as("x"))
    val stats = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("__sx"))
      .withColumn("__lambda", col("n") / col("__sx"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("x"))
    gaps.withColumn("__r", row_number().over(wT))
      .join(stats, "event_type")
      .withColumn("__f", lit(1.0) - exp(lit(-1.0) * col("__lambda") * col("x")))
      .withColumn("__d", greatest(
        abs(col("__r") / col("n") - col("__f")),
        abs((col("__r") - lit(1)) / col("n") - col("__f"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_gaps"),
        round(max(col("__lambda")), 6).as("rate_per_hour"),
        round(max(col("__d")), 6).as("ks_distance"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- q239

  /** q239 — return-rate outlier screen with multiplicity control: per
    * part type, the two-proportion z of its return rate against the
    * corpus rate, flagged BOTH at the naive |z| > 1.96 cut and at the
    * union-bound-corrected cut c = √(2·ln(2k/0.05)) over the k
    * simultaneous tests (the sub-Gaussian tail bound — slightly
    * conservative vs the exact normal quantile, and computable as a
    * closed form in any engine, which an inverse-CDF is not). The
    * difference between the two flag columns IS the lesson: naive
    * per-type testing at k≈150 manufactures false alarms. z reduces
    * to (rN − nR)/√(n·R·(N−R)) — every product exact decimal(38,0),
    * ONE final division.
    */
  def multiTestQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_type"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("__r"))
    val per = li.groupBy(col("p_type"))
      .agg(count(lit(1)).as("n"), sum(col("__r")).as("r"))
    val tot = per.agg(sum(col("n")).as("__N"), sum(col("r")).as("__R"),
      count(lit(1)).as("__k"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val z = (d38(col("r")) * col("__N") - d38(col("n")) * col("__R"))
      .cast("double") /
      sqrt((d38(col("n")) * col("__R") * (col("__N") - col("__R")))
        .cast("double"))
    val crit = sqrt(lit(2.0) * log(lit(40.0) * col("__k")))
    per.crossJoin(broadcast(tot))
      .select(col("p_type"), col("n"), col("r").as("n_returned"),
        round(col("r").cast("double") / col("n"), 6).as("return_rate"),
        round(z, 4).as("z"),
        (abs(z) > lit(1.96)).as("flag_naive"),
        (abs(z) > crit).as("flag_corrected"),
        round(crit, 4).as("critical_value"))
      .coalesce(1).orderBy(col("p_type"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q113_cusum" -> (cusumQuery _),
    "q114_acf" -> (acfQuery _),
    "q115_trigrams" -> (trigramQuery _),
    "q116_winsorize" -> (winsorQuery _),
    "q127_freshness" -> (freshnessQuery _),
    "q128_gap_histogram" -> (gapHistogramQuery _),
    "q129_dow_profile" -> (dowProfileQuery _),
    "q132_rolling_corr" -> (rollingCorrQuery _),
    "q133_weighted_median" -> (weightedMedianQuery _),
    "q134_ks_drift" -> (ksQuery _),
    "q135_psi" -> (psiQuery _),
    "q136_jsd" -> (jsdQuery _),
    "q142_rank_bias" -> (rankBiasQuery _),
    "q144_spearman" -> (spearmanQuery _),
    "q145_moments" -> (momentsQuery _),
    "q167_quantile_norm" -> (quantileNormQuery _),
    "q171_corr_matrix" -> (corrMatrixQuery _),
    "q190_isotonic" -> (isotonicQuery _),
    "q191_burstiness" -> (burstinessQuery _),
    "q195_simpson" -> (simpsonQuery _),
    "q198_kde" -> (kdeQuery _),
    "q199_ols2" -> (ols2Query _),
    "q200_pca" -> (pcaQuery _),
    "q205_bootstrap" -> (bootstrapQuery _),
    "q208_anova" -> (anovaQuery _),
    "q209_stump" -> (stumpQuery _),
    "q220_theil_sen" -> (theilSenQuery _),
    "q226_exp_fit" -> (expFitQuery _),
    "q239_multi_test" -> (multiTestQuery _))

  // --------------------------------------------------------------- q133

  /** Frequency-weighted percentiles per group via the EXACT
    * cumulative-weight window — the bounded-memory twin of Spark's
    * holistic 3-arg `percentile`: pre-aggregate to per-(group, value)
    * total weight (the only shuffle), inclusive cumulative weight over
    * the value-ordered per-group window (a SPILLABLE sort — per-row
    * state is O(1), unlike the holistic aggregate's in-buffer value
    * map), then each requested percentile reads the multiset's
    * interpolation endpoints by conditional aggregation: position
    * t = p·(N−1) (0-based in the weight-replicated multiset), value at
    * index j = first value whose inclusive cumulative weight exceeds
    * j, result = (⌈t⌉−t)·v_⌊t⌋ + (t−⌊t⌋)·v_⌈t⌉ — the same formula
    * `percentile` evaluates, so the two forms agree to float
    * round-off. Output: one row per group, `p_0..p_{k-1}` doubles.
    */
  def weightedPercentilesScalable(
      df: DataFrame, keyCol: String, valueCol: String, weightCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"bad percentiles: $ps")
    val g = col(keyCol)
    val vw = df.groupBy(g, col(valueCol).as("__v"))
      .agg(sum(col(weightCol).cast("long")).as("__w"))
    val wOrd = Window.partitionBy(g).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vw
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__n", sum(col("__w")).over(Window.partitionBy(g)))
    val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
      val pos = lit(p) * (col("__n") - lit(1L)).cast("double")
      Seq(
        min(when(col("__cum") > floor(pos), col("__v"))).as(s"__vl$i"),
        min(when(col("__cum") > ceil(pos), col("__v"))).as(s"__vu$i"),
        first(pos).as(s"__pos$i"))
    }
    val finals = ps.indices.map { i =>
      val pos = col(s"__pos$i"); val lo = floor(pos); val hi = ceil(pos)
      when(hi === lo, col(s"__vl$i").cast("double"))
        .otherwise((hi - pos) * col(s"__vl$i") + (pos - lo) * col(s"__vu$i"))
        .as(s"p_$i")
    }
    cum.groupBy(g).agg(aggs.head, aggs.tail: _*)
      .select(g +: finals: _*)
  }

  /** q133 — weighted price percentiles per return flag: each row
    * counted `l_quantity` times — the "per unit sold" price
    * distribution, not "per line item". The DuckDB twin materializes
    * the weight as row replication (`generate_series(1, qty)`), which
    * is the DEFINITION of integer-frequency weighting, so the two
    * engines interpolate over the identical multiset. Weights are
    * integral by corpus construction; the cast is exact.
    *
    * Percentiles run behind a row-count and [[exactIsSafe]] size guard
    * (round-7: previously always holistic — the 57 s/100× heavy tail):
    * below the distinct-value bound, Spark's holistic 3-arg
    * `percentile` (fast single aggregate — the regime at every test
    * sf, so oracle hashes are unchanged); above it,
    * [[weightedPercentilesScalable]] — still EXACT, same interpolation
    * formula, but spillable-window memory instead of an unbounded
    * per-group value map.
    */
  def weightedMedianQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = weightedPrices(spark, dir)
    // rows first (cheap count, short-circuits the sketch job at scale),
    // then the distinct-value OOM guard
    weightedMedian(spark, dir, holistic = li.count() <= HolisticWeightedMaxRows &&
      exactIsSafe(li, "l_returnflag", "l_extendedprice"))
  }

  /** Row-count crossover for [[weightedMedianQuery]]'s regime (r12,
    * guide §1.2 "per-task work"): the holistic `percentile` updates a
    * per-group value map per ROW — measured at amp100 (QTIME_STAGES):
    * 2 112 executor-seconds over 60.7 M rows ≈ 35 µs/row, plus a
    * single-task 21.8 s final merge — where the scalable form's
    * codegen (group, value) hash aggregate reads ≈ 6 µs/row and its
    * window runs on the DISTINCT-value frame (90.2 vs 15.8 s total,
    * same session pair). The scalable shape costs ~3 extra stages
    * (~0.5 s fixed), so break-even sits near 0.5 s · 32 cores / 29 µs
    * ≈ 0.5 M rows; 2 M keeps every test sf on the single-aggregate
    * path (the dispatch-floor regime, where fewer stages win) and
    * routes anything larger to the scalable form. Value-identical by
    * construction — both regimes evaluate the same interpolation
    * formula (DriftSpec pins them row-for-row), so this bound, unlike
    * q116's, never changes results. A COST crossover measured at the
    * design point, not a memory tune; the OOM guard (distinct-value
    * bound) still applies on top.
    */
  val HolisticWeightedMaxRows = 2000000L

  private def weightedPrices(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long").as("__q"))

  /** q133 in a resolved regime: the holistic 3-arg `percentile`, or
    * [[weightedPercentilesScalable]]. */
  private[ops] def weightedMedian(
      spark: SparkSession, dir: String, holistic: Boolean): DataFrame = {
    val li = weightedPrices(spark, dir)
    val out =
      if (holistic)
        li.groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("__q")).as("total_weight"),
            round(expr("percentile(l_extendedprice, 0.25, __q)"), 4).as("wq25"),
            round(expr("percentile(l_extendedprice, 0.5, __q)"), 4).as("wmedian"),
            round(expr("percentile(l_extendedprice, 0.75, __q)"), 4).as("wq75"))
      else {
        val base = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"), sum(col("__q")).as("total_weight"))
        val pct = weightedPercentilesScalable(
          li, "l_returnflag", "l_extendedprice", "__q", Seq(0.25, 0.5, 0.75))
        base.join(pct, "l_returnflag")
          .select(col("l_returnflag"), col("n_rows"), col("total_weight"),
            round(col("p_0"), 4).as("wq25"),
            round(col("p_1"), 4).as("wmedian"),
            round(col("p_2"), 4).as("wq75"))
      }
    orderedSmall(out, col("l_returnflag"))
  }

  // -------------------------------------------- two-sample KS (q134)

  /** Leave-one-out two-sample Kolmogorov–Smirnov statistic per group:
    * for each group g, D_g = max_v |F_g(v) − F_rest(v)| between the
    * group's empirical CDF and the rest of the table's, plus the
    * √(n₁n₂/(n₁+n₂))-normalized statistic a monitor thresholds on.
    *
    * EXACT except the single final division: the max runs over the
    * integer numerator |ca·n_rest − (ct−ca)·n_g| (cross-multiplied
    * CDFs), so no float compare ever picks the argmax. Between two of
    * a group's observed values |F_g−F_rest| is monotone (only F_rest
    * moves), so the max over the FULL merged grid is attained either
    * AT one of the group's values (inclusive cums) or JUST BEFORE one
    * (lagged own cum, global cum minus that value's total) — 2·|values
    * in g| candidates, both emitted per point below; no group×grid
    * fill, no cartesian.
    *
    * Scale: one (group,value) aggregate shuffle; the global value grid
    * is |distinct values| rows (its one-partition cumulative window is
    * bounded by metric cardinality — pre-bucket an unbounded metric);
    * grid and totals attach by broadcast; per-group windows partition
    * by group. Cross-products stay in BIGINT up to n_g·n ≲ 9e18 —
    * beyond that, swap the numerator arithmetic to DECIMAL(38,0) as
    * q121's Gini does.
    */
  def ksLeaveOneOut(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = col(groupCol)
    val gv = df.groupBy(g, col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__a"))
    val grid = gv.groupBy(col("__v")).agg(sum(col("__a")).as("__t"))
      .withColumn("__ct", sum(col("__t")).over(Window.orderBy(col("__v"))))
    val tot = grid.agg(max(col("__ct")).as("__n"))
    val wg = Window.partitionBy(g).orderBy(col("__v"))
    val pts = gv.join(broadcast(grid), "__v")
      .withColumn("__ca", sum(col("__a")).over(wg))
      .withColumn("__cp", coalesce(lag(col("__ca"), 1).over(wg), lit(0L)))
    val ns = gv.groupBy(g).agg(sum(col("__a")).as("__ns"))
    val cand = pts.join(broadcast(ns), groupCol).crossJoin(broadcast(tot))
      .withColumn("__nr", col("__n") - col("__ns"))
      .withColumn("__dAt",
        abs(col("__ca") * col("__nr") - (col("__ct") - col("__ca")) * col("__ns")))
      .withColumn("__dBefore",
        abs(col("__cp") * col("__nr") -
          (col("__ct") - col("__t") - col("__cp")) * col("__ns")))
    cand.groupBy(g, col("__ns"), col("__nr"))
      .agg(greatest(max(col("__dAt")), max(col("__dBefore"))).as("__dn"))
      .select(g,
        col("__ns").as("n_group"), col("__nr").as("n_rest"),
        round(col("__dn") / (col("__ns") * col("__nr")).cast("double"), 6)
          .as("ks_d"),
        round(sqrt((col("__ns") * col("__nr")).cast("double") /
            (col("__ns") + col("__nr"))) *
          (col("__dn") / (col("__ns") * col("__nr")).cast("double")), 4)
          .as("ks_stat"))
  }

  /** q134 — length-distribution drift screen: each document source's
    * n_chars CDF against the rest of the corpus, exact leave-one-out
    * KS. The outlier-source detector a curation mix runs before
    * reweighting. */
  def ksQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      ksLeaveOneOut(Tables.load(spark, dir, "documents"), "source", "n_chars"),
      col("source"))

  // ------------------------------------------ Mann–Whitney (q142)

  /** Leave-one-out Mann–Whitney rank bias per group: the probability
    * AUC = P(group value > rest value) + ½·P(tie) — 0.5 means no
    * location bias — plus the tie-corrected z statistic. The LOCATION
    * complement to [[ksLeaveOneOut]]'s shape test.
    *
    * EXACT until the final two divisions, via the doubled-midrank
    * trick: 2·midrank(v) = 2·|{< v}| + t_v + 1 is an integer, so the
    * group's doubled rank sum S2 = Σ a_v·(2c_lt + t_v + 1), the
    * doubled U statistic U2 = S2 − n_g(n_g+1), and the tie-correction
    * mass Σ(t³−t) are all BIGINT; AUC = U2/(2·n_g·n_r) and
    * z = (U2/2 − n_g·n_r/2)/σ_tie are each ONE closed-form double.
    * Same plan shape as KS: one (group,value) aggregate, a bounded
    * value-grid cumulative, broadcast attaches; t³ stays in BIGINT to
    * t ≈ 2×10⁶ rows per value — beyond that swap the sums to
    * DECIMAL(38,0) as q121 does.
    */
  def rankBiasLeaveOneOut(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = col(groupCol)
    val gv = df.groupBy(g, col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__a"))
    val grid = gv.groupBy(col("__v")).agg(sum(col("__a")).as("__t"))
      .withColumn("__ct", sum(col("__t")).over(Window.orderBy(col("__v"))))
      .withColumn("__clt", col("__ct") - col("__t"))
    val tot = grid.agg(max(col("__ct")).as("__n"),
      sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__t3"))
    val perG = gv.join(broadcast(grid), "__v")
      .groupBy(g)
      .agg(sum(col("__a")).as("__ns"),
        sum(col("__a") * (lit(2) * col("__clt") + col("__t") + 1))
          .as("__s2"))
    perG.crossJoin(broadcast(tot))
      .withColumn("__nr", col("__n") - col("__ns"))
      .withColumn("__u2", col("__s2") - col("__ns") * (col("__ns") + 1))
      .select(g, col("__ns").as("n_group"), col("__nr").as("n_rest"),
        round(col("__u2") /
          (lit(2.0) * col("__ns") * col("__nr")), 6).as("auc"),
        round((col("__u2") / lit(2.0) -
          col("__ns") * col("__nr") / lit(2.0)) /
          nullif(sqrt(col("__ns").cast("double") * col("__nr") / 12.0 *
            ((col("__n") + 1) - col("__t3") /
              (col("__n").cast("double") * (col("__n") - 1)))), lit(0.0)),
          4).as("z"))
  }

  // --------------------------------------------------------------- q144

  /** q144 — Spearman rank correlation per nation between customer
    * account balance and realized order spend (both in exact cents):
    * does stated balance predict actual spend, monotonic version.
    * Doubled midranks (2·mr = 2·rank + t − 1, both from integer
    * windows partitioned by nation) make every co-moment sum a
    * BIGINT; ρ is q132's closed Pearson form over those integers —
    * ONE double expression, zero-variance groups null. Customers with
    * no orders rank at spend 0 (a real zero, not a dropped row).
    * Per-nation windows — no global sort; co-moment products stay in
    * BIGINT to ~10⁶ rows per group, beyond that swap the sums to
    * DECIMAL(38,0) as q121 does.
    */
  def spearmanQuery(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__sp"))
    val rows = Tables.load(spark, dir, "customer")
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        round(col("c_acctbal") * 100).cast("long").as("__x"),
        coalesce(col("__sp"), lit(0L)).as("__y"))
    val wx = Window.partitionBy(col("n_name")).orderBy(col("__x"))
    val wxt = Window.partitionBy(col("n_name"), col("__x"))
    val wy = Window.partitionBy(col("n_name")).orderBy(col("__y"))
    val wyt = Window.partitionBy(col("n_name"), col("__y"))
    val ranked = rows
      .withColumn("__mx",
        lit(2) * rank().over(wx) + count(lit(1)).over(wxt) - 1)
      .withColumn("__my",
        lit(2) * rank().over(wy) + count(lit(1)).over(wyt) - 1)
    // co-moment sums in DECIMAL(38,0): per-row products fit BIGINT at
    // any realistic group size, but their SUM overflows long past
    // ~10^6 rows per group — caught live on the 100x amplified corpus
    def d38(c: Column) = c.cast("decimal(38,0)")
    orderedSmall(
      ranked.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(d38(col("__mx"))).as("__sx"), sum(d38(col("__my"))).as("__sy"),
          sum(d38(col("__mx") * col("__my"))).as("__sxy"),
          sum(d38(col("__mx") * col("__mx"))).as("__sx2"),
          sum(d38(col("__my") * col("__my"))).as("__sy2"))
        .select(col("n_name"), col("n_customers"),
          round((col("n_customers") * col("__sxy") -
            col("__sx") * col("__sy")).cast("double") /
            nullif(sqrt(
              (col("n_customers") * col("__sx2") -
                col("__sx") * col("__sx")).cast("double") *
              (col("n_customers") * col("__sy2") -
                col("__sy") * col("__sy")).cast("double")), lit(0.0)),
            6).as("spearman")),
      col("n_name"))
  }

  /** q142 — length-location bias per document source: Mann–Whitney
    * AUC of each source's n_chars against the rest (0.5 = unbiased)
    * with the tie-corrected z — catches a source running
    * systematically long/short even when q134's KS shape test stays
    * quiet. */
  def rankBiasQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      rankBiasLeaveOneOut(Tables.load(spark, dir, "documents"),
        "source", "n_chars"),
      col("source"))

  // --------------------------------------------------------------- q135

  /** q135 — population stability index per event type between the
    * first and second half of the corpus timeline (integer-µs midpoint
    * split, the q93 drill): event values in exact cents, bucketed by
    * ⌊log2(cents)⌋ via the q128 `length(bin(x))−1` integer identity,
    * PSI = Σ (p₂−p₁)·ln(p₂/p₁) over buckets populated on BOTH sides
    * (every term ≥ 0). One-sided buckets are counted and reported,
    * never silently dropped. Counts/totals are exact longs; each
    * term is one closed-form double; the ≤64-term sum's order noise is
    * absorbed by the final round (the q110 convention). The
    * feature-drift gate a model-serving pipeline runs per release.
    */
  /** PSI core over tagged rows: input carries a group key, a bucket
    * id, and a 0/1 half tag (0 = baseline, 1 = current); output is one
    * row per group with the both-sided/one-sided bucket counts and
    * PSI = Σ (p₂−p₁)·ln(p₂/p₁) over both-sided buckets (every term
    * ≥ 0; one-sided buckets are counted, never silently dropped).
    * One (group,bucket) aggregate shuffle; totals attach by broadcast.
    */
  def psiFromTagged(
      df: DataFrame, groupCol: String, bucketCol: String,
      halfCol: String): DataFrame = {
    val g = col(groupCol)
    val cells = df.groupBy(g, col(bucketCol))
      .agg(sum(when(col(halfCol) === 0, 1L).otherwise(0L)).as("__c1"),
        sum(when(col(halfCol) === 1, 1L).otherwise(0L)).as("__c2"))
    val totals = cells.groupBy(g)
      .agg(sum(col("__c1")).as("__n1"), sum(col("__c2")).as("__n2"))
    cells.join(broadcast(totals), groupCol)
      .groupBy(g, col("__n1"), col("__n2"))
      .agg(
        sum(when(col("__c1") > 0 && col("__c2") > 0, 1).otherwise(0))
          .as("n_buckets"),
        sum(when(col("__c1") === 0 || col("__c2") === 0, 1).otherwise(0))
          .as("n_onesided"),
        round(sum(when(col("__c1") > 0 && col("__c2") > 0,
          (col("__c2") / col("__n2").cast("double") -
            col("__c1") / col("__n1").cast("double")) *
            log((col("__c2") * col("__n1")) /
              (col("__c1") * col("__n2")).cast("double")))
          .otherwise(0.0)), 6).as("psi"))
      .select(g, col("__n1").as("n_base"),
        col("__n2").as("n_current"), col("n_buckets"), col("n_onesided"),
        col("psi"))
  }

  def psiQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("__us"), col("value"))
    val mid = ev.agg(((min(col("__us")) + max(col("__us"))) / 2).as("__mid"))
    val bucketed = ev.crossJoin(broadcast(mid))
      .withColumn("__half", when(col("__us") <= col("__mid"), 0).otherwise(1))
      .withColumn("__cents", round(col("value") * 100).cast("long"))
      .withColumn("__b",
        when(col("__cents") <= 0, lit(-1))
          .otherwise(length(bin(col("__cents"))) - 1))
    orderedSmall(
      psiFromTagged(bucketed, "event_type", "__b", "__half"),
      col("event_type"))
  }

  // --------------------------------------------------------------- q136

  /** Jensen–Shannon divergence of each group's label mix from the
    * whole table's mix: JSD(P‖Q) = H(M) − (H(P)+H(Q))/2 with
    * M = (P+Q)/2 — the symmetric, √-metrizable drift score bounded by
    * ln 2. The H(M) sum over labels the group LACKS (p=0, m=q/2) is
    * folded algebraically into one global scalar A = Σ(q/2)ln(q/2):
    * H(M) = −Σ_{p>0}(m·ln m − (q/2)·ln(q/2)) − A, so the plan touches
    * only OBSERVED (group,label) cells plus two single-row broadcasts —
    * no group×label grid fill, no cartesian. All inputs are exact
    * longs; floors at 0 guard the mathematically-nonnegative results
    * from −0.0 ulp noise (a "-0.0" would string-mismatch "0.0").
    * Output: (group, n_docs, n_langs, jsd_nats, jsd_norm).
    */
  def jsDivergence(df: DataFrame, groupCol: String, labelCol: String): DataFrame = {
    val cells = df.groupBy(col(groupCol).as("source"), col(labelCol).as("lang"))
      .agg(count(lit(1)).as("__c"))
    val bySrc = cells.groupBy(col("source")).agg(sum(col("__c")).as("__ns"))
    val byLang = cells.groupBy(col("lang")).agg(sum(col("__c")).as("__cl"))
    // A = Σ_l (q_l/2)·ln(q_l/2) and H(Q) both need the total inside
    // each per-lang term, so the bounded lang table gets the total as
    // a single-row broadcast and is re-aggregated
    val n0 = byLang.agg(sum(col("__cl")).as("__n0"))
    val scalars = byLang.crossJoin(broadcast(n0))
      .groupBy(col("__n0"))
      .agg(
        sum(col("__cl") / (lit(2.0) * col("__n0")) *
          log(col("__cl") / (lit(2.0) * col("__n0")))).as("__a"),
        (log(col("__n0")) -
          sum(col("__cl") * log(col("__cl"))) / col("__n0").cast("double"))
          .as("__hquf"))
    val perSrc = cells
      .join(broadcast(bySrc), "source")
      .join(broadcast(byLang), "lang")
      .crossJoin(broadcast(scalars))
      .withColumn("__p", col("__c") / col("__ns").cast("double"))
      .withColumn("__q", col("__cl") / col("__n0").cast("double"))
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .groupBy(col("source"), col("__ns"), col("__a"), col("__hquf"))
      .agg(
        count(lit(1)).as("n_langs"),
        sum(col("__m") * log(col("__m")) -
          (col("__q") / 2) * log(col("__q") / 2)).as("__s1"),
        (-sum(col("__p") * log(col("__p")))).as("__hp"))
      .withColumn("__jsd",
        greatest((-col("__s1") - col("__a")) -
          (col("__hp") + col("__hquf")) / 2, lit(0.0)))
    perSrc.select(col("source").as(groupCol), col("__ns").as("n_docs"),
      col("n_langs"), round(col("__jsd"), 6).as("jsd_nats"),
      round(col("__jsd") / log(lit(2.0)), 6).as("jsd_norm"))
  }

  /** q136 — JSD of each document source's language mix from the
    * corpus-wide mix: the per-source diversity-drift score next to
    * q98's absolute entropy. */
  def jsdQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      jsDivergence(Tables.load(spark, dir, "documents"), "source", "lang"),
      col("source"))

  // --------------------------------------------------------------- q145

  /** Univariate shape moments per group from EXACT power sums: the
    * integer-valued column is carried as decimal(38,0) through the 4th
    * power (a 1e7-cent price gives x⁴ ≈ 1e28 — comfortably inside 38
    * digits even under a further 1000× row scale-up of the sums), so
    * both engines derive mean/σ/skewness/kurtosis from the SAME
    * closed-form IEEE expression over the same exact integers. One
    * algebraic aggregate pass (map-side partial combine), |groups| rows
    * out — the identical shape at 100 TB. `scale` divides the mean and
    * stddev readouts back to display units (e.g. 100 for cents→dollars).
    * Zero-variance groups yield null skewness/kurtosis, never NaN. */
  def moments(df: DataFrame, groupCols: Seq[String], valueCol: String,
      scale: Double): DataFrame = {
    val g = df
      .withColumn("__x", col(valueCol).cast("decimal(38,0)"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__s1"),
        sum(col("__x") * col("__x")).as("__s2"),
        sum(col("__x") * col("__x") * col("__x")).as("__s3"),
        sum(col("__x") * col("__x") * col("__x") * col("__x")).as("__s4"))
    val n = col("n").cast("double")
    val s1 = col("__s1").cast("double"); val s2 = col("__s2").cast("double")
    val s3 = col("__s3").cast("double"); val s4 = col("__s4").cast("double")
    val mean = s1 / n
    val m2 = s2 / n - mean * mean
    val m3 = s3 / n - lit(3.0) * mean * (s2 / n) +
      lit(2.0) * mean * mean * mean
    val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
      lit(6.0) * mean * mean * (s2 / n) -
      lit(3.0) * mean * mean * mean * mean
    g.select(groupCols.map(col) ++ Seq(col("n"),
      round(mean / lit(scale), 4).as("mean_value"),
      round(sqrt(m2) / lit(scale), 4).as("stddev_value"),
      round(m3 / nullif(m2 * sqrt(m2), lit(0.0)), 6).as("skewness"),
      round(m4 / nullif(m2 * m2, lit(0.0)) - lit(3.0), 6)
        .as("kurtosis_excess")): _*)
  }

  /** q145 — higher-moment price profile per (l_returnflag,
    * l_linestatus): population stddev, skewness (g1) and excess
    * kurtosis (g2) of the extended price in exact cents — the
    * univariate shape complement to q86's bivariate co-moment battery,
    * and the summary a drift monitor thresholds between corpus
    * releases. */
  def momentsQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      moments(
        Tables.load(spark, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            round(col("l_extendedprice") * 100).cast("long").as("cents")),
        Seq("l_returnflag", "l_linestatus"), "cents", 100.0),
      col("l_returnflag"), col("l_linestatus"))
}

/** DuckDB twins for [[Drift]] (driver correctness gate). */
object DriftOracle {

  private val daily =
    """daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
      |  FROM events GROUP BY event_type, CAST(ts AS DATE))""".stripMargin

  val all: Seq[(String, String)] = Seq(
    // same exact running sums; μ/σ from the same integer power sums
    "q113_cusum" ->
      s"""WITH $daily,
        |stats AS (
        |  SELECT event_type, count(*) AS n, sum(c) AS s,
        |         sum(c * c) AS s2
        |  FROM daily GROUP BY event_type),
        |cus AS (
        |  SELECT d.event_type, d.day, st.n, st.s, st.s2,
        |         abs(sum(d.c) OVER (PARTITION BY d.event_type ORDER BY d.day)
        |             - row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
        |               * (st.s / st.n)) AS cusum
        |  FROM daily d JOIN stats st USING (event_type)),
        |top AS (
        |  SELECT event_type, max(cusum) AS m FROM cus GROUP BY event_type)
        |SELECT c.event_type, min(c.day) AS cp_day, c.n AS n_periods,
        |       round(c.m, 4) AS max_abs_cusum,
        |       round(c.m / nullif(
        |         sqrt(c.s2 / c.n - (c.s / c.n) * (c.s / c.n)) * sqrt(c.n),
        |         0.0), 4) AS cusum_stat
        |FROM (SELECT cus.*, top.m FROM cus JOIN top USING (event_type)
        |      WHERE cus.cusum = top.m) c
        |GROUP BY c.event_type, c.n, c.s, c.s2, c.m
        |ORDER BY c.event_type""".stripMargin,

    // identical integer pair sums and the identical closed-form ratio
    "q114_acf" ->
      s"""WITH $daily,
        |stats AS (
        |  SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS s2
        |  FROM daily GROUP BY event_type),
        |pairs AS (
        |  SELECT l.event_type, k.lag, count(*) AS m,
        |         sum(l.c * r.c) AS sxy, sum(l.c) AS sx, sum(r.c) AS sy
        |  FROM daily l
        |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) k
        |  JOIN daily r ON r.event_type = l.event_type
        |              AND r.day = l.day + CAST(k.lag AS INTEGER)
        |  GROUP BY l.event_type, k.lag)
        |SELECT p.event_type, p.lag, p.m AS n_pairs,
        |       round((p.sxy - (st.s / st.n) * p.sx - (st.s / st.n) * p.sy
        |              + p.m * (st.s / st.n) * (st.s / st.n)) /
        |             nullif(st.s2 - st.s * (st.s / st.n), 0.0), 6) AS acf
        |FROM pairs p JOIN stats st USING (event_type)
        |ORDER BY p.event_type, p.lag""".stripMargin,

    // same (ts, event_id) order, same trigram counts, one division
    "q115_trigrams" ->
      """WITH seq AS (
        |  SELECT event_type AS e3,
        |         lag(event_type, 1) OVER w AS e2,
        |         lag(event_type, 2) OVER w AS e1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |tri AS (
        |  SELECT e1, e2, e3, count(*) AS n
        |  FROM seq WHERE e1 IS NOT NULL GROUP BY e1, e2, e3)
        |SELECT e1, e2, e3, n,
        |       round(n / (SELECT CAST(sum(n) AS DOUBLE) FROM tri), 6) AS share
        |FROM tri
        |ORDER BY n DESC, e1, e2, e3 LIMIT 50""".stripMargin,

    // identical cents clamp: interpolated percentile → rounded BIGINT
    // boundary → integer clamp and sums; means are single divisions
    "q116_winsorize" ->
      """WITH cents AS (
        |  SELECT o_orderpriority AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |cuts AS (
        |  SELECT k, CAST(round(quantile_cont(c, 0.05)) AS BIGINT) AS lo,
        |            CAST(round(quantile_cont(c, 0.95)) AS BIGINT) AS hi
        |  FROM cents GROUP BY k)
        |SELECT cents.k AS o_orderpriority, count(*) AS n,
        |       round(cuts.lo / 100.0, 2) AS lo_cut,
        |       round(cuts.hi / 100.0, 2) AS hi_cut,
        |       round(sum(cents.c) / count(*) / 100.0, 4) AS mean_raw,
        |       round(sum(least(greatest(cents.c, cuts.lo), cuts.hi))
        |             / count(*) / 100.0, 4) AS mean_winsor,
        |       CAST(sum(CASE WHEN cents.c < cuts.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |       CAST(sum(CASE WHEN cents.c > cuts.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
        |FROM cents JOIN cuts ON cuts.k = cents.k
        |GROUP BY cents.k, cuts.lo, cuts.hi
        |ORDER BY o_orderpriority""".stripMargin,

    // same exact-µs staleness and integer 7d/28d window counts
    "q127_freshness" ->
      """WITH g AS (
        |  SELECT max(ts) AS gm, max(CAST(ts AS DATE)) AS gd FROM events),
        |t AS (
        |  SELECT event_type, max(ts) AS last_seen,
        |         CAST(sum(CASE WHEN date_diff('day', CAST(ts AS DATE),
        |                (SELECT gd FROM g)) BETWEEN 0 AND 6
        |              THEN 1 ELSE 0 END) AS BIGINT) AS n_last7,
        |         CAST(sum(CASE WHEN date_diff('day', CAST(ts AS DATE),
        |                (SELECT gd FROM g)) BETWEEN 7 AND 34
        |              THEN 1 ELSE 0 END) AS BIGINT) AS n_prior28
        |  FROM events GROUP BY event_type)
        |SELECT event_type, last_seen,
        |       round((epoch_us((SELECT gm FROM g)) - epoch_us(last_seen)) /
        |             3600.0e6, 4) AS hours_stale,
        |       n_last7, n_prior28,
        |       round((n_last7 / 7.0) /
        |             nullif(n_prior28 / 28.0, 0.0), 6) AS rate_ratio
        |FROM t ORDER BY event_type""".stripMargin,

    // identical integer gaps, identical length(bin(gap))−1 buckets
    "q128_gap_histogram" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |b AS (
        |  SELECT CASE WHEN gap = 0 THEN -1
        |              ELSE length(bin(gap)) - 1 END AS bucket, gap
        |  FROM g WHERE gap IS NOT NULL),
        |h AS (
        |  SELECT bucket, count(*) AS n,
        |         min(gap) AS min_gap_us, max(gap) AS max_gap_us
        |  FROM b GROUP BY bucket)
        |SELECT bucket, n, min_gap_us, max_gap_us,
        |       round(n / (SELECT CAST(sum(n) AS DOUBLE) FROM h), 6) AS share
        |FROM h ORDER BY bucket""".stripMargin,

    // weekday NAMES as the key (integer dow codes differ per engine)
    "q129_dow_profile" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, dayname(ts) AS dow
        |  FROM events),
        |c AS (
        |  SELECT event_type, dow, count(*) AS n,
        |         count(DISTINCT d) AS n_days
        |  FROM ev GROUP BY event_type, dow),
        |t AS (SELECT event_type, count(*) AS tt FROM ev GROUP BY event_type)
        |SELECT c.event_type, c.dow, c.n, c.n_days,
        |       round(c.n / CAST(c.n_days AS DOUBLE), 4) AS per_day,
        |       round(c.n / CAST(t.tt AS DOUBLE), 6) AS share
        |FROM c JOIN t USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,

    // same exact integer co-moment window sums, one closed-form double
    "q132_rolling_corr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |p AS (SELECT day, c AS y FROM daily WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT d.event_type, d.day, d.c AS x, p.y
        |  FROM daily d JOIN p USING (day)
        |  WHERE d.event_type <> 'purchase'),
        |s AS (
        |  SELECT event_type, day,
        |         count(*) OVER w AS n,
        |         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |         sum(x * y) OVER w AS sxy,
        |         sum(x * x) OVER w AS sx2, sum(y * y) OVER w AS sy2
        |  FROM j
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, n,
        |       round((n * sxy - sx * sy) /
        |             nullif(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE) *
        |                         CAST(n * sy2 - sy * sy AS DOUBLE)), 0.0),
        |             6) AS corr7
        |FROM s WHERE n = 7
        |ORDER BY event_type, day LIMIT 600""".stripMargin,

    // frequency weighting BY DEFINITION: replicate each row qty times,
    // interpolate over the identical multiset
    "q133_weighted_median" ->
      """WITH rep AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         unnest(generate_series(1, CAST(l_quantity AS BIGINT))) AS i
        |  FROM lineitem),
        |base AS (
        |  SELECT l_returnflag, count(*) AS n_rows,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_weight
        |  FROM lineitem GROUP BY l_returnflag),
        |w AS (
        |  SELECT l_returnflag,
        |         round(quantile_cont(l_extendedprice, 0.25), 4) AS wq25,
        |         round(quantile_cont(l_extendedprice, 0.5), 4) AS wmedian,
        |         round(quantile_cont(l_extendedprice, 0.75), 4) AS wq75
        |  FROM rep GROUP BY l_returnflag)
        |SELECT b.l_returnflag, b.n_rows, b.total_weight, w.wq25, w.wmedian, w.wq75
        |FROM base b JOIN w USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    // same exact-integer candidate set: the max of |F_g − F_rest| over
    // the merged grid is attained AT or JUST BEFORE a group value
    "q134_ks_drift" ->
      """WITH gv AS (
        |  SELECT source AS g, n_chars AS v, count(*) AS a
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT v, CAST(sum(a) AS BIGINT) AS t,
        |         CAST(sum(sum(a)) OVER (ORDER BY v) AS BIGINT) AS ct
        |  FROM gv GROUP BY v),
        |tot AS (SELECT max(ct) AS n FROM grid),
        |pts AS (
        |  SELECT gv.g, gv.v, gv.a, grid.t, grid.ct,
        |         CAST(sum(gv.a) OVER (PARTITION BY gv.g ORDER BY gv.v)
        |              AS BIGINT) AS ca
        |  FROM gv JOIN grid USING (v)),
        |pts2 AS (
        |  SELECT *, coalesce(lag(ca) OVER (PARTITION BY g ORDER BY v), 0)
        |            AS cp
        |  FROM pts),
        |ns AS (SELECT g, CAST(sum(a) AS BIGINT) AS ns FROM gv GROUP BY g),
        |cand AS (
        |  SELECT p.g, ns.ns, tot.n - ns.ns AS nr,
        |         abs(p.ca * (tot.n - ns.ns) - (p.ct - p.ca) * ns.ns) AS d_at,
        |         abs(p.cp * (tot.n - ns.ns) -
        |             (p.ct - p.t - p.cp) * ns.ns) AS d_before
        |  FROM pts2 p JOIN ns USING (g) CROSS JOIN tot),
        |m AS (
        |  SELECT g, ns, nr,
        |         greatest(max(d_at), max(d_before)) AS dn
        |  FROM cand GROUP BY g, ns, nr)
        |SELECT g AS source, ns AS n_group, nr AS n_rest,
        |       round(dn / CAST(ns * nr AS DOUBLE), 6) AS ks_d,
        |       round(sqrt(CAST(ns * nr AS DOUBLE) / (ns + nr)) *
        |             (dn / CAST(ns * nr AS DOUBLE)), 4) AS ks_stat
        |FROM m ORDER BY source""".stripMargin,

    // the q93 integer-µs midpoint split + the q128 bin-length bucket;
    // PSI over both-sided buckets, one-sided counted not dropped
    "q135_psi" ->
      """WITH base AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |         CAST(round("value" * 100) AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS m FROM base),
        |b AS (
        |  SELECT event_type,
        |         CASE WHEN us <= (SELECT m FROM mid) THEN 0 ELSE 1 END AS half,
        |         CASE WHEN cents <= 0 THEN -1
        |              ELSE length(bin(cents)) - 1 END AS bucket
        |  FROM base),
        |cells AS (
        |  SELECT event_type, bucket,
        |         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM b GROUP BY event_type, bucket),
        |totals AS (
        |  SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
        |         CAST(sum(c2) AS BIGINT) AS n2
        |  FROM cells GROUP BY event_type)
        |SELECT c.event_type, t.n1 AS n_base, t.n2 AS n_current,
        |       CAST(sum(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_buckets,
        |       CAST(sum(CASE WHEN c1 = 0 OR c2 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_onesided,
        |       round(sum(CASE WHEN c1 > 0 AND c2 > 0 THEN
        |             (c2 / CAST(t.n2 AS DOUBLE) - c1 / CAST(t.n1 AS DOUBLE)) *
        |             ln((c2 * t.n1) / CAST(c1 * t.n2 AS DOUBLE))
        |             ELSE 0.0 END), 6) AS psi
        |FROM cells c JOIN totals t USING (event_type)
        |GROUP BY c.event_type, t.n1, t.n2
        |ORDER BY c.event_type""".stripMargin,

    // doubled midranks from the same rank()/tie-count windows; ρ is the
    // q132 closed Pearson form over BIGINT co-moments
    "q144_spearman" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS sp
        |  FROM orders GROUP BY o_custkey),
        |rows0 AS (
        |  SELECT n.n_name, CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
        |         coalesce(s.sp, 0) AS y
        |  FROM customer c
        |  LEFT JOIN spend s ON s.o_custkey = c.c_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |r AS (
        |  SELECT n_name,
        |         2 * rank() OVER (PARTITION BY n_name ORDER BY x) +
        |           count(*) OVER (PARTITION BY n_name, x) - 1 AS mx,
        |         2 * rank() OVER (PARTITION BY n_name ORDER BY y) +
        |           count(*) OVER (PARTITION BY n_name, y) - 1 AS my
        |  FROM rows0),
        |g AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(mx) AS DECIMAL(38,0)) AS sx,
        |         CAST(sum(my) AS DECIMAL(38,0)) AS sy,
        |         CAST(sum(mx*my) AS DECIMAL(38,0)) AS sxy,
        |         CAST(sum(mx*mx) AS DECIMAL(38,0)) AS sx2,
        |         CAST(sum(my*my) AS DECIMAL(38,0)) AS sy2
        |  FROM r GROUP BY n_name)
        |SELECT n_name, n AS n_customers,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |             nullif(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE) *
        |                         CAST(n * sy2 - sy * sy AS DOUBLE)), 0.0),
        |             6) AS spearman
        |FROM g ORDER BY n_name""".stripMargin,

    // the doubled-midrank trick: every sum BIGINT, two final divisions
    "q142_rank_bias" ->
      """WITH gv AS (
        |  SELECT source AS g, n_chars AS v, count(*) AS a
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT v, CAST(sum(a) AS BIGINT) AS t,
        |         CAST(sum(sum(a)) OVER (ORDER BY v) AS BIGINT) AS ct
        |  FROM gv GROUP BY v),
        |grid2 AS (SELECT v, t, ct, ct - t AS clt FROM grid),
        |tot AS (
        |  SELECT max(ct) AS n, CAST(sum(t*t*t - t) AS BIGINT) AS t3
        |  FROM grid2),
        |per AS (
        |  SELECT gv.g, CAST(sum(gv.a) AS BIGINT) AS ns,
        |         CAST(sum(gv.a * (2*g2.clt + g2.t + 1)) AS BIGINT) AS s2
        |  FROM gv JOIN grid2 g2 USING (v) GROUP BY gv.g)
        |SELECT p.g AS source, p.ns AS n_group, tot.n - p.ns AS n_rest,
        |       round((p.s2 - p.ns*(p.ns+1)) /
        |             (2.0 * p.ns * (tot.n - p.ns)), 6) AS auc,
        |       round(((p.s2 - p.ns*(p.ns+1)) / 2.0 -
        |              p.ns * (tot.n - p.ns) / 2.0) /
        |             nullif(sqrt(CAST(p.ns AS DOUBLE) * (tot.n - p.ns) /
        |               12.0 * ((tot.n + 1) - tot.t3 /
        |                 (CAST(tot.n AS DOUBLE) * (tot.n - 1)))), 0.0), 4)
        |         AS z
        |FROM per p CROSS JOIN tot ORDER BY source""".stripMargin,

    // JSD = H(M) − (H(P)+H(Q))/2; the p=0 part of H(M) folds into the
    // global scalar A = Σ(q/2)ln(q/2) — observed cells only, like Spark
    "q136_jsd" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS c
        |  FROM documents GROUP BY source, lang),
        |by_src AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cells GROUP BY source),
        |by_lang AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS cl FROM cells GROUP BY lang),
        |n0 AS (SELECT CAST(sum(cl) AS BIGINT) AS n FROM by_lang),
        |scalars AS (
        |  SELECT sum(cl / (2.0 * n0.n) * ln(cl / (2.0 * n0.n))) AS a,
        |         ln(n0.n) - sum(cl * ln(cl)) / CAST(n0.n AS DOUBLE) AS hq,
        |         n0.n AS n
        |  FROM by_lang CROSS JOIN n0 GROUP BY n0.n),
        |per AS (
        |  SELECT c.source, s.ns, count(*) AS n_langs,
        |         sum(((c.c / CAST(s.ns AS DOUBLE) +
        |               l.cl / CAST(g.n AS DOUBLE)) / 2) *
        |             ln((c.c / CAST(s.ns AS DOUBLE) +
        |                 l.cl / CAST(g.n AS DOUBLE)) / 2) -
        |             (l.cl / CAST(g.n AS DOUBLE) / 2) *
        |             ln(l.cl / CAST(g.n AS DOUBLE) / 2)) AS s1,
        |         -sum((c.c / CAST(s.ns AS DOUBLE)) *
        |              ln(c.c / CAST(s.ns AS DOUBLE))) AS hp,
        |         max(g.a) AS a, max(g.hq) AS hq
        |  FROM cells c
        |  JOIN by_src s USING (source)
        |  JOIN by_lang l USING (lang)
        |  CROSS JOIN scalars g
        |  GROUP BY c.source, s.ns)
        |SELECT source, ns AS n_docs, n_langs,
        |       round(greatest((-s1 - a) - (hp + hq) / 2, 0.0), 6) AS jsd_nats,
        |       round(greatest((-s1 - a) - (hp + hq) / 2, 0.0) / ln(2.0), 6)
        |         AS jsd_norm
        |FROM per ORDER BY source""".stripMargin,

    // identical exact power sums (HUGEINT = the decimal(38,0) twin);
    // the m2/m3/m4 closed forms are textually parallel ASTs so both
    // engines produce the same IEEE doubles before the final round
    "q145_moments" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_linestatus,
        |         CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |              AS HUGEINT) AS x
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, l_linestatus,
        |         count(*) AS nn, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(x) AS DOUBLE) AS s1,
        |         CAST(sum(x * x) AS DOUBLE) AS s2,
        |         CAST(sum(x * x * x) AS DOUBLE) AS s3,
        |         CAST(sum(x * x * x * x) AS DOUBLE) AS s4
        |  FROM c GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, l_linestatus, nn,
        |         s1 / n AS mean,
        |         s2 / n - (s1 / n) * (s1 / n) AS m2,
        |         s3 / n - 3.0 * (s1 / n) * (s2 / n) +
        |           2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |         s4 / n - 4.0 * (s1 / n) * (s3 / n) +
        |           6.0 * (s1 / n) * (s1 / n) * (s2 / n) -
        |           3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM g)
        |SELECT l_returnflag, l_linestatus, nn AS n,
        |       round(mean / 100.0, 4) AS mean_value,
        |       round(sqrt(m2) / 100.0, 4) AS stddev_value,
        |       round(m3 / nullif(m2 * sqrt(m2), 0.0), 6) AS skewness,
        |       round(m4 / nullif(m2 * m2, 0.0) - 3.0, 6) AS kurtosis_excess
        |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // identical integer half-up target position; normalized values are
    // actual pooled lengths, so all sums are exact integers
    "q167_quantile_norm" ->
      """WITH d AS (SELECT source, doc_id, n_chars FROM documents),
        |rk AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS r,
        |         count(*) OVER (PARTITION BY source) AS ng
        |  FROM d),
        |p AS (
        |  SELECT n_chars AS pv,
        |         row_number() OVER (ORDER BY n_chars, doc_id) AS pos
        |  FROM d),
        |nn AS (SELECT count(*) AS n FROM d),
        |t AS (
        |  SELECT rk.*, CASE WHEN ng = 1 THEN (nn.n + 1) // 2
        |               ELSE (2*(r-1)*(nn.n-1) + (ng-1)) // (2*(ng-1)) + 1
        |               END AS tpos
        |  FROM rk CROSS JOIN nn)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       round(sum(t.n_chars) / CAST(count(*) AS DOUBLE), 4) AS mean_raw,
        |       round(sum(p.pv) / CAST(count(*) AS DOUBLE), 4) AS mean_norm,
        |       CAST(min(p.pv) AS BIGINT) AS min_norm,
        |       CAST(max(p.pv) AS BIGINT) AS max_norm
        |FROM t JOIN p ON p.pos = t.tpos
        |GROUP BY source ORDER BY source""".stripMargin,

    // same exact HUGEINT co-moment sums; each corr one closed-form
    // double with a textually parallel AST
    "q171_corr_matrix" ->
      """WITH li AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_quantity * 100) AS HUGEINT) AS x,
        |         CAST(round(l_extendedprice * 100) AS HUGEINT) AS y,
        |         CAST(round(l_discount * 100) AS HUGEINT) AS z
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |         sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
        |         sum(x*x) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz,
        |         sum(x*y) AS sxy, sum(x*z) AS sxz, sum(y*z) AS syz
        |  FROM li GROUP BY l_returnflag),
        |u AS (
        |  SELECT l_returnflag, 'quantity' AS var_a, 'price' AS var_b, n,
        |         round(CAST(n*sxy - sx*sy AS DOUBLE) /
        |               sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
        |                    CAST(n*syy - sy*sy AS DOUBLE)), 6) AS corr
        |  FROM g
        |  UNION ALL
        |  SELECT l_returnflag, 'quantity', 'discount', n,
        |         round(CAST(n*sxz - sx*sz AS DOUBLE) /
        |               sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
        |                    CAST(n*szz - sz*sz AS DOUBLE)), 6)
        |  FROM g
        |  UNION ALL
        |  SELECT l_returnflag, 'price', 'discount', n,
        |         round(CAST(n*syz - sy*sz AS DOUBLE) /
        |               sqrt(CAST(n*syy - sy*sy AS DOUBLE) *
        |                    CAST(n*szz - sz*sz AS DOUBLE)), 6)
        |  FROM g)
        |SELECT l_returnflag, var_a, var_b, n, corr
        |FROM u ORDER BY l_returnflag, var_a, var_b""".stripMargin,

    // the same minimax identity over the same deterministic ROWS
    // prefix sums; quadratic only on the 24-bucket aggregate
    "q190_isotonic" ->
      """WITH y AS (
        |  SELECT event_type, hour(ts) AS i,
        |         sum(CAST(round(value * 100) AS BIGINT)) /
        |           (count(*) * 100.0) AS y
        |  FROM events GROUP BY event_type, hour(ts)),
        |s AS (
        |  SELECT event_type, i, y,
        |         sum(y) OVER (PARTITION BY event_type ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S,
        |         row_number() OVER (PARTITION BY event_type ORDER BY i) AS r
        |  FROM y),
        |means AS (
        |  SELECT j.event_type, j.r AS j, k.r AS k,
        |         (k.S - (j.S - j.y)) / (k.r - j.r + 1) AS m
        |  FROM s j JOIN s k
        |    ON k.event_type = j.event_type AND j.r <= k.r),
        |mink AS (
        |  SELECT me.event_type, i.r AS i, me.j, min(me.m) AS mj
        |  FROM means me JOIN s i
        |    ON i.event_type = me.event_type
        |   AND me.j <= i.r AND i.r <= me.k
        |  GROUP BY me.event_type, i.r, me.j),
        |fit AS (
        |  SELECT event_type, i, max(mj) AS f
        |  FROM mink GROUP BY event_type, i)
        |SELECT s.event_type, s.i AS hod, round(s.y, 6) AS y_mean,
        |       round(fit.f, 6) AS iso_fit
        |FROM s JOIN fit ON fit.event_type = s.event_type AND fit.i = s.r
        |ORDER BY s.event_type, hod""".stripMargin,

    // exact integer power sums, identical closed forms (q97 convention)
    "q191_burstiness" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |agg AS (
        |  SELECT event_type, count(*) AS n_hours,
        |         sum(c) AS s, sum(c * c) AS s2
        |  FROM hourly GROUP BY event_type),
        |st AS (
        |  SELECT event_type, n_hours,
        |         CAST(s AS DOUBLE) / n_hours AS mu,
        |         (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) *
        |            (CAST(s AS DOUBLE) / n_hours)) / (n_hours - 1) AS v
        |  FROM agg)
        |SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
        |       round(mu, 6) AS mean_per_hour,
        |       round(v / mu, 6) AS fano,
        |       round((sqrt(v) - mu) / (sqrt(v) + mu), 6) AS burstiness
        |FROM st ORDER BY event_type""".stripMargin,

    // same exact HUGEINT power sums; reversal compares exact numerator
    // signs, never rounded doubles
    "q195_simpson" ->
      """WITH base AS (
        |  SELECT p.p_brand,
        |         CAST(round(l.l_discount * 100) AS BIGINT) AS x,
        |         CAST(l.l_quantity AS BIGINT) AS y
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |b AS (
        |  SELECT p_brand, count(*) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM base GROUP BY p_brand),
        |p AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM base)
        |SELECT b.p_brand, CAST(b.n AS BIGINT) AS n,
        |       round(CAST(b.n * b.sxy - b.sx * b.sy AS DOUBLE) /
        |             CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE), 6)
        |         AS brand_slope,
        |       round(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE) /
        |             CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE), 6)
        |         AS pooled_slope,
        |       sign(CAST(b.n * b.sxy - b.sx * b.sy AS DOUBLE)) <>
        |         sign(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)) AS reversed
        |FROM b, p ORDER BY b.p_brand""".stripMargin,

    // same exact-integer normalization, same closed-form kernel, same
    // left-associated n·h·√(2π) denominator (0.05 cast to DOUBLE so
    // both engines run the identical double product chain)
    "q198_kde" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |s AS (SELECT min(c) AS mn, max(c) AS mx FROM o),
        |z AS (
        |  SELECT o.o_orderpriority, t.j,
        |         (CAST(o.c - s.mn AS DOUBLE) / CAST(s.mx - s.mn AS DOUBLE)
        |          - t.j / 20.0) / CAST(0.05 AS DOUBLE) AS z
        |  FROM o, s, (SELECT unnest(generate_series(0, 20)) AS j) t)
        |SELECT o_orderpriority, round(j / 20.0, 2) AS u_grid,
        |       count(*) AS n_orders,
        |       round(sum(exp(z * z / -2.0)) /
        |             (count(*) * CAST(0.05 AS DOUBLE) * sqrt(2.0 * pi())), 6)
        |         AS density
        |FROM z GROUP BY o_orderpriority, j
        |ORDER BY o_orderpriority, u_grid""".stripMargin,

    // same exact decimal co-moments cast to double once, same 2x2
    // normal-equation solve with the identical operand order
    "q199_ols2" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_discount * 100) AS BIGINT) AS x1,
        |         CAST(round(l_tax * 100) AS BIGINT) AS x2,
        |         CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(CAST(x1 AS DECIMAL(38,0))) AS s1,
        |         sum(CAST(x2 AS DECIMAL(38,0))) AS s2,
        |         sum(CAST(y AS DECIMAL(38,0))) AS sy,
        |         sum(CAST(x1 * x1 AS DECIMAL(38,0))) AS s11,
        |         sum(CAST(x2 * x2 AS DECIMAL(38,0))) AS s22,
        |         sum(CAST(x1 * x2 AS DECIMAL(38,0))) AS s12,
        |         sum(CAST(x1 * y AS DECIMAL(38,0))) AS s1y,
        |         sum(CAST(x2 * y AS DECIMAL(38,0))) AS s2y,
        |         sum(CAST(y * y AS DECIMAL(38,0))) AS syy
        |  FROM b GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n, s1, s2, sy,
        |         CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
        |         CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
        |         CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12,
        |         CAST(n * s1y - s1 * sy AS DOUBLE) AS c1y,
        |         CAST(n * s2y - s2 * sy AS DOUBLE) AS c2y,
        |         CAST(n * syy - sy * sy AS DOUBLE) AS cyy
        |  FROM a)
        |SELECT l_returnflag, n,
        |       round((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12), 6)
        |         AS b_discount,
        |       round((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12), 6)
        |         AS b_tax,
        |       round((CAST(sy AS DOUBLE)
        |              - ((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12))
        |                * CAST(s1 AS DOUBLE)
        |              - ((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12))
        |                * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE), 6)
        |         AS intercept,
        |       round((((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12)) * c1y
        |            + ((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)) * c2y)
        |             / cyy, 6) AS r2
        |FROM c ORDER BY l_returnflag""".stripMargin,

    // same exact co-moments, same closed-form eigen/angle ASTs
    "q200_pca" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_discount * 100) AS BIGINT) AS x,
        |         CAST(round(l_tax * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(CAST(x AS DECIMAL(38,0))) AS sx,
        |         sum(CAST(y AS DECIMAL(38,0))) AS sy,
        |         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |         sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
        |         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
        |  FROM b GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n,
        |         CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
        |         CAST(n * syy - sy * sy AS DOUBLE) AS vy,
        |         CAST(n * sxy - sx * sy AS DOUBLE) AS cxy
        |  FROM a)
        |SELECT l_returnflag, n,
        |       round((vx + vy + sqrt((vx - vy) * (vx - vy)
        |              + 4.0 * cxy * cxy)) / (2.0 * (vx + vy)), 6)
        |         AS explained_share,
        |       round(atan2(2.0 * cxy, vx - vy) / 2.0, 6) AS axis_angle_rad,
        |       round(cxy / sqrt(vx * vy), 6) AS corr
        |FROM c ORDER BY l_returnflag""".stripMargin,

    // same integer mixer, same integer Poisson thresholds, same
    // split floor division and order-statistic picks
    "q205_bootstrap" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |r AS (
        |  SELECT o.*, t.b,
        |         ((((o.o_orderkey % 1000003) * 2654435761
        |            + (o.o_orderkey >> 16) * 7919
        |            + t.b * 10007) % 1000000007) * 2654435761)
        |           % 1000000007 AS v
        |  FROM o, (SELECT unnest(generate_series(0, 31)) AS b) t),
        |w AS (
        |  SELECT o_orderpriority, b,
        |         sum((CASE WHEN v >= 367879444 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 735758888 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 919698610 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 981011850 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 996340161 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 999405823 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 999916766 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 999989758 THEN 1 ELSE 0 END
        |            + CASE WHEN v >= 999998882 THEN 1 ELSE 0 END) * c)
        |           AS wx,
        |         sum(CASE WHEN v >= 367879444 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 735758888 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 919698610 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 981011850 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 996340161 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 999405823 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 999916766 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 999989758 THEN 1 ELSE 0 END
        |           + CASE WHEN v >= 999998882 THEN 1 ELSE 0 END) AS sw
        |  FROM r GROUP BY o_orderpriority, b),
        |m AS (
        |  SELECT o_orderpriority, b,
        |         (wx // sw) * 10000 + ((wx % sw) * 10000) // sw AS m_e4
        |  FROM w WHERE sw > 0),
        |arr AS (
        |  SELECT o_orderpriority, list_sort(list(m_e4)) AS a
        |  FROM m GROUP BY o_orderpriority),
        |p AS (
        |  SELECT o_orderpriority, count(*) AS n_orders, sum(c) AS tc
        |  FROM o GROUP BY o_orderpriority)
        |SELECT p.o_orderpriority, p.n_orders,
        |       ((tc // n_orders) * 10000 + ((tc % n_orders) * 10000)
        |          // n_orders) / 10000.0 AS mean_value,
        |       a[2] / 10000.0 AS boot_lo,
        |       a[31] / 10000.0 AS boot_hi
        |FROM p JOIN arr ON arr.o_orderpriority = p.o_orderpriority
        |ORDER BY p.o_orderpriority""".stripMargin,

    // same literal 3x2 conditional pivot, same left-associated
    // sum-of-squares ASTs over exact integer cell sums
    "q208_anova" ->
      """WITH li AS (
        |  SELECT l_returnflag AS a, l_linestatus AS b,
        |         CAST(l_quantity AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT count(*) AS n, sum(y) AS g, sum(y * y) AS q,
        |    sum(CASE WHEN a = 'A' THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN a = 'A' THEN y ELSE 0 END) AS s_a,
        |    sum(CASE WHEN a = 'N' THEN 1 ELSE 0 END) AS n_n,
        |    sum(CASE WHEN a = 'N' THEN y ELSE 0 END) AS s_n,
        |    sum(CASE WHEN a = 'R' THEN 1 ELSE 0 END) AS n_r,
        |    sum(CASE WHEN a = 'R' THEN y ELSE 0 END) AS s_r,
        |    sum(CASE WHEN b = 'F' THEN 1 ELSE 0 END) AS n_f,
        |    sum(CASE WHEN b = 'F' THEN y ELSE 0 END) AS s_f,
        |    sum(CASE WHEN b = 'O' THEN 1 ELSE 0 END) AS n_o,
        |    sum(CASE WHEN b = 'O' THEN y ELSE 0 END) AS s_o,
        |    sum(CASE WHEN a = 'A' AND b = 'F' THEN 1 ELSE 0 END) AS n_af,
        |    sum(CASE WHEN a = 'A' AND b = 'F' THEN y ELSE 0 END) AS s_af,
        |    sum(CASE WHEN a = 'A' AND b = 'O' THEN 1 ELSE 0 END) AS n_ao,
        |    sum(CASE WHEN a = 'A' AND b = 'O' THEN y ELSE 0 END) AS s_ao,
        |    sum(CASE WHEN a = 'N' AND b = 'F' THEN 1 ELSE 0 END) AS n_nf,
        |    sum(CASE WHEN a = 'N' AND b = 'F' THEN y ELSE 0 END) AS s_nf,
        |    sum(CASE WHEN a = 'N' AND b = 'O' THEN 1 ELSE 0 END) AS n_no,
        |    sum(CASE WHEN a = 'N' AND b = 'O' THEN y ELSE 0 END) AS s_no,
        |    sum(CASE WHEN a = 'R' AND b = 'F' THEN 1 ELSE 0 END) AS n_rf,
        |    sum(CASE WHEN a = 'R' AND b = 'F' THEN y ELSE 0 END) AS s_rf,
        |    sum(CASE WHEN a = 'R' AND b = 'O' THEN 1 ELSE 0 END) AS n_ro,
        |    sum(CASE WHEN a = 'R' AND b = 'O' THEN y ELSE 0 END) AS s_ro
        |  FROM li),
        |t AS (
        |  SELECT n, g, q,
        |    CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      + CAST(s_n AS DOUBLE) * CAST(s_n AS DOUBLE) / CAST(n_n AS DOUBLE)
        |      + CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / CAST(n_r AS DOUBLE)
        |      - CAST(g AS DOUBLE) * CAST(g AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS ss_a,
        |    CAST(s_f AS DOUBLE) * CAST(s_f AS DOUBLE) / CAST(n_f AS DOUBLE)
        |      + CAST(s_o AS DOUBLE) * CAST(s_o AS DOUBLE) / CAST(n_o AS DOUBLE)
        |      - CAST(g AS DOUBLE) * CAST(g AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS ss_b,
        |    CAST(s_af AS DOUBLE) * CAST(s_af AS DOUBLE) / CAST(n_af AS DOUBLE)
        |      + CAST(s_ao AS DOUBLE) * CAST(s_ao AS DOUBLE) / CAST(n_ao AS DOUBLE)
        |      + CAST(s_nf AS DOUBLE) * CAST(s_nf AS DOUBLE) / CAST(n_nf AS DOUBLE)
        |      + CAST(s_no AS DOUBLE) * CAST(s_no AS DOUBLE) / CAST(n_no AS DOUBLE)
        |      + CAST(s_rf AS DOUBLE) * CAST(s_rf AS DOUBLE) / CAST(n_rf AS DOUBLE)
        |      + CAST(s_ro AS DOUBLE) * CAST(s_ro AS DOUBLE) / CAST(n_ro AS DOUBLE)
        |      AS cells
        |  FROM m)
        |SELECT n AS n_rows,
        |       round(ss_a, 4) AS ss_flag,
        |       round(ss_b, 4) AS ss_status,
        |       round(cells - CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
        |             / CAST(n AS DOUBLE) - ss_a - ss_b, 4) AS ss_interaction,
        |       round(CAST(q AS DOUBLE) - cells, 4) AS ss_error,
        |       round((ss_a / 2.0) / ((CAST(q AS DOUBLE) - cells)
        |             / (CAST(n AS DOUBLE) - 6.0)), 6) AS f_flag,
        |       round((ss_b / 1.0) / ((CAST(q AS DOUBLE) - cells)
        |             / (CAST(n AS DOUBLE) - 6.0)), 6) AS f_status,
        |       round(((cells - CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
        |             / CAST(n AS DOUBLE) - ss_a - ss_b) / 2.0)
        |             / ((CAST(q AS DOUBLE) - cells)
        |             / (CAST(n AS DOUBLE) - 6.0)), 6) AS f_interaction
        |FROM t""".stripMargin,

    // same cumulative class counts, same 0*ln0-guarded impurity AST,
    // same (impurity, threshold) argmin
    "q209_stump" ->
      """WITH lab AS (
        |  SELECT c.c_mktsegment AS seg,
        |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
        |         CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS pos
        |  FROM customer c LEFT JOIN
        |    (SELECT DISTINCT o_custkey FROM orders
        |     WHERE year(o_orderdate) = 1997) o
        |    ON c.c_custkey = o.o_custkey),
        |bv AS (
        |  SELECT seg, bal, count(*) AS n, sum(pos) AS p
        |  FROM lab GROUP BY seg, bal),
        |cum AS (
        |  SELECT seg, bal,
        |         sum(n) OVER (PARTITION BY seg ORDER BY bal) AS nl,
        |         sum(p) OVER (PARTITION BY seg ORDER BY bal) AS pl,
        |         sum(n) OVER (PARTITION BY seg) AS nt,
        |         sum(p) OVER (PARTITION BY seg) AS pt
        |  FROM bv),
        |imp AS (
        |  SELECT seg, bal, nl, pl, nt, pt, nt - nl AS nr, pt - pl AS pr,
        |    (CASE WHEN nl > 0 THEN CAST(nl AS DOUBLE) * ln(CAST(nl AS DOUBLE)) ELSE 0.0 END)
        |    - (CASE WHEN pl > 0 THEN CAST(pl AS DOUBLE) * ln(CAST(pl AS DOUBLE)) ELSE 0.0 END)
        |    - (CASE WHEN nl - pl > 0 THEN CAST(nl - pl AS DOUBLE) * ln(CAST(nl - pl AS DOUBLE)) ELSE 0.0 END)
        |    + (CASE WHEN nt - nl > 0 THEN CAST(nt - nl AS DOUBLE) * ln(CAST(nt - nl AS DOUBLE)) ELSE 0.0 END)
        |    - (CASE WHEN pt - pl > 0 THEN CAST(pt - pl AS DOUBLE) * ln(CAST(pt - pl AS DOUBLE)) ELSE 0.0 END)
        |    - (CASE WHEN (nt - nl) - (pt - pl) > 0 THEN CAST((nt - nl) - (pt - pl) AS DOUBLE) * ln(CAST((nt - nl) - (pt - pl) AS DOUBLE)) ELSE 0.0 END)
        |      AS impurity
        |  FROM cum WHERE nl < nt),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY seg
        |    ORDER BY impurity, bal) AS rn
        |  FROM imp)
        |SELECT seg, bal / 100.0 AS threshold,
        |       CAST(nl AS BIGINT) AS n_le, CAST(nr AS BIGINT) AS n_gt,
        |       round(CAST(pl AS DOUBLE) / nl, 6) AS rate_le,
        |       round(CAST(pr AS DOUBLE) / nr, 6) AS rate_gt,
        |       round(((CASE WHEN nt > 0 THEN CAST(nt AS DOUBLE) * ln(CAST(nt AS DOUBLE)) ELSE 0.0 END)
        |         - (CASE WHEN pt > 0 THEN CAST(pt AS DOUBLE) * ln(CAST(pt AS DOUBLE)) ELSE 0.0 END)
        |         - (CASE WHEN nt - pt > 0 THEN CAST(nt - pt AS DOUBLE) * ln(CAST(nt - pt AS DOUBLE)) ELSE 0.0 END)
        |         - impurity) / CAST(nt AS DOUBLE), 6) AS info_gain
        |FROM best WHERE rn = 1 ORDER BY seg""".stripMargin,

    // same bounded day-pair fan-out, same single-division slopes,
    // same interpolating median
    "q220_theil_sen" ->
      """WITH daily AS (
        |  SELECT n.n_name,
        |         CAST(o.o_orderdate AS DATE) - DATE '1996-01-01' AS d,
        |         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS c
        |  FROM orders o
        |  JOIN customer cu ON o.o_custkey = cu.c_custkey
        |  JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  WHERE year(o.o_orderdate) = 1996
        |  GROUP BY n.n_name, CAST(o.o_orderdate AS DATE)),
        |slopes AS (
        |  SELECT a.n_name,
        |         CAST(b.c - a.c AS DOUBLE) / (b.d - a.d) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.n_name = b.n_name AND a.d < b.d)
        |SELECT n_name, count(*) AS n_pairs,
        |       round(quantile_cont(slope, 0.5) / 100.0, 4)
        |         AS theil_sen_slope
        |FROM slopes GROUP BY n_name ORDER BY n_name""".stripMargin,

    // same per-user gaps, same fixed-AST CDF rows, same max-reduce
    "q226_exp_fit" ->
      """WITH g AS (
        |  SELECT event_type,
        |         (epoch_us(ts) - epoch_us(lag(ts) OVER (
        |            PARTITION BY event_type, user_id
        |            ORDER BY ts, event_id))) / 3600000000.0 AS x
        |  FROM events
        |  QUALIFY x IS NOT NULL AND x > 0),
        |s AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx,
        |         count(*) / sum(x) AS lambda
        |  FROM g GROUP BY event_type),
        |r AS (
        |  SELECT g.event_type, g.x, s.n, s.lambda,
        |         row_number() OVER (PARTITION BY g.event_type
        |           ORDER BY g.x) AS r
        |  FROM g JOIN s ON s.event_type = g.event_type),
        |d AS (
        |  SELECT event_type, n, lambda,
        |         greatest(abs(r / n - (1.0 - exp(-1.0 * lambda * x))),
        |                  abs((r - 1) / n - (1.0 - exp(-1.0 * lambda * x))))
        |           AS dd
        |  FROM r)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
        |       round(max(lambda), 6) AS rate_per_hour,
        |       round(max(dd), 6) AS ks_distance
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same exact decimal z products, same closed-form union bound
    "q239_multi_test" ->
      """WITH li AS (
        |  SELECT p.p_type,
        |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |per AS (
        |  SELECT p_type, count(*) AS n,
        |         CAST(sum(r) AS BIGINT) AS r
        |  FROM li GROUP BY p_type),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |         CAST(sum(r) AS BIGINT) AS rr,
        |         count(*) AS k
        |  FROM per),
        |f AS (
        |  SELECT per.p_type, per.n, per.r, tot.k,
        |         CAST(CAST(per.r AS DECIMAL(38,0)) * tot.nn
        |              - CAST(per.n AS DECIMAL(38,0)) * tot.rr AS DOUBLE) /
        |         sqrt(CAST(CAST(per.n AS DECIMAL(38,0)) * tot.rr
        |              * (tot.nn - tot.rr) AS DOUBLE)) AS z,
        |         sqrt(2.0 * ln(40.0 * tot.k)) AS crit
        |  FROM per, tot)
        |SELECT p_type, n, r AS n_returned,
        |       round(CAST(r AS DOUBLE) / n, 6) AS return_rate,
        |       round(z, 4) AS z,
        |       abs(z) > 1.96 AS flag_naive,
        |       abs(z) > crit AS flag_corrected,
        |       round(crit, 4) AS critical_value
        |FROM f ORDER BY p_type""".stripMargin)
}

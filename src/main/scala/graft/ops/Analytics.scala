package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frame-spec window analytics and generic non-equi joins
  * (SURVEY.md §2.3 A7/A8).
  */
object Analytics {

  /** Time-based moving aggregate: for each row, `agg` over rows of the
    * same `partitionKey` within the trailing `rangeSeconds` (inclusive)
    * ending at the row's `tsCol` (a timestamp column). One shuffle on the
    * partition key. The frame is evaluated at MICROSECOND precision —
    * a seconds-truncated frame silently includes rows up to 1s outside
    * the band, which breaks parity with any µs-exact engine.
    */
  def movingAgg(
      df: DataFrame,
      partitionKey: String,
      tsCol: String,
      valueCol: String,
      rangeSeconds: Long,
      aggName: String = "avg"): DataFrame = {
    val w = Window.partitionBy(col(partitionKey))
      .orderBy(unix_micros(col(tsCol).cast("timestamp")))
      .rangeBetween(-rangeSeconds * 1000000L, 0)
    val aggExpr: Column = aggName match {
      case "avg" => avg(col(valueCol))
      case "sum" => sum(col(valueCol))
      case "min" => min(col(valueCol))
      case "max" => max(col(valueCol))
      case "count" => count(col(valueCol))
      case other => throw new IllegalArgumentException(s"unsupported agg: $other")
    }
    df.withColumn(s"${aggName}_${valueCol}_${rangeSeconds}s", aggExpr.over(w))
  }

  /** Row-based sliding aggregate (`nRows` preceding through current). */
  def rollingRows(
      df: DataFrame,
      partitionKey: String,
      orderCol: String,
      valueCol: String,
      nRows: Int): DataFrame = {
    val w = Window.partitionBy(col(partitionKey)).orderBy(col(orderCol))
      .rowsBetween(-(nRows - 1), 0)
    df.withColumn(s"rolling_${valueCol}_$nRows", avg(col(valueCol)).over(w))
  }

  /** Approximate grouped quantiles — the 100 TB twin of Q32's exact
    * `percentile`. Exact percentiles need a full per-group sort;
    * `approx_percentile` keeps a bounded KLL-style sketch per group that
    * merges associatively across partitions (map-side partial → one
    * shuffle of sketches, not rows). `accuracy` trades sketch size for
    * rank error ≤ 1/accuracy.
    */
  def approxQuantiles(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      probabilities: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val probsSql = probabilities.mkString("array(", ", ", ")")
    df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"approx_percentile($valueCol, $probsSql, $accuracy)").as("quantiles"))
  }

  /** Robust per-group outlier detection: exact median and MAD (median
    * absolute deviation) of `valueCol`, plus the count of rows whose
    * deviation exceeds `z`·MAD — the standard robust z-score screen,
    * immune to the outliers it hunts (unlike mean/stddev).
    *
    * Shape: two keyed aggregation passes (medians are holistic — one
    * for the median, one for the MAD) with the group-cardinality-sized
    * medians broadcast back between them. Exact `percentile` holds one
    * value→count map per group, so a group's memory is bounded by its
    * number of DISTINCT values (and distinct absolute deviations), not
    * by its rows.
    */
  def robustOutliers(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      z: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    val gs = groupCols.map(col)
    val med = df.groupBy(gs: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("__med"))
    val dev = df.join(broadcast(med), groupCols)
      .withColumn("__ad", abs(col(valueCol) - col("__med")))
    val mad = dev.groupBy(gs: _*).agg(expr("percentile(__ad, 0.5)").as("__mad"))
    dev.join(broadcast(mad), groupCols)
      .groupBy(gs: _*)
      .agg(
        round(min(col("__med")), 4).as("med"),
        round(min(col("__mad")), 4).as("mad"),
        count(when(col("__ad") > lit(z) * col("__mad"), 1)).as("n_outliers"),
        count(lit(1)).as("n"))
  }

  /** Rolling active-user counts (DAU/WAU/MAU-style): for each calendar
    * day present in the data, the exact distinct-user count over the
    * trailing `w` days, for every `w` in `windows`.
    *
    * Shape: ONE distinct pass builds the (day, user) grain; each grain
    * row then contributes to its next `w` target days via a bounded
    * `sequence` explode (fan-out = w, ≤30 here — never a day×day
    * self-join), and a per-day distinct count finishes. All shuffles
    * are on day/user keys; the explode multiplies the GRAIN (days ×
    * users), not the raw events. Inner-joining back to the observed
    * days drops phantom trailing days. For extreme user cardinality
    * swap the final exact distinct for HLL sketches — the contribution
    * explode is unchanged.
    */
  def rollingActiveUsers(
      df: DataFrame, userCol: String, tsCol: String,
      windows: Seq[Int] = Seq(7, 30)): DataFrame = {
    require(windows.nonEmpty && windows.forall(w => w >= 1 && w <= 366),
      s"windows must be in 1..366: $windows")
    val grain = df.select(
        to_date(date_trunc("day", col(tsCol))).as("d"),
        col(userCol).as("u"))
      .distinct()
    val dau = grain.groupBy(col("d")).agg(countDistinct(col("u")).as("dau"))
    windows.foldLeft(dau) { (acc, w) =>
      val rolled = grain
        .select(explode(sequence(col("d"), date_add(col("d"), w - 1))).as("d"), col("u"))
        .groupBy(col("d")).agg(countDistinct(col("u")).as(s"au_$w"))
      acc.join(rolled, "d")
    }
  }

  /** General theta join: arbitrary boolean condition. Executes as a
    * broadcast nested loop — correct but O(|l|·|r|); the perf guard is
    * that NO inventory query plans through this (PlanSpec asserts Q03/Q18
    * stay hash/broadcast-hash). Use only when no equi/as-of/range
    * formulation exists, and keep the broadcast side small.
    */
  def thetaJoin(left: DataFrame, right: DataFrame, cond: Column,
      joinType: String = "inner"): DataFrame =
    left.join(right, cond, joinType)

  /** Banded range join: |l.time − r.time| ≤ `bandSeconds` plus equi keys.
    * Rewritten as an equi join on (key, time-bucket) with each left row
    * probing its own and adjacent buckets — a keyed shuffle instead of a
    * nested loop, the standard trick for time-band joins at scale.
    */
  def bandJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, bandSeconds: Long): DataFrame = {
    // µs precision throughout: bucketing AND the band predicate — a
    // seconds-truncated band admits pairs up to 1s outside it
    val bandUs = bandSeconds * 1000000L
    def us(c: String) = unix_micros(col(c).cast("timestamp"))
    val lb = (us(leftTs) / bandUs).cast("long")
    val l = left.withColumn("__b", explode(array(lb - 1, lb, lb + 1)))
    val r = right.withColumn("__b", (us(rightTs) / bandUs).cast("long"))
    l.join(r, keys :+ "__b")
      .filter(abs(us(leftTs) - us(rightTs)) <= bandUs)
      .drop("__b")
  }
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-span analytics and referential conformance (SURVEY.md
  * §2.3.1 extensions, q117–q120): gap-and-islands streaks, sweep-line
  * peak concurrency, orphan-key audits, and distribution-position
  * scoring (percent_rank / cume_dist).
  *
  * Scale shapes:
  *  - [[streaks]]: the gap-and-islands rewrite — island id =
  *    period − row_number() — needs ONE entity-key shuffle; no
  *    self-join, no iteration.
  *  - [[peakConcurrency]]: the sweep-line is ±1 deltas under a running
  *    sum PARTITIONED by the bucket key (day), so no global ordered
  *    scan exists anywhere; per-bucket max is algebraic.
  *  - [[conformance]]: each direction is one left-anti join; fact-side
  *    joins shuffle on the key, dim-side probes broadcast when small.
  *  - [[positionScores]]: rank windows partition by the grouping key
  *    with a unique tiebreak, so ties cannot make ranks
  *    nondeterministic across engines or partitionings.
  */
object Spans {

  private def orderedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).orderBy(cols: _*)

  /** Gap-and-islands: maximal runs of CONSECUTIVE periods per entity.
    * With rows unique on (entity, period), `period − row_number()` is
    * constant exactly within a consecutive run — one window pass, one
    * groupBy; never a self-join. Returns one row per run with its
    * bounds and length.
    */
  def streaks(df: DataFrame, entityCol: String, periodCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(periodCol))
    df.select(col(entityCol), col(periodCol))
      .withColumn("__island", date_sub(col(periodCol), row_number().over(w)))
      .groupBy(col(entityCol), col("__island"))
      .agg(min(col(periodCol)).as("start_day"),
        max(col(periodCol)).as("end_day"),
        count(lit(1)).as("len"))
      .drop("__island")
  }

  /** Sweep-line peak concurrency per bucket: each interval contributes
    * a +1 at its start and a −1 just after its end — the half-open
    * [s, e+1) encoding of closed-interval semantics, so intervals
    * sharing a boundary instant both count ([0,10] and [10,20] overlap
    * at 10) while back-to-back intervals ([0,5] then [6,9]) do not: at
    * an equal instant the release (−1 at e+1) sorts BEFORE the start.
    * The running sum partitions by `bucketCol`, so the sweep is
    * per-bucket, never a global ordered scan; ties in (instant, delta)
    * permute only equal increments, so the max is order-independent.
    *
    * Input: one row per interval with inclusive µs bounds.
    */
  def peakConcurrency(
      intervals: DataFrame, bucketCol: String, startUsCol: String,
      endUsCol: String): DataFrame = {
    val deltas = intervals
      .select(col(bucketCol), col(startUsCol).as("__t"), lit(1).as("__d"))
      .unionAll(intervals.select(col(bucketCol),
        (col(endUsCol) + 1).as("__t"), lit(-1).as("__d")))
    // explicit ROWS frame: the default RANGE frame aggregates tie
    // peers together; max() is the same either way, but the oracle
    // replays ROWS, so pin the identical running values
    val w = Window.partitionBy(col(bucketCol))
      .orderBy(col("__t"), col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("__run", sum(col("__d")).over(w))
      .groupBy(col(bucketCol))
      .agg(max(col("__run")).as("peak_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
  }

  /** Referential conformance audit between a fact and a dim: rows on
    * either side whose join key has no partner. Two left-anti joins —
    * the dim side of the fact probe broadcasts when bounded; the
    * fact-side anti join shuffles on the key at scale.
    */
  def orphanCounts(
      fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String): (Long, Long) = {
    val factOrphans = fact.join(dim,
      fact(factKey) === dim(dimKey), "left_anti").count()
    val dimOrphans = dim.join(fact,
      dim(dimKey) === fact(factKey), "left_anti").count()
    (factOrphans, dimOrphans)
  }

  /** Distribution-position scores within a group: percent_rank and
    * cume_dist over (value, tiebreak) — the unique tiebreak makes both
    * scores engine-deterministic under ties. One group-key shuffle.
    */
  def positionScores(
      df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol), col(tieCol))
    df.withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
  }

  // --------------------------------------------------------------- q117

  /** q117 — longest consecutive-active-day streaks per user: the
    * engagement-streak readout, top 100 runs. */
  def streakQuery(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    orderedSmall(streaks(active, "user_id", "day"),
      col("len").desc, col("user_id"), col("start_day"))
      .limit(100)
  }

  // --------------------------------------------------------------- q118

  /** q118 — peak concurrent active users per day: each user's daily
    * activity span [first event, last event] swept per day. */
  def concurrencyQuery(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.load(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("s"),
        max(unix_micros(col("ts"))).as("e"))
    orderedSmall(peakConcurrency(spans, "day", "s", "e"), col("day"))
  }

  // --------------------------------------------------------------- q119

  /** q119 — referential conformance across the star schema: orphan
    * counts in both directions for orders↔lineitem, customer↔orders,
    * part↔lineitem — the single-row integrity scorecard a 100 TB
    * ingest gate reads. Each count is an anti-join reduced to one row
    * and the six single-row results combine by broadcast — ONE
    * declarative plan, no driver-side collect between stages.
    */
  def conformanceQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val part = Tables.load(spark, dir, "part")
    def orphanCount(fact: DataFrame, fk: String, dim: DataFrame,
        dk: String, as: String): DataFrame =
      fact.join(dim, fact(fk) === dim(dk), "left_anti")
        .agg(count(lit(1)).as(as))
    orphanCount(li, "l_orderkey", ord, "o_orderkey", "li_no_order")
      .crossJoin(broadcast(orphanCount(ord, "o_orderkey", li, "l_orderkey", "order_no_li")))
      .crossJoin(broadcast(orphanCount(ord, "o_custkey", cust, "c_custkey", "order_no_cust")))
      .crossJoin(broadcast(orphanCount(cust, "c_custkey", ord, "o_custkey", "cust_no_order")))
      .crossJoin(broadcast(orphanCount(li, "l_partkey", part, "p_partkey", "li_no_part")))
      .crossJoin(broadcast(orphanCount(part, "p_partkey", li, "l_partkey", "part_no_li")))
  }

  // --------------------------------------------------------------- q120

  /** q120 — distribution position of the longest documents: per
    * language, docs in the top percent_rank 1% by n_chars (doc_id
    * tiebreak), with both position scores. */
  def positionQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      positionScores(Tables.load(spark, dir, "documents")
          .select(col("lang"), col("doc_id"), col("n_chars")),
        "lang", "n_chars", "doc_id")
        .filter(col("pr") >= 0.99),
      col("lang"), col("pr"), col("doc_id"))
      .limit(200)

  // --------------------------------------------------------------- q131

  /** q131 — session bounce rate by entry event: sessions built with
    * the q11 rule (30-minute inactivity gap, (ts, event_id) ordered),
    * each keyed by its FIRST event's type; a bounce is a single-event
    * session. Session ids are the running sum of new-session flags —
    * exact integers, one user-key shuffle; the readout is
    * |types|-bounded. The landing-page quality signal of web
    * analytics, expressed on the events stream.
    */
  def bounceQuery(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sess = Tables.load(spark, dir, "events")
      .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_micros(col("ts")) - col("__prev") > gapUs, 1L).otherwise(0L))
      .withColumn("__sid",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      // the session's entry event IS its new-session row (exactly one
      // per (user, sid) by construction) — no arg_min needed
      .groupBy(col("user_id"), col("__sid"))
      .agg(max(when(col("__new") === 1, col("event_type"))).as("entry_type"),
        count(lit(1)).as("__n"))
    orderedSmall(
      sess.groupBy(col("entry_type"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_bounce"))
        .withColumn("bounce_rate",
          round(col("n_bounce") / col("n_sessions").cast("double"), 6)),
      col("entry_type"))
  }

  // --------------------------------------------------------------- q176

  /** q176 — interval union (merge-overlaps): each order opens a
    * 30-day activity window for its customer; overlapping/touching
    * windows merge into islands and the customer's covered time is
    * the union length — the classic "merge intervals" operator
    * (entity timelines, machine uptime, contract coverage), distinct
    * from q118's concurrency counting and q117's day-grain streaks.
    * Rewrite: one customer-key window pass — an interval starts a new
    * island iff its start exceeds the running max end of all earlier
    * intervals (ROWS UNBOUNDED PRECEDING TO 1 PRECEDING); island id =
    * running sum of starts; per island the union length is
    * max(end) − min(start), all integer µs. Nation-bounded output:
    * customers, islands, exact mean covered days per nation. DuckDB
    * replays the identical windows — but the per-customer LENGTHS are
    * also pinned against a brute-force day-set union in SpansSpec.
    */
  def intervalUnionQuery(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 30L * 86400 * 1000 * 1000
    // o_orderdate is TIMESTAMP_NTZ in the corpus; under the pinned UTC
    // session the cast reads the same instant (the q11 events rule)
    val iv = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("__s"))
      .withColumn("__e", col("__s") + winUs)
    val wPrev = Window.partitionBy(col("o_custkey"))
      .orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("o_custkey"))
      .orderBy(col("__s"), col("__e"))
    val islands = iv
      .withColumn("__pmax", max(col("__e")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy(col("o_custkey"), col("__isl"))
      .agg(min(col("__s")).as("__is"), max(col("__e")).as("__ie"))
    val perCust = islands.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("__ni"),
        sum(col("__ie") - col("__is")).as("__cov"))
    perCust
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("__ni")).as("n_islands"),
        round((sum(col("__cov")) / count(lit(1)).cast("double")) /
          lit(86400000000.0), 4).as("mean_covered_days"))
      .coalesce(1).orderBy(col("n_name"))
  }

  // --------------------------------------------------------------- q216

  /** q216 — longest revenue up-streak per nation: the maximal run of
    * consecutive OBSERVED trading days where daily revenue strictly
    * increased — the momentum readout built on q117's gap-and-islands
    * machinery, but the island break is a VALUE comparison (not a
    * calendar gap): islands form wherever a day fails to beat its
    * predecessor (running count of non-up days), streak length counts
    * the up days inside each island, and the winner takes the longest
    * with the earliest end day on ties. Exact integer cents compare —
    * two float-free window passes, both partitioned by nation.
    */
  def upStreakQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__c"))
    val wN = Window.partitionBy(col("n_name")).orderBy(col("day"))
    val flagged = daily
      .withColumn("__up",
        when(col("__c") > lag(col("__c"), 1).over(wN), 1L).otherwise(0L))
      .withColumn("__island",
        sum(lit(1L) - col("__up")).over(
          wN.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val streaks = flagged.groupBy(col("n_name"), col("__island"))
      .agg(sum(col("__up")).as("len"), max(col("day")).as("end_day"))
    val best = streaks.withColumn("__rn", row_number().over(
      Window.partitionBy(col("n_name"))
        .orderBy(col("len").desc, col("end_day"))))
    val nDays = daily.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_days"))
    best.filter(col("__rn") === 1)
      .join(nDays, "n_name")
      .select(col("n_name"), col("n_days"),
        col("len").as("longest_up_streak"),
        col("end_day").cast("string").as("streak_end_day"))
      .coalesce(1).orderBy(col("n_name"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q117_streaks" -> (streakQuery _),
    "q118_concurrency" -> (concurrencyQuery _),
    "q119_conformance" -> (conformanceQuery _),
    "q120_position" -> (positionQuery _),
    "q131_bounce_rate" -> (bounceQuery _),
    "q176_interval_union" -> (intervalUnionQuery _),
    "q216_up_streak" -> (upStreakQuery _))
}

/** DuckDB twins for [[Spans]] (driver correctness gate). */
object SpansOracle {

  val all: Seq[(String, String)] = Seq(
    // identical island arithmetic: day − row_number() per user
    "q117_streaks" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |         day - CAST(row_number() OVER (
        |           PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
        |  FROM active),
        |runs AS (
        |  SELECT user_id, min(day) AS start_day, max(day) AS end_day,
        |         count(*) AS len
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, start_day, end_day, len
        |FROM runs ORDER BY len DESC, user_id, start_day LIMIT 100""".stripMargin,

    // same ±1 deltas, same (t, release-first) sweep order, same per-day max
    "q118_concurrency" ->
      """WITH spans AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id,
        |         min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
        |  FROM events GROUP BY CAST(ts AS DATE), user_id),
        |deltas AS (
        |  SELECT day, s AS t, 1 AS d FROM spans
        |  UNION ALL SELECT day, e + 1 AS t, -1 AS d FROM spans),
        |sweep AS (
        |  SELECT day, sum(d) OVER (
        |    PARTITION BY day ORDER BY t, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM deltas)
        |SELECT day, CAST(max(run) AS BIGINT) AS peak_concurrent,
        |       CAST(count(*) / 2 AS BIGINT) AS n_intervals
        |FROM sweep GROUP BY day ORDER BY day""".stripMargin,

    // six anti-join counts, one audit row
    "q119_conformance" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey)) AS li_no_order,
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                     WHERE l.l_orderkey = o.o_orderkey)) AS order_no_li,
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE c.c_custkey = o.o_custkey)) AS order_no_cust,
        |  (SELECT count(*) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_custkey = c.c_custkey)) AS cust_no_order,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM part p
        |                     WHERE p.p_partkey = l.l_partkey)) AS li_no_part,
        |  (SELECT count(*) FROM part p
        |   WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                     WHERE l.l_partkey = p.p_partkey)) AS part_no_li""".stripMargin,

    // unique (n_chars, doc_id) ordering makes both scores deterministic
    "q120_position" ->
      """WITH scored AS (
        |  SELECT lang, doc_id, n_chars,
        |         round(percent_rank() OVER (
        |           PARTITION BY lang ORDER BY n_chars, doc_id), 6) AS pr,
        |         round(cume_dist() OVER (
        |           PARTITION BY lang ORDER BY n_chars, doc_id), 6) AS cd
        |  FROM documents)
        |SELECT lang, doc_id, n_chars, pr, cd
        |FROM scored WHERE pr >= 0.99
        |ORDER BY lang, pr, doc_id LIMIT 200""".stripMargin,

    // same gap rule, same running-sum session ids; the entry event IS
    // the session's new-session row (exactly one per sid)
    "q131_bounce_rate" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                   > 30 * 60 * 1000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type, new_s,
        |         sum(new_s) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked),
        |per AS (
        |  SELECT user_id, sid,
        |         max(CASE WHEN new_s = 1 THEN event_type END) AS entry_type,
        |         count(*) AS n
        |  FROM sess GROUP BY user_id, sid)
        |SELECT entry_type, count(*) AS n_sessions,
        |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_bounce,
        |       round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) /
        |             CAST(count(*) AS DOUBLE), 6) AS bounce_rate
        |FROM per GROUP BY entry_type ORDER BY entry_type""".stripMargin,

    // identical running-max island windows; integer-µs lengths
    "q176_interval_union" ->
      """WITH iv AS (
        |  SELECT o_custkey, epoch_us(o_orderdate) AS s,
        |         epoch_us(o_orderdate) + 2592000000000 AS e
        |  FROM orders),
        |w AS (
        |  SELECT *, max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS pmax
        |  FROM iv),
        |f AS (
        |  SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
        |           AS nw
        |  FROM w),
        |g AS (
        |  SELECT *, sum(nw) OVER (PARTITION BY o_custkey ORDER BY s, e)
        |           AS isl
        |  FROM f),
        |isd AS (
        |  SELECT o_custkey, isl, min(s) AS si, max(e) AS ei
        |  FROM g GROUP BY o_custkey, isl),
        |pc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS ni,
        |         CAST(sum(ei - si) AS BIGINT) AS cov
        |  FROM isd GROUP BY o_custkey)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(pc.ni) AS BIGINT) AS n_islands,
        |       round((sum(pc.cov) / CAST(count(*) AS DOUBLE)) /
        |             86400000000.0, 4) AS mean_covered_days
        |FROM pc JOIN customer c ON c.c_custkey = pc.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    // same value-break islands, same (len desc, end day) tiebreak
    "q216_up_streak" ->
      """WITH daily AS (
        |  SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
        |         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS c
        |  FROM orders o
        |  JOIN customer cu ON o.o_custkey = cu.c_custkey
        |  JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, CAST(o.o_orderdate AS DATE)),
        |f AS (
        |  SELECT *,
        |    CASE WHEN c > lag(c) OVER (PARTITION BY n_name ORDER BY day)
        |         THEN 1 ELSE 0 END AS up
        |  FROM daily),
        |i AS (
        |  SELECT *, sum(1 - up) OVER (PARTITION BY n_name ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |s AS (
        |  SELECT n_name, island, sum(up) AS len, max(day) AS end_day
        |  FROM i GROUP BY n_name, island),
        |b AS (
        |  SELECT *, row_number() OVER (PARTITION BY n_name
        |    ORDER BY len DESC, end_day) AS rn
        |  FROM s),
        |nd AS (SELECT n_name, count(*) AS n_days FROM daily GROUP BY n_name)
        |SELECT b.n_name, nd.n_days,
        |       CAST(b.len AS BIGINT) AS longest_up_streak,
        |       CAST(b.end_day AS VARCHAR) AS streak_end_day
        |FROM b JOIN nd ON nd.n_name = b.n_name
        |WHERE b.rn = 1 ORDER BY b.n_name""".stripMargin)
}

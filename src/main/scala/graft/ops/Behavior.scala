package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / statistical analytics over event and document streams —
  * sequence mining, value segmentation, seasonal anomaly screening and
  * distribution diagnostics (SURVEY.md §2.3.1 extensions, q95–q98).
  *
  * Scale shapes:
  *  - [[eventTransitions]]: ONE user-key shuffle for the per-user lag;
  *    the transition matrix is |event types|² rows — driver-small.
  *  - [[rfmSegments]]: one customer-key aggregate; the quartile cutoffs
  *    are a 9-value scalar attach (broadcast), never a global sort.
  *  - [[seasonalAnomalies]]: hourly pre-aggregation shrinks the stream
  *    to (type × hours) before any window math; variance comes from
  *    exact integer power sums, so both comparator engines compute the
  *    identical IEEE doubles.
  *  - [[distributionEntropy]]: two keyed aggregates over (group, label)
  *    counts — all algebraic, map-side partials throughout.
  */
object Behavior {

  /** Markov transition counts and probabilities between consecutive
    * per-key events: for each (prev, next) label pair, the number of
    * observed transitions and P(next | prev). The per-key ordering is
    * (tsCol, tieCol) — the tiebreaker keeps lag deterministic under
    * duplicate timestamps. One key shuffle; the output is bounded by
    * |labels|², so the probability window runs over a tiny aggregate.
    */
  def eventTransitions(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      labelCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val counts = df
      .select(col(keyCol), col(labelCol).as("next"), col(tsCol), col(tieCol))
      .withColumn("prev", lag(col("next"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("next"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p",
      round(col("n") / sum(col("n")).over(Window.partitionBy(col("prev"))), 6))
  }

  /** RFM (recency / frequency / monetary) quartile segmentation. Each
    * customer's R/F/M value is bucketed 1..4 by the EXACT interpolated
    * quartiles of the per-customer distribution (bucket = 1 + number of
    * cutoffs strictly below the value — ties fall into the lower
    * bucket, deterministically). The cutoffs are one 9-value scalar row
    * attached by broadcast — no global ntile sort, which is the usual
    * scale-killer in RFM jobs. Monetary sums are rounded to cents
    * before the cutoff comparison so cross-engine accumulation noise
    * (≤1e-9) can never flip a bucket.
    */
  def rfmSegments(
      orders: DataFrame, custCol: String, dateCol: String,
      amountCol: String): DataFrame = {
    val cust = orders.groupBy(col(custCol))
      .agg(max(col(dateCol)).as("__last"),
        count(lit(1)).as("f"),
        round(sum(col(amountCol)), 2).as("m"))
    val gmax = orders.agg(max(col(dateCol)).as("__gmax"))
    val rfm = cust.crossJoin(broadcast(gmax))
      .withColumn("r", datediff(col("__gmax"), col("__last")))
      .drop("__last", "__gmax")
    val cuts = rfm.agg(
      expr("percentile(r, array(0.25, 0.5, 0.75))").as("__rc"),
      expr("percentile(f, array(0.25, 0.5, 0.75))").as("__fc"),
      expr("percentile(m, array(0.25, 0.5, 0.75))").as("__mc"))
    def bucket(v: Column, c: Column): Column =
      lit(1) + (v > c.getItem(0)).cast("int") + (v > c.getItem(1)).cast("int") +
        (v > c.getItem(2)).cast("int")
    rfm.crossJoin(broadcast(cuts))
      .select(col(custCol), col("r"), col("f"), col("m"),
        bucket(col("r"), col("__rc")).as("r_b"),
        bucket(col("f"), col("__fc")).as("f_b"),
        bucket(col("m"), col("__mc")).as("m_b"))
  }

  /** Seasonal (hour-of-day) anomaly screen: per label, hourly event
    * counts are compared against that label's same-hour-of-day
    * baseline; an hour is anomalous when |count − μ| > z·σ. μ and the
    * SAMPLE σ are derived from exact integer power sums (Σc, Σc² are
    * exact longs; the divisions and sqrt are then the same IEEE ops in
    * any engine), so the z comparison is bit-deterministic — the usual
    * streaming-variance accumulation-order noise never enters. Only
    * observed hours participate (no zero-fill): the baseline describes
    * traffic when there IS traffic.
    */
  def seasonalAnomalies(
      df: DataFrame, labelCol: String, tsCol: String, z: Double = 2.0): DataFrame = {
    val hourly = df
      .groupBy(col(labelCol).as("label"), date_trunc("hour", col(tsCol)).as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("hod", hour(col("h")))
    val base = hourly.groupBy(col("label"), col("hod"))
      .agg(sum(col("c")).as("__s"), sum(col("c") * col("c")).as("__s2"),
        count(lit(1)).as("__n"))
      .withColumn("__mu", col("__s").cast("double") / col("__n"))
      .withColumn("__var",
        when(col("__n") > 1,
          (col("__s2").cast("double") - col("__s").cast("double") * col("__mu")) /
            (col("__n") - 1))
          .otherwise(lit(0.0)))
      .withColumn("__sd", sqrt(greatest(col("__var"), lit(0.0))))
    hourly.join(base, Seq("label", "hod"))
      .withColumn("__dev", abs(col("c").cast("double") - col("__mu")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_hours"),
        count(when(col("__sd") > 0 && col("__dev") > lit(z) * col("__sd"), 1))
          .as("n_anomalous"),
        round(max(when(col("__sd") > 0, col("__dev") / col("__sd"))
          .otherwise(lit(0.0))), 3).as("max_z"))
  }

  /** Shannon entropy of a label distribution per group — the standard
    * diversity diagnostic for curation mixes (a source whose language
    * entropy collapses is a source whose scraper broke). Emits per
    * group: row count, distinct labels, entropy in nats and the
    * perplexity exp(H) ("effective number of labels"). Two keyed
    * aggregates; p·ln p terms are summed as doubles (≤1e-12 relative
    * accumulation noise, absorbed by round 6).
    */
  def distributionEntropy(
      df: DataFrame, groupCol: String, labelCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(labelCol))
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_rows"), count(lit(1)).as("n_labels"),
        sum(col("__c") * log(col("__c"))).as("__clnc"))
      .withColumn("entropy",
        round(log(col("n_rows")) - col("__clnc") / col("n_rows"), 6))
      .withColumn("perplexity", round(exp(col("entropy")), 4))
      .drop("__clnc")
  }

  /** Last-touch attribution: each conversion event is credited to the
    * most recent touch event of the same key within `lookbackSeconds`
    * (inclusive on both the conversion instant and the window edge);
    * conversions with no touch in window credit to `"none"`. Touches
    * are pre-collapsed to one row per (key, instant) — max label wins,
    * deterministically — because "the" last touch is ambiguous under
    * same-instant duplicates in any engine. The lookup is ONE as-of
    * join (single key shuffle via [[AsOfJoin]]), never a conversion ×
    * touch range join.
    */
  def lastTouchAttribution(
      events: DataFrame, keyCol: String, tsCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String], valueCol: String,
      lookbackSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty, "no touch types given")
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .groupBy(col(keyCol), col(tsCol))
      .agg(max(col(typeCol)).as("__ch"))
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(keyCol), col(tsCol), col(valueCol))
    AsOfJoin(conv, touches, Seq(keyCol), tsCol, tsCol, Seq("__ch" -> "__ch"),
        direction = "backward", toleranceSeconds = Some(lookbackSeconds))
      .withColumn("channel", coalesce(col("__ch"), lit("none")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col(valueCol)), 2).as("attributed_value"))
  }

  // ---------------------------------------------------------------- q95

  /** q95 — event-type Markov transition matrix over the event stream:
    * per-user consecutive (prev → next) pairs, ordered by (ts,
    * event_id) so duplicate timestamps cannot reorder the chain, with
    * conditional transition probabilities. The |types|²-row result is
    * the input to any session-simulation or next-action model.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitions(Tables.load(spark, dir, "events"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id", labelCol = "event_type")
      .coalesce(1).orderBy(col("prev"), col("next"))

  // ---------------------------------------------------------------- q96

  /** q96 — RFM quartile segments of the order file: per-customer
    * recency/frequency/monetary, quartile-bucketed, then segment-level
    * population and value stats. 4³ = 64 possible segments.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame =
    rfmSegments(Tables.load(spark, dir, "orders"),
        custCol = "o_custkey", dateCol = "o_orderdate", amountCol = "o_totalprice")
      .groupBy(col("r_b"), col("f_b"), col("m_b"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("m")), 2).as("sum_m"))
      .coalesce(1).orderBy(col("r_b"), col("f_b"), col("m_b"))

  // ---------------------------------------------------------------- q97

  /** q97 — hour-of-day seasonal anomaly screen over the event stream:
    * per event type, how many observed hours deviate from their
    * same-hour baseline by more than 2σ, and the worst z observed.
    */
  def anomalies(spark: SparkSession, dir: String): DataFrame =
    seasonalAnomalies(Tables.load(spark, dir, "events"),
        labelCol = "event_type", tsCol = "ts", z = 2.0)
      .coalesce(1).orderBy(col("label"))

  // ---------------------------------------------------------------- q98

  /** q98 — language-mix entropy per document source: the diversity
    * collapse detector for the curation mix.
    */
  def entropy(spark: SparkSession, dir: String): DataFrame =
    distributionEntropy(Tables.load(spark, dir, "documents"),
        groupCol = "source", labelCol = "lang")
      .coalesce(1).orderBy(col("source"))

  /** Two-sample proportion z-test per stratum — the A/B-test readout:
    * for each group, trials and successes per variant, the two
    * conversion rates, and the pooled-SE z statistic with a
    * significance flag at the given critical value. All counts are
    * exact integers, so the rate/SE/z arithmetic is the same IEEE
    * sequence in any engine; a zero pooled SE (all-success or
    * all-failure strata) yields a null z and `significant = false`,
    * deterministically. One (group, variant) aggregate — map-side
    * partials, no shuffle beyond it.
    */
  def abTest(
      df: DataFrame, groupCol: String, variantCol: String, successCol: String,
      zCrit: Double = 1.96): DataFrame = {
    val per = df.groupBy(col(groupCol), col(variantCol).as("__v"))
      .agg(count(lit(1)).as("__n"),
        count(when(col(successCol), 1)).as("__c"))
    val wide = per.groupBy(col(groupCol))
      .agg(
        sum(when(col("__v") === 0, col("__n"))).as("n_a"),
        sum(when(col("__v") === 0, col("__c"))).as("c_a"),
        sum(when(col("__v") === 1, col("__n"))).as("n_b"),
        sum(when(col("__v") === 1, col("__c"))).as("c_b"))
    val pa = col("c_a").cast("double") / col("n_a")
    val pb = col("c_b").cast("double") / col("n_b")
    val pp = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val z = when(se > 0, (pa - pb) / se)
    wide
      .withColumn("rate_a", round(pa, 6))
      .withColumn("rate_b", round(pb, 6))
      .withColumn("z_stat", round(z, 4))
      .withColumn("significant", coalesce(abs(z) > zCrit, lit(false)))
  }

  // --------------------------------------------------------------- q100

  /** q100 — last-touch purchase attribution: every purchase credited
    * to the user's most recent click or view within the prior 24 h
    * (or "none"), channel-level conversion counts and value.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame =
    lastTouchAttribution(Tables.load(spark, dir, "events"),
        keyCol = "user_id", tsCol = "ts", typeCol = "event_type",
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        valueCol = "value", lookbackSeconds = 24 * 3600L)
      .coalesce(1).orderBy(col("channel"))

  // --------------------------------------------------------------- q101

  /** q101 — top-3 TF-IDF keywords for every document: the per-doc
    * summarization surface over the corpus vocabulary.
    */
  def keywords(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.keywordExtract(
        Tables.load(spark, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc"), col("rk"))

  // --------------------------------------------------------------- q105

  /** q105 — A/B readout over purchase events: variant = event_id
    * parity (the deterministic stand-in for an assignment column),
    * success = value above 50, stratified by priority-less event
    * "surface" (the props.k parity as a 2-stratum drill). The nontrivial
    * strata make the z pipeline exercise both significant and
    * not-significant rows at test scale.
    */
  def abTestQuery(spark: SparkSession, dir: String): DataFrame =
    abTest(
        Tables.load(spark, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(
            (get_json_object(col("props"), "$.k").cast("long") % 2).as("stratum"),
            (col("event_id") % 2).as("variant"),
            (col("value") > 50.0).as("success")),
        groupCol = "stratum", variantCol = "variant", successCol = "success")
      .coalesce(1).orderBy(col("stratum"))

  // --------------------------------------------------------------- q106

  /** q106 — conversion-latency distribution: per user, hours from
    * first signup to the first purchase AT OR AFTER it; exact
    * interpolated percentiles of that latency plus the converted-user
    * count. The per-user reduce is one key shuffle; the percentile is
    * over the user-cardinality latency vector.
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("s_us"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    val lat = su.join(pu, "user_id")
      .filter(col("p_us") >= col("s_us"))
      .groupBy(col("user_id"), col("s_us")).agg(min(col("p_us")).as("first_p"))
      .select(((col("first_p") - col("s_us")) / lit(3600000000.0)).as("h"))
    lat.agg(
      count(lit(1)).as("n_converted"),
      round(expr("percentile(h, 0.5)"), 4).as("p50_hours"),
      round(expr("percentile(h, 0.9)"), 4).as("p90_hours"),
      round(max(col("h")), 4).as("max_hours"))
  }

  // --------------------------------------------------------------- q141

  /** q141 — user-lifetime survival curve: for each horizon t ∈ 0..30
    * days, how many users' observed lifetimes (last day − first day)
    * reach at least t, and their share of all users — the retention
    * complement-CDF read at exact integer day grain (no censoring
    * model: the corpus window is fixed, and the curve is a statement
    * about OBSERVED lifetimes, stated as such). One user-key
    * aggregate, then a ≤31-row bounded explode — never a user×horizon
    * join. All counts exact; one final division.
    */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val life = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .as("__lt"))
    val tot = life.agg(count(lit(1)).as("__t"))
    life
      .withColumn("t", explode(sequence(lit(0), least(col("__lt"), lit(30)))))
      .groupBy(col("t")).agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("t"), col("n_users"),
        round(col("n_users") / col("__t").cast("double"), 6).as("share"))
      .coalesce(1).orderBy(col("t"))
  }

  // --------------------------------------------------------------- q151

  /** q151 — audience overlap matrix: for each unordered pair of event
    * types, the distinct-user audience sizes, the exact intersection
    * and the Jaccard overlap — "do purchasers also open errors"
    * audience algebra, exact by inclusion over the deduped
    * (user, type) incidence table. One distinct pass, then a per-user
    * self-pairing whose fan-out is bounded by C(|types|, 2) per user
    * (≤ 15 at 6 types — NEVER user×user), and a broadcast attach of
    * the |types|-row size table. Pairs with empty intersection are
    * absent by construction in both engines. */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__sz"))
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("__sz", "n_a")), Seq("type_a"))
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("__sz", "n_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"))
      .coalesce(1).orderBy(col("type_a"), col("type_b"))
  }

  // --------------------------------------------------------------- q155

  /** q155 — propensity calibration deciles: customers binned into ten
    * equal-count balance bands per market segment (ntile over the
    * total order (cents, custkey) — identical bucket assignment both
    * engines), each band reporting its conversion rate (share of
    * customers with ≥1 order) and exact dollar band boundaries — the
    * calibration-curve readout that says whether account balance
    * monotonically predicts purchase propensity. Exact integer
    * counts/boundaries; one division per band. Group-parallel sort
    * (the q121/q146 posture). */
  def calibrationQuery(spark: SparkSession, dir: String): DataFrame = {
    val conv = Tables.load(spark, dir, "orders")
      .select(col("o_custkey")).distinct().withColumn("__conv", lit(1L))
    val rows = Tables.load(spark, dir, "customer")
      .join(conv, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("__cents"),
        col("c_custkey"), coalesce(col("__conv"), lit(0L)).as("__c"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("__cents"), col("c_custkey"))
    rows.withColumn("decile", ntile(10).over(w))
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("__c")).as("n_converted"),
        min(col("__cents")).as("__lo"), max(col("__cents")).as("__hi"))
      .select(col("c_mktsegment"), col("decile"), col("n_customers"),
        col("n_converted"),
        round(col("n_converted") / col("n_customers").cast("double"), 6)
          .as("conv_rate"),
        round(col("__lo") / lit(100.0), 2).as("lo_balance"),
        round(col("__hi") / lit(100.0), 2).as("hi_balance"))
      .coalesce(1).orderBy(col("c_mktsegment"), col("decile"))
  }

  // --------------------------------------------------------------- q157

  /** q157 — new-vs-returning daily actives: per day, distinct active
    * users split into first-ever-seen ("new") and returning, with the
    * new share — the growth-accounting readout on the events stream.
    * One (user, day) dedup + a window min over the user partition (no
    * self-join back to a firsts table); per-day rows out. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.load(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val first = Window.partitionBy(col("user_id"))
    ud.withColumn("__first", min(col("day")).over(first))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("__first"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        round(col("n_new") / col("n_active").cast("double"), 6)
          .as("new_share"))
      .coalesce(1).orderBy(col("day"))
  }

  // --------------------------------------------------------------- q163

  /** q163 — top session paths: q11's 30-minute-gap sessionization,
    * each session rendered as its first five event types joined with
    * '>' in deterministic (ts, event_id) order, then the 20 most
    * common paths — the navigation-pattern miner. The first-5 slice
    * happens inside the per-session list aggregate (sort → slice →
    * join), so the plan is ONE user-key window shuffle plus the
    * (user, session) aggregate with map-side partials — no second
    * row_number window over the sub-partition (which would force an
    * extra exchange on (user, sid)). Path-bounded final aggregate,
    * global top-20 via TakeOrdered.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    Tables.load(spark, dir, "events")
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev")) > gapUs, 1)
          .otherwise(0))
      .withColumn("__sid", sum(col("__brk")).over(w))
      .groupBy(col("user_id"), col("__sid"))
      .agg(array_join(
        transform(
          slice(sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))), 1, 5),
          s => s.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  // --------------------------------------------------------------- q168

  /** q168 — customer value-quartile migration matrix: each customer's
    * total order value in 1996 and 1997 quartile-banded per year
    * (ntile over the total order (cents, custkey) — identical band
    * assignment both engines), customers active in both years joined
    * on key, and the 4×4 (from, to) matrix with row-normalized
    * shares — the rank-churn readout behind "are our big spenders
    * still big next year". Plan: one (customer, year) aggregate, two
    * year-partitioned ntile sorts, one customer-key self-join, a
    * 16-row matrix with a broadcast row-total attach.
    */
  def quartileMigration(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("__y"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__v"))
    val w = Window.partitionBy(col("__y")).orderBy(col("__v"), col("o_custkey"))
    val banded = per.withColumn("__q", ntile(4).over(w))
    val from = banded.filter(col("__y") === 1996)
      .select(col("o_custkey").as("__k"), col("__q").as("q_from"))
    val to = banded.filter(col("__y") === 1997)
      .select(col("o_custkey").as("__k2"), col("__q").as("q_to"))
    val m = from.join(to, col("__k") === col("__k2"))
      .groupBy(col("q_from"), col("q_to")).agg(count(lit(1)).as("n_customers"))
    val rowTot = m.groupBy(col("q_from").as("__f"))
      .agg(sum(col("n_customers")).as("__rt"))
    m.join(broadcast(rowTot), col("q_from") === col("__f"))
      .select(col("q_from"), col("q_to"), col("n_customers"),
        round(col("n_customers") / col("__rt").cast("double"), 6).as("share"))
      .coalesce(1).orderBy(col("q_from"), col("q_to"))
  }

  // --------------------------------------------------------------- q173

  /** q173 — year-over-year revenue bridge: each 1996/1997-active
    * customer classified as new / churned / expanded / contracted /
    * flat, with per-(nation, class) customer counts and the exact
    * revenue delta each class contributes — the growth-accounting
    * "waterfall" that explains WHERE a topline change came from (the
    * class deltas sum to the nation's total YoY change by
    * construction). Presence flags (not zero-value sentinels) decide
    * new/churned, so a hypothetical zero-revenue year can never be
    * misclassified. All cents-exact; one (customer, year) aggregate,
    * one customer-key self-join + customer/nation attach;
    * nation×class-bounded output.
    */
  def revenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.load(spark, dir, "orders")
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("__y"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__v"))
    val a = per.filter(col("__y") === 1996)
      .select(col("o_custkey").as("__ka"), col("__v").as("__va"))
    val b = per.filter(col("__y") === 1997)
      .select(col("o_custkey").as("__kb"), col("__v").as("__vb"))
    val classed = a.join(b, col("__ka") === col("__kb"), "full_outer")
      .select(coalesce(col("__ka"), col("__kb")).as("__ck"),
        col("__ka").isNotNull.as("__in96"), col("__kb").isNotNull.as("__in97"),
        coalesce(col("__va"), lit(0L)).as("__v96"),
        coalesce(col("__vb"), lit(0L)).as("__v97"))
      .withColumn("class",
        when(!col("__in96"), "new")
          .when(!col("__in97"), "churned")
          .when(col("__v97") > col("__v96"), "expanded")
          .when(col("__v97") < col("__v96"), "contracted")
          .otherwise("flat"))
    classed
      .join(Tables.load(spark, dir, "customer"),
        col("__ck") === col("c_custkey"))
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("class"))
      .agg(count(lit(1)).as("n_customers"),
        round((sum(col("__v97")) - sum(col("__v96"))) / lit(100.0), 2)
          .as("delta"))
      .coalesce(1).orderBy(col("n_name"), col("class"))
  }

  // --------------------------------------------------------------- q175

  /** q175 — kept-anchor debounce (notification throttle): per user,
    * keep an event only if it is ≥ 7 days after the last KEPT event —
    * the anchor advances only on keeps, which is NOT expressible as a
    * lag window (a chain of sub-threshold gaps must stay suppressed;
    * gap-based lag debounce would re-admit the third event of a
    * 0/3/6-day chain). Engine: one user-key shuffle, then the
    * codegen'd `aggregate` HOF scans each user's sorted sequence with
    * (anchor, kept-list) state — the q80 funnel idiom. The DuckDB
    * oracle replays the same semantics with a RECURSIVE CTE (each
    * step: the earliest event ≥ anchor + 7 d per user), a genuinely
    * different evaluation strategy — scan ≡ fixpoint is the gate.
    * Kept events are classified by type through the (user, ts) join
    * with a first-by-event_id rule, so duplicate timestamps cannot
    * diverge. Output: per event type, raw vs kept counts + kept
    * share.
    */
  /** Kept events under a kept-anchor debounce: one row per (key,
    * tu, tag) the scan keeps. One key shuffle; the HOF scan carries
    * (anchor, kept-list) state per key. Duplicate-timestamp rows sort
    * on `ordCol` so the FIRST one is the kept representative. */
  def debounce(df: DataFrame, keyCol: String, tuCol: String,
      ordCol: String, tagCol: String, windowUs: Long): DataFrame =
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tuCol).as("tu"),
        col(ordCol).as("o"), col(tagCol).as("et")))).as("__seq"))
      .withColumn("__kept", aggregate(
        col("__seq"),
        struct(lit(null).cast("long").as("anchor"),
          array().cast("array<struct<tu:bigint,et:string>>").as("ks")),
        (s, x) => when(
          s.getField("anchor").isNull ||
            x.getField("tu") >= s.getField("anchor") + windowUs,
          struct(x.getField("tu").as("anchor"),
            concat(s.getField("ks"),
              array(struct(x.getField("tu").as("tu"),
                x.getField("et").as("et")))).as("ks")))
          .otherwise(s),
        s => s.getField("ks")))
      .select(col(keyCol), explode(col("__kept")).as("__k"))
      .select(col(keyCol), col("__k.tu").as("tu"), col("__k.et").as("tag"))

  def debounceQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("__tu"),
        col("event_id"), col("event_type"))
    val kept = debounce(ev, "user_id", "__tu", "event_id", "event_type",
        windowUs = 7L * 86400 * 1000 * 1000)
      .groupBy(col("tag").as("event_type"))
      .agg(count(lit(1)).as("n_kept"))
    val raw = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_raw"))
    raw.join(kept, Seq("event_type"))
      .select(col("event_type"), col("n_raw"), col("n_kept"),
        round(col("n_kept") / col("n_raw").cast("double"), 6)
          .as("kept_share"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- q186

  /** q186 — time-decayed engagement mass: each event contributes
    * value·0.5^(age_days/30) where age is measured back from the
    * corpus's last event day — the recency-weighted feature a ranking
    * or sampling pipeline reads instead of a raw sum. The anchor is a
    * 1-row aggregate broadcast into the scan (no window over
    * unpartitioned data); per-type totals then aggregate ~half-lives
    * deep. Decayed doubles sum order-dependently, so output rounds to
    * 4 (the q103 EWMA convention); weights and ages are exact integer
    * day arithmetic before the single pow().
    */
  def decayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val anchor = ev.agg(max(to_date(col("ts"))).as("__anchor"))
    ev.crossJoin(broadcast(anchor))
      .select(col("event_type"),
        (col("value") * pow(lit(0.5),
          datediff(col("__anchor"), to_date(col("ts"))).cast("double") / 30.0))
          .as("__dv"),
        col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("__dv")), 4).as("decayed_mass"),
        round(sum(col("__dv")) / sum(col("value")), 6).as("retention_ratio"))
      .coalesce(1).orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- q193

  /** q193 — multi-touch attribution under three credit models at once:
    * each purchase distributes credit across the same user's
    * click/view touches in the trailing 7 days — equally (linear),
    * by 1-day-half-life recency (time_decay), or entirely to the
    * latest touch (last_touch, event_id tiebreak); touchless
    * purchases credit "(none)". One user-key range join bounded by
    * the lookback (the q39 band shape), one conversion-grain window,
    * then a (model × touch_type) rollup — the side-by-side a
    * marketing team uses to see how model choice moves budget. Credit
    * fractions are per-conversion-normalized doubles; totals round 4
    * (the q186 convention).
    */
  def multiTouchQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val lookUs = 7L * 86400L * 1000000L
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("__u"), col("event_id").as("__cid"),
        unix_micros(col("ts")).as("__cts"),
        round(col("value") * 100).cast("long").as("__cents"))
    val touch = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("__tu"), col("event_id").as("__tid"),
        col("event_type").as("touch_type"), unix_micros(col("ts")).as("__tts"))
    val joined = conv.join(touch,
      col("__u") === col("__tu") && col("__tts") <= col("__cts") &&
        col("__cts") - col("__tts") <= lookUs, "left")
    val wConv = Window.partitionBy(col("__cid"))
    val scored = joined
      .withColumn("__n", count(col("__tid")).over(wConv))
      .withColumn("__w", pow(lit(0.5),
        (col("__cts") - col("__tts")).cast("double") / 86400000000.0))
      .withColumn("__wsum", sum(col("__w")).over(wConv))
      .withColumn("__latest",
        max(struct(col("__tts"), col("__tid"))).over(wConv))
    def rollup(model: String, credit: Column): DataFrame = scored
      .withColumn("__c", credit)
      .groupBy(coalesce(col("touch_type"), lit("(none)")).as("touch_type"))
      .agg(round(sum(col("__c")), 4).as("credited_conversions"),
        round(sum(col("__c") * col("__cents")) / 100.0, 2)
          .as("credited_revenue"))
      .withColumn("model", lit(model))
    val linear = rollup("linear",
      when(col("__tid").isNull, lit(1.0)).otherwise(lit(1.0) / col("__n")))
    val decay = rollup("time_decay",
      when(col("__tid").isNull, lit(1.0))
        .otherwise(col("__w") / col("__wsum")))
    val last = rollup("last_touch",
      when(col("__tid").isNull, lit(1.0))
        .otherwise((col("__latest.__tts") === col("__tts") &&
          col("__latest.__tid") === col("__tid")).cast("double")))
    linear.unionByName(decay).unionByName(last)
      .select(col("model"), col("touch_type"), col("credited_conversions"),
        col("credited_revenue"))
      .coalesce(1).orderBy(col("model"), col("touch_type"))
  }

  // --------------------------------------------------------------- q194

  /** q194 — discrete churn hazard by tenure week: among users who
    * survived ≥ w weeks, the probability of churning in week w
    * (churn = last activity ≥ 14 days before the corpus horizon;
    * later-active users are censored, counted at risk but never as
    * events — the Kaplan-Meier discrete-hazard convention). At-risk
    * counts come from a reverse cumulative sum over the ≤|weeks|-row
    * tenure aggregate; survival is the running product Π(1−h) via
    * exp∘Σln over a deterministic ROWS window. One user-key aggregate
    * touches the fact data; everything after is week-grain.
    */
  def hazardQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val anchor = ev.agg(max(to_date(col("ts"))).as("__a"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("__f"), max(to_date(col("ts"))).as("__l"))
      .crossJoin(broadcast(anchor))
      .select(floor(datediff(col("__l"), col("__f")) / 7).as("__w"),
        (datediff(col("__a"), col("__l")) >= 14).cast("long").as("__churned"))
    val byWeek = users.groupBy(col("__w"))
      .agg(count(lit(1)).as("__n"), sum(col("__churned")).as("n_churned"))
    val wOrd = Window.orderBy(col("__w"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byWeek
      .withColumn("n_at_risk",
        sum(col("__n")).over(wOrd.rowsBetween(
          Window.currentRow, Window.unboundedFollowing)))
      .withColumn("__h", col("n_churned") / col("n_at_risk").cast("double"))
      // a terminal hazard of 1 would put ln(0) into the running sum —
      // contribute 0 there and pin survival to 0 instead
      .withColumn("survival",
        round(exp(sum(when(col("__h") < 1.0, log(lit(1.0) - col("__h")))
          .otherwise(lit(0.0))).over(wRun)), 6))
      .select(col("__w").as("tenure_week"), col("n_at_risk"),
        col("n_churned"), round(col("__h"), 6).as("hazard"),
        when(col("__h") < 1.0, col("survival")).otherwise(lit(0.0))
          .as("survival"))
      .coalesce(1).orderBy(col("tenure_week"))
  }

  // --------------------------------------------------------------- q204

  /** q204 — cohort LTV curve: users grouped by first-seen day, each
    * cohort's CUMULATIVE purchase revenue per member tracked across
    * cohort age in days — the "how fast does a cohort pay back"
    * readout on top of q81's activity retention. Revenue is exact
    * cents; the (cohort, age) grid is bounded by the corpus day span
    * squared / 2 (never user×age — users aggregate to their cohort
    * before the cumulative window); per-member LTV is computed by
    * exact integer FLOOR division to 10⁻⁴-dollar units first (a
    * float division then round(…, 4) lands on .5 boundaries whenever
    * cents·100/size terminates at the 5th decimal — caught live at
    * sf0.01 — and the two engines round the binary double
    * differently), then ONE exact long→double scaling. Ages with no
    * purchases still appear when any purchase happens later
    * (cumulative is over OBSERVED ages — stated, and matched in the
    * oracle).
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val sizes = first.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("__d"),
        round(col("value") * 100).cast("long").as("__c"))
      .join(first, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("__d"), col("cohort_day")).as("age_days"))
      .agg(sum(col("__c")).as("__cents"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("age_days"))
    rev
      .withColumn("__cum", sum(col("__cents")).over(w))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day").cast("string").as("cohort_day"),
        col("age_days"), col("cohort_users"),
        round(col("__cents") / 100.0, 2).as("revenue"),
        (expr("(__cum * 100) div cohort_users") / lit(10000.0))
          .as("cum_ltv"))
      .coalesce(1).orderBy(col("cohort_day"), col("age_days"))
  }

  // --------------------------------------------------------------- q218

  /** q218 — placebo difference-in-differences: a deterministic A/A
    * user split (the q58 hash mixer, salt 99 — NO real treatment
    * exists) crossed with the integer-µs timeline midpoint (the q93
    * convention), DiD = (T,post − T,pre) − (C,post − C,pre) on mean
    * purchase value. The experiment-machinery validation every
    * platform runs BEFORE trusting a real readout: on an A/A split
    * the estimate must sit at ~0, and because all four cell means are
    * exact 10⁻⁴-cent floor divisions, the DiD estimate itself is an
    * EXACT integer difference — the oracle gate pins the whole
    * causal-inference plumbing end to end. One aggregate pass over
    * purchases; 4 cells + 1 estimate row out.
    */
  def didQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("__us"),
        round(col("value") * 100).cast("long").as("__c"))
    val mid = ev.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
    val cells = ev.crossJoin(broadcast(mid))
      .withColumn("grp",
        when(pmod(Curation.mixedKey(col("user_id"), 99L), lit(2L)) === 1,
          "treatment").otherwise("control"))
      .withColumn("period",
        when(col("__us") > col("__mid"), "post").otherwise("pre"))
      .groupBy(col("grp"), col("period"))
      .agg(count(lit(1)).as("n"), sum(col("__c")).as("__s"))
      .withColumn("__m_e4",
        expr("(__s div n) * 10000 + ((__s % n) * 10000) div n"))
    def cell(g: String, p: String) =
      sum(when(col("grp") === g && col("period") === p, col("__m_e4")))
    val did = cells.agg(
      cell("treatment", "post").as("__tp"), cell("treatment", "pre").as("__tr"),
      cell("control", "post").as("__cp"), cell("control", "pre").as("__cr"))
      .select(lit("did_estimate").as("grp"), lit("a/a").as("period"),
        lit(null).cast("long").as("n"),
        ((col("__tp") - col("__tr") - (col("__cp") - col("__cr"))) /
          lit(10000.0)).as("mean_value"))
    cells.select(col("grp"), col("period"), col("n"),
        (col("__m_e4") / lit(10000.0)).as("mean_value"))
      .unionAll(did)
      .coalesce(1).orderBy(col("grp"), col("period"))
  }

  // --------------------------------------------------------------- q229

  /** q229 — count-model overdispersion per market segment: the
    * orders-per-customer distribution's dispersion index σ²/μ and the
    * method-of-moments negative-binomial size r̂ = μ²/(σ²−μ) — the
    * "is Poisson even plausible" gate (dispersion ≈ 1) before any
    * count regression, and the r̂ that parameterizes the NB when it
    * is not (null when underdispersed — the NB does not exist there,
    * stated rather than NaN'd). Customers with zero orders COUNT as
    * zeros (left join — dropping them biases μ up), POPULATION
    * variance ((n·Σk² − (Σk)²)/n²) via exact decimal power sums —
    * the MoM plug-in estimator; at this grain the n vs n−1
    * distinction is negligible — finals as fixed closed-form
    * doubles. One customer-grain aggregate, |segments| rows.
    */
  def overdispersionQuery(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(count(col("o_orderkey")).as("k"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = perCust.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(d38(col("k"))).as("__s"),
        sum(d38(col("k") * col("k"))).as("__q"))
    val mu = col("__s").cast("double") / col("n").cast("double")
    val varPop = (col("n") * col("__q") - col("__s") * col("__s"))
      .cast("double") / (col("n").cast("double") * col("n").cast("double"))
    m.select(col("c_mktsegment"), col("n").as("n_customers"),
        round(mu, 6).as("mean_orders"),
        round(varPop, 6).as("var_orders"),
        round(varPop / mu, 6).as("dispersion"),
        when(varPop > mu, round(mu * mu / (varPop - mu), 6)).as("nb_size"))
      .coalesce(1).orderBy(col("c_mktsegment"))
  }

  // --------------------------------------------------------------- q234

  /** q234 — Markov next-event predictor readout: for each previous
    * event type, the argmax next state (the 1-step predictor q95's
    * transition matrix implies), its confidence, and the in-sample
    * accuracy contribution max_next c(prev,next)/Σc — all exact
    * integer counts, one division per row, ties broken on the next
    * state's name. The per-state accuracy column makes the GLOBAL
    * predictor accuracy Σ max / Σ total recoverable exactly from the
    * output (pinned in BehaviorSpec) — the baseline any sequence
    * model must beat before it earns deployment.
    */
  def markovPredictorQuery(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type").as("next"), col("ts"),
        col("event_id"))
      .withColumn("prev", lag(col("next"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    val best = trans.withColumn("__rn", row_number().over(
      Window.partitionBy(col("prev"))
        .orderBy(col("n").desc, col("next"))))
    val totals = trans.groupBy(col("prev")).agg(sum(col("n")).as("n_from"))
    best.filter(col("__rn") === 1)
      .join(totals, "prev")
      .select(col("prev"), col("n_from"),
        col("next").as("predicted"),
        col("n").as("n_hits"),
        round(col("n").cast("double") / col("n_from"), 6).as("confidence"))
      .coalesce(1).orderBy(col("prev"))
  }

  // --------------------------------------------------------------- q235

  /** q235 — ROC AUC of account balance as a conversion score, per
    * market segment: AUC = P(score_converter > score_non) + ½·ties,
    * computed EXACTLY via the q142 doubled-midrank trick — Σ(2·mr)
    * over converters is an integer, U₂ = Σ2mr_pos − n₊(n₊+1) is an
    * integer, AUC = U₂/(2·n₊·n₋) is ONE division. The
    * model-evaluation primitive (identical to the Mann–Whitney
    * statistic, reframed for scoring) — 0.5 means the balance carries
    * no ranking signal. One segment-partitioned rank window, no
    * pos×neg pair join.
    */
  def aucQuery(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("bal"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("pos"))
    val w = Window.partitionBy(col("seg")).orderBy(col("bal"))
    val wt = Window.partitionBy(col("seg"), col("bal"))
    val ranked = labeled.withColumn("__m2",
      lit(2) * rank().over(w) + count(lit(1)).over(wt) - 1)
    ranked.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"),
        sum(col("pos")).as("__np"),
        sum(when(col("pos") === 1, col("__m2")).otherwise(0L)).as("__sp"))
      .filter(col("__np") > 0 && col("__np") < col("n"))
      .select(col("seg"), col("n").as("n_customers"),
        col("__np").as("n_converters"),
        round((col("__sp") - col("__np") * (col("__np") + 1)).cast("double") /
          (lit(2) * col("__np") * (col("n") - col("__np"))).cast("double"), 6)
          .as("auc"))
      .coalesce(1).orderBy(col("seg"))
  }

  // --------------------------------------------------------------- q236

  /** q236 — expected calibration error of the balance-percentile
    * score: score = percent_rank of balance within segment (exact
    * (rank−1)/(N−1) integers), binned into ntile(10) confidence
    * bands; ECE = Σ (n_b/N)·|conv_b − mean-score_b| plus the max band
    * gap — the reliability-diagram summary q155's decile table feeds.
    * Per-bin means reduce to exact integer sums ((Σrank − n_b) over
    * (N−1)·n_b); the 10-term weighted fold is a float sum rounded to
    * 6 dp (the q183 convention).
    */
  def eceQuery(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("bal"),
        col("c_custkey").as("ck"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("pos"))
    val w = Window.partitionBy(col("seg")).orderBy(col("bal"), col("ck"))
    val binned = labeled
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("seg"))))
      .withColumn("__bin", ntile(10).over(w))
    val bins = binned.groupBy(col("seg"), col("__bin"))
      .agg(count(lit(1)).as("nb"), sum(col("pos")).as("pb"),
        sum(col("__r") - 1).as("sr"), max(col("__n")).as("n"))
      .withColumn("__conv", col("pb").cast("double") / col("nb"))
      .withColumn("__ms", col("sr").cast("double") /
        ((col("n") - 1) * col("nb")).cast("double"))
    bins.groupBy(col("seg"))
      .agg(max(col("n")).as("n_customers"),
        round(sum((col("nb").cast("double") / col("n")) *
          abs(col("__conv") - col("__ms"))), 6).as("ece"),
        round(max(abs(col("__conv") - col("__ms"))), 6).as("max_gap"))
      .coalesce(1).orderBy(col("seg"))
  }

  // --------------------------------------------------------------- q237

  /** q237 — gains table / lift chart: customers ranked by balance
    * DESCENDING in ntile(10) targeting deciles; per decile the
    * converter count, cumulative captured share of all converters
    * (exact integer ratio) and the lift vs the segment base rate
    * (exact counts, one closed-form double) — the campaign-targeting
    * readout: "mail the top 2 deciles, capture X% of converters".
    * Cumulative capture is monotone by construction (spec-pinned).
    */
  def gainsQuery(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100).cast("long").as("bal"),
        col("c_custkey").as("ck"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("pos"))
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("bal").desc, col("ck"))
    val bins = labeled.withColumn("decile", ntile(10).over(w))
      .groupBy(col("seg"), col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("converters"))
    val wCum = Window.partitionBy(col("seg")).orderBy(col("decile"))
    val wTot = Window.partitionBy(col("seg"))
    bins
      .withColumn("__cum", sum(col("converters")).over(wCum))
      .withColumn("__tp", sum(col("converters")).over(wTot))
      .withColumn("__tn", sum(col("n")).over(wTot))
      .select(col("seg"), col("decile"), col("n"), col("converters"),
        round(col("__cum").cast("double") / col("__tp"), 6)
          .as("cum_capture"),
        round((col("converters").cast("double") / col("n")) /
          (col("__tp").cast("double") / col("__tn")), 6).as("lift"))
      .coalesce(1).orderBy(col("seg"), col("decile"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q95_transitions" -> (transitions _),
    "q96_rfm_segments" -> (rfm _),
    "q97_seasonal_anomaly" -> (anomalies _),
    "q98_source_entropy" -> (entropy _),
    "q100_attribution" -> (attribution _),
    "q101_keywords" -> (keywords _),
    "q105_ab_test" -> (abTestQuery _),
    "q106_conversion_latency" -> (conversionLatency _),
    "q141_survival_curve" -> (survivalCurve _),
    "q151_audience_overlap" -> (audienceOverlap _),
    "q155_calibration" -> (calibrationQuery _),
    "q157_new_returning" -> (newVsReturning _),
    "q163_session_paths" -> (sessionPaths _),
    "q168_quartile_migration" -> (quartileMigration _),
    "q173_revenue_bridge" -> (revenueBridge _),
    "q175_debounce" -> (debounceQuery _),
    "q186_decayed_engagement" -> (decayedEngagement _),
    "q193_multi_touch" -> (multiTouchQuery _),
    "q194_churn_hazard" -> (hazardQuery _),
    "q204_cohort_ltv" -> (cohortLtv _),
    "q218_did_placebo" -> (didQuery _),
    "q229_overdispersion" -> (overdispersionQuery _),
    "q234_markov_predictor" -> (markovPredictorQuery _),
    "q235_auc" -> (aucQuery _),
    "q236_ece" -> (eceQuery _),
    "q237_gains" -> (gainsQuery _))
}

/** DuckDB twins for [[Behavior]] (driver correctness gate). */
object BehaviorOracle {

  val all: Seq[(String, String)] = Seq(
    // per-user lag chain with the same (ts, event_id) tiebreak
    "q95_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS next,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev, next, count(*) AS n,
        |       round(count(*) / sum(count(*)) OVER (PARTITION BY prev), 6) AS p
        |FROM s WHERE prev IS NOT NULL
        |GROUP BY prev, next ORDER BY prev, next""".stripMargin,

    // identical strict-> bucket rule against interpolated quartiles;
    // monetary rounded to cents BEFORE cutoffs on both sides
    "q96_rfm_segments" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |         date_diff('day', CAST(max(o_orderdate) AS DATE),
        |           (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS r,
        |         count(*) AS f,
        |         round(sum(o_totalprice), 2) AS m
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (
        |  SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS rc,
        |         quantile_cont(f, [0.25, 0.5, 0.75]) AS fc,
        |         quantile_cont(m, [0.25, 0.5, 0.75]) AS mc
        |  FROM cust),
        |seg AS (
        |  SELECT m,
        |    1 + CAST(r > rc[1] AS INT) + CAST(r > rc[2] AS INT) + CAST(r > rc[3] AS INT) AS r_b,
        |    1 + CAST(f > fc[1] AS INT) + CAST(f > fc[2] AS INT) + CAST(f > fc[3] AS INT) AS f_b,
        |    1 + CAST(m > mc[1] AS INT) + CAST(m > mc[2] AS INT) + CAST(m > mc[3] AS INT) AS m_b
        |  FROM cust, cuts)
        |SELECT r_b, f_b, m_b, count(*) AS n_cust, round(sum(m), 2) AS sum_m
        |FROM seg GROUP BY r_b, f_b, m_b ORDER BY r_b, f_b, m_b""".stripMargin,

    // exact integer power sums -> identical IEEE mu/sd on both engines
    "q97_seasonal_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type AS label, date_trunc('hour', ts) AS h, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |hh AS (SELECT label, h, c, CAST(extract(hour FROM h) AS INT) AS hod FROM hourly),
        |base AS (
        |  SELECT label, hod, sum(c) AS s, sum(c * c) AS s2, count(*) AS n
        |  FROM hh GROUP BY label, hod),
        |bb AS (
        |  SELECT label, hod,
        |         CAST(s AS DOUBLE) / n AS mu,
        |         sqrt(greatest(CASE WHEN n > 1
        |           THEN (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / n)) / (n - 1)
        |           ELSE 0.0 END, 0.0)) AS sd
        |  FROM base),
        |j AS (
        |  SELECT hh.label, abs(CAST(c AS DOUBLE) - mu) AS dev, sd
        |  FROM hh JOIN bb ON hh.label = bb.label AND hh.hod = bb.hod)
        |SELECT label, count(*) AS n_hours,
        |       count(CASE WHEN sd > 0 AND dev > 2.0 * sd THEN 1 END) AS n_anomalous,
        |       round(max(CASE WHEN sd > 0 THEN dev / sd ELSE 0.0 END), 3) AS max_z
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    // H = ln(n) - (sum c*ln c)/n — same algebraic form both engines
    "q98_source_entropy" ->
      """WITH counts AS (
        |  SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang),
        |g AS (
        |  -- BIGINT, not DuckDB's HUGEINT sum: pandas renders HUGEINT as
        |  -- float64 ("25.0"), which hash-mismatches Spark's long
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_labels,
        |         sum(c * ln(c)) AS clnc
        |  FROM counts GROUP BY source)
        |SELECT source, n_rows, n_labels,
        |       round(ln(n_rows) - clnc / n_rows, 6) AS entropy,
        |       round(exp(round(ln(n_rows) - clnc / n_rows, 6)), 4) AS perplexity
        |FROM g ORDER BY source""".stripMargin,

    // min-chain replay of the as-of-with-tolerance lookup, pandas
    // merge_asof semantics exactly as AsOfJoin implements them: the
    // match is THE latest touch at or before the purchase (arg_max
    // over the unbounded past — an in-window earlier touch does NOT
    // substitute when the latest one is stale), and the 24h tolerance
    // is evaluated on SECONDS-truncated instants (AsOfJoin casts
    // timestamps to long seconds before differencing)
    "q100_attribution" ->
      """WITH touches AS (
        |  SELECT user_id, ts, max(event_type) AS ch
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id, ts),
        |p AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT p.event_id, any_value(p.value) AS value, any_value(p.ts) AS pts,
        |         arg_max(t.ch, t.ts) AS ch, max(t.ts) AS mts
        |  FROM p LEFT JOIN touches t ON t.user_id = p.user_id AND t.ts <= p.ts
        |  GROUP BY p.event_id)
        |SELECT CASE WHEN mts IS NOT NULL
        |            AND (epoch_us(pts) // 1000000) - (epoch_us(mts) // 1000000) <= 86400
        |            THEN ch ELSE 'none' END AS channel,
        |       count(*) AS n_conversions,
        |       round(sum(value), 2) AS attributed_value
        |FROM m GROUP BY 1 ORDER BY channel""".stripMargin,

    // same ln(N/df)+1 idf as the engine; ties break on the term string
    "q101_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc, term, count(*) AS tf FROM tok WHERE length(term) > 0 GROUP BY doc, term),
        |idf AS (
        |  SELECT term, ln((SELECT count(*) FROM documents) * 1.0 / count(*)) + 1 AS idf
        |  FROM tf GROUP BY term),
        |s AS (
        |  SELECT doc, term, tf.tf * idf.idf AS score,
        |         row_number() OVER (PARTITION BY doc ORDER BY tf.tf * idf.idf DESC, term) AS rk
        |  FROM tf JOIN idf USING (term))
        |SELECT doc, rk, term, round(score, 6) AS score
        |FROM s WHERE rk <= 3 ORDER BY doc, rk""".stripMargin,

    // identical pooled-SE z arithmetic from exact integer counts; the
    // significance test uses the UNROUNDED z on both sides
    "q105_ab_test" ->
      """WITH t AS (
        |  SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 2 AS stratum,
        |         event_id % 2 AS v, (value > 50.0) AS succ
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT stratum,
        |         count(CASE WHEN v = 0 THEN 1 END) AS n_a,
        |         count(CASE WHEN v = 0 AND succ THEN 1 END) AS c_a,
        |         count(CASE WHEN v = 1 THEN 1 END) AS n_b,
        |         count(CASE WHEN v = 1 AND succ THEN 1 END) AS c_b
        |  FROM t GROUP BY stratum),
        |s AS (
        |  SELECT *,
        |         CAST(c_a AS DOUBLE) / n_a AS pa,
        |         CAST(c_b AS DOUBLE) / n_b AS pb,
        |         CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pp
        |  FROM w),
        |z AS (
        |  SELECT *, sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)) AS se FROM s)
        |SELECT stratum, n_a, c_a, n_b, c_b,
        |       round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
        |       CASE WHEN se > 0 THEN round((pa - pb) / se, 4) END AS z_stat,
        |       coalesce(CASE WHEN se > 0 THEN abs((pa - pb) / se) > 1.96 END, false)
        |         AS significant
        |FROM z ORDER BY stratum""".stripMargin,

    // first-signup → first-subsequent-purchase latency distribution
    "q106_conversion_latency" ->
      """WITH su AS (
        |  SELECT user_id, min(epoch_us(ts)) AS s_us
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |fp AS (
        |  SELECT su.user_id, su.s_us, min(epoch_us(e.ts)) AS first_p
        |  FROM su JOIN events e
        |    ON e.user_id = su.user_id AND e.event_type = 'purchase'
        |   AND epoch_us(e.ts) >= su.s_us
        |  GROUP BY su.user_id, su.s_us),
        |lat AS (SELECT (first_p - s_us) / 3600000000.0 AS h FROM fp)
        |SELECT count(*) AS n_converted,
        |       round(quantile_cont(h, 0.5), 4) AS p50_hours,
        |       round(quantile_cont(h, 0.9), 4) AS p90_hours,
        |       round(max(h), 4) AS max_hours
        |FROM lat""".stripMargin,

    // observed lifetime per user in whole days; curve = complement CDF
    // via the same ≤31-step bounded expansion
    "q141_survival_curve" ->
      """WITH life AS (
        |  SELECT user_id,
        |         date_diff('day', min(CAST(ts AS DATE)),
        |                   max(CAST(ts AS DATE))) AS lt
        |  FROM events GROUP BY user_id),
        |tot AS (SELECT count(*) AS t FROM life),
        |s AS (
        |  SELECT unnest(generate_series(0, least(lt, 30))) AS t FROM life)
        |SELECT s.t, CAST(count(*) AS BIGINT) AS n_users,
        |       round(count(*) / CAST(tot.t AS DOUBLE), 6) AS share
        |FROM s CROSS JOIN tot GROUP BY s.t, tot.t
        |ORDER BY s.t""".stripMargin,

    // same deduped incidence table, per-user self-pairing, exact
    // inclusion counts; one double division per pair row
    "q151_audience_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM ut GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b, p.n_both,
        |       round(p.n_both /
        |             CAST(sa.n + sb.n - p.n_both AS DOUBLE), 6) AS jaccard
        |FROM pairs p
        |JOIN sz sa ON sa.event_type = p.type_a
        |JOIN sz sb ON sb.event_type = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    // identical total order (cents, custkey) -> identical ntile bands;
    // exact counts/boundaries, one division per band
    "q155_calibration" ->
      """WITH conv AS (SELECT DISTINCT o_custkey FROM orders),
        |rows0 AS (
        |  SELECT c.c_mktsegment,
        |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents,
        |         c.c_custkey,
        |         CASE WHEN v.o_custkey IS NULL THEN 0 ELSE 1 END AS cv
        |  FROM customer c LEFT JOIN conv v ON v.o_custkey = c.c_custkey),
        |b AS (
        |  SELECT c_mktsegment,
        |         ntile(10) OVER (PARTITION BY c_mktsegment
        |                         ORDER BY cents, c_custkey) AS decile,
        |         cents, cv
        |  FROM rows0)
        |SELECT c_mktsegment, decile,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(cv) AS BIGINT) AS n_converted,
        |       round(sum(cv) / CAST(count(*) AS DOUBLE), 6) AS conv_rate,
        |       round(min(cents) / 100.0, 2) AS lo_balance,
        |       round(max(cents) / 100.0, 2) AS hi_balance
        |FROM b GROUP BY c_mktsegment, decile
        |ORDER BY c_mktsegment, decile""".stripMargin,

    // same (user, day) dedup + window-min first day; exact counts
    "q157_new_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (
        |  SELECT user_id, day,
        |         min(day) OVER (PARTITION BY user_id) AS fd
        |  FROM ud)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_new,
        |       CAST(count(*) -
        |            sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_returning,
        |       round(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) /
        |             CAST(count(*) AS DOUBLE), 6) AS new_share
        |FROM f GROUP BY day ORDER BY day""".stripMargin,

    // q11's 30-min gap rule; first-5 slice via rn; ordered string_agg
    "q163_session_paths" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS sid
        |  FROM g),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |                               ORDER BY ts, event_id) AS rn
        |  FROM s),
        |p AS (
        |  SELECT user_id, sid,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id, sid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    // identical total order (cents, custkey) -> identical ntile bands;
    // row-normalized shares from exact counts
    "q168_quartile_migration" ->
      """WITH per AS (
        |  SELECT o_custkey, year(o_orderdate) AS y,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY o_custkey, year(o_orderdate)),
        |b AS (
        |  SELECT o_custkey, y,
        |         ntile(4) OVER (PARTITION BY y ORDER BY v, o_custkey) AS q
        |  FROM per),
        |m AS (
        |  SELECT f.q AS q_from, t.q AS q_to, CAST(count(*) AS BIGINT) AS n_customers
        |  FROM b f JOIN b t ON t.o_custkey = f.o_custkey
        |  WHERE f.y = 1996 AND t.y = 1997
        |  GROUP BY f.q, t.q),
        |rt AS (SELECT q_from, sum(n_customers) AS tot FROM m GROUP BY q_from)
        |SELECT m.q_from, m.q_to, m.n_customers,
        |       round(m.n_customers / CAST(rt.tot AS DOUBLE), 6) AS share
        |FROM m JOIN rt ON rt.q_from = m.q_from
        |ORDER BY m.q_from, m.q_to""".stripMargin,

    // same presence-flag classification; exact cent deltas
    "q173_revenue_bridge" ->
      """WITH per AS (
        |  SELECT o_custkey, year(o_orderdate) AS y,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY o_custkey, year(o_orderdate)),
        |a AS (SELECT o_custkey AS ka, v AS va FROM per WHERE y = 1996),
        |b AS (SELECT o_custkey AS kb, v AS vb FROM per WHERE y = 1997),
        |cl AS (
        |  SELECT coalesce(ka, kb) AS ck,
        |         coalesce(va, 0) AS v96, coalesce(vb, 0) AS v97,
        |         CASE WHEN ka IS NULL THEN 'new'
        |              WHEN kb IS NULL THEN 'churned'
        |              WHEN coalesce(vb, 0) > coalesce(va, 0) THEN 'expanded'
        |              WHEN coalesce(vb, 0) < coalesce(va, 0) THEN 'contracted'
        |              ELSE 'flat' END AS class
        |  FROM a FULL OUTER JOIN b ON b.kb = a.ka)
        |SELECT n.n_name, cl.class, CAST(count(*) AS BIGINT) AS n_customers,
        |       round((sum(cl.v97) - sum(cl.v96)) / 100.0, 2) AS delta
        |FROM cl
        |JOIN customer c ON c.c_custkey = cl.ck
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |GROUP BY n.n_name, cl.class
        |ORDER BY n.n_name, cl.class""".stripMargin,

    // DELIBERATELY a different evaluation strategy: the kept-anchor
    // fixpoint as a RECURSIVE CTE (earliest event >= anchor + 7d per
    // step); the engine's sequential scan must equal it
    "q175_debounce" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id AS u, event_id AS eid, event_type AS et,
        |         epoch_us(ts) AS tu
        |  FROM events),
        |kept AS (
        |  SELECT u, min(tu) AS tu FROM ev GROUP BY u
        |  UNION ALL
        |  SELECT e.u, min(e.tu) AS tu
        |  FROM kept k JOIN ev e
        |    ON e.u = k.u AND e.tu >= k.tu + 604800000000
        |  GROUP BY e.u),
        |kd AS (SELECT DISTINCT u, tu FROM kept),
        |cls AS (
        |  SELECT kd.u, kd.tu, first(e.et ORDER BY e.eid) AS et
        |  FROM kd JOIN ev e ON e.u = kd.u AND e.tu = kd.tu
        |  GROUP BY kd.u, kd.tu),
        |kc AS (
        |  SELECT et AS event_type, CAST(count(*) AS BIGINT) AS n_kept
        |  FROM cls GROUP BY et),
        |rw AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_raw
        |  FROM events GROUP BY event_type)
        |SELECT rw.event_type, rw.n_raw, kc.n_kept,
        |       round(kc.n_kept / CAST(rw.n_raw AS DOUBLE), 6) AS kept_share
        |FROM rw JOIN kc ON kc.event_type = rw.event_type
        |ORDER BY rw.event_type""".stripMargin,

    // same scalar anchor, same exact-day ages, same 0.5^(age/30) weight
    "q186_decayed_engagement" ->
      """WITH anchor AS (
        |  SELECT max(CAST(ts AS DATE)) AS a FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value * power(0.5,
        |         date_diff('day', CAST(ts AS DATE), (SELECT a FROM anchor))
        |           / 30.0)), 4) AS decayed_mass,
        |       round(sum(value * power(0.5,
        |         date_diff('day', CAST(ts AS DATE), (SELECT a FROM anchor))
        |           / 30.0)) / sum(value), 6) AS retention_ratio
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same bounded range join, same per-conversion normalization, same
    // (ts, event_id) latest-touch rule
    "q193_multi_touch" ->
      """WITH conv AS (
        |  SELECT user_id AS u, event_id AS cid, epoch_us(ts) AS cts,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id AS tu, event_id AS tid, event_type AS touch_type,
        |         epoch_us(ts) AS tts
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (
        |  SELECT conv.*, touch.tid, touch.touch_type, touch.tts
        |  FROM conv LEFT JOIN touch
        |    ON touch.tu = conv.u AND touch.tts <= conv.cts
        |   AND conv.cts - touch.tts <= CAST(7 AS BIGINT) * 86400 * 1000000),
        |scored AS (
        |  SELECT *,
        |         count(tid) OVER (PARTITION BY cid) AS n,
        |         power(0.5, (cts - tts) / 86400000000.0) AS w,
        |         sum(power(0.5, (cts - tts) / 86400000000.0))
        |           OVER (PARTITION BY cid) AS wsum,
        |         max(row(tts, tid)) OVER (PARTITION BY cid) AS latest
        |  FROM j),
        |m AS (
        |  SELECT 'linear' AS model, coalesce(touch_type, '(none)') AS touch_type,
        |         CASE WHEN tid IS NULL THEN 1.0 ELSE 1.0 / n END AS c, cents
        |  FROM scored
        |  UNION ALL
        |  SELECT 'time_decay', coalesce(touch_type, '(none)'),
        |         CASE WHEN tid IS NULL THEN 1.0 ELSE w / wsum END, cents
        |  FROM scored
        |  UNION ALL
        |  SELECT 'last_touch', coalesce(touch_type, '(none)'),
        |         CASE WHEN tid IS NULL THEN 1.0
        |              WHEN latest = row(tts, tid) THEN 1.0 ELSE 0.0 END, cents
        |  FROM scored)
        |SELECT model, touch_type,
        |       round(sum(c), 4) AS credited_conversions,
        |       round(sum(c * cents) / 100.0, 2) AS credited_revenue
        |FROM m GROUP BY model, touch_type
        |ORDER BY model, touch_type""".stripMargin,

    // same censoring rule, same reverse-cumulative at-risk counts,
    // same exp-sum-ln running survival with the ln(0) guard
    "q194_churn_hazard" ->
      """WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS a FROM events),
        |users AS (
        |  SELECT CAST(floor(date_diff('day', min(CAST(ts AS DATE)),
        |                    max(CAST(ts AS DATE))) / 7) AS BIGINT) AS w,
        |         CASE WHEN date_diff('day', max(CAST(ts AS DATE)),
        |                    (SELECT a FROM anchor)) >= 14
        |              THEN 1 ELSE 0 END AS churned
        |  FROM events GROUP BY user_id),
        |byweek AS (
        |  SELECT w, count(*) AS n, CAST(sum(churned) AS BIGINT) AS n_churned
        |  FROM users GROUP BY w),
        |risk AS (
        |  SELECT w, n_churned,
        |         sum(n) OVER (ORDER BY w
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |           AS n_at_risk
        |  FROM byweek),
        |h AS (
        |  SELECT w, n_at_risk, n_churned,
        |         n_churned / CAST(n_at_risk AS DOUBLE) AS hz
        |  FROM risk)
        |SELECT w AS tenure_week, CAST(n_at_risk AS BIGINT) AS n_at_risk,
        |       n_churned, round(hz, 6) AS hazard,
        |       CASE WHEN hz < 1.0
        |            THEN round(exp(sum(CASE WHEN hz < 1.0 THEN ln(1.0 - hz)
        |                                    ELSE 0.0 END)
        |              OVER (ORDER BY w
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |            ELSE 0.0 END AS survival
        |FROM h ORDER BY tenure_week""".stripMargin,

    // same exact-cents revenue grid, same cumulative window over
    // observed ages, same 100·size division shape
    "q204_cohort_ltv" ->
      """WITH first AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY user_id),
        |sizes AS (
        |  SELECT cohort_day, count(*) AS cohort_users
        |  FROM first GROUP BY cohort_day),
        |rev AS (
        |  SELECT f.cohort_day,
        |         CAST(e.ts AS DATE) - f.cohort_day AS age_days,
        |         sum(CAST(round(e.value * 100) AS BIGINT)) AS cents
        |  FROM events e JOIN first f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY f.cohort_day, CAST(e.ts AS DATE) - f.cohort_day),
        |c AS (
        |  SELECT *, sum(cents) OVER (PARTITION BY cohort_day
        |    ORDER BY age_days) AS cum
        |  FROM rev)
        |SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day, c.age_days,
        |       s.cohort_users,
        |       round(c.cents / 100.0, 2) AS revenue,
        |       CAST((c.cum * 100) // s.cohort_users AS DOUBLE) / 10000.0
        |         AS cum_ltv
        |FROM c JOIN sizes s ON s.cohort_day = c.cohort_day
        |ORDER BY cohort_day, age_days""".stripMargin,

    // same mixer split, same integer-µs midpoint, same exact-e4 cells
    "q218_did_placebo" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS m FROM ev),
        |cells AS (
        |  SELECT CASE WHEN ((((user_id % 1000003) * 2654435761
        |                + (user_id >> 16) * 7919 + 99 * 10007)
        |               % 1000000007) * 2654435761) % 1000000007 % 2 = 1
        |              THEN 'treatment' ELSE 'control' END AS grp,
        |         CASE WHEN us > mid.m THEN 'post' ELSE 'pre' END AS period,
        |         c
        |  FROM ev, mid),
        |agg AS (
        |  SELECT grp, period, count(*) AS n, sum(c) AS s,
        |         (sum(c) // count(*)) * 10000
        |           + ((sum(c) % count(*)) * 10000) // count(*) AS m_e4
        |  FROM cells GROUP BY grp, period),
        |did AS (
        |  SELECT 'did_estimate' AS grp, 'a/a' AS period,
        |         CAST(NULL AS BIGINT) AS n,
        |         (sum(CASE WHEN grp = 'treatment' AND period = 'post'
        |                   THEN m_e4 END)
        |          - sum(CASE WHEN grp = 'treatment' AND period = 'pre'
        |                     THEN m_e4 END)
        |          - (sum(CASE WHEN grp = 'control' AND period = 'post'
        |                      THEN m_e4 END)
        |             - sum(CASE WHEN grp = 'control' AND period = 'pre'
        |                        THEN m_e4 END))) / 10000.0 AS mean_value
        |  FROM agg)
        |SELECT grp, period, n, m_e4 / 10000.0 AS mean_value FROM agg
        |UNION ALL
        |SELECT grp, period, n, mean_value FROM did
        |ORDER BY grp, period""".stripMargin,

    // same zero-inclusive counts, same exact power sums and closed
    // population-variance / NB-size forms
    "q229_overdispersion" ->
      """WITH pc AS (
        |  SELECT c.c_mktsegment, c.c_custkey,
        |         count(o.o_orderkey) AS k
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_mktsegment, c.c_custkey),
        |m AS (
        |  SELECT c_mktsegment, count(*) AS n,
        |         sum(CAST(k AS DECIMAL(38,0))) AS s,
        |         sum(CAST(k * k AS DECIMAL(38,0))) AS q
        |  FROM pc GROUP BY c_mktsegment),
        |f AS (
        |  SELECT c_mktsegment, n,
        |         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |         CAST(n * q - s * s AS DOUBLE) /
        |           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS v
        |  FROM m)
        |SELECT c_mktsegment, n AS n_customers,
        |       round(mu, 6) AS mean_orders,
        |       round(v, 6) AS var_orders,
        |       round(v / mu, 6) AS dispersion,
        |       CASE WHEN v > mu THEN round(mu * mu / (v - mu), 6) END
        |         AS nb_size
        |FROM f ORDER BY c_mktsegment""".stripMargin,

    // same deterministic-order transitions, same (count desc, name)
    // argmax
    "q234_markov_predictor" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS next, ts, event_id,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |trans AS (
        |  SELECT prev, next, count(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, next),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY prev
        |    ORDER BY n DESC, next) AS rn
        |  FROM trans),
        |tot AS (
        |  SELECT prev, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM trans GROUP BY prev)
        |SELECT b.prev, t.n_from, b.next AS predicted, b.n AS n_hits,
        |       round(CAST(b.n AS DOUBLE) / t.n_from, 6) AS confidence
        |FROM best b JOIN tot t ON t.prev = b.prev
        |WHERE b.rn = 1 ORDER BY b.prev""".stripMargin,

    // same doubled midranks, same one-division AUC
    "q235_auc" ->
      """WITH lab AS (
        |  SELECT c.c_mktsegment AS seg,
        |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
        |         CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS pos
        |  FROM customer c LEFT JOIN
        |    (SELECT DISTINCT o_custkey FROM orders
        |     WHERE year(o_orderdate) = 1997) o
        |    ON c.c_custkey = o.o_custkey),
        |r AS (
        |  SELECT seg, pos,
        |         2 * rank() OVER (PARTITION BY seg ORDER BY bal) +
        |           count(*) OVER (PARTITION BY seg, bal) - 1 AS m2
        |  FROM lab),
        |g AS (
        |  SELECT seg, count(*) AS n,
        |         CAST(sum(pos) AS BIGINT) AS np,
        |         CAST(sum(CASE WHEN pos = 1 THEN m2 ELSE 0 END) AS BIGINT)
        |           AS sp
        |  FROM r GROUP BY seg)
        |SELECT seg, n AS n_customers, np AS n_converters,
        |       round(CAST(sp - np * (np + 1) AS DOUBLE) /
        |             CAST(2 * np * (n - np) AS DOUBLE), 6) AS auc
        |FROM g WHERE np > 0 AND np < n ORDER BY seg""".stripMargin,

    // same exact percent-rank sums, same 10-band weighted fold
    "q236_ece" ->
      """WITH lab AS (
        |  SELECT c.c_mktsegment AS seg,
        |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
        |         c.c_custkey AS ck,
        |         CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS pos
        |  FROM customer c LEFT JOIN
        |    (SELECT DISTINCT o_custkey FROM orders
        |     WHERE year(o_orderdate) = 1997) o
        |    ON c.c_custkey = o.o_custkey),
        |r AS (
        |  SELECT seg, pos,
        |         row_number() OVER (PARTITION BY seg ORDER BY bal, ck) AS rr,
        |         count(*) OVER (PARTITION BY seg) AS n,
        |         ntile(10) OVER (PARTITION BY seg ORDER BY bal, ck) AS bin
        |  FROM lab),
        |b AS (
        |  SELECT seg, bin, count(*) AS nb,
        |         CAST(sum(pos) AS BIGINT) AS pb,
        |         CAST(sum(rr - 1) AS BIGINT) AS sr,
        |         max(n) AS n
        |  FROM r GROUP BY seg, bin),
        |f AS (
        |  SELECT seg, nb, n,
        |         CAST(pb AS DOUBLE) / nb AS conv,
        |         CAST(sr AS DOUBLE) / CAST((n - 1) * nb AS DOUBLE) AS ms
        |  FROM b)
        |SELECT seg, CAST(max(n) AS BIGINT) AS n_customers,
        |       round(sum((CAST(nb AS DOUBLE) / n) * abs(conv - ms)), 6)
        |         AS ece,
        |       round(max(abs(conv - ms)), 6) AS max_gap
        |FROM f GROUP BY seg ORDER BY seg""".stripMargin,

    // same descending ntile deciles, same exact cumulative capture
    "q237_gains" ->
      """WITH lab AS (
        |  SELECT c.c_mktsegment AS seg,
        |         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
        |         c.c_custkey AS ck,
        |         CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS pos
        |  FROM customer c LEFT JOIN
        |    (SELECT DISTINCT o_custkey FROM orders
        |     WHERE year(o_orderdate) = 1997) o
        |    ON c.c_custkey = o.o_custkey),
        |b AS (
        |  SELECT seg,
        |         ntile(10) OVER (PARTITION BY seg ORDER BY bal DESC, ck)
        |           AS decile,
        |         pos
        |  FROM lab),
        |g AS (
        |  SELECT seg, decile, count(*) AS n,
        |         CAST(sum(pos) AS BIGINT) AS converters
        |  FROM b GROUP BY seg, decile),
        |w AS (
        |  SELECT *,
        |         sum(converters) OVER (PARTITION BY seg
        |           ORDER BY decile) AS cum,
        |         sum(converters) OVER (PARTITION BY seg) AS tp,
        |         sum(n) OVER (PARTITION BY seg) AS tn
        |  FROM g)
        |SELECT seg, decile, n, converters,
        |       round(CAST(cum AS DOUBLE) / tp, 6) AS cum_capture,
        |       round((CAST(converters AS DOUBLE) / n) /
        |             (CAST(tp AS DOUBLE) / tn), 6) AS lift
        |FROM w ORDER BY seg, decile""".stripMargin)
}

package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hand-computable pins for the sequential-statistics family
  * (q113–q116): CUSUM change-points, autocorrelation, path trigrams,
  * winsorized means. */
class DriftSpec extends SparkSpec {

  import spark.implicits._

  private def d(i: Int) =
    java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))

  test("cusum: a level shift peaks the cusum at the shift boundary") {
    initQuiet()
    // 5 days at 10 then 5 days at 20: mean 15, deviations -5×5 then +5×5;
    // C_t bottoms at -25 exactly on the last low day (day 4)
    val df = ((0 until 5).map(i => ("a", d(i), 10L)) ++
      (5 until 10).map(i => ("a", d(i), 20L))).toDF("k", "day", "c")
    val out = Drift.cusumChangepoints(df, "k", "day", "c").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getDate(1).toString == d(4).toString) // cp at the boundary
    assert(r.getLong(2) == 10L)                    // n_periods
    assert(r.getDouble(3) == 25.0)                 // max |cusum|
    // σ = 5, n = 10 → stat = 25 / (5·√10) = √10/2
    assert(math.abs(r.getDouble(4) - math.sqrt(10.0) / 2) < 1e-4)
  }

  test("cusum: constant series has zero cusum and null stat (σ = 0)") {
    initQuiet()
    val df = (0 until 6).map(i => ("c", d(i), 7L)).toDF("k", "day", "c")
    val r = Drift.cusumChangepoints(df, "k", "day", "c").collect().head
    assert(r.getDouble(3) == 0.0)
    assert(r.isNullAt(4))
  }

  test("acf: perfect alternation gives r1 = -1, r2 = +1 as pairs allow") {
    initQuiet()
    // 0,2,0,2,... over 8 days: lag-1 pairs anti-correlate exactly on
    // this balanced series? r1 = Σ(x-μ)(y-μ)/den with edge effects —
    // pin the exact closed form instead of the asymptotic -1:
    // n=8, μ=1, den=8; lag1: 7 pairs each (x-1)(y-1) = -1 → r1 = -7/8
    // lag2: 6 pairs each +1 → r2 = 6/8
    val df = (0 until 8).map(i => ("a", d(i), (i % 2 * 2).toLong)).toDF("k", "day", "c")
    val out = Drift.acf(df, "k", "day", "c", maxLag = 2)
      .collect().map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(1) == ((7L, -0.875)))
    assert(out(2) == ((6L, 0.75)))
  }

  test("acf: gaps in the grid only pair existing periods") {
    initQuiet()
    // days 0,1,3: lag-1 pairs only (0,1); lag-2 pairs only (1,3)
    val df = Seq(("a", d(0), 1L), ("a", d(1), 2L), ("a", d(3), 4L))
      .toDF("k", "day", "c")
    val out = Drift.acf(df, "k", "day", "c", maxLag = 2)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(out == Map(1 -> 1L, 2 -> 1L))
  }

  test("trigrams: ordered windows per entity, counts and shares") {
    initQuiet()
    // user 1: A B C D → ABC, BCD ; user 2: A B C → ABC
    val df = Seq((1L, 1L, 1L, "A"), (1L, 2L, 2L, "B"), (1L, 3L, 3L, "C"),
      (1L, 4L, 4L, "D"), (2L, 1L, 5L, "A"), (2L, 2L, 6L, "B"), (2L, 3L, 7L, "C"))
      .toDF("u", "sec", "id", "t")
      .select(col("u"), timestamp_seconds(col("sec")).as("ts"), col("id"), col("t"))
    val out = Drift.pathTrigrams(df, "u", "ts", "id", "t")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    assert(out(("A", "B", "C")) == ((2L, 0.666667)))
    assert(out(("B", "C", "D")) == ((1L, 0.333333)))
    assert(out.size == 2)
  }

  test("trigrams: ties on ts break on the tie column, never nondeterministic") {
    initQuiet()
    val df = Seq((1L, 1L, 2L, "B"), (1L, 1L, 1L, "A"), (1L, 1L, 3L, "C"))
      .toDF("u", "sec", "id", "t")
      .select(col("u"), timestamp_seconds(col("sec")).as("ts"), col("id"), col("t"))
    val out = Drift.pathTrigrams(df, "u", "ts", "id", "t").collect()
    assert(out.length == 1)
    assert((out.head.getString(0), out.head.getString(1), out.head.getString(2))
      == (("A", "B", "C")))
  }

  test("winsorize: tails clamp to the percentile cuts, interior unchanged") {
    initQuiet()
    // 1..9 and one 1000.00 outlier: p05 of [100..900,100000] cents
    // (n=10, type-7: h=0.45) = 145 → 1.45 ; p95 (h=8.55) =
    // 900 + 0.55·99100 = 55405 → 554.05
    val df = ((1 to 9).map(i => ("g", i * 1.0)) :+ (("g", 1000.0)))
      .toDF("k", "v")
    val r = Drift.winsorizedMeans(df, "k", "v", 0.05, 0.95).collect().head
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 1.45)   // lo_cut
    assert(r.getDouble(3) == 554.05) // hi_cut
    assert(r.getLong(6) == 1L)       // n_clip_lo (the 1.00)
    assert(r.getLong(7) == 1L)       // n_clip_hi (the 1000.00)
    // winsorized sum: 145 + (200..900) + 55405 = 145+4400+55405 = 59950
    assert(r.getDouble(5) == 59.95)
    // raw mean: (4500 + 100000) / 10 / 100
    assert(r.getDouble(4) == 104.5)
  }

  test("percentile mode switch: q133 Scalable regime is value-identical to Exact; q116 sketch regime stays within tolerance") {
    initQuiet()
    // q133 weighted percentiles — BOTH regimes pinned against each
    // other: the cumulative-window form mirrors the holistic
    // percentile's interpolation formula, so at 4-decimal rounding
    // the outputs must be identical row-for-row
    def rows(df: DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val exact = rows(Drift.weightedMedian(spark, sf, holistic = true))
    val scal = rows(Drift.weightedMedian(spark, sf, holistic = false))
    assert(exact == scal, s"regimes diverged:\n$exact\n$scal")
    // the public query resolves to the holistic regime at test sf
    // (rows ≪ HolisticWeightedMaxRows, cents grid ≪ 4M distinct)
    assert(rows(Drift.weightedMedianQuery(spark, sf)) == exact)

    // q116 winsorize — the sketch regime approximates the CUTS but
    // keeps exact clamp arithmetic; at accuracy 10000 over ~1500
    // orders the cuts land within a tight band of the exact ones
    val orders = graft.Tables.load(spark, sf, "orders")
    def w(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> r).toMap
    val we = w(Drift.winsorizedMeansWith(orders, "o_orderpriority", "o_totalprice",
      0.05, 0.95, holistic = true))
    val ws = w(Drift.winsorizedMeansWith(orders, "o_orderpriority", "o_totalprice",
      0.05, 0.95, holistic = false))
    assert(we.keySet == ws.keySet)
    // and the public call resolves to the holistic regime at test sf
    assert(w(Drift.winsorizedMeans(orders, "o_orderpriority", "o_totalprice",
      0.05, 0.95)) == we)
    we.foreach { case (k, e) =>
      val s = ws(k)
      assert(e.getLong(1) == s.getLong(1)) // n identical
      assert(math.abs(e.getDouble(5) - s.getDouble(5)) <=
        0.02 * math.abs(e.getDouble(5)) + 1.0,
        s"$k: winsorized mean drifted: exact=${e.getDouble(5)} sketch=${s.getDouble(5)}")
    }
  }

  test("freshness: staleness in exact hours, 7d/28d rate-decay ratio") {
    initQuiet()
    // type 'a': events today and 30h ago; type 'b': last seen 10 days
    // back, active in the prior-28 window only
    def t(daysBack: Int, hour: Int) =
      java.time.LocalDate.of(2024, 3, 1).minusDays(daysBack)
        .atTime(hour, 0).toInstant(java.time.ZoneOffset.UTC)
    val rows = Seq(
      ("a", t(0, 12)), ("a", t(1, 6)),              // stale 0h; n7 = 2
      ("b", t(10, 12)), ("b", t(20, 12)), ("b", t(30, 12))) // n7=0, n28=3
    val df = rows.map { case (k, i) => (k, java.sql.Timestamp.from(i)) }
      .toDF("event_type", "ts")
    // route through a temp parquet so Tables.load sees it — instead,
    // call the aggregate logic directly via a local copy of the query
    // shape: reuse freshnessQuery is corpus-bound, so pin the math here
    val gmax = df.agg(max(col("ts")).as("__gm"),
      max(to_date(col("ts"))).as("__gd"))
    val out = df.crossJoin(broadcast(gmax))
      .withColumn("__back", datediff(col("__gd"), to_date(col("ts"))))
      .groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_seen"), first(col("__gm")).as("__m"),
        sum(when(col("__back").between(0, 6), 1L).otherwise(0L)).as("n7"),
        sum(when(col("__back").between(7, 34), 1L).otherwise(0L)).as("n28"))
      .select(col("event_type"),
        round((unix_micros(col("__m")) - unix_micros(col("last_seen"))) /
          lit(3600.0e6), 4).as("stale_h"),
        col("n7"), col("n28"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") == ((0.0, 2L, 0L)))
    assert(out("b") == ((240.0, 0L, 3L))) // 10 days = 240 h
  }

  test("gap buckets: length(bin(g))-1 is exactly floor(log2) on longs") {
    initQuiet()
    val df = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1048575L, 1048576L).toDF("g")
    val out = df.select(col("g"), (length(bin(col("g"))) - 1).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 7L -> 2, 8L -> 3,
      1048575L -> 19, 1048576L -> 20))
  }

  test("rolling corr: the closed co-moment form on a hand fixture") {
    initQuiet()
    // x = 1..7, y = 2x: perfect linear dependence → corr7 = 1.0
    // (window of exactly 7 rows; zero-variance guard not triggered)
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 7).map(i => ("a", d(i), (i + 1).toLong, (2 * i + 2).toLong))
      .toDF("k", "day", "x", "y")
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    val out = df
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sx2", sum(col("x") * col("x")).over(w))
      .withColumn("sy2", sum(col("y") * col("y")).over(w))
      .filter(col("n") === 7)
      .select(round((col("n") * col("sxy") - col("sx") * col("sy")) /
        nullif(sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double") *
          (col("n") * col("sy2") - col("sy") * col("sy")).cast("double")),
          lit(0.0)), 6))
      .collect()
    assert(out.length == 1 && out.head.getDouble(0) == 1.0)
  }

  test("weighted percentile: frequency IS row replication") {
    initQuiet()
    // values 1,2,3 with weights 1,1,8 ≡ multiset [1,2,3,3,3,3,3,3,3,3]:
    // median = 3.0 ; unweighted median would be 2.0
    val df = Seq((1.0, 1L), (2.0, 1L), (3.0, 8L)).toDF("v", "w")
    val r = df.agg(
      expr("percentile(v, 0.5, w)").as("wm"),
      expr("percentile(v, 0.5)").as("m")).collect().head
    assert(r.getDouble(0) == 3.0)
    assert(r.getDouble(1) == 2.0)
  }

  test("ks: disjoint samples separate completely (D = 1)") {
    initQuiet()
    val df = (Seq(("a", 1L), ("a", 2L)) ++ Seq(("b", 3L), ("b", 4L)))
      .toDF("g", "v")
    val out = Drift.ksLeaveOneOut(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("a") == 1.0 && out("b") == 1.0)
  }

  test("ks: the max BETWEEN group values is caught (just-before candidate)") {
    initQuiet()
    // group a = {1, 10}, rest = {2, 3}: F_a jumps to .5 at 1 then waits;
    // F_rest reaches 1 at 3 while F_a is still .5 → D = .5 attained
    // strictly between a's observed values — only the lagged candidate
    // sees it
    val df = (Seq(("a", 1L), ("a", 10L)) ++ Seq(("b", 2L), ("b", 3L)))
      .toDF("g", "v")
    val out = Drift.ksLeaveOneOut(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("a") == 0.5)
  }

  test("ks: identical distributions give D = 0") {
    initQuiet()
    val df = (Seq(("a", 1L), ("a", 2L)) ++ Seq(("b", 1L), ("b", 2L)))
      .toDF("g", "v")
    val out = Drift.ksLeaveOneOut(df, "g", "v").collect()
    assert(out.forall(_.getDouble(3) == 0.0))
  }

  test("rank bias: separated samples pin AUC 0/1; full ties give 0.5, null z") {
    initQuiet()
    // a = {1,2} all below rest {3,4}: P(a > rest) = 0 → auc 0; b's view
    // is the mirror → auc 1
    val df = (Seq(("a", 1L), ("a", 2L)) ++ Seq(("b", 3L), ("b", 4L)))
      .toDF("g", "v")
    val out = Drift.rankBiasLeaveOneOut(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("a") == 0.0 && out("b") == 1.0)
    // every value tied: auc is exactly 1/2 and the tie-corrected
    // variance collapses to 0 → z null, never NaN
    val tied = Seq(("a", 5L), ("b", 5L)).toDF("g", "v")
    val t = Drift.rankBiasLeaveOneOut(tied, "g", "v").collect()
    assert(t.forall(r => r.getDouble(3) == 0.5 && r.isNullAt(4)))
  }

  test("spearman midranks: monotone ±1, ties averaged, constant null") {
    initQuiet()
    // reuse the query's ranking algebra directly on a hand frame via
    // the same doubled-midrank construction
    val df = Seq(("n", 1L, 10L), ("n", 2L, 20L), ("n", 3L, 30L),
      ("m", 1L, 30L), ("m", 2L, 20L), ("m", 3L, 10L),
      ("c", 1L, 5L), ("c", 2L, 5L), ("c", 3L, 5L))
      .toDF("n_name", "__x", "__y")
    val wx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_name")).orderBy(col("__x"))
    val wxt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_name"), col("__x"))
    val wy = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_name")).orderBy(col("__y"))
    val wyt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("n_name"), col("__y"))
    val r = df
      .withColumn("__mx", lit(2) * rank().over(wx) + count(lit(1)).over(wxt) - 1)
      .withColumn("__my", lit(2) * rank().over(wy) + count(lit(1)).over(wyt) - 1)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("__mx")).as("sx"),
        sum(col("__my")).as("sy"), sum(col("__mx") * col("__my")).as("sxy"),
        sum(col("__mx") * col("__mx")).as("sx2"),
        sum(col("__my") * col("__my")).as("sy2"))
      .select(col("n_name"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(sqrt((col("n") * col("sx2") - col("sx") * col("sx"))
            .cast("double") *
            (col("n") * col("sy2") - col("sy") * col("sy")).cast("double")),
            lit(0.0)), 6).as("rho"))
      .collect().map(x => x.getString(0) ->
        (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(r("n") == Some(1.0) && r("m") == Some(-1.0) && r("c") == None)
  }

  test("psi: identical halves score 0; a swapped mix scores the closed form") {
    initQuiet()
    // identical: both halves have buckets {1:2, 2:2}
    val same = Seq(("g", 1, 0), ("g", 1, 0), ("g", 2, 0), ("g", 2, 0),
      ("g", 1, 1), ("g", 1, 1), ("g", 2, 1), ("g", 2, 1))
      .toDF("k", "b", "h")
    val r0 = Drift.psiFromTagged(same, "k", "b", "h").collect().head
    assert(r0.getDouble(5) == 0.0 && r0.getLong(3) == 2 && r0.getLong(4) == 0)
    // shifted: base {1:3, 2:1}, current {1:1, 2:3} →
    // psi = (.25-.75)ln(.25/.75) + (.75-.25)ln(.75/.25) = ln 3 ≈ 1.098612
    val shift = Seq(("g", 1, 0), ("g", 1, 0), ("g", 1, 0), ("g", 2, 0),
      ("g", 1, 1), ("g", 2, 1), ("g", 2, 1), ("g", 2, 1))
      .toDF("k", "b", "h")
    val r1 = Drift.psiFromTagged(shift, "k", "b", "h").collect().head
    assert(r1.getDouble(5) == 1.098612)
    // one-sided bucket: counted, excluded from the sum
    val oneside = Seq(("g", 1, 0), ("g", 1, 1), ("g", 9, 1))
      .toDF("k", "b", "h")
    val r2 = Drift.psiFromTagged(oneside, "k", "b", "h").collect().head
    assert(r2.getLong(3) == 1 && r2.getLong(4) == 1)
  }

  test("jsd: identical mixes score 0; a fully disjoint label scores the closed form") {
    initQuiet()
    // two groups with the same 50/50 mix: corpus mix equals each → 0
    val same = Seq(("a", "en"), ("a", "fr"), ("b", "en"), ("b", "fr"))
      .toDF("g", "l")
    assert(Drift.jsDivergence(same, "g", "l").collect()
      .forall(r => r.getDouble(3) == 0.0))
    // a = all-en, b = all-fr, equal sizes: corpus (.5,.5), each P = (1,0)
    // → JSD = H(M) − (H(P)+H(Q))/2 with M = (.75,.25):
    //   (−.75ln.75 − .25ln.25) − (0 + ln2)/2 = 0.2157616 → 0.215762
    val disj = Seq(("a", "en"), ("a", "en"), ("b", "fr"), ("b", "fr"))
      .toDF("g", "l")
    val out = Drift.jsDivergence(disj, "g", "l")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("a") == 0.215762 && out("b") == 0.215762)
  }

  test("q113-q116 run end-to-end on the corpus and stay bounded") {
    initQuiet()
    assert(Drift.cusumQuery(spark, sf).count() == 5)       // one per type
    assert(Drift.acfQuery(spark, sf).count() == 35)        // 5 types × 7 lags
    val tri = Drift.trigramQuery(spark, sf)
    assert(tri.count() <= 50 && tri.count() > 0)
    assert(Drift.winsorQuery(spark, sf).count() == 5)      // priorities
    assert(Drift.freshnessQuery(spark, sf).count() == 5)   // one per type
    val hist = Drift.gapHistogramQuery(spark, sf).collect()
    assert(hist.nonEmpty && hist.length <= 65)
    // buckets tile: every gap's min/max within [2^b, 2^(b+1))
    hist.filter(_.getInt(0) >= 0).foreach { r =>
      val b = r.getInt(0)
      assert(r.getLong(2) >= (1L << b) && r.getLong(3) < (1L << (b + 1)))
    }
    val dow = Drift.dowProfileQuery(spark, sf)
    assert(dow.count() > 0 && dow.count() <= 35) // ≤ 5 types × 7 days
    val corr = Drift.rollingCorrQuery(spark, sf).collect()
    assert(corr.nonEmpty && corr.forall { r =>
      r.isNullAt(3) || (r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0)
    })
    assert(Drift.weightedMedianQuery(spark, sf).count() == 3) // A/N/R
    val ks = Drift.ksQuery(spark, sf).collect()
    assert(ks.nonEmpty && ks.forall { r =>
      r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0
    })
    val psi = Drift.psiQuery(spark, sf).collect()
    assert(psi.length == 5 && psi.forall(_.getDouble(5) >= 0.0))
    val jsd = Drift.jsdQuery(spark, sf).collect()
    assert(jsd.nonEmpty && jsd.forall { r =>
      r.getDouble(3) >= 0.0 && r.getDouble(4) <= 1.0
    })
    val rb = Drift.rankBiasQuery(spark, sf).collect()
    assert(rb.nonEmpty && rb.forall { r =>
      r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0
    })
  }

  test("moments: hand-computed skewness/kurtosis; constant group null") {
    initQuiet()
    // group a = {1..5}: mean 3, m2 = 2, symmetric -> skew 0; m4 = 34/5
    // -> excess kurtosis 34/5/4 - 3 = -1.3
    // group b = {0,0,0,1} (Bernoulli p=1/4): skew = (1-2p)/sqrt(p(1-p))
    // = 2/sqrt(3); excess kurt = (1-6p(1-p))/(p(1-p)) = -2/3
    // group c constant -> stddev 0, null skew/kurt
    val df = (Seq(1L, 2L, 3L, 4L, 5L).map(("a", _)) ++
      Seq(0L, 0L, 0L, 1L).map(("b", _)) ++
      Seq(7L, 7L, 7L).map(("c", _))).toDF("g", "v")
    val out = Drift.moments(df, Seq("g"), "v", 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) == 5L)
    assert(out("a").getDouble(2) == 3.0)                   // mean
    assert(math.abs(out("a").getDouble(3) - math.sqrt(2.0)) < 1e-4)
    assert(out("a").getDouble(4) == 0.0)                   // skewness
    assert(out("a").getDouble(5) == -1.3)                  // excess kurt
    assert(math.abs(out("b").getDouble(4) - 2.0 / math.sqrt(3.0)) < 1e-6)
    assert(math.abs(out("b").getDouble(5) - (-2.0 / 3.0)) < 1e-6)
    assert(out("c").getDouble(3) == 0.0)
    assert(out("c").isNullAt(4) && out("c").isNullAt(5))
  }

  test("momentsQuery: per-flag/status rows with finite shape stats") {
    initQuiet()
    val rows = Drift.momentsQuery(spark, sf).collect()
    assert(rows.length == 6) // {A,N,R} x {F,O} in the synthetic corpus
    assert(rows.forall(r => r.getLong(2) > 0 && !r.isNullAt(4)))
  }

  test("quantileNormQuery: doc conservation, norms inside pooled range") {
    initQuiet()
    val rows = Drift.quantileNormQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.load(spark, sf, "documents")
    val total = docs.count()
    val (gmin, gmax) = {
      val r = docs.agg(min(col("n_chars")), max(col("n_chars"))).head
      (r.getLong(0), r.getLong(1))
    }
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(4) >= gmin && r.getLong(5) <= gmax)
      // normalized mean sits inside the normalized extremes
      assert(r.getDouble(3) >= r.getLong(4) && r.getDouble(3) <= r.getLong(5))
    }
  }

  test("corrMatrixQuery: 9-cell matrix, correlations in [-1, 1]") {
    initQuiet()
    val rows = Drift.corrMatrixQuery(spark, sf).collect()
    assert(rows.length == 9) // 3 flags x 3 pairs
    rows.foreach { r =>
      assert(r.getLong(3) > 0)
      val c = r.getDouble(4)
      assert(c >= -1.0 && c <= 1.0, s"${r.getString(1)}/${r.getString(2)}: $c")
    }
  }
  // reference PAVA (pool adjacent violators): the sequential algorithm
  // the q190 minimax identity replaces
  private def pava(ys: Array[Double]): Array[Double] = {
    case class Block(var sum: Double, var n: Int) { def mean = sum / n }
    val st = scala.collection.mutable.ArrayBuffer.empty[Block]
    ys.foreach { y =>
      st += Block(y, 1)
      while (st.length > 1 && st(st.length - 2).mean >= st.last.mean) {
        val b = st.remove(st.length - 1)
        st.last.sum += b.sum; st.last.n += b.n
      }
    }
    st.flatMap(b => Array.fill(b.n)(b.mean)).toArray
  }

  private def minimax(ys: Array[Double]): Array[Double] = {
    val n = ys.length
    val S = ys.scanLeft(0.0)(_ + _)
    def mean(j: Int, k: Int) = (S(k + 1) - S(j)) / (k - j + 1)
    Array.tabulate(n) { i =>
      (0 to i).map(j => (i until n).map(k => mean(j, k)).min).max
    }
  }

  test("isotonic: minimax identity equals reference PAVA on random series") {
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val ys = Array.fill(1 + rnd.nextInt(24))(rnd.nextInt(100).toDouble)
      val (a, b) = (pava(ys), minimax(ys))
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, 
        s"${ys.mkString(",")}") }
    }
  }

  test("isotonicQuery: fit is monotone non-decreasing within each type") {
    initQuiet()
    val rows = Drift.isotonicQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val fits = g.sortBy(_.getInt(1)).map(_.getAs[Double]("iso_fit"))
      fits.sliding(2).foreach {
        case Array(a, b) => assert(a <= b + 1e-9)
        case _ =>
      }
    }
  }

  test("burstinessQuery: burstiness bounded in [-1,1]; fano positive") {
    initQuiet()
    val rows = Drift.burstinessQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Double]("burstiness")
      assert(b >= -1.0 && b <= 1.0)
      assert(r.getAs[Double]("fano") > 0.0)
    }
  }

  test("ols2Query: matches a direct normal-equation solve on collected data") {
    initQuiet()
    val raw = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_tax") * 100).cast("long"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble))
    val rows = Drift.ols2Query(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val g = raw.filter(_._1 == row.getString(0))
      val n = g.length.toDouble
      val (s1, s2, sy) = (g.map(_._2).sum, g.map(_._3).sum, g.map(_._4).sum)
      val c11 = n * g.map(t => t._2 * t._2).sum - s1 * s1
      val c22 = n * g.map(t => t._3 * t._3).sum - s2 * s2
      val c12 = n * g.map(t => t._2 * t._3).sum - s1 * s2
      val c1y = n * g.map(t => t._2 * t._4).sum - s1 * sy
      val c2y = n * g.map(t => t._3 * t._4).sum - s2 * sy
      val cyy = n * g.map(t => t._4 * t._4).sum - sy * sy
      val det = c11 * c22 - c12 * c12
      val b1 = (c22 * c1y - c12 * c2y) / det
      val b2 = (c11 * c2y - c12 * c1y) / det
      assert(math.abs(row.getAs[Double]("b_discount") - b1) < 1e-4)
      assert(math.abs(row.getAs[Double]("b_tax") - b2) < 1e-4)
      assert(math.abs(row.getAs[Double]("intercept") -
        (sy - b1 * s1 - b2 * s2) / n) < 1e-4)
      val r2 = row.getAs[Double]("r2")
      assert(math.abs(r2 - (b1 * c1y + b2 * c2y) / cyy) < 1e-4)
      assert(r2 >= -1e-9 && r2 <= 1.0 + 1e-9)
    }
  }

  test("pcaQuery: eigen identities hold; explained share in [1/2, 1]") {
    initQuiet()
    val rows = Drift.pcaQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("explained_share")
      // leading eigenvalue always carries at least half the trace
      assert(share >= 0.5 - 1e-9 && share <= 1.0 + 1e-9)
      val corr = r.getAs[Double]("corr")
      assert(corr >= -1.0 && corr <= 1.0)
      val theta = r.getAs[Double]("axis_angle_rad")
      assert(theta >= -math.Pi / 2 - 1e-9 && theta <= math.Pi / 2 + 1e-9)
    }
  }

  test("bootstrapQuery: interval ordered and anchored around the mean") {
    initQuiet()
    val rows = Drift.bootstrapQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, lo, hi) = (r.getAs[Double]("mean_value"),
        r.getAs[Double]("boot_lo"), r.getAs[Double]("boot_hi"))
      assert(lo <= hi)
      // resample means of a ~300+-row group straddle the sample mean
      assert(lo <= mean && mean <= hi,
        s"mean $mean outside bootstrap interval [$lo, $hi]")
      assert(r.getAs[Long]("n_orders") > 0)
    }
  }

  test("bootstrap weights: deterministic Poisson(1) has mean ~1") {
    initQuiet()
    import spark.implicits._
    val thresholds = Seq(367879444L, 735758888L, 919698610L, 981011850L,
      996340161L, 999405823L, 999916766L, 999989758L, 999998882L)
    val ids = (1L to 20000L).toDF("id")
    val inner = pmod(
      pmod(col("id"), lit(1000003L)) * lit(2654435761L) +
        shiftright(col("id"), 16) * lit(7919L) + lit(7L) * lit(10007L),
      lit(1000000007L))
    val v = pmod(inner * lit(2654435761L), lit(1000000007L))
    val w = thresholds.map(t => when(v >= t, 1L).otherwise(0L)).reduce(_ + _)
    val stats = ids.agg(avg(w).as("m"), variance(w).as("s2")).head()
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.05) // Poisson(1) mean
    assert(math.abs(stats.getDouble(1) - 1.0) < 0.10) // Poisson(1) variance
  }

  test("anovaQuery: sums of squares partition the total; F stats positive") {
    initQuiet()
    val r = Drift.anovaQuery(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    val parts = row.getAs[Double]("ss_flag") + row.getAs[Double]("ss_status") +
      row.getAs[Double]("ss_interaction") + row.getAs[Double]("ss_error")
    // recompute SS_total = sum(y^2) - (sum y)^2 / n directly
    val li = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_quantity").cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("g"),
        sum(col("y") * col("y")).as("q")).head()
    val (n, g, q) = (li.getLong(0).toDouble, li.getLong(1).toDouble,
      li.getLong(2).toDouble)
    val ssTotal = q - g * g / n
    assert(math.abs(parts - ssTotal) / ssTotal < 1e-6,
      s"decomposition $parts vs total $ssTotal")
    assert(row.getAs[Double]("ss_error") > 0)
    assert(row.getAs[Long]("n_rows") === n.toLong)
  }

  test("stumpQuery: argmin split matches brute force per segment") {
    initQuiet()
    val labeled = graft.Tables.load(spark, sf, "customer")
      .join(graft.Tables.load(spark, sf, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def xlnx(x: Long): Double = if (x > 0) x * math.log(x.toDouble) else 0.0
    val rows = Drift.stumpQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val g = labeled.filter(_._1 == row.getString(0))
      val vals = g.map(_._2).distinct.sorted
      val (nt, pt) = (g.length.toLong, g.map(_._3).sum)
      val best = vals.dropRight(1).map { t =>
        val nl = g.count(_._2 <= t).toLong
        val pl = g.filter(_._2 <= t).map(_._3).sum
        val (nr, pr) = (nt - nl, pt - pl)
        val imp = xlnx(nl) - xlnx(pl) - xlnx(nl - pl) +
          xlnx(nr) - xlnx(pr) - xlnx(nr - pr)
        (imp, t)
      }.min
      assert(math.abs(row.getAs[Double]("threshold") - best._2 / 100.0) < 1e-9)
      assert(row.getAs[Double]("info_gain") >= -1e-12)
    }
  }

  test("theilSenQuery: median pairwise slope matches brute force") {
    initQuiet()
    val daily = graft.Tables.load(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .join(graft.Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Tables.load(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        datediff(to_date(col("o_orderdate")), lit("1996-01-01")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val rows = Drift.theilSenQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val g = daily.filter(_._1 == row.getString(0)).sortBy(_._2)
      val slopes = (for {
        i <- g.indices; j <- (i + 1) until g.length
      } yield (g(j)._3 - g(i)._3).toDouble / (g(j)._2 - g(i)._2))
        .sorted.toArray
      assert(row.getAs[Long]("n_pairs") === slopes.length.toLong)
      val pos = (slopes.length - 1) * 0.5
      val (lo, hi) = (slopes(pos.toInt), slopes(math.ceil(pos).toInt))
      val med = lo + (hi - lo) * (pos - pos.toInt)
      assert(math.abs(row.getAs[Double]("theil_sen_slope") - med / 100.0)
        < 1e-4, s"${row.getString(0)}")
    }
  }

  test("expFitQuery: KS in [0,1]; rate positive; gap counts real") {
    initQuiet()
    val rows = Drift.expFitQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getAs[Double]("ks_distance")
      assert(d >= 0.0 && d <= 1.0)
      assert(r.getAs[Double]("rate_per_hour") > 0.0)
      assert(r.getAs[Long]("n_gaps") > 0)
    }
  }

  test("multiTestQuery: corrected flags subset of naive; z sane") {
    initQuiet()
    val rows = Drift.multiTestQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    val crit = rows.head.getAs[Double]("critical_value")
    assert(crit > 1.96) // multiplicity correction is strictly harder
    rows.foreach { r =>
      assert(r.getAs[Double]("critical_value") === crit)
      if (r.getAs[Boolean]("flag_corrected"))
        assert(r.getAs[Boolean]("flag_naive"))
      val rate = r.getAs[Double]("return_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("kdeQuery: densities non-negative; grid mass integrates to ~1") {
    initQuiet()
    val rows = Drift.kdeQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.length === 21) // full grid per priority
      g.foreach(r => assert(r.getAs[Double]("density") >= 0.0))
      // Riemann sum at step 1/20; edge kernels lose tail mass outside
      // [0,1], so the sum sits a bit under 1 but never far from it
      val mass = g.map(_.getAs[Double]("density")).sum / 20.0
      assert(mass > 0.85 && mass < 1.1, s"grid mass $mass")
      // n_orders is the same (priority-total) count on every grid row
      assert(g.map(_.getAs[Long]("n_orders")).distinct.length === 1)
    }
  }
}

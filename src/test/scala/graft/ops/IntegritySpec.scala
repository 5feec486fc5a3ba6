package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for the integrity surface: digests must be layout-invariant
  * (same data, any partitioning → same fingerprint) and sensitive
  * (one changed cell → different fingerprint); the profile must match
  * driver-side recomputation including null handling.
  */
class IntegritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = graft.Tables.load(spark, sf, "lineitem")

  test("bucketChecksum: layout-invariant, deterministic, sensitive to one cell") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Integrity.bucketChecksum(df,
          col("l_orderkey") % 4,
          Seq(col("l_orderkey"), col("l_linenumber")),
          concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("l_returnflag")))
        .orderBy(col("bucket")).collect().toSeq
    val base = run(li)
    assert(base.size == 4)
    assert(run(li.repartition(13)) == base, "digest changed under repartition")
    assert(run(li.orderBy(col("l_extendedprice"))) == base, "digest changed under reorder")
    // flip one row's returnflag: exactly that row's bucket digest moves,
    // row counts stay identical
    val oneRow = li.select(col("l_orderkey"), col("l_linenumber")).head()
    val mutated = li.withColumn("l_returnflag",
      when(col("l_orderkey") === oneRow.getLong(0) &&
          col("l_linenumber") === oneRow.getInt(1), lit("Z"))
        .otherwise(col("l_returnflag")))
    val mut = run(mutated)
    assert(mut.map(_.getLong(1)) == base.map(_.getLong(1)), "row counts moved")
    val changed = base.zip(mut).count { case (a, b) => a.getString(2) != b.getString(2) }
    assert(changed == 1, s"expected exactly 1 bucket digest to change, got $changed")
  }

  test("fastChecksum: layout-invariant and sensitive") {
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag")
    val base = Integrity.fastChecksum(li, cols).head()
    assert(base.getLong(0) == li.count())
    val re = Integrity.fastChecksum(li.repartition(7).orderBy(col("l_discount")), cols).head()
    assert(re == base, "algebraic fingerprint must not depend on layout/order")
    val oneRow = li.select(col("l_orderkey"), col("l_linenumber")).head()
    val mutated = li.withColumn("l_returnflag",
      when(col("l_orderkey") === oneRow.getLong(0) &&
          col("l_linenumber") === oneRow.getInt(1), lit("Z"))
        .otherwise(col("l_returnflag")))
    val mut = Integrity.fastChecksum(mutated, cols).head()
    assert(mut.getDecimal(1) != base.getDecimal(1) || mut.getLong(2) != base.getLong(2),
      "single-cell change must flip the fingerprint")
  }

  test("profile: matches driver-side recomputation, counts nulls") {
    val df = Seq(
      (Some("a"), Some(1L)), (Some("b"), None), (None, Some(1L)), (Some("a"), Some(3L))
    ).toDF("s", "v")
    val p = Integrity.profile(df, Seq("s", "v")).orderBy(col("col_name"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(p.toSeq == Seq(
      ("s", 4L, 1L, 2L, "a", "b"),
      ("v", 4L, 1L, 2L, "1", "3")))
  }

  test("algebraicChecksum: layout-invariant, sensitive, equals bucketChecksum's row set semantics") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Integrity.algebraicChecksum(df, col("l_orderkey") % 4,
          concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("l_returnflag")))
        .orderBy(col("bucket")).collect().toSeq
    val base = run(li)
    assert(base.size == 4 && base.map(_.getLong(1)).sum == li.count())
    assert(run(li.repartition(11).orderBy(col("l_discount"))) == base,
      "algebraic digest must not depend on layout/order")
    val oneRow = li.select(col("l_orderkey"), col("l_linenumber")).head()
    val mut = run(li.withColumn("l_returnflag",
      when(col("l_orderkey") === oneRow.getLong(0) &&
        col("l_linenumber") === oneRow.getInt(1), lit("Z"))
        .otherwise(col("l_returnflag"))))
    assert(mut.map(_.getLong(1)) == base.map(_.getLong(1)), "row counts moved")
    assert(base.zip(mut).count { case (a, b) => a.getDecimal(2) != b.getDecimal(2) } == 1,
      "exactly one bucket sum must change")
  }

  test("diffSnapshots: classifies added/removed/changed/unchanged; null-safe compare") {
    val oldDf = Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]), (4L, Some("d")))
      .toDF("k", "v")
    val newDf = Seq((1L, Some("a")), (2L, Some("B")), (3L, Some("c")), (5L, Some("e")))
      .toDF("k", "v")
    val got = Integrity.diffSnapshots(oldDf, newDf, Seq("k"), Seq("v"))
      .select(col("k"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "unchanged"), (2L, "changed"),
      (3L, "changed"), // null -> value IS a change (null-safe compare)
      (4L, "removed"), (5L, "added")))
  }

  test("fdAudit: one row per declared FD, shares in [0,1]") {
    val rows = Integrity.fdAudit(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // in this corpus users touch multiple event types: near-total violation
    val ev = rows.find(_.getString(0).startsWith("events")).get
    assert(ev.getLong(2) > 0)
  }

  test("prorationQuery: conservation exact — zero residual everywhere") {
    val rows = Integrity.prorationQuery(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(5) == 0L, s"residual in ${r.getString(0)}")
      assert(r.getDouble(3) == r.getDouble(4)) // alloc_total == order_total
    }
  }

  test("bitmapDistinct: bitmap popcount equals exact distinct per type") {
    val rows = Integrity.bitmapDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), r.getString(0)))
  }

  test("kAnonymity: class counts reconcile and min_k is a real class size") {
    val rows = Integrity.kAnonymity(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables.load(spark, sf, "customer").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("min_k") >= 1)
      assert(r.getAs[Long]("rows_at_risk") <= r.getAs[Long]("n_rows"))
      val rate = r.getAs[Double]("risk_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("joinFanout: FK joins predict exactly the joined row count") {
    val rows = Integrity.joinFanout(spark, sf).collect()
      .map(r => r.getAs[String]("relationship") -> r).toMap
    // lineitem⋈orders on orderkey is N:1 → est_out_rows == matched lineitem rows
    val lo = rows("lineitem_orders")
    assert(lo.getAs[Long]("est_out_rows") == lo.getAs[Long]("rows_left"))
    assert(lo.getAs[Double]("amplification") == 1.0)
    // events self-join amplifies by >> 1
    assert(rows("events_self_user").getAs[Double]("amplification") > 1.0)
  }

  test("windowBitmapDau: OR-merged bitmaps equal the explode-based rolling distinct") {
    val bitmap = Integrity.windowBitmapDau(spark, sf).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val explode = Analytics.rollingActiveUsers(
        graft.Tables.load(spark, sf, "events"), "user_id", "ts", Seq(7))
      .collect().map(r => r.getDate(0).toString -> r.getLong(2)).toMap
    assert(bitmap.nonEmpty && bitmap == explode)
  }

  test("linearCounting: estimate tracks exact distinct at low load factor") {
    val rows = Integrity.linearCounting(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val occ = r.getAs[Long]("occupied")
      assert(occ <= exact) // hashing can only merge ids
      assert(occ < 4096)
      // corpus load factor is tiny (<= 1500 users / 4096 cells), so
      // the occupancy estimator sits within a few percent of exact
      assert(math.abs(r.getAs[Double]("rel_error")) < 0.05)
      assert(r.getAs[Double]("lc_estimate") >= occ.toDouble - 1e-9)
    }
  }

  test("rapidRepeatScreen: matches a brute-force per-user scan") {
    val purchases = graft.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = purchases.groupBy(_._1).flatMap { case (u, g) =>
      val sorted = g.sortBy(t => (t._2, t._3))
      val gaps = sorted.sliding(2).collect {
        case Array(a, b) => b._2 - a._2
      }.toSeq
      val rapid = gaps.count(_ <= 3600000000L)
      if (rapid > 0) Some(u -> rapid.toLong) else None
    }.toMap
    val got = Integrity.rapidRepeatScreen(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("rapid_repeats"))
      .toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("captureRecapture: Chapman bounds and overlap algebra hold") {
    val rows = Integrity.captureRecapture(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, m) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("overlap"))
      assert(m <= math.min(na, nb))
      val est = r.getAs[Long]("chapman_estimate")
      // estimate can never undercut either observed audience
      assert(est >= math.max(na, nb))
      assert(r.getAs[Long]("n_true") >= math.max(na, nb))
      // union lower bound: population >= na + nb - m
      assert(r.getAs[Long]("n_true") >= na + nb - m)
    }
  }
}

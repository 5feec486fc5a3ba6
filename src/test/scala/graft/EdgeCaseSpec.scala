package graft

import graft.core.{Pipeline, Stage}
import graft.ops.AsOfJoin
import graft.text.Dedup
import org.apache.spark.sql.functions._

/** Empty-input and degenerate-shape hardening: operators must return
  * empty (or identity) results, never throw, on empty frames.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: Long) = new java.sql.Timestamp(s * 1000)

  test("as-of join with empty right side keeps left rows, null matches") {
    val left = Seq((1L, t(10))).toDF("k", "ts")
    val right = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("k", "qts", "px")
    val out = AsOfJoin(left, right, Seq("k"), "ts", "qts", Seq("px" -> "px")).collect()
    assert(out.length == 1 && out.head.isNullAt(2))
  }

  test("as-of join with empty left side returns empty") {
    val left = Seq.empty[(Long, java.sql.Timestamp)].toDF("k", "ts")
    val right = Seq((1L, t(5), 1.0)).toDF("k", "qts", "px")
    assert(AsOfJoin(left, right, Seq("k"), "ts", "qts", Seq("px" -> "px")).count() == 0)
  }

  test("NOT IN vs anti-join: null-sensitive semantics honored (SURVEY Q08 caveat)") {
    // SQL NOT IN over a subquery containing NULL matches NOTHING
    // (three-valued logic); left_anti matches non-equal rows. The engine
    // must expose both behaviors and not conflate them.
    val cust = Seq((1L), (2L), (3L)).toDF("k")
    val sub = Seq(Some(1L), None).toDF("sk")
    cust.createOrReplaceTempView("ec_cust")
    sub.createOrReplaceTempView("ec_sub")
    val notIn = spark.sql(
      "SELECT k FROM ec_cust WHERE k NOT IN (SELECT sk FROM ec_sub)").count()
    assert(notIn == 0, "NOT IN over a null-bearing subquery must be empty")
    val anti = cust.join(sub, col("k") === col("sk"), "left_anti").count()
    assert(anti == 2, "anti join ignores the null and keeps non-matches")
    // q08's corpus contract: o_custkey is non-null, so the two coincide
    val orders = graft.Tables.load(spark, sf, "orders")
    assert(orders.filter(col("o_custkey").isNull).count() == 0)
  }

  test("stratified sample: deterministic across layouts, bounded fractions") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val fr = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Curation.stratifiedSample(df, "source", fr, "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(docs)
    val b = ids(docs.repartition(7)) // layout must not change the sample
    assert(a == b)
    val bySrc = graft.ops.Curation.stratifiedSample(docs, "source", fr, "doc_id")
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == totals("src0"))          // fraction 1.0 keeps all
    assert(!bySrc.contains("src2"))                  // fraction 0 drops all
    assert(bySrc.keySet.subsetOf(Set("src0", "src1"))) // unlisted strata dropped
    val f1 = bySrc("src1").toDouble / totals("src1")
    assert(f1 > 0.2 && f1 < 0.8, s"src1 sampled fraction $f1 far from 0.5")
  }

  test("dedup family on empty input returns empty, not error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exact(empty, Seq("text"), "doc_id").count() == 0)
    assert(Dedup.nearMinhash(empty, "doc_id", "text").count() == 0)
    assert(Dedup.nearSimhash(empty, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccard(empty, "doc_id", "text").count() == 0)
  }

  test("pipeline on empty DataFrame validates and runs") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val p = Pipeline(
      Stage("f")(df => df.filter(col("v") > 0)),
      Stage("m")(df => df.withColumn("v2", col("v") * 2)))
    assert(p.validate(empty).isRight)
    assert(p(empty).count() == 0)
  }

  test("hash split: exact partition of rows, deterministic, near-target sizes") {
    val docs = Tables.load(spark, sf, "documents")
    val folds = graft.ops.Curation.hashSplit(docs, "doc_id", Seq(0.8, 0.1, 0.1))
    val counts = folds.map(_.count())
    // partition: folds are disjoint and exhaustive
    assert(counts.sum == docs.count())
    assert(folds(0).select("doc_id").intersect(folds(1).select("doc_id")).count() == 0)
    assert(folds(1).select("doc_id").intersect(folds(2).select("doc_id")).count() == 0)
    // sizes near targets (hash uniformity at n=500: ±10 pp is generous)
    assert(math.abs(counts(0).toDouble / counts.sum - 0.8) < 0.1, counts.mkString(","))
    // deterministic across repartitioned layouts
    val again = graft.ops.Curation.hashSplit(docs.repartition(13), "doc_id",
      Seq(0.8, 0.1, 0.1))
    assert(folds(1).select("doc_id").except(again(1).select("doc_id")).count() == 0)
    assert(again(1).select("doc_id").except(folds(1).select("doc_id")).count() == 0)
  }

  test("quantileBand keeps exactly the in-band rows") {
    val docs = Tables.load(spark, sf, "documents")
    val kept = graft.ops.Curation.quantileBand(docs, "n_chars", 0.10, 0.90)
    // thresholds recomputed the same way must bound every kept row
    val Array(lo, hi) = docs.selectExpr(
      "percentile(n_chars, 0.10)", "percentile(n_chars, 0.90)")
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    val bounds = kept.agg(min("n_chars"), max("n_chars")).head()
    assert(bounds.getLong(0) >= lo && bounds.getLong(1) <= hi)
    // a [0, 1] band is the identity
    assert(graft.ops.Curation.quantileBand(docs, "n_chars", 0.0, 1.0).count()
      == docs.count())
  }

  test("single-token and whitespace-edge documents survive text ops") {
    val df = Seq((1L, "word"), (2L, "two words")).toDF("doc_id", "text")
    val sh = df.select(Dedup.shingles(col("text"), 3).as("s")).collect()
    assert(sh(0).getSeq[String](0) == Seq("word"))
    val fp = df.select(graft.text.TextAnalysis.fingerprint(col("text"))).collect()
    assert(fp.length == 2)
    val q = df.select(graft.text.TextAnalysis.qualityScore(col("text")).as("q"))
      .filter(col("q") < 0 || col("q") > 1).count()
    assert(q == 0)
  }

  test("md5 simhash: degenerate docs (empty, single-token) fingerprint without error") {
    val df = Seq((1L, ""), (2L, "word"), (3L, "word word word")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simhashMd5(split(col("text"), " ")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.values.forall(f => f >= 0L && f < (1L << 60)))
    // a unanimous single-token vote sets exactly the token-hash bits;
    // repeating the token must not change the majority outcome
    assert(fps(2L) == fps(3L), "multiset repetition flipped a unanimous vote")
  }

  test("map parsing: null and malformed props yield null maps, explode drops them") {
    // from_json is null-safe: a poisoned JSON column must not fail the
    // job, and exploding a null map contributes zero rows (the q72
    // shape applied to dirty input)
    val df = Seq((1L, """{"k": 7}"""), (2L, null), (3L, "not json"), (4L, "{}"))
      .toDF("id", "props")
      .select(col("id"),
        from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)).as("m"))
    assert(df.filter(col("m").isNull).count() == 2) // null + malformed
    val exploded = df.select(col("id"), explode(col("m")).as(Seq("k", "v")))
    assert(exploded.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((1L, "k", 7L)))
  }

  test("decimal aggregation: null prices are skipped, all-null group sums to null string") {
    val df = Seq[(String, Option[Double])](
      ("a", Some(1.005)), ("a", Some(2.0)), ("b", None))
      .toDF("g", "p")
      .groupBy(col("g"))
      .agg(sum(col("p").cast("decimal(12,2)")).cast("string").as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // 1.005 rounds half-up to 1.01 at the cast (Spark HALF_UP), sum 3.01
    assert(df("a") == "3.01", s"got ${df("a")}")
    assert(df("b") == null, "all-null decimal sum must be null, not 0")
  }
}

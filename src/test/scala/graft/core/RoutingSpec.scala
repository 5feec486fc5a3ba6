package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class RoutingSpec extends SparkSpec {
  import spark.implicits._

  private def base = Seq((1L, 5.0), (2L, -3.0), (3L, 8.0)).toDF("id", "v")

  test("route sends rows through the matching branch only (C6)") {
    val out = Pipeline.route(
      col("v") > 0,
      Pipeline(Stage("pos")(df => df.withColumn("sign", lit("pos")))),
      Pipeline(Stage("neg")(df => df.withColumn("sign", lit("neg")))))(base)
    val m = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m == Map(1L -> "pos", 2L -> "neg", 3L -> "pos"))
  }

  test("deadLetter splits invalid rows for quarantine (C7)") {
    val (ok, dead) = Pipeline.deadLetter(base, col("v") >= 0)
    assert(ok.count() == 2 && dead.count() == 1)
    assert(dead.collect().head.getLong(0) == 2L)
  }

  test("route/deadLetter send null-predicate rows to the false/dead side") {
    // try_cast produces NULL for the bad row — the quarantine case the
    // dead-letter split exists for; no row may vanish from the union
    val df = Seq((1L, "5.0"), (2L, "not-a-number"), (3L, "-3.0")).toDF("id", "s")
    val isValid = expr("try_cast(s AS DOUBLE) > 0")

    val (ok, dead) = Pipeline.deadLetter(df, isValid)
    assert(ok.count() + dead.count() == df.count(), "ok ∪ dead must equal input")
    assert(ok.collect().map(_.getLong(0)).toSet == Set(1L))
    assert(dead.collect().map(_.getLong(0)).toSet == Set(2L, 3L))

    val routed = Pipeline.route(
      isValid,
      Pipeline(Stage("t")(d => d.withColumn("branch", lit("t")))),
      Pipeline(Stage("f")(d => d.withColumn("branch", lit("f")))))(df)
    val m = routed.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m == Map(1L -> "t", 2L -> "f", 3L -> "f"))
  }

  test("a scope releases the fork") {
    val branches = Map(
      "pos" -> Pipeline(Stage("pos")(d => d.filter(col("v") > 0))),
      "neg" -> Pipeline(Stage("neg")(d => d.filter(col("v") <= 0))))
    // a fork no other case caches, so this scope is what caches it
    val fork = base.withColumn("w", col("v") * 2)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val counts = graft.CacheScope {
      val outs = Pipeline.fanOut(fork, branches)
      assert(fork.storageLevel != StorageLevel.NONE, "fork not cached inside the scope")
      outs.view.mapValues(_.count()).toMap
    }
    assert(counts == Map("pos" -> 2L, "neg" -> 1L))
    assert(fork.storageLevel == StorageLevel.NONE, "fork still cached after the scope")
    // no NEW cache entry may survive the scope (other tests' caches may
    // come and go — only the fork created here matters)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"shared fork left persisted after the scope: $leaked")
  }

  test("context-aware stages receive the run context (C8)") {
    implicit val ctx: PipelineContext =
      PipelineContext(spark, "run-42", Map("tag" -> "test"))
    val s = PipelineContext.stage("tagger") { c => df =>
      df.withColumn("run_id", lit(c.runId)).withColumn("tag", lit(c.conf("tag")))
    }
    val out = Pipeline(s)(base)
    val r = out.collect().head
    assert(r.getString(2) == "run-42" && r.getString(3) == "test")
  }
}

package graft.examples

import graft.{ScaleConfig, Tables}
import graft.ops.Temporal
import graft.sources.IO
import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end temporal/CDC walkthrough of the public API: maintain an
  * SCD2 dimension incrementally from a (replayed) change stream, then
  * consume it three ways — point-in-time enrichment, funnel analysis,
  * and cohort retention — and compact the micro-batch table like
  * production housekeeping would.
  *
  * Run: `sbt "runMain graft.examples.TemporalCdcDemo"`.
  */
object TemporalCdcDemo {

  /** Returns stage stats for assertions (ExamplesSpec). */
  def run(spark: SparkSession, sf: String): Seq[(String, Long)] = {
    val ev = Tables.load(spark, sf, "events")
    val base = java.nio.file.Files.createTempDirectory("temporal_demo")

    // 1. Incremental SCD2 maintenance: replay the non-purchase change
    // stream as micro-batches into a versioned "browsing state" table.
    val changes = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_type"))
    changes.coalesce(2).write.parquet(s"$base/src")
    val stream = spark.readStream
      .schema(changes.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$base/src")
    val q = StreamingOps.scd2Sink(stream, s"$base/dim",
        "user_id", "ts", Seq("event_type"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ck").start()
    require(q.awaitTermination(120000), "stream did not drain")
    val dim = spark.read.parquet(s"$base/dim")
    val (nVersions, nCurrent) =
      (dim.count(), dim.filter(col("is_current")).count())
    println(s"DIM: $nVersions versions, $nCurrent current")

    // 2. Point-in-time enrichment: each purchase sees the state that
    // was valid WHEN it happened (not the user's current state).
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val asWas = Temporal.pointInTime(purchases, dim, Seq("user_id"), "ts",
        Seq("event_type" -> "state_at_purchase"))
      .groupBy(coalesce(col("state_at_purchase"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("state")).collect()
    println("AS-WAS: " + asWas.map(r =>
      s"${r.getString(0)}=${r.getLong(1)}").mkString(" "))

    // 3. Funnel + cohorts over the same event stream.
    val funnel = Temporal.funnelSteps(ev, "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase")).collect()
    println("FUNNEL: " + funnel.map(r =>
      s"${r.getAs[String]("step")}:${r.getAs[Long]("n_users")}").mkString(" -> "))
    val nCohortCells = Temporal.cohortRetention(ev, "user_id", "ts").count()
    println(s"COHORTS: $nCohortCells (week, offset) cells")

    // 4. Housekeeping the micro-batch table like production would.
    IO.compact(spark, s"$base/dim", targetFileMB = 64)
    val afterCompact = spark.read.parquet(s"$base/dim").count()
    println(s"COMPACTED: $afterCompact versions intact")

    Seq(
      "versions" -> nVersions,
      "current" -> nCurrent,
      "purchases" -> purchases.count(),
      "enriched" -> asWas.map(_.getLong(1)).sum,
      "funnel_first" -> funnel.head.getAs[Long]("n_users"),
      "funnel_last" -> funnel.last.getAs[Long]("n_users"),
      "cohort_cells" -> nCohortCells,
      "versions_after_compact" -> afterCompact)
  }

  def main(args: Array[String]): Unit = {
    val spark = ScaleConfig.session(ScaleConfig.plain)
    run(spark, "/root/testdata/sf0.001")
    spark.stop()
  }
}

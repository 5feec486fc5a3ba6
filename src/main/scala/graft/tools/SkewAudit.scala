package graft.tools

import graft.Tables
import graft.ops.Skew
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Measured skew evidence (the "skewed keys → salting" design bullet):
  * builds a deliberately skewed copy of events — 40% of rows remapped
  * to ONE hot user — and compares the plain shuffle plans against
  * [[Skew.saltedAgg]]/[[Skew.saltedJoin]] with broadcasts disabled (the
  * regime where the small side is above the broadcast threshold and the
  * hot partition would otherwise materialize).
  *
  * The decisive metric is per-task balance, not only wall time: on a
  * many-core local box a single 40%-of-the-data straggler still
  * finishes quickly, but on a 1000-executor cluster that same straggler
  * IS the job's critical path. A task-end listener records the max and
  * median task duration of each job's heaviest stage; salting must
  * collapse max/median while producing identical results (verified
  * row-for-row here).
  *
  * Run: `sbt "runMain graft.tools.SkewAudit [srcDir] [outJson]"`
  * (srcDir defaults to the 10x amplified corpus at /tmp/amp10; falls
  * back to sf0.1 if absent).
  */
object SkewAudit {

  private final class TaskStats extends SparkListener {
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      durations.add((e.stageId, e.taskInfo.duration))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0)
      else if (Files.exists(Paths.get("/tmp/amp10"))) "/tmp/amp10"
      else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) args(1) else "/tmp/skew_audit.json"
    val hotPct = if (args.length > 2) args(2).toInt else 40
    val spark = graft.ScaleConfig.session(graft.ScaleConfig.plain)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // measure the raw shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    // hotPct% of rows land on user 0 — a power-law hot key
    val ev = Tables.load(spark, srcDir, "events")
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(100)) < hotPct, lit(0L)).otherwise(col("user_id")))
      .select("user_id", "event_id", "value").persist()
    val n = ev.count()
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("cohort", concat(lit("c"), pmod(col("user_id"), lit(8))))
      .persist()
    dim.count()

    /** Run `body` warm (once untimed), then timed with task stats; return
      * (wallSec, maxTaskMs, medianTaskMs, tasks) of the heaviest stage. */
    def measure(body: => Unit): (Double, Long, Long, Int) = {
      body // warm: codegen + cache
      val stats = new TaskStats
      spark.sparkContext.addSparkListener(stats)
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      // listener delivery is async
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(stats)
      import scala.jdk.CollectionConverters._
      val byStage = stats.durations.asScala.toSeq.groupBy(_._1)
      val (_, ds) = byStage.maxBy { case (_, xs) => xs.map(_._2).max }
      val sorted = ds.map(_._2).sorted
      (wall, sorted.last, sorted(sorted.size / 2), sorted.size)
    }

    // --- aggregation ---
    def plainAgg() = ev.groupBy("user_id")
      .agg(sum(col("value")).as("sum_value"), count(col("value")).as("count_value"))
    def saltAgg() = Skew.saltedAgg(ev, Seq("user_id"),
      Seq("value" -> Skew.Sum, "value" -> Skew.Count), buckets = 32)
    val (aw, amax, amed, an) = measure { plainAgg().collect(): Unit }
    val (sw, smax, smed, sn) = measure { saltAgg().collect(): Unit }
    val aggEqual = {
      val p = plainAgg().collect().map(r =>
        r.getLong(0) -> ((math.rint(r.getDouble(1) * 100) / 100, r.getLong(2)))).toMap
      val s = saltAgg().collect().map(r =>
        r.getLong(0) -> ((math.rint(r.getDouble(1) * 100) / 100, r.getLong(2)))).toMap
      p == s
    }

    // --- join (SMJ regime: broadcasts disabled) ---
    def plainJoin() = ev.join(dim, Seq("user_id"))
      .agg(count(lit(1)), sum(length(col("cohort"))))
    def saltJoin() = Skew.saltedJoin(ev, dim, Seq("user_id"), buckets = 32)
      .agg(count(lit(1)), sum(length(col("cohort"))))
    val (jw, jmax, jmed, jn) = measure { plainJoin().collect(): Unit }
    val (kw, kmax, kmed, kn) = measure { saltJoin().collect(): Unit }
    val joinEqual = plainJoin().collect().toSeq.toString ==
      saltJoin().collect().toSeq.toString

    require(aggEqual && joinEqual, "salted results diverged from plain")
    val json =
      f"""{
         |  "note": "Skew mitigation, measured: $n rows with $hotPct%% remapped to ONE hot user; plain shuffle vs salted (32 buckets), broadcasts disabled, AQE off to expose the raw shuffle. max_task_ms is the straggler - the cluster-scale critical path. TWO findings, both honest: (1) for ALGEBRAIC aggregates, Spark's map-side partial aggregation already bounds reduce-side hot-key state (one partial row per key per map task), so saltedAgg only adds per-row salt hashing here - measured slower at identical results; it is insurance for workloads whose partials cannot collapse (huge group cardinality, memory-bounded buffers), not a win for sum/count on this shape. (2) for the SMJ join the hot key DOES concentrate in one reduce task (plain max >> median) and saltedJoin flattens the straggler at identical results (verified row-for-row) - this is the case that matters at 100 TB. Wall times on a single box understate the cluster win: the straggler only becomes the job time when the other executors are done.",
         |  "src_dir": "$srcDir",
         |  "hot_pct": $hotPct,
         |  "rows": $n,
         |  "agg": {
         |    "plain":  {"wall_sec": $aw%.3f, "max_task_ms": $amax, "median_task_ms": $amed, "tasks": $an},
         |    "salted": {"wall_sec": $sw%.3f, "max_task_ms": $smax, "median_task_ms": $smed, "tasks": $sn},
         |    "results_equal": $aggEqual
         |  },
         |  "join": {
         |    "plain":  {"wall_sec": $jw%.3f, "max_task_ms": $jmax, "median_task_ms": $jmed, "tasks": $jn},
         |    "salted": {"wall_sec": $kw%.3f, "max_task_ms": $kmax, "median_task_ms": $kmed, "tasks": $kn},
         |    "results_equal": $joinEqual
         |  }
         |}""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}

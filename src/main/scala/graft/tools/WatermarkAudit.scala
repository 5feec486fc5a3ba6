package graft.tools

import graft.Tables
import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** A9 late-data evidence as an artifact (VERDICT r5 §8): the corpus'
  * newer half is ingested in run 1; the older half arrives AFTER run 1
  * commits (a late backfill) and is replayed in run 2 on the same
  * checkpoint. Because the 30-minute watermark persisted in the
  * checkpoint is already at (max ts − 30 min), every older row is late:
  * the engine must DROP them all — observable via
  * [[StreamingOps.DropMetricsListener]] (the state-store
  * `numRowsDroppedByWatermark` counters, which count post-partial-
  * aggregation rows, i.e. late (window, event_type) pairs).
  *
  * Why two runs rather than two files in one AvailableNow run: the
  * late-event filter uses the watermark of the last COMMITTED batch, so
  * back-to-back catch-up batches inside one run intentionally admit a
  * late file processed immediately after the watermark-advancing batch
  * (backfill-friendly); drops are enforced for data arriving in a later
  * trigger or run — the semantics a production A9 consumer relies on.
  * (Verified empirically against Spark 4.1 in both shapes.)
  *
  * Run: `sbt "runMain graft.tools.WatermarkAudit [sfDir] [outJson]"`.
  */
object WatermarkAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) args(1) else "/tmp/watermark_audit.json"
    val spark = graft.ScaleConfig.session(graft.ScaleConfig.plain)

    val ev = Tables.load(spark, sfDir, "events").persist()
    val inputRows = ev.count()
    val midTs = ev.withColumn("_us", unix_micros(col("ts")).cast("double"))
      .stat.approxQuantile("_us", Array(0.5), 0.001).head

    val base = Files.createTempDirectory("graft_wm")
    val src = s"$base/src"
    Files.createDirectories(Paths.get(src))
    val newer = ev.filter(unix_micros(col("ts")) >= midTs.toLong)
    val older = ev.filter(unix_micros(col("ts")) < midTs.toLong)
    newer.coalesce(1).write.parquet(s"$base/n")
    older.coalesce(1).write.parquet(s"$base/o")
    def place(from: String, name: String): Unit = {
      val part = new java.io.File(from).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $from"))
      Files.copy(part.toPath, Paths.get(src, name))
    }

    val drops = new StreamingOps.DropMetricsListener
    spark.streams.addListener(drops)
    val schema = spark.read.parquet(s"$base/n").schema
    def drain(): Unit = {
      val stream = Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(src), "ts")
      val q = StreamingOps.windowedAgg(stream,
          window_ = "1 hour", watermark = "30 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", s"$base/ck").option("path", s"$base/out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), "stream did not drain")
    }

    place(s"$base/n", "run1_newer.parquet")
    drain() // run 1: watermark advances to max(ts) - 30 min, committed
    val dropsAfterRun1 = drops.droppedByWatermark
    place(s"$base/o", "run2_older_backfill.parquet")
    drain() // run 2: the entire older half is behind the checkpointed watermark
    val deadline = System.nanoTime() + 15e9.toLong
    while (drops.droppedByWatermark == dropsAfterRun1 && System.nanoTime() < deadline)
      Thread.sleep(200) // listener delivery is async
    spark.streams.removeListener(drops)

    val dropped = drops.droppedByWatermark - dropsAfterRun1
    val emitted = spark.read.parquet(s"$base/out").count()
    val batchWindows = StreamingOps.windowedAgg(ev).count()
    val lateWindowRows = StreamingOps.windowedAgg(older).count()
    require(dropped > 0,
      "expected the late backfill to be dropped by the checkpointed watermark")

    // ---- phase 2: the as-of enrichment path (round-8, VERDICT r7
    // missing #3): same two-run protocol — run 1 ingests the newer half
    // of facts AND dims, committing the 30-minute watermark; run 2
    // backfills the older halves, which the engine's late-row filter
    // drops BEFORE they reach flatMapGroupsWithState (counted by the
    // same state-store numRowsDroppedByWatermark metric, here RAW late
    // input rows — no partial aggregation upstream of the operator).
    val facts = ev.select(col("user_id"), col("ts"), col("value"))
    val dims = ev.select(col("user_id"), col("ts"), col("event_type"))
    val fSrc = s"$base/asof_f"; val dSrc = s"$base/asof_d"
    Files.createDirectories(Paths.get(fSrc)); Files.createDirectories(Paths.get(dSrc))
    val cutUs = midTs.toLong
    facts.filter(unix_micros(col("ts")) >= cutUs).coalesce(1).write.parquet(s"$base/fn")
    facts.filter(unix_micros(col("ts")) < cutUs).coalesce(1).write.parquet(s"$base/fo")
    dims.filter(unix_micros(col("ts")) >= cutUs).coalesce(1).write.parquet(s"$base/dn")
    dims.filter(unix_micros(col("ts")) < cutUs).coalesce(1).write.parquet(s"$base/do")
    def placeIn(from: String, dest: String, name: String): Unit = {
      val part = new java.io.File(from).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $from"))
      Files.copy(part.toPath, Paths.get(dest, name))
    }
    val asofDrops = new StreamingOps.DropMetricsListener
    spark.streams.addListener(asofDrops)
    val fSchema = spark.read.parquet(s"$base/fn").schema
    val dSchema = spark.read.parquet(s"$base/dn").schema
    def drainAsOf(): Unit = {
      val fStream = Tables.normalizeTs(
        spark.readStream.schema(fSchema).parquet(fSrc), "ts")
      val dStream = Tables.normalizeTs(
        spark.readStream.schema(dSchema).parquet(dSrc), "ts")
      val q = StreamingOps.asOfEnrichStream(fStream, dStream,
          bandSeconds = 3600, watermark = "30 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", s"$base/asof_ck")
        .option("path", s"$base/asof_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), "as-of stream did not drain")
    }
    placeIn(s"$base/fn", fSrc, "run1_facts_newer.parquet")
    placeIn(s"$base/dn", dSrc, "run1_dims_newer.parquet")
    drainAsOf() // run 1: watermark commits at max(ts) - 30 min
    val asofAfterRun1 = asofDrops.droppedByWatermark
    placeIn(s"$base/fo", fSrc, "run2_facts_older_backfill.parquet")
    placeIn(s"$base/do", dSrc, "run2_dims_older_backfill.parquet")
    drainAsOf() // run 2: both older halves are behind the watermark
    val asofDeadline = System.nanoTime() + 15e9.toLong
    while (asofDrops.droppedByWatermark == asofAfterRun1 &&
      System.nanoTime() < asofDeadline)
      Thread.sleep(200)
    spark.streams.removeListener(asofDrops)
    val asofDropped = asofDrops.droppedByWatermark - asofAfterRun1
    val asofEmitted = spark.read.parquet(s"$base/asof_out").count()
    val asofLateInput = spark.read.parquet(s"$base/fo").count() +
      spark.read.parquet(s"$base/do").count()
    require(asofDropped > 0,
      "expected the late as-of backfill to be dropped by the checkpointed watermark")
    val json =
      s"""{
         |  "note": "A9 late-data contract measured on the corpus: run 1 ingests the newer half of events and commits a 30-minute watermark at (max ts - 30 min); the older half then arrives as a late backfill and run 2 replays it on the same checkpoint. Spark drops every late aggregate row, counted by StreamingOps.DropMetricsListener via the state store's numRowsDroppedByWatermark (which counts post-partial-aggregation (window, event_type) rows, not raw inputs). Emitted windows + dropped window rows ~= the batch twin's window count; the open tail windows (newer than the watermark) remain in state.",
         |  "sf_dir": "$sfDir",
         |  "window": "1 hour",
         |  "watermark": "30 minutes",
         |  "input_rows": $inputRows,
         |  "late_backfill_input_rows": ${older.count()},
         |  "late_window_rows_in_backfill": $lateWindowRows,
         |  "agg_rows_dropped_by_watermark": $dropped,
         |  "windows_emitted_append": $emitted,
         |  "batch_twin_windows": $batchWindows,
         |  "asof_enrich": {
         |    "note": "asOfEnrichStream (A9 for the stream-stream as-of path): run 1 ingests the newer half of facts and dims and commits a 30-minute watermark; run 2 backfills both older halves on the same checkpoint. The engine's late-row filter drops them before flatMapGroupsWithState — numRowsDroppedByWatermark here counts RAW late input rows (facts + dims, no partial aggregation upstream). Emitted rows are the facts the watermark strictly passed in run 1.",
         |    "watermark": "30 minutes",
         |    "band_seconds": 3600,
         |    "late_backfill_input_rows": $asofLateInput,
         |    "rows_dropped_by_watermark": $asofDropped,
         |    "facts_emitted_append": $asofEmitted
         |  }
         |}""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}

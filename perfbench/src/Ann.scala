package perfbench

import graft.streaming.StreamingOps
import graft.vector.{IndexStore, Similarity}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The ANN serving phase of a traced `olap` run: an IVF index over the
  * generated base vectors is trained and written with
  * [[IndexStore.writeIvf]]; then 10-query probe batches, each reading the
  * store back, alternate with growth files streamed into the store through
  * [[StreamingOps.ivfIndexSink]] (one micro-batch each); then every query
  * batch is probed, the store is compacted with [[IndexStore.compactIvf]]
  * and every batch is probed again.
  *
  * Checks: one store segment per streamed batch, every vector in the
  * grown store, the same probe rows before and after compaction, and
  * recall@10 against [[Similarity.bruteForceTopK]] over the grown corpus
  * of at least [[RecallFloor]].
  */
object Ann {
  import PerfBench._

  val K = 10
  val Cells = 32
  val NProbe = 16
  val BatchSize = 10
  val RecallFloor = 0.8

  /** Spans of the phase when traced; a plain call otherwise. */
  final class Spans(tracer: Option[Tracer]) {
    def apply[A](layer: String, name: String)(f: => A): A =
      tracer.fold(f)(_.span(layer, name)(f))
  }

  /** One probe result row: query, neighbour, rank, similarity. */
  type Hit = (Long, Long, Int, Double)

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    val tracer = if (o.trace) Some(new Tracer) else None
    val span = new Spans(tracer)
    tracer.foreach(_.attach(spark))
    val hits = try Some(span("round", "ann")(serve(spark, o, r, span)))
    catch { case e: Throwable =>
      r.failed += 1
      r.check("ann.completed", false)
      System.err.println(s"[perfbench] ANN phase failed: $e")
      None
    } finally tracer.foreach(_.detach())
    tracer.foreach(t => reportTrace(t, 1, cores, s"${o.out}/ann_spans.jsonl", r, "ann."))
    hits.foreach(h => checkRecall(spark, o, r, h))
  }

  /** The timed phase; returns the probe rows after compaction. */
  private def serve(spark: SparkSession, o: Opts, r: Result, span: Spans): Seq[Hit] = {
    val in = s"${o.inputs}/ann"
    val store = s"${o.out}/ann/store"
    val src = Paths.get(s"${o.out}/ann/src")
    Files.createDirectories(src)
    val base = spark.read.parquet(s"$in/base.parquet")
    val baseRows = base.count()
    val growthFiles = new java.io.File(s"$in/growth").listFiles().map(_.toPath)
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString).toSeq
    val growthRows = spark.read.parquet(s"$in/growth").count()
    val queries = spark.read.parquet(s"$in/queries.parquet")
    val batches = queries.orderBy("vec_id").collect().grouped(BatchSize).map { b =>
      spark.createDataFrame(java.util.Arrays.asList(b: _*), queries.schema)
    }.toIndexedSeq

    r.attempted += 1
    val (index, trainS) = secondsOf(span("call", "train") {
      Similarity.ivfIndex(base, "vec_id", "embedding", numCells = Cells)
    })
    val (_, writeS) = secondsOf(span("call", "store write")(IndexStore.writeIvf(index, store)))

    val readMs, probeMs, latMs = mutable.ArrayBuffer.empty[Double]
    def probe(i: Int, tag: String): Seq[Hit] = span("call", s"probe $tag $i") {
      r.attempted += 1
      val (idx, readS) = secondsOf(span("read", "store read")(IndexStore.readIvf(spark, store)))
      val (rows, probeS) = secondsOf(
        Similarity.ivfTopKIndexed(idx, batches(i), "vec_id", "embedding", K, NProbe).collect())
      readMs += readS * 1000; probeMs += probeS * 1000; latMs += (readS + probeS) * 1000
      rows.toSeq.map(h => (h.getAs[Long]("query_id"), h.getAs[Long]("id"),
        h.getAs[Int]("rk"), h.getAs[Double]("sim")))
    }

    // serving with growth: a probe batch before each streamed growth file
    val stream = spark.readStream.schema(base.schema).option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val query = StreamingOps.ivfIndexSink(stream, store, "vec_id", "embedding")
      .option("checkpointLocation", s"${o.out}/ann/checkpoint").start()
    val appendS = mutable.ArrayBuffer.empty[Double]
    try {
      growthFiles.zipWithIndex.foreach { case (f, i) =>
        probe(i % batches.size, "serve")
        r.attempted += 1
        appendS += secondsOf(span("call", s"append $i") {
          // hidden while copied, then renamed into the source directory
          val tmp = src.resolve(s".part-$i.parquet")
          Files.copy(f, tmp)
          Files.move(tmp, src.resolve(s"part-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
          query.processAllAvailable()
        })._2
      }
    } finally query.stop()
    val batchMs = query.recentProgress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue).toSeq
    val segments = IndexStore.segmentCount(spark, store, "data")
    val storedRows = IndexStore.readIvf(spark, store).data.count()
    check(r, "ann.one_segment_per_batch",
      batchMs.size == growthFiles.size && segments == 1 + growthFiles.size)
    check(r, "ann.store_holds_every_vector", storedRows == baseRows + growthRows)

    val before = batches.indices.flatMap(probe(_, "pre"))
    r.attempted += 1
    val (_, compactS) = secondsOf(span("call", "compact")(IndexStore.compactIvf(spark, store)))
    val after = batches.indices.flatMap(probe(_, "post"))
    check(r, "ann.compaction_keeps_probe_rows",
      IndexStore.segmentCount(spark, store, "data") == 1 && before.sorted == after.sorted)

    val dataPath = new org.apache.hadoop.fs.Path(s"$store/data")
    val bytes = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(dataPath).getLength
    r.put("ann.build_s", trainS + writeS, "s")
    r.put("ann.probe_p50_ms", quantile(latMs.toSeq, 0.5), "ms")
    r.put("ann.probe_p90_ms", quantile(latMs.toSeq, 0.9), "ms")
    r.put("ann.append_rows_per_s", growthRows / appendS.sum, "1/s")
    r.put("vector.train_s", trainS, "s")
    r.put("vector.store_write_s", writeS, "s")
    r.put("vector.store_read_ms", median(readMs.toSeq), "ms")
    r.put("vector.probe_ms", median(probeMs.toSeq), "ms")
    r.put("vector.segments", segments, "count")
    r.put("vector.compact_s", compactS, "s")
    r.put("vector.bytes_per_vector", bytes.toDouble / storedRows, "B")
    r.put("stream.batches", batchMs.size, "count")
    if (batchMs.nonEmpty) {
      r.put("stream.batch_p50_ms", quantile(batchMs, 0.5), "ms")
      r.put("stream.batch_p90_ms", quantile(batchMs, 0.9), "ms")
    }
    log(s"ANN phase: train $trainS s, write $writeS s, ${latMs.size} probes, " +
      s"appends ${appendS.mkString(", ")} s, compact $compactS s")
    after
  }

  /** Recall@10 of the probes after compaction against the exact top 10
    * over the grown corpus. Untimed. */
  private def checkRecall(spark: SparkSession, o: Opts, r: Result, hits: Seq[Hit]): Unit = {
    val in = s"${o.inputs}/ann"
    val corpus = spark.read.parquet(s"$in/base.parquet")
      .unionByName(spark.read.parquet(s"$in/growth"))
    val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      spark.read.parquet(s"$in/queries.parquet"), "vec_id", "embedding", K)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("id")).toSet }
    val got = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).toSet }
    val recall = truth.toSeq.map { case (q, ids) =>
      (got.getOrElse(q, Set.empty[Long]) intersect ids).size.toDouble / ids.size
    }.sum / math.max(1, truth.size)
    log(s"ANN recall@$K: $recall")
    r.put("ann.recall_at_10", recall, "ratio")
    check(r, "ann.recall_floor", truth.nonEmpty && recall >= RecallFloor)
  }

  private def check(r: Result, name: String, ok: Boolean): Unit = {
    r.check(name, ok)
    if (!ok) r.failed += 1
  }
}

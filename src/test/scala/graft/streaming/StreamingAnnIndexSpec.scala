package graft.streaming

import graft.{SparkSpec, Tables}
import graft.vector.{IndexStore, Pq, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ANN index maintenance (r10): a vector stream grows a
  * durable [[IndexStore]] through [[StreamingOps.lshIndexSink]] /
  * [[StreamingOps.ivfIndexSink]], and the grown store serves probes
  * IDENTICAL to a batch index at the same frozen geometry — plus the
  * exactly-once discipline under an injected micro-batch replay.
  */
class StreamingAnnIndexSpec extends SparkSpec {

  private def emb: DataFrame = Tables.load(spark, sf, "embeddings")

  private def probe(idx: Similarity.LshIndex, qs: DataFrame) =
    Similarity.annTopKIndexed(idx, qs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet

  private def probeIvf(idx: Similarity.IvfIndex, qs: DataFrame) =
    Similarity.ivfTopKIndexed(idx, qs, "vec_id", "embedding", 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet

  test("stream-grown LSH store probes == batch rebuild at the same geometry") {
    initQuiet()
    val queries = emb.filter(col("vec_id") < 10)
    val base = emb.filter(col("vec_id") >= 10 && pmod(col("vec_id"), lit(2)) === 0)
    val growth = emb.filter(col("vec_id") >= 10 && pmod(col("vec_id"), lit(2)) === 1)
    assert(growth.count() > 0)
    val dir = java.nio.file.Files.createTempDirectory("lsh_store").toString
    // geometry frozen at build: pOverride pins p so the rebuild below
    // bands identically (lshIndex would otherwise auto-size p from n)
    IndexStore.writeLsh(
      Similarity.lshIndex(base, "vec_id", "embedding", L = 8,
        pOverride = Some(5)), dir)
    // replay the growth slice as a multi-batch file stream
    val src = java.nio.file.Files.createTempDirectory("growth_src").toString
    growth.repartition(3).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingOps.lshIndexSink(stream, dir, "vec_id", "embedding")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("lsh_ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val grown = IndexStore.readLsh(spark, dir)
    assert(grown.banded.count() ===
      (base.count() + growth.count()) * grown.L)
    val rebuilt = Similarity.lshIndex(base.unionByName(growth),
      "vec_id", "embedding", L = 8, pOverride = Some(5))
    val got = probe(grown, queries)
    val ref = probe(rebuilt, queries)
    assert(got === ref,
      s"probe diverged: only-rebuild=${(ref -- got).take(5)} " +
        s"only-stream=${(got -- ref).take(5)}")
    assert(got.nonEmpty)
  }

  test("LSH sink batch replay is idempotent (exactly-once by path)") {
    initQuiet()
    val queries = emb.filter(col("vec_id") < 10)
    val base = emb.filter(col("vec_id") >= 10 && col("vec_id") < 30)
    val slice = emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("lsh_replay").toString
    IndexStore.writeLsh(
      Similarity.lshIndex(base, "vec_id", "embedding", L = 8,
        pOverride = Some(5)), dir)
    StreamingOps.indexBatch(slice, 0L, dir)(
      StreamingOps.lshSegments(dir, "vec_id", "embedding"))
    val before = probe(IndexStore.readLsh(spark, dir), queries)
    val rowsBefore = IndexStore.readLsh(spark, dir).banded.count()
    // the injected crash-replay: the same batchId fires again
    StreamingOps.indexBatch(slice, 0L, dir)(
      StreamingOps.lshSegments(dir, "vec_id", "embedding"))
    val after = probe(IndexStore.readLsh(spark, dir), queries)
    assert(IndexStore.readLsh(spark, dir).banded.count() === rowsBefore,
      "replayed batch duplicated its postings")
    assert(after === before)
  }

  test("stream-grown IVF store probes == full assignment at the frozen centroids") {
    initQuiet()
    val queries = emb.filter(col("vec_id") < 10)
    val base = emb.filter(col("vec_id") >= 10 && pmod(col("vec_id"), lit(2)) === 0)
    val growth = emb.filter(col("vec_id") >= 10 && pmod(col("vec_id"), lit(2)) === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf_store").toString
    val baseIdx = Similarity.ivfIndex(base, "vec_id", "embedding", numCells = 8)
    IndexStore.writeIvf(baseIdx, dir)
    val src = java.nio.file.Files.createTempDirectory("ivf_src").toString
    growth.repartition(3).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingOps.ivfIndexSink(stream, dir, "vec_id", "embedding")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ivf_ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val grown = IndexStore.readIvf(spark, dir)
    assert(grown.centroids === baseIdx.centroids) // frozen, not retrained
    // the rebuild at the SAME centroids: assign the full corpus in one
    // pass (what ivfIndexAppend's provably-equal claim reduces to)
    val rebuilt = baseIdx.copy(data = Similarity.ivfSegment(
      baseIdx, base.unionByName(growth), "vec_id", "embedding"))
    val got = probeIvf(grown, queries)
    val ref = probeIvf(rebuilt, queries)
    assert(got === ref,
      s"probe diverged: only-rebuild=${(ref -- got).take(5)} " +
        s"only-stream=${(got -- ref).take(5)}")
    assert(got.nonEmpty)
  }

  test("stream-grown IVF-PQ store probes == full encode at the frozen model") {
    initQuiet()
    val queries = emb.filter(col("vec_id") < 10)
    val base = emb.filter(col("vec_id") >= 10 && pmod(col("vec_id"), lit(2)) === 0)
    val growth = emb.filter(col("vec_id") >= 10 && pmod(col("vec_id"), lit(2)) === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_store").toString
    val baseIdx = Pq.ivfPqIndex(base, "vec_id", "embedding",
      numCells = 8, m = 8, ksub = 16, lloydIters = 1)
    IndexStore.writeIvfPq(baseIdx, dir)
    val src = java.nio.file.Files.createTempDirectory("ivfpq_src").toString
    growth.repartition(3).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = StreamingOps.ivfPqIndexSink(stream, dir, "vec_id", "embedding")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ivfpq_ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val grown = IndexStore.readIvfPq(spark, dir)
    assert(grown.centroids === baseIdx.centroids) // frozen, not retrained
    assert(grown.model.books === baseIdx.model.books)
    // the coded store never carries float vectors
    assert(!grown.data.columns.contains("v"))
    val rebuilt = baseIdx.copy(data = Pq.ivfPqSegment(
      baseIdx, base.unionByName(growth), "vec_id", "embedding"))
    def probePq(idx: Pq.IvfPqIndex) =
      Pq.ivfPqTopK(idx, queries, "vec_id", "embedding", 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val got = probePq(grown)
    val ref = probePq(rebuilt)
    assert(got === ref,
      s"probe diverged: only-rebuild=${(ref -- got).take(5)} " +
        s"only-stream=${(got -- ref).take(5)}")
    assert(got.nonEmpty)
    // replay idempotence at the coded grain: crash-replay a batch
    // (same id, same rows) — the segment path overwrites, row count
    // must not move
    val extra = emb.filter(col("vec_id") < 10) // ids unused by the store
    StreamingOps.indexBatch(extra, 99L, dir)(
      StreamingOps.ivfPqSegments(dir, "vec_id", "embedding"))
    val rowsBefore = IndexStore.readIvfPq(spark, dir).data.count()
    StreamingOps.indexBatch(extra, 99L, dir)(
      StreamingOps.ivfPqSegments(dir, "vec_id", "embedding"))
    assert(IndexStore.readIvfPq(spark, dir).data.count() === rowsBefore,
      "replayed batch duplicated coded rows")
  }
}

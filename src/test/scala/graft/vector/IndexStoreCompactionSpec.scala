package graft.vector

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IndexStore maintenance pair (r10 verdict #3): compaction is a pure
  * segment merge — probe results and stored row multisets are pinned
  * identical before/after — and the rebuild path re-sizes/retrains,
  * pinned equal to a fresh build over the merged corpus. Also pins the
  * geometry-only probe guard (r10 ADVICE: fail with a message, not an
  * NPE).
  */
class IndexStoreCompactionSpec extends SparkSpec {

  private def emb: DataFrame = Tables.load(spark, sf, "embeddings")

  private def probe(idx: Similarity.LshIndex, qs: DataFrame) =
    Similarity.annTopKIndexed(idx, qs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet

  private def probeIvf(idx: Similarity.IvfIndex, qs: DataFrame) =
    Similarity.ivfTopKIndexed(idx, qs, "vec_id", "embedding", 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** Base store + `n` appended segments written the way the streaming
    * sinks write them (same segment projection, same `batch=<id>`
    * overwrite paths). */
  private def lshStoreWithSegments(n: Int): (String, DataFrame) = {
    val base = emb.filter(col("vec_id") >= 10 && col("vec_id") < 40)
    val dir = tmp("lsh_compact")
    IndexStore.writeLsh(
      Similarity.lshIndex(base, "vec_id", "embedding", L = 8,
        pOverride = Some(5)), dir)
    val geom = IndexStore.readLshGeometry(spark, dir)
    (0 until n).foreach { i =>
      val slice = emb.filter(col("vec_id") >= 40 + i * 10 &&
        col("vec_id") < 50 + i * 10)
      val (b, v) = Similarity.lshSegment(geom, slice, "vec_id", "embedding")
      b.write.mode("overwrite").parquet(s"$dir/banded/batch=$i")
      v.write.mode("overwrite").parquet(s"$dir/vectors/batch=$i")
    }
    (dir, emb.filter(col("vec_id") < 10))
  }

  private def ivfStoreWithSegments(n: Int): (String, DataFrame) = {
    val base = emb.filter(col("vec_id") >= 10 && col("vec_id") < 40)
    val dir = tmp("ivf_compact")
    IndexStore.writeIvf(
      Similarity.ivfIndex(base, "vec_id", "embedding", numCells = 8), dir)
    val geom = IndexStore.readIvfGeometry(spark, dir)
    (0 until n).foreach { i =>
      val slice = emb.filter(col("vec_id") >= 40 + i * 10 &&
        col("vec_id") < 50 + i * 10)
      Similarity.ivfSegment(geom, slice, "vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/data/batch=$i")
    }
    (dir, emb.filter(col("vec_id") < 10))
  }

  test("compactLsh: segments collapse to one base, probes identical") {
    initQuiet()
    val (dir, queries) = lshStoreWithSegments(3)
    assert(IndexStore.segmentCount(spark, dir, "banded") === 4) // base + 3
    val before = IndexStore.readLsh(spark, dir)
    val probeBefore = probe(before, queries)
    val bandedBefore = before.banded.count()
    val vectorsBefore = before.vectors.count()
    IndexStore.compactLsh(spark, dir, targetPartitions = 2)
    assert(IndexStore.segmentCount(spark, dir, "banded") === 1)
    assert(IndexStore.segmentCount(spark, dir, "vectors") === 1)
    val after = IndexStore.readLsh(spark, dir)
    assert(after.banded.count() === bandedBefore)
    assert(after.vectors.count() === vectorsBefore)
    assert(after.p === before.p && after.seed === before.seed) // geometry untouched
    val probeAfter = probe(after, queries)
    assert(probeAfter === probeBefore, "compaction changed probe results")
    assert(probeAfter.nonEmpty)
  }

  test("compactIvf: segments collapse, centroids untouched, probes identical") {
    initQuiet()
    val (dir, queries) = ivfStoreWithSegments(3)
    assert(IndexStore.segmentCount(spark, dir, "data") === 4)
    val before = IndexStore.readIvf(spark, dir)
    val probeBefore = probeIvf(before, queries)
    val rowsBefore = before.data.count()
    IndexStore.compactIvf(spark, dir)
    assert(IndexStore.segmentCount(spark, dir, "data") === 1)
    val after = IndexStore.readIvf(spark, dir)
    assert(after.data.count() === rowsBefore)
    assert(after.centroids === before.centroids)
    val probeAfter = probeIvf(after, queries)
    assert(probeAfter === probeBefore, "compaction changed probe results")
    assert(probeAfter.nonEmpty)
  }

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  test("write* onto a store with appended segments leaves only the new index") {
    initQuiet()
    val slice = emb.filter(col("vec_id") >= 60 && col("vec_id") < 100)
    val (ivfDir, _) = ivfStoreWithSegments(1) // 8 cells, base + 1 segment
    val ivf = Similarity.ivfIndex(slice, "vec_id", "embedding", numCells = 4)
    IndexStore.writeIvf(ivf, ivfDir)
    assert(IndexStore.segmentCount(spark, ivfDir, "data") === 1)
    val ivfRead = IndexStore.readIvf(spark, ivfDir)
    assert(ivfRead.centroids === ivf.centroids)
    assert(rows(ivfRead.data) === rows(ivf.data),
      "the store kept rows of the index it replaced")
    val (lshDir, _) = lshStoreWithSegments(1)
    val lsh = Similarity.lshIndex(slice, "vec_id", "embedding", L = 4,
      pOverride = Some(3))
    IndexStore.writeLsh(lsh, lshDir)
    assert(IndexStore.segmentCount(spark, lshDir, "banded") === 1)
    assert(IndexStore.segmentCount(spark, lshDir, "vectors") === 1)
    val lshRead = IndexStore.readLsh(spark, lshDir)
    assert(lshRead.p === 3 && lshRead.L === 4)
    assert(rows(lshRead.banded) === rows(lsh.banded),
      "the store kept postings of the index it replaced")
    assert(rows(lshRead.vectors) === rows(lsh.vectors))
  }

  test("compactIvf heals a store left mid-swap, losing no row") {
    initQuiet()
    import java.nio.file.{Files, Paths}
    // the two states a crash between the swap's renames can leave: the
    // live tree moved aside with the complete compacted copy beside it
    // (committed: promoted), or with an uncommitted one (put back)
    for (committed <- Seq(true, false)) {
      val (dir, queries) = ivfStoreWithSegments(3)
      val before = IndexStore.readIvf(spark, dir)
      val rowsBefore = rows(before.data)
      val probeBefore = probeIvf(before, queries)
      spark.read.parquet(s"$dir/data").drop("batch")
        .write.parquet(s"$dir/data.staged/batch=-1")
      if (committed) Files.createFile(Paths.get(s"$dir/data.staged/_SUCCESS"))
      Files.move(Paths.get(s"$dir/data"), Paths.get(s"$dir/data.old"))
      IndexStore.compactIvf(spark, dir)
      assert(IndexStore.segmentCount(spark, dir, "data") === 1)
      val after = IndexStore.readIvf(spark, dir)
      assert(rows(after.data) === rowsBefore, s"committed=$committed")
      assert(probeIvf(after, queries) === probeBefore)
      assert(!Files.exists(Paths.get(s"$dir/data.staged")) &&
        !Files.exists(Paths.get(s"$dir/data.old")))
    }
  }

  test("rebuildLsh == fresh build over the merged corpus (and collapses segments)") {
    initQuiet()
    val (dir, queries) = lshStoreWithSegments(2)
    val storedVectors = IndexStore.readLsh(spark, dir).vectors
      .select(col("id"), col("v")).persist()
    storedVectors.count()
    IndexStore.rebuildLsh(spark, dir, L = 8, bucketTarget = 4)
    assert(IndexStore.segmentCount(spark, dir, "banded") === 1)
    val rebuilt = IndexStore.readLsh(spark, dir)
    val fresh = Similarity.lshIndex(storedVectors, "id", "v",
      L = 8, bucketTarget = 4)
    assert(rebuilt.p === fresh.p, "rebuild must re-size p to the full corpus")
    assert(probe(rebuilt, queries) === probe(fresh, queries))
    storedVectors.unpersist()
  }

  test("rebuildIvf retrains == fresh build over the merged corpus") {
    initQuiet()
    val (dir, queries) = ivfStoreWithSegments(2)
    val storedData = IndexStore.readIvf(spark, dir).data
      .select(col("id"), col("v")).persist()
    storedData.count()
    IndexStore.rebuildIvf(spark, dir, numCells = 8)
    assert(IndexStore.segmentCount(spark, dir, "data") === 1)
    val rebuilt = IndexStore.readIvf(spark, dir)
    val fresh = Similarity.ivfIndex(storedData, "id", "v", numCells = 8)
    assert(rebuilt.centroids === fresh.centroids,
      "rebuild must retrain (deterministic Lloyd) over the merged corpus")
    assert(probeIvf(rebuilt, queries) === probeIvf(fresh, queries))
    storedData.unpersist()
  }

  private def probePq(idx: Pq.IvfPqIndex, qs: DataFrame) =
    Pq.ivfPqTopK(idx, qs, "vec_id", "embedding", 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet

  /** IVF-PQ store + segments written the sink's way (coded grain). */
  private def ivfPqStoreWithSegments(n: Int): (String, DataFrame) = {
    val base = emb.filter(col("vec_id") >= 10 && col("vec_id") < 40)
    val dir = tmp("ivfpq_compact")
    IndexStore.writeIvfPq(
      Pq.ivfPqIndex(base, "vec_id", "embedding",
        numCells = 8, m = 8, ksub = 16, lloydIters = 1), dir)
    val geom = IndexStore.readIvfPqGeometry(spark, dir)
    (0 until n).foreach { i =>
      val slice = emb.filter(col("vec_id") >= 40 + i * 10 &&
        col("vec_id") < 50 + i * 10)
      Pq.ivfPqSegment(geom, slice, "vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/data/batch=$i")
    }
    (dir, emb.filter(col("vec_id") < 10))
  }

  test("compactIvfPq: segments collapse, model untouched, probes identical") {
    initQuiet()
    val (dir, queries) = ivfPqStoreWithSegments(3)
    assert(IndexStore.segmentCount(spark, dir, "data") === 4)
    val before = IndexStore.readIvfPq(spark, dir)
    val probeBefore = probePq(before, queries)
    val rowsBefore = before.data.count()
    IndexStore.compactIvfPq(spark, dir)
    assert(IndexStore.segmentCount(spark, dir, "data") === 1)
    val after = IndexStore.readIvfPq(spark, dir)
    assert(after.data.count() === rowsBefore)
    assert(after.centroids === before.centroids)
    assert(after.model.books === before.model.books)
    val probeAfter = probePq(after, queries)
    assert(probeAfter === probeBefore, "compaction changed probe results")
    assert(probeAfter.nonEmpty)
  }

  test("rebuildIvfPq retrains both quantizers == fresh build over the given corpus") {
    initQuiet()
    val (dir, queries) = ivfPqStoreWithSegments(2)
    // the PQ store is float-free by design — rebuild reads the at-rest
    // float table, here the same slices the segments encoded
    val vectors = emb.filter(col("vec_id") >= 10 && col("vec_id") < 60)
    IndexStore.rebuildIvfPq(spark, dir, vectors, "vec_id", "embedding",
      numCells = 8, m = 8, ksub = 16, lloydIters = 1)
    assert(IndexStore.segmentCount(spark, dir, "data") === 1)
    val rebuilt = IndexStore.readIvfPq(spark, dir)
    val fresh = Pq.ivfPqIndex(vectors, "vec_id", "embedding",
      numCells = 8, m = 8, ksub = 16, lloydIters = 1)
    assert(rebuilt.centroids === fresh.centroids,
      "rebuild must retrain coarse centroids (deterministic Lloyd)")
    assert(rebuilt.model.books === fresh.model.books,
      "rebuild must retrain the PQ codebooks (deterministic Lloyd)")
    assert(probePq(rebuilt, queries) === probePq(fresh, queries))
  }

  test("geometry-only reads fail probes with a message, not an NPE") {
    initQuiet()
    val (lshDir, queries) = lshStoreWithSegments(0)
    val lshGeom = IndexStore.readLshGeometry(spark, lshDir)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.annTopKIndexed(lshGeom, queries, "vec_id", "embedding", 5)
    }
    assert(e1.getMessage.contains("geometry-only"))
    val (ivfDir, _) = ivfStoreWithSegments(0)
    val ivfGeom = IndexStore.readIvfGeometry(spark, ivfDir)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(ivfGeom, queries, "vec_id", "embedding", 5,
        nProbe = 4)
    }
    assert(e2.getMessage.contains("geometry-only"))
    val (pqDir, _) = ivfPqStoreWithSegments(0)
    val pqGeom = IndexStore.readIvfPqGeometry(spark, pqDir)
    val e3 = intercept[IllegalArgumentException] {
      Pq.ivfPqTopK(pqGeom, queries, "vec_id", "embedding", 5, nProbe = 4)
    }
    assert(e3.getMessage.contains("geometry-only"))
  }
}

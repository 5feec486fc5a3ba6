package graft.vector

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  test("ANN recall@5 >= 0.8 vs brute force over 20 queries") {
    val queries = emb.filter(col("vec_id") < 20)
    val corpus = emb.filter(col("vec_id") >= 20)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))).toSet
    val approx = Similarity.annTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 = $recall")
  }

  test("IVF recall@5 >= 0.8 vs brute force over 20 queries") {
    val queries = emb.filter(col("vec_id") < 20)
    val corpus = emb.filter(col("vec_id") >= 20)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))).toSet
    // near-random embeddings carry weak cluster structure, so recall
    // needs a generous probe fraction (8/16 cells) at this tiny scale
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, numCells = 16, nProbe = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall@5 = $recall")
  }

  test("IVF probing all cells equals brute force exactly") {
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"), r.getAs[Long]("id")))
    val full = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, numCells = 8, nProbe = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"), r.getAs[Long]("id")))
    assert(full.sorted.sameElements(exact.sorted))
  }

  test("mismatched embedding widths fail fast instead of degrading LSH") {
    import spark.implicits._
    val bad = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.nearDupCosine(bad, "vec_id", "embedding", 0.5).collect()
    }
    assert(e.getMessage.contains("dim mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dim mismatch")))
  }

  test("approx distinct within 3*rsd of exact (SURVEY A3)") {
    val events = Tables.load(spark, sf, "events")
    val exact = events.groupBy("event_type").agg(countDistinct("user_id").as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = events.groupBy("event_type")
      .agg(approx_count_distinct("user_id", 0.05).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) <= math.max(3 * 0.05 * ex, 1.0),
        s"$k: approx=${approx(k)} exact=$ex")
    }
  }

  test("IVF degenerate shapes: one cell, and fewer centroids than numCells (ADVICE r2)") {
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 3)
    val corpus = emb.filter(col("vec_id") >= 3)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"), r.getAs[Long]("id")))
    // numCells = 1: every vector lands in cell 0, probing it = brute force
    val oneCell = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, numCells = 1, nProbe = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"), r.getAs[Long]("id")))
    assert(oneCell.sorted.sameElements(exact.sorted))
    // corpus smaller than numCells: centroid count < numCells, nProbe
    // must clamp to the actual count instead of failing
    val tiny = emb.filter(col("vec_id") >= 3 && col("vec_id") < 9)
    val q1 = emb.filter(col("vec_id") === 0)
    val tinyExact = Similarity.bruteForceTopK(tiny, "vec_id", "embedding",
      q1, "vec_id", "embedding", k = 2).collect()
      .map(r => (r.getAs[Int]("rk"), r.getAs[Long]("id")))
    val clamped = Similarity.ivfTopK(tiny, "vec_id", "embedding",
      q1, "vec_id", "embedding", k = 2, numCells = 64, nProbe = 64).collect()
      .map(r => (r.getAs[Int]("rk"), r.getAs[Long]("id")))
    assert(clamped.sorted.sameElements(tinyExact.sorted))
  }

  test("int8 quantization: bounded element error, cosine ~ 1, zero vector exact") {
    val q = Similarity.quantizeInt8(emb, "embedding")
    // schema: tinyint codes + float scale (the 4x-at-rest contract)
    val qf = q.schema("q").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(qf.elementType == org.apache.spark.sql.types.ByteType)
    assert(q.schema("q_scale").dataType == org.apache.spark.sql.types.FloatType)
    // element error <= scale/2 (+ float slack); cosine(orig, dequant) ~ 1
    val deq = q.withColumn("d", Similarity.dequantizeInt8(col("q"), col("q_scale")))
    val stats = deq.select(
        max(aggregate(zip_with(col("embedding"), col("d"),
          (a, b) => abs(a.cast("double") - b.cast("double")) / (col("q_scale") + lit(1e-12))),
          lit(0.0d), (acc, x) => greatest(acc, x))).as("worst_rel"),
        min(graft.GraftFunctions.cosineSim(col("embedding").cast("array<double>"),
          col("d").cast("array<double>"))).as("min_cos"))
      .head()
    assert(stats.getDouble(0) <= 0.5 + 1e-4, s"element error ${stats.getDouble(0)} > scale/2")
    assert(stats.getDouble(1) >= 0.999, s"cosine degraded to ${stats.getDouble(1)}")
    // zero vector: scale 0, all-zero codes, exact round-trip
    import spark.implicits._
    val z = Similarity.quantizeInt8(
      Seq((1L, Array(0.0f, 0.0f, 0.0f))).toDF("id", "embedding"), "embedding")
    val zr = z.withColumn("d", Similarity.dequantizeInt8(col("q"), col("q_scale"))).head()
    assert(zr.getAs[Seq[Byte]]("q").forall(_ == 0))
    assert(zr.getAs[Seq[Float]]("d").forall(_ == 0.0f))
  }

  test("lshIndex + annTopKIndexed: one index serves many batches, equals inline annTopK") {
    val corpus = emb.filter(col("vec_id") >= 20)
    val batch1 = emb.filter(col("vec_id") < 10)
    val batch2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("sim"), r.getAs[Int]("rk"))).toSet
    // build ONCE, persist, probe twice — the serving shape
    val idx = Similarity.lshIndex(corpus, "vec_id", "embedding")
    idx.banded.persist().count()
    try {
      for (batch <- Seq(batch1, batch2)) {
        val direct = rows(Similarity.annTopK(corpus, "vec_id", "embedding",
          batch, "vec_id", "embedding", k = 5))
        val probed = rows(Similarity.annTopKIndexed(idx, batch,
          "vec_id", "embedding", k = 5))
        assert(probed === direct)
        assert(probed.nonEmpty)
      }
    } finally idx.banded.unpersist()
  }

  test("ivfIndex + ivfTopKIndexed: one index serves many batches, equals inline ivfTopK") {
    val corpus = emb.filter(col("vec_id") >= 20)
    val batch1 = emb.filter(col("vec_id") < 10)
    val batch2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
        r.getAs[Double]("sim"), r.getAs[Int]("rk"))).toSet
    // train + assign ONCE, persist, probe twice — the serving shape
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      numCells = 16)
    idx.data.persist().count()
    try {
      assert(idx.centroids.nonEmpty && idx.centroids.size <= 16)
      for (batch <- Seq(batch1, batch2)) {
        val direct = rows(Similarity.ivfTopK(corpus, "vec_id", "embedding",
          batch, "vec_id", "embedding", k = 5, numCells = 16, nProbe = 8))
        val probed = rows(Similarity.ivfTopKIndexed(idx, batch,
          "vec_id", "embedding", k = 5, nProbe = 8))
        assert(probed === direct)
        assert(probed.nonEmpty)
      }
      // probing every cell = exact over the assigned corpus
      val allProbe = rows(Similarity.ivfTopKIndexed(idx, batch1,
        "vec_id", "embedding", k = 5, nProbe = idx.centroids.size))
      val exact = rows(Similarity.bruteForceTopK(corpus, "vec_id",
        "embedding", batch1, "vec_id", "embedding", k = 5))
      assert(allProbe === exact)
    } finally idx.data.unpersist()
  }

  private def topkRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
      r.getAs[Double]("sim"), r.getAs[Int]("rk"))).toSet

  test("lshIndexAppend == full rebuild at the same geometry (r9 index append)") {
    val queries = emb.filter(col("vec_id") < 10)
    val oldCorpus = emb.filter(col("vec_id") >= 20 && col("vec_id") < 300)
    val newRows = emb.filter(col("vec_id") >= 300)
    val base = Similarity.lshIndex(oldCorpus, "vec_id", "embedding")
    val appended = Similarity.lshIndexAppend(base, newRows, "vec_id", "embedding")
    // geometry frozen: banding is a pure per-row map, so appending must
    // equal rebuilding over the union AT THE SAME p
    val rebuilt = Similarity.lshIndex(
      oldCorpus.unionByName(newRows), "vec_id", "embedding",
      pOverride = Some(base.p))
    assert(appended.p === rebuilt.p && appended.dim === rebuilt.dim)
    val a = appended.banded.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("table"), r.getAs[Long]("code"))).toSet
    val b = rebuilt.banded.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("table"), r.getAs[Long]("code"))).toSet
    assert(a === b, s"banded rows diverged: ${(a diff b).take(3)} / ${(b diff a).take(3)}")
    // and the probe sees the appended rows
    val probed = topkRows(Similarity.annTopKIndexed(appended, queries,
      "vec_id", "embedding", k = 5))
    val direct = topkRows(Similarity.annTopKIndexed(rebuilt, queries,
      "vec_id", "embedding", k = 5))
    assert(probed === direct && probed.nonEmpty)
    assert(probed.exists(_._2 >= 300), "appended vectors never surfaced as neighbors")
  }

  test("ivfIndexAppend == assignment of the union against frozen centroids (r9)") {
    val queries = emb.filter(col("vec_id") < 10)
    val oldCorpus = emb.filter(col("vec_id") >= 20 && col("vec_id") < 300)
    val newRows = emb.filter(col("vec_id") >= 300)
    val base = Similarity.ivfIndex(oldCorpus, "vec_id", "embedding", numCells = 16)
    val appended = Similarity.ivfIndexAppend(base, newRows, "vec_id", "embedding")
    assert(appended.centroids === base.centroids) // frozen, no retrain
    // appended.data must equal assigning the UNION against the frozen
    // centroids (cellAssignment is the same pure per-row argmax)
    val expectedCells = oldCorpus.unionByName(newRows)
      .select(col("vec_id").as("id"),
        Similarity.cellAssignment(
          col("embedding").cast("array<double>"), base.centroids).as("cell"))
    def cells(df: org.apache.spark.sql.DataFrame) = df.select("id", "cell").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("cell"))).toSet
    assert(cells(appended.data) === cells(expectedCells))
    // a probe over the appended index sees the new vectors
    val probed = topkRows(Similarity.ivfTopKIndexed(appended, queries,
      "vec_id", "embedding", k = 5, nProbe = 8))
    assert(probed.nonEmpty)
    assert(probed.exists(_._2 >= 300), "appended vectors never surfaced as neighbors")
  }
}

package graft.vector

import graft.{GraftFunctions, SparkSpec, Tables}
import graft.vector.Pq.PqModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class PqSpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def frame(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val jrows = new java.util.ArrayList[Row]()
    rows.foreach { case (i, v) => jrows.add(Row(i, v)) }
    spark.createDataFrame(jrows, schema)
  }

  // a tiny fixed model: 2 subspaces x 3 codewords x 2 dims
  private val model = PqModel(IndexedSeq(
    IndexedSeq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 2.0)),
    IndexedSeq(Seq(1.0, 1.0), Seq(-1.0, 0.0), Seq(3.0, 4.0))))

  /** Plain-Scala reference: argmin L2 per subspace, ties -> smaller k. */
  private def refEncode(v: Seq[Double], m: PqModel): Seq[Int] =
    (0 until m.m).map { j =>
      val sub = v.slice(j * m.dsub, (j + 1) * m.dsub)
      m.books(j).zipWithIndex.map { case (cw, k) =>
        (sub.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum, k)
      }.minBy(identity)._2 // (dist, k) lexicographic = ties to smaller k
    }

  test("pq_encode matches the argmin-L2 reference, ties to smaller code") {
    val vs = Seq(
      Seq(0.9, 0.1, 2.9, 3.9),   // clear picks: (1, 2)
      Seq(0.0, 1.9, -0.9, 0.1),  // (2, 1)
      Seq(0.5, 0.0, 0.0, 0.5),   // subspace 0 TIE between cw0 (d=.25) and cw1 (d=.25) -> 0
      Seq(0.0, 0.0, 0.0, 0.0))   // zero vector encodes fine (no division)
    val got = frame(vs.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .select(col("id"), GraftFunctions.pqEncode(col("v"), model.booksLit).as("c"))
      .orderBy(col("id")).collect().map(_.getSeq[Int](1).toSeq)
    val want = vs.map(refEncode(_, model))
    assert(got.toSeq == want,
      s"got ${got.toSeq} want $want")
    // the planted tie really is a tie, and really picked the smaller code
    val d0 = Seq(0.5, 0.0).zip(model.books(0)(0)).map { case (a, b) => (a - b) * (a - b) }.sum
    val d1 = Seq(0.5, 0.0).zip(model.books(0)(1)).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(d0 == d1 && got(2)(0) == 0)
  }

  test("pq_encode and pq_lut fail fast on a width-mismatched vector") {
    val bad = frame(Seq((1L, Seq(1.0, 2.0, 3.0))))
    def chainHas(t: Throwable, s: String): Boolean =
      t != null && (t.toString.contains(s) || chainHas(t.getCause, s))
    val e1 = intercept[Exception] {
      bad.select(GraftFunctions.pqEncode(col("v"), model.booksLit)).collect()
    }
    assert(chainHas(e1, "pq_encode"), s"unexpected failure: $e1")
    val e2 = intercept[Exception] {
      bad.select(GraftFunctions.pqLut(col("v"), model.booksLit)).collect()
    }
    assert(chainHas(e2, "pq_lut"), s"unexpected failure: $e2")
  }

  test("pq_lut holds the per-subspace dots; adcDot == dot(q, decode)") {
    val q = Seq(1.0, 2.0, -1.0, 0.5)
    val luts = frame(Seq((1L, q)))
      .select(GraftFunctions.pqLut(col("v"), model.booksLit).as("lut"))
      .head().getSeq[Double](0)
    // reference: lut[j*ksub+k] = dot(q_j, book_j[k])
    val want = (0 until model.m).flatMap { j =>
      val sub = q.slice(j * model.dsub, (j + 1) * model.dsub)
      model.books(j).map(cw => sub.zip(cw).map { case (a, b) => a * b }.sum)
    }
    assert(luts.toSeq == want)

    // adcDot over codes == dot(q, reconstruction) for every codes combo
    val combos = for (a <- 0 until 3; b <- 0 until 3) yield Seq(a, b)
    val schema = StructType(Seq(StructField("codes", ArrayType(IntegerType))))
    val jrows = new java.util.ArrayList[Row]()
    combos.foreach(c => jrows.add(Row(c)))
    val codesDf = spark.createDataFrame(jrows, schema)
      .withColumn("lut", typedLit(want))
    val got = codesDf.select(
        col("codes"),
        Pq.adcDot(col("lut"), col("codes"), model).as("adc"),
        aggregate(zip_with(Pq.pqDecode(col("codes"), model), typedLit(q),
          (x, y) => x * y), lit(0.0d), (acc, x) => acc + x).as("exact"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-12,
        s"codes ${r.getSeq[Int](0)}: adc ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }
  }

  test("reconNorm2 matches |decode|^2; zero norms pin sim 0.0") {
    val schema = StructType(Seq(StructField("codes", ArrayType(IntegerType))))
    val jrows = new java.util.ArrayList[Row]()
    Seq(Seq(1, 2), Seq(0, 0), Seq(2, 1)).foreach(c => jrows.add(Row(c)))
    val df = spark.createDataFrame(jrows, schema)
    val rows = df.select(
        Pq.reconNorm2(col("codes"), model).as("n2"),
        aggregate(Pq.pqDecode(col("codes"), model), lit(0.0d),
          (a, x) => a + x * x).as("n2ref"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))

    // a corpus row whose codes reconstruct to the zero vector (codes
    // (0,?) with zero codewords) must score 0.0 against any query, and
    // a zero query must score 0.0 against anything — never NaN
    val zeroModel = PqModel(IndexedSeq(
      IndexedSeq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      IndexedSeq(Seq(0.0, 0.0), Seq(2.0, 0.0))))
    val codes = Pq.pqEncodeFrame(
      frame(Seq((1L, Seq(0.0, 0.0, 0.0, 0.0)), (2L, Seq(1.0, 1.0, 2.0, 0.0)))),
      "id", "v", zeroModel)
    val out = Pq.pqScanTopK(codes, zeroModel,
        frame(Seq((100L, Seq(0.0, 0.0, 0.0, 0.0)), (200L, Seq(1.0, 0.0, 0.0, 1.0)))),
        "id", "v", k = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((100L, 1L)) == 0.0 && out((100L, 2L)) == 0.0) // zero query
    assert(out((200L, 1L)) == 0.0)                           // zero reconstruction
    assert(out((200L, 2L)) > 0.0)
  }

  test("pqScanTopK == bruteForceTopK on a corpus built from codewords") {
    // every vector IS a codeword concatenation -> v̂ = v, ADC cosine is
    // the exact cosine, so the scan must reproduce brute force exactly
    val vs = (for (a <- 0 until 3; b <- 0 until 3)
      yield model.books(0)(a) ++ model.books(1)(b)).zipWithIndex
      .map { case (v, i) => (i.toLong, v: Seq[Double]) }
      // drop the all-zero combination: zero-norm rows rank by the 0.0
      // convention in ADC but brute force also pins 0.0 — keep it in
      // fact, exactness holds for it too
    val corpus = frame(vs)
    val queries = frame(Seq((100L, Seq(1.0, 0.5, 2.0, 3.0)), (101L, Seq(0.0, 2.0, -1.0, 0.5))))
    val codes = Pq.pqEncodeFrame(corpus, "id", "v", model)
    val adc = Pq.pqScanTopK(codes, model, queries, "id", "v", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val exact = Similarity.bruteForceTopK(corpus, "id", "v", queries, "id", "v", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(adc == exact, s"adc $adc\nexact $exact")
  }

  test("pqTrain: Lloyd iterations never increase distortion; geometry holds") {
    val m0 = Pq.pqTrain(emb, "vec_id", "embedding", m = 4, ksub = 8, lloydIters = 0)
    val m2 = Pq.pqTrain(emb, "vec_id", "embedding", m = 4, ksub = 8, lloydIters = 2)
    assert(m2.m == 4 && m2.ksub == 8 && m2.dsub == 16 && m2.dim == 64)
    def distortion(mm: PqModel): Double = {
      val codes = Pq.pqEncodeFrame(emb, "vec_id", "embedding", mm)
      Tables.load(spark, sf, "embeddings")
        .select(col("vec_id").as("id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .join(codes.select(col("id"), Pq.pqDecode(col("codes"), mm).as("vr")), Seq("id"))
        .select(aggregate(zip_with(col("v"), col("vr"),
          (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x).as("e"))
        .agg(sum(col("e"))).head().getDouble(0)
    }
    val d0 = distortion(m0)
    val d2 = distortion(m2)
    assert(d2 <= d0 + 1e-9, s"Lloyd increased distortion: $d0 -> $d2")
    assert(d2 < d0, s"Lloyd did nothing on real data: $d0 -> $d2")
  }

  test("ivfPqTopKReranked with full probes and a large rerank == brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val corpus = emb.filter(col("vec_id") >= 10)
    val idx = Pq.ivfPqIndex(corpus, "vec_id", "embedding",
      numCells = 8, m = 8, ksub = 16, lloydIters = 1)
    val n = corpus.count().toInt
    val got = Pq.ivfPqTopKReranked(idx, corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nProbe = 8, rerankFactor = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == exact)
  }

  test("ivfPq recall at the (8, 64) defaults: rerank meets the 0.8 bar on the worst case") {
    // this corpus is the measured WORST case for PQ (near-random
    // embeddings — true cosine gaps drown in quantization distortion),
    // so the bars mirror the serving contract in the Pq scaladoc: pure
    // ADC is the bounded preselector (measured 0.32 here; asserted
    // loosely), the default-rerankFactor two-stage is what serves
    // (0.93 measured at rf=8, the default is 16 — sized so the k=10
    // audit grid also holds ≥0.8; asserted at the A4-style 0.8 bar)
    val queries = emb.filter(col("vec_id") < 20)
    val corpus = emb.filter(col("vec_id") >= 20)
    val idx = Pq.ivfPqIndex(corpus, "vec_id", "embedding",
      numCells = 16, m = 8, ksub = 64, lloydIters = 2)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val adc = recall(Pq.ivfPqTopK(idx, queries, "vec_id", "embedding",
      k = 5, nProbe = 16))
    val rr = recall(Pq.ivfPqTopKReranked(idx, corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nProbe = 16))
    assert(adc >= 0.15, s"ADC preselector collapsed: recall@5 = $adc")
    assert(rr >= adc - 1e-9, s"rerank did not help: $adc -> $rr")
    assert(rr >= 0.8, s"reranked recall@5 = $rr")
  }

  test("ivfPqSegment at frozen model == full re-encode of the union") {
    val oldRows = emb.filter(col("vec_id") % 10 =!= 0)
    val newRows = emb.filter(col("vec_id") % 10 === 0)
    val idx = Pq.ivfPqIndex(oldRows, "vec_id", "embedding",
      numCells = 8, m = 8, ksub = 16, lloydIters = 1)
    val seg = Pq.ivfPqSegment(idx, newRows, "vec_id", "embedding")
    val appended = idx.data.unionByName(seg)
    // re-encoding the union at the SAME frozen centroids + codebooks
    // must agree row-for-row (pure per-row map)
    val full = Pq.ivfPqSegment(idx, emb, "vec_id", "embedding")
    val a = appended.orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getDouble(3)))
    val b = full.orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getDouble(3)))
    assert(a.toSeq == b.toSeq)
  }
}

package graft.tools

import graft.Tables
import graft.vector.{Pq, Similarity}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN quality/latency evidence as an artifact: at a given sf, take the
  * `nq` lowest vec_ids as queries (deterministic), compute exact
  * brute-force cosine top-k as ground truth, then measure recall@k and
  * wall time for the two approximate paths — multi-table LSH
  * ([[Similarity.annTopK]]) and IVF ([[Similarity.ivfTopK]]) — at their
  * default knobs. Recall is averaged over queries (|approx ∩ exact| / k).
  *
  * The timing comparison is honest about what it shows at this scale:
  * at 2 k embeddings brute force is one broadcast cross-join and the
  * approximate paths pay index overhead; the artifact's value is the
  * RECALL evidence plus the candidate-bounding arguments in the
  * operator scaladocs (per-query candidate volume independent of corpus
  * size for LSH; n/numCells·nProbe for IVF).
  *
  * Run: `sbt "runMain graft.tools.AnnAudit [sfDir] [outJson] [k] [nq]"`.
  */
object AnnAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outJson = if (args.length > 1) args(1) else "/tmp/ann_audit.json"
    val k = if (args.length > 2) args(2).toInt else 10
    val nq = if (args.length > 3) args(3).toInt else 50
    val spark = graft.ScaleConfig.session(graft.ScaleConfig.plain)

    val emb = Tables.load(spark, sfDir, "embeddings").persist()
    val n = emb.count()
    val queries = emb.orderBy(col("vec_id")).limit(nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")).persist()
    queries.count()

    def topSets(df: DataFrame): (Map[Long, Set[Long]], Double) = {
      val t0 = System.nanoTime()
      val rows = df.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      (rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet }, sec)
    }

    def recallOf(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
      exact.map { case (q, ex) =>
        approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }.sum / exact.size

    // warm each path once (codegen + cache), then time
    def run(f: => DataFrame): DataFrame = { f.collect(); f }

    val (exact, tExact) = topSets(run(
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, "qid", "qv", k)))

    // the recall/cost grid: LSH over (L, bucketTarget); IVF over nProbe.
    // The LIBRARY DEFAULTS sit inside the grid — the "default" rows below
    // are literally `annTopK(...)`/`ivfTopK(...)` with no knobs, so the
    // A4 contract (defaults ≥ 0.8 recall) is checked on the real entry
    // points, and the rest of the grid documents the cost curve a user
    // dials along.
    val lshGrid = Seq(("fast", Some((12, 32))), ("default", None),
      ("max", Some((48, 256))))
    val ivfGrid = Seq(("fast", Some(8)), ("probe16", Some(16)),
      ("default", None), ("probe32", Some(32)))
    val lshRows = lshGrid.map { case (tag, knobs) =>
      val (m, t) = topSets(run(knobs match {
        case Some((l, b)) => Similarity.annTopK(
          emb, "vec_id", "embedding", queries, "qid", "qv", k,
          L = l, bucketTarget = b)
        case None => Similarity.annTopK(
          emb, "vec_id", "embedding", queries, "qid", "qv", k)
      }))
      f""""lsh_$tag": {"recall_at_k": ${recallOf(m, exact)}%.4f, "sec": $t%.3f}"""
    }
    val ivfRows = ivfGrid.map { case (tag, knobs) =>
      val (m, t) = topSets(run(knobs match {
        case Some(np) => Similarity.ivfTopK(
          emb, "vec_id", "embedding", queries, "qid", "qv", k, nProbe = np)
        case None => Similarity.ivfTopK(
          emb, "vec_id", "embedding", queries, "qid", "qv", k)
      }))
      f""""ivf_$tag": {"recall_at_k": ${recallOf(m, exact)}%.4f, "sec": $t%.3f}"""
    }

    // r9: the SERVING entry points measured directly — build the index
    // once per LSH knob setting (resp. once for IVF), probe with
    // annTopKIndexed/ivfTopKIndexed. Inline delegates to indexed by
    // construction, but the artifact users read should carry the
    // serving path's own recall rows, not an inference.
    val lshIdxRows = lshGrid.map { case (tag, knobs) =>
      val idx = knobs match {
        case Some((l, b)) =>
          Similarity.lshIndex(emb, "vec_id", "embedding", L = l, bucketTarget = b)
        case None => Similarity.lshIndex(emb, "vec_id", "embedding")
      }
      val banded = idx.banded.persist()
      val vectors = idx.vectors.persist()
      banded.count(); vectors.count()
      val pinned = idx.copy(banded = banded, vectors = vectors)
      val (m, t) = topSets(run(
        Similarity.annTopKIndexed(pinned, queries, "qid", "qv", k)))
      banded.unpersist(); vectors.unpersist()
      f""""lsh_indexed_$tag": {"recall_at_k": ${recallOf(m, exact)}%.4f, "probe_sec": $t%.3f}"""
    }
    val ivfIdxRows = {
      val idx = Similarity.ivfIndex(emb, "vec_id", "embedding")
      val data = idx.data.persist()
      data.count()
      val pinned = idx.copy(data = data)
      val rows = ivfGrid.map { case (tag, knobs) =>
        val (m, t) = topSets(run(knobs match {
          case Some(np) =>
            Similarity.ivfTopKIndexed(pinned, queries, "qid", "qv", k, nProbe = np)
          case None => Similarity.ivfTopKIndexed(pinned, queries, "qid", "qv", k)
        }))
        f""""ivf_indexed_$tag": {"recall_at_k": ${recallOf(m, exact)}%.4f, "probe_sec": $t%.3f}"""
      }
      data.unpersist()
      rows
    }

    // r11: the PQ paths ([[Pq]]) at the scaladoc defaults (m=8,
    // ksub=64) — this artifact is the measured backing for the
    // recall-contract numbers in the Pq scaladoc. Pure ADC (scan and
    // IVF-PQ probe) is the bounded PRESELECTOR — on this worst-case
    // corpus its recall is expected to sit far below the serving bar —
    // and the two-stage rerank (default rerankFactor=16, sized ON this
    // grid: rf=8 read 0.69@10) is the serving entry point the 0.8 bar
    // applies to; its ceiling is the IVF cell-selection recall
    // (ivf_indexed_default). The rf sweep documents the dial.
    val pqRows = {
      val idx = Pq.ivfPqIndex(emb, "vec_id", "embedding")
      val data = idx.data.persist()
      data.count()
      val pinned = idx.copy(data = data)
      val (mScan, tScan) = topSets(run(
        Pq.pqScanTopK(data, idx.model, queries, "qid", "qv", k)))
      val scanRow =
        f""""pq_adc_scan": {"recall_at_k": ${recallOf(mScan, exact)}%.4f, "probe_sec": $tScan%.3f}"""
      val (mAdc, tAdc) = topSets(run(
        Pq.ivfPqTopK(pinned, queries, "qid", "qv", k)))
      val adcRow =
        f""""ivfpq_adc_default": {"recall_at_k": ${recallOf(mAdc, exact)}%.4f, "probe_sec": $tAdc%.3f}"""
      val rrRows = Seq(("rf2", Some(2)), ("rf8", Some(8)), ("default", None))
        .map { case (tag, rf) =>
          val (m, t) = topSets(run(rf match {
            case Some(r) => Pq.ivfPqTopKReranked(pinned, emb, "vec_id",
              "embedding", queries, "qid", "qv", k, rerankFactor = r)
            case None => Pq.ivfPqTopKReranked(pinned, emb, "vec_id",
              "embedding", queries, "qid", "qv", k)
          }))
          f""""ivfpq_rerank_$tag": {"recall_at_k": ${recallOf(m, exact)}%.4f, "probe_sec": $t%.3f}"""
        }
      data.unpersist()
      scanRow +: adcRow +: rrRows
    }

    val json =
      f"""{
         |  "note": "ANN recall/latency audit: ${nq} deterministic queries (lowest vec_ids) against the $n-vector corpus; ground truth = exact broadcast cosine top-$k; recall@$k averaged over queries. 'default' rows call annTopK/ivfTopK with NO knobs (the A4 contract is on defaults); 'fast' is the cheap end of the dial, other rows document the cost curve. The corpus' near-random embeddings are LSH's WORST case (no neighborhood structure), so these recalls lower-bound structured corpora. At 2k vectors brute force is one broadcast cross-join, so approximate times carry index overhead. pq_* rows (r11): product quantization at the (m=8, ksub=64) defaults — pure-ADC rows are the bounded preselector (low recall here is the documented worst case), ivfpq_rerank_default is the PQ serving entry point the 0.8 bar applies to.",
         |  "sf_dir": "$sfDir",
         |  "corpus_vectors": $n,
         |  "queries": $nq,
         |  "k": $k,
         |  "exact_sec": $tExact%.3f,
         |${(lshRows ++ ivfRows ++ lshIdxRows ++ ivfIdxRows ++ pqRows).map("  " + _).mkString(",\n")}
         |}""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}

package graft.tools

import graft.Tables
import graft.vector.Similarity
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Measures the [[Similarity.lshIndex]] amortization claim: at corpus
  * scale the banding pass dominates [[Similarity.annTopK]], so an
  * index built once and persisted (pre-partitioned by (table, code))
  * should serve query batches at a small fraction of the inline cost.
  * Times index build, two successive probe batches, and the inline
  * call on the same batch, and prints one JSON line.
  *
  * Run: `tools/runjvm.sh graft.tools.AnnServe <dir> [outJson]`.
  */
object AnnServe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outJson = if (args.length > 1) args(1) else "/tmp/ann_serve.json"
    val spark = graft.ScaleConfig.session(graft.ScaleConfig.cluster)

    val emb = Tables.load(spark, dir, "embeddings").persist()
    val n = emb.count()
    val corpus = emb.filter(col("vec_id") >= 20)
    val batch1 = emb.filter(col("vec_id") < 10)
    val batch2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
    // r9 index-append measurement: a ~10% growth slice appended to an
    // index built over the other ~90% — the growing-corpus serving shape
    val growth = corpus.filter(pmod(col("vec_id"), lit(10)) === 0)
    val base90 = corpus.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val nGrowth = growth.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // build once: postings pre-partitioned on the probe join key and the
    // vector table on the re-attach key, so a probe never reshuffles
    // either big side
    val (idx, buildSec) = timed {
      val i = Similarity.lshIndex(corpus, "vec_id", "embedding")
      val banded = i.banded.repartition(64, col("table"), col("code"))
        .persist()
      val vectors = i.vectors.repartition(64, col("id")).persist()
      banded.count(); vectors.count()
      i.copy(banded = banded, vectors = vectors)
    }
    val (r1, probe1Sec) = timed {
      Similarity.annTopKIndexed(idx, batch1, "vec_id", "embedding", 10)
        .collect().length
    }
    val (r2, probe2Sec) = timed {
      Similarity.annTopKIndexed(idx, batch2, "vec_id", "embedding", 10)
        .collect().length
    }
    val (r3, inlineSec) = timed {
      Similarity.annTopK(corpus, "vec_id", "embedding",
        batch1, "vec_id", "embedding", 10).collect().length
    }

    // IVF twin: train + cell-assign once (data persisted, pre-
    // partitioned on the probe join key), probe twice, vs inline
    val (ividx, ivBuildSec) = timed {
      val i = Similarity.ivfIndex(corpus, "vec_id", "embedding")
      val data = i.data.repartition(64, col("cell")).persist()
      data.count()
      i.copy(data = data)
    }
    val (iv1, ivProbe1Sec) = timed {
      Similarity.ivfTopKIndexed(ividx, batch1, "vec_id", "embedding", 10)
        .collect().length
    }
    val (iv2, ivProbe2Sec) = timed {
      Similarity.ivfTopKIndexed(ividx, batch2, "vec_id", "embedding", 10)
        .collect().length
    }
    val (iv3, ivInlineSec) = timed {
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
        batch1, "vec_id", "embedding", 10).collect().length
    }

    // append cadence: index the 90% base once, then grow it by the 10%
    // slice — append pays only the new rows' banding/assignment (the old
    // banded/assigned rows are already persisted), vs the full-corpus
    // rebuild the inline path repays
    val (baseIdx, lshBase90Sec) = timed {
      val i = Similarity.lshIndex(base90, "vec_id", "embedding")
      val banded = i.banded.repartition(64, col("table"), col("code")).persist()
      val vectors = i.vectors.repartition(64, col("id")).persist()
      banded.count(); vectors.count()
      i.copy(banded = banded, vectors = vectors)
    }
    // append materializes ONLY the new segment (the base segments stay
    // cached); the grown index unions cached base + cached segment
    val (grown, lshAppendSec) = timed {
      val (segB, segV) = Similarity.lshSegment(baseIdx, growth, "vec_id", "embedding")
      val sb = segB.persist(); val sv = segV.persist()
      sb.count(); sv.count()
      baseIdx.copy(
        banded = baseIdx.banded.unionByName(sb),
        vectors = baseIdx.vectors.unionByName(sv))
    }
    val (ga, lshProbeGrownSec) = timed {
      Similarity.annTopKIndexed(grown, batch1, "vec_id", "embedding", 10)
        .collect().length
    }
    val (ivBase, ivfBase90Sec) = timed {
      val i = Similarity.ivfIndex(base90, "vec_id", "embedding")
      val data = i.data.repartition(64, col("cell")).persist()
      data.count()
      i.copy(data = data)
    }
    val (ivGrown, ivfAppendSec) = timed {
      val seg = Similarity.ivfSegment(ivBase, growth, "vec_id", "embedding")
        .persist()
      seg.count()
      ivBase.copy(data = ivBase.data.unionByName(seg))
    }
    val (gb, ivfProbeGrownSec) = timed {
      Similarity.ivfTopKIndexed(ivGrown, batch1, "vec_id", "embedding", 10)
        .collect().length
    }

    // r10 STREAMED append cadence: the same 10% growth slice arrives as
    // a multi-micro-batch stream through the IndexStore sinks
    // (StreamingOps.lshIndexSink/ivfIndexSink) — measures what a
    // foreachBatch-maintained durable index costs per growth slice,
    // including the per-segment parquet writes the in-memory append
    // above does not pay. Probe parity with the in-memory grown index
    // is asserted, not assumed.
    import graft.streaming.StreamingOps
    import graft.vector.IndexStore
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(tag).toString
    val growthSrc = tmp("annserve_growth")
    // 16 files -> 16 micro-batches -> 16 `batch=` segments per subtree
    // beside the base: a realistic streamed-store segment count, so the
    // compaction rows below measure against real discovery/open cost
    growth.repartition(16).write.mode("overwrite").parquet(growthSrc)
    val growthSchema = spark.read.parquet(growthSrc).schema
    def replay(sinkOf: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
      val q = sinkOf(spark.readStream.schema(growthSchema)
          .option("maxFilesPerTrigger", 1).parquet(growthSrc))
        .option("checkpointLocation", tmp("annserve_ckpt")).start()
      q.processAllAvailable(); q.stop()
    }
    val lshDir = tmp("annserve_lsh_store")
    val (_, lshStoreWriteSec) = timed { IndexStore.writeLsh(baseIdx, lshDir) }
    val (_, lshStreamSec) = timed {
      replay(df => StreamingOps.lshIndexSink(df, lshDir, "vec_id", "embedding"))
    }
    val (sa, lshProbeStreamSec) = timed {
      Similarity.annTopKIndexed(IndexStore.readLsh(spark, lshDir),
        batch1, "vec_id", "embedding", 10).collect().length
    }
    require(sa == ga,
      s"streamed LSH store probe rows $sa != in-memory grown $ga")
    val ivfDir = tmp("annserve_ivf_store")
    val (_, ivfStoreWriteSec) = timed { IndexStore.writeIvf(ivBase, ivfDir) }
    val (_, ivfStreamSec) = timed {
      replay(df => StreamingOps.ivfIndexSink(df, ivfDir, "vec_id", "embedding"))
    }
    val (sb, ivfProbeStreamSec) = timed {
      Similarity.ivfTopKIndexed(IndexStore.readIvf(spark, ivfDir),
        batch1, "vec_id", "embedding", 10).collect().length
    }
    require(sb == gb,
      s"streamed IVF store probe rows $sb != in-memory grown $gb")

    // r11 compaction cadence (IndexStore.compactLsh/compactIvf): merge
    // the streamed `batch=` segments into one base and re-probe — the
    // spec pins result identity; this measures the maintenance cost and
    // the probe latency either side of it at the segment count above
    val lshSegsBefore = IndexStore.segmentCount(spark, lshDir, "banded")
    val (_, lshCompactSec) = timed {
      IndexStore.compactLsh(spark, lshDir, targetPartitions = 8)
    }
    val (ca, lshProbeCompactSec) = timed {
      Similarity.annTopKIndexed(IndexStore.readLsh(spark, lshDir),
        batch1, "vec_id", "embedding", 10).collect().length
    }
    require(ca == sa,
      s"compaction changed LSH probe rows: $ca != $sa")
    val ivfSegsBefore = IndexStore.segmentCount(spark, ivfDir, "data")
    val (_, ivfCompactSec) = timed {
      IndexStore.compactIvf(spark, ivfDir, targetPartitions = 8)
    }
    val (cb, ivfProbeCompactSec) = timed {
      Similarity.ivfTopKIndexed(IndexStore.readIvf(spark, ivfDir),
        batch1, "vec_id", "embedding", 10).collect().length
    }
    require(cb == sb,
      s"compaction changed IVF probe rows: $cb != $sb")

    // r11 IVF-PQ cadence: the memory-scale serving path. Build = coarse
    // centroids + PQ codebooks + one assign/encode pass; probes are the
    // two-stage reranked entry point (ADC preselect over codes, exact
    // re-score of rerankFactor·k ids against the at-rest float table).
    // The store rows measure what the coded grain buys: data-tree bytes
    // vs the float IVF store's — the difference IS the reason this path
    // exists at 100 TB.
    import graft.vector.Pq
    val (pqIdx, pqBuildSec) = timed {
      val i = Pq.ivfPqIndex(corpus, "vec_id", "embedding")
      val data = i.data.repartition(64, col("cell")).persist()
      data.count()
      i.copy(data = data)
    }
    val (pq1, pqProbe1Sec) = timed {
      Pq.ivfPqTopKReranked(pqIdx, corpus, "vec_id", "embedding",
        batch1, "vec_id", "embedding", 10).collect().length
    }
    val (pq2, pqProbe2Sec) = timed {
      Pq.ivfPqTopKReranked(pqIdx, corpus, "vec_id", "embedding",
        batch2, "vec_id", "embedding", 10).collect().length
    }
    // streamed growth at the coded grain: base90 store + the growth
    // slice through ivfPqIndexSink, probe parity vs in-memory grown
    val (pqBase, pqBase90Sec) = timed {
      val i = Pq.ivfPqIndex(base90, "vec_id", "embedding")
      val data = i.data.repartition(64, col("cell")).persist()
      data.count()
      i.copy(data = data)
    }
    val pqDir = tmp("annserve_ivfpq_store")
    val (_, pqStoreWriteSec) = timed { IndexStore.writeIvfPq(pqBase, pqDir) }
    val (_, pqStreamSec) = timed {
      replay(df => StreamingOps.ivfPqIndexSink(df, pqDir, "vec_id", "embedding"))
    }
    val (pqGrownMem, _) = timed {
      val seg = Pq.ivfPqSegment(pqBase, growth, "vec_id", "embedding").persist()
      seg.count()
      pqBase.copy(data = pqBase.data.unionByName(seg))
    }
    val (pg, _) = timed {
      Pq.ivfPqTopKReranked(pqGrownMem, corpus, "vec_id", "embedding",
        batch1, "vec_id", "embedding", 10).collect().length
    }
    val (ps, pqProbeStreamSec) = timed {
      Pq.ivfPqTopKReranked(IndexStore.readIvfPq(spark, pqDir),
        corpus, "vec_id", "embedding",
        batch1, "vec_id", "embedding", 10).collect().length
    }
    require(ps == pg,
      s"streamed IVF-PQ store probe rows $ps != in-memory grown $pg")
    val pqSegsBefore = IndexStore.segmentCount(spark, pqDir, "data")
    val (_, pqCompactSec) = timed {
      IndexStore.compactIvfPq(spark, pqDir, targetPartitions = 8)
    }
    val (pc, pqProbeCompactSec) = timed {
      Pq.ivfPqTopKReranked(IndexStore.readIvfPq(spark, pqDir),
        corpus, "vec_id", "embedding",
        batch1, "vec_id", "embedding", 10).collect().length
    }
    require(pc == ps,
      s"compaction changed IVF-PQ probe rows: $pc != $ps")
    def treeBytes(root: String): Long = {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val pqDataBytes = treeBytes(s"$pqDir/data")
    val ivfDataBytes = treeBytes(s"$ivfDir/data")

    val json =
      s"""{"note": "ANN serving splits, both paths. LSH: index built once (banded rows persisted, pre-partitioned by (table, code)) vs the inline annTopK that repays the full corpus banding per call; probe batches are 10 queries each at defaults (L=32, bucketTarget=128). IVF: centroids trained + cells assigned once (data persisted, pre-partitioned by cell) vs the inline ivfTopK that retrains and reassigns per call; defaults (numCells=64, nProbe=32).",
         | "dir": "$dir", "corpus_vectors": ${n - 20},
         | "index_build_sec": ${f"$buildSec%.2f"},
         | "probe_batch1_sec": ${f"$probe1Sec%.2f"}, "probe_batch1_rows": $r1,
         | "probe_batch2_sec": ${f"$probe2Sec%.2f"}, "probe_batch2_rows": $r2,
         | "inline_annTopK_sec": ${f"$inlineSec%.2f"}, "inline_rows": $r3,
         | "ivf_index_build_sec": ${f"$ivBuildSec%.2f"},
         | "ivf_probe_batch1_sec": ${f"$ivProbe1Sec%.2f"}, "ivf_probe_batch1_rows": $iv1,
         | "ivf_probe_batch2_sec": ${f"$ivProbe2Sec%.2f"}, "ivf_probe_batch2_rows": $iv2,
         | "inline_ivfTopK_sec": ${f"$ivInlineSec%.2f"}, "ivf_inline_rows": $iv3,
         | "append_note": "index-append cadence (r9): a 90%-corpus index grown by the 10% slice via lshIndexAppend/ivfIndexAppend — append pays only the new rows' banding/assignment vs the full rebuild; probe-after-append re-verifies the grown index serves.",
         | "append_rows": $nGrowth,
         | "lsh_base90_build_sec": ${f"$lshBase90Sec%.2f"},
         | "lsh_append_sec": ${f"$lshAppendSec%.2f"},
         | "lsh_probe_after_append_sec": ${f"$lshProbeGrownSec%.2f"}, "lsh_probe_after_append_rows": $ga,
         | "ivf_base90_build_sec": ${f"$ivfBase90Sec%.2f"},
         | "ivf_append_sec": ${f"$ivfAppendSec%.2f"},
         | "ivf_probe_after_append_sec": ${f"$ivfProbeGrownSec%.2f"}, "ivf_probe_after_append_rows": $gb,
         | "stream_note": "streamed index maintenance (r10): the same growth slice replayed as a 4-micro-batch file stream through StreamingOps.lshIndexSink/ivfIndexSink into a durable IndexStore (per-batch segment parquet, exactly-once by path); probe-row parity with the in-memory grown index is require()d.",
         | "lsh_store_write_sec": ${f"$lshStoreWriteSec%.2f"},
         | "lsh_stream_append_sec": ${f"$lshStreamSec%.2f"},
         | "lsh_probe_after_stream_sec": ${f"$lshProbeStreamSec%.2f"},
         | "ivf_store_write_sec": ${f"$ivfStoreWriteSec%.2f"},
         | "ivf_stream_append_sec": ${f"$ivfStreamSec%.2f"},
         | "ivf_probe_after_stream_sec": ${f"$ivfProbeStreamSec%.2f"},
         | "compact_note": "compaction cadence (r11): IndexStore.compactLsh/compactIvf merge the stream's per-batch segments into one batch=-1 base (stage-then-rename); probe-row parity with the pre-compaction store is require()d, so these rows are pure file-count/latency deltas at the segment counts shown.",
         | "lsh_segments_before_compact": $lshSegsBefore,
         | "lsh_compact_sec": ${f"$lshCompactSec%.2f"},
         | "lsh_probe_after_compact_sec": ${f"$lshProbeCompactSec%.2f"},
         | "ivf_segments_before_compact": $ivfSegsBefore,
         | "ivf_compact_sec": ${f"$ivfCompactSec%.2f"},
         | "ivf_probe_after_compact_sec": ${f"$ivfProbeCompactSec%.2f"},
         | "ivfpq_note": "IVF-PQ cadence (r11): the memory-scale path — coarse cells over PQ codes (m=8, ksub=64: 8 small ints + 1 double per vector instead of 64 floats), probes are the two-stage reranked entry point (default rerankFactor=16; exact re-score reads only rerankFactor*k ids from the at-rest float table). Streamed growth through ivfPqIndexSink at the coded grain; probe-row parity require()d at every transition. ivfpq_data_bytes vs ivf_data_bytes is the at-rest footprint ratio the coded grain buys.",
         | "ivfpq_index_build_sec": ${f"$pqBuildSec%.2f"},
         | "ivfpq_probe_batch1_sec": ${f"$pqProbe1Sec%.2f"}, "ivfpq_probe_batch1_rows": $pq1,
         | "ivfpq_probe_batch2_sec": ${f"$pqProbe2Sec%.2f"}, "ivfpq_probe_batch2_rows": $pq2,
         | "ivfpq_base90_build_sec": ${f"$pqBase90Sec%.2f"},
         | "ivfpq_store_write_sec": ${f"$pqStoreWriteSec%.2f"},
         | "ivfpq_stream_append_sec": ${f"$pqStreamSec%.2f"},
         | "ivfpq_probe_after_stream_sec": ${f"$pqProbeStreamSec%.2f"},
         | "ivfpq_segments_before_compact": $pqSegsBefore,
         | "ivfpq_compact_sec": ${f"$pqCompactSec%.2f"},
         | "ivfpq_probe_after_compact_sec": ${f"$pqProbeCompactSec%.2f"},
         | "ivfpq_data_bytes": $pqDataBytes,
         | "ivf_data_bytes": $ivfDataBytes}""".stripMargin
    Files.writeString(Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}

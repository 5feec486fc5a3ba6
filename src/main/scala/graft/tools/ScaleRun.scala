package graft.tools

import graft.Tables
import graft.ops.Curation
import graft.text.{Dedup, TextAnalysis}
import graft.vector.SemanticDedup
import org.apache.spark.sql.functions._

/** Times the HEAVY curation operators (the ones whose cost is quadratic
  * candidates, iterative shuffles, or corpus-wide generates — not in the
  * 20-query BENCH suite) at a given scale factor, as evidence they run
  * beyond unit-test scale with the plan shapes the scaladocs claim.
  *
  * Run: `sbt "runMain graft.tools.ScaleRun [sfDir]"` (default sf0.1).
  */
object ScaleRun {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.ScaleConfig.session(graft.ScaleConfig.plain)

    def timeIt(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   rows=$rows")
    }

    val docs = Tables.load(spark, sfDir, "documents").persist()
    val emb = Tables.load(spark, sfDir, "embeddings").persist()
    println(s"corpus: ${docs.count()} docs, ${emb.count()} embeddings ($sfDir)")

    timeIt("minhash_lsh_pairs") {
      Dedup.nearMinhash(docs, "doc_id", "text").count()
    }
    timeIt("cluster_dedup") {
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5)
      Dedup.dedupByCluster(docs, pairs, "doc_id", "n_chars").count()
    }
    timeIt("span_dedup_scan") {
      TextAnalysis.duplicatedSpans(docs, "doc_id", "text", 8).count()
    }
    timeIt("decontaminate_exact") {
      val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      Dedup.decontaminate(docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        bench, "doc_id", "text", n = 8, hashKeys = true).count()
    }
    timeIt("decontaminate_fuzzy") {
      val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      Dedup.decontaminateFuzzy(docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        bench, "doc_id", "text").count()
    }
    timeIt("semantic_dedup") {
      SemanticDedup.dedup(emb, "vec_id", "embedding", 0.35, numCells = 16).count()
    }
    timeIt("pack_sequences") {
      val d = docs.withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      Curation.packSequences(d, "doc_id", "n_tok", 128, docsPerBucket = 256).count()
    }
    timeIt("epoch_shuffle") {
      Curation.epochShuffle(docs, "doc_id", epoch = 2).count()
    }
    // round-4 additions: durable-checkpoint label propagation (the
    // executor-loss-safe form), and the scrub+normalize narrow pass
    timeIt("cluster_dedup_ckpt") {
      val dir = java.nio.file.Files.createTempDirectory("scalerun-ckpt").toString
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5)
      Dedup.dedupByCluster(docs, pairs, "doc_id", "n_chars",
        checkpointDir = Some(dir)).count()
    }
    timeIt("scrub_normalize") {
      // head(), NOT count(): count(1) lets Catalyst prune the whole
      // scrub/normalize projection and no regex would ever run
      docs.select(
          TextAnalysis.normalize(TextAnalysis.scrub(col("text"))).as("t"))
        .agg(sum(length(col("t"))).as("s")).head.getLong(0)
    }
    spark.stop()
  }
}

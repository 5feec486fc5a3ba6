package graft.examples

import graft.{ScaleConfig, Tables}
import graft.core._
import graft.ops.Analytics
import graft.functions.UserFunctions
import graft.sources.IO
import org.apache.spark.sql.functions._

/** End-to-end example of the public API: compose a validated pipeline,
  * route bad rows to a dead-letter split, window-analyze, write a
  * partitioned layout, and call a registered UDF from SQL.
  *
  * Run: `sbt "runMain graft.examples.CurationDemo"`.
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val spark = ScaleConfig.session(ScaleConfig.plain)
    UserFunctions.registerAll(spark)

    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")

    val pipeline = Stage("only_jan")(df => df.filter(col("ts") < "2024-01-15")) >>
      Stage("moving")(df => Analytics.movingAgg(df, "user_id", "ts", "value", 3600))

    pipeline.validate(events) match {
      case Right(schema) => println(s"VALIDATED: ${schema.fieldNames.mkString(",")}")
      case Left(e) => sys.error(s"validation failed: $e")
    }
    val out = pipeline(events)
    println(s"ROWS: ${out.count()}")

    val (ok, dead) = Pipeline.deadLetter(out, col("value") >= 0)
    println(s"OK: ${ok.count()} DEAD: ${dead.count()}")

    val dir = java.nio.file.Files.createTempDirectory("demo_out").toString
    IO.writePartitioned(ok, dir, Seq("event_type"))
    println(s"WROTE: ${spark.read.parquet(dir).count()} partitioned rows at $dir")
    println("SQL UDF fnv1a('hello') = " +
      spark.sql("SELECT fnv1a('hello')").collect().head.getLong(0))

    val q = Analytics.approxQuantiles(events, Seq("event_type"), "value", Seq(0.5, 0.95))
      .orderBy(col("event_type")).collect()
    println("QUANTILES: " + q.map(r =>
      s"${r.getString(0)}=${r.getSeq[Double](1).map(v => f"$v%.1f").mkString("/")}").mkString(" "))

    // hot-key-safe aggregation: same result as a direct groupBy, but a
    // skewed key fans out over salt buckets (ops/Skew.scala)
    val salted = graft.ops.Skew.saltedAgg(
      events, Seq("event_type"), Seq("value" -> graft.ops.Skew.Sum), buckets = 8)
      .orderBy(col("event_type")).collect()
    println("SALTED SUMS: " + salted.map(r =>
      f"${r.getString(0)}=${r.getDouble(1)}%.1f").mkString(" "))

    // vocabulary head + its count-min estimate (exact vs sketch)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val top3 = graft.text.TextAnalysis.topTokens(docs, "text", 3).collect()
    val est = graft.text.TextAnalysis.approxTokenCounts(
      docs, "text", top3.map(_.getString(0)).toSeq)
    println("TOP TOKENS: " + top3.map(r =>
      s"${r.getString(0)}=${r.getLong(1)}(cms=${est(r.getString(0))})").mkString(" "))

    // IVF ANN vs exact: top-3 neighbours of vector 0
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val ivf = graft.vector.Similarity.ivfTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") === 0), "vec_id", "embedding",
      k = 3, numCells = 8, nProbe = 4).collect()
    println("IVF TOP3: " + ivf.map(r =>
      s"${r.getLong(1)}@${r.getDouble(2)}").mkString(" "))

    // full curation pass: quality-trim outliers, then cluster-dedup —
    // transitive near-dup chains collapse, best doc per cluster survives
    val trimmed = graft.ops.Curation.quantileBand(docs, "n_chars", 0.05, 0.95)
    val pairs = graft.text.Dedup.ngramJaccard(trimmed, "doc_id", "text", 3, 0.5)
    val curated = graft.text.Dedup.dedupByCluster(trimmed, pairs, "doc_id", "n_chars")
    println(s"CURATED: ${docs.count()} docs -> ${trimmed.count()} in-band " +
      s"-> ${curated.count()} after cluster dedup")

    // compact the curated corpus into right-sized files for the next reader
    val curDir = java.nio.file.Files.createTempDirectory("demo_curated").toString
    curated.repartition(8).write.mode("overwrite").parquet(curDir)
    IO.compact(spark, curDir, targetFileMB = 64)
    val nf = new java.io.File(curDir).listFiles().count(_.getName.endsWith(".parquet"))
    println(s"COMPACTED: $nf file(s) at $curDir")
    spark.stop()
  }
}

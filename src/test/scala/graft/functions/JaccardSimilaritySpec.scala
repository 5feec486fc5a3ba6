package graft.functions

import graft.{GraftFunctions, SparkSpec, Tables}
import graft.text.Dedup
import org.apache.spark.sql.functions._

class JaccardSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native jaccard matches the built-in intersect/union composition") {
    val docs = Tables.load(spark, sf, "documents").limit(50)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val pairs = docs.select(col("doc_id").as("ida"), col("sh").as("a"))
      .crossJoin(broadcast(docs.select(col("doc_id").as("idb"), col("sh").as("b"))))
      .filter(col("ida") < col("idb"))
    val mismatches = pairs.select(
        GraftFunctions.jaccardSim(col("a"), col("b")).as("native"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b")))).as("builtin"))
      .filter(abs(col("native") - col("builtin")) > 1e-12)
      .count()
    assert(mismatches == 0)
  }

  test("edge cases: identical, disjoint, empty") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq.empty[String], Seq.empty[String])).toDF("a", "b")
      .select(GraftFunctions.jaccardSim(col("a"), col("b")).as("j"))
    val out = df.collect().map(_.getDouble(0))
    assert(out(0) == 1.0 && out(1) == 0.0 && out(2) == 1.0)
  }
}

package graft.functions

import graft.{SparkSpec, Tables}
import graft.vector.Similarity
import org.apache.spark.sql.functions._

/** Parity pins for the r9 fused native cell-assignment expression:
  * [[Similarity.cellAssignment]] (CellArgMax) must be VALUE-IDENTICAL
  * to the greatest-over-structs composition it replaced, including the
  * tie rule (larger cell index) and the zero-norm convention, on real
  * embeddings and on adversarial synthetic vectors.
  */
class CellArgMaxSpec extends SparkSpec {

  test("native cell_argmax == greatest-struct composition on the corpus") {
    initQuiet()
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
      numCells = 16)
    val v = col("embedding").cast("array<double>")
    val both = emb.select(col("vec_id"),
        Similarity.cellAssignment(v, cents).as("native"),
        Similarity.cellAssignmentComposed(v, cents).as("composed"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getInt(1) === r.getInt(2),
        s"vec ${r.getLong(0)}: native ${r.getInt(1)} != composed ${r.getInt(2)}")
    }
  }

  test("tie rule and zero-norm convention match the composition") {
    initQuiet()
    import spark.implicits._
    // centroid 1 and 2 are identical -> equal cosines, larger index
    // wins under greatest-struct ordering; the zero vector has cosine
    // 0.0 to everything (the CosineSimilarity convention), so ALL cells
    // tie and the last index must win
    val cents: IndexedSeq[Seq[Double]] =
      IndexedSeq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 1.0))
    val df = Seq(
      (1L, Seq(0.0, 5.0)),   // ties between cells 1 and 2 -> 2
      (2L, Seq(3.0, 0.0)),   // cell 0
      (3L, Seq(0.0, 0.0))    // zero norm: all cosines 0.0 -> last cell
    ).toDF("id", "v")
    val v = col("v").cast("array<double>")
    val rows = df.select(col("id"),
        Similarity.cellAssignment(v, cents).as("native"),
        Similarity.cellAssignmentComposed(v, cents).as("composed"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(rows(1L) === ((2, 2)))
    assert(rows(2L) === ((0, 0)))
    assert(rows(3L) === ((2, 2)))
  }
}

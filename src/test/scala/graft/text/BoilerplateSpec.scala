package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BoilerplateSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    // "a b c" appears in 3 docs -> boilerplate at minDf=3
    (0L, "a b c x y z"),
    (1L, "q a b c r s"),
    (2L, "a b c a b c"), // twice in one doc: df counts the DOC once
    (3L, "x y z q r s"),
    (4L, "aa bb")        // < 3 tokens: no defined coverage
  ).toDF("doc_id", "text")

  test("ngrams: position order, short-doc guard") {
    val ng = corpus.select(col("doc_id"), Boilerplate.ngrams(col("text"), 3).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(ng(0L) == Seq("a b c", "b c x", "c x y", "x y z"))
    assert(ng(4L) == Seq.empty)
  }

  test("docFrequency counts documents, not occurrences") {
    val df = Boilerplate.docFrequency(corpus, "text", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("a b c") == 3) // docs 0,1,2 — doc 2's repeat counts once
    assert(df("b c a") == 1)
  }

  test("coverage: per-doc position accounting") {
    val cov = Boilerplate.coverage(corpus, "doc_id", "text", n = 3, minDf = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 0: 4 positions, 1 boilerplate ("a b c")
    assert(cov(0L) == ((4L, 1L)))
    // doc 2: 4 positions, "a b c" at starts 0 and 3 -> 2 hits
    assert(cov(2L) == ((4L, 2L)))
    // doc 3: no boilerplate
    assert(cov(3L) == ((4L, 0L)))
    // doc 4 excluded (under n tokens)
    assert(!cov.contains(4L))
  }

  test("scrub removes exactly the covered token spans") {
    val out = Boilerplate.scrub(corpus, "doc_id", "text", n = 3, minDf = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_scrubbed")).toMap
    assert(out(0L) == "x y z")       // "a b c" span dropped
    assert(out(1L) == "q r s")       // mid-doc span dropped, flanks kept
    assert(out(2L) == "")            // both spans covered
    assert(out(3L) == "x y z q r s") // untouched
    assert(out(4L) == "aa bb")       // short doc passes through whole
  }

  test("coverage guards") {
    intercept[IllegalArgumentException](
      Boilerplate.coverage(corpus, "doc_id", "text", n = 0, minDf = 3))
    intercept[IllegalArgumentException](
      Boilerplate.coverage(corpus, "doc_id", "text", n = 3, minDf = 1))
  }
}

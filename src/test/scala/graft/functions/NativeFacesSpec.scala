package graft.functions

import graft.{GraftFunctions, SparkSpec}
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions.{col, expr}
import scala.jdk.CollectionConverters._

/** Every Column face in [[GraftFunctions]] holds its expression, so it
  * runs on a session whose function registry never saw the SQL names,
  * and gives what the SQL name gives on a session that registered them.
  * `spark.newSession()` shares nothing registered on the suite's session
  * (`cloneSession` would copy its temp functions). */
class NativeFacesSpec extends SparkSpec {

  // inline tables over built-in SQL only; `id` orders the rows
  private val vecs = "VALUES (0, array(1.0d, 2.0d), array(2.0d, 1.0d)), " +
    "(1, array(0.0d, 0.0d), array(1.0d, 2.0d)), " +
    "(2, CAST(NULL AS array<double>), array(1.0d, 0.0d)) AS t(id, a, b)"
  private val toks = "VALUES (0, array('a', 'b', 'c'), array('b', 'c', 'd')), " +
    "(1, array('x', NULL, 'y'), CAST(array() AS array<string>)), " +
    "(2, CAST(NULL AS array<string>), array('a')) AS t(id, a, b)"
  private val strs = "VALUES (0, 'martha', 'marhta'), (1, '', ''), " +
    "(2, CAST(NULL AS string), 'a') AS t(id, a, b)"
  private val sigs = "VALUES (0, array(1, 2, 3, 4)), (1, array(5, NULL)), " +
    "(2, CAST(NULL AS array<int>)) AS t(id, a)"
  private val centroids = "array(array(1.0d, 0.0d), array(0.0d, 1.0d))"
  private val books =
    "array(array(array(0.0d), array(1.0d)), array(array(0.0d), array(2.0d)))"

  /** (SQL call, input table, Column face of the same call) */
  private val cases: Seq[(String, String, Column)] = Seq(
    ("cosine_sim(a, b)", vecs, GraftFunctions.cosineSim(col("a"), col("b"))),
    ("jaccard_sim(a, b)", toks, GraftFunctions.jaccardSim(col("a"), col("b"))),
    ("minhash_sig(a, 8)", toks, GraftFunctions.minhashSig(col("a"), 8)),
    ("simhash64(a)", toks, GraftFunctions.simhash64(col("a"))),
    ("jaro_winkler(a, b)", strs, GraftFunctions.jaroWinkler(col("a"), col("b"))),
    (s"cell_argmax(a, $centroids)", vecs,
      GraftFunctions.cellArgmax(col("a"), expr(centroids))),
    (s"pq_encode(a, $books)", vecs, GraftFunctions.pqEncode(col("a"), expr(books))),
    (s"pq_lut(a, $books)", vecs, GraftFunctions.pqLut(col("a"), expr(books))),
    ("word_ngrams(a, 2)", toks, GraftFunctions.wordNgrams(col("a"), 2)),
    ("token_bigrams(a)", toks, GraftFunctions.tokenBigrams(col("a"))),
    ("band_hashes(a, 2, 2)", sigs, GraftFunctions.bandHashes(col("a"), 2, 2)))

  test("the cases cover every native SQL name") {
    assert(cases.map(_._1.takeWhile(_ != '(')).toSet ==
      GraftFunctions.descriptors.map(_._1.funcName).toSet)
  }

  cases.foreach { case (call, table, face) =>
    val name = call.takeWhile(_ != '(')
    test(s"$name face runs unregistered and equals the SQL name") {
      val fresh = spark.newSession()
      val unresolved = intercept[AnalysisException] {
        fresh.sql(s"SELECT $call FROM $table").collect()
      }
      assert(unresolved.getMessage.contains("UNRESOLVED_ROUTINE"), unresolved.getMessage)
      val got = fresh.sql(s"SELECT * FROM $table").select(col("id"), face)
        .orderBy("id")

      GraftFunctions.register(spark)
      val want = spark.sql(s"SELECT id, $call FROM $table ORDER BY id")
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.collect().toSeq == want.collect().toSeq)
    }
  }

  test("src/main reaches no native function by its SQL name") {
    val names = GraftFunctions.descriptors.map(_._1.funcName).mkString("|")
    val byName = Seq(
      """GraftFunctions\.register\(""",
      s"""call_function\\("($names)"""",
      s""""[^"]*\\b($names)\\(""").map(_.r)
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val files = java.nio.file.Files.walk(root)
    val hits = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if byName.exists(_.findFirstIn(line).isDefined) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally files.close()
    assert(hits.isEmpty, "use the GraftFunctions Column faces:\n" + hits.mkString("\n"))
  }
}

package graft

import graft.functions.expressions.{BandHashes, CellArgMax, CosineSimilarity, JaccardSimilarity, JaroWinkler, MinHashSignature, PqEncode, PqLut, SimHash64, TokenBigrams, WordNgrams}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.NativeColumn

/** Puts the native expressions' SQL names into every session built with
  * it, for SQL text (`SELECT cosine_sim(a, b)`):
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)
  * // or the conf "spark.sql.extensions" -> "graft.GraftExtensions"
  * }}}
  *
  * `register` in [[GraftFunctions]] does the same on an already-built
  * session. The Column faces there need neither.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(e.injectFunction)
}

/** The native expressions, two ways. Each Column face holds its
  * expression directly, so it works on any session with no registration.
  * The SQL names come from one table, `descriptors`, which both
  * [[GraftExtensions]] and [[register]] read; they exist only for SQL
  * text. Both routes give the analyzer the same expression, whose
  * `prettyName` is its SQL name. */
object GraftFunctions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def entry(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** SQL name, expression class and builder of every native function. */
  private[graft] val descriptors = Seq(
    entry("cosine_sim", classOf[CosineSimilarity])(a => CosineSimilarity(a(0), a(1))),
    entry("jaccard_sim", classOf[JaccardSimilarity])(a => JaccardSimilarity(a(0), a(1))),
    entry("minhash_sig", classOf[MinHashSignature])(
      a => MinHashSignature(a(0), intArg(a(1), "minhash_sig k"))),
    entry("simhash64", classOf[SimHash64])(a => SimHash64(a(0))),
    entry("jaro_winkler", classOf[JaroWinkler])(a => JaroWinkler(a(0), a(1))),
    entry("cell_argmax", classOf[CellArgMax])(a => CellArgMax(a(0), a(1))),
    entry("pq_encode", classOf[PqEncode])(a => PqEncode(a(0), a(1))),
    entry("pq_lut", classOf[PqLut])(a => PqLut(a(0), a(1))),
    entry("word_ngrams", classOf[WordNgrams])(
      a => WordNgrams(a(0), intArg(a(1), "word_ngrams n"))),
    entry("token_bigrams", classOf[TokenBigrams])(a => TokenBigrams(a(0))),
    entry("band_hashes", classOf[BandHashes])(a => BandHashes(a(0),
      intArg(a(1), "band_hashes b"), intArg(a(2), "band_hashes r"))))

  /** Add the SQL names a live session does not have yet (temp functions,
    * session-scoped); a repeat call changes nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, _, build) =>
      if (!registry.functionExists(id))
        registry.createOrReplaceTempFunction(id.funcName, build, "scala_udf")
    }
  }

  private def e(c: Column): Expression = NativeColumn.expr(c)

  def cosineSim(a: Column, b: Column): Column = NativeColumn(CosineSimilarity(e(a), e(b)))
  def jaccardSim(a: Column, b: Column): Column = NativeColumn(JaccardSimilarity(e(a), e(b)))
  def minhashSig(arr: Column, k: Int): Column = NativeColumn(MinHashSignature(e(arr), k))
  def simhash64(toks: Column): Column = NativeColumn(SimHash64(e(toks)))
  def jaroWinkler(a: Column, b: Column): Column = NativeColumn(JaroWinkler(e(a), e(b)))
  def cellArgmax(vec: Column, centroids: Column): Column =
    NativeColumn(CellArgMax(e(vec), e(centroids)))
  def pqEncode(vec: Column, books: Column): Column = NativeColumn(PqEncode(e(vec), e(books)))
  def pqLut(vec: Column, books: Column): Column = NativeColumn(PqLut(e(vec), e(books)))
  def wordNgrams(toks: Column, n: Int): Column = NativeColumn(WordNgrams(e(toks), n))
  def tokenBigrams(toks: Column): Column = NativeColumn(TokenBigrams(e(toks)))
  def bandHashes(sig: Column, b: Int, r: Int): Column = NativeColumn(BandHashes(e(sig), b, r))
}

package graft

import graft.functions.expressions.{BandHashes, CellArgMax, CosineSimilarity, JaccardSimilarity, JaroWinkler, MinHashSignature, PqEncode, PqLut, SimHash64, TokenBigrams, WordNgrams}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graft.NativeColumn

/** Engine extensions, injectable at session build time:
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)
  * // or the conf "spark.sql.extensions" -> "graft.GraftExtensions"
  * // in a ScaleConfig posture
  * }}}
  *
  * Registers the native expressions (SQL: `SELECT cosine_sim(a, b)`).
  * [[GraftFunctions.register]] does the same on an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(e.injectFunction)
  }
}

object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  private[graft] val cosineSimDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1)))

  private[graft] val jaccardSimDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("jaccard_sim"),
    new ExpressionInfo(classOf[JaccardSimilarity].getName, "jaccard_sim"),
    (exprs: Seq[Expression]) => JaccardSimilarity(exprs(0), exprs(1)))

  private def asLiteralInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[graft] val minhashSigDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
    (exprs: Seq[Expression]) =>
      MinHashSignature(exprs(0), asLiteralInt(exprs(1), "minhash_sig k")))

  private[graft] val simhash64Descriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    (exprs: Seq[Expression]) => SimHash64(exprs(0)))

  private[graft] val jaroWinklerDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
    (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1)))

  private[graft] val cellArgmaxDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cell_argmax"),
    new ExpressionInfo(classOf[CellArgMax].getName, "cell_argmax"),
    (exprs: Seq[Expression]) => CellArgMax(exprs(0), exprs(1)))

  private[graft] val pqEncodeDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_encode"),
    new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
    (exprs: Seq[Expression]) => PqEncode(exprs(0), exprs(1)))

  private[graft] val pqLutDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_lut"),
    new ExpressionInfo(classOf[PqLut].getName, "pq_lut"),
    (exprs: Seq[Expression]) => PqLut(exprs(0), exprs(1)))

  private[graft] val wordNgramsDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_ngrams"),
    new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
    (exprs: Seq[Expression]) =>
      WordNgrams(exprs(0), asLiteralInt(exprs(1), "word_ngrams n")))

  private[graft] val tokenBigramsDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("token_bigrams"),
    new ExpressionInfo(classOf[TokenBigrams].getName, "token_bigrams"),
    (exprs: Seq[Expression]) => TokenBigrams(exprs(0)))

  private[graft] val bandHashesDescriptor:
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("band_hashes"),
    new ExpressionInfo(classOf[BandHashes].getName, "band_hashes"),
    (exprs: Seq[Expression]) => BandHashes(exprs(0),
      asLiteralInt(exprs(1), "band_hashes b"), asLiteralInt(exprs(2), "band_hashes r")))

  private[graft] val descriptors = Seq(cosineSimDescriptor, jaccardSimDescriptor,
    minhashSigDescriptor, simhash64Descriptor, jaroWinklerDescriptor,
    cellArgmaxDescriptor, pqEncodeDescriptor, pqLutDescriptor,
    wordNgramsDescriptor, tokenBigramsDescriptor, bandHashesDescriptor)

  /** Register on a live session (temp function, session-scoped). */
  def register(spark: SparkSession): Unit = descriptors.foreach { case (id, _, builder) =>
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(id.funcName, builder, "scala_udf")
  }

  /** Column-API faces of the native expressions (require registration). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def jaccardSim(a: Column, b: Column): Column = call_function("jaccard_sim", a, b)
  def minhashSig(arr: Column, k: Int): Column =
    call_function("minhash_sig", arr, org.apache.spark.sql.functions.lit(k))
  def simhash64(toks: Column): Column = call_function("simhash64", toks)
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)
  def cellArgmax(vec: Column, centroids: Column): Column =
    call_function("cell_argmax", vec, centroids)
  def pqEncode(vec: Column, books: Column): Column =
    call_function("pq_encode", vec, books)
  def pqLut(vec: Column, books: Column): Column =
    call_function("pq_lut", vec, books)

  /** Column-API faces of the text kernels. Each holds its expression
    * directly, so it needs no registration on the session it runs in. */
  def wordNgrams(toks: Column, n: Int): Column =
    NativeColumn(WordNgrams(NativeColumn.expr(toks), n))
  def tokenBigrams(toks: Column): Column =
    NativeColumn(TokenBigrams(NativeColumn.expr(toks)))
  def bandHashes(sig: Column, b: Int, r: Int): Column =
    NativeColumn(BandHashes(NativeColumn.expr(sig), b, r))
}

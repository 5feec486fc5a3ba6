package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level boilerplate detection and removal over token n-grams —
  * the FineWeb/C4-style scrub where fragments repeated across MANY
  * documents (navigation chrome, license headers, templated footers)
  * are located by document frequency and struck from every document.
  *
  * Shape, built for 100 TB:
  *
  *  1. ''Document frequency'' of each n-gram via one hash-aggregate
  *     shuffle keyed by the n-gram. The per-doc `array_distinct`
  *     happens BEFORE the explode, so a fragment repeated inside one
  *     document contributes one row to the shuffle, and partial
  *     (map-side) aggregation compresses each partition to its
  *     distinct-n-gram set. No `countDistinct` double shuffle.
  *  2. The boilerplate set (`df >= minDf`) is usually corpus-vocabulary
  *     sized, not corpus sized — it broadcasts when small and falls
  *     back to a shuffled join when not; we leave that decision to
  *     Catalyst/AQE rather than pinning a hint.
  *  3. Per-document coverage is a second keyed aggregate on the doc id.
  *
  * Every shuffle and join is keyed by the n-gram string itself, so
  * coverage is exact (no hash collision can over-count a document).
  */
object Boilerplate {

  /** All n-grams of `text` (whitespace tokens) as an array column, in
    * position order; empty array when the document has fewer than `n`
    * tokens, null for a null text.
    */
  def ngrams(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) < n, array().cast("array<string>"))
      .when(size(toks) >= n, graft.GraftFunctions.wordNgrams(toks, n))
  }

  /** Document frequency of every n-gram: one row per distinct n-gram
    * with the count of distinct documents containing it. One shuffle
    * (see object scaladoc). Output: (`ngram`, `df`).
    */
  def docFrequency(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(explode(array_distinct(ngrams(col(textCol), n))).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))

  /** Per-document boilerplate coverage: for each document with at least
    * `n` tokens, the total n-gram position count and how many of those
    * positions hold an n-gram whose corpus document frequency is
    * ≥ `minDf`. Two keyed shuffles + one (usually broadcast) join.
    *
    * Output: `idCol`, `carryCols`..., `positions`, `bp_positions`.
    * Documents with fewer than `n` tokens have no defined coverage and
    * are excluded (consistent with the oracle).
    */
  def coverage(df: DataFrame, idCol: String, textCol: String, n: Int,
      minDf: Int, carryCols: Seq[String] = Nil): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(minDf >= 2, s"minDf < 2 marks every n-gram boilerplate: $minDf")
    val bp = docFrequency(df, textCol, n)
      .filter(col("df") >= minDf)
      .select(col("ngram"), lit(1).as("_isbp"))
    val positions = df
      .filter(size(split(col(textCol), " ")) >= n)
      .select((col(idCol) +: carryCols.map(col)) :+
        explode(ngrams(col(textCol), n)).as("ngram"): _*)
    positions.join(bp, Seq("ngram"), "left")
      .groupBy(col(idCol) +: carryCols.map(col): _*)
      .agg(count(lit(1)).as("positions"), count(col("_isbp")).as("bp_positions"))
  }

  /** Remove boilerplate from the text itself: every token covered by at
    * least one boilerplate n-gram position is dropped, the rest are
    * re-joined with single spaces. Adds/replaces `outCol`; all other
    * columns pass through. Same shuffle shape as [[coverage]] plus the
    * join back to the full row (broadcast when the boilerplate set is
    * small; never a second pass over `text`).
    *
    * Implementation: collect each document's boilerplate START positions
    * as an array, then one HOF pass marks token index t covered iff some
    * start s satisfies s ≤ t < s+n. Positions-per-doc is ≤ token count,
    * so the intermediate is document-sized, never corpus-sized.
    */
  def scrub(df: DataFrame, idCol: String, textCol: String, n: Int,
      minDf: Int, outCol: String = "text_scrubbed"): DataFrame = {
    val bp = docFrequency(df, textCol, n)
      .filter(col("df") >= minDf)
      .select(col("ngram"), lit(1).as("_isbp"))
    val starts = df
      .select(col(idCol), posexplode(ngrams(col(textCol), n)).as(Seq("_s", "ngram")))
      .join(bp, Seq("ngram"), "left")
      .filter(col("_isbp").isNotNull)
      .groupBy(col(idCol)).agg(sort_array(collect_list(col("_s"))).as("_starts"))
    df.join(starts, Seq(idCol), "left")
      .withColumn(outCol, {
        val toks = split(col(textCol), " ")
        val st = coalesce(col("_starts"), array().cast("array<int>"))
        concat_ws(" ", filter(toks, (t, i) =>
          !exists(st, s => s <= i && i < s + n)))
      })
      .drop("_starts")
  }
}

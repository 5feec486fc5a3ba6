package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language identification, and document fingerprinting.
  * All pure Catalyst expressions (split / HOFs / regexp / native hashes) —
  * per-row map work with no shuffle, so they scale linearly and stay
  * inside whole-stage codegen.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: splits on word/number/punct boundaries the way
    * byte-pair pretokenizers do (letters runs, digit runs, single
    * punctuation marks each count).
    */
  def subwordCount(text: Column): Column =
    size(filter(
      split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => t =!= "" && t =!= " "))

  private val stopwords =
    Seq("the", "of", "and", "a", "to", "in", "is", "it", "that", "for",
      "on", "as", "with", "was", "at", "by", "an", "be", "this", "are")

  /** Stopword ratio over whitespace tokens (english stopword list). */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
      greatest(size(toks), lit(1))
  }

  /** Mean characters per token. */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x).cast("double") / greatest(size(toks), lit(1))
  }

  /** Ratio of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))).cast("double") /
      greatest(length(text), lit(1))

  /** Digit-character ratio. */
  def digitRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double") /
      greatest(length(text), lit(1))

  /** Composite quality score in [0,1]: long-enough docs with word-like
    * tokens, few digits/punct, some stopword mass score high. The exact
    * blend is a curation heuristic; determinism is what's contractual.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500d, lit(1d))
    val tokScore = when(meanTokenLen(text).between(3d, 9d), 1d).otherwise(0.5)
    val punctScore = lit(1d) - least(punctRatio(text) * 5d, lit(1d))
    val digitScore = lit(1d) - least(digitRatio(text) * 5d, lit(1d))
    round(lenScore * 0.4 + tokScore * 0.2 + punctScore * 0.2 + digitScore * 0.2, 6)
  }

  /** Character-class n-gram profiles per language (tiny built-in model):
    * each language scores by stopword hits + characteristic letter
    * patterns. Returns the argmax language code. On latin word-salad
    * corpora this degrades to the stopword signal — the plumbing (argmax
    * over per-language scores, no shuffle) is the contract.
    */
  def langId(text: Column): Column = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is"),
      "es" -> Seq("el", "la", "de", "que", "y"),
      "fr" -> Seq("le", "la", "les", "et", "des"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "zh" -> Seq("的", "是", "了", "在", "我"))
    val toks = tokens(lower(text))
    val scored = profiles.map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isin(words: _*))).as("score"),
        lit(lang).as("lang"))
    }
    // argmax by (score, lang) — greatest picks lexicographically larger
    // struct; ties break to the later language code deterministically.
    greatest(scored: _*).getField("lang")
  }

  /** Term frequency (A11): one row per (doc, term) with in-doc count and
    * relative frequency. Explode + two-level aggregate; the (docId, term)
    * shuffle is the only wide step and is what an inverted index /
    * TF-IDF pipeline shuffles anyway.
    */
  def termFrequency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol).as("doc"),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"),
        explode(tokens(col(textCol))).as("term"))
    terms.groupBy(col("doc"), col("n_tokens"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc"), col("term"), col("tf"),
        (col("tf") / col("n_tokens")).as("rel_tf"))
  }

  /** Corpus document frequency + IDF per term (smooth idf). */
  def documentFrequency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nDocs = df.count().toDouble
    df.select(col(idCol).as("doc"),
        explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(nDocs + 1) / (col("df") + 1)) + 1)
  }

  /** Top-k TF-IDF keywords per document — the per-doc summarization
    * twin of [[tfidfPairs]] (same ln(N/df)+1 idf, same postings
    * build). One (doc, term) aggregate, a broadcast vocab join, and a
    * per-DOC window rank — the partition key is the document id, so
    * the window never concentrates; ties break on the term string
    * (deterministic across engines: the score inputs are integers, so
    * equal scores are bit-equal, never approximately equal).
    */
  def keywordExtract(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count().toDouble // driver scalar: one count job
    val tf = df
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(nDocs) / col("df")) + 1)
    val w = Window.partitionBy(col("doc")).orderBy(col("score").desc, col("term"))
    tf.join(broadcast(idf), "term")
      .select(col("doc"), col("term"), (col("tf") * col("idf")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc"), col("rk"), col("term"), round(col("score"), 6).as("score"))
  }

  /** Top-k most similar document pairs by TF-IDF cosine, via a
    * term-partitioned sparse dot product: weight vectors never
    * materialize — the pair dot product is assembled by equi-joining
    * the (doc, term, w) postings on the term and summing w·w per pair,
    * the classic inverted-index formulation. idf here is ln(N/df)+1
    * (every term occurs somewhere, so no smoothing needed — cf. the
    * smooth variant in [[documentFrequency]]).
    *
    * Shape: postings build = one (doc,term) aggregate; idf is
    * vocab-sized (broadcast); the pair sum shuffles postings once on
    * the term. Cost is Σ_t df(t)² over DISTINCT texts — exact
    * duplicates are collapsed first ([[Dedup.exactClassAgg]],
    * round-7): tf and norms are text-functional, so the postings
    * self-join runs over one representative per class (df/idf still
    * count every document via the class multiplicity), and the final
    * doc-level top-k expands only the classes whose pair cosine
    * reaches the k-th best class-pair cosine — a sound cutoff because
    * each kept class pair contributes ≥ 1 doc pair at exactly its
    * cosine, so ≥ k doc pairs exist at or above the boundary and no
    * excluded pair can rank. A further scale lever (not applied — the
    * oracle is exact) is dropping the low-idf head before the
    * self-join.
    */
  def tfidfPairs(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count().toDouble // driver scalar: one count job
    // r12: class frame via the one-pass text-keyed AGGREGATE
    // ([[Dedup.exactClassAgg]], persisted) instead of the window form —
    // the window re-executed its full-corpus sort for each of `mem`'s
    // consumers (classes here, ids below feeds four expansion joins).
    // Member grain is one corpus⋈frame probe on the text (null-safe,
    // as in [[Dedup.collapsedDocPairs]]), persisted for its consumers.
    val frame = Dedup.exactClassAgg(
      df.select(col(idCol).as("__did"), col(textCol).as("__txt")),
      "__did", "__txt")
    val mem = graft.CacheScope.eager(
      df.select(col(idCol).as("__did"), col(textCol).as("__txt"))
        .join(frame.select(col("__txt").as("__ftxt"), col("__cls")),
          col("__txt") <=> col("__ftxt"))
        .select(col("__cls"), col("__did")))
    val classes = frame
      .select(col("__cls").as("doc"), col("__txt").as("__txt"), col("__m"))
    val tf = classes
      .select(col("doc"), col("__m"), explode(tokens(col("__txt"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc"), col("__m"), col("term")).agg(count(lit(1)).as("tf"))
    // df counts DOCUMENTS, not classes: each class contributes its
    // multiplicity — idf is exactly the uncollapsed value
    val idf = tf.groupBy(col("term")).agg(sum(col("__m")).as("df"))
      .withColumn("idf", log(lit(nDocs) / col("df")) + 1)
    val w = tf.join(broadcast(idf), "term")
      .select(col("doc"), col("__m"), col("term"), (col("tf") * col("idf")).as("w"))
    val nrm = w.groupBy(col("doc"), col("__m"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nn"),
        sum(col("w") * col("w")).as("__w2"))
    val cross = w.as("a").join(w.as("b"),
        col("a.term") === col("b.term") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("c1"), col("b.doc").as("c2"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .join(nrm.select(col("doc").as("c1"), col("nn").as("n1")), "c1")
      .join(nrm.select(col("doc").as("c2"), col("nn").as("n2")), "c2")
      .select(col("c1"), col("c2"),
        round(col("dot") / (col("n1") * col("n2")), 6).as("cosine"))
    // twin pairs: cosine of a doc with its exact copy, same float
    // recipe (Σw² over the term sum vs the product of the two norms)
    val self = nrm.filter(col("__m") >= 2)
      .select(col("doc").as("c1"), col("doc").as("c2"),
        round(col("__w2") / (col("nn") * col("nn")), 6).as("cosine"))
    val classPairs = cross.unionByName(self)
    // boundary = k-th best class-pair cosine (any tie choice gives the
    // same value); keep every class pair at or above it
    val boundary = classPairs
      .orderBy(col("cosine").desc).limit(k)
      .agg(min(col("cosine")).as("__b"))
    val keep = classPairs.crossJoin(broadcast(boundary))
      .filter(col("cosine") >= col("__b"))
    val ids = mem.select(col("__cls"), col("__did"))
    val crossDocs = keep.filter(col("c1") =!= col("c2"))
      .join(ids.select(col("__cls").as("c1"), col("__did").as("__da")), "c1")
      .join(ids.select(col("__cls").as("c2"), col("__did").as("__db")), "c2")
      .select(least(col("__da"), col("__db")).as("d1"),
        greatest(col("__da"), col("__db")).as("d2"), col("cosine"))
    val selfDocs = keep.filter(col("c1") === col("c2"))
      .join(ids.select(col("__cls").as("c1"), col("__did").as("__da")), "c1")
      .join(ids.select(col("__cls").as("c1"), col("__did").as("__db")), "c1")
      .filter(col("__da") < col("__db"))
      .select(col("__da").as("d1"), col("__db").as("d2"), col("cosine"))
    crossDocs.unionByName(selfDocs)
      .orderBy(col("cosine").desc, col("d1"), col("d2"))
      .limit(k)
  }

  /** Exact top-k most frequent tokens (corpus vocabulary head).
    * Explode → count → global top-k: the count shuffle is on the token
    * key (high cardinality, naturally spread) and the top-k is a
    * per-partition heap merge (`TakeOrderedAndProject`) — no global sort.
    * Tie-break: token ascending (deterministic).
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Within-document repetition ratio — the Gopher-style quality
    * signal: 1 − |distinct n-grams| / |n-grams| over token `n`-grams
    * (0 = no repeated n-gram, →1 = highly repetitive boilerplate).
    * Returns 0 for docs with < n tokens (no n-gram at all). The grams
    * come from the native [[graft.functions.expressions.WordNgrams]]
    * kernel, which evaluates `toks` once per row, so `toks` may be any
    * expression (an inline `split` included).
    */
  def repetitionRatioOfTokens(toks: Column, n: Int = 3): Column = {
    val total = size(toks) - (n - 1)
    when(size(toks) >= n,
      lit(1.0) - size(array_distinct(graft.GraftFunctions.wordNgrams(toks, n)))
        .cast("double") / total)
      .otherwise(lit(0.0))
  }

  /** Token chunking — the RAG/context-window shaping primitive: each
    * document's token stream splits into `chunkSize`-token chunks whose
    * starts advance by `chunkSize − overlap` (consecutive chunks share
    * `overlap` tokens). Start positions run while `start ≤
    * max(n − overlap, 1)`, so every token is covered, the tail chunk may
    * be short, and no chunk is a pure suffix of its predecessor. A doc
    * with ≤ `overlap` tokens (including the empty doc) yields exactly
    * one chunk.
    *
    * Output: the input row × (`chunk_idx` 0-based, `chunk`
    * array<string>). Narrow map + generate — no shuffle; chunk count
    * per row is (n−size)/step bounded, so output size scales linearly
    * with corpus tokens at any scale. The slicing lambda stays a
    * higher-order function (interpreted), and its evaluation shape is
    * not guaranteed: tokens are projected to a column first, but
    * CollapseProject may fold `split` back into the lambda, which then
    * re-splits the text per chunk.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val step = chunkSize - overlap
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__starts",
        sequence(lit(1), greatest(size(col("__toks")) - overlap, lit(1)), lit(step)))
      .select(col("*"),
        posexplode(transform(col("__starts"),
          s => slice(col("__toks"), s, lit(chunkSize)))).as(Seq("chunk_idx", "chunk")))
      .drop("__toks", "__starts")
  }

  /** (id, span) relation: every DISTINCT contiguous `spanLen`-token span
    * per document — the unit of span-level (substring) dedup, where the
    * signal is a repeated PASSAGE across documents rather than
    * whole-document similarity (boilerplate, quotations, templated
    * text). Documents shorter than `spanLen` tokens emit nothing.
    *
    * Spans come from the native [[graft.functions.expressions.WordNgrams]]
    * kernel (tokens evaluated once per row), rows are spread across cores
    * first (span cost follows row count, not file bytes), and
    * `array_distinct` runs BEFORE the explode so a span repeated within
    * one document crosses the shuffle once. Downstream aggregation
    * shuffles on the span key — high cardinality, naturally spread; at
    * 100 TB group on `xxhash64(span)` instead to shuffle 8-byte keys.
    */
  def spanTable(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2, got $spanLen")
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    df.repartition(parallelism, col(idCol))
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= spanLen)
      .select(col("id"),
        explode(array_distinct(
          graft.GraftFunctions.wordNgrams(col("toks"), spanLen))).as("span"))
  }

  /** Spans of `spanLen` tokens duplicated ACROSS documents: one row per
    * span appearing in ≥2 distinct docs, with its doc count. The scan
    * side of span-level dedup — join back on `span` to locate/excise the
    * duplicated passages.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 8): DataFrame =
    spanTable(df, idCol, textCol, spanLen)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs")) // spanTable is distinct per (id, span)
      .filter(col("n_docs") > 1)

  /** Approximate token counts via a count-min sketch — the 100 TB twin of
    * [[topTokens]]' exact counting when the vocabulary itself is too
    * large to shuffle comfortably. The sketch is a fixed-size mergeable
    * aggregate: partials combine map-side, ONE sketch (not the token
    * table) crosses the wire, and any token's count is estimable after
    * the fact. Guarantee: estimate ∈ [true, true + eps·N] with prob.
    * ≥ confidence, N = total token occurrences.
    */
  def approxTokenCounts(
      df: DataFrame, textCol: String, candidates: Seq[String],
      eps: Double = 0.0001, confidence: Double = 0.99, seed: Int = 42): Map[String, Long] = {
    val sketchBytes = df
      .select(explode(tokens(col(textCol))).as("t"))
      .agg(expr(s"count_min_sketch(t, CAST($eps AS DOUBLE), CAST($confidence AS DOUBLE), $seed)"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    candidates.map(t => t -> cms.estimateCount(t)).toMap
  }

  /** Edit-distance pair histogram WITHOUT materializing id-level pairs:
    * counts, per distance ≤ `maxDist`, the unordered row pairs whose
    * texts are that far apart. Dedup-first: collapse to text grain with
    * multiplicities (duplicate texts are the common case in real
    * corpora — part names here are 64 distinct over 20 k rows), pair
    * the DISTINCT texts via lossless symmetric-delete blocking
    * ([[FuzzyJoin.symDeleteJoin]]), and weight each text pair by
    * m_a·m_b (plus the within-text C(m,2) pairs at distance 0). Work is
    * quadratic in DISTINCT texts, linear in rows — the id-level
    * formulation ([[fuzzyPairs]]) is quadratic in rows for exactly
    * this histogram and melts down on duplicate-heavy corpora.
    */
  def fuzzyHistogram(df: DataFrame, textCol: String, maxDist: Int): DataFrame = {
    val grp = df.groupBy(col(textCol).as("__t"))
      .agg(count(lit(1)).as("__m"))
    val within = grp
      .select(lit(0).as("dist"), expr("(__m * (__m - 1)) div 2").as("c"))
      .groupBy(col("dist")).agg(sum(col("c")).as("c"))
      .filter(col("c") > 0)
    val cross = FuzzyJoin.symDeleteJoin(grp.select(col("__t")), "__t", maxDist)
      .join(grp.select(col("__t").as("s1"), col("__m").as("m1")), "s1")
      .join(grp.select(col("__t").as("s2"), col("__m").as("m2")), "s2")
      .groupBy(col("dist")).agg(sum(col("m1") * col("m2")).as("c"))
    within.unionByName(cross)
      .groupBy(col("dist")).agg(sum(col("c")).as("c"))
  }

  /** Fuzzy near-match pairs: all (id_a < id_b) with
    * `levenshtein(text_a, text_b) ≤ maxDist`, WITHOUT a cross join.
    * Blocking: edit distance ≤ k implies |len(a) − len(b)| ≤ k, so rows
    * join on length buckets of width k+1 (each left row probes its own
    * and the two adjacent buckets) — the cross product shrinks to
    * within-band pairs before any levenshtein runs. Length blocks are
    * few and fat for natural text, so at corpus scale pass `blockCols`
    * (e.g. a first-token or prefix column) to subdivide them — blocking
    * keys compose, recall is unaffected by `blockCols` only if equal
    * texts share them (exact for prefix blocks ≤ the distance bound's
    * guarantees you choose).
    */
  def fuzzyPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      blockCols: Seq[Column] = Nil): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val w = maxDist + 1
    val baseCols: Seq[Column] =
      Seq(col(idCol).as("id"), col(textCol).as("t"),
        (length(col(textCol)) / w).cast("long").as("__lb")) ++
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"__blk$i") }
    val base = df.select(baseCols: _*)
    val blockKeys = "__lb" +: blockCols.indices.map(i => s"__blk$i")
    val l = base.select(
      explode(array(col("__lb") - 1, col("__lb"), col("__lb") + 1)).as("__lb") +:
        (col("id").as("id_a") +: col("t").as("t_a") +:
          blockCols.indices.map(i => col(s"__blk$i"))): _*)
    val r = base.select(
      col("__lb") +: col("id").as("id_b") +: col("t").as("t_b") +:
        blockCols.indices.map(i => col(s"__blk$i")): _*)
    l.join(r, blockKeys)
      .filter(col("id_a") < col("id_b"))
      .filter(abs(length(col("t_a")) - length(col("t_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .filter(col("dist") <= maxDist)
      // no dedup shuffle needed: the right side holds ONE bucket per row
      // and the left explode values are distinct, so each (a, b) pair
      // joins exactly once
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Pattern scrubbing for training-data hygiene: replace every match of
    * each (regex → replacement) rule, applied in order. Pure narrow map
    * (chained codegen'd `regexp_replace`) — no shuffle, linear scaling.
    * Default rules mask email addresses and long digit runs (id/phone
    * shaped); callers pass their own policy for anything serious.
    */
  def scrub(
      text: Column,
      rules: Seq[(String, String)] = Seq(
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
        "\\d{7,}" -> "<NUM>")): Column =
    rules.foldLeft(text) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }

  /** Canonical text normalization for matching/dedup keys: lowercase,
    * non-alphanumerics to spaces, whitespace runs collapsed, trimmed.
    * Narrow codegen'd map, no shuffle. Run AFTER [[scrub]] when both
    * apply — scrub's `<EMAIL>`-style sentinels are angle-bracketed
    * precisely so normalization folds them into plain tokens. ASCII
    * semantics by construction (the regexes say a-z0-9); swap the
    * classes for `\\p{L}\\p{N}` when a corpus needs full Unicode.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Order-sensitive 64-bit document fingerprint: rotate-XOR rolling hash
    * over token xxhash64s (rotl(acc,5) ^ h(token)). Equal token sequences
    * ⇒ equal fingerprints; reordering changes it (unlike a bag-of-tokens
    * hash). Rotate-XOR instead of polynomial multiply because ANSI mode
    * (Spark 4 default) faults on long overflow — rotation wraps for free.
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) =>
        shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)).bitwiseXOR(xxhash64(t)))
}

package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concentration / inequality analytics and corpus coverage
  * (SURVEY.md §2.3.1 extensions, q121–q124): Gini coefficients,
  * Pareto thresholds, top-k concentration ratios, and vocabulary
  * out-of-vocabulary rates — the "is this distribution dangerously
  * skewed" readouts a data-mix owner monitors.
  *
  * Determinism: every statistic reduces to exact integer sums (cents,
  * ranks, token counts) carried in DECIMAL(38,0)/HUGEINT so they stay
  * exact at any scale, then ONE closed-form double expression both
  * engines evaluate identically. Ranks always carry a unique tiebreak.
  *
  * Scale shapes: one group-key shuffle per operator (entity rollup +
  * ranked window over the same key); [[oovRates]] broadcasts the
  * bounded vocabulary, the corpus is never shuffled by token.
  */
object Concentration {

  private def orderedSmall(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).orderBy(cols: _*)

  /** Gini coefficient per group over integer-valued entity totals:
    * with x ranked ascending (unique tiebreak), G =
    * (2·Σr·x − (n+1)·Σx) / (n·Σx). Rank-weighted sums are carried in
    * DECIMAL(38,0) — exact far past BIGINT at fact scale — and the
    * final expression is evaluated on doubles identically in both
    * engines.
    *
    * Computed WITHOUT the ranked window (round-8 rewrite, the q146
    * family fix): Σr·x is tie-invariant — entities sharing a value
    * occupy a contiguous rank run, and the run's rank-sum
    * w·c − w(w−1)/2 (c = inclusive cumulative count, w = multiplicity)
    * is independent of how ties order — so the whole statistic reads
    * off [[groupedCumCounts]]'s block-parallel exact cumulative
    * counts. A low-cardinality group key (5 market segments) no longer
    * caps sort parallelism at |keys| tasks. `tieCol` is retained for
    * API stability; it cannot affect the output. (w(w−1)/2 is computed
    * in long — exact up to ~3·10⁹ entities sharing ONE value in one
    * group.) */
  def gini(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cum = groupedCumCounts(df, keyCol, valueCol)
    // ranks of value v's run are (c-w+1 .. c): rank-sum = w·c − w(w−1)/2
    val rankSum = dec(col("__w")) * dec(col("__cum")) -
      dec(col("__w") * (col("__w") - lit(1L)) / lit(2L))
    cum.groupBy(col(keyCol))
      .agg(first(col("__n")).as("n"),
        sum(dec(col("__v")) * dec(col("__w"))).as("__s"),
        sum(dec(col("__v")) * rankSum).as("__src"))
      .select(col(keyCol), col("n"),
        round(
          (lit(2.0) * col("__src").cast("double") -
            (col("n") + lit(1.0)) * col("__s").cast("double")) /
            (col("n").cast("double") * col("__s").cast("double")),
          6).as("gini"))
  }

  /** Pareto threshold per group: the smallest top-k of entities (by
    * descending value, unique tiebreak) whose cumulative share reaches
    * `num/den` of the group total. The crossing test is pure integer
    * arithmetic (cum·den ≥ total·num) — no floating-point compare can
    * disagree between engines. Returns k, k/n and the share actually
    * covered at k.
    *
    * Computed WITHOUT the desc-ranked window (round-8 rewrite, the
    * q146 family fix): k is tie-invariant — entities sharing a value
    * contribute identically, so the crossing lands inside exactly one
    * value run, located from [[groupedCumCounts]]'s block-parallel
    * exact count + value cumulatives. With strictly-greater sum
    * A = T − S(v) and count B = N − c(v) above the run of v, the
    * crossing is in v's run iff A·den < T·num ≤ (A + w·v)·den; then
    * m = ⌈(T·num − A·den)/(v·den)⌉ entities of the run are needed and
    * k = B + m, covered = A + m·v. Requires POSITIVE values (the
    * cumulative must be strictly increasing through every run for the
    * bracket to be unique — entity totals in cents are). `tieCol` is
    * retained for API stability; it cannot affect the output. */
  def paretoThreshold(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"need 0<num<=den: $num/$den")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cum = groupedCumCounts(df, keyCol, valueCol, withValueCum = true)
    val t = col("__vtot")
    val above = t - col("__vcum") // strictly-greater value sum A
    val target = t * lit(num)
    val inRun = above * lit(den) < target &&
      (above + dec(col("__w")) * dec(col("__v"))) * lit(den) >= target
    val hit = cum.filter(inRun)
      .select(col(keyCol), col("__v"), col("__w"), col("__cum"),
        col("__n").as("n"), above.as("__a"), t.as("__t"))
    // m = ceil(R / D), R = T·num − A·den, D = v·den — decimal floor at
    // scale 6 plus an exact ±1 correction (the division is rational;
    // the correction makes any round-off harmless)
    val r = col("__t") * lit(num) - col("__a") * lit(den)
    val dv = dec(col("__v")) * lit(den)
    val q = floor(r / dv).cast("decimal(38,0)")
    val m = when(q * dv >= r, q).otherwise(q + lit(1))
    hit
      .withColumn("__m", m)
      // int like the historical row_number-based k (schema stability)
      .withColumn("k", (col("n") - col("__cum") + col("__m")).cast("int"))
      .withColumn("__ck", col("__a") + col("__m") * dec(col("__v")))
      .select(col(keyCol), col("n"), col("k"),
        round(col("k") / col("n").cast("double"), 6).as("frac_entities"),
        round(col("__ck").cast("double") / col("__t").cast("double"), 6)
          .as("share_at_k"))
  }

  /** Top-k concentration ratio (CRk) per group: share of the group
    * total held by its k largest entities (descending, unique
    * tiebreak). Exact integer sums; one double division. */
  def concentrationRatio(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(valueCol).desc, col(tieCol))
    df.withColumn("__r", row_number().over(w))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("__t"),
        sum(when(col("__r") <= k, col(valueCol)).otherwise(0L)
          .cast("decimal(38,0)")).as("__top"))
      .select(col(keyCol), col("n"),
        round(col("__top").cast("double") / col("__t").cast("double"), 6)
          .as(s"cr$k"))
  }

  /** Out-of-vocabulary rate per group against the corpus-global top-N
    * token vocabulary (count desc, token asc tiebreak — deterministic).
    * The vocabulary is bounded (N rows) and broadcast; the corpus
    * explode aggregates per (group, token) map-side before the probe,
    * so no token-key shuffle of raw positions. */
  def oovRates(df: DataFrame, groupCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val toks = df.select(col(groupCol).as("__g"),
        explode(split(lower(col(textCol)), " ")).as("__tok"))
      .groupBy(col("__g"), col("__tok")).agg(count(lit(1)).as("__c"))
    val vocab = toks.groupBy(col("__tok")).agg(sum(col("__c")).as("__tc"))
      .orderBy(col("__tc").desc, col("__tok")).limit(vocabSize)
      .select(col("__tok").as("__v"))
    toks.join(broadcast(vocab), col("__tok") === col("__v"), "left")
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("total_tokens"),
        sum(when(col("__v").isNull, col("__c")).otherwise(0L))
          .as("oov_tokens"))
      .select(col("__g").as(groupCol), col("total_tokens"), col("oov_tokens"),
        round(col("oov_tokens") / col("total_tokens").cast("double"), 6)
          .as("oov_rate"))
  }

  // ------------------------------------------------------ shared input

  /** Customer order totals in exact cents per market segment. */
  private def custTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))

  // --------------------------------------------------------------- q121

  /** q121 — revenue Gini per market segment: how unequally customer
    * lifetime order value is distributed inside each segment. */
  def giniQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      gini(custTotals(spark, dir), "c_mktsegment", "cents", "c_custkey"),
      col("c_mktsegment"))

  // --------------------------------------------------------------- q122

  /** q122 — Pareto 80% threshold per segment: the smallest top-k of
    * customers covering ≥ 4/5 of segment revenue (exact integer
    * crossing test). */
  def paretoQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      paretoThreshold(custTotals(spark, dir), "c_mktsegment", "cents",
        "c_custkey", num = 4, den = 5),
      col("c_mktsegment"))

  // --------------------------------------------------------------- q123

  /** q123 — supplier CR4 per nation: revenue share of each nation's
    * four largest suppliers (net line revenue, exact cents). */
  def cr4Query(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("cents"))
    orderedSmall(
      concentrationRatio(rev, "n_name", "cents", "s_suppkey", k = 4),
      col("n_name"))
  }

  // --------------------------------------------------------------- q124

  /** q124 — out-of-vocabulary rate per source against the corpus
    * top-1000 token vocabulary: the coverage readout that tells a
    * tokenizer owner which source drifts from the training vocab. */
  def oovQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      oovRates(Tables.load(spark, dir, "documents"), "source", "text",
        vocabSize = 1000),
      col("source"))

  // --------------------------------------------------------------- q130

  /** q130 — quality-retention curve: for each stopword-ratio threshold
    * t ∈ {0.0, 0.1, …, 0.9}, how many documents and characters survive
    * a "ratio ≥ t" quality bar (the q22 stopword convention) — the
    * curve a mix owner reads to price a quality cutoff in tokens. The
    * per-doc ratio is ONE division of exact integer counts; the
    * 10-threshold explode is bounded; every retained count is an exact
    * integer sum.
    */
  def qualityCurveQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stops = Seq("the", "of", "and", "a", "to", "in", "is", "it",
      "that", "for")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("n_chars"),
        (size(filter(split(lower(col("text")), " "),
          x => x.isin(stops.map(lit(_)): _*))).cast("double") /
          greatest(size(split(col("text"), " ")), lit(1))).as("__ratio"))
    val totals = docs.agg(count(lit(1)).as("__td"), sum(col("n_chars")).as("__tc"))
    val curve = docs
      .crossJoin(broadcast(spark.range(0, 10).select((col("id") / 10.0).as("t"))))
      .filter(col("__ratio") >= col("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_kept"))
    orderedSmall(
      curve.crossJoin(broadcast(totals))
        .select(col("t"), col("n_docs"), col("n_chars_kept"),
          round(col("n_docs") / col("__td").cast("double"), 6).as("frac_docs"),
          round(col("n_chars_kept") / col("__tc").cast("double"), 6)
            .as("frac_chars")),
      col("t"))
  }

  // --------------------------------------------------------------- q137

  /** Aggregate readability profile per group, sentence := document
    * (this corpus carries no sentence punctuation — the convention is
    * explicit, and with punctuated text the sentence count would swap
    * in for n_docs). Words are maximal non-space runs; the syllable
    * proxy is vowel-group count ([aeiouy]+ runs, the standard cheap
    * estimator). ALL aggregates are exact integer sums — the Flesch
    * expression is ONE closed-form double per group, no float
    * accumulation anywhere. One narrow scan + one group aggregate.
    */
  def readability(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val perDoc = df.select(col(groupCol).as("__g"),
      regexp_count(col(textCol), lit("\\S+")).as("__w"),
      regexp_count(lower(col(textCol)), lit("[aeiouy]+")).as("__syl"))
    perDoc.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__syl")).as("n_syllables"))
      .select(col("__g").as(groupCol), col("n_docs"), col("n_words"),
        col("n_syllables"),
        round(col("n_words") / col("n_docs").cast("double"), 4)
          .as("words_per_doc"),
        round(col("n_syllables") / col("n_words").cast("double"), 6)
          .as("syl_per_word"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words") / col("n_docs").cast("double")) -
          lit(84.6) * (col("n_syllables") / col("n_words").cast("double")), 4)
          .as("flesch"))
  }

  /** q137 — readability profile per document source: the
    * complexity-drift screen a curation mix runs next to q22's quality
    * ratios. */
  def readabilityQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      readability(Tables.load(spark, dir, "documents"), "source", "text"),
      col("source"))

  // --------------------------------------------------------------- q139

  /** Lexical diversity per group from one (group, token) aggregate:
    * total/distinct token counts, the type-token ratio, hapax
    * legomena (tokens seen once IN THE GROUP) and their share of the
    * group's vocabulary — the low-diversity / TEMPLATE-text detector.
    * Tokens are the q124 convention (lower + space split). All exact
    * integers; two final divisions.
    */
  def lexicalDiversity(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(groupCol).as("__g"),
        explode(split(lower(col(textCol)), " ")).as("__tok"))
      .groupBy(col("__g"), col("__tok")).agg(count(lit(1)).as("__c"))
    toks.groupBy(col("__g"))
      .agg(sum(col("__c")).as("total_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("hapax_tokens"))
      .select(col("__g").as(groupCol), col("total_tokens"),
        col("distinct_tokens"), col("hapax_tokens"),
        round(col("distinct_tokens") / col("total_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("hapax_tokens") / col("distinct_tokens").cast("double"), 6)
          .as("hapax_share"))
  }

  /** q139 — lexical diversity per document source. */
  def lexicalDiversityQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      lexicalDiversity(Tables.load(spark, dir, "documents"), "source", "text"),
      col("source"))

  // --------------------------------------------------------------- q146

  /** Exact inclusive cumulative COUNTS over the distinct values of
    * `valueCol` per group, computed BLOCK-PARALLEL so a low-cardinality
    * group key never caps sort parallelism at |keys| tasks (round-7
    * scale finding: `ntile OVER (PARTITION BY 5-value segment)` sorted
    * 15 M rows through 5 tasks — 12.8× time for 10× data at 100×).
    * Three-step two-level prefix sum:
    *  1. reduce to per-(key, value) weights — one map-side-combinable
    *     shuffle, fully parallel;
    *  2. range-block each value (`width_bucket` over the group's
    *     min/max, `blocks` blocks) and prefix-sum the TINY per-block
    *     totals (|keys|·blocks rows) for each block's starting offset;
    *  3. sort only WITHIN (key, block) — |keys|·blocks concurrent
    *     sort partitions — and add the block offset for the exact
    *     global cumulative count.
    * Output: one row per (key, distinct value): `__v`, `__w` (its
    * multiplicity), `__cum` (inclusive cumulative count in ascending
    * value order), `__n` (group total); with `withValueCum` also
    * `__vcum` — the inclusive cumulative VALUE-weighted sum
    * Σ_{u≤v} u·w_u in decimal(38,0) (numeric values only) — and
    * `__vtot`, its group total. Non-numeric values degrade
    * to one block per group (still exact, just group-parallel only);
    * null values are not supported (nulls sort before the block
    * machinery's min — filter them upstream).
    */
  private[graft] def groupedCumCounts(
      df: DataFrame, keyCol: String, valueCol: String,
      blocks: Int = 256, withValueCum: Boolean = false): DataFrame = {
    val g = col(keyCol)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val vw = df.groupBy(g, col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__w"))
      .withColumn("__vw", if (withValueCum) dec(col("__v")) * dec(col("__w"))
        else lit(null).cast("decimal(38,0)"))
    val stats = vw.groupBy(g)
      .agg(min(col("__v").cast("double")).as("__mn"),
        max(col("__v").cast("double")).as("__mx"),
        sum(col("__w")).as("__n"),
        sum(col("__vw")).as("__vtot"))
    val blkRaw = when(col("__mn") === col("__mx"), lit(1L))
      .otherwise(greatest(lit(1L), least(
        width_bucket(col("__v").cast("double"), col("__mn"), col("__mx"),
          lit(blocks)),
        lit(blocks.toLong))))
    val withBlk = vw.join(stats, Seq(keyCol))
      .withColumn("__blk", coalesce(blkRaw, lit(1L)).cast("int"))
    val wOff = Window.partitionBy(g).orderBy(col("__blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withBlk.groupBy(g, col("__blk"))
      .agg(sum(col("__w")).as("__bw"), sum(col("__vw")).as("__bvw"))
      .withColumn("__off", coalesce(sum(col("__bw")).over(wOff), lit(0L)))
      .withColumn("__voff", coalesce(sum(col("__bvw")).over(wOff),
        lit(0).cast("decimal(38,0)")))
      .select(g, col("__blk"), col("__off"), col("__voff"))
    val wLoc = Window.partitionBy(g, col("__blk")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = withBlk.join(offs, Seq(keyCol, "__blk"))
      .withColumn("__cum", col("__off") + sum(col("__w")).over(wLoc))
    if (withValueCum)
      out.withColumn("__vcum", col("__voff") + sum(col("__vw")).over(wLoc))
        .select(g, col("__v"), col("__w"), col("__cum"), col("__n"),
          col("__vcum"), col("__vtot"))
    else out.select(g, col("__v"), col("__w"), col("__cum"), col("__n"))
  }

  /** Exact inclusive cumulative WEIGHT sums per group over the total
    * order (`orderCol` asc, `tieCol` asc), computed with the same
    * block-parallel two-level scheme as [[groupedCumCounts]] but at ROW
    * granularity (no reduction to distinct values — each input row
    * keeps its own running total). The per-group sort never runs in a
    * single |keys|-task window: rows are range-blocked on `orderCol`
    * (`width_bucket` over the group's min/max), block totals are
    * prefix-summed per group (|keys|·blocks tiny rows), and only
    * (key, block) partitions sort locally. Output: the input columns
    * plus `__cumw` — the inclusive cumulative Σweight in
    * decimal(38,0) — and `__wtot`, the group total. `orderCol` must be
    * numeric and non-null (negate it upstream for descending order);
    * ties beyond (`orderCol`, `tieCol`) must not exist (supply a
    * unique tiebreak), or the cumulative is order-dependent.
    */
  private[graft] def groupedCumSum(
      df: DataFrame, keyCol: String, orderCol: String, tieCol: String,
      weightCol: String, blocks: Int = 256): DataFrame = {
    val g = col(keyCol)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val stats = df.groupBy(g)
      .agg(min(col(orderCol).cast("double")).as("__mn"),
        max(col(orderCol).cast("double")).as("__mx"),
        dec(sum(dec(col(weightCol)))).as("__wtot"))
    val blkRaw = when(col("__mn") === col("__mx"), lit(1L))
      .otherwise(greatest(lit(1L), least(
        width_bucket(col(orderCol).cast("double"), col("__mn"), col("__mx"),
          lit(blocks)),
        lit(blocks.toLong))))
    val withBlk = df.join(stats, Seq(keyCol))
      .withColumn("__blk", coalesce(blkRaw, lit(1L)).cast("int"))
    val wOff = Window.partitionBy(g).orderBy(col("__blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withBlk.groupBy(g, col("__blk"))
      .agg(dec(sum(dec(col(weightCol)))).as("__bw"))
      .withColumn("__off", coalesce(sum(col("__bw")).over(wOff),
        lit(0).cast("decimal(38,0)")))
      .select(g, col("__blk"), col("__off"))
    val wLoc = Window.partitionBy(g, col("__blk"))
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withBlk.join(offs, Seq(keyCol, "__blk"))
      .withColumn("__cumw", col("__off") + sum(dec(col(weightCol))).over(wLoc))
      .drop("__mn", "__mx", "__blk", "__off")
  }

  /** Equi-depth (equal-count) histogram per group: `buckets` ntile
    * buckets over a TOTAL order (value, then unique tiebreak — both
    * engines assign identical bucket ids, standard ntile remainder
    * rule), with per-bucket count and exact lo/hi boundaries.
    *
    * Computed WITHOUT an ntile window (round-7 rewrite): every output
    * is tie-invariant — bucket b's size follows from the group count N
    * alone (sizes ⌈N/k⌉ for the first N mod k buckets, ⌊N/k⌋ after —
    * the standard rule both engines apply), and because the order is
    * (value, tie), bucket b's min/max are simply the values at ranks
    * start_b/end_b of the VALUE MULTISET, independent of how ties
    * break. So the buckets read off [[groupedCumCounts]]'s exact
    * cumulative counts by conditional aggregation (value at rank r =
    * first value whose inclusive cumulative count reaches r) — block-
    * parallel, never a |keys|-task sort. `tieCol` is retained for API
    * stability and to document that callers must supply a total order;
    * it cannot affect any output column. */
  def equiDepthHistogram(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"need >=2 buckets: $buckets")
    val cum = groupedCumCounts(df, keyCol, valueCol)
    val k = lit(buckets.toLong)
    // integer q = N div k, r = N mod k — the (N - r)/k division is
    // exact by construction (double round-off is impossible below 2^53)
    def qr(n: Column): (Column, Column) = {
      val r = pmod(n, k)
      (((n - r) / k).cast("long"), r)
    }
    val (qIn, rIn) = qr(col("__n"))
    val aggs = (1 to buckets).flatMap { b =>
      val nb = qIn + when(lit(b.toLong) <= rIn, lit(1L)).otherwise(lit(0L))
      val sb = lit((b - 1).toLong) * qIn + least(lit((b - 1).toLong), rIn) + lit(1L)
      val eb = sb + nb - lit(1L)
      Seq(
        min(when(col("__cum") >= sb, col("__v"))).as(s"__lo$b"),
        min(when(col("__cum") >= eb, col("__v"))).as(s"__hi$b"))
    }
    val agged = cum.groupBy(col(keyCol))
      .agg(first(col("__n")).as("__N"), aggs: _*)
    val (qN, rN) = qr(col("__N"))
    val entries = (1 to buckets).map { b =>
      val nb = qN + when(lit(b.toLong) <= rN, lit(1L)).otherwise(lit(0L))
      struct(lit(b).as("bucket"), nb.as("n"),
        col(s"__lo$b").as("__lo"), col(s"__hi$b").as("__hi"))
    }
    agged
      .select(col(keyCol), explode(array(entries: _*)).as("__e"))
      .select(col(keyCol), col("__e.bucket").as("bucket"),
        col("__e.n").as("n"), col("__e.__lo").as("__lo"),
        col("__e.__hi").as("__hi"))
      .filter(col("n") > 0)
  }

  /** q146 — order-value equi-depth deciles per market segment: ten
    * equal-count buckets of `o_totalprice` (exact cents, o_orderkey
    * tiebreak) with dollar boundaries — the "what does a p40–p50 order
    * look like" profile at histogram cost, not holistic-percentile
    * cost. */
  def equiDepthQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        round(col("o_totalprice") * 100).cast("long").as("__cents"),
        col("o_orderkey"))
    orderedSmall(
      equiDepthHistogram(rows, "c_mktsegment", "__cents", "o_orderkey", 10)
        .select(col("c_mktsegment"), col("bucket"), col("n"),
          round(col("__lo") / lit(100.0), 2).as("lo"),
          round(col("__hi") / lit(100.0), 2).as("hi")),
      col("c_mktsegment"), col("bucket"))
  }

  // --------------------------------------------------------------- q147

  /** Lorenz curve at decile grain per group: entities ranked ascending
    * by value (unique tiebreak), ntile-bucketed into ten equal-count
    * bins; per bin the exact decimal(38,0) value sum, its share of the
    * group total and the cumulative share — the curve whose area gap
    * is q121's Gini, readable bin by bin ("the bottom half of
    * customers carries x% of revenue"). Block-parallel like [[gini]]
    * (see the round-8 note in the body); the two share divisions are
    * 10-rows-per-group cheap. */
  def lorenzDeciles(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String): DataFrame = {
    // round-8 rewrite (the q146 family fix): decile sums are
    // tie-invariant — a value run spanning a decile boundary splits
    // proportionally by COUNT regardless of tie order, since every
    // entity in the run carries the same value — so each decile's
    // exact decimal sum is Σ_v v·overlap(v's rank run, decile range)
    // over groupedCumCounts' block-parallel cumulative counts; no
    // |keys|-task ntile sort. tieCol is retained for API stability;
    // it cannot affect any output column.
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cum = groupedCumCounts(df, keyCol, valueCol)
    val k = lit(10L)
    val rIn = pmod(col("__n"), k)
    val qIn = ((col("__n") - rIn) / k).cast("long")
    val aggs = (1 to 10).flatMap { b =>
      val nb = qIn + when(lit(b.toLong) <= rIn, lit(1L)).otherwise(lit(0L))
      val sb = lit((b - 1).toLong) * qIn + least(lit((b - 1).toLong), rIn) + lit(1L)
      val eb = sb + nb - lit(1L)
      // overlap of v's rank run (cum-w+1 .. cum) with [sb, eb]
      val overlap = greatest(lit(0L),
        least(col("__cum"), eb) - greatest(col("__cum") - col("__w") + 1L, sb)
          + lit(1L))
      Seq(sum(dec(col("__v")) * dec(overlap)).as(s"__s$b"))
    }
    val agged = cum.groupBy(col(keyCol))
      .agg(first(col("__n")).as("__N"), aggs: _*)
    val rN = pmod(col("__N"), k)
    val qN = ((col("__N") - rN) / k).cast("long")
    val total = (1 to 10).map(b => col(s"__s$b")).reduce(_ + _)
    val entries = (1 to 10).map { b =>
      val nb = qN + when(lit(b.toLong) <= rN, lit(1L)).otherwise(lit(0L))
      val cumS = (1 to b).map(j => col(s"__s$j")).reduce(_ + _)
      struct(lit(b).as("decile"), nb.as("n"),
        col(s"__s$b").as("__s"), cumS.as("__c"))
    }
    agged
      .withColumn("__t", total)
      .select(col(keyCol), col("__t"), explode(array(entries: _*)).as("__e"))
      .filter(col("__e.n") > 0)
      .select(col(keyCol), col("__e.decile").as("decile"), col("__e.n").as("n"),
        round(col("__e.__s").cast("double") / col("__t").cast("double"), 6)
          .as("share"),
        round(col("__e.__c").cast("double") / col("__t").cast("double"), 6)
          .as("cum_share"))
  }

  /** q147 — revenue Lorenz deciles per market segment over the q121
    * customer-total population (customers with ≥1 order, exact
    * cents). */
  def lorenzQuery(spark: SparkSession, dir: String): DataFrame =
    orderedSmall(
      lorenzDeciles(custTotals(spark, dir), "c_mktsegment", "cents",
        "c_custkey"),
      col("c_mktsegment"), col("decile"))

  // --------------------------------------------------------------- q172

  /** q172 — supplier Pareto skyline: the non-dominated set on (total
    * revenue, distinct parts supplied) — suppliers no other supplier
    * beats-or-ties on BOTH axes while strictly beating on one. The
    * engine runs the sort-based O(n log n) formulation: per-x-group
    * keep only the max-y row, then keep rows whose y strictly exceeds
    * the best y among all STRICTLY-greater-x rows — an integer range
    * frame `rangeBetween(1, ∞)`, so "strictly greater" is exact. The
    * DuckDB oracle deliberately evaluates the quadratic NOT-EXISTS
    * dominance definition, so window-skyline ≡ definition is itself
    * the gate. Both metrics are exact integers; the window runs over
    * the supplier-bounded aggregate, never the fact table.
    */
  def skylineQuery(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("__x"),
        countDistinct(col("l_partkey")).as("__y"))
    val wx = Window.partitionBy(col("__x"))
    val wAbove = Window.orderBy(col("__x"))
      .rangeBetween(1L, Window.unboundedFollowing)
    m.withColumn("__ymaxsame", max(col("__y")).over(wx))
      .withColumn("__ymaxabove", max(col("__y")).over(wAbove))
      .filter(col("__y") === col("__ymaxsame") &&
        (col("__ymaxabove").isNull || col("__ymaxabove") < col("__y")))
      .select(col("l_suppkey").as("s_suppkey"),
        round(col("__x") / lit(100.0), 2).as("revenue"),
        col("__y").as("n_parts"))
      .coalesce(1).orderBy(col("revenue").desc, col("s_suppkey"))
  }

  // --------------------------------------------------------------- q174

  /** q174 — hierarchical contribution (share-of-parent): customer
    * order revenue rolled to nation grain, each nation row carrying
    * its share of its REGION and the region's share of the GRAND
    * total — the drill-down contribution readout a rollup alone
    * doesn't give (q07 produces the level totals; this produces the
    * level RATIOS). The fact scan aggregates once to the 25-row
    * nation grain; both parent totals are window sums OVER THE
    * AGGREGATE (region partition / global), so the windows never see
    * fact rows. Exact cent sums; two divisions per output row.
    */
  def shareOfParentQuery(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__v"))
    val wReg = Window.partitionBy(col("r_name"))
    val wAll = Window.partitionBy()
    nat.withColumn("__vr", sum(col("__v")).over(wReg))
      .withColumn("__vt", sum(col("__v")).over(wAll))
      .select(col("r_name"), col("n_name"),
        round(col("__v") / lit(100.0), 2).as("revenue"),
        round(col("__v") / col("__vr").cast("double"), 6)
          .as("share_of_region"),
        round(col("__vr") / col("__vt").cast("double"), 6)
          .as("region_share_of_total"))
      .coalesce(1).orderBy(col("r_name"), col("n_name"))
  }

  // --------------------------------------------------------------- q182

  /** q182 — nucleus (top-p) vocabulary cut per language: the smallest
    * frequency-ranked token prefix covering ≥90% of the token mass —
    * the cut a tokenizer-training or vocab-pruning pass keeps. A token
    * is IN the nucleus iff the mass BEFORE it is < 0.9·total, so the
    * boundary token that crosses 90% is included (the "smallest
    * covering prefix" rule); the membership test is exact integer
    * arithmetic ((cum − freq)·10 < total·9), no floating-point at the
    * cut. Shape: one token aggregate (corpus-proportional, one
    * shuffle), then windows only over the per-lang VOCABULARY — freq
    * rank ties broken by token for engine-identical ordering.
    */
  def nucleusVocabQuery(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.load(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("__f"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("__f").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("lang"))
    freq
      .withColumn("__cum", sum(col("__f")).over(w))
      .withColumn("__tot", sum(col("__f")).over(wTot))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab_size"),
        max(col("__tot")).as("total_tokens"),
        sum(when((col("__cum") - col("__f")) * 10 < col("__tot") * 9, 1L)
          .otherwise(0L)).as("nucleus_size"),
        round(sum(when((col("__cum") - col("__f")) * 10 < col("__tot") * 9,
          col("__f")).otherwise(0L)) / max(col("__tot")).cast("double"), 6)
          .as("nucleus_coverage"))
      .coalesce(1).orderBy(col("lang"))
  }

  // --------------------------------------------------------------- q183

  /** q183 — Zipf's-law fit per language: regress ln(freq) on ln(rank)
    * over the top-500 frequency ranks (rank ties broken by token) and
    * report slope / intercept / R² — the standard corpus-health probe
    * (natural text ≈ slope −1; synthetic or templated text bends the
    * tail). The regression runs on a ≤500-row-per-lang aggregate via
    * the built-in algebraic regr_* aggregates — fact data is touched
    * exactly once by the token count.
    */
  def zipfQuery(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.load(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("__f"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("__f").desc, col("token"))
    freq
      .withColumn("__r", row_number().over(wRank))
      .filter(col("__r") <= 500)
      .select(col("lang"), log(col("__r").cast("double")).as("__x"),
        log(col("__f").cast("double")).as("__y"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_ranks"),
        round(regr_slope(col("__y"), col("__x")), 6).as("zipf_slope"),
        round(regr_intercept(col("__y"), col("__x")), 6).as("intercept"),
        round(regr_r2(col("__y"), col("__x")), 6).as("r2"))
      .coalesce(1).orderBy(col("lang"))
  }

  // --------------------------------------------------------------- q187

  /** q187 — Herfindahl–Hirschman concentration of supplier revenue per
    * ship year: HHI = Σ share² with the numerator Σv² kept EXACT
    * (decimal(38,0) sums of long-cent squares — no order-dependent
    * double accumulation), so both engines divide the same two big
    * integers and round the same IEEE quotient. Also reports the
    * effective supplier count 1/HHI (the "numbers equivalent") and the
    * top share. Two keyed aggregates; nothing wider than
    * (year × suppliers).
    */
  def hhiQuery(spark: SparkSession, dir: String): DataFrame = {
    val perSupp = Tables.load(spark, dir, "lineitem")
      .groupBy(year(col("l_shipdate")).as("yr"), col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("__v"))
    perSupp.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("__v")).as("__tot"),
        sum(col("__v").cast("decimal(38,0)") * col("__v")).as("__ssq"),
        max(col("__v")).as("__top"))
      .select(col("yr"), col("n_suppliers"),
        round(col("__ssq").cast("double") /
          (col("__tot").cast("double") * col("__tot").cast("double")), 6)
          .as("hhi"),
        round((col("__tot").cast("double") * col("__tot").cast("double")) /
          col("__ssq").cast("double"), 4).as("effective_suppliers"),
        round(col("__top") / col("__tot").cast("double"), 6).as("top_share"))
      .coalesce(1).orderBy(col("yr"))
  }

  // --------------------------------------------------------------- q197

  /** q197 — Theil-T inequality decomposition of customer spend by
    * nation: the one inequality index that splits EXACTLY into
    * between-group + Σ (spend-share-weighted) within-group parts, so
    * "how much inequality lives inside vs across nations" is a
    * conservation identity, not two unrelated numbers
    * (ConcentrationSpec pins Σ contribution + Σ between ≡ the
    * directly-computed global Theil). Per-customer terms are
    * (x/S_g)·ln(x/μ_g) with x exact cents and μ_g formed by one
    * double division — no integer cross-products that could overflow
    * at scale. Plan: one (nation, customer) aggregate, per-nation
    * stats via a window on the customer-bounded frame, one global
    * single-row broadcast; fact rows are touched once.
    */
  def theilQuery(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("__x"))
    val wNat = Window.partitionBy(col("n_name"))
    val totals = perCust.agg(count(lit(1)).as("g__n"), sum(col("__x")).as("g__s"))
    perCust
      .withColumn("__ng", count(lit(1)).over(wNat))
      .withColumn("__sg", sum(col("__x")).over(wNat))
      .withColumn("__term", (col("__x").cast("double") / col("__sg")) *
        log(col("__x") / (col("__sg").cast("double") / col("__ng"))))
      .groupBy(col("n_name"))
      .agg(max(col("__ng")).as("n_customers"),
        max(col("__sg")).as("__sg"),
        round(sum(col("__term")), 6).as("theil_within"))
      .crossJoin(broadcast(totals))
      .select(col("n_name"), col("n_customers"),
        round(col("__sg").cast("double") / col("g__s"), 6).as("spend_share"),
        col("theil_within"),
        round((col("__sg").cast("double") / col("g__s")) *
          col("theil_within"), 6).as("within_contribution"),
        round((col("__sg").cast("double") / col("g__s")) *
          log((col("__sg").cast("double") / col("g__s")) /
            (col("n_customers").cast("double") / col("g__n"))), 6)
          .as("between_term"))
      .coalesce(1).orderBy(col("n_name"))
  }

  // --------------------------------------------------------------- q201

  /** q201 — ABC inventory classification per part type: parts ranked
    * by net revenue, class A while the cumulative share is ≤ 80%,
    * B while ≤ 95%, else C — the stock-policy triage built on q122's
    * crossing machinery but emitting the full three-band partition
    * (counts, revenue, share per band), not just the threshold. Both
    * class cuts are pure integer comparisons on decimal(38,0)
    * cross-products (cum·5 ≤ tot·4, cum·20 ≤ tot·19) under a total
    * order (cents desc, partkey asc), so no float boundary can ever
    * classify differently across engines. Plan: one part-key
    * aggregate, windows partitioned by type (group-parallel), ≤
    * |types|·3 rows out.
    */
  def abcQuery(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("p_partkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("__cents"))
    val w = Window.partitionBy(col("p_type"))
      .orderBy(col("__cents").desc, col("p_partkey"))
    val wTot = Window.partitionBy(col("p_type"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    rev
      .withColumn("__cum", sum(col("__cents")).over(w))
      .withColumn("__tot", sum(col("__cents")).over(wTot))
      .withColumn("abc_class",
        when(d38(col("__cum")) * 5 <= d38(col("__tot")) * 4, "A")
          .when(d38(col("__cum")) * 20 <= d38(col("__tot")) * 19, "B")
          .otherwise("C"))
      .groupBy(col("p_type"), col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("__cents")) / 100.0, 2).as("revenue"),
        round(sum(col("__cents")).cast("double") /
          max(col("__tot")).cast("double"), 6).as("rev_share"))
      .coalesce(1).orderBy(col("p_type"), col("abc_class"))
  }

  // --------------------------------------------------------------- q219

  /** q219 — Chao1 vocabulary-richness estimate per source: from the
    * observed type counts alone, estimate how many word types the
    * source's full population carries — V + n₁(n₁−1)/(2(n₂+1)) (the
    * bias-corrected Chao1, defined even with no doubletons) — plus
    * the Good–Turing unseen-probability mass n₁/N. The "how much
    * vocabulary have we NOT seen yet" readout that sizes tokenizer
    * coverage (q124's OOV rate measures the seen side). Everything is
    * an exact integer count (types V, hapaxes n₁, doubletons n₂,
    * tokens N) with two closed-form divisions. One (source, token)
    * aggregate, |sources| rows out.
    */
  def chao1Query(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("v_observed"),
        sum(col("f")).as("n_tokens"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("n_doubleton"))
      .select(col("source"), col("v_observed"), col("n_tokens"),
        col("n_hapax"), col("n_doubleton"),
        round(col("v_observed") +
          (col("n_hapax") * (col("n_hapax") - 1)).cast("double") /
          (lit(2.0) * (col("n_doubleton") + 1)), 2).as("chao1_richness"),
        round(col("n_hapax").cast("double") / col("n_tokens"), 6)
          .as("unseen_mass"))
      .coalesce(1).orderBy(col("source"))
  }

  // --------------------------------------------------------------- q225

  /** q225 — tokenizer fertility per language: characters consumed per
    * whitespace token, the compression readout that decides how many
    * GPU-hours a language actually costs (chars/token varies wildly
    * across scripts — the classic multilingual-tokenizer budget
    * trap). Corpus-level fertility is the exact 10⁻⁴-unit floor
    * division Σchars/Σtokens; the per-document p50/p90 come from the
    * interpolating percentile over per-doc single-division ratios
    * (identical doubles both engines). One doc-grain pass, |langs|
    * rows out.
    */
  def fertilityQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("n_chars"),
        size(split(lower(col("text")), " ")).cast("long").as("__tok"))
      .filter(col("__tok") > 0)
      .withColumn("__r", col("n_chars").cast("double") / col("__tok"))
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("__chars"),
        sum(col("__tok")).as("__toks"),
        expr("percentile(__r, 0.5)").as("__p50"),
        expr("percentile(__r, 0.9)").as("__p90"))
      .select(col("lang"), col("n_docs"),
        (expr("(__chars div __toks) * 10000 + ((__chars % __toks) * 10000) div __toks")
          / lit(10000.0)).as("chars_per_token"),
        round(col("__p50"), 4).as("p50_fertility"),
        round(col("__p90"), 4).as("p90_fertility"))
      .coalesce(1).orderBy(col("lang"))
  }

  // --------------------------------------------------------------- q232

  /** q232 — term burstiness (Church–Gale cf/df): for each term with
    * document frequency ≥ 20, the mean within-document repetition
    * cf/df — burstiness separates TOPICAL terms (appear rarely but in
    * bursts) from FUNCTION words (appear everywhere, ~once per
    * mention), the signal behind q75's boilerplate scrubbing and any
    * tf saturation choice. Top-20 by the exact integer-ratio score,
    * ranked by the cross-multiplied integer compare (cf_a·df_b vs
    * cf_b·df_a via the rounded double + term tiebreak — identical
    * doubles both engines). One (term) aggregate over per-doc counts,
    * map-side combined.
    */
  def burstyTermsQuery(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("__c"))
    perDoc.groupBy(col("t"))
      .agg(count(lit(1)).as("df"), sum(col("__c")).as("cf"))
      .filter(col("df") >= 20)
      .select(col("t").as("term"), col("df"), col("cf"),
        round(col("cf").cast("double") / col("df"), 6).as("burstiness"))
      .orderBy(col("burstiness").desc, col("term"))
      .limit(20)
  }

  // --------------------------------------------------------------- q238

  /** q238 — law-of-one-price dispersion audit: per part, the
    * coefficient of variation of its realized unit price across
    * lineitems (unit cents = round(extendedprice·100/quantity) — the
    * rounded double division is the same IEEE op in both engines),
    * rolled up per brand as the share of parts whose CV exceeds 5%
    * plus the mean CV — where the same part sells at genuinely
    * different unit prices, procurement is leaking money (or the
    * "part" key is dirty). σ/μ per part from exact integer power
    * sums; the 5% screen is the cross-multiplied integer compare
    * 400·(nΣx²−S²) > S² (CV² > 1/400 ⇔ CV > 5%), so the FLAG can
    * never disagree across engines even when the rolled-up mean CV
    * is a rounded float fold.
    */
  def priceDispersionQuery(spark: SparkSession, dir: String): DataFrame = {
    val unit = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100 / col("l_quantity"))
          .cast("long").as("__u"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val perPart = unit.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("__n"),
        sum(d38(col("__u"))).as("__s"),
        sum(d38(col("__u") * col("__u"))).as("__q"))
      .filter(col("__n") >= 2)
      .withColumn("__var_num", col("__n") * col("__q") - col("__s") * col("__s"))
      .withColumn("cv", sqrt(col("__var_num").cast("double")) /
        col("__s").cast("double"))
      .withColumn("__flag",
        when(lit(400) * col("__var_num") > col("__s") * col("__s"), 1L)
          .otherwise(0L))
    perPart
      .join(broadcast(Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("__flag")).as("n_dispersed"),
        round(sum(col("__flag")).cast("double") / count(lit(1)), 6)
          .as("dispersed_share"),
        round(avg(col("cv")), 6).as("mean_cv"))
      .coalesce(1).orderBy(col("p_brand"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q121_gini" -> (giniQuery _),
    "q122_pareto" -> (paretoQuery _),
    "q123_cr4" -> (cr4Query _),
    "q124_oov" -> (oovQuery _),
    "q130_quality_curve" -> (qualityCurveQuery _),
    "q137_readability" -> (readabilityQuery _),
    "q139_lexical_diversity" -> (lexicalDiversityQuery _),
    "q146_equidepth" -> (equiDepthQuery _),
    "q147_lorenz" -> (lorenzQuery _),
    "q172_skyline" -> (skylineQuery _),
    "q174_share_of_parent" -> (shareOfParentQuery _),
    "q182_nucleus_vocab" -> (nucleusVocabQuery _),
    "q183_zipf_fit" -> (zipfQuery _),
    "q187_hhi" -> (hhiQuery _),
    "q197_theil" -> (theilQuery _),
    "q201_abc" -> (abcQuery _),
    "q219_chao1" -> (chao1Query _),
    "q225_fertility" -> (fertilityQuery _),
    "q232_bursty_terms" -> (burstyTermsQuery _),
    "q238_price_dispersion" -> (priceDispersionQuery _))
}

/** DuckDB twins for [[Concentration]] (driver correctness gate). */
object ConcentrationOracle {

  private val custTotals =
    """t AS (
      |  SELECT c.c_mktsegment, c.c_custkey,
      |         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_mktsegment, c.c_custkey)""".stripMargin

  val all: Seq[(String, String)] = Seq(
    // identical rank-weighted exact sums, one closed-form double
    "q121_gini" ->
      s"""WITH $custTotals,
        |r AS (
        |  SELECT c_mktsegment, cents,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY cents, c_custkey) AS rk
        |  FROM t)
        |SELECT c_mktsegment, count(*) AS n,
        |       round((2.0 * CAST(sum(rk * cents) AS DOUBLE) -
        |              (count(*) + 1.0) * CAST(sum(cents) AS DOUBLE)) /
        |             (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)),
        |             6) AS gini
        |FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // integer crossing test: cum·5 ≥ total·4 — no float compare
    "q122_pareto" ->
      s"""WITH $custTotals,
        |r AS (
        |  SELECT c_mktsegment, cents,
        |         row_number() OVER w AS k,
        |         sum(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND CURRENT ROW) AS cum
        |  FROM t
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |    ORDER BY cents DESC, c_custkey)),
        |s AS (
        |  SELECT c_mktsegment, count(*) AS n, sum(cents) AS tot
        |  FROM t GROUP BY c_mktsegment),
        |x AS (
        |  SELECT r.c_mktsegment, s.n, s.tot, r.k, r.cum
        |  FROM r JOIN s USING (c_mktsegment)
        |  WHERE r.cum * 5 >= s.tot * 4)
        |SELECT c_mktsegment, n, min(k) AS k,
        |       round(min(k) / CAST(n AS DOUBLE), 6) AS frac_entities,
        |       round(CAST(arg_min(cum, k) AS DOUBLE) / CAST(tot AS DOUBLE),
        |             6) AS share_at_k
        |FROM x GROUP BY c_mktsegment, n, tot
        |ORDER BY c_mktsegment""".stripMargin,

    // same exact top-4 and total sums, one division
    "q123_cr4" ->
      """WITH rev AS (
        |  SELECT n.n_name, s.s_suppkey,
        |         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |             AS BIGINT)) AS cents
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, s.s_suppkey),
        |r AS (
        |  SELECT n_name, cents,
        |         row_number() OVER (PARTITION BY n_name
        |           ORDER BY cents DESC, s_suppkey) AS rk
        |  FROM rev)
        |SELECT n_name, count(*) AS n,
        |       round(CAST(sum(CASE WHEN rk <= 4 THEN cents ELSE 0 END)
        |               AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 6) AS cr4
        |FROM r GROUP BY n_name ORDER BY n_name""".stripMargin,

    // same whitespace tokens, same (count desc, token asc) top-1000
    // vocabulary, same per-source exact counts
    "q124_oov" ->
      """WITH toks AS (
        |  SELECT source AS g, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |gt AS (SELECT g, tok, count(*) AS c FROM toks GROUP BY g, tok),
        |vocab AS (
        |  SELECT tok FROM gt GROUP BY tok
        |  ORDER BY sum(c) DESC, tok LIMIT 1000)
        |SELECT gt.g AS source,
        |       CAST(sum(gt.c) AS BIGINT) AS total_tokens,
        |       CAST(sum(CASE WHEN v.tok IS NULL THEN gt.c ELSE 0 END)
        |            AS BIGINT) AS oov_tokens,
        |       round(sum(CASE WHEN v.tok IS NULL THEN gt.c ELSE 0 END) /
        |             CAST(sum(gt.c) AS DOUBLE), 6) AS oov_rate
        |FROM gt LEFT JOIN vocab v ON v.tok = gt.tok
        |GROUP BY gt.g ORDER BY source""".stripMargin,

    // q22's stopword-ratio convention; exact counts per threshold
    "q130_quality_curve" ->
      """WITH docs AS (
        |  SELECT n_chars,
        |         CAST(len(list_filter(string_split(lower(text), ' '),
        |                x -> x IN ('the','of','and','a','to','in','is',
        |                           'it','that','for'))) AS DOUBLE) /
        |         greatest(len(string_split(text, ' ')), 1) AS ratio
        |  FROM documents),
        |tot AS (SELECT count(*) AS td, sum(n_chars) AS tc FROM docs),
        |th AS (SELECT unnest(generate_series(0, 9)) / 10.0 AS t),
        |curve AS (
        |  SELECT th.t, count(*) AS n_docs,
        |         CAST(sum(d.n_chars) AS BIGINT) AS n_chars_kept
        |  FROM docs d JOIN th ON d.ratio >= th.t
        |  GROUP BY th.t)
        |SELECT c.t, c.n_docs, c.n_chars_kept,
        |       round(c.n_docs / CAST(tot.td AS DOUBLE), 6) AS frac_docs,
        |       round(c.n_chars_kept / CAST(tot.tc AS DOUBLE), 6) AS frac_chars
        |FROM curve c, tot ORDER BY c.t""".stripMargin,

    // sentence := document (corpus has no sentence punctuation); all
    // integer sums, Flesch as ONE closed-form double
    "q137_readability" ->
      """WITH per AS (
        |  SELECT source,
        |         len(regexp_extract_all(text, '\S+')) AS w,
        |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
        |  FROM documents),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(w) AS BIGINT) AS n_words,
        |         CAST(sum(syl) AS BIGINT) AS n_syllables
        |  FROM per GROUP BY source)
        |SELECT source, n_docs, n_words, n_syllables,
        |       round(n_words / CAST(n_docs AS DOUBLE), 4) AS words_per_doc,
        |       round(n_syllables / CAST(n_words AS DOUBLE), 6) AS syl_per_word,
        |       round(206.835 - 1.015 * (n_words / CAST(n_docs AS DOUBLE)) -
        |             84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 4)
        |         AS flesch
        |FROM g ORDER BY source""".stripMargin,

    // the q124 token convention (lower + space split); hapax = count 1
    // within the group
    "q139_lexical_diversity" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |tc AS (
        |  SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
        |g AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens,
        |         CAST(count(*) AS BIGINT) AS distinct_tokens,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS hapax_tokens
        |  FROM tc GROUP BY source)
        |SELECT source, total_tokens, distinct_tokens, hapax_tokens,
        |       round(distinct_tokens / CAST(total_tokens AS DOUBLE), 6) AS ttr,
        |       round(hapax_tokens / CAST(distinct_tokens AS DOUBLE), 6)
        |         AS hapax_share
        |FROM g ORDER BY source""".stripMargin,

    // identical total order (cents, o_orderkey) -> identical standard
    // ntile assignment; exact integer boundaries, dollars at render
    "q146_equidepth" ->
      """WITH rows0 AS (
        |  SELECT c.c_mktsegment,
        |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
        |         o.o_orderkey
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |b AS (
        |  SELECT c_mktsegment,
        |         ntile(10) OVER (PARTITION BY c_mktsegment
        |                         ORDER BY cents, o_orderkey) AS bucket,
        |         cents
        |  FROM rows0)
        |SELECT c_mktsegment, bucket, CAST(count(*) AS BIGINT) AS n,
        |       round(min(cents) / 100.0, 2) AS lo,
        |       round(max(cents) / 100.0, 2) AS hi
        |FROM b GROUP BY c_mktsegment, bucket
        |ORDER BY c_mktsegment, bucket""".stripMargin,

    // q121's customer-total population; HUGEINT sums = the
    // decimal(38,0) twin; two double divisions per decile row
    "q147_lorenz" ->
      s"""WITH $custTotals,
        |b AS (
        |  SELECT c_mktsegment,
        |         ntile(10) OVER (PARTITION BY c_mktsegment
        |                         ORDER BY cents, c_custkey) AS decile,
        |         CAST(cents AS HUGEINT) AS cents
        |  FROM t),
        |bins AS (
        |  SELECT c_mktsegment, decile, CAST(count(*) AS BIGINT) AS n,
        |         sum(cents) AS s
        |  FROM b GROUP BY c_mktsegment, decile),
        |cum AS (
        |  SELECT c_mktsegment, decile, n, s,
        |         sum(s) OVER (PARTITION BY c_mktsegment) AS t,
        |         sum(s) OVER (PARTITION BY c_mktsegment ORDER BY decile
        |                      ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND CURRENT ROW) AS c
        |  FROM bins)
        |SELECT c_mktsegment, decile, n,
        |       round(CAST(s AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share,
        |       round(CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 6) AS cum_share
        |FROM cum ORDER BY c_mktsegment, decile""".stripMargin,

    // DELIBERATELY the quadratic NOT-EXISTS dominance definition: the
    // gate proves the window-based skyline equals it
    "q172_skyline" ->
      """WITH m AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x,
        |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS y
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT a.l_suppkey AS s_suppkey, round(a.x / 100.0, 2) AS revenue,
        |       a.y AS n_parts
        |FROM m a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m b
        |  WHERE b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y))
        |ORDER BY revenue DESC, s_suppkey""".stripMargin,

    // same nation-grain aggregate; parent totals as window sums
    "q174_share_of_parent" ->
      """WITH nat AS (
        |  SELECT r.r_name, n.n_name,
        |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders o
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey
        |  GROUP BY r.r_name, n.n_name),
        |w AS (
        |  SELECT *, sum(v) OVER (PARTITION BY r_name) AS vr,
        |         sum(v) OVER () AS vt
        |  FROM nat)
        |SELECT r_name, n_name, round(v / 100.0, 2) AS revenue,
        |       round(v / CAST(vr AS DOUBLE), 6) AS share_of_region,
        |       round(vr / CAST(vt AS DOUBLE), 6) AS region_share_of_total
        |FROM w ORDER BY r_name, n_name""".stripMargin,

    // identical (freq desc, token) rank order; the nucleus membership
    // test is exact integer arithmetic on both engines
    "q182_nucleus_vocab" ->
      """WITH freq AS (
        |  SELECT lang, token, count(*) AS f FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents) t
        |  GROUP BY lang, token),
        |c AS (
        |  SELECT lang, f,
        |         sum(f) OVER (PARTITION BY lang ORDER BY f DESC, token
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(f) OVER (PARTITION BY lang) AS tot
        |  FROM freq)
        |SELECT lang, CAST(count(*) AS BIGINT) AS vocab_size,
        |       CAST(max(tot) AS BIGINT) AS total_tokens,
        |       CAST(sum(CASE WHEN (cum - f) * 10 < tot * 9 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS nucleus_size,
        |       round(sum(CASE WHEN (cum - f) * 10 < tot * 9 THEN f ELSE 0 END)
        |             / CAST(max(tot) AS DOUBLE), 6) AS nucleus_coverage
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // same top-500 rank prefix, same ln/ln regression via regr_*
    "q183_zipf_fit" ->
      """WITH freq AS (
        |  SELECT lang, token, count(*) AS f FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS token
        |    FROM documents) t
        |  GROUP BY lang, token),
        |ranked AS (
        |  SELECT lang, f,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY f DESC, token) AS r
        |  FROM freq)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks,
        |       round(regr_slope(ln(CAST(f AS DOUBLE)),
        |                        ln(CAST(r AS DOUBLE))), 6) AS zipf_slope,
        |       round(regr_intercept(ln(CAST(f AS DOUBLE)),
        |                            ln(CAST(r AS DOUBLE))), 6) AS intercept,
        |       round(regr_r2(ln(CAST(f AS DOUBLE)),
        |                     ln(CAST(r AS DOUBLE))), 6) AS r2
        |FROM ranked WHERE r <= 500
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // same exact HUGEINT sum-of-squares numerator, same one-division
    // rounding
    "q187_hhi" ->
      """WITH s AS (
        |  SELECT year(l_shipdate) AS yr, l_suppkey,
        |         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |                  AS BIGINT)) AS v
        |  FROM lineitem GROUP BY year(l_shipdate), l_suppkey),
        |a AS (
        |  SELECT yr, count(*) AS n_suppliers,
        |         sum(v) AS tot,
        |         sum(CAST(v AS HUGEINT) * v) AS ssq,
        |         max(v) AS top
        |  FROM s GROUP BY yr)
        |SELECT yr, CAST(n_suppliers AS BIGINT) AS n_suppliers,
        |       round(CAST(ssq AS DOUBLE) /
        |             (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi,
        |       round((CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) /
        |             CAST(ssq AS DOUBLE), 4) AS effective_suppliers,
        |       round(top / CAST(tot AS DOUBLE), 6) AS top_share
        |FROM a ORDER BY yr""".stripMargin,

    // same per-customer (x/S_g)·ln(x/μ_g) terms with μ_g from one
    // double division, same rounded-then-weighted contribution
    "q197_theil" ->
      """WITH pc AS (
        |  SELECT n.n_name, c.c_custkey,
        |         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name, c.c_custkey),
        |w AS (
        |  SELECT *, count(*) OVER (PARTITION BY n_name) AS ng,
        |         sum(x) OVER (PARTITION BY n_name) AS sg
        |  FROM pc),
        |g AS (SELECT count(*) AS gn, sum(x) AS gs FROM pc),
        |nat AS (
        |  SELECT n_name, max(ng) AS n_customers, max(sg) AS sg,
        |         round(sum((CAST(x AS DOUBLE) / sg) *
        |               ln(x / (CAST(sg AS DOUBLE) / ng))), 6) AS theil_within
        |  FROM w GROUP BY n_name)
        |SELECT nat.n_name, CAST(nat.n_customers AS BIGINT) AS n_customers,
        |       round(CAST(nat.sg AS DOUBLE) / g.gs, 6) AS spend_share,
        |       nat.theil_within,
        |       round((CAST(nat.sg AS DOUBLE) / g.gs) * nat.theil_within, 6)
        |         AS within_contribution,
        |       round((CAST(nat.sg AS DOUBLE) / g.gs) *
        |             ln((CAST(nat.sg AS DOUBLE) / g.gs) /
        |                (CAST(nat.n_customers AS DOUBLE) / g.gn)), 6)
        |         AS between_term
        |FROM nat, g ORDER BY nat.n_name""".stripMargin,

    // same total order (cents desc, partkey), same integer
    // cross-product class cuts
    "q201_abc" ->
      """WITH rev AS (
        |  SELECT p.p_type, p.p_partkey,
        |         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
        |             * 100) AS BIGINT)) AS cents
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_type, p.p_partkey),
        |w AS (
        |  SELECT *,
        |         sum(cents) OVER (PARTITION BY p_type
        |           ORDER BY cents DESC, p_partkey) AS cum,
        |         sum(cents) OVER (PARTITION BY p_type) AS tot
        |  FROM rev),
        |c AS (
        |  SELECT *,
        |    CASE WHEN CAST(cum AS DECIMAL(38,0)) * 5
        |              <= CAST(tot AS DECIMAL(38,0)) * 4 THEN 'A'
        |         WHEN CAST(cum AS DECIMAL(38,0)) * 20
        |              <= CAST(tot AS DECIMAL(38,0)) * 19 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM w)
        |SELECT p_type, abc_class, count(*) AS n_parts,
        |       round(sum(cents) / 100.0, 2) AS revenue,
        |       round(CAST(sum(cents) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
        |         AS rev_share
        |FROM c GROUP BY p_type, abc_class
        |ORDER BY p_type, abc_class""".stripMargin,

    // same exact type counts, same bias-corrected Chao1 AST
    "q219_chao1" ->
      """WITH f AS (
        |  SELECT source, t, count(*) AS f
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  GROUP BY source, t),
        |a AS (
        |  SELECT source,
        |         count(*) AS v_observed,
        |         CAST(sum(f) AS BIGINT) AS n_tokens,
        |         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_hapax,
        |         CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_doubleton
        |  FROM f GROUP BY source)
        |SELECT source, v_observed, n_tokens, n_hapax, n_doubleton,
        |       round(v_observed +
        |             CAST(n_hapax * (n_hapax - 1) AS DOUBLE) /
        |             (2.0 * (n_doubleton + 1)), 2) AS chao1_richness,
        |       round(CAST(n_hapax AS DOUBLE) / n_tokens, 6) AS unseen_mass
        |FROM a ORDER BY source""".stripMargin,

    // same single-division ratios, same interpolating percentiles,
    // same exact corpus-level floor division
    "q225_fertility" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok,
        |         CAST(n_chars AS DOUBLE)
        |           / len(string_split(lower(text), ' ')) AS r
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) > 0)
        |SELECT lang, count(*) AS n_docs,
        |       ((sum(n_chars) // sum(tok)) * 10000
        |        + ((sum(n_chars) % sum(tok)) * 10000) // sum(tok)) / 10000.0
        |         AS chars_per_token,
        |       round(quantile_cont(r, 0.5), 4) AS p50_fertility,
        |       round(quantile_cont(r, 0.9), 4) AS p90_fertility
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    // same exact df/cf counts, same rounded ratio rank + term tiebreak
    "q232_bursty_terms" ->
      """WITH pd AS (
        |  SELECT t, doc_id, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        |        FROM documents)
        |  GROUP BY t, doc_id),
        |a AS (
        |  SELECT t AS term, count(*) AS df,
        |         CAST(sum(c) AS BIGINT) AS cf
        |  FROM pd GROUP BY t HAVING count(*) >= 20)
        |SELECT term, df, cf,
        |       round(CAST(cf AS DOUBLE) / df, 6) AS burstiness
        |FROM a ORDER BY burstiness DESC, term LIMIT 20""".stripMargin,

    // same rounded unit cents, same integer CV flag, same rollup
    "q238_price_dispersion" ->
      """WITH u AS (
        |  SELECT l_partkey,
        |         CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT)
        |           AS u
        |  FROM lineitem),
        |pp AS (
        |  SELECT l_partkey, count(*) AS n,
        |         sum(CAST(u AS DECIMAL(38,0))) AS s,
        |         sum(CAST(u * u AS DECIMAL(38,0))) AS q
        |  FROM u GROUP BY l_partkey HAVING count(*) >= 2),
        |f AS (
        |  SELECT l_partkey,
        |         sqrt(CAST(n * q - s * s AS DOUBLE)) / CAST(s AS DOUBLE)
        |           AS cv,
        |         CASE WHEN 400 * (n * q - s * s) > s * s
        |              THEN 1 ELSE 0 END AS flag
        |  FROM pp)
        |SELECT p.p_brand, count(*) AS n_parts,
        |       CAST(sum(f.flag) AS BIGINT) AS n_dispersed,
        |       round(CAST(sum(f.flag) AS DOUBLE) / count(*), 6)
        |         AS dispersed_share,
        |       round(avg(f.cv), 6) AS mean_cv
        |FROM f JOIN part p ON f.l_partkey = p.p_partkey
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)
}

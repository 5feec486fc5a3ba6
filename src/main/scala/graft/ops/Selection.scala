package graft.ops

import graft.Tables
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-selection operators for pretraining corpora — the published
  * quality-scoring / importance-resampling / mixing-policy family that
  * sits between raw curation (dedup, filtering) and the training mix:
  *
  *  - q252 CCNet-style reference-LM quality scoring (Wenzek et al.
  *    2020): train a smoothed bigram LM on a trusted slice, score every
  *    document's perplexity against it, flag the high-ppl tail.
  *  - q253 DSIR importance resampling (Xie et al. 2023): hashed-free
  *    unigram importance weights log(p_target/p_raw), top-quantile
  *    selection per source.
  *  - q254 temperature-scaled mixing audit (multilingual sampling,
  *    Arivazhagan et al. 2019 / UNIMAX): per-language tempered shares
  *    and effective-epoch readout across a temperature sweep.
  *  - q255 memorization-risk audit (Carlini et al. 2021 flavor): the
  *    fraction of a document's 5-gram shingles unique to it corpus-wide.
  *  - q256 embedding class-separation audit: within-class centroid
  *    cosine vs nearest-other-centroid cosine, per label.
  *  - q257 output-shard balance audit: doc/token/byte skew of the
  *    md5-sharded write layout before it is committed.
  *
  * Determinism contract (the q152/q183 convention used across the
  * registry): every cross-engine comparison and every selection
  * decision is made on EXACT INTEGERS — log-ratio terms are quantized
  * to a ×1e6 integer grid per DISTINCT (a,b)/token (one `ln` of an
  * exact integer ratio each, so both engines see identical doubles),
  * per-document scores are integer SUMS of those terms (aggregation-
  * order-proof), and thresholds/rank cuts compare integers. Floats
  * appear only in final closed-form readout columns, rounded 4–6 dp.
  */
object Selection {

  private def toks(c: Column): Column = split(lower(c), " ")

  /** q252 — reference-LM perplexity quality gate (oracle-checked):
    * train an add-one-smoothed token-bigram LM on the `lang = 'en'`
    * slice (the "trusted reference" in CCNet terms), score EVERY ≥2-
    * token document's per-bigram negative log-likelihood against it,
    * and report per language: scored docs, mean perplexity, and the
    * count/share of docs past ppl 31 (the high-tail cut calibrated so
    * the reference language sits mostly under it). P(b|a) =
    * (c_ab + 1) / (c_a + V) with c_a the LM's prefix total and V its
    * distinct-continuation count; unseen prefixes degrade to uniform
    * 1/V — the standard Laplace backstop.
    *
    * Determinism: each distinct (a, b) contributes ONE quantized term
    * round(ln((c_a + V) / (c_ab + 1)) · 1e6) — an exact-integer-ratio
    * ln, identical in both engines — and a document's NLL is the exact
    * integer Σ m·term, so the ppl-31 flag is the integer comparison
    * nll > 3434000·n_bigrams (3434000 ≈ ln(31)·1e6, hardcoded). Mean
    * ppl is a per-doc closed form exp(nll / (1e6·n)) averaged and
    * rounded 4 dp.
    *
    * Scale shape: the LM is a vocab²-bounded (a, b) aggregate; scoring
    * is two equi-joins of the doc-bigram aggregate against the LM and
    * its prefix totals (shuffle-safe at any corpus size — the LM side
    * is NOT blindly broadcast; [[Hints.broadcastIfBounded]] guards it),
    * then one per-doc and one per-lang aggregate, all map-side
    * combinable. V attaches as a one-row broadcast.
    *
    * Tolerance note (the q250 convention, adjudicated round-9): the
    * per-LANGUAGE `mean_ppl` is an avg of per-doc doubles, whose
    * partition accumulation order differs between engines — the ONE
    * float aggregate in this family that is not an exact-integer sum.
    * Quantizing each per-doc exp(nll/(1e6·nb)) to an integer grid
    * would make the SUM order-invariant but replace one 4-dp rounding
    * boundary per group with one LIBM boundary per document (exp is
    * not correctly rounded and Spark/DuckDB use different libm) —
    * strictly more cross-engine flip opportunities. Accepted as-is:
    * same-sign bounded terms, readout rounded 4 dp, stable across
    * both comparator paths at all gate scales every round since r8.
    */
  def lmQuality(spark: SparkSession, dir: String): DataFrame = {
    val scored = lmScore(Tables.load(spark, dir, "documents"),
      Seq("doc_id", "lang"), "text", col("lang") === "en")
    scored
      .withColumn("__ppl",
        exp(col("__nll") / (lit(1000000.0) * col("__nb"))))
      .withColumn("__high",
        when(col("__nll") > lit(3434000L) * col("__nb"), 1L).otherwise(0L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("__ppl")), 4).as("mean_ppl"),
        sum(col("__high")).as("n_high_ppl"),
        round(sum(col("__high")) / count(lit(1)).cast("double"), 6)
          .as("high_share"))
      .coalesce(1).orderBy(col("lang"))
  }

  /** The operator core under [[lmQuality]], reusable on any document
    * frame (the pipeline's LM quality gate): train the add-one bigram
    * LM on the rows matching `refFilter`, score every ≥2-token row.
    * Returns one row per input doc carrying `idCols` plus the exact
    * integer `__nll` (Σ m·round(ln((c_a+V)/(c_ab+1))·1e6)) and `__nb`
    * (its bigram count) — callers threshold with integer comparisons
    * (e.g. ppl ≤ P ⇔ __nll ≤ round(ln(P)·1e6)·__nb) or read the
    * closed-form ppl exp(__nll/(1e6·__nb)). `idCols` must functionally
    * determine the document (they ride the per-doc aggregate key).
    */
  def lmScore(docs0: DataFrame, idCols: Seq[String], textCol: String,
      refFilter: Column): DataFrame = {
    val ids = idCols.map(col)
    val docs = docs0
      .withColumn("__ref", refFilter)
      .select(ids :+ col("__ref") :+ toks(col(textCol)).as("__t"): _*)
      .filter(size(col("__t")) >= 2)
    // docBi feeds the LM build (lm → pref → V) AND the scoring join —
    // r9 it recomputed for each, and the tokenize/explode/aggregate is
    // the dominant per-row cost, so it is persisted (r9 VERDICT #5).
    // It is the REDUCED (doc × distinct-bigram) frame, far below the
    // exploded bigram stream; materialized eagerly by the V probe just
    // below.
    val docBi = graft.CacheScope.keep(docs
      .select(ids :+ col("__ref") :+
        explode(graft.GraftFunctions.tokenBigrams(col("__t"))).as("__bg"): _*)
      .groupBy(ids :+ col("__ref") :+ col("__bg.a").as("a") :+
        col("__bg.b").as("b"): _*)
      .agg(count(lit(1)).as("m")))
    val lm = docBi.filter(col("__ref"))
      .groupBy(col("a").as("__la"), col("b").as("__lb"))
      .agg(sum(col("m")).as("cab"))
    val pref = lm.groupBy(col("__la").as("__pa"))
      .agg(sum(col("cab")).as("ca"))
    // ONE stats action over lm replaces r9's THREE build-time jobs
    // (the tokenizing limit-1 empty probe + two approx_count_distinct
    // broadcast guards) and also materializes the docBi cache:
    //  - V = distinct continuations, the Laplace denominator — baked in
    //    as a literal, dropping the crossJoin(broadcast(vDf)) from the
    //    scoring plan; V = 0 ⇔ no ≥2-token reference doc, the
    //    empty-slice fail-fast (an empty reference degenerates the LM
    //    to ln(0/1), which Spark NULLs where DuckDB raises; ADVICE r8);
    //  - lm's row count and distinct-prefix count are EXACT broadcast
    //    guards for the two attach joins (same bound as
    //    Hints.keyIsBounded, no approx-sketch shading needed).
    val stats = lm.agg(count(lit(1)).as("__n"),
      countDistinct(col("__lb")).as("__v"),
      countDistinct(col("__la")).as("__p")).head()
    val v = stats.getLong(1)
    require(v > 0,
      "lmScore: refFilter matched no >=2-token document — the reference " +
        "LM is empty; pass a nonempty reference slice")
    val lmB = if (stats.getLong(0) <= Hints.MaxBroadcastKeys) broadcast(lm) else lm
    val prefB = if (stats.getLong(2) <= Hints.MaxBroadcastKeys) broadcast(pref) else pref
    docBi
      .join(lmB, col("a") === col("__la") && col("b") === col("__lb"), "left")
      .join(prefB, col("a") === col("__pa"), "left")
      .withColumn("__term",
        round(log((coalesce(col("ca"), lit(0L)) + lit(v)).cast("double") /
          (coalesce(col("cab"), lit(0L)) + lit(1L))) * lit(1000000.0))
          .cast("long"))
      .groupBy(ids: _*)
      .agg(sum(col("m") * col("__term")).as("__nll"),
        sum(col("m")).as("__nb"))
  }

  /** q253 — DSIR importance selection (oracle-checked): per-token
    * importance log-ratio λ(w) = ln(p̂_target(w) / p̂_raw(w)) between the
    * `lang = 'en'` target slice and the full corpus (both add-one-
    * smoothed over the FULL-corpus vocabulary so they share support),
    * per-document weight W = Σ counts·λ, and per source the top-⌈n/4⌉
    * selection by (W desc, doc_id) with kept doc/token mass and the
    * mean selected weight — the "resample raw data toward a target
    * distribution" primitive of DSIR, minus the feature hashing this
    * vocabulary does not need.
    *
    * Determinism: λ(w) is quantized per DISTINCT token as ONE ln of an
    * exact integer ratio, round(ln((t_w+1)(R+V) / ((r_w+1)(T+V)))·1e6)
    * (every factor exact in a double at any tested scale; the PRODUCT
    * is correctly rounded identically in both engines), W is an exact
    * integer sum, and the rank cut compares exact block-parallel
    * cumulative counts against the integer ⌈n/4⌉ = (n+3) DIV 4.
    *
    * Scale shape: raw/target counts are one token aggregate each; the
    * λ table is vocab-bounded and joins the per-(doc, token) aggregate
    * on the token key (cardinality-guarded broadcast — over the bound
    * it demotes to a shuffle join); the per-source rank comes from
    * [[Concentration.groupedCumSum]]'s block-parallel prefix sums, so
    * a 5-value source key never caps the sort at 5 tasks.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val doc = dsirWeights(Tables.load(spark, dir, "documents"),
      Seq("doc_id", "source"), "text", col("lang") === "en")
      .withColumn("__negw", -col("__wgt"))
      .withColumn("__one", lit(1L))
    val ranked = Concentration.groupedCumSum(
      doc, "source", "__negw", "doc_id", "__one")
    val sel = expr(
      "CAST(__cumw AS BIGINT) <= (CAST(__wtot AS BIGINT) + 3) DIV 4")
    ranked
      .withColumn("__sel", when(sel, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__sel")).as("n_selected"),
        sum(when(col("__sel") === 1L, col("__nt")).otherwise(0L))
          .cast("long").as("tokens_selected"),
        round(avg(when(col("__sel") === 1L,
          col("__wgt") / lit(1000000.0))), 4).as("mean_w_sel"),
        round(avg(col("__wgt") / lit(1000000.0)), 4).as("mean_w_all"))
      .coalesce(1).orderBy(col("source"))
  }

  /** The operator core under [[dsirSelect]], reusable on any document
    * frame: per-token importance log-ratio between the rows matching
    * `targetFilter` and the whole of `docs0` (shared add-one support
    * over the full vocabulary), quantized per distinct token to the
    * ×1e6 integer grid. Returns one row per doc carrying `idCols` plus
    * the exact integer weight `__wgt` (Σ m·λ) and its token count
    * `__nt` — callers rank-cut per group (the [[dsirSelect]] quartile)
    * or threshold (`__wgt > 0` = more target-like than raw).
    */
  def dsirWeights(docs0: DataFrame, idCols: Seq[String], textCol: String,
      targetFilter: Column): DataFrame = {
    val ids = idCols.map(col)
    val tk = docs0
      .withColumn("__tgt", targetFilter)
      .select(ids :+ col("__tgt") :+ explode(toks(col(textCol))).as("w"): _*)
    // empty target slice ⇒ t0 aggregates to NULL and every λ becomes
    // engine-dependent ln-of-degenerate — fail loudly (ADVICE r8)
    require(!tk.filter(col("__tgt")).isEmpty,
      "dsirWeights: targetFilter matched no token — the target " +
        "distribution is empty; pass a nonempty target slice")
    // raw/target counts straight off the token stream (map-side
    // combinable, vocab-sized results) — never materializing a
    // (doc, token) grain the weight path doesn't need
    val raw = tk.groupBy(col("w").as("__rw")).agg(count(lit(1)).as("rw"))
    val tots = raw.agg(sum(col("rw")).as("__r0"),
      count(lit(1)).as("__vv"))
    val tgt = tk.filter(col("__tgt"))
      .groupBy(col("w").as("__tw")).agg(count(lit(1)).as("tw"))
    val t0 = tgt.agg(sum(col("tw")).as("__t0"))
    val lam = raw
      .join(tgt, col("__rw") === col("__tw"), "left")
      .crossJoin(broadcast(tots)).crossJoin(broadcast(t0))
      .select(col("__rw").as("__lw"),
        round(log((coalesce(col("tw"), lit(0L)) + lit(1L)).cast("double") *
          (col("__r0") + col("__vv")) /
          ((col("rw") + lit(1L)).cast("double") * (col("__t0") + col("__vv"))))
          * lit(1000000.0)).cast("long").as("lam"))
    val lamB = Hints.broadcastIfBounded(lam, lam, col("__lw"))
    // per-instance λ sum ≡ Σ_w m·λ(w) — one narrow join on the token
    // key, one per-doc aggregate; the exact integer weight is
    // aggregation-order-proof either way
    tk.join(lamB, col("w") === col("__lw"))
      .groupBy(ids: _*)
      .agg(sum(col("lam")).as("__wgt"),
        count(lit(1)).cast("long").as("__nt"))
  }

  /** q254 — temperature-scaled language-mixing audit (oracle-checked):
    * for α ∈ {0.3, 0.5, 0.7, 1.0}, the tempered sampling share
    * p_l(α) = n_l^α / Σ_m n_m^α over per-language token masses, the
    * effective epochs over each language's data were the total budget
    * one corpus pass (share·T / n_l — the over-sampling multiplier
    * low-resource languages pay for at low α), and the effective
    * language count exp(H(p(α))) — the standard "how many languages
    * does this mix really train on" diversity readout.
    *
    * Scale shape: ONE per-language token aggregate (map-side
    * combinable); everything after runs on the |langs|-row frame
    * crossed with a 4-row α literal — broadcast by construction.
    * Token masses are exact longs; shares/epochs are closed-form
    * doubles rounded 6/4 dp.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val alphas = Seq(0.3, 0.5, 0.7, 1.0)
    val byLang = Tables.load(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
        .as("tokens"))
    val aDf = alphas.toDF("alpha")
    val g = byLang.crossJoin(broadcast(aDf))
      .withColumn("__p", pow(col("tokens").cast("double"), col("alpha")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("alpha"))
    val shares = g
      .withColumn("__ps", sum(col("__p")).over(w))
      .withColumn("__tt", sum(col("tokens")).over(w))
      .withColumn("temp_share", col("__p") / col("__ps"))
    shares
      .withColumn("eff_langs", exp(-sum(col("temp_share") *
        log(col("temp_share"))).over(w)))
      .select(col("alpha"), col("lang"), col("tokens"),
        round(col("tokens") / col("__tt").cast("double"), 6).as("raw_share"),
        round(col("temp_share"), 6).as("temp_share"),
        round(col("temp_share") * col("__tt") / col("tokens").cast("double"),
          4).as("eff_epochs"),
        round(col("eff_langs"), 4).as("eff_langs"))
      .coalesce(1).orderBy(col("alpha"), col("lang"))
  }

  /** q255 — memorization-risk audit (oracle-checked): per document the
    * fraction of its DISTINCT 5-token shingles that occur in no other
    * document; per source the scored-doc count, the mean unique
    * fraction, how many docs are high-risk (fraction ≥ 0.8 — the
    * integer comparison 5·unique ≥ 4·total, no float boundary), and
    * the total corpus-unique shingle mass. High unique-shingle
    * fraction marks content a model can only learn by memorizing —
    * the inverse readout of the boilerplate/near-dup family.
    *
    * Scale shape: the inverted-index pattern — per-doc distinct
    * shingles (one dedup aggregate), shingle document frequencies (one
    * aggregate), one equi-join back on the shingle key, then per-doc
    * and per-source aggregates. Linear in corpus size; never all-pairs.
    */
  def memorizationRisk(spark: SparkSession, dir: String): DataFrame = {
    // r12 collapse-first (guide §2.3, the q51/q68 recipe): a document's
    // distinct-shingle set is a pure function of its text, so the
    // shingle explode + df join run over ONE representative per
    // exact-duplicate class ([[graft.text.Dedup.exactClassAgg]]). A
    // shingle's document frequency is the multiplicity-weighted class
    // count (every member contains it), and every member of a class
    // shares its (ns, nu) — df = 1 is impossible inside an m ≥ 2 class,
    // consistent with "unique means unique among DOCUMENTS". Doc grain
    // returns via one null-safe corpus⋈frame text probe (the
    // collapsedDocPairs pattern); classes dropped by the < 5-token
    // filter drop their docs through the inner join, exactly like the
    // raw form (those docs emitted no shingle rows). The per-source
    // readout below is byte-identical in inputs — only the shingle
    // machinery changed grain.
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val frame = graft.text.Dedup.exactClassAgg(
      docs.select(col("doc_id").as("__did"), col("text").as("__txt")),
      "__did", "__txt")
    val sh = frame
      .select(col("__cls"), col("__m"), toks(col("__txt")).as("__t"))
      .filter(size(col("__t")) >= 5)
      .select(col("__cls"), col("__m"),
        explode(array_distinct(graft.GraftFunctions.wordNgrams(col("__t"), 5))).as("s"))
    val df = sh.groupBy(col("s").as("__s")).agg(sum(col("__m")).as("df"))
    val cls = sh.join(df, col("s") === col("__s"))
      .groupBy(col("__cls"))
      .agg(count(lit(1)).as("ns"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("nu"))
    val doc = docs
      .join(frame.select(col("__txt").as("__ftxt"), col("__cls")),
        col("text") <=> col("__ftxt"))
      .join(cls, "__cls")
      .select(col("doc_id"), col("source"), col("ns"), col("nu"))
    doc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("nu") / col("ns").cast("double")), 4)
          .as("mean_unique_frac"),
        sum(when(col("nu") * 5L >= col("ns") * 4L, 1L).otherwise(0L))
          .as("n_high_risk"),
        sum(col("nu")).as("n_unique_shingles"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q256 — embedding class-separation audit (oracle-checked): per
    * label, the mean cosine of its vectors to their own centroid
    * (within-class cohesion), the max cosine between its centroid and
    * any OTHER label's centroid (nearest-confusable separation), and
    * the margin between the two — the "are these labels trainable"
    * gate run before fitting a head, complementing q250's outlier
    * prune and q152's retrieval-accuracy audit.
    *
    * Determinism: the q152/q250 convention — embeddings quantize to
    * ×1e6 longs; centroids are exact integer coordinate SUMS (cosine
    * is scale-invariant, so S works in place of S/n); every dot
    * product and squared norm is exact in decimal(38,0); each cosine
    * is ONE closed-form double num/(√·√); means round 4 dp.
    *
    * Scale shape: one posexplode centroid aggregate (|labels|·dim
    * rows), vectors join their own centroid on a |labels|-row
    * broadcast, and the centroid-pair grid is |labels|² — tiny at any
    * corpus size. Per-vector work is one zip_with fold; everything
    * aggregates map-side.
    *
    * Tolerance note: `within_cos` averages per-vector closed-form
    * double cosines, so the sum's accumulation order differs between
    * engines — accepted under the same adjudication as q252's
    * mean_ppl (see [[lmQuality]]): per-vector integer quantization
    * would trade one 4-dp boundary per label for one sqrt/division
    * libm boundary per vector.
    */
  def classSeparation(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("__q"))
    val cent = emb
      .select(col("label").as("__cl"), posexplode(col("__q")))
      .groupBy(col("__cl"), col("pos"))
      .agg(sum(col("col")).as("__s"))
      .groupBy(col("__cl"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("__s")))),
        st => st.getField("__s")).as("__c"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => dec(x) * dec(y)),
        lit(0).cast("decimal(38,0)"), (acc, x) => acc + x)
    val within = emb.join(broadcast(cent), col("label") === col("__cl"))
      .withColumn("__cos",
        dot(col("__q"), col("__c")).cast("double") /
          (sqrt(dot(col("__q"), col("__q")).cast("double")) *
            sqrt(dot(col("__c"), col("__c")).cast("double"))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), avg(col("__cos")).as("__within"))
    val other = cent.as("a")
      .crossJoin(broadcast(cent.select(col("__cl").as("__cl2"),
        col("__c").as("__c2"))))
      .filter(col("__cl") =!= col("__cl2"))
      .withColumn("__cos",
        dot(col("__c"), col("__c2")).cast("double") /
          (sqrt(dot(col("__c"), col("__c")).cast("double")) *
            sqrt(dot(col("__c2"), col("__c2")).cast("double"))))
      .groupBy(col("__cl"))
      .agg(max(col("__cos")).as("__maxOther"))
    within.join(broadcast(other), col("label") === col("__cl"))
      .select(col("label"), col("n"),
        round(col("__within"), 4).as("within_cos"),
        round(col("__maxOther"), 4).as("max_other_cos"),
        round(col("__within") - col("__maxOther"), 4).as("margin"))
      .coalesce(1).orderBy(col("label"))
  }

  /** q257 — output-shard balance audit (oracle-checked): assign every
    * document to one of 16 output shards by the engine-independent
    * md5 low-64 mixer (the q188 digest recipe — never rand(), never an
    * engine-private hash) and report per shard its doc/token/char mass
    * and share — the skew check a sharded writer runs BEFORE
    * committing a layout, where one hot shard becomes the straggler
    * task of every downstream consumer.
    *
    * Scale shape: one map-side-combinable aggregate over a stateless
    * per-row hash; 16 rows out. Shares are closed-form doubles off
    * exact integer masses, rounded 6 dp.
    */
  def shardBalance(spark: SparkSession, dir: String): DataFrame = {
    val hex = md5(col("doc_id").cast("string").cast("binary"))
    val h = (0 to 7)
      .map(i => shiftleft(
        conv(substring(hex, 17 + 2 * i, 2), 16, 10).cast("long"), 8 * i))
      .reduce(_ + _)
    Tables.load(spark, dir, "documents")
      .select(pmod(h, lit(16L)).as("shard"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"),
        col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("tokens"),
        sum(col("n_chars")).as("chars"))
      .withColumn("doc_share",
        round(col("n_docs") / sum(col("n_docs"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"), 6))
      .withColumn("char_share",
        round(col("chars") / sum(col("chars"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"), 6))
      .coalesce(1).orderBy(col("shard"))
  }

  /** q258 — Zipf rank-frequency audit (oracle-checked): per source,
    * the log-log slope of frequency against rank over the top-100
    * tokens (rank by count desc, token asc — a total order both
    * engines share). Natural text runs ≈ −1; a flat slope marks
    * template/generated feeds and a cliff marks keyword stuffing —
    * the rank-spectrum companion to q248's Heaps growth and q215's
    * bigram entropy.
    *
    * Scale shape: one (source, token) aggregate (map-side combinable);
    * the ranking window runs over that VOCAB-BOUNDED aggregate — the
    * q217 posture: sorting |vocab_source| rows per source, never the
    * corpus. Counts exact; the regression is one bounded 100-term
    * float fold rounded 4 dp.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("c").desc, col("w"))
    // a single-distinct-token source has n_ranks = 1 and ln(1) = 0, so
    // the regression denominator is 0 — guard to NULL instead of an
    // engine-dependent NaN rendering (ADVICE r8; mirrored in the oracle)
    f.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 100)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_ranks"),
        when(count(lit(1)) > 1,
          round((count(lit(1)) * sum(log(col("rk")) * log(col("c"))) -
            sum(log(col("rk"))) * sum(log(col("c")))) /
            (count(lit(1)) * sum(log(col("rk")) * log(col("rk"))) -
              sum(log(col("rk"))) * sum(log(col("rk")))), 4))
          .otherwise(lit(null).cast("double")).as("zipf_slope"),
        max(col("c")).as("top_freq"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q259 — cross-source 8-gram containment matrix (oracle-checked):
    * for every ordered source pair (a ≠ b), |grams(a) ∩ grams(b)| /
    * |grams(a)| over DISTINCT 8-token shingles — the provenance-
    * leakage audit between sources (a high row says a's content is
    * substantially contained in b: syndication, scraping overlap, or
    * a shared boilerplate feed), the cross-SOURCE twin of q51's
    * doc-level benchmark decontamination.
    *
    * Scale shape: the inverted-index pattern — one distinct
    * (source, shingle) aggregate, one self-equi-join on the shingle
    * key (per-shingle fan-out bounded by |sources|² — postings are
    * source-grain, NOT doc-grain), |sources|² output rows. The gram
    * sizes attach via a cardinality-guarded broadcast.
    */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame = {
    // r11 collapse-first (guide §2.3): the distinct (source, gram) set
    // is a function of the distinct (source, text) set, so the n-gram
    // explode runs once per distinct (source, text) — on a twins-heavy
    // corpus the gram-string build and the distinct shuffle shrink by
    // the duplication factor. g is persisted (distinct-gram-bounded):
    // it feeds the size aggregate and both sides of the intersection
    // join, which each re-ran the whole explode+distinct otherwise.
    val st = Tables.load(spark, dir, "documents")
      .select(col("source"), col("text")).distinct()
    val g = st
      .select(col("source"), toks(col("text")).as("__t"))
      .filter(size(col("__t")) >= 8)
      .select(col("source"),
        explode(graft.GraftFunctions.wordNgrams(col("__t"), 8)).as("s"))
      .distinct()
    graft.CacheScope.eager(g) // three consumers race the cache otherwise
    val sz = g.groupBy(col("source").as("__szs"))
      .agg(count(lit(1)).as("n_grams"))
    val inter = g.select(col("source").as("source_a"), col("s"))
      .join(g.select(col("source").as("source_b"), col("s")), Seq("s"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared"))
    inter
      .join(Hints.broadcastIfBounded(sz, sz, col("__szs")),
        col("source_a") === col("__szs"))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("n_grams").as("n_grams_a"),
        round(col("shared") / col("n_grams").cast("double"), 6)
          .as("containment"))
      .coalesce(1).orderBy(col("source_a"), col("source_b"))
  }

  /** q260 — embedding hubness audit (oracle-checked): on a
    * deterministic fixed-size sample (the 1000 smallest md5-mixed
    * vec_ids — the q188 recipe, engine-independent), each vector's
    * top-10 cosine neighbors are computed exactly, and the audit
    * reports the k-occurrence distribution — how many vectors are
    * cited 0 / 1–2 / 3–5 / 6–10 / 11+ times as someone's neighbor.
    * High-dimensional embedding spaces concentrate citations on hub
    * vectors (hubness), which silently skews k-NN dedup and retrieval;
    * this is the gate that says whether cosine k-NN is trustworthy on
    * this embedding model at all.
    *
    * Scale shape: the all-pairs step is SAMPLE-BOUNDED by construction
    * (≤ 1000 × 1000 pairs at any corpus size — the bounded-broadcast
    * audit posture, like q26's contract but with a hard cap); the
    * sample selection is one TakeOrdered over the corpus. Neighbor
    * order is (cosine rounded 6 desc, vec_id) on the q152/q256
    * exact-integer dot machinery; all bucket counts are exact
    * integers.
    */
  def hubness(spark: SparkSession, dir: String): DataFrame = {
    val hex = md5(col("vec_id").cast("string").cast("binary"))
    val h = (0 to 7)
      .map(i => shiftleft(
        conv(substring(hex, 17 + 2 * i, 2), 16, 10).cast("long"), 8 * i))
      .reduce(_ + _)
    // r12 (guide §1.2 per-task work): the 10⁶ sample pairs each fold a
    // 64-dim dot — in decimal(38,0) that was ~2.5 s of BigDecimal
    // arithmetic for a fixed-size audit. The quantized coords are
    // round(x·10⁶) with |x| < 1 (corpus embeddings are sub-unit), so
    // |Σ q·q| ≤ 64·10¹² ≪ 2⁶³ (long-exact) and ≪ 2⁵³ (the cast to
    // double below is exact) — the long fold is BIT-IDENTICAL to the
    // decimal one, at integer-ALU cost.
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
    // per-vector norm computed ONCE here, not per pair — the pair step
    // then does one cross dot instead of three folds (same exact
    // decimal → double values, 3x less decimal arithmetic)
    // r12: the sample frame feeds FOUR consumers (both crossJoin sides,
    // the occ left join spine, the total) — unpersisted, each one
    // re-executed the full corpus scan + top-K (guide §2.4; measured at
    // amp100: four 8-task scan stages). It is ≤1000 rows by
    // construction, so persist + eager-materialize; the norm is a lazy
    // projection over the cache, so no dot ever evaluates below the
    // top-K.
    val sample = graft.CacheScope.eager(Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("__q"),
        h.as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(1000)
      .drop("__h"))
      .withColumn("__nrm", sqrt(dot(col("__q"), col("__q")).cast("double")))
    val pairs = sample
      .crossJoin(broadcast(sample.select(col("vec_id").as("__nid"),
        col("__q").as("__nq"), col("__nrm").as("__nnrm"))))
      .filter(col("vec_id") =!= col("__nid"))
      .select(col("vec_id"), col("__nid"),
        round(dot(col("__q"), col("__nq")).cast("double") /
          (col("__nrm") * col("__nnrm")), 6)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("__nid"))
    val cited = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .groupBy(col("__nid").as("vec_id")).agg(count(lit(1)).as("occ"))
    val occ = sample.select(col("vec_id"))
      .join(cited, Seq("vec_id"), "left")
      .select(coalesce(col("occ"), lit(0L)).as("occ"))
    val bucket = when(col("occ") === 0, "0")
      .when(col("occ") <= 2, "1-2")
      .when(col("occ") <= 5, "3-5")
      .when(col("occ") <= 10, "6-10")
      .otherwise("11+")
    val tot = occ.agg(count(lit(1)).as("__n"))
    occ.groupBy(bucket.as("occ_bucket"))
      .agg(count(lit(1)).as("n_vectors"), max(col("occ")).as("max_occ"))
      .crossJoin(broadcast(tot))
      .select(col("occ_bucket"), col("n_vectors"), col("max_occ"),
        round(col("n_vectors") / col("__n").cast("double"), 6)
          .as("occ_share"))
      .coalesce(1).orderBy(col("occ_bucket"))
  }

  /** q261 — quasi-identifier k-anonymity audit (oracle-checked): treat
    * (lang, ⌊n_chars/50⌋) as the quasi-identifier and count, per
    * source, how many documents sit in an equivalence class smaller
    * than k = 5 — the re-identification-risk readout a privacy review
    * runs before releasing a corpus (small classes are linkable; the
    * PII scrub (q73) removes direct identifiers, this audits the
    * indirect ones).
    *
    * Scale shape: one class-size aggregate (bounded by |langs| ×
    * length bands), joined back on the class key via a cardinality-
    * guarded broadcast, one per-source aggregate. All counts exact;
    * the share is one closed-form double.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        expr("n_chars DIV 50").as("len_band"))
    val cls = q.groupBy(col("lang").as("__cl"), col("len_band").as("__cb"))
      .agg(count(lit(1)).as("sz"))
    q.join(Hints.broadcastIfBounded(cls, cls,
        struct(col("__cl"), col("__cb"))),
        col("lang") === col("__cl") && col("len_band") === col("__cb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("n_risky"),
        round(sum(when(col("sz") < 5, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("risky_share"))
      .coalesce(1).orderBy(col("source"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q252_lm_quality" -> (lmQuality _),
    "q253_dsir_select" -> (dsirSelect _),
    "q254_temperature_mix" -> (temperatureMix _),
    "q255_memorization_risk" -> (memorizationRisk _),
    "q256_class_separation" -> (classSeparation _),
    "q257_shard_balance" -> (shardBalance _),
    "q258_zipf_slope" -> (zipfSlope _),
    "q259_ngram_containment" -> (ngramContainment _),
    "q260_hubness" -> (hubness _),
    "q261_k_anonymity" -> (kAnonymity _))
}

package graft.ops

import graft.Tables
import graft.multimodal.Multimodal
import graft.text.{Boilerplate, Dedup, TextAnalysis}
import graft.vector.{Pq, SemanticDedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-curation operator inventory (builder prompt: dedup,
  * similarity search, multimodal, text analysis), exposed as driver
  * queries. EVERY entry carries a DuckDB oracle in [[CurationOracle]]:
  * q24 runs the banded SimHash pairing over an md5-derived signature
  * the oracle recomputes from scratch, and q31 emits the HLL estimate
  * as a deterministic within-bound boolean next to the exact count.
  */
object Curation {

  /** q21 — token statistics per language (oracle-checked). */
  def docTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val nTok = TextAnalysis.tokenCount(col("text"))
    docs.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTok).cast("long").as("total_tokens"),
        round(avg(nTok), 4).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  private val oracleStopwords =
    Seq("the", "of", "and", "a", "to", "in", "is", "it", "that", "for")

  /** q22 — quality-signal aggregates per source (oracle-checked):
    * average length and stopword ratio, the two signals shared verbatim
    * with the DuckDB oracle. The full composite lives in
    * [[TextAnalysis.qualityScore]] (property-tested).
    */
  def docQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = split(col("text"), " ")
    val stopHits = size(filter(split(lower(col("text")), " "),
      t => t.isin(oracleStopwords: _*)))
    val ratio = stopHits.cast("double") / greatest(size(toks), lit(1)).cast("double")
    docs.groupBy(col("source"))
      .agg(
        round(avg(length(col("text")).cast("double")), 4).as("avg_len"),
        round(avg(ratio), 6).as("stop_ratio"))
      .orderBy(col("source"))
  }

  /** q23 — MinHash-LSH near-dup pairs (oracle-checked: candidates are
    * verified with EXACT shingle-Jaccard, so the output is provably
    * ⊆ {pairs with J ≥ 0.8}; recall = 1 on this corpus with these fixed
    * seeds makes it equal to the oracle's exact pair set — see
    * [[CurationOracle]]). */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    // r12 collapse-first (the q154/q177 recipe, guide §2): signatures,
    // banding and the exact-Jaccard verify are text-functional, and
    // identical texts pair at J = 1.0 ≥ 0.8 (same signature ⇒ every
    // band collides), so the doc-grain output is row-identical while
    // the banded self-join runs over DISTINCT texts
    Dedup.collapsedDocPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", "jaccard")(reps =>
      Dedup.nearMinhash(reps, "doc_id", "text",
        shingleLen = 3, b = 16, r = 4, threshold = 0.8))
      .orderBy(col("id_a"), col("id_b"))

  /** q24 — SimHash near-dup pairs (oracle-checked): the banded pairing
    * runs over [[Dedup.simhashMd5]], a 60-bit signature the DuckDB
    * oracle recomputes from scratch (md5 is engine-independent), then
    * pairs by exact all-pairs `bit_count(xor) <= 3`. The 4-band
    * pigeonhole guarantee makes Spark's banded output provably EQUAL to
    * that exact set, so hash-match verifies the whole pairing algebra.
    * Production dedup uses the xxhash64 native signature
    * ([[Dedup.simhashOfTokens]]) — same pairing code path, faster hash.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    // r12 collapse-first: the signature is a pure text function, so
    // banding and hamming run over DISTINCT texts; identical texts
    // carry identical signatures ⇒ hamming 0 ≤ maxHamming, so the
    // within-class arm emits the exact raw value (selfSim = 0 — a
    // DISTANCE, not a similarity). Doc-grain output row-identical.
    Dedup.collapsedDocPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", "hamming", selfSim = lit(0))(reps =>
      Dedup.nearSimhash(reps, "doc_id", "text",
        maxHamming = 3, sig = Dedup.simhashMd5, sigBits = 60))
      .orderBy(col("id_a"), col("id_b"))

  /** q25 — exact n-gram Jaccard near-dup pairs (oracle-checked: the
    * inverted-index join is exact, so DuckDB can reproduce it). */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    // r12 collapse-first (identical texts ⇒ J = 1.0 ≥ 0.5): the
    // inverted-index self-join runs over DISTINCT texts — same
    // candidate algebra q177 already runs collapse-first, minus the
    // prefix filter. Doc-grain output row-identical.
    Dedup.collapsedDocPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", "jaccard")(reps =>
      Dedup.ngramJaccard(reps, "doc_id", "text",
        shingleLen = 3, threshold = 0.5))
      .orderBy(col("id_a"), col("id_b"))

  /** q177 — prefix-filtered exact Jaccard pairs (oracle-checked
    * against q25's SQL verbatim): [[Dedup.ngramJaccardPrefix]] indexes
    * only each document's rare-first prefix (PPJoin principle) yet
    * must emit EXACTLY q25's pairs — the candidate-reduction
    * losslessness theorem sits under the driver's gate. Round-9: runs
    * collapse-first ([[Dedup.collapsedDocPairs]]) so the prefix
    * inverted index holds one entry set per DISTINCT text — the
    * posting-list self-join no longer scales with the square of the
    * exact-twin factor; doc-grain pairs are recovered by the exact
    * class expansion (value identity pinned in
    * CollapseEquivalenceSpec, and the unchanged q25-verbatim oracle
    * hash re-proves it per run). */
  def dedupNgramPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.collapsedDocPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", "jaccard")(reps =>
      Dedup.ngramJaccardPrefix(reps, "doc_id", "text",
        shingleLen = 3, threshold = 0.5))
      .orderBy(col("id_a"), col("id_b"))

  /** q154 — weighted (multiset) 3-gram Jaccard near-dup pairs
    * (oracle-checked): [[Dedup.weightedNgramJaccard]] — q25's
    * inverted-index candidates with multiplicities carried, so
    * repetition-heavy boilerplate twins score on their full mass.
    * Round-9: collapse-first via [[Dedup.collapsedDocPairs]] (weighted
    * Jaccard is text-functional and scores identical texts exactly
    * 1.0), which removed the r8 100×-sweep abort (>78 GB spill in the
    * uncollapsed posting-list self-join). */
  def weightedNgramPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.collapsedDocPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", "wjaccard")(reps =>
      Dedup.weightedNgramJaccard(reps, "doc_id", "text",
        shingleLen = 3, threshold = 0.5))
      .orderBy(col("id_a"), col("id_b"))

  /** q26 — embedding cosine near-dup pairs above 0.35 (oracle-checked). */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupCosine(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.35)
      .orderBy(col("id_a"), col("id_b"))

  /** q27 — heuristic language-ID distribution (oracle-checked: the
    * stopword-profile argmax incl. its (score, lang) tie-break is plain
    * SQL — [[CurationOracle]] replicates it in DuckDB). */
  def langIdDist(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(TextAnalysis.langId(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("pred_lang"))

  /** q28 — document fingerprint cardinality (oracle-checked: equal texts
    * hash equal and the corpus has zero 64-bit collisions at every sf, so
    * n_distinct_fp == count(DISTINCT text) — the oracle's exact twin). */
  def fingerprintStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_distinct_fp"))

  /** q29 — ANN cosine top-5 for query vector 0 (oracle-checked: with the
    * fixed hyperplane seed the LSH candidate set contains the true top-5
    * at these sfs and exact cosine re-ranks candidates, so the output
    * equals the exact brute-force top-5; recall@5 vs exact is also
    * ScalaTest-asserted). */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // this corpus is near-random (true top-5 sims ≈ 0.3–0.37, θ ≈ 68°),
    // so per-table collision (1−θ/π)^p is low — more tables + larger
    // buckets buy the recall that makes the output coincide with the
    // exact top-5 (the oracle). At curation scale the defaults apply.
    Similarity.annTopK(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 5,
        L = 32, bucketTarget = 64)
      .orderBy(col("rk"))
  }

  /** q30 — multimodal payload metadata stats (oracle-checked: byte
    * lengths of the payload column round-trip exactly). */
  def mmMeta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Multimodal.withPayload(docs, "text", "source")
      .groupBy(col("meta.source").as("source"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("meta.n_bytes")).as("total_bytes"))
      .orderBy(col("source"))
  }

  /** q31 — approximate distinct users per event type (oracle-checked):
    * emits the exact count next to a deterministic `approx_ok` boolean
    * (HLL++ estimate within 4×rsd = 20% of exact — Spark's sketch is
    * deterministic on fixed data, so the boolean is stable). The DuckDB
    * oracle reproduces `exact_u` and asserts the boolean is `true`,
    * which turns the implementation-specific estimate into a
    * hash-checkable contract. The bound is 4σ, not 3σ: the sketch has
    * no hard guarantee, so a regenerated corpus could land a group
    * outside 3σ (~0.3% per group) and turn a sketch outlier into a
    * confusing hash mismatch — at 4σ that residual risk is ~1e-4 per
    * group while the check still catches any real estimator break.
    * Tighter bound assertions live in ScalaTest (SURVEY A3).
    * Production use is the approx aggregate alone — `exact_u` here is
    * the oracle's anchor.
    */
  def hllDistinctCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_u"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .select(col("event_type"), col("exact_u"),
        (abs(col("approx") - col("exact_u"))
          <= col("exact_u") * lit(0.20)).as("approx_ok"))
      .orderBy(col("event_type"))

  /** q37 — exact top-10 vocabulary head (oracle-checked); the
    * count-min-sketch scale twin is bound-tested in ScalaTest. */
  def topTokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTokens(Tables.load(spark, dir, "documents"), "text", 10)

  /** q40 — frame-sampling stats (oracle-checked): per-source total and
    * mean sampled-frame counts over the payload column. The byte-slicing
    * explode is [[Multimodal.frameSample]]; the oracle reproduces its
    * frame-count arithmetic on `octet_length`. */
  def frameStats(spark: SparkSession, dir: String): DataFrame = {
    val mm = Multimodal.withPayload(
      Tables.load(spark, dir, "documents"), "text", "source")
    Multimodal.frameSample(mm, "payload", frameBytes = 64, stride = 2)
      .groupBy(col("meta.source").as("source"), col("doc_id"))
      .agg(count(lit(1)).as("nf"))
      .groupBy(col("source"))
      .agg(sum(col("nf")).as("total_frames"),
        round(avg(col("nf")), 4).as("avg_frames"))
      .orderBy(col("source"))
  }

  /** Deterministic stratified sampling for corpus balancing: keep each
    * row with its stratum's probability, decided by a CONTENT hash
    * (xxhash64 of the id + salt), not `rand()` — so the sample is
    * identical across retries, partition layouts, and cluster sizes
    * (`df.stat.sampleBy` is none of those: it draws per-partition).
    * Unlisted strata are dropped. Pure narrow map — no shuffle.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      fractions: Map[String, Double],
      idCol: String,
      salt: Long = 42L): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1), "fractions must be in [0,1]")
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col(stratumCol) === k, lit(f)).otherwise(acc)
    }
    val u = pmod(xxhash64(col(idCol).cast("string"), lit(salt)), lit(1000000L))
      .cast("double") / 1000000d
    df.filter(u < frac)
  }

  /** q41 — fuzzy near-match histogram (oracle-checked): part-name pairs
    * within edit distance 2, counted per distance. Dedup-first
    * ([[TextAnalysis.fuzzyHistogram]]): distinct names are paired via
    * lossless symmetric-delete blocking and weighted by multiplicity —
    * quadratic in the 64 distinct names, linear in rows. (The id-level
    * length-banded formulation this replaced was quadratic in ROWS:
    * ~600 M levenshtein calls at sf0.1 in one hot length bucket.)
    */
  def fuzzyHistogram(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fuzzyHistogram(Tables.load(spark, dir, "part"), "p_name", 2)
      .orderBy(col("dist"))

  /** q42 — cluster-based dedup (oracle-checked via a DuckDB recursive
    * CTE): connected components over the exact n-gram-Jaccard pair graph
    * (q25's edges), so transitive chains A≈B≈C collapse into one
    * cluster; per cluster, the survivor is the highest-quality doc
    * (max n_chars, tie → min doc_id). Output: one row per component
    * with ≥2 docs — (cluster_id = min member id, n_docs, keep_id).
    *
    * Round-10: COLLAPSE-FIRST (the q45/q154/q177 spine applied to the
    * CC machinery itself — r9 VERDICT next-round #3). Edges are
    * text-functional, so label propagation runs over ONE representative
    * per exact-duplicate class and the doc-grain answer is recovered
    * exactly, never materializing the C(m,2) within-class edges that
    * made the raw form twin-quadratic on the amplified corpus:
    *  - identical texts have Jaccard 1 ≥ 0.5, so a class's members are
    *    always pairwise connected — the whole class joins whatever
    *    component its representative lands in, and a class with m ≥ 2
    *    and NO cross-class edge is a doc-grain component by itself;
    *  - cluster_id (min member doc id) = min representative id, because
    *    every representative is its class's min id;
    *  - n_docs = Σ class multiplicity over member classes;
    *  - keep_id: (max n_chars, tie min doc_id) over member docs =
    *    min over member classes of the per-class (−n_chars, doc_id)
    *    struct min — aggregated once at class formation.
    * Value identity vs the raw doc-grain form is pinned in
    * CollapseEquivalenceSpec; the unchanged oracle hash re-proves it
    * per run.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersOf(Tables.load(spark, dir, "documents"))

  /** [[dedupClusters]] core over any (doc_id, text, n_chars) frame —
    * exposed so CollapseEquivalenceSpec can pin it against the raw
    * doc-grain formulation on a planted-twins corpus. */
  def dedupClustersOf(docs: DataFrame): DataFrame = {
    // persisted: consumed by the edge enumerator's two self-join
    // branches (the classPairs measurement — ~8x at 100× uncached),
    // by the CC-side materialization, and by the two expansion joins
    val cls = graft.CacheScope.keep(docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("__m"),
        min(struct((-col("n_chars")).as("negq"), col("doc_id").as("kid")))
          .as("__keep")))
    val pairs = Dedup.ngramJaccard(cls.select(col("doc_id"), col("text")),
      "doc_id", "text", shingleLen = 3, threshold = 0.5)
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val edgeClusters = cc.join(cls, cc("id") === cls("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("__m")).as("n_docs"),
        min(col("__keep")).getField("kid").as("keep_id"))
    // multi-member classes whose representative pairs with nothing:
    // doc-grain components of their own (members interconnect at J=1).
    // "Interconnect at J=1" leans on shingleTable's >= 1-shingle
    // whole-text fallback (the INVARIANT comment there): even a
    // sub-shingle-length text self-pairs, so a multi-member class is
    // NEVER edge-free at the doc grain. Pinned by the planted
    // short-text twins in CollapseEquivalenceSpec's q42-shape test.
    val iso = cls.filter(col("__m") >= 2)
      .join(cc.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("cluster_id"), col("__m").as("n_docs"),
        col("__keep").getField("kid").as("keep_id"))
    edgeClusters.unionByName(iso).orderBy(col("cluster_id"))
  }

  /** q44 — containment near-dup pairs (oracle-checked): n-gram OVERLAP
    * coefficient |A∩B|/min(|A|,|B|) ≥ 0.8 — catches short docs embedded
    * in long ones that Jaccard (q25) misses. */
  def overlapPairs(spark: SparkSession, dir: String): DataFrame =
    // r12 collapse-first (identical texts ⇒ overlap = 1.0 ≥ 0.8; the
    // measure is a pure function of the two shingle sets): the
    // inverted-index self-join runs over DISTINCT texts, doc-grain
    // output row-identical.
    Dedup.collapsedDocPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", "overlap")(reps =>
      Dedup.ngramOverlap(reps, "doc_id", "text",
        shingleLen = 3, threshold = 0.8))
      .orderBy(col("id_a"), col("id_b"))

  /** q45 — span-level dedup stats (oracle-checked): 8-token spans
    * appearing in ≥2 distinct docs — repeated-passage signal
    * (boilerplate/quotation), invisible to whole-doc measures.
    * Round-9: collapse-first — spans are text-functional, so the span
    * table is built over ONE representative per distinct text and each
    * span's doc count is Σ class multiplicity (value-identical to the
    * raw form by construction; the unchanged oracle hash re-proves it
    * per run). The span explode now tracks distinct content, not the
    * twin factor, which is what makes the query 100×-sweepable. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val cls = Tables.load(spark, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("__m"))
    TextAnalysis.spanTable(cls.select(col("doc_id"), col("text")),
        "doc_id", "text", spanLen = 8)
      .join(cls.select(col("doc_id").as("id"), col("__m")), Seq("id"))
      .groupBy(col("span"))
      .agg(sum(col("__m")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .agg(
        count(lit(1)).as("n_dup_spans"),
        coalesce(sum(col("n_docs")), lit(0L)).cast("long").as("n_occurrences"))
  }

  /** Shared builder for the q262–q266 `*_classes` twins — the
    * REPRESENTATIVE-GRAIN form of the raw pair enumerators (q23–q26/
    * q44), which is what a 100 TB pipeline actually materializes: one
    * row per qualifying pair of exact-duplicate CLASSES, carrying both
    * class multiplicities and the implied doc-pair mass m_a·m_b. The
    * doc-grain pair list is recoverable by expansion
    * ([[graft.text.Dedup.collapsedDocPairs]] is the operator form) but
    * on a twin-heavy corpus it is quadratic in the duplication factor
    * BY CONTRACT — these twins are the bounded output every skip-listed
    * enumerator is measured through at 100×. `cls` IS persisted: the r9
    * ADVICE lifecycle concern (no unpersist site on a lazy builder) was
    * tried and REVERSED by measurement — the MinHash twin is flat
    * uncached (exchange reuse covers its symmetric banding join), but
    * the n-gram/overlap pairFns consume the representatives through two
    * ASYMMETRIC self-join branches that each re-run the corpus text
    * aggregate AND the shingle build (q264/q265 at 100×: ~3 s cached →
    * ~25 s uncached, fresh-JVM confirmed). The frame is distinct-
    * content-sized (MBs at any amp factor).
    */
  private def classPairs(docs: DataFrame, idCol: String, simCol: String)(
      pairFn: DataFrame => DataFrame): DataFrame = {
    val cls = graft.CacheScope.keep(docs.groupBy(col("text"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__m")))
    pairFn(cls.select(col(idCol), col("text")))
      .join(cls.select(col(idCol).as("id_a"), col("__m").as("m_a")), Seq("id_a"))
      .join(cls.select(col(idCol).as("id_b"), col("__m").as("m_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col(simCol), col("m_a"), col("m_b"),
        (col("m_a") * col("m_b")).as("n_doc_pairs"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q262 — MinHash-LSH near-dup CLASS pairs (oracle-checked): q23's
    * banding + exact-Jaccard verification over representatives; the
    * oracle is the exact ≥ 0.8 pair set over representatives (recall =
    * 1 on this corpus with these fixed seeds, as for q23). */
  def minhashClasses(spark: SparkSession, dir: String): DataFrame =
    classPairs(Tables.load(spark, dir, "documents"), "doc_id", "jaccard")(
      reps => Dedup.nearMinhash(reps, "doc_id", "text",
        shingleLen = 3, b = 16, r = 4, threshold = 0.8))

  /** q263 — SimHash near-dup CLASS pairs (oracle-checked): q24's
    * md5-signature banding + Hamming ≤ 3 verify over representatives. */
  def simhashClasses(spark: SparkSession, dir: String): DataFrame =
    classPairs(Tables.load(spark, dir, "documents"), "doc_id", "hamming")(
      reps => Dedup.nearSimhash(reps, "doc_id", "text",
        maxHamming = 3, sig = Dedup.simhashMd5, sigBits = 60))

  /** q264 — exact n-gram Jaccard CLASS pairs (oracle-checked): q25's
    * inverted-index join over representatives. */
  def ngramClasses(spark: SparkSession, dir: String): DataFrame =
    classPairs(Tables.load(spark, dir, "documents"), "doc_id", "jaccard")(
      reps => Dedup.ngramJaccard(reps, "doc_id", "text",
        shingleLen = 3, threshold = 0.5))

  /** q265 — overlap-coefficient CLASS pairs (oracle-checked): q44's
    * containment measure over representatives. */
  def overlapClasses(spark: SparkSession, dir: String): DataFrame =
    classPairs(Tables.load(spark, dir, "documents"), "doc_id", "overlap")(
      reps => Dedup.ngramOverlap(reps, "doc_id", "text",
        shingleLen = 3, threshold = 0.8))

  /** q266 — embedding cosine near-dup CLASS pairs (oracle-checked):
    * q26's exact measure over one representative per BYTE-IDENTICAL
    * embedding (classes group on the float array itself — exact twins
    * replicate vectors bit-exactly, so grouping is engine-agnostic). */
  def embedClasses(spark: SparkSession, dir: String): DataFrame = {
    // persisted for the same measured reason as classPairs' cls (the
    // broadcast self-join consumes the class frame on both sides)
    val cls = graft.CacheScope.keep(Tables.load(spark, dir, "embeddings")
      .groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("__m")))
    Similarity.nearDupCosine(cls.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.35)
      .join(cls.select(col("vec_id").as("id_a"), col("__m").as("m_a")), Seq("id_a"))
      .join(cls.select(col("vec_id").as("id_b"), col("__m").as("m_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sim"), col("m_a"), col("m_b"),
        (col("m_a") * col("m_b")).as("n_doc_pairs"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q268 — semantic dedup pairs at the CLASS grain (oracle-checked):
    * SemDeDup's within-cell near-dup enumeration
    * ([[graft.vector.SemanticDedup.semanticPairsWith]] — the production
    * pairing machinery, steps 2–3 of the operator) under a
    * DETERMINISTIC cell tiling, so the one LLM-pipeline component that
    * was ScalaTest-pinned only (r9 VERDICT missing #2) gains the DuckDB
    * hard gate. Cells are per-LABEL centroids on the q152/q256
    * exact-integer convention, sized so EVERY arithmetic step is
    * bit-deterministic cross-engine:
    *  - vectors quantize to ×1e6 longs (float32→double exact, so both
    *    engines derive identical integers ≤ 3.2e5);
    *  - centroid_i = floor(S_i/N) over the per-label integer coordinate
    *    sums — floor, not round (round-half rules differ per engine),
    *    and |centroid_i| ≤ 3.2e5, so every dot term is ≤ ~1e11 and a
    *    64-term dot sum stays ≤ ~6.6e12 ≪ 2⁵³: the double accumulation
    *    is EXACT in any order, sqrt is IEEE-correctly-rounded, and the
    *    argmax (ties → larger cell, [[graft.functions.expressions
    *    .CellArgMax]]'s rule, mirrored in the oracle's ORDER BY) cannot
    *    flip between engines;
    *  - pair cosines run over the same quantized vectors, equally exact.
    * Output is REPRESENTATIVE-grain (q266's shape — one row per
    * qualifying pair of byte-identical-embedding classes with
    * multiplicities and implied doc-pair mass), so the 100× sweep times
    * it: the doc-grain pair list is twin-quadratic by contract, the
    * class-grain output is bounded by distinct content.
    *
    * Scale shape: one posexplode shuffle for the |labels|·dim centroid
    * sums (collected — labels are a fixed vocabulary, driver-small at
    * any corpus size), one embedding-keyed class collapse, then the
    * cell equi-join's Σ|cell|² pair work over REPRESENTATIVES — the
    * SemDeDup n²/numCells term on distinct content only.
    */
  def semanticClasses(spark: SparkSession, dir: String): DataFrame =
    semanticClassesOf(Tables.load(spark, dir, "embeddings"))

  /** [[semanticClasses]] core over any (vec_id, label, embedding)
    * frame — exposed so SemanticDedupSpec can plant the cross-engine
    * hazard rows (a zero-QUANTIZING vector, a tau-boundary pair) the
    * corpus doesn't guarantee. */
  def semanticClassesOf(emb: DataFrame): DataFrame = {
    val q = gridQuantize _
    val cents = labelGridCentroids(emb)
    val cls = emb.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("__m"))
    // zero-QUANTIZING reps are excluded STRUCTURALLY on both sides
    // (r10 ADVICE): a vector of |x| < 5e-7 floats rounds to the zero
    // grid vector, whose cosine is engine-defined (Spark CosineSim
    // pins 0.0; DuckDB's list_cosine_similarity was measured returning
    // -1.0 here, and NaN in other versions) — the symmetric filter
    // makes the cross-engine hash independent of that convention
    // instead of relying on the corpus never containing one. The
    // remaining cross-engine surface — denominator composition — is
    // MEASURED, not assumed: DuckDB's list_cosine_similarity composes
    // sqrt(na)*sqrt(nb) exactly like CosineSimilarity.scala:49
    // (200/200 agreement on probe pairs where sqrt(na)*sqrt(nb) and
    // sqrt(na*nb) differ by ulps; tools/probe_cosine_composition.py).
    val pairs = SemanticDedup.semanticPairsWith(
      cls.select(col("vec_id"), q(col("embedding")).cast("array<double>").as("qv"))
        .filter(exists(col("qv"), x => x =!= lit(0.0))),
      "vec_id", "qv", tau = 0.35, cents)
    pairs
      .join(cls.select(col("vec_id").as("id_a"), col("__m").as("m_a")), Seq("id_a"))
      .join(cls.select(col("vec_id").as("id_b"), col("__m").as("m_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sim"), col("m_a"), col("m_b"),
        (col("m_a") * col("m_b")).as("n_doc_pairs"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** ×1e6 integer-grid quantizer shared by the exact-arithmetic vector
    * queries (q268/q269/q270): float32→double is exact, so both engines
    * derive identical ≤ 3.2e5-magnitude longs. */
  private def gridQuantize(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(1000000.0)).cast("long"))

  /** Per-label floor(S/N) centroids over the FULL corpus on the
    * [[gridQuantize]] grid (twins count toward their label's mass —
    * scale-invariance is not assumed, the floor is taken on the true
    * per-label mean). Floor, not round: round-half rules differ per
    * engine. |centroid_i| ≤ 3.2e5, so every downstream dot/distance
    * term stays exact in double (the q268 scaladoc carries the bound
    * arithmetic). Collected: labels are a fixed vocabulary, |labels|·dim
    * doubles is driver-small at any corpus size. Ordered by label — the
    * index IS the cross-engine cell/codeword id. */
  private[graft] def labelGridCentroids(emb: DataFrame): IndexedSeq[Seq[Double]] = emb
    .select(col("label"), posexplode(gridQuantize(col("embedding"))))
    .groupBy(col("label"), col("pos"))
    .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
    .groupBy(col("label"))
    .agg(transform(sort_array(collect_list(struct(col("pos"),
        // Spark's floor yields bigint — cast back so the collected
        // centroid literal is the array<double> cellAssignment takes
        floor(col("s").cast("double") / col("n")).cast("double").as("c")))),
      st => st.getField("c")).as("cent"))
    .orderBy(col("label"))
    .collect().toIndexedSeq
    .map(_.getSeq[Double](1).toArray.toSeq)

  /** The deterministic PQ model q269/q270 share: m=2 subspaces whose
    * codebooks are the HALVES of the [[labelGridCentroids]] (ksub =
    * |labels| codewords each) — the q268 recipe extended to product
    * quantization so the production PQ machinery ([[graft.functions
    * .expressions.PqEncode]], [[Pq.pqEncodeFrame]], [[Pq.pqScanTopK]])
    * gets a DuckDB hard gate: every encode distance, ADC dot,
    * reconstruction norm and query norm is a sum of products of
    * ≤ 6.4e5-magnitude integers over ≤ 64 terms — exact in double in
    * ANY order on both engines, so codes, sims and ranks cannot flip.
    * (The TRAINED path — [[Pq.pqTrain]]'s per-subspace Lloyd — is
    * float-mean based and engine-specific by nature; it is pinned by
    * PqSpec, the same split as IVF's trainCentroids vs q268.) */
  private def labelPqModel(emb: DataFrame): Pq.PqModel = {
    val cents = labelGridCentroids(emb)
    val dim = cents.head.length
    require(dim % 2 == 0, s"embedding dim $dim must split into 2 subspaces")
    val dsub = dim / 2
    Pq.PqModel(IndexedSeq(
      cents.map(_.slice(0, dsub)).toIndexedSeq,
      cents.map(_.slice(dsub, dim)).toIndexedSeq))
  }

  /** q269 — PQ quantization distortion by label (oracle-checked):
    * encode every byte-identical-embedding class representative with
    * the [[labelPqModel]] codebooks and report, per class label (min
    * label in the class), the class count, the doc mass, and the TOTAL
    * squared reconstruction error — the quantity PQ's Lloyd training
    * minimizes and the first thing to audit before trusting ADC ranks
    * on a new corpus. Representative grain keeps the output (and the
    * error sum) bounded by distinct content: per-rep error ≤ 2.7e13
    * fits a long exactly, and the per-label sum stays ≤ ~1e17 ≪ 2⁶³ at
    * any amplification because twins collapse (doc mass is reported,
    * not error-weighted — a doc-weighted sum would re-inflate with the
    * twin factor).
    *
    * Scale shape: one posexplode shuffle for the centroids (collected,
    * driver-small), one embedding-keyed class collapse, then a narrow
    * per-rep encode map + a |labels|-row aggregate. No pair work at
    * all. */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame =
    pqDistortionOf(Tables.load(spark, dir, "embeddings"))

  /** [[pqDistortion]] core over any (vec_id, label, embedding) frame. */
  def pqDistortionOf(emb: DataFrame): DataFrame = {
    val model = labelPqModel(emb)
    val cls = emb.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"), min(col("label")).as("label"),
        count(lit(1)).as("m"))
    val coded = cls
      .select(col("label"), col("m"),
        gridQuantize(col("embedding")).cast("array<double>").as("qv"))
      .select(col("label"), col("m"), col("qv"),
        graft.GraftFunctions.pqEncode(col("qv"), model.booksLit).as("codes"))
    coded
      .select(col("label"), col("m"),
        aggregate(zip_with(col("qv"), Pq.pqDecode(col("codes"), model),
            (a, b) => (a - b) * (a - b)),
          lit(0.0d), (acc, x) => acc + x).cast("long").as("sq_err"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_classes"), sum(col("m")).as("n_docs"),
        sum(col("sq_err")).as("sum_sq_err"))
      .orderBy(col("label"))
  }

  /** q270 — PQ ADC top-k (oracle-checked): the production ADC scan
    * ([[Pq.pqEncodeFrame]] → [[Pq.pqScanTopK]] — LUT expression, m
    * lookups per candidate, code-derived reconstruction norms, zero
    * denominators pinned 0.0) under the [[labelPqModel]] deterministic
    * codebooks, over class representatives, for a deterministic ~1%
    * query slice (vec_id ≡ 0 mod 97). Every dot/norm is exact integer
    * arithmetic and ranking uses the ROUNDED sim (ties → id) in both
    * engines, so the top-5 lists are bit-stable cross-engine.
    *
    * Scale shape: centroid aggregate + class collapse as q269, then a
    * broadcast-queries × representatives ADC scan — linear in distinct
    * content with a ~|reps|/97-row broadcast side, the
    * [[Similarity.bruteForceTopK]] shape at 1/8th the scan width. */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopKOf(Tables.load(spark, dir, "embeddings"))

  /** [[pqAdcTopK]] core over any (vec_id, label, embedding) frame. */
  def pqAdcTopKOf(emb: DataFrame): DataFrame = {
    val model = labelPqModel(emb)
    val reps = emb.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"),
        gridQuantize(col("embedding")).cast("array<double>").as("qv"))
    val codes = Pq.pqEncodeFrame(reps, "vec_id", "qv", model)
    val queries = reps.filter(pmod(col("vec_id"), lit(97)) === 0)
    Pq.pqScanTopK(codes, model, queries, "vec_id", "qv", k = 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** q46 — vocabulary head by DOCUMENT frequency with idf
    * (oracle-checked): q37's twin on the df axis — tokens by how many
    * docs contain them (not total occurrences), idf = ln(N/df). */
  def idfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count()
    docs.select(explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("dfreq"))
      .select(col("token"), col("dfreq"),
        round(log(lit(n.toDouble) / col("dfreq")), 4).as("idf"))
      .orderBy(col("dfreq").desc, col("token"))
      .limit(10)
  }

  /** Deterministic train/val/test split: assigns each row to one of
    * `weights.length` folds by content hash of its id — every row lands
    * in EXACTLY one fold, and the assignment is stable across retries,
    * partition layouts, cluster sizes, and re-runs (`randomSplit` is
    * none of those: it samples per partition and double-assigns rows on
    * resampled boundaries). Pure narrow map per fold — no shuffle; the
    * folds are filters over the same scan, so writing all of them costs
    * one pass with a shared cache.
    */
  def hashSplit(
      df: DataFrame, idCol: String,
      weights: Seq[Double], salt: Long = 42L): Seq[DataFrame] = {
    require(weights.nonEmpty && weights.forall(_ > 0), "weights must be positive")
    val total = weights.sum
    val cuts = weights.scanLeft(0.0)(_ + _ / total).tail // cumulative upper bounds
    val u = pmod(xxhash64(col(idCol).cast("string"), lit(salt)), lit(1000000L))
      .cast("double") / 1000000d
    cuts.zip(0.0 +: cuts.dropRight(1)).map { case (hi, lo) =>
      // final fold takes the closed upper bound so u ∈ [0,1) always lands
      if (hi == cuts.last) df.filter(u >= lo && u < 1.0)
      else df.filter(u >= lo && u < hi)
    }
  }

  /** q51 — benchmark decontamination (oracle-checked): the corpus
    * (doc_id % 7 ≠ 0) purged of every doc sharing an 8-token n-gram
    * with the held-out "benchmark" slice (doc_id % 7 = 0); surviving
    * counts and mean length per source. The benchmark n-gram set and
    * the contaminated-id set both travel by broadcast
    * ([[Dedup.decontaminate]]) — the corpus is never shuffled.
    */
  def decontaminated(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val bench = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        round(avg(col("n_chars").cast("double")), 4).as("avg_chars"))
      .orderBy(col("source"))
  }

  /** Concat-and-chunk sequence packing — the LLM-training layout: the
    * corpus token stream is concatenated in `idCol` order and split into
    * fixed `seqLen`-token training sequences. Returns the input plus
    * `start_tok` (global offset of the doc's first token), `seq_first` /
    * `seq_last` (ids of the sequences the doc's tokens land in) and
    * `n_seqs` (how many sequences the doc spans — >1 means it crosses a
    * packing boundary).
    *
    * The global running offset is a distributed prefix sum, NOT a
    * single-partition window: rows bucket by `idCol / docsPerBucket`
    * (derived from the ID — deterministic across layouts/retries), the
    * within-bucket running sum is a window PARTITIONED by bucket
    * (parallel across buckets), and the per-bucket totals — a
    * corpus/docsPerBucket-row aggregate — prefix-sum on the driver and
    * rejoin by broadcast. At 100 TB: docsPerBucket ≈ 1e6 keeps buckets
    * task-sized and the driver step at ~100k rows (a few MB).
    *
    * The bounded-driver contract is ENFORCED, not assumed: the bucket
    * count is checked (against `maxDriverBuckets`, default 2e6 ≈
    * 200 MB of boxed driver rows) BEFORE the collect, so a caller
    * passing a tiny `docsPerBucket` at corpus scale gets a named error
    * naming the fix instead of a driver OOM. The totals aggregate is
    * persisted across the count+collect pair — both read the
    * bucket-sized cached result, not the corpus twice.
    */
  def packSequences(
      df: DataFrame, idCol: String, tokenCol: String, seqLen: Int,
      docsPerBucket: Long = 1000000L,
      maxDriverBuckets: Long = 2000000L): DataFrame = {
    require(seqLen > 0 && docsPerBucket > 0 && maxDriverBuckets > 0)
    val tok = col(tokenCol).cast("long")
    val b = df.withColumn("__b",
      floor(col(idCol).cast("long").cast("double") / docsPerBucket).cast("long"))
    val totalsDf = b.groupBy(col("__b")).agg(sum(tok).as("__bt")).persist()
    val bucketTotals =
      try {
        val nBuckets = totalsDf.count()
        require(nBuckets <= maxDriverBuckets,
          s"packSequences: $nBuckets buckets would land on the driver (cap " +
            s"$maxDriverBuckets) — raise docsPerBucket so corpus/docsPerBucket " +
            "fits the documented driver budget")
        totalsDf.collect().map { r =>
          require(!r.isNullAt(0),
            s"packSequences: null $idCol — the packing order is undefined for null ids")
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }.sortBy(_._1)
      } finally totalsDf.unpersist()
    var acc = 0L
    val offsets = bucketTotals.map { case (bid, t) => val o = (bid, acc); acc += t; o }
    val offDf = df.sparkSession.createDataFrame(
      offsets.toIndexedSeq).toDF("__b", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col(idCol))
      .rowsBetween(Long.MinValue, 0)
    b.join(broadcast(offDf), Seq("__b"))
      .withColumn("__cum", sum(tok).over(w) + col("__off"))
      .withColumn("start_tok", col("__cum") - tok)
      .withColumn("seq_first",
        floor(col("start_tok").cast("double") / seqLen).cast("long"))
      .withColumn("seq_last",
        floor((col("__cum") - 1).cast("double") / seqLen).cast("long"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + lit(1L))
      .drop("__b", "__off", "__cum")
  }

  /** No-split sequence packing (the complement of [[packSequences]]):
    * assign whole docs to fixed-capacity bins — next-fit in id order —
    * for pipelines that must never split a document across training
    * sequences (packSequences concatenates and CHUNKS; this one pads).
    * Returns the (id, bin_id, oversize, tokens) assignment — the token
    * count rides along so per-bin fill aggregates need no join back to
    * (and second scan of) the corpus.
    *
    * Semantics: docs are walked in ascending id order; a doc that no
    * longer fits closes the current bin and opens the next. A doc
    * LONGER than seqLen gets a bin of its own — alone even among
    * zero-token neighbors — and is flagged `oversize`; truncation
    * policy belongs to the caller, silent splitting would contradict
    * the operator's one promise. Utilization: consecutive non-oversize
    * bins within a bucket sum past seqLen by construction, which
    * bounds waste at roughly half PLUS whatever single outlier docs
    * strand (next-fit has NO universal >50% guarantee — token counts
    * 5, 96, 5 at seqLen 100 pack at 35%); id order is the price of
    * determinism, sort-by-length packing would need a global sort.
    *
    * Ids must be UNIQUE and non-null (checked; duplicate ids would
    * both overflow the per-bucket bin-id space and make tie order —
    * hence the assignment — depend on shuffle arrival). Null token
    * counts raise with a named error rather than dying in the encoder.
    *
    * Scale shape: bin filling is an inherently sequential recurrence
    * (the running fill resets on overflow — not prefix-sum
    * decomposable, unlike packSequences' arithmetic), so the
    * sequential scope is BOUNDED to an id-range bucket of
    * `docsPerBucket` docs and buckets pack in parallel — one keyed
    * shuffle, no driver-side state, deterministic across layouts and
    * retries because bucket membership and in-bucket order are pure
    * functions of ids. The bucket materializes as BOXED tuples
    * (~100 bytes/doc: tuple header + boxed longs), so the default
    * 2¹⁸ docs is ~26 MB per in-flight group — size `docsPerBucket`
    * against executor memory with that constant, not 16 bytes/row.
    * Bin ids are globally unique: bucket × 2·docsPerBucket + local
    * bin (the factor of two because an oversize doc closes its bin
    * behind itself, so a bucket can open up to 2n bin indices).
    */
  def packBins(
      df: DataFrame, idCol: String, tokenCol: String, seqLen: Int,
      docsPerBucket: Long = 262144L): DataFrame = {
    require(seqLen > 0 && docsPerBucket > 0)
    val spark = df.sparkSession
    import spark.implicits._
    // Guard the CASTED value, not the raw column: a non-integral id or
    // token (string/UUID — the input capPerSource tells users to hash
    // first) is non-null pre-cast but null after, and would die in the
    // tuple encoder with an unnamed NPE instead of this named raise.
    val idL = col(idCol).cast("long")
    val checkedId = when(idL.isNull,
      raise_error(lit(s"packBins: null or non-integral $idCol — the " +
        "packing order is undefined; hash non-integral ids first")))
      .otherwise(idL)
    val tokL = col(tokenCol).cast("long")
    val checkedTok = when(tokL.isNull,
      raise_error(lit(s"packBins: null or non-integral $tokenCol — a doc " +
        "without a token count cannot be packed; fill or filter upstream")))
      .otherwise(tokL)
    df.select(checkedId.as("id"), checkedTok.as("nt"))
      .withColumn("b", floor(col("id").cast("double") / docsPerBucket).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (b: Long, it: Iterator[(Long, Long, Long)]) =>
        val docs = it.toArray.sortBy(_._1)
        var i = 1
        while (i < docs.length) {
          if (docs(i)._1 == docs(i - 1)._1)
            throw new IllegalArgumentException(
              s"packBins: duplicate id ${docs(i)._1} — bin assignment is " +
                "undefined without a total id order")
          i += 1
        }
        var bin = 0L
        var fill = 0L
        var nonEmpty = false
        docs.iterator.map { case (id, nt, _) =>
          val t = math.max(nt, 0L)
          val oversize = t > seqLen
          if (nonEmpty && (oversize || fill + t > seqLen)) {
            bin += 1; fill = 0L; nonEmpty = false
          }
          val assigned = bin
          if (oversize) { bin += 1; fill = 0L; nonEmpty = false }
          else { fill += t; nonEmpty = true }
          (id, b * (2 * docsPerBucket) + assigned, oversize, nt)
        }
      }
      .toDF(idCol, "bin_id", "oversize", tokenCol)
  }

  /** q74 — no-split bin-packing stats (oracle-checked): [[packBins]]
    * at seqLen=64 / docsPerBucket=64, summarized as one row (bin
    * count, docs, token mass, oversize count, mean fill). seqLen 64
    * sits INSIDE the corpus token range (10–99), so the oversize
    * isolation path is oracle-exercised on ~40% of docs, not just
    * unit-tested. The DuckDB twin replays next-fit exactly with a
    * recursive CTE stepping rank-by-rank within each bucket — the
    * recurrence Spark bounds to a bucket is depth-64 recursion there.
    */
  def packBinsStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
    // packBins carries n_tok through, so the per-bin fill aggregates
    // straight off the assignment — no join back, no second scan
    packBins(docs, "doc_id", "n_tok", seqLen = 64, docsPerBucket = 64)
      .groupBy(col("bin_id"))
      .agg(sum(col("n_tok")).as("fill"), count(lit(1)).as("nd"),
        max(col("oversize").cast("int")).as("ov"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("nd")).cast("long").as("n_docs"),
        sum(col("fill")).cast("long").as("total_tokens"),
        sum(col("ov")).cast("long").as("n_oversize"),
        round(avg(col("fill").cast("double")), 4).as("avg_fill"))
  }

  /** q52 — sequence-packing layout stats (oracle-checked): pack the
    * corpus into 128-token sequences in doc_id order; per (source,
    * sequences-spanned) doc counts and token mass. docsPerBucket=64 so
    * the test corpus exercises the multi-bucket prefix-sum path.
    */
  def packedSeqStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
    packSequences(docs, "doc_id", "n_tok", seqLen = 128, docsPerBucket = 64)
      .groupBy(col("source"), col("n_seqs"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      .orderBy(col("source"), col("n_seqs"))
  }

  /** Mixture resampling: downsample each weighted source so the kept
    * token mass approaches the target `weights` proportions, keeping as
    * much data as possible — the budget is `min_s tokens_s / w_s` (the
    * bottleneck source keeps everything; no source is upsampled).
    * Sources absent from `weights` are dropped (weight 0).
    *
    * Sampling is by `u < round(frac_s · m)` where `u` is a caller-chosen
    * deterministic integral column in [0, m) — e.g.
    * `pmod(xxhash64(id), m)`, or a multiplicative mixer when the
    * selection must be reproducible outside Spark. Deterministic across
    * retries, layouts, and cluster sizes, unlike `sample()`.
    *
    * Scale shape: one tiny per-source aggregate (|sources| rows) to the
    * driver, thresholds return as a literal CASE chain — the corpus
    * itself is a single narrow filter pass, never shuffled. Rows with a
    * null source are dropped (null is never a weighted source).
    */
  def sourceMix(
      df: DataFrame, sourceCol: String, tokenCol: String,
      weights: Map[String, Double], u: Column,
      m: Long = 1000000L): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val weighted = df.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
    val totals = weighted.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = weights.keySet -- totals.keySet
    require(missing.isEmpty, s"no rows for weighted sources: $missing")
    val budget = totals.map { case (s, t) => t / weights(s) }.min
    val thr = weights.map { case (s, w) =>
      s -> math.round(w * budget / totals(s) * m) }
    val thrCol = thr.foldLeft(lit(-1L)) { case (acc, (s, t)) =>
      when(col(sourceCol) === s, lit(t)).otherwise(acc) }
    weighted.filter(u < thrCol)
  }

  /** q53 — source-mixture resampling stats (oracle-checked): resample
    * {src0,src1,src2,src7} toward 0.4/0.3/0.2/0.1 token shares with the
    * Knuth-mixer sampler (exact integer arithmetic DuckDB reproduces);
    * kept docs/tokens and achieved share per source.
    */
  def sourceMixStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
    val weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src7" -> 0.1)
    val u = pmod(col("doc_id") * lit(2654435761L), lit(1000000L))
    val kept = sourceMix(docs, "source", "n_tok", weights, u)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    kept.withColumn("share",
        round(col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()), 4))
      .orderBy(col("source"))
  }

  /** Deterministic epoch reshuffle: a stable pseudo-random total order
    * over the corpus keyed by `(key(id, epoch), id)` — each epoch gets a
    * different but REPRODUCIBLE order (retry/layout/cluster-size
    * invariant, unlike `orderBy(rand())`). One range shuffle
    * (`repartitionByRange` + `sortWithinPartitions`); a downstream
    * per-partition write preserves the order, so this is the "shuffle
    * once per epoch, then stream shards" layout step.
    *
    * Default key is `xxhash64(id, epoch)` — 64-bit, no id-class
    * collisions at any corpus size. [[epochShuffleMixed]] keys with the
    * pre-mod Knuth mixer instead when the order must be reproducible
    * outside Spark (exact integer arithmetic any engine can replay —
    * q54's oracle); its `id % 1000003` pre-mod folds ids ≥ 1e6 into
    * classes ordered id-ascending within a class, so prefer the hash
    * key at scale.
    */
  def epochShuffle(
      df: DataFrame, idCol: String, epoch: Int,
      partitions: Int = 0): DataFrame =
    epochShuffleBy(df, idCol, partitions,
      xxhash64(col(idCol).cast("string"), lit(epoch)))

  /** [[epochShuffle]] with the cross-engine-replayable mixer key. */
  def epochShuffleMixed(
      df: DataFrame, idCol: String, epoch: Int,
      partitions: Int = 0): DataFrame =
    epochShuffleBy(df, idCol, partitions, shuffleKey(col(idCol), epoch))

  private def epochShuffleBy(
      df: DataFrame, idCol: String, partitions: Int, key: Column): DataFrame = {
    val keyed = df.withColumn("__shuf", key)
    val parted =
      if (partitions > 0)
        keyed.repartitionByRange(partitions, col("__shuf"), col(idCol))
      else keyed.repartitionByRange(col("__shuf"), col(idCol))
    parted.sortWithinPartitions(col("__shuf"), col(idCol)).drop("__shuf")
  }

  // epoch mixes in BEFORE the multiply — the multiply-then-mod is the
  // scrambler, so a post-multiply epoch offset would only rotate the key
  // space and barely change the order; the pre-mod keeps the product far
  // from Long overflow (ANSI mode throws on overflow)
  private def shuffleKey(id: Column, epoch: Int): Column =
    pmod(pmod(id.cast("long") + lit(epoch.toLong * 10007L), lit(1000003L)) *
      lit(2654435761L), lit(1000000007L))

  /** q54 — epoch-shuffle head (oracle-checked): the first 10 docs of the
    * epoch-3 deterministic shuffle order. Top-k by the shuffle key is a
    * `TakeOrderedAndProject` (per-partition heaps, no global sort); the
    * rank window runs over the 10 surviving rows only.
    */
  def epochShuffleHead(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val top = docs
      .select(col("doc_id"), col("source"), shuffleKey(col("doc_id"), 3).as("shuf_key"))
      .orderBy(col("shuf_key"), col("doc_id")).limit(10)
    top.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("shuf_key"), col("doc_id"))))
  }

  /** Keep rows whose `valueCol` lies within the corpus's exact
    * [`lo`, `hi`] percentile band — outlier trimming for corpus
    * curation (truncated docs at the bottom, concatenation accidents at
    * the top). Exact `percentile` keeps one value→count map (map-side
    * partials merged into one buffer), so its memory is bounded by the
    * number of DISTINCT values of `valueCol`, not by rows: for a length
    * column such as `n_chars` that is at most the longest document's
    * length, whatever the corpus size. Thresholds join back via
    * broadcast — the corpus itself is never re-shuffled.
    */
  def quantileBand(df: DataFrame, valueCol: String, lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"need 0 <= lo <= hi <= 1, got [$lo, $hi]")
    val b = df.agg(
      expr(s"percentile($valueCol, $lo)").as("__lo"),
      expr(s"percentile($valueCol, $hi)").as("__hi"))
    df.crossJoin(broadcast(b))
      .filter(col(valueCol) >= col("__lo") && col(valueCol) <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** q48 — exact-percentile band filter (oracle-checked): docs with
    * n_chars inside the corpus [p10, p90], counted per source. */
  def quantileBandStats(spark: SparkSession, dir: String): DataFrame =
    quantileBand(Tables.load(spark, dir, "documents"), "n_chars", 0.10, 0.90)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        round(avg(col("n_chars").cast("double")), 4).as("avg_chars"))
      .orderBy(col("source"))

  /** q49 — within-doc repetition ratio per source (oracle-checked):
    * Gopher-style repeated-3-gram signal, docs with ≥3 tokens. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"),
        TextAnalysis.repetitionRatioOfTokens(col("toks"), 3).as("rep"))
      .groupBy(col("source"))
      .agg(round(avg(col("rep")), 6).as("avg_rep"), count(lit(1)).as("n_docs"))
      .orderBy(col("source"))

  /** q50 — composite quality filter (oracle-checked): Gopher-ish rule
    * battery — token count in [10, 1000], stopword ratio ≥ 0.05,
    * repetition ratio ≤ 0.2 — pass counts per language. One narrow map
    * over the corpus + one aggregate; each signal is a Catalyst
    * expression, so the whole filter runs scan-side at any scale.
    */
  def qualityFilterStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("lang"),
        split(col("text"), " ").as("toks"),
        split(lower(col("text")), " ").as("ltoks"))
      .filter(size(col("toks")) >= 3)
    val n = size(col("toks"))
    val stopHits = size(filter(col("ltoks"), t => t.isin(oracleStopwords: _*)))
    val rep = lit(1.0) -
      size(array_distinct(graft.GraftFunctions.wordNgrams(col("toks"), 3))).cast("double") /
        greatest(n - 2, lit(1))
    val pass = n.between(10, 1000) &&
      (stopHits.cast("double") / n >= 0.05) && (rep <= 0.2)
    base.select(col("lang"), pass.as("pass"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pass"), 1)).as("n_pass"),
        round(count(when(col("pass"), 1)).cast("double") / count(lit(1)), 4)
          .as("pass_rate"))
      .orderBy(col("lang"))
  }

  /** Deterministic Bernoulli sample by id: keep a row iff the mixed id
    * lands under `fraction` of the 10⁶-bucket key space. Unlike
    * `sample()`, the kept set is a pure function of ids — identical
    * across retries, layouts, and cluster sizes, and reproducible
    * outside Spark (plain integer arithmetic — q58's oracle re-runs it
    * in SQL). One narrow filter; never shuffles.
    *
    * The mix combines the id's LOW residue (`id mod 1000003`) with its
    * HIGH bits (`id >> 16`): ids in the same residue class differ by
    * ≥ 1000003 > 2¹⁶, so their high-bits term always differs — no two
    * distinct long ids share a fate by construction of one term alone
    * (a single small-modulus mix would tie every id ≡ mod 1000003
    * together, skewing any source whose ids cluster in residue
    * classes). All intermediates stay < 2⁶³ (ANSI-safe); ids must be
    * NON-NEGATIVE (Spark's pmod and SQL's % disagree on negatives) and
    * non-null — a null id raises rather than silently vanishing from
    * the sample. For string/arbitrary ids use [[stratifiedSample]]'s
    * xxhash64 keying instead.
    */
  def bernoulliSample(df: DataFrame, idCol: String, fraction: Double,
      salt: Long = 0L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1]: $fraction")
    val id = col(idCol).cast("long")
    // negatives raise like nulls: Spark pmod vs SQL % and shiftright on
    // negatives silently diverge from the oracle instead of erroring
    val checked = when(id.isNull || id < 0,
      raise_error(lit(s"bernoulliSample: null, negative or non-integral $idCol — " +
        "the kept set must be a pure function of NON-NEGATIVE ids"))).otherwise(id)
    df.filter(pmod(mixedKey(checked, salt), lit(1000000L))
      < lit(math.round(fraction * 1000000)))
  }

  /** The two-term id mixer shared by [[bernoulliSample]] and
    * [[capPerSource]]: LOW residue (`id mod 1000003`) plus HIGH bits
    * (`id >> 16`) — ids in the same residue class differ by ≥ 1000003 >
    * 2¹⁶, so their high-bits term always differs and no residue class
    * ever ties as a block. All intermediates stay < 2⁶³ (ANSI-safe);
    * caller guarantees non-negative non-null ids. Oracles replay it
    * verbatim in SQL (q58, q66).
    */
  private[ops] def mixedKey(id: Column, salt: Long): Column = {
    val inner = pmod(
      pmod(id, lit(1000003L)) * lit(2654435761L) +
        shiftright(id, 16) * lit(7919L) + lit(salt * 10007L),
      lit(1000000007L))
    pmod(inner * lit(2654435761L), lit(1000000007L))
  }

  /** q57 — RAG-style chunking stats (oracle-checked): 64-token chunks
    * with 16-token overlap ([[TextAnalysis.chunkTokens]]); per-source
    * chunk count, chunk-token mass, and full-chunk count. */
  def chunkStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(
        Tables.load(spark, dir, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16)
      .select(col("source"), size(col("chunk")).as("ct"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("ct")).cast("long").as("chunk_tokens"),
        count(when(col("ct") === 64, 1)).as("full_chunks"))
      .orderBy(col("source"))

  /** q58 — deterministic 10% Bernoulli sample (oracle-checked): kept
    * doc/token mass per source under [[bernoulliSample]] (salt 7). The
    * oracle replays the integer mixer verbatim — the proof the sample
    * is engine-independent. */
  def sampleStats(spark: SparkSession, dir: String): DataFrame =
    bernoulliSample(Tables.load(spark, dir, "documents"), "doc_id", 0.10, salt = 7L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
      .orderBy(col("source"))

  /** Deterministic weighted sample without replacement: priority
    * sampling (Duffield–Lund–Thorup). Classic A-ES takes the k items
    * with the largest u^(1/w); the equivalent bottom-k formulation
    * keeps the k SMALLEST priorities u/w, which this operator computes
    * in fixed point — `((u+1) · 10⁶) div w` with u the id's
    * [[mixedKey]] residue in [0, 10⁶) — so selection is pure integer
    * arithmetic: identical across engines, retries, layouts, and
    * cluster sizes, and replayable by the oracle in SQL (q77). Larger
    * weights ⇒ smaller priorities ⇒ more likely selected; ties break
    * by id.
    *
    * One narrow projection + a global top-k (TakeOrdered — per-partition
    * heaps of size k, never a full sort). Ids must be non-negative
    * non-null (same contract and failure mode as [[bernoulliSample]]);
    * weights must be positive — zero/negative/null weights raise rather
    * than silently biasing the sample.
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: Long = 0L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val id = col(idCol).cast("long")
    val checkedId = when(id.isNull || id < 0,
      raise_error(lit(s"prioritySample: null, negative or non-integral $idCol — " +
        "selection must be a pure function of NON-NEGATIVE ids"))).otherwise(id)
    val w = col(weightCol).cast("long")
    val checkedW = when(w.isNull || w <= 0,
      raise_error(lit(s"prioritySample: null, non-positive or non-integral $weightCol — " +
        "priority u/w needs a positive integer weight"))).otherwise(w)
    val u = pmod(mixedKey(checkedId, salt), lit(1000000L))
    df.withColumn("_u1", (u + lit(1L)) * lit(1000000L))
      .withColumn("_w", checkedW)
      .withColumn("priority", expr("_u1 div _w"))
      .drop("_u1", "_w")
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** q59 — distribution moments per source (oracle-checked): mean,
    * population variance, and skewness of `n_chars`, all derived from
    * EXACT integer power sums (Σx, Σx², Σx³ stay in long — no
    * floating-point accumulation order to disagree about), with the
    * x^1.5 written as x·√x (sqrt is IEEE-exact; pow is not). At larger
    * magnitudes than chars-per-doc, switch the power sums to decimal or
    * use Spark's `skewness`/`var_pop` (single-pass, merge-safe — but
    * implementation-defined rounding vs an external oracle).
    */
  def momentStats(spark: SparkSession, dir: String): DataFrame = {
    val x = col("n_chars").cast("long")
    val m = Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(x).as("s1"),
        sum(x * x).as("s2"), sum(x * x * x).as("s3"))
      .select(col("source"), col("n"),
        (col("s1").cast("double") / col("n")).as("m1"),
        (col("s2").cast("double") / col("n")).as("m2"),
        (col("s3").cast("double") / col("n")).as("m3"))
    val v = col("m2") - col("m1") * col("m1")
    m.select(col("source"), col("n"),
        round(col("m1"), 6).as("mean"),
        round(v, 6).as("pvar"),
        round(when(v > 0,
          (col("m3") - lit(3) * col("m1") * col("m2") +
            lit(2) * col("m1") * col("m1") * col("m1")) / (v * sqrt(v))), 6).as("skew"))
      .orderBy(col("source"))
  }

  /** Per-source document cap — the "domain cap" heuristic (no single
    * domain/source may dominate the mixture): keep at most `cap` rows
    * per source, selected DETERMINISTICALLY by the epoch-shuffle mixer
    * over ids (so the kept subset is a uniform, layout/retry-stable
    * sample of the source, not "whatever sorted first" — and the oracle
    * can replay it). One shuffle on the source key + a per-partition
    * rank. At 100 TB a handful of mega-sources make that shuffle skewed:
    * either pre-filter those sources with [[bernoulliSample]] at
    * ≈cap/count first (one tiny count aggregate), or accept the hot
    * partitions — the window itself never materializes a source in
    * memory (it streams sorted runs).
    */
  def capPerSource(df: DataFrame, srcCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    // ids must be castable-to-long, non-null AND unique for the kept
    // set to be deterministic (ties on a duplicated id break
    // arbitrarily across layouts); the guard checks the CASTED value —
    // a string/UUID id casts to null without error, and null sort keys
    // sort FIRST in Spark, so they would silently fill the cap
    // order by the TWO-term mixer, not the single-modulus shuffleKey:
    // with only `id mod 1000003` every id in a residue class ties on
    // the key, so for sources past ~10⁶ docs the doc_id tiebreak would
    // bias the kept set toward low ids — the exact residue-class skew
    // bernoulliSample's doc warns about
    // negatives raise like nulls: mixedKey requires non-negative ids
    // (Spark pmod/shiftright vs SQL %/>> diverge on negatives — same
    // contract as bernoulliSample)
    val idL = col(idCol).cast("long")
    val checkedKey = when(idL.isNull || idL < 0,
      raise_error(lit(s"capPerSource: null, negative or non-integral $idCol — " +
        "the capped subset is undefined without a total order over " +
        "NON-NEGATIVE ids; hash string ids to long first"))).otherwise(mixedKey(idL, 0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol))
      .orderBy(checkedKey, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= cap)
      .drop("__rk")
  }

  /** q66 — domain-cap stats (oracle-checked): cap each source at 40
    * docs, report surviving doc/token mass per source. Sources above
    * the cap land exactly AT it; smaller sources pass through whole. */
  def sourceCapStats(spark: SparkSession, dir: String): DataFrame =
    capPerSource(Tables.load(spark, dir, "documents"), "source", "doc_id", cap = 40)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
      .orderBy(col("source"))

  /** q68 — contamination report (oracle-checked): per benchmark item
    * (the doc_id%7 slice, as in q51), how many distinct corpus docs
    * share an 8-gram with it — the triage view run BEFORE q51's purge.
    */
  def contaminationReportStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text", n = 8)
      .orderBy(col("n_docs").desc, col("bench_id"))
      .limit(20)
  }

  /** q69 — unigram negative-log-likelihood quality score
    * (oracle-checked): the deterministic stand-in for LM-perplexity
    * filtering — score each doc by the mean −ln p(token) under the
    * corpus's own unigram distribution, aggregate per source. Two
    * aggregates + one BROADCAST vocabulary join (the frequency table is
    * vocab-sized); at 100 TB vocabularies, swap the exact table for the
    * count-min twin ([[TextAnalysis.approxTokenCounts]]) or let the
    * join shuffle. High NLL = rare-token-heavy docs (gibberish,
    * boilerplate-free noise) — the usual filter tail.
    */
  def unigramNllStats(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("t"))
    val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("n"))
    tok.join(broadcast(freq), Seq("t"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"), col("source"))
      .agg(avg(-log(col("c").cast("double") / col("n"))).as("nll"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("nll")), 4).as("avg_nll"))
      .orderBy(col("source"))
  }

  /** q73 — PII scrub + normalization battery (oracle-checked): every
    * third doc gets a synthetic email + long digit run CONCATENATED in
    * the query itself, so the scrub regexes are exercised on real
    * matches in both engines regardless of corpus content (the corpus
    * carries no PII, and an all-zeros redaction count would verify
    * nothing). Reports per source: docs, redacted-doc count (exactly
    * the injected third), post-scrub length mass, and post-normalize
    * length mass. DuckDB twin needs the 'g' flag — its regexp_replace
    * is first-match-only by default where Spark's replaces all.
    */
  def scrubNormalizeStats(spark: SparkSession, dir: String): DataFrame = {
    // r12 collapse-first (guide §2.3, the q75 recipe): scrub and
    // normalize are pure functions of the INJECTED string, and the
    // injection depends only on (text, doc_id % 3 == 0) — so the regex
    // battery (the whole cost of this query) runs once per distinct
    // (source, text, injected?) class, and every count / length mass
    // re-weights by the class multiplicity — exact integer identities.
    // At twin factor f the regex mass drops ~f/2× (each distinct text
    // scrubs at most twice: raw and injected); per-row work otherwise
    // unchanged.
    val cls = Tables.load(spark, dir, "documents")
      .groupBy(col("source"), col("text"),
        (pmod(col("doc_id"), lit(3)) === 0).as("__inj"))
      .agg(count(lit(1)).as("__m"))
    val s0 = when(col("__inj"),
        concat(col("text"),
          lit(" reach me: john.doe+spam@mail.example.org or 12345678901")))
      .otherwise(col("text"))
    cls.select(col("source"), col("__m"), s0.as("s0"))
      .select(col("source"), col("__m"), col("s0"),
        TextAnalysis.scrub(col("s0")).as("s1"))
      .groupBy(col("source"))
      .agg(
        sum(col("__m")).as("n_docs"),
        sum(when(col("s1") =!= col("s0"), col("__m")).otherwise(lit(0L)))
          .as("n_redacted"),
        sum(col("__m") * length(col("s1"))).cast("long").as("scrubbed_len"),
        sum(col("__m") * length(TextAnalysis.normalize(col("s1"))))
          .cast("long").as("normalized_len"))
      .orderBy(col("source"))
  }

  /** q75 — corpus boilerplate n-gram coverage per source
    * (oracle-checked): [[Boilerplate.coverage]]'s semantics with
    * 3-grams at document frequency ≥ 3; per-source doc count, n-gram
    * position mass, boilerplate-position mass, mean per-doc coverage,
    * and the count of docs more than ⅓ covered (the docs a scrub pass
    * would rewrite hardest). The heavy-doc compare is integer
    * (`hits·3 > positions`) — no float boundary.
    *
    * COLLAPSE-FIRST (r11, the q227/q42 recipe): every per-doc quantity
    * here is a pure function of (source, text), so the n-gram explodes
    * — the whole cost of this query — run once per exact-duplicate
    * class, not once per twin. Document frequency is recovered exactly
    * as Σ multiplicity over classes containing the n-gram (df counts
    * distinct DOCS, and twins each count), per-source masses as
    * m-weighted sums, avg_cov as the m-weighted mean of the per-class
    * ratio (same addend multiset as the doc-grain avg), heavy_docs as
    * Σ m over heavy classes. Docs with < n tokens keep their coverage
    * exclusion at the class grain. The class frame is persisted: the
    * df build and the position scan are ASYMMETRIC consumers of the
    * class aggregate (the q264/q265 lesson — exchange reuse does not
    * cover them), and it is distinct-content-sized. 100× (twin factor
    * 100): the explode mass drops by the duplication factor — the
    * heaviest remaining linear-tail row in SCALE100_r10 (43.6 s,
    * ratio 8.34) re-measured in SCALE100_r11.
    */
  def boilerplateStats(spark: SparkSession, dir: String): DataFrame = {
    val cls = graft.CacheScope.keep(Tables.load(spark, dir, "documents")
      .groupBy(col("source"), col("text"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("__m")))
    val bp = cls
      .select(col("__m"),
        explode(array_distinct(Boilerplate.ngrams(col("text"), 3))).as("ngram"))
      .groupBy(col("ngram")).agg(sum(col("__m")).as("df"))
      .filter(col("df") >= 3)
      .select(col("ngram"), lit(1).as("_isbp"))
    val perClass = cls
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("rep_id"), col("source"), col("__m"),
        explode(Boilerplate.ngrams(col("text"), 3)).as("ngram"))
      .join(bp, Seq("ngram"), "left")
      .groupBy(col("rep_id"), col("source"), col("__m"))
      .agg(count(lit(1)).as("positions"), count(col("_isbp")).as("bp_positions"))
    perClass
      .groupBy(col("source"))
      .agg(sum(col("__m")).as("n_docs"),
        sum(col("__m") * col("positions")).cast("long").as("positions"),
        sum(col("__m") * col("bp_positions")).cast("long").as("bp_positions"),
        round((sum(col("__m") * (col("bp_positions").cast("double") /
            col("positions").cast("double"))) /
          sum(col("__m"))).as("avg_cov0"), 6).as("avg_cov"),
        sum(when(col("bp_positions") * 3 > col("positions"), col("__m"))
          .otherwise(lit(0L))).as("heavy_docs"))
      .orderBy(col("source"))
  }

  /** q76 — count-min heavy hitters (oracle-checked): tokens above
    * 3.35 % of total token mass with the CMS estimate's deterministic
    * over-estimate and ε = e/width bound emitted as booleans (q31's
    * reshape — the oracle recomputes the exact counts and emits the
    * literal trues the sketch's guarantees pin).
    */
  def heavyHittersStats(spark: SparkSession, dir: String): DataFrame =
    Sketches.heavyHitters(Tables.load(spark, dir, "documents"), "text",
      phiNum = 335, phiDen = 10000, depth = 4, width = 1024, seed = 42L)

  /** q77 — deterministic weighted sample (oracle-checked):
    * [[prioritySample]] of 25 documents weighted by `n_chars`
    * (salt 11). The oracle replays the fixed-point priority
    * `((u+1)·10⁶) div n_chars` verbatim in SQL — the proof the
    * weighted selection is engine-independent.
    */
  def weightedSampleHead(spark: SparkSession, dir: String): DataFrame =
    prioritySample(
        Tables.load(spark, dir, "documents").select("doc_id", "source", "n_chars"),
        "doc_id", "n_chars", k = 25, salt = 11L)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("priority").as("pkey"))

  /** q78 — rank-bounded median per event type (oracle-checked):
    * [[Sketches.quantileBound]] at p = 0.5, accuracy 100 — the
    * mergeable percentile sketch verified within n/100 ranks of the
    * exact median, which the oracle recomputes with `quantile_cont`.
    */
  def quantileSketchStats(spark: SparkSession, dir: String): DataFrame =
    Sketches.quantileBound(Tables.load(spark, dir, "events"),
      "value", "event_type", p = 0.5, accuracy = 100)

  /** q79 — SCD Type-2 build (oracle-checked): [[Temporal.scd2]] over
    * the events stream tracking each user's event_type transitions;
    * per attribute value: version count, open (current) count, total
    * closed-version duration in whole seconds (integer µs arithmetic —
    * no float accumulation), and the deepest version number reached.
    */
  def scd2Stats(spark: SparkSession, dir: String): DataFrame =
    Temporal.scd2(Tables.load(spark, dir, "events"),
        "user_id", "ts", Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_versions"),
        count(when(col("is_current"), 1)).as("n_current"),
        sum(when(!col("is_current"),
          expr("(unix_micros(valid_to) - unix_micros(valid_from)) div 1000000")))
          .cast("long").as("closed_seconds"),
        max(col("version")).as("max_version"))
      .orderBy(col("event_type"))

  /** q80 — ordered funnel (oracle-checked): signup → view → click →
    * purchase over the events stream via [[Temporal.funnelSteps]]'s
    * single-shuffle greedy scan. The oracle replays the equivalent
    * relational min-chain (first step-i match strictly after the
    * step-(i−1) match); counts are integers and the conversion ratio
    * is one exact long-to-double division per row.
    */
  def funnelStats(spark: SparkSession, dir: String): DataFrame =
    Temporal.funnelSteps(Tables.load(spark, dir, "events"),
      "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase"))

  /** q148 — windowed funnel (oracle-checked): the q80 chain under a
    * 24-hour first-touch conversion window via
    * [[Temporal.windowedFunnelSteps]] — each step must land strictly
    * after the previous match AND within 24 h of the user's first
    * signup. The oracle replays the anchored min-chain with the same
    * interval bound carried from t1.
    */
  def windowFunnelStats(spark: SparkSession, dir: String): DataFrame =
    Temporal.windowedFunnelSteps(Tables.load(spark, dir, "events"),
      "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase"), 24L * 3600)

  /** q149 — duplicate-cluster size spectrum: documents grouped into
    * exact-content clusters (keyed by md5(text) — identical hex in
    * both engines, and a narrow 32-char shuffle key instead of the
    * full text at 100 TB), then the histogram of cluster sizes:
    * how many clusters have exactly k members and what share of the
    * corpus sits in them. The one-table readout that says "38% of the
    * corpus is exact-duplicate mass in clusters of 100+" before any
    * dedup policy is chosen. Two aggregate passes + one ≤|sizes|-row
    * total attach; no joins. */
  def dupSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val spectrum = Tables.load(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("__h"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
    val tot = spectrum.agg(sum(col("n_docs")).as("__t"))
    spectrum.crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs") / col("__t").cast("double"), 6).as("doc_share"))
      .coalesce(1).orderBy(col("cluster_size"))
  }

  /** q152 — nearest-centroid label audit over the embeddings table:
    * quantize each vector to an exact integer grid (round(x·10⁶) —
    * float32→double is exact, so both engines derive identical
    * integers), build per-label centroid SUMS on that grid (order-free
    * integer aggregation — never a float accumulation, whose ordering
    * differs across engines), then classify every vector to its
    * nearest centroid by cosine and report per label: n, how many
    * vectors have their OWN label nearest (accuracy), and the min/max
    * cosine to the own centroid. Cosines are single closed-form
    * doubles from integer sums (dot ≤ 64·3.2e5·|S| stays in long
    * through a 1000× scale-up; centroid norms are decimal(38,0));
    * argmax ties break on label asc — deterministic engine-to-engine.
    *
    * Scale shape: one posexplode shuffle for centroids (|labels|·dim
    * rows out), then a broadcast of the |labels|-row centroid table
    * against the vectors — per-vector work O(|labels|·dim), NEVER
    * vector×vector. The labeled-corpus sanity gate run before
    * training a classifier head. */
  def centroidAudit(spark: SparkSession, dir: String): DataFrame =
    centroidAuditOf(Tables.load(spark, dir, "embeddings"))

  /** [[centroidAudit]] core over any (vec_id, label, embedding) frame
    * — embedding an array of float/double. */
  def centroidAuditOf(embeddings: DataFrame): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("__q"))
    val vecs = emb.withColumn("__n2v",
      aggregate(col("__q"), lit(0L), (a, x) => a + x * x))
    val cent = emb
      .select(col("label").as("__cl"), posexplode(col("__q")))
      .groupBy(col("__cl"), col("pos"))
      .agg(sum(col("col")).as("__s"))
      .groupBy(col("__cl"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("__s")))),
        st => st.getField("__s")).as("__c"))
      .withColumn("__n2c",
        aggregate(col("__c"), lit(0L).cast("decimal(38,0)"),
          (a, x) => a + x.cast("decimal(38,0)") * x.cast("decimal(38,0)")))
    val scored = vecs.crossJoin(broadcast(cent))
      .withColumn("__dot",
        aggregate(zip_with(col("__q"), col("__c"), (a, b) => a * b),
          lit(0L), (a, x) => a + x))
      .withColumn("__cos",
        col("__dot").cast("double") /
          nullif(sqrt(col("__n2v").cast("double")) *
            sqrt(col("__n2c").cast("double")), lit(0.0)))
    val per = scored.groupBy(col("vec_id"), col("label"))
      .agg(max_by(col("__cl"), struct(col("__cos"), -col("__cl")))
          .as("__pred"),
        max(when(col("__cl") === col("label"), col("__cos"))).as("__own"))
    per.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"),
        min(col("__own")).as("__mn"), max(col("__own")).as("__mx"))
      .select(col("label"), col("n"), col("n_correct"),
        round(col("n_correct") / col("n").cast("double"), 6).as("accuracy"),
        round(col("__mn"), 6).as("min_own_cos"),
        round(col("__mx"), 6).as("max_own_cos"))
      .coalesce(1).orderBy(col("label"))
  }

  /** q153 — BM25 retrieval scoring (Lucene form): top-20 documents for
    * a fixed conjunctive query over the corpus, scored
    * Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·len/avglen)) with k1 = 1.2,
    * b = 0.75, idf = ln((N−df+0.5)/(df+0.5)+1) — the saturation
    * upgrade over q101's raw TF-IDF that stops a 50-mention doc from
    * drowning length-normalized relevance. All inputs (tf, df, len,
    * N, Σlen) are exact integers; each per-term score is one
    * closed-form double, and the per-doc total adds the ≤|Q| term
    * scores in a FIXED literal order (conditional-aggregation pivot,
    * never an arbitrary-order float sum), so both engines rank
    * identically. Ranking sorts the ROUNDED score with doc_id
    * tiebreak.
    *
    * Scale shape: one filtered explode→(doc,term) aggregate (map-side
    * combine), a |Q|-row df broadcast, a single-row corpus-stats
    * broadcast, and a global top-k (TakeOrdered — per-partition heaps,
    * never a full sort). */
  def bm25Query(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("hash", "join", "filter", "scan")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("__toks"))
      .withColumn("__len", size(col("__toks")))
    val stats = docs.agg(count(lit(1)).as("__n"),
      sum(col("__len")).cast("long").as("__sl"))
    val tf = docs
      .select(col("doc_id"), col("__len"), explode(col("__toks")).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col("doc_id"), col("__len"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dfs = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val avg = col("__sl").cast("double") / col("__n").cast("double")
    val idf = log((col("__n") - col("__df") + lit(0.5)) /
      (col("__df") + lit(0.5)) + lit(1.0))
    val sco = idf * (col("__tf") * lit(2.2)) /
      (col("__tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("__len") / avg)))
    val scored = tf.join(broadcast(dfs), "__t")
      .crossJoin(broadcast(stats))
      .withColumn("__s", sco)
    val termCols = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("__t") === t, col("__s"))).as(s"__c$i")
    }
    val per = scored.groupBy(col("doc_id"))
      .agg(termCols.head, termCols.tail: _*)
    val total = terms.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    per.select(col("doc_id"), round(total, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
  }

  /** q156 — adjacent-bigram collocations by PMI: for every adjacent
    * token pair with support ≥ 20, pmi = ln(p(ab)/(p(a)·p(b))) with
    * p(ab) = c_ab/N_bi and p(a) = c_a/N_uni — the classic collocation
    * extractor ("hash join" scores high because the pair co-occurs far
    * above its unigram rates). The text-adjacency twin of q138's
    * event-basket PMI. All counts exact integers; pmi is ONE ln over a
    * fixed-order double ratio; ranking on the rounded score with the
    * bigram as tiebreak. Scale: bounded explodes (per-doc fan-out =
    * token count), two vocab-keyed count aggregates with map-side
    * combine, a token-keyed join for the unigram attach (vocab scales
    * past broadcast), two single-row total broadcasts, TakeOrdered. */
  def collocationsQuery(spark: SparkSession, dir: String): DataFrame = {
    // r12 collapse-first (guide §2.3): token and adjacent-bigram counts
    // are pure functions of the text, so both explodes run once per
    // DISTINCT text and every count re-weights by the exact-class
    // multiplicity ([[graft.text.Dedup.exactClassAgg]]) — count(1)
    // becomes sum(__m), an exact integer identity (each of the m twins
    // contributes the identical token/bigram stream). No doc grain is
    // needed anywhere downstream, so there is no expansion join at all;
    // the explode mass drops by the corpus duplication factor.
    val toks = graft.text.Dedup.exactClassAgg(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id").as("__did"), col("text").as("__txt")),
        "__did", "__txt")
      .select(col("__m"), split(lower(col("__txt")), " ").as("__toks"))
    val uni = toks.select(col("__m"), explode(col("__toks")).as("__t"))
      .groupBy(col("__t")).agg(sum(col("__m")).as("__c"))
    val nuni = uni.agg(sum(col("__c")).as("__nu"))
    val bi = toks.filter(size(col("__toks")) >= 2)
      .select(col("__m"),
        explode(graft.GraftFunctions.tokenBigrams(col("__toks"))).as("__bg"))
      .select(col("__m"), col("__bg.a").as("token_a"), col("__bg.b").as("token_b"))
      .groupBy(col("token_a"), col("token_b"))
      .agg(sum(col("__m")).as("c_ab"))
    val nbi = bi.agg(sum(col("c_ab")).as("__nb"))
    bi.filter(col("c_ab") >= 20)
      .join(uni.select(col("__t").as("token_a"), col("__c").as("__ca")),
        Seq("token_a"))
      .join(uni.select(col("__t").as("token_b"), col("__c").as("__cb")),
        Seq("token_b"))
      .crossJoin(broadcast(nuni)).crossJoin(broadcast(nbi))
      .select(col("token_a"), col("token_b"), col("c_ab"),
        round(log((col("c_ab").cast("double") * col("__nu") * col("__nu")) /
          (col("__nb").cast("double") * col("__ca") * col("__cb"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("token_a"), col("token_b")).limit(20)
  }

  /** q215 — bigram conditional entropy per source: H(next | prev) =
    * Σ (c_ab/N)·ln(c_a•/c_ab) over adjacent token bigrams, where c_a•
    * is the PREFIX total Σ_b c_ab (not the raw unigram count — prefix
    * totals make the conditional distributions normalize exactly),
    * plus the perplexity e^H — the "how predictable is this source's
    * text" readout that separates template/boilerplate feeds (low H)
    * from organic prose, one level deeper than q139's unigram TTR.
    * Counts are exact integers; each term is one ln of an integer
    * ratio; the per-source term sum is a float aggregate rounded to
    * 4 dp (the q183 convention). Plan: one (source, a, b) aggregate
    * with map-side combine, prefix totals via a window on the SAME
    * grouping (no second shuffle), |sources| rows out.
    */
  def condEntropyQuery(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables.load(spark, dir, "documents")
      .select(col("source"), split(lower(col("text")), " ").as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col("source"),
        explode(graft.GraftFunctions.tokenBigrams(col("__toks"))).as("__bg"))
      .groupBy(col("source"), col("__bg.a").as("a"), col("__bg.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    val wA = Window.partitionBy(col("source"), col("a"))
    bi.withColumn("__ca", sum(col("c_ab")).over(wA))
      .groupBy(col("source"))
      .agg(sum(col("c_ab")).as("n_bigrams"),
        countDistinct(col("a")).as("n_prefixes"),
        sum(col("c_ab") *
          log(col("__ca").cast("double") / col("c_ab"))).as("__h"))
      .select(col("source"), col("n_bigrams"), col("n_prefixes"),
        round(col("__h") / col("n_bigrams"), 4).as("cond_entropy"),
        round(exp(col("__h") / col("n_bigrams")), 4).as("perplexity"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q217 — Burrows' delta stylometry: pairwise style distance
    * between sources over the corpus top-50 words' RELATIVE
    * frequencies, z-scored per word across sources (a source missing
    * a word participates at frequency 0 — the dense sources×words
    * grid, bounded at |sources|·50). delta(a,b) = mean_w |z_aw−z_bw|,
    * the standard authorship-attribution distance: low delta = same
    * template/author family, the cross-source twin of q139's
    * within-source diversity. Counts exact; the per-word mean/σ and
    * the 50-term delta average are bounded float folds rounded to
    * 4 dp (the q183 convention). Plan: one (source, token) aggregate,
    * a 50-row broadcast vocabulary, windows over the ≤|sources|·50
    * grid, C(|sources|,2) rows out.
    */
  def burrowsDeltaQuery(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("t"))
    val freq = toks.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("f"))
    val totals = freq.groupBy(col("source")).agg(sum(col("f")).as("n"))
    val top = freq.groupBy(col("t")).agg(sum(col("f")).as("cf"))
      .orderBy(col("cf").desc, col("t")).limit(50).select(col("t"))
    // dense grid: every (source, top word) cell, absent words at f=0
    val grid = totals.crossJoin(broadcast(top))
      .join(freq, Seq("source", "t"), "left")
      .select(col("source"), col("t"),
        (coalesce(col("f"), lit(0L)).cast("double") / col("n")).as("r"))
    val wW = Window.partitionBy(col("t"))
    val z = grid
      .withColumn("__k", count(lit(1)).over(wW))
      .withColumn("__m", sum(col("r")).over(wW))
      .withColumn("__q", sum(col("r") * col("r")).over(wW))
      .withColumn("__sd", sqrt(col("__q") / col("__k") -
        (col("__m") / col("__k")) * (col("__m") / col("__k"))))
      .filter(col("__sd") > 0)
      .select(col("source"), col("t"),
        ((col("r") - col("__m") / col("__k")) / col("__sd")).as("z"))
    z.as("a").join(z.as("b"),
        col("a.t") === col("b.t") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_words"),
        round(avg(abs(col("a.z") - col("b.z"))), 4).as("delta"))
      .coalesce(1).orderBy(col("source_a"), col("source_b"))
  }

  /** q221 — feature-hashing collision audit per source: tokens hashed
    * into a 16⁴ = 65536-bucket space (bucket label = the first four
    * hex chars of md5(token) — md5 renders identically in any engine,
    * so the "hash function" itself is portable with no integer
    * conversion at all), reporting distinct tokens vs occupied
    * buckets, the collision rate 1 − buckets/tokens, and the heaviest
    * bucket's type count. The audit run before shipping a
    * hashing-trick featurizer: how much vocabulary collapses at this
    * width. All exact integer counts, one division.
    */
  def featureHashAudit(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("t"))
      .distinct()
      .withColumn("bucket", substring(md5(col("t")), 1, 4))
    val perBucket = tok.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("__types"))
    perBucket.groupBy(col("source"))
      .agg(sum(col("__types")).as("n_tokens"),
        count(lit(1)).as("n_buckets"),
        max(col("__types")).as("max_bucket_types"))
      .select(col("source"), col("n_tokens"), col("n_buckets"),
        col("max_bucket_types"),
        round(lit(1.0) - col("n_buckets").cast("double") / col("n_tokens"), 6)
          .as("collision_rate"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q227 — canonical selection under normalized dedup: documents
    * clustered by md5 of their NORMALIZED text (q73's rule — case,
    * punctuation and whitespace variants collapse), then each cluster
    * keeps its single best raw member — longest raw text, doc_id
    * tiebreak — the "keep the most complete variant" rule real
    * curation uses where q12's keep-min keeps an arbitrary one.
    * Scorecard per source: docs, kept, dropped, and the EXACT char
    * mass each side carries, with the cross-source subtlety that a
    * cluster's keeper may live in a different source than its drops
    * (kept + dropped = docs per source by construction — the keeper
    * decision is global, the attribution is per-doc).
    *
    * Round-11: COLLAPSE-FIRST (the q42 recipe — it carried the highest
    * surviving fresh-JVM 100× ratio, 8.8×, because the old form ran
    * the normalize regex cascade over the FULL raw text of every exact
    * twin). Now the regex runs once per DISTINCT text: exact-text
    * groups form first, (group, source) carries the doc counts / char
    * masses / per-source keeper candidate, and the cluster grain —
    * md5(normalize(text)) over one representative — is
    * distinct-content-sized. The window keeper rule is preserved
    * without assuming n_chars is text-functional: the per-(text,
    * source) candidate is min(struct(−n_chars, doc_id)), the cluster
    * keeper is the min of those structs (doc_id is unique, so the
    * source rides along unambiguously), exactly the row the raw form's
    * row_number-over-(n_chars desc, doc_id) ranks first. Value
    * identity vs the raw form is pinned in CollapseEquivalenceSpec;
    * the unchanged oracle hash re-proves it per run.
    */
  def canonicalKeepBest(spark: SparkSession, dir: String): DataFrame =
    canonicalKeepBestOf(Tables.load(spark, dir, "documents"))

  /** [[canonicalKeepBest]] core over any (doc_id, source, n_chars,
    * text) frame — exposed so CollapseEquivalenceSpec can pin it
    * against the raw doc-grain window formulation on a planted-twins
    * corpus (including twins whose n_chars DIFFER, the case where a
    * "representatives share everything" shortcut would break). */
  def canonicalKeepBestOf(docs: DataFrame): DataFrame = {
    // (text, source) grain: counts, char mass, best-member candidate.
    // Map-side partial agg already folds same-partition twins, so the
    // text-keyed shuffle ships distinct (text, source) rows.
    val bySrc = docs
      .groupBy(col("text"), col("source"))
      .agg(count(lit(1)).as("__cnt"),
        sum(col("n_chars")).cast("long").as("__chars"),
        min(struct((-col("n_chars")).as("negq"), col("doc_id").as("kid")))
          .as("__cand"))
    // text grain: ONE normalize+md5 per distinct text; keeper candidate
    // = min over sources (kid unique ⇒ trailing source is untouched by
    // the struct ordering, it just rides along for attribution)
    val cls = bySrc.groupBy(col("text"))
      .agg(min(struct(col("__cand.negq").as("negq"),
        col("__cand.kid").as("kid"), col("source").as("ksrc")))
        .as("__keep"))
      .select(md5(TextAnalysis.normalize(col("text"))).as("__ck"),
        col("__keep"))
    // cluster grain (32-char keys, distinct-content row count): the
    // global keeper per normalized cluster, attributed to its source
    val keepers = cls.groupBy(col("__ck"))
      .agg(min(col("__keep")).as("__k"))
      .select(col("__k.ksrc").as("source"),
        (-col("__k.negq")).cast("long").as("__kchars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("__n_kept"), sum(col("__kchars")).as("__kept_chars"))
    val totals = bySrc.groupBy(col("source"))
      .agg(sum(col("__cnt")).as("n_docs"), sum(col("__chars")).as("__tot"))
    // a source whose every doc loses to another source's keeper has no
    // keepers row — left join + coalesce keeps its scorecard exact
    totals.join(keepers, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("__n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("__kept_chars"), lit(0L)).as("kept_chars"),
        (col("__tot") - coalesce(col("__kept_chars"), lit(0L)))
          .as("dropped_chars"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q228 — training-mixture drift vs the declared recipe: each
    * source's observed TOKEN-mass share against its target weight
    * (uniform 1/|sources| here — the recipe is a parameter, not a
    * discovery), with the per-source KL contribution p·ln(p/t) whose
    * sum is KL(observed ‖ target) — the number a data-mixing job is
    * contractually obligated to keep near 0. Doc COUNTS can sit
    * exactly on recipe while token MASS drifts (long docs), which is
    * why the audit weighs tokens. Counts exact; p is one division;
    * each contribution one closed-form double. One (source) token
    * aggregate + a single-row total broadcast.
    */
  def mixtureDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("__tok"))
      .groupBy(col("source")).agg(sum(col("__tok")).as("tokens"))
    val tot = perSrc.agg(sum(col("tokens")).as("__t"),
      count(lit(1)).as("__k"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        round(col("tokens").cast("double") / col("__t"), 6).as("share"),
        round(lit(1.0) / col("__k"), 6).as("target_share"),
        round((col("tokens").cast("double") / col("__t")) *
          log((col("tokens").cast("double") / col("__t")) /
            (lit(1.0) / col("__k"))), 6).as("kl_term"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q231 — near-dup detector precision/recall audit: q24's SimHash
    * pairing (hamming ≤ 3 over the md5 signature) evaluated AGAINST
    * q25's exact 3-gram Jaccard ≥ 0.5 pairs as ground truth — the
    * calibration readout every dedup pipeline owes its operators
    * before a threshold ships. TP/FP/FN from one full-outer pair-set
    * join; precision, recall and F1 = 2tp/(2tp+fp+fn) are single
    * closed-form divisions of exact counts. Both pair generators are
    * the inverted-index/banded shapes (never all-pairs), so the audit
    * costs two near-dup passes, not a quadratic scan.
    */
  def detectorAudit(spark: SparkSession, dir: String): DataFrame = {
    // Exact-duplicate class collapse (round-8, the q90/q140 lever
    // applied here): both detectors' pair sets decompose EXACTLY into
    //  - within-class pairs: identical texts, so Jaccard = 1 ≥ 0.5 AND
    //    Hamming = 0 ≤ 3 — every one is truth ∧ pred (a tp); count
    //    Σ C(m,2) arithmetically, no enumeration;
    //  - cross-class pairs: similarity is a function of the two TEXTS,
    //    so every member pair inherits its representatives' (t, p)
    //    status with multiplicity m_a·m_b.
    // The pair machinery therefore runs on ONE representative per
    // distinct text — candidate volume tracks distinct content, not
    // raw row count — and the output is provably byte-identical to the
    // uncollapsed form (oracle-gated).
    val docs = Tables.load(spark, dir, "documents")
    // r11: class-grain aggregate frame (Dedup.exactClassAgg) — no
    // member grain is needed anywhere below, and the old window form
    // re-ran the corpus sort per consumer
    val reps = Dedup.exactClassAgg(
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("__cls").as("doc_id"), col("text"), col("__m"))
    val sizes = reps.select(col("doc_id").as("__id"), col("__m"))
    val truth = Dedup.ngramJaccard(reps, "doc_id", "text",
        shingleLen = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), lit(1L).as("__t"))
    val pred = Dedup.nearSimhash(reps, "doc_id", "text",
        maxHamming = 3, sig = Dedup.simhashMd5, sigBits = 60)
      .select(col("id_a"), col("id_b"), lit(1L).as("__p"))
    // C(m,2) per class; the double division is exact below 2^53 and
    // the cast restores the integer type the contingency sums carry
    val within = reps.agg(coalesce(
      sum((col("__m") * (col("__m") - 1) / lit(2L)).cast("long")),
      lit(0L)).as("__wi"))
    val cross = truth.join(pred, Seq("id_a", "id_b"), "full_outer")
      .join(sizes.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__m", "__ma"), "id_a")
      .join(sizes.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__m", "__mb"), "id_b")
      .withColumn("__w", col("__ma") * col("__mb"))
    cross
      .agg(sum(when(col("__t").isNotNull, col("__w")).otherwise(0L))
          .as("__tc"),
        sum(when(col("__p").isNotNull, col("__w")).otherwise(0L)).as("__pc"),
        sum(when(col("__t").isNotNull && col("__p").isNotNull, col("__w"))
          .otherwise(0L)).as("__tpc"),
        sum(when(col("__t").isNull && col("__p").isNotNull, col("__w"))
          .otherwise(0L)).as("fp"),
        sum(when(col("__t").isNotNull && col("__p").isNull, col("__w"))
          .otherwise(0L)).as("fn"))
      .crossJoin(broadcast(within)) // single-row within-class attach
      .select(
        (coalesce(col("__tc"), lit(0L)) + col("__wi")).as("n_truth"),
        (coalesce(col("__pc"), lit(0L)) + col("__wi")).as("n_pred"),
        (coalesce(col("__tpc"), lit(0L)) + col("__wi")).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .select(col("n_truth"), col("n_pred"), col("tp"), col("fp"), col("fn"),
        when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred"), 6))
          .as("precision"),
        when(col("n_truth") > 0,
          round(col("tp").cast("double") / col("n_truth"), 6)).as("recall"),
        when(col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp") /
            (lit(2) * col("tp") + col("fp") + col("fn")), 6)).as("f1"))
  }

  /** q233 — token-level vocabulary shift per source: KL(source
    * unigram distribution ‖ corpus unigram distribution) — the
    * token-granular strength of drift q228 measures only at the
    * source-share level (a source can hold its mass share while its
    * VOCABULARY walks away). Every source token exists in the corpus
    * distribution by construction, so no smoothing is needed and
    * every ln argument is a ratio of exact integer products:
    * p·ln(p/q) = (c_s/N_s)·ln(c_s·N/(c·N_s)). The per-source sum is
    * a float fold over its vocabulary rounded to 4 dp (the q183
    * convention). One (source, token) aggregate + a token-keyed
    * corpus-count attach + two single-row totals.
    */
  def unigramKlQuery(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("cs"))
    val corpus = st.groupBy(col("t")).agg(sum(col("cs")).as("c"))
    val nS = st.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val nTot = corpus.agg(sum(col("c")).as("nt"))
    st.join(corpus, "t").join(nS, "source").crossJoin(broadcast(nTot))
      .withColumn("__term", (col("cs").cast("double") / col("ns")) *
        log((col("cs").cast("decimal(38,0)") * col("nt")).cast("double") /
          (col("c").cast("decimal(38,0)") * col("ns")).cast("double")))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        round(sum(col("__term")), 4).as("kl_to_corpus"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q240 — direct standardization: each source's "long document"
    * rate (n_chars above the corpus median) reported CRUDE and
    * LANGUAGE-STANDARDIZED — Σ_lang w_lang·rate(source, lang) with the
    * corpus language mix as the reference weights — the epidemiology
    * confounder-adjustment that separates "this source writes long"
    * from "this source is just heavy in a long-winded language".
    * Strata a source lacks contribute 0 (stated; the standardized
    * rate then under-reads sources with narrow language coverage,
    * which is itself signal). Counts exact; the ≤|langs|-term
    * weighted fold rounds at 6 dp.
    */
  def standardizedRateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val med = docs.agg(expr("percentile(n_chars, 0.5)").as("__med"))
    val flagged = docs.crossJoin(broadcast(med))
      .select(col("source"), col("lang"),
        when(col("n_chars") > col("__med"), 1L).otherwise(0L).as("__long"))
    val cell = flagged.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("__n"), sum(col("__long")).as("__l"))
    val weights = cell.groupBy(col("lang"))
      .agg(sum(col("__n")).as("__wl"))
    val wTot = weights.agg(sum(col("__wl")).as("__wt"))
    val crude = cell.groupBy(col("source"))
      .agg(sum(col("__n")).as("n_docs"), sum(col("__l")).as("__long"))
    cell.join(broadcast(weights), "lang").crossJoin(broadcast(wTot))
      .withColumn("__term", (col("__wl").cast("double") / col("__wt")) *
        (col("__l").cast("double") / col("__n")))
      .groupBy(col("source"))
      .agg(round(sum(col("__term")), 6).as("standardized_rate"),
        count(lit(1)).as("n_langs"))
      .join(crude, "source")
      .select(col("source"), col("n_docs"), col("n_langs"),
        round(col("__long").cast("double") / col("n_docs"), 6)
          .as("crude_rate"),
        col("standardized_rate"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q243 — inter-detector agreement (Cohen's kappa): each document
    * flagged "duplicate" by the n-gram detector (member of any q25
    * pair) and independently by the SimHash detector (any q24 pair);
    * kappa corrects the raw agreement for chance — the reliability
    * statistic that says whether two detectors genuinely see the SAME
    * duplicates or just both say "rare". Complements q231: that audit
    * scores PAIR sets against a truth; this one scores DOC-level
    * verdicts against each other with no truth assumed. All counts
    * exact; po, pe and kappa are fixed closed-form doubles.
    */
  def kappaQuery(spark: SparkSession, dir: String): DataFrame = {
    // Exact-duplicate class collapse (round-8, as in [[detectorAudit]]):
    // a document is flagged by a detector iff it pairs with ANYTHING —
    // which holds iff its class has an exact twin (identical text:
    // Jaccard 1, Hamming 0 — every within-class pair qualifies for
    // both detectors) OR its class REPRESENTATIVE pairs with another
    // class (similarity is a function of the texts alone). So the pair
    // machinery runs on one representative per distinct text and the
    // doc-level verdicts expand by class membership — byte-identical
    // output (oracle-gated), candidate volume tracks distinct content.
    val docs = Tables.load(spark, dir, "documents")
    // r11: fully CLASS-grain (Dedup.exactClassAgg) — the verdict (g, s)
    // is a class property, so the doc-level contingency counts are
    // multiplicity-weighted class sums; the old form re-ran the
    // withExactClasses window for the doc-grain join AND per consumer
    val cls = Dedup.exactClassAgg(
      docs.select(col("doc_id"), col("text")), "doc_id", "text")
    val reps = cls.select(col("__cls").as("doc_id"), col("text"))
    def flagged(pairs: DataFrame): DataFrame =
      pairs.select(col("id_a").as("__cls"))
        .union(pairs.select(col("id_b").as("__cls"))).distinct()
    val ng = flagged(Dedup.ngramJaccard(reps, "doc_id", "text",
      shingleLen = 3, threshold = 0.5)).withColumn("__ng", lit(1L))
    val sh = flagged(Dedup.nearSimhash(reps, "doc_id", "text",
      maxHamming = 3, sig = Dedup.simhashMd5, sigBits = 60))
      .withColumn("__sh", lit(1L))
    val j = cls.select(col("__cls"), col("__m"))
      .join(ng, Seq("__cls"), "left").join(sh, Seq("__cls"), "left")
      .select(col("__m"),
        when(col("__m") >= 2 || col("__ng").isNotNull, 1L).otherwise(0L)
          .as("g"),
        when(col("__m") >= 2 || col("__sh").isNotNull, 1L).otherwise(0L)
          .as("s"))
    val c = j.agg(sum(col("__m")).as("n"),
      sum(when(col("g") === 1 && col("s") === 1, col("__m")).otherwise(0L)).as("a"),
      sum(when(col("g") === 1 && col("s") === 0, col("__m")).otherwise(0L)).as("b"),
      sum(when(col("g") === 0 && col("s") === 1, col("__m")).otherwise(0L)).as("c"),
      sum(when(col("g") === 0 && col("s") === 0, col("__m")).otherwise(0L)).as("d"))
    def d38(x: Column) = x.cast("decimal(38,0)")
    val n = col("n").cast("double")
    val po = (col("a") + col("d")).cast("double") / n
    // marginal products in DECIMAL(38,0): at corpus scale the counts
    // square past long range
    val pe = (d38(col("a") + col("b")) * (col("a") + col("c")) +
      d38(col("c") + col("d")) * (col("b") + col("d"))).cast("double") /
      (n * n)
    c.select(col("n").as("n_docs"), col("a").as("both_dup"),
        col("b").as("ngram_only"), col("c").as("simhash_only"),
        col("d").as("neither"),
        round(po, 6).as("agreement"),
        // pe = 1 (both detectors unanimous — e.g. every doc has an
        // exact twin on an amplified corpus) leaves kappa undefined:
        // NULL, not a 0/0 ANSI error
        round((po - pe) / nullif(lit(1.0) - pe, lit(0.0)), 6).as("kappa"))
  }

  /** q81 — cohort retention (oracle-checked): users bucketed by
    * first-event ISO week, distinct-user counts per (cohort week,
    * week offset) via [[Temporal.cohortRetention]]. Monday-truncated
    * weeks agree across engines under the pinned UTC session; the
    * offset is pure integer day arithmetic.
    */
  def cohortStats(spark: SparkSession, dir: String): DataFrame =
    Temporal.cohortRetention(Tables.load(spark, dir, "events"), "user_id", "ts")

  /** q83 — point-in-time enrichment (oracle-checked): build the SCD2
    * "browsing state" dimension from each user's NON-purchase events
    * ([[Temporal.scd2]] tracking event_type), then enrich every
    * purchase with the state version valid at purchase time via
    * [[Temporal.pointInTime]] (one as-of join, not a range join).
    * Purchases before a user's first non-purchase event report state
    * 'none'. The oracle replays the equivalent tiling range join
    * (`vf <= ts AND (vt IS NULL OR ts < vt)`) — equality of the two
    * formulations is exactly the contiguity argument in the scaladoc.
    */
  def pitStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val dim = Temporal.scd2(ev.filter(col("event_type") =!= "purchase"),
      "user_id", "ts", Seq("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    Temporal.pointInTime(purchases, dim, Seq("user_id"), "ts",
        Seq("event_type" -> "state"))
      .groupBy(coalesce(col("state"), lit("none")).as("state"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .orderBy(col("state"))
  }

  /** q89 — robust outlier screen (oracle-checked): per event type, the
    * exact median and MAD of `value` via [[Analytics.robustOutliers]],
    * plus the count beyond 3·MAD — the outlier gate that mean/stddev
    * screens get wrong (the outliers drag the mean toward themselves).
    */
  def robustOutlierStats(spark: SparkSession, dir: String): DataFrame =
    Analytics.robustOutliers(Tables.load(spark, dir, "events"),
        Seq("event_type"), "value")
      .orderBy(col("event_type"))

  /** q90 — TF-IDF cosine top-10 document pairs within one source
    * (oracle-checked): [[TextAnalysis.tfidfPairs]]' term-partitioned
    * sparse dot product vs DuckDB replaying the same postings algebra
    * relationally.
    */
  def tfidfPairStats(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis.tfidfPairs(
      Tables.load(spark, dir, "documents").filter(col("source") === "src0"),
      "doc_id", "text", 10)

  /** Near-dup PAIR counts per unordered tag cell, with exact-duplicate
    * classes collapsed BEFORE the quadratic candidate machinery
    * ([[Dedup.exactClassAgg]]) — value-identical to counting
    * `ngramJaccard(docs)` pairs tagged per endpoint, by the
    * combinatorial identity in the collapse scaladoc: within a class
    * (identical texts ⇒ J = 1 ≥ t) the (tagA ≤ tagB) cell gets
    * C(m_t, 2) / m_a·m_b pairs straight from per-(class, tag)
    * multiplicities; across classes the Jaccard of any member pair
    * equals the representatives' (text-functional), so one
    * representative-level q25 join supplies the qualifying class
    * pairs and each contributes m₁ₜ·m₂ₜ' per cell. The pair machinery
    * therefore runs over DISTINCT texts only — on the 99-exact-twins
    * amplified corpus that is the entire difference between posting
    * lists of length df and length 100·df (candidates 10⁴×).
    *
    * Input `tagged` must carry (doc_id, text, __tag).
    */
  private def nearDupCellCounts(
      tagged: DataFrame, shingleLen: Int, threshold: Double): DataFrame = {
    // r11 (guide §2.4 remove shuffles / §5 reuse): the r7–r10 form
    // derived classes via withExactClasses — a text-partitioned WINDOW
    // whose full-corpus sort re-executed once per CONSUMER, and this
    // function has five (perClsTag feeds four broadcast builds, reps a
    // fifth path). Measured at 100× fresh-JVM: four concurrent 16-task
    // stages of ~670 s executor time each, q143 61–132 s wall. The
    // replacement builds ONE corpus-pass frame — groupBy(text, tag) →
    // (count, min id), the q12-calibrated shape (0.23 s at 100×) —
    // persists it (distinct-content × tag sized), and derives classes,
    // per-(class, tag) multiplicities AND representatives from the
    // cached frame; the corpus is never touched again. Value-identical:
    // class id is still min(doc_id) over byte-identical texts.
    // Materialized EAGERLY (CacheScope.eager; skipped in a plan-only
    // scope): the consumers below launch as concurrent
    // broadcast-build futures, and a not-yet-materialized cache is
    // recomputed by every concurrent job (measured at 100×: seven
    // duplicate ~40 s corpus aggregates racing; with the eager count
    // the corpus is aggregated exactly once)
    val byTextTag = graft.CacheScope.eager(
      tagged.groupBy(col("text"), col("__tag"))
        .agg(count(lit(1)).as("__mt"), min(col("doc_id")).as("__tmin")))
    val keyCls = byTextTag.groupBy(col("text"))
      .agg(min(col("__tmin")).as("__cls"))
    // NULL-SAFE join (r11 ADVICE): a null-text class groups in both
    // aggregates but a plain equality join would drop it here; <=>
    // keeps it, matching the raw enumerator (null text shingles to one
    // "" gram via concat_ws, so null-text twins DO pair at J=1)
    val perClsTag = byTextTag.join(
        keyCls.select(col("text").as("__ktxt"), col("__cls")),
        col("text") <=> col("__ktxt"))
      .select(col("__cls"), col("__tag"), col("__mt"))
    val within = perClsTag.as("a")
      .join(perClsTag.as("b"), col("a.__cls") === col("b.__cls") &&
        col("a.__tag") <= col("b.__tag"))
      .select(col("a.__tag").as("tag_a"), col("b.__tag").as("tag_b"),
        when(col("a.__tag") === col("b.__tag"),
          // exact integer C(m,2): consecutive product is even
          shiftright(col("a.__mt") * (col("a.__mt") - 1), 1))
          .otherwise(col("a.__mt") * col("b.__mt")).as("__n"))
    val reps = keyCls.select(col("__cls").as("doc_id"), col("text"))
    val repPairs = Dedup.ngramJaccard(reps, "doc_id", "text",
        shingleLen, threshold)
      .select(col("id_a").as("__c1"), col("id_b").as("__c2"))
    val cross = repPairs
      .join(perClsTag.select(col("__cls").as("__c1"),
        col("__tag").as("__t1"), col("__mt").as("__m1")), "__c1")
      .join(perClsTag.select(col("__cls").as("__c2"),
        col("__tag").as("__t2"), col("__mt").as("__m2")), "__c2")
      .select(least(col("__t1"), col("__t2")).as("tag_a"),
        greatest(col("__t1"), col("__t2")).as("tag_b"),
        (col("__m1") * col("__m2")).as("__n"))
    // ≤ |tags|² rows; persisted because callers fan the cell frame into
    // several consumers (share denominators, rate joins) and one
    // evaluation of the rep-pair machinery above should serve them all
    val cells = graft.CacheScope.eager(within.unionByName(cross)
      .groupBy(col("tag_a"), col("tag_b"))
      .agg(sum(col("__n")).as("n_pairs"))
      .filter(col("n_pairs") > 0)) // eager, like byTextTag
    cells
  }

  /** q140 — cross-source duplication matrix (oracle-checked): q25's
    * exact 3-gram Jaccard near-dup pairs (threshold 0.5) rolled up to
    * unordered (source, source) cells with the duplication RATE —
    * pairs over possible pairs (n_a·n_b cross, C(n_a,2) diagonal; the
    * consecutive-integer product is exactly even, so the integer
    * division is exact). The inter-source contamination readout a mix
    * owner checks before attributing quality differences to a source.
    * Pair counting runs through [[nearDupCellCounts]] (round-7): the
    * inverted-index join sees one representative per distinct text,
    * so the 100× twins corpus costs what the distinct corpus costs.
    */
  def crossSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val nsrc = docs.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val cells = nearDupCellCounts(
      docs.select(col("doc_id"), col("text"), col("source").as("__tag")),
      shingleLen = 3, threshold = 0.5)
    cells
      .select(col("tag_a").as("src_a"), col("tag_b").as("src_b"),
        col("n_pairs"))
      .join(broadcast(nsrc.select(col("source").as("src_a"),
        col("__n").as("__na"))), "src_a")
      .join(broadcast(nsrc.select(col("source").as("src_b"),
        col("__n").as("__nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        col("__na").as("n_docs_a"), col("__nb").as("n_docs_b"),
        round(col("n_pairs") /
          when(col("src_a") === col("src_b"),
            col("__na") * (col("__na") - 1) / 2)
            .otherwise(col("__na") * col("__nb")).cast("double"), 6)
          .as("dup_rate"))
      .coalesce(1).orderBy(col("src_a"), col("src_b"))
  }

  /** q143 — split-leakage audit (oracle-checked): q25's exact 3-gram
    * near-dup pairs tagged with each endpoint's deterministic 90/5/5
    * fold (the [[mixedKey]] mixer, salt 42 — engine-independent, the
    * q58/q66 convention) and rolled up per unordered fold cell. A pair
    * STRADDLING folds is evaluation leakage: the model sees a
    * near-copy of a held-out doc in training — exactly what q51's
    * benchmark decontamination exists to prevent, now audited for the
    * in-corpus split itself. Pair counting runs through
    * [[nearDupCellCounts]] (round-7): representatives only through
    * the inverted index, fold multiplicities recovered exactly —
    * output ≤ C(3,2)+3 rows as before.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val u = pmod(mixedKey(col("doc_id").cast("long"), 42L), lit(1000000L))
    val tagged = docs.select(col("doc_id"), col("text"),
      when(u < 900000L, "train").when(u < 950000L, "val")
        .otherwise("test").as("__tag"))
    // ≤ C(3,2)+3 rows, consumed twice (the share denominator and the
    // output); nearDupCellCounts persists the cell frame, so the
    // rep-pair machinery underneath runs once
    val cells = nearDupCellCounts(tagged, shingleLen = 3, threshold = 0.5)
      .select(col("tag_a").as("fold_a"), col("tag_b").as("fold_b"),
        col("n_pairs"))
    val tot = cells.agg(sum(col("n_pairs")).as("__t"))
    cells.crossJoin(broadcast(tot))
      .select(col("fold_a"), col("fold_b"), col("n_pairs"),
        (col("fold_a") =!= col("fold_b")).as("is_leak"),
        round(col("n_pairs") / col("__t").cast("double"), 6).as("share"))
      .coalesce(1).orderBy(col("fold_a"), col("fold_b"))
  }

  // --------------------------------------------------------------- q188

  /** q188 — deterministic negative sampling for implicit-feedback
    * training: each customer draws 3 candidate parts via a PORTABLE
    * seeded hash (little-endian lower-64 of md5(custkey:i) — the q94
    * digest recipe, reproducible by any engine, never rand()), and
    * candidates that the customer actually purchased are rejected by
    * ONE anti-join-shaped probe against the distinct (customer, part)
    * positives. The audit reports per-segment candidate/collision
    * rates — the health check before a recommender or contrastive
    * trainer consumes the negatives. Scale: positives aggregate to
    * key grain before the join; candidates are 3 rows per customer;
    * the part count attaches as a broadcast scalar.
    */
  def negativeSamples(spark: SparkSession, dir: String): DataFrame = {
    val nPartsDf = Tables.load(spark, dir, "part")
      .agg(count(lit(1)).as("__np"))
    val hex = md5(concat_ws(":", col("c_custkey"), col("__i")).cast("binary"))
    val h = (0 to 7)
      .map(i => shiftleft(
        conv(substring(hex, 17 + 2 * i, 2), 16, 10).cast("long"), 8 * i))
      .reduce(_ + _)
    val cand = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .crossJoin(broadcast(nPartsDf))
      .select(col("c_custkey"), col("c_mktsegment"), col("__np"),
        explode(sequence(lit(0), lit(2))).as("__i"))
      // +1: partkeys are 1..n_parts, so pmod alone would make candidate 0
      // uncollidable and partkey n_parts unsampleable (reject-rate bias).
      .withColumn("cand_part", pmod(h, col("__np")) + lit(1))
    val pos = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
    cand
      .join(pos, col("c_custkey") === col("o_custkey") &&
        col("cand_part") === col("l_partkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("c_custkey")).as("n_customers"),
        count(lit(1)).as("n_candidates"),
        count(col("l_partkey")).as("n_rejected"),
        (count(lit(1)) - count(col("l_partkey"))).as("n_kept"),
        round(count(col("l_partkey")) / count(lit(1)).cast("double"), 6)
          .as("reject_rate"))
      .coalesce(1).orderBy(col("c_mktsegment"))
  }

  // ------------------------------------------------------ q244-q246

  /** q244 — inverted-index COST MODEL for the near-dup pair family
    * (oracle-checked): 3-gram shingle document frequencies bucketed on
    * a log2 scale (`length(bin(df)) − 1` — pure integer/string
    * arithmetic, the q128 trick, so no float log at a power-of-two
    * boundary), with per-bucket shingle count, posting volume (Σdf)
    * and CANDIDATE-PAIR volume (ΣC(df,2)) plus each bucket's share of
    * total candidates. This is the "measure before you join" readout:
    * the q25/q140/q143 inverted-index join costs exactly Σdf² and this
    * query shows which df decades carry it — the evidence behind df
    * caps (q25-capped), prefix filtering (q177), and this round's
    * exact-twin collapse. One shingle-keyed aggregate + one ≤64-row
    * bucket aggregate; the candidate total attaches as a broadcast
    * scalar.
    */
  def dedupCostModel(spark: SparkSession, dir: String): DataFrame = {
    // r11 collapse-first: a shingle's document frequency is Σ class
    // multiplicity over the distinct-text classes containing it
    // (array_distinct per doc makes df count documents, and identical
    // texts shingle identically), so the shingle pass runs over ONE
    // representative per class — on the exact-twins amplified corpus
    // that is the whole twin factor. The ≤64-row bucket frame is
    // persisted: it feeds both the output and the broadcast total,
    // which otherwise re-ran the full shingle aggregate.
    val cls = Dedup.exactClassAgg(
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text")
    val sh = Dedup.shingleTable(
        cls.select(col("__cls").as("doc_id"), col("text")), "doc_id", "text", 3)
      .join(cls.select(col("__cls").as("id"), col("__m")), "id")
      .select(explode(col("sh")).as("s"), col("__m"))
      .groupBy(col("s")).agg(sum(col("__m")).as("__df"))
    val buckets = graft.CacheScope.keep(sh
      .withColumn("df_bucket", length(bin(col("__df"))) - 1)
      .groupBy(col("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("__df")).as("postings"),
        sum(shiftright(col("__df") * (col("__df") - 1), 1)).as("cand_pairs")))
    val tot = buckets.agg(sum(col("cand_pairs")).as("__t"))
    buckets.crossJoin(broadcast(tot))
      .select(col("df_bucket"), col("n_shingles"), col("postings"),
        col("cand_pairs"),
        round(col("cand_pairs") / col("__t").cast("double"), 6)
          .as("cand_share"))
      .coalesce(1).orderBy(col("df_bucket"))
  }

  /** q245 — exact-twin compression audit per source (oracle-checked):
    * documents vs distinct-text classes, the duplication factor, and
    * the REDUNDANT bytes a [[Dedup.exactClassAgg]] collapse saves
    * (Σ over classes of (m−1)·len(text), exact integers). The storage
    * and pair-join-cost rationale for running exact dedup FIRST —
    * companion to q244's candidate-volume readout. One (source, text)
    * aggregate, then a per-source rollup.
    */
  def twinCompression(spark: SparkSession, dir: String): DataFrame = {
    val cls = Tables.load(spark, dir, "documents")
      .groupBy(col("source"), col("text"))
      .agg(count(lit(1)).as("__m"))
      .withColumn("__len", length(col("text")).cast("long"))
    cls.groupBy(col("source"))
      .agg(sum(col("__m")).as("n_docs"),
        count(lit(1)).as("n_classes"),
        round(sum(col("__m")) / count(lit(1)).cast("double"), 4)
          .as("dup_factor"),
        sum(col("__m") * col("__len")).as("total_chars"),
        sum((col("__m") - 1) * col("__len")).as("redundant_chars"),
        round(sum((col("__m") - 1) * col("__len")) /
          sum(col("__m") * col("__len")).cast("double"), 6)
          .as("redundant_share"))
      .coalesce(1).orderBy(col("source"))
  }

  /** q246 — near-dup THRESHOLD SWEEP (oracle-checked): q25's exact
    * 3-gram Jaccard pairs at floor 0.5, bucketed by Jaccard decile
    * (pairs at exactly 1.0 keep their own bucket) with count and mean.
    * The curve a dedup owner reads to place the production threshold:
    * a fat 0.5–0.6 bucket means the threshold sits on a cliff; a
    * bimodal curve separates true twins from boilerplate cousins.
    * Decile and mean run on exact integers: jaccard is 4-dp-rounded in
    * both engines, so e4 = round(j·10⁴) is the identical integer and
    * the bucket is `e4 div 1000` — no float-boundary flip at 0.6.
    *
    * Same class-collapse scale shape as q140/q143: identical texts
    * pair at exactly J = 1 (e4 = 10000, C(m,2) pairs straight from the
    * multiplicity), cross-class pairs take their representatives' J
    * with weight m₁·m₂ — so the inverted index sees one row per
    * distinct text and the sweep stays runnable on the exact-twins
    * amplified corpus.
    */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    // r11: class-grain aggregate frame (Dedup.exactClassAgg) — the old
    // withExactClasses window re-executed its full-corpus sort for each
    // of the two consumers (cls, reps); the aggregate runs once and
    // both read its cache
    val m = Dedup.exactClassAgg(
      Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text")
    val cls = m.select(col("__cls"), col("__m"))
    val reps = m.select(col("__cls").as("doc_id"), col("text"))
    val cross = Dedup.ngramJaccard(reps, "doc_id", "text", 3, 0.5)
      .withColumn("__e4", round(col("jaccard") * 10000).cast("long"))
      .join(cls.select(col("__cls").as("id_a"), col("__m").as("__m1")), "id_a")
      .join(cls.select(col("__cls").as("id_b"), col("__m").as("__m2")), "id_b")
      .select(col("__e4"), (col("__m1") * col("__m2")).as("__n"))
    val within = cls.filter(col("__m") >= 2)
      .select(lit(10000L).as("__e4"),
        shiftright(col("__m") * (col("__m") - 1), 1).as("__n"))
    cross.unionByName(within)
      .withColumn("j_decile",
        (expr("__e4 div 1000") / lit(10.0)).cast("double"))
      .groupBy(col("j_decile"))
      .agg(sum(col("__n")).as("n_pairs"),
        round((sum(col("__e4") * col("__n")) / sum(col("__n"))) / lit(10000.0), 4)
          .as("mean_jaccard"))
      .coalesce(1).orderBy(col("j_decile"))
  }

  /** q247 — language-ID CONFUSION MATRIX (oracle-checked): q27 reports
    * the predicted-language distribution; this is its accuracy audit
    * against the corpus' ground-truth `lang` label — one row per
    * (actual, predicted) cell with count and within-actual share (the
    * per-language recall readout on the diagonal). The gate a mix
    * owner runs before trusting a language filter: a detector that
    * routes 30% of German to English silently skews any
    * language-conditioned sampling. One ≤|langs|²-cell aggregate; the
    * share is a single division of exact integers over a
    * lang-partitioned window on the tiny cell table.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(spark, dir, "documents")
      .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("share", round(col("n") /
        sum(col("n")).over(Window.partitionBy(col("lang"))).cast("double"), 6))
      .coalesce(1).orderBy(col("lang"), col("pred_lang"))
  }

  /** q248 — Heaps'-law vocabulary growth curve (oracle-checked): how
    * fast the corpus' distinct-token vocabulary V grows with its total
    * token count T, measured at 10 exact prefix points of the doc_id
    * order plus the fitted log-log slope β of V ≈ K·T^β. The
    * scaling-law readout a data owner checks before extrapolating
    * tokenizer vocab coverage or dedup gain from a sample: β near 1
    * means the corpus keeps minting new tokens (noisy/ID-heavy text),
    * β ≪ 1 means the vocabulary is saturating.
    *
    * Scale shape — nothing here ranks the corpus in one task:
    *  1. decile boundary doc_ids come from [[Concentration.groupedCumCounts]]'
    *     block-parallel exact cumulative counts (rank r_b = ⌊N·b/10⌋,
    *     boundary = first doc_id whose cumulative count reaches r_b);
    *  2. a token's FIRST occurrence is one (token → min doc_id)
    *     aggregate — cumulative distinct-type counts at each boundary
    *     are then conditional sums, never a distinct per prefix;
    *  3. both prefix aggregates read the 10 boundaries from one
    *     broadcast single-row attach and make ONE pass each.
    * β is the closed-form least-squares slope over the 10 (ln T, ln V)
    * points — exact integer inputs, one double expression per engine.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
      .withColumn("__nt", size(col("__toks")).cast("long"))
    val cum = Concentration.groupedCumCounts(
      docs.withColumn("__k", lit(1)), "__k", "doc_id")
    // one row: N plus the 10 boundary doc_ids (rank max(⌊N·b/10⌋, 1))
    val bounds = cum.groupBy().agg(
      max(col("__n")).as("__N"),
      (1 to 10).map { b =>
        min(when(col("__cum") >= greatest(
          expr(s"(__n * $b) DIV 10"), lit(1L)), col("__v")))
          .as(s"__bd$b")
      }: _*)
    val docExprs = (1 to 10).flatMap { b =>
      Seq(sum(when(col("doc_id") <= col(s"__bd$b"), 1L)).as(s"__d$b"),
        sum(when(col("doc_id") <= col(s"__bd$b"), col("__nt")))
          .as(s"__t$b"))
    }
    val docAgg = docs.crossJoin(broadcast(bounds)).groupBy()
      .agg(docExprs.head, docExprs.tail: _*)
    val firstOcc = docs
      .select(col("doc_id"), explode(col("__toks")).as("__tok"))
      .groupBy(col("__tok")).agg(min(col("doc_id")).as("__fd"))
    val typeExprs = (1 to 10).map { b =>
      sum(when(col("__fd") <= col(s"__bd$b"), 1L)).as(s"__v$b")
    }
    val typeAgg = firstOcc.crossJoin(broadcast(bounds)).groupBy()
      .agg(typeExprs.head, typeExprs.tail: _*)
    val pts = docAgg.crossJoin(typeAgg)
      .select(expr("stack(10, " + (1 to 10).map(b =>
        s"${b}L, __d$b, __t$b, __v$b").mkString(", ") +
        ") as (decile, cum_docs, cum_tokens, cum_types)"))
    val fit = pts.agg(
      ((count(lit(1)) * sum(log(col("cum_tokens")) * log(col("cum_types"))) -
        sum(log(col("cum_tokens"))) * sum(log(col("cum_types")))) /
        (count(lit(1)) * sum(log(col("cum_tokens")) * log(col("cum_tokens"))) -
          sum(log(col("cum_tokens"))) * sum(log(col("cum_tokens")))))
        .as("__beta"))
    pts.crossJoin(broadcast(fit))
      .select(col("decile"), col("cum_docs"), col("cum_tokens"),
        col("cum_types"),
        // + 0.0 normalizes IEEE −0.0 (a saturated vocabulary gives a
        // slope of −ε that rounds to negative zero, which the pandas
        // comparator renders as "-0.0")
        (round(col("__beta"), 6) + lit(0.0)).as("heaps_beta"))
      .coalesce(1).orderBy(col("decile"))
  }

  /** q249 — token-budget selection per source (oracle-checked): give
    * each source a budget of half its total whitespace tokens and keep
    * its docs in (token count DESC, doc_id ASC) priority order while
    * the inclusive running total fits the budget — the deterministic
    * "fill each mix bucket to its token quota" primitive behind any
    * fixed-token-budget pretraining mix. Reports per source: the
    * budget, docs/tokens kept, and the budget utilization.
    *
    * Scale shape: the running total comes from
    * [[Concentration.groupedCumSum]]' block-parallel exact prefix sums
    * — a 5-value source key never caps the sort at 5 tasks (the q146
    * lesson applied to the selection path); one final per-source
    * aggregate. Budgets are exact integer halves; utilization is one
    * closed-form double.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"))
      .withColumn("__ord", -col("__nt"))
    val cum = Concentration.groupedCumSum(
      docs, "source", "__ord", "doc_id", "__nt")
    cum
      .withColumn("__budget", expr("CAST(__wtot AS BIGINT) DIV 2"))
      .groupBy(col("source"))
      .agg(max(col("__budget")).as("budget_tokens"),
        sum(when(col("__cumw") <= col("__budget"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("__cumw") <= col("__budget"), col("__nt"))
          .otherwise(0L)).cast("long").as("tokens_kept"))
      .withColumn("utilization",
        round(col("tokens_kept") / col("budget_tokens").cast("double"), 6))
      .coalesce(1).orderBy(col("source"))
  }

  /** q250 — embedding outlier pruning per label (oracle-checked): for
    * each label, the Euclidean distance of every vector to its label
    * centroid, the exact 95th-percentile distance (rank ⌈0.95·n⌉ of
    * the distance order), and how many vectors sit strictly above it —
    * the "drop the far tail before training a head" quality gate,
    * complementing q152's cosine-accuracy audit.
    *
    * Determinism at scale: embeddings are quantized to ×1e6 longs (the
    * q152 convention); the distance to the centroid S/n is compared via
    * the EXACT integer squared norm ‖n·v − S‖² carried in
    * decimal(38,0) (n·v ≤ 1e6·3.2e5 and the 64-dim squared sum stays
    * ≤ ~6e23 per vector, ~6e29 summed at 1M vectors — inside
    * decimal(38,0)), so the percentile rank orders exact integers and
    * every reported distance is ONE closed-form double
    * (√num / (n·1e6)). The percentile itself reads off
    * [[Concentration.groupedCumCounts]]' block-parallel cumulative
    * counts — never a per-label single-task sort. Centroid sums ride a
    * |labels|-row broadcast.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
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
        st => st.getField("__s")).as("__c"),
        count(lit(1)).as("__dim"))
    val n = emb.groupBy(col("label").as("__cl")).agg(count(lit(1)).as("__n"))
    val cents = cent.join(n, Seq("__cl"))
    val num = emb.join(broadcast(cents), col("label") === col("__cl"))
      .withColumn("__num",
        aggregate(zip_with(col("__q"), col("__c"),
          (v, s) => dec(col("__n") * v - s) * dec(col("__n") * v - s)),
          lit(0).cast("decimal(38,0)"), (a, x) => a + x))
      .select(col("label"), col("__n"), col("__num"))
    val cum = Concentration.groupedCumCounts(num, "label", "__num")
    // p95 threshold: first num whose cumulative count reaches ⌈0.95·n⌉
    val thr = cum.groupBy(col("label"))
      .agg(min(when(col("__cum") >= expr("(19 * __n + 19) DIV 20"),
        col("__v"))).as("__thr"))
    num.join(broadcast(thr), Seq("label"))
      .groupBy(col("label"))
      .agg(max(col("__n")).as("n"),
        sum(when(col("__num") > col("__thr"), 1L).otherwise(0L))
          .as("n_outliers"),
        round(sqrt(sum(col("__num")).cast("double") / max(col("__n"))) /
          (max(col("__n")).cast("double") * lit(1000000.0)), 6)
          .as("rms_dist"),
        round(sqrt(max(col("__thr")).cast("double")) /
          (max(col("__n")).cast("double") * lit(1000000.0)), 6)
          .as("p95_dist"))
      .coalesce(1).orderBy(col("label"))
  }

  /** q251 — length-bucketed padding-waste curve (oracle-checked): if
    * docs are batched by sorting on token length into B equi-depth
    * buckets (ntile sizing rule) and every doc in a bucket pads to the
    * bucket's max length, how many pad tokens does each choice of
    * B ∈ {1,2,4,8,16} burn? B=1 is naive global padding; the curve's
    * knee tells a training-batch owner how many length buckets buy
    * most of the waste back — the dynamic-batching sizing readout
    * that complements q52's concatenation packing (which avoids pad
    * entirely but splits docs).
    *
    * Scale shape: ONE block-parallel
    * [[Concentration.groupedCumCounts]] pass over the length
    * distribution (the q146 machinery — never a corpus-wide
    * single-task sort); every bucket boundary is then `value at rank
    * r_{B,j} = j·⌊N/B⌋ + min(j, N mod B)` read off the tiny
    * distinct-length frame by conditional aggregation, and all 31
    * (B, j) bucket maxima come from one aggregate row. Padded totals
    * are exact integer products; the share is one closed-form double.
    */
  def padWaste(spark: SparkSession, dir: String): DataFrame = {
    val bs = Seq(1, 2, 4, 8, 16)
    val docs = Tables.load(spark, dir, "documents")
      .select(TextAnalysis.tokenCount(col("text")).cast("long").as("__len"))
    val cum = Concentration.groupedCumCounts(
      docs.withColumn("__k", lit(1)), "__k", "__len")
    // bucket j of B ends at rank r = j·⌊N/B⌋ + min(j, N mod B) (the
    // ntile remainder rule); its pad target is the value at that rank
    val hiExprs = for (b <- bs; j <- 1 to b) yield
      min(when(col("__cum") >=
        expr(s"$j * (__n DIV $b) + least(${j}L, __n % $b)"), col("__v")))
        .as(s"__hi_${b}_$j")
    val one = cum.groupBy().agg(max(col("__n")).as("__N"),
      hiExprs: _*)
    val tot = docs.agg(sum(col("__len")).as("__T"))
    def rank(b: Int, j: Int) =
      s"($j * (__N DIV $b) + least(${j}L, __N % $b))"
    val stackParts = bs.map { b =>
      val padded = (1 to b).map { j =>
        s"__hi_${b}_$j * (${rank(b, j)} - ${rank(b, j - 1)})"
      }.mkString(" + ")
      s"${b}L, ($padded)"
    }
    one.crossJoin(broadcast(tot))
      .select(expr(s"stack(5, ${stackParts.mkString(", ")})" +
        " as (n_buckets, padded_tokens)"), col("__T"))
      .select(col("n_buckets"), col("padded_tokens"),
        col("__T").as("real_tokens"),
        (col("padded_tokens") - col("__T")).as("pad_tokens"),
        round((col("padded_tokens") - col("__T")) /
          col("padded_tokens").cast("double"), 6).as("pad_share"))
      .coalesce(1).orderBy(col("n_buckets"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q21_doc_tokens" -> (docTokens _),
    "q22_doc_quality" -> (docQuality _),
    "q23_dedup_minhash" -> (dedupMinhash _),
    "q24_dedup_simhash" -> (dedupSimhash _),
    "q25_dedup_ngram" -> (dedupNgram _),
    "q26_embed_neardup" -> (embedNearDup _),
    "q27_lang_id" -> (langIdDist _),
    "q28_fingerprint" -> (fingerprintStats _),
    "q29_ann_topk" -> (annTopK _),
    "q30_mm_meta" -> (mmMeta _),
    "q31_approx_distinct" -> (hllDistinctCheck _),
    "q37_top_tokens" -> (topTokens _),
    "q40_frame_stats" -> (frameStats _),
    "q41_fuzzy_hist" -> (fuzzyHistogram _),
    "q42_dedup_clusters" -> (dedupClusters _),
    "q44_overlap_pairs" -> (overlapPairs _),
    "q45_dup_spans" -> (dupSpans _),
    "q262_minhash_classes" -> (minhashClasses _),
    "q263_simhash_classes" -> (simhashClasses _),
    "q264_ngram_classes" -> (ngramClasses _),
    "q265_overlap_classes" -> (overlapClasses _),
    "q266_embed_classes" -> (embedClasses _),
    "q268_semantic_classes" -> (semanticClasses _),
    "q269_pq_distortion" -> (pqDistortion _),
    "q270_pq_adc" -> (pqAdcTopK _),
    "q46_idf_terms" -> (idfTerms _),
    "q48_quantile_band" -> (quantileBandStats _),
    "q49_repetition" -> (repetitionStats _),
    "q50_quality_filter" -> (qualityFilterStats _),
    "q51_decontaminate" -> (decontaminated _),
    "q52_pack_sequences" -> (packedSeqStats _),
    "q53_source_mix" -> (sourceMixStats _),
    "q54_epoch_shuffle" -> (epochShuffleHead _),
    "q57_chunk_stats" -> (chunkStats _),
    "q58_det_sample" -> (sampleStats _),
    "q59_moments" -> (momentStats _),
    "q66_source_cap" -> (sourceCapStats _),
    "q68_contamination_report" -> (contaminationReportStats _),
    "q69_unigram_nll" -> (unigramNllStats _),
    "q73_scrub_normalize" -> (scrubNormalizeStats _),
    "q74_pack_bins" -> (packBinsStats _),
    "q75_boilerplate" -> (boilerplateStats _),
    "q76_heavy_hitters" -> (heavyHittersStats _),
    "q77_weighted_sample" -> (weightedSampleHead _),
    "q78_quantile_sketch" -> (quantileSketchStats _),
    "q79_scd2" -> (scd2Stats _),
    "q80_funnel" -> (funnelStats _),
    "q81_cohort_retention" -> (cohortStats _),
    "q83_pit_enrichment" -> (pitStats _),
    "q89_robust_outliers" -> (robustOutlierStats _),
    "q90_tfidf_pairs" -> (tfidfPairStats _),
    "q140_source_overlap" -> (crossSourceOverlap _),
    "q143_split_leakage" -> (splitLeakage _),
    "q148_window_funnel" -> (windowFunnelStats _),
    "q149_dup_spectrum" -> (dupSpectrum _),
    "q152_centroid_audit" -> (centroidAudit _),
    "q153_bm25" -> (bm25Query _),
    "q154_weighted_jaccard" -> (weightedNgramPairs _),
    "q156_collocations" -> (collocationsQuery _),
    "q177_prefix_jaccard" -> (dedupNgramPrefix _),
    "q188_negative_samples" -> (negativeSamples _),
    "q215_cond_entropy" -> (condEntropyQuery _),
    "q217_burrows_delta" -> (burrowsDeltaQuery _),
    "q221_feature_hash" -> (featureHashAudit _),
    "q227_canonical_dedup" -> (canonicalKeepBest _),
    "q228_mixture_drift" -> (mixtureDriftQuery _),
    "q231_detector_audit" -> (detectorAudit _),
    "q233_unigram_kl" -> (unigramKlQuery _),
    "q240_standardized_rate" -> (standardizedRateQuery _),
    "q243_detector_kappa" -> (kappaQuery _),
    "q244_dedup_cost_model" -> (dedupCostModel _),
    "q245_twin_compression" -> (twinCompression _),
    "q246_threshold_sweep" -> (thresholdSweep _),
    "q247_langid_confusion" -> (langIdConfusion _),
    "q248_heaps_law" -> (heapsLaw _),
    "q249_token_budget" -> (tokenBudget _),
    "q250_embed_outliers" -> (embedOutliers _),
    "q251_pad_waste" -> (padWaste _))
}

package graft.ops

import graft.{SparkSpec, Tables}
import graft.text.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-7 class-collapse refactor (q90/q111/q140/q143): the pair
  * machinery now runs over one representative per distinct text and
  * recovers doc-level results by multiplicity combinatorics. These
  * tests pin VALUE-IDENTITY against the uncollapsed formulations on a
  * corpus with heavy planted exact duplication — the very shape
  * (amplified exact twins) the collapse exists for.
  */
class CollapseEquivalenceSpec extends SparkSpec {

  /** sf0.001 documents plus 3 exact twins of each of the first 8 docs
    * (ids shifted far above the corpus range, so fold/source tags of
    * twins differ from their originals — the combinatorics must handle
    * classes spanning tags).
    */
  private lazy val corpus: DataFrame = {
    initQuiet()
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val firsts = docs.orderBy(col("doc_id")).limit(8)
    val twins = (1 to 3).map(i =>
      firsts.withColumn("doc_id", col("doc_id") + lit(10000000L * i)))
    twins.foldLeft(docs)(_ unionByName _).persist()
  }

  /** Member-grain exact-duplicate classes — the text-partitioned window
    * form of [[Dedup.exactClassAgg]], kept here as the reference the
    * collapsed operators are checked against: each row gains its class
    * (`__cls` = min id among rows with byte-identical text) and the
    * class multiplicity (`__m`). */
  private def withExactClasses(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(textCol))
    df.withColumn("__cls", min(col(idCol)).over(w))
      .withColumn("__m", count(lit(1)).over(w))
  }

  test("q140-shape: collapsed source cell counts == uncollapsed ngramJaccard rollup") {
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 0.5)
    val src = corpus.select(col("doc_id"), col("source"))
    val ref = pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("a"),
        greatest(col("sa"), col("sb")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // drive the production path on the same corpus via the private
    // helper's public consumer shape: re-derive cells from the
    // collapsed machinery by calling crossSourceOverlap's building
    // blocks — here, replicate via withExactClasses + combinatorics
    val m = withExactClasses(
      corpus.select(col("doc_id"), col("text"), col("source").as("__tag")),
      "doc_id", "text")
    val perClsTag = m.groupBy(col("__cls"), col("__tag"))
      .agg(count(lit(1)).as("__mt"))
    val within = perClsTag.as("x").join(perClsTag.as("y"),
        col("x.__cls") === col("y.__cls") && col("x.__tag") <= col("y.__tag"))
      .select(col("x.__tag").as("a"), col("y.__tag").as("b"),
        when(col("x.__tag") === col("y.__tag"),
          shiftright(col("x.__mt") * (col("x.__mt") - 1), 1))
          .otherwise(col("x.__mt") * col("y.__mt")).as("n"))
    val reps = m.filter(col("doc_id") === col("__cls"))
      .select(col("doc_id"), col("text"))
    val cross = Dedup.ngramJaccard(reps, "doc_id", "text", 3, 0.5)
      .join(perClsTag.select(col("__cls").as("id_a"),
        col("__tag").as("t1"), col("__mt").as("m1")), "id_a")
      .join(perClsTag.select(col("__cls").as("id_b"),
        col("__tag").as("t2"), col("__mt").as("m2")), "id_b")
      .select(least(col("t1"), col("t2")).as("a"),
        greatest(col("t1"), col("t2")).as("b"),
        (col("m1") * col("m2")).as("n"))
    val got = within.unionByName(cross)
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("n"))
      .filter(col("n") > 0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == ref, s"cells diverged:\nref=$ref\ngot=$got")
  }

  test("q90-shape: collapsed tfidfPairs == uncollapsed formulation on a twins corpus") {
    val docs = corpus.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    // uncollapsed reference — the pre-round-7 tfidfPairs body
    def tokens(c: org.apache.spark.sql.Column) = split(c, " ")
    val nDocs = docs.count().toDouble
    val tf = docs
      .select(col("doc_id").as("doc"), explode(tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(nDocs) / col("df")) + 1)
    val wgt = tf.join(broadcast(idf), "term")
      .select(col("doc"), col("term"), (col("tf") * col("idf")).as("w"))
    val nrm = wgt.groupBy(col("doc")).agg(sqrt(sum(col("w") * col("w"))).as("nn"))
    val ref = wgt.as("a").join(wgt.as("b"),
        col("a.term") === col("b.term") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .join(nrm.select(col("doc").as("d1"), col("nn").as("n1")), "d1")
      .join(nrm.select(col("doc").as("d2"), col("nn").as("n2")), "d2")
      .select(col("d1"), col("d2"),
        round(col("dot") / (col("n1") * col("n2")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("d1"), col("d2"))
      .limit(12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = TextAnalysis.tfidfPairs(docs, "doc_id", "text", 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == ref, s"top-12 diverged:\nref=$ref\ngot=$got")
    // the twins must dominate the head at cosine 1.0
    assert(got.head._3 == 1.0)
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("q154-shape: collapsedDocPairs(weightedNgramJaccard) == uncollapsed pairs") {
    val ref = pairSet(Dedup.weightedNgramJaccard(corpus, "doc_id", "text", 3, 0.5))
    val got = pairSet(Dedup.collapsedDocPairs(corpus, "doc_id", "text", "wjaccard")(
      reps => Dedup.weightedNgramJaccard(reps, "doc_id", "text", 3, 0.5)))
    assert(got == ref,
      s"pair sets diverged: only-ref=${(ref -- got).take(5)} only-got=${(got -- ref).take(5)}")
    // twins guarantee within-class pairs at sim 1.0 AND the corpus has
    // genuine cross-class qualifiers — both expansion arms exercised
    assert(got.exists(_._3 == 1.0) && got.exists(_._3 < 1.0))
  }

  test("null texts: collapsedDocPairs == raw pairs (null-text docs pair at 1.0)") {
    // r11 ADVICE adjudication (r12): the raw enumerators DO pair
    // null-text docs — split(null) flows into concat_ws, which renders
    // the null slice as one "" shingle, so null texts behave like empty
    // texts and self-pair at J = 1. The class-frame members join must
    // therefore be NULL-SAFE (<=>); a plain equality join dropped the
    // null class silently. Planted: three null-text docs (one class of
    // 3 ⇒ exactly C(3,2) = 3 pairs at 1.0) plus the twins corpus.
    val nulls = spark.range(3).select(
      (lit(95000000L) + col("id")).as("doc_id"),
      lit(null).cast("string").as("text"),
      lit("srcN").as("source"))
    val docs = corpus.select(col("doc_id"), col("text"), col("source"))
      .unionByName(nulls)
    val ref = pairSet(Dedup.weightedNgramJaccard(docs, "doc_id", "text", 3, 0.5))
    val got = pairSet(Dedup.collapsedDocPairs(docs, "doc_id", "text", "wjaccard")(
      reps => Dedup.weightedNgramJaccard(reps, "doc_id", "text", 3, 0.5)))
    assert(got == ref,
      s"pair sets diverged: only-ref=${(ref -- got).take(5)} only-got=${(got -- ref).take(5)}")
    assert(got.count(p => p._1 >= 95000000L && p._2 >= 95000000L && p._3 == 1.0) == 3,
      "the planted null-text class must contribute exactly its C(3,2) sim-1.0 pairs")
  }

  test("q25-shape: collapsedDocPairs(ngramJaccard) == uncollapsed pairs") {
    // r12: q25 rewired collapse-first (and ngramJaccard gained the
    // lossless length prefilter) — pin the doc-grain pair identity
    val ref = pairSet(Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 0.5))
    val got = pairSet(Dedup.collapsedDocPairs(corpus, "doc_id", "text", "jaccard")(
      reps => Dedup.ngramJaccard(reps, "doc_id", "text", 3, 0.5)))
    assert(got == ref,
      s"pair sets diverged: only-ref=${(ref -- got).take(5)} only-got=${(got -- ref).take(5)}")
    assert(got.exists(_._3 == 1.0) && got.exists(_._3 < 1.0))
  }

  test("q23-shape: collapsedDocPairs(nearMinhash) == uncollapsed pairs") {
    val ref = pairSet(Dedup.nearMinhash(corpus, "doc_id", "text", 3, 16, 4, 0.8))
    val got = pairSet(Dedup.collapsedDocPairs(corpus, "doc_id", "text", "jaccard")(
      reps => Dedup.nearMinhash(reps, "doc_id", "text", 3, 16, 4, 0.8)))
    assert(got == ref,
      s"pair sets diverged: only-ref=${(ref -- got).take(5)} only-got=${(got -- ref).take(5)}")
    assert(got.exists(_._3 == 1.0))
  }

  test("q24-shape: collapsedDocPairs(nearSimhash, selfSim=0) == uncollapsed pairs") {
    // hamming is a DISTANCE: identical texts score 0, so the
    // within-class arm must emit selfSim = 0 (r12 wrapper parameter)
    def hamSet(df: DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ref = hamSet(Dedup.nearSimhash(corpus, "doc_id", "text",
      maxHamming = 3, sig = Dedup.simhashMd5, sigBits = 60))
    val got = hamSet(Dedup.collapsedDocPairs(corpus, "doc_id", "text",
      "hamming", selfSim = lit(0))(
      reps => Dedup.nearSimhash(reps, "doc_id", "text",
        maxHamming = 3, sig = Dedup.simhashMd5, sigBits = 60)))
    assert(got == ref,
      s"pair sets diverged: only-ref=${(ref -- got).take(5)} only-got=${(got -- ref).take(5)}")
    assert(got.exists(_._3 == 0), "twins must pair at hamming 0")
  }

  test("q44-shape: collapsedDocPairs(ngramOverlap) == uncollapsed pairs") {
    val ref = pairSet(Dedup.ngramOverlap(corpus, "doc_id", "text", 3, 0.8))
    val got = pairSet(Dedup.collapsedDocPairs(corpus, "doc_id", "text", "overlap")(
      reps => Dedup.ngramOverlap(reps, "doc_id", "text", 3, 0.8)))
    assert(got == ref,
      s"pair sets diverged: only-ref=${(ref -- got).take(5)} only-got=${(got -- ref).take(5)}")
    assert(got.exists(_._3 == 1.0))
  }

  test("q177-shape: collapsedDocPairs(ngramJaccardPrefix) == uncollapsed pairs") {
    val ref = pairSet(Dedup.ngramJaccardPrefix(corpus, "doc_id", "text", 3, 0.5))
    val got = pairSet(Dedup.collapsedDocPairs(corpus, "doc_id", "text", "jaccard")(
      reps => Dedup.ngramJaccardPrefix(reps, "doc_id", "text", 3, 0.5)))
    assert(got == ref,
      s"pair sets diverged: only-ref=${(ref -- got).take(5)} only-got=${(got -- ref).take(5)}")
    assert(got.exists(_._3 == 1.0) && got.exists(_._3 < 1.0))
  }

  test("q42-shape: collapse-first dedupClusters == raw doc-grain CC") {
    // n_chars for the keep rule; plus a PLANTED ISOLATED twin class — a
    // gibberish text duplicated 3× that Jaccard-matches nothing else —
    // so the iso arm (multi-member class with no cross-class edge,
    // a doc-grain component the class-grain CC never sees) is
    // guaranteed exercised, not left to corpus luck
    val iso = spark.range(1).select(
      (lit(90000000L) + col("id")).as("doc_id"),
      lit("zzqx vrgh plik wmburt snagl zzqx vrgh plik").as("text"),
      lit("srcX").as("source"))
    val isoTwins = (1 to 2).map(i =>
      iso.withColumn("doc_id", col("doc_id") + lit(i.toLong)))
    // plus a SUB-SHINGLE-LENGTH duplicated text (2 tokens < shingleLen
    // 3): the iso arm's "members interconnect at J=1" claim leans on
    // shingleTable's >= 1-shingle whole-text fallback (see the
    // INVARIANT comment there) — with a zero-shingle fallback these
    // twins would emit no rows and this planted class would vanish from
    // got but not from ref
    val shorty = spark.range(1).select(
      (lit(95000000L) + col("id")).as("doc_id"),
      lit("qvrp zzit").as("text"),
      lit("srcX").as("source"))
    val shortTwins = (1 to 2).map(i =>
      shorty.withColumn("doc_id", col("doc_id") + lit(i.toLong)))
    val docs = (Seq(iso) ++ isoTwins ++ Seq(shorty) ++ shortTwins)
      .foldLeft(corpus)(_ unionByName _)
      .withColumn("n_chars", length(col("text")))
      .select(col("doc_id"), col("text"), col("n_chars"))
    // raw doc-grain reference — the pre-round-10 dedupClusters body
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5)
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val ref = cc.join(docs.select(col("doc_id"), col("n_chars")),
        cc("id") === col("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-col("n_chars")).as("negq"), col("doc_id").as("kid")))
          .getField("kid").as("keep_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Curation.dedupClustersOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == ref,
      s"clusters diverged: only-ref=${(ref -- got).take(5)} " +
        s"only-got=${(got -- ref).take(5)}")
    // the planted class must surface as its own 3-doc cluster via the
    // iso arm, keeping its min id
    assert(got.contains((90000000L, 3L, 90000000L)))
    // the sub-shingle-length twins must surface too — the >= 1-shingle
    // invariant in action (either arm is acceptable; existence is the
    // contract)
    assert(got.exists(t => t._1 == 95000000L && t._2 == 3L),
      "sub-shingle-length twin class lost — shingleTable's whole-text " +
        "fallback invariant broken?")
    // and the twins corpus guarantees edge-clusters too
    assert(got.exists(_._2 >= 4L))
  }

  test("q227-shape: collapse-first canonicalKeepBest == raw window formulation") {
    initQuiet()
    import org.apache.spark.sql.expressions.Window
    // twins corpus PLUS the two hostile cases the collapse must not
    // assume away: (a) byte-identical texts whose n_chars DIFFER (the
    // keeper candidate is per-doc, not per-class); (b) raw-distinct
    // texts that normalize to the SAME cluster key (case/punct
    // variants) with sources split across them, so a cluster's keeper
    // lives in a different source than its drops
    val variants = spark.createDataFrame(Seq(
      (80000001L, "srcA", 40L, "The Quick! Brown Fox 77"),
      (80000002L, "srcB", 22L, "the quick brown fox 77"),
      (80000003L, "srcB", 23L, "the quick  brown fox 77"),
      (80000004L, "srcA", 23L, "the quick brown fox 77"), // exact twin of 02, bigger n_chars
      (80000005L, "srcC", 23L, "the quick brown fox 77")  // exact twin, 3rd source
    )).toDF("doc_id", "source", "n_chars", "text")
    val docs = corpus
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .unionByName(variants)
    // raw doc-grain reference — the pre-round-11 canonicalKeepBest body
    val keyed = docs.select(col("doc_id"), col("source"), col("n_chars"),
      md5(TextAnalysis.normalize(col("text"))).as("__ck"))
    val w = Window.partitionBy(col("__ck"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ref = keyed.withColumn("__rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__rn") =!= 1, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("__rn") === 1, col("n_chars")).otherwise(0L)).as("kept_chars"),
        sum(when(col("__rn") =!= 1, col("n_chars")).otherwise(0L)).as("dropped_chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val got = Curation.canonicalKeepBestOf(docs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == ref,
      s"scorecards diverged: only-ref=${ref -- got} only-got=${got -- ref}")
    // the planted cluster: all five variants share one normalized key;
    // keeper is 80000001 (n_chars 40) in srcA — srcB/srcC keep nothing
    // from it, which only shows if the per-source attribution is exact
    val bySrc = got.map(t => t._1 -> t).toMap
    assert(bySrc("srcC")._3 == 0L, "srcC must keep nothing")
    assert(bySrc("srcA")._3 >= 1L)
  }

  test("q111-shape: winnowTopPairs == uncollapsed sharedFingerprints rollup") {
    val ref = Graph.sharedFingerprints(
        Graph.winnowFingerprints(corpus, "doc_id", "text", k = 4, w = 8),
        minShared = 3L, maxDfFrac = 0.1)
      .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
      .limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = Graph.winnowTopPairs(corpus, "doc_id", "text",
        k = 4, w = 8, minShared = 3L, maxDfFrac = 0.1, topK = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == ref, s"top-50 diverged:\nref=${ref.take(10)}…\ngot=${got.take(10)}…")
    assert(got.nonEmpty) // twins guarantee qualifying pairs
  }
}

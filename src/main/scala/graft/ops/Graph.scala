package graft.ops

import graft.{CacheScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph and statistical-dependence analytics (SURVEY.md §2.3.1
  * extensions, q107–q112): market-basket association rules, triangle
  * counting, bounded-hop BFS, mutual information / chi-squared,
  * winnowing document fingerprints, and iterative PageRank.
  *
  * Scale shapes:
  *  - [[assocRules]]: per-basket pair fan-out is bounded by basket
  *    size² (never corpus²); one basket-key shuffle builds all pairs.
  *  - [[triangles]]: edges oriented src < dst so each triangle is
  *    enumerated exactly once; the two equi-joins shuffle on edge
  *    endpoints. At web scale the orientation key becomes (degree, id)
  *    so the join fan-out concentrates on LOW-degree vertices — noted
  *    where it applies.
  *  - [[kHopDistances]]: frontier-style iterative expansion with a
  *    min-distance reduce per hop — state is (node, dist), never paths.
  *  - [[mutualInfo]]: one contingency aggregate (map-side partials);
  *    margins are attached to the |X|·|Y|-row joint by broadcast.
  *  - [[winnowFingerprints]]: the MOSS winnowing scheme — position
  *    explode is linear in corpus characters, fingerprint density is
  *    ~2/(w+1), and candidate pairs come from an inverted-index
  *    equi-join on fingerprint hash with a document-frequency cap on
  *    the hot head (the same lever as q90's idf head).
  *  - [[pageRank]]: rank state is one row per node; each iteration is
  *    one edges⋈ranks shuffle + one target-key aggregate. Iterations
  *    are a driver loop over DataFrames (lineage truncated per step at
  *    real scale via checkpointing; bounded here by the fixed
  *    iteration count).
  */
object Graph {

  // ------------------------------------------------------------ rules

  /** Directed association rules over (basket, item) pairs: for every
    * co-occurring item pair, support count, confidence
    * P(consequent | antecedent) and lift. Items are deduplicated
    * within a basket first; pair enumeration aggregates each basket to
    * a sorted item array and explodes its C(|basket|, 2) ordered pairs
    * from an array HOF — bounded by basket size, never by corpus size,
    * and ONE basket-key shuffle (round-7: the previous self-join form
    * shuffled the basket relation twice and equi-joined it against
    * itself for the same pair multiset). Counts are exact integers;
    * conf/lift are single IEEE divisions of those integers, identical
    * in any engine.
    *
    * Apriori pre-pruning (LOSSLESS): co(a,c) ≤ min(supp(a), supp(c)),
    * so an item with support < `minCo` can never reach a qualifying
    * pair — it is semi-joined OUT of the baskets BEFORE the pair
    * self-join, not filtered after counting. The quadratic per-basket
    * fan-out then runs over frequent items only; as data densifies the
    * frequent-item set is exactly the set the output can mention, so
    * the pair volume tracks the answer size, not raw basket size².
    * Identical output by the support bound (round-7 fix: the unpruned
    * form was the single most expensive query at 100× — 127.5 s).
    *
    * The per-basket array relation is kept cached ([[graft.CacheScope]]):
    * basket count, support and the pair stage all read it.
    *
    * `maxBasketSize`: optional LOSSY guard for adversarial baskets
    * (a basket with 10⁵ frequent items still fans out C(10⁵,2) pairs).
    * When set, each basket keeps only its `maxBasketSize` smallest
    * frequent items (deterministic truncation — a documented
    * approximation, off by default so the exact semantics are the
    * contract).
    */
  def assocRules(
      df: DataFrame, basketCol: String, itemCol: String,
      minCo: Long = 1L, maxBasketSize: Option[Int] = None): DataFrame = {
    // ONE basket-key shuffle builds everything: collect_set dedups
    // items WITHIN the aggregation (the previous distinct() + groupBy
    // pair shuffled the 60M-row relation twice at 100×), and the
    // persisted per-basket array table then feeds basket count,
    // support, and the pair stage — without the cache Spark re-derives
    // the whole upstream per consumer (measured: the dominant cost of
    // q107 at 100×).
    val grouped0 = CacheScope.keep(df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__xs")))
    val nBaskets = grouped0.agg(count(lit(1)).as("__n"))
    // supp is the FULL per-item support — conf/lift denominators are
    // defined over the whole corpus, independent of any pruning below.
    // Derived from the cached arrays: a narrow explode + a tiny
    // map-side-combined aggregate, never a re-scan of the fact.
    val supp = grouped0.select(explode(col("__xs")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__s"))
    // apriori prune at ARRAY level: the frequent-item set rides in as
    // one broadcast row (≤ |item-occurrences|/minCo entries — small at
    // any minCo that makes rule mining meaningful) and array_intersect
    // keeps the left argument's (sorted) order
    val pruned =
      if (minCo <= 1L) grouped0
      else {
        val freq = supp.filter(col("__s") >= minCo)
          .agg(sort_array(collect_list(col("__i"))).as("__freq"))
        grouped0.crossJoin(broadcast(freq))
          .withColumn("__xs", array_intersect(col("__xs"), col("__freq")))
          .drop("__freq")
      }
    // pair enumeration WITHOUT a self-join: the C(k,2) ordered pairs
    // explode from an array HOF — the original basket⋈basket equi-join
    // shuffled the relation twice and joined 50M×50M rows at 100× for
    // the same pair multiset. The sorted array makes `item_a < item_b`
    // positional (i < j ⇒ xs[i] < xs[j], items are basket-distinct).
    val capped = maxBasketSize match {
      case None => pruned
      case Some(cap) =>
        require(cap >= 2, s"maxBasketSize must be >= 2: $cap")
        pruned.withColumn("__xs", slice(col("__xs"), 1, cap))
    }
    val pairs = capped.select(explode(flatten(transform(col("__xs"),
      (x, i) => transform(
        slice(col("__xs"), i + lit(2), size(col("__xs"))),
        y => struct(x.as("a"), y.as("c")))))).as("__p"))
    val co = pairs
      .groupBy(col("__p.a").as("__a"), col("__p.c").as("__c"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
    val directed = co.union(co.select(col("__c"), col("__a"), col("co")))
    // supp is one row per distinct item — broadcast-sized for any real
    // basket vocabulary, but NOT by construction: the hint is guarded
    // on the measured item cardinality (Hints.broadcastIfBounded, one
    // approx_count_distinct over the cached basket arrays) so a
    // catalog-scale item universe demotes to a shuffled join instead
    // of forcing an executor OOM
    val suppH = Hints.broadcastIfBounded(
      supp, grouped0.select(explode(col("__xs")).as("__i")), col("__i"))
    directed
      .join(suppH.withColumnRenamed("__i", "__a")
        .withColumnRenamed("__s", "__sa"), "__a")
      .join(suppH.withColumnRenamed("__i", "__c")
        .withColumnRenamed("__s", "__sc"), "__c")
      .crossJoin(broadcast(nBaskets))
      .select(
        col("__a").as("antecedent"), col("__c").as("consequent"), col("co"),
        round(col("co").cast("double") / col("__sa"), 6).as("conf"),
        round(col("co").cast("double") * col("__n") /
          (col("__sa") * col("__sc")), 6).as("lift"))
  }

  // -------------------------------------------------------- triangles

  /** Per-node triangle participation counts. `edges` must be
    * undirected-unique: one row per edge with srcCol < dstCol (the
    * orientation that makes each triangle's enumeration unique —
    * e(a,b)⋈e(b,c)⋈e(a,c) with a<b<c). Two equi-joins on endpoints;
    * at web scale orient by (degree, id) instead of raw id so the
    * wedge fan-out concentrates on low-degree vertices.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // materialize the edge relation once: the wedge + closing joins
    // read it THREE times, and an expensive upstream (q108 derives
    // edges from a basket co-count aggregate) would otherwise be
    // re-derived per read (see kHopDistances for the cluster
    // checkpoint note)
    val e = CacheScope.checkpoint(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_count"))
  }

  // -------------------------------------------------------------- bfs

  /** Minimum hop distance from `source` to every node reachable in at
    * most `maxHops` hops over a DIRECTED edge list (symmetrize first
    * for undirected semantics). Frontier expansion joins the current
    * distance set to the edges and keeps the per-node min — state is
    * one row per reached node, never a path set, so memory is bounded
    * by |V| regardless of path multiplicity.
    */
  def kHopDistances(
      edges: DataFrame, srcCol: String, dstCol: String, source: Column,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 12, s"maxHops must be in 1..12: $maxHops")
    // materialize the edge relation once and truncate lineage per
    // iteration — without this every hop's plan re-derives the edges
    // and the final plan is O(maxHops × |edge plan|). localCheckpoint
    // trades fault tolerance for speed; a cluster job pointing at
    // 100 TB should setCheckpointDir and use reliable checkpoint()
    val e = CacheScope.checkpoint(
      edges.select(col(srcCol).as("__s"), col(dstCol).as("__d")))
    var dist = e.sparkSession.range(1)
      .select(source.as("node"), lit(0).as("dist"))
    for (hop <- 1 to maxHops) {
      val reached = dist.filter(col("dist") === hop - 1)
        .join(e, col("node") === col("__s"))
        .select(col("__d").as("node"), lit(hop).as("dist"))
      val next = CacheScope.checkpoint(dist.union(reached)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      CacheScope.release(dist); dist = next
    }
    dist
  }

  // ------------------------------------------------- mutual information

  /** Dependence diagnostics between two categorical columns from one
    * contingency pass: mutual information (nats), Pearson chi-squared
    * and Cramér's V, plus the row count. The joint table is
    * |X|·|Y| rows; margins attach to it by broadcast. All counts are
    * exact longs, so every downstream double is the same IEEE
    * computation in any engine (final rounding absorbs summation-order
    * noise across the tiny cell set).
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val joint = df.groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__c"))
    val mx = joint.groupBy(col("__x")).agg(sum(col("__c")).as("__cx"))
    val my = joint.groupBy(col("__y")).agg(sum(col("__c")).as("__cy"))
    val tot = joint.agg(sum(col("__c")).as("__n"),
      countDistinct(col("__x")).as("__rx"), countDistinct(col("__y")).as("__ry"))
    val cells = joint.join(broadcast(mx), "__x").join(broadcast(my), "__y")
      .crossJoin(broadcast(tot))
    val n = col("__n").cast("double")
    val p = col("__c") / n
    val e = col("__cx").cast("double") * col("__cy") / n
    // the joint table holds only OBSERVED cells; zero cells contribute
    // e each to Σ(c−e)²/e, so use the identity chi² = Σc²/e − n
    // (zero cells contribute 0 to Σc²/e)
    val chi2 = sum(col("__c") * col("__c") / e) - max(col("__n"))
    cells.agg(
      max(col("__n")).as("n"),
      round(sum(p * log(p / ((col("__cx") / n) * (col("__cy") / n)))), 6)
        .as("mi_nats"),
      round(chi2, 6).as("chi2"),
      round(sqrt(greatest(chi2, lit(0.0)) /
        (max(col("__n")) * least(max(col("__rx")) - 1, max(col("__ry")) - 1))), 6)
        .as("cramers_v"))
  }

  // -------------------------------------------------------- winnowing

  /** Winnowing fingerprints (the MOSS scheme): hash every k-character
    * gram, slide a w-hash window, keep each window's minimum (ties →
    * rightmost), emit the distinct selected hashes per document.
    * Guarantees any shared substring of length ≥ w+k−1 yields a shared
    * fingerprint. The k-gram hash is exact integer polynomial
    * arithmetic over code points (portable across engines); the
    * rightmost-min tie rule is encoded arithmetically as
    * min(h·2²⁰ + (2²⁰−1−pos)). Documents shorter than w+k−1
    * characters (no full window) and positions ≥ 2²⁰ (cap, documented)
    * are excluded. Cost: linear in corpus characters; density of
    * selected hashes ≈ 2/(w+1).
    */
  def winnowFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8): DataFrame = {
    require(k >= 2 && k <= 16 && w >= 2, s"bad k=$k w=$w")
    val p = col(idCol).as("__doc")
    val grams = docs
      .select(p, col(textCol).as("__t"),
        (length(col(textCol)) - (k - 1)).as("__np"))
      .filter(col("__np") >= w)
      .select(col("__doc"), col("__t"), col("__np"),
        explode(sequence(lit(1), col("__np"))).as("pos"))
      .filter(col("pos") < lit(1 << 20))
    val h = (0 until k).map(i =>
        ascii(col("__t").substr(col("pos") + lit(i), lit(1))).cast("long"))
      .reduceLeft((acc, a) => acc * 31L + a)
    val keyed = grams.withColumn("__key",
      h * lit(1L << 20) + (lit((1 << 20) - 1) - col("pos")))
    val win = Window.partitionBy(col("__doc")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    keyed
      .withColumn("__sel", min(col("__key")).over(win))
      .filter(col("pos") <= col("__np") - (w - 1))
      .select(col("__doc").as("doc"),
        // integer DIV: long `/` is double division and the key can
        // exceed 2^53 on high-codepoint grams
        expr("__sel DIV 1048576").as("fp"))
      .distinct()
  }

  /** Document pairs ranked by shared winnowing fingerprints — the
    * candidate set of a plagiarism/near-dup detector. Fingerprints
    * whose document frequency exceeds `maxDfFrac` of the corpus are
    * dropped before pairing (boilerplate grams pair everything with
    * everything — the inverted-index hot head), then candidates come
    * from ONE equi-join on fingerprint hash. Never all-pairs.
    */
  def sharedFingerprints(
      fps: DataFrame, minShared: Long = 2L,
      maxDfFrac: Double = 0.1): DataFrame = {
    val nDocs = fps.agg(countDistinct(col("doc")).as("__nd"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") <= col("__nd") * maxDfFrac)
      .select(col("fp"))
    val kept = fps.join(rare, "fp")
    kept.as("l")
      .join(kept.as("r"), col("l.fp") === col("r.fp") &&
        col("l.doc") < col("r.doc"))
      .groupBy(col("l.doc").as("doc_a"), col("r.doc").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // --------------------------------------------------------- pagerank

  /** PageRank over a weighted directed edge list (`wCol` = transition
    * probability out of src; out-weights should sum to 1 per src).
    * Fixed `iters` power iterations at damping d:
    * r' = (1−d)/N + d·Σ_in w·r. Nodes without in-edges settle at
    * (1−d)/N; rank leaked by dangling nodes is NOT redistributed
    * (documented convention — both engines in the oracle pair compute
    * the same fixpoint). Rank state is |V| rows; each iteration is one
    * edges⋈ranks shuffle + one aggregate.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      nodes: DataFrame, nodeCol: String, iters: Int = 5,
      d: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in 1..50: $iters")
    // edges and the vertex set are reused every iteration and the rank
    // state is checkpointed per step — otherwise the final lineage is
    // O(iters × |edge plan|) (see kHopDistances for the cluster note).
    // r12 (guide §3.1): a checkpoint loses stats (LogicalRDD defaults
    // to defaultSizeInBytes), so the per-iteration state⋈edges joins
    // all planned SMJ — every half-step re-shuffled AND re-sorted the
    // edge list (exchange reuse never spans checkpoint jobs). The
    // |V|-row state / contribution frames now carry posture-aware
    // broadcast hints (the no-broadcast regime degrades back to SMJ,
    // see ScaleConfig.scalingBroadcast): the edge list streams through
    // a hash probe un-sorted and un-shuffled, and only the ≤|V|-row
    // partial aggregates cross an exchange per iteration. (An r12
    // variant that also pre-partitioned the edges per group key and
    // normalized via a driver-collected scalar was MEASURED SLOWER —
    // these queries' node/edge sets are type-bounded, so the extra
    // checkpoint + collect jobs cost more dispatch than the removed
    // exchanges saved; amp100 fresh-JVM q112 3.2 s → 5.0 s — and was
    // dropped.)
    val e = CacheScope.checkpoint(edges.select(col(srcCol).as("__s"),
      col(dstCol).as("__d"), col(wCol).as("__w")))
    val v = CacheScope.checkpoint(nodes.select(col(nodeCol).as("node")).distinct())
    val nN = v.count()
    var ranks = v.withColumn("rank", lit(1.0 / nN))
    for (_ <- 1 to iters) {
      val contrib = e.join(graft.ScaleConfig.scalingBroadcast(ranks),
          col("node") === col("__s"))
        .groupBy(col("__d").as("node"))
        .agg(sum(col("rank") * col("__w")).as("__m"))
      val next = CacheScope.checkpoint(v.join(graft.ScaleConfig.scalingBroadcast(contrib),
          Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - d) / nN) + lit(d) * coalesce(col("__m"), lit(0.0)))
            .as("rank")))
      CacheScope.release(ranks); ranks = next
    }
    ranks
  }

  // ---------------------------------------------------- shared inputs

  /** Distinct (order, brand) baskets — the q107/q108/q109 input. */
  private def brandBaskets(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("bid"), col("p_brand").as("item"))

  /** Undirected-unique co-occurrence edges: brand pairs whose co-order
    * count is at least the mean pair co-count (a scale-free edge rule
    * — both engines compute the identical double mean from exact
    * integer counts). */
  private def brandEdges(spark: SparkSession, dir: String): DataFrame = {
    // same no-self-join pair enumeration as assocRules: one basket-key
    // aggregate to a sorted array, C(k,2) pairs from an array HOF. The
    // |items|²-bounded co table is persisted — the cut scalar and the
    // edge filter both read it, and each read would otherwise re-run
    // the whole basket build.
    val grouped = brandBaskets(spark, dir)
      .groupBy(col("bid")).agg(sort_array(collect_set(col("item"))).as("__xs"))
    val co = CacheScope.keep(grouped
      .select(explode(flatten(transform(col("__xs"),
        (x, i) => transform(
          slice(col("__xs"), i + lit(2), size(col("__xs"))),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).as("co")))
    val cut = co.agg(avg(col("co")).as("__cut"))
    co.crossJoin(broadcast(cut)).filter(col("co") >= col("__cut"))
      .select(col("a"), col("b"))
  }

  // --------------------------------------------------------------- q107

  /** q107 — brand association rules over order baskets: which brands
    * pull which others into the same order. Directed rules with
    * support ≥ 20, ranked by lift. */
  def assocQuery(spark: SparkSession, dir: String): DataFrame =
    assocRules(brandBaskets(spark, dir), "bid", "item", minCo = 20L)
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(200)

  // --------------------------------------------------------------- q108

  /** q108 — triangle participation per brand in the co-occurrence
    * graph (edges = pair co-count ≥ mean). */
  def triangleQuery(spark: SparkSession, dir: String): DataFrame =
    triangles(brandEdges(spark, dir), "a", "b")
      .orderBy(col("tri_count").desc, col("node"))

  // --------------------------------------------------------------- q109

  /** q109 — BFS hop distance from Brand#1 over the symmetrized
    * co-occurrence graph, bounded at 3 hops. */
  def bfsQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = brandEdges(spark, dir)
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    kHopDistances(sym, "a", "b", lit("Brand#1"), maxHops = 3)
      .orderBy(col("dist"), col("node"))
  }

  // --------------------------------------------------------------- q110

  /** q110 — is return behavior independent of supplier nation?
    * MI / chi² / Cramér's V over the (nation, returnflag) contingency
    * from lineitem⋈supplier⋈nation (dims broadcast). */
  def miQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_returnflag"))
    mutualInfo(li, "n_name", "l_returnflag")
  }

  // --------------------------------------------------------------- q111

  /** Top-`topK` winnowing pairs with exact-duplicate classes collapsed
    * BEFORE the pair machinery ([[graft.text.Dedup.exactClassAgg]]):
    * fingerprints are text-functional, so the rare-fingerprint
    * inverted index holds one representative per distinct text
    * (document frequency still counts every document via the class
    * multiplicity, so the `maxDfFrac` cutoff is the uncollapsed one),
    * within-class pairs share exactly the class's rare-fingerprint
    * count, and the doc-level top-k expands only the classes at or
    * above the k-th best class-pair `shared` — the same sound-cutoff
    * argument as `TextAnalysis.tfidfPairs`. Value-identical to
    * `sharedFingerprints(winnowFingerprints(docs)) → sort → limit`;
    * on the exact-twins amplified corpus the index self-join cost
    * drops from (m·df)² to df² per fingerprint.
    */
  def winnowTopPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8, minShared: Long = 2L,
      maxDfFrac: Double = 0.1, topK: Int = 100): DataFrame = {
    // r11: class frame via ONE text-keyed aggregate (exactClassAgg,
    // persisted) — the old withExactClasses window re-ran its corpus
    // sort for each of the four consumers (classes + the three `ids`
    // joins below). fps is likewise persisted: it is class-grain
    // (distinct-content-bounded) and feeds nd/dfreq/kept, which each
    // re-ran the per-character explode+window fingerprint subtree.
    val frame = graft.text.Dedup.exactClassAgg(
      docs.select(col(idCol).as("__did"), col(textCol).as("__txt")),
      "__did", "__txt")
    val classes = frame
      .select(col("__cls").as("doc"), col("__txt"), col("__m"))
    // eagerly materialized (r11 ADVICE): nd/dfreq/kept consume fps as
    // concurrent broadcast builds — racing an unmaterialized cache
    // would duplicate the fingerprint subtree per consumer
    val fps = CacheScope.eager(
      winnowFingerprints(classes, "doc", "__txt", k, w))
    // multiplicity-aware document frequency: a class's fingerprint set
    // is shared by all m of its members, and so is its presence in the
    // "has fingerprints at all" denominator (the length filter is
    // text-functional too)
    val clsM = classes.select(col("doc"), col("__m"))
    val nd = fps.select(col("doc")).distinct()
      .join(clsM, "doc").agg(sum(col("__m")).as("__nd"))
    val dfreq = fps.join(clsM, "doc")
      .groupBy(col("fp")).agg(sum(col("__m")).as("__df"))
    val rare = dfreq.crossJoin(broadcast(nd))
      .filter(col("__df") <= col("__nd") * maxDfFrac)
      .select(col("fp"))
    val kept = fps.join(rare, "fp")
    val cross = kept.as("l")
      .join(kept.as("r"), col("l.fp") === col("r.fp") &&
        col("l.doc") < col("r.doc"))
      .groupBy(col("l.doc").as("c1"), col("r.doc").as("c2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    // a twin pair shares the class's ENTIRE rare-fingerprint set
    val self = kept.groupBy(col("doc")).agg(count(lit(1)).as("shared"))
      .join(clsM.filter(col("__m") >= 2), "doc")
      .filter(col("shared") >= minShared)
      .select(col("doc").as("c1"), col("doc").as("c2"), col("shared"))
    val classPairs = cross.unionByName(self)
    val boundary = classPairs
      .orderBy(col("shared").desc).limit(topK)
      .agg(min(col("shared")).as("__b"))
    val keep = classPairs.crossJoin(broadcast(boundary))
      .filter(col("shared") >= col("__b"))
    // member grain only materializes for the ≤topK boundary classes;
    // built by joining the corpus to the cached class frame on text
    // instead of re-running the class window per consumer, and
    // persisted (two longs per corpus row) because the three expansion
    // joins below each re-execute their input subtree
    // NULL-SAFE join (r11 ADVICE): keeps any null-text class's members
    // attached, the same rule as Dedup.collapsedDocPairs members
    val ids = CacheScope.eager(
      docs.select(col(idCol).as("__did"), col(textCol).as("__txt"))
        .join(frame.select(col("__txt").as("__ftxt"), col("__cls")),
          col("__txt") <=> col("__ftxt"))
        .select(col("__cls"), col("__did")))
    val crossDocs = keep.filter(col("c1") =!= col("c2"))
      .join(ids.select(col("__cls").as("c1"), col("__did").as("__da")), "c1")
      .join(ids.select(col("__cls").as("c2"), col("__did").as("__db")), "c2")
      .select(least(col("__da"), col("__db")).as("doc_a"),
        greatest(col("__da"), col("__db")).as("doc_b"), col("shared"))
    val selfDocs = keep.filter(col("c1") === col("c2"))
      .join(ids.select(col("__cls").as("c1"), col("__did").as("__da")), "c1")
      .join(ids.select(col("__cls").as("c1"), col("__did").as("__db")), "c1")
      .filter(col("__da") < col("__db"))
      .select(col("__da").as("doc_a"), col("__db").as("doc_b"), col("shared"))
    crossDocs.unionByName(selfDocs)
      .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  /** q111 — winnowed near-dup candidates: document pairs sharing ≥ 3
    * rare winnowing fingerprints (k=4, w=8, df cap 10%). */
  def winnowQuery(spark: SparkSession, dir: String): DataFrame =
    winnowTopPairs(Tables.load(spark, dir, "documents"),
      "doc_id", "text", k = 4, w = 8, minShared = 3L,
      maxDfFrac = 0.1, topK = 100)

  // --------------------------------------------------------------- q112

  /** q112 — PageRank over the event-type transition graph: edge weight
    * = P(next | prev) from per-user consecutive events (ts, event_id
    * ordered); 5 iterations at d=0.85. The "attention sink" readout of
    * the q95 Markov matrix. */
  def pageRankQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = ev
      .select(col("user_id"), col("event_type").as("next"), col("ts"),
        col("event_id"))
      .withColumn("prev", lag(col("next"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    val edges = trans.withColumn("w",
      col("n") / sum(col("n")).over(Window.partitionBy(col("prev"))))
    val nodes = ev.select(col("event_type")).distinct()
    pageRank(edges, "prev", "next", "w", nodes, "event_type",
        iters = 5, d = 0.85)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node"))
  }

  // --------------------------------------------------------------- q138

  /** Pointwise mutual information over unordered co-occurring item
    * pairs: pmi = ln(n·c_ab/(c_a·c_b)) and the [−1,1]-normalized
    * npmi = pmi/−ln(c_ab/n) (null when the pair co-occurs in EVERY
    * basket — the normalizer is 0). Same bounded C(|basket|,2)
    * fan-out as [[assocRules]]; every ln argument is a ratio of exact
    * integer products, so both engines evaluate the identical double.
    */
  def pmiPairs(
      df: DataFrame, basketCol: String, itemCol: String,
      minCo: Long = 1L): DataFrame = {
    val baskets = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val nBaskets = baskets.agg(countDistinct(col("__b")).as("__n"))
    val supp = baskets.groupBy(col("__i")).agg(count(lit(1)).as("__s"))
    val co = baskets.as("l")
      .join(baskets.as("r"), col("l.__b") === col("r.__b") &&
        col("l.__i") < col("r.__i"))
      .groupBy(col("l.__i").as("__a"), col("r.__i").as("__c2"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
    // item-vocabulary attach, cardinality-guarded like assocRules'
    val suppH = Hints.broadcastIfBounded(supp, baskets, col("__i"))
    co
      .join(suppH.withColumnRenamed("__i", "__a")
        .withColumnRenamed("__s", "__sa"), "__a")
      .join(suppH.withColumnRenamed("__i", "__c2")
        .withColumnRenamed("__s", "__sc"), "__c2")
      .crossJoin(broadcast(nBaskets))
      .select(
        col("__a").as("item_a"), col("__c2").as("item_b"), col("co"),
        col("__sa").as("n_a"), col("__sc").as("n_b"),
        round(log((col("co") * col("__n")) /
          (col("__sa") * col("__sc")).cast("double")), 6).as("pmi"),
        round(log((col("co") * col("__n")) /
          (col("__sa") * col("__sc")).cast("double")) /
          nullif(-log(col("co") / col("__n").cast("double")), lit(0.0)), 6)
          .as("npmi"))
  }

  /** q138 — PMI between event types over (user, day) activity baskets:
    * which behaviors genuinely co-occur beyond what their base rates
    * predict — the signal q107's confidence/lift read on orders,
    * normalized to [−1,1] for cross-pair comparison. */
  def pmiQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(concat_ws("#", col("user_id"), to_date(col("ts")).cast("string"))
        .as("bid"), col("event_type").as("item"))
    pmiPairs(ev, "bid", "item")
      .coalesce(1).orderBy(col("item_a"), col("item_b"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q107_assoc_rules" -> (assocQuery _),
    "q108_triangles" -> (triangleQuery _),
    "q109_bfs" -> (bfsQuery _),
    "q110_mutual_info" -> (miQuery _),
    "q111_winnowing" -> (winnowQuery _),
    "q112_pagerank" -> (pageRankQuery _),
    "q138_pmi" -> (pmiQuery _),
    "q202_hits" -> (hitsQuery _),
    "q203_clustering" -> (clusteringQuery _),
    "q211_assortativity" -> (assortativityQuery _))

  // --------------------------------------------------------------- q202

  /** HITS hubs-and-authorities over a DIRECTED weighted edge list:
    * auth(i) ← Σ_{p→i} w·hub(p), hub(p) ← Σ_{p→i} w·auth(i), each
    * vector L1-normalized per half-step so scores are shares. Same
    * distributed shape as [[pageRank]] (state = one row per node;
    * one edges⋈state shuffle + one key aggregate per half-step;
    * lineage truncated per iteration), but TWO scores: where PageRank
    * finds where attention lands, HITS separates the POINTERS (hubs —
    * events that lead on to everything) from the DESTINATIONS
    * (authorities).
    */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      nodes: DataFrame, nodeCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in 1..50: $iters")
    // r12 (guide §3.1, same surgery as [[pageRank]]): posture-aware
    // broadcast hints on the |V|-row state / contribution frames — the
    // old form's checkpoints lost stats, so all six half-steps planned
    // SMJ and re-shuffled + re-sorted the edge list each time. The
    // checkpoint now materializes the RAW half-step state and the L1
    // normalization is a lazy projection over it (divided values
    // bit-identical — same operands), so `normalized`'s old
    // crossJoin(broadcast(tot)) no longer re-executes the half-step
    // pipeline inside the broadcast build: tot aggregates the ≤|V|-row
    // checkpointed frame itself. (A further variant with per-group-key
    // edge copies + driver-collected tot was measured SLOWER — see the
    // pageRank note — and dropped.)
    val e = CacheScope.checkpoint(edges.select(col(srcCol).as("__s"),
      col(dstCol).as("__d"), col(wCol).as("__w")))
    val v = CacheScope.checkpoint(nodes.select(col(nodeCol).as("node")).distinct())
    // one half-step: edges ⋈ broadcast state → aggregate → left-attach
    // to v (keeps zero-in/out nodes) → checkpoint raw → lazily
    // L1-normalize by the 1-row total of the CHECKPOINTED frame;
    // returns (checkpointed raw, normalized)
    def halfStep(state: DataFrame, stateCol: String,
        joinKey: String, groupKey: String, outCol: String): (DataFrame, DataFrame) = {
      val raw = CacheScope.checkpoint(v.join(graft.ScaleConfig.scalingBroadcast(
          e.join(graft.ScaleConfig.scalingBroadcast(state),
              col("node") === col(joinKey))
            .groupBy(col(groupKey))
            .agg(sum(col(stateCol) * col("__w")).as("__m"))),
          col("node") === col(groupKey), "left")
        .select(col("node"), coalesce(col("__m"), lit(0.0)).as(outCol)))
      val tot = raw.agg(sum(col(outCol)).as("__t"))
      (raw, raw.crossJoin(broadcast(tot))
        .select(col("node"), (col(outCol) / col("__t")).as(outCol)))
    }
    var (hub, auth) = (v.withColumn("h", lit(1.0)), v.withColumn("a", lit(1.0)))
    var held = Seq.empty[DataFrame] // the previous iteration's checkpoints
    for (_ <- 1 to iters) {
      val (authRaw, a) = halfStep(hub, "h", "__s", "__d", "a")
      val (hubRaw, h) = halfStep(a, "a", "__d", "__s", "h")
      held.foreach(CacheScope.release)
      held = Seq(authRaw, hubRaw); auth = a; hub = h
    }
    auth.join(graft.ScaleConfig.scalingBroadcast(hub), "node")
  }

  /** q202 — HITS over the event-type transition graph (edge weight =
    * exact transition count): authorities are the states sessions
    * converge INTO, hubs the states they fan out FROM — the
    * directional readout q112's single PageRank score blends.
    */
  def hitsQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = ev
      .select(col("user_id"), col("event_type").as("next"), col("ts"),
        col("event_id"))
      .withColumn("prev", lag(col("next"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    val nodes = ev.select(col("event_type")).distinct()
    hits(trans, "prev", "next", "n", nodes, "event_type", iters = 3)
      .select(col("node"), round(col("a"), 6).as("auth"),
        round(col("h"), 6).as("hub"))
      .coalesce(1).orderBy(col("auth").desc, col("node"))
  }

  // --------------------------------------------------------------- q203

  // --------------------------------------------------------------- q211

  /** q211 — degree assortativity of the brand co-occurrence graph:
    * the Pearson correlation of endpoint degrees over all DIRECTED
    * edge instances (each undirected edge counted both ways — the
    * Newman convention; by symmetry Σdx = Σdy and Σdx² = Σdy², which
    * the query exploits). Positive = hubs attach to hubs (rich club),
    * negative = hub-and-spoke. Degrees are exact integers; the
    * co-moments are one aggregate over the 2|E| endpoint pairs in
    * decimal(38,0); r is q144's closed Pearson form. Plan: degree
    * table joined to both edge endpoints (two broadcast-size attaches
    * at |nodes| rows), one global aggregate, ONE row out.
    */
  def assortativityQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = CacheScope.checkpoint(brandEdges(spark, dir))
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val pairs = sym
      .join(broadcast(deg).withColumnRenamed("node", "a")
        .withColumnRenamed("deg", "dx"), "a")
      .join(broadcast(deg).withColumnRenamed("node", "b")
        .withColumnRenamed("deg", "dy"), "b")
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(d38(col("dx"))).as("sx"),
      sum(d38(col("dx") * col("dx"))).as("sxx"),
      sum(d38(col("dx") * col("dy"))).as("sxy"),
      max(col("dx")).as("max_deg"))
    // symmetry: sy = sx, syy = sxx — the numerator/denominator reuse sx/sxx
    val num = (col("n") * col("sxy") - col("sx") * col("sx")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select((col("n") / 2).cast("long").as("n_edges"),
        col("max_deg"),
        round(col("sx").cast("double") / col("n").cast("double"), 4)
          .as("avg_edge_end_deg"),
        round(num / den, 6).as("assortativity"))
  }

  /** q203 — local clustering coefficient per brand in the q108
    * co-occurrence graph: cc = 2·tri/(deg·(deg−1)) — how much of each
    * node's neighborhood is itself connected (the community-tightness
    * readout on top of q108's raw triangle counts). Triangle and
    * degree counts are exact integers from the same oriented edge
    * list; cc is ONE division; deg ≤ 1 nodes are null, never NaN.
    */
  def clusteringQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = CacheScope.checkpoint(brandEdges(spark, dir))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    deg.join(triangles(e, "a", "b"), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("tri_count"), lit(0L)) /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("clustering"))
      .coalesce(1).orderBy(col("clustering").desc_nulls_last,
        col("tri_count").desc, col("node"))
  }
}

/** DuckDB twins for [[Graph]] (driver correctness gate). */
object GraphOracle {

  private val baskets =
    """baskets AS (
      |  SELECT DISTINCT l.l_orderkey AS bid, p.p_brand AS item
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)""".stripMargin

  private val edges =
    s"""$baskets,
      |co AS (
      |  SELECT l.item AS a, r.item AS b, count(*) AS co
      |  FROM baskets l JOIN baskets r
      |    ON l.bid = r.bid AND l.item < r.item
      |  GROUP BY l.item, r.item),
      |edges AS (
      |  SELECT a, b FROM co WHERE co >= (SELECT avg(co) FROM co))""".stripMargin

  /** Unrolled HITS iterations: per half-step, the raw mass pull then
    * the L1 normalization, mirroring [[Graph.hits]] exactly. */
  private def hitsIters(n: Int): String =
    (1 to n).map { i =>
      s"""a${i}r AS (
        |  SELECT v.node, coalesce(m.s, 0.0) AS a
        |  FROM v LEFT JOIN (
        |    SELECT e.next AS node, sum(h.h * e.n) AS s
        |    FROM h${i - 1} h JOIN trans e ON e.prev = h.node
        |    GROUP BY e.next) m ON m.node = v.node),
        |a$i AS (SELECT node, a / (SELECT sum(a) FROM a${i}r) AS a FROM a${i}r),
        |h${i}r AS (
        |  SELECT v.node, coalesce(m.s, 0.0) AS h
        |  FROM v LEFT JOIN (
        |    SELECT e.prev AS node, sum(a.a * e.n) AS s
        |    FROM a$i a JOIN trans e ON e.next = a.node
        |    GROUP BY e.prev) m ON m.node = v.node),
        |h$i AS (SELECT node, h / (SELECT sum(h) FROM h${i}r) AS h FROM h${i}r)"""
        .stripMargin
    }.mkString(",\n")

  /** Unrolled PageRank iterations (recursive CTEs cannot aggregate in
    * the recursive term, so the fixed iteration count is expanded). */
  private def prIters(n: Int): String =
    (1 to n).map { i =>
      s"""r$i AS (
        |  SELECT v.node,
        |         (1.0 - 0.85) / (SELECT c FROM nn) +
        |         0.85 * coalesce(m.s, 0.0) AS rank
        |  FROM v LEFT JOIN (
        |    SELECT e.next AS node, sum(r.rank * e.w) AS s
        |    FROM r${i - 1} r JOIN edges e ON e.prev = r.node
        |    GROUP BY e.next) m ON m.node = v.node)""".stripMargin
    }.mkString(",\n")

  val all: Seq[(String, String)] = Seq(
    // identical exact-count pair join; conf/lift are single divisions
    "q107_assoc_rules" ->
      s"""WITH $baskets,
        |n AS (SELECT count(DISTINCT bid) AS n FROM baskets),
        |supp AS (SELECT item, count(*) AS s FROM baskets GROUP BY item),
        |co AS (
        |  SELECT l.item AS a, r.item AS b, count(*) AS co
        |  FROM baskets l JOIN baskets r
        |    ON l.bid = r.bid AND l.item < r.item
        |  GROUP BY l.item, r.item HAVING count(*) >= 20),
        |dir AS (
        |  SELECT a, b, co FROM co
        |  UNION ALL SELECT b, a, co FROM co)
        |SELECT d.a AS antecedent, d.b AS consequent, d.co,
        |       round(CAST(d.co AS DOUBLE) / sa.s, 6) AS conf,
        |       round(CAST(d.co AS DOUBLE) * (SELECT n FROM n) /
        |             (sa.s * sc.s), 6) AS lift
        |FROM dir d JOIN supp sa ON sa.item = d.a
        |           JOIN supp sc ON sc.item = d.b
        |ORDER BY lift DESC, antecedent, consequent LIMIT 200""".stripMargin,

    // a<b<c orientation makes each triangle's enumeration unique
    "q108_triangles" ->
      s"""WITH $edges,
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e2.a = e1.b
        |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (
        |  SELECT unnest([a, b, c]) AS node FROM tri)
        |SELECT node, count(*) AS tri_count
        |FROM nodes GROUP BY node
        |ORDER BY tri_count DESC, node""".stripMargin,

    // (node, hop) state recursion bounded by maxHops; min per node
    "q109_bfs" ->
      s"""WITH RECURSIVE $edges,
        |sym AS (
        |  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        |reach(node, hop) AS (
        |  SELECT 'Brand#1' AS node, 0 AS hop
        |  UNION
        |  SELECT s.b, r.hop + 1
        |  FROM reach r JOIN sym s ON s.a = r.node
        |  WHERE r.hop < 3)
        |SELECT node, min(hop) AS dist
        |FROM reach GROUP BY node ORDER BY dist, node""".stripMargin,

    // same contingency integers; doubles are the same IEEE divisions
    "q110_mutual_info" ->
      """WITH base AS (
        |  SELECT n.n_name AS x, l.l_returnflag AS y
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey),
        |joint AS (SELECT x, y, count(*) AS c FROM base GROUP BY x, y),
        |mx AS (SELECT x, sum(c) AS cx FROM joint GROUP BY x),
        |my AS (SELECT y, sum(c) AS cy FROM joint GROUP BY y),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |               count(DISTINCT x) AS rx, count(DISTINCT y) AS ry
        |        FROM joint)
        |SELECT tot.n,
        |       round(sum((c / CAST(tot.n AS DOUBLE)) *
        |             ln((c / CAST(tot.n AS DOUBLE)) /
        |                ((cx / CAST(tot.n AS DOUBLE)) *
        |                 (cy / CAST(tot.n AS DOUBLE))))), 6) AS mi_nats,
        |       round(sum(c * c / (cx * CAST(cy AS DOUBLE) / tot.n)) - tot.n,
        |             6) AS chi2,
        |       round(sqrt(greatest(sum(c * c / (cx * CAST(cy AS DOUBLE) / tot.n)) - tot.n, 0.0) /
        |             (tot.n * least(tot.rx - 1, tot.ry - 1))), 6) AS cramers_v
        |FROM joint JOIN mx USING (x) JOIN my USING (y), tot
        |GROUP BY tot.n, tot.rx, tot.ry""".stripMargin,

    // identical polynomial k-gram hash, rightmost-min window encoding,
    // df cap, and inverted-index pair join
    "q111_winnowing" ->
      """WITH pos AS (
        |  SELECT doc_id AS doc, text AS t, length(text) - 3 AS np,
        |         unnest(generate_series(1, length(text) - 3)) AS pos
        |  FROM documents WHERE length(text) - 3 >= 8),
        |hashed AS (
        |  SELECT doc, np, pos,
        |         ((CAST(ascii(substr(t, pos, 1)) AS BIGINT) * 31 +
        |           ascii(substr(t, pos + 1, 1))) * 31 +
        |           ascii(substr(t, pos + 2, 1))) * 31 +
        |           ascii(substr(t, pos + 3, 1)) AS h
        |  FROM pos WHERE pos < 1048576),
        |keyed AS (
        |  SELECT doc, np, pos, h * 1048576 + (1048575 - pos) AS key
        |  FROM hashed),
        |sel AS (
        |  SELECT doc, np, pos,
        |         min(key) OVER (PARTITION BY doc ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS selkey
        |  FROM keyed),
        |fps AS (
        |  SELECT DISTINCT doc, selkey // 1048576 AS fp
        |  FROM sel WHERE pos <= np - 7),
        |nd AS (SELECT count(DISTINCT doc) AS nd FROM fps),
        |rare AS (
        |  SELECT fp FROM fps GROUP BY fp
        |  HAVING count(*) <= (SELECT nd FROM nd) * 0.1),
        |kept AS (SELECT f.doc, f.fp FROM fps f JOIN rare USING (fp))
        |SELECT l.doc AS doc_a, r.doc AS doc_b, count(*) AS shared
        |FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc < r.doc
        |GROUP BY l.doc, r.doc HAVING count(*) >= 3
        |ORDER BY shared DESC, doc_a, doc_b LIMIT 100""".stripMargin,

    // same transition weights; 5 unrolled power iterations
    "q112_pagerank" ->
      s"""WITH seq AS (
        |  SELECT user_id, event_type AS next, ts, event_id,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |trans AS (
        |  SELECT prev, next, count(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, next),
        |edges AS (
        |  SELECT prev, next,
        |         n / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE) AS w
        |  FROM trans),
        |v AS (SELECT DISTINCT event_type AS node FROM events),
        |nn AS (SELECT count(*) AS c FROM v),
        |r0 AS (
        |  SELECT node, 1.0 / (SELECT c FROM nn) AS rank FROM v),
        |${prIters(5)}
        |SELECT node, round(rank, 6) AS rank
        |FROM r5 ORDER BY rank DESC, node""".stripMargin,

    // same (user,day) baskets, same exact-integer ln arguments
    "q138_pmi" ->
      """WITH b AS (
        |  SELECT DISTINCT
        |         user_id || '#' || CAST(CAST(ts AS DATE) AS VARCHAR) AS bid,
        |         event_type AS item
        |  FROM events),
        |n AS (SELECT CAST(count(DISTINCT bid) AS BIGINT) AS n FROM b),
        |supp AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY item),
        |co AS (
        |  SELECT l.item AS item_a, r.item AS item_b,
        |         CAST(count(*) AS BIGINT) AS co
        |  FROM b l JOIN b r ON l.bid = r.bid AND l.item < r.item
        |  GROUP BY l.item, r.item)
        |SELECT co.item_a, co.item_b, co.co, sa.s AS n_a, sc.s AS n_b,
        |       round(ln((co.co * n.n) / CAST(sa.s * sc.s AS DOUBLE)), 6)
        |         AS pmi,
        |       round(ln((co.co * n.n) / CAST(sa.s * sc.s AS DOUBLE)) /
        |             nullif(-ln(co.co / CAST(n.n AS DOUBLE)), 0.0), 6)
        |         AS npmi
        |FROM co JOIN supp sa ON sa.item = co.item_a
        |        JOIN supp sc ON sc.item = co.item_b
        |        CROSS JOIN n
        |ORDER BY item_a, item_b""".stripMargin,

    // same exact transition counts, same L1-normalized half-steps
    "q202_hits" ->
      s"""WITH seq AS (
        |  SELECT user_id, event_type AS next, ts, event_id,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |trans AS (
        |  SELECT prev, next, count(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, next),
        |v AS (SELECT DISTINCT event_type AS node FROM events),
        |h0 AS (SELECT node, 1.0 AS h FROM v),
        |${hitsIters(3)}
        |SELECT v.node, round(a3.a, 6) AS auth, round(h3.h, 6) AS hub
        |FROM v JOIN a3 ON a3.node = v.node JOIN h3 ON h3.node = v.node
        |ORDER BY auth DESC, v.node""".stripMargin,

    // same oriented triangle enumeration + symmetrized degree count;
    // cc is the identical single division
    "q203_clustering" ->
      s"""WITH $edges,
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e2.a = e1.b
        |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (
        |  SELECT node, count(*) AS tri_count
        |  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node),
        |deg AS (
        |  SELECT node, count(*) AS degree
        |  FROM (SELECT a AS node FROM edges
        |        UNION ALL SELECT b AS node FROM edges)
        |  GROUP BY node)
        |SELECT d.node, d.degree, coalesce(tc.tri_count, 0) AS tri_count,
        |       CASE WHEN d.degree >= 2 THEN
        |         round(2.0 * coalesce(tc.tri_count, 0) /
        |               CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
        |       END AS clustering
        |FROM deg d LEFT JOIN tc ON tc.node = d.node
        |ORDER BY clustering DESC NULLS LAST, tri_count DESC, d.node"""
        .stripMargin,

    // same symmetrized endpoint pairs, same exact co-moments and
    // closed Pearson form exploiting Σdx = Σdy
    "q211_assortativity" ->
      s"""WITH $edges,
        |sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        |deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY a),
        |pairs AS (
        |  SELECT da.deg AS dx, db.deg AS dy
        |  FROM sym JOIN deg da ON da.node = sym.a
        |           JOIN deg db ON db.node = sym.b),
        |m AS (
        |  SELECT count(*) AS n,
        |         sum(CAST(dx AS DECIMAL(38,0))) AS sx,
        |         sum(CAST(dx * dx AS DECIMAL(38,0))) AS sxx,
        |         sum(CAST(dx * dy AS DECIMAL(38,0))) AS sxy,
        |         max(dx) AS max_deg
        |  FROM pairs)
        |SELECT CAST(n / 2 AS BIGINT) AS n_edges, CAST(max_deg AS BIGINT)
        |         AS max_deg,
        |       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4)
        |         AS avg_edge_end_deg,
        |       round(CAST(n * sxy - sx * sx AS DOUBLE) /
        |             CAST(n * sxx - sx * sx AS DOUBLE), 6) AS assortativity
        |FROM m""".stripMargin)
}

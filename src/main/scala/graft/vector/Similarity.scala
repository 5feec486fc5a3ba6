package graft.vector

import graft.GraftFunctions
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k. The correctness baseline:
  *    broadcast the (small) query set against the corpus; per-query
  *    heap-free top-k via a rank window. O(|corpus|·|queries|) work but
  *    one scan, no shuffle of the corpus itself.
  *  - [[annTopK]] — the scale path: random-hyperplane LSH. Each vector
  *    maps to a `p`-bit bucket code (sign of dot with `p` fixed
  *    hyperplanes); candidates are corpus rows sharing a bucket with the
  *    query (multi-probe: plus all codes at Hamming distance 1), then
  *    exact cosine re-ranks candidates only. At 100 TB the bucket join is
  *    a keyed shuffle on the code — cost follows collision volume, not
  *    corpus² — and the hyperplanes are compile-time literals, so the
  *    whole thing stays codegen'd with no model state to ship.
  */
object Similarity {

  /** Deterministic hyperplanes: fixed-seed Gaussian, dim × p. */
  private def hyperplanes(p: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(p)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Embedding width, read from the first row. A wrong `dim` is silent
    * poison for LSH — `zip_with` null-pads length mismatches, the dot
    * product goes null, every sign bit reads 0 and ALL vectors land in
    * one bucket (correct output, quadratic cost). One-row metadata read;
    * at any scale this touches a single row group.
    */
  private[vector] def vecDim(df: DataFrame, vecCol: String): Int =
    vecDimOpt(df, vecCol).getOrElse(
      throw new IllegalArgumentException(
        s"cannot derive embedding dim from '$vecCol': input is empty"))

  /** [[vecDim]] for callers that handle an EMPTY corpus themselves
    * (None) rather than erroring; one head(1) job either way. */
  private[vector] def vecDimOpt(df: DataFrame, vecCol: String): Option[Int] =
    df.select(size(col(vecCol)).as("d")).head(1).headOption.map { first =>
      require(!first.isNullAt(0) && first.getInt(0) > 0,
        s"cannot derive embedding dim from '$vecCol': first row is null/empty")
      first.getInt(0)
    }

  /** Fail-fast guard: raise at execution if a vector's length ≠ dim
    * (one cheap size check per row, vs p·L dot products after it). */
  private[vector] def requireDim(vec: Column, dim: Int): Column =
    when(size(vec) === dim, vec).otherwise(
      raise_error(concat(
        lit(s"embedding dim mismatch: expected $dim, got "),
        size(vec).cast("string"))))

  /** Exact cosine top-k: for each row of `queries`, the `k` nearest
    * corpus rows by cosine similarity (descending, id ascending ties).
    */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"), asDouble(col(queryVecCol)).as("qv"))
    val scored = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        round(GraftFunctions.cosineSim(col("v"), col("qv")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("id"), col("sim"), col("rk"))
  }

  /** LSH bucket code (long with `p` sign bits) for a vector column.
    * `dim` is required — it must equal the actual vector width (the
    * entry points derive it via [[vecDim]] and guard with [[requireDim]]).
    */
  def bucketCode(vec: Column, dim: Int, p: Int = 16, seed: Long = 42L): Column = {
    val planes = hyperplanes(p, dim, seed)
    planes.zipWithIndex.map { case (plane, i) =>
      val d = aggregate(
        zip_with(vec, typedLit(plane), (x, y) => x * y), lit(0d), (a, x) => a + x)
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Approximate cosine top-k via multi-table random-hyperplane LSH.
    *
    * Standard (p, L) construction: L independent tables, each hashing a
    * vector to a p-bit sign code; a corpus row is a candidate if it
    * shares a bucket with the query in ANY table. For near-random data,
    * per-plane collision prob for angle θ is 1−θ/π, so recall per table
    * is (1−θ/π)^p and overall 1−(1−(1−θ/π)^p)^L — p controls bucket
    * size (cost), L buys recall.
    *
    * `p` defaults from the corpus count so mean bucket occupancy stays
    * ≈ `bucketTarget`: p = log2(n / bucketTarget). That is the scale
    * knob — at 10⁹ rows p grows to ~25 bits and per-query candidate
    * volume stays L·bucketTarget, independent of corpus size, while the
    * bucket join remains one keyed shuffle.
    *
    * Same output shape as [[bruteForceTopK]]; recall@k ≥ 0.8 vs exact is
    * the A4 contract ON THE DEFAULTS (SURVEY.md §2.3), so the defaults
    * are sized for the WORST case measured in ANN_RECALL (near-random
    * embeddings, no neighborhood structure): L=32 tables at ≈128/bucket
    * delivers recall@10 ≈ 0.99 there (vs 0.48 at the old L=12/32 —
    * a user calling with no knobs got silently bad neighbors). Cost
    * scales linearly in L and in bucketTarget; a corpus with real
    * cluster structure sustains the bar at the cheaper (12, 32) end —
    * the full dial is in the per-round ANN_RECALL artifact.
    */
  def annTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, L: Int = 32, bucketTarget: Int = 128,
      pOverride: Option[Int] = None, seed: Long = 42L): DataFrame =
    annTopKIndexed(
      lshIndex(corpus, idCol, vecCol, L, bucketTarget, pOverride, seed),
      queries, queryIdCol, queryVecCol, k)

  /** Prebuilt banded LSH index: POSTINGS (id, table, code) — three
    * narrow columns, never the vector — plus the (id, v) vector table
    * and the hashing geometry a probe needs to code queries
    * identically. The serving-path split of [[annTopK]]: at corpus
    * scale the banding pass (L·p hyperplane dot products per vector —
    * the dominant per-row cost, ~16k multiplies per 64-dim vector at
    * the defaults) is paid ONCE at build; persist `banded` bucketed by
    * (table, code) and `vectors` by id, and every query batch pays its
    * own coding, the bucket equi-join, and one id-join that re-attaches
    * vectors to the CANDIDATE set only. Postings deliberately do NOT
    * carry `v`: the explode replicates every row L× — at 64-dim floats
    * that is a ~20× larger index (and, r9, made appending a 10% growth
    * slice cost MORE than the 90% base build, because re-persisting the
    * union re-copied 3 GB of duplicated vectors). Same principle as
    * [[graft.text.Dedup.nearMinhash]], which never ships shingle arrays
    * through its banding join. The inline [[annTopK]] repays the full
    * banding per call — fine for one-shot analytics, wrong for
    * index-once/probe-many serving. */
  final case class LshIndex(
      banded: DataFrame, vectors: DataFrame,
      dim: Int, p: Int, L: Int, seed: Long)

  /** Build the [[LshIndex]] for [[annTopKIndexed]]. Same defaults and
    * p auto-sizing as [[annTopK]] (p = log2(n / bucketTarget), so mean
    * bucket occupancy — and so per-query candidate volume — stays
    * ≈ bucketTarget at any corpus size). */
  def lshIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      L: Int = 32, bucketTarget: Int = 128,
      pOverride: Option[Int] = None, seed: Long = 42L): LshIndex = {
    val dim = vecDim(corpus, vecCol)
    val p = pOverride.getOrElse {
      val n = corpus.count()
      math.max(2, (math.log(math.max(n / bucketTarget, 2).toDouble) / math.log(2)).ceil.toInt)
    }
    val vectors = corpus.select(
      col(idCol).as("id"), requireDim(asDouble(col(vecCol)), dim).as("v"))
    val banded = vectors.select(col("id"),
      posexplode(bucketCodes(col("v"), dim, p, L, seed))
        .as(Seq("table", "code")))
    LshIndex(banded, vectors, dim, p, L, seed)
  }

  private def bucketCodes(
      vec: Column, dim: Int, p: Int, L: Int, seed: Long): Column =
    array((0 until L).map(t => bucketCode(vec, dim, p, seed + t * 7919L)): _*)

  /** The new-segment half of [[lshIndexAppend]]: `newRows` projected to
    * the index's (vectors, postings) pair at its frozen geometry —
    * exposed so a serving layer can persist/write JUST the appended
    * segment (the base segments are already cached/bucketed; repaying
    * their materialization per append defeats the append). */
  def lshSegment(
      index: LshIndex, newRows: DataFrame,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val vectors = newRows.select(
      col(idCol).as("id"),
      requireDim(asDouble(col(vecCol)), index.dim).as("v"))
    val banded = vectors.select(col("id"),
      posexplode(bucketCodes(col("v"), index.dim, index.p, index.L,
        index.seed)).as(Seq("table", "code")))
    (banded, vectors)
  }

  /** Incremental maintenance of a serving [[LshIndex]]: band ONLY the
    * `newRows` with the index's frozen geometry (dim, p, L, seed) and
    * union them onto the existing postings/vectors — a growing corpus
    * never repays the full-corpus banding pass (~60 s at the r9 100×
    * corpus vs seconds for a 10% batch). Provably equal to rebuilding
    * over corpus ∪ newRows at the SAME geometry (banding is a pure
    * per-row map — pinned in SimilaritySpec), so probes are oblivious
    * to how the index grew.
    *
    * The one thing append freezes is `p`: [[lshIndex]] auto-sizes it
    * as log2(n / bucketTarget), so after the corpus roughly doubles,
    * mean bucket occupancy (and so per-query candidate volume) has
    * doubled too — the standard serving cadence is append between
    * rebuilds and rebuild when occupancy drifts past ~2× target.
    * Callers persist the NEW segment themselves ([[lshSegment]] gives
    * it to them directly); re-persisting the whole union would re-copy
    * the already-cached base.
    *
    * ID CONTRACT (r9 ADVICE): `newRows` ids must be NEW — append never
    * dedups against the base (an anti-join would rescan the whole
    * vectors table per append, defeating the append). A re-appended id
    * duplicates its postings AND its vector row; probes stay correct —
    * [[annTopKIndexed]] dedups (query_id, id) after the vector join, so
    * a duplicated id holds ONE rank — but the index carries dead weight.
    * Streaming maintenance gets the guarantee for free from micro-batch
    * idempotence ([[graft.streaming.StreamingOps]]' index sinks skip
    * replayed batchIds); batch callers appending a possibly-overlapping
    * slice should anti-join it on id against `index.vectors` first.
    */
  def lshIndexAppend(
      index: LshIndex, newRows: DataFrame,
      idCol: String, vecCol: String): LshIndex = {
    val (banded, vectors) = lshSegment(index, newRows, idCol, vecCol)
    index.copy(
      banded = index.banded.unionByName(banded),
      vectors = index.vectors.unionByName(vectors))
  }

  /** Probe a prebuilt [[LshIndex]]: code the queries with the index's
    * geometry, equi-join the POSTINGS on (table, code), re-attach
    * vectors to the collision-rate-sized candidate set by id (the
    * nearMinhash shape — candidates ≈ L·bucketTarget per query, ≪
    * corpus), exact-cosine re-rank, top-k per query (ties break on
    * id). Output shape identical to [[annTopK]] / [[bruteForceTopK]]. */
  def annTopKIndexed(
      index: LshIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int): DataFrame = {
    // geometry-only reads (IndexStore.readLshGeometry) carry null frames
    // by contract — fail here with the cause, not an NPE in the planner
    require(index.banded != null && index.vectors != null,
      "probe needs a full index — this LshIndex is geometry-only " +
        "(IndexStore.readLshGeometry); load it with IndexStore.readLsh")
    val q0 = queries.select(
        col(queryIdCol).as("query_id"),
        requireDim(asDouble(col(queryVecCol)), index.dim).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(bucketCodes(col("qv"), index.dim, index.p, index.L,
          index.seed)).as(Seq("table", "code")))
    // serving batches are small by construction but caller-controlled —
    // guard the hint (q116 pattern) so a bulk self-join-sized "batch"
    // degrades to a planner-chosen shuffle join instead of an OOM. A
    // broadcast probe never reshuffles the banded side: the index scans
    // in place (the amortization ANNSERVE_r* measures).
    val q = graft.ops.Hints.broadcastIfBounded(q0, q0, col("query_id"))
    val cand = index.banded.join(q, Seq("table", "code"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("id"))
    // dedup AFTER the vectors join (r9 ADVICE): a duplicate id in
    // index.vectors (an append that re-indexed an already-indexed row)
    // would re-multiply a pre-join-deduped candidate through the id
    // join, letting one id occupy several top-k ranks and displace true
    // neighbors. Post-join the dedup collapses BOTH sources at once —
    // multi-table bucket collisions and duplicate vector rows — for the
    // same single exchange (the dedup shuffle moves after the join; its
    // input inflation is the per-pair collision factor, ≤ L, typically
    // ~1–2). Duplicate ids carry identical v by the append contract, so
    // which row survives is value-irrelevant (sim is equal).
    val scored = cand.join(index.vectors, Seq("id"))
      .select(col("query_id"), col("id"),
        round(GraftFunctions.cosineSim(col("v"), col("qv")), 6).as("sim"))
      .dropDuplicates("query_id", "id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("id"), col("sim"), col("rk"))
  }

  /** Max-cosine cell assignment against literal-broadcast centroids —
    * the shared primitive under [[ivfTopK]] and
    * [[SemanticDedup]]: centroids are KBs of driver-side doubles baked
    * into the expression, so assignment is one codegen'd narrow map with
    * no model state to ship. Ties break to the LARGER cell index
    * (deterministic); a single centroid short-circuits to 0.
    *
    * r9: runs on the fused native [[graft.functions.expressions
    * .CellArgMax]] — one zero-allocation loop per row — instead of the
    * `greatest(struct(cosine, i), ...)` composition
    * ([[cellAssignmentComposed]], kept as the parity reference), which
    * built numCells structs per row and dominated IVF index builds.
    * Value identity is spec-pinned (CellArgMaxSpec) — same ordered
    * cosine arithmetic, same tie rule.
    */
  def cellAssignment(vec: Column, cs: IndexedSeq[Seq[Double]]): Column =
    if (cs.size == 1) lit(0)
    else GraftFunctions.cellArgmax(vec, typedLit(cs.map(_.toSeq)))

  /** The pure-composition formulation of [[cellAssignment]] — reference
    * semantics for the native expression's equivalence test. Allocates
    * numCells structs per row: do not use on hot paths. */
  private[graft] def cellAssignmentComposed(
      vec: Column, cs: IndexedSeq[Seq[Double]]): Column =
    if (cs.size == 1) lit(0)
    else greatest(cs.zipWithIndex.map { case (c, i) =>
      struct(
        GraftFunctions.cosineSim(vec, typedLit(c)).as("sim"),
        lit(i).as("cell"))
    }: _*).getField("cell")

  /** Lloyd-trained centroids over the whole corpus:
    * init = smallest-xxhash64 ids (retries replay identically), then
    * `lloydIters` rounds of element-wise mean per max-cosine cell. Each
    * round is one aggregate whose result (numCells × dim rows) is
    * driver-small at any corpus size; empty cells keep their previous
    * centroid. May return FEWER than `numCells` centroids on a tiny
    * corpus — callers clamp to the actual count.
    */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, numCells: Int,
      lloydIters: Int = 2): IndexedSeq[Seq[Double]] = {
    val dim = vecDim(corpus, vecCol)
    val base = corpus.select(
      col(idCol).as("id"), requireDim(asDouble(col(vecCol)), dim).as("v"))
    trainOnBase(base, numCells, lloydIters)
  }

  /** Lloyd training over an ALREADY-projected `(id, v)` base — shared by
    * [[trainCentroids]] and [[ivfTopK]] so a caller that has projected
    * (and dim-guarded) its vectors once does not pay the `vecDim` head()
    * job and the projection a second time. */
  private[vector] def trainOnBase(
      base: DataFrame, numCells: Int,
      lloydIters: Int): IndexedSeq[Seq[Double]] = {
    var centroids: IndexedSeq[Seq[Double]] =
      base.orderBy(xxhash64(col("id").cast("string")), col("id"))
        .limit(numCells).select(col("v")).collect().map(_.getSeq[Double](0)).toIndexedSeq
    require(centroids.nonEmpty, "corpus too small to seed centroids")

    for (_ <- 0 until lloydIters) {
      // element-wise mean per cell: posexplode + (cell, pos) aggregate —
      // numCells × dim result rows, driver-small at any corpus size.
      // The cell assignment is projected in its OWN select BELOW the
      // generator: a non-generator expression in the same select as
      // posexplode lands in the Project ABOVE Generate and re-evaluates
      // per exploded element — numCells cosines × dim per VECTOR
      // (measured r9: one Lloyd pass at 200k×64d ran 44 CPU-min/task
      // before this split; seconds after)
      val means = base
        .select(cellAssignment(col("v"), centroids).as("cell"), col("v"))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .collect().groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    centroids
  }

  /** IVF (inverted-file) ANN — the second scale path next to LSH
    * [[annTopK]], trading LSH's obliviousness for data-adaptive cells:
    *
    *  1. TRAIN: `numCells` centroids by Lloyd iterations over a
    *     the corpus ([[trainCentroids]] — init =
    *     smallest-xxhash64 ids, so retries replay identically).
    *     Centroids are driver-side (numCells × dim doubles — KBs),
    *     broadcast into expressions as literals, so assignment stays
    *     inside codegen with no model state to ship.
    *  2. ASSIGN: each corpus vector to its max-cosine centroid
    *     ([[cellAssignment]]) — one narrow map; at 100 TB you'd persist
    *     this as a `cell`-partitioned table (see [[graft.sources.IO]]
    *     writers) and amortize across queries.
    *  3. PROBE: each query explodes to its `nProbe` nearest cells; the
    *     cell equi-join pulls only those cells' vectors — work follows
    *     probed-cell volume ≈ nProbe/numCells of the corpus, not the
    *     corpus itself.
    *  4. RERANK: exact cosine over candidates, rank-window top-k.
    *
    * Ties in both argmax-assignment and probe order break by cell index
    * (deterministic). Empty cells keep their previous centroid.
    *
    * Default `nProbe` = numCells/2: like [[annTopK]], the A4 recall
    * contract (≥ 0.8 at defaults) is sized for the measured WORST case —
    * near-random embeddings, where IVF recall tracks the scanned
    * fraction (ANN_RECALL: 0.44 at 8/64 probes, ≥ 0.85 at 32/64). On a
    * corpus with genuine cluster structure the cells are informative and
    * nProbe = 4–8 sustains the bar at a fraction of the cost — that is
    * the dial to turn DOWN after measuring recall on your data, rather
    * than a default that silently under-recalls on hard corpora.
    */
  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, numCells: Int = 64, nProbe: Int = 32,
      lloydIters: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCells, s"nProbe must be in [1, $numCells]")
    ivfTopKIndexed(
      ivfIndex(corpus, idCol, vecCol, numCells, lloydIters),
      queries, queryIdCol, queryVecCol, k, nProbe)
  }

  /** Prebuilt IVF index: the cell-assigned corpus plus the trained
    * centroids a probe needs to pick its cells. The serving-path split
    * of [[ivfTopK]] (the IVF twin of [[LshIndex]]): at corpus scale the
    * Lloyd training AND the per-vector max-cosine cell assignment (a
    * numCells-way argmax per row — the dominant per-row cost) are paid
    * ONCE at build; persist `data` (or write it `cell`-partitioned via
    * the [[graft.sources.IO]] writers) and every query batch pays only
    * its own nProbe cell picks plus the cell equi-join over the probed
    * fraction of the corpus. The inline [[ivfTopK]] retrains and
    * reassigns per call — fine for one-shot analytics, wrong for
    * index-once/probe-many serving. */
  final case class IvfIndex(
      data: DataFrame, centroids: IndexedSeq[Seq[Double]], dim: Int)

  /** Build the [[IvfIndex]] for [[ivfTopKIndexed]]. Same training and
    * assignment as [[ivfTopK]] (deterministic xxhash64 seeding, empty
    * cells keep their previous centroid). */
  def ivfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int = 64, lloydIters: Int = 2): IvfIndex = {
    val dim = vecDim(corpus, vecCol)
    val base = corpus.select(
      col(idCol).as("id"), requireDim(asDouble(col(vecCol)), dim).as("v"))
    val centroids = trainOnBase(base, numCells, lloydIters)
    IvfIndex(
      base.withColumn("cell", cellAssignment(col("v"), centroids)),
      centroids, dim)
  }

  /** Incremental maintenance of a serving [[IvfIndex]]: assign ONLY
    * the `newRows` to the index's FROZEN centroids ([[cellAssignment]]
    * — a pure per-row argmax, no retrain) and union them onto the
    * cell-assigned corpus. Provably equal to assigning corpus ∪
    * newRows against the same centroids (pinned in SimilaritySpec);
    * the Lloyd training is never repaid.
    *
    * What append freezes is the centroid set: appended data that
    * drifts from the training distribution degrades cell balance (hot
    * cells ⇒ probe cost creep) and recall — the serving cadence is
    * append between rebuilds and retrain when the appended fraction or
    * the cell-occupancy skew (q257-style audit over `data`) crosses
    * the operator's threshold. Callers persist the union themselves.
    *
    * ID CONTRACT (r9 ADVICE, same as [[lshIndexAppend]]): `newRows` ids
    * must be NEW. IVF cells are disjoint, so with unique ids a
    * (query_id, id) candidate appears at most once and the probe needs
    * no dedup exchange; a re-appended id would occupy two ranks in
    * [[ivfTopKIndexed]]'s top-k. Streaming maintenance enforces this by
    * batchId idempotence; batch callers appending a possibly-
    * overlapping slice anti-join on id against `index.data` first.
    */
  def ivfIndexAppend(
      index: IvfIndex, newRows: DataFrame,
      idCol: String, vecCol: String): IvfIndex =
    index.copy(data = index.data.unionByName(
      ivfSegment(index, newRows, idCol, vecCol)))

  /** The new-segment half of [[ivfIndexAppend]]: `newRows` assigned to
    * the index's frozen centroids — exposed so a serving layer can
    * persist/write JUST the appended segment (see [[lshSegment]]). */
  def ivfSegment(
      index: IvfIndex, newRows: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    newRows.select(
        col(idCol).as("id"),
        requireDim(asDouble(col(vecCol)), index.dim).as("v"))
      .withColumn("cell", cellAssignment(col("v"), index.centroids))
  }

  /** Probe a prebuilt [[IvfIndex]]: each query explodes to its nProbe
    * nearest cells (centroids are index-side literals — no model state
    * shipped), the cell equi-join pulls only those cells' vectors, and
    * exact cosine re-ranks. Output shape identical to [[ivfTopK]] /
    * [[bruteForceTopK]]. */
  def ivfTopKIndexed(
      index: IvfIndex, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      nProbe: Int = 32): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    // same guard as annTopKIndexed: geometry-only reads carry data=null
    require(index.data != null,
      "probe needs a full index — this IvfIndex is geometry-only " +
        "(IndexStore.readIvfGeometry); load it with IndexStore.readIvf")
    val centroids = index.centroids
    // a tiny corpus may yield FEWER centroids than numCells — probe
    // count follows the actual centroid count, not the requested one
    val probes = math.min(nProbe, centroids.size)
    // nProbe nearest cells per query: sort (−sim, cell) structs, take nProbe
    val probeArr = slice(array_sort(array(centroids.zipWithIndex.map {
      case (c, i) =>
        struct(
          (-GraftFunctions.cosineSim(col("qv"), typedLit(c))).as("negsim"),
          lit(i).as("cell"))
    }: _*)), 1, probes)
    val q = queries.select(
        col(queryIdCol).as("query_id"),
        requireDim(asDouble(col(queryVecCol)), index.dim).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(probeArr.getField("cell")).as("cell"))

    val cand = index.data.join(q, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        round(GraftFunctions.cosineSim(col("v"), col("qv")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("id"))
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("id"), col("sim"), col("rk"))
  }

  /** Per-vector symmetric int8 scalar quantization: `q_i = round(v_i/s)`
    * with `s = max|v| / 127`, stored as (`array<tinyint>`, float scale) —
    * 4× smaller than float32 at rest AND on the wire, which at 100 TB is
    * the difference between an embedding shuffle that fits and one that
    * spills. Pure narrow map (codegen'd array HOFs, no shuffle);
    * dequantize is `q_i · s` ([[dequantizeInt8]]). Element error is
    * bounded by s/2, so cosine against the dequantized vector stays
    * ≈ 1 − O(1/127²) (test-asserted). Zero vectors quantize to scale 0 /
    * all-zero codes and round-trip exactly.
    */
  def quantizeInt8(
      df: DataFrame, vecCol: String,
      qCol: String = "q", scaleCol: String = "q_scale"): DataFrame = {
    val v = col(vecCol)
    val maxAbs = aggregate(v, lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val out = df.withColumn(scaleCol, (maxAbs / 127.0d).cast("float"))
    out.withColumn(qCol,
      when(col(scaleCol) === 0.0f, transform(v, _ => lit(0).cast("tinyint")))
        .otherwise(transform(v, x =>
          round(x.cast("double") / col(scaleCol).cast("double")).cast("tinyint"))))
  }

  /** Inverse of [[quantizeInt8]]: reconstruct `array<float>` from the
    * int8 codes and per-vector scale. */
  def dequantizeInt8(qCol: Column, scaleCol: Column): Column =
    transform(qCol, x => (x.cast("double") * scaleCol.cast("double")).cast("float"))

  /** Embedding near-duplicate pairs: all (a<b) pairs with cosine ≥ τ.
    *
    * Exact: a broadcast cross-join, so the corpus must be broadcastable
    * (the oracle-checked q26 path). One side is broadcast and the scan
    * side stays partitioned — no single-key shuffle hotspot. Past a
    * broadcastable corpus, [[lshIndex]] + [[annTopK]] are the LSH path.
    */
  def nearDupCosine(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val dim = vecDim(df, vecCol)
    // persisted: the cross-join scans `base` on both sides — without
    // the cache the dim guard recomputes per scan
    val base = graft.CacheScope.keep(
      df.select(col(idCol).as("id"), requireDim(asDouble(col(vecCol)), dim).as("v")))
    val pairs = base.select(col("id").as("id_a"), col("v").as("va"))
      .crossJoin(broadcast(base.select(col("id").as("id_b"), col("v").as("vb"))))
    // threshold on the UNROUNDED cosine (matches the oracle's WHERE,
    // which filters before any rounding); round only in the projection —
    // otherwise a pair with true sim in [threshold−5e-7, threshold) is
    // kept here but excluded by the oracle
    pairs
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosineSim(col("va"), col("vb")).as("sim_raw"))
      .filter(col("sim_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim_raw"), 6).as("sim"))
  }
}

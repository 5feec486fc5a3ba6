package graft.vector

import graft.GraftFunctions
import graft.functions.VectorFunctions._
import graft.text.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication: near-duplicate removal in
  * EMBEDDING space (paraphrases, translations-of-boilerplate, templated
  * rewrites — duplicates that share no n-grams and are invisible to
  * MinHash/SimHash), made tractable by k-means clustering. The pattern
  * follows Abbas et al. 2023 (arXiv:2303.09540), which pairs k-means
  * clustering with within-cluster cosine thresholds on web-scale
  * corpora; the Spark shape here is:
  *
  *  1. CLUSTER: Lloyd-trained centroids ([[Similarity.trainCentroids]] —
  *     deterministic init), assignment as a literal-broadcast
  *     codegen'd map ([[Similarity.cellAssignment]]).
  *  2. PAIR: cosine over same-cell pairs only — the cell equi-join is
  *     one keyed shuffle, and the quadratic term drops from n² to
  *     Σ|cell|² ≈ n²/numCells. numCells is the scale knob: grow it
  *     linearly with the corpus (SemDeDup uses ~10⁵ cells at 10⁹ docs)
  *     to hold E[|cell|] — and with it per-task pair work — constant.
  *  3. RESOLVE: transitive near-dup chains collapse via
  *     [[Dedup.connectedComponents]]; one representative (min id) per
  *     component survives.
  *
  * The approximation (vs all-pairs [[Similarity.nearDupCosine]]): a pair
  * straddling two cells is never compared. `numCells = 1` recovers the
  * exact brute force (equivalence is test-asserted); byte-identical
  * embeddings always share a cell, so EXACT duplicates are never missed
  * at any cell count.
  */
object SemanticDedup {

  /** Within-cell near-duplicate pairs: (id_a < id_b, cosine ≥ tau),
    * cosine rounded to 6 in the projection but thresholded unrounded.
    */
  def semanticPairs(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      numCells: Int = 64, lloydIters: Int = 2): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"tau must be a cosine in [-1,1]: $tau")
    // empty corpus → empty pair set (dedup of nothing is nothing), not a
    // seed-centroid error; detected by the dim probe itself, so the
    // non-empty path pays no extra job
    val dimOpt = Similarity.vecDimOpt(df, vecCol)
    if (dimOpt.isEmpty)
      return df.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0d).as("sim")).limit(0)
    // same fail-fast dim guard as ivfTopK/annTopK: a width-mismatched
    // vector must raise, not silently null its cosines out of every pair
    val dim = dimOpt.get
    val projected = df.select(col(idCol).as("id"),
      Similarity.requireDim(asDouble(col(vecCol)), dim).as("v"))
    val centroids = Similarity.trainOnBase(projected, numCells, lloydIters)
    pairsWithin(projected, tau, centroids)
  }

  /** The PAIR stage of [[semanticPairs]] with PROVIDED centroids — the
    * steps 2–3 machinery factored out so a caller can inject a
    * deterministic cell tiling instead of the Lloyd-trained one. The
    * oracle-checked q268 entry feeds per-label integer-grid centroids
    * (the q152/q256 exact-integer convention), which makes the whole
    * assignment cross-engine bit-deterministic; the default entry point
    * injects its trained centroids through the same code path, so the
    * oracle gate exercises exactly the production pairing machinery.
    */
  def semanticPairsWith(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      centroids: IndexedSeq[Seq[Double]]): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"tau must be a cosine in [-1,1]: $tau")
    require(centroids.nonEmpty, "semanticPairsWith: empty centroid set")
    val dimOpt = Similarity.vecDimOpt(df, vecCol)
    if (dimOpt.isEmpty)
      return df.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0d).as("sim")).limit(0)
    val projected = df.select(col(idCol).as("id"),
      Similarity.requireDim(asDouble(col(vecCol)), dimOpt.get).as("v"))
    pairsWithin(projected, tau, centroids)
  }

  /** Within-cell enumeration over a dim-guarded (id, v) frame. The
    * self-join scans `base` twice and cellAssignment is numCells
    * full-dim cosines per row — the dominant per-row cost — so `base`
    * is kept cached ([[graft.CacheScope]]). */
  private def pairsWithin(
      projected: DataFrame, tau: Double,
      centroids: IndexedSeq[Seq[Double]]): DataFrame = {
    val base = graft.CacheScope.keep(projected
      .withColumn("cell", Similarity.cellAssignment(col("v"), centroids)))
    base.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
      .join(base.select(col("cell"), col("id").as("id_b"), col("v").as("vb")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosineSim(col("va"), col("vb")).as("sim_raw"))
      .filter(col("sim_raw") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /** The apply step: the surviving corpus. Semantic-duplicate components
    * keep their min-id member; rows in no pair pass through untouched.
    * Anti-join on the LOSER set (pair-graph-sized ≪ corpus at real dup
    * rates), so the corpus itself is never shuffled by cluster.
    * `checkpointDir` passes through to
    * [[graft.text.Dedup.connectedComponents]] — set it on any
    * cluster-scale run so label propagation survives executor loss.
    */
  def dedup(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      numCells: Int = 64, lloydIters: Int = 2,
      checkpointDir: Option[String] = None): DataFrame = {
    val pairs = semanticPairs(df, idCol, vecCol, tau, numCells, lloydIters)
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b",
      checkpointDir = checkpointDir)
    val losers = cc.filter(col("id") =!= col("cluster_id")).select(col("id"))
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }
}

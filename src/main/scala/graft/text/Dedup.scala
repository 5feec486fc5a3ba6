package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants are pure Catalyst expression compositions — shingling,
  * MinHash, SimHash and banding run inside whole-stage codegen as the
  * native expressions of `graft.functions.expressions`.
  * No UDFs, no driver-side loops: every step is a distributed map or a
  * keyed shuffle, so the same plan that dedups 5 000 docs dedups 10 B.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - exact:    one shuffle on the grouping keys.
  *  - minhash:  map (signature) → explode to b bands → shuffle on
  *              (band, bandHash) → pairs within buckets only. Bucket
  *              count grows with corpus size, so pair blowup is bounded
  *              by collision rate, not corpus².
  *  - simhash:  map (64-bit fingerprint) → self-join on band keys of the
  *              fingerprint (maxHamming+1 chunks ⇒ any pair within
  *              Hamming distance maxHamming shares ≥1 chunk —
  *              pigeonhole) → verify with `bit_count(a^b)`.
  */
object Dedup {

  /** Keep-policy for exact dedup: which row of a duplicate group survives. */
  sealed trait Keep
  case object MinId extends Keep
  case object MaxId extends Keep

  /** Exact dedup on `keys`: returns surviving rows (one per group).
    * One shuffle; min/max-id policy is a window-free aggregate + semi
    * join when `idCol` is unique, which it is for `doc_id`.
    */
  def exact(df: DataFrame, keys: Seq[String], idCol: String, keep: Keep = MinId): DataFrame = {
    val pick = keep match {
      case MinId => min(col(idCol))
      case MaxId => max(col(idCol))
    }
    val survivors = df.groupBy(keys.map(col): _*).agg(pick.as(idCol))
    df.join(survivors, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup: rows of `incoming` whose `keys` do NOT
    * already appear in `corpus`, deduped within the batch too. The
    * standard shape for appending to a curated corpus: one left-anti
    * join against the existing keys (shuffle on keys; at 100 TB, bucket
    * the corpus on the dedup key so the anti join is shuffle-free on the
    * corpus side) plus one in-batch exact dedup.
    */
  def incremental(
      corpus: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      idCol: String,
      keep: Keep = MinId): DataFrame = {
    val fresh = incoming.join(corpus.select(keys.map(col): _*), keys, "left_anti")
    exact(fresh, keys, idCol, keep)
  }

  /** Exact-duplicate classes — the collapse step every pair-quadratic
    * operator should run FIRST: one row per distinct text with
    * (`textCol`, `clsCol` = min id among rows with byte-identical
    * `textCol`, `mCol` = class multiplicity). Any pairwise machinery
    * can then run on ONE representative per class and recover
    * per-doc pair counts by multiplicity combinatorics: within a class
    * every pair qualifies trivially (identical text ⇒ similarity 1),
    * C(m,2) pairs; across classes the similarity of any member pair
    * equals the representatives' (it depends only on the texts),
    * m₁·m₂ pairs.
    *
    * Why this is THE scale lever for near-dup analytics: real corpora
    * (and the amplified stress corpus, which is 99-exact-twins by
    * construction) carry heavy exact duplication, and every exact twin
    * multiplies posting-list lengths — candidate volume grows with the
    * SQUARE of the duplication factor while the distinct-text workload
    * is unchanged. Collapsing first makes the quadratic stage's cost
    * track distinct content, not raw row count.
    *
    * Built by a text-keyed AGGREGATE, not the text-partitioned window
    * the r7–r10 operators used (that member-grain form survives as the
    * reference in CollapseEquivalenceSpec). Two reasons it wins at
    * scale (guide §2.4/§5):
    *  - an aggregate hash-folds in one pass where the window pays a
    *    per-partition SORT of the full corpus;
    *  - window operators re-execute per CONSUMER (only exchanges are
    *    runtime-reused), and the class frame typically feeds several —
    *    measured at 100× on q143, the multiplicity frame's four
    *    broadcast builds each replayed a ~670 s-executor-time window
    *    pass. The aggregate result is distinct-content-sized, so it is
    *    PERSISTED and eagerly materialized: every consumer reads the
    *    cache, the corpus is touched exactly once.
    */
  def exactClassAgg(df: DataFrame, idCol: String, textCol: String,
      clsCol: String = "__cls", mCol: String = "__m"): DataFrame =
    // eager persist (unless in a plan-only scope): concurrent consumers
    // would race an unmaterialized cache and duplicate the corpus pass
    graft.CacheScope.eager(df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(clsCol), count(lit(1)).as(mCol)))

  /** Collapse-then-expand wrapper for doc-grain pair enumerators —
    * the at-scale form of any "all pairs with text-similarity ≥ t"
    * operator (q154/q177 shape). `pairFn` (which must be a pure
    * function of the two texts, emitting `(id_a, id_b, simCol)` with
    * id_a < id_b and only pairs ≥ its threshold) runs over ONE
    * representative per exact-duplicate class, so its posting-list /
    * banding intermediates track DISTINCT content; doc-grain pairs are
    * then recovered exactly:
    *  - across classes, sim(memberA, memberB) = sim(repA, repB)
    *    (text-functional), so each qualifying rep pair expands to the
    *    m_a·m_b member pairs via two member joins;
    *  - within a class, the texts are identical ⇒ sim = 1 ≥ t for any
    *    t ≤ 1, so all C(m,2) member pairs qualify with sim 1.0 —
    *    closed form, no similarity evaluation at all.
    * Output is provably row-identical to `pairFn(df)` (pinned in
    * CollapseEquivalenceSpec). The expansion joins materialize only
    * QUALIFYING pairs — output-sized work — where the uncollapsed
    * operator's candidate stage pays the twin-factor² blowup on every
    * colliding shingle (the r8 100× sweep aborted q154 at >78 GB of
    * spill exactly there).
    *
    * `simCol` must be the similarity column name `pairFn` emits, and
    * identical texts must score exactly `selfSim` under its measure
    * after its own rounding — `lit(1.0)` for the Jaccard family at
    * round(·,4) (the default), `lit(0)` for a DISTANCE measure like
    * SimHash hamming (identical texts ⇒ identical signatures ⇒
    * distance 0, and 0 ≤ any maxHamming so the pair qualifies).
    */
  def collapsedDocPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      simCol: String,
      selfSim: Column = lit(1.0))(
      pairFn: DataFrame => DataFrame): DataFrame = {
    // r11: class frame via ONE text-keyed aggregate ([[exactClassAgg]],
    // persisted) — the old withExactClasses window re-ran its
    // full-corpus sort for every consumer (members feeds four joins,
    // reps a fifth path). members (two longs per corpus row) is built
    // by ONE corpus⋈frame probe on the text and PERSISTED: its four
    // consumers would otherwise re-execute the text-keyed join — the
    // r9 "members persist is flat" measurement applied to the window
    // form, where recompute was a reused-exchange re-read; for the
    // join form, measured at 100×, unpersisted members sent q154 to
    // 131 s (four corpus re-sorts) vs 33 s on the window form.
    val frame = exactClassAgg(
      df.select(col(idCol).as("__did"), col(textCol).as("__txt")),
      "__did", "__txt")
    // NULL-SAFE members join (r11 ADVICE, adjudicated r12 by planted
    // test): the raw enumerators DO pair null-text docs — split(null)
    // flows to concat_ws, which renders the null slice as ONE ""
    // shingle, so null texts behave like empty texts and self-pair at
    // sim 1.0 (CollapseEquivalenceSpec planted-null case). A plain
    // equality join would silently drop the null class from members;
    // <=> keeps those docs, matching both the raw operators and the
    // pre-r11 window form. EqualNullSafe is still a hash-join key.
    val members = graft.CacheScope.eager(
      df.select(col(idCol).as("__did"), col(textCol).as("__txt"))
        .join(frame.select(col("__txt").as("__ftxt"), col("__cls")),
          col("__txt") <=> col("__ftxt"))
        .select(col("__cls"), col("__did")))
    // eager: the expansion joins launch concurrently
    val reps = frame
      .select(col("__cls").as(idCol), col("__txt").as(textCol))
    val repPairs = pairFn(reps)
    // class pair → member pairs; least/greatest because class min-ids
    // don't order the members (a member of the smaller class can carry
    // a larger doc id than a member of the bigger one)
    val cross = repPairs
      .join(members.select(col("__cls").as("id_a"), col("__did").as("__da")), Seq("id_a"))
      .join(members.select(col("__cls").as("id_b"), col("__did").as("__db")), Seq("id_b"))
      .select(least(col("__da"), col("__db")).as("id_a"),
        greatest(col("__da"), col("__db")).as("id_b"), col(simCol))
    val within = members.as("x")
      .join(members.as("y"),
        col("x.__cls") === col("y.__cls") && col("x.__did") < col("y.__did"))
      .select(col("x.__did").as("id_a"), col("y.__did").as("id_b"),
        selfSim.as(simCol))
    cross.unionByName(within)
  }

  /** Word-level shingles (n-gram tokens joined by space), distinct: the
    * native [[graft.functions.expressions.WordNgrams]] kernel, which
    * evaluates `split(text, ' ')` once per row whatever `text` is. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(graft.GraftFunctions.wordNgrams(split(text, " "), n))

  /** (id, shingles) relation, rows spread across cores first:
    * parallelism of a scan follows file bytes, but shingling cost
    * follows row count, so a 2 MB / 5 000-doc file would otherwise
    * shingle on ONE task. The native kernel splits each text once,
    * so no token projection is needed.
    */
  private[graft] def shingleTable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // INVARIANT (load-bearing, r10 ADVICE): every doc emits >= 1
    // shingle — word_ngrams degrades a sub-n-token text to one
    // whole-text shingle rather than zero rows. Identical texts
    // therefore ALWAYS self-pair at J = 1 in the enumerators built on
    // this table, which is what lets Curation.dedupClustersOf's iso arm
    // claim "multi-member class whose representative pairs with nothing
    // ⇒ its members still interconnect": a zero-shingle short text
    // would break that equivalence silently. Pinned by the
    // sub-shingle-length planted twins in CollapseEquivalenceSpec's
    // q42-shape test; change the fallback and that spec must change
    // with it.
    df.repartition(parallelism, col(idCol))
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
  }

  /** MinHash signature of a shingle array: `k` independent min-hashes.
    * Native one-pass expression (see
    * [[graft.functions.expressions.MinHashSignature]]). Bit-identical to
    * [[minhashSignatureHof]].
    */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    graft.GraftFunctions.minhashSig(shingleArr, k)

  /** The pure-HOF formulation of [[minhashSignature]] — kept as the
    * reference semantics (`hash(s, j)` chains murmur3 as
    * `hashInt(j, hashBytes(s, 42))`) and for the native-vs-HOF
    * equivalence test. Nested lambdas drop it to interpreted mode:
    * k full re-hashes of every shingle per row — do not use on hot
    * paths.
    */
  def minhashSignatureHof(shingleArr: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(shingleArr, s => hash(s, seed))))

  /** LSH band keys: band j = hash of the j-th `r`-slice of a `b·r`-long
    * MinHash signature. THE banding definition — [[nearMinhash]] and
    * [[decontaminateFuzzy]] must band identically or their collision
    * guarantees silently diverge, so both call this. Native kernel:
    * [[graft.functions.expressions.BandHashes]]. */
  private[graft] def bandHashes(sig: Column, b: Int, r: Int): Column =
    graft.GraftFunctions.bandHashes(sig, b, r)

  /** Candidate near-duplicate pairs via MinHash-LSH banding.
    *
    * @param df     input with a unique id and a text column
    * @param b      number of bands, `r` rows each (signature length b*r)
    * @return pairs (id_a < id_b) with exact shingle-Jaccard ≥ `threshold`
    */
  def nearMinhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      b: Int = 16,
      r: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val k = b * r
    val sh = shingleTable(df, idCol, textCol, shingleLen)
    // band j → hash of the j-th r-slice of the signature. Only (id, band
    // hash) flows into the self-join — shingle arrays would be replicated
    // b× by the explode and shuffled; at corpus scale that dominates cost.
    val banded = sh
      .withColumn("sig", minhashSignature(col("sh"), k))
      .select(col("id"),
        posexplode(bandHashes(col("sig"), b, r)).as(Seq("band", "bh")))
    val cand = banded.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // re-attach shingles to candidates only (collision-rate-sized), then
    // verify with exact Jaccard
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.GraftFunctions.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** 64-bit SimHash fingerprint of the token multiset of `text`:
    * each token contributes ±1 per bit from its xxhash64; positive vote
    * sum ⇒ bit set. Native one-pass expression (see
    * [[graft.functions.expressions.SimHash64]]).
    */
  def simhash(text: Column): Column = simhashOfTokens(split(text, " "))

  /** SimHash over an already-materialized token array column. */
  def simhashOfTokens(toks: Column): Column = graft.GraftFunctions.simhash64(toks)

  /** The pure-HOF formulation of [[simhashOfTokens]] — reference
    * semantics for the native expression's equivalence test. Nested
    * lambdas run interpreted, allocating two 64-wide arrays per token:
    * do not use on hot paths.
    */
  def simhashOfTokensHof(toks: Column): Column = {
    val votes = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) =>
        zip_with(acc, transform(sequence(lit(0), lit(63)),
          bit => when(call_function("shiftright", xxhash64(t), bit).bitwiseAND(1) === 1, 1).otherwise(-1)),
          (a, v) => a + v))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, bit) => when(v > 0, call_function("shiftleft", lit(1L), bit)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Oracle-reproducible SimHash: a 60-bit signature whose per-token
    * bit source is the first 15 hex chars of `md5(token)` parsed as an
    * integer — computable IDENTICALLY in any engine with `md5` (the
    * DuckDB oracle for q24 recomputes it from scratch; see
    * [[graft.ops.CurationOracle]]). 15 hex chars = 60 bits keeps the
    * value inside a signed 64-bit int in both engines. Production paths
    * use [[simhashOfTokens]] (xxhash64, native codegen'd expression —
    * measurably faster); this variant exists so the PAIRING algebra
    * (banding, pigeonhole recall, Hamming verify) gets an
    * engine-independent correctness check. The vote is over the token
    * MULTISET, matching [[simhashOfTokens]] — this corpus draws from a
    * small shared vocabulary, so set-based votes would correlate across
    * unrelated docs (measured: 3k spurious pairs at sf0.001 vs 25 for
    * multiset). A bit with exactly half the votes (tie) is 0.
    */
  def simhashMd5(toks: Column): Column = {
    val hs = transform(toks,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val bits = transform(sequence(lit(0), lit(59)), j =>
      when(
        size(filter(hs, h =>
          call_function("shiftright", h, j).bitwiseAND(1) === 1)) * 2
          > size(hs),
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    * Banding by fingerprint chunks bounds the self-join; the pigeonhole
    * guarantee needs maxHamming+1 chunks (≤ maxHamming differing bits
    * can dirty at most maxHamming chunks, so ≥1 chunk matches exactly),
    * so the chunk count is DERIVED from maxHamming — the `sigBits` bits
    * are split into maxHamming+1 near-equal-width chunks. Wider
    * maxHamming ⇒ narrower chunks ⇒ more collisions: recall stays
    * exact, cost grows.
    *
    * @param sig     signature expression over the token-array column;
    *                default is the production xxhash64 native
    *                expression, [[simhashMd5]] is the oracle twin
    * @param sigBits width of the signature produced by `sig`
    */
  def nearSimhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      sig: Column => Column = simhashOfTokens,
      sigBits: Int = 64): DataFrame = {
    // chunks < 2 bits wide would make every row collide with a quarter
    // of the corpus and banding no longer bounds anything
    require(maxHamming >= 0 && (maxHamming + 1) * 2 <= sigBits,
      s"maxHamming must be in [0, ${sigBits / 2 - 1}] for $sigBits-bit signatures, got $maxHamming")
    val numChunks = maxHamming + 1
    // distribute sigBits bits over numChunks chunks, widths differing by ≤1
    val baseW = sigBits / numChunks
    val extra = sigBits % numChunks
    val chunks: Seq[(Int, Int)] = { // (bitOffset, width)
      var off = 0
      (0 until numChunks).map { c =>
        val w = baseW + (if (c < extra) 1 else 0)
        val res = (off, w); off += w; res
      }
    }
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // fingerprinting is CPU-bound, so spread rows regardless of input
    // file size. The token projection is not a guaranteed shape:
    // CollapseProject may fold `split` into `sig`, which the native
    // simhash evaluates once per row but the md5 form's lambdas
    // re-evaluate per element
    val fp = df.repartition(parallelism, col(idCol))
      .select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .select(col("id"), sig(col("toks")).as("fp"))
    val chunkCols = chunks.map { case (off, w) =>
      val mask = if (w >= 64) -1L else (1L << w) - 1
      call_function("shiftright", col("fp"), lit(off)).bitwiseAND(lit(mask))
    }
    val banded = fp.select(col("id"), col("fp"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "ck")))
    val l = banded.select(col("chunk"), col("ck"), col("id").as("id_a"), col("fp").as("fp_a"))
    val rr = banded.select(col("chunk"), col("ck"), col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(rr, Seq("chunk", "ck"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Prefix-filtered exact Jaccard pairs (the PPJoin principle):
    * identical output to [[ngramJaccard]], but the inverted index
    * holds only each document's PREFIX — its first
    * |sh| − ⌈t·|sh|⌉ + 1 shingles in the global (document frequency
    * asc, shingle) order — instead of every shingle. Losslessness is
    * a theorem: J(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, and by pigeonhole
    * the smallest shared shingle (in the SAME global order on both
    * sides) lands inside both prefixes, so the prefix-prefix
    * equi-join still generates every qualifying pair. Rare-first
    * ordering makes the surviving postings lists the SHORT ones —
    * at 100 TB this is the difference between indexing Σ|doc| entries
    * and ≈(1−t)·Σ|doc| entries with the hot shingles pushed OUT of
    * the prefix zone entirely. ⌈t·|sh|⌉ is computed in integers for
    * t = 0.5 ((|sh|+1) div 2), so the prefix boundary can never
    * float-drift. Candidates re-verify with exact Jaccard over full
    * shingle sets, so reported similarities are exact; equality with
    * [[ngramJaccard]] sits under the driver's q25 oracle (q177 reuses
    * its SQL verbatim) and under DedupSpec.
    */
  def ngramJaccardPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold == 0.5,
      "integer prefix arithmetic below is specialized to t = 0.5")
    val sh = shingleTable(df, idCol, textCol, shingleLen)
    val inv = sh.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy(col("id"))
      .orderBy(col("__df"), col("s"))
    val prefix = inv.join(dfreq, Seq("s"))
      .withColumn("__rk", row_number().over(wDoc))
      // prefix length = n - ceil(n/2) + 1 with ceil(n/2) = (n+1) div 2
      .filter(col("__rk") <= col("n") - expr("(n + 1) div 2") + 1)
      .select(col("s"), col("id"))
    val cand = prefix.select(col("s"), col("id").as("id_a"))
      .join(prefix.select(col("s"), col("id").as("id_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.GraftFunctions.jaccardSim(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram OVERLAP-coefficient pairs: |A∩B| / min(|A|,|B|) ≥
    * `threshold`. The asymmetric companion to [[ngramJaccard]] — a short
    * document fully CONTAINED in a long one scores overlap 1.0 but a
    * low Jaccard (union is dominated by the long doc), so containment
    * dedup (quotes, excerpts, boilerplate wrappers) needs this measure.
    * Same inverted-index join shape: one shuffle on the shingle key,
    * pair volume bounded by posting-list collisions, never corpus².
    */
  def ngramOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, shingleLen)
      .withColumn("n", size(col("sh")))
    val inv = sh.select(col("id"), col("n"), explode(col("sh")).as("s"))
    val pairs = inv.select(col("s"), col("id").as("id_a"), col("n").as("n_a"))
      .join(inv.select(col("s"), col("id").as("id_b"), col("n").as("n_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .withColumn("overlap",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("overlap") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("overlap"), 4).as("overlap"))
  }

  /** Connected components over an undirected pair relation — the
    * clustering step of cluster-based dedup: all transitively-linked
    * near-dup pairs collapse into one group, so "A≈B, B≈C" dedups to a
    * single survivor even when A and C never matched directly.
    *
    * Iterative min-label propagation: each node's label starts as its
    * own id; every iteration takes the min of its own and its
    * neighbors' labels; fixpoint = every node holds its component's
    * minimum id. Each iteration is one keyed shuffle (edges ⋈ labels +
    * groupBy) and lineage is truncated per iteration with
    * `localCheckpoint` so the plan stays bounded. Iterations needed =
    * component diameter — near-dup graphs are clique-ish (tiny
    * diameter), so convergence is fast; `maxIters` only guards
    * pathological chains.
    *
    * `checkpointDir` selects the truncation mode: `None` (default)
    * uses `localCheckpoint` — fastest, but blocks live on executors,
    * so ONE lost executor forces the whole job to restart (fine in
    * local mode / short jobs). At cluster scale pass a reliable
    * HDFS/S3 path: iterations then `checkpoint()` to durable storage
    * and an hours-long 100 TB dedup survives executor loss. The dir is
    * set once per SparkContext (a pre-set dir is respected).
    *
    * @return (id, cluster_id) — one row per node that appears in
    *         `pairs`; cluster_id = min id of its component.
    */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      maxIters: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val session = pairs.sparkSession
    val sc = session.sparkContext
    checkpointDir.foreach { dir =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    }
    // Reliable mode checkpoints through an explicit RDD so each
    // iteration can DELETE its predecessor's checkpoint files once they
    // are superseded — Spark's own cleaner leaves them (cleanCheckpoints
    // defaults false), and up to maxIters full label-table copies on
    // HDFS/S3 can exhaust quota mid-job at corpus scale. Only the FINAL
    // labels' checkpoint survives; it lives until the caller drops the
    // checkpointDir (the dir is per-job by contract).
    //
    // The df.rdd → createDataFrame round-trip boxes each row once per
    // iteration — accepted deliberately: the label table is PAIR-GRAPH-
    // sized (only docs appearing in near-dup pairs, two longs per row),
    // not corpus-sized, and the boxing buys the one thing Dataset
    // .checkpoint cannot give — the exact checkpoint file handle, so
    // cleanup never has to guess which rdd-* dirs in a (possibly
    // shared) checkpoint dir are ours. If labels ever become
    // corpus-sized, switch to queryExecution.toRdd (InternalRow) and
    // directory-diff cleanup.
    def truncate(df: DataFrame): (DataFrame, Option[String]) =
      if (checkpointDir.isDefined) {
        val r = df.rdd
        r.persist() // compute once: checkpoint() otherwise re-runs the plan
        r.checkpoint()
        r.foreachPartition(_ => ()) // materialize + write the checkpoint now
        r.unpersist(blocking = false) // reads now come from reliable storage
        (session.createDataFrame(r, df.schema), r.getCheckpointFile)
      } else (graft.CacheScope.checkpoint(df), None)
    def dropCheckpoint(file: Option[String]): Unit = file.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
    val sym = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .unionByName(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .distinct()
      .persist()
    var (labels, labelsCkpt) = truncate(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("nc")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("nc")).as("nbr_min"))
        .select(col("src").as("id"), col("nbr_min"))
      val (next, nextCkpt) = truncate(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id")))
      // labels only ever decrease, so "no label decreased" = fixpoint.
      // A plain count, not limit(1).count(): a limit inside a codegen
      // stage names its counter from a JVM-wide sequence, so every such
      // probe is new generated code that the code cache can never hit
      // (and head(1) would launch a job per scale-up step instead)
      val changed = next
        .join(labels.withColumnRenamed("cluster_id", "prev"), Seq("id"))
        .filter(col("cluster_id") < col("prev"))
        .count()
      graft.CacheScope.release(labels)
      dropCheckpoint(labelsCkpt) // superseded: next is durable, changed computed
      labels = next
      labelsCkpt = nextCkpt
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    require(converged,
      s"connectedComponents did not converge in $maxIters iterations " +
        "(component diameter exceeds maxIters — raise it)")
    labels
  }

  /** Apply-step of cluster-based dedup: the surviving corpus. Groups
    * transitively-linked `pairs` into components
    * ([[connectedComponents]]), keeps ONE doc per component — the max
    * by `qualityCol` (tie → min id) — and passes every unpaired doc
    * through untouched. Anti-join on the loser set, so the full corpus
    * is never shuffled by cluster: losers = paired docs − keepers
    * (pair-graph-sized, ≪ corpus at real dup rates). `checkpointDir`
    * passes through to [[connectedComponents]] — set it on any
    * cluster-scale run so label propagation survives executor loss.
    */
  def dedupByCluster(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      qualityCol: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val cc = connectedComponents(pairs, pairs.columns(0), pairs.columns(1),
      checkpointDir = checkpointDir)
    val keepers = cc
      .join(df.select(col(idCol).as("id"), col(qualityCol).as("q")), Seq("id"))
      .groupBy(col("cluster_id"))
      .agg(min(struct((-col("q")).as("negq"), col("id").as("kid")))
        .getField("kid").as("id"))
      .select(col("id"))
    val losers = cc.select(col("id")).exceptAll(keepers)
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: drop every corpus doc that shares ANY
    * distinct word `n`-gram with the benchmark/eval set — the standard
    * guard against test-set leakage into training data.
    *
    * Scale shape: the benchmark side is eval-suite-sized (thousands of
    * docs, ≪ corpus), so its distinct n-gram set is BROADCAST and the
    * contaminated-id set (⊆ pair hits) is broadcast back for the anti
    * join — the corpus is never shuffled by n-gram; contamination
    * detection is one scan-side pass over the corpus shingles. The
    * broadcast keys are the n-gram strings themselves, so a removal is
    * never a hash false positive.
    *
    * Docs shorter than `n` tokens shingle to the whole doc
    * ([[shingleTable]] semantics), so short benchmark items
    * decontaminate by exact containment-match rather than silently
    * not at all.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    // r11: the bench gram set only needs each DISTINCT bench text once
    // (the set union is text-functional); the synthetic xxhash64 id
    // exists purely so shingleTable can spread rows — it never reaches
    // the output
    val benchTexts = benchmark.select(col(textCol)).distinct()
      .withColumn("__bid", xxhash64(col(textCol)))
    val benchKeys = broadcast(
      shingleTable(benchTexts, "__bid", textCol, n)
        .select(explode(col("sh")).as("s"))
        .distinct())
    // r11 collapse-first (guide §2.3): contamination is text-functional,
    // so the n-gram pass runs over ONE representative per exact-
    // duplicate class ([[exactClassAgg]]) — on a twins-heavy corpus the
    // shingle explode shrinks by the duplication factor. The verdict
    // travels back as the contaminated TEXT set (bounded by
    // contaminated distinct content, the same eval-suite-sized premise
    // as benchKeys) and the corpus is anti-joined scan-side on the
    // text — the corpus is still never shuffled.
    val frame = exactClassAgg(
      corpus.select(col(idCol), col(textCol)), idCol, textCol)
    val contaminatedTexts = shingleTable(
        frame.select(col("__cls").as(idCol), col(textCol)), idCol, textCol, n)
      .select(col("id"), explode(col("sh")).as("s"))
      .join(benchKeys, Seq("s"), "left_semi")
      .select(col("id")).distinct()
      .join(frame.select(col("__cls").as("id"), col(textCol)), Seq("id"))
      .select(col(textCol))
    corpus.join(broadcast(contaminatedTexts), Seq(textCol), "left_anti")
  }

  /** Fuzzy benchmark decontamination — the paraphrase-robust complement
    * of [[decontaminate]]: drops every corpus doc whose shingle set is
    * NEAR-duplicate (exact Jaccard ≥ `threshold`) of any benchmark doc,
    * with candidates found by MinHash-LSH banding. Exact n-gram
    * containment misses a benchmark item whose leaked copy was lightly
    * rewritten (token substitutions every few words leave no shared
    * 8-gram); banded MinHash still surfaces it, and the exact-Jaccard
    * verification step keeps band false positives from over-purging.
    *
    * Scale shape: the benchmark side is eval-suite-sized (≪ corpus), so
    * its banded keys — WITH its shingle sets, for in-place verification
    * — travel by broadcast; the corpus streams through one banding map
    * and a broadcast equi-join, never shuffling by band or shingle.
    * Contaminated ids (⊆ collision hits) broadcast back for the anti
    * join. Choose (b, r) for the target threshold: recall at Jaccard J
    * is 1−(1−J^r)^b.
    */
  def decontaminateFuzzy(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      b: Int = 16,
      r: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val k = b * r
    def banded(sh: DataFrame): DataFrame = sh
      .withColumn("sig", minhashSignature(col("sh"), k))
      .select(col("id"), col("sh"),
        posexplode(bandHashes(col("sig"), b, r)).as(Seq("band", "bh")))
    val benchBands = banded(shingleTable(benchmark, idCol, textCol, shingleLen))
      .select(col("band"), col("bh"),
        col("id").as("bench_id"), col("sh").as("bench_sh"))
    val contaminated = banded(shingleTable(corpus, idCol, textCol, shingleLen))
      .join(broadcast(benchBands), Seq("band", "bh"))
      // a pair colliding in several bands verifies once
      .dropDuplicates("id", "bench_id")
      .filter(graft.GraftFunctions.jaccardSim(col("sh"), col("bench_sh")) >= threshold)
      .select(col("id")).distinct()
    corpus.join(broadcast(contaminated.withColumnRenamed("id", idCol)),
      Seq(idCol), "left_anti")
  }

  /** Contamination REPORT — the observability twin of [[decontaminate]]:
    * instead of purging, counts per BENCHMARK item how many distinct
    * corpus docs share an n-gram with it (which eval items leak most,
    * how bad, and whether a single boilerplate question is inflating
    * the purge). Same broadcast shape as the purge: the corpus streams
    * through one scan-side shingle join, never shuffled by n-gram, and
    * the broadcast keys are the n-gram strings, so no count is
    * inflated by a hash collision.
    */
  def contaminationReport(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val benchSh = broadcast(
      shingleTable(benchmark, idCol, textCol, n)
        .select(col("id").as("bench_id"), explode(col("sh")).as("s")))
    // r11 collapse-first, as in [[decontaminate]]: hits are counted at
    // the exact-duplicate-class grain (one shingle pass per distinct
    // text) and n_docs recovers exactly as the multiplicity sum over a
    // bench item's distinct contaminated classes.
    val frame = exactClassAgg(
      corpus.select(col(idCol), col(textCol)), idCol, textCol)
    shingleTable(
        frame.select(col("__cls").as(idCol), col(textCol)), idCol, textCol, n)
      .select(col("id"), explode(col("sh")).as("s"))
      .join(benchSh, Seq("s"))
      .select(col("bench_id"), col("id")).distinct()
      .join(frame.select(col("__cls").as("id"), col("__m")), Seq("id"))
      .groupBy(col("bench_id"))
      .agg(sum(col("__m")).as("n_docs"))
  }

  /** Exact n-gram Jaccard similarity for all pairs above `threshold`.
    * Token-inverted-index join: explode shingles, join on shingle, count
    * shared shingles per pair, compute |A∩B|/|A∪B|. One shuffle on the
    * shingle key — no O(n²) cross join; hot shingles can be frequency-
    * capped upstream (stopword-like shingles carry no dedup signal).
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingleTable(df, idCol, textCol, shingleLen)
      .withColumn("n", size(col("sh")))
    val inv = sh.select(col("id"), col("n"), explode(col("sh")).as("s"))
    val pairs = inv.select(col("s"), col("id").as("id_a"), col("n").as("n_a"))
      .join(inv.select(col("s"), col("id").as("id_b"), col("n").as("n_b")), Seq("s"))
      .filter(col("id_a") < col("id_b") &&
        // r12 length prefilter (lossless, guide §2.3): inter ≤ min(n)
        // and union ≥ max(n), so jaccard ≤ min/max — size-mismatched
        // pairs drop inside the join, before the pair aggregate; the
        // (1−1e-9) slack keeps the FP comparison conservative and the
        // exact filter below stays authoritative
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(threshold) * greatest(col("n_a"), col("n_b")).cast("double") *
            lit(1 - 1e-9))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Weighted (multiset) n-gram Jaccard near-dup pairs:
    * J_w = Σ_s min(aₛ, bₛ) / (|A| + |B| − Σ_s min(aₛ, bₛ)) over shingle
    * COUNTS — no `array_distinct`, so a doc that repeats a boilerplate
    * block five times matches its four-repeat twin at high J_w where
    * the set Jaccard of [[ngramJaccard]] would underweight the
    * repetition. Same inverted-index equi-join scale shape: candidate
    * pairs only through shared shingles (each shared DISTINCT shingle
    * joins once, carrying both multiplicities), never all-pairs; Σmax
    * is derived as |A|+|B|−Σmin, so only the min-sum is aggregated.
    * All counts exact longs; one double division per surviving pair.
    */
  def weightedNgramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val sh = df.repartition(parallelism, col(idCol))
      .select(col(idCol).as("id"),
        graft.GraftFunctions.wordNgrams(split(col(textCol), " "), shingleLen).as("sh"))
    val cnt = sh
      .select(col("id"), size(col("sh")).as("tot"), explode(col("sh")).as("s"))
      .groupBy(col("id"), col("tot"), col("s")).agg(count(lit(1)).as("c"))
    // r12 length prefilter (lossless, guide §2.3): Σmin ≤ min(tot) and
    // the J_w denominator ≥ max(tot), so J_w ≤ min(tot)/max(tot) — a
    // pair whose total-mass ratio is below the threshold is dropped
    // inside the join, before the min-sum aggregate ever shuffles it
    // (same bound as [[ngramJaccard]]'s; conservative FP slack there).
    val pairs = cnt
      .select(col("s"), col("id").as("id_a"), col("tot").as("tot_a"),
        col("c").as("c_a"))
      .join(cnt.select(col("s"), col("id").as("id_b"),
        col("tot").as("tot_b"), col("c").as("c_b")), Seq("s"))
      .filter(col("id_a") < col("id_b") &&
        least(col("tot_a"), col("tot_b")).cast("double") >=
          lit(threshold) * greatest(col("tot_a"), col("tot_b")).cast("double") *
            lit(1 - 1e-9))
      .groupBy(col("id_a"), col("id_b"), col("tot_a"), col("tot_b"))
      .agg(sum(least(col("c_a"), col("c_b"))).as("wmin"))
    pairs
      .withColumn("wjaccard",
        col("wmin").cast("double") /
          (col("tot_a") + col("tot_b") - col("wmin")))
      .filter(col("wjaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("wjaccard"), 4).as("wjaccard"))
  }
}

package graft.text

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")

  test("exact dedup keeps one row per (lang, source, text) group") {
    val out = Dedup.exact(docs, Seq("lang", "source", "text"), "doc_id")
    val expected = docs.select("lang", "source", "text").distinct().count()
    assert(out.count() == expected)
    // keep-min policy: surviving ids are the group minima
    val viaMin = docs.groupBy("lang", "source", "text").agg(min("doc_id").as("doc_id"))
    assert(out.select("doc_id").except(viaMin.select("doc_id")).count() == 0)
  }

  test("native minhash signature is bit-identical to the HOF reference") {
    val sh = docs.limit(50)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val both = sh.select(
        col("doc_id"),
        Dedup.minhashSignature(col("sh"), 16).as("native"),
        Dedup.minhashSignatureHof(col("sh"), 16).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"signature mismatch for doc ${r.getLong(0)}")
    }
  }

  test("minhash LSH finds planted near-duplicates (recall >= 0.9)") {
    // plant 10 near-dups: copy a doc, change its last token
    val planted = docs.limit(10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text",
        concat(expr("substring(text, 1, length(text) - 4)"), lit(" zzz")))
    val corpus = docs.unionByName(planted)
    val pairs = Dedup.nearMinhash(corpus, "doc_id", "text", threshold = 0.7).collect()
    val found = pairs.count { r =>
      val (a, b) = (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
      b - a == 1000000L
    }
    assert(found >= 9, s"only $found of 10 planted near-dups recovered")
  }

  test("minhash recovers all 8 exact duplicate texts at sf0.1 (SURVEY A2)") {
    val docs01 = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    // ground truth: exact dup pairs by text equality
    val byText = docs01.groupBy(col("text"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .collect()
      .flatMap { r =>
        val ids = r.getSeq[Long](1).sorted
        ids.combinations(2).map(p => (p(0), p(1)))
      }.toSet
    assert(byText.nonEmpty, "corpus should contain exact dups at sf0.1")
    val found = Dedup.nearMinhash(docs01, "doc_id", "text", threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // identical texts have identical signatures -> always co-bucketed
    assert(byText.subsetOf(found),
      s"missed exact dups: ${byText -- found}")
  }

  test("incremental dedup admits only keys unseen in the corpus") {
    val corpus = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a"),  // already in corpus -> rejected
      (11L, "c"), (12L, "c"), // new, in-batch dup -> one survivor (min id)
      (13L, "d")).toDF("doc_id", "text")
    val out = Dedup.incremental(corpus, incoming, Seq("text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((11L, "c"), (13L, "d")))
  }

  test("native simhash is bit-identical to the HOF reference") {
    val both = docs.limit(50)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        Dedup.simhashOfTokens(col("toks")).as("native"),
        Dedup.simhashOfTokensHof(col("toks")).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"fingerprint mismatch for doc ${r.getLong(0)}")
    }
  }

  test("simhash: identical texts collide at hamming 0; near-dups within 3") {
    val dup = docs.limit(5).withColumn("doc_id", col("doc_id") + 2000000L)
    val pairs = Dedup.nearSimhash(docs.unionByName(dup), "doc_id", "text", maxHamming = 3)
      .collect()
    val exactPairs = pairs.filter(r => r.getAs[Long]("id_b") - r.getAs[Long]("id_a") == 2000000L)
    assert(exactPairs.length == 5)
    assert(exactPairs.forall(_.getAs[Int]("hamming") == 0))
  }

  test("simhash banding is complete for maxHamming > 3 (derived chunks)") {
    // ground truth: brute-force all-pairs Hamming over the same
    // fingerprints; id filter (not limit) so both plans see one row set
    val sampleDocs = docs.filter(col("doc_id") < 40)
    val sample = sampleDocs
      .select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("fp"))
    val l = sample.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val r = sample.select(col("id").as("id_b"), col("fp").as("fp_b"))
    for (maxH <- Seq(0, 5, 7)) {
      val brute = l.crossJoin(r).filter(col("id_a") < col("id_b"))
        .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= maxH)
        .collect().map(row => (row.getAs[Long]("id_a"), row.getAs[Long]("id_b"))).toSet
      val banded = Dedup.nearSimhash(sampleDocs, "doc_id", "text", maxHamming = maxH)
        .collect().map(row => (row.getAs[Long]("id_a"), row.getAs[Long]("id_b"))).toSet
      assert(banded == brute, s"maxHamming=$maxH: banding missed ${brute -- banded}")
    }
    intercept[IllegalArgumentException] {
      Dedup.nearSimhash(docs, "doc_id", "text", maxHamming = 32)
    }
  }

  test("md5 simhash (oracle twin): banded pairing equals brute force; 60-bit signature") {
    // the q24 oracle recomputes this signature in DuckDB from scratch;
    // here the banded candidate generation is checked against exact
    // all-pairs over the same signatures (pigeonhole completeness)
    // deterministic sample: an unordered limit() evaluated twice can
    // pick different rows per plan — id filter selects the same set
    val sampleDocs = docs.filter(col("doc_id") < 60)
    val sample = sampleDocs
      .select(col("doc_id").as("id"),
        Dedup.simhashMd5(split(col("text"), " ")).as("fp"))
    assert(sample.filter(col("fp") < 0L || col("fp") >= (1L << 60)).count() == 0,
      "signature escaped 60 bits")
    val l = sample.select(col("id").as("id_a"), col("fp").as("fp_a"))
    val r = sample.select(col("id").as("id_b"), col("fp").as("fp_b"))
    val brute = l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= 3)
      .collect().map(row => (row.getAs[Long]("id_a"), row.getAs[Long]("id_b"))).toSet
    val banded = Dedup.nearSimhash(sampleDocs, "doc_id", "text",
        maxHamming = 3, sig = Dedup.simhashMd5, sigBits = 60)
      .collect().map(row => (row.getAs[Long]("id_a"), row.getAs[Long]("id_b"))).toSet
    assert(banded == brute, s"banding missed ${brute -- banded}")
  }

  test("ngram jaccard: identical pair scores 1.0, disjoint pair absent") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(df, "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L && pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("connectedComponents: transitive chains collapse to min-id clusters") {
    // components: {1,2,3,4,5,6,7} (a 7-path — forces multiple propagation
    // iterations), {10,11}, and an isolated pairless node never appears
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 7L).forall(cc(_) == 1L), s"path component wrong: $cc")
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc.size == 9)
  }

  test("connectedComponents: reliable-checkpoint mode matches localCheckpoint mode") {
    // checkpointDir = Some(path) swaps localCheckpoint (executor-loss-
    // unsafe) for durable checkpoint() — same labels either way
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val reliable = Dedup.connectedComponents(edges, "id_a", "id_b",
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    // checkpoint files actually landed in the durable dir...
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, s"no checkpoint files written under $dir")
    // ...and superseded iterations were deleted mid-job: the 7-path
    // needs several propagation rounds, but only the FINAL labels'
    // rdd-* checkpoint may remain (quota safety on an hours-long job)
    import scala.jdk.CollectionConverters._
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p)
        && p.getFileName.toString.startsWith("rdd-"))
      .toList
    assert(rddDirs.size == 1,
      s"superseded checkpoints not cleaned: ${rddDirs.map(_.getFileName)}")
  }

  test("connectedComponents matches brute force on the corpus pair graph") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5)
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == expected)
  }

  test("dedupByCluster keeps the best doc per component plus all unpaired docs") {
    val corpus = Seq(
      (1L, "short", 5L), (2L, "longer text", 11L), (3L, "longest text here", 17L),
      (10L, "other a", 7L), (11L, "other b", 7L), // tie on quality -> min id 10
      (99L, "unpaired survives", 17L)).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByCluster(corpus, pairs, "doc_id", "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 10L, 99L), s"got $kept")
  }

  test("ngramOverlap catches containment that Jaccard misses") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "alpha beta gamma delta epsilon zeta"   // prefix of long
    val docs2 = Seq((1L, long), (2L, short), (3L, "wholly unrelated text body"))
      .toDF("doc_id", "text")
    val overlap = Dedup.ngramOverlap(docs2, "doc_id", "text", 3, 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(overlap.get((1L, 2L)).contains(1.0), s"containment pair missing: $overlap")
    // the same pair is BELOW a 0.5 jaccard (union dominated by the long doc)
    val jac = Dedup.ngramJaccard(docs2, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jac.contains((1L, 2L)))
  }

  test("decontaminate drops n-gram collisions with the benchmark, keeps the rest") {
    val leaked = "alpha beta gamma delta epsilon zeta eta theta extra trailing words"
    val corpus = Seq(
      (1L, "prefix words then " + leaked),            // shares an 8-gram -> dropped
      (2L, "wholly unrelated body of clean text that survives decontamination fine"),
      (3L, "tiny doc"),                               // < 8 tokens, no bench match
      (4L, "alpha beta gamma delta")                  // sub-8-gram overlap only -> kept
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, leaked),
      (101L, "tiny benchmark")                        // short bench doc, no exact twin
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), s"got $kept")
    // short docs decontaminate by exact containment: a benchmark doc equal
    // to a short corpus doc removes it
    val kept2 = Dedup.decontaminate(corpus, Seq((100L, "tiny doc")).toDF("doc_id", "text"),
        "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept2.contains(3L), s"short-doc exact match not removed: $kept2")
    assert(kept2.contains(1L) && kept2.contains(2L))
  }

  test("native minhash/simhash survive null array elements, matching the HOF (ADVICE r2)") {
    graft.GraftFunctions.register(spark)
    // session-wide SQL registration means arbitrary user arrays reach the
    // native expressions — null elements must hash like Murmur3Hash/XxHash64
    // (hash unchanged at its seed), not NPE
    val df = Seq(
      (1L, Seq[String]("a", null, "b")),
      (2L, Seq[String](null, null)),
      (3L, Seq[String]("x", "y"))).toDF("id", "arr")
    val both = df.select(col("id"),
        Dedup.minhashSignature(col("arr"), 16).as("nm"),
        Dedup.minhashSignatureHof(col("arr"), 16).as("hm"),
        Dedup.simhashOfTokens(col("arr")).as("ns"),
        Dedup.simhashOfTokensHof(col("arr")).as("hs"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"minhash mismatch for id ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4), s"simhash mismatch for id ${r.getLong(0)}")
    }
    // and through the SQL surface (codegen path)
    df.createOrReplaceTempView("null_arr_docs")
    val viaSql = spark.sql(
      "SELECT id, minhash_sig(arr, 8) AS sig, simhash64(arr) AS fp FROM null_arr_docs")
      .collect()
    assert(viaSql.length == 3 && viaSql.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("decontaminateFuzzy purges rewritten benchmark leaks exact n-grams miss") {
    val corpus = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val leaked = corpus.filter(col("doc_id").isin(0L, 7L))
      .as[(Long, String)].collect().toMap
    // rewrite every 5th token: no 8-token window survives intact, so
    // exact 8-gram decontamination CANNOT see these as leaks
    def rewrite(t: String): String = t.split(" ").zipWithIndex
      .map { case (w, i) => if (i % 5 == 0) s"zz$i" else w }.mkString(" ")
    val bench = Seq(
      (9001L, rewrite(leaked(0L))),
      (9002L, rewrite(leaked(7L))),
      (9003L, "completely unrelated benchmark question about nothing at all"))
      .toDF("doc_id", "text")

    val exactKept = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(exactKept.contains(0L) && exactKept.contains(7L),
      "fixture broken: exact 8-gram decontamination caught the rewrite")

    // 2-gram shingles survive a 1-in-5 rewrite at ~64% => Jaccard ~0.45;
    // r=2 bands collide at J^2 ~0.2 each, 32 bands => recall ~1
    val fuzzyKept = Dedup.decontaminateFuzzy(corpus, bench, "doc_id", "text",
        shingleLen = 2, b = 32, r = 2, threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(!fuzzyKept.contains(0L) && !fuzzyKept.contains(7L),
      "fuzzy decontamination missed the rewritten leaks")
    // no over-purge beyond TRUE near-dups: every purged doc really has
    // 2-gram Jaccard >= 0.4 with some bench doc (brute-force check —
    // catches e.g. the corpus's planted near-dup twins of docs 0/7,
    // which legitimately match the rewritten benchmark as well)
    def shingleSet(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val benchSh = bench.as[(Long, String)].collect().map(r => shingleSet(r._2))
    val purged = corpus.as[(Long, String)].collect()
      .filterNot(r => fuzzyKept.contains(r._1))
    purged.foreach { case (id, t) =>
      val sh = shingleSet(t)
      val maxJ = benchSh.map(bs =>
        sh.intersect(bs).size.toDouble / sh.union(bs).size).max
      assert(maxJ >= 0.4, s"doc $id purged at true max Jaccard $maxJ")
    }
    assert(purged.length < 10, s"purged ${purged.length} docs — fixture degenerated")
  }

  test("weighted ngram jaccard: multiplicities weigh repetition that set Jaccard ignores") {
    // A repeats the block "a b c" three times, B twice. The DISTINCT
    // shingle sets are near-identical (set Jaccard conflates 2x and 3x),
    // but the multiset min-sum tracks the shared repetition mass.
    val df = Seq(
      (1L, "a b c a b c a b c"),
      (2L, "a b c a b c"),
      (3L, "a b c a b c")).toDF("doc_id", "text")
    val w = Dedup.weightedNgramJaccard(df, "doc_id", "text", 3, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical multisets -> exactly 1.0
    assert(w((2L, 3L)) == 1.0)
    // A has 7 shingles, B 4; shared min-sum: "a b c"(min 2)+"b c a"(2)+
    // "c a b"(2) = 6 -> 6/(7+4-6) = 1.2? no: per-shingle counts A:
    // a b c=3, b c a=2, c a b=2; B: a b c=2, b c a=1, c a b=1 ->
    // wmin = 2+1+1 = 4 -> 4/(7+4-4) = 4/7
    assert(math.abs(w((1L, 2L)) - 4.0 / 7.0) < 1e-4)
    // set Jaccard sees the same three distinct shingles on both sides
    val s = Dedup.ngramJaccard(df, "doc_id", "text", 3, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(s((1L, 2L)) == 1.0) // conflated: repetition invisible
    assert(w((1L, 2L)) < s((1L, 2L)))
  }

  test("prefix-filtered Jaccard emits exactly the unfiltered pair set") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val full = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.ngramJaccardPrefix(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref == full && full.nonEmpty)
  }

  // ---- native text kernels vs the lambda forms they replace ----------
  // Each case runs under whole-stage codegen and again interpreted, so
  // both the generated code and `eval` are held to the reference.

  private def bothPaths[T](body: => T): Seq[T] =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").map { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  /** Token arrays: every sf0.001 document split on ' ', planted texts
    * (null, empty, leading/trailing/repeated spaces, short, non-ASCII)
    * and arrays with null tokens or none at all. */
  private lazy val tokArrays = {
    val planted = Seq[String](null, "", " ", "a", "a b", "  lead", "trail  ",
      "a  b   c", " x y z w v u t s r q ", "über straße für naïve café ünïcödé 日本語 テキスト",
      "repeat repeat repeat repeat repeat repeat repeat repeat repeat")
      .toDF("text")
    val arrays = Seq(Seq[String]("a", null, "b", "c"), Seq[String](null, null),
      Seq[String](null), Seq.empty[String], Seq[String]("", null, "", "x", null),
      null).toDF("toks")
    docs.select(split(col("text"), " ").as("toks"))
      .unionByName(planted.select(split(col("text"), " ").as("toks")))
      .unionByName(arrays)
  }

  /** The lambda form [[graft.functions.expressions.WordNgrams]] replaces. */
  private def wordNgramsRef(toks: Column, n: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  test("native word_ngrams equals the lambda form (n = 1, 3, 8, planted edge rows)") {
    for (n <- Seq(1, 3, 8)) {
      val runs = bothPaths(tokArrays.select(
          graft.GraftFunctions.wordNgrams(col("toks"), n).as("native"),
          wordNgramsRef(col("toks"), n).as("ref"))
        .collect())
      runs.foreach { rows =>
        assert(rows.length > 400)
        rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n: ${r.getSeq[String](0)} != ${r.getSeq[String](1)}"))
      }
    }
    // the edge rows as rendered: null text and "" give one "" gram, a
    // null token is skipped inside its gram, and "a  b" keeps its empty
    // token (so its 2-gram "a " differs from "a b")
    val planted = Seq[(Seq[String], Seq[String])](
      (null, Seq("")), (Seq(""), Seq("")), (Seq("a", "", "b"), Seq("a ", " b")),
      (Seq("a", null, "b"), Seq("a", "b")), (Seq("a"), Seq("a")))
    planted.foreach { case (toks, grams) =>
      val got = bothPaths(Seq(Tuple1(toks)).toDF("toks")
        .select(graft.GraftFunctions.wordNgrams(col("toks"), 2)).head.getSeq[String](0))
      assert(got.forall(_ == grams), s"$toks -> $got, expected $grams")
    }
  }

  test("native token_bigrams equals the lambda form on arrays of 2+ tokens") {
    val t = col("toks")
    val ref = transform(sequence(lit(1), size(t) - 1),
      i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b")))
    val runs = bothPaths(tokArrays.filter(size(t) >= 2)
      .select(graft.GraftFunctions.tokenBigrams(t).as("native"), ref.as("ref"))
      .collect())
    runs.foreach { rows =>
      assert(rows.length > 400)
      rows.foreach(r => assert(r.getSeq[Row](0) == r.getSeq[Row](1),
        s"${r.getSeq[Row](0)} != ${r.getSeq[Row](1)}"))
    }
    val schema = tokArrays.select(graft.GraftFunctions.tokenBigrams(t).as("bg")).schema
    assert(schema("bg").dataType.simpleString == "array<struct<a:string,b:string>>")
  }

  test("native band_hashes equals the lambda form at (b, r) = (16, 4) and (32, 2)") {
    val sigs = docs.select(Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64)
        .as("sig"))
      .unionByName(Seq(Seq(1, 2, 3), Seq.empty[Int]).toDF("sig")) // shorter than b·r
      .unionByName(Seq[Seq[java.lang.Integer]](Seq(7, null, 9, null), null)
        .toDF("sig"))
    for ((b, r) <- Seq((16, 4), (32, 2))) {
      val ref = transform(sequence(lit(0), lit(b - 1)),
        j => hash(slice(col("sig"), j * r + 1, lit(r))))
      val runs = bothPaths(sigs.select(
          graft.GraftFunctions.bandHashes(col("sig"), b, r).as("native"), ref.as("ref"))
        .collect())
      runs.foreach { rows =>
        assert(rows.length > 100)
        rows.foreach(r2 => assert(r2.getSeq[Int](0) == r2.getSeq[Int](1),
          s"(b=$b, r=$r): ${r2.getSeq[Int](0)} != ${r2.getSeq[Int](1)}"))
      }
    }
  }

  test("text kernels resolve by SQL name once registered") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql("SELECT word_ngrams(split('a b c', ' '), 2) AS g, " +
      "token_bigrams(split('a b c', ' ')) AS bg, band_hashes(array(1, 2, 3, 4), 2, 2) AS bh")
      .head
    assert(r.getSeq[String](0) == Seq("a b", "b c"))
    assert(r.getSeq[Row](1) == Seq(Row("a", "b"), Row("b", "c")))
    assert(r.getSeq[Int](2).length == 2)
  }
}

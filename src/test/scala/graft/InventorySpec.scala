package graft

/** Inventory-integrity guard: the driver contract is only as good as
  * the registration — a query written but not wired into
  * `SparkEntry.queries`, or an oracle keyed to a missing/renamed query,
  * silently drops out of the correctness gate. Every entry runs once at
  * sf0.001 and must produce rows (the driver's smoke expectation).
  */
class InventorySpec extends SparkSpec {

  test("every oracle key has a query; keys are well-formed; no key collisions") {
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert((ok -- qk).isEmpty, s"oracles without queries: ${ok -- qk}")
    // ...and the direction the "N of N oracle-checked" claim rests on: a
    // query registered without an oracle silently drops out of the gate.
    assert((qk -- ok).isEmpty, s"queries without oracles: ${qk -- ok}")
    assert(qk.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")), "malformed query key")
    // SparkEntry merges the source Seqs with `.toMap`, which keeps the
    // LAST entry on a duplicate key — a query or oracle defined in two
    // inventories would silently shadow its twin and drop out of the
    // gate. The guard derives from SparkEntry.families — the SAME list
    // SparkEntry.queries/oracleSql consume — so adding a family to
    // SparkEntry automatically extends the guard (round-6 lesson: a
    // hand-maintained sum here went stale when the Bloom family landed).
    assert(SparkEntry.families.flatMap(_._2).size == SparkEntry.queries.size,
      "duplicate query key across the query inventories")
    assert(SparkEntry.families.flatMap(_._3).size == SparkEntry.oracleSql.size,
      "duplicate oracle key across the oracle inventories")
    SparkEntry.families.foreach { case (fam, qs, os) =>
      assert(qs.map(_._1).distinct.size == qs.size, s"duplicate query key within family $fam")
      assert(os.map(_._1).distinct.size == os.size, s"duplicate oracle key within family $fam")
    }
  }

  test("every registered query executes at sf0.001 and returns rows") {
    initQuiet()
    // each query runs in its own CacheScope, and must leave the session
    // holding exactly what it held before the query
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val before = cacheHeld()
      val n = CacheScope(fn(spark, sf).count())
      (name, n, cacheHeld() == before)
    }
    val empty = runs.collect { case (name, 0L, _) => name }
    assert(empty.isEmpty, s"queries with zero rows at sf0.001: $empty")
    val leaked = runs.collect { case (name, _, false) => name }
    assert(leaked.isEmpty, s"queries that left frames cached after their scope: $leaked")
  }

  test("a plan-only scope builds a query with eager sites without running a job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    Tables.load(spark, sf, "documents").schema // the footer read happens once, here
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def group(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(group(e.properties))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId.toString)
    }
    sc.addSparkListener(listener)
    try {
      val before = cacheHeld()
      sc.setJobGroup("plan-only", "building q143 in a plan-only scope")
      // q143 reaches two CacheScope.eager sites (nearDupCellCounts)
      val plan = CacheScope.planOnly(
        SparkEntry.queries("q143_split_leakage")(spark, sf).queryExecution.executedPlan.toString)
      sc.setJobGroup("sentinel", "marks the end of the listener events")
      spark.range(1).count()
      sc.clearJobGroup()
      // events arrive in order: once the sentinel job started, every
      // job the build launched has been seen
      val deadline = System.nanoTime() + 30e9.toLong
      while (!started.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(50)
      assert(started.contains("sentinel"), "listener never saw the sentinel job")
      assert(plan.contains("InMemoryRelation"), s"no cached frame in the plan:\n$plan")
      assert(!started.contains("plan-only"), s"building in a plan-only scope ran jobs: $started")
      assert(cacheHeld() == before, "the plan-only scope left frames cached")
    } finally sc.removeSparkListener(listener)
  }

  test("flagship entry produces rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}

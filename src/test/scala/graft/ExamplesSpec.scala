package graft

import graft.examples.PretrainPipeline

/** The end-to-end pretraining pipeline composes and behaves sanely. */
class ExamplesSpec extends SparkSpec {

  test("PretrainPipeline: monotone filtering, disjoint folds, sane packing") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def shardDirs() = tmp.listFiles().count(_.getName.startsWith("pretrain_shards"))
    val (shards0, held0) = (shardDirs(), cacheHeld())
    val stats = PretrainPipeline.run(spark, sf).toMap
    // the run releases every frame it cached and deletes its shards
    assert(cacheHeld() == held0, "PretrainPipeline.run left frames cached")
    assert(shardDirs() <= shards0, "PretrainPipeline.run left its shard directory behind")
    // every stage produced rows (the quarantine and the drift-audit
    // flag counts are rightly zero on a clean uniform corpus — the
    // poison test below drives the former; the audit keys are asserted
    // present explicitly)
    val zeroOk = Set("quarantined", "audit_ks_flagged", "audit_jsd_flagged")
    assert(stats.filter(kv => !zeroOk(kv._1)).values.forall(_ > 0),
      s"empty stage in $stats")
    assert(stats("quarantined") == 0, s"clean corpus quarantined rows: $stats")
    // uniform synthetic sources: no source should trip the drift gates
    assert(stats("audit_ks_flagged") == 0 && stats("audit_jsd_flagged") == 0,
      s"drift audit flagged a uniform corpus: $stats")
    assert(stats("validated") == stats("raw"))
    // filters only remove
    assert(stats("quality") <= stats("raw"))
    assert(stats("lm_quality") <= stats("quality"))
    assert(stats("trimmed") <= stats("lm_quality"))
    assert(stats("deduped") <= stats("trimmed"))
    assert(stats("decontaminated") <= stats("deduped"))
    assert(stats("decontaminated_fuzzy") <= stats("decontaminated"))
    assert(stats("capped") <= stats("decontaminated_fuzzy"))
    assert(stats("mixed") <= stats("capped"))
    // folds partition the mixed corpus
    assert(stats("train") + stats("val") + stats("test") == stats("mixed"))
    // packing covers every training doc and derives a sane sequence count:
    // ceil(tokens/128) sequences means seqs <= tokens, docs <= packed rows
    assert(stats("packed_docs") == stats("train"))
    assert(stats("sequences") > 0 && stats("boundary_docs") < stats("packed_docs"))
    assert(stats("shard_files") >= 1)
  }

  test("TemporalCdcDemo: streamed dimension, as-was enrichment, funnel, compaction") {
    val stats = graft.examples.TemporalCdcDemo.run(spark, sf).toMap
    // versions compress the change stream; exactly one open version per user
    assert(stats("versions") > stats("current") && stats("current") > 0)
    // left-join contract: every purchase enriched (possibly with 'none')
    assert(stats("enriched") == stats("purchases"))
    // ordered funnel can only narrow
    assert(stats("funnel_first") >= stats("funnel_last"))
    assert(stats("cohort_cells") > 0)
    // compaction preserves the table
    assert(stats("versions_after_compact") == stats("versions"))
  }

  test("PretrainPipeline: malformed rows land in the dead-letter, not the job") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    // three poison rows: null text, empty text, negative id — each
    // would RAISE inside the curation mixers if it got past the gate
    val poison = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(9000001L, null, "srcX", "en", 0L),
        org.apache.spark.sql.Row(9000002L, "", "srcX", "en", 0L),
        org.apache.spark.sql.Row(-1L, "negative id doc", "srcX", "en", 15L))),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")
        .add("source", "string").add("lang", "string").add("n_chars", "long"))
    val poisoned = docs.select("doc_id", "text", "source", "lang", "n_chars")
      .unionByName(poison)
    val clean = PretrainPipeline.runOn(spark,
      docs.select("doc_id", "text", "source", "lang", "n_chars")).toMap
    val dl = java.nio.file.Files.createTempDirectory("examples_deadletter").toString
    val stats = PretrainPipeline.runOn(spark, poisoned, deadLetterDir = Some(dl)).toMap
    assert(stats("quarantined") == 3, s"expected 3 quarantined rows: $stats")
    // the dead-letter sink is where the caller SAID, with the violation
    // names attached — quarantined rows must be findable and diagnosable
    val quarantined = spark.read.parquet(dl)
      .select("doc_id", "violations").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(quarantined.keySet == Set(9000001L, 9000002L, -1L), s"$quarantined")
    assert(quarantined(9000001L).contains("not_null_text"))
    assert(quarantined(9000002L).contains("nonempty_text"))
    assert(quarantined(-1L).contains("nonneg_doc_id"))
    // the gate isolates the poison: downstream stages are unchanged
    assert(stats("validated") == clean("validated"))
    assert(stats("train") == clean("train"))
  }

  test("PretrainPipeline: no per-row text lambda is left but Validate's violations filter") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, CreateArray, HigherOrderFunction}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // every operator of an executed plan, the plans of the frames it
    // reads from the cache and its subqueries included; an adaptive
    // plan's input plan too, since its final plan may have replaced a
    // branch that read nothing
    def operators(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => operators(a.inputPlan) ++ operators(a.executedPlan)
      case q: QueryStageExec => operators(q.plan)
      case r: ReusedExchangeExec => operators(r.child)
      case m: InMemoryTableScanExec => m +: operators(m.relation.cachedPlan)
      case o => o +: (o.children ++ o.subqueries).flatMap(operators)
    }
    // Validate.split's `filter(array(<rule flags>), v -> v IS NOT NULL)`
    def violationsFilter(h: HigherOrderFunction): Boolean = h match {
      case f: ArrayFilter => f.argument.isInstanceOf[CreateArray]
      case _ => false
    }
    val marker = "examples-spec-hof-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.executedPlan.toString.contains(marker)) markerSeen = true
        else operators(qe.executedPlan).flatMap(_.expressions)
          .flatMap(_.collect { case h: HigherOrderFunction if !violationsFilter(h) => h })
          .foreach(h => seen.add(h.sql))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      PretrainPipeline.run(spark, sf)
      // listener events arrive in order: once the marker query's event is
      // in, every pipeline query's event has been handled
      spark.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(50)
      assert(markerSeen, "the listener never saw the marker query")
    } finally spark.listenerManager.unregister(listener)
    val left = seen.toArray.map(_.toString).distinct
    assert(left.isEmpty, s"higher-order functions left in the pipeline's plans:\n${left.mkString("\n")}")
  }
}

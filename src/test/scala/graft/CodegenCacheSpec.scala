package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-code cache holds a working set larger than Spark's
  * default 100 entries, so a session that re-runs its queries reuses
  * their compiled classes instead of recompiling them every round (one
  * perfbench `olap` pass needs ~270 classes and reads them in a cycle;
  * at 100 entries it recompiled all of them every pass).
  *
  * The cache is JVM-global and sized by the first session that compiles
  * code: here that is [[SparkSpec]]'s session, which takes
  * [[ScaleConfig.codegenCacheEntries]] as the engine's postures do. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a cycle of 150 distinct generated plans compiles nothing on its second round") {
    initQuiet()
    // each literal pair is inlined into its own whole-stage class
    val plans = (1 to 150).map { i =>
      () => spark.range(4).selectExpr(s"id * $i + ${i + 1000} AS v").collect()
    }
    val before = compiles
    plans.foreach(_())
    val firstRound = compiles - before
    assert(firstRound >= 150, s"expected one compile per plan, saw $firstRound")
    val warm = compiles
    val results = plans.map(_().toSeq)
    assert(compiles == warm, s"${compiles - warm} recompiles on the second round")
    assert(results(2) == (0 until 4).map(id => org.apache.spark.sql.Row(id * 3L + 1003L)))
  }
}

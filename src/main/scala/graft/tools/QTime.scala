package graft.tools

import graft.{Bench, ScaleConfig, Tables}

/** Ad-hoc single-query timer for scale-fix verification: runs the named
  * registry queries against a corpus dir under the cluster posture
  * (AQE on — [[graft.ScaleConfig.cluster]]), one warm-up pass then one
  * timed pass each ([[graft.Bench.passes]]), and prints the session's
  * dispatch floor, then seconds + row counts.
  *
  * Run: `tools/runjvm.sh graft.tools.QTime <dir> <q1> [q2 ...]`.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = ScaleConfig.session(ScaleConfig.cluster)
    Tables.names.foreach(n => Tables.load(spark, dir, n).persist().count())
    // burn-in: absorb the cache-materialization eviction/GC churn before
    // anything is timed (the ScaleCheck discipline — without it the
    // first query reads 2-10x its steady-state time at 100x)
    Tables.names.foreach(n => Tables.load(spark, dir, n).count())
    // per-SESSION dispatch floor (the Bench/BenchAmp probe), so a
    // flagged-row re-measure carries its own drift normalizer — the
    // r9-verdict protocol for adjudicating ScaleCheck superlinear flags
    println(f"floor_per_query ${Bench.floor(spark, dir).seconds}%8.3f s")
    // QTIME_STAGES=1: per-stage task metrics for the TIMED pass (the
    // guide-§7 attribution view — which stage, how many tasks, executor
    // run vs wall), so a flagged query's cost lands on an operator
    // instead of a guess. QTIME_COLD=1 skips the warm pass (attributes
    // codegen/cache-population cost honestly for one-shot shapes).
    val dumpStages = sys.env.get("QTIME_STAGES").contains("1")
    val cold = sys.env.get("QTIME_COLD").contains("1")
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String)]()
    if (dumpStages) {
      import org.apache.spark.scheduler._
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          stages.add((si.stageId, si.numTasks, wall,
            si.taskMetrics.executorRunTime, si.name.take(80)))
        }
      })
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      if (!cold) Bench.passes(spark, dir, Seq(name), warm = 1, timed = 0, errors)
      stages.clear()
      Bench.passes(spark, dir, Seq(name), warm = 0, timed = 1, errors).head.get(name) match {
        case Some((sec, rows)) => println(f"$name%-30s $sec%8.2f s   rows=$rows")
        case None => println(f"$name%-30s FAILED   ${errors(name)}")
      }
      if (dumpStages) {
        // listener-bus drain: poll until the queue stops growing for two
        // consecutive intervals (r11 ADVICE — a fixed 500 ms sleep could
        // miss the largest stages' events on a loaded machine;
        // listenerBus.waitUntilEmpty is not public API), capped at 5 s
        var (prev, stable, waited) = (-1, 0, 0)
        while (stable < 2 && waited < 5000) {
          Thread.sleep(250); waited += 250
          val n = stages.size
          if (n == prev) stable += 1 else { stable = 0; prev = n }
        }
        Iterator.continually(stages.poll()).takeWhile(_ != null).toList
          .sortBy(-_._3).take(12).foreach { case (id, nt, wall, run, nm) =>
            println(f"    stage $id%4d tasks=$nt%4d wall=$wall%7d ms run=$run%8d ms  $nm")
          }
      }
    }
    spark.stop()
  }
}

package graft.tools

import graft.{Bench, ScaleConfig, Tables}
import org.apache.spark.metrics.source.CodegenMetrics

/** Ad-hoc single-query timer for scale-fix verification: runs the named
  * registry queries against a corpus dir under the cluster posture
  * (AQE on — [[graft.ScaleConfig.cluster]]), one warm-up pass over all
  * of them then one timed run each ([[graft.Bench.passes]]), and prints
  * the session's dispatch floor, then per query its seconds, the
  * generated classes compiled during its timed run, and its row count.
  * After the warm-up a query should compile 0 classes; a non-zero count
  * means its code was evicted from Spark's generated-code cache and
  * recompiled (see [[graft.ScaleConfig]]).
  *
  * Run: `tools/runjvm.sh graft.tools.QTime <dir> <q1> [q2 ...]`.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = ScaleConfig.session(ScaleConfig.cluster)
    val loaded = Tables.persistAll(spark, dir)
    // burn-in: absorb the cache-materialization eviction/GC churn before
    // anything is timed (the ScaleCheck discipline — without it the
    // first query reads 2-10x its steady-state time at 100x)
    loaded.foreach(n => Tables.load(spark, dir, n).count())
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
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long, Long, String)]()
    if (dumpStages) {
      import org.apache.spark.scheduler._
      import org.apache.spark.storage.StorageLevel
      // SQL execution id per stage: only the submit event carries the
      // job's local properties
      val execIds = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
          Option(ss.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(execIds.put(ss.stageInfo.stageId, _))
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          // the physical operators that built the stage's RDDs, in
          // data-flow order (on Spark 4 `si.name` is the same
          // CompletableFuture call site for every stage), without the
          // lineage of persisted RDDs: a cached table's build scopes
          // would otherwise lead every stage that reads it
          val byId = si.rddInfos.map(r => r.id -> r).toMap
          var cached = Set.empty[Int]
          var next = si.rddInfos.filter(_.storageLevel != StorageLevel.NONE).map(_.id)
          while (next.nonEmpty) {
            cached ++= next
            next = next.flatMap(id => byId.get(id).toSeq.flatMap(_.parentIds)).filterNot(cached)
          }
          val ops = si.rddInfos.filterNot(r => cached(r.id)).sortBy(_.id)
            .flatMap(_.scope).map(_.name).distinct
          stages.add((si.stageId, Option(execIds.remove(si.stageId)).getOrElse("-"),
            si.numTasks, wall, si.taskMetrics.executorRunTime, ops.mkString(" > ").take(100)))
        }
      })
    }
    // listener-bus drain: poll until the queue stops growing for two
    // consecutive intervals (r11 ADVICE — a fixed 500 ms sleep could
    // miss the largest stages' events on a loaded machine;
    // listenerBus.waitUntilEmpty is not public API), capped at 5 s, then
    // take what arrived
    def drain() = {
      var (prev, stable, waited) = (-1, 0, 0)
      while (stable < 2 && waited < 5000) {
        Thread.sleep(250); waited += 250
        val n = stages.size
        if (n == prev) stable += 1 else { stable = 0; prev = n }
      }
      Iterator.continually(stages.poll()).takeWhile(_ != null).toList
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // one warm-up pass over all the named queries, then each is timed
    // in turn: the timed sequence re-reads the generated classes the
    // warm-up compiled in the same cycle, so a cache too small for
    // the set shows as recompiles
    if (!cold) Bench.passes(spark, dir, names, warm = 1, timed = 0, errors)
    if (dumpStages) drain()
    names.foreach { name =>
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val timed = Bench.passes(spark, dir, Seq(name), warm = 0, timed = 1, errors).head.get(name)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      timed match {
        case Some((sec, rows)) =>
          println(f"$name%-30s $sec%8.2f s   compiles=$compiles%4d   rows=$rows")
        case None => println(f"$name%-30s FAILED   compiles=$compiles%4d   ${errors(name)}")
      }
      if (dumpStages)
        drain().sortBy(-_._4).take(12).foreach { case (id, exec, nt, wall, run, ops) =>
          println(f"    stage $id%4d sql=$exec%4s tasks=$nt%4d wall=$wall%7d ms run=$run%8d ms  $ops")
        }
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum => fsum}
import scala.collection.mutable

/** Benchmark main — warm SparkSession, 2 full-suite warm-up passes, then
  * 5 timed passes; session startup excluded. Prints ONE JSON line;
  * `value`/`queries` are the suite total / per-query MEDIANS over the 5
  * passes, `value_min`/`queries_min` the per-query minimums (the noise
  * floor on this VM — see BENCH_NOTES.md).
  *
  * Inputs are persisted once: Spark's CacheManager substitutes the cached
  * InMemoryRelation into every later plan over the same source, so each
  * timed pass measures query execution, not parquet decode. That matches
  * the oracle baseline, which re-reads OS-page-cached parquet through
  * DuckDB's own buffer layer.
  *
  * The pass loop ([[passes]]) and the dispatch-floor probe ([[floor]])
  * are shared with [[graft.tools.BenchAmp]] and [[graft.tools.QTime]].
  * Per-query planning, dispatch, deserialize, CPU and GC splits are
  * perfbench's traced `olap` workload (`spark.plan_ms`, `ops.<q>_ms`,
  * `spark.*`; perfbench/METRICS.md).
  */
object Bench {

  /** The bench session ([[ScaleConfig.bench]]), shared with perfbench so
    * the benchmark measures the SAME engine config this main runs. */
  def session(): SparkSession = ScaleConfig.session(ScaleConfig.bench)

  /** The 20 BASELINE.md headline queries (q32+ additions are not in the
    * baseline suite; including them would skew the comparison). */
  def headlineNames: Seq[String] =
    graft.ops.Relational.allNames
      .filter(_.drop(1).takeWhile(_.isDigit).toInt <= 20)

  /** `warm` untimed passes, then `timed` timed passes, of the registry
    * queries `names` over the tables in `dir`. Returns one map per
    * timed pass: query → (seconds, result rows).
    *
    * Per-query fault isolation: one broken query costs one red cell,
    * never the whole run (round 5: a single AnalysisException aborted
    * the process before any JSON was printed). A query that throws is
    * recorded in `errors` (first message kept); one that failed before
    * the timed passes is left out of them, one that fails during them
    * keeps whatever timings it has. Each query call is one
    * [[CacheScope]], so no call reads frames an earlier one cached. */
  def passes(spark: SparkSession, dir: String, names: Seq[String], warm: Int,
      timed: Int, errors: mutable.Map[String, String]): Seq[Map[String, (Double, Long)]] = {
    def pass(ns: Seq[String]): Map[String, (Double, Long)] =
      ns.flatMap { name =>
        val t0 = System.nanoTime()
        try {
          val rows = CacheScope(SparkEntry.queries(name)(spark, dir).collect().length.toLong)
          Some(name -> ((System.nanoTime() - t0) / 1e9, rows))
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(name, e.toString.take(300)); None
        }
      }.toMap
    (1 to warm).foreach(_ => pass(names)) // JIT + codegen + cache population
    val live = names.filterNot(errors.contains)
    Seq.fill(timed)(pass(live))
  }

  /** The session's fixed per-job cost and whether its probe size was
    * defaulted (see [[floor]]). */
  final case class Floor(seconds: Double, rowsDefaulted: Boolean)

  /** Per-session dispatch FLOOR (measured anatomy in BENCH_NOTES.md):
    * local-mode Spark pays a fixed per-job cost — plan→RDD, codegen
    * lookup, 2-stage scheduling, result fetch — that DuckDB's in-process
    * executor doesn't. The probe is a `range(N).sum()` rebuilt fresh
    * each rep, with N = the ACTUAL `lineitem` row count in `dir` (so the
    * premise scales with the corpus): the same two-stage aggregate shape
    * as the suite queries with ~1 ms of real compute — the JVM sums
    * 600 k longs in ~0.2 ms, so the median IS the fixed job cost.
    * Uniform across queries, amortizes to zero at the 100 TB design
    * point. Run inside each session, a host-drift move is attributable
    * in-artifact: over-floor totals separate "the VM got slower at
    * dispatching jobs" from "a query's compute regressed".
    *
    * NonFatal only: a fatal error (OOM) must crash the run, not
    * masquerade as a default floor. A failed `lineitem` count defaults N
    * to 6 000 000, logged and flagged, because a defaulted N makes
    * floors incomparable across runs. */
  def floor(spark: SparkSession, dir: String): Floor = {
    val (factRows, defaulted) =
      try (Tables.load(spark, dir, "lineitem").count(), false)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[floor] lineitem count failed (${e.getMessage}); defaulting " +
            "factRows=6000000 — floors are NOT comparable across runs")
        (6000000L, true)
      }
    Floor(probeMedian(() =>
      { spark.range(0, factRows, 1, 3).agg(fsum(col("id"))).collect(); () }), defaulted)
  }

  /** Median of 11 timed runs of `probe` after 2 that warm its codegen. */
  private def probeMedian(probe: () => Unit): Double = {
    probe(); probe()
    val ts = Seq.fill(11) {
      val t0 = System.nanoTime()
      probe()
      (System.nanoTime() - t0) / 1e9
    }
    ts.sorted.apply(ts.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    Tables.persistAll(spark, sfDir)

    val errors = mutable.LinkedHashMap.empty[String, String]
    val timedPasses = passes(spark, sfDir, headlineNames, warm = 2, timed = 5, errors)
    val names = headlineNames.filterNot(errors.contains)
    def stat(f: Seq[Double] => Double) = names
      .map { n => n -> timedPasses.flatMap(_.get(n)).map(_._1) }
      .collect { case (n, ts) if ts.nonEmpty => n -> f(ts) }
    val medians = stat(ts => ts.sorted.apply(ts.size / 2))
    val mins = stat(_.min)
    def fmt(m: Seq[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = medians.map(_._2).sum

    // `value_over_floor` = suite total net of 20 floors, reported
    // alongside the raw total so the gate comparison is explicit, not
    // prose. The scan-only probe bounds the single-stage variant.
    val region = Tables.load(spark, sfDir, "region")
    val floorScan = probeMedian(() => { region.select(col("r_regionkey")).collect(); () })
    val floorPerQuery = floor(spark, sfDir).seconds
    val overFloor = math.max(0.0, total - names.size * floorPerQuery)

    // value/queries = per-BASELINE.md medians; *_min = noise floor on this
    // VM (run-to-run variance is ±2x — see BENCH_NOTES.md)
    val errJson = errors
      .map { case (k, v) => "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${fmt(medians)},""" +
      s""""value_min":${mins.map(_._2).sum},"queries_min":${fmt(mins)},""" +
      s""""floor_per_query":$floorPerQuery,"floor_scan_only":$floorScan,""" +
      s""""value_over_floor":$overFloor,"errors":$errJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}

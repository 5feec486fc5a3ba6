package graft.tools

import graft.{Bench, ScaleConfig, Tables}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Standing AMPLIFIED bench (VERDICT r6 §next-round #8): the 20
  * headline queries on the 10×-amplified corpus under the CLUSTER
  * posture, as a fixed per-round artifact (BENCHAMP_r*.json).
  *
  * Why it exists: at sf0.1 most headline queries sit on the ~40-100 ms
  * local-mode dispatch floor (BENCH_NOTES.md), so a real plan
  * regression that doubles a query's compute is INVISIBLE in
  * BENCH_r*.json — it moves 30 ms inside ±2× VM noise. At 10× the
  * rows, shuffle-bound queries run 0.5–3 s where a 2× regression is an
  * unmissable signal. This artifact is the round-over-round perf
  * comparison that BENCH (the baseline-comparison artifact) cannot be.
  *
  * FIXED protocol (do not vary across rounds — comparability is the
  * point): 10× Amplify corpus, cluster posture ([[graft.ScaleConfig]]:
  * AQE + coalesce + skew-join) at shuffle.partitions=64, all tables
  * persisted before timing, 2 warm-up passes, 5 timed passes,
  * per-query MEDIANS. Same fault isolation as Bench: a broken query
  * is one red cell, never a dead artifact.
  *
  * Round-9 (VERDICT r8 #8): the whole protocol repeats across 3
  * SESSIONS (fresh SparkSession + re-persisted caches each; one JVM, so
  * JIT warmth carries — deliberate, the compiler is not what drifts)
  * and the artifact reports per-query session medians, their median,
  * min, and spread — so round-over-round comparison can read min-vs-min
  * and separate one-signed VM drift (spread-sized) from a code
  * regression (a shift that clears the spread band).
  *
  * Run: `sbt "runMain graft.tools.BenchAmp [ampDir] [outJson] [sessions]"`.
  */
object BenchAmp {
  def main(args: Array[String]): Unit = {
    val ampDir = if (args.nonEmpty) args(0) else "/tmp/amp10"
    val outJson = if (args.length > 1) args(1) else "/tmp/benchamp.json"
    val sessions = if (args.length > 2) args(2).toInt else 3
    val allNames = Bench.headlineNames
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def oneSession(): (Map[String, Double], Bench.Floor) = {
      val spark = ScaleConfig.session(ScaleConfig.cluster)
      Tables.persistAll(spark, ampDir)
      val timed = Bench.passes(spark, ampDir, allNames, warm = 2, timed = 5, errors)
      val medians = allNames
        .map { n => n -> timed.flatMap(_.get(n)).map(_._1) }
        .collect { case (n, ts) if ts.nonEmpty => n -> ts.sorted.apply(ts.size / 2) }
        .toMap
      // per-SESSION dispatch floor (r9 VERDICT #6), run INSIDE each
      // session so a host-drift session move is attributable in-artifact
      val floor = Bench.floor(spark, ampDir)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (medians, floor)
    }

    val sessionResults: Seq[(Map[String, Double], Bench.Floor)] =
      (1 to sessions).map { i =>
        System.err.println(s"[benchamp] session $i/$sessions")
        oneSession()
      }
    val perSession: Seq[Map[String, Double]] = sessionResults.map(_._1)
    val sessionFloors: Seq[Double] = sessionResults.map(_._2.seconds)
    val floorRowsDefaulted = sessionResults.exists(_._2.rowsDefaulted)
    val names = allNames.filterNot(errors.contains)
    def med(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    val rows = names.flatMap { n =>
      val ts = perSession.flatMap(_.get(n))
      if (ts.isEmpty) None
      else Some(n -> (med(ts), ts.min, ts.max, ts))
    }
    val totalMed = rows.map(_._2._1).sum
    val totalMin = rows.map(_._2._2).sum
    // per-session suite totals and their over-floor forms: sessionTotal
    // − nQueries × that session's own floor — the number to compare
    // round-over-round (a host-drift move shifts the floor term, a code
    // regression shifts over-floor)
    val sessionTotals = perSession.map(s => names.flatMap(s.get).sum)
    val sessionOverFloor = sessionTotals.zip(sessionFloors)
      .map { case (t, f) => math.max(0.0, t - names.size * f) }
    val errJson = errors
      .map { case (k, v) => "\"" + k + "\":\"" + v.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\"" }
      .mkString("{", ",", "}")
    val qJson = rows.map { case (n, (m, lo, hi, ts)) =>
      val spreadPct = if (lo > 0) (hi - lo) / lo * 100 else 0.0
      "\"" + n + "\":" + f"""{"median":$m%.3f,"min":$lo%.3f,"max":$hi%.3f,"spread_pct":$spreadPct%.1f,"sessions":[${ts.map(t => f"$t%.3f").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val json =
      s"""{"metric":"amp10_total","value":$totalMed,"total_min":$totalMin,"unit":"sec","queries":$qJson,""" +
        s""""session_floors_per_query":${arr(sessionFloors)},""" +
        s""""floor_rows_defaulted":$floorRowsDefaulted,""" +
        s""""session_totals":${arr(sessionTotals)},""" +
        s""""session_totals_over_floor":${arr(sessionOverFloor)},""" +
        s""""total_over_floor_min":${f"${if (sessionOverFloor.nonEmpty) sessionOverFloor.min else 0.0}%.3f"},""" +
        s""""errors":$errJson,"amp_dir":"$ampDir","protocol":"cluster posture, shuf=64; $sessions sessions x (2 warm + 5 timed passes, per-query medians); value = sum of per-query medians-of-session-medians, total_min = sum of per-query session minima; session_floors_per_query = per-session median of 11 fresh range(factRows) two-stage aggregates (the Bench floor shape), session_totals_over_floor = sessionTotal - nQueries*sessionFloor — compare rounds on over-floor numbers"}"""
    Files.writeString(Paths.get(outJson), json)
    println(json)
  }
}

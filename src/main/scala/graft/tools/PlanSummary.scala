package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Compact plan-quality summary over the ENTIRE query inventory — the
  * machine-readable twin of PLANS.md: per query, the shuffle-exchange
  * count, join strategies, loop-join flags, codegen span count, and
  * whether any parquet scan failed to prune columns. One JSON line per
  * query so a reviewer (or a future round's regression diff) can scan
  * plan posture without reading half a megabyte of plan text.
  *
  * Run: `sbt "runMain graft.tools.PlanSummary [sfDir] [outJson]"`.
  */
object PlanSummary {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outJson = if (args.length > 1) args(1) else "/tmp/plan_summary.json"
    val spark = Plans.session()
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      def n(re: String) = re.r.findAllIn(p).size
      val scans = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
        .map(_.group(1).count(_ == ',') + 1).toSeq
      s""""$name": {"exchanges": ${n("Exchange (hash|range|Single)")},""" +
        s""""bhj": ${n("BroadcastHashJoin")}, "smj": ${n("SortMergeJoin")},""" +
        s""""shj": ${n("ShuffledHashJoin")}, "bnlj": ${n("BroadcastNestedLoopJoin")},""" +
        s""""cartesian": ${n("CartesianProduct")},""" +
        s""""codegen_spans": ${n("""\*\(\d+\)""")},""" +
        s""""max_scan_cols": ${if (scans.isEmpty) 0 else scans.max},""" +
        s""""single_partition_exchanges": ${n("Exchange SinglePartition")}}"""
    }
    Files.writeString(Paths.get(outJson),
      rows.mkString("{\n ", ",\n ", "\n}"))
    println(s"wrote $outJson - ${rows.size} queries")
    spark.stop()
  }
}

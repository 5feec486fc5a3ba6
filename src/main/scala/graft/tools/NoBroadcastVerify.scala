package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** Verify-style dump for the no-broadcast (100 TB-regime) join battery
  * (VERDICT r4 §next-round #1): runs the six join-heavy inventory
  * queries with `autoBroadcastJoinThreshold=-1` — the config a
  * 1000-executor cluster runs when no corpus-derived side fits executor
  * memory — dumps each result as parquet plus the matching
  * `oracle_sql.json` subset for `tools/check.py`, and writes per-query
  * plan facts (join strategies, loop-join absence) to
  * `nobroadcast_plans.json`.
  *
  * Run: `sbt "runMain graft.tools.NoBroadcastVerify <sfDir> <outDir>"`,
  * then `python3 tools/check.py <sfDir> <outDir>` — the combined result
  * is the NOBROADCAST_r{N}.json artifact.
  */
object NoBroadcastVerify {
  val queries = Seq(
    "q03_join_revenue_by_nation", "q08_semi_anti", "q18_asof_join",
    "q20_argmax_group", "q55_bloom_join", "q64_late_alone")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.ScaleConfig.session(graft.ScaleConfig.plain)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    new java.io.File(outDir).mkdirs()

    val planFacts = queries.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val facts = Seq(
        "sort_merge_join" -> p.contains("SortMergeJoin"),
        "shuffled_hash_join" -> p.contains("ShuffledHashJoin"),
        "broadcast_hash_join" -> p.contains("BroadcastHashJoin"),
        "broadcast_nested_loop" -> p.contains("BroadcastNestedLoopJoin"),
        "cartesian" -> p.contains("CartesianProduct"))
        .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s""""$name": {$facts}"""
    }
    Files.writeString(Paths.get(s"$outDir/nobroadcast_plans.json"),
      planFacts.mkString("{", ",\n ", "}"))

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => queries.contains(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"dumped ${queries.size} queries under autoBroadcastJoinThreshold=-1 to $outDir")
    spark.stop()
  }
}

package graft.tools

import graft.{ScaleConfig, SparkEntry}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dumps the formatted physical plan of every driver query to PLANS.md —
  * the plan-quality evidence artifact (pushdown, broadcasts, codegen
  * spans, exchange placement) at sf0.01. With query names after the
  * corpus dir, prints only those plans to stdout instead (the per-query
  * probe).
  *
  * Run: `tools/runjvm.sh graft.tools.Plans [sfDir] [q1 q2 ...]`.
  */
object Plans {

  /** The plan-dump session ([[graft.tools.PlanSummary]] shares it): the
    * plain posture with AQE off, so the dumped plan is the final one. */
  def session(): SparkSession = {
    val spark = ScaleConfig.session(ScaleConfig.plain)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark
  }

  /** `show` of query `name`'s plan, taken inside a plan-only
    * [[graft.CacheScope]]: building the query runs no eager counts, and
    * nothing it caches outlives the call. Checkpoint sites still run
    * the upstream they truncate (see [[graft.CacheScope]]). */
  def planOf[A](spark: SparkSession, dir: String, name: String)(
      show: org.apache.spark.sql.execution.QueryExecution => A): A =
    graft.CacheScope.planOnly(show(SparkEntry.queries(name)(spark, dir).queryExecution))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = args.drop(1).toSeq
    val spark = session()
    def plan(name: String): String = planOf(spark, sfDir, name)(_.explainString(FormattedMode))
    if (only.nonEmpty) only.foreach(name => println(s"== $name ==\n${plan(name)}"))
    else {
      val sb = new StringBuilder
      sb.append("# Physical plans (generated by graft.tools.Plans, sf0.01, AQE off)\n\n")
      sb.append("Evidence artifact: `PushedFilters`/`ReadSchema` show scan-level ")
      sb.append("pushdown and pruning; `BroadcastHashJoin` vs `SortMergeJoin` shows ")
      sb.append("join strategy; `(n)`-numbered operators are whole-stage-codegen spans.\n")
      SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
        try sb.append(s"\n## $name\n\n```\n${plan(name)}```\n")
        catch {
          case e: Throwable => sb.append(s"\n## $name\n\nFAILED: ${e.getMessage}\n")
        }
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${sb.length} chars)")
    }
    spark.stop()
  }
}

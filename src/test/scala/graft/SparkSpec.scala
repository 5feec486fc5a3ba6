package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). Its
  * generated-code cache takes the engine mains' size
  * ([[ScaleConfig.codegenCacheEntries]]; see [[CodegenCacheSpec]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", ScaleConfig.codegenCacheEntries.toString)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  def initQuiet(): Unit = spark.sparkContext.setLogLevel("WARN")

  /** What the session holds cached: the CacheManager's entry count and
    * the ids of the persisted RDDs (cached frames, local checkpoints).
    * `numCachedEntries` is `private[sql]` in Scala but public in the
    * bytecode, hence the reflective call. */
  def cacheHeld(): (Int, Set[Int]) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    (cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int],
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }
}

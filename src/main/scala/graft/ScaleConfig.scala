package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The 100 TB posture, as code (SURVEY.md §4.3), and the one place a
  * SparkSession is built: every main calls [[session]] with one of
  * three postures, each a plain conf map, and sets any tool-specific
  * runtime SQL conf with `spark.conf.set` afterwards.
  *
  *  - [[bench]] — the Bench/perfbench session: AQE off (its re-planning
  *    overhead exceeds its benefit at sub-second queries), shuffle
  *    partitions sized to the data not the cores, generous broadcast
  *    threshold inside one JVM.
  *  - [[cluster]] — the settings this engine expects on a real cluster,
  *    at a local shuffle width. They are defaults, not magic:
  *    partition/bucket layout (see [[graft.sources.IO]]) and operator
  *    shape (see PlanSpec ceilings) matter more.
  *  - [[plain]] — Spark defaults plus shuffle partitions = cores; the
  *    correctness dump, the examples and the audits.
  *
  * Every posture runs at `local[cores]`, UTC, UI off; [[cores]] is
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors.
  *
  * Shared by every posture:
  *  - codegen cache of [[codegenCacheEntries]] (4096) classes: Spark
  *    keeps ONE LRU cache of compiled generated classes per JVM, 100
  *    entries by default. One bench-20 pass needs ~270 distinct classes
  *    and reads them in the same cycle every pass, so at 100 entries
  *    each class was evicted before its next use and every warm pass
  *    recompiled all of them (269 compiles, 6.3-9.6 s a pass on 4
  *    vCPUs); at 4096, passes after the warm-up compile 0 classes and
  *    take 3.3-4.5 s. A curate pipeline run needs ~500 classes: a
  *    second run in the same JVM compiled 598 classes at 100 entries and
  *    8 at 4096; 4096 leaves room for the ANN phase and the whole query
  *    registry besides. The conf is static: the first session that compiles
  *    code fixes the size for the whole JVM, so it is a constant of
  *    every posture, not a knob (BENCH_NOTES.md, "The generated-code
  *    cache, measured").
  *
  * Cluster rationale, knob by knob:
  *  - AQE ON + coalescePartitions: 100 TB scans start wide
  *    (maxPartitionBytes controls split size → ~800 k input tasks at
  *    128 MB); AQE coalesces post-shuffle partitions to
  *    advisoryPartitionSizeInBytes so reducers stay ~256 MB regardless
  *    of what the static count was.
  *  - skewJoin: splits straggler partitions (hot user_id/event_type
  *    keys in the windows/sessionization family) instead of letting one
  *    reducer run for hours — salting is then only needed for
  *    aggregation skew, not join skew.
  *  - shuffle.partitions: on a cluster it is deliberately large, ~4096
  *    (AQE shrinks, never grows: undersized static shuffles are the
  *    classic 100 TB OOM). On a local amplified corpus AQE would
  *    coalesce every stage anyway, so 64 keeps the scheduler overhead
  *    honest without changing plan shapes.
  *  - broadcast threshold stays modest on clusters: a 1 GB broadcast ×
  *    1000 executors is a terabyte of redundant heap.
  */
object ScaleConfig {

  /** Local cores for every session: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Entries in the JVM-wide generated-code cache (see above). */
  val codegenCacheEntries: Int = 4096

  private val common = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> codegenCacheEntries.toString)

  /** Micro-bench latency posture (SURVEY.md §6, BENCH_NOTES.md). */
  val bench: Map[String, String] = common ++ Map(
    // 600 k-row shuffles don't amortize 32 tasks' dispatch: 8 measured
    // ~25% faster at sf0.1
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.inMemoryColumnarStorage.batchSize" -> "65536",
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "4194304",
    // AQE's per-stage re-planning costs more than it saves at
    // sub-second scale
    "spark.sql.adaptive.enabled" -> "false",
    // single node: broadcasting a 10-30 MB side within the JVM beats a
    // shuffle; on a real cluster stats/AQE make this call
    "spark.sql.autoBroadcastJoinThreshold" -> "33554432")

  val cluster: Map[String, String] = common ++ Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256m",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "3",
    "spark.sql.shuffle.partitions" -> "64",
    "spark.sql.files.maxPartitionBytes" -> "128m",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.parquet.filterPushdown" -> "true",
    // stateful streaming at scale: RocksDB keeps per-executor state
    // off-heap/on-disk with changelog checkpoints (vs the default
    // HDFS-backed provider's full-snapshot-in-heap); required by
    // transformWithState, strictly better for big flatMapGroupsWith
    // State / dedupStream state too
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  val plain: Map[String, String] = common +
    ("spark.sql.shuffle.partitions" -> cores.toString)

  /** The session for `posture` at `local[cores]`, log level ERROR. */
  def session(posture: Map[String, String]): SparkSession = {
    val spark = posture
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Broadcast hint for DATA-SCALING build sides — sides derived from
    * corpus tables (a filtered customer dim, a distinct orders key set)
    * that are comfortably broadcastable at bench scale but grow with
    * the data. The hint is applied only while the session permits
    * broadcasts; when the operator disables auto-broadcast
    * (`spark.sql.autoBroadcastJoinThreshold=-1` — the posture of a
    * cluster where no corpus-derived side fits executor memory), the
    * hint is withheld so Catalyst demotes the join cleanly to
    * sort-merge / shuffled-hash instead of being FORCED into an
    * impossible broadcast by a stale hint (an explicit hint overrides
    * the threshold, so without this gate threshold=-1 could not demote
    * these joins).
    *
    * Contrast with BOUNDED sides — nation (25 rows), region (5),
    * scalar-aggregate thresholds, k-means centroids — which keep their
    * unconditional `broadcast()` hints: they are O(1)-sized by
    * construction at any corpus scale, and broadcasting them is right
    * even on a 1000-executor cluster.
    */
  def scalingBroadcast(df: DataFrame): DataFrame =
    if (broadcastDisabled(df.sparkSession)) df else broadcast(df)

  /** True when auto-broadcast is globally off (threshold set negative).
    * Spark renders the conf as a byte string ("-1", "-1b", "10485760b");
    * a leading '-' is the disabled posture. */
  def broadcastDisabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
      .trim.startsWith("-")
}

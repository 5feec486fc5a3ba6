package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins each [[ScaleConfig]] posture's conf map. Pure maps, no session:
  * perfbench runs on [[Bench.session]], so a drift in the `bench` map
  * would silently move every benchmark figure. */
class ScaleConfigSpec extends AnyFunSuite {

  test("bench posture: AQE off, 8 shuffle partitions, 32 MiB broadcast, 64 k uncompressed cache batches, 4 MiB splits") {
    assert(ScaleConfig.bench == Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "33554432",
      "spark.sql.inMemoryColumnarStorage.batchSize" -> "65536",
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "4194304",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096"))
  }

  test("cluster posture: AQE with coalesce and skew join at 64 shuffle partitions, RocksDB state") {
    assert(ScaleConfig.cluster == Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256m",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "3",
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.files.maxPartitionBytes" -> "128m",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m",
      "spark.sql.parquet.filterPushdown" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
  }

  test("plain posture: Spark defaults with shuffle partitions = cores") {
    assert(ScaleConfig.plain == Map(
      "spark.sql.shuffle.partitions" -> ScaleConfig.cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096"))
  }

}

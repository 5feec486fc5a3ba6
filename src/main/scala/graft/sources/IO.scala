package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Thrown when a second writer attempts [[IO.upsert]]/[[IO.compact]]/
  * [[IO.createOrUpsert]] on a table another writer currently holds —
  * fail-fast instead of an interleaved stage/swap that silently loses
  * one writer's rows. */
class ConcurrentWriterException(msg: String) extends IllegalStateException(msg)

/** Sources and sinks. Thin, deliberately: Spark's DataSource V2 already
  * provides the formats; the engine's value-add is (a) schema-pinned
  * reads (no sampling-inference jobs in production paths) and (b) the
  * scale-layout writers below.
  */
object IO {

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString).option("delimiter", delimiter)
      .csv(path)

  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** JSONL ingestion with a dead-letter split: PERMISSIVE parse against
    * the pinned schema, unparseable lines captured whole in
    * `_corrupt_record`. Returns (clean, dead); dead carries the raw
    * line for quarantine/replay, so rows are never silently dropped —
    * `clean.count + dead.count` = input lines. The parsed frame is
    * cached first: Spark refuses queries that reference ONLY the
    * internal corrupt-record column on a raw file scan (the parser
    * prunes the data columns away and nothing is left to parse).
    */
  def jsonWithDeadLetter(spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "_corrupt_record is reserved for the dead-letter channel")
    val df = graft.CacheScope.keep(spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path))
    (df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      df.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw")))
  }

  /** CSV twin of [[jsonWithDeadLetter]] — malformed lines (wrong arity,
    * uncastable cells) land in the dead-letter side with the raw line. */
  def csvWithDeadLetter(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "_corrupt_record is reserved for the dead-letter channel")
    val df = graft.CacheScope.keep(spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("header", header.toString).option("delimiter", delimiter)
      .csv(path))
    (df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      df.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw")))
  }

  /** ORC round-trip — the other columnar format large estates carry
    * (Hive-era tables); same pushdown/pruning behavior as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Raw text ingestion: one row per line (`value: string`) — the entry
    * point for unstructured corpora before any schema exists. Pair with
    * `input_file_name()` when provenance must survive the read. */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Read a parquet layout whose schema GREW over time: `mergeSchema`
    * unions the per-file footers so old files surface the new columns
    * as nulls (the default read trusts one footer and silently drops
    * late-added columns). Merging reads every footer — at 100 TB pin
    * the merged schema in a metastore table instead of re-deriving it
    * per read; this entry point is for the schema-drift seam itself.
    */
  def parquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** 100 TB layout: hive-partition by low-cardinality pruning columns
    * (date, tenant, lang...) so partition pruning skips whole directories,
    * and pre-shuffle into ≤ `filesPerPartition` files per directory so no
    * partition dir degenerates into one giant or 10 000 tiny files.
    *
    * The shuffle keys are the partition columns PLUS a deterministic
    * row-hash salt in [0, filesPerPartition): `repartition(n, cols)`
    * alone would send every row of a partition key to ONE task (a
    * single file per dir regardless of n — and with n=1, the whole
    * dataset through one task, the exact single-writer funnel this
    * writer exists to prevent). The salt is a hash of every column, so
    * the split is retry-deterministic. A file materializes per TASK
    * holding rows of a dir, so two salts hashing into one shuffle
    * partition merge into one file — the shuffle width is therefore
    * 256× the requested file count (collision odds per key pair
    * < 0.4%), and the contract is "≤ n evenly-hashed files", not
    * exactly n.
    *
    * The salt hashes only the HASHABLE columns: MapType is excluded
    * (Spark rejects hash functions over maps — unordered entries have
    * no canonical hash), so a frame carrying a map column writes fine.
    * If every column is a map the salt falls back to the partition
    * columns (single-file-per-dir, the pre-salt behavior) — that
    * degenerate frame has no row identity to split on anyway.
    */
  def writePartitioned(
      df: DataFrame, path: String,
      partitionCols: Seq[String], filesPerPartition: Int = 1): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    require(filesPerPartition > 0, s"filesPerPartition must be positive")
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case _ => true
    }
    val saltCols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => df.col(f.name))
    val saltInput = if (saltCols.nonEmpty) saltCols.toSeq else partitionCols.map(df.col)
    val salt = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(saltInput: _*),
      org.apache.spark.sql.functions.lit(filesPerPartition.toLong))
    df.repartition(filesPerPartition * 256,
        (partitionCols.map(df.col) :+ salt): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Bucketed table layout: co-locates rows by join key so repeated
    * big-big joins on `bucketCols` skip their shuffle entirely
    * (bucket-aware scan). Requires a metastore table, hence saveAsTable.
    *
    * Statistics posture (the 100 TB join-order contract): after the
    * write, table-level stats (row count + size) are computed via
    * [[analyzeTable]] so the CBO ranks this table against others from
    * DAY ONE — join order must never depend on the accident of
    * authoring order. Column NDV histograms are opt-in per query
    * workload (`analyzeTable(spark, t, joinKeyCols)`) because FOR
    * COLUMNS scans the data once more — at 100 TB run it on the join/
    * filter keys only. PATH-based layouts ([[writeSorted]],
    * [[writePartitioned]]) have no catalog entry to hang stats on:
    * there Spark estimates from file sizes (`sizeInBytes`) and AQE
    * re-plans joins at runtime from OBSERVED shuffle sizes — that pair
    * is the documented reliance, and it is why every layout writer
    * still produces evenly-sized files (the size estimate is only as
    * good as the layout).
    */
  def writeBucketed(
      df: DataFrame, table: String,
      bucketCols: Seq[String], nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val w: DataFrameWriter[Row] = df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
    analyzeTable(df.sparkSession, table)
  }

  /** ANALYZE for metastore tables: table-level stats (row count, size)
    * always; per-column min/max/NDV when `columns` is non-empty — the
    * inputs Catalyst's cost-based join reordering and broadcast
    * selection read. Cheap at any scale for the table-level pass
    * (metadata-only for parquet); the FOR COLUMNS pass scans once, so
    * restrict it to join/filter keys. [[writeBucketed]] runs the
    * table-level pass automatically.
    */
  def analyzeTable(spark: SparkSession, table: String,
      columns: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS " +
        s"FOR COLUMNS ${columns.mkString(", ")}")
  }

  /** Sorted, range-partitioned layout — the data-skipping write: rows
    * range-partition on `keys` (one shuffle; partitioner bounds come
    * from a reservoir-sample job) and sort within each file, so every
    * output file covers a DISJOINT key range. Parquet footers then
    * carry tight min/max stats per file AND per row group: any engine's
    * scan-side pruning answers a key-ranged read by touching only the
    * files that can match — at 100 TB the difference between a full
    * listing-and-open of every file and a handful of footer reads. The
    * single-key special case of z-ordering; for multi-dim skipping,
    * interleave key bits into one sort column first.
    */
  def writeSorted(df: DataFrame, path: String, numFiles: Int, keys: String*): Unit = {
    require(keys.nonEmpty, "writeSorted needs at least one key column")
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    df.repartitionByRange(numFiles, keys.map(df.col): _*)
      .sortWithinPartitions(keys.map(df.col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Morton (z-order) interleave of up to 4 numeric columns into one
    * long: each value is normalized to a `bits`-bit rank against its
    * observed [min, max] (attached as ONE broadcast scalar row — no
    * collect), then the rank bits are interleaved so nearby points in
    * the k-dim space get nearby z values. Pure codegen'd expression
    * arithmetic (bits·k shift/mask terms), no UDF.
    */
  def zorderColumn(df: DataFrame, cols: Seq[String], bits: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, greatest, least, max, min, shiftleft, shiftright}
    require(cols.nonEmpty && cols.size <= 4, s"zorder needs 1..4 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 62, s"bits*k must fit a long: $bits x ${cols.size}")
    val k = cols.size
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__lo_$c"),
      max(col(c)).cast("double").as(s"__hi_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val maxRank = (1L << bits) - 1
    def rank(c: String) = {
      val lo = col(s"__lo_$c"); val hi = col(s"__hi_$c")
      val span = hi - lo
      val scaled = org.apache.spark.sql.functions.when(span > 0,
        (col(c).cast("double") - lo) / span * maxRank).otherwise(lit(0.0))
      // clamp: float edges could land one past maxRank
      least(greatest(scaled.cast("long"), lit(0L)), lit(maxRank))
    }
    val z = (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(rank(c), i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
    df.crossJoin(broadcast(stats))
      .withColumn("__z", z)
      .drop(cols.flatMap(c => Seq(s"__lo_$c", s"__hi_$c")): _*)
  }

  /** Z-order clustered layout — multi-dimensional data skipping, the
    * k-dim generalization of [[writeSorted]]: rows range-partition and
    * sort on the interleaved Morton key, so every output file covers a
    * small HYPER-RECTANGLE of the key space and parquet footer min/max
    * stats stay tight on EVERY clustered column at once. A single-key
    * sort gives perfect pruning on that key and none on the others; at
    * 100 TB, z-order is how a table serves range scans on two or three
    * predicate columns without duplicate layouts. Pruning here rides
    * standard per-column footer stats — no reader-side knowledge of
    * the z curve is needed.
    */
  def writeZOrdered(
      df: DataFrame, path: String, numFiles: Int,
      cols: Seq[String], bits: Int = 16): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    zorderColumn(df, cols, bits)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** MERGE-INTO for a plain parquet table: rows of `updates` REPLACE
    * same-key rows of the table at `path` (latest generation wins —
    * [[graft.ops.Relational.latestByKey]] with an internal generation
    * marker as the order column, so the merge is ONE hash aggregate,
    * not a join), new keys insert, untouched keys carry over. Written
    * through [[replace]], so `path` is never half-written.
    *
    * At 100 TB this full-rewrite form is the fallback; partition the
    * table (see [[writePartitioned]]) and rewrite ONLY the partitions
    * `updates` touches — same merge expression, pruned input. A real
    * table format (Delta/Iceberg) adds snapshot isolation; the merge
    * SEMANTICS are exactly this function.
    *
    * Two conflict policies, chosen by `orderCols`:
    *  - EMPTY (default) — ARRIVAL order: an update always replaces the
    *    table's same-key row (classic MERGE INTO). `updates` must then
    *    carry ONE row per key (pre-collapse with
    *    [[graft.ops.Relational.latestByKey]] if it is a raw
    *    change-log); with several, which one wins is decided by payload
    *    comparison. The name `__gen` is reserved for the internal
    *    generation marker.
    *  - NON-EMPTY — EVENT-TIME order: the max-by-`orderCols` row wins
    *    across table ∪ updates, so a late-arriving OLDER record never
    *    overwrites a newer one (the out-of-order-stream form;
    *    [[graft.streaming.StreamingOps.upsertSink]] uses this).
    *
    * Output column order follows latestByKey (keys first) — parquet
    * readers resolve by name, not position.
    *
    * Concurrency: guarded by the single-writer lease (see
    * [[acquireTableLock]]) — a second simultaneous upsert/compact on
    * the same path fails fast with [[ConcurrentWriterException]]
    * instead of silently losing one writer's rows to an interleaved
    * read→swap.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], orderCols: Seq[String] = Nil): Unit =
    withTableLock("upsert", path) {
      replace(spark, path) { staged =>
        upserted(spark, path, updates, keys, orderCols)
          .write.mode("overwrite").parquet(staged)
      }
    }

  /** The table at `path` with `updates` merged in ([[upsert]]'s
    * semantics). Reads `path`, so it runs inside [[replace]]'s write. */
  private def upserted(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs key columns")
    requireUnpartitioned("upsert", path)
    val existing = spark.read.parquet(path)
    if (orderCols.nonEmpty)
      graft.ops.Relational.latestByKey(
        existing.unionByName(updates), keys, orderCols)
    else {
      require(!existing.columns.contains("__gen") && !updates.columns.contains("__gen"),
        "upsert reserves the column name __gen for its generation marker")
      graft.ops.Relational.latestByKey(
          existing.withColumn("__gen", lit(0))
            .unionByName(updates.withColumn("__gen", lit(1))),
          keys, Seq("__gen"))
        .drop("__gen")
    }
  }

  /** The engine's one in-place directory rewrite, shared by the table
    * writers here ([[upsert]], [[createOrUpsert]], [[scd2Merge]],
    * [[compact]]) and the ANN store ([[graft.vector.IndexStore]]):
    *  1. heal a crash of an earlier call: when `path` is missing, a
    *     COMMITTED `<path>.staged` beside it (a crash between the two
    *     renames of step 4) is promoted, else a `<path>.old` is put
    *     back; stale `.staged`/`.old` copies are then deleted, so an old
    *     failure can never brick later rewrites;
    *  2. run `write` against the staged sibling. Everything that reads
    *     `path` belongs inside `write`, after the heal: writing
    *     `overwrite` straight into a directory the plan is scanning
    *     would delete the input mid-read;
    *  3. mark the staged directory committed once `write` returns, with
    *     the `_SUCCESS` marker Spark's own commit leaves. A crash
    *     mid-write leaves no marker, and step 1 clears such a copy
    *     instead of promoting it;
    *  4. swap it in (`path` → `.old`, `.staged` → `path`), or rename it
    *     in when `path` does not exist;
    *  5. delete the displaced copy.
    *
    * `path` never holds a partial directory. The two renames of step 4
    * are not one atomic step: a crash between them leaves `path` absent
    * with both complete copies beside it, which the next call's step 1
    * (or one `mv` by hand) heals. Goes through Hadoop's `FileSystem`, so
    * any filesystem with a real directory rename works; against an
    * object store, swap a manifest pointer instead. It takes no lease:
    * the table writers hold theirs around it ([[acquireTableLock]]).
    */
  private[graft] def replace(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = fs.makeQualified(new Path(path))
    val staged = target.suffix(".staged")
    val old = target.suffix(".old")
    val marker = new Path(staged, "_SUCCESS")
    // Hadoop's rename returns false instead of throwing, and renaming
    // onto an existing directory nests the source inside it
    def move(from: Path, to: Path): Unit =
      require(!fs.exists(to) && fs.rename(from, to), s"rename $from -> $to failed")
    if (!fs.exists(target)) {
      if (fs.exists(marker)) move(staged, target)
      else if (fs.exists(old)) move(old, target)
    }
    fs.delete(staged, true); fs.delete(old, true)
    write(staged.toString)
    fs.create(marker, true).close()
    if (fs.exists(target)) move(target, old)
    move(staged, target)
    fs.delete(old, true)
  }

  /** A hive-partitioned layout (key=value subdirs) must not be rewritten
    * flat: partition discovery folds dir keys into data columns with
    * TYPE INFERENCE (a `tenant=0123` string partition comes back as
    * int 123 — silent key corruption) and the flat rewrite loses
    * directory pruning for every later reader. [[compact]]/[[upsert]]
    * refuse; compact the individual leaf partition dirs instead.
    */
  private def requireUnpartitioned(op: String, path: String): Unit = {
    val dir = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(dir)) {
      val ls = java.nio.file.Files.list(dir)
      val partitioned =
        try ls.anyMatch(p =>
          java.nio.file.Files.isDirectory(p) && p.getFileName.toString.contains("="))
        finally ls.close()
      require(!partitioned,
        s"$op: $path is a hive-partitioned layout (key=value subdirs) — a flat " +
          "rewrite would lose directory pruning and type-infer the partition " +
          s"keys; run $op on each leaf partition directory instead")
    }
  }

  /** Cooperative single-writer lease for the rewrite ops. The unsafe
    * window is the WHOLE read→merge→swap, not just the two renames: two
    * upserts that both read the pre-merge table and then swap
    * sequentially silently lose the first writer's rows (classic lost
    * update), so the lease is held across the entire operation.
    *
    * Mechanics: atomic `createFile` of `<table>.lock` (O_EXCL — the
    * create either wins or throws, no read-then-create race on a POSIX
    * filesystem); the loser fails fast with a named
    * [[ConcurrentWriterException]] instead of corrupting the table. The
    * file records holder pid + timestamp for debuggability. A CRASHED
    * holder must not brick the table forever (the same self-healing
    * discipline as [[replace]]): a lock older than `staleLockMs` is
    * broken and re-raced — size that constant above the longest
    * expected rewrite (default 30 min covers a full-table rewrite at
    * the scales this flat-parquet form is for; beyond that, use a real
    * table format). Known limit, documented not hidden: object stores
    * without atomic create (S3) need an external lock service — this
    * lease encodes the SEMANTICS a Delta/Iceberg catalog provides.
    */
  private[sources] val staleLockMs: Long = 30L * 60L * 1000L

  private def lockFile(path: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(path)
    dir.resolveSibling(dir.getFileName.toString + ".lock")
  }

  private[sources] def acquireTableLock(op: String, path: String): Unit = {
    val lock = lockFile(path)
    if (lock.getParent != null) java.nio.file.Files.createDirectories(lock.getParent)
    def tryCreate(): Boolean =
      try {
        java.nio.file.Files.createFile(lock)
        java.nio.file.Files.writeString(lock,
          s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}")
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!tryCreate()) {
      val age =
        try System.currentTimeMillis() -
          java.nio.file.Files.getLastModifiedTime(lock).toMillis
        catch { case _: java.io.IOException => 0L } // holder just released: not stale
      val brokeStale = age > staleLockMs && {
        // break the stale lease, then RE-RACE through the atomic create —
        // two breakers cannot both win the createFile
        java.nio.file.Files.deleteIfExists(lock)
        tryCreate()
      }
      if (!brokeStale)
        throw new ConcurrentWriterException(
          s"$op: table $path is held by a concurrent writer ($lock, age ${age}ms) — " +
            "retry after it finishes; a crashed holder's lock expires after " +
            s"${staleLockMs}ms")
    }
  }

  private[sources] def releaseTableLock(path: String): Unit =
    java.nio.file.Files.deleteIfExists(lockFile(path))

  private def withTableLock[A](op: String, path: String)(body: => A): A = {
    acquireTableLock(op, path)
    try body finally releaseTableLock(path)
  }

  /** [[upsert]] when the table may not exist yet — the form a streaming
    * sink needs ([[graft.streaming.StreamingOps.upsertSink]]). The
    * create is staged too ([[replace]] renames it in), so a crash
    * mid-create leaves no half-table at `path` — an uncommitted staged
    * dir is cleared, not promoted, by the next call's heal. */
  def createOrUpsert(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], orderCols: Seq[String] = Nil): Unit =
    withTableLock("createOrUpsert", path) {
      replace(spark, path) { staged =>
        val table =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
            upserted(spark, path, updates, keys, orderCols)
          else if (orderCols.isEmpty) updates
          else graft.ops.Relational.latestByKey(updates, keys, orderCols)
        table.write.mode("overwrite").parquet(staged)
      }
    }

  /** Incremental SCD2 maintenance: merge a micro-batch of change rows
    * `(keyCol, tsCol, attrCols…)` into the versioned dimension at
    * `path`, creating it on first call (staged, like [[createOrUpsert]]).
    *
    * Merge = rebuild-affected-keys: versions of keys present in the
    * batch are converted back to change rows (`valid_from` as the ts)
    * and re-compressed together with the new rows through
    * [[graft.ops.Temporal.scd2]]; untouched keys' rows are carried over
    * unchanged. One key-semi/anti join pair + one scd2 window per batch,
    * all keyed on `keyCol`.
    *
    * Semantics: for per-key IN-ORDER arrival (each batch's rows at or
    * after the key's last version start) the table equals
    * `Temporal.scd2` of the full history — stream-batch equivalence,
    * test-asserted. A LATE change row merges against the COMPRESSED
    * history: it splits the version that covers its timestamp, and the
    * new version extends to the next version start. The full-history
    * result (where the old run resumes after the late row's successor
    * duplicates) is not recoverable from compressed state — duplicates
    * inside a run were discarded; this is the standard behavior of any
    * CDC consumer that stores only a version table, and is pinned as
    * such in Scd2SinkSpec. Replaying a batch is idempotent (duplicate
    * change rows compress away), which is what the streaming sink's
    * crash-replay contract needs.
    *
    * Same scale caveat as [[upsert]]: each merge rewrites the table —
    * size/partition accordingly at real scale.
    */
  def scd2Merge(spark: SparkSession, path: String, changes: DataFrame,
      keyCol: String, tsCol: String, attrCols: Seq[String]): Unit =
    withTableLock("scd2Merge", path) {
      replace(spark, path) { staged =>
        val changeRows = changes.select(
          (keyCol +: tsCol +: attrCols).map(col): _*)
        val table =
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
            graft.ops.Temporal.scd2(changeRows, keyCol, tsCol, attrCols)
          else {
            requireUnpartitioned("scd2Merge", path)
            val existing = spark.read.parquet(path)
            val batchKeys = changeRows.select(col(keyCol)).distinct()
            val affectedAsChanges = existing
              .join(batchKeys, Seq(keyCol), "left_semi")
              .select((col(keyCol) +: col("valid_from").as(tsCol) +:
                attrCols.map(col)): _*)
            val rebuilt = graft.ops.Temporal.scd2(
              affectedAsChanges.unionByName(changeRows), keyCol, tsCol, attrCols)
            existing.join(batchKeys, Seq(keyCol), "left_anti").unionByName(rebuilt)
          }
        table.write.mode("overwrite").parquet(staged)
      }
    }

  /** Small-file compaction — the maintenance pass every long-lived
    * ingest layout needs: streaming/micro-batch writers leave thousands
    * of KB-sized files per partition, and at 100 TB the resulting
    * file-listing + per-file open cost dominates scan time. Rewrites
    * `path` into ≈`targetFileMB`-sized files (computed from the actual
    * byte size, so the file count tracks data volume, not a guess),
    * through [[replace]], so a crash mid-compaction never leaves `path`
    * half-written.
    */
  def compact(spark: SparkSession, path: String, targetFileMB: Int = 256): Unit = {
    require(targetFileMB > 0, s"targetFileMB must be positive, got $targetFileMB")
    withTableLock("compact", path) {
      replace(spark, path) { staged =>
        requireUnpartitioned("compact", path)
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        val bytes =
          try walk.filter(p =>
            java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
            .mapToLong(p => java.nio.file.Files.size(p)).sum()
          finally walk.close()
        val nFiles = math.max(1, math.ceil(bytes.toDouble / (targetFileMB * 1024L * 1024L)).toInt)
        spark.read.parquet(path).coalesce(nFiles)
          .write.mode("overwrite").parquet(staged)
      }
    }
  }

  /** Staged single-file replay dirs, one per (source path, mtime,
    * size) — repeated replayStream calls on the same UNCHANGED file
    * (test suites, long-lived services) reuse the copy instead of
    * leaking a dir per call, while a rewritten source gets a fresh
    * copy instead of silently replaying stale contents; all staged
    * files/dirs are registered for JVM-exit deletion.
    */
  private val stagedReplayDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Replay parquet file(s) as a bounded stream — the standard harness
    * for stream-batch equivalence tests and backfills through streaming
    * pipelines. Spark's file source demands a DIRECTORY, so a single
    * file is staged into a temp dir (cached per source path, cleaned at
    * JVM exit); `maxFilesPerTrigger` paces micro-batches (1 file per
    * trigger by default).
    */
  def replayStream(
      spark: SparkSession,
      path: String,
      schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val p = java.nio.file.Paths.get(path)
    // cache key includes mtime+size: a REWRITTEN source file must get a
    // fresh staged copy, or the stream silently replays stale contents
    val cacheKey = {
      val mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
      s"${p.toAbsolutePath}@$mtime:${java.nio.file.Files.size(p)}"
    }
    val dir =
      if (java.nio.file.Files.isDirectory(p)) path
      else stagedReplayDirs.computeIfAbsent(cacheKey, { _ =>
        val d = java.nio.file.Files.createTempDirectory("replay_stream")
        val staged = d.resolve(p.getFileName)
        java.nio.file.Files.copy(p, staged)
        // deleteOnExit runs LIFO: register dir before file so the file
        // deletes first and the dir is empty when its turn comes
        d.toFile.deleteOnExit()
        staged.toFile.deleteOnExit()
        d.toString
      })
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
  }
}

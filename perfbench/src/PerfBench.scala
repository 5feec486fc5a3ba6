package perfbench

import graft.{Bench, SparkEntry, Tables}
import graft.examples.PretrainPipeline
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** Single-process, single-client, closed-loop benchmark runner.
  *
  * `--workload olap|curate --seed n --seconds s --trace 0|1 --inputs dir
  * --out dir`. The inputs are generated beforehand by `gen.py`; this
  * runner only times calls into the engine's public entry points, checks
  * their outputs, and prints one line `PERFBENCH {json}` holding the
  * attempted/failed counts, the named checks and every metric it
  * measured. With `--trace 1` it also attaches [[Tracer]] to `olap`
  * passes 2, 4, ..., runs and traces the `olap` ANN phase, traces the second
  * of three `curate` pipeline runs, and reports the per-layer metrics.
  */
object PerfBench {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: String, out: String)

  /** What one run reports: counts, named checks, metrics (name → value, unit). */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def check(name: String, ok: Boolean): Unit =
      checks(name) = ok && checks.getOrElse(name, true)
    def json: String = {
      def q(s: String) = "\"" + s + "\""
      def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
      val m = metrics.map { case (k, (v, u)) => s"""${q(k)}:{"value":${num(v)},"unit":${q(u)}}""" }
      val c = checks.map { case (k, v) => s"${q(k)}:$v" }
      s"""{"attempted":$attempted,"failed":$failed,"checks":{${c.mkString(",")}},""" +
        s""""metrics":{${m.mkString(",")}}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("inputs"), kv("out"))
    val r = new Result
    val spark = o.workload match {
      case "olap" => Olap.run(o, r)
      case "curate" => Curate.run(o, r)
      case w => sys.error(s"unknown workload '$w'")
    }
    spark.stop()
    println("PERFBENCH " + r.json)
  }

  // ------------------------------------------------------------- helpers

  private val started = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def secondsOf[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Canonical fingerprint of a collected result: row strings in order. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Block-manager storage held by cached RDDs (MB) and their count. */
  def cacheState(spark: SparkSession): (Double, Int) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    (mb, sc.getPersistentRDDs.size)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  /** The one set-up of a run: a session from [[graft.Bench.session]]
    * (cores and knobs from the environment), then `load` persists and
    * materializes the workload's inputs. It is the first, cold set-up of
    * the JVM; [[setupDone]] marks where set-up ends. */
  def setup(r: Result)(load: SparkSession => Unit): SparkSession = {
    val spark = Bench.session()
    val (_, loadS) = secondsOf(load(spark))
    r.put("tables.load_s", loadS, "s")
    r.put("tables.cached_mb", cacheState(spark)._1, "MB")
    spark
  }

  /** End of set-up as epoch seconds: `run.py` takes `setup_s` from its
    * own start (input generation, JVM start) to this instant. */
  def setupDone(r: Result): Unit = {
    log("set-up done")
    r.put("setup.end_epoch_s", System.currentTimeMillis() / 1000.0, "s")
  }

  /** Per-layer metrics from a traced section, each name prefixed with
    * `prefix`: Spark counters per traced round, self time per layer as a
    * share of the traced wall, and the share of that wall charged below
    * the root spans (time some layer inside a round accounts for).
    * Spans go to `out`. */
  def reportTrace(t: Tracer, rounds: Int, cores: Int, out: String, r: Result,
      prefix: String = ""): Unit = {
    def put(name: String, value: Double, unit: String) = r.put(prefix + name, value, unit)
    val spans = t.allSpans
    val wall = t.rootWallS(spans)
    val self = t.selfTimes(spans)
    val per = math.max(1, rounds).toDouble
    put("spark.jobs", t.jobCount / per, "count")
    put("spark.stages", t.stageCount / per, "count")
    put("spark.tasks", t.tasks.get / per, "count")
    put("spark.dispatch_ms", t.dispatchMs, "ms")
    put("spark.deser_ms", t.deserMs.get / per, "ms")
    put("spark.task_run_ms", t.runMs.get / per, "ms")
    put("spark.task_cpu_ms", t.cpuNs.get / 1e6 / per, "ms")
    put("spark.gc_ms", t.gcMs.get / per, "ms")
    put("spark.busy_frac", if (wall > 0) t.runMs.get / 1000.0 / (wall * cores) else 0.0, "ratio")
    put("spark.shuffle_write_mb", t.shufWrite.get / 1048576.0 / per, "MB")
    put("spark.shuffle_read_mb", t.shufRead.get / 1048576.0 / per, "MB")
    put("spark.spill_mb", t.spill.get / 1048576.0 / per, "MB")
    Seq("round", "call", "read", "stream", "plan", "job", "stage").foreach { l =>
      put(s"self.${l}_frac", if (wall > 0) self.getOrElse(l, 0.0) / wall else 0.0, "ratio")
    }
    put("trace.wall_s", wall, "s")
    put("trace.accounted_frac",
      if (wall > 0) 1.0 - self.getOrElse("round", 0.0) / wall else 0.0, "ratio")
    t.dump(out, spans)
  }

  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toInt
}

/** `olap`: the 20 BASELINE.md headline queries in repeated passes over
  * the cached tables (query order shuffled per pass from the seed); a
  * traced run then runs the ANN serving phase ([[Ann]]) on the same
  * session. */
object Olap {
  import PerfBench._

  def run(o: Opts, r: Result): SparkSession = {
    val dir = o.inputs
    val spark = setup(r) { s =>
      Tables.names.foreach(n => Tables.load(s, dir, n).persist().count())
    }
    val names = Bench.headlineNames
    val rnd = new scala.util.Random(o.seed)

    // Warm-up pass, the last step of set-up and also the correctness
    // pass: each result is collected as in the timed passes, and its rows
    // are the reference every timed execution must reproduce. They are
    // written for the DuckDB comparison after set-up has ended.
    val ref = mutable.Map.empty[String, String]
    val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val rows = df.collect()
        ref(n) = rowsHash(rows)
        firstRows(n) = (rows, df.schema)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed in the warm-up pass: $e")
      }
    }
    setupDone(r)
    Files.createDirectories(Paths.get(s"${o.out}/check"))
    firstRows.foreach { case (n, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${o.out}/check/$n")
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"${o.out}/oracle_sql.json"), names
      .map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",\n", "}"))

    val tracer = if (o.trace) Some(new Tracer) else None
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val untracedWall, tracedWall = mutable.ArrayBuffer.empty[Double]
    val (cache0, _) = cacheState(spark)
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    var pass = 0
    // at least two passes: the first after the warm-up still runs ~10 %
    // slow. With tracing, passes 2, 4, ... are traced and the others not
    // (untraced-untraced-traced-untraced at least), so the overhead is
    // measured on the same session against the median untraced pass, with
    // untraced passes on both sides of each traced one
    while (pass < (if (o.trace) 4 else 2) || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val traced = tracer.filter(_ => pass > 0 && pass % 2 == 0)
      traced.foreach(_.attach(spark))
      val order = rnd.shuffle(names)
      def body(): Unit = order.foreach { n =>
        def call(): Unit = {
          r.attempted += 1
          val ts = System.nanoTime()
          try {
            val rows = SparkEntry.queries(n)(spark, dir).collect()
            lat += n -> (System.nanoTime() - ts) / 1e6
            val ok = ref.get(n).contains(rowsHash(rows))
            r.check("olap.repeatable_results", ok)
            if (!ok) r.failed += 1
          } catch { case e: Throwable =>
            r.failed += 1
            System.err.println(s"[perfbench] $n failed: $e")
          }
        }
        traced match {
          case Some(t) => t.span("call", n)(call())
          case None => call()
        }
      }
      val (_, w) = secondsOf(traced match {
        case Some(t) => t.span("round", s"pass $pass")(body())
        case None => body()
      })
      traced.foreach(_.detach())
      (if (traced.isDefined) tracedWall else untracedWall) += w
      passWall += w
      pass += 1
    }
    val gcS = gcSeconds() - gc0
    val (cache1, rdds1) = cacheState(spark)
    log(s"timed passes: ${passWall.mkString(", ")} s")

    r.put("round_s", median(passWall.toSeq), "s")
    val ms = lat.map(_._2).toSeq
    r.put("op_p50_ms", quantile(ms, 0.5), "ms")
    r.put("op_p90_ms", quantile(ms, 0.9), "ms")
    r.put("retained_cache_mb", cache1 - cache0, "MB")
    r.put("cache.rdds_after", rdds1, "count")
    r.put("cache.blocks_mb_after", cache1, "MB")
    r.put("jvm.gc_s", gcS, "s")

    tracer.foreach { t =>
      names.foreach { n =>
        val xs = lat.collect { case (`n`, v) => v }.toSeq
        r.put(s"ops.${n}_ms", if (xs.isEmpty) 0.0 else median(xs), "ms")
      }
      r.put("trace.overhead_frac", median(tracedWall.toSeq) / median(untracedWall.toSeq) - 1, "ratio")
      val tracedPasses = tracedWall.size
      r.put("spark.plan_ms", t.planMs / math.max(1, tracedPasses * names.size), "ms")
      reportTrace(t, tracedPasses, cores, s"${o.out}/spans.jsonl", r)
    }

    if (o.trace) {
      Ann.run(spark, o, r)
      // the fixed per-job floor: a fresh 2-stage range-sum over as many
      // rows as the fact table, median of 11 after two warm-ups
      val factRows = Tables.load(spark, dir, "lineitem").count()
      def probe(): Unit = { spark.range(0, factRows, 1, 3).agg(sum(col("id"))).collect(); () }
      probe(); probe()
      r.put("spark.floor_ms", median(Seq.fill(11)(secondsOf(probe())._2 * 1000)), "ms")
    }
    spark
  }
}

/** `curate`: the pretraining pipeline over the mutated documents corpus
  * in one session whose input was persisted at set-up. An untraced run
  * makes one pipeline run, the timed one. A traced run makes three in the
  * same session: the timed untraced one, a traced one and an untraced one
  * to measure the tracing overhead against; their stage rows must agree.
  */
object Curate {
  import PerfBench._
  import PretrainPipeline.Stage

  /** Stage pairs whose row counts must be non-increasing: each later
    * stage filters the earlier one's rows. */
  private val narrowing = Seq("validated", "quality", "lm_quality", "trimmed", "deduped",
    "decontaminated", "decontaminated_fuzzy", "capped", "mixed")

  /** Invariants of one run's stage rows that need no other run. */
  def invariants(rows: Map[String, Long], raw: Long): Seq[(String, Boolean)] = Seq(
    "curate.clean_plus_quarantined_is_raw" ->
      (rows("validated") + rows("quarantined") == rows("raw") && rows("raw") == raw),
    "curate.stages_narrow" ->
      narrowing.zip(narrowing.tail).forall { case (a, b) => rows(a) >= rows(b) },
    "curate.dedup_removes_near_duplicates" -> (rows("deduped") < rows("trimmed")),
    "curate.split_covers_mix" ->
      (rows("train") + rows("val") + rows("test") == rows("mixed")),
    "curate.packed_docs_are_train" -> (rows("packed_docs") == rows("train")))

  def run(o: Opts, r: Result): SparkSession = {
    val in = o.inputs
    val spark = setup(r) { s => Tables.load(s, in, "documents").persist().count() }
    setupDone(r)
    val docs = Tables.load(spark, in, "documents")
    val raw = docs.count()

    /** One pipeline run; None if it threw. */
    def pipeline(i: Int, tracer: Option[Tracer]): Option[(Seq[Stage], Double)] = {
      r.attempted += 1
      val dl = Some(s"${o.out}/deadletter-$i")
      tracer.foreach(_.attach(spark))
      try {
        val res = secondsOf(tracer match {
          case Some(t) => t.span("round", s"pipeline $i") {
            val from = Clock.us()
            val st = PretrainPipeline.runDetailed(spark, docs, dl)
            // the stage records carry each stage's wall: they become the
            // pipeline-stage spans, laid end to end from the call's start
            t.addSequential("call", st.map(s => s.name -> s.sec), from)
            st
          }
          case None => PretrainPipeline.runDetailed(spark, docs, dl)
        })
        log(s"pipeline run $i: ${res._2} s")
        val rows = res._1.map(s => s.name -> s.rows).toMap
        val checks = invariants(rows, raw)
        checks.foreach { case (n, ok) => r.check(n, ok) }
        if (!checks.forall(_._2)) r.failed += 1
        Some(res)
      } catch { case e: Throwable =>
        r.failed += 1
        System.err.println(s"[perfbench] pipeline run $i failed: $e")
        None
      } finally tracer.foreach(_.detach())
    }

    val (cache0, _) = cacheState(spark)
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val first = pipeline(0, None)
    val runS = first.fold((System.nanoTime() - t0) / 1e9)(_._2)
    val gcS = gcSeconds() - gc0
    val (cache1, rdds1) = cacheState(spark)

    r.put("round_s", runS, "s")
    r.put("curate.docs_per_s", raw / runS, "1/s")
    r.put("retained_cache_mb", cache1 - cache0, "MB")
    r.put("cache.rdds_after", rdds1, "count")
    r.put("cache.blocks_mb_after", cache1, "MB")
    r.put("jvm.gc_s", gcS, "s")
    first.foreach { case (stages, _) =>
      val rows = stages.map(s => s.name -> s.rows).toMap
      val stageMs = stages.map(_.sec * 1000)
      r.put("op_p50_ms", quantile(stageMs, 0.5), "ms")
      r.put("op_p90_ms", quantile(stageMs, 0.9), "ms")
      stages.foreach { s =>
        r.put(s"curate.stage.${s.name}_s", s.sec, "s")
        r.put(s"curate.rows.${s.name}", s.rows.toDouble, "count")
      }
      r.put("curate.dedup_keep_frac", rows("deduped").toDouble / rows("trimmed"), "ratio")
    }

    if (o.trace) {
      val t = new Tracer
      val traced = pipeline(1, Some(t))
      val again = pipeline(2, None)
      val runs = Seq(first, traced, again)
      val same = runs.forall(_.isDefined) &&
        runs.flatten.map(_._1.map(s => s.name -> s.rows)).distinct.size == 1
      r.check("curate.rows_repeat_traced_and_untraced", same)
      if (!same) r.failed += 1
      for ((_, tracedS) <- traced; (_, againS) <- again)
        r.put("trace.overhead_frac", tracedS / againS - 1, "ratio")
      reportTrace(t, 1, cores, s"${o.out}/spans.jsonl", r)
    }
    spark
  }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch microseconds, monotonic within the process, so
  * benchmark spans line up with Spark's epoch-millisecond event times. */
object Clock {
  private val n0 = System.nanoTime()
  private val e0 = System.currentTimeMillis() * 1000L
  def us(): Long = e0 + (System.nanoTime() - n0) / 1000L
}

/** One timed interval. `parent` is -1 for a root; layer names the module
  * boundary the span was recorded at. Times are epoch microseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long)

/** In-memory tracer. The benchmark records its own spans around calls
  * into the engine; while attached to a session it also records Spark's
  * jobs, stages, task metrics and query-planning phases through
  * listeners. Nothing is written until [[dump]].
  *
  * Nesting: the benchmark's spans nest explicitly (round → call → read);
  * a streaming micro-batch hangs under the deepest benchmark span that
  * contains its start; a planning phase or job hangs under the deepest
  * benchmark or micro-batch span that contains its start; a stage hangs
  * under its job.
  */
final class Tracer {
  private val benchSpans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Long)]
  private var nextId = 0

  private final case class JobRec(start: Long, var end: Long, stages: Seq[Int])
  private final case class StageRec(var start: Long, var end: Long, var firstLaunch: Long)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val events = new AtomicLong()

  val tasks, runMs, cpuNs, gcMs, deserMs, shufWrite, shufRead, spill = new AtomicLong()

  /** Time `f` as a span of `layer`, nested under the innermost open span. */
  def span[A](layer: String, name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    open.push((id, layer, name, Clock.us()))
    try f
    finally {
      val (_, l, n, s) = open.pop()
      benchSpans += Span(id, parent, l, n, s, Clock.us())
    }
  }

  /** Spans for consecutive parts of the open span, laid end to end from
    * `from` (µs), each `(name, seconds)` long. */
  def addSequential(layer: String, parts: Seq[(String, Double)], from: Long): Unit = {
    val parent = if (open.isEmpty) -1 else open.top._1
    var t = from
    parts.foreach { case (name, sec) =>
      val end = t + (sec * 1e6).toLong
      benchSpans += Span(nextId, parent, layer, name, t, end)
      nextId += 1; t = end
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      jobs.put(e.jobId, JobRec(e.time * 1000L, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      stages.putIfAbsent(e.stageInfo.stageId, StageRec(
        e.stageInfo.submissionTime.getOrElse(0L) * 1000L, -1L, Long.MaxValue))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      val r = stages.computeIfAbsent(i.stageId, _ => StageRec(0L, -1L, Long.MaxValue))
      r.synchronized {
        if (r.start <= 0) r.start = i.submissionTime.getOrElse(0L) * 1000L
        r.end = i.completionTime.getOrElse(0L) * 1000L
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val r = stages.computeIfAbsent(e.stageId, _ => StageRec(0L, -1L, Long.MaxValue))
      r.synchronized { r.firstLaunch = math.min(r.firstLaunch, e.taskInfo.launchTime * 1000L) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime); deserMs.addAndGet(m.executorDeserializeTime)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      qe.tracker.phases.foreach { case (phase, s) =>
        plans.add((phase, s.startTimeMs * 1000L, s.endTimeMs * 1000L))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp)
        val us = start.getEpochSecond * 1000000L + start.getNano / 1000L
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches.add((p.batchId, us, us + ms * 1000L))
      }
    }
  }

  private var attachedTo: Option[SparkSession] = None

  def attach(spark: SparkSession): Unit = if (attachedTo.isEmpty) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attachedTo = Some(spark)
  }

  /** Detach, after waiting for the listener bus to deliver what the
    * traced section produced: every started job has ended and no event
    * arrived for two polls in a row (capped at 5 s). */
  def detach(): Unit = attachedTo.foreach { spark =>
    var (prev, stable, waited) = (-1L, 0, 0)
    def allEnded = jobs.values.asScala.forall(_.end >= 0)
    while ((stable < 2 || !allEnded) && waited < 5000) {
      Thread.sleep(50); waited += 50
      val n = events.get()
      if (n == prev) stable += 1 else { stable = 0; prev = n }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attachedTo = None
  }

  def jobCount: Int = jobs.size
  def stageCount: Int = stages.values.asScala.count(_.end > 0)
  def planMs: Double = plans.asScala.map { case (_, s, e) => (e - s) / 1000.0 }.sum

  /** Mean, over jobs, of submit → first task launch (ms). */
  def dispatchMs: Double = {
    val ds = jobs.values.asScala.toSeq.flatMap { j =>
      val launches = j.stages.flatMap(s => Option(stages.get(s))).map(_.firstLaunch)
        .filter(_ != Long.MaxValue)
      if (launches.isEmpty) None else Some((launches.min - j.start) / 1000.0)
    }
    if (ds.isEmpty) 0.0 else ds.sum / ds.size
  }

  /** Every span, benchmark and Spark side, with parents resolved. */
  def allSpans: Seq[Span] = {
    val bench = benchSpans.toSeq
    var id = nextId
    def fresh(): Int = { id += 1; id }
    def within(s: Span, t: Long) = s.start - 1000L <= t && t <= s.end
    // deepest containing span = the shortest one that contains t
    def hostOf(cands: Seq[Span], t: Long): Option[Span] =
      cands.filter(within(_, t)).sortBy(s => s.end - s.start).headOption
    val batchSpans = batches.asScala.toSeq.flatMap { case (bid, s, e) =>
      hostOf(bench, s).map(h => Span(fresh(), h.id, "stream", s"batch $bid", s, e))
    }
    val hosts = bench ++ batchSpans
    val planSpans = plans.asScala.toSeq.flatMap { case (phase, s, e) =>
      hostOf(hosts, s).map(h => Span(fresh(), h.id, "plan", phase, s, math.max(s, e)))
    }
    val jobSpans = jobs.asScala.toSeq.sortBy(_._1).flatMap { case (jid, j) =>
      hostOf(hosts, j.start).map(h =>
        jid -> Span(fresh(), h.id, "job", s"job $jid", j.start, math.max(j.start, j.end)))
    }
    val stageOwner = jobSpans.flatMap { case (jid, js) =>
      jobs.get(jid).stages.map(_ -> js) }.groupBy(_._1).map { case (k, v) => k -> v.head._2 }
    val stageSpans = stages.asScala.toSeq.flatMap { case (sid, r) =>
      stageOwner.get(sid).filter(_ => r.start > 0 && r.end >= r.start)
        .map(js => Span(fresh(), js.id, "stage", s"stage $sid", r.start, r.end))
    }
    hosts ++ planSpans ++ jobSpans.map(_._2) ++ stageSpans
  }

  /** Self time per layer (seconds) over every root span: each instant of
    * a root's interval is charged to the deepest span active at that
    * instant (children clipped to their parent), so the layers partition
    * the traced wall even where sibling spans overlap. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def clip(s: Span, lo: Long, hi: Long) =
      s.copy(start = math.max(s.start, lo), end = math.min(s.end, hi))
    spans.filter(_.parent == -1).foreach { root =>
      // (span, depth) for the root's subtree, clipped to each parent
      val tree = mutable.ArrayBuffer((root, 0))
      var i = 0
      while (i < tree.size) {
        val (p, d) = tree(i)
        byParent.getOrElse(p.id, Nil).map(clip(_, p.start, p.end))
          .filter(c => c.end > c.start).foreach(c => tree += ((c, d + 1)))
        i += 1
      }
      val cuts = tree.flatMap { case (s, _) => Seq(s.start, s.end) }.distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val owner = tree.filter { case (s, _) => s.start <= a && b <= s.end }
          .maxBy { case (s, d) => (d, s.start) }._1
        acc(owner.layer) += (b - a) / 1e6
      }
    }
    acc.toMap
  }

  def rootWallS(spans: Seq[Span]): Double =
    spans.filter(_.parent == -1).map(s => (s.end - s.start) / 1e6).sum

  /** The spans as JSON lines (id, parent, layer, name, start/end µs). */
  def dump(path: String, spans: Seq[Span]): Unit = {
    def q(s: String) = "\"" + s.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\""
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${q(s.layer)},"name":${q(s.name)},""" +
        s""""start_us":${s.start},"end_us":${s.end}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

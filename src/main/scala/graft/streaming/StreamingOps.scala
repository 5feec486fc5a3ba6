package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY.md §2.3 A5/A6/A9).
  *
  * Each op is a transformation over a streaming DataFrame — source and
  * sink stay caller-owned, so the same function body serves batch and
  * stream (stream-batch equivalence is the test strategy: replay the
  * events table as a file stream, compare with the batch twin Q14/Q11).
  *
  * Watermarks bound state: at 100 TB-rate ingest, the aggregation state
  * store only retains windows younger than the watermark; late rows
  * beyond it are dropped (observable via StreamingQueryListener metrics).
  */
object StreamingOps {

  /** Tumbling (or, with `slide`, sliding) event-time window aggregate —
    * streaming twin of Q14. */
  def windowedAgg(
      events: DataFrame,
      tsCol: String = "ts",
      window_ : String = "1 hour",
      slide: Option[String] = None,
      watermark: String = "1 hour"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), window_, s)
      case None => window(col(tsCol), window_)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("c"), round(sum(col("value")), 2).as("s"))
      .select(col("window.start").as("w"), col("event_type"), col("c"), col("s"))
  }

  /** Session windows with a 30-minute inactivity gap — streaming twin of
    * Q11's lag-based sessionization.
    *
    * Boundary semantics (SURVEY.md §7.2 hard part 4): Spark's
    * `session_window` spans [start, last_event + gap) with an EXCLUSIVE
    * end, so an event at exactly `last + gap` starts a new session —
    * while the batch twin's rule is "strictly > gap starts a new
    * session", which keeps it. To get exact batch parity, pass
    * `gap = "30 minutes 1 microsecond"` (timestamps are µs-resolution);
    * the equivalence test does. On the corpus no pair lands exactly on
    * the boundary, so both forms agree there.
    */
  def sessionAgg(
      events: DataFrame,
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Per-user session count from [[sessionAgg]] output (complete-mode
    * comparison point against Q11's `sessions` column). */
  def sessionCounts(sessionAggOut: DataFrame): DataFrame =
    sessionAggOut.groupBy(col("user_id"))
      .agg(count(lit(1)).as("sessions"), sum(col("n_events")).as("n_events"))

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream (user → cohort, doc → license tier). The static side is
    * broadcast per micro-batch — no stream state at all, unlike a
    * stream-stream join — and a LEFT join keeps stream rows whose key
    * is missing from the dimension (an inner join would silently drop
    * them, the classic enrichment data-loss bug). At scale: keep the
    * dimension under the broadcast threshold or pre-bucket both sides.
    */
  def enrichStream(
      stream: DataFrame,
      dim: DataFrame,
      keyCols: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keyCols, "left")

  /** Stream-stream equi-join (inner or left_outer) with a bounded
    * event-time band — e.g. "click joined to any purchase by the same
    * user within `bandSeconds` AFTER the click" (attribution, funnel
    * stitching). With `left_outer`, a click with NO purchase in its
    * band still emits (null-padded) — but only once the watermark
    * proves the band empty, so unmatched rows arrive delayed by the
    * watermark, not dropped.
    *
    * State-boundedness is the whole design: BOTH sides carry a
    * watermark AND the join condition bounds right.ts to
    * [left.ts, left.ts + band], so Spark derives state-eviction
    * watermarks for both sides — rows age out as event time advances.
    * A stream-stream join WITHOUT a time bound must keep every row of
    * both streams forever (state grows with corpus size — a non-starter
    * at ingest scale), so this operator makes the band mandatory.
    *
    * Column layout: key, left `ts`/payload prefixed `l_`, right
    * prefixed `r_` — prefixing avoids the ambiguous-column trap of
    * self-joined schemas.
    */
  def bandedStreamJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String = "ts",
      bandSeconds: Long = 3600,
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    // outer variants are only state-bounded on the preserved side(s)
    // with BOTH the watermark and the time bound present; right/full
    // follow the same mechanics but are rarely what attribution wants
    require(Set("inner", "left_outer", "leftouter", "left")
      .contains(joinType.toLowerCase),
      s"bandedStreamJoin supports inner/left_outer, got $joinType")
    // ALL non-key columns ride through with their side's prefix — the
    // attribution use case needs the matched row's payload (amount,
    // order id...), not just its timestamp
    val l = left.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("k") +:
        left.columns.filterNot(_ == keyCol).map(c => col(c).as(s"l_$c")).toSeq: _*)
    val r = right.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("k") +:
        right.columns.filterNot(_ == keyCol).map(c => col(c).as(s"r_$c")).toSeq: _*)
    l.join(r,
      l("k") === r("k") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $bandSeconds SECONDS"),
      joinType)
      .select(l("k").as(keyCol) +:
        (left.columns.filterNot(_ == keyCol).map(c => col(s"l_$c")) ++
          right.columns.filterNot(_ == keyCol).map(c => col(s"r_$c"))).toSeq: _*)
  }

  /** Input row of [[asOfEnrichStream]] — the union of both sides.
    * Times are µs since epoch (corpus-native resolution). */
  final case class AsOfEvent(k: Long, ts: java.sql.Timestamp, us: Long,
    isFact: Boolean, value: Double, attr: String)
  /** Per-key buffers: facts awaiting the watermark, dim versions
    * within the lookback horizon. */
  final case class AsOfBuf(facts: List[(Long, Double)], dims: List[(Long, String)])
  /** Output: each fact enriched with the dim version valid at its
    * timestamp (None = no version within the band — the batch twin's
    * unmatched-left row). */
  final case class AsOfEnriched(k: Long, fact_us: Long, value: Double,
    attr: Option[String])

  /** STREAM-STREAM AS-OF enrichment — the streaming twin of
    * [[graft.ops.Temporal.pointInTime]] / backward-inclusive
    * [[graft.ops.AsOfJoin]] with a tolerance: each fact row is matched
    * to the LATEST dim row of its key at or before the fact's event
    * time, looking back at most `bandSeconds` (the mandatory band —
    * like [[bandedStreamJoin]], an unbounded lookback would pin every
    * dim version in state forever).
    *
    * Why a banded stream-stream JOIN can't express this: "latest at or
    * before" is an ARGMAX over the matched set, and chaining an
    * aggregation after a stream-stream join puts two watermark-driven
    * stateful operators in sequence with append-mode emission rules
    * that delay results by a full extra watermark pass. One
    * `flatMapGroupsWithState` holds both sides' buffers and resolves
    * the argmax at emission time instead.
    *
    * Emission discipline: a fact emits only once the watermark passes
    * its event time — a dim version with an earlier timestamp may
    * arrive out of order until then, and emitting early would fix the
    * wrong version (the same reason the batch operator sorts before
    * `last_value`). The `watermark` delay is therefore the operator's
    * correctness horizon in BOTH directions: it sets emission latency,
    * and rows (either side) arriving later than it are dropped before
    * the operator by the engine's stateful late-row filter — the A9
    * drop-metrics listener counts them. State is bounded on BOTH sides: facts live until
    * the watermark passes them (≤ lateness horizon), dims until
    * `watermark − band` passes them (unmatchable afterwards — every
    * future emittable fact has ts > watermark, so its lookback floor
    * sits above watermark − band). Per-key state is O(facts in flight
    * + dim churn within band + lateness), independent of stream length.
    *
    * Tie/dup rules match the batch twin: inclusive boundary (a dim AT
    * the fact's timestamp wins); among equal dim timestamps the
    * greatest `attr` (SCD2 inputs never produce equal-ts versions per
    * key, so the rule only disambiguates malformed inputs
    * deterministically). Facts with equal timestamps each emit.
    *
    * Input shape is fixed (long key, timestamp, one double fact
    * payload, one string dim attribute) — the concrete-encoder
    * convention of [[sessionizeWithState]]; widen by struct-packing
    * payloads into `value`/`attr` upstream.
    */
  def asOfEnrichStream(
      facts: DataFrame,
      dims: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      valueCol: String = "value",
      attrCol: String = "event_type",
      bandSeconds: Long = 3600,
      watermark: String = "1 hour"): Dataset[AsOfEnriched] = {
    val spark = facts.sparkSession
    import spark.implicits._
    val bandUs = bandSeconds * 1000000L
    // project FIRST, watermark the projected column (see
    // sessionizeWithState: derived attributes lose the event-time tag)
    val f = facts.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("timestamp").as("ts"), unix_micros(col(tsCol)).as("us"),
      lit(true).as("isFact"), col(valueCol).cast("double").as("value"),
      lit("").as("attr"))
    val d = dims.select(col(keyCol).cast("long").as("k"),
      col(tsCol).cast("timestamp").as("ts"), unix_micros(col(tsCol)).as("us"),
      lit(false).as("isFact"), lit(0.0).as("value"),
      col(attrCol).cast("string").as("attr"))
    val ds = f.unionByName(d).withWatermark("ts", watermark).as[AsOfEvent]
    ds.groupByKey(_.k)
      .flatMapGroupsWithState[AsOfBuf, AsOfEnriched](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[AsOfEvent], state: GroupState[AsOfBuf]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val prev = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
          val arrivals = it.toList
          val facts0 = prev.facts ++ arrivals.filter(_.isFact).map(e => (e.us, e.value))
          val dims0 = prev.dims ++ arrivals.filterNot(_.isFact).map(e => (e.us, e.attr))
          // resolve facts the watermark has STRICTLY passed — their dim
          // set is final. Strict (<) mirrors the engine's late-row
          // filter, which only drops rows strictly older than the
          // watermark: a fact AT the boundary must stay pending, since
          // a dim version with the same boundary timestamp can still
          // legally arrive in a later micro-batch.
          val (ripe, green) = facts0.partition(_._1 < wmUs)
          val out = ripe.sortBy(_._1).map { case (fus, v) =>
            val m = dims0.filter(dv => dv._1 <= fus && fus - dv._1 <= bandUs)
            AsOfEnriched(key, fus, v,
              if (m.isEmpty) None else Some(m.max._2))
          }
          // dims below every future fact's lookback floor are unmatchable
          val dimsKept = dims0.filter(_._1 >= wmUs - bandUs)
          if (green.isEmpty && dimsKept.isEmpty) state.remove()
          else {
            state.update(AsOfBuf(green, dimsKept))
            // wake at the earliest pending fact (to emit it) or at the
            // oldest dim's expiry (to garbage-collect); both are > wm
            val wakeUs =
              if (green.nonEmpty) green.map(_._1).min
              else dimsKept.map(_._1).min + bandUs
            state.setTimeoutTimestamp(wakeUs / 1000L + 1L)
          }
          out.iterator
      }
  }

  /** Streaming dedup with BOUNDED state: duplicates of a key arriving
    * within the watermark horizon are dropped, and the key's state is
    * evicted once the watermark passes — the streaming twin of
    * [[graft.text.Dedup.exact]]. Plain `dropDuplicates` on a stream
    * retains every key forever (state grows with corpus size — a
    * non-starter at 100 TB-rate ingest); the within-watermark variant is
    * the production form.
    */
  def dedupStream(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)

  /** Typed-state layer for [[dedupStreamFuzzy]]. One banded arrival:
    * the doc's id/event time plus its FULL band-hash array (so any
    * bucket can decide whether an earlier band already owns a pair)
    * and its xxhash64'd distinct shingle set (so verification is
    * exact without shipping shingle strings into state). */
  final case class BandedDoc(band: Int, bh: Int, id: Long,
    ts: java.sql.Timestamp, us: Long, bands: Seq[Int], shh: Seq[Long])
  private[streaming] final case class BucketDoc(
    us: Long, id: Long, bands: Seq[Int], shh: Seq[Long])
  private[streaming] final case class DupBucket(docs: List[BucketDoc])
  /** One verified near-dup pair: (id_a < id_b, exact Jaccard), plus the
    * gate verdict — `keep_id` is the EARLIER doc (ties: smaller id),
    * `dup_id` the later one, `dup_us` its event time (for downstream
    * watermarking). */
  final case class FuzzyDupPair(id_a: Long, id_b: Long, jaccard: Double,
    keep_id: Long, dup_id: Long, dup_us: Long)

  /** Streaming FUZZY dedup — the near-dup twin of [[dedupStream]] and
    * the streaming form of [[graft.text.Dedup.nearMinhash]] +
    * `Dedup.incremental`: as documents arrive, emit every verified
    * near-duplicate pair (exact shingle-Jaccard ≥ `threshold`) between
    * the new doc and any doc seen within `horizonSeconds` of it —
    * immediately, on the later doc's arrival. Consumers drop `dup_id`s
    * (first-wins gate) or cluster the pairs downstream.
    *
    * Mechanics — identical algebra to the batch operator, re-keyed for
    * state: each doc shingles (distinct word `shingleLen`-grams),
    * MinHash-signs (the SAME native signature and [[graft.text.Dedup
    * .bandHashes]] banding as batch — collision guarantees must not
    * silently diverge), and explodes to its `b` band buckets; state
    * lives per (band, bandHash) bucket and holds the docs that hashed
    * there. A new arrival verifies against its bucket's residents with
    * EXACT Jaccard over xxhash64'd shingle sets (hashed 8-byte tokens,
    * not strings — an order of magnitude less state; a collision can
    * only perturb a Jaccard at ~2⁻⁶⁴ per shingle pair).
    *
    * Exactly-once pair emission WITHOUT a second stateful operator:
    * a pair colliding in several bands is emitted only by its LOWEST
    * colliding band — every resident carries its full band-hash array,
    * so bucket j checks bands 0..j−1 for an earlier collision and
    * stays silent if one exists. Purely local, no cross-bucket
    * coordination, no downstream dropDuplicates.
    *
    * Bounded state (the A9 discipline): `horizonSeconds` is the
    * MANDATORY pairing band — a doc only pairs with docs within the
    * horizon of its event time (the [[bandedStreamJoin]] rule: an
    * unbounded lookback would pin every doc in state forever). A
    * resident is unmatchable once `watermark − horizon` passes its
    * event time (every future non-late arrival has ts ≥ watermark), so
    * the bucket evicts it then; per-bucket state is O(docs within
    * horizon + lateness), independent of stream length — b× that
    * per doc across its buckets (the standard LSH replication cost).
    * Late docs beyond the watermark are dropped by the engine's
    * stateful late-row filter (countable via [[DropMetricsListener]]).
    *
    * Stream-batch equivalence (spec-pinned on the documents replay):
    * with horizon ≥ the corpus' time span, the emitted (id_a, id_b,
    * jaccard) set equals batch `nearMinhash` exactly.
    */
  def dedupStreamFuzzy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String = "ts",
      shingleLen: Int = 3,
      b: Int = 16,
      r: Int = 4,
      threshold: Double = 0.8,
      horizonSeconds: Long = 86400,
      watermark: String = "1 hour"): Dataset[FuzzyDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val k = b * r
    val horizonUs = horizonSeconds * 1000000L
    // project FIRST (shingles via Dedup.shingles, the batch
    // definition), watermark the projected ts, THEN explode to band
    // buckets so the event-time tag rides through
    val banded = docs
      .select(col(idCol).cast("long").as("id"),
        col(tsCol).cast("timestamp").as("ts"),
        unix_micros(col(tsCol)).as("us"),
        graft.text.Dedup.shingles(col(textCol), shingleLen).as("sh"))
      .select(col("id"), col("ts"), col("us"),
        graft.text.Dedup.bandHashes(
          graft.text.Dedup.minhashSignature(col("sh"), k), b, r).as("bands"),
        transform(col("sh"), s => xxhash64(s)).as("shh"))
      .withWatermark("ts", watermark)
      .select(posexplode(col("bands")).as(Seq("band", "bh")),
        col("id"), col("ts"), col("us"), col("bands"), col("shh"))
      .as[BandedDoc]
    banded.groupByKey(e => (e.band, e.bh))
      .flatMapGroupsWithState[DupBucket, FuzzyDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Int), it: Iterator[BandedDoc], state: GroupState[DupBucket]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val myBand = key._1
          def jaccard4(a: Seq[Long], bSh: Seq[Long]): Double = {
            val as = a.toSet; val bs = bSh.toSet
            val inter = as.intersect(bs).size
            val j = inter.toDouble / (as.size + bs.size - inter)
            BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          }
          var docs0 = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[FuzzyDupPair]
          // same-batch arrivals process in deterministic event order and
          // see each other (the batch operator pairs them too)
          it.toSeq.sortBy(e => (e.us, e.id)).foreach { e =>
            docs0.foreach { s =>
              if (s.id != e.id && math.abs(e.us - s.us) <= horizonUs &&
                  (0 until myBand).forall(j => s.bands(j) != e.bands(j))) {
                val as = s.shh.toSet; val bs = e.shh.toSet
                val inter = as.intersect(bs).size
                // threshold on the unrounded Jaccard (the batch rule)
                if (inter.toDouble / (as.size + bs.size - inter) >= threshold) {
                  val (keep, dup, dupUs) =
                    if (s.us < e.us || (s.us == e.us && s.id < e.id))
                      (s.id, e.id, e.us)
                    else (e.id, s.id, s.us)
                  out += FuzzyDupPair(math.min(s.id, e.id), math.max(s.id, e.id),
                    jaccard4(s.shh, e.shh), keep, dup, dupUs)
                }
              }
            }
            docs0 = BucketDoc(e.us, e.id, e.bands, e.shh) :: docs0
          }
          // unmatchable once watermark − horizon passes the doc: every
          // future non-late arrival carries ts ≥ watermark
          val kept = docs0.filter(_.us + horizonUs >= wmUs)
          if (kept.isEmpty) state.remove()
          else {
            state.update(DupBucket(kept))
            // wake at the oldest resident's expiry to garbage-collect
            state.setTimeoutTimestamp(
              (kept.map(_.us).min + horizonUs) / 1000L + 1L)
          }
          out.iterator
      }
  }

  /** Typed-state layer for [[sessionizeWithState]]. Times are µs since
    * epoch (the corpus' native resolution — java.sql.Timestamp getters
    * would truncate). */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, us: Long)
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset escape hatch for window semantics
    * `session_window` can't express (here: emit each CLOSED session as a
    * row the moment it closes, either by a gap-exceeding event or by the
    * watermark timing the user out).
    *
    * Same gap rule as batch Q11 / [[sessionAgg]]: a gap strictly greater
    * than `gapMinutes` starts a new session. State per user is one open
    * session (24 bytes) — eviction is by event-time timeout at
    * `last + gap`, so state volume tracks ACTIVE users only.
    *
    * In-order caveat: events are sorted within each micro-batch, but a
    * cross-batch regression (an event older than its user's open-session
    * tail, yet inside the watermark) would split a session that batch
    * processing merges. The stream-batch equivalence test replays in
    * order; out-of-order robustness is the watermark's job.
    */
  def sessionizeWithState(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      gapMinutes: Long = 30,
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // project FIRST, watermark the projected column: expressions over a
    // watermarked attribute (even a no-op cast) produce a NEW attribute
    // without the event-time tag, and EventTimeTimeout then fails analysis
    val ds = events
      .select(col(userCol).cast("long").as("user_id"),
        col(tsCol).cast("timestamp").as("ts"),
        unix_micros(col(tsCol)).as("us"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          def close(s: OpenSession) = ClosedSession(user, s.startUs, s.lastUs, s.n)
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open session can never
            // extend — emit and evict
            val out = state.getOption.map(close)
            state.remove()
            out.iterator
          } else {
            var out = Vector.empty[ClosedSession]
            var open = state.getOption
            it.toSeq.sortBy(_.us).foreach { e =>
              open = open match {
                case Some(s) if e.us - s.lastUs <= gapUs =>
                  Some(s.copy(lastUs = e.us, n = s.n + 1))
                case Some(s) =>
                  out :+= close(s)
                  Some(OpenSession(e.us, e.us, 1))
                case None => Some(OpenSession(e.us, e.us, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000L + 1L)
            }
            out.iterator
          }
      }
  }

  /** Output row of [[runningActivity]]: cumulative per-user counters. */
  final case class UserActivity(user_id: Long, n_events: Long, total_value: Double)

  /** Per-key running aggregation on the MODERN arbitrary-state API
    * (`transformWithState`, Spark 4): a [[StatefulProcessor]] holding
    * two `ValueState` cells per user, emitting the updated cumulative
    * (count, sum) on every input batch. Requires the RocksDB state
    * store provider (`spark.sql.streaming.stateStore.providerClass` →
    * `...state.RocksDBStateStoreProvider`) — which is also the right
    * provider at scale: state lives off-heap/on-disk per executor with
    * changelog checkpointing, so per-key state volume is bounded by
    * disk, not executor heap. Pass a `ttl` to evict idle users' state
    * (processing-time TTL) — the knob that keeps unbounded key spaces
    * bounded. The knob switches the operator to
    * `TimeMode.ProcessingTime` (Spark rejects TTL state under
    * `TimeMode.None`), which also means the query schedules
    * clock-driven maintenance batches: `processAllAvailable()` no
    * longer reports caught-up, so tests/tools must poll the sink with
    * a deadline instead of awaiting quiescence.
    */
  def runningActivity(
      events: DataFrame,
      userCol: String = "user_id",
      valueCol: String = "value",
      ttl: Option[java.time.Duration] = None): Dataset[UserActivity] = {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._

    class ActivityProcessor extends StatefulProcessor[Long, (Long, Double), UserActivity] {
      @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
      @transient private var total: org.apache.spark.sql.streaming.ValueState[Double] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        val ttlConf = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
        count = getHandle.getValueState[Long]("count", Encoders.scalaLong, ttlConf)
        total = getHandle.getValueState[Double]("total", Encoders.scalaDouble, ttlConf)
      }
      override def handleInputRows(
          key: Long, rows: Iterator[(Long, Double)],
          timerValues: TimerValues): Iterator[UserActivity] = {
        var c = if (count.exists()) count.get() else 0L
        var t = if (total.exists()) total.get() else 0d
        rows.foreach { case (_, v) => c += 1; t += v }
        count.update(c)
        total.update(t)
        Iterator.single(UserActivity(key, c, t))
      }
    }

    // TTL state requires a clock: TimeMode.None() with a TTLConfig is
    // rejected by Spark at query start, so the mode follows the knob
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events
      .select(col(userCol).cast("long"), col(valueCol).cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new ActivityProcessor,
        timeMode, OutputMode.Update())
  }

  /** Typed-state layer for [[trendingTopK]]. */
  final case class WindowItem(wstart_us: Long, item: String, ts: java.sql.Timestamp)
  final case class SSCell(count: Long, err: Long)
  final case class SSState(cells: Map[String, SSCell], n: Long)
  final case class TrendingItem(
      window_start_us: Long, item: String, est_count: Long, max_err: Long,
      window_n: Long)

  /** Streaming trending top-k per tumbling window via the SPACE-SAVING
    * sketch (Metwally et al.): per window, at most `capacity` counters
    * regardless of item cardinality — when a new item arrives at a full
    * summary, it REPLACES the minimum counter, inheriting its count as
    * the error bound. Guarantees (test-pinned): `est ≥ true ≥ est−err`
    * for every tracked item, and any item with true frequency
    * > n/capacity is guaranteed present — the heavy hitters cannot be
    * evicted.
    *
    * State per window is `capacity` cells (the scale knob: memory is
    * capacity × active windows, NEVER item cardinality — the reason a
    * 100 TB stream with a billion-item key space still fits executor
    * state). Keyed by window start, so the sketch merge is local to
    * each window's partition: one keyed shuffle. Windows emit their
    * top `k` ONCE, when the event-time watermark passes the window end
    * (late events inside the watermark still count; later ones are
    * dropped by the watermark, observable via [[DropMetricsListener]]).
    */
  def trendingTopK(
      events: DataFrame,
      itemCol: String = "event_type",
      tsCol: String = "ts",
      windowMinutes: Long = 60,
      capacity: Int = 64,
      k: Int = 10,
      watermark: String = "1 hour"): Dataset[TrendingItem] = {
    require(capacity >= 1 && k >= 1, "capacity and k must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val winUs = windowMinutes * 60L * 1000000L
    // integer µs bucket arithmetic (div, not double /): epoch-µs values
    // are beyond double's exact-integer range at the last digits
    val ds = events
      .select(
        expr(s"(unix_micros($tsCol) div ${winUs}L) * ${winUs}L").as("wstart_us"),
        col(itemCol).cast("string").as("item"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[WindowItem]
    ds.groupByKey(_.wstart_us)
      .flatMapGroupsWithState[SSState, TrendingItem](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstart: Long, it: Iterator[WindowItem], state: GroupState[SSState]) =>
          if (state.hasTimedOut) {
            // watermark passed the window end: the sketch is final
            val out = state.getOption.toSeq.flatMap { s =>
              s.cells.toSeq
                .sortBy { case (item, c) => (-c.count, item) }
                .take(k)
                .map { case (item, c) =>
                  TrendingItem(wstart, item, c.count, c.err, s.n) }
            }
            state.remove()
            out.iterator
          } else {
            var cells = state.getOption.map(_.cells).getOrElse(Map.empty[String, SSCell])
            var n = state.getOption.map(_.n).getOrElse(0L)
            // deterministic fold order: micro-batch iterator order is
            // partition-merge order, not stable across runs
            it.toSeq.sortBy(e => (e.ts.getTime, e.item)).foreach { e =>
              n += 1
              cells.get(e.item) match {
                case Some(c) => cells += e.item -> c.copy(count = c.count + 1)
                case None if cells.size < capacity => cells += e.item -> SSCell(1, 0)
                case None =>
                  val (minItem, minCell) =
                    cells.minBy { case (item, c) => (c.count, item) }
                  cells = cells - minItem +
                    (e.item -> SSCell(minCell.count + 1, minCell.count))
              }
            }
            state.update(SSState(cells, n))
            // fire once the event-time watermark passes the window end
            state.setTimeoutTimestamp((wstart + winUs) / 1000L + 1L)
            Iterator.empty
          }
      }
  }

  /** Watermark-drop observability (A9): accumulates
    * `numRowsDroppedByWatermark` across progress events so a pipeline
    * can alert when late data is being discarded. Attach with
    * `spark.streams.addListener(listener)`.
    */
  final class DropMetricsListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val dropped = new java.util.concurrent.atomic.AtomicLong(0)
    def droppedByWatermark: Long = dropped.get()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      e.progress.stateOperators.foreach(s => dropped.addAndGet(s.numRowsDroppedByWatermark))
  }

  /** Micro-batch sink adapter: run any batch-writing function per
    * micro-batch (the standard escape hatch for sinks Spark lacks —
    * upserts, multi-table writes). The function receives the batch as a
    * plain DataFrame plus its id for exactly-once bookkeeping. Each
    * micro-batch is one [[graft.CacheScope]]: what the function caches
    * is released when it returns, so a long-lived stream holds none.
    */
  def foreachBatchSink(df: DataFrame, name: String)(
      f: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.queryName(name)
      .foreachBatch((batch: DataFrame, id: Long) => graft.CacheScope(f(batch, id)))

  /** Streaming CDC apply: maintain a latest-record-per-key parquet
    * table from a change stream. Each micro-batch collapses to one row
    * per key ([[graft.ops.Relational.latestByKey]] over `orderCols`) and
    * merges into the table via [[graft.sources.IO.upsert]] in its
    * EVENT-TIME mode — so the table is, at every commit, the max-by-
    * `orderCols` view of everything consumed, and a micro-batch
    * carrying a LATE, older record for a key never overwrites the newer
    * one already in the table (the stream's arrival order does not
    * matter). The first batch CREATES the table.
    *
    * Caveat at scale: each merge rewrites the table (see
    * [[graft.sources.IO.upsert]]'s partitioned-rewrite note) — size
    * trigger intervals so batches amortize the rewrite; a replay after
    * a crash re-merges the uncommitted batch, which upsert absorbs
    * idempotently (same keys, same winners).
    */
  /** The per-micro-batch merge body of [[upsertSink]], exposed so the
    * exactly-once discipline is testable under an INJECTED crash in the
    * window between the merge completing and the checkpoint committing
    * (StreamingSpec replays exactly that window). Replay-idempotent by
    * construction: event-time upsert keeps max-by-`orderCols` per key,
    * so re-merging an already-merged batch changes nothing. */
  private[streaming] def upsertBatch(batch: DataFrame, path: String,
      keys: Seq[String], orderCols: Seq[String]): Unit =
    // createOrUpsert heals prior crashes BEFORE deciding create-vs-
    // merge, and stages the create — a bare exists() check here would
    // mistake a mid-swap crash for a fresh table and orphan history
    graft.sources.IO.createOrUpsert(batch.sparkSession, path,
      graft.ops.Relational.latestByKey(batch, keys, orderCols), keys, orderCols)

  def upsertSink(
      df: DataFrame, path: String, keys: Seq[String], orderCols: Seq[String],
      name: String = "upsert_sink"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, name) { (batch, _) =>
      upsertBatch(batch, path, keys, orderCols)
    }

  /** Streaming SCD2 maintenance: keep a versioned dimension up to date
    * from a change stream — each micro-batch merges via
    * [[graft.sources.IO.scd2Merge]] (rebuild-affected-keys; see its
    * scaladoc for the in-order equivalence contract and the
    * compressed-history late-row semantics). Idempotent under
    * micro-batch replay, so a crash between merge and checkpoint commit
    * re-applies harmlessly — the same discipline [[upsertSink]] is
    * crash-tested for.
    */
  def scd2Sink(
      df: DataFrame, path: String, keyCol: String, tsCol: String,
      attrCols: Seq[String],
      name: String = "scd2_sink"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, name) { (batch, _) =>
      graft.sources.IO.scd2Merge(batch.sparkSession, path, batch,
        keyCol, tsCol, attrCols)
    }

  /** The per-micro-batch body of the three index sinks, exposed so the
    * exactly-once discipline is testable under an injected replay
    * (StreamingAnnIndexSpec re-fires a batchId and asserts the store is
    * unchanged): `segments` maps the batch to its rows per store subtree
    * at the store's FROZEN geometry ([[lshSegments]], [[ivfSegments]],
    * [[ivfPqSegments]] — pure per-row maps, provably equal to how a full
    * rebuild would place these rows), and each overwrites its
    * deterministic `<subtree>/batch=<id>` directory. Idempotent by path:
    * a crash-replayed batch rewrites the same dirs with the same
    * content. */
  private[streaming] def indexBatch(batch: DataFrame, batchId: Long, indexDir: String)(
      segments: DataFrame => Seq[(String, DataFrame)]): Unit =
    segments(batch).foreach { case (sub, rows) =>
      rows.write.mode("overwrite").parquet(s"$indexDir/$sub/batch=$batchId")
    }

  /** An LSH batch banded at the store's geometry
    * ([[graft.vector.Similarity.lshSegment]]). */
  private[streaming] def lshSegments(indexDir: String, idCol: String, vecCol: String)(
      batch: DataFrame): Seq[(String, DataFrame)] = {
    val (banded, vectors) = graft.vector.Similarity.lshSegment(
      graft.vector.IndexStore.readLshGeometry(batch.sparkSession, indexDir),
      batch, idCol, vecCol)
    Seq("banded" -> banded, "vectors" -> vectors)
  }

  /** An IVF batch assigned to the store's centroids
    * ([[graft.vector.Similarity.ivfSegment]]). */
  private[streaming] def ivfSegments(indexDir: String, idCol: String, vecCol: String)(
      batch: DataFrame): Seq[(String, DataFrame)] =
    Seq("data" -> graft.vector.Similarity.ivfSegment(
      graft.vector.IndexStore.readIvfGeometry(batch.sparkSession, indexDir),
      batch, idCol, vecCol))

  /** An IVF-PQ batch assigned and encoded at the store's centroids and
    * codebooks ([[graft.vector.Pq.ivfPqSegment]]). */
  private[streaming] def ivfPqSegments(indexDir: String, idCol: String, vecCol: String)(
      batch: DataFrame): Seq[(String, DataFrame)] =
    Seq("data" -> graft.vector.Pq.ivfPqSegment(
      graft.vector.IndexStore.readIvfPqGeometry(batch.sparkSession, indexDir),
      batch, idCol, vecCol))

  /** Streaming LSH index maintenance (r9 VERDICT missing #3): grow a
    * durable [[graft.vector.IndexStore]] LSH store from a vector
    * stream, one banded segment per micro-batch at the store's frozen
    * geometry — the [[upsertSink]] discipline applied to the serving
    * index, so a streamed corpus pays banding exactly once per row and
    * probes ([[graft.vector.Similarity.annTopKIndexed]] over
    * [[graft.vector.IndexStore.readLsh]]) are oblivious to how the
    * index grew (banding is a pure per-row map — the
    * [[graft.vector.Similarity.lshIndexAppend]] equivalence, pinned
    * stream-vs-rebuild in StreamingAnnIndexSpec).
    *
    * The store at `indexDir` must exist (write the base index — possibly
    * over an empty corpus slice — with
    * [[graft.vector.IndexStore.writeLsh]] first); the upstream stream
    * must carry UNIQUE ids across its lifetime (the append ID CONTRACT
    * — dedup with [[dedupStream]] upstream if the source redelivers).
    * What the frozen geometry means for recall/occupancy as the corpus
    * grows is the append-vs-rebuild cadence note on
    * [[graft.vector.Similarity.lshIndexAppend]].
    *
    * MAINTENANCE TRIGGER (r10 verdict #3): each micro-batch adds one
    * `batch=<id>` segment directory per subtree; unbounded, that is a
    * partition-discovery + file-open cost that grows with stream
    * lifetime. Run [[graft.vector.IndexStore.compactLsh]] when
    * [[graft.vector.IndexStore.segmentCount]] passes ~64 (pure segment
    * merge — probe results provably unchanged, pinned in
    * IndexStoreCompactionSpec), and
    * [[graft.vector.IndexStore.rebuildLsh]] instead when bucket
    * occupancy has drifted past ~2× target (corpus roughly doubled
    * since `p` was sized) — that re-sizes the geometry and collapses
    * segments as a side effect. Compact/rebuild from a maintenance
    * process, not the sink itself, and between the sink's triggers: a
    * compaction or rebuild that overlaps a batch can drop that batch's
    * segment (the known limit in [[graft.vector.IndexStore]]). The
    * sink's own writes stay per-batch idempotent either way (a replayed
    * batch just recreates its segment beside the new base).
    */
  def lshIndexSink(
      df: DataFrame, indexDir: String, idCol: String, vecCol: String,
      name: String = "lsh_index_sink"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, name) { (batch, bid) =>
      indexBatch(batch, bid, indexDir)(lshSegments(indexDir, idCol, vecCol))
    }

  /** Streaming IVF index maintenance — the [[lshIndexSink]] twin:
    * per-batch cell assignment against the store's frozen centroids
    * (a literal-broadcast codegen'd map, no model state shipped),
    * one segment per micro-batch. Same store contract (base written
    * first, unique ids upstream); the retrain-when-drifted cadence is
    * [[graft.vector.Similarity.ivfIndexAppend]]'s note. Same
    * MAINTENANCE TRIGGER as [[lshIndexSink]]:
    * [[graft.vector.IndexStore.compactIvf]] at ~64 segments (merge
    * only, centroids untouched), [[graft.vector.IndexStore.rebuildIvf]]
    * when the centroids have gone stale (appended fraction /
    * cell-occupancy skew past threshold). */
  def ivfIndexSink(
      df: DataFrame, indexDir: String, idCol: String, vecCol: String,
      name: String = "ivf_index_sink"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, name) { (batch, bid) =>
      indexBatch(batch, bid, indexDir)(ivfSegments(indexDir, idCol, vecCol))
    }

  /** Streaming IVF-PQ index maintenance (r11) — the [[ivfIndexSink]]
    * twin at the CODED grain: each micro-batch's vectors are assigned
    * to the store's frozen coarse centroids and product-quantized to
    * `(id, cell, codes, rnorm)` — so the durable index a long-lived
    * stream grows holds m small ints + one double per vector, never a
    * float vector, and stays servable
    * ([[graft.vector.Pq.ivfPqTopKReranked]] over
    * [[graft.vector.IndexStore.readIvfPq]]) at corpus sizes where the
    * float index cannot. Same store contract (base written first with
    * [[graft.vector.IndexStore.writeIvfPq]], unique ids upstream) and
    * the same MAINTENANCE TRIGGER as [[lshIndexSink]]:
    * [[graft.vector.IndexStore.compactIvfPq]] at ~64 segments (merge
    * only), [[graft.vector.IndexStore.rebuildIvfPq]] when centroids or
    * codebooks have gone stale — the rebuild retrains BOTH quantizers
    * from the at-rest float table the caller passes (the store itself
    * is float-free by design). */
  def ivfPqIndexSink(
      df: DataFrame, indexDir: String, idCol: String, vecCol: String,
      name: String = "ivfpq_index_sink"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, name) { (batch, bid) =>
      indexBatch(batch, bid, indexDir)(ivfPqSegments(indexDir, idCol, vecCol))
    }
}

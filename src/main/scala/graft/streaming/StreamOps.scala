package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Structured-Streaming operator surface (SURVEY.md §2-B "Streaming").
  *
  * Every transform here takes/returns DataFrame and works identically on a
  * batch frame or a `readStream` frame — the Spark-native way to keep one
  * operator library for both. Streaming-only pieces (watermark, stateful
  * dedup, arbitrary state) are thin named wrappers so pipelines declare
  * intent.
  */
object StreamOps {

  /** Tumbling-window aggregate: rows per (window, event_type) with count
    * and exact 2-decimal sum.
    */
  def tumblingCounts(events: DataFrame, tsCol: String,
                     width: String): DataFrame =
    events.groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Sliding-window aggregate. */
  def slidingCounts(events: DataFrame, tsCol: String,
                    width: String, slide: String): DataFrame =
    events.groupBy(window(col(tsCol), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session windows per user: gap-based sessionization. */
  def sessionCounts(events: DataFrame, tsCol: String,
                    gap: String): DataFrame =
    events.groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))

  /** Scratch dir for ephemeral streaming state/sinks (the registry's
    * self-contained streamed queries): prefers the tmpfs mount when
    * present — the state store fsyncs per batch, and on spinning /tmp
    * that IO dominates small runs. Durable pipelines must point
    * checkpoints at reliable storage instead; this is for
    * run-and-discard evaluation only.
    *
    * All of them sit under one root per JVM, deleted by a shutdown hook
    * that runs after Spark's own (SparkContext stop) and before Hadoop
    * closes its file systems. A returned frame may still read its dir
    * lazily, so nothing is deleted earlier.
    */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  private lazy val scratchRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val root =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm, "graft-scratch-")
      else java.nio.file.Files.createTempDirectory("graft-scratch-")
    // Hadoop runs higher priorities first: Spark's hooks sit at 40, the
    // FileSystem cache closes at 10
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => graft.ops.CacheScope.deleteRecursively(root.toFile), 20)
    root
  }

  /** Stream-static (dimension) enrichment join — the canonical streaming
    * star-schema shape: each micro-batch of the stream hash-joins against
    * a broadcast of the static dimension, so the stream side never
    * shuffles and no streaming state is kept (stream-static inner joins
    * are stateless by construction). At cluster scale the dimension
    * broadcast is re-read per batch only when the underlying files
    * change.
    */
  def staticEnrich(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey))

  /** Watermarked variant of any of the above: call before aggregating. */
  def withLateness(events: DataFrame, tsCol: String,
                   lateness: String): DataFrame =
    events.withWatermark(tsCol, lateness)

  /** Streaming dedup on event_id, state bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           lateness: String): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join on a key within an event-time interval:
    * right.ts ∈ [left.ts − lower, left.ts + upper]. Works identically on
    * batch frames (plain join) and on two `readStream` frames — in the
    * streaming case BOTH sides must be watermarked (see
    * `withLateness`), and it is exactly the watermark + interval bound
    * that lets Spark evict join state: a buffered row can be dropped once
    * the other side's watermark passes its ts + bound, so state is
    * O(rate × interval), not unbounded.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String, leftTs: String, rightTs: String,
                   lower: String, upper: String): DataFrame = {
    val l = col(s"l.$leftTs")
    val r = col(s"r.$rightTs")
    left.alias("l").join(right.alias("r"),
      col(s"l.$key") === col(s"r.$key") &&
        r >= l - expr(s"INTERVAL $lower") &&
        r <= l + expr(s"INTERVAL $upper"))
  }

  // ---- arbitrary stateful processing (mapGroupsWithState) ----

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Running per-user totals via mapGroupsWithState — the exemplar for
    * custom state machines (processing-time timeout keeps state bounded).
    */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], st: GroupState[UserRunning]) =>
          val prev = st.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val (n, total) = it.foldLeft((prev.n, prev.total)) {
            case ((c, t), e) => (c + 1, t + e.value)
          }
          val next = UserRunning(uid, n, total)
          st.update(next)
          next
      }
  }

  case class OpenSession(start: Long, end: Long, n: Long)
  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Long)

  /** Custom sessionization via flatMapGroupsWithState + EventTimeTimeout —
    * the arbitrary-state surface `session_window` can't reach (emit
    * arbitrary rows per group per trigger, timeout-driven finalization).
    * A session closes either when a later event arrives past the gap
    * (emitted in that batch) or when the WATERMARK passes its end + gap
    * (the timeout fires with no new data — the part that needs
    * flatMapGroupsWithState). Input must be watermarked (`withLateness`)
    * for EventTimeTimeout to be legal. State per key is one open session:
    * O(keys), not O(events).
    *
    * All session arithmetic is in epoch MICROSECONDS (TimestampType's
    * native precision) — `Timestamp.getTime` is millis and would silently
    * truncate micro-precision event times, corrupting session bounds.
    * Only the timeout registration rounds to millis (GroupState's API
    * unit): it is set to the ms-floor of end + gap, and GroupState
    * event-time timeouts fire only when timeoutTimestamp < watermark
    * STRICTLY — so an idle session closes in the first batch whose
    * watermark ms-floor strictly exceeds end + gap's ms-floor (boundary
    * pinned by FileStreamSpec "timeout boundary"; that inequality is
    * what q_stream_session_state's oracle twin encodes).
    */
  def sessionizeWithState(events: Dataset[UserEvent],
                          gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val gapUs = gapMs * 1000L
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], st: GroupState[OpenSession]) =>
          def finish(s: OpenSession) = UserSession(uid,
            toTs(s.start), toTs(s.end), s.n)
          if (st.hasTimedOut) {
            val out = st.getOption.map(finish).iterator
            st.remove()
            out
          } else {
            // per-batch, per-key buffer: bounded by one key's batch volume
            val sorted = rows.toSeq.sortBy(e => toUs(e.ts))
            val closed = scala.collection.mutable.Buffer.empty[UserSession]
            var open = st.getOption
            for (e <- sorted) {
              val t = toUs(e.ts)
              open = open match {
                case Some(s) if t - s.end <= gapUs =>
                  Some(OpenSession(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed += finish(s)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              st.update(s)
              // ms-floor of end+gap (timeouts fire strictly past it);
              // never at/behind the current watermark (Spark rejects it)
              st.setTimeoutTimestamp(
                math.max((s.end + gapUs) / 1000L,
                  st.getCurrentWatermarkMs + 1L))
            }
            closed.iterator
          }
      }
  }

  /** [[sessionizeWithState]] ported to Spark 4's transformWithState —
    * the successor arbitrary-state API (SPARK-46815): state lives in
    * named, individually-evolvable stores on a StatefulProcessorHandle
    * (here one ValueState[OpenSession]) instead of a single opaque
    * GroupState blob, and timeouts become first-class TIMERS that can
    * coexist with same-batch input (fMGWS gives a batch EITHER rows OR
    * a timeout, never both). Session semantics are bit-identical to
    * the fMGWS form — same micros arithmetic, same ms-floor timer at
    * end + gap clamped past the watermark, and timers fire strictly
    * after the watermark passes them, so the same boundary rule holds
    * (TwsParitySpec pins streamed tws == streamed fMGWS == batch
    * gaps-and-islands on the same input; q_stream_session_tws shares
    * q_stream_session_state's oracle).
    *
    * Extension handling uses LAZY timer deletion: each update
    * registers the new deadline and leaves stale timers in place; an
    * expiring timer only closes the session when it is not earlier
    * than the state's current deadline (a stale timer from before an
    * extension fires below the refreshed deadline and is ignored).
    * State per key stays one OpenSession + O(extensions) pending
    * timer entries, all watermark-bounded.
    *
    * Requires the RocksDB state-store provider (transformWithState
    * needs multi-column-family state); run it under [[withRocksDb]].
    */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserSession] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      ExpiredTimerInfo, TTLConfig, ValueState}
    // the lazy-deletion staleness guard in handleExpiredTimer compares
    // an expired timer against the (end + gap) ms-floor; for gapMs < 2
    // a watermark-clamped stale timer (registered at wm + 2) can exceed
    // that floor for a just-extended session and close it early
    // (ADVICE r10). Sub-2ms session gaps are not meaningful at ms timer
    // resolution anyway, so make the precondition explicit.
    require(gapMs >= 2L,
      s"SessionProcessor requires gapMs >= 2 (got $gapMs): the stale-" +
        "timer guard is only sound when a fresh deadline strictly " +
        "exceeds every earlier-registered timer")
    private val gapUs = gapMs * 1000L
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    private def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    private def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    private def finish(uid: Long, s: OpenSession) =
      UserSession(uid, toTs(s.start), toTs(s.end), s.n)
    // tws timers fire INCLUSIVELY (expiry ≤ watermark) where fMGWS
    // event-time timeouts fire STRICTLY (timeout < watermark); an
    // inclusive timer at t+1 ≡ a strict timeout at t, so register the
    // fMGWS value + 1 ms and both forms close sessions on identical
    // watermarks (TwsParitySpec "timeout boundary")
    private def deadlineMs(s: OpenSession, watermarkMs: Long): Long =
      math.max((s.end + gapUs) / 1000L, watermarkMs + 1L) + 1L

    override def handleInputRows(uid: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[UserSession] = {
      val sorted = rows.toSeq.sortBy(e => toUs(e.ts))
      val closed = scala.collection.mutable.Buffer.empty[UserSession]
      var cur = if (open.exists) Some(open.get()) else None
      for (e <- sorted) {
        val t = toUs(e.ts)
        cur = cur match {
          case Some(s) if t - s.end <= gapUs =>
            Some(OpenSession(s.start, math.max(s.end, t), s.n + 1))
          case Some(s) =>
            closed += finish(uid, s)
            Some(OpenSession(t, t, 1))
          case None => Some(OpenSession(t, t, 1))
        }
      }
      cur.foreach { s =>
        open.update(s)
        getHandle.registerTimer(
          deadlineMs(s, timers.getCurrentWatermarkInMs))
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[UserSession] =
      if (open.exists) {
        val s = open.get()
        // stale timer from before an extension: a fresher one is
        // pending at the current deadline — ignore this firing
        // (fresh timers sit at end+gap floor + 1, hence the strict >)
        if (expired.getExpiryTimeInMs > (s.end + gapUs) / 1000L) {
          open.clear()
          Iterator.single(finish(uid, s))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Sessionize via [[SessionProcessor]] (transformWithState). Input
    * must be watermarked, as with the fMGWS form. */
  def sessionizeTws(events: Dataset[UserEvent],
                    gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class LbEvent(event_type: String, user_id: Long, cents: Long)
  case class LbTop(event_type: String, batch_seq: Long, rank: Long,
                   user_id: Long, total_cents: Long)

  /** Streaming TOP-K LEADERBOARD — the second transformWithState
    * exemplar, exercising the parts [[SessionProcessor]] doesn't:
    * MAPSTATE (user → running cents, point-updated per event — the
    * state shape fMGWS forces into one opaque blob that rewrites
    * wholesale every batch, and the reason the successor API exists)
    * alongside a ValueState batch counter, under TimeMode.None (no
    * timers). Each batch point-updates only the arriving users'
    * entries, then emits the key's current top-k by (total desc,
    * user asc) — all-integer cents, so emissions replay exactly.
    *
    * Scale: state per key is one map entry per active user —
    * point-read/point-write per event under RocksDB, NOT a
    * deserialize-the-world per batch; the emission scan is
    * O(users-per-key) (inherent to exact top-k — an unseen user may
    * hold rank k), keys partition across executors.
    */
  class LeaderboardProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, LbEvent, LbTop] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      TTLConfig, ValueState, MapState}
    import org.apache.spark.sql.Encoders
    @transient private var totals: MapState[Long, Long] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getMapState[Long, Long]("totals",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[LbEvent],
        timers: TimerValues): Iterator[LbTop] = {
      for (e <- rows) {
        val prev = if (totals.containsKey(e.user_id))
          totals.getValue(e.user_id) else 0L
        totals.updateValue(e.user_id, prev + e.cents)
      }
      val b = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(b)
      totals.iterator().toSeq
        .sortBy { case (u, t) => (-t, u) }
        .take(k).zipWithIndex.map { case ((u, t), i) =>
          LbTop(key, b, i + 1L, u, t)
        }.iterator
    }
  }

  case class WinEvent(user_id: Long, event_id: Long, cents: Long)
  case class WinStat(user_id: Long, batch_seq: Long, n_seen: Long,
                     n_in_window: Long, win_min: Long, win_med: Long,
                     win_max: Long, win_sum: Long)

  /** LAST-N SLIDING WINDOW per user — the LISTSTATE exemplar,
    * completing transformWithState's state-type coverage (ValueState:
    * [[SessionProcessor]]; MapState: [[LeaderboardProcessor]]): the
    * window is an ordered ListState of the user's most recent n cents
    * values (events sort by event_id within each batch — iterator
    * order is partition-dependent, the sort is the determinism
    * contract), trimmed on write; two ValueStates carry the per-key
    * batch counter and lifetime event count. Each batch emits the
    * window's exact integer stats (min / lower-median / max / sum).
    *
    * Scale: state per key is n longs + two counters; the emission is
    * O(n log n) on n ≤ 5 — constant. The published failure mode this
    * replaces is an unbounded event buffer in fMGWS state.
    */
  class SlidingNProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, WinEvent, WinStat] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues,
      TTLConfig, ValueState, ListState}
    import org.apache.spark.sql.Encoders
    @transient private var window: ListState[Long] = _
    @transient private var seq: ValueState[Long] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      window = getHandle.getListState[Long]("window",
        Encoders.scalaLong, TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq",
        Encoders.scalaLong, TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[WinEvent],
        timers: TimerValues): Iterator[WinStat] = {
      val sorted = rows.toSeq.sortBy(_.event_id)
      var win = if (window.exists()) window.get().toVector
        else Vector.empty[Long]
      for (e <- sorted) win = (win :+ e.cents).takeRight(n)
      window.put(win.toArray)
      val b = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(b)
      val s = (if (seen.exists()) seen.get() else 0L) + sorted.size
      seen.update(s)
      val so = win.sorted
      Iterator.single(WinStat(uid, b, s, win.size.toLong, so.head,
        so((so.size + 1) / 2 - 1), so.last, win.sum))
    }
  }

  /** Last-n window stats via [[SlidingNProcessor]]; run under
    * [[withRocksDb]]. */
  def slidingNTws(events: Dataset[WinEvent], n: Int): Dataset[WinStat] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new SlidingNProcessor(n),
        TimeMode.None(), OutputMode.Append())
  }

  /** Top-k leaderboard via [[LeaderboardProcessor]]; run under
    * [[withRocksDb]]. */
  def leaderboardTws(events: Dataset[LbEvent], k: Int): Dataset[LbTop] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.event_type)
      .transformWithState(new LeaderboardProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to a small
    * constant, restoring the prior value after. For BOUNDED replay
    * fixtures (the q_stream_* family): a streaming query's state-store
    * count is fixed from this conf at its first checkpoint, so under a
    * wide local session every micro-batch pays per-partition store
    * open/commit/close on mostly-empty partitions — measured ~2.4× on
    * q_stream_tws_topk at local[32] vs local[4] (VERDICT r10 #4). On a
    * real cluster state stores distribute and the wide count is right;
    * for a fixture-sized replay the overhead is pure waste. Per-key
    * results are partition-count-invariant (the 4-vs-7-CPU determinism
    * sweep pins this), so oracle rows are unchanged by construction.
    */
  def withReplayPartitions[T](spark: org.apache.spark.sql.SparkSession,
      n: Int = ReplayPartitions)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Replay-fixture state-store width (see [[withReplayPartitions]]);
    * env-tunable so the pin can be A/B'd without a rebuild. Results
    * are partition-count-invariant (determinism sweep); production
    * sizes this to expected state cardinality/throughput, not to a
    * fixture constant. Default 8 from the r16 measured frontier over
    * the 10 heaviest q_stream_* at sf0.1/local[32]:
    * 1→60.6 s, 2→57.3, 4→53.1, 8→48.2 (two runs: 48.5/48.0), 16→50.3
    * — per-batch real work (dedup joins, winnow selection) gains
    * parallelism up to 8, store open/commit overhead wins past it. */
  private[graft] val ReplayPartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8").toInt

  /** Run `body` with the RocksDB state-store provider set (required
    * by transformWithState), restoring the prior provider after. */
  def withRocksDb[T](spark: org.apache.spark.sql.SparkSession)
      (body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  case class EwmaIn(user_id: Long, ts: java.sql.Timestamp,
                    event_id: Long, value: Double)
  case class EwmaState(level: Double, n: Long, updates: Long)
  case class EwmaUpdate(user_id: Long, update_seq: Long, n_so_far: Long,
                        level: Double)

  case class KalmanIn(event_type: String, ts: java.sql.Timestamp,
                      event_id: Long, value: Double)
  case class KalmanState(level: Double, p: Double, n: Long,
                         updates: Long)
  case class KalmanUpdate(event_type: String, update_seq: Long,
                          n_so_far: Long, level: Double, p: Double)

  /** Per-key ONLINE LOCAL-LEVEL KALMAN FILTER (q = 2, r = 8 — the
    * q_time_kalman model) via flatMapGroupsWithState: (level, P)
    * survive micro-batch boundaries in the state store, each batch
    * folds its rows in deterministic (ts, event_id) order on top of
    * the carried state, and emits ONE update row per key per batch.
    * The adaptive-gain sibling of [[ewmaWithState]]: the gain starts
    * at P/(P+r) while the level is uncertain and converges to the
    * steady state — exactly what a fixed-α ingest smoother cannot do
    * after a state-store restore, where uncertainty should reset high.
    *
    * Same determinism contract as [[ewmaWithState]]: in-batch order is
    * (event time, unique id); the batch split is part of the fixture
    * contract, so a SQL twin replays the exact double sequence. State
    * per key is one (level, P, n, updates) quad: O(keys). */
  def kalmanWithState(events: Dataset[KalmanIn]): Dataset[KalmanUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[KalmanState, KalmanUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[KalmanIn],
         st: GroupState[KalmanState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val prev = st.getOption
            var l = prev.map(_.level).getOrElse(0.0)
            var p = prev.map(_.p).getOrElse(0.0)
            var n = prev.map(_.n).getOrElse(0L)
            for (e <- sorted) {
              if (n == 0L) { l = e.value; p = 8.0 }
              else {
                val pp = p + 2.0
                val k = pp / (pp + 8.0)
                l = l + k * (e.value - l)
                p = (1.0 - k) * pp
              }
              n += 1
            }
            val upd = prev.map(_.updates).getOrElse(0L) + 1L
            st.update(KalmanState(l, p, n, upd))
            Iterator.single(KalmanUpdate(et, upd, n, l, p))
          }
      }
  }

  /** Per-key ONLINE EWMA (α = ½) via mapGroupsWithState semantics on
    * flatMapGroupsWithState: the level survives micro-batch boundaries
    * in the state store, each batch folds its own rows in deterministic
    * (ts, event_id) order on top of the carried level, and emits ONE
    * update row per key per batch — the smoothed-metric-at-ingest
    * pattern (the streaming twin of q_time_ewma's batch fold).
    *
    * Determinism contract: the in-batch fold order is (event time,
    * unique id) — arrival order within a batch never matters — and the
    * batch SPLIT is part of the query's fixture contract, so a SQL twin
    * can replay the exact double sequence (seed = first value,
    * step = (level + v)·½). State per key is one (level, n, updates)
    * triple: O(keys), independent of stream length. NoTimeout: the
    * level is a running model, not a window — keys retire with the
    * stream (add a ProcessingTimeTimeout eviction for unbounded key
    * spaces).
    */
  def ewmaWithState(events: Dataset[EwmaIn]): Dataset[EwmaUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EwmaIn], st: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val prev = st.getOption
            var level = prev.map(_.level).getOrElse(0.0)
            var n = prev.map(_.n).getOrElse(0L)
            for (e <- sorted) {
              level = if (n == 0L) e.value else (level + e.value) * 0.5
              n += 1
            }
            val upd = prev.map(_.updates).getOrElse(0L) + 1L
            st.update(EwmaState(level, n, upd))
            Iterator.single(EwmaUpdate(uid, upd, n, level))
          }
      }
  }

  case class BatchMetrics(batch_id: Long, input_rows: Long,
                          watermark_ms: Long)

  /** STREAMING OBSERVABILITY — the monitoring sidecar a production
    * ingest needs: per micro-batch input-row counts and the WATERMARK
    * each batch ran under, harvested from the engine's own
    * `StreamingQueryProgress` after the run. Watermark progression is
    * the telemetry that explains every silent late-row drop (a stuck
    * watermark = unbounded state; a runaway one = data loss), and it
    * is DETERMINISTIC given the batch split: batch N+1's watermark is
    * max event time of batch N minus the delay — which is exactly
    * what the q_stream_observed oracle replays. (The stateOperator
    * `numRowsDroppedByWatermark` counters are NOT used: Spark 4
    * filters late rows upstream of the aggregation/dedup operators,
    * so those counters read 0 for these shapes — verified empirically;
    * the silent-drop behavior itself is pinned by ObservedStreamSpec
    * on the sink contents.)
    *
    * The metrics table is assembled DRIVER-SIDE from per-progress
    * events delivered to a [[StreamingQueryListener]] registered for
    * the duration of the run — NOT from `query.recentProgress`, whose
    * ring buffer retains only the last
    * `spark.sql.streaming.numRecentProgressUpdates` entries (default
    * 100) and would silently drop the earliest batches of a longer
    * ingest (ADVICE r9). The listener accumulates O(batches) rows of
    * telemetry, never data (the documented exception class: bounded,
    * metadata-only); completion is synchronized on the query's own
    * terminated event so the async listener bus is fully drained
    * before the table is built. Batches that read no rows
    * (AvailableNow finalization ticks) are excluded — they carry no
    * ingest evidence.
    */
  def runWithBatchMetrics(spark: org.apache.spark.sql.SparkSession,
      writer: org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]): Dataset[BatchMetrics] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (java.util.UUID, BatchMetrics)]()
    // record EVERY terminated id and check membership afterwards — a
    // latch armed with q.id after start() races a fast query's
    // terminated event (delivered while the reference is still null,
    // the latch never counts down, every such run eats the full
    // timeout); recording unconditionally is race-free and the id
    // filter happens at read time, same as the progress rows
    // (ADVICE r10)
    val terminatedIds =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val wm = Option(p.eventTime.get("watermark"))
            .map(s => java.time.Instant.parse(s).toEpochMilli)
            .getOrElse(0L)
          seen.add((p.id, BatchMetrics(p.batchId, p.numInputRows, wm)))
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminatedIds.add(e.id); ()
      }
    }
    spark.streams.addListener(listener)
    try {
      val q = writer.start()
      q.awaitTermination()
      // the listener bus is async: wait for THIS query's terminated
      // event, which the bus posts after all its progress events. A
      // timeout means the bus never drained — building the table anyway
      // would silently drop batches (the exact failure this helper
      // exists to prevent), so fail loud instead.
      val deadlineNs = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!terminatedIds.contains(q.id) &&
          System.nanoTime() < deadlineNs) Thread.sleep(10)
      if (!terminatedIds.contains(q.id))
        throw new IllegalStateException(
          s"listener bus did not deliver terminated event for ${q.id} " +
            "within 60s; batch metrics would be incomplete")
      val qid = q.id
      import scala.jdk.CollectionConverters._
      seen.iterator().asScala.toSeq
        .collect { case (id, m) if id == qid => m }
        .sortBy(_.batch_id).toDS()
    } finally spark.streams.removeListener(listener)
  }

  case class ZIn(event_type: String, ts: java.sql.Timestamp,
                 event_id: Long, cents: Long)
  case class ZState(n: Long, sum: Long, sumsq: Long, alerts: Long,
                    updates: Long)
  case class ZUpdate(event_type: String, update_seq: Long,
                     n_so_far: Long, sum_cents: Long,
                     alerts_so_far: Long)

  /** STREAMING Z-SCORE ANOMALY MONITOR — per-key running moments
    * (n, Σv, Σv²) carried across micro-batches in exact integer cents;
    * an event alerts when it sits more than 3 sample deviations from
    * the mean of all PRIOR events (after an 8-event warmup). The
    * alert bit is an exact integer comparison evaluated in arbitrary
    * precision — (v·n − Σv)²·(n−1) > 9·n·(n·Σv² − (Σv)²) — so unlike
    * the EWMA exemplar there is NO float anywhere: state, emissions,
    * and verdicts are all integers, and the oracle replay is
    * bit-exact by construction rather than by IEEE-ordering
    * discipline.
    *
    * Determinism contract (the ewmaWithState pattern): in-batch fold
    * order is (event time, unique id); the batch split is part of the
    * fixture contract. State is O(keys) — five integers per key —
    * regardless of stream length; emission is one row per key per
    * batch. NoTimeout for the bounded key space (event types); an
    * unbounded key space would add ProcessingTimeTimeout eviction.
    */
  def zscoreWithState(events: Dataset[ZIn]): Dataset[ZUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[ZState, ZUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[ZIn], st: GroupState[ZState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val prev = st.getOption.getOrElse(ZState(0L, 0L, 0L, 0L, 0L))
            var (n, sum, sumsq, alerts) =
              (prev.n, prev.sum, prev.sumsq, prev.alerts)
            for (e <- sorted) {
              val v = e.cents
              if (n >= 8L) {
                val dev = BigInt(v) * n - BigInt(sum)
                val lhs = dev * dev * (n - 1)
                val rhs = BigInt(9) * n *
                  (BigInt(n) * sumsq - BigInt(sum) * sum)
                if (lhs > rhs) alerts += 1L
              }
              n += 1L; sum += v; sumsq += v * v
            }
            val upd = prev.updates + 1L
            st.update(ZState(n, sum, sumsq, alerts, upd))
            Iterator.single(ZUpdate(key, upd, n, sum, alerts))
          }
      }
  }

  case class CepIn(user_id: Long, ts: java.sql.Timestamp,
                   event_id: Long, event_type: String)
  case class CepState(n: Long, matches: Long, firstPos: Long,
                      firstLen: Long, cur: Int, curStart: Long,
                      updates: Long)
  case class CepUpdate(user_id: Long, update_seq: Long, seq_len: Long,
                       n_matches: Long, first_pos: Long, first_len: Long)

  /** STREAMING CEP — the `click (view)* purchase` pattern of
    * q_event_cep run as a cross-batch state machine
    * (flatMapGroupsWithState): per key the state is ONE partial-match
    * frame (position counter, current attempt start, match/first-match
    * bookkeeping — O(1) per key, independent of history length), each
    * batch folds its rows in deterministic (ts, event_id) order on top
    * of it, and one update row emits per key per batch.
    *
    * The transition function is exactly the regex's leftmost
    * non-overlapping semantics for this pattern class: only 'c' can
    * open an attempt, only 'v' extends one, 'p' closes it as a match,
    * a 'c' mid-attempt RESTARTS at the new position (the failed
    * attempt cannot contain a later start — everything between was
    * views), anything else aborts. So with per-key in-order batch
    * arrival the final update equals the batch regex evaluation — the
    * oracle is q_event_cep's own twin.
    */
  def cepWithState(events: Dataset[CepIn]): Dataset[CepUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, CepUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[CepIn], st: GroupState[CepState]) =>
          val sorted = rows.toSeq.sortBy(e => (toUs(e.ts), e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val s = st.getOption.getOrElse(
              CepState(0L, 0L, 0L, 0L, 0, 0L, 0L))
            var n = s.n; var matches = s.matches
            var firstPos = s.firstPos; var firstLen = s.firstLen
            var cur = s.cur; var curStart = s.curStart
            for (e <- sorted) {
              n += 1
              val c = e.event_type.charAt(0)
              if (cur == 1) {
                if (c == 'v') ()
                else if (c == 'p') {
                  matches += 1
                  if (firstPos == 0L) {
                    firstPos = curStart; firstLen = n - curStart + 1
                  }
                  cur = 0
                } else if (c == 'c') curStart = n
                else cur = 0
              } else if (c == 'c') { cur = 1; curStart = n }
            }
            val upd = s.updates + 1L
            st.update(CepState(n, matches, firstPos, firstLen, cur,
              curStart, upd))
            Iterator.single(
              CepUpdate(uid, upd, n, matches, firstPos, firstLen))
          }
      }
  }

  case class AsOfIn(k: Long, t: java.sql.Timestamp, side: Int, v: Long)
  case class AsOfBuf(lefts: List[(Long, Long)], rights: List[(Long, Long)])
  case class AsOfOut(k: Long, t: java.sql.Timestamp, lv: Long,
                     rv: Option[Long])

  /** STREAM-STREAM AS-OF JOIN via flatMapGroupsWithState — the
    * streaming form of the custom batch operator
    * (plans/SortMergeAsOfJoinExec): each left event (side=1) is
    * matched with the latest right event (side=0) at or before its
    * time, across micro-batch boundaries and arrival orders.
    *
    * Emission discipline: a left row is held in state until the
    * WATERMARK passes its event time — only then can no
    * within-watermark right row still arrive before it — and each
    * invocation ingests the batch's rows BEFORE emitting, so a right
    * row arriving in the same batch that the watermark releases a
    * left row still matches it. Every group re-registers an
    * event-time timeout at watermark+1, so held rows flush on the
    * first batch after the watermark passes them even if the key
    * receives no further data.
    *
    * State per key is O(out-of-orderness window), not O(stream):
    * pending lefts ≤ watermark emit and leave; of the rights at or
    * below the watermark only the LATEST is kept (it is the only one
    * a future in-contract left can still match — future lefts have
    * t > watermark).
    *
    * Contracts: input must be watermarked (`withLateness`) for
    * EventTimeTimeout; right (k, t) unique for deterministic matches
    * (ties resolve to max payload — the batch operator's
    * last-in-sort-order under a unique-time contract); rows later
    * than the watermark get best-effort matching (GC may already have
    * dropped their right candidates) — the standard streaming
    * lateness contract.
    */
  def streamAsOf(tagged: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import tagged.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    tagged.groupByKey(_.k)
      .flatMapGroupsWithState[AsOfBuf, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, rows: Iterator[AsOfIn], st: GroupState[AsOfBuf]) =>
          val prev = st.getOption.getOrElse(AsOfBuf(Nil, Nil))
          // ingest BEFORE emitting (same-batch rights can match
          // same-batch-released lefts)
          var lefts = prev.lefts
          var rights = prev.rights
          rows.foreach { r =>
            if (r.side == 1) lefts ::= (toUs(r.t), r.v)
            else rights ::= (toUs(r.t), r.v)
          }
          val wm = st.getCurrentWatermarkMs
          val (emit, hold) = lefts.partition(_._1 / 1000L <= wm)
          val out = emit.sortBy(e => (e._1, e._2)).map { case (t, lv) =>
            val m = rights.filter(_._1 <= t)
            AsOfOut(k, toTs(t), lv,
              if (m.isEmpty) None else Some(m.max._2))
          }
          // rights GC: latest at-or-below the watermark + all above
          val (below, above) = rights.partition(_._1 / 1000L <= wm)
          val kept = (if (below.isEmpty) Nil else List(below.max)) ::: above
          if (hold.isEmpty && kept.isEmpty) {
            // nothing buffered: drop the state entry entirely (new data
            // re-creates it) so aggregate state is O(keys with buffered
            // rows), not O(keys ever seen)
            st.remove()
          } else {
            st.update(AsOfBuf(hold, kept))
            // re-arm ONLY while lefts are held: the timer exists to
            // release them when the watermark passes without new data.
            // A rights-only entry needs no timer — re-arming one for
            // every key ever seen would fire every batch forever,
            // making per-batch cost O(all keys) instead of O(active).
            if (hold.nonEmpty) st.setTimeoutTimestamp(wm + 1L)
          }
          out.iterator
      }
  }

  /** Streaming upsert into a keyed parquet table via foreachBatch: each
    * micro-batch is merged with the current table state — new keys
    * appended, existing keys replaced by the latest row (max ts wins).
    * The pattern for continuously-deduplicated lake ingest when the sink
    * format has no native MERGE.
    *
    * PARTITION-SCOPED at scale: the table is laid out as
    * `bucket=<hash(key) mod buckets>` partitions, and a batch rewrites
    * ONLY the partitions containing its keys — untouched buckets are
    * neither read (partition pruning on the bucket dirs) nor written.
    * Per-batch cost is O(affected buckets + batch), not O(table): the
    * property that keeps continuous ingest viable when the table is
    * 100 TB and a batch touches a sliver of the key space. Size
    * `buckets` so one bucket ≈ a comfortable rewrite unit (table size /
    * buckets); a table format with real transactions (row-level MERGE)
    * would replace the per-partition swap.
    */
  def upsertSink(df: DataFrame, keyCol: String, tsCol: String,
                 tablePath: String, checkpoint: String,
                 buckets: Int = 16): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, keyCol, tsCol, tablePath, buckets)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming VERSIONED publish: every non-empty micro-batch commits
    * the running keyed state as a NEW immutable version via
    * LakeIO.writeVersioned (stage + atomic rename), so downstream
    * consumers time-travel across batch boundaries — each version is a
    * consistent snapshot, never a half-written table. The state
    * carried forward is "latest row per key" (max ts wins), merged
    * batch-over-batch from the previous version.
    *
    * Scale note: this publishes FULL snapshots — right when the keyed
    * state is dimension-sized (the common case for published marts).
    * For fact-sized state, compose `upsertSink`'s bucketed layout with
    * a manifest pointer instead; the version contract is the same.
    */
  def versionedSink(df: DataFrame, keyCol: String, tsCol: String,
                    tableDir: String, checkpoint: String): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val latestInBatch = batch
            .withColumn("_rn", org.apache.spark.sql.functions.row_number()
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy(col(keyCol))
                .orderBy(col(tsCol).desc, col(keyCol))))
            .filter(col("_rn") === 1).drop("_rn")
          val merged =
            try {
              val prev = graft.io.LakeIO.readVersion(spark, tableDir)
              prev.join(latestInBatch.select(col(keyCol)), Seq(keyCol),
                  "left_anti")
                .unionByName(latestInBatch)
            } catch {
              case _: java.util.NoSuchElementException => latestInBatch
            }
          // no self-race: the merge READS v=N while the publish stages
          // into _staging and commits v=N+1 — the source version is
          // never touched
          graft.io.LakeIO.writeVersioned(merged, tableDir)
          ()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One partition-scoped upsert merge (the foreachBatch body of
    * `upsertSink`, exposed for direct batch use and tests).
    *
    * Every affected partition is swapped with the rename-aside
    * discipline (same as LakeIO.compact): the live partition is never
    * deleted before its replacement is in place, rename() returns are
    * checked, and a failed swap rolls the partition back — a crash
    * leaves every partition complete (old or new, never absent). The
    * replaced-aside dir is dot-prefixed so readers' partition discovery
    * never sees it.
    */
  def upsertBatch(rawBatch: DataFrame, keyCol: String, tsCol: String,
                  tablePath: String, buckets: Int): Unit = {
    val spark = rawBatch.sparkSession
    val batch = rawBatch.withColumn("bucket",
      pmod(xxhash64(col(keyCol)), lit(buckets)).cast("int"))
    // bucket ids present in the batch: ≤ `buckets` ints — a bounded
    // driver-side action (partition bookkeeping), not a data collect
    val affected = batch.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return
    val dest = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read ONLY the affected bucket partitions of the current table
    val existingDirs = affected
      .map(b => new org.apache.hadoop.fs.Path(dest, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    val merged =
      if (existingDirs.isEmpty) batch
      else spark.read.option("basePath", tablePath)
        .parquet(existingDirs.toIndexedSeq: _*)
        .unionByName(batch, allowMissingColumns = true)
    import org.apache.spark.sql.expressions.Window
    val latest = merged.withColumn("_rn",
        row_number().over(Window.partitionBy(col(keyCol))
          .orderBy(col(tsCol).desc)))
      .filter(col("_rn") === 1).drop("_rn")
    swapAffectedBuckets(latest, tablePath, affected.toIndexedSeq)
  }

  /** Write `latest` (which must carry a `bucket` column limited to the
    * `affected` ids) partitioned by bucket, then swap each affected
    * partition into the live table with the rename-aside discipline
    * (see `upsertBatch` scaladoc: a crash leaves every partition
    * complete — old or new, never absent). Shared by every
    * partition-scoped foreachBatch sink.
    */
  private def swapAffectedBuckets(latest: DataFrame, tablePath: String,
                                  affected: Seq[Int]): Unit = {
    val spark = latest.sparkSession
    val dest = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      tablePath.stripSuffix("/") + "._staged")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // one file per bucket directory: repartition by the layout key
    // before the partitioned write (guide §8 step 4)
    latest.repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(tmp.toString)
    fs.mkdirs(dest)
    for (b <- affected) {
      val dPart = new org.apache.hadoop.fs.Path(dest, s"bucket=$b")
      val tPart = new org.apache.hadoop.fs.Path(tmp, s"bucket=$b")
      val oPart = new org.apache.hadoop.fs.Path(dest, s".replaced_bucket=$b")
      if (fs.exists(oPart)) {
        // Crash recovery, not cleanup: a crash between the dPart->oPart
        // and tPart->dPart renames leaves the aside copy as the ONLY
        // copy of the bucket. Restore it; only discard the aside when
        // the live partition survived (the swap completed last time).
        if (!fs.exists(dPart)) {
          if (!fs.rename(oPart, dPart))
            throw new java.io.IOException(
              s"swapAffectedBuckets: recovery rename $oPart -> $dPart failed")
        } else fs.delete(oPart, true)
      }
      val hadOld = fs.exists(dPart)
      if (hadOld && !fs.rename(dPart, oPart))
        throw new java.io.IOException(
          s"swapAffectedBuckets: rename $dPart -> $oPart failed")
      if (!fs.exists(tPart)) {
        // a batch can delete every key in a bucket: swap in "empty"
        if (hadOld) fs.delete(oPart, true)
      } else if (!fs.rename(tPart, dPart)) {
        if (hadOld) fs.rename(oPart, dPart) // roll back
        throw new java.io.IOException(
          s"swapAffectedBuckets: rename $tPart -> $dPart failed")
      } else if (hadOld) fs.delete(oPart, true)
    }
    fs.delete(tmp, true)
    ()
  }

  /** Streaming CDC-log compaction: continuously apply a
    * debezium-style change stream (key, seq, op ∈ {I,U,D}, attrs…) to
    * a keyed parquet state table — the incremental form of
    * `Merge.cdcApply`, which recomputes from the full log. The state
    * table stores each key's latest-applied (seq, op, attrs) — a
    * winning `D` persists as a TOMBSTONE row, not an absence, so a
    * late micro-batch carrying a lower-seq change can neither
    * overwrite newer state nor resurrect a deleted key (exactly the
    * full-recompute semantics). Read the live view with [[cdcState]].
    *
    * Partition-scoped like `upsertSink`: per batch, only the bucket
    * partitions containing the batch's keys are read and swapped —
    * O(affected buckets + batch) per batch, never O(table).
    * Same-seq redelivery is deterministic: `D` outranks a tied state
    * row, and a tied `U` is attribute-identical by the seq-uniqueness
    * contract (`Merge.cdcApply` scaladoc). At 100 TB, tombstones are
    * garbage: compact them away once the producer's max-lateness
    * horizon has passed their seq (a partition-scoped rewrite, same
    * swap discipline).
    */
  def cdcSink(stream: DataFrame, keyCol: String, seqCol: String,
              opCol: String, tablePath: String, checkpoint: String,
              buckets: Int = 16): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cdcBatch(batch, keyCol, seqCol, opCol, tablePath, buckets)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One incremental CDC application (the foreachBatch body of
    * `cdcSink`, exposed for direct batch use and tests).
    */
  def cdcBatch(rawBatch: DataFrame, keyCol: String, seqCol: String,
               opCol: String, tablePath: String, buckets: Int): Unit = {
    val spark = rawBatch.sparkSession
    val batch = rawBatch.withColumn("bucket",
      pmod(xxhash64(col(keyCol)), lit(buckets)).cast("int"))
    val affected = batch.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted // bounded: ≤ `buckets` ints
    if (affected.isEmpty) return
    val dest = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existingDirs = affected
      .map(b => new org.apache.hadoop.fs.Path(dest, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    // state rows (op column stored, D rows = tombstones) re-enter the
    // contest at their stored seq; on a same-seq redelivery tie the
    // asc op tiebreak lets a D beat a tied U deterministically
    val state =
      if (existingDirs.isEmpty) None
      else Some(spark.read.option("basePath", tablePath)
        .parquet(existingDirs.toIndexedSeq: _*))
    val merged = state.fold(batch)(_.unionByName(batch))
    import org.apache.spark.sql.expressions.Window
    val winner = merged.withColumn("_rn",
        row_number().over(Window.partitionBy(col(keyCol))
          .orderBy(col(seqCol).desc, col(opCol).asc)))
      .filter(col("_rn") === 1).drop("_rn")
    swapAffectedBuckets(winner, tablePath, affected.toIndexedSeq)
  }

  /** Streaming CONVERSION FUNNEL: maintain per-user (t1, t2, t3) — the
    * first step-1 event, the first step-2 event strictly after t1, the
    * first step-3 event strictly after t2 — incrementally across
    * micro-batches in a keyed parquet state table, partition-scoped
    * like [[upsertSink]] (a batch reads/swaps only the buckets holding
    * its users). Funnel rollups then read the summary table
    * (O(users), never O(events)).
    *
    * ORDERED-BATCH CONTRACT: batches must arrive in non-decreasing
    * event-time order (each batch's events at or after everything
    * already applied — the natural layout of log ingestion). Under it
    * the chained-min summary merge equals a full recompute: a new
    * batch can never contain an event EARLIER than an applied one, so
    * a summary slot, once set, is final. Out-of-order feeds need the
    * buffering form (the sessionizeWithState discipline) instead —
    * summaries are lossy under reordering, which is why this contract
    * is stated rather than assumed.
    */
  def funnelSink(events: DataFrame, userCol: String, tsCol: String,
                 typeCol: String, steps: Seq[String], tablePath: String,
                 checkpoint: String, buckets: Int = 16): Unit = {
    val q = events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        funnelBatch(batch, userCol, tsCol, typeCol, steps, tablePath,
          buckets)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One incremental funnel merge (the foreachBatch body of
    * [[funnelSink]], exposed for direct batch use and tests).
    */
  def funnelBatch(rawBatch: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String], tablePath: String,
                  buckets: Int): Unit = {
    require(steps.size == 3, "funnelBatch tracks a three-step funnel")
    val spark = rawBatch.sparkSession
    val batch = rawBatch
      .filter(col(userCol).isNotNull)
      .select(col(userCol).as("user_id"), col(tsCol).as("ts"),
        col(typeCol).as("et"))
      .withColumn("bucket",
        pmod(xxhash64(col("user_id")), lit(buckets)).cast("int"))
    val affected = batch.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted // bounded: ≤ `buckets` ints
    if (affected.isEmpty) return
    val dest = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existingDirs = affected
      .map(b => new org.apache.hadoop.fs.Path(dest, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    val state =
      if (existingDirs.isEmpty)
        spark.emptyDataFrame
          .withColumn("user_id", lit(0L)).withColumn("t1",
            lit(null).cast("timestamp"))
          .withColumn("t2", lit(null).cast("timestamp"))
          .withColumn("t3", lit(null).cast("timestamp"))
          .limit(0)
      else spark.read.option("basePath", tablePath)
        .parquet(existingDirs.toIndexedSeq: _*)
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
    // chained seeded mins: each slot keeps its state value (final under
    // the ordered contract) or takes the batch's earliest qualifying
    // event given the PREVIOUS slot's merged value
    val s1 = batch.filter(col("et") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("m1"))
    val t1 = state.join(s1, Seq("user_id"), "full_outer")
      .select(col("user_id"), least(col("t1"), col("m1")).as("t1"),
        col("t2"), col("t3"))
    val s2 = batch.filter(col("et") === steps(1))
      .join(t1.select(col("user_id"), col("t1")), "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("m2"))
    val t2 = t1.join(s2, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"),
        coalesce(col("t2"), col("m2")).as("t2"), col("t3"))
    val s3 = batch.filter(col("et") === steps(2))
      .join(t2.select(col("user_id"), col("t2")), "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("m3"))
    val merged = t2.join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"),
        coalesce(col("t3"), col("m3")).as("t3"))
      .withColumn("bucket",
        pmod(xxhash64(col("user_id")), lit(buckets)).cast("int"))
    swapAffectedBuckets(merged, tablePath, affected.toIndexedSeq)
  }

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
                         event_type: String)
  case class FunnelBuf(evs: List[(Long, String)])
  case class FunnelSteps(user_id: Long, steps: Int, n_seen: Long)

  /** OUT-OF-ORDER-tolerant streaming funnel — the buffering form for
    * feeds that violate [[funnelSink]]'s ordered-batch contract: each
    * user's step events accumulate in state (any batch order, any
    * within-batch order — NoTimeout means no watermark ever drops a
    * late event) and the strict-order chained-min funnel is recomputed
    * over the time-sorted buffer on every update. Emits the RUNNING
    * result (user_id, steps ∈ 0..3, n_seen); downstream takes each
    * user's row with the largest n_seen (strictly increasing per
    * update), so the last update wins deterministically — see
    * [[funnelRunningRollup]].
    *
    * State is O(that user's step events) — the price of unbounded
    * reorder tolerance; the summary form ([[funnelSink]]) is O(1)/user
    * under its ordered contract, and a watermark-bounded variant of
    * THIS form would trade tolerance horizon for state GC.
    */
  def funnelRunning(events: Dataset[FunnelEvent],
                    steps: Seq[String]): Dataset[FunnelSteps] = {
    require(steps.size == 3, "funnelRunning tracks a three-step funnel")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupState
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelBuf, FunnelSteps](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], st: GroupState[FunnelBuf]) =>
          val prev = st.getOption.map(_.evs).getOrElse(Nil)
          val add = rows.filter(e => steps.contains(e.event_type))
            .map(e => (toUs(e.ts), e.event_type)).toList
          val buf = add ::: prev
          st.update(FunnelBuf(buf))
          var (t1, t2, t3) = (Long.MaxValue, Long.MaxValue, Long.MaxValue)
          buf.sorted.foreach { case (t, et) =>
            if (et == steps.head && t < t1) t1 = t
            else if (et == steps(1) && t1 < Long.MaxValue && t > t1 &&
              t2 == Long.MaxValue) t2 = t
            else if (et == steps(2) && t2 < Long.MaxValue && t > t2 &&
              t3 == Long.MaxValue) t3 = t
          }
          val n = if (t3 < Long.MaxValue) 3
            else if (t2 < Long.MaxValue) 2
            else if (t1 < Long.MaxValue) 1 else 0
          FunnelSteps(uid, n, buf.size.toLong)
      }
  }

  /** Rollup for [[funnelRunning]]'s update stream: keep each user's
    * row with the largest n_seen (the final state), then the funnel's
    * (step, n, conv_ppm) shape.
    */
  def funnelRunningRollup(updates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val last = updates.withColumn("_rn",
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("n_seen").desc)))
      .filter(col("_rn") === 1)
    val counts = last.agg(count(when(col("steps") >= 1, 1)).as("n"))
      .withColumn("step", lit(1))
      .unionByName(last.agg(count(when(col("steps") >= 2, 1)).as("n"))
        .withColumn("step", lit(2)))
      .unionByName(last.agg(count(when(col("steps") >= 3, 1)).as("n"))
        .withColumn("step", lit(3)))
    counts.crossJoin(broadcast(
        last.agg(count(when(col("steps") >= 1, 1)).as("n1"))))
      .select(col("step"), col("n"),
        expr("n * 1000000 div n1").as("conv_ppm"))
      .orderBy(col("step"))
  }

  /** Funnel rollup over a [[funnelSink]] state table: (step, n,
    * conv_ppm vs step 1) — the batch funnel's output shape from
    * O(users) summaries.
    */
  def funnelRollup(spark: org.apache.spark.sql.SparkSession,
                   tablePath: String): DataFrame = {
    val st = spark.read.parquet(tablePath)
    val counts = st.agg(count(col("t1")).as("n")).withColumn("step", lit(1))
      .unionByName(
        st.agg(count(col("t2")).as("n")).withColumn("step", lit(2)))
      .unionByName(
        st.agg(count(col("t3")).as("n")).withColumn("step", lit(3)))
    counts.crossJoin(broadcast(st.agg(count(col("t1")).as("n1"))))
      .select(col("step"), col("n"),
        expr("n * 1000000 div n1").as("conv_ppm"))
      .orderBy(col("step"))
  }

  /** Live view of a [[cdcSink]] state table: tombstones filtered, the
    * bookkeeping columns (seq, op, bucket) dropped — the same shape
    * `Merge.cdcApply` returns from a full-log recompute.
    */
  def cdcState(spark: org.apache.spark.sql.SparkSession,
               tablePath: String, seqCol: String, opCol: String)
      : DataFrame =
    spark.read.parquet(tablePath)
      .filter(col(opCol) =!= "D")
      .drop(seqCol, opCol, "bucket")

  /** Tombstone GC for a [[cdcSink]] state table: rewrite every bucket
    * dropping `D` rows with seq ≤ `horizon`. The horizon is the
    * producer's max-lateness bound — once no change below it can still
    * arrive, its tombstones carry no information. Runs under the same
    * partition-swap discipline as the sink itself (crash ⇒ every
    * bucket complete, old or new). A tombstone ABOVE the horizon
    * stays: it is still fencing possible late arrivals.
    */
  def cdcCompact(spark: org.apache.spark.sql.SparkSession,
                 tablePath: String, seqCol: String, opCol: String,
                 horizon: Long): Unit = {
    val dest = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dest)) return
    val buckets = fs.listStatus(dest).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt).sorted
    if (buckets.isEmpty) return
    val kept = spark.read.parquet(tablePath)
      .filter(col(opCol) =!= "D" || col(seqCol) > horizon)
    swapAffectedBuckets(kept, tablePath, buckets)
  }

  /** Streaming INCREMENTAL AGGREGATION sink (materialized-view
    * maintenance for distributive aggregates): each micro-batch's
    * partial per-key (count, sum) merges into a keyed state table by
    * ADDITION — the state never re-reads source data, so per-batch
    * cost is O(batch + affected buckets) while a naive recompute is
    * O(history). Works for any aggregate with a commutative monoid
    * merge (count/sum/min/max follow the same shape); sums use
    * caller-provided INTEGER columns (fixed-point-scale money first —
    * see Exact.scala) so incremental addition is order-independent and
    * bit-equal to a one-shot recompute.
    *
    * This is the streaming twin of `groupBy(key).agg(...)`: parity
    * (streamed state == batch recompute) is spec-pinned and
    * oracle-checked by q_stream_agg_upsert.
    */
  def aggSink(stream: DataFrame, keyCols: Seq[String], sumCols: Seq[String],
              tablePath: String, checkpoint: String,
              buckets: Int = 16): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        aggBatch(batch, keyCols, sumCols, tablePath, buckets)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One incremental aggregation merge (the foreachBatch body of
    * `aggSink`). State schema: keys…, cnt, sum_<c>…, bucket.
    */
  def aggBatch(rawBatch: DataFrame, keyCols: Seq[String],
               sumCols: Seq[String], tablePath: String,
               buckets: Int): Unit = {
    val spark = rawBatch.sparkSession
    val aggs = count(lit(1)).as("cnt") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    val partial = rawBatch.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket",
        pmod(xxhash64(keyCols.map(col): _*), lit(buckets)).cast("int"))
    val affected = partial.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted // bounded: ≤ `buckets` ints
    if (affected.isEmpty) return
    val dest = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existingDirs = affected
      .map(b => new org.apache.hadoop.fs.Path(dest, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    val merged =
      if (existingDirs.isEmpty) partial
      else {
        val mergeAggs = sum(col("cnt")).as("cnt") +:
          sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c"))
        spark.read.option("basePath", tablePath)
          .parquet(existingDirs.toIndexedSeq: _*)
          .unionByName(partial)
          .groupBy((keyCols :+ "bucket").map(col): _*)
          .agg(mergeAggs.head, mergeAggs.tail: _*)
      }
    swapAffectedBuckets(merged, tablePath, affected.toIndexedSeq)
  }

  /** Streaming SCD-2 dimension maintenance: each micro-batch of
    * dimension updates is folded into a partitioned history table with
    * `Merge.scd2` — current versions close, fresh keys insert,
    * no-op updates emit nothing. Batch contract matches `Merge.scd2`:
    * at most one change per key per micro-batch reaches history (a
    * multi-change batch is pre-collapsed to its latest state by
    * `tsCol`); finer-grained history wants smaller trigger intervals.
    *
    * Partition-scoped: a batch reads and swaps only the bucket
    * partitions holding its keys' FULL version history (closed rows
    * pass through `Merge.scd2` untouched; they are rewritten but not
    * joined). O(affected buckets + batch) I/O per batch.
    */
  def scd2Sink(stream: DataFrame, keys: Seq[String], tsCol: String,
               tablePath: String, checkpoint: String,
               buckets: Int = 16): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scd2Batch(batch, keys, tsCol, tablePath, buckets)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One incremental SCD-2 fold (the foreachBatch body of `scd2Sink`,
    * exposed for direct batch use and tests).
    */
  def scd2Batch(rawBatch: DataFrame, keys: Seq[String], tsCol: String,
                tablePath: String, buckets: Int): Unit = {
    val spark = rawBatch.sparkSession
    val bucketOf = pmod(xxhash64(keys.map(col): _*), lit(buckets))
      .cast("int")
    import org.apache.spark.sql.expressions.Window
    val latest = rawBatch.withColumn("_rn",
        row_number().over(Window.partitionBy(keys.map(col): _*)
          .orderBy(col(tsCol).desc)))
      .filter(col("_rn") === 1).drop("_rn")
    val batch = latest.withColumn("bucket", bucketOf)
    val affected = batch.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted // bounded: ≤ `buckets` ints
    if (affected.isEmpty) return
    val dest = new org.apache.hadoop.fs.Path(tablePath)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existingDirs = affected
      .map(b => new org.apache.hadoop.fs.Path(dest, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    val attrs = rawBatch.columns
      .filterNot(keys.toSet + tsCol).toSeq
    val history =
      if (existingDirs.nonEmpty)
        spark.read.option("basePath", tablePath)
          .parquet(existingDirs.toIndexedSeq: _*).drop("bucket")
      else latest.select((keys ++ attrs).map(col): _*).limit(0)
        .withColumn("valid_from", lit(null).cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
    val folded = graft.ops.Merge
      .scd2(history, batch.drop("bucket"), keys, tsCol)
      .withColumn("bucket", bucketOf)
    swapAffectedBuckets(folded, tablePath, affected.toIndexedSeq)
  }

  /** Streaming corpus ingestion with cross-batch NEAR-dedup — the
    * LLM-training-data front door: each micro-batch of documents is
    * near-deduped (MinHash-LSH) against the already-accepted corpus AND
    * within itself, and only survivors append.
    *
    * Batch-internal policy is greedy by id (the smaller id of a dup
    * pair survives) — cheap and deterministic; chains collapse to their
    * min-id representative only when pairs overlap, which is the
    * standard streaming-ingest trade (full transitive clustering is the
    * batch `dedupComponents` operator).
    *
    * Scale shape: the accepted corpus's minhash SIGNATURES persist as
    * an incremental index (`<corpusPath>._sigs`, 32 longs per doc)
    * maintained in the same per-batch transaction — each batch pays
    * shingling only for ITSELF; the corpus side is a straight read of
    * the index, and the candidate join shuffles band keys and id
    * pairs, never documents.
    */
  /** STREAMING INGEST INTO A DATA-SKIPPING-INDEXED LAKE LAYOUT
    * ([[graft.io.Skipping]]): each micro-batch appends its rows into
    * the `bucket = keyCol div step` directories AND folds the batch's
    * per-bucket stats into the sidecar in the same transaction.
    * min / max / count / bloom-OR are associative and commutative, so
    * the incremental sidecar is EXACTLY the from-scratch sidecar over
    * the union — lookups after any number of batches prune identically
    * to a batch-built layout (the q_stream_skip_ingest oracle replays
    * the whole construction; FileStreamSpec pins the transaction
    * semantics).
    *
    * Write ordering is the SOUND direction: the merged sidecar goes
    * live (staged write + compactSidecar's atomic two-rename swap)
    * BEFORE the data append. A crash in between leaves stats that
    * over-approximate the layout — lookups scan an extra bucket and
    * find nothing. The reverse order could leave appended rows the
    * sidecar doesn't know about — pruning would silently MISS them.
    * On restart the batch replays: re-merging the same batch stats is
    * idempotent for min/max/bloom, and the data append runs through
    * [[appendExactlyOnce]]'s stage-and-tag-rename protocol — a crash
    * after the append job but before the checkpoint commit (the
    * at-least-once window of a naive foreachBatch append) replays by
    * clearing this batch's tagged files and re-landing them, so the
    * layout holds each batch's rows exactly once. `n_rows` is
    * diagnostic only (pruning never reads it) and may double-count
    * across a crash-replay — documented, not load-bearing.
    * A missing sidecar NEXT TO an existing layout is inconsistent
    * state and ABORTS (dedupIngest's discipline — a crashed swap or an
    * operator delete must not degrade into unsound pruning).
    */
  def skipIngest(stream: DataFrame, keyCol: String, bloomCol: String,
                 tableDir: String, checkpoint: String,
                 step: Long): Unit = {
    import graft.io.Skipping
    val dataPath = Skipping.dataDir(tableDir)
    val statsPath = Skipping.statsDir(tableDir)
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.withColumn("_bucket", expr(s"$keyCol div $step"))
        graft.ops.CacheScope.scoped {
          val bStats = graft.ops.CacheScope.cached(
            Skipping.statsFor(b, keyCol, bloomCol))
          val old =
            try Some(spark.read.parquet(statsPath))
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if e.getMessage != null &&
                     e.getMessage.contains("PATH_NOT_FOUND") &&
                     !pathExists(spark, dataPath) => None
              case _: java.io.FileNotFoundException
                  if !pathExists(spark, dataPath) => None
            }
          val merged = old.map(Skipping.mergeStats(_, bStats))
            .getOrElse(bStats)
          val conf = spark.sparkContext.hadoopConfiguration
          val live = new org.apache.hadoop.fs.Path(statsPath)
          val fs = live.getFileSystem(conf)
          val tmp = new org.apache.hadoop.fs.Path(statsPath + ".new.tmp")
          val oldGen = new org.apache.hadoop.fs.Path(statsPath + ".old")
          fs.delete(tmp, true)
          fs.delete(oldGen, true)
          merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          if (fs.exists(live) && !fs.rename(live, oldGen))
            throw new java.io.IOException(
              s"skipIngest: cannot move $live aside")
          if (!fs.rename(tmp, live))
            throw new java.io.IOException(
              s"skipIngest: cannot activate $tmp")
          fs.delete(oldGen, true)
          // sidecar is live and covers the batch → now land the data,
          // exactly once even across a crash-replay
          appendExactlyOnce(b, dataPath, batchId, Some("_bucket"))
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  def dedupIngest(stream: DataFrame, idCol: String, textCol: String,
                  corpusPath: String, checkpoint: String,
                  threshold: Double = 0.9): Unit = {
    val sigPath = corpusPath.stripSuffix("/") + "._sigs"
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.ops.CacheScope.scoped {
          val bSigs = graft.ops.CacheScope.cached(
            graft.ops.Dedup.minhashSignatures(batch, idCol, textCol,
              k = 5, numHashes = 32))
          // Empty-corpus fallback is ONLY for the true first batch: the
          // sidecar doesn't exist AND neither does the corpus. A missing
          // sidecar NEXT TO an existing corpus is inconsistent state (a
          // crashed compaction, an operator delete) and must abort — as
          // must any other failure (corrupt footer, transient FS error):
          // treating either as "empty corpus" would silently re-admit
          // every duplicate.
          val cSigs =
            try spark.read.parquet(sigPath)
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if e.getMessage != null &&
                     e.getMessage.contains("PATH_NOT_FOUND") &&
                     !pathExists(spark, corpusPath) =>
                bSigs.limit(0)
              case _: java.io.FileNotFoundException
                  if !pathExists(spark, corpusPath) => bSigs.limit(0)
            }
          val pairs = graft.ops.Dedup.minhashPairsFromSigs(
            cSigs, bSigs, bands = 8, rowsPerBand = 4,
            threshold = threshold)
          // id_b is always a batch doc (corpus-batch pairs), and the
          // larger id of a batch-batch pair — dropping id_b keeps the
          // accepted/earlier side. Anti-joins, never a driver collect.
          val dropIds = graft.ops.CacheScope.cached(
            pairs.select(col("id_b").as(idCol)).distinct())
          val survivors = batch.join(dropIds, Seq(idCol), "left_anti")
          survivors.write.mode("append").parquet(corpusPath)
          // the index update is the same transaction's second write
          bSigs.join(dropIds.select(col(idCol).as("id")), Seq("id"),
              "left_anti")
            .write.mode("append").parquet(sigPath)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming corpus ingestion with cross-batch CHAR-LEVEL near-dedup
    * — the winnowing twin of [[dedupIngest]]: each micro-batch's
    * documents are fingerprinted by winnowing (Schleimer et al.,
    * SIGMOD'03; k=8, w=4 — the batch winnow family's parameters), and
    * a document sharing ≥ `minSharedFp` selected fingerprints with the
    * accepted corpus or an earlier batch doc is rejected. Catches
    * boilerplate/substring-level duplication that token-shingle MinHash
    * under-weights.
    *
    * Same transaction discipline as dedupIngest: the accepted corpus's
    * winnow fingerprints persist as an incremental sidecar
    * (`<corpusPath>._wfps`, one (id, fp) row per selected fingerprint)
    * appended in the same per-batch transaction — each batch hashes
    * only ITSELF (map-side, linear per doc); the corpus side is a
    * straight read of the sidecar, and the candidate join shuffles
    * (fp, id) longs, never documents. The df-cap (fingerprints in
    * > `dfCap` docs are ignored — boilerplate carries no similarity
    * signal) bounds the join to Σ df² ≤ cap · Σ df exactly as in the
    * batch family.
    *
    * A missing sidecar means FIRST batch only; any other read failure
    * (corrupt footer, transient FS error) aborts the batch — treating
    * it as "empty corpus" would silently re-admit every duplicate.
    */
  def winnowIngest(stream: DataFrame, idCol: String, textCol: String,
                   corpusPath: String, checkpoint: String,
                   minSharedFp: Int = 40, dfCap: Int = 50): Unit = {
    val fpPath = corpusPath.stripSuffix("/") + "._wfps"
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.ops.CacheScope.scoped {
          val bFps = graft.ops.CacheScope.cached(
            graft.ops.TextAnalysis.winnowFingerprints(
              batch.select(col(idCol).as("doc_id"),
                col(textCol).as("text")))
              .select(col("doc_id").as("id"), col("fp")))
          // same first-batch-only fallback discipline as dedupIngest: a
          // sidecar missing NEXT TO an existing corpus aborts
          val cFps =
            try spark.read.parquet(fpPath)
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if e.getMessage != null &&
                     e.getMessage.contains("PATH_NOT_FOUND") &&
                     !pathExists(spark, corpusPath) =>
                bFps.limit(0)
              case _: java.io.FileNotFoundException
                  if !pathExists(spark, corpusPath) => bFps.limit(0)
            }
          // df-cap over everything visible this batch (corpus ∪ batch),
          // mirroring the batch family's corpus-wide cap
          val rare = cFps.unionByName(bFps)
            .groupBy(col("fp")).agg(count(lit(1)).as("df"))
            .filter(col("df").between(2, dfCap)).select(col("fp"))
          val cRare = cFps.join(rare, "fp")
          val bRare = bFps.join(rare, "fp")
          val corpusBatch = cRare
            .select(col("fp"), col("id").as("id_a"))
            .join(bRare.select(col("fp"), col("id").as("id_b")), "fp")
          val batchBatch = bRare
            .select(col("fp"), col("id").as("id_a"))
            .join(bRare.select(col("fp"), col("id").as("id_b")), "fp")
            .filter(col("id_a") < col("id_b"))
          // id_b is always a batch doc; corpus/earlier side survives
          val dropIds = graft.ops.CacheScope.cached(
            corpusBatch.unionByName(batchBatch)
              .groupBy(col("id_a"), col("id_b"))
              .agg(count(lit(1)).as("n_shared_fp"))
              .filter(col("n_shared_fp") >= minSharedFp)
              .select(col("id_b").as(idCol)).distinct())
          val survivors = batch.join(dropIds, Seq(idCol), "left_anti")
          survivors.write.mode("append").parquet(corpusPath)
          // the sidecar update is the same transaction's second write
          bFps.join(dropIds.select(col(idCol).as("id")), Seq("id"),
              "left_anti")
            .write.mode("append").parquet(fpPath)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming DRIFT MONITOR at ingest — the PSI front door: the first
    * micro-batch becomes the REFERENCE distribution (per-key rank-
    * selected value deciles + per-cell counts, persisted as a sidecar
    * `<corpusPath>._psiref` in the batch's own transaction, exactly the
    * [[dedupIngest]] sidecar discipline), and every batch — including
    * the first, whose score is exactly 0 — is scored against it:
    * Population Stability Index over the reference's decile cells with
    * add-one smoothing across ALL size(bs)+1 cells (the streaming probe
    * must stay finite when a batch misses cells entirely — the batch
    * twin q_stat_psi smooths over observed cells only, which is fine
    * when ref and fresh are aggregated together). Verdicts use the
    * standard thresholds (<0.1 stable, <0.25 watch, else action); one
    * (batch_id, key, n_rows, psi_r6, verdict) row appends to
    * `<corpusPath>._psilog` per batch per key, and the batch itself
    * appends to the corpus — monitoring, not gating.
    *
    * Scale shape: the sidecar is ≤ (keys · 10) longs — broadcast-sized
    * at any corpus scale; each batch pays one bucket-count aggregate of
    * itself. The PSI fold runs cell-by-cell in ascending bucket order
    * (an explicit HOF fold, not a float SUM), so the DuckDB replay is
    * bit-identical.
    *
    * A missing sidecar means FIRST batch only (same rule as the dedup
    * front doors): missing NEXT TO an existing corpus — or any other
    * read failure — aborts the batch rather than silently re-baselining
    * the monitor on drifted data.
    */
  def psiIngest(stream: DataFrame, keyCol: String, valueCol: String,
                corpusPath: String, checkpoint: String): Unit = {
    val refPath = corpusPath.stripSuffix("/") + "._psiref"
    val logPath = corpusPath.stripSuffix("/") + "._psilog"
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        graft.ops.CacheScope.scoped {
          val vals = graft.ops.CacheScope.cached(
            batch.select(col(keyCol).as("t"), col(valueCol).as("v"))
              .filter(col("v").isNotNull))
          def buildReference(): Unit = {
            // FIRST batch: its deciles + cell counts become the
            // reference, written in this batch's transaction
            val w = Window.partitionBy(col("t")).orderBy(col("v"))
            val bounds = vals
              .withColumn("rk", row_number().over(w))
              .withColumn("n", count(lit(1)).over(
                Window.partitionBy(col("t"))))
              .filter((1 to 9).map(i => col("rk") ===
                ceil(col("n") * i / 10.0).cast("long"))
                .reduce(_ || _))
              .groupBy(col("t"))
              .agg(expr("sort_array(collect_set(v))").as("bs"))
            vals.join(broadcast(bounds), "t")
              .withColumn("bucket",
                expr("size(filter(bs, b -> v > b))"))
              .groupBy(col("t"), col("bucket"))
              .agg(count(lit(1)).as("cnt"))
              .groupBy(col("t"))
              .agg(expr("map_from_entries(collect_list(" +
                "struct(bucket, cnt)))").as("m"))
              .join(bounds, "t")
              .select(col("t"), col("bs"),
                expr("transform(sequence(0, size(bs)), " +
                  "b -> coalesce(element_at(m, b), 0L))").as("cr"))
              .write.mode("overwrite").parquet(refPath)
          }
          val ref =
            try spark.read.parquet(refPath)
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if e.getMessage != null &&
                     e.getMessage.contains("PATH_NOT_FOUND") &&
                     !pathExists(spark, corpusPath) =>
                buildReference(); spark.read.parquet(refPath)
              case _: java.io.FileNotFoundException
                  if !pathExists(spark, corpusPath) =>
                buildReference(); spark.read.parquet(refPath)
            }
          val scored = vals.join(broadcast(ref), "t")
            .withColumn("bucket", expr("size(filter(bs, b -> v > b))"))
            .groupBy(col("t"), col("bs"), col("cr"), col("bucket"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy(col("t"), col("bs"), col("cr"))
            .agg(expr("map_from_entries(collect_list(" +
              "struct(bucket, cnt)))").as("m"),
              sum(col("cnt")).as("tf"))
            .select(col("t"), col("cr"), col("tf"),
              expr("transform(sequence(0, size(bs)), " +
                "b -> coalesce(element_at(m, b), 0L))").as("cf"))
            .withColumn("tr", expr(
              "aggregate(cr, CAST(0 AS BIGINT), (s, x) -> s + x)"))
            // explicit ascending-cell fold — deterministic fp order
            .withColumn("psi_r6", round(expr(
              """aggregate(sequence(1, size(cr)), CAST(0.0 AS DOUBLE),
                |  (acc, i) -> acc +
                |    ((element_at(cr, i) + 1) / CAST(tr + size(cr)
                |        AS DOUBLE)
                |      - (element_at(cf, i) + 1) / CAST(tf + size(cr)
                |        AS DOUBLE)) *
                |    ln(((element_at(cr, i) + 1) / CAST(tr + size(cr)
                |        AS DOUBLE)) /
                |      ((element_at(cf, i) + 1) / CAST(tf + size(cr)
                |        AS DOUBLE))))""".stripMargin), 6))
            .select(lit(batchId).as("batch_id"), col("t").as(keyCol),
              col("tf").as("n_rows"), col("psi_r6"),
              when(col("psi_r6") < 0.1, "stable")
                .when(col("psi_r6") < 0.25, "watch")
                .otherwise("action").as("verdict"))
          // both appends land exactly once across crash-replays (the
          // scored rows are deterministic given the batch, so the
          // staged redo is byte-identical)
          appendExactlyOnce(scored, logPath, batchId)
          // corpus append is the same transaction's second write
          appendExactlyOnce(batch, corpusPath, batchId)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def pathExists(spark: org.apache.spark.sql.SparkSession,
                         p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** EXACTLY-ONCE per-batch data append for foreachBatch sinks.
    *
    * A plain `mode("append")` inside foreachBatch is only
    * at-least-once: a crash after the append job commits but before
    * the streaming checkpoint records the batch makes the replay
    * append the batch's rows a SECOND time (ADVICE r9, medium). This
    * helper closes that window with a stage-then-tag-rename protocol:
    *
    *  1. the batch writes to a batch-id-named staging dir with
    *     `mode("overwrite")` — re-execution overwrites, never doubles;
    *  2. any live files carrying this batch's tag (`b<batchId>-…`) are
    *     deleted — they are a partial prior attempt, and the replayed
    *     batch is byte-deterministic (checkpointed source offsets), so
    *     re-landing them is a pure redo;
    *  3. staged files rename into the live layout under the tag.
    *
    * At any post-completion point the live layout holds each batch's
    * rows exactly once: replays redo steps 1–3 idempotently, and a
    * crash inside step 3 is cleaned by the next attempt's step 2.
    * Renames are single metadata ops on HDFS-class filesystems; on an
    * S3-class store step 3 is a bounded copy of this batch's files
    * only. `partitionCol` mirrors the writer's `partitionBy` — staged
    * partition dirs land into the matching live partition dirs.
    */
  private[graft] def appendExactlyOnce(b: DataFrame, dataPath: String,
      batchId: Long, partitionCol: Option[String] = None): Unit = {
    val conf = b.sparkSession.sparkContext.hadoopConfiguration
    val dest = new org.apache.hadoop.fs.Path(dataPath)
    val fs = dest.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(
      dataPath.stripSuffix("/") + s"._staging/batch=$batchId")
    val w = b.write.mode("overwrite")
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(staging.toString)
    val tag = s"b$batchId-"
    // (stagingLeafDir, liveLeafDir) pairs: either the staging root
    // itself (unpartitioned) or its <col>=<value> partition subdirs
    val leaves: Seq[(org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.Path)] = {
      // partition dirs are `<col>=<value>` — match on the `=` rather
      // than excluding `_`-prefixed names, because the partition column
      // itself may be `_`-prefixed (skipIngest's `_bucket=N`)
      val subdirs = fs.listStatus(staging).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.contains("="))
      if (subdirs.isEmpty) Seq((staging, dest))
      else subdirs.toSeq.map(d =>
        (d, new org.apache.hadoop.fs.Path(dest, d.getName)))
    }
    // step 2 sweeps this batch's tag across ALL live leaf dirs (root +
    // every partition subdir), not just the partitions the current
    // replay staged: if a crashed attempt landed tagged files in a
    // partition this replay doesn't produce, restricting the sweep to
    // the staged set would leave those orphans behind as duplicate rows
    // (ADVICE r10). One extra bounded listing of dest's children.
    val liveLeaves: Seq[org.apache.hadoop.fs.Path] =
      if (!fs.exists(dest)) Seq.empty
      else dest +: fs.listStatus(dest).filter(_.isDirectory)
        .map(_.getPath).filter(_.getName.contains("=")).toSeq
    for (live <- liveLeaves;
         f <- fs.listStatus(live) if f.getPath.getName.startsWith(tag))
      fs.delete(f.getPath, false)
    for ((staged, live) <- leaves) {
      fs.mkdirs(live)
      for (f <- fs.listStatus(staged)
           if f.getPath.getName.endsWith(".parquet"))
        if (!fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(live, tag + f.getPath.getName)))
          throw new java.io.IOException(
            s"appendExactlyOnce: cannot land ${f.getPath} into $live")
    }
    fs.delete(staging.getParent, true)
  }

  /** Compact an ingest sidecar (dedupIngest's `._sigs`, winnowIngest's
    * `._wfps`): every micro-batch appends one (or more) small parquet
    * files, so after N batches the sidecar is N tiny files — the
    * classic streaming small-files problem, and at 100 TB the listing
    * + footer overhead alone would dominate the per-batch corpus read.
    * Compaction rewrites the sidecar as `numFiles` full-size files
    * (size for ~128 MB each at scale) with a rename-based swap:
    * write `<path>.compact.tmp` → rename live aside → rename tmp in →
    * delete the old generation. Run it between batches (the ingest
    * query owns the sidecar during a batch).
    *
    * Crash safety: each rename is a single metadata op on HDFS-class
    * filesystems; if a crash lands between the two renames, the live
    * path is MISSING while the corpus exists — a state both ingest
    * front doors now refuse to run from (they abort rather than treat
    * it as an empty corpus), so an interrupted compaction can never
    * silently re-admit duplicates: the `.compact.old` / `.compact.tmp`
    * generation is still on disk for the operator to restore.
    */
  def compactSidecar(spark: org.apache.spark.sql.SparkSession,
                     sidecarPath: String, numFiles: Int = 1): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(sidecarPath)
    val fs = live.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(sidecarPath + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(sidecarPath + ".compact.old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    spark.read.parquet(sidecarPath).distinct()
      .repartition(numFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"compact: cannot move $live aside")
    if (!fs.rename(tmp, live)) // old generation still intact on disk
      throw new java.io.IOException(s"compact: cannot activate $tmp")
    fs.delete(old, true)
  }

  /** Default sink for bounded streaming runs in tests/pipelines:
    * AvailableNow trigger + append/update mode, checkpointed.
    */
  def boundedRun(df: DataFrame, checkpoint: String, queryName: String,
                 mode: OutputMode = OutputMode.Update()): Unit = {
    val q = df.writeStream
      .format("memory").queryName(queryName)
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event row for stateful processing. */
final case class SessionEvent(user_id: Long, event_id: Long, ts_us: Long, value: Double,
    ts: java.sql.Timestamp) // event-time column: must survive projection so the watermark reaches the stateful op

/** One closed session. */
final case class SessionSummary(user_id: Long, session_id: Long, n_events: Long,
    start_us: Long, end_us: Long, sum_value: Double)

/** Gap-based sessionization as a custom stateful operator — the engine's
  * "arbitrary stateful reduce" capability, generalizing the reference's
  * per-key reduce contract (MapReduceClient.h:61-64) to event time.
  *
  * Two faithful realizations of one session function:
  *   - batch: `flatMapGroups` — each key seen once with all events;
  *   - streaming: `flatMapGroupsWithState` with event-time timeout —
  *     events buffer per key, and sessions seal when the watermark passes
  *     the gap horizon.
  * State is sharded by user_id across executors; per-key state is bounded
  * by the open session's events, so memory scales with active users, not
  * with history.
  */
object Sessions {
  val GapUs: Long = 30L * 60 * 1000 * 1000 // 30 minutes

  /** Splits one user's events into gap-delimited sessions (pure). */
  private[streaming] def split(userId: Long, events: Iterator[SessionEvent]): Iterator[SessionSummary] = {
    val sorted = events.toVector.sortBy(e => (e.ts_us, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Vector.newBuilder[SessionSummary]
      // 1-based ids, matching the declarative q_sessionize twin
      var sid = 1L; var n = 0L; var start = 0L; var end = 0L; var sum = 0.0
      for (e <- sorted) {
        if (n > 0L && e.ts_us - end > GapUs) {
          out += SessionSummary(userId, sid, n, start, end, sum)
          sid += 1; n = 0L; sum = 0.0
        }
        if (n == 0L) start = e.ts_us
        n += 1; end = e.ts_us; sum += e.value
      }
      out += SessionSummary(userId, sid, n, start, end, sum)
      out.result().iterator
    }
  }

  /** Batch sessionization — the whole-group reduce shape. */
  def sessionize(ds: Dataset[SessionEvent]): Dataset[SessionSummary] =
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups((uid: Long, it: Iterator[SessionEvent]) => split(uid, it))(
        Encoders.product[SessionSummary])

  /** The streaming state step shared by the gap-session operators: buffer
    * the user's events, and once the watermark passes the last event +
    * gap (the event-time timeout) emit `seal` of the buffered events. */
  private[streaming] def sealOnGap[E, O](events: Iterator[E], state: GroupState[Vector[E]],
      tsUs: E => Long)(seal: Iterator[E] => Iterator[O]): Iterator[O] =
    if (state.hasTimedOut) {
      // Watermark passed the gap horizon: every buffered session is sealed.
      val buffered = state.getOption.getOrElse(Vector.empty)
      state.remove()
      seal(buffered.iterator)
    } else {
      val buffered = state.getOption.getOrElse(Vector.empty) ++ events
      state.update(buffered)
      // Seal once no event for this user can arrive within the gap. A late
      // event (flatMapGroupsWithState does NOT drop late rows) could put
      // last+gap at or below the watermark, which setTimeoutTimestamp
      // rejects — clamp just above it so the group seals next batch.
      val candidate = buffered.map(tsUs(_) / 1000).max + GapUs / 1000
      val floor = state.getCurrentWatermarkMs() + 1000
      state.setTimeoutTimestamp(math.max(candidate, floor))
      Iterator.empty
    }

  private def stateFn(userId: Long, events: Iterator[SessionEvent],
      state: GroupState[Vector[SessionEvent]]): Iterator[SessionSummary] =
    sealOnGap(events, state, (e: SessionEvent) => e.ts_us)(split(userId, _))

  /** Streaming sessionization — requires a watermark on the source's
    * event-time column; sessions emit when the watermark passes the last
    * event + gap.
    */
  def sessionizeStream(ds: Dataset[SessionEvent]): Dataset[SessionSummary] =
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFn)(
        Encoders.kryo[Vector[SessionEvent]], Encoders.product[SessionSummary])
}

/** Typed event row for navigation-path assembly (q_session_paths' input
  * shape: the event type must ride along).
  */
final case class PathEvent(user_id: Long, event_id: Long, ts_us: Long, event_type: String,
    ts: java.sql.Timestamp)

/** One closed session's first-3-event navigation path. */
final case class SessionPath(user_id: Long, session_id: Long, path: String)

/** Streaming twin of q_session_paths' path-assembly layer: the same
  * 30-minute gap rule as [[Sessions]], emitting each sealed session's
  * first-3-event-type '>' path instead of its numeric summary. The
  * declared batch query's downstream top-20 aggregation is a plain
  * grouped count over this relation — kept OUT of the streaming operator
  * because a global top-k over an unbounded stream is a different
  * (complete-output) contract; path emission is append-safe.
  *
  * State discipline is [[Sessions.sealOnGap]], shared: per-user event
  * buffer, sealed by an event-time timeout at last-event + gap, late
  * events clamped just above the watermark so the group re-seals next
  * batch. The agreement spec (StreamingSpec) runs both realizations over
  * the same fixture and demands exact path-multiset equality.
  */
object SessionPaths {
  import Sessions.GapUs

  /** Splits one user's events into gap-delimited sessions and assembles
    * each session's first-3 path (pure; 1-based session ids matching the
    * declarative q_session_paths window chain).
    */
  private[streaming] def pathsOf(userId: Long, events: Iterator[PathEvent]): Iterator[SessionPath] = {
    val sorted = events.toVector.sortBy(e => (e.ts_us, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Vector.newBuilder[SessionPath]
      var sid = 1L; var n = 0L; var end = 0L
      var head = Vector.empty[String]
      for (e <- sorted) {
        if (n > 0L && e.ts_us - end > GapUs) {
          out += SessionPath(userId, sid, head.mkString(">"))
          sid += 1; n = 0L; head = Vector.empty
        }
        n += 1; end = e.ts_us
        if (head.size < 3) head :+= e.event_type
      }
      out += SessionPath(userId, sid, head.mkString(">"))
      out.result().iterator
    }
  }

  /** Batch realization — whole-group reduce. */
  def sessionPaths(ds: Dataset[PathEvent]): Dataset[SessionPath] =
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups((uid: Long, it: Iterator[PathEvent]) => pathsOf(uid, it))(
        Encoders.product[SessionPath])

  private def stateFn(userId: Long, events: Iterator[PathEvent],
      state: GroupState[Vector[PathEvent]]): Iterator[SessionPath] =
    Sessions.sealOnGap(events, state, (e: PathEvent) => e.ts_us)(pathsOf(userId, _))

  /** Streaming realization — requires a watermark on `ts`. */
  def sessionPathsStream(ds: Dataset[PathEvent]): Dataset[SessionPath] =
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFn)(
        Encoders.kryo[Vector[PathEvent]], Encoders.product[SessionPath])
}

/** One SCD2 version: the user's event_type attribute held `event_type`
  * from `start_us` until `end_us` (−1 = still current).
  */
final case class VersionRecord(user_id: Long, event_type: String,
    start_us: Long, end_us: Long)

/** Streaming twin of q_scd2's version reconstruction — the upsert/merge
  * primitive as a stateful operator (the shape a CDC consumer runs:
  * per-key latest-value tracking with change detection). Input shape is
  * [[PathEvent]] (same fields); the version function is the identical
  * gaps-and-islands rule the declared query pins: a version opens where
  * the value differs from the previous row in (ts, event_id) order and
  * closes at the next change (−1 = current).
  *
  * State discipline follows [[Sessions.stateFn]] (per-user event buffer
  * sealed by an event-time timeout, late events clamped above the
  * watermark) with one deliberate difference: the seal horizon is
  * [[Scd2.SealGapUs]] (90 min), NOT the 30-min session gap. A version
  * chain — unlike a session — never ends at an activity gap, so sealing
  * at the session gap would be wrong twice over: the chain is emitted
  * early (last version end=−1), and when later events for the same user
  * arrive after the seal, a SECOND chain starts from scratch, producing
  * duplicate/overlapping chains that diverge from the batch twin.
  *
  * Contract: streaming == batch agreement holds exactly when no user
  * receives an event after the watermark passes that user's
  * last-buffered event + SealGapUs (i.e. each user's full history lands
  * within the seal horizon; the far-future sentinel then seals every
  * chain exactly once). On a truly unbounded stream this is a
  * FUNDAMENTAL append-mode limit, not an implementation gap: the open
  * version (end=−1) cannot be retracted once emitted, so any finite
  * horizon picks a point on the latency/exactness trade-off. The
  * cross-trigger agreement spec (StreamingMultiBatchSpec) spans a
  * user's history across triggers with an in-between watermark advance
  * that WOULD have sealed at the session gap, and demands exact
  * agreement.
  */
object Scd2 {
  /** Seal horizon for version chains: 90 event-time minutes past a
    * user's last buffered event. Far larger than the session gap
    * (chains outlive sessions), small enough that the agreement
    * harness's +3 h sentinel (minus the 1 h watermark delay) still
    * strictly passes every user's horizon.
    */
  val SealGapUs: Long = 90L * 60 * 1000 * 1000

  /** One user's version chain (pure; mirrors q_scd2's lag-filter-lead). */
  private[streaming] def versionsOf(userId: Long,
      events: Iterator[PathEvent]): Iterator[VersionRecord] = {
    val sorted = events.toVector.sortBy(e => (e.ts_us, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val changes = sorted.head +: sorted.sliding(2).collect {
        case Vector(a, b) if a.event_type != b.event_type => b
      }.toVector
      changes.zipWithIndex.map { case (e, i) =>
        VersionRecord(userId, e.event_type, e.ts_us,
          if (i + 1 < changes.size) changes(i + 1).ts_us else -1L)
      }.iterator
    }
  }

  /** Batch realization — whole-group reduce. */
  def versions(ds: Dataset[PathEvent]): Dataset[VersionRecord] =
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups((uid: Long, it: Iterator[PathEvent]) => versionsOf(uid, it))(
        Encoders.product[VersionRecord])

  private def stateFn(userId: Long, events: Iterator[PathEvent],
      state: GroupState[Vector[PathEvent]]): Iterator[VersionRecord] = {
    if (state.hasTimedOut) {
      val buffered = state.getOption.getOrElse(Vector.empty)
      state.remove()
      versionsOf(userId, buffered.iterator)
    } else {
      val buffered = state.getOption.getOrElse(Vector.empty) ++ events
      state.update(buffered)
      val candidate = buffered.map(_.ts_us / 1000).max + SealGapUs / 1000
      val floor = state.getCurrentWatermarkMs() + 1000
      state.setTimeoutTimestamp(math.max(candidate, floor))
      Iterator.empty
    }
  }

  /** Streaming realization — requires a watermark on `ts`. */
  def versionsStream(ds: Dataset[PathEvent]): Dataset[VersionRecord] =
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFn)(
        Encoders.kryo[Vector[PathEvent]], Encoders.product[VersionRecord])
}

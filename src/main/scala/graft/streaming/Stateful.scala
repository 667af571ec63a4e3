package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import org.apache.spark.sql.functions._

/** J8 — arbitrary stateful processing: the streaming form of CDC
  * materialization (graft.cdc.Materialize is the batch spec).
  *
  * Keyed upsert state machine over flattened change events:
  * per key keep (version, payload); an event applies iff its version is
  * newer; a delete clears state. State lives in Spark's per-partition
  * state stores (RocksDB-backed on a real cluster) and is the reason this
  * scales: state is sharded by key hash across executors, never
  * collected.
  */
object Stateful {

  /** One flattened change event: key, monotonically increasing version
    * (lsn), op in {c,u,d,r}, and an opaque JSON payload for the row image.
    */
  case class Change(key: Long, version: Long, op: String, payload: String)

  /** Current state per key. */
  case class KeyState(version: Long, payload: String)

  /** Emitted upsert view after each update. */
  case class Upsert(key: Long, version: Long, payload: String, deleted: Boolean)

  private def applyChanges(key: Long, changes: Iterator[Change],
                           state: GroupState[KeyState]): Iterator[Upsert] = {
    // replay in version order; late/duplicate versions are ignored
    val sorted = changes.toSeq.sortBy(_.version)
    var cur = state.getOption
    var emitted: Option[Upsert] = None
    sorted.foreach { c =>
      if (cur.forall(_.version < c.version)) {
        if (c.op == "d") {
          cur = None
          emitted = Some(Upsert(key, c.version, null, deleted = true))
        } else {
          cur = Some(KeyState(c.version, c.payload))
          emitted = Some(Upsert(key, c.version, c.payload, deleted = false))
        }
      }
    }
    cur match {
      case Some(s) => state.update(s)
      case None    => state.remove()
    }
    emitted.iterator
  }

  /** Keyed upsert via flatMapGroupsWithState — the portable fallback
    * (works on any state store provider, and on batch Datasets with empty
    * state, which is how the differential test pins it to
    * Materialize.changelog). Carries NoTimeout, so state for dead keys
    * never expires — use [[upsertStreamTws]] when key cardinality is
    * unbounded.
    */
  def upsertStream(changes: Dataset[Change]): Dataset[Upsert] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(applyChanges)
  }

  /** The Spark 4 primary for J8: keyed upsert as a
    * [[StatefulProcessor]] run through `transformWithState`. Same state
    * machine as [[upsertStream]] (version-ordered replay, delete clears),
    * plus optional TTL-based state EVICTION — at 100 TB key cardinality
    * the state store otherwise grows without bound as keys go cold; a TTL
    * turns it into a sliding working set. Requires the RocksDB state
    * store provider (see [[withRocksDbStateStore]]).
    */
  class UpsertProcessor(ttl: Option[Duration])
    extends StatefulProcessor[Long, Change, Upsert] {

    @transient private var state: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val cfg = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
      state = getHandle.getValueState[KeyState]("keyState", Encoders.product[KeyState], cfg)
    }

    override def handleInputRows(key: Long, rows: Iterator[Change],
                                 timerValues: TimerValues): Iterator[Upsert] = {
      val sorted = rows.toSeq.sortBy(_.version)
      var cur = if (state.exists()) Option(state.get()) else None
      var emitted: Option[Upsert] = None
      sorted.foreach { c =>
        if (cur.forall(_.version < c.version)) {
          if (c.op == "d") {
            cur = None
            emitted = Some(Upsert(key, c.version, null, deleted = true))
          } else {
            cur = Some(KeyState(c.version, c.payload))
            emitted = Some(Upsert(key, c.version, c.payload, deleted = false))
          }
        }
      }
      cur match {
        case Some(s) => state.update(s)
        case None    => state.clear()
      }
      emitted.iterator
    }
  }

  /** transformWithState needs the RocksDB provider; set it on the session
    * before starting the query (the conf is read at query start). RocksDB
    * is also the provider a real cluster runs — changelog-checkpointed,
    * memory-bounded — so tests exercise the production store.
    */
  def withRocksDbStateStore(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing: commit the per-batch delta instead of
    // uploading full RocksDB snapshots — the batch-commit latency knob
    // that matters once state outgrows memory.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark
  }

  /** J8 primary — keyed upsert through `transformWithState`. TTL (when
    * given) uses processing-time expiry; without TTL state is kept
    * indefinitely like the fallback.
    *
    * Operational caveat (measured): with TTL, the query runs in
    * TimeMode.ProcessingTime and the engine schedules timer-sweep batches
    * even with no new data, so a Trigger.AvailableNow drain never reaches
    * termination. Use TTL with continuous triggers (its real deployment
    * shape — long-lived streams whose key space churns); use ttl=None for
    * drain-and-stop replays.
    */
  def upsertStreamTws(changes: Dataset[Change], ttl: Option[Duration] = None): Dataset[Upsert] = {
    import changes.sparkSession.implicits._
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    changes
      .groupByKey(_.key)
      .transformWithState(new UpsertProcessor(ttl), mode, OutputMode.Update())
  }

  /** A [[Change]] with the event time the change occurred — the input for
    * event-time state eviction.
    */
  case class TimedChange(key: Long, version: Long, op: String, payload: String,
                         ts: java.sql.Timestamp)

  /** Event-time state eviction for the keyed upsert: same version-ordered
    * replay as [[UpsertProcessor]], plus a per-key timer slid to
    * `lastEventTime + ttl` on every applied batch. When the WATERMARK
    * passes the timer, [[handleExpiredTimer]] clears the key's state —
    * the key went cold in the data's own clock, so eviction is a pure
    * function of the input (deterministic, unlike processing-time TTL),
    * which is also what makes it exercisable under a drain-and-stop
    * `Trigger.AvailableNow` replay in CI: the watermark advances batch by
    * batch and fires the timers, no wall-clock sweep batches needed (the
    * ProcessingTime livelock documented on [[upsertStreamTws]]).
    */
  class EventTimeUpsertProcessor(ttlMs: Long)
    extends StatefulProcessor[Long, TimedChange, Upsert] {

    @transient private var state: ValueState[KeyState] = _
    // the currently registered eviction timer, so a newer event can slide
    // it (delete + re-register) instead of stacking stale timers
    @transient private var timerAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[KeyState]("keyState",
        Encoders.product[KeyState], TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TimedChange],
                                 timerValues: TimerValues): Iterator[Upsert] = {
      val sorted = rows.toSeq.sortBy(_.version)
      var cur = if (state.exists()) Option(state.get()) else None
      var emitted: Option[Upsert] = None
      // the timer slides on APPLIED events only: stale-version replays
      // must not keep a cold key's state alive forever (tracking the max
      // ts of ignored rows would let replayed old traffic pin every cold
      // key in the store, defeating the eviction this class exists for)
      var lastAppliedTs = Long.MinValue
      sorted.foreach { c =>
        if (cur.forall(_.version < c.version)) {
          lastAppliedTs = math.max(lastAppliedTs, c.ts.getTime)
          if (c.op == "d") {
            cur = None
            emitted = Some(Upsert(key, c.version, null, deleted = true))
          } else {
            cur = Some(KeyState(c.version, c.payload))
            emitted = Some(Upsert(key, c.version, c.payload, deleted = false))
          }
        }
      }
      if (emitted.isDefined) { // something applied: state and timer move
        if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
        cur match {
          case Some(s) =>
            state.update(s)
            val at = lastAppliedTs + ttlMs
            getHandle.registerTimer(at)
            timerAt.update(at)
          case None =>
            state.clear()
            timerAt.clear()
        }
      }
      emitted.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Upsert] = {
      // no event for `ttl` of EVENT time: the key is cold — evict. At
      // 100 TB key cardinality this is what bounds the state store to the
      // live working set. Nothing is emitted: eviction is a state-size
      // concern, not a data change (a later event for the key simply
      // starts fresh, which is also the observable CI probe).
      state.clear()
      timerAt.clear()
      Iterator.empty
    }
  }

  /** J8 with event-time TTL — keyed upsert whose state evicts `ttl` after
    * the key's last event IN EVENT TIME. `watermarkDelay` is the usual
    * lateness bound (watermark = max event time − delay); eviction fires
    * when the watermark passes `last event + ttl`. Deterministic given
    * the input, so replays and CI drains reproduce it exactly.
    */
  def upsertStreamTwsEventTtl(changes: Dataset[TimedChange], ttl: Duration,
                              watermarkDelay: String = "0 seconds"): Dataset[Upsert] = {
    import changes.sparkSession.implicits._
    changes
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(new EventTimeUpsertProcessor(ttl.toMillis),
        TimeMode.EventTime(), OutputMode.Update())
  }
}

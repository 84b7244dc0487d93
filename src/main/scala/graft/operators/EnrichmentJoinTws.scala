package graft.operators

import graft.core.{Address, User, UserAddress}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Envelope variant carrying an EVENT time for the opt-in event-time mode:
  * users are stamped with their own `registerDate` (the one event-time
  * field the reference wire format has); addresses carry no timestamp on
  * the wire (`Dto/Address.java:5-12`), so their event time is supplied by
  * the caller — in production the Kafka record timestamp, in tests an
  * explicit stamp.
  */
final case class TimedEnvelope(key: String, seq: Long,
    eventTime: java.sql.Timestamp, user: Option[User], address: Option[Address]) {
  def envelope: Envelope = Envelope(key, seq, user, address)
}

object TimedEnvelope {
  def ofUser(u: User, seq: Long = 0L): TimedEnvelope =
    TimedEnvelope(u.id, seq, u.registerDate, Some(u), None)
  def ofAddress(a: Address, eventTime: java.sql.Timestamp,
      seq: Long = 1L): TimedEnvelope =
    TimedEnvelope(a.userId, seq, eventTime, None, Some(a))
}

/** J1 in EVENT-TIME mode — the opt-in divergence from the reference's
  * processing-time contract (which `EnrichmentJoin.joinStream` preserves):
  *
  *  - rows with event time behind the watermark are DROPPED by the
  *    operator before they reach the state machine (a late address never
  *    enters the buffer; the processing-time mode admits it no matter how
  *    late it arrives) — the documented, spec-pinned divergence;
  *  - state TTL expires in EVENT time via timers: each batch re-arms one
  *    timer at (key's max event time + ttl), and when the WATERMARK
  *    passes it the key's state clears — late data can no longer revive
  *    a key the watermark has retired, unlike processing-time TTL whose
  *    expiry depends on wall-clock job health.
  *
  * The user sits in a `ValueState` and the addresses in a `ListState`, so
  * a batch's new addresses are one append, not a rewrite of the key's
  * whole list. The per-event transitions are `EnrichmentJoin.step`'s: each
  * key's batch is folded through `EnrichmentJoin.runKey` from the stored
  * state, and only what the fold changed is written back.
  */
class EnrichmentProcessorEventTime(ttlMs: Option[Long])
    extends StatefulProcessor[String, TimedEnvelope, UserAddress] {

  @transient private var userState: ValueState[User] = _
  @transient private var addrState: ListState[Address] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    // TTL here is timer-driven (event time); the handle has no overload
    // without a TTLConfig, so the states are registered with none
    userState = getHandle.getValueState[User]("user",
      Encoders.product[User], TTLConfig.NONE)
    addrState = getHandle.getListState[Address]("addresses",
      Encoders.product[Address], TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[TimedEnvelope],
      timerValues: TimerValues): Iterator[UserAddress] = {
    val events = rows.toVector.sortBy(_.seq)
    val init = EnrichmentJoin.JoinState(
      if (userState.exists()) Some(userState.get()) else None,
      addrState.get().toVector)
    val (s, out) = EnrichmentJoin.runKey(events.iterator.map(_.envelope), init)
    if (s.user != init.user) s.user.foreach(userState.update)
    val added = s.addresses.drop(init.addresses.length)
    if (added.nonEmpty) addrState.appendList(added.toArray)
    // one armed timer per key: re-arm at last-activity-in-event-time + ttl
    // (materialize the timer list before deleting — no mutation under the
    // state store's own iterator)
    ttlMs.foreach { ttl =>
      events.map(_.eventTime.getTime).maxOption.foreach { maxEventMs =>
        getHandle.listTimers().toVector
          .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(maxEventMs + ttl)
      }
    }
    out
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[UserAddress] = {
    userState.clear()
    addrState.clear()
    Iterator.empty
  }
}

object EnrichmentJoinTws {
  /** Streaming J1 in OPT-IN event-time mode: watermark on `eventTime`
    * (users: `registerDate`; addresses: caller-stamped), late rows
    * dropped at the operator, TTL expiring in event time via timers.
    * `EnrichmentJoin.joinStream` remains the reference-faithful
    * processing-time contract (`WatermarkStrategy.noWatermarks()`,
    * `Main.java:70-71`); choose this mode when state must be bounded by
    * the data's own clock and sufficiently late addresses may be
    * discarded rather than buffered forever. The lateness semantics
    * follow the Watermarks paper (VLDB 2021). Divergence from the
    * processing-time mode is pinned by `PipelineSpec`'s dual-mode
    * interleaving case.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  def joinStreamEventTime(
      spark: SparkSession,
      events: Dataset[TimedEnvelope],
      maxLateness: String = "0 seconds",
      stateTtl: Option[java.time.Duration] = None): Dataset[UserAddress] = {
    import spark.implicits._
    events
      .withWatermark("eventTime", maxLateness)
      .groupByKey(_.key)
      .transformWithState(
        new EnrichmentProcessorEventTime(stateTtl.map(_.toMillis)),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

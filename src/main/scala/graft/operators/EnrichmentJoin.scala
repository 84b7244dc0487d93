package graft.operators

import graft.core.{Address, User, UserAddress}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Two-input envelope standing in for Flink's `connect` of the user and
  * address streams (`/root/reference/src/main/java/Main.java:78-80`). `seq`
  * is a per-key arrival order used only by the deterministic batch mode;
  * streaming relies on actual arrival order, like the reference.
  */
final case class Envelope(key: String, seq: Long, user: Option[User], address: Option[Address])

object Envelope {
  def ofUser(u: User, seq: Long = 0L): Envelope = Envelope(u.id, seq, Some(u), None)
  def ofAddress(a: Address, seq: Long = 0L): Envelope = Envelope(a.userId, seq, None, Some(a))
}

/** J1: stateful enrichment join with cumulative-snapshot emission.
  *
  * Re-expresses the reference's `KeyedCoProcessFunction` + two `MapState`s
  * (`/root/reference/src/main/java/Main.java:78-133`) as a pure per-key fold
  * (`step`, the one encoding of the J1 transitions). Three paths fold through
  * it: the batch `flatMapSortedGroups` path (oracle-testable), the streaming
  * `flatMapGroupsWithState` path that `Pipeline` runs, and the opt-in
  * event-time processor (`EnrichmentProcessorEventTime`). The exact contract
  * (SURVEY.md §2.1):
  *
  *  1. user arrival  → store/overwrite user (last-write-wins), ALWAYS emit
  *     the current snapshot, with an empty list if no addresses yet
  *     (`Main.java:104-115`);
  *  2. address arrival → APPEND (no dedup, duplicates accumulate); emit the
  *     full snapshot only if the user is known; otherwise buffer silently
  *     (`Main.java:118-132`);
  *  3. consequence: an address-then-user interleaving emits nothing until the
  *     user lands; snapshots are cumulative prefixes with no retractions;
  *  4. state is never cleared in the reference; here an optional idle-key
  *     TTL is exposed for 100 TB operation (unbounded per-key state does not
  *     survive real workloads) and defaults OFF for parity.
  */
object EnrichmentJoin {

  final case class JoinState(user: Option[User], addresses: Vector[Address]) {
    def snapshot: Option[UserAddress] = user.map(u => UserAddress(u, addresses))
  }
  val emptyState: JoinState = JoinState(None, Vector.empty)

  /** One event through the state machine → (new state, emission). */
  def step(state: JoinState, ev: Envelope): (JoinState, Option[UserAddress]) =
    ev match {
      case Envelope(_, _, Some(u), _) =>
        // Main.java:104-115 — always emit, empty list allowed.
        val s = state.copy(user = Some(u))
        (s, Some(UserAddress(u, s.addresses)))
      case Envelope(_, _, _, Some(a)) =>
        // Main.java:118-132 — append unconditionally, emit only if user known.
        val s = state.copy(addresses = state.addresses :+ a)
        (s, s.snapshot)
      case _ => (state, None)
    }

  /** Fold a per-key event sequence; returns emissions in order. */
  def runKey(events: Iterator[Envelope], init: JoinState = emptyState): (JoinState, Iterator[UserAddress]) = {
    var s = init
    val out = Vector.newBuilder[UserAddress]
    events.foreach { ev =>
      val (s2, emit) = step(s, ev)
      s = s2
      emit.foreach(out += _)
    }
    (s, out.result().iterator)
  }

  /** Batch mode: deterministic replay ordered by `seq` within each key.
    * Shuffles once on the key (`Exchange hashpartitioning`), like the
    * reference's `keyBy`. The per-key `seq` ordering rides the shuffle's
    * sort (`flatMapSortedGroups` = secondary sort), so no group is ever
    * materialized or sorted in executor memory — the event stream for a
    * hot key folds through the state machine as a lazy iterator, which is
    * what survives a key with millions of events.
    */
  def joinBatch(spark: SparkSession, events: Dataset[Envelope]): Dataset[UserAddress] = {
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapSortedGroups(col("seq")) { (_, it) =>
        val (_, out) = runKey(it)
        out
      }
  }

  /** The per-key state-update function of `joinStream`, exposed so tests
    * can drive it with `TestGroupState` (incl. the timeout branch) without
    * a running stream.
    */
  def stateFunc(stateTtl: Option[java.time.Duration])(
      key: String, it: Iterator[Envelope],
      state: GroupState[JoinState]): Iterator[UserAddress] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val init = state.getOption.getOrElse(emptyState)
      // Within a micro-batch Spark gives no intra-group order guarantee;
      // order by the ingest-assigned seq so interleavings are stable.
      val (s, out) = runKey(it.toVector.sortBy(_.seq).iterator, init)
      state.update(s)
      stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
      out
    }

  /** Streaming mode: per-key `GroupState` replaces the reference's
    * `MapState`-inside-keyed-stream (degenerate single-entry map,
    * SURVEY.md §2.1.5). Append output mode: the snapshot stream is
    * append-only (no retractions), exactly like the reference.
    *
    * Each update writes the key's whole state (user + address list). A
    * `transformWithState` twin that appends to a `ListState` instead
    * measured slower on the live topology (batch latency and state commit
    * both up, twice the state rows), so this is the one processing-time
    * backend.
    *
    * @param stateTtl optional idle-key TTL: a `ProcessingTimeTimeout`
    *                 re-armed on every batch that carries the key drops
    *                 its state once no event arrived for that long
    *                 (reference behavior = None = never).
    */
  def joinStream(
      spark: SparkSession,
      events: Dataset[Envelope],
      stateTtl: Option[java.time.Duration] = None): Dataset[UserAddress] = {
    import spark.implicits._
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[JoinState, UserAddress](OutputMode.Append, timeout)(
        stateFunc(stateTtl))
  }
}

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.LogisticsEvent

/** Carried across micro-batches, one instance per open order: a few dozen
  * bytes, so 10⁹ concurrently-open orders ≈ tens of GB of state across the
  * cluster — the state store scales with OPEN keys, not event volume. */
final case class OrderState(nEvents: Long, lastStatus: String, lastSortKey: String)

/** One emitted row per (order, micro-batch): running totals + whether the
  * latest status differs from what the previous batch left behind. */
final case class OrderUpdate(order_id: String, n_events: Long,
                             status: String, status_changed: Boolean)

/**
 * Custom keyed state over a stream, via the typed
 * `KeyValueGroupedDataset.flatMapGroupsWithState` API — the escape hatch for
 * per-key logic that windowed aggregation cannot express (here: "did this
 * batch CHANGE the order's status?", which needs the previous batch's value,
 * not an aggregate of the current one).
 *
 * Semantics per (order, micro-batch): fold the batch's events in
 * (timestamp, event_id) order on top of the stored [[OrderState]], emit one
 * [[OrderUpdate]], store the new state. `ProcessingTimeTimeout` +
 * `setTimeoutDuration` evicts orders idle past the horizon, bounding the
 * state store (without it, state grows with every order ever seen — the
 * classic unbounded-state leak).
 *
 * The same function runs on a batch Dataset (state starts empty, one
 * invocation per key) — StatefulOpsSpec checks both, including state carry
 * across two real micro-batches.
 *
 * Deployment note (measured on Spark 4.1, r11): with `ProcessingTimeTimeout`
 * state pending, `shouldRunAnotherBatch` is always true, so a
 * `Trigger.AvailableNow()` drain does NOT terminate after the available
 * data — the engine keeps scheduling no-data micro-batches to check timers
 * (observed: thousands of empty batches after a two-file drain). For
 * bounded drains either set
 * `spark.sql.streaming.noDataMicroBatches.enabled=false` on the session
 * (timers then fire only on data-bearing batches) or treat
 * `awaitTermination(timeout)`'s false return as "drained but alive" and
 * `stop()` the query. Continuous `Trigger.ProcessingTime` deployments are
 * unaffected — there the timer-driven no-data batch per interval is
 * exactly what evicts idle state.
 */
object StatefulOps {

  private val timeoutDurationMs: Long = 6L * 3600 * 1000

  private def update(orderId: String, events: Iterator[LogisticsEvent],
                     state: GroupState[OrderState]): Iterator[OrderUpdate] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val prev = state.getOption.getOrElse(OrderState(0L, "", ""))
    advance(orderId, prev, events.toSeq) match {
      case None => Iterator.empty
      case Some((next, out)) =>
        state.update(next)
        state.setTimeoutDuration(timeoutDurationMs)
        Iterator.single(out)
    }
  }

  /** Pure per-(key, batch) fold — the SEMANTICS of [[update]], kept free of
    * `GroupState` so it is unit-testable on its own: sort the batch in
    * (timestamp, event_id) lexicographic-ISO order (SURVEY §1.4), advance
    * the stored state, emit one update. None for an empty batch. */
  private[streaming] def advance(orderId: String, prev: OrderState,
      events: Seq[LogisticsEvent]): Option[(OrderState, OrderUpdate)] = {
    val sorted = events.sortBy(e =>
      (e.timestamp.getOrElse(""), e.event_id.getOrElse("")))
    if (sorted.isEmpty) return None
    val latest = sorted.last
    // NUL separator: below every printable char, so the concatenated key
    // compares identically to the (timestamp, event_id) tuple order above
    val latestKey =
      latest.timestamp.getOrElse("") + "\u0000" + latest.event_id.getOrElse("")
    // late replays (all events ≤ the stored watermark key) keep the old status
    val next =
      if (latestKey > prev.lastSortKey)
        OrderState(prev.nEvents + sorted.size,
          latest.status.getOrElse(prev.lastStatus), latestKey)
      else prev.copy(nEvents = prev.nEvents + sorted.size)
    Some((next, OrderUpdate(orderId, next.nEvents, next.lastStatus,
      next.lastStatus != prev.lastStatus)))
  }

  /** Running per-order progress; one output row per order per micro-batch. */
  def orderProgress(events: Dataset[LogisticsEvent]): Dataset[OrderUpdate] = {
    implicit val stateEnc = Encoders.product[OrderState]
    implicit val outEnc = Encoders.product[OrderUpdate]
    implicit val keyEnc = Encoders.STRING
    events
      .groupByKey(_.order_id.getOrElse(""))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(update)
  }
}

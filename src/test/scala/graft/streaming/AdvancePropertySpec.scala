package graft.streaming

import graft.model.LogisticsEvent
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * Property fuzz of [[StatefulOps.advance]] — the fold behind
 * [[StatefulOps.orderProgress]]'s `flatMapGroupsWithState` processor.
 * Invariants, for any event set and ANY partition of it into micro-batches
 * in any batch order:
 *
 *  1. `n_events` after the last batch = total events delivered (counting
 *     is replay-cumulative by design — re-delivered batches still count);
 *  2. final `status` = status of the event with the globally MAXIMAL
 *     (timestamp, event_id) sort key — batch ordering, including fully
 *     late (out-of-order) batches, must never change which event wins;
 *  3. `status_changed` is emitted iff the stored status string changed.
 *
 * Pure JVM (no SparkSession): the fold is deliberately side-effect-free so
 * its semantics are testable at this speed.
 */
class AdvancePropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1234L + i)))

  private def ev(minute: Int, id: Int, status: String) = LogisticsEvent(
    Some(f"e$id%04d"), Some("o1"),
    Some(f"2026-02-23T01:$minute%02d:00+00:00"), Some(status),
    Some("A, AA"), Some("B, BB"), Some("DHL"),
    Some(10.0), Some(20.0), Some(5.5), Some("2026-03-01"))

  // event ids made unique by index: the fold's tie-break on EQUAL
  // (timestamp, event_id) keys is "first delivered wins" (strict >), which
  // is deliberately batch-order-DEPENDENT — the invariant under test is
  // about distinct keys, the only case real event ids produce
  private val genEvents: Gen[List[LogisticsEvent]] = for {
    n <- Gen.chooseNum(1, 12)
    evs <- Gen.listOfN(n, for {
      minute <- Gen.chooseNum(0, 59)
      status <- Gen.oneOf("Created", "In Transit", "Delivered", "Returned")
    } yield (minute, status))
  } yield evs.zipWithIndex.map { case ((m, st), i) => ev(m, i, st) }

  /** Random partition of `evs` into 1..4 ordered batches. */
  private def genBatches(evs: List[LogisticsEvent]): Gen[List[List[LogisticsEvent]]] =
    for {
      k <- Gen.chooseNum(1, 4)
      marks <- Gen.listOfN(evs.size, Gen.chooseNum(0, k - 1))
    } yield (0 until k).map(b =>
      evs.zip(marks).collect { case (e, m) if m == b => e }.toList).toList

  private def sortKey(e: LogisticsEvent): (String, String) =
    (e.timestamp.getOrElse(""), e.event_id.getOrElse(""))

  test("advance: count is delivery-cumulative; winner is batch-order-invariant") {
    for {
      evs <- samples(genEvents, 120)
      batches <- samples(genBatches(evs), 3)
    } {
      var state = OrderState(0L, "", "")
      var lastStatus = ""
      var emittedChangeOk = true
      var delivered = 0L
      batches.filter(_.nonEmpty).foreach { b =>
        delivered += b.size
        val (next, out) = StatefulOps.advance("o1", state, b).get
        emittedChangeOk &&= (out.status_changed == (out.status != lastStatus))
        lastStatus = out.status
        state = next
        assert(out.n_events === delivered)
      }
      if (delivered > 0) {
        val winner = evs.maxBy(sortKey)
        assert(state.nEvents === delivered)
        assert(state.lastStatus === winner.status.getOrElse(""),
          s"batching changed the winning status: $batches")
        assert(emittedChangeOk)
      }
    }
  }

  test("advance: empty batch is a strict no-op (None)") {
    assert(StatefulOps.advance("o1", OrderState(3L, "X", "k"), Nil).isEmpty)
  }
}

package graft.quality

import graft.SparkSuite
import graft.model.LogisticsEvent
import org.apache.spark.sql.DataFrame

/** The 7-check DQ gate over corruption fixtures (reference `data_quality_check.py`). */
class DqChecksSpec extends SparkSuite {

  private def mkRaw(rows: Seq[LogisticsEvent]): DataFrame =
    spark.createDataFrame(rows)

  private val clean = LogisticsEvent(Some("e1"), Some("o1"),
    Some("2026-02-23T01:09:36+00:00"), Some("In Transit"), Some("A, AA"),
    Some("B, BB"), Some("DHL"), Some(10.0), Some(20.0), Some(5.5),
    Some("2099-12-31"))

  test("clean data passes the gate") {
    val results = DqChecks.runAll(mkRaw(Seq(clean)))
    assert(results.forall(_.violations == 0L))
  }

  test("each corruption mode fires exactly its check") {
    val raw = mkRaw(Seq(
      clean,
      clean.copy(event_id = Some("e1b"), order_id = None),          // check 1
      clean.copy(event_id = Some("e2"), weight_kg = Some(-1.0)),    // check 2
      clean.copy(event_id = Some("e3"), weight_kg = Some(5001.0)),  // check 2 (DQ-only bound)
      clean.copy(event_id = Some("e4"), timestamp = Some("not-a-date")),   // check 3
      clean.copy(event_id = Some("e5"), status = Some("Lost")),     // check 4
      clean.copy(event_id = Some("e5b"), status = None),            // NOT IN → null NOT counted
      clean.copy(event_id = Some("e6"), latitude = Some(91.0)),     // check 5
      clean.copy(event_id = Some("e7"), estimated_delivery = Some("2020-01-01")), // check 7
      clean))                                                       // duplicate e1 → check 6
    val r = intercept[DqChecks.DqGateFailure](DqChecks.runAll(raw)).results
      .map(c => c.name -> c.violations).toMap
    assert(r("null_ids") == 1L)
    assert(r("bad_weights") == 2L)
    assert(r("malformed_timestamps") == 1L)
    assert(r("invalid_statuses") == 1L)
    assert(r("out_of_bounds_coords") == 1L)
    assert(r("duplicate_event_ids") == 1L)
    assert(r("bad_delivery_dates") == 1L)
  }

  test("ERROR severity raises the gate; WARNING alone does not") {
    val errs = mkRaw(Seq(clean.copy(weight_kg = Some(0.0))))
    intercept[DqChecks.DqGateFailure] { DqChecks.runAll(errs) }
    // duplicate ids are WARNING → no exception
    val warns = mkRaw(Seq(clean, clean))
    DqChecks.runAll(warns)
  }

  test("single-scan runAll matches the per-check functions") {
    // the last row repeats e9: runAll counts groups with n > 1, the
    // per-check function filters a grouped count
    val raw = mkRaw(Seq(clean, clean.copy(event_id = None),
      clean.copy(event_id = Some("e9"), weight_kg = Some(0.0)),
      clean.copy(event_id = Some("e9"))))
    val all = intercept[DqChecks.DqGateFailure](DqChecks.runAll(raw)).results
      .map(c => c.name -> c.violations).toMap
    assert(all("null_ids") == DqChecks.nullIds(raw))
    assert(all("bad_weights") == DqChecks.badWeights(raw))
    assert(all("malformed_timestamps") == DqChecks.malformedTimestamps(raw))
    assert(all("invalid_statuses") == DqChecks.invalidStatuses(raw))
    assert(all("out_of_bounds_coords") == DqChecks.outOfBoundsCoords(raw))
    assert(all("duplicate_event_ids") == DqChecks.duplicateEventIds(raw))
    assert(all("duplicate_event_ids") == 1L)
    assert(all("bad_delivery_dates") == DqChecks.badDeliveryDates(raw))
  }

  test("runAll over an EMPTY frame reports zeros (sum-of-no-rows is null)") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.LogisticsEvent.rawSchema)
    val results = DqChecks.runAll(empty)
    assert(results.forall(_.violations === 0L))
  }
}

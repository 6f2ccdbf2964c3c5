package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.LogisticsEvent

/**
 * The 7-check pre-transform data-quality gate.
 *
 * Reference: `src/warehouse/data_quality_check.py:33-212`. Checks 1-5 are
 * ERRORs (any violation halts the pipeline); 6-7 are WARNINGs (logged,
 * pipeline proceeds). The reference signals via process exit code; we raise
 * `DqGateFailure` carrying the per-check counts.
 *
 * Each check is a pushed-down filter + count over the bronze scan. The gate,
 * `runAll`, computes all seven in ONE Spark action over one scan
 * (conditional aggregation under one group by `event_id`) rather than seven
 * scans — semantics identical, 7× less I/O.
 */
object DqChecks {

  final case class CheckResult(name: String, severity: String, violations: Long)

  final case class DqGateFailure(results: Seq[CheckResult])
      extends RuntimeException(
        "DQ gate failed: " + results.filter(r => r.severity == "ERROR" && r.violations > 0)
          .map(r => s"${r.name}=${r.violations}").mkString(", "))

  // Each check's predicate has ONE definition (r11 review), shared by the
  // standalone count and runAll's single-scan aggregate — copies could
  // silently drift, making the gate and the per-check API report different
  // violation counts for the same data.
  private[quality] def nullIdPred =
    col("order_id").isNull || col("order_id") === ""
  private[quality] def badWeightPred =
    col("weight_kg").isNull || col("weight_kg") <= 0 || col("weight_kg") > 5000
  private[quality] def malformedTsPred =
    col("timestamp").isNull || try_to_timestamp(col("timestamp")).isNull
  private[quality] def invalidStatusPred =
    col("status").isNotNull && !col("status").isin(LogisticsEvent.validStatuses: _*)
  private[quality] def oobCoordPred =
    col("latitude").isNull || col("longitude").isNull ||
      col("latitude") < -90 || col("latitude") > 90 ||
      col("longitude") < -180 || col("longitude") > 180

  /** Check 1 (ERROR): NULL or empty order_id (`data_quality_check.py:76-88` — order_id only). */
  def nullIds(raw: DataFrame): Long = raw.filter(nullIdPred).count()

  /** Check 2 (ERROR): weight NULL, <= 0 or > 5000 (`data_quality_check.py:93-104`). */
  def badWeights(raw: DataFrame): Long = raw.filter(badWeightPred).count()

  /** Check 3 (ERROR): NULL or unparseable timestamp (`data_quality_check.py:106-118`). */
  def malformedTimestamps(raw: DataFrame): Long = raw.filter(malformedTsPred).count()

  /** Check 4 (ERROR): status outside the 6-value enum. NOT IN semantics:
    * NULL status is NOT counted (three-valued logic, `data_quality_check.py:121-135`). */
  def invalidStatuses(raw: DataFrame): Long = raw.filter(invalidStatusPred).count()

  /** Check 5 (ERROR): coordinates out of bounds (`data_quality_check.py:140-153`). */
  def outOfBoundsCoords(raw: DataFrame): Long = raw.filter(oobCoordPred).count()

  /** Check 6 (WARNING): duplicate event_ids (`data_quality_check.py:157-173`). */
  def duplicateEventIds(raw: DataFrame): Long =
    raw.filter(col("event_id").isNotNull)
      .groupBy("event_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /** Check 7 (WARNING): estimated_delivery unparseable or in the past (`data_quality_check.py:177-189`). */
  private val tryDeliveryDate = expr("try_cast(estimated_delivery AS DATE)")
  private[quality] def badDeliveryPred =
    tryDeliveryDate.isNull || tryDeliveryDate < current_date()
  def badDeliveryDates(raw: DataFrame): Long =
    raw.filter(badDeliveryPred).count()

  /**
   * All seven checks in one Spark action: one group by `event_id` keeps
   * each row-level predicate's count and the group's row count, and one
   * global aggregate over the groups sums the counts and counts the
   * non-null `event_id` groups holding more than one row (the duplicate
   * check). Throws `DqGateFailure`, which carries every result, when any
   * ERROR-severity count is nonzero, mirroring `sys.exit(1)` at
   * `data_quality_check.py:197-200`.
   */
  def runAll(raw: DataFrame): Seq[CheckResult] = {
    // (name, severity, row predicate) in result order; duplicates count groups
    val checks: Seq[(String, String, Option[Column])] = Seq(
      ("null_ids", "ERROR", Some(nullIdPred)), ("bad_weights", "ERROR", Some(badWeightPred)),
      ("malformed_timestamps", "ERROR", Some(malformedTsPred)),
      ("invalid_statuses", "ERROR", Some(invalidStatusPred)),
      ("out_of_bounds_coords", "ERROR", Some(oobCoordPred)),
      ("duplicate_event_ids", "WARNING", None),
      ("bad_delivery_dates", "WARNING", Some(badDeliveryPred)))
    val rowChecks = checks.collect { case (name, _, Some(pred)) => name -> pred }
    def total(c: String) = coalesce(sum(c), lit(0L)).as(c) // sum of 0 rows is null
    val row = raw
      .groupBy("event_id")
      .agg(count(lit(1)).as("n"),
        rowChecks.map { case (name, pred) => sum(when(pred, 1L).otherwise(0L)).as(name) }: _*)
      .agg(count(when(col("event_id").isNotNull && col("n") > 1, 1)).as("duplicate_event_ids"),
        rowChecks.map { case (name, _) => total(name) }: _*)
      .head()

    val results = checks.map { case (name, severity, _) =>
      CheckResult(name, severity, row.getAs[Long](name)) }

    if (results.exists(r => r.severity == "ERROR" && r.violations > 0))
      throw DqGateFailure(results)
    results
  }
}

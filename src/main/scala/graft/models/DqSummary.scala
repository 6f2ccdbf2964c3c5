package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * dq_invalid_delivery_summary — daily invalid-rate rollup.
 *
 * Reference: `logistics_pipeline/models/layer/intermediate/quality/
 * dq_invalid_delivery_summary.sql`.
 *
 * `pct_of_total_events` is ROUND(CAST(count AS FLOAT)/total*100, 2) — the
 * float32 cast happens BEFORE the division, so stored values carry float32
 * artifacts (10.58 → 10.579999923706055; SURVEY §1.4.4). We reproduce the
 * cast order exactly.
 *
 * Two builds with the same rows in the same order:
 *  - [[summary]] is the reference's shape, the lazy warehouse's path: two
 *    grouped aggregates over invalid/staged joined on the date key — the
 *    invalid-side groupBy is tiny (dates × ≤5 reasons) and broadcastable
 *    against the per-date totals;
 *  - [[fromSplit]] is the pipeline's path: one aggregate by date over
 *    [[Intermediate.split]], counting each reason beside the total.
 */
object DqSummary {

  private def eventDate: Column = col("ingestion_timestamp").cast("date").as("event_date")

  private def withPct(counts: DataFrame): DataFrame =
    counts.select(
      col("event_date"), col("invalid_reason"), col("invalid_count"),
      col("total_events"),
      round(col("invalid_count").cast("float") /
              nullif(col("total_events"), lit(0)) * 100, 2)
        .cast("float")   // DuckDB ROUND(FLOAT,2) stays FLOAT → float32 artifact (§1.4.4)
        .as("pct_of_total_events"))

  def summary(stg: DataFrame, invalid: DataFrame): DataFrame = {
    val invalidCounts = invalid
      .select(eventDate, col("invalid_reason"), col("event_id"))
      .groupBy("event_date", "invalid_reason")
      .agg(count("event_id").as("invalid_count"))

    val allEvents = stg
      .select(eventDate, col("event_id"))
      .groupBy("event_date")
      .agg(count("event_id").as("total_events"))

    withPct(invalidCounts.join(broadcast(allEvents), Seq("event_date"), "left"))
      .orderBy("event_date", "invalid_reason")
  }

  /**
   * The summary in one aggregate by date over the split: each date's total
   * and one count per reason, unpivoted into a row per reason that counted
   * a row. A null date's total is null, as the reference's equi-join on the
   * date leaves it. The result is a handful of rows per date, sorted in one
   * partition.
   */
  def fromSplit(split: DataFrame): DataFrame = {
    val reasons = Intermediate.reasons
    val byDate = split
      .groupBy(eventDate)
      .agg(count("event_id").as("total_events"), reasons.map(r =>
        count(when(col("invalid_reason") === r, col("event_id"))).as(r)): _*)
    // a reason with no rows gets a null label, not a literal one, so the
    // column stays nullable, as the reference's CASE leaves it
    val counts = byDate
      .select(col("event_date"), col("total_events"), explode(array(reasons.map(r =>
        struct(when(col(r) > 0, lit(r)).as("invalid_reason"), col(r).as("invalid_count"))): _*))
        .as("c"))
      .filter(col("c.invalid_reason").isNotNull)
      .select(col("event_date"), col("c.invalid_reason").as("invalid_reason"),
        col("c.invalid_count").as("invalid_count"),
        when(col("event_date").isNotNull, col("total_events")).as("total_events"))
    withPct(counts).coalesce(1).sortWithinPartitions("event_date", "invalid_reason")
  }
}

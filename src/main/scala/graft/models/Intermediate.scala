package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{missing, present}

/**
 * int_valid_logistics_events / int_invalid_logistics_events — the
 * complementary validity split.
 *
 * Reference: `logistics_pipeline/models/layer/intermediate/
 * int_valid_logistics_events.sql` and `int_invalid_logistics_events.SQL`.
 *
 * Rule 3 (`estimated_delivery >= timestamp`) is a STRING comparison — the
 * same-day-estimate case (`"2026-02-23" < "2026-02-23T01:09:36…"`, shorter
 * string is a prefix) classifies as invalid. Load-bearing (SURVEY §1.4.1).
 *
 * "Complementary" carries the reference's own three-valued-logic caveat
 * (r12 review): a staged row with a NULL `timestamp` (staging only drops
 * null/empty ids, never timestamps) lands on NEITHER side — rule 3
 * evaluates NULL in [[valid]]'s conjunction, and `is_invalid_delivery`'s
 * `false OR NULL = NULL` keeps it out of [[invalid]]'s disjunction too.
 * The reference SQL (`int_valid…sql:19` / `int_invalid…SQL:13-14`) behaves
 * identically under DuckDB, so reproducing the hole IS the parity contract;
 * such a row still counts in dq_invalid_delivery_summary's total_events,
 * exactly as it does there. The deployed generator never emits a null
 * timestamp, which is why the hole is latent in both systems.
 *
 * Both sides are narrow (filter / project only — no shuffle). The
 * validity predicate and the reason CASE each have one definition, which
 * [[valid]] / [[invalid]] and [[split]] share: [[split]] evaluates both once
 * per staged row, so one stored frame serves stg, valid and invalid.
 */
object Intermediate {

  /** The 5-rule conjunctive validity predicate (`int_valid_logistics_events.sql:6-29`). */
  private def validPred: Column =
    col("weight_kg") > 0f &&
      col("latitude").isNotNull && col("longitude").isNotNull &&
      col("estimated_delivery") >= col("timestamp") &&   // string compare!
      present(col("status")) &&
      present(col("origin")) && present(col("destination"))

  /** One violation flag: its column name, its predicate and the reason it labels. */
  private final case class Violation(flag: String, pred: Column, reason: String)

  /** The 5 violation flags (`int_invalid_logistics_events.SQL:6-20`), in
    * the CASE's priority order. */
  private def violations: Seq[Violation] = Seq(
    Violation("is_invalid_weight",
      col("weight_kg").isNull || col("weight_kg") <= 0f, "INVALID_WEIGHT"),
    Violation("is_missing_coordinates",
      col("latitude").isNull || col("longitude").isNull, "MISSING_COORDINATES"),
    Violation("is_invalid_delivery",
      col("estimated_delivery").isNull ||
        col("estimated_delivery") < col("timestamp"),    // string compare!
      "INVALID_ESTIMATED_DELIVERY"),
    Violation("is_missing_status", missing(col("status")), "MISSING_STATUS"),
    Violation("is_missing_location",
      missing(col("origin")) || missing(col("destination")), "MISSING_LOCATION"))

  /** Every `invalid_reason` value, in the CASE's priority order. */
  val reasons: Seq[String] = violations.map(_.reason)

  /**
   * The priority CASE (first-true-wins: weight > coordinates > delivery >
   * status > location; `int_invalid_logistics_events.SQL:22-57`) over each
   * violation's flag as `flag` gives it. It is non-null exactly when one
   * flag is true, so it also selects the invalid rows.
   */
  private def reasonCase(flag: Violation => Column): Column =
    violations.tail.foldLeft(when(flag(violations.head), violations.head.reason)) {
      (c, v) => c.when(flag(v), v.reason)
    }

  /** int_invalid's columns: every staged column but `timestamp`, which the
    * reference's `labelled` CTE drops, then the reason. */
  private val invalidColumns: Seq[String] = Seq(
    "event_id", "order_id", "estimated_delivery", "status", "origin",
    "destination", "carrier_name", "latitude", "longitude", "weight_kg",
    "ingestion_timestamp", "invalid_reason")

  /** The 5-rule conjunctive validity filter. */
  def valid(stg: DataFrame): DataFrame = stg.filter(validPred)

  /** Staged rows with the 5 violation flags as columns. */
  def flagged(stg: DataFrame): DataFrame =
    violations.foldLeft(stg)((df, v) => df.withColumn(v.flag, v.pred))

  /** Invalid rows, labelled via the priority CASE. */
  def invalid(stg: DataFrame): DataFrame =
    flagged(stg)
      .filter(violations.map(v => col(v.flag)).reduce(_ || _))
      .withColumn("invalid_reason", reasonCase(v => col(v.flag)))
      .select(invalidColumns.map(col): _*)

  /** Columns [[split]] adds to the staged frame. */
  private val splitColumns = Seq("is_valid", "invalid_reason")

  /**
   * The staged rows with the validity flag and `invalid_reason` added: one
   * narrow projection whose stored copy gives stg, valid and invalid by
   * projection and filter ([[stgOf]], [[validOf]], [[invalidOf]]). A
   * null-timestamp row has a null flag and a null reason, so it still lands
   * on neither side.
   */
  def split(stg: DataFrame): DataFrame =
    stg.withColumn("is_valid", validPred)
      .withColumn("invalid_reason", reasonCase(_.pred))

  def stgOf(split: DataFrame): DataFrame = split.drop(splitColumns: _*)

  def validOf(split: DataFrame): DataFrame =
    split.filter(col("is_valid")).drop(splitColumns: _*)

  def invalidOf(split: DataFrame): DataFrame =
    split.filter(col("invalid_reason").isNotNull).select(invalidColumns.map(col): _*)
}

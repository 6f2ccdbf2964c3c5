package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * dbt's four generic schema-test kinds as reusable DataFrame assertions, run
 * post-transform — the Spark analogue of `dbt test` over
 * `logistics_pipeline/models/layer/schema.yml` (40+ declared tests).
 *
 * Each test returns the VIOLATION COUNT (dbt's convention: a test passes iff
 * its compiled SELECT returns zero rows).
 */
object DbtStyleTests {

  /** `not_null` — rows where the column is null. */
  def notNull(df: DataFrame, column: String): Long =
    df.filter(col(column).isNull).count()

  /** `unique` — number of duplicated non-null key values. */
  def unique(df: DataFrame, column: String): Long =
    df.filter(col(column).isNotNull)
      .groupBy(column).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /** `accepted_values` — rows whose value falls outside the enumeration. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[Any]): Long =
    df.filter(col(column).isNotNull && !col(column).isin(values: _*)).count()

  /**
   * `relationships` — child FK values with no matching parent PK
   * (referential integrity; an anti-join, null FKs exempt per dbt).
   */
  def relationships(child: DataFrame, fk: String,
                    parent: DataFrame, pk: String): Long =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")
      .count()

  final case class TestResult(model: String, test: String, violations: Long) {
    def passed: Boolean = violations == 0L
  }

  /**
   * One row a test contributes to the suite's single pass, per row of
   * `frame`: the test's key (null for row-level tests), a violation flag and
   * a parent-row marker, for relationships.
   */
  private final case class Emit(frame: DataFrame, key: Column, flag: Column, parent: Column)

  /** Per test, over its key groups: summed flags, keys flagged more than
    * once, and flags of keys with no parent row. */
  private final case class Tally(flagged: Long, dupKeys: Long, orphans: Long)

  /** One declared test of the roster: its rows and the tally it reads. */
  private final case class Check(model: String, name: String, emits: Seq[Emit],
                                 violations: Tally => Long)

  private val noKey = lit(null).cast("string")
  private def flag(p: Column): Column = when(p, 1L).otherwise(0L)

  private def notNullCheck(model: String, df: DataFrame, c: String): Check =
    Check(model, s"not_null:$c",
      Seq(Emit(df, noKey, flag(col(c).isNull), lit(0L))), _.flagged)

  private def acceptedValuesCheck(model: String, df: DataFrame, c: String,
                                  values: Seq[Any]): Check =
    Check(model, s"accepted_values:$c",
      Seq(Emit(df, noKey, flag(col(c).isNotNull && !col(c).isin(values: _*)), lit(0L))),
      _.flagged)

  private def uniqueCheck(model: String, df: DataFrame, c: String): Check =
    Check(model, s"unique:$c",
      Seq(Emit(df, col(c).cast("string"), flag(col(c).isNotNull), lit(0L))), _.dupKeys)

  private def relationshipsCheck(model: String, child: DataFrame, fk: String,
                                 parent: DataFrame, pk: String): Check =
    Check(model, s"relationships:$fk", Seq(
      Emit(child, col(fk).cast("string"), flag(col(fk).isNotNull), lit(0L)),
      Emit(parent, col(pk).cast("string"), lit(0L), lit(1L))), _.orphans)

  /**
   * The FULL schema.yml test roster over a built warehouse, mirrored
   * declaration by declaration from
   * `logistics_pipeline/models/layer/schema.yml:1-192` (51 tests), plus one
   * beyond-schema bonus (status_name accepted_values against the conformed
   * status enumeration). Test names are `kind:column` per model, so the
   * suite output reads like `dbt test`'s.
   */
  private def roster(w: graft.models.Warehouse): Seq[Check] = {
    import graft.model.LogisticsEvent.validStatuses

    // (model, frame, not_null columns, unique columns) — schema.yml order
    val columnTests: Seq[(String, DataFrame, Seq[String], Seq[String])] = Seq(
      ("stg_logistics_events", w.stg,
        Seq("event_id", "order_id", "timestamp", "ingestion_timestamp"),
        Seq("event_id")),
      ("int_valid_logistics_events", w.valid,
        Seq("event_id"), Seq("event_id")),
      ("int_invalid_logistics_events", w.invalid,
        Seq("event_id", "invalid_reason"), Seq.empty),
      ("dq_invalid_delivery_summary", w.dqInvalidDeliverySummary,
        Seq("event_date", "invalid_reason", "invalid_count"), Seq.empty),
      ("dim_order", w.dimOrder,
        Seq("order_sk", "order_id"), Seq("order_sk", "order_id")),
      ("dim_time", w.dimTime,
        Seq("time_sk", "full_timestamp"), Seq("time_sk", "full_timestamp")),
      ("dim_status", w.dimStatus,
        Seq("status_sk", "status_name"), Seq("status_sk", "status_name")),
      ("dim_location", w.dimLocation,
        Seq("location_sk", "location_name"), Seq("location_sk", "location_name")),
      ("dim_carrier", w.dimCarrier,
        Seq("carrier_sk", "carrier_name"), Seq("carrier_sk", "carrier_name")),
      ("fact_event", w.factEvent,
        Seq("event_sk", "event_id", "order_sk", "time_sk", "status_sk",
          "origin_location_sk", "destination_location_sk", "carrier_sk",
          "is_late_delivery"),
        Seq("event_sk", "event_id")))

    val keyTests = columnTests.flatMap { case (m, df, nn, uq) =>
      nn.map(notNullCheck(m, df, _)) ++ uq.map(uniqueCheck(m, df, _))
    }

    val enumTests = Seq(
      // the enumeration the reason CASE labels with, so the two cannot drift
      acceptedValuesCheck("int_invalid_logistics_events", w.invalid, "invalid_reason",
        graft.models.Intermediate.reasons),
      acceptedValuesCheck("fact_event", w.factEvent, "is_late_delivery", Seq(true, false)),
      // beyond schema.yml: the conformed status enumeration
      acceptedValuesCheck("dim_status", w.dimStatus, "status_name", validStatuses))

    val relTests = Seq(
      ("order_sk", w.dimOrder, "order_sk"), ("time_sk", w.dimTime, "time_sk"),
      ("status_sk", w.dimStatus, "status_sk"), ("carrier_sk", w.dimCarrier, "carrier_sk"),
      ("origin_location_sk", w.dimLocation, "location_sk"),
      ("destination_location_sk", w.dimLocation, "location_sk")
    ).map { case (fk, dim, pk) => relationshipsCheck("fact_event", w.factEvent, fk, dim, pk) }

    keyTests ++ enumTests ++ relTests
  }

  /**
   * Run the whole roster as ONE Spark action. Every model frame is projected
   * once, with one `explode`, into `(test id, key, flag, parent)` rows; the
   * union is grouped by `(test, key)` and then by test, and collected:
   *  - not_null / accepted_values carry no key, so their flags combine
   *    map-side into one row per test and partition;
   *  - unique counts the keys whose group holds more than one flagged row;
   *  - relationships counts the flagged child rows of key groups with no
   *    parent row (null FKs carry flag 0: exempt, as in dbt).
   * Keys compare as strings; every keyed column of the roster is a string.
   *
   * Cost at scale: the unique and relationship keys are shuffled once, as
   * a groupBy or anti-join per test would shuffle them, while every
   * not_null/accepted_values flag is pre-aggregated before the exchange.
   * One query in place of one per test saves the per-query fixed cost
   * (planning, code generation, scheduling): nearly all of the suite's cost
   * on a small hourly increment. Each branch reads its model frame as given:
   * a checkpointed leaf on the pipeline's warehouse, the model's whole
   * lineage on lazy views.
   */
  def suite(w: graft.models.Warehouse): Seq[TestResult] = {
    val checks = roster(w)
    val tallies = tally(checks)
    checks.zipWithIndex.map { case (c, i) =>
      TestResult(c.model, c.name, c.violations(tallies.getOrElse(i, Tally(0L, 0L, 0L))))
    }
  }

  private def tally(checks: Seq[Check]): Map[Int, Tally] = {
    val emits = checks.zipWithIndex.flatMap { case (c, i) =>
      c.emits.map(e => e.frame ->
        struct(lit(i).as("t"), e.key.as("k"), e.flag.as("f"), e.parent.as("p")))
    }
    val projected = emits.map(_._1).distinct.map { df =>
      df.select(explode(array(emits.collect { case (d, r) if d eq df => r }: _*)).as("r"))
        .select("r.*")
    }
    projected.reduce(_ union _)
      .groupBy("t", "k").agg(sum("f").as("f"), sum("p").as("p"))
      .groupBy("t").agg(
        sum("f").as("flagged"),
        count(when(col("f") > 1, 1)).as("dup_keys"),
        coalesce(sum(when(col("p") === 0, col("f"))), lit(0L)).as("orphans"))
      .collect()
      .map(r => r.getInt(0) -> Tally(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }
}

package graft.quality

import graft.SparkSuite
import graft.model.LogisticsEvent.validStatuses
import graft.models.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/**
 * The one-pass `DbtStyleTests.suite` against the single-test functions it
 * replaces, on the fixture warehouse and on a corrupted copy where every
 * test kind fires; plus its action count and the storage it leaves alone.
 */
class DbtStyleTestsSpec extends SparkSuite {
  import DbtStyleTests._

  private def fixtureWarehouse(ingestedAt: String, cacheShared: Boolean): Warehouse =
    Warehouse.fromRaw(spark.read.parquet(fixturePath("raw_logistics.parquet")),
      lit(ingestedAt).cast("timestamp"), cacheShared)

  private lazy val w = fixtureWarehouse("2026-02-23 12:00:00", cacheShared = true)

  /** The schema.yml roster, test by test, through the single-test functions. */
  private def reference(w: Warehouse): Seq[TestResult] = {
    def nn(m: String, df: DataFrame, cs: String*) =
      cs.map(c => TestResult(m, s"not_null:$c", notNull(df, c)))
    def uq(m: String, df: DataFrame, cs: String*) =
      cs.map(c => TestResult(m, s"unique:$c", unique(df, c)))
    def av(m: String, df: DataFrame, c: String, vs: Seq[Any]) =
      Seq(TestResult(m, s"accepted_values:$c", acceptedValues(df, c, vs)))
    def rel(fk: String, dim: DataFrame, pk: String) =
      Seq(TestResult("fact_event", s"relationships:$fk",
        relationships(w.factEvent, fk, dim, pk)))

    nn("stg_logistics_events", w.stg,
      "event_id", "order_id", "timestamp", "ingestion_timestamp") ++
    uq("stg_logistics_events", w.stg, "event_id") ++
    nn("int_valid_logistics_events", w.valid, "event_id") ++
    uq("int_valid_logistics_events", w.valid, "event_id") ++
    nn("int_invalid_logistics_events", w.invalid, "event_id", "invalid_reason") ++
    nn("dq_invalid_delivery_summary", w.dqInvalidDeliverySummary,
      "event_date", "invalid_reason", "invalid_count") ++
    nn("dim_order", w.dimOrder, "order_sk", "order_id") ++
    uq("dim_order", w.dimOrder, "order_sk", "order_id") ++
    nn("dim_time", w.dimTime, "time_sk", "full_timestamp") ++
    uq("dim_time", w.dimTime, "time_sk", "full_timestamp") ++
    nn("dim_status", w.dimStatus, "status_sk", "status_name") ++
    uq("dim_status", w.dimStatus, "status_sk", "status_name") ++
    nn("dim_location", w.dimLocation, "location_sk", "location_name") ++
    uq("dim_location", w.dimLocation, "location_sk", "location_name") ++
    nn("dim_carrier", w.dimCarrier, "carrier_sk", "carrier_name") ++
    uq("dim_carrier", w.dimCarrier, "carrier_sk", "carrier_name") ++
    nn("fact_event", w.factEvent, "event_sk", "event_id", "order_sk", "time_sk",
      "status_sk", "origin_location_sk", "destination_location_sk", "carrier_sk",
      "is_late_delivery") ++
    uq("fact_event", w.factEvent, "event_sk", "event_id") ++
    av("int_invalid_logistics_events", w.invalid, "invalid_reason", Seq(
      "INVALID_WEIGHT", "MISSING_COORDINATES", "INVALID_ESTIMATED_DELIVERY",
      "MISSING_STATUS", "MISSING_LOCATION")) ++
    av("fact_event", w.factEvent, "is_late_delivery", Seq(true, false)) ++
    av("dim_status", w.dimStatus, "status_name", validStatuses) ++
    rel("order_sk", w.dimOrder, "order_sk") ++ rel("time_sk", w.dimTime, "time_sk") ++
    rel("status_sk", w.dimStatus, "status_sk") ++
    rel("carrier_sk", w.dimCarrier, "carrier_sk") ++
    rel("origin_location_sk", w.dimLocation, "location_sk") ++
    rel("destination_location_sk", w.dimLocation, "location_sk")
  }

  /** The first `n` values of a unique column, in order: a deterministic pick. */
  private def firstIds(df: DataFrame, column: String, n: Int): Seq[String] =
    df.select(column).orderBy(column).limit(n).collect().map(_.getString(0)).toSeq

  /**
   * The fixture warehouse with every test kind violated, built only from
   * deterministic filters, column overrides and unions.
   */
  private lazy val corrupted: Warehouse = {
    val Seq(a, b, c, d) = firstIds(w.factEvent, "event_id", 4)
    val Seq(i1, i2) = firstIds(w.invalid, "event_id", 2)
    val stgId = firstIds(w.stg, "event_id", 1).head
    def rows(df: DataFrame, column: String, v: String) = df.filter(col(column) === v)
    val nullString = lit(null).cast("string")

    val fact = w.factEvent
      // null FK: fails not_null, exempt from relationships
      .union(rows(w.factEvent, "event_id", a).withColumn("order_sk", nullString))
      // two orphan rows on one key per location role
      .union(rows(w.factEvent, "event_id", b).union(rows(w.factEvent, "event_id", c))
        .withColumn("origin_location_sk", lit("no-such-origin"))
        .withColumn("destination_location_sk", lit("no-such-destination")))
      // one key three times: 4 duplicated keys, 5 surplus rows
      .union(rows(w.factEvent, "event_id", d))
      .union(rows(w.factEvent, "event_id", d))
    w.copy(
      stg = w.stg.union(rows(w.stg, "event_id", stgId).withColumn("timestamp", nullString)),
      invalid = w.invalid
        .union(rows(w.invalid, "event_id", i1).withColumn("invalid_reason", lit("BOGUS")))
        .union(rows(w.invalid, "event_id", i2).withColumn("invalid_reason", nullString)),
      dimStatus = w.dimStatus.union(spark.range(1).select(
        md5(lit("Lost")).as("status_sk"), lit("Lost").as("status_name"))),
      dimLocation = w.dimLocation.union(
        rows(w.dimLocation, "location_sk", firstIds(w.dimLocation, "location_sk", 1).head)
          .withColumn("location_sk", nullString)),
      dimCarrier = w.dimCarrier
        .union(rows(w.dimCarrier, "carrier_name", "FedEx"))
        .union(rows(w.dimCarrier, "carrier_name", "FedEx")),
      factEvent = fact)
  }

  test("on the fixture warehouse: 52 results, all pass, equal to the single-test functions") {
    val results = suite(w)
    assert(results.size == 52)
    assert(results.forall(_.passed), s"failing: ${results.filterNot(_.passed)}")
    assert(results == reference(w))
  }

  test("on a corrupted warehouse every kind fires and every result equals the single-test functions") {
    val results = suite(corrupted)
    val expected = reference(corrupted)
    results.zip(expected).foreach { case (got, want) => assert(got == want) }
    assert(results.size == expected.size)

    val v = results.map(r => s"${r.model}.${r.test}" -> r.violations).toMap
    assert(v("stg_logistics_events.not_null:timestamp") == 1)
    assert(v("int_invalid_logistics_events.not_null:invalid_reason") == 1)
    assert(v("int_invalid_logistics_events.accepted_values:invalid_reason") == 1)
    assert(v("dim_status.accepted_values:status_name") == 1)
    assert(v("dim_location.not_null:location_sk") == 1)
    assert(v("dim_carrier.unique:carrier_name") == 1)  // one key, three rows
    assert(v("fact_event.unique:event_id") == 4)        // not the 5 surplus rows
    assert(v("fact_event.not_null:order_sk") == 1)
    assert(v("fact_event.relationships:order_sk") == 0) // null FKs are exempt
    assert(v("fact_event.relationships:origin_location_sk") == 2)
    assert(v("fact_event.relationships:destination_location_sk") == 2)
    assert(results.filterNot(_.passed).map(_.test.takeWhile(_ != ':')).toSet ==
      Set("not_null", "unique", "accepted_values", "relationships"))
  }

  test("the suite is one SQL action") {
    val built = w // building the warehouse checkpoints its models: one action each
    assert(sqlActions(suite(built)) == Seq("collect"))
  }

  test("the suite leaves every warehouse frame at the storage level it found") {
    def levels(w: Warehouse) = w.productIterator.map {
      case df: DataFrame => df.storageLevel
    }.toSeq

    val shared = fixtureWarehouse("2026-02-23 13:00:00", cacheShared = true)
    val plain = fixtureWarehouse("2026-02-23 14:00:00", cacheShared = false)
    for (wh <- Seq(shared, plain)) {
      val before = levels(wh)
      assert(before.size == 11)
      suite(wh)
      assert(levels(wh) == before)
    }
    // the ten shared models (every frame but raw) still read only stored
    // frames whose blocks are kept
    val persisted = spark.sparkContext.getPersistentRDDs
    shared.productIterator.drop(1).map(_.asInstanceOf[DataFrame]).foreach { df =>
      df.queryExecution.analyzed.collectLeaves().foreach {
        case leaf: LogicalRDD => assert(persisted.contains(leaf.rdd.id))
        case other => fail(s"not a checkpointed leaf: $other")
      }
    }
    assert(levels(plain).forall(!_.isValid))
  }
}

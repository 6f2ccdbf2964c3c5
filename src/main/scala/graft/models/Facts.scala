package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{present, surrogateKey}

/**
 * fact_event — the 6-way dimension join plus the derived late-delivery
 * measure.
 *
 * Reference: `logistics_pipeline/models/layer/facts/fact_event.sql`.
 *
 * All six joins are LEFT equi-joins preserving the event side; the location
 * dim joins twice (role-playing: origin / destination). `is_late_delivery`
 * compares `estimated_delivery` against the order's `latest_event_timestamp`
 * — another lexicographic string comparison (SURVEY §1.4.1); NULL comparison
 * yields false via the CASE's ELSE branch.
 *
 * Two builds with the same rows:
 *  - [[factEvent]] keeps the reference's six joins — the lazy warehouse's
 *    path;
 *  - [[factEventKeyed]] joins only dim_order — the pipeline's path. Each
 *    other dim's key set is exactly the set of its column's values in valid
 *    (present ones, for status, locations and carrier), so each of those
 *    five left joins matches exactly when that condition holds, and its key
 *    is the value's surrogate key, computed row by row. The `relationships`
 *    schema tests check these keys against the dims on every run.
 *
 * Scale notes (100 TB): the broadcasts are SIZE-GATED by what each dim can
 * grow to. `dim_status` (enumerated statuses) and `dim_carrier` (carriers)
 * are bounded small-cardinality dimensions — explicit `broadcast()` so the
 * fact side never shuffles for them. `dim_order`, `dim_time`, AND
 * `dim_location` are LINEAR-ISH IN THE FACT (≈ one row per distinct order /
 * per distinct event timestamp / per distinct origin+destination name — in
 * the reference fixture dim_location is 1,234 rows for 617 facts, every name
 * unique, so "bounded cities" is a data contract the data does NOT honor):
 * an unconditional broadcast hint on them is a driver/executor OOM at 100×
 * the reference scale, so they carry NO hint — in either build.
 * The planner then picks: auto-broadcast when runtime stats say they fit
 * (`spark.sql.autoBroadcastJoinThreshold`, or AQE's runtime conversion), and
 * a shuffle join otherwise — which becomes an Exchange-free sort-merge join
 * when fact and dim are bucketed on `order_id` via
 * [[graft.layout.TableLayout.writeBucketed]] (PlanShapeSpec proves both the
 * SMJ fallback and the zero-shuffle bucketed plan).
 */
object Facts {

  /** The fact's columns, given the event frame's columns `e` and each key. */
  private def factColumns(e: String => Column, orderSk: Column, timeSk: Column,
                          statusSk: Column, originSk: Column, destinationSk: Column,
                          carrierSk: Column, latestEventTimestamp: Column): Seq[Column] = Seq(
    surrogateKey(e("event_id")).as("event_sk"),
    e("event_id").as("event_id"),
    orderSk.as("order_sk"),
    timeSk.as("time_sk"),
    statusSk.as("status_sk"),
    originSk.as("origin_location_sk"),
    destinationSk.as("destination_location_sk"),
    carrierSk.as("carrier_sk"),
    e("weight_kg").as("weight_kg"),
    e("estimated_delivery").as("estimated_delivery"),
    when(e("estimated_delivery") < latestEventTimestamp, true)
      .otherwise(false).as("is_late_delivery"))

  def factEvent(
      valid: DataFrame,
      dimOrder: DataFrame,
      dimTime: DataFrame,
      dimStatus: DataFrame,
      dimLocation: DataFrame,
      dimCarrier: DataFrame): DataFrame = {

    val e = valid.as("e")
    val ord = dimOrder.select("order_sk", "order_id", "latest_event_timestamp").as("ord")
    val tim = dimTime.select("time_sk", "full_timestamp").as("tim")
    val sta = broadcast(dimStatus.select("status_sk", "status_name")).as("sta")
    val loc = dimLocation.select("location_sk", "location_name")
    val locOrig = loc.as("loc_orig")
    val locDest = loc.as("loc_dest")
    val car = broadcast(dimCarrier.select("carrier_sk", "carrier_name")).as("car")

    e
      .join(ord, col("e.order_id") === col("ord.order_id"), "left")
      .join(tim, col("e.timestamp") === col("tim.full_timestamp"), "left")
      .join(sta, col("e.status") === col("sta.status_name"), "left")
      .join(locOrig, col("e.origin") === col("loc_orig.location_name"), "left")
      .join(locDest, col("e.destination") === col("loc_dest.location_name"), "left")
      .join(car, col("e.carrier_name") === col("car.carrier_name"), "left")
      .select(factColumns(c => col(s"e.$c"),
        col("ord.order_sk"), col("tim.time_sk"), col("sta.status_sk"),
        col("loc_orig.location_sk"), col("loc_dest.location_sk"),
        col("car.carrier_sk"), col("ord.latest_event_timestamp")): _*)
  }

  /** The surrogate key of `c`'s value when present, else null: a left
    * join's key on a dim whose key set is exactly the present values. */
  private def presentKey(c: Column): Column = when(present(c), surrogateKey(c))

  def factEventKeyed(valid: DataFrame, dimOrder: DataFrame): DataFrame = {
    val ord = dimOrder.select("order_id", "order_sk", "latest_event_timestamp")
    valid
      .join(ord, Seq("order_id"), "left")
      .select(factColumns(col,
        col("order_sk"),
        when(col("timestamp").isNotNull, surrogateKey(col("timestamp"))), // '' is in dim_time too
        presentKey(col("status")),
        presentKey(col("origin")),
        presentKey(col("destination")),
        presentKey(col("carrier_name")),
        col("latest_event_timestamp")): _*)
  }
}

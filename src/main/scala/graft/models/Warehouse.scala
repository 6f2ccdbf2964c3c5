package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The whole view DAG wired together — the Spark analogue of `dbt run` over the
 * reference's model tree (every model `+materialized: view`,
 * `logistics_pipeline/dbt_project.yml:32-43`). [[Warehouse.models]] is the
 * one place a model is named, with its frame and its schema.yml tests;
 * `registerViews` and `DbtStyleTests.suite` iterate it.
 *
 * `fromRaw(cacheShared = false)` keeps the reference's views: plain lazy
 * DataFrames, recomputed on every read. Expanded, those views form one plan
 * of about 1,000 lines in which staging appears 7× (SURVEY §3.2); DuckDB
 * re-expands that cheaply, Spark re-analyzes, re-plans, serializes and
 * compiles all of it for every query that reads a model.
 *
 * `fromRaw(cacheShared = true)` — the pipeline's path — stores four
 * frames, each with one eager `localCheckpoint` at [[CheckpointLevel]], and
 * derives every model from them by projection and filter only:
 *  1. the split ([[Intermediate.split]]): stg plus the validity flag and
 *     `invalid_reason`, one narrow job. stg, valid and invalid read it;
 *  2. the five dimensions in one grouped pass over valid
 *     ([[Dimensions.grouped]]); each dim filters it by kind;
 *  3. fact_event, keyed row by row but for its one join, to dim_order
 *     ([[Facts.factEventKeyed]]);
 *  4. dq_invalid_delivery_summary, one aggregate by date over the split
 *     ([[DqSummary.fromSplit]]).
 * Every model's plan is then `Project`/`Filter` nodes over `LogicalRDD`
 * leaves, so every later plan (the schema tests, the dashboard publish,
 * each wire query) starts from stored blocks. Under AQE the build runs
 * seven Spark jobs, where one checkpoint per model ran 25.
 *  - Snapshot per run: the frames hold what that run built and tested. A
 *    later append to the raw table does not change them (only `raw` itself
 *    is still a lazy read of the table).
 *  - Lifetime: the blocks live until Spark's ContextCleaner frees them, once
 *    no warehouse, view or running query references them (it notices on a
 *    driver GC, forced every `spark.cleaner.periodicGC.interval`). Nothing
 *    here unpersists them: a dashboard query still running on a view that
 *    was just replaced keeps its data.
 *  - Local checkpoints drop lineage: blocks lost with an executor cannot
 *    be recomputed, and queries reading them fail. A cluster deployment
 *    would need a reliable checkpoint directory (`Dataset.checkpoint`);
 *    there is no option for it here.
 */
final case class Warehouse(
    raw: DataFrame,
    stg: DataFrame,
    valid: DataFrame,
    invalid: DataFrame,
    dimOrder: DataFrame,
    dimTime: DataFrame,
    dimStatus: DataFrame,
    dimLocation: DataFrame,
    dimCarrier: DataFrame,
    factEvent: DataFrame,
    dqInvalidDeliverySummary: DataFrame) {

  /** Every model in schema.yml order, raw first and untested: the one place a
    * view name is paired with its frame (the field itself) and its schema.yml
    * tests (`logistics_pipeline/models/layer/schema.yml:1-192`). */
  def models: Seq[Warehouse.Model] = {
    import Warehouse.Model
    // a dimension's surrogate and natural keys are each not_null and unique
    def dim(name: String, df: DataFrame, keys: String*) = Model(name, df, keys, keys)
    Seq(
      Model("raw_logistics", raw),
      Model("stg_logistics_events", stg,
        Seq("event_id", "order_id", "timestamp", "ingestion_timestamp"), Seq("event_id")),
      Model("int_valid_logistics_events", valid, Seq("event_id"), Seq("event_id")),
      Model("int_invalid_logistics_events", invalid, Seq("event_id", "invalid_reason"),
        // the enumeration the reason CASE labels with, so the two cannot drift
        acceptedCols = Seq("invalid_reason" -> Intermediate.reasons)),
      Model("dq_invalid_delivery_summary", dqInvalidDeliverySummary,
        Seq("event_date", "invalid_reason", "invalid_count")),
      dim("dim_order", dimOrder, "order_sk", "order_id"),
      dim("dim_time", dimTime, "time_sk", "full_timestamp"),
      dim("dim_status", dimStatus, "status_sk", "status_name"),
      dim("dim_location", dimLocation, "location_sk", "location_name"),
      dim("dim_carrier", dimCarrier, "carrier_sk", "carrier_name"),
      Model("fact_event", factEvent, Seq("event_sk", "event_id", "order_sk", "time_sk",
          "status_sk", "origin_location_sk", "destination_location_sk", "carrier_sk",
          "is_late_delivery"), Seq("event_sk", "event_id"),
        acceptedCols = Seq("is_late_delivery" -> Seq(true, false)),
        fks = Seq(("order_sk", "dim_order", "order_sk"), ("time_sk", "dim_time", "time_sk"),
          ("status_sk", "dim_status", "status_sk"), ("carrier_sk", "dim_carrier", "carrier_sk"),
          ("origin_location_sk", "dim_location", "location_sk"),
          ("destination_location_sk", "dim_location", "location_sk"))))
  }

  /** Register every model as a temp view (the `dbt run` step). */
  def registerViews(): Unit = models.foreach(m => m.frame.createOrReplaceTempView(m.name))
}

object Warehouse {

  /** One model: its view name, its frame and its schema.yml tests (not_null
    * and unique columns, accepted values per column, and relationships as
    * `(fk, parent view name, pk)`). */
  final case class Model(name: String, frame: DataFrame,
      notNullCols: Seq[String] = Nil, uniqueCols: Seq[String] = Nil,
      acceptedCols: Seq[(String, Seq[Any])] = Nil, fks: Seq[(String, String, String)] = Nil)

  /** Where `fromRaw(cacheShared = true)` keeps each model's blocks:
    * deserialized in memory, spilling to local disk. */
  val CheckpointLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK

  /**
   * Build the full model DAG from the raw table.
   *
   * @param ingestionTs injectable clock for staging (tests / oracle runs pass
   *                    a fixed literal; production uses `current_timestamp()`)
   * @param cacheShared store the four frames the models derive from, as
   *                    local checkpoints (see the class doc); false keeps the
   *                    lazy views and starts no Spark job
   */
  def fromRaw(
      raw: DataFrame,
      ingestionTs: Column = current_timestamp(),
      cacheShared: Boolean = false): Warehouse = {
    val stg = Staging.stg(raw, ingestionTs)
    if (cacheShared) stored(raw, stg)
    else {
      val valid = Intermediate.valid(stg)
      val invalid = Intermediate.invalid(stg)
      val dOrder = Dimensions.order(valid)
      val dTime = Dimensions.time(valid)
      val dStatus = Dimensions.status(valid)
      val dLocation = Dimensions.location(valid)
      val dCarrier = Dimensions.carrier(valid)
      val fact = Facts.factEvent(valid, dOrder, dTime, dStatus, dLocation, dCarrier)
      Warehouse(raw, stg, valid, invalid, dOrder, dTime, dStatus, dLocation,
        dCarrier, fact, DqSummary.summary(stg, invalid))
    }
  }

  private def stored(raw: DataFrame, stg: DataFrame): Warehouse = {
    def store(df: DataFrame): DataFrame =
      df.localCheckpoint(eager = true, storageLevel = CheckpointLevel)
    val split = store(Intermediate.split(stg))
    val valid = Intermediate.validOf(split)
    val dims = store(Dimensions.grouped(valid))
    val dOrder = Dimensions.orderOf(dims)
    Warehouse(raw, Intermediate.stgOf(split), valid, Intermediate.invalidOf(split),
      dOrder, Dimensions.timeOf(dims), Dimensions.statusOf(dims),
      Dimensions.locationOf(dims), Dimensions.carrierOf(dims),
      store(Facts.factEventKeyed(valid, dOrder)), store(DqSummary.fromSplit(split)))
  }
}

package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{present, surrogateKey}

/**
 * The five dimensions of the star schema, each a function of
 * int_valid_logistics_events.
 *
 * Reference: `logistics_pipeline/models/layer/dimension/dim_*.sql`.
 *
 * Two builds with the same rows:
 *  - [[order]], [[time]], [[status]], [[location]] and [[carrier]] are the
 *    reference's five views, one shuffle (distinct / groupBy) each — the
 *    lazy warehouse's path;
 *  - [[grouped]] computes all five in one grouped pass over valid, and
 *    [[orderOf]] … [[carrierOf]] project each dim from its stored result —
 *    the pipeline's path, one shuffle for the five.
 *
 * Scale notes (100 TB): every dim's output is tiny relative to the fact
 * (statuses: 6, carriers: 4, locations / orders / timestamps: sublinear in
 * events). Partial aggregation makes the shuffle map-side-combined.
 */
object Dimensions {

  /**
   * dim_order — per-order rollup (`dim_order.sql`).
   * `ANY_VALUE` ≈ Spark's `any_value` (both pick an arbitrary value per
   * group); MIN/MAX on the ISO-8601 `timestamp` strings are lexicographic,
   * which is chronological within the generator's fixed format.
   */
  def order(valid: DataFrame): DataFrame =
    valid.groupBy("order_id")
      .agg(
        any_value(col("destination")).as("destination"),
        any_value(col("origin")).as("origin"),
        min("weight_kg").as("weight_kg"),
        min("timestamp").as("first_event_timestamp"),
        max("timestamp").as("latest_event_timestamp"))
      .select(
        surrogateKey(col("order_id")).as("order_sk"),
        col("order_id"), col("destination"), col("origin"), col("weight_kg"),
        col("first_event_timestamp"), col("latest_event_timestamp"))

  /**
   * dim_time's calendar attributes of one `full_timestamp` (`dim_time.sql`).
   * DuckDB `EXTRACT(DOW …)` is Sunday=0; Spark `dayofweek` is Sunday=1,
   * hence the `- 1` (SURVEY §1.4.5). EXTRACT in DuckDB returns BIGINT —
   * keep LongType for schema parity.
   *
   * The casts are ANSI casts, as DuckDB's are: a `timestamp` that does not
   * parse (`''`, say) aborts the whole model build with
   * `CAST_INVALID_INPUT`, where DuckDB raises `ConversionException`. So the
   * DQ gate's `malformed_timestamps` check must run before the model build;
   * `Pipeline.run` does, and PipelineSpec pins that a blank timestamp stops
   * at the gate.
   */
  private def calendar(fullTs: Column): Seq[Column] = {
    val ts = fullTs.cast("timestamp")
    Seq(
      fullTs.cast("date").as("date"),
      year(ts).cast("long").as("year"),
      month(ts).cast("long").as("month"),
      dayofmonth(ts).cast("long").as("day"),
      hour(ts).cast("long").as("hour"),
      (dayofweek(ts) - 1).cast("long").as("day_of_week"))
  }

  /** dim_time — distinct timestamps expanded to calendar attributes (`dim_time.sql`). */
  def time(valid: DataFrame): DataFrame =
    valid.select(col("timestamp").as("full_timestamp")).distinct()
      .select(
        surrogateKey(col("full_timestamp")).as("time_sk") +:
          col("full_timestamp") +: calendar(col("full_timestamp")): _*)

  /** dim_status — distinct present statuses (`dim_status.sql`). */
  def status(valid: DataFrame): DataFrame =
    valid.filter(present(col("status")))
      .select(col("status").as("status_name")).distinct()
      .select(surrogateKey(col("status_name")).as("status_sk"), col("status_name"))

  /**
   * dim_location — origins ∪ destinations (UNION ALL), deduped by
   * `GROUP BY location_name` with MIN(lat)/MIN(lon) (`dim_location.sql`).
   */
  def location(valid: DataFrame): DataFrame = {
    val origins = valid.filter(present(col("origin")))
      .select(col("origin").as("location_name"), col("latitude"), col("longitude"))
    val destinations = valid.filter(present(col("destination")))
      .select(col("destination").as("location_name"), col("latitude"), col("longitude"))
    origins.unionByName(destinations)
      .groupBy("location_name")
      .agg(min("latitude").as("latitude"), min("longitude").as("longitude"))
      .select(
        surrogateKey(col("location_name")).as("location_sk"),
        col("location_name"), col("latitude"), col("longitude"))
  }

  /** dim_carrier — distinct present carriers (`dim_carrier.sql`). */
  def carrier(valid: DataFrame): DataFrame =
    valid.filter(present(col("carrier_name")))
      .select(col("carrier_name")).distinct()
      .select(surrogateKey(col("carrier_name")).as("carrier_sk"), col("carrier_name"))

  private val noText = lit(null).cast("string")
  private val noFloat = lit(null).cast("float")

  /** One `(kind, key, payload)` entry of [[grouped]]; a null key is dropped. */
  private def entry(kind: String, key: Column, origin: Column = noText,
                    destination: Column = noText, weight: Column = noFloat,
                    timestamp: Column = noText, latitude: Column = noFloat,
                    longitude: Column = noFloat): Column =
    struct(lit(kind).as("kind"), key.as("key"), origin.as("origin"),
      destination.as("destination"), weight.as("weight_kg"),
      timestamp.as("timestamp"), latitude.as("latitude"), longitude.as("longitude"))

  private def ifPresent(c: Column): Column = when(present(c), c)

  /**
   * All five dims in one grouped pass over valid. Each valid row explodes
   * into up to six `(kind, key, payload)` entries — its order, its
   * timestamp, its status and carrier when present, and its origin and
   * destination as locations — and one `groupBy(kind, key)` computes every
   * dim's aggregates and its surrogate key. A dim's aggregates read only
   * its own entries' payload; the others' are null.
   */
  def grouped(valid: DataFrame): DataFrame = {
    val lat = col("latitude")
    val lon = col("longitude")
    valid
      .select(explode(array(
        entry("order", col("order_id"), origin = col("origin"),
          destination = col("destination"), weight = col("weight_kg"),
          timestamp = col("timestamp")),
        entry("time", col("timestamp")),
        entry("status", ifPresent(col("status"))),
        entry("location", ifPresent(col("origin")), latitude = lat, longitude = lon),
        entry("location", ifPresent(col("destination")), latitude = lat, longitude = lon),
        entry("carrier", ifPresent(col("carrier_name"))))).as("e"))
      .select("e.*")
      .filter(col("key").isNotNull)
      .groupBy("kind", "key")
      .agg(
        any_value(col("destination")).as("destination"),
        any_value(col("origin")).as("origin"),
        min("weight_kg").as("weight_kg"),
        min("timestamp").as("first_event_timestamp"),
        max("timestamp").as("latest_event_timestamp"),
        min("latitude").as("latitude"),
        min("longitude").as("longitude"))
      .withColumn("sk", surrogateKey(col("key")))
  }

  private def ofKind(grouped: DataFrame, kind: String): DataFrame =
    grouped.filter(col("kind") === kind)

  def orderOf(grouped: DataFrame): DataFrame =
    ofKind(grouped, "order").select(
      col("sk").as("order_sk"), col("key").as("order_id"), col("destination"),
      col("origin"), col("weight_kg"), col("first_event_timestamp"),
      col("latest_event_timestamp"))

  def timeOf(grouped: DataFrame): DataFrame =
    ofKind(grouped, "time").select(
      col("sk").as("time_sk") +: col("key").as("full_timestamp") +:
        calendar(col("key")): _*)

  def statusOf(grouped: DataFrame): DataFrame =
    ofKind(grouped, "status").select(col("sk").as("status_sk"), col("key").as("status_name"))

  def locationOf(grouped: DataFrame): DataFrame =
    ofKind(grouped, "location").select(
      col("sk").as("location_sk"), col("key").as("location_name"),
      col("latitude"), col("longitude"))

  def carrierOf(grouped: DataFrame): DataFrame =
    ofKind(grouped, "carrier").select(col("sk").as("carrier_sk"), col("key").as("carrier_name"))
}

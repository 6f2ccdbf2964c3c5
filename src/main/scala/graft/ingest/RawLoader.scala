package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.LogisticsEvent

/**
 * Bronze → `raw_logistics` incremental load with key-based dedup.
 *
 * Reference: `src/warehouse/_init_duckdb.py:24-73` — CTAS on first run, then
 * `INSERT … WHERE event_id NOT IN (SELECT event_id FROM raw_logistics)`.
 *
 * `NOT IN (subquery)` is null-hostile (one NULL key ⇒ zero rows insert) while
 * Spark's `left_anti` is NOT EXISTS; we add the explicit `event_id IS NOT
 * NULL` guard on the existing side so behavior matches exactly even on
 * corrupt fixtures (SURVEY §2.1 S7 note).
 *
 * Scale notes: the anti-join shuffles both sides on `event_id` — at 100 TB
 * the "existing keys" side should be a compacted key index (or the dedup
 * moved into the streaming ingest via `dropDuplicates` + watermark,
 * `graft.streaming`); here we keep the reference's load-time semantics.
 */
object RawLoader {

  /** Read a bronze parquet glob with the canonical schema (schema-on-read, never inferred). */
  def readBronze(spark: SparkSession, glob: String): DataFrame =
    spark.read.schema(LogisticsEvent.schema).parquet(glob)

  /** bronze + ingestion_timestamp — the CTAS projection (`_init_duckdb.py:50-56`). */
  def withIngestionTs(bronze: DataFrame): DataFrame =
    bronze.withColumn("ingestion_timestamp", current_timestamp())

  /**
   * Rows of `incoming` whose event_id is not already present in `existing`.
   * The reference's NOT IN becomes: if ANY existing event_id is NULL, nothing
   * loads (null-hostile three-valued logic) — reproduced via the crossJoin
   * guard only when an exact NOT IN is demanded; by default we use the sane
   * NOT EXISTS (left_anti), identical on all non-corrupt data.
   */
  def dedupAgainst(incoming: DataFrame, existing: DataFrame,
                   exactNotIn: Boolean = false): DataFrame = {
    val existingKeys = existing.select("event_id")
    if (!exactNotIn)
      incoming.join(existingKeys.filter(col("event_id").isNotNull),
        Seq("event_id"), "left_anti")
    else {
      // NOT IN: empty result if any NULL key exists in `existing`.
      val hasNull = broadcast(
        existingKeys.agg(max(col("event_id").isNull).as("has_null")))
      incoming
        .join(existingKeys.filter(col("event_id").isNotNull), Seq("event_id"), "left_anti")
        .crossJoin(hasNull)
        .filter(!coalesce(col("has_null"), lit(false)))
        .drop("has_null")
    }
  }

  /**
   * Full incremental load: create-or-append into a parquet table directory.
   * First run = CTAS; subsequent runs = anti-join append (`_init_duckdb.py:43-69`).
   *
   * The loaded-row count rides the write itself via `observe()` — counting
   * first and then writing would evaluate the incoming-scan + anti-join
   * twice, i.e. two full passes over the load at scale (round-1 verdict
   * finding #2). The trade: an empty increment still performs the (empty)
   * append, which may leave a zero-row part file — semantically invisible
   * to readers.
   */
  def load(spark: SparkSession, bronzeGlob: String, tableDir: String): Long = {
    val incoming = withIngestionTs(readBronze(spark, bronzeGlob))
    // ONLY a missing table directory means "first run": a catch-all read
    // probe turned any transient read failure (object-store 503, credential
    // hiccup, one corrupt footer) into exists=false — appending the whole
    // increment WITHOUT the anti-join and permanently duplicating events. An
    // existing directory always takes the anti-join, whose read fails the
    // load on any such error.
    val tablePath = new org.apache.hadoop.fs.Path(tableDir)
    val exists = tablePath.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(tablePath)
    val toWrite =
      if (!exists) incoming
      else dedupAgainst(incoming,
        spark.read.schema(LogisticsEvent.rawSchema).parquet(tableDir))
    val obs = org.apache.spark.sql.Observation("raw_load")
    toWrite.observe(obs, count(lit(1)).as("n_loaded"))
      .write.mode("append").parquet(tableDir)
    obs.get("n_loaded").asInstanceOf[Long]
  }
}

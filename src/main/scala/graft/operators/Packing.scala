package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Sequence-packing planner: lay documents out as concatenated token streams
 * cut at `contextLen` — the example-construction step of an LLM pretraining
 * pipeline (every document lands at a deterministic offset of a shard's
 * stream; examples are `contextLen`-token windows of that stream).
 *
 * Scale shape: packing is embarrassingly parallel ACROSS shards and
 * inherently sequential WITHIN one (each document's offset depends on its
 * predecessors), so the operator shards first — the window's running sum
 * partitions by shard and each shard plans as an independent sorted
 * partition. A global (unsharded) layout would be a single-partition window,
 * the classic scale killer; `nShards` via `shardCol` is the parallelism knob
 * and shard streams are independent by construction, exactly like
 * per-worker data files in a real training job.
 *
 * Determinism: the within-shard order is (hash-bucket, key) — the same
 * engine-independent hash rank the sampling operators use — and offsets are
 * pure integer running sums, so any engine reproduces the exact layout
 * (the driver query's DuckDB oracle replays it row for row).
 */
object Packing {

  /**
   * Adds `shard`, `offset` (the document's first token position in its
   * shard's stream), and `pack_first`/`pack_last` (the examples it lands
   * in — a document straddles a cut when they differ).
   *
   * `shardCol` must be a deterministic pure function of the row (e.g.
   * `key % nShards`, or a hash bucket of the key).
   */
  def packPlan(df: DataFrame, keyCol: String, tokenCol: String,
               shardCol: Column, contextLen: Int,
               salt: String = ""): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    // Loud per-row guard (r12 review): a NULL or negative token count would
    // silently corrupt every LATER offset in the shard (the running sum
    // decreases), which no downstream check can localize. The guard rides
    // the projection, so corrupt counts fail the job with the offending
    // value instead of shipping a broken layout.
    val toks = when(col(tokenCol) >= 0, col(tokenCol))
      .otherwise(raise_error(concat(
        lit(s"packPlan: $tokenCol must be a non-negative token count, got "),
        coalesce(col(tokenCol).cast("string"), lit("NULL")))))
    val byStream = Window.partitionBy(col("shard"))
      .orderBy(Sampling.hexBucket(col(keyCol), salt), col(keyCol))
    df.withColumn("shard", shardCol)
      .withColumn("offset",
        coalesce(
          sum(toks).over(
            byStream.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("pack_first", floor(col("offset") / contextLen))
      // greatest(toks, 1): a zero-token document occupies no stream space,
      // so it lands wholly in the example it starts in — pack_last =
      // pack_first. The raw formula yielded floor((offset−1)/contextLen),
      // i.e. pack_last < pack_first (−1 at offset 0), which the straddle
      // test ("a document straddles a cut when they differ") misread as a
      // phantom straddle (r12 review).
      .withColumn("pack_last",
        floor((col("offset") + greatest(toks, lit(1)) - 1) / contextLen))
  }
}

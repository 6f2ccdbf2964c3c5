package graft.streaming

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Materializer
import graft.text.{FilterCascade, LmScore}

/**
 * Streaming corpus curation — the continuous version of the batch
 * curation pipeline: documents arrive on a stream; each micro-batch runs
 * the heuristic filter cascade and is scored against an OFFLINE-TRAINED
 * bigram LM ([[LmScore.train]] over a reference corpus, the production
 * shape: models retrain on a schedule, the stream applies the frozen
 * model); survivors append to a curated parquet sink, rejects append to an
 * audit sink WITH their drop reason / score, so the curation log the batch
 * pipeline produces exists for streamed ingestion too.
 *
 * foreachBatch rather than raw stream operators for one load-bearing
 * reason: the LM score is an aggregation (per-doc mean over exploded
 * bigrams), which as a native stream aggregation would accrete state-store
 * entries per document forever; inside foreachBatch it is a bounded BATCH
 * aggregation over the micro-batch, with the model tables broadcast —
 * exactly the batch operator's plan, applied incrementally. Same
 * at-least-once append contract as [[StreamingDedup]] (two sinks, one
 * checkpointed source; repair = idempotent re-append + dropDuplicates on
 * the id).
 */
object StreamingCuration {

  /** Columns the cascade/decision stages ADD to the batch. A batch that
    * already carries one of these names would be silently OVERWRITTEN by the
    * recipe's internal metric — and `kept.select(batch.columns)` would then
    * persist the metric in place of the source data (r11 review). Guarded
    * loudly in [[curateBatch]]; same reserved-name discipline as
    * `Shuffling`'s output-column guard. */
  private val reservedColumns = Seq(
    "n_ngrams", "dup_ngram_frac", "top_ngram_frac",       // repetitionMetrics
    "dup_ngram_char_frac", "top_ngram_char_frac",         // (r12 char twins)
    "n_tokens", "stopword_ratio", "lang",     // FilterCascade.gopherRecipe
    "kept", "drop_reason", "nll")             // decision + LM score

  /** One micro-batch: cascade → frozen-model LM score → split keep/drop.
    * Factored out of the closure so batch semantics are testable without a
    * streaming harness. Returns (kept, dropped-with-reason); their shared
    * stages are staged on `m`, which the caller closes once both are
    * written. */
  private[streaming] def curateBatch(
      batch: DataFrame, idCol: String, textCol: String,
      model: LmScore.BigramModel, maxNll: Double,
      m: Materializer): (DataFrame, DataFrame) = {
    val clashes = batch.columns.filter(reservedColumns.contains)
    require(clashes.isEmpty,
      s"batch columns ${clashes.mkString(", ")} collide with curation's " +
        "internal metric columns — the kept output would silently carry the " +
        s"recomputed metric instead of the source data. Reserved: " +
        s"${reservedColumns.mkString(", ")}")
    // Both returned frames are consumed by SEPARATE sink actions, and each
    // stage below is referenced twice — stage the shared ones so one
    // micro-batch runs the cascade and the LM scoring once, not ~4×
    // (r11 review).
    val decided = m.stage(FilterCascade.gopherRecipe(batch, textCol))
    val cascadeDrop = decided.filter(!col("kept"))
      .select(col(idCol), col(textCol),
        col("drop_reason"), lit(null).cast("double").as("nll"))
    val survivors = decided.filter(col("kept"))
      .select(batch.columns.map(col): _*)
    val scored = m.stage(
      LmScore.score(survivors, idCol, textCol, model, maxNll = maxNll))
    val kept = survivors.join(
      scored.filter(col("kept")).select(idCol), Seq(idCol), "left_semi")
    val lmDrop = survivors
      .join(scored.filter(!col("kept")).select(col(idCol), col("nll")),
        Seq(idCol), "inner")
      .select(col(idCol), col(textCol),
        lit("high_perplexity").as("drop_reason"), col("nll"))
    (kept, cascadeDrop.unionByName(lmDrop))
  }

  /** Start the stream: curated docs → `keptPath`, audit rows (id, text,
    * drop_reason, nll) → `droppedPath`.
    *
    * The model frames are persisted here for the stream's lifetime (r12
    * review): [[LmScore.score]] carries the model as scalar subqueries,
    * which re-execute per action — unpersisted, every micro-batch re-ran
    * the full training aggregation over the reference corpus, making
    * per-batch latency proportional to TRAINING-corpus size instead of
    * batch size. The frozen model the scaladoc promises is now frozen in
    * cache too (small: a 1-row combined model + the vocab²-bounded
    * tables). They stay cached after the query stops — release with
    * `model.unpersistAll()` if the session outlives the stream. */
  def start(newDocs: DataFrame, idCol: String, textCol: String,
            model: LmScore.BigramModel, keptPath: String, droppedPath: String,
            checkpoint: String, maxNll: Double = 6.0,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    model.persistAll()
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // materialize the micro-batch once — it feeds the cascade AND the
        // two sink actions; without this each action re-reads the source.
        // The batch and curateBatch's stages live on this batch's own handle
        // (r12 review), so closing it cannot release a concurrent
        // StreamingDedup batch's in-flight frames in the same session.
        Using.resource(new Materializer) { m =>
          val (kept, dropped) =
            curateBatch(m.stage(batch), idCol, textCol, model, maxNll, m)
          kept.write.mode("append").parquet(keptPath)
          dropped.write.mode("append").parquet(droppedPath)
        }
      }
      .start()
  }
}

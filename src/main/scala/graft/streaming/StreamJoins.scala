package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Watermarked stream-stream interval join — the Structured Streaming
 * operator family the ingest/session/stateful modules don't cover: match
 * each left-stream event with the right-stream events for the same key
 * whose event time falls in the preceding `maxSpanSeconds` window
 * (`l.ts − span ≤ r.ts ≤ l.ts` — e.g. "attach the order-created event to
 * its delivery confirmation").
 *
 * Scale shape: both sides declare watermarks, and the join condition
 * bounds event-time distance in BOTH directions, so Spark's state store
 * retains only rows inside `span + watermark slack` per side — state is
 * bounded by the stream RATE times the horizon, never by stream length.
 * Without the time bound (or with only one watermark) the join would be
 * forced to keep every row ever seen — the unbounded-state leak
 * `StatefulOps`' scaladoc warns about, here prevented by construction.
 *
 * The same plan runs on static frames (batch mode); StreamJoinsSpec pins
 * streamed ≡ static row-for-row.
 *
 * Output: every left column, plus the right side's non-key columns
 * suffixed `_r`.
 */
object StreamJoins {

  /** Both sides' watermark delay: how late an event may arrive and still
    * find its match; state is kept for `span + WatermarkDelay` per side. */
  private val WatermarkDelay = "10 minutes"

  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String,
                   maxSpanSeconds: Long): DataFrame = {
    // Loud collision guard (r12 review): the blanket `_r` suffix can mint a
    // name either side already carries — chaining two interval joins feeds
    // `status_r` back in as a left column, or the right side itself holds
    // both `x` and `x_r` — and the output's duplicate columns make every
    // later name-based reference throw AMBIGUOUS_REFERENCE far from here.
    val minted = right.columns.filterNot(_ == key).map(c => s"${c}_r")
    val collisions =
      (minted.toSet & (left.columns.toSet ++ right.columns.toSet)).toSeq.sorted
    require(collisions.isEmpty,
      s"intervalJoin: suffixed right column(s) ${collisions.mkString(", ")} " +
        "collide with an existing column — rename the inputs (e.g. the " +
        "previous join's *_r outputs) before joining")
    val l = left.withWatermark(leftTs, WatermarkDelay).alias("l")
    val rRenamed = right.columns.foldLeft(right) { (df, c) =>
      if (c == key) df else df.withColumnRenamed(c, s"${c}_r")
    }
    val r = rRenamed.withWatermark(s"${rightTs}_r", WatermarkDelay).alias("r")
    val cond =
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.${rightTs}_r") >= col(s"l.$leftTs") - expr(s"interval $maxSpanSeconds seconds") &&
        col(s"r.${rightTs}_r") <= col(s"l.$leftTs")
    l.join(r, cond, "inner").drop(col(s"r.$key"))
  }
}

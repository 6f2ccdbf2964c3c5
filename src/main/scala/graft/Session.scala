package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session every main runs in: `Bench`, `Verify` and the tools.
 *
 * Read from the environment:
 *  - `SPARK_GRAFT_CPUS`: `local[cpus]`, default `Runtime.availableProcessors`;
 *  - `SPARK_GRAFT_SHUFFLE`: shuffle width, default `min(cpus, 16)`;
 *  - `SPARK_GRAFT_AQE`: adaptive execution, default `false`.
 *
 * Shuffle width: re-swept late round 4 after the multi-second text queries
 * joined the set. The original sweep over sub-second queries favored 6-8
 * (totals 8.7/8.4/8.5/10.5/16.1 s at w=4/6/8/16/32 — task launch cost
 * dominates megabyte partitions), but the LM/curation queries explode ~3M
 * rows and were width-starved at 8: w=8 vs w=16 full-set totals 44.4 vs
 * 33.7 s — the small queries pay ≤ 0.1 s each while t_lm_perplexity_10x
 * halves (15.5 → 7.6) and t_curation_pipeline drops 6.5 → 2.5. Width 16 is
 * the better global trade. Production sessions size this to cluster cores.
 *
 * AQE is off by default: at bench scale its stage-materialization barriers
 * add fixed latency per query that swamps sub-second stages; measured
 * neutral-to-worse across the width sweep. At 100 TB with real shuffles the
 * trade-off reverses — production sessions should enable AQE for skew-join
 * splitting and partition coalescing.
 *
 * `events.parquet` carries nanosecond timestamps, which Spark reads only
 * with `nanosAsLong`.
 */
object Session {

  /** The session's Spark settings under environment `env`, master included. */
  def settings(env: Map[String, String]): Seq[(String, String)] = {
    val cpus = env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE", math.min(cpus, 16).toString),
      "spark.sql.adaptive.enabled" -> env.getOrElse("SPARK_GRAFT_AQE", "false"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // Latency trims for sub-second stages over megabyte-scale data: codec
      // startup per shuffle block costs more than the bytes it saves, both
      // on the shuffle path and in the cached-table columnar store.
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.broadcast.compress" -> "false",
      "spark.sql.inMemoryColumnarStorage.compressed" -> "false")
  }

  /** The session for this process's environment, logging at WARN. */
  def create(): SparkSession = {
    val spark = settings(sys.env)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/**
 * Probabilistic-verdict sanity check across scale factors: the CMS and HLL
 * audit queries end in a boolean the DuckDB oracle hard-codes `true`
 * (`within_bound`) — a guarantee that holds with
 * probability 1−δ per probe, made deterministic only by the fixed seeds
 * over the COMMITTED testdata (see the caveat in
 * [[graft.operators.HeavyHitters]]). Run this after regenerating testdata
 * or adding a scale factor, BEFORE trusting a hash mismatch as an
 * estimator bug: a non-zero count here means the data moved across a
 * probabilistic bound — re-pick the seed or widen the oracle bound.
 *
 * Usage: `./run-main.sh graft.tools.CheckVerdicts [sfDir ...]`
 * (defaults to sf0.01, sf0.1, and /tmp/sf1 if present).
 */
object CheckVerdicts {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.create()
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", "/tmp/sf1")
        .filter(d => new java.io.File(d).isDirectory)
    var bad = 0L
    for (dir <- dirs) {
      val cms = graft.SparkEntry.queries("t_cms_heavy_hitters")(spark, dir)
        .filter(!col("within_bound")).count()
      val hll = graft.SparkEntry.queries("a8_hll_union_rollup")(spark, dir)
        .filter(!col("within_bound")).count()
      val acd = graft.SparkEntry.queries("a8_approx_count_distinct")(spark, dir)
        .filter(!col("within_bound")).count()
      println(s"$dir: cms_bad=$cms hll_bad=$hll acd_bad=$acd")
      bad += cms + hll + acd
      graft.coverage.OperatorQueries.clearCache()
      graft.coverage.LlmOpQueries.clearCache()
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}

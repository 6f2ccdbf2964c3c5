package graft.coverage

import graft.SparkSuite
import org.apache.spark.sql.SparkSession

/**
 * Execution-config parity sweep: every driver query must produce identical
 * rows with adaptive query execution ON and OFF, and at a different
 * `spark.sql.shuffle.partitions` width.
 *
 * Why this matters: the certification path (`graft.Verify`/`graft.Bench`)
 * pins AQE off — at MB scale its stage barriers add seconds of pure
 * overhead — but a real multi-executor deployment of this library runs
 * Spark's default AQE ON (coalesced shuffle partitions, runtime join
 * re-planning, skew-join splitting). Operators here carry plan-shape
 * assumptions AQE is allowed to rewrite — scalar-subquery model carriers,
 * manually salted joins next to AQE's own skew handling, iterative
 * persist loops, single-partition bounded sorts — so "the oracle hashes
 * match with AQE off" does not by itself certify the deployed
 * configuration. This spec closes that gap structurally: the SAME
 * `SparkEntry.queries` plan, built on sibling sessions of one
 * SparkContext differing only in the execution config, must collect the
 * same multiset of rows.
 *
 * The width variant (7 vs the suite's 4 — coprime, and different from
 * Verify's 32) certifies partition-count invariance: on a 1000-executor
 * cluster the shuffle width is a sizing knob retuned per deployment, so no
 * result may depend on it. Anything leaning on `spark_partition_id`,
 * partition-local ordering, or per-partition state would diverge here;
 * the operators avoid those by design (hash-derived shard/pos in
 * Shuffling/Sampling/Packing, row-wise-pure mapPartitions in Multimodal)
 * and this sweep machine-checks that property for every query.
 *
 * Row comparison is order-insensitive (canonical string per row, sorted):
 * result ORDER is a partitioning artifact for the unordered queries, and
 * the ordered ones sort on total keys, so sorting loses nothing. The
 * queries' outputs are already rounded/stabilized for cross-engine hash
 * comparison (see OperatorQueries scaladoc), which is also what makes
 * them insensitive to AQE-induced partial-aggregation reordering.
 */
class AqeParitySpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  // sibling session on the same context; only the AQE flag differs from
  // the suite session (Spark 4 default: adaptive ON)
  private lazy val aqeOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  // sibling session at a different shuffle width (AQE at its default, so
  // this isolates the width term; 7 is coprime to the suite's 4 and to
  // Verify's 32, so hash→partition assignments genuinely differ)
  private lazy val width7: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s
  }

  /** Sibling sessions share the SparkContext's CacheManager, and a
    * persisted frame substitutes into ANY plan-equal subtree of a later
    * query — so a sketch or memoized table persisted during the AQE-on
    * collect would be read back (already computed under the AQE-on config)
    * by the AQE-off and width-7 collects, making the parity assertion
    * vacuous for those subtrees. Draining every library-managed cache
    * before each variant's collect forces a genuine re-execution under
    * that variant's config. */
  private def drainCaches(): Unit = {
    OperatorQueries.clearCache()
    LlmOpQueries.clearCache()
  }

  override def afterAll(): Unit = {
    // don't leak this suite's cached frames into later suites' plan matching
    try drainCaches()
    finally super.afterAll()
  }

  private def canonical(s: SparkSession, name: String): Seq[String] = {
    drainCaches()
    val df = graft.SparkEntry.queries(name)(s, sfDir)
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|#|"))
      .sorted
  }

  /** Two-tier battery (r10): the full all-driver-queries × 3-config sweep costs
    * ~30 loaded minutes — right once per round and on the final binary
    * (`GRAFT_FULL_PARITY=true sbt test`), wrong for the
    * certify-after-every-commit loop. The default tier sweeps a fixed
    * representative subset: every family with genuine config-sensitivity
    * risk — iterative persist/checkpoint loops (CC, BPE), manual salting
    * next to AQE's own skew handling (skew join, salted sessionize),
    * scalar-subquery model carriers (DSIR, LM), foreachBatch replay state,
    * persisted index tables (IVF), partition-width-sensitive hash sharding
    * (shuffle/mix), mapPartitions codecs (ImageIO), sketch aggregates
    * (HLL), bounded-sort fusion (top-k), positional census (span report),
    * and the broadcast anti-join (incremental dedup). Plain projections /
    * joins / aggregates ride only the full tier: their plans carry no
    * partition-local state to diverge. */
  private val fastTier: Set[String] = Set(
    "dedup_minhash_verified", "dedup_cluster_assign", "dedup_incremental",
    "dedup_streaming_replay", "dedup_span_report",
    "j_skew_salted", "j_asof_join", "j_range_join", "w_sessionize_salted",
    "samp_shuffle_shards", "samp_mix_weighted",
    "t_dsir_select", "t_lm_perplexity", "t_bpe_merges",
    "sim_ivf_indexed", "mm_decode_imageio",
    "a8_hll_union_rollup", "o3_top_k")

  private val fullSweep = sys.env.get("GRAFT_FULL_PARITY").contains("true")

  test("tier notice: which parity tier is running") {
    val names = graft.SparkEntry.queries.keys.toSet
    val missing = fastTier.diff(names)
    assert(missing.isEmpty, s"fast-tier names not in the driver map: $missing")
    info(if (fullSweep) s"FULL parity sweep: ${names.size} queries × 3 configs"
    else s"fast parity tier: ${fastTier.size} of ${names.size} queries — " +
      "run GRAFT_FULL_PARITY=true sbt test on the final binary")
  }

  for (name <- graft.SparkEntry.queries.keys.toSeq.sorted
       if fullSweep || fastTier.contains(name))
    test(s"$name: rows invariant under AQE on/off and shuffle width") {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val on = canonical(spark, name)
      val off = canonical(aqeOff, name)
      assert(on.size == off.size,
        s"AQE on/off row counts differ: ${on.size} vs ${off.size}")
      assert(on == off, "AQE on/off rows differ")
      val w7 = canonical(width7, name)
      assert(on.size == w7.size,
        s"width-4/width-7 row counts differ: ${on.size} vs ${w7.size}")
      assert(on == w7, "width-4/width-7 rows differ")
    }
}

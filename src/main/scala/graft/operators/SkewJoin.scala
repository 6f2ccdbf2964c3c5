package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Salted equi-join for skewed keys: when one join key holds a disproportionate
 * share of the large side's rows, a plain shuffle join lands that key's entire
 * row set on ONE reducer — the straggler that dominates the stage at 100 TB.
 *
 * The classic remedy, expressed declaratively:
 *  - large side: append a uniform salt in `[0, saltFactor)` — derived from a
 *    per-row xxhash64 over the row's columns, not from the key (salting by the
 *    key would map each key to one salt and change nothing);
 *  - small side: replicate each row once per salt value (`explode` of a
 *    literal range — a `saltFactor`× blowup of the SMALL side only);
 *  - join on (key, salt): each formerly-hot key now spreads over
 *    `saltFactor` reducers.
 *
 * The result set is identical to the unsalted join (every large row still
 * meets every matching small row exactly once — SkewJoinSpec proves equality
 * and the driver query is oracle-checked against the plain SQL join).
 *
 * This is the manual form; Spark's AQE skew-join (`skewJoin.enabled`) does
 * the same split adaptively from runtime stats and should be preferred when
 * sizes are unknown. The manual operator wins when the skew is KNOWN and
 * stable (AQE only splits post-shuffle partitions of sort-merge joins, and
 * only after the skewed partition has already been written out by the map
 * side) — and it composes with any join type Spark plans.
 */
object SkewJoin {

  /**
   * Inner equi-join `large ⋈ small` on `largeKey = smallKey`, salted
   * `saltFactor` ways. Column sets must be disjoint (as with a plain join);
   * the salt columns are internal and dropped.
   */
  def saltedJoin(large: DataFrame, largeKey: String,
                 small: DataFrame, smallKey: String,
                 saltFactor: Int = 8): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    // Any per-row salt assignment yields the same join RESULT; hashing the
    // row's own columns keeps it deterministic for a given row (plan-order
    // independent, unlike monotonically_increasing_id).
    val salted = large.withColumn("__salt",
      pmod(xxhash64(large.columns.map(col): _*), lit(saltFactor)).cast("int"))
    // shuffle_hash on the replicated dim: a sort-merge join would sort BOTH
    // shuffled sides; hashing the (still small·saltFactor) side skips both
    // sorts. Broadcast would defeat the exercise — a broadcast join never
    // skews in the first place; this operator exists for dims past the
    // broadcast threshold.
    val replicated = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
      .hint("shuffle_hash")
    salted.join(replicated,
        salted("__salt") === replicated("__salt") &&
          salted(largeKey) === replicated(smallKey))
      .drop("__salt")
  }

  /**
   * TARGETED salting — the production form: detect the hot keys from a
   * SAMPLE of the large side, salt only those, and replicate each small-side
   * row only if its key is hot. Blanket salting ([[saltedJoin]]) pays the
   * `saltFactor`× small-side replication and the widened join condition for
   * EVERY key, hot or not; at scale the replication alone multiplies the
   * dim's shuffle volume. Here cold keys join exactly as in a plain shuffle
   * join (salt 0, one dim copy) and only the hot keys fan out.
   *
   * Correctness does not depend on the detection: salting any subset of
   * keys is result-preserving (each large row still meets each matching
   * small row exactly once — for a hot key, on the row's own salt; for a
   * cold key, on salt 0), so sampling noise costs only efficiency, never
   * rows. The sample → count → threshold pipeline is the same decision
   * AQE's skew-join makes from map-output statistics, expressed
   * declaratively; the hot-key list is aggregate-bounded (≤ 1/hotShare
   * keys can each hold ≥ hotShare of the sample) and broadcasts.
   *
   * Shape note (r7): a scalar-subquery hot-key ARRAY carrier (the LM
   * model-carrier pattern — `array_contains` membership instead of the two
   * broadcast hash joins) was built and same-JVM A/B-measured SLOWER at
   * sf0.1 (0.45 s vs 0.36 s): the broadcast builds overlap the fact scan,
   * while the subquery chain serializes ahead of both sides, and the
   * detection cost itself — one sample scan + grouped count — is identical
   * either way. The broadcast form is kept; at real scale both forms ship
   * the same bounded list once per executor.
   *
   * @param sampleFraction fraction of the large side sampled for detection
   *                       (scale this DOWN as the input grows — detection
   *                       needs a fixed absolute sample, not a fixed rate)
   * @param hotShare       a key is hot if it holds ≥ this share of sampled
   *                       rows (also floor-of-2 rows, so a 1-row sample
   *                       cannot declare a hot key)
   */
  def saltedJoinTargeted(large: DataFrame, largeKey: String,
                         small: DataFrame, smallKey: String,
                         saltFactor: Int = 8,
                         sampleFraction: Double = 0.01,
                         hotShare: Double = 0.01): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    val sampled = large.select(col(largeKey).as("__k"))
      .sample(withReplacement = false, sampleFraction, seed = 42L)
    // Detection pays ONE scan of the large side (r11 review): the sample
    // total derives from the grouped counts (sum(__c) == count(*) of the
    // sample), so both consumers share the identical groupBy subplan.
    val grouped = sampled.groupBy("__k").agg(count(lit(1)).as("__c"))
    // ONE detection job, not two (r15, r14 verdict item 4): the previous
    // total-as-crossJoin(broadcast(agg)) form nested a broadcast build
    // inside the hot-list broadcast build — sample scan → total broadcast →
    // hot broadcast → main join, three SERIALIZED driver barriers, measured
    // as ~half the query's isolated floor (r13 isolated min-of-10 variant
    // ladder: targeted 0.52 s vs detection-free 0.28 s). The sample total is
    // instead an unpartitioned window sum over the GROUPED counts — per-key
    // rows of a bounded sample, a few thousand rows on one task — so the
    // whole hot-key list builds in the one job that broadcasts it. Same
    // counts, same threshold, same hot set; and salting any subset of keys is
    // result-preserving anyway (SkewJoinSpec pins result equality against
    // blanket and plain joins).
    val hot = grouped
      .withColumn("__n", sum(col("__c")).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("__c") >= greatest(col("__n") * hotShare, lit(2.0)))
      .select(col("__k"), lit(1).as("__hot"))

    val salted = large
      .join(broadcast(hot), large(largeKey) === hot("__k"), "left")
      .withColumn("__salt", when(col("__hot").isNotNull,
        pmod(xxhash64(large.columns.map(col): _*), lit(saltFactor)).cast("int"))
        .otherwise(lit(0)))
      .drop("__k", "__hot")
    val replicated = small
      .join(broadcast(hot), small(smallKey) === hot("__k"), "left")
      .withColumn("__salt", explode(when(col("__hot").isNotNull,
        array((0 until saltFactor).map(lit): _*)).otherwise(array(lit(0)))))
      .drop("__k", "__hot")
      .hint("shuffle_hash")
    salted.join(replicated,
        salted("__salt") === replicated("__salt") &&
          salted(largeKey) === replicated(smallKey))
      .drop("__salt")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic global shuffle + sharding — the "randomize training order"
 * step of a training-data pipeline, made reproducible and cluster-shaped.
 *
 * `orderBy(rand())` fails twice at 100 TB: the order changes on every run
 * (and every task retry — a non-deterministic sort key can violate Spark's
 * retry semantics), and a single total sort range-shuffles the full corpus
 * through one global ordering. This operator instead derives everything from
 * `md5(seed : key)`:
 *
 *  - `shard` — the first 4 hex chars (a uniform 16-bit bucket) mod
 *    `nShards`. Narrow, engine-portable (any md5-capable engine assigns the
 *    identical shard — the DuckDB oracle replays it with string arithmetic),
 *    and stable under corpus appends: a row's shard never changes when the
 *    corpus grows. Residue bias is ≤ nShards/65536 (< 0.1% for nShards ≤ 64;
 *    shard counts at 100 TB are ~thousands, still < 3% at 2048).
 *  - `pos` — the row's position WITHIN its shard, by hash order (ties broken
 *    on the key): one `row_number` per shard partition, all shards ranked in
 *    parallel. No global sort ever happens; the only wide exchange is the
 *    hash partition on `shard`, which is exactly the write layout.
 *
 * Downstream a trainer reads shard files in index order and rows in `pos`
 * order and sees a reproducible global permutation (shard-major). Re-shuffle
 * for another epoch = a different `seed`, same plan.
 */
object Shuffling {

  /** The row's 32-hex-char shuffle key: md5 of "seed:key". */
  def shuffleKey(key: Column, seed: String): Column =
    md5(concat_ws(":", lit(seed), key.cast("string")))

  /** Shard assignment from a shuffle-key column: value of the first 4 hex
    * chars (0..65535) mod nShards. `conv` is Spark-side; the engine-portable
    * definition is plain per-digit arithmetic (see the DuckDB oracle). */
  def shardOf(shuffleKey: Column, nShards: Int): Column =
    pmod(conv(substring(shuffleKey, 1, 4), 16, 10).cast("long"), lit(nShards.toLong))

  /**
   * Adds (`shard`, `pos`) to `df`: a reproducible shard-major global
   * permutation keyed by `keyCol`. One shuffle (hash on `shard`), per-shard
   * window ranking — shards rank concurrently across the cluster.
   */
  /** The operator's output/scratch column names: inputs must not carry
    * them — `withColumn` would REPLACE the input column in place, shifting
    * layouts (positional ranking would crash or corrupt) and silently
    * losing caller data. */
  private def requireNoReserved(df: DataFrame): Unit = {
    val clash = df.columns.toSet.intersect(Set("__sk", "shard", "pos"))
    require(clash.isEmpty,
      s"input already has column(s) ${clash.mkString(", ")} — reserved by " +
        "Shuffling output; rename or drop them first (re-sharding an " +
        "already-sharded corpus: drop the old shard/pos)")
  }

  def shuffled(df: DataFrame, keyCol: String, seed: String,
               nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    requireNoReserved(df)
    val k = shuffleKey(col(keyCol), seed)
    val w = Window.partitionBy(col("shard")).orderBy(col("__sk"), col(keyCol))
    df.withColumn("__sk", k)
      .withColumn("shard", shardOf(col("__sk"), nShards))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__sk")
  }

  /**
   * [[shuffled]]'s output from ONE exchange: hash-repartition on `shard`
   * (width `nShards` — the write layout), sort partition-locally by
   * (shard, hash, key), then rank each shard with a running counter in a
   * single narrow pass. Row-for-row identical to [[shuffled]]
   * (ShufflingSpec pins parity): hash partitioning puts a shard's rows in
   * exactly one partition, and the partition-local sort is the same total
   * order the Window version ranks in. What it buys: the Window operator's
   * separate `Exchange(hashpartitioning(shard))` disappears, so a consumer
   * that wants shard-partitioned output ([[writeShuffled]]) pays ONE
   * wide exchange for mix+rank+layout instead of two. What it costs: the
   * ranking pass is a `mapPartitions` outside whole-stage codegen — per-row
   * ser/de where the Window version stays in Tungsten. Measured
   * (alternating reps, min per variant, NOTES_r10): a WASH at single-node
   * sf0.1/sf1 where the parquet write dominates; the deleted exchange is
   * network+spill of the FULL corpus, which is what matters on a real
   * cluster, so the write path keeps this form. For an in-plan consumer the
   * A/B was ~10% negative — [[graft.operators.Mixing.mixShuffled]] keeps the
   * Window form.
   */
  def shuffledLocalRank(df: DataFrame, keyCol: String, seed: String,
                        nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    requireNoReserved(df)
    val n = df.schema.size
    val sorted = df
      .withColumn("__sk", shuffleKey(col(keyCol), seed))
      .withColumn("shard", shardOf(col("__sk"), nShards))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__sk"), col(keyCol))
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+
        org.apache.spark.sql.types.StructField("shard",
          org.apache.spark.sql.types.LongType,
          nullable = true) :+ // matches the Window form (conv/pmod nullability)
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType, nullable = false))
    val outEncoder = org.apache.spark.sql.Encoders.row(outSchema)
    sorted.mapPartitions { it =>
      // rows arrive sorted by (shard, __sk, key); shards never span
      // partitions, so a running counter per shard run IS row_number
      var curShard = Long.MinValue
      var pos = 0L
      it.map { r =>
        val shard = r.getLong(n + 1) // __sk at n, shard at n + 1
        if (shard != curShard) { curShard = shard; pos = 0L }
        pos += 1
        org.apache.spark.sql.Row.fromSeq(
          (0 until n).map(r.get) :+ shard :+ pos)
      }
    }(outEncoder).toDF()
  }

  /**
   * Write the shuffled corpus as `nShards` shard directories, rows sorted in
   * shuffle order inside each file, paying ONE wide exchange total:
   * [[shuffledLocalRank]]'s hash-repartition on `shard` IS the write
   * layout, and its partition-local (shard, pos) order IS the file order —
   * no second `repartition`, no range exchange, no global barrier. (The
   * Window-based form paid that exchange twice: once under the Window,
   * once for the write layout.) Trainers stream shard k's file(s)
   * sequentially.
   */
  def writeShuffled(df: DataFrame, keyCol: String, seed: String,
                    nShards: Int, path: String): Unit =
    shuffledLocalRank(df, keyCol, seed, nShards)
      // rows already stream out in (shard, pos) order; this partition-local
      // sort re-states it declaratively so the dynamic-partition write's
      // required ordering is provably satisfied (no planner-inserted sort
      // with its own stability rules), and it is no exchange
      .sortWithinPartitions("shard", "pos")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
}

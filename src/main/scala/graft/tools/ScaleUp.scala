package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-proof data materializer (tooling, not library surface): replicates
 * the driver-generated testdata star schema `factor`× with consistent
 * foreign-key remapping, so the full bench can run at sf1 (or beyond) and
 * per-query scaling ratios can be published (round-4 verdict #1).
 *
 * Key discipline — every replica k offsets each key family by
 * `k * (max_key + 1)` of its own table, applied consistently on both sides
 * of every FK edge (orders.o_custkey moves with customer.c_custkey,
 * lineitem moves with orders/part/supplier), so join fan-outs, group
 * cardinalities, and match rates grow the way real data growth grows them:
 * 10× entities, same per-entity row distribution. region/nation stay fixed
 * (bounded real-world dims — scaling them would shrink per-nation groups
 * instead of growing the data).
 *
 * Text and vectors get DISJOINT content per replica, not verbatim copies:
 * documents token-suffix `_r<k>` (the same vocabulary-disjoint idiom as the
 * 10× bench corpora), embeddings flip signs on a per-(replica, dim) hash.
 * Verbatim copies would plant N exact duplicates of every doc/vector and
 * turn every LSH bucket quadratic — measuring a pathology we deliberately
 * constructed, not scaling. Replica 0 is byte-identical to the source, so
 * the scaled set strictly contains the original.
 *
 * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
 */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorStr) = args
    val factor = factorStr.toInt
    val spark = graft.Session.create()
    import spark.implicits._

    def table(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** Offset unit for one key family: max+1, so replica key-spaces are
      * disjoint and replica 0 keeps the original values. */
    def unit(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val ks = broadcast(spark.range(factor).toDF("k"))
    /** factor× the rows: one narrow cross with the tiny replica index —
      * no shuffle, each input partition emits its replicas in place. */
    def replicate(df: DataFrame): DataFrame = df.crossJoin(ks)

    def shift(c: String, u: Long) = (col(c) + col("k") * u).as(c)

    val (customer, orders, lineitem, part, supplier) =
      (table("customer"), table("orders"), table("lineitem"),
        table("part"), table("supplier"))
    val (uCust, uOrd, uPart, uSupp) =
      (unit(customer, "c_custkey"), unit(orders, "o_orderkey"),
        unit(part, "p_partkey"), unit(supplier, "s_suppkey"))

    def write(name: String, df: DataFrame): Unit = {
      df.drop("k").write.mode("overwrite").parquet(s"$dst/$name.parquet")
      val n = spark.read.parquet(s"$dst/$name.parquet").count()
      println(s"[ScaleUp] $name: $n rows")
    }

    // Fixed real-world dims: copy through unchanged.
    write("region", table("region"))
    write("nation", table("nation"))

    write("customer", replicate(customer)
      .select(shift("c_custkey", uCust) +: customer.columns.toSeq
        .filter(_ != "c_custkey").map(col): _*))
    write("part", replicate(part)
      .select(shift("p_partkey", uPart) +: part.columns.toSeq
        .filter(_ != "p_partkey").map(col): _*))
    write("supplier", replicate(supplier)
      .select(shift("s_suppkey", uSupp) +: supplier.columns.toSeq
        .filter(_ != "s_suppkey").map(col): _*))
    write("orders", replicate(orders)
      .select(shift("o_orderkey", uOrd), shift("o_custkey", uCust),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    write("lineitem", replicate(lineitem)
      .select(shift("l_orderkey", uOrd), shift("l_partkey", uPart),
        shift("l_suppkey", uSupp), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))

    // events: 10× users emitting over the SAME wall-clock window — load
    // grows per minute-bucket, the window count stays fixed, which is how
    // event volume actually scales.
    val events = table("events")
    write("events", replicate(events)
      .select(shift("event_id", unit(events, "event_id")),
        col("ts"), shift("user_id", unit(events, "user_id")),
        col("event_type"), col("value"), col("props")))

    // documents: vocabulary-disjoint replicas (token suffix `_r<k>`; k=0
    // byte-identical) so dedup/LSH queries scale over GENUINELY distinct
    // content; n_chars tracks the rewritten text.
    val documents = table("documents")
    write("documents", replicate(documents)
      .withColumn("text", when(col("k") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1_r"), col("k")))))
      .select(shift("doc_id", unit(documents, "doc_id")), col("text"),
        col("lang"), col("source"), length(col("text")).as("n_chars")))

    // embeddings: per-(k, dim) deterministic sign flips decorrelate the
    // replicas (norms and intra-replica geometry preserved; cross-replica
    // cosines break) so ANN/near-dup buckets grow linearly, not 10 exact
    // copies per bucket.
    val embeddings = table("embeddings")
    write("embeddings", replicate(embeddings)
      .withColumn("embedding", when(col("k") === 0, col("embedding"))
        .otherwise(zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(pmod(hash(col("k"), i), lit(2)) === 0, x)
            .otherwise(-x))))
      .select(shift("vec_id", unit(embeddings, "vec_id")),
        col("embedding"), col("label")))

    spark.stop()
  }
}

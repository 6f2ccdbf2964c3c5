package graft.operators

import graft.SparkSuite
import graft.expressions.SketchExpressions
import org.apache.spark.sql.functions._

class HeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  test("cms_estimate round-trips the count_min_sketch aggregate exactly when wide") {
    // width 2/eps = 2000 cells for 4 distinct items → no collisions, so
    // every estimate must equal the true count (CMS is exact sans collision)
    val df = (Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d")).toDF("w")
    val sk = df.agg(expr("count_min_sketch(w, 0.001d, 0.99d, 42)").as("sk"))
    val est = df.distinct()
      .crossJoin(sk)
      .select(col("w"), SketchExpressions.cms_estimate(col("sk"), col("w")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 7L, "b" -> 3L, "c" -> 1L, "d" -> 1L))
  }

  test("estimates never undercount, even with a deliberately tiny sketch") {
    // eps 0.9 → width 3: collisions guaranteed over 50 distinct items; the
    // one-sided CMS guarantee (estimate ≥ truth) must still hold for all
    val df = (1 to 50).flatMap(i => Seq.fill(i % 5 + 1)(s"tok$i")).toDF("w")
    val sk = df.agg(expr("count_min_sketch(w, 0.9d, 0.5d, 7)").as("sk"))
    val truth = df.groupBy("w").count()
    val bad = truth.crossJoin(sk)
      .select(col("w"), col("count"),
        SketchExpressions.cms_estimate(col("sk"), col("w")).as("est"))
      .filter(col("est") < col("count"))
    assert(bad.count() === 0)
  }

  test("weighted CMS over grouped counts ≡ builtin CMS over the raw stream, byte for byte") {
    // the r7 one-pass audit shape rests on this: additive counters make the
    // sketch of (term, count) weighted inserts bit-identical to the
    // unweighted sketch of the expanded occurrence stream
    val raw = (1 to 40).flatMap(i => Seq.fill(i % 7 + 1)(s"tok${i % 11}")).toDF("w")
    val fromStream = raw
      .agg(expr("count_min_sketch(w, 0.01d, 0.99d, 42)").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    val fromGrouped = raw.groupBy("w").agg(count(lit(1)).as("n"))
      .agg(SketchExpressions.cms_weighted(col("w"), col("n"), 0.01, 0.99, 42).as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(fromStream, fromGrouped),
      s"${fromStream.length} vs ${fromGrouped.length} bytes")
    // nulls and non-positive weights contribute nothing
    val withJunk = raw.groupBy("w").agg(count(lit(1)).as("n"))
      .unionByName(Seq((null.asInstanceOf[String], 5L), ("ghost", 0L), ("anti", -3L))
        .toDF("w", "n"))
      .agg(SketchExpressions.cms_weighted(col("w"), col("n"), 0.01, 0.99, 42).as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(fromStream, withJunk))
  }

  test("top-k verdict query: exact counts, all within the eps bound on real docs") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "a cat and a dog")).toDF("doc_id", "text")
    val out = HeavyHitters.topTermsWithCmsVerdict(docs, "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(out.head === (("the", 3L, true)))
    assert(out.forall(_._3), s"verdict tripped: ${out.mkString(", ")}")
    // top-3 by (count desc, term): the=3, then a/cat/dog/sat at 2 → a, cat
    assert(out.map(_._1).toSeq === Seq("the", "a", "cat"))
  }

  test("sketchFromGrouped (the scale path) yields the identical verdict frame") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val concurrent = HeavyHitters
      .topTermsWithCmsVerdict(docs, "text", k = 20).collect().toSeq
    val fromGrouped = HeavyHitters
      .topTermsWithCmsVerdict(docs, "text", k = 20, sketchFromGrouped = true)
      .collect().toSeq
    assert(concurrent === fromGrouped)
    assert(concurrent.size === 20)
  }

  test("sketchFromGrouped reads the persisted vocabulary in BOTH consumers") {
    // ADVICE r7: exchange/subquery reuse across a scalar-subquery boundary
    // is not guaranteed (notably under AQE), so the single-vocabulary-pass
    // claim is made true by persisting the grouped count — pin that the
    // cache actually serves the sketch subquery AND the main top-k, and
    // that the concurrent default keeps its two intentional scans.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def cacheScans(df: org.apache.spark.sql.DataFrame): Int =
      "InMemoryTableScan".r
        .findAllIn(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)).size
    // drop frames persisted by earlier tests: the cache manager substitutes
    // any plan-matching cached frame, which would make the concurrent
    // default read a leftover cache and fail the 0-scan assertion below
    graft.Materializer.library.close()
    val concurrent = HeavyHitters.topTermsWithCmsVerdict(docs, "text", k = 20)
    assert(cacheScans(concurrent) === 0,
      "the concurrent default must not silently persist")
    val grouped = HeavyHitters
      .topTermsWithCmsVerdict(docs, "text", k = 20, sketchFromGrouped = true)
    assert(cacheScans(grouped) >= 2,
      "persisted grouped vocabulary must feed both the sketch subquery and the top-k")
    graft.Materializer.library.close()
  }
}

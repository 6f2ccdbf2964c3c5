package graft.expressions

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SketchExpressionsSpec extends SparkSuite {

  test("minhash_signature: fixed length, deterministic, equal for equal sets") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(10L, 20L, 30L, 40L)),
      (2L, Seq(40L, 30L, 20L, 10L)),   // same SET, different order
      (3L, Seq(10L, 20L, 30L, 41L))).toDF("id", "hashes")
    val sigs = df.select(col("id"),
      SketchExpressions.minhash_signature(col("hashes"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 8)
    assert(sigs(1L) == sigs(2L))           // order-insensitive
    assert(sigs(1L) != sigs(3L))           // one element differs
    // densification filled every slot (4 elements into 8 buckets)
    assert(!sigs(1L).contains(Long.MaxValue))
  }

  test("minhash_signature agreement tracks Jaccard on larger random-ish sets") {
    val s = spark
    import s.implicits._
    val base = (1 to 200).map(i => i.toLong * 2654435761L)
    val near = base.drop(10) ++ (1 to 10).map(i => i.toLong * 97531L)  // j≈0.9
    val far = (1 to 200).map(i => (i + 10000).toLong * 2654435761L)    // j≈0
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "hashes")
    val sig = df.select(col("id"),
      SketchExpressions.minhash_signature(col("hashes"), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(agree(sig(1L), sig(2L)) > 0.6)
    assert(agree(sig(1L), sig(3L)) < 0.2)
  }

  test("simhash64 equals the reference bit-majority computation") {
    val s = spark
    import s.implicits._
    val hashes = Seq(0x0F0FL, 0x0F00L, 0x000FL)
    val df = Seq((1L, hashes)).toDF("id", "hashes")
    val sk = df.select(SketchExpressions.simhash64(col("hashes"))).head().getLong(0)
    // bit b set iff >1 of the 3 inputs have it: 0x0F0F&0x0F00 bits → 0x0F00,
    // 0x0F0F&0x000F → 0x000F, 0x0F00&0x000F → 0 ⇒ majority = 0x0F0F
    assert(sk == 0x0F0FL)
  }

  test("SQL registration exposes the full function surface") {
    val r = spark.sql(
      """SELECT simhash64(array(1L, 3L, 3L)) AS sk,
        |       minhash_signature(array(5L, 9L), 4) AS sig,
        |       simhash128(array(1L, 3L, 3L)) AS sk128,
        |       sign_lsh_sketch(array(1.0F, -2.0F), 0, 8) AS lsh,
        |       vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       vector_norm(array(3.0D, 4.0D)) AS n,
        |       normalize_vector(array(3.0D, 4.0D)) AS u""".stripMargin)
      .head()
    assert(r.getLong(0) == 3L)             // majority of {1,3,3} bits = 3
    assert(r.getSeq[Long](1).length == 4)
    assert(r.getSeq[Long](2).length == 2)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Double]("n") == 5.0)
    assert(r.getSeq[Double](6) == Seq(0.6, 0.8))
  }

  test("unicode_normalize is SQL-callable with default and explicit forms") {
    val acute = new String(Character.toChars(0x0301))
    val composed = "caf" + new String(Character.toChars(0x00E9))
    val r = spark.sql(
      s"SELECT unicode_normalize('cafe$acute') AS nfc, " +
        s"unicode_normalize('$composed', 'NFD') AS nfd").head()
    assert(r.getString(0) === composed)
    assert(r.getString(1) === "cafe" + acute)
    val bad = intercept[Exception](
      spark.sql("SELECT unicode_normalize('x', id) FROM range(1)").collect())
    assert(bad.getMessage.contains("literal"), bad.getMessage)
  }

  test("term_counts: one-pass tf map matches explode+groupBy semantics") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "a", "a", "c")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]]),
      (4L, Seq("", "", "x"))).toDF("id", "toks")  // split("") artifacts count
    val got = df.select(col("id"),
        explode(SketchExpressions.term_counts(col("toks"))).as(Seq("term", "tf")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // doc 2 (empty map) and doc 3 (null input) contribute no rows — exactly
    // what explode of an exploded-token groupBy would produce
    assert(got == Set(
      (1L, "a", 3L), (1L, "b", 1L), (1L, "c", 1L),
      (4L, "", 2L), (4L, "x", 1L)))
    // SQL surface
    val viaSql = spark.sql(
      "SELECT term_counts(array('t', 't', 'u')) AS m").head().getMap[String, Long](0)
    assert(viaSql == Map("t" -> 2L, "u" -> 1L))
  }

  test("literal-argument validation raises descriptive errors") {
    val e1 = intercept[Exception](
      spark.sql("SELECT minhash_signature(array(1L), id) FROM range(1)").collect())
    assert(e1.getMessage.contains("must be a literal"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT minhash_signature(array(1L), 0)").collect())
    assert(e2.getMessage.contains(">= 1"), e2.getMessage)
    // a BIGINT literal widens cleanly instead of ClassCastException
    assert(spark.sql("SELECT minhash_signature(array(5L, 9L), 4L) AS s")
      .head().getSeq[Long](0).length == 4)
  }

  // r11 review hardening: analysis-time type checks, literal caps, and the
  // non-voting-element / separator conventions, each pinned by a test.

  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")

  test("analysis-time input type checking rejects wrong-typed arguments") {
    // array<int> where array<long> element hashes are required: before the
    // ExpectsInputTypes pass this read misaligned 8-byte words out of the
    // int array — plausible-looking garbage sketches with no error
    val e1 = intercept[Exception](
      spark.sql("SELECT simhash64(array(1, 2, 3))").collect())
    assert(causeChain(e1).toLowerCase.contains("type"), causeChain(e1))
    val e2 = intercept[Exception](
      spark.sql("SELECT minhash_signature(array('a'), 4)").collect())
    assert(causeChain(e2).toLowerCase.contains("type"), causeChain(e2))
    val e3 = intercept[Exception](
      spark.sql("SELECT term_counts('not an array')").collect())
    assert(causeChain(e3).toLowerCase.contains("type"), causeChain(e3))
    // vector args accept array<float> AND array<double>, nothing else
    val e4 = intercept[Exception](
      spark.sql("SELECT vector_dot(array(1L, 2L), array(3L, 4L))").collect())
    assert(causeChain(e4).toLowerCase.contains("type"), causeChain(e4))
  }

  test("sign_lsh_sketch rejects nBits > 64 (the sketch is one long)") {
    // 1L << 65 would silently wrap mod 64 and alias hyperplane signs
    val e = intercept[Exception](
      spark.sql("SELECT sign_lsh_sketch(array(1.0F, -2.0F), 0, 65)").collect())
    assert(causeChain(e).contains("[1, 64]"), causeChain(e))
  }

  test("vector_dot: mismatched dimensions are an error, not a prefix product") {
    val e = intercept[Throwable](
      spark.sql("SELECT vector_dot(array(1.0D, 2.0D), array(1.0D))").collect())
    assert(causeChain(e).contains("dimension mismatch"), causeChain(e))
    // and through the non-foldable (codegen'd join/scan) path too
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    val e2 = intercept[Throwable](
      df.select(SketchExpressions.vector_dot(col("a"), col("b"))).collect())
    assert(causeChain(e2).contains("dimension mismatch"), causeChain(e2))
  }

  test("simhash_hex_chunks: non-voting elements don't bias the majority") {
    val s = spark
    import s.implicits._
    val digests = Seq(
      "0123456789abcdef0123456789abcdef",
      "fedcba9876543210fedcba9876543210",
      "0123456789abcdef0123456789abcdef")
    // 2 of the same 3 valid digests must yield the same sketch whether or
    // not a null and a short (non-voting) element ride along — the
    // denominator counts VOTERS, not elements
    val df = Seq((1L, digests), (2L, digests ++ Seq(null, "short")))
      .toDF("id", "hexes")
    val out = df.select(col("id"),
        SketchExpressions.simhash_hex_chunks(col("hexes")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == out(2L))
  }

  test("language_id: empty marker set yields 'und' instead of failing") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq("hello"))).toDF("id", "toks")
    val out = df.select(
      SketchExpressions.language_id(col("toks"), Seq.empty).as("l"))
      .head().getString(0)
    assert(out == "und")
  }

  test("bpe_segment: null/empty tokens emit nothing — no stray separators") {
    val s = spark
    import s.implicits._
    val merges = Seq(("a", "b"))
    val df = Seq(
      (1L, Seq("ab", null, "cd")),   // null mid-array: ONE space, not two
      (2L, Seq(null, "ab")),         // null head: no leading space
      (3L, Seq("", "ab", ""))        // empty tokens: no separators either
    ).toDF("id", "toks")
    val out = df.select(col("id"),
        BpeExpressions.bpe_segment(col("toks"), merges).as("s"))
      .select(col("id"), col("s.text_bpe"), col("s.n_subwords"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("ab c@@d", 3)))
    assert(out(2L) == (("ab", 1)))
    assert(out(3L) == (("ab", 1)))
    // text_bpe splits on single spaces back into n_subwords-consistent groups
    assert(out(1L)._1.split(" ").map(_.split("@@").length).sum == out(1L)._2)
  }

  test("unicode_normalize: an unknown form fails at plan time, not per task") {
    val e = intercept[Exception](
      spark.sql("SELECT unicode_normalize('x', 'nfc')").collect())
    assert(causeChain(e).contains("unknown form"), causeChain(e))
  }

  test("GraftExtensions injects the same surface at session build time") {
    // a second SparkSession cannot be built in this JVM-wide suite, so
    // assert the injection wiring directly against a fresh extensions object
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext) // must not throw; builders shared
  }

  test("minhash_signature rejects numHashes < 1 at construction, not per-row on executors") {
    // r12 review: the SQL path validated via intLitArg but the Scala API
    // did not — numHashes=0 passed bandRows' `0 % bands == 0` check and
    // threw `h % 0` per row with task retries
    val lit = org.apache.spark.sql.catalyst.expressions.Literal
      .create(Array(1L, 2L), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    intercept[IllegalArgumentException] {
      graft.expressions.MinHashSignatureExpr(lit, 0)
    }
    intercept[IllegalArgumentException] {
      graft.expressions.MinHashSignatureExpr(lit, -4)
    }
  }
}

package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.text.TextAnalysis

/**
 * Pins [[WhitespaceTokensExpr]] bit-identical to the operator chain it
 * replaced (`split(trim(lower(text)), "\\s+")`, kept as
 * [[TextAnalysis.tokensHof]]) — the r14 verdict's condition for attempting
 * the tokenizer rewrite at all: the DuckDB oracles replay this tokenization
 * in SQL, so ANY divergence is a cross-engine hash flip.
 *
 * Surface pinned here, each chosen to catch a specific semantic trap:
 *  - Java-split edge fields: leading "" for a positive-width match at
 *    position 0, trailing "" kept under limit −1, "" → [""],
 *    all-whitespace → ["", ""];
 *  - trim() strips 0x20 ONLY — leading/trailing \t\n\x0B\f\r survive into
 *    split and mint the edge fields above;
 *  - `\s` is the six ASCII chars only: NBSP (U+00A0), NEL (U+0085), LS
 *    (U+2028), ideographic space (U+3000) are TOKEN chars;
 *  - lowercase parity on the non-ASCII path (ICU or JVM per
 *    `spark.sql.icu.caseMappings.enabled` — both settings exercised):
 *    Turkish İ (length-changing), ß/ẞ, final sigma, full-width, titlecase
 *    Dž, ligatures, combining marks, surrogate pairs;
 *  - a collated argument (tr_CI, UNICODE_CI, UTF8_LCASE) fails analysis,
 *    so only UTF8_BINARY input ever reaches the ASCII fast path;
 *  - a seeded fuzz over a whitespace-heavy mixed-script alphabet.
 *
 * Also pins the two r15 hash-fusion expressions against their HOF twins:
 * [[XxHash64ArrayExpr]] ≡ `transform(arr, x => xxhash64(x))` (including
 * null elements hashing to the seed) and [[SimHashMd5ChunksExpr]] ≡
 * `simhash_hex_chunks(transform(toks, md5))`.
 */
class TokensExprSpec extends SparkSuite {

  private val adversarial: Seq[String] = Seq(
    // Java-split / trim edge semantics
    "", " ", "  ", "\t", "\n", "", "\f", "\r", "\t\t", " \t ",
    "\t a \t", "a", "A", "a ", " a", "\ta", "a\t", "\na\n", "a\r\nb",
    "Hello World", " hello  world ", "a  b", "a\tb", "a \t\n b",
    "  \t A  B\tC\r\n ", "x \f y",
    // Unicode whitespace that \s must NOT split on
    "a b", "x y", "xy", "x　y", "A B C",
    // case-mapping traps (non-ASCII slow path)
    "İstanbul I ı", "STRASSE straße ß ẞ", "ΣΙΓΜΑΣ σίγμα ΤΕΛΟΣ",
    "ＡＢＣ ｄｅｆ", "ǅungla Ǆ ǆ", "ﬀ ﬁ FI", "café CAFÉ",
    "é É", "ÅÄÖ ÜSS", "ÆØÅ\tÇĞŞ", "中文 测试 的",
    "👍 🚀x 😀", "Ꭰ ꭰ", "ⅯⅯⅩⅩ ⅿ",
    // mixed ascii/non-ascii with edge whitespace
    "\tİ   I\t", " ß\n", "Σ ")

  private def compareBoth(texts: Seq[String]): Unit = {
    val s = spark
    import s.implicits._
    val df = texts.toDF("text")
      .select(col("text"),
        TextAnalysis.tokens(col("text")).as("fast"),
        TextAnalysis.tokensHof(col("text")).as("hof"))
    val bad = df.filter(!(col("fast") <=> col("hof"))).collect()
    assert(bad.isEmpty, s"tokenizer divergence on: ${bad.mkString("; ")}")
    // and element-for-element through collect, so Row decoding is compared too
    val rowsBoth = df.select(col("fast"), col("hof")).collect()
    rowsBoth.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("one-pass tokens ≡ split(trim(lower)) chain on the adversarial fixtures") {
    compareBoth(adversarial)
  }

  test("exact expected arrays for the documented edge semantics") {
    val s = spark
    import s.implicits._
    val got = Seq("", " ", "\t", "\ta", "a\t", " a b ", "a \t b", " \t ")
      .toDF("text").select(TextAnalysis.tokens(col("text")))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq(""))       // "" → [""]
    assert(got(1) == Seq(""))       // all-space → trimmed to "" → [""]
    assert(got(2) == Seq("", ""))   // "\t" survives trim → ["", ""]
    assert(got(3) == Seq("", "a"))  // leading tab → leading "" field
    assert(got(4) == Seq("a", ""))  // trailing tab → trailing "" kept (limit −1)
    assert(got(5) == Seq("a", "b")) // spaces trimmed, single split
    assert(got(6) == Seq("a", "b")) // maximal mixed-ws run = one delimiter
    assert(got(7) == Seq("", ""))   // spaces trimmed, tab remains
  }

  test("null text → null tokens, like the chain") {
    val s = spark
    import s.implicits._
    val df = Seq[String](null).toDF("text")
    assert(df.select(TextAnalysis.tokens(col("text"))).collect().head.isNullAt(0))
    assert(df.select(TextAnalysis.tokensHof(col("text"))).collect().head.isNullAt(0))
  }

  test("seeded fuzz over a whitespace-heavy mixed-script alphabet") {
    val alphabet: Vector[String] = Vector(
      " ", "\t", "\n", "", "\f", "\r", " ", " ", "\t",
      "a", "B", "z", "Q", "0", ".", ",", "É", "é", "ß", "ẞ", "İ", "ı",
      "I", "Σ", "σ", "ς", "中", "👍", " ", " ", "　",
      "", "Ａ", "ǅ", "ﬁ")
    val rnd = new scala.util.Random(20260819L)
    val texts = (1 to 3000).map { _ =>
      val len = rnd.nextInt(24)
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    }
    compareBoth(texts)
  }

  test("equivalence holds under BOTH icu.caseMappings settings") {
    val key = "spark.sql.icu.caseMappings.enabled"
    val orig = spark.conf.getOption(key)
    try {
      for (v <- Seq("false", "true")) {
        spark.conf.set(key, v)
        // fresh columns per setting: useICU resolves lazily per expression
        // instance, exactly like Lower's own lazy val
        compareBoth(adversarial)
        // no collated string reaches the expression: analysis rejects it
        // instead of casting, so the ASCII fast path never stands in for a
        // locale-aware lower (Turkish I → ı under tr_CI)
        val s = spark
        import s.implicits._
        for (c <- Seq("tr_CI", "UNICODE_CI", "UTF8_LCASE")) {
          val e = intercept[org.apache.spark.sql.AnalysisException](
            Seq("ISTANBUL I").toDF("text")
              .select(TextAnalysis.tokens(collate(col("text"), c))))
          assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), e.getMessage)
        }
      }
    } finally {
      orig match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("xxhash64_array ≡ transform(arr, xxhash64), null elements → seed 42") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Seq("a", "b", "longer token value", ""),
      Seq.empty[String],
      Seq("a", null, "c"),
      Seq("中文", "👍", "ß")).toDF("arr")
    val both = df.select(
      SketchExpressions.xxhash64_array(col("arr")).as("fast"),
      transform(col("arr"), x => xxhash64(x)).as("hof")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // the null-element pin: xxhash64(null) is the seed, not null
    val nullRow = df.filter(array_contains(col("arr"), "c"))
      .select(SketchExpressions.xxhash64_array(col("arr"))).collect().head.getSeq[Long](0)
    assert(nullRow(1) == 42L)
    // null ARRAY → null result, like transform(null)
    val nullArr = Seq[Seq[String]](null).toDF("arr")
    assert(nullArr.select(SketchExpressions.xxhash64_array(col("arr")))
      .collect().head.isNullAt(0))
  }

  test("simhash_md5_chunks ≡ simhash_hex_chunks(transform(toks, md5))") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Seq("the", "quick", "brown", "fox", "the", "the"),
      Seq("single"),
      Seq.empty[String],
      Seq("a", null, "b"),          // null casts no vote in either form
      Seq("中文", "👍", "ß", ""),
      (1 to 64).map(i => s"tok$i")).toDF("toks")
    val both = df.select(
      SketchExpressions.simhash_md5_chunks(col("toks")).as("fast"),
      SketchExpressions.simhash_hex_chunks(
        transform(col("toks"), t => md5(t))).as("hof")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }
}

package graft.text

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSuite {
  import spark.implicits._

  private def corpus = (
    (1L to 12L).map(i => (i, "en", "the cat sat on the mat and the dog ran")) ++
    (13L to 24L).map(i => (i, "xx", "zq vw zq vw zq vw xk pj")) ++ Seq(
      (25L, "xx", "the cat sat on the mat"),   // target-like, labelled xx
      (26L, "en", "zq vw zq vw"),              // raw-like, labelled en
      (27L, "xx", "solo"))                     // 1 token: no evidence
    ).toDF("id", "lang", "text")

  test("one-pass two-model scores equal two independent LmScore runs") {
    val fused = Dsir.importanceScores(corpus, "id", "text",
      targetPred = col("lang") === "en")
    val target = LmScore.perplexityFilter(corpus, "id", "text",
      trainPred = col("lang") === "en")
    val raw = LmScore.perplexityFilter(corpus, "id", "text",
      trainPred = lit(true))
    val t = target.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    val rw = raw.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    fused.collect().foreach { r =>
      val id = r.getLong(0)
      assert(Option(r.get(2)) === t(id), s"nll_target for $id")
      assert(Option(r.get(3)) === rw(id), s"nll_raw for $id")
    }
  }

  test("selection tracks domain fit: target-like docs selected, raw-like not") {
    val out = Dsir.importanceScores(corpus, "id", "text",
        targetPred = col("lang") === "en")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5))).toMap
    // target-like text has positive importance weight regardless of label
    assert(out(25L)._1.get > 0 && out(25L)._2)
    assert(out(1L)._1.get > 0 && out(1L)._2)
    // raw-corpus-typical (non-target) text weighs negative
    assert(out(26L)._1.get < 0 && !out(26L)._2)
    assert(out(13L)._1.get < 0 && !out(13L)._2)
    // no bigram evidence → null weight, never selected
    assert(out(27L)._1.isEmpty && !out(27L)._2)
  }

  test("1-row pair model frames ≡ trainPair's two models, field for field") {
    val targetPred = col("lang") === "en"
    for (minCount <- Seq(1L, 2L)) {
      val (target, raw) = Dsir.trainPair(corpus, "text", targetPred, minCount)
      val row = Dsir.bigramPairRow(corpus, "text", targetPred, minCount)
        .collect().head.getStruct(0)
      val vRow = Dsir.vocabPairRow(corpus, "text", targetPred)
        .collect().head.getStruct(0)
      def flat(m: scala.collection.Map[String, scala.collection.Map[String, Long]]) =
        m.toSeq.flatMap { case (w1, inner) =>
          inner.toSeq.map { case (w2, c) => (w1, w2) -> c } }.toMap
      def bgOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      def pfxOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(flat(row.getMap(0)) === bgOf(target.bg), s"bg_t at minCount=$minCount")
      assert(row.getMap[String, Long](1).toMap === pfxOf(target.pfx),
        s"pfx_t at minCount=$minCount")
      assert(flat(row.getMap(2)) === bgOf(raw.bg), s"bg_r at minCount=$minCount")
      assert(row.getMap[String, Long](3).toMap === pfxOf(raw.pfx),
        s"pfx_r at minCount=$minCount")
      assert(vRow.getLong(0) === target.v.collect().head.getLong(0),
        s"v_t at minCount=$minCount")
      assert(vRow.getLong(1) === raw.v.collect().head.getLong(0),
        s"v_r at minCount=$minCount")
    }
  }

  test("score path is one narrow pass: two model evaluations, one tokenize, no joins") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exec = Dsir.importanceScores(docs, "doc_id", "text",
        targetPred = col("lang") === "en")
      .queryExecution.executedPlan
    val root = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }
    val nodes = root.collect { case n => n.nodeName }
    // both models ride as subqueries; the MAIN tree must be scan →
    // projections — no join, no explode, no exchange (a joined model map
    // would copy into every row: the r6 52.9× cliff this shape prevents)
    val banned = nodes.filter(n =>
      n.contains("Join") || n.contains("Generate") || n.contains("Exchange"))
    assert(banned.isEmpty, s"found $banned in:\n$root")
    // exactly two scalar subqueries (bigram side + vocab side) and the
    // split() tokenizer evaluated ONCE (projected, shared by both models)
    val subIds = root.collect { case n => n }.flatMap(_.expressions)
      .flatMap(_.collect {
        case s: org.apache.spark.sql.execution.ScalarSubquery => s.exprId
      }).distinct
    assert(subIds.size == 2, root.toString)
    // both bigram_nll evaluations read the SAME projected token attribute —
    // neither re-evaluates the split() tokenizer inline
    val nllTokenChildren = root.collect { case n => n }.flatMap(_.expressions)
      .flatMap(_.collect {
        case e: graft.expressions.BigramNllExpr => e.tokens
      })
    assert(nllTokenChildren.size == 2, root.toString)
    assert(nllTokenChildren.forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.AttributeReference]),
      s"tokenizer inlined into the scorer: $nllTokenChildren")
    assert(nllTokenChildren.map {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.exprId
    }.distinct.size == 1, "the two scorers read different token columns")
  }

  test("shareTokenize path is row-identical to the concurrent default") {
    // r8 verdict item 2's bounded experiment lives behind a flag (mixed
    // local A/B; the tradeoff can flip at scale) — pin that both paths
    // produce the same rows so the option can never drift semantically
    val a = Dsir.importanceScores(corpus, "id", "text",
        targetPred = col("lang") === "en")
      .collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long])
    val b = Dsir.importanceScores(corpus, "id", "text",
        targetPred = col("lang") === "en", shareTokenize = true)
      .collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(a.toSeq == b.toSeq)
    // drop the persisted tokenized base: a leftover cache plan-matches into
    // later queries via the shared session's cache manager (the hazard
    // HeavyHittersSpec's plan-shape test documents)
    graft.Materializer.library.close()
  }

  test("w is exactly nll_raw - nll_target on the rounded means") {
    Dsir.importanceScores(corpus, "id", "text",
        targetPred = col("lang") === "en")
      .collect().foreach { r =>
        (Option(r.get(2)), Option(r.get(3)), Option(r.get(4))) match {
          case (Some(t: Double), Some(rw: Double), Some(w: Double)) =>
            assert(w === rw - t)
          case (t, rw, w) => assert(t.isEmpty && rw.isEmpty && w.isEmpty)
        }
      }
  }
}

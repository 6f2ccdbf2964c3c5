package graft.text

import graft.SparkSuite
import org.apache.spark.sql.functions._

class LmScoreSpec extends SparkSuite {
  import spark.implicits._

  test("bigramsOf: empty for <2 tokens, adjacent pairs otherwise") {
    val out = Seq("", "one", "a b", "a b c").toDF("text")
      .select(LmScore.bigramsOf(TextAnalysis.tokens(col("text"))).as("bg"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(r =>
        (r.getString(0), r.getString(1))))
    // "" tokenizes to [""] (1 token) → no bigrams
    assert(out(0).isEmpty && out(1).isEmpty)
    assert(out(2) === Seq(("a", "b")))
    assert(out(3) === Seq(("a", "b"), ("b", "c")))
  }

  test("add-k conditional normalizes to exactly 1 over the vocabulary") {
    val train = Seq("a b a c a b", "b a").toDF("text")
    val k = 0.5
    val c12 = LmScore.bigramCounts(train, "text").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val c1 = LmScore.train(train, "text").pfx.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val v = LmScore.vocabSize(train, "text").collect().head.getLong(0)
    val vocab = Seq("a", "b", "c")
    assert(v === vocab.size)
    // prefix counts are exactly the row sums of the bigram table
    for (w1 <- vocab)
      assert(c1.getOrElse(w1, 0L) ===
        vocab.map(w2 => c12.getOrElse((w1, w2), 0L)).sum)
    // sum_{w2 in vocab} p(w2|w1) = 1 for every prefix, seen or not
    for (w1 <- vocab :+ "unseen") {
      val den = c1.getOrElse(w1, 0L) + k * v
      val sum = vocab.map(w2 => (c12.getOrElse((w1, w2), 0L) + k) / den).sum
      assert(math.abs(sum - 1.0) < 1e-12, s"prefix $w1 sums to $sum")
    }
  }

  test("in-domain docs score lower NLL than out-of-domain; no-evidence docs null") {
    val docs = (
      (1L to 20L).map(i => (i, "train", "the cat sat on the mat and the dog ran")) ++ Seq(
        (21L, "eval", "the cat sat on the mat"),          // in-domain
        (22L, "eval", "zq vw xk pj qr zz"),               // out-of-domain
        (23L, "eval", "solo"))                            // 1 token: no evidence
      ).toDF("id", "split", "text")
    val out = LmScore.perplexityFilter(docs, "id", "text",
        // unseen-prefix NLL is only ln(V·... ) ≈ ln 8 ≈ 2.08 with this tiny
        // vocabulary, so the keep threshold sits well below it
        trainPred = col("split") === "train", maxNll = 1.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))).toMap
    val (nIn, nllIn, keptIn) = out(21L)
    val (nOut, nllOut, keptOut) = out(22L)
    assert(nIn === 5L && nOut === 5L)
    assert(nllIn.get < nllOut.get)
    assert(keptIn && !keptOut)
    assert(out(23L) === ((0L, None, false)))
  }

  test("fused one-pass scoring ≡ the exploded join formulation, row for row") {
    // real data, both directions of exceptAll — any n_bigrams/nll/kept drift
    // between BigramNllExpr and the explode + broadcast-join reference fails
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = LmScore.train(docs.filter(col("lang") === "en"), "text")
    val fused = LmScore.score(docs, "doc_id", "text", model, maxNll = 3.40)
    val exploded = LmScore.scoreExploded(docs, "doc_id", "text", model, maxNll = 3.40)
    assert(fused.count() === docs.count())
    assert(fused.exceptAll(exploded).isEmpty && exploded.exceptAll(fused).isEmpty)
  }

  test("combined 1-row model ≡ the three-frame model, field for field") {
    // the single-subquery training shape (round 7) must reproduce the
    // bg/pfx/v frames exactly — including minCount pruning (bg pruned,
    // prefix sums NOT) and single-token docs' vocabulary contribution
    val docs = ((1L to 6L).map(i => (i, "a b a c a b")) ++
      Seq((7L, "b a"), (8L, "solo"), (9L, ""))).toDF("id", "text")
    for (minCount <- Seq(1L, 3L)) {
      val m = LmScore.train(docs, "text", minCount)
      val row = m.combined.collect().head.getStruct(0)
      val bgMap = row.getMap[String, Map[String, Long]](0)
      val pfxMap = row.getMap[String, Long](1)
      val v = row.getLong(2)
      val bgExpect = m.bg.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val pfxExpect = m.pfx.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val bgFlat = bgMap.toSeq.flatMap { case (w1, inner) =>
        inner.toSeq.map { case (w2, c) => (w1, w2) -> c } }.toMap
      assert(bgFlat === bgExpect, s"bg at minCount=$minCount")
      assert(pfxMap.toMap === pfxExpect, s"pfx at minCount=$minCount")
      assert(v === m.v.collect().head.getLong(0), s"v at minCount=$minCount")
      // "solo" and "" (one token each) reach the vocabulary even though
      // they produce no bigram
      assert(bgFlat.keys.flatMap(p => Seq(p._1, p._2)).toSet.size < v)
    }
  }

  test("fused scoring is a single narrow projection — no join, no shuffle, no explode") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = LmScore.train(docs.filter(col("lang") === "en"), "text")
    val p = LmScore.score(docs, "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    // the model rides as scalar subqueries; their plans (the training
    // aggregations) live inside the projection's subquery EXPRESSIONS, not
    // in the operator tree — so collecting the tree's node names gives the
    // per-document score path alone: it must be scan → projections, with no
    // join/shuffle/explode. A joined model column would copy the map bytes
    // into every row — the sf1-10× super-linearity this shape prevents.
    assert(p.contains("bigram_nll"), p)
    assert(p.contains("Subquery"), "model must ride as subqueries: " + p)
    val exec = LmScore.score(docs, "doc_id", "text", model)
      .queryExecution.executedPlan
    val root = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }
    val nodes = root.collect { case n => n.nodeName }
    val banned = nodes.filter(n =>
      n.contains("Join") || n.contains("Generate") || n.contains("Exchange"))
    assert(banned.isEmpty,
      s"score path must be a narrow projection, found $banned in: $p")
    // the whole model rides ONE scalar subquery: its `combined` row
    val subIds = root.collect { case n => n }.flatMap(_.expressions)
      .flatMap(_.collect {
        case s: org.apache.spark.sql.execution.ScalarSubquery => s.exprId
      }).distinct
    assert(subIds.size == 1, root.toString)
  }
}

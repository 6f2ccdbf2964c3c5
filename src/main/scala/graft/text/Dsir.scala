package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * DSIR-style importance resampling — "Data Selection for Language Models
 * via Importance Resampling" (Xie et al., 2023, public): score every
 * candidate document by how much more likely a TARGET-domain n-gram LM
 * finds it than a RAW-corpus n-gram LM, and keep the documents whose
 * log-likelihood ratio clears a threshold. This is the model-based data
 * selection step of a pretraining pipeline, one level up from the plain
 * perplexity filter ([[LmScore.perplexityFilter]]): the ratio cancels
 * generic fluency, so selection tracks DOMAIN fit rather than just
 * well-formedness.
 *
 * Both models are the same add-k-smoothed bigram estimator as
 * [[LmScore]] (so the DuckDB oracle replays every number); the importance
 * weight is `w = nll_raw − nll_target` = mean per-bigram
 * `ln p_target − ln p_raw` — positive ⇔ the target model likes the
 * document more.
 *
 * Scale shape (100 TB): BOTH models collapse to vocabulary-bounded map
 * values carried as scalar subqueries, and both are evaluated by the fused
 * one-pass expression on a SINGLE scan of the candidate corpus — zero
 * joins, zero shuffles, zero per-bigram rows on the score path. Training
 * scans only the (small) target slice plus the raw corpus once each, all
 * map-side aggregation into vocabulary-bounded tables.
 */
object Dsir {

  /**
   * Per-document importance scores and the selection decision.
   *
   * Output: `(idCol, n_bigrams, nll_target, nll_raw, w, selected)` —
   * per-model mean NLLs rounded to `roundTo` (absorbing last-ulp `ln`
   * differences across engines), `w` their difference (exact, both
   * operands already rounded), `selected = w ≥ tau` (never true for
   * no-bigram documents: no evidence, null scores).
   */
  def importanceScores(docs: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, tau: Double = 0.0,
                       k: Double = 0.5, minCount: Long = 1L,
                       roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.scalarSubquery
    // BOTH models ride TWO scalar subqueries (round 7): the bigram side
    // (two nested bigram maps + two prefix maps, one bigram scan) and the
    // vocabulary side (both distinct-token counts, one token scan) — where
    // per-model LmScore.train models would each rescan the corpus. Two
    // subqueries rather than one keeps the two training scans CONCURRENT
    // (Spark executes subqueries in parallel), which measures faster than
    // a single serialized tagged-union chain at every tested scale. Each
    // training scan tokenizes on its own: a shared persisted (id, is_t,
    // toks) frame measured slower at local scale (r8 A/B; the cache write
    // serializes ahead of both subqueries).
    val m = scalarSubquery(bigramPairRow(docs, textCol, targetPred, minCount))
    val v = scalarSubquery(vocabPairRow(docs, textCol, targetPred))
    docs
      // tokenize ONCE per row: both model evaluations read the projected
      // array (CollapseProject keeps a multiply-referenced non-trivial
      // alias in its own projection, so the split is not inlined twice)
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("__t", graft.expressions.LmExpressions.bigram_nll(
        col("__toks"), m.getField("bg_t"), m.getField("pfx_t"),
        v.getField("v_t"), k))
      .withColumn("__r", graft.expressions.LmExpressions.bigram_nll(
        col("__toks"), m.getField("bg_r"), m.getField("pfx_r"),
        v.getField("v_r"), k))
      .select(col(idCol),
        col("__t").getField("n_bigrams").as("n_bigrams"),
        round(col("__t").getField("nll_sum") /
          col("__t").getField("n_bigrams"), roundTo).as("nll_target"),
        round(col("__r").getField("nll_sum") /
          col("__r").getField("n_bigrams"), roundTo).as("nll_raw"))
      .withColumn("w", col("nll_raw") - col("nll_target"))
      .withColumn("selected", coalesce(col("w") >= tau, lit(false)))
  }

  /**
   * Both models' bigram sides as ONE 1-row frame `struct(bg_t, pfx_t,
   * bg_r, pfx_r)` from a single bigram scan of the corpus (round 7): the
   * per-doc collapsed bigram explode feeds a (w1, w2) cell aggregation
   * carrying raw AND target totals, and one aggregation tree then yields
   * both nested bigram maps and both prefix maps. This is the
   * K-models-one-scan shape: two independent [[LmScore.train]] calls would
   * explode the corpus into bigrams twice, though the target slice is a
   * subset of the raw corpus. Semantics match `LmScore.train` on the
   * target slice and on the whole corpus field for field (same pruning
   * rules, prefix sums before pruning); DsirSpec pins the equality, the
   * oracle replays every number.
   */
  private[text] def bigramPairRow(docs: DataFrame, textCol: String,
                                  targetPred: Column,
                                  minCount: Long): DataFrame = {
    val tMin = math.max(minCount, 1L)
    val cells = tokenized(docs, textCol, targetPred)
      .select(col("__is_t"),
        explode(graft.expressions.LmExpressions.bigram_counts(
          col("__toks"))).as("e"))
      .groupBy(col("e.w1").as("w1"), col("e.w2").as("w2"))
      .agg(sum(col("e.cnt")).as("c12_r"),
        sum(when(col("__is_t"), col("e.cnt")).otherwise(0L)).as("c12_t"))
    val perW1 = cells.groupBy("w1").agg(
      map_from_entries(collect_list(
        when(col("c12_t") >= tMin, struct(col("w2"), col("c12_t"))))).as("m_t"),
      map_from_entries(collect_list(
        when(col("c12_r") >= minCount, struct(col("w2"), col("c12_r"))))).as("m_r"),
      sum(col("c12_t")).as("c1_t"),
      sum(col("c12_r")).as("c1_r"))
    perW1.agg(
      map_from_entries(collect_list(
        when(size(col("m_t")) > 0, struct(col("w1"), col("m_t"))))).as("bg_t"),
      map_from_entries(collect_list(
        when(col("c1_t") > 0, struct(col("w1"), col("c1_t"))))).as("pfx_t"),
      map_from_entries(collect_list(
        when(size(col("m_r")) > 0, struct(col("w1"), col("m_r"))))).as("bg_r"),
      map_from_entries(collect_list(
        when(col("c1_r") > 0, struct(col("w1"), col("c1_r"))))).as("pfx_r"))
      .select(struct(col("bg_t"), col("pfx_t"),
        col("bg_r"), col("pfx_r")).as("__models"))
  }

  /** Both vocabulary sizes as ONE 1-row frame `struct(v_t, v_r)` from a
    * single distinct-token scan: `v_t` and `v_r` equal the `v` of
    * [[LmScore.train]] on the target slice and on the whole corpus. */
  private[text] def vocabPairRow(docs: DataFrame, textCol: String,
                                 targetPred: Column): DataFrame =
    tokenized(docs, textCol, targetPred)
      .select(col("__is_t"),
        explode(map_keys(graft.expressions.SketchExpressions.term_counts(
          col("__toks")))).as("w"))
      .agg(count_distinct(when(col("__is_t"), col("w"))).as("v_t"),
        count_distinct(col("w")).as("v_r"))
      .select(struct(col("v_t"), col("v_r")).as("__vocabs"))

  /** `(__is_t, __toks)`: the target flag and the token array per document. */
  private def tokenized(docs: DataFrame, textCol: String,
                        targetPred: Column): DataFrame =
    docs.select(coalesce(targetPred, lit(false)).as("__is_t"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
}

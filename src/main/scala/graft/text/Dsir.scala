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
                       roundTo: Int = 6,
                       shareTokenize: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.scalarSubquery
    // BOTH models ride TWO scalar subqueries (round 7): the bigram side
    // (two nested bigram maps + two prefix maps, one bigram scan) and the
    // vocabulary side (both distinct-token counts, one token scan) — where
    // per-model nllStruct calls would ship six subquery job chains. Two
    // subqueries rather than one keeps the two training scans CONCURRENT
    // (Spark executes subqueries in parallel), which measures faster than
    // a single serialized tagged-union chain at every tested scale.
    //
    // shareTokenize (r8 verdict item 2's bounded experiment): tokenize the
    // corpus ONCE into a persisted (id, is_t, toks) frame read by both
    // training subqueries AND the score pass — 1 tokenize pass + a cache
    // materialization instead of 3 concurrent tokenize passes. The r7
    // shared-scan lesson predicts the serialization loses at local MB
    // scale; the flag exists so the A/B is a one-line switch and because
    // at 100 TB the tradeoff can flip (tokenize cost scales with data,
    // stage-wave overhead does not).
    val base0 = docs.select(col(idCol),
      coalesce(targetPred, lit(false)).as("__is_t"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val base =
      if (shareTokenize) Some(graft.Materializer.library.stage(base0))
      else None
    val m = scalarSubquery(base.map(bigramPairRowFromToks(_, minCount))
      .getOrElse(bigramPairRow(docs, textCol, targetPred, minCount)))
    val v = scalarSubquery(base.map(vocabPairRowFromToks)
      .getOrElse(vocabPairRow(docs, textCol, targetPred)))
    base.getOrElse(
      docs
        // tokenize ONCE per row: both model evaluations read the projected
        // array (CollapseProject keeps a multiply-referenced non-trivial
        // alias in its own projection, so the split is not inlined twice)
        .withColumn("__toks", TextAnalysis.tokens(col(textCol))))
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
   * Train the target AND raw models from ONE pass over the corpus — the
   * K-models-one-scan shape: two independent `LmScore.train` calls would
   * explode the corpus into bigrams twice (and the token stream twice for
   * the vocabularies), pure duplicated heavy work since the target slice
   * is a subset of the raw corpus. Instead one bigram explode aggregates
   * BOTH counts per (w1, w2) — raw = count(*), target = count where the
   * document satisfies `targetPred` — and one token explode computes both
   * vocabulary sizes via a conditional distinct. Prefix counts are row
   * sums of the unpruned bigram table per model (same
   * summed-before-pruning rule as `LmScore.train`). Results are exactly
   * the two independently-trained models (DsirSpec pins this against two
   * `LmScore` runs); the corpus-scale work halves, and everything after
   * the explode is vocabulary-bounded.
   */
  def trainPair(docs: DataFrame, textCol: String, targetPred: Column,
                minCount: Long = 1L): (LmScore.BigramModel, LmScore.BigramModel) = {
    import LmScore.BigramModel
    val base = docs.select(coalesce(targetPred, lit(false)).as("__is_t"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    // per-doc collapsed bigram/token streams (round-6 verdict item 1): the
    // explodes emit one row per DISTINCT per-doc bigram/token, counts final
    val bg = graft.Materializer.library.stage(
      base.select(col("__is_t"),
          explode(graft.expressions.LmExpressions.bigram_counts(col("__toks"))).as("e"))
        .groupBy(col("e.w1").as("w1"), col("e.w2").as("w2"))
        .agg(sum(col("e.cnt")).as("c12_r"),
          sum(when(col("__is_t"), col("e.cnt")).otherwise(0L)).as("c12_t")))
    val vRow = graft.Materializer.library.stage(
      base.select(col("__is_t"), explode(map_keys(graft.expressions
          .SketchExpressions.term_counts(col("__toks")))).as("w"))
        .agg(count_distinct(col("w")).as("v_r"),
          count_distinct(when(col("__is_t"), col("w"))).as("v_t")))
    val target = BigramModel(
      bg = bg.filter(col("c12_t") >= math.max(minCount, 1L))
        .select(col("w1"), col("w2"), col("c12_t").as("c12")),
      pfx = bg.groupBy("w1").agg(sum(col("c12_t")).as("c1"))
        .filter(col("c1") > 0),
      v = vRow.select(col("v_t").as("v")))
    val raw = BigramModel(
      bg = bg.filter(col("c12_r") >= minCount)
        .select(col("w1"), col("w2"), col("c12_r").as("c12")),
      pfx = bg.groupBy("w1").agg(sum(col("c12_r")).as("c1")),
      v = vRow.select(col("v_r").as("v")))
    (target, raw)
  }

  /**
   * Both models' bigram sides as ONE 1-row frame `struct(bg_t, pfx_t,
   * bg_r, pfx_r)` from a single bigram scan of the corpus (round 7): the
   * per-doc collapsed bigram explode feeds a (w1, w2) cell aggregation
   * carrying raw AND target totals, and one aggregation tree then yields
   * both nested bigram maps and both prefix maps. Semantics match
   * [[trainPair]] field for field (same pruning rules, prefix sums before
   * pruning); DsirSpec pins the equality, the oracle replays every number.
   */
  private[text] def bigramPairRow(docs: DataFrame, textCol: String,
                                  targetPred: Column,
                                  minCount: Long): DataFrame =
    bigramPairRowFromToks(
      docs.select(coalesce(targetPred, lit(false)).as("__is_t"),
        TextAnalysis.tokens(col(textCol)).as("__toks")),
      minCount)

  /** [[bigramPairRow]] over a pre-tokenized `(… __is_t, __toks)` frame —
    * the shareTokenize path reads the persisted base instead of
    * re-tokenizing. */
  private[text] def bigramPairRowFromToks(base: DataFrame,
                                          minCount: Long): DataFrame = {
    val tMin = math.max(minCount, 1L)
    val cells = base
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
    * single distinct-token scan (the [[trainPair]] vRow, struct-packed). */
  private[text] def vocabPairRow(docs: DataFrame, textCol: String,
                                 targetPred: Column): DataFrame =
    vocabPairRowFromToks(
      docs.select(coalesce(targetPred, lit(false)).as("__is_t"),
        TextAnalysis.tokens(col(textCol)).as("__toks")))

  /** [[vocabPairRow]] over a pre-tokenized `(… __is_t, __toks)` frame. */
  private[text] def vocabPairRowFromToks(base: DataFrame): DataFrame =
    base
      .select(col("__is_t"),
        explode(map_keys(graft.expressions.SketchExpressions.term_counts(
          col("__toks")))).as("w"))
      .agg(count_distinct(when(col("__is_t"), col("w"))).as("v_t"),
        count_distinct(col("w")).as("v_r"))
      .select(struct(col("v_t"), col("v_r")).as("__vocabs"))
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Bigram language-model quality scoring — the CCNet/Gopher "perplexity
 * filter": train a tiny n-gram LM on an in-domain slice (the reference
 * recipe uses Wikipedia), score every candidate document by its average
 * per-bigram negative log-likelihood, and keep the low-perplexity
 * (in-domain-looking) tail. This is the classic model-based step of a
 * pretraining curation pipeline, here with a closed-form model so every
 * number is engine-replayable (the DuckDB oracle re-derives counts,
 * smoothing, and scores exactly).
 *
 * Model: add-k–smoothed bigram ML estimate,
 * `p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)` where `c(w1·)` is the
 * bigram-PREFIX count (so the conditional normalizes exactly) and `V` is
 * the training vocabulary size. A document's score is the mean `-ln p`
 * over its bigrams; lower = more in-domain.
 *
 * One trainer ([[train]]) builds one model shape ([[BigramModel]]).
 *
 * Scale shape (100 TB): the model tables are vocabulary-bounded (and
 * prunable with `minCount`), so they BROADCAST — as one single-row frame
 * of map columns, carried as one scalar subquery into a fused one-pass
 * scoring expression ([[score]]; zero shuffles, zero per-bigram rows),
 * with the explode → broadcast-join → aggregate formulation kept as
 * [[scoreExploded]], the semantic reference and the shape for models too
 * large for two broadcast maps. No model state ever shuffles with the
 * corpus either way.
 */
object LmScore {

  /** Adjacent (w1, w2) pairs of a token array; empty for <2 tokens (unlike
    * the repetition metrics' folded short-doc gram, a 1-token doc has no
    * bigram evidence and must score null, not a truncated self-gram). */
  def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"),
                    element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** Bigram counts `(w1, w2, c12)` of a training corpus, optionally pruned
    * to `c12 >= minCount` (the Zipf-tail cut that bounds a real-corpus
    * model; pruned mass falls through to the smoothing floor).
    *
    * Plan shape (round-6 verdict item 1): duplicate bigrams collapse
    * map-side INSIDE [[graft.expressions.BigramCountsExpr]] before the
    * explode, so the partial aggregate sees one row per distinct per-doc
    * bigram (with its count final) instead of one row per occurrence —
    * `sum(cnt)` reproduces the occurrence count exactly. */
  def bigramCounts(corpus: DataFrame, textCol: String,
                   minCount: Long = 1L): DataFrame =
    corpus
      .select(explode(graft.expressions.LmExpressions
        .bigram_counts(TextAnalysis.tokens(col(textCol)))).as("e"))
      .groupBy(col("e.w1").as("w1"), col("e.w2").as("w2"))
      .agg(sum(col("e.cnt")).as("c12"))
      .filter(col("c12") >= minCount)

  /** 1-row frame with the training vocabulary size (distinct tokens, all
    * positions) — cross-joined below so the scalar stays inside the plan
    * instead of a driver collect. The per-doc [[graft.expressions
    * .TermCountsExpr]] map collapses repeated tokens before the explode, so
    * the distinct aggregate sees per-doc-distinct tokens only. */
  def vocabSize(corpus: DataFrame, textCol: String): DataFrame =
    corpus
      .select(explode(map_keys(graft.expressions.SketchExpressions
        .term_counts(TextAnalysis.tokens(col(textCol))))).as("w"))
      .agg(count_distinct(col("w")).as("v"))

  /** A trained model, built only by [[train]]: bigram counts, prefix
    * counts, and the 1-row vocab size — all vocabulary-bounded. Train
    * offline once, score any corpus (or stream) against it.
    *
    * `combined` (round 7): the same model as ONE 1-row frame
    * `struct(__bg, __pfx, v)` built in a single pass over the training
    * corpus — the only frame the score path ([[nllStruct]]) executes, as a
    * single scalar subquery. The three relational fields stay authoritative
    * for [[scoreExploded]] and direct inspection. */
  final case class BigramModel(bg: DataFrame, pfx: DataFrame, v: DataFrame,
                               combined: DataFrame)

  /** Train on a corpus. The score path ([[nllStruct]]) consumes ONLY the
    * `combined` single-subquery model, built in one corpus pass; the three
    * relational frames stay authoritative for [[scoreExploded]] and direct
    * inspection, derived lazily from one raw bigram-count plan — prefix
    * counts are its row sums (summed BEFORE minCount pruning: the pruned
    * tail mass must stay in the smoothing denominator), and vocabulary is
    * a deliberate token-level pass (it cannot be derived from the bigram
    * table exactly — a single-token document's token appears in no
    * bigram). Nothing here is persisted: the frames never execute on the
    * default score path, and registering a never-materialized cache entry
    * per train() call would only grow the tracked-frame queue (r7
    * review); a caller that scores repeatedly persists `combined` itself
    * (as [[graft.streaming.StreamingCuration.start]] does). */
  def train(corpus: DataFrame, textCol: String,
            minCount: Long = 1L): BigramModel = {
    val bgRaw = bigramCounts(corpus, textCol, minCount = 1L)
    BigramModel(
      bg = bgRaw.filter(col("c12") >= minCount),
      pfx = bgRaw.groupBy("w1").agg(sum(col("c12")).as("c1")),
      v = vocabSize(corpus, textCol),
      combined = combinedModelRow(corpus, textCol, minCount))
  }

  /**
   * The whole model as ONE 1-row frame `struct(__bg: w1→(w2→c12),
   * __pfx: w1→c1, v: long)` from a SINGLE pass over the training corpus
   * (round 7). The per-doc collapsed bigram array and the per-doc distinct
   * token list ride ONE explode as a tagged union (token entries carry
   * `w2 = null`), so one aggregation tree yields bigram cells, prefix row
   * sums, AND the vocabulary count — where the three-frame formulation
   * scanned the corpus twice (bigrams + tokens) and shipped three scalar
   * subqueries. Semantics are identical to [[train]]'s `bg` / `pfx` / `v`
   * frames: prefix sums aggregate BEFORE minCount pruning, `v` counts
   * distinct tokens over all positions (every token —
   * including single-token docs' — appears as a tagged entry), and the
   * bigram map drops w1 groups left empty by pruning (their lookups fall
   * through to the prefix fallback either way). LmScoreSpec pins
   * combined ≡ three-frame row for row.
   */
  private[text] def combinedModelRow(corpus: DataFrame, textCol: String,
                                     minCount: Long): DataFrame = {
    val entries = corpus
      .select(TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(
        graft.expressions.LmExpressions.bigram_counts(col("__toks")).as("bgs"),
        map_keys(graft.expressions.SketchExpressions
          .term_counts(col("__toks"))).as("tks"))
      .select(explode(concat(col("bgs"),
        transform(col("tks"), t => struct(
          t.as("w1"), lit(null).cast("string").as("w2"),
          lit(1L).as("cnt"))))).as("e"))
    // (w1, w2) cells: bigram cells carry occurrence totals; token cells
    // (w2 null — whitespace tokens can never be SQL null) mark vocabulary
    // membership, their count is unused
    val cells = entries
      .groupBy(col("e.w1").as("w1"), col("e.w2").as("w2"))
      .agg(sum(col("e.cnt")).as("c12"))
    val perW1 = cells.groupBy("w1").agg(
      map_from_entries(collect_list(
        when(col("w2").isNotNull && col("c12") >= minCount,
          struct(col("w2"), col("c12"))))).as("m"),
      sum(when(col("w2").isNotNull, col("c12")).otherwise(0L)).as("c1"),
      max(col("w2").isNull).as("is_tok"))
    perW1.agg(
      map_from_entries(collect_list(
        when(size(col("m")) > 0, struct(col("w1"), col("m"))))).as("__bg"),
      map_from_entries(collect_list(
        when(col("c1") > 0, struct(col("w1"), col("c1"))))).as("__pfx"),
      sum(when(col("is_tok"), 1L).otherwise(0L)).as("v"))
      .select(struct(col("__bg"), col("__pfx"), col("v")).as("__model"))
  }

  /**
   * Score `docs` against a trained model: per document, `n_bigrams` and
   * `nll` = mean `-ln p(w2|w1)` rounded to `roundTo` decimals (ln is the
   * one op whose last ulp may differ across engines; 6 dp keeps the oracle
   * hash stable while preserving every meaningful digit), plus
   * `kept = nll <= maxNll` — the filter decision. Documents with no
   * bigrams score null and are never kept (no evidence).
   *
   * Plan shape (round-5 verdict item 5): the model collapses to single-row
   * MAP values — nested `w1→(w2→c12)` plus `w1→c1` — carried as ONE
   * SCALAR SUBQUERY ([[nllStruct]]), and
   * [[graft.expressions.BigramNllExpr]] scores each token array in one
   * narrow pass. ZERO shuffles, zero joins, and zero
   * per-bigram rows on the score path (the exploded formulation below
   * pushed |tokens| rows per doc through two joins and an aggregate — the
   * 10× bench's dominant cost). Training still executes inside every run:
   * the subquery stages re-execute with each query execution, exactly like
   * the old model-table broadcasts.
   *
   * Why subqueries and not 1-row broadcast JOINS: a joined map column is
   * physically COPIED into every output row when the join materializes
   * UnsafeRows — at sf1-10× that was ~MB of model bytes memcpy'd per
   * document plus a hash-view rebuild per row (the map object differs per
   * row), measured 52.9× wall-clock for 10× data. The subquery result
   * ships once per task binary instead; the expression's per-task hash
   * view then builds exactly once.
   */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: BigramModel, k: Double = 0.5, maxNll: Double = 6.0,
            roundTo: Int = 6): DataFrame = {
    docs
      .withColumn("__s", nllStruct(model, TextAnalysis.tokens(col(textCol)), k))
      .select(col(idCol),
        col("__s").getField("n_bigrams").as("n_bigrams"),
        round(col("__s").getField("nll_sum") /
          col("__s").getField("n_bigrams"), roundTo).as("nll"))
      .withColumn("kept", coalesce(col("nll") <= maxNll, lit(false)))
  }

  /** The fused per-doc score as a Column: a `(n_bigrams, nll_sum)` struct
    * over a token-array column, with the model's `combined` row carried as
    * ONE scalar subquery (see [[score]] for why a subquery, not a 1-row
    * broadcast join) whose three fields feed the expression: zero joins
    * and zero per-bigram rows on the score scan. */
  def nllStruct(model: BigramModel, toks: Column, k: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.scalarSubquery
    val m = scalarSubquery(model.combined)
    graft.expressions.LmExpressions.bigram_nll(
      toks, m.getField("__bg"), m.getField("__pfx"), m.getField("v"), k)
  }

  /**
   * The explode + broadcast-join formulation — the semantic REFERENCE for
   * [[score]] (LmScoreSpec pins fused ≡ exploded row-for-row). Kept
   * because it is the shape that generalizes when the model does NOT fit
   * in two broadcast maps: the aggregation key is the id alone, so the one
   * shuffle carries ids and partial sums, never text.
   */
  def scoreExploded(docs: DataFrame, idCol: String, textCol: String,
                    model: BigramModel, k: Double = 0.5, maxNll: Double = 6.0,
                    roundTo: Int = 6): DataFrame = {
    val exploded = docs
      .select(col(idCol),
        explode_outer(bigramsOf(TextAnalysis.tokens(col(textCol)))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val scored = exploded
      .join(broadcast(model.bg), Seq("w1", "w2"), "left")
      .join(broadcast(model.pfx), Seq("w1"), "left")
      .crossJoin(broadcast(model.v))
      .withColumn("__logp",
        // the explode_outer placeholder row (null w1) must stay null here —
        // coalescing its counts to 0 would hand a no-evidence doc the
        // smoothed unseen-bigram score instead of a null
        when(col("w1").isNotNull,
          log((coalesce(col("c12"), lit(0L)) + lit(k)) /
              (coalesce(col("c1"), lit(0L)) + lit(k) * col("v")))))
    scored
      .groupBy(col(idCol))
      .agg(count(col("w1")).as("n_bigrams"),
           round(avg(-col("__logp")), roundTo).as("nll"))
      .withColumn("kept", coalesce(col("nll") <= maxNll, lit(false)))
  }

  /** Train-and-score in one call: the model comes from `docs.filter(trainPred)`. */
  def perplexityFilter(docs: DataFrame, idCol: String, textCol: String,
                       trainPred: Column,
                       k: Double = 0.5, maxNll: Double = 6.0,
                       minCount: Long = 1L, roundTo: Int = 6): DataFrame =
    score(docs, idCol, textCol, train(docs.filter(trainPred), textCol, minCount),
      k, maxNll, roundTo)
}

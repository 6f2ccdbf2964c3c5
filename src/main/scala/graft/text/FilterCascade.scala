package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Quality-filter cascade with reason codes — the audit-trail form of corpus
 * filtering. Production curation never just drops rows: every decision must
 * be attributable ("28% removed: 19% too_short, 6% repetitive, 3%
 * wrong_language") so recipe changes can be diffed release over release and
 * filters debugged when a good document disappears.
 *
 * [[withDecision]] evaluates an ORDERED rule list in one narrow pass: a row's
 * `drop_reason` is the FIRST rule it fails (`null` if it passes all),
 * `kept = drop_reason IS NULL`. Keep-stream = `filter(kept)`, drop report =
 * `groupBy(drop_reason)` — both from the same single scan, no shuffle
 * anywhere in the decision itself.
 */
object FilterCascade {

  /** Attach (`drop_reason`, `kept`) from ordered (name, dropPredicate)
    * rules. Later rules are only blamed when every earlier rule passed. */
  def withDecision(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val reason = rules.tail.foldLeft(when(rules.head._2, rules.head._1)) {
      case (acc, (name, bad)) => acc.when(bad, name)
    }
    df.withColumn("drop_reason", reason)
      .withColumn("kept", col("drop_reason").isNull)
  }

  // gopherRecipe's thresholds; the t_filter_cascade oracle SQL repeats them
  private val MinTokens = 15
  private val MaxTokens = 100000
  private val MinStopwordRatio = 0.01
  private val MaxDupNgramFrac = 0.2
  private val AllowedLangs = Seq("en")

  /**
   * The C4/Gopher-flavored default recipe over a text column: length gates,
   * stopword-density floor (gibberish/code), repetition ceiling (boilerplate
   * loops), language allowlist. Emits the metric columns next to the
   * decision — the audit row a curation log stores. Thresholds are the
   * constants above (`MinTokens`, `MaxTokens`, `MinStopwordRatio`,
   * `MaxDupNgramFrac`, `AllowedLangs`): every caller runs this one recipe,
   * and a corpus that needs others builds its own rule list for
   * [[withDecision]].
   */
  def gopherRecipe(df: DataFrame, textCol: String): DataFrame = {
    // Tokenize ONCE (r12 review): every metric below consumes the same
    // staged token array — the previous form re-split the full text four
    // times per row (inside repetitionMetrics, as __toks, inside
    // tokenCount, and inside languageId's child). CollapseProject keeps a
    // non-cheap alias used this many times staged, so the split really
    // runs once per row on the hot filter path.
    val staged = TextAnalysis.repetitionMetricsOfTokens(
        df.withColumn("__toks", TextAnalysis.tokens(col(textCol))),
        col("__toks"))
      .withColumn("n_tokens",
        TextAnalysis.tokenCountOf(col(textCol), col("__toks")))
      .withColumn("stopword_ratio",
        TextAnalysis.stopwordRatioOf(col("__toks"), col("n_tokens")))
      .withColumn("lang", TextAnalysis.languageIdOfTokens(col("__toks")))
      .drop("__toks")
    withDecision(staged, Seq(
      "too_short" -> (col("n_tokens") < MinTokens),
      "too_long" -> (col("n_tokens") > MaxTokens),
      "low_stopword" -> (col("stopword_ratio") < MinStopwordRatio),
      "repetitive" -> (col("dup_ngram_frac") > MaxDupNgramFrac),
      "wrong_language" -> !col("lang").isin(AllowedLangs: _*)))
  }
}

package graft.layout

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus version diff — added / removed / changed keys between two versions
 * of a table (beyond-reference: the dataset-versioning primitive of a
 * training-data pipeline; pairs with [[SnapshotStore]], whose immutable
 * `snapshot-<n>` dirs are exactly the inputs you diff before promoting a
 * rebuild, auditing what a pipeline change touched, or driving incremental
 * downstream recompute from the changed-key set).
 *
 * Semantics (per key):
 *   - `added`   — present in the new version only;
 *   - `removed` — present in the old version only;
 *   - `changed` — present in both, but the multiset of rows differs
 *     (different row count, or any content difference);
 *   - unchanged keys are OMITTED: at 100 TB the interesting output is the
 *     delta, which is small — emitting the unchanged majority would make
 *     the diff cost as much as the corpora.
 *
 * Scale shape: each side collapses to one row per key BEFORE the join —
 * `count(*)` plus two commutative fingerprints of the per-row content
 * hash: `bit_xor` and an overflow-safe `sum` (decimal(38,0) — ~8.7e19
 * rows of 60-bit hashes before it could wrap, so ANSI mode never throws).
 * Commutativity makes row order irrelevant; the three terms cover each
 * other's blind spots — xor alone is STRUCTURALLY blind to even-multiplicity
 * rewrites ({p,p} → {q,q} both cancel to 0 at equal counts: two copies of
 * a doc both edited the same way would diff as unchanged), which the sum
 * catches, while a forged sum still has to match the xor. The full-outer
 * join then carries ~40 bytes per KEY, never payloads — media blobs and
 * document bodies do not shuffle. Over tables bucketed on the key
 * ([[TableLayout.writeBucketed]]) the whole plan — both aggregations and
 * the join — runs with ZERO Exchange (machine-checked in CorpusDiffSpec).
 * NULL-key rows are EXCLUDED from both sides (the
 * [[graft.operators.Sessionize]] / ScdMerge house rule: a null key
 * addresses no document — under a plain equi-join it would surface as a
 * misleading phantom add+remove pair, and the null-safe `<=>` join that
 * would repair it clusters on a derived coalesce/isnull pair, defeating
 * the bucketed zero-Exchange plan; rows with a null key are a
 * data-quality finding for the DQ gate, not diff input).
 *
 * Hashing: the md5-based 60-bit hash
 * ([[graft.operators.Dedup.portableHash60]]) over a U+001F-joined
 * rendering of the content columns (the unit separator cannot appear in
 * sane text, so multi-column renderings never alias), which any engine can
 * replay — the DuckDB oracle certifies the whole operator. NULL content
 * renders as a U+0000 sentinel (a literal lone NUL string collides with
 * NULL — acceptable for provenance text, documented rather than hidden).
 */
object CorpusDiff {

  /** Diff two versions of a table on `keyCol`, comparing `contentCols`.
    * Returns (keyCol, change, n_old, n_new) for every key whose row
    * multiset changed; see the object scaladoc for semantics and the
    * zero-Exchange bucketed path. */
  def diff(oldV: DataFrame, newV: DataFrame, keyCol: String,
           contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "corpusDiff: at least one content column")
    require(!contentCols.contains(keyCol),
      s"corpusDiff: key column $keyCol must not be listed in contentCols")
    val reserved = Seq("change", "n_old", "n_new")
    require(!reserved.contains(keyCol),
      s"corpusDiff: key column $keyCol collides with the output schema")
    def fp(df: DataFrame): Column =
      graft.operators.Dedup.portableHash60(concat_ws("\u001f",
        contentCols.map(c => coalesce(df(c).cast("string"), lit("\u0000"))): _*))
    def summarize(df: DataFrame): DataFrame =
      df.filter(df(keyCol).isNotNull) // null keys excluded — see scaladoc
        .groupBy(df(keyCol))
        .agg(count(lit(1)).as("__n"), bit_xor(fp(df)).as("__x"),
          sum(fp(df).cast("decimal(38,0)")).as("__s"))
    val o = summarize(oldV).select(col(keyCol).as("__k_old"),
      col("__n").as("__n_old"), col("__x").as("__x_old"),
      col("__s").as("__s_old"))
    val n = summarize(newV).select(col(keyCol).as("__k_new"),
      col("__n").as("__n_new"), col("__x").as("__x_new"),
      col("__s").as("__s_new"))
    o.join(n, o("__k_old") === n("__k_new"), "full_outer")
      .withColumn("change",
        when(col("__n_old").isNull, "added")
          .when(col("__n_new").isNull, "removed")
          .when(col("__n_old") =!= col("__n_new") ||
            col("__x_old") =!= col("__x_new") ||
            col("__s_old") =!= col("__s_new"), "changed"))
      .filter(col("change").isNotNull) // unchanged keys are omitted
      .select(
        coalesce(col("__k_old"), col("__k_new")).as(keyCol),
        col("change"),
        coalesce(col("__n_old"), lit(0L)).as("n_old"),
        coalesce(col("__n_new"), lit(0L)).as("n_new"))
  }
}

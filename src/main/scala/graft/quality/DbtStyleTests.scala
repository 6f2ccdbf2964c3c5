package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.LogisticsEvent
import graft.models.Warehouse
import graft.models.Warehouse.Model

/**
 * dbt's four generic schema-test kinds as reusable DataFrame assertions, run
 * post-transform — the Spark analogue of `dbt test` over
 * `logistics_pipeline/models/layer/schema.yml` (40+ declared tests).
 *
 * Each test returns the VIOLATION COUNT (dbt's convention: a test passes iff
 * its compiled SELECT returns zero rows).
 */
object DbtStyleTests {

  /** `not_null` — rows where the column is null. */
  def notNull(df: DataFrame, column: String): Long =
    df.filter(col(column).isNull).count()

  /** `unique` — number of duplicated non-null key values. */
  def unique(df: DataFrame, column: String): Long =
    df.filter(col(column).isNotNull)
      .groupBy(column).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()

  /** `accepted_values` — rows whose value falls outside the enumeration. */
  def acceptedValues(df: DataFrame, column: String, values: Seq[Any]): Long =
    df.filter(col(column).isNotNull && !col(column).isin(values: _*)).count()

  /**
   * `relationships` — child FK values with no matching parent PK
   * (referential integrity; an anti-join, null FKs exempt per dbt).
   */
  def relationships(child: DataFrame, fk: String,
                    parent: DataFrame, pk: String): Long =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")
      .count()

  final case class TestResult(model: String, test: String, violations: Long) {
    def passed: Boolean = violations == 0L
  }

  /**
   * One row a test contributes to the suite's single pass, per row of
   * `frame`: the test's key (null for row-level tests), a violation flag and
   * a parent-row marker, for relationships.
   */
  private final case class Emit(frame: DataFrame, key: Column, flag: Column, parent: Column)

  /** Per test, over its key groups: summed flags, keys flagged more than
    * once, and flags of keys with no parent row. */
  private final case class Tally(flagged: Long, dupKeys: Long, orphans: Long)

  /** One declared test of the roster: its rows and the tally it reads. */
  private final case class Check(model: String, name: String, emits: Seq[Emit],
                                 violations: Tally => Long)

  private val noKey = lit(null).cast("string")
  private def flag(p: Column): Column = when(p, 1L).otherwise(0L)

  private def notNullCheck(m: Model, c: String): Check =
    Check(m.name, s"not_null:$c", Seq(Emit(m.frame, noKey, flag(col(c).isNull), lit(0L))),
      _.flagged)

  private def acceptedValuesCheck(m: Model, c: String, values: Seq[Any]): Check =
    Check(m.name, s"accepted_values:$c",
      Seq(Emit(m.frame, noKey, flag(col(c).isNotNull && !col(c).isin(values: _*)), lit(0L))),
      _.flagged)

  private def uniqueCheck(m: Model, c: String): Check =
    Check(m.name, s"unique:$c",
      Seq(Emit(m.frame, col(c).cast("string"), flag(col(c).isNotNull), lit(0L))), _.dupKeys)

  private def relationshipsCheck(m: Model, fk: String, parent: Model, pk: String): Check =
    Check(m.name, s"relationships:$fk", Seq(
      Emit(m.frame, col(fk).cast("string"), flag(col(fk).isNotNull), lit(0L)),
      Emit(parent.frame, col(pk).cast("string"), lit(0L), lit(1L))), _.orphans)

  /** The FULL schema.yml roster of [[Warehouse.models]] (51 tests), plus one
    * beyond-schema bonus: status_name against the conformed status
    * enumeration. Test names are `kind:column` per model, as in `dbt test`. */
  private def roster(w: Warehouse): Seq[Check] = {
    val models = w.models
    val byName = models.map(m => m.name -> m).toMap
    def model(name: String): Model = byName.getOrElse(name,
      throw new IllegalArgumentException(s"no warehouse model is named '$name'"))

    val keyTests = models.flatMap(m =>
      m.notNullCols.map(notNullCheck(m, _)) ++ m.uniqueCols.map(uniqueCheck(m, _)))
    val enumTests = models.flatMap(m => m.acceptedCols.map { case (c, vs) =>
      acceptedValuesCheck(m, c, vs) }) :+
      // beyond schema.yml: the conformed status enumeration
      acceptedValuesCheck(model("dim_status"), "status_name", LogisticsEvent.validStatuses)
    val relTests = models.flatMap(m =>
      m.fks.map { case (fk, parent, pk) => relationshipsCheck(m, fk, model(parent), pk) })
    keyTests ++ enumTests ++ relTests
  }

  /**
   * Run the whole roster as ONE Spark action. Every model frame is projected
   * once, with one `explode`, into `(test id, key, flag, parent)` rows; the
   * union is grouped by `(test, key)` and then by test, and collected:
   *  - not_null / accepted_values carry no key, so their flags combine
   *    map-side into one row per test and partition;
   *  - unique counts the keys whose group holds more than one flagged row;
   *  - relationships counts the flagged child rows of key groups with no
   *    parent row (null FKs carry flag 0: exempt, as in dbt).
   * Keys compare as strings; every keyed column of the roster is a string.
   *
   * Cost at scale: the unique and relationship keys are shuffled once, as
   * a groupBy or anti-join per test would shuffle them, while every
   * not_null/accepted_values flag is pre-aggregated before the exchange.
   * One query in place of one per test saves the per-query fixed cost
   * (planning, code generation, scheduling): nearly all of the suite's cost
   * on a small hourly increment. Each branch reads its model frame as given:
   * a checkpointed leaf on the pipeline's warehouse, the model's whole
   * lineage on lazy views.
   */
  def suite(w: Warehouse): Seq[TestResult] = {
    val checks = roster(w)
    val tallies = tally(checks)
    checks.zipWithIndex.map { case (c, i) =>
      TestResult(c.model, c.name, c.violations(tallies.getOrElse(i, Tally(0L, 0L, 0L))))
    }
  }

  private def tally(checks: Seq[Check]): Map[Int, Tally] = {
    val emits = checks.zipWithIndex.flatMap { case (c, i) =>
      c.emits.map(e => e.frame ->
        struct(lit(i).as("t"), e.key.as("k"), e.flag.as("f"), e.parent.as("p")))
    }
    val projected = emits.map(_._1).distinct.map { df =>
      df.select(explode(array(emits.collect { case (d, r) if d eq df => r }: _*)).as("r"))
        .select("r.*")
    }
    projected.reduce(_ union _)
      .groupBy("t", "k").agg(sum("f").as("f"), sum("p").as("p"))
      .groupBy("t").agg(
        sum("f").as("flagged"),
        count(when(col("f") > 1, 1)).as("dup_keys"),
        coalesce(sum(when(col("p") === 0, col("f"))), lit(0L)).as("orphans"))
      .collect()
      .map(r => r.getInt(0) -> Tally(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }
}

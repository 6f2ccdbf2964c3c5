package graft.layout

import graft.SparkSuite
import org.apache.spark.sql.functions._

class CorpusDiffSpec extends SparkSuite {
  import spark.implicits._

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3))).toMap

  test("added / removed / changed-by-content / changed-by-count; unchanged omitted") {
    val oldV = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"),
      (4L, "dup"), (4L, "dup"),        // count 2 → 1: changed by multiplicity
      (5L, "e"),
      (7L, "x"), (7L, "y")             // same count, one row edited
    ).toDF("id", "text")
    val newV = Seq(
      (1L, "a"), (2L, "B2"),           // 2 edited, 3 dropped
      (4L, "dup"), (5L, "e"), (6L, "f"),
      (7L, "x"), (7L, "z")
    ).toDF("id", "text")
    val out = asMap(CorpusDiff.diff(oldV, newV, "id", Seq("text")))
    assert(out === Map(
      2L -> ("changed", 1L, 1L),
      3L -> ("removed", 1L, 0L),
      4L -> ("changed", 2L, 1L),
      6L -> ("added", 0L, 1L),
      7L -> ("changed", 2L, 2L)))
  }

  test("row order never matters: shuffled versions diff as empty") {
    val rows = (1L to 50L).flatMap(i => Seq((i, s"t$i"), (i, s"u$i")))
    val oldV = rows.toDF("id", "text")
    val newV = scala.util.Random.shuffle(rows).toDF("id", "text")
      .repartition(7) // different physical layout too
    assert(CorpusDiff.diff(oldV, newV, "id", Seq("text")).count() === 0)
  }

  test("even-multiplicity rewrite is caught (xor-cancellation blind spot)") {
    // {p,p} → {q,q}: equal counts, both xors cancel to 0 — only the sum
    // term sees the edit. A two-copy doc edited in both copies must never
    // diff as unchanged.
    val oldV = Seq((1L, "p"), (1L, "p")).toDF("id", "text")
    val newV = Seq((1L, "q"), (1L, "q")).toDF("id", "text")
    val out = asMap(CorpusDiff.diff(oldV, newV, "id", Seq("text")))
    assert(out === Map(1L -> ("changed", 2L, 2L)))
  }

  test("null keys are excluded (house rule); null CONTENT still diffs") {
    // a null key addresses no document: the equi-join would render it as a
    // phantom add+remove pair, so both sides exclude it (Sessionize/ScdMerge
    // rule — see the scaladoc for why the null-safe join is not used)
    val oldV = Seq((Option(1L), Option("a")), (Option.empty[Long], Option("x")))
      .toDF("id", "text")
    val newV = Seq((Option(1L), Option("a")), (Option.empty[Long], Option.empty[String]))
      .toDF("id", "text")
    val out = CorpusDiff.diff(oldV, newV, "id", Seq("text"))
    assert(out.count() === 0)
    // null → non-null content on a REAL key is a change
    val o2 = Seq((1L, Option.empty[String])).toDF("id", "text")
    val n2 = Seq((1L, Option("now set"))).toDF("id", "text")
    val out2 = CorpusDiff.diff(o2, n2, "id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 === Map(1L -> "changed"))
  }

  test("multi-column content: a change in ANY content column is seen") {
    val oldV = Seq((1L, "t", "en"), (2L, "u", "en")).toDF("id", "text", "lang")
    val newV = Seq((1L, "t", "de"), (2L, "u", "en")).toDF("id", "text", "lang")
    val out = CorpusDiff.diff(oldV, newV, "id", Seq("text", "lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "changed"))
  }

  test("guards: empty contentCols, key in contentCols, reserved key name") {
    val df = Seq((1L, "a")).toDF("id", "text")
    intercept[IllegalArgumentException](CorpusDiff.diff(df, df, "id", Seq.empty))
    intercept[IllegalArgumentException](CorpusDiff.diff(df, df, "id", Seq("id")))
    val df2 = Seq((1L, "a")).toDF("change", "text")
    intercept[IllegalArgumentException](CorpusDiff.diff(df2, df2, "change", Seq("text")))
  }

  test("composition: diffing two SnapshotStore versions reports the delta") {
    // the operator's reason for living next to SnapshotStore: publish v0,
    // publish v1, diff the two immutable snapshot dirs
    val root = java.nio.file.Files.createTempDirectory("graft-diff-snap").toString + "/t"
    val v0 = SnapshotStore.publish(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text"), root)
    val v1 = SnapshotStore.publish(
      Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "text"), root)
    val out = CorpusDiff.diff(
      spark.read.parquet(v0), spark.read.parquet(v1), "id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("plan shape: diff over key-bucketed snapshots is ZERO Exchange") {
    val oldV = (1L to 200L).map(i => (i, s"t$i")).toDF("k", "text")
    val newV = (3L to 202L).map(i => (i, s"t$i")).toDF("k", "text")
    TableLayout.writeBucketed(oldV, "corpus_v1_b", "k", buckets = 8)
    TableLayout.writeBucketed(newV, "corpus_v2_b", "k", buckets = 8)
    val diff = CorpusDiff.diff(
      spark.table("corpus_v1_b"), spark.table("corpus_v2_b"), "k", Seq("text"))
    val plan = diff.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "bucketed corpus diff still shuffled:\n" + plan)
    // and it computes the right answer through that plan
    val out = diff.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === ((1L to 2L).map(_ -> "removed") ++
      (201L to 202L).map(_ -> "added")).toMap)
  }
}

package graft.ingest

import graft.SparkSuite
import graft.model.LogisticsEvent
import java.nio.file.Files

/** Incremental-load semantics, incl. the NOT IN null-hostile edge (SURVEY S7). */
class RawLoaderSpec extends SparkSuite {

  private def ev(id: String): LogisticsEvent = LogisticsEvent(
    Option(id), Some("o1"), Some("2026-02-23T01:00:00+00:00"), Some("Delivered"),
    Some("A, AA"), Some("B, BB"), Some("DHL"),
    Some(1.0), Some(2.0), Some(3.0), Some("2026-03-01"))

  test("left_anti dedup keeps only unseen event_ids") {
    val incoming = spark.createDataFrame(Seq(ev("a"), ev("b"), ev("c")))
    val existing = spark.createDataFrame(Seq(ev("b")))
    val fresh = RawLoader.dedupAgainst(incoming, existing)
      .select("event_id").collect().map(_.getString(0)).sorted
    assert(fresh.toSeq == Seq("a", "c"))
  }

  test("exact NOT IN mode: a NULL key in existing blocks ALL inserts") {
    val incoming = spark.createDataFrame(Seq(ev("a"), ev("b")))
    val existing = spark.createDataFrame(Seq(ev("x"), ev(null)))
    // default (NOT EXISTS): null ignored, both rows load
    assert(RawLoader.dedupAgainst(incoming, existing).count() == 2)
    // exact NOT IN: three-valued logic poisons the whole insert
    assert(RawLoader.dedupAgainst(incoming, existing, exactNotIn = true).count() == 0)
  }

  test("load: CTAS first run, anti-join append on re-run") {
    val tmp = Files.createTempDirectory("graft-loader").toString
    val bronze = s"$tmp/bronze"; val table = s"$tmp/raw"
    spark.createDataFrame(Seq(ev("a"), ev("b"))).write.parquet(bronze)
    assert(RawLoader.load(spark, bronze, table) == 2)
    // re-run: everything deduped, nothing appends
    assert(RawLoader.load(spark, bronze, table) == 0)
    assert(spark.read.parquet(table).count() == 2)
  }

  test("load: an existing empty table directory loads every incoming row") {
    val tmp = Files.createTempDirectory("graft-loader-empty").toString
    val bronze = s"$tmp/bronze"; val table = s"$tmp/raw"
    new java.io.File(table).mkdirs()
    spark.createDataFrame(Seq(ev("a"), ev("b"), ev("c"))).write.parquet(bronze)
    assert(RawLoader.load(spark, bronze, table) == 3)
    assert(spark.read.parquet(table).count() == 3)
  }

  test("load: the append path is one SQL action") {
    val tmp = Files.createTempDirectory("graft-loader-actions").toString
    val table = s"$tmp/raw"
    spark.createDataFrame(Seq(ev("a"))).write.parquet(s"$tmp/bronze/1")
    assert(RawLoader.load(spark, s"$tmp/bronze/1", table) == 1)
    spark.createDataFrame(Seq(ev("a"), ev("b"))).write.parquet(s"$tmp/bronze/2")
    var loaded = -1L
    val actions = sqlActions { loaded = RawLoader.load(spark, s"$tmp/bronze/2", table) }
    assert(actions.size == 1, actions)
    assert(loaded == 1)
  }

  test("a corrupt table read PROPAGATES instead of silently skipping dedup") {
    // only a missing table directory means first run; a read failure must fail
    // the load — treating it as "no table" would append without the
    // anti-join and permanently duplicate events
    val tmp = java.nio.file.Files.createTempDirectory("graft-load-corrupt").toString
    val tableDir = s"$tmp/raw"
    new java.io.File(tableDir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tableDir/part-corrupt.parquet"),
      "this is not parquet".getBytes)
    val bronzeDir = s"$tmp/bronze"
    spark.createDataFrame((1 to 3).map(i => ev(s"e$i"))).write.parquet(bronzeDir)
    intercept[Exception] {
      RawLoader.load(spark, s"$bronzeDir/*.parquet", tableDir)
    }
  }
}

package graft.pipeline

import graft.SparkSuite
import graft.model.LogisticsEvent
import graft.quality.DqChecks
import java.nio.file.Files

/** Full-DAG drive: landing files → stream drain → load → DQ gate → models → tests. */
class PipelineSpec extends SparkSuite {

  private def ev(id: Int): LogisticsEvent = LogisticsEvent(
    Some(s"e$id"), Some(s"o${id % 5}"),
    Some(f"2026-02-23T01:${id % 60}%02d:00+00:00"), Some("Delivered"),
    Some("A, AA"), Some("B, BB"), Some("FedEx"),
    Some(10.0), Some(20.0), Some(5.5), Some("2026-03-01"))

  private def writeBatchFile(events: Seq[LogisticsEvent], destFile: String): Unit = {
    val tmp = Files.createTempDirectory("graft-pbatch").toString
    spark.createDataFrame(events).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(destFile)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  test("full pipeline run: ingest → load → gate → models → tests → serving SQL") {
    val tmp = Files.createTempDirectory("graft-pipe").toString
    writeBatchFile((1 to 60).map(ev), s"$tmp/landing/b1.parquet")

    val r = Pipeline.run(spark, s"$tmp/landing", s"$tmp/bronze",
      s"$tmp/ckpt", s"$tmp/raw")
    assert(r.newRawRows == 60)
    assert(r.dqResults.forall(c => c.severity != "ERROR" || c.violations == 0))
    assert(r.warehouse.factEvent.count() == 60)
    assert(r.testsPassed, s"failing: ${r.testResults.filterNot(_.passed)}")

    // serving path: registered views answer SQL (§3.3)
    val n = spark.sql(
      "SELECT count(*) AS n FROM fact_event").head().getLong(0)
    assert(n == 60)
    // every declared model answers under its own view name
    val models = r.warehouse.models
    assert(models.map(_.name).distinct.size == 11)
    models.foreach(m => assert(spark.table(m.name).count() == m.frame.count(), m.name))

    // second run with one new batch + replayed events: only new rows load
    writeBatchFile((55 to 70).map(ev), s"$tmp/landing/b2.parquet")
    val r2 = Pipeline.run(spark, s"$tmp/landing", s"$tmp/bronze",
      s"$tmp/ckpt", s"$tmp/raw")
    assert(r2.newRawRows == 10)   // 55-60 deduped by the anti-join
    assert(r2.testsPassed, s"failing: ${r2.testResults.filterNot(_.passed)}")
    assert(r2.warehouse.factEvent.count() == 70)
  }

  test("serve stage: dashboards attach over the wire, read-only enforced") {
    import graft.serve.ConnectServe
    val tmp = Files.createTempDirectory("graft-pipe3").toString
    writeBatchFile((1 to 40).map(ev), s"$tmp/landing/b1.parquet")
    val r = Pipeline.run(spark, s"$tmp/landing", s"$tmp/bronze",
      s"$tmp/ckpt", s"$tmp/raw")

    // a fresh port: this JVM's ConnectServeSpec may have served (and
    // stopped) the default one — the serve stage must work on either
    val port = ConnectServe.DefaultPort + 2
    Pipeline.serve(spark, r.warehouse, port)
    try {
      val (cols, rows) = ConnectServe.withConnection(port) { conn =>
        ConnectServe.querySeq(conn,
          "SELECT total_events FROM global_temp.dash_headline_kpis")
      }
      assert(cols == Seq("total_events") && rows == Seq(Seq("40")))
      // the reference's read_only=True contract holds at the DAG level too
      val denied = intercept[Exception] {
        ConnectServe.withConnection(port) { conn =>
          val st = conn.createStatement()
          try st.execute("DROP VIEW global_temp.dash_headline_kpis")
          finally st.close()
        }
      }
      assert(denied.getMessage.contains("read-only"))
    } finally ConnectServe.stop()
  }

  test("a run's warehouse is a snapshot: a later append does not change it") {
    import graft.serve.{ConnectServe, DashboardQueries}
    def carrierTotal(w: graft.models.Warehouse): Long =
      DashboardQueries.carrierPerformance(w).collect()
        .map(_.getAs[Long]("total_events")).sum
    def servedTotal(port: Int): Long = ConnectServe.withConnection(port) { conn =>
      ConnectServe.querySeq(conn,
        "SELECT total_events FROM global_temp.dash_carrier_performance")._2
        .map(_.head.toLong).sum
    }

    val tmp = Files.createTempDirectory("graft-pipe4").toString
    writeBatchFile((1 to 40).map(ev), s"$tmp/landing/b1.parquet")
    val r1 = Pipeline.run(spark, s"$tmp/landing", s"$tmp/bronze",
      s"$tmp/ckpt", s"$tmp/raw")
    val port = ConnectServe.DefaultPort + 3
    Pipeline.serve(spark, r1.warehouse, port)
    try {
      assert(servedTotal(port) == 40)

      // run 2 appends a 6000 kg event: it passes `valid` (weight > 0) but
      // fails the gate's bad_weights check, after the raw append
      writeBatchFile(Seq(ev(41).copy(weight_kg = Some(6000.0))),
        s"$tmp/landing/b2.parquet")
      intercept[DqChecks.DqGateFailure] {
        Pipeline.run(spark, s"$tmp/landing", s"$tmp/bronze",
          s"$tmp/ckpt", s"$tmp/raw")
      }
      assert(spark.read.parquet(s"$tmp/raw").count() == 41)
      assert(carrierTotal(r1.warehouse) == 40)
      assert(r1.warehouse.factEvent.count() == 40)
      assert(servedTotal(port) == 40)

      // a later successful run (its own lake: this one stays gated) and its
      // publish: the dashboard reads that run's facts
      val tmp2 = Files.createTempDirectory("graft-pipe5").toString
      writeBatchFile((1 to 50).map(ev), s"$tmp2/landing/b1.parquet")
      val r3 = Pipeline.run(spark, s"$tmp2/landing", s"$tmp2/bronze",
        s"$tmp2/ckpt", s"$tmp2/raw")
      Pipeline.serve(spark, r3.warehouse, port)
      assert(servedTotal(port) == r3.warehouse.factEvent.count())
      assert(servedTotal(port) == 50)
    } finally ConnectServe.stop()
  }

  test("DQ gate halts the pipeline on ERROR-severity violations") {
    val tmp = Files.createTempDirectory("graft-pipe2").toString
    // a blank timestamp would abort the model build's date cast; the gate
    // must stop it first and count it
    writeBatchFile(Seq(ev(1), ev(2).copy(weight_kg = Some(-1.0)),
        ev(3).copy(timestamp = Some(""))),
      s"$tmp/landing/bad.parquet")
    val e = intercept[DqChecks.DqGateFailure] {
      Pipeline.run(spark, s"$tmp/landing", s"$tmp/bronze",
        s"$tmp/ckpt", s"$tmp/raw")
    }
    assert(e.results.find(_.name == "malformed_timestamps").get.violations == 1)
  }
}

package graft.streaming

import graft.SparkSuite
import graft.ingest.RawLoader
import graft.model.LogisticsEvent
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Drives the file-source streaming ingest end to end: drop bronze parquet
 * files → AvailableNow drain → partitioned sink → loader glob, including a
 * replayed (duplicate) file to exercise the dedup safety net.
 */
class EventStreamIngestSpec extends SparkSuite {

  private def ev(id: Int): LogisticsEvent = LogisticsEvent(
    Some(s"e$id"), Some(s"o${id % 7}"),
    Some(f"2026-02-23T01:${id % 60}%02d:00+00:00"), Some("In Transit"),
    Some("A, AA"), Some("B, BB"), Some("DHL"),
    Some(10.0), Some(20.0), Some(5.5), Some("2026-03-01"))

  /** Write one parquet FILE (not a directory) — the shape a producer drops. */
  private def writeBatchFile(events: Seq[LogisticsEvent], destFile: String): Unit = {
    val tmp = Files.createTempDirectory("graft-batch").toString
    spark.createDataFrame(events).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(destFile)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  test("AvailableNow drain: files → partitioned bronze → loader, exactly once") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$tmp/landing"; val outDir = s"$tmp/bronze"; val ckpt = s"$tmp/ckpt"
    val s = spark
    import s.implicits._

    // producer batch 1 (50 events) and 2 (30 events)
    writeBatchFile((1 to 50).map(ev), s"$srcDir/batch1.parquet")
    writeBatchFile((51 to 80).map(ev), s"$srcDir/batch2.parquet")

    val q = EventStreamIngest.bronzeSink(
      EventStreamIngest.fromFiles(spark, srcDir), outDir, ckpt)
    q.awaitTermination(120000)

    val bronze = spark.read.parquet(outDir)
    assert(bronze.count() == 80)
    // partitioned layout exists (ingest_date=...)
    assert(bronze.columns.contains("ingest_date"))
    assert(bronze.select("event_id").distinct().count() == 80)

    // restart with a replayed file: checkpoint must not reprocess old files
    writeBatchFile((81 to 90).map(ev), s"$srcDir/batch3.parquet")
    val q2 = EventStreamIngest.bronzeSink(
      EventStreamIngest.fromFiles(spark, srcDir), outDir, ckpt)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(outDir).count() == 90)

    // loader-side anti-join dedup still guards re-delivered payloads
    val raw = spark.read.parquet(outDir)
      .select(LogisticsEvent.schema.fieldNames.map(col): _*)
    val replay = spark.createDataFrame((86 to 95).map(ev))  // 5 dup + 5 new
    val fresh = RawLoader.dedupAgainst(replay, raw)
    assert(fresh.count() == 5)
  }

  test("observe(): in-flight DQ metrics per micro-batch, no second pass") {
    val tmp = Files.createTempDirectory("graft-observe").toString
    val srcDir = s"$tmp/landing"; val outDir = s"$tmp/bronze"; val ckpt = s"$tmp/ckpt"
    writeBatchFile(Seq(
      ev(4), ev(5),
      ev(1).copy(event_id = None),
      ev(2).copy(event_id = Some("  ")),
      ev(3).copy(timestamp = Some("not-a-time")),
      ev(6).copy(timestamp = None)), s"$srcDir/b1.parquet")
    val q = EventStreamIngest.bronzeSink(
      EventStreamIngest.withIngestMetrics(
        EventStreamIngest.fromFiles(spark, srcDir)), outDir, ckpt)
    q.awaitTermination(120000)
    val m = q.recentProgress
      .flatMap(p => Option(p.observedMetrics.get(
        EventStreamIngest.observedMetricsName))).head
    assert(m.getAs[Long]("n_rows") === 6L)
    assert(m.getAs[Long]("n_null_ids") === 2L)
    // malformed-vs-missing timestamps are separate counters (r6 advice):
    // the present-but-unparseable row hits n_bad_ts, the absent one n_null_ts
    assert(m.getAs[Long]("n_bad_ts") === 1L)
    assert(m.getAs[Long]("n_null_ts") === 1L)
    // the metrics rode the ingest scan — all six rows still landed
    assert(spark.read.parquet(outDir).count() === 6L)
  }

  test("streaming minute counts aggregate with watermark (batch-checked)") {
    val s = spark
    import s.implicits._
    // static-frame semantics check of the same expression tree
    val df = spark.createDataFrame((1 to 120).map(ev))
    val counts = EventStreamIngest.minuteCounts(df)
    assert(counts.agg(sum("event_count")).head().getLong(0) == 120L)
  }

  test("minute counts exclude unparseable timestamps instead of counting them at NOW") {
    val s = spark
    import s.implicits._
    val corrupt = Seq(
      ev(991).copy(timestamp = Some("not-a-timestamp")),
      ev(992).copy(timestamp = None))
    val df = spark.createDataFrame((1 to 120).map(ev) ++ corrupt)
    val counts = EventStreamIngest.minuteCounts(df)
    // r12 review: the old coalesce(…, current_timestamp()) fabricated a
    // count in the current wall-clock minute for each corrupt row
    assert(counts.agg(sum("event_count")).head().getLong(0) == 120L)
  }

  test("a corrupt timestamp does not poison the dedup watermark: backfill survives") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-wm-poison").toString
    val srcDir = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    // batch 1 carries ONE corrupt-ts row among day-old events; batch 2 is
    // more of the same backfill plus a cross-batch duplicate. Under the old
    // coalesce(…, current_timestamp()) the corrupt row advanced the
    // watermark to now − 1h after batch 1, and EVERY batch-2 event (months
    // old) was silently dropped as late.
    val bad = ev(999).copy(timestamp = Some("not-a-timestamp"))
    // the corrupt row repeats across batches (r13): corrupt-row duplicates
    // are DELIVERED once per batch BY DESIGN — both in-stream dedup
    // alternatives are unsound (see withStreamingDedup's scaladoc) and the
    // load-time anti-join owns their exactness downstream
    writeBatchFile(bad +: (1 to 5).map(ev), s"$srcDir/a_first.parquet")
    writeBatchFile(bad +: ((6 to 10).map(ev) :+ ev(3)), s"$srcDir/b_second.parquet")
    // deterministic batch order: file-source batches follow mod time
    new java.io.File(s"$srcDir/a_first.parquet").setLastModified(1000000L)
    new java.io.File(s"$srcDir/b_second.parquet").setLastModified(2000000L)
    val deduped = EventStreamIngest.withStreamingDedup(
      EventStreamIngest.fromFiles(spark, srcDir, maxFilesPerTrigger = 1))
    val q = deduped.writeStream.format("memory").queryName("wm_poison")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("wm_poison")
    // 10 unique historical events + the corrupt row once PER BATCH (the
    // documented at-least-once bypass; the anti-join dedups it at load);
    // the cross-batch duplicate of e3 is dropped by the watermarked state
    assert(out.count() == 12, out.collect().mkString("\n"))
    assert(out.filter(col("timestamp") === "not-a-timestamp").count() == 2)
    assert(out.filter(col("event_id") === "e3").count() == 1)
  }

  test("healthy stream: the bypass watermark cannot pin the global watermark at epoch") {
    // r13 second pass: with the bypass branch's processing-time watermark
    // declared AFTER its corrupt-row filter, a CLEAN stream never updates
    // that node — under multipleWatermarkPolicy=min the global watermark
    // would sit at 1970 forever and the main dedup's state would never
    // expire. Declared BEFORE the filter (the shipped shape), the node
    // advances with every batch and the committed global watermark must
    // move past epoch after a clean drain.
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-wm-healthy").toString
    val srcDir = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    // TWO clean batches: the watermark computed after batch 1 is the one
    // batch 2 runs (and reports) under — a single-batch drain would always
    // report the initial epoch watermark regardless of placement
    writeBatchFile((1 to 5).map(ev), s"$srcDir/a_first.parquet")
    writeBatchFile((6 to 10).map(ev), s"$srcDir/b_second.parquet")
    new java.io.File(s"$srcDir/a_first.parquet").setLastModified(1000000L)
    new java.io.File(s"$srcDir/b_second.parquet").setLastModified(2000000L)
    val deduped = EventStreamIngest.withStreamingDedup(
      EventStreamIngest.fromFiles(spark, srcDir, maxFilesPerTrigger = 1))
    val q = deduped.writeStream.format("memory").queryName("wm_healthy")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("wm_healthy").count() == 10)
    val wm = Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
    assert(wm.nonEmpty && wm > "2000-01-01",
      s"global watermark still pinned at epoch on a clean stream: '$wm'")
  }

  test("append-mode window finalization: a no-data batch flushes closed windows") {
    // The battery disables no-data micro-batches JVM-wide (see SparkSuite:
    // pending stateful-timeout timers make a bounded AvailableNow drain spin
    // forever). THIS test is the documented exception pattern for suites that
    // need watermark finalization: re-enable the conf around the query.
    // Append mode emits a window only once the watermark passes its end,
    // which for a bounded drain happens in the NO-DATA batch after the last
    // data batch — with the conf off, this query would emit zero rows. No
    // timers are involved, so the drain still terminates: the no-data batch
    // cannot advance the watermark further and shouldRunAnotherBatch goes
    // false after one finalization pass.
    val s = spark
    import s.implicits._
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")
    try {
      val tmp = Files.createTempDirectory("graft-append-final").toString
      val srcDir = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
      // minutes 01:01..01:30, one event each; 10-min lateness → after the
      // data batch the watermark lands at 01:20, finalizing exactly the
      // windows that END at or before it: minutes 1..19
      writeBatchFile((1 to 30).map(ev), s"$srcDir/b.parquet")
      val counts = EventStreamIngest.minuteCounts(
        EventStreamIngest.fromFiles(spark, srcDir))
      val q = counts.writeStream.format("memory").queryName("minute_final")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val out = spark.table("minute_final")
        .select(date_format(col("minute"), "mm"), col("event_count"))
        .as[(String, Long)].collect().toSeq.sorted
      assert(out == (1 to 19).map(m => (f"$m%02d", 1L)))
    } finally spark.conf.set(key, "false") // restore the battery-wide default
  }

  test("streaming session counts: session_window closes sessions at the gap") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sess-stream").toString
    val srcDir = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    // ev(m·7+1) keeps every event on order o1 at minute (m·7+1) % 60:
    // minutes 1, 8, 15, 31 → gaps 7, 7, 16 min → a 10-min gap splits 3 | 1
    writeBatchFile(Seq(0, 1, 2, 30).map(m => ev(m * 7 + 1)), s"$srcDir/b.parquet")
    val sessions = EventStreamIngest.sessionCounts(
      EventStreamIngest.fromFiles(spark, srcDir), gapSeconds = 600)
    val q = sessions.writeStream.format("memory").queryName("sess_counts")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("sess_counts")
      .select("order_id", "n_events").as[(String, Long)].collect().sorted
    assert(out.toSeq == Seq(("o1", 1L), ("o1", 3L)))
  }

  test("streaming dedup drops in-watermark duplicates") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-dedup").toString
    val srcDir = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
    writeBatchFile((1 to 20).map(ev) ++ (11 to 20).map(ev), s"$srcDir/b.parquet")
    val deduped = EventStreamIngest.withStreamingDedup(
      EventStreamIngest.fromFiles(spark, srcDir))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_out").count() == 20)
  }

  // ── Kafka contract (S1/S11) — no broker or connector jar exists in this
  // environment, so the socket itself cannot be driven; everything around it
  // is: the option surface and the wire encode/decode round-trip.

  test("kafka source options mirror the reference consumer config") {
    val opts = EventStreamIngest.kafkaSourceOptions(
      "broker:9092", "logistics-events", maxOffsetsPerTrigger = 50L)
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("subscribe") == "logistics-events")
    assert(opts("startingOffsets") == "earliest")       // auto_offset_reset
    assert(opts("maxOffsetsPerTrigger") == "50")        // T2: 50-message batches
    assert(opts("groupIdPrefix") == "graft-ingest")     // consumer group
    assert(opts("failOnDataLoss") == "false")           // at-least-once net
    val sink = EventStreamIngest.kafkaSinkOptions("broker:9092",
      "logistics-events", checkpointDir = "/tmp/ckpt")
    assert(sink("topic") == "logistics-events")
    assert(sink("checkpointLocation") == "/tmp/ckpt")
  }

  test("fromKafka fails with the documented data-source error in this jar-less env") {
    // The S1/S11 "env-bound" claim, machine-checked instead of asserted in
    // prose: this distribution ships no kafka connector jar, so building the
    // source must fail at DataSource lookup with Spark's standard
    // DATA_SOURCE_NOT_FOUND guidance (which names the deployment fix: add
    // the spark-sql-kafka artifact). If a future environment ships the jar,
    // this test fails and the real broker integration becomes testable —
    // exactly the signal we'd want.
    val thrown = intercept[Exception] {
      EventStreamIngest.fromKafka(spark, "broker:9092")
    }
    val msg = thrown.getMessage
    assert(msg.contains("kafka"), msg)
    assert(msg.contains("DATA_SOURCE_NOT_FOUND") ||
      msg.toLowerCase.contains("failed to find"), msg)
  }

  test("toKafkaSink fails at start() with the same data-source error and leaves no query") {
    // the producer side of the same env-bound claim: the sink is wired
    // (record encoding + options), and start() is where the missing
    // connector jar surfaces
    val tmp = Files.createTempDirectory("graft-kafka-sink").toString
    new java.io.File(s"$tmp/landing").mkdirs()
    val events = EventStreamIngest.fromFiles(spark, s"$tmp/landing")
    val thrown = intercept[Exception] {
      EventStreamIngest.toKafkaSink(events, "broker:9092",
        checkpointDir = s"$tmp/ckpt")
    }
    // the sink lookup raises Spark's Kafka-specific form of the error
    // ("Failed to find data source: kafka. Please deploy ...")
    val msg = thrown.getMessage
    assert(msg.contains("kafka"), msg)
    assert(msg.contains("DATA_SOURCE_NOT_FOUND") ||
      msg.toLowerCase.contains("failed to find"), msg)
    assert(spark.streams.active.isEmpty)
  }

  test("kafka wire records round-trip: encode keys by order_id, decode restores events") {
    val events = spark.createDataFrame((1 to 25).map(ev))
    val records = EventStreamIngest.toKafkaRecords(events)
    assert(records.columns.toSeq == Seq("key", "value"))
    // producer contract: key is the order id (per-order ordering)
    val keys = records.select("key").collect().map(_.getString(0)).toSet
    assert(keys == (1 to 25).map(i => s"o${i % 7}").toSet)
    // the consumer decode restores the full typed rows
    val decoded = EventStreamIngest.decodeKafkaValue(records)
    assert(decoded.schema == events.schema)
    val before = events.orderBy("event_id").collect().toSeq
    val after = decoded.orderBy("event_id").collect().toSeq
    assert(after == before)
  }
}

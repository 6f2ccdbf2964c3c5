package graft.streaming

import graft.SparkSuite
import graft.model.LogisticsEvent
import java.nio.file.Files

/** [[StatefulOps.orderProgress]] on the RocksDB state store: state carried
  * across micro-batches and restored by a restarted query. (The suite's name
  * is kept from the `transformWithState` twin these tests once covered.) */
class StatefulOpsV2Spec extends SparkSuite {

  private def ev(id: Int, order: String, minute: Int, status: String) =
    LogisticsEvent(
      Some(f"e$id%03d"), Some(order),
      Some(f"2026-02-23T01:$minute%02d:00+00:00"), Some(status),
      Some("A, AA"), Some("B, BB"), Some("DHL"),
      Some(10.0), Some(20.0), Some(5.5), Some("2026-03-01"))

  // batch 1: o1 created+moving, o2 created; batch 2: o1 again SAME status
  // (unchanged flag must be false), o2 delivered (changed)
  private def batch1 = Seq(
    ev(1, "o1", 1, "Created"), ev(2, "o1", 5, "In Transit"),
    ev(3, "o2", 2, "Created"))
  private def batch2 = Seq(ev(4, "o1", 9, "In Transit"), ev(5, "o2", 11, "Delivered"))

  private def runStreamed(name: String,
      progress: org.apache.spark.sql.Dataset[LogisticsEvent] =>
        org.apache.spark.sql.Dataset[OrderUpdate]): Seq[OrderUpdate] = {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory(s"graft-$name").toString
    val srcDir = s"$tmp/landing"; new java.io.File(srcDir).mkdirs()
    def writeFile(fname: String, events: Seq[LogisticsEvent]): Unit = {
      val stage = Files.createTempDirectory(s"graft-$name-stage").toString
      spark.createDataFrame(events).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$srcDir/$fname").toPath)
    }
    writeFile("b1.parquet", batch1)
    writeFile("b2.parquet", batch2)
    val stream = spark.readStream.schema(LogisticsEvent.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir).as[LogisticsEvent]
    val q = progress(stream)
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    spark.table(name).as[OrderUpdate].collect().toSeq
  }

  /** Phase 1: query over batch 1 runs to completion and STOPS. Phase 2: a
    * NEW query instance on the same checkpoint processes batch 2. Returns
    * phase 2's output only. This is the restart-recovery contract a real
    * cluster invokes on driver loss: per-order state must be RESTORED from
    * the state store by the fresh query, not recounted from zero. */
  private def runRestarted(name: String,
      progress: org.apache.spark.sql.Dataset[LogisticsEvent] =>
        org.apache.spark.sql.Dataset[OrderUpdate]): Seq[OrderUpdate] = {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory(s"graft-$name").toString
    val srcDir = s"$tmp/landing"; new java.io.File(srcDir).mkdirs()
    def writeFile(fname: String, events: Seq[LogisticsEvent]): Unit = {
      val stage = Files.createTempDirectory(s"graft-$name-stage").toString
      spark.createDataFrame(events).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$srcDir/$fname").toPath)
    }
    // the memory sink refuses checkpoint recovery by design; foreachBatch
    // is the recoverable sink a production restart would use
    def phase(): Seq[OrderUpdate] = {
      val buf = scala.collection.mutable.ArrayBuffer[OrderUpdate]()
      val stream = spark.readStream.schema(LogisticsEvent.schema)
        .parquet(srcDir).as[LogisticsEvent]
      val q = progress(stream)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[OrderUpdate], _: Long) =>
          val rows = b.collect()
          buf.synchronized { buf ++= rows }
          ()
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      buf.synchronized(buf.toSeq)
    }
    writeFile("b1.parquet", batch1)
    phase()
    writeFile("b2.parquet", batch2)
    phase() // fresh query instance, fresh buffer: batch-2 rows only
  }

  /** `body` with the RocksDB state store — the production store, whose
    * changelog/snapshot files are what an executor-loss recovery replays. */
  private def onRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      body
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("restart recovery: a NEW query on the same checkpoint restores per-order state") {
    // o1's batch-2 update must count 3 events (2 recovered + 1 new) with an
    // UNCHANGED status flag, and o2 must see its status change — both
    // depend on state written by the stopped phase-1 query. A recovery bug
    // (state lost, recounted from zero) would read (1, "In Transit", true)
    // / (1, "Delivered", true) instead.
    val expected = Set(
      ("o1", 3L, "In Transit", false),
      ("o2", 2L, "Delivered", true))
    def shape(us: Seq[OrderUpdate]) =
      us.map(u => (u.order_id, u.n_events, u.status, u.status_changed)).toSet

    // the default (HDFS-backed) store, then RocksDB
    assert(shape(runRestarted("restart_hdfs", StatefulOps.orderProgress))
      === expected)
    assert(shape(onRocksDb(runRestarted("restart_rocksdb", StatefulOps.orderProgress)))
      === expected)
  }

  test("transformWithState: state carries across micro-batches, TTL-backed RocksDB store") {
    val rocks = onRocksDb(runStreamed("state_rocksdb", StatefulOps.orderProgress))
    // per (order, batch): o1 b1 (2 ev, changed), o2 b1 (1 ev, changed),
    // o1 b2 (3 ev, UNCHANGED status), o2 b2 (2 ev, changed)
    val byKey = rocks.groupBy(_.order_id)
    assert(byKey("o1").map(u => (u.n_events, u.status, u.status_changed)).toSet
      === Set((2L, "In Transit", true), (3L, "In Transit", false)))
    assert(byKey("o2").map(u => (u.n_events, u.status, u.status_changed)).toSet
      === Set((1L, "Created", true), (2L, "Delivered", true)))

    // the store provider does not change what the fold emits
    val hdfs = runStreamed("state_hdfs", StatefulOps.orderProgress)
    assert(rocks.toSet === hdfs.toSet)
  }
}

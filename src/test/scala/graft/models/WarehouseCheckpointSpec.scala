package graft.models

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.SparkSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/**
 * `Warehouse.fromRaw(cacheShared = true)` materializes each model once as a
 * checkpointed leaf and holds exactly what the lazy view DAG computes.
 */
class WarehouseCheckpointSpec extends SparkSuite {

  private lazy val raw = spark.read.parquet(fixturePath("raw_logistics.parquet"))

  private def build(cacheShared: Boolean): Warehouse =
    Warehouse.fromRaw(raw, lit("2026-02-23 12:00:00").cast("timestamp"), cacheShared)

  /** Every frame of `w` by field name: raw, then the ten models. */
  private def frames(w: Warehouse): Seq[(String, DataFrame)] =
    w.productElementNames.zip(w.productIterator.map(_.asInstanceOf[DataFrame])).toSeq

  /** Spark jobs `body` starts. */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // bus events arrive in order: once a sentinel's job is seen, every job
    // started before it has been reported
    def untilSentinel(): Int = {
      sc.setJobDescription("sentinel")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      Iterator.continually(seen.poll(30, TimeUnit.SECONDS))
        .takeWhile(d => { assert(d != null, "no job event in 30 s"); d != "sentinel" })
        .size
    }
    sc.addSparkListener(listener)
    try {
      untilSentinel() // events of earlier jobs still queued at registration
      body
      untilSentinel()
    } finally sc.removeSparkListener(listener)
  }

  private lazy val shared = build(cacheShared = true)
  private lazy val plain = build(cacheShared = false)

  test("each of the 11 frames equals the lazy view DAG's, as a multiset") {
    val pairs = frames(shared).zip(frames(plain))
    assert(pairs.size == 11)
    pairs.foreach { case ((name, a), (_, b)) =>
      assert(a.schema == b.schema, name)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, name)
    }
  }

  test("each of the ten models is a checkpointed leaf") {
    frames(shared).tail.foreach { case (name, df) =>
      assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD], name)
    }
  }

  test("fromRaw(cacheShared = false) starts no Spark job") {
    raw // the read itself infers the schema with a job
    assert(jobsStarted(build(cacheShared = false)) == 0)
    assert(jobsStarted(build(cacheShared = true)) >= 10) // one build per model
  }
}

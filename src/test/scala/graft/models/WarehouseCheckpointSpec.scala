package graft.models

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.SparkSuite
import graft.model.LogisticsEvent
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/**
 * `Warehouse.fromRaw(cacheShared = true)` derives each model from stored
 * frames by projection and filter only, and holds exactly what the lazy
 * view DAG computes.
 */
class WarehouseCheckpointSpec extends SparkSuite {

  private lazy val raw = spark.read.parquet(fixturePath("raw_logistics.parquet"))

  /**
   * The cases the fixture lacks (one event per order, no late delivery,
   * every key resolved): an order with two valid events from different
   * origins, one estimated before the order's latest event; a null and a
   * whitespace-only carrier; locations seen as both origin and destination
   * with different coordinates; each invalid reason, and one row with two
   * (the CASE's priority); a null timestamp, which lands on neither side;
   * and a null event id, which staging drops.
   */
  private lazy val edgeRaw: DataFrame = {
    def ev(id: String, order: String, ts: String = "2026-02-20T10:00:00+00:00",
           status: String = "In Transit", origin: String = "Austin, TX",
           destination: String = "Boston, MA", carrier: String = "DHL",
           lat: Option[Double] = Some(30.0), lon: Option[Double] = Some(-97.0),
           weight: Double = 5.0, estimate: String = "2026-02-25") =
      LogisticsEvent(Option(id), Some(order), Option(ts), Option(status), Option(origin),
        Option(destination), Option(carrier), lat, lon, Some(weight), Some(estimate))
    spark.createDataFrame(Seq(
      ev("e1", "o1", estimate = "2026-02-21"), // before o1's latest event: late
      ev("e2", "o1", ts = "2026-02-22T08:00:00+00:00", status = "Delayed",
        origin = "Chicago, IL", carrier = "UPS", lat = Some(41.0), lon = Some(-87.0)),
      ev("e3", "o2", destination = "Denver, CO", carrier = null),
      ev("e4", "o3", origin = "Denver, CO", carrier = "   ",
        lat = Some(39.5), lon = Some(-105.0)),
      ev("e5", "o4", origin = "Boston, MA", destination = "Austin, TX",
        lat = Some(42.0), lon = Some(-71.0)),
      ev("i1", "o6", weight = 0.0),
      ev("i2", "o7", lat = None),
      ev("i3", "o8", estimate = "2026-02-19"),
      ev("i4", "o9", status = " "),
      ev("i5", "o10", destination = null),
      ev("i6", "o11", weight = -1.0, status = null),
      ev("n1", "o12", ts = null),
      ev(null, "o13")))
  }

  private def build(cacheShared: Boolean, input: DataFrame = raw): Warehouse =
    Warehouse.fromRaw(input, lit("2026-02-23 12:00:00").cast("timestamp"), cacheShared)

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

  /** dim_order's `any_value(origin/destination)` is arbitrary in both
    * builds: compare every other column as a multiset, and those two by
    * membership in the order's valid values. */
  private def assertSameWarehouse(shared: Warehouse, plain: Warehouse): Unit = {
    val pairs = frames(shared).zip(frames(plain))
    assert(pairs.size == 11)
    pairs.foreach { case ((name, a), (_, b)) =>
      assert(a.schema == b.schema, name)
      val (x, y) =
        if (name == "dimOrder") (a.drop("origin", "destination"), b.drop("origin", "destination"))
        else (a, b)
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, name)
    }
    for (w <- Seq(shared, plain); c <- Seq("origin", "destination"))
      assert(w.dimOrder.join(w.valid.select("order_id", c), Seq("order_id", c), "left_anti")
        .isEmpty, c)
  }

  test("each of the 11 frames equals the lazy view DAG's, as a multiset") {
    assertSameWarehouse(shared, plain)
    val edgeShared = build(cacheShared = true, edgeRaw)
    val edgePlain = build(cacheShared = false, edgeRaw)
    assertSameWarehouse(edgeShared, edgePlain)
    // the DQ summary keeps the reference's row order: by date, then reason
    assert(edgeShared.dqInvalidDeliverySummary.collect().toSeq ==
      edgePlain.dqInvalidDeliverySummary.collect().toSeq)
    // the edge input reaches every case it was built for
    val fact = edgeShared.factEvent
    assert(fact.filter(col("is_late_delivery")).count() == 1)
    assert(fact.filter(col("carrier_sk").isNull).count() == 2)
    assert(edgeShared.invalid.select("invalid_reason").distinct().count() == 5)
    assert(edgeShared.stg.count() == 12)
    assert(edgeShared.valid.count() + edgeShared.invalid.count() == 11)
  }

  test("each of the ten models is a checkpointed leaf") {
    // every model is Project / Filter nodes over stored LogicalRDD leaves
    frames(shared).tail.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      assert(plan.collectLeaves().nonEmpty, name)
      plan.foreach {
        case _: LogicalRDD | _: Project | _: Filter =>
        case other => fail(s"$name: ${other.nodeName} above the stored frames")
      }
    }
  }

  test("fromRaw(cacheShared = false) starts no Spark job") {
    raw // the read itself infers the schema with a job
    assert(jobsStarted(build(cacheShared = false)) == 0)
    // four stored frames: the split (1 job), the grouped dims (shuffle + 1),
    // the fact (dim_order broadcast + 1) and the DQ summary (shuffle + 1)
    assert(jobsStarted(build(cacheShared = true)) == 7)
  }
}

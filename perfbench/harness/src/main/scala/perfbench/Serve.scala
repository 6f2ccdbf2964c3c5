package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import graft.models.Warehouse
import graft.serve.{ConnectServe, DashboardQueries => D}

/** The per-layer metric names, shared by every workload's traced run. */
object Layers {
  val pipelineSpans: Seq[String] =
    Seq("streaming", "ingest", "quality.dq", "quality.tests", "models", "serve.publish")

  val views: Seq[(String, Warehouse => DataFrame)] = Seq(
    "carrier_performance" -> D.carrierPerformance,
    "active_shipments" -> D.activeShipments,
    "weight_distribution" -> D.weightDistribution,
    "events_by_status" -> D.eventsByStatus,
    "headline_kpis" -> D.headlineKpis,
    "ingestion_trend" -> D.ingestionTrend,
    "dq_issues" -> D.dqIssues,
    "recent_raw" -> D.recentRaw)

  val families: Seq[String] =
    Seq("s", "p", "j", "a", "u", "o", "f", "w", "t", "dedup", "samp", "sim", "mm", "v", "x")

  val all: Seq[String] =
    pipelineSpans.flatMap(s =>
      Seq("wall_s", "jobs", "cpu_util", "driver_s", "shuffle_bytes").map(m => s"$s.$m")) ++
    Seq("streaming.batches", "streaming.batch_ms_p50", "streaming.list_ms",
      "streaming.plan_ms", "streaming.commit_ms", "streaming.write_ms",
      "streaming.bronze_files",
      "ingest.bronze_files_read", "ingest.raw_files", "ingest.load_ratio",
      "quality.tests_count", "quality.tests_jobs_per_test", "quality.tests_cached_mb",
      "models.cached_mb") ++
    views.flatMap { case (v, _) => Seq(s"serve.$v.inproc_ms", s"serve.$v.wire_ms", s"serve.$v.rows") } ++
    Seq("serve.wire_overhead_ms", "serve.jobs_per_query") ++
    families.flatMap(f => Seq(s"coverage.$f.s", s"coverage.$f.jobs", s"coverage.$f.cpu_util")) ++
    Seq("coverage.driver_s", "trace.overhead_s")

  /** Every per-layer metric; layers a workload does not exercise read 0. */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- all
    require(unknown.isEmpty, s"metrics outside the per-layer list: $unknown")
    all.map(k => k -> m.getOrElse(k, 0.0)).toMap
  }
}

/** Row counts read by file scans, per table root, from executed plans. */
final class ScanRows(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val rows = mutable.HashMap.empty[String, Long]

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      ScanRows.this.synchronized {
        scans.foreach { s =>
          val n = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          s.relation.location.rootPaths.foreach { p =>
            val k = p.toUri.getPath
            rows(k) = rows.getOrElse(k, 0L) + n
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = spark.listenerManager.register(listener)
  def uninstall(): Unit = spark.listenerManager.unregister(listener)

  def rowsUnder(dir: String): Long = synchronized {
    val root = new java.io.File(dir).getAbsolutePath
    rows.collect { case (k, n) if k.startsWith(root) => n }.sum
  }
}

object Serve {

  /** Every cached block in the application, MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6

  /** The warehouse's own cached frames (staging and valid), MB. */
  def warehouseCachedMb(spark: SparkSession, w: Warehouse): Double =
    Seq(w.stg, w.valid).flatMap(df => spark.sharedState.cacheManager
        .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]))
      .map(_.cachedRepresentation.cacheBuilder.sizeInBytesStats.value.longValue).sum / 1e6

  def rowStrings(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))

  /** Wire result equals the in-process one: as sorted row strings, or by
    * row count for `recent_raw`, whose ORDER BY … LIMIT 20 has ties. */
  def sameResult(view: String, inproc: Seq[Seq[String]], wire: Seq[Seq[String]]): Boolean =
    if (view == "recent_raw") inproc.size == wire.size
    else inproc.map(_.mkString("|")).sorted == wire.map(_.mkString("|")).sorted

  def sql(view: String): String = s"SELECT * FROM global_temp.dash_$view"

  /** Span totals for the named spans: wall, jobs, CPU use, driver-only time
    * and shuffle bytes. */
  def spanMetrics(t: Tracer, names: Seq[String]): Map[String, Double] =
    names.flatMap { n =>
      val s = t.stats(n)
      Seq(s"$n.wall_s" -> s.wallS, s"$n.jobs" -> s.jobs.toDouble,
        s"$n.cpu_util" -> s.cpuUtil, s"$n.driver_s" -> s.driverS,
        s"$n.shuffle_bytes" -> s.shuffleBytes.toDouble)
    }.toMap

  /**
   * Per view: in-process `collect()` time, wire query time and rows, each
   * the median of two after one warm-up, plus the mean wire overhead and
   * jobs per wire query. Every wire query is an operation whose result must
   * equal the in-process one.
   */
  def viewMetrics(ctx: Ctx, t: Tracer, w: Warehouse): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val overhead = mutable.ArrayBuffer.empty[Double]
    var wireQueries = 0
    ConnectServe.withConnection(ctx.port) { conn =>
      Layers.views.foreach { case (v, q) =>
        val expect = Loader.engine(rowStrings(q(w)))
        ConnectServe.querySeq(conn, sql(v))
        val inproc = (1 to 2).map(_ => Clock.timed(t.span("serve.inproc")(
          Loader.engine(rowStrings(q(w)))))._2 * 1000)
        val wire = (1 to 2).map { _ =>
          var got: Seq[Seq[String]] = Nil
          val (_, s) = Clock.timed(t.span("serve.wire") {
            got = ConnectServe.querySeq(conn, sql(v))._2
          })
          wireQueries += 1
          ctx.op(s"wire $v") { sameResult(v, expect, got) }
          s * 1000
        }
        m(s"serve.$v.inproc_ms") = Stats.median(inproc)
        m(s"serve.$v.wire_ms") = Stats.median(wire)
        m(s"serve.$v.rows") = expect.size.toDouble
        overhead += Stats.median(wire) - Stats.median(inproc)
      }
    }
    t.settle()
    m("serve.wire_overhead_ms") = overhead.sum / overhead.size
    m("serve.jobs_per_query") = t.jobCount("serve.wire").toDouble / wireQueries
    m.toMap
  }
}

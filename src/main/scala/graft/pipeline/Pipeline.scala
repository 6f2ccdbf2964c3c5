package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.ingest.RawLoader
import graft.models.Warehouse
import graft.quality.{DbtStyleTests, DqChecks}
import graft.streaming.EventStreamIngest

/**
 * The staged batch driver mirroring the reference's hourly Airflow DAG
 * (`airflow/dags/logistics_dag.py:99`):
 *
 *   stream_to_minio >> load_to_duckdb >> run_dq_checks >> dbt_run >>
 *   dbt_test >> log_success
 *
 * Stage boundaries collapse into one Spark driver: the stream drain is an
 * AvailableNow streaming query, load/DQ/model/test are batch jobs, and the
 * DQ gate is a thrown `DqGateFailure` (the analogue of `sys.exit(1)`).
 */
object Pipeline {

  final case class RunResult(
      newRawRows: Long,
      dqResults: Seq[DqChecks.CheckResult],
      warehouse: Warehouse,
      testResults: Seq[DbtStyleTests.TestResult]) {
    def testsPassed: Boolean = testResults.forall(_.passed)
  }

  /**
   * One full pipeline run against a file landing zone.
   *
   * @param landingDir  where producer parquet batches arrive
   * @param bronzeDir   checkpointed streaming sink (partitioned by ingest date)
   * @param rawTableDir the accumulating raw_logistics parquet table
   */
  def run(spark: SparkSession, landingDir: String, bronzeDir: String,
          checkpointDir: String, rawTableDir: String): RunResult = {

    // 1. stream_to_minio: drain everything pending from the landing zone.
    // awaitTermination's Boolean is load-bearing (r11 review): false means
    // the drain is STILL RUNNING after the timeout, and proceeding would
    // race the loader against in-flight sink commits — incomplete data
    // through DQ and the models with a normal-looking RunResult. The
    // reference DAG's analogue is a task timeout failing the run.
    val q = EventStreamIngest.bronzeSink(
      EventStreamIngest.fromFiles(spark, landingDir), bronzeDir, checkpointDir)
    if (!q.awaitTermination(600000)) {
      q.stop()
      throw new IllegalStateException(
        "bronze drain did not finish within 600s — aborting the run " +
          "rather than loading a partially-written bronze directory")
    }

    // 2. load_to_duckdb: incremental anti-join append into raw_logistics
    // (partition discovery on the bronze root; partition columns are pruned
    // by the explicit 11-column read schema)
    val newRows = RawLoader.load(spark, bronzeDir, rawTableDir)

    // 3. run_dq_checks: the 7-check gate (throws DqGateFailure on ERROR)
    val raw = spark.read.schema(graft.model.LogisticsEvent.rawSchema)
      .parquet(rawTableDir)
    val dq = DqChecks.runAll(raw)

    // 4. dbt_run: past the DQ gate, store four frames and derive every model
    // from one of them by projection or filter, then register each model of
    // Warehouse.models as a view; the tests, the dashboard publish and every
    // serving query read the stored frames
    val w = Warehouse.fromRaw(raw, cacheShared = true)
    w.registerViews()

    // 5. dbt_test: schema assertions over the built models
    val tests = DbtStyleTests.suite(w)

    RunResult(newRows, dq, w, tests)
  }

  /**
   * The dashboard-serving stage: publish every dashboard model under
   * `global_temp.dash_*` and stand up the read-only Spark Connect endpoint
   * ([[graft.serve.ConnectServe]]). This is the reference's post-run state —
   * `dbt run` outputs served to Streamlit over a separate read-only
   * connection (`Business_KPI_dashboard.py:10-14`) — as one call after
   * [[run]]: clients query, only the engine mutates. Re-invoking after a
   * later run() re-publishes the views under live client connections
   * (global temp view replace is atomic per lookup; ConnectServeSpec pins
   * it), so the hourly cadence needs no endpoint restart.
   */
  def serve(spark: SparkSession, w: Warehouse,
            port: Int = graft.serve.ConnectServe.DefaultPort): Unit = {
    import graft.serve.{ConnectServe, DashboardQueries => D}
    ConnectServe.publish("dash_carrier_performance", D.carrierPerformance(w))
    ConnectServe.publish("dash_active_shipments", D.activeShipments(w))
    ConnectServe.publish("dash_weight_distribution", D.weightDistribution(w))
    ConnectServe.publish("dash_events_by_status", D.eventsByStatus(w))
    ConnectServe.publish("dash_headline_kpis", D.headlineKpis(w))
    ConnectServe.publish("dash_ingestion_trend", D.ingestionTrend(w))
    ConnectServe.publish("dash_dq_issues", D.dqIssues(w))
    ConnectServe.publish("dash_recent_raw", D.recentRaw(w))
    ConnectServe.start(spark, port)
  }
}

package graft.serve

import graft.SparkSuite
import graft.models.Warehouse
import org.apache.spark.sql.DataFrame

/**
 * The serving process boundary (SURVEY §2 S12): the reference's dashboards
 * connect to the warehouse over a separate read-only connection
 * (`Business_KPI_dashboard.py:10-14`, `pipeline_monitoring_dashboard.py:11-15`);
 * this spec stands up the Spark-native twin — a localhost Spark Connect
 * endpoint — and drives dashboard queries through a real wire client
 * (gRPC over TCP, JDBC surface, fully isolated classloader), asserting the
 * served results equal the in-process ones.
 */
class ConnectServeSpec extends SparkSuite {

  private lazy val w: Warehouse = {
    val raw = spark.read.parquet(fixturePath("raw_logistics.parquet"))
    Warehouse.fromRaw(raw, cacheShared = false)
  }

  private def inProcess(df: DataFrame): (Seq[String], Seq[Seq[String]]) = {
    val cols = df.columns.toSeq
    val rows = df.collect().toSeq.map(r =>
      (0 until r.length).map(i => String.valueOf(r.get(i))))
    (cols, rows)
  }

  /** Sorted row-string comparison: the dashboard sorts carry ties (e.g.
    * every carrier at on_time_rate 100.0), whose relative order is not a
    * semantic part of the result. */
  private def assertSameResult(df: DataFrame, sql: String): Unit = {
    val (expCols, expRows) = inProcess(df)
    val (gotCols, gotRows) = ConnectServe.withConnection() { conn =>
      ConnectServe.querySeq(conn, sql)
    }
    assert(gotCols == expCols)
    assert(gotRows.sortBy(_.mkString("|")) == expRows.sortBy(_.mkString("|")))
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    ConnectServe.publish("dash_carrier_performance", DashboardQueries.carrierPerformance(w))
    ConnectServe.publish("dash_events_by_status", DashboardQueries.eventsByStatus(w))
    ConnectServe.publish("dash_dq_issues", DashboardQueries.dqIssues(w))
    ConnectServe.publish("serve_fact_event", w.factEvent)
    ConnectServe.start(spark)
  }

  override def afterAll(): Unit = {
    try ConnectServe.stop()
    finally super.afterAll()
  }

  test("carrier KPI served over the wire equals the in-process result") {
    assertSameResult(DashboardQueries.carrierPerformance(w),
      "SELECT * FROM global_temp.dash_carrier_performance")
  }

  test("events-by-status served over the wire equals the in-process result") {
    assertSameResult(DashboardQueries.eventsByStatus(w),
      "SELECT * FROM global_temp.dash_events_by_status")
  }

  test("dq-issues served over the wire equals the in-process result") {
    assertSameResult(DashboardQueries.dqIssues(w),
      "SELECT * FROM global_temp.dash_dq_issues")
  }

  test("ad-hoc client SQL aggregates a published base model server-side") {
    val (cols, rows) = ConnectServe.withConnection() { conn =>
      ConnectServe.querySeq(conn,
        """SELECT count(*) AS n, count(DISTINCT carrier_sk) AS carriers
          |FROM global_temp.serve_fact_event""".stripMargin)
    }
    assert(cols == Seq("n", "carriers"))
    assert(rows == Seq(Seq("617", "4")))
  }

  test("connect sessions are isolated: a plain temp view is NOT visible to clients") {
    w.dimCarrier.createOrReplaceTempView("local_only_dim_carrier")
    val thrown = intercept[Exception] {
      ConnectServe.withConnection() { conn =>
        ConnectServe.querySeq(conn, "SELECT * FROM local_only_dim_carrier")
      }
    }
    assert(thrown.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      thrown.getMessage.contains("local_only_dim_carrier"))
  }

  test("re-publish is visible to an already-open client connection") {
    // the reference's serving loop: the hourly DAG re-runs `dbt run` while
    // dashboards keep their connection open and poll — a published model
    // must swap under a live client. Global temp views are catalog-wide
    // and each executeQuery resolves the view fresh, so the replace is
    // atomic from the client's perspective: it sees v1 or v2, never an
    // error or a mix.
    // frames are built OUTSIDE withConnection: its body runs with the
    // isolated client loader as context classloader, under which server-side
    // ScalaReflection (toDF encoder derivation) cannot resolve types
    import spark.implicits._
    val v1 = Seq(("v1", 1L)).toDF("tag", "n")
    val v2 = Seq(("v2", 1L), ("v2b", 2L)).toDF("tag", "n")
    ConnectServe.publish("serve_republish_probe", v1)
    val (before, after) = ConnectServe.withConnection() { conn =>
      val b = ConnectServe.querySeq(conn,
        "SELECT tag FROM global_temp.serve_republish_probe")._2
      ConnectServe.publish("serve_republish_probe", v2)
      val a = ConnectServe.querySeq(conn,
        "SELECT tag FROM global_temp.serve_republish_probe ORDER BY n")._2
      (b, a)
    }
    assert(before == Seq(Seq("v1")))
    assert(after == Seq(Seq("v2"), Seq("v2b")))
  }

  test("start() on a different port fails loudly while the endpoint is live") {
    val thrown = intercept[IllegalArgumentException] {
      ConnectServe.start(spark, port = ConnectServe.DefaultPort + 1)
    }
    assert(thrown.getMessage.contains("already started"))
    // a same-port re-start stays an idempotent no-op
    ConnectServe.start(spark)
  }

  test("two sequential client connections each get a working session") {
    val first = ConnectServe.withConnection() { conn =>
      ConnectServe.querySeq(conn,
        "SELECT count(*) AS n FROM global_temp.dash_events_by_status")._2
    }
    val second = ConnectServe.withConnection() { conn =>
      ConnectServe.querySeq(conn,
        "SELECT count(*) AS n FROM global_temp.dash_events_by_status")._2
    }
    assert(first == Seq(Seq("6")) && second == Seq(Seq("6")))
  }

  // ------------------------------------------------ read-only enforcement
  // the reference's dashboards hold duckdb.connect(read_only=True): a
  // client can query but can NEVER mutate the warehouse or the published
  // catalog. start() always serves read-only; these tests drive the
  // enforcement over the real wire.

  private def exec(sql: String): Unit =
    ConnectServe.withConnection() { conn =>
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    }

  private def assertDenied(sql: String): Unit = {
    val thrown = intercept[Exception] { exec(sql) }
    assert(thrown.getMessage.contains("read-only"),
      s"expected a read-only rejection for [$sql], got: ${thrown.getMessage}")
  }

  test("client write/DDL statements are rejected by the read-only boundary") {
    assertDenied("CREATE TABLE graft_ro_ctas_probe AS SELECT 1 AS x")
    assertDenied("CREATE TABLE graft_ro_ddl_probe (x INT) USING parquet")
    assertDenied("DROP TABLE IF EXISTS graft_ro_ctas_probe")
    assertDenied("CREATE GLOBAL TEMP VIEW graft_ro_gview AS SELECT 1 AS x")
    assertDenied("CACHE TABLE global_temp.dash_dq_issues")
    // indirection is not a bypass: EXECUTE IMMEDIATE resolves to the inner
    // statement's plan inside the same session's analyzer
    assertDenied("EXECUTE IMMEDIATE 'CREATE TABLE graft_ro_ei AS SELECT 1 AS x'")
  }

  test("a client cannot unpublish a served model, and it keeps serving") {
    assertDenied("DROP VIEW global_temp.dash_dq_issues")
    val (_, rows) = ConnectServe.withConnection() { conn =>
      ConnectServe.querySeq(conn,
        "SELECT count(*) AS n FROM global_temp.dash_dq_issues")
    }
    assert(rows.head.head.toInt >= 0) // still resolvable after the denial
  }

  test("client INSERT into a warehouse table is rejected; the engine still writes") {
    // engine-side: full capability while serving (the dbt-run half of the
    // contract) — create, insert, verify, then leave for the client test
    spark.sql("DROP TABLE IF EXISTS graft_ro_target")
    spark.sql("CREATE TABLE graft_ro_target (x INT) USING parquet")
    try {
      spark.sql("INSERT INTO graft_ro_target VALUES (1)")
      assert(spark.sql("SELECT count(*) FROM graft_ro_target")
        .collect().head.getLong(0) == 1L)
      assertDenied("INSERT INTO graft_ro_target VALUES (2)")
      assert(spark.sql("SELECT count(*) FROM graft_ro_target")
        .collect().head.getLong(0) == 1L, "the denied INSERT must not land")
    } finally spark.sql("DROP TABLE IF EXISTS graft_ro_target")
  }

  test("session-local temp views remain available to clients") {
    // scratch state inside the client's own isolated session is not a write
    // to anything shared — mirrors read_only DuckDB allowing temp objects
    ConnectServe.withConnection() { conn =>
      val st = conn.createStatement()
      try {
        st.execute("CREATE TEMP VIEW graft_ro_scratch AS SELECT 7 AS x")
        val (_, rows) = ConnectServe.querySeq(conn,
          "SELECT x FROM graft_ro_scratch")
        assert(rows == Seq(Seq("7")))
        st.execute("DROP VIEW graft_ro_scratch")
      } finally st.close()
    }
  }

  test("a denied statement leaves the connection healthy") {
    ConnectServe.withConnection() { conn =>
      val st = conn.createStatement()
      try {
        intercept[Exception] { st.execute("CREATE TABLE graft_ro_again AS SELECT 1") }
        val (_, rows) = ConnectServe.querySeq(conn,
          "SELECT count(*) AS n FROM global_temp.dash_events_by_status")
        assert(rows == Seq(Seq("6")))
      } finally st.close()
    }
  }

  test("SET / SHOW / DESCRIBE / EXPLAIN stay available to read-only clients") {
    ConnectServe.withConnection() { conn =>
      val st = conn.createStatement()
      try {
        st.execute("SET spark.sql.shuffle.partitions=7")
        st.execute("SHOW TABLES")
        st.execute("EXPLAIN SELECT * FROM global_temp.dash_dq_issues")
        st.execute("DESCRIBE QUERY SELECT 1 AS x")
      } finally st.close()
    }
  }

  // ---------------------------------------------- wire-level proto surfaces
  // the JDBC client only speaks SqlCommand; these drive the client-jvm
  // session's catalog-metadata and artifact-upload protos — the surfaces
  // ReadOnlyInterceptor closes at the gRPC service layer.

  // exact-descriptor client API classes (loaded in the isolated loader);
  // lazily resolved so suites that never wire-drive don't touch client jars
  private lazy val dsCls =
    ConnectServe.clientClass("org.apache.spark.sql.connect.Dataset")
  private lazy val catCls =
    ConnectServe.clientClass("org.apache.spark.sql.connect.Catalog")

  private def call(target: AnyRef, method: String, ret: Class[_],
                   args: (Class[_], AnyRef)*): AnyRef =
    ConnectServe.clientCall(target, method, ret, args: _*)

  test("catalog-metadata RPCs: dropGlobalTempView is denied over the wire, listTables works") {
    ConnectServe.withClientSession() { session =>
      val catalog = call(session, "catalog", catCls)
      // read-only metadata keeps working (and sees the published views)
      val tables = call(catalog, "listTables", dsCls)
      val n = call(tables, "count", java.lang.Long.TYPE).asInstanceOf[Long]
      assert(n >= 0)
      // the mutation proto is rejected at the service layer
      val thrown = intercept[Exception] {
        call(catalog, "dropGlobalTempView", java.lang.Boolean.TYPE,
          classOf[String] -> "dash_dq_issues")
      }
      assert(thrown.getMessage.contains("read-only"),
        s"expected wire-level denial, got: ${thrown.getMessage}")
    }
    // the served model is untouched
    val (_, rows) = ConnectServe.withConnection() { conn =>
      ConnectServe.querySeq(conn,
        "SELECT count(*) AS n FROM global_temp.dash_dq_issues")
    }
    assert(rows.head.head.toInt >= 0)
  }

  test("catalog cache RPCs are denied: cacheTable/clearCache can't touch the shared cache") {
    ConnectServe.withClientSession() { session =>
      val catalog = call(session, "catalog", catCls)
      val cached = intercept[Exception] {
        call(catalog, "cacheTable", java.lang.Void.TYPE,
          classOf[String] -> "global_temp.dash_dq_issues")
      }
      assert(cached.getMessage.contains("read-only"))
      val cleared = intercept[Exception] {
        call(catalog, "clearCache", java.lang.Void.TYPE)
      }
      assert(cleared.getMessage.contains("read-only"))
    }
  }

  test("artifact upload is denied over the wire; the session still queries") {
    val jar = java.nio.file.Files.createTempFile("graft_ro_artifact", ".jar")
    try {
      java.nio.file.Files.write(jar, Array[Byte](0x50, 0x4b, 0x03, 0x04))
      ConnectServe.withClientSession() { session =>
        val thrown = intercept[Exception] {
          call(session, "addArtifact", java.lang.Void.TYPE,
            classOf[String] -> jar.toString)
        }
        assert(thrown.getMessage.contains("read-only"),
          s"expected AddArtifacts denial, got: ${thrown.getMessage}")
        // the same session keeps serving queries after the denial
        val df = call(session, "sql", dsCls, classOf[String] -> "SELECT 41 + 1 AS x")
        val rows = call(df, "collect", classOf[Object]).asInstanceOf[Array[_]]
        assert(rows.length == 1 && rows.head.toString.contains("42"))
      }
    } finally java.nio.file.Files.deleteIfExists(jar)
  }

  test("client persist is denied: the shared cache manager is not client-mutable") {
    ConnectServe.withClientSession() { session =>
      val df = call(session, "sql", dsCls,
        classOf[String] -> "SELECT * FROM global_temp.dash_events_by_status")
      val thrown = intercept[Exception] { call(df, "cache", dsCls) }
      assert(thrown.getMessage.contains("read-only"))
    }
  }

  test("re-publish churn under concurrent clients: every read sees a complete version") {
    // the deployed steady state: the hourly engine run re-publishes models
    // WHILE several dashboards poll. Each client read must resolve one
    // complete published version — v1 or v2, never an error, never a mix.
    // 3 reader threads loop over the wire while the engine swaps the view
    // between two frames of different sizes 10 times.
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicBoolean
    val s = spark
    import s.implicits._
    val v1 = Seq(("a", 1L)).toDF("tag", "n")
    val v2 = Seq(("b", 1L), ("b", 2L), ("b", 3L)).toDF("tag", "n")
    ConnectServe.publish("serve_churn_probe", v1)
    val stop = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(3)
    val readers = (0 until 3).map { _ =>
      pool.submit(new Callable[Seq[(String, Int)]] {
        def call(): Seq[(String, Int)] = ConnectServe.withConnection() { conn =>
          val seen = Seq.newBuilder[(String, Int)]
          while (!stop.get()) {
            val rows = ConnectServe.querySeq(conn,
              "SELECT tag FROM global_temp.serve_churn_probe")._2
            seen += ((rows.head.head, rows.size))
          }
          seen.result()
        }
      })
    }
    try {
      for (i <- 1 to 10) {
        ConnectServe.publish("serve_churn_probe", if (i % 2 == 0) v1 else v2)
        Thread.sleep(150)
      }
    } finally stop.set(true)
    val observed = readers.flatMap(_.get(120, TimeUnit.SECONDS)).toSet
    pool.shutdownNow()
    // only the two complete versions are ever observable
    assert(observed.subsetOf(Set(("a", 1), ("b", 3))),
      s"readers saw a torn or mixed version: $observed")
    assert(observed.nonEmpty)
  }

  test("concurrent clients: parallel connections all serve correct results") {
    // the reference's dashboards are multi-user — several Streamlit sessions
    // hold simultaneous read-only connections. Drive 8 client sessions over
    // 4 threads, mixing the dashboard views, and assert every one returns
    // the in-process answer. Exercises concurrent gRPC sessions, concurrent
    // server-side job scheduling on one context, and withConnection's
    // per-thread context-classloader swap under reuse of pool threads.
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val expected = Seq(
      "SELECT count(*) AS n FROM global_temp.dash_events_by_status" -> "6",
      "SELECT count(*) AS n FROM global_temp.serve_fact_event" -> "617",
      ("SELECT count(*) AS n FROM global_temp.dash_carrier_performance"
        -> DashboardQueries.carrierPerformance(w).count().toString),
      ("SELECT sum(event_count) AS n FROM global_temp.dash_events_by_status"
        -> "617"))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 8).map { i =>
        val (sql, exp) = expected(i % expected.size)
        pool.submit(new Callable[String] {
          def call(): String = ConnectServe.withConnection() { conn =>
            ConnectServe.querySeq(conn, sql)._2.head.head
          }
        }) -> exp
      }
      futures.foreach { case (f, exp) =>
        assert(f.get(120, TimeUnit.SECONDS) == exp)
      }
    } finally pool.shutdownNow()
  }

  test("readOnly start FAILS FAST when the Connect service was already running") {
    // the interceptor conf is read only while the gRPC server is built; a
    // service started outside ConnectServe means our start() is a no-op and
    // the wire guard may be absent — the read-only claim must fail loudly,
    // not degrade to analyzer-only enforcement
    import org.apache.spark.sql.connect.service.SparkConnectService
    ConnectServe.stop()
    try {
      SparkConnectService.start(spark.sparkContext) // the "external" start
      val thrown = intercept[IllegalArgumentException] {
        ConnectServe.start(spark)
      }
      assert(thrown.getMessage.contains("already running"))
    } finally {
      SparkConnectService.stop(None, None)
      // restore the suite's endpoint for afterAll symmetry
      ConnectServe.start(spark)
    }
  }
}

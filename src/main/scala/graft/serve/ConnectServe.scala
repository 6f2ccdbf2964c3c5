package graft.serve

import java.io.File
import java.net.{URL, URLClassLoader}
import java.sql.{Connection, Driver}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connect.service.SparkConnectService

/**
 * The serving process boundary: a read-only Spark Connect endpoint plus a
 * JDBC client that lives in a fully isolated classloader.
 *
 * The reference serves its two Streamlit dashboards over a *separate
 * read-only connection* to the warehouse (`Business_KPI_dashboard.py:10-14`,
 * `pipeline_monitoring_dashboard.py:11-15` — `duckdb.connect(...,
 * read_only=True)`), i.e. the dashboards are clients of the engine, not
 * code running inside it. This is the Spark-native twin:
 *
 *  - the engine process starts a localhost gRPC Spark Connect endpoint
 *    ([[start]]) and publishes the dashboard models as global temp views
 *    ([[publish]]) — the `dbt run` outputs become the serving catalog;
 *  - a dashboard client connects over the wire with plain `java.sql` JDBC
 *    ([[withConnection]]) and issues SQL against the published views. The
 *    query executes server-side on the full engine; only Arrow result
 *    batches cross the wire — exactly the thin-client shape a BI tool needs
 *    against a 1000-executor cluster.
 *
 * Read-only is ENFORCED, not assumed: [[ReadOnlyGuard]]'s analyzer check
 * rule — injected by [[graft.GraftExtensions]] and inherited by every
 * Connect client session, which is a `newSession()` clone of the engine
 * session — rejects any write/DDL command (INSERT, CTAS, DROP,
 * saveAsTable, global-temp-view mutation, …) issued by a Connect-managed
 * session, default-deny with a SHOW/DESCRIBE/EXPLAIN/SET/local-temp-view
 * allowlist. The engine's own session keeps full capability, so models
 * re-publish while dashboards stay connected. [[start]] fails fast if the
 * engine session was built without the extension (the claim would
 * otherwise be unenforceable). The plan-less proto surfaces
 * (catalog-metadata RPCs, `AddArtifacts`/UDF code upload, shared-cache and
 * streaming commands) are denied at the gRPC service layer by
 * [[ReadOnlyInterceptor]], registered here via the service's public
 * `spark.connect.grpc.interceptor.classes` hook — see [[ReadOnlyGuard]] for
 * the full two-layer enforcement surface. There is no full-capability
 * serving mode, as the reference has none.
 *
 * Classloading: the Spark Connect *server* uber-jar (on the main classpath)
 * and the *client* uber-jar (`connect-repl/`) both define
 * `org.apache.spark.connect.proto.*`, compiled against two different
 * protobuf shadings (`org.sparkproject.connect.protobuf` vs
 * `org.sparkproject.com.google.protobuf`) — they must never share a
 * classloader. The client therefore runs in a URLClassLoader parented to
 * the *platform* loader (JDK classes only), seeing the client jars plus the
 * distribution's non-Spark third-party jars. The only types that cross the
 * boundary are JDK `java.sql` interfaces — the same isolation a separate
 * client process would have, minus the fork.
 */
object ConnectServe {

  /** Default localhost port; chosen off 15002 to avoid colliding with an
    * externally-started `start-connect-server.sh`. */
  val DefaultPort = 15102

  @volatile private var started = false
  @volatile private var startedPort = -1
  @volatile private var startedCtx: org.apache.spark.SparkContext = _

  /** Start the read-only Spark Connect endpoint on `localhost:port`
    * (idempotent on the same port). Binding address is pinned to localhost:
    * the serving surface is in-machine only, mirroring the reference's local
    * read-only connect. Fails fast when the engine session cannot enforce
    * read-only, or when a Connect service not started here is already
    * running in this JVM. */
  def start(spark: SparkSession, port: Int = DefaultPort): Unit = synchronized {
    // the service dies with its SparkContext: if that context was stopped,
    // the guard flag is stale — reset so a fresh context can re-serve
    if (started && startedCtx != null && startedCtx.isStopped) started = false
    if (!started) {
      // force the analyzer build so the ReadOnlyGuard check rule — if the
      // session was built with GraftExtensions — registers itself, then
      // fail fast when it did not: client sessions are clones of THIS
      // session, so an unguarded engine session means an unenforceable
      // read-only claim, which is exactly what a deployer must not get
      // silently.
      spark.sql("SELECT 1")
      require(ReadOnlyGuard.isCapable(spark),
        "serving requires the engine session to carry the ReadOnlyGuard " +
          "check rule: build it with " +
          "SparkSession.builder().withExtensions(new GraftExtensions()(_)) " +
          "or --conf spark.sql.extensions=graft.GraftExtensions")
      // Direct liveness probe BEFORE any global-conf mutation: a service
      // already running means the start() below would be a no-op that never
      // rebinds to `port` and never reads the interceptor conf — fail fast
      // here, and fail SIDE-EFFECT FREE (the binding/interceptor conf.sets
      // below mutate the JVM-global SparkConf; probing after them would
      // leave a failed start having silently re-pointed a later external
      // service restart at graft's port with graft's interceptor
      // installed). The probe also backs up the installCount witness after
      // start(), which a CONCURRENT Connect-server build in the same JVM
      // advancing the counter could mask (the witness assumes this is the
      // only builder between its two reads; the probe has no such
      // assumption).
      require(
        !org.apache.spark.sql.connect.GraftConnectBridge.serviceRunning(),
        "a Spark Connect service is already running in this JVM — its gRPC " +
          "server was built without the read-only wire interceptor, and " +
          s"SparkConnectService.start would never rebind it to port $port. " +
          "Stop it (SparkConnectService.stop) and start the endpoint " +
          "through ConnectServe")
      // sc.conf is private[spark]; SparkEnv.conf is the same live SparkConf
      // instance the Connect service reads its binding config from.
      val conf = org.apache.spark.SparkEnv.get.conf
      conf
        .set("spark.connect.grpc.binding.address", "localhost")
        .set("spark.connect.grpc.binding.port", port.toString)
      // register the wire-level guard (AddArtifacts / catalog-metadata /
      // streaming-command denial — [[ReadOnlyInterceptor]]) through the
      // service's public interceptor hook, appended so deployer-configured
      // interceptors keep running ahead of it.
      val icKey = "spark.connect.grpc.interceptor.classes"
      val icCls = classOf[ReadOnlyInterceptor].getName
      val ics = conf.getOption(icKey).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      if (!ics.contains(icCls)) conf.set(icKey, (ics :+ icCls).mkString(","))
      // arm BEFORE the endpoint binds: a client that connects in the start
      // window must never reach an analyzer (or the interceptor) unguarded —
      // the boundary exists from the first instant the port is live.
      val installsBefore = ReadOnlyInterceptor.installCount.get()
      ReadOnlyGuard.enforcing = true
      try {
        SparkConnectService.start(spark.sparkContext)
        // the interceptor conf is only read while the gRPC server is BUILT:
        // if the service was already running (started externally before
        // this call), start() is a no-op, the conf was never read, and the
        // wire guard is silently absent — an unenforceable read-only claim,
        // which must fail fast exactly like the analyzer-rule require above
        require(
          ReadOnlyInterceptor.installCount.get() > installsBefore,
          "the Connect service was already running before " +
            "ConnectServe.start registered its wire interceptor — the gRPC " +
            "server reads spark.connect.grpc.interceptor.classes only when " +
            "it is built, so plan-less protos (AddArtifacts, catalog RPCs) " +
            "would pass unguarded. Stop the existing service " +
            "(SparkConnectService.stop) and start it through ConnectServe")
      } catch {
        case t: Throwable => ReadOnlyGuard.enforcing = false; throw t
      }
      started = true
      startedPort = port
      startedCtx = spark.sparkContext
    } else {
      require(port == startedPort,
        s"Connect endpoint already started on port $startedPort; " +
          s"cannot also bind $port — stop() first")
    }
  }

  /** Stop the endpoint (idempotent), releasing enforcement and the
    * started-port/context markers so a later start() is self-consistent. */
  def stop(): Unit = synchronized {
    if (started) {
      SparkConnectService.stop(None, None)
      ReadOnlyGuard.enforcing = false
      started = false
      startedPort = -1
      startedCtx = null
    }
  }

  /**
   * Publish a model under `global_temp.<name>`. Connect clients get their
   * own isolated sessions, so plain temp views are invisible to them;
   * global temp views are catalog-wide, which is exactly the "dbt run
   * writes, dashboards read" contract. The view body is the model's full
   * logical plan — a client `SELECT` executes the same Catalyst plan the
   * in-process path does.
   */
  def publish(name: String, df: DataFrame): Unit =
    df.createOrReplaceGlobalTempView(name)

  // ---------------------------------------------------------------- client

  /** Root of the Spark distribution the client jars are taken from:
    * `-Dgraft.spark.home` beats `$SPARK_HOME` beats the container default.
    * Resolved per call so a test or embedding app can retarget without a
    * JVM restart. */
  private def sparkHome: String =
    sys.props.get("graft.spark.home")
      .orElse(sys.env.get("SPARK_HOME"))
      .getOrElse("/opt/spark")

  private def clientJarDir = new File(sparkHome, "jars/connect-repl")
  private def distJarDir = new File(sparkHome, "jars")

  /** Jars visible to the isolated client: the Connect JDBC + client-jvm
    * uber-jars first, then the API-side `spark-*` jars the client was built
    * against (sql-api, common-utils, sketch, tags, unsafe, variant) and
    * every non-Spark third-party jar from the distribution (scala-library,
    * arrow, slf4j, jackson, …). URLClassLoader resolves in URL order, so a
    * class bundled in the client uber-jar always beats the dist copy.
    * Engine-side jars (spark-sql, catalyst, core, the shaded Connect
    * *server*) are excluded — the client must never see the server's
    * differently-shaded `org.apache.spark.connect.proto` classes. */
  private def clientJars(): Array[URL] = {
    require(clientJarDir.isDirectory && distJarDir.isDirectory,
      s"Spark Connect client jars not found: expected $clientJarDir and " +
        s"$distJarDir (a Spark 4.x distribution with the connect-repl " +
        "client uber-jars)")
    val apiSide = Set("spark-sql-api", "spark-common-utils",
      "spark-common-utils-java", "spark-sketch", "spark-tags",
      "spark-unsafe", "spark-variant")
    val client = clientJarDir.listFiles().toSeq
      .filter(f => f.getName.startsWith("spark-connect-client"))
    val dist = distJarDir.listFiles().toSeq.filter { f =>
      val n = f.getName
      n.endsWith(".jar") &&
        (!n.startsWith("spark-") || apiSide.contains(n.replaceAll("_2\\.13.*", "")))
    }
    (client ++ dist).sortBy(f => !f.getName.startsWith("spark-connect-client"))
      .map(_.toURI.toURL).toArray
  }

  /** The isolated client loader, built once and kept for the process
    * lifetime. Never closed: `URLClassLoader.close()` tears down JarFiles
    * in the JVM-wide jar-URL cache that the application loader shares for
    * the same `/opt/spark/jars` paths (observed: the app loader loses
    * `scala.collection.immutable.HashSet` after a close), and the client's
    * shaded-grpc worker threads outlive a single connection anyway. */
  private lazy val clientLoader: URLClassLoader =
    new URLClassLoader(clientJars(), ClassLoader.getPlatformClassLoader)

  /**
   * Run `f` with a live JDBC connection to the local Connect endpoint.
   * The driver is instantiated directly (not via `DriverManager`, which
   * refuses drivers from foreign classloaders) inside the isolated loader.
   */
  def withConnection[T](port: Int = DefaultPort)(f: Connection => T): T = {
    val prevCtx = Thread.currentThread().getContextClassLoader
    Thread.currentThread().setContextClassLoader(clientLoader)
    try {
      val driver = Class
        .forName("org.apache.spark.sql.connect.client.jdbc.SparkConnectDriver",
          true, clientLoader)
        .getDeclaredConstructor().newInstance().asInstanceOf[Driver]
      val conn = driver.connect(s"jdbc:sc://localhost:$port", new Properties())
      require(conn != null, s"Connect JDBC driver rejected jdbc:sc://localhost:$port")
      try f(conn)
      finally conn.close()
    } finally Thread.currentThread().setContextClassLoader(prevCtx)
  }

  /**
   * Run `f` with a full client-jvm Connect session (the
   * `org.apache.spark.sql.connect.SparkSession` from the isolated client
   * loader, passed as `AnyRef` — the type cannot cross the classloader
   * boundary, so callers drive it reflectively). This is the surface that
   * can speak the catalog-metadata and artifact-upload protos the JDBC
   * client never sends — exactly the surface [[ReadOnlyInterceptor]]
   * guards — and the session is always `close()`d.
   */
  def withClientSession[T](port: Int = DefaultPort)(f: AnyRef => T): T = {
    val prevCtx = Thread.currentThread().getContextClassLoader
    Thread.currentThread().setContextClassLoader(clientLoader)
    try {
      val sessCls = clientClass("org.apache.spark.sql.connect.SparkSession")
      val builderCls =
        clientClass("org.apache.spark.sql.connect.SparkSession$Builder")
      val builder = java.lang.invoke.MethodHandles.publicLookup()
        .findStatic(sessCls, "builder",
          java.lang.invoke.MethodType.methodType(builderCls))
        .invoke()
      clientCall(builder, "remote", builderCls,
        classOf[String] -> s"sc://localhost:$port")
      val session = clientCall(builder, "create", sessCls)
      try f(session)
      finally clientCall(session, "close", java.lang.Void.TYPE)
    } finally Thread.currentThread().setContextClassLoader(prevCtx)
  }

  /** Load a class in the isolated client loader (for exact-descriptor
    * [[clientCall]] signatures). */
  def clientClass(name: String): Class[_] =
    Class.forName(name, true, clientLoader)

  /**
   * Invoke one public method on an isolated-loader object via a
   * `MethodHandle` with an EXACT descriptor. Plain `Class#getMethods`
   * reflection is unusable here: enumerating the client API's members
   * eagerly resolves every signature, and the client distribution
   * deliberately lacks engine-side types (`SparkContext`, …) that some
   * inherited members mention — single-member lookup resolves only what
   * is called. Throws the callee's own exception un-wrapped, so tests see
   * the server's denial message directly.
   */
  def clientCall(target: AnyRef, method: String, ret: Class[_],
                 args: (Class[_], AnyRef)*): AnyRef = {
    val mt = java.lang.invoke.MethodType
      .methodType(ret, args.map(_._1).toArray)
    // the runtime class may be a non-public impl subclass; resolve against
    // the nearest public ancestor (virtual dispatch still hits the override)
    var owner: Class[_] = target.getClass
    while (!java.lang.reflect.Modifier.isPublic(owner.getModifiers))
      owner = owner.getSuperclass
    java.lang.invoke.MethodHandles.publicLookup()
      .findVirtual(owner, method, mt)
      .invokeWithArguments((target +: args.map(_._2)): _*)
  }

  /** Convenience: run one SQL statement over the wire and materialize the
    * result as (columnNames, rows-of-strings) — a lowest-common-denominator
    * shape that compares cleanly against an in-process `collect()`. */
  def querySeq(conn: Connection, sql: String): (Seq[String], Seq[Seq[String]]) = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val n = md.getColumnCount
      val cols = (1 to n).map(md.getColumnLabel)
      val buf = Seq.newBuilder[Seq[String]]
      while (rs.next()) buf += (1 to n).map(i => String.valueOf(rs.getObject(i)))
      (cols, buf.result())
    } finally st.close()
  }
}

package graft.serve

import java.util.Collections

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.LocalTempView
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.execution.command.{CreateViewCommand, DropTempViewCommand}

/** A write or DDL statement rejected by the read-only serving boundary. */
class ReadOnlyViolationException(msg: String) extends SparkException(msg)

/**
 * Enforces the read-only contract of the serving boundary (SURVEY §2 S12).
 *
 * The reference's dashboards open the warehouse with
 * `duckdb.connect(..., read_only=True)` (`Business_KPI_dashboard.py:10-14`):
 * a client connection can query but can never mutate the catalog or the
 * data. Spark Connect has no built-in equivalent — every client session is
 * full-capability — so this guard supplies it at the analyzer layer:
 *
 *  - [[graft.GraftExtensions]] injects [[checkRule]] into every session
 *    built with it. Connect client sessions are `newSession()` clones of
 *    the engine session (`SparkConnectSessionManager.newIsolatedSession`),
 *    so they inherit the same extensions object and rebuild the rule
 *    against their own session.
 *  - The rule fires only while [[enforcing]] (set by
 *    [[ConnectServe.start]]/[[ConnectServe.stop]]) AND only for sessions
 *    that are identity-registered in the live Connect session manager
 *    ([[isConnectManaged]]). The engine's own session — and any in-process
 *    `newSession()` clone — is never restricted, so `dbt run`-style model
 *    rebuilds proceed while dashboards stay connected.
 *  - Identification is by object identity against
 *    `SparkConnectService.sessionManager`, not by a session conf: a conf
 *    could be cleared by the client's own (allowed) `SET`/`RESET`, whereas
 *    a client cannot change which manager owns its session.
 *
 * Denial policy is DEFAULT-DENY over [[Command]] plans: anything not on the
 * explicit read-only allowlist (EXPLAIN / SHOW / DESCRIBE / SET / RESET /
 * USE) is rejected, so an unknown or future command fails closed. Two
 * session-local exceptions keep dashboard ergonomics: clients may create
 * and drop their OWN local temp views (invisible to other sessions), but
 * global temp views — the published serving catalog — are untouchable.
 *
 * Enforcement is two-layer: this analyzer rule covers every PLAN-producing
 * surface — SQL over JDBC, client DataFrame writes (`WriteOperation` protos
 * execute server-side through `QueryExecution`), CTAS, INSERT, DDL,
 * streaming sink statements — and [[ReadOnlyInterceptor]] (registered at
 * the gRPC service layer by [[ConnectServe.start]]) covers the proto
 * surfaces that never build a plan: catalog METADATA RPCs (the Connect
 * `spark.catalog.dropGlobalTempView` proto calls the catalog object
 * directly, during planner transformation), client code upload
 * (`AddArtifacts`, UDF/data-source registration commands), shared-cache
 * mutation (`Persist`/`Unpersist` analyze RPCs), and streaming
 * start/management commands. Remaining boundary assumption (documented,
 * not hidden): binding is localhost-only — who can reach the port at all
 * is the host's access control, as with the reference's local DuckDB file.
 */
object ReadOnlyGuard {

  /** True while the Connect endpoint is live (set by ConnectServe). */
  @volatile private[serve] var enforcing: Boolean = false

  /** Sessions whose analyzer carries the injected check rule — i.e. sessions
    * built with [[graft.GraftExtensions]]. Weak keys: registration must not
    * pin sessions against GC. */
  private val capable =
    Collections.synchronizedSet(
      Collections.newSetFromMap(new java.util.WeakHashMap[AnyRef, java.lang.Boolean]()))

  /** Memoized positives of [[isConnectManaged]] — a session's owner never
    * changes, so a hit is permanent; misses (engine sessions) re-enumerate,
    * which is a few map lookups against the handful of live client sessions. */
  private val knownConnect =
    Collections.synchronizedSet(
      Collections.newSetFromMap(new java.util.WeakHashMap[AnyRef, java.lang.Boolean]()))

  /** Was `session`'s analyzer built with the guard installed? ConnectServe
    * fails fast on start() when the engine session — the one Connect clones
    * client sessions from — cannot enforce. */
  def isCapable(session: SparkSession): Boolean = capable.contains(session)

  /** Is `session` one created BY the Connect session manager for a remote
    * client (as opposed to the engine session or an in-process clone)? */
  def isConnectManaged(session: SparkSession): Boolean = {
    if (knownConnect.contains(session)) return true
    val hit = org.apache.spark.sql.connect.GraftConnectBridge
      .connectSessions().exists(_ eq session)
    if (hit) knownConnect.add(session)
    hit
  }

  /** Command classes that only read or only touch session-local state.
    * Simple names, not classes: robust to v1/v2 package moves, and a name
    * that stops existing simply never matches (fails closed). Deliberately
    * absent: CACHE/UNCACHE (mutate the context-shared CacheManager),
    * REFRESH (invalidates shared caches), ADD JAR/FILE, ANALYZE, and every
    * write/DDL form. */
  private val readOnlyCommands: Set[String] = Set(
    "ExplainCommand", "CommandResult",
    "SetCommand", "ResetCommand", "SetVariable",
    "SetCatalogCommand", "SetNamespaceCommand", "SetCatalogAndNamespace",
    "ShowTablesCommand", "ShowTables", "ShowTablesExtended",
    "ShowViewsCommand", "ShowViews",
    "ShowColumnsCommand", "ShowColumns",
    "ShowFunctionsCommand", "ShowFunctions",
    "ShowCatalogsCommand", "ShowNamespacesCommand",
    "ShowTablePropertiesCommand", "ShowTableProperties",
    "ShowCreateTableCommand", "ShowCreateTable", "ShowCreateTableAsSerdeCommand",
    "ShowPartitionsCommand", "ShowPartitions",
    "ShowCurrentNamespaceCommand", "ShowProceduresCommand",
    "DescribeTableCommand", "DescribeRelation", "DescribeRelationJsonCommand",
    "DescribeColumnCommand", "DescribeColumn",
    "DescribeNamespace", "DescribeDatabaseCommand",
    "DescribeFunctionCommand", "DescribeFunction",
    "DescribeQueryCommand", "DescribeProcedureCommand")

  /** Classify an ANALYZED plan: None = allowed under read-only; Some(why)
    * = denied. Pure function — unit-testable without a Connect endpoint. */
  def violation(plan: LogicalPlan, globalTempDb: String): Option[String] =
    plan match {
      case c: CreateViewCommand =>
        if (c.viewType == LocalTempView) None
        else Some(s"CREATE VIEW with ${c.viewType} scope writes shared catalog state")
      case d: DropTempViewCommand =>
        if (d.ident.namespace.exists(_.equalsIgnoreCase(globalTempDb)))
          Some("DROP of a global temp view would unpublish a served model")
        else None
      case c: Command =>
        val n = c.getClass.getSimpleName.stripSuffix("$")
        if (readOnlyCommands.contains(n)) None
        else Some(s"$n is not a read-only operation")
      // streaming sinks are writes but not Commands: a full client-jvm
      // session can submit writeStream protos, whose WriteToStream /
      // WriteToStreamStatement wrapper reaches analysis on the client's
      // session — fail closed on the catalyst TYPES, anywhere in the tree
      // (a future Spark that nests or renames the wrapper breaks this at
      // compile time instead of silently passing), with the simple-name
      // prefix kept as a net for not-yet-typed wrappers
      case w if w.exists {
          case _: org.apache.spark.sql.catalyst.streaming.WriteToStream => true
          case _: org.apache.spark.sql.catalyst.streaming.WriteToStreamStatement => true
          case o => o.getClass.getSimpleName.startsWith("WriteToStream")
        } =>
        Some("streaming writes are not available on a read-only connection")
      case _ => None // plain queries: always allowed
    }

  /** The injected analyzer check rule (see [[graft.GraftExtensions]]).
    * Building it registers the session as guard-capable; applying it is a
    * volatile read when no endpoint is live. */
  def checkRule(session: SparkSession): LogicalPlan => Unit = {
    capable.add(session)
    plan =>
      if (enforcing && isConnectManaged(session)) {
        val globalTempDb =
          try session.conf.get("spark.sql.globalTempDatabase")
          catch { case _: Exception => "global_temp" }
        violation(plan, globalTempDb).foreach { why =>
          throw new ReadOnlyViolationException(
            s"read-only serving connection: $why. This Spark Connect " +
              "endpoint mirrors the reference dashboards' " +
              "duckdb.connect(read_only=True) contract; only queries, " +
              "EXPLAIN/SHOW/DESCRIBE/SET, and session-local temp views are " +
              "permitted.")
        }
      }
  }
}

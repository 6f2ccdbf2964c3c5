package graft.serve

import org.apache.spark.connect.proto
import org.sparkproject.connect.grpc.{ForwardingServerCallListener, Metadata,
  ServerCall, ServerCallHandler, ServerInterceptor, Status}
import org.sparkproject.connect.protobuf.{Message => ProtoMessage}

/**
 * The wire half of the read-only serving boundary (SURVEY §2 S12):
 * a Spark Connect gRPC `ServerInterceptor` that closes the two proto
 * surfaces [[ReadOnlyGuard]]'s analyzer rule cannot see, because they never
 * build a `LogicalPlan`:
 *
 *  1. **client-shipped executable code** — the `AddArtifacts` RPC uploads
 *     jars/classfiles that later UDF calls execute server-side; the
 *     `REGISTER_FUNCTION` / `REGISTER_TABLE_FUNCTION` / `REGISTER_DATA_SOURCE`
 *     command protos install client-defined functions into the session; and
 *     `CommonInlineUserDefinedFunction` EXPRESSIONS embed serialized Scala
 *     closures or pickled Python directly inside an otherwise-plain query.
 *     The reference's `duckdb.connect(read_only=True)`
 *     (`Business_KPI_dashboard.py:10-14`) gives a client no way to run
 *     arbitrary code inside the engine; neither does this endpoint.
 *  2. **catalog METADATA RPCs** — `spark.catalog.dropGlobalTempView` et al.
 *     arrive as `Catalog` relation protos that the Connect planner executes
 *     against the catalog object DURING plan transformation, before any
 *     analyzer rule runs. Mutating catalog messages are denied wherever they
 *     appear in a plan tree (they compose — `spark.catalog.listTables()` is
 *     a DataFrame a client can nest under joins/filters, so the scan is
 *     recursive over the whole request proto).
 *
 * Registered by [[ConnectServe.start]] via
 * `spark.connect.grpc.interceptor.classes` (the service's public interceptor
 * hook — instantiated reflectively by `SparkConnectInterceptorRegistry`, so
 * this class needs its no-arg constructor). One volatile read
 * ([[ReadOnlyGuard.enforcing]]) makes it a pass-through whenever no
 * endpoint is live, and every call it does inspect is by construction a
 * remote client — the engine session never speaks gRPC to itself.
 *
 * Denial policy mirrors the analyzer rule's: DEFAULT-DENY with explicit
 * read-only allowlists, so unknown/future command protos and catalog
 * RPCs fail closed. Three deliberate wire-only denials beyond the catalog
 * set: `Persist`/`Unpersist` analyze RPCs (they mutate the context-SHARED
 * `CacheManager` — same reason the SQL path denies CACHE TABLE), streaming
 * command protos (a read-only client must not start or manage streams), and
 * compressed plans (`Plan.compressed_operation` hides the operation from
 * inspection — an uninspectable statement on a guarded endpoint is denied,
 * not trusted; clients fall back to uncompressed plans, which every
 * dashboard-sized statement uses anyway).
 *
 * Commands that DO build server-side plans (`SQL_COMMAND`,
 * `WRITE_OPERATION`, `CREATE_DATAFRAME_VIEW`, …) pass through here and are
 * enforced by the analyzer rule — one policy, two layers, each covering
 * what the other cannot.
 */
class ReadOnlyInterceptor extends ServerInterceptor {

  import ReadOnlyInterceptor._

  // the interceptor registry instantiates this class while BUILDING the
  // gRPC server (inside SparkConnectService.start), so construction is the
  // machine-checkable witness that the wire guard is actually installed —
  // ConnectServe.start requires the count to advance
  // across its start() call and fails fast otherwise (e.g. a service that
  // was already running before the conf was set would silently ignore it)
  installCount.incrementAndGet()

  override def interceptCall[ReqT, RespT](
      call: ServerCall[ReqT, RespT], headers: Metadata,
      next: ServerCallHandler[ReqT, RespT]): ServerCall.Listener[ReqT] = {
    if (!ReadOnlyGuard.enforcing) return next.startCall(call, headers)
    val full = call.getMethodDescriptor.getFullMethodName
    val method = full.substring(full.lastIndexOf('/') + 1)
    if (deniedMethods.contains(method)) {
      call.close(
        Status.PERMISSION_DENIED.withDescription(message(
          s"$method uploads client code for server-side execution")),
        new Metadata())
      return new ServerCall.Listener[ReqT] {} // never reaches the service
    }
    val delegate = next.startCall(call, headers)
    new ForwardingServerCallListener.SimpleForwardingServerCallListener[ReqT](
        delegate) {
      private var denied = false
      override def onMessage(req: ReqT): Unit =
        if (!denied) violation(req) match {
          case Some(why) =>
            denied = true
            call.close(
              Status.PERMISSION_DENIED.withDescription(message(why)),
              new Metadata())
          case None => super.onMessage(req)
        }
      // after a denial the service handler never saw the message — half-close
      // would make it process a missing request; cancel/complete still
      // forward so it releases whatever startCall allocated
      override def onHalfClose(): Unit = if (!denied) super.onHalfClose()
    }
  }
}

object ReadOnlyInterceptor {

  /** Times an instance has been constructed in this JVM (see the class-body
    * comment): advances exactly when a Connect server is built with the
    * interceptor conf in place. */
  private[serve] val installCount = new java.util.concurrent.atomic.AtomicLong

  private def message(why: String): String =
    s"read-only serving connection: $why. This Spark Connect endpoint " +
      "mirrors the reference dashboards' duckdb.connect(read_only=True) " +
      "contract; only queries, EXPLAIN/SHOW/DESCRIBE/SET, session-local " +
      "temp views, and read-only catalog metadata are permitted."

  /** RPC methods denied wholesale — no request inspection needed. */
  private val deniedMethods = Set("AddArtifacts")

  import proto.Command.CommandTypeCase
  import proto.Catalog.CatTypeCase
  import proto.AnalyzePlanRequest.AnalyzeCase

  /** Command protos a read-only client may send. Write-capable entries
    * (SQL_COMMAND carries INSERT, WRITE_OPERATION is df.write, …) are
    * allowed HERE because they execute through `QueryExecution`, where
    * [[ReadOnlyGuard.checkRule]] enforces the same policy plan-by-plan;
    * everything else — UDF/data-source registration, streaming start and
    * management, resource-profile / checkpoint / ML / pipeline / extension
    * commands — never reaches an analyzer and fails closed here. */
  private val allowedCommands: Set[CommandTypeCase] = Set(
    CommandTypeCase.SQL_COMMAND,
    CommandTypeCase.WRITE_OPERATION,
    CommandTypeCase.WRITE_OPERATION_V2,
    CommandTypeCase.CREATE_DATAFRAME_VIEW,
    CommandTypeCase.GET_RESOURCES_COMMAND,            // read-only
    CommandTypeCase.REMOVE_CACHED_REMOTE_RELATION_COMMAND) // session-local GC

  /** Catalog RPCs that only read, or only touch session-local state
    * (current database/catalog selection, the session's OWN temp views —
    * the same two ergonomic exceptions the analyzer rule makes for USE and
    * local temp views). CACHE/UNCACHE/CLEAR_CACHE mutate the context-shared
    * CacheManager; REFRESH invalidates shared caches; table creation,
    * global-temp-view drops and RECOVER_PARTITIONS write the shared
    * catalog — all denied, as is any future CatTypeCase by default. */
  private val allowedCatalog: Set[CatTypeCase] = Set(
    CatTypeCase.CURRENT_DATABASE, CatTypeCase.SET_CURRENT_DATABASE,
    CatTypeCase.CURRENT_CATALOG, CatTypeCase.SET_CURRENT_CATALOG,
    CatTypeCase.LIST_DATABASES, CatTypeCase.LIST_TABLES,
    CatTypeCase.LIST_FUNCTIONS, CatTypeCase.LIST_COLUMNS,
    CatTypeCase.LIST_CATALOGS,
    CatTypeCase.GET_DATABASE, CatTypeCase.GET_TABLE, CatTypeCase.GET_FUNCTION,
    CatTypeCase.DATABASE_EXISTS, CatTypeCase.TABLE_EXISTS,
    CatTypeCase.FUNCTION_EXISTS,
    CatTypeCase.IS_CACHED,
    CatTypeCase.DROP_TEMP_VIEW) // session-local; global has its own case

  /** Classify one request message: None = pass to the service; Some(why) =
    * deny. Pure — unit-testable with constructed protos, no endpoint. */
  private[serve] def violation(req: Any): Option[String] = req match {
    case r: proto.ExecutePlanRequest if r.hasPlan => planViolation(r.getPlan)
    case r: proto.AnalyzePlanRequest => analyzeViolation(r)
    case _ => None
  }

  private def planViolation(p: proto.Plan): Option[String] = {
    val byCommand =
      if (p.hasCommand) {
        val tc = p.getCommand.getCommandTypeCase
        if (allowedCommands.contains(tc)) None
        else Some(s"client command $tc is not available")
      } else None
    byCommand.orElse(scanTree(p))
  }

  /** Analyze RPC cases a read-only client may send — all genuinely
    * read-only metadata/introspection. Default-DENY like the command and
    * catalog allowlists: PERSIST/UNPERSIST mutate the context-SHARED
    * CacheManager (and unpersist evicts by plan-equality, so a client could
    * drop the ENGINE's caches), and any case this build does not know —
    * a future Spark adding a mutating analyze RPC — fails closed instead of
    * sailing through. Allowed cases still get the recursive plan scan (their
    * payloads carry plans: e.g. a catalog mutation nested under Schema). */
  private val allowedAnalyze: Set[AnalyzeCase] = Set(
    AnalyzeCase.SCHEMA, AnalyzeCase.EXPLAIN, AnalyzeCase.TREE_STRING,
    AnalyzeCase.IS_LOCAL, AnalyzeCase.IS_STREAMING, AnalyzeCase.INPUT_FILES,
    AnalyzeCase.SPARK_VERSION, AnalyzeCase.DDL_PARSE,
    AnalyzeCase.SAME_SEMANTICS, AnalyzeCase.SEMANTIC_HASH,
    AnalyzeCase.GET_STORAGE_LEVEL, AnalyzeCase.JSON_TO_DDL,
    AnalyzeCase.ANALYZE_NOT_SET) // empty request: nothing to guard

  private def analyzeViolation(r: proto.AnalyzePlanRequest): Option[String] =
    r.getAnalyzeCase match {
      case tc if !allowedAnalyze.contains(tc) =>
        Some(s"analyze RPC $tc is not available on a read-only connection")
      case _ => scanTree(r)
    }

  /** Recursive scan of a request proto for denied messages ANYWHERE in the
    * tree — position-independent because each is dangerous wherever it sits:
    *  - mutating `Catalog` messages: catalog relations compose under
    *    joins/filters/writes, and the Connect planner EXECUTES them against
    *    the catalog during proto transformation — before analysis, so
    *    before the analyzer guard (and analyze RPCs like Schema carry
    *    plans too);
    *  - inline user code (`CommonInlineUserDefinedFunction` / table
    *    function / data source): a plain `SELECT udf(x)` EXPRESSION proto
    *    carries client-serialized Scala closures or pickled Python the
    *    server would execute — code upload without AddArtifacts, so the
    *    method-level denial alone doesn't cover it;
    *  - `Plan.CompressedOperation`: an uninspectable operation — including
    *    one nested inside an analyze request's plan, where a top-level
    *    `hasCompressedOperation` check would miss it — is denied, not
    *    trusted.
    * `getAllFields` returns set fields only; scalars and ByteStrings (e.g.
    * LocalRelation Arrow payloads) are skipped, so the walk is proportional
    * to plan-tree size, not data size. */
  private[serve] def scanTree(m: ProtoMessage): Option[String] = {
    m match {
      case c: proto.Catalog =>
        val tc = c.getCatTypeCase
        if (!allowedCatalog.contains(tc))
          return Some(s"catalog RPC $tc writes shared catalog or cache state")
      case _: proto.CommonInlineUserDefinedFunction |
           _: proto.CommonInlineUserDefinedTableFunction |
           _: proto.CommonInlineUserDefinedDataSource =>
        return Some("inline user-defined functions ship client code for " +
          "server-side execution")
      case _: proto.Plan.CompressedOperation =>
        return Some("compressed plans cannot be inspected by the read-only " +
          "boundary; resend the statement with plan compression disabled")
      case _ =>
    }
    val it = m.getAllFields.values().iterator()
    while (it.hasNext) it.next() match {
      case sub: ProtoMessage =>
        val v = scanTree(sub)
        if (v.isDefined) return v
      case l: java.util.List[_] =>
        val li = l.iterator()
        while (li.hasNext) li.next() match {
          case sub: ProtoMessage =>
            val v = scanTree(sub)
            if (v.isDefined) return v
          case _ =>
        }
      case _ =>
    }
    None
  }
}

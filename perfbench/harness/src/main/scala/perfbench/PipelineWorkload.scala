package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.RawLoader
import graft.model.LogisticsEvent
import graft.models.Warehouse
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.RunResult
import graft.quality.{DbtStyleTests, DqChecks}
import graft.serve.ConnectServe
import graft.sources.EventGenerator
import graft.streaming.EventStreamIngest

/**
 * The hourly job: generated events land as parquet files, then
 * `Pipeline.run` drains them to bronze, loads, gates, models and tests, and
 * `Pipeline.serve` re-publishes the dashboards.
 *
 * Untraced, one run builds the earlier hours' lake during set-up with the
 * initial `Pipeline.run`, starts the dashboard endpoint, and then measures
 * hourly increments: each from the moment its last landing file is moved
 * in until a wire query on `global_temp.dash_headline_kpis` returns the new
 * total. The CPU time of the JVM's Java threads over that interval is the
 * increment's cost (`op_cpu_ms`; its events per CPU-second are
 * `throughput_per_cpu_s`); its wall time, the freshness, is recorded too.
 */
object PipelineWorkload {

  /** ~2k events in 50-event files (the reference consumer's batch size):
    * many micro-batches and tiny bronze files. The initial load is generated
    * in `Chunks` calls; each increment adds `IncFraction` of it, of which
    * `ResendFraction` re-sends events of the first chunk. */
  val Events = 2000L
  val FileSize = 50
  val Chunks = 2
  val IncFraction = 0.10
  val ResendFraction = 0.02

  val BaseInstant: Instant = Instant.parse("2026-02-23T08:00:00Z")
  private def iso(i: Instant): String = i.toString.replace("Z", "+00:00")

  /** A staged landing batch: parquet files waiting in `dir`, plus the
    * number of events in it that are new to the warehouse. */
  final case class Batch(name: String, dir: String, events: Long, newEvents: Long) {
    def files: Seq[File] =
      Option(new File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  }

  /** Where one pipeline instance keeps its state. */
  final case class Lake(root: String) {
    val landing = s"$root/landing"
    val bronze = s"$root/bronze"
    val ckpt = s"$root/ckpt"
    val raw = s"$root/raw"
    Files.createDirectories(Paths.get(landing))
  }

  /** Seeded input generation. The initial chunks cover consecutive time
    * ranges; increment k starts k hours after the initial range and
    * re-sends the leading events of the first chunk. */
  final class Inputs(spark: SparkSession, seed: Long, stage: String) {
    private val chunkSize = Events / Chunks
    private val incSize = math.round(Events * IncFraction)
    private val resend = math.round(incSize * ResendFraction)
    private def chunkSeed(c: Int) = seed * 1000 + c
    private def chunkStart(c: Int) = BaseInstant.plusSeconds(c * chunkSize)

    private def write(df: DataFrame, name: String, events: Long, fresh: Long): Batch = {
      val dir = s"$stage/$name"
      df.write.option("maxRecordsPerFile", FileSize.toLong)
        .mode("overwrite").parquet(dir)
      Batch(name, dir, events, fresh)
    }

    def initialChunk(c: Int): Batch =
      write(EventGenerator.events(spark, chunkSize, chunkSeed(c), iso(chunkStart(c))),
        s"b0c$c", chunkSize, chunkSize)

    def increment(k: Int): Batch = {
      val start = BaseInstant.plusSeconds(Events + 3600L * k)
      val fresh = EventGenerator.events(spark, incSize - resend, seed * 1000 + 500 + k, iso(start))
      // the same (n, seed, start) regenerates the identical leading rows
      val resent = EventGenerator.events(spark, resend, chunkSeed(0), iso(chunkStart(0)))
      write(fresh.unionByName(resent), s"b${k}", incSize, incSize - resend)
    }
  }

  /** Move a staged batch into a landing zone, file by file (atomic renames,
    * the way a producer publishes a finished file). */
  def land(b: Batch, lake: Lake, copy: Boolean = false): Unit =
    b.files.foreach { f =>
      val dest = Paths.get(lake.landing, s"${b.name}-${f.getName}")
      if (copy) Files.copy(f.toPath, dest)
      else Files.move(f.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
    }

  def run(ctx: Ctx): Map[String, Double] =
    if (ctx.trace) Traced.run(ctx) else untraced(ctx)

  /** The output checks of one run, each a failed operation when false. */
  def runOk(ctx: Ctx, what: String, r: RunResult, expectNew: Long): Boolean = {
    val ok = r.newRawRows == expectNew &&
      r.dqResults.forall(c => c.severity != "ERROR" || c.violations == 0) &&
      r.testResults.size == 52 && r.testsPassed
    if (!ok) ctx.failures += s"$what: loaded ${r.newRawRows} (expected $expectNew), " +
      s"dq errors ${r.dqResults.filter(c => c.severity == "ERROR" && c.violations > 0)}, " +
      s"tests ${r.testResults.size}, failing ${r.testResults.filterNot(_.passed).map(_.test)}"
    ok
  }

  def wireTotal(conn: java.sql.Connection): Long =
    ConnectServe.querySeq(conn,
      "SELECT total_events FROM global_temp.dash_headline_kpis")._2.head.head.toLong

  private def untraced(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val inputs = new Inputs(spark, ctx.seed, s"${ctx.work}/stage")
    val setup = mutable.ArrayBuffer.empty[Double]
    def staged(b: => Batch): Batch = { val (x, s) = Clock.timed(b); setup += s; x }

    val initial = (0 until Chunks).map(c => staged(inputs.initialChunk(c)))
    var nextInc = staged(inputs.increment(1))
    val lake = Lake(s"${ctx.work}/lake")

    // Set-up: the earlier hours' lake through the initial Pipeline.run, then
    // the read-only endpoint over its warehouse and one connected client.
    initial.foreach(land(_, lake))
    var expectTotal = initial.map(_.newEvents).sum
    val (initialRun, historyS) = Clock.timed(
      Pipeline.run(spark, lake.landing, lake.bronze, lake.ckpt, lake.raw))
    ctx.detail("history_s") = historyS
    ctx.op("pipeline.initial") { runOk(ctx, "pipeline.initial", initialRun, expectTotal) }
    Pipeline.serve(spark, initialRun.warehouse, ctx.port)

    // Measured: hourly increments, each from its last landing file moved in
    // until the new total is queryable over the wire
    val freshness = mutable.ArrayBuffer.empty[Double]
    val cpuMs = mutable.ArrayBuffer.empty[Double]
    val runtimeMs = mutable.ArrayBuffer.empty[Double]
    var landed = 0L
    ConnectServe.withConnection(ctx.port) { conn =>
      if (wireTotal(conn) != expectTotal) ctx.fail("wire total after set-up")
      val measureStart = System.nanoTime()
      var k = 1
      var more = true
      while (more) {
        val b = nextInc
        land(b, lake)
        expectTotal += b.newEvents
        val t0 = System.nanoTime()
        val c0 = Clock.workCpuS()
        val rt0 = Clock.runtimeCpuS()
        val ok = ctx.op(s"pipeline.increment$k") {
          val r = Loader.engine {
            val r = Pipeline.run(spark, lake.landing, lake.bronze, lake.ckpt, lake.raw)
            Pipeline.serve(spark, r.warehouse, ctx.port)
            r
          }
          val total = wireTotal(conn)
          val fine = runOk(ctx, s"pipeline.increment$k", r, b.newEvents)
          if (total != expectTotal) ctx.failures += s"increment$k: wire total $total, expected $expectTotal"
          fine && total == expectTotal
        }
        val incCpuMs = (Clock.workCpuS() - c0) * 1000
        runtimeMs += (Clock.runtimeCpuS() - rt0) * 1000
        val incS = (System.nanoTime() - t0) / 1e9
        if (ok) { cpuMs += incCpuMs; freshness += incS * 1000; landed += b.events }
        // stop when the next increment would end more than half of one late
        more = ok && (System.nanoTime() - measureStart) / 1e9 + incS / 2 < ctx.seconds
        k += 1
        if (more) nextInc = Loader.engine(staged(inputs.increment(k)))
      }
    }
    ctx.detail("freshness_ms") = freshness
    ctx.detail("cpu_ms") = cpuMs
    ctx.detail("runtime_cpu_ms") = runtimeMs
    ctx.detail("setup_units_s") = setup
    Map(
      "setup_s" -> Stats.median(setup.toSeq),
      "op_cpu_ms" -> (if (cpuMs.isEmpty) Double.NaN else Stats.median(cpuMs.toSeq)),
      "throughput_per_cpu_s" -> landed / (cpuMs.sum / 1000))
  }

  /**
   * The traced run: the untraced `Pipeline.run` and a span-instrumented copy
   * of its stage sequence run side by side on identical inputs in two
   * separate lakes. Each traced run must return the same RunResult
   * (loaded rows, DQ results, test results) as the untraced one.
   */
  object Traced {

    def stages(t: Tracer, spark: SparkSession, lake: Lake,
               streamRuns: mutable.Buffer[String],
               bronzeFilesRead: mutable.Buffer[Int],
               cachedMb: mutable.Buffer[Double]): RunResult = t.span("pipeline") {
      // the stage order of Pipeline.run
      t.span("streaming") {
        val q = EventStreamIngest.bronzeSink(
          EventStreamIngest.fromFiles(spark, lake.landing), lake.bronze, lake.ckpt)
        streamRuns += q.runId.toString
        if (!q.awaitTermination(600000)) {
          q.stop()
          throw new IllegalStateException("bronze drain did not finish within 600s")
        }
      }
      bronzeFilesRead += Fs.files(lake.bronze, ".parquet").size
      val newRows = t.span("ingest") { RawLoader.load(spark, lake.bronze, lake.raw) }
      val raw = spark.read.schema(LogisticsEvent.rawSchema).parquet(lake.raw)
      val dq = t.span("quality.dq") { DqChecks.runAll(raw) }
      val w = t.span("models") {
        val w = Warehouse.fromRaw(raw, cacheShared = true)
        w.registerViews()
        w
      }
      val tests = t.span("quality.tests") { DbtStyleTests.suite(w) }
      cachedMb += Serve.cachedMb(spark)
      RunResult(newRows, dq, w, tests)
    }

    def same(a: RunResult, b: RunResult): Boolean =
      a.newRawRows == b.newRawRows && a.dqResults == b.dqResults &&
        a.testResults == b.testResults

    def run(ctx: Ctx): Map[String, Double] = {
      val spark = ctx.spark
      val inputs = new Inputs(spark, ctx.seed, s"${ctx.work}/stage")
      val initial = (0 until Chunks).map(inputs.initialChunk)
      val inc = inputs.increment(1)
      val plain = Lake(s"${ctx.work}/lake-untraced")
      val traced = Lake(s"${ctx.work}/lake-traced")
      val t = new Tracer(spark, ctx.cores)
      val scans = new ScanRows(spark)
      val streamRuns = mutable.ArrayBuffer.empty[String]
      val filesRead = mutable.ArrayBuffer.empty[Int]
      val cached = mutable.ArrayBuffer.empty[Double]
      val walls = mutable.LinkedHashMap.empty[String, Double]
      var last: Option[RunResult] = None

      def pair(name: String, batches: Seq[Batch], expectNew: Long): Unit = {
        batches.foreach { b => land(b, traced, copy = true); land(b, plain) }
        val (a, wa) = Clock.timed(Pipeline.run(spark, plain.landing, plain.bronze,
          plain.ckpt, plain.raw))
        t.install(); scans.install()
        val (b, wb) = try Clock.timed(stages(t, spark, traced, streamRuns, filesRead, cached))
          finally { t.settle(streamRuns.toSeq); t.uninstall(); scans.uninstall() }
        walls(s"$name.untraced_s") = wa
        walls(s"$name.traced_s") = wb
        ctx.op(s"pipeline.$name") {
          val ok = runOk(ctx, s"pipeline.$name", a, expectNew) && same(a, b)
          if (!same(a, b)) ctx.failures += s"$name: traced RunResult differs from Pipeline.run"
          ok
        }
        last = Some(b)
      }
      pair("initial", initial, initial.map(_.newEvents).sum)
      pair("increment", Seq(inc), inc.newEvents)

      // serving: re-publish over the traced warehouse, then per-view timings
      t.install()
      val serveMetrics = try {
        t.span("serve.publish") { Pipeline.serve(spark, last.get.warehouse, ctx.port) }
        Serve.viewMetrics(ctx, t, last.get.warehouse)
      } finally { t.settle(); t.uninstall() }

      val progress = t.progressOf(streamRuns.toSet)
      def dsum(keys: String*) =
        progress.map(p => keys.map(k => p.durations.getOrElse(k, 0L)).sum).sum.toDouble
      val loaded = (initial.map(_.newEvents).sum + inc.newEvents).toDouble
      val bronzeRows = scans.rowsUnder(traced.bronze).toDouble
      val tests = t.stats("quality.tests")
      val m = mutable.LinkedHashMap.empty[String, Double]
      m ++= Serve.spanMetrics(t, Layers.pipelineSpans)
      m ++= Map(
        "streaming.batches" -> progress.size.toDouble,
        "streaming.batch_ms_p50" ->
          (if (progress.isEmpty) 0.0
           else Stats.median(progress.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))),
        "streaming.list_ms" -> dsum("latestOffset", "getBatch"),
        "streaming.plan_ms" -> dsum("queryPlanning"),
        "streaming.commit_ms" -> dsum("walCommit", "commitOffsets"),
        "streaming.write_ms" -> dsum("addBatch"),
        "streaming.bronze_files" -> Fs.files(traced.bronze, ".parquet").size.toDouble,
        "ingest.bronze_files_read" -> filesRead.sum.toDouble,
        "ingest.raw_files" -> Fs.files(traced.raw, ".parquet").size.toDouble,
        "ingest.load_ratio" -> (if (bronzeRows > 0) loaded / bronzeRows else 0.0),
        "quality.tests_count" -> last.get.testResults.size.toDouble,
        "quality.tests_jobs_per_test" -> tests.jobs.toDouble / (2 * last.get.testResults.size),
        "quality.tests_cached_mb" -> cached.last,
        "models.cached_mb" -> Serve.warehouseCachedMb(spark, last.get.warehouse),
        "trace.overhead_s" -> (walls("increment.traced_s") - walls("increment.untraced_s")))
      m ++= serveMetrics
      ctx.detail("walls") = walls
      ctx.detail("spans") = t.spanRecords
      Layers.complete(m.toMap)
    }
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run of a workload needs. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: String,
    port: Int,
    dataDir: String,
    expected: String,
    record: Boolean) {

  /** Operations attempted / failed, with a reason per failure. */
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }

  /** One operation: counted as attempted; an exception or a false result
    * counts it as failed. */
  def op(what: String)(f: => Boolean): Boolean = {
    attempted += 1
    val ok = try f catch {
      case t: Throwable =>
        if (failures.size < 50) failures += s"$what: ${t.toString.take(300)}"
        false
    }
    if (!ok) {
      failed += 1
      if (failures.size < 50 && !failures.exists(_.startsWith(what))) failures += what
    }
    ok
  }
}

/**
 * Harness entry point, launched by `perfbench/run.py` in a fresh JVM per
 * run. Writes one JSON object (metrics, counts, spans, config) to `--out`.
 */
object Main {

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(workload: String, cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", math.min(cores, 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s =
      if (workload == "operator_library")
        // the operator library runs in graft.Bench's session shape
        b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.sql.adaptive.enabled", "false")
          .config("spark.shuffle.compress", "false")
          .config("spark.shuffle.spill.compress", "false")
          .config("spark.broadcast.compress", "false")
          .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
          .getOrCreate()
      else
        // the pipeline's deployment shape: graft's SQL surface and the
        // serving boundary's read-only check rule, engine defaults otherwise
        b.withExtensions(new graft.GraftExtensions()(_)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val out = arg(args, "--out").getOrElse(sys.error("--out is required"))
    val cores = arg(args, "--cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    val t0 = System.nanoTime()
    val spark = session(workload, cores, work)
    val ctx = Ctx(spark,
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(args, "--trace").contains("1"),
      cores = cores, work = work,
      port = arg(args, "--port").map(_.toInt).getOrElse(15202),
      dataDir = arg(args, "--data").getOrElse(""),
      expected = arg(args, "--expected").getOrElse(""),
      record = args.contains("--record"))
    ctx.detail("session_s") = (System.nanoTime() - t0) / 1e9

    val metrics: Map[String, Double] = workload match {
      case "ingest_small_files" => PipelineWorkload.run(ctx)
      case "operator_library" => LibraryWorkload.run(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }

    val conf = spark.conf
    val config = Map(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "extensions" -> (if (workload == "operator_library") "none"
                       else classOf[graft.GraftExtensions].getName),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version)
    val result = Map(
      "correct" -> (ctx.failed == 0 && ctx.attempted > 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures,
      "metrics" -> metrics,
      "detail" -> (ctx.detail += ("peak_rss_mb" -> Fs.peakRssMb())),
      "config" -> config,
      "wall_s" -> (System.nanoTime() - t0) / 1e9)
    Json.write(out, result)
    try graft.serve.ConnectServe.stop() catch { case _: Throwable => () }
    spark.stop()
    // the Connect client keeps non-daemon gRPC threads alive
    sys.exit(0)
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.coverage.{LlmOpQueries, OperatorQueries}

/**
 * The operator library, reached through `SparkEntry.queries`: a fixed
 * subset covering every name-prefix family, prepared and warmed during
 * set-up, then timed in passes (seeded order, `resetDerivedCaches` before
 * each pass, as `graft.Bench` does) for the run's seconds.
 */
object LibraryWorkload {

  /** One query per name-prefix family: the flagship role-playing join, the
    * decontamination join, the MinHash-LSH pair search and the CPU-scaling
    * probe among them. */
  val Subset: Seq[String] = Seq(
    "s4_scan_count", "p3_conjunctive_filter", "j2_role_playing_join",
    "a1_group_multi_agg", "u1_union_dedup", "o3_top_k", "f_md5_surrogate_key",
    "w_row_number_latest", "t_decontaminate", "dedup_minhash_pairs",
    "samp_stratified", "sim_brute_force_topk", "mm_phash", "v_quantize_int8",
    "x_scaling_probe")

  val SetupRounds = 3

  def family(name: String): String = name.takeWhile(_ != '_').replaceAll("[0-9]+$", "")

  private def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def prepare(ctx: Ctx): Seq[(String, DataFrame)] = {
    OperatorQueries.clearCache()
    LlmOpQueries.clearCache()
    Subset.map(n => n -> SparkEntry.queries(n)(ctx.spark, ctx.dataDir))
  }

  /** Doubles and floats rounded to 9 / 6 significant digits, so a result's
    * fingerprint does not depend on floating-point summation order. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9g", c)
    case FloatType => format_string("%.6g", c)
    case ArrayType(DoubleType, _) => transform(c, x => format_string("%.9g", x))
    case ArrayType(FloatType, _) => transform(c, x => format_string("%.6g", x))
    case _ => c
  }

  /** Row count and an order-insensitive content hash (sum of per-row
    * xxhash64 over the canonical JSON of each row). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType).as(f.name))
    val row = df.select(cols: _*)
      .select(xxhash64(to_json(struct(col("*")))).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (row.getLong(0), row.get(1).toString)
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val setup = mutable.ArrayBuffer.empty[Double]
    var prepared: Seq[(String, DataFrame)] = Nil
    for (_ <- 1 to SetupRounds) {
      val (p, s) = Clock.timed(prepare(ctx))
      prepared = p
      setup += s
    }
    // warm pass: each query's first execution computes its fingerprint (the
    // noop-sink plans compile their own code in the untimed pass below)
    val (got, warmS) = Clock.timed(prepared.map { case (n, df) => n -> fingerprint(df) }.toMap)
    ctx.detail("warm_s") = warmS
    if (ctx.trace) return traced(ctx, prepared, got)

    // one untimed pass: the noop-sink plans compile their own code on their
    // first execution, which no timed pass should measure
    LlmOpQueries.resetDerivedCaches()
    prepared.foreach { case (_, df) => execute(df) }

    val rng = new scala.util.Random(ctx.seed)
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    val runs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val start = System.nanoTime()
    val rt0 = Clock.runtimeCpuS()
    var passes = 0
    var passS = 0.0
    // whole passes only, so every query weighs the same in the samples; at
    // least two, so a slow first pass cannot leave one sample per query;
    // stop when the next pass would end more than half a pass late
    while (passes < 2 || (System.nanoTime() - start) / 1e9 + passS / 2 < ctx.seconds) {
      val p0 = System.nanoTime()
      LlmOpQueries.resetDerivedCaches()
      rng.shuffle(prepared).foreach { case (n, df) =>
        val t0 = System.nanoTime()
        val c0 = Clock.workCpuS()
        if (ctx.op(n) { execute(df); true }) {
          cpu += (Clock.workCpuS() - c0) * 1000
          lat += (System.nanoTime() - t0) / 1e6
        }
        runs(n) += 1
      }
      passes += 1
      passS = (System.nanoTime() - p0) / 1e9
    }
    ctx.detail("runtime_cpu_s") = Clock.runtimeCpuS() - rt0
    check(ctx, got, runs.toMap)
    ctx.detail("setup_units_s") = setup
    ctx.detail("passes") = passes
    ctx.detail("samples") = cpu.size
    if (lat.nonEmpty) {
      ctx.detail("wall_ms_p50") = Stats.median(lat.toSeq)
      ctx.detail("wall_ms_p90") = Stats.quantile(lat.toSeq, 0.9)
    }
    Map(
      "setup_s" -> Stats.median(setup.toSeq),
      "op_cpu_ms" -> (if (cpu.isEmpty) Double.NaN else Stats.median(cpu.toSeq)),
      "throughput_per_cpu_s" -> cpu.size / (cpu.sum / 1000))
  }

  /** Row count and hash of each query (taken in the warm pass, on the same
    * prepared frames the timed passes run) against the values recorded at the
    * benchmark's first commit (`--record` rewrites them). Queries without a
    * DuckDB oracle are rows-only by construction and are checked by count.
    * A query that fails its check fails every timed execution of it. */
  private def check(ctx: Ctx, got: Map[String, (Long, String)],
                    runs: Map[String, Int]): Unit = {
    if (ctx.record) {
      Json.write(ctx.expected, Map("data" -> new java.io.File(ctx.dataDir).getName,
        "queries" -> Subset.map(n => n -> Map("rows" -> got(n)._1,
          "hash" -> (if (SparkEntry.oracleSql.contains(n)) Some(got(n)._2) else None))).toMap))
      return
    }
    val expected = ExpectedFile.read(ctx.expected)
    Subset.foreach { n =>
      val ok = expected.get(n).exists { case (rows, hash) =>
        rows == got(n)._1 && hash.forall(_ == got(n)._2)
      }
      if (!ok) {
        ctx.failed += runs.getOrElse(n, 1)
        ctx.failures += s"$n: got ${got(n)}, expected ${expected.get(n)}"
      }
    }
  }

  private def traced(ctx: Ctx, prepared: Seq[(String, DataFrame)],
                     got: Map[String, (Long, String)]): Map[String, Double] = {
    val t = new Tracer(ctx.spark, ctx.cores)
    def pass(tr: Option[Tracer]): Double = {
      LlmOpQueries.resetDerivedCaches()
      Clock.timed(prepared.foreach { case (n, df) =>
        ctx.op(n) { Tracer.span(tr, s"coverage.${family(n)}")(execute(df)); true }
      })._2
    }
    pass(None)   // compiles the noop-sink plans
    val plainS = pass(None)
    t.install()
    val tracedS = try pass(Some(t)) finally { t.settle(); t.uninstall() }
    val m = mutable.LinkedHashMap.empty[String, Double]
    var driver = 0.0
    Layers.families.foreach { f =>
      val s = t.stats(s"coverage.$f")
      m(s"coverage.$f.s") = s.wallS
      m(s"coverage.$f.jobs") = s.jobs.toDouble
      m(s"coverage.$f.cpu_util") = s.cpuUtil
      driver += s.driverS
    }
    m("coverage.driver_s") = driver
    m("trace.overhead_s") = tracedS - plainS
    check(ctx, got, Map.empty)
    ctx.detail("spans") = t.spanRecords
    Layers.complete(m.toMap)
  }
}

/** The recorded expectations: `{"queries": {name: {"rows": n, "hash": h|null}}}`. */
object ExpectedFile {
  def read(path: String): Map[String, (Long, Option[String])] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path)).get("queries")
    val out = mutable.HashMap.empty[String, (Long, Option[String])]
    root.fieldNames().forEachRemaining { n =>
      val q = root.get(n)
      val h = q.get("hash")
      out(n) = (q.get("rows").asLong(), if (h == null || h.isNull) None else Some(h.asText()))
    }
    out.toMap
  }
}

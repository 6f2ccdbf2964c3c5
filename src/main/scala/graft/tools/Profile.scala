package graft.tools

import java.util.Properties
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/**
 * Per-query profile of declared driver queries, the local-mode stand-in for
 * the Spark UI: for each query, its formatted physical plan, then one warm
 * run through the noop sink under a SparkListener — wall time, job and
 * stage counts, and the 30 slowest stages with their task counts.
 *
 * Usage: `./run-main.sh graft.tools.Profile [query ...]` (no names → every
 * declared query), reading `SPARK_GRAFT_SF_DIR` (default sf0.1). For
 * repeated timing of a subset, use `SPARK_GRAFT_ONLY=… graft.Bench`.
 */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.create()
    try profile(spark, sfDir,
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted)
    finally spark.stop()
  }

  /** Prints the profile of each of `names` on `sfDir` to `Console.out`;
    * leaves `spark` running. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val events = new LinkedBlockingQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
    }
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      println(df.queryExecution.explainString(FormattedMode))
      run(df) // warm: JIT, codegen, cached input tables
      graft.Materializer.library.reset()
      drain(spark, events)
      val t0 = System.nanoTime()
      run(df)
      val wall = (System.nanoTime() - t0) / 1e9
      val seen = drain(spark, events)
      val jobs = seen.count(_.isInstanceOf[SparkListenerJobStart])
      val stages = seen.collect { case e: SparkListenerStageCompleted => e.stageInfo }
      def secs(s: StageInfo): Double =
        (s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)) / 1e3
      println(f"$name wall=$wall%.3fs jobs=$jobs stages=${stages.size}")
      stages.sortBy(-secs(_)).take(30).foreach { s =>
        println(f"  stage ${s.stageId}%4d ${secs(s)}%7.3f s tasks=${s.numTasks}%3d  " +
          s.name.take(110))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val Sentinel = "graft.tools.Profile sentinel"

  /** Events of every job run before this call, minus the sentinel job it
    * runs: the bus delivers events in order, so once the sentinel's job
    * end is seen, every earlier job's events are in. */
  private def drain(spark: SparkSession,
                    events: LinkedBlockingQueue[SparkListenerEvent]): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    sc.setJobDescription(Sentinel)
    try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
    def isSentinel(p: Properties): Boolean =
      p != null && p.getProperty("spark.job.description") == Sentinel
    val seen = mutable.ArrayBuffer.empty[SparkListenerEvent]
    var sentinelJob = -1
    var sentinelStages = Set.empty[Int]
    var done = false
    while (!done) {
      events.poll(30, TimeUnit.SECONDS) match {
        case null => throw new IllegalStateException("no listener event in 30 s")
        case e: SparkListenerJobStart if isSentinel(e.properties) =>
          sentinelJob = e.jobId
          sentinelStages = e.stageIds.toSet
        case e: SparkListenerJobEnd if e.jobId == sentinelJob => done = true
        case e: SparkListenerStageCompleted if sentinelStages(e.stageInfo.stageId) =>
        case e => seen += e
      }
    }
    seen.toSeq
  }
}

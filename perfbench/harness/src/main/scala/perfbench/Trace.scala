package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * In-memory span recorder plus the Spark listeners that attribute work to
 * spans. Spans are opened only around calls into the program's public
 * functions; nothing inside the program is instrumented.
 *
 * A job belongs to the innermost span whose interval holds its submission
 * time. The traced runs are sequential with one client, so every job falls
 * inside exactly one span.
 */
final class Tracer(spark: SparkSession, val cores: Int) {

  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  // listener-bus state, written from the bus thread
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stageWork = mutable.HashMap.empty[Int, StageWork]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val terminated = mutable.HashSet.empty[String]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
      e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = stageWork.getOrElseUpdate(e.stageId, StageWork())
      if (e.taskMetrics != null) {
        w.runMs += e.taskMetrics.executorRunTime
        w.shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        val durs = mutable.Map.empty[String, Long]
        d.forEach((k, v) => durs(k) = v.longValue)
        progress += Progress(p.runId.toString, durs.toMap)
        lastEventMs = System.currentTimeMillis()
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized {
        terminated += e.runId.toString
        lastEventMs = System.currentTimeMillis()
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def span[T](name: String)(f: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, name, open.headOption.map(_.id),
        System.currentTimeMillis())
      spans += s
      open = s :: open
      s
    }
    try f
    finally synchronized {
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Wait until the asynchronous listener bus has delivered every event:
    * all recorded jobs ended and the streams (if any) terminated, then a
    * short quiet period. */
  def settle(streamRuns: Seq[String] = Nil, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = synchronized {
      jobs.values.forall(_.endMs >= 0) && streamRuns.forall(terminated.contains)
    }
    while (System.currentTimeMillis() < deadline &&
           !(done && System.currentTimeMillis() - lastEventMs > 300))
      Thread.sleep(50)
  }

  private def spansNamed(name: String): Seq[Span] =
    synchronized(spans.filter(_.name == name).toSeq)

  /** Innermost span holding `ms`. */
  private def ownerOf(ms: Long): Option[Span] = {
    val holding = spans.filter(s => s.startMs <= ms && ms <= s.endMs)
    if (holding.isEmpty) None
    else Some(holding.maxBy(s => (s.startMs, s.id)))
  }

  /** Jobs attributed to the named spans (any occurrence). */
  private def jobsOf(name: String): Seq[Job] = synchronized {
    jobs.values.filter(j => ownerOf(j.startMs).exists(_.name == name)).toSeq
  }

  /** Totals over every occurrence of the named span. */
  def stats(name: String): SpanStats = synchronized {
    val ss = spansNamed(name)
    val wallMs = ss.map(s => s.endMs - s.startMs).sum
    val js = jobsOf(name)
    val stageIds = js.flatMap(_.stages).distinct
      .filter(s => stageToJob.get(s).exists(j => js.exists(_.id == j)))
    val runMs = stageIds.flatMap(stageWork.get).map(_.runMs).sum
    val shuffle = stageIds.flatMap(stageWork.get).map(_.shuffleWrite).sum
    // wall time inside the span during which no job was running
    val busyMs = ss.map { s =>
      val iv = js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      covered
    }.sum
    val wallS = wallMs / 1000.0
    SpanStats(wallS, js.size,
      if (wallMs > 0) runMs.toDouble / (wallMs.toDouble * cores) else 0.0,
      (wallMs - busyMs) / 1000.0, shuffle)
  }

  def jobCount(name: String): Int = jobsOf(name).size

  def progressOf(runIds: Set[String]): Seq[Progress] =
    synchronized(progress.filter(p => runIds(p.runId)).toSeq)

  /** Every span with its self time: duration minus the part of its
    * interval covered by its child spans. */
  def spanRecords: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      val kids = spans.filter(_.parent.contains(s.id))
      val childMs = kids.map(k => k.endMs - k.startMs).sum
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(-1),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> (s.endMs - s.startMs),
        "self_ms" -> ((s.endMs - s.startMs) - childMs),
        "jobs" -> jobs.values.count(j => ownerOf(j.startMs).exists(_.id == s.id)))
    }
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Option[Int],
                        startMs: Long, var endMs: Long = -1L)

  final case class Job(id: Int, startMs: Long, stages: Seq[Int],
                       var endMs: Long = -1L)

  final case class StageWork(var runMs: Long = 0L, var shuffleWrite: Long = 0L)

  final case class Progress(runId: String, durations: Map[String, Long])

  final case class SpanStats(wallS: Double, jobs: Int, cpuUtil: Double,
                             driverS: Double, shuffleBytes: Long)

  /** A tracer that records nothing: the untraced runs call the same code
    * paths through it at the cost of one closure per call. */
  def span[T](t: Option[Tracer], name: String)(f: => T): T = t match {
    case Some(tr) => tr.span(name)(f)
    case None => f
  }
}

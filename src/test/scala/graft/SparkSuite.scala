package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, reused across suites). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSuite.session

  def fixturePath(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] = df.collect().toSeq

  /** Names of the SQL actions `body` runs, in order. */
  def sqlActions(body: => Unit): Seq[String] = {
    val seen = new LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName)
    }
    // listener events arrive in order, so once a sentinel's is seen, every
    // action run before it has been reported
    def untilSentinel(): Seq[String] = {
      spark.range(1).tail(1)
      Iterator.continually(seen.poll(30, TimeUnit.SECONDS))
        .takeWhile(name => { assert(name != null, "no listener event in 30 s"); name != "tail" })
        .toSeq
    }
    spark.listenerManager.register(listener)
    try {
      untilSentinel() // events of earlier actions still queued at registration
      body
      untilSentinel()
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      // the deployment shape: graft sessions carry the SQL-function surface
      // and the serving boundary's read-only check rule (inert unless a
      // read-only ConnectServe endpoint is live — see ReadOnlyGuard)
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark 4.1's checkpoint file checksums (on by default) write a
      // sidecar per state-store/offset file through a worker pool whose
      // local-FS stats go through Hadoop Shell FORKS (no native hadoop lib
      // here): the streaming suites' micro-batches each commit
      // 4-partitions' deltas × checksum sidecars, and the fork storm was
      // measured as the battery's dominant wall (state-store commits
      // crawling in ChecksumCheckpointFileManager.awaitResult — r11 jstack).
      // Integrity of test-local tmp checkpoints is not what these suites
      // assert; a real DFS deployment re-enables it per stream.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // With ProcessingTimeTimeout state timers (StatefulOps),
      // `shouldRunAnotherBatch` is always true — under Trigger.AvailableNow
      // the engine then spins NO-DATA micro-batches forever (r11 jstack: a
      // single test query at batch 2600+, still running 17 min after its
      // suite passed), outliving awaitTermination(timeout) and starving
      // every later suite in the JVM.
      // The in-test timers are hours long and never meant to fire; a test
      // that DOES need a no-data batch (watermark finalization) sets this
      // back to true around its query and restores false in a finally —
      // the pattern to copy is EventStreamIngestSpec's "append-mode window
      // finalization" test.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

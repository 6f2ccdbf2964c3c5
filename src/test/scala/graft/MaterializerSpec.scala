package graft

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel
import graft.coverage.LlmOpQueries

class MaterializerSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit =
    try Materializer.library.close() finally super.afterAll()

  /** Whether the session serves `df` from a loaded cache: None when it is
    * not cached at all. A fresh projection looks the cache up again. */
  private def cacheLoaded(df: DataFrame): Option[Boolean] =
    df.select("*").queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
    }

  test("two handles in one session: closing one leaves the other's frames and the library's inputs cached") {
    val s = spark
    import s.implicits._
    Materializer.library.close()
    val input = Materializer.library.input("spec_input") {
      Seq(1, 2).toDF("i").persist(StorageLevel.MEMORY_AND_DISK)
    }
    input.count()
    val a = new Materializer
    val b = new Materializer
    val fa = a.stage(Seq(3, 4).toDF("a"))
    val fb = b.stage(Seq(5, 6).toDF("b"))
    fa.count(); fb.count()
    a.close()
    assert(fa.storageLevel == StorageLevel.NONE)
    assert(fb.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(cacheLoaded(fb).contains(true))
    assert(input.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(cacheLoaded(input).contains(true))
    assert(Materializer.library.input[DataFrame]("spec_input")(fail("rebuilt")) eq input)
    b.close()
    assert(fb.storageLevel == StorageLevel.NONE)
    Materializer.library.close()
    assert(input.storageLevel == StorageLevel.NONE)
  }

  test("reset keeps inputs at their storage level and re-persists staged frames") {
    val s = spark
    import s.implicits._
    Using.resource(new Materializer) { m =>
      val input = m.input("in")(Seq(1, 2).toDF("i").persist(StorageLevel.MEMORY_AND_DISK))
      val staged = m.stage(Seq(3, 4).toDF("s"))
      input.count(); staged.count()
      m.reset()
      assert(input.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(cacheLoaded(input).contains(true), "reset must leave inputs warm")
      assert(staged.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(cacheLoaded(staged).contains(false), "reset must drop the staged data")
      staged.count()
      assert(cacheLoaded(staged).contains(true), "the next action re-fills the cache")
      assert(m.staged == Seq(staged))
    }
  }

  test("close runs every onClose even when one throws, and a second close does nothing") {
    val s = spark
    import s.implicits._
    val m = new Materializer
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    m.onClose(ran += "first")
    m.onClose(throw new IllegalStateException("cleanup failure"))
    m.onClose(ran += "third")
    val staged = m.stage(Seq(1).toDF("x"))
    var builds = 0
    m.input("k") { builds += 1; builds }
    m.close()
    assert(ran == Seq("first", "third"))
    assert(staged.storageLevel == StorageLevel.NONE)
    assert(m.staged.isEmpty)
    m.close()
    assert(ran == Seq("first", "third"))
    // the handle stays usable: inputs rebuild after close
    assert(m.input("k") { builds += 1; builds } == 2)
    m.close()
  }

  test("closing the library releases the learned BPE merges: the next call learns again") {
    Materializer.library.close()
    val first = LlmOpQueries.bpeMerges(spark, sfDir)
    assert(LlmOpQueries.bpeMerges(spark, sfDir) eq first, "memoized until close")
    Materializer.library.close()
    val relearned = LlmOpQueries.bpeMerges(spark, sfDir)
    assert(!(relearned eq first), "close must drop the memo so the merges are learned again")
    assert(relearned == first)
    Materializer.library.close()
  }

  test("preparing dedup_streaming_replay leaves dedup_span_report_10x's staged grams cached") {
    // The replay's preparation used to drain every library-staged frame,
    // dropping the span query's (doc_id, gram) stage out of the per-pass
    // reset: from then on its tokenize → shingle → explode stage ran once
    // per consumer on every pass. Bench prepares the span query first.
    Materializer.library.close()
    try {
      val span = SparkEntry.queries("dedup_span_report_10x")(spark, sfDir)
      SparkEntry.queries("dedup_streaming_replay")(spark, sfDir)
      LlmOpQueries.resetDerivedCaches()
      val cached = span.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.output.map(_.name)
      }
      assert(cached.contains(Seq("doc_id", "gram")),
        s"span query's cached relations: $cached")
    } finally Materializer.library.close()
  }

  test("preparing dedup_keep_best and dedup_cluster_assign stages each plan once") {
    // Both queries cluster the same chain corpus with the same parameters.
    // Built once per query, the clustering staged its sketch, pair and edge
    // frames twice: "already cached" warnings while preparing, and every
    // reset unpersisting and re-persisting each shared frame twice.
    Materializer.library.close()
    try {
      SparkEntry.queries("dedup_keep_best")(spark, sfDir)
      SparkEntry.queries("dedup_cluster_assign")(spark, sfDir)
      val plans = Materializer.library.staged.map(_.queryExecution.analyzed)
      assert(plans.nonEmpty)
      val twins = for {
        (a, i) <- plans.zipWithIndex
        b <- plans.drop(i + 1) if a.sameResult(b)
      } yield a
      assert(twins.isEmpty,
        s"${twins.size} of ${plans.size} staged plans are staged twice:\n" +
          twins.mkString("\n"))
    } finally Materializer.library.close()
  }
}

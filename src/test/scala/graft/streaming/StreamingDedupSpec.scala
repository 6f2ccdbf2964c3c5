package graft.streaming

import graft.SparkSuite
import graft.operators.Dedup
import org.apache.spark.sql.functions.col
import java.nio.file.Files

/**
 * Drives the streaming corpus-dedup flow end to end with a file source:
 * bootstrap a corpus + band index, stream two batches of new documents
 * through [[StreamingDedup]], and check (a) corpus duplicates are flagged,
 * (b) a batch-2 duplicate of a batch-1 document is flagged because the index
 * grew, (c) genuinely new documents are not flagged.
 */
class StreamingDedupSpec extends SparkSuite {

  private def doc(id: Long, text: String): (Long, String) = (id, text)

  // long-ish distinct docs so 0.7-Jaccard pairs are unambiguous
  private def baseText(i: Long): String =
    s"corpus document $i " + (0 until 30).map(j => s"tok${i}x$j").mkString(" ")

  /** Drop one parquet FILE into the landing dir (the producer shape the
    * file-stream source tails — same pattern as EventStreamIngestSpec). */
  private def land(docs: Seq[(Long, String)], destFile: String): Unit = {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup-batch").toString
    docs.toDF("id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(destFile)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  test("batches dedup against the corpus AND earlier batches via the growing index") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val pairsPath = s"$tmp/pairs"; val ckpt = s"$tmp/ckpt"
    val landing = s"$tmp/landing"

    // bootstrap: 20-doc corpus + its band index, written once
    val corpus = (0L until 20L).map(i => doc(i, baseText(i))).toDF("id", "text")
    corpus.write.parquet(corpusPath)
    Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)

    // batch 1: a near-copy of corpus doc 3 (one token appended) + a new doc
    land(Seq(doc(101L, baseText(3L) + " extra"), doc(102L, baseText(777L))),
      s"$landing/b1.parquet")
    val q1 = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q1.awaitTermination(120000)

    val pairs1 = spark.read.parquet(pairsPath)
    assert(pairs1.select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      === Set((101L, 3L)))

    // batch 2: a near-copy of BATCH 1's new doc 102 (caught only because the
    // index grew), another corpus dup, and a fresh doc
    land(Seq(doc(201L, baseText(777L) + " tail"), doc(202L, baseText(7L)),
      doc(203L, baseText(888L))), s"$landing/b2.parquet")
    val q2 = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q2.awaitTermination(120000)

    val pairs2 = spark.read.parquet(pairsPath)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs2 === Set((101L, 3L), (201L, 102L), (202L, 7L)))

    // the corpus table grew by both batches (5 new docs), index in step
    assert(spark.read.parquet(corpusPath).count() === 25)
    assert(spark.read.parquet(indexPath).count() === 25 * 8)
    // checkpoint means a restart with no new files reprocesses nothing
    val q3 = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q3.awaitTermination(120000)
    assert(spark.read.parquet(pairsPath).count() === 3)
    assert(spark.read.parquet(corpusPath).count() === 25)
  }

  test("crash replay: a batch that fails before checkpoint commit replays, " +
      "and the documented dropDuplicates repair restores exactly-once") {
    // StreamingDedup's scaladoc pins the at-least-once contract: the three
    // appends inside one batch are not atomic with the checkpoint commit, so
    // a crash after the writes replays the whole batch on restart, and the
    // repair is idempotent because every written row is keyed by
    // deterministic content. This test drives that exact failure: the first
    // attempt of batch 0 runs processBatch fully, then dies before Spark can
    // commit the offset — the restart must re-deliver the same source batch.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup-crash").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val pairsPath = s"$tmp/pairs"; val ckpt = s"$tmp/ckpt"
    val landing = s"$tmp/landing"

    val corpus = (0L until 20L).map(i => doc(i, baseText(i))).toDF("id", "text")
    corpus.write.parquet(corpusPath)
    Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)

    land(Seq(doc(101L, baseText(3L) + " extra"), doc(102L, baseText(777L))),
      s"$landing/b1.parquet")

    @volatile var injected = false
    val crashing = spark.readStream.schema("id LONG, text STRING")
      .parquet(landing).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        StreamingDedup.processBatch(spark, b, corpusPath, indexPath,
          pairsPath, "id", "text", 0.7, 32, 8)
        if (!injected) { injected = true; sys.error("injected crash") }
      }
      .start()
    intercept[StreamingQueryException] { crashing.awaitTermination(120000) }
    assert(injected)

    // restart from the same checkpoint with the production entry point: the
    // uncommitted batch re-delivers and processBatch runs a second time
    val q = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q.awaitTermination(120000)

    // at-least-once really happened on corpus/index (appended twice) —
    // but the pairs sink holds the edge ONCE: the crashed first attempt's
    // corpus append committed 101/102, so the replay's committed-new_id
    // exclusion suppresses the cross re-emission (the pairs write precedes
    // the corpus append, so a committed endpoint proves the edge is
    // already recorded — r11 orientation-unique fix, cross half)
    assert(spark.read.parquet(pairsPath).count() === 1)        // (101,3) ×1
    assert(spark.read.parquet(corpusPath).count() === 24)      // 20 + 2×2
    assert(spark.read.parquet(indexPath).count() === (20 + 4) * 8)
    // …and the replay, which re-probed an index already holding this
    // batch's own bands, emitted NO id-equal self-pairs (the re-delivery
    // guard in incrementalNearDupPairs — without it the replay writes
    // (101,101)/(102,102) jaccard-1.0 rows that no pair-keyed dedup removes)
    assert(spark.read.parquet(pairsPath)
      .filter(col("new_id") === col("corpus_id")).count() === 0)

    // the documented repair is exact — content-keyed rows dedup to the
    // clean-run state on every table
    assert(spark.read.parquet(pairsPath)
      .dropDuplicates("new_id", "corpus_id")
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      === Set((101L, 3L)))
    assert(spark.read.parquet(corpusPath).dropDuplicates("id").count() === 22)
    assert(spark.read.parquet(indexPath).dropDuplicates("id", "band").count()
      === 22 * 8)

    // the pipeline keeps working on the unrepaired (duplicated) state: a
    // later batch near-dup of batch-1's doc 102 is still caught, and the
    // downstream dedup view stays exact even though the index holds 102's
    // bands twice
    land(Seq(doc(201L, baseText(777L) + " tail")), s"$landing/b2.parquet")
    val q2 = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(pairsPath)
      .dropDuplicates("new_id", "corpus_id")
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      === Set((101L, 3L), (201L, 102L)))
  }

  test("crash replay of a batch that CONTAINS near-duplicates of itself: " +
      "the intra-batch pair is reported ONCE in canonical orientation, " +
      "never as a replay-minted reversed cross pair") {
    // One level past the previous drive: the replayed batch holds two
    // near-identical NEW documents (301 ≈ 302). The 301–302 edge is real
    // and must reach the pairs sink — as the intra-batch pass's canonical
    // (301, 302) row, a pure function of batch content that replays
    // idempotently. What must NOT happen: the crashed first attempt
    // appended 302's band rows to the index and 302's text to the corpus,
    // so on replay 301 collides with 302 (id-UNEQUAL — the id-equal guard
    // alone cannot help) and would verify against 302's crashed-attempt
    // corpus text; without the batch-id anti-join the replay ALSO emits the
    // reversed (302, 301) as a batch-vs-corpus pair — a row a clean run
    // never produces, that no (new_id, corpus_id) dropDuplicates can
    // remove, and that makes a downstream keep-min-id list delete BOTH
    // copies of the content. The batch also carries a genuine corpus
    // near-dup (303 ≈ corpus doc 5) to pin that the guard does not
    // over-exclude.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup-intra").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val pairsPath = s"$tmp/pairs"; val ckpt = s"$tmp/ckpt"
    val landing = s"$tmp/landing"

    val corpus = (0L until 20L).map(i => doc(i, baseText(i))).toDF("id", "text")
    corpus.write.parquet(corpusPath)
    Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)

    land(Seq(
      doc(301L, baseText(900L) + " alpha"),  // ≈ 302, ≉ corpus
      doc(302L, baseText(900L) + " beta"),
      doc(303L, baseText(5L) + " extra")),   // ≈ corpus doc 5
      s"$landing/b1.parquet")

    @volatile var injected = false
    val crashing = spark.readStream.schema("id LONG, text STRING")
      .parquet(landing).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        StreamingDedup.processBatch(spark, b, corpusPath, indexPath,
          pairsPath, "id", "text", 0.7, 32, 8)
        if (!injected) { injected = true; sys.error("injected crash") }
      }
      .start()
    intercept[StreamingQueryException] { crashing.awaitTermination(120000) }
    assert(injected)

    val q = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q.awaitTermination(120000)

    val pairs = spark.read.parquet(pairsPath)
    // the replay emitted ONLY the original batch's pair rows again: no
    // id-equal self-pairs, and the 301–302 edge appears ONLY in the
    // intra-batch pass's canonical orientation — the reversed (302, 301)
    // would be the replayed index showing through as a fake cross pair
    assert(pairs.filter(col("new_id") === col("corpus_id")).count() === 0)
    assert(pairs.filter(col("new_id") === 302L).count() === 0,
      "replay minted a reversed intra-batch pair as a cross pair")
    // the documented repair restores exactly the clean-run result: the
    // corpus cross pair AND the intra-batch edge, once each
    assert(pairs.dropDuplicates("new_id", "corpus_id")
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      === Set((301L, 302L), (303L, 5L)))
    // and a LATER batch still pairs against this batch's docs through the
    // grown index — the anti-join excludes only the CURRENT batch's ids
    land(Seq(doc(401L, baseText(900L) + " alpha gamma")), s"$landing/b2.parquet")
    val q2 = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q2.awaitTermination(120000)
    val later = spark.read.parquet(pairsPath)
      .dropDuplicates("new_id", "corpus_id")
      .filter(col("new_id") === 401L)
      .select("corpus_id").as[Long].collect().toSet
    assert(later.contains(301L) || later.contains(302L),
      "batch N+1 must still near-dup against batch N's documents")
  }

  test("a committed corpus doc RE-DELIVERED alongside a new near-dup of it: " +
      "the edge is recorded as the batch's intra pair, not lost to the guard") {
    // The recall hole the intra-batch pass closes: corpus doc 5 is already
    // committed; the at-least-once source re-delivers it (same id, same
    // text) in the same batch as NEW doc 601 ≈ doc 5. The incremental
    // operator's re-delivery guard excludes every in-batch corpus id from
    // cross pairs — correct for replay hygiene, but it would suppress the
    // genuine 5–601 edge entirely if the batch didn't report its own
    // intra-batch pairs. Expected: the edge lands exactly once, as the
    // canonical (5, 601) intra pair.
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup-redeliver").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val pairsPath = s"$tmp/pairs"; val ckpt = s"$tmp/ckpt"
    val landing = s"$tmp/landing"

    val corpus = (0L until 20L).map(i => doc(i, baseText(i))).toDF("id", "text")
    corpus.write.parquet(corpusPath)
    Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)

    land(Seq(
      doc(5L, baseText(5L)),                // committed doc, re-delivered
      doc(601L, baseText(5L) + " extra"),   // NEW near-dup of it
      doc(602L, baseText(901L))),           // unrelated new doc
      s"$landing/b1.parquet")
    val q = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    q.awaitTermination(120000)

    val pairs = spark.read.parquet(pairsPath)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((5L, 601L)),
      "the re-delivered-doc edge must surface exactly once, as the " +
        s"canonical intra-batch pair; got $pairs")
  }

  test("re-delivery of a pair whose edge is ALREADY recorded adds no second orientation") {
    // The dual-orientation hazard: batch A delivers only NEW doc 601 ≈
    // committed doc 5 → cross pair (new_id=601, corpus_id=5). Batch B then
    // re-delivers BOTH 5 and 601 (now both committed). The intra pass is a
    // pure function of batch content, so without the both-committed
    // exclusion it would re-emit the same logical edge canonically as
    // (5, 601) — two orientations of one edge, uncollapsible by
    // dropDuplicates(new_id, corpus_id), fatal to a keep-min-id consumer
    // (it would drop BOTH copies). Expected: the sink holds the edge in
    // its original cross orientation only.
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup-orient").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val pairsPath = s"$tmp/pairs"; val ckpt = s"$tmp/ckpt"
    val landing = s"$tmp/landing"

    val corpus = (0L until 20L).map(i => doc(i, baseText(i))).toDF("id", "text")
    corpus.write.parquet(corpusPath)
    Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)

    // batch A: 601 alone → cross pair (601, 5)
    land(Seq(doc(601L, baseText(5L) + " extra")), s"$landing/bA.parquet")
    val qA = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    qA.awaitTermination(120000)
    assert(spark.read.parquet(pairsPath)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      === Set((601L, 5L)))

    // batch B: the at-least-once source re-delivers BOTH endpoints
    land(Seq(doc(5L, baseText(5L)), doc(601L, baseText(5L) + " extra")),
      s"$landing/bB.parquet")
    val qB = StreamingDedup.start(spark,
      spark.readStream.schema("id LONG, text STRING").parquet(landing),
      corpusPath, indexPath, pairsPath, ckpt, "id", "text",
      threshold = 0.7, numHashes = 32, bands = 8)
    qB.awaitTermination(120000)

    val pairs = spark.read.parquet(pairsPath)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((601L, 5L)),
      s"one logical edge must keep ONE orientation in the sink; got $pairs")
  }

  test("plan pin: ONE sketch computation per batch — all three sketch " +
      "consumers read the same cached sketch frame") {
    // processBatch feeds the batch to THREE sketch consumers (cross pairs,
    // intra pairs, index append). Before r11 each entry point re-ran
    // tokenize/shingle/minhash itself — three sketch computations per batch.
    // This pin constructs the exact frames processBatch builds (shared
    // persisted sketchFrame threaded through the precomputedSketch
    // parameters) and machine-checks, like ShufflingSpec's exchange-count
    // pin: (a) ZERO MinHash computations in any consumer's plan outside the
    // cache, (b) exactly ONE cached relation computes the sketch — so the
    // per-batch hot pass runs once, during that cache's first materialization.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.expressions.MinHashSignatureExpr
    val s = spark
    import s.implicits._
    spark.catalog.clearCache()
    graft.Materializer.library.close()
    val tmp = Files.createTempDirectory("graft-sdedup-pin").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val corpus = (0L until 20L).map(i => doc(i, baseText(i))).toDF("id", "text")
    corpus.write.parquet(corpusPath)
    Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)
    graft.Materializer.library.close()

    val m = new graft.Materializer
    val b = m.stage(Seq(doc(301L, baseText(900L) + " alpha"),
      doc(302L, baseText(900L) + " beta"),
      doc(303L, baseText(5L) + " extra")).toDF("id", "text"))
    try {
      val sketch = m.stage(Dedup.sketchFrame(b, "id", "text", numHashes = 32))
      val cross = Dedup.incrementalNearDupPairs(
        spark.read.parquet(corpusPath), b, "id", "text", 0.7, 32, 8,
        corpusBands = Some(spark.read.parquet(indexPath)),
        precomputedSketch = Some(sketch))
      val intra = Dedup.nearDuplicatePairs(b, "id", "text", 0.7, 32, 8,
        precomputedSketch = Some(sketch))
      val idx = Dedup.bandIndex(b, "id", "text", 32, 8,
        precomputedSketch = Some(sketch))

      def unwrap(p: SparkPlan): SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case other => other
      }
      def outerMinhash(p: SparkPlan): Int = unwrap(p).collect { case n =>
        n.expressions.map(_.collect { case m: MinHashSignatureExpr => m }.size).sum
      }.sum
      def minhashCacheBuilders(p: SparkPlan): Seq[AnyRef] = unwrap(p).collect {
        case sc: InMemoryTableScanExec
            if sc.relation.cachedPlan.exists(_.expressions.exists(
              _.exists(_.isInstanceOf[MinHashSignatureExpr]))) =>
          sc.relation.cacheBuilder
      }
      val plans = Seq(cross, intra, idx).map(_.queryExecution.executedPlan)
      assert(plans.map(outerMinhash).sum === 0,
        "a consumer re-computes the sketch outside the shared cache:\n" +
          plans.map(_.toString).mkString("\n---\n"))
      val builders = plans.flatMap(minhashCacheBuilders)
      assert(builders.nonEmpty, "no consumer reads a cached sketch at all")
      assert(builders.map(System.identityHashCode(_)).toSet.size === 1,
        "consumers read DIFFERENT cached sketch relations (one computation " +
          "per consumer, not per batch)")

      // …and threading the sketch changes nothing about the results
      assert(cross.select("new_id", "corpus_id").as[(Long, Long)]
        .collect().toSet ===
        Dedup.incrementalNearDupPairs(spark.read.parquet(corpusPath), b,
          "id", "text", 0.7, 32, 8,
          corpusBands = Some(spark.read.parquet(indexPath)))
          .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet)
      assert(intra.select("id_a", "id_b").as[(Long, Long)].collect().toSet ===
        Dedup.nearDuplicatePairs(b, "id", "text", 0.7, 32, 8)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
      assert(idx.collect().toSet ===
        Dedup.bandIndex(b, "id", "text", 32, 8).collect().toSet)
    } finally { m.close(); graft.Materializer.library.close() }
  }

  test("PARTIAL-append crashes (between the three sinks) repair to the clean state") {
    // The scaladoc's "or vice versa" clause: the three appends inside one
    // batch are not atomic with each other either — a crash can land BETWEEN
    // them. Each partial state is constructed from exactly the public calls
    // processBatch makes (the crash point is between library calls, so the
    // on-disk state is identical), then the real stream delivers the same
    // batch = the replay. The batch again contains near-identical new docs
    // (501 ≈ 502) plus a genuine corpus dup (503 ≈ corpus 5), so both guard
    // halves are exercised with the index/corpus tables INCONSISTENT with
    // each other at replay time.
    val s = spark
    import s.implicits._
    val batchDocs = Seq(
      doc(501L, baseText(910L) + " alpha"),
      doc(502L, baseText(910L) + " beta"),
      doc(503L, baseText(5L) + " extra"))

    for ((crashedSinks, label) <- Seq(1 -> "pairs-only", 2 -> "pairs+index")) {
      val tmp = Files.createTempDirectory(s"graft-sdedup-part-$label").toString
      val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
      val pairsPath = s"$tmp/pairs"; val ckpt = s"$tmp/ckpt"
      val landing = s"$tmp/landing"

      val corpus = (0L until 20L).map(i => doc(i, baseText(i))).toDF("id", "text")
      corpus.write.parquet(corpusPath)
      Dedup.bandIndex(corpus, "id", "text", numHashes = 32, bands = 8)
        .write.parquet(indexPath)
      land(batchDocs, s"$landing/b1.parquet")

      // the crashed first attempt: processBatch's appends, truncated — the
      // pairs sink gets cross∪intra in one append, exactly as processBatch
      // writes it
      val b = batchDocs.toDF("id", "text")
      Dedup.incrementalNearDupPairs(spark.read.parquet(corpusPath), b,
          "id", "text", 0.7, 32, 8,
          corpusBands = Some(spark.read.parquet(indexPath)))
        .unionByName(Dedup.nearDuplicatePairs(b, "id", "text", 0.7, 32, 8)
          .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"),
            col("jaccard")))
        .write.mode("append").parquet(pairsPath)
      if (crashedSinks >= 2)
        Dedup.bandIndex(b, "id", "text", 32, 8)
          .write.mode("append").parquet(indexPath)
      graft.Materializer.library.close()

      // nothing was committed, so the stream delivers the batch = replay
      val q = StreamingDedup.start(spark,
        spark.readStream.schema("id LONG, text STRING").parquet(landing),
        corpusPath, indexPath, pairsPath, ckpt, "id", "text",
        threshold = 0.7, numHashes = 32, bands = 8)
      q.awaitTermination(120000)

      val pairs = spark.read.parquet(pairsPath)
      assert(pairs.filter(col("new_id") === col("corpus_id")).count() === 0,
        s"[$label] id-equal self-pairs leaked")
      assert(pairs.filter(col("new_id") === 502L).count() === 0,
        s"[$label] replay minted a reversed intra-batch pair as a cross pair")
      assert(pairs.dropDuplicates("new_id", "corpus_id")
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
        === Set((501L, 502L), (503L, 5L)),
        s"[$label] repaired pairs != clean-run pairs")
      // corpus text landed exactly once in both scenarios; the index repairs
      // by its documented (id, band) key
      assert(spark.read.parquet(corpusPath).dropDuplicates("id").count() === 23,
        s"[$label] corpus repair")
      assert(spark.read.parquet(indexPath).dropDuplicates("id", "band").count()
        === 23 * 8, s"[$label] index repair")
    }
  }

  test("re-delivering ONE endpoint of an intra-recorded edge emits no reversed pair") {
    // batch 1 delivers near-dup docs a < b: intra records canonical (a, b)
    // and both commit. A crash after the offset-less commit re-delivers b
    // ALONE in batch 2 — the cross pass would then find b~a in the index
    // and emit (new_id=b, corpus_id=a): the SAME logical edge under the
    // OPPOSITE orientation, which no (new_id, corpus_id) dropDuplicates
    // collapses and which makes a keep-min-id consumer delete both copies.
    // The committed-new_id exclusion must suppress it.
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup-orient").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val pairsPath = s"$tmp/pairs"
    val seed = Seq(doc(0L, baseText(0L))).toDF("id", "text")
    seed.write.parquet(corpusPath)
    Dedup.bandIndex(seed, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)

    val a = doc(10L, baseText(5L) + " extra")
    val b = doc(11L, baseText(5L) + " extra more")
    StreamingDedup.processBatch(spark, Seq(a, b).toDF("id", "text"),
      corpusPath, indexPath, pairsPath, "id", "text", 0.7, 32, 8)
    val afterB1 = spark.read.parquet(pairsPath)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(afterB1 === Set((10L, 11L)), s"batch-1 canonical intra pair: $afterB1")

    // batch 2: b re-delivered ALONE (its edge to a is already recorded)
    StreamingDedup.processBatch(spark, Seq(b).toDF("id", "text"),
      corpusPath, indexPath, pairsPath, "id", "text", 0.7, 32, 8)
    val afterB2 = spark.read.parquet(pairsPath)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(afterB2 === Set((10L, 11L)),
      s"no reversed (11,10) orientation after re-delivery: $afterB2")
  }

  test("processBatch releases its frames and stages nothing on the library handle") {
    // a micro-batch owns its frames: the batch and its sketch live on the
    // batch's own handle, so after it returns nothing is left cached — not
    // in the session and not on Materializer.library, whose frames another
    // query in the same session would otherwise see released or leaked
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-sdedup-own").toString
    val corpusPath = s"$tmp/corpus"; val indexPath = s"$tmp/index"
    val seed = (0L until 5L).map(i => doc(i, baseText(i))).toDF("id", "text")
    seed.write.parquet(corpusPath)
    Dedup.bandIndex(seed, "id", "text", numHashes = 32, bands = 8)
      .write.parquet(indexPath)
    spark.catalog.clearCache()
    graft.Materializer.library.close()
    StreamingDedup.processBatch(spark,
      Seq(doc(20L, baseText(3L) + " extra"), doc(21L, baseText(900L))).toDF("id", "text"),
      corpusPath, indexPath, s"$tmp/pairs", "id", "text", 0.7, 32, 8)
    assert(spark.read.parquet(s"$tmp/pairs").count() > 0)
    assert(graft.Materializer.library.staged.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

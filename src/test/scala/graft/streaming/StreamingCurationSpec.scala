package graft.streaming

import scala.util.Using

import graft.SparkSuite
import graft.text.LmScore
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Drives streaming curation end to end with a file source: train the LM
 * offline on a reference corpus, stream two batches of mixed-quality
 * documents through [[StreamingCuration]], and check (a) good in-domain
 * docs land in the kept sink, (b) rejects land in the audit sink with the
 * RIGHT reason (cascade rule vs LM perplexity), (c) the streamed result
 * matches the batch operators applied to the same union, (d) restart with
 * the same checkpoint reprocesses nothing.
 */
class StreamingCurationSpec extends SparkSuite {

  private val good = "the quick brown fox jumps over a lazy dog and runs " +
    "to the green hill with great speed for it is late in this day"

  private def land(docs: Seq[(Long, String)], destFile: String): Unit = {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-scur-batch").toString
    docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(destFile)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
  }

  test("streamed curation keeps good docs, audits rejects with the right reason") {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-scur").toString
    val keptPath = s"$tmp/kept"; val droppedPath = s"$tmp/dropped"
    val ckpt = s"$tmp/ckpt"; val landing = s"$tmp/landing"

    // offline model: the reference corpus is many shuffled variants of the
    // good sentence, so in-domain text scores low NLL
    val ref = (0L until 40L).map(i => (i, good)).toDF("doc_id", "text")
    val model = LmScore.train(ref, "text")

    // batch 1: one good doc, one too-short doc
    land(Seq((101L, good), (102L, "tiny doc")), s"$landing/b1.parquet")
    val stream1 = spark.readStream.schema("doc_id LONG, text STRING").parquet(landing)
    StreamingCuration.start(stream1, "doc_id", "text", model,
      keptPath, droppedPath, ckpt, maxNll = 1.5).awaitTermination(120000)

    // batch 2: an out-of-domain doc (passes the cascade, fails the LM)
    val outDomain = "zq vw xk pj qr zz " + // high-nll opening
      (0 until 20).map(i => s"the w$i of a b$i").mkString(" ") // stopwords to pass cascade
    land(Seq((201L, outDomain), (202L, good + " again today")),
      s"$landing/b2.parquet")
    StreamingCuration.start(stream1, "doc_id", "text", model,
      keptPath, droppedPath, ckpt, maxNll = 1.5).awaitTermination(120000)

    val kept = spark.read.parquet(keptPath).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val dropped = spark.read.parquet(droppedPath)
      .select("doc_id", "drop_reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.contains(101L) && kept.contains(202L))
    assert(dropped(102L) === "too_short")
    assert(dropped(201L) === "high_perplexity")
    assert(!kept.contains(102L) && !kept.contains(201L))

    // (c) streamed ≡ batch over the union
    val union = Seq((101L, good), (102L, "tiny doc"),
      (201L, outDomain), (202L, good + " again today")).toDF("doc_id", "text")
    Using.resource(new graft.Materializer) { m =>
      val (batchKept, batchDropped) =
        StreamingCuration.curateBatch(union, "doc_id", "text", model, maxNll = 1.5, m)
      assert(batchKept.select("doc_id").collect().map(_.getLong(0)).toSet === kept)
      assert(batchDropped.select("doc_id", "drop_reason")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap === dropped)
    }

    // (d) restart: checkpoint prevents reprocessing — sinks unchanged
    val nKept = spark.read.parquet(keptPath).count()
    StreamingCuration.start(stream1, "doc_id", "text", model,
      keptPath, droppedPath, ckpt, maxNll = 1.5).awaitTermination(120000)
    assert(spark.read.parquet(keptPath).count() === nKept)
  }

  test("a batch column colliding with an internal metric is rejected loudly") {
    val s = spark
    import s.implicits._
    val clashing = Seq((1L, "some text here", 42L)).toDF("doc_id", "text", "n_tokens")
    val e = intercept[IllegalArgumentException](
      StreamingCuration.curateBatch(clashing, "doc_id", "text",
        graft.text.LmScore.train(Seq((1L, "some text here")).toDF("doc_id", "text"), "text"),
        maxNll = 6.0, new graft.Materializer))
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("a curated batch releases its frames and stages nothing on the library handle") {
    // the foreachBatch body owns its frames: the batch and curateBatch's
    // stages live on the batch's own handle, so after the stream drains
    // nothing but the stream-lifetime model tables is left cached
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("graft-scur-own").toString
    val model = LmScore.train((0L until 40L).map(i => (i, good)).toDF("doc_id", "text"), "text")
    land(Seq((301L, good), (302L, "tiny doc")), s"$tmp/landing/b1.parquet")
    spark.catalog.clearCache()
    graft.Materializer.library.close()
    StreamingCuration.start(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$tmp/landing"),
      "doc_id", "text", model, s"$tmp/kept", s"$tmp/dropped", s"$tmp/ckpt",
      maxNll = 1.5).awaitTermination(120000)
    assert(spark.read.parquet(s"$tmp/kept").count() === 1)
    assert(graft.Materializer.library.staged.isEmpty)
    model.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

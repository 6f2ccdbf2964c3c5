package graft.operators

import scala.util.Using

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
      (4L, "completely different content about spark shuffle partitions and broadcast joins here"),
      (5L, "another unrelated document discussing minhash signatures and locality sensitive hashing")
    ).toDF("doc_id", "text")
  }

  test("exact duplicate clusters find the planted dup and nothing else") {
    val clusters = Dedup.exactDuplicateClusters(docs, "doc_id", "text").collect()
    assert(clusters.length == 1)
    assert(clusters.head.getAs[Long]("n_copies") == 2L)
    assert(clusters.head.getAs[Long]("keeper_id") == 1L)
  }

  test("exactDedup keeps the lowest id per content") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("keepBestPerCluster: arg-max by (score desc, id asc); null scores lose") {
    val s = spark
    import s.implicits._
    // cluster 1: distinct scores — keeper is the HIGHEST score, not min id
    // cluster 2: tied scores — id ASC breaks the tie
    // cluster 3: all-null scores — degrades to min id, keeper_score null
    // cluster 4: null loses to a lower non-null score
    val clustered = Seq(
      (10L, 1L, Some(0.2)), (11L, 1L, Some(0.9)), (12L, 1L, Some(0.5)),
      (20L, 2L, Some(0.7)), (21L, 2L, Some(0.7)),
      (30L, 3L, None), (31L, 3L, None),
      (40L, 4L, None), (41L, 4L, Some(0.1))
    ).toDF("doc_id", "cluster_id", "score")
    val got = Dedup.keepBestPerCluster(clustered, "doc_id", "cluster_id", "score")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got(1L) === ((3L, 11L, Some(0.9))))
    assert(got(2L) === ((2L, 20L, Some(0.7))))
    assert(got(3L) === ((2L, 30L, None)))
    assert(got(4L) === ((2L, 41L, Some(0.1))))
  }

  test("keepBestPerCluster rejects a non-numeric id column loudly") {
    val s = spark
    import s.implicits._
    // negating a string id null-coerces (or throws under ANSI) and would
    // silently invert the documented id-ASC tie-break to id DESC (r14
    // review) — the operator must refuse, not guess
    val clustered = Seq(("a", 1L, 0.2), ("b", 1L, 0.2))
      .toDF("doc_id", "cluster_id", "score")
    val e = intercept[IllegalArgumentException](
      Dedup.keepBestPerCluster(clustered, "doc_id", "cluster_id", "score"))
    assert(e.getMessage.contains("numeric") &&
      e.getMessage.contains("doc_id"), e.getMessage)
  }

  test("nearDuplicateKeepBest keeps the best-quality member per component") {
    // docs 1/2/3 cluster (exact + near dup); score = text length makes doc 3
    // (two chars longer: today→tonight) the quality keeper — NOT the min-id
    // keeper doc 1, so a fallback to min-id policy fails this assert
    val clustered = Dedup.nearDuplicateClusters(
      docs.withColumn("score", length(col("text")).cast("long")),
      "doc_id", "text", threshold = 0.7)
    assert(clustered.columns.toSeq == Seq("doc_id", "score", "cluster_id"))
    val got = Dedup.keepBestPerCluster(clustered, "doc_id", "cluster_id", "score")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 3L, 71L))) // cluster 1 = {1,2,3}, keeper 3
    assert(got(4L)._1 === 1L && got(4L)._2 === 4L) // singletons keep self
    assert(got(5L)._1 === 1L && got(5L)._2 === 5L)
  }

  test("jaccard is exact on known sets") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(j == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("minhash near-duplicate pairs find (1,2) and (1,3)-style pairs only") {
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))   // exact dup always collides
    assert(!pairs.exists(p => p._2 == 4L || p._2 == 5L || p._1 == 4L || p._1 == 5L))
  }

  test("minhash est_jaccard is 1.0 for identical docs") {
    val cand = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.0)
      .filter(col("id_a") === 1L && col("id_b") === 2L).collect()
    assert(cand.length == 1)
    assert(cand.head.getAs[Double]("jaccard") == 1.0)
  }

  test("simhash: identical docs have distance 0; near-dups small; unrelated large") {
    val s = spark
    import s.implicits._
    import graft.expressions.SketchExpressions.{simhash128, xxhash64_array}
    val sk = docs.select(col("doc_id"), simhash128(xxhash64_array(
        graft.text.TextAnalysis.tokens(col("text")))).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def hamming(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    assert(sk(1L) == sk(2L))
    val near = hamming(sk(1L), sk(3L))
    val far = hamming(sk(1L), sk(4L))
    assert(near < far)
  }

  test("duplicateSpans counts cross-document grams; docs 1/2 fully duplicated") {
    // n=8 over the 14-token docs: docs 1 and 2 are exact copies, so every
    // gram of each is shared; doc 3 differs only in the last token, so only
    // its final window (the one containing "tonight") is unique; docs 4/5
    // share nothing
    val r = Dedup.duplicateSpans(docs, "doc_id", "text", n = 8, hashGrams = false)
      .orderBy("doc_id").collect()
    val byId = r.map(x => x.getLong(0) ->
      (x.getAs[Long]("n_grams"), x.getAs[Long]("n_dup_grams"))).toMap
    assert(byId(1L) == (7L, 7L))   // 14 tokens -> 7 grams, all shared with doc 2
    assert(byId(2L) == (7L, 7L))
    assert(byId(3L) == (7L, 6L))
    assert(byId(4L)._2 == 0L)
    assert(byId(5L)._2 == 0L)
    assert(r.find(_.getLong(0) == 3L).get.getAs[Double]("dup_frac") == 6.0 / 7.0)
  }

  test("duplicateSpans: hashed grams (the shuffle-longs scale mode) match raw grams") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val raw = Dedup.duplicateSpans(real, "doc_id", "text", n = 8, hashGrams = false)
      .orderBy("doc_id").collect().toSeq
    val hashed = Dedup.duplicateSpans(real, "doc_id", "text", n = 8, hashGrams = true)
      .orderBy("doc_id").collect().toSeq
    assert(hashed == raw)
    assert(raw.exists(_.getAs[Long]("n_dup_grams") > 0)) // planted copies are visible
  }

  test("exciseDuplicateSpans: keep-first, maximal merge, full excision, untouched docs") {
    // docs 1/2 are exact 14-token copies: doc 1 (global first occurrence of
    // every gram) keeps its text untouched; doc 2's seven n=4 gram spans
    // [0,4),[1,5)..[10,14) overlap pairwise and must merge to ONE maximal
    // span [0,14) that excises the entire document.
    val r = Dedup.exciseDuplicateSpans(docs, "doc_id", "text", n = 4,
        hashGrams = false)
      .orderBy("doc_id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(1L).getAs[Int]("n_spans") == 0)
    assert(byId(1L).getAs[String]("text_deduped") ==
      "the quick brown fox jumps over the lazy dog near the river bank today")
    assert(byId(2L).getAs[String]("spans") == "0:14")
    assert(byId(2L).getAs[Int]("n_tokens_removed") == 14)
    assert(byId(2L).getAs[String]("text_deduped") == "")
    // doc 3 shares tokens 0..12 with docs 1/2 (differs only in the last
    // token): duplicated n=4 starts are 0..9, merging to the single maximal
    // span [0,13) — the last token survives
    assert(byId(3L).getAs[String]("spans") == "0:13")
    assert(byId(3L).getAs[String]("text_deduped") == "tonight")
    // unrelated docs lose nothing
    assert(byId(4L).getAs[Int]("n_spans") == 0)
    assert(byId(4L).getAs[Int]("n_tokens_removed") == 0)
    graft.Materializer.library.close()
  }

  test("exciseDuplicateSpans: disjoint duplicated regions stay separate spans") {
    val s = spark
    import s.implicits._
    // shared4a (4 tokens) and shared4b (4 tokens) both appear in doc 1 and
    // doc 2, separated in doc 2 by a 3-token unique gap — too wide for n=4
    // spans to merge: doc 2 must report exactly two spans and keep the gap.
    val df = Seq(
      (1L, "alpha beta gamma delta filler one two three epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta gap unique words epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val r = Dedup.exciseDuplicateSpans(df, "doc_id", "text", n = 4,
        hashGrams = false).orderBy("doc_id").collect()
    val d2 = r.find(_.getLong(0) == 2L).get
    assert(d2.getAs[String]("spans") == "0:4,7:11")
    assert(d2.getAs[String]("text_deduped") == "gap unique words")
    val d1 = r.find(_.getLong(0) == 1L).get
    assert(d1.getAs[Int]("n_spans") == 0) // first occurrence of both regions
    graft.Materializer.library.close()
  }

  test("exciseDuplicateSpans: within-document repeat keeps only the first instance") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "one two three four middle words here one two three four")
    ).toDF("doc_id", "text")
    val r = Dedup.exciseDuplicateSpans(df, "doc_id", "text", n = 4,
        hashGrams = false).collect()
    assert(r.head.getAs[String]("spans") == "7:11")
    assert(r.head.getAs[String]("text_deduped") ==
      "one two three four middle words here")
    graft.Materializer.library.close()
  }

  test("exciseDuplicateSpans: hashed gram mode (100 TB path) matches raw grams") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val raw = Dedup.exciseDuplicateSpans(real, "doc_id", "text", n = 8,
      hashGrams = false).orderBy("doc_id").collect().toSeq
    val hashed = Dedup.exciseDuplicateSpans(real, "doc_id", "text", n = 8,
      hashGrams = true).orderBy("doc_id").collect().toSeq
    assert(hashed == raw)
    assert(raw.exists(_.getAs[Int]("n_spans") > 0)) // planted copies excised
    graft.Materializer.library.close()
  }

  test("unpersistSketches releases tracked sketch storage and is idempotent") {
    graft.Materializer.library.close() // drain anything left by earlier tests
    Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5).count()
    val cachedAfterRun = spark.sparkContext.getRDDStorageInfo.length
    graft.Materializer.library.close()
    val cachedAfterRelease = spark.sparkContext.getRDDStorageInfo.length
    assert(cachedAfterRelease <= cachedAfterRun)
    graft.Materializer.library.close() // second call is a no-op
  }

  test("simhashNearDuplicates finds the exact pair") {
    val pairs = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("portable (md5) hashing mode finds the same minhash pair set as the default") {
    // portableHashing swaps xxhash64 for md5-derived 60-bit hashes and raw
    // string band keys so the DuckDB oracle can replay the banded pipeline;
    // the pair DECISIONS must be hash-family-independent on this fixture.
    val default = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val portable = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.5,
        portableHashing = true)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(portable == default)
    graft.Materializer.library.close()
  }

  test("portable simhash mode finds the exact pair with distance 0 and no far pairs") {
    val rows = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .collect()
    val pairs = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(rows.find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
      .get.getAs[Int]("hamming") == 0)
    assert(!pairs.exists(p => p._2 == 4L || p._2 == 5L || p._1 == 4L || p._1 == 5L))
    graft.Materializer.library.close()
  }

  test("bucket pruning (inverted anti-join) is a no-op on healthy buckets, drops over-full ones") {
    // pruneFullBuckets broadcasts the OVER-full bucket list (tiny) and
    // left_anti joins — behavior must be identical to the keep-list form:
    // (a) healthy corpus: pruning enabled vs effectively-disabled produce the
    //     exact same candidate pairs;
    // (b) pathological corpus (300 identical docs, bucket size 300 > max):
    //     every bucket for the clones is over-full, so no pairs survive.
    val pruned = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.0,
        maxBucketSize = 256)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val unpruned = Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.0,
        maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pruned == unpruned, "pruning changed output on a corpus with no over-full buckets")

    val s = spark
    import s.implicits._
    val clones = (0 until 300).map(i =>
      (i.toLong, "identical content repeated across every single clone document")).toDF("doc_id", "text")
    val survivors = Dedup.nearDuplicatePairs(clones, "doc_id", "text", threshold = 0.0,
      maxBucketSize = 100).count()
    assert(survivors == 0L, s"over-full buckets not pruned: $survivors pairs emitted")
    graft.Materializer.library.close()
  }

  test("simhash128 on a shuffled small-vocab corpus: all 50 planted pairs, bounded FPs") {
    // The round-1 weakness: with a tiny vocabulary every document contains
    // most of the vocabulary, so DISTINCT-token sketches collapse together.
    // This fixture is that stress case — 500 docs of 120 tokens drawn from a
    // 40-word vocab with per-doc deterministic shuffling, 50 planted
    // near-dups (one appended token). tf-weighted 128-bit sketches must
    // recover every planted pair and stay precise.
    val s = spark
    import s.implicits._
    val vocab = (0 until 40).map(i => s"w$i")
    def docText(d: Int): String = {
      val rnd = new scala.util.Random(d)
      Seq.fill(120)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val base = (0 until 500).map(d => (d.toLong, docText(d)))
    val planted = (0 until 500 by 10).map(d => (d + 1000000L, docText(d) + " extraword"))
    val corpus = (base ++ planted).toDF("doc_id", "text")

    val pairs = Dedup.simhashVerifiedPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    val plantedFound = pairs.count(p => p._2 == p._1 + 1000000L)
    val falsePositives = pairs.length - plantedFound
    assert(plantedFound == 50, s"found $plantedFound of 50 planted pairs")
    assert(falsePositives <= 5, s"$falsePositives false positives: " +
      pairs.filterNot(p => p._2 == p._1 + 1000000L).take(10).mkString(", "))
  }

  test("incremental near-dup: batch vs corpus cross pairs only, index path identical") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark shuffle partitions and broadcast joins here"),
      (3L, "another unrelated document discussing minhash signatures and locality sensitive hashing")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      // near-dup of corpus doc 1
      (101L, "the quick brown fox jumps over the lazy dog near the river bank today extra"),
      // exact copy of ANOTHER incoming doc's target — still only cross pairs count
      (102L, "the quick brown fox jumps over the lazy dog near the river bank today extra"),
      // genuinely new
      (103L, "fresh material on columnar storage formats and predicate pushdown strategies")
    ).toDF("doc_id", "text")

    val got = Dedup.incrementalNearDupPairs(corpus, incoming, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cross pairs only: both near-dup incoming docs pair with corpus doc 1;
    // the 101-102 intra-batch pair is deliberately NOT emitted
    assert(got == Set((101L, 1L), (102L, 1L)))

    // precomputed index path (the production flow) is pair-identical
    val idx = Dedup.bandIndex(corpus, "doc_id", "text")
    val viaIndex = Dedup.incrementalNearDupPairs(corpus, incoming, "doc_id", "text",
        threshold = 0.5, corpusBands = Some(idx))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == got)
    graft.Materializer.library.close()
  }

  test("incremental near-dup: corpus ids present in the batch are re-delivered state") {
    // The replay guard's operator-level contract (see scaladoc): a
    // corpus-side id that is ALSO in the incoming batch is excluded from
    // candidates entirely. This covers the crashed-replay case (the batch's
    // own bands showing through the index) AND the deliberate trade-off for
    // a genuinely re-delivered document: if id 11 already lives in the
    // corpus and arrives again in a batch alongside a new near-dup 12, the
    // (12, 11) pair is NOT emitted — with 11 in the current batch it is an
    // intra-batch relationship, nearDuplicatePairs' job, and emitting it on
    // some runs but not replays would make the stream non-deterministic.
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (20L, "totally different words about parquet row groups and dictionary encoding")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"), // re-delivery
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"), // ≈ 11
      (13L, "fresh unrelated content on bloom filters and zone maps for data skipping")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDupPairs(corpus, incoming, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set.empty[(Long, Long)],
      "corpus ids in the batch must produce no pairs (re-delivered state)")
    graft.Materializer.library.close()
  }

  test("a precomputed sketch built with a DIFFERENT numHashes fails fast " +
      "in every consuming entry point") {
    // Without the guard this is a silent wrong-AND-incomplete result, not
    // an error: slicing a 32-slot signature as 64 makes half the band keys
    // constant-empty, so every document collides and the skew guard then
    // drops the exploded buckets. sketchFrame stamps numHashes in the sig
    // column metadata; the entry points require a match.
    val sk32 = Dedup.sketchFrame(docs, "doc_id", "text", numHashes = 32)
    for (bad <- Seq(
        () => Dedup.nearDuplicatePairs(docs, "doc_id", "text",
          numHashes = 64, precomputedSketch = Some(sk32)),
        () => Dedup.bandIndex(docs, "doc_id", "text",
          numHashes = 64, precomputedSketch = Some(sk32)),
        () => Dedup.incrementalNearDupPairs(docs, docs, "doc_id", "text",
          numHashes = 64, precomputedSketch = Some(sk32)))) {
      val e = intercept[IllegalArgumentException](bad())
      assert(e.getMessage.contains("numHashes"))
    }
    // matching numHashes passes the guard and produces the usual pairs
    assert(Dedup.nearDuplicatePairs(docs, "doc_id", "text", threshold = 0.7,
        numHashes = 32, precomputedSketch = Some(sk32))
      .collect().nonEmpty)
    graft.Materializer.library.close()
  }

  test("incremental near-dup prunes degenerate corpus buckets (skew guard)") {
    val s = spark
    import s.implicits._
    val text = "the very same boilerplate text repeated across every document"
    val corpus = (1 to 300).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val incoming = Seq((1000L, text)).toDF("doc_id", "text")
    // all 300 corpus docs share every band bucket -> every bucket is
    // over-full at the default 256 -> pruned (low-information bands), so
    // the batch finds no candidates instead of a 300-wide straggler join
    assert(Dedup.incrementalNearDupPairs(
      corpus, incoming, "doc_id", "text").count() === 0)
    // raising the cap restores every pair (jaccard 1.0 vs all 300)
    assert(Dedup.incrementalNearDupPairs(
      corpus, incoming, "doc_id", "text", maxBucketSize = 1000)
      .count() === 300)
    graft.Materializer.library.close()
  }

  test("boundary-pair fixture: the exact-0.7 pair COLLIDES and is kept; 7/11 is rejected") {
    val s = spark
    import s.implicits._
    // The dedup_minhash_verified oracle includes the qa pair unconditionally
    // (exact all-pairs join); the Spark side only emits it if the banded
    // candidate generation collides — deterministic for the committed
    // tokens under (32, 8), but p ≈ 0.89 under a RETUNED config. This test
    // makes a collision-breaking retune fail HERE with a targeted message
    // instead of flipping the oracle row with a misleading recall diff.
    val docs = graft.coverage.LlmOpQueries.BoundaryPairDocs.toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        threshold = 0.7, numHashes = 32, bands = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((2000001L, 2000002L)),
      "the exact-0.7 qa pair no longer collides in any LSH band under the " +
        "current (numHashes, bands) config — tweak the BoundaryPairDocs " +
        s"tokens until it does (emitted pairs: ${pairs.mkString(", ")})")
    assert(!pairs.exists(p => p == ((2000003L, 2000004L))),
      "the 7/11 qb pair (below threshold) must never be emitted")
    // and the comparator includes exactly-at-threshold: jaccard == 0.7
    val j = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
        threshold = 0.7, numHashes = 32, bands = 8)
      .filter(col("id_a") === 2000001L).select("jaccard").head().getDouble(0)
    assert(j == 0.7, s"expected the exact small-ratio double 7/10, got $j")
  }

  test("withScopedSketches releases only its own frames; the global queue is untouched") {
    val s = spark
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    // r12 review: a foreachBatch that drained the session-global queue
    // unpersisted a CONCURRENT query's in-flight frames mid-batch. A batch
    // now stages on its own handle: closing it releases its frames only,
    // never the library handle's.
    val outer = graft.Materializer.library.stage(Seq(1, 2).toDF("x"))
    outer.count()
    var inner: org.apache.spark.sql.DataFrame = null
    Using.resource(new graft.Materializer) { m =>
      inner = m.stage(Seq(3, 4).toDF("y"))
      inner.count()
      assert(inner.storageLevel != StorageLevel.NONE)
      assert(outer.storageLevel != StorageLevel.NONE)
    }
    // closing the batch's handle released the inner frame, not the library's
    assert(inner.storageLevel == StorageLevel.NONE)
    assert(outer.storageLevel != StorageLevel.NONE)
    graft.Materializer.library.close()
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("a thread spawned inside withScopedSketches follows the scope") {
    val s = spark
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    // r13 review: off-thread work forked inside a micro-batch body must be
    // released with the batch. A thread the batch spawns stages through the
    // batch's handle, so the handle's close releases it and nothing reaches
    // the library handle.
    graft.Materializer.library.close()
    var child: org.apache.spark.sql.DataFrame = null
    Using.resource(new graft.Materializer) { m =>
      val t = new Thread(() => {
        child = m.stage(Seq(5, 6).toDF("z"))
        child.count()
      })
      t.start(); t.join()
      assert(child.storageLevel != StorageLevel.NONE)
    }
    assert(child.storageLevel == StorageLevel.NONE)
    assert(graft.Materializer.library.staged.isEmpty)
  }

  test("a straggler registration after scope exit diverts to the global queue") {
    val s = spark
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    // a thread that stages through a batch's handle only after the handle
    // closed: the handle stays usable, so the frame is tracked (not lost)
    // and the next close releases it
    val m = new graft.Materializer
    val handleClosed = new java.util.concurrent.CountDownLatch(1)
    @volatile var late: org.apache.spark.sql.DataFrame = null
    val straggler = new Thread(() => {
      handleClosed.await()
      late = m.stage(Seq(9).toDF("w"))
      late.count()
    })
    straggler.start()
    m.close()
    handleClosed.countDown()
    straggler.join(60000)
    assert(late != null && late.storageLevel != StorageLevel.NONE,
      "straggler frame must stay cached until the next close")
    assert(m.staged == Seq(late))
    m.close()
    assert(late.storageLevel == StorageLevel.NONE)
    assert(m.staged.isEmpty)
  }
}

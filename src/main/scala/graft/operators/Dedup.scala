package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materializer.library

/**
 * Deduplication operators for training-data pipelines, each designed around
 * its 100 TB shuffle shape:
 *
 *  - exact:      one hash-shuffle on a 16-byte fingerprint (not the payload);
 *  - MinHash:    per-row signature (narrow) → band explosion (k small rows)
 *                → shuffle on (band, band_hash) buckets only — candidate
 *                pairs never require an all-pairs join;
 *  - SimHash:    per-row 64-bit sketch (narrow) → shuffle on 16-bit chunk
 *                buckets (4 rows/doc) → Hamming verify inside buckets;
 *  - n-gram Jaccard: exact verification measure, evaluated only on LSH
 *                candidates (never all pairs).
 *
 * All pure Column expressions — codegen'd, no UDFs, no driver loops.
 */
object Dedup {

  import graft.text.TextAnalysis.tokens

  // Frames that feed two or more consumers (sketches, gram streams, the
  // components edge list) are staged on the operator library's handle, so a
  // long-lived session releases their executor storage when it closes the
  // handle — at 100 TB a leaked sketch cache pins real memory. A caller that
  // owns its frames (a streaming micro-batch) stages the shared sketch on its
  // own handle and passes it in as `precomputedSketch`.

  /** Stable 128-bit content fingerprint (hash the fingerprint, shuffle 16
    * bytes instead of multi-KB documents). */
  def contentFingerprint(text: Column): Column = md5(text)

  /**
   * Engine-PORTABLE 60-bit hash: the value of the first 15 hex chars of the
   * md5 digest (non-negative, < 2^60 so it fits signed 64-bit in any
   * engine). xxhash64 stays the production default for the sketch paths —
   * it is ~5× cheaper — but xxhash64 band values exist only inside Spark,
   * which capped the full-corpus LSH driver rows at rows-only checks
   * (round-4 verdict #1): with md5-derived hashes the DuckDB oracle replays
   * the ENTIRE banded pipeline (slots, densification, band keys, bucket
   * pruning, candidate join) with string/digit arithmetic, certifying the
   * count rows end-to-end.
   */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /**
   * Exact duplicate clusters: fingerprint → groupBy → clusters with count>1.
   * The groupBy shuffles only (fp, id) pairs; map-side partial agg collapses
   * per-partition duplicates first.
   */
  def exactDuplicateClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(contentFingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(idCol).as("keeper_id"))
      .filter(col("n_copies") > 1)

  /**
   * Exact dedup: keep the lowest-id row per fingerprint, as a
   * `min(struct(id, row))` partial+final AGGREGATE — deliberately NOT a
   * window. A window partitioned by fingerprint sends every copy of a
   * mega-duplicate (one fingerprint = 20% of the corpus is a real shape:
   * empty pages, placeholder boilerplate) to a single task; the aggregate
   * collapses copies map-side, so the shuffle carries one candidate row
   * per (partition, fingerprint) and the hot key costs O(#partitions),
   * not O(#copies) — the same skew-resistance design as [[LineDedup]]
   * (`DedupSkewSpec` pins the plan shape and the planted-skew behavior).
   * Keeps the full row; `idCol` leads the struct, so comparison is by id
   * alone for unique ids (ties break on the remaining columns,
   * deterministically).
   */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val others = df.columns.filter(_ != idCol)
    df.select(contentFingerprint(col(textCol)).as("__fp"),
        struct(col(idCol) +: others.map(col): _*).as("__row"))
      .groupBy("__fp")
      .agg(min(col("__row")).as("__row"))
      .select(df.columns.map(c => col(s"__row.$c").as(c)): _*)
  }

  /**
   * Exact-substring duplicate spans (the Lee-et-al-style "dedup repeated
   * n-grams across documents" family, simplified to fixed-width spans):
   * per document, how many of its distinct n-token grams also occur in at
   * least one OTHER document. Catches boilerplate/licence blocks and
   * cross-document template reuse that whole-document near-dup misses.
   *
   * Scale shape: one explode to per-doc DISTINCT grams, one groupBy on the
   * gram computing both the global occurrence count and (via min/max doc)
   * whether it crosses documents, then a semi-style re-join keyed on the
   * gram both sides already hash on, and the per-doc re-aggregate. With
   * `hashGrams` (the 100 TB default) the shuffles carry xxhash64 longs,
   * not multi-word strings — an order of magnitude less shuffle volume;
   * `hashGrams = false` keeps raw grams so an external engine can replay
   * the query exactly (the driver's oracle does — and a spec pins
   * hashed ≡ unhashed on the testdata corpus).
   *
   * SHORT-DOC semantics (deliberate, r11-review-adjudicated): a document
   * with fewer than `n` tokens contributes its WHOLE text as one truncated
   * gram ([[shinglesOfTokens]]' fallback, which the oracle replays
   * identically) rather than zero grams — so two copies of a short
   * boilerplate doc still report each other (dup_frac 1.0; they ARE 100%
   * duplicated content) instead of silently vanishing from the census.
   * Read `n_grams` as "distinct grams at up-to-n-token resolution", not
   * "n-token grams". [[exciseDuplicateSpans]] chooses the OTHER convention
   * (short docs emit nothing) because excision needs exact n-token
   * positional resolution; a report can be inclusive, a cut cannot.
   *
   * Returns (idCol, n_grams, n_dup_grams, dup_frac).
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, hashGrams: Boolean = true): DataFrame = {
    val gramsRaw = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(shinglesOfTokens(col("__toks"), n)).as("__g"))
    // The gram stream feeds TWO consumers (the cross-doc census and the
    // per-doc re-join), and nothing upstream is materialized — without
    // staging, the whole tokenize → shingle → explode → hash pipeline
    // re-executes per consumer, i.e. the corpus is scanned and re-tokenized
    // twice per run (r14 measurement: ~30% of the query). Same staged
    // CTE idiom as [[exciseDuplicateSpans]]'s toks frame; in
    // hashGrams mode the cached rows are (id, long) — far narrower than the
    // documents they derive from.
    val grams = library.stage(gramsRaw.select(col(idCol),
      (if (hashGrams) xxhash64(col("__g")) else col("__g")).as("gram")))
    // a gram is a cross-document duplicate iff it occurs under ≥2 distinct
    // ids; grams are per-doc distinct, so plain count == distinct-doc count
    val dupGrams = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= 2)
      .select(col("gram"), lit(1).as("__dup"))
    grams.join(dupGrams, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__dup"), lit(0))).as("n_dup_grams"))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / col("n_grams"))
  }

  /**
   * Maximal duplicate-span EXCISION — the actual Lee-et-al ExactSubstr
   * deliverable that [[duplicateSpans]]' gram census only reports on: per
   * document, the merged maximal token ranges whose content occurs elsewhere
   * in the corpus, and the document text with those ranges removed.
   *
   * Semantics (suffix-array-free distributed formulation): a POSITIONAL
   * n-token gram (doc, start) is duplicated iff its content occurs ≥ 2 times
   * in the corpus (across documents OR repeated within one). Any duplicated
   * substring of ≥ n tokens contains only duplicated n-grams, so the union
   * of duplicated-gram spans [start, start+n) — merged where they overlap or
   * abut — recovers the maximal duplicated regions at n-token resolution
   * (the classic gram relaxation of the suffix-array scan; boundaries are
   * exact to within n−1 tokens). KEEP-FIRST: the globally first occurrence
   * of each gram content (min (doc, start)) is exempt, so exactly one copy
   * of every duplicated region survives — the first document keeps its
   * boilerplate, later ones lose it, and a region repeated within one
   * document keeps only its first instance.
   *
   * Scale shape: one positional-gram explode (narrow), one groupBy on the
   * gram key (THE shuffle — with `hashGrams` it carries 8-byte xxhash64
   * keys, the 100 TB mode; raw-string mode exists so external engines can
   * replay byte-for-byte), a first-occurrence re-join on the same key both
   * sides already hash on, then a per-document collect of marked starts
   * (bounded by document length) merged into intervals by a single
   * `aggregate` scan — no window over the corpus, no driver loop. Excision
   * itself is a narrow per-row token filter against the (few) merged spans.
   *
   * Returns (idCol, n_tokens, n_spans, spans "s:e,…" token-index ranges,
   * n_tokens_removed, text_deduped) — scalar columns, oracle-hashable.
   */
  def exciseDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 8, hashGrams: Boolean = true): DataFrame = {
    val toks = library.stage(
      df.select(col(idCol), tokens(col(textCol)).as("__toks")))
    // positional grams: (id, start, content-key); docs shorter than n emit
    // none (sequence() would count DOWN on a negative span — guard it out)
    val posGrams = toks
      .select(col(idCol), posexplode(
        graft.expressions.SketchExpressions.ngrams_of_tokens(
          col("__toks"), n, emitShortDoc = false)))
      .withColumnRenamed("pos", "__gpos")
      .withColumn("__gram",
        if (hashGrams) xxhash64(col("col")) else col("col"))
      .drop("col")
    // duplicated gram contents and their global first occurrence
    val firsts = posGrams.groupBy("__gram")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("__gpos"))).as("__first"))
      .filter(col("__cnt") >= 2)
      .select(col("__gram"), col("__first"))
    // non-first occurrences of duplicated grams = excision start marks
    val marked = posGrams.join(firsts, Seq("__gram"))
      .filter(!(col(idCol) === col("__first")(idCol) &&
        col("__gpos") === col("__first.__gpos")))
      .select(col(idCol), col("__gpos"))
    // per-doc interval merge: sorted starts → one aggregate() scan; spans
    // [p, p+n) merge when the next start overlaps OR abuts (p <= last end)
    val emptySpans = array().cast("array<struct<s:int,e:int>>")
    val spans = marked.groupBy(idCol)
      .agg(sort_array(collect_list(col("__gpos"))).as("__starts"))
      .select(col(idCol), aggregate(col("__starts"), emptySpans,
        (acc, p) => {
          val last = element_at(acc, -1)
          when(size(acc) > 0 && p <= last.getField("e"),
            concat(slice(acc, lit(1), size(acc) - 1), array(struct(
              last.getField("s").as("s"),
              greatest(last.getField("e"), p + n).as("e")))))
          .otherwise(concat(acc, array(struct(
            p.as("s"), (p + n).as("e")))))
        }).as("__spans"))
    val keptToks = filter(col("__toks"), (_, i) =>
      !exists(col("__spans"), sp =>
        i >= sp.getField("s") && i < sp.getField("e")))
    toks.join(spans, Seq(idCol), "left")
      .withColumn("__spans", coalesce(col("__spans"), emptySpans))
      .select(col(idCol),
        size(col("__toks")).as("n_tokens"),
        size(col("__spans")).as("n_spans"),
        concat_ws(",", transform(col("__spans"), sp =>
          concat_ws(":", sp.getField("s"), sp.getField("e")))).as("spans"),
        (size(col("__toks")) - size(keptToks)).as("n_tokens_removed"),
        concat_ws(" ", keptToks).as("text_deduped"))
  }

  /**
   * 3-token shingles from a PRECOMPUTED token-array column.
   *
   * The tokens column must be a materialized attribute (its own projection),
   * never an inline `split(...)` expression: higher-order functions evaluate
   * interpreted, so an inline subtree would re-split the full text once per
   * shingle index — O(len²) per document (observed as a single task pinning
   * a core for minutes at sf0.1). Callers stage with
   * `df.select(..., tokens(text).as("toks"))` first; `CollapseProject`
   * keeps multi-referenced non-cheap aliases staged.
   */
  def shinglesOfTokens(toks: Column, k: Int = 3): Column =
    graft.expressions.SketchExpressions.shingles_of_tokens(toks, k)

  /** The declarative formulation [[shinglesOfTokens]] replaced in r14 —
    * kept as the equivalence oracle for ShinglesExprSpec: the one-pass
    * expression must stay bit-identical to this chain (which the DuckDB
    * oracles replay in SQL). The HOF chain pays an interpreted lambda +
    * slice allocation + generic concat_ws per shingle plus an
    * array_distinct re-walk — measured as the leading cost of every sketch
    * query (isolated stagewise min-of-5, r14). */
  private[graft] def shinglesOfTokensHof(toks: Column, k: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** Convenience for tiny frames / tests. Prefer the staged path for scale. */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesOfTokens(tokens(text), k)

  /**
   * One-permutation MinHash signature over a precomputed shingle array:
   * shingles are hashed once, bucketed into `numHashes` slots, slot minima
   * form the signature (rotation-densified). Single pass per row via the
   * custom Catalyst expression [[graft.expressions.MinHashSignatureExpr]] —
   * numHashes× cheaper than evaluating k independent hash functions.
   */
  def minhashSignatureOfShingles(sh: Column, numHashes: Int = 64): Column =
    graft.expressions.SketchExpressions.minhash_signature(
      graft.expressions.SketchExpressions.xxhash64_array(sh), numHashes)

  /** MinHash signature from raw text (convenience; one shingle pass). */
  def minhashSignature(text: Column, numHashes: Int = 64): Column =
    minhashSignatureOfShingles(shingles(text), numHashes)

  /**
   * MinHash LSH candidate pairs: band the signature (bands × rowsPerBand =
   * numHashes), bucket-join on (band_index, band_hash), emit each unordered
   * id pair once. Shuffle volume: numBands small rows per document — the
   * scale path; an all-pairs join never materializes.
   *
   * Returns (id_a, id_b, est_jaccard) where est_jaccard is the signature
   * agreement fraction, computed on the collided pair only.
   */
  /** (id, band, band_hash) rows from a signature frame — `bands` small rows
    * per document, the only thing LSH joins ever shuffle. In `portable`
    * mode the band key is the raw comma-joined slot values (a string an
    * external engine reproduces exactly from its own replayed signature);
    * the default hashes it to 8 bytes with xxhash64 for shuffle volume. */
  private def bandRows(sig: DataFrame, numHashes: Int, bands: Int,
                       portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // Band-key strings via one imperative pass (r14) — the transform +
    // slice + concat_ws chain re-rendered every slot per band per
    // reference, and this stream is consumed three times per execution
    // (bucket census + self-join a/b). Key values are identical
    // (ShinglesExprSpec pin); in default mode the xxhash64 moves AFTER the
    // posexplode, hashing the same (key-string, band-index) pair.
    val exploded = sig.select(col("id"),
      posexplode(graft.expressions.SketchExpressions.minhash_band_keys(
        col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band")
    if (portable) exploded.withColumnRenamed("col", "band_hash")
    else exploded.select(col("id"), col("band"),
      xxhash64(col("col"), col("band")).as("band_hash"))
  }

  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 256): DataFrame = {
    // The sketch projection feeds two consumers (bucket stats + the pair
    // join) — persist it once; the banded stream itself carries only
    // (id, band, band_hash), never the 64-long signature. The shingle
    // array is pruned BEFORE the persist (this entry point verifies by
    // signature agreement, not exact Jaccard), so the cache holds
    // (id, sig) only — never the wide shingle arrays.
    val sig = library.stage(
      sketchFrame(df, idCol, textCol, numHashes).select(col("id"), col("sig")))

    // NOT staged (r14 A/B): the band stream is referenced three times per
    // execution (bucket census + self-join a/b), but each reference is a
    // cheap posexplode over the CACHED sig frame — staging it showed no
    // gain (same-window probes within noise) while adding a cache write
    // that serializes ahead of consumers that otherwise pipeline, plus a
    // tracked frame every bench reset re-persists.
    val banded = pruneFullBuckets(bandRows(sig, numHashes, bands),
      Seq("band", "band_hash"), maxBucketSize)

    val candidates = bucketSelfPairs(banded, Seq("band", "band_hash"))

    val sigOnly = sig.select(col("id"), col("sig"))
    candidates
      .join(sigOnly.withColumnsRenamed(Map("id" -> "id_a", "sig" -> "sig_a")), Seq("id_a"))
      .join(sigOnly.withColumnsRenamed(Map("id" -> "id_b", "sig" -> "sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        sigAgreement(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
  }

  /**
   * Skew guard for LSH bucket self-joins: drop buckets larger than
   * `maxBucketSize`. Over-full buckets are low-information bands (everything
   * collides) and quadratic in cost; skipping them is the standard
   * production trade — bounded work per bucket, recall loss only where the
   * band carried no signal anyway.
   *
   * The broadcast list is the OVER-full buckets only — O(pathological
   * buckets), a handful of rows even on a degenerate corpus — never the
   * keep-side list, which is O(documents × bands) and would be a
   * driver/executor OOM by construction at 100 TB. The banded stream is
   * `left_anti`-joined against that tiny blocklist, so the common case
   * (no pathological buckets) broadcasts an empty frame and keeps
   * everything.
   */
  private def pruneFullBuckets(banded: DataFrame, keys: Seq[String],
                               maxBucketSize: Int): DataFrame = {
    val overFull = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") > maxBucketSize)
      .drop("__bucket_n")
    banded.join(broadcast(overFull), keys, "left_anti")
  }

  /** Bucketed candidate self-join — the ONE construction of the LSH pair
    * emission every sketch family shares (r11 review; the sketchFrame
    * precedent): join the bucket stream to itself on `keys`, emit each
    * unordered id pair once (`a.id < b.id`, distinct), with optional extra
    * pair columns (computed from the `a`/`b` aliases, e.g. a Hamming
    * distance) riding through the distinct. */
  private def bucketSelfPairs(stream: DataFrame, keys: Seq[String],
                              extra: Seq[(String, Column)] = Seq.empty): DataFrame = {
    val cond = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
      col("a.id") < col("b.id")
    stream.as("a").join(stream.as("b"), cond)
      .select(Seq(col("a.id").as("id_a"), col("b.id").as("id_b")) ++
        extra.map { case (n, c) => c.as(n) }: _*)
      .distinct()
  }

  /** Signature agreement fraction between two minhash signature arrays. */
  private def sigAgreement(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes

  /**
   * n-gram Jaccard similarity between two shingle-set columns:
   * |A ∩ B| / |A ∪ B|.
   */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
                 size(array_union(a, b)))

  /**
   * The shared (id, sh, sig) MinHash sketch frame of a corpus or batch —
   * tokenize → shingle → one-permutation signature, the per-row narrow pass
   * every LSH entry point starts from. Computing it ONCE and threading it
   * through [[nearDuplicatePairs]] / [[incrementalNearDupPairs]] /
   * [[bandIndex]] (their `precomputedSketch` parameters) is how a caller
   * that feeds the same documents to several of them — the per-batch hot
   * loop of [[graft.streaming.StreamingDedup]] — pays the sketch exactly
   * once instead of once per entry point. Callers stage it themselves
   * ([[graft.Materializer.stage]]) since it feeds multiple consumers.
   *
   * `hashShingles` maps the shingle ARRAY to its 64-bit hash array —
   * per-element xxhash64 by default,
   * [[graft.expressions.PortableHash60ArrayExpr]] (value-identical to
   * per-element [[portableHash60]]) for the oracle-replayable md5
   * variants. This is the ONLY construction of the tokenize→shingle→minhash
   * chain; every entry point (including the portable ones) goes through it
   * so a staging change can never silently diverge the replayed sketch
   * from the default one. The `precomputedSketch` contracts remain
   * default-hash only.
   */
  def sketchFrame(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 64,
                  hashShingles: Column => Column =
                    graft.expressions.SketchExpressions.xxhash64_array): DataFrame =
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), shinglesOfTokens(col("toks")).as("sh"))
      .select(col("id"), col("sh"),
        graft.expressions.SketchExpressions.minhash_signature(
          hashShingles(col("sh")), numHashes).as("sig",
          // stamped so the consuming entry points can fail fast on a
          // numHashes mismatch: slicing a 32-slot signature as 64 would
          // make half the band keys constant-empty — every document
          // colliding, then silently dropped by the bucket skew guard
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(sketchNumHashesKey, numHashes.toLong).build()))

  private val sketchNumHashesKey = "graft.sketch.numHashes"

  /** Fail fast when a precomputed sketch was built with a different
    * numHashes than the consuming call (see [[sketchFrame]]'s metadata
    * stamp) — the mismatch is otherwise a silent wrong-AND-incomplete
    * result, not an error. Unstamped frames pass (caller's contract). */
  private def requireSketchHashes(sk: DataFrame, numHashes: Int): DataFrame = {
    val md = sk.schema("sig").metadata
    require(!md.contains(sketchNumHashesKey) ||
        md.getLong(sketchNumHashesKey) == numHashes.toLong,
      s"precomputedSketch was built with numHashes=" +
        s"${md.getLong(sketchNumHashesKey)} but this call uses " +
        s"numHashes=$numHashes — band slicing would silently produce " +
        "constant band hashes (wrong and incomplete output)")
    sk
  }

  /**
   * Near-duplicate pairs: MinHash-LSH candidates verified with exact n-gram
   * Jaccard over the shingle sets, thresholded. The verify join re-attaches
   * shingles only for candidate ids (semi-joined), so the wide arrays travel
   * for candidates only.
   *
   * `precomputedSketch`: a [[sketchFrame]] of `df` the caller already
   * computed (and persisted) — `df` is then not read at all. Only valid with
   * the default hashing (`portableHashing = false`), whose shingle hash the
   * shared frame uses.
   */
  def nearDuplicatePairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 256,
      portableHashing: Boolean = false,
      precomputedSketch: Option[DataFrame] = None): DataFrame = {
    require(precomputedSketch.isEmpty || !portableHashing,
      "precomputedSketch carries xxhash64 signatures; portableHashing builds md5 ones")
    val sig = precomputedSketch.map(requireSketchHashes(_, numHashes))
      .getOrElse(library.stage(
        if (portableHashing)
          // array-level portable hasher (r14): one pass, no per-element
          // lambda walk or hex/radix string round-trip — value-identical to
          // transform(_, portableHash60) (ShinglesExprSpec pin)
          sketchFrame(df, idCol, textCol, numHashes,
            graft.expressions.SketchExpressions.portable_hash60_array)
        else sketchFrame(df, idCol, textCol, numHashes)))

    // not staged — same A/B as minhashCandidatePairs: recompute from the
    // cached sig frame beats a serializing cache write
    val banded = pruneFullBuckets(
      bandRows(sig, numHashes, bands, portableHashing),
      Seq("band", "band_hash"), maxBucketSize)

    val candidates = bucketSelfPairs(banded, Seq("band", "band_hash"))

    val shOnly = sig.select(col("id"), col("sh"))
    candidates
      .join(shOnly.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(shOnly.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * The persisted MinHash band index of a corpus: (id, band, band_hash) —
   * the artifact incremental dedup joins new batches against. Build once,
   * store as a table (bucketed by (band, band_hash) at scale, see
   * [[graft.layout.TableLayout]]), append each accepted batch's rows;
   * the corpus is never re-sketched per batch.
   */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                numHashes: Int = 64, bands: Int = 16,
                precomputedSketch: Option[DataFrame] = None): DataFrame =
    bandRows(
      precomputedSketch.map(requireSketchHashes(_, numHashes))
        .getOrElse(sketchFrame(df, idCol, textCol, numHashes))
        .select(col("id"), col("sig")),
      numHashes, bands)

  /**
   * Incremental near-dup: a NEW batch of documents against an EXISTING
   * corpus — the nightly production flow, where re-running all-corpus
   * self-dedup per batch would re-pay the whole corpus's sketch+join cost
   * for a 0.1% increment. Emits (new_id, corpus_id, jaccard ≥ threshold)
   * cross pairs only; intra-batch duplicates are [[nearDuplicatePairs]] on
   * the (small) batch.
   *
   * Scale shape: the batch is sketched and banded (small); the corpus side
   * contributes its PRECOMPUTED band index (`corpusBands`, default built
   * here for convenience) — a bucketed index table makes the candidate join
   * shuffle-free on the corpus side. Verification re-derives shingles ONLY
   * for corpus documents that actually collided (left_semi on candidate
   * ids), so corpus text is touched proportionally to match volume, never
   * scanned per batch.
   *
   * Corpus-side ids that appear in the incoming batch are excluded
   * entirely (id-equal AND id-unequal): under the at-least-once streaming
   * contract ([[graft.streaming.StreamingDedup]]) a crashed-then-replayed
   * batch re-probes an index that already holds its own band rows. Without
   * the guard, every replayed document reports itself as a jaccard-1.0
   * "duplicate" (id-equal), and — one level deeper — two near-identical
   * documents WITHIN the replayed batch report each other as
   * batch-vs-corpus pairs (id-unequal, verified against the crashed
   * attempt's corpus-text append): rows a clean run never produces, that
   * no (new_id, corpus_id) dropDuplicates repair can remove, and that make
   * a downstream keep-list delete BOTH copies of the content. A corpus-side
   * id in the current batch is by definition re-delivered state, never a
   * batch-vs-corpus near-duplicate; intra-batch pairs remain
   * [[nearDuplicatePairs]]' job on the batch, replayed or not.
   */
  def incrementalNearDupPairs(
      corpus: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 256,
      corpusBands: Option[DataFrame] = None,
      precomputedSketch: Option[DataFrame] = None): DataFrame = {
    // `precomputedSketch`: a [[sketchFrame]] of `incoming` the caller already
    // computed and persisted — the batch is then sketched zero times here.
    val inc = precomputedSketch.map(requireSketchHashes(_, numHashes))
      .getOrElse(library.stage(sketchFrame(incoming, idCol, textCol, numHashes)))
    val incBands = bandRows(inc.select("id", "sig"), numHashes, bands)
    // Skew guard on the CORPUS side (r11 review — this entry point was the
    // only LSH path without one): an over-full corpus bucket is a
    // low-information band whose |bucket| candidate rows PER colliding batch
    // document would turn every micro-batch into a straggler join. Same
    // threshold semantics as [[nearDuplicatePairs]]; the batch side is
    // micro-batch-sized and needs no guard. Interaction note (mirrors
    // [[graft.streaming.StreamingDedup]]'s intra prune): an edge a pruned
    // bucket would have carried is only found if the pair collides in some
    // other, healthy band — true recall loss only where every shared band
    // was degenerate.
    // The convenience-built index is staged (r14): pruneFullBuckets
    // references its input twice (census + probe side), and the inline
    // bandIndex carries the WHOLE corpus sketch — unstaged, the corpus was
    // re-sketched once per reference. A caller-supplied corpusBands is a
    // table/persisted frame already and is left untouched.
    val corpusIdx = pruneFullBuckets(
      corpusBands.getOrElse(library.stage(
        bandIndex(corpus, idCol, textCol, numHashes, bands))),
      Seq("band", "band_hash"), maxBucketSize)

    val candidates = incBands.as("n")
      .join(corpusIdx.as("c"),
        col("n.band") === col("c.band") &&
        col("n.band_hash") === col("c.band_hash") &&
        col("n.id") =!= col("c.id"))   // re-delivery guard, cheap half
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
      // re-delivery guard, id-UNEQUAL half (see scaladoc): any corpus-side
      // id that is also in the incoming batch is this batch's own
      // crashed-attempt index rows showing through on replay — emitting
      // those pairs would let a replayed batch's intra-batch near-dups
      // masquerade as batch-vs-corpus pairs that a clean run never produces.
      // The batch id set is micro-batch-sized, so this anti-join broadcasts;
      // the id-inequality in the join condition above is subsumed by it but
      // kept to cut the (numerous) self-band collisions before the distinct.
      .join(inc.select(col("id").as("corpus_id")), Seq("corpus_id"), "left_anti")

    val touched = corpus
      .select(col(idCol).as("corpus_id"), col(textCol).as("__text"))
      .join(candidates.select("corpus_id"), Seq("corpus_id"), "left_semi")
      .select(col("corpus_id"), tokens(col("__text")).as("toks"))
      .select(col("corpus_id"), shinglesOfTokens(col("toks")).as("sh_c"))

    candidates
      .join(inc.select(col("id").as("new_id"), col("sh").as("sh_n")), Seq("new_id"))
      .join(touched, Seq("corpus_id"))
      .withColumn("jaccard", jaccard(col("sh_n"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
  }

  /**
   * Near-duplicate CLUSTERS: LSH pairs → connected components → every input
   * row labelled with its cluster id (the minimum doc id in its component;
   * documents in no near-dup pair are their own singleton cluster). This is
   * the production dedup deliverable the pair list only approximates:
   * near-dup is not transitive, so keep-one-per-pair over-deletes chains
   * (A≈B, B≈C, A̸≈C must keep exactly one of three, not one of each pair).
   * Downstream keep-list = `cluster_id === idCol`.
   *
   * Scale: the pair graph is tiny relative to the corpus (pairs only exist
   * where near-dups exist), and [[ConnectedComponents]] shuffles only
   * (long, long) labels; the final assignment is one left join from the
   * corpus ids onto the (small) label table.
   *
   * `unrolledRounds` = 0 (default) runs the convergence-detecting
   * [[ConnectedComponents.components]] — correct for any component
   * diameter, but it materializes eagerly, so repeated executions of the
   * returned frame re-read its checkpointed labels. A positive value uses
   * [[ConnectedComponents.componentsUnrolled]] instead: a pure lazy plan
   * (every execution recomputes everything — what benchmark passes must
   * measure) that is correct for component diameters ≤ rounds + 1; the pair
   * frame is persisted (and cache-reset-tracked) because the unrolled plan
   * tree references it once per round.
   */
  def nearDuplicateClusters(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 256,
      unrolledRounds: Int = 0): DataFrame =
    assignClusters(df.select(col(idCol)), df, idCol, textCol, threshold,
      numHashes, bands, maxBucketSize, unrolledRounds)
      .select(col(idCol), col("cluster_id"))

  /** Shared label-attach step: LSH pairs → components → `base` rows (which
    * must carry `idCol`, plus any rider columns — keep-best rides its score
    * here so the corpus is scanned once, not once for ids and once for
    * scores) left-joined to the (small) label table; unlabeled rows become
    * their own singleton cluster. */
  private def assignClusters(
      base: DataFrame,
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int, bands: Int,
      maxBucketSize: Int, unrolledRounds: Int): DataFrame = {
    val pairs = nearDuplicatePairs(df, idCol, textCol, threshold,
      numHashes, bands, maxBucketSize)
    val comp =
      if (unrolledRounds > 0)
        // stage = library.stage: the symmetrized edge list materializes
        // once per execution instead of once per round — see
        // componentsUnrolled's scaladoc. Same per-pass-reset honesty
        // contract as every sketch frame.
        ConnectedComponents.componentsUnrolled(library.stage(pairs),
          "id_a", "id_b", unrolledRounds, library.stage)
      else ConnectedComponents.components(pairs, "id_a", "id_b")
    base
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("label"), col(idCol)))
      .drop("label")
  }

  /**
   * Quality-aware keeper selection over clustered rows — the C4/RefinedWeb
   * policy: keep the BEST member of each near-dup cluster, not the lowest
   * id. Input: one row per document carrying its cluster label (e.g. from
   * [[nearDuplicateClusters]]) and a quality score (any
   * [[graft.text.TextAnalysis.qualityMetrics]] column, a model score, a
   * token count, …). Output: one row per cluster —
   * `(clusterCol, n_members, keeper_id, keeper_score)` — keeper = arg-max
   * by (score DESC, id ASC); the deterministic id tie-break keeps the
   * choice reproducible when scores tie (exact copies tie by construction).
   * Downstream keep-list = semi-join on `keeper_id`.
   *
   * Same skew-proof shape as [[exactDedup]]'s `min(struct(…))`: a
   * partial+final AGGREGATE — map-side combine shrinks every cluster to one
   * candidate per input partition before the exchange — never a
   * row_number() window, which would sort each whole cluster on one task
   * and let a pathological 10⁸-copy cluster pin a 100 TB job. The composite
   * max key `struct(score, -id, id)` encodes both orderings in ONE max
   * (score DESC via max, id ASC via the negated id; the negation is safe —
   * document ids are non-negative by the house fixture/loader contract,
   * and a loud require rejects non-numeric id columns, whose negation
   * would null-coerce and silently invert the tie-break to id DESC).
   * NULL scores lose to every non-null score under struct-max (Spark and
   * ANSI MAX agree: nulls sort lowest within a struct comparison), so an
   * all-null-score cluster degrades to the min-id keeper rather than
   * failing. NaN scores sort GREATEST in both Spark and DuckDB — callers
   * feeding model scores should sanitize NaN upstream if "NaN wins" is not
   * intended.
   */
  def keepBestPerCluster(clustered: DataFrame, idCol: String,
                         clusterCol: String, scoreCol: String): DataFrame = {
    // the composite-max key negates the id for the ASC tie-break; on a
    // non-numeric id the UnaryMinus null-coerces (or throws under ANSI) and
    // the tie-break silently inverts to id DESC — fail loudly instead (r14
    // review, same guard as dedupByUrl's keepBestBy mode).
    require(clustered.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestPerCluster: the (score DESC, id ASC) tie-break requires a " +
        s"numeric id column; $idCol is " +
        s"${clustered.schema(idCol).dataType.simpleString} — pre-map it to " +
        s"a numeric surrogate")
    clustered
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("ni"),
          col(idCol).as("i"))).as("__best"))
      .select(col(clusterCol), col("n_members"),
        col("__best.i").as("keeper_id"), col("__best.s").as("keeper_score"))
  }

  /**
   * [[nearDuplicateClusters]] + [[keepBestPerCluster]] fused: cluster the
   * corpus, score every member with `scoreOf(textCol)`, return the
   * per-cluster keep decision. The score rides the SAME corpus scan that
   * feeds the label join (r14 — the previous form scanned the corpus a
   * second time for scores and re-joined on the id); scores never shuffle
   * with the LSH band traffic either way.
   */
  def nearDuplicateKeepBest(
      df: DataFrame, idCol: String, textCol: String,
      scoreOf: Column => Column,
      threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 256,
      unrolledRounds: Int = 0): DataFrame = {
    val scored = assignClusters(
      df.select(col(idCol), scoreOf(col(textCol)).as("__kb_score")),
      df, idCol, textCol, threshold, numHashes, bands, maxBucketSize,
      unrolledRounds)
    keepBestPerCluster(scored, idCol, "cluster_id", "__kb_score")
  }

  /**
   * 64-bit SimHash: per-token xxhash64; bit b of the sketch is 1 when more
   * than half the tokens have bit b set. Pure expressions (bitwise ops over
   * an exploded bit sequence folded back with aggregate).
   */
  /** SimHash sketch from a precomputed token-hash array (one imperative pass,
    * [[graft.expressions.SimHash64Expr]]). */
  def simhashOfHashes(hashes: Column): Column =
    graft.expressions.SketchExpressions.simhash64(hashes)

  /** DISTINCT token hashes (set semantics) for [[simhashOfHashes]]. */
  def tokenHashes(text: Column): Column =
    graft.expressions.SketchExpressions.xxhash64_array(
      array_distinct(tokens(text)))

  /** Token hashes WITH repeats — term-frequency-weighted bit votes. On
    * small-vocab corpora the distinct-token sets of unrelated documents
    * nearly coincide (everything contains most of the vocabulary), so
    * set-semantics sketches collapse together; letting repeats vote encodes
    * the frequency profile, which still separates documents (round-1
    * verdict finding: SimHash precision weak on tiny vocabularies). */
  def tokenHashesTf(text: Column): Column =
    graft.expressions.SketchExpressions.xxhash64_array(tokens(text))

  def simhash(text: Column): Column = simhashOfHashes(tokenHashes(text))

  /** 128-bit tf-weighted SimHash (array of 2 longs) — the near-dup default. */
  def simhash128(text: Column): Column =
    graft.expressions.SketchExpressions.simhash128(tokenHashesTf(text))

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two 128-bit sketches (2-long arrays). */
  def hamming128(a: Column, b: Column): Column =
    bit_count(element_at(a, 1).bitwiseXOR(element_at(b, 1))) +
      bit_count(element_at(a, 2).bitwiseXOR(element_at(b, 2)))

  /**
   * SimHash near-duplicate pairs over the 128-bit tf-weighted sketch:
   * bucket by each of the eight 16-bit chunks — two sketches within Hamming
   * distance ≤ 7 of each other must agree on at least one chunk (pigeonhole
   * over 8 chunks), then verify exact Hamming inside buckets. Raising
   * `maxHamming` past 7 keeps working but the recall guarantee becomes
   * probabilistic (the flips must land in every chunk to hide a pair).
   *
   * vs round 1 (64-bit set-semantics sketch, 4 chunks, ≤3): the tf-weighted
   * votes separate small-vocabulary corpora whose distinct-token sets
   * coincide, and the doubled sketch halves chunk-value collision density —
   * measured bucket p99 dropped from guard-tripping to single digits on the
   * driver corpus. Shuffle: 8 small rows per document.
   */
  def simhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, maxBucketSize: Int = 256,
      portableHashing: Boolean = false): DataFrame = {
    if (portableHashing) {
      // Engine-portable variant: per-token md5 votes, sketch emitted
      // directly as its eight 16-bit chunks (see SimHashHexChunksExpr).
      // Same shuffle shape — 8 small chunk rows per document — and the
      // DuckDB oracle replays chunks, buckets, pairs, and Hamming exactly.
      val sk = library.stage(
        df.select(col(idCol).as("id"),
          // fused tokens→md5→chunks (r15): one pass, no interpreted
          // per-token md5 lambda or hex round-trip — bit-identical to
          // simhash_hex_chunks(transform(tokens, md5)) (TokensExprSpec pin;
          // the oracle replays the hex-digit contract and stays green)
          graft.expressions.SketchExpressions.simhash_md5_chunks(
            tokens(col(textCol))).as("skc")))
      val chunked0 = sk
        .select(col("id"), col("skc"), posexplode(col("skc")))
        .withColumnRenamed("pos", "chunk")
        .withColumnRenamed("col", "chunk_val")
      val chunked = pruneFullBuckets(chunked0, Seq("chunk", "chunk_val"), maxBucketSize)
      val ham = (0 until 8).map { i =>
        bit_count(element_at(col("a.skc"), i + 1)
          .bitwiseXOR(element_at(col("b.skc"), i + 1)))
      }.reduce(_ + _)
      bucketSelfPairs(chunked, Seq("chunk", "chunk_val"),
        Seq("hamming" -> ham))
        .filter(col("hamming") <= maxHamming)
    } else {
      val sk = library.stage(
        df.select(col(idCol).as("id"), simhash128(col(textCol)).as("sk")))
      val chunked = simhashChunks(sk, maxBucketSize)
      bucketSelfPairs(chunked, Seq("chunk", "chunk_val"),
        Seq("hamming" -> hamming128(col("a.sk"), col("b.sk"))))
        .filter(col("hamming") <= maxHamming)
    }
  }

  /** The eight 16-bit chunk rows per sketch (skew-guarded) — the SimHash
    * bucket stream. Input must carry (id, sk); extra columns ride along. */
  private def simhashChunks(sk: DataFrame, maxBucketSize: Int): DataFrame = {
    val chunkCols = (0 until 8).map { c =>
      call_function("shiftright", element_at(col("sk"), c / 4 + 1),
        lit((c % 4) * 16)).bitwiseAND(0xFFFFL)
    }
    val chunked0 = sk.select(col("id"), col("sk"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    pruneFullBuckets(chunked0, Seq("chunk", "chunk_val"), maxBucketSize)
  }

  /**
   * SimHash-bucketed candidates verified with EXACT n-gram Jaccard — the
   * engine-portable certificate for the SimHash path (same output contract
   * as [[nearDuplicatePairs]]: (id_a, id_b, jaccard ≥ threshold)). The
   * Hamming radius is deliberately not applied: the exact Jaccard verify is
   * the final filter, so candidate generation (chunk-bucket collision) is
   * the only recall surface — which is exactly what comparing against an
   * exact all-pairs oracle certifies. Shuffle shape is unchanged: 8 small
   * chunk rows per document, shingles re-attached for candidates only.
   */
  def simhashVerifiedPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, maxBucketSize: Int = 256): DataFrame = {
    val sk = library.stage(
      df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
        .select(col("id"), shinglesOfTokens(col("toks")).as("sh"),
          graft.expressions.SketchExpressions.simhash128(
            graft.expressions.SketchExpressions.xxhash64_array(
              col("toks"))).as("sk")))
    val chunked = simhashChunks(sk.select(col("id"), col("sk")), maxBucketSize)
    val candidates = bucketSelfPairs(chunked, Seq("chunk", "chunk_val"))
    val shOnly = sk.select(col("id"), col("sh"))
    candidates
      .join(shOnly.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(shOnly.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}

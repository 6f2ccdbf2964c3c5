package graft.streaming

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Materializer
import graft.operators.Dedup

/**
 * Streaming near-duplicate detection against a growing corpus — the
 * continuous version of [[graft.operators.Dedup.incrementalNearDupPairs]]:
 * documents arrive on a stream; each micro-batch is MinHash-banded and
 * joined against the corpus's persisted band index; matched (new, corpus)
 * pairs — plus the batch's own INTRA-batch near-dup pairs, in canonical
 * (min_id, max_id) orientation — append to a parquet sink; the batch's own
 * band rows are then appended to the index, so batch N+1 dedups against
 * batch N without the corpus ever being re-sketched. The intra-batch pass
 * is what records a near-dup edge between a new document and an
 * already-committed document that happens to be RE-DELIVERED in the same
 * batch: the incremental operator's re-delivery guard (below) excludes
 * every in-batch corpus id from cross pairs, so that edge is the batch's
 * own to report.
 *
 * State lives in TABLES, not executor memory: the band index is a parquet
 * (at scale: bucketed by (band, band_hash) — [[graft.layout.TableLayout]])
 * that any number of restarts re-read, so there is no
 * `mapGroupsWithState`-style state-store growth proportional to the corpus.
 * The checkpoint gives the usual no-reprocess guarantee over the SOURCE;
 * the two sink writes inside one batch are not atomic together — a crash
 * between them can leave a batch's pairs written but its bands missing (or
 * vice versa after restart replays the batch). Both writes are keyed by
 * deterministic content, so the repair is idempotent re-append + downstream
 * `dropDuplicates` on (new_id, corpus_id) / (id, band) — same contract as
 * any at-least-once parquet append pipeline. One subtlety makes that repair
 * sound: a replayed batch re-probes an index that already holds its OWN
 * band rows from the crashed attempt — both the id-equal self-collisions
 * AND the id-unequal collisions between near-identical documents of the
 * same batch (which would otherwise verify against the crashed attempt's
 * corpus-text append and masquerade as batch-vs-corpus pairs). Both are
 * excluded inside [[graft.operators.Dedup.incrementalNearDupPairs]] by
 * anti-joining candidate corpus ids against the batch's own id set: a
 * corpus-side id in the current batch is re-delivered state, never a
 * duplicate. A replay therefore appends exactly the original pair rows
 * again and nothing else. StreamingDedupSpec drives both
 * crash→replay→repair cycles.
 *
 * The corpus TEXT table is read per batch only to verify collided candidate
 * ids (left_semi inside the incremental operator) — batch-proportional,
 * never corpus-proportional.
 */
object StreamingDedup {

  /**
   * Start the stream. `corpusPath` is the corpus text table (idCol/textCol
   * parquet); `indexPath` its precomputed band index
   * ([[Dedup.bandIndex]] written once at bootstrap); `pairsPath` the append
   * sink for verified (new_id, corpus_id, jaccard) rows.
   *
   * `intraMaxBucketSize` bounds the intra-batch SELF-join's per-bucket work
   * ([[Dedup.nearDuplicatePairs]]' skew guard): a band bucket larger than
   * this is dropped from the intra pass. Deliberately asymmetric with the
   * cross pass, which never prunes — the index join is LINEAR in bucket
   * size where the self-join is QUADRATIC, so the trade only exists on the
   * intra side. On boilerplate-heavy batches where hot buckets exceed the
   * bound, intra recall is traded for bounded work — raise it (or size
   * batches down) if intra completeness matters more than the guard.
   */
  def start(spark: SparkSession, newDocs: DataFrame,
            corpusPath: String, indexPath: String, pairsPath: String,
            checkpoint: String, idCol: String, textCol: String,
            threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
            trigger: Trigger = Trigger.AvailableNow(),
            intraMaxBucketSize: Int = 256): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, batch, corpusPath, indexPath, pairsPath,
          idCol, textCol, threshold, numHashes, bands, intraMaxBucketSize)
      }
      .start()

  /** One micro-batch: dedup against the index, then grow the index. Factored
    * out of the foreachBatch closure so batch semantics are testable without
    * a streaming harness. */
  private[graft] def processBatch(
      spark: SparkSession, batch: DataFrame,
      corpusPath: String, indexPath: String, pairsPath: String,
      idCol: String, textCol: String,
      threshold: Double, numHashes: Int, bands: Int,
      intraMaxBucketSize: Int = 256): Unit = {
    // The batch feeds two consumers (pair join + index append) and the
    // shared sketch frame below is staged; materialize the batch once so
    // the source is not re-read per consumer. Both are staged on this
    // batch's own handle (r12 review): releasing them cannot touch a
    // concurrently-running query's (e.g. StreamingCuration in the same
    // session) in-flight frames.
    Using.resource(new Materializer) { m =>
      val b = m.stage(batch)
      if (!b.isEmpty) {
        // ONE sketch per batch: tokenize/shingle/minhash is the hot per-row
        // pass, and the batch feeds THREE sketch consumers (cross pairs,
        // intra pairs, index append). The shared persisted frame makes each
        // consumer an InMemoryTableScan over the same cache — machine-checked
        // by StreamingDedupSpec's sketch-count pin (exactly one cached
        // minhash relation, zero sketch computations outside it).
        val sketch = m.stage(Dedup.sketchFrame(b, idCol, textCol, numHashes))
        // corpus text: verify-side only (left_semi on collided ids). The
        // index covers the original corpus AND every previously accepted
        // batch, whose text lands in the same table via acceptNewDocs-style
        // appends by the caller; here the corpus table is read as-is.
        val corpus = spark.read.parquet(corpusPath)
        val index = spark.read.parquet(indexPath)
        // committed = this batch's ids already in the corpus table, i.e.
        // re-delivered state (used by BOTH orientation exclusions below);
        // DISTINCT because an at-least-once source can duplicate an id
        // within one batch
        val committed = b.select(col(idCol).as("__cid")).distinct()
          .join(corpus.select(col(idCol).as("__cid")), Seq("__cid"),
            "left_semi")
        val cross = Dedup.incrementalNearDupPairs(corpus, b, idCol, textCol,
          threshold, numHashes, bands, corpusBands = Some(index),
          precomputedSketch = Some(sketch))
          // Orientation-unique sink, CROSS half (r11 review — the intra
          // half's both-committed exclusion alone left a hole): a COMMITTED
          // new_id is re-delivered state whose non-pruned edges were all
          // recorded when it first arrived (as that batch's cross pairs or
          // its intra pairs). Re-emitting them now is worse than redundant:
          // an edge first recorded as the canonical intra pair (a, b) would
          // land AGAIN as (b, a) when b alone is re-delivered later — two
          // orientations of one logical edge, which no (new_id, corpus_id)
          // dropDuplicates collapses and which makes a keep-min-id consumer
          // delete BOTH copies. Same crash-window argument as the intra
          // exclusion: the pairs write PRECEDES the corpus append, so an
          // unrecorded edge implies an uncommitted endpoint, which this
          // anti-join keeps. (An edge dropped by EITHER skew prune at first
          // arrival — the intra prune below or incrementalNearDupPairs'
          // corpus-bucket prune, default maxBucketSize=256 — is not
          // recoverable through re-delivery: this exclusion suppresses the
          // replay. That is the prunes' documented recall trade, not a new
          // hole — see the interaction note in Dedup.incrementalNearDupPairs;
          // a caller wanting unbounded cross recall passes
          // maxBucketSize=Int.MaxValue to the underlying operator.)
          .join(broadcast(committed.select(col("__cid").as("new_id"))),
            Seq("new_id"), "left_anti")
        // INTRA-batch near-dups are the batch's own job (the incremental
        // operator's batch-id anti-join deliberately never emits a pair
        // whose corpus side is in the current batch — re-delivered state is
        // not a batch-vs-corpus duplicate). Without this, a near-dup edge
        // between a NEW doc and an already-committed doc RE-DELIVERED in the
        // same batch would be recorded nowhere. nearDuplicatePairs emits the
        // canonical (min_id, max_id) orientation and is a pure function of
        // batch content, so replays re-append identical rows — the same
        // dropDuplicates repair as every other sink here.
        //
        // One exclusion keeps the sink orientation-unique per edge: a pair
        // whose endpoints are BOTH already committed is re-delivered state
        // whose edge is necessarily already recorded — when the newer
        // endpoint first arrived, as a cross pair (possibly in the
        // opposite orientation: new_id=the-then-new doc) or as that batch's
        // intra pair. Re-emitting it canonically here would put the same
        // logical edge in the sink under TWO orientations, which no
        // (new_id, corpus_id) dropDuplicates can collapse and which makes a
        // keep-min-id consumer delete both copies. Both committed-ness
        // probes are batch∩corpus sized (broadcast); the probe is DISTINCT
        // because an at-least-once source can duplicate an id WITHIN one
        // batch, and a non-distinct probe would multiply each intra pair row
        // per copy through the two left joins. Crash windows stay
        // repairable: a crash before the corpus append leaves the new
        // endpoint un-committed, so the replay re-emits the identical row.
        // Note one interaction with `intraMaxBucketSize`: the exclusion
        // assumes a both-committed edge was recorded when its newer endpoint
        // first arrived — true for cross pairs (the index join never
        // prunes), but an edge FIRST seen as an intra pair inside a bucket
        // the skew guard dropped was never recorded, and a later
        // re-delivery of both endpoints cannot recover it (both-committed ⇒
        // excluded). The prune trades exactly this recall for bounded
        // quadratic work; raise the bound if intra completeness matters.
        val intra = Dedup.nearDuplicatePairs(b, idCol, textCol,
            threshold, numHashes, bands, maxBucketSize = intraMaxBucketSize,
            precomputedSketch = Some(sketch))
          .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"),
            col("jaccard"))
          .join(broadcast(committed.select(col("__cid").as("new_id"))
            .withColumn("__a_c", lit(true))), Seq("new_id"), "left")
          .join(broadcast(committed.select(col("__cid").as("corpus_id"))
            .withColumn("__b_c", lit(true))), Seq("corpus_id"), "left")
          .filter(!(coalesce(col("__a_c"), lit(false)) &&
                    coalesce(col("__b_c"), lit(false))))
          .select("new_id", "corpus_id", "jaccard")
        cross.unionByName(intra).write.mode("append").parquet(pairsPath)
        // grow the index with this batch's bands so later batches see it;
        // the batch's text must also be appended to the corpus table for
        // verification — done here, same at-least-once contract as above.
        Dedup.bandIndex(b, idCol, textCol, numHashes, bands,
            precomputedSketch = Some(sketch))
          .write.mode("append").parquet(indexPath)
        b.select(col(idCol), col(textCol))
          .write.mode("append").parquet(corpusPath)
      }
    }
  }
}

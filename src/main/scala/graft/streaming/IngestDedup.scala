package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CacheScope, Dedup}
import graft.sources.{BucketedCorpus, Compaction}

/** Continuous corpus ingest with incremental deduplication — the streaming
  * face of the persisted MinHash index ([[Dedup.writeMinhashIndexMd5]] /
  * [[Dedup.minhashProbeIndexMd5]]).
  *
  * Each micro-batch of arriving documents runs the full dedup ladder
  * WITHOUT ever touching more than (batch + candidates) worth of text:
  *
  *   1. in-batch exact dedup (min-id per content fingerprint);
  *   2. in-batch near-dup collapse — MinHash pairs → connected components →
  *      keep each component's minimum id (the same cluster-transitive
  *      policy as [[Dedup.cleanCorpus]]);
  *   3. cross-corpus probe against the persisted index: batch-only
  *      signatures, prefix-pruned postings read, candidate-bounded exact
  *      verification whose corpus read is PRUNED to the candidate ids'
  *      hash buckets (the corpus sink is a [[BucketedCorpus]] layout) —
  *      per-batch cost independent of accumulated corpus size in compute,
  *      shuffle AND scan bytes, which is what makes this sustainable as
  *      the corpus grows unboundedly under a long-running stream;
  *   4. survivors append their postings to the index FIRST, then their
  *      rows to the corpus, so the NEXT micro-batch dedups against them.
  *
  * Delivery semantics: `foreachBatch` is at-least-once across restarts.
  * The index-before-corpus write order makes replay CONVERGE to exactly
  * one corpus copy: a crash between the two appends leaves orphan postings
  * (ids in the index, rows not yet in the corpus), which are harmless —
  * the exact-verify join inner-joins the corpus, so an absent row can
  * never confirm a duplicate, and the replayed batch re-appends postings
  * (deduplicated by the probe's distinct candidates) and writes the corpus
  * row once. The reverse order would leave corpus rows INVISIBLE to the
  * probe, so a replay would re-append them as permanent duplicates.
  * Exactly-once bookkeeping of the sink itself needs a transactional table
  * format underneath, which is deployment-specific and out of scope here.
  */
object IngestDedup {

  /** Start the ingest stream. `docs` is a STREAMING DataFrame carrying at
    * least (`idCol`, `textCol`); `corpusPath` accumulates accepted rows as
    * a hash-bucketed parquet layout ([[BucketedCorpus]], `corpusBuckets`
    * directories); `indexPath` accumulates their banded signature
    * postings. Both are created on the first non-empty batch.
    *
    * Self-maintenance: each batch appends one file per postings partition
    * AND one file per touched corpus bucket, so a long-running stream
    * degrades every probe's partition read linearly in batch count. Every
    * `compactEveryBatches` micro-batches (0 disables) the loop runs
    * [[graft.sources.Compaction.compactLeafPartitions]] over the index AND
    * the corpus — partition dirs holding more than `compactMaxFiles` data
    * files rewrite to one, crash-safe, probe results byte-identical. Tied
    * to batchId, so a replayed batch re-runs its compaction idempotently
    * (recovery at every entry) instead of drifting the schedule. */
  def ingestWithDedup(
      docs: DataFrame,
      indexPath: String,
      corpusPath: String,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      prefixBits: Int = 8,
      corpusBuckets: Int = 64,
      checkpointDir: Option[String] = None,
      compactEveryBatches: Int = 64,
      compactMaxFiles: Int = 16): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), indexPath, corpusPath, textCol, idCol,
          threshold, numHashes, bands, shingleSize, prefixBits, corpusBuckets)
        if (compactEveryBatches > 0 && (batchId + 1) % compactEveryBatches == 0) {
          Compaction.compactLeafPartitions(batch.sparkSession, indexPath,
            maxFiles = compactMaxFiles)
          // tombstone-aware on the corpus: dead rows drop while the bucket
          // is being rewritten anyway (vacuum-for-free on the cadence)
          BucketedCorpus.compact(batch.sparkSession, corpusPath,
            maxFiles = compactMaxFiles)
        }
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  private def indexReady(indexPath: String): Boolean =
    Dedup.minhashIndexReady(indexPath)

  /** One micro-batch of the ingest ladder — also the unit the spec drives
    * directly in batch mode (same code path, the streaming harness adds
    * only delivery). */
  def processBatch(
      batch: DataFrame,
      indexPath: String,
      corpusPath: String,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      prefixBits: Int = 8,
      corpusBuckets: Int = 64): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // 1-2: in-batch exact + cluster-transitive near-dup collapse
    val exact = Dedup.exactDedup(batch, textCol, idCol)
    val pairs = Dedup.minhashNearDuplicatesMd5(exact, textCol, idCol,
      threshold, numHashes, bands, shingleSize)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("__graft_drop_id"))
    val inBatch = exact.join(losers,
      exact(idCol) === col("__graft_drop_id"), "left_anti")
    // 3: cross-corpus probe (nothing to probe until BOTH sinks exist — an
    // index without a corpus is the orphan-postings crash window, whose
    // candidates the verify join would discard anyway)
    val hasIndex = indexReady(indexPath)
    val survivorsPlan =
      if (!hasIndex || !BucketedCorpus.ready(corpusPath) ||
          !BucketedCorpus.hasData(spark, corpusPath)) inBatch
      else {
        val dupIds = Dedup.minhashProbeIndexMd5Resolved(indexPath,
          ids => BucketedCorpus.readForIds(spark, corpusPath, ids),
          inBatch, textCol, idCol, threshold, numHashes, bands, shingleSize)
          .select(col("batch_id").as("__graft_dup_id")).distinct()
        inBatch.join(dupIds,
          inBatch(idCol) === col("__graft_dup_id"), "left_anti")
      }
    // two consumers (index append + corpus append): persist so the dedup
    // ladder runs once, and pin the row set before the sinks diverge
    val survivors = survivorsPlan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (survivors.count() > 0) {
        // index FIRST (see the delivery-semantics contract above)
        Dedup.writeMinhashIndexMd5(survivors, textCol, idCol, indexPath,
          numHashes, bands, shingleSize, prefixBits,
          mode = if (hasIndex) "append" else "overwrite")
        BucketedCorpus.append(survivors, corpusPath, idCol, corpusBuckets)
      }
    } finally {
      survivors.unpersist()
      // thread-scoped: drop only THIS batch's postings caches — the global
      // drain would evict caches that concurrent queries on sibling
      // verify-pool threads are mid-read (the cross-thread recomputation
      // storm per-thread pass scopes exist to prevent)
      CacheScope.releaseOwn()
    }
  }
}

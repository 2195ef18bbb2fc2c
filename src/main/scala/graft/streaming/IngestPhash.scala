package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CacheScope, Dedup, Multimodal}
import graft.sources.{BucketedCorpus, Compaction}

/** Continuous MEDIA ingest with incremental perceptual-hash deduplication —
  * the image face of [[IngestDedup]], over the persisted banded phash index
  * ([[Multimodal.writePhashIndex]] / [[Multimodal.phashProbeIndex]]).
  *
  * Each micro-batch of arriving payloads runs the image dedup ladder
  * without ever rescanning the accumulated corpus:
  *
  *   1. decode + hash the batch (REAL codec pass, one narrow stage);
  *   2. in-batch near-dup collapse — Hamming-banded pairs → connected
  *      components → keep each component's minimum id (exact byte dups are
  *      hash-identical, so they collapse here too: Hamming 0);
  *   3. cross-corpus probe against the banded index: the batch's block
  *      values pick the partitions to read, candidates verify on the full
  *      hashes the postings carry, and a matched candidate only DROPS a
  *      batch row if its corpus row actually exists — an id-column read of
  *      the candidate ids' corpus buckets (the [[BucketedCorpus]] layout),
  *      so per-batch cost stays candidate-bounded and independent of
  *      accumulated corpus size;
  *   4. survivors append their postings to the index FIRST, then their
  *      (media_id, phash) row to the corpus, so the NEXT batch dedups
  *      against them. Banding parameters ride the layout; appends with
  *      drifting parameters are rejected.
  *
  * Delivery is foreachBatch's at-least-once. The index-before-corpus write
  * order makes replay CONVERGE to exactly one corpus copy: a crash between
  * the two appends leaves orphan postings, and the existence check in
  * step 3 keeps those from dropping the replayed content (an orphan's id
  * is in no corpus bucket, so it cannot confirm a duplicate) — the replay
  * re-appends postings (harmless: candidates are distinct()'d) and writes
  * the corpus row once. The reverse order would leave corpus rows
  * INVISIBLE to the probe, so a replay would re-append them as permanent
  * duplicates. Exactly-once corpus bookkeeping needs a transactional table
  * format underneath (deployment-specific, out of scope). */
object IngestPhash {

  /** Start the ingest stream. `media` is a STREAMING frame carrying
    * (media_id, content); both sinks are created by the first non-empty
    * batch, the corpus as a hash-bucketed layout (`corpusBuckets`
    * directories). Every `compactEveryBatches` micro-batches (0 disables)
    * the loop compacts `bp=` index partition dirs AND corpus bucket dirs
    * that exceed `compactMaxFiles` data files
    * ([[graft.sources.Compaction.compactLeafPartitions]] — crash-safe,
    * probe results byte-identical), so a long-running stream's probe reads
    * never degrade linearly in batch count. */
  def ingestWithDedup(
      media: DataFrame,
      indexPath: String,
      corpusPath: String,
      maxHamming: Int = 3,
      prefixBits: Int = 4,
      corpusBuckets: Int = 64,
      checkpointDir: Option[String] = None,
      compactEveryBatches: Int = 64,
      compactMaxFiles: Int = 16): StreamingQuery = {
    val writer = media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), indexPath, corpusPath, maxHamming,
          prefixBits, corpusBuckets)
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

  /** One micro-batch of the ladder — also the unit driven directly in
    * batch mode by the spec (the streaming harness adds only delivery). */
  def processBatch(
      batch: DataFrame,
      indexPath: String,
      corpusPath: String,
      maxHamming: Int = 3,
      prefixBits: Int = 4,
      corpusBuckets: Int = 64): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // the codec pass feeds the pair join (twice), the probe, and both
    // sinks — hash once, persist
    val hashes = Multimodal.perceptualHashes(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = Dedup.simhashPairsFromSignatures(
        hashes.select(col("media_id").as("id"), col("phash").as("sh")), maxHamming)
      val losers = Dedup.connectedComponents(pairs.select(col("id1"), col("id2")))
        .filter(col("id") =!= col("comp"))
        .select(col("id").as("__graft_drop_id"))
      val inBatch = hashes.join(losers,
        hashes("media_id") === col("__graft_drop_id"), "left_anti")
      val ready = Multimodal.phashIndexReady(indexPath)
      val survivorsPlan =
        if (!ready || !BucketedCorpus.ready(corpusPath) ||
            !BucketedCorpus.hasData(spark, corpusPath)) inBatch
        else {
          // two consumers (bucket-list collect + existence semi join):
          // cache so the banded probe runs once
          val dupPairs = CacheScope.persist(
            Multimodal.phashProbeIndex(spark, indexPath, inBatch,
              maxHamming, prefixBits))
          // a matched candidate drops a batch row only if its corpus row
          // EXISTS — orphan postings from the index-first crash window
          // must not drop replayed content (ids-only read, bucket-pruned)
          val corpusIds = BucketedCorpus.readForIds(spark, corpusPath,
            dupPairs.select(col("corpus_id")).distinct())
            .select(col("media_id").as("corpus_id"))
          val dupIds = dupPairs.join(corpusIds, Seq("corpus_id"), "left_semi")
            .select(col("probe_id").as("__graft_dup_id")).distinct()
          inBatch.join(dupIds,
            inBatch("media_id") === col("__graft_dup_id"), "left_anti")
        }
      val survivors = survivorsPlan
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (survivors.count() > 0) {
          // index FIRST (see the delivery-semantics contract above)
          Multimodal.writePhashIndex(survivors, indexPath, maxHamming, prefixBits,
            mode = if (ready) "append" else "overwrite")
          BucketedCorpus.append(survivors, corpusPath, "media_id", corpusBuckets)
        }
      } finally survivors.unpersist()
    } finally {
      hashes.unpersist()
      CacheScope.releaseOwn()
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{CacheScope, Dedup, Multimodal}
import graft.sources.{BucketedCorpus, Compaction}

/** Continuous VIDEO ingest with incremental multi-frame perceptual
  * near-duplicate deduplication — the video face of [[IngestPhash]]: the
  * same persisted banded index ([[Multimodal.writePhashIndex]] /
  * [[Multimodal.phashProbeIndex]], 64-bit-agnostic) carrying PER-FRAME
  * hashes under composite ids `media_id·8 + frame` (frames ≤ 4 < 8, the
  * q_multimodal_near_dup_video packing), with the video-pair rollup on
  * the probe side.
  *
  * Each micro-batch of arriving (media_id, content) video payloads:
  *
  *   1. decode + hash EVERY frame of the batch (one narrow codec stage);
  *   2. in-batch near-dup collapse — Hamming-banded FRAME pairs → lifted
  *      to video pairs (distinct videos sharing any close frame) →
  *      connected components → keep each component's minimum video id;
  *   3. cross-corpus probe: batch frames probe the banded index under
  *      their composite ids (partition-pruned reads, candidates verify on
  *      posting-carried hashes), matches lift to video pairs, and a match
  *      only DROPS a batch video if the matched corpus video actually
  *      exists — an id-column read of the candidate ids' corpus buckets
  *      (the [[BucketedCorpus]] layout), so per-batch cost stays
  *      candidate-bounded and independent of accumulated corpus size;
  *   4. surviving videos append their frame postings to the index FIRST,
  *      then their (media_id, frame, phash) rows to the corpus, so the
  *      NEXT batch dedups against them.
  *
  * Delivery is foreachBatch's at-least-once; the index-before-corpus
  * order plus the step-3 existence check make replay CONVERGE to exactly
  * one corpus copy (the [[IngestPhash]] argument: orphan frame postings
  * from the crash window match at Hamming 0 but name a corpus video that
  * does not exist, so the replayed content is kept, not lost). */
object IngestVideo {

  /** Start the ingest stream. `media` is a STREAMING frame carrying
    * (media_id, content) where content is a packed multi-frame payload
    * ([[Multimodal.JdkCodec]] GVC1); both sinks are created by the first
    * non-empty batch, the corpus as a hash-bucketed layout
    * (`corpusBuckets` directories). Every `compactEveryBatches`
    * micro-batches (0 disables) the loop compacts `bp=` index partition
    * dirs AND corpus bucket dirs exceeding `compactMaxFiles` data files
    * ([[graft.sources.Compaction.compactLeafPartitions]] — crash-safe,
    * probe results byte-identical). */
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
    // sinks — decode + hash every frame once, persist
    val fh = Multimodal.videoFrameHashes(batch)
      .withColumn("cid", col("media_id") * 8 + col("frame"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // in-batch: close frame pairs lift to distinct-video pairs, then
      // cluster-transitive min-id survivorship over the video graph
      val framePairs = Dedup.simhashPairsFromSignatures(
        fh.select(col("cid").as("id"), col("phash").as("sh")), maxHamming)
      val videoPairs = framePairs
        .select(shiftright(col("id1"), 3).as("id1"),
          shiftright(col("id2"), 3).as("id2"))
        .where(col("id1") =!= col("id2")).distinct()
      val losers = Dedup.connectedComponents(videoPairs)
        .filter(col("id") =!= col("comp"))
        .select(col("id").as("__graft_drop_id"))
      val inBatch = fh.join(losers,
        fh("media_id") === col("__graft_drop_id"), "left_anti")
      val ready = Multimodal.phashIndexReady(indexPath)
      val survivorsPlan =
        if (!ready || !BucketedCorpus.ready(corpusPath) ||
            !BucketedCorpus.hasData(spark, corpusPath)) inBatch
        else {
          // two consumers (bucket-list collect + existence semi join):
          // cache so the banded probe runs once
          val dupPairs = CacheScope.persist(
            Multimodal.phashProbeIndex(spark, indexPath,
              inBatch.select(col("cid").as("media_id"), col("phash")),
              maxHamming, prefixBits)
              .select(shiftright(col("probe_id"), 3).as("pv"),
                shiftright(col("corpus_id"), 3).as("cv"))
              .distinct())
          // a matched candidate drops a batch video only if the corpus
          // video EXISTS — orphan frame postings from the index-first
          // crash window must not drop replayed content
          val corpusIds = BucketedCorpus.readForIds(spark, corpusPath,
            dupPairs.select(col("cv")).distinct())
            .select(col("media_id").as("cv")).distinct()
          val dupIds = dupPairs.join(corpusIds, Seq("cv"), "left_semi")
            .select(col("pv").as("__graft_dup_id")).distinct()
          inBatch.join(dupIds,
            inBatch("media_id") === col("__graft_dup_id"), "left_anti")
        }
      val survivors = survivorsPlan
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (survivors.count() > 0) {
          // index FIRST (see the delivery-semantics contract above)
          Multimodal.writePhashIndex(
            survivors.select(col("cid").as("media_id"), col("phash")),
            indexPath, maxHamming, prefixBits,
            mode = if (ready) "append" else "overwrite")
          BucketedCorpus.append(
            survivors.select("media_id", "frame", "phash"),
            corpusPath, "media_id", corpusBuckets)
        }
      } finally survivors.unpersist()
    } finally {
      fh.unpersist()
      CacheScope.releaseOwn()
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Ann, CacheScope, Dedup}
import graft.sources.{BucketedCorpus, Compaction}

/** Continuous EMBEDDING ingest with incremental cosine near-duplicate
  * deduplication — the vector face of [[IngestDedup]]/[[IngestPhash]], over
  * the persisted multi-table LSH signature index
  * ([[Ann.writeLshSigIndex]] / [[Ann.lshProbeIndex]]). This closes the one
  * similarity layout that had batch-only pair computation: IVF, PQ,
  * MinHash, trigram, and phash all had streaming ingest already.
  *
  * Each micro-batch of arriving (id, vector) rows runs the embedding dedup
  * ladder without rescanning the accumulated corpus:
  *
  *   1. in-batch near-dup collapse — multi-table LSH candidate pairs →
  *      exact-cosine verify → connected components → keep each component's
  *      minimum id (byte-identical replays land at cosine 1 and collapse
  *      here too);
  *   2. cross-corpus probe against the signature index: the batch signs
  *      itself under the LAYOUT's parameters, its `tp` values prune the
  *      partitions read, and candidates verify by exact cosine against a
  *      corpus read PRUNED to the candidate ids' hash buckets (the corpus
  *      sink is a [[BucketedCorpus]] layout) — per-batch cost is
  *      candidate-bounded and independent of accumulated corpus size in
  *      compute, shuffle AND scan bytes;
  *   3. survivors append their signature postings to the index FIRST,
  *      then their (id, vector) row to the corpus, so the NEXT batch
  *      dedups against them. Parameter drift on append is rejected.
  *
  * Delivery is foreachBatch's at-least-once. The index-before-corpus
  * write order makes replay CONVERGE to exactly one corpus copy: a crash
  * between the two appends leaves orphan postings, which are harmless —
  * the exact-cosine verify inner-joins the corpus, so an absent row can
  * never confirm a duplicate, and the replayed batch re-appends postings
  * (deduplicated by the probe's distinct candidates) and writes the
  * corpus row once. The reverse order would leave corpus rows INVISIBLE
  * to the probe, so a replay would re-append them as permanent
  * duplicates. (The one cosine edge case: an all-zero vector's cosine to
  * anything — itself included — is defined 0 here; zero vectors are
  * dropped at ingest rather than admitted unprobeable.) Exactly-once
  * corpus bookkeeping needs a transactional table format underneath —
  * deployment-specific, out of scope. */
object IngestLsh {

  /** Start the ingest stream. `vecs` is a STREAMING frame carrying
    * (`idCol`, `vecCol`); both sinks are created by the first non-empty
    * batch, the corpus as a hash-bucketed layout (`corpusBuckets`
    * directories). Every `compactEveryBatches` micro-batches (0 disables)
    * the loop compacts `tp=` index partition dirs AND corpus bucket dirs
    * exceeding `compactMaxFiles` data files
    * ([[graft.sources.Compaction.compactLeafPartitions]] — crash-safe,
    * probe results byte-identical). */
  def ingestWithDedup(
      vecs: DataFrame,
      indexPath: String,
      corpusPath: String,
      vecCol: String,
      idCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 16,
      tables: Int = 8,
      prefixBits: Int = 4,
      corpusBuckets: Int = 64,
      checkpointDir: Option[String] = None,
      compactEveryBatches: Int = 64,
      compactMaxFiles: Int = 16): StreamingQuery = {
    val writer = vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), indexPath, corpusPath, vecCol, idCol,
          threshold, dim, bits, tables, prefixBits, corpusBuckets)
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
      vecCol: String,
      idCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 16,
      tables: Int = 8,
      prefixBits: Int = 4,
      corpusBuckets: Int = 64): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // zero vectors can never match a probe (cosine defined 0) — reject at
    // the door instead of admitting rows replay cannot self-heal
    val live = batch.where(Ann.norm(col(vecCol)) > 0.0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // 1: in-batch transitive near-dup collapse
      val pairs = Ann.cosineNearDuplicatesMultiTable(live, vecCol, idCol,
        threshold, dim, bits, tables)
      val losers = Dedup.connectedComponents(pairs.select(col("id1"), col("id2")))
        .filter(col("id") =!= col("comp"))
        .select(col("id").as("__graft_drop_id"))
      val inBatch = live.join(losers,
        live(idCol) === col("__graft_drop_id"), "left_anti")
      // 2: cross-corpus probe (nothing to probe until BOTH sinks exist —
      // an index without a corpus is the orphan-postings crash window,
      // whose candidates the verify join would discard anyway)
      val ready = Ann.lshSigIndexReady(indexPath)
      val survivorsPlan =
        if (!ready || !BucketedCorpus.ready(corpusPath) ||
            !BucketedCorpus.hasData(spark, corpusPath)) inBatch
        else {
          val dupIds = Ann.lshProbeIndexResolved(spark, indexPath,
            ids => BucketedCorpus.readForIds(spark, corpusPath, ids),
            inBatch, vecCol, idCol, threshold)
            .select(col("batch_id").as("__graft_dup_id")).distinct()
          inBatch.join(dupIds,
            inBatch(idCol) === col("__graft_dup_id"), "left_anti")
        }
      // 3: two consumers (index append + corpus append) — pin the row set
      val survivors = survivorsPlan
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (survivors.count() > 0) {
          // index FIRST (see the delivery-semantics contract above)
          Ann.writeLshSigIndex(survivors, vecCol, idCol, indexPath,
            dim, bits, tables, prefixBits,
            mode = if (ready) "append" else "overwrite")
          BucketedCorpus.append(survivors, corpusPath, idCol, corpusBuckets)
        }
      } finally survivors.unpersist()
    } finally {
      live.unpersist()
      CacheScope.releaseOwn()
    }
  }
}

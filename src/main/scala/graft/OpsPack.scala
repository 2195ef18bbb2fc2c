package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, CacheScope, Dedup, Ivf, Multimodal, Preference, Sampling, TextOps, TrainOrder}

/** Driver queries for the training-data pipeline operators (dedup,
  * similarity search, text analysis, multimodal), with DuckDB oracles where
  * the computation is engine-mirrorable. The MinHash/SimHash queries use the
  * portable md5 hash family ([[graft.operators.Dedup.md5HashPair]]) and the
  * cosine-LSH query embeds its hyperplane constants as SQL literals, so all
  * three hash-family pipelines are fully oracle-checked; the xxhash64
  * variants remain the fast default engine path, pinned by unit tests. */
object OpsPack {

  /** Per-query DEFINITION versions for the bench minimum history
    * (`bench_history_<sf>.json`): the rolling minimum can only decrease,
    * so a redefinition that changes a query's measured work must retire
    * the old entry or the new definition reads as a permanent regression.
    * Bump a query's version HERE in the same change that redefines it;
    * unlisted queries are v1 (plain-name history key). */
  val queryDefVersions: Map[String, Int] = Map(
    // r13: thirds instead of halves, fence consolidation + stale-replay
    // skip inside the measured build, weighted probe
    "q_text_heavy_hitters_stream" -> 2,
    // r14: pack id became the injective string "<group>#<idx>" after the
    // first minimum was recorded under the arithmetic encoding
    "q_pack_shards" -> 2)

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Per-document text statistics (tokens, ratios, quality, lang, md5). */
  def textStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id") +: TextOps.statsColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")

  /** Exact-dedup groups by normalized-content md5. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(s, dir), "text", "doc_id").orderBy("keep_id")

  /** Shingles appearing in more than this many documents are dropped from
    * the Jaccard inverted index — a hot shingle's posting self-join is
    * quadratic in its document frequency, which is the scale-killer at
    * 100 TB. Mirrored as a filter CTE in the oracle SQL. */
  val JaccardMaxDocFrequency = 200L

  /** Exact pairwise word-3-gram Jaccard ≥ 0.5 via inverted index, with the
    * hot-shingle cap applied (bounded posting lists at scale). */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docs(s, dir), "text", "doc_id", n = 3, threshold = 0.5,
      maxDocFrequency = JaccardMaxDocFrequency)
      .orderBy("id1", "id2")

  /** Exact duplicated-substring rollup (Lee et al. suffix-array dedup,
    * reformulated as distributed gram postings + gaps-and-islands interval
    * merge): per document, the merged ≥40-char spans that occur more than
    * once anywhere in the corpus. Portable family (raw-gram keys) so the
    * oracle mirrors byte-for-byte; xxhash64-keyed production family
    * agreement is unit-pinned in OpsSpec. */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSubstringStats(docs(s, dir), "text", "doc_id",
      minLength = SubstringMinLength, portable = true)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Gram length for the duplicated-substring driver query — long enough
    * that only genuine copied spans collide (the synthetic corpus's small
    * vocabulary makes short grams collide on nearly every pair). */
  val SubstringMinLength = 40

  /** MinHash-LSH near-dups over the portable md5 family (oracle-checked). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDuplicatesMd5(docs(s, dir), "text", "doc_id",
      threshold = 0.5, numHashes = 64, bands = 16).orderBy("id1", "id2")

  /** Best-representative dedup survivorship: near-dup pairs (portable
    * MinHash-LSH family) → connected components → keep the HIGHEST-QUALITY
    * document per component (ties → smaller id) — the survivorship rule
    * real dedup pipelines ship (min-id keep, as in q_clean_corpus, is the
    * verification-friendly default; quality-keep is what you actually
    * want). Singletons are their own component and always survive. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextOps
    val d = docs(s, dir)
    val pairs = Dedup.minhashNearDuplicatesMd5(d, "text", "doc_id",
      threshold = 0.5, numHashes = 64, bands = 16).select("id1", "id2")
    val comps = Dedup.connectedComponents(pairs)
    val scored = d.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality_score"))
    val withComp = scored
      .join(comps.toDF("doc_id", "component"), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    withComp.groupBy("component")
      .agg(max(struct(col("quality_score"),
        (-col("doc_id")).as("nid"), col("doc_id"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("component"),
        col("m.quality_score").as("quality_score"))
      .orderBy("doc_id")
  }

  /** Train/test LEAKAGE scan — the eval-contamination check every corpus
    * split must pass before a benchmark number means anything: a test
    * document with a train-side near-duplicate leaks the answer into
    * training. Composition: the portable MinHash-LSH near-dup pairs, then
    * the deterministic split label ([[graft.operators.Sampling.splitLabel]]
    * — a PURE md5-bucket function of the id, so labeling the pair frame is
    * a zero-join, zero-shuffle projection on the already-bounded pair set,
    * never a corpus-size join). Emits (test_doc_id, train_doc_id, jaccard)
    * for every cross-boundary near-dup pair. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val pairs = Dedup.minhashNearDuplicatesMd5(docs(s, dir), "text", "doc_id",
      threshold = 0.5, numHashes = 64, bands = 16)
    pairs
      .withColumn("sp1", Sampling.splitLabel(col("id1"), 80, 10))
      .withColumn("sp2", Sampling.splitLabel(col("id2"), 80, 10))
      .where((col("sp1") === "test" && col("sp2") === "train") ||
        (col("sp1") === "train" && col("sp2") === "test"))
      .select(
        when(col("sp1") === "test", col("id1")).otherwise(col("id2")).as("test_doc_id"),
        when(col("sp1") === "test", col("id2")).otherwise(col("id1")).as("train_doc_id"),
        col("jaccard"))
      .orderBy("test_doc_id", "train_doc_id")
  }

  /** CLUSTER-SAFE split driver query
    * ([[graft.operators.Sampling.withClusterSafeSplit]]): the constructive
    * FIX for what q_split_leakage detects — near-dup clusters take their
    * representative's split, so no pair crosses the train/test boundary
    * (pinned zero-leakage in OpsSpec). Output: per-split document counts
    * under the cluster-safe labels; the oracle mirrors the MinHash pairs,
    * the recursive component closure, the min-id representative, and the
    * md5-bucket split of the REP id. */
  def splitClusterSafe(s: SparkSession, dir: String): DataFrame = CacheScope.pass {
    import graft.operators.Sampling
    val d = docs(s, dir)
    val pairs = CacheScope.persist(
      Dedup.minhashNearDuplicatesMd5(d, "text", "doc_id", threshold = 0.5,
        numHashes = 64, bands = 16).select("id1", "id2"))
    Sampling.withClusterSafeSplit(d.select(col("doc_id")), "doc_id", pairs)
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
      .orderBy("split")
  }

  /** Duplicate-cluster SIZE HISTOGRAM — the corpus-health dashboard number
    * behind every dedup decision (how much of the corpus is duplicated,
    * and in how big clumps): near-dup pairs → connected components →
    * per-component sizes → (cluster_size, n_clusters, n_docs), with the
    * singleton row (size 1) counted by an anti-join against the component
    * membership. Scale shape: everything after the pair scan operates on
    * the component table (pairs-bounded, ≪ corpus); the one corpus-size
    * pass is the anti-join, whose build side is that small table. */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashNearDuplicatesMd5(d, "text", "doc_id",
      threshold = 0.5, numHashes = 64, bands = 16).select("id1", "id2")
    val comps = Dedup.connectedComponents(pairs).toDF("doc_id", "component")
    val multi = comps.groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
    val singles = d.select(col("doc_id"))
      .join(comps.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit(1L).as("cluster_size"), col("n").as("n_clusters"),
        col("n").as("n_docs"))
    multi.unionByName(singles).orderBy("cluster_size")
  }

  /** SimHash near-dups within hamming 3 — four 16-bit pigeonhole blocks, so
    * bucket sizes stay bounded at corpus scale (md5 family, oracle-checked). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDuplicatesMd5(docs(s, dir), "text", "doc_id", maxHamming = 3)
      .orderBy("id1", "id2")

  /** Brute-force cosine top-20 for the query vector of vec_id=0; outputs
    * (rank, vec_id) only — rank gaps are >>ulp so ordering is
    * engine-stable even though float summation order differs. */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ann.bruteForceTopK(e, "embedding", "vec_id", q, 20)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** Batched ANN: top-5 per query for three query vectors at once —
    * broadcast the query set, score map-side, reduce with the bounded-heap
    * top-k aggregate (map-side partial top-k, shuffle ≤ k×partitions rows
    * per query — the many-queries scale shape; no per-query jobs, no
    * full-stream window sort). */
  def annTopKMulti(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val queries = e.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    Ann.bruteForceTopKJoin(e, "embedding", "vec_id", queries, "qv", "query_id", k = 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("id").as("vec_id"))
      .orderBy("query_id", "rank")
  }

  /** IVF top-20 with full probe (nprobe = k ⇒ exact, so the brute-force
    * oracle applies verbatim) — exercises SAMPLE-trained k-means (the
    * 100 TB training path: deterministic md5 sample + fused vector-sum
    * aggregate, no posexplode), codegen'd cluster assignment, and the
    * per-cluster scan/merge; full probe keeps the result exact whatever
    * the centroids. Partial-probe and partition-pruned paths are pinned
    * by IvfSpec. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cents = Ivf.kmeansCentroids(e, "embedding", "vec_id", k = 4, iters = 2,
      trainFraction = 0.25)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ivf.ivfTopK(e, "embedding", "vec_id", cents, q, 20, nprobe = 4)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** Filtered ANN driver query: top-20 by cosine among vectors whose label
    * is in {1, 2, 3} — the metadata predicate reaches the parquet scan as a
    * pushed filter before any vector math ([[graft.operators.Ann.filteredTopK]]).
    * Same rank-only output contract as q_ann_topk. */
  val AnnFilterLabels: Seq[Int] = Seq(1, 2, 3)

  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ann.filteredTopK(e, "embedding", "vec_id",
      col("label").isin(AnnFilterLabels.map(Integer.valueOf): _*), q, 20)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** kNN majority-vote classification driver query: labels for three query
    * vectors from their 15 nearest neighbors (self excluded, ties toward
    * the smaller label) — [[graft.operators.Ann.knnClassify]]'s
    * bounded-heap neighbor join + broadcast vote rollup. */
  val KnnK = 15

  def annKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val queries = e.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Ann.knnClassify(e, "embedding", "vec_id", "label",
      queries, "qv", "qid", k = KnnK)
      .select(col("query_id"), col("predicted_label"),
        col("votes").cast("long").as("votes"))
      .orderBy("query_id")
  }

  /** Persisted LSH-bucketed ANN: the corpus written `partitionBy(__bucket)`
    * under its 8-bit hyperplane signature (once per JVM × dir), then the
    * probe reads ONLY the query's multi-probe buckets — the bucket set is
    * a PARTITION filter, so 9 of ≤256 partition directories are scanned
    * (plan pinned in OpsSpec). The oracle mirrors the signature arithmetic
    * (plane literals), the probe-set membership (sig = qsig or 1-bit
    * flips), and the cosine ranking — so the hash check covers the
    * partitioned write → pruned read → rank path end to end. */
  val LshBucketBits = 8
  private val lshLayoutCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Build the persisted ANN layouts (LSH-bucketed + IVF-clustered) ahead of
    * time. Index CONSTRUCTION is a one-off ingest job in any real
    * deployment; the per-query cost that matters at scale is the pruned
    * PROBE, which is what q_ann_lsh_bucketed / q_ann_ivf_persisted time once
    * the layouts exist. Harnesses call this in setup; the driver entries
    * stay self-sufficient (they build lazily if nobody prepared them). */
  def prepareIndexes(s: SparkSession, dir: String): Unit = {
    annLshBucketed(s, dir)
    annIvfPersisted(s, dir)
    annIvfStreamed(s, dir)
    dedupIncremental(s, dir)
    textBm25Indexed(s, dir)
    textGrep(s, dir)
    sourceOrc(s, dir)
    preparePqCodes(s, dir)
    annPqStreamed(s, dir)
    annRpPersisted(s, dir)
    multimodalProbeIndex(s, dir)
    multimodalIncremental(s, dir)
    cosinePairsLshPersisted(s, dir)
    multimodalProbeIndexAudio(s, dir)
    multimodalProbeIndexVideo(s, dir)
    embeddingIncremental(s, dir)
    textHeavyHittersStreamed(s, dir)
    textHeavyHittersLateErase(s, dir)
    corpusRetention(s, dir)
    trainShardsQuery(s, dir)
    trainInterleaveShardsQuery(s, dir)
  }

  /** Fingerprint of a source table's files (path, size, mtime) plus the
    * layout parameters. Persisted layouts are keyed by this, so a layout
    * directory left by an earlier JVM is REUSED only while the source
    * parquet is byte-for-byte the same files — index construction is a
    * one-off ingest job, and rebuilding an unchanged index every process
    * restart is exactly the cost a real deployment would never pay. */
  private def layoutStamp(dir: String, table: String, params: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).flatMap(walk).toSeq else Seq(f)
    val src = new java.io.File(s"$dir/$table.parquet")
    val files = if (src.exists) walk(src) else Seq.empty
    md5Hex(files.map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString(s"$dir|$params|", "|", ""))
  }

  private def layoutComplete(p: String): Boolean =
    new java.io.File(p, "_SUCCESS").exists

  def annLshBucketed(s: SparkSession, dir: String): DataFrame = {
    val path = Memo.memo(lshLayoutCache, dir, {
      val p = "target/graft_lsh_bucketed_" +
        layoutStamp(dir, "embeddings", s"bits=$LshBucketBits|v1")
      if (!layoutComplete(p))
        Ann.writeLshBucketed(embeddings(s, dir), "embedding", EmbeddingDim, p, LshBucketBits)
      p
    })
    val q = embeddings(s, dir).where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).map(_.toDouble)
    val top = Ann.annTopKFromBucketed(s, path, "embedding", "vec_id", q, 20, LshBucketBits)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** Persisted IVF layout: sample-trained centroids, corpus written
    * `partitionBy(cluster)` (once per JVM × dir), probe read back from the
    * layout at FULL probe — nprobe = k keeps the result exactly the
    * brute-force top-20, so the same oracle applies while the query runs
    * the real partitioned-layout read path (partition pruning at partial
    * nprobe is pinned by IvfSpec). */
  private val ivfLayoutCache =
    scala.collection.concurrent.TrieMap[String, (String, Array[Array[Double]])]()

  def annIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    val (path, cents) = Memo.memo(ivfLayoutCache, dir, {
      val p = "target/graft_ivf_clustered_" +
        layoutStamp(dir, "embeddings", "k=4|iters=2|train=0.25|v1")
      val centFile = java.nio.file.Paths.get(p, "_graft_centroids.tsv")
      if (layoutComplete(p) && java.nio.file.Files.exists(centFile)) {
        // k-means here is deterministic (md5 hash sample, fixed iters), and
        // Double.toString/parseDouble round-trips exactly, so the persisted
        // centroids reproduce the training result bit for bit.
        val c = scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(centFile)).asScala
          .map(_.split('\t').map(java.lang.Double.parseDouble)).toArray
        (p, c)
      } else {
        val e = embeddings(s, dir)
        val c = Ivf.kmeansCentroids(e, "embedding", "vec_id", k = 4, iters = 2,
          trainFraction = 0.25)
        Ivf.writeClustered(e, "embedding", c, p)
        java.nio.file.Files.write(centFile,
          c.map(_.map(_.toString).mkString("\t")).mkString("\n").getBytes("UTF-8"))
        (p, c)
      }
    })
    val q = embeddings(s, dir).where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).map(_.toDouble)
    val top = Ivf.ivfTopKFromClustered(s, path, "embedding", "vec_id", cents, q, 20, nprobe = 4)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** Two-file replay staging shared by the streaming ingest driver
    * queries: the embeddings table split at the vec_id midpoint, lower
    * half written first (older mtime), so a `maxFilesPerTrigger=1` file
    * source replays it as two ordered micro-batches. Returns the staging
    * directory (recreated on every call — callers stage only when
    * rebuilding their layout). */
  private def stageEmbeddingHalves(
      s: SparkSession, dir: String, name: String): java.nio.file.Path = {
    import java.nio.file.Files
    val e = embeddings(s, dir)
    val root = java.nio.file.Paths.get(s"target/${name}_${md5Hex(dir)}")
    deleteRecursively(root)
    Files.createDirectories(root)
    val mm = e.agg(min(col("vec_id")).as("mn"), max(col("vec_id")).as("mx")).first()
    val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    def writeHalf(cond: org.apache.spark.sql.Column, nm: String, mtimeMs: Long): Unit = {
      val tmp = root.resolve(s"tmp_$nm")
      e.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, root.resolve(s"$nm.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(root.resolve(s"$nm.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
      deleteRecursively(tmp)
    }
    writeHalf(col("vec_id") <= mid, "half0", 1000000L)
    writeHalf(col("vec_id") > mid, "half1", 2000000L)
    root
  }

  private val ivfStreamedCache =
    scala.collection.concurrent.TrieMap[String, (String, Array[Array[Double]])]()

  /** Streaming-maintained IVF driver query: the embeddings table replayed
    * as two micro-batches through [[graft.streaming.IngestIvf]] — each
    * batch assigned under FROZEN deterministically-trained centroids and
    * appended into the `cluster=N` partition layout — then probed with
    * [[Ivf.ivfTopKFromClustered]] at nprobe = k, which is exactly the
    * brute-force top-20 of everything ingested, so q_ann_ivf's oracle
    * applies verbatim. A done-marker gates layout reuse (an append-built
    * layout without the marker may be half-ingested from a dead JVM —
    * rebuild, don't trust `_SUCCESS`, which every append rewrites). */
  def annIvfStreamed(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val (path, cents) = Memo.memo(ivfStreamedCache, dir, {
      val p = "target/graft_ivf_streamed_" +
        layoutStamp(dir, "embeddings", "k=4|iters=2|train=0.25|stream2|v1")
      val done = Paths.get(p, "_graft_ingest_done")
      val centFile = Paths.get(p, "_graft_centroids.tsv")
      if (Files.exists(done) && Files.exists(centFile)) {
        val c = scala.jdk.CollectionConverters.ListHasAsScala(
          Files.readAllLines(centFile)).asScala
          .map(_.split('\t').map(java.lang.Double.parseDouble)).toArray
        (p, c)
      } else {
        deleteRecursively(Paths.get(p))
        val e = embeddings(s, dir)
        val c = Ivf.kmeansCentroids(e, "embedding", "vec_id", k = 4, iters = 2,
          trainFraction = 0.25)
        val root = stageEmbeddingHalves(s, dir, "graft_ivf_stream_src")
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        val ckpt =
          if (Files.isWritable(Paths.get("/dev/shm")))
            s"/dev/shm/graft_ckpt_ivf_${streamSinkSeq.incrementAndGet()}"
          else s"target/graft_ckpt_ivf_${streamSinkSeq.incrementAndGet()}"
        val schema = ss.read.parquet(root.toString).schema
        val stream = ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(root.toString)
        val q = graft.streaming.IngestIvf.ingestToClustered(
          stream, "embedding", c, p, Some(ckpt))
        try q.processAllAvailable()
        finally { q.stop(); deleteRecursively(Paths.get(ckpt)) }
        Files.write(centFile,
          c.map(_.map(_.toString).mkString("\t")).mkString("\n").getBytes("UTF-8"))
        Files.write(done, Array.emptyByteArray)
        (p, c)
      }
    })
    val q = embeddings(s, dir).where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).map(_.toDouble)
    val top = Ivf.ivfTopKFromClustered(s, path, "embedding", "vec_id", cents, q, 20, nprobe = 4)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** Data-TRAINED IVF driver query — the end-to-end check of the trained
    * ANN path ([[graft.operators.Ivf.kmeansCentroidsPortable]]): md5
    * hash-sampled training set (25%), k=4 lowest-id init, 2 Lloyd
    * iterations with exact decimal accumulation, then a PARTIAL probe
    * (nprobe=2 of 4) of the full corpus. The partial probe is the point:
    * at nprobe=k any centroids yield the exact top-20 and the oracle
    * would check nothing — at nprobe=2 the trained centroids decide which
    * clusters are probed, so the DuckDB mirror (the training loop
    * unrolled as CTEs, the PageRank-unroll pattern) hash-checks training,
    * assignment, probe selection, and ranking together. */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val cents = Ivf.kmeansCentroidsPortable(e, "embedding", "vec_id",
      k = 4, iters = 2, trainFraction = 0.25)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ivf.ivfTopK(e, "embedding", "vec_id", cents, q, 20, nprobe = 2)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** Product-quantization parameters for the PQ driver query: 4 subspaces
    * of 16 dims, 8 codes per subspace (codebooks from the shared plane
    * family at a disjoint offset — literal-embeddable in the oracle;
    * production trains them with [[graft.operators.Ivf.kmeansCentroids]]). */
  val PqSubspaces = 4
  val PqCodebookSize = 8
  val PqPlaneOffset = 16384

  /** PQ-ADC ANN driver query ([[graft.operators.Pq]]): encode the corpus to
    * 4 codes per vector, score ALL vectors for the vec_id=0 query by
    * summing per-subspace distance-table lookups, take the ascending
    * top-20. Codes, ADC sums, and the ranking are fixed-order double
    * arithmetic — bit-identical in the oracle's literal-codebook mirror. */
  def annTopKPq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val books = Pq.codebooks(EmbeddingDim, PqSubspaces, PqCodebookSize, PqPlaneOffset)
    Pq.adcTopK(e, "embedding", "vec_id", q, 20, books)
      .select(col("id").as("vec_id"), col("adc_dist"))
  }

  /** IVF+PQ composition parameters: 8 coarse clusters (plane-family
    * centroids at a disjoint offset), probe the 2 nearest. */
  val IvfPqClusters = 8
  val IvfPqNprobe = 2
  val IvfPqPlaneOffset = 24576

  /** Random-projection ANN parameters: 64 → 16 dims (4× cheaper distance
    * arithmetic / 4× fewer bytes when the projection is persisted), 100
    * prefilter candidates reranked exactly to the top 20. Plane offset
    * disjoint from every other plane-family consumer. */
  val RpProjDim = 16
  val RpPlaneOffset = 40960
  val RpCandidates = 100

  /** Random-projection ANN driver query
    * ([[graft.operators.Ann.randomProjectionTopK]]): JL prefilter in the
    * 16-dim deterministic projection, exact-cosine rerank of the 100
    * survivors. Output is the (rank, vec_id) discipline — rank gaps ≫
    * ulp; the candidate boundary itself is fixed-order arithmetic, exact
    * in the oracle mirror. */
  def annRpTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ann.randomProjectionTopK(e, "embedding", "vec_id", q, 20,
      RpProjDim, RpPlaneOffset, RpCandidates)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  private val rpLayoutCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Persisted-projection RP driver query
    * ([[graft.operators.Ann.rpTopKFromProjected]]): the JL projection
    * written ONCE as a narrow (vec_id, p0…p15) DOUBLE layout (stamped and
    * reused like the IVF/PQ layouts), then the prefilter scans ONLY that
    * table — 16·8 bytes per vector instead of 64·4, no full-vector access
    * until the ≤100-candidate exact rerank. Stored doubles are
    * bit-identical to the on-the-fly projection, so the candidate
    * boundary — and q_ann_rp's oracle — apply verbatim. */
  def annRpPersisted(s: SparkSession, dir: String): DataFrame = {
    val path = Memo.memo(rpLayoutCache, dir, {
      val p = "target/graft_rp_projected_" +
        layoutStamp(dir, "embeddings", s"rp|$RpProjDim|$RpPlaneOffset|v1")
      if (!layoutComplete(p))
        Ann.writeRpProjected(embeddings(s, dir), "embedding", "vec_id", p,
          RpProjDim, RpPlaneOffset)
      p
    })
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ann.rpTopKFromProjected(s, path, e, "embedding", "vec_id", q, 20,
      RpProjDim, RpPlaneOffset, RpCandidates)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** IVF+PQ driver query ([[graft.operators.Pq.ivfPqTopK]]): the full
    * FAISS-style recipe — coarse-quantizer pruning to nprobe clusters, then
    * PQ-ADC scoring of only their members. Assignment, probe selection, and
    * scoring are all fixed-order double arithmetic over literal centroids/
    * codebooks, so the pruned ranking mirrors bit-for-bit. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val cents = Pq.coarseCentroids(EmbeddingDim, IvfPqClusters, IvfPqPlaneOffset)
    val books = Pq.codebooks(EmbeddingDim, PqSubspaces, PqCodebookSize, PqPlaneOffset)
    Pq.ivfPqTopK(e, "embedding", "vec_id", q, 20, cents, books, IvfPqNprobe)
      .select(col("id").as("vec_id"), col("adc_dist"))
  }

  private val pqCodesCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Stage the cluster-partitioned PQ-codes layout once (untimed ingest,
    * like the IVF/LSH layouts): (vec_id, code_0..3) under cluster=…
    * directories — 4 small ints per vector instead of 64 floats. */
  private def preparePqCodes(s: SparkSession, dir: String): String =
    Memo.memo(pqCodesCache, dir, {
      import graft.operators.Pq
      // every PQ/IVF parameter is part of the stamp: changing any of them
      // must invalidate the persisted codes, not silently reuse stale ones
      val p = "target/graft_pq_codes_" + layoutStamp(dir, "embeddings",
        s"pqcodes|$PqSubspaces|$PqCodebookSize|$PqPlaneOffset|$IvfPqClusters|$IvfPqPlaneOffset|v1")
      if (!layoutComplete(p)) {
        val cents = Pq.coarseCentroids(EmbeddingDim, IvfPqClusters, IvfPqPlaneOffset)
        val books = Pq.codebooks(EmbeddingDim, PqSubspaces, PqCodebookSize, PqPlaneOffset)
        Pq.encodeClustered(embeddings(s, dir), "embedding", "vec_id", cents, books)
          .write.mode("overwrite").partitionBy("cluster").parquet(p)
      }
      p
    })

  /** Persisted PQ probe driver query: the scan-side scale story
    * materialized — the probe reads ONLY the nprobe probed cluster
    * DIRECTORIES of the codes layout (partition pruning; 4 ints per
    * vector), then ADC-scores from codes alone. Result ≡ the fused
    * q_ann_ivf_pq (same assignment, probe set, and ADC arithmetic), so
    * its oracle applies verbatim. */
  def annPqPersisted(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val path = preparePqCodes(s, dir)
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val cents = Pq.coarseCentroids(EmbeddingDim, IvfPqClusters, IvfPqPlaneOffset)
    val books = Pq.codebooks(EmbeddingDim, PqSubspaces, PqCodebookSize, PqPlaneOffset)
    val probe = Pq.probeClusters(q, cents, IvfPqNprobe)
    val codes = s.read.parquet(path).where(col("cluster").isin(probe: _*))
    Pq.adcTopKFromCodes(codes, "vec_id", q, 20, books)
      .select(col("vec_id"), col("adc_dist"))
  }

  private val pqStreamedCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Streaming-maintained PQ codes driver query: the embeddings table
    * replayed as two micro-batches through [[graft.streaming.IngestPq]] —
    * each batch coarse-assigned and PQ-encoded under the FROZEN
    * deterministic centroids/codebooks and appended into the `cluster=N`
    * codes layout — then probed exactly like q_ann_pq_persisted
    * (partition-pruned ADC from codes alone). Appended codes ≡ the batch
    * encode of everything ingested, so q_ann_ivf_pq's oracle applies
    * verbatim. Same done-marker discipline as the streamed IVF layout
    * (an append-built layout without the marker may be half-ingested from
    * a dead JVM — rebuild). */
  def annPqStreamed(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.operators.Pq
    val cents = Pq.coarseCentroids(EmbeddingDim, IvfPqClusters, IvfPqPlaneOffset)
    val books = Pq.codebooks(EmbeddingDim, PqSubspaces, PqCodebookSize, PqPlaneOffset)
    val path = Memo.memo(pqStreamedCache, dir, {
      val p = "target/graft_pq_streamed_" + layoutStamp(dir, "embeddings",
        s"pqstream|$PqSubspaces|$PqCodebookSize|$PqPlaneOffset|$IvfPqClusters|$IvfPqPlaneOffset|v1")
      val done = Paths.get(p, "_graft_ingest_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(p))
        val root = stageEmbeddingHalves(s, dir, "graft_pq_stream_src")
        val ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        val ckpt =
          if (Files.isWritable(Paths.get("/dev/shm")))
            s"/dev/shm/graft_ckpt_pq_${streamSinkSeq.incrementAndGet()}"
          else s"target/graft_ckpt_pq_${streamSinkSeq.incrementAndGet()}"
        val schema = ss.read.parquet(root.toString).schema
        val stream = ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(root.toString)
        val q = graft.streaming.IngestPq.ingestToCodes(
          stream, "embedding", "vec_id", cents, books, p, Some(ckpt))
        try q.processAllAvailable()
        finally { q.stop(); deleteRecursively(Paths.get(ckpt)) }
        Files.write(done, Array.emptyByteArray)
      }
      p
    })
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val probe = Pq.probeClusters(q, cents, IvfPqNprobe)
    val codes = s.read.parquet(path).where(col("cluster").isin(probe: _*))
    Pq.adcTopKFromCodes(codes, "vec_id", q, 20, books)
      .select(col("vec_id"), col("adc_dist"))
  }

  /** Residual IVF-PQ driver query
    * ([[graft.operators.Pq.ivfPqResidualTopK]]): the classic form — probed
    * vectors PQ-code their residual v − centroid(cluster), and the query
    * carries one ADC table per probed cluster from its own residual. */
  def annIvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val cents = Pq.coarseCentroids(EmbeddingDim, IvfPqClusters, IvfPqPlaneOffset)
    val books = Pq.codebooks(EmbeddingDim, PqSubspaces, PqCodebookSize, PqPlaneOffset)
    Pq.ivfPqResidualTopK(e, "embedding", "vec_id", q, 20, cents, books, IvfPqNprobe)
      .select(col("id").as("vec_id"), col("adc_dist"))
  }

  /** Quantized ANN: int8-quantize the corpus, rank by quantized cosine for
    * the query vector of vec_id=0. Integer dot products are exact in
    * double, so the full ranking (not just the id set) is engine-stable. */
  def annTopKQuantized(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.where(col("vec_id") === 0).select(col("embedding")).first()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ann.quantizedTopK(e, "embedding", "vec_id", q, 20)
    import s.implicits._
    top.collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "vec_id")
  }

  /** Second multi-table-LSH parameterization (θ = 0.4 regime: wider buckets,
    * fewer tables — 64 buckets/table, recall ≈ 54% at the threshold's
    * plane-agreement probability p ≈ 0.63). Replaces the former EXACT
    * all-pairs driver entry, whose cross-join plan was the one scale
    * anti-pattern in the driver suite (VERDICT r3): at 100× vectors a
    * cartesian product is 10,000× the work. [[Ann.cosinePairsExact]] stays
    * available as the verification tool; OpsSpec pins LSH-vs-exact
    * agreement on a bounded sample instead. */
  val CosPairsBits = 6
  val CosPairsTables = 12
  val CosPairsThreshold = 0.4

  def cosinePairs(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDuplicatesMultiTable(embeddings(s, dir), "embedding", "vec_id",
      threshold = CosPairsThreshold, dim = EmbeddingDim,
      bits = CosPairsBits, tables = CosPairsTables)
      .select("id1", "id2").orderBy("id1", "id2")

  /** Multi-table LSH parameters for the cosine query: 16 tables × 8 bits =
    * 256 buckets per table (bounded bucket self-joins), recall ≈ 23% at the
    * 0.3 threshold's plane-agreement probability — the low-threshold demo
    * regime; near-dup workloads use the bits=16/tables=8 default. The
    * hyperplanes are driver-side constants, embedded as literals in the
    * oracle SQL, so the whole pipeline is oracle-checked. */
  val CosLshBits = 8
  val CosLshTables = 16
  val CosLshThreshold = 0.3
  val EmbeddingDim = 64

  /** LSH-recall measurement driver query: "measure, don't guess" as a
    * first-class query. On an explicit hash-sampled subset (vec_id ≡ 0
    * mod 32 — the bounded-input form VERDICT r3 prescribed for any exact
    * pair verification), count the exact cosine-threshold pairs and the
    * multi-table-LSH pairs (a subset by construction: LSH candidates are
    * exact-verified), and emit recall as the exact scaled integer
    * n_lsh·10⁴ DIV n_exact. The subset cross join is the deliberate,
    * size-capped verification twin — ~3k vectors at sf0.1 — never the
    * production path (that is q_embedding_cosine_lsh). */
  val RecallThreshold = 0.15

  def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE action for both counts: tag-union the two pair frames and run a
    // single grouped count (the sampled vector set is persisted so the two
    // subtrees share its scan instead of each re-reading parquet).
    val sub = embeddings(s, dir).where(col("vec_id") % 32 === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val lsh = Ann.cosineNearDuplicatesMultiTable(sub, "embedding", "vec_id",
        threshold = RecallThreshold, dim = EmbeddingDim,
        bits = CosLshBits, tables = CosLshTables)
        .select(lit("lsh").as("side"))
      val exact = Ann.cosinePairsExact(sub, "embedding", "vec_id",
        RecallThreshold).select(lit("exact").as("side"))
      val counts = lsh.union(exact).groupBy("side").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val lshCnt = counts.getOrElse("lsh", 0L)
      val exactCnt = counts.getOrElse("exact", 0L)
      val recall = if (exactCnt == 0) 10000L else lshCnt * 10000L / exactCnt
      Seq((exactCnt, lshCnt, recall))
        .toDF("n_exact", "n_lsh", "recall_pct_scaled")
    } finally sub.unpersist(blocking = false)
  }

  /** Retrieval-metrics driver query
    * ([[graft.operators.Ann.retrievalMetrics]]): the mod-32 vectors play
    * HELD-OUT queries against the rest of the corpus; ground truth is the
    * exact float-cosine top-10 per query, the retriever under test is the
    * int8-quantized ranking at the same k, and the metrics are per-query
    * recall hits + exact scaled reciprocal rank — MRR/recall@k of the
    * quantization dial, measured, not guessed. Both rankings are bounded
    * broadcast query fan-outs (the q_ann_topk_multi shape). */
  private def mrrInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = embeddings(s, dir)
    val corpus = e.where(col("vec_id") % 32 =!= 0)
    val queries = e.where(col("vec_id") % 32 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = Ann.bruteForceTopKJoin(
      corpus, "embedding", "vec_id", queries, "qv", "query_id", k = 10)
      .select(col("query_id"), col("id"))
    val corpusQ = corpus.select(col("vec_id"),
      Ann.int8Quantize(col("embedding")).getField("q").as("qv8"))
    val queriesQ = queries.select(col("query_id"),
      Ann.int8Quantize(col("qv")).getField("q").as("qq8"))
    val retrieved = Ann.bruteForceTopKJoin(
      corpusQ, "qv8", "vec_id", queriesQ, "qq8", "query_id", k = 10)
      .select(col("query_id"), col("id"), col("rank"))
    (retrieved, truth)
  }

  def annMrr(s: SparkSession, dir: String): DataFrame = {
    val (retrieved, truth) = mrrInputs(s, dir)
    Ann.retrievalMetrics(retrieved, truth).orderBy("query_id")
  }

  /** Rollup driver query ([[graft.operators.Ann.retrievalSummary]]): the
    * same quantized-retriever-vs-exact-truth setup as q_ann_mrr, reduced
    * to the ONE row people quote — recall@k and MRR as exact scaled
    * integers. Oracle = q_ann_mrr's per-query mirror wrapped in the same
    * integer rollup. */
  def annRetrievalSummary(s: SparkSession, dir: String): DataFrame = {
    val (retrieved, truth) = mrrInputs(s, dir)
    Ann.retrievalSummary(retrieved, truth)
  }

  /** Embedding-alignment driver query
    * ([[graft.operators.Ann.mutualNearestNeighbors]]): the mod-16 slice
    * plays the small (query-language) corpus, everything else the big one;
    * pairs survive iff each side is the other's best cosine match. */
  def embeddingAlign(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    Ann.mutualNearestNeighbors(
      e.where(col("vec_id") % 16 =!= 0),
      e.where(col("vec_id") % 16 === 0),
      "embedding", "vec_id")
      .orderBy("a_id")
  }

  /** Margin-scored alignment driver query
    * ([[graft.operators.Ann.mutualNearestNeighborsWithMargin]]): the same
    * mutual pairs, each scored by the ratio margin over both sides'
    * top-2 neighborhoods. */
  def embeddingAlignMargin(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    Ann.mutualNearestNeighborsWithMargin(
      e.where(col("vec_id") % 16 =!= 0),
      e.where(col("vec_id") % 16 === 0),
      "embedding", "vec_id", k = 2)
      .orderBy("a_id")
  }

  /** LSH-pruned alignment driver query
    * ([[graft.operators.Ann.mutualNearestNeighborsLsh]]): the large×large
    * form — same corpus slices as q_embedding_align, but candidate pairs
    * come from the multi-table LSH bucketing and the mutual top-1 filter
    * runs on the candidates, so NEITHER side broadcasts and no plan node
    * is a cross fan-out (suite plan pin applies in full). */
  def embeddingAlignLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    Ann.mutualNearestNeighborsLsh(
      e.where(col("vec_id") % 16 =!= 0),
      e.where(col("vec_id") % 16 === 0),
      "embedding", "vec_id", dim = EmbeddingDim,
      bits = CosLshBits, tables = CosLshTables)
      .orderBy("a_id")
  }

  /** Margin-scored LSH-pruned alignment driver query
    * ([[graft.operators.Ann.mutualNearestNeighborsLshWithMargin]]): the
    * large×large mutual pairs, each scored by the ratio margin over both
    * sides' top-2 CANDIDATE neighborhoods. */
  def embeddingAlignLshMargin(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    Ann.mutualNearestNeighborsLshWithMargin(
      e.where(col("vec_id") % 16 =!= 0),
      e.where(col("vec_id") % 16 === 0),
      "embedding", "vec_id", dim = EmbeddingDim,
      bits = CosLshBits, tables = CosLshTables, k = 2)
      .orderBy("a_id")
  }

  /** Multi-table LSH-bucketed cosine pairs (oracle-checked). */
  def cosinePairsLsh(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDuplicatesMultiTable(embeddings(s, dir), "embedding", "vec_id",
      threshold = CosLshThreshold, dim = EmbeddingDim,
      bits = CosLshBits, tables = CosLshTables)
      .select("id1", "id2").orderBy("id1", "id2")

  private val lshSigIndexCache = scala.collection.concurrent.TrieMap[String, String]()

  /** The same cosine pairs from the PERSISTED signature index
    * ([[graft.operators.Ann.writeLshSigIndex]] /
    * [[graft.operators.Ann.cosinePairsFromLshIndex]]): the layout is built
    * in two halves — overwrite then append — so the query exercises the
    * exact append path [[graft.streaming.IngestLsh]] rides, and the pair
    * computation reads postings instead of re-signing the corpus. Stored
    * signatures ≡ on-the-fly signatures (same fused plane expression), so
    * the output is [[cosinePairsLsh]]'s bit for bit and shares its oracle
    * SQL verbatim. */
  def cosinePairsLshPersisted(s: SparkSession, dir: String): DataFrame = {
    val path = Memo.memo(lshSigIndexCache, dir, {
      val p = "target/graft_lsh_sig_index_" + layoutStamp(dir, "embeddings",
        s"bits=$CosLshBits|tables=$CosLshTables|pfx=4|v1")
      if (!layoutComplete(p)) {
        val e = embeddings(s, dir)
        Ann.writeLshSigIndex(e.where(col("vec_id") % 2 === 0), "embedding",
          "vec_id", p, EmbeddingDim, CosLshBits, CosLshTables, prefixBits = 4)
        Ann.writeLshSigIndex(e.where(col("vec_id") % 2 =!= 0), "embedding",
          "vec_id", p, EmbeddingDim, CosLshBits, CosLshTables, prefixBits = 4,
          mode = "append")
      }
      p
    })
    Ann.cosinePairsFromLshIndex(s, path, embeddings(s, dir), "embedding",
      "vec_id", CosLshThreshold)
      .select("id1", "id2").orderBy("id1", "id2")
  }

  /** Semantic dedup parameters. The centroid family is the deterministic
    * [[Ann.planeVector]] family (disjoint plane offset from every LSH use),
    * normalized to unit length so no centroid's norm penalty dominates the
    * argmin — the oracle-stable parameterization, embedded verbatim as SQL
    * literals. Production trains centroids with [[Ivf.kmeansCentroids]]
    * instead; the dedup algebra (assign → within-cluster pairs →
    * components → keep-min) is identical for any centroid array. */
  val SemDedupK = 8
  val SemDedupThreshold = 0.3
  val SemDedupPlaneOffset = 4096

  lazy val semDedupCentroids: Array[Array[Double]] =
    (0 until SemDedupK).map { j =>
      val raw = Ann.planeVector(SemDedupPlaneOffset + j, EmbeddingDim).toArray
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }.toArray

  /** SemDeDup-shaped semantic dedup over the embeddings table: nearest-
    * centroid assignment (zero-shuffle argmin projection), within-cluster
    * cosine pairs ≥ 0.3, transitive collapse, keep-min. Output is the
    * kept (vec_id, cluster) — fully hash-checked against a DuckDB mirror
    * with the same centroid literals and a recursive-CTE component pass. */
  def semanticDedupQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(embeddings(s, dir), "embedding", "vec_id",
      semDedupCentroids, SemDedupThreshold)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy("vec_id")

  /** Cluster-quality driver query ([[graft.operators.Ivf.clusterStats]]):
    * per-cluster member counts, squared-distance extrema, and
    * decimal-accumulated inertia over the fixed deterministic centroid
    * family (the oracle-stable parameterization — a mirror of DATA-trained
    * centroids would have to reproduce k-means' double-sum accumulation
    * order; production monitors [[graft.operators.Ivf.kmeansCentroids]]
    * output with the same operator). */
  def annClusterStats(s: SparkSession, dir: String): DataFrame =
    Ivf.clusterStats(embeddings(s, dir), "embedding", semDedupCentroids)
      .orderBy("cluster")

  /** Classifier-agreement driver query
    * ([[graft.operators.Agreement.confusionWithKappa]]): the n-gram langId
    * heuristic scored against the stored lang metadata — confusion matrix
    * with marginals and the exact-rational Cohen's kappa
    * ((N·A − E)/(N² − E), one double division). */
  def langAgreement(s: SparkSession, dir: String): DataFrame =
    graft.operators.Agreement.confusionWithKappa(
      docs(s, dir).select(col("lang").as("gold"),
        TextOps.langId(col("text")).as("pred")),
      "gold", "pred")
      .orderBy("a", "b")

  /** PII scan + redaction: deterministic synthetic PII (email/IP/SSN/phone
    * derived from doc_id) is appended to each document, then counted and
    * redacted — pure codegen'd regex expressions, zero shuffle. The md5 of
    * the redacted text proves the REDACTION ITSELF (not just the counts)
    * matches the oracle byte-for-byte; the clean-text docs double as a
    * false-positive check. */
  def piiScan(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".1")))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" ssn 123-45-6789")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0, lit(" call 555-123-4567")).otherwise(lit("")))
      .as("text"))
    injected.select(
      col("doc_id") +:
        TextOps.PiiPatterns.map { case (name, pat) =>
          TextOps.piiCount(col("text"), pat).cast("long").as(s"n_$name")
        } :+
        md5(TextOps.redactPii(col("text")).cast("binary")).as("redacted_md5"): _*)
      .orderBy("doc_id")
  }

  /** Boilerplate-line removal, oracle-checked end to end: deterministic
    * boilerplate lines (newsletter/copyright chrome keyed off doc_id — the
    * corpus itself is single-line) are appended to each document, then
    * every line appearing in ≥ 20 documents is stripped and the text
    * re-assembled in order. The md5 of the CLEANED TEXT proves the
    * reconstruction (order, delimiter, empty-doc policy) byte-for-byte,
    * not just the counts; lines below the threshold double as a
    * false-positive check. */
  val BoilerplateMinDf = 20L

  def boilerplateClean(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).select(col("doc_id"), concat_ws("\n",
      col("text"),
      when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter")),
      when(col("doc_id") % 3 === 0, lit("all rights reserved")),
      when(col("doc_id") % 5 === 0,
        concat(lit("copyright "), (col("doc_id") % 3).cast("string"))))
      .as("text"))
    Dedup.removeBoilerplateLines(injected, "text", "doc_id",
      minDocFrequency = BoilerplateMinDf)
      .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
        md5(col("text").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Paragraph-granularity boilerplate removal: the same CCNet pass with
    * the unit of repetition a PARAGRAPH (blank-line delimited), so a
    * multi-line footer block is stripped or kept atomically — at line
    * granularity its first line could cross the document-frequency
    * threshold while its second stayed. The injected chrome blocks are
    * multi-line on purpose to pin exactly that difference; the promo
    * blocks (~n_docs/28 occurrences per variant) sit under the threshold
    * at sf0.01 as the false-positive check. */
  def boilerplateCleanPara(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).select(col("doc_id"), concat_ws("\n\n",
      col("text"),
      when(col("doc_id") % 2 === 0, lit("follow us\non twitter and facebook")),
      when(col("doc_id") % 3 === 0, lit("terms of service\nall rights reserved")),
      when(col("doc_id") % 7 === 0,
        concat(lit("promo code "), (col("doc_id") % 4).cast("string"))))
      .as("text"))
    Dedup.removeBoilerplateLines(injected, "text", "doc_id",
      minDocFrequency = BoilerplateMinDf,
      delimiterPattern = "\n\n", delimiter = "\n\n")
      .select(col("doc_id"), col("n_lines").as("n_paras"),
        col("n_lines_kept").as("n_paras_kept"),
        md5(col("text").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Support denominator for the heavy-hitter driver query: tokens with
    * frequency ≥ 1/500 of the corpus token stream (integer
    * cross-multiplied — no float threshold to drift across engines). */
  val HeavyHitterDenominator = 500L

  /** Exact support-threshold heavy hitters via Misra-Gries candidates +
    * exact recount ([[graft.operators.HeavyHitters]]): the sketch only
    * bounds the candidate set — the emitted counts are exact, which is
    * what lets a sketch-accelerated operator hash-check against a plain
    * GROUP BY / HAVING oracle. */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HeavyHitters
    val toks = HeavyHitters.tokenStream(docs(s, dir), "text")
    HeavyHitters.heavyHitters(toks, "token",
      denominator = HeavyHitterDenominator,
      capacity = 2 * HeavyHitterDenominator.toInt)
      .orderBy(col("freq").desc, col("token"))
  }

  /** Per-group support threshold: within each language, a token is heavy
    * at support ≥ 1/200 of THAT language's token stream — the per-segment
    * question ("dominant tokens per language / boilerplate per domain")
    * the global sketch cannot answer, since a small language's heavy
    * tokens are invisible against the whole corpus's N. */
  val HeavyHitterGroupDenominator = 200L

  /** Exact PER-GROUP heavy hitters
    * ([[graft.operators.HeavyHitters.heavyHittersByGroup]]): one
    * independent Misra-Gries sketch per (partition, language) bounds each
    * group's candidates against its OWN stream length, then the exact
    * recount keyed on (lang, token) — so the emitted counts hash-check
    * against a plain per-group GROUP BY / HAVING oracle. */
  def textHeavyHittersGrouped(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HeavyHitters
    val toks = HeavyHitters.tokenStreamByGroup(docs(s, dir), "lang", "text")
    HeavyHitters.heavyHittersByGroup(toks, "lang", "token",
      denominator = HeavyHitterGroupDenominator,
      capacity = 2 * HeavyHitterGroupDenominator.toInt)
      .orderBy(col("lang"), col("freq").desc, col("token"))
  }

  private val hhIngestCache =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** STREAMING per-group heavy hitters driver query
    * ([[graft.streaming.IngestHeavyHitters]] — batch-driven, the same
    * unit foreachBatch delivers): batch 0 ingests the even-doc half's
    * (lang, token) stream, batch 1 the odd half, and batch 1 is then
    * REPLAYED — at-least-once delivery, converged by the batch-dir
    * overwrite discipline. Each batch lands only its bounded MG candidate
    * summaries plus its raw rows; the probe merges the persisted
    * summaries (MG mergeability: per-batch deficits sum to the global
    * N/(capacity+1) bound), prunes per group, and exact-recounts against
    * the accumulated corpus — so it must equal the plain GROUP BY/HAVING
    * mirror over ALL documents. Shares q_text_heavy_hitters_grouped's
    * oracle verbatim: "top boilerplate per domain, continuously" with no
    * weaker a guarantee than the batch operator. */
  def textHeavyHittersStreamed(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.streaming.IngestHeavyHitters
    val cap = 2 * HeavyHitterGroupDenominator.toInt
    val (sumP, corP) = Memo.memo(hhIngestCache, dir, {
      val root = "target/graft_hh_ingest_" + layoutStamp(dir, "documents",
        s"hh|$HeavyHitterGroupDenominator|$cap|v2")
      val (sp, cp) = (s"$root/summaries", s"$root/corpus")
      val done = Paths.get(root, "_graft_ingest_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        def slice(parity: Int) = graft.operators.HeavyHitters.tokenStreamByGroup(
          docs(s, dir).where(col("doc_id") % 3 === parity), "lang", "text")
        IngestHeavyHitters.processBatch(slice(0), 0L, sp, cp, "lang", "token", cap)
        IngestHeavyHitters.processBatch(slice(1), 1L, sp, cp, "lang", "token", cap)
        // replay of a delivered batch: the batch-dir overwrite converges
        IngestHeavyHitters.processBatch(slice(1), 1L, sp, cp, "lang", "token", cap)
        // consolidation fence at the committed frontier: batches 0-1 merge
        // into one summary aggregate + one (group, token, count) corpus
        // aggregate per layout — MG-mergeable, so the probe is bit-identical
        IngestHeavyHitters.consolidate(s, sp, cp, 2L, "lang", "token")
        // a STALE replay from below the fence is skipped as the no-op it is
        IngestHeavyHitters.processBatch(slice(0), 0L, sp, cp, "lang", "token", cap)
        // one post-fence batch rides alongside the consolidated dirs
        IngestHeavyHitters.processBatch(slice(2), 2L, sp, cp, "lang", "token", cap)
        Files.write(done, Array.emptyByteArray)
      }
      (sp, cp)
    })
    IngestHeavyHitters.probe(s, sumP, corP, "lang", "token",
      HeavyHitterGroupDenominator)
      .orderBy(col("lang"), col("freq").desc, col("token"))
  }

  private val hhLateEraseCache =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** LATE-erasure heavy hitters ([[graft.streaming.IngestHeavyHitters]]
    * with `retainIds` consolidation): batches 0-1 ingest two doc slices
    * WITH the document id, consolidate under a fence keeping the id in
    * the corpus aggregate — and only THEN does the erasure request
    * arrive (`doc_id % 17 = 0`), reaching rows already merged below the
    * fence. A post-fence batch re-delivers some erased docs (tombstones
    * persist, so they stay invisible). The probe must equal the plain
    * GROUP BY/HAVING mirror with erased docs excluded from every token
    * frequency while support thresholds stay against INGESTED group
    * totals (the summaries hold no ids — the stricter-only contract). */
  def textHeavyHittersLateErase(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.streaming.IngestHeavyHitters
    val cap = 2 * HeavyHitterGroupDenominator.toInt
    val (sumP, corP) = Memo.memo(hhLateEraseCache, dir, {
      val root = "target/graft_hh_late_erase_" + layoutStamp(dir, "documents",
        s"hh-late|$HeavyHitterGroupDenominator|$cap|mod17|v1")
      val (sp, cp) = (s"$root/summaries", s"$root/corpus")
      val done = Paths.get(root, "_graft_ingest_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        // the ONE canonical tokenization (tokenStreamByGroup) with the
        // erasure handle riding as a carry column — an inline copy here
        // could drift from the grouped oracles' definition
        def slice(parity: Int) = graft.operators.HeavyHitters.tokenStreamByGroup(
          docs(s, dir).where(col("doc_id") % 3 === parity),
          "lang", "text", "doc_id")
        IngestHeavyHitters.processBatch(slice(0), 0L, sp, cp, "lang", "token",
          cap, idCol = Some("doc_id"))
        IngestHeavyHitters.processBatch(slice(1), 1L, sp, cp, "lang", "token",
          cap, idCol = Some("doc_id"))
        IngestHeavyHitters.consolidate(s, sp, cp, 2L, "lang", "token",
          retainIds = true)
        // the LATE request: ids merged below the fence are still reachable
        IngestHeavyHitters.deleteIds(
          docs(s, dir).where(col("doc_id") % 17 === 0).select("doc_id"),
          cp, "doc_id")
        // post-fence delivery re-carries some erased docs — tombstones win
        IngestHeavyHitters.processBatch(slice(2), 2L, sp, cp, "lang", "token",
          cap, idCol = Some("doc_id"))
        Files.write(done, Array.emptyByteArray)
      }
      (sp, cp)
    })
    IngestHeavyHitters.probe(s, sumP, corP, "lang", "token",
      HeavyHitterGroupDenominator)
      .orderBy(col("lang"), col("freq").desc, col("token"))
  }

  /** Count-Min grid shape for the sketch driver query: 4 rows × 1024
    * buckets — a few KiB, whatever the corpus size. */
  val CountMinDepth = 4
  val CountMinWidth = 1024

  /** Count-Min sketch driver query ([[graft.operators.CountMin]]): build
    * the counter grid over the whitespace token stream, then point-query
    * it for the exact heavy-hitter key set, emitting the true count next
    * to the sketch estimate (`est ≥ freq` always; equality whenever the
    * token's min-row is collision-free). The md5 hash family makes the
    * grid — and therefore every estimate — bit-identical in the oracle's
    * SQL mirror, so a probabilistic structure hash-checks exactly. */
  def sketchCountMin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CountMin, HeavyHitters}
    val toks = HeavyHitters.tokenStream(docs(s, dir), "text")
    val grid = CountMin.sketch(toks, "token", CountMinDepth, CountMinWidth)
    val heavy = HeavyHitters.heavyHitters(toks, "token",
      denominator = HeavyHitterDenominator,
      capacity = 2 * HeavyHitterDenominator.toInt)
    CountMin.estimate(grid, heavy, "token", CountMinDepth, CountMinWidth)
      .join(broadcast(heavy), Seq("token"))
      .select(col("token"), col("freq"), col("est"))
      .orderBy("token")
  }

  /** Register count for the distinct-sketch driver query: 256 registers →
    * ~1.04/√256 ≈ 6.5% standard error, 2 KiB of state. */
  val DistinctBuckets = 256

  /** HLL-style distinct-count sketch driver query
    * ([[graft.operators.DistinctSketch]]): md5-bucketed max-rank registers
    * over the token stream, the exact-integer register sum, and the
    * harmonic-mean estimate (one double division against a compile-time
    * constant) — next to the exact distinct count for calibration. The two
    * single-row aggregates combine via a tagged union + global max, NOT a
    * join (the constant-key crossJoin degenerates to a nested-loop join —
    * the chi²/kappa plan lesson). */
  def sketchDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DistinctSketch
    val m = DistinctBuckets
    // distinct event ids — the "unique events/visitors" cardinality ask;
    // decimal string form so both engines hash identical bytes. NOT
    // cached: two pruned single-column parquet scans are cheaper than a
    // cache fill + read (measured 1.2× slower cached — r16 A/B).
    val ids = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id").cast("string").as("v"))
    val summ = DistinctSketch.estimate(
      DistinctSketch.registers(ids, "v", m), m)
    val exact = ids.agg(count_distinct(col("v")).as("exact_distinct"))
    summ.withColumn("exact_distinct", lit(null).cast("long"))
      .unionByName(exact.select(
        lit(null).cast("long").as("n_buckets"),
        lit(null).cast("long").as("zero_buckets"),
        lit(null).cast("long").as("sum_pow"),
        lit(null).cast("decimal(38,6)").as("est"),
        col("exact_distinct")))
      .agg(max("n_buckets").as("n_buckets"),
        max("zero_buckets").as("zero_buckets"),
        max("sum_pow").as("sum_pow"),
        max("est").as("est"),
        max("exact_distinct").as("exact_distinct"))
  }

  /** Grouped distinct-sketch driver query: distinct users PER EVENT TYPE
    * via per-group HLL registers ([[graft.operators.DistinctSketch
    * .registersByGroup]] — ≤ groups·m rows shuffle at any data size), the
    * exact per-group distinct joined alongside so the sketch's error is
    * itself measured. Register sums are exact BIGINTs; one double
    * division per group. */
  def sketchDistinctGrouped(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DistinctSketch
    val m = DistinctBuckets
    val ids = s.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("user_id").cast("string").as("v"))
    val est = DistinctSketch.estimateByGroup(
      DistinctSketch.registersByGroup(ids, Seq("event_type"), "v", m),
      Seq("event_type"), m)
    val exact = ids.groupBy("event_type")
      .agg(count_distinct(col("v")).as("exact_distinct"))
    est.join(broadcast(exact), Seq("event_type"))
      .orderBy("event_type")
  }

  /** Streaming distinct-sketch driver query
    * ([[graft.streaming.StreamingDistinct]]): the events replay maintains
    * the per-event-type HLL register table incrementally (per-batch
    * register merge by max — associative, commutative, idempotent), then
    * estimates from the MAINTAINED table. Max-merge exactness means the
    * final registers equal the batch registers over the whole feed, so
    * q_sketch_distinct_grouped's oracle applies verbatim. */
  def eventsStreamDistinct(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.operators.DistinctSketch
    import graft.streaming.StreamingDistinct
    val m = DistinctBuckets
    val staged = stageStreamDir(s, dir)
    val seq = streamSinkSeq.incrementAndGet()
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val table = s"target/graft_regs_$seq"
    deleteRecursively(Paths.get(table))
    val ckpt =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_regs_$seq"
      else s"target/graft_ckpt_regs_$seq"
    val q = StreamingDistinct.ingestRegisters(
      ss, staged, ss.read.parquet(staged), table, ckpt,
      Seq("event_type"), "v", m,
      prepare = b => b.select(col("event_type"), col("user_id").cast("string").as("v")))
    try q.processAllAvailable()
    finally { q.stop(); deleteRecursively(Paths.get(ckpt)) }
    val est = DistinctSketch.estimateByGroup(
      ss.read.parquet(table), Seq("event_type"), m)
    val exact = ss.read.parquet(staged)
      .select(col("event_type"), col("user_id").cast("string").as("v"))
      .groupBy("event_type")
      .agg(count_distinct(col("v")).as("exact_distinct"))
    est.join(broadcast(exact), Seq("event_type"))
      .orderBy("event_type")
  }

  /** Edit-distance budget for the fuzzy-join driver query. */
  val FuzzyK = 2

  /** Fuzzy-join driver query ([[graft.operators.FuzzyJoin]]): dictionary-
    * first record linkage over part names — distinct values with class
    * sizes, PassJoin segment-blocked pairs at edit distance ≤ 2, sizes
    * mapped back. The oracle is deliberately NOT a mirror of the blocking:
    * it brute-forces `levenshtein ≤ k` over the dictionary, so the hash
    * match PROVES the pigeonhole candidate generation is recall-complete
    * on this corpus, not merely self-consistent. */
  def fuzzyJoinNames(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.linkValues(
      s.read.parquet(s"$dir/part.parquet").select("p_name"), "p_name", FuzzyK)
      .orderBy("name1", "name2")

  /** Entity-resolution composite driver query: fuzzy pairs (PassJoin,
    * ed ≤ 2) over the part-name dictionary → connected components →
    * per-entity canonical record (min name) with name/row counts. The
    * linkage layer every dedup pipeline ends with: pair evidence →
    * transitive closure → survivorship. Node ids are min-partkey per name
    * (deterministic), singletons re-admitted by coalesce; only multi-name
    * entities emit. The oracle brute-forces the pairs (recall-complete
    * check, like q_fuzzy_join) and closes components with the recursive-CTE
    * min-label walk. */
  def entityResolution(s: SparkSession, dir: String): DataFrame = {
    val dict = s.read.parquet(s"$dir/part.parquet")
      .groupBy("p_name")
      .agg(count(lit(1)).as("n"), min(col("p_partkey")).cast("long").as("nid"))
    val pairs = graft.operators.FuzzyJoin.selfJoin(dict, "nid", "p_name", FuzzyK)
    val comp = graft.operators.Dedup.connectedComponents(pairs, "id1", "id2")
    dict.join(comp, dict("nid") === comp("id"), "left")
      .select(col("p_name"), col("n"),
        coalesce(col("comp"), col("nid")).as("entity"))
      .groupBy("entity")
      .agg(count(lit(1)).as("n_names"), min(col("p_name")).as("canonical_name"),
        sum(col("n")).as("n_rows"))
      .where(col("n_names") >= 2)
      .orderBy("entity")
  }

  /** Wider grid for the join-size sketch: the inner-product estimator's
    * expected collision excess is |A|·|B|/width, so width scales with the
    * row count it forecasts for (64 Ki buckets ⇒ ~3% excess at sf0.01). */
  val JoinSizeWidth = 65536

  /** Join-cardinality-forecast driver query
    * ([[graft.operators.CountMin.joinSizeEstimate]]): predict the
    * l_partkey self-join size (the cost of any blocking/linkage pass on
    * that key) from two CM grids, next to the exact `Σ n²` ground truth.
    * The two single-row frames combine via tagged union + global max —
    * never a constant-key join. */
  def sketchJoinSize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    // NOT cached: the grid's aggregation exchange is reused across both
    // sides of the self-estimate within the one action (explicit caches
    // measured no better — r16 A/B)
    val keys = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey").cast("string").as("k"))
    val grid = CountMin.sketch(keys, "k", CountMinDepth, JoinSizeWidth)
    val est = CountMin.joinSizeEstimate(grid, grid)
    val exact = keys.groupBy("k").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * col("n")).as("exact_size"))
    est.withColumn("exact_size", lit(null).cast("long"))
      .unionByName(exact.select(lit(null).cast("long").as("est"),
        col("exact_size")))
      .agg(max("est").as("est"), max("exact_size").as("exact_size"))
  }

  /** Merge steps for the BPE-trainer driver query. */
  val BpeSteps = 8

  /** BPE tokenizer-training driver query
    * ([[graft.operators.BpeTrainer.topMerges]]): the first 8 merge rules
    * learned over the corpus's word-frequency table, each chosen by
    * weighted pair count with a total tie-break. Data-dependent iterative
    * training hash-checks because merge application is literal string
    * replace on the paren symbol encoding — identical LTR non-overlap
    * semantics in every engine — and the oracle unrolls the 8 iterations
    * as stacked CTEs. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpeTrainer.topMerges(docs(s, dir), "text", BpeSteps)
      .orderBy("step")

  /** End-to-end BPE tokenization driver query: train the 8 merges, then
    * encode every document's words with the learned table
    * ([[graft.operators.BpeTrainer.encodeWords]] — a pure expression
    * chain of 8 literal replaces, no join against a vocabulary) and roll
    * up per-document word/symbol counts. One corpus scan + one id-keyed
    * aggregation after training. */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BpeTrainer
    val d = docs(s, dir)
    val merges = BpeTrainer.topMerges(d, "text", BpeSteps).orderBy("step")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val words = d.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("t"))
      .select(col("doc_id"), lower(col("t")).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
    BpeTrainer.encodeWords(words, "w", merges)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_symbols").cast("long")).as("n_symbols"))
      .orderBy("doc_id")
  }

  /** Per-document OOV ratio against the corpus's own top-20 vocabulary. */
  def vocabStats(s: SparkSession, dir: String): DataFrame =
    TextOps.inVocabStats(docs(s, dir), "text", "doc_id", topK = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Stratified training-mix sampling: downsample English hard and German
    * lightly, keep everything else — rolled up per language. */
  def stratifiedCounts(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
      Map("en" -> 40, "de" -> 70), defaultPct = 100)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** Per-language top-3 documents by quality score through the bounded-heap
    * group-top-k operator — the scale shape that replaces the
    * parallelism-collapsing `row_number` window (map-side partial top-k,
    * ≤ k×partitions rows shuffle per group). Oracle-checked against the
    * window formulation it replaces. */
  def topQualityPerLang(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GroupTopK
    val scored = docs(s, dir).select(col("doc_id"), col("lang"),
      TextOps.qualityScore(col("text")).as("quality_score"))
    GroupTopK.topKPerGroup(scored, Seq("lang"), "quality_score", "doc_id", 3)
      .orderBy("lang", "rank")
  }

  /** ADAPTIVE per-language quality gate
    * ([[graft.operators.Profile.thresholdsByGroup]]): each language's cut
    * is ITS OWN exact p75 quality order statistic — one global threshold
    * misgrades languages whose score distributions sit lower. The per-group
    * quantile runs through the distributed rank selection (each group a
    * "column" of the bucketed two-phase machinery — no per-group full
    * sort), then one broadcast join + counting pass tallies survivors.
    * Output: (lang, n_docs, threshold, n_kept). */
  def qualityAdaptive(s: SparkSession, dir: String): DataFrame = CacheScope.pass {
    import graft.operators.Profile
    // the regex-heavy quality score is the expensive projection and every
    // downstream pass (per-group stats, rank-selection histogram, hit-bucket
    // sort, final tally) re-reads it — cache the scored frame so the corpus
    // pays ONE heavy text scan + three cheap cached reads (the 100 TB idiom
    // is persisting the score column; CacheScope.persist is its in-session twin)
    val scored = CacheScope.persist(docs(s, dir).select(col("doc_id"), col("lang"),
      TextOps.qualityScore(col("text")).as("quality_score")))
    val thr = Profile.thresholdsByGroup(scored, "lang", "quality_score", 3, 4)
    scored.join(broadcast(thr), Seq("lang"))
      .groupBy("lang")
      .agg(max(col("n")).as("n_docs"),
        max(col("threshold")).as("threshold"),
        sum(when(col("quality_score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy("lang")
  }

  /** Bootstrap-replicate count for the corpus-metric error bar query. */
  val BootstrapReplicates = 32

  /** Deterministic Poisson-bootstrap driver query
    * ([[graft.operators.Sampling.poissonBootstrapMeans]]): 32 reproducible
    * resample replicates of the corpus's mean quality score in ONE
    * map-side pass — the error bar every "corpus quality went up" claim
    * needs. Integer-exact replicate sums; the caller reads the replicate
    * spread as the CI. */
  def qualityBootstrap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val scored = docs(s, dir).select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality_score"))
    Sampling.poissonBootstrapMeans(scored, "quality_score", "doc_id",
      BootstrapReplicates)
      .orderBy("replicate")
  }

  /** Deterministic 5-document inspection sample per source domain (smallest
    * md5 key hashes win — reproducible, engine-mirrorable, no window sort). */
  def samplePerSource(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GroupTopK
    GroupTopK.hashSampleKPerGroup(docs(s, dir), Seq("source"), "doc_id", 5)
      .orderBy("source", "rank")
  }

  /** Weighted bottom-k sample driver query: integer weights 1..7 cycling
    * with n_chars, k = 100 — min-of-w md5 priorities are the integer-exact
    * Efraimidis–Spirakis key ([[graft.operators.Sampling.weightedSample]]),
    * so the selected set, its weights, and every priority value mirror
    * bit-for-bit in DuckDB via generate_series + the shared md5 prefix
    * parse. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val d = docs(s, dir)
      .withColumn("w", (col("n_chars") % 7 + 1).cast("long"))
    Sampling.weightedSample(d, "doc_id", "w", k = 100)
      .orderBy("priority", "doc_id")
  }

  /** Per-group weighted sample driver query: the same 1..7 weights, 5 docs
    * per source domain, ranked by the min-of-w md5 priority within each
    * group via the bounded heap (no window sort —
    * [[graft.operators.Sampling.weightedSamplePerGroup]]). */
  def sampleWeightedGrouped(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val d = docs(s, dir)
      .withColumn("w", (col("n_chars") % 7 + 1).cast("long"))
    Sampling.weightedSamplePerGroup(d, Seq("source"), "doc_id", "w", k = 5)
      .orderBy("source", "rank")
  }

  /** Mixture-plan budget (chars) and weight rule for the driver queries:
    * weight 1..5 cycling with the source's numeric suffix, so the plan
    * exercises unequal targets; the budget is sized so sf0.01 upsamples
    * the heavy sources (epochs > 1) while sf0.1 undersamples them —
    * both planner regimes sit under the oracle. */
  val MixtureBudgetChars = 300000L
  private def mixtureWeight(group: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(1) + substring(group, 4, 10).cast("int") % 5

  /** Data-mixing plan per source: availability, target weight, desired
    * size, epochs, per-epoch acceptance rate (all exact-rational doubles —
    * oracle-checked bit-for-bit). */
  def mixturePlanQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.mixturePlan(docs(s, dir), "source", "n_chars",
      mixtureWeight, MixtureBudgetChars)
      .withColumnRenamed("group", "source")
      .orderBy("source")
  }

  /** The applied mixture: every surviving (doc, epoch) pair under the plan
    * above — upsampled sources emit multiple epochs per doc, downsampled
    * sources thin deterministically by md5 bucket. */
  def mixtureSampleQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.mixtureSample(docs(s, dir), "source", "n_chars", "doc_id",
      mixtureWeight, MixtureBudgetChars)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Deterministic training order ([[graft.operators.TrainOrder]]): the
    * epoch-seeded pseudorandom permutation of the corpus as (shard, pos)
    * coordinates — one hash shuffle + per-shard local sort, no global
    * ordering. Portable md5 family so the oracle mirrors bit-for-bit. */
  def trainOrderQuery(s: SparkSession, dir: String): DataFrame =
    TrainOrder.order(docs(s, dir).select(col("doc_id")), "doc_id",
      seed = 7L, shards = 8, portable = true)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** The PERSISTED face of the training order: writeShards lands the
    * seed-7 epoch as `shard=` directories (one pos-ordered file each,
    * staged in [[prepareIndexes]] once per JVM × dir under a content
    * stamp), and the query reads the coordinates back from the LAYOUT —
    * same oracle as q_train_order, so a dropped, duplicated, or
    * corrupted COORDINATE anywhere in the write-read round trip breaks
    * the hash. (The hash cannot see physical row order inside a shard
    * file — the query re-sorts by (shard, pos) — so the in-file
    * pos-order contract is pinned by TrainOrderSpec's file-level check,
    * not here.) */
  private val trainShardsCache =
    scala.collection.concurrent.TrieMap[String, String]()

  def trainShardsQuery(s: SparkSession, dir: String): DataFrame = {
    val path = Memo.memo(trainShardsCache, dir, {
      val p = "target/graft_train_shards_" +
        layoutStamp(dir, "documents", "seed=7|shards=8|portable|v1")
      if (!layoutComplete(p))
        TrainOrder.writeShards(docs(s, dir).select(col("doc_id")), "doc_id",
          seed = 7L, shards = 8, p, portable = true)
      p
    })
    s.read.parquet(path)
      .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** Weighted interleave of two corpus halves into one deterministic
    * training stream (mixture weights 2:1 — the heavy source packs twice
    * as densely along every shard's prefix). */
  def trainInterleaveQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TrainOrder.interleave(Seq(
        ("even", d.where(col("doc_id") % 2 === 0), 2.0),
        ("odd", d.where(col("doc_id") % 2 =!= 0), 1.0)),
      "doc_id", seed = 3L, shards = 4, portable = true)
      .orderBy("shard", "pos")
  }

  /** The PERSISTED face of the mixed epoch: writeInterleavedShards lands
    * the 2:1 interleave WITH its payload (`lang` rides along) as `shard=`
    * directories — one pos-ordered file each — and the query reads the
    * mixed stream back from the LAYOUT. The oracle recomputes the
    * interleave relationally and joins the payload, so a dropped row, a
    * mis-assigned coordinate, OR a payload value detached from its row
    * anywhere in the write-read round trip breaks the hash. (In-file pos
    * order is pinned by TrainOrderSpec's file-level check — the hash
    * cannot see physical order because the query re-sorts.) */
  private val trainInterleaveShardsCache =
    scala.collection.concurrent.TrieMap[String, String]()

  private def trainInterleaveShardsPath(s: SparkSession, dir: String): String =
    Memo.memo(trainInterleaveShardsCache, dir, {
      // v3: the payload now carries n_chars too (the indexed budget-cut
      // query's token column) and the landing stages the write-once
      // per-pos token index beside the layout — earlier-versioned dirs
      // re-stage. Queries project their columns explicitly, so the wider
      // payload changes no existing oracle.
      val p = "target/graft_train_ileave_shards_" +
        layoutStamp(dir, "documents", "seed=3|shards=4|w=2:1|lang|v3")
      // explicit done marker AFTER the token index, not the layout's own
      // _SUCCESS: the parquet commit lands before the manifest and index
      // writes, so a crash between them would otherwise wedge (partial
      // index dir → unreadable) or silently downgrade (missing index →
      // permanent fallback) every later run against this stamp
      val done = java.nio.file.Paths.get(p + "_done")
      if (!java.nio.file.Files.exists(done)) {
        deleteRecursively(java.nio.file.Paths.get(p))
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        TrainOrder.writeInterleavedShards(Seq(
            ("even", d.where(col("doc_id") % 2 === 0), 2.0),
            ("odd", d.where(col("doc_id") % 2 =!= 0), 1.0)),
          "doc_id", seed = 3L, shards = 4, p, portable = true)
        TrainOrder.writeTokenIndex(s, p, "n_chars")
        java.nio.file.Files.createFile(done)
      }
      p
    })

  def trainInterleaveShardsQuery(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(trainInterleaveShardsPath(s, dir))
      .select(col("source"), col("doc_id"), col("lang"),
        col("shard").cast("long").as("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** Mid-epoch RESUME over the persisted mixed layout: after a crash at
    * global step `afterPos = 100`, [[TrainOrder.resume]] re-opens the
    * SAME `shard=` layout q_train_interleave_shards landed and reads only
    * `pos > 100` in every shard. Because each shard file was written in
    * pos order, the pushed `pos > 100` predicate prunes whole row groups
    * (TrainOrderSpec pins PushedFilters) — I/O follows the remaining
    * suffix of the epoch, not the corpus. Oracle: the interleave mirror
    * filtered to the same cutoff, so a row wrongly skipped (or a trained
    * row re-served) breaks the hash. */
  def trainResumeQuery(s: SparkSession, dir: String): DataFrame =
    TrainOrder.resume(s, trainInterleaveShardsPath(s, dir), afterPos = 100L)
      .select(col("source"), col("doc_id"), col("lang"),
        col("shard").cast("long").as("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** RAGGED resume — the real crash shape: a preempted multi-host run
    * leaves each shard at its OWN frontier, and [[TrainOrder.resume]]'s
    * Map overload compiles the per-shard cutoffs to
    * `shard = k AND pos > p_k` disjunctions that keep partition pruning
    * (the finished shard 1 is omitted and never even listed) AND row-group
    * pruning (the pushed `pos > min(p_k)` skips the common trained
    * prefix). The frontier is validated against the layout's landed
    * manifest. Oracle: the interleave mirror under the identical ragged
    * WHERE, so a row wrongly skipped, a trained row re-served, or a
    * finished shard leaking back breaks the hash. */
  def trainResumeRaggedQuery(s: SparkSession, dir: String): DataFrame =
    TrainOrder.resume(s, trainInterleaveShardsPath(s, dir),
      Map(0L -> 20L, 2L -> 0L, 3L -> 5L))
      .select(col("source"), col("doc_id"), col("lang"),
        col("shard").cast("long").as("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** The shard-layout MANIFEST, read back with zero parquet footer touches
    * (TrainOrderSpec pins that property; this query pins the CONTENT): one
    * row per landed shard with its row count and max pos — what a training
    * loader consults before step one instead of 100k footer stats, and
    * what ragged resume validates frontiers against. Oracle: the same
    * stats recomputed relationally from the interleave mirror, so a
    * manifest that drifts from the landed data by one row breaks the
    * hash. */
  def trainManifestQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TrainOrder.readManifestOpt(s, trainInterleaveShardsPath(s, dir))
      .getOrElse(throw new IllegalStateException(
        "interleave-shards layout has no manifest — landing failed"))
      .toSeq.map { case (k, (n, mx)) => (k, n, mx) }.sortBy(_._1)
      .toDF("shard", "n_rows", "max_pos")
  }

  /** The FULL training recipe — epoch counts, not density weights: 2.5
    * epochs of the even half mixed with 1 epoch of the odd half.
    * [[TrainOrder.interleaveEpochsRows]] replicates each source by its
    * epoch count (floor(e) full passes + a deterministic keep-hash
    * fraction), places every replica independently (hashed on `rep_id`),
    * and weights the mixture by the replicated row counts so both
    * sources exhaust together (up to per-shard hash balance). The oracle
    * rebuilds replication (range + keep-hash threshold literal), the
    * co-finish weights (count per source), and both windows
    * relationally. */
  def trainEpochsQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"))
    TrainOrder.interleaveEpochsRows(Seq(
        ("even", d.where(col("doc_id") % 2 === 0), 2.5),
        ("odd", d.where(col("doc_id") % 2 =!= 0), 1.0)),
      "doc_id", seed = 5L, shards = 4, portable = true)
      .select(col("source"), col("doc_id"), col("rep"), col("lang"),
        col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** Temperature-weighted mixture planning ([[TrainOrder
    * .temperatureEpochs]]): the 10%/90% source split at α = 1/2 —
    * sampling mass ∝ √n flattens toward the rare source, whose epoch
    * multiplier then hits the maxEpochs = 4 cap while the common source
    * stays under it (both branches of the `least` live). Oracle: the
    * identical float algebra — sqrt (= n^(1/2) bit-for-bit in IEEE
    * libms), the sorted-tag list_sum normalizer, the same left-
    * associated epochs expression — so a drifted fold order or a wrong
    * cap breaks the hash. */
  def trainTemperatureQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    val sources = Seq(
      ("rare", d.where(col("doc_id") % 10 === 0)),
      ("common", d.where(col("doc_id") % 10 =!= 0)))
    val sizes = sources.map { case (t, df) => t -> df.count() }
    val mix = TrainOrder.temperatureEpochs(sizes, alpha = 0.5,
      budget = 2000L, maxEpochs = 4.0).toMap
    import s.implicits._
    sizes.map { case (t, n) => (t, n, mix(t)) }
      .toDF("source", "n", "epochs").orderBy("source")
  }

  /** Curriculum training order ([[TrainOrder.curriculum]]): sequence-length
    * tiers (the classic length curriculum — short documents first) with the
    * seeded permutation WITHIN each tier. Boundaries (180, 420) split the
    * corpus roughly 25/50/25; tier = comparison count, pos ranks
    * (tier, hash, id) within the shard. Oracle: the identical CASE
    * comparisons + window, so a row in the wrong tier, a tier streamed out
    * of order, or a broken intra-tier permutation breaks the hash. */
  def trainCurriculumQuery(s: SparkSession, dir: String): DataFrame =
    TrainOrder.curriculum(docs(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", Seq(180.0, 420.0), seed = 11L, shards = 8,
      portable = true)
      .select(col("doc_id"), col("tier"), col("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** Quantile-DERIVED curriculum ([[TrainOrder.curriculumByQuantiles]]):
    * the 25/50/25 length curriculum with boundaries derived as
    * percentile_disc order statistics of n_chars (rank ceil(p·n) via the
    * distributed rank selection) instead of hand-picked literals. Oracle:
    * DuckDB derives the same boundaries with ANSI percentile_disc (the
    * q_profile_numeric equivalence) and replays the identical CASE +
    * window algebra — a drifted boundary rank or a mis-tiered row breaks
    * the hash. */
  def trainCurriculumQuantilesQuery(s: SparkSession, dir: String): DataFrame =
    TrainOrder.curriculumByQuantiles(
      docs(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", Seq(0.25, 0.5, 0.25), seed = 17L, shards = 8,
      portable = true)
      .select(col("doc_id"), col("tier"), col("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** Token-budget PREFIX cut ([[TrainOrder.prefixByBudget]]): the maximal
    * (pos, shard)-lexicographic prefix of the 2:1 mixed stream whose
    * n_chars sum fits 60k — "train on the first 60k chars of this
    * mixture". Exercises both halves of the cut: the last fully-covered
    * position AND the boundary-position shard refinement that spends the
    * remainder in shard order. Oracle: a running window sum over the
    * interleave mirror in the same (pos, shard) order filtered to the
    * budget — one row over or under the cut breaks the hash. */
  def trainBudgetPrefixQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
    val stream = TrainOrder.interleaveRows(Seq(
        ("even", d.where(col("doc_id") % 2 === 0), 2.0),
        ("odd", d.where(col("doc_id") % 2 =!= 0), 1.0)),
      "doc_id", seed = 3L, shards = 4, portable = true)
    TrainOrder.prefixByBudget(stream, "n_chars", budget = 60000L)
      .select(col("source"), col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** The INDEXED budget cut: the same 60k-char prefix as
    * q_train_budget_prefix, but answered over the PERSISTED layout through
    * the [[TrainOrder.writeTokenIndex]] sidecar (staged at landing) — the
    * write-once/cut-many path. Shares q_train_budget_prefix's oracle
    * verbatim, so the frame path, the landed-layout path, and the sidecar
    * rollup must all agree row-for-row. */
  def trainBudgetIndexedQuery(s: SparkSession, dir: String): DataFrame =
    TrainOrder.prefixByBudget(s, trainInterleaveShardsPath(s, dir),
      "n_chars", budget = 60000L)
      .select(col("source"), col("doc_id"),
        col("shard").cast("long").as("shard"), col("pos"))
      .orderBy("shard", "pos")

  /** The budget cut at PACK granularity — the batch-construction tail's
    * last step: FFD packs (shared `assigned` definition) get their token
    * totals, stream in the seed-9 epoch order q_pack_shards pins, and
    * [[TrainOrder.prefixByBudget]] takes the maximal (pos, shard) prefix
    * of PACKS fitting 10k tokens — "train the first 10k tokens of packed
    * batches", documents never split across the cut. Oracle: the shared
    * FFD CTE + pack rollup + epoch mirror + the running-sum cut. */
  def packBudgetQuery(s: SparkSession, dir: String): DataFrame = {
    val packs = packedDocs(s, dir)
      .groupBy(col("pack_group"), col("pack_idx"))
      .agg(sum(col("tokens")).as("pack_tokens"))
      .select(concat(col("pack_group").cast("string"), lit("#"),
        col("pack_idx").cast("string")).as("pack_id"), col("pack_tokens"))
    val coords = TrainOrder.order(packs, "pack_id", seed = 9L, shards = 8,
      portable = true)
    TrainOrder.prefixByBudget(coords, "pack_tokens", budget = 10000L)
      .select(col("pack_id"), col("pack_tokens"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  /** Horizon-truncated discounted returns ([[Sessionize.discountedReturns]]
    * — RL post-training reward shaping): each user's event stream is a
    * trajectory, rewards integer-scale to cents, and step t gets the
    * 16-step return G_t = Σ_{j<16} (1/2)^j · r_{t+j} computed ENTIRELY in
    * long arithmetic (G·2^15 via 16 lead taps — no float anywhere; the
    * double view is one exact dyadic division). Oracle: the identical
    * lead-tap sum, so a mis-ordered step, a wrong tap, or a truncation
    * off-by-one breaks the hash. */
  def rlReturnsQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("reward_c"))
    graft.operators.Sessionize.discountedReturns(ev,
      "user_id", "ts", "event_id", "reward_c", horizon = 16)
      .select(col("user_id"), col("event_id"), col("step"),
        col("reward_c"), col("return_scaled"), col("return_x"))
      .orderBy("user_id", "step")
  }

  /** The RATIONAL-γ twin of q_rl_returns: γ = 3/4 (gammaNum 3, 2^2
    * denominator) over the same trajectories — integer tap weights
    * w_j = 3^j·4^(15−j), scale 2^30. Oracle: the identical 16-tap sum
    * with the same literal weights, so a wrong weight, a mis-ordered
    * tap, or a broken scale breaks the hash. */
  def rlReturnsGammaQuery(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("reward_c"))
    graft.operators.Sessionize.discountedReturns(ev,
      "user_id", "ts", "event_id", "reward_c", horizon = 16,
      gammaNum = 3L, gammaLog2Den = 2)
      .select(col("user_id"), col("event_id"), col("step"),
        col("reward_c"), col("return_scaled"), col("return_x"))
      .orderBy("user_id", "step")
  }

  /** DPO preference-pair mining ([[Preference.preferencePairs]]): per
    * synthetic prompt (doc_id % 50, ~10 responses each), the top-2 scored
    * responses paired with the bottom-2 under a 40-char margin — i-th best
    * with i-th worst, non-crossing ranks only. Oracle: the identical
    * window/rank/join/margin algebra, so a crossed pair, a sub-margin
    * pair, or a mis-ranked tie breaks the hash. */
  def prefPairsQuery(s: SparkSession, dir: String): DataFrame =
    Preference.preferencePairs(
      docs(s, dir).select((col("doc_id") % 50).as("prompt"),
        col("doc_id"), col("n_chars")),
      "prompt", "doc_id", "n_chars", margin = 40.0, maxPairs = 2)
      .select(col("prompt"), col("pair_rank").cast("long").as("pair_rank"),
        col("chosen_id"), col("chosen_score"),
        col("rejected_id"), col("rejected_score"), col("gap"))
      .orderBy("prompt", "pair_rank")

  /** GRPO group-relative advantage ([[Preference.groupAdvantage]]):
    * (v − mean)/std with the group's population std over integer-exact
    * moments — sum and sum-of-squares aggregate as longs, every float op
    * after that is one fixed-order expression, so DuckDB mirrors the
    * advantage bit-for-bit (the repo's integer-exact stats convention). */
  def groupAdvantageQuery(s: SparkSession, dir: String): DataFrame =
    Preference.groupAdvantage(
      docs(s, dir).select(col("doc_id"), (col("doc_id") % 50).as("grp"),
        col("n_chars")),
      "grp", "n_chars")
      .select(col("doc_id"), col("grp"), col("n_chars"),
        col("group_mean"), col("group_std"), col("advantage"))
      .orderBy("doc_id")

  /** Pairwise win matrix ([[Preference.winMatrix]]) — the Elo/Bradley–
    * Terry sufficient statistic: 4 synthetic models (doc_id % 4) scored by
    * n_chars across 25 prompts; every cross-model response comparison
    * counts a win/loss/tie, win_rate_a = decided fraction. Integer counts
    * + one division — hash-exact. */
  def winMatrixQuery(s: SparkSession, dir: String): DataFrame =
    Preference.winMatrix(
      docs(s, dir).select((col("doc_id") % 25).as("prompt"),
        concat(lit("m"), (col("doc_id") % 4).cast("string")).as("model"),
        col("n_chars")),
      "prompt", "model", "n_chars")
      .orderBy("model_a", "model_b")

  /** Bradley–Terry strengths ([[Preference.bradleyTerry]]) over the same
    * synthetic eval table as q_eval_win_matrix: 8 MM iterations, every
    * float fold in sorted-opponent order, so the DuckDB oracle — which
    * replays the iterations as unrolled materialized CTEs with
    * list-ordered sums — matches the strengths BIT-FOR-BIT (prototyped:
    * identical hex doubles). */
  def bradleyTerryQuery(s: SparkSession, dir: String): DataFrame =
    Preference.bradleyTerry(
      docs(s, dir).select((col("doc_id") % 25).as("prompt"),
        concat(lit("m"), (col("doc_id") % 4).cast("string")).as("model"),
        col("n_chars")),
      "prompt", "model", "n_chars", iters = 8)
      .orderBy("model")

  private val evalStreamCache =
    scala.collection.concurrent.TrieMap[String, String]()

  /** STREAMING win matrix ([[graft.streaming.IngestEval]]): the same eval
    * table as q_eval_win_matrix delivered as TWO micro-batches split by
    * doc parity — prompts (doc_id % 25) span both batches, so the
    * cross-batch comparisons only the delta algebra can produce are
    * exercised — with batch 1 REPLAYED (at-least-once delivery, converged
    * by the batch-dir overwrite). The probe sums the persisted per-batch
    * delta matrices and must equal the one-shot batch operator: shares
    * q_eval_win_matrix's oracle verbatim. */
  def evalStreamMatrixQuery(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.streaming.IngestEval
    val root = Memo.memo(evalStreamCache, dir, {
      val r = "target/graft_eval_stream_" +
        layoutStamp(dir, "documents", "evalwm|v1")
      val done = Paths.get(r, "_graft_ingest_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(r))
        Files.createDirectories(Paths.get(r))
        def slice(parity: Int) = docs(s, dir)
          .where(col("doc_id") % 2 === parity)
          .select((col("doc_id") % 25).as("prompt"),
            concat(lit("m"), (col("doc_id") % 4).cast("string")).as("model"),
            col("n_chars"))
        IngestEval.processBatch(slice(0), 0L, r, "prompt", "model", "n_chars")
        IngestEval.processBatch(slice(1), 1L, r, "prompt", "model", "n_chars")
        // at-least-once replay: the batch-dir overwrite converges
        IngestEval.processBatch(slice(1), 1L, r, "prompt", "model", "n_chars")
        Files.write(done, Array.emptyByteArray)
      }
      r
    })
    IngestEval.probe(s, root).orderBy("model_a", "model_b")
  }

  /** Continuously-updated Bradley–Terry rankings from the STREAMED matrix
    * ([[graft.streaming.IngestEval.strengths]]): the summed deltas feed
    * the same driver-side MM fold the batch operator uses, so this shares
    * q_eval_bradley_terry's bit-exact unrolled-CTE oracle verbatim. */
  def evalStreamStrengthsQuery(s: SparkSession, dir: String): DataFrame = {
    evalStreamMatrixQuery(s, dir) // ensures the layout is staged
    import graft.streaming.IngestEval
    IngestEval.strengths(s, evalStreamCache(dir)).orderBy("model")
  }

  private val evalConsolidateCache =
    scala.collection.concurrent.TrieMap[String, String]()

  /** STREAMING win matrix with the delta history CONSOLIDATED mid-stream
    * ([[graft.streaming.IngestEval.consolidate]]): the q_eval_win_matrix
    * eval table delivered as THREE micro-batches (doc_id % 3), a fence at
    * 1 after two batches (merging batch 0 into one aggregate per layer),
    * batch 2 computing its delta against consolidated ∪ raw prior state,
    * a fence advance to 2 (re-merging the previous aggregate with covered
    * raws), then a replay of the now-covered batch 1 (skipped by the
    * fence as the no-op it is). The probe over the consolidated history
    * must still equal the one-shot batch operator: shares
    * q_eval_win_matrix's oracle verbatim. */
  def evalStreamConsolidatedQuery(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.streaming.IngestEval
    val root = Memo.memo(evalConsolidateCache, dir, {
      val r = "target/graft_eval_consolidated_" +
        layoutStamp(dir, "documents", "evalwm-fence|v1")
      val done = Paths.get(r, "_graft_ingest_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(r))
        Files.createDirectories(Paths.get(r))
        def slice(m: Int) = docs(s, dir)
          .where(col("doc_id") % 3 === m)
          .select((col("doc_id") % 25).as("prompt"),
            concat(lit("m"), (col("doc_id") % 4).cast("string")).as("model"),
            col("n_chars"))
        IngestEval.processBatch(slice(0), 0L, r, "prompt", "model", "n_chars")
        IngestEval.processBatch(slice(1), 1L, r, "prompt", "model", "n_chars")
        IngestEval.consolidate(s, r, 1L)
        IngestEval.processBatch(slice(2), 2L, r, "prompt", "model", "n_chars")
        IngestEval.consolidate(s, r, 2L)
        // replay across the fence: covered, skipped, history unchanged
        IngestEval.processBatch(slice(1), 1L, r, "prompt", "model", "n_chars")
        Files.write(done, Array.emptyByteArray)
      }
      r
    })
    IngestEval.probe(s, root).orderBy("model_a", "model_b")
  }

  /** Leave-one-out bigram familiarity scores — the LM-shaped quality
    * filter with integer-exact stats (oracle-checked bit-for-bit). */
  def lmNgramScore(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramFamiliarity(docs(s, dir), "text", "doc_id", n = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Gopher-style repetition quality statistics over the corpus. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(docs(s, dir), "text", "doc_id")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Winnowing-fingerprint near-dup pairs (MOSS-style substring-level
    * duplication), over the PORTABLE md5 k-gram family — fully
    * oracle-checked (selection rule mirrored in SQL: min per window,
    * rightmost tie via a struct-min on (hash, -pos)). The rolling-hash
    * expression stays the production fast path, pinned by OpsSpec's
    * independent-reimplementation self-oracle. */
  def winnowPairsQuery(s: SparkSession, dir: String): DataFrame =
    // k=25/w=8 ⇒ only runs of ≥ 32 shared bytes (~5+ consecutive shared
    // words) fingerprint-collide — the synthetic corpus's small vocabulary
    // makes shorter grams collide on nearly every pair
    // even-doc_id half of the corpus: the oracle's per-gram md5 fan-out is
    // the single most expensive DuckDB mirror (52s of the 72s total at
    // sf0.01) — halving the corpus halves it while keeping live pairs; the
    // full-corpus selection rule stays pinned by OpsSpec's self-oracle
    Dedup.winnowPairsPortable(docs(s, dir).where(col("doc_id") % 2 === 0),
      "text", "doc_id", k = 25, w = 8, minShared = 2, maxDocFrequency = 200L)
      .orderBy("id1", "id2")

  /** Streaming driver query: replay events.parquet as a TWO-micro-batch
    * file stream (two contiguous-ts halves + `maxFilesPerTrigger=1`)
    * through the watermarked windowed aggregation and materialize the
    * append-mode windows from the memory sink. The second batch always
    * carries later timestamps than the first, so its arrival ADVANCES the
    * watermark past every batch-1 window — the append emission is
    * exercised incrementally, not as a single-shot replay. Rows-only under
    * the harness — batch≡stream value equivalence is pinned by
    * StreamingSpec; this entry puts the streaming path itself under the
    * driver contract.
    *
    * Cost shape: an isolated `newSession` runs the stream at 8 shuffle
    * partitions (state-store setup is per partition per micro-batch)
    * without mutating — or racing on — the shared session's conf; the
    * checkpoint lives on tmpfs when available. Staging is written once
    * per (JVM, dir). */
  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stagedStreamDirs = scala.collection.concurrent.TrieMap[String, String]()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.operators.Utils.deleteRecursively(p)

  /** Stage the events table as a two-file replay directory (earlier half →
    * later half by modification time), shared by every streaming driver
    * query against the same sf dir. */
  private def stageStreamDir(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    Memo.memo(stagedStreamDirs, dir, {
      val root = Paths.get(s"target/graft_stream_driver_${md5Hex(dir)}")
      deleteRecursively(root) // stale single-file layout from earlier rounds
      Files.createDirectories(root)
      val ev = s.read.parquet(s"$dir/events.parquet")
      // ts arrives either as nanosecond longs (legacy nanosAsLong rounds) or
      // as a real timestamp (timestamp[us] → TIMESTAMP_NTZ); compute the
      // split midpoint in whichever domain the column actually has.
      val r = ev.selectExpr("min(ts)", "max(ts)").first()
      val mid: Any = (r.get(0), r.get(1)) match {
        case (mn: java.lang.Long, mx: java.lang.Long) =>
          Long.box(mn + (mx - mn) / 2)
        case (mn: java.time.LocalDateTime, mx: java.time.LocalDateTime) =>
          mn.plus(java.time.Duration.between(mn, mx).dividedBy(2L))
        case (mn: java.sql.Timestamp, mx: java.sql.Timestamp) =>
          new java.sql.Timestamp(mn.getTime + (mx.getTime - mn.getTime) / 2)
        case other => sys.error(s"unsupported ts domain: $other")
      }
      def writeHalf(cond: org.apache.spark.sql.Column, name: String, mtimeMs: Long): Unit = {
        val tmp = root.resolve(s"tmp_$name")
        ev.where(cond).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        import scala.jdk.CollectionConverters._
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val dst = root.resolve(s"$name.parquet")
        Files.move(part, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // file-source batch order is by modification time: half0 first
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
        deleteRecursively(tmp)
      }
      writeHalf(col("ts") <= lit(mid), "half0", 1000000L)
      writeHalf(col("ts") > lit(mid), "half1", 2000000L)
      root.toString
    })
  }

  def eventsStreamed(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val sink = s"graft_events_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ckptBase =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_$sink"
      else s"target/graft_ckpt_$sink"
    val batchSchema = ss.read.parquet(staged)
    val q = graft.streaming.EventStreams.runToMemory(
      ss, staged, batchSchema, sink, outputMode = "append",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"),
      checkpointDir = Some(ckptBase)) { stream =>
      // value rides in decimal so each window's sum is order-independent
      // and engine-exact — that's what lets this REPLAY be hash-checked
      graft.streaming.EventStreams.windowedCounts(
        graft.streaming.EventStreams.normalizeEventTs(stream)
          .withColumn("value", col("value").cast("decimal(18,6)")),
        windowLength = "1 hour", watermark = "0 seconds")
    }
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
      deleteRecursively(Paths.get(ckptBase))
    }
    // epoch-micros window bounds + double-surfaced decimal sums: the
    // append-mode emission (every window the final watermark closed) is
    // deterministic, so the replay hash-checks against a batch SQL mirror
    ss.table(sink)
      .select(
        unix_micros(col("window_start")).as("window_start_us"),
        unix_micros(col("window_end")).as("window_end_us"),
        col("event_type"),
        col("n"),
        col("total_value").cast("double").as("total_value"))
      .orderBy("window_start_us", "event_type")
  }

  /** Stream-stream join driver query: clicks ⋈ purchases within ±1 hour on
    * the same user, replayed in two micro-batches with 1-hour watermarks on
    * BOTH sides and an event-time range condition — the state-bounded
    * streaming-join shape (state for a side is dropped once the watermark
    * passes its join horizon). An append-mode INNER stream-stream join
    * emits every matched pair exactly once, and the half-split replay
    * can't drop pairs (batch 2's rows all sit above batch 1's watermark
    * minus the horizon), so the emitted set equals the batch band join and
    * shares q_events_rangejoin's oracle verbatim. */
  /** Streaming anomaly driver query: the trailing-window deviation detector
    * run INCREMENTALLY over the two-micro-batch replay with O(lookback)
    * state per user ([[graft.streaming.StreamingAnomaly]]). The exact
    * integer predicate makes the stream's flag set bit-identical to the
    * batch window formulation, so this shares q_events_anomaly's oracle
    * verbatim — an incremental stateful operator under a full hash check. */
  def eventsStreamAnomaly(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val sink = s"graft_events_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ckptBase =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_$sink"
      else s"target/graft_ckpt_$sink"
    val batchSchema = ss.read.parquet(staged)
    val q = graft.streaming.EventStreams.runToMemory(
      ss, staged, batchSchema, sink, outputMode = "append",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"),
      checkpointDir = Some(ckptBase)) { stream =>
      graft.streaming.StreamingAnomaly.flags(
        graft.streaming.EventStreams.normalizeEventTs(stream),
        lookback = 10, thresholdPct = 300L, minPrior = 5)(ss).toDF()
    }
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
      deleteRecursively(Paths.get(ckptBase))
    }
    ss.table(sink).orderBy("event_id")
  }

  /** Native session-window streaming driver query: the replayed stream
    * aggregated with `session_window(ts, 30 min)` per user — Spark's
    * merging-session state (sessions spanning the two micro-batches merge
    * in the state store; the half-split replay exercises exactly that
    * path). Append mode emits a session once the watermark passes its end
    * (last event + gap), so with a 0-second watermark the emitted set is
    * every session whose end+gap ≤ the stream's max event time — mirrored
    * as a WHERE in the oracle's islands formulation. Decimal sums keep the
    * emission hash-exact. */
  def eventsStreamSessions(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val sink = s"graft_events_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ckptBase =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_$sink"
      else s"target/graft_ckpt_$sink"
    val batchSchema = ss.read.parquet(staged)
    val q = graft.streaming.EventStreams.runToMemory(
      ss, staged, batchSchema, sink, outputMode = "append",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"),
      checkpointDir = Some(ckptBase)) { stream =>
      graft.streaming.EventStreams.normalizeEventTs(stream)
        .withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
    }
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
      deleteRecursively(Paths.get(ckptBase))
    }
    ss.table(sink)
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("value_sum"))
      .orderBy("user_id", "session_start_us")
  }

  /** Streaming CUSUM driver query: the drift detector replayed over two
    * micro-batches with ONE BIGINT of state per user
    * ([[graft.streaming.StreamingAnomaly.cusumFlags]]) — shares
    * q_events_cusum's oracle verbatim (pure integer recurrence). */
  def eventsStreamCusum(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val sink = s"graft_events_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ckptBase =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_$sink"
      else s"target/graft_ckpt_$sink"
    val batchSchema = ss.read.parquet(staged)
    val q = graft.streaming.EventStreams.runToMemory(
      ss, staged, batchSchema, sink, outputMode = "append",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"),
      checkpointDir = Some(ckptBase)) { stream =>
      graft.streaming.StreamingAnomaly.cusumFlags(
        graft.streaming.EventStreams.normalizeEventTs(stream),
        referenceUs = 60000000L, thresholdUs = 200000000L)(ss).toDF()
    }
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
      deleteRecursively(Paths.get(ckptBase))
    }
    ss.table(sink).orderBy("event_id")
  }

  /** Stream-static enrichment driver query: the replayed event stream
    * joins a BROADCAST static dimension (customer → market segment) inside
    * the micro-batch plan — the standard Structured Streaming enrichment
    * shape (the static side never shuffles, re-read per trigger) — then
    * rolls up per (segment, event_type) in complete mode. Decimal-carried
    * sums make the final emission equal the batch join+rollup, so the
    * whole streaming pipeline hash-checks against a plain SQL mirror. */
  def eventsStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val sink = s"graft_events_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ckptBase =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_$sink"
      else s"target/graft_ckpt_$sink"
    val cust = ss.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val batchSchema = ss.read.parquet(staged)
    val q = graft.streaming.EventStreams.runToMemory(
      ss, staged, batchSchema, sink, outputMode = "complete",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"),
      checkpointDir = Some(ckptBase)) { stream =>
      graft.streaming.EventStreams.normalizeEventTs(stream)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    }
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
      deleteRecursively(Paths.get(ckptBase))
    }
    ss.table(sink).orderBy("c_mktsegment", "event_type")
  }

  def eventsStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val sink = s"graft_events_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ckptBase =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_$sink"
      else s"target/graft_ckpt_$sink"
    val schema = ss.read.parquet(staged).schema
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val ev = graft.streaming.EventStreams.normalizeEventTs(stream)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("c_user = p_user AND p_ts >= c_ts - INTERVAL 1 HOUR" +
        " AND p_ts <= c_ts + INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckptBase).start()
    try q.processAllAvailable()
    finally { q.stop(); deleteRecursively(Paths.get(ckptBase)) }
    ss.table(sink)
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** Streaming top-k driver query ([[graft.streaming.StreamingTopK]]):
    * the two-micro-batch replay drives the Space-Saving
    * `flatMapGroupsWithState` operator (per event type, top-5 users by
    * event count) in Update mode; the final emission per group — selected
    * by its cumulative `events_seen`, not sink order — is the exact
    * answer because the capacity exceeds the distinct-user count, so the
    * incremental stateful stream hash-checks against a plain batch
    * GROUP BY / row_number mirror. The bounded-eviction path is the
    * production configuration (state O(capacity) per group forever) and
    * is pinned separately by StreamingTopKSpec. */
  val StreamTopK = 5
  val StreamTopKCapacity = 4096

  def eventsStreamTopK(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val sink = s"graft_events_stream_sink_${streamSinkSeq.incrementAndGet()}"
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val ckptBase =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_$sink"
      else s"target/graft_ckpt_$sink"
    val schema = ss.read.parquet(staged).schema
    val stream = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val topk = graft.streaming.StreamingTopK.topKPerGroup(
      stream, "event_type", "user_id", StreamTopK, StreamTopKCapacity)(ss)
    val q = topk.toDF().writeStream.format("memory").queryName(sink)
      .outputMode("update").option("checkpointLocation", ckptBase).start()
    try q.processAllAvailable()
    finally { q.stop(); deleteRecursively(Paths.get(ckptBase)) }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("group")
    ss.table(sink)
      .withColumn("mx", max(col("events_seen")).over(w))
      .where(col("events_seen") === col("mx"))
      .select(col("group").as("event_type"), col("rank"),
        col("item").as("user_id"), col("n"))
      .orderBy("event_type", "rank")
  }

  /** Incremental-rollup driver query: the two-micro-batch replay maintains
    * a bucket-partitioned hourly aggregate table via foreachBatch merge
    * with dynamic partition overwrite
    * ([[graft.streaming.IncrementalRollup]]) — only the hours a batch
    * touches are rewritten. Additive BIGINT/DECIMAL state makes the
    * maintained table equal the batch rollup, so q_events_windowed's
    * oracle applies verbatim. */
  def eventsIncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val staged = stageStreamDir(s, dir)
    val seq = streamSinkSeq.incrementAndGet()
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val table = s"target/graft_rollup_$seq"
    // the maintained table must start empty — a previous JVM's table at the
    // same seq would otherwise be merged into (counts double)
    deleteRecursively(Paths.get(table))
    val ckpt =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_rollup_$seq"
      else s"target/graft_ckpt_rollup_$seq"
    val q = graft.streaming.IncrementalRollup.ingestHourlyRollup(
      ss, staged, ss.read.parquet(staged), table, ckpt)
    try q.processAllAvailable()
    finally { q.stop(); deleteRecursively(Paths.get(ckpt)) }
    ss.read.parquet(table)
      // partition-directory inference types bucket INT — surface it long
      .select(col("bucket").cast("long").as("bucket"), col("event_type"),
        col("n"), col("total_v").cast("double").as("total_value"))
      .orderBy("bucket", "event_type")
  }

  /** Streaming CDC apply driver query
    * ([[graft.streaming.StreamingCdcApply]]): the q_cdc_apply changeset
    * split into three micro-batches (doc_id mod 3 — disjoint key sets, so
    * the per-batch one-change-per-key contract holds) replayed onto a
    * snapshot table seeded with the OLD snapshot; each batch keyed-merges
    * into only the key-buckets it touches. The final table must equal the
    * new snapshot — q_cdc_apply's roundtrip oracle applies verbatim. */
  def cdcStreamApply(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.operators.Cdc
    import graft.streaming.StreamingCdcApply
    val base = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val oldS = base.where(col("doc_id") % 11 =!= 3)
    val newS = docs(s, dir).where(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), col("source"),
        (col("n_chars") + col("doc_id") % 5).as("n_chars"))
    val cs = Cdc.changesWithValues(oldS, newS, Seq("doc_id"),
      Seq("source", "n_chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seq = streamSinkSeq.incrementAndGet()
    val table = s"target/graft_cdc_snap_$seq"
    val srcDir = s"target/graft_cdc_changes_$seq"
    deleteRecursively(Paths.get(table))
    deleteRecursively(Paths.get(srcDir))
    val ckpt =
      if (Files.isWritable(Paths.get("/dev/shm"))) s"/dev/shm/graft_ckpt_cdc_$seq"
      else s"target/graft_ckpt_cdc_$seq"
    try {
      StreamingCdcApply.seedSnapshot(oldS, table, Seq("doc_id"))
      for (i <- 0 until 3)
        cs.where(pmod(col("doc_id"), lit(3)) === i)
          .coalesce(1).write.mode("append").parquet(srcDir)
    } finally cs.unpersist(blocking = false)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = StreamingCdcApply.ingestChanges(ss, srcDir, ss.read.parquet(srcDir),
      table, ckpt, Seq("doc_id"), Seq("source", "n_chars"))
    try q.processAllAvailable()
    finally { q.stop(); deleteRecursively(Paths.get(ckpt)) }
    ss.read.parquet(table)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Contamination scan: every corpus document against a small probe set
    * (doc_id ≡ 0 mod 50 plays the benchmark suite) — ≥ 2 shared word
    * 3-grams flags a pair. The probe side broadcasts, so the corpus never
    * shuffles its postings. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.contaminationPairs(
      d.where(col("doc_id") % 50 =!= 0),
      d.where(col("doc_id") % 50 === 0),
      "text", "doc_id", n = 3, minOverlap = 2L)
      .orderBy("corpus_id", "probe_id")
  }

  /** The same contamination scan through the Bloom-prefilter path: probe
    * grams folded into a 2²⁰-bit literal Bloom filter that prunes corpus
    * postings map-side before the join. Results are bit-identical to
    * q_contamination (the exact join eliminates Bloom false positives), so
    * the same oracle applies — what the query pins is that the prefilter
    * drops nothing it shouldn't. */
  def contaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.contaminationPairsBloom(
      d.where(col("doc_id") % 50 =!= 0),
      d.where(col("doc_id") % 50 === 0),
      "text", "doc_id", n = 3, minOverlap = 2L)
      .orderBy("corpus_id", "probe_id")
  }

  /** Multi-benchmark contamination-matrix driver query
    * ([[graft.operators.Dedup.contaminationMatrix]]): the probe slice
    * split into two labeled benchmarks, scanned against the corpus in ONE
    * postings pass — per benchmark: contaminated-doc count, leaked-probe
    * count, total overlap mass. The rollup an eval-hygiene review reads
    * before deciding what to decontaminate. */
  def contaminationMatrixQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val probes = d.where(col("doc_id") % 50 === 0)
      .withColumn("benchmark",
        when(col("doc_id") % 100 === 0, "bench_a").otherwise("bench_b"))
    Dedup.contaminationMatrix(d.where(col("doc_id") % 50 =!= 0), probes,
      "text", "doc_id", "benchmark", n = 3, minOverlap = 2L)
      .orderBy("benchmark")
  }

  /** Decontaminated-corpus driver query: the composition a training
    * pipeline actually ships — the corpus MINUS every document the
    * contamination scan flags against the benchmark probe set (≥ 2 shared
    * word 3-grams with any probe). One anti join against the flagged-id
    * set (tiny — bounded by the scan's output), so the corpus itself is
    * scanned once and never shuffled. Shares the contamination scan's
    * parameters, so the oracle derives from the same gram CTEs. */
  def decontaminatedCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.where(col("doc_id") % 50 =!= 0)
    val probes = d.where(col("doc_id") % 50 === 0)
    val flagged = Dedup.contaminationPairs(
      corpus, probes, "text", "doc_id", n = 3, minOverlap = 2L)
      .select(col("corpus_id").as("doc_id")).distinct()
    corpus.join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Containment-ratio contamination scan over the same probe split: shared
    * grams as a fraction of the probe's gram set. */
  def contaminationRatio(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.contaminationContainment(
      d.where(col("doc_id") % 50 =!= 0),
      d.where(col("doc_id") % 50 === 0),
      "text", "doc_id", n = 3, minContainment = 0.05)
      .orderBy("corpus_id", "probe_id")
  }

  /** Incremental dedup against a PERSISTED MinHash-LSH corpus index — the
    * rolling-ingest shape: the corpus (doc_id ≢ 0 mod 50) is shingled and
    * signed ONCE at index-build time (untimed setup, like the ANN
    * layouts); the timed query probes the arriving batch (doc_id ≡ 0
    * mod 50) against the layout — batch-only signatures, prefix-pruned
    * postings read, broadcast candidate join, candidate-bounded exact
    * verification. The oracle mirrors the full md5 pipeline cross-set. */
  private val mhIndexCache = scala.collection.concurrent.TrieMap[String, String]()

  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.where(col("doc_id") % 50 =!= 0)
    val batch = d.where(col("doc_id") % 50 === 0)
    val path = Memo.memo(mhIndexCache, dir, {
      val p = "target/graft_mh_index_" +
        layoutStamp(dir, "documents", "nh=64|b=16|sh=3|pfx=8|v2")
      if (!layoutComplete(p) ||
          !java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_graft_prefix_bits")))
        // prefix width sized to the corpus: partitions should hold real
        // posting volume (at 100 TB, 12+ bits; here 8 bits keeps the layout
        // at 256 single-file directories so probe file-open costs stay
        // proportional to the data, not the directory fan-out)
        Dedup.writeMinhashIndexMd5(corpus, "text", "doc_id", p, prefixBits = 8)
      p
    })
    Dedup.minhashProbeIndexMd5(path, corpus, batch, "text", "doc_id", threshold = 0.5)
      .orderBy("batch_id", "corpus_id")
  }

  /** Markup-stripping driver query ([[graft.operators.TextOps.stripMarkup]]):
    * every document is wrapped in REAL markup by pure column algebra —
    * a doctype/html/body shell, every token its own `<p>` paragraph, a
    * trailing self-closed tag and entity run — then stripped back to
    * plain text. The wrap is deterministic and the strip is one shared
    * RE2 tag pattern + the fixed-order entity decode, so the oracle
    * mirrors BOTH sides and the hash check covers tag removal
    * (attributes, self-closing, multi-tag), paragraph-boundary space
    * preservation, and one-level entity decoding end to end. */
  /** The markup wrap every strip-consuming driver query synthesizes: a
    * doctype/html/body shell, every token its own `<p>` paragraph, a
    * trailing self-closed tag and entity run — real tags and entities by
    * pure column algebra, shared by q_text_strip_markup, q_clean_corpus,
    * and q_curation_pipeline (one wrap, one oracle mirror). */
  private def syntheticHtml: Column = concat(
    lit("<!DOCTYPE html><html><body><div class=\"doc\" id=\"d"),
    col("doc_id").cast("string"),
    lit("\"><p>"),
    regexp_replace(col("text"), " ", "</p> <p>"),
    lit("</p></div><br/>&amp;copy; <b>corp</b>&nbsp;&quot;end&quot;</body></html>"))

  def textStripMarkup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.stripMarkup(syntheticHtml).as("clean_text"))
      .orderBy("doc_id")

  /** Context-window chunking: 32-token chunks advancing 24 tokens
    * (8-token overlap) — sized so the synthetic documents (10-99 tokens)
    * split into 1-4 chunks each. Pure projection + explode — the whole
    * plan is scan-parallel. */
  def textChunks(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocuments(docs(s, dir), "text", "doc_id",
      chunkTokens = 32, overlap = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")

  /** Model-based quality classification: a hashed-feature linear model
    * scores every document (fastText-style shape). The weight table here is
    * a deterministic synthetic stand-in for trained weights — Knuth
    * multiplicative spread over [-1000, 1000] fixed-point — exported the
    * way a real trainer would export: a plain fixed-point array embedded
    * into the plan (and mirrored as a literal list in the oracle). */
  val ClassifierFeatures = 256
  lazy val classifierWeights: Array[Long] =
    Array.tabulate(ClassifierFeatures)(i => ((i * 2654435761L) % 2001L) - 1000L)

  def textClassifier(s: SparkSession, dir: String): DataFrame =
    TextOps.linearModelScores(docs(s, dir), "text", "doc_id", classifierWeights)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Trainer parameters for the in-engine classifier-training driver
    * query: 2 fixed-point GD iterations at scale 10⁶, lrDen 256 — small
    * enough to unroll as oracle CTEs, real enough that the weights move. */
  val TrainerIters = 2

  /** In-engine classifier TRAINING driver query
    * ([[graft.operators.Trainer.trainHashedLinearModel]]): fixed-point
    * hard-sigmoid logistic GD over the same hashed-token features the
    * scorer uses, labels = "is this document English" — so the trained
    * weight table feeds [[textClassifier]]'s scorer shape directly. Every
    * operation is exact integer arithmetic, so the DuckDB oracle unrolls
    * the 2 iterations as CTEs (the k-means/PageRank pattern) and the
    * weight table hash-checks bit for bit. */
  def textClassifierTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.Trainer.trainHashedLinearModel(
      docs(s, dir).withColumn("y", when(col("lang") === "en", 1).otherwise(0)),
      "text", "doc_id", "y", ClassifierFeatures, TrainerIters)
      .orderBy("feature")

  /** Sequence packing: documents → 256-token packs across 64 deterministic
    * streams, rolled up per stream. Hash-checked since round 5: the
    * oracle SIMULATES first-fit-decreasing in DuckDB with a recursive CTE
    * carrying each stream's open-bin list (see [[packStatsSql]]);
    * budget/uniqueness/determinism invariants stay pinned in OpsSpec. */
  /** ONE packed-docs builder for both pack queries — budget/groups come
    * from the same [[PackBudget]]/[[PackGroups]] constants the oracle SQL
    * interpolates, so engine and mirror can never silently diverge. */
  private def packedDocs(s: SparkSession, dir: String): DataFrame = {
    val withTokens = docs(s, dir).select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("tokens"))
    graft.operators.Packing.packGreedy(withTokens, "doc_id", "tokens",
      budget = PackBudget.toLong, groups = PackGroups)
  }

  def packStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packQuality(packedDocs(s, dir),
      budget = PackBudget.toLong)

  /** The batch-construction pipeline TAIL composed end to end: pack
    * documents into ≤256-token bins ([[graft.operators.Packing.packGreedy]],
    * the deterministic FFD), then deal the PACKS — not the documents —
    * into a deterministic epoch order ([[TrainOrder.order]] on the pack
    * id), so each training batch stays intact while batches stream in
    * seed-keyed pseudorandom order. Every doc row carries its pack's
    * (shard, pos): the exact file plan a loader consumes. Both halves are
    * already-audited operators; the oracle composes the FFD recursive CTE
    * (shared verbatim with q_pack_stats — one packing definition) with the
    * epoch-hash mirror on the derived pack id. */
  def packShardsQuery(s: SparkSession, dir: String): DataFrame = {
    val packed = packedDocs(s, dir)
    // string pack id "<group>#<idx>": injective for ANY pack count (an
    // arithmetic group·2^k + idx encoding would silently collide past
    // 2^k packs per group — and the oracle, sharing the formula, would
    // reproduce the collision and PASS; by-construction beats a guard)
    val packId = concat(col("pack_group").cast("string"), lit("#"),
      col("pack_idx").cast("string")).as("pack_id")
    val coords = TrainOrder.order(
      packed.select(packId).distinct(), "pack_id", seed = 9L, shards = 8,
      portable = true)
    packed.withColumn("pack_id", packId)
      .join(coords, "pack_id")
      .select(col("doc_id"), col("tokens"),
        col("pack_group").cast("long").as("pack_group"),
        col("pack_idx").cast("long").as("pack_idx"),
        col("shard"), col("pos"))
      .orderBy("shard", "pos", "doc_id")
  }

  /** The flagship corpus-cleaning composite under the driver harness:
    * markup strip → quality filter → exact dedup → cluster-transitive
    * near-dup removal, run over the portable md5 hash family so the
    * ENTIRE composite — including the connected-components pass — is
    * oracle-checked (the DuckDB mirror closes components with a recursive
    * CTE). The input is the [[syntheticHtml]]-wrapped-then-stripped text,
    * which makes the whole ladder IDENTICAL (by construction, not by
    * luck) to q_curation_pipeline's front half — the two queries share
    * one persisted [[cleanedStrippedCorpus]] frame per sf dir instead of
    * running the same subplan twice per bench pass.
    *
    * Signature shape 32 hashes × 8 bands (r = 4): the md5 signature pass
    * dominates the composite's cost and is linear in numHashes, so halving
    * 64 → 32 halves it while keeping the same per-band row count — the
    * candidate probability at jaccard j stays 1-(1-j^4)^b with b dropping
    * 16 → 8 (at the 0.5 threshold: recall 0.40 vs 0.64; by j = 0.75 both
    * are ≥ 0.95). The near-dup q_dedup_minhash_lsh entry keeps the full
    * 64×16 family, so both recall regimes stay oracle-checked. */
  val CleanCorpusHashes = 32
  val CleanCorpusBands = 8

  /** Owns the two pass-shared frames below ([[releaseSharedFrames]]). */
  private val sharedFrames = new CacheScope

  private val strippedDocsCache =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** Markup-stripped docs projection — the shared FRONT of the cleaning
    * composites: (doc_id, lang, source, clean_text) with clean_text the
    * [[syntheticHtml]] wrap stripped back to plain text. Persisted per sf
    * dir: the md5 ladder ([[cleanedStrippedCorpus]]) and the xxhash twin
    * (q_clean_corpus_fast) both consume it, and the RE2 strip pass is the
    * single most expensive shared stage (~3.5s at sf0.1) — one strip per
    * pass, not one per hash family. Released at bench pass boundaries
    * with the other shared frames. */
  private def strippedDocs(s: SparkSession, dir: String): DataFrame =
    Memo.memo(strippedDocsCache, dir, {
      val stripped = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          TextOps.stripMarkup(syntheticHtml).as("clean_text"))
        .transform(sharedFrames.persist)
      stripped.count()
      stripped
    })

  private val cleanedStrippedCache =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** The cleaned stripped corpus BOTH q_clean_corpus and
    * q_curation_pipeline consume — markup strip → quality gate → exact
    * dedup → cluster-transitive near-dup removal over the portable md5
    * family — computed ONCE per sf dir and persisted (the r11 fusion: the
    * two queries ran the identical ladder subplan independently every
    * bench pass). Eagerly materialized so the persisted partitions never
    * lazily re-derive through pass-scoped ladder caches that are released
    * at scope exit; at layout scale this frame is the survivors table a
    * deployment would land once and read many times. */
  private def cleanedStrippedCorpus(s: SparkSession, dir: String): DataFrame =
    Memo.memo(cleanedStrippedCache, dir, {
      val cleaned = Dedup.cleanCorpus(strippedDocs(s, dir), "clean_text",
        "doc_id", nearDupThreshold = 0.5, portableHashes = true,
        numHashes = CleanCorpusHashes, bands = CleanCorpusBands)
        .transform(sharedFrames.persist)
      cleaned.count()
      cleaned
    })

  /** Drop the cross-query pass-shared frames. The bench harness calls
    * this between timing passes so each pass still charges the cleaning
    * ladder exactly once — the fusion saves the DUPLICATE subplan, it
    * must not let pass-2 minimums report the ladder as free. */
  def releaseSharedFrames(): Unit = {
    sharedFrames.release()
    cleanedStrippedCache.clear()
    strippedDocsCache.clear()
  }

  def cleanCorpusQuery(s: SparkSession, dir: String): DataFrame =
    cleanedStrippedCorpus(s, dir)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** The PRODUCTION clean-corpus composite: same pipeline as
    * q_clean_corpus but over the xxhash64 hash family — the fast default
    * path a deployment would run (the md5 family exists to make the
    * composite oracle-checkable; it costs ~2× in signature compute).
    * xxhash64 has no DuckDB mirror, so this entry is rows-only in the
    * driver gate; agreement of the two families' results is unit-pinned
    * on a known corpus (OpsSpec "cleanCorpus portable-hash path agrees"),
    * and this entry makes the fast path's COST visible in the judged
    * bench next to the portable family's. */
  def cleanCorpusFastQuery(s: SparkSession, dir: String): DataFrame =
    Dedup.cleanCorpus(strippedDocs(s, dir), "clean_text", "doc_id",
      nearDupThreshold = 0.5, portableHashes = false,
      numHashes = CleanCorpusHashes, bands = CleanCorpusBands)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** The END-TO-END curation pipeline in ONE query — the flagship
    * integration composite a training-data team actually ships, every
    * stage an already-oracle-checked operator:
    *
    *   raw web markup → [[graft.operators.TextOps.stripMarkup]] → the
    *   clean-corpus ladder (quality gate → exact dedup → cluster-transitive
    *   MinHash near-dup removal) over the STRIPPED text →
    *   deterministic md5-bucket train/val/test split →
    *   per-(split, language) document and token rollup.
    *
    * The markup wrap is the q_text_strip_markup synthesis (so the strip
    * stage has real tags/entities to remove), the dedup family is the
    * portable md5 one, and the split is the pure-projection
    * [[graft.operators.Sampling.withSplit]] — which is why the WHOLE
    * pipeline, recursion included, hash-checks against a single DuckDB
    * statement. Scale shape: each stage is the audited operator; nothing
    * here adds a join or shuffle beyond them (the rollup is one grouped
    * agg over the surviving rows), and the whole strip+clean front half
    * is the pass-shared persisted [[cleanedStrippedCorpus]] frame —
    * computed once per sf dir, consumed here and by q_clean_corpus. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame =
    Sampling.withSplit(cleanedStrippedCorpus(s, dir), "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("clean_text")).cast("long")).as("total_tokens"))
      .orderBy("split", "lang")

  private val retentionCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Corpus RETENTION driver query ([[graft.sources.Retention]] over a
    * [[graft.sources.BucketedCorpus]] layout) — the delete story a
    * long-running ingest deployment needs (erasure requests, license
    * takedowns, age-out): documents land in two appends (the ingest
    * shape), a DELETE WHERE tombstones every row matching
    * `lang = 'en' OR doc_id % 7 = 0` (SQL semantics — NULL langs are
    * not deleted), a vacuum physically rewrites ONLY the bucket dirs the
    * dead ids hash into under the compactor's crash-safe discipline and
    * clears the tombstones, and the query reads the survivors back. The
    * oracle is the direct complement select over `documents`; layout
    * build is one-off (stamped+reused). Logical-vs-physical equivalence
    * (reads identical before and after vacuum, untouched buckets
    * byte-identical, orphan index postings harmless) is spec-pinned in
    * RetentionSpec. */
  def corpusRetention(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val path = Memo.memo(retentionCache, dir, {
      val root = "target/graft_retention_" +
        layoutStamp(dir, "documents", "ret|b16|en7|v1")
      val done = Paths.get(root, "_graft_retention_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(root))
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
        graft.sources.BucketedCorpus.append(
          d.where(col("doc_id") % 2 === 0), root, "doc_id", 16)
        graft.sources.BucketedCorpus.append(
          d.where(col("doc_id") % 2 === 1), root, "doc_id", 16)
        graft.sources.Retention.deleteWhere(s, root,
          col("lang") === "en" || col("doc_id") % 7 === 0, "doc_id")
        graft.sources.Retention.vacuum(s, root, "doc_id")
        Files.write(done, Array.emptyByteArray)
      }
      root
    })
    graft.sources.BucketedCorpus.readAll(s, path)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  private val erasureCache = scala.collection.concurrent.TrieMap[String, String]()

  /** One (kind, id, lang, n_postings) state row per LIVE corpus entry of a
    * corpus + postings-index pair — the erasure job's observable surface.
    * Pre-vacuum ('tombstoned') the join is LEFT from the corpus: dead ids
    * are already tombstone-filtered out of the read, and their postings
    * are harmless orphans the probe contract ignores. Post-vacuum
    * ('vacuumed') the join is FULL OUTER: a dead posting that survived
    * [[graft.sources.Retention.vacuumPostings]] surfaces as a row with a
    * NULL lang, a live row that lost its postings as a NULL count — either
    * breaks the oracle hash. */
  private def erasureState(s: SparkSession, corPath: String, idxPath: String,
      idCol: String, kind: String, langCol: Option[String],
      fullOuter: Boolean): DataFrame = {
    val live = graft.sources.BucketedCorpus.readAll(s, corPath)
      .select(col(idCol).as("live_id"),
        langCol.map(col).getOrElse(lit(null).cast("string")).as("lang"))
    val counts = s.read.parquet(idxPath)
      .groupBy(col("id").as("__pid"))
      .agg(count(lit(1)).as("n_postings"))
    live.join(counts, col("live_id") === col("__pid"),
        if (fullOuter) "full_outer" else "left")
      .select(lit(kind).as("kind"),
        coalesce(col("live_id"), col("__pid")).as("id"),
        col("lang"), col("n_postings"))
  }

  /** End-to-end ERASURE job driver query — the composed GDPR path across
    * one deployment's persisted layouts: a bucketed DOCUMENT corpus with
    * its MinHash-LSH postings index, and a bucketed EMBEDDING corpus with
    * its LSH signature index. The job runs deleteWhere (tombstones) →
    * vacuum (dead corpus buckets rewritten) → vacuumPostings (dead
    * postings dropped from both indexes), and the query emits the system
    * state at BOTH phases: 'tombstoned' proves reads exclude erased ids
    * IMMEDIATELY — no maintenance pass on the critical path — and
    * 'vacuumed' proves the physical pass removed rows AND postings without
    * touching anything live. Posting counts are constants by construction
    * (bands per document, tables per vector), so the oracle mirrors the
    * whole pipeline as a NULL-safe complement select. Heavy-hitters token
    * corpora get the same treatment through their own handle
    * ([[graft.streaming.IngestHeavyHitters.deleteIds]], spec-pinned). */
  def erasureE2e(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = Memo.memo(erasureCache, dir, {
      val r = "target/graft_erasure_" + layoutStamp(dir, "documents", "er|v1")
      val done = Paths.get(r, "_graft_erasure_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(r))
        Files.createDirectories(Paths.get(r))
        val d = docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
        val (dCor, dIdx) = (s"$r/doc_corpus", s"$r/doc_index")
        graft.sources.BucketedCorpus.append(
          d.where(col("doc_id") % 2 === 0), dCor, "doc_id", 16)
        graft.sources.BucketedCorpus.append(
          d.where(col("doc_id") % 2 === 1), dCor, "doc_id", 16)
        Dedup.writeMinhashIndexMd5(d, "text", "doc_id", dIdx,
          numHashes = 16, bands = 8, prefixBits = 6)
        val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val (vCor, vIdx) = (s"$r/vec_corpus", s"$r/vec_index")
        graft.sources.BucketedCorpus.append(e, vCor, "vec_id", 16)
        graft.operators.Ann.writeLshSigIndex(e, "embedding", "vec_id", vIdx,
          dim = 64, bits = 16, tables = 4, prefixBits = 4)
        // logical delete NOW (tombstones; every read excludes immediately)
        graft.sources.Retention.deleteWhere(s, dCor,
          col("lang") === "en" || col("doc_id") % 7 === 0, "doc_id")
        graft.sources.Retention.deleteWhere(s, vCor,
          col("vec_id") % 7 === 0, "vec_id")
        erasureState(s, dCor, dIdx, "doc_id", "doc", Some("lang"), fullOuter = false)
          .unionByName(erasureState(s, vCor, vIdx, "vec_id", "vec", None,
            fullOuter = false))
          .withColumn("phase", lit("tombstoned"))
          .write.mode("overwrite").parquet(s"$r/pre_snapshot")
        // the physical pass clears the tombstones — keep the dead id sets
        // for the postings reclaim that follows it
        graft.sources.Retention.tombstones(s, dCor, "doc_id").get
          .write.mode("overwrite").parquet(s"$r/dead_docs")
        graft.sources.Retention.tombstones(s, vCor, "vec_id").get
          .write.mode("overwrite").parquet(s"$r/dead_vecs")
        graft.sources.Retention.vacuum(s, dCor, "doc_id")
        graft.sources.Retention.vacuum(s, vCor, "vec_id")
        graft.sources.Retention.vacuumPostings(s, dIdx,
          s.read.parquet(s"$r/dead_docs"), "id")
        graft.sources.Retention.vacuumPostings(s, vIdx,
          s.read.parquet(s"$r/dead_vecs"), "id")
        Files.write(done, Array.emptyByteArray)
      }
      r
    })
    val pre = s.read.parquet(s"$root/pre_snapshot")
    val post = erasureState(s, s"$root/doc_corpus", s"$root/doc_index",
      "doc_id", "doc", Some("lang"), fullOuter = true)
      .unionByName(erasureState(s, s"$root/vec_corpus", s"$root/vec_index",
        "vec_id", "vec", None, fullOuter = true))
      .withColumn("phase", lit("vacuumed"))
    pre.unionByName(post)
      .select("phase", "kind", "id", "lang", "n_postings")
      .orderBy("phase", "kind", "id")
  }

  /** Multimodal metadata plumbing, oracle-checked: the synthetic media
    * construction (kind dispatch, dimension arithmetic, duration, payload
    * byte length) is pure column algebra with an exact DuckDB mirror. The
    * real-codec decode path is q_multimodal_features. */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.syntheticMedia(docs(s, dir), "doc_id", "text")
      .select(col("media_id"),
        col("meta.kind").as("kind"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.duration_ms").as("duration_ms"),
        length(col("content")).as("content_bytes"))
      .orderBy("media_id")

  /** Multimodal decode pipeline, REAL JDK codecs end to end: deterministic
    * synthetic payloads are ENCODED executor-side (PNG via ImageIO, WAV via
    * AudioSystem, GVC1 PNG-frame containers for video), then DECODED back in
    * the batched mapPartitions stage, emitting integer-exact stats (pixel
    * channel sums / PCM sample sums). Lossless round trips make the decoded
    * values equal the generator formulas, so the DuckDB oracle recomputes
    * them from the closed forms with generate_series — the decode itself is
    * what's being hash-checked. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticEncodedMedia(docs(s, dir), "doc_id")
    Multimodal.decodeStats(media).orderBy("media_id")
  }

  /** Variant ids live far above the doc_id range so base/copy never collide. */
  val PhashVariantOffset = 1000000L
  val PhashMaxHamming = 3

  /** Multimodal perceptual-hash near-dup driver query
    * ([[graft.operators.Multimodal.perceptualHashes]] +
    * [[graft.operators.Dedup.simhashPairsFromSignatures]]): every document
    * becomes a REAL encoded PNG still, every 5th also a one-pixel-edited
    * copy (red(0,0)+1 — the classic perceptual near-dup), then the decode →
    * 8×8 aHash → Hamming-banded pigeonhole pair join finds the copies
    * without any all-pairs comparison. The codecs are lossless and the
    * hash is integer-exact, so the DuckDB oracle mirrors the whole
    * pipeline from the generator's closed pixel forms — decode, resample,
    * threshold, banding included. Output: (id1, id2, hamming). */
  private def phashPairs(s: SparkSession, dir: String, method: String): DataFrame =
    CacheScope.pass {
      val d = docs(s, dir)
      val base = d.select(col("doc_id").as("media_id"),
        col("doc_id").as("base_id"), lit(0).as("bump"))
      val variants = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PhashVariantOffset).as("media_id"),
          col("doc_id").as("base_id"), lit(1).as("bump"))
      val media = Multimodal.syntheticStillVariants(
        base.union(variants), "media_id", "base_id", "bump")
      // the banded pair join reads the signature frame on BOTH sides — cache
      // the hashes so the encode+decode codec pass runs once, not twice (at
      // layout scale you'd persist the hash column; this is the in-session twin)
      val hashes = CacheScope.persist(Multimodal.perceptualHashes(media, method)
        .select(col("media_id").as("id"), col("phash").as("sh")))
      Dedup.simhashPairsFromSignatures(hashes, maxHamming = PhashMaxHamming)
        .orderBy("id1", "id2")
    }

  def multimodalNearDup(s: SparkSession, dir: String): DataFrame =
    phashPairs(s, dir, "ahash")

  /** The dHash twin of [[multimodalNearDup]]: horizontal-gradient-sign
    * bits over a 9×8 luma grid — no global mean, so the one-pixel edit
    * moves only the (at most two) bits whose comparisons touch the edited
    * sample, and global brightness shifts cancel. Same banded pair join,
    * same closed-form oracle machinery. */
  def multimodalNearDupDhash(s: SparkSession, dir: String): DataFrame =
    phashPairs(s, dir, "dhash")

  /** A one-sample edit moves the SimHash only where the bit-majority
    * margin is within ±2 — measured mean 0.8 / max 7 bits on this corpus —
    * so the budget is looser than the image families' 3; 8 pigeonhole
    * blocks of 8 bits still keep decorrelated clips (~32 bits apart)
    * unreachable. */
  val AudioMaxHamming = 7

  /** AUDIO perceptual near-dup driver query
    * ([[graft.operators.Multimodal.audioFingerprints]] +
    * [[graft.operators.Dedup.simhashPairsFromSignatures]]): every document
    * becomes a REAL encoded WAV clip, every 5th also a one-sample-edited
    * copy, then the decode → quantized-waveform SimHash → Hamming-banded
    * pigeonhole pair join finds the copies without any all-pairs
    * comparison — the image near-dup ladder with the codec and fingerprint
    * swapped for the audio stack. (Besides the planted copies, adjacent
    * doc ids yield waveforms offset by 31/65536 of full scale — genuinely
    * near-identical audio below the quantization width — and surface as
    * incidental near-dups, like the image corpus's hash-near stills.)
    * PCM16 is lossless and the hash md5/integer-exact, so the DuckDB
    * oracle mirrors the whole pipeline from the generator's closed sample
    * forms. Output: (id1, id2, hamming). */
  def multimodalNearDupAudio(s: SparkSession, dir: String): DataFrame =
    CacheScope.pass {
      val d = docs(s, dir)
      val base = d.select(col("doc_id").as("media_id"),
        col("doc_id").as("base_id"), lit(0).as("bump"))
      val variants = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PhashVariantOffset).as("media_id"),
          col("doc_id").as("base_id"), lit(1).as("bump"))
      val media = Multimodal.syntheticAudioVariants(
        base.union(variants), "media_id", "base_id", "bump")
      // cache: the banded pair join reads the fingerprint frame twice
      val hashes = CacheScope.persist(Multimodal.audioFingerprints(media)
        .select(col("media_id").as("id"), col("afp").as("sh")))
      Dedup.simhashPairsFromSignatures(hashes, maxHamming = AudioMaxHamming)
        .orderBy("id1", "id2")
    }

  private val phashIngestCache =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Streaming-ingest image-dedup driver query
    * ([[graft.streaming.IngestPhash.processBatch]] — batch-driven, the
    * same unit foreachBatch delivers): batch 1 ingests every base still
    * (in-batch near-dup collapse included — the synthetic corpus has
    * incidental hash-near images), batch 2 delivers TWO edited copies of
    * every 5th document (bump 1 and bump 2) — the copies collapse against
    * each other in-batch (keep-min), and the survivor is then dropped by
    * the index probe when it lands within the Hamming budget of its
    * batch-1 base. Output: the accumulated corpus ids. The oracle
    * replays the whole ladder declaratively: closed-form hashes for all
    * three payload sets, per-batch recursive component closure with
    * min-id survivorship, then the cross-batch Hamming filter. */
  def multimodalIncremental(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val d = docs(s, dir)
    val (_, corpusPath) = Memo.memo(phashIngestCache, dir, {
      val root = "target/graft_phash_ingest_" +
        // v2: the corpus sink became a BucketedCorpus layout (hash-bucketed
        // dirs) — force a rebuild so the memo can't serve the flat layout
        layoutStamp(dir, "documents", s"phashing|$PhashMaxHamming|pfx4|v2")
      val idx = s"$root/index"
      val cor = s"$root/corpus"
      val done = Paths.get(root, "_graft_ingest_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        def still(src: DataFrame, offset: Long, bump: Int) =
          Multimodal.syntheticStillVariants(
            src.select((col("doc_id") + offset).as("media_id"),
              col("doc_id").as("base_id"), lit(bump).as("bump")),
            "media_id", "base_id", "bump")
        val batch1 = still(d, 0L, 0)
        val fifth = d.where(col("doc_id") % 5 === 0)
        val batch2 = still(fifth, PhashVariantOffset, 1)
          .union(still(fifth, 2L * PhashVariantOffset, 2))
        graft.streaming.IngestPhash.processBatch(batch1, idx, cor, PhashMaxHamming)
        graft.streaming.IngestPhash.processBatch(batch2, idx, cor, PhashMaxHamming)
        Files.write(done, Array.emptyByteArray)
      }
      (idx, cor)
    })
    s.read.parquet(corpusPath).select(col("media_id")).orderBy("media_id")
  }

  private val phashIndexCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Probe-vs-persisted-index driver query
    * ([[graft.operators.Multimodal.writePhashIndex]] /
    * [[graft.operators.Multimodal.phashProbeIndex]]): the whole corpus's
    * aHashes live in the banded `bp`-partitioned index (one-off ingest,
    * stamped + reused); the one-pixel-edited variants then probe it —
    * reading ONLY their own block-value partitions — and must surface
    * exactly the ≤ maxHamming probe×corpus pairs (pigeonhole
    * recall-completeness, verified on the full hashes the postings
    * carry). The shape a curation pipeline runs daily: dedup the new
    * delivery against the indexed corpus without rescanning the corpus. */
  def multimodalProbeIndex(s: SparkSession, dir: String): DataFrame =
    CacheScope.pass {
      val d = docs(s, dir)
      val path = Memo.memo(phashIndexCache, dir, {
        val p = "target/graft_phash_index_" +
          layoutStamp(dir, "documents", s"phash|$PhashMaxHamming|pfx4|v1")
        if (!layoutComplete(p)) {
          val base = d.select(col("doc_id").as("media_id"),
            col("doc_id").as("base_id"), lit(0).as("bump"))
          val corpusHashes = Multimodal.perceptualHashes(
            Multimodal.syntheticStillVariants(base, "media_id", "base_id", "bump"))
          Multimodal.writePhashIndex(corpusHashes, p, PhashMaxHamming)
        }
        p
      })
      val variants = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PhashVariantOffset).as("media_id"),
          col("doc_id").as("base_id"), lit(1).as("bump"))
      // cached: the banded probe derivation reads the hash frame twice
      // (partition-list collect + candidate join)
      val probes = CacheScope.persist(Multimodal.perceptualHashes(
        Multimodal.syntheticStillVariants(variants, "media_id", "base_id", "bump")))
      Multimodal.phashProbeIndex(s, path, probes, PhashMaxHamming)
        .orderBy("probe_id", "corpus_id")
    }

  /** VIDEO perceptual near-dup driver query
    * ([[graft.operators.Multimodal.videoFrameHashes]] +
    * [[graft.operators.Dedup.simhashPairsFromSignatures]]): every document
    * becomes a REAL multi-frame GVC1 video (2-4 PNG frames), every 5th
    * also a one-pixel-edited copy (frame 0 only — the other frames stay
    * bit-identical), then per-frame decode → aHash → the banded pigeonhole
    * join over COMPOSITE (video, frame) ids finds close frame pairs
    * without all-pairs comparison, and a grouped rollup lifts them to
    * video pairs: (id1, id2, min frame Hamming, close-frame-pair count).
    * Frames pack into composite id `media_id·8 + frame` (frames ≤ 4 < 8),
    * so composite ordering implies video ordering and the rollup's
    * id1 < id2 matches the oracle's. Output: one row per video pair with
    * any frame pair within the budget. */
  def multimodalNearDupVideo(s: SparkSession, dir: String): DataFrame =
    CacheScope.pass {
      val d = docs(s, dir)
      val base = d.select(col("doc_id").as("media_id"),
        col("doc_id").as("base_id"), lit(0).as("bump"))
      val variants = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PhashVariantOffset).as("media_id"),
          col("doc_id").as("base_id"), lit(1).as("bump"))
      val media = Multimodal.syntheticVideoVariants(
        base.union(variants), "media_id", "base_id", "bump")
      // cache: the banded pair join reads the frame-hash frame twice
      val fh = CacheScope.persist(Multimodal.videoFrameHashes(media)
        .select((col("media_id") * 8 + col("frame")).as("id"),
          col("phash").as("sh")))
      Dedup.simhashPairsFromSignatures(fh, maxHamming = PhashMaxHamming)
        .select(expr("id1 DIV 8").as("v1"), expr("id2 DIV 8").as("v2"),
          col("hamming"))
        .where(col("v1") =!= col("v2"))
        .groupBy("v1", "v2")
        .agg(min(col("hamming")).as("min_hamming"),
          count(lit(1)).as("n_close_frame_pairs"))
        .select(col("v1").as("id1"), col("v2").as("id2"),
          col("min_hamming"), col("n_close_frame_pairs"))
        .orderBy("id1", "id2")
    }

  private val lshIngestCache =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Streaming-ingest embedding-dedup driver query
    * ([[graft.streaming.IngestLsh.processBatch]] — batch-driven, the same
    * unit foreachBatch delivers): batch 1 ingests the even-id half of the
    * embeddings (in-batch LSH near-dup collapse included), batch 2 the odd
    * half — its in-batch survivors then probe the persisted signature
    * index and drop when they sit at cosine ≥ threshold of an indexed
    * batch-1 survivor. Output: the accumulated corpus ids. The oracle
    * replays the ladder declaratively: one literal-hyperplane LSH pair
    * table, per-batch recursive component closure with min-id
    * survivorship, then the cross-batch candidate+cosine filter against
    * batch-1 SURVIVORS only (the index holds survivors, not deliveries). */
  def embeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val e = embeddings(s, dir)
    val (_, corpusPath) = Memo.memo(lshIngestCache, dir, {
      val root = "target/graft_lsh_ingest_" + layoutStamp(dir, "embeddings",
        // v2: the corpus sink became a BucketedCorpus layout (hash-bucketed
        // dirs) — force a rebuild so the memo can't serve the flat layout
        s"lshing|$CosLshBits|$CosLshTables|$CosLshThreshold|pfx4|v2")
      val idx = s"$root/index"
      val cor = s"$root/corpus"
      val done = Paths.get(root, "_graft_ingest_done")
      if (!Files.exists(done)) {
        deleteRecursively(Paths.get(root))
        Files.createDirectories(Paths.get(root))
        def batch(parity: Int) = e.where(col("vec_id") % 2 === parity)
        graft.streaming.IngestLsh.processBatch(batch(0), idx, cor,
          "embedding", "vec_id", CosLshThreshold, EmbeddingDim,
          CosLshBits, CosLshTables, prefixBits = 4)
        graft.streaming.IngestLsh.processBatch(batch(1), idx, cor,
          "embedding", "vec_id", CosLshThreshold, EmbeddingDim,
          CosLshBits, CosLshTables, prefixBits = 4)
        Files.write(done, Array.emptyByteArray)
      }
      (idx, cor)
    })
    s.read.parquet(corpusPath).select(col("vec_id")).orderBy("vec_id")
  }

  private val audioIndexCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Audio probe-vs-persisted-index driver query: the banded fingerprint
    * index machinery is 64-bit-agnostic, so the AUDIO fingerprints ride
    * [[graft.operators.Multimodal.writePhashIndex]] /
    * [[graft.operators.Multimodal.phashProbeIndex]] unchanged (afp renamed
    * to the layout's phash column) — the whole corpus's clip fingerprints
    * live in the `bp`-partitioned index (one-off ingest, stamped+reused),
    * the one-sample-edited variants probe it reading only their own
    * block-value partitions, and must surface exactly the ≤ maxHamming
    * probe×corpus pairs. The daily-delivery dedup shape, audio edition. */
  def multimodalProbeIndexAudio(s: SparkSession, dir: String): DataFrame =
    CacheScope.pass {
      val d = docs(s, dir)
      val path = Memo.memo(audioIndexCache, dir, {
        val p = "target/graft_audio_index_" +
          layoutStamp(dir, "documents", s"afp|$AudioMaxHamming|pfx4|v1")
        if (!layoutComplete(p)) {
          val base = d.select(col("doc_id").as("media_id"),
            col("doc_id").as("base_id"), lit(0).as("bump"))
          val corpusFps = Multimodal.audioFingerprints(
            Multimodal.syntheticAudioVariants(base, "media_id", "base_id", "bump"))
            .select(col("media_id"), col("afp").as("phash"))
          Multimodal.writePhashIndex(corpusFps, p, AudioMaxHamming)
        }
        p
      })
      val variants = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PhashVariantOffset).as("media_id"),
          col("doc_id").as("base_id"), lit(1).as("bump"))
      // cached: the banded probe derivation reads the fingerprint frame
      // twice (partition-list collect + candidate join)
      val probes = CacheScope.persist(Multimodal.audioFingerprints(
        Multimodal.syntheticAudioVariants(variants, "media_id", "base_id", "bump"))
        .select(col("media_id"), col("afp").as("phash")))
      Multimodal.phashProbeIndex(s, path, probes, AudioMaxHamming)
        .orderBy("probe_id", "corpus_id")
    }

  private val videoIndexCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Video probe-vs-persisted-index driver query — the persisted-index
    * face of [[multimodalNearDupVideo]] ([[graft.streaming.IngestVideo]]'s
    * batch probe shape): the whole corpus's PER-FRAME aHashes live in the
    * banded `bp`-partitioned index under composite ids
    * `media_id·8 + frame` (one-off ingest, stamped+reused; the index
    * machinery is 64-bit-agnostic, the audio precedent), the one-pixel-
    * edited variants probe it reading only their own block-value
    * partitions, frame matches lift to video pairs, and the rollup —
    * (probe video, corpus video, min frame Hamming, close-frame-pair
    * count) — must equal the oracle's all-pairs probe×corpus frame scan
    * exactly (pigeonhole recall-completeness at the index's own
    * maxHamming). The daily-delivery dedup shape, video edition. */
  def multimodalProbeIndexVideo(s: SparkSession, dir: String): DataFrame =
    CacheScope.pass {
      val d = docs(s, dir)
      val path = Memo.memo(videoIndexCache, dir, {
        val p = "target/graft_video_index_" +
          layoutStamp(dir, "documents", s"vfp|$PhashMaxHamming|pfx4|v1")
        if (!layoutComplete(p)) {
          val base = d.select(col("doc_id").as("media_id"),
            col("doc_id").as("base_id"), lit(0).as("bump"))
          val corpusFrames = Multimodal.videoFrameHashes(
            Multimodal.syntheticVideoVariants(base, "media_id", "base_id", "bump"))
            .select((col("media_id") * 8 + col("frame")).as("media_id"),
              col("phash"))
          Multimodal.writePhashIndex(corpusFrames, p, PhashMaxHamming)
        }
        p
      })
      val variants = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + PhashVariantOffset).as("media_id"),
          col("doc_id").as("base_id"), lit(1).as("bump"))
      // cached: the banded probe derivation reads the frame-hash frame
      // twice (partition-list collect + candidate join)
      val probes = CacheScope.persist(Multimodal.videoFrameHashes(
        Multimodal.syntheticVideoVariants(variants, "media_id", "base_id", "bump"))
        .select((col("media_id") * 8 + col("frame")).as("media_id"),
          col("phash")))
      Multimodal.phashProbeIndex(s, path, probes, PhashMaxHamming)
        .select(shiftright(col("probe_id"), 3).as("pv"),
          shiftright(col("corpus_id"), 3).as("cv"), col("hamming"))
        .groupBy("pv", "cv")
        .agg(min(col("hamming")).as("min_hamming"),
          count(lit(1)).as("n_close_frame_pairs"))
        .select(col("pv").as("probe_id"), col("cv").as("corpus_id"),
          col("min_hamming"), col("n_close_frame_pairs"))
        .orderBy("probe_id", "corpus_id")
    }

  /** Exact two-sample KS drift driver query
    * ([[graft.operators.Profile.ksStatistic]]): the l_orderkey%3 slice of
    * lineitem prices vs the rest — max CDF deviation as the exact scaled
    * integer max|rank₁·n₂ − rank₂·n₁|, located without any global sort
    * (bucketed two-phase running ranks). The numeric-drift complement of
    * q_events_chi2_drift's categorical test. */
  def profileKs(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    // both samples slice the SAME table ⇒ the tagged one-scan form halves
    // the input scans; output identical by the operator's contract
    // (ksStatisticTagged ≡ ksStatistic(where(!s2), where(s2)))
    graft.operators.Profile.ksStatisticTagged(
      li, "l_extendedprice", col("l_orderkey") % 3 =!= 0)
  }

  /** Per-group KS drift driver query
    * ([[graft.operators.Profile.ksStatisticByGroup]]): the same %3 price
    * split, one exact KS row per l_returnflag segment — "which segment
    * drifted", located without per-group global sorts. */
  def profileKsGrouped(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    // one-scan tagged form (same %3 split folded into per-row side tags)
    graft.operators.Profile.ksStatisticByGroupTagged(
      li, "l_extendedprice", "l_returnflag", col("l_orderkey") % 3 =!= 0)
      .orderBy("l_returnflag")
  }

  /** Metrics the ranked drift rollup scans — one per-group KS per metric. */
  val KsRankedMetrics = Seq("l_extendedprice", "l_quantity", "l_discount")

  /** RANKED drift rollup — the table a drift review actually reads: one
    * row per (metric, segment), every numeric metric's per-group exact KS
    * in one output, ordered worst-first by d_scaled ("which segment of
    * which metric drifted most"). d_scaled = max|r₁·n₂ − r₂·n₁| compares
    * across metrics of the same group because the n₁·n₂ scale is the
    * group's row counts, metric-independent (up to per-metric NULLs).
    * Deterministic ties by (metric, segment). */
  def profileKsRanked(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    // ONE scan for ALL metrics AND both sides: melt (metric, value) rows
    // and ride the grouped KS with a composite (metric ∥ group) key —
    // groups are independent in ksStatisticByGroup, so per-composite-group
    // results are identical to three per-metric runs (the oracle keeps the
    // per-metric form)
    val stackExpr = s"stack(${KsRankedMetrics.size}, " +
      KsRankedMetrics.map(m => s"'$m', CAST($m AS DOUBLE)").mkString(", ") +
      ") AS (metric, v)"
    // ONE melt of ONE scan: the %3 side split rides a per-row tag instead
    // of two filtered passes (2 lineitem scans -> 1; the melt was already
    // the 6 -> 2 consolidation vs per-metric runs)
    val melted = li.where(col("l_returnflag").isNotNull)
      .selectExpr("l_returnflag", "(l_orderkey % 3) != 0 AS __s2", stackExpr)
      .withColumn("__mg", concat_ws("\u0001", col("metric"), col("l_returnflag")))
    graft.operators.Profile.ksStatisticByGroupTagged(melted, "v", "__mg", col("__s2"))
      .withColumn("__parts", split(col("__mg"), "\u0001"))
      .select(col("__parts").getItem(0).as("metric"),
        col("__parts").getItem(1).as("l_returnflag"),
        col("n1"), col("n2"), col("d_scaled"), col("at_value"))
      .orderBy(col("d_scaled").desc, col("metric"), col("l_returnflag"))
  }

  /** Numeric distribution profile over lineitem's measure columns: exact
    * order-statistic percentiles (`percentile_disc`) in one aggregation
    * job; the approx_percentile switch is the 100 TB path, pinned by
    * ProfileSpec. */
  val NumProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def numericProfileLineitem(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.numericProfile(
      s.read.parquet(s"$dir/lineitem.parquet"), NumProfileCols)
      .orderBy("column")

  /** Equi-width histogram driver query: 16 bins over l_extendedprice
    * ([[graft.operators.Profile.equiWidthHistogram]] — min/max pass fixes
    * the edges, grouped count bins; every edge/bin double op mirrored
    * verbatim in the oracle). */
  val HistogramBins = 16

  def profileHistogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.equiWidthHistogram(
      s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice", HistogramBins)
      .orderBy("bin")

  /** Pearson-correlation driver query over lineitem's measures
    * ([[graft.operators.Profile.correlationMatrix]] — one pass of exact
    * decimal moments, fixed double formula per pair). */
  def profileCorr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.correlationMatrix(
      s.read.parquet(s"$dir/lineitem.parquet"), NumProfileCols)
      .orderBy("col1", "col2")

  /** Equi-depth histogram driver query: l_extendedprice deciles bounded
    * by exact order statistics ([[graft.operators.Profile
    * .equiDepthHistogram]] — comparison-count bucket assignment over
    * broadcast boundary literals, no interpolation). */
  def profileHistogramDepth(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.equiDepthHistogram(
      s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice", buckets = 10)
      .orderBy("bucket")

  /** IQR-outlier driver query: Tukey fences at 1.5·IQR over the exact
    * p25/p75 order statistics, with beyond-fence counts
    * ([[graft.operators.Profile.outlierProfile]]). */
  def profileOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.outlierProfile(
      s.read.parquet(s"$dir/lineitem.parquet"), NumProfileCols)
      .orderBy("column")

  /** Hourly event rollup, robust to how the driver typed `ts` this round:
    * nanosecond longs (TIMESTAMP(NANOS) under `nanosAsLong`) bucket with
    * integral division (exact at any magnitude — doubles can't hold ns
    * epochs); real timestamps (timestamp[us] reads as TIMESTAMP_NTZ) bucket
    * as wall-clock hours since epoch via date arithmetic, which is
    * timezone-independent on NTZ regardless of the harness session's zone.
    * Value sums are carried in decimal so the result is order-independent
    * and engine-exact, then surfaced as double. */
  def eventsWindowed(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    val bucket = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 3600000000000")
      case _ => // wall-clock hours since epoch (positive post-1970 data)
        datediff(col("ts").cast("date"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long") * 24L + hour(col("ts")).cast("long")
    }
    ev.select(bucket.as("bucket"), col("event_type"),
        col("value").cast("decimal(18,6)").as("v"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("total_value"))
      .orderBy("bucket", "event_type")
  }

  /** Z-order layout driver query: lineitem written Morton-clustered on
    * (l_partkey, l_suppkey) once per source stamp, then a 2-D box probe
    * (the lowest eighth of each dimension) reads the layout with a plain
    * conjunctive range `where` — parquet row-group stats prune the
    * Z-rectangles that miss the box ([[graft.sources.ZOrder]]; pruning
    * quality pinned in ZOrderSpec). The oracle runs the same box on the
    * source table: a layout must never change query results. */
  /** Hive-partitioned layout driver query: documents written once
    * `partitionBy(lang)` (stamp-keyed like every persisted layout), then
    * the timed probe reads ONE language directory — the partition filter
    * prunes at planning time (PartitionFilters, no footer reads outside
    * the slice) — and rolls up per source. The bread-and-butter warehouse
    * layout: at 100 TB the probe's scan cost is the slice's bytes, not the
    * table's. The oracle runs the same rollup on the source table with a
    * WHERE — a layout must never change results. */
  private val partitionedLayoutCache = scala.collection.concurrent.TrieMap[String, String]()

  def layoutPartitioned(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val path = Memo.memo(partitionedLayoutCache, dir, {
      val p = "target/graft_part_lang_" + layoutStamp(dir, "documents", "by=lang|v1")
      if (!layoutComplete(p))
        d.write.mode("overwrite").partitionBy("lang").parquet(p)
      p
    })
    s.read.parquet(path).where(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("source")
  }

  private val zorderLayoutCache = scala.collection.concurrent.TrieMap[String, String]()

  def layoutZOrder(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val path = Memo.memo(zorderLayoutCache, dir, {
      val p = "target/graft_zorder_" +
        layoutStamp(dir, "lineitem", "bits=8|dims=part,supp|files=32|v1")
      if (!layoutComplete(p))
        graft.sources.ZOrder.writeZOrdered(
          li, Seq("l_partkey", "l_suppkey"), p, bits = 8, numFiles = 32)
      p
    })
    val mm = li.agg(
      min(col("l_partkey")).as("pmn"), max(col("l_partkey")).as("pmx"),
      min(col("l_suppkey")).as("smn"), max(col("l_suppkey")).as("smx")).first()
    val (pmn, pmx) = (mm.getAs[Long]("pmn"), mm.getAs[Long]("pmx"))
    val (smn, smx) = (mm.getAs[Long]("smn"), mm.getAs[Long]("smx"))
    s.read.parquet(path)
      .where(col("l_partkey") >= pmn && col("l_partkey") <= pmn + (pmx - pmn) / 8 &&
        col("l_suppkey") >= smn && col("l_suppkey") <= smn + (smx - smn) / 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity").cast("double").as("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  /** Fixed-point PageRank driver query: 5 supersteps over the bipartite
    * customer↔supplier trade graph (distinct pairs through orders×lineitem,
    * both directions), scaled-BIGINT arithmetic end to end
    * ([[graft.operators.Graph.pageRankScaled]]) — integer sums make a
    * distributed iterative rank computation hash-checkable against the
    * oracle's unrolled-CTE mirror. */
  val PageRankIters = 5

  def graphPageRank(s: SparkSession, dir: String): DataFrame = {
    val o = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    // one-direction pairs only: the operator dedups + caches them once and
    // symmetrizes from the cache (even/odd id domains — reversal can't
    // collide with a forward edge)
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    // The node domain is bounded by the customer+supplier dim tables, so the
    // small-graph answer is knowable from a METADATA count (parquet row-count
    // footers — no scan, no graph-sized probe job). Gate the hint on it:
    // below the operator's broadcast limit, skip the sizing probe; above it
    // (the dims grow with sf — ~15M nodes well before 100 TB), hand the
    // decision back to the operator so it degrades to the shuffle-join
    // supersteps instead of broadcasting a multi-GB rank table.
    val nodeUpperBound =
      s.read.parquet(s"$dir/customer.parquet").count() +
        s.read.parquet(s"$dir/supplier.parquet").count()
    graft.operators.Graph.pageRankScaled(pairs, PageRankIters, symmetrize = true,
      assumeSmallGraph = if (nodeUpperBound <= 4000000L) Some(true) else None)
      .selectExpr(
        "CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind",
        "node DIV 2 AS key", "rank_scaled")
      .orderBy("kind", "key")
  }

  /** Min-label community coarsening driver query
    * ([[graft.operators.Graph.minLabelPropagation]]): 2 supersteps of
    * synchronous HashMin over the symmetrized customer↔supplier trade
    * graph, rolled up to community sizes. Exact integer labels ⇒ the
    * whole assignment hash-checks against an unrolled 2-level SQL
    * mirror (CTEs l1, l2). Broadcast gated on the same dim-table
    * metadata counts as the PageRank twin. */
  def graphLabelProp(s: SparkSession, dir: String): DataFrame = {
    // thin to every 7th order: the full trade graph is near-complete and
    // collapses to ONE community — the sparse subgraph keeps a real
    // community-size distribution for the fixture to pin
    val o = s.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val nodeUpperBound =
      s.read.parquet(s"$dir/customer.parquet").count() +
        s.read.parquet(s"$dir/supplier.parquet").count()
    graft.operators.Graph.minLabelPropagation(pairs, iters = 2, symmetrize = true,
      assumeSmallGraph = if (nodeUpperBound <= 4000000L) Some(true) else None)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("community")
  }

  /** PPR superstep count — 3 keeps the oracle's unrolled CTE depth modest
    * while the seed mass visibly diffuses two hops past the seed set. */
  val PprIters = 3

  /** Personalized-PageRank (TrustRank) driver query
    * ([[graft.operators.Graph.personalizedPageRankScaled]]): every 10th
    * customer is a TRUSTED seed; rank mass teleports back to the seeds
    * only and diffuses over the thinned symmetrized trade graph — each
    * node's score is its graph proximity to trust, the corpus-curation
    * primitive for propagating a small vetted set's quality signal.
    * Exact scaled-integer supersteps ⇒ the whole run hash-checks against
    * the unrolled 3-level SQL mirror. Broadcast gated on the same
    * dim-table metadata counts as the PageRank twin. */
  def graphPpr(s: SparkSession, dir: String): DataFrame = {
    val o = s.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val seeds = s.read.parquet(s"$dir/customer.parquet")
      .where(col("c_custkey") % 10 === 0)
      .select((col("c_custkey") * 2).as("node"))
    val nodeUpperBound =
      s.read.parquet(s"$dir/customer.parquet").count() +
        s.read.parquet(s"$dir/supplier.parquet").count()
    graft.operators.Graph.personalizedPageRankScaled(pairs, seeds, PprIters,
      symmetrize = true,
      assumeSmallGraph = if (nodeUpperBound <= 4000000L) Some(true) else None)
      .selectExpr(
        "CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind",
        "node DIV 2 AS key", "rank_scaled")
      .orderBy("kind", "key")
  }

  /** TrustRank over the DOC-SIMILARITY graph — the end-to-end curation
    * composite: edges are MinHash near-dup pairs (the q_dedup_minhash_lsh
    * detector verbatim, symmetrized), seeds are the curated slice
    * (doc_id % 7 = 0), and seed trust diffuses over similarity edges —
    * "how close is each document to vetted content through chains of
    * near-duplication", the signal that catches paraphrase farms whose
    * members individually pass quality gates. Reuses
    * [[graft.operators.Graph.personalizedPageRankScaled]] unchanged; the
    * oracle composes the MinHash pair CTEs with the unrolled PPR mirror.
    * Documents in no near-dup pair are not graph nodes and emit no row. */
  def graphPprDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashNearDuplicatesMd5(d, "text", "doc_id",
      threshold = 0.5, numHashes = 64, bands = 16)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val seeds = d.where(col("doc_id") % 7 === 0).select(col("doc_id").as("node"))
    // near-dup pairs are one row per (id1 < id2) by construction (the
    // candidate set dedups before verification), so the edge-distinct
    // shuffle is skippable
    graft.operators.Graph.personalizedPageRankScaled(pairs, seeds, PprIters,
      edgesDistinct = true, symmetrize = true,
      assumeSmallGraph = if (d.count() <= 4000000L) Some(true) else None)
      .select(col("node").as("doc_id"), col("rank_scaled"))
      .orderBy("doc_id")
  }

  /** CUSUM changepoint driver query: per-user one-sided drift statistic
    * vs a 60.0 reference, flagged above 200.0 accumulated excess
    * ([[graft.operators.TimeSeries.cusumFlags]] — prefix-sum minus
    * running-min over ONE key exchange, pure BIGINT micro-units). */
  def eventsCusum(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    graft.operators.TimeSeries.cusumFlags(
      ev, keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      valueCol = "value", referenceUs = 60000000L, thresholdUs = 200000000L)
      .orderBy("event_id")
  }

  /** Multi-source BFS driver query: hop distances (≤ 3) from nation-0's
    * suppliers through the symmetrized customer↔supplier trade graph
    * ([[graft.operators.Graph.kHopDistances]] — frontier equi-joins + one
    * anti-join per superstep). Exact integer distances ⇒ the full reach
    * set hash-checks against the oracle's unrolled per-level mirror. */
  def graphKHop(s: SparkSession, dir: String): DataFrame = {
    val o = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
    val oneDir = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val sources = s.read.parquet(s"$dir/supplier.parquet")
      .where(col("s_nationkey") === 0)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    // symmetrize INSIDE the operator: the o⋈li edge derivation runs once
    // at cache fill instead of once per union branch. Shuffle joins
    // (Some(false)) by measurement: the broadcast form trades the
    // pipelined per-level shuffles for serial per-level broadcast builds
    // and measured 1.24× SLOWER at sf0.1 (r16 A/B, min-of-8, both
    // orderings, flat canaries); at genuinely large edge tables the
    // caller can hint Some(true) or let None measure per level.
    graft.operators.Graph.kHopDistances(oneDir, sources, maxHops = 3,
      symmetrize = true, assumeSmallFrontier = Some(false))
      .orderBy("node")
  }

  /** Sliding-window rollup driver query: 2-hour windows every hour via
    * Spark's native `window()` generator — each event lands in exactly two
    * epoch-aligned windows, mirrored in the oracle as a union of two
    * shifted hourly bucketings. Decimal-exact sums, epoch-micros window
    * starts. */
  def eventsSliding(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    ev.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start_us", "event_type")
  }

  /** Percent-rank normalization driver query: l_quantity's within-flag
    * quantile position ([[graft.operators.Normalize.percentRankByGroup]]),
    * collapsed to the distinct (flag, value, pr) triples — tie rows share
    * a rank, so the triple set is the full function graph. */
  def normalizeRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Normalize.percentRankByGroup(
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("l_quantity")),
      Seq("l_returnflag"), "l_quantity", "pr")
      .distinct()
      .orderBy("l_returnflag", "l_quantity")

  /** Semi-structured extraction driver query: the `props` JSON column
    * parsed with a typed `from_json` schema (Jackson, codegen projection —
    * the schema-on-read path for event payloads), rolled up per event
    * type. Integer payloads keep the aggregate exact; the oracle parses
    * the same strings with DuckDB's JSON extension. */
  def eventsProps(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy("event_type")

  /** Multi-dimensional ROLLUP driver query: (lang, source) document counts
    * with subtotal and grand-total rows — the reporting-cube shape Spark
    * plans as one Expand + aggregation (no per-level jobs). */
  def docsRollup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .select(coalesce(col("lang"), lit("<all>")).as("lang"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("n_docs"), col("total_chars"))
      .orderBy("lang", "source")

  /** As-of join driver query: every purchase event attributed to the same
    * user's most recent click at-or-before it, within a 2-hour tolerance —
    * the pandas `merge_asof` shape as a single-shuffle union+forward-fill
    * plan (no range join, no row duplication; [[graft.operators.AsOf]]).
    * Timestamps surface as epoch micros so the result is integer-exact
    * across engines (UTC sessions). */
  def eventsAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id", "value")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id")
    graft.operators.AsOf.asofBackward(
      purchases, clicks, Seq("user_id"), "ts",
      payload = Seq("event_id", "value"), tieCol = "event_id",
      tolerance = Some(expr("INTERVAL '2' HOUR")))
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("asof_event_id").as("click_id"),
        unix_micros(col("asof_ts")).as("click_ts_us"),
        col("asof_value").as("click_value"))
      .orderBy("purchase_id")
  }

  /** Gap-based sessionization driver query: per-user sessions split on
    * 30-minute silences, rolled up to exact counts/spans/decimal sums
    * ([[graft.operators.Sessionize]] — one shuffle, two same-order window
    * passes, pre-partitioned rollup). */
  def eventsSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    graft.operators.Sessionize.sessionStats(
      ev, keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      gapSeconds = 1800L, valueCol = "value")
      .orderBy("user_id", "session_seq")
  }

  /** Bucketed band-join driver query: click↔purchase pairs for the same
    * user within ±1 hour ([[graft.operators.RangeJoin.bandJoin]] — the
    * time bucket joins as part of the key, so the per-user cross product
    * never materializes; the exact |Δt| predicate is a residual filter). */
  def eventsRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
      .withColumn("ts_us", unix_micros(col("ts")))
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts_us", "event_id")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "ts_us", "event_id")
    graft.operators.RangeJoin.bandJoin(
      clicks, purchases, Seq("user_id"), "ts_us",
      bandWidthMicros = 3600000000L, lPrefix = "c_", rPrefix = "p_")
      .select(
        col("c_event_id").as("click_id"),
        col("p_event_id").as("purchase_id"),
        col("c_user_id").as("user_id"),
        (col("p_ts_us") - col("c_ts_us")).as("gap_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** Trailing event-time features driver query: per-user 1-hour trailing
    * count/decimal-exact sum + previous-event gap at every event
    * ([[graft.operators.TimeSeries.trailingFeatures]] — one shuffle,
    * RANGE-framed windows, no self-join). */
  def eventsTrailing(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    graft.operators.TimeSeries.trailingFeatures(
      ev, keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      valueCol = "value", horizonSeconds = 3600L)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("trailing_n"), col("trailing_sum"), col("gap_us"))
      .orderBy("event_id")
  }

  /** Ordered-funnel driver query: per-user earliest reach times through
    * view → click → purchase ([[graft.operators.Funnel.funnelStages]] —
    * stage mins as unbounded windows over ONE user_id exchange, rollup
    * pre-partitioned). Epoch-micros outputs keep the hash engine-exact. */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    graft.operators.Funnel.funnelStages(
      ev, keyCol = "user_id", tsCol = "ts", stageCol = "event_type",
      stages = FunnelStages)
      .select(col("user_id"),
        unix_micros(col("stage_1_ts")).as("view_us"),
        unix_micros(col("stage_2_ts")).as("click_us"),
        unix_micros(col("stage_3_ts")).as("purchase_us"),
        col("depth"))
      .orderBy("user_id")
  }

  /** Epoch-day index as FLOOR division. The DuckDB oracles' `//` floors;
    * Spark's `DIV` truncates toward zero — a pre-epoch timestamp would
    * otherwise land on a different day index (and parity) than the oracle.
    * One shared definition for every day-bucketed driver query. */
  private val epochDayFloor = expr(
    "unix_micros(ts) DIV 86400000000" +
      " - (CASE WHEN unix_micros(ts) % 86400000000 < 0 THEN 1 ELSE 0 END)")

  /** Cohort-retention driver query: users bucketed by first-activity day,
    * distinct-user counts per (cohort day, day offset)
    * ([[graft.operators.Funnel.cohortRetention]]). Day numbers are integral
    * epoch-day divisions — exact and timezone-free in both engines. */
  def eventsCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
      .withColumn("day", epochDayFloor)
    graft.operators.Funnel.cohortRetention(ev, keyCol = "user_id", dayCol = "day")
      .select(col("cohort_day").cast("long").as("cohort_day"),
        col("day_offset").cast("long").as("day_offset"),
        col("n_keys").cast("long").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** BM25 keyword-search driver query: top-25 documents for a three-term
    * query under the engine-portable fixed-point scorer
    * ([[graft.operators.Search.bm25TopKPortable]]) — one stats pass, one
    * map-side scoring pass into TakeOrderedAndProject. 'dup' is the rare
    * discriminating term (df≈5% of docs); the other two are common. */
  val Bm25Terms: Seq[String] = Seq("dup", "vector", "merge")

  def textBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Search.bm25TopKPortable(
      docs(s, dir), "text", "doc_id", Bm25Terms, k = 25)

  /** Persisted-inverted-index BM25: postings partitioned by term-hash
    * bucket (built once per JVM × dir, stamp-keyed like the ANN layouts),
    * probe reads ONLY the query terms' bucket partitions and shuffles
    * candidate docs only. Identical scoring contract to [[textBm25]], so
    * the same oracle hash-checks the partitioned write → pruned read →
    * score → rank path end to end. */
  val InvIndexBuckets = 64
  private val invIndexCache = scala.collection.concurrent.TrieMap[String, String]()

  def textBm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val path = Memo.memo(invIndexCache, dir, {
      val p = "target/graft_inverted_index_" +
        layoutStamp(dir, "documents", s"buckets=$InvIndexBuckets|v1")
      if (!layoutComplete(p))
        graft.operators.Search.writeInvertedIndex(
          docs(s, dir), "text", "doc_id", p, InvIndexBuckets)
      p
    })
    graft.operators.Search.bm25TopKFromIndex(s, path, Bm25Terms, k = 25,
      numBuckets = InvIndexBuckets)
  }

  /** Trigram-index corpus grep parameters: the pattern is a token bigram
    * the synthetic corpus repeats often enough to be a real fixture at
    * every SF; buckets sized so a probe's partition filter bites. */
  val TrigramBuckets = 64
  val GrepPattern = "window window"
  private val trgmIndexCache = scala.collection.concurrent.TrieMap[String, String]()

  /** Corpus-grep driver query
    * ([[graft.operators.Search.substringSearchFromIndex]]): substring
    * search through the persisted character-trigram postings index —
    * candidates = docs matching ALL pattern trigrams (recall-complete by
    * construction), verified with a real `contains` on candidates only.
    * The oracle is the full-scan contains — the index path must return
    * exactly the scan's answer. */
  def textGrep(s: SparkSession, dir: String): DataFrame = {
    val path = Memo.memo(trgmIndexCache, dir, {
      val p = "target/graft_trigram_index_" +
        layoutStamp(dir, "documents", s"buckets=$TrigramBuckets|v1")
      if (!layoutComplete(p))
        graft.operators.Search.writeTrigramIndex(
          docs(s, dir), "text", "doc_id", p, TrigramBuckets)
      p
    })
    graft.operators.Search.substringSearchFromIndex(
      s, path, docs(s, dir), "text", "doc_id", GrepPattern, TrigramBuckets)
      .orderBy("doc_id")
  }

  /** Collocation-mining driver query: top-25 adjacent bigrams (count ≥ 5)
    * with exact integer counts and the one-division lift ratio
    * ([[graft.operators.Collocations.topBigrams]] — two grouped counts, a
    * TakeOrdered top-k, k-bounded collects only). */
  val CollocationK = 25
  val CollocationMinCount = 5L

  def textCollocations(s: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.topBigrams(
      docs(s, dir), "text", CollocationK, CollocationMinCount)
      .orderBy(col("c_xy").desc, col("w1"), col("w2"))

  /** Group-wise z-score normalization driver query: l_quantity scaled
    * within each return flag ([[graft.operators.Normalize]] — one exact
    * decimal-moment aggregation, broadcast join back, fixed double-op
    * sequence so every z is engine-identical). */
  def normalizeGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Normalize.zscoreByGroup(
      s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_returnflag", "l_quantity"),
      Seq("l_returnflag"), "l_quantity", "z")
      .select(col("l_returnflag"),
        col("l_quantity").cast("double").as("l_quantity"), col("z"))
      .orderBy("l_returnflag", "l_quantity")

  /** Winsorization driver query: l_extendedprice clipped to each return
    * flag's exact [p05, p95] order statistics
    * ([[graft.operators.Normalize.winsorizeByGroup]] — one sort-based
    * boundary aggregation, broadcast back, pure-comparison clip ⇒
    * bit-identical output). */
  def normalizeWinsor(s: SparkSession, dir: String): DataFrame =
    graft.operators.Normalize.winsorizeByGroup(
      s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
      Seq("l_returnflag"), "l_extendedprice", pLo = 0.05, pHi = 0.95)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice").cast("double").as("value"), col("clipped"))
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "value")

  /** Budget-constrained quality selection: the maximal (quality desc,
    * doc_id) prefix whose token sum fits a 12k-token budget
    * ([[graft.operators.Selection]] — bucket-summary prefix scan + an
    * ordered pass over only the boundary bucket; no global sort). */
  val SelectBudgetTokens = 12000L

  def selectBudget(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Selection, TextOps}
    val scored = docs(s, dir).select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality_score"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    Selection.selectByBudget(scored, "quality_score", "n_tokens", "doc_id",
      budget = SelectBudgetTokens, numBuckets = 256,
      scoreRange = Some((0.0, 1.0))) // qualityScore's contract range
      .orderBy("doc_id")
  }

  /** Per-source token budget for the grouped selection driver query (small
    * enough that every source gets a real boundary cut at sf0.01+). */
  val SelectBudgetGroupTokens = 2500L

  /** Per-group budget selection driver query
    * ([[graft.operators.Selection.selectByBudgetPerGroup]]): every source
    * domain independently fills a 2500-token quota with its best-quality
    * documents — per-domain curation quotas, boundary cut resolved per
    * group in parallel. */
  def selectBudgetGrouped(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Selection, TextOps}
    val scored = docs(s, dir).select(col("doc_id"), col("source"),
      TextOps.qualityScore(col("text")).as("quality_score"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    Selection.selectByBudgetPerGroup(scored, Seq("source"),
      "quality_score", "n_tokens", "doc_id",
      budget = SelectBudgetGroupTokens, numBuckets = 256,
      scoreRange = Some((0.0, 1.0)))
      .orderBy("doc_id")
  }

  /** Deterministic 80/10/10 split assignment per document (md5-bucketed —
    * reproducible across engines, runs, and partitionings), rolled up to
    * per-split counts. */
  def splitCounts(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.withSplit(docs(s, dir), "doc_id", trainPct = 80, valPct = 10)
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
      .orderBy("split")
  }

  /** Deterministic training-export shuffle: every document gets a
    * reproducible (shard, position) from its id's md5 — the data-ordering
    * pass before tokenization. Fully hash-checked: shard assignment AND
    * the within-shard order are engine-portable by construction. */
  val ShuffleExportBuckets = 8

  /** Range-sharded export driver query
    * ([[graft.operators.Export.rangeShardedPositions]]): documents range-
    * sharded on n_chars into 8 globally-ordered shards — exact equi-depth
    * boundaries via distributed rank selection, (shard, pos) a global
    * total order, no task sorting more than ≈ n/8 rows. */
  def exportRangeSharded(s: SparkSession, dir: String): DataFrame =
    graft.operators.Export.rangeShardedPositions(
      docs(s, dir).select(col("doc_id"), col("n_chars")),
      "n_chars", "doc_id", numShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  /** STRING-keyed range-sharded export driver query
    * ([[graft.operators.Export.rangeShardedPositionsString]]): documents
    * sharded on the lexicographic key source#doc_id — the common
    * text-corpus case (export ordered by a string id). Boundaries are
    * exact lexicographic order statistics via the prefix-stripped string
    * rank selection; shard membership and within-shard order are plain
    * binary string comparisons, which DuckDB's default collation mirrors
    * directly. */
  def exportRangeShardedStr(s: SparkSession, dir: String): DataFrame =
    graft.operators.Export.rangeShardedPositions(
      docs(s, dir).select(col("doc_id"),
        concat(col("source"), lit("#"), col("doc_id").cast("string")).as("k")),
      "k", "doc_id", numShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  def shuffleExport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.deterministicShuffle(docs(s, dir), "doc_id", ShuffleExportBuckets)
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"), col("pos"))
      .orderBy("doc_id")
  }

  /** Skew-mitigated aggregation under the driver contract: a manufactured
    * hot key (every even orderkey collapses onto key 0 — roughly half the
    * table on one key) rolled up through [[graft.operators.Skew.saltedAggregate]]'s
    * two-phase (key, salt) → key plan, so no single reducer sees the hot
    * key's full stream. Decimal partial sums are exact and associative —
    * the result is salt-assignment-independent and mirrors a plain
    * GROUP BY, which is what makes a SALTED plan oracle-checkable. */
  def skewAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val keyed = s.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("hot_key",
        when(col("l_orderkey") % 2 === 0, lit(0L))
          .otherwise(col("l_orderkey") % 100).cast("long"))
      .withColumn("q", col("l_quantity").cast("decimal(18,6)"))
    Skew.saltedAggregate(keyed, Seq("hot_key"), factor = 8,
      partialAggs = Seq((sum(col("q")), "qty_sum"), (count(lit(1)), "n")),
      finalAggs = Seq(
        ((n: String) => sum(col(n)), "qty_sum"),
        ((n: String) => sum(col(n)), "n")))
      .select(col("hot_key"),
        col("n").cast("long").as("n"),
        col("qty_sum").cast("double").as("qty_sum"))
      .orderBy("hot_key")
  }

  /** Per-language document rollup (exact counts, decimal-exact avg). */
  def langRollup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"))
      .orderBy("lang")

  /** Pivot driver query: documents cross-tabulated lang × source with an
    * EXPLICIT pivot value list (the scale-correct form — no extra
    * distinct-values job, stable output schema); absent cells fill 0. */
  val PivotSources: Seq[String] = (0 until 20).map(i => s"src$i")

  def docsPivot(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy("lang")
      .pivot("source", PivotSources)
      .count()
      .na.fill(0L, PivotSources)
      .orderBy("lang")

  /** Curriculum-binning driver query: documents quartile-bucketed by
    * quality WITHOUT a global sort — the quartile boundaries come from the
    * exact rank-selection percentile pass ([[graft.operators.Profile.numericProfile]],
    * one shuffle of (column, value) pairs), then staging is a pure
    * comparison expression and the rollup a grouped count. A global
    * `ntile` window would sort the corpus on one partition. */
  def docsCurriculum(s: SparkSession, dir: String): DataFrame = CacheScope.pass {
    import graft.operators.TextOps
    // cached: consumed by the percentile probe AND the staged rollup —
    // uncached, the quality-score/token-count text expressions (the
    // query's dominant cost) ran over the corpus twice
    val scored = CacheScope.persist(docs(s, dir).select(col("doc_id"), col("lang"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens")))
    val prof = graft.operators.Profile.numericProfile(
      scored.select("q"), Seq("q"), Seq(0.25, 0.5, 0.75)).first()
    val (q25, q50, q75) = (prof.getDouble(4), prof.getDouble(5), prof.getDouble(6))
    scored.withColumn("stage",
        when(col("q") <= q25, 1L).when(col("q") <= q50, 2L)
          .when(col("q") <= q75, 3L).otherwise(4L))
      .groupBy("stage", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy("stage", "lang")
  }

  /** Multi-join analytical driver query (TPC-H Q5 shape): revenue by
    * nation for one region/year (1996 / ASIA) — the fact table joins broadcast
    * dimensions (region→nation→supplier/customer all tiny), so the only
    * big-table work is one scan of orders⋈lineitem and the final rollup;
    * revenue accumulates in DECIMAL (exact product of decimal casts, so
    * the sum is order-independent and hash-checkable). */
  def salesByNation(s: SparkSession, dir: String): DataFrame = {
    def t(n: String) = s.read.parquet(s"$dir/$n.parquet")
    val region = t("region").where(col("r_name") === "ASIA")
    val nation = t("nation")
    val supplier = t("supplier")
    val customer = t("customer")
    val orders = t("orders").where(year(col("o_orderdate")) === 1996)
    val lineitem = t("lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"),
        (col("l_extendedprice").cast("decimal(18,6)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,6)") -
            col("l_discount").cast("decimal(18,6)"))).as("rev"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("revenue"))
      .select(col("n_name"), col("n_items"),
        col("revenue").cast("double").as("revenue"))
      .orderBy("n_name")
  }

  /** Top-20 customers by decimal-exact revenue (TPC-H Q10 shape):
    * fact-side rollup FIRST (groupBy custkey — the only big shuffle),
    * then only the 20 winners join the customer dimension. */
  def topCustomers(s: SparkSession, dir: String): DataFrame = {
    def t(n: String) = s.read.parquet(s"$dir/$n.parquet")
    val rev = t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"),
        (col("l_extendedprice").cast("decimal(18,6)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,6)") -
            col("l_discount").cast("decimal(18,6)"))).as("rev"))
      .groupBy("o_custkey")
      .agg(sum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("o_custkey"))
      .limit(20)
    rev.join(broadcast(t("customer").select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"),
        col("revenue").cast("double").as("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("custkey"))
  }

  /** Distribution-drift driver query: two deterministic lineitem slices
    * (orderkey mod splits — the compare pack's df1/df2 shapes) histogrammed
    * on SHARED equi-width edges, per-bin counts full-outer joined with the
    * one-division rate ratio — the PSI/χ² INPUT table with every cell
    * exact (a single scalar drift statistic would sum per-bin doubles in
    * engine-dependent order; the per-bin table is the portable form). */
  def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val a = li.where(col("l_orderkey") % 10 =!= 7)
    val b = li.where(col("l_orderkey") % 10 =!= 3)
    val v = col("l_extendedprice").cast("double")
    val mm = li.agg(min(v).as("mn"), max(v).as("mx")).first()
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val bins = HistogramBins
    val width = (mx - mn) / bins
    def counts(df: DataFrame, name: String) =
      df.where(v.isNotNull)
        .groupBy(least(floor((v - lit(mn)) / lit(width)),
          lit((bins - 1).toLong)).as("bin"))
        .agg(count(lit(1)).as(name))
    counts(a, "n_a").join(counts(b, "n_b"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("rate_ratio",
        when(col("n_a") > 0 && col("n_b") > 0,
          col("n_b").cast("double") / col("n_a").cast("double")))
      .orderBy("bin")
  }

  /** Shard count for the sorted-export driver query. */
  val ExportShards = 16

  /** Secondary-sorted shard-export manifest driver query
    * ([[graft.operators.Export.sortedShardManifest]]): documents hashed
    * into 16 shards, each ordered by (n_chars, doc_id), manifested as
    * (shard, n_rows, extrema, order-sensitive checksum). The checksum's
    * rank-tagged md5 sum is commutative to AGGREGATE but sensitive to
    * ORDER, which is how a physical-layout property hash-checks against
    * an engine that never sees the files; ExportSpec pins the written
    * layout (one sorted file per shard) to the same checksums. */
  def exportManifest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Export
    Export.sortedShardManifest(docs(s, dir), "doc_id", Seq("n_chars"),
      "n_chars", ExportShards)
      .orderBy("shard")
  }

  /** CDC apply driver query: derive the changeset between two document
    * snapshots ([[graft.operators.Cdc.changesWithValues]] — one null-safe
    * full-outer join) and apply it back to the old snapshot
    * ([[graft.operators.Cdc.applyChanges]] — one anti join + union). The
    * roundtrip invariant apply(A, changes(A→B)) ≡ B makes the whole CDC
    * pipeline oracle-checkable: the mirror just constructs B directly. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Cdc
    val base = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val oldS = base.where(col("doc_id") % 11 =!= 3)
    val newS = docs(s, dir).where(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), col("source"),
        (col("n_chars") + col("doc_id") % 5).as("n_chars"))
    val cs = Cdc.changesWithValues(oldS, newS, Seq("doc_id"), Seq("source", "n_chars"))
    Cdc.applyChanges(oldS, cs, Seq("doc_id"), Seq("source", "n_chars"))
      .orderBy("doc_id")
  }

  /** Incremental join-view maintenance driver query
    * ([[graft.operators.Cdc.maintainJoinView]]): a materialized
    * orders⋈lineitem view under deterministic CDC deltas on BOTH bases
    * (order-status updates + new orders on one side; partkey updates +
    * new lines on the other), maintained via affected-key recompute. The
    * oracle computes the view DIRECTLY from the new snapshots — the
    * incremental plan must reproduce the full rejoin bit-for-bit.
    * Lineitem is restricted to its unique-(orderkey, linenumber) subset
    * (the synthetic table carries duplicate keys; CDC needs keyed rows —
    * same rule as the compare family's uniqueKeyed base). */
  def cdcJoinView(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Cdc
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"), col("l_linenumber"))
    // NOT cached: the window's input exchange is reused across the four
    // consumers within the one action, and an explicit cache of the
    // deduped rows measured 1.2× SLOWER (r16 A/B, min-of-6 interleaved)
    val liU = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_returnflag"))
      .withColumn("__n", count(lit(1)).over(w))
      .where(col("__n") === 1).drop("__n")
    val a0 = orders.where(col("o_orderkey") % 7 =!= 2)
    val a1 = orders.withColumn("o_orderstatus",
      when(col("o_orderkey") % 5 === 1, concat(col("o_orderstatus"), lit("*")))
        .otherwise(col("o_orderstatus")))
    val b0 = liU.where((col("l_orderkey") * 31 + col("l_linenumber")) % 11 =!= 4)
    val b1 = liU.withColumn("l_partkey",
      when(col("l_linenumber") % 4 === 2, col("l_partkey") + 1)
        .otherwise(col("l_partkey")))
    def proj(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("o_orderstatus"), col("l_partkey"), col("l_returnflag"))
    val view0 = proj(a0, b0)
    val dA = Cdc.changes(a0, a1, Seq("o_orderkey"))
    val dB = Cdc.changes(b0, b1, Seq("l_orderkey", "l_linenumber"))
    Cdc.maintainJoinView(view0, a1, b1, dA, dB, "o_orderkey", "l_orderkey")(proj)
      .orderBy("o_orderkey", "l_linenumber", "l_partkey")
  }

  private val orcStageCache = scala.collection.concurrent.TrieMap[String, String]()

  /** ORC source driver query: the documents table staged once as ORC
    * (layout-stamped, like the persisted indexes), read back through
    * Spark's native ORC scan, and rolled up per language with an
    * order-independent content checksum over (doc_id, md5(text)) — the
    * roundtrip proof that VALUES survive the format, not just counts. The
    * oracle runs the same arithmetic on the parquet table. */
  def sourceOrc(s: SparkSession, dir: String): DataFrame = {
    val path = Memo.memo(orcStageCache, dir, {
      val p = "target/graft_orc_documents_" + layoutStamp(dir, "documents", "orc|v1")
      if (!layoutComplete(p))
        docs(s, dir).write.mode("overwrite").orc(p)
      p
    })
    val elem = Dedup.md5Long48(
      concat(col("doc_id").cast("string"), lit(":"),
        md5(col("text").cast("binary"))).cast("binary"))
    s.read.orc(path)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(elem.cast("decimal(38,0)")).cast("string").as("checksum"))
      .orderBy("lang")
  }

  /** Chi-squared categorical drift driver query: the documents corpus
    * sliced two ways (doc_id mod splits — the same A/B shapes as
    * [[profileDrift]]) cross-tabulated on `source`, every cell's χ²
    * contribution an exact cross-multiplied rational with one final double
    * division ([[graft.operators.Profile.chi2Drift]]). */
  def profileChi2(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Profile.chi2Drift(
      d.where(col("doc_id") % 10 =!= 7),
      d.where(col("doc_id") % 10 =!= 3), "source")
      .orderBy("source")
  }

  /** Event-time drift monitor driver query: the same exact-rational χ²
    * ([[graft.operators.Profile.chi2Drift]]) cross-tabulated on event_type
    * between ALTERNATING EPOCH DAYS of the feed — the "did today's traffic
    * mix shift?" check a streaming pipeline runs on every window pair. */
  def eventsChi2Drift(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
      .withColumn("day", epochDayFloor)
    graft.operators.Profile.chi2Drift(
      ev.where(col("day") % 2 === 0),
      ev.where(col("day") % 2 === 1), "event_type")
      .orderBy("event_type")
  }

  /** SCD Type-2 driver query ([[graft.operators.Cdc.scd2Intervals]]):
    * each user's event stream read as an attribute-version history →
    * validity intervals (valid_from/valid_to micros, current flag). One
    * per-key window; ties on ts break by event_id on both engines. */
  def cdcScd2(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    graft.operators.Cdc.scd2Intervals(
      ev.select(col("user_id"), col("event_id"), col("ts")),
      Seq("user_id"), "ts", "event_id")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("is_current"))
      .orderBy("user_id", "valid_from_us", "event_id")
  }

  /** Corpus snapshot-diff driver query
    * ([[graft.operators.SnapshotDiff.diff]]): snapshot A drops doc_id ≡ 7
    * (mod 10) — those become B's ADDITIONS; B additionally drops ≡ 3
    * (REMOVALS), revises the text of ≡ 1 (CHANGES), and moves ≡ 9 to
    * doc_id + 10⁶ with identical content (RENAMES — content matched by
    * hash across the two key-only slices). Pure key/hash joins — the
    * oracle mirrors every rule including the unique-hash pairing
    * fallback. */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = d.where(col("doc_id") % 10 =!= 7)
    val b = d.where(col("doc_id") % 10 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, concat(col("text"), lit(" (rev2)")))
          .otherwise(col("text")))
      .withColumn("doc_id",
        when(col("doc_id") % 10 === 9, col("doc_id") + 1000000L)
          .otherwise(col("doc_id")))
    graft.operators.SnapshotDiff.diff(a, b, "doc_id", "text")
      .orderBy("status", "id")
  }

  /** The BASELINE workload: full compare + rendered report (text/html/json);
    * emits size metrics so the bench measures the same thing the reference
    * benchmarks (compare construction AND report rendering). */
  def compareReport(s: SparkSession, dir: String): DataFrame = {
    val c = ComparePack.compare(s, dir)
    val data = c.buildReportData()
    val text = data.render
    import s.implicits._
    Seq((text.length.toLong, data.toHtml.length.toLong, data.toJson.length.toLong,
      text.linesIterator.size.toLong))
      .toDF("report_chars", "html_chars", "json_chars", "report_lines")
  }

  /** Hybrid-retrieval driver query: BM25 lexical top-25 (portable integer
    * scoring) fused with exact-cosine ANN top-20 by reciprocal-rank fusion
    * ([[graft.operators.Search.rrfFuse]] — Σ 10¹² DIV (60 + rank), exact
    * BIGINT). Both candidate lists are k-bounded, so the fusion unions ≤45
    * rows regardless of corpus size; final ranks attach from the k-bounded
    * collect. */
  def searchHybrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lexRanks = graft.operators.Search.bm25TopKPortable(
        docs(s, dir), "text", "doc_id", Bm25Terms, k = 25)
      .select(col("id")).collect().zipWithIndex
      .map { case (r, i) => ((i + 1).toLong, r.getLong(0)) }
      .toSeq.toDF("rank", "id")
    val annRanks = annTopK(s, dir).withColumnRenamed("vec_id", "id")
    val fused = graft.operators.Search.rrfFuse(
      Seq(lexRanks, annRanks), k = 20)
    fused.collect().zipWithIndex
      .map { case (r, i) =>
        ((i + 1).toLong, r.getLong(0), r.getLong(1), r.getLong(2)) }
      .toSeq.toDF("rank", "id", "rrf_scaled", "n_lists")
  }

  /** Data-quality constraint suite driver query: the deequ-style pre-ingest
    * gate over lineitem ([[graft.operators.Quality]]) — every row-level
    * check fused into ONE aggregate scan, key-uniqueness as one groupBy,
    * referential integrity as anti-join counts against orders/part. All
    * metrics exact BIGINTs. */
  def qualityChecks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality._
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val orders = s.read.parquet(s"$dir/orders.parquet")
    val part = s.read.parquet(s"$dir/part.parquet")
    validate(li, Seq(
      notNull("l_orderkey"),
      notNull("l_shipdate"),
      inRange("l_quantity", lit(1.0), lit(50.0)),
      inRange("l_discount", lit(0.0), lit(0.08)),
      inSet("l_returnflag", Seq("A", "N", "R")),
      inSet("l_linestatus", Seq("O", "F")),
      unique("l_orderkey", "l_linenumber"),
      refIntegrity("ref(l_orderkey->orders)", Seq("l_orderkey"),
        orders, Seq("o_orderkey")),
      refIntegrity("ref(l_partkey->part)", Seq("l_partkey"),
        part, Seq("p_partkey"))))
      .orderBy("check")
  }

  /** Privacy-audit driver query: k-anonymity over the customer table's
    * quasi-identifier tuple (nation, market segment) — every row in a
    * group smaller than k counts as re-identifiable — plus name-format and
    * balance-domain checks, all through the same compiled
    * [[graft.operators.Quality]] suite (one fused scan + one groupBy). */
  def privacyKanon(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality._
    validate(s.read.parquet(s"$dir/customer.parquet"), Seq(
      kAnonymity(10L, "c_nationkey", "c_mktsegment"),
      notNull("c_name"),
      matchesRegex("c_name", "^Customer#[0-9]+$"),
      inRange("c_acctbal", lit(-999.99), lit(9999.99))))
      .orderBy("check")
  }

  /** Triangle-count driver query: parts co-occurring in an order form an
    * undirected graph; count each part's triangles with the degree-oriented
    * wedge join ([[graft.operators.Graph.triangleCounts]] — O(m^1.5) wedge
    * bound, skew-proof). The oracle mirrors with the naive id-ordered
    * 3-way join, which counts identically because per-node triangle counts
    * are orientation-independent. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    // one part-category slice (¼ of the part domain): the synthetic basket
    // graph is uniformly random, so the full graph's density grows with sf
    // until the wedge join dominates the bench (~38s at sf0.1) — the slice
    // keeps node degree (and the O(m^1.5) wedge bound) sf-stable while
    // exercising the identical plan; the filter pushes to the parquet scan
    val lp = s.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = lp.as("x").join(lp.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
    graft.operators.Graph.triangleCounts(edges)
      .orderBy("node")
  }

  /** CUBE rollup driver query: all 2³ grouping combinations of
    * (returnflag, linestatus, ship_year) in one pass — Spark's expand-based
    * CUBE computes every grouping set from a single scan. Sentinel
    * coalesces stand in for the grouping-null markers so the row set is
    * hash-stable (grouping_id bit orders are engine-specific; sentinels are
    * not). Decimal-carried revenue, surfaced as double. */
  def salesCube(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        col("l_extendedprice").cast("decimal(18,6)").as("price"))
      .cube(col("l_returnflag"), col("l_linestatus"), col("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("price")).cast("double").as("revenue"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("l_linestatus"),
        coalesce(col("ship_year"), lit(-1L)).as("ship_year"),
        col("n_items"), col("revenue"))
      .orderBy("l_returnflag", "l_linestatus", "ship_year")

  /** TF-IDF keyword extraction driver query: each document's top-3 terms by
    * the exact scaled rational tf·10⁹ DIV df
    * ([[graft.operators.TextOps.tfidfKeywords]] — no logs, no windows). */
  def docsKeywords(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfKeywords(docs(s, dir), "text", "doc_id", k = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "rank")

  /** Trailing-window anomaly driver query: events whose value deviates from
    * the user's previous-10-events mean by more than 300% of it, tested
    * cross-multiplied in exact BIGINT micro-units
    * ([[graft.operators.TimeSeries.anomalyFlags]]). */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.EventStreams.normalizeEventTs(
      s.read.parquet(s"$dir/events.parquet"))
    graft.operators.TimeSeries.anomalyFlags(
      ev, keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      valueCol = "value", lookback = 10, thresholdPct = 300L, minPrior = 5)
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_search_hybrid" -> (searchHybrid _),
    "q_quality_checks" -> (qualityChecks _),
    "q_privacy_kanon" -> (privacyKanon _),
    "q_graph_triangles" -> (graphTriangles _),
    "q_sales_cube" -> (salesCube _),
    "q_docs_keywords" -> (docsKeywords _),
    "q_events_anomaly" -> (eventsAnomaly _),
    "q_events_cusum" -> (eventsCusum _),
    "q_events_stream_cusum" -> (eventsStreamCusum _),
    "q_events_windowed" -> (eventsWindowed _),
    "q_events_asof" -> (eventsAsof _),
    "q_events_sessions" -> (eventsSessions _),
    "q_events_rangejoin" -> (eventsRangeJoin _),
    "q_events_trailing" -> (eventsTrailing _),
    "q_events_funnel" -> (eventsFunnel _),
    "q_events_cohort" -> (eventsCohort _),
    "q_events_sliding" -> (eventsSliding _),
    "q_normalize_rank" -> (normalizeRank _),
    "q_graph_pagerank" -> (graphPageRank _),
    "q_graph_khop" -> (graphKHop _),
    "q_graph_labelprop" -> (graphLabelProp _),
    "q_graph_ppr" -> (graphPpr _),
    "q_layout_zorder" -> (layoutZOrder _),
    "q_layout_partitioned" -> (layoutPartitioned _),
    "q_text_bm25" -> (textBm25 _),
    "q_text_bm25_indexed" -> (textBm25Indexed _),
    "q_text_grep" -> (textGrep _),
    "q_select_budget" -> (selectBudget _),
    "q_select_budget_grouped" -> (selectBudgetGrouped _),
    "q_normalize_group" -> (normalizeGroup _),
    "q_normalize_winsor" -> (normalizeWinsor _),
    "q_docs_lang_rollup" -> (langRollup _),
    "q_docs_rollup" -> (docsRollup _),
    "q_docs_pivot" -> (docsPivot _),
    "q_docs_curriculum" -> (docsCurriculum _),
    "q_events_props" -> (eventsProps _),
    "q_split_counts" -> (splitCounts _),
    "q_shuffle_export" -> (shuffleExport _),
    "q_export_manifest" -> (exportManifest _),
    "q_export_range" -> (exportRangeSharded _),
    "q_export_range_str" -> (exportRangeShardedStr _),
    "q_corpus_diff" -> (corpusDiff _),
    "q_cdc_scd2" -> (cdcScd2 _),
    "q_compare_report" -> (compareReport _),
    "q_text_stats" -> (textStats _),
    "q_dedup_exact" -> (dedupExact _),
    "q_clean_corpus" -> (cleanCorpusQuery _),
    "q_corpus_retention" -> (corpusRetention _),
    "q_erasure_e2e" -> (erasureE2e _),
    "q_curation_pipeline" -> (curationPipeline _),
    "q_clean_corpus_fast" -> (cleanCorpusFastQuery _),
    "q_contamination" -> (contamination _),
    "q_decontaminated_corpus" -> (decontaminatedCorpus _),
    "q_contamination_bloom" -> (contaminationBloom _),
    "q_contamination_matrix" -> (contaminationMatrixQuery _),
    "q_contamination_ratio" -> (contaminationRatio _),
    "q_dedup_jaccard_pairs" -> (jaccardPairs _),
    "q_dedup_minhash_lsh" -> (minhashPairs _),
    "q_dedup_keep_best" -> (dedupKeepBest _),
    "q_split_leakage" -> (splitLeakage _),
    "q_split_cluster_safe" -> (splitClusterSafe _),
    "q_dedup_cluster_sizes" -> (dedupClusterSizes _),
    "q_dedup_simhash" -> (simhashPairs _),
    "q_dedup_winnow" -> (winnowPairsQuery _),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_dedup_substring" -> (dedupSubstring _),
    "q_text_chunks" -> (textChunks _),
    "q_text_strip_markup" -> (textStripMarkup _),
    "q_text_classifier" -> (textClassifier _),
    "q_text_classifier_train" -> (textClassifierTrain _),
    "q_events_streamed" -> (eventsStreamed _),
    "q_events_stream_join" -> (eventsStreamJoin _),
    "q_events_stream_anomaly" -> (eventsStreamAnomaly _),
    "q_events_stream_enrich" -> (eventsStreamEnrich _),
    "q_events_stream_sessions" -> (eventsStreamSessions _),
    "q_events_stream_topk" -> (eventsStreamTopK _),
    "q_events_incr_rollup" -> (eventsIncrementalRollup _),
    "q_text_pii" -> (piiScan _),
    "q_text_repetition" -> (textRepetition _),
    "q_lm_ngram_score" -> (lmNgramScore _),
    "q_text_boilerplate" -> (boilerplateClean _),
    "q_text_boilerplate_para" -> (boilerplateCleanPara _),
    "q_text_vocab" -> (vocabStats _),
    "q_text_heavy_hitters" -> (textHeavyHitters _),
    "q_text_heavy_hitters_grouped" -> (textHeavyHittersGrouped _),
    "q_text_heavy_hitters_stream" -> (textHeavyHittersStreamed _),
    "q_hh_erasure_late" -> (textHeavyHittersLateErase _),
    "q_sketch_countmin" -> (sketchCountMin _),
    "q_sketch_distinct" -> (sketchDistinct _),
    "q_sketch_distinct_grouped" -> (sketchDistinctGrouped _),
    "q_events_stream_distinct" -> (eventsStreamDistinct _),
    "q_fuzzy_join" -> (fuzzyJoinNames _),
    "q_entity_resolution" -> (entityResolution _),
    "q_sketch_join_size" -> (sketchJoinSize _),
    "q_text_lang_agreement" -> (langAgreement _),
    "q_bpe_merges" -> (bpeMerges _),
    "q_bpe_tokenize" -> (bpeTokenize _),
    "q_text_collocations" -> (textCollocations _),
    "q_sample_stratified" -> (stratifiedCounts _),
    "q_mixture_plan" -> (mixturePlanQuery _),
    "q_mixture_sample" -> (mixtureSampleQuery _),
    "q_train_order" -> (trainOrderQuery _),
    "q_train_interleave" -> (trainInterleaveQuery _),
    "q_train_shards" -> (trainShardsQuery _),
    "q_train_interleave_shards" -> (trainInterleaveShardsQuery _),
    "q_train_resume" -> (trainResumeQuery _),
    "q_train_resume_ragged" -> (trainResumeRaggedQuery _),
    "q_train_manifest" -> (trainManifestQuery _),
    "q_train_epochs" -> (trainEpochsQuery _),
    "q_train_curriculum" -> (trainCurriculumQuery _),
    "q_train_curriculum_quantiles" -> (trainCurriculumQuantilesQuery _),
    "q_train_temperature" -> (trainTemperatureQuery _),
    "q_train_budget_prefix" -> (trainBudgetPrefixQuery _),
    "q_train_budget_indexed" -> (trainBudgetIndexedQuery _),
    "q_pref_pairs" -> (prefPairsQuery _),
    "q_group_advantage" -> (groupAdvantageQuery _),
    "q_eval_win_matrix" -> (winMatrixQuery _),
    "q_eval_bradley_terry" -> (bradleyTerryQuery _),
    "q_eval_stream_matrix" -> (evalStreamMatrixQuery _),
    "q_eval_stream_strengths" -> (evalStreamStrengthsQuery _),
    "q_eval_stream_consolidated" -> (evalStreamConsolidatedQuery _),
    "q_rl_returns" -> (rlReturnsQuery _),
    "q_rl_returns_gamma" -> (rlReturnsGammaQuery _),
    "q_docs_topk_quality" -> (topQualityPerLang _),
    "q_quality_adaptive" -> (qualityAdaptive _),
    "q_quality_bootstrap" -> (qualityBootstrap _),
    "q_sample_per_source" -> (samplePerSource _),
    "q_sample_weighted" -> (sampleWeighted _),
    "q_sample_weighted_grouped" -> (sampleWeightedGrouped _),
    "q_profile_numeric" -> (numericProfileLineitem _),
    "q_profile_histogram" -> (profileHistogram _),
    "q_profile_histogram_depth" -> (profileHistogramDepth _),
    "q_profile_corr" -> (profileCorr _),
    "q_profile_outliers" -> (profileOutliers _),
    "q_pack_stats" -> (packStats _),
    "q_pack_shards" -> (packShardsQuery _),
    "q_pack_budget" -> (packBudgetQuery _),
    "q_ann_topk" -> (annTopK _),
    "q_ann_rp" -> (annRpTopK _),
    "q_ann_rp_persisted" -> (annRpPersisted _),
    "q_ann_topk_multi" -> (annTopKMulti _),
    "q_ann_filtered" -> (annFiltered _),
    "q_ann_knn" -> (annKnnClassify _),
    "q_ann_topk_quantized" -> (annTopKQuantized _),
    "q_ann_pq" -> (annTopKPq _),
    "q_ann_ivf_pq" -> (annIvfPq _),
    "q_ann_ivf_pq_residual" -> (annIvfPqResidual _),
    "q_ann_pq_persisted" -> (annPqPersisted _),
    "q_ann_pq_streamed" -> (annPqStreamed _),
    "q_ann_ivf" -> (annIvf _),
    "q_ann_ivf_trained" -> (annIvfTrained _),
    "q_ann_lsh_bucketed" -> (annLshBucketed _),
    "q_ann_ivf_persisted" -> (annIvfPersisted _),
    "q_ann_ivf_streamed" -> (annIvfStreamed _),
    "q_ann_cluster_stats" -> (annClusterStats _),
    "q_skew_agg" -> (skewAgg _),
    "q_sales_by_nation" -> (salesByNation _),
    "q_top_customers" -> (topCustomers _),
    "q_profile_drift" -> (profileDrift _),
    "q_profile_chi2" -> (profileChi2 _),
    "q_profile_ks" -> (profileKs _),
    "q_profile_ks_grouped" -> (profileKsGrouped _),
    "q_profile_ks_ranked" -> (profileKsRanked _),
    "q_graph_ppr_docs" -> (graphPprDocs _),
    "q_events_chi2_drift" -> (eventsChi2Drift _),
    "q_cdc_apply" -> (cdcApply _),
    "q_cdc_stream_apply" -> (cdcStreamApply _),
    "q_cdc_join_view" -> (cdcJoinView _),
    "q_source_orc" -> (sourceOrc _),
    "q_embedding_cosine_pairs" -> (cosinePairs _),
    "q_embedding_cosine_lsh" -> (cosinePairsLsh _),
    "q_embedding_cosine_lsh_persisted" -> (cosinePairsLshPersisted _),
    "q_embedding_incremental" -> (embeddingIncremental _),
    "q_embedding_align" -> (embeddingAlign _),
    "q_embedding_align_margin" -> (embeddingAlignMargin _),
    "q_embedding_align_lsh" -> (embeddingAlignLsh _),
    "q_embedding_align_lsh_margin" -> (embeddingAlignLshMargin _),
    "q_ann_recall" -> (annRecall _),
    "q_ann_mrr" -> (annMrr _),
    "q_ann_retrieval_summary" -> (annRetrievalSummary _),
    "q_semantic_dedup" -> (semanticDedupQuery _),
    "q_multimodal_meta" -> (multimodalMeta _),
    "q_multimodal_features" -> (multimodalFeatures _),
    "q_multimodal_near_dup" -> (multimodalNearDup _),
    "q_multimodal_near_dup_dhash" -> (multimodalNearDupDhash _),
    "q_multimodal_near_dup_audio" -> (multimodalNearDupAudio _),
    "q_multimodal_probe_index_audio" -> (multimodalProbeIndexAudio _),
    "q_multimodal_probe_index_video" -> (multimodalProbeIndexVideo _),
    "q_multimodal_near_dup_video" -> (multimodalNearDupVideo _),
    "q_multimodal_probe_index" -> (multimodalProbeIndex _),
    "q_multimodal_incremental" -> (multimodalIncremental _))

  // ---------- DuckDB oracles ----------

  private val statsSql: String = {
    // DuckDB single-quoted strings keep backslashes literal, so regex
    // patterns go in verbatim (no doubling).
    val stop = "\\b(the|a|an|and|of|to|in|is|it|for)\\b"
    val markers = TextOps.LangMarkers
    // mirrors TextOps expression-for-expression (same arithmetic order)
    def cnt(expr: String, pat: String) = s"len(regexp_extract_all($expr, '$pat'))"
    val scoreCols = markers.map { case (l, p) =>
      s"${cnt("lower(text)", p)} AS score_$l"
    }.mkString(", ")
    // argmax with first-wins tie-break in marker order (en, de, fr, es)
    val lang = markers.tail.foldLeft(("score_" + markers.head._1, s"'${markers.head._1}'")) {
      case ((bs, bl), (l, _)) =>
        (s"greatest($bs, score_$l)", s"CASE WHEN score_$l > $bs THEN '$l' ELSE $bl END")
    }
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(${cnt("text", "\\S+")} AS BIGINT) AS n_tokens,
       |    CAST(${cnt("text", TextOps.BpeTokenPattern)} AS BIGINT) AS n_bpe_tokens,
       |    CAST(${cnt("lower(text)", stop)} AS BIGINT) AS n_stopwords,
       |    ${cnt("text", "[a-zA-Z]")} AS n_alpha,
       |    ${cnt("text", "[ ]")} AS n_space,
       |    ${cnt("text", "\\S")} AS n_nonspace,
       |    $scoreCols
       |  FROM documents),
       |r AS (
       |  SELECT *,
       |    CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0.0
       |         ELSE CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS alpha_ratio,
       |    CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0.0
       |         ELSE CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS space_ratio,
       |    CASE WHEN n_tokens = 0 THEN 0.0
       |         ELSE CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS stopword_ratio,
       |    CASE WHEN n_tokens = 0 THEN 0.0
       |         ELSE CAST(n_nonspace AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS mean_token_len
       |  FROM base)
       |SELECT doc_id, n_chars, n_tokens, n_bpe_tokens, n_stopwords, alpha_ratio, space_ratio,
       |  stopword_ratio, mean_token_len,
       |  0.5 * (least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0)
       |    + 0.3 * stopword_ratio + 0.2 * alpha_ratio AS quality_score,
       |  (n_tokens < 5 OR alpha_ratio < 0.5 OR mean_token_len > 20.0) AS low_quality,
       |  CASE WHEN ${lang._1} = 0 THEN 'und' ELSE ${lang._2} END AS lang_id,
       |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
       |FROM r ORDER BY doc_id""".stripMargin
  }

  private val fingerprintSql =
    "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  private val dedupExactSql: String =
    s"""SELECT $fingerprintSql AS fingerprint, CAST(min(doc_id) AS BIGINT) AS keep_id,
       | CAST(count(*) AS BIGINT) AS n
       |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Distinct word-3-gram CTEs mirroring TextOps.wordShingles (shared by the
    * Jaccard, MinHash, contamination, and clean-corpus oracles), over an
    * arbitrary (doc_id, text) source CTE/table. */
  private def gramsCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') t FROM $src),
       |grams0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) g
       |  FROM toks WHERE len(t) >= 3
       |  UNION ALL
       |  SELECT doc_id, array_to_string(t, ' ') g FROM toks WHERE len(t) < 3),
       |grams AS (SELECT DISTINCT doc_id, g FROM grams0)""".stripMargin

  private val gramsCtes: String = gramsCtesFrom("documents")

  private val contaminationSql: String =
    s"""WITH $gramsCtes,
       |c AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
       |p AS (SELECT * FROM grams WHERE doc_id % 50 = 0)
       |SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id,
       |  CAST(count(*) AS BIGINT) AS overlap
       |FROM c JOIN p ON c.g = p.g
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY corpus_id, probe_id""".stripMargin

  /** Matrix oracle: the contamination join with the probe's benchmark
    * label carried through, rolled up per benchmark. */
  private val contaminationMatrixSql: String =
    s"""WITH $gramsCtes,
       |c AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
       |p AS (SELECT CASE WHEN doc_id % 100 = 0 THEN 'bench_a' ELSE 'bench_b' END benchmark,
       |        doc_id, g
       |      FROM grams WHERE doc_id % 50 = 0),
       |o AS (SELECT p.benchmark, c.doc_id cid, p.doc_id pid, count(*) n
       |      FROM c JOIN p ON c.g = p.g GROUP BY 1, 2, 3 HAVING count(*) >= 2)
       |SELECT benchmark,
       |  CAST(count(DISTINCT cid) AS BIGINT) AS n_contaminated_docs,
       |  CAST(count(DISTINCT pid) AS BIGINT) AS n_probes_hit,
       |  CAST(sum(n) AS BIGINT) AS total_overlap
       |FROM o GROUP BY benchmark ORDER BY benchmark""".stripMargin

  /** Decontamination oracle: the contamination scan's flagged corpus ids
    * anti-joined out of the corpus slice. */
  private val decontaminatedSql: String =
    s"""WITH $gramsCtes,
       |c AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
       |p AS (SELECT * FROM grams WHERE doc_id % 50 = 0),
       |o AS (SELECT c.doc_id AS id, p.doc_id AS pid, count(*) n
       |      FROM c JOIN p ON c.g = p.g GROUP BY 1, 2),
       |flagged AS (SELECT DISTINCT id FROM o WHERE n >= 2)
       |SELECT d.doc_id, d.source, d.lang, d.n_chars
       |FROM documents d
       |WHERE d.doc_id % 50 <> 0 AND d.doc_id NOT IN (SELECT id FROM flagged)
       |ORDER BY d.doc_id""".stripMargin

  private val contaminationRatioSql: String =
    s"""WITH $gramsCtes,
       |c AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
       |p AS (SELECT * FROM grams WHERE doc_id % 50 = 0),
       |ps AS (SELECT doc_id, count(*) sz FROM p GROUP BY 1),
       |o AS (SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id,
       |      CAST(count(*) AS BIGINT) AS overlap
       |      FROM c JOIN p ON c.g = p.g GROUP BY 1, 2)
       |SELECT corpus_id, probe_id, overlap,
       |  CAST(overlap AS DOUBLE) / CAST(sz AS DOUBLE) AS containment
       |FROM o JOIN ps ON ps.doc_id = probe_id
       |WHERE CAST(overlap AS DOUBLE) / CAST(sz AS DOUBLE) >= 0.05
       |ORDER BY corpus_id, probe_id""".stripMargin

  /** Duplicated-substring oracle: every position's L-gram (unnest over a
    * per-row range), grams occurring > 1× corpus-wide, then the same
    * gaps-and-islands interval merge as the engine (running max(pos+L)
    * frame → break flags → cumulative island ids → per-island min/max),
    * rolled up per document over ALL documents with zero-fill. */
  private val dedupSubstringSql: String = {
    val L = SubstringMinLength
    s"""WITH pos AS (SELECT doc_id, text,
       |  unnest(range(1, greatest(len(text) - ${L - 1}, 0) + 1)) AS pos
       |  FROM documents),
       |g AS (SELECT doc_id, pos, substr(text, pos, $L) AS g FROM pos),
       |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
       |m AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
       |w AS (SELECT doc_id, pos, max(pos + $L) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
       |      FROM m),
       |b AS (SELECT doc_id, pos,
       |        CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END AS brk FROM w),
       |i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |      FROM b),
       |iv AS (SELECT doc_id, island, min(pos) AS s, max(pos) + $L AS e
       |       FROM i GROUP BY 1, 2),
       |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_intervals,
       |        CAST(sum(e - s) AS BIGINT) AS dup_chars FROM iv GROUP BY 1)
       |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
       |  CAST(coalesce(n_dup_intervals, 0) AS BIGINT) AS n_dup_intervals,
       |  CAST(coalesce(dup_chars, 0) AS BIGINT) AS dup_chars,
       |  CASE WHEN len(d.text) = 0 THEN 0.0
       |       ELSE CAST(coalesce(dup_chars, 0) AS DOUBLE) / CAST(len(d.text) AS DOUBLE)
       |  END AS dup_ratio
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  private val jaccardSql: String =
    s"""WITH $gramsCtes,
       |gramsf AS (SELECT g.doc_id, g.g FROM grams g
       |           JOIN (SELECT g, count(*) df FROM grams GROUP BY 1) d ON d.g = g.g
       |           WHERE d.df <= $JaccardMaxDocFrequency),
       |sizes AS (SELECT doc_id, count(*) sz FROM gramsf GROUP BY 1),
       |inter AS (SELECT a.doc_id id1, b.doc_id id2, count(*) i
       |          FROM gramsf a JOIN gramsf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id1, id2, CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE) AS jaccard
       |FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
       |WHERE CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE) >= 0.5
       |ORDER BY id1, id2""".stripMargin


  /** MinHash md5 pipeline CTEs, from a `grams` CTE (doc_id, g) to an
    * `mh_pairs` CTE (id1, id2, jaccard ≥ threshold): per-gram md5 → (a, b)
    * 48-bit pair → min-agg signature values → banded candidate join →
    * exact-Jaccard verification. Shared by the MinHash and clean-corpus
    * oracles (same pipeline as Dedup.minhashNearDuplicatesMd5). */
  private def minhashPairCtes(threshold: Double, numHashes: Int = 64,
      bands: Int = 16): String = {
    val r = numHashes / bands
    val mins = (0 until numHashes)
      .map(i => s"min(a + ${i + 1} * b) AS m$i").mkString(", ")
    val bandConds = (0 until bands).map { bnd =>
      (0 until r).map(k => s"s.m${bnd * r + k} = t.m${bnd * r + k}").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""hp AS (SELECT doc_id,
       |  ('0x' || substr(md5(g), 1, 12))::BIGINT a,
       |  ('0x' || substr(md5(g), 17, 12))::BIGINT b FROM grams),
       |sig AS (SELECT doc_id, $mins FROM hp GROUP BY doc_id),
       |cand AS (SELECT s.doc_id id1, t.doc_id id2 FROM sig s JOIN sig t
       |         ON s.doc_id < t.doc_id AND ($bandConds)),
       |sizes AS (SELECT doc_id, count(*) sz FROM grams GROUP BY 1),
       |inter AS (SELECT c.id1, c.id2, count(*) i
       |          FROM cand c JOIN grams ga ON ga.doc_id = c.id1
       |          JOIN grams gb ON gb.doc_id = c.id2 AND ga.g = gb.g
       |          GROUP BY 1, 2),
       |j AS (SELECT id1, id2, CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE) AS jaccard
       |      FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2),
       |mh_pairs AS (SELECT id1, id2, jaccard FROM j WHERE jaccard >= $threshold)""".stripMargin
  }

  private val minhashSql: String =
    s"""WITH $gramsCtes,
       |${minhashPairCtes(0.5)}
       |SELECT id1, id2, jaccard FROM mh_pairs
       |ORDER BY id1, id2""".stripMargin

  /** Keep-best survivorship oracle: the MinHash pair CTEs, recursive-CTE
    * component closure (min label), the same quality formula as the
    * budget-selection oracle, and a per-component row_number argmax
    * (quality desc, id asc — matching the engine's struct-max tie rule). */
  private val dedupKeepBestSql: String = {
    s"""WITH RECURSIVE
       |$gramsCtes,
       |${minhashPairCtes(0.5)},
       |edges AS (SELECT id1 a, id2 b FROM mh_pairs
       |          UNION SELECT id2, id1 FROM mh_pairs),
       |walk(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
       |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |${qualitySqlCtes()},
       |wc AS (SELECT q.doc_id, q.quality_score,
       |         COALESCE(c.comp, q.doc_id) AS component
       |       FROM q LEFT JOIN comps c ON c.id = q.doc_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY component
       |        ORDER BY quality_score DESC, doc_id) rn FROM wc)
       |SELECT doc_id, component, quality_score FROM r WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** Split-leakage oracle: the MinHash pair CTEs, then the split-counts
    * oracle's md5-bucket rule applied to each pair side (a pure function
    * of the id — mirrored inline, no join), keeping only test↔train
    * pairs with the test id first. */
  private val splitLeakageSql: String = {
    def sp(c: String) =
      s"""CASE WHEN ('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 12))::BIGINT % 100 < 80 THEN 'train'
         |     WHEN ('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 12))::BIGINT % 100 < 90 THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH $gramsCtes,
       |${minhashPairCtes(0.5)},
       |x AS (SELECT id1, id2, jaccard, ${sp("id1")} sp1, ${sp("id2")} sp2 FROM mh_pairs)
       |SELECT CASE WHEN sp1 = 'test' THEN id1 ELSE id2 END AS test_doc_id,
       |  CASE WHEN sp1 = 'test' THEN id2 ELSE id1 END AS train_doc_id, jaccard
       |FROM x
       |WHERE (sp1 = 'test' AND sp2 = 'train') OR (sp1 = 'train' AND sp2 = 'test')
       |ORDER BY test_doc_id, train_doc_id""".stripMargin
  }

  /** Cluster-safe-split oracle: the MinHash pair CTEs → recursive-CTE
    * component closure → min-id representative (singletons represent
    * themselves) → the split-counts md5-bucket rule applied to the REP
    * id → per-split counts. */
  private val splitClusterSafeSql: String = {
    s"""WITH RECURSIVE
       |$gramsCtes,
       |${minhashPairCtes(0.5)},
       |edges AS (SELECT id1 a, id2 b FROM mh_pairs
       |          UNION SELECT id2, id1 FROM mh_pairs),
       |walk(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
       |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |rep AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep
       |        FROM documents d LEFT JOIN comps c ON c.id = d.doc_id),
       |lab AS (SELECT doc_id,
       |  CASE WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 12))::BIGINT % 100 < 80 THEN 'train'
       |       WHEN ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 12))::BIGINT % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split FROM rep)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs
       |FROM lab GROUP BY split ORDER BY split""".stripMargin
  }

  /** Cluster-size histogram oracle: the keep-best oracle's recursive-CTE
    * component closure, per-component sizes, a GROUP BY size rollup, and
    * the singleton row from an anti-join count (emitted unconditionally,
    * exactly like the engine's aggregate-always-returns-one-row shape). */
  private val dedupClusterSizesSql: String = {
    s"""WITH RECURSIVE
       |$gramsCtes,
       |${minhashPairCtes(0.5)},
       |edges AS (SELECT id1 a, id2 b FROM mh_pairs
       |          UNION SELECT id2, id1 FROM mh_pairs),
       |walk(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
       |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |csizes AS (SELECT comp, CAST(count(*) AS BIGINT) sz FROM comps GROUP BY comp),
       |multi AS (SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |            CAST(sum(sz) AS BIGINT) AS n_docs
       |          FROM csizes GROUP BY sz),
       |singles AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
       |              CAST(count(*) AS BIGINT) AS n_clusters,
       |              CAST(count(*) AS BIGINT) AS n_docs
       |            FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
       |            WHERE c.id IS NULL)
       |SELECT * FROM (SELECT * FROM multi UNION ALL SELECT * FROM singles)
       |ORDER BY cluster_size""".stripMargin
  }

  /** Incremental-dedup oracle: the same md5 MinHash pipeline run CROSS-SET
    * (batch signatures vs corpus signatures; banded candidates where any
    * band's signature slice matches; exact-Jaccard verification) — the
    * declarative mirror of index-build + probe, which by construction
    * computes the same signatures the persisted layout stores. */
  private val dedupIncrementalSql: String = {
    val numHashes = 64; val bands = 16; val r = numHashes / bands
    val mins = (0 until numHashes).map(i => s"min(a + ${i + 1} * b) AS m$i").mkString(", ")
    val bandConds = (0 until bands).map { bnd =>
      (0 until r).map(k => s"sp.m${bnd * r + k} = sc.m${bnd * r + k}").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""WITH $gramsCtes,
       |c AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
       |p AS (SELECT * FROM grams WHERE doc_id % 50 = 0),
       |hc AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 12))::BIGINT a,
       |       ('0x' || substr(md5(g), 17, 12))::BIGINT b FROM c),
       |hb AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 12))::BIGINT a,
       |       ('0x' || substr(md5(g), 17, 12))::BIGINT b FROM p),
       |sc AS (SELECT doc_id, $mins FROM hc GROUP BY doc_id),
       |sp AS (SELECT doc_id, $mins FROM hb GROUP BY doc_id),
       |cand AS (SELECT sp.doc_id batch_id, sc.doc_id corpus_id
       |         FROM sp JOIN sc ON ($bandConds)),
       |szc AS (SELECT doc_id, count(*) sz FROM c GROUP BY 1),
       |szp AS (SELECT doc_id, count(*) sz FROM p GROUP BY 1),
       |inter AS (SELECT cd.batch_id, cd.corpus_id, count(*) i
       |          FROM cand cd JOIN p gp ON gp.doc_id = cd.batch_id
       |          JOIN c gc ON gc.doc_id = cd.corpus_id AND gp.g = gc.g
       |          GROUP BY 1, 2)
       |SELECT batch_id, corpus_id,
       |  CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE) AS jaccard
       |FROM inter JOIN szp s1 ON s1.doc_id = batch_id
       |JOIN szc s2 ON s2.doc_id = corpus_id
       |WHERE CAST(i AS DOUBLE) / CAST(s1.sz + s2.sz - i AS DOUBLE) >= 0.5
       |ORDER BY batch_id, corpus_id""".stripMargin
  }

  /** Classifier oracle: the same weight table as a literal list, the same
    * 48-bit md5 bucket hash, the same integer sum — exact at every row. */
  private val textClassifierSql: String = {
    val wList = classifierWeights.mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) t
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |    ($wList)[CAST(('0x' || substr(md5(t), 1, 12))::BIGINT % $ClassifierFeatures AS INT) + 1] w
       |  FROM toks)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(w) AS BIGINT) AS score_fp,
       |  sum(w) > 0 AS accept
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Trainer oracle: the fixed-point GD loop unrolled as CTEs — identical
    * tokenize/hash/binarize (the scorer oracle's md5 prefix mirror), then
    * per iteration: margin sum over the presence table, hard-sigmoid
    * p = clamp(500000 + z//4, 0, 10⁶) (DuckDB `//` truncates toward zero
    * like Spark `div`, verified on negative operands), error y·10⁶ − p,
    * per-feature gradient sum, weight += g//256. HUGEINT sums bridged to
    * BIGINT at every CTE boundary. */
  private val textClassifierTrainSql: String = {
    val s = 1000000L
    val half = s / 2
    val lrDen = 256L
    val iterCtes = (1 to TrainerIters).map { i =>
      s"""z$i AS (SELECT fe.doc_id, fe.y, CAST(sum(w.w) AS BIGINT) AS z
         |  FROM feats fe JOIN w${i - 1} w USING (f) GROUP BY fe.doc_id, fe.y),
         |e$i AS (SELECT doc_id,
         |    y * $s - least($s, greatest(0, $half + z // 4)) AS err FROM z$i),
         |g$i AS (SELECT fe.f, CAST(sum(e.err) AS BIGINT) AS g
         |  FROM feats fe JOIN e$i e USING (doc_id) GROUP BY fe.f),
         |w$i AS (SELECT w.f, CAST(w.w + COALESCE(g.g // $lrDen, 0) AS BIGINT) AS w
         |  FROM w${i - 1} w LEFT JOIN g$i g USING (f))""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id, lang,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) t
       |  FROM documents),
       |feats AS (SELECT DISTINCT doc_id,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    ('0x' || substr(md5(t), 1, 12))::BIGINT % $ClassifierFeatures AS f
       |  FROM toks),
       |w0 AS (SELECT DISTINCT f, CAST(0 AS BIGINT) AS w FROM feats),
       |$iterCtes
       |SELECT f AS feature, w AS weight FROM w$TrainerIters ORDER BY feature""".stripMargin
  }

  /** Markup-strip oracle: the identical wrap (string concatenation +
    * global space→paragraph replace), the identical tag pattern with the
    * 'g' flag, and the identical entity-decode replace chain in the
    * identical order. */
  private val textStripMarkupSql: String = {
    val decoded = graft.operators.TextOps.MarkupEntities.foldLeft("t0") {
      case (acc, (e, r)) =>
        val rr = r.replace("'", "''")
        s"replace($acc, '$e', '$rr')"
    }
    s"""WITH h AS (SELECT doc_id,
       |    '<!DOCTYPE html><html><body><div class="doc" id="d' || doc_id || '"><p>'
       |    || regexp_replace(text, ' ', '</p> <p>', 'g')
       |    || '</p></div><br/>&amp;copy; <b>corp</b>&nbsp;&quot;end&quot;</body></html>'
       |    AS html
       |  FROM documents),
       |s AS (SELECT doc_id, regexp_replace(html, '<[^>]*>', '', 'g') AS t0 FROM h)
       |SELECT doc_id, $decoded AS clean_text
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Chunking oracle: identical token split, start-position rule
    * (0, stride, … while start ≤ n − overlap − 1), list slice, and join —
    * chunkTokens = 32, overlap = 8, stride = 24. */
  private val textChunksSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') t FROM documents),
       |st AS (
       |  SELECT doc_id, t, unnest(range(0, greatest(len(t) - 9, 0) + 1, 24)) s
       |  FROM toks)
       |SELECT doc_id, CAST(s / 24 AS BIGINT) AS chunk_id, CAST(s AS BIGINT) AS chunk_start,
       |  CAST(len(t[s+1 : s+32]) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(t[s+1 : s+32], ' ') AS chunk_text
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  /** The FULL clean-corpus CTE chain (quality filter → exact dedup →
    * md5-MinHash near-dup pairs → recursive component closure → losers),
    * from any (doc_id, text, `cols`...) source — the shared-builder rule:
    * `cleanCorpusSql` AND the curation pipeline both instantiate it over
    * the markup-stripped `src` chain. Ends at `base` (the
    * exact-dedup survivors with `cols` riding along) and `losers` (the
    * near-dup ids to drop). */
  private def cleanChainCtes(src: String, cols: Seq[String]): String = {
    val sel = if (cols.isEmpty) "" else cols.mkString(", ", ", ", "")
    s"""q0 AS (
       |  SELECT doc_id, text$sel,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |    len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
       |    len(regexp_extract_all(text, '\\S')) AS n_nonspace,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM $src),
       |quality AS (
       |  SELECT doc_id, text$sel FROM q0
       |  WHERE NOT (n_tokens < 5
       |    OR (CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0.0
       |        ELSE CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) END) < 0.5
       |    OR (CASE WHEN n_tokens = 0 THEN 0.0
       |        ELSE CAST(n_nonspace AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) > 20.0)),
       |keepids AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT doc_id, $fingerprintSql AS fp FROM quality)
       |  GROUP BY fp),
       |base AS (SELECT q.* FROM quality q JOIN keepids k ON k.doc_id = q.doc_id),
       |${gramsCtesFrom("base")},
       |${minhashPairCtes(0.5, CleanCorpusHashes, CleanCorpusBands)},
       |edges AS (SELECT id1 a, id2 b FROM mh_pairs
       |          UNION SELECT id2, id1 FROM mh_pairs),
       |walk(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
       |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |losers AS (SELECT id FROM comps WHERE comp < id)""".stripMargin
  }

  /** Markup wrap + strip CTE chain — the q_text_strip_markup mirror as a
    * shared builder: `h` (the [[syntheticHtml]] wrap) → `s0` (tag strip) →
    * `src` (entity decode), carrying `cols` as passengers; `src` holds
    * (doc_id, cols..., text) with `text` the stripped clean text the rest
    * of a chain consumes. One wrap, one mirror — instantiated by the
    * clean-corpus AND curation oracles so their shared engine frame
    * ([[cleanedStrippedCorpus]]) has ONE declarative definition. */
  private def markupStripSrcCtes(cols: Seq[String]): String = {
    val sel = if (cols.isEmpty) "" else cols.mkString(", ", ", ", "")
    val decoded = graft.operators.TextOps.MarkupEntities.foldLeft("t0") {
      case (acc, (e, r)) =>
        val rr = r.replace("'", "''")
        s"replace($acc, '$e', '$rr')"
    }
    s"""h AS (SELECT doc_id$sel,
       |    '<!DOCTYPE html><html><body><div class="doc" id="d' || doc_id || '"><p>' ||
       |    regexp_replace(text, ' ', '</p> <p>', 'g') ||
       |    '</p></div><br/>&amp;copy; <b>corp</b>&nbsp;&quot;end&quot;</body></html>'
       |    AS html
       |  FROM documents),
       |s0 AS (SELECT doc_id$sel, regexp_replace(html, '<[^>]*>', '', 'g') AS t0 FROM h),
       |src AS (SELECT doc_id$sel, $decoded AS text FROM s0)""".stripMargin
  }

  /** Clean-corpus oracle — the FULL composite, mirrored end to end:
    * markup strip (the shared [[markupStripSrcCtes]] chain) → quality
    * filter (same arithmetic as the text-stats oracle) → exact dedup
    * (min-id per normalized-content md5) → md5-family MinHash-LSH
    * near-dup pairs over the surviving docs → connected components via a
    * recursive CTE (comp labels propagate along edges until fixpoint;
    * min label per node = component id) → drop every non-minimum member. */
  private val cleanCorpusSql: String =
    s"""WITH RECURSIVE
       |${markupStripSrcCtes(Seq("lang", "source"))},
       |${cleanChainCtes("src", Seq("lang", "source"))}
       |SELECT doc_id, lang, source FROM base
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin

  /** Retention oracle: the tombstone + vacuum machinery must land exactly
    * at the declarative complement — every document row NOT matching the
    * delete predicate, with SQL NULL semantics (a NULL lang is not
    * deleted, hence the coalesce). */
  private val corpusRetentionSql: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE NOT coalesce(lang = 'en' OR doc_id % 7 = 0, FALSE)
       |ORDER BY doc_id""".stripMargin

  /** Erasure-e2e oracle: the NULL-safe complement selects of both erasure
    * predicates, posting counts as the construction constants (bands per
    * document, tables per vector), each live state emitted at both phases
    * — because that is precisely what the erasure job must leave behind:
    * the complement, unchanged, with intact postings, before AND after
    * the physical pass. */
  private val erasureE2eSql: String =
    s"""WITH live_docs AS (
       |  SELECT doc_id, lang FROM documents
       |  WHERE NOT coalesce(lang = 'en' OR doc_id % 7 = 0, FALSE)),
       |live_vecs AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 0),
       |state AS (
       |  SELECT 'doc' AS kind, doc_id AS id, lang,
       |         CAST(8 AS BIGINT) AS n_postings FROM live_docs
       |  UNION ALL
       |  SELECT 'vec', vec_id, CAST(NULL AS VARCHAR), CAST(4 AS BIGINT)
       |  FROM live_vecs)
       |SELECT 'tombstoned' AS phase, kind, id, lang, n_postings FROM state
       |UNION ALL
       |SELECT 'vacuumed', kind, id, lang, n_postings FROM state
       |ORDER BY phase, kind, id""".stripMargin

  /** Curation-pipeline oracle: the end-to-end composite mirrored in one
    * statement — markup strip (the shared [[markupStripSrcCtes]] chain,
    * producing the `text` the rest of the chain consumes) →
    * the full clean chain over the STRIPPED text → deterministic
    * md5-bucket split labels → per-(split, lang) doc and token rollup. */
  private val curationPipelineSql: String = {
    s"""WITH RECURSIVE
       |${markupStripSrcCtes(Seq("lang"))},
       |${cleanChainCtes("src", Seq("lang"))},
       |survivors AS (
       |  SELECT doc_id, lang, text FROM base
       |  WHERE doc_id NOT IN (SELECT id FROM losers)),
       |b AS (SELECT *,
       |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS bkt
       |      FROM survivors)
       |SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
       |  lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS total_tokens
       |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
  }

  /** SimHash oracle: token md5 → 16 nibbles → 64 bit-majority sums →
    * boolean signature bits → all-pairs hamming ≤ 3 (candidate banding is an
    * exact pigeonhole cover, so the engine's block join returns exactly
    * this set). */
  private val simhashSql: String = {
    val maxHamming = 3
    val nibs = (0 until 16)
      .map(k => s"('0x' || substr(h, ${k + 1}, 1))::INT v$k").mkString(", ")
    val bitSums = (0 until 64)
      .map(j => s"SUM((v${j / 4} >> ${j % 4}) & 1) b$j").mkString(", ")
    val sigBits = (0 until 64).map(j => s"(2 * b$j > n) s$j").mkString(", ")
    val hamming = (0 until 64)
      .map(j => s"(CASE WHEN a.s$j <> b.s$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) t FROM documents),
       |h AS (SELECT doc_id, md5(t) h FROM toks),
       |nib AS (SELECT doc_id, $nibs FROM h),
       |bits AS (SELECT doc_id, count(*) n, $bitSums FROM nib GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigBits FROM bits),
       |pairs AS (SELECT a.doc_id id1, b.doc_id id2, CAST($hamming AS INTEGER) hamming
       |          FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
       |SELECT id1, id2, hamming FROM pairs WHERE hamming <= $maxHamming
       |ORDER BY id1, id2""".stripMargin
  }

  /** Cosine multi-table-LSH oracle: the hyperplane constants are embedded as
    * double literals (Double.toString round-trips exactly through DuckDB's
    * parser), projections and norms are written as explicit left-assoc sums
    * matching the engine's in-order double accumulation, so every signature
    * bit and cosine value is bit-identical. Parameterized over the LSH
    * shape so both driver parameterizations share one mirror. */
  private def cosineLshSqlFor(bits: Int, tables: Int, threshold: Double): String = {
    val dim = EmbeddingDim
    def dotSum(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    def proj(v: String, globalPlane: Int): String =
      Ann.planeVector(globalPlane, dim).zipWithIndex
        .map { case (w, d) => s"$v[${d + 1}] * $w" }.mkString("(", " + ", ")")
    val sigCols = (0 until tables).map { t =>
      (0 until bits).map { p =>
        s"(CASE WHEN ${proj("v", t * bits + p)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", s") t$t")
    }.mkString(", ")
    val anyTable = (0 until tables).map(t => s"a.t$t = b.t$t").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |sig AS (SELECT vec_id, $sigCols FROM e),
       |cand AS (SELECT a.vec_id id1, b.vec_id id2 FROM sig a JOIN sig b
       |         ON a.vec_id < b.vec_id AND ($anyTable)),
       |n AS (SELECT vec_id, sqrt(${dotSum("v", "v")}) nrm FROM e)
       |SELECT id1, id2 FROM cand
       |JOIN e e1 ON e1.vec_id = id1 JOIN e e2 ON e2.vec_id = id2
       |JOIN n n1 ON n1.vec_id = id1 JOIN n n2 ON n2.vec_id = id2
       |WHERE (CASE WHEN n1.nrm * n2.nrm = 0 THEN 0.0
       |       ELSE ${dotSum("e1.v", "e2.v")} / (n1.nrm * n2.nrm) END) >= $threshold
       |ORDER BY id1, id2""".stripMargin
  }

  /** Incremental embedding-ingest oracle: the two-batch IngestLsh ladder
    * replayed declaratively — ONE verified LSH pair table over all vectors
    * (signatures are batch-independent, so filtering it by id parity
    * yields exactly the in-batch and cross-batch pair sets the engine
    * sees), per-batch recursive closure with min-id survivorship, then the
    * cross-batch drop against batch-1 survivors. Zero-norm vectors are
    * rejected at the engine's door and excluded from membership here
    * (their cosine is defined 0, so they never carry edges either). */
  private val embeddingIncrementalSql: String = {
    val dim = EmbeddingDim
    def dotSum(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    def proj(v: String, globalPlane: Int): String =
      Ann.planeVector(globalPlane, dim).zipWithIndex
        .map { case (w, d) => s"$v[${d + 1}] * $w" }.mkString("(", " + ", ")")
    val sigCols = (0 until CosLshTables).map { t =>
      (0 until CosLshBits).map { p =>
        s"(CASE WHEN ${proj("v", t * CosLshBits + p)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", s") t$t")
    }.mkString(", ")
    val anyTable = (0 until CosLshTables).map(t => s"a.t$t = b.t$t").mkString(" OR ")
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |n AS MATERIALIZED (SELECT vec_id, sqrt(${dotSum("v", "v")}) nrm FROM e),
       |sig AS MATERIALIZED (SELECT vec_id, $sigCols FROM e),
       |cand AS (SELECT a.vec_id id1, b.vec_id id2 FROM sig a JOIN sig b
       |         ON a.vec_id < b.vec_id AND ($anyTable)),
       |lp AS MATERIALIZED (SELECT id1, id2 FROM cand
       |       JOIN e e1 ON e1.vec_id = id1 JOIN e e2 ON e2.vec_id = id2
       |       JOIN n n1 ON n1.vec_id = id1 JOIN n n2 ON n2.vec_id = id2
       |       WHERE (CASE WHEN n1.nrm * n2.nrm = 0 THEN 0.0
       |              ELSE ${dotSum("e1.v", "e2.v")} / (n1.nrm * n2.nrm) END)
       |             >= $CosLshThreshold),
       |e1x AS (SELECT id1 a, id2 b FROM lp WHERE id1 % 2 = 0 AND id2 % 2 = 0
       |        UNION SELECT id2, id1 FROM lp WHERE id1 % 2 = 0 AND id2 % 2 = 0),
       |w1(id, comp) AS (SELECT a, a FROM e1x
       |  UNION SELECT ee.b, w.comp FROM w1 w JOIN e1x ee ON ee.a = w.id),
       |c1 AS (SELECT id, min(comp) comp FROM w1 GROUP BY id),
       |surv1 AS (SELECT n.vec_id FROM n LEFT JOIN c1 ON c1.id = n.vec_id
       |          WHERE n.vec_id % 2 = 0 AND n.nrm > 0
       |            AND (c1.id IS NULL OR c1.comp = n.vec_id)),
       |e2x AS (SELECT id1 a, id2 b FROM lp WHERE id1 % 2 = 1 AND id2 % 2 = 1
       |        UNION SELECT id2, id1 FROM lp WHERE id1 % 2 = 1 AND id2 % 2 = 1),
       |w2(id, comp) AS (SELECT a, a FROM e2x
       |  UNION SELECT ee.b, w.comp FROM w2 w JOIN e2x ee ON ee.a = w.id),
       |c2 AS (SELECT id, min(comp) comp FROM w2 GROUP BY id),
       |s2a AS (SELECT n.vec_id FROM n LEFT JOIN c2 ON c2.id = n.vec_id
       |        WHERE n.vec_id % 2 = 1 AND n.nrm > 0
       |          AND (c2.id IS NULL OR c2.comp = n.vec_id)),
       |dropped AS (SELECT DISTINCT s.vec_id FROM s2a s
       |            JOIN lp ON (lp.id1 = s.vec_id
       |                        AND lp.id2 IN (SELECT vec_id FROM surv1))
       |                    OR (lp.id2 = s.vec_id
       |                        AND lp.id1 IN (SELECT vec_id FROM surv1)))
       |SELECT vec_id FROM (
       |  SELECT vec_id FROM surv1
       |  UNION ALL
       |  SELECT vec_id FROM s2a
       |  WHERE vec_id NOT IN (SELECT vec_id FROM dropped))
       |ORDER BY vec_id""".stripMargin
  }

  /** ONE builder for the whole alignment-oracle family (the shared-builder
    * rule — extend, don't copy): the same explicit left-assoc dot/norm
    * sums as the cosine pair mirrors (bit-identical cosines — argmax must
    * not flip on a ulp), per-side row_number argmax with the engine's
    * (c desc, id) tie rule, and the mutual join. `lshPruned` swaps the
    * full cross for the multi-table-LSH candidate CTEs (any-table
    * full-signature agreement — the candidate set
    * [[graft.operators.Ann.mutualNearestNeighborsLsh]] generates);
    * `margin` adds the per-side top-2 neighborhood sums as explicit
    * rank-ordered adds (c1 + COALESCE(c2, 0) — the heap's fixed op
    * sequence) and the ratio-margin division chain. */
  private def alignSqlFor(lshPruned: Boolean, margin: Boolean): String = {
    val dim = EmbeddingDim
    def dotSum(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    def proj(v: String, globalPlane: Int): String =
      Ann.planeVector(globalPlane, dim).zipWithIndex
        .map { case (w, d) => s"$v[${d + 1}] * $w" }.mkString("(", " + ", ")")
    val scoredCtes = if (!lshPruned) {
      s"""s AS (SELECT a.vec_id a_id, b.vec_id b_id,
         |      CASE WHEN n1.nrm * n2.nrm = 0 THEN 0.0
         |           ELSE ${dotSum("a.v", "b.v")} / (n1.nrm * n2.nrm) END c
         |      FROM a JOIN n n1 ON n1.vec_id = a.vec_id
         |      CROSS JOIN b JOIN n n2 ON n2.vec_id = b.vec_id)""".stripMargin
    } else {
      val sigCols = (0 until CosLshTables).map { t =>
        (0 until CosLshBits).map { p =>
          s"(CASE WHEN ${proj("v", t * CosLshBits + p)} >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString("(", " + ", s") t$t")
      }.mkString(", ")
      val anyTable = (0 until CosLshTables).map(t => s"sa.t$t = sb.t$t").mkString(" OR ")
      s"""siga AS (SELECT vec_id, $sigCols FROM a),
         |sigb AS (SELECT vec_id, $sigCols FROM b),
         |cand AS (SELECT DISTINCT sa.vec_id a_id, sb.vec_id b_id
         |         FROM siga sa JOIN sigb sb ON ($anyTable)),
         |s AS (SELECT cd.a_id, cd.b_id,
         |      CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
         |           ELSE ${dotSum("ea.v", "eb.v")} / (na.nrm * nb.nrm) END c
         |      FROM cand cd
         |      JOIN e ea ON ea.vec_id = cd.a_id JOIN e eb ON eb.vec_id = cd.b_id
         |      JOIN n na ON na.vec_id = cd.a_id JOIN n nb ON nb.vec_id = cd.b_id)""".stripMargin
    }
    val prefix =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |n AS (SELECT vec_id, sqrt(${dotSum("v", "v")}) nrm FROM e),
         |a AS (SELECT * FROM e WHERE vec_id % 16 <> 0),
         |b AS (SELECT * FROM e WHERE vec_id % 16 = 0),
         |$scoredCtes""".stripMargin
    if (!margin)
      s"""$prefix,
         |ba AS (SELECT a_id, b_id, c FROM (
         |  SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) rn
         |  FROM s) WHERE rn = 1),
         |bb AS (SELECT a_id, b_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) rn
         |  FROM s) WHERE rn = 1)
         |SELECT ba.a_id, ba.b_id, ba.c AS cosine
         |FROM ba JOIN bb USING (a_id, b_id)
         |ORDER BY a_id""".stripMargin
    else
      s"""$prefix,
         |ra AS (SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY c DESC, b_id) rn FROM s),
         |rb AS (SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY c DESC, a_id) rn FROM s),
         |ba AS (SELECT a_id, b_id, c FROM ra WHERE rn = 1),
         |bb AS (SELECT a_id, b_id FROM rb WHERE rn = 1),
         |ta AS (SELECT a_id,
         |  max(CASE WHEN rn = 1 THEN c END)
         |    + COALESCE(max(CASE WHEN rn = 2 THEN c END), 0.0) AS sa
         |  FROM ra WHERE rn <= 2 GROUP BY a_id),
         |tb AS (SELECT b_id,
         |  max(CASE WHEN rn = 1 THEN c END)
         |    + COALESCE(max(CASE WHEN rn = 2 THEN c END), 0.0) AS sb
         |  FROM rb WHERE rn <= 2 GROUP BY b_id)
         |SELECT ba.a_id, ba.b_id, ba.c AS cosine,
         |  CASE WHEN (sa / 4.0 + sb / 4.0) = 0 THEN 0.0
         |       ELSE ba.c / (sa / 4.0 + sb / 4.0) END AS margin
         |FROM ba JOIN bb USING (a_id, b_id)
         |JOIN ta USING (a_id) JOIN tb USING (b_id)
         |ORDER BY a_id""".stripMargin
  }

  private val embeddingAlignSql: String = alignSqlFor(lshPruned = false, margin = false)
  private val embeddingAlignMarginSql: String = alignSqlFor(lshPruned = false, margin = true)
  private val embeddingAlignLshMarginSql: String = alignSqlFor(lshPruned = true, margin = true)

  private val embeddingAlignLshSql: String = alignSqlFor(lshPruned = true, margin = false)

  /** LSH-recall oracle: exact pairs and verified LSH candidates on the
    * same mod-32 subset, with the identical left-assoc double sums as the
    * pair mirrors; recall as the same scaled integer division. */
  private val annRecallSql: String = {
    val dim = EmbeddingDim
    def dotSum(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    def proj(v: String, globalPlane: Int): String =
      Ann.planeVector(globalPlane, dim).zipWithIndex
        .map { case (w, d) => s"$v[${d + 1}] * $w" }.mkString("(", " + ", ")")
    val sigCols = (0 until CosLshTables).map { t =>
      (0 until CosLshBits).map { p =>
        s"(CASE WHEN ${proj("v", t * CosLshBits + p)} >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", s") t$t")
    }.mkString(", ")
    val anyTable = (0 until CosLshTables).map(t => s"a.t$t = b.t$t").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id % 32 = 0),
       |n AS (SELECT vec_id, sqrt(${dotSum("v", "v")}) nrm FROM e),
       |ex AS (SELECT a.vec_id id1, b.vec_id id2
       |       FROM e a JOIN e b ON a.vec_id < b.vec_id
       |       JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
       |       WHERE (CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
       |              ELSE ${dotSum("a.v", "b.v")} / (na.nrm * nb.nrm) END) >= $RecallThreshold),
       |sig AS (SELECT vec_id, $sigCols FROM e),
       |cand AS (SELECT DISTINCT a.vec_id id1, b.vec_id id2 FROM sig a JOIN sig b
       |         ON a.vec_id < b.vec_id AND ($anyTable)),
       |lsh AS (SELECT c.id1 FROM cand c JOIN ex ON ex.id1 = c.id1 AND ex.id2 = c.id2),
       |x AS (SELECT CAST(count(*) AS BIGINT) n_exact FROM ex),
       |y AS (SELECT CAST(count(*) AS BIGINT) n_lsh FROM lsh)
       |SELECT n_exact, n_lsh,
       |  CAST(CASE WHEN n_exact = 0 THEN 10000
       |       ELSE n_lsh * 10000 // n_exact END AS BIGINT) recall_pct_scaled
       |FROM x, y""".stripMargin
  }

  private val cosineLshSql: String =
    cosineLshSqlFor(CosLshBits, CosLshTables, CosLshThreshold)

  private val cosinePairsLsh2Sql: String =
    cosineLshSqlFor(CosPairsBits, CosPairsTables, CosPairsThreshold)

  /** PII oracle: the same injection arithmetic, the IDENTICAL regex pattern
    * strings (RE2-compatible by design), and the same redaction order. */
  private val piiSql: String = {
    val inject =
      """text ||
        |CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || (doc_id % 256) || '.1' ELSE '' END ||
        |CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END ||
        |CASE WHEN doc_id % 17 = 0 THEN ' call 555-123-4567' ELSE '' END""".stripMargin
    val countCols = TextOps.PiiPatterns.map { case (name, pat) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n  ")
    val redacted = TextOps.PiiPatterns.foldLeft("text") { case (t, (name, pat)) =>
      s"regexp_replace($t, '$pat', '[${name.toUpperCase}]', 'g')"
    }
    s"""WITH p AS (SELECT doc_id, $inject AS text FROM documents)
       |SELECT doc_id,
       |  $countCols,
       |  md5($redacted) AS redacted_md5
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Repetition oracle: token/bigram frequency rollups mirroring
    * TextOps.repetitionStats (bigrams via list_transform — DuckDB's RE2 has
    * no lookahead, but the values are identical to the engine's
    * normalized-text regex extraction). */
  private val repetitionSql: String =
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) t FROM documents),
      |tc AS (SELECT doc_id, t, count(*) c FROM toks GROUP BY 1, 2),
      |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
      |       CAST(count(*) AS BIGINT) n_distinct_tokens, max(c) top_c FROM tc GROUP BY 1),
      |ta AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) g
      |       FROM ta WHERE len(t) >= 2),
      |bc AS (SELECT doc_id, g, count(*) c FROM bg GROUP BY 1, 2),
      |bs AS (SELECT doc_id, sum(c) n_bigrams, max(c) top_bi FROM bc GROUP BY 1)
      |SELECT ts.doc_id, n_tokens, n_distinct_tokens,
      |  CASE WHEN n_tokens = 0 THEN 0.0
      |       ELSE 1.0 - CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS dup_token_ratio,
      |  CASE WHEN n_tokens = 0 THEN 0.0
      |       ELSE CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS top_token_ratio,
      |  CASE WHEN n_bigrams IS NULL OR n_bigrams = 0 THEN 0.0
      |       ELSE CAST(top_bi AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END AS top_bigram_ratio
      |FROM ts LEFT JOIN bs ON bs.doc_id = ts.doc_id
      |ORDER BY ts.doc_id""".stripMargin

  /** Familiarity oracle: same normalized-whitespace tokens and
    * list_transform bigrams as the repetition oracle, leave-one-out
    * external counts via a corpus-count join, integer rollup, zero-filled
    * over all documents. */
  private val lmNgramScoreSql: String =
    """WITH ta AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) g
      |       FROM ta WHERE len(t) >= 2),
      |dc AS (SELECT doc_id, g, count(*) c FROM bg GROUP BY 1, 2),
      |cc AS (SELECT g, sum(c) tc FROM dc GROUP BY 1),
      |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
      |        CAST(sum(CASE WHEN tc - c >= 1 THEN c ELSE 0 END) AS BIGINT) AS known_ngrams,
      |        CAST(sum(c * (tc - c)) AS BIGINT) AS ext_sum
      |        FROM dc JOIN cc USING (g) GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(n_ngrams, 0) AS BIGINT) AS n_ngrams,
      |  CAST(coalesce(known_ngrams, 0) AS BIGINT) AS known_ngrams,
      |  CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0.0
      |       ELSE CAST(known_ngrams AS DOUBLE) / CAST(n_ngrams AS DOUBLE) END AS familiarity,
      |  CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0.0
      |       ELSE CAST(ext_sum AS DOUBLE) / CAST(n_ngrams AS DOUBLE) END AS avg_external_freq
      |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Winnowing oracle: md5 48-bit k-gram hashes at every position, each
    * position fanned out to its containing windows, per-window struct-min
    * on (hash, -pos) for the rightmost-tie selection, distinct selected
    * fingerprints per doc, then the same df-capped inverted-index pair
    * count as the engine. */
  private val winnowSql: String = {
    val k = 25; val w = 8; val minShared = 2; val maxDf = 200L
    s"""WITH src AS (SELECT doc_id, text,
       |  greatest(length(text) - ${k - 1}, 1) gn FROM documents
       |  WHERE doc_id % 2 = 0),
       |p AS (SELECT doc_id, text, gn, unnest(range(1, gn + 1)) pos FROM src),
       |h AS (SELECT doc_id, gn, pos,
       |  ('0x' || substr(md5(substr(text, pos, $k)), 1, 12))::BIGINT h FROM p),
       |wj AS (SELECT doc_id, h, pos,
       |  unnest(range(greatest(pos - ${w - 1}, 1),
       |                least(pos, greatest(gn - ${w - 1}, 1)) + 1)) j FROM h),
       |sel AS (SELECT doc_id, j, min({'h': h, 'np': -pos}) m FROM wj GROUP BY 1, 2),
       |fps0 AS (SELECT DISTINCT doc_id, m.h AS fp FROM sel),
       |hot AS (SELECT fp FROM (SELECT fp, count(*) df FROM fps0 GROUP BY 1)
       |        WHERE df > $maxDf),
       |fps AS (SELECT * FROM fps0 WHERE fp NOT IN (SELECT fp FROM hot)),
       |pairs AS (SELECT a.doc_id id1, b.doc_id id2,
       |          CAST(count(*) AS BIGINT) shared_fingerprints
       |          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT id1, id2, shared_fingerprints FROM pairs
       |WHERE shared_fingerprints >= $minShared
       |ORDER BY id1, id2""".stripMargin
  }

  /** Boilerplate oracle: the same injection arithmetic, line split on
    * chr(10), doc-frequency ≥ threshold over DISTINCT (doc, line) pairs,
    * and ordered re-assembly via string_agg ORDER BY pos — so the cleaned
    * text md5 matches the engine byte-for-byte (including the empty-string
    * policy for fully-boilerplate documents). */
  private val boilerplateSql: String =
    s"""WITH injected AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'copyright ' || (doc_id % 3) ELSE '' END AS text
       |  FROM documents),
       |la AS (SELECT doc_id, string_split(text, chr(10)) l FROM injected),
       |lines AS (SELECT doc_id, unnest(range(1, len(l)+1)) pos, unnest(l) line FROM la),
       |hot AS (SELECT line FROM (
       |  SELECT line, count(DISTINCT doc_id) df FROM lines GROUP BY 1)
       |  WHERE df >= $BoilerplateMinDf),
       |kept AS (SELECT doc_id, pos, line FROM lines
       |         WHERE line NOT IN (SELECT line FROM hot)),
       |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) txt,
       |        CAST(count(*) AS BIGINT) n_kept FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(l) AS BIGINT) n_lines FROM la)
       |SELECT t.doc_id, n_lines, coalesce(n_kept, 0) AS n_lines_kept,
       |  md5(coalesce(txt, '')) AS clean_md5
       |FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Paragraph-boilerplate oracle: same shape as [[boilerplateSql]] with a
    * two-newline delimiter; the CASE-chain injection mirrors concat_ws's
    * skip-NULL semantics (separator only before blocks that are present). */
  private val boilerplateParaSql: String = {
    val sep = "chr(10)||chr(10)"
    s"""WITH injected AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 2 = 0 THEN $sep || 'follow us' || chr(10) || 'on twitter and facebook' ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 0 THEN $sep || 'terms of service' || chr(10) || 'all rights reserved' ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN $sep || 'promo code ' || (doc_id % 4) ELSE '' END AS text
       |  FROM documents),
       |pa AS (SELECT doc_id, string_split(text, $sep) l FROM injected),
       |paras AS (SELECT doc_id, unnest(range(1, len(l)+1)) pos, unnest(l) para FROM pa),
       |hot AS (SELECT para FROM (
       |  SELECT para, count(DISTINCT doc_id) df FROM paras GROUP BY 1)
       |  WHERE df >= $BoilerplateMinDf),
       |kept AS (SELECT doc_id, pos, para FROM paras
       |         WHERE para NOT IN (SELECT para FROM hot)),
       |agg AS (SELECT doc_id, string_agg(para, $sep ORDER BY pos) txt,
       |        CAST(count(*) AS BIGINT) n_kept FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(l) AS BIGINT) n_paras FROM pa)
       |SELECT t.doc_id, n_paras, coalesce(n_kept, 0) AS n_paras_kept,
       |  md5(coalesce(txt, '')) AS clean_md5
       |FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Vocabulary oracle: top-20 tokens by (freq DESC, token) — the
    * deterministic tie-break makes the boundary of the vocabulary, and so
    * every derived count, engine-independent. */
  private val vocabSql: String =
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) t FROM documents),
      |cf AS (SELECT t, count(*) c FROM toks GROUP BY 1),
      |vocab AS (SELECT t FROM cf ORDER BY c DESC, t LIMIT 20),
      |m AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens,
      |      CAST(sum(CASE WHEN t IN (SELECT t FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) n_in_vocab
      |      FROM toks GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_in_vocab,
      |  CASE WHEN n_tokens = 0 THEN 0.0
      |       ELSE 1.0 - CAST(n_in_vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS oov_ratio
      |FROM m ORDER BY doc_id""".stripMargin

  /** Chi-squared drift oracle: identical cross-multiplied decimal cells
    * (operand-for-operand the widths Spark produces), with DECIMAL→DOUBLE
    * routed through VARCHAR — DuckDB's direct decimal→double cast divides
    * two doubles and can land one ulp low past 2^53, while strtod rounds
    * correctly and matches Java's BigDecimal.doubleValue. */
  /** χ² drift oracle, parameterized by the two slice SELECTs and the
    * category column — one arithmetic mirror for every drift fixture. */
  private def chi2SqlFor(aSel: String, bSel: String, cat: String): String = {
    def term(o: String, r: String) = {
      val diff = s"CAST(CAST($o AS DECIMAL(9,0)) * CAST(n_tot AS DECIMAL(9,0)) - " +
        s"CAST($r AS DECIMAL(9,0)) * CAST(c_tot AS DECIMAL(9,0)) AS DECIMAL(19,0))"
      val num = s"($diff * $diff)"
      val den = s"(CAST(CAST(n_tot AS DECIMAL(12,0)) * CAST($r AS DECIMAL(12,0)) AS DECIMAL(24,0)) * CAST(c_tot AS DECIMAL(14,0)))"
      s"CASE WHEN $r > 0 AND c_tot > 0 THEN " +
        s"CAST(CAST($num AS VARCHAR) AS DOUBLE) / CAST(CAST($den AS VARCHAR) AS DOUBLE) ELSE 0.0 END"
    }
    s"""WITH da AS ($aSel),
       |db AS ($bSel),
       |ca AS (SELECT $cat, CAST(count(*) AS BIGINT) n_a FROM da GROUP BY 1),
       |cb AS (SELECT $cat, CAST(count(*) AS BIGINT) n_b FROM db GROUP BY 1),
       |cells AS (SELECT COALESCE(ca.$cat, cb.$cat) AS $cat,
       |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
       |  FROM ca FULL OUTER JOIN cb ON ca.$cat = cb.$cat),
       |tot AS (SELECT CAST(sum(n_a) AS BIGINT) r_a, CAST(sum(n_b) AS BIGINT) r_b FROM cells),
       |w AS (SELECT $cat, n_a, n_b, r_a, r_b,
       |  r_a + r_b AS n_tot, n_a + n_b AS c_tot FROM cells, tot)
       |SELECT $cat, n_a, n_b,
       |  CASE WHEN n_tot > 0 THEN
       |    CAST(CAST(CAST(r_a AS DECIMAL(12,0)) * CAST(c_tot AS DECIMAL(12,0)) AS VARCHAR) AS DOUBLE)
       |      / CAST(n_tot AS DOUBLE) END AS expected_a,
       |  (${term("n_a", "r_a")}) + (${term("n_b", "r_b")}) AS chi2_cell
       |FROM w ORDER BY $cat""".stripMargin
  }

  private val profileChi2Sql: String = chi2SqlFor(
    "SELECT source FROM documents WHERE doc_id % 10 <> 7",
    "SELECT source FROM documents WHERE doc_id % 10 <> 3",
    "source")

  /** Event-time drift oracle: alternating epoch days of the event feed. */
  private val eventsChi2Sql: String = chi2SqlFor(
    "SELECT event_type FROM events WHERE (epoch_us(ts) // 86400000000) % 2 = 0",
    "SELECT event_type FROM events WHERE (epoch_us(ts) // 86400000000) % 2 = 1",
    "event_type")

  /** BPE-merge oracle: the trainer's iterations unrolled as stacked CTEs —
    * per step, a weighted adjacent-pair count over the current encoding, a
    * (count desc, pair asc) argmax, and a literal `replace` applying the
    * merge (LTR non-overlap = BPE's simultaneous merge, identical in both
    * engines; the paren encoding makes symbol boundaries unambiguous). */
  /** Shared CTE prefix: word frequencies, paren encoding, and the
    * unrolled per-step pair-count/argmax/merge chain through t/e{steps}. */
  private def bpeCtes: String = {
    val steps = (1 to BpeSteps).map { i =>
      s"""p$i AS (SELECT s.a[u.i] AS s1, s.a[u.i+1] AS s2, CAST(sum(s.c) AS BIGINT) AS n
         |  FROM (SELECT regexp_extract_all(enc, '\\(([a-z]+)\\)', 1) AS a, c FROM e${i - 1}) s,
         |  LATERAL (SELECT unnest(generate_series(1, len(s.a)-1)) AS i) u
         |  GROUP BY 1, 2),
         |t$i AS (SELECT s1, s2, n FROM p$i ORDER BY n DESC, s1, s2 LIMIT 1),
         |e$i AS (SELECT replace(e${i - 1}.enc,
         |    '(' || t$i.s1 || ')(' || t$i.s2 || ')', '(' || t$i.s1 || t$i.s2 || ')') AS enc, e${i - 1}.c
         |  FROM e${i - 1}, t$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) t FROM documents),
       |wf AS (SELECT lower(t) AS w, CAST(count(*) AS BIGINT) AS c FROM toks
       |  WHERE regexp_matches(lower(t), '^[a-z]+$$') GROUP BY 1),
       |e0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS enc, c FROM wf),
       |$steps""".stripMargin
  }

  private val bpeMergesSql: String = {
    val out = (1 to BpeSteps).map { i =>
      s"SELECT CAST($i AS BIGINT) AS step, s1 AS sym_a, s2 AS sym_b, s1 || s2 AS merged, n FROM t$i"
    }.mkString("\nUNION ALL ")
    s"""$bpeCtes
       |$out
       |ORDER BY step""".stripMargin
  }

  /** BPE-tokenize oracle: the merge chain replayed per document word (the
    * 8 learned pairs cross-joined in — each t-CTE is one row), then a
    * per-document rollup of word and symbol counts. */
  private val bpeTokenizeSql: String = {
    val enc = (1 to BpeSteps).foldLeft("regexp_replace(w, '(.)', '(\\1)', 'g')") {
      case (e, i) =>
        s"replace($e, '(' || t$i.s1 || ')(' || t$i.s2 || ')', '(' || t$i.s1 || t$i.s2 || ')')"
    }
    s"""$bpeCtes,
       |dtoks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) t FROM documents),
       |dw AS (SELECT doc_id, lower(t) AS w FROM dtoks
       |  WHERE regexp_matches(lower(t), '^[a-z]+$$')),
       |encd AS (SELECT doc_id,
       |  len(regexp_extract_all($enc, '\\(([a-z]+)\\)', 1)) AS ns
       |  FROM dw${(1 to BpeSteps).map(i => s", t$i").mkString})
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ns) AS BIGINT) AS n_symbols
       |FROM encd GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Heavy-hitter oracle: the plain GROUP BY / HAVING formulation the
    * MG-candidates + exact-recount pipeline must reproduce exactly. The
    * integer cross-multiplied support cut (freq·denom ≥ N) avoids any
    * float threshold. */
  private val heavyHittersSql: String =
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) t FROM documents),
       |tot AS (SELECT count(*) n FROM toks),
       |cf AS (SELECT t AS token, CAST(count(*) AS BIGINT) freq FROM toks GROUP BY 1)
       |SELECT token, freq FROM cf, tot
       |WHERE freq * $HeavyHitterDenominator >= n
       |ORDER BY freq DESC, token""".stripMargin

  /** Per-group heavy-hitters oracle: the same tokenization split per
    * language, per-group totals, and the HAVING cut against the group's
    * own total — plain SQL, because the sketch only bounds candidates and
    * the emitted counts are exact. */
  private val heavyHittersGroupedSql: String =
    s"""WITH toks AS (SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) t
       |              FROM documents WHERE lang IS NOT NULL),
       |tot AS (SELECT lang, count(*) n FROM toks GROUP BY 1),
       |cf AS (SELECT lang, t AS token, CAST(count(*) AS BIGINT) freq
       |       FROM toks GROUP BY 1, 2)
       |SELECT cf.lang, token, freq FROM cf JOIN tot USING (lang)
       |WHERE freq * $HeavyHitterGroupDenominator >= n
       |ORDER BY lang, freq DESC, token""".stripMargin

  /** [[heavyHittersGroupedSql]] with the late-erasure contract spelled
    * out: erased docs (`doc_id % 17 = 0`) leave every token FREQUENCY,
    * while the support threshold divides INGESTED group totals (the
    * summaries' sentinels hold no ids — stricter-only). */
  private val heavyHittersLateEraseSql: String =
    s"""WITH toks AS (SELECT lang, doc_id,
       |                unnest(regexp_split_to_array(trim(text), '\\s+')) t
       |              FROM documents WHERE lang IS NOT NULL),
       |tot AS (SELECT lang, count(*) n FROM toks GROUP BY 1),
       |cf AS (SELECT lang, t AS token, CAST(count(*) AS BIGINT) freq
       |       FROM toks WHERE doc_id % 17 <> 0 GROUP BY 1, 2)
       |SELECT cf.lang, token, freq FROM cf JOIN tot USING (lang)
       |WHERE freq * $HeavyHitterGroupDenominator >= n
       |ORDER BY lang, freq DESC, token""".stripMargin

  /** Count-Min oracle: the grid rebuilt cell-for-cell in SQL — md5 hex
    * halves parsed to the same 48-bit longs ([[graft.operators.Dedup.md5Prefix48]]
    * contract), row hash `(a + (i+1)·b) % width`, bucket counts by GROUP
    * BY, estimates by min over the key's depth cells. All integer. */
  private val countMinSql: String = {
    val (d, w) = (CountMinDepth, CountMinWidth)
    val is = (0 until d).mkString("[", ",", "]")
    s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) t FROM documents),
       |tot AS (SELECT count(*) n FROM toks),
       |cf AS (SELECT t AS token, CAST(count(*) AS BIGINT) freq FROM toks GROUP BY 1),
       |heavy AS (SELECT token, freq FROM cf, tot WHERE freq * $HeavyHitterDenominator >= n),
       |rows_ AS (SELECT unnest($is) AS r),
       |h AS (SELECT ('0x' || substr(md5(t), 1, 12))::BIGINT AS a,
       |             ('0x' || substr(md5(t), 17, 12))::BIGINT AS b FROM toks),
       |cells AS (SELECT r, (a + (r + 1) * b) % $w AS bkt,
       |                 CAST(count(*) AS BIGINT) cnt
       |          FROM h CROSS JOIN rows_ GROUP BY 1, 2),
       |kc AS (SELECT token, freq, r,
       |         (('0x' || substr(md5(token), 1, 12))::BIGINT
       |          + (r + 1) * ('0x' || substr(md5(token), 17, 12))::BIGINT) % $w AS bkt
       |       FROM heavy CROSS JOIN rows_)
       |SELECT token, freq, CAST(min(cnt) AS BIGINT) AS est
       |FROM kc JOIN cells USING (r, bkt)
       |GROUP BY 1, 2
       |ORDER BY token""".stripMargin
  }

  /** Distinct-sketch oracle: registers rebuilt in SQL (same md5 hex-half
    * longs, same trailing-zero rank via `bit_count((b & -b) - 1)`), the
    * 2^(48−reg) sum as exact BIGINT, and the one double division with the
    * numerator constant routed VARCHAR→DOUBLE (strtod is exact — bare
    * float literals are DECIMAL in DuckDB and ride a one-ulp-low cast). */
  private val distinctSketchGroupedSql: String = {
    val m = DistinctBuckets
    val c = graft.operators.DistinctSketch.numeratorConst(m).toString
    s"""WITH toks AS (SELECT event_type g, CAST(user_id AS VARCHAR) t FROM events),
       |h AS (SELECT g, ('0x' || substr(md5(t), 1, 12))::BIGINT AS a,
       |             ('0x' || substr(md5(t), 17, 12))::BIGINT AS b FROM toks),
       |br AS (SELECT g, a % $m AS bucket,
       |         CASE WHEN b = 0 THEN 48
       |              ELSE least(bit_count((b & (-b)) - 1) + 1, 48) END AS r FROM h),
       |regs AS (SELECT g, bucket, max(r) AS register FROM br GROUP BY 1, 2),
       |s AS (SELECT g, sum(1::BIGINT << (48 - register)) sp,
       |             CAST(count(*) AS BIGINT) present FROM regs GROUP BY 1),
       |p AS (SELECT g, CAST($m - present AS BIGINT) zero_buckets,
       |             CAST(sp + ($m - present) * (1::BIGINT << 48) AS BIGINT) sum_pow
       |      FROM s),
       |e AS (SELECT g, CAST(count(DISTINCT t) AS BIGINT) exact_distinct FROM toks GROUP BY 1)
       |SELECT p.g event_type, zero_buckets, sum_pow,
       |  CAST(CAST('$c'::DOUBLE / CAST(sum_pow AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE) AS est,
       |  exact_distinct
       |FROM p JOIN e ON e.g = p.g ORDER BY event_type""".stripMargin
  }

  private val distinctSketchSql: String = {
    val m = DistinctBuckets
    val c = graft.operators.DistinctSketch.numeratorConst(m).toString
    s"""WITH toks AS (SELECT CAST(event_id AS VARCHAR) t FROM events),
       |h AS (SELECT ('0x' || substr(md5(t), 1, 12))::BIGINT AS a,
       |             ('0x' || substr(md5(t), 17, 12))::BIGINT AS b FROM toks),
       |br AS (SELECT a % $m AS bucket,
       |         CASE WHEN b = 0 THEN 48
       |              ELSE least(bit_count((b & (-b)) - 1) + 1, 48) END AS r FROM h),
       |regs AS (SELECT bucket, max(r) AS register FROM br GROUP BY 1),
       |s AS (SELECT sum(1::BIGINT << (48 - register)) sp,
       |             CAST(count(*) AS BIGINT) present FROM regs),
       |p AS (SELECT CAST($m AS BIGINT) n_buckets,
       |             CAST($m - present AS BIGINT) zero_buckets,
       |             CAST(sp + ($m - present) * (1::BIGINT << 48) AS BIGINT) sum_pow
       |      FROM s),
       |e AS (SELECT CAST(count(DISTINCT t) AS BIGINT) exact_distinct FROM toks)
       |SELECT n_buckets, zero_buckets, sum_pow,
       |  CAST(CAST('$c'::DOUBLE / CAST(sum_pow AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE) AS est,
       |  exact_distinct
       |FROM p, e""".stripMargin
  }

  /** Join-size oracle: the same grid over l_partkey strings, per-row
    * self inner product, min across rows — and the exact Σn². */
  private val joinSizeSql: String = {
    val (d, w) = (CountMinDepth, JoinSizeWidth)
    val is = (0 until d).mkString("[", ",", "]")
    s"""WITH keys AS (SELECT CAST(l_partkey AS VARCHAR) k FROM lineitem),
       |rows_ AS (SELECT unnest($is) AS r),
       |h AS (SELECT ('0x' || substr(md5(k), 1, 12))::BIGINT AS a,
       |             ('0x' || substr(md5(k), 17, 12))::BIGINT AS b FROM keys),
       |cells AS (SELECT r, (a + (r + 1) * b) % $w AS bkt,
       |                 CAST(count(*) AS BIGINT) cnt
       |          FROM h CROSS JOIN rows_ GROUP BY 1, 2),
       |ip AS (SELECT r, sum(cnt * cnt) AS ipr FROM cells GROUP BY 1),
       |e1 AS (SELECT CAST(min(ipr) AS BIGINT) est FROM ip),
       |e2 AS (SELECT CAST(sum(n * n) AS BIGINT) exact_size
       |       FROM (SELECT count(*) n FROM keys GROUP BY k))
       |SELECT est, exact_size FROM e1, e2""".stripMargin
  }

  /** Streaming top-k oracle: the batch mirror of the Space-Saving
    * operator's exact regime — per-type user counts, row_number with the
    * same (count desc, user asc) tie-break, top 5. */
  private val streamTopKSql: String =
    s"""WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) n
       |           FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, user_id, n,
       |        row_number() OVER (PARTITION BY event_type
       |                           ORDER BY n DESC, user_id) rk FROM c)
       |SELECT event_type, CAST(rk AS INT) AS rank, user_id, n
       |FROM r WHERE rk <= $StreamTopK
       |ORDER BY event_type, rank""".stripMargin

  /** Fuzzy-join oracle: brute-force `levenshtein ≤ k` over the distinct-
    * name dictionary — an algorithm-independent ground truth (both engines
    * implement the classic unit-cost Wagner-Fischer distance), so it
    * checks the PassJoin blocking's completeness rather than mirroring it. */
  private val fuzzyJoinSql: String =
    s"""WITH d AS (SELECT p_name, CAST(count(*) AS BIGINT) n FROM part GROUP BY 1)
       |SELECT a.p_name AS name1, b.p_name AS name2,
       |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       |  a.n AS n1, b.n AS n2
       |FROM d a JOIN d b ON a.p_name < b.p_name
       |WHERE abs(length(a.p_name) - length(b.p_name)) <= $FuzzyK
       |  AND levenshtein(a.p_name, b.p_name) <= $FuzzyK
       |ORDER BY 1, 2""".stripMargin

  /** Session-window stream oracle: the islands formulation (gap break +
    * running sum), session end = last event + gap, emitted iff the final
    * watermark (= max event time, 0s delay) passed the end. */
  private val eventsStreamSessionsSql: String =
    """WITH b AS (SELECT user_id, epoch_us(ts) us, CAST(value AS DECIMAL(18,6)) v FROM events),
      |mx AS (SELECT max(us) m FROM b),
      |l AS (SELECT user_id, us, v,
      |  lag(us) OVER (PARTITION BY user_id ORDER BY us) prev FROM b),
      |f AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
      |                     THEN 1 ELSE 0 END brk FROM l),
      |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sid FROM f),
      |sess AS (SELECT user_id, sid, min(us) session_start_us,
      |  max(us) + 1800000000 session_end_us,
      |  CAST(count(*) AS BIGINT) n_events,
      |  CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) value_sum
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id, session_start_us, session_end_us, n_events, value_sum
      |FROM sess WHERE session_end_us <= (SELECT m FROM mx)
      |ORDER BY user_id, session_start_us""".stripMargin

  private val eventsStreamEnrichSql: String =
    """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) total_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val layoutPartitionedSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) n_docs,
      |  CAST(sum(n_chars) AS BIGINT) total_chars
      |FROM documents WHERE lang = 'en'
      |GROUP BY source ORDER BY source""".stripMargin

  /** Winsorize oracle: per-group percentile_disc boundaries spelled out
    * via cume_dist (same mirror as the numeric profile), comparison-only
    * clip. */
  private val normalizeWinsorSql: String =
    """WITH v AS (SELECT l_orderkey, l_linenumber, l_returnflag g,
      |           CAST(l_extendedprice AS DOUBLE) v FROM lineitem),
      |cd AS (SELECT g, v, cume_dist() OVER (PARTITION BY g ORDER BY v) cd FROM v),
      |b AS (SELECT g, min(CASE WHEN cd >= 0.05 THEN v END) lo,
      |             min(CASE WHEN cd >= 0.95 THEN v END) hi FROM cd GROUP BY g)
      |SELECT l_orderkey, l_linenumber, v.g AS l_returnflag, v.v AS value,
      |  least(greatest(v.v, b.lo), b.hi) AS clipped
      |FROM v JOIN b ON v.g = b.g
      |ORDER BY l_orderkey, l_linenumber, l_returnflag, value""".stripMargin

  /** k-hop BFS oracle: the supersteps unrolled — per level, the frontier's
    * neighbor set minus everything labeled so far. */
  private val graphKHopSql: String =
    """WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e AS (SELECT c a, s b FROM pairs UNION SELECT s, c FROM pairs),
      |d0 AS (SELECT DISTINCT s_suppkey * 2 + 1 node FROM supplier WHERE s_nationkey = 0),
      |n1 AS (SELECT DISTINCT e.b node FROM e JOIN d0 ON e.a = d0.node),
      |d1 AS (SELECT node FROM n1 WHERE node NOT IN (SELECT node FROM d0)),
      |n2 AS (SELECT DISTINCT e.b node FROM e JOIN d1 ON e.a = d1.node),
      |d2 AS (SELECT node FROM n2 WHERE node NOT IN (SELECT node FROM d0)
      |       AND node NOT IN (SELECT node FROM d1)),
      |n3 AS (SELECT DISTINCT e.b node FROM e JOIN d2 ON e.a = d2.node),
      |d3 AS (SELECT node FROM n3 WHERE node NOT IN (SELECT node FROM d0)
      |       AND node NOT IN (SELECT node FROM d1) AND node NOT IN (SELECT node FROM d2))
      |SELECT CAST(node AS BIGINT) node, CAST(dist AS BIGINT) dist FROM (
      |  SELECT node, 0 dist FROM d0 UNION ALL SELECT node, 1 FROM d1
      |  UNION ALL SELECT node, 2 FROM d2 UNION ALL SELECT node, 3 FROM d3)
      |ORDER BY node""".stripMargin

  /** Label-propagation oracle: the k-hop oracle's symmetrized edge CTEs,
    * then each superstep unrolled as one neighbor-min aggregation + one
    * least() merge — exact integer mins, bit-identical by construction. */
  private val graphLabelPropSql: String = {
    val steps = (1 to 2).map { i =>
      s"""m$i AS (SELECT e.b node, min(l${i - 1}.label) nl
         |        FROM e JOIN l${i - 1} ON l${i - 1}.node = e.a GROUP BY e.b),
         |l$i AS (SELECT l.node, least(l.label, coalesce(m$i.nl, l.label)) AS label
         |        FROM l${i - 1} l LEFT JOIN m$i ON m$i.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |              WHERE o_orderkey % 7 = 0),
       |e AS (SELECT c a, s b FROM pairs UNION SELECT s, c FROM pairs),
       |n AS (SELECT DISTINCT a AS node FROM e),
       |l0 AS (SELECT node, node AS label FROM n),
       |$steps
       |SELECT CAST(label AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM l2 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Entity-resolution oracle: brute-force pair generation (proves the
    * PassJoin blocking recall-complete) + recursive-CTE min-label closure
    * + survivorship rollup. */
  private val entityResolutionSql: String =
    s"""WITH RECURSIVE
       |d AS (SELECT p_name, CAST(count(*) AS BIGINT) n,
       |      CAST(min(p_partkey) AS BIGINT) nid FROM part GROUP BY 1),
       |pr AS (SELECT least(a.nid, b.nid) id1, greatest(a.nid, b.nid) id2
       |       FROM d a JOIN d b ON a.p_name < b.p_name
       |       WHERE abs(length(a.p_name) - length(b.p_name)) <= $FuzzyK
       |         AND levenshtein(a.p_name, b.p_name) <= $FuzzyK),
       |edges AS (SELECT id1 a, id2 b FROM pr UNION SELECT id2, id1 FROM pr),
       |walk(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id),
       |comps AS (SELECT id, min(comp) comp FROM walk GROUP BY id),
       |lbl AS (SELECT d.p_name, d.n, COALESCE(c.comp, d.nid) entity
       |        FROM d LEFT JOIN comps c ON c.id = d.nid),
       |ent AS (SELECT entity, CAST(count(*) AS BIGINT) n_names,
       |        min(p_name) canonical_name, CAST(sum(n) AS BIGINT) n_rows
       |        FROM lbl GROUP BY 1)
       |SELECT entity, n_names, canonical_name, n_rows FROM ent
       |WHERE n_names >= 2 ORDER BY entity""".stripMargin

  /** Lang-agreement oracle: the statsSql langId argmax (same marker
    * scoring, same first-wins tie-break) cross-tabulated against the gold
    * column, with kappa's rational mirrored decimal-for-decimal and the
    * two divisions routed VARCHAR→DOUBLE. */
  private val langAgreementSql: String = {
    val markers = TextOps.LangMarkers
    def cnt(expr: String, pat: String) = s"len(regexp_extract_all($expr, '$pat'))"
    val scoreCols = markers.map { case (l, p) =>
      s"${cnt("lower(text)", p)} AS score_$l"
    }.mkString(", ")
    val lang = markers.tail.foldLeft(("score_" + markers.head._1, s"'${markers.head._1}'")) {
      case ((bs, bl), (l, _)) =>
        (s"greatest($bs, score_$l)", s"CASE WHEN score_$l > $bs THEN '$l' ELSE $bl END")
    }
    def d13(x: String) = s"CAST($x AS DECIMAL(13,0))"
    s"""WITH sc AS (SELECT lang AS gold, $scoreCols FROM documents),
       |pr AS (SELECT gold,
       |  CASE WHEN ${lang._1} = 0 THEN 'und' ELSE ${lang._2} END AS pred FROM sc),
       |cells AS (SELECT gold AS a, pred AS b, CAST(count(*) AS BIGINT) n FROM pr GROUP BY 1, 2),
       |rt AS (SELECT a, CAST(sum(n) AS BIGINT) row_total FROM cells GROUP BY 1),
       |ct AS (SELECT b, CAST(sum(n) AS BIGINT) col_total FROM cells GROUP BY 1),
       |en AS (SELECT COALESCE(CAST(sum(${d13("rt.row_total")} * ${d13("ct.col_total")}) AS DECIMAL(38,0)),
       |  CAST(0 AS DECIMAL(38,0))) AS e_num FROM rt JOIN ct ON rt.a = ct.b),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) n_total,
       |  CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) n_agree FROM cells),
       |smry AS (SELECT n_total, n_agree,
       |  CASE WHEN ${d13("n_total")} * ${d13("n_total")} - e_num <> 0 THEN
       |    CAST(CAST(${d13("n_total")} * ${d13("n_agree")} - e_num AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(${d13("n_total")} * ${d13("n_total")} - e_num AS VARCHAR) AS DOUBLE)
       |  ELSE 1.0 END AS kappa FROM tot, en)
       |SELECT cells.a, cells.b, cells.n, rt.row_total, ct.col_total,
       |  smry.n_total, smry.n_agree, smry.kappa
       |FROM cells JOIN rt ON cells.a = rt.a JOIN ct ON cells.b = ct.b, smry
       |ORDER BY cells.a, cells.b""".stripMargin
  }

  /** Group-top-k oracle: the row_number window formulation the heap
    * aggregate replaces, over the same quality arithmetic as the
    * text-stats oracle (same operand order, so doubles are bit-equal). */
  private val topkQualitySql: String = {
    val stop = "\\b(the|a|an|and|of|to|in|is|it|for)\\b"
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(lower(text), '$stop')) AS BIGINT) AS n_stop,
       |    len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents),
       |q AS (SELECT doc_id, lang,
       |  0.5 * (least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0)
       |  + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
       |  + 0.2 * (CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0.0
       |           ELSE CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) END)
       |    AS quality_score
       |  FROM base),
       |r AS (SELECT lang,
       |  CAST(row_number() OVER (PARTITION BY lang
       |    ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, quality_score FROM q)
       |SELECT lang, rank, doc_id, quality_score FROM r WHERE rank <= 3
       |ORDER BY lang, rank""".stripMargin
  }

  /** Adaptive-quality oracle: the shared quality CTEs with lang, each
    * lang's p75 as the value at 1-based rank ⌈3n/4⌉ = (3n+3) DIV 4 of the
    * ascending scores (row_number mirror of the engine's exact rank
    * selection — tie rows share the value, so ordering by score alone is
    * enough), then the same ≥-threshold survivor count. */
  private val qualityAdaptiveSql: String =
    s"""WITH ${qualitySqlCtes(Seq("lang"))},
       |sel AS (SELECT lang, quality_score,
       |          row_number() OVER (PARTITION BY lang ORDER BY quality_score) rn,
       |          count(*) OVER (PARTITION BY lang) n
       |        FROM q
       |        WHERE lang IS NOT NULL AND quality_score IS NOT NULL),
       |thr AS (SELECT lang, CAST(n AS BIGINT) AS n_docs, quality_score AS threshold
       |        FROM sel WHERE rn = (3 * n + 3) // 4)
       |SELECT q.lang, t.n_docs, t.threshold,
       |  CAST(sum(CASE WHEN q.quality_score >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM q JOIN thr t USING (lang)
       |GROUP BY q.lang, t.n_docs, t.threshold
       |ORDER BY lang""".stripMargin

  /** Bootstrap oracle: the same md5 multiplicity thresholds (cumulative
    * Poisson(1) over 10⁶), integer replicate sums with the HUGEINT→BIGINT
    * bridge, and the identical two-division mean sequence. */
  private val qualityBootstrapSql: String = {
    val cases = graft.operators.Sampling.PoissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN h < $t THEN $k" }.mkString(" ")
    s"""WITH ${qualitySqlCtes()},
       |qi AS (SELECT doc_id, CAST(floor(quality_score * 1000000000.0) AS BIGINT) AS qv FROM q),
       |x AS (SELECT qi.qv, r.b,
       |        ('0x' || substr(md5(CAST(qi.doc_id AS VARCHAR) || '#' || CAST(r.b AS VARCHAR)), 1, 12))::BIGINT
       |          % 1000000 AS h
       |      FROM qi CROSS JOIN (SELECT unnest(range(1, $BootstrapReplicates + 1)) AS b) r),
       |mm AS (SELECT b, qv,
       |         CASE $cases ELSE ${graft.operators.Sampling.PoissonThresholds.length} END AS m
       |       FROM x)
       |SELECT CAST(b AS BIGINT) AS replicate,
       |  CAST(sum(m) AS BIGINT) AS n_eff,
       |  CAST(CAST(sum(m * qv) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) / 1000000000.0 AS mean_value
       |FROM mm GROUP BY b ORDER BY replicate""".stripMargin
  }

  /** Weighted-sample oracle: the identical min-of-w md5 priority key —
    * generate_series fans each doc into w draws, the same `id:t` string is
    * hashed with the shared 48-bit prefix parse, and the bottom-100 by
    * (priority, doc_id) is the sample. Integer-only end to end. */
  private val sampleWeightedSql: String =
    """WITH w AS (SELECT doc_id, CAST(n_chars % 7 + 1 AS BIGINT) AS weight
      |           FROM documents),
      |e AS (SELECT doc_id, weight,
      |        unnest(generate_series(1, weight)) AS t FROM w),
      |h AS (SELECT doc_id, weight,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |     CAST(t AS VARCHAR)), 1, 12))::BIGINT AS hk
      |  FROM e),
      |p AS (SELECT doc_id, CAST(max(weight) AS BIGINT) AS weight,
      |        CAST(min(hk) AS BIGINT) AS priority FROM h GROUP BY 1)
      |SELECT doc_id, weight, priority FROM p
      |ORDER BY priority, doc_id LIMIT 100""".stripMargin

  /** Per-group weighted-sample oracle: the min-of-w priorities ranked by a
    * per-source row_number mirror. */
  private val sampleWeightedGroupedSql: String =
    """WITH w AS (SELECT source, doc_id,
      |           CAST(n_chars % 7 + 1 AS BIGINT) AS weight FROM documents),
      |e AS (SELECT source, doc_id,
      |        unnest(generate_series(1, weight)) AS t FROM w),
      |h AS (SELECT source, doc_id,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |     CAST(t AS VARCHAR)), 1, 12))::BIGINT AS hk
      |  FROM e),
      |p AS (SELECT source, doc_id, CAST(min(hk) AS BIGINT) AS priority
      |      FROM h GROUP BY 1, 2),
      |r AS (SELECT source,
      |  CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY priority, doc_id) AS BIGINT) AS rank,
      |  doc_id, priority FROM p)
      |SELECT source, rank, doc_id, priority FROM r WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin

  /** Per-group hash-sample oracle: smallest md5 key hash wins, same 48-bit
    * prefix parse as every other sampling oracle. */
  private val samplePerSourceSql: String =
    """WITH h AS (SELECT source, doc_id,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hk
      |  FROM documents),
      |r AS (SELECT source,
      |  CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rank,
      |  doc_id FROM h)
      |SELECT source, rank, doc_id FROM r WHERE rank <= 5
      |ORDER BY source, rank""".stripMargin

  /** Shuffle-export oracle: identical 48-bit md5 shard arithmetic, and the
    * within-shard order is (hash, id) — both integral, so row_number
    * positions are engine-exact. */
  private val shuffleExportSql: String =
    s"""WITH h AS (SELECT doc_id,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hh
       |  FROM documents)
       |SELECT doc_id, CAST(hh % $ShuffleExportBuckets AS BIGINT) AS bucket,
       |  CAST(row_number() OVER (PARTITION BY hh % $ShuffleExportBuckets
       |    ORDER BY hh, doc_id) AS BIGINT) AS pos
       |FROM h ORDER BY doc_id""".stripMargin

  /** CDC-apply oracle: the roundtrip target B constructed directly. */
  /** Join-view oracle: the DIRECT rejoin of the mutated snapshots — the
    * incremental maintenance plan must reproduce it exactly. */
  private val cdcJoinViewSql: String =
    s"""WITH u AS (SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag
       |           FROM lineitem
       |           QUALIFY count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1),
       |a1 AS (SELECT o_orderkey, o_custkey,
       |         CASE WHEN o_orderkey % 5 = 1 THEN o_orderstatus || '*'
       |              ELSE o_orderstatus END AS o_orderstatus
       |       FROM orders),
       |b1 AS (SELECT l_orderkey, l_linenumber,
       |         CASE WHEN l_linenumber % 4 = 2 THEN l_partkey + 1
       |              ELSE l_partkey END AS l_partkey,
       |         l_returnflag FROM u)
       |SELECT o_orderkey, l_linenumber, o_custkey, o_orderstatus,
       |       l_partkey, l_returnflag
       |FROM a1 JOIN b1 ON o_orderkey = l_orderkey
       |ORDER BY 1, 2, 5""".stripMargin

  private val cdcApplySql: String =
    """SELECT doc_id, source, n_chars + doc_id % 5 AS n_chars
      |FROM documents WHERE doc_id % 13 <> 5 ORDER BY doc_id""".stripMargin

  /** ORC-source oracle: the same rollup + order-independent checksum over
    * the parquet table — equality proves the ORC roundtrip preserved
    * every (doc_id, text) byte-for-byte and every n_chars. */
  private val sourceOrcSql: String =
    """WITH e AS (SELECT lang, n_chars,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 12))::BIGINT AS elem
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(elem) AS VARCHAR) AS checksum
      |FROM e GROUP BY lang ORDER BY lang""".stripMargin

  /** Sorted-shard manifest oracle: identical 48-bit md5 shard arithmetic,
    * the same per-shard rank window, and the same rank-tagged element sum
    * (HUGEINT-exact, emitted as VARCHAR on both sides so the integer never
    * rides a float bridge). */
  private val exportManifestSql: String =
    s"""WITH h AS (SELECT doc_id, n_chars,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % $ExportShards AS shard
       |  FROM documents),
       |r AS (SELECT shard, n_chars, doc_id,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY n_chars, doc_id) AS BIGINT) AS rank
       |  FROM h),
       |e AS (SELECT shard, n_chars,
       |  ('0x' || substr(md5(CAST(rank AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS elem
       |  FROM r)
       |SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_rows,
       |  min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars,
       |  CAST(sum(elem) AS VARCHAR) AS checksum
       |FROM e GROUP BY shard ORDER BY shard""".stripMargin

  /** Stratified-sample oracle: the same md5 bucket arithmetic as the split
    * oracle, against the same per-stratum percentage table. */
  private val stratifiedSql: String =
    """WITH b AS (SELECT lang,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS bkt
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM b
      |WHERE bkt < CASE WHEN lang = 'en' THEN 40 WHEN lang = 'de' THEN 70 ELSE 100 END
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** SCD2 oracle: one lead() window per user with the same (ts, event_id)
    * tie order; integral micros, no value arithmetic at all. */
  private val cdcScd2Sql: String =
    """WITH h AS (SELECT user_id, event_id, epoch_us(ts) t FROM events)
      |SELECT user_id, event_id, t AS valid_from_us,
      |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to_us,
      |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL AS is_current
      |FROM h ORDER BY user_id, valid_from_us, event_id""".stripMargin

  /** Snapshot-diff oracle: the same slice arithmetic, md5 content hashes,
    * full-outer key join, unique-hash rename pairing, and anti-join
    * fallbacks — every rule engine-mirrorable by construction. */
  private val corpusDiffSql: String =
    """WITH a AS (SELECT doc_id id,
      |        md5(CASE WHEN text IS NULL THEN 'N' ELSE 'V' || text END) h
      |      FROM documents WHERE doc_id % 10 <> 7),
      |b AS (SELECT CASE WHEN doc_id % 10 = 9 THEN doc_id + 1000000 ELSE doc_id END id,
      |        md5(CASE WHEN text IS NULL THEN 'N' ELSE
      |              'V' || CASE WHEN doc_id % 10 = 1 THEN text || ' (rev2)' ELSE text END END) h
      |      FROM documents WHERE doc_id % 10 <> 3),
      |j AS (SELECT COALESCE(a.id, b.id) id, a.h ha, b.h hb
      |      FROM a FULL OUTER JOIN b ON a.id = b.id),
      |changed AS (SELECT id, 'changed' status, CAST(NULL AS BIGINT) old_id
      |            FROM j WHERE ha IS NOT NULL AND hb IS NOT NULL AND ha <> hb),
      |leavers AS (SELECT id, ha h FROM j WHERE hb IS NULL),
      |arrivals AS (SELECT id, hb h FROM j WHERE ha IS NULL),
      |rg AS (SELECT h, count(*) nr, min(id) rid FROM leavers GROUP BY h),
      |ag AS (SELECT h, count(*) na, min(id) aid FROM arrivals GROUP BY h),
      |pairs AS (SELECT ag.aid id, rg.rid old_id FROM rg JOIN ag USING (h)
      |          WHERE rg.nr = 1 AND ag.na = 1),
      |renamed AS (SELECT id, 'renamed' status, old_id FROM pairs),
      |removed AS (SELECT l.id, 'removed' status, CAST(NULL AS BIGINT) old_id
      |            FROM leavers l LEFT JOIN pairs p ON p.old_id = l.id
      |            WHERE p.old_id IS NULL),
      |added AS (SELECT ar.id, 'added' status, CAST(NULL AS BIGINT) old_id
      |          FROM arrivals ar LEFT JOIN pairs p ON p.id = ar.id
      |          WHERE p.id IS NULL)
      |SELECT id, status, old_id FROM (
      |  SELECT * FROM changed UNION ALL SELECT * FROM renamed
      |  UNION ALL SELECT * FROM removed UNION ALL SELECT * FROM added)
      |ORDER BY status, id""".stripMargin

  /** Mixture-plan oracle: identical grouping, weight rule, and IEEE op
    * order (weight·budget first, then the two divisions) — every fraction
    * is one double op on exact integers, so values match bit-for-bit. */
  private val mixturePlanCtes: String =
    s"""g AS (SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS available FROM documents GROUP BY 1),
       |w AS (SELECT *, CAST(1 + (CAST(substr(grp, 4) AS INTEGER) % 5) AS BIGINT) AS weight FROM g),
       |t AS (SELECT *, sum(weight) OVER () AS tw FROM w),
       |p AS (SELECT grp, n_docs, available, weight,
       |  CAST(weight AS DOUBLE) * $MixtureBudgetChars / CAST(tw AS DOUBLE) AS desired_size,
       |  CAST(ceil(CAST(weight AS DOUBLE) * $MixtureBudgetChars / CAST(tw AS DOUBLE)
       |            / CAST(available AS DOUBLE)) AS BIGINT) AS epochs,
       |  CAST(weight AS DOUBLE) * $MixtureBudgetChars / CAST(tw AS DOUBLE)
       |    / CAST(available AS DOUBLE) AS rate
       |  FROM t)""".stripMargin

  private val mixturePlanSql: String =
    s"""WITH $mixturePlanCtes
       |SELECT grp AS source, n_docs, available, weight, desired_size, epochs,
       |  CASE WHEN epochs = 0 THEN 0.0 ELSE rate / CAST(epochs AS DOUBLE) END AS per_epoch_rate
       |FROM p ORDER BY source""".stripMargin

  /** The portable epoch hash in DuckDB: 48-bit md5 prefix of
    * "<seed>:<id>" — the exact mirror of TrainOrder's md5 family. */
  private def epochHashSql(seed: Long, idExpr: String): String =
    s"('0x' || substr(md5('$seed:' || CAST($idExpr AS VARCHAR)), 1, 12))::BIGINT"

  private val trainOrderSql: String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(7, "doc_id")} AS hv FROM documents)
       |SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
       |FROM h ORDER BY shard, pos""".stripMargin

  private val trainInterleaveSql: String =
    s"""WITH h AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS source,
       |    CASE WHEN doc_id % 2 = 0 THEN 2.0 ELSE 1.0 END AS w,
       |    doc_id, ${epochHashSql(3, "doc_id")} AS hv
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, CAST(hv % 4 AS BIGINT) AS shard,
       |    row_number() OVER (PARTITION BY source, hv % 4 ORDER BY hv, doc_id) AS spos, w
       |  FROM h)
       |SELECT source, doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY spos / CAST(w AS DOUBLE), source, doc_id) AS BIGINT) AS pos
       |FROM ranked ORDER BY shard, pos""".stripMargin

  /** [[trainInterleaveSql]] with a payload column riding along: DuckDB
    * computes the same interleave and carries `payload` from the source
    * row, mirroring the payload-through-the-shuffle contract of
    * writeInterleavedShards/interleaveRows. ONE mirror definition shared
    * by the shards, resume (both), manifest, and budget-prefix oracles.
    * `spos / CAST(w AS DOUBLE)` keeps the stretch axis in double like the
    * Scala side (a DECIMAL division could round ties differently). */
  private def trainInterleaveMirror(payload: String): String =
    s"""WITH h AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS source,
       |    CASE WHEN doc_id % 2 = 0 THEN 2.0 ELSE 1.0 END AS w,
       |    doc_id, $payload, ${epochHashSql(3, "doc_id")} AS hv
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, $payload, CAST(hv % 4 AS BIGINT) AS shard,
       |    row_number() OVER (PARTITION BY source, hv % 4 ORDER BY hv, doc_id) AS spos, w
       |  FROM h)
       |SELECT source, doc_id, $payload, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY spos / CAST(w AS DOUBLE), source, doc_id) AS BIGINT) AS pos
       |FROM ranked""".stripMargin

  private val trainInterleaveShardsSql: String =
    s"""${trainInterleaveMirror("lang")} ORDER BY shard, pos"""

  /** [[trainInterleaveShardsSql]] filtered to the resume cutoff: the
    * relational mirror of "re-serve only what the crashed run had not
    * trained" — pos > 100 in every shard. */
  private val trainResumeSql: String =
    s"""SELECT * FROM ($trainInterleaveShardsSql) WHERE pos > 100
       |ORDER BY shard, pos""".stripMargin

  /** [[trainInterleaveShardsSql]] under the RAGGED frontier — each shard
    * its own cutoff, the finished shard 1 absent entirely: the relational
    * mirror of the per-shard `shard = k AND pos > p_k` disjunction the
    * Map-frontier resume compiles. */
  private val trainResumeRaggedSql: String =
    s"""SELECT * FROM ($trainInterleaveShardsSql)
       |WHERE (shard = 0 AND pos > 20) OR (shard = 2 AND pos > 0)
       |   OR (shard = 3 AND pos > 5)
       |ORDER BY shard, pos""".stripMargin

  /** The landed manifest's content, recomputed relationally: per-shard
    * row count and max pos over the interleave mirror. */
  private val trainManifestSql: String =
    s"""SELECT shard, count(*) AS n_rows, max(pos) AS max_pos
       |FROM ($trainInterleaveShardsSql)
       |GROUP BY shard ORDER BY shard""".stripMargin

  /** Epoch-count interleave mirror: replication via `range(0, ceil(e))`,
    * the fractional replica kept when the 48-bit keep-hash (salt
    * `<seed>:keep:`) clears `round(0.5 * 2^48)` — the exact threshold
    * [[graft.operators.TrainOrder.replicate]] computes for e = 2.5 —
    * then the interleave windows on `rep_id` with the co-finish weight
    * `n` (the source's GLOBAL replicated count — per-shard rank/n packs
    * each source's density proportional to its total, so sources
    * exhaust together up to hash balance). */
  private val trainEpochsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS source,
       |    CASE WHEN doc_id % 2 = 0 THEN 2.5 ELSE 1.0 END AS e
       |  FROM documents),
       |reps AS (
       |  SELECT base.*, unnest(range(0, CAST(ceil(e) AS BIGINT))) AS rep
       |  FROM base),
       |kept AS (
       |  SELECT * FROM reps
       |  WHERE rep < CAST(floor(e) AS BIGINT)
       |     OR ('0x' || substr(md5('5:keep:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
       |        < ${math.round(0.5 * (1L << 48).toDouble)}),
       |cnt AS (SELECT source, count(*) AS n FROM kept GROUP BY 1),
       |h AS (
       |  SELECT kept.*, cnt.n,
       |    CAST(doc_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR) AS rep_id
       |  FROM kept JOIN cnt USING (source)),
       |h2 AS (SELECT h.*, ${epochHashSql(5, "rep_id")} AS hv FROM h),
       |ranked AS (
       |  SELECT source, doc_id, rep, lang, rep_id, n,
       |    CAST(hv % 4 AS BIGINT) AS shard,
       |    row_number() OVER (PARTITION BY source, hv % 4
       |      ORDER BY hv, rep_id) AS spos
       |  FROM h2)
       |SELECT source, doc_id, CAST(rep AS BIGINT) AS rep, lang, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY spos / CAST(n AS DOUBLE), source, rep_id) AS BIGINT) AS pos
       |FROM ranked ORDER BY shard, pos""".stripMargin

  /** Curriculum mirror: the identical comparison-count tier rule (NULL →
    * last tier) and the (tier, hash, id) window within each shard. */
  private val trainCurriculumSql: String =
    s"""WITH h AS (SELECT doc_id, n_chars, ${epochHashSql(11, "doc_id")} AS hv
       |           FROM documents),
       |t AS (SELECT doc_id,
       |  CAST(CASE WHEN n_chars IS NULL THEN 2 ELSE
       |    (CASE WHEN n_chars > 180.0 THEN 1 ELSE 0 END) +
       |    (CASE WHEN n_chars > 420.0 THEN 1 ELSE 0 END) END AS INTEGER) AS tier,
       |  CAST(hv % 8 AS BIGINT) AS shard, hv FROM h)
       |SELECT doc_id, tier, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY tier, hv, doc_id) AS BIGINT) AS pos
       |FROM t ORDER BY shard, pos""".stripMargin

  /** Temperature-mixture mirror: the identical float algebra — sqrt
    * weights, sorted-tag list_sum normalizer, left-associated epochs
    * expression, least() cap. */
  private val trainTemperatureSql: String =
    s"""WITH n AS (SELECT CASE WHEN doc_id % 10 = 0 THEN 'rare'
       |    ELSE 'common' END AS source,
       |    CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
       |z AS (SELECT list_sum(list(sqrt(CAST(n AS DOUBLE))
       |    ORDER BY source)) AS z FROM n)
       |SELECT source, n,
       |  least(4.0, sqrt(CAST(n AS DOUBLE)) / z.z * 2000.0
       |    / CAST(n AS DOUBLE)) AS epochs
       |FROM n, z ORDER BY source""".stripMargin

  /** Quantile-curriculum mirror: boundaries via ANSI percentile_disc at
    * the cumulative interior fractions (0.25, 0.75), then the identical
    * tier CASE + per-shard window. */
  private val trainCurriculumQuantilesSql: String =
    s"""WITH b AS (SELECT
       |    percentile_disc(0.25) WITHIN GROUP (
       |      ORDER BY CAST(n_chars AS DOUBLE)) AS b1,
       |    percentile_disc(0.75) WITHIN GROUP (
       |      ORDER BY CAST(n_chars AS DOUBLE)) AS b2
       |  FROM documents WHERE n_chars IS NOT NULL),
       |h AS (SELECT doc_id, n_chars, ${epochHashSql(17, "doc_id")} AS hv
       |      FROM documents),
       |t AS (SELECT doc_id,
       |  CAST(CASE WHEN n_chars IS NULL THEN 2 ELSE
       |    (CASE WHEN CAST(n_chars AS DOUBLE) > b.b1 THEN 1 ELSE 0 END) +
       |    (CASE WHEN CAST(n_chars AS DOUBLE) > b.b2 THEN 1 ELSE 0 END)
       |    END AS INTEGER) AS tier,
       |  CAST(hv % 8 AS BIGINT) AS shard, hv FROM h, b)
       |SELECT doc_id, tier, shard,
       |  CAST(row_number() OVER (PARTITION BY shard
       |    ORDER BY tier, hv, doc_id) AS BIGINT) AS pos
       |FROM t ORDER BY shard, pos""".stripMargin

  /** Budget-prefix mirror: a running token sum over the interleave mirror
    * in the operator's (pos, shard) lexicographic consumption order,
    * filtered to the budget — the cumulative sum is monotone (tokens are
    * non-negative), so `run <= budget` IS the maximal prefix, boundary
    * shards included exactly as the operator's remainder rule spends
    * them. */
  private val trainBudgetPrefixSql: String =
    s"""SELECT source, doc_id, shard, pos FROM (
       |  SELECT s.*, sum(COALESCE(CAST(n_chars AS BIGINT), 0)) OVER (
       |      ORDER BY pos, shard ROWS UNBOUNDED PRECEDING) AS run
       |  FROM (${trainInterleaveMirror("n_chars")}) s)
       |WHERE run <= 60000 ORDER BY shard, pos""".stripMargin

  /** Preference-pair oracle: the identical rank/anti-rank windows (the
    * bottom ordering is the exact reverse of the top ordering, so the
    * worst rank is n+1−rt), non-crossing guard, and margin filter. */
  private val prefPairsSql: String =
    """WITH r AS (
      |  SELECT doc_id % 50 AS prompt, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY doc_id % 50
      |      ORDER BY n_chars DESC, doc_id) AS rt,
      |    count(doc_id) OVER (PARTITION BY doc_id % 50) AS n
      |  FROM documents),
      |c AS (SELECT prompt, CAST(rt AS BIGINT) AS pair_rank,
      |        doc_id AS chosen_id, n_chars AS chosen_score
      |      FROM r WHERE rt <= 2 AND rt * 2 <= n),
      |j AS (SELECT prompt, CAST(n + 1 - rt AS BIGINT) AS pair_rank,
      |        doc_id AS rejected_id, n_chars AS rejected_score
      |      FROM r WHERE (n + 1 - rt) <= 2 AND (n + 1 - rt) * 2 <= n)
      |SELECT prompt, pair_rank, chosen_id, chosen_score,
      |  rejected_id, rejected_score,
      |  CAST(chosen_score AS DOUBLE) - CAST(rejected_score AS DOUBLE) AS gap
      |FROM c JOIN j USING (prompt, pair_rank)
      |WHERE CAST(chosen_score AS DOUBLE) - CAST(rejected_score AS DOUBLE) >= 40.0
      |ORDER BY prompt, pair_rank""".stripMargin

  /** Group-advantage oracle: long moments, then the same fixed-order float
    * expressions — mean once, std from ss/n − mean·mean clamped at 0. */
  private val groupAdvantageSql: String =
    """WITH s AS (SELECT doc_id, doc_id % 50 AS grp, n_chars,
      |    count(CAST(n_chars AS BIGINT)) OVER (PARTITION BY doc_id % 50) AS n,
      |    sum(CAST(n_chars AS BIGINT)) OVER (PARTITION BY doc_id % 50) AS sm,
      |    sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
      |      OVER (PARTITION BY doc_id % 50) AS ss
      |  FROM documents),
      |m AS (SELECT doc_id, grp, n_chars,
      |    CAST(sm AS DOUBLE) / n AS group_mean,
      |    sqrt(greatest(CAST(ss AS DOUBLE) / n
      |      - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n), 0.0)) AS group_std
      |  FROM s)
      |SELECT doc_id, grp, n_chars, group_mean, group_std,
      |  CASE WHEN n_chars IS NULL THEN NULL
      |       WHEN group_std > 0 THEN (CAST(n_chars AS DOUBLE) - group_mean) / group_std
      |       ELSE 0.0 END AS advantage
      |FROM m ORDER BY doc_id""".stripMargin

  /** Win-matrix oracle: the same prompt self-join under model_a < model_b
    * with NULL-score comparisons skipped, integer counts + one division. */
  private val winMatrixSql: String =
    """WITH r AS (SELECT doc_id % 25 AS prompt,
      |    'm' || CAST(doc_id % 4 AS VARCHAR) AS model,
      |    CAST(n_chars AS DOUBLE) AS s FROM documents)
      |SELECT a.model AS model_a, b.model AS model_b,
      |  count(CASE WHEN a.s > b.s THEN 1 END) AS wins_a,
      |  count(CASE WHEN b.s > a.s THEN 1 END) AS wins_b,
      |  count(CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL AND a.s = b.s
      |        THEN 1 END) AS ties,
      |  count(CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL THEN 1 END) AS n,
      |  CASE WHEN count(CASE WHEN a.s > b.s THEN 1 END)
      |          + count(CASE WHEN b.s > a.s THEN 1 END) > 0
      |       THEN CAST(count(CASE WHEN a.s > b.s THEN 1 END) AS DOUBLE)
      |            / (count(CASE WHEN a.s > b.s THEN 1 END)
      |               + count(CASE WHEN b.s > a.s THEN 1 END))
      |       END AS win_rate_a
      |FROM r a JOIN r b ON a.prompt = b.prompt AND a.model < b.model
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Bradley–Terry oracle: the win matrix's both-orientation pair list,
    * then 8 unrolled MM iterations as MATERIALIZED CTEs (the r11 lesson:
    * un-materialized iteration CTEs double the evaluation tree per round)
    * with every float sum as `list_sum(list(x ORDER BY j))` — the exact
    * sorted-opponent fold order the driver-side Scala iteration uses, so
    * the strengths match bit-for-bit. */
  private val bradleyTerrySql: String = {
    val base =
      """WITH r AS (SELECT doc_id % 25 AS prompt,
        |    'm' || CAST(doc_id % 4 AS VARCHAR) AS model,
        |    CAST(n_chars AS DOUBLE) AS s FROM documents),
        |m AS MATERIALIZED (SELECT a.model AS ma, b.model AS mb,
        |  count(CASE WHEN a.s > b.s THEN 1 END) AS wa,
        |  count(CASE WHEN b.s > a.s THEN 1 END) AS wb,
        |  count(CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL AND a.s = b.s
        |        THEN 1 END) AS t,
        |  count(CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL THEN 1 END) AS n
        | FROM r a JOIN r b ON a.prompt = b.prompt AND a.model < b.model
        | GROUP BY 1, 2),
        |p AS MATERIALIZED (
        |  SELECT ma AS i, mb AS j, CAST(n AS DOUBLE) AS n FROM m WHERE n > 0
        |  UNION ALL SELECT mb, ma, CAST(n AS DOUBLE) FROM m WHERE n > 0),
        |w AS MATERIALIZED (SELECT i AS model,
        |    list_sum(list(wi ORDER BY j)) AS wins,
        |    CAST(list_sum(list(g ORDER BY j)) AS BIGINT) AS games FROM (
        |    SELECT ma AS i, mb AS j, wa + 0.5 * t AS wi, n AS g FROM m
        |    UNION ALL SELECT mb, ma, wb + 0.5 * t, n FROM m) GROUP BY 1),
        |it0 AS MATERIALIZED (SELECT DISTINCT i AS model, 1.0 AS s FROM p)""".stripMargin
    val its = (1 to 8).map { k =>
      val prev = if (k == 1) "it0" else s"it${k - 1}"
      s"""raw$k AS MATERIALIZED (SELECT w.model, w.wins / d.d AS s FROM w JOIN (
         |    SELECT p.i AS model,
         |      list_sum(list(p.n / (si.s + sj.s) ORDER BY p.j)) AS d
         |    FROM p JOIN $prev si ON si.model = p.i
         |           JOIN $prev sj ON sj.model = p.j
         |    GROUP BY p.i) d USING (model)),
         |it$k AS MATERIALIZED (SELECT model,
         |  s / (SELECT list_sum(list(s ORDER BY model)) FROM raw$k) AS s
         |  FROM raw$k)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$its
       |SELECT it8.model, it8.s AS strength, w.wins, w.games
       |FROM it8 JOIN w USING (model) ORDER BY model""".stripMargin
  }

  /** Discounted-returns oracle: the identical 16 lead taps, all-integer. */
  private val rlReturnsSql: String = {
    val taps = (0 until 16).map(j =>
      s"COALESCE(lead(reward_c, $j) OVER w, 0) * ${1L << (15 - j)}")
      .mkString(" + ")
    s"""WITH r AS (SELECT user_id, event_id, ts,
       |    CAST(round(value * 100) AS BIGINT) AS reward_c FROM events),
       |g AS (SELECT user_id, event_id, reward_c,
       |    CAST(row_number() OVER w AS BIGINT) AS step,
       |    $taps AS return_scaled
       |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, event_id, step, reward_c, return_scaled,
       |  CAST(return_scaled AS DOUBLE) / 32768.0 AS return_x
       |FROM g ORDER BY user_id, step""".stripMargin
  }

  /** γ=3/4 oracle: the same tap construction with weights 3^j·4^(15−j)
    * and the 2^30 dyadic scale. */
  private val rlReturnsGammaSql: String = {
    val taps = (0 until 16).map(j =>
      s"COALESCE(lead(reward_c, $j) OVER w, 0) * " +
        (BigInt(3).pow(j) * BigInt(2).pow(2 * (15 - j))).toString)
      .mkString(" + ")
    s"""WITH r AS (SELECT user_id, event_id, ts,
       |    CAST(round(value * 100) AS BIGINT) AS reward_c FROM events),
       |g AS (SELECT user_id, event_id, reward_c,
       |    CAST(row_number() OVER w AS BIGINT) AS step,
       |    $taps AS return_scaled
       |  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id, event_id, step, reward_c, return_scaled,
       |  CAST(return_scaled AS DOUBLE) / 1073741824.0 AS return_x
       |FROM g ORDER BY user_id, step""".stripMargin
  }

  private val mixtureSampleSql: String =
    s"""WITH $mixturePlanCtes,
       |r AS (SELECT grp, epochs,
       |  CAST(floor(CASE WHEN epochs = 0 THEN 0.0
       |       ELSE rate / CAST(epochs AS DOUBLE) END * 10000 + 0.5) AS BIGINT) AS thr
       |  FROM p WHERE epochs >= 1),
       |eps AS (SELECT grp, thr, unnest(range(1, epochs + 1)) AS epoch FROM r),
       |e AS (SELECT d.doc_id, d.source, eps.epoch, eps.thr
       |      FROM documents d JOIN eps ON eps.grp = d.source)
       |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM e
       |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)), 1, 12))::BIGINT
       |      % 10000 < thr
       |ORDER BY doc_id, epoch""".stripMargin

  /** Equi-depth histogram oracle: decile boundaries spelled out as the
    * same cume_dist min-selection, bucket = the identical comparison
    * count. */
  /** Range-sharded export oracle: the same percentile_disc boundary rule
    * (cume_dist mirror, as in the equi-depth histogram oracle), the same
    * comparison-count shard assignment, and a per-shard row_number under
    * (key, id). */
  private val exportRangeSql: String = {
    val shards = 8
    val bSubqs = (1 until shards).map { i =>
      s"""(SELECT min(v) FROM (
         |   SELECT CAST(n_chars AS DOUBLE) v,
         |     cume_dist() OVER (ORDER BY CAST(n_chars AS DOUBLE)) cd
         |   FROM documents WHERE n_chars IS NOT NULL)
         |  WHERE cd >= ${i.toDouble / shards}) b$i""".stripMargin
    }.mkString(",\n")
    val shardExpr = (1 until shards)
      .map(i => s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH vals AS (SELECT doc_id, CAST(n_chars AS DOUBLE) v FROM documents
       |              WHERE n_chars IS NOT NULL),
       |b AS (SELECT
       |$bSubqs),
       |a AS (SELECT doc_id, v, CAST($shardExpr AS BIGINT) shard FROM vals, b)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY v, doc_id) AS BIGINT) AS pos
       |FROM a ORDER BY doc_id""".stripMargin
  }

  /** String-keyed range-shard oracle: the numeric mirror's percentile
    * device (cume_dist min-selection) over VARCHAR — DuckDB's min/compare
    * on VARCHAR is binary order, matching Spark's — then the same
    * comparison-count shard assignment and per-shard (key, id)
    * row_number. */
  private val exportRangeStrSql: String = {
    val shards = 8
    val bSubqs = (1 until shards).map { i =>
      s"""(SELECT min(v) FROM (
         |   SELECT source || '#' || CAST(doc_id AS VARCHAR) v,
         |     cume_dist() OVER (ORDER BY source || '#' || CAST(doc_id AS VARCHAR)) cd
         |   FROM documents
         |   WHERE source || '#' || CAST(doc_id AS VARCHAR) IS NOT NULL)
         |  WHERE cd >= ${i.toDouble / shards}) b$i""".stripMargin
    }.mkString(",\n")
    val shardExpr = (1 until shards)
      .map(i => s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH vals AS (SELECT doc_id, source || '#' || CAST(doc_id AS VARCHAR) v
       |              FROM documents
       |              WHERE source || '#' || CAST(doc_id AS VARCHAR) IS NOT NULL),
       |b AS (SELECT
       |$bSubqs),
       |a AS (SELECT doc_id, v, CAST($shardExpr AS BIGINT) shard FROM vals, b)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY v, doc_id) AS BIGINT) AS pos
       |FROM a ORDER BY doc_id""".stripMargin
  }

  private val profileHistogramDepthSql: String = {
    val bSubqs = (1 until 10).map { i =>
      s"""(SELECT min(v) FROM (
         |   SELECT CAST(l_extendedprice AS DOUBLE) v,
         |     cume_dist() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) cd
         |   FROM lineitem WHERE l_extendedprice IS NOT NULL)
         |  WHERE cd >= ${i.toDouble / 10}) b$i""".stripMargin
    }.mkString(",\n")
    val bucketExpr = (1 until 10)
      .map(i => s"(CASE WHEN v > b$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH vals AS (SELECT CAST(l_extendedprice AS DOUBLE) v FROM lineitem
       |             WHERE l_extendedprice IS NOT NULL),
       |b AS (SELECT
       |$bSubqs),
       |a AS (SELECT v, CAST($bucketExpr AS BIGINT) bucket FROM vals, b)
       |SELECT bucket, CAST(count(*) AS BIGINT) n, min(v) min_v, max(v) max_v
       |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Numeric-profile oracle: percentile_disc is ANSI "smallest value whose
    * cumulative distribution reaches p", mirrored literally via cume_dist
    * (DuckDB's own quantile_disc uses a different index rule, so the
    * definition is spelled out instead). Order statistics are exact —
    * no float interpolation to diverge. */
  private val numericProfileSql: String = {
    val ps = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75")
    val perCol = NumProfileCols.map { c =>
      val pexprs = ps.map { case (p, nm) =>
        s"""(SELECT min(v) FROM (
           |  SELECT CAST($c AS DOUBLE) v,
           |    cume_dist() OVER (ORDER BY CAST($c AS DOUBLE)) cd
           |  FROM lineitem WHERE $c IS NOT NULL) WHERE cd >= $p) AS $nm""".stripMargin
      }.mkString(",\n  ")
      s"""SELECT '$c' AS "column",
         |  (SELECT CAST(count(*) - count($c) AS BIGINT) FROM lineitem) AS n_nulls,
         |  (SELECT min(CAST($c AS DOUBLE)) FROM lineitem) AS min,
         |  (SELECT max(CAST($c AS DOUBLE)) FROM lineitem) AS max,
         |  $pexprs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$perCol
       |ORDER BY "column"""".stripMargin
  }

  /** IQR-outlier oracle: the numeric-profile percentile device (cume_dist
    * min-selection = percentile_disc) + the same fence double ops +
    * correlated beyond-fence counts. */
  private val profileOutliersSql: String = {
    val perCol = NumProfileCols.map { c =>
      def pexpr(p: Double) =
        s"""(SELECT min(v) FROM (SELECT CAST($c AS DOUBLE) v,
           |     cume_dist() OVER (ORDER BY CAST($c AS DOUBLE)) cd
           |     FROM lineitem WHERE $c IS NOT NULL) WHERE cd >= $p)"""
          .stripMargin
      s"""SELECT '$c' AS "column", p25, p75,
         |  p25 - 1.5 * (p75 - p25) AS lo_fence,
         |  p75 + 1.5 * (p75 - p25) AS hi_fence,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
         |     WHERE CAST($c AS DOUBLE) < p25 - 1.5 * (p75 - p25)) AS n_below,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
         |     WHERE CAST($c AS DOUBLE) > p75 + 1.5 * (p75 - p25)) AS n_above
         |FROM (SELECT ${pexpr(0.25)} AS p25, ${pexpr(0.75)} AS p75)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$perCol
       |ORDER BY "column"""".stripMargin
  }

  private val annTopKMultiSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
      |scored AS (SELECT q.qid, e.vec_id, list_cosine_similarity(e.v, q.qv) c
      |           FROM e CROSS JOIN q),
      |ranked AS (SELECT qid AS query_id,
      |  CAST(row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS BIGINT) AS rank,
      |  vec_id FROM scored)
      |SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  private val annTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |q AS (SELECT v FROM e WHERE vec_id = 0),
      |scored AS (SELECT e.vec_id, list_cosine_similarity(e.v, (SELECT v FROM q)) c FROM e)
      |SELECT CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rank, vec_id
      |FROM scored ORDER BY c DESC, vec_id LIMIT 20""".stripMargin

  /** Random-projection ANN oracle: the 16 projection dots expanded with
    * literal plane weights in array order (the cosine-LSH discipline), the
    * projected query as the SAME left-assoc sums over the vec_id=0 row,
    * the squared-distance accumulation in plane order — so the top-100
    * candidate BOUNDARY is bit-identical — then the explicit dot/norm
    * cosine rerank (alignSqlFor's form, not list_cosine_similarity, so
    * even near-tied cosines cannot flip rank). */
  private val annRpSql: String = {
    val dim = EmbeddingDim
    def proj(v: String, g: Int): String =
      Ann.planeVector(g, dim).zipWithIndex
        .map { case (w, d) => s"$v[${d + 1}] * $w" }.mkString("(", " + ", ")")
    def dotSum(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    val qpCols = (0 until RpProjDim)
      .map(j => s"${proj("v", RpPlaneOffset + j)} AS p$j").mkString(", ")
    val pdExpr = (0 until RpProjDim)
      .map { j =>
        val pj = proj("e.v", RpPlaneOffset + j)
        s"($pj - qp.p$j) * ($pj - qp.p$j)"
      }
      .mkString("(", " + ", ")")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |q AS (SELECT v FROM e WHERE vec_id = 0),
       |qp AS (SELECT $qpCols FROM q),
       |cand AS (SELECT e.vec_id, e.v FROM e, qp
       |         ORDER BY $pdExpr, e.vec_id LIMIT $RpCandidates),
       |qn AS (SELECT sqrt(${dotSum("v", "v")}) nrm FROM q),
       |scored AS (SELECT cd.vec_id,
       |    CASE WHEN sqrt(${dotSum("cd.v", "cd.v")}) * qn.nrm = 0 THEN 0.0
       |         ELSE ${dotSum("cd.v", "q.v")} / (sqrt(${dotSum("cd.v", "cd.v")}) * qn.nrm) END cs
       |  FROM cand cd, q, qn)
       |SELECT CAST(row_number() OVER (ORDER BY cs DESC, vec_id) AS BIGINT) AS rank, vec_id
       |FROM scored ORDER BY cs DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Trained-IVF oracle: the whole [[annIvfTrained]] pipeline unrolled as
    * CTEs — md5 hash sample (the splitCounts mirror), k lowest-id init,
    * two Lloyd iterations (fixed-order left-assoc distance sums, argmin
    * ties to the smaller cluster, per-dimension DECIMAL(38,12) sums with
    * the decimal→VARCHAR→DOUBLE bridge, empty clusters keep their
    * centroid), then the query's probe-cluster selection (Σ(cᵢ−qᵢ)² in
    * array order, ties to the smaller index) and the cosine ranking over
    * the probed members. Output is (rank, vec_id) — rank gaps ≫ ulp, the
    * q_ann_topk discipline. */
  private val annIvfTrainedSql: String = {
    val dim = EmbeddingDim
    val k = 4
    val nprobe = 2
    val iters = 2
    def dotL(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    def c2(cv: String): String =
      (1 to dim).map(i => s"$cv[$i] * $cv[$i]").mkString("(", " + ", ")")
    def qd(cv: String, qv: String): String =
      (1 to dim).map(i => s"($cv[$i] - $qv[$i]) * ($cv[$i] - $qv[$i])")
        .mkString("(", " + ", ")")
    val sums = (1 to dim)
      .map(i => s"SUM(CAST(v[$i] AS DECIMAL(38,12))) AS s$i").mkString(", ")
    def centList(a: String): String = "[" + (1 to dim)
      .map(i => s"CAST(CAST($a.s$i AS VARCHAR) AS DOUBLE) / $a.n")
      .mkString(", ") + "]"
    val iterCtes = (1 to iters).map { i =>
      s"""asg$i AS (SELECT t.vec_id, t.v, c.cluster,
         |    (${c2("c.cv")}) - 2.0 * ${dotL("t.v", "c.cv")} AS d
         |  FROM train t CROSS JOIN cent${i - 1} c),
         |a$i AS (SELECT vec_id, v, cluster FROM asg$i
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
         |s$i AS (SELECT cluster, CAST(count(*) AS BIGINT) n, $sums
         |  FROM a$i GROUP BY cluster),
         |cent$i AS (SELECT c0.cluster,
         |    CASE WHEN s.n IS NULL OR s.n = 0 THEN c0.cv
         |         ELSE ${centList("s")} END AS cv
         |  FROM cent${i - 1} c0 LEFT JOIN s$i s USING (cluster))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |train AS (SELECT vec_id, v FROM e
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12))::BIGINT % 10000 < 2500),
       |cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cluster,
       |    v AS cv
       |  FROM train QUALIFY row_number() OVER (ORDER BY vec_id) <= $k),
       |$iterCtes,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |pd AS (SELECT c.cluster, ${qd("c.cv", "q.qv")} AS d FROM cent$iters c, q),
       |probe AS (SELECT cluster FROM pd
       |  QUALIFY row_number() OVER (ORDER BY d, cluster) <= $nprobe),
       |asgf AS (SELECT e.vec_id, e.v, c.cluster,
       |    (${c2("c.cv")}) - 2.0 * ${dotL("e.v", "c.cv")} AS d
       |  FROM e CROSS JOIN cent$iters c),
       |af AS (SELECT vec_id, v, cluster FROM asgf
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1),
       |probed AS (SELECT af.vec_id, af.v FROM af JOIN probe USING (cluster)),
       |scored AS (SELECT vec_id,
       |    list_cosine_similarity(v, (SELECT qv FROM q)) c FROM probed)
       |SELECT CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rank, vec_id
       |FROM scored ORDER BY c DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Filtered-ANN oracle: q_ann_topk's exact ranking restricted to the
    * label slice (the query vector still comes from the full table). */
  private val annFilteredSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
       |q AS (SELECT v FROM e WHERE vec_id = 0),
       |scored AS (SELECT e.vec_id, list_cosine_similarity(e.v, (SELECT v FROM q)) c
       |           FROM e WHERE label IN (${AnnFilterLabels.mkString(", ")}))
       |SELECT CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rank, vec_id
       |FROM scored ORDER BY c DESC, vec_id LIMIT 20""".stripMargin

  /** kNN-classification oracle: exact top-k per query (self excluded, the
    * heap's (cosine desc, id asc) tie rule), vote counts, argmax with the
    * smaller label winning ties. */
  private val annKnnSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
       |scored AS (SELECT q.query_id, e.vec_id, e.label,
       |    list_cosine_similarity(e.v, q.qv) c
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY c DESC, vec_id) rn FROM scored),
       |votes AS (SELECT query_id, CAST(label AS BIGINT) AS label,
       |    CAST(count(*) AS BIGINT) AS votes
       |  FROM ranked WHERE rn <= $KnnK GROUP BY 1, 2)
       |SELECT query_id, label AS predicted_label, votes
       |FROM votes QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY votes DESC, label) = 1
       |ORDER BY query_id""".stripMargin

  /** Quantized-ANN oracle: the same max-abs/127 scale, the same
    * floor(x/s + 0.5) rounding (round() diverges half-even/half-away across
    * engines; floor(+0.5) doesn't), and integer dot products — exact in
    * double at dim=64, so the ranking is bit-stable by construction. */
  private val annTopKQuantizedSql: String = {
    val dim = EmbeddingDim
    def dotSum(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 sc FROM e),
       |q AS (SELECT e.vec_id,
       |  CASE WHEN sc = 0 THEN list_transform(v, x -> 0)
       |       ELSE list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x / sc + 0.5))) AS INT)) END qv
       |  FROM e JOIN s ON s.vec_id = e.vec_id),
       |n AS (SELECT vec_id, qv, sqrt(${dotSum("qv", "qv")}) nrm FROM q),
       |t AS (SELECT qv tq, nrm tn FROM n WHERE vec_id = 0),
       |scored AS (SELECT n.vec_id,
       |  CASE WHEN n.nrm * t.tn = 0 THEN 0.0
       |       ELSE ${dotSum("n.qv", "t.tq")} / (n.nrm * t.tn) END c
       |  FROM n CROSS JOIN t)
       |SELECT CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rank, vec_id
       |FROM scored ORDER BY c DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Retrieval-metrics oracle: exact-cosine truth and int8-quantized
    * retrieval both ranked with the explicit left-assoc dot/norm sums
    * (bit-identical cosines — the alignment-oracle discipline; the
    * quantized CTEs are the q_ann_topk_quantized mirror restricted per
    * side), per-query row_number with the heap's (c desc, id) tie rule,
    * then the exact integer hit counts and `scale DIV first_rank`. */
  private val annMrrCoreSql: String = {
    val dim = EmbeddingDim
    def dotSum(va: String, vb: String): String =
      (1 to dim).map(i => s"$va[$i] * $vb[$i]").mkString("(", " + ", ")")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |cn AS (SELECT vec_id, v, sqrt(${dotSum("v", "v")}) nrm FROM e WHERE vec_id % 32 <> 0),
       |qn AS (SELECT vec_id qid, v qv, sqrt(${dotSum("v", "v")}) qnrm FROM e WHERE vec_id % 32 = 0),
       |ts AS (SELECT qn.qid, cn.vec_id,
       |         CASE WHEN cn.nrm * qn.qnrm = 0 THEN 0.0
       |              ELSE ${dotSum("cn.v", "qn.qv")} / (cn.nrm * qn.qnrm) END cs
       |       FROM cn CROSS JOIN qn),
       |truth AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) rk
       |    FROM ts) WHERE rk <= 10),
       |s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 sc FROM e),
       |z AS (SELECT e.vec_id,
       |        CASE WHEN sc = 0 THEN list_transform(v, x -> 0)
       |             ELSE list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x / sc + 0.5))) AS INT)) END qv
       |      FROM e JOIN s USING (vec_id)),
       |zc AS (SELECT vec_id, qv, sqrt(${dotSum("qv", "qv")}) nrm FROM z WHERE vec_id % 32 <> 0),
       |zq AS (SELECT vec_id qid, qv qqv, sqrt(${dotSum("qv", "qv")}) qnrm FROM z WHERE vec_id % 32 = 0),
       |rs AS (SELECT zq.qid, zc.vec_id,
       |         CASE WHEN zc.nrm * zq.qnrm = 0 THEN 0.0
       |              ELSE ${dotSum("zc.qv", "zq.qqv")} / (zc.nrm * zq.qnrm) END cs
       |       FROM zc CROSS JOIN zq),
       |retr AS (SELECT qid, vec_id, rk FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) rk
       |    FROM rs) WHERE rk <= 10),
       |hits AS (SELECT r.qid, CAST(count(*) AS BIGINT) nh, CAST(min(r.rk) AS BIGINT) fr
       |         FROM retr r JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
       |         GROUP BY r.qid),
       |nt AS (SELECT qid, CAST(count(*) AS BIGINT) n_truth FROM truth GROUP BY qid)
       |SELECT nt.qid AS query_id, nt.n_truth,
       |  COALESCE(h.nh, 0) AS n_hits,
       |  COALESCE(h.fr, 0) AS first_rank,
       |  CAST(CASE WHEN h.fr IS NULL THEN 0 ELSE 1000000000000 // h.fr END AS BIGINT) AS rr_scaled
       |FROM nt LEFT JOIN hits h ON h.qid = nt.qid""".stripMargin
  }

  private val annMrrSql: String = s"$annMrrCoreSql\nORDER BY query_id"

  /** Rollup oracle: the per-query mirror reduced with the same exact
    * integer arithmetic as [[graft.operators.Ann.retrievalSummary]] —
    * HUGEINT sums bridged to BIGINT before the integer divisions. */
  private val annRetrievalSummarySql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(n_truth) AS BIGINT) AS n_truth,
       |  CAST(sum(n_hits) AS BIGINT) AS n_hits,
       |  CAST(CASE WHEN CAST(sum(n_truth) AS BIGINT) = 0 THEN 0
       |       ELSE (1000000000000 * CAST(sum(n_hits) AS BIGINT))
       |              // CAST(sum(n_truth) AS BIGINT) END AS BIGINT) AS recall_scaled,
       |  CAST(CASE WHEN count(*) = 0 THEN 0
       |       ELSE CAST(sum(rr_scaled) AS BIGINT) // count(*) END AS BIGINT) AS mrr_scaled
       |FROM ($annMrrCoreSql) m""".stripMargin

  /** Persisted-LSH-probe oracle: per-vector 8-bit signature from the same
    * plane literals as the engine, probe set = the query vector's own
    * signature plus every 1-bit flip, exact cosine ranking within the
    * probed set — the SQL twin of partition-pruned
    * [[graft.operators.Ann.annTopKFromBucketed]]. */
  private val annLshBucketedSql: String = {
    val dim = EmbeddingDim
    def proj(v: String, globalPlane: Int): String =
      Ann.planeVector(globalPlane, dim).zipWithIndex
        .map { case (w, d) => s"$v[${d + 1}] * $w" }.mkString("(", " + ", ")")
    val sigExpr = (0 until LshBucketBits).map { p =>
      s"(CASE WHEN ${proj("v", p)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val probeCond = (Seq("p.s = q.qs") ++
      (0 until LshBucketBits).map(b => s"p.s = xor(q.qs, ${1L << b})"))
      .mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |sig AS (SELECT vec_id, $sigExpr AS s FROM e),
       |q AS (SELECT sig.s AS qs, e.v AS qv FROM sig JOIN e ON e.vec_id = sig.vec_id
       |      WHERE sig.vec_id = 0),
       |p AS (SELECT e.vec_id, e.v, sig.s FROM e JOIN sig ON sig.vec_id = e.vec_id),
       |scored AS (SELECT p.vec_id, list_cosine_similarity(p.v, q.qv) c
       |           FROM p, q WHERE $probeCond)
       |SELECT CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rank, vec_id
       |FROM scored ORDER BY c DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Semantic-dedup oracle: the same unit-normalized centroid literals, the
    * same argmin ranking (|c|² − 2·v·c with the |v|² term dropped — printed
    * with the identical operation order, so doubles agree bit-for-bit),
    * lowest-index tie-break via `list_position(dl, list_min(dl))`,
    * within-cluster cosine pairs, and the recursive-CTE component collapse
    * from the clean-corpus oracle. Only ids and cluster indices surface, so
    * ulp-level cosine differences between engines never reach the hash. */
  /** THE shared PQ oracle-SQL generators — one implementation of the
    * literal-codebook arithmetic mirrors, parameterized by which vector
    * variable carries the corpus side (`v` raw / `rv` residual) and the
    * query side (`qv` raw / `qr` residual), so the three PQ oracles are
    * provably identical in arithmetic. Encode = per-subspace argmin over
    * the same fixed-order (c² − 2·v·c) distance expressions
    * (list_position(list_min) ≡ array_position(array_min) — first index
    * on ties); ADC table = the same left-to-right Σ(q_i−c_i)² the engine
    * computes driver-side; score = the same m-ordered lookup sum. Every
    * constant rides a '…'::DOUBLE string cast (exact parse — bare float
    * literals parse as DECIMAL in DuckDB). */
  private object PqOracleGen {
    lazy val books: Seq[Seq[Seq[Double]]] = graft.operators.Pq.codebooks(
      EmbeddingDim, PqSubspaces, PqCodebookSize, PqPlaneOffset)
    lazy val cents: Seq[Seq[Double]] = graft.operators.Pq.coarseCentroids(
      EmbeddingDim, IvfPqClusters, IvfPqPlaneOffset)
    val subdim: Int = EmbeddingDim / PqSubspaces
    def dlit(x: Double): String = s"'$x'::DOUBLE"
    def centDist(v: String, c: Seq[Double]): String = {
      val c2 = c.map(x => x * x).sum
      val dot = c.zipWithIndex
        .map { case (w, i) => s"$v[${i + 1}] * ${dlit(w)}" }
        .mkString("(", " + ", ")")
      s"(${dlit(c2)} - 2.0 * $dot)"
    }
    def assignList(v: String): String =
      cents.map(centDist(v, _)).mkString("[", ",\n      ", "]")
    def qDistRows(q: String): String = cents.zipWithIndex
      .map { case (c, j) => s"SELECT $j AS j, ${centDist(q, c)} AS d FROM q" }
      .mkString("\n  UNION ALL ")
    def encList(v: String)(m: Int): String = books(m).map { c =>
      val c2 = c.map(x => x * x).sum
      val dot = c.zipWithIndex
        .map { case (w, i) => s"$v[${m * subdim + i + 1}] * ${dlit(w)}" }
        .mkString("(", " + ", ")")
      s"(${dlit(c2)} - 2.0 * $dot)"
    }.mkString("[", ",\n      ", "]")
    def dtList(q: String)(m: Int): String = books(m).map { c =>
      c.zipWithIndex.map { case (w, i) =>
        val t = s"($q[${m * subdim + i + 1}] - ${dlit(w)})"
        s"$t * $t"
      }.mkString("(", " + ", ")")
    }.mkString("[", ",\n      ", "]")
    def dlCols(v: String): String = (0 until PqSubspaces)
      .map(m => s"${encList(v)(m)} AS dl_$m").mkString(",\n  ")
    val codeCols: String = (0 until PqSubspaces)
      .map(m => s"CAST(list_position(dl_$m, list_min(dl_$m)) - 1 AS INT) AS code_$m")
      .mkString(", ")
    def adcSum(q: String): String = (0 until PqSubspaces)
      .map(m => s"(${dtList(q)(m)})[code_$m + 1]").mkString(" + ")
  }

  /** PQ-ADC oracle — see [[PqOracleGen]] for the exactness contract. */
  private val annPqSql: String = {
    import PqOracleGen._
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |dl AS (SELECT vec_id,
       |  ${dlCols("v")}
       |  FROM e),
       |enc AS (SELECT vec_id, $codeCols FROM dl),
       |adc AS (SELECT enc.vec_id, ${adcSum("qv")} AS adc_dist FROM enc, q)
       |SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin
  }

  /** IVF+PQ oracle: coarse assignment via the same literal-centroid argmin
    * (first on ties), probe clusters = the query's 2 nearest by the same
    * fixed-order distances ordered (d, j), then the PQ encode + ADC mirror
    * restricted to the probed members ([[PqOracleGen]]). */
  private val annIvfPqSql: String = {
    import PqOracleGen._
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cdist AS (${qDistRows("qv")}),
       |probe AS (SELECT j FROM cdist ORDER BY d, j LIMIT $IvfPqNprobe),
       |asg AS (SELECT vec_id, v,
       |  CAST(list_position(al, list_min(al)) - 1 AS INT) AS cluster
       |  FROM (SELECT vec_id, v, ${assignList("v")} AS al FROM e)),
       |probed AS (SELECT vec_id, v FROM asg
       |           WHERE cluster IN (SELECT j FROM probe)),
       |dl AS (SELECT vec_id,
       |  ${dlCols("v")}
       |  FROM probed),
       |enc AS (SELECT vec_id, $codeCols FROM dl),
       |adc AS (SELECT enc.vec_id, ${adcSum("qv")} AS adc_dist FROM enc, q)
       |SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin
  }

  /** Residual IVF-PQ oracle: assignment + probe as in [[annIvfPqSql]];
    * residuals via `list_transform` against the literal centroid
    * list-of-lists (one subtraction per element, matching the engine's
    * zip_with); encode lists run over `rv`; the per-cluster ADC table
    * derives from the query residual `qr` joined by cluster. */
  private val annIvfPqResidualSql: String = {
    import PqOracleGen._
    val centsLit = cents
      .map(c => c.map(dlit).mkString("[", ", ", "]"))
      .mkString("[", ",\n   ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cdist AS (${qDistRows("qv")}),
       |probe AS (SELECT j FROM cdist ORDER BY d, j LIMIT $IvfPqNprobe),
       |asg AS (SELECT vec_id, v,
       |  CAST(list_position(al, list_min(al)) - 1 AS INT) AS cluster
       |  FROM (SELECT vec_id, v, ${assignList("v")} AS al FROM e)),
       |probed AS (SELECT vec_id, v, cluster FROM asg
       |           WHERE cluster IN (SELECT j FROM probe)),
       |withrv AS (SELECT vec_id, cluster,
       |  list_transform(generate_series(1, $EmbeddingDim),
       |    i -> v[i] - ($centsLit)[cluster + 1][i]) AS rv
       |  FROM probed),
       |rq AS (SELECT p.j AS cluster,
       |  list_transform(generate_series(1, $EmbeddingDim),
       |    i -> qv[i] - ($centsLit)[p.j + 1][i]) AS qr
       |  FROM probe p, q),
       |enc AS (SELECT vec_id, cluster, $codeCols FROM
       |  (SELECT vec_id, cluster, ${dlCols("rv")} FROM withrv)),
       |adc AS (SELECT enc.vec_id, (${adcSum("qr")}) AS adc_dist
       |        FROM enc JOIN rq USING (cluster))
       |SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin
  }

  private val semanticDedupSql: String = {
    val cents = semDedupCentroids
    def dotLit(v: String, c: Array[Double]): String =
      c.zipWithIndex.map { case (w, d) => s"$v[${d + 1}] * $w" }
        .mkString("(", " + ", ")")
    val dList = cents.map { c =>
      val c2 = c.map(x => x * x).sum
      s"($c2 - 2.0 * ${dotLit("v", c)})"
    }.mkString("[", ",\n    ", "]")
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |asg AS (SELECT vec_id, v,
       |  CAST(list_position(dl, list_min(dl)) - 1 AS BIGINT) AS cluster
       |  FROM (SELECT vec_id, v, $dList AS dl FROM e)),
       |p AS (SELECT a.vec_id id1, b.vec_id id2
       |      FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |      WHERE list_cosine_similarity(a.v, b.v) >= $SemDedupThreshold),
       |edges AS (SELECT id1 a, id2 b FROM p UNION SELECT id2, id1 FROM p),
       |walk(id, comp) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT g.b, w.comp FROM walk w JOIN edges g ON g.a = w.id),
       |comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
       |losers AS (SELECT id FROM comps WHERE comp < id)
       |SELECT vec_id, cluster FROM asg
       |WHERE vec_id NOT IN (SELECT id FROM losers)
       |ORDER BY vec_id""".stripMargin
  }

  /** Cluster-stats oracle: the semantic-dedup assignment mirror (same
    * centroid literals, same first-wins argmin) with d² completed by the
    * |v|² term, extrema in plain double, inertia decimal-summed and
    * emitted as VARCHAR. */
  private val annClusterStatsSql: String = {
    val cents = semDedupCentroids
    // centroid constants ride as '…'::DOUBLE — a bare 0.123… literal is
    // DECIMAL in DuckDB, and its decimal→double cast is the one-ulp-low
    // path (oracle-portability finding); strtod parses exactly
    def dotLit(v: String, c: Array[Double]): String =
      c.zipWithIndex.map { case (w, d) => s"$v[${d + 1}] * '$w'::DOUBLE" }
        .mkString("(", " + ", ")")
    val dList = cents.map { c =>
      val c2 = c.map(x => x * x).sum
      s"('$c2'::DOUBLE - 2.0 * ${dotLit("v", c)})"
    }.mkString("[", ",\n    ", "]")
    val vn = (0 until EmbeddingDim).map(d => s"v[${d + 1}] * v[${d + 1}]")
      .mkString("(", " + ", ")")
    s"""WITH e AS (SELECT embedding::DOUBLE[] v FROM embeddings),
       |a AS (SELECT v, $dList AS dl FROM e),
       |b AS (SELECT CAST(list_position(dl, list_min(dl)) - 1 AS BIGINT) AS cluster,
       |  dl[list_position(dl, list_min(dl))] + $vn AS d2 FROM a)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       |  min(d2) AS min_d2, max(d2) AS max_d2,
       |  CAST(sum(CAST(d2 AS DECIMAL(38,6))) AS VARCHAR) AS inertia
       |FROM b GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  /** Salted-aggregation oracle: the two-phase salted plan must equal the
    * plain GROUP BY (decimal sums are exact, so salting can't perturb). */
  private val skewAggSql: String =
    """WITH k AS (SELECT
      |  CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey % 100 END AS hot_key,
      |  CAST(l_quantity AS DECIMAL(18,6)) AS q FROM lineitem)
      |SELECT CAST(hot_key AS BIGINT) AS hot_key,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(q) AS DOUBLE) AS qty_sum
      |FROM k GROUP BY hot_key ORDER BY hot_key""".stripMargin

  /** Histogram oracle: the same fixed double-op sequence as the engine —
    * width once, floor((v−mn)/width) clamped, lo/hi from bin·width. */
  private val profileHistogramSql: String = {
    val b = HistogramBins
    s"""WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
       |              max(CAST(l_extendedprice AS DOUBLE)) AS mx FROM lineitem),
       |w AS (SELECT mn, mx, (mx - mn) / CAST($b AS DOUBLE) AS width FROM mm),
       |bb AS (SELECT least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn) / width) AS BIGINT),
       |                    ${b - 1}) AS bin
       |       FROM lineitem, w WHERE l_extendedprice IS NOT NULL)
       |SELECT bin, mn + CAST(bin AS DOUBLE) * width AS lo,
       |  mn + CAST(bin + 1 AS DOUBLE) * width AS hi,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM bb, w GROUP BY bin, mn, width ORDER BY bin""".stripMargin
  }

  /** Correlation oracle: identical decimal moment sums and the identical
    * double formula, textual op order mirrored from
    * [[graft.operators.Profile.correlationMatrix]]. */
  private val profileCorrSql: String = {
    val cols = NumProfileCols
    def dec(c: String) = s"CAST($c AS DECIMAL(18,6))"
    // DuckDB's DECIMAL->DOUBLE cast divides two doubles (raw / 10^scale)
    // and can land one ulp off the correctly-rounded value once the raw
    // integer exceeds 2^53; the VARCHAR round-trip goes through strtod,
    // which rounds correctly and therefore matches Java's
    // BigDecimal.doubleValue on the engine side (observed: p_ab one ulp
    // low under the direct cast at sf0.01).
    def toDouble(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    val sums = cols.map(c => s"${toDouble(s"SUM(${dec(c)})")} AS s_$c")
    val pairsLe = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i <= j
    } yield (a, b)
    // DECIMAL(19,6) forces DuckDB's int128 multiply path (int64-backed
    // DECIMAL(18) products overflow int64); values are exact either way,
    // so the Spark mirror (decimal(18,6) products) is unaffected.
    def decw(c: String) = s"CAST($c AS DECIMAL(19,6))"
    val prods = pairsLe.map { case (a, b) =>
      s"${toDouble(s"SUM(${decw(a)} * ${decw(b)})")} AS p_${a}__$b" }
    val selects = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j
    } yield {
      val num = s"(n_d * p_${a}__$b - s_$a * s_$b)"
      val den = s"(sqrt(n_d * p_${a}__$a - s_$a * s_$a) * " +
        s"sqrt(n_d * p_${b}__$b - s_$b * s_$b))"
      s"SELECT '$a' AS col1, '$b' AS col2, " +
        s"CASE WHEN $den = 0 THEN NULL ELSE $num / $den END AS corr FROM m"
    }
    s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n_d,
       |  ${(sums ++ prods).mkString(",\n  ")}
       |FROM lineitem)
       |${selects.mkString("\n UNION ALL ")}
       |ORDER BY col1, col2""".stripMargin
  }

  private val eventsWindowedSql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS bucket, event_type,
      | CAST(count(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  private val splitCountsSql: String =
    """WITH b AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100 AS bkt
      |           FROM documents)
      |SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
      |  CAST(count(*) AS BIGINT) AS n_docs
      |FROM b GROUP BY 1 ORDER BY split""".stripMargin

  /** Multimodal-metadata oracle. DuckDB `length` counts characters and
    * `strlen` counts BYTES — Spark's `length` on BINARY is bytes, so
    * content_bytes mirrors via strlen. */
  private val multimodalMetaSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  CAST(doc_id % 1920 + 1 AS INT) AS width,
      |  CAST(doc_id % 1080 + 1 AS INT) AS height,
      |  CAST(length(text) * 10 AS BIGINT) AS duration_ms,
      |  CAST(strlen(text) AS INT) AS content_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  /** Multimodal-decode oracle: the synthetic payloads are pure functions of
    * doc_id ([[graft.operators.Multimodal]] Synthetic formulas) and the
    * codecs are lossless (PNG, WAV/PCM16), so decoded pixel/sample values
    * equal the generator's closed forms — mirrored here with
    * generate_series over the same (x, y, frame, sample) ranges. A decode
    * bug on the engine side (channel order, endianness, frame framing)
    * breaks the hash. */
  private val multimodalFeaturesSql: String =
    """WITH img AS (
      |  SELECT doc_id AS id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |ix AS (SELECT id, w, h, unnest(range(0, w)) AS x FROM img),
      |ipix AS (SELECT id, w, h, x, unnest(range(0, h)) AS y FROM ix),
      |iv AS (SELECT id, w, h,
      |  (id*7 + x*13 + y*31) % 256 + (id*11 + x*3 + y*17) % 256
      |    + (id*5 + x*29 + y*7) % 256 AS v
      |  FROM ipix),
      |istat AS (SELECT id, 'image' AS kind, min(w) AS w, min(h) AS h,
      |  1 AS nf, 0 AS ns, sum(v) AS s, min(v) AS mn, max(v) AS mx
      |  FROM iv GROUP BY id),
      |aud AS (SELECT doc_id AS id, doc_id % 96 + 32 AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |ai AS (SELECT id, n, unnest(range(0, n)) AS i FROM aud),
      |av AS (SELECT id, n, (id*31 + i*173) % 65536 - 32768 AS v FROM ai),
      |astat AS (SELECT id, 'audio' AS kind, 0 AS w, 0 AS h, 0 AS nf,
      |  min(n) AS ns, sum(v) AS s, min(v) AS mn, max(v) AS mx
      |  FROM av GROUP BY id),
      |vid AS (SELECT doc_id AS id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h,
      |  doc_id % 3 + 2 AS nf FROM documents WHERE doc_id % 3 = 2),
      |vf AS (SELECT id, w, h, nf, unnest(range(0, nf)) AS fr FROM vid),
      |vx AS (SELECT id, w, h, nf, fr, unnest(range(0, w)) AS x FROM vf),
      |vpix AS (SELECT id, w, h, nf, fr, x, unnest(range(0, h)) AS y FROM vx),
      |vv AS (SELECT id, w, h, nf,
      |  (id*7 + x*13 + y*31 + fr*97) % 256 + (id*11 + x*3 + y*17 + fr*89) % 256
      |    + (id*5 + x*29 + y*7 + fr*83) % 256 AS v
      |  FROM vpix),
      |vstat AS (SELECT id, 'video' AS kind, min(w) AS w, min(h) AS h,
      |  min(nf) AS nf, 0 AS ns, sum(v) AS s, min(v) AS mn, max(v) AS mx
      |  FROM vv GROUP BY id),
      |allstat AS (
      |  SELECT * FROM istat
      |  UNION ALL SELECT * FROM astat
      |  UNION ALL SELECT * FROM vstat)
      |SELECT CAST(id AS BIGINT) AS media_id, kind,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(nf AS INT) AS n_frames, CAST(ns AS BIGINT) AS n_samples,
      |  CAST(s AS BIGINT) AS value_sum, CAST(mn AS BIGINT) AS value_min,
      |  CAST(mx AS BIGINT) AS value_max
      |FROM allstat ORDER BY media_id""".stripMargin

  /** Perceptual-hash near-dup oracle: the still corpus (every doc + the
    * one-pixel-edited copy of every 5th) rebuilt from the generator's
    * closed pixel forms, the aHash mirrored bit for bit — nearest-neighbor
    * sample (x·w)//8, integer BT.601 luma, strict luma·64 > Σluma
    * threshold — and the Hamming distance summed per-bit (the
    * q_dedup_simhash per-bit CASE pattern; no engine-specific bit_count
    * semantics in play). The banded engine join and this all-pairs mirror
    * agree exactly because the pigeonhole candidate set is recall-complete
    * at maxHamming = $PhashMaxHamming. */
  private def phashOracleSql(method: String): String = {
    // shared: the still corpus, the closed-form luma of sampled pixel
    // (sx, sy) with the one-pixel red bump folded in
    def lumExpr: String =
      s"""((base_id*7 + sx*13 + sy*31
         |       + CASE WHEN sx = 0 AND sy = 0 THEN bump ELSE 0 END) % 256) * 299
         |  + ((base_id*11 + sx*3 + sy*17) % 256) * 587
         |  + ((base_id*5 + sx*29 + sy*7) % 256) * 114""".stripMargin
    val bitsCtes = method match {
      case "ahash" =>
        s"""gx AS (SELECT *, unnest(range(0, 8)) AS x FROM g),
           |cells AS (SELECT *, unnest(range(0, 8)) AS y FROM gx),
           |sp AS (SELECT media_id, base_id, bump, y * 8 + x AS j,
           |         (x * w) // 8 AS sx, (y * h) // 8 AS sy FROM cells),
           |lum AS (SELECT media_id, j, $lumExpr AS l FROM sp),
           |tot AS (SELECT media_id, sum(l) AS t FROM lum GROUP BY media_id),
           |bits AS (SELECT lum.media_id, j, (l * 64 > t) AS s
           |         FROM lum JOIN tot USING (media_id))""".stripMargin
      case "dhash" =>
        s"""gx AS (SELECT *, unnest(range(0, 9)) AS x FROM g),
           |cells AS (SELECT *, unnest(range(0, 8)) AS y FROM gx),
           |sp AS (SELECT media_id, base_id, bump, x, y,
           |         (x * w) // 9 AS sx, (y * h) // 8 AS sy FROM cells),
           |lum AS (SELECT media_id, x, y, $lumExpr AS l FROM sp),
           |bits AS (SELECT a.media_id, a.y * 8 + a.x AS j, (b.l > a.l) AS s
           |         FROM lum a JOIN lum b
           |           ON a.media_id = b.media_id AND b.y = a.y AND b.x = a.x + 1)""".stripMargin
      case other => throw new IllegalArgumentException(other)
    }
    s"""m AS (
       |  SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(doc_id AS BIGINT) AS base_id,
       |         0 AS bump
       |  FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id + $PhashVariantOffset AS BIGINT), CAST(doc_id AS BIGINT), 1
       |  FROM documents WHERE doc_id % 5 = 0),
       |g AS (SELECT media_id, base_id, bump,
       |        base_id % 13 + 4 AS w, base_id % 11 + 4 AS h FROM m),
       |$bitsCtes""".stripMargin
  }

  private val multimodalNearDupSql: String =
    s"""WITH ${phashOracleSql("ahash")},
       |ham AS (SELECT a.media_id AS id1, b.media_id AS id2,
       |          CAST(sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) AS INTEGER) AS hamming
       |        FROM bits a JOIN bits b ON a.media_id < b.media_id AND a.j = b.j
       |        GROUP BY a.media_id, b.media_id)
       |SELECT id1, id2, hamming FROM ham
       |WHERE hamming <= $PhashMaxHamming ORDER BY id1, id2""".stripMargin

  private val multimodalNearDupDhashSql: String =
    s"""WITH ${phashOracleSql("dhash")},
       |ham AS (SELECT a.media_id AS id1, b.media_id AS id2,
       |          CAST(sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) AS INTEGER) AS hamming
       |        FROM bits a JOIN bits b ON a.media_id < b.media_id AND a.j = b.j
       |        GROUP BY a.media_id, b.media_id)
       |SELECT id1, id2, hamming FROM ham
       |WHERE hamming <= $PhashMaxHamming ORDER BY id1, id2""".stripMargin

  /** Audio perceptual near-dup oracle: the clip corpus (every doc + the
    * one-sample-edited copy of every 5th) rebuilt from the generator's
    * closed sample forms, the quantized-waveform SimHash mirrored bit for
    * bit — token `i || ':' || (m // 1024)` where m is the biased sample
    * `(base_id·31 + i·173 [+ bump·256 at i=0]) % 65536` (the engine's
    * `(s+32768) >> 10` IS `m // 1024`; all modulo operands non-negative,
    * so DuckDB's % agrees with the JVM's), then the q_dedup_simhash md5
    * nibble-majority pipeline and the per-bit CASE Hamming sum. */
  /** Audio SimHash signature CTE chain: from a media CTE `m<sfx>` carrying
    * (media_id, base_id, bump) to `sig<sfx>` (media_id, s0..s63) — the
    * closed-form decode→quantize→md5→nibble-majority mirror, suffixed so
    * one WITH can carry corpus and probe signatures side by side. */
  private def audioSigCtes(sfx: String): String = {
    val nibs = (0 until 16)
      .map(k => s"('0x' || substr(h, ${k + 1}, 1))::INT v$k").mkString(", ")
    val bitSums = (0 until 64)
      .map(j => s"SUM((v${j / 4} >> ${j % 4}) & 1) b$j").mkString(", ")
    val sigBits = (0 until 64).map(j => s"(2 * b$j > n) s$j").mkString(", ")
    s"""clip$sfx AS (SELECT media_id, base_id, bump, base_id % 96 + 32 AS nsamp FROM m$sfx),
       |samp$sfx AS (SELECT media_id, base_id, bump, unnest(range(0, nsamp)) AS i FROM clip$sfx),
       |tok$sfx AS (SELECT media_id,
       |          i || ':' || ((base_id*31 + i*173
       |            + CASE WHEN i = 0 THEN bump*256 ELSE 0 END) % 65536) // 1024 AS t
       |        FROM samp$sfx),
       |h$sfx AS (SELECT media_id, md5(t) h FROM tok$sfx),
       |nib$sfx AS (SELECT media_id, $nibs FROM h$sfx),
       |bits$sfx AS (SELECT media_id, count(*) n, $bitSums FROM nib$sfx GROUP BY media_id),
       |sig$sfx AS (SELECT media_id, $sigBits FROM bits$sfx)""".stripMargin
  }

  /** 64-term per-bit Hamming CASE sum between sig rows `x` and `y`. */
  private def audioHammingExpr: String = (0 until 64)
    .map(j => s"(CASE WHEN x.s$j <> y.s$j THEN 1 ELSE 0 END)").mkString(" + ")

  private val multimodalNearDupAudioSql: String =
    s"""WITH m AS (
       |  SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(doc_id AS BIGINT) AS base_id,
       |         0 AS bump
       |  FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id + $PhashVariantOffset AS BIGINT), CAST(doc_id AS BIGINT), 1
       |  FROM documents WHERE doc_id % 5 = 0),
       |${audioSigCtes("")},
       |ham AS (SELECT x.media_id AS id1, y.media_id AS id2,
       |          CAST($audioHammingExpr AS INTEGER) AS hamming
       |        FROM sig x JOIN sig y ON x.media_id < y.media_id)
       |SELECT id1, id2, hamming FROM ham
       |WHERE hamming <= $AudioMaxHamming ORDER BY id1, id2""".stripMargin

  /** Audio probe-vs-persisted-index oracle: corpus and probe signatures
    * rebuilt from the closed forms, then the all-pairs probe×corpus
    * Hamming filter — the engine's banded partition-pruned probe must
    * equal it exactly (pigeonhole recall-completeness at the index's own
    * maxHamming). */
  private val multimodalProbeIndexAudioSql: String =
    s"""WITH mc AS (
       |  SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(doc_id AS BIGINT) AS base_id,
       |         0 AS bump
       |  FROM documents),
       |${audioSigCtes("c")},
       |mp AS (
       |  SELECT CAST(doc_id + $PhashVariantOffset AS BIGINT) AS media_id,
       |         CAST(doc_id AS BIGINT) AS base_id, 1 AS bump
       |  FROM documents WHERE doc_id % 5 = 0),
       |${audioSigCtes("p")}
       |SELECT x.media_id AS probe_id, y.media_id AS corpus_id,
       |  CAST($audioHammingExpr AS INTEGER) AS hamming
       |FROM sigp x JOIN sigc y ON TRUE
       |WHERE $audioHammingExpr <= $AudioMaxHamming
       |ORDER BY probe_id, corpus_id""".stripMargin

  /** Video near-dup oracle: per-(video, frame) aHash bits from the
    * generator's closed pixel forms (the frame index rides every channel
    * formula; the one-pixel bump edits frame 0 only), all-pairs frame
    * Hamming across DISTINCT videos, then the per-video-pair rollup —
    * min close-frame Hamming + close-frame-pair count. The engine's
    * banded composite-id join is recall-complete at the budget
    * (pigeonhole), so the two agree exactly. */
  private val multimodalNearDupVideoSql: String = {
    val lum =
      s"""((base_id*7 + sx*13 + sy*31 + fr*97
         |       + CASE WHEN sx = 0 AND sy = 0 AND fr = 0 THEN bump ELSE 0 END) % 256) * 299
         |  + ((base_id*11 + sx*3 + sy*17 + fr*89) % 256) * 587
         |  + ((base_id*5 + sx*29 + sy*7 + fr*83) % 256) * 114""".stripMargin
    s"""WITH m AS (
       |  SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(doc_id AS BIGINT) AS base_id,
       |         0 AS bump
       |  FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id + $PhashVariantOffset AS BIGINT), CAST(doc_id AS BIGINT), 1
       |  FROM documents WHERE doc_id % 5 = 0),
       |g AS (SELECT media_id, base_id, bump,
       |        base_id % 13 + 4 AS w, base_id % 11 + 4 AS h,
       |        base_id % 3 + 2 AS nf FROM m),
       |gf AS (SELECT *, unnest(range(0, nf)) AS fr FROM g),
       |gx AS (SELECT *, unnest(range(0, 8)) AS x FROM gf),
       |cells AS (SELECT *, unnest(range(0, 8)) AS y FROM gx),
       |sp AS (SELECT media_id, base_id, bump, fr, y * 8 + x AS j,
       |         (x * w) // 8 AS sx, (y * h) // 8 AS sy FROM cells),
       |lum AS (SELECT media_id, fr, j, $lum AS l FROM sp),
       |tot AS (SELECT media_id, fr, sum(l) AS t FROM lum GROUP BY media_id, fr),
       |bits AS (SELECT lum.media_id, lum.fr, j, (l * 64 > t) AS s
       |         FROM lum JOIN tot USING (media_id, fr)),
       |ham AS (SELECT a.media_id id1, a.fr f1, b.media_id id2, b.fr f2,
       |          sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) dd
       |        FROM bits a JOIN bits b
       |          ON a.media_id < b.media_id AND a.j = b.j
       |        GROUP BY a.media_id, a.fr, b.media_id, b.fr)
       |SELECT id1, id2, CAST(min(dd) AS INTEGER) AS min_hamming,
       |  CAST(count(*) AS BIGINT) AS n_close_frame_pairs
       |FROM ham WHERE dd <= $PhashMaxHamming
       |GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin
  }

  /** Video probe-vs-persisted-index oracle: the [[multimodalNearDupVideoSql]]
    * frame-bit CTEs verbatim (corpus = every base video, probes = the
    * one-pixel-edited variants — distinguished by the id offset), then the
    * all-pairs probe×corpus frame Hamming filter and the per-video-pair
    * rollup. The engine's banded composite-id probe is recall-complete at
    * the budget (pigeonhole), so the two agree exactly. */
  private val multimodalProbeIndexVideoSql: String = {
    val lum =
      s"""((base_id*7 + sx*13 + sy*31 + fr*97
         |       + CASE WHEN sx = 0 AND sy = 0 AND fr = 0 THEN bump ELSE 0 END) % 256) * 299
         |  + ((base_id*11 + sx*3 + sy*17 + fr*89) % 256) * 587
         |  + ((base_id*5 + sx*29 + sy*7 + fr*83) % 256) * 114""".stripMargin
    s"""WITH m AS (
       |  SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(doc_id AS BIGINT) AS base_id,
       |         0 AS bump
       |  FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id + $PhashVariantOffset AS BIGINT), CAST(doc_id AS BIGINT), 1
       |  FROM documents WHERE doc_id % 5 = 0),
       |g AS (SELECT media_id, base_id, bump,
       |        base_id % 13 + 4 AS w, base_id % 11 + 4 AS h,
       |        base_id % 3 + 2 AS nf FROM m),
       |gf AS (SELECT *, unnest(range(0, nf)) AS fr FROM g),
       |gx AS (SELECT *, unnest(range(0, 8)) AS x FROM gf),
       |cells AS (SELECT *, unnest(range(0, 8)) AS y FROM gx),
       |sp AS (SELECT media_id, base_id, bump, fr, y * 8 + x AS j,
       |         (x * w) // 8 AS sx, (y * h) // 8 AS sy FROM cells),
       |lum AS (SELECT media_id, fr, j, $lum AS l FROM sp),
       |tot AS (SELECT media_id, fr, sum(l) AS t FROM lum GROUP BY media_id, fr),
       |bits AS (SELECT lum.media_id, lum.fr, j, (l * 64 > t) AS s
       |         FROM lum JOIN tot USING (media_id, fr)),
       |ham AS (SELECT a.media_id id1, a.fr f1, b.media_id id2, b.fr f2,
       |          sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) dd
       |        FROM bits a JOIN bits b
       |          ON a.media_id >= $PhashVariantOffset
       |         AND b.media_id < $PhashVariantOffset AND a.j = b.j
       |        GROUP BY a.media_id, a.fr, b.media_id, b.fr)
       |SELECT id1 AS probe_id, id2 AS corpus_id,
       |  CAST(min(dd) AS INTEGER) AS min_hamming,
       |  CAST(count(*) AS BIGINT) AS n_close_frame_pairs
       |FROM ham WHERE dd <= $PhashMaxHamming
       |GROUP BY id1, id2 ORDER BY probe_id, corpus_id""".stripMargin
  }

  /** Incremental image-ingest oracle: the whole two-batch ladder replayed
    * declaratively — closed-form hashes for all three payload sets (base,
    * bump-1 copy, bump-2 copy), per-batch recursive component closure with
    * min-id survivorship (the engine's in-batch collapse), then the
    * cross-batch Hamming filter against batch-1 SURVIVORS only (the index
    * holds survivors, not deliveries). */
  private val multimodalIncrementalSql: String = {
    val off = PhashVariantOffset
    val lum =
      s"""((base_id*7 + sx*13 + sy*31
         |       + CASE WHEN sx = 0 AND sy = 0 THEN bump ELSE 0 END) % 256) * 299
         |  + ((base_id*11 + sx*3 + sy*17) % 256) * 587
         |  + ((base_id*5 + sx*29 + sy*7) % 256) * 114""".stripMargin
    s"""WITH RECURSIVE
       |m AS (
       |  SELECT CAST(doc_id AS BIGINT) media_id, CAST(doc_id AS BIGINT) base_id, 0 bump
       |  FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id + $off AS BIGINT), CAST(doc_id AS BIGINT), 1
       |  FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT CAST(doc_id + ${2 * off} AS BIGINT), CAST(doc_id AS BIGINT), 2
       |  FROM documents WHERE doc_id % 5 = 0),
       |g AS (SELECT media_id, base_id, bump,
       |        base_id % 13 + 4 w, base_id % 11 + 4 h FROM m),
       |gx AS (SELECT *, unnest(range(0, 8)) x FROM g),
       |cells AS (SELECT *, unnest(range(0, 8)) y FROM gx),
       |sp AS (SELECT media_id, base_id, bump, y * 8 + x AS j,
       |         (x * w) // 8 sx, (y * h) // 8 sy FROM cells),
       |lum AS (SELECT media_id, j, $lum AS l FROM sp),
       |tot AS (SELECT media_id, sum(l) t FROM lum GROUP BY media_id),
       |bits AS (SELECT lum.media_id, j, (l * 64 > t) s
       |         FROM lum JOIN tot USING (media_id)),
       |ham AS (SELECT a.media_id id1, b.media_id id2,
       |          sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) dd
       |        FROM bits a JOIN bits b ON a.media_id < b.media_id AND a.j = b.j
       |        GROUP BY a.media_id, b.media_id),
       |nd AS (SELECT id1, id2 FROM ham WHERE dd <= $PhashMaxHamming),
       |e1 AS (SELECT id1 a, id2 b FROM nd WHERE id2 < $off
       |       UNION SELECT id2, id1 FROM nd WHERE id2 < $off),
       |w1(id, comp) AS (SELECT a, a FROM e1
       |  UNION SELECT e.b, w.comp FROM w1 w JOIN e1 e ON e.a = w.id),
       |c1 AS (SELECT id, min(comp) comp FROM w1 GROUP BY id),
       |surv1 AS (SELECT m.media_id FROM m
       |          LEFT JOIN c1 ON c1.id = m.media_id
       |          WHERE m.media_id < $off
       |            AND (c1.id IS NULL OR c1.comp = m.media_id)),
       |e2 AS (SELECT id1 a, id2 b FROM nd WHERE id1 >= $off
       |       UNION SELECT id2, id1 FROM nd WHERE id1 >= $off),
       |w2(id, comp) AS (SELECT a, a FROM e2
       |  UNION SELECT e.b, w.comp FROM w2 w JOIN e2 e ON e.a = w.id),
       |c2 AS (SELECT id, min(comp) comp FROM w2 GROUP BY id),
       |s2a AS (SELECT m.media_id FROM m
       |        LEFT JOIN c2 ON c2.id = m.media_id
       |        WHERE m.media_id >= $off
       |          AND (c2.id IS NULL OR c2.comp = m.media_id)),
       |dropped AS (SELECT DISTINCT s.media_id FROM s2a s
       |            JOIN nd ON (nd.id1 = s.media_id
       |                        AND nd.id2 IN (SELECT media_id FROM surv1))
       |                    OR (nd.id2 = s.media_id
       |                        AND nd.id1 IN (SELECT media_id FROM surv1)))
       |SELECT media_id FROM (
       |  SELECT media_id FROM surv1
       |  UNION ALL
       |  SELECT media_id FROM s2a
       |  WHERE media_id NOT IN (SELECT media_id FROM dropped))
       |ORDER BY media_id""".stripMargin
  }

  /** Probe-vs-index oracle: the same bits table split into probe rows
    * (variant ids ≥ the offset) and corpus rows (base ids below it) —
    * the banded engine probe must surface exactly the ≤ maxHamming pairs
    * of that cross product (pigeonhole recall-completeness). */
  private val multimodalProbeIndexSql: String =
    s"""WITH ${phashOracleSql("ahash")},
       |ham AS (SELECT a.media_id AS probe_id, b.media_id AS corpus_id,
       |          CAST(sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END) AS INTEGER) AS hamming
       |        FROM bits a JOIN bits b
       |          ON a.j = b.j AND a.media_id >= $PhashVariantOffset
       |             AND b.media_id < $PhashVariantOffset
       |        GROUP BY a.media_id, b.media_id)
       |SELECT probe_id, corpus_id, hamming FROM ham
       |WHERE hamming <= $PhashMaxHamming ORDER BY probe_id, corpus_id""".stripMargin

  /** JSON-props oracle: DuckDB's JSON extension parsing the same strings;
    * integer payloads make every aggregate exact. */
  private val eventsPropsSql: String =
    """SELECT event_type,
      |  CAST(count(k) AS BIGINT) AS n_with_k,
      |  CAST(sum(k) AS BIGINT) AS k_sum,
      |  CAST(min(k) AS BIGINT) AS k_min,
      |  CAST(max(k) AS BIGINT) AS k_max
      |FROM (SELECT event_type,
      |        CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ROLLUP oracle: ANSI GROUP BY ROLLUP with the same NULL sentinels. */
  private val docsRollupSql: String =
    """SELECT COALESCE(lang, '<all>') AS lang,
      |  COALESCE(source, '<all>') AS source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY ROLLUP(lang, source)
      |ORDER BY lang, source""".stripMargin

  /** Pivot oracle: conditional aggregation over the explicit value list —
    * exactly what Spark's pivot compiles to. */
  private val docsPivotSql: String = {
    val cells = PivotSources.map(v =>
      s"CAST(SUM(CASE WHEN source = '$v' THEN 1 ELSE 0 END) AS BIGINT) AS $v")
      .mkString(",\n  ")
    s"""SELECT lang,
       |  $cells
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Curriculum oracle: the engine's quality formula (selectBudget's
    * mirror), quartile boundaries via the cume_dist order-statistic
    * device, CASE staging, grouped rollup. */
  private val docsCurriculumSql: String = {
    val stop = "\\b(the|a|an|and|of|to|in|is|it|for)\\b"
    def pexpr(p: Double) =
      s"""(SELECT min(x) FROM (SELECT qs x, cume_dist() OVER (ORDER BY qs) cd
         |     FROM q) WHERE cd >= $p)""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(lower(text), '$stop')) AS BIGINT) AS n_stop,
       |    len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents),
       |q AS (SELECT doc_id, lang, n_tokens,
       |  0.5 * (least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0)
       |  + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
       |  + 0.2 * (CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0.0
       |           ELSE CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) END)
       |    AS qs FROM base),
       |b AS (SELECT ${pexpr(0.25)} AS q25, ${pexpr(0.5)} AS q50,
       |             ${pexpr(0.75)} AS q75)
       |SELECT CAST(CASE WHEN qs <= q25 THEN 1 WHEN qs <= q50 THEN 2
       |            WHEN qs <= q75 THEN 3 ELSE 4 END AS BIGINT) AS stage,
       |  lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM q, b GROUP BY 1, 2 ORDER BY stage, lang""".stripMargin
  }

  private val langRollupSql: String =
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      | CAST(sum(n_chars) AS BIGINT) AS total_chars,
      | CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** As-of oracle: the same union + tagged sort + IGNORE NULLS running fill
    * the engine uses, expressed as a window query — rights sort before
    * lefts at equal ts (inclusive match), tie column ascending so the max
    * tie wins the fill, 2-hour tolerance nulls the attachment. */
  private val eventsAsofSql: String =
    """WITH clicks AS (SELECT user_id, ts, event_id, value FROM events
      |               WHERE event_type = 'click'),
      |purch AS (SELECT user_id, ts, event_id FROM events
      |          WHERE event_type = 'purchase'),
      |un AS (
      |  SELECT user_id, ts, 0 AS side, event_id AS tie, event_id AS c_id,
      |         ts AS c_ts, value AS c_val, NULL::BIGINT AS p_id FROM clicks
      |  UNION ALL
      |  SELECT user_id, ts, 1, NULL, NULL, NULL, NULL, event_id FROM purch),
      |filled AS (
      |  SELECT *,
      |    last_value(c_id IGNORE NULLS) OVER w AS f_id,
      |    last_value(c_ts IGNORE NULLS) OVER w AS f_ts,
      |    last_value(c_val IGNORE NULLS) OVER w AS f_val
      |  FROM un
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY ts ASC, side ASC, tie ASC NULLS FIRST
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tol AS (SELECT *, f_id IS NOT NULL
      |          AND epoch_us(ts) - epoch_us(f_ts) <= 7200000000 AS ok
      |        FROM filled WHERE side = 1)
      |SELECT p_id AS purchase_id, user_id, epoch_us(ts) AS ts_us,
      |  CASE WHEN ok THEN f_id END AS click_id,
      |  CASE WHEN ok THEN epoch_us(f_ts) END AS click_ts_us,
      |  CASE WHEN ok THEN f_val END AS click_value
      |FROM tol ORDER BY purchase_id""".stripMargin

  /** Sessionization oracle: identical lag → gap flag → running sum →
    * rollup, with micros epochs and decimal-exact value sums. */
  private val eventsSessionsSql: String =
    """WITH l AS (
      |  SELECT user_id, ts, event_id, value,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) AS prev
      |  FROM events),
      |f AS (SELECT *, CASE WHEN prev IS NULL
      |                       OR epoch_us(ts) - prev > 1800000000
      |                     THEN 1 ELSE 0 END AS is_new FROM l),
      |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |      FROM f)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
      |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Streaming-replay oracle: append mode emits exactly the windows the
    * final watermark closed — deterministic, so the batch rollup restricted
    * to hour windows ending at-or-before the max event time mirrors the
    * whole two-micro-batch replay (decimal-exact sums, epoch-aligned
    * tumbling windows). */
  private val eventsStreamedSql: String =
    """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
      |w AS (SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws, event_type,
      |        CAST(count(*) AS BIGINT) AS n,
      |        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |      FROM events GROUP BY 1, 2)
      |SELECT ws AS window_start_us, ws + 3600000000 AS window_end_us,
      |  event_type, n, total_value
      |FROM w WHERE ws + 3600000000 <= (SELECT m FROM mx)
      |ORDER BY window_start_us, event_type""".stripMargin

  /** Band-join oracle: the plain inequality join the bucketed plan
    * reformulates — every (click, purchase) same-user pair within ±1h. */
  private val eventsRangeJoinSql: String =
    """WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
      |  c.user_id AS user_id, p.ts_us - c.ts_us AS gap_us
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND abs(c.ts_us - p.ts_us) <= 3600000000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Trailing-features oracle: SQL-standard RANGE frame on epoch micros
    * (peer ties inside the frame on both engines) + (ts, id)-ordered lag. */
  private val eventsTrailingSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  CAST(count(*) OVER rw AS BIGINT) AS trailing_n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER rw AS DOUBLE) AS trailing_sum,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER ow AS gap_us
      |FROM events
      |WINDOW rw AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
      |       ow AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |ORDER BY event_id""".stripMargin

  /** Q5-shape oracle: same joins, same decimal revenue (DECIMAL(19,6)
    * operands force DuckDB's int128 multiply), VARCHAR-routed final double. */
  private val salesByNationSql: String =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
      |    * (CAST(1 AS DECIMAL(19,6)) - CAST(l_discount AS DECIMAL(19,6))))
      |    AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey AND year(o_orderdate) = 1996
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Q10-shape oracle: decimal-exact revenue ranking (ties → custkey),
    * winners joined to the dimension, VARCHAR-routed double. */
  private val topCustomersSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(19,6))
      |      * (CAST(1 AS DECIMAL(19,6)) - CAST(l_discount AS DECIMAL(19,6)))) AS revenue,
      |    CAST(count(*) AS BIGINT) AS n_items
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY o_custkey),
      |top AS (SELECT * FROM rev ORDER BY revenue DESC, o_custkey LIMIT 20)
      |SELECT t.o_custkey AS custkey, c.c_name,
      |  CAST(CAST(t.revenue AS VARCHAR) AS DOUBLE) AS revenue, t.n_items
      |FROM top t JOIN customer c ON c.c_custkey = t.o_custkey
      |ORDER BY t.revenue DESC, custkey""".stripMargin

  /** Drift oracle: shared histogram edges (the q_profile_histogram device),
    * two mod-slice counts, full-outer bin join, one-division rate ratio. */
  private val profileDriftSql: String = {
    val b = HistogramBins
    def cnt(excl: Int, name: String) =
      s"""SELECT least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn) / width) AS BIGINT),
         |         ${b - 1}) AS bin, CAST(count(*) AS BIGINT) AS $name
         |  FROM lineitem, w
         |  WHERE l_orderkey % 10 <> $excl AND l_extendedprice IS NOT NULL
         |  GROUP BY 1""".stripMargin
    s"""WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
       |              max(CAST(l_extendedprice AS DOUBLE)) AS mx FROM lineitem),
       |w AS (SELECT mn, (mx - mn) / CAST($b AS DOUBLE) AS width FROM mm),
       |ca AS (${cnt(7, "n_a")}),
       |cb AS (${cnt(3, "n_b")})
       |SELECT COALESCE(ca.bin, cb.bin) AS bin,
       |  CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
       |  CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
       |  CASE WHEN COALESCE(n_a, 0) > 0 AND COALESCE(n_b, 0) > 0
       |       THEN CAST(n_b AS DOUBLE) / CAST(n_a AS DOUBLE) END AS rate_ratio
       |FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin
       |ORDER BY bin""".stripMargin
  }

  /** Funnel oracle: the same greedy-earliest stage recurrence as the engine
    * (stage i = min ts of a stage-i event at-or-after stage i-1's reach),
    * expressed as stacked unbounded-window mins over epoch micros —
    * monotone in ts, so the timestamp-domain engine comparison and the
    * micros-domain SQL agree exactly. */
  private val eventsFunnelSql: String =
    """WITH s1 AS (SELECT *,
      |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
      |    OVER (PARTITION BY user_id) AS r1 FROM events),
      |s2 AS (SELECT *,
      |  min(CASE WHEN event_type = 'click' AND epoch_us(ts) >= r1
      |           THEN epoch_us(ts) END)
      |    OVER (PARTITION BY user_id) AS r2 FROM s1),
      |s3 AS (SELECT *,
      |  min(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= r2
      |           THEN epoch_us(ts) END)
      |    OVER (PARTITION BY user_id) AS r3 FROM s2)
      |SELECT user_id, min(r1) AS view_us, min(r2) AS click_us,
      |  min(r3) AS purchase_us,
      |  CAST(CASE WHEN min(r3) IS NOT NULL THEN 3
      |            WHEN min(r2) IS NOT NULL THEN 2
      |            WHEN min(r1) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth
      |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Collocation oracle: same tokenizer as the BM25 family, window-lead
    * bigrams, identical tie-broken top-k, and the identical single double
    * division (exact BIGINT factors ⇒ correctly-rounded in both engines). */
  private val textCollocationsSql: String =
    s"""WITH d AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |                x -> len(x) > 0) AS toks
       |  FROM documents),
       |dd AS (SELECT * FROM d WHERE len(toks) > 0),
       |u AS (SELECT unnest(toks) AS w FROM dd),
       |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY w),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
       |pos AS (SELECT doc_id, unnest(toks) AS w,
       |          generate_subscripts(toks, 1) AS i FROM dd),
       |bg AS (SELECT w AS w1,
       |         lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2 FROM pos),
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
       |       FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2),
       |top AS (SELECT * FROM bc WHERE c_xy >= $CollocationMinCount
       |        ORDER BY c_xy DESC, w1, w2 LIMIT $CollocationK)
       |SELECT t.w1, t.w2, t.c_xy, u1.c AS c_x, u2.c AS c_y,
       |  CAST(nn.n * t.c_xy AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE) AS lift
       |FROM top t CROSS JOIN nn
       |JOIN uc u1 ON u1.w = t.w1
       |JOIN uc u2 ON u2.w = t.w2
       |ORDER BY c_xy DESC, w1, w2""".stripMargin

  /** Z-order probe oracle: the same box on the SOURCE table — the layout
    * is a physical rearrangement and must be invisible to results. */
  private val layoutZOrderSql: String =
    """WITH mm AS (SELECT min(l_partkey) pmn, max(l_partkey) pmx,
      |              min(l_suppkey) smn, max(l_suppkey) smx FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(l_quantity AS DOUBLE) AS l_quantity
      |FROM lineitem, mm
      |WHERE l_partkey >= pmn AND l_partkey <= pmn + (pmx - pmn) // 8
      |  AND l_suppkey >= smn AND l_suppkey <= smn + (smx - smn) // 8
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  /** PageRank oracle: the same integer recurrence with the iterations
    * UNROLLED as plain CTEs (aggregates are illegal in a recursive term) —
    * each rᵢ is a LEFT JOIN of the node set against the aggregated
    * floor-divided contributions of rᵢ₋₁. Intermediate BIGINT casts keep
    * DuckDB's SUM(BIGINT)→HUGEINT promotion out of the result type. */
  private val graphPageRankSql: String = {
    val scale = graft.operators.Graph.DefaultScale
    val base = (15L * scale) / 100L
    val iterCtes = (1 to PageRankIters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST($base + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ed.dst AS node, SUM(r.r // ed.outdeg) AS c
         |    FROM ed JOIN r${i - 1} r ON r.node = ed.src GROUP BY ed.dst) s USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS r FROM nodes),
       |$iterCtes
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS key, r AS rank_scaled
       |FROM r$PageRankIters ORDER BY kind, key""".stripMargin
  }

  /** PPR oracle: the PageRank mirror with a seed-flagged node table — r0
    * is scale on seeds / 0 elsewhere, and the teleport term is
    * seed·base instead of base everywhere. */
  private val graphPprSql: String = {
    val scale = graft.operators.Graph.DefaultScale
    val base = (15L * scale) / 100L
    val iterCtes = (1 to PprIters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST(n.seed * $base + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM ns n LEFT JOIN (
         |    SELECT ed.dst AS node, SUM(r.r // ed.outdeg) AS c
         |    FROM ed JOIN r${i - 1} r ON r.node = ed.src GROUP BY ed.dst) s USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |            WHERE o_orderkey % 7 = 0),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
       |          WHERE c_custkey % 10 = 0),
       |ns AS (SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS seed
       |       FROM nodes n LEFT JOIN seeds s USING (node)),
       |r0 AS (SELECT node, CAST(seed * $scale AS BIGINT) AS r FROM ns),
       |$iterCtes
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS key, r AS rank_scaled
       |FROM r$PprIters ORDER BY kind, key""".stripMargin
  }

  /** Docs-TrustRank oracle: the MinHash pair CTEs (the q_dedup_minhash_lsh
    * mirror verbatim) feed the symmetrized edge table, and the unrolled
    * PPR recurrence runs over it with the doc_id%7 seed flag — one WITH,
    * two composed oracles. */
  private val graphPprDocsSql: String = {
    val scale = graft.operators.Graph.DefaultScale
    val base = (15L * scale) / 100L
    val iterCtes = (1 to PprIters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST(n.seed * $base + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM ns n LEFT JOIN (
         |    SELECT ed.dst AS node, SUM(r.r // ed.outdeg) AS c
         |    FROM ed JOIN r${i - 1} r ON r.node = ed.src GROUP BY ed.dst) s USING (node))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $gramsCtes,
       |${minhashPairCtes(0.5)},
       |edges AS (SELECT id1 AS src, id2 AS dst FROM mh_pairs
       |          UNION SELECT id2, id1 FROM mh_pairs),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |ns AS (SELECT node, CASE WHEN node % 7 = 0 THEN 1 ELSE 0 END AS seed FROM nodes),
       |r0 AS (SELECT node, CAST(seed * $scale AS BIGINT) AS r FROM ns),
       |$iterCtes
       |SELECT node AS doc_id, r AS rank_scaled
       |FROM r$PprIters ORDER BY doc_id""".stripMargin
  }

  /** KS oracle: the textbook global-window formulation — per-value side
    * counts, inclusive running ranks over the full value order, exact
    * integer deviation, smallest-value tie. The engine's bucketed
    * two-phase ranks must equal it exactly (floor bucketing is
    * order-refining; exclusive bucket bases + inclusive in-bucket sums =
    * global inclusive ranks). */
  private val profileKsSql: String =
    """WITH u AS (
      |  SELECT CAST(l_extendedprice AS DOUBLE) v, 1 c1, 0 c2
      |  FROM lineitem WHERE l_orderkey % 3 = 0 AND l_extendedprice IS NOT NULL
      |  UNION ALL
      |  SELECT CAST(l_extendedprice AS DOUBLE) v, 0, 1
      |  FROM lineitem WHERE l_orderkey % 3 <> 0 AND l_extendedprice IS NOT NULL),
      |g AS (SELECT v, CAST(sum(c1) AS BIGINT) c1, CAST(sum(c2) AS BIGINT) c2
      |      FROM u GROUP BY v),
      |n AS (SELECT CAST(sum(c1) AS BIGINT) n1, CAST(sum(c2) AS BIGINT) n2 FROM g),
      |r AS (SELECT v,
      |        CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) r1,
      |        CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) r2 FROM g),
      |d AS (SELECT v, abs(r1 * n.n2 - r2 * n.n1) dd FROM r, n)
      |SELECT n.n1, n.n2, CAST(d.dd AS BIGINT) AS d_scaled, d.v AS at_value
      |FROM d, n ORDER BY d.dd DESC, d.v LIMIT 1""".stripMargin

  /** Grouped-KS oracle: the per-group window formulation — running ranks
    * PARTITION BY group, per-group max, smallest-value tie. */
  private val profileKsGroupedSql: String =
    """WITH u AS (
      |  SELECT CAST(l_returnflag AS VARCHAR) g, CAST(l_extendedprice AS DOUBLE) v, 1 c1, 0 c2
      |  FROM lineitem
      |  WHERE l_orderkey % 3 = 0 AND l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
      |  UNION ALL
      |  SELECT CAST(l_returnflag AS VARCHAR), CAST(l_extendedprice AS DOUBLE), 0, 1
      |  FROM lineitem
      |  WHERE l_orderkey % 3 <> 0 AND l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
      |gv AS (SELECT g, v, CAST(sum(c1) AS BIGINT) c1, CAST(sum(c2) AS BIGINT) c2
      |       FROM u GROUP BY g, v),
      |n AS (SELECT g, CAST(sum(c1) AS BIGINT) n1, CAST(sum(c2) AS BIGINT) n2
      |      FROM gv GROUP BY g),
      |r AS (SELECT g, v,
      |        CAST(sum(c1) OVER (PARTITION BY g ORDER BY v) AS BIGINT) r1,
      |        CAST(sum(c2) OVER (PARTITION BY g ORDER BY v) AS BIGINT) r2 FROM gv),
      |d AS (SELECT r.g, r.v, abs(r.r1 * n.n2 - r.r2 * n.n1) dd
      |      FROM r JOIN n USING (g) WHERE n.n1 > 0 AND n.n2 > 0),
      |dm AS (SELECT g, max(dd) dmax FROM d GROUP BY g)
      |SELECT d.g AS l_returnflag, n.n1, n.n2,
      |  CAST(dm.dmax AS BIGINT) AS d_scaled, min(d.v) AS at_value
      |FROM d JOIN dm USING (g) JOIN n USING (g)
      |WHERE d.dd = dm.dmax
      |GROUP BY d.g, n.n1, n.n2, dm.dmax
      |ORDER BY l_returnflag""".stripMargin

  /** Ranked-drift oracle: the grouped-KS mirror instantiated once per
    * metric (suffixed CTE names in one WITH), unioned, ordered worst-first
    * — exactly the engine's union of per-metric ksStatisticByGroup runs. */
  private val profileKsRankedSql: String = {
    def block(m: String, i: Int): String =
      s"""u$i AS (
         |  SELECT CAST(l_returnflag AS VARCHAR) g, CAST($m AS DOUBLE) v, 1 c1, 0 c2
         |  FROM lineitem
         |  WHERE l_orderkey % 3 = 0 AND l_returnflag IS NOT NULL AND $m IS NOT NULL
         |  UNION ALL
         |  SELECT CAST(l_returnflag AS VARCHAR), CAST($m AS DOUBLE), 0, 1
         |  FROM lineitem
         |  WHERE l_orderkey % 3 <> 0 AND l_returnflag IS NOT NULL AND $m IS NOT NULL),
         |gv$i AS (SELECT g, v, CAST(sum(c1) AS BIGINT) c1, CAST(sum(c2) AS BIGINT) c2
         |         FROM u$i GROUP BY g, v),
         |n$i AS (SELECT g, CAST(sum(c1) AS BIGINT) n1, CAST(sum(c2) AS BIGINT) n2
         |        FROM gv$i GROUP BY g),
         |r$i AS (SELECT g, v,
         |          CAST(sum(c1) OVER (PARTITION BY g ORDER BY v) AS BIGINT) r1,
         |          CAST(sum(c2) OVER (PARTITION BY g ORDER BY v) AS BIGINT) r2 FROM gv$i),
         |d$i AS (SELECT r$i.g, r$i.v, abs(r$i.r1 * n$i.n2 - r$i.r2 * n$i.n1) dd
         |        FROM r$i JOIN n$i USING (g) WHERE n$i.n1 > 0 AND n$i.n2 > 0),
         |dm$i AS (SELECT g, max(dd) dmax FROM d$i GROUP BY g),
         |res$i AS (SELECT '$m' AS metric, d$i.g AS l_returnflag, n$i.n1, n$i.n2,
         |    CAST(dm$i.dmax AS BIGINT) AS d_scaled, min(d$i.v) AS at_value
         |  FROM d$i JOIN dm$i USING (g) JOIN n$i USING (g)
         |  WHERE d$i.dd = dm$i.dmax
         |  GROUP BY d$i.g, n$i.n1, n$i.n2, dm$i.dmax)""".stripMargin
    val blocks = KsRankedMetrics.zipWithIndex
      .map { case (m, i) => block(m, i) }.mkString(",\n")
    val union = KsRankedMetrics.indices
      .map(i => s"SELECT * FROM res$i").mkString(" UNION ALL ")
    s"""WITH $blocks
       |SELECT * FROM ($union)
       |ORDER BY d_scaled DESC, metric, l_returnflag""".stripMargin
  }

  /** Sliding-window oracle: a 2h/1h sliding window assigns each event to
    * the hourly windows starting at its floor-hour and the hour before —
    * a union of two shifted copies of the hourly bucketing. */
  private val eventsSlidingSql: String =
    """WITH b AS (SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h,
      |             event_type, value FROM events),
      |w AS (SELECT h AS ws, event_type, value FROM b
      |      UNION ALL
      |      SELECT h - 3600000000, event_type, value FROM b)
      |SELECT ws AS window_start_us, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Percent-rank oracle: both engines define percent_rank as
    * (rank−1)/(n−1) evaluated in double — identical integer operands ⇒
    * identical doubles; DISTINCT collapses tie rows. */
  private val normalizeRankSql: String =
    """SELECT DISTINCT l_returnflag, CAST(l_quantity AS DOUBLE) AS l_quantity,
      |  percent_rank() OVER (PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS DOUBLE)) AS pr
      |FROM lineitem ORDER BY 1, 2""".stripMargin

  /** Cohort oracle: integral epoch-day buckets (post-1970 data, so floor
    * and truncating division agree), window-min first day, distinct-user
    * rollup. */
  private val eventsCohortSql: String =
    """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d)
      |SELECT cohort_day, day - cohort_day AS day_offset,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Greedy-packing oracle: DuckDB SIMULATES first-fit-decreasing with a
    * recursive CTE that carries each md5-bucketed stream's open-bin
    * remaining-capacity LIST — one recursion step per (group, doc) in the
    * same (tokens desc, id) order the engine packs, list_position finding
    * the first bin that fits (0 = none → open a new bin, capacity clamped
    * at 0 for overflow singletons exactly like the engine), then the same
    * two-level rollup. Flips q_pack_stats from rows-only to hash-checked:
    * the sequential-unit determinism claim (md5 streams + FFD) is now
    * verified end to end, not just unit-pinned. */
  /** The FFD simulation CTE chain through `assigned` (pack_group,
    * pack_idx, id, tokens) — the doc→pack assignment both [[packStatsSql]]
    * and [[packShardsSql]] consume. One definition so the two oracles can
    * never disagree on the packing itself. */
  private val PackBudget = 256
  private val PackGroups = 64
  private val packAssignedCtes: String = {
    val budget = PackBudget
    val groups = PackGroups
    val fit = "list_position(list_transform(s.rem, x -> x >= d.tokens), true)"
    s"""keyed AS (
       |  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % $groups AS g,
       |         doc_id AS id,
       |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS tokens
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
       |d AS (
       |  SELECT g, id, tokens,
       |    row_number() OVER (PARTITION BY g ORDER BY tokens DESC, id) AS rn
       |  FROM keyed),
       |sim AS (
       |  SELECT g, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS rem,
       |         CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS pack_idx,
       |         CAST(NULL AS BIGINT) AS tokens
       |  FROM (SELECT DISTINCT g FROM d)
       |  UNION ALL
       |  SELECT d.g, d.rn,
       |    CASE WHEN coalesce($fit, 0) = 0
       |         THEN list_append(s.rem, greatest($budget - d.tokens, 0))
       |         ELSE list_transform(s.rem, (x, i) ->
       |           CASE WHEN i = list_position(
       |                  list_transform(s.rem, y -> y >= d.tokens), true)
       |                THEN x - d.tokens ELSE x END)
       |    END AS rem,
       |    d.id,
       |    CASE WHEN coalesce($fit, 0) = 0 THEN len(s.rem)
       |         ELSE $fit - 1
       |    END AS pack_idx,
       |    d.tokens
       |  FROM sim s JOIN d ON d.g = s.g AND d.rn = s.rn + 1),
       |assigned AS MATERIALIZED (SELECT g AS pack_group, pack_idx, id, tokens
       |             FROM sim WHERE rn >= 1)""".stripMargin
  }

  /** Pack-then-shard mirror: the shared FFD `assigned` CTE, the string
    * pack id `<group>#<idx>` (injective for any pack count — an
    * arithmetic encoding would collide past its bit budget and the
    * shared formula would let the hash check PASS on the collision), and
    * the q_train_order epoch-hash/window mirror over the distinct packs,
    * joined back to the doc rows. */
  private val packShardsSql: String =
    s"""WITH RECURSIVE $packAssignedCtes,
       |pk AS (
       |  SELECT DISTINCT
       |    CAST(pack_group AS VARCHAR) || '#' || CAST(pack_idx AS VARCHAR) AS pack_id
       |  FROM assigned),
       |h AS (SELECT pack_id, ${epochHashSql(9, "pack_id")} AS hv FROM pk),
       |coords AS (
       |  SELECT pack_id, CAST(hv % 8 AS BIGINT) AS shard,
       |    CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, pack_id)
       |      AS BIGINT) AS pos
       |  FROM h)
       |SELECT a.id AS doc_id, a.tokens,
       |  CAST(a.pack_group AS BIGINT) AS pack_group,
       |  CAST(a.pack_idx AS BIGINT) AS pack_idx,
       |  c.shard, c.pos
       |FROM assigned a
       |JOIN coords c
       |  ON c.pack_id = CAST(a.pack_group AS VARCHAR) || '#' || CAST(a.pack_idx AS VARCHAR)
       |ORDER BY shard, pos, doc_id""".stripMargin

  /** Pack-budget mirror: shared FFD `assigned`, the pack rollup, the
    * epoch-hash coordinates, then the same (pos, shard)-lexicographic
    * running-sum cut [[trainBudgetPrefixSql]] uses. */
  private val packBudgetSql: String =
    s"""WITH RECURSIVE $packAssignedCtes,
       |packs AS MATERIALIZED (
       |  SELECT CAST(pack_group AS VARCHAR) || '#' || CAST(pack_idx AS VARCHAR) AS pack_id,
       |         CAST(sum(tokens) AS BIGINT) AS pack_tokens
       |  FROM assigned GROUP BY 1),
       |h AS (SELECT pack_id, pack_tokens, ${epochHashSql(9, "pack_id")} AS hv
       |      FROM packs),
       |coords AS (SELECT pack_id, pack_tokens, CAST(hv % 8 AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, pack_id)
       |    AS BIGINT) AS pos FROM h),
       |cut AS (SELECT *, sum(COALESCE(pack_tokens, 0)) OVER (
       |    ORDER BY pos, shard ROWS UNBOUNDED PRECEDING) AS run FROM coords)
       |SELECT pack_id, pack_tokens, shard, pos FROM cut WHERE run <= 10000
       |ORDER BY shard, pos""".stripMargin

  private val packStatsSql: String = {
    val budget = PackBudget
    s"""WITH RECURSIVE $packAssignedCtes,
       |packs AS (
       |  SELECT pack_group, pack_idx, count(*) AS n_docs,
       |         sum(tokens) AS pack_tokens
       |  FROM assigned GROUP BY pack_group, pack_idx)
       |SELECT CAST(pack_group AS BIGINT) AS pack_group,
       |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_packs,
       |  CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       |  CAST(min(pack_tokens) AS BIGINT) AS min_pack_tokens,
       |  CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens,
       |  CAST(sum(CASE WHEN pack_tokens * 10 >= $budget * 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_packs,
       |  CAST(sum(CASE WHEN pack_tokens > $budget THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_packs,
       |  CAST(sum(pack_tokens) AS DOUBLE) / CAST(count(*) * $budget AS DOUBLE) AS utilization
       |FROM packs GROUP BY pack_group ORDER BY pack_group""".stripMargin
  }

  /** Z-score oracle: the identical fixed sequence of double operations
    * over DECIMAL-exact group moments — mean = Σx/n once, variance as
    * Σx²/n − mean², clamped at 0, sqrt, divide — so every score is
    * bit-identical (IEEE ops are correctly rounded in both engines). */
  private val normalizeGroupSql: String =
    """WITH s AS (SELECT l_returnflag,
      |  CAST(count(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS n_d,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_d,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
      |           * CAST(l_quantity AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sumsq_d
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, CAST(l.l_quantity AS DOUBLE) AS l_quantity,
      |  CASE WHEN sqrt(greatest(sumsq_d / n_d - (sum_d / n_d) * (sum_d / n_d), 0)) > 0
      |       THEN (CAST(l.l_quantity AS DOUBLE) - sum_d / n_d)
      |            / sqrt(greatest(sumsq_d / n_d - (sum_d / n_d) * (sum_d / n_d), 0))
      |  END AS z
      |FROM lineitem l JOIN s USING (l_returnflag)
      |ORDER BY l_returnflag, l_quantity""".stripMargin

  /** The ONE SQL mirror of [[graft.operators.TextOps.qualityScore]]:
    * `base` + `q` CTEs computing (doc_id, extra*, quality_score,
    * n_tokens). Shared by every oracle that scores quality — a formula
    * change lands in exactly one place on each side. */
  private def qualitySqlCtes(extra: Seq[String] = Nil): String =
    qualitySqlCtesFrom("documents", "text", extra, prefix = "")

  /** The ONE quality-formula SQL builder (shared-builder rule — extend,
    * don't copy): emits `{p}base` / `{p}q` CTEs computing the engine's
    * quality_score over `textExpr` rows of `fromSql`; `prefix` lets one
    * statement carry several chains (the snapshot-diff quality oracle
    * scores BOTH snapshots). */
  private def qualitySqlCtesFrom(fromSql: String, textExpr: String,
      extra: Seq[String] = Nil, prefix: String = ""): String = {
    val stop = "\\b(the|a|an|and|of|to|in|is|it|for)\\b"
    val sel = ("doc_id" +: extra).mkString(", ")
    s"""${prefix}base AS (
       |  SELECT $sel,
       |    CAST(len(regexp_extract_all($textExpr, '\\S+')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(lower($textExpr), '$stop')) AS BIGINT) AS n_stop,
       |    len(regexp_extract_all($textExpr, '[a-zA-Z]')) AS n_alpha,
       |    CAST(length($textExpr) AS BIGINT) AS n_chars
       |  FROM $fromSql),
       |${prefix}q AS (SELECT $sel,
       |  0.5 * (least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0)
       |  + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0
       |           ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
       |  + 0.2 * (CASE WHEN n_chars IS NULL OR n_chars = 0 THEN 0.0
       |           ELSE CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) END)
       |    AS quality_score,
       |  n_tokens FROM ${prefix}base)""".stripMargin
  }

  /** Budget-selection oracle: the global window-cumsum formulation the
    * two-phase engine reproduces exactly — same quality formula as the
    * top-k-quality oracle, BIGINT token cumsum, prefix cut at the budget. */
  private val selectBudgetSql: String =
    s"""WITH ${qualitySqlCtes()},
       |c AS (SELECT *, SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM q)
       |SELECT doc_id, quality_score, n_tokens
       |FROM c WHERE cum <= $SelectBudgetTokens ORDER BY doc_id""".stripMargin

  /** Per-group budget-selection oracle: the same quality formula and
    * cumsum cut, windowed PER SOURCE with an independent budget each. */
  private val selectBudgetGroupedSql: String =
    s"""WITH ${qualitySqlCtes(Seq("source"))},
       |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source
       |        ORDER BY quality_score DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM q)
       |SELECT doc_id, source, quality_score, n_tokens
       |FROM c WHERE cum <= $SelectBudgetGroupTokens ORDER BY doc_id""".stripMargin

  /** BM25 (portable fixed-point) oracle: identical tokenization, rational
    * RSJ-odds idf, k1=6/5 b=3/4 saturation cleared to integer fractions,
    * and the same two-step BIGINT floor division — bit-identical scores by
    * construction (Search.bm25TopKPortable's scoring contract). */
  private val textBm25Sql: String = {
    val terms = Bm25Terms
    val tokCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n      |    ")
    val dfCols = terms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    }.mkString(", ")
    val scoreTerms = terms.indices.map { i =>
      val num = s"((2 * (g.n - g.df_$i) + 1) * 22 * g.tl * t.tf_$i)"
      val den = s"((2 * g.df_$i + 1) * (10 * g.tl * t.tf_$i + 3 * g.tl + 9 * t.dl * g.n))"
      s"(($num // $den) * 10000 + (($num % $den) * 10000) // $den)"
    }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |                x -> len(x) > 0) AS toks
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |    $tokCols
       |  FROM d),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(dl) AS tl, $dfCols
       |      FROM t),
       |scored AS (
       |  SELECT t.doc_id AS id, CAST($scoreTerms AS BIGINT) AS score,
       |    ${terms.indices.map(i => s"t.tf_$i AS tf_$i").mkString(", ")}
       |  FROM t CROSS JOIN g)
       |SELECT id, score, ${terms.indices.map(i => s"tf_$i").mkString(", ")}
       |FROM scored WHERE score > 0
       |ORDER BY score DESC, id LIMIT 25""".stripMargin
  }

  /** Hybrid-RRF oracle: the BM25 portable-score CTEs (same integer
    * arithmetic as textBm25Sql) and the exact-cosine ANN ranking, each
    * row-numbered after its LIMIT, fused with the identical
    * 10¹² // (60 + rank) integer sum. */
  private val searchHybridSql: String = {
    val terms = Bm25Terms
    val tokCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(", ")
    val dfCols = terms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
    }.mkString(", ")
    val scoreTerms = terms.indices.map { i =>
      val num = s"((2 * (g.n - g.df_$i) + 1) * 22 * g.tl * t.tf_$i)"
      val den = s"((2 * g.df_$i + 1) * (10 * g.tl * t.tf_$i + 3 * g.tl + 9 * t.dl * g.n))"
      s"(($num // $den) * 10000 + (($num % $den) * 10000) // $den)"
    }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |                x -> len(x) > 0) AS toks
       |  FROM documents),
       |t AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, $tokCols FROM d),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(dl) AS tl, $dfCols FROM t),
       |bscored AS (SELECT t.doc_id AS id, $scoreTerms AS score FROM t CROSS JOIN g),
       |lex AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) rnk
       |        FROM (SELECT id, score FROM bscored WHERE score > 0
       |              ORDER BY score DESC, id LIMIT 25)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |q AS (SELECT v FROM e WHERE vec_id = 0),
       |ascored AS (SELECT e.vec_id, list_cosine_similarity(e.v, (SELECT v FROM q)) c FROM e),
       |ann AS (SELECT vec_id AS id, row_number() OVER (ORDER BY c DESC, vec_id) rnk
       |        FROM (SELECT vec_id, c FROM ascored ORDER BY c DESC, vec_id LIMIT 20)),
       |u AS (SELECT id, 1000000000000 // (60 + rnk) c FROM lex
       |      UNION ALL SELECT id, 1000000000000 // (60 + rnk) FROM ann),
       |f AS (SELECT id, CAST(sum(c) AS BIGINT) rrf_scaled,
       |             CAST(count(*) AS BIGINT) n_lists FROM u GROUP BY id)
       |SELECT CAST(row_number() OVER (ORDER BY rrf_scaled DESC, id) AS BIGINT) AS "rank",
       |  id, rrf_scaled, n_lists
       |FROM f ORDER BY rrf_scaled DESC, id LIMIT 20""".stripMargin
  }

  /** Quality-suite oracle: each constraint as its own exact count, unioned.
    * NULL predicate results count as violations (COALESCE to 1), mirroring
    * the engine's unknown-is-not-a-pass rule. */
  private val qualityChecksSql: String =
    """SELECT * FROM (
      |SELECT 'row_count' AS "check", CAST(count(*) AS BIGINT) violations FROM lineitem
      |UNION ALL SELECT 'not_null(l_orderkey)', CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'not_null(l_shipdate)', CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'in_range(l_quantity)', CAST(sum(COALESCE(CAST(l_quantity < 1.0 OR l_quantity > 50.0 AS INT), 1)) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'in_range(l_discount)', CAST(sum(COALESCE(CAST(l_discount < 0.0 OR l_discount > 0.08 AS INT), 1)) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'in_set(l_returnflag)', CAST(sum(COALESCE(CAST(l_returnflag NOT IN ('A','N','R') AS INT), 1)) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'in_set(l_linestatus)', CAST(sum(COALESCE(CAST(l_linestatus NOT IN ('O','F') AS INT), 1)) AS BIGINT) FROM lineitem
      |UNION ALL SELECT 'unique(l_orderkey,l_linenumber)', COALESCE((SELECT CAST(sum(n) AS BIGINT) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)), 0)
      |UNION ALL SELECT 'ref(l_orderkey->orders)', (SELECT CAST(count(*) AS BIGINT) FROM lineitem l WHERE l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |UNION ALL SELECT 'ref(l_partkey->part)', (SELECT CAST(count(*) AS BIGINT) FROM lineitem l WHERE l_partkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |) ORDER BY "check"""".stripMargin

  private val privacyKanonSql: String =
    """SELECT * FROM (
      |SELECT 'row_count' AS "check", CAST(count(*) AS BIGINT) violations FROM customer
      |UNION ALL SELECT 'not_null(c_name)', CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer
      |UNION ALL SELECT 'matches_regex(c_name)', CAST(sum(COALESCE(CAST(NOT regexp_matches(c_name, '^Customer#[0-9]+$') AS INT), 1)) AS BIGINT) FROM customer
      |UNION ALL SELECT 'in_range(c_acctbal)', CAST(sum(COALESCE(CAST(c_acctbal < -999.99 OR c_acctbal > 9999.99 AS INT), 1)) AS BIGINT) FROM customer
      |UNION ALL SELECT 'k_anonymity(10:c_nationkey,c_mktsegment)', COALESCE((SELECT CAST(sum(n) AS BIGINT) FROM (SELECT count(*) n FROM customer GROUP BY c_nationkey, c_mktsegment HAVING count(*) < 10)), 0)
      |) ORDER BY "check"""".stripMargin

  /** Triangle oracle: naive id-ordered 3-way join over the same
    * co-occurrence edge set — orientation-free, counts identical. */
  private val graphTrianglesSql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem WHERE l_partkey % 4 = 0),
      |e AS (SELECT DISTINCT x.p AS u, y.p AS v FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
      |t AS (SELECT e1.u a, e1.v b, e2.v c
      |      FROM e e1 JOIN e e2 ON e2.u = e1.v
      |                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |n AS (SELECT unnest([a, b, c]) node FROM t)
      |SELECT node, CAST(count(*) AS BIGINT) n_triangles FROM n
      |GROUP BY node ORDER BY node""".stripMargin

  private val salesCubeSql: String =
    """SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
      |  COALESCE(l_linestatus, '<all>') AS l_linestatus,
      |  COALESCE(CAST(year(l_shipdate) AS BIGINT), -1) AS ship_year,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus, year(l_shipdate))
      |ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin

  /** Keyword oracle: same whitespace tokenization as the vocabulary oracle,
    * same scaled-rational score, row_number for the per-doc top-3. */
  private val docsKeywordsSql: String =
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) token FROM documents),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) tf FROM toks GROUP BY 1, 2),
      |dfq AS (SELECT token, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
      |scored AS (SELECT doc_id, token, tf * 1000000000 // df AS score_scaled,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY tf * 1000000000 // df DESC, token) rnk
      |  FROM tf JOIN dfq USING (token))
      |SELECT doc_id, CAST(rnk AS BIGINT) AS "rank", token, score_scaled
      |FROM scored WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** CUSUM oracle: identical prefix-sum / running-min windows in BIGINT
    * micro-units (the empty-prefix 0 in the min encodes the reset). */
  private val eventsCusumSql: String =
    """WITH b AS (SELECT user_id, event_id, epoch_us(ts) ts_us,
      |  CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) value_us FROM events),
      |p AS (SELECT user_id, event_id, ts_us, value_us,
      |  sum(value_us - 60000000) OVER w pfx FROM b
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c AS (SELECT user_id, event_id, ts_us, value_us,
      |  pfx - least(0, min(pfx) OVER w2) cusum_us FROM p
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id, ts_us, value_us, CAST(cusum_us AS BIGINT) cusum_us
      |FROM c WHERE cusum_us > 200000000 ORDER BY event_id""".stripMargin

  /** Anomaly oracle: identical ROWS-framed window and cross-multiplied
    * BIGINT deviation test over exact micro-unit values. */
  private val eventsAnomalySql: String =
    """WITH base AS (SELECT user_id, event_id, epoch_us(ts) ts_us,
      |  CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) value_us FROM events),
      |w AS (SELECT user_id, event_id, ts_us, value_us,
      |  CAST(count(*) OVER tw AS BIGINT) trailing_n,
      |  COALESCE(CAST(sum(value_us) OVER tw AS BIGINT), 0) trailing_sum_us
      |  FROM base
      |  WINDOW tw AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |                ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, ts_us, value_us, trailing_n, trailing_sum_us
      |FROM w
      |WHERE trailing_n >= 5
      |  AND abs(trailing_n * value_us - trailing_sum_us) * 100 > 300 * abs(trailing_sum_us)
      |ORDER BY event_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_search_hybrid" -> searchHybridSql,
    "q_quality_checks" -> qualityChecksSql,
    "q_privacy_kanon" -> privacyKanonSql,
    "q_graph_triangles" -> graphTrianglesSql,
    "q_sales_cube" -> salesCubeSql,
    "q_docs_keywords" -> docsKeywordsSql,
    "q_events_anomaly" -> eventsAnomalySql,
    "q_events_cusum" -> eventsCusumSql,
    "q_events_stream_cusum" -> eventsCusumSql,
    "q_events_windowed" -> eventsWindowedSql,
    "q_events_incr_rollup" -> eventsWindowedSql,
    "q_events_asof" -> eventsAsofSql,
    "q_events_sessions" -> eventsSessionsSql,
    "q_events_streamed" -> eventsStreamedSql,
    "q_events_rangejoin" -> eventsRangeJoinSql,
    "q_events_stream_join" -> eventsRangeJoinSql,
    "q_events_stream_anomaly" -> eventsAnomalySql,
    "q_events_stream_enrich" -> eventsStreamEnrichSql,
    "q_events_stream_sessions" -> eventsStreamSessionsSql,
    "q_events_stream_topk" -> streamTopKSql,
    "q_events_trailing" -> eventsTrailingSql,
    "q_events_funnel" -> eventsFunnelSql,
    "q_events_cohort" -> eventsCohortSql,
    "q_events_sliding" -> eventsSlidingSql,
    "q_normalize_rank" -> normalizeRankSql,
    "q_graph_pagerank" -> graphPageRankSql,
    "q_graph_khop" -> graphKHopSql,
    "q_graph_labelprop" -> graphLabelPropSql,
    "q_graph_ppr" -> graphPprSql,
    "q_layout_zorder" -> layoutZOrderSql,
    "q_layout_partitioned" -> layoutPartitionedSql,
    "q_text_bm25" -> textBm25Sql,
    "q_text_bm25_indexed" -> textBm25Sql,
    "q_text_grep" ->
      s"""SELECT doc_id FROM documents
         |WHERE contains(text, '$GrepPattern') ORDER BY doc_id""".stripMargin,
    "q_select_budget" -> selectBudgetSql,
    "q_select_budget_grouped" -> selectBudgetGroupedSql,
    "q_normalize_group" -> normalizeGroupSql,
    "q_normalize_winsor" -> normalizeWinsorSql,
    "q_pack_stats" -> packStatsSql,
    "q_pack_shards" -> packShardsSql,
    "q_pack_budget" -> packBudgetSql,
    "q_docs_lang_rollup" -> langRollupSql,
    "q_docs_rollup" -> docsRollupSql,
    "q_docs_pivot" -> docsPivotSql,
    "q_docs_curriculum" -> docsCurriculumSql,
    "q_events_props" -> eventsPropsSql,
    "q_split_counts" -> splitCountsSql,
    "q_shuffle_export" -> shuffleExportSql,
    "q_export_manifest" -> exportManifestSql,
    "q_export_range" -> exportRangeSql,
    "q_export_range_str" -> exportRangeStrSql,
    "q_corpus_diff" -> corpusDiffSql,
    "q_cdc_scd2" -> cdcScd2Sql,
    "q_text_stats" -> statsSql,
    "q_text_pii" -> piiSql,
    "q_text_repetition" -> repetitionSql,
    "q_lm_ngram_score" -> lmNgramScoreSql,
    "q_text_boilerplate" -> boilerplateSql,
    "q_text_boilerplate_para" -> boilerplateParaSql,
    "q_text_vocab" -> vocabSql,
    "q_text_heavy_hitters" -> heavyHittersSql,
    "q_text_heavy_hitters_grouped" -> heavyHittersGroupedSql,
    "q_text_heavy_hitters_stream" -> heavyHittersGroupedSql,
    "q_hh_erasure_late" -> heavyHittersLateEraseSql,
    "q_sketch_countmin" -> countMinSql,
    "q_sketch_distinct" -> distinctSketchSql,
    "q_sketch_distinct_grouped" -> distinctSketchGroupedSql,
    "q_events_stream_distinct" -> distinctSketchGroupedSql,
    "q_fuzzy_join" -> fuzzyJoinSql,
    "q_entity_resolution" -> entityResolutionSql,
    "q_sketch_join_size" -> joinSizeSql,
    "q_text_lang_agreement" -> langAgreementSql,
    "q_bpe_merges" -> bpeMergesSql,
    "q_bpe_tokenize" -> bpeTokenizeSql,
    "q_text_collocations" -> textCollocationsSql,
    "q_sample_stratified" -> stratifiedSql,
    "q_mixture_plan" -> mixturePlanSql,
    "q_mixture_sample" -> mixtureSampleSql,
    "q_train_order" -> trainOrderSql,
    "q_train_interleave" -> trainInterleaveSql,
    "q_train_interleave_shards" -> trainInterleaveShardsSql,
    "q_train_resume" -> trainResumeSql,
    "q_train_resume_ragged" -> trainResumeRaggedSql,
    "q_train_manifest" -> trainManifestSql,
    "q_train_epochs" -> trainEpochsSql,
    "q_train_curriculum" -> trainCurriculumSql,
    "q_train_curriculum_quantiles" -> trainCurriculumQuantilesSql,
    "q_train_temperature" -> trainTemperatureSql,
    "q_train_budget_prefix" -> trainBudgetPrefixSql,
    "q_train_budget_indexed" -> trainBudgetPrefixSql,
    "q_pref_pairs" -> prefPairsSql,
    "q_group_advantage" -> groupAdvantageSql,
    "q_eval_win_matrix" -> winMatrixSql,
    "q_eval_bradley_terry" -> bradleyTerrySql,
    "q_eval_stream_matrix" -> winMatrixSql,
    "q_eval_stream_strengths" -> bradleyTerrySql,
    "q_eval_stream_consolidated" -> winMatrixSql,
    "q_rl_returns" -> rlReturnsSql,
    "q_rl_returns_gamma" -> rlReturnsGammaSql,
    // the layout round trip must reproduce the coordinate computation
    // exactly — same oracle by design
    "q_train_shards" -> trainOrderSql,
    "q_docs_topk_quality" -> topkQualitySql,
    "q_quality_adaptive" -> qualityAdaptiveSql,
    "q_quality_bootstrap" -> qualityBootstrapSql,
    "q_sample_per_source" -> samplePerSourceSql,
    "q_sample_weighted" -> sampleWeightedSql,
    "q_sample_weighted_grouped" -> sampleWeightedGroupedSql,
    "q_profile_numeric" -> numericProfileSql,
    "q_profile_histogram" -> profileHistogramSql,
    "q_profile_histogram_depth" -> profileHistogramDepthSql,
    "q_profile_chi2" -> profileChi2Sql,
    "q_profile_ks" -> profileKsSql,
    "q_profile_ks_grouped" -> profileKsGroupedSql,
    "q_profile_ks_ranked" -> profileKsRankedSql,
    "q_graph_ppr_docs" -> graphPprDocsSql,
    "q_events_chi2_drift" -> eventsChi2Sql,
    "q_cdc_apply" -> cdcApplySql,
    "q_cdc_stream_apply" -> cdcApplySql,
    "q_cdc_join_view" -> cdcJoinViewSql,
    "q_source_orc" -> sourceOrcSql,
    "q_profile_corr" -> profileCorrSql,
    "q_profile_outliers" -> profileOutliersSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_clean_corpus" -> cleanCorpusSql,
    "q_corpus_retention" -> corpusRetentionSql,
    "q_erasure_e2e" -> erasureE2eSql,
    "q_curation_pipeline" -> curationPipelineSql,
    "q_dedup_jaccard_pairs" -> jaccardSql,
    "q_contamination" -> contaminationSql,
    "q_decontaminated_corpus" -> decontaminatedSql,
    "q_contamination_bloom" -> contaminationSql,
    "q_contamination_matrix" -> contaminationMatrixSql,
    "q_contamination_ratio" -> contaminationRatioSql,
    "q_dedup_minhash_lsh" -> minhashSql,
    "q_dedup_keep_best" -> dedupKeepBestSql,
    "q_split_leakage" -> splitLeakageSql,
    "q_split_cluster_safe" -> splitClusterSafeSql,
    "q_dedup_cluster_sizes" -> dedupClusterSizesSql,
    "q_dedup_simhash" -> simhashSql,
    "q_dedup_winnow" -> winnowSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
    "q_dedup_substring" -> dedupSubstringSql,
    "q_text_chunks" -> textChunksSql,
    "q_text_strip_markup" -> textStripMarkupSql,
    "q_text_classifier" -> textClassifierSql,
    "q_text_classifier_train" -> textClassifierTrainSql,
    "q_ann_topk" -> annTopKSql,
    "q_ann_rp" -> annRpSql,
    "q_ann_rp_persisted" -> annRpSql,
    "q_ann_topk_multi" -> annTopKMultiSql,
    "q_ann_filtered" -> annFilteredSql,
    "q_ann_knn" -> annKnnSql,
    "q_ann_topk_quantized" -> annTopKQuantizedSql,
    "q_ann_pq" -> annPqSql,
    "q_ann_ivf_pq" -> annIvfPqSql,
    "q_ann_ivf_pq_residual" -> annIvfPqResidualSql,
    "q_ann_pq_persisted" -> annIvfPqSql,
    "q_ann_pq_streamed" -> annIvfPqSql,
    "q_ann_ivf" -> annTopKSql,
    "q_ann_ivf_trained" -> annIvfTrainedSql,
    "q_ann_ivf_persisted" -> annTopKSql,
    "q_ann_ivf_streamed" -> annTopKSql,
    "q_ann_cluster_stats" -> annClusterStatsSql,
    "q_ann_lsh_bucketed" -> annLshBucketedSql,
    "q_skew_agg" -> skewAggSql,
    "q_sales_by_nation" -> salesByNationSql,
    "q_top_customers" -> topCustomersSql,
    "q_profile_drift" -> profileDriftSql,
    "q_embedding_cosine_pairs" -> cosinePairsLsh2Sql,
    "q_embedding_cosine_lsh" -> cosineLshSql,
    // the persisted-index form reads stored signatures that are
    // bit-identical to the on-the-fly ones — same pairs, same oracle
    "q_embedding_cosine_lsh_persisted" -> cosineLshSql,
    "q_embedding_incremental" -> embeddingIncrementalSql,
    "q_embedding_align" -> embeddingAlignSql,
    "q_embedding_align_margin" -> embeddingAlignMarginSql,
    "q_embedding_align_lsh" -> embeddingAlignLshSql,
    "q_embedding_align_lsh_margin" -> embeddingAlignLshMarginSql,
    "q_ann_recall" -> annRecallSql,
    "q_ann_mrr" -> annMrrSql,
    "q_ann_retrieval_summary" -> annRetrievalSummarySql,
    "q_semantic_dedup" -> semanticDedupSql,
    "q_multimodal_meta" -> multimodalMetaSql,
    "q_multimodal_features" -> multimodalFeaturesSql,
    "q_multimodal_near_dup" -> multimodalNearDupSql,
    "q_multimodal_near_dup_dhash" -> multimodalNearDupDhashSql,
    "q_multimodal_near_dup_audio" -> multimodalNearDupAudioSql,
    "q_multimodal_probe_index_audio" -> multimodalProbeIndexAudioSql,
    "q_multimodal_probe_index_video" -> multimodalProbeIndexVideoSql,
    "q_multimodal_near_dup_video" -> multimodalNearDupVideoSql,
    "q_multimodal_probe_index" -> multimodalProbeIndexSql,
    "q_multimodal_incremental" -> multimodalIncrementalSql)
}

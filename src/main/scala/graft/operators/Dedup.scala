package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the distributed plan it produces at 100 TB:
  *
  *   - exact: hash-groupBy — one shuffle on the content hash.
  *   - n-gram Jaccard: inverted-index join (explode distinct shingles →
  *     self-join on shingle → pair-count agg) — exact pairwise similarity
  *     without an O(n²) cross join; shuffles are bounded by posting-list
  *     sizes, and hot shingles can be capped via `maxDocFrequency`.
  *   - MinHash + LSH: signature per doc (no explode — array expressions),
  *     banding, bucket self-join on (band, slice-hash) — approximate with
  *     tunable recall; candidate verification with exact Jaccard.
  *   - SimHash: 64-bit near-dup fingerprint via per-bit majority of token
  *     hashes; hamming-close pairs via multi-block indexing.
  */
object Dedup {

  /** Connected components over an undirected pair graph via iterative
    * min-label propagation: each round, every node adopts the smallest
    * label among itself and its neighbours; converged when no label moves.
    * Returns (id, component) for every id appearing in `pairs`, where
    * `component` is the smallest id in that node's component.
    *
    * Scale shape: the edge set (near-dup PAIRS — sparse by construction,
    * bounded by the LSH candidate caps) is what shuffles, never the corpus;
    * iteration count is the graph diameter, which for dedup clusters is
    * small (chains of near-dups). Labels and edges are persisted per
    * round; `maxIters` bounds pathological chains, erring on the side of
    * dropping fewer docs (unconverged labels are still valid component
    * members, just possibly not the global min). */
  def connectedComponents(
      pairs: DataFrame, id1: String = "id1", id2: String = "id2",
      maxIters: Int = 30, localThreshold: Long = 1L << 20): DataFrame = {
    val p = pairs.select(col(id1).cast("long").as("a"), col(id2).cast("long").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = p.count()
    try {
      if (m <= localThreshold) localComponents(p) else distributedComponents(p, maxIters)
    } finally p.unpersist()
  }

  /** Driver-side union-find for pair graphs below the threshold — the
    * normal case: a near-dup pass over any corpus yields orders of
    * magnitude fewer pairs than documents, and 2^20 edges is ~16 MB on
    * the driver vs ~10 Spark jobs of pure overhead for the iterative
    * path (measured 8.4s for a 241-edge graph at 32 shuffle partitions). */
  private def localComponents(p: DataFrame): DataFrame = {
    val edges = p.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.map(id => (id, find(id))).toSeq
    // roots are component minima already (unions always point max → min)
    val sp = p.sparkSession
    import sp.implicits._
    comp.toDF("id", "comp")
  }

  /** Iterative min-label propagation with pointer jumping for graphs too
    * large to collect: each round every node adopts the min label among
    * itself, its neighbours, AND its label's label (path halving), so
    * convergence is O(log diameter) rounds, not O(diameter). Only the
    * sparse pair graph ever shuffles. */
  private def distributedComponents(p: DataFrame, maxIters: Int): DataFrame = {
    val edges = p
      .union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint (eager) TRUNCATES LINEAGE each round: the label frame
    // appears four times in every round's plan (self-join + unions), so
    // without truncation the logical plan grows 4^rounds and Catalyst
    // planning OOMs long before the data does. Tradeoff: checkpointed
    // blocks are not recomputable after executor loss — re-run the pass
    // if that happens (it is a bounded dedup step, not a long pipeline).
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    try {
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        val viaNeighbor = edges
          .join(labels.withColumnsRenamed(Map("id" -> "b_id", "comp" -> "b_comp")),
            col("b") === col("b_id"))
          .select(col("a").as("id"), col("b_comp").as("comp"))
        val viaLabel = labels // pointer jumping: comp ← comp(comp)
          .join(labels.withColumnsRenamed(Map("id" -> "c_id", "comp" -> "c_comp")),
            col("comp") === col("c_id"))
          .select(col("id"), col("c_comp").as("comp"))
        val next = labels.union(viaNeighbor).union(viaLabel)
          .groupBy("id").agg(min(col("comp")).as("comp"))
          .localCheckpoint()
        changed = next
          .join(labels.withColumnsRenamed(Map("id" -> "o_id", "comp" -> "o_comp")),
            col("id") === col("o_id"))
          .filter(col("comp") =!= col("o_comp")).count()
        labels.unpersist()
        labels = next
        iter += 1
      }
      labels
    } finally edges.unpersist()
  }

  /** End-to-end corpus cleaning — the composition a training pipeline runs
    * before tokenization, in the standard order:
    *
    *   1. quality filter (drop `low_quality` docs — cheap, narrow, first so
    *      later shuffles see less data);
    *   2. exact dedup (min-id winner per normalized content hash);
    *   3. near-dup removal, CLUSTER-TRANSITIVE: the discovered pairs form a
    *      graph; [[connectedComponents]] keeps exactly the lowest id of
    *      each connected component. A pair-local policy (drop every id2)
    *      can keep two docs that are both near-dups of a third whose pair
    *      was never a MinHash candidate — the component pass closes that
    *      gap, matching what large training pipelines ship.
    *
    * Each stage is the already-tested operator; this just fixes the order
    * and the keep-component-min policy.
    *
    * `portableHashes` switches the near-dup pass to the md5 hash family
    * ([[minhashNearDuplicatesMd5]]) — same pipeline and cost shape, but
    * every hash is engine-mirrorable, which is what lets the WHOLE
    * composite (filter → dedup → LSH → connected components → anti-join)
    * be checked against a DuckDB oracle end to end. The xxhash64 default
    * remains the fast path; the two families can keep different LSH
    * candidate sets (each family misses different below-threshold pairs). */
  def cleanCorpus(
      df: DataFrame,
      textCol: String,
      idCol: String,
      nearDupThreshold: Double = 0.8,
      portableHashes: Boolean = false,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = CacheScope.pass {
    val quality = df.where(!TextOps.lowQualityFlag(col(textCol)))
    // two consumers (near-dup discovery + the final anti-join): persist so
    // the fingerprint groupBy + semi-join lineage runs once
    val exact = CacheScope.persist(exactDedup(quality, textCol, idCol))
    val pairs =
      if (portableHashes)
        minhashNearDuplicatesMd5(exact, textCol, idCol, nearDupThreshold,
          numHashes = numHashes, bands = bands)
      else
        minhashNearDuplicates(exact, textCol, idCol, nearDupThreshold,
          numHashes = numHashes, bands = bands)
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("comp")) // keep the component minimum
      .select(col("id").as("drop_id"))
    exact.join(losers, exact(idCol) === losers("drop_id"), "left_anti")
  }

  /** Exact duplicate groups by content hash of `textCol` (normalized md5).
    * Returns one row per group: (fingerprint, keep_id, n_dupes). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Exact dedup: keep the minimum-id row per content hash.
    *
    * ONE scan + ONE shuffle: `min_by(struct(row), orderingKey)` keyed by
    * the content fingerprint, with map-side partial aggregation — each map
    * partition forwards at most one candidate row per distinct
    * fingerprint, so a million identical copies of a hot document
    * collapse before the shuffle. The earlier groups + semi-join
    * formulation scanned the input twice (both join sides) and shuffled
    * every row; this is strictly less I/O at any scale, and skew-proof
    * by construction.
    *
    * Determinism: the ordering key is `struct(id, row)` — on duplicate ids
    * the full row breaks the tie under struct lexicographic order, so the
    * kept row is input-order-independent even when ids repeat. NULL ids
    * sort FIRST (struct fields compare nulls-smallest), so a group whose
    * ids are all NULL keeps a real (deterministic) row rather than being
    * dropped; pre-filter NULL ids if they should not win. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = df.columns.toSeq
    val rowStruct = struct(cols.map(col): _*)
    df.groupBy(TextOps.fingerprint(col(textCol)).as("__graft_fp"))
      .agg(min_by(rowStruct, struct(col(idCol).as("__k") +: cols.map(col): _*))
        .as("__graft_row"))
      .select(cols.map(c => col(s"__graft_row.`$c`").as(c)): _*)
  }

  /** Exact pairwise Jaccard over distinct word n-grams via inverted index.
    *
    * Plan: docs → (id, shingle) postings (distinct) → self-join postings on
    * shingle with id1 < id2 → count co-occurrences → jaccard from
    * |A∩B| / (|A|+|B|-|A∩B|). Only pairs sharing ≥1 shingle are ever
    * materialized. `maxDocFrequency` drops ubiquitous shingles (stopword
    * shingles produce quadratic postings at scale). */
  def jaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDocFrequency: Long = Long.MaxValue): DataFrame = CacheScope.pass {
    // postings carry 64-bit gram hashes, not strings: ~4× smaller shuffle
    // and primitive join keys (collision odds at 64 bits are negligible)
    val grams = df.select(col(idCol).as("id"), TextOps.wordShingles(col(textCol), n).as("g"))
      .select(col("id"), explode(col("g")).as("gs"))
      .select(col("id"), xxhash64(col("gs")).as("g"))
    val filteredPlan =
      if (maxDocFrequency == Long.MaxValue) grams
      else {
        // Cache the RAW postings, not just the hot-filtered ones: the hot
        // table derives from `grams` AND feeds the anti-join whose other
        // side is `grams` again, so an uncached `grams` re-runs the whole
        // scan+shingle+hash pass for each — two full text passes, which
        // the r17 probe measured as two ~1.1s single-task scan stages at
        // sf0.1 and which at 100 TB is a second pass over the corpus
        // (guide §1.2: remove the duplicate input pass first). Postings
        // are two longs per (doc, gram); the downstream `filtered` cache
        // then fills from this one with a map-side anti join.
        val g = CacheScope.persist(grams)
        // toDF breaks the self-join lineage: without fresh attribute IDs the
        // anti-join condition resolves both sides to the SAME attribute and
        // drops every row.
        val hot = g.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFrequency).select("g").toDF("hot_g")
        g.join(hot, col("g") === col("hot_g"), "left_anti")
      }
    // The postings feed three consumers (sizes + both sides of the pair
    // join); without persistence the regex shingling stage re-executes for
    // each. Postings are two longs per (doc, gram) — far smaller than the
    // input text — so caching them is the right trade at any scale.
    val filtered = CacheScope.persist(filteredPlan)
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    // postings carry their document's gram-set size so (a) the classic
    // length filter prunes size-incompatible pairs BEFORE the pair
    // aggregation — J(A,B) ≤ min/max ⇒ J ≥ t requires t·|A| ≤ |B| and
    // t·|B| ≤ |A| — and (b) the final jaccard needs no size re-joins
    val withSz = filtered.join(sizes, "id")
    val a = withSz.toDF("id1", "g", "sz1")
    val b = withSz.toDF("id2", "g", "sz2")
    // relax the bound by a relative epsilon so double rounding of
    // size*threshold can never prune a pair whose exact Jaccard sits
    // exactly on the threshold (e.g. 100*0.55 = 55.000000000000007 > 55)
    val tSafe = threshold * (1.0 - 1e-9)
    a.join(b, Seq("g"))
      .where(col("id1") < col("id2") &&
        col("sz1") * tSafe <= col("sz2") && col("sz2") * tSafe <= col("sz1"))
      .groupBy("id1", "id2", "sz1", "sz2").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Portable 2-universal hash pair from ONE md5 per value: two 48-bit longs
    * parsed from the digest's hex halves. The i-th member of the family is
    * `a + (i+1)*b` — the classic multiply-shift construction; with i ≤ 127
    * the result stays under 2^56, so the arithmetic is ANSI-overflow-safe
    * AND bit-identical in any engine with md5 + hex parsing (DuckDB:
    * `('0x' || substr(md5(x), …))::BIGINT`) — which is what makes the
    * MinHash/SimHash queries oracle-checkable, unlike xxhash64. */
  /** 48-bit long from the first 12 hex chars of an md5 column — THE
    * engine-portable parse (DuckDB: `('0x' || substr(h, 1, 12))::BIGINT`);
    * kept in one place so the oracle-mirroring contract can't drift. */
  def md5Prefix48(h: Column): Column =
    conv(substring(h, 1, 12), 16, 10).cast("long")

  /** The same 48-bit prefix computed from the value's BYTES in one fused
    * digest ([[graft.functions.Md5Longs]]) — no hex round trip. Equal to
    * `md5Prefix48(md5(c))` for every input. */
  def md5Long48(c: Column): Column =
    graft.functions.Md5Longs.longs(c).getItem(0)

  def md5HashPair(c: Column): (Column, Column) = {
    val l = graft.functions.Md5Longs.longs(c.cast("binary"))
    (l.getItem(0), l.getItem(1))
  }

  /** MinHash signatures from the portable md5 family: one md5 per shingle,
    * `numHashes` linear combinations, single-pass min-agg per id. Same plan
    * shape (and cost: one digest per gram, the rest is codegen'd integer
    * math) as [[minhashSignatures]], but engine-mirrorable. */
  def minhashSignaturesMd5(
      shingled: DataFrame, // (id, g: array<string>)
      numHashes: Int): DataFrame = {
    val (a, b) = md5HashPair(col("s"))
    val hashed = shingled
      .select(col("id"), explode(col("g")).as("s"))
      .select(col("id"), a.as("ha"), b.as("hb"))
    val mins = (0 until numHashes).map(i =>
      min(col("ha") + lit((i + 1).toLong) * col("hb")).as(s"m$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("minhash"))
  }

  /** MinHash signatures via explode + hash-aggregate: (id, shingle) postings
    * → `numHashes` xxhash64(seed=i, shingle) columns (whole-stage codegen) →
    * single-pass min-agg per id → signature array.
    *
    * Nested array lambdas (`transform` inside `transform`) would express
    * this without a shuffle, but Spark evaluates higher-order functions
    * interpreted — measured 400× slower than this codegen'd agg. The one
    * shuffle here moves numDocs × numHashes longs — the same size as the
    * signatures themselves, so it's minimal for the output produced. */
  def minhashSignatures(
      shingled: DataFrame, // (id, g: array<string>)
      numHashes: Int): DataFrame = {
    val hashed = shingled
      .select(col("id"), explode(col("g")).as("s"))
      .select(col("id") +: (0 until numHashes)
        .map(i => xxhash64(lit(i), col("s")).as(s"h$i")): _*)
    val mins = (0 until numHashes).map(i => min(col(s"h$i")).as(s"m$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("minhash"))
  }

  /** MinHash signature attached to `df` (joined back on the id). */
  def withMinhashSignature(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame = {
    val shingled = df.select(col(idCol).as("id"),
      TextOps.wordShingles(col(textCol), shingleSize).as("g"))
    df.join(minhashSignatures(shingled, numHashes).withColumnRenamed("id", idCol), idCol)
  }

  /** Banded (id, band, bucket) postings from a signature frame: one bucket
    * per band, keyed by a hash of that band's signature slice. Bucket
    * equality ⟺ slice equality (modulo 64-bit hash collisions, which only
    * ADD candidates — exact verification erases them). Shared by the
    * self-join candidate pass and the persisted-index probe path. */
  def bandedSignaturePostings(
      withSig: DataFrame, idCol: String,
      numHashes: Int, bands: Int, sigCol: String = "minhash"): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val r = numHashes / bands
    withSig.select(
      col(idCol).as("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(lit("band"), b, slice(col(sigCol), b * r + lit(1), lit(r)))))
        .as(Seq("band", "bucket")))
  }

  /** LSH banding: `bands` buckets per doc keyed by a hash of each signature
    * slice; docs sharing any (band, slice-hash) become candidates.
    * r = numHashes / bands rows per band: P(candidate) = 1-(1-j^r)^b. */
  def lshCandidatePairs(
      withSig: DataFrame,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      sigCol: String = "minhash"): DataFrame = {
    val banded = bandedSignaturePostings(withSig, idCol, numHashes, bands, sigCol)
    val a = banded.toDF("id1", "band", "bucket")
    val b = banded.toDF("id2", "band", "bucket")
    a.join(b, Seq("band", "bucket")).where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** [[minhashNearDuplicates]] over the portable md5 hash family — identical
    * pipeline (signature → banding → candidates → exact-Jaccard verify), but
    * every hash is engine-mirrorable, so the whole result is DuckDB
    * oracle-checkable. Grams stay as strings for the verify intersect. */
  def minhashNearDuplicatesMd5(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame = CacheScope.pass {
    // shared by the signature pass and both verification sides — persist so
    // the regex shingling runs once (same rationale as jaccardPairs)
    val shingled = df.select(col(idCol).as("id"),
      TextOps.wordShingles(col(textCol), shingleSize).as("g"))
      .transform(CacheScope.persist)
    val withSig = minhashSignaturesMd5(shingled, numHashes)
    val candidates = lshCandidatePairs(withSig, "id", numHashes, bands)
    val g1 = shingled.toDF("id1", "g1")
    val g2 = shingled.toDF("id2", "g2")
    candidates.join(g1, "id1").join(g2, "id2")
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("g1")) + size(col("g2")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Build (or extend) a persisted MinHash-LSH index of a corpus — the
    * INGEST-TIME half of incremental dedup. At 100 TB you never re-shingle
    * the corpus per arriving batch: the banded signature postings
    * (id, band, bucket) are computed once here and persisted, partitioned
    * by a `prefixBits`-bit prefix of the bucket hash so a probe reads only
    * the partition directories its own buckets land in (a PARTITION filter
    * — the same pruned-layout device as the persisted ANN layouts).
    *
    * `mode = "append"` is the rolling-ingest path: after a batch is probed
    * and its survivors accepted, their postings append into the same
    * partition scheme — no rewrite of existing postings, and the next
    * batch's probe sees them.
    *
    * Size `prefixBits` to the corpus: each of the 2^prefixBits partition
    * directories should hold enough postings to amortize a file open
    * (hundreds of MB at 100 TB corpus scale → 12-16 bits; small corpora →
    * 6-8 bits). Pruning effectiveness is the other side of the same dial:
    * a probe reads ≈ min(|batch|·bands, 2^prefixBits) partitions, so the
    * prefix space must exceed the typical batch's bucket count for the
    * partition filter to bite.
    *
    * The md5 hash family keeps every bucket engine-mirrorable
    * (oracle-checkable); postings are three longs per (doc, band) —
    * `bands` rows per document regardless of document size. */
  def writeMinhashIndexMd5(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      prefixBits: Int = 12,
      mode: String = "overwrite"): Unit = {
    if (mode == "append" && graft.sources.LayoutMeta.exists(path, PrefixBitsFile)) {
      val existing = graft.sources.LayoutMeta.read(path, PrefixBitsFile).trim.toInt
      require(existing == prefixBits,
        s"index at $path was written with prefixBits=$existing, append requested $prefixBits")
    }
    val shingled = corpus.select(col(idCol).as("id"),
      TextOps.wordShingles(col(textCol), shingleSize).as("g"))
    bandedSignaturePostings(minhashSignaturesMd5(shingled, numHashes), "id",
      numHashes, bands)
      .withColumn("pfx", col("bucket").bitwiseAND(lit((1L << prefixBits) - 1)))
      // co-locate each prefix before the partitioned write: without this,
      // every write task holding rows of a prefix opens its own file there —
      // tasks × 2^prefixBits tiny files whose open/footer costs dominate
      // every later probe. After the repartition each prefix directory gets
      // exactly as many files as tasks that own it (one, for hash
      // partitioning) per ingest batch.
      .repartition(col("pfx"))
      .write.mode(mode).partitionBy("pfx").parquet(path)
    graft.sources.LayoutMeta.write(path, PrefixBitsFile, prefixBits.toString)
  }

  /** True once [[writeMinhashIndexMd5]] has recorded the layout metadata —
    * the probe-readiness gate the ingest loops check, resolved through the
    * LAYOUT's filesystem (a local-disk check would silently report false
    * on object-store deployments after a driver restart, making the loops
    * skip the cross-corpus probe and append duplicates forever). */
  def minhashIndexReady(path: String): Boolean =
    graft.sources.LayoutMeta.exists(path, PrefixBitsFile)

  /** Layout metadata: the prefix width the index was partitioned with.
    * Probes read it from the layout itself so they can never drift from
    * the writer's scheme (a narrower probe mask would silently prune away
    * partitions that hold real candidates). */
  private val PrefixBitsFile = "_graft_prefix_bits"

  /** Probe a new batch of documents against a persisted MinHash-LSH index
    * ([[writeMinhashIndexMd5]]) — the PER-BATCH half of incremental dedup.
    * Returns (batch_id, corpus_id, jaccard ≥ threshold): which corpus
    * documents each batch document near-duplicates.
    *
    * Per-batch cost is independent of corpus size in every stage:
    *   1. shingle + sign the BATCH only (the corpus was signed at ingest);
    *   2. read the index under a partition filter — the batch's buckets
    *      cover at most min(|batch|·bands, 2^prefixBits) of the
    *      2^prefixBits prefix partitions, so a small batch scans a small
    *      fraction of the postings files (plan-pinned in OpsSpec);
    *   3. candidates from an equi-join on (band, bucket) with the batch
    *      postings BROADCAST — the index side never shuffles;
    *   4. exact-Jaccard verification re-shingles only the candidate corpus
    *      rows (a broadcast semi-join against the candidate id set), so
    *      verification cost follows the candidate count, not the corpus.
    *
    * The exact verification makes the result independent of `prefixBits`
    * and of bucket-hash collisions (both only widen the candidate set). */
  def minhashProbeIndexMd5(
      indexPath: String,
      corpus: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame =
    minhashProbeIndexMd5Resolved(indexPath, _ => corpus, batch, textCol,
      idCol, threshold, numHashes, bands, shingleSize)

  /** [[minhashProbeIndexMd5]] with the corpus supplied by a RESOLVER
    * instead of a pre-built frame: `corpusForIds` receives the distinct
    * candidate corpus-id frame (single column, the id column's type) and
    * returns the corpus rows to verify against — any SUPERSET of the
    * candidate rows (the broadcast semi join below does the exact
    * filtering). This is the corpus-scan-free hook for
    * [[graft.streaming.IngestDedup]]: with the corpus sink hash-bucketed
    * ([[graft.sources.BucketedCorpus]]), the resolver turns the candidate
    * ids into a partition filter, so the verify read's scan bytes follow
    * the CANDIDATE count, not the accumulated corpus size — the last
    * per-batch term that was linear in the corpus. */
  def minhashProbeIndexMd5Resolved(
      indexPath: String,
      corpusForIds: DataFrame => DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame = CacheScope.pass {
    val spark = batch.sparkSession
    // two consumers (signatures + verification side 1): shingle once
    val batchSh = CacheScope.persist(batch.select(col(idCol).as("id"),
      TextOps.wordShingles(col(textCol), shingleSize).as("g")))
    val batchPost = bandedSignaturePostings(
      minhashSignaturesMd5(batchSh, numHashes), "id", numHashes, bands)
      .select(col("id").as("batch_id"), col("band"), col("bucket"))
      .transform(CacheScope.persist)
    // ≤ 2^prefixBits values by construction — always driver-safe to collect
    val pfxs = batchPost.select(col("bucket").bitwiseAND(
      readPrefixMask(spark, indexPath)).as("pfx")).distinct()
      .collect().map(_.getLong(0))
    val index = spark.read.parquet(indexPath).where(col("pfx").isin(pfxs: _*))
    // three consumers (final join + candIds, and the resolver may run an
    // action of its own to derive a pruned read): cache the candidate set
    val cands = index
      .join(broadcast(batchPost), Seq("band", "bucket"))
      .select(col("batch_id"), col("id").as("corpus_id")).distinct()
      .transform(CacheScope.persist)
    // verification re-shingles ONLY candidate corpus rows
    val candIds = cands.select(col("corpus_id")).distinct()
      .withColumnRenamed("corpus_id", "__graft_cand_id")
    val corpusCand = corpusForIds(candIds)
      .join(broadcast(candIds), col(idCol) === col("__graft_cand_id"), "left_semi")
    val g1 = batchSh.toDF("batch_id", "g1")
    val g2 = corpusCand.select(col(idCol).as("corpus_id"),
      TextOps.wordShingles(col(textCol), shingleSize).as("g2"))
    cands.join(g1, "batch_id").join(g2, "corpus_id")
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("g1")) + size(col("g2")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  private def readPrefixMask(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): Column = {
    require(graft.sources.LayoutMeta.exists(indexPath, PrefixBitsFile),
      s"no $PrefixBitsFile under $indexPath — not a writeMinhashIndexMd5 layout")
    val bits = graft.sources.LayoutMeta.read(indexPath, PrefixBitsFile).trim.toInt
    lit((1L << bits) - 1)
  }

  /** End-to-end MinHash-LSH near-duplicate detection: signature → banding →
    * candidates → verify with exact Jaccard on distinct shingles. */
  def minhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame = CacheScope.pass {
    // one shingle computation shared by signature and verification; grams
    // carried as 64-bit hashes (primitive arrays intersect/join faster);
    // persisted so the shingling stage executes once, not per consumer
    val shingled = df.select(col(idCol).as("id"),
      transform(TextOps.wordShingles(col(textCol), shingleSize),
        s => xxhash64(s)).as("g"))
      .transform(CacheScope.persist)
    val withSig = minhashSignatures(shingled, numHashes)
    val candidates = lshCandidatePairs(withSig, "id", numHashes, bands)
    val g1 = shingled.toDF("id1", "g1")
    val g2 = shingled.toDF("id2", "g2")
    candidates.join(g1, "id1").join(g2, "id2")
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("g1")) + size(col("g2")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Near-dup pairs by shared winnowing fingerprints
    * ([[graft.functions.WinnowFingerprints]]): rolling-hash k-grams →
    * min-in-window chunk signatures → inverted-index join, pairs ranked by
    * shared-fingerprint count. Winnowing's guarantee makes this the right
    * operator for *substring-level* duplication (boilerplate, quoted
    * passages): any shared run of ≥ w+k-1 bytes produces at least one
    * shared fingerprint, while whole-document similarity is MinHash/
    * SimHash territory. Same inverted-index scale shape as
    * [[jaccardPairs]] — never an all-pairs join. */
  def winnowPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      w: Int = 4,
      minShared: Int = 2,
      maxDocFrequency: Long = Long.MaxValue): DataFrame = CacheScope.pass {
    val raw = df.select(col(idCol).as("id"),
      explode(array_distinct(
        graft.functions.WinnowFingerprints.fingerprints(col(textCol), k, w))).as("fp"))
    fingerprintPairs(raw, minShared, maxDocFrequency)
  }

  /** Winnowing fingerprints over the PORTABLE md5 k-gram hash family: each
    * k-char gram hashed independently (md5 48-bit prefix — no rolling
    * reuse), then the same winnowing selection as the codegen'd rolling
    * expression (min per w-window, RIGHTMOST position on hash ties). The
    * whole selection runs inside one fused expression
    * ([[graft.functions.PortableWinnowMd5]]): per-gram digests and the
    * monotone-deque window scan happen in a per-document loop, so the plan
    * is a zero-shuffle projection + explode of the ~2/(w+1)-density
    * fingerprints — no row per character position ever materializes (the
    * earlier relational explode → `rowsBetween` struct-min formulation
    * pushed one row per position through a per-doc window sort; the DuckDB
    * oracle SQL still mirrors the selection that way, which is fine — the
    * SELECTION is identical, pinned against an independent winnower in
    * OpsSpec). Returns distinct (id, fp).
    *
    * Cost vs the rolling expression: one md5 per gram position (the
    * expression reuses the previous gram's hash state) — the deliberate
    * price of portability, same trade as [[minhashSignaturesMd5]]. The
    * rolling-hash expression path stays the production default. */
  def winnowFingerprintsPortable(
      df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.PortableWinnowMd5.fingerprints(col(textCol), k, w)).as("fp"))

  /** [[winnowPairs]] over the portable hash family (oracle-checkable). */
  def winnowPairsPortable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      w: Int = 4,
      minShared: Int = 2,
      maxDocFrequency: Long = Long.MaxValue): DataFrame = CacheScope.pass {
    fingerprintPairs(winnowFingerprintsPortable(df, textCol, idCol, k, w),
      minShared, maxDocFrequency)
  }

  /** Inverted-index pair counting over an (id, fp) fingerprint frame:
    * df-cap hot fingerprints (boilerplate-heavy corpora concentrate
    * document frequency on a few chunk fingerprints — the same quadratic
    * posting self-join the Jaccard df-cut guards against), self-join on
    * fp, count shared fingerprints per pair. */
  private def fingerprintPairs(
      raw: DataFrame, minShared: Int, maxDocFrequency: Long): DataFrame = {
    val capped =
      if (maxDocFrequency == Long.MaxValue) raw
      else {
        val hot = raw.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFrequency).select("fp").toDF("hot_fp")
        raw.join(hot, col("fp") === col("hot_fp"), "left_anti")
      }
    val fps = CacheScope.persist(capped)
    val a = fps.toDF("id1", "fp")
    val b = fps.toDF("id2", "fp")
    a.join(b, Seq("fp")).where(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared_fingerprints"))
      .where(col("shared_fingerprints") >= minShared)
  }

  /** Benchmark-contamination detection: count shared word n-grams between
    * every corpus document and every document of a (small) probe set —
    * the standard decontamination pass before training on scraped data.
    *
    * Scale shape: the probe side (benchmark suites — thousands of docs, not
    * billions) is BROADCAST, so the corpus is scanned once map-side with no
    * shuffle of corpus postings; only the (corpus_id, probe_id) overlap
    * counts aggregate. Returns (corpus_id, probe_id, overlap) with
    * overlap ≥ minOverlap. */
  def contaminationPairs(
      corpus: DataFrame,
      probe: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minOverlap: Long = 1L): DataFrame = {
    def grams(df: DataFrame, out: String) = df
      .select(col(idCol).as(out), TextOps.wordShingles(col(textCol), n).as("g"))
      .select(col(out), explode(col("g")).as("gs"))
      .select(col(out), xxhash64(col("gs")).as("g"))
    grams(corpus, "corpus_id")
      .join(broadcast(grams(probe, "probe_id")), Seq("g"))
      .groupBy("corpus_id", "probe_id").agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
  }

  /** MULTI-BENCHMARK contamination matrix — the rollup an eval-hygiene
    * review actually reads: probe documents carry a benchmark label, ONE
    * postings pass scans the corpus against all benchmarks at once, and
    * the output is one row per benchmark — how many corpus documents are
    * contaminated by it, how many of its probes leaked, and the total
    * n-gram overlap mass. Scanning the corpus once per benchmark (the
    * naive loop) costs B corpus passes; here the benchmark label rides
    * the broadcast probe postings for free.
    *
    * Scale shape: exactly [[contaminationPairs]] — corpus grams never
    * shuffle, probe grams broadcast (swap in the Bloom prefilter of
    * [[contaminationPairsBloom]] upstream when the combined benchmark
    * suite outgrows the broadcast); the pair set is bounded by real
    * overlaps and the final rollup is one tiny aggregation. NULL
    * benchmark labels are excluded. Output:
    * (benchmark, n_contaminated_docs, n_probes_hit, total_overlap). */
  def contaminationMatrix(
      corpus: DataFrame,
      probe: DataFrame,
      textCol: String,
      idCol: String,
      benchCol: String,
      n: Int = 3,
      minOverlap: Long = 1L): DataFrame = {
    val corpusGrams = corpus.select(col(idCol).as("corpus_id"),
      explode(TextOps.wordShingles(col(textCol), n)).as("gs"))
      .select(col("corpus_id"), xxhash64(col("gs")).as("g"))
    val probeGrams = probe
      .where(col(benchCol).isNotNull)
      .select(col(benchCol).cast("string").as("benchmark"), col(idCol).as("probe_id"),
        explode(TextOps.wordShingles(col(textCol), n)).as("gs"))
      .select(col("benchmark"), col("probe_id"), xxhash64(col("gs")).as("g"))
    corpusGrams.join(broadcast(probeGrams), Seq("g"))
      .groupBy("benchmark", "corpus_id", "probe_id")
      .agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
      .groupBy("benchmark")
      .agg(countDistinct(col("corpus_id")).as("n_contaminated_docs"),
        countDistinct(col("probe_id")).as("n_probes_hit"),
        sum(col("overlap")).as("total_overlap"))
  }

  /** Contamination with a BLOOM-FILTER prefilter on the corpus side — the
    * scale path when the probe set is too large to broadcast as raw grams
    * (every benchmark suite at once: tens of millions of grams). The probe's
    * gram set is folded into a `bloomBits`-bit Bloom filter (2²⁰ bits =
    * 128 KiB vs hundreds of MB of grams), shipped to every task as a plain
    * array literal, and the corpus postings are pruned map-side BEFORE the
    * join — so the join (shuffle or broadcast, planner's choice) only ever
    * sees corpus grams that plausibly hit the probe, a ~|C∩P|/|C| + fpp
    * fraction of the corpus. False positives cost nothing but wasted join
    * probes: the exact gram equi-join behind the filter eliminates them, so
    * the RESULT is bit-identical to [[contaminationPairs]] (same oracle).
    *
    * The membership test is pure codegen'd column arithmetic (xxhash64 ×
    * `numHashes` seeds, shift/mask into the literal word array) — no UDF, no
    * broadcast variable plumbing, and DuckDB-mirrorable because it changes
    * nothing downstream. Bloom construction is one bounded collect of
    * DISTINCT bit positions (≤ min(numHashes·|probe grams|, bloomBits)). */
  def contaminationPairsBloom(
      corpus: DataFrame,
      probe: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minOverlap: Long = 1L,
      bloomBits: Int = 1 << 20,
      numHashes: Int = 3): DataFrame = {
    require(bloomBits % 64 == 0, "bloomBits must be a multiple of 64")
    def grams(df: DataFrame, out: String) = df
      .select(col(idCol).as(out), TextOps.wordShingles(col(textCol), n).as("g"))
      .select(col(out), explode(col("g")).as("gs"))
      .select(col(out), xxhash64(col("gs")).as("g"))
    def bitPos(g: Column, seed: Int): Column =
      pmod(xxhash64(g, lit(seed)), lit(bloomBits.toLong))
    val probeGrams = grams(probe, "probe_id")
    val positions = probeGrams
      .select(explode(array((0 until numHashes).map(i =>
        bitPos(col("g"), i)): _*)).as("pos"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](bloomBits / 64)
    positions.foreach(p => words((p >> 6).toInt) |= (1L << (p & 63).toInt))
    val bits = typedlit(words)
    def mightContain(g: Column): Column =
      (0 until numHashes).map { i =>
        val pos = bitPos(g, i)
        element_at(bits, shiftright(pos, 6).cast("int") + 1)
          .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0
      }.reduce(_ && _)
    grams(corpus, "corpus_id")
      .where(mightContain(col("g")))
      .join(broadcast(probeGrams), Seq("g"))
      .groupBy("corpus_id", "probe_id").agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
  }

  /** Contamination by CONTAINMENT — the decontamination metric most large
    * pipelines actually threshold: shared n-grams as a fraction of the
    * PROBE document's gram set (|C∩P| / |P|), so a benchmark item quoted
    * in full flags at 1.0 no matter how much unrelated text surrounds it.
    * Same broadcast scale shape as [[contaminationPairs]] (probe grams and
    * probe sizes both broadcast; corpus postings never shuffle); exact
    * integer counts and one division keep the ratio engine-stable.
    * Returns (corpus_id, probe_id, overlap, containment ≥ threshold). */
  def contaminationContainment(
      corpus: DataFrame,
      probe: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minContainment: Double = 0.5): DataFrame = {
    def grams(df: DataFrame, out: String) = df
      .select(col(idCol).as(out), TextOps.wordShingles(col(textCol), n).as("g"))
      .select(col(out), explode(col("g")).as("gs"))
      .select(col(out), xxhash64(col("gs")).as("g"))
    val probeGrams = grams(probe, "probe_id")
    val probeSizes = probeGrams.groupBy("probe_id").agg(count(lit(1)).as("probe_sz"))
    grams(corpus, "corpus_id")
      .join(broadcast(probeGrams), Seq("g"))
      .groupBy("corpus_id", "probe_id").agg(count(lit(1)).as("overlap"))
      .join(broadcast(probeSizes), "probe_id")
      .withColumn("containment",
        col("overlap").cast("double") / col("probe_sz").cast("double"))
      .where(col("containment") >= minContainment)
      .select("corpus_id", "probe_id", "overlap", "containment")
  }

  /** Line-level document frequency: how many DISTINCT documents contain
    * each line (after splitting `textCol` on `delimiterPattern`). The input
    * to boilerplate detection — navigation chrome, cookie banners, footer
    * text repeat across pages far more often than real content lines.
    *
    * Scale shape: (id, line) postings dedup within document (map-side
    * combine on the distinct), then one hash aggregation keyed by line —
    * the same postings shape as the shingle operators; never quadratic. */
  def lineDocFrequency(
      df: DataFrame, textCol: String, idCol: String,
      delimiterPattern: String = "\n"): DataFrame =
    df.select(col(idCol).as("id"),
      explode(split(col(textCol), delimiterPattern)).as("line"))
      .distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))

  /** CCNet-style boilerplate removal: drop every line whose document
    * frequency is ≥ `minDocFrequency`, preserving the order of the kept
    * lines, and return `df` with `textCol` rewritten (empty string when
    * every line was boilerplate) plus kept/dropped line counts.
    *
    * Plan: posexplode lines → anti-join against the hot-line set (small —
    * by definition each hot line repeats across many documents, so the
    * distinct hot set is orders of magnitude smaller than the corpus and
    * broadcast-eligible; Spark's planner picks broadcast when it fits) →
    * re-assemble per document via a sorted struct collect keyed by the
    * line position. One shuffle keyed by id for the re-assembly; the
    * doc-frequency pass is the postings aggregation above. */
  def removeBoilerplateLines(
      df: DataFrame, textCol: String, idCol: String,
      minDocFrequency: Long,
      delimiterPattern: String = "\n",
      delimiter: String = "\n"): DataFrame = {
    val hot = lineDocFrequency(df, textCol, idCol, delimiterPattern)
      .filter(col("df") >= minDocFrequency)
      .select(col("line").as("hot_line"))
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), delimiterPattern)).as(Seq("pos", "line")))
    val kept = lines.join(hot, col("line") === col("hot_line"), "left_anti")
      .groupBy("id")
      .agg(
        // sort_array on (pos, line) structs restores document order — the
        // collect itself is partition-order-dependent, the sort is not
        sort_array(collect_list(struct(col("pos"), col("line")))).as("kl"))
      .select(col("id"),
        array_join(transform(col("kl"), s => s.getField("line")), delimiter)
          .as("clean_text"),
        size(col("kl")).cast("long").as("n_lines_kept"))
    val total = df.select(col(idCol).as("id"),
      size(split(col(textCol), delimiterPattern)).cast("long").as("n_lines"))
    total.join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as(textCol),
        col("n_lines"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"))
  }

  /** Token xxhash64 array for SimHash (materialize before fanning out). */
  def tokenHashes(text: Column): Column =
    transform(split(trim(lower(text)), "\\s+"), t => xxhash64(t))

  /** 64-bit SimHash from a *materialized* token-hash array column: bit j of
    * the result is the majority vote of bit j across token hashes. */
  def simhashFromHashes(hashes: Column): Column = {
    val n = size(hashes)
    // bit j set ⇔ count of set bits at j > n/2
    val bits = transform(sequence(lit(0), lit(63)), j =>
      when(size(filter(hashes, h => h.bitwiseAND(call_function("shiftleft", lit(1L), j)) =!= 0)) * 2 > n,
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Convenience single-expression form — for one-off use only; inside
    * plans, use `simhashSignatures` (codegen'd agg, not interpreted HOFs). */
  def simhash(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /** SimHash per document via explode + codegen'd bit-count aggregation
    * (same rationale as minhashSignatures): token postings → 64 conditional
    * sums per id → assemble the 64-bit hash. Returns (id, sh). */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"), explode(split(trim(lower(col(textCol))), "\\s+")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val bitSums = (0 until 64).map(j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1L).otherwise(0L)).as(s"b$j"))
    val agged = toks.groupBy("id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sh = (0 until 64).map(j =>
      when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agged.select(col("id"), sh.as("sh"))
  }

  /** SimHash per document from the portable md5 family: token → md5 → the
    * first 16 hex nibbles give 64 bits; per-bit majority vote via the same
    * codegen'd conditional-sum aggregation as [[simhashSignatures]].
    * Engine-mirrorable (DuckDB: `('0x' || substr(md5(t), k, 1))::INT` nibble
    * parse + the same bit shifts), so the near-dup result gets a real
    * oracle. Returns (id, sh). */
  def simhashSignaturesMd5(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashSignaturesMd5FromTokens(df.select(col(idCol).as("id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("t")))

  /** The md5 SimHash aggregation over an already-tokenized (id, t) frame —
    * the shared core of [[simhashSignaturesMd5]], exposed so non-text
    * token streams (e.g. [[Multimodal.audioFingerprints]]' quantized
    * waveform tokens) ride the identical oracle-mirrorable pipeline.
    * Returns (id, sh). */
  def simhashSignaturesMd5FromTokens(toks: DataFrame): DataFrame = {
    // top 64 digest bits as one long (fused digest, no hex round trip);
    // hex nibble k of the old formulation is (h64 >>> (60-4k)) & 15, so
    // bit j = (h64 >>> (60 - 4*(j/4) + j%4)) & 1 — identical bit values
    val hashed = toks
      .select(col("id"), graft.functions.Md5Longs.longs(col("t").cast("binary"))
        .getItem(2).as("h64"))
    val bitSums = (0 until 64).map(j =>
      sum(shiftrightunsigned(col("h64"), 60 - 4 * (j / 4) + j % 4)
        .bitwiseAND(lit(1L)).cast("long")).as(s"b$j"))
    val agged = hashed.groupBy("id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sh = (0 until 64).map(j =>
      when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agged.select(col("id"), sh.as("sh"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs from a (id, sh) signature frame, via the block
    * technique: split the 64-bit hash into `maxHamming+1` blocks — any pair
    * within the distance shares at least one exact block (pigeonhole), so
    * candidates come from an equi-join on (block-index, block-value), never
    * a cross join. Block width 64/(maxHamming+1) caps bucket collision
    * rates: maxHamming=3 → four 16-bit blocks (65k values each), so bucket
    * sizes stay ~n/65536 per block on non-degenerate corpora. */
  def simhashPairsFromSignatures(withSim: DataFrame, maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    val width = 64 / blocks
    val banded = withSim.select(col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(blocks - 1)), b =>
        call_function("shiftright", col("sh"), b * lit(width))
          .bitwiseAND(lit((1L << width) - 1)))).as(Seq("block", "value")))
    val a = banded.toDF("id1", "sh1", "block", "value")
    val b = banded.toDF("id2", "sh2", "block", "value")
    a.join(b, Seq("block", "value")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        hammingDistance(col("sh1"), col("sh2")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs within `maxHamming` bits (xxhash64 family). */
  def simhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSignatures(simhashSignatures(df, textCol, idCol), maxHamming)

  /** SimHash near-dup pairs over the portable md5 family (oracle-checkable). */
  def simhashNearDuplicatesMd5(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSignatures(simhashSignaturesMd5(df, textCol, idCol), maxHamming)

  /** Embedding-space semantic dedup (SemDeDup-shaped, Abbas et al. 2023):
    * assign every vector to its nearest centroid ([[Ivf.withCluster]] — a
    * codegen'd argmin projection, no join, no shuffle), find cosine pairs
    * ≥ `threshold` WITHIN each cluster via an equi-join on the cluster id,
    * collapse transitive groups with [[connectedComponents]], and keep the
    * minimum id per group. Returns the surviving rows with their `cluster`
    * column attached.
    *
    * Scale shape: the pair join is an equi-join keyed by cluster — work is
    * Σ|cluster|², so `centroids.length` must grow with the corpus to keep
    * cluster sizes bounded (the SemDeDup regime is k ≈ n/1000 with
    * [[Ivf.kmeansCentroids]]-trained centroids on a hash sample; norms are
    * computed once per ROW before the join, never per pair). Pairs whose
    * endpoints land in different clusters are missed by design — that is
    * the recall trade that removes the O(n²) cross join.
    *
    * Determinism: nearest-centroid ties pick the lowest cluster index
    * (argmin over `struct(distance, index)`), so assignment — and hence
    * the kept set — is engine-portable for any fixed centroid family. */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      threshold: Double): DataFrame = CacheScope.pass {
    val clustered = CacheScope.persist(Ivf.withCluster(df, vecCol, centroids))
    val sides = clustered.select(col("cluster"), col(idCol).as("id"),
      col(vecCol).as("v"), Ann.norm(col(vecCol)).as("nrm"))
    val a = sides.toDF("cluster", "id1", "v1", "nrm1")
    val b = sides.toDF("cluster", "id2", "v2", "nrm2")
    val denom = col("nrm1") * col("nrm2")
    val pairs = a.join(b, Seq("cluster"))
      .where(col("id1") < col("id2"))
      .where(when(denom === 0.0, lit(0.0))
        .otherwise(Ann.dot(col("v1"), col("v2")) / denom) >= threshold)
      .select("id1", "id2")
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("comp")) // keep the component minimum
      .select(col("id").as("__graft_drop_id"))
    clustered.join(losers,
      clustered(idCol) === losers("__graft_drop_id"), "left_anti")
  }

  /** Exact duplicated-substring detection — the distributed reformulation
    * of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every character
    * position opens a length-`minLength` gram; a position is DUPLICATED
    * when its gram occurs more than once across the whole corpus
    * (within-document repeats count — both occurrences are marked, exactly
    * like a corpus-wide suffix array); per document, overlapping or
    * adjacent duplicated positions merge into maximal intervals
    * `[start, end)` (1-based, end exclusive) — the spans the paper's
    * suffix-array pass would cut out. NULL/short texts (< minLength chars)
    * produce no positions and so no intervals.
    *
    * Plan shape at 100 TB: the gram stream is O(total chars) rows — that
    * is the method's honest cost, and it is what replaces the
    * non-distributable global suffix array — but each row is only
    * (id, pos, gram-key). Duplicate marking is a map-side-combinable
    * `groupBy(gram).count` (hot boilerplate grams partial-aggregate
    * before the shuffle — skew-proof where a count-window would funnel a
    * hot gram into one partition) followed by a semi-join back to
    * positions (AQE skew-split applies). The interval merge is the
    * classic gaps-and-islands pattern: one per-document sort, a running
    * `max(pos + L)` frame, and an island id from the cumulative break
    * count — touching only the marked positions, a small fraction of the
    * corpus.
    *
    * `portable = true` keys grams by the raw L-char substring — mirrorable
    * in any SQL engine (the DuckDB oracle), at an L× shuffle-payload cost;
    * the production default keys by `xxhash64(gram)` — 8 bytes per
    * position, collision odds negligible (~n²/2⁶⁵).
    *
    * @return one row per maximal interval: (id, start, end), both longs.
    */
  def duplicateSubstringIntervals(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minLength: Int = 40,
      portable: Boolean = false): DataFrame = CacheScope.pass {
    val L = minLength
    require(L >= 1, s"minLength must be >= 1, got $L")
    import org.apache.spark.sql.expressions.Window
    // The >= L guard is load-bearing twice over: it drops NULL/short texts,
    // and it keeps sequence()'s stop >= start (Spark's sequence DESCENDS
    // when stop < start rather than returning empty).
    val positions = df.select(col(idCol).as("id"), col(textCol).as("__graft_text"))
      .where(length(col("__graft_text")) >= L)
      .select(col("id"), col("__graft_text"),
        explode(sequence(lit(1), length(col("__graft_text")) - (L - 1))).as("pos"))
    val gramKey = {
      val g = col("__graft_text").substr(col("pos"), lit(L))
      if (portable) g else xxhash64(g)
    }
    // Two consumers (the duplicate count and the position marking) — cache
    // the postings rather than re-running the scan + explode for each. The
    // production (hashed) postings are three longs per position; the
    // portable family pays the same L× payload here as everywhere else.
    val grams = CacheScope.persist(positions.select(col("id"), col("pos"), gramKey.as("g")))
    // toDF breaks the aggregate→semi-join lineage (fresh attribute IDs;
    // same pattern as jaccardPairs' hot-shingle anti-join)
    val dup = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("g").toDF("dup_g")
    val marked = grams.join(dup, col("g") === col("dup_g"), "left_semi")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + L)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("brk",
        when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("island",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("id", "island")
      .agg(min(col("pos")).cast("long").as("start"),
        (max(col("pos")) + L).cast("long").as("end"))
      .select("id", "start", "end")
  }

  /** Per-document rollup of [[duplicateSubstringIntervals]] over EVERY
    * input row (docs with no duplicated span report zeros): interval
    * count, duplicated character total, and the duplicated fraction of
    * the text — the decision column for a "drop or trim documents that
    * are mostly copies" pipeline stage. */
  def duplicateSubstringStats(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minLength: Int = 40,
      portable: Boolean = false): DataFrame = {
    val iv = duplicateSubstringIntervals(df, textCol, idCol, minLength, portable)
    val per = iv.groupBy("id").agg(
      count(lit(1)).as("n_dup_intervals"),
      sum(col("end") - col("start")).as("dup_chars"))
    df.select(col(idCol).as("id"), length(col(textCol)).cast("long").as("n_chars"))
      .join(per, Seq("id"), "left")
      .na.fill(0L, Seq("n_dup_intervals", "dup_chars"))
      .withColumn("dup_ratio",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(col("dup_chars").cast("double") / col("n_chars").cast("double")))
  }
}

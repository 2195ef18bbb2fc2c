package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, CacheScope, Dedup, TextOps}

/** Training-data pipeline operators: dedup, similarity, text analysis. */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about spark query engines and columnar formats"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id winner per content hash") {
    val groups = Dedup.exactGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 4)
    val dupGroup = groups.find(_.getLong(2) == 2).get
    assert(dupGroup.getLong(1) == 0L) // keep_id = min(0, 3)
    val kept = Dedup.exactDedup(docs, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(0L, 1L, 2L, 4L))
  }

  test("word shingles are distinct n-grams; short text degrades to whole string") {
    val g = docs.select(TextOps.wordShingles(col("text"), 3).as("g"))
      .where(col("g").isNotNull).collect()
    val first = g(0).getSeq[String](0)
    assert(first.contains("the quick brown") && first.contains("quick brown fox"))
    val short = docs.where(col("doc_id") === 4)
      .select(TextOps.wordShingles(col("text"), 3)).first().getSeq[String](0)
    assert(short == Seq("short text"))
  }

  test("jaccard inverted-index pairs find near and exact dups") {
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pairs.contains((0L, 3L))) // exact dup → jaccard 1.0
    assert(pairs.contains((0L, 1L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash LSH near-duplicates find the same dups") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 1L)))
    val exact = pairs.find(_ == (0L, 3L))
    assert(exact.isDefined)
  }

  test("duplicated substrings: corpus marking, interval merge, family agreement") {
    val shared1 = "ABCDEFGHIJKLMNO" // 15 chars shared by docs 0 and 1
    val shared2 = "uvwxyz123456"    // 12 chars shared by docs 0 and 2
    val rep = "PQRSTUVWXY"          // 10 chars repeated WITHIN doc 3
    val d = Seq(
      (0L, s"aa1${shared1}bb2ccc3${shared2}dd4"),
      (1L, s"ee5${shared1}ff6"),
      (2L, s"gg7${shared2}hh8"),
      (3L, s"iii${rep}jjj${rep}kkk"),
      (4L, "tiny") // shorter than L → no gram positions at all
    ).toDF("doc_id", "text")
    val iv = Dedup.duplicateSubstringIntervals(d, "text", "doc_id",
      minLength = 10, portable = true)
      .orderBy("id", "start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // overlapping dup positions merge into ONE maximal interval per span
    assert(iv.toSeq == Seq(
      (0L, 4L, 19L),  // shared1: 1-based [4, 19) — all 15 chars, one interval
      (0L, 26L, 38L), // shared2: disjoint second interval in the same doc
      (1L, 4L, 19L),
      (2L, 4L, 16L),
      (3L, 4L, 14L),  // within-doc repeat: BOTH occurrences are marked,
      (3L, 17L, 27L)) //   like a corpus-wide suffix array would
    )
    // per-doc rollup covers every doc, zero-filled, with the exact ratio
    val st = Dedup.duplicateSubstringStats(d, "text", "doc_id",
      minLength = 10, portable = true)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(st(0) == ((0L, 40L, 2L, 27L, 27.0 / 40.0)))
    assert(st(4) == ((4L, 4L, 0L, 0L, 0.0)))
    // production family (xxhash64 gram keys) produces identical intervals
    val fast = Dedup.duplicateSubstringIntervals(d, "text", "doc_id",
      minLength = 10, portable = false)
      .orderBy("id", "start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fast.toSeq == iv.toSeq)
  }

  test("semantic dedup: within-cluster near-dups collapse to the min id") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.999f, 0.0447f)), // cos ≈ 0.999 with 0 → dropped
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.0447f, 0.999f)), // cos ≈ 0.999 with 2 → dropped
      (4L, Array(-1.0f, 0.0f)),     // nearest c1, similar to nothing
      (5L, Array(0.6f, 0.6f))       // exact centroid-distance tie → cluster 0
    ).toDF("vec_id", "embedding")
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val kept = Dedup.semanticDedup(vecs, "embedding", "vec_id", centroids, 0.95)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    // 1 collapses into 0, 3 into 2; the tie at 5 resolves to the LOWEST
    // cluster index (the oracle's list_position mirror of least(struct)),
    // and cross-cluster similarity is never inspected by design
    assert(kept.toSeq == Seq((0L, 0), (2L, 1), (4L, 1), (5L, 0)))
  }

  test("deterministic shuffle: partition-invariant order, contiguous positions") {
    import graft.operators.Sampling
    val ids = (0 until 200).map(i => Tuple1(i.toLong)).toDF("id")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.deterministicShuffle(df, "id", 4)
        .select("id", "bucket", "pos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val a = run(ids)
    val b = run(ids.repartition(7)) // input partitioning must not matter
    assert(a.toSeq == b.toSeq)
    // every bucket's positions are exactly 1..|bucket| (a total order)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    assert(a.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
  }

  test("deterministic hash split: stable, complete, roughly proportioned") {
    import graft.operators.Sampling
    val ids = (0 until 1000).map(i => Tuple1(i.toLong)).toDF("id")
    val s1 = Sampling.withSplit(ids, "id", 80, 10).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Sampling.withSplit(ids, "id", 80, 10).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2) // reproducible run-to-run
    val byLabel = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel("train") > 700 && byLabel("train") < 900)
    assert(byLabel.values.sum == 1000) // every row labeled exactly once
    // keyed sample is a subset consistent with the bucket rule
    val sampled = Sampling.hashSample(ids, "id", 0.1).count()
    assert(sampled > 50 && sampled < 200)
    // double rounding: 0.29 * 10000 floors to 2899 — round keeps bucket 2899
    val f29 = Sampling.hashSample(ids, "id", 0.29).count()
    val f29exact = ids.where(Sampling.hashBucket(col("id"), 10000) < 2900).count()
    assert(f29 == f29exact)
    // NULL keys: excluded from samples, labeled "test" in splits
    val withNull = ids.union(Seq(Tuple1(null.asInstanceOf[java.lang.Long]))
      .toDF("id").select(col("id").cast("long")))
    assert(Sampling.hashSample(withNull, "id", 1.0).count() == 1000)
    val nullSplit = Sampling.withSplit(withNull, "id")
      .where(col("id").isNull).select("split").first().getString(0)
    assert(nullSplit == "test")
  }

  test("cleanCorpus: quality filter, exact dedup, near-dup removal compose") {
    val corpus = docs.union(Seq(
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today extra"),
      (6L, "zz")).toDF("doc_id", "text"))
    val cleaned = graft.operators.Dedup.cleanCorpus(corpus, "text", "doc_id",
      nearDupThreshold = 0.5)
    val kept = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(6L)) // low quality (2 tokens)
    assert(!kept.contains(4L)) // "short text" is low quality too
    assert(!kept.contains(3L)) // exact dup of 0
    assert(kept.contains(0L)) // lowest id of the near-dup cluster survives
    assert(!kept.contains(1L) && !kept.contains(5L)) // near-dups of 0 dropped
    assert(kept.contains(2L)) // unique content survives
  }

  test("connected components: chains resolve to the component minimum") {
    // chain 1-2-3 plus isolated pair 7-9: propagation must walk the chain
    // even though (1,3) is not an edge. localThreshold=0 forces the
    // distributed path; the default exercises the driver union-find —
    // both must agree.
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id1", "id2")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    for (threshold <- Seq(0L, Long.MaxValue)) {
      val comp = Dedup.connectedComponents(pairs, localThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == expect, s"localThreshold=$threshold")
    }
    // a 20-hop chain: pointer jumping must converge within maxIters on the
    // distributed path (plain propagation would need 20 rounds)
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chainComp = Dedup.connectedComponents(chain, maxIters = 8, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainComp == (0L to 20L).map(_ -> 0L).toMap)
    // the case pair-local dropping gets wrong: edges (2,3),(1,3) — dropping
    // every id2 keeps BOTH 1 and 2 though they share a component via 3
    val viaThird = Seq((2L, 3L), (1L, 3L)).toDF("id1", "id2")
    val keep = Dedup.connectedComponents(viaThird)
      .filter(col("id") === col("comp")).collect().map(_.getLong(0)).toSeq
    assert(keep == Seq(1L))
  }

  test("jaccard hot-shingle cap: no-op when nothing is hot, drops hot grams") {
    val uncapped = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // regression: the cap's anti-join once resolved both sides to the same
    // attribute and dropped every posting
    val capped = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5,
      maxDocFrequency = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
    // cap of 1 removes every gram shared by 2+ docs → no pairs survive
    val tight = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.01,
      maxDocFrequency = 1L).count()
    assert(tight == 0L)
  }

  test("jaccard length filter keeps pairs exactly at the threshold") {
    // doc B's 55 distinct 3-grams all appear in doc A's 100 → J = 0.55
    // exactly; 100 * 0.55 rounds to 55.000000000000007 in doubles, so an
    // unguarded size prefilter would prune this pair (regression)
    val wordsA = (0 until 102).map(i => s"w$i").mkString(" ") // 100 3-grams
    val wordsB = (0 until 57).map(i => s"w$i").mkString(" ")  // 55 3-grams
    val df = Seq((1L, wordsA), (2L, wordsB)).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "text", "doc_id", n = 3, threshold = 0.55)
      .collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 0.55)
  }

  test("md5 hash pair: 48-bit non-negative longs, deterministic") {
    val r = docs.select(col("doc_id"),
      Dedup.md5HashPair(col("text"))._1.as("a"),
      Dedup.md5HashPair(col("text"))._2.as("b")).collect()
    r.foreach { row =>
      val (a, b) = (row.getLong(1), row.getLong(2))
      assert(a >= 0 && a < (1L << 48) && b >= 0 && b < (1L << 48))
    }
    // exact-dup texts hash identically
    val byId = r.map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(byId(0L) == byId(3L))
  }

  test("minhash md5 family finds the same dups as the xxhash64 family") {
    val pairs = Dedup.minhashNearDuplicatesMd5(docs, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup: identical signatures
    assert(pairs.contains((0L, 1L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    // exact dup pair carries jaccard 1.0
    val j = Dedup.minhashNearDuplicatesMd5(docs, "text", "doc_id", 0.5, 32, 16)
      .where(col("id1") === 0 && col("id2") === 3).select("jaccard").first().getDouble(0)
    assert(j == 1.0)
  }

  test("simhash md5 family: exact dups at distance 0, block join finds them") {
    val sigs = Dedup.simhashSignaturesMd5(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(2L)))
    val nd = Dedup.simhashNearDuplicatesMd5(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 3L)))
  }

  test("contamination pairs: probe overlap counts, broadcast side") {
    val corpus = docs.where(col("doc_id") =!= 2L)
    val probe = docs.where(col("doc_id") === 2L)
      .union(Seq((9L, "the quick brown fox jumps high")).toDF("doc_id", "text"))
    val pairs = Dedup.contaminationPairs(corpus, probe, "text", "doc_id", n = 3, minOverlap = 2)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // probe doc 9 shares "the quick brown" + "quick brown fox" with docs 0/1/3
    assert(got.count(_._2 == 9L) == 3)
    got.filter(_._2 == 9L).foreach { case (cid, _, ov) =>
      assert(Set(0L, 1L, 3L)(cid) && ov >= 2)
    }
    // nothing shares >= 2 grams with the 'different content' probe doc 2
    assert(!got.exists(_._2 == 2L))
    // the probe side is broadcast — no shuffle of corpus postings
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("bloom-prefiltered contamination: exact result survives the prefilter") {
    val corpus = docs.where(col("doc_id") =!= 2L)
    val probe = docs.where(col("doc_id") === 2L)
      .union(Seq((9L, "the quick brown fox jumps high")).toDF("doc_id", "text"))
    val exact = Dedup.contaminationPairs(corpus, probe, "text", "doc_id",
      n = 3, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // a deliberately tiny filter (1024 bits) forces false positives on this
    // vocabulary — the exact join behind it must still erase them all
    for (bits <- Seq(1024, 1 << 20)) {
      val got = Dedup.contaminationPairsBloom(corpus, probe, "text", "doc_id",
        n = 3, minOverlap = 2, bloomBits = bits)
      assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == exact, s"bloomBits=$bits")
    }
    // the membership test is plain column arithmetic in a Filter — no UDF
    val plan = Dedup.contaminationPairsBloom(corpus, probe, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("shiftright"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("UDF"), plan)
    // a probe-free corpus gram can never pass a 2^20-bit filter here: prune
    // must actually prune (all-distinct grams in the corpus-only doc)
    val lonely = Seq((50L, "zzqx wwvv uuyy ttss rrqq ppoo")).toDF("doc_id", "text")
    val pruned = Dedup.contaminationPairsBloom(lonely, probe, "text", "doc_id",
      n = 3, minOverlap = 1)
    assert(pruned.count() == 0)
  }

  test("contamination containment: full quote flags 1.0 regardless of host size") {
    val probe = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      // probe quoted in full inside a much larger doc
      (0L, "lots of unrelated words here alpha beta gamma delta epsilon and then even more filler text follows"),
      // partial overlap: 1 of the probe's 3 grams
      (1L, "alpha beta gamma something else entirely different"),
      (2L, "no shared content at all in this one")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationContainment(corpus, probe, "text", "doc_id",
      n = 3, minContainment = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((0L, 100L), (1L, 100L)))
    assert(got(0)._4 == 1.0) // all 3 probe grams present
    assert(math.abs(got(1)._4 - 1.0 / 3) < 1e-15)
  }

  test("column profile: nulls and exact distincts in one job") {
    import graft.operators.Profile
    val df = Seq(
      (1, Some("a"), Option(1.0)), (2, Some("b"), Option(1.0)),
      (3, None, Option(2.0)), (4, Some("a"), Option.empty[Double])
    ).toDF("id", "s", "v")
    val p = Profile.columnProfile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(p("id") == (0L, 4L))
    assert(p("s") == (1L, 2L))  // one null; distinct non-null {a, b}
    assert(p("v") == (1L, 2L))  // one null; distinct {1.0, 2.0}
    // approx variant returns plausible cardinalities without exact shuffle
    val ap = Profile.columnProfile(df, exact = false).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ap("id") >= 3L && ap("id") <= 5L)
  }

  test("winnowing fingerprints: shared substrings guarantee shared chunks") {
    import graft.functions.WinnowFingerprints
    val fp = (t: String) => {
      val df = Seq(Tuple1(t)).toDF("t")
      df.select(WinnowFingerprints.fingerprints(col("t"), 5, 4)).first().getSeq[Long](0)
    }
    // deterministic and order-preserving
    assert(fp("the quick brown fox") == fp("the quick brown fox"))
    // density ~2/(w+1): far fewer fingerprints than grams
    val long = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    assert(fp(long).size < long.length / 2 && fp(long).nonEmpty)
    // short text degrades to one whole-text hash
    assert(fp("abc").size == 1)
    // winnowing guarantee: docs sharing a long substring share a fingerprint
    val shared = "a very distinctive shared passage of text"
    val d1 = s"prefix one $shared suffix alpha"
    val d2 = s"totally different opening $shared and ending"
    assert(fp(d1).toSet.intersect(fp(d2).toSet).nonEmpty)
    // inverted-index pair detection finds the overlap, not unrelated docs
    val pairs = Dedup.winnowPairs(docs, "text", "doc_id", k = 5, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dups share everything
    assert(pairs.contains((0L, 1L))) // near dups share the long common prefix
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical text → distance 0, near text → small, different → large") {
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) == sims(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(0L), sims(1L)) < ham(sims(0L), sims(2L)))
    val nd = Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 3L)))
  }

  test("text stats: token counts, ratios, quality, langid") {
    val row = Seq((1L, "The quick brown fox and the lazy dog in a field"))
      .toDF("id", "text")
      .select(TextOps.statsColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .first()
    assert(row.getAs[Long]("n_tokens") == 11)
    assert(row.getAs[Long]("n_chars") == 47)
    assert(row.getAs[Long]("n_bpe_tokens") == 11) // all plain letter runs
    assert(row.getAs[Long]("n_stopwords") == 5) // the, and, the, in, a
    assert(row.getAs[String]("lang_id") == "en")
    assert(!row.getAs[Boolean]("low_quality"))
    val empty = Seq((1L, "x y")).toDF("id", "text")
      .select(TextOps.statsColumns(col("text")).map { case (n, c) => c.as(n) }: _*).first()
    assert(empty.getAs[Boolean]("low_quality")) // < 5 tokens
  }

  test("TextCounts matches the regex definitions it replaces") {
    import graft.functions.TextCounts
    val samples = Seq(
      "the quick  brown\tfox\njumps.",
      "  leading and trailing  ",
      "", "x", "ALL CAPS 123 !?",
      "tabs\t\tand\nnewlines\r\nmixed",
      "unicode: café naïve 日本語 emoji éè",
      "punct: .,;:!?'\"()[]{}-",
      "1234567890")
    val df = samples.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    val got = df.select(col("i"), TextCounts.counts(col("t")).as("c"),
      length(col("t")).as("chars"),
      regexp_count(col("t"), lit("\\S+")).as("toks"),
      regexp_count(col("t"), lit("[a-zA-Z]")).as("alpha"),
      regexp_count(col("t"), lit("[0-9]")).as("digit"),
      regexp_count(col("t"), lit("[ ]")).as("space"),
      regexp_count(col("t"), lit("[.,;:!?'\"()\\[\\]{}-]")).as("punct"),
      regexp_count(col("t"), lit("[A-Z]")).as("upper"),
      regexp_count(col("t"), lit("\\S")).as("nonspace")).collect()
    got.foreach { r =>
      val c = r.getSeq[Int](1)
      for ((name, idx, col) <- Seq(
          ("chars", TextCounts.Chars, 2), ("toks", TextCounts.Tokens, 3),
          ("alpha", TextCounts.Alpha, 4), ("digit", TextCounts.Digit, 5),
          ("space", TextCounts.Space, 6), ("punct", TextCounts.Punct, 7),
          ("upper", TextCounts.Upper, 8), ("nonspace", TextCounts.NonSpace, 9)))
        assert(c(idx) == r.getInt(col), s"row ${r.getInt(0)} $name: got ${c(idx)} want ${r.getInt(col)}")
    }
  }

  test("WordSetCounts matches the word-boundary regex definitions") {
    import graft.functions.WordSetCounts
    val samples = Seq(
      "the cat and the dog", "THE CAT", "the, and; of.", "weather the storm",
      "the_var notthe a1 the1 the", "für die der und", "él en el both in a",
      "", "a-a-a an:an", "x the\né is")
    val df = samples.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    def words(p: String) = p.stripPrefix("\\b(").stripSuffix(")\\b").split('|').toSeq
    val markerSets = words(TextOps.StopwordPattern) +:
      TextOps.LangMarkers.map { case (_, p) => words(p) }
    val got = df.select(col("i"),
      WordSetCounts.counts(col("t"), "graft_test_markers", markerSets).as("c"),
      regexp_count(lower(col("t")), lit(TextOps.StopwordPattern)).as("stop"),
      regexp_count(lower(col("t")), lit(TextOps.LangMarkers.head._2)).as("en"),
      regexp_count(lower(col("t")), lit(TextOps.LangMarkers(1)._2)).as("de"),
      regexp_count(lower(col("t")), lit(TextOps.LangMarkers(2)._2)).as("es3"),
      regexp_count(lower(col("t")), lit(TextOps.LangMarkers(3)._2)).as("es4")).collect()
    got.foreach { r =>
      val c = r.getSeq[Int](1)
      assert(c(0) == r.getInt(2), s"stopwords row ${r.getInt(0)}: ${c(0)} vs ${r.getInt(2)}")
      assert(c(1) == r.getInt(3), s"en row ${r.getInt(0)}")
      assert(c(2) == r.getInt(4), s"de row ${r.getInt(0)}")
      assert(c(3) == r.getInt(5), s"fr row ${r.getInt(0)}")
      assert(c(4) == r.getInt(6), s"es row ${r.getInt(0)}")
    }
  }

  test("langid picks marker-heavy language deterministically") {
    val df = Seq(
      ("der hund und die katze ist nicht ein freund", "de"),
      ("le chat et la maison est dans les rues", "fr"),
      ("el perro es una casa para los gatos", "es"),
      ("xyzzy qwerty plugh", "und")
    ).toDF("text", "expected")
    val got = df.select(TextOps.langId(col("text")).as("got"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("greedy packing: budget respected, every doc once, repartition-stable") {
    import graft.operators.Packing
    val docsT = (0 until 300).map(i => (i.toLong, (i % 97 + 3).toLong)).toDF("doc_id", "tokens")
    val packed = Packing.packGreedy(docsT, "doc_id", "tokens", budget = 128L, groups = 8)
    val rows = packed.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // every doc assigned exactly once
    assert(rows.map(_._3).sorted.toSeq == (0L until 300L))
    // no pack exceeds the budget (no doc here exceeds it either)
    val perPack = rows.groupBy(t => (t._1, t._2)).map(_._2.map(_._4).sum)
    assert(perPack.forall(_ <= 128L), perPack.filter(_ > 128L).toSeq)
    // deterministic under different physical partitioning
    val again = Packing.packGreedy(docsT.repartition(13), "doc_id", "tokens",
      budget = 128L, groups = 8)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(again.sortBy(_._3).toSeq == rows.sortBy(_._3).toSeq)
    // oversize doc → singleton pack, nothing else joins it
    val over = Packing.packGreedy(
      Seq((1L, 500L), (2L, 50L), (3L, 60L)).toDF("doc_id", "tokens"),
      "doc_id", "tokens", budget = 128L, groups = 1)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    val overPack = over.find(_._2 == 1L).get._1
    assert(over.count(_._1 == overPack) == 1)
    // NULL token counts are excluded, not a crash
    val withNull = Seq((1L, java.lang.Long.valueOf(10L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("doc_id", "tokens")
    assert(Packing.packGreedy(withNull, "doc_id", "tokens", 128L, 1).count() == 1L)
    // power-of-two length buckets
    val buckets = Seq(1L, 2L, 3L, 8L, 9L, 1000L).toDF("n")
      .select(Packing.lengthBucket(col("n"))).collect().map(_.getInt(0)).toSeq
    assert(buckets == Seq(0, 1, 2, 3, 4, 10))
  }

  test("packQuality: utilization, full and overflow pack counts") {
    import graft.operators.Packing
    val docsT = Seq((1L, 120L), (2L, 100L), (3L, 60L), (4L, 60L), (5L, 500L))
      .toDF("doc_id", "tokens")
    val q = Packing.packQuality(
      Packing.packGreedy(docsT, "doc_id", "tokens", budget = 128L, groups = 1),
      budget = 128L).collect()
    assert(q.length == 1)
    val r = q(0)
    // FFD order (tokens desc): 500 → overflow singleton; 120 + one 60?
    // no — 120 leaves 8; 100 leaves 28; 60+60 fit together: packs =
    // [500], [120], [100], [60, 60] → 4 packs, 840 tokens
    assert(r.getAs[Long]("n_docs") == 5L)
    assert(r.getAs[Long]("n_packs") == 4L)
    assert(r.getAs[Long]("total_tokens") == 840L)
    assert(r.getAs[Long]("n_overflow_packs") == 1L)
    // full = ≥ 90% of 128 = 115.2 → the 500 and 120 packs and the 60+60 pack
    assert(r.getAs[Long]("n_full_packs") == 3L)
    assert(r.getAs[Long]("min_pack_tokens") == 100L)
    assert(r.getAs[Long]("max_pack_tokens") == 500L)
    assert(math.abs(r.getAs[Double]("utilization") - 840.0 / (4 * 128)) < 1e-12)
  }

  test("boilerplate lines: hot lines stripped, order kept, empty-doc policy") {
    val lined = Seq(
      (0L, "unique content zero\nSUBSCRIBE NOW\nmore zero content"),
      (1L, "unique content one\nSUBSCRIBE NOW"),
      (2L, "SUBSCRIBE NOW\nunique content two"),
      (3L, "SUBSCRIBE NOW"), // all-boilerplate doc
      (4L, "no chrome here at all")
    ).toDF("doc_id", "text")
    val df = Dedup.lineDocFrequency(lined, "text", "doc_id")
    assert(df.where(col("line") === "SUBSCRIBE NOW").first().getLong(1) == 4L)
    val cleaned = Dedup.removeBoilerplateLines(lined, "text", "doc_id",
      minDocFrequency = 3L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Long]("n_lines"), r.getAs[Long]("n_lines_kept"))).sortBy(_._1)
    assert(cleaned(0) == ((0L, "unique content zero\nmore zero content", 3L, 2L)))
    assert(cleaned(1) == ((1L, "unique content one", 2L, 1L)))
    assert(cleaned(2) == ((2L, "unique content two", 2L, 1L)))
    assert(cleaned(3) == ((3L, "", 1L, 0L))) // fully boilerplate → empty text
    assert(cleaned(4) == ((4L, "no chrome here at all", 1L, 1L)))
    // below-threshold repeats survive (false-positive check)
    val mild = Dedup.removeBoilerplateLines(lined, "text", "doc_id",
      minDocFrequency = 5L).collect()
    assert(mild.forall(r => r.getAs[Long]("n_lines_kept") == r.getAs[Long]("n_lines")))
  }

  test("vocabulary: deterministic tie-break; OOV stats are exact") {
    val df = Seq(
      (0L, "aa bb aa cc"),
      (1L, "bb zz bb qq"),
      (2L, "aa bb yy")
    ).toDF("doc_id", "text")
    // freqs: aa=3 bb=4 cc=1 zz=1 qq=1 yy=1 → top3 = bb, aa, then the
    // 1-freq ties break lexicographically: cc
    val vocab = TextOps.vocabulary(df, "text", topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(vocab == Seq(("bb", 4L), ("aa", 3L), ("cc", 1L)))
    val stats = TextOps.inVocabStats(df, "text", "doc_id", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(stats(0) == ((0L, 4L, 4L, 0.0)))           // all in {bb, aa, cc}
    assert(stats(1) == ((1L, 4L, 2L, 0.5)))           // zz, qq are OOV
    assert(stats(2) == ((2L, 3L, 2L, 1.0 - 2.0 / 3))) // yy is OOV
  }

  test("ngram familiarity: leave-one-out counts, multiplicity, zero-fill") {
    val d = Seq(
      (0L, "a b c"),      // bigrams: "a b", "b c"
      (1L, "a b a b"),    // "a b"×2, "b a"×1
      (2L, "x y"),        // "x y" — nowhere else
      (3L, "q")           // < 2 tokens → zeros
    ).toDF("doc_id", "text")
    val r = TextOps.ngramFamiliarity(d, "text", "doc_id", n = 2)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4)))
    // doc 0: "a b" has 2 external occurrences (doc 1), "b c" none
    assert(r(0) == ((0L, 2L, 1L, 0.5, 2.0 / 2.0)))
    // doc 1: its two "a b" occurrences each have 1 external; "b a" none —
    //   self-repetition does NOT count as familiarity (leave-one-out)
    assert(r(1) == ((1L, 3L, 2L, 2.0 / 3.0, 2.0 / 3.0)))
    assert(r(2) == ((2L, 1L, 0L, 0.0, 0.0)))
    assert(r(3) == ((3L, 0L, 0L, 0.0, 0.0)))
  }

  test("stratified sample: per-stratum rates, monotone upsampling, stable") {
    import graft.operators.Sampling
    val df = (0 until 600).map(i =>
      (i.toLong, Seq("en", "de", "fr")(i % 3))).toDF("doc_id", "lang")
    val kept = Sampling.stratifiedSample(df, "doc_id", "lang", Map("en" -> 30))
    val counts = kept.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // non-mapped strata keep everything; sampled stratum is cut hard
    assert(counts("de") == 200L && counts("fr") == 200L)
    assert(counts("en") < 120L && counts("en") > 20L)
    // raising a rate strictly grows the kept set (no resample churn)
    val low = Sampling.stratifiedSample(df, "doc_id", "lang", Map("en" -> 30))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val high = Sampling.stratifiedSample(df, "doc_id", "lang", Map("en" -> 60))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high))
    // deterministic under repartitioning
    val again = Sampling.stratifiedSample(df.repartition(7), "doc_id", "lang",
      Map("en" -> 30)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == low)
    // rate 0 empties the stratum; NULL keys are excluded
    assert(Sampling.stratifiedSample(df, "doc_id", "lang", Map("en" -> 0))
      .where(col("lang") === "en").count() == 0L)
  }

  test("weighted sample: exact min-of-w md5 priorities, monotone in weight") {
    import graft.operators.Sampling
    // driver-side reference: the same 48-bit md5 prefix of "id:t"
    def md5p48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    }
    def refPriority(id: Long, w: Long): Long =
      (1L to w).map(t => md5p48(s"$id:$t")).min
    // weights 1, 2, 4 (the exactness pin), plus excluded rows
    val df = Seq(
      (1L, 1L), (2L, 2L), (3L, 4L), (4L, 1L), (5L, 2L), (6L, 4L),
      (7L, 0L),   // weight < 1: excluded
      (8L, -3L))  // negative: excluded
      .toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", "w", k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!got.contains(7L) && !got.contains(8L))
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    got.foreach { case (id, (w, pri)) =>
      assert(pri == refPriority(id, w), s"id $id w $w")
    }
    // monotone: more weight can only LOWER a row's priority (never evict)
    for (id <- 1L to 6L; w <- 1L to 7L)
      assert(refPriority(id, w + 1) <= refPriority(id, w))
    // and the engine agrees when the same id is re-weighted upward
    val up = Sampling.weightedSample(
      Seq((1L, 8L), (2L, 8L), (3L, 8L)).toDF("id", "w"), "id", "w", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (id <- 1L to 3L) assert(up(id) <= got(id)._2)
    // bottom-k: k smaller than the population keeps the smallest priorities
    val top2 = Sampling.weightedSample(df, "id", "w", k = 2)
      .collect().map(_.getLong(0)).toSeq
    val expect2 = got.toSeq.sortBy { case (id, (_, p)) => (p, id) }
      .take(2).map(_._1)
    assert(top2 == expect2)
    // maxWeight saturation: weight 100 capped at 4 equals weight 4
    val capped = Sampling.weightedSample(
      Seq((3L, 100L)).toDF("id", "w"), "id", "w", k = 1, maxWeight = 4)
      .collect().head
    assert(capped.getLong(1) == 4L && capped.getLong(2) == refPriority(3L, 4L))
  }

  test("poisson bootstrap: md5 multiplicities match the driver reference; exact means") {
    import graft.operators.Sampling
    def md5p48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    }
    def refM(id: Long, b: Long): Long = {
      val h = md5p48(s"$id#$b") % 1000000L
      val idx = Sampling.PoissonThresholds.indexWhere(h < _)
      if (idx < 0) Sampling.PoissonThresholds.length.toLong else idx.toLong
    }
    val vals = (1L to 50L).map(i => i -> (i.toDouble / 100.0))
    val df = vals.toDF("id", "v")
    val got = Sampling.poissonBootstrapMeans(df, "v", "id", replicates = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == (1L to 8L).toSet)
    for (b <- 1L to 8L) {
      val ms = vals.map { case (id, v) => (refM(id, b), math.floor(v * 1e9).toLong) }
      val nEff = ms.map(_._1).sum
      val sq = ms.map { case (m, q) => m * q }.sum
      assert(got(b)._1 == nEff, s"replicate $b n_eff")
      assert(got(b)._2 == sq.toDouble / nEff.toDouble / 1e9, s"replicate $b mean")
    }
    // multiplicity frequencies are Poisson(1)-shaped in aggregate: m = 0
    // for roughly a third of draws, and the heavy tail is rare
    val draws = for (id <- 1L to 50L; b <- 1L to 8L) yield refM(id, b)
    val zeros = draws.count(_ == 0L).toDouble / draws.size
    assert(zeros > 0.25 && zeros < 0.45, s"P(m=0) ≈ e^-1, got $zeros")
    assert(draws.count(_ >= 4L) < draws.size / 20)
    // NULL values and ids are excluded
    val withNulls = (Seq((1L, Option(0.5)), (2L, Option.empty[Double]))).toDF("id", "v")
    val n = Sampling.poissonBootstrapMeans(withNulls, "v", "id", 2)
      .agg(org.apache.spark.sql.functions.max("n_eff")).first().getLong(0)
    assert(n <= 5L) // only id 1 contributes (multiplicity ≤ 5)
  }

  test("weighted sample per group: heap ranking matches priorities; plans shuffle-light") {
    import graft.operators.Sampling
    def md5p48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    }
    def refPriority(id: Long, w: Long): Long =
      (1L to w).map(t => md5p48(s"$id:$t")).min
    val rows = (1L to 30L).map(i => (i, if (i % 2 == 0) "even" else "odd", i % 5 + 1))
    val df = rows.toDF("id", "g", "w")
    val got = Sampling.weightedSamplePerGroup(df, Seq("g"), "id", "w", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference: per group, 3 smallest (priority, id)
    val ref = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.map { case (id, _, w) => (id, refPriority(id, w)) }
        .sortBy { case (id, p) => (p, id) }.take(3).zipWithIndex
        .map { case ((id, p), i) => (g, (i + 1).toLong, id, p) }
    }.toSet
    assert(got.toSet == ref && got.length == 6)
    // plan: the global form is TakeOrdered with NO shuffle at all (the
    // priority is a pure projection — no explode, no per-id exchange)
    val plan = Sampling.weightedSample(df, "id", "w", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Generate explode"), plan)
    // the grouped form aggregates via the bounded heap, never a window sort
    val gplan = Sampling.weightedSamplePerGroup(df, Seq("g"), "id", "w", k = 3)
      .queryExecution.executedPlan.toString
    assert(!gplan.contains("Window"), gplan)
  }

  test("mixture plan and sample: exact planner math, determinism, epoch bounds") {
    import graft.operators.Sampling
    // two domains: "big" has 4× the target weight of "small" but the same
    // availability, so it must upsample (epochs > 1) while "small" thins
    val df = (0 until 200).map { i =>
      (i.toLong, if (i < 100) "big" else "small", 100L)
    }.toDF("doc_id", "domain", "n_toks")
    val weightOf = (g: org.apache.spark.sql.Column) =>
      when(g === "big", 4).otherwise(1)
    val plan = Sampling.mixturePlan(df, "domain", "n_toks", weightOf, budget = 25000L)
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6)))
    // big: desired = 25000·4/5 = 20000 over 10000 available → rate 2 → 2 epochs at 1.0
    assert(plan(0) == (("big", 100L, 10000L, 4L, 20000.0, 2L, 1.0)))
    // small: desired 5000 over 10000 → rate 0.5 → 1 epoch at 0.5
    assert(plan(1) == (("small", 100L, 10000L, 1L, 5000.0, 1L, 0.5)))
    val sample = Sampling.mixtureSample(df, "domain", "n_toks", "doc_id",
      weightOf, budget = 25000L)
    val rows = sample.collect().map(r => (r.getLong(0), r.getLong(3)))
    // per-epoch rate 1.0 ⇒ EVERY big doc appears exactly twice (epochs 1 and 2)
    assert(rows.count(_._1 < 100) == 200)
    assert(rows.filter(_._1 < 100).map(_._2).toSet == Set(1L, 2L))
    // (id, epoch) pairs are unique; small thins to roughly half, epoch always 1
    assert(rows.distinct.length == rows.length)
    val small = rows.filter(_._1 >= 100)
    assert(small.forall(_._2 == 1L))
    assert(small.length > 20 && small.length < 80)
    // deterministic under repartitioning
    val again = Sampling.mixtureSample(df.repartition(7), "domain", "n_toks",
      "doc_id", weightOf, budget = 25000L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(again == rows.sorted.toSeq)
  }

  test("cleanCorpus portable-hash path agrees with the xxhash64 path here") {
    val c1 = Dedup.cleanCorpus(docs, "text", "doc_id", nearDupThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val c2 = Dedup.cleanCorpus(docs, "text", "doc_id", nearDupThreshold = 0.5,
      portableHashes = true)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // different hash families can disagree on LSH candidates in general;
    // on this fixture both find the full pair set, so results must match
    assert(c1 == c2)
  }

  test("group top-k: equals the window formulation, without a Window plan") {
    import graft.operators.GroupTopK
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map(i =>
      (i.toLong, s"g${i % 7}", rnd.nextInt(50).toDouble)).toDF("id", "grp", "score")
    val got = GroupTopK.topKPerGroup(rows, Seq("grp"), "score", "id", 4)
    val win = rows.withColumn("rank",
      row_number().over(Window.partitionBy("grp")
        .orderBy(col("score").desc, col("id"))).cast("long"))
      .where(col("rank") <= 4).select("grp", "rank", "id", "score")
    assert(got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq ==
      win.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sorted.toSeq)
    // the scale shape: heap aggregate, no Window operator in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
    // deterministic under repartitioning
    val again = GroupTopK.topKPerGroup(rows.repartition(13), Seq("grp"), "score", "id", 4)
    assert(again.collect().map(_.toSeq).toSet == got.collect().map(_.toSeq).toSet)
  }

  test("hash sample per group: k rows, stable, smallest hashes win") {
    import graft.operators.GroupTopK
    val rows = (0 until 300).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp")
    val got = GroupTopK.hashSampleKPerGroup(rows, Seq("grp"), "id", 5)
    val collected = got.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(collected.groupBy(_._1).forall(_._2.length == 5))
    assert(got.columns.toSeq == Seq("grp", "rank", "id"))
    val again = GroupTopK.hashSampleKPerGroup(rows.repartition(17), Seq("grp"), "id", 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq == collected.sorted.toSeq)
  }

  test("numeric profile: ANSI percentile_disc rule, one job, approx switch") {
    import graft.operators.Profile
    // percentile_disc = smallest value with cume_dist >= p (ANSI): for
    // 1..10 at p=0.75 that is 8 (cume_dist(8) = 0.8), NOT an interpolation
    val ten = (1 to 10).map(i => Tuple1(i.toDouble)).toDF("v")
    val prof = Profile.numericProfile(ten, Seq("v")).collect()(0)
    assert(prof.getAs[String]("column") == "v")
    assert(prof.getAs[Long]("n_nulls") == 0L)
    assert(prof.getAs[Double]("min") == 1.0 && prof.getAs[Double]("max") == 10.0)
    assert(prof.getAs[Double]("p25") == 3.0)
    assert(prof.getAs[Double]("p50") == 5.0)
    assert(prof.getAs[Double]("p75") == 8.0)
    // NULLs are counted but never ranked
    val withNull = (Seq[java.lang.Double](1.0, 2.0, 3.0, null))
      .map(Tuple1(_)).toDF("v")
    val p2 = Profile.numericProfile(withNull, Seq("v")).collect()(0)
    assert(p2.getAs[Long]("n_nulls") == 1L)
    assert(p2.getAs[Double]("p50") == 2.0)
    // approx path: same schema, sane values on this tiny input
    val approx = Profile.numericProfile(ten, Seq("v"), exact = false).collect()(0)
    assert(approx.getAs[Double]("p50") >= 4.0 && approx.getAs[Double]("p50") <= 6.0)
    // all-NULL column: min/max/percentiles are NULL, not unboxed 0.0
    val allNull = Seq[java.lang.Double](null, null).map(Tuple1(_)).toDF("v")
    val pn = Profile.numericProfile(allNull, Seq("v")).collect()(0)
    assert(pn.getAs[Long]("n_nulls") == 2L)
    assert(pn.isNullAt(pn.fieldIndex("min")) && pn.isNullAt(pn.fieldIndex("max")))
    assert(pn.isNullAt(pn.fieldIndex("p50")))
    // rank selection ≡ percentile_disc on heavy-tie data (deterministic
    // pseudo-random, two columns, sizes that don't divide the percentiles
    // evenly) — the aggregate formulation the rank path replaced
    val messy = (0 until 997).map { i =>
      (((i * 31) % 7).toDouble,
        if (i % 5 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(((i * 17) % 13).toDouble))
    }.toDF("a", "b")
    val got = Profile.numericProfile(messy, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> r).toMap
    val ref = messy.selectExpr("stack(2, 'a', a, 'b', CAST(b AS DOUBLE)) AS (c, v)")
      .groupBy("c")
      .agg(expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)").as("p25"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)").as("p75"))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("a", "b").foreach { c =>
      Seq("p25", "p50", "p75").foreach { p =>
        assert(got(c).getAs[Double](p) == ref(c).getAs[Double](p), s"$c.$p")
      }
    }
  }

  test("PII redaction: each category, priority order, clean text untouched") {
    val df = Seq(
      (0L, "reach me at jane.doe+spam@mail.example.org today"),
      (1L, "server 192.168.1.254 timed out"),
      (2L, "ssn is 123-45-6789 ok"),
      (3L, "call 555-123-4567 now"),
      (4L, "no pii here, just 42 numbers and a 1.5 ratio")
    ).toDF("id", "text")
    val red = df.select(col("id"), TextOps.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(0L) == "reach me at [EMAIL] today")
    assert(red(1L) == "server [IPV4] timed out")
    assert(red(2L) == "ssn is [SSN] ok") // ssn wins over phone (priority order)
    assert(red(3L) == "call [PHONE] now")
    assert(red(4L) == "no pii here, just 42 numbers and a 1.5 ratio")
    val counts = df.select(TextOps.PiiPatterns.map { case (n, p) =>
      sum(TextOps.piiCount(col("text"), p)).as(n) }: _*).first()
    assert((0 until 4).map(counts.getLong) == Seq(1L, 1L, 1L, 1L))
  }

  test("repetition stats: duplicate and top-gram fractions") {
    val df = Seq(
      (0L, "spam spam spam spam"),            // 1 distinct of 4; bigram "spam spam" x3
      (1L, "all words here are distinct"),    // no repetition
      (2L, "solo")                            // single token: no bigrams
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got(0L) == ((4L, 1L, 0.75, 1.0, 1.0)))
    assert(got(1L) == ((5L, 5L, 0.0, 0.2, 0.25)))
    assert(got(2L) == ((1L, 1L, 0.0, 1.0, 0.0)))
  }

  test("cosine and brute-force top-k") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs, "embedding", "vec_id", Seq(1.0, 0.0, 0.0), 2)
      .collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(top(0).getDouble(1) == 1.0)
  }

  test("LSH ANN finds the true nearest neighbour") {
    val vecs = (0 until 50).map { i =>
      val angle = i * 2 * math.Pi / 50
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = Ann.bruteForceTopK(vecs, "embedding", "vec_id", Seq(1.0, 0.05), 3)
      .collect().map(_.getLong(0)).toSet
    val ann = Ann.annTopK(vecs, "embedding", "vec_id", Seq(1.0, 0.05), 3, bits = 6)
      .collect().map(_.getLong(0)).toSet
    assert((brute & ann).nonEmpty) // multi-probe should capture the head
  }

  test("driver-side LSH signature is bit-identical to the engine expression") {
    val q = (0 until 16).map(i => math.sin(i * 1.7) * (if (i % 3 == 0) -1 else 1))
    for (offset <- Seq(0, 12)) {
      val engine = spark.range(1)
        .select(Ann.lshSignature(Ann.vecLit(q), q.length, bits = 12, planeOffset = offset))
        .first().getLong(0)
      assert(Ann.lshSignatureLocal(q, bits = 12, planeOffset = offset) == engine)
    }
  }

  test("fused multi-table LSH signatures match the per-plane composition") {
    // the fused LshTableSignatures expression must be BIT-identical to the
    // per-plane DotProduct formulation it replaced (same plane family, same
    // left-to-right double accumulation) — the cosine-LSH oracle mirrors
    // the per-plane arithmetic, so any divergence here breaks the hash check
    import org.apache.spark.sql.functions.{array, col}
    val rnd = new scala.util.Random(42)
    val dim = 16
    val vecs = ((0 until 30).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))) :+
      (30L, Array.fill(dim)(0f))).toDF("id", "v")
    val (bits, tables) = (6, 5)
    val perPlane = (0 until tables).map(t =>
      Ann.lshSignature(col("v"), dim, bits, t * bits))
    val rows = vecs.select(col("id"),
      Ann.lshTableSignatures(col("v"), dim, bits, tables).as("fused"),
      array(perPlane: _*).as("composed"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
    // and the driver-side signer agrees with the fused expression per table
    val q = (0 until dim).map(i => math.cos(i * 0.9) * (if (i % 2 == 0) 1 else -1))
    val fusedQ = spark.range(1)
      .select(Ann.lshTableSignatures(Ann.vecLit(q), dim, bits, tables))
      .first().getSeq[Long](0)
    val localQ = (0 until tables).map(t => Ann.lshSignatureLocal(q, bits, t * bits))
    assert(fusedQ == localQ)
  }

  test("multi-query top-k: heap aggregate matches per-query brute force; no window plan") {
    val vecs = (0 until 60).map { i =>
      val angle = i * 2 * math.Pi / 60
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding").repartition(4)
    val queries = Seq(
      (100L, Array(1.0f, 0.0f)),
      (200L, Array(0.0f, 1.0f)),
      (300L, Array(-0.7f, -0.7f))
    ).toDF("query_id", "qv")
    val multi = Ann.bruteForceTopKJoin(vecs, "embedding", "vec_id",
      queries, "qv", "query_id", k = 4)
    val got = multi.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    // oracle: single-query brute force per query vector (same float32
    // values widened, so the arithmetic is bit-identical)
    for ((qid, qv) <- Seq(
        (100L, Seq(1.0f, 0.0f)), (200L, Seq(0.0f, 1.0f)), (300L, Seq(-0.7f, -0.7f)))) {
      val expect = Ann.bruteForceTopK(vecs, "embedding", "vec_id", qv.map(_.toDouble), 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val mine = got.filter(_._1 == qid).map(t => (t._3, t._4)).toSeq
      assert(mine == expect, s"query $qid")
    }
    // ranks are 1..k per query
    assert(got.filter(_._1 == 100L).map(_._2).toSeq == Seq(1, 2, 3, 4))
    // scale-shape pin: the per-query reduction is the bounded-heap object
    // aggregate (map-side partial top-k), NOT a full-stream window sort
    val plan = multi.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("top-k heap aggregate is exact and order-independent on ties") {
    graft.functions.VectorFunctions.register(spark)
    // two rows tie on score — the smaller id must win the last slot,
    // regardless of partitioning/arrival order
    val rows = Seq((1L, 0.9), (2L, 0.5), (3L, 0.5), (4L, 0.1), (5L, 0.9))
      .toDF("id", "score").repartition(3)
    val top = rows.agg(
      graft.functions.VectorFunctions.topKByScore(col("score"), col("id"), 3).as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.score"), col("e.id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(top == Seq((0.9, 1L), (0.9, 5L), (0.5, 2L)))
  }

  test("graft_dot_product is callable from SQL after registration") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").first()
    assert(r.getDouble(0) == 11.0)
    // float arrays widen per-element like the HOF form
    val f = spark.sql(
      "SELECT graft_dot_product(array(CAST(1.5 AS FLOAT)), array(CAST(2.0 AS FLOAT)))").first()
    assert(f.getDouble(0) == 3.0)
  }

  test("winnowing matches an independent from-scratch implementation") {
    // self-oracle for the un-SQL-mirrorable operator: every k-gram hash is
    // recomputed FROM SCRATCH (verifying the rolling-subtraction algebra)
    // and the winnow loop is written independently (minBy with a rightmost
    // tie rule) — any drift in either half fails this test
    def naive(text: String, k: Int, w: Int): Seq[Long] = {
      def mix(x0: Long): Long = {
        var z = x0
        z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 33
        z *= 0xC4CEB9FE1A85EC53L; z ^= z >>> 33
        z
      }
      def gramHash(g: Array[Byte]): Long =
        mix(g.foldLeft(0L)((h, b) => h * 1000000007L + (b & 0xFF) + 1))
      val bytes = text.getBytes("UTF-8")
      if (bytes.length < k) return Seq(gramHash(bytes))
      val hashes = bytes.sliding(k).map(gramHash).toVector
      val win = math.min(w, hashes.length)
      var lastPos = -1
      (0 to hashes.length - win).flatMap { s =>
        val window = s until math.min(s + w, hashes.length)
        val minPos = window.minBy(p => (hashes(p), -p))
        if (minPos != lastPos) { lastPos = minPos; Some(hashes(minPos)) } else None
      }
    }
    val rnd = new scala.util.Random(42)
    val texts = Seq("", "a", "abc", "abcdefghij", "aaaaaaaaaaaaaaaa") ++
      (0 until 30).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(200)).mkString) ++
      (0 until 5).map(_ => ("spam " * (1 + rnd.nextInt(20))).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((k, w) <- Seq((5, 4), (3, 7), (8, 2))) {
      val engine = df.select(col("id"),
        graft.functions.WinnowFingerprints.fingerprints(col("text"), k, w).as("fp"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(engine(i.toLong) == naive(t, k, w), s"k=$k w=$w text#$i '${t.take(30)}'")
      }
    }
  }

  test("portable winnow: selection matches an independent md5 winnower") {
    // same independent winnow loop as the rolling-hash self-oracle, but
    // with the portable hash (md5 48-bit prefix of each k-gram, computed
    // here with java.security directly) — pins the relational
    // window-fanout/struct-min formulation to the selection rule
    def md548(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16)
    }
    def naive(text: String, k: Int, w: Int): Set[Long] = {
      val n = text.length
      val grams = (1 to math.max(n - k + 1, 1))
        .map(p => md548(text.substring(p - 1, math.min(p - 1 + k, n))))
      val win = math.min(w, grams.length)
      (0 to grams.length - win).map { s =>
        val window = s until math.min(s + w, grams.length)
        grams(window.minBy(p => (grams(p), -p)))
      }.toSet
    }
    val rnd = new scala.util.Random(7)
    val texts = Seq("", "a", "short", "abcdefghijklmnop") ++
      (0 until 20).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(120)).mkString)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((k, w) <- Seq((5, 4), (3, 7))) {
      val got = Dedup.winnowFingerprintsPortable(df, "text", "id", k, w)
        .collect().groupBy(_.getLong(0))
        .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == naive(t, k, w), s"k=$k w=$w text#$i '${t.take(30)}'")
      }
    }
    // and the pair operator finds substring-level duplication through it
    val shared = "the exact same long boilerplate passage appears here verbatim"
    val pdf = Seq(
      (0L, "prefix one " + shared + " suffix alpha"),
      (1L, "other start " + shared + " different end"),
      (2L, "nothing in common with anything else at all whatsoever")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairsPortable(pdf, "text", "doc_id", k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("int8 quantization: bounded error, engine/driver mirror, top-k recall") {
    val vecs = (0 until 50).map { i =>
      val angle = i * 2 * math.Pi / 50
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat, (i / 50.0f)))
    }.toDF("vec_id", "embedding")
    // dequantize(quantize(v)) within half a quantization step per element
    val err = vecs.select(Ann.int8Quantize(col("embedding")).as("qs"), col("embedding"))
      .select(Ann.dequantize(col("qs")).as("dq"), col("embedding"),
        col("qs").getField("scale").as("sc"))
      .collect()
    err.foreach { r =>
      val dq = r.getSeq[Double](0); val v = r.getSeq[Float](1); val sc = r.getDouble(2)
      dq.zip(v).foreach { case (a, b) =>
        assert(math.abs(a - b.toDouble) <= sc / 2 + 1e-12, (a, b, sc)) }
      // quantized values stay in int8 range
      assert(dq.forall(x => math.abs(x / sc) <= 127.0 + 1e-9))
    }
    // driver-side mirror agrees with the engine expression
    val v0 = vecs.where(col("vec_id") === 7).select("embedding").first()
      .getSeq[Float](0).map(_.toDouble)
    val engineQ = vecs.where(col("vec_id") === 7)
      .select(Ann.int8Quantize(col("embedding")).getField("q")).first().getSeq[Int](0)
    assert(Ann.int8QuantizeLocal(v0).toSeq == engineQ)
    // quantized top-k finds the float top-k on well-separated data
    val q = Seq(1.0, 0.05, 0.1)
    val floatTop = Ann.bruteForceTopK(vecs, "embedding", "vec_id", q, 3)
      .collect().map(_.getLong(0)).toSet
    val quantTop = Ann.quantizedTopK(vecs, "embedding", "vec_id", q, 3)
      .collect().map(_.getLong(0)).toSet
    assert((floatTop & quantTop).size >= 2, (floatTop, quantTop))
    // zero vector quantizes to zeros without dividing by zero
    val z = Seq((0L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Ann.int8Quantize(col("embedding")).as("qs")).first().getStruct(0)
    assert(z.getDouble(0) == 0.0 && z.getSeq[Int](1) == Seq(0, 0))
  }

  test("LSH bucketed layout: partition-pruned probes match the in-memory path") {
    val vecs = (0 until 80).map { i =>
      val angle = i * 2 * math.Pi / 80
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val path = "target/ann_lsh_bucketed"
    Ann.writeLshBucketed(vecs, "embedding", dim = 2, path, bits = 6)
    val q = Seq(1.0, 0.05)
    val fromDisk = Ann.annTopKFromBucketed(spark, path, "embedding", "vec_id", q, 3, bits = 6)
    // probe set becomes a partition filter — unprobed buckets never read
    val plan = fromDisk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__bucket"), plan)
    val inMem = Ann.annTopK(vecs, "embedding", "vec_id", q, 3, bits = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == inMem)
  }

  test("GraftExtensions covers every stable-name function; all SQL-callable") {
    import graft.functions.{GraftExtensions, VectorFunctions, TextCounts, WinnowFingerprints, Md5Longs}
    // the server-side (Spark Connect) route: the extension's inventory must
    // track every stable-name function the client-side wrappers register
    assert(GraftExtensions.functions.map(_._1).toSet == Set(
      VectorFunctions.FunctionName, VectorFunctions.TopKFunctionName,
      VectorFunctions.VectorSumFunctionName, TextCounts.FunctionName,
      WinnowFingerprints.functionName(5, 4), Md5Longs.FunctionName))
    // installer applies cleanly to a fresh extensions instance
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // and each function resolves + evaluates through the SQL registry
    VectorFunctions.register(spark)
    TextCounts.register(spark)
    WinnowFingerprints.register(spark, 5, 4)
    Md5Longs.register(spark)
    val topk = spark.sql(
      """SELECT graft_top_k(s, i, 2) AS t FROM VALUES (1.0D, 10L), (3.0D, 30L),
        |(2.0D, 20L) AS v(s, i)""".stripMargin).first()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getDouble(0), r.getLong(1)))
    assert(topk == Seq((3.0, 30L), (2.0, 20L)))
    val vs = spark.sql(
      "SELECT graft_vector_sum(v) AS s FROM VALUES (array(1.0D, 2.0D)), (array(3.0D, 4.0D)) AS t(v)")
      .first().getStruct(0)
    assert(vs.getSeq[Double](0) == Seq(4.0, 6.0) && vs.getLong(1) == 2L)
    assert(spark.sql("SELECT graft_text_counts('ab cd')[0]").first().getInt(0) == 5)
    assert(spark.sql("SELECT size(graft_winnow_5_4('abcdefghijklmnop')) > 0").first().getBoolean(0))
    // md5 projections must equal the hex parses they replace, via SQL
    val m = spark.sql(
      """SELECT graft_md5_longs(CAST('abc' AS BINARY)) AS l,
        |  CONV(SUBSTRING(md5(CAST('abc' AS BINARY)), 1, 12), 16, 10) AS a,
        |  CONV(SUBSTRING(md5(CAST('abc' AS BINARY)), 17, 12), 16, 10) AS b""".stripMargin).first()
    assert(m.getSeq[Long](0)(0) == m.getString(1).toLong)
    assert(m.getSeq[Long](0)(1) == m.getString(2).toLong)
  }

  test("multimodal: JDK codecs round-trip exactly; stages stay in one Catalyst plan") {
    import graft.operators.Multimodal
    val media = Multimodal.syntheticEncodedMedia(docs, "doc_id")
    val stats = Multimodal.decodeStats(media)
    // typed mapPartitions keeps the stage inside Catalyst — no RDD scan node
    val plan = stats.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), plan)
    assert(plan.contains("MapPartitions"), plan)
    val byId = stats.collect().map(r => r.getLong(0) -> r).toMap
    // independent mirror of the synthetic pixel/sample formulas: decoded
    // PNG/WAV values must equal the generator's closed forms (lossless)
    def imgVals(id: Long, fr: Int): Seq[Long] = {
      val (w, h) = ((id % 13 + 4).toInt, (id % 11 + 4).toInt)
      for { y <- 0 until h; x <- 0 until w } yield
        (id * 7 + x * 13 + y * 31 + fr * 97) % 256 +
          (id * 11 + x * 3 + y * 17 + fr * 89) % 256 +
          (id * 5 + x * 29 + y * 7 + fr * 83) % 256
    }
    val s0 = byId(0L)
    assert(s0.getAs[String]("kind") == "image")
    assert(s0.getAs[Int]("width") == 4 && s0.getAs[Int]("height") == 4)
    val v0 = imgVals(0L, 0)
    assert(s0.getAs[Long]("value_sum") == v0.sum)
    assert(s0.getAs[Long]("value_min") == v0.min && s0.getAs[Long]("value_max") == v0.max)
    val s1 = byId(1L)
    assert(s1.getAs[String]("kind") == "audio")
    val samples1 = (0 until (1 % 96 + 32)).map(i => (1L * 31 + i * 173) % 65536 - 32768)
    assert(s1.getAs[Long]("n_samples") == samples1.length.toLong)
    assert(s1.getAs[Long]("value_sum") == samples1.sum)
    assert(s1.getAs[Long]("value_min") == samples1.min && s1.getAs[Long]("value_max") == samples1.max)
    val s2 = byId(2L)
    assert(s2.getAs[String]("kind") == "video")
    assert(s2.getAs[Int]("n_frames") == (2 % 3 + 2))
    val v2 = (0 until (2 % 3 + 2)).flatMap(fr => imgVals(2L, fr))
    assert(s2.getAs[Long]("value_sum") == v2.sum)
    // feature stage: fixed dims, real decode feeding the reduction
    val features = Multimodal.extractFeatures(media, dims = 8)
    assert(features.columns.toSeq == Seq("media_id", "features"))
    val rows = features.collect()
    assert(rows.length == 5 && rows.forall(_.getSeq[Float](1).length == 8))
    val byIdF = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(byIdF(0L) != byIdF(3L)) // different payload content → different features
    // frame sampling: stills emit themselves, audio nothing, video ≤ n frames
    val frames = Multimodal.sampleFrames(media, framesPerVideo = 2)
    assert(frames.count() == 4) // ids 0,3 stills (1 each) + id 2 video (2) + audio (0)
    // resize: stills and every video frame re-encoded at the target size
    val resized = Multimodal.decodeStats(Multimodal.resizeMedia(media, 6, 5))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(resized(0L).getAs[Int]("width") == 6 && resized(0L).getAs[Int]("height") == 5)
    assert(resized(2L).getAs[Int]("width") == 6 && resized(2L).getAs[Int]("n_frames") == (2 % 3 + 2))
    assert(resized(1L).getAs[String]("kind") == "audio") // audio passes through
  }

  test("multimodal perceptual hash: real decode, edit-tolerant, banded pairs find the copy") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    // stills 0..19 + a one-pixel-edited copy of each of 0, 5, 10, 15
    val base = (0L until 20L).map(id => (id, id, 0)).toDF("media_id", "base_id", "bump")
    val copies = Seq(0L, 5L, 10L, 15L)
      .map(id => (id + 1000L, id, 1)).toDF("media_id", "base_id", "bump")
    val media = Multimodal.syntheticStillVariants(base.union(copies),
      "media_id", "base_id", "bump")
    val hashes = Multimodal.perceptualHashes(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes.size == 24)
    // a bump=0 variant decodes to the identical image → identical hash; the
    // one-pixel edit moves the hash at most a few bits (usually 0-1)
    for (id <- Seq(0L, 5L, 10L, 15L)) {
      val d = java.lang.Long.bitCount(hashes(id) ^ hashes(id + 1000L))
      assert(d <= 3, s"edit distance for $id was $d bits")
    }
    // the Hamming-banded pair join surfaces every (base, copy) pair
    val pairs = Dedup.simhashPairsFromSignatures(
      Multimodal.perceptualHashes(media)
        .select(col("media_id").as("id"), col("phash").as("sh")), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (id <- Seq(0L, 5L, 10L, 15L)) assert(pairs.contains((id, id + 1000L)))
    // video payloads hash their first frame; audio emits no row
    val mixed = Multimodal.syntheticEncodedMedia(
      (0L until 6L).toDF("doc_id"), "doc_id")
    val mixedHashes = Multimodal.perceptualHashes(mixed)
      .collect().map(r => r.getLong(0)).toSet
    assert(mixedHashes == Set(0L, 2L, 3L, 5L)) // 1, 4 are audio
    // dHash: no global mean, so the one-pixel edit moves ONLY the bits
    // whose comparisons touch the edited sample — at most 2
    val dHashes = Multimodal.perceptualHashes(media, "dhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- Seq(0L, 5L, 10L, 15L)) {
      val d = java.lang.Long.bitCount(dHashes(id) ^ dHashes(id + 1000L))
      assert(d <= 2, s"dhash edit distance for $id was $d bits")
    }
    intercept[IllegalArgumentException] {
      Multimodal.perceptualHashes(media, "phash").collect()
    }
  }

  test("audio fingerprint: real WAV decode matches the closed form, edits stay near") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    // clips spread over the id space (distinct waveform offsets) + a
    // one-sample-edited copy of four of them
    val baseIds = (0L until 20L).map(_ * 37L)
    val editIds = Seq(0L, 5L * 37L, 10L * 37L, 15L * 37L)
    val base = baseIds.map(id => (id, id, 0)).toDF("media_id", "base_id", "bump")
    val copies = editIds.map(id => (id + 10000L, id, 1)).toDF("media_id", "base_id", "bump")
    val media = Multimodal.syntheticAudioVariants(base.union(copies),
      "media_id", "base_id", "bump")
    val fps = Multimodal.audioFingerprints(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.size == 24)
    // the DECODE path is the content under test: fingerprints from the real
    // WAV round trip must equal the same SimHash core fed the closed-form
    // quantized tokens directly
    val handToks = (baseIds.map(id => (id, id, 0)) ++ editIds.map(id => (id + 10000L, id, 1)))
      .flatMap { case (mid, bid, bump) =>
        val n = (bid % 96 + 32).toInt
        (0 until n).map { i =>
          val b = if (i == 0) bump * 256L else 0L
          (mid, s"$i:${((bid * 31 + i * 173L + b) % 65536) / 1024}")
        }
      }.toDF("id", "t")
    val expected = Dedup.simhashSignaturesMd5FromTokens(handToks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps == expected)
    // one-sample edits stay within the Hamming budget; decorrelated clips
    // stay far outside it (the discrimination an envelope hash lacks)
    for (id <- editIds) {
      val d = java.lang.Long.bitCount(fps(id) ^ fps(id + 10000L))
      assert(d <= 7, s"edit distance for clip $id was $d bits")
    }
    val unrelated = for {
      a <- baseIds; b <- baseIds if a < b
    } yield java.lang.Long.bitCount(fps(a) ^ fps(b))
    assert(unrelated.count(_ > 7) > unrelated.size * 3 / 4,
      s"most distinct clips must decorrelate, distances: ${unrelated.sorted}")
    // the banded pair join surfaces every (base, copy) pair
    val pairs = Dedup.simhashPairsFromSignatures(
      Multimodal.audioFingerprints(media)
        .select(col("media_id").as("id"), col("afp").as("sh")), maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (id <- editIds) assert(pairs.contains((id, id + 10000L)))
    // non-WAV payloads emit no row (stills/videos are the image family's)
    val mixed = Multimodal.syntheticEncodedMedia((0L until 6L).toDF("doc_id"), "doc_id")
    val audioOnly = Multimodal.audioFingerprints(mixed)
      .collect().map(_.getLong(0)).toSet
    assert(audioOnly == Set(1L, 4L)) // ids ≡ 1 mod 3 are the WAV payloads
  }

  test("video frame hashes: per-frame decode, one-frame edits stay near, others exact") {
    import graft.operators.Multimodal
    import spark.implicits._
    val base = (0L until 12L).map(id => (id, id, 0)).toDF("media_id", "base_id", "bump")
    val copies = Seq(0L, 5L).map(id => (id + 1000L, id, 1)).toDF("media_id", "base_id", "bump")
    val media = Multimodal.syntheticVideoVariants(base.union(copies),
      "media_id", "base_id", "bump")
    val fh = Multimodal.videoFrameHashes(media)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // every video contributes exactly its frame count
    for (id <- 0L until 12L)
      assert((0 until (id % 3 + 2).toInt).forall(fr => fh.contains((id, fr))),
        s"missing frames for video $id")
    for (id <- Seq(0L, 5L)) {
      // the edit touches frame 0 only: a few bits there, zero elsewhere
      val d0 = java.lang.Long.bitCount(fh((id, 0)) ^ fh((id + 1000L, 0)))
      assert(d0 <= 3, s"frame-0 edit distance for video $id was $d0")
      for (fr <- 1 until (id % 3 + 2).toInt)
        assert(fh((id, fr)) == fh((id + 1000L, fr)),
          s"unedited frame $fr of video $id must hash identically")
    }
    // non-video payloads emit no rows (ids ≡ 2 mod 3 are the GVC1 ones)
    val mixed = Multimodal.syntheticEncodedMedia((0L until 6L).toDF("doc_id"), "doc_id")
    assert(Multimodal.videoFrameHashes(mixed)
      .select("media_id").distinct().collect().map(_.getLong(0)).toSet == Set(2L, 5L))
  }

  test("phash index probe: partition-pruned and recall-complete vs brute force") {
    import graft.operators.Multimodal
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phash_idx").toString
    try {
      val base = (0L until 30L).map(id => (id, id, 0)).toDF("media_id", "base_id", "bump")
      val corpusHashes = Multimodal.perceptualHashes(
        Multimodal.syntheticStillVariants(base, "media_id", "base_id", "bump"))
      Multimodal.writePhashIndex(corpusHashes, dir, maxHamming = 3)
      val probes = Seq(0L, 5L, 11L)
        .map(id => (id + 1000L, id, 1)).toDF("media_id", "base_id", "bump")
      val probeHashes = Multimodal.perceptualHashes(
        Multimodal.syntheticStillVariants(probes, "media_id", "base_id", "bump"))
      val probed = Multimodal.phashProbeIndex(spark, dir, probeHashes, maxHamming = 3)
      val got = probed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // brute-force reference over the full cross product
      val ch = corpusHashes.collect().map(r => r.getLong(0) -> r.getLong(1))
      val ph = probeHashes.collect().map(r => r.getLong(0) -> r.getLong(1))
      val ref = (for {
        (pid, psh) <- ph; (cid, csh) <- ch
        d = java.lang.Long.bitCount(psh ^ csh) if d <= 3
      } yield (pid, cid, d)).toSet
      assert(got == ref)
      assert(ref.exists { case (pid, cid, _) => pid == cid + 1000L }) // copies found
      // the index scan is partition-pruned to the probe's bp values
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("bp"), plan)
    } finally graft.operators.Utils.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("driver queries: no cartesian product in any executed plan") {
    val dir = "/root/testdata/sf0.001"
    // the streaming queries' frames are memory-sink/parquet scans (no
    // joins) that cost a full streaming replay to build — skip the run,
    // not the rule.
    val skip = Set("q_events_streamed", "q_events_stream_join", "q_events_incr_rollup",
      "q_events_stream_topk")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"$name plan contains a cartesian product")
        // broadcast nested-loop is acceptable ONLY as the bounded broadcast
        // query fan-out of the multi-query ANN scorers (queries ≪ corpus;
        // kNN classification shares the same shape); queries that collect
        // driver-side return LocalRelations here and their internal scorer
        // plans are pinned by their own specs
        if (name != "q_ann_topk_multi" && name != "q_ann_knn" &&
            name != "q_embedding_align" && name != "q_embedding_align_margin" &&
            name != "q_ann_mrr" && name != "q_ann_retrieval_summary")
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"$name plan contains a non-broadcastable nested-loop join")
      }
    }
  }

  test("dedup cache scope: a new pass releases the previous pass's postings") {
    CacheScope.releaseAll()
    val sc = spark.sparkContext
    // count only RDDs persisted SINCE this test's baseline: other tests'
    // dead localCheckpoint RDDs (labelprop/PPR/trainer supersteps) are
    // unpersisted asynchronously by the ContextCleaner and make the raw
    // global count drift mid-test; Dedup's own caches hold strong
    // references until release, so the since-baseline set is noise-free
    val base = sc.getPersistentRDDs.keySet
    def newSince = sc.getPersistentRDDs.keySet.diff(base).size
    Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5).count()
    val afterFirst = newSince
    assert(afterFirst > 0) // the pass did register postings caches
    Dedup.jaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.5).count()
    // second pass auto-released the first's caches before adding its own
    assert(newSince <= afterFirst)
    CacheScope.releaseAll()
    assert(newSince == 0)
  }

  test("dedup cache scope is per-thread: a pass on another thread keeps its caches") {
    // the concurrent verify sweep's failure mode: query A's pass on thread 1
    // must NOT be evicted when query B starts a pass on thread 2.
    // Since-baseline counting for the same reason as the sibling test.
    CacheScope.releaseAll()
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    def newSince = sc.getPersistentRDDs.keySet.diff(base).size
    Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5).count()
    val afterLocal = newSince
    assert(afterLocal > 0)
    val t = new Thread(() =>
      Dedup.jaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.5).count())
    t.start(); t.join()
    // the sibling thread's pass added its own caches without draining ours
    assert(newSince > afterLocal,
      s"cross-thread pass evicted this thread's caches (newSince=$newSince, before=$afterLocal)")
    // and the global drain still clears everything from every thread
    CacheScope.releaseAll()
    assert(newSince == 0)
  }

  test("salted join and salted aggregate preserve plain-join semantics") {
    import graft.operators.Skew
    val left = (1 to 100).map(i => (if (i <= 90) 1L else i.toLong, i)).toDF("k", "v")
    val right = Seq((1L, "hot"), (95L, "cold")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).agg(count(lit(1)), sum("v")).first()
    val salted = Skew.saltedJoin(left, right, Seq("k"), factor = 4)
      .agg(count(lit(1)), sum("v")).first()
    assert(plain == salted)
    val agg = Skew.saltedAggregate(left, Seq("k"), 4,
      partialAggs = Seq((sum(col("v")), "s"), (count(lit(1)), "n")),
      finalAggs = Seq(((n: String) => sum(col(n)), "s"), ((n: String) => sum(col(n)), "n")))
    val plainAgg = left.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    assert(agg.orderBy("k").collect().toSeq == plainAgg.orderBy("k").collect().toSeq)
  }

  test("cosine near-dup pairs: exact vs LSH agree on high threshold") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.04f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.02f, 0.999f))
    ).toDF("vec_id", "embedding")
    val exact = Ann.cosinePairsExact(vecs, "embedding", "vec_id", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((0L, 1L), (2L, 3L)))
    val lsh = Ann.cosineNearDuplicates(vecs, "embedding", "vec_id", 0.99, dim = 2, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    // multi-table variant: candidates are a superset per-table, result still
    // exact-verified, so it must also be a subset of the exact pairs — and
    // with several tables it should recover both near-dup pairs here
    val multi = Ann.cosineNearDuplicatesMultiTable(vecs, "embedding", "vec_id",
      0.99, dim = 2, bits = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.subsetOf(exact))
    assert(multi.nonEmpty)
  }

  test("linear model scores: exact fixed-point sums over hashed features") {
    val w = Array.tabulate(16)(i => (i * 7L) % 11L - 5L)
    // independent reference: java MessageDigest md5 → first 12 hex chars →
    // 48-bit long → bucket → weight (same parse the md5Long48 column does)
    def bucket(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      (java.lang.Long.parseLong(hex, 16) % 16).toInt
    }
    def score(toks: Seq[String]): Long = toks.map(t => w(bucket(t))).sum
    val d = Seq((1L, "alpha beta alpha"), (2L, "gamma")).toDF("doc_id", "text")
    val got = TextOps.linearModelScores(d, "text", "doc_id", w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val s1 = score(Seq("alpha", "beta", "alpha")) // occurrences, not distinct
    val s2 = score(Seq("gamma"))
    assert(got.toSeq == Seq((1L, 3L, s1, s1 > 0), (2L, 1L, s2, s2 > 0)))
    intercept[IllegalArgumentException] {
      TextOps.linearModelScores(d, "text", "doc_id", Array.empty[Long])
    }
  }

  test("IngestPhash ladder: matches a hand simulation; replayed delivery self-heals") {
    import graft.operators.Multimodal
    import graft.streaming.IngestPhash
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_phash_ingest").toString
    val (idx, cor) = (s"$root/index", s"$root/corpus")
    try {
      def still(ids: Seq[Long], offset: Long, bump: Int) =
        Multimodal.syntheticStillVariants(
          ids.map(id => (id + offset, id, bump)).toDF("media_id", "base_id", "bump"),
          "media_id", "base_id", "bump")
      val baseIds = 0L until 20L
      val batch1 = still(baseIds, 0L, 0)
      val batch2 = still(Seq(0L, 5L), 1000L, 1).union(still(Seq(0L, 5L), 2000L, 2))
      IngestPhash.processBatch(batch1, idx, cor, maxHamming = 3)
      IngestPhash.processBatch(batch2, idx, cor, maxHamming = 3)
      val got = spark.read.parquet(cor).select("media_id")
        .collect().map(_.getLong(0)).toSet
      // independent simulation from the raw hashes
      def hashesOf(df: org.apache.spark.sql.DataFrame) =
        Multimodal.perceptualHashes(df).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val h1 = hashesOf(batch1); val h2 = hashesOf(batch2)
      def near(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b) <= 3
      def collapse(h: Map[Long, Long]): Set[Long] = {
        // keep each component's min id under the near() relation
        val ids = h.keys.toSeq.sorted
        val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
        def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        for (a <- ids; b <- ids if a < b && near(h(a), h(b))) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        ids.filter(i => find(i) == i).toSet
      }
      val surv1 = collapse(h1)
      val surv2 = collapse(h2).filterNot(i => surv1.exists(c => near(h2(i), h1(c))))
      assert(got == surv1 ++ surv2)
      assert(surv2.size < 4, "the edited copies should mostly collapse/probe away")
      // at-least-once replay of batch 2: every row is Hamming-0 from its
      // first (indexed) copy or within budget of its base — nothing lands
      IngestPhash.processBatch(batch2, idx, cor, maxHamming = 3)
      assert(spark.read.parquet(cor).count() == got.size.toLong)
      // parameter drift on append is rejected, not silently mixed
      intercept[IllegalArgumentException] {
        Multimodal.writePhashIndex(
          Multimodal.perceptualHashes(batch1), idx, maxHamming = 1, mode = "append")
      }
    } finally graft.operators.Utils.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("withClusterSafeSplit: no near-dup pair or chain crosses a split boundary") {
    import graft.operators.{Dedup, Sampling}
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = Dedup.minhashNearDuplicatesMd5(d, "text", "doc_id",
      threshold = 0.5, numHashes = 64, bands = 16).select("id1", "id2")
    def crossPairs(labeled: org.apache.spark.sql.DataFrame): Long =
      pairs.join(labeled.toDF("id1", "sp1"), "id1")
        .join(labeled.toDF("id2", "sp2"), "id2")
        .where(col("sp1") =!= col("sp2")).count()
    // the per-doc-id split leaks near-dup pairs across the boundary…
    val naive = Sampling.withSplit(d.select(col("doc_id")), "doc_id")
      .select("doc_id", "split")
    assert(crossPairs(naive) > 0, "fixture should exhibit naive-split leakage")
    // …the cluster-safe split cannot, by construction
    val safe = Sampling.withClusterSafeSplit(d.select(col("doc_id")), "doc_id", pairs)
      .select("doc_id", "split")
    assert(crossPairs(safe) == 0L)
    assert(safe.count() == d.count()) // every document labeled exactly once
    // transitive chains share one split even when no direct pair links the ends
    val hand = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val lab = Sampling.withClusterSafeSplit(
      Seq(1L, 2L, 3L, 4L).toDF("doc_id"), "doc_id", hand)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lab(1L) == lab(2L) && lab(2L) == lab(3L))
    assert(lab.size == 4) // the unpaired doc keeps its own hash split
  }

  test("withClusterSafeSplit: the component broadcast is gated, not unconditional") {
    // on the dup-heavy corpora this operator targets, the component table
    // is corpus-scale — above the limit the attach must be a plain shuffle
    // join, never a broadcast hint of a corpus-sized frame (the
    // pageRankScaled broadcastNodeLimit discipline)
    import graft.operators.Sampling
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // silence Catalyst's own size-based auto-broadcast so the plan shows
    // exactly what the gate requested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def labs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val shuffled = Sampling.withClusterSafeSplit(docs, "doc_id", pairs,
        assumeSmallClusters = Some(false))
      val sPlan = shuffled.queryExecution.executedPlan.toString
      assert(!sPlan.contains("BroadcastExchange"),
        s"above the limit the component attach must not broadcast:\n$sPlan")
      val hinted = Sampling.withClusterSafeSplit(docs, "doc_id", pairs,
        assumeSmallClusters = Some(true))
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "below the limit the gate should keep the broadcast")
      // the size probe itself routes above-limit tables to the shuffle join
      val probed = Sampling.withClusterSafeSplit(docs, "doc_id", pairs,
        broadcastComponentLimit = 0L)
      assert(!probed.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
      // every path labels identically — the gate is a plan choice only
      assert(labs(shuffled) == labs(hinted) && labs(probed) == labs(shuffled))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("trainHashedLinearModel: fixed-point GD matches the hand-rolled recurrence") {
    import graft.operators.Trainer
    // one token per doc, distinct buckets (alpha→0, gamma→12 mod 16): the
    // recurrence is hand-computable, including div-truncation on negatives
    val d = Seq((1L, "alpha", 1), (2L, "gamma", 0)).toDF("doc_id", "text", "y")
    def weights(iters: Int): Map[Long, Long] =
      Trainer.trainHashedLinearModel(d, "text", "doc_id", "y",
        numFeatures = 16, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter 1: z = 0, p = 500000, err = ±500000, w = ±(500000 div 256) = ±1953
    assert(weights(1) == Map(0L -> 1953L, 12L -> -1953L))
    // iter 2: z = ±1953, z div 4 = ±488 (TRUNCATED toward zero on the
    // negative side), p = 500000 ± 488, err = ±499512, w ± = 499512 div 256
    assert(weights(2) == Map(0L -> 3904L, 12L -> -3904L))
    // the trained table densifies straight into the scorer's weight shape
    val arr = Trainer.weightsToArray(
      Trainer.trainHashedLinearModel(d, "text", "doc_id", "y", 16, 2), 16)
    assert(arr(0) == 3904L && arr(12) == -3904L && arr.sum == 0L)
    val scored = graft.operators.TextOps.linearModelScores(d, "text", "doc_id", arr)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(scored == Map(1L -> true, 2L -> false)) // the model separates its training pair
    // plan stays bounded at deep iteration counts (per-iteration checkpoint)
    val deep = Trainer.trainHashedLinearModel(d, "text", "doc_id", "y", 16, 12)
    assert(deep.queryExecution.optimizedPlan.collect { case p => p }.size < 64)
  }

  test("stripMarkup: attribute/self-closing tags, one-level entity decode") {
    val d = Seq(
      (1L, "<div class=\"x\" data-a='1'>hello <b>world</b></div>"),
      (2L, "a<br/>b &amp;lt; c &nbsp;&quot;q&quot; &#39;s&#39; &gt;"),
      (3L, "no markup at all"),
      (4L, "<p>spaced</p> <p>words</p>")
    ).toDF("id", "t")
    val got = d.select(col("id"), TextOps.stripMarkup(col("t")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "hello world")
    // &amp;lt; decodes exactly one level (to the literal &lt;), never to <
    assert(got(2L) == "ab &lt; c  \"q\" 's' >")
    assert(got(3L) == "no markup at all")
    assert(got(4L) == "spaced words") // inter-tag spaces survive
  }

  test("chunkDocuments: coverage, overlap, and tail invariants") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // ≤ overlap+1 → one chunk
      (3L, "solo")
    ).toDF("doc_id", "text")
    val chunks = TextOps.chunkDocuments(d, "text", "doc_id", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(c => (c._1, c._2))
    // doc 1: stride 3, last start ≤ n-overlap-1 = 8 → starts 0, 3, 6
    val doc1 = chunks.filter(_._1 == 1L)
    assert(doc1.map(_._5).toSeq == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(doc1.map(_._3).toSeq == Seq(0L, 3L, 6L)) // starts
    assert(doc1.map(_._4).toSeq == Seq(4L, 4L, 4L)) // token budgets
    // reconstruction: dropping the overlap prefix of each later chunk
    // restores the original token stream exactly (full coverage, no gap)
    val rebuilt = doc1.zipWithIndex.flatMap { case (c, i) =>
      val toks = c._5.split(" ").toSeq
      if (i == 0) toks else toks.drop(1)
    }
    assert(rebuilt.toSeq == (1 to 10).map(i => s"w$i"))
    assert(chunks.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 2L, "a b")))
    assert(chunks.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 0L, 1L, "solo")))
    intercept[IllegalArgumentException] {
      TextOps.chunkDocuments(d, "text", "doc_id", chunkTokens = 4, overlap = 4)
    }
    intercept[IllegalArgumentException] {
      TextOps.chunkDocuments(d, "text", "doc_id", chunkTokens = 0)
    }
  }

  test("chunkDocuments: invariants across a parameter grid") {
    val docsN = (0 to 40).map(n => (n.toLong, (1 to n).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val combos = (for (ct <- Seq(1, 3, 8, 12); ov <- Seq(0, 1, ct - 1))
      yield (ct, ov)).filter { case (ct, ov) => ov >= 0 && ov < ct }.distinct
    combos.foreach { case (ct, ov) =>
      val stride = ct - ov
      val byDoc = TextOps.chunkDocuments(docsN, "text", "doc_id", ct, ov)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
        .groupBy(_._1)
      (0 to 40).foreach { n =>
        val doc = byDoc.getOrElse(n.toLong, Array.empty).sortBy(_._2)
        // token list as split sees it: empty text splits to one empty token
        val toks = if (n == 0) Seq("") else (1 to n).map(i => s"t$i")
        // the start rule: 0, stride, … while start ≤ len − overlap − 1
        val expStarts = 0L to math.max(0L, toks.length - ov - 1L) by stride.toLong
        assert(doc.map(_._3).toSeq == expStarts.toSeq, s"starts n=$n ct=$ct ov=$ov")
        // reconstruction: drop each later chunk's overlap prefix → original
        val rebuilt = doc.zipWithIndex.flatMap { case (c, i) =>
          val ts = c._4.split(" ", -1).toSeq
          if (i == 0) ts else ts.drop(ov)
        }
        assert(rebuilt.toSeq == toks, s"rebuild n=$n ct=$ct ov=$ov")
      }
    }
  }

  test("minhash index probe agrees with the pair operator cross-set and prunes partitions") {
    // corpus 0,2,4 indexed; batch 1 (near-dup of 0) and 3 (exact dup of 0)
    val corpus = docs.where(col("doc_id").isin(0L, 2L, 4L))
    val batch = docs.where(col("doc_id").isin(1L, 3L))
    val path = "target/mh_index_spec"
    Dedup.writeMinhashIndexMd5(corpus, "text", "doc_id", path,
      numHashes = 32, bands = 16, prefixBits = 6)
    val probe = Dedup.minhashProbeIndexMd5(path, corpus, batch, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16)
    // the batch's bucket prefixes become a partition filter on the layout
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pfx"), plan)
    val got = probe.collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)),
        r.getDouble(2))).toSet
    // reference: the self-join pair operator over the union, restricted to
    // pairs that cross the corpus/batch split — same family, same params
    val crossIds = Set(1L, 3L)
    val ref = Dedup.minhashNearDuplicatesMd5(docs, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => crossIds.contains(p._1) ^ crossIds.contains(p._2))
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3)).toSet
    assert(got == ref)
    assert(got.contains((0L, 3L, 1.0))) // the exact dup must surface
  }

  test("minhash index append: new postings visible, prefix drift rejected") {
    val path = "target/mh_index_append_spec"
    // stage 1: index only dissimilar docs — probe of the dup batch is empty
    val far = docs.where(col("doc_id").isin(2L, 4L))
    val batch = docs.where(col("doc_id") === 3L) // exact dup of 0
    Dedup.writeMinhashIndexMd5(far, "text", "doc_id", path,
      numHashes = 32, bands = 16, prefixBits = 6)
    assert(Dedup.minhashProbeIndexMd5(path, far, batch, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16).count() == 0)
    // stage 2: append doc 0's postings — the same probe now finds the dup
    Dedup.writeMinhashIndexMd5(docs.where(col("doc_id") === 0L), "text", "doc_id",
      path, numHashes = 32, bands = 16, prefixBits = 6, mode = "append")
    val corpusNow = docs.where(col("doc_id").isin(0L, 2L, 4L))
    val found = Dedup.minhashProbeIndexMd5(path, corpusNow, batch, "text", "doc_id",
      threshold = 0.5, numHashes = 32, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(found == Seq((3L, 0L, 1.0)))
    // appending with a different prefix scheme must be refused, not mixed in
    intercept[IllegalArgumentException] {
      Dedup.writeMinhashIndexMd5(far, "text", "doc_id", path,
        numHashes = 32, bands = 16, prefixBits = 8, mode = "append")
    }
  }
}

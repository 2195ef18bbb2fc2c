package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  *   - Brute-force top-k: one scan, dot/cosine via `zip_with` + `aggregate`
  *     (codegen'd array expressions, no UDF), global top-k via
  *     `orderBy().limit(k)` which Spark executes as per-partition top-k +
  *     driver merge (TakeOrderedAndProject) — no full sort, no shuffle of
  *     the data, scales to any corpus size.
  *   - LSH (random hyperplanes): bucket signature per vector; queries probe
  *     only their bucket — the 100 TB path. Recall tunable by bits/tables.
  *   - Embedding near-dup: all pairs above a cosine threshold via the same
  *     LSH bucketing (self-join per bucket), avoiding the O(n²) cross join.
  *
  * All math accumulates in DOUBLE in array order, so results are
  * deterministic and oracle-mirrorable.
  */
object Ann {

  /** Dot product of two numeric array columns, accumulated in double in
    * array order (deterministic). Backed by the codegen'd [[graft.functions.DotProduct]]
    * expression — the equivalent zip_with/aggregate HOF form runs
    * interpreted and is ~30× slower in O(n²) similarity joins. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(d / denom)
  }

  /** Literal column for a query vector (array<double>). */
  def vecLit(v: Seq[Double]): Column = array(v.map(lit): _*)

  /** Brute-force top-k by cosine against a single query vector. */
  def bruteForceTopK(
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int): DataFrame =
    df.select(col(idCol), cosine(col(vecCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Brute-force top-k for MANY queries at once: broadcast the (small) query
    * set, score every (query, doc) pair map-side, then reduce with the
    * bounded-heap aggregate [[graft.functions.TopKByScore]].
    *
    * Scale shape: the aggregate partial-aggregates map-side, so each input
    * partition ships at most k heap entries per query — the shuffle carries
    * ≤ k × partitions tiny rows per query, never the scored stream itself.
    * (A `row_number().over(Window.partitionBy(query_id))` instead shuffles
    * ALL n×q scored rows into q partitions and sorts each in one task —
    * parallelism collapses to #queries, a 3-task bottleneck at 100 TB.) */
  def bruteForceTopKJoin(
      df: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(queries))
      .select(col(queryIdCol).as("query_id"), col(idCol).as("id"),
        cosine(col(vecCol), col(queryVecCol)).as("cosine"))
    scored.groupBy("query_id")
      .agg(graft.functions.VectorFunctions.topKByScore(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e").getField("id").as("id"),
        col("e").getField("score").as("cosine"), (col("pos") + 1).as("rank"))
  }

  /** Random-projection (Johnson–Lindenstrauss) ANN: PREFILTER in a low-
    * dimensional deterministic projection, exact-rerank only the
    * survivors — the classic dimensionality-reduction recall/cost dial
    * that sits between brute force and IVF. Stage 1 scores every vector
    * by its squared L2 distance to the query IN PROJECTION SPACE
    * (projDim ≪ dim deterministic hyperplanes from the shared
    * [[planeVector]] family, so the heavy full-corpus pass does
    * projDim/dim of the arithmetic and — when the projection is a
    * persisted column — reads projDim/dim of the bytes) and keeps the
    * `candidates` best; stage 2 reranks those few by exact cosine.
    *
    * Scale shape: both stages are TakeOrdered (per-partition bounded
    * heaps + driver merge — no global sort, no shuffle of the corpus),
    * and the rerank input is `candidates` rows regardless of corpus
    * size. JL distance preservation makes the prefilter's top-C contain
    * the true top-k with high probability for C modestly above k;
    * candidates/k is the recall dial. All arithmetic is fixed-order
    * (projection dots in plane order, pd accumulation left-associated),
    * so the candidate BOUNDARY is engine-exact and oracle-mirrorable. */
  def randomProjectionTopK(
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int,
      projDim: Int, planeOffset: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val dim = query.length
    val planes = (0 until projDim).map(j => planeVector(planeOffset + j, dim))
    // driver-side projected query, accumulated in array order like dot()
    val qp = planes.map { p =>
      var s = 0.0; var i = 0
      while (i < dim) { s += query(i) * p(i); i += 1 }
      s
    }
    val pd = planes.zip(qp).map { case (p, q0) =>
      val d = dot(col(vecCol), vecLit(p)) - lit(q0)
      d * d
    }.reduce(_ + _)
    val cand = df
      .select(col(idCol), col(vecCol), pd.as("__graft_rp_pd"))
      .orderBy(col("__graft_rp_pd").asc, col(idCol))
      .limit(candidates)
    cand.select(col(idCol), cosine(col(vecCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Persist the Johnson–Lindenstrauss projection as its own NARROW layout —
    * the missing half of [[randomProjectionTopK]]'s byte-read story: the
    * prefilter's heavy full-corpus pass should read projDim·8 bytes per
    * vector (p_0…p_{projDim−1} as flat DOUBLE columns — doubles, not
    * floats, so the stored values are BIT-IDENTICAL to the on-the-fly
    * projection and the candidate boundary is unchanged), not the full
    * dim·4-byte float vector it projects from. One one-off ingest job
    * (the IVF/PQ persisted-layout pattern); probes go through
    * [[rpTopKFromProjected]]. */
  def writeRpProjected(df: DataFrame, vecCol: String, idCol: String,
      path: String, projDim: Int, planeOffset: Int): Unit = {
    require(projDim > 0, s"projDim must be > 0, got $projDim")
    val dimRow = df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    require(dimRow.nonEmpty, "cannot infer vector dim: no non-NULL vectors")
    val dim = dimRow.head.getInt(0)
    val projCols = (0 until projDim).map { j =>
      dot(col(vecCol), vecLit(planeVector(planeOffset + j, dim))).as(s"p$j")
    }
    df.select(col(idCol) +: projCols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** RP ANN over the persisted projection layout: stage 1 scans ONLY the
    * narrow (id, p_0…p_{projDim−1}) table — projDim/dim of the arithmetic
    * AND projDim·8/(dim·4) of the bytes, with no access to the full
    * vectors at all — and TakeOrders the `candidates` best by squared
    * distance to the driver-projected query (accumulated in plane order,
    * exactly [[randomProjectionTopK]]'s stage 1, so the candidate set is
    * identical). Stage 2 broadcast-semi-joins the ≤`candidates` ids back
    * onto the full corpus and reranks by exact cosine. Result ≡
    * [[randomProjectionTopK]] — same oracle applies verbatim. */
  def rpTopKFromProjected(spark: SparkSession, path: String,
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int,
      projDim: Int, planeOffset: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val dim = query.length
    val qp = (0 until projDim).map { j =>
      val p = planeVector(planeOffset + j, dim)
      var s = 0.0; var i = 0
      while (i < dim) { s += query(i) * p(i); i += 1 }
      s
    }
    val pd = qp.zipWithIndex.map { case (q0, j) =>
      val d = col(s"p$j") - lit(q0)
      d * d
    }.reduce(_ + _)
    val candIds = spark.read.parquet(path)
      .select(col(idCol), pd.as("__graft_rp_pd"))
      .orderBy(col("__graft_rp_pd").asc, col(idCol))
      .limit(candidates)
      .select(col(idCol))
    df.join(broadcast(candIds), Seq(idCol), "left_semi")
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Mutual-nearest-neighbor embedding alignment — the bitext-mining /
    * cross-corpus linking shape: pair a row of `big` with a row of `small`
    * iff each is the OTHER's best cosine match (mutual top-1 — the
    * precision filter aligned-corpus miners apply before training on the
    * pairs). Ties break to the smaller partner id on both sides.
    *
    * Scale shape: `small` broadcasts (the sampled/query-side corpus —
    * queries ≪ corpus, the same contract as [[bruteForceTopKJoin]]); each
    * direction's argmax is a map-side struct-max aggregation over the
    * broadcast fan-out, so `big` is scanned once per direction and only
    * per-id singleton maxima shuffle. When BOTH sides are large, prune
    * candidates first with the LSH bucketing
    * ([[cosineNearDuplicatesMultiTable]]) and run the mutual filter on
    * the candidate pairs instead of the cross fan-out. */
  def mutualNearestNeighbors(big: DataFrame, small: DataFrame,
      vecCol: String, idCol: String): DataFrame = {
    // NOT cached, unlike the 4-consumer margin sibling: with only the two
    // argmax directions consuming the fan-out, materializing |A|·|B| rows
    // measured SLOWER than recomputing the codegen'd cosines (r16 A/B,
    // min-of-6 interleaved: 1.35× with the cache)
    val scored = big.select(col(idCol).as("a_id"), col(vecCol).as("__av"))
      .crossJoin(broadcast(
        small.select(col(idCol).as("b_id"), col(vecCol).as("__bv"))))
      .select(col("a_id"), col("b_id"),
        cosine(col("__av"), col("__bv")).as("cosine"))
    def bestPer(keyCol: String, otherCol: String): DataFrame =
      scored.groupBy(keyCol)
        .agg(max(struct(col("cosine"), (-col(otherCol)).as("no"),
          col(otherCol))).as("m"))
        .select(col(keyCol), col(s"m.$otherCol").as(otherCol),
          col("m.cosine").as("cosine"))
    val bestForA = bestPer("a_id", "b_id")
    val bestForB = bestPer("b_id", "a_id").withColumnRenamed("cosine", "__cb")
    bestForA.join(bestForB, Seq("a_id", "b_id"))
      .select("a_id", "b_id", "cosine")
  }

  /** [[mutualNearestNeighbors]] with the RATIO-MARGIN score (Artetxe &
    * Schwenk, ACL 2019 §3.2): margin(x, y) = cos(x, y) divided by the mean
    * of both sides' average top-k neighbor cosines — mutual pairs whose
    * margin ≈ 1 are generic hubs, margin ≫ 1 are genuinely aligned. Adds
    * two bounded-heap top-k aggregations over the SAME broadcast fan-out
    * (the scored cross is cached for the four consumers and released with
    * the pass); the heap's (score desc, id asc) order makes the k-sum a
    * fixed-order add, so margins mirror bit-exactly. Zero denominators
    * (all-orthogonal neighborhoods) yield margin 0 by convention. */
  def mutualNearestNeighborsWithMargin(big: DataFrame, small: DataFrame,
      vecCol: String, idCol: String, k: Int = 2): DataFrame = CacheScope.pass {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = CacheScope.persist(
      big.select(col(idCol).as("a_id"), col(vecCol).as("__av"))
        .crossJoin(broadcast(
          small.select(col(idCol).as("b_id"), col(vecCol).as("__bv"))))
        .select(col("a_id"), col("b_id"),
          cosine(col("__av"), col("__bv")).as("cosine")))
    def bestPer(keyCol: String, otherCol: String): DataFrame =
      scored.groupBy(keyCol)
        .agg(max(struct(col("cosine"), (-col(otherCol)).as("no"),
          col(otherCol))).as("m"))
        .select(col(keyCol), col(s"m.$otherCol").as(otherCol),
          col("m.cosine").as("cosine"))
    // Σ of the top-k neighbor cosines, added in HEAP RANK ORDER (the fixed
    // op sequence the oracle mirrors as c1 + c2 + …); absent ranks add 0.0
    def topkSum(keyCol: String, outCol: String): DataFrame = {
      val t = scored.groupBy(keyCol)
        .agg(graft.functions.VectorFunctions.topKByScore(
          col("cosine"), col(if (keyCol == "a_id") "b_id" else "a_id"), k).as("t"))
      // size guard, not bare element_at: ANSI mode throws on an
      // out-of-bounds index when a side has fewer than k candidates
      val s = (1 to k).map(i =>
          when(size(col("t")) >= i,
            element_at(col("t"), i).getField("score")).otherwise(lit(0.0)))
        .reduce(_ + _)
      t.select(col(keyCol), s.as(outCol))
    }
    val mutual = bestPer("a_id", "b_id")
      .join(bestPer("b_id", "a_id").withColumnRenamed("cosine", "__cb"),
        Seq("a_id", "b_id"))
      .select("a_id", "b_id", "cosine")
    val denom = col("sa") / lit(2.0 * k) + col("sb") / lit(2.0 * k)
    mutual
      .join(topkSum("a_id", "sa"), "a_id")
      .join(topkSum("b_id", "sb"), "b_id")
      .withColumn("margin",
        when(denom === 0.0, lit(0.0)).otherwise(col("cosine") / denom))
      .select("a_id", "b_id", "cosine", "margin")
  }

  /** LSH-pruned mutual-nearest-neighbor alignment — the LARGE × LARGE form
    * of [[mutualNearestNeighbors]], for bitext mining where NEITHER corpus
    * fits a broadcast. Candidate pairs come from the multi-table hyperplane
    * LSH bucketing (a pair is a candidate iff the two vectors share ANY
    * table's full `bits`-bit signature — the same candidate generation as
    * [[cosineNearDuplicatesMultiTable]]), and the mutual top-1 filter runs
    * on the candidates: a pair survives iff each side is the other's best
    * cosine match AMONG ITS LSH CANDIDATES.
    *
    * Scale shape — every join is an equi-join, no cross fan-out anywhere
    * (pinned by the suite-wide plan rule):
    *   - signatures are one fused codegen'd expression per side, exploded
    *     to (id, table, sig) rows — `tables` small rows per vector, never
    *     the embedding replicated;
    *   - candidate generation shuffles on (table, signature) with bucket
    *     sizes ~n/2^bits per table;
    *   - vectors join back AFTER candidate dedup; both argmax directions
    *     are map-side struct-max aggregations (ties → smaller partner id).
    *
    * Semantics note: this is mutual-top-1 over the LSH candidate set, an
    * APPROXIMATION of the exact [[mutualNearestNeighbors]] — a true mutual
    * pair is missed iff the two vectors share no table signature (miss
    * probability (1−pᵇ)ᵗ, p = 1−θ/π); a reported pair can differ from the
    * exact result iff a side's true argmax was pruned. Raise `tables` /
    * lower `bits` to trade cost for recall. */
  def mutualNearestNeighborsLsh(a: DataFrame, b: DataFrame,
      vecCol: String, idCol: String, dim: Int,
      bits: Int = 8, tables: Int = 16): DataFrame = CacheScope.pass {
    val scored = lshCandidateScores(a, b, vecCol, idCol, dim, bits, tables)
    bestPerSide(scored, "a_id", "b_id")
      .join(bestPerSide(scored, "b_id", "a_id").drop("cosine"), Seq("a_id", "b_id"))
      .select("a_id", "b_id", "cosine")
  }

  /** [[mutualNearestNeighborsLsh]] with the RATIO-MARGIN score of
    * [[mutualNearestNeighborsWithMargin]], computed over the LSH candidate
    * neighborhoods (each side's top-k among its candidates — the natural
    * neighborhood when the full cross is off the table). Same margin
    * algebra: cos / (mean of both sides' top-k averages), absent ranks
    * add 0, zero denominators → margin 0. */
  def mutualNearestNeighborsLshWithMargin(a: DataFrame, b: DataFrame,
      vecCol: String, idCol: String, dim: Int,
      bits: Int = 8, tables: Int = 16, k: Int = 2): DataFrame = CacheScope.pass {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = lshCandidateScores(a, b, vecCol, idCol, dim, bits, tables)
    val mutual = bestPerSide(scored, "a_id", "b_id")
      .join(bestPerSide(scored, "b_id", "a_id").drop("cosine"), Seq("a_id", "b_id"))
      .select("a_id", "b_id", "cosine")
    val denom = col("sa") / lit(2.0 * k) + col("sb") / lit(2.0 * k)
    mutual
      .join(topKSumPerSide(scored, "a_id", "sa", k), "a_id")
      .join(topKSumPerSide(scored, "b_id", "sb", k), "b_id")
      .withColumn("margin",
        when(denom === 0.0, lit(0.0)).otherwise(col("cosine") / denom))
      .select("a_id", "b_id", "cosine", "margin")
  }

  /** Scored LSH candidate pairs (a_id, b_id, cosine) between two corpora:
    * multi-table signature equi-join candidates, deduped, vectors joined
    * back AFTER dedup, cached for the pass (the frame feeds both argmax
    * directions and, in the margin form, both top-k sums — released by
    * the next pass's scope, like the dedup postings). */
  private def lshCandidateScores(a: DataFrame, b: DataFrame,
      vecCol: String, idCol: String, dim: Int, bits: Int, tables: Int): DataFrame = {
    val sigsA = a.select(col(idCol).as("a_id"),
      posexplode(lshTableSignatures(col(vecCol), dim, bits, tables)).as(Seq("tbl", "sig")))
    val sigsB = b.select(col(idCol).as("b_id"),
      posexplode(lshTableSignatures(col(vecCol), dim, bits, tables)).as(Seq("tbl", "sig")))
    val candidates = sigsA.join(sigsB, Seq("tbl", "sig"))
      .select("a_id", "b_id").distinct()
    val ea = a.select(col(idCol).as("a_id"), col(vecCol).as("__av"),
      norm(col(vecCol)).as("__na"))
    val eb = b.select(col(idCol).as("b_id"), col(vecCol).as("__bv"),
      norm(col(vecCol)).as("__nb"))
    CacheScope.persist(candidates.join(ea, "a_id").join(eb, "b_id")
      .select(col("a_id"), col("b_id"),
        when(col("__na") * col("__nb") === 0.0, lit(0.0))
          .otherwise(dot(col("__av"), col("__bv")) / (col("__na") * col("__nb")))
          .as("cosine")))
  }

  /** Per-side argmax over a scored pair frame (ties → smaller partner
    * id) — the struct-max shared by every mutual-top-1 form. */
  private def bestPerSide(scored: DataFrame, keyCol: String, otherCol: String): DataFrame =
    scored.groupBy(keyCol)
      .agg(max(struct(col("cosine"), (-col(otherCol)).as("no"),
        col(otherCol))).as("m"))
      .select(col(keyCol), col(s"m.$otherCol").as(otherCol),
        col("m.cosine").as("cosine"))

  /** Σ of a side's top-k cosines, added in heap rank order (the fixed op
    * sequence the oracle mirrors as c1 + c2 + …); absent ranks add 0
    * (the size guard keeps ANSI mode off an out-of-bounds element_at). */
  private def topKSumPerSide(scored: DataFrame, keyCol: String,
      outCol: String, k: Int): DataFrame = {
    val t = scored.groupBy(keyCol)
      .agg(graft.functions.VectorFunctions.topKByScore(
        col("cosine"), col(if (keyCol == "a_id") "b_id" else "a_id"), k).as("t"))
    val s = (1 to k).map(i =>
        when(size(col("t")) >= i,
          element_at(col("t"), i).getField("score")).otherwise(lit(0.0)))
      .reduce(_ + _)
    t.select(col(keyCol), s.as(outCol))
  }

  /** Predicate-filtered ANN top-k: the metadata predicate applies BEFORE any
    * vector math, so Catalyst pushes it into the scan (`PushedFilters` /
    * partition pruning on a partitioned layout) and the cosine expressions
    * only ever run on surviving rows — the "filtered vector search" shape
    * (search within a label / language / license slice). Same
    * TakeOrderedAndProject top-k as [[bruteForceTopK]]. */
  def filteredTopK(
      df: DataFrame, vecCol: String, idCol: String, pred: Column,
      query: Seq[Double], k: Int): DataFrame =
    bruteForceTopK(df.where(pred), vecCol, idCol, query, k)

  /** kNN majority-vote classification: each query's predicted label is the
    * modal label among its k nearest corpus neighbors by cosine (ties →
    * smaller label; `excludeSelf` drops a corpus row sharing the query's
    * id — train/query overlap).
    *
    * Scale shape: neighbor selection is the bounded-heap top-k join
    * ([[bruteForceTopKJoin]]'s aggregate — map-side partial top-k, shuffle
    * ≤ k×partitions rows per query); the ≤ queries×k neighbor set then
    * BROADCASTS back onto the (id, label) projection, so the corpus is
    * scanned but never shuffled; the vote rollup is queries×k rows. */
  def knnClassify(
      df: DataFrame, vecCol: String, idCol: String, labelCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("__v"),
      col(labelCol).cast("long").as("label"))
    val scored = base.crossJoin(broadcast(
      queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"))))
    val candidates = if (excludeSelf) scored.where(col("id") =!= col("query_id")) else scored
    val neighbors = candidates
      .select(col("query_id"), col("id"), cosine(col("__v"), col("__qv")).as("cosine"))
      .groupBy("query_id")
      .agg(graft.functions.VectorFunctions.topKByScore(col("cosine"), col("id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e").getField("id").as("id"))
    base.select("id", "label").join(broadcast(neighbors), "id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(max(struct(col("votes"), (-col("label")).as("neg"), col("label"))).as("m"))
      .select(col("query_id"),
        col("m").getField("label").as("predicted_label"),
        col("m").getField("votes").as("votes"))
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d component from
    * a hash — reproducible across runs/engines without RNG state. */
  /** Hyperplane components for table `t`, plane `p` (0-based global plane
    * index = t*bits + p). Exposed so oracle SQL can embed the same
    * literals; the family itself lives in [[graft.functions.LshPlanes]],
    * shared with the fused signature expression. */
  def planeVector(globalPlane: Int, dim: Int): Seq[Double] =
    graft.functions.LshPlanes.vector(globalPlane, dim)

  /** Random-hyperplane LSH signature: bit p = sign(v · plane_p). Projections
    * use the codegen'd [[dot]] expression (the zip_with/aggregate HOF form
    * runs interpreted — with 100+ planes that dominated the signature
    * stage). `planeOffset` selects a disjoint plane set per LSH table. */
  def lshSignature(vecCol: Column, dim: Int, bits: Int = 16, planeOffset: Int = 0): Column = {
    val bitCols = (0 until bits).map { p =>
      val proj = dot(vecCol, vecLit(planeVector(planeOffset + p, dim)))
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Per-table signatures for multi-table LSH: element t is the `bits`-bit
    * signature under table t's plane set. One fused codegen expression
    * ([[graft.functions.LshTableSignatures]]) — the per-plane DotProduct
    * composition is bit-identical but costs tables × bits × dim literal
    * nodes of Catalyst tree per use site, and driver-side planning of that
    * tree dominated the multi-table queries (equivalence pinned in
    * OpsSpec). */
  def lshTableSignatures(vecCol: Column, dim: Int, bits: Int, tables: Int): Column =
    graft.functions.LshPlanes.tableSignatures(vecCol, dim, bits, tables)

  /** Driver-side [[lshSignature]] of a known query vector — the same
    * left-to-right double accumulation as the codegen'd [[dot]] expression,
    * so it is bit-identical to what the engine computes for the same
    * vector. Pure Scala: signing a query literal must not cost a Spark job. */
  def lshSignatureLocal(v: Seq[Double], bits: Int, planeOffset: Int = 0): Long = {
    val dim = v.length
    (0 until bits).foldLeft(0L) { (acc, p) =>
      val plane = planeVector(planeOffset + p, dim)
      var proj = 0.0
      var i = 0
      while (i < dim) { proj += v(i) * plane(i); i += 1 }
      if (proj >= 0) acc | (1L << p) else acc
    }
  }

  /** ANN top-k via hyperplane LSH: probe only vectors sharing the query's
    * bucket (optionally multi-probe neighbors within 1-bit flips). Falls
    * back to brute force when the bucket has < k members. */
  def annTopK(
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, bits: Int = 12): DataFrame = {
    val dim = query.length
    val bucketed = df.withColumn("__bucket", lshSignature(col(vecCol), dim, bits))
    // the query's own signature is pure driver-side arithmetic — no Spark job
    val qSig = lshSignatureLocal(query, bits)
    // multi-probe: exact bucket + all 1-bit flips
    val probes = qSig +: (0 until bits).map(b => qSig ^ (1L << b))
    bucketed.where(col("__bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Write the corpus `partitionBy(__bucket)` under its LSH signature so
    * probes prune whole files at scan time — the persisted-index form of
    * [[annTopK]] (same layout trick as [[Ivf.writeClustered]]). At 100 TB
    * a 12-bit signature yields 4096 partitions; a multi-probe query reads
    * bits+1 of them (~0.3% of the data). */
  def writeLshBucketed(
      df: DataFrame, vecCol: String, dim: Int, path: String, bits: Int = 12): Unit =
    df.withColumn("__bucket", lshSignature(col(vecCol), dim, bits))
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)

  /** ANN top-k over a [[writeLshBucketed]] layout: the bucket probe set is
    * computed driver-side and becomes a PARTITION filter, so unprobed
    * buckets are never read (plan pinned in OpsSpec). */
  def annTopKFromBucketed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String, idCol: String,
      query: Seq[Double], k: Int, bits: Int = 12): DataFrame = {
    val qSig = lshSignatureLocal(query, bits)
    val probes = qSig +: (0 until bits).map(b => qSig ^ (1L << b))
    spark.read.parquet(path)
      .where(col("__bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** All pairs with cosine ≥ threshold via LSH bucket self-join (near-dup by
    * embedding). High-threshold pairs almost always share sign buckets.
    * Norms are precomputed per vector (O(n)), not per pair (O(n²)). */
  def cosineNearDuplicates(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dim: Int, bits: Int = 8): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"),
      lshSignature(col(vecCol), dim, bits).as("bucket"))
    val a = bucketed.toDF("id1", "v1", "nrm1", "bucket")
    val b = bucketed.toDF("id2", "v2", "nrm2", "bucket")
    a.join(b, Seq("bucket")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        when(col("nrm1") * col("nrm2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  /** Multi-table LSH near-dup: `tables` independent `bits`-bit signatures
    * per vector; candidates are pairs sharing ANY table's full signature,
    * then exact-cosine verified. This is the 100 TB path:
    *
    *   - candidate generation is an equi-join on (table, signature) —
    *     bucket sizes ~n/2^bits per table, never a cross join;
    *   - the signature frame carries only (id, table, sig) — vectors join
    *     back in for verification AFTER candidate dedup, so the wide
    *     embedding column is never replicated `tables`×;
    *   - recall = 1-(1-p^bits)^tables with p = 1-θ/π — tunable per regime
    *     (bits=16/tables=8 for high-similarity near-dup; fewer bits + more
    *     tables for lower thresholds).
    */
  def cosineNearDuplicatesMultiTable(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dim: Int, bits: Int = 16, tables: Int = 8): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      posexplode(lshTableSignatures(col(vecCol), dim, bits, tables)).as(Seq("tbl", "sig")))
    val a = sigs.toDF("id1", "tbl", "sig")
    val b = sigs.toDF("id2", "tbl", "sig")
    val candidates = a.join(b, Seq("tbl", "sig")).where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val withNorm = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val e1 = withNorm.toDF("id1", "v1", "nrm1")
    val e2 = withNorm.toDF("id2", "v2", "nrm2")
    candidates.join(e1, "id1").join(e2, "id2")
      .select(col("id1"), col("id2"),
        when(col("nrm1") * col("nrm2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  private[graft] val LshIndexParamsFile = "_graft_lsh_index_params"

  /** Persist the multi-table LSH signature postings of a corpus — the
    * ingest-time half of incremental cosine near-dup, closing the one
    * similarity layout that had no persisted/streaming story (IVF, PQ,
    * MinHash, trigram, and phash already have theirs). At 100 TB you never
    * re-sign the corpus per arriving batch: each vector's `tables`
    * signatures land once as (id, tbl, sig) rows — three longs, no vector
    * replication — partitioned by
    * `tp = tbl·2^prefixBits + (sig >> (bits − prefixBits))`, so a probe
    * reads only the partition directories its own signatures land in (the
    * [[Multimodal.writePhashIndex]] `bp` discipline). The banding
    * parameters ride the layout in [[LshIndexParamsFile]]; appends (and
    * probes) with drifting parameters are rejected — a different plane
    * family or band split would silently prune away real candidates.
    * `mode = "append"` is the rolling-ingest path ([[graft.streaming.IngestLsh]]). */
  def writeLshSigIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, dim: Int, bits: Int = 16, tables: Int = 8,
      prefixBits: Int = 4, mode: String = "overwrite"): Unit = {
    require(bits > 0 && bits < 63, s"bits out of range: $bits")
    require(tables > 0, s"tables must be positive, got $tables")
    require(prefixBits >= 0 && prefixBits <= bits,
      s"prefixBits must be within [0, bits=$bits], got $prefixBits")
    if (mode == "append" && graft.sources.LayoutMeta.exists(path, LshIndexParamsFile)) {
      val (d, b, t, p) = lshSigIndexParams(path)
      require(d == dim && b == bits && t == tables && p == prefixBits,
        s"index at $path was written with dim=$d/bits=$b/tables=$t/prefixBits=$p, " +
          s"append requested $dim/$bits/$tables/$prefixBits")
    }
    df.select(col(idCol).as("id"),
      posexplode(lshTableSignatures(col(vecCol), dim, bits, tables))
        .as(Seq("tbl", "sig")))
      .withColumn("tp", col("tbl").cast("long") * lit(1L << prefixBits)
        + shiftright(col("sig"), bits - prefixBits))
      .repartition(col("tp"))
      .write.mode(mode).partitionBy("tp").parquet(path)
    graft.sources.LayoutMeta.write(path, LshIndexParamsFile,
      s"$dim|$bits|$tables|$prefixBits")
  }

  /** True once [[writeLshSigIndex]] has committed at least one batch. */
  def lshSigIndexReady(path: String): Boolean =
    graft.sources.LayoutMeta.exists(path, LshIndexParamsFile)

  /** The (dim, bits, tables, prefixBits) a layout was written with. */
  def lshSigIndexParams(path: String): (Int, Int, Int, Int) = {
    val Array(d, b, t, p) =
      graft.sources.LayoutMeta.read(path, LshIndexParamsFile).trim.split('|')
    (d.toInt, b.toInt, t.toInt, p.toInt)
  }

  /** All pairs with cosine ≥ threshold from a persisted
    * [[writeLshSigIndex]] layout — [[cosineNearDuplicatesMultiTable]]'s
    * exact output without re-signing the corpus: candidates come from the
    * postings' (tbl, sig) self-join (bucket-bounded, never a cross join),
    * and only the deduplicated candidate pairs join back to `corpus` for
    * exact-cosine verification, so the wide embedding column is read once
    * per side, never replicated `tables`×. Parameters come FROM the
    * layout, so a probe can never disagree with the writer's scheme. */
  def cosinePairsFromLshIndex(spark: SparkSession, path: String,
      corpus: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val sigs = spark.read.parquet(path)
    val a = sigs.select(col("id").as("id1"), col("tbl"), col("sig"))
    val b = sigs.select(col("id").as("id2"), col("tbl"), col("sig"))
    val candidates = a.join(b, Seq("tbl", "sig")).where(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    verifyCosine(candidates, corpus, vecCol, idCol, threshold)
  }

  /** Probe a [[writeLshSigIndex]] layout with a BATCH of new vectors: every
    * (batch, corpus) pair at cosine ≥ threshold. The batch signs itself
    * under the LAYOUT's parameters; its `tp` values become a partition
    * filter (≤ |batch|·tables of the tables·2^prefixBits directories), so
    * per-probe cost is candidate-bounded and independent of accumulated
    * corpus size — the property that makes [[graft.streaming.IngestLsh]]
    * sustainable under an unbounded stream. Returns
    * (batch_id, corpus_id, cosine). */
  def lshProbeIndex(spark: SparkSession, path: String,
      corpus: DataFrame, batch: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame =
    lshProbeIndexResolved(spark, path, _ => corpus, batch, vecCol, idCol,
      threshold)

  /** [[lshProbeIndex]] with the corpus supplied by a RESOLVER instead of a
    * pre-built frame: `corpusForIds` receives the distinct candidate
    * corpus-id frame (single column, the id column's type) and returns the
    * corpus rows to verify against — any SUPERSET of the candidate rows
    * (the inner join on corpus_id below does the exact filtering). With
    * the corpus sink hash-bucketed ([[graft.sources.BucketedCorpus]]) the
    * resolver turns candidate ids into a partition filter, making
    * [[graft.streaming.IngestLsh]]'s exact-cosine verify scan
    * candidate-bounded in BYTES READ too — previously the one per-batch
    * term linear in accumulated corpus size. */
  def lshProbeIndexResolved(spark: SparkSession, path: String,
      corpusForIds: DataFrame => DataFrame, batch: DataFrame,
      vecCol: String, idCol: String, threshold: Double): DataFrame =
    CacheScope.pass {
    val (dim, bits, tables, prefixBits) = lshSigIndexParams(path)
    // two consumers (partition-list collect + candidate join): cache so the
    // batch signs itself ONCE per probe, not once per consumer
    val bsigs = CacheScope.persist(batch.select(col(idCol).as("batch_id"),
      posexplode(lshTableSignatures(col(vecCol), dim, bits, tables))
        .as(Seq("tbl", "sig")))
      .withColumn("tp", col("tbl").cast("long") * lit(1L << prefixBits)
        + shiftright(col("sig"), bits - prefixBits)))
    // the probed partition list is bounded by tables·2^prefixBits values
    val wanted = bsigs.select(col("tp")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val idx = spark.read.parquet(path).where(col("tp").isin(wanted: _*))
    // cached: the final join reads it, and the resolver may run an action
    // of its own (a bucket-list collect) to derive a pruned corpus read
    val candidates = CacheScope.persist(bsigs.join(idx, Seq("tbl", "sig"))
      .select(col("batch_id"), col("id").as("corpus_id")).distinct())
    val bv = batch.select(col(idCol).as("batch_id"), col(vecCol).as("__bv"),
      norm(col(vecCol)).as("__bn"))
    val cv = corpusForIds(candidates.select(col("corpus_id")).distinct())
      .select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        norm(col(vecCol)).as("__cn"))
    candidates.join(bv, "batch_id").join(cv, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        when(col("__bn") * col("__cn") === 0.0, lit(0.0))
          .otherwise(dot(col("__bv"), col("__cv")) / (col("__bn") * col("__cn")))
          .as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Exact-cosine verification of a deduplicated candidate pair set against
    * the corpus vectors — the shared tail of the multi-table LSH paths. */
  private def verifyCosine(candidates: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, threshold: Double): DataFrame = {
    val withNorm = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val e1 = withNorm.toDF("id1", "v1", "nrm1")
    val e2 = withNorm.toDF("id2", "v2", "nrm2")
    candidates.join(e1, "id1").join(e2, "id2")
      .select(col("id1"), col("id2"),
        when(col("nrm1") * col("nrm2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Symmetric int8 quantization: scale = max|x|/127, q_i = clamp(floor(
    * x_i/scale + 0.5), ±127). Returns `struct<scale double, q array<int>>`.
    * Engine-mirrorable arithmetic (floor(x/s + 0.5) rounds identically
    * everywhere, unlike round()'s half-even/half-away divergence).
    *
    * The HOFs here run interpreted, but quantization is ONE O(n·dim) pass
    * per corpus (typically at write time); scoring — the O(n·q) hot path —
    * runs the codegen'd [[dot]] on the int arrays, where products are
    * exact integers ≤ 127², so quantized similarity sums are EXACT in
    * double regardless of accumulation order: quantized rankings are
    * bit-stable across engines and partitionings by construction. */
  def int8Quantize(vec: Column): Column =
    // the max-abs reduction runs inside aggregate(); binding the result as
    // the FINISH lambda's variable means the per-element transform
    // references an already-evaluated O(1) variable — inlining the
    // aggregate expression into the transform lambda instead would
    // re-reduce the whole array per element (O(dim²) per row)
    aggregate(vec, lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double"))),
      m => {
        val scale = m / lit(127.0)
        struct(scale.as("scale"), quantizeWith(vec, scale).as("q"))
      })

  private def quantizeWith(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === lit(0.0), lit(0))
        .otherwise(greatest(lit(-127.0), least(lit(127.0),
          floor(x.cast("double") / scale + lit(0.5)))).cast("int")))

  def dequantize(qs: Column): Column =
    transform(qs.getField("q"), q => q.cast("double") * qs.getField("scale"))

  /** Driver-side mirror of [[int8Quantize]] for query vectors (same IEEE
    * ops in the same order). */
  def int8QuantizeLocal(v: Seq[Double]): Array[Int] = {
    val scale = v.map(math.abs).foldLeft(0.0)(math.max) / 127.0
    if (scale == 0.0) Array.fill(v.length)(0)
    else v.map(x => math.max(-127.0, math.min(127.0, math.floor(x / scale + 0.5))).toInt).toArray
  }

  /** Brute-force top-k by QUANTIZED cosine: scale cancels in cosine, so
    * ranking needs only the int arrays — 4× smaller scans than float32 and
    * exact integer dot products. */
  def quantizedTopK(
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val qLit = array(int8QuantizeLocal(query).map(lit(_)): _*)
    df.select(col(idCol), int8Quantize(col(vecCol)).getField("q").as("qv"))
      .select(col(idCol), cosine(col("qv"), qLit).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Retrieval-quality metrics — recall@k and reciprocal rank of a
    * retriever against a ground-truth relevance set, per query: the
    * "measure, don't guess" primitive for every ANN recall/cost dial in
    * this file (quantization, LSH, IVF probes, RP candidates). `retrieved`
    * carries (query_id, id, rank); `truth` carries (query_id, id).
    * Reciprocal rank is the EXACT scaled integer `scale DIV first_rank`
    * (the RRF discipline — float 1/r is order-dependent under averaging);
    * queries with no retrieved hit report first_rank 0 / rr_scaled 0.
    *
    * Scale shape: one equi-join of two k-bounded lists (≤ q·k rows each),
    * two grouped counts — cost is proportional to the candidate lists,
    * never the corpus. Output: (query_id, n_truth, n_hits, first_rank,
    * rr_scaled); mean rr_scaled over queries = scaled MRR, Σn_hits/Σn_truth
    * = recall@k — [[retrievalSummary]] is that rollup, or roll up ad hoc.
    *
    * CONTRACT: the output is TRUTH-DRIVEN — one row per query_id present
    * in `truth`; a query that only appears in `retrieved` (no relevance
    * judgments) has no recall denominator and is dropped. Duplicate
    * (query_id, id) rows are tolerated on both inputs: truth pairs are
    * de-duplicated before the join and n_hits counts DISTINCT retrieved
    * ids, so a retriever that returns the same id at two ranks scores it
    * once (at its best rank, via min(rank)). */
  def retrievalMetrics(retrieved: DataFrame, truth: DataFrame,
      scale: Long = 1000000000000L): DataFrame = {
    require(scale > 0, s"scale must be > 0, got $scale")
    // NOT cached: the distinct's exchange is reused across both consumers
    // (hits join + denominator) within the one action — a cache measured
    // 1.3-1.5× SLOWER (r16 A/B, min-of-6 interleaved)
    val truthPairs = truth.select(col("query_id"), col("id")).distinct()
    val hits = retrieved.join(truthPairs, Seq("query_id", "id"))
    val per = hits.groupBy("query_id")
      .agg(countDistinct(col("id")).as("__nh"), min(col("rank").cast("long")).as("__fr"))
    truthPairs.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(per, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("__nh"), lit(0L)).as("n_hits"),
        coalesce(col("__fr"), lit(0L)).as("first_rank"),
        when(col("__fr").isNull, lit(0L))
          .otherwise(call_function("div", lit(scale), col("__fr")))
          .as("rr_scaled"))
  }

  /** The one-row rollup of [[retrievalMetrics]] — the composite numbers
    * people actually quote for a retriever: recall@k = Σn_hits/Σn_truth
    * and MRR = mean rr_scaled over queries, both as EXACT scaled
    * integers (`scale·Σhits DIV Σtruth`, `Σrr DIV n_queries` — integer
    * div, associative-commutative sums, hash-checkable; the float forms
    * average in ulp-dependent order). Inherits retrievalMetrics' contract
    * (truth-driven query set, duplicate-tolerant). Cost: the per-query
    * frame is ≤ |queries| rows; the rollup is one tiny aggregation.
    * `scale·Σn_hits` must fit a BIGINT — at the default scale that bounds
    * Σn_hits at ~9.2·10⁶ (lower the scale for larger evaluations).
    * Output: (n_queries, n_truth, n_hits, recall_scaled, mrr_scaled). */
  def retrievalSummary(retrieved: DataFrame, truth: DataFrame,
      scale: Long = 1000000000000L): DataFrame =
    retrievalMetrics(retrieved, truth, scale)
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_truth")).as("n_truth"),
        sum(col("n_hits")).as("n_hits"),
        sum(col("rr_scaled")).as("__rr_sum"))
      .select(col("n_queries"),
        col("n_truth").cast("long").as("n_truth"),
        col("n_hits").cast("long").as("n_hits"),
        when(col("n_truth") === 0, lit(0L))
          .otherwise(call_function("div", lit(scale) * col("n_hits"), col("n_truth")))
          .as("recall_scaled"),
        when(col("n_queries") === 0, lit(0L))
          .otherwise(call_function("div", col("__rr_sum"), col("n_queries")))
          .as("mrr_scaled"))

  /** Exact all-pairs cosine ≥ threshold (oracle-checkable; O(n²) — for
    * verification and small dimension tables, not the 100 TB path). Norms
    * are computed once per vector before the join. */
  def cosinePairsExact(
      df: DataFrame, vecCol: String, idCol: String, threshold: Double): DataFrame = {
    val withNorm = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"))
    val a = withNorm.toDF("id1", "v1", "nrm1")
    val b = withNorm.toDF("id2", "v2", "nrm2")
    a.crossJoin(b).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        when(col("nrm1") * col("nrm2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }
}

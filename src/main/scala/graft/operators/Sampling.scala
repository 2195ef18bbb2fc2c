package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting for training pipelines.
  *
  * Random `sample()` is irreproducible across runs/partitionings; these
  * operators key every decision on a content/id hash, so a document lands
  * in the same split on every engine, every run, at any scale — and the
  * md5 bucket arithmetic is reproducible in DuckDB, so splits are
  * oracle-checkable. All pure column expressions: no shuffle, no state. */
object Sampling {

  /** Stable bucket in [0, buckets) from the md5 of a key column —
    * `('0x' || substr(md5(x), 1, 12))::BIGINT % buckets` in DuckDB.
    *
    * Cross-engine stability holds for STRING and INTEGRAL keys, whose
    * string forms are canonical; fractional/temporal keys stringify
    * differently per engine (Spark "1.0E10" vs DuckDB "10000000000.0"),
    * so hash them through an explicit canonical format first. NULL keys
    * hash to NULL — see the call sites for their policy. */
  def hashBucket(key: Column, buckets: Int): Column =
    Dedup.md5Long48(key.cast("string").cast("binary")) % buckets

  /** Deterministic keyed sample: keep rows whose hash bucket falls below
    * `fraction` of the bucket space (math.round guards double rounding:
    * 0.29*10000 is 2899.9999999999995 in IEEE, flooring would keep one
    * bucket too few). NULL-keyed rows are EXCLUDED (hash is NULL). */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
      buckets: Int = 10000): DataFrame =
    df.where(hashBucket(col(keyCol), buckets) < math.round(fraction * buckets))

  /** Deterministic train/validation/test split label from the key hash:
    * bucket < trainPct → "train", < trainPct+valPct → "val", else "test".
    * NULL keys get an explicit "test" label (never train on rows whose
    * identity is unknown) rather than falling through silently. */
  def splitLabel(key: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must be within [0, 100]")
    val b = hashBucket(key, 100)
    when(key.isNull, "test")
      .when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Attach the split label as a `split` column. */
  def withSplit(df: DataFrame, keyCol: String, trainPct: Int = 80,
      valPct: Int = 10): DataFrame =
    df.withColumn("split", splitLabel(col(keyCol), trainPct, valPct))

  /** CLUSTER-SAFE deterministic split — the constructive fix for the
    * leakage a split-leakage scan detects: hashing each document's OWN id
    * into a split puts two near-duplicates on opposite sides of the
    * train/test boundary whenever their ids hash apart, and the test set
    * silently contains paraphrases of training documents. Here every
    * member of a near-dup CLUSTER takes the split of its cluster
    * REPRESENTATIVE (the connected component's minimum id; documents in
    * no pair represent themselves), so by construction no near-dup pair —
    * or any transitive chain of them — ever crosses a split boundary.
    *
    * `pairs` carries (id1, id2) near-dup edges from any detector
    * (MinHash-LSH, SimHash, perceptual hash). Scale shape: `comps` holds
    * one row per document appearing in ANY near-dup pair — on a clean
    * corpus that is pairs-bounded (≪ corpus) and the representative attach
    * is one broadcast left join, but this operator's target corpus is
    * precisely the dup-heavy one (a raw web crawl can put 30-50% of
    * documents in near-dup clusters), where the component table is
    * corpus-scale and an unconditional broadcast hint is a driver OOM, not
    * a plan choice. So the broadcast is GATED exactly like
    * [[Graph.pageRankScaled]]'s `broadcastNodeLimit`: below
    * `broadcastComponentLimit` rows (one size probe — a count over the
    * already-materialized component table) the join broadcasts, above it
    * the plain equi-join shuffles; `assumeSmallClusters` skips the probe
    * (Some(true) forces the broadcast, Some(false) the shuffle join) —
    * semantics identical either way. The split label stays the same pure
    * md5-bucket projection as [[withSplit]] — applied to the rep id.
    * NULL ids label "test" (the [[splitLabel]] rule). Adds `split`. */
  def withClusterSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10,
      broadcastComponentLimit: Long = 4000000L,
      assumeSmallClusters: Option[Boolean] = None): DataFrame = {
    val rawComps = Dedup.connectedComponents(pairs.select(col("id1"), col("id2")))
      .toDF("__graft_cs_id", "__graft_cs_rep")
    // the size probe and the join read the component table once each —
    // cache it (in the pass scope, released by the next pass) so the
    // component computation never runs twice
    val comps =
      if (assumeSmallClusters.isDefined) rawComps else CacheScope.persist(rawComps)
    val small = assumeSmallClusters.getOrElse(
      comps.count() <= broadcastComponentLimit)
    val compSide = if (small) broadcast(comps) else comps
    df.join(compSide, df(idCol) === col("__graft_cs_id"), "left")
      .withColumn("split",
        splitLabel(coalesce(col("__graft_cs_rep"), col(idCol)), trainPct, valPct))
      .drop("__graft_cs_id", "__graft_cs_rep")
  }

  /** Deterministic stratified (per-stratum-rate) sampling — how training
    * mixes are actually built: downsample over-represented domains or
    * languages, keep the rest. A row survives iff its key's hash bucket
    * (out of 100) falls below its stratum's percentage; strata absent from
    * `pctByStratum` use `defaultPct`. Keyed on the row hash, so the kept
    * set is reproducible across runs, engines, and partitionings, and
    * UPSAMPLING a stratum later (raising its pct) strictly grows the kept
    * set — no resample churn. NULL keys are excluded (hash is NULL),
    * NULL strata take `defaultPct`. Pure column expressions: no shuffle. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require(defaultPct >= 0 && defaultPct <= 100,
      s"defaultPct must be within [0, 100], got $defaultPct")
    pctByStratum.foreach { case (k, v) =>
      require(v >= 0 && v <= 100, s"pct for stratum '$k' must be within [0, 100], got $v")
    }
    // fold in sorted order so the generated plan is deterministic (Map
    // iteration order is not a contract)
    val rate = pctByStratum.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
        when(col(strataCol) === k, lit(v)).otherwise(acc)
      }
    df.where(hashBucket(col(keyCol), 100) < rate)
  }

  /** Deterministic weight-proportional bottom-k sampling WITHOUT
    * replacement — "pick k documents favoring the high-quality ones" with
    * a reproducible, engine-portable decision for every row.
    *
    * Each row draws `w` = min(weight, maxWeight) independent 48-bit md5
    * hashes (one per t ∈ 1..w of `id:t`) and keeps the minimum as its
    * priority; the sample is the k rows with the SMALLEST priorities
    * (ties by id). Min-of-w uniform draws is distributed Beta(1, w) — the
    * integer-exact equivalent of the Efraimidis–Spirakis u^(1/w) priority
    * key, so inclusion is exactly weight-proportional in the
    * without-replacement sense, monotone in w (more draws can only lower
    * the min: raising a row's weight never evicts it from the sample it
    * was already in, holding others fixed), and identical across engines
    * (DuckDB mirrors it with generate_series + the same md5 prefix parse).
    * Unlike `rand()`-based weighted reservoirs, the result does not depend
    * on run, partitioning, or traversal order.
    *
    * `maxWeight` caps the per-row draw fan-out (weights saturate at the
    * cap — beyond it, marginal inclusion gain is ≤ 1/cap per extra unit,
    * and the cap keeps the explode bounded at scale). Rows with weight
    * < 1 or NULL id are excluded.
    *
    * Scale shape: explode of ≤ maxWeight per row, map-side min combine
    * into one shuffle of distinct ids, then TakeOrdered k (per-partition
    * top-k heaps, no global sort). Output: (id, weight, priority). */
  /** The min-of-w priority as ONE column expression: w hashes via a
    * `transform` lambda over `sequence(1, w)`, reduced with `array_min` —
    * no explode, no per-id shuffle, the whole priority is a projection. */
  private def weightedPriority(idCol: String, w: Column): Column =
    array_min(transform(sequence(lit(1L), w), t =>
      Dedup.md5Long48(
        concat(col(idCol).cast("string"), lit(":"), t.cast("string"))
          .cast("binary"))))

  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, maxWeight: Int = 64): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxWeight >= 1, s"maxWeight must be >= 1, got $maxWeight")
    val w = least(col(weightCol).cast("long"), lit(maxWeight.toLong))
    df.where(col(weightCol) >= 1 && col(idCol).isNotNull)
      .select(col(idCol), w.as("weight"),
        weightedPriority(idCol, w).as("priority"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** Per-group weighted bottom-k: [[weightedSample]]'s priority ranked
    * WITHIN each group via the bounded-heap [[GroupTopK.topKPerGroup]]
    * (map-side partial top-k; ≤ k×partitions rows shuffle per group — no
    * window sort). The 48-bit priority is exact in double, so heap order
    * is bit-stable. Returns (groupCols*, rank, id, priority). */
  def weightedSamplePerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: String, weightCol: String, k: Int,
      maxWeight: Int = 64): DataFrame = {
    require(groupCols.nonEmpty, "weightedSamplePerGroup needs group columns")
    require(k > 0, s"k must be positive, got $k")
    require(maxWeight >= 1, s"maxWeight must be >= 1, got $maxWeight")
    val w = least(col(weightCol).cast("long"), lit(maxWeight.toLong))
    val pcol = Utils.tempColumnName(df)
    GroupTopK.topKPerGroup(
      df.where(col(weightCol) >= 1 && col(idCol).isNotNull)
        .withColumn(pcol, -weightedPriority(idCol, w).cast("double")),
      groupCols, pcol, idCol, k)
      .withColumn("priority", (-col(pcol)).cast("long"))
      .drop(pcol)
  }

  /** Deterministic global shuffle for training export — the data-ordering
    * pass every pre-training pipeline runs before tokenization: rows get a
    * reproducible pseudo-random order keyed on their id hash, independent
    * of input partitioning, engine, and run (so a resumed or re-sharded
    * job trains on the SAME sequence).
    *
    * Output: original columns + `bucket` (the output shard, md5-keyed) +
    * `pos` (the row's 1-based position within its shard, ordered by the
    * 48-bit md5 hash with the key as tie-break). At scale, shards are the
    * parallel unit: one shuffle on `bucket`, one SORT within each shard —
    * exactly the minimum work any engine must do to produce an explicit
    * reproducible order (the window is partitioned on the shuffle key, so
    * no global sort ever happens; writing with
    * `partitionBy(bucket)` + `sortWithinPartitions` streams the same
    * order without materializing `pos`).
    *
    * NULL keys hash to NULL and land in bucket NULL at position order by
    * tie-break — exclude them upstream if that matters. */
  def deterministicShuffle(df: DataFrame, keyCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val h = Dedup.md5Long48(col(keyCol).cast("string").cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("__graft_shuffle_h"), col(keyCol))
    df.withColumn("__graft_shuffle_h", h)
      .withColumn("bucket", (col("__graft_shuffle_h") % buckets).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__graft_shuffle_h")
  }

  /** Data-mixing planner — the "hit these domain proportions inside this
    * token budget" computation every pre-training mix starts from. Groups
    * by `groupCol` (domain/source/language), sums `sizeCol` (tokens or
    * chars) into per-group availability, and derives for each group from
    * its integer `weightOf(group)` target weight:
    *
    *   - `desired_size` = budget · weight / Σweights,
    *   - `rate`         = desired_size / available  (>1 ⇒ upsampling),
    *   - `epochs`       = ⌈rate⌉ — how many passes over the group,
    *   - `per_epoch_rate` = rate / epochs — the per-pass acceptance
    *     probability (≤ 1 by construction) that yields `rate` in
    *     expectation over `epochs` passes.
    *
    * Every fraction is a single IEEE double op on exact integers, so the
    * plan is bit-reproducible in any engine (oracle-checkable). The
    * cross-group weight total uses a constant-partition window: the frame
    * at that point is one row per GROUP — mixture domains number in the
    * tens at any corpus scale — so the single-partition window is free,
    * and it keeps the plan join-free (a 1-row broadcast cross join would
    * work too but would put a nested-loop join node in the plan). */
  def mixturePlan(df: DataFrame, groupCol: String, sizeCol: String,
      weightOf: Column => Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    // non-foldable constant key (doc counts are ≥ 0) — a literal would be
    // stripped and WindowExec would warn; see Windows.constantPartition
    val one = Windows.constantPartition(col("n_docs"))
    val rate = col("desired_size") / col("available").cast("double")
    df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_docs"), sum(col(sizeCol)).cast("long").as("available"))
      .withColumn("weight", weightOf(col("group")).cast("long"))
      .withColumn("desired_size",
        col("weight").cast("double") * budget / sum(col("weight")).over(one).cast("double"))
      .withColumn("epochs", ceil(rate).cast("long"))
      .withColumn("per_epoch_rate",
        when(col("epochs") === 0, lit(0.0))
          .otherwise(rate / col("epochs").cast("double")))
      .select("group", "n_docs", "available", "weight",
        "desired_size", "epochs", "per_epoch_rate")
  }

  /** Apply a [[mixturePlan]]: emit each surviving (row, epoch) pair. Rows
    * repeat up to `epochs` times (upsampled domains train multiple passes);
    * each (id, epoch) pair survives iff its md5 bucket falls below the
    * group's per-epoch acceptance threshold — deterministic across runs,
    * engines, and partitionings, like every sampler here. The plan is tiny
    * (one row per domain) and joins broadcast; the epoch explode multiplies
    * only upsampled groups. NULL ids are excluded (hash is NULL). */
  def mixtureSample(df: DataFrame, groupCol: String, sizeCol: String,
      idCol: String, weightOf: Column => Column, budget: Long,
      buckets: Int = 10000): DataFrame = {
    val plan = mixturePlan(df, groupCol, sizeCol, weightOf, budget)
      .select(col("group"), col("epochs"), col("per_epoch_rate"))
    val threshold = floor(col("per_epoch_rate") * buckets + 0.5).cast("long")
    df.join(broadcast(plan), df(groupCol) === plan("group"))
      .where(col("epochs") >= 1)
      .withColumn("epoch", explode(sequence(lit(1L), col("epochs"))))
      .where(hashBucket(
        concat(col(idCol).cast("string"), lit("#"), col("epoch").cast("string")),
        buckets) < threshold)
      .select(df.columns.map(col) :+ col("epoch"): _*)
  }

  /** Cumulative Poisson(1) probabilities over a 10⁶ hash space — the
    * multiplicity thresholds of [[poissonBootstrapMeans]] (P(k≤0)=.367879,
    * k≤1=.735759, k≤2=.919699, k≤3=.981012, k≤4=.996340; the tail caps at
    * 5, total mass error < 4·10⁻⁴). */
  val PoissonThresholds: Seq[Long] = Seq(367879L, 735759L, 919699L, 981012L, 996340L)

  /** Deterministic POISSON BOOTSTRAP of a mean — the error bar on a corpus
    * metric ("mean quality is 0.61 ± what?") computed the only way that
    * scales: the classic n-out-of-n resample needs a global draw per
    * replicate, but the Poisson approximation gives every row an
    * independent multiplicity m ~ Poisson(1) per replicate, so the whole
    * B-replicate bootstrap is ONE map-side pass — here with m a pure md5
    * function of (id, replicate), so the resample is reproducible across
    * runs, engines, and partitionings (the house sampler discipline).
    *
    * Exactness: values enter as floor(value·scale) BIGINTs, replicate sums
    * are exact integers (associative-commutative — hash-checkable), and
    * the mean is a fixed two-division double sequence. Contract:
    * |value|·scale must fit a long per row and Σ m·value·scale per
    * replicate must fit a long (n·5·scale·max|value| < 2⁶³ — drop `scale`
    * an order of magnitude per 10× corpus growth; quality-score shaped
    * values in [0,1] hold to ~10⁹ rows at the default). NULL ids/values
    * are excluded. Output: (replicate, n_eff, mean_value), one row per
    * replicate — the CALLER reads its quantiles as the CI. */
  def poissonBootstrapMeans(df: DataFrame, valueCol: String, idCol: String,
      replicates: Int, scale: Long = 1000000000L): DataFrame = {
    require(replicates >= 1, s"replicates must be >= 1, got $replicates")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val exploded = df
      .where(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        floor(col(valueCol).cast("double") * scale).cast("long").as("__q"))
      .withColumn("b", explode(sequence(lit(1L), lit(replicates.toLong))))
    val h = hashBucket(
      concat(col("__id"), lit("#"), col("b").cast("string")), 1000000)
    val m = PoissonThresholds.zipWithIndex
      .foldRight(lit(PoissonThresholds.length.toLong)) { case ((t, k), rest) =>
        when(h < t, k.toLong).otherwise(rest)
      }
    exploded
      .withColumn("__m", m)
      .groupBy(col("b").as("replicate"))
      .agg(sum(col("__m")).as("n_eff"), sum(col("__m") * col("__q")).as("__sq"))
      .select(col("replicate"), col("n_eff"),
        (col("__sq").cast("double") / col("n_eff").cast("double")
          / lit(scale.toDouble)).as("mean_value"))
  }
}

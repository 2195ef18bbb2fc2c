package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the data-hygiene pass a training pipeline runs before
  * comparing or ingesting a table: per-column null counts and distinct
  * cardinalities in ONE aggregation job (Spark plans the multiple DISTINCT
  * aggregates with a single expand + shuffle; no per-column jobs). */
object Profile {

  /** (column, n_nulls, n_distinct) per column. `exact = false` swaps
    * `countDistinct` for HLL `approx_count_distinct` — the 100 TB setting;
    * exact is what makes the driver query oracle-checkable. */
  def columnProfile(df: DataFrame, exact: Boolean = true): DataFrame = {
    val cols = df.columns.toSeq
    val exprs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exact) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"__nd_$c"))
    } :+ count(lit(1)).as("__total")
    val r = df.agg(exprs.head, exprs.tail: _*).first()
    import df.sparkSession.implicits._
    cols.map { c =>
      (c, r.getAs[Long]("__total") - r.getAs[Long](s"__nn_$c"), r.getAs[Long](s"__nd_$c"))
    }.toDF("column", "n_nulls", "n_distinct")
  }

  /** Equi-width histogram over a numeric column: one tiny min/max
    * aggregation fixes the bin edges driver-side, then one grouped count
    * produces the (non-empty) bins — two O(data) scans, one exchange of
    * ≤ `bins` partial-count rows (map-side combine makes the shuffle
    * byte-count independent of data size).
    *
    * All edge arithmetic is a FIXED double-op sequence (width =
    * (max−min)/bins once; bin = floor((v−min)/width) clamped into the last
    * bin; lo/hi = min + bin·width) so the result is bit-identical across
    * engines. Degenerate case max == min puts everything in bin 0. */
  def equiWidthHistogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val spark = df.sparkSession
    val v = col(c).cast("double")
    val mm = df.agg(min(v).as("mn"), max(v).as("mx")).first()
    import spark.implicits._
    if (mm.isNullAt(0)) return Seq.empty[(Long, Double, Double, Long)]
      .toDF("bin", "lo", "hi", "n")
    val mn = mm.getDouble(0)
    val mx = mm.getDouble(1)
    if (mx == mn)
      return df.where(v.isNotNull).agg(count(lit(1)).as("n"))
        .select(lit(0L).as("bin"), lit(mn).as("lo"), lit(mx).as("hi"), col("n"))
    val width = (mx - mn) / bins
    val bin = least(floor((v - lit(mn)) / lit(width)), lit((bins - 1).toLong))
    df.where(v.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (lit(mn) + col("bin").cast("double") * lit(width)).as("lo"),
        (lit(mn) + (col("bin") + 1).cast("double") * lit(width)).as("hi"),
        col("n"))
  }

  /** Executed-plan string of the most recent [[selectRanks]] sort phase —
    * test-only observability (the spec pins that the rank sort is
    * partitioned by (column, bucket), i.e. parallel, not one task per
    * column). None when every target rank resolved via the pure-bucket
    * shortcut. */
  @volatile private[graft] var lastRankSelectionPlan: Option[String] = None

  /** Distributed EXACT rank selection: the value at 1-based rank k of each
    * column's sorted non-NULL values, for many (column, k) targets at once.
    *
    * Two phases, neither of which ever sorts a whole column in one task
    * (the scale flaw of a `row_number` window partitioned only by column —
    * at 100 TB that is one task sorting one column's entire data):
    *
    *   A. One equi-width bucket pass: each value maps to one of `buckets`
    *      value-range buckets (floor((v−min)/width), order-refining since
    *      floor is monotone), and a grouped count/min/max per
    *      (column, bucket) — ≤ cols·buckets rows — comes back to the
    *      driver. Walking the cumulative counts locates each target rank's
    *      bucket and its rank-offset WITHIN that bucket.
    *   B. Only the hit buckets (expected n/buckets rows each) are sorted:
    *      a broadcast semi-join keeps their rows, `row_number` over
    *      (column, bucket) — parallel across hits — picks the offsets.
    *
    * A hit bucket whose min == max needs no sort at all (the answer is
    * that value) — this also neutralizes the worst skew case, a dominant
    * tied value concentrating a column in one bucket. Identical results to
    * the full sort, including ties (bucketing refines the value order, and
    * tied rows all carry the same v). */
  private[graft] def selectRanks(
      stacked: DataFrame,
      ranksPerCol: Map[String, Seq[Long]],
      statsPerCol: Map[String, (Double, Double)],
      buckets: Int = 1024): Map[(String, Long), Double] = {
    val wanted = ranksPerCol.filter(_._2.nonEmpty)
    if (wanted.isEmpty) return Map.empty
    val spark = stacked.sparkSession
    import spark.implicits._
    val bstats = wanted.keys.toSeq.sorted
      .map { c => val (mn, mx) = statsPerCol(c); (c, mn, mx) }
      .toDF("column", "__mn", "__mx")
    // NaN/±Inf-safe: least() treats NaN as greatest (→ last bucket, where
    // the sort also puts it); greatest() floors -Inf into bucket 0. The
    // cast happens after clamping so ANSI mode never sees a NaN→long cast.
    val width = (col("__mx") - col("__mn")) / lit(buckets.toDouble)
    val bucketCol = when(col("__mx") === col("__mn"), lit(0L)).otherwise(
      greatest(least(floor((col("v") - col("__mn")) / width),
        lit((buckets - 1).toDouble)), lit(0.0)).cast("long"))
    val bucketed = stacked.where(col("v").isNotNull)
      .join(broadcast(bstats), Seq("column"))
      .withColumn("__b", bucketCol)
    // Phase A: bucket histogram, ≤ cols·buckets rows to the driver
    val hist: Map[String, Seq[(Long, Long, Double, Double)]] = bucketed
      .groupBy("column", "__b")
      .agg(count(lit(1)).as("n"), min(col("v")).as("mnv"), max(col("v")).as("mxv"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy(_._1)).toMap
    val resolved = collection.mutable.Map.empty[(String, Long), Double]
    // (column, bucket) -> (offset within bucket -> global rank)
    val needSort =
      collection.mutable.Map.empty[(String, Long), collection.mutable.Map[Long, Long]]
    wanted.foreach { case (c, ranks) =>
      var cum = 0L
      val spans = hist.getOrElse(c, Seq.empty).map { case (b, n, mnv, mxv) =>
        val start = cum; cum += n; (b, n, start, mnv, mxv)
      }
      ranks.distinct.foreach { k =>
        spans.find(s => k > s._3 && k <= s._3 + s._2) match {
          case Some((b, _, start, mnv, mxv)) =>
            if (mnv == mxv) resolved((c, k)) = mnv
            else needSort.getOrElseUpdate((c, b),
              collection.mutable.Map.empty) += ((k - start) -> k)
          case None => // k out of range — caller passed rank > n; skip
        }
      }
    }
    // Phase B: sort ONLY the hit buckets, in parallel across (column, bucket)
    if (needSort.nonEmpty) {
      val hitDf = needSort.toSeq
        .map { case ((c, b), offs) => (c, b, offs.keys.toSeq.sorted) }
        .toDF("column", "__b", "__offs")
      val picked = bucketed
        .join(broadcast(hitDf), Seq("column", "__b"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("column", "__b").orderBy("v")))
        .where(array_contains(col("__offs"), col("__rn").cast("long")))
        .select(col("column"), col("__b"), col("__rn").cast("long").as("__rn"),
          col("v"))
      lastRankSelectionPlan = Some(picked.queryExecution.executedPlan.toString)
      picked.collect().foreach { r =>
        val key = (r.getString(0), r.getLong(1))
        resolved((r.getString(0), needSort(key)(r.getLong(2)))) = r.getDouble(3)
      }
    } else lastRankSelectionPlan = None
    resolved.toMap
  }

  /** [[selectRanks]] for STRING keys (lexicographic / UTF-8 binary order —
    * Spark's string comparison): the value at 1-based rank k of each
    * column's sorted non-NULL strings, for many (column, k) targets at
    * once. Same two-phase shape — an order-refining bucket pass, then
    * parallel sorts of ONLY the hit buckets — so no task ever sorts a
    * whole column.
    *
    * The bucket key is a MONOTONE numeric encoding of the string: the
    * codepoints of the first 3 characters after the column's COMMON PREFIX,
    * base-2²¹ (UTF-8 byte order equals codepoint order, so the encoding
    * never inverts string order; strings equal through the encoded window
    * share a bucket and resolve in the in-bucket sort — correctness needs
    * only weak monotonicity, never uniqueness). The common prefix of the
    * column's min and max IS a prefix of every value in between (binary
    * order), and stripping it keeps real-world keys with a long shared
    * prefix — "doc_000…" ids, URL schemes — from collapsing into one
    * bucket. The encoding min/max per column comes from one extra tiny
    * aggregation over the SAME expression the bucketing uses, so there is
    * no driver-side arithmetic mirror to drift.
    *
    * Worst case — values identical through prefix+3 codepoints but not
    * equal — degrades to one bucket whose single sort is the column (the
    * caller's shard count bounds how much that costs); the pure-bucket
    * shortcut still resolves fully-tied columns without any sort. */
  private[graft] def selectRanksString(
      stacked: DataFrame,
      ranksPerCol: Map[String, Seq[Long]],
      buckets: Int = 1024): Map[(String, Long), String] = {
    val wanted = ranksPerCol.filter(_._2.nonEmpty)
    if (wanted.isEmpty) return Map.empty
    val spark = stacked.sparkSession
    import spark.implicits._
    val nn = stacked.where(col("v").isNotNull)
    val mm = nn.groupBy("column").agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    if (mm.isEmpty) return Map.empty
    // common prefix in Java chars, floored to a codepoint boundary (never
    // split a surrogate pair), then converted to a CODEPOINT count — the
    // unit Spark's substr indexes by
    def prefixCodepoints(a: String, b: String): Int = {
      var i = 0
      val lim = math.min(a.length, b.length)
      while (i < lim && a.charAt(i) == b.charAt(i)) i += 1
      if (i > 0 && Character.isHighSurrogate(a.charAt(i - 1))) i -= 1
      a.codePointCount(0, i)
    }
    val pstats = mm.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => (c, prefixCodepoints(mn, mx)) }
      .toDF("column", "__p")
    // codepoint window after the prefix; ascii('') = 0 pads exhausted
    // strings low, which matches "shorter sorts first" in binary order
    def cp(j: Int) = ascii(col("v").substr(col("__p") + lit(1 + j), lit(1)))
    val enc = ((cp(0).cast("double") * lit(2097152.0) + cp(1).cast("double"))
      * lit(2097152.0) + cp(2).cast("double"))
    val withEnc = nn.join(broadcast(pstats), Seq("column")).withColumn("__e", enc)
    // encoding extrema per column from the SAME expression (no Scala mirror)
    val estats = withEnc.groupBy("column")
      .agg(min(col("__e")).as("__emn"), max(col("__e")).as("__emx"))
    val width = (col("__emx") - col("__emn")) / lit(buckets.toDouble)
    val bucketCol = when(col("__emx") === col("__emn"), lit(0L)).otherwise(
      greatest(least(floor((col("__e") - col("__emn")) / width),
        lit((buckets - 1).toDouble)), lit(0.0)).cast("long"))
    val bucketed = withEnc.join(broadcast(estats), Seq("column"))
      .withColumn("__b", bucketCol)
    // Phase A: bucket histogram with per-bucket STRING extrema
    val hist: Map[String, Seq[(Long, Long, String, String)]] = bucketed
      .groupBy("column", "__b")
      .agg(count(lit(1)).as("n"), min(col("v")).as("mnv"), max(col("v")).as("mxv"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy(_._1)).toMap
    val resolved = collection.mutable.Map.empty[(String, Long), String]
    val needSort =
      collection.mutable.Map.empty[(String, Long), collection.mutable.Map[Long, Long]]
    wanted.foreach { case (c, ranks) =>
      var cum = 0L
      val spans = hist.getOrElse(c, Seq.empty).map { case (b, n, mnv, mxv) =>
        val start = cum; cum += n; (b, n, start, mnv, mxv)
      }
      ranks.distinct.foreach { k =>
        spans.find(s => k > s._3 && k <= s._3 + s._2) match {
          case Some((b, _, start, mnv, mxv)) =>
            if (mnv == mxv) resolved((c, k)) = mnv
            else needSort.getOrElseUpdate((c, b),
              collection.mutable.Map.empty) += ((k - start) -> k)
          case None => // rank > n; skip
        }
      }
    }
    // Phase B: sort ONLY the hit buckets, parallel across (column, bucket)
    if (needSort.nonEmpty) {
      val hitDf = needSort.toSeq
        .map { case ((c, b), offs) => (c, b, offs.keys.toSeq.sorted) }
        .toDF("column", "__b", "__offs")
      val picked = bucketed
        .join(broadcast(hitDf), Seq("column", "__b"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("column", "__b").orderBy("v")))
        .where(array_contains(col("__offs"), col("__rn").cast("long")))
        .select(col("column"), col("__b"), col("__rn").cast("long").as("__rn"),
          col("v"))
      lastRankSelectionPlan = Some(picked.queryExecution.executedPlan.toString)
      picked.collect().foreach { r =>
        val key = (r.getString(0), r.getLong(1))
        resolved((r.getString(0), needSort(key)(r.getLong(2)))) = r.getString(3)
      }
    } else lastRankSelectionPlan = None
    resolved.toMap
  }

  /** Equi-DEPTH histogram: `buckets` bins bounded by the exact
    * percentile_disc order statistics at i/buckets — each bin holds
    * roughly n/buckets rows (exactly, up to value ties crossing a
    * boundary). Bucket assignment is the comparison count
    * Σᵢ [v > bᵢ] over the broadcast boundary literals — engine-exact,
    * no interpolation anywhere. Boundaries come from the distributed
    * bucketed [[selectRanks]] (parallel partial sorts of only the hit
    * buckets) + one grouped count. Output: (bucket, n, min_v, max_v). */
  def equiDepthHistogram(df: DataFrame, c: String, buckets: Int): DataFrame = {
    require(buckets > 1, s"buckets must be > 1, got $buckets")
    val spark = df.sparkSession
    val v = col(c).cast("double")
    // boundaries by RANK SELECTION, not stacked percentile_disc aggregates:
    // b-1 independent percentile_disc calls each buffer the whole column in
    // one sort-based aggregation object (15s vs 2s at sf0.1 for 9 deciles).
    // Instead: one count/min/max, the percentile_disc target ranks in exact
    // integer arithmetic (k = ceil(i·n/buckets) — smallest k with
    // k/n ≥ i/buckets), then the distributed bucketed [[selectRanks]] —
    // no single task ever sorts the whole column (the previous
    // unpartitioned row_number window did exactly that).
    val mm = df.agg(count(v).as("n"), min(v).as("mn"), max(v).as("mx")).first()
    val n = mm.getLong(0)
    import spark.implicits._
    if (n == 0) return Seq.empty[(Long, Long, Double, Double)]
      .toDF("bucket", "n", "min_v", "max_v")
    val ranks = (1 until buckets)
      .map(i => math.max(1L, (i.toLong * n + buckets - 1) / buckets))
      .distinct
    val hits = selectRanks(
      df.where(v.isNotNull).select(lit(c).as("column"), v.as("v")),
      Map(c -> ranks.map(_.toLong)),
      Map(c -> ((mm.getDouble(1), mm.getDouble(2)))))
    val bounds = (1 until buckets)
      .map(i => hits((c, math.max(1L, (i.toLong * n + buckets - 1) / buckets))))
    val bucket = bounds.map(b => when(v > lit(b), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    df.where(v.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), min(v).as("min_v"), max(v).as("max_v"))
  }

  /** PER-GROUP exact quantile thresholds — the machinery behind ADAPTIVE
    * quality gates: one global score cut misgrades whole languages or
    * domains whose score distributions sit lower, so real pipelines cut at
    * "each group's own p-th percentile". The quantile is the EXACT order
    * statistic at 1-based rank ⌈(num/den)·n_g⌉ of each group's ascending
    * non-NULL values (exact integer rank arithmetic — no float p).
    *
    * Scale shape: each group is stacked as its own "column" of the
    * distributed rank selection ([[selectRanks]] — the group label IS the
    * multi-column key), so the selection inherits the two-phase bucketed
    * design whole: one grouped count/min/max pass, then ONLY hit buckets
    * sort, in parallel across (group, bucket), pure-tie buckets sort-free.
    * No task ever sorts one group's whole data, which is what a
    * `row_number() OVER (PARTITION BY group)` would do to a skewed group
    * at 100 TB. Group cardinality must be driver-bounded (languages,
    * domains, sources — the same contract as the histogram collect:
    * ≤ groups·buckets summary rows come to the driver).
    *
    * NULL groups and NULL values are excluded (a NULL group has no
    * percentile contract; mirror of the sampling operators' NULL-key
    * rule). Output: one row per group — (groupCol as string, n, threshold)
    * where n counts the group's non-NULL values. Groups smaller than den
    * still resolve (rank clamps to ≥ 1). */
  def thresholdsByGroup(df: DataFrame, groupCol: String, valueCol: String,
      pctNum: Int, pctDen: Int, buckets: Int = 1024): DataFrame = {
    require(pctDen > 0 && pctNum >= 0 && pctNum <= pctDen,
      s"need 0 <= pctNum <= pctDen, got $pctNum/$pctDen")
    require(groupCol != "n" && groupCol != "threshold",
      s"groupCol '$groupCol' collides with an output column name")
    val spark = df.sparkSession
    import spark.implicits._
    val g = col(groupCol).cast("string")
    val v = col(valueCol).cast("double")
    val nn = df.where(g.isNotNull && v.isNotNull)
      .select(g.as("column"), v.as("v"))
    // one grouped pass: per-group count/min/max (driver-bounded by groups)
    val stats = nn.groupBy("column")
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    if (stats.isEmpty)
      return Seq.empty[(String, Long, Double)].toDF(groupCol, "n", "threshold")
    // rank = ceil(num·n/den) in exact integer arithmetic, clamped to ≥ 1
    def rank(n: Long): Long =
      math.max(1L, (pctNum.toLong * n + pctDen - 1) / pctDen)
    val hits = selectRanks(
      nn,
      stats.map { case (grp, (n, _, _)) => grp -> Seq(rank(n)) },
      stats.map { case (grp, (_, mn, mx)) => grp -> ((mn, mx)) },
      buckets)
    stats.toSeq.sortBy(_._1)
      .map { case (grp, (n, _, _)) => (grp, n, hits((grp, rank(n)))) }
      .toDF(groupCol, "n", "threshold")
  }

  /** Tukey-fence (IQR) outlier profile: per column, the exact p25/p75
    * order statistics fix lo/hi fences at 1.5·IQR, then ONE counting pass
    * tallies rows beyond each fence. Fences are a fixed double-op sequence
    * over exact order statistics (engine-bit-identical); the percentile
    * pass reuses [[numericProfile]]'s rank-selection machinery.
    * Output: (column, p25, p75, lo_fence, hi_fence, n_below, n_above). */
  def outlierProfile(df: DataFrame, cols: Seq[String],
      fenceFactor: Double = 1.5): DataFrame = {
    val spark = df.sparkSession
    val quart = numericProfile(df, cols, Seq(0.25, 0.75))
      .collect().map(r => r.getString(0) -> ((r.getDouble(4), r.getDouble(5)))).toMap
    val fences = cols.map { c =>
      val (p25, p75) = quart(c)
      val iqr = p75 - p25
      c -> ((p25, p75, p25 - fenceFactor * iqr, p75 + fenceFactor * iqr))
    }
    val aggs = fences.flatMap { case (c, (_, _, lo, hi)) =>
      val v = col(c).cast("double")
      Seq(sum(when(v < lo, 1L).otherwise(0L)).as(s"__below_$c"),
        sum(when(v > hi, 1L).otherwise(0L)).as(s"__above_$c"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).first()
    import spark.implicits._
    fences.map { case (c, (p25, p75, lo, hi)) =>
      (c, p25, p75, lo, hi,
        r.getAs[Long](s"__below_$c"), r.getAs[Long](s"__above_$c"))
    }.toDF("column", "p25", "p75", "lo_fence", "hi_fence", "n_below", "n_above")
  }

  /** Exact Pearson correlation for every pair of `cols` in ONE aggregation
    * pass: all first/second moments accumulate as DECIMAL sums (exact —
    * no double accumulation-order nondeterminism, unlike `corr()`'s
    * streaming co-moment updates), then each pair's coefficient is a fixed
    * double-op sequence over the collected moments:
    * (n·Σxy − Σx·Σy) / (√(n·Σx² − Σx²_sum) · √(n·Σy² − Σy²_sum)) —
    * engine-bit-identical given the exact sums. NULL handling: rows are
    * counted by `count(*)`, so columns are expected non-NULL (profile
    * nulls first via [[columnProfile]]).
    *
    * Scale shape: one scan, one single-row shuffle of
    * cols + cols·(cols+1)/2 decimal partials; the pair algebra is
    * driver-side on that single row. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val spark = df.sparkSession
    val base = df.select(cols.map(c => col(c).cast("decimal(18,6)").as(c)): _*)
    val pairs = for {
      (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i <= j
    } yield (a, b)
    val aggs = (count(lit(1)).as("n") +:
      cols.map(c => sum(col(c)).as(s"s_$c"))) ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"p_${a}__$b") }
    val r = base.agg(aggs.head, aggs.tail: _*).first()
    val nD = r.getAs[Long]("n").toDouble
    def d(name: String): Double = r.getDecimal(r.fieldIndex(name)).doubleValue()
    def p(a: String, b: String): Double =
      if (cols.indexOf(a) <= cols.indexOf(b)) d(s"p_${a}__$b") else d(s"p_${b}__$a")
    import spark.implicits._
    (for { (a, i) <- cols.zipWithIndex; (b, j) <- cols.zipWithIndex if i < j }
      yield {
        val num = nD * p(a, b) - d(s"s_$a") * d(s"s_$b")
        val den = math.sqrt(nD * p(a, a) - d(s"s_$a") * d(s"s_$a")) *
          math.sqrt(nD * p(b, b) - d(s"s_$b") * d(s"s_$b"))
        (a, b, if (den == 0.0) null.asInstanceOf[java.lang.Double]
               else java.lang.Double.valueOf(num / den))
      }).toDF("col1", "col2", "corr")
  }

  /** Numeric distribution profile: per column, null count, min/max, and
    * DISCONTINUOUS percentiles — order statistics (actual elements of the
    * column, the `percentile_disc` definition: the value at rank
    * ceil(p·n) of the non-NULL sorted column), so the result is exact and
    * engine-mirrorable; interpolated percentiles blend two doubles with
    * engine-specific operand order and are not. `exact = false` swaps in
    * `approx_percentile` (t-digest) — the 100 TB setting, where exact
    * order statistics are not on the table.
    *
    * Shape: the table unpivots to (column, v) pairs (`stack` — codegen'd,
    * keeps NULL values). The exact path then computes order statistics by
    * RANK SELECTION: one cheap counts/min/max aggregation fixes each
    * column's target ranks, and the distributed bucketed [[selectRanks]]
    * picks exactly those rows — one equi-width histogram pass locates each
    * rank's value-range bucket, and only the hit buckets (≈n/1024 rows)
    * are sorted, in parallel across (column, bucket). No single task ever
    * sorts a whole column (the earlier per-column row_number window did,
    * which is a non-starter at 100 TB). The still-earlier
    * `percentile_disc` aggregation built a value→count map per column and
    * merged every partition's partial maps in the final tasks —
    * near-continuous columns made those maps row-sized, and the
    * single-threaded merges dominated the sf0.1 profile query (measured
    * 4.6-5.7s for the percentile agg vs 1.5-2.4s for rank selection,
    * identical values — including ties, where rank selection picks an
    * arbitrary row among equals but every such row carries the same v).
    * Percentiles must map to distinct integer percent labels (p25, ...). */
  def numericProfile(df: DataFrame, cols: Seq[String],
      percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "numericProfile needs at least one column")
    val labels = percentiles.map(p => s"p${math.round(p * 100)}")
    require(labels.distinct.size == labels.size,
      s"percentiles must have distinct percent labels, got $labels")
    require(percentiles.forall(p => p > 0.0 && p <= 1.0),
      s"percentiles must be in (0, 1], got $percentiles")
    val stackExpr = s"stack(${cols.length}, " + cols.map(c =>
      s"'${c.replace("'", "''")}', CAST(`$c` AS DOUBLE)").mkString(", ") +
      ") AS (column, v)"
    val stacked = df.selectExpr(stackExpr)
    // min/max aggregates return SQL NULL for an all-NULL (or empty)
    // column; getAs[Double] would silently unbox that to 0.0, so read via
    // isNullAt and emit a real null cell (the schema already marks these
    // fields nullable). An empty input produces no groups at all — those
    // columns get the same all-NULL row with zero counts.
    def numOrNull(r: org.apache.spark.sql.Row, name: String): Any = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) null else r.getDouble(i)
    }
    val rows: Seq[org.apache.spark.sql.Row] = if (exact) {
      // phase 1 is ONE stack-free aggregation over the original columns
      // (columnProfile's shape): the previous stacked.groupBy("column")
      // scanned the cols×-exploded pair stream and reduced onto only
      // `cols` shuffle keys — same numbers, strictly more work (measured
      // the fastest-growing term of the 64× scale sweep). The stacked
      // frame is still what rank selection bucket-scans below.
      val aggExprs = count(lit(1)).as("__total") +: cols.flatMap { c =>
        val v = col(c).cast("double")
        Seq(count(v).as(s"__n_$c"), min(v).as(s"__min_$c"), max(v).as(s"__max_$c"))
      }
      val r = df.agg(aggExprs.head, aggExprs.tail: _*).first()
      val total = r.getAs[Long]("__total")
      val nPerCol = cols.map(c => c -> r.getAs[Long](s"__n_$c")).toMap
      // rank of percentile p among a column's n non-NULL values, sorted:
      // smallest k with k/n ≥ p ⟺ k = ceil(p·n) (the percentile_disc rule)
      val ranksPerCol: Map[String, Seq[Long]] = nPerCol.collect {
        case (c, n) if n > 0 =>
          c -> percentiles.map(p => math.max(1L, math.ceil(p * n).toLong))
      }
      val statsPerCol = nPerCol.collect {
        case (c, n) if n > 0 =>
          c -> ((r.getDouble(r.fieldIndex(s"__min_$c")),
            r.getDouble(r.fieldIndex(s"__max_$c"))))
      }
      val hits = selectRanks(stacked, ranksPerCol, statsPerCol)
      cols.map { c =>
        val pvals = ranksPerCol.get(c) match {
          case Some(ks) => ks.map(k => hits((c, k)): Any)
          case None => percentiles.map(_ => null: Any) // all-NULL column
        }
        org.apache.spark.sql.Row.fromSeq(
          Seq(c, total - nPerCol(c),
            numOrNull(r, s"__min_$c"), numOrNull(r, s"__max_$c")) ++ pvals)
      }
    } else {
      val aggExprs = Seq(
        count(lit(1)).as("__total"),
        count(col("v")).as("__n"),
        min(col("v")).as("__min"),
        max(col("v")).as("__max")) ++
        percentiles.zipWithIndex.map { case (p, i) =>
          expr(s"approx_percentile(v, $p)").as(s"__p$i")
        }
      val byCol = stacked.groupBy("column")
        .agg(aggExprs.head, aggExprs.tail: _*)
        .collect().map(r => r.getString(0) -> r).toMap
      cols.map { c =>
        byCol.get(c) match {
          case Some(r) =>
            org.apache.spark.sql.Row.fromSeq(
              Seq(c, r.getAs[Long]("__total") - r.getAs[Long]("__n"),
                numOrNull(r, "__min"), numOrNull(r, "__max")) ++
                percentiles.indices.map(i => numOrNull(r, s"__p$i")))
          case None =>
            org.apache.spark.sql.Row.fromSeq(
              Seq(c, 0L, null, null) ++ percentiles.indices.map(_ => null))
        }
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      Seq(
        org.apache.spark.sql.types.StructField("column",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_nulls",
          org.apache.spark.sql.types.LongType, nullable = false)) ++
        ("min" +: "max" +: labels).map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.DoubleType)))
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Chi-squared categorical drift between two slices: the 2×C contingency
    * table with each cell's χ² contribution computed as an EXACT
    * cross-multiplied rational, divided once at the end.
    *
    * For side s with row total R_s, category total C_c, grand total N and
    * observed o: the textbook (o−e)²/e with e = R_s·C_c/N rearranges to
    *
    *   contribution = (o·N − R_s·C_c)² / (N · R_s · C_c)
    *
    * — numerator and denominator are exact DECIMAL products of BIGINT
    * counts, so the only float op is the final double division (plus one
    * double add combining the two sides), making every cell bit-identical
    * across engines. A single scalar χ² would sum per-cell doubles in
    * engine-dependent order; the per-cell table is the portable form (sum
    * it client-side if a scalar is wanted).
    *
    * Scale shape: the two grouped counts are the only O(data) work (one
    * scan each, map-side combine, shuffle bytes ∝ category count); the
    * rational arithmetic runs on the C-row cell table joined to a
    * broadcast single-row totals frame. Exactness bounds: the decimal
    * widths below hold to ~10⁹ rows per side (|o·N − R·C| ≤ N² needs ≤ 19
    * digits); past that, flip the same formula to doubles — the plan is
    * unchanged. */
  def chi2Drift(a: DataFrame, b: DataFrame, catCol: String): DataFrame = {
    val ca = a.groupBy(col(catCol)).agg(count(lit(1)).as("n_a"))
    val cb = b.groupBy(col(catCol)).agg(count(lit(1)).as("n_b"))
    val cells = ca.join(cb, Seq(catCol), "full_outer")
      .select(col(catCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    // the grand totals ride a constant-partition window over the cell
    // table — C rows at any corpus scale, so the single-partition window
    // is free and join-free; see [[Windows.constantPartition]] for why the
    // key must be non-foldable
    val one = Windows.constantPartition(col("n_a"))
    def dec(c: org.apache.spark.sql.Column, p: Int) = c.cast(s"decimal($p,0)")
    val withTot = cells
      .withColumn("r_a", sum(col("n_a")).over(one))
      .withColumn("r_b", sum(col("n_b")).over(one))
      .withColumn("n_tot", col("r_a") + col("r_b"))
      .withColumn("c_tot", col("n_a") + col("n_b"))
    def term(o: String, r: String) = {
      // (o·N − R·C) fits DECIMAL(19); its square fills DECIMAL(38) exactly.
      val diff = dec(dec(col(o), 9) * dec(col("n_tot"), 9) -
        dec(col(r), 9) * dec(col("c_tot"), 9), 19)
      val num = diff * diff
      val den = dec(dec(col("n_tot"), 12) * dec(col(r), 12), 24) * dec(col("c_tot"), 14)
      when(col(r) > 0 && col("c_tot") > 0,
        num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    }
    withTot
      .withColumn("chi2_cell", term("n_a", "r_a") + term("n_b", "r_b"))
      .withColumn("expected_a",
        when(col("n_tot") > 0,
          (dec(col("r_a"), 12) * dec(col("c_tot"), 12)).cast("double") /
            col("n_tot").cast("double")))
      .select(col(catCol), col("n_a"), col("n_b"), col("expected_a"),
        col("chi2_cell"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic — the numeric-drift
    * complement of [[chi2Drift]]'s categorical test: D = max over distinct
    * values v of |F₁(v) − F₂(v)|, reported as the SCALED INTEGER
    * d_scaled = max |rank₁(v)·n₂ − rank₂(v)·n₁| (divide by n₁·n₂ for the
    * classical D; the integer form is exact, associative, and
    * hash-checkable — the float CDF difference is not). Also returns the
    * smallest value attaining the max.
    *
    * Scale shape — the [[selectRanks]] two-phase discipline applied to a
    * running-rank problem (a naive `sum() OVER (ORDER BY v)` is a
    * SINGLE-PARTITION global sort, the plan this repo bans): per-value
    * side counts aggregate once; each distinct value maps to an
    * equi-width bucket (floor is monotone ⇒ bucketing refines the value
    * order); per-bucket count sums come to the driver (≤ `buckets` rows)
    * and a prefix scan fixes each bucket's EXCLUSIVE base ranks; then the
    * inclusive running ranks complete WITHIN each bucket — windows
    * partitioned by bucket, parallel across buckets, no task ever sees
    * more than ≈ distinct/buckets values. Global TakeOrdered picks the
    * max deviation (ties to the smallest value).
    *
    * NULL values are excluded per side. Both sides must be non-empty.
    * Exactness bound: |rank·n| ≤ n₁·n₂ must fit a BIGINT — holds to ~3·10⁹
    * rows per side. Output: one row (n1, n2, d_scaled, at_value). */
  /** PER-GROUP exact KS — "which segment drifted": [[ksStatistic]] run for
    * every group at once, the [[thresholdsByGroup]] discipline (groups ride
    * the bucket key; group cardinality driver-bounded — ≤ groups·buckets
    * summary rows collect). Groups with an empty side have no two-sample
    * statistic and are OMITTED (mirror of thresholdsByGroup's NULL-group
    * exclusion; NULL groups/values excluded too). The per-group max is
    * located sort-free: per-(group, bucket) deviations → one grouped max →
    * broadcast-join filter → min value among the ties. Output: one row per
    * comparable group — (groupCol as string, n1, n2, d_scaled, at_value).
    *
    * Driver bound: unlike [[thresholdsByGroup]] (whose collect is
    * groups-only), the phase-A summary here is groups·buckets rows — at
    * the default 1024 buckets a million-group column would collect a
    * billion rows. So the bucket count SCALES DOWN as groups grow
    * ([[ksEffectiveBuckets]]): the collected summary never exceeds
    * ~[[KsMaxDriverRows]] rows regardless of group cardinality. Fewer
    * buckets only narrows phase-B parallelism (more values per in-bucket
    * window), never the result — bucketing is a pure partitioning of the
    * value order. */
  def ksStatisticByGroup(df1: DataFrame, col1: String, df2: DataFrame, col2: String,
      groupCol: String, buckets: Int = 1024): DataFrame = CacheScope.pass {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def side(df: DataFrame, c: String, one: Int) =
      df.select(col(groupCol).cast("string").as("g"), col(c).cast("double").as("v"))
        .where(col("g").isNotNull && col("v").isNotNull)
        .select(col("g"), col("v"), lit(1L - one).as("c1"), lit(one.toLong).as("c2"))
    ksByGroupFromSides(df1.sparkSession,
      side(df1, col1, 0).union(side(df2, col2, 1)), groupCol, buckets)
  }

  /** ONE-SCAN two-sample variant of [[ksStatisticByGroup]]: both samples
    * arrive in a single frame with a boolean side expression (`side2` —
    * false ⇒ sample 1, true ⇒ sample 2) instead of two frames. The
    * two-frame form evaluates its input ONCE PER SIDE — when both samples
    * slice the same table (the standard drift shape: segment vs rest,
    * today vs yesterday), that is two full scans of the same source where
    * one suffices; here the per-(group, value) side counts come from one
    * scan with the side folded into the conditional sums, and every later
    * phase (bucketing, driver prefix scan, in-bucket running ranks, max
    * deviation) consumes only those counts, so the output is IDENTICAL to
    * `ksStatisticByGroup(df.where(!side2), c, df.where(side2), c, g)`
    * (guide §1.2/§2.3: remove a full input pass before touching anything
    * else). Rows where `side2` is NULL belong to neither sample and are
    * dropped, mirroring the two-frame form where such rows appear in
    * neither input. */
  def ksStatisticByGroupTagged(df: DataFrame, valueCol: String,
      groupCol: String, side2: Column, buckets: Int = 1024): DataFrame =
    CacheScope.pass {
      require(buckets > 0, s"buckets must be positive, got $buckets")
      val tagged = df
        .select(col(groupCol).cast("string").as("g"),
          col(valueCol).cast("double").as("v"), side2.as("__s2"))
        .where(col("g").isNotNull && col("v").isNotNull && col("__s2").isNotNull)
        .select(col("g"), col("v"),
          when(col("__s2"), lit(0L)).otherwise(lit(1L)).as("c1"),
          when(col("__s2"), lit(1L)).otherwise(lit(0L)).as("c2"))
      ksByGroupFromSides(df.sparkSession, tagged, groupCol, buckets)
    }

  /** Shared tail of the per-group KS: everything after the per-row side
    * tagging. `sides` is (g, v, c1, c2) with c1/c2 ∈ {0, 1} one-hot. */
  private def ksByGroupFromSides(spark: org.apache.spark.sql.SparkSession,
      sides: DataFrame, groupCol: String, buckets: Int): DataFrame = {
    import spark.implicits._
    val perV = CacheScope.persist(
      sides.groupBy("g", "v").agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2")))
    val stats = perV.groupBy("g")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .filter { case (_, _, _, n1, n2) => n1 > 0 && n2 > 0 }
    if (stats.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Double)]
        .toDF(groupCol, "n1", "n2", "d_scaled", "at_value")
    val bstats = stats.toSeq
      .map { case (g, mn, mx, n1, n2) => (g, mn, mx, n1, n2) }
      .toDF("g", "__mn", "__mx", "__n1", "__n2")
    val effBuckets = ksEffectiveBuckets(buckets, stats.length)
    val width = (col("__mx") - col("__mn")) / lit(effBuckets.toDouble)
    val bucketCol = when(col("__mx") === col("__mn"), lit(0L)).otherwise(
      greatest(least(floor((col("v") - col("__mn")) / width),
        lit((effBuckets - 1).toDouble)), lit(0.0)).cast("long"))
    val bucketed = CacheScope.persist(
      perV.join(broadcast(bstats), Seq("g")).withColumn("__b", bucketCol))
    val perBucket = bucketed.groupBy("g", "__b")
      .agg(sum(col("c1")).as("s1"), sum(col("c2")).as("s2"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val offsets = perBucket.toSeq.flatMap { case (g, rows) =>
      var (a1, a2) = (0L, 0L)
      rows.sortBy(_._2).map { case (_, b, s1, s2) =>
        val o = (g, b, a1, a2); a1 += s1; a2 += s2; o
      }
    }.toDF("g", "__b", "o1", "o2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g", "__b").orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val dev = CacheScope.persist(
      bucketed.join(broadcast(offsets), Seq("g", "__b"))
        .withColumn("__r1", col("o1") + sum(col("c1")).over(w))
        .withColumn("__r2", col("o2") + sum(col("c2")).over(w))
        .select(col("g"), col("v"), col("__n1"), col("__n2"),
          abs(col("__r1") * col("__n2") - col("__r2") * col("__n1")).as("d")))
    val dmax = dev.groupBy("g").agg(max(col("d")).as("__dmax"))
    dev.join(broadcast(dmax), Seq("g"))
      .where(col("d") === col("__dmax"))
      .groupBy("g")
      .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
        max(col("d")).as("d_scaled"), min(col("v")).as("at_value"))
      .select(col("g").as(groupCol), col("n1"), col("n2"),
        col("d_scaled"), col("at_value"))
  }

  /** Cap on the phase-A rows [[ksStatisticByGroup]] collects to the driver
    * (per-(group, bucket) side counts): ~4M rows ≈ tens of MB of longs —
    * comfortable on any driver, and the prefix scan over them is O(rows). */
  private[graft] val KsMaxDriverRows: Long = 4L << 20

  /** Buckets per group such that groups·buckets ≤ [[KsMaxDriverRows]],
    * floored at 1 (single-bucket KS is still exact — phase B just runs one
    * window per group). */
  private[graft] def ksEffectiveBuckets(buckets: Int, groups: Int): Int =
    math.max(1, math.min(buckets.toLong,
      KsMaxDriverRows / math.max(groups, 1)).toInt)

  def ksStatistic(df1: DataFrame, col1: String, df2: DataFrame, col2: String,
      buckets: Int = 1024): DataFrame = CacheScope.pass {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def side(df: DataFrame, c: String, one: Int) =
      df.select(col(c).cast("double").as("v")).where(col("v").isNotNull)
        .select(col("v"), lit(1L - one).as("c1"), lit(one.toLong).as("c2"))
    ksFromSides(df1.sparkSession, side(df1, col1, 0).union(side(df2, col2, 1)),
      buckets)
  }

  /** ONE-SCAN two-sample variant of [[ksStatistic]] — the [[
    * ksStatisticByGroupTagged]] contract without the group: both samples in
    * one frame, `side2` false ⇒ sample 1 / true ⇒ sample 2 / NULL ⇒ neither,
    * output IDENTICAL to
    * `ksStatistic(df.where(!side2), c, df.where(side2), c)` at half the
    * input scans when both samples slice the same source (guide §1.2/§2.3). */
  def ksStatisticTagged(df: DataFrame, valueCol: String, side2: Column,
      buckets: Int = 1024): DataFrame = CacheScope.pass {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val tagged = df
      .select(col(valueCol).cast("double").as("v"), side2.as("__s2"))
      .where(col("v").isNotNull && col("__s2").isNotNull)
      .select(col("v"),
        when(col("__s2"), lit(0L)).otherwise(lit(1L)).as("c1"),
        when(col("__s2"), lit(1L)).otherwise(lit(0L)).as("c2"))
    ksFromSides(df.sparkSession, tagged, buckets)
  }

  /** Shared tail of the global KS: everything after the per-row side
    * tagging. `sides` is (v, c1, c2) with c1/c2 ∈ {0, 1} one-hot. */
  private def ksFromSides(spark: org.apache.spark.sql.SparkSession,
      sides: DataFrame, buckets: Int): DataFrame = {
    import spark.implicits._
    val perV = CacheScope.persist(
      sides.groupBy("v").agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2")))
    val mm = perV.agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2")).first()
    require(!mm.isNullAt(0), "ksStatistic: both inputs are empty")
    val (mn, mx, n1, n2) = (mm.getDouble(0), mm.getDouble(1), mm.getLong(2), mm.getLong(3))
    require(n1 > 0 && n2 > 0, s"ksStatistic needs non-empty sides, got ($n1, $n2)")
    // bucket by value range (selectRanks' NaN/Inf-safe clamped floor)
    val width = (mx - mn) / buckets.toDouble
    val bucketCol =
      if (mx == mn) lit(0L)
      else greatest(least(floor((col("v") - lit(mn)) / lit(width)),
        lit((buckets - 1).toDouble)), lit(0.0)).cast("long")
    val bucketed = CacheScope.persist(perV.withColumn("__b", bucketCol))
    // phase A: per-bucket side counts → driver prefix scan → exclusive bases
    val perBucket = bucketed.groupBy("__b")
      .agg(sum(col("c1")).as("s1"), sum(col("c2")).as("s2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var (acc1, acc2) = (0L, 0L)
    val offsets = perBucket.map { case (b, s1, s2) =>
      val o = (b, acc1, acc2); acc1 += s1; acc2 += s2; o
    }.toSeq.toDF("__b", "o1", "o2")
    // phase B: inclusive running ranks within each bucket, parallel across
    // buckets; deviation is exact integer arithmetic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    bucketed.join(broadcast(offsets), Seq("__b"))
      .withColumn("__r1", col("o1") + sum(col("c1")).over(w))
      .withColumn("__r2", col("o2") + sum(col("c2")).over(w))
      .select(col("v"),
        abs(col("__r1") * lit(n2) - col("__r2") * lit(n1)).as("d"))
      .orderBy(col("d").desc, col("v").asc)
      .limit(1)
      .select(lit(n1).as("n1"), lit(n2).as("n2"),
        col("d").as("d_scaled"), col("v").as("at_value"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{CompareFunctions, CompareOpts, ComparatorPipeline, TypeClasses}

/** Compare two DataFrames joined on null-safe keys, producing unique-row
  * slices, per-column match statistics, mismatch samples, and reports.
  *
  * Semantics follow the reference (datacompy/spark.py:86-990) exactly;
  * the *plans* are redesigned Spark-first for scale:
  *
  *   - ONE shuffle builds the merged full outer join: both inputs are
  *     unioned and hashed once by the join keys, and windows over that one
  *     partitioning rank duplicate keys and pair the k-th row of a key group
  *     on one side with the k-th on the other (reference: temp views + a SQL
  *     join on `<=>` keys, spark.py:450-466, after a monotonic-id +
  *     self-join rank per input, spark.py:388-412, and two null/sentinel
  *     probe jobs per input, spark.py:1136-1147 — a window partition already
  *     groups NULL keys the way `<=>` matches them). No probe of the data
  *     runs first: the plan does not depend on it. See [[pairedByRank]].
  *   - `assumeKeysUnique = Some(true)` plans a plain sort-merge join on the
  *     keys instead, with no window (the exchange-free bucketed compare,
  *     `graft.sources.Bucketing`, relies on it).
  *   - ALL statistics — per-column match counts, null diffs, max diffs, the
  *     all-columns-match row count, AND the merge-slice counts — are fused
  *     into one single-pass aggregation over the join (reference runs one
  *     agg for match counts, spark.py:573-578, plus TWO separate jobs per
  *     column for max_diff/null_diff, spark.py:1026-1111, another full-scan
  *     filter for count_matching_rows, spark.py:659-679, and per-slice
  *     counts, spark.py:524-531 — O(columns) scans).
  *   - Because the pairing is 1:1, `count(df1) = both + left_only` — input
  *     row counts cost no extra scan at all (reference counts each input and
  *     each slice, spark.py:524-531).
  *   - Every count is memoized; nothing is ever recounted.
  *   - Every sample the report shows (up to `sampleCount` mismatching rows
  *     per mismatching column, and the first rows of each unique-row slice)
  *     comes from ONE query: two jobs however many columns mismatch
  *     (reference: one `limit` job per column and per slice,
  *     spark.py:720-777). See [[sampleTables]].
  *   - A report on a compare nothing has read yet runs the stats pass and
  *     the sample query as ONE query over the uncached join: its two
  *     branches share the input exchange, and no cache is written. Every
  *     other reader goes through [[mergedCached]].
  *
  * At 100 TB the dominant costs are the input scans, the one shuffle of
  * both inputs, and the one stats pass over the join — all O(data), none
  * O(columns × data).
  */
class SparkCompare(
    val spark: SparkSession,
    df1Input: DataFrame,
    df2Input: DataFrame,
    val config: CompareConfig,
    parent: Option[SparkCompare] = None) {

  val joinColumns: Seq[String] = config.normalizedJoinColumns
  private val joinSet = joinColumns.toSet
  private val n1 = config.df1Name
  private val n2 = config.df2Name

  /** Normalised inputs (lowercased names, validated). Reference:
    * datacompy/spark.py:273-332. */
  val df1: DataFrame = normalize(df1Input, n1)
  val df2: DataFrame = normalize(df2Input, n2)

  private def normalize(df: DataFrame, which: String): DataFrame = {
    val named =
      if (config.castColumnNamesLower) df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
      else df
    val cols = named.columns
    val dups = cols.groupBy(identity).collect { case (c, a) if a.length > 1 => c }
    require(dups.isEmpty,
      s"$which has duplicate column names after normalization: ${dups.mkString(", ")}")
    val missing = joinColumns.filterNot(cols.contains)
    require(missing.isEmpty, s"$which is missing join columns: ${missing.mkString(", ")}")
    named
  }

  // Per-column tolerance keys must name a real column — a typo'd key would
  // otherwise silently compare at the default tolerance
  // (reference: datacompy/base.py:758-829 rejects malformed tolerance dicts).
  locally {
    val known = (df1.columns ++ df2.columns).map(_.toLowerCase).toSet
    for ((spec, name) <- Seq((config.absTol, "abs_tol"), (config.relTol, "rel_tol"));
        k <- spec.perColumn.keys if !known.contains(k))
      throw new IllegalArgumentException(
        s"$name has a tolerance for column '$k', which exists in neither DataFrame")
  }

  // ---- column sets (ordered, driver-side; reference spark.py:365-375) ----
  def df1UnqColumns: Seq[String] = df1.columns.toSeq.diff(df2.columns.toSeq)
  def df2UnqColumns: Seq[String] = df2.columns.toSeq.diff(df1.columns.toSeq)
  def intersectColumns: Seq[String] = df1.columns.toSeq.intersect(df2.columns.toSeq)
  def allColumnsMatch: Boolean = df1UnqColumns.isEmpty && df2UnqColumns.isEmpty
  /** Reference: datacompy/base.py:463-465. */
  def onlyJoinColumns: Boolean =
    df1UnqColumns.isEmpty && df2UnqColumns.isEmpty && intersectColumns.toSet == joinSet
  private val compareColumns: Seq[String] = intersectColumns.filterNot(joinSet)

  /** True when the merged join pairs rows by a per-key-group rank (every
    * compare except one whose keys are promised unique). */
  private def pairsByRank: Boolean = !config.assumeKeysUnique.contains(true)

  /** The outer join is 1:1 (see [[merged]]), so the input row counts are
    * slice arithmetic over the one stats pass: no input re-scan. */
  lazy val df1Count: Long = sliceCounts._1 + sliceCounts._2
  lazy val df2Count: Long = sliceCounts._1 + sliceCounts._3
  /** The `assumeKeysUnique` hint when given; otherwise whether any key
    * group holds more than one row on either side (a pairing rank above 0),
    * read from the stats pass. */
  lazy val anyDupes: Boolean =
    config.assumeKeysUnique.map(!_).getOrElse(statLong("__graft_max_rank") > 0)

  /** Internal rank column of the merged join; no public frame shows it. */
  private val rankCol: String = Utils.tempColumnName(df1, df2)

  private val leftFlag = "_merge_left"
  private val rightFlag = "_merge_right"

  /** A join key as the join compares it: string keys trimmed under
    * `ignoreSpaces`. */
  private def keyValue(df: DataFrame, k: String): Column =
    if (config.ignoreSpaces && TypeClasses.isStringLike(df.schema(k).dataType)) trim(col(k))
    else col(k)

  /** The merged full outer join: one row per df1 row and per unpaired df2
    * row, `{col}_{df1Name}` then `_merge_left`, `{col}_{df2Name}` then
    * `_merge_right`, then `_merge` (reference: spark.py:429-484). */
  private lazy val merged: DataFrame = parent.map(_.merged).getOrElse(
    if (pairsByRank) pairedByRank else uniqueKeyJoin)

  /** Under `assumeKeysUnique = Some(true)`: a plain sort-merge join on the
    * keys, no window. `===` when the keys are non-nullable or promised
    * NULL-free: `<=>` partitions on (coalesce(k), isnull(k)) tuples, which a
    * bucketed scan's partitioning does not satisfy (see `Bucketing`). */
  private def uniqueKeyJoin: DataFrame = {
    def suffixed(df: DataFrame, n: String, flag: String) = df.select(
      df.columns.toIndexedSeq.map(c => (if (joinSet(c)) keyValue(df, c) else col(c)).as(s"${c}_$n")) :+
        lit(true).as(flag): _*)
    val nullFree = config.assumeKeysNullFree.contains(true)
    val cond = joinColumns.map { k =>
      val (k1, k2) = (col(s"${k}_$n1"), col(s"${k}_$n2"))
      if (nullFree || (!df1.schema(k).nullable && !df2.schema(k).nullable)) k1 === k2
      else k1 <=> k2
    }.reduce(_ && _)
    suffixed(df1, n1, leftFlag).join(suffixed(df2, n2, rightFlag), cond, "full_outer")
      .withColumn("_merge",
        when(col(leftFlag) === true && col(rightFlag).isNull, "left_only")
          .when(col(leftFlag).isNull && col(rightFlag) === true, "right_only")
          .otherwise("both"))
  }

  /** Rank-paired outer join from ONE shuffle (reference: spark.py:388-484,
    * 1114-1170, which ranks each input with an id + self-join and joins on
    * keys ++ rank). Both inputs are unioned and hashed once by the join
    * keys; every window below partitions by those keys only, so Spark plans
    * one Exchange, over the union, and no join.
    *
    *   - A union row holds the keys at top level, a side tag, the input's
    *     `monotonically_increasing_id` (its scan order), df1's non-key
    *     columns flat (NULL on df2 rows) and df2's in one struct (NULL on
    *     df1 rows). A window partition groups NULL keys the way `<=>`
    *     matches them, and key types that differ widen as the union widens
    *     them, which is the type `===` compares them at (strings against
    *     other types outside ANSI mode cast as the comparison casts them).
    *   - Rank: position in (side, id) order within the key group, df2's
    *     counted after the group's df1 rows, so the k-th duplicate on one
    *     side pairs with the k-th on the other.
    *   - Pairing, in (rank, side) order: a df1 row takes the next row's
    *     struct when that row is the df2 row of its rank, and that df2 row
    *     is dropped. Each rank has at most one row a side, so the result is
    *     1:1 by construction.
    *   - The flags, `_merge` and each side's copy of a key are derived after
    *     the pairing. A df2 key crosses the shuffle a second time (in the
    *     struct) only where the value the window groups by may differ from
    *     it: key types that differ, and key types whose equal values can
    *     differ (floating point, collated strings).
    *
    * Within a reduce partition rows come out sorted by (keys, rank), as
    * the sort-merge join on keys ++ rank gave them. */
  private def pairedByRank: DataFrame = {
    val side = "__graft_side"
    val struct2 = "__graft_r"
    // `slot`: the key's top-level union column. `differ`: its type differs
    // between the inputs, so each input's own value rides along (df1's
    // flat, df2's in the struct). `inStruct`: df2's value rides in the
    // struct, also where equal values of its type can differ.
    final case class Key(name: String, slot: String, differ: Boolean, cast: Option[DataType]) {
      def inStruct: Boolean = differ || !SparkCompare.equalIsIdentical(df2.schema(name).dataType)
    }
    val keyed = joinColumns.zipWithIndex.map { case (k, i) =>
      val (t1, t2) = (df1.schema(k).dataType, df2.schema(k).dataType)
      Key(k, s"__graft_k$i", t1 != t2, SparkCompare.compareCast(spark, t1, t2))
    }
    def input(df: DataFrame, tag: Int, rest: Seq[Column]) = df.select(
      keyed.map(k => k.cast.fold(keyValue(df, k.name))(keyValue(df, k.name).cast(_)).as(k.slot)) ++
        Seq(lit(tag).as(side), monotonically_increasing_id().as("__graft_id")) ++ rest: _*)
    val rest2 = df2.columns.toSeq.flatMap(c => keyed.find(_.name == c) match {
      case Some(k) => Option.when(k.inStruct)(keyValue(df2, c).as(c))
      case None => Some(col(c))
    })
    val left = input(df1, 0,
      keyed.filter(_.differ).map(k => keyValue(df1, k.name).as(s"${k.name}_$n1")) ++
        df1.columns.filterNot(joinSet).map(c => col(c).as(s"${c}_$n1")))
    val right = input(df2, 1, Option.when(rest2.nonEmpty)(struct(rest2: _*).as(struct2)).toSeq)
    val keys = keyed.map(k => col(k.slot))
    val rank = col(rankCol)
    val byArrival = Window.partitionBy(keys: _*).orderBy(side, "__graft_id")
    // Group size less its df2 rows: aggregates of the tag itself, so no
    // helper column is computed below the exchange.
    val group = byArrival.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val df1Rows = count(lit(1)).over(group) - sum(col(side)).over(group)
    val byRank = Window.partitionBy(keys: _*).orderBy(rankCol, side)
    val paired = left.unionByName(right, allowMissingColumns = true)
      .withColumn(rankCol,
        row_number().over(byArrival) - 1 - when(col(side) === 1, df1Rows).otherwise(0L))
      .select(Seq(col("*"),
        coalesce(lead(rank, 1).over(byRank) === rank, lit(false)).as("__graft_paired"),
        lag(rank, 1).over(byRank).as("__graft_prev")) ++
        Option.when(rest2.nonEmpty)(lead(col(struct2), 1).over(byRank).as("__graft_p")): _*)
      .where(col(side) === 0 || !(col("__graft_prev") <=> rank))
    val isLeft = col(side) === 0
    val hasRight = !isLeft || col("__graft_paired")
    val row2 = when(isLeft, col("__graft_p")).otherwise(col(struct2))
    val out1 = df1.columns.toSeq.map(c => keyed.find(k => k.name == c && !k.differ)
      .fold(col(s"${c}_$n1"))(k => when(isLeft, col(k.slot)).as(s"${c}_$n1")))
    val out2 = df2.columns.toSeq.map(c => keyed.find(k => k.name == c && !k.inStruct)
      .fold(row2.getField(c))(k => when(hasRight, col(k.slot))).as(s"${c}_$n2"))
    paired.select(out1 ++ Seq(when(isLeft, true).as(leftFlag)) ++ out2 ++ Seq(
      when(hasRight, true).as(rightFlag),
      when(!isLeft, "right_only").when(col("__graft_paired"), "both").otherwise("left_only").as("_merge"),
      rank): _*)
  }

  /** Owns the cached join; the root's is shared with every tolerance
    * variant derived from it. */
  private val scope: CacheScope = parent.fold(new CacheScope)(_.scope)

  /** The merged outer join, persisted into [[scope]] when
    * cacheIntermediates, for the readers that read it again: the derived
    * frames (intersection, both unique-row slices, `sampleMismatch`,
    * `allMismatch`), a stats pass read on its own, and tolerance variants,
    * which share it by reference. The first of them to run an action fills
    * it. A report on a compare nothing has read yet never forces it (see
    * [[sampleTables]]), so the CLI's one report writes no cache. (The
    * reference caches only intersect_rows, spark.py:532-535 — its
    * unique-row slices re-run the join per action.) */
  private lazy val mergedCached: DataFrame = parent.map(_.mergedCached).getOrElse(
    if (config.cacheIntermediates) scope.persist(merged) else merged)

  /** left_only / right_only / both counts, folded into the single stats
    * pass ([[statsRow]] aggregates the whole cached join with `_merge`
    * guards). The outer join is 1:1, so these slice counts reconstruct the
    * input row counts with no input re-scan. */
  private lazy val sliceCounts: (Long, Long, Long) = parent.map(_.sliceCounts).getOrElse(
    (statLong("__graft_cnt"), statLong("__graft_left"), statLong("__graft_right")))

  // ---- sensitive-column masking (reference: spark.py:224-271) ----
  // The reference destructively overwrites the derived frames and must re-run
  // the whole comparison on reveal; here the mask is an overlay projection on
  // the accessors, so reveal is free and statistics stay computed on real
  // values either way.
  private var maskedColumns: Set[String] = Set.empty

  def sensitiveColumns: Seq[String] = maskedColumns.toSeq.sorted

  def hideSensitiveColumns(columns: Seq[String]): Unit = {
    if (maskedColumns.nonEmpty)
      throw new IllegalStateException(
        "sensitive columns are already hidden, call revealSensitiveColumns() first")
    val normalized =
      if (config.castColumnNamesLower) columns.map(_.toLowerCase) else columns
    val dups = normalized.groupBy(identity).collect { case (c, a) if a.length > 1 => c }
    require(dups.isEmpty, s"duplicate columns: ${dups.mkString(", ")}")
    maskedColumns = normalized.toSet
  }

  def revealSensitiveColumns(): Unit = maskedColumns = Set.empty

  private val MaskValue = "*******"

  /** Overlay projection replacing masked columns with the mask literal while
    * preserving column order; identity when nothing is masked. */
  private def applyMask(df: DataFrame, maskNames: Set[String]): DataFrame =
    if (maskedColumns.isEmpty || !df.columns.exists(maskNames)) df
    else df.select(df.columns.map { c =>
      if (maskNames(c)) lit(MaskValue).as(c) else col(c)
    }.toIndexedSeq: _*)

  private def suffixedMaskNames: Set[String] =
    maskedColumns | maskedColumns.map(c => s"${c}_$n1") | maskedColumns.map(c => s"${c}_$n2")

  /** Rows only in df1, with df1's original columns and names (spark.py:510-516). */
  def df1UnqRows: DataFrame = applyMask(df1UnqRowsBase, maskedColumns)
  private lazy val df1UnqRowsBase: DataFrame =
    mergedCached
      .filter(col("_merge") === "left_only")
      .select(df1.columns.map(c => col(s"${c}_$n1").as(c)).toIndexedSeq: _*)

  /** Rows only in df2 (spark.py:518-524). */
  def df2UnqRows: DataFrame = applyMask(df2UnqRowsBase, maskedColumns)
  private lazy val df2UnqRowsBase: DataFrame =
    mergedCached
      .filter(col("_merge") === "right_only")
      .select(df2.columns.map(c => col(s"${c}_$n2").as(c)).toIndexedSeq: _*)

  /** Intersection with match columns, mask-aware (suffixed names). */
  def intersectRows: DataFrame = applyMask(intersectRowsBase, suffixedMaskNames)

  /** The tolerance-independent filtered intersection, read from the cached
    * join. Match expressions are cheap codegen'd comparisons recomputed per
    * action, while the join that produces these rows is the expensive part —
    * so tolerance variants derived via [[withTolerances]] share one
    * materialization instead of re-running the join per tolerance
    * configuration. */
  private lazy val intersectBase: DataFrame =
    mergedCached.filter(col("_merge") === "both").drop(rankCol)

  /** One boolean `{col}_match` expression per compared column, bound
    * against `df` — used by both the sampled-rows projection and the fused
    * stats pass, so the two can never disagree on comparator options. */
  private def matchColumns(df: DataFrame): Seq[Column] =
    compareColumns.map { c =>
      val opts = CompareOpts(
        absTol = config.absTol.forColumn(c),
        relTol = config.relTol.forColumn(c),
        ignoreSpaces = config.ignoreSpaces,
        ignoreCase = config.ignoreCase)
      ComparatorPipeline
        .columnsEqual(df, s"${c}_$n1", s"${c}_$n2", opts, config.customComparators)
        .as(s"${c}_match")
    }

  /** Intersection with one boolean `{col}_match` per compared column,
    * appended in a single projection (spark.py:528-570). */
  private lazy val intersectRowsBase: DataFrame =
    intersectBase.select(
      intersectBase.columns.map(col).toIndexedSeq ++ matchColumns(intersectBase): _*)

  /** A comparison over the same frames and join with different tolerances.
    * The derived instance shares the merged outer join and the cached
    * intersection — only the match expressions (and the
    * statistics computed from them) are rebuilt, so the marginal cost of an
    * extra tolerance configuration is one aggregation pass over cached
    * data, not a re-join. `unpersist()` on either instance releases the
    * shared cache. */
  def withTolerances(absTol: ToleranceSpec, relTol: ToleranceSpec = ToleranceSpec.Zero): SparkCompare =
    new SparkCompare(spark, df1Input, df2Input,
      config.copy(absTol = absTol, relTol = relTol), Some(this))

  /** Like [[withTolerances]] for the other match-only settings: ignore
    * flags and custom comparators. Safe to share the join because
    * comparators never touch it — EXCEPT `ignoreSpaces`, which also trims
    * STRING join keys pre-join; changing it is rejected when any join
    * column is string-typed (the derived join would differ). */
  def withMatchSettings(
      ignoreSpaces: Boolean = config.ignoreSpaces,
      ignoreCase: Boolean = config.ignoreCase,
      customComparators: Seq[graft.functions.Comparator] = config.customComparators): SparkCompare = {
    if (ignoreSpaces != config.ignoreSpaces) {
      val stringKeys = joinColumns.filter(k =>
        TypeClasses.isStringLike(df1.schema(k).dataType) ||
          TypeClasses.isStringLike(df2.schema(k).dataType))
      require(stringKeys.isEmpty,
        s"cannot change ignoreSpaces on a shared join: string join columns ${stringKeys.mkString(", ")} are trimmed pre-join")
    }
    new SparkCompare(spark, df1Input, df2Input,
      config.copy(ignoreSpaces = ignoreSpaces, ignoreCase = ignoreCase,
        customComparators = customComparators), Some(this))
  }

  // Field names inside the fused stats row.
  private def fMatch(c: String) = s"__match_$c"
  private def fNullDiff(c: String) = s"__nulldiff_$c"
  private def fMaxDiff(c: String) = s"__maxdiff_$c"

  /** The merged columns [[statsFrame]] reads without `alsoReads`. */
  private def statsReads: Set[String] =
    Set("_merge") ++ Option.when(pairsByRank)(rankCol) ++
      compareColumns.flatMap(c => Seq(s"${c}_$n1", s"${c}_$n2"))

  /** THE single-pass statistics aggregation (see class doc): one scan of
    * `src` computes the per-column match counts, null diffs, max diffs, the
    * all-columns-match row count, AND the three merge-slice counts — every
    * `_merge != 'both'` row only feeds the slice tallies via the `isBoth`
    * guards. `alsoReads` adds a `count` of each named merged column, which
    * nothing reads back: it only makes the aggregate reference them. */
  private def statsFrame(src: DataFrame, alsoReads: Seq[String] = Nil): DataFrame = {
    val isBoth = col("_merge") === "both"
    val perCol = compareColumns.flatMap { c =>
      val c1 = col(s"${c}_$n1")
      val c2 = col(s"${c}_$n2")
      val matchExpr =
        sum(when(isBoth && col(s"${c}_match") === true, 1L).otherwise(0L)).as(fMatch(c))
      // XOR-null count (reference: spark.py:1070-1111, one job per column).
      val nullDiffExpr =
        sum(when(isBoth && (c1.isNull =!= c2.isNull), 1L).otherwise(0L)).as(fNullDiff(c))
      // Max |a-b| over the intersection (reference: spark.py:1026-1067,
      // one job per column).
      val maxDiffExpr = CompareFunctions.maxDiff(
        c1, df1.schema(c).dataType, c2, df2.schema(c).dataType, Some(isBoth))
      Seq(matchExpr, nullDiffExpr) ++ maxDiffExpr.map(_.as(fMaxDiff(c)))
    }
    val allMatchCond =
      if (compareColumns.isEmpty) lit(true)
      else compareColumns.map(c => col(s"${c}_match") === true).reduce(_ && _)
    val exprs = Seq(
      sum(when(isBoth, 1L).otherwise(0L)).as("__graft_cnt"),
      sum(when(col("_merge") === "left_only", 1L).otherwise(0L)).as("__graft_left"),
      sum(when(col("_merge") === "right_only", 1L).otherwise(0L)).as("__graft_right"),
      sum(when(isBoth && allMatchCond, 1L).otherwise(0L)).as("__graft_all_match")) ++
      Option.when(pairsByRank)(max(col(rankCol)).as("__graft_max_rank")) ++ perCol ++
      alsoReads.zipWithIndex.map { case (c, i) => count(col(c)).as(s"__graft_reads$i") }
    withMatch(src).agg(exprs.head, exprs.tail: _*)
  }

  private var statsMemo: Option[Row] = None

  /** The one stats row: filled by a fresh report's fused query (see
    * [[sampleTables]]), or else by its own pass over the cached join. */
  private def statsRow: Row = synchronized {
    statsMemo.getOrElse {
      val row = statsFrame(mergedCached).first()
      statsMemo = Some(row)
      row
    }
  }

  /** `src` (the merged join) plus one `{col}_match` per compared column,
    * over every slice (the `_merge` guards pick the rows each reader
    * wants). */
  private def withMatch(src: DataFrame): DataFrame =
    src.select(src.columns.map(col).toIndexedSeq ++ matchColumns(src): _*)

  private def statLong(name: String): Long = {
    val i = statsRow.fieldIndex(name)
    if (statsRow.isNullAt(i)) 0L else statsRow.getLong(i)
  }
  private def statMaxDiff(c: String): Double = {
    val idx = try Some(statsRow.fieldIndex(fMaxDiff(c))) catch { case _: IllegalArgumentException => None }
    idx.fold(0.0)(CompareFunctions.maxDiffValue(statsRow, _))
  }

  lazy val intersectCount: Long = statLong("__graft_cnt")
  /** 1:1 join ⇒ unique counts are pure arithmetic (see class doc). */
  lazy val df1UnqCount: Long = sliceCounts._2
  lazy val df2UnqCount: Long = sliceCounts._3

  /** Per-column stats in intersect-column order (spark.py:582-636). */
  lazy val columnStats: Seq[ColumnStat] = {
    intersectColumns.map { c =>
      val dtype1 = df1.schema(c).dataType.simpleString
      val dtype2 = df2.schema(c).dataType.simpleString
      if (joinSet.contains(c)) {
        val rowCnt =
          if (!onlyJoinColumns) intersectCount
          else intersectCount + df1UnqCount + df2UnqCount
        ColumnStat(
          column = c, matchColumn = "", matchCnt = intersectCount,
          unequalCnt = rowCnt - intersectCount,
          dtype1 = dtype1, dtype2 = dtype2,
          allMatch = dtype1 == dtype2 && rowCnt == intersectCount,
          maxDiff = 0.0, nullDiff = 0L,
          relTol = config.relTol.forColumn(c), absTol = config.absTol.forColumn(c))
      } else {
        val matchCnt = statLong(fMatch(c))
        ColumnStat(
          column = c, matchColumn = s"${c}_match", matchCnt = matchCnt,
          unequalCnt = intersectCount - matchCnt,
          dtype1 = dtype1, dtype2 = dtype2,
          allMatch = dtype1 == dtype2 && intersectCount == matchCnt,
          maxDiff = statMaxDiff(c), nullDiff = statLong(fNullDiff(c)),
          relTol = config.relTol.forColumn(c), absTol = config.absTol.forColumn(c))
      }
    }
  }

  // ---- predicates (spark.py:638-718) ----
  def allRowsOverlap: Boolean = df1UnqCount == 0 && df2UnqCount == 0
  /** Fused into the stats pass (reference re-scans, spark.py:659-679). */
  def countMatchingRows: Long =
    if (compareColumns.isEmpty) intersectCount else statLong("__graft_all_match")
  def intersectRowsMatch: Boolean =
    intersectCount > 0 && countMatchingRows == intersectCount
  def matches(ignoreExtraColumns: Boolean = false): Boolean =
    (ignoreExtraColumns || allColumnsMatch) && allRowsOverlap && intersectRowsMatch
  def subset: Boolean =
    df2UnqColumns.isEmpty && df2UnqCount == 0 && intersectRowsMatch
  def columnsWithMismatches: Seq[String] =
    columnStats.filter(_.unequalCnt > 0).map(_.column)

  // ---- samples (spark.py:720-867) ----

  /** Sample rows where `column` mismatches: join keys + both versions.
    * Reference: spark.py:720-777. */
  def sampleMismatch(column: String, sampleCount: Int = 10, forDisplay: Boolean = false): DataFrame = {
    if (!onlyJoinColumns && !joinSet.contains(column)) {
      val stat = columnStats.find(_.column == column)
        .getOrElse(throw new IllegalArgumentException(s"unknown column: $column"))
      val n = math.min(sampleCount.toLong, stat.unequalCnt).toInt
      val sample = intersectRows
        .where(col(s"${column}_match") === false)
        .limit(n)
        .select((joinColumns.map(k => col(s"${k}_$n1").as(k)) ++
          Seq(col(s"${column}_$n1"), col(s"${column}_$n2"))).toIndexedSeq: _*)
      if (forDisplay)
        sample.toDF((joinColumns ++ Seq(s"$column ($n1)", s"$column ($n2)")).toIndexedSeq: _*)
      else sample
    } else {
      val n = math.min(sampleCount.toLong, df1UnqCount + df2UnqCount).toInt
      df1UnqRows.select(column).union(df2UnqRows.select(column)).limit(n).toDF(column)
    }
  }

  /** All rows with ≥1 mismatching column: join keys + df1/df2 versions of
    * (optionally only the mismatching) compared columns. Reference:
    * spark.py:793-867 — the mismatch-count agg there is replaced by the
    * already-computed columnStats. */
  def allMismatch(ignoreMatchingCols: Boolean = false): DataFrame = {
    if (onlyJoinColumns)
      return df1UnqRows.select(joinColumns.map(col): _*)
        .union(df2UnqRows.select(joinColumns.map(col): _*))
    val kept = compareColumns.filter { c =>
      !ignoreMatchingCols || columnStats.exists(s => s.column == c && s.unequalCnt > 0)
    }
    if (kept.isEmpty)
      return df1UnqRows.select(joinColumns.map(col): _*)
        .union(df2UnqRows.select(joinColumns.map(col): _*))
    val anyMismatch = kept.map(c => col(s"${c}_match") === false).reduce(_ || _)
    intersectRows
      .where(anyMismatch)
      .select((joinColumns.map(k => col(s"${k}_$n1").as(k)) ++
        kept.flatMap(c => Seq(col(s"${c}_$n1"), col(s"${c}_$n2")))).toIndexedSeq: _*)
  }

  // ---- reporting (reference: base.py:259-443) ----

  /** Assemble the immutable report data. All counts come from memoized
    * state — building the report triggers no recounting jobs (the reference
    * re-counts via a per-call cache, base.py:291-293). On a compare nothing
    * has read yet, the stats come from the sample query (see
    * [[sampleTables]]), so it runs first. */
  def buildReportData(sampleCount: Int = 10, columnCount: Int = 10): graft.report.ReportData = {
    import graft.report._
    require(sampleCount >= 0, s"sampleCount must be non-negative, got $sampleCount")
    require(columnCount >= 0, s"columnCount must be non-negative, got $columnCount")
    val samples = sampleTables(sampleCount, columnCount)
    val columnSummary = ColumnSummary(
      commonColumns = intersectColumns.length,
      df1Unique = df1UnqColumns.length, df1UniqueColumns = df1UnqColumns,
      df2Unique = df2UnqColumns.length, df2UniqueColumns = df2UnqColumns,
      df1Name = n1, df2Name = n2)
    val matching = countMatchingRows
    val rowSummary = RowSummary(
      matchColumns = joinColumns,
      hasDuplicates = anyDupes,
      absTol = config.absTol.display, relTol = config.relTol.display,
      commonRows = intersectCount,
      df1Unique = df1UnqCount, df2Unique = df2UnqCount,
      unequalRows = intersectCount - matching, equalRows = matching,
      df1Name = n1, df2Name = n2)
    val columnComparison = ColumnComparison(
      unequalColumns = columnStats.count(_.unequalCnt > 0),
      equalColumns = columnStats.count(_.unequalCnt == 0),
      unequalValues = columnStats.map(_.unequalCnt).sum)
    val statList = columnStats.filterNot(_.allMatch).map(s =>
      MismatchStat(s.column, s.dtype1, s.dtype2, s.unequalCnt, s.maxDiff,
        s.nullDiff, s.relTol, s.absTol))
    val mismatchStats =
      if (statList.nonEmpty)
        MismatchStats(hasMismatches = true,
          hasSamples = samples.mismatches.nonEmpty && sampleCount > 0,
          stats = statList.sortBy(_.column), samples = samples.mismatches,
          df1Name = n1, df2Name = n2)
      else MismatchStats(hasMismatches = false, hasSamples = false)
    def uniqueRowsData(rows: Option[String]): UniqueRowsData =
      rows.fold(UniqueRowsData(hasRows = false))(r => UniqueRowsData(hasRows = true, rows = r))
    ReportData(
      df1Name = n1, df2Name = n2,
      df1Shape = (df1Count, df1.columns.length),
      df2Shape = (df2Count, df2.columns.length),
      columnCount = columnCount,
      columnSummary = columnSummary, rowSummary = rowSummary,
      columnComparison = columnComparison, mismatchStats = mismatchStats,
      df1UniqueRows = uniqueRowsData(samples.df1Unique),
      df2UniqueRows = uniqueRowsData(samples.df2Unique))
  }

  /** Every sample table the report shows, rendered from ONE query (the
    * reference runs one `limit` job per mismatching column and per
    * unique-row slice, spark.py:720-777). Each row the tables need gets one
    * tag per table family it feeds (`explode` over an array of
    * `when(<col>_match === false, i)` tags plus `left_only`/`right_only`),
    * is numbered in the join's own (partition, position) order by
    * `monotonically_increasing_id`, and a `row_number` per tag keeps the
    * first `sampleCount`. That is the order `limit(n)` takes rows in, so
    * each table holds the rows [[sampleMismatch]] and a limited
    * [[df1UnqRows]]/[[df2UnqRows]] would show, in the same order. Spark
    * plans a partial `WindowGroupLimit` below the exchange, so the shuffle
    * carries at most (#tags × sampleCount) rows per map task. Masked cells
    * never leave the executors; they render as the mask literal, typed as
    * the masked frames type them.
    *
    * Once anything has read the compare (the stats, a derived frame, a
    * tolerance variant), the query reads the cached join and tags only the
    * tables the stats select: two jobs (AQE map stage plus result) however
    * many columns mismatch, none when nothing needs sampling.
    *
    * On a root compare with no stats and no cache held (nothing has read
    * it yet, or `unpersist()` released what a derived frame filled), the
    * query reads the uncached join, tags every table the stats could
    * select, and carries the stats pass as a second branch of one `union`;
    * the tables the stats select are rendered after it returns. AQE plans the join's input exchange once
    * and the second branch reads it as a `ReusedExchange`, so the report
    * costs one input shuffle and writes no cache. Exchange reuse
    * needs both branches to prune the join to the same columns, so the
    * stats branch also counts each merged column only the samples read.
    * Nothing here may force [[mergedCached]] first: a persisted join would
    * be substituted into the query, which would then fill it. The stats
    * are aggregated, not observed: observed metrics ride on accumulators,
    * which a re-run map stage may count twice. */
  private def sampleTables(sampleCount: Int, columnCount: Int): SparkCompare.Samples = synchronized {
    import graft.report.TextTable
    val fused = parent.isEmpty && statsMemo.isEmpty && scope.isEmpty
    def mismatching = columnStats.filter(s => !s.allMatch && s.unequalCnt > 0).map(_.column)
    // The tables the query collects rows for; a fused query cannot yet
    // tell which of them the stats select.
    val columns =
      if (!fused) mismatching else if (onlyJoinColumns) joinColumns else compareColumns
    val wantLeft = sampleCount > 0 && (fused || df1UnqCount > 0)
    val wantRight = sampleCount > 0 && (fused || df2UnqCount > 0)
    val schema = merged.schema
    // One collected column per distinct (merged column, display type),
    // placed after the tag and the id in each collected row.
    val slots = scala.collection.mutable.ArrayBuffer.empty[Column]
    val slotOf = scala.collection.mutable.LinkedHashMap.empty[(String, DataType), Int]
    type Cell = (StructField, Row => Any)
    def cell(header: String, name: String, masked: Boolean, as: Option[DataType] = None): Cell =
      if (masked) (StructField(header, StringType), _ => MaskValue)
      else {
        val dt = as.getOrElse(schema(name).dataType)
        val i = slotOf.getOrElseUpdate((name, dt), { slots += col(name).cast(dt); slots.size + 1 })
        (StructField(header, dt), r => r.get(i))
      }
    def values(cells: Seq[Cell], rows: Seq[Row]): Seq[Seq[Any]] = rows.map(r => cells.map(_._2(r)))
    def render(cells: Seq[Cell], rows: Seq[Seq[Any]]): String =
      TextTable.rowsToStr(StructType(cells.map(_._1)), rows.map(Row.fromSeq))

    val leftTag = columns.length
    val rightTag = leftTag + 1
    var collected = Map.empty[Int, Seq[Row]]
    def rowsOf(tag: Int): Seq[Row] = collected.getOrElse(tag, Nil)

    // Cells are declared before the query runs, so it collects exactly them.
    val mismatches: Seq[() => String] =
      if (onlyJoinColumns) columns.map { c =>
        // [[sampleMismatch]]'s union of the two unique slices: df1's rows
        // first, then df2's, at the union's widened type.
        val (l, r) = (s"${c}_$n1", s"${c}_$n2")
        val widened =
          if (schema(l).dataType == schema(r).dataType) None
          else Some(merged.select(col(l).as(c)).union(merged.select(col(r).as(c))).schema.head.dataType)
        val (lc, rc) = (cell(c, l, maskedColumns(c), widened), cell(c, r, maskedColumns(c), widened))
        () => render(Seq(lc),
          (values(Seq(lc), rowsOf(leftTag)) ++ values(Seq(rc), rowsOf(rightTag))).take(sampleCount))
      }
      else {
        val masked = suffixedMaskNames
        def merged(header: String, name: String) = cell(header, name, masked(name))
        columns.zipWithIndex.map { case (c, tag) =>
          val cells = joinColumns.map(k => merged(k, s"${k}_$n1")) ++
            Seq(merged(s"$c ($n1)", s"${c}_$n1"), merged(s"$c ($n2)", s"${c}_$n2"))
          () => render(cells, values(cells, rowsOf(tag)))
        }
      }
    def unique(want: Boolean, cols: Seq[String], suffix: String, tag: Int): Option[() => String] =
      Option.when(want) {
        val cells = cols.take(columnCount).map(c => cell(c, s"${c}_$suffix", maskedColumns(c)))
        () => render(cells, values(cells, rowsOf(tag)))
      }
    val df1Unique = unique(wantLeft, df1.columns.toSeq, n1, leftTag)
    val df2Unique = unique(wantRight, df2.columns.toSeq, n2, rightTag)

    val src = if (fused) merged else mergedCached
    val merge = col("_merge")
    val tags =
      (if (onlyJoinColumns || sampleCount == 0) Nil
       else columns.zipWithIndex.map { case (c, i) => when(merge === "both" && col(s"${c}_match") === false, i) }) ++
        (if (wantLeft) Seq(when(merge === "left_only", leftTag)) else Nil) ++
        (if (wantRight) Seq(when(merge === "right_only", rightTag)) else Nil)
    val slotNames = slots.indices.map(i => s"__graft_s$i")
    val sampled = Option.when(tags.nonEmpty)(withMatch(src)
      .select(explode(array_compact(array(tags: _*))).as("__graft_tag") +:
        slots.zip(slotNames).map { case (c, n) => c.as(n) }.toSeq: _*)
      .select(col("__graft_tag") +: monotonically_increasing_id().as("__graft_id") +:
        slotNames.map(col): _*)
      .withColumn("__graft_rn",
        row_number().over(Window.partitionBy("__graft_tag").orderBy("__graft_id")))
      .where(col("__graft_rn") <= sampleCount))
    val rows =
      if (!fused) sampled.fold(Seq.empty[Row])(_.collect().toSeq)
      else {
        val stats = statsFrame(src, slotOf.keys.map(_._1).toSeq.distinct.filterNot(statsReads))
        val statsBranch = stats.select(struct(col("*")).as("__graft_stats"))
        val query = sampled.fold(statsBranch)(_.unionByName(statsBranch, allowMissingColumns = true))
        val at = query.schema.fieldIndex("__graft_stats")
        val (statRows, sampleRows) = query.collect().toSeq.partition(!_.isNullAt(at))
        statsMemo = Some(statRows.head.getStruct(at))
        sampleRows
      }
    collected = rows.groupBy(_.getInt(0)).map { case (tag, rs) => tag -> rs.sortBy(_.getLong(1)) }
    // Render the tables the stats select.
    SparkCompare.Samples(mismatching.map(c => mismatches(columns.indexOf(c))()),
      df1Unique.filter(_ => df1UnqCount > 0).map(_()),
      df2Unique.filter(_ => df2UnqCount > 0).map(_()))
  }

  /** Render the text report; optionally save the HTML form and/or render
    * through a custom template file. Like the reference (base.py:435-442),
    * the HTML file wraps the SAME text returned — custom-template renders
    * are saved as rendered, not the default layout. */
  def report(sampleCount: Int = 10, columnCount: Int = 10,
      htmlFile: Option[String] = None,
      templatePath: Option[String] = None): String = {
    val data = buildReportData(sampleCount, columnCount)
    val text = data.render(templatePath)
    htmlFile.foreach(graft.report.ReportData.saveHtml(text, _))
    text
  }

  /** Release the cached join, blocking, on this compare and every
    * tolerance variant sharing it; a no-op when nothing was persisted or
    * it was already released. */
  def unpersist(): Unit = scope.release()
}

object SparkCompare {
  /** The report's rendered sample tables: one per mismatching column, then
    * each unique-row slice's (None when it shows no rows). */
  private final case class Samples(
      mismatches: Seq[String], df1Unique: Option[String], df2Unique: Option[String])

  /** The type to cast a join key to before the union, where the union's
    * own widening would not give the type `===` compares the two key types
    * at: outside ANSI mode `===` casts a string to the other side's type
    * (a decimal with a fraction to double) and a boolean to the other
    * side's numeric type, where a union widens to string or fails. None
    * for equal types and wherever the union widens as the comparison does
    * (every pair in ANSI mode). `SparkCompareEquivalenceSpec` pins this
    * against the analyzer's join condition, type pair by type pair. */
  private[graft] def compareCast(spark: SparkSession, t1: DataType, t2: DataType): Option[DataType] = {
    def castsTo(t: DataType): Boolean = t match {
      case _: NumericType | BooleanType | BinaryType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    if (t1 == t2 || spark.conf.get("spark.sql.ansi.enabled").toBoolean) None
    else (t1, t2) match {
      case (_: StringType, t) if castsTo(t) => Some(stringCastTo(t))
      case (t, _: StringType) if castsTo(t) => Some(stringCastTo(t))
      case (BooleanType, n: NumericType) => Some(n)
      case (n: NumericType, BooleanType) => Some(n)
      case _ => None
    }
  }

  private def stringCastTo(t: DataType): DataType = t match {
    case d: DecimalType if d.scale > 0 => DoubleType
    case _ => t
  }

  /** Whether two equal values of `dt` are always the same value, so the
    * value a window groups by can stand for both sides' key. Not so for
    * floating point (-0.0 = 0.0, NaN bit patterns) or collated strings. */
  private def equalIsIdentical(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | BinaryType |
        DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => s == StringType
    case _ => false
  }
}

object Utils {
  /** Smallest `_temp_N` absent from both frames (reference: base.py:649-671). */
  def tempColumnName(dfs: DataFrame*): String = {
    val taken = dfs.flatMap(_.columns).map(_.toLowerCase).toSet
    Iterator.from(0).map(i => s"_temp_$i").find(n => !taken.contains(n)).get
  }

  /** Recursively delete a path. The ONE shared implementation — the
    * `Files.walk` stream must be closed (it holds directory handles;
    * the idiom previously copied at several sites leaked one per call). */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(p)
      try stream.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally stream.close()
    }
}

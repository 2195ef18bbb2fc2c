package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** The driver-verified query pack: each query runs the real engine on two
  * frames derived deterministically from `lineitem`, and `OracleGen` emits
  * the equivalent DuckDB SQL over the same parquet table.
  *
  * The derivation (filters + value perturbations) is chosen so that every
  * arithmetic step is bit-identical across Spark and DuckDB (pure IEEE double
  * ops, integer modulo, timestamp interval adds) — so hash-level comparison
  * of results is meaningful.
  */
object ComparePack {
  val liCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")
  val keys2: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val numericCols: Set[String] =
    Set("l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val integralCols: Set[String] = Set("l_partkey", "l_suppkey", "l_linenumber")
  val timestampCols: Set[String] = Set("l_shipdate")
  val stringCols: Set[String] = Set("l_returnflag", "l_linestatus")

  private def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** lineitem restricted to rows whose (l_orderkey, l_linenumber) occurs
    * exactly once — the synthetic data has duplicate keys, and rank-based
    * duplicate pairing is physical-order-dependent (not oracle-mirrorable),
    * so the value-comparison queries run on the unique-key subset.
    *
    * Persisted per (session, dir): every frame the harness compares (A, B,
    * C and their perturbations) derives from this one window, and without
    * persistence the count-window re-executed once per JOIN SIDE of every
    * cold compare — the dominant cost of q_compare_all_mismatch in round 2
    * (VERDICT r2 plan audit). One cached copy serves them all. */
  // Caches key on the SparkSession REFERENCE itself (SparkSession uses
  // default reference equality): unlike an identity hash, a held reference
  // can never be reused after GC and hand a later session a frame (and
  // persisted blocks) bound to a stopped one.
  private val uniqueKeyedCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()

  private def uniqueKeyed(s: SparkSession, dir: String): DataFrame =
    Memo.memo(uniqueKeyedCache, (s, dir), {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keys2.map(col): _*)
      li(s, dir)
        .withColumn("__graft_n", count(lit(1)).over(w))
        .filter(col("__graft_n") === 1)
        .drop("__graft_n")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** "df1": unique-keyed lineitem minus orderkeys ≡ 7 (mod 10). */
  def frameA(s: SparkSession, dir: String): DataFrame =
    uniqueKeyed(s, dir).filter(col("l_orderkey") % 10 =!= 7)

  /** Raw (duplicate-keyed) variants for the dedup-pairing query. */
  def frameARaw(s: SparkSession, dir: String): DataFrame =
    li(s, dir).filter(col("l_orderkey") % 10 =!= 7)

  def frameBRaw(s: SparkSession, dir: String): DataFrame =
    perturb(li(s, dir).filter(col("l_orderkey") % 10 =!= 3))

  /** "df2": unique-keyed lineitem minus orderkeys ≡ 3 (mod 10), with
    * deterministic perturbations: +0.005 qty (mod 7 — inside 0.01 abs_tol),
    * +100.0 price (mod 11 — outside), NULLed returnflag (mod 13), +1 day
    * shipdate (mod 17). */
  def frameB(s: SparkSession, dir: String): DataFrame =
    perturb(uniqueKeyed(s, dir).filter(col("l_orderkey") % 10 =!= 3))

  private def perturb(df: DataFrame): DataFrame =
    df
      .withColumn("l_quantity",
        when(col("l_orderkey") % 7 === 0, col("l_quantity") + lit(0.005)).otherwise(col("l_quantity")))
      .withColumn("l_extendedprice",
        when(col("l_orderkey") % 11 === 0, col("l_extendedprice") + lit(100.0)).otherwise(col("l_extendedprice")))
      .withColumn("l_returnflag",
        when(col("l_orderkey") % 13 === 0, lit(null).cast("string")).otherwise(col("l_returnflag")))
      .withColumn("l_shipdate",
        when(col("l_orderkey") % 17 === 0, col("l_shipdate") + expr("INTERVAL 1 DAY")).otherwise(col("l_shipdate")))

  /** frameA with string-only perturbations for the ignore_spaces/ignore_case
    * query: lowercased returnflag (mod 3), real mismatch 'X' (mod 13) and
    * space-padded linestatus (mod 4). */
  def frameC(s: SparkSession, dir: String): DataFrame =
    frameA(s, dir)
      .withColumn("l_returnflag",
        when(col("l_orderkey") % 3 === 0, lower(col("l_returnflag"))).otherwise(col("l_returnflag")))
      .withColumn("l_linestatus",
        when(col("l_orderkey") % 13 === 0, lit("X"))
          .when(col("l_orderkey") % 4 === 0, concat(lit(" "), col("l_linestatus"), lit(" ")))
          .otherwise(col("l_linestatus")))

  // One SparkCompare per distinct configuration per session: the driver
  // queries share counts, the fused stats row, and the cached intersection
  // instead of re-running the join per query.
  private val compareCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String, Double, Double, Seq[String], Boolean), SparkCompare]()
  private val miscCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), SparkCompare]()

  def compare(s: SparkSession, dir: String, absTol: Double = 0.0,
      keys: Seq[String] = keys2, raw: Boolean = false, relTol: Double = 0.0): SparkCompare =
    Memo.memo(compareCache, 
      (s, dir, absTol, relTol, keys, raw), {
        if (absTol != 0.0 || relTol != 0.0)
          // tolerance only changes match expressions — derive from the base
          // compare so the join and cached intersection are
          // shared instead of recomputed per tolerance configuration
          compare(s, dir, 0.0, keys, raw)
            .withTolerances(ToleranceSpec.of(absTol), ToleranceSpec.of(relTol))
        else {
          val (a, b) =
            if (raw) (frameARaw(s, dir), frameBRaw(s, dir))
            else (frameA(s, dir), frameB(s, dir))
          // the non-raw frames are unique-keyed by construction (uniqueKeyed
          // filter) and null-free (the orderkey mod-filter itself drops
          // NULLs), so they take the hinted sort-merge join; the raw frames
          // carry known duplicates, so their compare pairs them by rank.
          val hints =
            if (raw) (Some(false), Some(true)) else (Some(true), Some(true))
          new SparkCompare(s, a, b,
            CompareConfig(joinColumns = keys, absTol = ToleranceSpec.of(absTol),
              assumeKeysUnique = hints._1, assumeKeysNullFree = hints._2,
              // the raw (duplicate-pairing) compare serves one counts query,
              // which reads the stats alone: its single stats pass would
              // fill a cache nothing reads back
              cacheIntermediates = !raw))
        }
      })

  /** User-side custom comparator mirroring the reference documentation's
    * canonical example (docs/source/comparator_usage.rst): claim string
    * pairs and call them equal when their LENGTHS match; decline everything
    * else so the default pipeline handles it. */
  object LengthComparator extends graft.functions.Comparator {
    import graft.functions.{CompareOpts, TypeClasses}
    override def compare(df: DataFrame, col1: String, col2: String,
        opts: CompareOpts): Option[org.apache.spark.sql.Column] = {
      if (TypeClasses.isStringLike(TypeClasses.dtypeOf(df, col1)) &&
          TypeClasses.isStringLike(TypeClasses.dtypeOf(df, col2)))
        Some(when(length(col(col1)) <=> length(col(col2)), lit(true)).otherwise(lit(false)))
      else None
    }
  }

  /** The exact frameA↔frameC compare whose cached join the ignore-flags
    * and custom-comparator variants share (their match expressions differ;
    * the join does not — keys are numeric, so ignoreSpaces never touches
    * it). */
  private def compareAC(s: SparkSession, dir: String): SparkCompare =
    Memo.memo(miscCache, (s, dir, "ac_base"),
      new SparkCompare(s, frameA(s, dir), frameC(s, dir),
        CompareConfig(joinColumns = keys2,
          assumeKeysUnique = Some(true), assumeKeysNullFree = Some(true))))

  /** frameA vs frameC with the custom length comparator prepended: string
    * columns match by length (case flips match, padding mismatches),
    * everything else falls through to the default pipeline (§2.10). */
  def compareCustom(s: SparkSession, dir: String): SparkCompare =
    Memo.memo(miscCache, (s, dir, "custom"),
      compareAC(s, dir).withMatchSettings(customComparators = Seq(LengthComparator)))

  /** Compare frameA against its string-perturbed twin with
    * ignore_spaces + ignore_case active (string normalization path). */
  def compareIgnore(s: SparkSession, dir: String): SparkCompare =
    Memo.memo(miscCache, (s, dir, "ignore"),
      compareAC(s, dir).withMatchSettings(ignoreSpaces = true, ignoreCase = true))

  /** CSV-source compare: a fixed CSV pair written under target/, loaded via
    * the extension-inferring reader (header + inferSchema), compared on id.
    * Exercises the CSV scan → compare → stats path end to end; the oracle
    * pins the hand-computed stats table. */
  def csvCompareStats(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get("target/graft_csv_demo")
    Files.createDirectories(base)
    val a = base.resolve("a.csv")
    val b = base.resolve("b.csv")
    Files.writeString(a, "id,name,qty\n1,alpha,1.5\n2,beta,2.5\n3,gamma,3.5\n4,delta,4.5\n5,eps,5.5\n")
    Files.writeString(b, "id,name,qty\n1,alpha,1.5\n2,BETA,2.5\n3,gamma,9.5\n6,zeta,6.5\n")
    val dfa = graft.sources.Readers.load(s, a.toString, "csv")
    val dfb = graft.sources.Readers.load(s, b.toString, "csv")
    statsDf(s, new SparkCompare(s, dfa, dfb, CompareConfig(joinColumns = Seq("id"))))
  }

  /** The report's NUMERIC payload as (metric, value BIGINT) rows — the
    * oracle-checkable core of `buildReportData` (shapes, column/row
    * summaries, column comparison). The rendered text stays golden-pinned
    * (q_compare_report); this twin proves the numbers inside it. */
  def reportStatsDf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = compare(s, dir).buildReportData()
    Seq(
      ("df1_rows", d.df1Shape._1),
      ("df1_cols", d.df1Shape._2.toLong),
      ("df2_rows", d.df2Shape._1),
      ("df2_cols", d.df2Shape._2.toLong),
      ("common_columns", d.columnSummary.commonColumns.toLong),
      ("col_df1_unique", d.columnSummary.df1Unique.toLong),
      ("col_df2_unique", d.columnSummary.df2Unique.toLong),
      ("common_rows", d.rowSummary.commonRows),
      ("row_df1_unique", d.rowSummary.df1Unique),
      ("row_df2_unique", d.rowSummary.df2Unique),
      ("unequal_rows", d.rowSummary.unequalRows),
      ("equal_rows", d.rowSummary.equalRows),
      ("unequal_columns", d.columnComparison.unequalColumns.toLong),
      ("equal_columns", d.columnComparison.equalColumns.toLong),
      ("unequal_values", d.columnComparison.unequalValues))
      .toDF("metric", "value").orderBy("metric")
  }

  /** columnStats as a DataFrame (driver-side; stats already computed). */
  def statsDf(s: SparkSession, c: SparkCompare): DataFrame = {
    import s.implicits._
    c.columnStats
      .map(st => (st.column, st.matchCnt, st.unequalCnt, st.nullDiff, st.maxDiff))
      .toDF("column", "match_cnt", "unequal_cnt", "null_diff", "max_diff")
      .orderBy("column")
  }
}

/** Generates the DuckDB oracle SQL mirroring ComparePack semantics. */
object OracleGen {
  import ComparePack._

  /** Unique-key base mirroring ComparePack.uniqueKeyed. */
  val baseSql: String =
    "SELECT * FROM lineitem QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1"
  val df1Sql: String = s"SELECT * FROM ($baseSql) WHERE l_orderkey % 10 <> 7"
  val df1RawSql: String = "SELECT * FROM lineitem WHERE l_orderkey % 10 <> 7"
  private def df2Select(from: String): String = {
    val sel = liCols.map {
      case "l_quantity" =>
        "CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 0.005 ELSE l_quantity END AS l_quantity"
      case "l_extendedprice" =>
        "CASE WHEN l_orderkey % 11 = 0 THEN l_extendedprice + 100.0 ELSE l_extendedprice END AS l_extendedprice"
      case "l_returnflag" =>
        "CASE WHEN l_orderkey % 13 = 0 THEN CAST(NULL AS VARCHAR) ELSE l_returnflag END AS l_returnflag"
      case "l_shipdate" =>
        "CASE WHEN l_orderkey % 17 = 0 THEN l_shipdate + INTERVAL 1 DAY ELSE l_shipdate END AS l_shipdate"
      case c => c
    }.mkString(", ")
    s"SELECT $sel FROM $from WHERE l_orderkey % 10 <> 3"
  }
  val df2Sql: String = df2Select(s"($baseSql)")
  val df2RawSql: String = df2Select("lineitem")

  /** frameC mirror: string-only perturbations of df1 (case order matters —
    * mod 13 wins over mod 4, like the engine's `when` chain). */
  val dfcSql: String = {
    val sel = liCols.map {
      case "l_returnflag" =>
        "CASE WHEN l_orderkey % 3 = 0 THEN lower(l_returnflag) ELSE l_returnflag END AS l_returnflag"
      case "l_linestatus" =>
        "CASE WHEN l_orderkey % 13 = 0 THEN 'X' " +
          "WHEN l_orderkey % 4 = 0 THEN ' ' || l_linestatus || ' ' " +
          "ELSE l_linestatus END AS l_linestatus"
      case c => c
    }.mkString(", ")
    s"SELECT $sel FROM ($df1Sql)"
  }

  /** CTE prefix: df1/df2 with presence flags, full outer join `j`, intersect
    * `i`. `df2Cte` defaults to the standard perturbed frame. */
  def prefix(keys: Seq[String], df2Cte: String = df2Sql): String = {
    val aSel = liCols.map(c => s"df1c.$c AS a_$c").mkString(", ")
    val bSel = liCols.map(c => s"df2c.$c AS b_$c").mkString(", ")
    val cond = keys.map(k => s"df1c.$k IS NOT DISTINCT FROM df2c.$k").mkString(" AND ")
    s"""WITH df1 AS ($df1Sql),
       |df2 AS ($df2Cte),
       |df1c AS (SELECT *, TRUE AS in1 FROM df1),
       |df2c AS (SELECT *, TRUE AS in2 FROM df2),
       |j AS (SELECT $aSel, in1, $bSel, in2 FROM df1c FULL OUTER JOIN df2c ON $cond),
       |i AS (SELECT * FROM j WHERE in1 AND in2)""".stripMargin
  }

  /** Boolean match expression per non-key column, mirroring the comparator
    * pipeline at the given abs/rel tolerance (no NaN present in this data).
    * `stringMode`: "exact" (default), "norm" (trim+upper, engine's
    * ignore-flags normalization), or "len" (the custom length comparator). */
  def matchExpr(c: String, absTol: Double, relTol: Double = 0.0,
      stringMode: String = "exact"): String =
    if ((absTol > 0 || relTol > 0) && numericCols(c)) {
      val (a, b) =
        if (integralCols(c)) (s"CAST(a_$c AS DOUBLE)", s"CAST(b_$c AS DOUBLE)")
        else (s"a_$c", s"b_$c")
      s"((a_$c IS NOT DISTINCT FROM b_$c) OR " +
        s"COALESCE(ABS($a - $b) <= $absTol + $relTol * ABS($b), FALSE))"
    } else if (stringMode == "norm" && stringCols(c))
      s"(upper(trim(a_$c)) IS NOT DISTINCT FROM upper(trim(b_$c)))"
    else if (stringMode == "len" && stringCols(c))
      s"(length(a_$c) IS NOT DISTINCT FROM length(b_$c))"
    else s"(a_$c IS NOT DISTINCT FROM b_$c)"

  /** Max |a-b| over doubles, NULL-skipped, matching engine max_diff. */
  def maxDiffExpr(c: String): String =
    if (timestampCols(c))
      s"COALESCE(MAX(ABS(CAST(epoch_us(a_$c) AS DOUBLE) / 1000000.0 - " +
        s"CAST(epoch_us(b_$c) AS DOUBLE) / 1000000.0)), 0.0)"
    else
      s"COALESCE(MAX(ABS(TRY_CAST(a_$c AS DOUBLE) - TRY_CAST(b_$c AS DOUBLE))), 0.0)"

  def nullDiffExpr(c: String): String =
    s"CAST(SUM(CASE WHEN (a_$c IS NULL) <> (b_$c IS NULL) THEN 1 ELSE 0 END) AS BIGINT)"

  def matchCntExpr(c: String, absTol: Double, relTol: Double = 0.0,
      stringMode: String = "exact"): String =
    s"CAST(SUM(CASE WHEN ${matchExpr(c, absTol, relTol, stringMode)} THEN 1 ELSE 0 END) AS BIGINT)"

  /** Oracle for the per-column stats table (q_compare_column_stats). */
  def columnStatsSql(keys: Seq[String], absTol: Double, relTol: Double = 0.0,
      stringMode: String = "exact", df2Cte: String = df2Sql): String = {
    val nonKeys = liCols.filterNot(keys.contains)
    val aggSel = (Seq("CAST(COUNT(*) AS BIGINT) AS cnt") ++ nonKeys.flatMap(c => Seq(
      s"${matchCntExpr(c, absTol, relTol, stringMode)} AS match_$c",
      s"${nullDiffExpr(c)} AS nd_$c",
      s"${maxDiffExpr(c)} AS md_$c"))).mkString(", ")
    val rows = nonKeys.map(c =>
      s"SELECT '$c' AS \"column\", match_$c AS match_cnt, cnt - match_$c AS unequal_cnt, " +
        s"nd_$c AS null_diff, md_$c AS max_diff FROM agg") ++
      keys.map(k =>
        s"SELECT '$k' AS \"column\", cnt AS match_cnt, CAST(0 AS BIGINT) AS unequal_cnt, " +
          s"CAST(0 AS BIGINT) AS null_diff, 0.0 AS max_diff FROM agg")
    s"""${prefix(keys, df2Cte)},
       |agg AS (SELECT $aggSel FROM i)
       |${rows.mkString("\n UNION ALL ")}
       |ORDER BY "column"""".stripMargin
  }

  /** Oracle for the ignore_spaces/ignore_case stats query (df1 vs frameC). */
  def ignoreStatsSql(keys: Seq[String]): String =
    columnStatsSql(keys, 0.0, 0.0, stringMode = "norm", df2Cte = dfcSql)

  /** Oracle for the custom length-comparator query (df1 vs frameC). */
  def customStatsSql(keys: Seq[String]): String =
    columnStatsSql(keys, 0.0, 0.0, stringMode = "len", df2Cte = dfcSql)

  /** Oracle for the one-pass column profile over frameB. */
  val profileSql: String = {
    val rows = liCols.map(c =>
      s"SELECT '$c' AS \"column\", CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls, " +
        s"CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct FROM df2")
    s"""WITH df2 AS ($df2Sql)
       |${rows.mkString("\n UNION ALL ")}
       |ORDER BY "column"""".stripMargin
  }

  /** Oracle for the CSV-source compare: the fixed CSV pair has hand-derivable
    * stats (ids 1-3 intersect; name differs on id 2, qty on id 3 by 6.0). */
  val csvStatsSql: String =
    """SELECT 'id' AS "column", CAST(3 AS BIGINT) AS match_cnt, CAST(0 AS BIGINT) AS unequal_cnt,
      | CAST(0 AS BIGINT) AS null_diff, CAST(0.0 AS DOUBLE) AS max_diff
      |UNION ALL SELECT 'name', 2, 1, 0, 0.0
      |UNION ALL SELECT 'qty', 2, 1, 0, 6.0
      |ORDER BY "column"""".stripMargin

  /** Oracle for merge slice counts (left_only / right_only / both). */
  def mergeCountsSql(keys: Seq[String]): String =
    s"""${prefix(keys)}
       |SELECT CAST(SUM(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS both_cnt,
       | CAST(SUM(CASE WHEN in1 AND in2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS left_only_cnt,
       | CAST(SUM(CASE WHEN in1 IS NULL AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS right_only_cnt
       |FROM j""".stripMargin

  /** Oracle for duplicate-key merge counts: join on l_orderkey only.
    * Pairing is rank-based, so counts = Σ min/max arithmetic per key group —
    * order-independent and hence oracle-safe. */
  val dupeCountsSql: String =
    s"""WITH df1 AS ($df1RawSql),
       |df2 AS ($df2RawSql),
       |g1 AS (SELECT l_orderkey, COUNT(*) AS n1 FROM df1 GROUP BY 1),
       |g2 AS (SELECT l_orderkey, COUNT(*) AS n2 FROM df2 GROUP BY 1),
       |g AS (SELECT COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
       |      FROM g1 FULL OUTER JOIN g2 ON g1.l_orderkey IS NOT DISTINCT FROM g2.l_orderkey)
       |SELECT CAST(SUM(LEAST(n1, n2)) AS BIGINT) AS both_cnt,
       | CAST(SUM(n1 - LEAST(n1, n2)) AS BIGINT) AS left_only_cnt,
       | CAST(SUM(n2 - LEAST(n1, n2)) AS BIGINT) AS right_only_cnt
       |FROM g""".stripMargin

  /** Oracle for df1-unique / df2-unique row slices. */
  def unqRowsSql(keys: Seq[String], side: Int): String = {
    val (self, other, selfC, otherC) =
      if (side == 1) ("df1", "df2", "df1c", "df2c") else ("df2", "df1", "df2c", "df1c")
    val cond = keys.map(k => s"$other.$k IS NOT DISTINCT FROM $self.$k").mkString(" AND ")
    s"""WITH df1 AS ($df1Sql),
       |df2 AS ($df2Sql)
       |SELECT * FROM $self WHERE NOT EXISTS (SELECT 1 FROM $other WHERE $cond)
       |ORDER BY ${keys.mkString(", ")}""".stripMargin
  }

  /** Oracle for all_mismatch: keys + df1/df2 versions of compared columns for
    * rows where any compared column mismatches. */
  def allMismatchSql(keys: Seq[String], absTol: Double): String = {
    val nonKeys = liCols.filterNot(keys.contains)
    val anyMis = nonKeys.map(c => s"NOT ${matchExpr(c, absTol)}").mkString(" OR ")
    val sel = (keys.map(k => s"a_$k AS $k") ++
      nonKeys.flatMap(c => Seq(s"a_$c AS ${c}_df1", s"b_$c AS ${c}_df2"))).mkString(", ")
    s"""${prefix(keys)}
       |SELECT $sel FROM i WHERE $anyMis
       |ORDER BY ${keys.map(k => s"a_$k").mkString(", ")}""".stripMargin
  }

  /** Oracle for the CDC snapshot diff: same full-outer join, CASE
    * classification, and name-sorted concat_ws changed-set as
    * [[graft.operators.Cdc.changes]] (concat_ws skips NULL parts in both
    * engines, so the per-column CASE chain mirrors the engine's `when`s). */
  def cdcSql(keys: Seq[String]): String = {
    val nonKeys = liCols.filterNot(keys.contains).sorted
    def mis(c: String) = s"(a_$c IS DISTINCT FROM b_$c)"
    val anyMis = nonKeys.map(mis).mkString(" OR ")
    val parts = nonKeys.map(c => s"CASE WHEN ${mis(c)} THEN '$c' END").mkString(", ")
    val nChanged = nonKeys.map(c => s"CASE WHEN ${mis(c)} THEN 1 ELSE 0 END").mkString(" + ")
    s"""${prefix(keys)}
       |SELECT ${keys.map(k => s"COALESCE(a_$k, b_$k) AS $k").mkString(", ")},
       |  CASE WHEN in1 IS NULL THEN 'insert'
       |       WHEN in2 IS NULL THEN 'delete'
       |       WHEN $anyMis THEN 'update' ELSE 'unchanged' END AS change_type,
       |  CASE WHEN in1 AND in2 THEN concat_ws(',', $parts) ELSE '' END AS changed_cols,
       |  CAST(CASE WHEN in1 AND in2 THEN $nChanged ELSE 0 END AS BIGINT) AS n_changed
       |FROM j
       |WHERE in1 IS NULL OR in2 IS NULL OR ($anyMis)
       |ORDER BY ${keys.mkString(", ")}""".stripMargin
  }

  /** Oracle for the report's numeric payload (q_compare_report_stats):
    * frame shapes, row/column summary counts, and the column-comparison
    * rollup, each as a (metric, value) row. Reuses the shared join prefix
    * and per-column match expressions; key columns join the per-column
    * table with unequal = 0, mirroring the engine's columnStats (which
    * carries key rows as always-equal). */
  def reportStatsSql(keys: Seq[String]): String = {
    val nonKeys = liCols.filterNot(keys.contains)
    val matchSel = nonKeys.map(c => s"${matchCntExpr(c, 0.0)} AS match_$c").mkString(", ")
    val allMatch = nonKeys.map(c => matchExpr(c, 0.0)).mkString(" AND ")
    val perCol = (nonKeys.map(c =>
      s"SELECT '$c' AS c, cnt - match_$c AS unequal FROM colagg") ++
      keys.map(k => s"SELECT '$k', CAST(0 AS BIGINT) FROM colagg"))
      .mkString("\n  UNION ALL ")
    s"""${prefix(keys)},
       |cnts AS (SELECT
       |  CAST(SUM(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS common_rows,
       |  CAST(SUM(CASE WHEN in1 AND in2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS df1_unq,
       |  CAST(SUM(CASE WHEN in1 IS NULL AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS df2_unq,
       |  CAST(SUM(CASE WHEN in1 AND in2 AND ($allMatch) THEN 1 ELSE 0 END) AS BIGINT) AS matching
       |  FROM j),
       |colagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt, $matchSel FROM i),
       |percol AS ($perCol),
       |colsum AS (SELECT
       |  CAST(SUM(CASE WHEN unequal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS unequal_columns,
       |  CAST(SUM(CASE WHEN unequal = 0 THEN 1 ELSE 0 END) AS BIGINT) AS equal_columns,
       |  CAST(SUM(unequal) AS BIGINT) AS unequal_values FROM percol)
       |SELECT * FROM (
       |SELECT 'df1_rows' AS metric, (SELECT CAST(COUNT(*) AS BIGINT) FROM df1) AS "value"
       |UNION ALL SELECT 'df1_cols', ${liCols.length}
       |UNION ALL SELECT 'df2_rows', (SELECT CAST(COUNT(*) AS BIGINT) FROM df2)
       |UNION ALL SELECT 'df2_cols', ${liCols.length}
       |UNION ALL SELECT 'common_columns', ${liCols.length}
       |UNION ALL SELECT 'col_df1_unique', 0
       |UNION ALL SELECT 'col_df2_unique', 0
       |UNION ALL SELECT 'common_rows', (SELECT common_rows FROM cnts)
       |UNION ALL SELECT 'row_df1_unique', (SELECT df1_unq FROM cnts)
       |UNION ALL SELECT 'row_df2_unique', (SELECT df2_unq FROM cnts)
       |UNION ALL SELECT 'unequal_rows', (SELECT common_rows - matching FROM cnts)
       |UNION ALL SELECT 'equal_rows', (SELECT matching FROM cnts)
       |UNION ALL SELECT 'unequal_columns', (SELECT unequal_columns FROM colsum)
       |UNION ALL SELECT 'equal_columns', (SELECT equal_columns FROM colsum)
       |UNION ALL SELECT 'unequal_values', (SELECT unequal_values FROM colsum)
       |) ORDER BY metric""".stripMargin
  }

  /** Oracle for the boolean predicate suite. */
  def predicatesSql(keys: Seq[String], absTol: Double): String = {
    val nonKeys = liCols.filterNot(keys.contains)
    val allMatch = nonKeys.map(c => matchExpr(c, absTol)).mkString(" AND ")
    s"""${prefix(keys)},
       |agg AS (SELECT
       |  CAST(SUM(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS both_cnt,
       |  CAST(SUM(CASE WHEN in1 AND in2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_cnt,
       |  CAST(SUM(CASE WHEN in1 IS NULL AND in2 THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt,
       |  CAST(SUM(CASE WHEN in1 AND in2 AND ($allMatch) THEN 1 ELSE 0 END) AS BIGINT) AS matching
       |FROM j)
       |SELECT (l_cnt = 0 AND r_cnt = 0) AS all_rows_overlap,
       |  matching AS count_matching_rows,
       |  (both_cnt > 0 AND matching = both_cnt) AS intersect_rows_match,
       |  (l_cnt = 0 AND r_cnt = 0 AND both_cnt > 0 AND matching = both_cnt) AS matches,
       |  (r_cnt = 0 AND both_cnt > 0 AND matching = both_cnt) AS subset
       |FROM agg""".stripMargin
  }
}

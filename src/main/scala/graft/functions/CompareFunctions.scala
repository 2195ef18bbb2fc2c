package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Standalone comparison helpers matching the reference's free-function API
  * (columns_equal / calculate_max_diff / calculate_null_diff,
  * datacompy/spark.py:887-1111). The engine itself fuses these into its
  * single-pass aggregation; these one-shot forms exist for users who call
  * them directly on arbitrary frames. */
object CompareFunctions {

  /** Boolean match column for a pair via the comparator pipeline
    * (reference: spark.py:887-990). */
  def columnsEqual(
      df: DataFrame, col1: String, col2: String,
      absTol: Double = 0.0, relTol: Double = 0.0,
      ignoreSpaces: Boolean = false, ignoreCase: Boolean = false,
      comparators: Seq[Comparator] = Nil): Column =
    ComparatorPipeline.columnsEqual(df, col1, col2,
      CompareOpts(absTol, relTol, ignoreSpaces, ignoreCase), comparators)

  /** Max |a-b| over double views, NaN excluded, 0 when not computable
    * (reference: spark.py:1026-1067 — single job). */
  def calculateMaxDiff(df: DataFrame, col1: String, col2: String): Double =
    maxDiff(col(col1), df.schema(col1).dataType, col(col2), df.schema(col2).dataType)
      .fold(0.0)(m => maxDiffValue(df.agg(m).first(), 0))

  /** Double-valued view of a column for max-diff purposes, or None when the
    * type has no sensible numeric view (arrays short-circuit to 0 in the
    * reference too, spark.py:1046-1050). Temporal types go through epoch
    * seconds explicitly — the reference's `TRY_CAST(ts AS DOUBLE)` silently
    * NULLs under ANSI mode (Spark 4 default), losing the diff. */
  private def maxDiffView(c: Column, dt: DataType): Option[Column] = dt match {
    case _: NumericType | _: StringType | BooleanType => Some(c.try_cast(DoubleType))
    case TimestampType | TimestampNTZType =>
      // NTZ → TZ interprets in the session time zone (UTC here), matching
      // DuckDB's epoch_us over naive timestamps.
      Some(unix_micros(c.cast(TimestampType)).cast(DoubleType) / lit(1e6))
    case DateType => Some(unix_date(c).cast(DoubleType) * lit(86400.0))
    case _ => None
  }

  /** THE max-diff rule of [[calculateMaxDiff]] and `SparkCompare`'s stats
    * pass: max |a-b| over the rows `guard` admits, NaN excluded; None when
    * either type has no numeric view. Byte-equal strings (`StringType` is
    * the binary collation) give 0, NaN or NULL, none of which raises the
    * max, so only unequal string pairs pay for the double cast, which fails
    * row by row on non-numeric text. */
  private[graft] def maxDiff(c1: Column, t1: DataType, c2: Column, t2: DataType,
      guard: Option[Column] = None): Option[Column] =
    for (v1 <- maxDiffView(c1, t1); v2 <- maxDiffView(c2, t2)) yield {
      val d = abs(v1 - v2)
      val differ = if (t1 == StringType && t2 == StringType) c1 =!= c2 else lit(true)
      max(when(guard.fold(differ)(_ && differ) && !isnan(d), d))
    }

  /** A [[maxDiff]] result in field `i` of `r`; NULL and NaN read as 0. */
  private[graft] def maxDiffValue(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else { val v = r.getDouble(i); if (v.isNaN) 0.0 else v }

  /** Rows where exactly one side is NULL (reference: spark.py:1070-1111 —
    * one filter+count job). */
  def calculateNullDiff(df: DataFrame, col1: String, col2: String): Long =
    df.filter(col(col1).isNull =!= col(col2).isNull).count()
}

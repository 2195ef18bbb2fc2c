package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
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
  def calculateMaxDiff(df: DataFrame, col1: String, col2: String): Double = {
    def view(name: String): Option[Column] = df.schema(name).dataType match {
      case _: NumericType | _: StringType | BooleanType => Some(col(name).try_cast(DoubleType))
      case TimestampType | TimestampNTZType =>
        Some(unix_micros(col(name).cast(TimestampType)).cast(DoubleType) / lit(1e6))
      case DateType => Some(unix_date(col(name)).cast(DoubleType) * lit(86400.0))
      case _ => None
    }
    (view(col1), view(col2)) match {
      case (Some(a), Some(b)) =>
        val d = abs(a - b)
        // Byte-equal strings give a diff of 0, NaN or NULL, none of which
        // raises the max, so only unequal string pairs pay for the double
        // cast (the stats pass of `SparkCompare` reads them the same way).
        val differ =
          if (df.schema(col1).dataType == StringType && df.schema(col2).dataType == StringType)
            col(col1) =!= col(col2)
          else lit(true)
        val r = df.agg(max(when(differ && !isnan(d), d))).first()
        if (r.isNullAt(0)) 0.0 else { val v = r.getDouble(0); if (v.isNaN) 0.0 else v }
      case _ => 0.0
    }
  }

  /** Rows where exactly one side is NULL (reference: spark.py:1070-1111 —
    * one filter+count job). */
  def calculateNullDiff(df: DataFrame, col1: String, col2: String): Long =
    df.filter(col(col1).isNull =!= col(col2).isNull).count()
}

package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.report.ReportData

/** Checks of the program's outputs against the generator's expected counts
  * and against properties every compare must have. */
object Checks {
  /** Recounts rows from the written files with a plain groupBy/count per key
    * group, independent of SparkCompare: common rows are Σ min(count1,
    * count2) over the key groups (NULL keys group together, as in the
    * compare's null-safe join). Throws when the generator's own counts
    * disagree. */
  def rowCounts(spark: SparkSession, paths: (String, String), keys: Seq[String], e: Expected): Unit = {
    def counts(path: String, tag: String) =
      spark.read.parquet(path).groupBy(keys.map(col): _*).count()
        .select(keys.map(k => col(k).as(s"${tag}_$k")) :+ col("count").as(tag): _*)
    val a = counts(paths._1, "a")
    val b = counts(paths._2, "b")
    val on = keys.map(k => col(s"a_$k") <=> col(s"b_$k")).reduce(_ && _)
    val na = coalesce(col("a"), lit(0L))
    val nb = coalesce(col("b"), lit(0L))
    val r = a.join(b, on, "full_outer")
      .agg(sum(na), sum(nb), sum(least(na, nb)), sum(greatest(na - nb, lit(0L))),
        sum(greatest(nb - na, lit(0L))))
      .first()
    val got = (0 until 5).map(r.getLong)
    val want = Seq(e.rows1, e.rows2, e.common, e.unq1, e.unq2)
    if (got != want)
      throw new IllegalStateException(
        s"generated inputs disagree with their design: groupBy/count gives " +
          s"(rows1, rows2, common, unq1, unq2) = $got, the design $want")
  }

  /** Failed checks of one compare's report; empty when all hold. */
  def report(data: ReportData, text: String, unequal: Seq[(String, Long)], e: Expected): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) failures += s"$what: got $got, expected $want"
    val rs = data.rowSummary
    expect("side 1 rows", data.df1Shape._1, e.rows1)
    expect("side 2 rows", data.df2Shape._1, e.rows2)
    expect("common rows", rs.commonRows, e.common)
    expect("rows only in side 1", rs.df1Unique, e.unq1)
    expect("rows only in side 2", rs.df2Unique, e.unq2)
    expect("unequal rows", rs.unequalRows, e.unequalRows)
    expect("compared columns", unequal.size, e.unequal.size)
    for ((c, n) <- unequal) expect(s"unequal values in $c", n, e.unequal.getOrElse(c, -1L))
    expect("unequal values", data.columnComparison.unequalValues, e.unequal.values.sum)
    expect("side 1 unique plus common rows", rs.df1Unique + rs.commonRows, data.df1Shape._1)
    expect("side 2 unique plus common rows", rs.df2Unique + rs.commonRows, data.df2Shape._1)
    expect("equal plus unequal rows", rs.equalRows + rs.unequalRows, rs.commonRows)
    for ((c, n) <- unequal if n > rs.commonRows)
      failures += s"unequal values in $c ($n) exceed the common rows (${rs.commonRows})"
    if (text.isEmpty) failures += "empty report"
    failures.result()
  }
}

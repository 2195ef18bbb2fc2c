package graft.report

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Text-layout helpers (reference: datacompy/base.py:540-734). */
object TextTable {
  val Gutter = "  " // reference: base.py:537

  /** Plain-text table: every column sized to its widest cell, `l`/`r`
    * alignment per column, trailing whitespace stripped
    * (reference: base.py:540-606). */
  def fixedWidthTable(headers: Seq[String], rows: Seq[Seq[Any]], align: String = ""): String = {
    val body = rows.map(_.map(c => String.valueOf(c)))
    body.zipWithIndex.foreach { case (r, i) =>
      require(r.length == headers.length,
        s"row $i has ${r.length} cells but there are ${headers.length} headers")
    }
    val widths = headers.indices.map { i =>
      (headers(i).length +: body.map(_(i).length)).max
    }
    def layOut(cells: Seq[String]): String =
      cells.zipWithIndex.map { case (cell, i) =>
        val w = widths(i)
        if (align.lift(i).contains('r')) cell.reverse.padTo(w, ' ').reverse
        else cell.padTo(w, ' ')
      }.mkString(Gutter).replaceAll("\\s+$", "")
    (Seq(layOut(headers), widths.map("-" * _).mkString(Gutter)) ++ body.map(layOut))
      .mkString("\n")
  }

  /** Python-style thousands formatting: 1234567 → "1,234,567". */
  def commas(n: Long): String = {
    val s = math.abs(n).toString
    val grouped = s.reverse.grouped(3).mkString(",").reverse
    if (n < 0) "-" + grouped else grouped
  }

  def f4(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)

  /** Fixed-width display of a (limited) DataFrame, pandas-`to_string`-like:
    * row-index column, right-aligned cells, two-space gutter
    * (reference: base.py:693-734 — Spark path collects via toPandas). */
  def dfToStr(df: DataFrame, sampleCount: Int = -1): String = {
    val limited = if (sampleCount >= 0) df.limit(sampleCount) else df
    rowsToStr(limited.schema, limited.collect().toSeq)
  }

  /** [[dfToStr]]'s layout over rows already on the driver: `schema` names
    * the columns and decides how a NULL cell prints. */
  def rowsToStr(schema: StructType, rows: Seq[Row]): String = {
    val headers = schema.fields.map(_.name).toSeq
    def fmt(v: Any, dt: DataType): String = v match {
      case null => dt match {
        case _: NumericType => "NaN"
        case TimestampType | TimestampNTZType | DateType => "NaT"
        case _ => "None"
      }
      case ts: java.sql.Timestamp =>
        val s = ts.toString // yyyy-mm-dd hh:mm:ss.fffffffff
        if (s.endsWith(".0")) s.dropRight(2) else s
      case ldt: java.time.LocalDateTime =>
        val s = java.sql.Timestamp.valueOf(ldt).toString
        if (s.endsWith(".0")) s.dropRight(2) else s
      case arr: scala.collection.Seq[_] => arr.mkString("[", ", ", "]")
      case other => other.toString
    }
    val body = rows.map { r =>
      schema.fields.zipWithIndex.map { case (f, i) => fmt(r.get(i), f.dataType) }.toSeq
    }
    val idx = rows.indices.map(_.toString)
    val idxW = if (idx.isEmpty) 0 else idx.map(_.length).max
    val widths = headers.indices.map { i =>
      (headers(i).length +: body.map(_(i).length)).max
    }
    val headerLine = " " * idxW + headers.zipWithIndex.map { case (h, i) =>
      " " + h.reverse.padTo(widths(i), ' ').reverse
    }.mkString
    val bodyLines = body.zipWithIndex.map { case (cells, ri) =>
      idx(ri).reverse.padTo(idxW, ' ').reverse + cells.zipWithIndex.map { case (c, i) =>
        " " + c.reverse.padTo(widths(i), ' ').reverse
      }.mkString
    }
    (headerLine +: bodyLines).mkString("\n")
  }
}

/** Renders ReportData to the reference's text layout
  * (reference: datacompy/templates/report_template.j2). */
object TextReport {
  import TextTable._

  def render(d: ReportData): String = {
    val sb = new StringBuilder

    sb ++= "DataComPy Comparison\n"
    // 19 dashes under a 20-char title — reproduces the reference template's
    // own off-by-one (report_template.j2:2) for byte-level parity
    sb ++= "-------------------\n\n"

    sb ++= "DataFrame Summary\n"
    sb ++= "-----------------\n\n"
    sb ++= fixedWidthTable(
      Seq("DataFrame", "Columns", "Rows"),
      Seq(
        Seq(d.df1Name, commas(d.df1Shape._2), commas(d.df1Shape._1)),
        Seq(d.df2Name, commas(d.df2Shape._2), commas(d.df2Shape._1))),
      "lrr")
    sb ++= "\n\n\n"

    sb ++= "Column Summary\n"
    sb ++= "--------------\n\n"
    val cs = d.columnSummary
    def pyList(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("[", ", ", "]")
    def uniqueLine(n: Int, cols: Seq[String]): String =
      if (cols.nonEmpty) s"$n ${pyList(cols)}" else s"$n"
    sb ++= s"Number of columns in common: ${cs.commonColumns}\n"
    sb ++= s"Number of columns in ${cs.df1Name} but not in ${cs.df2Name}: ${uniqueLine(cs.df1Unique, cs.df1UniqueColumns)}\n"
    sb ++= s"Number of columns in ${cs.df2Name} but not in ${cs.df1Name}: ${uniqueLine(cs.df2Unique, cs.df2UniqueColumns)}\n\n"

    sb ++= "Row Summary\n"
    sb ++= "-----------\n\n"
    val rs = d.rowSummary
    sb ++= s"Matched on: ${rs.matchColumns.mkString(", ")}\n"
    sb ++= s"Any duplicates on match values: ${if (rs.hasDuplicates) "Yes" else "No"}\n"
    sb ++= s"Default Absolute Tolerance: ${rs.absTol}\n"
    sb ++= s"Default Relative Tolerance: ${rs.relTol}\n"
    sb ++= s"Number of rows in common: ${commas(rs.commonRows)}\n"
    sb ++= s"Number of rows in ${rs.df1Name} but not in ${rs.df2Name}: ${commas(rs.df1Unique)}\n"
    sb ++= s"Number of rows in ${rs.df2Name} but not in ${rs.df1Name}: ${commas(rs.df2Unique)}\n\n"
    sb ++= s"Number of rows with some compared columns unequal: ${commas(rs.unequalRows)}\n"
    sb ++= s"Number of rows with all compared columns equal: ${commas(rs.equalRows)}\n\n"

    sb ++= "Column Comparison\n"
    sb ++= "-----------------\n\n"
    val cc = d.columnComparison
    sb ++= s"Number of columns compared with some values unequal: ${commas(cc.unequalColumns)}\n"
    sb ++= s"Number of columns compared with all values equal: ${commas(cc.equalColumns)}\n"
    sb ++= s"Total number of values which compare unequal: ${commas(cc.unequalValues)}\n"

    val ms = d.mismatchStats
    if (ms.hasMismatches) {
      sb ++= "\nColumns with Unequal Values or Types\n"
      sb ++= "------------------------------------\n\n"
      val statRows = ms.stats.map { s =>
        val colName = if (s.column.length <= 20) s.column else s.column.take(17) + "..."
        Seq(colName, s.dtype1, s.dtype2, commas(s.unequalCnt), f4(s.maxDiff),
          commas(s.nullDiff), f4(s.relTol), f4(s.absTol))
      }
      sb ++= fixedWidthTable(
        Seq("Column", s"${ms.df1Name} dtype", s"${ms.df2Name} dtype", "# Unequal",
          "Max Diff", "# Null Diff", "Rel Tol", "Abs Tol"),
        statRows, "lllrrrrr")
      sb ++= "\n"
      if (ms.hasSamples) {
        sb ++= "\n\nSample Rows with Unequal Values\n"
        sb ++= "-------------------------------\n\n"
        ms.samples.foreach { s => sb ++= s; sb ++= "\n\n" }
      }
    }

    if (d.df1UniqueRows.hasRows) {
      sb ++= s"\nSample Rows Only in ${d.df1Name} (First ${d.columnCount} Columns)\n"
      sb ++= "---------------------------------------" + "-" * d.df1Name.length + "\n\n"
      sb ++= d.df1UniqueRows.rows
      sb ++= "\n"
    }
    if (d.df2UniqueRows.hasRows) {
      sb ++= s"\nSample Rows Only in ${d.df2Name} (First ${d.columnCount} Columns)\n"
      sb ++= "---------------------------------------" + "-" * d.df2Name.length + "\n\n"
      sb ++= d.df2UniqueRows.rows
      sb ++= "\n"
    }
    sb.result().strip()
  }
}

package graft.report

import scala.collection.immutable.ListMap

/** Immutable report data model (reference: datacompy/report.py:50-331). */
final case class ColumnSummary(
    commonColumns: Int,
    df1Unique: Int,
    df1UniqueColumns: Seq[String],
    df2Unique: Int,
    df2UniqueColumns: Seq[String],
    df1Name: String,
    df2Name: String)

final case class RowSummary(
    matchColumns: Seq[String],
    hasDuplicates: Boolean,
    absTol: String,
    relTol: String,
    commonRows: Long,
    df1Unique: Long,
    df2Unique: Long,
    unequalRows: Long,
    equalRows: Long,
    df1Name: String,
    df2Name: String)

final case class ColumnComparison(
    unequalColumns: Int,
    equalColumns: Int,
    unequalValues: Long)

final case class MismatchStat(
    column: String,
    dtype1: String,
    dtype2: String,
    unequalCnt: Long,
    maxDiff: Double,
    nullDiff: Long,
    relTol: Double,
    absTol: Double)

final case class MismatchStats(
    hasMismatches: Boolean,
    hasSamples: Boolean,
    stats: Seq[MismatchStat] = Nil,
    samples: Seq[String] = Nil,
    df1Name: String = "df1",
    df2Name: String = "df2")

final case class UniqueRowsData(hasRows: Boolean, rows: String = "")

final case class ReportData(
    df1Name: String,
    df2Name: String,
    df1Shape: (Long, Int),
    df2Shape: (Long, Int),
    columnCount: Int,
    columnSummary: ColumnSummary,
    rowSummary: RowSummary,
    columnComparison: ColumnComparison,
    mismatchStats: MismatchStats,
    df1UniqueRows: UniqueRowsData,
    df2UniqueRows: UniqueRowsData) {

  def render: String = TextReport.render(this)

  /** Render with a custom template file (reference: base.py:405-443,
    * `template_path` — Jinja2 there, the [[TemplateReport]] mini-language
    * here, over the same context variables as `toJson`). */
  def render(templatePath: Option[String]): String =
    templatePath.fold(render)(TemplateReport.renderFile(this, _))

  /** Reference: report.py:279-297 / base.py:674-690. */
  def toHtml: String = ReportData.wrapHtml(render)

  def save(path: String): Unit = ReportData.saveHtml(render, path)

  /** The reference's `to_dict` (report.py:313-322) as one ordered tree:
    * [[toJson]] encodes it, and [[TemplateReport]] templates look paths
    * up in it. */
  def toMap: ListMap[String, Any] = ListMap(
    "df1_name" -> df1Name,
    "df2_name" -> df2Name,
    "df1_shape" -> Seq(df1Shape._1, df1Shape._2),
    "df2_shape" -> Seq(df2Shape._1, df2Shape._2),
    "column_count" -> columnCount,
    "column_summary" -> ListMap(
      "common_columns" -> columnSummary.commonColumns,
      "df1_unique" -> columnSummary.df1Unique,
      "df1_unique_columns" -> columnSummary.df1UniqueColumns,
      "df2_unique" -> columnSummary.df2Unique,
      "df2_unique_columns" -> columnSummary.df2UniqueColumns,
      "df1_name" -> columnSummary.df1Name,
      "df2_name" -> columnSummary.df2Name),
    "row_summary" -> ListMap(
      "match_columns" -> rowSummary.matchColumns,
      "has_duplicates" -> rowSummary.hasDuplicates,
      "abs_tol" -> Json.Raw(rowSummary.absTol),
      "rel_tol" -> Json.Raw(rowSummary.relTol),
      "common_rows" -> rowSummary.commonRows,
      "df1_unique" -> rowSummary.df1Unique,
      "df2_unique" -> rowSummary.df2Unique,
      "unequal_rows" -> rowSummary.unequalRows,
      "equal_rows" -> rowSummary.equalRows,
      "df1_name" -> rowSummary.df1Name,
      "df2_name" -> rowSummary.df2Name),
    "column_comparison" -> ListMap(
      "unequal_columns" -> columnComparison.unequalColumns,
      "equal_columns" -> columnComparison.equalColumns,
      "unequal_values" -> columnComparison.unequalValues),
    "mismatch_stats" -> ListMap(
      "has_mismatches" -> mismatchStats.hasMismatches,
      "has_samples" -> mismatchStats.hasSamples,
      "stats" -> mismatchStats.stats.map(s => ListMap(
        "column" -> s.column, "dtype1" -> s.dtype1, "dtype2" -> s.dtype2,
        "unequal_cnt" -> s.unequalCnt, "max_diff" -> s.maxDiff,
        "null_diff" -> s.nullDiff, "rel_tol" -> s.relTol, "abs_tol" -> s.absTol)),
      "samples" -> mismatchStats.samples,
      "df1_name" -> mismatchStats.df1Name,
      "df2_name" -> mismatchStats.df2Name),
    "df1_unique_rows" -> ListMap(
      "has_rows" -> df1UniqueRows.hasRows, "rows" -> df1UniqueRows.rows),
    "df2_unique_rows" -> ListMap(
      "has_rows" -> df2UniqueRows.hasRows, "rows" -> df2UniqueRows.rows))

  def toJson: String = Json.encode(toMap)

  override def toString: String = render
}

object ReportData {
  private[report] def wrapHtml(text: String): String =
    s"<html><head><title>DataComPy Report</title></head><body><pre>$text</pre></body></html>"

  /** Save arbitrary rendered report text as the `<pre>`-wrapped HTML form
    * (reference: base.py:674-690 saves whatever text `report()` produced,
    * including custom-template renders). */
  def saveHtml(text: String, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, wrapHtml(text))
  }
}

/** Minimal dependency-free JSON emitter. [[encode]] writes a tree such as
  * [[ReportData.toMap]]: maps (in iteration order), sequences, strings,
  * booleans, integers, doubles and [[Json.Raw]]. */
object Json {
  /** Encoded by [[raw]]: a bare JSON number when its text is one, else a
    * string (a tolerance is `0.1` or `"{'v': 0.1}"`); shows as its text. */
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def encode(v: Any): String = v match {
    case s: String => str(s)
    case Raw(s) => raw(s)
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> encode(x) }: _*)
    case xs: Seq[_] => arr(xs.map(encode): _*)
    case other => other.toString // Boolean, Int, Long
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(n: Long): String = n.toString
  def num(n: Int): String = n.toString
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString
  def bool(b: Boolean): String = b.toString
  def raw(s: String): String = {
    // numbers pass through; anything else becomes a string
    if (s.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")) s else str(s)
  }
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: String*): String = items.mkString("[", ", ", "]")
}

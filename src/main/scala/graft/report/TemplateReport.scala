package graft.report

/** Custom-template rendering for `report(template_path=...)` parity
  * (reference: datacompy/base.py:405-443, 609-646 — Jinja2 there).
  *
  * Dependency-free mini template language over the same context the
  * reference's templates receive (the `to_dict` structure):
  *
  *   - `{{ path.to.value }}`     — substitution (dotted lookup)
  *   - `{% if path %} … {% endif %}`       — truthy: non-zero, non-empty,
  *     true (no else/elif — split into two ifs)
  *   - `{% for x in path %} … {% endfor %}` — iterate lists; inside, `x`
  *     (and `x.field` for stat rows) resolves to the element
  *
  * Unknown paths render as empty strings rather than erroring, matching
  * Jinja2's default undefined behaviour. Output is trimmed like the
  * reference's `render` (base.py:646). */
object TemplateReport {

  private type Ctx = Map[String, Any]

  /** The template context: the [[ReportData.toMap]] tree `toJson` encodes. */
  def context(d: ReportData): Ctx = d.toMap

  def renderFile(d: ReportData, templatePath: String): String = {
    val tpl = java.nio.file.Files.readString(java.nio.file.Paths.get(templatePath))
    render(tpl, context(d))
  }

  def render(template: String, ctx: Ctx): String = {
    // the reference's Jinja env enables trim_blocks (newline right after a
    // block tag is dropped) and lstrip_blocks (whitespace from a line start
    // to a block tag is dropped) — base.py:638-640; emulate both so
    // Jinja-style templates with tags on their own lines render identically
    val lstripped = template.replaceAll("(?m)^[ \\t]+(?=\\{%)", "")
    val trimmed = lstripped.replaceAll("%\\}\\n", "%}")
    renderBlock(trimmed, ctx).trim
  }

  private def lookup(path: String, ctx: Ctx): Option[Any] =
    path.split('.').foldLeft(Option[Any](ctx)) {
      case (Some(m: Map[_, _]), seg) => m.asInstanceOf[Map[String, Any]].get(seg)
      case _ => None
    }

  private def truthy(v: Option[Any]): Boolean = v match {
    case None | Some(null) => false
    case Some(b: Boolean) => b
    case Some(s: String) => s.nonEmpty
    case Some(r: Json.Raw) => r.text.nonEmpty
    case Some(s: Seq[_]) => s.nonEmpty
    case Some(n: Int) => n != 0
    case Some(n: Long) => n != 0L
    case Some(n: Double) => n != 0.0
    case Some(_) => true
  }

  private def show(v: Any): String = v match {
    case null => ""
    case d: Double if d == math.rint(d) && math.abs(d) < 1e15 => s"${d.toLong}.0"
    case s: Seq[_] => s.map(show).mkString("[", ", ", "]")
    case other => other.toString
  }

  private val VarPat = """\{\{\s*([\w.]+)\s*\}\}""".r
  private val TagPat = """\{%\s*(if|for|endif|endfor)([^%]*)%\}""".r

  /** Render one block: substitute vars, expand if/for by matching tags to
    * their balanced closers. */
  private def renderBlock(tpl: String, ctx: Ctx): String = {
    val out = new StringBuilder
    var pos = 0
    while (pos < tpl.length) {
      TagPat.findFirstMatchIn(tpl.substring(pos)) match {
        case None =>
          out ++= substitute(tpl.substring(pos), ctx)
          pos = tpl.length
        case Some(m) =>
          out ++= substitute(tpl.substring(pos, pos + m.start), ctx)
          val tag = m.group(1)
          val arg = m.group(2).trim
          tag match {
            case "if" | "for" =>
              val bodyStart = pos + m.end
              val bodyEnd = findCloser(tpl, bodyStart, tag)
              val body = tpl.substring(bodyStart, bodyEnd)
              if (tag == "if") {
                if (truthy(lookup(arg, ctx))) out ++= renderBlock(body, ctx)
              } else {
                // for VAR in PATH
                arg.split("\\s+in\\s+", 2) match {
                  case Array(v, path) =>
                    lookup(path.trim, ctx) match {
                      case Some(items: Seq[_]) =>
                        items.foreach {
                          case m2: Map[_, _] =>
                            out ++= renderBlock(body,
                              ctx + (v.trim -> m2.asInstanceOf[Map[String, Any]]))
                          case item =>
                            out ++= renderBlock(body, ctx + (v.trim -> item))
                        }
                      case _ => ()
                    }
                  case _ => ()
                }
              }
              // skip past the matching closer tag
              val closerMatch = TagPat.findFirstMatchIn(tpl.substring(bodyEnd)).get
              pos = bodyEnd + closerMatch.end
            case _ => // stray endif/endfor: drop it
              pos = pos + m.end
          }
      }
    }
    out.toString
  }

  /** Index of the matching endif/endfor for the block opened before `from`. */
  private def findCloser(tpl: String, from: Int, opener: String): Int = {
    val closer = if (opener == "if") "endif" else "endfor"
    var depth = 1
    var pos = from
    while (depth > 0) {
      TagPat.findFirstMatchIn(tpl.substring(pos)) match {
        case None =>
          throw new IllegalArgumentException(s"unclosed {% $opener %} in template")
        case Some(m) =>
          m.group(1) match {
            case `opener` => depth += 1
            case `closer` => depth -= 1
            case _ => ()
          }
          if (depth == 0) return pos + m.start
          pos = pos + m.end
      }
    }
    pos
  }

  private def substitute(s: String, ctx: Ctx): String =
    VarPat.replaceAllIn(s, m =>
      scala.util.matching.Regex.quoteReplacement(
        lookup(m.group(1), ctx).map(show).getOrElse("")))
}

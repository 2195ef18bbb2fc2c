package graft.operators

import graft.functions.Comparator

/** Absolute/relative tolerance: one global default plus optional per-column
  * overrides (keys lowercase). Mirrors the reference's float-or-dict
  * tolerance with a `"default"` key (datacompy/base.py:737-829). */
final case class ToleranceSpec(default: Double, perColumn: Map[String, Double] = Map.empty) {
  require(default >= 0, s"tolerance must be non-negative, got $default")
  perColumn.foreach { case (k, v) =>
    require(v >= 0, s"tolerance for column '$k' must be non-negative, got $v")
  }
  def forColumn(column: String): Double =
    perColumn.getOrElse(column.toLowerCase, default)

  /** Display form for reports: bare default, or Python-dict-like with
    * overrides — numbers rendered the way Python `str` renders them
    * (int-zero default → "0", 0.0001 → "0.0001" not "1.0E-4", sub-1e-4 →
    * "1e-05" style), since the reference echoes its constructor arg
    * verbatim into the Row Summary. A zero default is omitted from the
    * dict form, like a user dict that never set the "default" key. */
  def display: String = {
    if (perColumn.isEmpty) ToleranceSpec.pythonNum(default)
    else {
      val entries = perColumn.toSeq.sortBy(_._1)
        .map { case (k, v) => s"'$k': ${ToleranceSpec.pythonNum(v)}" } ++
        (if (default == 0.0) Nil else Seq(s"'default': ${ToleranceSpec.pythonNum(default)}"))
      entries.mkString("{", ", ", "}")
    }
  }
}

object ToleranceSpec {
  val Zero: ToleranceSpec = ToleranceSpec(0.0)
  def of(d: Double): ToleranceSpec = ToleranceSpec(d)

  /** Python-`str`-style rendering of a tolerance value: "0" for the int-0
    * default, plain decimal down to 1e-4 (Python's exponent cutoff), then
    * "1e-05"-style beneath it. */
  private[operators] def pythonNum(v: Double): String =
    if (v == 0.0) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) s"${v.toLong}.0"
    else if (math.abs(v) >= 1e-4)
      new java.math.BigDecimal(v.toString).stripTrailingZeros.toPlainString
    else {
      // Java "1.5E-7" → Python "1.5e-07"; mantissa "1.0" collapses to "1"
      val Array(m, e) = v.toString.split("E")
      val mantissa = if (m.endsWith(".0")) m.dropRight(2) else m
      val exp = e.toInt
      f"${mantissa}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
    }
}

/** Constructor parameters of a comparison
  * (reference: datacompy/spark.py:132-147, datacompy/base.py:56-212). */
final case class CompareConfig(
    joinColumns: Seq[String],
    absTol: ToleranceSpec = ToleranceSpec.Zero,
    relTol: ToleranceSpec = ToleranceSpec.Zero,
    df1Name: String = "df1",
    df2Name: String = "df2",
    ignoreSpaces: Boolean = false,
    ignoreCase: Boolean = false,
    castColumnNamesLower: Boolean = true,
    customComparators: Seq[Comparator] = Nil,
    /** Persist (MEMORY_AND_DISK) the merged join for the readers that read
      * it again: the derived frames, a stats read on its own, and tolerance
      * variants. The first of them fills it. A report on a compare nothing
      * has read yet never caches: it runs as one query over the join. */
    cacheIntermediates: Boolean = true,
    /** UNCHECKED caller contract: Some(true) promises the join keys are
      * unique per frame, letting the engine plan a plain sort-merge join on
      * the keys with no pairing-rank window (the exchange-free bucketed
      * compare needs it). Wrong promises produce many-to-many joins (wrong
      * results) — use only when uniqueness is guaranteed upstream (primary
      * keys, post-dedup data). None or Some(false) = the one-shuffle
      * rank-paired join, which is correct either way; the hint only sets
      * the report's duplicates flag without reading it from the data. */
    assumeKeysUnique: Option[Boolean] = None,
    /** UNCHECKED caller contract: Some(true) promises no NULLs in any join
      * key column, letting the `assumeKeysUnique = Some(true)` join use
      * plain `===` keys, which a bucketed scan's partitioning satisfies
      * (`<=>` re-keys on null-safe tuples). No effect otherwise: the
      * rank-paired join groups NULL keys natively. */
    assumeKeysNullFree: Option[Boolean] = None) {
  require(joinColumns.nonEmpty, "join_columns must be non-empty")
  require(joinColumns.forall(_.nonEmpty), "join_columns entries must be non-empty")
  require(df1Name != df2Name, "df1_name and df2_name must differ")

  /** Join columns normalised the same way the frames' column names are. */
  def normalizedJoinColumns: Seq[String] =
    if (castColumnNamesLower) joinColumns.map(_.toLowerCase) else joinColumns
}

/** Per-column comparison statistics (reference: datacompy/base.py:40-53). */
final case class ColumnStat(
    column: String,
    matchColumn: String,
    matchCnt: Long,
    unequalCnt: Long,
    dtype1: String,
    dtype2: String,
    allMatch: Boolean,
    maxDiff: Double,
    nullDiff: Long,
    relTol: Double,
    absTol: Double)

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** Engine semantics on micro-frames, mirroring reference scenarios in
  * tests/test_spark.py (dedup :898-989, samples :1125-1368, tolerance dicts
  * :2010-2151, caching :2304-2355). */
class SparkCompareSpec extends SparkTestBase {
  import spark.implicits._

  private def cmp(a: DataFrame, b: DataFrame, keys: Seq[String],
      cfg: CompareConfig => CompareConfig = identity): SparkCompare =
    new SparkCompare(spark, a, b, cfg(CompareConfig(joinColumns = keys)))

  test("basic compare: stats, slices, predicates") {
    val a = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "s", "v")
    val b = Seq((1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)).toDF("id", "s", "v")
    val c = cmp(a, b, Seq("id"))
    assert(c.df1Count == 3 && c.df2Count == 3)
    assert(c.intersectCount == 2)
    assert(c.df1UnqCount == 1 && c.df2UnqCount == 1)
    assert(c.df1UnqRows.collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(c.df2UnqRows.collect().map(_.getInt(0)).toSeq == Seq(4))
    val sStat = c.columnStats.find(_.column == "s").get
    assert(sStat.matchCnt == 1 && sStat.unequalCnt == 1)
    val vStat = c.columnStats.find(_.column == "v").get
    assert(vStat.matchCnt == 2 && vStat.allMatch)
    assert(!c.matches())
    assert(!c.allRowsOverlap)
    assert(c.countMatchingRows == 1)
    assert(!c.intersectRowsMatch)
  }

  test("identical frames match") {
    val a = Seq((1, "x"), (2, "y")).toDF("id", "s")
    val c = cmp(a, a, Seq("id"))
    assert(c.matches())
    assert(c.subset)
    assert(c.intersectRowsMatch)
    assert(c.columnStats.forall(_.allMatch))
  }

  test("empty intersection: intersect_rows_match is false (not vacuous true)") {
    val a = Seq((1, "x")).toDF("id", "s")
    val b = Seq((2, "y")).toDF("id", "s")
    val c = cmp(a, b, Seq("id"))
    assert(!c.intersectRowsMatch)
    assert(!c.matches())
  }

  test("null join keys pair null-safely") {
    val a = Seq[(Option[Int], String)]((Some(1), "a"), (None, "n")).toDF("id", "s")
    val b = Seq[(Option[Int], String)]((Some(1), "a"), (None, "n")).toDF("id", "s")
    val c = cmp(a, b, Seq("id"))
    assert(c.intersectCount == 2)
    assert(c.matches())
  }

  test("duplicate keys pair k-th with k-th via rank") {
    // single partition ⇒ deterministic physical order, like reference tests
    val a = Seq((1, "x1"), (1, "x2"), (2, "y")).toDF("id", "s").coalesce(1)
    val b = Seq((1, "x1"), (1, "x2"), (2, "y")).toDF("id", "s").coalesce(1)
    val c = cmp(a, b, Seq("id"))
    assert(c.anyDupes)
    assert(c.intersectCount == 3)
    assert(c.matches())
    // unbalanced dupes: 2 vs 1 ⇒ one left_only
    val b2 = Seq((1, "x1"), (2, "y")).toDF("id", "s").coalesce(1)
    val c2 = cmp(a, b2, Seq("id"))
    assert(c2.intersectCount == 2 && c2.df1UnqCount == 1 && c2.df2UnqCount == 0)
  }

  test("column name lowercasing and extra columns") {
    val a = Seq((1, "x", 5)).toDF("ID", "Name", "only1")
    val b = Seq((1, "x", 6)).toDF("id", "name", "only2")
    val c = cmp(a, b, Seq("id"))
    assert(c.df1UnqColumns == Seq("only1"))
    assert(c.df2UnqColumns == Seq("only2"))
    assert(c.intersectColumns == Seq("id", "name"))
    assert(!c.matches())
    assert(c.matches(ignoreExtraColumns = true))
  }

  test("per-column tolerance dict with default key") {
    val a = Seq((1, 10.0, 100.0)).toDF("id", "x", "y")
    val b = Seq((1, 10.004, 100.4)).toDF("id", "x", "y")
    val cfg = CompareConfig(joinColumns = Seq("id"),
      absTol = ToleranceSpec(0.01, Map("y" -> 0.5)))
    val c = new SparkCompare(spark, a, b, cfg)
    assert(c.columnStats.find(_.column == "x").get.matchCnt == 1)
    assert(c.columnStats.find(_.column == "y").get.matchCnt == 1)
    val cfg2 = CompareConfig(joinColumns = Seq("id"), absTol = ToleranceSpec(0.01))
    val c2 = new SparkCompare(spark, a, b, cfg2)
    assert(c2.columnStats.find(_.column == "y").get.matchCnt == 0)
  }

  test("withTolerances shares the join but recomputes match statistics") {
    val a = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "v")
    val b = Seq((1, 10.004), (2, 20.4), (4, 40.0)).toDF("id", "v")
    val base = cmp(a, b, Seq("id"))
    assert(base.columnStats.find(_.column == "v").get.matchCnt == 0)
    val tol = base.withTolerances(ToleranceSpec.of(0.01))
    // shared shape/join state
    assert(tol.df1Count == base.df1Count && tol.intersectCount == base.intersectCount)
    assert(tol.df1UnqCount == 1 && tol.df2UnqCount == 1)
    // tolerance-specific stats diverge
    assert(tol.columnStats.find(_.column == "v").get.matchCnt == 1)
    assert(tol.columnStats.find(_.column == "v").get.absTol == 0.01)
    val wide = base.withTolerances(ToleranceSpec.of(0.5))
    assert(wide.columnStats.find(_.column == "v").get.matchCnt == 2)
  }

  test("withMatchSettings shares the join; string-key ignoreSpaces rejected") {
    val a = Seq((1, " x ", 1.0), (2, "y", 2.0)).toDF("id", "s", "v")
    val b = Seq((1, "x", 1.0), (2, "Y", 2.0)).toDF("id", "s", "v")
    val base = cmp(a, b, Seq("id"))
    assert(base.columnStats.find(_.column == "s").get.matchCnt == 0)
    val norm = base.withMatchSettings(ignoreSpaces = true, ignoreCase = true)
    assert(norm.intersectCount == base.intersectCount)
    assert(norm.columnStats.find(_.column == "s").get.matchCnt == 2)
    val custom = base.withMatchSettings(customComparators = Seq(ComparePack.LengthComparator))
    // length comparator: " x " (3) vs "x" (1) mismatch, "y" vs "Y" match
    assert(custom.columnStats.find(_.column == "s").get.matchCnt == 1)
    // string JOIN key + changed ignoreSpaces would alter the join: rejected
    val sk = cmp(a, b, Seq("s"))
    assertThrows[IllegalArgumentException] { sk.withMatchSettings(ignoreSpaces = true) }
  }

  test("ignore_spaces trims string join keys") {
    val a = Seq((" k1 ", 1.0)).toDF("id", "v")
    val b = Seq(("k1", 1.0)).toDF("id", "v")
    val c = new SparkCompare(spark, a, b,
      CompareConfig(joinColumns = Seq("id"), ignoreSpaces = true))
    assert(c.intersectCount == 1 && c.matches())
  }

  test("max_diff and null_diff") {
    val a = Seq[(Int, Option[Double])]((1, Some(1.0)), (2, Some(5.0)), (3, None))
      .toDF("id", "v")
    val b = Seq[(Int, Option[Double])]((1, Some(2.5)), (2, None), (3, None))
      .toDF("id", "v")
    val st = cmp(a, b, Seq("id")).columnStats.find(_.column == "v").get
    assert(st.maxDiff == 1.5)
    assert(st.nullDiff == 1)
  }

  test("sample_mismatch returns keys + both versions, capped") {
    val a = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s")
    val b = Seq((1, "X"), (2, "Y"), (3, "c")).toDF("id", "s")
    val c = cmp(a, b, Seq("id"))
    val sm = c.sampleMismatch("s", sampleCount = 10)
    assert(sm.columns.toSeq == Seq("id", "s_df1", "s_df2"))
    assert(sm.count() == 2)
    val smd = c.sampleMismatch("s", sampleCount = 1, forDisplay = true)
    assert(smd.columns.toSeq == Seq("id", "s (df1)", "s (df2)"))
    assert(smd.count() == 1)
  }

  test("all_mismatch full and ignore_matching_cols") {
    val a = Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "s", "v")
    val b = Seq((1, "X", 1.0), (2, "b", 2.0)).toDF("id", "s", "v")
    val c = cmp(a, b, Seq("id"))
    val all = c.allMismatch()
    assert(all.columns.toSeq == Seq("id", "s_df1", "s_df2", "v_df1", "v_df2"))
    assert(all.count() == 1)
    val slim = c.allMismatch(ignoreMatchingCols = true)
    assert(slim.columns.toSeq == Seq("id", "s_df1", "s_df2"))
  }

  test("only_join_columns path: mismatches come from unique rows") {
    val a = Seq(Tuple1(1), Tuple1(2)).toDF("id")
    val b = Seq(Tuple1(2), Tuple1(3)).toDF("id")
    val c = cmp(a, b, Seq("id"))
    assert(c.onlyJoinColumns)
    assert(c.allMismatch().collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    assert(c.sampleMismatch("id", 10).count() == 2)
  }

  test("subset semantics") {
    val a = Seq((1, "a", 9), (2, "b", 9)).toDF("id", "s", "extra")
    val b = Seq((1, "a")).toDF("id", "s")
    val c = cmp(a, b, Seq("id"))
    assert(c.subset)
    val c2 = cmp(b.toDF(), a, Seq("id"))
    assert(!c2.subset)
  }

  test("duplicate column names after lowercasing are rejected") {
    val a = Seq((1, 2, 3)).toDF("id", "X", "x")
    val b = Seq((1, 2)).toDF("id", "x")
    assertThrows[IllegalArgumentException] { cmp(a, b, Seq("id")) }
  }

  test("per-column tolerance keys must name a real column") {
    val a = Seq((1, 10.0)).toDF("id", "v")
    val b = Seq((1, 10.0)).toDF("id", "v")
    assertThrows[IllegalArgumentException] {
      cmp(a, b, Seq("id"), _.copy(absTol = ToleranceSpec(0.0, Map("typo" -> 0.1))))
    }
    assertThrows[IllegalArgumentException] {
      cmp(a, b, Seq("id"), _.copy(relTol = ToleranceSpec(0.0, Map("vv" -> 0.1))))
    }
    // valid key passes
    assert(cmp(a, b, Seq("id"), _.copy(absTol = ToleranceSpec(0.0, Map("v" -> 0.1)))).matches())
  }

  test("missing join column is rejected") {
    val a = Seq(Tuple1(1)).toDF("id")
    val b = Seq(Tuple1(1)).toDF("other")
    assertThrows[IllegalArgumentException] { cmp(a, b, Seq("id")) }
  }

  test("sensitive columns mask samples but not statistics") {
    val a = Seq((1, "secret1", 10.0), (2, "secret2", 20.0)).toDF("id", "ssn", "v")
    val b = Seq((1, "secret1", 10.0), (2, "other", 20.5)).toDF("id", "ssn", "v")
    val c = cmp(a, b, Seq("id"))
    c.hideSensitiveColumns(Seq("SSN"))
    assert(c.sensitiveColumns == Seq("ssn"))
    // samples masked
    val sample = c.sampleMismatch("ssn").collect()
    assert(sample.forall(r => r.getString(1) == "*******" && r.getString(2) == "*******"))
    // stats computed on real values
    assert(c.columnStats.find(_.column == "ssn").get.unequalCnt == 1)
    assert(c.columnStats.find(_.column == "v").get.maxDiff == 0.5)
    // double-hide rejected; reveal restores
    assertThrows[IllegalStateException] { c.hideSensitiveColumns(Seq("v")) }
    c.revealSensitiveColumns()
    assert(c.sampleMismatch("ssn").collect().exists(_.getString(1) == "secret2"))
  }

  test("assume-hints skip probes but preserve results on conforming data") {
    val a = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "s", "v")
    val b = Seq((1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)).toDF("id", "s", "v")
    val hinted = cmp(a, b, Seq("id"),
      _.copy(assumeKeysUnique = Some(true), assumeKeysNullFree = Some(true)))
    val probed = cmp(a, b, Seq("id"))
    assert(hinted.intersectCount == probed.intersectCount)
    assert(hinted.df1Count == probed.df1Count && hinted.df2Count == probed.df2Count)
    assert(hinted.df1UnqCount == probed.df1UnqCount)
    assert(!hinted.anyDupes)
    assert(hinted.columnStats.map(s => (s.column, s.matchCnt, s.unequalCnt)) ==
      probed.columnStats.map(s => (s.column, s.matchCnt, s.unequalCnt)))
    assert(hinted.countMatchingRows == probed.countMatchingRows)
  }

  test("probe-free counts from slice arithmetic handle empty and dupe inputs") {
    // empty right side with hints: counts come from the stats pass
    val a = Seq((1, "x"), (2, "y")).toDF("id", "s")
    val empty = Seq.empty[(Int, String)].toDF("id", "s")
    val c = cmp(a, empty, Seq("id"),
      _.copy(assumeKeysUnique = Some(true), assumeKeysNullFree = Some(true)))
    assert(c.df1Count == 2 && c.df2Count == 0)
    assert(c.df1UnqCount == 2 && c.df2UnqCount == 0 && c.intersectCount == 0)
    // known-duplicate hint: probe skipped, rank pairing still correct
    val d1 = Seq((1, "x1"), (1, "x2"), (2, "y")).toDF("id", "s").coalesce(1)
    val d2 = Seq((1, "x1"), (2, "y")).toDF("id", "s").coalesce(1)
    val cd = cmp(d1, d2, Seq("id"),
      _.copy(assumeKeysUnique = Some(false), assumeKeysNullFree = Some(true)))
    assert(cd.anyDupes)
    assert(cd.df1Count == 3 && cd.df2Count == 2)
    assert(cd.intersectCount == 2 && cd.df1UnqCount == 1 && cd.df2UnqCount == 0)
    // Some(false) on genuinely unique data: ranks are all 0, results unchanged
    val u = cmp(a, a, Seq("id"),
      _.copy(assumeKeysUnique = Some(false), assumeKeysNullFree = Some(true)))
    assert(u.matches() && u.intersectCount == 2)
  }

  test("probe computes both sides' shapes in one pass (empty side handled)") {
    val a = Seq((1, "x"), (1, "y")).toDF("id", "s").coalesce(1)
    val empty = Seq.empty[(Int, String)].toDF("id", "s")
    val c = cmp(a, empty, Seq("id"))
    assert(c.df1Count == 2 && c.df2Count == 0)
    assert(c.anyDupes) // dupes on side 1 detected
    assert(c.intersectCount == 0 && c.df1UnqCount == 2 && c.df2UnqCount == 0)
  }

  test("cache opt-out still computes correctly") {
    val a = Seq((1, "a")).toDF("id", "s")
    val b = Seq((1, "a")).toDF("id", "s")
    val c = new SparkCompare(spark, a, b,
      CompareConfig(joinColumns = Seq("id"), cacheIntermediates = false))
    assert(c.matches())
  }

  test("string max diff: numeric, non-numeric, special and NULL strings") {
    val a = Seq(
      (1, "1.5", "abc", "1e3", "2.5", "Infinity"),
      (2, "abc", "x", "NaN", "4", "1"),
      (3, " 1", "5", "Infinity", "1", "2"),
      (4, "NaN", null, "-0", "3", null),
      (5, "Infinity", "q", null, "7", "5"),
      (6, "-0", "w", "8", "0.5", "abc"),
      (7, null, "7", "9", "1", "3"),
      (8, "4", "s", "x", "2", "4"))
      .toDF("id", "num", "text", "same", "mixed", "inf")
    val b = Seq(
      (1, "2.5", "abd", "1000", 1.0, "1"),
      (2, "abd", "y", "NaN", 4.0, "1"),
      (3, "1", "5", "Infinity", 1.0, "3"),
      (4, "NaN", "z", "0", 3.0, "4"),
      (5, "Infinity", "r", "1", 7.0, "5"),
      (6, "0", "e", "8", 0.25, "def"),
      (7, "3", null, null, 1.0, null),
      (8, null, "t", "x", 2.0, "4"))
      .toDF("id", "num", "text", "same", "mixed", "inf")
    val c = cmp(a.repartition(3), b.repartition(2), Seq("id"))
    val maxDiff = c.columnStats.map(s => s.column -> s.maxDiff).toMap
    // "1.5"/"2.5" is the only numeric unequal pair that differs in value
    assert(maxDiff("num") == 1.0)
    // every unequal pair is non-numeric; "5"/"5" is equal
    assert(maxDiff("text") == 0.0)
    // unequal strings of equal value ("1e3"/"1000", "-0"/"0"), equal NaN,
    // Infinity and numeric strings
    assert(maxDiff("same") == 0.0)
    // string against double keeps the plain double view
    assert(maxDiff("mixed") == 1.5)
    // "Infinity"/"1" is an infinite diff
    assert(maxDiff("inf") == Double.PositiveInfinity)
    assert(c.columnStats.find(_.column == "text").get.nullDiff == 2L)
  }
}

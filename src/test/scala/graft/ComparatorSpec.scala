package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Comparator pipeline semantics, mirroring the reference's scenarios in
  * tests/test_spark.py:59-632 and tests/comparator/. */
class ComparatorSpec extends SparkTestBase {
  import spark.implicits._

  private def evalMatch(df: DataFrame, c1: String, c2: String,
      opts: CompareOpts = CompareOpts(), custom: Seq[Comparator] = Nil): Seq[Boolean] = {
    val e = ComparatorPipeline.columnsEqual(df, c1, c2, opts, custom)
    df.select(e.as("m")).collect().map(_.getBoolean(0)).toSeq
  }

  test("numeric exact: equal, unequal, null<=>null, null vs value") {
    val df = Seq[(Option[Double], Option[Double])](
      (Some(1.0), Some(1.0)),
      (Some(1.0), Some(2.0)),
      (None, None),
      (Some(1.0), None)
    ).toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(true, false, true, false))
  }

  test("numeric NaN: NaN==NaN, NaN!=value, NaN!=null") {
    val df = Seq(
      (Double.NaN, Double.NaN),
      (Double.NaN, 1.0),
      (1.0, Double.NaN)
    ).toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(true, false, false))
    // NaN vs NULL: NaN is a value, null is not
    val df2 = Seq[(Option[Double], Option[Double])](
      (Some(Double.NaN), None)).toDF("a", "b")
    assert(evalMatch(df2, "a", "b") == Seq(false))
  }

  test("numeric abs/rel tolerance") {
    val df = Seq((1.0, 1.005), (1.0, 1.02), (100.0, 101.0)).toDF("a", "b")
    assert(evalMatch(df, "a", "b", CompareOpts(absTol = 0.01)) == Seq(true, false, false))
    // rel: |a-b| <= rtol*|b| → 0.005<=0.0201 T, 0.02<=0.0204 T, 1.0<=2.02 T
    assert(evalMatch(df, "a", "b", CompareOpts(relTol = 0.02)) == Seq(true, true, true))
    assert(evalMatch(df, "a", "b", CompareOpts(relTol = 0.001)) == Seq(false, false, false))
  }

  test("integer vs double cross-type compare casts safely (ANSI)") {
    val df = Seq((1L, 1.0), (2L, 2.5), (Long.MaxValue, 1.0)).toDF("a", "b")
    assert(evalMatch(df, "a", "b", CompareOpts(absTol = 0.6)) == Seq(true, true, false))
  }

  test("decimal compares exactly") {
    val df = Seq(("1.10", "1.10"), ("1.10", "1.11")).toDF("x", "y")
      .select(col("x").cast("decimal(10,2)").as("a"), col("y").cast("decimal(10,2)").as("b"))
    assert(evalMatch(df, "a", "b") == Seq(true, false))
  }

  test("string equality with ignore_spaces / ignore_case") {
    val df = Seq(("abc", "abc"), (" abc ", "abc"), ("ABC", "abc"), ("a", "b"))
      .toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(true, false, false, false))
    assert(evalMatch(df, "a", "b", CompareOpts(ignoreSpaces = true)) ==
      Seq(true, true, false, false))
    assert(evalMatch(df, "a", "b", CompareOpts(ignoreCase = true)) ==
      Seq(true, false, true, false))
    assert(evalMatch(df, "a", "b", CompareOpts(ignoreSpaces = true, ignoreCase = true)) ==
      Seq(true, true, true, false))
  }

  test("string vs date via TRY_CAST: valid, malformed, null-safe") {
    val df = Seq(("2020-01-02", "2020-01-02"), ("garbage", "2020-01-02"))
      .toDF("s", "d0")
      .select(col("s"), col("d0").cast("date").as("d"))
    assert(evalMatch(df, "s", "d") == Seq(true, false))
    assert(evalMatch(df, "d", "s") == Seq(true, false))
  }

  test("boolean vs boolean and boolean vs numeric (1/0 literals)") {
    val b = Seq[(Option[Boolean], Option[Boolean])](
      (Some(true), Some(true)), (Some(true), Some(false)), (None, None), (Some(false), None)
    ).toDF("a", "b")
    assert(evalMatch(b, "a", "b") == Seq(true, false, true, false))
    val bn = Seq[(Option[Boolean], Option[Long])](
      (Some(true), Some(1L)), (Some(false), Some(0L)), (Some(true), Some(0L)),
      (Some(true), Some(2L)), (None, None), (None, Some(1L))
    ).toDF("a", "b")
    assert(evalMatch(bn, "a", "b") == Seq(true, true, false, false, true, false))
  }

  test("infinity compares match the reference's pinned Spark semantics") {
    // Reference (tests/test_spark.py:611-632) expects Inf vs -Inf to MATCH:
    // the tolerance branch computes rtol*|b| = 0*Inf = NaN, and Spark orders
    // every value <= NaN, so the ladder answers true. Deliberate parity.
    val df = Seq(
      (Double.PositiveInfinity, Double.PositiveInfinity),
      (Double.PositiveInfinity, Double.NegativeInfinity),
      (Double.PositiveInfinity, 1.0),
      (Double.NegativeInfinity, Double.NegativeInfinity)
    ).toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(true, true, false, true))
  }

  test("boolean vs high-precision decimal: 1.000000000000000001 is not True") {
    val df = Seq(("1.000000000000000001", "1"))
      .toDF("d0", "b0")
      .select(col("d0").cast("decimal(38,18)").as("d"), col("b0").cast("boolean").as("b"))
    assert(evalMatch(df, "b", "d") == Seq(false))
    val exact = Seq(("1.000000000000000000", "1")).toDF("d0", "b0")
      .select(col("d0").cast("decimal(38,18)").as("d"), col("b0").cast("boolean").as("b"))
    assert(evalMatch(exact, "b", "d") == Seq(true))
  }

  test("arrays with NULL elements compare null-safely as whole values") {
    val df = Seq(
      (Seq[Integer](1, null, 3), Seq[Integer](1, null, 3)),
      (Seq[Integer](1, null, 3), Seq[Integer](1, 2, 3))
    ).toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(true, false))
  }

  test("boolean vs string declines to fallthrough false (no implicit cast)") {
    val df = Seq((true, "true")).toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(false))
  }

  test("array equality is whole-value and null-safe") {
    val df = Seq(
      (Seq(1, 2), Seq(1, 2)),
      (Seq(1, 2), Seq(2, 1)),
      (null, null)
    ).toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(true, false, true))
  }

  test("unsupported type pair (map) falls through to literal false") {
    val df = Seq((Map("k" -> 1), Map("k" -> 1))).toDF("a", "b")
    assert(evalMatch(df, "a", "b") == Seq(false))
  }

  test("free functions: columnsEqual, calculateMaxDiff, calculateNullDiff") {
    import graft.functions.CompareFunctions._
    val df = Seq[(Option[Double], Option[Double])](
      (Some(1.0), Some(2.5)), (Some(5.0), None), (None, None)
    ).toDF("a", "b")
    assert(df.select(columnsEqual(df, "a", "b").as("m"))
      .collect().map(_.getBoolean(0)).toSeq == Seq(false, false, true))
    assert(calculateMaxDiff(df, "a", "b") == 1.5)
    assert(calculateNullDiff(df, "a", "b") == 1)
    val strs = Seq(("x", "y")).toDF("a", "b")
    assert(calculateMaxDiff(strs, "a", "b") == 0.0)
  }

  test("calculateMaxDiff on string pairs: numeric, non-numeric, special and NULL strings") {
    def maxDiff(pairs: (String, String)*): Double =
      CompareFunctions.calculateMaxDiff(pairs.toDF("a", "b").repartition(2), "a", "b")
    assert(maxDiff(("1.5", "2.5"), ("4", "4"), ("abc", "abd")) == 1.0)
    assert(maxDiff(("abc", "abd"), ("x", "x"), ("5", "5")) == 0.0)
    // unequal strings of equal value, equal NaN and Infinity
    assert(maxDiff(("1e3", "1000"), ("-0", "0"), ("NaN", "NaN"), ("Infinity", "Infinity"),
      (" 1", "1")) == 0.0)
    assert(maxDiff(("NaN", "1"), ("2", "3.5")) == 1.5)
    assert(maxDiff(("Infinity", "1"), ("1", "2")) == Double.PositiveInfinity)
    assert(maxDiff((null, "3"), ("7", null), (null, null)) == 0.0)
    assert(maxDiff((null, "3"), (" 1", "3")) == 2.0)
  }

  test("custom comparator is consulted first and may decline") {
    object LengthComparator extends Comparator {
      def compare(df: DataFrame, c1: String, c2: String, opts: CompareOpts): Option[Column] =
        if (TypeClasses.isStringLike(df.schema(c1).dataType) &&
          TypeClasses.isStringLike(df.schema(c2).dataType))
          Some(length(col(c1)) <=> length(col(c2)))
        else None
    }
    val df = Seq(("abc", "xyz"), ("ab", "abc")).toDF("a", "b")
    assert(evalMatch(df, "a", "b", custom = Seq(LengthComparator)) == Seq(true, false))
    // declines on numerics → default numeric comparator takes over
    val dfn = Seq((1.0, 1.0)).toDF("a", "b")
    assert(evalMatch(dfn, "a", "b", custom = Seq(LengthComparator)) == Seq(true))
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.operators._

/** Golden-snapshot report tests mirroring the reference's nine scenario
  * families (tests/test_report_snapshots.py:1-132, committed under tests/snapshots):
  * no_mismatches, with_mismatches, unique_rows, unique_columns, duplicates,
  * with_tolerances, sample_count, sample_count_zero, plus the original mixed
  * case. (on_index is pandas-only — Spark frames have no index.)
  *
  * Regenerate with GRAFT_REGEN_SNAPSHOTS=1. Frames are single partition +
  * ordered so sample sections are deterministic. */
class ReportGoldenSpec extends SparkTestBase {
  import spark.implicits._

  private def one(df: DataFrame): DataFrame = df.coalesce(1)

  private def check(name: String, text: String): Unit = {
    val path = Paths.get(s"src/test/resources/snapshots/$name.txt")
    if (sys.env.get("GRAFT_REGEN_SNAPSHOTS").contains("1") || !Files.exists(path)) {
      Files.createDirectories(path.getParent)
      Files.writeString(path, text)
      info(s"snapshot written to $path")
    }
    val expected = Files.readString(path)
    assert(text == expected,
      s"report '$name' drifted from golden snapshot; regen with GRAFT_REGEN_SNAPSHOTS=1 if intended")
  }

  test("no_mismatches") {
    val df = one(Seq((1, 10, "a"), (2, 20, "b"), (3, 30, "c")).toDF("id", "val", "name"))
    val c = new SparkCompare(spark, df, df, CompareConfig(
      joinColumns = Seq("id"), df1Name = "left", df2Name = "right"))
    check("no_mismatches", c.report())
  }

  test("with_mismatches") {
    val a = one(Seq((1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)).toDF("id", "val", "score"))
    val b = one(Seq((1, 10, 1.0), (2, 99, 2.5), (3, 30, 3.0)).toDF("id", "val", "score"))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    check("with_mismatches", c.report())
  }

  test("unique_rows") {
    val a = one(Seq((1, 10), (2, 20), (3, 30)).toDF("id", "val"))
    val b = one(Seq((1, 10), (2, 20), (4, 40)).toDF("id", "val"))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    check("unique_rows", c.report())
  }

  test("unique_columns") {
    val a = one(Seq((1, 1, 9), (2, 2, 9)).toDF("id", "shared", "only_1"))
    val b = one(Seq((1, 1, 8), (2, 2, 8)).toDF("id", "shared", "only_2"))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    check("unique_columns", c.report())
  }

  test("duplicates") {
    val a = one(Seq((1, 10), (1, 20), (2, 30)).toDF("id", "val"))
    val b = one(Seq((1, 10), (1, 20), (2, 30)).toDF("id", "val"))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    check("duplicates", c.report())
  }

  test("with_tolerances") {
    val a = one(Seq((1, 1.0), (2, 2.0)).toDF("id", "val"))
    val b = one(Seq((1, 1.0001), (2, 2.0001)).toDF("id", "val"))
    val c = new SparkCompare(spark, a, b, CompareConfig(
      joinColumns = Seq("id"), absTol = ToleranceSpec.of(0.001)))
    check("with_tolerances", c.report())
  }

  test("sample_count") {
    val a = one(Seq((1, 10), (2, 20), (3, 30)).toDF("id", "val"))
    val b = one(Seq((1, 11), (2, 22), (3, 33)).toDF("id", "val"))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    check("sample_count", c.report(sampleCount = 2))
  }

  test("sample_count_zero") {
    val a = one(Seq((1, 10), (2, 20), (3, 30)).toDF("id", "val"))
    val b = one(Seq((1, 11), (2, 22), (3, 33)).toDF("id", "val"))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    check("sample_count_zero", c.report(sampleCount = 0))
  }

  test("timestamps_and_nulls (display formatting of temporal and missing values)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val a = one(Seq(
      (1, Some("x"), Option(1.5), Some(ts("2024-01-01 10:00:00"))),
      (2, None, Option(2.5), Some(ts("2024-02-02 12:30:45"))),
      (3, Some("z"), Option.empty[Double], Option.empty[java.sql.Timestamp])
    ).toDF("id", "s", "v", "t"))
    val b = one(Seq(
      (1, Some("x"), Option(1.5), Some(ts("2024-01-01 10:00:00"))),
      (2, Some("y"), Option(9.5), Some(ts("2024-02-03 12:30:45"))),
      (3, Some("z"), Option(3.5), Some(ts("2024-03-03 00:00:00")))
    ).toDF("id", "s", "v", "t"))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    check("timestamps_and_nulls", c.report())
  }

  test("mixed (tolerance + mismatches + unique rows)") {
    val a = one(Seq(
      (1, "alpha", 10.0), (2, "beta", 20.0), (3, "gamma", 30.0), (5, "eps", 50.0)
    ).toDF("id", "s", "v").orderBy("id"))
    val b = one(Seq(
      (1, "alpha", 10.0), (2, "BETA", 20.5), (4, "delta", 40.0)
    ).toDF("id", "s", "v").orderBy("id"))
    val c = new SparkCompare(spark, a, b, CompareConfig(
      joinColumns = Seq("id"), absTol = ToleranceSpec.of(0.1)))
    check("mixed", c.report())
  }

  test("report_json (buildReportData().toJson: mismatches, unique rows, " +
    "per-column tolerance dict)") {
    val a = one(Seq(
      (1, "alpha", 10.0, 1L), (2, "be\"ta", 20.0, 2L), (3, "gamma", 30.0, 3L),
      (5, "eps\nilon", 50.0, 5L)
    ).toDF("id", "s", "v", "n").orderBy("id"))
    val b = one(Seq(
      (1, "alpha", 10.05, 1L), (2, "BETA", 20.5, 7L), (3, "gamma", 30.0, 3L),
      (4, "delta", 40.0, 4L)
    ).toDF("id", "s", "v", "n").orderBy("id"))
    val c = new SparkCompare(spark, a, b, CompareConfig(
      joinColumns = Seq("id"), df1Name = "left", df2Name = "right",
      absTol = ToleranceSpec(0.01, Map("v" -> 0.1)),
      relTol = ToleranceSpec.of(0.001)))
    check("report_json", c.buildReportData().toJson)
  }
}

package graft

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import graft.report.{ReportData, TextTable, UniqueRowsData}

/** The report's sample tables come from one query over the cached join.
  * Each table must equal the per-column API's rendering byte for byte:
  * `sampleMismatch(c, n, forDisplay = true)` for a mismatching column, and
  * the first `n` rows of the first `columnCount` columns of a unique-row
  * slice. */
class ReportSamplesSpec extends SparkTestBase {
  import spark.implicits._

  private type R = (Option[Int], String, Double, String, Long, Option[Timestamp], Int)

  /** 120 key groups (k1, k2) plus unique rows on both sides. k1 is NULL
    * for every 20th group; every 15th group has two identical rows a side
    * and every 25th two against three. Side 2 differs in `a` every 3rd
    * group (by 10 every 6th, by 0.5 otherwise), in `b` every 17th, in `c`
    * every 23rd, and has a NULL `d` every 11th; `e` always matches. */
  private def frames(): (DataFrame, DataFrame) = {
    def row(g: Int, side: Int): R = {
      val k1 = if (g % 20 == 3) None else Some(g)
      val shift = if (side == 1 || g % 3 != 0) 0.0 else if (g % 6 == 0) 10.0 else 0.5
      val a = g * 1.5 + shift
      val b = if (side == 2 && g % 17 == 0) s"B$g" else s"b$g"
      val c = g.toLong + (if (side == 2 && g % 23 == 0) 1L else 0L)
      val d =
        if (side == 2 && g % 11 == 0) None else Some(new Timestamp(1700000000000L + g * 1000L))
      (k1, if (k1.isEmpty) s"n$g" else s"k${g % 10}", a, b, c, d, g)
    }
    def copies(g: Int, side: Int): Int =
      if (g % 25 == 0) side + 1 else if (g % 15 == 0) 2 else 1
    def side(s: Int, extra: Range): Seq[R] =
      (0 until 120).flatMap(g => Seq.fill(copies(g, s))(row(g, s))) ++ extra.map(row(_, s))
    val cols = Seq("k1", "k2", "a", "b", "c", "d", "e")
    (side(1, 200 until 211).toDF(cols: _*).repartition(3),
      side(2, 300 until 312).toDF(cols: _*).repartition(2))
  }

  /** Runs `body` with post-shuffle partition coalescing off, so the cached
    * join keeps all of its shuffle partitions and samples span several. */
  private def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertSamplesMatch(c: SparkCompare, n: Int, columnCount: Int = 10): ReportData = {
    val data = c.buildReportData(n, columnCount)
    val mismatching = c.columnStats.filter(s => !s.allMatch && s.unequalCnt > 0).map(_.column)
    assert(data.mismatchStats.samples ==
      mismatching.map(m => TextTable.dfToStr(c.sampleMismatch(m, n, forDisplay = true))))
    def unique(df: DataFrame, count: Long, got: UniqueRowsData): Unit = {
      val shown = math.min(n.toLong, count).toInt
      if (shown > 0)
        assert(got == UniqueRowsData(hasRows = true, rows = TextTable.dfToStr(
          df.select(df.columns.take(columnCount).map(col).toIndexedSeq: _*), shown)))
      else assert(!got.hasRows)
    }
    unique(c.df1UnqRows, c.df1UnqCount, data.df1UniqueRows)
    unique(c.df2UnqRows, c.df2UnqCount, data.df2UniqueRows)
    data
  }

  private def compare(a: DataFrame, b: DataFrame): SparkCompare =
    new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("k1", "k2")))

  test("fused samples equal the per-column samples over a multi-partition join") {
    uncoalesced {
      val (a, b) = frames()
      val c = compare(a, b)
      try {
        assert(c.anyDupes)
        assert(c.df1UnqRows.rdd.getNumPartitions >= 4)
        assert(c.columnsWithMismatches == Seq("a", "b", "c", "d"))
        val data = assertSamplesMatch(c, 4)
        // every table is full: more than four mismatches or unique rows each
        assert(data.mismatchStats.samples.forall(_.split("\n").length == 5))
        assert(data.df1UniqueRows.rows.split("\n").length == 5)
        assertSamplesMatch(c, 3, columnCount = 3)
        assertSamplesMatch(c, 0)
        // more rows than some columns mismatch in
        assertSamplesMatch(c, 9)
      } finally c.unpersist()
    }
  }

  test("fused samples: masked cells, tolerance variants, only-join-column frames") {
    uncoalesced {
      val (a, b) = frames()
      val c = compare(a, b)
      try {
        c.hideSensitiveColumns(Seq("k2", "b"))
        val masked = assertSamplesMatch(c, 4)
        assert(masked.mismatchStats.samples.forall(_.contains("*******")))
        assert(masked.df2UniqueRows.rows.contains("*******"))
        c.revealSensitiveColumns()
        val loose = c.withTolerances(ToleranceSpec(1.0))
        assert(loose.columnStats.find(_.column == "a").get.unequalCnt <
          c.columnStats.find(_.column == "a").get.unequalCnt)
        assertSamplesMatch(loose, 4)
      } finally c.unpersist()

      // Only join columns, typed int against double: the per-column table
      // is df1's unique keys, then df2's, at the union's widened type.
      val keysOnly = compare(a.select("k1", "k2"),
        b.select(col("k1").cast("double").as("k1"), col("k2")))
      try {
        assert(keysOnly.onlyJoinColumns)
        val data = assertSamplesMatch(keysOnly, 15)
        assert(data.mismatchStats.samples.head.split("\n").length == 16)
        assertSamplesMatch(keysOnly, 4)
        keysOnly.hideSensitiveColumns(Seq("k1"))
        assertSamplesMatch(keysOnly, 15)
      } finally keysOnly.unpersist()
    }
  }

  /** Jobs started by `body` on this thread, counted by a listener; a
    * sentinel job started afterwards proves every earlier event arrived. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach { v =>
          if (v == id) jobs.incrementAndGet()
          else if (v == s"$id-end") flushed.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      def tagged(v: String)(f: => Unit): Unit = {
        sc.setLocalProperty(key, v)
        try f finally sc.setLocalProperty(key, null)
      }
      tagged(id)(body)
      tagged(s"$id-end")(sc.parallelize(Seq(1), 1).count())
      assert(flushed.await(60, TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("report samples cost at most two jobs, none when nothing is sampled") {
    val width = 12
    val base = spark.range(0, 400, 1, 4)
      .select(col("id") +: (0 until width).map(i => (col("id") * (i + 1)).as(s"v$i")): _*)
    def changed(n: Int) = base.select(col("id") +: (0 until width).map { i =>
      (if (i < n) when(col("id") % 13 === i, col(s"v$i") + 1).otherwise(col(s"v$i"))
       else col(s"v$i")).as(s"v$i")
    }: _*)
    for (mismatching <- Seq(1, width)) {
      val c = new SparkCompare(spark, base.where(col("id") > 3), changed(mismatching),
        CompareConfig(joinColumns = Seq("id")))
      try {
        assert(c.columnsWithMismatches.size == mismatching)
        assert(c.df1UnqCount == 0 && c.df2UnqCount == 4)
        val jobs = jobsDuring(c.buildReportData(10, 10))
        assert(jobs >= 1 && jobs <= 2, s"$mismatching mismatching columns: $jobs jobs")
      } finally c.unpersist()
    }
    val same = new SparkCompare(spark, base, base, CompareConfig(joinColumns = Seq("id")))
    try {
      assert(same.matches())
      assert(jobsDuring(same.buildReportData(10, 10)) == 0)
    } finally same.unpersist()
  }
}

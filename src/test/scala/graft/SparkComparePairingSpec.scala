package graft

import java.sql.{Date, Timestamp}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.util.{Random, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.BinaryComparison
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CompareFunctions
import graft.operators._

/** The merged join of an unhinted compare (one union, one shuffle, windows
  * that rank and pair) against an in-test oracle of the two-shuffle
  * algorithm it replaces: a pairing rank per input, then a `<=>` full
  * outer join on (keys, rank). Randomised frames with fixed seeds, four
  * partitions each, run in whichever ANSI mode the suite runs in. */
class SparkComparePairingSpec extends SparkTestBase {

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  /** Pairing rank per input, then a `<=>` full outer join on keys ++ rank;
    * string keys trimmed after ranking under `ignoreSpaces`. */
  private def oracle(a: DataFrame, b: DataFrame, keys: Seq[String], ignoreSpaces: Boolean): DataFrame = {
    def side(df: DataFrame, n: String, flag: String) = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(monotonically_increasing_id())
      val ranked = df.withColumn("__rank", row_number().over(w) - 1)
      val trimmed = keys.foldLeft(ranked) { (d, k) =>
        if (ignoreSpaces && d.schema(k).dataType == StringType) d.withColumn(k, trim(col(k))) else d
      }
      trimmed.select(trimmed.columns.toIndexedSeq.map(c => col(c).as(s"${c}_$n")) :+ lit(true).as(flag): _*)
    }
    val cond = (keys :+ "__rank").map(k => col(s"${k}_df1") <=> col(s"${k}_df2")).reduce(_ && _)
    side(a, "df1", "_merge_left").join(side(b, "df2", "_merge_right"), cond, "full_outer")
      .withColumn("_merge",
        when(col("_merge_left") === true && col("_merge_right").isNull, "left_only")
          .when(col("_merge_left").isNull && col("_merge_right") === true, "right_only")
          .otherwise("both"))
      .drop("__rank_df1", "__rank_df2")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
  private def typed(df: DataFrame): Seq[(String, DataType)] = df.schema.map(f => (f.name, f.dataType))
  private def dupes(df: DataFrame, keys: Seq[String]): Boolean =
    df.groupBy(keys.map(col): _*).count().where(col("count") > 1).count() > 0

  private def assertEquivalent(a: DataFrame, b: DataFrame, keys: Seq[String],
      ignoreSpaces: Boolean = false): Unit = {
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = keys, ignoreSpaces = ignoreSpaces))
    val o = oracle(a, b, keys, ignoreSpaces).cache()
    try {
      def slice(m: String, df: DataFrame, n: String) =
        o.where(col("_merge") === m).select(df.columns.toIndexedSeq.map(x => col(s"${x}_$n").as(x)): _*)
      val both = o.where(col("_merge") === "both")
      assert(rows(c.df1UnqRows) == rows(slice("left_only", a, "df1")))
      assert(rows(c.df2UnqRows) == rows(slice("right_only", b, "df2")))
      val inter = c.intersectRows
      val plain = inter.select(both.columns.toIndexedSeq.map(col): _*)
      assert(inter.columns.filterNot(both.columns.contains).forall(_.endsWith("_match")))
      assert(typed(plain) == typed(both))
      assert(rows(plain) == rows(both))
      val bothCount = both.count()
      assert((c.df1Count, c.df2Count) == (a.count(), b.count()))
      assert((c.intersectCount, c.df1UnqCount, c.df2UnqCount) ==
        ((bothCount, slice("left_only", a, "df1").count(), slice("right_only", b, "df2").count())))
      assert(c.anyDupes == (dupes(a, keys) || dupes(b, keys)))
      val compared = a.columns.intersect(b.columns).filterNot(keys.contains).toSeq
      val expected = compared.map { x =>
        val (l, r) = (s"${x}_df1", s"${x}_df2")
        val matched = both.where(CompareFunctions.columnsEqual(both, l, r, ignoreSpaces = ignoreSpaces)).count()
        (x, matched, bothCount - matched, CompareFunctions.calculateMaxDiff(both, l, r),
          CompareFunctions.calculateNullDiff(both, l, r))
      }
      assert(c.columnStats.filter(s => compared.contains(s.column))
        .map(s => (s.column, s.matchCnt, s.unequalCnt, s.maxDiff, s.nullDiff)) == expected)
      assert(c.columnStats.filter(s => keys.contains(s.column)).forall(_.matchCnt == bothCount))
    } finally { c.unpersist(); o.unpersist() }
  }

  /** Rows per side of each key group: duplicates 2 vs 3 and 3 vs 2,
    * balanced, one-sided and unmatched groups. */
  private val sizes = Seq((2, 3), (3, 2), (1, 1), (1, 1), (1, 0), (0, 1), (2, 2), (1, 2), (3, 0))

  /** Rows of both sides, one key group per `keys` entry (each side's key
    * values), shuffled with `seed` so a group's rows spread over the
    * partitions. Values are drawn per row,
    * so a different pairing of duplicates shows in the intersection. */
  private def sides(seed: Long, keys: Seq[(Seq[Any], Seq[Any])]): (Seq[Row], Seq[Row]) = {
    val r = new Random(seed)
    val (l, rt) = keys.map { case (k1, k2) =>
      val (n1, n2) = sizes(r.nextInt(sizes.size))
      (Seq.fill(n1)(Row.fromSeq(k1 ++ values(r))), Seq.fill(n2)(Row.fromSeq(k2 ++ values(r))))
    }.unzip
    (r.shuffle(l.flatten), r.shuffle(rt.flatten))
  }

  private def values(r: Random): Seq[Any] =
    Seq(r.nextInt(4) * 0.5, s"s${r.nextInt(3)}", if (r.nextInt(5) == 0) null else r.nextInt(3).toLong)
  private val valueFields = Seq(StructField("v", DoubleType), StructField("s", StringType),
    StructField("n", LongType))

  test("composite keys with duplicate and NULL key groups match the oracle, empty sides too") {
    val schema = StructType(Seq(StructField("k1", IntegerType), StructField("k2", StringType)) ++ valueFields)
    for (seed <- 1L to 3L) {
      val r = new Random(seed)
      // k1 NULL in every tenth group, both keys NULL in one
      val groups = (0 until 60).map { g =>
        val k = Seq(if (g % 10 == 3) null else r.nextInt(9), if (g == 3) null else s"g$g")
        (k, k)
      }
      val (l, rt) = sides(seed, groups)
      assertEquivalent(frame(schema, l), frame(schema, rt), Seq("k1", "k2"))
      if (seed == 1) {
        assertEquivalent(frame(schema, Nil), frame(schema, rt), Seq("k1", "k2"))
        assertEquivalent(frame(schema, l), frame(schema, Nil), Seq("k1", "k2"))
        assertEquivalent(frame(schema, Nil), frame(schema, Nil), Seq("k1", "k2"))
      }
    }
  }

  test("NaN, -0.0 and NULL float keys match the oracle") {
    val special = Seq[Any](Double.NaN, -0.0, 0.0, 1.5, -1.5, null)
    val keys = special.map(k => (k, k)) ++ Seq((-0.0, 0.0), (0.0, -0.0)) ++ (0 until 20).map(i => (i * 1.0, i * 1.0))
    val (l, rt) = sides(7, keys.map { case (x, y) => (Seq(x), Seq(y)) })
    val schema = StructType(StructField("k", DoubleType) +: valueFields)
    assertEquivalent(frame(schema, l), frame(schema, rt), Seq("k"))
    // float against double: the float side widens before grouping
    val fl = l.map(x => Row.fromSeq((x.get(0) match { case d: Double => d.toFloat; case o => o }) +: x.toSeq.tail))
    assertEquivalent(frame(StructType(StructField("k", FloatType) +: valueFields), fl),
      frame(schema, rt), Seq("k"))
  }

  test("ignoreSpaces string keys match the oracle") {
    val keys = (0 until 30).map { i =>
      (if (i % 3 == 0) s" k$i" else s"k$i", if (i % 4 == 0) s"k$i  " else s"k$i")
    } :+ ((null, null))
    val (l, rt) = sides(11, keys.map { case (x, y) => (Seq(x), Seq(y)) })
    val schema = StructType(StructField("k", StringType) +: valueFields)
    assertEquivalent(frame(schema, l), frame(schema, rt), Seq("k"), ignoreSpaces = true)
  }

  test("ignoreSpaces: keys equal only after trimming rank together and pair 1:1") {
    import spark.implicits._
    val a = Seq((" a", "v1"), ("a ", "v2"), ("b", "v3")).toDF("k", "v").coalesce(1)
    val b = Seq(("a", "w1"), ("b", "v3")).toDF("k", "v")
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("k"), ignoreSpaces = true))
    try {
      assert((c.intersectCount, c.df1UnqCount, c.df2UnqCount) == ((2L, 1L, 0L)))
      assert((c.df1Count, c.df2Count) == ((3L, 2L)) && c.anyDupes)
      assert(c.intersectRows.select("v_df1", "v_df2").collect().map(r => (r.getString(0), r.getString(1)))
        .toSet == Set(("v1", "w1"), ("v3", "v3")))
      assert(rows(c.df1UnqRows) == Seq("[a,v2]"))
    } finally c.unpersist()
  }

  /** One key typed differently on each side: `side1`/`side2` render key
    * value `i` (None: NULL) in each side's type. */
  private def typePair(t1: DataType, t2: DataType, seed: Long)(side1: Option[Int] => Any,
      side2: Option[Int] => Any): (DataFrame, DataFrame) = {
    val keys = ((0 until 25).map(Some(_)) :+ None).map(i => (side1(i), side2(i)))
    val (l, rt) = sides(seed, keys.map { case (x, y) => (Seq(x), Seq(y)) })
    (frame(StructType(StructField("k", t1) +: valueFields), l),
      frame(StructType(StructField("k", t2) +: valueFields), rt))
  }

  test("keys typed differently on the two sides pair as the join compares them") {
    def nul[T](f: Int => T): Option[Int] => Any = _.map(f).orNull
    val day = 86400000L
    val cases = Seq(
      typePair(IntegerType, LongType, 1)(nul(i => i), nul(i => i.toLong)),
      typePair(IntegerType, DoubleType, 2)(nul(i => i), nul(i => if (i % 5 == 0) i + 0.5 else i.toDouble)),
      typePair(DecimalType(10, 2), DoubleType, 3)(
        nul(i => new java.math.BigDecimal(i / 4.0).setScale(2)), nul(i => i / 4.0)),
      typePair(DateType, TimestampType, 4)(nul(i => Date.valueOf(java.time.LocalDate.ofEpochDay(i))),
        nul(i => new Timestamp(i * day + (if (i % 4 == 0) day / 2 else 0)))),
      typePair(StringType, IntegerType, 5)(nul(i => i.toString), nul(i => i)))
    for ((a, b) <- cases) assertEquivalent(a, b, Seq("k"))
  }

  private def conditions(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .collect { case s: SparkThrowable if s.getCondition != null => s.getCondition }.toSeq

  test("a string key that is not a number fails or pairs as the join does") {
    val (a, b) = typePair(StringType, IntegerType, 6)(
      // no NULL on the string side: "zero" alone casts to NULL there
      { case Some(0) => "zero"; case Some(i) => i.toString; case None => "99" }, _.map(Int.box).orNull)
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("k")))
    val ours = try Try(c.df1Count) finally c.unpersist()
    val theirs = Try(oracle(a, b, Seq("k"), ignoreSpaces = false).collect())
    assert(ours.isFailure == theirs.isFailure)
    if (spark.conf.get("spark.sql.ansi.enabled").toBoolean)
      assert(ours.failed.toOption.map(conditions).exists(_.contains("CAST_INVALID_INPUT")))
    (ours.failed.toOption zip theirs.failed.toOption).foreach { case (x, y) =>
      assert(conditions(x) == conditions(y)) }
    if (ours.isSuccess) assertEquivalent(a, b, Seq("k"))
  }

  test("the union widens differently typed keys to the type the join compares them at") {
    val types = Seq[DataType](ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
      DecimalType(10, 2), DecimalType(38, 18), DecimalType(12, 0), StringType, DateType,
      TimestampType, TimestampNTZType, BooleanType, BinaryType)
    for (t1 <- types; t2 <- types if t1 != t2) {
      val l = spark.range(0).select(lit(null).cast(t1).as("k"))
      val r = spark.range(0).select(lit(null).cast(t2).as("k2"))
      Try(l.join(r, col("k") === col("k2")).queryExecution.analyzed).toOption.foreach { plan =>
        val compared = plan.collectFirst { case Join(_, _, _, Some(c: BinaryComparison), _) => c.left.dataType }.get
        val ours = SparkCompare.compareCast(spark, t1, t2) match {
          case Some(t) => l.select(col("k").cast(t)).union(r.select(col("k2").cast(t)))
          case None => l.union(r)
        }
        assert(ours.schema.head.dataType == compared, s"$t1 vs $t2")
      }
    }
  }

  test("duplicates pair k-th with k-th in input order, NULL-key groups included") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("v", StringType)))
    // one row per partition slot: input order is (partition, position)
    val a = frame(schema, Seq(Row(1, "a1"), Row(null, "n1"), Row(2, "x"), Row(1, "a2"),
      Row(null, "n2"), Row(1, "a3"), Row(3, "y"), Row(9, "z")))
    val b = frame(schema, Seq(Row(null, "m1"), Row(1, "b1"), Row(2, "x"), Row(null, "m2"),
      Row(1, "b2"), Row(null, "m3"), Row(3, "y"), Row(8, "w")))
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("k")))
    try {
      assert(c.intersectRows.select("k_df1", "v_df1", "v_df2").collect()
        .map(r => (Option(r.get(0)), r.getString(1), r.getString(2))).toSet ==
        Set((Some(1), "a1", "b1"), (Some(1), "a2", "b2"), (None, "n1", "m1"), (None, "n2", "m2"),
          (Some(2), "x", "x"), (Some(3), "y", "y")))
      assert(rows(c.df1UnqRows) == Seq("[1,a3]", "[9,z]"))
      assert(rows(c.df2UnqRows) == Seq("[8,w]", "[null,m3]"))
      assert(c.anyDupes && c.df1Count == 8 && c.df2Count == 8)
    } finally c.unpersist()
  }

  /** The plan a unique-row slice runs; for a filled cache, the cached
    * join's final adaptive plan. */
  private def plan(c: SparkCompare): String =
    c.df1UnqRows.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  test("an unhinted compare plans one Exchange, over the union, and no join") {
    import spark.implicits._
    val a = Seq((1, "x"), (1, "y"), (2, "z"), (4, "q")).toDF("id", "s")
    val b = Seq((1, "x"), (2, "z"), (3, "w")).toDF("id", "s")
    for (cache <- Seq(true, false)) {
      val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id"), cacheIntermediates = cache))
      try {
        assert(c.intersectCount == 2)
        val p = plan(c)
        val lines = p.linesIterator.toSeq
        val exchanges = lines.indices.filter(i => lines(i).contains("Exchange hashpartitioning"))
        assert(exchanges.size == 1, p)
        assert(lines(exchanges.head + 1).contains("Union"), p)
        assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin"), p)
      } finally c.unpersist()
    }
    val hinted = new SparkCompare(spark, a.where($"s" =!= "y"), b, CompareConfig(joinColumns = Seq("id"),
      assumeKeysUnique = Some(true)))
    try {
      assert(hinted.intersectCount == 2)
      assert(plan(hinted).contains("SortMergeJoin") && !plan(hinted).contains("Union"))
    } finally hinted.unpersist()
  }

  /** The jobs `body` starts on this thread, in start order, each as its
    * stages' RDD names; a sentinel job started afterwards proves every
    * earlier event arrived. */
  private def jobsDuring(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val key = "graft.test.pairing.jobs"
    val id = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[String])]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach { v =>
          if (v == id) jobs.add(e.jobId -> e.stageInfos.flatMap(_.rddInfos.map(_.name)))
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
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.sortBy(_._1).map(_._2)
    } finally sc.removeSparkListener(listener)
  }

  test("a fresh unhinted report starts with the union's map stage: no probe job") {
    import spark.implicits._
    val a = (1 to 50).map(i => (i % 20, s"v$i", i * 0.5)).toDF("id", "s", "x")
    val b = (5 to 60).map(i => (i % 25, s"v$i", if (i % 7 == 0) i * 0.25 else i * 0.5)).toDF("id", "s", "x")
    val c = new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id")))
    try {
      val jobs = jobsDuring(c.buildReportData(10, 10))
      // the union's map stage reads both inputs and no shuffle output
      assert(jobs.nonEmpty && jobs.head.contains("UnionRDD") && !jobs.head.contains("ShuffledRowRDD"))
      // then one query that carries the stats pass and the sample query,
      // reading the union's exchange twice and writing no cache: the map
      // stages of its aggregate and of its sample window, and its result
      assert(jobs.size == 4, jobs.map(_.mkString(" ")))
    } finally c.unpersist()
  }
}

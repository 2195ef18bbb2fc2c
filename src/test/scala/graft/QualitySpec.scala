package graft

import graft.operators.{Graph, Quality, TextOps, TimeSeries}
import org.apache.spark.sql.functions._

/** Round-5 operator additions: constraint suite, triangle counting,
  * TF-IDF keywords, trailing-window anomaly flags. */
class QualitySpec extends SparkTestBase {
  import spark.implicits._

  // ---- Quality.validate ----------------------------------------------------

  test("quality suite: fused row checks, uniqueness, referential integrity") {
    import Quality._
    val df = Seq(
      (1L, Some(10.0), "A"),
      (2L, Some(99.0), "A"),  // out of range
      (2L, None, "X"),        // dup key + null value (range check: violation) + bad domain
      (4L, Some(20.0), "R"))
      .toDF("id", "v", "flag")
    val ref = Seq(1L, 2L, 3L).toDF("rid")
    val got = validate(df, Seq(
      notNull("v"),
      inRange("v", lit(0.0), lit(50.0)),
      inSet("flag", Seq("A", "N", "R")),
      unique("id"),
      refIntegrity("ref(id)", Seq("id"), ref, Seq("rid"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("row_count") == 4L)
    assert(got("not_null(v)") == 1L)
    assert(got("in_range(v)") == 2L)  // 99.0 out of range + NULL counts
    assert(got("in_set(flag)") == 1L)
    assert(got("unique(id)") == 2L)   // both rows of the duplicated key
    assert(got("ref(id)") == 1L)      // id=4 unreferenced
  }

  test("quality suite: clean table reports zero violations everywhere") {
    import Quality._
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    val got = validate(df, Seq(notNull("v"), unique("id"),
      inRange("v", lit(0.0), lit(10.0))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.count(_ == 0L) == 3 && got("row_count") == 2L)
  }

  test("quality suite: empty table reports zero violations, not a crash") {
    import Quality._
    // a pre-ingest gate's most important degenerate input: zero rows means
    // every sum(when(...)) aggregate is NULL without the coalesce guard
    val df = Seq((1L, 1.0)).toDF("id", "v").where(lit(false))
    val got = validate(df, Seq(notNull("v"), inRange("v", lit(0.0), lit(10.0)),
      unique("id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("row_count" -> 0L, "not_null(v)" -> 0L,
      "in_range(v)" -> 0L, "unique(id)" -> 0L))
  }

  test("quality suite: a failing check cancels the others and leaves nothing running") {
    import Quality._
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val key = "graft.test.quality"
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach {
          case "validate" => started.add(e.jobId)
          case "flush" => flushed.countDown()
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    // each row of `v` takes 40 ms: a check over it runs for seconds
    val slow = udf { (x: Long) => Thread.sleep(40); x % 7 }
    // fails once the slow checks have started their jobs
    val boom = udf { (x: Long) =>
      Thread.sleep(500)
      if (x >= 0) throw new IllegalStateException("boom")
      x
    }
    val df = spark.range(0, 200, 1, 4).withColumn("v", slow(col("id")))
    def poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(PoolThreadPrefix))
    assert(poolThreads.isEmpty)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "validate")
      try intercept[Exception] {
        // the failing row check runs beside two slow group checks; the
        // k-anonymity check is still queued when it fails
        validate(df, Seq(RowCheck("boom", boom(col("id")) > 0), unique("v"),
          unique("id", "v"), kAnonymity(2, "v")))
      } finally sc.setLocalProperty(key, null)
      // a job started after the call proves every earlier event arrived
      sc.setLocalProperty(key, "flush")
      try sc.parallelize(Seq(1), 1).countAsync() finally sc.setLocalProperty(key, null)
      assert(flushed.await(60, TimeUnit.SECONDS))
      assert(!started.isEmpty)
      assert(started.asScala.filterNot(ended.contains).isEmpty, "jobs still running")
      // pool threads end with the pool, a moment after its last task
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(1)
      while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(poolThreads.isEmpty, "pool threads still alive")
    } finally sc.removeSparkListener(listener)
  }

  test("quality suite: k-anonymity counts rows in under-k groups") {
    import Quality._
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "x"),   // group of 3: safe at k=3
      ("b", "y"), ("b", "y"),               // group of 2: 2 violations
      ("c", "z"))                           // group of 1: 1 violation
      .toDF("qi1", "qi2")
    val got = validate(df, Seq(kAnonymity(3L, "qi1", "qi2")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("k_anonymity(3:qi1,qi2)") == 3L)
  }

  // ---- Graph.triangleCounts ------------------------------------------------

  /** Driver-side reference: brute-force triple enumeration. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val tri = for {
      a <- nodes; b <- nodes if a < b && adj(a)(b)
      c <- nodes if b < c && adj(a)(c) && adj(b)(c)
    } yield (a, b, c)
    tri.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("triangleCounts matches brute force; direction/dup/self-loop-proof") {
    // K4 on {1..4} plus a pendant and noise: dups, reversals, a self-loop
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (2L, 1L), (1L, 2L), (3L, 3L))
    val got = Graph.triangleCounts(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refTriangles(edges))
    // K4: every vertex sits in C(3,2) = 3 triangles; pendant in none
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: triangle-free graph returns empty") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    assert(Graph.triangleCounts(star.toDF("src", "dst")).count() == 0L)
  }

  test("triangleCounts plan: equi-joins only, no cartesian/broadcast-NL") {
    val plan = Graph.triangleCounts(
      Seq((1L, 2L)).toDF("src", "dst")).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  // ---- TextOps.tfidfKeywords -----------------------------------------------

  test("tfidfKeywords: rare terms outrank common ones; exact scaled scores") {
    val docs = Seq(
      (1L, "apple apple banana shared"),
      (2L, "banana cherry shared"),
      (3L, "cherry cherry cherry shared")).toDF("doc_id", "text")
    val got = TextOps.tfidfKeywords(docs, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(x => (x._3, x._4)).toSeq).toMap
    // doc 1: apple tf=2 df=1 -> 2e9; banana tf=1 df=2 -> 5e8
    assert(byDoc(1L) == Seq(("apple", 2000000000L), ("banana", 500000000L)))
    // doc 3: cherry tf=3 df=2 -> 1.5e9; shared tf=1 df=3 -> 333333333 (floor)
    assert(byDoc(3L) == Seq(("cherry", 1500000000L), ("shared", 333333333L)))
    // k bound respected
    assert(got.groupBy(_._1).values.forall(_.size <= 2))
  }

  test("tfidfKeywords: score ties rank by token ascending") {
    val docs = Seq((1L, "zz aa")).toDF("doc_id", "text")
    val got = TextOps.tfidfKeywords(docs, "text", "doc_id", k = 2)
      .orderBy("rank").collect().map(_.getString(2))
    assert(got.toSeq == Seq("aa", "zz"))
  }

  // ---- Search.rrfFuse ------------------------------------------------------

  test("rrfFuse: exact integer fusion, overlap outranks single-list hits") {
    import graft.operators.Search
    val lex = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val ann = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val got = Search.rrfFuse(Seq(lex, ann), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val s = 1000000000000L
    def c(r: Long) = s / (60L + r)
    // doc 20 fused from rank 2 + rank 1 beats doc 10's single rank 1
    assert(got.head == (20L, c(2) + c(1), 2L))
    assert(got.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
  }

  test("rrfFuse grouped: per-query top-k via the bounded heap") {
    import graft.operators.Search
    val a = Seq(("q1", 10L, 1L), ("q1", 11L, 2L), ("q2", 20L, 1L))
      .toDF("qid", "id", "rank")
    val b = Seq(("q1", 11L, 1L), ("q2", 21L, 1L)).toDF("qid", "id", "rank")
    val got = Search.rrfFuse(Seq(a, b), k = 1, groupCols = Seq("qid"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("id")))
    assert(got.toSet == Set(("q1", 11L), ("q2", 20L)))
  }

  test("cusumFlags: prefix-minus-runmin equals the max(0,.) recurrence") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    // deviations vs ref 10: +5, -20 (reset), +5, +5, +5 -> cusum 15 at the end
    val vals = Seq(15.0, -10.0, 15.0, 15.0, 15.0)
    val rows = vals.zipWithIndex.map { case (v, i) => (1L, i.toLong, ts(i), v) }
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    def ref(thresholdUs: Long): Set[(Long, Long)] = {
      var s = 0L
      vals.zipWithIndex.flatMap { case (v, i) =>
        s = math.max(0L, s + ((BigDecimal(v) * 1000000).toLong - 10000000L))
        if (s > thresholdUs) Some((i.toLong, s)) else None
      }.toSet
    }
    for (h <- Seq(0L, 4000000L, 12000000L)) {
      val got = TimeSeries.cusumFlags(df, "user_id", "ts", "event_id", "value",
          referenceUs = 10000000L, thresholdUs = h)
        .collect().map(r => (r.getLong(1), r.getAs[Long]("cusum_us"))).toSet
      assert(got == ref(h), s"threshold $h")
    }
  }

  test("cusumFlags plan: one exchange, windows share the sort") {
    val df = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("user_id", "event_id", "ts", "value")
    val plan = TimeSeries.cusumFlags(df, "user_id", "ts", "event_id", "value", 0L, 0L)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length <= 2, plan)
  }

  // ---- partitioned layout --------------------------------------------------

  test("hive-partitioned probe prunes to the requested lang partitions") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = "target/graft_test_part_lang"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    d.write.mode("overwrite").partitionBy("lang").parquet(p)
    val probe = spark.read.parquet(p).where(col("lang") === "en")
      .groupBy("source").agg(count(lit(1)).as("n"))
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    // pruning is observable: only the en directory's files are read
    val files = spark.read.parquet(p).where(col("lang") === "en")
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")),
      files.take(3).mkString(","))
    // and the layout never changes results
    val viaLayout = probe.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = d.where(col("lang") === "en").groupBy("source")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaLayout == direct)
  }

  // ---- TimeSeries.anomalyFlags ---------------------------------------------

  test("anomalyFlags: exact cross-multiplied deviation over the row frame") {
    // user 1: nine 10.0s then a 100.0 (flagged: |9*100-90|*100 > 300*90)
    // and an in-band 11.0 afterwards (not flagged)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val rows = (1 to 9).map(i => (1L, i.toLong, ts(i), 10.0)) ++
      Seq((1L, 10L, ts(10), 100.0), (1L, 11L, ts(11), 11.0)) ++
      // user 2: too little history — never flagged
      Seq((2L, 20L, ts(1), 1.0), (2L, 21L, ts(2), 500.0))
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    val got = TimeSeries.anomalyFlags(df, "user_id", "ts", "event_id", "value",
      lookback = 10, thresholdPct = 300L, minPrior = 5)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(10L))
  }

  test("anomalyFlags: streaming twin agrees in batch mode (same flag set)") {
    import graft.streaming.StreamingAnomaly
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    // two users, interleaved, with in-band and out-of-band values
    val rows = (1 to 9).flatMap(i => Seq(
      (1L, i.toLong * 2, ts(i), 10.0),
      (2L, i.toLong * 2 + 1, ts(i), 5.0))) ++
      Seq((1L, 100L, ts(10), 99.0), (2L, 101L, ts(10), 5.1))
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    val batch = TimeSeries.anomalyFlags(df, "user_id", "ts", "event_id", "value",
      lookback = 10, thresholdPct = 300L, minPrior = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5))).toSet
    val streamTwin = StreamingAnomaly.flags(df, 10, 300L, 5)(spark)
      .collect().map(f => (f.user_id, f.event_id, f.trailing_n, f.trailing_sum_us)).toSet
    assert(streamTwin == batch && batch.nonEmpty)
  }

  test("anomalyFlags: values are exact micro-units (no float drift)") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val rows = (1 to 6).map(i => (1L, i.toLong, ts(i), 0.1)) :+
      (1L, 7L, ts(7), 0.7)
    val out = TimeSeries.anomalyFlags(rows.toDF("user_id", "event_id", "ts", "value"),
      "user_id", "ts", "event_id", "value", 10, 300L, 5)
      .collect()
    // 0.7 vs mean 0.1: |6*700000 - 600000|*100 = 360M > 300*600000 = 180M
    assert(out.map(_.getLong(1)).toSet == Set(7L))
    assert(out.head.getAs[Long]("value_us") == 700000L)
  }
}

package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.operators._

/** Who owns the merged join's cache. A report on a compare nothing has
  * read yet runs its stats and samples as one query over the uncached join,
  * reusing the input exchange; every other reader fills the one cache on
  * first use; and `unpersist()` leaves the session's persisted RDDs and
  * cache entries where they were. */
class SparkCompareCacheSpec extends SparkTestBase {

  /** What `body` did on this thread: its jobs, the shuffle bytes its tasks
    * wrote, whether any of its stages persisted an RDD, and the final
    * executed plans of its queries. */
  private final case class Run(jobs: Int, shuffleBytes: Long, persisted: Boolean, plans: Seq[String])

  private def run(body: => Unit): Run = {
    val sc = spark.sparkContext
    val key = "graft.test.cache.run"
    val id = java.util.UUID.randomUUID().toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicLong()
    val bytes = new AtomicLong()
    val persisted = new AtomicBoolean(false)
    val plans = new ConcurrentLinkedQueue[String]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach { v =>
          if (v == id) {
            jobs.incrementAndGet()
            e.stageInfos.foreach { s =>
              stages.add(s.stageId)
              if (s.rddInfos.exists(_.storageLevel != StorageLevel.NONE)) persisted.set(true)
            }
          } else if (v == s"$id-end") flushed.countDown()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      def tagged(v: String)(f: => Unit): Unit = {
        sc.setLocalProperty(key, v)
        try f finally sc.setLocalProperty(key, null)
      }
      tagged(id)(body)
      tagged(s"$id-end")(sc.parallelize(Seq(1), 1).count())
      assert(flushed.await(60, TimeUnit.SECONDS))
      Run(jobs.get.toInt, bytes.get, persisted.get, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
  }

  /** Unique ids, four partitions a side. `only1` exists only in df1 and
    * `only2` only in df2, and both are among the first three columns, so
    * the unique-row tables of a report with `columnCount = 3` read columns
    * the stats do not. */
  private def frames(): (DataFrame, DataFrame) = {
    val ids = spark.range(0, 20000, 1, 4)
    val a = ids.select(col("id"), concat(lit("one"), col("id")).as("only1"),
      concat(lit("s"), col("id")).as("s"), (col("id") * 0.5).as("x"), (col("id") % 97).as("y"))
      .where(col("id") % 50 =!= 7)
    val b = ids.select(col("id"), concat(lit("two"), col("id")).as("only2"),
      concat(lit("s"), col("id")).as("s"),
      when(col("id") % 13 === 0, col("id") * 0.25).otherwise(col("id") * 0.5).as("x"),
      (col("id") % 97).as("y"))
      .where(col("id") % 60 =!= 11)
    (a, b)
  }

  private def compare(unique: Boolean): SparkCompare = {
    val (a, b) = frames()
    new SparkCompare(spark, a, b, CompareConfig(joinColumns = Seq("id"),
      assumeKeysUnique = Option.when(unique)(true)))
  }

  /** The lines of an adaptive plan's final plan. */
  private def finalPlan(plan: String): Seq[String] =
    plan.linesIterator.dropWhile(!_.contains("== Final Plan ==")).takeWhile(!_.contains("== Initial Plan ==")).toSeq

  for ((path, unique, inputs) <- Seq(("unhinted", false, 1), ("hinted-unique", true, 2)))
    test(s"$path: a fresh report is one query that reuses the input exchange and caches nothing") {
      val fresh = compare(unique)
      val cached = compare(unique)
      try {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val f = run(fresh.buildReportData(10, 3))
        assert(!f.persisted, f)
        assert(spark.sparkContext.getPersistentRDDs.keySet == before)
        assert(f.plans.size == 1, f.plans.mkString("\n\n"))
        val plan = f.plans.head
        val lines = finalPlan(plan)
        // every input exchange is planned once and read twice
        assert(lines.count(_.contains("ReusedExchange")) == inputs, plan)
        assert(lines.count(l => l.contains("Exchange hashpartitioning") &&
          !l.contains("ReusedExchange") && !l.contains("__graft_tag")) == inputs, plan)
        assert(!plan.contains("InMemory"), plan)
        if (!unique) assert(f.jobs == 4, f)

        // the cached path: the stats fill the cache, the samples re-read it
        val c = run { cached.intersectCount; cached.buildReportData(10, 3) }
        assert(c.persisted)
        assert(math.abs(f.shuffleBytes - c.shuffleBytes) <= 0.01 * c.shuffleBytes,
          s"fused ${f.shuffleBytes} B against cached ${c.shuffleBytes} B")
        assert(f.jobs < c.jobs, s"$f against $c")
      } finally { fresh.unpersist(); cached.unpersist() }
    }

  test("a fresh report renders what the cached path renders") {
    for (unique <- Seq(false, true); (samples, columns) <- Seq((10, 3), (0, 10), (4, 0))) {
      val fresh = compare(unique)
      val cached = compare(unique)
      try {
        cached.columnStats
        val f = fresh.buildReportData(samples, columns)
        assert(f == cached.buildReportData(samples, columns))
        assert(f.render == cached.buildReportData(samples, columns).render)
        assert(f.df1UniqueRows.hasRows == (samples > 0))
        assert(fresh.columnStats == cached.columnStats && fresh.anyDupes == cached.anyDupes)
      } finally { fresh.unpersist(); cached.unpersist() }
    }
  }

  test("a frame accessor after a fresh report costs one input shuffle, then reads the cache") {
    val c = compare(unique = false)
    try {
      val report = run(c.buildReportData(10, 3))
      val first = run(assert(c.df1UnqRows.count() == c.df1UnqCount))
      assert(first.persisted)
      assert(first.shuffleBytes <= report.shuffleBytes * 1.01, s"$first against $report")
      val second = run(assert(c.df2UnqRows.count() == c.df2UnqCount))
      assert(second.shuffleBytes < report.shuffleBytes * 0.01, s"$second against $report")
      // a later report reads the stats the fused query memoized
      assert(run(c.buildReportData(10, 3)).shuffleBytes < report.shuffleBytes * 0.01)
    } finally c.unpersist()
  }

  /** Persisted RDDs and cache-manager entries of the session (the entry
    * count is `private[sql]` in Scala, public in the bytecode). */
  private def cacheState: (Set[Int], Int) = {
    val manager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      manager.getClass.getMethod("numCachedEntries").invoke(manager).asInstanceOf[Int])
  }

  test("every way through a compare leaves no persisted RDD or cache entry behind") {
    val baseline = cacheState
    // (a) a fresh report
    val a = compare(unique = false)
    a.buildReportData(10, 3)
    assert(cacheState == baseline)
    a.unpersist()
    assert(cacheState == baseline)
    // (b) a report, then a frame accessor, then unpersist
    val b = compare(unique = false)
    b.buildReportData(10, 3)
    b.df1UnqRows.count()
    assert(cacheState != baseline)
    b.unpersist()
    assert(cacheState == baseline)
    // (c) a report, a tolerance variant's report, then unpersist
    val c = compare(unique = false)
    c.buildReportData(10, 3)
    val loose = c.withTolerances(ToleranceSpec(1e9))
    assert(loose.buildReportData(10, 3).columnComparison.unequalColumns <
      c.buildReportData(10, 3).columnComparison.unequalColumns)
    c.unpersist()
    assert(cacheState == baseline)
  }

  test("unpersist on a compare that never cached registers nothing") {
    val baseline = cacheState
    val c = compare(unique = false)
    c.unpersist()
    assert(cacheState == baseline)
    // unpersist did not spend the cache: the first accessor still fills it
    val first = run(c.df1UnqRows.count())
    assert(first.persisted && cacheState != baseline)
    c.unpersist()
    assert(cacheState == baseline)
  }

  test("a fresh report on differently typed join columns alone caches nothing") {
    val (a, b) = frames()
    val c = new SparkCompare(spark, a.select("id"), b.select(col("id").cast("double").as("id")),
      CompareConfig(joinColumns = Seq("id")))
    try {
      val baseline = cacheState
      val r = run(assert(c.buildReportData(10, 10).mismatchStats.samples.size == 1))
      assert(!r.persisted && cacheState == baseline, r)
    } finally c.unpersist()
  }

  test("a negative sample or column count is rejected before any job runs") {
    val c = compare(unique = false)
    try {
      for ((samples, columns) <- Seq((-1, 10), (10, -1))) {
        val r = run(intercept[IllegalArgumentException](c.buildReportData(samples, columns)))
        assert(r.jobs == 0)
      }
    } finally c.unpersist()
  }
}

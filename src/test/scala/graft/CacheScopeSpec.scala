package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._

/** The cache-lifetime invariant for every operator that persists through
  * [[CacheScope]]: after `CacheScope.releaseAll()`, the RDDs persisted since
  * the test's baseline and the cache manager's entries are back at the
  * baseline. Plus the scope's own contract: release is idempotent, and a
  * drain from another thread leaves that thread's next pass working. */
class CacheScopeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "an entirely different sentence about spark"),
    (4L, "an entirely different sentence about spark plans")
  ).toDF("doc_id", "text")

  private lazy val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")

  /** Persisted RDDs since `base` and the cache manager's entry count
    * (`private[sql]` in Scala, public in the bytecode). Only RDDs new since
    * the baseline count, because other suites' dead localCheckpoint RDDs
    * are unpersisted asynchronously by the ContextCleaner. Local
    * checkpoints are left out for the same reason: an iterative operator's
    * checkpointed supersteps are its result's lineage, not a cache, and
    * live as long as the result does. */
  private final case class State(newRdds: Int, entries: Int)
  private def state(base: Set[Int]): State = {
    val manager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val cached = spark.sparkContext.getPersistentRDDs.filter { case (_, rdd) => !rdd.isCheckpointed }
    State(cached.keySet.toSet.diff(base).size,
      manager.getClass.getMethod("numCachedEntries").invoke(manager).asInstanceOf[Int])
  }

  /** Run `body` from a drained baseline, check it persisted something, and
    * that `releaseAll()` takes the session back to the baseline. */
  private def leavesNothing(body: => Unit): Unit = {
    CacheScope.releaseAll()
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val baseline = state(base)
    body
    val during = state(base)
    assert(during.entries > baseline.entries, s"nothing persisted: $during against $baseline")
    CacheScope.releaseAll()
    assert(state(base) == baseline)
  }

  private def materialize(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  test("Dedup.jaccardPairs releases every cache it persisted") {
    leavesNothing(materialize(Dedup.jaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.3)))
  }

  test("Graph.pageRankScaled releases every cache it persisted") {
    leavesNothing(materialize(Graph.pageRankScaled(edges, iters = 3)))
  }

  test("Ann.mutualNearestNeighborsWithMargin releases every cache it persisted") {
    val big = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val small = Seq((10L, Array(1.0f, 0.0f)), (11L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    leavesNothing(materialize(
      Ann.mutualNearestNeighborsWithMargin(big, small, "embedding", "vec_id", k = 2)))
  }

  test("Profile.ksStatistic releases every cache it persisted") {
    val a = Seq(1.0, 2.0, 2.0, 3.0, 10.0).toDF("x")
    val b = Seq(2.0, 4.0, 4.0, 5.0).toDF("y")
    leavesNothing(materialize(Profile.ksStatistic(a, "x", b, "y", buckets = 4)))
  }

  test("Selection.selectByBudget releases every cache it persisted") {
    val df = Seq((1L, 0.9, 5L), (2L, 0.5, 7L), (3L, 0.7, 3L), (4L, 0.1, 9L))
      .toDF("doc_id", "score", "n_tokens")
    leavesNothing(materialize(
      Selection.selectByBudget(df, "score", "n_tokens", "doc_id", 10L, numBuckets = 2)))
  }

  test("SnapshotDiff.diff releases every cache it persisted") {
    val a = Seq((1L, "alpha"), (2L, "beta"), (4L, "delta")).toDF("doc_id", "text")
    val b = Seq((1L, "alpha"), (2L, "beta v2"), (44L, "delta"), (7L, "epsilon")).toDF("doc_id", "text")
    leavesNothing(materialize(SnapshotDiff.diff(a, b, "doc_id", "text")))
  }

  test("Collocations.topBigrams releases every cache it persisted") {
    leavesNothing(materialize(Collocations.topBigrams(docs, "text", k = 5, minCount = 1L)))
  }

  test("Trainer.trainHashedLinearModel releases every cache it persisted") {
    val d = Seq((1L, "alpha", 1), (2L, "gamma", 0)).toDF("doc_id", "text", "y")
    leavesNothing(materialize(
      Trainer.trainHashedLinearModel(d, "text", "doc_id", "y", numFeatures = 16, iters = 2)))
  }

  test("Sampling.withClusterSafeSplit releases every cache it persisted") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    leavesNothing(materialize(Sampling.withClusterSafeSplit(docs.select("doc_id"), "doc_id", pairs)))
  }

  test("a scope released twice is a no-op") {
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val baseline = state(base)
    val scope = new CacheScope
    assert(scope.isEmpty)
    val df = scope.persist(spark.range(100).withColumn("sq", col("id") * col("id")))
    assert(df.count() == 100L && !scope.isEmpty && state(base) != baseline)
    scope.release()
    assert(scope.isEmpty && state(base) == baseline)
    scope.release()
    assert(scope.isEmpty && state(base) == baseline)
    // the released frame still reads, recomputed
    assert(df.agg(sum("sq")).first().getLong(0) == (0L until 100L).map(i => i * i).sum)
  }

  test("releaseAll from another thread releases a thread's pass, and its next pass still works") {
    CacheScope.releaseAll()
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val baseline = state(base)
    val worker = java.util.concurrent.Executors.newSingleThreadExecutor()
    def onWorker[T](f: => T): T = worker.submit(() => f).get()
    def pass(): Set[(Long, Long)] = onWorker(
      Dedup.jaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    try {
      val first = pass()
      assert(first.nonEmpty && state(base).entries > baseline.entries)
      CacheScope.releaseAll() // on this thread: drains the worker's pass
      assert(state(base) == baseline)
      // the worker's scope left the registry; its next pass registers again
      assert(pass() == first)
      assert(state(base).entries > baseline.entries)
      CacheScope.releaseAll()
      assert(state(base) == baseline)
    } finally worker.shutdown()
  }
}

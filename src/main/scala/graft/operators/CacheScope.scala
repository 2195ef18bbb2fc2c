package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** An owner of persisted frames: the only way the library persists a frame
  * that outlives the block that created it. Owners: each thread's current
  * pass (below), a compare and its tolerance variants (released by
  * `SparkCompare.unpersist()`), and the bench's pass-shared frames
  * (`OpsPack.releaseSharedFrames`). `release()` unpersists, blocking, so the
  * next pass starts with the storage pool drained; it is idempotent and
  * thread-safe. Release is cooperative: a lazy plan still reading a released
  * frame recomputes it, it never reads wrong data. */
final class CacheScope {
  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    frames.add(p)
    p
  }

  def release(): Unit = {
    CacheScope.live.remove(this)
    var d = frames.poll()
    while (d != null) { d.unpersist(blocking = true); d = frames.poll() }
  }

  def isEmpty: Boolean = frames.isEmpty
}

/** Pass scopes: one per thread, so a pool thread entering a new pass
  * releases only ITS previous pass's caches, never one a query on a sibling
  * thread is still reading (cross-thread eviction caused recomputation
  * storms under the 8-thread verify sweep). A thread's scope is registered
  * while it holds frames, so [[releaseAll]] reaches every thread's pass. */
object CacheScope {
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[CacheScope]()
  private val current = ThreadLocal.withInitial[CacheScope](() => new CacheScope)
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Run one pass, first releasing the thread's previous one. The depth
    * guard keeps composite operators (cleanCorpus → minhashNearDuplicates*)
    * from releasing their OWN caches when they call other pass operators.
    * Materialize a pass's result before the next pass if you need it cheap. */
  private[graft] def pass[T](f: => T): T = {
    val d = depth.get()
    if (d == 0) releaseOwn()
    depth.set(d + 1)
    try f finally depth.set(d)
  }

  /** Persist into the current thread's pass. Registering after the frame is
    * in the scope means a concurrent [[releaseAll]] either releases the
    * frame or leaves the scope registered. */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val s = current.get()
    val p = s.persist(df)
    live.add(s)
    p
  }

  /** Release the current thread's pass only: for a long-running loop (a
    * streaming foreachBatch) that drops its own caches between iterations
    * while queries on sibling threads keep theirs. */
  def releaseOwn(): Unit = current.get().release()

  /** Release every thread's pass: whole-session cleanup (the benchmark
    * harness between queries, session handoff). */
  def releaseAll(): Unit = live.forEach(_.release())
}

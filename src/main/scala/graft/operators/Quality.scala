package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint validation (the deequ-style check
  * suite a training-data pipeline runs before every ingest).
  *
  * Design for scale: the suite COMPILES, it does not iterate. All row-level
  * constraints (null / range / set-membership / regex) fuse into ONE
  * aggregate over one scan of the table — adding a constraint adds a
  * conditional-sum column to the same pass, never a job. Key-uniqueness is
  * one groupBy on the key (map-side partial counts, only the keyspace
  * shuffles), and each referential-integrity check is one left-anti join
  * against the referenced key set (broadcast when the referenced side is a
  * dim table, shuffle join otherwise — the plan is whatever Catalyst/AQE
  * picks for the actual sizes). Every metric is an exact BIGINT count, so
  * the whole report is engine-portable and hash-checkable.
  */
object Quality {

  /** A compiled constraint: a check name plus how to count its violations. */
  sealed trait Constraint { def name: String }

  /** Row-level predicate constraint: `violated` is a boolean Column over the
    * table's row; violations = number of rows where it is true. NULL
    * predicate results count as violations (an unknown is not a pass) —
    * encode NULL-tolerance in the predicate itself where wanted. */
  final case class RowCheck(name: String, violated: Column) extends Constraint

  /** Key-uniqueness constraint: violations = number of rows whose key value
    * occurs more than once (every row of a duplicated key counts). */
  final case class UniqueCheck(name: String, keyCols: Seq[String]) extends Constraint

  /** Referential-integrity constraint: violations = number of rows whose
    * (non-null) foreign key has no match in `ref`'s `refCols`. Rows with a
    * NULL foreign key are not violations (SQL FK semantics). */
  final case class RefCheck(name: String, keyCols: Seq[String],
      ref: DataFrame, refCols: Seq[String]) extends Constraint

  /** k-anonymity constraint over a quasi-identifier tuple: violations =
    * number of rows whose quasi-identifier group has fewer than `minSize`
    * members — every such row is re-identifiable below the k threshold.
    * Same one-groupBy shape as [[UniqueCheck]] (uniqueness IS k-anonymity's
    * complement: unique(cols) ≡ "every group has size 1"). */
  final case class MinGroupSizeCheck(name: String, keyCols: Seq[String],
      minSize: Long) extends Constraint

  def notNull(colName: String): Constraint =
    RowCheck(s"not_null($colName)", col(colName).isNull)

  def inRange(colName: String, lo: Column, hi: Column): Constraint =
    RowCheck(s"in_range($colName)",
      coalesce(col(colName) < lo || col(colName) > hi, lit(true)))

  def inSet(colName: String, values: Seq[String]): Constraint =
    RowCheck(s"in_set($colName)",
      coalesce(!col(colName).isin(values: _*), lit(true)))

  def matchesRegex(colName: String, pattern: String): Constraint =
    RowCheck(s"matches_regex($colName)",
      coalesce(!col(colName).rlike(pattern), lit(true)))

  def unique(keyCols: String*): Constraint =
    UniqueCheck(s"unique(${keyCols.mkString(",")})", keyCols)

  def refIntegrity(name: String, keyCols: Seq[String], ref: DataFrame,
      refCols: Seq[String]): Constraint =
    RefCheck(name, keyCols, ref, refCols)

  def kAnonymity(minSize: Long, keyCols: String*): Constraint =
    MinGroupSizeCheck(s"k_anonymity($minSize:${keyCols.mkString(",")})",
      keyCols, minSize)

  /** Run the suite. Returns one row per constraint plus a `row_count` row:
    * (check STRING, violations BIGINT). Job shape: 1 fused aggregate scan
    * for every RowCheck + the row count, 1 groupBy per UniqueCheck, 1
    * anti-join count per RefCheck. The per-check ACTIONS run 3-at-a-time
    * from a small driver pool (guide §2.6 — Spark schedules concurrent
    * jobs from one session, so each check's tail stragglers back-fill
    * with the next check's tasks instead of idling the cluster; a serial
    * driver loop left it idle between actions). Results and their order
    * are identical to the serial form — only job overlap changes. */
  def validate(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val rowChecks = constraints.collect { case c: RowCheck => c }
    // one scan: count(*) plus one conditional sum per row-level constraint.
    // coalesce: sum() over ZERO rows is NULL, and an empty table is exactly
    // the degenerate input a pre-ingest gate must report (0 violations, 0
    // rows), not crash on a NULL primitive read.
    val aggCols =
      count(lit(1)).as("row_count") +:
        rowChecks.map(c =>
          coalesce(sum(when(c.violated, lit(1L)).otherwise(lit(0L))), lit(0L))
            .as(c.name))
    // each thunk is one independent check ACTION; submitted concurrently
    val rowThunk: () => Seq[(String, Long)] = () => {
      val aggRow = df.agg(aggCols.head, aggCols.tail: _*).first()
      ("row_count", aggRow.getLong(0)) +:
        rowChecks.zipWithIndex.map { case (c, i) => (c.name, aggRow.getLong(i + 1)) }
    }

    val groupThunks: Seq[() => Seq[(String, Long)]] = constraints.collect {
      case c: UniqueCheck => () => {
        val n = df.groupBy(c.keyCols.map(col): _*)
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") > 1)
          .agg(coalesce(sum(col("__n")), lit(0L)))
          .first().getLong(0)
        Seq((c.name, n))
      }
      case c: MinGroupSizeCheck => () => {
        val n = df.groupBy(c.keyCols.map(col): _*)
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") < c.minSize)
          .agg(coalesce(sum(col("__n")), lit(0L)))
          .first().getLong(0)
        Seq((c.name, n))
      }
    }

    val refThunks: Seq[() => Seq[(String, Long)]] = constraints.collect {
      case c: RefCheck => () => {
        val fkNotNull = c.keyCols.map(col(_).isNotNull).reduce(_ && _)
        val refKeys = c.ref.select(c.refCols.map(col): _*).distinct()
          .toDF(c.keyCols: _*)
        val n = df.where(fkNotNull)
          .select(c.keyCols.map(col): _*)
          .join(refKeys, c.keyCols, "left_anti")
          .count()
        Seq((c.name, n))
      }
    }

    // 2-3 jobs in flight is the guide's recommendation: enough to fill
    // stage tails, not enough to thrash the scheduler. The pool is
    // per-call and torn down before returning; futures preserve the
    // declared result order (rowChecks, then group checks, then refs).
    val thunks = rowThunk +: (groupThunks ++ refThunks)
    val results: Seq[(String, Long)] =
      if (thunks.size == 1) thunks.head()
      else runTagged(spark, thunks, parallelism = 3).flatten
    results.toDF("check", "violations")
  }

  /** Runs `thunks` at most `parallelism` at a time on daemon threads, with
    * every job they start under one job tag of `spark`. After the first
    * failure the caller keeps cancelling the tag's jobs (a check still
    * planning when the first cancel lands starts its job later) and the
    * thunks not yet started are skipped; the failure is rethrown once
    * every thunk has returned, so no job or pool thread outlives the call.
    * Results keep the thunks' order. */
  private def runTagged[T](spark: SparkSession, thunks: Seq[() => T],
      parallelism: Int): Seq[T] = {
    import java.util.concurrent.{Callable, Executors, ThreadFactory, TimeUnit}
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    val tag = s"$PoolThreadPrefix${java.util.UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]()
    val threadIds = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(math.min(parallelism, thunks.size),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"$PoolThreadPrefix${threadIds.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    spark.addTag(tag) // interruptTag resolves the tag on the calling thread
    try {
      val futures = try thunks.map { thunk =>
        pool.submit(new Callable[Option[T]] {
          def call(): Option[T] =
            if (failure.get != null) None
            else {
              spark.addTag(tag)
              try Some(thunk())
              catch { case e: Throwable => failure.compareAndSet(null, e); None }
              finally spark.removeTag(tag)
            }
        })
      } finally pool.shutdown()
      while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS))
        if (failure.get != null) spark.interruptTag(tag)
      Option(failure.get).foreach(e => throw e)
      futures.map(_.get().get)
    } finally spark.removeTag(tag)
  }

  /** Name prefix of [[runTagged]]'s pool threads. */
  private[graft] val PoolThreadPrefix = "graft-quality-"
}

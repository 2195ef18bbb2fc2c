package perfbench

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import graft.report.Json

/** Spark work attributed to one phase. Job spans are epoch milliseconds from
  * the scheduler's clock, so they can be set against phase windows read with
  * `System.currentTimeMillis`. */
final class PhaseWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: PhaseWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    jobSpans ++= o.jobSpans
  }
}

/** What [[Tracer]] saw between two calls of `take`. `cachePeakBytes` is the
  * largest total size (memory plus disk) that the RDD blocks cached in the
  * interval reached. */
final case class Work(phases: Map[String, PhaseWork], cachePeakBytes: Long, skippedTasks: Long) {
  def total: PhaseWork = {
    val t = new PhaseWork
    phases.values.foreach(t.add)
    t
  }
}

object Tracer {
  /** Local property naming the phase a job belongs to. Spark copies a
    * thread's local properties into every job it submits. */
  val PhaseProperty = "perfbench.phase"
  /** Jobs submitted while no phase was set. */
  val Unlabelled = "unlabelled"
  /** SparkConf key: when set, the tracer writes its totals there as JSON
    * when the application ends (the CLI JVM gets the tracer through
    * `spark.extraListeners`). */
  val CountersFileKey = "spark.perfbench.countersFile"
}

/** Attributes jobs, stages and tasks to the phase named in each job's
  * properties, and follows the sizes of cached RDD blocks. Events arrive on
  * the listener bus thread; the owner reads them with `take` after draining
  * the bus. Tasks of a stage that no job started here announced (such as a
  * stage that began before this listener was added) are skipped and counted
  * in `skippedTasks`, never folded into some other job's figures. */
class Tracer(conf: SparkConf) extends SparkListener {
  def this() = this(new SparkConf(false))

  private var phases = mutable.HashMap.empty[String, PhaseWork]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.HashMap.empty[Int, (String, Long)]
  private var skippedTasks = 0L
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]
  private var excludedRdds = Set.empty[Int]
  private var cacheNow = 0L
  private var cachePeak = 0L

  private def work(phase: String) = phases.getOrElseUpdate(phase, new PhaseWork)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(js.properties)
      .flatMap(p => Option(p.getProperty(Tracer.PhaseProperty)))
      .getOrElse(Tracer.Unlabelled)
    jobs(js.jobId) = (phase, js.time)
    js.stageIds.foreach(stagePhase(_) = phase)
    work(phase).jobs += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(je.jobId).foreach { case (phase, start) =>
      work(phase).jobSpans += ((start, je.time))
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.get(sc.stageInfo.stageId).foreach(work(_).stages += 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(te.stageId) match {
      case None => skippedTasks += 1
      case Some(phase) =>
        val w = work(phase)
        w.tasks += 1
        Option(te.taskMetrics).foreach { m =>
          w.taskCpuNs += m.executorCpuTime
          w.taskRunMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.spillBytes += m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
        }
    }
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = synchronized {
    bu.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = bu.blockUpdatedInfo
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val before = blockBytes.getOrElse(id, 0L)
        if (bytes == 0L) blockBytes.remove(id) else blockBytes(id) = bytes
        if (!excludedRdds.contains(id.rddId)) {
          cacheNow += bytes - before
          cachePeak = math.max(cachePeak, cacheNow)
        }
      case _ =>
    }
  }

  /** Returns what was seen since the last call and starts a new interval.
    * Blocks of RDDs cached before this call stay out of the next interval's
    * cache figure even while their removal is still in flight. */
  def take(): Work = synchronized {
    val w = Work(phases.toMap, cachePeak, skippedTasks)
    phases = mutable.HashMap.empty
    skippedTasks = 0L
    excludedRdds = blockBytes.keysIterator.map(_.rddId).toSet
    cacheNow = 0L
    cachePeak = 0L
    w
  }

  override def onApplicationEnd(ae: SparkListenerApplicationEnd): Unit =
    conf.getOption(Tracer.CountersFileKey).foreach { path =>
      val w = take()
      val t = w.total
      val json = Json.obj(
        "jobs" -> Json.num(t.jobs),
        "tasks" -> Json.num(t.tasks),
        "shuffle_write_bytes" -> Json.num(t.shuffleWriteBytes),
        "cache_peak_bytes" -> Json.num(w.cachePeakBytes),
        "skipped_tasks" -> Json.num(w.skippedTasks))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    }
}

/** Catalyst phase times and final-plan operator counts, summed over the
  * query executions reported between two calls of `take`. */
final case class PlanWork(
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    exchanges: Long, smj: Long, bhj: Long, codegenStages: Long)

class PlanTracer extends QueryExecutionListener {
  private var analysisMs, optimizationMs, planningMs = 0L
  private var exchanges, smj, bhj, codegenStages = 0L
  // A cached relation's plan runs once, in the first action that reads it.
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      import org.apache.spark.sql.catalyst.QueryPlanningTracker._
      val phases = qe.tracker.phases
      analysisMs += phases.get(ANALYSIS).map(_.durationMs).getOrElse(0L)
      optimizationMs += phases.get(OPTIMIZATION).map(_.durationMs).getOrElse(0L)
      planningMs += phases.get(PLANNING).map(_.durationMs).getOrElse(0L)
      count(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def count(plan: SparkPlan): Unit = {
    plan match {
      case _: ShuffleExchangeLike => exchanges += 1
      case _: SortMergeJoinExec => smj += 1
      case _: BroadcastHashJoinExec => bhj += 1
      case _: WholeStageCodegenExec => codegenStages += 1
      case _ =>
    }
    plan match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
      case m: InMemoryTableScanExec =>
        if (seenCaches.add(m.relation.cacheBuilder)) count(m.relation.cacheBuilder.cachedPlan)
      case p => (p.children ++ p.subqueries).foreach(count)
    }
  }

  def take(): PlanWork = synchronized {
    val w = PlanWork(analysisMs, optimizationMs, planningMs, exchanges, smj, bhj, codegenStages)
    analysisMs = 0L; optimizationMs = 0L; planningMs = 0L
    exchanges = 0L; smj = 0L; bhj = 0L; codegenStages = 0L
    seenCaches.clear()
    w
  }
}

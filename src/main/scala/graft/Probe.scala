package graft
import org.apache.spark.scheduler._

/** Harness-only (like [[DumpPlans]]): run ONE declared query with the
  * bench session config and print a per-JOB timing breakdown (job id,
  * wall seconds, total task seconds, peak single-task seconds, stage
  * count, and the job's callsite) so multi-action pipelines can be
  * attributed phase by phase — the guide-§1 "where is the time going"
  * instrument the disabled UI can't provide. Timing here is
  * diagnostic-only; accept/reject decisions stay with the interleaved
  * A/B bench runs.
  *
  *   SPARK_GRAFT_ONLY=q_graph_pagerank sbt "runMain graft.Probe"
  *
  * SPARK_GRAFT_PASSES repeats the query (default 2) — read the LAST
  * pass (warm codegen/plan caches, the steady-state the bench reports).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessSession(
      "spark.local.dir" -> HarnessSession.localDir("graft-spark-local-probe"))
    case class JobAgg(start: Long, callSite: String, desc: String,
      var stages: Int = 0, var taskNanos: Long = 0L, var maxTaskNanos: Long = 0L,
      var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
    val stageToJob = scala.collection.concurrent.TrieMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(js.jobId, JobAgg(System.nanoTime(), cs, d, js.stageIds.size))
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        // a stage no tracked job started is skipped, not charged to job 0
        stageToJob.get(te.stageId).flatMap(j => Option(jobs.get(j))).foreach { agg =>
          val rt = Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L) * 1000000L
          agg.synchronized {
            agg.taskNanos += rt
            agg.maxTaskNanos = math.max(agg.maxTaskNanos, rt)
            agg.tasks += 1
          }
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield (c - s) / 1e3).getOrElse(-1.0)
        // the first few RDD scope names identify the stage's operators
        val ops = si.rddInfos.flatMap(r => Option(r.name)).distinct.take(5)
          .mkString(" | ")
        System.err.println(f"[probe]   stage ${si.stageId}%4d ${wall}%8.3fs " +
          f"n=${si.numTasks}%4d  $ops")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { agg =>
          val wall = (System.nanoTime() - agg.start) / 1e9
          System.err.println(f"[probe] job ${je.jobId}%4d ${wall}%8.3fs wall " +
            f"${agg.taskNanos / 1e9}%9.3fs tasks(n=${agg.tasks}%4d, max ${agg.maxTaskNanos / 1e9}%7.3fs) " +
            s"@ ${agg.callSite}${if (agg.desc.nonEmpty) s" [${agg.desc}]" else ""}")
        }
      }
    }
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "q_graph_pagerank")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    // persisted-layout fixtures stage exactly as the bench does (untimed)
    OpsPack.prepareIndexes(spark, sfDir)
    graft.operators.CacheScope.releaseAll()
    spark.sparkContext.addSparkListener(listener)
    for (pass <- 1 to passes; name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      System.err.println(s"[probe] ===== pass $pass $name =====")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val elapsed = (System.nanoTime() - t0) / 1e9
      // give the async listener bus a beat so job lines land before the total
      Thread.sleep(300)
      System.err.println(f"[probe] ===== pass $pass $name total ${elapsed}%.3fs =====")
      graft.operators.CacheScope.releaseAll()
      OpsPack.releaseSharedFrames()
    }
    HarnessSession.stop(spark)
  }
}

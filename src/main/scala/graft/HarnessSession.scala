package graft

import org.apache.spark.sql.SparkSession

/** The one session the harness mains (Bench, Verify, Probe, DumpPlans,
  * ScaleCheck) run on, so a plan dumped or probed is the plan benched.
  * Each caller passes only the settings it needs on top (`extra`, applied
  * last). Users' sessions come from `cli.Main.openSession`, tests' from
  * `SparkTestBase`. */
object HarnessSession {
  def apply(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Two DRIVER-side observability costs serialized whole queries on the
      // main thread (round-4 jstack evidence, SCALE.md "driver overheads"):
      // every AQE replan re-renders the full plan description for listener
      // events (TreeNode.formatArg dominating main), and every Column
      // construction captures a JVM stack trace for DataFrame error context
      // (CurrentOrigin.withOrigin -> Thread.getStackTrace — the compare
      // engine builds thousands of Columns per query). With the UI off the
      // full plan text serves nothing: cap it, and skip the stack capture.
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.dataFrameQueryContext.enabled", "false")
      // Shuffle/spill files on tmpfs: the bench host throttles disk burst
      // IO as well as CPU (SCALE.md), and the shuffle traffic of these
      // queries never needs to touch a real disk.
      .config("spark.local.dir", localDir("graft-spark-local"))
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_LOCAL_DIR` if set, else `/dev/shm/<name>` when tmpfs is
    * there, else `target/` (without the `graft-` prefix). */
  def localDir(name: String): String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
    if (new java.io.File("/dev/shm").isDirectory) s"/dev/shm/$name"
    else s"target/${name.stripPrefix("graft-")}")

  /** Stop the session and delete its tmpfs local dir: tmpfs is RAM, so a
    * leftover would hold memory after the run. */
  def stop(spark: SparkSession): Unit = {
    val dir = spark.conf.get("spark.local.dir")
    spark.stop()
    if (dir.startsWith("/dev/shm/graft-spark-local"))
      try graft.operators.Utils.deleteRecursively(java.nio.file.Paths.get(dir))
      catch { case _: java.io.IOException => () }
  }
}

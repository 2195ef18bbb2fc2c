package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.{CompareConfig, SparkCompare}
import graft.report.Json
import graft.sources.Readers

/** The JVM side of the benchmark (see ../../README.md). Modes:
  *
  *   library   set up, warm up, then repeat a library compare plus report
  *             for the given seconds; writes the run's result JSON
  *   generate  set up only: write the seeded inputs and their expected
  *             results for the CLI workload
  *   cli-trace one traced CLI run: the calls `graft.cli.Main.run` makes,
  *             each timed from outside, in a fresh JVM
  *
  * Arguments are `--name value` pairs; `--launched` is the epoch time in
  * seconds at which the launcher started this JVM.
  */
object Harness {
  /** Input sizes. They are chosen so that every run, with its set-up, fits
    * the run budget stated in the README. */
  val BaselineRows = 100000L
  val WideGroups = 10000L
  val WideColumns = 30
  val CliRows = 100000L
  /** Seconds of `--seconds` per timed compare: a run makes `--seconds` /
    * this many of them (at least one), so the number of repetitions, and with
    * it how far the JIT has warmed, does not change with the speed of a run.
    * Both exceed a warm compare on the reference host (about 2.1 s each),
    * which leaves room for set-up and warm-up in the run budget. */
  val RepSeconds: Map[String, Double] = Map("baseline_report" -> 3.0, "wide_report" -> 4.5)
  /** Untimed compares before timing starts. Compares keep getting faster as
    * the JIT compiles more code: `baseline_report` settled only after six to
    * eight compares, and how fast it got there varied from JVM to JVM, so
    * three warm-ups left the timed median moving by 15% between runs.
    * `wide_report`, whose time is mostly Catalyst planning on the driver,
    * was still getting faster at its ninth compare after four warm-ups. */
  val WarmUps: Map[String, Int] = Map("baseline_report" -> 6, "wide_report" -> 7)

  /** Phases in the order a compare runs them. Those in [[Summed]] cover the
    * timed compare plus report; `cli.session` is part of it only for the CLI.
    * `compare.unpersist` runs after the report exists. */
  val Phases: Seq[String] = Seq("cli.session", "sources.load", "compare.construct",
    "compare.probe", "compare.fill", "compare.stats", "report.build", "report.render",
    "compare.unpersist")
  val Summed: Set[String] = Set("sources.load", "compare.construct", "compare.probe",
    "compare.fill", "compare.stats", "report.build", "report.render")

  def design(workload: String): Design = workload match {
    case "baseline_report" => Designs.baseline(BaselineRows)
    case "wide_report" => Designs.wide(WideGroups, WideColumns)
    case "cli_cold" => Designs.baseline(CliRows)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  final case class Timing(name: String, startMs: Long, endMs: Long, wallS: Double)

  final class Opts(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val work: String = apply("work")
    val cpus: Int = apply("cpus").toInt
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
  }

  def main(argv: Array[String]): Unit = {
    val mainS = nowEpochS()
    val mode = argv.head
    val opts = new Opts(argv.tail.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val bootS = mainS - opts("launched").toDouble
    mode match {
      case "library" => library(opts, bootS)
      case "generate" => generate(opts, bootS)
      case "cli-trace" => sys.exit(cliTrace(opts, bootS))
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
  }

  /** CPU seconds the hypervisor has withheld from this machine, summed over
    * its CPUs: the `steal` column of /proc/stat, in the usual 100 ticks a
    * second; NaN where there is no such file. Logged per compare, to tell
    * host contention from the program's own variation. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
      finally src.close()
    } catch { case _: Exception => Double.NaN }

  private def nowEpochS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** The session the CLI opens (graft.cli.Main.openSession with
    * SPARK_GRAFT_CPUS set); every other setting comes from the JVM's
    * `spark.*` system properties, which the launcher gives every JVM. */
  def session(cpus: Int, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start and input generation. Returns the inputs, their expected
    * results, and the session and generation times. */
  private def setUp(o: Opts, appName: String): (SparkSession, Design, (String, String), Expected, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = session(o.cpus, appName)
    val t1 = System.nanoTime()
    val d = design(o.workload)
    val paths = d.write(spark, o.seed, s"${o.work}/data")
    val expected = d.expected
    val t2 = System.nanoTime()
    System.err.println(f"perfbench: session ${(t1 - t0) / 1e9}%.2f s, inputs ${(t2 - t1) / 1e9}%.2f s")
    (spark, d, paths, expected, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  private def generate(o: Opts, bootS: Double): Unit = {
    val (spark, d, paths, expected, sessionS, genS) = setUp(o, "perfbench")
    Checks.rowCounts(spark, paths, d.keys, expected)
    spark.stop()
    writeFile(s"${o.work}/expected.json", Json.obj(
      "expected" -> expected.toJson,
      "boot_s" -> Json.num(bootS), "session_s" -> Json.num(sessionS),
      "generate_s" -> Json.num(genS)))
  }

  /** Runs `body` as phase `name`: jobs it submits carry the phase label, and
    * its wall-clock window is recorded. */
  private def phase[T](spark: SparkSession, out: mutable.Buffer[Timing], name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PhaseProperty, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      out += Timing(name, startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
      sc.setLocalProperty(Tracer.PhaseProperty, null)
    }
  }

  final case class Rep(totalS: Double, timings: Seq[Timing], work: Work, plan: PlanWork,
      failures: Seq[String], error: Option[String])

  /** One library compare plus report, from loading the inputs until the
    * rendered report exists. A traced repetition calls the steps `report()`
    * runs one by one, and forces the join and cache fill on its own (a count
    * over `df1UnqRows`) so it splits from the stats pass. */
  private def libraryRep(spark: SparkSession, tracer: Tracer, plans: PlanTracer,
      paths: (String, String), keys: Seq[String], e: Expected, traced: Boolean): Rep = {
    val timings = mutable.ArrayBuffer.empty[Timing]
    val cfg = CompareConfig(joinColumns = keys, df1Name = "left", df2Name = "right")
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    tracer.take()
    plans.take()
    var cmp: SparkCompare = null
    var totalS = Double.NaN
    var failures = Seq.empty[String]
    val steal0 = stealS()
    val error = try {
      val t0 = System.nanoTime()
      val (df1, df2) = phase(spark, timings, "sources.load") {
        (Readers.load(spark, paths._1, "parquet"), Readers.load(spark, paths._2, "parquet"))
      }
      cmp = phase(spark, timings, "compare.construct") { new SparkCompare(spark, df1, df2, cfg) }
      if (traced) {
        phase(spark, timings, "compare.probe") { cmp.anyDupes }
        phase(spark, timings, "compare.fill") { cmp.df1UnqRows.count() }
        phase(spark, timings, "compare.stats") { cmp.intersectCount; cmp.columnStats }
      }
      val data = phase(spark, timings, "report.build") { cmp.buildReportData() }
      val text = phase(spark, timings, "report.render") { data.render }
      totalS = (System.nanoTime() - t0) / 1e9
      failures = Checks.report(data, text, cmp.columnStats.map(s => s.column -> s.unequalCnt), e)
      None
    } catch {
      case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}")
    } finally {
      if (cmp != null) phase(spark, timings, "compare.unpersist") { cmp.unpersist() }
    }
    System.gc()
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val work = tracer.take()
    System.err.println(f"perfbench: ${if (traced) "traced" else "untraced"} compare ${totalS}%.3f s, " +
      f"steal ${stealS() - steal0}%.2f s, ${work.total.jobs} jobs, " + timings.map(t => f"${t.name} ${t.wallS}%.3f").mkString(", "))
    Rep(totalS, timings.toSeq, work, plans.take(), failures, error)
  }

  private def library(o: Opts, bootS: Double): Unit = {
    val (spark, d, paths, expected, sessionS, genS) = setUp(o, "perfbench")
    val setupS = bootS + sessionS + genS
    val tracer = new Tracer()
    val plans = new PlanTracer()
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(plans)
    val run = () => libraryRep(spark, tracer, plans, paths, d.keys, expected, traced = false)
    // The warm-up compares the same inputs, so it compiles the same plans:
    // smaller inputs would let adaptive execution pick other joins.
    val first = run()
    // The recount runs other queries; the first compare after it was 50%
    // slower, so it runs before the remaining warm-ups, not before timing.
    Checks.rowCounts(spark, paths, d.keys, expected)
    (2 to WarmUps(o.workload)).foreach(_ => run())
    val reps = mutable.ArrayBuffer.empty[(Rep, Boolean)]
    // A round is one repetition, or with tracing an untraced and a traced one.
    val roundS = RepSeconds(o.workload) * (if (o.trace) 2 else 1)
    for (_ <- 1 to math.max(1, math.round(o.seconds / roundS).toInt)) {
      reps += ((run(), false))
      if (o.trace)
        reps += ((libraryRep(spark, tracer, plans, paths, d.keys, expected, traced = true), true))
    }
    spark.stop()
    val all = first +: reps.map(_._1).toSeq
    all.flatMap(r => r.error ++ r.failures).distinct.take(20).foreach(f => System.err.println(s"check: $f"))
    def passed(r: Rep) = r.error.isEmpty && r.failures.isEmpty
    val plain = reps.collect { case (r, false) if passed(r) => r }
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("compare_report_s", median(plain.map(_.totalS)), "s"),
        ("setup_s", setupS, "s"),
        ("cache_mb", median(plain.map(_.work.cachePeakBytes / 1e6)), "MB"),
        ("shuffle_mb", median(plain.map(_.work.total.shuffleWriteBytes / 1e6)), "MB"),
        ("spark_jobs", median(plain.map(_.work.total.jobs.toDouble)), "count"))
      else {
        val traced = reps.collect { case (r, true) if passed(r) => r }
        val perRep = traced.map(r => Layers.perRep(r.timings, r.work, r.plan))
        val session = Layers.phase(Timing("cli.session", 0L, 0L, sessionS), new PhaseWork)
        val tracedS = median(traced.map(_.totalS))
        val summedS = median(traced.map(r => r.timings.filter(t => Summed(t.name)).map(_.wallS).sum))
        Layers.names.map { n =>
          (n, session.getOrElse(n, median(perRep.map(_.getOrElse(n, 0.0)))), Layers.unit(n))
        } ++ Seq(
          ("first_compare_s", first.totalS, "s"),
          ("jvm.boot_s", bootS, "s"),
          ("trace.compare_report_s", tracedS, "s"),
          ("trace.overhead_s", tracedS - median(plain.map(_.totalS)), "s"),
          ("trace.unattributed_s", tracedS - summedS, "s"),
          ("trace.skipped_tasks", all.map(_.work.skippedTasks).sum.toDouble, "count"))
      }
    writeFile(s"${o.work}/result.json", result(
      correct = all.forall(_.failures.isEmpty),
      attempted = reps.size,
      failed = reps.count { case (r, _) => !passed(r) },
      metrics))
  }

  /** One traced CLI run in a fresh JVM: the session, inputs, compare and
    * JSON report that `graft.cli.Main.run` makes for
    * `--assume-keys-unique --assume-keys-null-free --report-format json`,
    * each call timed as its own phase. Returns the CLI's exit code. */
  private def cliTrace(o: Opts, bootS: Double): Int = {
    val timings = mutable.ArrayBuffer.empty[Timing]
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val spark = session(o.cpus, "datacompy")
    timings += Timing("cli.session", startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    val tracer = new Tracer()
    val plans = new PlanTracer()
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(plans)
    val left = o("left")
    val right = o("right")
    val (df1, df2) = phase(spark, timings, "sources.load") {
      (Readers.load(spark, left, Readers.inferFormat(left, None)),
        Readers.load(spark, right, Readers.inferFormat(right, None)))
    }
    val cfg = CompareConfig(joinColumns = Seq("id"),
      df1Name = Readers.defaultDatasetName(left), df2Name = Readers.defaultDatasetName(right),
      assumeKeysUnique = Some(true), assumeKeysNullFree = Some(true))
    val cmp = phase(spark, timings, "compare.construct") { new SparkCompare(spark, df1, df2, cfg) }
    phase(spark, timings, "compare.probe") { cmp.anyDupes }
    phase(spark, timings, "compare.fill") { cmp.df1UnqRows.count() }
    phase(spark, timings, "compare.stats") { cmp.intersectCount; cmp.columnStats }
    val data = phase(spark, timings, "report.build") { cmp.buildReportData() }
    phase(spark, timings, "report.render") { writeFile(o("output"), data.toJson) }
    phase(spark, timings, "compare.unpersist") { cmp.unpersist() }
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val work = tracer.take()
    val layers = Layers.perRep(timings.toSeq, work, plans.take()) ++ Map(
      "jvm.boot_s" -> bootS, "trace.skipped_tasks" -> work.skippedTasks.toDouble,
      // the wall time the phases account for, set against the launcher's
      // launch-to-exit time to give trace.unattributed_s
      "summed_wall_s" -> timings.filter(t => t.name == "cli.session" || Summed(t.name)).map(_.wallS).sum)
    spark.stop()
    writeFile(o("layers"), Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    // the CLI's pass rule without --max-unequal-rows or --ignore-extra-columns
    val (cols, rows) = (data.columnSummary, data.rowSummary)
    val matched = cols.df1Unique == 0 && cols.df2Unique == 0 && rows.df1Unique == 0 &&
      rows.df2Unique == 0 && rows.commonRows > 0 && rows.unequalRows == 0
    if (matched) 0 else 1
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    Json.obj(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*))

  private def writeFile(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, text)
  }
}

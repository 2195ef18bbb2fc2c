// Dumps the plans of a fresh compare's report on both perfbench workload
// shapes: the final executed plan of every query `buildReportData` runs, in
// the order they ran.
//
// Build the program and perfbench classes first (`python3 perfbench/build.py`
// from the repository root), then run from the repository root:
//
//   PLAN_INPUTS=<dir for the seed-1 inputs> PLAN_OUT=<dir for the plans> PLAN_SUFFIX=<before|after> \
//     spark-shell --master 'local[4]' --conf spark.sql.session.timeZone=UTC --conf spark.sql.shuffle.partitions=4 \
//     --driver-class-path .bench_build/classes/main:.bench_build/classes/perfbench \
//     -i plans/report_no_cache/dump_plans.scala
//
// Each workload's inputs are written with seed 1 (or reused when present)
// and compared the way perfbench compares them (four shuffle partitions, as
// perfbench sets on a 4-CPU host); `<workload>_<suffix>.txt`
// holds the plans. `_before` came from the parent checkout of the change
// that added this directory, `_after` from the change itself.
import graft.operators._
import graft.sources.Readers
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

val inputs = sys.env("PLAN_INPUTS")
val out = sys.env("PLAN_OUT")
val suffix = sys.env("PLAN_SUFFIX")
val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
val listener = new QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(qe.executedPlan.toString)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
// Listener events arrive asynchronously, in order: a sentinel query's plan
// arriving means every earlier plan has.
def drain(): Seq[String] = {
  spark.range(0, 1, 1, 1).selectExpr("'plan-sentinel' AS s").collect()
  while (!plans.toArray.exists(_.toString.contains("plan-sentinel"))) Thread.sleep(50)
  val all = Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
  all.filterNot(_.contains("plan-sentinel"))
}
spark.listenerManager.register(listener)
for (w <- Seq("baseline_report", "wide_report")) {
  val d = perfbench.Harness.design(w)
  val dir = s"$inputs/$w"
  val (l, r) =
    if (new java.io.File(s"$dir/left.parquet").exists) (s"$dir/left.parquet", s"$dir/right.parquet")
    else d.write(spark, 1L, dir)
  val c = new SparkCompare(spark, Readers.load(spark, l, "parquet"), Readers.load(spark, r, "parquet"),
    CompareConfig(joinColumns = d.keys, df1Name = "left", df2Name = "right"))
  drain()
  c.buildReportData()
  val text = drain().zipWithIndex
    .map { case (p, i) => s"==== query ${i + 1} of the report ====\n$p" }.mkString("\n")
  java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/${w}_$suffix.txt"),
    text.replace(inputs, "<inputs>"))
  c.unpersist()
}
System.exit(0)

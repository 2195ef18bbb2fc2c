// Dumps the cached-join plan of both perfbench workload shapes.
//
// Build the program and perfbench classes first (`python3 perfbench/build.py`
// from the repository root), then run from the repository root:
//
//   PLAN_INPUTS=<dir for the seed-1 inputs> PLAN_OUT=<dir for the plans> \
//     spark-shell --master 'local[4]' --conf spark.sql.session.timeZone=UTC \
//     --driver-class-path .bench_build/classes/main:.bench_build/classes/perfbench \
//     -i plans/one_shuffle_compare/dump_plans.scala
//
// Each workload's inputs are written with seed 1, compared the way
// perfbench compares them, and the cache is filled; `<workload>.txt` holds
// the executed plan of a unique-row slice, which shows the cached join's
// final adaptive plan.
import graft.operators._
import graft.sources.Readers

val inputs = sys.env("PLAN_INPUTS")
val out = sys.env("PLAN_OUT")
for (w <- Seq("baseline_report", "wide_report")) {
  val d = perfbench.Harness.design(w)
  val dir = s"$inputs/$w"
  val (l, r) =
    if (new java.io.File(s"$dir/left.parquet").exists) (s"$dir/left.parquet", s"$dir/right.parquet")
    else d.write(spark, 1L, dir)
  val c = new SparkCompare(spark, Readers.load(spark, l, "parquet"), Readers.load(spark, r, "parquet"),
    CompareConfig(joinColumns = d.keys, df1Name = "left", df2Name = "right"))
  c.df1UnqRows.count()
  java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/$w.txt"),
    c.df1UnqRows.queryExecution.executedPlan.toString)
  c.unpersist()
}
System.exit(0)

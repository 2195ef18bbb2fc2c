package graft

/** Ad-hoc harness main (not part of the driver contract): writes every
  * declared query's `.explain("formatted")` output to one file per query
  * under an output directory, for plan audits (Exchange counts, join
  * strategies, PushedFilters/ReadSchema, WholeStageCodegen spans).
  *
  * Usage: runMain graft.DumpPlans [sfDir] [outDir] [namesCsv]
  *
  * Construction-time driver actions inside query builders (metadata counts,
  * broadcast probes) run as usual; the query's distributed action does NOT
  * (nothing is written to a sink), so a full sweep is cheap. The session
  * is Bench's ([[HarnessSession]]), so the captured plans are the benched
  * plans; only the plan-string cap is raised, so no plan is cut short.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outDir = args.drop(1).headOption.getOrElse("plans/r16")
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = HarnessSession("spark.sql.maxPlanStringLength" -> "262144")
    spark.sparkContext.setLogLevel("ERROR")
    OpsPack.prepareIndexes(spark, sfDir)
    graft.operators.CacheScope.releaseAll()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    var failed = 0
    for (name <- names) {
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
        System.err.println(f"[plans] $name%-36s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
      graft.operators.CacheScope.releaseAll()
    }
    System.err.println(s"[plans] ${names.size - failed}/${names.size} plans written to $outDir")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

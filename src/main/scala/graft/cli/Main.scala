package graft.cli

import org.apache.spark.sql.SparkSession

import graft.operators._
import graft.sources.Readers

/** `compare` CLI (reference: datacompy/cli/, declarative option table at
  * cli/parser.py:268-510; exit codes cli/__init__.py:57-85).
  * Exit codes: 0 match, 1 mismatch, 2 usage/error, 130 interrupt. */
object Main {

  final class BadArgsException(msg: String) extends IllegalArgumentException(msg)
  /** Raised by --help/--version: print `text`, exit 0 (argparse behaviour,
    * reference: cli/parser.py:565-601). */
  final class ExitWithText(val text: String) extends RuntimeException

  val Version = "graft 0.2.0"

  val Usage: String =
    """usage: compare --left PATH --right PATH --on COL[,COL...] [options]
      |
      |Compare two datasets and render a mismatch report.
      |
      |required:
      |  --left PATH                first dataset (csv/parquet/json by extension)
      |  --right PATH               second dataset
      |  --on COL[,COL...]          join column(s); repeatable
      |
      |options:
      |  --input-format FMT         csv|parquet|json|table (overrides extension)
      |  --csv-delimiter CHAR       single-char CSV delimiter (default ,)
      |  --abs-tol N | COL=N        absolute tolerance; repeatable COL=VALUE form
      |  --rel-tol N | COL=N        relative tolerance; repeatable COL=VALUE form
      |  --ignore-spaces            trim strings (and string join keys) before compare
      |  --ignore-case              uppercase strings before compare
      |  --no-cast-column-names-lower   keep original column-name case
      |  --ignore-extra-columns     non-shared columns don't fail the match
      |  --df1-name NAME            report label for --left (default: path stem)
      |  --df2-name NAME            report label for --right
      |  --sample-count N           mismatch sample rows per column (default 10)
      |  --column-count N           columns shown in unique-row samples (default 10)
      |  --max-unequal-rows N       pass threshold on differing rows
      |  --ignore-unique-rows       threshold counts only intersect mismatches
      |  --report-format FMT        text|json|html (default text)
      |  --output PATH              write the report to a file
      |  --quiet                    suppress stdout report
      |  --spark-app-name NAME      Spark application name (local sessions
      |                             only; a Connect server names its own)
      |  --remote URL               run against a Spark Connect endpoint
      |                             (sc://host:port) instead of a local
      |                             session; paths resolve on the SERVER
      |  --backend NAME             engine selector (script compatibility;
      |                             only 'spark' is accepted)
      |  --no-cache-intermediates   never cache the merged join (kept for
      |                             scripts: a CLI report is one query over
      |                             the join and caches nothing either way)
      |  --assume-keys-unique       promise join keys are unique per side:
      |                             plans a plain sort-merge join with no
      |                             pairing-rank windows. UNCHECKED — a
      |                             wrong promise produces wrong results.
      |  --assume-keys-null-free    promise join keys contain no NULLs:
      |                             with --assume-keys-unique, plans plain
      |                             equality joins. UNCHECKED.
      |  --help                     show this help and exit
      |  --version                  show version and exit
      |
      |exit codes: 0 match, 1 mismatch, 2 usage/error, 130 interrupt""".stripMargin

  /** Parsed options with reference defaults. */
  final case class Args(
      left: String = null,
      right: String = null,
      on: Seq[String] = Nil,
      inputFormat: Option[String] = None,
      csvDelimiter: String = ",",
      absTol: ToleranceSpec = ToleranceSpec.Zero,
      relTol: ToleranceSpec = ToleranceSpec.Zero,
      ignoreSpaces: Boolean = false,
      ignoreCase: Boolean = false,
      castColumnNamesLower: Boolean = true,
      ignoreExtraColumns: Boolean = false,
      df1Name: Option[String] = None,
      df2Name: Option[String] = None,
      sampleCount: Int = 10,
      columnCount: Int = 10,
      maxUnequalRows: Option[Long] = None,
      ignoreUniqueRows: Boolean = false,
      reportFormat: String = "text",
      output: Option[String] = None,
      quiet: Boolean = false,
      sparkAppName: String = "datacompy",
      remote: Option[String] = None,
      cacheIntermediates: Boolean = true,
      assumeKeysUnique: Boolean = false,
      assumeKeysNullFree: Boolean = false)

  /** Tolerance argument: bare number applies to all columns, or repeated
    * COL=VALUE entries with an optional `default` key
    * (reference: cli/parser.py:136-159, 202-230). */
  private[graft] def parseTolerances(values: Seq[String], flag: String): ToleranceSpec = {
    if (values.isEmpty) return ToleranceSpec.Zero
    val bare = values.filterNot(_.contains('='))
    val pairs = values.filter(_.contains('='))
    if (bare.nonEmpty && (bare.length > 1 || pairs.nonEmpty))
      throw new BadArgsException(
        s"$flag accepts either one bare number or repeated COL=VALUE entries")
    if (bare.nonEmpty) {
      val v = parseDouble(bare.head, flag)
      ToleranceSpec(v)
    } else {
      val kv = pairs.map { p =>
        val Array(k, v) =
          p.split("=", 2) match {
            case a if a.length == 2 && a(0).nonEmpty => a
            case _ => throw new BadArgsException(s"$flag: malformed entry '$p'")
          }
        k.toLowerCase -> parseDouble(v, flag)
      }.toMap
      ToleranceSpec(kv.getOrElse("default", 0.0), kv - "default")
    }
  }

  private def parseDouble(s: String, flag: String): Double =
    try {
      val v = s.toDouble
      if (v < 0) throw new BadArgsException(s"$flag must be non-negative, got $s")
      v
    } catch {
      case _: NumberFormatException =>
        throw new BadArgsException(s"$flag expects a number, got '$s'")
    }

  private[graft] def parse(argv: Seq[String]): Args = {
    var a = Args()
    var absTolVals = Vector.empty[String]
    var relTolVals = Vector.empty[String]
    var i = 0
    def value(flag: String): String = {
      i += 1
      if (i >= argv.length) throw new BadArgsException(s"$flag requires a value")
      argv(i)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--help" | "-h" => throw new ExitWithText(Usage)
        case "--version" => throw new ExitWithText(Version)
        case "--left" => a = a.copy(left = value("--left"))
        case "--right" => a = a.copy(right = value("--right"))
        case "--on" =>
          a = a.copy(on = a.on ++ value("--on").split(",").map(_.trim).filter(_.nonEmpty))
        case "--input-format" =>
          val v = value("--input-format")
          if (!Set("csv", "parquet", "json", "table").contains(v))
            throw new BadArgsException(s"--input-format must be csv|parquet|json|table, got $v")
          a = a.copy(inputFormat = Some(v))
        case "--csv-delimiter" =>
          val v = value("--csv-delimiter") match {
            case "\\t" => "\t"
            case other => other
          }
          if (v.length != 1)
            throw new BadArgsException("--csv-delimiter must be a single character")
          a = a.copy(csvDelimiter = v)
        case "--abs-tol" => absTolVals :+= value("--abs-tol")
        case "--rel-tol" => relTolVals :+= value("--rel-tol")
        case "--ignore-spaces" => a = a.copy(ignoreSpaces = true)
        case "--ignore-case" => a = a.copy(ignoreCase = true)
        case "--cast-column-names-lower" => a = a.copy(castColumnNamesLower = true)
        case "--no-cast-column-names-lower" => a = a.copy(castColumnNamesLower = false)
        case "--ignore-extra-columns" => a = a.copy(ignoreExtraColumns = true)
        case "--df1-name" => a = a.copy(df1Name = Some(value("--df1-name")))
        case "--df2-name" => a = a.copy(df2Name = Some(value("--df2-name")))
        case "--sample-count" => a = a.copy(sampleCount = parseNonNegInt(value("--sample-count"), "--sample-count"))
        case "--column-count" => a = a.copy(columnCount = parseNonNegInt(value("--column-count"), "--column-count"))
        case "--max-unequal-rows" =>
          a = a.copy(maxUnequalRows = Some(parseNonNegInt(value("--max-unequal-rows"), "--max-unequal-rows").toLong))
        case "--ignore-unique-rows" => a = a.copy(ignoreUniqueRows = true)
        case "--report-format" =>
          val v = value("--report-format")
          if (!Set("text", "json", "html").contains(v))
            throw new BadArgsException(s"--report-format must be text|json|html, got $v")
          a = a.copy(reportFormat = v)
        case "--output" => a = a.copy(output = Some(value("--output")))
        case "--quiet" => a = a.copy(quiet = true)
        case "--spark-app-name" => a = a.copy(sparkAppName = value("--spark-app-name"))
        case "--remote" => a = a.copy(remote = Some(value("--remote")))
        // reference parser.py:268-510 selects among pandas/polars/spark/
        // snowflake engines; this library IS the spark engine, so the flag
        // exists for script compatibility and validates rather than switches
        case "--backend" =>
          val b = value("--backend")
          if (b.toLowerCase != "spark")
            throw new BadArgsException(
              s"--backend '$b' is not available: this is a Spark-native engine " +
                "(only 'spark' is accepted)")
        case "--cache-intermediates" => a = a.copy(cacheIntermediates = true)
        case "--no-cache-intermediates" => a = a.copy(cacheIntermediates = false)
        case "--assume-keys-unique" => a = a.copy(assumeKeysUnique = true)
        case "--assume-keys-null-free" => a = a.copy(assumeKeysNullFree = true)
        case other => throw new BadArgsException(s"unknown option: $other")
      }
      i += 1
    }
    if (a.left == null || a.right == null)
      throw new BadArgsException("--left and --right are required")
    if (a.on.isEmpty)
      throw new BadArgsException("--on is required. Specify at least one join column with --on COL.")
    if (a.ignoreUniqueRows && a.maxUnequalRows.isEmpty)
      throw new BadArgsException(
        "--ignore-unique-rows only has an effect together with --max-unequal-rows N.")
    a = a.copy(absTol = parseTolerances(absTolVals, "--abs-tol"),
      relTol = parseTolerances(relTolVals, "--rel-tol"))
    a
  }

  private def parseNonNegInt(s: String, flag: String): Int =
    try {
      val v = s.toInt
      if (v < 0) throw new BadArgsException(s"$flag must be non-negative")
      v
    } catch {
      case _: NumberFormatException => throw new BadArgsException(s"$flag expects an integer")
    }

  /** Dataset labels from path stems with `_1`/`_2` collision suffixes
    * (reference: cli/parser.py:246-261). */
  private[graft] def datasetNames(a: Args): (String, String) = {
    val l = Readers.defaultDatasetName(a.left)
    val r = Readers.defaultDatasetName(a.right)
    val (dl, dr) = if (l != r) (l, r) else (s"${l}_1", s"${r}_2")
    (a.df1Name.getOrElse(dl), a.df2Name.getOrElse(dr))
  }

  /** Pass/fail from already-computed report data — never recounts
    * (reference: cli/compare.py:124-157). */
  private[graft] def withinThreshold(a: Args, data: graft.report.ReportData): Boolean = {
    val rows = data.rowSummary
    val columnsOk = a.ignoreExtraColumns ||
      (data.columnSummary.df1Unique == 0 && data.columnSummary.df2Unique == 0)
    a.maxUnequalRows match {
      case None =>
        val rowsOverlap = rows.df1Unique == 0 && rows.df2Unique == 0
        val intersectMatches = rows.commonRows > 0 && rows.unequalRows == 0
        columnsOk && rowsOverlap && intersectMatches
      case Some(max) =>
        var differing = rows.unequalRows
        if (!a.ignoreUniqueRows) differing += rows.df1Unique + rows.df2Unique
        columnsOk && differing <= max
    }
  }

  /** Session for one CLI run. `--remote` (or SPARK_GRAFT_REMOTE) attaches
    * to a Spark Connect endpoint — the compare engine is pure DataFrame
    * API (no client-side expression registration), so the whole CLI works
    * unchanged against a remote cluster; input paths then resolve on the
    * SERVER's filesystem. A remote session is always created fresh and
    * closed by this run. The Connect client classes ship with Spark
    * distributions (jars/connect-repl) — a missing client surfaces as a
    * named error, not a stack trace. */
  private def openSession(a: Args): (SparkSession, Boolean) =
    a.remote.orElse(sys.env.get("SPARK_GRAFT_REMOTE").filter(_.nonEmpty)) match {
      case Some(url) =>
        val s =
          try org.apache.spark.sql.connect.SparkSession.builder()
            .remote(url).create()
          catch {
            case _: NoClassDefFoundError =>
              throw new BadArgsException(
                "--remote needs the Spark Connect client on the classpath " +
                  "(spark-connect-client-jvm, shipped in the Spark " +
                  "distribution's jars/connect-repl directory)")
          }
        // the first server round-trip happens HERE (create() is lazy) —
        // close the session we own if it fails, callers embedding run()
        // as a library must not leak a gRPC channel per bad endpoint
        try sys.env.get("SPARK_GRAFT_CPUS").foreach(n =>
          s.conf.set("spark.sql.shuffle.partitions", n))
        catch { case e: Throwable => s.stop(); throw e }
        (s, true)
      case None =>
        // ownership check covers the DEFAULT session too: getOrCreate
        // falls back to it when no thread-local active session exists,
        // and stopping a host application's session from a library call
        // is exactly the bug that fallback would cause
        val existing = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession)
        val s = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
            s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]"))
          .appName(a.sparkAppName)
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
          .getOrCreate()
        (s, existing.isEmpty)
    }

  def run(argv: Seq[String]): Int = {
    val a = parse(argv)
    val (spark, createdHere) = openSession(a)
    try {
      // log level is a driver-JVM concern; a Connect client has no
      // SparkContext (the server owns logging). Session-kind test goes
      // through the registry's ONE definition of "classic".
      if (graft.functions.GraftRegistry.canRegisterClientSide(spark))
        spark.sparkContext.setLogLevel(
          sys.env.getOrElse("DATACOMPY_SPARK_LOG_LEVEL", "ERROR"))
      val fmt1 = Readers.inferFormat(a.left, a.inputFormat)
      val fmt2 = Readers.inferFormat(a.right, a.inputFormat)
      val df1 = Readers.load(spark, a.left, fmt1, a.csvDelimiter)
      val df2 = Readers.load(spark, a.right, fmt2, a.csvDelimiter)
      val (name1, name2) = datasetNames(a)
      val cfg = CompareConfig(
        joinColumns = a.on,
        absTol = a.absTol, relTol = a.relTol,
        df1Name = name1, df2Name = name2,
        ignoreSpaces = a.ignoreSpaces, ignoreCase = a.ignoreCase,
        castColumnNamesLower = a.castColumnNamesLower,
        cacheIntermediates = a.cacheIntermediates,
        assumeKeysUnique = if (a.assumeKeysUnique) Some(true) else None,
        assumeKeysNullFree = if (a.assumeKeysNullFree) Some(true) else None)
      val compare = new SparkCompare(spark, df1, df2, cfg)
      val data = compare.buildReportData(a.sampleCount, a.columnCount)
      val rendered = a.reportFormat match {
        case "json" => data.toJson
        case "html" => data.toHtml
        case _ => data.render
      }
      a.output.foreach { path =>
        val p = java.nio.file.Paths.get(path)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, rendered)
      }
      if (!a.quiet) println(rendered)
      if (withinThreshold(a, data)) 0 else 1
    } finally {
      if (createdHere) spark.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(args.toSeq)
      catch {
        case e: ExitWithText =>
          println(e.text)
          0
        case e: IllegalArgumentException =>
          System.err.println(s"error: ${e.getMessage}")
          2
        case _: InterruptedException => 130
        case e: Throwable =>
          System.err.println(s"error: ${e.getMessage}")
          2
      }
    sys.exit(code)
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY on a small thread pool (Spark schedules
  * concurrent jobs from one session across the local[32] cores). Round-4
  * evidence for why: the driver's verify run has a wall-clock budget, and a
  * serial sweep of 105 queries finished only 57 of them inside it
  * (CORRECTNESS_r04 covered a hash-ordered prefix of the query map — a time
  * cutoff, not failures; the same sweep completes locally with 0 failures).
  * Overlapping queries hides each one's driver-side planning latency behind
  * the others' executor work, and cuts the sweep ~3-4x. All side-effecting
  * layout caches are double-check-locked ([[Memo]]); persisted index
  * layouts are built once, serially, before the pool starts.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query names — local iteration only]
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // concurrent queries: FAIR keeps one long stage from starving the
    // short queries queued behind it in FIFO order
    val spark = HarnessSession("spark.scheduler.mode" -> "FAIR")
    new java.io.File(outDir).mkdirs()
    // Dump the oracle SQL FIRST: if the harness kills a long verify run on
    // a wall-clock budget, the queries that DID finish are still checkable
    // (round 4 lost 48 of 105 queries to exactly this — the sweep was cut
    // off mid-run, and everything not yet dumped fell out of the gate).
    writeOracleJson(outDir, only)
    val t0 = System.nanoTime()
    // Build persisted index/layout directories once before fanning out, so
    // no two pooled queries ever race on one layout build (the memo locks
    // would serialize them anyway; doing it here keeps the timing honest
    // and the failure mode obvious).
    try OpsPack.prepareIndexes(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] prepareIndexes failed: ${e.getMessage}")
    }
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    // per-query pooled execution window — the flake guard's forensics need
    // the CONCURRENT COHORT (who overlapped the poisoned query) when a
    // repair fires; recording two nanos per query is free
    val windows =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val futures = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val q0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(
              f"[verify] ${done.incrementAndGet()}%3d/${selected.size} $name%-28s ${(System.nanoTime() - q0) / 1e9}%7.2fs")
          } catch { case e: Throwable =>
            done.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          } finally windows.put(name, (q0, System.nanoTime()))
        }
      })
    }
    pool.shutdown()
    // Bounded drain: one hung query (a stuck stream, a wedged state store)
    // must cost its own slot, not the whole dump — oracle_sql.json and all
    // completed outputs are already on disk, so abandoning stragglers at
    // the deadline degrades coverage by exactly the stuck queries.
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT", "900").toLong
    val drained =
      pool.awaitTermination(deadlineSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!drained) {
      val unfinished = futures.count(!_.isDone)
      System.err.println(
        s"[verify] DEADLINE after ${deadlineSec}s — abandoning $unfinished unfinished queries")
      pool.shutdownNow()
    }
    futures.foreach(f => if (f.isDone) (try f.get() catch { case _: Throwable => () }))
    // Empty-dump guard. One 0-row flake was observed in a pooled sweep
    // (q_graph_ppr_docs, r14: 45 rows in isolation and in 3 immediate
    // full-sweep re-runs, 0 rows once under the 8-thread pool during a
    // host-throttle window); it never reproduced. A 0-row dump is NOT
    // always wrong — q_graph_khop is legitimately empty at sf0.001 (the
    // tiny supplier table has no nation-0 rows; oracle 0 = 0 passes) —
    // so the guard gives a suspicious empty two repair chances and a
    // fingerprint: re-run serially (repairs a transient race), then
    // re-run after dropping every cached plan and refreshing file
    // listings (repairs session-sticky cache poisoning, once per sweep),
    // keeping a stable empty as the real result for the oracle to
    // adjudicate. Re-runs land in a RETRY path and replace the dump only
    // when they produce rows — a failed or still-empty re-run must never
    // destroy a valid (possibly legitimately-empty) dump. Skipped
    // entirely when the drain deadline fired: the wall-clock budget is
    // already gone and the repair work would eat into the harness kill.
    var cachesCleared = false
    // Queries the ORACLE has already adjudicated as legitimately empty at
    // the small SFs (q_graph_khop: the sf0.001 supplier table has no
    // nation-0 rows; DuckDB agrees 0 = 0 and PASSES) — the staged repair
    // would cost them two serial re-runs plus the one-time cache clear on
    // EVERY sweep for a result that is correct as-is (ADVICE r14). Keep
    // the set minimal: anything else that dumps empty still gets the full
    // guard.
    val knownEmptyOk = Set("q_graph_khop")
    if (drained) selected.foreach { case (name, fn) =>
      val p = s"$outDir/$name"
      // tri-state, not boolean: a dump directory that EXISTS but cannot be
      // read (a writer crashed mid-overwrite leaving a partial dir) is a
      // worse state than a 0-row dump and deserves the same repair chances
      // — the old catch->false classified it "non-empty" and skipped it
      // (ADVICE r14). A MISSING dir is a failed query, already logged.
      // case objects, not plain objects: the state is interpolated into
      // the forensic artifact (target/flake_*.txt), where a default
      // toString of Verify$EmptyDump$1$@936fdd8 would leave the one field
      // that says WHAT was repaired unreadable
      sealed trait DumpState
      case object NonEmpty extends DumpState
      case object EmptyDump extends DumpState
      case object Unreadable extends DumpState
      case object Missing extends DumpState
      val state: DumpState =
        if (!Files.exists(Paths.get(p))) Missing
        else
          try { if (spark.read.parquet(p).isEmpty) EmptyDump else NonEmpty }
          catch { case _: Throwable => Unreadable }
      val suspicious = state match {
        case EmptyDump => !knownEmptyOk(name)
        case Unreadable => true
        case _ => false
      }
      if (suspicious) {
        System.err.println(s"[verify] $name dumped " +
          (if (state == Unreadable) "an UNREADABLE directory" else "0 rows") +
          " — serial re-run (pooled-sweep flake guard)")
        val retry = s"$outDir/__retry_$name"
        // Promotion is crash-safe (ADVICE r14): the original dump moves
        // ASIDE first, the retry moves into place, only then does the
        // backup go — a crash between any two steps leaves a valid dump
        // under p or p.bak, never destroys the only copy of a possibly
        // legitimately-empty result.
        def promote(): Unit = {
          val bak = Paths.get(p + ".bak")
          try graft.operators.Utils.deleteRecursively(bak)
          catch { case _: Throwable => () }
          if (Files.exists(Paths.get(p))) Files.move(Paths.get(p), bak)
          try {
            Files.move(Paths.get(retry), Paths.get(p))
            graft.operators.Utils.deleteRecursively(bak)
          } catch { case e: Throwable =>
            if (!Files.exists(Paths.get(p)) && Files.exists(bak))
              Files.move(bak, Paths.get(p))
            throw e
          }
        }
        // Machine-readable repair marker: recurring repairs across rounds
        // must be detectable from the artifacts, not by grepping stderr —
        // the driver's correctness gate ignores non-query files, and the
        // judge can gate on any __flake_repaired_* appearing at all.
        def markRepaired(stage: String): Unit =
          try Files.writeString(
            Paths.get(s"$outDir/__flake_repaired_$name"), stage)
          catch { case _: Throwable => () }
        // Forensic capture (r14 punch #7): the one-in-20-sweeps event must
        // leave evidence — the repaired query's physical plan plus every
        // query whose pooled window OVERLAPPED it (the suspect cohort).
        def forensics(stage: String): Unit = try {
          val w0 = windows.getOrDefault(name, (0L, Long.MaxValue))
          val cohort = selected.map(_._1).filter { other =>
            other != name && {
              val w = windows.get(other)
              w != null && w._1 < w0._2 && w._2 > w0._1
            }
          }
          val plan =
            try fn(spark, sfDir).queryExecution.executedPlan.toString
            catch { case e: Throwable => s"<plan unavailable: ${e.getMessage}>" }
          new java.io.File("target").mkdirs()
          Files.writeString(Paths.get(s"target/flake_$name.txt"),
            s"""query: $name
               |repaired-by: $stage
               |original state: $state
               |pooled cohort (windows overlapping this query's):
               |${cohort.sorted.mkString("  ", "\n  ", "")}
               |
               |physical plan (rebuilt post-repair):
               |$plan
               |""".stripMargin)
          System.err.println(s"[verify] $name forensics -> target/flake_$name.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name forensics failed: ${e.getMessage}")
        }
        var unreadableReplaced = false
        def rerun(stage: String): Long = {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(retry)
          val n = spark.read.parquet(retry).count()
          System.err.println(s"[verify] $name $stage re-run dumped $n rows")
          if (n > 0L) { // promote the repair; otherwise keep the original
            promote()
            markRepaired(stage)
          } else if (state == Unreadable && !unreadableReplaced) {
            // even a stable-empty retry beats an unreadable dump: promote
            // the readable result once so the oracle can adjudicate it
            promote()
            unreadableReplaced = true
            markRepaired(s"$stage-unreadable-replaced-empty")
          }
          n
        }
        try {
          // Staged repair — a stage that changes the result names the layer:
          if (rerun("serial") == 0L) {
            // base-table visibility (a poisoned file listing or scan would
            // zero a source table session-wide) — log anomalies only,
            // distinguishing "read threw" from a genuine 0-row scan
            Seq("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings").foreach { t =>
              try {
                val c = spark.read.parquet(s"$sfDir/$t.parquet").count()
                if (c == 0L) System.err.println(
                  s"[verify] DIAG base table $t count=0 — SCAN/LISTING POISONED")
              } catch { case e: Throwable => System.err.println(
                s"[verify] DIAG base table $t read failed: ${e.getMessage}")
              }
            }
            // session-wide clears at most once per sweep (they drop every
            // cached plan — repeating them per stable-empty query would
            // just slow the remaining retries)
            if (!cachesCleared) {
              cachesCleared = true
              try spark.catalog.clearCache() catch { case _: Throwable => () }
              graft.operators.CacheScope.releaseAll()
              try spark.catalog.refreshByPath(sfDir) catch { case _: Throwable => () }
            }
            if (rerun("post-cache-clear") == 0L)
              System.err.println(s"[verify] $name stable empty — kept as the " +
                "real result (legitimately empty at this SF, or a deep " +
                "poison; the DuckDB oracle adjudicates either way)")
            else {
              System.err.println(s"[verify] $name REPAIRED by cache clear " +
                "— a poisoned cached plan/listing served empty session-wide")
              forensics("cache-clear")
            }
          } else {
            System.err.println(
              s"[verify] $name POOLED-SWEEP FLAKE repaired by plain re-run")
            forensics("serial")
          }
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name serial re-run failed: ${e.getMessage}")
        } finally {
          try graft.operators.Utils.deleteRecursively(Paths.get(retry))
          catch { case _: Throwable => () }
        }
      }
    }
    System.err.println(
      f"[verify] all ${selected.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    graft.operators.CacheScope.releaseAll()
    spark.stop()
  }

  private def writeOracleJson(outDir: String, only: Set[String]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}

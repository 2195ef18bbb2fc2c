package graft

import org.apache.spark.sql.{functions => F, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll

import graft.functions.{LshPlanes, Md5Longs, TextCounts, VectorFunctions}

/** REAL Spark Connect integration: an in-process Connect server on the
  * suite's SparkContext, driven through the bundled Connect JVM client
  * (`org.apache.spark.sql.connect.SparkSession`, shipped inside
  * spark-connect_2.13 with shaded grpc — loopback only, no egress).
  *
  * ConnectFallbackSpec pins the fallback twins bit-identical to the codegen
  * expressions CLASSIC-side; this suite closes the loop the r12/r13 notes
  * deferred ("the dispatch itself cannot run locally"): it proves, against
  * a live server,
  *
  *   1. the wrapper DISPATCH — a non-classic active session gets the
  *      built-in twin, and it round-trips through server-side analysis +
  *      Arrow results bit-identically to classic execution;
  *   2. the `spark.graft.connect.functions=server` dial — `call_function`
  *      resolving through the server-side [[graft.functions.GraftExtensions]]
  *      install (SparkTestBase sets `spark.sql.extensions`, the documented
  *      deployment), same results;
  *   3. the AGGREGATES (graft_top_k, graft_vector_sum) and string family
  *      (graft_text_counts, graft_md5_longs) through the server install —
  *      AND the client-side twins a plain (no-dial) client now gets for
  *      the string family and top-k, bit-identical to classic (only
  *      graft_vector_sum still requires the install);
  *   4. the uninstalled-function surface: a name the server cannot resolve
  *      fails with UNRESOLVED_ROUTINE naming the function (what a Connect
  *      user of a parameterized family sees without the fallback).
  *
  * The server binds an ephemeral port (binding.port=0 via the live SparkEnv
  * conf — test-only late bind; real deployments set the conf before start)
  * and is stopped in afterAll. Active-session set/restore brackets every
  * test: the companions' active handles are thread-local, and suites in
  * this JVM run their tests on the suite thread, so restoring on exit
  * leaves other suites untouched.
  */
class ConnectIntegrationSpec extends SparkTestBase with BeforeAndAfterAll {

  private var port: Int = -1
  private var client: SparkSession = _
  private var serverDialClient: SparkSession = _

  private def connectClient(): SparkSession =
    org.apache.spark.sql.connect.SparkSession.builder()
      .remote(s"sc://localhost:$port")
      .create()

  override def beforeAll(): Unit = {
    super.beforeAll()
    val _ = spark // force the shared classic session (and its SparkContext)
    org.apache.spark.SparkEnv.get.conf.set("spark.connect.grpc.binding.port", "0")
    val svc = org.apache.spark.sql.connect.service.SparkConnectService
    svc.start(spark.sparkContext)
    // a failure past this point aborts the suite WITHOUT running afterAll
    // (BeforeAndAfterAll semantics) — tear the server/clients down here so
    // the rest of the JVM-wide run doesn't inherit a leaked gRPC server
    try {
      val grpcServer = svc.getClass.getMethod("server").invoke(svc)
      port = grpcServer.getClass.getMethod("getPort")
        .invoke(grpcServer).asInstanceOf[java.lang.Integer].intValue()
      client = connectClient()
      serverDialClient = connectClient()
      serverDialClient.conf.set("spark.graft.connect.functions", "server")
    } catch {
      case e: Throwable =>
        try afterAll() catch { case suppressed: Throwable =>
          e.addSuppressed(suppressed) }
        throw e
    }
  }

  override def afterAll(): Unit = {
    try {
      if (client != null) client.close()
      if (serverDialClient != null) serverDialClient.close()
      org.apache.spark.sql.connect.service.SparkConnectService.stop(None, None)
    } finally {
      SparkSession.setActiveSession(spark)
      super.afterAll()
    }
  }

  /** Run `body` with `s` as the active session, restoring the classic
    * session after — wrapper dispatch keys on the ACTIVE session. */
  private def withActive[A](s: SparkSession)(body: => A): A =
    try { SparkSession.setActiveSession(s); body }
    finally SparkSession.setActiveSession(spark)

  /** Corner-heavy vector table shared by both sides: written once by the
    * classic session, read by path from both (same machine, same files). */
  private lazy val vecPath: String = {
    import spark.implicits._
    val rows: Seq[(Long, Option[Seq[java.lang.Float]], Option[Seq[java.lang.Float]])] =
      (1L to 40L).map { i =>
        def v(seed: Long, n: Int): Seq[java.lang.Float] =
          (0 until n).map(d => java.lang.Float.valueOf(
            ((seed * 31 + d * 7) % 13 - 6).toFloat / 3.0f))
        (i, Some(v(i, 8)), Some(v(i + 99, 8)))
      } ++ Seq(
        (101L, Some(Seq[java.lang.Float](1.0f, 2.0f, 3.0f, 4.0f)),
          Some(Seq[java.lang.Float](10.0f, 20.0f))), // unequal lengths
        (102L, Some(Seq.empty[java.lang.Float]), Some(Seq[java.lang.Float](1.0f))),
        (103L, None, Some(Seq[java.lang.Float](1.0f, 2.0f))), // NULL array
        (104L, Some(Seq[java.lang.Float](1.0f, null, 2.0f)),
          Some(Seq[java.lang.Float](4.0f, 5.0f, 6.0f))), // NULL element
        (105L, Some(Seq[java.lang.Float](Float.NaN, 1.0f)),
          Some(Seq[java.lang.Float](1.0f, 1.0f))), // NaN rides the dot
        (106L, Some(Seq[java.lang.Float](Float.PositiveInfinity, 1.0f)),
          Some(Seq[java.lang.Float](2.0f, 1.0f))))
    val dir = new java.io.File("target/connect-it-vec").getAbsolutePath
    rows.toDF("id", "a", "b").repartition(2)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def bits(d: java.lang.Double): java.lang.Long =
    if (d == null) null else java.lang.Double.doubleToLongBits(d)

  /** (id → value) maps for order-free bit-exact comparison. */
  private def dotsOf(rows: Array[Row]): Map[Long, java.lang.Long] =
    rows.map(r => r.getLong(0) ->
      bits(if (r.isNullAt(1)) null else r.getDouble(1))).toMap

  test("fallback dispatch: dotProduct through a live Connect session is " +
    "bit-identical to classic execution") {
    val classic = dotsOf(spark.read.parquet(vecPath)
      .select(F.col("id"), VectorFunctions.dotProduct(F.col("a"), F.col("b")).as("d"))
      .collect())

    assert(!graft.functions.GraftRegistry.canRegisterClientSide(client))
    val viaConnect = withActive(client) {
      val df = client.read.parquet(vecPath)
      val dot = VectorFunctions.dotProduct(df.col("a"), df.col("b")).as("d")
      // the dispatch really took the built-in twin, not call_function
      assert(!dot.toString.contains(VectorFunctions.FunctionName),
        s"expected the builtin twin, got: $dot")
      df.select(F.col("id"), dot).collect()
    }
    assert(dotsOf(viaConnect) == classic)
    assert(classic.size == 46 && classic(103L) == null && classic(102L) == 0L)
  }

  test("server dial: call_function resolves through the server-side " +
    "GraftExtensions install, same results") {
    val classic = dotsOf(spark.read.parquet(vecPath)
      .select(F.col("id"), VectorFunctions.dotProduct(F.col("a"), F.col("b")).as("d"))
      .collect())
    val viaServer = withActive(serverDialClient) {
      val df = serverDialClient.read.parquet(vecPath)
      val dot = VectorFunctions.dotProduct(df.col("a"), df.col("b")).as("d")
      assert(dot.toString.contains(VectorFunctions.FunctionName),
        s"expected call_function under the server dial, got: $dot")
      df.select(F.col("id"), dot).collect()
    }
    assert(dotsOf(viaServer) == classic)
  }

  test("tableSignatures falls back on Connect (parameterized name is never " +
    "server-resolvable) and matches classic signatures exactly") {
    val (dim, b, tables) = (8, 6, 3)
    def sigs(rows: Array[Row]): Map[Long, Seq[Long]] =
      rows.map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    val classic = sigs(spark.read.parquet(vecPath)
      .select(F.col("id"),
        LshPlanes.tableSignatures(F.col("a"), dim, b, tables).as("s"))
      .collect())
    val viaConnect = sigs(withActive(client) {
      val df = client.read.parquet(vecPath)
      df.select(F.col("id"),
        LshPlanes.tableSignatures(df.col("a"), dim, b, tables).as("s")).collect()
    })
    assert(viaConnect == classic)
    assert(classic(103L) == null) // NULL vector → NULL signature array
    assert(classic(105L) == Seq.fill(tables)(0L)) // NaN leaves every bit unset
  }

  test("aggregates (graft_top_k, graft_vector_sum) run through Connect via " +
    "the server install and match classic results") {
    def run(s: SparkSession, df: org.apache.spark.sql.DataFrame): Seq[Row] =
      withActive(s) {
        df.filter(F.col("a").isNotNull && !F.exists(F.col("a"), _.isNull) &&
            F.size(F.col("a")) === 8)
          .groupBy((F.col("id") % 2).as("g"))
          .agg(
            VectorFunctions.topKByScore(
              F.element_at(F.col("a"), 1).cast("double"), F.col("id"), 3).as("top"),
            VectorFunctions.vectorSum(F.col("a")).as("vs"))
          .orderBy("g").collect().toSeq
      }
    val classic = run(spark, spark.read.parquet(vecPath))
    val viaConnect = run(serverDialClient, serverDialClient.read.parquet(vecPath))
    assert(viaConnect.toString == classic.toString)
    assert(classic.size == 2 &&
      classic.head.getSeq[Row](1).size == 3) // k really bounded the heap
  }

  test("string expression family (graft_text_counts, graft_md5_longs) " +
    "through Connect via the server install") {
    def run(s: SparkSession): Seq[Row] = withActive(s) {
      s.sql("SELECT * FROM VALUES ('Hello, wörld 42!'), (''), ('  a  b  ') t(t)")
        .select(
          TextCounts.counts(F.col("t")).as("c"),
          Md5Longs.longs(F.encode(F.col("t"), "UTF-8")).as("m"))
        .collect().toSeq
    }
    assert(run(serverDialClient).toString == run(spark).toString)
  }

  test("string family FALLBACK: a plain Connect client (no dial) gets the " +
    "regex/md5/word-set twins — bit-identical to classic execution") {
    import graft.functions.{PortableWinnowMd5, WordSetCounts}
    val sets = Seq(Seq("hello", "b"), Seq("a", "the"))
    def run(s: SparkSession): Seq[Row] = withActive(s) {
      s.sql("SELECT * FROM VALUES ('Hello, wörld 42!'), (''), ('  a  b  '), " +
          "(CAST(NULL AS STRING)) t(t)")
        .select(
          TextCounts.counts(F.col("t")).as("c"),
          WordSetCounts.counts(F.col("t"), "graft_wsc_it", sets).as("w"),
          Md5Longs.longs(F.encode(F.col("t"), "UTF-8")).as("m"),
          PortableWinnowMd5.fingerprints(F.col("t"), 3, 2).as("fp"))
        .collect().toSeq
    }
    withActive(client) {
      // the dispatch really took the twins, not call_function
      assert(!TextCounts.counts(F.lit("x")).toString
        .contains(TextCounts.FunctionName))
      assert(!Md5Longs.longs(F.lit(Array[Byte](1))).toString
        .contains(Md5Longs.FunctionName))
    }
    assert(run(client).toString == run(spark).toString)
  }

  test("top-k FALLBACK: a plain Connect client gets the sort twin — same " +
    "ranking as the classic heap (no -0.0 ties in this data, the one " +
    "documented divergence)") {
    def run(s: SparkSession): Seq[Row] = withActive(s) {
      val df = s.read.parquet(vecPath)
      df.filter(F.col("a").isNotNull && !F.exists(F.col("a"), _.isNull) &&
          F.size(F.col("a")) === 8)
        .groupBy((F.col("id") % 2).as("g"))
        .agg(VectorFunctions.topKByScore(
          F.element_at(F.col("a"), 1).cast("double"), F.col("id"), 3).as("top"))
        .orderBy("g").collect().toSeq
    }
    withActive(client) {
      assert(!VectorFunctions.topKByScore(F.lit(1.0), F.lit(1L), 3).toString
        .contains(VectorFunctions.TopKFunctionName))
    }
    assert(run(client).toString == run(spark).toString)
  }

  test("vector_sum FALLBACK: a plain Connect client gets the fold twin — " +
    "element-wise within the documented ±ulp of the classic expression, " +
    "same counts") {
    def run(s: SparkSession): Map[Long, (List[Double], Long)] = withActive(s) {
      val df = s.read.parquet(vecPath)
      df.filter(F.col("a").isNotNull && F.size(F.col("a")) === 8)
        .groupBy((F.col("id") % 2).as("g"))
        .agg(VectorFunctions.vectorSum(F.col("a")).as("vs"))
        .orderBy("g").collect().toSeq
        .map { r =>
          val vs = r.getStruct(1)
          r.getLong(0) -> (vs.getSeq[Double](0).toList, vs.getLong(1))
        }.toMap
    }
    withActive(client) {
      // the dispatch really took the twin, not call_function
      assert(!VectorFunctions.vectorSum(F.col("x")).toString
        .contains(VectorFunctions.VectorSumFunctionName))
    }
    val classic = run(spark)
    val viaConnect = run(client)
    assert(viaConnect.keySet == classic.keySet && classic.nonEmpty)
    classic.foreach { case (g, (es, en)) =>
      val (ts, tn) = viaConnect(g)
      assert(tn == en && ts.size == es.size, s"group $g shape diverged")
      es.zip(ts).foreach { case (a, b) =>
        assert(math.abs(a - b) <=
          4 * math.ulp(math.max(math.abs(a), math.abs(b)).max(1e-300)),
          s"group $g: $a vs $b beyond the ±ulp guarantee")
      }
    }
  }

  test("the full compare engine runs through a live Connect session — " +
    "reference parity: datacompy accepts Connect frames natively") {
    // deterministic single-partition inputs so the duplicate-pairing rank
    // (physical row order) and report samples are identical on both sides
    val sql1 = """SELECT * FROM VALUES
      (1, 'a', 10.0D), (2, 'b', 20.0D), (3, 'c', 30.0D), (3, 'c2', 31.0D),
      (4, 'd', CAST(NULL AS DOUBLE)), (5, 'e', 50.0D)
      t(id, name, amount)"""
    val sql2 = """SELECT * FROM VALUES
      (1, 'a', 10.0D), (2, 'B', 20.5D), (3, 'c', 30.0D),
      (4, 'd', CAST(NULL AS DOUBLE)), (6, 'f', 60.0D)
      t(id, name, amount)"""
    def compare(s: SparkSession): graft.operators.SparkCompare =
      withActive(s) {
        new graft.operators.SparkCompare(s,
          s.sql(sql1).coalesce(1), s.sql(sql2).coalesce(1),
          graft.operators.CompareConfig(joinColumns = Seq("id"),
            absTol = graft.operators.ToleranceSpec.of(0.1)))
      }
    val classic = compare(spark)
    val viaConnect = compare(client)
    assert(viaConnect.matches() == classic.matches())
    assert(viaConnect.subset == classic.subset)
    withActive(client) {
      val connectReport = viaConnect.report()
      assert(connectReport == withActive(spark)(classic.report()))
      assert(connectReport.contains("DataComPy Comparison"))
      // row-level results round-trip through Arrow identically
      assert(viaConnect.allMismatch().collect().toSeq.toString ==
        classic.allMismatch().collect().toSeq.toString)
    }
  }

  test("the CLI runs a full compare against a Connect endpoint via --remote: " +
    "same report and exit code as the local session") {
    import spark.implicits._
    val dir = new java.io.File("target/connect-it-cli").getAbsoluteFile
    val left = new java.io.File(dir, "left.parquet").getAbsolutePath
    val right = new java.io.File(dir, "right.parquet").getAbsolutePath
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("id", "name", "amount").coalesce(1)
      .write.mode("overwrite").parquet(left)
    Seq((1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0))
      .toDF("id", "name", "amount").coalesce(1)
      .write.mode("overwrite").parquet(right)
    def cli(extra: String*): (Int, String) = {
      val out = new java.io.File(dir,
        s"report-${extra.hashCode.toHexString}.txt").getAbsolutePath
      val code = graft.cli.Main.run(Seq(
        "--left", left, "--right", right, "--on", "id",
        "--quiet", "--output", out) ++ extra)
      (code, java.nio.file.Files.readString(java.nio.file.Paths.get(out)))
    }
    val (localCode, localReport) = cli()
    val (remoteCode, remoteReport) = cli("--remote", s"sc://localhost:$port")
    assert(remoteCode == localCode && localCode == 1) // mismatches present
    assert(remoteReport == localReport)
    assert(remoteReport.contains("DataComPy Comparison"))
    // and the local session the suite shares is still alive (the CLI must
    // only close the session IT created)
    assert(!spark.sparkContext.isStopped)
  }

  test("TrainOrder assigns identical training coordinates through a live " +
    "Connect session (pure DataFrame API — no registration needed)") {
    def coords(s: SparkSession): Map[Long, (Long, Long)] = withActive(s) {
      val df = s.sql("SELECT id FROM range(1, 301)")
      graft.operators.TrainOrder.order(df, "id", seed = 21L, shards = 8)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(coords(client) == coords(spark))
  }

  test("epoch recipes interleave identically through a live Connect session " +
    "(replicate + co-finish interleave are pure built-in plans)") {
    def stream(s: SparkSession): Seq[(String, String, Long, Long)] = withActive(s) {
      val even = s.sql("SELECT id FROM range(2, 201, 2)")
      val odd = s.sql("SELECT id FROM range(1, 200, 2)")
      graft.operators.TrainOrder.interleaveEpochs(
        Seq(("even", even, 1.5), ("odd", odd, 1.0)),
        "id", seed = 23L, shards = 4)
        .select("source", "rep_id", "shard", "pos")
        .collect().map(r =>
          (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
        .sortBy(t => (t._3, t._4))
    }
    val viaConnect = stream(client)
    assert(viaConnect == stream(spark) && viaConnect.nonEmpty)
  }

  test("curriculum ordering and the token-budget prefix run identically " +
    "through a live Connect session (pure built-in plans + tiny client-side " +
    "cut aggregates)") {
    def both(s: SparkSession): (Seq[(Long, Int, Long, Long)], Seq[Long]) =
      withActive(s) {
        val df = s.sql("SELECT id, CAST(id % 97 AS DOUBLE) AS score, " +
          "CAST(id % 5 + 1 AS BIGINT) AS toks FROM range(1, 201)")
        val cur = graft.operators.TrainOrder
          .curriculum(df, "id", "score", Seq(20.0, 60.0), seed = 6L, shards = 4)
          .select("id", "tier", "shard", "pos").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
          .toSeq.sortBy(t => (t._3, t._4))
        val cut = graft.operators.TrainOrder.prefixByBudget(
          graft.operators.TrainOrder.order(df, "id", seed = 6L, shards = 4),
          "toks", 150L)
          .select("id").collect().map(_.getLong(0)).toSeq.sorted
        (cur, cut)
      }
    val viaConnect = both(client)
    val classic = both(spark)
    assert(viaConnect == classic)
    assert(classic._1.nonEmpty &&
      classic._2.nonEmpty && classic._2.size < 200)
  }

  test("the alignment/eval pack runs identically through a live Connect " +
    "session (pure built-in plans; Bradley–Terry's driver-side fold " +
    "collects through the client and ships the result back up)") {
    import graft.operators.Preference
    def run(s: SparkSession): (Seq[String], Seq[String], Seq[String], Seq[String]) =
      withActive(s) {
        val df = s.sql("SELECT id % 7 AS prompt, " +
          "'m' || CAST(id % 3 AS STRING) AS model, " +
          "CAST(id % 13 AS BIGINT) AS score, id FROM range(0, 120)")
        val pairs = Preference.preferencePairs(df, "prompt", "id", "score",
          margin = 2.0, maxPairs = 2)
          .orderBy("prompt", "pair_rank").collect().map(_.toString).toSeq
        val adv = Preference.groupAdvantage(df, "prompt", "score")
          .select("id", "group_mean", "group_std", "advantage")
          .orderBy("id").collect().map(_.toString).toSeq
        val wm = Preference.winMatrix(df, "prompt", "model", "score")
          .orderBy("model_a", "model_b").collect().map(_.toString).toSeq
        val bt = Preference.bradleyTerry(df, "prompt", "model", "score")
          .orderBy("model").collect().map(_.toString).toSeq
        (pairs, adv, wm, bt)
      }
    val viaConnect = run(client)
    val classic = run(spark)
    assert(viaConnect == classic)
    assert(classic._1.nonEmpty && classic._4.size == 3)
  }

  test("discountedReturns runs identically through a live Connect session " +
    "(window + lead taps, all built-in)") {
    def run(s: SparkSession): Seq[(Long, Long, Long)] = withActive(s) {
      val ev = s.sql("SELECT id % 9 AS k, timestamp_micros(id * 1000) AS ts, " +
        "id, CAST(id % 11 AS BIGINT) AS r FROM range(0, 200)")
      graft.operators.Sessionize
        .discountedReturns(ev, "k", "ts", "id", "r", horizon = 8)
        .select("id", "step", "return_scaled").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq.sortBy(_._1)
    }
    val viaConnect = run(client)
    assert(viaConnect == run(spark) && viaConnect.size == 200)
  }

  test("the streaming eval probe and strengths answer identically through " +
    "a live Connect session over a consolidated layout (built-in plans + " +
    "the driver-side BT fold; listings via the client-local Hadoop conf)") {
    import graft.streaming.IngestEval
    val root = java.nio.file.Files
      .createTempDirectory("graft_connect_eval").toString
    try {
      // stage CLASSIC-side (ingest runs inside foreachBatch on the
      // server/driver by nature); the read-only probe surface is what
      // must be Connect-portable
      def slice(parity: Int) = spark.sql(
        "SELECT id % 7 AS prompt, 'm' || CAST(id % 3 AS STRING) AS model, " +
          "CAST(id % 13 AS BIGINT) AS score FROM range(0, 60) " +
          s"WHERE id % 2 = $parity")
      IngestEval.processBatch(slice(0), 0L, root, "prompt", "model", "score")
      IngestEval.processBatch(slice(1), 1L, root, "prompt", "model", "score")
      IngestEval.consolidate(spark, root, 1L)
      def run(s: SparkSession): (Seq[String], Seq[String]) = withActive(s) {
        (IngestEval.probe(s, root).orderBy("model_a", "model_b")
          .collect().map(_.toString).toSeq,
          IngestEval.strengths(s, root).orderBy("model")
            .collect().map(_.toString).toSeq)
      }
      val viaConnect = run(client)
      val classic = run(spark)
      assert(viaConnect == classic)
      assert(classic._1.nonEmpty && classic._2.size == 3)
    } finally graft.operators.Utils.deleteRecursively(
      java.nio.file.Paths.get(root))
  }

  test("text vocabulary and exact dedup groups run identically through a " +
    "live Connect session (plain DataFrame plans, no driver-side RDD access)") {
    def run(s: SparkSession): (Seq[String], Seq[String]) = withActive(s) {
      val df = s.sql("SELECT * FROM VALUES (1L, 'the cat  sat'), " +
        "(2L, 'The cat sat '), (3L, 'a dog ran'), (4L, 'the cat sat'), " +
        "(5L, 'a dog ran far'), (6L, CAST(NULL AS STRING)) t(id, text)")
      (graft.operators.TextOps.vocabulary(df, "text", 4)
        .collect().map(_.toString).toSeq,
        graft.operators.Dedup.exactGroups(df, "text", "id")
          .orderBy("keep_id").collect().map(_.toString).toSeq)
    }
    val viaConnect = run(client)
    val classic = run(spark)
    assert(viaConnect == classic)
    assert(classic._1.size == 4 && classic._2.size == 4)
  }

  test("an uninstalled function name surfaces UNRESOLVED_ROUTINE naming the " +
    "function (the documented no-fallback failure mode)") {
    val name = LshPlanes.functionName(9, 9, 9) // parameterized: never injected
    val ex = intercept[Exception] {
      client.sql(s"SELECT $name(array(1.0D))").collect()
    }
    assert(ex.getMessage.contains("UNRESOLVED_ROUTINE") && ex.getMessage.contains(name),
      s"unexpected error shape: ${ex.getMessage.take(300)}")
  }
}

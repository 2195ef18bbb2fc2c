package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact support-threshold heavy hitters via a two-pass
  * candidates-then-recount pipeline.
  *
  * Pass 1 runs a per-partition Misra-Gries summary (the mergeable
  * "compress" formulation of Agarwal et al., *Mergeable Summaries*,
  * PODS'12): each partition streams its tokens through a bounded map of
  * `capacity` counters, letting it grow to `2·capacity` and then
  * compressing — subtract the `(capacity+1)`-th largest count from every
  * entry and drop the non-positives. Each compress removes at least
  * `(capacity+1) · cut` total mass, so the sum of all cuts in a partition
  * is at most `N_p / (capacity+1)`, giving the classic MG guarantee
  *
  *   storedCount(t)  ≥  trueCount_p(t) − N_p / (capacity+1).
  *
  * Summed over partitions: any token with global count
  * `> N / (capacity+1)` has a positive stored count in at least one
  * partition summary and therefore appears among the candidates. With
  * `capacity ≥ denominator` the candidate set provably contains every
  * token at or above the support threshold `freq · denominator ≥ N` —
  * so pass 2's exact recount of the (bounded) candidate set yields the
  * EXACT answer, independent of any sketch internals. That is what makes
  * a sketch-accelerated operator oracle-checkable bit-for-bit against a
  * plain `GROUP BY … HAVING` mirror.
  *
  * Scale shape: pass 1 is one scan with O(capacity) memory per task and
  * amortized O(log capacity) per token (the compress sorts 2·capacity
  * entries once per ≥capacity insertions); the candidate union is at most
  * `capacity × partitions` rows — kilobytes — and broadcasts to pass 2's
  * semi join, so the token stream itself never shuffles: the only
  * aggregation keyed on tokens is over the candidate-filtered stream,
  * whose distinct-key cardinality is ≤ the candidate count.
  */
object HeavyHitters {

  /** Byte companion to [[heavyHittersByGroup]]'s row-count broadcast gate:
    * the candidate collect must also fit the driver heap when tokens are
    * LONG (boilerplate lines, not words) — summed (group + token) chars
    * above this and the shuffled semi join runs instead. 64M chars ≈
    * 128 MB of String payload on-heap. */
  val BroadcastCandidateBytes: Long = 64L * 1024 * 1024

  /** Per-partition mergeable-MG candidate summaries: (token, lower-bound
    * count) rows, at most `capacity` per input partition — plus ONE
    * sentinel row per partition (`token = NULL`, lower_bound = the
    * partition's exact token count), so the same single pass also yields
    * the exact stream total (Σ sentinel rows) and the recount pass never
    * needs a separate `count()` scan. */
  def candidateSummaries(tokens: DataFrame, tokenCol: String, capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select(col(tokenCol).cast("string")).as[String].mapPartitions { it =>
      val m = new java.util.HashMap[String, Long](4 * capacity)
      def compress(): Unit = {
        if (m.size > capacity) {
          val counts = new Array[Long](m.size)
          var i = 0
          val vit = m.values().iterator()
          while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
          java.util.Arrays.sort(counts)
          // (capacity+1)-th largest = counts[size - capacity - 1]
          val cut = counts(m.size - capacity - 1)
          val eit = m.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            if (e.getValue <= cut) eit.remove() else e.setValue(e.getValue - cut)
          }
        }
      }
      var n = 0L
      while (it.hasNext) {
        val t = it.next()
        n += 1L
        m.put(t, m.getOrDefault(t, 0L) + 1L)
        if (m.size > 2 * capacity) compress()
      }
      compress()
      val out = new Array[(String, Long)](m.size + 1)
      out(0) = (null, n)
      var i = 1
      val eit = m.entrySet().iterator()
      while (eit.hasNext) { val e = eit.next(); out(i) = (e.getKey, e.getValue); i += 1 }
      out.iterator
    }.toDF(tokenCol, "lower_bound")
  }

  /** Exact heavy hitters over a token stream: every token whose frequency
    * satisfies `freq · denominator ≥ totalTokens` (support ≥
    * 1/denominator), with its EXACT count. Requires
    * `capacity ≥ denominator` for the completeness proof above. Returns
    * (token, freq) — the integer cross-multiplied threshold keeps the
    * cut engine-portable (no float support fraction). */
  def heavyHitters(
      tokens: DataFrame,
      tokenCol: String,
      denominator: Long,
      capacity: Int): DataFrame = {
    require(capacity >= denominator,
      s"capacity ($capacity) must be >= denominator ($denominator) for exactness")
    // one pass yields candidates AND the exact total (sentinel rows);
    // the merged per-token summary is capacity × partitions rows — fine
    // to hold distributed, never collected wholesale
    val summaries = candidateSummaries(tokens, tokenCol, capacity)
      .groupBy(tokenCol).agg(sum(col("lower_bound")).as("lb"))
      .persist()
    try {
      val total = Option(summaries.where(col(tokenCol).isNull)
        .agg(sum(col("lb"))).first().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      // Provable prune before the broadcast: a token with true count
      // ≥ total/denominator has Σlb ≥ total/denominator − total/(capacity+1),
      // i.e. lb·denominator·(capacity+1) ≥ total·(capacity+1−denominator)
      // (cross-multiplied in decimal — no float threshold, no overflow).
      // Since Σ over all lb ≤ total, at most ≈ denominator·(capacity+1)/
      // (capacity+1−denominator) tokens can clear it — a few thousand,
      // independent of partition count, so the broadcast stays tiny at any
      // cluster size.
      val cands = summaries
        .where(col(tokenCol).isNotNull &&
          col("lb").cast("decimal(38,0)") * lit(denominator * (capacity + 1L)) >=
            lit(total).cast("decimal(38,0)") * lit(capacity + 1L - denominator))
        .select(col(tokenCol).cast("string"))
        .collect().map(_.getString(0)).toSeq
      val spark = tokens.sparkSession
      import spark.implicits._
      tokens
        .join(broadcast(cands.toDF(tokenCol)), Seq(tokenCol), "left_semi")
        .groupBy(tokenCol)
        .agg(count(lit(1)).as("freq"))
        .where(col("freq") * lit(denominator) >= lit(total))
    } finally { summaries.unpersist(); () }
  }

  /** PER-GROUP [[candidateSummaries]]: one independent Misra-Gries sketch
    * per (partition, group), so the MG lower-bound guarantee holds against
    * each group's OWN stream length N_g — a single composite-keyed sketch
    * would bound against the whole partition's N and silently prune heavy
    * tokens of small groups. Per-task memory is
    * O(groups-in-partition × capacity); group cardinality is
    * driver-bounded by contract (the [[Profile.thresholdsByGroup]] rule —
    * languages, domains, splits — NOT user ids). NULL groups and NULL
    * tokens are excluded. Emits (group, token, lower_bound) rows plus one
    * sentinel per (partition, group) (`token = NULL`, lower_bound = the
    * group's exact token count in that partition). */
  def candidateSummariesByGroup(tokens: DataFrame, groupCol: String,
      tokenCol: String, capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens.select(col(groupCol).cast("string"), col(tokenCol).cast("string"))
      .where(col(groupCol).isNotNull && col(tokenCol).isNotNull)
      .as[(String, String)].mapPartitions { it =>
        val sketches = new java.util.HashMap[String, java.util.HashMap[String, Long]]()
        val totals = new java.util.HashMap[String, Long]()
        def compress(m: java.util.HashMap[String, Long]): Unit = {
          if (m.size > capacity) {
            val counts = new Array[Long](m.size)
            var i = 0
            val vit = m.values().iterator()
            while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
            java.util.Arrays.sort(counts)
            val cut = counts(m.size - capacity - 1)
            val eit = m.entrySet().iterator()
            while (eit.hasNext) {
              val e = eit.next()
              if (e.getValue <= cut) eit.remove() else e.setValue(e.getValue - cut)
            }
          }
        }
        while (it.hasNext) {
          val (g, t) = it.next()
          totals.merge(g, 1L, _ + _)
          val m = sketches.computeIfAbsent(g,
            _ => new java.util.HashMap[String, Long](4 * capacity))
          m.merge(t, 1L, _ + _)
          if (m.size > 2 * capacity) compress(m)
        }
        val out = Seq.newBuilder[(String, String, Long)]
        val git = sketches.entrySet().iterator()
        while (git.hasNext) {
          val ge = git.next()
          val g = ge.getKey
          compress(ge.getValue)
          out += ((g, null, totals.get(g)))
          val eit = ge.getValue.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            out += ((g, e.getKey, e.getValue))
          }
        }
        out.result().iterator
      }.toDF(groupCol, tokenCol, "lower_bound")
  }

  /** Exact PER-GROUP heavy hitters — "top boilerplate lines per domain",
    * "dominant tokens per language": every (group, token) whose frequency
    * within its group satisfies `freq · denominator ≥ totalTokens(group)`,
    * with its EXACT count. The [[heavyHitters]] two-pass discipline with
    * the group riding every key: per-group MG candidate sketches (pass 1),
    * a per-group provable prune against the group's own total, then an
    * exact recount of the candidate-filtered stream keyed on
    * (group, token). Candidates stay distributed end to end — the prune
    * bounds them to ≈ denominator·(capacity+1)/(capacity+1−denominator)
    * per group, so pass 2's semi-join build side is
    * groups × a-few-thousand rows — and the BROADCAST of it is GATED,
    * not assumed (the pageRankScaled discipline): at or below
    * `broadcastCandidateLimit` rows AND [[BroadcastCandidateBytes]]
    * summed chars (one agg over the already-persisted candidate plan) the
    * semi join broadcasts; above either bound — group cardinality far past
    * the driver-bounded contract, or tokens long enough that even a small
    * candidate count is hundreds of driver-heap megabytes — the plain
    * shuffled semi join runs instead, results identical. Requires `capacity ≥ denominator` for
    * per-group exactness (the [[candidateSummaries]] proof applied to
    * each group's stream). Returns (group, token, freq). */
  def heavyHittersByGroup(
      tokens: DataFrame,
      groupCol: String,
      tokenCol: String,
      denominator: Long,
      capacity: Int,
      broadcastCandidateLimit: Long = 4000000L,
      broadcastCandidateBytes: Long = BroadcastCandidateBytes): DataFrame =
    heavyHittersByGroupFromSummaries(
      candidateSummariesByGroup(tokens, groupCol, tokenCol, capacity),
      tokens, groupCol, tokenCol, denominator, capacity,
      broadcastCandidateLimit, broadcastCandidateBytes)

  /** The prune + exact-recount TAIL of [[heavyHittersByGroup]] from an
    * ALREADY-BUILT summary set — the hook that makes the operator
    * incremental: MG summaries are mergeable by construction (Agarwal et
    * al.), so per-batch summaries persisted by a streaming ingest
    * ([[graft.streaming.IngestHeavyHitters]]) sum into exactly the bound
    * one pass over the concatenated stream would have produced — each
    * batch's sketch under-counts its own slice by at most
    * N_batch/(capacity+1), and the slices' deficits add to the global
    * N/(capacity+1) bound the prune relies on. `rawSummaries` carries
    * (group, token, lower_bound) rows with the per-(partition, group)
    * NULL-token sentinels; `tokens` is the exact-recount stream (the
    * accumulated corpus under streaming). `capacity` must be the value
    * the summaries were built with — a larger claimed capacity would
    * tighten the prune past what the sketches guarantee and silently
    * drop real heavy hitters.
    *
    * `weightCol`: when set, `tokens` carries PRE-AGGREGATED (group, token,
    * weight) rows and the recount sums weights instead of counting rows —
    * the hook that lets a consolidation pass collapse a token corpus to
    * one row per (group, token) ([[graft.streaming.IngestHeavyHitters
    * .consolidate]]) without changing a single output bit: Σ weights of
    * the aggregate ≡ row count of the raw stream. */
  def heavyHittersByGroupFromSummaries(
      rawSummaries: DataFrame,
      tokens: DataFrame,
      groupCol: String,
      tokenCol: String,
      denominator: Long,
      capacity: Int,
      broadcastCandidateLimit: Long = 4000000L,
      broadcastCandidateBytes: Long = BroadcastCandidateBytes,
      weightCol: Option[String] = None): DataFrame = {
    require(capacity >= denominator,
      s"capacity ($capacity) must be >= denominator ($denominator) for exactness")
    val spark = tokens.sparkSession
    import spark.implicits._
    val summaries = rawSummaries
      .groupBy(groupCol, tokenCol).agg(sum(col("lower_bound")).as("lb"))
      .persist()
    try {
      // per-group exact totals: ≤ one row per group (the driver-bounded
      // group contract) — LOCALIZED, so the returned lazy plan never
      // references the summary lineage this call unpersists on exit
      val totalsDf = broadcast(
        summaries.where(col(tokenCol).isNull)
          .groupBy(groupCol).agg(sum(col("lb")).as("__graft_hh_total"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
          .toSeq.toDF(groupCol, "__graft_hh_total"))
      // per-group prune, the cross-multiplied decimal inequality of
      // [[heavyHitters]] against the group's OWN total
      val candsPlan = summaries
        .where(col(tokenCol).isNotNull)
        .join(totalsDf, Seq(groupCol))
        .where(col("lb").cast("decimal(38,0)") * lit(denominator * (capacity + 1L)) >=
          col("__graft_hh_total").cast("decimal(38,0)") * lit(capacity + 1L - denominator))
        .select(col(groupCol), col(tokenCol))
        .persist()
      try {
        // the gate is row-count AND byte-size aware: a row-only gate would
        // happily collect millions of LONG tokens (boilerplate lines can be
        // kilobytes each) onto the driver heap while still reading
        // "broadcast" — measure both in one agg over the persisted plan
        val gate = candsPlan
          .agg(count(lit(1)).as("n"),
            coalesce(sum(length(col(groupCol)) + length(col(tokenCol))), lit(0L))
              .as("bytes"))
          .first()
        val cands =
          if (gate.getLong(0) <= broadcastCandidateLimit &&
              gate.getLong(1) <= broadcastCandidateBytes)
            broadcast(candsPlan.collect()
              .map(r => (r.getString(0), r.getString(1)))
              .toSeq.toDF(groupCol, tokenCol))
          else
            // candidates past either gate: shuffled semi join, with the
            // candidate set MATERIALIZED (executor-side, lineage cut) so
            // actions on the returned plan after this call's unpersist
            // don't silently re-run the whole summary pass 1
            candsPlan.localCheckpoint(true)
        val weighted = tokens
          .select(Seq(col(groupCol).cast("string").as(groupCol),
            col(tokenCol).cast("string").as(tokenCol)) ++
            weightCol.map(w => col(w).cast("long").as("__graft_hh_w")): _*)
          .where(col(groupCol).isNotNull && col(tokenCol).isNotNull)
          .join(cands, Seq(groupCol, tokenCol), "left_semi")
          .groupBy(groupCol, tokenCol)
        (weightCol match {
          case Some(_) => weighted.agg(sum(col("__graft_hh_w")).as("freq"))
          case None => weighted.agg(count(lit(1)).as("freq"))
        })
          .join(totalsDf, Seq(groupCol))
          .where(col("freq") * lit(denominator) >= col("__graft_hh_total"))
          .select(col(groupCol), col(tokenCol), col("freq"))
      } finally { candsPlan.unpersist(); () }
    } finally { summaries.unpersist(); () }
  }

  /** Whitespace token stream of a text column — the same tokenization as
    * [[TextOps.vocabulary]] (`regexp_split_to_array(trim(text), '\s+')`
    * on the DuckDB side). */
  def tokenStream(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(col(textCol)), "\\s+")).as("token"))

  /** [[tokenStream]] with a grouping column riding each token — the input
    * shape [[heavyHittersByGroup]] consumes. `carry` columns (e.g. the
    * document id an erasure-capable ingest records) ride along unchanged;
    * the tokenization itself stays THE one definition every heavy-hitter
    * consumer and oracle mirrors. */
  def tokenStreamByGroup(df: DataFrame, groupCol: String, textCol: String,
      carry: String*): DataFrame =
    df.select(Seq(col(groupCol)) ++ carry.map(col) :+
      explode(split(trim(col(textCol)), "\\s+")).as("token"): _*)
}

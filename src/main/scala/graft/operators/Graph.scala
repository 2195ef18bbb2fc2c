package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge DataFrames. Connected components live
  * in [[Dedup]] (duplicate clustering); this hosts rank propagation.
  *
  * PageRank here is FIXED-POINT: ranks are scaled BIGINTs and every step is
  * integer arithmetic (floor divisions, exact integer sums). The textbook
  * double formulation is NOT engine-reproducible — Σ of incoming
  * contributions is accumulation-order-dependent, so two runs (or two
  * engines) disagree in the last ulps and the disagreement compounds per
  * iteration. Integer sums are associative-commutative, so the scaled
  * ranks are a pure function of the graph, bit-identical everywhere —
  * which is what makes a 5-iteration distributed PageRank hash-checkable
  * against a SQL oracle.
  */
object Graph {

  val DefaultScale = 1000000000L

  /** The session's configured shuffle parallelism — the explicit partition
    * count for the operator-managed edge caches below. Pinned explicitly
    * because an UNpinned `repartition(col)` is an AQE-optimizable shuffle:
    * at bench scale AQE would coalesce the tiny edge bytes to one or two
    * partitions and serialize every superstep behind them, and at any
    * scale the cache's partitioning must stay EXACTLY the aggregation's
    * required distribution or the per-superstep exchange reappears. */
  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Scaled-integer PageRank over directed `edges` (cols `src`, `dst`;
    * duplicates are deduplicated). Returns (node, rank_scaled).
    *
    * rank₀ = scale; rankᵢ₊₁(v) = base + (num · Σ_{u→v} rankᵢ(u) DIV deg(u))
    * DIV den, with base = ((den − num) · scale) DIV den. Dangling-node mass
    * is dropped (standard practice for ranking use; the totals therefore
    * shrink slightly per iteration — rankings are unaffected).
    *
    * Scale shape per superstep: when the node set fits a broadcast
    * (≤ `broadcastNodeLimit`, measured once from the cached node set) the
    * rank table BROADCASTS onto the cached edge list — no sort, no
    * exchange of the edges, just a map-side hash join + the groupBy(dst)
    * combine (the sort-merge formulation re-sorted 1.2M cached edge rows
    * five times; with it and the caller-side double edge derivation
    * removed, the sf0.1 driver query dropped 12.5s → 7.6s min-of-2).
    * Past the limit it degrades to the classic Pregel shuffle join: one
    * exchange of the rank table onto the edge partitioning per superstep.
    * The raw edge set is deduplicated and cached ONCE and every derived
    * frame (degrees, node set) reads that cache — deriving them from the
    * caller's plan re-ran the upstream edge-building join per frame and
    * per union branch. Lineage truncates via localCheckpoint every few
    * supersteps so long runs don't accumulate a nested plan.
    */
  /** @param edgesDistinct the caller guarantees `edges` carries no
    *   duplicate (src, dst) rows — skips the dedup shuffle.
    * @param assumeSmallGraph caller-supplied answer to "does the node set
    *   fit a broadcast?" — skips the sizing count job(s) entirely (an
    *   unchecked caller promise, like SparkCompare's assumeKeysUnique):
    *   a fixed per-action cost that matters when the supersteps themselves
    *   are sub-second. None = measure.
    * @param symmetrize treat `edges` as undirected: the reverse direction
    *   is unioned in INTERNALLY, after the one-direction set is
    *   deduplicated and cached, so the caller's (possibly expensive) edge
    *   derivation runs once — a caller-side `pairs.union(pairs.reverse)`
    *   re-runs the upstream plan per union branch. Requires src/dst id
    *   domains whose reversal can't collide with a forward edge (or
    *   `edgesDistinct = false` semantics you can live with — reversal
    *   duplicates are NOT re-deduplicated). */
  def pageRankScaled(edges: DataFrame, iters: Int,
      dampingNum: Long = 85, dampingDen: Long = 100,
      scale: Long = DefaultScale,
      checkpointEvery: Int = 8,
      broadcastNodeLimit: Long = 4000000L,
      edgesDistinct: Boolean = false,
      symmetrize: Boolean = false,
      assumeSmallGraph: Option[Boolean] = None): DataFrame = CacheScope.pass {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val oneDir = CacheScope.persist(if (edgesDistinct) raw else raw.distinct())
    // the symmetric view reads the cached base twice — never the caller plan
    val e =
      if (symmetrize)
        oneDir.union(oneDir.select(col("dst").as("src"), col("src").as("dst")))
      else oneDir
    val base = ((dampingDen - dampingNum) * scale) / dampingDen
    val symSmall = symmetrize && assumeSmallGraph.getOrElse(
      e.groupBy("src").agg(count(lit(1))).count() <= broadcastNodeLimit)
    if (symSmall) {
      // FAST PATH (symmetric graph, rank table fits a broadcast) — r17,
      // guide §2.4: the edge cache is (src, dst) hash-partitioned by DST,
      // so the per-superstep contribution aggregation needs NO exchange
      // (the BroadcastHashJoin preserves the cached partitioning); the
      // per-edge `r DIV outdeg` moves to the |V|-row broadcast side; and
      // on a symmetric simple digraph outdeg ≡ indeg, so degrees come from
      // ONE exchange-free aggregation of the same cache. Each superstep is
      // a single stage: cache scan → BHJ(rank contributions) → hash agg →
      // (BHJ the reused degree broadcast back on) — no shuffle. At scale
      // this replaces `iters` contribution shuffles (whose map-side
      // partial aggregation stops reducing once |V| ≫ rows-per-task) with
      // the one partitioned cache fill.
      val eD = CacheScope.persist(
        e.repartition(shufflePartitions(edges), col("dst")))
      val degN = eD.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("outdeg"))
      var ranks = degN.withColumn("r", lit(scale))
      for (i <- 1 to iters) {
        val contrib = eD
          .join(broadcast(ranks.selectExpr("node", "r DIV outdeg AS c")),
            col("src") === col("node"))
          .select(col("dst"), col("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
        val next = contrib.selectExpr("dst AS node",
          s"$base + ($dampingNum * s) DIV $dampingDen AS r")
        // re-attach outdeg for the next superstep's contribution column;
        // the degree broadcast subtree is identical every superstep, so
        // ReuseExchange builds it once. The final superstep skips it.
        ranks =
          if (i < iters)
            next.join(broadcast(degN), "node")
              .select(col("node"), col("outdeg"), col("r"))
          else next
        if (i % checkpointEvery == 0 && i < iters)
          ranks = ranks.localCheckpoint()
      }
      ranks.select(col("node"), col("r").as("rank_scaled"))
    } else {
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // degrees are one row per distinct src ≤ nodes — broadcast alongside
    // the rank table on small graphs so the cached edge list is never
    // sorted or exchanged
    val degSmall =
      if (symmetrize) false // symSmall above covers the small case
      else assumeSmallGraph.getOrElse(deg.count() <= broadcastNodeLimit)
    val ed = CacheScope.persist(
      if (degSmall) e.join(broadcast(deg), "src")
      else e.join(deg, "src"))
    // a symmetrized graph's node set IS deg's keyset (every node appears as
    // a src), so the 2·|E|-row union+distinct shuffle and its extra count
    // job vanish; only a genuinely directed graph pays them (sink nodes
    // never appear as src)
    val nodes = CacheScope.persist(
      if (symmetrize) deg.select(col("src").as("node"))
      else e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val smallGraph =
      if (symmetrize) false
      else assumeSmallGraph.getOrElse(nodes.count() <= broadcastNodeLimit)
    def rankSide(df: DataFrame): DataFrame = if (smallGraph) broadcast(df) else df
    var ranks = nodes.withColumn("r", lit(scale))
    for (i <- 1 to iters) {
      val contrib = ed.join(rankSide(ranks), col("src") === col("node"))
        .selectExpr("dst", "r DIV outdeg AS c")
        .groupBy("dst").agg(sum(col("c")).as("s"))
      // undirected ⇒ every node has in-edges ⇒ contrib already covers the
      // full node set: the per-superstep nodes⋈contrib join (half the
      // superstep's work) only exists to re-admit zero-in-degree nodes of
      // directed graphs
      ranks =
        if (symmetrize)
          contrib.selectExpr("dst AS node",
            s"$base + ($dampingNum * s) DIV $dampingDen AS r")
        else
          nodes.join(rankSide(contrib), col("node") === col("dst"), "left")
            .selectExpr("node",
              s"$base + ($dampingNum * coalesce(s, 0L)) DIV $dampingDen AS r")
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("rank_scaled"))
    }
  }

  /** PERSONALIZED PageRank (TrustRank-shaped) — rank mass teleports back to
    * a SEED set instead of uniformly: rank₀(v) = scale·[v ∈ seeds];
    * rankᵢ₊₁(v) = [v ∈ seeds]·base + (num · Σ_{u→v} rankᵢ(u) DIV deg(u))
    * DIV den. This is the quality/trust-propagation primitive corpus
    * curation actually runs at scale (Gyöngyi et al.'s TrustRank): seed a
    * small vetted set (trusted domains, human-rated documents), propagate
    * through the link/similarity graph, and read each node's rank as its
    * proximity-to-trust score — the graph-side complement of the
    * per-document quality classifier. Same fixed-point discipline as
    * [[pageRankScaled]] (scaled BIGINTs, exact integer sums, dangling mass
    * dropped), so a fixed-iteration run is bit-identical everywhere and
    * unrolls into a SQL oracle.
    *
    * Scale shape per superstep: identical to [[pageRankScaled]] — the rank
    * table joins the cached degree-annotated edge list (broadcast under
    * the node limit, classic shuffle join past it), one groupBy(dst)
    * combine, then the seed-flagged node table re-admits zero-in-degree
    * nodes and applies the teleport term. `ranks` is read ONCE per
    * superstep, so lineage grows linearly; periodic localCheckpoint
    * truncates it. Seeds outside the graph's node set are ignored.
    * Returns (node, rank_scaled). */
  def personalizedPageRankScaled(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampingNum: Long = 85, dampingDen: Long = 100,
      scale: Long = DefaultScale,
      checkpointEvery: Int = 8,
      broadcastNodeLimit: Long = 4000000L,
      edgesDistinct: Boolean = false,
      symmetrize: Boolean = false,
      assumeSmallGraph: Option[Boolean] = None): DataFrame = CacheScope.pass {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(checkpointEvery > 0, s"checkpointEvery must be > 0, got $checkpointEvery")
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val oneDir = CacheScope.persist(if (edgesDistinct) raw else raw.distinct())
    val e =
      if (symmetrize)
        oneDir.union(oneDir.select(col("dst").as("src"), col("src").as("dst")))
      else oneDir
    val base = ((dampingDen - dampingNum) * scale) / dampingDen
    val seedSet = seeds.select(col("node").cast("long").as("node")).distinct()
      .withColumn("__graft_is_seed", lit(1L))
    val symSmall = symmetrize && assumeSmallGraph.getOrElse(
      e.groupBy("src").agg(count(lit(1))).count() <= broadcastNodeLimit)
    if (symSmall) {
      // FAST PATH (symmetric graph, rank table fits a broadcast) — r17:
      // same shape as pageRankScaled's — dst-partitioned (src, dst) cache
      // ⇒ exchange-free contribution aggregation, degrees from the same
      // cache (outdeg ≡ indeg on a symmetric simple digraph), per-edge
      // division moved to the broadcast side. The seed flag rides the
      // degree table; every node of a symmetric graph has in-edges, so
      // the teleport re-join is an INNER join from the contribution side
      // against ONE reused (node, outdeg, seed) broadcast instead of a
      // fresh per-superstep broadcast of the contributions.
      val eD = CacheScope.persist(
        e.repartition(shufflePartitions(edges), col("dst")))
      val seedN = eD.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("outdeg"))
        .join(broadcast(seedSet), Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          coalesce(col("__graft_is_seed"), lit(0L)).as("seed"))
      var ranks = seedN.select(col("node"), col("outdeg"),
        (col("seed") * scale).as("r"))
      for (i <- 1 to iters) {
        val contrib = eD
          .join(broadcast(ranks.selectExpr("node", "r DIV outdeg AS c")),
            col("src") === col("node"))
          .select(col("dst"), col("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
        ranks = contrib.join(broadcast(seedN), col("dst") === col("node"))
          .selectExpr("node", "outdeg",
            s"seed * $base + ($dampingNum * s) DIV $dampingDen AS r")
        if (i % checkpointEvery == 0 && i < iters)
          ranks = ranks.localCheckpoint()
      }
      ranks.select(col("node"), col("r").as("rank_scaled"))
    } else {
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val degSmall =
      if (symmetrize) false // symSmall above covers the small case
      else assumeSmallGraph.getOrElse(deg.count() <= broadcastNodeLimit)
    val ed = CacheScope.persist(
      if (degSmall) e.join(broadcast(deg), "src")
      else e.join(deg, "src"))
    val nodes =
      if (symmetrize) deg.select(col("src").as("node"))
      else e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
    val smallGraph =
      if (symmetrize) false
      else assumeSmallGraph.getOrElse(nodes.count() <= broadcastNodeLimit)
    def rankSide(df: DataFrame): DataFrame = if (smallGraph) broadcast(df) else df
    // seed flag rides the node table — one join at setup, zero per superstep
    val nodesSeeded = CacheScope.persist(
      nodes.join(rankSide(seedSet), Seq("node"), "left")
        .select(col("node"), coalesce(col("__graft_is_seed"), lit(0L)).as("seed")))
    var ranks = nodesSeeded.select(col("node"), (col("seed") * scale).as("r"))
    for (i <- 1 to iters) {
      val contrib = ed.join(rankSide(ranks), col("src") === col("node"))
        .selectExpr("dst", "r DIV outdeg AS c")
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodesSeeded.join(rankSide(contrib), col("node") === col("dst"), "left")
        .selectExpr("node",
          s"seed * $base + ($dampingNum * coalesce(s, 0L)) DIV $dampingDen AS r")
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("rank_scaled"))
    }
  }

  /** Multi-source BFS: minimum hop distance (≤ `maxHops`) from any node in
    * `sources` (col `node`) along `edges` (cols `src`, `dst`; directed —
    * `symmetrize = true` for undirected reach). Returns (node, dist) for
    * every reached node, dist ∈ [0, maxHops].
    *
    * Superstep shape: frontier ⋈ edges → next frontier, minus everything
    * already labeled (one anti-join). Both the frontier and the labeled set
    * are node-id lists bounded by the reach set, so when they fit a
    * broadcast (≤ `broadcastNodeLimit`, measured per level from the cached
    * level frames unless `assumeSmallFrontier` answers for the caller —
    * the pageRankScaled gating contract) BOTH joins run as broadcast hash
    * joins against the cached edge list: no sort, no exchange of the edges
    * — the sort-merge formulation re-sorted the cached edge table once per
    * level per join (the sf0.1 driver query carried 12 SortMergeJoins).
    * Past the limit each level degrades to the classic shuffle join.
    * Because each level is materialized (cached + counted) anyway, an
    * EMPTY frontier short-circuits the remaining levels — they could only
    * add empty unions to the plan. Distances are exact small integers, so
    * the whole reach set hash-checks against an unrolled per-level SQL
    * mirror.
    *
    * @param symmetrize union the reverse direction in INTERNALLY, after
    *   the one-direction set is deduplicated and cached, so the caller's
    *   (possibly expensive) edge derivation runs once — a caller-side
    *   `pairs.union(pairs.reverse)` re-runs the upstream plan per union
    *   branch. Safe for ANY id domain here (unlike pageRankScaled): a
    *   reversal colliding with a forward edge only duplicates an edge row,
    *   and BFS reach is duplicate-insensitive (each level distincts its
    *   frontier).
    * @param assumeSmallFrontier Some(true)/Some(false) skips the per-level
    *   sizing counts entirely (an unchecked caller promise);
    *   None = measure each level. NOTE: with None, the per-level count()
    *   actions (and the level caches they fill) run at DataFrame
    *   CONSTRUCTION time — building the plan pays the full traversal.
    *   Some(true) broadcasts the cumulatively growing labeled set every
    *   level with NO size guard; a misplaced hint on a large graph can
    *   OOM the driver — hint only when the reach set is provably bounded. */
  def kHopDistances(edges: DataFrame, sources: DataFrame,
      maxHops: Int,
      broadcastNodeLimit: Long = 4000000L,
      symmetrize: Boolean = false,
      assumeSmallFrontier: Option[Boolean] = None): DataFrame = CacheScope.pass {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val oneDir = CacheScope.persist(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct())
    // the symmetric view reads the cached base twice — never the caller plan
    val e0 =
      if (symmetrize)
        oneDir.union(oneDir.select(col("dst").as("src"), col("src").as("dst")))
      else oneDir
    // Shuffle-join levels sort-merge on src, and a plain cache re-sorts
    // the whole edge table once per level per join (the sf0.1 driver plan
    // carried 12 SortMergeJoins of re-sorted cached edges). Caching the
    // edge list hash-partitioned AND sorted by src (both properties
    // survive InMemoryRelation) makes the edge side of every level's join
    // exchange-free and sort-free — only the (reach-set-bounded) frontier
    // side shuffles. The hinted-broadcast path streams the edges unkeyed,
    // so there the partitioned copy would be pure overhead: keep e0.
    val e =
      if (assumeSmallFrontier.contains(true)) e0
      else CacheScope.persist(
        e0.repartition(shufflePartitions(edges), col("src"))
          .sortWithinPartitions("src"))
    val measure = assumeSmallFrontier.isEmpty
    def gate(df: DataFrame, n: => Long): DataFrame =
      if (assumeSmallFrontier.getOrElse(n <= broadcastNodeLimit)) broadcast(df)
      else df
    var labeled = CacheScope.persist(
      sources.select(col("node").cast("long").as("node"))
        .distinct().withColumn("dist", lit(0L)))
    var frontier = labeled.select("node")
    // running sizes: frontier = last level, reached = Σ levels — one cheap
    // count per level against the already-cached level frame, zero extra
    // passes over the data
    var fCount = if (measure) labeled.count() else 0L
    var reached = fCount
    var d = 1
    while (d <= maxHops && !(measure && fCount == 0L)) {
      val next = CacheScope.persist(
        gate(frontier, fCount).join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(gate(labeled.select("node"), reached), Seq("node"), "left_anti")
          .withColumn("dist", lit(d.toLong)))
      val n = if (measure) next.count() else 0L
      labeled = labeled.union(next)
      frontier = next.select("node")
      fCount = n
      reached += n
      d += 1
    }
    labeled
  }

  /** Synchronous MIN-LABEL propagation ("HashMin") for a FIXED number of
    * supersteps: label₀(v) = v; labelᵢ₊₁(v) = min(labelᵢ(v), min of the
    * neighbors' labelᵢ). Run to convergence it computes connected
    * components; run a few supersteps it is the bounded-cost community
    * coarsening big-graph pipelines actually schedule (after i supersteps
    * each node holds the min id of its radius-i neighborhood — local
    * clumps merge without committing to a full-diameter iteration
    * count). Every step is exact integer min — associative, commutative,
    * order-independent — so a fixed-step run is bit-identical everywhere
    * and hash-checkable against an unrolled SQL mirror, the same property
    * that makes the scaled-integer PageRank checkable.
    *
    * Scale shape per superstep (the pageRankScaled design, same knobs):
    * the label table joins the cached edge list — broadcast when the node
    * set fits (`assumeSmallGraph`/`broadcastNodeLimit`, metadata-gateable
    * by the caller), classic shuffle join past it — then one
    * groupBy(dst).min combine (map-side partial). The edge list is
    * deduplicated and cached ONCE; `symmetrize` unions the reversal from
    * the cache (requires reversal-collision-free id domains, as in
    * pageRankScaled).
    *
    * Unlike PageRank (whose recurrence reads `ranks` ONCE per superstep,
    * so an unchecked lineage grows linearly), HashMin reads `labels`
    * TWICE per superstep — inside the neighbor-min and as the outer
    * join's left side — so a lazily-chained plan would DOUBLE each
    * iteration (2^k duplicated superstep subtrees by superstep k). Every
    * superstep therefore ends in an eager `localCheckpoint()`: the label
    * frame is materialized once, its lineage truncated to a LogicalRDD,
    * and the next superstep's two reads hit the materialized copy — plan
    * size and analysis cost stay LINEAR in `iters` at any iteration
    * count (pinned by GraphSpec at iters = 12). A per-superstep job is
    * the native Pregel cost: the algorithm consumes each label set twice,
    * so the materialization does work the recurrence needs anyway.
    * `checkpointEvery` is retained for signature compatibility and
    * ignored — per-superstep truncation strictly dominates the periodic
    * form it used to control. Returns (node, label). */
  def minLabelPropagation(edges: DataFrame, iters: Int,
      checkpointEvery: Int = 8,
      broadcastNodeLimit: Long = 4000000L,
      symmetrize: Boolean = false,
      assumeSmallGraph: Option[Boolean] = None): DataFrame = CacheScope.pass {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(checkpointEvery > 0, s"checkpointEvery must be > 0, got $checkpointEvery")
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val oneDir = CacheScope.persist(raw.distinct())
    val e0 =
      if (symmetrize)
        oneDir.union(oneDir.select(col("dst").as("src"), col("src").as("dst")))
      else oneDir
    val symSmall = symmetrize && assumeSmallGraph.getOrElse(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct()
        .count() <= broadcastNodeLimit)
    if (symSmall) {
      // FAST PATH (symmetric graph, label table fits a broadcast) — r17,
      // the pageRankScaled shape: dst-partitioned (src, dst) cache ⇒ the
      // neighbor-min aggregation needs no exchange, and the node set is
      // the cache's distinct dst (every node of a symmetric graph appears
      // as dst) — no union+distinct shuffle. Each superstep broadcasts
      // `labels` ONCE (both joins key it by node, so the second join
      // reuses the first's broadcast) and runs as one exchange-free
      // pipeline: cache scan → BHJ(labels) → hash agg → BHJ(labels) →
      // least(); the eager localCheckpoint then materializes it (the
      // plan-truncation the recurrence needs anyway — see above).
      val eD = CacheScope.persist(
        e0.repartition(shufflePartitions(edges), col("dst")))
      var labels = eD.select(col("dst").as("node")).distinct()
        .withColumn("label", col("node"))
      for (i <- 1 to iters) {
        val nb = eD.join(broadcast(labels), col("src") === col("node"))
          .groupBy(col("dst")).agg(min(col("label")).as("nl"))
        // symmetric ⇒ every node has in-edges ⇒ nb covers the node set:
        // the inner re-join from the aggregation side replaces the outer
        // labels⋈nb join (and its per-superstep broadcast of nb)
        val next = nb.join(broadcast(labels), col("dst") === col("node"))
          .select(col("node"), least(col("label"), col("nl")).as("label"))
        labels = if (i < iters) next.localCheckpoint() else next
      }
      labels
    } else {
    val e = CacheScope.persist(e0)
    val nodes = CacheScope.persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val small =
      if (symmetrize) false // symSmall above covers the small case
      else assumeSmallGraph.getOrElse(nodes.count() <= broadcastNodeLimit)
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var labels = nodes.withColumn("label", col("node"))
    for (i <- 1 to iters) {
      val nb = e.join(side(labels), col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nl"))
      val next = labels.join(side(nb), col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // final superstep stays lazy: its two `labels` reads hit the
      // iter-1 materialization, so the caller's action pays one plan of
      // constant depth instead of an extra eager job
      labels = if (i < iters) next.localCheckpoint() else next
    }
    labels
    }
  }

  /** Per-node triangle counts over undirected `edges` (cols `src`, `dst`;
    * self-loops dropped, duplicates and direction collapsed). Returns
    * (node, n_triangles) for every node in ≥1 triangle.
    *
    * Degree orientation is what makes this survive skew at 100 TB: every
    * edge is directed from its lower-(degree, id) endpoint to the higher
    * one, so a hub with degree d contributes wedges only through the
    * ~√(2m)-bounded set of neighbors that outrank it — the classic bound
    * that keeps Σ outdeg² (the wedge join's output) at O(m^1.5) instead of
    * the O(Σ deg²) a hub-centered enumeration pays. The plan is two
    * self-joins of the oriented edge list (wedge build + closing-edge
    * probe), both plain equi-joins on a key Catalyst shuffles once, and
    * each triangle materializes exactly once (orientation is acyclic).
    * Counts are orientation-independent, so a SQL oracle can mirror them
    * with the naive id-ordered 3-way join.
    *
    * The orientation joins stay sort-merge and the undirected edge set
    * stays uncached BY MEASUREMENT: the distinct's exchange is reused
    * across the degree-union branches and the orientation join within the
    * one action, so an explicit cache + a degree-table broadcast (with its
    * sizing count job) measured 1.4× SLOWER at sf0.1 (r16 A/B, min-of-6
    * interleaved runs). */
  def triangleCounts(edges: DataFrame): DataFrame = CacheScope.pass {
    val und = edges.select(
        least(col("src").cast("long"), col("dst").cast("long")).as("a"),
        greatest(col("src").cast("long"), col("dst").cast("long")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): lower endpoint -> higher endpoint
    val oriented = CacheScope.persist(
      und.join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
            .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
            .as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    // wedges at u: out-neighbor pairs (v1, v2) with v1 outranking-below v2,
    // so the closing edge, if present, is oriented v1 -> v2
    val e1 = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val e2 = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val wedges = e1.join(e2, "u")
      .where(col("d1") < col("d2") || (col("d1") === col("d2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val triangles = wedges.join(closing, Seq("v1", "v2"))
    triangles
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}

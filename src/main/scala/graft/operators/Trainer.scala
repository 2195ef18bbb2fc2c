package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** In-engine FIXED-POINT training for the hashed-feature linear quality
  * classifier ([[TextOps.linearModelScores]]) — the missing half of
  * model-based quality filtering: the scorer ships fixed-point weights as a
  * plan literal, and this trainer is where those weights come from without
  * leaving the engine.
  *
  * The model is logistic-regression-shaped, but every transcendental is
  * replaced by its fixed-point piecewise-linear form so training is EXACT
  * integer arithmetic end to end (associative, partitioning-independent,
  * and oracle-mirrorable — float logits are none of these):
  *
  *   - features: portable 48-bit md5 prefix of each whitespace token mod
  *     `numFeatures`, BINARIZED to presence (one (doc, feature) row per
  *     DISTINCT pair) — gradients stay small-integer exact;
  *   - link: the "hard sigmoid" p = clamp(S/2 + z div 4, 0, S) at scale S
  *     (slope 1/4 around 0, the standard piecewise-linear logistic
  *     surrogate) — `div` truncates toward zero in both Spark and DuckDB,
  *     so the mirror is bit-exact on negative margins too;
  *   - update: full-batch gradient step w_f += (Σ_{docs ∋ f} err) div
  *     lrDen with err = y·S − p, run for a FIXED `iters` — fixed-step
  *     fixed-point GD is reproducible everywhere, the same discipline as
  *     the unrolled k-means (q_ann_ivf_trained) and PageRank oracles.
  *
  * Scale shape per iteration: margins are one join of the cached presence
  * table with the broadcast weight table (the model is `numFeatures` rows —
  * driver-bounded, the scorer's own plan-literal contract) + one
  * groupBy(doc).sum; gradients are the mirror join + groupBy(feature).sum.
  * Two shuffles of (id, long) / (feature, long) pairs per iteration,
  * nothing corpus-shaped beyond the ONE tokenize/hash/distinct pass that
  * builds the cached presence table. Like HashMin label propagation, the
  * weight recurrence is read twice per iteration, so each iteration ends
  * in an eager localCheckpoint — plan size stays linear in `iters`.
  *
  * Output: (feature, weight) for every feature OBSERVED in the corpus
  * (absent buckets implicitly weigh 0 — [[weightsToArray]] densifies for
  * the scorer). NULL-text rows contribute no features; `labelCol` must be
  * 0/1.
  */
object Trainer {

  def trainHashedLinearModel(
      df: DataFrame, textCol: String, idCol: String, labelCol: String,
      numFeatures: Int, iters: Int,
      scale: Long = 1000000L, lrDen: Long = 256L): DataFrame = CacheScope.pass {
    require(numFeatures > 0, s"numFeatures must be > 0, got $numFeatures")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale > 0 && scale % 2 == 0, s"scale must be positive and even, got $scale")
    require(lrDen > 0, s"lrDen must be > 0, got $lrDen")
    val feats = CacheScope.persist(
      df.select(col(idCol).as("id"), col(labelCol).cast("long").as("y"),
        explode(split(trim(col(textCol)), "\\s+")).as("t"))
        .select(col("id"), col("y"),
          pmod(Dedup.md5Long48(col("t").cast("binary")), lit(numFeatures.toLong)).as("f"))
        .distinct())
    var weights = feats.select(col("f")).distinct().withColumn("w", lit(0L))
    for (i <- 1 to iters) {
      val z = feats.join(broadcast(weights), Seq("f"))
        .groupBy("id", "y").agg(sum(col("w")).as("z"))
      val p = least(lit(scale), greatest(lit(0L),
        lit(scale / 2) + call_function("div", col("z"), lit(4L))))
      val errs = z.select(col("id"), (col("y") * scale - p).as("err"))
      val grads = feats.join(errs, Seq("id"))
        .groupBy("f").agg(sum(col("err")).as("g"))
      val next = weights.join(grads, Seq("f"), "left")
        .select(col("f"),
          (col("w") + coalesce(call_function("div", col("g"), lit(lrDen)), lit(0L)))
            .as("w"))
      weights = if (i < iters) next.localCheckpoint() else next
    }
    weights.select(col("f").as("feature"), col("w").as("weight"))
  }

  /** Densify a trained (feature, weight) frame into the scorer's
    * Array[Long] shape (absent features weigh 0). Driver-side collect of
    * `numFeatures` rows — the model's plan-literal contract. */
  def weightsToArray(weights: DataFrame, numFeatures: Int): Array[Long] = {
    val arr = new Array[Long](numFeatures)
    weights.select(col("feature").cast("int"), col("weight").cast("long"))
      .collect().foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }
}

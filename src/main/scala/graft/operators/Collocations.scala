package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Collocation (adjacent-bigram) mining — the phrase-discovery pass of a
  * corpus pipeline (tokenizer merges, stop-phrase lists, domain lexicons).
  *
  * Association strength is reported as LIFT in its raw rational form,
  * n·c(xy) / (c(x)·c(y)) — the PMI exponent. Both factors are exact
  * BIGINTs (< 2⁵³), so the single double division is correctly rounded
  * and bit-identical across engines; a log-PMI column would not be
  * (libm log implementations differ by ulps).
  *
  * Scale shape: tokenization is one projection; unigram and bigram counts
  * are two grouped aggregations with map-side combine (the bigram stream
  * is built by a zip_with over the token array — no self-join on
  * positions); the top-k is TakeOrderedAndProject; only the ≤ k winning
  * bigrams and their ≤ 2k unigram rows are ever collected. The corpus is
  * scanned, aggregated, and never cross-joined.
  */
object Collocations {

  /** Top-`k` bigrams by count (ties broken lexicographically) with their
    * unigram counts and exact lift. `minCount` prunes the rare tail before
    * ranking. Output: (w1, w2, c_xy, c_x, c_y, lift). */
  def topBigrams(df: DataFrame, textCol: String, k: Int,
      minCount: Long = 2L): DataFrame = CacheScope.pass {
    val spark = df.sparkSession
    val toks = CacheScope.persist(
      df.selectExpr(
        s"filter(split(lower(`$textCol`), '[^a-z0-9]+'), x -> length(x) > 0) AS t")
        .where(expr("size(t) > 0")))
    val n = toks.agg(sum(size(col("t")))).first().getLong(0)
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val top = toks.selectExpr(
      "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
        " (a, b) -> struct(a AS w1, b AS w2))) AS p")
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
      .orderBy(col("c_xy").desc, col("w1"), col("w2"))
      .limit(k)
      .collect()
    val words = top.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.toSeq
    val wc: Map[String, Long] =
      if (words.isEmpty) Map.empty
      else uni.where(col("w").isin(words: _*))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    import spark.implicits._
    top.toSeq.map { r =>
      val (w1, w2, cxy) = (r.getString(0), r.getString(1), r.getLong(2))
      val (cx, cy) = (wc(w1), wc(w2))
      (w1, w2, cxy, cx, cy, (n * cxy).toDouble / (cx * cy).toDouble)
    }.toDF("w1", "w2", "c_xy", "c_x", "c_y", "lift")
  }
}

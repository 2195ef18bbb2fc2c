package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training — the first `steps` merge rules,
  * learned the way industrial trainers learn them: over the WORD-FREQUENCY
  * table, not the raw corpus (the corpus scan happens once; every
  * subsequent pair-count iteration aggregates the distinct-word table,
  * which is orders of magnitude smaller and bounded by vocabulary, not
  * data volume).
  *
  * Each iteration counts adjacent symbol pairs weighted by word frequency
  * (one explode + grouped sum with map-side combine — distinct-pair
  * cardinality is alphabet², so the shuffle is tiny), picks the argmax
  * with a total tie-break (count desc, then pair lexicographic — the only
  * driver-side step, ONE row), and applies the merge to every word's
  * symbol sequence.
  *
  * Symbol sequences ride in a parenthesis encoding — "hello" →
  * `(h)(e)(l)(l)(o)` — because applying a BPE merge is then a plain
  * string `replace(enc, "(a)(b)", "(ab)")`: literal replace semantics
  * (left-to-right, non-overlapping, all occurrences) are EXACTLY BPE's
  * simultaneous-merge semantics, the parens make symbol boundaries
  * unambiguous (words are pre-filtered to `^[a-z]+$`, so parens never
  * appear inside a symbol), and every engine implements literal replace
  * identically — which is what makes a data-dependent iterative trainer
  * hash-checkable against an unrolled SQL mirror.
  *
  * Reference semantics: Sennrich et al., *Neural Machine Translation of
  * Rare Words with Subword Units* (ACL 2016), algorithm 1. */
object BpeTrainer {

  /** Lowercased alphabetic word frequencies of `textCol` (whitespace
    * tokenization, `^[a-z]+$` filter — BPE training corpora are
    * pre-normalized; the filter also guarantees the paren encoding is
    * unambiguous). */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .select(lower(col("t")).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Adjacent-symbol pairs of the paren encoding, weighted by word count:
    * (s1, s2, n). */
  private def pairCounts(enc: DataFrame): DataFrame = {
    val arr = split(regexp_replace(col("enc"), "^\\(|\\)$", ""), "\\)\\(")
    enc.select(col("c"), arr.as("syms"))
      .where(size(col("syms")) >= 2)
      .select(col("c"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (x, y) => struct(x.as("s1"), y.as("s2")))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(col("c")).as("n"))
  }

  /** Learn the first `steps` merges. Returns one row per step:
    * (step, sym_a, sym_b, merged, n) — n the weighted pair count the
    * merge was chosen at. The word table is computed once and cached;
    * each iteration re-derives the encoding by stacking replace
    * expressions on it (no extra shuffles — the only per-iteration
    * exchange is the pair aggregation). */
  def topMerges(df: DataFrame, textCol: String, steps: Int): DataFrame = {
    require(steps > 0, s"steps must be positive, got $steps")
    val spark = df.sparkSession
    val wf = wordFrequencies(df, textCol)
      .withColumn("enc", regexp_replace(col("w"), "(.)", "($1)"))
      .select("enc", "c")
      .persist()
    try {
      var cur = wf
      val merges = Seq.newBuilder[(Long, String, String, String, Long)]
      for (step <- 1 to steps) {
        val top = pairCounts(cur)
          .orderBy(col("n").desc, col("s1"), col("s2"))
          .limit(1).collect()
        if (top.nonEmpty) {
          val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((step.toLong, a, b, a + b, n))
          cur = cur.withColumn("enc",
            expr(s"replace(enc, '($a)($b)', '($a$b)')"))
        }
      }
      import spark.implicits._
      merges.result().toDF("step", "sym_a", "sym_b", "merged", "n")
    } finally { wf.unpersist(); () }
  }

  /** Apply a learned merge table to a word column: the paren-encoded
    * symbol sequence after replaying every merge in step order —
    * tokenization-by-merges, the inference face of [[topMerges]]. */
  def encodeWords(words: DataFrame, wordCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val enc0 = regexp_replace(col(wordCol), "(.)", "($1)")
    val encoded = merges.foldLeft(enc0) { case (e, (a, b)) =>
      call_function("replace", e, lit(s"($a)($b)"), lit(s"($a$b)"))
    }
    words.withColumn("enc", encoded)
      .withColumn("n_symbols",
        size(split(regexp_replace(col("enc"), "^\\(|\\)$", ""), "\\)\\(")))
  }
}

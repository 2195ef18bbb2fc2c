package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting. All pure
  * `org.apache.spark.sql.functions` column expressions — codegen'd, no UDFs,
  * embarrassingly parallel (no shuffle), so they scale linearly with input
  * splits at 100 TB. */
object TextOps {

  /** Whitespace-delimited token count (regex `\S+`). */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  def charCount(text: Column): Column = length(text)

  /** Ratio helpers: occurrences of a character-class regex over length.
    * NULL-safe: empty/NULL text → 0.0. */
  private def classRatio(text: Column, clazz: String): Column =
    when(length(text).isNull || length(text) === 0, lit(0.0))
      .otherwise(regexp_count(text, lit(clazz)).cast("double") / length(text).cast("double"))

  def alphaRatio(text: Column): Column = classRatio(text, "[a-zA-Z]")
  def digitRatio(text: Column): Column = classRatio(text, "[0-9]")
  def spaceRatio(text: Column): Column = classRatio(text, "[ ]")
  def punctRatio(text: Column): Column = classRatio(text, "[.,;:!?'\"()\\[\\]{}-]")
  def upperRatio(text: Column): Column = classRatio(text, "[A-Z]")

  /** BPE-style pretokenization count: the GPT-2 pretokenizer family's core
    * classes (letter runs / digit runs / other-symbol runs, each with an
    * optional leading space), without lookaheads so the same pattern runs
    * under both Java regex and RE2 (DuckDB) — a cheap LLM-token-budget
    * estimator that tracks real tokenizers far better than whitespace
    * splitting. */
  val BpeTokenPattern = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpeTokenPattern))

  /** English-ish stopword hits (word-boundary regex). */
  val StopwordPattern = "\\b(the|a|an|and|of|to|in|is|it|for)\\b"
  def stopwordCount(text: Column): Column =
    regexp_count(lower(text), lit(StopwordPattern))

  def stopwordRatio(text: Column): Column = {
    val toks = tokenCount(text)
    when(toks === 0, lit(0.0)).otherwise(stopwordCount(text).cast("double") / toks.cast("double"))
  }

  /** Mean token length (non-space chars / tokens). */
  def meanTokenLength(text: Column): Column = {
    val toks = tokenCount(text)
    when(toks === 0, lit(0.0))
      .otherwise(regexp_count(text, lit("\\S")).cast("double") / toks.cast("double"))
  }

  /** Heuristic quality score in [0,1]: length signal + stopword signal +
    * alphabetic signal. Deterministic arithmetic (mirrorable in SQL). */
  def qualityScore(text: Column): Column = {
    val lengthSignal = least(tokenCount(text).cast("double"), lit(100.0)) / lit(100.0)
    lit(0.5) * lengthSignal + lit(0.3) * stopwordRatio(text) + lit(0.2) * alphaRatio(text)
  }

  /** Low-quality flag: too short, too little alpha, or degenerate tokens.
    * Same definition as `statsColumns`' low_quality (oracle-pinned), but
    * fed by ONE pass of the codegen'd TextCounts expression instead of
    * four independent regex scans — this flag sits first in corpus
    * pipelines, often evaluated on both sides of a dedup join. */
  def lowQualityFlag(text: Column): Column = {
    import graft.functions.TextCounts
    val tc = TextCounts.counts(text)
    def cnt(i: Int): Column = element_at(tc, i + 1)
    val chars = cnt(TextCounts.Chars)
    val toks = cnt(TextCounts.Tokens)
    val alphaR = when(chars.isNull || chars === 0, lit(0.0))
      .otherwise(cnt(TextCounts.Alpha).cast("double") / chars.cast("double"))
    val meanTok = when(toks === 0, lit(0.0))
      .otherwise(cnt(TextCounts.NonSpace).cast("double") / toks.cast("double"))
    toks < 5 || alphaR < 0.5 || meanTok > 20.0
  }

  /** Marker-word sets for the n-gram language-ID heuristic. One regex count
    * per language; winner = highest score, ties broken by language order. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|that|for|with|as)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\\b",
    "fr" -> "\\b(le|la|les|et|est|une|des|dans|pour|que)\\b",
    "es" -> "\\b(el|los|las|es|una|para|con|por|como|del)\\b")

  def langScore(text: Column, pattern: String): Column =
    regexp_count(lower(text), lit(pattern))

  /** Argmax of precomputed marker scores; "und" when all are zero (ties
    * break in marker order, first wins). */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (greatest(bestScore, score),
          when(score > bestScore, lit(lang)).otherwise(bestLang))
    }
    when(best._1 === 0, lit("und")).otherwise(best._2)
  }

  /** Language ID: argmax of marker scores; "und" (undetermined) when all
    * scores are zero. */
  def langId(text: Column): Column =
    langIdFromScores(LangMarkers.map { case (lang, pat) => (lang, langScore(text, pat)) })

  /** Stable document fingerprint of normalized text (md5 hex). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** 64-bit content hash (xxhash64 — fast path for joins/dedup keys). */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word n-gram (shingle) array, distinct, single-space-normalized.
    *
    * Implemented as ONE whitespace-normalizing regexp_replace plus ONE
    * overlapping-lookahead regexp_extract_all — both codegen'd string
    * expressions. The natural split+transform(element_at…) formulation is a
    * higher-order function, which Spark evaluates interpreted (~50µs/gram —
    * 7× slower end-to-end on the shingle stage). Fewer than `n` tokens
    * degrade to one whole-text shingle. */
  def wordShingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(trim(text), "\\s+", " ")
    // at each token start, capture the next n tokens via lookahead
    val pat = "(?:^|(?<= ))(?=(" + ("\\S+ " * (n - 1)) + "\\S+))"
    val grams = array_distinct(regexp_extract_all(norm, lit(pat), lit(1)))
    when(size(grams) === 0, array(norm)).otherwise(grams)
  }

  /** Non-distinct overlapping word n-grams (for frequency statistics —
    * [[wordShingles]] dedupes for set similarity). Empty array when fewer
    * than `n` tokens. Same codegen'd lookahead-regex trick. */
  def wordShinglesAll(text: Column, n: Int): Column =
    wordShinglesAllFromNormalized(regexp_replace(trim(text), "\\s+", " "), n)

  /** [[wordShinglesAll]] over ALREADY single-space-normalized text — lets
    * callers that also need the token array share one normalization pass. */
  private[operators] def wordShinglesAllFromNormalized(norm: Column, n: Int): Column = {
    val pat = "(?:^|(?<= ))(?=(" + ("\\S+ " * (n - 1)) + "\\S+))"
    regexp_extract_all(norm, lit(pat), lit(1))
  }

  /** Entity decode table for [[stripMarkup]], applied IN THIS ORDER —
    * `&amp;` is deliberately LAST so a doubly-encoded entity like
    * `&amp;lt;` decodes exactly ONE level (to the literal `&lt;`), never
    * cascading to `<`. RE2-free literal replacements, so the oracle chains
    * the identical `replace` calls in the identical order. */
  val MarkupEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** Strip HTML/XML markup to plain text — the first transform of any
    * web-scraped corpus: one tag-removal regex (`<[^>]*>` — attributes,
    * self-closing and closing tags alike; RE2-compatible, shared verbatim
    * with the oracle) followed by the fixed-order entity decode of
    * [[MarkupEntities]]. Decode runs AFTER tag removal, so an entity that
    * decodes to angle brackets yields literal text, not a strippable tag —
    * the order every sanitizing extractor uses. Pure codegen'd string
    * expressions: zero shuffle, scales with input splits. Not a full HTML5
    * parser (script/style CONTENT survives; a real crawler pipeline runs a
    * DOM extractor first) — this is the cheap in-engine pass for
    * already-mostly-text markup. */
  def stripMarkup(text: Column): Column =
    MarkupEntities.foldLeft(regexp_replace(text, "<[^>]*>", "")) {
      case (c, (e, r)) => call_function("replace", c, lit(e), lit(r))
    }

  /** PII patterns, ordered by application priority. Deliberately
    * RE2-compatible (no lookaround, no backreferences) so the DuckDB
    * oracle runs the IDENTICAL pattern strings. Word-boundary anchors keep
    * the numeric patterns from matching inside longer digit runs. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "phone" -> "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b")

  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /** Redact PII in priority order, replacing each match with `[NAME]`.
    * Order matters (an SSN is also phone-shaped): earlier patterns consume
    * their text before later ones run — the oracle chains the same
    * replacements in the same order. Pure codegen'd string expressions:
    * zero shuffle, scales with input splits. */
  def redactPii(text: Column, patterns: Seq[(String, String)] = PiiPatterns): Column =
    patterns.foldLeft(text) { case (t, (name, pat)) =>
      regexp_replace(t, pat, s"[${name.toUpperCase}]")
    }

  /** Gopher-style repetition statistics per document (Rae et al. 2021's
    * repetition filters): duplicate-token fraction, most-common-token
    * fraction, most-common-bigram fraction. High values flag boilerplate /
    * degenerate text that length and alpha-ratio miss.
    *
    * Scale shape: ONE scan, one explode, two hash-aggregation levels, no
    * join — tokens and bigrams ride a single postings stream (a token
    * never contains a space, a bigram always does, so the per-doc rollup
    * separates them with conditional sums; both levels keep map-side
    * partial aggregation). The earlier two-branch formulation scanned and
    * regex-split the text column once per branch and paid an id-keyed join
    * to reunite the halves. Never a per-row interpreted HOF over token
    * arrays. Returns (id, n_tokens, n_distinct_tokens, dup_token_ratio,
    * top_token_ratio, top_bigram_ratio). */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = regexp_replace(trim(col(textCol)), "\\s+", " ")
    val grams = df.select(col(idCol).as("id"),
      explode(concat(split(norm, " "),
        wordShinglesAllFromNormalized(norm, 2))).as("g"))
    val isTok = !col("g").contains(" ")
    val agged = grams.groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sum(when(isTok, col("c")).otherwise(0L)).as("n_tokens"),
        sum(when(isTok, 1L).otherwise(0L)).as("n_distinct_tokens"),
        max(when(isTok, col("c"))).as("top_c"),
        sum(when(!isTok, col("c")).otherwise(0L)).as("n_bigrams"),
        max(when(!isTok, col("c"))).as("top_bi"))
    agged
      .select(col("id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct_tokens").cast("long").as("n_distinct_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("dup_token_ratio"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("top_c").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_ratio"),
        when(col("n_bigrams").isNull || col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("top_bi").cast("double") / col("n_bigrams").cast("double"))
          .as("top_bigram_ratio"))
  }

  /** Top-`topK` corpus vocabulary by token frequency, ties broken by token
    * string — fully deterministic, so the vocabulary (and everything
    * derived from it) is reproducible run to run and engine to engine.
    * Returns (token, freq).
    *
    * Scale shape: explode → two-level hash aggregation with map-side
    * combine, then TakeOrderedAndProject for the top-K (never a full
    * sort); K is bounded (a vocabulary), so the result is driver-safe. */
  def vocabulary(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    df.select(explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(topK)
  }

  /** Per-document top-`k` TF-IDF keywords. Returns
    * (id, rank, token, score_scaled), rank 1-based by (score desc, token).
    *
    * The score is the EXACT scaled integer tf·10⁹ DIV df — monotone-
    * equivalent to tf·(N/df) for ranking within a document (N is constant),
    * with no logarithm: libm log() differs across engines in the last ulp,
    * so a log-idf ranking cannot be hash-checked; the rational form can.
    *
    * Scale shape: explode → (doc, term) tf aggregation with map-side
    * combine; document frequencies are a second two-level aggregation over
    * the tf table (already one row per (doc, term) — never the raw
    * postings); the per-doc top-k folds each document's bounded term set
    * (≤ its token count) through sort_array+slice inside one aggregation,
    * so only k rows per document survive. No Window node anywhere. */
  def tfidfKeywords(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = df.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("token"))
    // tf's aggregation exchange is reused across the document-frequency
    // rollup and the score join within the one action — no explicit cache
    // needed (measured: a cache is no faster; r16 A/B)
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "token")
      .select(col("id"), col("token"),
        expr("tf * CAST(1000000000 AS BIGINT) DIV df").as("score_scaled"))
    scored.groupBy("id")
      .agg(slice(sort_array(collect_list(
          struct((-col("score_scaled")).as("neg"), col("token")))), 1, k).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("r", "e")))
      .select(col("id"), (col("r") + 1).cast("long").as("rank"),
        col("e.token").as("token"), (-col("e.neg")).as("score_scaled"))
  }

  /** Per-document in-vocabulary statistics against the corpus's own top-K
    * vocabulary — the classic cheap LM-quality proxy (documents full of
    * out-of-vocabulary tokens are markup, code, or noise). Returns
    * (id, n_tokens, n_in_vocab, oov_ratio); exact integer counts and one
    * final division keep the ratio bit-stable across engines.
    *
    * Scale shape: the vocabulary is topK rows — broadcast to the token
    * postings join, so the corpus-side postings never shuffle for the
    * membership test; the per-doc rollup is one aggregation keyed by id. */
  def inVocabStats(df: DataFrame, textCol: String, idCol: String, topK: Int): DataFrame = {
    val vocab = vocabulary(df, textCol, topK)
      .select(col("token"), lit(1L).as("in_v"))
    val toks = df.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("token"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_v"), lit(0L))).as("n_in_vocab"))
      .select(col("id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_in_vocab").cast("long").as("n_in_vocab"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(lit(1.0) -
            col("n_in_vocab").cast("double") / col("n_tokens").cast("double"))
          .as("oov_ratio"))
  }

  /** Full per-document stats projection used by pipelines and the driver
    * queries.
    *
    * The eight character-class counts come from ONE pass of the codegen'd
    * [[graft.functions.TextCounts]] expression instead of 6+ independent
    * regex scans (the regex-based single-column functions above stay for
    * à-la-carte use; their definitions are what TextCounts mirrors, so the
    * DuckDB oracle is unchanged). Only the word-alternation regexes
    * (stopwords, language markers) and the fingerprint normalization still
    * run a regex engine. */
  /** Marker words parsed from the regex alternations themselves, so the
    * single-pass counter can never drift from the regex ground truth. */
  private def wordsOf(pattern: String): Seq[String] =
    pattern.stripPrefix("\\b(").stripSuffix(")\\b").split('|').toSeq

  def statsColumns(text: Column): Seq[(String, Column)] = {
    import graft.functions.{TextCounts, WordSetCounts}
    val tc = TextCounts.counts(text)
    def cnt(i: Int): Column = element_at(tc, i + 1)
    val chars = cnt(TextCounts.Chars)
    val toks = cnt(TextCounts.Tokens)
    // stopword + 4 language-marker counts in ONE pass (replaces 5 regex
    // scans; `\w`-run segmentation ≡ the `\b` boundaries, so counts equal
    // the regex definitions and the oracle is unchanged)
    val markerSets = wordsOf(StopwordPattern) +: LangMarkers.map { case (_, p) => wordsOf(p) }
    val mc = WordSetCounts.counts(text, "graft_marker_counts", markerSets)
    val stop = element_at(mc, 1)
    val langScores = LangMarkers.map(_._1).zipWithIndex
      .map { case (l, i) => (l, element_at(mc, i + 2)) }
    def charRatio(num: Column): Column =
      when(chars.isNull || chars === 0, lit(0.0))
        .otherwise(num.cast("double") / chars.cast("double"))
    val alphaR = charRatio(cnt(TextCounts.Alpha))
    val stopR = when(toks === 0, lit(0.0))
      .otherwise(stop.cast("double") / toks.cast("double"))
    val meanTok = when(toks === 0, lit(0.0))
      .otherwise(cnt(TextCounts.NonSpace).cast("double") / toks.cast("double"))
    val lengthSignal = least(toks.cast("double"), lit(100.0)) / lit(100.0)
    Seq(
      "n_chars" -> chars.cast("long"),
      "n_tokens" -> toks.cast("long"),
      "n_bpe_tokens" -> bpeTokenCount(text).cast("long"),
      "n_stopwords" -> stop.cast("long"),
      "alpha_ratio" -> alphaR,
      "space_ratio" -> charRatio(cnt(TextCounts.Space)),
      "stopword_ratio" -> stopR,
      "mean_token_len" -> meanTok,
      "quality_score" -> (lit(0.5) * lengthSignal + lit(0.3) * stopR + lit(0.2) * alphaR),
      "low_quality" -> (toks < 5 || alphaR < 0.5 || meanTok > 20.0),
      "lang_id" -> langIdFromScores(langScores),
      "fingerprint" -> fingerprint(text))
  }

  def withStats(df: DataFrame, textCol: String): DataFrame =
    df.select(col("*") +: statsColumns(col(textCol)).map { case (n, c) => c.as(n) }: _*)

  /** Hashed-feature linear text classifier — the fastText-style shape of
    * model-based quality filtering (score every document with a trained
    * linear model over a hashed bag of words, keep what clears a
    * threshold). The model is `weights`: token → feature bucket via the
    * portable 48-bit md5 prefix mod `weights.length`, document score =
    * Σ weights(bucket(token)) over all token OCCURRENCES (not distinct).
    *
    * Weights are FIXED-POINT longs (scale chosen by the trainer): integer
    * sums are exact and associative, so the score is bit-identical under
    * any partitioning and engine-mirrorable — which float logits are not.
    * `accept` = score > 0 (fold the decision threshold into the bias at
    * training-export time).
    *
    * Scale shape: the model ships as a plan literal (same device as the
    * IVF/semantic-dedup centroids) — at typical quality-model sizes
    * (2^16-2^20 buckets × 8 bytes) that is megabytes, free to every task;
    * scoring is explode → codegen'd hash + array index → one sum
    * aggregation keyed by id with map-side partial aggregation. One
    * shuffle of (id, partial-sum) pairs, nothing else.
    *
    * NULL `textCol` rows produce NO output row (the explode drops them) —
    * coalesce upstream if every id must score.
    *
    * Returns (id, n_tokens, score_fp, accept). */
  def linearModelScores(
      df: DataFrame, textCol: String, idCol: String,
      weights: Array[Long]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val f = weights.length
    val w = typedlit(weights)
    df.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("t"))
      .select(col("id"),
        element_at(w, (pmod(Dedup.md5Long48(col("t").cast("binary")), lit(f.toLong)) + 1)
          .cast("int")).as("wt"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("score_fp"))
      .select(col("id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("score_fp").cast("long").as("score_fp"),
        (col("score_fp") > 0).as("accept"))
  }

  /** Context-window chunking: split each document into overlapping
    * fixed-token-budget chunks — the preparation step between cleaning and
    * tokenization in a training pipeline (and the retrieval-index unit in a
    * RAG one). Chunk starts advance by `chunkTokens - overlap` tokens;
    * the final chunk may be shorter.
    *
    * Start-position rule: starts are 0, stride, 2·stride, … while
    * start ≤ n_tokens − overlap − 1. That bound gives BOTH invariants a
    * pipeline needs, provably: full coverage (the last start is within
    * stride−1 of n−chunkTokens, so the last chunk reaches the end) and no
    * redundant tail (a chunk at start s adds tokens beyond its
    * predecessor's range exactly when s ≤ n − overlap − 1 — emitting one
    * start later would duplicate a suffix of the previous chunk verbatim,
    * which dedup then has to re-catch downstream). Documents shorter than
    * overlap+1 tokens produce exactly one chunk.
    *
    * Scale shape: pure projection + explode — zero shuffle, zero joins;
    * chunk rows inherit the scan's partitioning, so this runs at input
    * parallelism on any corpus size. All codegen'd array expressions
    * (sequence/slice/array_join), no higher-order functions, no UDFs.
    *
    * NULL `textCol` rows produce NO chunks (the explode drops the NULL
    * start array) — filter or coalesce upstream if they must surface.
    *
    * Returns (id, chunk_id, chunk_start, n_chunk_tokens, chunk_text), with
    * chunk_start in token positions (0-based) and chunk_id dense per doc. */
  def chunkDocuments(
      df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    val toks = split(trim(col(textCol)), "\\s+")
    df.select(col(idCol).as("id"), toks.as("__graft_t"))
      .select(col("id"), col("__graft_t"),
        posexplode(sequence(lit(0),
          greatest(size(col("__graft_t")) - lit(overlap + 1), lit(0)),
          lit(stride))).as(Seq("chunk_id", "chunk_start")))
      .select(col("id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_start").cast("long").as("chunk_start"),
        size(slice(col("__graft_t"), col("chunk_start") + lit(1), lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("__graft_t"), col("chunk_start") + lit(1), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** LM-style n-gram familiarity scoring — the integer-exact core of a
    * CCNet/KenLM-shaped quality filter: how common each document's word
    * n-grams are in the REST of the corpus (leave-one-out, so a document
    * can't vouch for itself by repeating its own phrases). Per document,
    * over its n-gram OCCURRENCES (with multiplicity):
    *
    *   - `n_ngrams`          occurrence count,
    *   - `known_ngrams`      occurrences whose gram also appears outside
    *                         this document,
    *   - `familiarity`       known / total — the share of the text made of
    *                         corpus-attested phrasing,
    *   - `avg_external_freq` mean external occurrence count — how HEAVILY
    *                         attested the known phrasing is.
    *
    * All counts are integers and both ratios are single divisions, so the
    * scores are bit-reproducible in any engine (no log-prob float sums —
    * a true perplexity's per-token log accumulation is summation-order-
    * dependent and can't be oracle-checked exactly; rank behavior is the
    * same). Documents with fewer than `n` tokens report zeros.
    *
    * Plan at 100 TB: one gram explode (O(total tokens) rows), a
    * map-side-combinable per-(doc, gram) count, a corpus-count aggregate
    * joined back on the gram (linear in postings — no pair join, so no
    * df-cap needed; AQE skew-split covers hot grams), one per-doc rollup. */
  def ngramFamiliarity(df: DataFrame, textCol: String, idCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val norm = regexp_replace(trim(col(textCol)), "\\s+", " ")
    val grams = df.select(col(idCol).as("id"),
      explode(if (n == 1) split(norm, " ") else wordShinglesAllFromNormalized(norm, n)).as("g"))
    // docCounts' aggregation exchange is reused across the corpus-count
    // rollup and the leave-one-out join — no explicit cache (r16 A/B)
    val docCounts = grams.groupBy("id", "g").agg(count(lit(1)).as("c"))
    val corpusCounts = docCounts.groupBy("g").agg(sum(col("c")).as("tc"))
      .toDF("cc_g", "tc") // fresh attributes: agg → join lineage break
    val ext = col("tc") - col("c")
    val per = docCounts.join(corpusCounts, col("g") === col("cc_g"))
      .groupBy("id").agg(
        sum(col("c")).cast("long").as("n_ngrams"),
        sum(when(ext >= 1, col("c")).otherwise(0L)).cast("long").as("known_ngrams"),
        sum(col("c") * ext).cast("long").as("__graft_ext_sum"))
    df.select(col(idCol).as("id"))
      .join(per, Seq("id"), "left")
      .na.fill(0L, Seq("n_ngrams", "known_ngrams", "__graft_ext_sum"))
      .select(col("id"), col("n_ngrams"), col("known_ngrams"),
        when(col("n_ngrams") === 0, lit(0.0))
          .otherwise(col("known_ngrams").cast("double") / col("n_ngrams").cast("double"))
          .as("familiarity"),
        when(col("n_ngrams") === 0, lit(0.0))
          .otherwise(col("__graft_ext_sum").cast("double") / col("n_ngrams").cast("double"))
          .as("avg_external_freq"))
  }
}

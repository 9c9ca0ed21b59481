package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashes
import graft.tok.Tokenizer

/** Text-analysis operators for a large-scale training-data pipeline:
  * normalization, shingling, language-ID, quality scoring, token counting,
  * fingerprinting. All are per-row column expressions (narrow — no shuffle,
  * no UDFs, whole-stage codegen), so they cost one map pass at any scale;
  * the aggregations downstream of them are where exchanges happen.
  *
  * Generalizes the reference's text surface (tokenize + case-fold,
  * `tokenizer.c:47-79`, `hash_map.c:25-28`) per the project north star.
  */
object TextAnalysis {

  /** Canonical text form for exact dedup: lowercase, every delimiter run
    * (the reference's 38-char set) collapsed to one space, ends trimmed.
    * Two documents equal under this normalization are duplicates for
    * counting purposes — same definition the reference's tokenizer implies
    * (delimiters carry no identity, `tokenizer.c:37-45`). Built as the
    * tokens joined by one space; `array_join`, unlike `concat_ws`, keeps a
    * null text null.
    */
  def normalize(text: Column): Column =
    array_join(Tokenizer.lowerTokens(text), " ")

  /** Lowercased non-empty tokens (reference semantics). */
  def tokens(text: Column): Column = Tokenizer.lowerTokens(text)

  /** Word n-gram shingles, space-joined. Empty array when < n tokens. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Distinct shingle set — the unit of near-dup similarity. */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(shingles(tokens(text), n))

  // ── Language identification ───────────────────────────────────────────

  /** Tiny per-language marker-word profiles (top function words). Public
    * knowledge; ASCII-only on purpose — the tokenizer's delimiter set is
    * byte-oriented like the reference's.
    */
  val LanguageProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ich", "ein", "zu", "mit"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con", "para", "es"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est", "que", "pour", "dans"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you", "ta", "zhe", "men", "zai"),
  )

  /** Marker-hit score for one language profile: |tokens ∩ profile|. */
  def langScore(toks: Column, profile: Seq[String]): Column =
    size(array_intersect(array_distinct(toks), array(profile.map(lit): _*)))

  /** Predicted language: argmax of profile scores, ties broken by profile
    * order (first wins) — deterministic. A real n-gram model would replace
    * the profiles; the operator shape (narrow scoring + argmax) is the same.
    */
  def langId(toks: Column): Column = {
    val scored = LanguageProfiles.map { case (lang, prof) =>
      struct(langScore(toks, prof).as("score"), lit(lang).as("lang"))
    }
    // array_max on struct(score, lang) would break lang ties by *string*
    // (max lang wins); fold explicitly so the FIRST profile wins ties.
    scored.reduceLeft { (best, cand) =>
      when(cand.getField("score") > best.getField("score"), cand).otherwise(best)
    }.getField("lang")
  }

  // ── Quality scoring ───────────────────────────────────────────────────

  /** Heuristic quality features (C4/Gopher-style rules, simplified):
    * doc length, token stats, punctuation/digit density, stopword ratio.
    * Returns a struct; callers project what they need. Ratios are rounded
    * at the edge for cross-engine determinism.
    */
  def qualityFeatures(text: Column): Column = {
    val toks = tokens(text)
    val nChars = length(text)
    val nToks = size(toks)
    val punct = nChars - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))
    val digits = nChars - length(regexp_replace(text, "[0-9]", ""))
    val stop = langScore(toks, LanguageProfiles.head._2)
    struct(
      nChars.as("n_chars"),
      nToks.as("n_tokens"),
      round(nChars.cast("double") / greatest(nToks, lit(1)), 6).as("mean_tok_len"),
      round(punct.cast("double") / greatest(nChars, lit(1)), 6).as("punct_ratio"),
      round(digits.cast("double") / greatest(nChars, lit(1)), 6).as("digit_ratio"),
      round(stop.cast("double") / greatest(size(array_distinct(toks)), lit(1)), 6)
        .as("stopword_ratio"))
  }

  /** Composite 0–1 quality score from [[qualityFeatures]] — monotone in
    * "looks like prose": enough tokens, sane token length, low punct/digit
    * noise. Weights are heuristic constants, not learned.
    */
  def qualityScore(f: Column): Column = round(
    least(f.getField("n_tokens").cast("double") / 20.0, lit(1.0)) * 0.4
      + when(f.getField("mean_tok_len").between(3.0, 12.0), 0.3).otherwise(0.0)
      + greatest(lit(0.0), lit(0.2) - f.getField("punct_ratio") * 2.0)
      + greatest(lit(0.0), lit(0.1) - f.getField("digit_ratio")), 6)

  // ── PII redaction ─────────────────────────────────────────────────────

  /** Shared, RE2-compatible patterns (identical semantics in Java regex and
    * the DuckDB oracle's RE2): email, URL, dotted-quad IP.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Replace emails/URLs/IPs with typed placeholder tokens — the scrub
    * pass a training corpus gets before anything else. Order matters:
    * URLs first (they may embed @ and dots), then emails, then IPs.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      IpRe, "<IP>")

  /** Count of matches of `pattern` in `text` (redaction audit metric). */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  // ── Repetition metrics (Gopher-style filters) ─────────────────────────

  /** Fraction of repeated n-grams: 1 − |distinct n-grams| / |n-grams|.
    * 0 for no repetition, →1 for degenerate loops; 0.0 when the doc has
    * fewer than n tokens (no n-grams — nothing repeated).
    *
    * String-shingle form — fine for ad-hoc use, but the shingle expression
    * is re-evaluated per reference; the scale path is
    * [[repeatedFracFromHashes]] over a materialized
    * [[Dedup.ngramHashSet]]-style hash column (see `q_repetition`).
    */
  def repeatedNgramFrac(toks: Column, n: Int): Column = {
    val sh = shingles(toks, n)
    when(size(sh) === 0, lit(0.0))
      .otherwise(round(
        lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh), 6))
  }

  /** [[repeatedNgramFrac]] over an n-gram-hash array column (duplicates
    * kept — do NOT pass a distinct set). Pass an *attribute* (withColumn-
    * materialized) so the hash pipeline runs once, not per reference.
    */
  def repeatedFracFromHashes(ngramHashes: Column): Column =
    when(size(ngramHashes) === 0, lit(0.0))
      .otherwise(round(
        lit(1.0) - size(array_distinct(ngramHashes)).cast("double")
          / size(ngramHashes), 6))

  // ── Gopher rule-flag filter ───────────────────────────────────────────

  /** Gopher-style per-rule quality flags (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A — the rule-based filter that precedes model-based quality
    * scoring in most LLM corpus pipelines). Unlike [[qualityScore]]'s
    * composite number, every rule is emitted as its own boolean so
    * downstream can audit WHICH rule kills a document:
    *
    *  - `r_word_count`: token count in [minWords, maxWords]
    *  - `r_word_len`: mean token length in [minMeanLen, maxMeanLen]
    *  - `r_symbol`: symbol-to-word ratio ('#' chars + '...' occurrences)
    *    ≤ 1/10
    *  - `r_stopword`: ≥ 2 distinct hits in the English function-word
    *    profile ([[LanguageProfiles]] head — Gopher's "contains ≥2 stop
    *    words" rule)
    *  - `r_repetition`: most frequent token ≤ 1/5 of the doc (the
    *    unigram member of Gopher's repetition family; the n-gram members
    *    are [[repeatedNgramFrac]])
    *  - `keep`: conjunction of all five
    *
    * Every threshold compare is INTEGER arithmetic (sum·1 ≥ min·count
    * forms) — no float boundary for engines to round differently; the
    * oracle mirrors the same integer compares.
    *
    * Scale posture: one narrow per-row pass for four rules plus ONE
    * exploded (doc, token) aggregate for the repetition rule (partial
    * aggregation contracts map-side; the join back to the doc key is the
    * only shuffle). At 100 TB the rule pass is embarrassingly parallel —
    * the shape of every production quality filter.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 30, maxWords: Int = 100000,
                  minMeanLen: Int = 3, maxMeanLen: Int = 10): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"word bounds: [$minWords, $maxWords]")
    require(minMeanLen >= 1 && maxMeanLen >= minMeanLen,
      s"mean-length bounds: [$minMeanLen, $maxMeanLen]")
    val t = docs.select(col(idCol), col(textCol).as("text"),
      tokens(col(textCol)).as("toks"))
    val maxTok = t
      .select(col(idCol), explode(col("toks")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("max_tok"))
    val wc = size(col("toks")).cast("long")
    val sumLen = aggregate(transform(col("toks"), tk => length(tk)),
      lit(0L), (acc, x) => acc + x)
    val hashSyms = length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))
    val ellipses = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    t.join(maxTok, Seq(idCol), "left")
      .select(col(idCol),
        wc.as("n_words"),
        (wc >= minWords && wc <= maxWords).as("r_word_count"),
        (sumLen >= wc * minMeanLen && sumLen <= wc * maxMeanLen)
          .as("r_word_len"),
        ((hashSyms + ellipses).cast("long") * 10 <= wc).as("r_symbol"),
        (langScore(col("toks"), LanguageProfiles.head._2) >= 2)
          .as("r_stopword"),
        (coalesce(col("max_tok"), lit(0L)) * 5 <= wc).as("r_repetition"))
      .withColumn("keep",
        col("r_word_count") && col("r_word_len") && col("r_symbol") &&
          col("r_stopword") && col("r_repetition"))
  }

  /** Rule ABLATION over any per-doc boolean rule-flag relation (e.g.
    * [[gopherRules]] output): per rule, how many docs it flags
    * (`flag_share` of the corpus) and — the number that actually ranks
    * rules — `n_unique`, the docs failing ONLY this rule: its unique kill
    * credit, exactly what the pipeline recovers by dropping the rule.
    * A rule with big `n_flagged` but zero `n_unique` is fully shadowed by
    * the others (dead weight to compute); a small rule with big unique
    * credit is the one a threshold review should touch last.
    *
    * ONE corpus aggregate (2·rules+1 map-side-combined sums) to a single
    * row, then `stack` unpivots to a rules-count relation — no per-rule
    * rescans, nothing post-aggregate is corpus-scale.
    */
  def ruleAblation(flags: DataFrame, ruleCols: Seq[String]): DataFrame = {
    require(ruleCols.nonEmpty, "ruleCols must be non-empty")
    val nFailed = ruleCols.map(rc => when(!col(rc), 1L).otherwise(0L))
      .reduce(_ + _)
    val base = flags.withColumn("n_failed", nFailed)
    val aggCols = count(lit(1)).cast("long").as("n_docs") +:
      ruleCols.flatMap(rc => Seq(
        sum(when(!col(rc), 1L).otherwise(0L)).cast("long").as(s"f_$rc"),
        sum(when(!col(rc) && col("n_failed") === 1, 1L).otherwise(0L))
          .cast("long").as(s"u_$rc")))
    val one = base.agg(aggCols.head, aggCols.tail: _*)
    val stackExpr = s"stack(${ruleCols.size}, " +
      ruleCols.map(rc => s"'$rc', f_$rc, u_$rc").mkString(", ") +
      ") AS (rule, n_flagged, n_unique)"
    one.select(expr(stackExpr), col("n_docs"))
      .select(col("rule"), col("n_flagged"), col("n_unique"),
        round(col("n_flagged").cast("double") / col("n_docs").cast("double"),
          6).as("flag_share"))
  }

  // ── Token counting ────────────────────────────────────────────────────

  /** Whitespace token count (the cheap pre-filter number). */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** BPE-ish subword count: alpha runs / single digits / other symbols —
    * the shape (regex scan, no vocab) of a tokenizer-budget estimator.
    */
  val BpeishPattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpeishPattern), lit(0)))

  // ── Fingerprinting ────────────────────────────────────────────────────

  /** Content fingerprint: 60-bit hash of the normalized text. Equal
    * normalized content ⇒ equal fingerprint (exact-dedup key).
    */
  def contentFingerprint(text: Column): Column = Hashes.h60(normalize(text))

  /** Sketch fingerprint: hash of the first `k` minhash values over 3-gram
    * hashes — a compact rolling identity that tolerates none of the
    * content changing but is cheap to compare/cluster on. Built on the
    * n-gram-hash basis ([[Dedup.ngramHashSet]]) — no shingle strings.
    */
  def sketchFingerprint(text: Column, k: Int = 4): Column =
    Hashes.h60(concat_ws(",",
      transform(
        Dedup.minhashSignatureFromHashes(Dedup.ngramHashSet(tokens(text), 3), k),
        _.cast("string"))))

  // ── TF-IDF keyword extraction ─────────────────────────────────────────

  /** Per-(doc, term) raw term frequency from a token-array column —
    * one explode + one hash aggregation on (doc, term).
    */
  def termFrequencies(docs: DataFrame, idCol: String,
                      toksCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(col(toksCol)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top-`k` TF-IDF keywords per document. Smooth idf (sklearn form):
    * idf = ln((1 + N) / (1 + df)) + 1, score = tf · idf, so terms the
    * whole corpus shares score near tf·1 while rare terms are boosted.
    * Deterministic: rank over (round(score, 6) desc, term asc).
    *
    * Plan at scale: explode → (doc, term) hash agg → per-term df agg →
    * hash join tf⋈df on term → 1-row corpus-count aggregate joined in
    * (broadcast — the only unkeyed join, one row) → per-doc window.
    * The tf relation feeds both the df aggregate and the scoring join;
    * persisted, caller-managed lifetime (see [[Dedup]] scaladocs).
    */
  def tfidfTopK(docs: DataFrame, idCol: String, toksCol: String,
                k: Int, persistTf: Boolean = true): DataFrame = {
    require(k >= 1, s"k: $k")
    val tf0 = termFrequencies(docs, idCol, toksCol)
    val tf =
      if (persistTf)
        tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else tf0
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(desc("tfidf"), asc("term"))
    tf.join(dfRel, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0),
          6).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}

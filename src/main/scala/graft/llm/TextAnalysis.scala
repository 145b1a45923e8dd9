package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, fingerprinting, token counting, quality scoring and
  * a deterministic language-ID heuristic.
  *
  * All operators are pure `Column` expressions (no UDFs): they run
  * inside whole-stage codegen / vectorized evaluation and are a single
  * narrow map stage at any scale — no shuffle, no driver involvement.
  * Determinism: no wall-clock, no randomness; every function of the
  * text alone, so replays and engine-oracle comparisons are exact.
  */
object TextAnalysis {

  /** Canonical text form: trim, collapse whitespace, lowercase. */
  def normalizeText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Document fingerprint = md5 of the canonical form (content
    * address; the package-identity idea of cdf VISION.md:762-790
    * applied per-document). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** Whitespace tokens. */
  def wsTokens(c: Column): Column = split(trim(c), "\\s+")

  /** Hashing-trick linear scorer (the fastText/Vowpal-Wabbit inference
    * shape): each whitespace token hashes into one of `buckets` weight
    * slots via the portable md5-prefix hash, and the document's score
    * is the EXACT INTEGER sum of its tokens' weights — the
    * order-independent fold that keeps the result hash-checkable. The
    * weight table here is a deterministic closed form
    * (w(b) = (b·2654435761) mod 2B − B, mean-zero over the buckets); a
    * trained model would broadcast its real table into the same plan —
    * the INFERENCE shape (hash → bucket → weight → fold) is the
    * operator, exactly how a trained fastText-style quality classifier
    * runs over a 100 TB corpus (one narrow codegen'd pass, no UDF, no
    * feature matrix materialized). */
  def hashedLinearScore(textCol: Column, buckets: Int = 1024): Column =
    aggregate(
      transform(wsTokens(textCol), t => {
        val b = pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets))
        (b * lit(2654435761L)) % lit(2L * buckets) - lit(buckets.toLong)
      }),
      lit(0L), (acc, x) => acc + x)

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single symbols. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpeTokenPattern), lit(0))

  /** Word n-grams (space-joined), distinct. Guarded so documents with
    * fewer than n words yield an empty set (Spark's `sequence`
    * descends when start > stop — must not emit phantom grams). */
  def wordNgrams(c: Column, n: Int): Column = {
    val w = wsTokens(c)
    array_distinct(
      when(size(w) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", slice(w, i, lit(n))))))
  }

  /** Language-ID by stopword-profile voting: deterministic argmax with
    * fixed priority tie-break, 'und' when no profile matches. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "que"),
    "fr" -> Seq("le", "les", "une", "et", "dans"),
    "zh" -> Seq("的", "是", "在"))

  /** Scores from a pre-computed lowercase token array (stage the token
    * split once; the per-language filters then share it). */
  def langScoresFromTokens(w: Column): Seq[(String, Column)] =
    langProfiles.map { case (lang, words) =>
      lang -> size(filter(w, x => array_contains(array(words.map(lit): _*), x)))
    }

  def langScores(c: Column): Seq[(String, Column)] =
    langScoresFromTokens(wsTokens(lower(c)))

  /** argmax with declaration-order priority on ties; all-zero → und. */
  def langPickFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  def langId(c: Column): Column = langPickFromScores(langScores(c))

  /** Quality metrics + a bounded [0,1] score (length, lexical
    * diversity, punctuation density) — the usual pre-training corpus
    * filters, exactly reproducible in any engine — from a pre-computed
    * token array `w` of `text` (stage the split once). */
  def qualityFromTokens(w: Column, text: Column): Seq[(String, Column)] = {
    val nWords = size(w)
    val nUniq = size(array_distinct(w))
    val sumLen = aggregate(transform(w, x => length(x)), lit(0), (acc, x) => acc + x)
    val punct = size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0)))
    val uniqRatio = nUniq.cast("double") / nWords.cast("double")
    val score = round(
      lit(0.4) * least(nWords.cast("double") / 100.0, lit(1.0)) +
        lit(0.4) * uniqRatio +
        lit(0.2) * (lit(1.0) - least(punct.cast("double") / 20.0, lit(1.0))), 6)
    Seq(
      "n_words" -> nWords,
      "n_uniq_words" -> nUniq,
      "uniq_ratio" -> uniqRatio,
      "sum_word_len" -> sumLen,
      "punct_n" -> punct,
      "quality_score" -> score)
  }

  /** Gopher-rule stop list (Rae et al. 2021 §A1.1: a document must
    * contain at least 2 of a small closed-class list — the cheapest
    * "is this prose" test there is). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  /** Gopher-style quality-FILTER signals (Rae et al. 2021 §A1.1,
    * adapted to whitespace words): document length, mean word length,
    * alphabetic-word ratio, distinct-stopword presence, lexical
    * diversity. All pure codegen'd HOFs over the staged token array —
    * one narrow map pass, no shuffle, any-engine-reproducible (ratios
    * rounded to 4 decimals so threshold comparisons are stable). */
  def gopherSignals(w: Column): Seq[(String, Column)] = {
    val nWords = size(w)
    val meanLen = aggregate(transform(w, x => length(x)), lit(0), (a, x) => a + x)
      .cast("double") / nWords.cast("double")
    val alphaRatio = size(filter(w, x => x.rlike("[A-Za-z]"))).cast("double") /
      nWords.cast("double")
    val stopDistinct = size(array_intersect(array_distinct(w),
      array(gopherStopwords.map(lit): _*)))
    val uniqRatio = size(array_distinct(w)).cast("double") / nWords.cast("double")
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> round(meanLen, 4),
      "alpha_ratio" -> round(alphaRatio, 4),
      "stop_distinct" -> stopDistinct,
      "uniq_ratio" -> round(uniqRatio, 4))
  }

  /** First-failing-rule verdict over the (ROUNDED) signal columns —
    * fixed priority order, so the reason is deterministic and the
    * filter's drop set decomposes per rule. Thresholds are the Gopher
    * paper's, word-granular: length ∈ [20, 100000], mean word length
    * ∈ [2, 10], ≥80% alphabetic words, ≥2 distinct stopwords, ≥30%
    * distinct words. */
  def gopherVerdict(nWords: Column, meanLen: Column, alphaRatio: Column,
      stopDistinct: Column, uniqRatio: Column): Column =
    when(nWords < 20 || nWords > 100000, "word_count")
      .when(meanLen < 2.0 || meanLen > 10.0, "word_length")
      .when(alphaRatio < 0.8, "alpha_ratio")
      .when(stopDistinct < 2, "stopwords")
      .when(uniqRatio < 0.3, "repetition")
      .otherwise("keep")
}

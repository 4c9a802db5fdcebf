package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Published web-corpus quality rule sets, re-expressed as map-only Spark
  * Column expressions (SURVEY.md §2.6 extension surface):
  *
  *   - Gopher document-quality rules (Rae et al. 2021, "Scaling Language
  *     Models: Methods, Analysis & Insights from Training Gopher", §A1.1)
  *   - C4 line/document cleaning (Raffel et al. 2020, "Exploring the Limits
  *     of Transfer Learning", §2.2)
  *   - Gopher repetition signals: top-/duplicate-n-gram character fractions
  *     (same §A1.1; char-weighting follows the common public implementations
  *     that weight each occurrence by the n-gram's character length)
  *
  * Everything here is a pure expression over one `text` column — no shuffle,
  * no UDFs, whole-stage-codegen resident — so the rules run at scan speed and
  * compose with any upstream filter pushdown. Fractions are rounded with the
  * library's cross-engine formula `floor(x*1e6 + 0.5)/1e6` (plain double
  * arithmetic; bitwise identical in Spark and the DuckDB oracle).
  */
object QualityRules {

  /** floor-round to 6 decimals: the repo's cross-engine comparability rule
    * (see TextAnalysis.qualityScore for the rationale). */
  private def r6(c: Column): Column = floor(c * 1e6 + 0.5) / 1e6

  /** Non-empty whitespace tokens. */
  private def words(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  /** Non-empty lines (trimmed-nonblank), preserving leading markers. */
  private def lines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  // ---------------------------------------------------------------- Gopher

  /** Gopher's required-stopword set (§A1.1: "contains at least 2 of ..."). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def wordCount(text: Column): Column = size(words(text)).cast("long")

  /** Mean characters per whitespace word; 0.0 for empty documents. */
  def meanWordLength(text: Column): Column = {
    val ws = words(text)
    when(size(ws) === 0, 0.0).otherwise(
      r6(aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double")
        / size(ws).cast("double")))
  }

  /** Gopher symbol-to-word ratio: occurrences of `#` or `...` per word. */
  def symbolWordRatio(text: Column): Column = {
    val nw = size(words(text))
    when(nw === 0, 0.0).otherwise(
      r6(size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))).cast("double")
        / nw.cast("double")))
  }

  /** Fraction of non-blank lines that start with a bullet marker. */
  def bulletLineFraction(text: Column): Column = {
    val ls = lines(text)
    when(size(ls) === 0, 0.0).otherwise(
      r6(size(filter(ls, l => l.rlike("^\\s*[-•*] "))).cast("double")
        / size(ls).cast("double")))
  }

  /** Fraction of non-blank lines that end with an ellipsis. */
  def ellipsisLineFraction(text: Column): Column = {
    val ls = lines(text)
    when(size(ls) === 0, 0.0).otherwise(
      r6(size(filter(ls, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double")
        / size(ls).cast("double")))
  }

  /** Fraction of words containing at least one ASCII-alphabetic character. */
  def alphaWordFraction(text: Column): Column = {
    val ws = words(text)
    when(size(ws) === 0, 0.0).otherwise(
      r6(size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double")
        / size(ws).cast("double")))
  }

  /** How many DISTINCT members of [[gopherStopwords]] appear as whole
    * (lowercased, punctuation-stripped-by-whitespace) words. */
  def gopherStopwordMatches(text: Column): Column =
    size(array_intersect(
      array_distinct(words(lower(text))),
      array(gopherStopwords.map(lit): _*))).cast("long")

  /** The full Gopher §A1.1 keep decision with the paper's published
    * thresholds (parameterized so curation pipelines can tighten them):
    * word count in [minWords, maxWords], mean word length in [3, 10],
    * symbol-to-word ratio ≤ 0.1, < 90% bullet lines, ≤ 30% ellipsis lines,
    * ≥ 80% alphabetic words, ≥ 2 required stopwords. */
  def gopherKeep(
      text: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): Column = {
    val wc = wordCount(text)
    wc.geq(minWords) && wc.leq(maxWords) &&
      meanWordLength(text).between(minMeanWordLen, maxMeanWordLen) &&
      symbolWordRatio(text).leq(maxSymbolRatio) &&
      bulletLineFraction(text).lt(maxBulletFrac) &&
      ellipsisLineFraction(text).leq(maxEllipsisFrac) &&
      alphaWordFraction(text).geq(minAlphaFrac) &&
      gopherStopwordMatches(text).geq(minStopwords)
  }

  // -------------------------------------------------------------------- C4

  /** C4 line retention (§2.2): keep a line only if it ends in terminal
    * punctuation, has at least `minWordsPerLine` words (paper: 5), and does
    * not mention the word "javascript" (the paper drops such lines because
    * they are overwhelmingly cookie/JS boilerplate). Returns the retained
    * lines re-joined with `\n`. */
  def c4CleanLines(text: Column, minWordsPerLine: Int = 5): Column = {
    val kept = filter(split(text, "\n"), l =>
      trim(l).rlike("[.!?\"]$") &&
        size(filter(split(trim(l), "\\s+"), w => length(w) > 0)).geq(minWordsPerLine) &&
        !lower(l).rlike("javascript"))
    array_join(kept, "\n")
  }

  /** C4 document keep decision over the ALREADY-CLEANED text: at least
    * `minSentences` sentences survive (sentence ≈ terminal-punctuation mark,
    * the common public reading), no "lorem ipsum", and no curly brace
    * (the paper's code-page heuristic) anywhere in the ORIGINAL text. */
  def c4Keep(text: Column, cleaned: Column, minSentences: Int = 3): Column =
    size(regexp_extract_all(cleaned, lit("[.!?]"), lit(0))).geq(minSentences) &&
      !lower(text).contains("lorem ipsum") &&
      !text.contains("{")

  /** True iff the (lowercased) document contains ANY of the phrases — the
    * C4 badword / policy-phrase page filter. The phrase list ships as an
    * array literal in the expression tree (fine to a few thousand entries;
    * a corpus-scale lexicon becomes a broadcast join on extracted tokens
    * instead). Plain substring containment, not regex — no metacharacter
    * escaping hazards, and the oracle mirrors it verbatim. */
  def containsAnyPhrase(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "containsAnyPhrase needs at least one phrase")
    exists(array(phrases.map(p => lit(p.toLowerCase)): _*),
      p => contains(lower(text), p))
  }

  // ------------------------------------------------- Repetition (n-grams)

  /** `f(x)` with `x` evaluated once per row. Spark does not eliminate
    * common subexpressions inside higher-order-function lambdas, so an
    * array a lambda body refers to is rebuilt on every iteration unless it
    * arrives as a lambda variable itself. */
  private def bind(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), f), 1)

  /** Word n-grams of `text` (lowercased), space-joined; empty array when the
    * document has fewer than n words. */
  private def ngrams(text: Column, n: Int): Column =
    bind(words(lower(text))) { ws =>
      when(size(ws) < n, array().cast("array<string>")).otherwise(
        transform(sequence(lit(0), size(ws) - n),
          i => array_join(slice(ws, i + 1, lit(n)), " ")))
    }

  /** Gopher top-n-gram character fraction: characters covered by every
    * occurrence of the single most frequent word n-gram, divided by the
    * document's character count. Ties on count resolve to the
    * lexicographically greatest n-gram (struct-max — deterministic and
    * mirrored exactly by the DuckDB oracle). O(u·g) per document where u =
    * distinct n-grams — fine for web-page-sized documents; corpus-scale
    * outliers should be length-capped upstream (MaxBytes). */
  def topNgramCharFraction(text: Column, n: Int): Column =
    bind(ngrams(text, n)) { gs =>
      val best = array_max(transform(array_distinct(gs),
        d => struct(size(filter(gs, g => g === d)).as("cnt"), d.as("gram"))))
      bind(best) { b =>
        when(size(gs) === 0 || length(text) === 0, 0.0).otherwise(
          r6(b.getField("cnt").cast("double") * length(b.getField("gram")).cast("double")
            / length(text).cast("double")))
      }
    }

  /** Gopher duplicate-n-gram character fraction: characters covered by all
    * occurrences of every n-gram that appears more than once, divided by the
    * document's character count (occurrence-weighted, the common public
    * implementation; overlapping spans are counted per occurrence). */
  def dupNgramCharFraction(text: Column, n: Int): Column =
    bind(ngrams(text, n)) { gs =>
      val dupChars = aggregate(
        array_distinct(gs), lit(0L),
        (acc, d) => {
          val cnt = size(filter(gs, g => g === d))
          acc + when(cnt > 1, cnt.cast("long") * length(d).cast("long")).otherwise(0L)
        })
      when(size(gs) === 0 || length(text) === 0, 0.0).otherwise(
        r6(dupChars.cast("double") / length(text).cast("double")))
    }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.{Kernels, native}

/** Text analysis operators for training-data pipelines (BASELINE.json
  * mandate, SURVEY.md §2.6): language-ID, quality scoring, token counting,
  * fingerprinting. All map-only Column expressions — no shuffle, no UDFs —
  * so they push down and scale linearly.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: word pieces + digit runs + punctuation, the
    * usual pre-tokenizer regex family (GPT-2 style, simplified). */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Stopword sets per language for the heuristic scorers. Tiny on
    * purpose: the kernels hold them as one hash map (broadcast-free). */
  val stopwords: Map[String, Seq[String]] = Kernels.Stopwords

  /** Stopword-hit heuristic language ID: the language whose stopword set
    * hits the most tokens of `split(lower(text), "\\s+")`; zero hits →
    * "und"; ties resolve to the lexicographically greatest language code
    * (deterministic, mirrored exactly by the DuckDB oracle); null text →
    * null. One native kernel pass per row
    * ([[graft.expressions.Kernels.languageId]]). */
  def languageId(text: Column): Column = native.languageId(text)

  /** Quality score in [0,1]: blend of length saturation, stopword ratio
    * and punctuation ratio — the classic cheap quality heuristics — in
    * one native kernel pass per row
    * ([[graft.expressions.Kernels.qualityScore]]):
    * `0.4·min(length/500, 1) + 0.4·stopwordHits/nTokens +
    * 0.2·(1 − punct/length)`, with punctuation the characters outside
    * `[A-Za-z0-9\s]`.
    *
    * Rounded as floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): engines disagree
    * on how to round a binary double at a decimal halfway point (Spark
    * rounds the shortest decimal repr half-up; DuckDB rounds the binary
    * value). The floor formula is plain double arithmetic — bitwise
    * identical everywhere, so oracles can reproduce it exactly. */
  def qualityScore(text: Column, stopLang: String = "en"): Column =
    native.qualityScore(text, stopLang)

  /** Flesch reading ease + Flesch–Kincaid grade (Flesch 1948 / Kincaid
    * et al. 1975 — the published formulas) over deterministic run-count
    * heuristics: words = `[A-Za-z]+` runs, sentences = `[.!?]+` runs
    * (floored at 1), syllables = vowel-group runs `[AEIOUYaeiouy]+`
    * floored at the word count (every word carries ≥1 syllable — applied
    * as a corpus-portable GLOBAL floor rather than per-word, documented
    * divergence from dictionary syllabification, same spirit as every
    * regex syllable counter). Three `regexp_extract_all` counts + fixed
    * double arithmetic on the 1e-6 grid — map-only, zero shuffle,
    * mirrored verbatim by a SQL oracle. Null text or zero words → null
    * struct. Returns `struct(words, sentences, syllables, flesch,
    * fk_grade)`. */
  def readability(text: Column): Column = {
    val w = size(regexp_extract_all(text, lit("[A-Za-z]+"), lit(0))).cast("double")
    val t = greatest(
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("double"), lit(1.0))
    val s = greatest(
      size(regexp_extract_all(text, lit("[AEIOUYaeiouy]+"), lit(0))).cast("double"), w)
    def r6(c: Column) = floor(c * 1e6 + lit(0.5)) / 1e6
    when(text.isNotNull && w > 0, struct(
      w.cast("long").as("words"),
      t.cast("long").as("sentences"),
      s.cast("long").as("syllables"),
      r6(lit(206.835) - lit(1.015) * (w / t) - lit(84.6) * (s / w)).as("flesch"),
      r6(lit(0.39) * (w / t) + lit(11.8) * (s / w) - lit(15.59)).as("fk_grade")))
  }

  /** Gopher-style repetition signals (public Gopher/RefinedWeb quality
    * rules): fraction of duplicate lines and of duplicate tokens. High
    * values flag boilerplate/templated documents. Map-only array math —
    * no shuffle, oracle-able in any engine with list functions. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    when(size(lines) === 0, 0.0).otherwise(
      (size(lines) - size(array_distinct(lines))).cast("double")
        / size(lines).cast("double"))
  }

  /** Fraction of whitespace tokens that are repeats of an earlier token. */
  def duplicateTokenFraction(text: Column): Column = {
    val toks = filter(tokens(text), t => length(t) > 0)
    when(size(toks) === 0, 0.0).otherwise(
      (size(toks) - size(array_distinct(toks))).cast("double")
        / size(toks).cast("double"))
  }

  /** Shannon entropy (bits per character) of the document's character
    * distribution — the classic cheap garbage detector (≈0 for repeated
    * filler, ≈ log2(alphabet) for random bytes; natural English prose sits
    * near 4.1). One native kernel pass per row
    * ([[graft.expressions.Kernels.charEntropy]]): sort the characters,
    * sum `-p·ln p` over the distinct ones in ascending order — so the
    * float sum adds in the same order as the oracle's sorted fold — and
    * divide by the ln 2 literal. ln is engine-libm; the 1e-6 floor-round
    * absorbs ulp drift (the LmScore precedent). */
  def charEntropy(text: Column): Column = native.charEntropy(text)

  /** PII patterns — deliberately RE2-compatible (no lookaround, no
    * backreferences) so the same pattern strings run identically under
    * Java regex (Spark) and RE2 (DuckDB oracle / many scrubbing stacks). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\+[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val urlPattern = "https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~:/?#@!$&()*+,;=%-]*)?"

  /** Redact common PII spans (emails, intl-format phones, IPv4 literals)
    * with typed placeholders — the standard pre-training scrub pass.
    * Map-only chained regexp_replace; order matters (emails first so the
    * phone pattern cannot eat an address's digits). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** All URLs in the document (http/https), for domain filtering and
    * provenance tracking. */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(urlPattern), lit(0))

  /** Registrable-ish domain of each URL (host, lowercased). */
  def extractDomains(text: Column): Column =
    transform(extractUrls(text),
      u => lower(regexp_extract(u, "https?://([A-Za-z0-9.-]+)", 1)))

  /** Stable 128-bit content fingerprint (hex) for exact dedup at scale. */
  def fingerprintMd5(text: Column): Column = md5(text.cast("binary"))

  /** 64-bit polynomial rolling hash (Rabin–Karp) — cheap fingerprint via a
    * native codegen kernel. */
  def fingerprintRolling(text: Column): Column = native.rollingHash(text)

  /** 64-bit SimHash near-dup fingerprint. */
  def fingerprintSimhash(text: Column): Column = native.simHash(text)

  /** Per-script character classes for [[scriptCounts]]. `\x{…}` hex
    * escapes parse identically in Java regex and RE2, so a SQL mirror
    * uses the SAME pattern strings (BMP ranges only — the major writing
    * systems a crawl triage cares about; astral CJK extensions land in
    * no class, like any character outside these ranges). */
  val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
    "kana" -> "[\\x{3040}-\\x{30FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}]",
    "digit" -> "[0-9]")

  /** Script-mix profile: one count per [[scriptClasses]] entry — the
    * crawl-triage signal language-ID alone misses (mixed-script spam,
    * mojibake, wrong-script "English"). Map-only (`regexp_count` per
    * class, all codegen); a struct column so one pass carries every
    * class. */
  def scriptCounts(text: Column): Column =
    struct(scriptClasses.map { case (name, cls) =>
      regexp_count(text, lit(cls)).cast("long").as(name)
    }: _*)

  /** Dominant script from an ALREADY-MATERIALIZED [[scriptCounts]] struct
    * column (ties to the first class in declaration order; all-zero →
    * "none"). Take the struct from its own projection (`withColumn`) —
    * the tie-break chain references every field several times, and
    * feeding it a fresh `scriptCounts(text)` expression would clone the
    * nine regex scans into each reference (the r11 q_script_mix finding:
    * ~20× redundant regex work that codegen CSE did not reliably
    * eliminate). CollapseProject keeps a multiply-referenced non-cheap
    * alias in its own project, so the two-step form runs each class scan
    * exactly once per row. */
  def dominantScriptFromCounts(counts: Column): Column = {
    val best = scriptClasses.map(_._1).foldLeft(lit(0L)) {
      (acc, n) => greatest(acc, counts.getField(n))
    }
    scriptClasses.map(_._1).foldRight(lit("none"): Column) {
      (n, acc) => when(best > 0 && counts.getField(n) === best, lit(n)).otherwise(acc)
    }
  }

  /** Dominant script name of `text` — one-shot convenience over
    * [[dominantScriptFromCounts]]; when also selecting the counts, compute
    * [[scriptCounts]] once in a `withColumn` and pass the column instead. */
  def dominantScript(text: Column): Column =
    dominantScriptFromCounts(scriptCounts(text))

  /** Dictionary-driven topic tagging — the taxonomy-labeling pass a
    * curation run uses to slice a corpus by subject, route documents to
    * domain pipelines, or enforce topic blocklists: a document gets tag
    * `T` when at least `minHits` DISTINCT terms from `T`'s keyword list
    * occur in it.
    *
    * Tokenization is [[Retrieval.terms]] (`[a-z0-9]+` over lowercase) and
    * dictionary terms are folded through the same normalization, so
    * matching is exact-token, case-insensitive, and consistent with the
    * retrieval operators. Multi-word keywords belong in
    * [[Retrieval.phraseSearch]] — this operator is deliberately
    * bag-of-terms.
    *
    * Scale: one exploded distinct-token pass over the corpus (the
    * [[Retrieval.termStats]] shape), an equi-join against the dictionary —
    * model-sized dictionaries broadcast; a genuinely huge one (every
    * Wikipedia title) falls back to a shuffle join on `term`, which AQE
    * sizes — and ONE partial-aggregable `(doc, tag)` count. No window, no
    * per-doc dictionary scan.
    *
    * Output: `(idCol, tagCol, n_matched)` for pairs with
    * `n_matched >= minHits`. */
  def tagKeywords(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  dict: org.apache.spark.sql.DataFrame, tagCol: String,
                  termCol: String, minHits: Int = 1): org.apache.spark.sql.DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(array_distinct(Retrieval.terms(col(textCol)))).as("term"))
    val terms = dict
      .select(col(tagCol), explode(Retrieval.terms(col(termCol))).as("term"))
      .distinct()
    toks.join(broadcast(terms), Seq("term"))
      .groupBy(col(idCol), col(tagCol))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= minHits)
  }

  /** Corpus lexical-diversity audit — one row of vocabulary statistics:
    * token count, type (distinct-token) count, hapax legomena (types
    * seen exactly once), type/token ratio, and hapax share of the
    * vocabulary. A synthetic or template-heavy corpus shows an
    * unnaturally LOW hapax ratio (natural language runs ~40–60% by
    * Zipf); a boilerplate-stripping regression shows up as a TTR jump.
    * Uses the shared retrieval tokenizer; ratios on the 1e-6 grid.
    *
    * Scale shape: one exploded partial-agg exchange to the per-type
    * count table, then ONE aggregate over that table. Nothing after
    * the type table is corpus-sized. */
  def lexicalDiversity(df: DataFrame, textCol: String): DataFrame = {
    val types = df.filter(col(textCol).isNotNull)
      .select(explode(Retrieval.terms(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__n"))
    types.agg(sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("n_tokens"), col("n_types"), col("n_hapax"),
        (floor(col("n_types").cast("double") / col("n_tokens") * 1e6) / 1e6)
          .as("ttr"),
        (floor(col("n_hapax").cast("double") / col("n_types") * 1e6) / 1e6)
          .as("hapax_ratio"))
  }
}

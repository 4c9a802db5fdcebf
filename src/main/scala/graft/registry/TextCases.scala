package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkEntry.T
import graft.ops.{Boilerplate, Html, QualityRules, Retrieval, Sampling, TextAnalysis}
import graft.registry.Check.Oracle

/** Text quality: heuristic rules and scores, tokenizers, vocabulary
  * statistics and n-gram language models, markup extraction and
  * redaction. */
private[graft] object TextCases {

  /** Deterministic structured-text synthesis for the Gopher/C4 rule queries
    * (documents.parquet text has no lines or punctuation of its own): four
    * lines with terminal punctuation, a bullet line, a doc_id%3 ellipsis
    * tail, a doc_id%7 "lorem ipsum { x" boilerplate line, and a too-short
    * line — written identically in the DuckDB oracle SQL. */
  private def structuredDoc: Column =
    concat(
      substring(col("text"), 1, 60), lit(".\n"),
      lit("- bullet "), substring(col("text"), 61, 40), lit("\n"),
      substring(col("text"), 101, 50),
      when(col("doc_id") % 3 === 0, "...").otherwise("?"), lit("\n"),
      when(col("doc_id") % 7 === 0, "lorem ipsum { x\n").otherwise(""),
      when(col("doc_id") % 5 < 4,
        "we have to be with them and that is the point of it.\n").otherwise(""),
      lit("tiny\n"),
      substring(col("text"), 151, 999), lit("."))

  /** DuckDB mirror of [[structuredDoc]], shared by the Gopher/C4 oracles. */
  private val StructuredDocSql: String =
    "concat(substr(text,1,60), '.', chr(10), '- bullet ', substr(text,61,40), chr(10), " +
      "substr(text,101,50), CASE WHEN doc_id % 3 = 0 THEN '...' ELSE '?' END, chr(10), " +
      "CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum { x' || chr(10) ELSE '' END, " +
      "CASE WHEN doc_id % 5 < 4 THEN 'we have to be with them and that is the point of it.' || chr(10) ELSE '' END, " +
      "'tiny', chr(10), substr(text,151,999), '.')"

  /** q_bpe_tokens's merge table: learned ONCE by `Bpe.learn` over the
    * sf0.001 documents corpus (16 merges, rank order) and committed as the
    * vocabulary artifact — the production pattern (vocabularies ship with
    * the model; they are not re-fit per query). The oracle SQL is GENERATED
    * from this same Seq, so the two engines always apply identical rules. */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "e r" -> "er", "o r" -> "or", "i n" -> "in", "o w" -> "ow",
    "s t" -> "st", "l u" -> "lu", "a r" -> "ar", "p ar" -> "par",
    "m er" -> "mer", "a t" -> "at", "a n" -> "an", "c an" -> "can",
    "s can" -> "scan", "c o" -> "co", "co lu" -> "colu", "colu m" -> "colum")

  /** DuckDB mirror of `Bpe.applyMerges(Bpe.charSeq(w), BpeMerges)`:
    * the same non-regex greedy-left `replace` fold. */
  private def bpeApplySql(inner: String): String =
    BpeMerges.foldLeft(s"trim(regexp_replace($inner, '(.)', '\\1 ', 'g'))") {
      case (acc, (p, j)) => s"replace($acc, '$p', '$j')"
    }

  val cases: Seq[Case] = Seq(
    // ---- quality rules and scores ---------------------------------------
    Case("q_repetition", Oracle(
      ("WITH t AS (SELECT doc_id, text, concat_ws(chr(10), text, text, 'tail') AS rep FROM documents), " +
        "l AS (SELECT doc_id, list_filter(string_split(rep, chr(10)), x -> length(x) > 0) AS lines, " +
        "list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS toks FROM t) " +
        "SELECT doc_id, " +
        "CASE WHEN len(lines) = 0 THEN 0.0 ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) END AS dup_lines, " +
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS dup_tokens " +
        "FROM l ORDER BY doc_id")))((s, dir) => {
      // duplicate every line (plus a unique tail) so the dup-lines signal
      // fires on every row; dup-tokens runs on the raw text
      val docs = T(s, dir, "documents")
        .withColumn("rep", concat_ws("\n", col("text"), col("text"), lit("tail")))
      docs.select(col("doc_id"),
        TextAnalysis.duplicateLineFraction(col("rep")).as("dup_lines"),
        TextAnalysis.duplicateTokenFraction(col("text")).as("dup_tokens"))
        .orderBy("doc_id")
    }),
    Case("q_quality_score", Oracle(
      ("SELECT doc_id, round(1.0/(1.0 + exp(-(-0.5 + 0.8*least(n_chars/500.0, 2.0) " +
        "+ 0.6*(len(string_split(text, ' '))/100.0) " +
        "- 2.0*(length(regexp_replace(text, '[a-z ]', '', 'g'))/greatest(length(text), 1))))), 6) AS score " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id")))((s, dir) => {
      // fixed-weight linear quality model over interpretable signals —
      // the score a trained fastText-style filter would assign, stated
      // in closed form so the oracle is plain arithmetic
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
      graft.ops.Classifier.scoreLinear(d, Seq(
          least(col("n_chars") / 500.0, lit(2.0)) -> 0.8,
          (size(split(col("text"), " ")) / 100.0) -> 0.6,
          (length(regexp_replace(col("text"), "[a-z ]", ""))
            / greatest(length(col("text")), lit(1))) -> -2.0),
          bias = -0.5)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),
    Case("q_phrase_flag", Oracle(
      ("SELECT doc_id, len(list_filter(['merge part', 'scan join', 'lorem ipsum'], " +
        "p -> contains(lower(text), p))) > 0 AS flagged FROM documents ORDER BY doc_id")))((s, dir) => {
      val phrases = Seq("merge part", "scan join", "lorem ipsum")
      T(s, dir, "documents").select(col("doc_id"),
        QualityRules.containsAnyPhrase(col("text"), phrases).as("flagged"))
        .orderBy("doc_id")
    }),
    Case("q_char_entropy", Oracle(
      // list_reduce over a prepended 0.0 accumulator replicates Spark's
      // aggregate() LEFT-FOLD order bitwise; distinct chars sorted on both
      // sides so the partial sums add in one canonical order; ln 2 is a
      // shared literal, not an engine call
      ("WITH b AS (SELECT doc_id, text, " +
        "list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)) AS cs FROM documents) " +
        "SELECT doc_id, CASE WHEN text IS NULL THEN NULL WHEN length(text) = 0 THEN 0.0 ELSE " +
        "floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_sort(list_distinct(cs)), ch -> " +
        "-(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / CAST(length(text) AS DOUBLE)) " +
        "* ln(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / CAST(length(text) AS DOUBLE)))), (a, b) -> a + b) " +
        "/ 0.6931471805599453) * 1000000.0 + 0.5) / 1000000.0 END AS entropy " +
        "FROM b ORDER BY doc_id")))((s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.charEntropy(col("text")).as("entropy"))
        .orderBy("doc_id")
    }),
    Case("q_text_stats", Oracle(
      "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS n_tokens FROM documents GROUP BY lang ORDER BY lang NULLS FIRST"))((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
        .orderBy("lang")
    }),
    Case("q_quality", Oracle(
      // floor(x*1e6 + 0.5)/1e6 matches qualityScore's rounding exactly:
      // plain double arithmetic, no engine-specific decimal-halfway rule
      ("SELECT doc_id, floor((0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) " +
        "+ 0.4 * (CASE WHEN len(regexp_split_to_array(lower(text), '\\s+')) = 0 THEN 0.0 ELSE " +
        "CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ('the','of','and','a','to','in','is','it','that','for'))) AS DOUBLE) " +
        "/ CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS DOUBLE) END) " +
        "+ 0.2 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE " +
        "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)) * 1000000.0 + 0.5) / 1000000.0 AS quality " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    Case("q_readability", Oracle(
      // identical run counts (words/sentences/syllables) and the identical
      // fixed double expression on the 1e-6 grid as TextAnalysis.readability
      ("SELECT doc_id, CAST(wi AS BIGINT) AS words, CAST(ti AS BIGINT) AS sentences, " +
        "CAST(si AS BIGINT) AS syllables, " +
        "floor((206.835 - 1.015 * (CAST(wi AS DOUBLE) / CAST(ti AS DOUBLE)) " +
        "- 84.6 * (CAST(si AS DOUBLE) / CAST(wi AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS flesch, " +
        "floor((0.39 * (CAST(wi AS DOUBLE) / CAST(ti AS DOUBLE)) " +
        "+ 11.8 * (CAST(si AS DOUBLE) / CAST(wi AS DOUBLE)) - 15.59) * 1000000.0 + 0.5) / 1000000.0 AS fk_grade " +
        "FROM (SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+')) AS wi, " +
        "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ti, " +
        "greatest(len(regexp_extract_all(text, '[AEIOUYaeiouy]+')), " +
        "len(regexp_extract_all(text, '[A-Za-z]+'))) AS si " +
        "FROM documents WHERE text IS NOT NULL) WHERE wi > 0 ORDER BY doc_id")))((s, dir) => {
      // Flesch reading ease + FK grade from three regex run counts and
      // fixed 1e-6-grid double arithmetic — map-only, mirrored verbatim
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      docs.select(col("doc_id"), TextAnalysis.readability(col("text")).as("r"))
        .filter(col("r").isNotNull)
        .select(col("doc_id"), col("r.words").as("words"),
          col("r.sentences").as("sentences"), col("r.syllables").as("syllables"),
          col("r.flesch").as("flesch"), col("r.fk_grade").as("fk_grade"))
        .orderBy("doc_id")
    }),
    Case("q_gopher_rules", Oracle(
      // Gopher §A1.1 signals over the synthesized structured text; every
      // fraction uses the cross-engine floor(x*1e6+0.5)/1e6 rounding
      (s"WITH t0 AS (SELECT doc_id, $StructuredDocSql AS t FROM documents), " +
        "t1 AS (SELECT doc_id, t, " +
        "list_filter(regexp_split_to_array(t, '\\s+'), w -> len(w) > 0) AS ws, " +
        "list_filter(regexp_split_to_array(lower(t), '\\s+'), w -> len(w) > 0) AS wl, " +
        "list_filter(regexp_split_to_array(t, chr(10)), l -> len(trim(l)) > 0) AS ls FROM t0), " +
        "t2 AS (SELECT doc_id, len(ws) AS word_count, " +
        "CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS mean_word_len, " +
        "CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor(CAST(len(regexp_extract_all(t, '#|\\.\\.\\.')) AS DOUBLE) / CAST(len(ws) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS symbol_ratio, " +
        "CASE WHEN len(ls) = 0 THEN 0.0 ELSE floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '^\\s*[-•*] '))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS bullet_frac, " +
        "CASE WHEN len(ls) = 0 THEN 0.0 ELSE floor(CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS ellipsis_frac, " +
        "CASE WHEN len(ws) = 0 THEN 0.0 ELSE floor(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS alpha_frac, " +
        "len(list_intersect(list_distinct(wl), ['the','be','to','of','and','that','have','with'])) AS stop_hits FROM t1) " +
        "SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, stop_hits, " +
        "(word_count >= 50 AND word_count <= 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 " +
        "AND bullet_frac < 0.9 AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8 AND stop_hits >= 2) AS keep " +
        "FROM t2 ORDER BY doc_id")))((s, dir) => {
      // documents.parquet text is single-line word soup, so the query first
      // gives it deterministic structure (lines, punctuation, bullets,
      // ellipses, boilerplate markers — the q_redact synthesis pattern,
      // mirrored verbatim in the oracle) so every Gopher rule branch fires
      val docs = T(s, dir, "documents").withColumn("t", structuredDoc)
      docs.select(col("doc_id"),
        QualityRules.wordCount(col("t")).as("word_count"),
        QualityRules.meanWordLength(col("t")).as("mean_word_len"),
        QualityRules.symbolWordRatio(col("t")).as("symbol_ratio"),
        QualityRules.bulletLineFraction(col("t")).as("bullet_frac"),
        QualityRules.ellipsisLineFraction(col("t")).as("ellipsis_frac"),
        QualityRules.alphaWordFraction(col("t")).as("alpha_frac"),
        QualityRules.gopherStopwordMatches(col("t")).as("stop_hits"),
        QualityRules.gopherKeep(col("t")).as("keep"))
        .orderBy("doc_id")
    }),
    Case("q_c4_clean", Oracle(
      (s"WITH t0 AS (SELECT doc_id, $StructuredDocSql AS t FROM documents), " +
        "t1 AS (SELECT doc_id, t, " +
        "array_to_string(list_filter(regexp_split_to_array(t, chr(10)), l -> " +
        "regexp_matches(trim(l), '[.!?\"]$') " +
        "AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> len(w) > 0)) >= 5 " +
        "AND NOT regexp_matches(lower(l), 'javascript')), chr(10)) AS cleaned FROM t0) " +
        "SELECT doc_id, cleaned, " +
        "(len(regexp_extract_all(cleaned, '[.!?]')) >= 3 " +
        "AND NOT contains(lower(t), 'lorem ipsum') " +
        "AND NOT contains(t, '{')) AS keep " +
        "FROM t1 ORDER BY doc_id")))((s, dir) => {
      val docs = T(s, dir, "documents").withColumn("t", structuredDoc)
      val cleaned = QualityRules.c4CleanLines(col("t"))
      docs.select(col("doc_id"), cleaned.as("cleaned"),
        QualityRules.c4Keep(col("t"), cleaned).as("keep"))
        .orderBy("doc_id")
    }),
    Case("q_ngram_repetition", Oracle(
      // struct-max tiebreak: DuckDB compares {'cnt','gram'} structs in field
      // order, exactly like Spark's array_max over struct(cnt, gram)
      ("WITH b AS (SELECT doc_id, text, " +
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 0) AS ws FROM documents), " +
        "g AS (SELECT doc_id, text, " +
        "CASE WHEN len(ws) < 2 THEN [] ELSE list_transform(generate_series(1, len(ws)-1), i -> array_to_string(ws[i:i+1], ' ')) END AS g2, " +
        "CASE WHEN len(ws) < 3 THEN [] ELSE list_transform(generate_series(1, len(ws)-2), i -> array_to_string(ws[i:i+2], ' ')) END AS g3 FROM b), " +
        "m AS (SELECT doc_id, text, g2, g3, " +
        "list_aggregate(list_transform(list_distinct(g2), d -> {'cnt': len(list_filter(g2, x -> x = d)), 'gram': d}), 'max') AS best2, " +
        "list_sum(list_transform(list_distinct(g3), d -> CASE WHEN len(list_filter(g3, x -> x = d)) > 1 THEN len(list_filter(g3, x -> x = d)) * len(d) ELSE 0 END)) AS dup3 FROM g) " +
        "SELECT doc_id, " +
        "CASE WHEN len(g2) = 0 OR length(text) = 0 THEN 0.0 ELSE floor(CAST(best2.cnt AS DOUBLE) * CAST(len(best2.gram) AS DOUBLE) / CAST(length(text) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS top2_frac, " +
        "CASE WHEN len(g3) = 0 OR length(text) = 0 THEN 0.0 ELSE floor(CAST(dup3 AS DOUBLE) / CAST(length(text) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS dup3_frac " +
        "FROM m ORDER BY doc_id")))((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"),
        QualityRules.topNgramCharFraction(col("text"), 2).as("top2_frac"),
        QualityRules.dupNgramCharFraction(col("text"), 3).as("dup3_frac"))
        .orderBy("doc_id")
    }),
    Case("q_confusables", Oracle {
      // identical unicode-aware translate, mapping strings generated
      // from Confusables.pairs (apostrophe/backslash land in toChars via
      // the fullwidth block — escape for the SQL literal)
      def lit1(s: String) = "'" + s.replace("'", "''") + "'"
      val from = lit1(graft.ops.Confusables.fromChars)
      val to = lit1(graft.ops.Confusables.toChars)
      "WITH d AS (SELECT doc_id, " +
        "(CASE WHEN doc_id % 2 = 0 THEN translate(text, 'ao', 'аο') ELSE text END) || " +
        "(CASE WHEN doc_id % 3 = 0 THEN '　ｈｅｌｌｏ！' ELSE '' END) AS t " +
        "FROM documents WHERE text IS NOT NULL) " +
        s"SELECT doc_id, translate(t, $from, $to) AS skeleton, " +
        s"translate(t, $from, $to) <> t AS spoofed FROM d ORDER BY doc_id"
    })((s, dir) => {
      // homoglyph skeleton (r12): %2 docs get Cyrillic-а/Greek-ο
      // laundering, %3 docs a fullwidth suffix; the skeleton must undo
      // exactly the covered classes and the spoof flag must fire on
      // precisely the rows whose text changed. The oracle's translate
      // mapping is generated from Confusables.pairs — one source of truth.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val corrupt = concat(
        when(col("doc_id") % 2 === 0,
          translate(col("text"), "ao", "аο")).otherwise(col("text")),
        when(col("doc_id") % 3 === 0,
          lit("　ｈｅｌｌｏ！")).otherwise(lit("")))
      docs.select(col("doc_id"),
          graft.ops.Confusables.skeleton(corrupt).as("skeleton"),
          graft.ops.Confusables.isSpoofed(corrupt).as("spoofed"))
        .orderBy("doc_id")
    }),
    Case("q_script_mix", Oracle(
      // identical \x{...} character classes in RE2; dominant script =
      // first class in declaration order hitting the max, zero → 'none'
      ("WITH d AS (SELECT doc_id, text || CASE doc_id % 4 WHEN 0 THEN ' дом мир' WHEN 1 THEN ' 漢字文' " +
        "WHEN 2 THEN ' كتاب' ELSE ' かなカナ' END AS t FROM documents), " +
        "c AS (SELECT doc_id, " +
        "CAST(len(regexp_extract_all(t, '[A-Za-z\\x{00C0}-\\x{024F}]')) AS BIGINT) AS n_latin, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0400}-\\x{04FF}]')) AS BIGINT) AS n_cyrillic, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0370}-\\x{03FF}]')) AS BIGINT) AS n_greek, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0600}-\\x{06FF}]')) AS BIGINT) AS n_arabic, " +
        "CAST(len(regexp_extract_all(t, '[\\x{0900}-\\x{097F}]')) AS BIGINT) AS n_devanagari, " +
        "CAST(len(regexp_extract_all(t, '[\\x{4E00}-\\x{9FFF}]')) AS BIGINT) AS n_cjk, " +
        "CAST(len(regexp_extract_all(t, '[\\x{3040}-\\x{30FF}]')) AS BIGINT) AS n_kana, " +
        "CAST(len(regexp_extract_all(t, '[\\x{AC00}-\\x{D7AF}]')) AS BIGINT) AS n_hangul, " +
        "CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digit FROM d), " +
        "g AS (SELECT *, greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_devanagari, n_cjk, n_kana, n_hangul, n_digit) AS mx FROM c) " +
        "SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, n_kana, n_digit, " +
        "CASE WHEN mx = 0 THEN 'none' WHEN n_latin = mx THEN 'latin' WHEN n_cyrillic = mx THEN 'cyrillic' " +
        "WHEN n_greek = mx THEN 'greek' WHEN n_arabic = mx THEN 'arabic' WHEN n_devanagari = mx THEN 'devanagari' " +
        "WHEN n_cjk = mx THEN 'cjk' WHEN n_kana = mx THEN 'kana' WHEN n_hangul = mx THEN 'hangul' ELSE 'digit' END AS script " +
        "FROM g ORDER BY doc_id")))((s, dir) => {
      // per-doc script profile over synthesized multi-script suffixes
      // (testdata text is ASCII): each doc gains a per-residue sample of
      // Cyrillic/CJK/Arabic/kana text so every class exercises on real
      // rows; the oracle runs the SAME \x{...} character classes (the
      // escape parses identically in Java regex and RE2)
      val t = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" дом мир"))
          .when(col("doc_id") % 4 === 1, lit(" 漢字文"))
          .when(col("doc_id") % 4 === 2, lit(" كتاب"))
          .otherwise(lit(" かなカナ")))
      // materialize the 9-regex counts struct ONCE, then extract fields
      // and run the tie-break over the struct column — each class scans
      // each row exactly once (see dominantScriptFromCounts scaladoc)
      T(s, dir, "documents")
        .withColumn("__sc", TextAnalysis.scriptCounts(t))
        .select(col("doc_id"),
          col("__sc.latin").as("n_latin"),
          col("__sc.cyrillic").as("n_cyrillic"),
          col("__sc.cjk").as("n_cjk"),
          col("__sc.arabic").as("n_arabic"),
          col("__sc.kana").as("n_kana"),
          col("__sc.digit").as("n_digit"),
          TextAnalysis.dominantScriptFromCounts(col("__sc")).as("script"))
        .orderBy("doc_id")
    }),
    Case("q_lang_id", Oracle(
      ("WITH t AS (SELECT doc_id, text IS NULL AS tnull, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents), " +
        "h AS (SELECT doc_id, tnull, " +
        "len(list_filter(toks, x -> x IN ('der','die','und','in','den','von','zu','das','mit','sich'))) AS h_de, " +
        "len(list_filter(toks, x -> x IN ('the','of','and','a','to','in','is','it','that','for'))) AS h_en, " +
        "len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','se','no'))) AS h_es, " +
        "len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','en','un','du','une'))) AS h_fr, " +
        "len(list_filter(toks, x -> x IN ('的','了','在','是','我','有','和','就','不','人'))) AS h_zh FROM t) " +
        "SELECT doc_id, CASE WHEN tnull THEN NULL WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'und' " +
        "ELSE list_sort([{'h': h_de, 'l': 'de'}, {'h': h_en, 'l': 'en'}, {'h': h_es, 'l': 'es'}, " +
        "{'h': h_fr, 'l': 'fr'}, {'h': h_zh, 'l': 'zh'}])[-1].l END AS guess " +
        "FROM h ORDER BY doc_id")))((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("guess"))
        .orderBy("doc_id")
    }),
    // ---- tokens, vocabulary and language models -------------------------
    Case("q_bpe_tokens", Oracle(
      // generated from the SAME committed merge Seq as the Spark query;
      // DuckDB's replace is greedy-left like Java's, reproducing BPE's
      // leftmost-first overlap resolution exactly
      (s"SELECT doc_id, CAST(coalesce(list_sum(list_transform(" +
        "list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 0), " +
        s"w -> len(string_split(${bpeApplySql("w")}, ' ')))), 0) AS BIGINT) AS n_bpe " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      // real BPE subword counts under the committed 16-merge vocabulary
      T(s, dir, "documents").select(col("doc_id"),
        graft.ops.Bpe.tokenCount(col("text"), BpeMerges).as("n_bpe"))
        .orderBy("doc_id")
    }),
    Case("q_lexical", Oracle(
      // same tokenizer, same type-table aggregate, same 1e-6 floors
      ("WITH t AS (SELECT term, count(*) AS n FROM (" +
        "SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
        "FROM documents WHERE text IS NOT NULL) GROUP BY term) " +
        "SELECT CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types, " +
        "CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, " +
        "floor(CAST(count(*) AS DOUBLE)/sum(n)*1e6)/1e6 AS ttr, " +
        "floor(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)/count(*)*1e6)/1e6 AS hapax_ratio " +
        "FROM t")))((s, dir) => {
      // corpus vocabulary audit: tokens/types/hapax + TTR + hapax share
      // (a template-heavy corpus runs unnaturally low on hapax)
      graft.ops.TextAnalysis.lexicalDiversity(T(s, dir, "documents"), "text")
    }),
    Case("q_token_count", Oracle(
      ("SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_ws, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subword " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws"),
        TextAnalysis.subwordCount(col("text")).as("n_subword"))
        .orderBy("doc_id")
    }),
    Case("q_tfidf", Oracle(
      // identical term extraction, smooth idf ln((1+N)/(1+df))+1, identical
      // 1e-6 floor-rounding BEFORE ranking, term-asc tiebreak
      ("WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2), " +
        "nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf), " +
        "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "sc AS (SELECT tf.doc_id, tf.term, tf.tf, " +
        "tf.tf * (ln((1.0 + n) / (1.0 + df)) + 1.0) AS raw " +
        "FROM tf JOIN dfreq USING (term) CROSS JOIN nn) " +
        "SELECT doc_id, term, tf, floor(raw * 1000000.0 + 0.5) / 1000000.0 AS tfidf, " +
        "CAST(row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY floor(raw * 1000000.0 + 0.5) / 1000000.0 DESC, term) AS INTEGER) AS rk " +
        "FROM sc QUALIFY rk <= 3 ORDER BY doc_id, rk")))((s, dir) => {
      // smooth-idf TF-IDF keyword profile, top 3 terms per document;
      // scores floor-rounded to 1e-6 BEFORE ranking (the bm25 idiom) with
      // term-asc tiebreak so cross-engine ulp drift cannot reorder
      Retrieval.tfidfTopK(T(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rk")
    }),
    Case("q_unigram_ll", Oracle(
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "t2 AS (SELECT doc_id, token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "tot AS (SELECT SUM(n) AS total FROM cnt), " +
        "vocab AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp " +
        "FROM cnt ORDER BY n DESC, token LIMIT 25) " +
        "SELECT doc_id, COUNT(*) AS n_tok, " +
        "floor(avg(coalesce(v.logp, -20.0)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM t2 LEFT JOIN vocab v USING (token) GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // CCNet-style perplexity filter: score docs by mean token log-prob
      // under the corpus's own top-25 unigram vocab (broadcast model,
      // map-side lookup, one id-keyed exchange)
      val docs = T(s, dir, "documents")
      val vocab = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.unigramLogLikelihood(docs, "doc_id", "text", vocab,
        oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    Case("q_perplexity_buckets", Oracle(
      // q_unigram_ll's scoring mirror + per-lang quantile_cont terciles
      // (the q_quantiles-proven exact-percentile equivalence), identical
      // 1e-6 rounding on both the boundaries and ll, null-safe lang join
      ("WITH toks AS (SELECT doc_id, lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL), " +
        "t2 AS (SELECT doc_id, lang, token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "tot AS (SELECT SUM(n) AS total FROM cnt), " +
        "vocab AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp " +
        "FROM cnt ORDER BY n DESC, token LIMIT 25), " +
        "scored AS (SELECT doc_id, lang, COUNT(*) AS n_tok, " +
        "floor(avg(coalesce(v.logp, -20.0)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM t2 LEFT JOIN vocab v USING (token) GROUP BY doc_id, lang), " +
        "b AS (SELECT lang, floor(quantile_cont(ll, CAST(1 AS DOUBLE) / 3) * 1e6 + 0.5) / 1e6 AS p33, " +
        "floor(quantile_cont(ll, CAST(2 AS DOUBLE) / 3) * 1e6 + 0.5) / 1e6 AS p67 FROM scored GROUP BY lang) " +
        "SELECT s.doc_id, s.lang, s.n_tok, s.ll, " +
        "CASE WHEN s.ll >= b.p67 THEN 'head' WHEN s.ll >= b.p33 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM scored s JOIN b ON s.lang IS NOT DISTINCT FROM b.lang ORDER BY s.doc_id")))((s, dir) => {
      // CCNet head/middle/tail bucketing (r11): per-LANG tercile
      // boundaries over the corpus's own ll distribution, exact
      // interpolated percentile (the quantile_cont-mirrorable form;
      // percentile_approx is the documented corpus-scale escape),
      // boundaries and ll both 1e-6-rounded BEFORE comparison so
      // interpolation ulp cannot flip a boundary doc's bucket
      val docs = T(s, dir, "documents")
      val vocab = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.perplexityTerciles(docs, "doc_id", "text", "lang",
        vocab, oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    Case("q_bigram_ll", Oracle(
      // full stupid-backoff mirror: identical tokenization, bigram
      // conditional MLE over a per-w1 window total, top-50/top-25 vocab
      // with deterministic tie-breaks, ln(0.4) backoff penalty, -20 OOV,
      // 1e-6 floor-round — no exp anywhere, so the mirror is exact
      ("WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS a " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pos AS (SELECT doc_id, unnest(generate_series(1, len(a))) AS i, a FROM d WHERE len(a) >= 1), " +
        "tp AS (SELECT doc_id, CASE WHEN i = 1 THEN NULL ELSE a[i-1] END AS w1, a[i] AS w2 FROM pos), " +
        "bc AS (SELECT w1, w2, COUNT(*) AS n FROM tp WHERE w1 IS NOT NULL GROUP BY 1, 2), " +
        "bctx AS (SELECT w1, w2, n, SUM(n) OVER (PARTITION BY w1) AS ctx FROM bc), " +
        "bv AS (SELECT w1, w2, ln(CAST(n AS DOUBLE) / CAST(ctx AS DOUBLE)) AS lb " +
        "FROM bctx ORDER BY n DESC, w1, w2 LIMIT 50), " +
        "uc AS (SELECT w2 AS token, COUNT(*) AS n FROM tp GROUP BY 1), " +
        "ut AS (SELECT SUM(n) AS total FROM uc), " +
        "uv AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM ut)) AS lu " +
        "FROM uc ORDER BY n DESC, token LIMIT 25) " +
        "SELECT tp.doc_id, COUNT(*) AS n_tok, " +
        "floor(avg(coalesce(bv.lb, CASE WHEN tp.w1 IS NULL THEN coalesce(uv.lu, -20.0) " +
        "ELSE ln(0.4) + coalesce(uv.lu, -20.0) END)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM tp LEFT JOIN bv ON tp.w1 = bv.w1 AND tp.w2 = bv.w2 " +
        "LEFT JOIN uv ON tp.w2 = uv.token " +
        "GROUP BY tp.doc_id ORDER BY tp.doc_id")))((s, dir) => {
      // bigram LM with stupid backoff (Brants et al. '07): corpus-built
      // top-50 bigram + top-25 unigram models, broadcast lookups,
      // exactly SQL-mirrorable because backoff never mixes probabilities
      val docs = T(s, dir, "documents")
      val bi = graft.ops.LmScore.bigramVocab(docs, "text", k = 50)
      val uni = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.bigramLogLikelihood(docs, "doc_id", "text", bi, uni,
        backoff = 0.4, oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    Case("q_collocations", Oracle(
      // exact PMI mirror: same tokenization, same division tree inside
      // the ln, same 1e-6 floor-round before the (pmi, w1, w2) total
      // order, same minCount floor
      ("WITH d AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS a " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pos AS (SELECT unnest(generate_series(1, len(a))) AS i, a FROM d WHERE len(a) >= 1), " +
        "tp AS (SELECT CASE WHEN i = 1 THEN NULL ELSE a[i-1] END AS w1, a[i] AS w2 FROM pos), " +
        "uni AS (SELECT w2 AS token, COUNT(*) AS cu FROM tp GROUP BY 1), " +
        "ut AS (SELECT CAST(SUM(cu) AS DOUBLE) AS t FROM uni), " +
        "bi AS (SELECT w1, w2, COUNT(*) AS n FROM tp WHERE w1 IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) >= 5), " +
        "bt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t2 FROM tp WHERE w1 IS NOT NULL) " +
        "SELECT bi.w1, bi.w2, bi.n, " +
        "floor(ln((bi.n / bt.t2) / ((u1.cu / ut.t) * (u2.cu / ut.t))) * 1e6 + 0.5) / 1e6 AS pmi " +
        "FROM bi JOIN uni u1 ON bi.w1 = u1.token JOIN uni u2 ON bi.w2 = u2.token " +
        "CROSS JOIN ut CROSS JOIN bt " +
        "ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT 40")))((s, dir) => {
      // PMI collocation mining (Church & Hanks): top-40 bigrams at
      // minCount 5, PMI floor-rounded to 6 dp BEFORE ranking so the SQL
      // mirror orders identically
      graft.ops.LmScore.collocations(T(s, dir, "documents"), "text",
        k = 40, minCount = 5L)
    }),
    Case("q_kn_bigram", Oracle(
      // KN mirror: max(n−D,0)/ctx + D·nsucc/ctx·(npred/types), the same
      // operand order, then the 1e-6 floor and the (n, w1, w2) total order
      ("WITH d AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS a " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pos AS (SELECT unnest(generate_series(1, len(a) - 1)) AS i, a FROM d WHERE len(a) >= 2), " +
        "bi AS (SELECT a[i] AS w1, a[i+1] AS w2, COUNT(*) AS n FROM pos GROUP BY 1, 2), " +
        "tt AS (SELECT COUNT(*) AS t FROM bi), " +
        "st AS (SELECT w1, w2, n, SUM(n) OVER (PARTITION BY w1) AS ctx, " +
        "COUNT(*) OVER (PARTITION BY w1) AS nsucc, " +
        "COUNT(*) OVER (PARTITION BY w2) AS npred FROM bi) " +
        "SELECT w1, w2, n, floor((greatest(CAST(n AS DOUBLE) - 0.75, 0.0) / ctx " +
        "+ 0.75 * CAST(nsucc AS DOUBLE) / ctx * (CAST(npred AS DOUBLE) / t)) * 1e6 + 0.5) / 1e6 AS p_kn " +
        "FROM st CROSS JOIN tt ORDER BY n DESC, w1, w2 LIMIT 150")))((s, dir) => {
      // interpolated Kneser–Ney bigram model (r12): top-150 bigrams,
      // D = 0.75; context totals, successor/predecessor type counts and
      // the type total all mirror as SQL aggregates, p_kn on the 1e-6
      // grid after the identical double expression
      graft.ops.LmScore.knBigramModel(T(s, dir, "documents"), "text",
        k = 150)
    }),
    Case("q_dsir", Oracle(
      ("WITH t2 AS (SELECT doc_id, lang, token FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token " +
        "FROM documents WHERE text IS NOT NULL) WHERE len(token) > 0), " +
        "ct AS (SELECT token, COUNT(*) AS n FROM t2 WHERE lang = 'en' GROUP BY token), " +
        "vt AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(SUM(n) AS DOUBLE) FROM ct)) AS lt FROM ct ORDER BY n DESC, token LIMIT 25), " +
        "cb AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "vb AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(SUM(n) AS DOUBLE) FROM cb)) AS lb FROM cb ORDER BY n DESC, token LIMIT 25) " +
        "SELECT doc_id, COUNT(*) AS n_tok, " +
        "floor((avg(coalesce(vt.lt, -20.0)) - avg(coalesce(vb.lb, -20.0))) * 1e6 + 0.5) / 1e6 AS log_ratio " +
        "FROM t2 LEFT JOIN vt USING (token) LEFT JOIN vb USING (token) " +
        "GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // DSIR importance weights: target model from en docs, base from the
      // whole corpus; log-domain ratio so the only transcendental is ln
      val docs = T(s, dir, "documents")
      val vt = graft.ops.LmScore.unigramVocab(docs.filter(col("lang") === "en"), "text", k = 25)
      val vb = graft.ops.LmScore.unigramVocab(docs, "text", k = 25)
      graft.ops.LmScore.importanceWeights(docs, "doc_id", "text", vt, vb,
        oovLogp = -20.0)
        .orderBy("doc_id")
    }),
    Case("q_chunk", Oracle(
      // stride 24 = 32 − 8; chunk count in exact integer arithmetic with
      // the clamped dividend (greatest 0) so // and div agree
      ("WITH d AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d), " +
        "g AS (SELECT doc_id, toks, n, unnest(generate_series(CAST(0 AS BIGINT), (greatest(n - 32, 0) + 23) // 24)) AS chunk_idx FROM c) " +
        "SELECT doc_id, chunk_idx, array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text, " +
        "least(32, n - chunk_idx * 24) AS n_tok FROM g ORDER BY doc_id, chunk_idx")))((s, dir) => {
      // context-window segmentation: 32-token chunks with 8-token overlap
      // (stride 24) — map-only, no shuffle (plan-asserted in ChunkingSpec)
      graft.ops.Chunking.chunkByTokens(T(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    }),
    Case("q_pack_sequences", Oracle(
      // global window cumsum (fine at 500 rows; the ENGINE runs the
      // scale-safe two-phase form this mirrors)
      // DuckDB sum() widens BIGINT to HUGEINT; the gate hash is
      // dtype-sensitive, so the cumsum must be cast back explicitly.
      ("SELECT doc_id, n_tokens, CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT) AS seq_id " +
        "FROM (SELECT doc_id, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL) t ORDER BY doc_id")))((s, dir) => {
      // token-budget packing via the two-phase distributed prefix sum;
      // DuckDB mirrors with a plain global window cumsum — boundary
      // independence of the prefix sum makes the two formulations equal
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Sampling.packSequences(docs, "doc_id", "n_tokens", 512)
        .select(col("doc_id"), col("n_tokens"), col("seq_id"))
        .orderBy("doc_id")
    }),
    // ---- markup, redaction and tagging ----------------------------------
    Case("q_html_text", Oracle(
      // closed-form EXPECTED extracted text (not an extractor mirror)
      ("SELECT doc_id, " +
        "CASE doc_id % 5 " +
        "WHEN 0 THEN 'T' || chr(10) || 'Hello' || chr(10) || 'World & friends' " +
        "WHEN 1 THEN 'A B C' " +
        "WHEN 2 THEN 'X1 < 2 & \"raw\"Y AB ©' " +
        "WHEN 3 THEN 'Only this' " +
        "ELSE 'Line1' || chr(10) || 'Line2' || chr(10) || 'Line3 bold &lt;tag&gt;' END " +
        "|| chr(10) || 'uniq' || CAST(doc_id AS VARCHAR) AS text_extracted " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      // synthesized markup sweeps every extraction stage: subtree drops
      // (script/style), comments, CDATA, block-tag newlines, inline-tag
      // spaces, named/decimal/hex entities, nbsp collapse, no-double-
      // decode. Oracle states the EXPECTED extracted text in closed form.
      val docs = T(s, dir, "documents")
      val html = concat(
        when(col("doc_id") % 5 === 0, lit("<html><head><title>T</title>" +
            "<style>p{color:red}</style></head><body><h1>Hello</h1>" +
            "<p>World &amp; friends</p></body></html>"))
          .when(col("doc_id") % 5 === 1,
            lit("<div>A<!-- hidden <b>x</b> -->B<span>C</span></div>"))
          .when(col("doc_id") % 5 === 2,
            lit("<p>X<![CDATA[1 < 2 & \"raw\"]]>Y &#65;&#x42; &copy;</p>"))
          .when(col("doc_id") % 5 === 3, lit("<script type=\"text/js\">" +
            "var a=\"<p>no</p>\";</script>Only&nbsp;this"))
          .otherwise(lit("Line1<br/>Line2<hr>Line3 <b>bold &amp;lt;tag&amp;gt;</b>")),
        lit("<p>uniq"), col("doc_id").cast("string"), lit("</p>"))
      docs.select(col("doc_id"), Html.htmlToText(html).as("text_extracted"))
        .orderBy("doc_id")
    }),
    Case("q_boilerplate_domain", Oracle(
      ("WITH d AS (SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL), " +
        "l AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM d), " +
        "f AS (SELECT source, u FROM l GROUP BY source, u HAVING COUNT(DISTINCT doc_id) >= 10), " +
        "k AS (SELECT l.doc_id, l.pos, l.u FROM l LEFT JOIN f ON l.source IS NOT DISTINCT FROM f.source AND l.u = f.u WHERE f.u IS NULL) " +
        "SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM k GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // RefinedWeb-accurate form: frequency counted within each doc's own
      // source — a unit strips only where IT is domain-boilerplate
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      graft.ops.Boilerplate.removeFrequentLinesByStratum(docs, "doc_id",
        "source", "text", minDocs = 10, delim = " ", joinSep = " ")
        .orderBy("doc_id")
    }),
    Case("q_boilerplate", Oracle(
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "th AS (SELECT CAST(ceil(0.6 * COUNT(*)) AS BIGINT) AS v FROM d), " +
        "l AS (SELECT doc_id, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM d), " +
        "f AS (SELECT u FROM l GROUP BY u HAVING COUNT(DISTINCT doc_id) >= (SELECT v FROM th)), " +
        "k AS (SELECT doc_id, pos, u FROM l WHERE u NOT IN (SELECT u FROM f)) " +
        "SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM k GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // cross-document boilerplate removal at token granularity (the
      // corpus has no newlines): units in ≥ 60% of documents strip, the
      // rest reassemble in order. The fractional threshold is computed
      // INSIDE the frequency aggregate (grouping-sets () cell) — no
      // separate count() action, no extra corpus scan.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      Boilerplate.removeFrequentLinesFraction(docs, "doc_id", "text",
        fraction = 0.6, delim = " ", joinSep = " ")
        .orderBy("doc_id")
    }),
    Case("q_redact", Oracle(
      ("WITH t AS (SELECT doc_id, text || ' contact u' || doc_id || '@mail.example.org or +1 555 01' || doc_id " +
        "|| ' at 10.0.' || (doc_id % 256) || '.7 see https://ex' || doc_id || '.org/a/b?x=1' AS t FROM documents) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(t, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}', '<PHONE>', 'g'), " +
        "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS redacted, " +
        "CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~:/?#@!$&()*+,;=%-]*)?')) AS BIGINT) AS n_urls, " +
        "lower(regexp_extract(regexp_extract_all(t, 'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._~:/?#@!$&()*+,;=%-]*)?')[1], " +
        "'https?://([A-Za-z0-9.-]+)', 1)) AS domain " +
        "FROM t ORDER BY doc_id")))((s, dir) => {
      // synthesize one email + phone + IPv4 + URL per doc so the scrub
      // pass exercises every pattern on every row
      val docs = T(s, dir, "documents").withColumn("t",
        concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@mail.example.org or +1 555 01"), col("doc_id"),
          lit(" at 10.0."), col("doc_id") % 256,
          lit(".7 see https://ex"), col("doc_id"), lit(".org/a/b?x=1")))
      docs.select(col("doc_id"),
        TextAnalysis.redactPii(col("t")).as("redacted"),
        size(TextAnalysis.extractUrls(col("t"))).cast("long").as("n_urls"),
        element_at(TextAnalysis.extractDomains(col("t")), 1).as("domain"))
        .orderBy("doc_id")
    }),
    Case("q_tag_keywords", Oracle(
      // per-tag distinct-token intersection over the same [a-z0-9]+
      // token lists; the dictionary folds to lowercase on both sides
      ("WITH d AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "m AS (" +
        "SELECT doc_id, 'perf' AS tag, CAST(len(list_intersect(t, ['fast', 'slow', 'quick'])) AS BIGINT) AS n_matched FROM d " +
        "UNION ALL SELECT doc_id, 'storage', CAST(len(list_intersect(t, ['table', 'row', 'column'])) AS BIGINT) FROM d " +
        "UNION ALL SELECT doc_id, 'ghost', CAST(len(list_intersect(t, ['zzzqqq'])) AS BIGINT) FROM d) " +
        "SELECT doc_id, tag, n_matched FROM m WHERE n_matched >= 2 ORDER BY doc_id, tag")))((s, dir) => {
      // dictionary topic tagging (r12): two real tags whose term lists
      // overlap the corpus vocabulary (minHits=2 so single-term docs
      // don't tag), one never-matching tag (absent from the output), and
      // a case/tokenizer-folding check on the dictionary side
      import s.implicits._
      val docs = T(s, dir, "documents")
      val dict = Seq(("perf", "Fast"), ("perf", "slow"), ("perf", "quick"),
        ("storage", "table"), ("storage", "ROW"), ("storage", "column"),
        ("ghost", "zzzqqq")).toDF("tag", "term")
      TextAnalysis.tagKeywords(docs, "doc_id", "text", dict, "tag", "term",
          minHits = 2)
        .orderBy("doc_id", "tag")
    }),
  )
}

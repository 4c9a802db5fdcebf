package graft.registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkEntry.{T, TR}
import graft.ops.{Layout, Sampling, Sketches}
import graft.registry.Check.{Oracle, RowsOnly}

/** Dataset assembly: splits and sampling, mixtures and budgets, and the
  * end-to-end curation pipelines that compose them. */
private[graft] object CompositeCases {

  /** q_hash_split's named fractions; the oracle derives its hex thresholds
    * from the SAME cumulative scan `Sampling.hashSplit` runs, so double
    * summation quirks (0.8+0.1 ≠ 0.9 exactly) cannot diverge the two. */
  private val HashSplits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val HashSplitCums: Seq[Double] =
    HashSplits.map(_._2).scanLeft(0.0)(_ + _).tail

  /** q_kfold's cumulative fold boundaries — the identical scan
    * `Sampling.kFoldAssign(k = 5)` runs internally. */
  private val KFoldCums: Seq[Double] =
    (0 until 5).map(_ => 1.0 / 5).scanLeft(0.0)(_ + _).tail

  val cases: Seq[Case] = Seq(
    // ---- splits and sampling --------------------------------------------
    Case("q_hash_split", Oracle(
      // lowercase-hex string compare == numeric compare on the first 32
      // hash bits (the q_sample_det pattern), thresholds generated from
      // the same cumulative scan as the Spark side
      (s"SELECT doc_id, CASE WHEN substr(md5('split:' || doc_id), 1, 8) < " +
        s"'${Sampling.fractionThreshold(HashSplitCums(0))}' THEN 'train' " +
        s"WHEN substr(md5('split:' || doc_id), 1, 8) < " +
        s"'${Sampling.fractionThreshold(HashSplitCums(1))}' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id")))((s, dir) => {
      // deterministic train/val/test partition: id-stable, engine-portable
      Sampling.hashSplit(T(s, dir, "documents"), "doc_id", HashSplits)
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    }),
    Case("q_shard_assign", Oracle(
      ("SELECT doc_id, CAST(('0x' || substr(md5('graftshard:' || doc_id), 1, 8))::UBIGINT % 16 AS INTEGER) AS shard, " +
        "md5('graftorder:' || doc_id) AS shard_order FROM documents ORDER BY doc_id")))((s, dir) => {
      // deterministic training-serving shuffle: md5-derived shard +
      // intra-shard order key, bit-for-bit reproducible anywhere
      Layout.assignShards(T(s, dir, "documents"), "doc_id", nShards = 16)
        .select(col("doc_id"), col("shard"), col("shard_order"))
        .orderBy("doc_id")
    }),
    Case("q_temporal_split", Oracle(
      ("SELECT event_id, CASE WHEN ts IS NULL THEN NULL " +
        "WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train' " +
        "WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test' " +
        "ELSE 'embargo' END AS split FROM events " +
        "ORDER BY event_id NULLS FIRST, split NULLS FIRST")))((s, dir) => {
      // leakage-guarded time split (r12): train before Jan 20, a 2-day
      // embargo absorbing the boundary, test after — three labels the
      // oracle restates as timestamp comparisons
      Sampling.temporalSplit(T(s, dir, "events"), "ts",
          cutoff = "2024-01-20 00:00:00", embargo = "2 days")
        .select(col("event_id"), col("split"))
        .orderBy(col("event_id").asc_nulls_first, col("split").asc_nulls_first)
    }),
    Case("q_kfold", Oracle(
      // the q_hash_split pattern with 4 generated thresholds from the
      // identical cumulative scan (fold:salt, string-hex compare)
      (s"SELECT doc_id, CASE " +
        (0 until 4).map(i =>
          s"WHEN substr(md5('fold:' || doc_id), 1, 8) < " +
            s"'${Sampling.fractionThreshold(KFoldCums(i))}' THEN '$i' ").mkString +
        "ELSE '4' END AS fold FROM documents ORDER BY doc_id")))((s, dir) => {
      // deterministic 5-fold CV assignment — id-stable under growth
      graft.ops.Sampling.kFoldAssign(T(s, dir, "documents"), "doc_id", k = 5)
        .select("doc_id", "fold").orderBy("doc_id")
    }),
    Case("q_sample_det", Oracle(
      // 0.25 * 2^32 = 0x40000000; lowercase-hex string compare ==
      // numeric compare on the first 32 hash bits
      "SELECT doc_id FROM documents WHERE substr(md5('graft:' || doc_id), 1, 8) < '40000000' ORDER BY doc_id"))((s, dir) => {
      // deterministic md5-thresholded Bernoulli sample — engine-portable,
      // partitioning-independent (no rand())
      Sampling.deterministicSample(T(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id")).orderBy("doc_id")
    }),
    Case("q_sample_stratified", Oracle(
      ("SELECT doc_id, lang FROM documents WHERE substr(md5('graft:' || doc_id), 1, 8) < " +
        "CASE WHEN lang = 'en' THEN '80000000' WHEN lang = 'de' THEN '1999999a' ELSE '0ccccccd' END " +
        "ORDER BY doc_id")))((s, dir) => {
      // per-stratum mixing rates with a default for unlisted/null strata
      Sampling.stratifiedSample(T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.1), default = 0.05)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    Case("q_weighted_sample", Oracle(
      // u = (hex32 + 1) / 2^32 as in Sampling.weightedSample; priority =
      // round12(ln(u)/w) — the saturation-free A-Res key; rank desc with
      // doc_id tiebreak
      ("WITH d AS (SELECT doc_id, n_chars, " +
        "(CAST(concat('0x', substr(md5('graft:' || doc_id), 1, 8)) AS UBIGINT) + 1) / 4294967296.0 AS u " +
        "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0), " +
        "p AS (SELECT doc_id, floor(ln(u) / CAST(n_chars AS DOUBLE) * 1e12 + 0.5) / 1e12 AS priority FROM d) " +
        "SELECT doc_id, priority FROM (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rk FROM p) " +
        "WHERE rk <= 100 ORDER BY doc_id")))((s, dir) => {
      // Efraimidis–Spirakis weighted sample without replacement, weight =
      // document length; priority ln(u)/w rounded to 12 dp (ln is the one
      // non-IEEE-exact op) so DuckDB ranks identically
      Sampling.weightedSample(
        T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("priority")).orderBy("doc_id")
    }),
    Case("q_cap_stratum", Oracle(
      ("SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER " +
        "(PARTITION BY lang ORDER BY substr(md5('graft:' || doc_id), 1, 8), doc_id) AS rk " +
        "FROM documents) t WHERE rk <= 40 ORDER BY doc_id")))((s, dir) => {
      // domain quota: at most 40 docs per lang, deterministic hash-draw
      // selection (WindowGroupLimit pre-prunes before the exchange)
      Sampling.capPerStratum(T(s, dir, "documents"), "lang", "doc_id", 40)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    // ---- mixtures and budgets -------------------------------------------
    Case("q_coverage_cut", Oracle(
      // decimal mass end-to-end (addition-order-free), one double cast at
      // the edge; explicit ROWS frame (RANGE would merge ties)
      ("WITH kw AS (SELECT l_partkey, CAST(COUNT(*) AS DECIMAL(38,6)) AS w " +
        "FROM lineitem GROUP BY 1), " +
        "t AS (SELECT SUM(w) AS tot FROM kw), " +
        "c AS (SELECT l_partkey, w, SUM(w) OVER (ORDER BY w DESC, l_partkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM kw) " +
        "SELECT l_partkey, CAST(w AS DOUBLE) AS weight, CAST(cum AS DOUBLE) AS cum_weight " +
        "FROM c, t WHERE CAST(cum - w AS DOUBLE) < 0.6 * CAST(tot AS DOUBLE) " +
        "ORDER BY l_partkey")))((s, dir) => {
      // minimal head of part keys covering 60% of lineitem rows — the
      // domain-allowlist primitive; decimal mass, bucketed running sum
      Sketches.coverageCut(T(s, dir, "lineitem"), "l_partkey", 0.6,
          nBuckets = 8)
        .select(col("l_partkey"), col("weight").cast("double").as("weight"),
          col("cum_weight").cast("double").as("cum_weight"))
        .orderBy("l_partkey")
    }),
    Case("q_select_budget", Oracle(
      // same walk as the operator: (n_chars DESC, doc_id) order, decimal
      // token mass, crossing row kept; explicit ROWS frame
      ("WITH d AS (SELECT doc_id, n_chars, CAST(len(list_filter(" +
        "regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS DECIMAL(38,6)) AS c " +
        "FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL AND n_chars IS NOT NULL), " +
        "w AS (SELECT doc_id, n_chars, c, SUM(c) OVER (ORDER BY n_chars DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d) " +
        "SELECT doc_id, CAST(c AS BIGINT) AS toks, CAST(cum AS DOUBLE) AS cum_cost " +
        "FROM w WHERE CAST(cum - c AS DOUBLE) < 5000.0 ORDER BY doc_id")))((s, dir) => {
      // greedy corpus selection: longest documents first until a 5000-
      // token budget is spent (crossing doc kept); decimal cum cost
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("toks", size(filter(split(col("text"), "\\s+"),
          t => length(t) > 0)).cast("long"))
      Sketches.selectByBudget(docs, "doc_id", "n_chars", "toks", 5000.0,
          nBuckets = 8)
        .select(col("doc_id"), col("toks"),
          col("cum_cost").cast("double").as("cum_cost"))
        .orderBy("doc_id")
    }),
    Case("q_budget_per_lang", Oracle(
      ("WITH d AS (SELECT lang, doc_id, n_chars, CAST(len(list_filter(" +
        "regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS DECIMAL(38,6)) AS c " +
        "FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL AND doc_id IS NOT NULL AND n_chars IS NOT NULL), " +
        "w AS (SELECT lang, doc_id, c, SUM(c) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d) " +
        "SELECT lang, doc_id, CAST(c AS BIGINT) AS toks, CAST(cum AS DOUBLE) AS cum_cost " +
        "FROM w WHERE CAST(cum - c AS DOUBLE) < 2000.0 ORDER BY lang, doc_id")))((s, dir) => {
      // per-language token caps: the many-strata regime where a window
      // PARTITIONED BY the stratum is the right plan
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("toks", size(filter(split(col("text"), "\\s+"),
          t => length(t) > 0)).cast("long"))
      Sketches.selectByBudgetPerGroup(docs, "lang", "doc_id", "n_chars",
          "toks", 2000.0)
        .select(col("lang"), col("doc_id"), col("toks"),
          col("cum_cost").cast("double").as("cum_cost"))
        .orderBy("lang", "doc_id")
    }),
    Case("q_temperature_weights", Oracle(
      ("WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang), " +
        "p AS (SELECT lang, n, pow(CAST(n AS DOUBLE), 0.7) AS pw FROM c) " +
        "SELECT lang, n, floor(pw / SUM(pw) OVER () * 1000000.0 + 0.5) / 1000000.0 AS weight " +
        "FROM p ORDER BY lang NULLS FIRST")))((s, dir) => {
      Sampling.temperatureWeights(T(s, dir, "documents"), "lang", 0.7)
        .orderBy("lang")
    }),
    Case("q_interleave", Oracle(
      ("WITH w AS (SELECT doc_id, lang, CASE WHEN lang = 'en' THEN 0.6 WHEN lang = 'de' THEN 0.3 ELSE 0.1 END AS wt, " +
        "substr(md5('graft:' || doc_id), 1, 8) AS draw FROM documents), " +
        "r AS (SELECT doc_id, lang, wt, row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS rk FROM w WHERE wt > 0) " +
        "SELECT doc_id, lang, (CAST(rk AS DOUBLE) * 2.0 - 1.0) / (wt * 2.0) AS vft FROM r " +
        "ORDER BY vft, lang NULLS FIRST, doc_id")))((s, dir) => {
      // weighted-fair-queueing interleave: virtual finish times use only
      // IEEE-exact arithmetic on ranks and literal weights — bit-identical
      // across engines, so the full mixing ORDER is oracle-checked
      Sampling.interleaveByWeight(T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.6, "de" -> 0.3), default = 0.1)
        .select(col("doc_id"), col("lang"), col("vft"))
        .orderBy("vft", "lang", "doc_id")
    }),
    // ---- end-to-end pipelines -------------------------------------------
    Case("q_curation_e2e", Oracle(
      // stage-by-stage mirror: blocklist = even ids (closed form);
      // canonical form stated in closed form; URL dedup / boilerplate /
      // unit keep-first / exact dedup mirrored with the same window +
      // unnest patterns as their standalone oracles. Stage 4 reuses the
      // stage-3 (pos, u) rows: old positions are order-isomorphic to the
      // re-split positions, so the keep-first winner is identical.
      ("WITH base AS (SELECT doc_id, source, " +
        "text || CASE WHEN doc_id % 4 = 0 THEN ' uniq' || CAST(doc_id AS VARCHAR) ELSE '' END AS text, " +
        "'https://' || lower(source) || '.example.com/p/' || CAST(doc_id % 200 AS VARCHAR) AS c " +
        "FROM documents WHERE text IS NOT NULL AND source IS NOT NULL AND doc_id % 2 = 0), " +
        "uniq AS (SELECT doc_id, source, text, c FROM " +
        "(SELECT base.*, row_number() OVER (PARTITION BY c ORDER BY doc_id) AS rk FROM base) t WHERE rk = 1), " +
        "l AS (SELECT doc_id, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM uniq), " +
        "f AS (SELECT u FROM l GROUP BY u HAVING COUNT(DISTINCT doc_id) >= 10), " +
        "k AS (SELECT doc_id, pos, u FROM l WHERE u NOT IN (SELECT u FROM f)), " +
        // keep-first runs at minUnitLength=1: length-0 units (consecutive
        // delimiters) are EXEMPT on the Spark side — never deduplicated —
        // so the mirror dedups only non-empty units and passes empties
        // through (current testdata has none; this keeps the mirror
        // faithful if it ever does)
        "kf AS (SELECT doc_id, pos, u, row_number() OVER (PARTITION BY u ORDER BY doc_id, pos) AS rk FROM k WHERE length(u) >= 1), " +
        "ku AS (SELECT doc_id, pos, u FROM kf WHERE rk = 1 " +
        "UNION ALL SELECT doc_id, pos, u FROM k WHERE length(u) < 1), " +
        "r AS (SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM ku GROUP BY doc_id), " +
        "x AS (SELECT r.doc_id, u2.c, r.text_clean, " +
        "row_number() OVER (PARTITION BY r.text_clean ORDER BY r.doc_id) AS rk " +
        "FROM r JOIN uniq u2 ON r.doc_id = u2.doc_id) " +
        "SELECT doc_id, c AS url_canonical, 'example.com' AS domain, text_clean " +
        "FROM x WHERE rk = 1 ORDER BY doc_id")))((s, dir) => {
      // the FULL first-pass curation composition, ORACLE-checked (unlike
      // q_pipeline_e2e, every stage here is SQL-expressible): blocklist
      // drops all odd docs (*.example.org), canonical-URL dedup collapses
      // the %200 collisions, boilerplate strips corpus-frequent tokens
      // within the (single) surviving domain, unit keep-first scrubs
      // repeats, exact dedup collapses docs made identical by cleaning
      val docs = T(s, dir, "documents")
        .filter(col("text").isNotNull && col("source").isNotNull)
      val url = concat(lit("https://"), col("source"), lit(".Example."),
        when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("ORG")),
        lit("/p/"), (col("doc_id") % 200).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=x")).otherwise(lit("")))
      // every 4th doc carries a unique token: the tiny shared vocabulary
      // is (correctly) all boilerplate at this threshold, so without
      // distinctive tokens the corpus would collapse to ~1 doc and the
      // later stages would see nothing — with them, ~half the
      // URL-dedup survivors keep distinctive text, multi-token docs pin
      // the reassembly order, and the rest still exercise the
      // empty-drop / exact-dedup paths
      val text2 = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" uniq"), col("doc_id").cast("string"))).otherwise(lit("")))
      val crawl = docs.select(col("doc_id"), url.as("url"), text2.as("text"))
      graft.examples.WebCrawlCuration.curate(crawl, Seq("example.org"),
        boilerplateMinDocs = 10L, delim = " ", joinSep = " ")
        .orderBy("doc_id")
    }),
    Case("q_mixture_e2e", Oracle(
      // stage-by-stage mirror of MixturePipeline.assemble, each CTE the
      // corresponding standalone oracle re-stated: vocab/ll =
      // q_unigram_ll (k=10000), chunking = q_chunk at 64/8 (stride 56),
      // weights = q_temperature_weights over CHUNK strata, stratified
      // keep = q_sample_stratified with the hex threshold COMPUTED from
      // the weight (lower(lpad(to_hex(...))) = Spark's %08x), interleave
      // = q_interleave with per-chunk md5 draws, pack = q_pack_sequences
      // cumsum over the vft order (UNIQUE at every SF — the Spark side
      // raise_errors on a tie)
      ("WITH d AS (SELECT * FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token FROM d), " +
        "t2 AS (SELECT doc_id, token FROM toks WHERE len(token) > 0), " +
        "cnt AS (SELECT token, COUNT(*) AS n FROM t2 GROUP BY token), " +
        "tot AS (SELECT SUM(n) AS total FROM cnt), " +
        "vocab AS (SELECT token, ln(CAST(n AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp " +
        "FROM cnt ORDER BY n DESC, token LIMIT 10000), " +
        "scored AS (SELECT doc_id, floor(avg(coalesce(v.logp, -20.0)) * 1e6 + 0.5) / 1e6 AS ll " +
        "FROM t2 LEFT JOIN vocab v USING (token) GROUP BY doc_id), " +
        "kept AS (SELECT d.* FROM d JOIN scored USING (doc_id) WHERE ll >= -3.41 AND ll <= -1.0), " +
        "ck AS (SELECT doc_id, lang, CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n FROM kept), " +
        "g AS (SELECT doc_id, lang, n, unnest(generate_series(CAST(0 AS BIGINT), (greatest(n - 64, 0) + 55) // 56)) AS chunk_idx FROM ck), " +
        "chunks AS (SELECT doc_id, lang, chunk_idx, least(64, n - chunk_idx * 56) AS n_tok, " +
        "doc_id * 1048576 + chunk_idx AS chunk_id FROM g), " +
        "w AS (SELECT lang, COUNT(*) AS cn FROM chunks GROUP BY lang), " +
        "wt AS (SELECT lang, floor(pow(CAST(cn AS DOUBLE), 0.7) / SUM(pow(CAST(cn AS DOUBLE), 0.7)) OVER () * 1000000.0 + 0.5) / 1000000.0 AS weight FROM w), " +
        "sampled AS (SELECT c.*, wt.weight FROM chunks c JOIN wt USING (lang) " +
        "WHERE substr(md5('graft:' || chunk_id), 1, 8) < " +
        "lower(lpad(to_hex(CAST(least(floor(least(1.0, 2.0*weight)*4294967296.0+0.5), 4294967295.0) AS UBIGINT)), 8, '0'))), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY substr(md5('graft:' || chunk_id), 1, 8), chunk_id) AS rk " +
        "FROM sampled WHERE weight > 0), " +
        "v AS (SELECT chunk_id, doc_id, chunk_idx, lang, n_tok, " +
        "(CAST(rk AS DOUBLE) * 2.0 - 1.0) / (weight * 2.0) AS vft FROM r) " +
        "SELECT chunk_id, doc_id, chunk_idx, lang, n_tok, vft, " +
        "CAST((SUM(n_tok) OVER (ORDER BY vft ROWS UNBOUNDED PRECEDING) - n_tok) // 256 AS BIGINT) AS seq_id " +
        "FROM v ORDER BY chunk_id")))((s, dir) => {
      // the FULL mixture-assembly composition ORACLE-checked stage by
      // stage (r16 — graduates COVERAGE row 63 from tests-only, the
      // q_curation_e2e pattern): perplexity band → 64/8 chunking →
      // temperature weights → stratified sample → WFQ interleave → pack.
      // Every stage has its own green mirror (q_unigram_ll, q_chunk,
      // q_temperature_weights, q_sample_stratified, q_interleave,
      // q_pack_sequences); the composition restates them as CTEs. The ll
      // band (-3.41, -1.0) sits inside the corpus's observed ll
      // distribution at every SF so the filter stage drops a real tail.
      // packSequences breaks vft ties by a row hash no SQL can mirror —
      // vft is UNIQUE here at every SF (verified 0.001/0.01/0.1; weights
      // are per-lang distinct so no two strata share a vft series), and
      // the window guard below turns any future tie into a LOUD
      // raise_error instead of a silent hash flap.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val out = graft.examples.MixturePipeline.assemble(docs,
        stratumCol = "lang", chunkTokens = 64, overlap = 8,
        llBand = (-3.41, -1.0), temperature = 0.7, seqBudget = 256L)
      val wv = Window.partitionBy(col("vft"))
      out.withColumn("__c", count(lit(1)).over(wv))
        .select(col("chunk_id"), col("doc_id"), col("chunk_idx"),
          col("lang"), col("n_tok"), col("vft"),
          when(col("__c") === 1, col("seq_id"))
            .otherwise(raise_error(lit("q_mixture_e2e: vft tie — pack " +
              "order not SQL-mirrorable on this corpus")).cast("long"))
            .as("seq_id"))
        .orderBy("chunk_id")
    }),
    Case("q_twopass", RowsOnly)((s, dir) => {
      // the COMPOSED two-pass pipeline (WebCrawlCuration → seam →
      // TrainingDataPipeline) over the real documents table with a
      // synthesized crawl surface: deterministic per-doc URL over 50
      // registrable domains + a per-domain nav line for the boilerplate
      // stage. Rows-only (standard LSH rationale: band-bucket membership
      // is not SQL-mirrorable) — content-pinned in RowsOnlyPinSpec; the
      // per-stage semantics are each oracle-checked by q_curation_e2e /
      // q_pipeline_e2e, and invariance is smoked in tools/TwoPassSmoke.
      val docs = TR(s, dir, "documents")
      val crawl = docs.select(col("doc_id"),
        concat(lit("https://www.crawl"), pmod(col("doc_id"), lit(50)).cast("string"),
          lit(".co.uk/d/"), col("doc_id").cast("string")).as("url"),
        concat(lit("crawl"), pmod(col("doc_id"), lit(50)).cast("string"),
          lit(" home about contact navigation\n"), col("text")).as("text"))
      graft.examples.TwoPassCuration.curate(crawl, Seq("blocked.example.com"))
        .select(col("doc_id"), col("domain"), col("lang_guess"),
          col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),
    Case("q_release_e2e", Oracle {
      // the four proven mirrors chained: token gate, decimal budget walk,
      // md5 shard hash, Horner 60-bit parse + mod-prime checksum
      val horner = (1 to 15).map(i =>
          s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)")
        .reduceLeft((acc, h) => s"($acc * 16 + $h)")
      ("WITH d AS (SELECT doc_id, lang, n_chars, CAST(len(list_filter(" +
        "regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS DECIMAL(38,6)) AS c " +
        "FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL AND n_chars IS NOT NULL), " +
        "g AS (SELECT * FROM d WHERE CAST(c AS BIGINT) >= 30), " +
        "w AS (SELECT doc_id, lang, n_chars, c, SUM(c) OVER (ORDER BY n_chars DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g), " +
        "sel AS (SELECT doc_id, lang, n_chars FROM w WHERE CAST(cum - c AS DOUBLE) < 20000.0), " +
        "sh AS (SELECT doc_id, lang, n_chars, " +
        "CAST(('0x' || substr(md5('graftshard:' || doc_id), 1, 8))::UBIGINT % 8 AS INTEGER) AS shard FROM sel), " +
        "r AS (SELECT shard, md5(concat_ws('|', CAST(doc_id AS VARCHAR), lang, CAST(n_chars AS VARCHAR))) AS m FROM sh), " +
        s"v AS (SELECT shard, CAST($horner AS HUGEINT) AS v FROM r) " +
        "SELECT shard, COUNT(*) AS n_rows, CAST(SUM(v) % 2305843009213693951 AS BIGINT) AS checksum " +
        "FROM v GROUP BY shard ORDER BY shard")
    })((s, dir) => {
      // the full release chain oracled END TO END: word-count gate →
      // budget-greedy selection → deterministic shards → manifest
      graft.examples.DatasetRelease.release(T(s, dir, "documents"),
          minWords = 30, tokenBudget = 20000.0, nShards = 8)
        .orderBy("shard")
    }),
    Case("q_pipeline_e2e", RowsOnly)((s, dir) => {
      graft.examples.TrainingDataPipeline.curate(TR(s, dir, "documents"))
        .select(col("doc_id"), col("lang_guess"), col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    }),
  )
}

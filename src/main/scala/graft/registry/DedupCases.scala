package graft.registry

import org.apache.spark.sql.functions._
import graft.SparkEntry.{T, TR}
import graft.ops.{Dedup, FuzzyJoin, Retrieval, Sampling, Similarity, Sketches, TextAnalysis, Urls}
import graft.registry.Check.Oracle

/** Deduplication and decontamination: exact and unit-level keys, fuzzy
  * matching and clusters, and the minhash/simhash/embedding near-dup
  * paths with their exact-integer SQL mirrors. */
private[graft] object DedupCases {

  /** Crafted lowercase-ASCII base text for q_ngram_jaccard — shared
    * VERBATIM by the Spark query and its DuckDB oracle mirror (no quotes,
    * no escapes, pure ASCII so UTF-16 char units == code points). Varied
    * wording keeps the distinct-5-shingle count near the char count, so
    * small marker differences move Jaccard only slightly. */
  private val NgramBase: String =
    "the river bends east past the old mill where stone walls hold back " +
      "spring floods and herons stalk the shallows at dawn while upstream " +
      "the valley narrows into a gorge of layered shale and pine roots " +
      "grip the cliff face above deep green pools fed by snowmelt from " +
      "the northern ridge where goats graze between lichen covered rocks " +
      "and the trail switchbacks through birch groves toward the summit " +
      "meadow full of gentians and the ruins of a shepherd hut whose " +
      "timbers weathered silver over eighty winters of wind and ice"

  /** q_minhash_oracle's per-sect word blocks — 12 sect-unique tokens, so
    * cross-sect WORD-set Jaccard lands well below the 0.9 threshold (the
    * reject regime) while same-sect representative pairs differ only in
    * their tag token (the accept regime) and same-tag docs are identical
    * (the star regime). Shared VERBATIM with the DuckDB oracle literals
    * (the NgramBase discipline: pure lowercase ASCII, no quoting). */
  private val MinhashSectBlocks: Seq[String] =
    (0 until 5).map(y => (0 until 12).map(i => s"w${i}s$y").mkString(" "))

  /** Mirror of `Kernels.splitmix64` (the minhash affine-family seed
    * derivation) — duplicated here only to embed the A/B constants as
    * literals in the q_ngram_jaccard oracle SQL. */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The shared WITH-prefix of the incremental-dedup mirrors: signatures
    * `sg(doc_id, sig)` of every clamped document via the HUGEINT minhash
    * machinery (FNV-1a per whitespace token mod 2^64, signed MIN of the
    * affine family per slot). Both the batch/single-stream mirror and the
    * multi-batch mirror append their own tails. */
  private[registry] lazy val MinhashSigCtePrefix: String = {
    val two64 = BigInt(1) << 64
    val two63 = BigInt(1) << 63
    val fnvSeed = BigInt("cbf29ce484222325", 16)
    def u(l: Long) = java.lang.Long.toUnsignedString(l)
    val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
      .mkString("[", ", ", "]")
    val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
      .mkString("[", ", ", "]")
    val T64 = s"CAST('$two64' AS HUGEINT)"
    val T63 = s"CAST('$two63' AS HUGEINT)"
    "WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL " +
      "AND octet_length(encode(text)) = length(text) AND length(trim(text)) > 0), " +
      s"th AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0)) AS tok FROM d), " +
      s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
      "list_transform(range(1, length(tok)+1), j -> CAST(unicode(substr(tok, j, 1)) AS HUGEINT))), " +
      "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
      s"% $T64) AS h FROM th), " +
      s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
      "unnest(range(0, 64)) AS t(k)), " +
      s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
      "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
      s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
      "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
      "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id)"
  }

  /** Exact integer mirror of the incremental index path
    * (Kernels.minhashSig over WORD tokens + Dedup.buildSignatureIndex +
    * Dedup.nearDupsAgainstIndex) on the real ASCII corpus: FNV-1a per
    * whitespace token in HUGEINT mod 2^64 (the q_simhash machinery),
    * signed MIN over tokens of (A_k*h + B_k) mod 2^64 per hash slot
    * (the q_ngram_jaccard machinery, 32/32-split product), index =
    * GROUP BY signature / min(doc_id) over doc_id >= 50, batch =
    * doc_id < 50, candidates when ANY of the eight 8-wide signature
    * slices is equal (band membership == slice equality — the engine's
    * xxhash64 band keys are injective here), agreement >= 0.9. Shared by
    * `q_dedup_incremental` (batch) and `q_stream_neardup` (the streaming
    * form, whose bounded single-batch run is the batch twin exactly). */
  private[registry] lazy val DedupIncrementalMirrorSql: String =
    MinhashSigCtePrefix + ", " +
      "idx AS (SELECT sig, MIN(doc_id) AS id_index FROM sg WHERE doc_id >= 50 GROUP BY sig), " +
      "bt AS (SELECT doc_id AS id_new, sig AS sgn FROM sg WHERE doc_id < 50), " +
      "scored AS (SELECT bt.id_new, idx.id_index, " +
      "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN bt.sgn[i + 1] = idx.sig[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
      "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
      "r -> CASE WHEN bt.sgn[bb * 8 + r + 1] = idx.sig[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband " +
      "FROM bt CROSS JOIN idx) " +
      "SELECT id_new, id_index, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.9 " +
      "ORDER BY id_new, id_index"

  val cases: Seq[Case] = Seq(
    // ---- exact and unit-level -------------------------------------------
    Case("q_dedup_exact", Oracle(
      // NULLS FIRST pins DuckDB (default NULLS LAST) to Spark's default
      // ascending order; the compare is positional
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang NULLS FIRST, source NULLS FIRST"))((s, dir) => {
      Dedup.distinctKeys(T(s, dir, "documents"), Seq("lang", "source"))
        .orderBy("lang", "source")
    }),
    Case("q_dedup_units", Oracle(
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "l AS (SELECT doc_id, unnest(string_split(text, ' ')) AS u, " +
        "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos FROM d), " +
        "el AS (SELECT doc_id, pos, u, row_number() OVER (PARTITION BY u ORDER BY doc_id, pos) AS rk " +
        "FROM l WHERE length(u) >= 4), " +
        "k AS (SELECT doc_id, pos, u FROM el WHERE rk = 1 " +
        "UNION ALL SELECT doc_id, pos, u FROM l WHERE length(u) < 4) " +
        "SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS text_clean FROM k " +
        "GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // corpus-wide keep-first unit dedup at token granularity (the corpus
      // has no newlines); units under 4 chars are exempt, exercising the
      // structural-unit carve-out alongside the dedup path
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      Dedup.dedupUnitsKeepFirst(docs, "doc_id", "text",
        delim = " ", joinSep = " ", minUnitLength = 4)
        .orderBy("doc_id")
    }),
    Case("q_dedup_spans", Oracle(
      // algorithm mirror (q_dedup_units style): same tail construction,
      // same tokenization, window keys as the raw window string (Spark
      // md5s it — identical grouping absent collisions), same global
      // (doc_id, pos) keep-first, same anti-join + ordered reassembly
      ("WITH d0 AS (SELECT doc_id, text || ' sp' || CAST(doc_id % 10 AS VARCHAR) || 'a" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'b sp' || CAST(doc_id % 10 AS VARCHAR) || 'c" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'd sp' || CAST(doc_id % 10 AS VARCHAR) || 'e" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'f sp' || CAST(doc_id % 10 AS VARCHAR) || 'g" +
        " sp' || CAST(doc_id % 10 AS VARCHAR) || 'h' AS t2 " +
        "FROM documents WHERE text IS NOT NULL), " +
        "d AS (SELECT doc_id, list_filter(string_split_regex(t2, '\\s+'), x -> length(x) > 0) AS l FROM d0), " +
        "tk AS (SELECT doc_id, unnest(l) AS tok, unnest(generate_series(1, len(l))) AS pos FROM d), " +
        "wn AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 7)) AS wpos FROM d WHERE len(l) >= 8), " +
        "wk AS (SELECT doc_id, wpos, array_to_string(l[wpos : wpos + 7], ' ') AS wkey FROM wn), " +
        "dup AS (SELECT doc_id, wpos, row_number() OVER (PARTITION BY wkey ORDER BY doc_id, wpos) AS rk FROM wk), " +
        "rem AS (SELECT DISTINCT doc_id, rpos FROM " +
        "(SELECT doc_id, unnest(generate_series(wpos, wpos + 7)) AS rpos FROM dup WHERE rk > 1)), " +
        "kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk ANTI JOIN rem " +
        "ON tk.doc_id = rem.doc_id AND tk.pos = rem.rpos) " +
        "SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean " +
        "FROM kept GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // duplicated k-token span excision, ORACLE-CHECKED end to end (the
      // window keys are exact content hashes, not LSH — fully
      // mirrorable): every doc appends a group-shared 8-token tail, so
      // within each doc_id%10 group every doc after the first loses
      // exactly that span (plus whatever real-text windows the corpus
      // happens to repeat — the oracle mirrors the algorithm, so
      // incidental repetition verifies rather than breaks)
      val docs = TR(s, dir, "documents").filter(col("text").isNotNull)
      val g = (col("doc_id") % 10).cast("string")
      val tail = concat_ws(" ", Seq("a", "b", "c", "d", "e", "f", "g", "h")
        .map(x => concat(lit("sp"), g, lit(x))): _*)
      val crafted = docs.select(col("doc_id"),
        concat(col("text"), lit(" "), tail).as("text"))
      Dedup.dedupSpansKeepFirst(crafted, "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),
    Case("q_dedup_normalize", Oracle(
      // [^\p{L}\p{Nd}]+ is exactly the kernel's isLetterOrDigit complement
      // (L* + decimal digits); strip_accents is NFD-based like the kernel
      ("SELECT doc_id, trim(regexp_replace(strip_accents(lower(" +
        "concat('Héllo, WORLD!  Café #', doc_id, ': ', upper(substr(text, 1, 40)), ' ñ-ç…ü')" +
        ")), '[^\\p{L}\\p{Nd}]+', ' ', 'g')) AS norm FROM documents ORDER BY doc_id")))((s, dir) => {
      // accents + case + punctuation synthesized per row; the kernel's
      // lowercase→NFD-strip→collapse pipeline must equal DuckDB's
      // lower→strip_accents→regex-collapse bitwise
      val t = concat(lit("Héllo, WORLD!  Café #"), col("doc_id"), lit(": "),
        upper(substring(col("text"), 1, 40)), lit(" ñ-ç…ü"))
      T(s, dir, "documents").select(col("doc_id"),
        graft.expressions.native.dedupNormalize(t).as("norm"))
        .orderBy("doc_id")
    }),
    Case("q_fingerprint", Oracle("SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      docs.select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    Case("q_url_dedup", Oracle(
      ("WITH t AS (SELECT doc_id, 'https://example.com/item/' || CAST(doc_id % 37 AS VARCHAR) AS c FROM documents), " +
        "r AS (SELECT doc_id, c, row_number() OVER (PARTITION BY c ORDER BY doc_id) AS rk FROM t) " +
        "SELECT doc_id, c AS url_canonical FROM r WHERE rk = 1 ORDER BY doc_id")))((s, dir) => {
      // many URL spellings of the same resource (case, trailing slash,
      // tracking param, fragment) collapse to one canonical form; keep the
      // smallest doc_id per resource
      val docs = T(s, dir, "documents")
      val url = concat(lit("HTTPS://Example.COM/item/"),
        (col("doc_id") % 37).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/?utm_source=x")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("#f")).otherwise(lit("")))
      Urls.dedupByUrl(docs.select(col("doc_id"), url.as("url")), "url", "doc_id")
        .select("doc_id", "url_canonical").orderBy("doc_id")
    }),
    Case("q_bloom_incremental", Oracle(
      ("SELECT doc_id FROM documents WHERE doc_id < 50 AND text IS NOT NULL " +
        "AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id >= 50 AND text IS NOT NULL) " +
        "ORDER BY doc_id")))((s, dir) => {
      // incremental exact dedup through the seen-keys Bloom sketch: the
      // batch splits map-only into certainly-new / needs-verify, only the
      // verify sliver anti-joins the index — and the COMPOSED result is
      // exact (false positives only route rows into the anti-join), so
      // the sketch path gets a full DuckDB oracle despite the bloom bits
      // themselves being engine-internal.
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val index = docs.filter(col("doc_id") >= 50)
      val batch = docs.filter(col("doc_id") < 50)
      val fp = md5(col("text").cast("binary"))
      val bytes = Dedup.seenFilter(index, fp, expectedItems = 100000)
      val (fresh, verify) = Dedup.splitBySeenFilter(batch, bytes, fp)
      val verified = verify.withColumn("__fp", fp)
        .join(index.select(fp.as("__fp")).distinct(), Seq("__fp"), "left_anti")
        .drop("__fp")
      fresh.unionByName(verified).select(col("doc_id")).orderBy("doc_id")
    }),
    Case("q_contamination", Oracle(
      // shingle base is lower(text) on BOTH sides (lowercasing can change
      // string length for some codepoints)
      ("WITH d AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 0) + 2), " +
        "i -> substr(lower(text), CAST(i AS INTEGER), 8))) AS shs FROM documents WHERE doc_id < 50 AND text IS NOT NULL), " +
        "b AS (SELECT DISTINCT s AS sh FROM (SELECT unnest(shs) AS s FROM " +
        "(SELECT list_distinct(list_transform(range(1, greatest(length(lower(text)) - 8, 0) + 2), " +
        "i -> substr(lower(text), CAST(i AS INTEGER), 8))) AS shs FROM documents WHERE doc_id < 3 AND text IS NOT NULL))), " +
        "u AS (SELECT doc_id, unnest(shs) AS sh FROM d) " +
        "SELECT u.doc_id, CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination " +
        "FROM u LEFT JOIN b USING (sh) GROUP BY u.doc_id ORDER BY u.doc_id")))((s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.filter(col("doc_id") < 3).select(col("text").as("bench_text"))
      Dedup.contamination(docs.filter(col("doc_id") < 50), "doc_id", "text",
        bench, "bench_text", k = 8)
        .orderBy("doc_id")
    }),
    Case("q_split_decontam", Oracle(
      // same md5 draw as q_hash_split, same substr shingling as
      // q_contamination; a train doc sharing any shingle with eval drops
      (s"WITH d AS (SELECT doc_id, lower(text) AS lt, " +
        s"CASE WHEN substr(md5('dc:' || doc_id), 1, 8) < '${Sampling.fractionThreshold(0.9)}' " +
        "THEN 'train' ELSE 'eval' END AS split " +
        "FROM documents WHERE doc_id < 300 AND text IS NOT NULL), " +
        "sh AS (SELECT doc_id, split, unnest(list_distinct(list_transform(" +
        "range(1, greatest(length(lt) - 8, 0) + 2), i -> substr(lt, CAST(i AS INTEGER), 8)))) AS sh FROM d), " +
        "ev AS (SELECT DISTINCT sh FROM sh WHERE split = 'eval'), " +
        "dirty AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (sh) WHERE s.split = 'train') " +
        "SELECT doc_id, split FROM d WHERE split = 'eval' " +
        "OR doc_id NOT IN (SELECT doc_id FROM dirty) ORDER BY doc_id")))((s, dir) => {
      // GPT-3-style decontaminated split: hash split, then train docs
      // sharing ANY 8-char shingle with the eval side drop (id clamp
      // bounds the oracle's shingle self-join)
      val d = T(s, dir, "documents")
        .filter(col("doc_id") < 300 && col("text").isNotNull)
      Dedup.decontaminatedSplit(d, "doc_id", "text",
          trainFrac = 0.9, k = 8, salt = "dc")
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    }),
    // ---- fuzzy matching and clusters ------------------------------------
    Case("q_jaccard", Oracle(
      ("WITH s AS (SELECT doc_id, list_distinct(list_transform(range(1, length(lower(text)) - 3), " +
        "i -> substr(lower(text), CAST(i AS INTEGER), 5))) AS sh " +
        "FROM documents WHERE doc_id < 30 AND length(text) >= 5) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) AS j " +
        "FROM s a, s b WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b")))((s, dir) => {
      // exact shingle-set Jaccard on a small id range — the precise
      // counterpart the MinHash estimate approximates (oracle-able)
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 30 && length(col("text")) >= 5)
      val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 5).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
        .orderBy("id_a", "id_b")
    }),
    Case("q_fuzzy_join", Oracle(
      // exhaustive length-filtered all-pairs — the blocking must shed
      // NOTHING against it (losslessness is the operator's claim)
      ("WITH s AS (SELECT doc_id, substr(text, 1, 16) AS p FROM documents WHERE text IS NOT NULL) " +
        "SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(levenshtein(a.p, b.p) AS INTEGER) AS dist " +
        "FROM s a JOIN s b ON a.doc_id < b.doc_id AND abs(length(a.p) - length(b.p)) <= 2 " +
        "AND levenshtein(a.p, b.p) <= 2 ORDER BY id_1, id_2")))((s, dir) => {
      // typo-tolerant pair discovery over 16-char prefixes: lossless
      // q-gram prefix-filter blocking vs the oracle's exhaustive
      // length-filtered all-pairs levenshtein
      val strs = T(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 16).as("s"))
      graft.ops.FuzzyJoin.editDistanceJoin(strs, "doc_id", "s", maxDist = 2)
        .orderBy("id_1", "id_2")
    }),
    Case("q_entity_resolution", Oracle(
      // full mirror: identical key normalization, exhaustive
      // length-filtered levenshtein pairing (the blocking's lossless
      // claim), recursive transitive closure, min-id entity, and
      // per-attribute most-complete-member survivorship (ties by rid)
      ("WITH RECURSIVE c AS (SELECT * FROM customer WHERE c_custkey IS NOT NULL AND c_custkey <= 600), " +
        "r AS (SELECT c_custkey AS rid, 'Entity ' || md5(CAST(c_custkey AS VARCHAR)) AS name, " +
        "c_mktsegment AS segment, CASE WHEN c_custkey % 3 <> 0 THEN c_acctbal END AS bal, " +
        "CAST(NULL AS INTEGER) AS nation FROM c " +
        "UNION ALL SELECT c_custkey + 1000000, " +
        "'entity ' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 31), " +
        "NULL, CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0 END, c_nationkey " +
        "FROM c WHERE c_custkey % 2 = 0), " +
        "k AS (SELECT rid, name, lower(trim(regexp_replace(name, '\\s+', ' ', 'g'))) AS nk, " +
        "segment, bal, nation FROM r), " +
        "p AS (SELECT a.rid AS u, b.rid AS v FROM k a JOIN k b ON a.rid < b.rid " +
        "AND abs(length(a.nk) - length(b.nk)) <= 1 AND levenshtein(a.nk, b.nk) <= 1), " +
        "e AS (SELECT u, v FROM p UNION SELECT v, u FROM p), " +
        "cc(u, v) AS (SELECT u, v FROM e UNION SELECT cc.u, e2.v FROM cc JOIN e e2 ON cc.v = e2.u), " +
        "m AS (SELECT u AS rid, least(u, min(v)) AS rep FROM cc GROUP BY u), " +
        "asg AS (SELECT k.*, coalesce(m.rep, k.rid) AS entity_id, " +
        "(CASE WHEN segment IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN bal IS NOT NULL THEN 1 ELSE 0 END " +
        "+ CASE WHEN nation IS NOT NULL THEN 1 ELSE 0 END) AS comp FROM k LEFT JOIN m USING (rid)) " +
        "SELECT entity_id, count(*) AS n_members, " +
        "(list(name ORDER BY comp DESC, rid) FILTER (WHERE name IS NOT NULL))[1] AS name, " +
        "(list(segment ORDER BY comp DESC, rid) FILTER (WHERE segment IS NOT NULL))[1] AS segment, " +
        "(list(bal ORDER BY comp DESC, rid) FILTER (WHERE bal IS NOT NULL))[1] AS bal, " +
        "(list(nation ORDER BY comp DESC, rid) FILTER (WHERE nation IS NOT NULL))[1] AS nation " +
        "FROM asg GROUP BY entity_id ORDER BY entity_id")))((s, dir) => {
      // golden-record entity resolution (r12): every even customer gets a
      // typo'd duplicate record (distinct md5-derived keys, so distinct
      // customers never false-match; the duplicate drops the key's last
      // char and flips its case = normalized distance 1) with
      // COMPLEMENTARY attributes — survivorship must stitch segment from
      // the base record and nation from the duplicate, and when %3 kills
      // the base's bal the duplicate (then the more complete member)
      // supplies bal+100 AND the canonical key. Odd customers stay
      // singletons. The oracle replays pairing, closure, and per-attr
      // survivorship in full.
      val c = T(s, dir, "customer")
        .filter(col("c_custkey").isNotNull && col("c_custkey") <= 600)
      val base = c.select(col("c_custkey").as("rid"),
        concat(lit("Entity "), md5(col("c_custkey").cast("string"))).as("name"),
        col("c_mktsegment").as("segment"),
        when(col("c_custkey") % 3 =!= 0, col("c_acctbal")).as("bal"),
        lit(null).cast("int").as("nation"))
      val dup = c.filter(col("c_custkey") % 2 === 0).select(
        (col("c_custkey") + 1000000L).as("rid"),
        concat(lit("entity "),
          substring(md5(col("c_custkey").cast("string")), 1, 31)).as("name"),
        lit(null).cast("string").as("segment"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 100.0).as("bal"),
        col("c_nationkey").as("nation"))
      graft.ops.EntityResolution.resolve(base.unionByName(dup), "rid", "name",
          Seq("segment", "bal", "nation"), maxDist = 1)
        .orderBy("entity_id")
    }),
    Case("q_clusters_merge", Oracle(
      // the crafted fixture's merged assignment in closed form: even
      // 8-blocks (doc_id%16 < 8) were bridged -> rep = id - id%8; odd
      // 8-blocks keep the stored 4-block rep; chain nodes 200..205 take
      // rep 200; node 210 attaches to node 3's (bridged, rep 0) cluster
      ("SELECT id, rep FROM (" +
        "SELECT doc_id AS id, CASE WHEN doc_id % 16 < 8 THEN doc_id - doc_id % 8 " +
        "ELSE doc_id - doc_id % 4 END AS rep FROM documents WHERE doc_id < 200 " +
        "UNION ALL SELECT doc_id + 200, CAST(200 AS BIGINT) FROM documents WHERE doc_id < 6 " +
        "UNION ALL SELECT CAST(210 AS BIGINT), CAST(0 AS BIGINT) FROM documents WHERE doc_id = 0" +
        ") ORDER BY id")))((s, dir) => {
      // incremental cluster maintenance ORACLE-checked on a crafted
      // stored+fresh fixture with a CLOSED-FORM merged assignment (r16 —
      // graduates COVERAGE row 66 from tests-only, the
      // q_dedup_incremental pattern): the stored assignment is 4-blocks
      // (rep = id − id%4) over doc_id < 200; fresh pairs bridge the two
      // 4-blocks of every EVEN 8-block (doc_id%16 == 0 → (id, id+4)), so
      // merged rep = id − id%8 on even 8-blocks and the stored rep
      // elsewhere; a batch-vs-batch chain creates new cluster 200..205
      // (rep 200) and a batch-vs-index pair attaches 210 to node 3's
      // cluster (rep 0). Exercises rep stability, cross-cluster merge,
      // and both new-pair classes of the daily-ingest contract.
      val ids = T(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val assignment = ids.select(col("doc_id").as("id"),
        (col("doc_id") - col("doc_id") % 4).as("rep"))
      val bridges = ids.filter(col("doc_id") % 16 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 4).as("id_b"))
      val chain = ids.filter(col("doc_id") < 5)
        .select((col("doc_id") + 200).as("id_a"), (col("doc_id") + 201).as("id_b"))
      val attach = ids.filter(col("doc_id") === 0)
        .select(lit(210L).as("id_a"), lit(3L).as("id_b"))
      graft.ops.Clusters.mergeIncremental(assignment,
        bridges.unionByName(chain).unionByName(attach))
        .orderBy("id")
    }),
    Case("q_dedup_clusters", Oracle(
      // connected components via recursive transitive closure (node count
      // is clamped to doc_id < 200, so the closure is bounded); rep = min
      // id reachable from each node, singletons map to themselves
      ("WITH RECURSIVE s AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 200 AND text IS NOT NULL), " +
        // empty∪empty guard mirrors Dedup.jaccard's `union=0 → 1.0` (a raw
        // 0/0 division is NULL in DuckDB, which would silently drop a pair
        // of empty-token docs the Spark side merges)
        "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM s a, s b WHERE a.doc_id < b.doc_id " +
        "AND (CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) = 0 THEN 1.0 " +
        "ELSE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / len(list_distinct(list_concat(a.tok, b.tok))) END) >= 0.9), " +
        "e AS (SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p), " +
        "r(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM r JOIN e e2 ON r.v = e2.u), " +
        "m AS (SELECT u AS doc_id, least(u, min(v)) AS rep FROM r GROUP BY u) " +
        "SELECT s.doc_id, coalesce(m.rep, s.doc_id) AS rep FROM s LEFT JOIN m USING (doc_id) ORDER BY doc_id")))((s, dir) => {
      // transitive near-dup resolution, ORACLE-CHECKED: exact token-set
      // Jaccard pairs on a clamped id range (the precise quantity
      // minhashSignature estimates — the oracle-able pair source) resolved
      // to connected components with min-id representatives; DuckDB
      // mirrors the closure with a recursive CTE. The LSH-pair variant
      // runs inside q_pipeline_e2e.
      val docs = TR(s, dir, "documents")
        .filter(col("doc_id") < 200 && col("text").isNotNull)
      val tokSet = array_distinct(filter(
        split(lower(col("text")), "\\s+"), t => length(t) > 0))
      val sh = docs.select(col("doc_id"), tokSet.as("tok"))
      val a = sh.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Dedup.jaccard(col("tok_a"), col("tok_b")) >= 0.9)
        .select(col("id_a"), col("id_b"))
      val cc = graft.ops.Clusters.connectedComponents(pairs)
      docs.select(col("doc_id"))
        .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
        .orderBy("doc_id")
    }),
    Case("q_dedup_keep_best", Oracle(
      // same recursive closure as q_dedup_clusters; each cluster keeps its
      // max-n_chars member (ties -> min id), singletons keep themselves
      ("WITH RECURSIVE s AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 200 AND text IS NOT NULL), " +
        "p AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM s a, s b WHERE a.doc_id < b.doc_id " +
        "AND (CASE WHEN len(list_distinct(list_concat(a.tok, b.tok))) = 0 THEN 1.0 " +
        "ELSE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / len(list_distinct(list_concat(a.tok, b.tok))) END) >= 0.9), " +
        "e AS (SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p), " +
        "r(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM r JOIN e e2 ON r.v = e2.u), " +
        "m AS (SELECT u AS doc_id, least(u, min(v)) AS rep FROM r GROUP BY u), " +
        "asg AS (SELECT s.doc_id, coalesce(m.rep, s.doc_id) AS rep FROM s LEFT JOIN m USING (doc_id)), " +
        "j AS (SELECT asg.doc_id, asg.rep, d.n_chars FROM asg JOIN documents d USING (doc_id)) " +
        "SELECT doc_id, n_chars FROM (SELECT doc_id, n_chars, " +
        "row_number() OVER (PARTITION BY rep ORDER BY n_chars DESC, doc_id) AS rn FROM j) " +
        "WHERE rn = 1 ORDER BY doc_id")))((s, dir) => {
      // keep-BEST cluster resolution (the RefinedWeb keep-longest recipe):
      // same exact-Jaccard oracle-able pair source as q_dedup_clusters,
      // but each transitive cluster keeps its longest member (ties → min
      // id) instead of the min-id representative
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 200 && col("text").isNotNull)
      val tokSet = array_distinct(filter(
        split(lower(col("text")), "\\s+"), t => length(t) > 0))
      val sh = docs.select(col("doc_id"), tokSet.as("tok"))
      val a = sh.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .filter(Dedup.jaccard(col("tok_a"), col("tok_b")) >= 0.9)
        .select(col("id_a"), col("id_b"))
      graft.ops.Clusters.keepBestInClusters(docs, pairs, "doc_id", "n_chars")
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id")
    }),
    Case("q_cluster_labels", Oracle(
      // identical tokenization, identical c-TF-IDF left-to-right
      // arithmetic, identical floor-before-rank and term tiebreak
      ("WITH toks AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term " +
        "FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL), " +
        "tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "tot AS (SELECT lang, sum(tf) AS total FROM tf GROUP BY lang), " +
        "ft AS (SELECT term, sum(tf) AS ft FROM tf GROUP BY term), " +
        "sc AS (SELECT sum(tf)*1.0/count(DISTINCT lang) AS a FROM tf), " +
        "s AS (SELECT tf.lang, tf.term, tf.tf, " +
        "floor(CAST(tf.tf AS DOUBLE)/total * ln(1.0 + a/ft) * 1e6 + 0.5)/1e6 AS score " +
        "FROM tf JOIN tot USING (lang) JOIN ft USING (term), sc) " +
        "SELECT lang, term, tf, score, CAST(row_number() OVER (PARTITION BY lang " +
        "ORDER BY score DESC, term) AS INTEGER) AS rk FROM s " +
        "QUALIFY rk <= 5 ORDER BY lang, rk")))((s, dir) => {
      // c-TF-IDF cluster naming (BERTopic class-based TF-IDF): the 5
      // most DISTINCTIVE terms per language-cluster — how a near-dup /
      // topic cluster gets a readable label. Same tokenizer and 1e-6
      // floor-before-rank idiom as q_tfidf.
      Retrieval.clusterLabels(T(s, dir, "documents"), "lang", "text", k = 5)
        .orderBy("lang", "rk")
    }),
    Case("q_kmv_overlap", Oracle(
      // the sketches are exact below k, so every output equals the true
      // distinct set algebra the oracle computes directly
      ("WITH a AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 3 <> 0), " +
        "b AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 = 0), " +
        "u AS (SELECT doc_id FROM a UNION SELECT doc_id FROM b) " +
        "SELECT (SELECT count(*) FROM a) AS n_a, (SELECT count(*) FROM b) AS n_b, " +
        "(SELECT count(*) FROM a JOIN b USING (doc_id)) AS n_intersect, " +
        "(SELECT count(*) FROM u) AS n_union, " +
        "floor(CAST((SELECT count(*) FROM a JOIN b USING (doc_id)) AS DOUBLE) " +
        "/ CAST((SELECT count(*) FROM u) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard")))((s, dir) => {
      // cross-corpus set algebra from two mergeable KMV theta sketches
      // (train/test overlap at 100 TB without re-shuffling keys); k=4096
      // exceeds every SF's distinct count here, so the sketch holds ALL
      // hashes and each output is exact — which is what the oracle pins
      val docs = T(s, dir, "documents")
      val k = 4096
      val a = docs.filter(col("doc_id") % 3 =!= 0)
        .agg(Sketches.kmv(col("doc_id"), k).as("ska"))
      val b = docs.filter(col("doc_id") % 2 === 0)
        .agg(Sketches.kmv(col("doc_id"), k).as("skb"))
      a.crossJoin(b).select(
        size(col("ska")).cast("long").as("n_a"),
        size(col("skb")).cast("long").as("n_b"),
        Sketches.kmvIntersectCount(col("ska"), col("skb"), k).as("n_intersect"),
        size(Sketches.kmvUnion(col("ska"), col("skb"), k)).cast("long").as("n_union"),
        (floor(Sketches.kmvIntersectEstimate(col("ska"), col("skb"), k)
          / Sketches.kmvEstimate(Sketches.kmvUnion(col("ska"), col("skb"), k), k)
          * 1e6 + 0.5) / 1e6).as("jaccard"))
    }),
    Case("q_jaccard_join", Oracle(
      // exact all-pairs grid over the clamped id range; same tokenization
      // as q_dedup_clusters (lower, \s+ split, nonempty, set semantics)
      ("WITH s AS (SELECT doc_id, list_distinct(list_filter(" +
        "regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 200 AND text IS NOT NULL), " +
        "s2 AS (SELECT * FROM s WHERE len(tok) > 0), " +
        "p AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
        "CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.tok, b.tok))) AS j " +
        "FROM s2 a, s2 b WHERE a.doc_id < b.doc_id) " +
        "SELECT id_1, id_2, j FROM p WHERE j >= 0.8 ORDER BY id_1, id_2")))((s, dir) => {
      // EXACT prefix-filtered token-set similarity join (AllPairs) on a
      // clamped id range — lossless vs the oracle's all-pairs grid
      val docs = T(s, dir, "documents").filter(col("doc_id") < 200)
      FuzzyJoin.jaccardJoin(docs, "doc_id", "text", 0.8)
        .orderBy("id_1", "id_2")
    }),
    Case("q_dedup_weighted", Oracle(
      ("SELECT min(doc_id) AS doc_id, count(*) AS n_dups, " +
        "CAST(CAST(sum(coalesce(n_chars, 0)) AS DECIMAL(18,1)) AS DOUBLE) AS weight " +
        "FROM documents WHERE text IS NOT NULL " +
        "GROUP BY md5(text) ORDER BY doc_id")))((s, dir) => {
      // dedup-but-upweight: min-id representative per fingerprint with
      // the collapsed multiplicity and weight mass preserved
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("fp", Dedup.fingerprint(col("text")))
      Dedup.exactWithMultiplicity(d, Seq("fp"), "doc_id", Some("n_chars"))
        .select(col("doc_id"), col("n_dups"),
          col("weight").cast("decimal(18,1)").cast("double").as("weight"))
        .orderBy("doc_id")
    }),
    Case("q_containment_pairs", Oracle(
      // set union size = na+nb-inter exactly (distinct sets), matching
      // Spark's size(array_union); estimator mirrors the left-to-right
      // IEEE op order of Dedup.containmentFromJaccard
      ("WITH d AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS tok " +
        "FROM documents WHERE doc_id < 30 AND text IS NOT NULL), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(len(a.tok) AS DOUBLE) AS na, CAST(len(b.tok) AS DOUBLE) AS nb, " +
        "CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) AS inter " +
        "FROM d a, d b WHERE a.doc_id < b.doc_id), " +
        "j AS (SELECT *, CASE WHEN na + nb - inter = 0 THEN 1.0 ELSE inter / (na + nb - inter) END AS jac FROM p) " +
        "SELECT id_a, id_b, CASE WHEN na = 0 THEN 1.0 ELSE inter / na END AS cont_ab, " +
        "CASE WHEN na = 0.0 THEN 1.0 ELSE jac * (na + nb) / (jac + 1.0) / na END AS cont_est " +
        "FROM j ORDER BY id_a, id_b")))((s, dir) => {
      // asymmetric near-dup verification on an oracle-able pair clamp:
      // exact containment + the size-recovery estimator (exact identity
      // when fed true Jaccard — both columns bitwise-mirrored)
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 30 && col("text").isNotNull)
      val tokSet = array_distinct(filter(
        split(lower(col("text")), "\\s+"), t => length(t) > 0))
      val sh = docs.select(col("doc_id"), tokSet.as("tok"))
      val a = sh.select(col("doc_id").as("id_a"), col("tok").as("tok_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.containment(col("tok_a"), col("tok_b")).as("cont_ab"),
          Dedup.containmentFromJaccard(Dedup.jaccard(col("tok_a"), col("tok_b")),
            size(col("tok_a")), size(col("tok_b"))).as("cont_est"))
        .orderBy("id_a", "id_b")
    }),
    Case("q_jaro", Oracle(
      // DuckDB's own jaro_winkler_similarity IS the oracle — the kernel
      // pins its exact conventions (boost > 0.7, prefix ≤ 4, empty → 0,
      // floor-halved transpositions) in KernelPropsSpec
      ("WITH c AS (SELECT c_custkey, 'customer_' || CAST(c_custkey AS VARCHAR) AS s1 FROM customer), " +
        "m AS (SELECT c_custkey, s1, CASE " +
        "WHEN c_custkey % 3 = 0 THEN substr(s1,1,1) || substr(s1,3,1) || substr(s1,2,1) || substr(s1,4,9999) " +
        "WHEN c_custkey % 3 = 1 THEN substr(s1,1,3) || substr(s1,5,9999) " +
        "ELSE s1 END AS s2 FROM c) " +
        "SELECT c_custkey, s1, s2, floor(jaro_winkler_similarity(s1, s2)*1e9 + 0.5)/1e9 AS jw " +
        "FROM m ORDER BY c_custkey")))((s, dir) => {
      // Jaro–Winkler via the native kernel over deterministic typo pairs
      // (swap / deletion / identity by key class). The kernel is
      // byte-oriented (UTF-8) since r14, matching DuckDB on ALL inputs —
      // the ASCII fixture remains for readability; 1e-9 floor-round
      // absorbs ratio-arithmetic ulp
      val c = T(s, dir, "customer").select(col("c_custkey"),
        concat(lit("customer_"), col("c_custkey").cast("string")).as("s1"))
      c.withColumn("s2",
          when(col("c_custkey") % 3 === 0,
            concat(substring(col("s1"), 1, 1), substring(col("s1"), 3, 1),
              substring(col("s1"), 2, 1), substring(col("s1"), 4, 9999)))
          .when(col("c_custkey") % 3 === 1,
            concat(substring(col("s1"), 1, 3), substring(col("s1"), 5, 9999)))
          .otherwise(col("s1")))
        .select(col("c_custkey"), col("s1"), col("s2"),
          (floor(graft.expressions.native.jaroWinkler(col("s1"), col("s2"))
            * 1e9 + lit(0.5)) / 1e9).as("jw"))
        .orderBy("c_custkey")
    }),
    // ---- minhash, simhash and embedding near-dups -----------------------
    Case("q_minhash_oracle", Oracle {
      // Exact integer mirror of the full guarded WORD-token LSH path
      // (Kernels.minhashSig + Dedup.nearDupsBySignature) on the crafted
      // doc_id<40 clamp: FNV-1a per whitespace token in HUGEINT mod 2^64
      // (the q_dedup_incremental machinery), signed MIN over tokens of
      // (A_k*h + B_k) mod 2^64 per hash slot (32/32-split product),
      // identical-signature groups emit (min-id rep, member) stars at
      // est 1.0, and representatives pair up when ANY of the eight
      // 8-wide signature slices is equal (band membership == slice
      // equality — the engine's xxhash64 band keys are injective on this
      // clamp; no band bucket reaches maxBucket, so sub-splits are all 0)
      // with position-agreement >= 0.9.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val blocks = MinhashSectBlocks.map(b => s"'$b'").mkString("[", ", ", "]")
      val T64 = s"CAST('$two64' AS HUGEINT)"
      val T63 = s"CAST('$two63' AS HUGEINT)"
      s"WITH d AS (SELECT doc_id, '$NgramBase' || ' tag' || CAST(doc_id % 10 AS VARCHAR) || " +
        s"' ' || ($blocks)[CAST(doc_id % 5 AS INT) + 1] || ' end' AS lt FROM documents WHERE doc_id < 40), " +
        "th AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lt, '\\s+'), x -> length(x) > 0)) AS tok FROM d), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tok)+1), j -> CAST(unicode(substr(tok, j, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% $T64) AS h FROM th), " +
        s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
        "unnest(range(0, 64)) AS t(k)), " +
        s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
        "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
        s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
        "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
        "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id), " +
        "reps AS (SELECT sig, MIN(doc_id) AS rep FROM sg GROUP BY sig), " +
        "stars AS (SELECT r.rep AS id_a, s.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard_est " +
        "FROM sg s JOIN reps r ON s.sig = r.sig WHERE s.doc_id <> r.rep), " +
        "pairs AS (SELECT a.rep AS id_a, b.rep AS id_b, a.sig AS sa, b.sig AS sb " +
        "FROM reps a JOIN reps b ON a.rep < b.rep), " +
        "scored AS (SELECT id_a, id_b, " +
        "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN sa[i + 1] = sb[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
        "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
        "r -> CASE WHEN sa[bb * 8 + r + 1] = sb[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband FROM pairs) " +
        "SELECT id_a, id_b, jaccard_est FROM (SELECT id_a, id_b, jaccard_est FROM stars " +
        "UNION ALL SELECT id_a, id_b, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.9) " +
        "ORDER BY id_a, id_b"
    })((s, dir) => {
      // ORACLE-CHECKED word-token LSH (r15 — the q_ngram_jaccard pattern
      // applied to the WORD-shingle minhash path, closing the r14 ask):
      // on this crafted doc_id<40 clamp the ENTIRE guarded
      // nearDupsBySignature path mirrors in DuckDB HUGEINT — the
      // whitespace-token minhash kernel (the q_dedup_incremental
      // machinery), the identical-signature star collapse (same doc_id%10
      // ⇒ identical text ⇒ (min-id rep, member) stars at est 1.0), and
      // the band join among representatives (band membership ≡ equality
      // of an 8-wide signature slice; agreement/64 ≥ 0.9). Crafted texts
      // = the shared ASCII base + a tag token (doc_id%10) + 12
      // sect-unique tokens (doc_id%5): all three regimes appear —
      // identical (stars), same-sect pairs differing in ONE token
      // (word Jaccard ≈ 0.99, accept), cross-sect pairs separated by 26
      // tokens (word Jaccard ≈ 0.78 — band flukes surface them, the
      // estimate rejects them; the mirror reproduces both outcomes).
      // bandsForThreshold(64, 0.9) = 8 bands × 8 rows/band; 10 reps keep
      // every band bucket far under maxBucket, so subs ≡ 0.
      val sect = element_at(array(MinhashSectBlocks.map(lit): _*),
        (col("doc_id") % 5 + 1).cast("int"))
      val tagged = concat(lit(NgramBase), lit(" tag"),
        (col("doc_id") % 10).cast("string"), lit(" "), sect, lit(" end"))
      val crafted = T(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), tagged.as("text"))
      Dedup.minhashNearDups(crafted, "doc_id", "text",
        numHashes = 64, threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    Case("q_ngram_jaccard", Oracle {
      // Exact integer mirror of the full guarded ngram-LSH path
      // (Kernels.minhashSigShingles + Dedup.nearDupsBySignature) on the
      // crafted doc_id<40 clamp. Per doc: FNV-1a over each 5-char shingle
      // (HUGEINT mod 2^64, xor on the low 16 bits — chars are ASCII),
      // then for each of 64 hash slots k the SIGNED min over shingles of
      // (A_k*h + B_k) mod 2^64, with A/B the splitmix64-derived constants
      // embedded below as literals. The A*h product is split 32/32 to
      // stay inside HUGEINT (a full 64x64 product can exceed 2^127).
      // Identical-signature groups emit (min-id rep, member) stars at est
      // 1.0; representatives pair up when ANY of the four 16-wide
      // signature slices is equal (band membership == slice equality —
      // the engine's xxhash64 band keys are injective on this clamp) and
      // the position-agreement estimate clears the 0.95 threshold.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val T64 = s"CAST('$two64' AS HUGEINT)"
      val T63 = s"CAST('$two63' AS HUGEINT)"
      s"WITH d AS (SELECT doc_id, '$NgramBase' || ' tag' || CAST(doc_id % 10 AS VARCHAR) || " +
        "' sect' || CAST(doc_id % 5 AS VARCHAR) || ' end' AS lt FROM documents WHERE doc_id < 40), " +
        "sh AS (SELECT doc_id, substr(lt, i, 5) AS g FROM d, unnest(range(1, length(lt) - 3)) AS un(i)), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, 6), j -> CAST(unicode(substr(g, j, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% $T64) AS h FROM sh), " +
        s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
        "unnest(range(0, 64)) AS t(k)), " +
        s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
        "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
        s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
        "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
        "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id), " +
        "reps AS (SELECT sig, MIN(doc_id) AS rep FROM sg GROUP BY sig), " +
        "stars AS (SELECT r.rep AS id_a, s.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard_est " +
        "FROM sg s JOIN reps r ON s.sig = r.sig WHERE s.doc_id <> r.rep), " +
        "pairs AS (SELECT a.rep AS id_a, b.rep AS id_b, a.sig AS sa, b.sig AS sb " +
        "FROM reps a JOIN reps b ON a.rep < b.rep), " +
        "scored AS (SELECT id_a, id_b, " +
        "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN sa[i + 1] = sb[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS jaccard_est, " +
        "list_max(list_transform(range(0, 4), bb -> list_min(list_transform(range(0, 16), " +
        "r -> CASE WHEN sa[bb * 16 + r + 1] = sb[bb * 16 + r + 1] THEN 1 ELSE 0 END)))) AS anyband FROM pairs) " +
        "SELECT id_a, id_b, jaccard_est FROM (SELECT id_a, id_b, jaccard_est FROM stars " +
        "UNION ALL SELECT id_a, id_b, jaccard_est FROM scored WHERE anyband = 1 AND jaccard_est >= 0.95) " +
        "ORDER BY id_a, id_b"
    })((s, dir) => {
      // ORACLE-CHECKED ngram LSH (r11 — the former rows-only q_dedup_ngram
      // path, now bitwise-mirrored): on this crafted clamp the ENTIRE
      // guarded nearDupsBySignature path is DuckDB-expressible — the
      // minhash-over-shingles kernel (FNV-1a per shingle + the
      // splitmix64-derived affine family, mirrored in HUGEINT mod-2^64
      // arithmetic exactly like q_simhash), the identical-signature star
      // collapse (same doc_id%10 ⇒ identical text ⇒ (min-id rep, member)
      // star pairs at est 1.0), and the band join among group
      // representatives (band membership ≡ equality of a 16-wide
      // signature slice; est ≥ threshold). Crafted texts = a shared
      // ~600-char lowercase-ASCII base + small per-group markers, giving
      // all three regimes: identical (stars), same-sect ~0.97 (band
      // candidates), different-sect sub-threshold. bandsForThreshold(64,
      // 0.95) = 4 (S-curve (1/4)^(1/16) ≈ 0.917 ≤ 0.95), so bands are the
      // four 16-wide slices the oracle checks.
      val tagged = concat(lit(NgramBase),
        lit(" tag"), (col("doc_id") % 10).cast("string"),
        lit(" sect"), (col("doc_id") % 5).cast("string"), lit(" end"))
      val crafted = T(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"), tagged.as("text"))
      Dedup.ngramNearDups(crafted, "doc_id", "text", ngram = 5,
        numHashes = 64, threshold = 0.95)
        .orderBy("id_a", "id_b")
    }),
    Case("q_dedup_embedding", Oracle {
      // the FULL embeddingNearDups path mirrored bitwise (r12 — the last
      // LSH rows-only query with a mirrorable kernel): lshBucketD's
      // hyperplanes are ±1 signs drawn from splitmix64, so the sign
      // matrix REGENERATES here (same formula as Kernels.lshBucketD) and
      // embeds as 4 literal 64-dim planes; each projection is then a
      // left-to-right double dot product (±1 multiplies are exact), which
      // DuckDB's list_dot_product reproduces bit-for-bit (the
      // q_ann_cosine-proven equivalence), so bucket bits, the bucket
      // equi-join, and the cosine verify all mirror exactly.
      def sm64(seed: Long): Long = {
        var z = seed + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val planes = (0 until 4).map(b => (0 until 64).map(i =>
        if ((sm64(b.toLong * 0x517cc1b7L + i) & 1L) == 0L) "1.0" else "-1.0")
        .mkString("[", ",", "]"))
      val bucket = planes.zipWithIndex.map { case (p, b) =>
        s"(CASE WHEN list_dot_product(vec, $p) >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings), " +
        s"b AS (SELECT vec_id, vec, $bucket AS bucket FROM v), " +
        "p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, " +
        "CASE WHEN sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(c.vec, c.vec)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(a.vec, c.vec) / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(c.vec, c.vec))) END AS sim " +
        "FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id) " +
        "SELECT id_a, id_b, sim FROM p WHERE sim >= 0.3 ORDER BY id_a, id_b"
    })((s, dir) => {
      // testdata embeddings are near-orthogonal (max pairwise cosine 0.48)
      // — 0.3/4-bit picks up the closest-pair tail while staying bucketed
      Similarity.embeddingNearDups(T(s, dir, "embeddings"), "vec_id", "embedding",
        simThreshold = 0.3, bits = 4)
        .orderBy("id_a", "id_b")
    }),
    Case("q_dedup_incremental", Oracle(DedupIncrementalMirrorSql))((s, dir) => {
      // daily-ingest shape: docs with id < 50 arrive as the NEW batch and
      // broadcast through the band join against the signature index built
      // from the rest of the corpus (in deployment the build's sig-keyed
      // exchange runs ONCE at ingest and queries read the stored table —
      // here both compose inline). ORACLE-CHECKED since r14: the word-token
      // minhash kernel mirrors in HUGEINT mod-2^64 (the q_simhash/
      // q_ngram_jaccard machinery), band membership restates as 8-wide
      // signature-slice equality, and buildSignatureIndex is a plain
      // GROUP BY sig / min(id). The ASCII + non-empty clamps pin byte-level
      // == char-level folding and exclude the all-MaxValue empty-token
      // signature; the corpus is entirely ASCII with non-blank text, so no
      // row actually drops.
      val d = T(s, dir, "documents")
        .filter(col("text").isNotNull &&
          octet_length(col("text")) === length(col("text")) &&
          length(trim(col("text"))) > 0)
        .select(col("doc_id"), Dedup.minhashSignature(col("text"), 64).as("sig"))
      Dedup.nearDupsAgainstIndex(
        Dedup.buildSignatureIndex(d.filter(col("doc_id") >= 50), "doc_id", "sig"),
        d.filter(col("doc_id") < 50),
        "doc_id", "sig", numHashes = 64, threshold = 0.9)
        .orderBy("id_new", "id_index")
    }),
    Case("q_lsh_recall", Oracle {
      // truth = all-pairs exact word-set Jaccard ≥ 0.9 on the clamp
      // (RAW case-sensitive tokens — since r16 the audit passes
      // foldCase=false so truth measures the SAME similarity minhashSig
      // hashes; the prefix filter is lossless so all-pairs IS its
      // output); cand = the full guarded LSH path in HUGEINT:
      // identical-sig groups expanded to FULL CLIQUES (the r16
      // star-collapse recall fix) + 8-wide slice-equality band pairs at
      // estimate ≥ 0.9, DISTINCT. One row of counts + floor-rounded
      // ratios, null on zero denominators.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      def u(l: Long) = java.lang.Long.toUnsignedString(l)
      val aList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 1) | 1L)}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val bList = (0 until 64).map(k => s"CAST('${u(splitmix64(2L * k + 2))}' AS HUGEINT)")
        .mkString("[", ", ", "]")
      val T64 = s"CAST('$two64' AS HUGEINT)"
      val T63 = s"CAST('$two63' AS HUGEINT)"
      "WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120 AND text IS NOT NULL " +
        "AND octet_length(encode(text)) = length(text) AND length(trim(text)) > 0), " +
        "sx AS (SELECT doc_id, list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0)) AS tok " +
        "FROM d), sxn AS (SELECT * FROM sx WHERE len(tok) > 0), " +
        "truth AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2 FROM sxn a, sxn b WHERE a.doc_id < b.doc_id AND " +
        "CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9), " +
        s"th AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0)) AS tk FROM d), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tk)+1), j -> CAST(unicode(substr(tk, j, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% $T64) AS h FROM th), " +
        s"ab AS (SELECT k, la[k + 1] AS a, lb[k + 1] AS b FROM (SELECT $aList AS la, $bList AS lb), " +
        "unnest(range(0, 64)) AS t(k)), " +
        s"sv AS (SELECT doc_id, k, MIN(CAST(CASE WHEN v >= $T63 THEN v - $T64 ELSE v END AS BIGINT)) AS sv FROM " +
        "(SELECT hh.doc_id, ab.k, ((ab.a * (hh.h % 4294967296) + " +
        s"((ab.a * (hh.h // 4294967296)) % 4294967296) * 4294967296) % $T64 + ab.b) % $T64 AS v " +
        "FROM hh CROSS JOIN ab) GROUP BY doc_id, k), " +
        "sg AS (SELECT doc_id, list(sv ORDER BY k) AS sig FROM sv GROUP BY doc_id), " +
        "reps AS (SELECT sig, MIN(doc_id) AS rep FROM sg GROUP BY sig), " +
        "cliq AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sg a JOIN sg b ON a.sig = b.sig AND a.doc_id < b.doc_id), " +
        "pairs AS (SELECT a.rep AS id_a, b.rep AS id_b, a.sig AS sa, b.sig AS sb FROM reps a JOIN reps b ON a.rep < b.rep), " +
        "scored AS (SELECT id_a, id_b, " +
        "CAST(list_sum(list_transform(range(0, 64), i -> CASE WHEN sa[i + 1] = sb[i + 1] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS je, " +
        "list_max(list_transform(range(0, 8), bb -> list_min(list_transform(range(0, 8), " +
        "r -> CASE WHEN sa[bb * 8 + r + 1] = sb[bb * 8 + r + 1] THEN 1 ELSE 0 END)))) AS anyband FROM pairs), " +
        "cand AS (SELECT DISTINCT id_a, id_b FROM (SELECT id_a, id_b FROM cliq UNION ALL SELECT id_a, id_b FROM scored WHERE anyband = 1 AND je >= 0.9)), " +
        "hits AS (SELECT c.id_a, c.id_b FROM cand c JOIN truth t ON c.id_a = t.id_1 AND c.id_b = t.id_2), " +
        "n AS (SELECT (SELECT COUNT(*) FROM d) AS n_docs, (SELECT COUNT(*) FROM truth) AS n_true, " +
        "(SELECT COUNT(*) FROM cand) AS n_cand, (SELECT COUNT(*) FROM hits) AS n_hits) " +
        "SELECT n_docs, n_true, n_cand, n_hits, " +
        "CASE WHEN n_true > 0 THEN floor(CAST(n_hits AS DOUBLE) / n_true * 1e9 + 0.5) / 1e9 END AS recall, " +
        "CASE WHEN n_cand > 0 THEN floor(CAST(n_hits AS DOUBLE) / n_cand * 1e9 + 0.5) / 1e9 END AS \"precision\" " +
        "FROM n"
    })((s, dir) => {
      // the dedup audit a 100 TB run performs on a SAMPLE before
      // trusting the banded path (r15): exact word-Jaccard ground truth
      // (lossless prefix-filtered join) vs the guarded LSH candidate
      // set, one report row with recall/precision. doc_id < 120 with
      // the ASCII clamp is SF-stable and small enough for the oracle's
      // all-pairs exact mirror; the LSH side reuses the q_minhash_oracle
      // HUGEINT machinery over the REAL corpus text.
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 120 && col("text").isNotNull &&
          octet_length(col("text")) === length(col("text")) &&
          length(trim(col("text"))) > 0)
      Dedup.lshRecallAudit(docs, "doc_id", "text",
        numHashes = 64, threshold = 0.9)
    }),
    Case("q_simhash", Oracle {
      // Exact integer mirror of the simhash + rolling-hash kernels
      // (Kernels.simHash / Kernels.rollingHash): DuckDB HUGEINT carries
      // the unsigned 64-bit state, every step reduces mod 2^64 (== Java
      // long wraparound), and the final value converts to signed BIGINT.
      // The 64 per-bit vote sums and the recomposition are generated
      // programmatically below. xor() only ever sees the low 16 bits
      // (token chars are < 2^16), keeping it in BIGINT range.
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      val bitSums = (0 until 64).map(b =>
        s"SUM(CASE WHEN (h // CAST('${BigInt(1) << b}' AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val recompose = (0 until 64).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
      s"WITH t AS (SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS toks " +
        "FROM documents WHERE octet_length(encode(text)) = length(text)), " +
        "th AS (SELECT doc_id, unnest(toks) AS tok FROM t), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tok)+1), i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% CAST('$two64' AS HUGEINT)) AS h FROM th), " +
        s"votes AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id), " +
        s"sh AS (SELECT doc_id, $recompose AS sval FROM votes), " +
        "rh AS (SELECT doc_id, list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), " +
        "list_transform(range(1, length(text)+1), i -> CAST(unicode(substr(text, i, 1)) AS HUGEINT))), " +
        s"(h, c) -> (h * 31 + c) % CAST('$two64' AS HUGEINT)) AS rval FROM t) " +
        "SELECT t.doc_id, " +
        s"CAST(CASE WHEN coalesce(sh.sval, 0) >= CAST('$two63' AS HUGEINT) THEN coalesce(sh.sval, 0) - CAST('$two64' AS HUGEINT) ELSE coalesce(sh.sval, 0) END AS BIGINT) AS sh, " +
        s"CAST(CASE WHEN coalesce(rh.rval, 1125899906842597) >= CAST('$two63' AS HUGEINT) THEN coalesce(rh.rval, 1125899906842597) - CAST('$two64' AS HUGEINT) ELSE coalesce(rh.rval, 1125899906842597) END AS BIGINT) AS rh " +
        "FROM t LEFT JOIN sh USING (doc_id) LEFT JOIN rh USING (doc_id) ORDER BY doc_id"
    })((s, dir) => {
      // ORACLE-CHECKED (r5): DuckDB reproduces both kernels exactly with
      // HUGEINT mod-2^64 arithmetic — FNV-1a-per-token bit votes for
      // simhash, the 31-polynomial for the rolling fingerprint. The ASCII
      // clamp (octet_length == length) pins byte-level == char-level
      // folding so the mirror holds; the corpus is entirely ASCII, so no
      // row actually drops.
      T(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), TextAnalysis.fingerprintSimhash(col("text")).as("sh"),
          TextAnalysis.fingerprintRolling(col("text")).as("rh"))
        .orderBy("doc_id")
    }),
    Case("q_hamming_pairs", Oracle {
      // the q_simhash HUGEINT kernel mirror (clamped to doc_id < 300)
      // feeding a brute-force pair grid: banded blocking is LOSSLESS, so
      // the engine's equi-join candidates + bit_count verify must equal
      // the grid exactly
      val two64 = BigInt(1) << 64
      val two63 = BigInt(1) << 63
      val fnvSeed = BigInt("cbf29ce484222325", 16)
      val bitSums = (0 until 64).map(b =>
        s"SUM(CASE WHEN (h // CAST('${BigInt(1) << b}' AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val recompose = (0 until 64).map(b =>
        s"CASE WHEN v$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
      s"WITH t AS (SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS toks " +
        "FROM documents WHERE doc_id < 300 AND octet_length(encode(text)) = length(text)), " +
        "th AS (SELECT doc_id, unnest(toks) AS tok FROM t), " +
        s"hh AS (SELECT doc_id, list_reduce(list_prepend(CAST('$fnvSeed' AS HUGEINT), " +
        "list_transform(range(1, length(tok)+1), i -> CAST(unicode(substr(tok, i, 1)) AS HUGEINT))), " +
        "(h, c) -> ((xor(CAST(h % 65536 AS BIGINT), CAST(c AS BIGINT)) + (h - h % 65536)) * 1099511628211) " +
        s"% CAST('$two64' AS HUGEINT)) AS h FROM th), " +
        s"votes AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id), " +
        s"sh0 AS (SELECT doc_id, $recompose AS sval FROM votes), " +
        "s AS (SELECT t.doc_id, " +
        s"CAST(CASE WHEN coalesce(sh0.sval, 0) >= CAST('$two63' AS HUGEINT) THEN coalesce(sh0.sval, 0) - CAST('$two64' AS HUGEINT) ELSE coalesce(sh0.sval, 0) END AS BIGINT) AS sh " +
        "FROM t LEFT JOIN sh0 USING (doc_id)) " +
        "SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS dist " +
        "FROM s a, s b WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 16 " +
        "ORDER BY id_1, id_2"
    })((s, dir) => {
      // the LOSSLESS Hamming-banded blocking (Dedup.hammingPairs — the
      // engine behind simhash/dHash near-dup) over the proven simhash
      // kernel on a clamped grid; the oracle brute-forces the same pairs
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") < 300 &&
          octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), TextAnalysis.fingerprintSimhash(col("text")).as("sh"))
      Dedup.hammingPairs(docs, "doc_id", "sh", maxDist = 16)
        .select(col("id_1"), col("id_2"), col("dist").cast("integer").as("dist"))
        .orderBy("id_1", "id_2")
    }),
    Case("q_semdedup", Oracle(
      // full SemDeDup mirror: argmax-cosine cell assignment (ties to the
      // lowest centroid_id, mirroring ivfAssign's max_by), within-cell
      // pairs at >= 0.35, recursive transitive closure, min-id reps,
      // singletons to themselves. Zero-norm cosine pinned to 0.0 exactly
      // like the cosineD kernel.
      ("WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000), " +
        "c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8), " +
        "asn AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "(CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) END) DESC, c.cid) AS rk " +
        "FROM e, c) WHERE rk = 1), " +
        "s AS (SELECT asn.vec_id, asn.cid, e.v FROM asn JOIN e USING (vec_id)), " +
        "p AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM s a JOIN s b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "WHERE (CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0 " +
        "ELSE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END) >= 0.35), " +
        "ed AS (SELECT ia AS u, ib AS w FROM p UNION SELECT ib, ia FROM p), " +
        "r(u, w) AS (SELECT u, w FROM ed UNION SELECT r.u, ed2.w FROM r JOIN ed ed2 ON r.w = ed2.u), " +
        "m AS (SELECT u AS vec_id, least(u, min(w)) AS rep FROM r GROUP BY u) " +
        "SELECT e.vec_id, coalesce(m.rep, e.vec_id) AS rep FROM e LEFT JOIN m USING (vec_id) ORDER BY vec_id")))((s, dir) => {
      // SemDeDup (Abbas et al. 2023): nearest-centroid cells over
      // DuckDB-expressible centroids (vec_id < 8, the q_ivf_oracle
      // pattern), within-cell cosine ≥ 0.35 pairs, transitive closure to
      // min-id reps. Corpus clamped to vec_id < 1000 so the oracle's
      // recursive closure stays bounded (q_dedup_clusters precedent).
      val emb = T(s, dir, "embeddings").filter(col("vec_id") < 1000)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long").as("centroid_id"),
          col("embedding").cast("array<double>").as("centroid_vec"))
      Similarity.semanticDedup(emb, "vec_id", "embedding", cents,
        simThreshold = 0.35)
        .orderBy("vec_id")
    }),
  )
}

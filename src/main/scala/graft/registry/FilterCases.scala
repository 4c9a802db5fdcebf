package graft.registry

import org.apache.spark.sql.functions._
import graft.SparkEntry.T
import graft.core.Validate
import graft.{filters => F}
import graft.filters.{FilterMapper, FilterMapperDynamic, FilterMapperVariant, FilterRepeater, FilterRepeaterMap, FilterSwitch}
import graft.registry.Check.Oracle

/** The reference's validation filters, one case per filter or combinator:
  * simple, number, date/time and string filters, then the structural
  * combinators (Iso, Django, mapper, repeater, switch). */
private[graft] object FilterCases {

  val cases: Seq[Case] = Seq(
    // ---- simple filters -------------------------------------------------
    Case("q_required", Oracle("SELECT doc_id, text FROM documents WHERE text IS NOT NULL AND length(text) > 0 ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.Required()).valid
        .select(col("doc_id"), col("text")).orderBy("doc_id")
    }),
    Case("q_optional", Oracle(
      "SELECT doc_id, CASE WHEN lang IS NULL OR length(lang) = 0 THEN 'und' ELSE lang END AS lang FROM documents ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "lang" -> F.Optional("und")).valid
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    Case("q_minmax_length", Oracle(
      "SELECT doc_id, text FROM documents WHERE text IS NULL OR (length(text) >= 100 AND length(text) <= 400) ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> (F.MinLength(100) | F.MaxLength(400))).valid
        .select(col("doc_id"), col("text")).orderBy("doc_id")
    }),
    Case("q_choice", Oracle(
      "SELECT event_id, event_type FROM events WHERE event_type IS NULL OR event_type IN ('signup','purchase','error') ORDER BY event_id"))((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "event_type" -> F.Choice(Seq("signup", "purchase", "error"))).valid
        .select(col("event_id"), col("event_type")).orderBy("event_id")
    }),
    Case("q_empty", Oracle("SELECT doc_id, lang, (lang IS NULL OR length(lang) = 2) AS ok FROM documents ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "lang" -> F.Length(2)).flagged("ok")
        .select(col("doc_id"), col("lang"), col("ok")).orderBy("doc_id")
    }),
    Case("q_omit", Oracle("SELECT c_custkey, c_name, c_nationkey FROM customer ORDER BY c_custkey"))((s, dir) => {
      val cust = T(s, dir, "customer")
      val rec = cust.select(struct(cust.columns.toIndexedSeq.map(col): _*).as("rec"))
      Validate(rec, "rec" -> F.Omit(Seq("c_acctbal", "c_mktsegment"))).valid
        .select(col("rec.*")).orderBy("c_custkey")
    }),
    Case("q_type_int", Oracle(
      // NaN guard (DuckDB: NaN = floor(NaN) is TRUE) + Int()'s explicit
      // Long-range guard, so out-of-range doubles drop instead of erroring
      ("SELECT event_id, CAST(value AS BIGINT) AS value_int FROM events WHERE value IS NULL OR " +
        "(NOT isnan(value) AND value = floor(value) AND value >= -9223372036854775808 AND value <= 9223372036854775807) ORDER BY event_id")))((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "value" -> F.Int()).valid
        .select(col("event_id"), col("value").as("value_int")).orderBy("event_id")
    }),
    // ---- number filters -------------------------------------------------
    Case("q_min", Oracle(
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity IS NULL OR l_quantity >= 5.0 ORDER BY l_orderkey, l_linenumber"))((s, dir) => {
      val li = T(s, dir, "lineitem")
      Validate(li, "l_quantity" -> F.Min(5.0)).valid
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    Case("q_max", Oracle(
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity IS NULL OR l_quantity <= 45.0 ORDER BY l_orderkey, l_linenumber"))((s, dir) => {
      val li = T(s, dir, "lineitem")
      Validate(li, "l_quantity" -> F.Max(45.0)).valid
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    Case("q_decimal", Oracle(
      "SELECT l_orderkey, l_linenumber, CAST(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(12,2)) AS DOUBLE) AS price FROM lineitem ORDER BY l_orderkey, l_linenumber"))((s, dir) => {
      val li = T(s, dir, "lineitem")
      // final cast to double: parquet DECIMAL vs DuckDB's decimal result
      // materialize differently in the gate's hasher even when the
      // quantized values agree (r02 hash_match=false); double is exact on
      // both sides since decimal→double is the same nearest-double map
      Validate(li, "l_extendedprice" -> F.Decimal(12, 2)).valid
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("double").as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    Case("q_round", Oracle(
      "SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS bucket, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY bucket"))((s, dir) => {
      val li = T(s, dir, "lineitem").withColumn("disc_pct", col("l_discount") * 100)
      Validate(li, "disc_pct" -> F.Round()).valid
        .groupBy(col("disc_pct").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n")).orderBy("bucket")
    }),
    // ---- date/time ------------------------------------------------------
    Case("q_date", Oracle("SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY day"))((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "ts" -> F.Date()).valid
        .groupBy(col("ts").as("day")).agg(count(lit(1)).as("n")).orderBy("day")
    }),
    Case("q_date_dayfirst", Oracle(
      // dateutil's swap-on-invalid rule in closed form. bud = 2024's
      // month-day budgets: the d/M read is valid iff a <= bud[b] (Feb 31
      // etc. fail), the M/d read iff a <= 12 (b never exceeds 12 ≤ any
      // budget). Rows where BOTH reads fail drop from .valid on the
      // Spark side — the WHERE mirrors that; CASE branches are ordered
      // so make_date (which THROWS on out-of-range, unlike Spark's
      // try-cascade) only evaluates constructible dates.
      ("WITH d AS (SELECT doc_id, CAST(doc_id % 31 + 1 AS INT) AS a, " +
        "CAST(doc_id % 12 + 1 AS INT) AS b, " +
        "([31,29,31,30,31,30,31,31,30,31,30,31])[CAST(doc_id % 12 + 1 AS INT)] AS bud " +
        "FROM documents WHERE doc_id < 200) " +
        "SELECT doc_id, " +
        "CASE WHEN a <= 12 THEN make_date(2024, a, b) ELSE make_date(2024, b, a) END AS us_read, " +
        "CASE WHEN a <= bud THEN make_date(2024, b, a) ELSE make_date(2024, a, b) END AS eu_read " +
        "FROM d WHERE a <= 12 OR a <= bud ORDER BY doc_id")))((s, dir) => {
      // dateutil's two-tier ambiguous-slash-date rule under BOTH dayFirst
      // settings (r15 — the documented Datetime divergence narrowed to
      // locale autodetection + freeform fuzz; the field-order knob itself
      // is oracled here). Crafted "a/b/2024" with a in 1..31, b in 1..12,
      // b never exceeding any month's day budget (≤ 12 ≤ 28): dayFirst
      // = true always reads d/M (date(2024, b, a)); the default reads M/d
      // when a ≤ 12 (date(2024, a, b)) and swaps ONLY when the preferred
      // read is invalid (a > 12 ⇒ date(2024, b, a)) — both closed-form in
      // SQL, no strptime cascade needed.
      val docs = T(s, dir, "documents").filter(col("doc_id") < 200)
        .withColumn("a", (col("doc_id") % 31 + 1).cast("int"))
        .withColumn("b", (col("doc_id") % 12 + 1).cast("int"))
        .withColumn("slashed", concat(col("a"), lit("/"), col("b"), lit("/2024")))
      // ONE cascade, both readings (r16 — the r15 version ran two
      // independent Validate passes, building and ANALYZING the big
      // lenient CASE cascade twice for a 200-row fixture): parsedTiers
      // exposes the cascade's order-independent tiers, the tiny tier
      // frame pins (localCheckpoint — CollapseProject would otherwise
      // re-inline the cascade into both output expressions), and each
      // reading is a leaf-column coalesce in the documented dateutil
      // preference order. StringsSpec pins tier-coalesce ≡ the dayFirst
      // filters' parse, so the knob's semantics stay oracled.
      val (h, m, d, t) = F.Date(lenient = true).parsedTiers(col("slashed"))
      docs.select(col("doc_id"), h.as("h"), m.as("m"), d.as("d"), t.as("t"))
        .localCheckpoint()
        .select(col("doc_id"),
          coalesce(col("h"), col("m"), col("d"), col("t"))
            .cast("date").as("us_read"),
          coalesce(col("h"), col("d"), col("m"), col("t"))
            .cast("date").as("eu_read"))
        // the .valid drop of the two-pass version: a row invalid under
        // one order is invalid under both (same formats, different
        // order), so one null check reproduces the join of valid sets
        // (e.g. 30/2/2024 — no February 30th either way round)
        .filter(col("us_read").isNotNull)
        .orderBy("doc_id")
    }),
    // ---- string filters -------------------------------------------------
    Case("q_strip", Oracle(
      "SELECT doc_id, regexp_replace(regexp_replace('  ' || text || ' \t', '^[\\p{C}\\s]+', ''), '[\\p{C}\\s]+$', '') AS stripped FROM documents ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("padded", concat(lit("  "), col("text"), lit(" \t")))
      Validate(docs, "padded" -> F.Strip()).valid
        .select(col("doc_id"), col("padded").as("stripped")).orderBy("doc_id")
    }),
    Case("q_unicode", Oracle(
      // full Unicode() twin: \r\n and \r -> \n, strip ISO controls (keeping
      // \n \t) and FORMAT chars, THEN NFC -- same order as the kernel
      ("SELECT doc_id, nfc_normalize(regexp_replace(regexp_replace(regexp_replace(text || ' café', " +
        "'\\r\\n', '\\n', 'g'), '\\r', '\\n', 'g'), " +
        "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]|\\p{Cf}', '', 'g')) AS cleaned " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      // append an NFD-accented suffix; Unicode() must NFC-normalize it
      val docs = T(s, dir, "documents")
        .withColumn("messy", concat(col("text"), lit(" café")))
      Validate(docs, "messy" -> F.Unicode()).valid
        .select(col("doc_id"), col("messy").as("cleaned")).orderBy("doc_id")
    }),
    Case("q_casefold", Oracle(
      // lower + explicit sharp-s expansion mirrors ICU full folding for
      // this construction (fixture langs are ASCII; the suffix adds the
      // one full-fold divergence)
      "SELECT doc_id, replace(lower(lang || '-Straße'), 'ß', 'ss') AS folded FROM documents ORDER BY doc_id"))((s, dir) => {
      // append a sharp-s suffix so the oracle actually exercises FULL
      // folding (ß -> ss), not just ASCII lowercase
      val docs = T(s, dir, "documents")
        .withColumn("mixed", concat(col("lang"), lit("-Straße")))
      Validate(docs, "mixed" -> F.CaseFold()).valid
        .select(col("doc_id"), col("mixed").as("folded")).orderBy("doc_id")
    }),
    Case("q_pii_redact", Oracle {
      // the pattern strings come FROM Pii.Detectors (one source of
      // truth); DuckDB needs the explicit 'g' flag Java implies
      def lit1(s: String) = "'" + s.replace("'", "''") + "'"
      val syn = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.org' || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-5309 now' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' acct ' || lpad(CAST((doc_id * 37) % 1000000000 AS VARCHAR), 9, '0') ELSE '' END"
      val red = graft.ops.Pii.Detectors.foldLeft("t") { case (acc, (_, re, repl)) =>
        s"regexp_replace($acc, ${lit1(re)}, ${lit1(repl)}, 'g')"
      }
      val cnts = graft.ops.Pii.Detectors.map { case (name, re, _) =>
        s"CAST(len(regexp_extract_all(t, ${lit1(re)})) AS BIGINT) AS n_$name"
      }.mkString(", ")
      s"WITH s AS (SELECT doc_id, $syn AS t FROM documents WHERE text IS NOT NULL) " +
        s"SELECT doc_id, $red AS redacted, $cnts FROM s ORDER BY doc_id"
    })((s, dir) => {
      // PII scrub (r12): deterministic PII synthesized onto every doc —
      // an email always, a NANP phone on %3, a dotted-quad IP on %4, a
      // 9-digit account run on %5 — then Pii.scrub redacts in the fixed
      // email→ip→phone→id order and counts against the original. The
      // oracle rebuilds the same text and applies the IDENTICAL pattern
      // strings (shared programmatically from Pii.Detectors) with
      // RE2's 'g' flag — the patterns live in the Java∩RE2 subset by
      // construction, so replace sites and counts mirror exactly.
      val d = T(s, dir, "documents").filter(col("text").isNotNull)
      val syn = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org"),
        when(col("doc_id") % 3 === 0, lit(" call 555-867-5309 now"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, concat(lit(" from 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".77")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, concat(lit(" acct "),
          lpad(((col("doc_id") * 37) % 1000000000L).cast("string"), 9, "0")))
          .otherwise(lit("")))
      graft.ops.Pii.scrub(d.select(col("doc_id"), syn.as("text")), "text")
        .select(col("doc_id"), col("text").as("redacted"),
          col("pii_counts.n_email"), col("pii_counts.n_ipv4"),
          col("pii_counts.n_phone"), col("pii_counts.n_id"))
        .orderBy("doc_id")
    }),
    Case("q_mojibake", Oracle(
      // repair(misdecode(t)) == t for ANY t (misdecode is lossless), and
      // a doc "was corrupted" iff its text has any non-ASCII char — in
      // DuckDB, iff UTF-8 byte length exceeds char length
      ("SELECT doc_id, text AS repaired, strlen(text) > length(text) AS was_corrupted " +
        "FROM documents WHERE text IS NOT NULL ORDER BY doc_id")))((s, dir) => {
      // encoding repair (the ftfy fix_encoding core case): corrupt every
      // document with the classic UTF-8-bytes-as-Latin-1 misdecode, then
      // repair. latin1Misdecode is lossless and fixMojibake its exact
      // inverse, so the repaired column must equal the untouched text —
      // which is exactly what the oracle asserts. Map-only, zero shuffle;
      // both kernels are codegen-resident StaticInvokes.
      import graft.expressions.native
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      docs.select(col("doc_id"),
          native.fixMojibake(native.latin1Misdecode(col("text"))).as("repaired"),
          (native.latin1Misdecode(col("text")) =!= col("text")).as("was_corrupted"))
        .orderBy("doc_id")
    }),
    Case("q_json", Oracle(
      // WHERE twin of JsonDecode's .valid split: malformed JSON is DROPPED
      // by Spark (json_extract_string would ERROR on it here), and so is
      // valid JSON whose root is not an object (from_json against a struct
      // schema nulls out -> coded rejection)
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events WHERE props IS NULL OR (json_valid(props) AND json_type(props) = 'OBJECT') ORDER BY event_id"))((s, dir) => {
      val ev = T(s, dir, "events")
      Validate(ev, "props" -> F.JsonDecode("k BIGINT")).valid
        .select(col("event_id"), col("props").getField("k").as("k")).orderBy("event_id")
    }),
    Case("q_regex", Oracle(
      "SELECT doc_id, CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_matches FROM documents WHERE text IS NULL OR len(regexp_extract_all(text, '[aeiou]{2}')) > 0 ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.Regex("[aeiou]{2}")).valid
        .select(col("doc_id"), size(col("text")).cast("long").as("n_matches"))
        .orderBy("doc_id")
    }),
    Case("q_split", Oracle(
      "SELECT doc_id, string_split(text, ' ')[1] AS first_tok, string_split(text, ' ')[-1] AS last_tok FROM documents ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.Split(" ")).valid
        .select(col("doc_id"), element_at(col("text"), 1).as("first_tok"),
          element_at(col("text"), -1).as("last_tok"))
        .orderBy("doc_id")
    }),
    Case("q_maxbytes", Oracle(
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents WHERE text IS NULL OR octet_length(encode(text)) <= 256 ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.MaxBytes(256, truncate = false)).valid
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),
    Case("q_bytestring", Oracle(
      "SELECT doc_id, hex(encode(text)) AS b_hex, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents ORDER BY doc_id"))((s, dir) => {
      // UTF-8 encode roundtrip: cleaned value is the encoded bytes. Output
      // hex(b), not raw binary — the gate's comparer can't hash a
      // bytearray column (r4 ERR); hex is a lossless, hashable encoding of
      // the same payload, so the binary path is still fully exercised.
      val docs = T(s, dir, "documents")
      Validate(docs, "text" -> F.ByteString()).valid
        .select(col("doc_id"), hex(col("text")).as("b_hex"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),
    Case("q_maxbytes_trunc", Oracle(
      // ASCII-only subset: byte truncation == char truncation, no boundary
      // backoff needed in the mirror
      ("SELECT doc_id, CASE WHEN octet_length(encode(text)) <= 100 THEN text ELSE substr(text, 1, 100) END AS t " +
        "FROM documents WHERE octet_length(encode(text)) = length(text) ORDER BY doc_id")))((s, dir) => {
      // truncate mode on the ASCII subset, where the UTF-8-boundary-safe
      // cut is mirrorable as a plain byte substring in the oracle
      val docs = T(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
      Validate(docs, "text" -> F.MaxBytes(100, truncate = true)).valid
        .select(col("doc_id"), col("text").as("t")).orderBy("doc_id")
    }),
    Case("q_split_keyed", Oracle(
      ("WITH t AS (SELECT doc_id, doc_id % 5 = 0 AS short FROM documents) " +
        "SELECT doc_id, CASE WHEN short THEN NULL ELSE 'a' || doc_id END AS x, " +
        "CASE WHEN short THEN NULL ELSE 'c' || doc_id END AS z, NOT short AS ok " +
        "FROM t ORDER BY doc_id")))((s, dir) => {
      // keyed split → named struct; every 5th row has 2 parts (arity
      // mismatch → wrong_count, fields null out)
      val docs = T(s, dir, "documents").withColumn("kv",
        when(col("doc_id") % 5 === 0,
          format_string("a%d:b%d", col("doc_id"), col("doc_id")))
          .otherwise(format_string("a%d:b%d:c%d", col("doc_id"), col("doc_id"), col("doc_id"))))
      Validate(docs, "kv" -> F.Split(":", Seq("x", "y", "z"))).flagged("ok")
        .select(col("doc_id"), col("kv.x").as("x"), col("kv.z").as("z"), col("ok"))
        .orderBy("doc_id")
    }),
    Case("q_base64", Oracle("SELECT doc_id, decode(from_base64(to_base64(encode(text)))) AS decoded FROM documents ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("b64", base64(col("text").cast("binary")))
      Validate(docs, "b64" -> F.Base64Decode()).valid
        .select(col("doc_id"), col("b64").cast("string").as("decoded")).orderBy("doc_id")
    }),
    Case("q_uuid", Oracle(
      "SELECT doc_id, lower(printf('%08x-0000-4000-8000-%012x', doc_id, doc_id)) AS uuid FROM documents ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("u", format_string("%08X-0000-4000-8000-%012X", col("doc_id"), col("doc_id")))
      Validate(docs, "u" -> F.Uuid(4)).valid
        .select(col("doc_id"), col("u").as("uuid")).orderBy("doc_id")
    }),
    Case("q_ip", Oracle(
      "SELECT doc_id, '10.' || CAST(doc_id % 300 AS VARCHAR) || '.0.1' AS ip FROM documents WHERE doc_id % 300 <= 255 ORDER BY doc_id"))((s, dir) => {
      val docs = T(s, dir, "documents")
        .withColumn("ip", concat(lit("10."), (col("doc_id") % 300).cast("string"), lit(".0.1")))
      Validate(docs, "ip" -> F.IpAddress()).valid
        .select(col("doc_id"), col("ip")).orderBy("doc_id")
    }),
    // ---- structural combinators -----------------------------------------
    Case("q_iso", Oracle {
      // the SAME JDK table feeds both engines, so the membership sets
      // cannot drift
      val codes = graft.filters.Iso.countryCodes.map(c => s"'$c'").mkString(",")
      ("WITH t AS (SELECT doc_id, ['US','de','XX','GB','ZZ','fr'][CAST(doc_id % 6 AS INTEGER) + 1] AS cc0 FROM documents) " +
        s"SELECT doc_id, CASE WHEN upper(cc0) IN ($codes) THEN upper(cc0) END AS cc, " +
        s"upper(cc0) IN ($codes) AS ok FROM t ORDER BY doc_id")
    })((s, dir) => {
      // synthesize a mix of valid/invalid/miscased country codes
      val cands = Seq("US", "de", "XX", "GB", "ZZ", "fr")
      val docs = T(s, dir, "documents")
        .withColumn("cc", element_at(typedLit(cands), (col("doc_id") % 6).cast("int") + 1))
      Validate(docs, "cc" -> F.Country()).flagged("ok")
        .select(col("doc_id"), col("cc"), col("ok")).orderBy("doc_id")
    }),
    Case("q_django", Oracle(
      // slugify mirrored step-for-step (RE2 'g' flag = Java replace-all;
      // the heads are ASCII, so \w/\s/lower agree across engines)
      ("WITH t AS (SELECT doc_id, substr(text, 1, 40) AS head, " +
        "CASE WHEN doc_id % 5 = 0 THEN source || ' bad!' ELSE source END AS src " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(lower(trim(head)), " +
        "'[^\\w\\s-]', '', 'g'), '[-\\s]+', '-', 'g'), '^[-_]+|[-_]+$', '', 'g') AS slug, " +
        "(src IS NULL OR regexp_matches(src, '^[-a-zA-Z0-9_]+$')) AS src_ok " +
        "FROM t ORDER BY doc_id")))((s, dir) => {
      // second extension pack through the registry: slugify document
      // heads (a pure transform) and slug-validate the source column —
      // both constructed BY NAME via the ServiceLoader SPI
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("head", substring(col("text"), 1, 40))
        // every source in the testdata is already slug-shaped, so break
        // some deterministically to exercise the rejection path
        .withColumn("src",
          when(col("doc_id") % 5 === 0, concat(col("source"), lit(" bad!")))
            .otherwise(col("source")))
      val res = Validate(docs,
        "head" -> graft.ext.FilterRegistry("django.slugify"),
        "src" -> graft.ext.FilterRegistry("django.slug"))
      res.flagged("src_ok")
        .select(col("doc_id"), col("head").as("slug"), col("src_ok"))
        .orderBy("doc_id")
    }),
    Case("q_mapper", Oracle(
      "SELECT * FROM (SELECT 'rec.event_type' AS key, 'not_valid_choice' AS code, COUNT(*) AS n FROM events WHERE event_type IS NOT NULL AND event_type NOT IN ('signup','purchase','error') UNION ALL SELECT 'rec.value' AS key, 'too_small' AS code, COUNT(*) AS n FROM events WHERE value IS NOT NULL AND value < 50.0) t WHERE n > 0 ORDER BY key, code"))((s, dir) => {
      val ev = T(s, dir, "events")
        .select(struct(col("event_type"), col("value")).as("rec"))
      val mapper = FilterMapper(Seq(
        "event_type" -> F.Choice(Seq("signup", "purchase", "error")),
        "value" -> F.Min(50.0)))
      Validate(ev, "rec" -> mapper).errorCodes.orderBy("key", "code")
    }),
    Case("q_mapper_dynamic", Oracle(
      ("SELECT * FROM (" +
        "SELECT 'm.k' AS key, 'missing_key' AS code, COUNT(*) AS n FROM events WHERE event_id % 4 = 3 " +
        "UNION ALL SELECT 'm.k', 'too_short', COUNT(*) FROM events WHERE event_id % 4 <> 3 AND length(CAST(event_id % 150 AS VARCHAR)) < 2 " +
        "UNION ALL SELECT 'm.v', 'missing_key', COUNT(*) FROM events WHERE event_id % 4 = 1 " +
        "UNION ALL SELECT 'm.z', 'extra_key', COUNT(*) FROM events WHERE event_id % 4 = 2" +
        ") t WHERE n > 0 ORDER BY key, code")))((s, dir) => {
      // runtime key policy over a map<string,string>: vary the key set by
      // event_id so all three policy codes fire (extra_key / missing_key /
      // a field-chain error on a present key)
      val ev = T(s, dir, "events")
      val ks = (col("event_id") % 150).cast("string")
      val m4 = col("event_id") % 4
      val ev2 = ev.withColumn("m",
        when(m4 === 0, map(lit("k"), ks, lit("v"), lit("ok")))
          .when(m4 === 1, map(lit("k"), ks))
          .when(m4 === 2, map(lit("k"), ks, lit("v"), lit("ok"), lit("z"), lit("boom")))
          .otherwise(map(lit("v"), lit("ok"))))
      val dyn = FilterMapperDynamic(
        Seq("k" -> F.MinLength(2), "v" -> F.Choice(Seq("ok", "meh"))),
        allowExtraKeys = false, allowMissingKeys = false)
      Validate(ev2, "m" -> dyn).errorCodes.orderBy("key", "code")
    }),
    Case("q_mapper_variant", Oracle(
      // outcome mirror from the generator columns: the five m5 shapes'
      // typed values, nulled-on-error fields, and pinned-order error
      // key/code strings (declared order qty,tag,score then extras)
      ("SELECT event_id, " +
        "CAST(CASE WHEN event_id % 5 = 0 AND event_id % 100 >= 5 THEN event_id % 100 " +
        "WHEN event_id % 5 = 2 THEN 7 END AS BIGINT) AS qty, " +
        "CASE WHEN event_id % 5 <= 3 THEN 't' || CAST(event_id % 10 AS VARCHAR) END AS tag, " +
        "CAST(CASE event_id % 5 WHEN 0 THEN 12.5 WHEN 1 THEN 3.5 WHEN 2 THEN 1.5 " +
        "WHEN 3 THEN 2.0 ELSE 0.5 END AS DOUBLE) AS score, " +
        "CASE WHEN event_id % 5 = 0 AND event_id % 100 < 5 THEN 'doc.qty' " +
        "WHEN event_id % 5 = 1 THEN 'doc.qty' " +
        "WHEN event_id % 5 = 2 THEN 'doc.x' " +
        "WHEN event_id % 5 = 4 THEN 'doc.qty,doc.tag' ELSE '' END AS err_keys, " +
        "CASE WHEN event_id % 5 = 0 AND event_id % 100 < 5 THEN 'too_small' " +
        "WHEN event_id % 5 = 1 THEN 'invalid_type' " +
        "WHEN event_id % 5 = 2 THEN 'extra_key' " +
        "WHEN event_id % 5 = 4 THEN 'missing_key,too_short' ELSE '' END AS err_codes " +
        "FROM events ORDER BY event_id")))((s, dir) => {
      // HETEROGENEOUS dynamic-dict mapper (r12 — closes the SURVEY §7
      // heterogeneous-values divergence): five deterministic JSON shapes
      // exercise every policy branch — valid typed values (with a chain
      // error on small qty), a string where bigint is expected
      // (invalid_type), an undeclared key (extra_key), a JSON null
      // (None-passthrough), and a missing key + number→string coercion
      // feeding a chain error. The oracle mirrors the OUTCOME from the
      // same generator columns (the established synthesized-fixture
      // pattern — DuckDB has no variant type to parse).
      val ev = T(s, dir, "events")
      val m5 = col("event_id") % 5
      val z = (col("event_id") % 10).cast("string")
      val q100 = (col("event_id") % 100).cast("string")
      val js = when(m5 === 0, concat(lit("{\"qty\": "), q100,
          lit(", \"tag\": \"t"), z, lit("\", \"score\": 12.5}")))
        .when(m5 === 1, concat(lit("{\"qty\": \"oops\", \"tag\": \"t"), z,
          lit("\", \"score\": 3.5}")))
        .when(m5 === 2, concat(lit("{\"qty\": 7, \"tag\": \"t"), z,
          lit("\", \"score\": 1.5, \"x\": true}")))
        .when(m5 === 3, concat(lit("{\"qty\": null, \"tag\": \"t"), z,
          lit("\", \"score\": 2.0}")))
        .otherwise(lit("{\"tag\": 9, \"score\": 0.5}"))
      val vm = FilterMapperVariant(Seq(
        ("qty", "bigint", F.Min(5.0)),
        ("tag", "string", F.MinLength(2)),
        ("score", "double", F.Max(100.0))), allowExtraKeys = false)
      val res = Validate(ev.withColumn("doc", parse_json(js)), "doc" -> vm)
      res.df.select(col("event_id"),
        col("doc.qty").as("qty"), col("doc.tag").as("tag"),
        col("doc.score").as("score"),
        array_join(transform(col("_errors"), e => e.getField("key")), ",").as("err_keys"),
        array_join(transform(col("_errors"), e => e.getField("code")), ",").as("err_codes"))
        .orderBy("event_id")
    }),
    Case("q_repeater", Oracle(
      // null array passes (None-passthrough -> ok TRUE), mirrored explicitly:
      // bare len(list_filter(NULL,..)) = 0 would yield NULL not TRUE
      "SELECT vec_id, CASE WHEN embedding IS NULL THEN TRUE ELSE len(list_filter(embedding, x -> x < -0.25 OR x > 0.25)) = 0 END AS ok FROM embeddings ORDER BY vec_id"))((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Validate(emb, "embedding" -> FilterRepeater(F.Min(-0.25) | F.Max(0.25)))
        .flagged("ok").select(col("vec_id"), col("ok")).orderBy("vec_id")
    }),
    Case("q_repeater_map", Oracle(
      // null value → null map values → None-passthrough → ok TRUE; the two
      // derived entries bound value to [20, 400] jointly
      ("SELECT event_id, CASE WHEN value IS NULL THEN TRUE ELSE " +
        "NOT (value < 10 OR value > 400 OR value / 2 < 10 OR value / 2 > 400) END AS ok " +
        "FROM events ORDER BY event_id")))((s, dir) => {
      // map-typed repeater: one chain over every map VALUE, errors keyed by
      // map key (m.v / m.half)
      val ev = T(s, dir, "events").withColumn("m",
        map(lit("v"), col("value"), lit("half"), col("value") / 2))
      Validate(ev, "m" -> FilterRepeaterMap(F.Min(10.0) | F.Max(400.0)))
        .flagged("ok").select(col("event_id"), col("ok")).orderBy("event_id")
    }),
    Case("q_switch", Oracle(
      "SELECT event_id, CASE WHEN event_type = 'purchase' THEN (value IS NULL OR value >= 10.0) WHEN event_type = 'error' THEN (value IS NULL OR value <= 500.0) ELSE TRUE END AS ok FROM events ORDER BY event_id"))((s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_id"), struct(col("event_type"), col("value")).as("rec"))
      val switch = FilterSwitch(_.getField("event_type"), Seq(
        "purchase" -> FilterMapper(Seq("value" -> F.Min(10.0))),
        "error" -> FilterMapper(Seq("value" -> F.Max(500.0)))),
        default = Some(F.NoOp()))
      Validate(ev, "rec" -> switch).flagged("ok")
        .select(col("event_id"), col("ok")).orderBy("event_id")
    }),
  )
}

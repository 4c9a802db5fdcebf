package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DateType, StringType, TimestampType}
import graft.core.ScalarFilter
import graft.expressions.native

/** Strip leading/trailing runs matching regex char classes (defaults:
  * whitespace + Unicode control, `[\p{C}\s]+` — Java regex supports \p{C}).
  * Reference: `filters/string.py::Strip`. */
case class Strip(leading: String = "[\\p{C}\\s]+", trailing: String = "[\\p{C}\\s]+")
    extends ScalarFilter {
  val name = "Strip"
  val code = "unused"
  // non-capturing group: without it an alternation pattern would unbind
  // the ^/$ anchors and strip interior matches
  override protected def clean(v: Column) =
    regexp_replace(regexp_replace(v, s"^(?:$leading)", ""), s"(?:$trailing)$$", "")
}

/** Unicode case folding (ICU full fold: ß→ss) — NOT `lower`.
  * Reference: `filters/string.py::CaseFold`. */
case class CaseFold() extends ScalarFilter {
  val name = "CaseFold"
  val code = "unused"
  override protected def clean(v: Column) = native.caseFold(v)
}

/** Decode/clean to normalized text: NFC, control-char strip, \n line
  * endings. Binary input is UTF-8 decoded first — and VALIDATED: bytes
  * that aren't well-formed UTF-8 reject with `bad_encoding` (the
  * reference's decode-error path) instead of silently garbling to U+FFFD.
  * Reference: `filters/string.py::Unicode`. */
case class Unicode(normalize: Boolean = true) extends ScalarFilter {
  val name = "Unicode"
  val code = "bad_encoding"
  // string inputs round-trip to valid UTF-8 bytes, so this only fires for
  // genuinely undecodable binary payloads
  override protected def invalid(v: Column) =
    !is_valid_utf8(v.cast(org.apache.spark.sql.types.BinaryType))
  override protected def clean(v: Column) =
    if (normalize) native.unicodeClean(v.cast(StringType)) else v.cast(StringType)
}

/** Strict base64 → binary (url-safe tolerated, garbage rejected — unlike
  * builtin `unbase64`). Reference: `filters/string.py::Base64Decode`. */
case class Base64Decode() extends ScalarFilter {
  val name = "Base64Decode"
  val code = "not_base64"
  override protected def defaultMessage = "This value is not valid base64."
  override protected def invalid(v: Column) = native.base64Strict(v).isNull
  override protected def clean(v: Column) = native.base64Strict(v)
}

/** Coerce to bytes (UTF-8 encode strings; stringify-then-encode others).
  * Reference: `filters/string.py::ByteString`. */
case class ByteString() extends ScalarFilter {
  val name = "ByteString"
  val code = "bad_encoding"
  override protected def clean(v: Column) = v.cast(StringType).cast(BinaryType)
}

/** Same binary coercion exposed under the reference's mutable-buffer name.
  * Reference: `filters/simple.py::ByteArray`. */
case class ByteArray() extends ScalarFilter {
  val name = "ByteArray"
  val code = "bad_encoding"
  override protected def clean(v: Column) = v.cast(StringType).cast(BinaryType)
}

/** The reference ByteArray's iterable-of-ints(0–255) input path, for
  * `array<int>` columns: elements validated and packed into bytes by a
  * native kernel (SURVEY.md §2.1 "int-list → custom expr over
  * ArrayType(IntegerType)"). Out-of-range or null elements reject.
  * Reference: `filters/simple.py::ByteArray`. */
case class ByteArrayFromInts() extends ScalarFilter {
  val name = "ByteArrayFromInts"
  val code = "bad_encoding"
  override protected def defaultMessage = "All elements must be bytes (0-255)."
  // try_cast widens/narrows any integral array to array<int> (tinyint
  // columns validate instead of failing analysis); an element overflowing
  // int becomes a null element, which the kernel rejects
  private def ints(v: Column) =
    native.bytesFromInts(native.tryCast(v,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)))
  override protected def invalid(v: Column) = ints(v).isNull
  override protected def clean(v: Column) = ints(v)
}

/** Validate + normalize IP literals (IPv6 → compressed lowercase); no DNS.
  * Reference: `filters/string.py::IpAddress`. */
case class IpAddress(ipv4: Boolean = true, ipv6: Boolean = false) extends ScalarFilter {
  val name = "IpAddress"
  val code = "not_ip_address"
  override protected def defaultMessage = "This value is not a valid IP address."
  override protected def invalid(v: Column) = native.ipNormalize(v, ipv4, ipv6).isNull
  override protected def clean(v: Column) = native.ipNormalize(v, ipv4, ipv6)
}

/** Parse JSON into a typed struct (schema DDL supplied — the static-schema
  * stance of SURVEY.md §1); malformed input rejected via `try_parse_json`.
  * Reference: `filters/string.py::JsonDecode`. */
case class JsonDecode(schemaDdl: String) extends ScalarFilter {
  val name = "JsonDecode"
  val code = "not_json"
  override protected def defaultMessage = "This value is not valid JSON."
  // Two-part check: the variant parser catches malformed JSON (from_json
  // is lenient there — truncated input yields a struct of nulls), and the
  // root-shape test catches VALID JSON that isn't an object (array/scalar
  // against a struct schema — from_json yields a struct of ALL-NULL
  // fields, so such input would otherwise pass as "valid" with its data
  // silently gone). For valid JSON, root-is-object ⟺ the first
  // non-whitespace char is '{'.
  override protected def invalid(v: Column) =
    try_parse_json(v).isNull || !ltrim(v).startsWith("{")
  override protected def clean(v: Column) = from_json(v, lit(schemaDdl))
}

/** Schema-free JSON parse into a Spark 4 `variant` value — the dynamic
  * counterpart of [[JsonDecode]] for payloads with no declared schema
  * (reference `JsonDecode` returns untyped dict/list/scalar; `variant` is
  * the Spark-native equivalent). Extract fields later with
  * `variant_get(col, "$.path", "type")`. */
case class JsonDecodeVariant() extends ScalarFilter {
  val name = "JsonDecodeVariant"
  val code = "not_json"
  override protected def defaultMessage = "This value is not valid JSON."
  override protected def invalid(v: Column) = try_parse_json(v).isNull
  override protected def clean(v: Column) = try_parse_json(v)
}

/** Byte-length cap. Reject mode (truncate=false): error when over.
  * Truncate mode: UTF-8-boundary-safe cut with optional prefix.
  * Reference: `filters/string.py::MaxBytes`. */
case class MaxBytes(maxBytes: scala.Int, truncate: Boolean = true, prefix: String = "")
    extends ScalarFilter {
  val name = "MaxBytes"
  val code = "too_long"
  override protected def defaultMessage = s"This value is longer than $maxBytes bytes."
  override protected def invalid(v: Column) =
    if (truncate) lit(false) else octet_length(v) > maxBytes
  override protected def clean(v: Column) =
    if (truncate) native.utf8Truncate(v, maxBytes, prefix) else v
}

/** Find ALL matches of a regex; no match → invalid. Cleaned value is the
  * array of matched substrings. Reference: `filters/string.py::Regex`. */
case class Regex(pattern: String) extends ScalarFilter {
  val name = "Regex"
  val code = "malformed"
  override protected def defaultMessage = s"This value does not match $pattern."
  override protected def invalid(v: Column) =
    size(regexp_extract_all(v, lit(pattern), lit(0))) === 0
  override protected def clean(v: Column) = regexp_extract_all(v, lit(pattern), lit(0))
}

/** Regex-split; with `keys`, zip parts into a named struct. The keyed
  * form REJECTS a part/key count mismatch (`wrong_count`) — silently
  * nulling missing fields or dropping extras would let malformed rows
  * flow downstream as valid data.
  * Reference: `filters/string.py::Split` (keyed arity ⚠ per SURVEY §2.2;
  * our behavior is pinned here and by `MiscFiltersSpec`). */
case class Split(pattern: String, keys: Seq[String] = Nil) extends ScalarFilter {
  val name = "Split"
  val code = "wrong_count"
  override protected def defaultMessage =
    s"Expected exactly ${keys.size} parts."
  override protected def invalid(v: Column) =
    if (keys.isEmpty) lit(false)
    else size(split(v, pattern)) =!= keys.size
  override protected def clean(v: Column) = {
    val parts = split(v, pattern)
    if (keys.isEmpty) parts
    else struct(keys.zipWithIndex.map { case (k, i) => parts.getItem(i).as(k) }: _*)
  }
}

/** Strict UUID parse → canonical lowercase form, optional version pin.
  * Reference: `filters/string.py::Uuid`. */
case class Uuid(version: Option[scala.Int] = None) extends ScalarFilter {
  val name = "Uuid"
  val code = "not_uuid"
  override protected def defaultMessage = "This value is not a valid UUID."
  override protected def invalid(v: Column) = {
    val norm = native.uuidNormalize(v)
    version match {
      case Some(ver) => norm.isNull || native.uuidVersion(norm) =!= ver
      case None      => norm.isNull
    }
  }
  override protected def clean(v: Column) = native.uuidNormalize(v)
}
object Uuid {
  def apply(version: scala.Int): Uuid = Uuid(Some(version))
}

/** Lenient-ish datetime parse → UTC timestamp. ISO-8601 (with or without
  * offset) plus caller-supplied extra formats; naive inputs interpreted in
  * `timezone`. `lenient = true` adds a BOUNDED heuristic tier approximating
  * the reference's dateutil behavior (`filters/simple.py::Datetime`):
  * English month-name formats in any case (long and abbreviated, with
  * optional ordinal day suffixes, abbreviation periods, a leading weekday
  * name, and 12-hour clocks in am/a.m./PM spellings), RFC-2822 tails
  * (numeric offset or GMT/UTC name), slash and dotted dates in dateutil's
  * two-tier order — `dayFirst = false` (the dateutil default) tries
  * `M/d/yyyy` first and falls back to `d/M/yyyy` exactly when the
  * month-first read is invalid (so `25/12/2024` parses under either
  * setting, like dateutil's swap-on-invalid rule), `dayFirst = true`
  * reverses the preference — `yyyy/M/d`, `yyyy.M.d`, month-year and bare-year
  * shapes (filled to the period's first instant, dateutil's default), and
  * pure-digit detection: epoch seconds (9-10 digits), epoch millis
  * (12-13), compact `yyyyMMdd` (8), bare year (4). Full dateutil fuzz
  * ("next Tuesday") stays out of scope (SURVEY §7 risk register). Reference: `filters/string.py`
  * (`Date`/`Datetime` live in the reference's simple module ⚠) —
  * `filters/simple.py::Datetime`.
  *
  * REQUIRES `spark.sql.session.timeZone=UTC` (the engine-wide contract;
  * Verify/Bench/tests pin it): `try_to_timestamp` parses offset-less
  * strings in the session zone, and the naive-input correction below
  * assumes that zone is UTC. */
class Datetime(val timezone: String = "UTC", val formats: Seq[String] = Nil,
               val lenient: Boolean = false, val dayFirst: Boolean = false)
    extends ScalarFilter {
  val name = "Datetime"
  val code = "not_datetime"
  override protected def defaultMessage = "This value is not a valid date/time."

  /** The lenient tier's format cascade, applied to the normalized string
    * (ordinals stripped, weekday dropped, am/pm canonicalized, month-name
    * periods removed, whitespace collapsed). Spark's parser rejects the
    * 'E' pattern letter for PARSING, so weekday names are normalized away
    * instead of matched. Ordered most-specific first; day-less shapes
    * (month-year, bare year) resolve to the period's first instant,
    * matching the reference parser's fill-in-missing-fields default. */
  private val lenientPre = Seq(
    "MMMM d, yyyy h:mm:ss a", "MMMM d, yyyy h:mm a", "MMM d, yyyy h:mm a",
    "MMMM d, yyyy", "MMMM d yyyy", "d MMMM yyyy HH:mm", "d MMMM yyyy",
    "MMM d, yyyy", "MMM d yyyy",
    // RFC-2822 tail (weekday already stripped; GMT/UTC names normalize to
    // +0000 so one numeric-offset pattern covers both)
    "d MMM yyyy HH:mm:ss Z",
    "d MMM yyyy HH:mm:ss", "d MMM yyyy")
  // dateutil's two-tier ambiguous-date rule: the dayFirst-preferred
  // order is tried first; the swapped order runs only when the preferred
  // read is invalid (try_to_timestamp → null), so "25/12/2024" parses
  // under either setting while "10/09/2024" follows the preference.
  private val slashMdy =
    Seq("M/d/yyyy h:mm a", "M/d/yyyy H:mm", "M/d/yyyy", "M.d.yyyy")
  private val slashDmy =
    Seq("d/M/yyyy h:mm a", "d/M/yyyy H:mm", "d/M/yyyy", "d.M.yyyy")
  private val lenientPost = Seq("yyyy/M/d", "yyyy.M.d", "MMMM yyyy", "MMM yyyy")

  /** The cascade as four order-independent TIERS — `parsed` is exactly
    * `coalesce(head, preferred-slash-order, swapped-slash-order, tail)`
    * with the slash order picked by `dayFirst`, so a dual-locale reader
    * can compute the tiers ONCE (and materialize them — e.g.
    * `localCheckpoint` a small frame) and then coalesce BOTH field-order
    * readings from leaf columns: the big lenient cascade is built and
    * analyzed a single time instead of once per reading. Returns
    * `(head, monthFirst, dayFirst, tail)`: head = strict ISO + caller
    * formats + the month-name/RFC-2822 lenient shapes, monthFirst /
    * dayFirst = the two ambiguous slash/dot groups, tail = year-first and
    * month-year shapes, compact digits, and epoch-digit instants. In
    * non-lenient mode the three lenient tiers are null literals. Every
    * tier carries the naive-input timezone correction (the correction is
    * elementwise, so it distributes over the coalesce). */
  def parsedTiers(v: Column): (Column, Column, Column, Column) = {
    val attempts = try_to_timestamp(v) +: formats.map(f => try_to_timestamp(v, lit(f)))
    val (preAttempts, mdyAttempts, dmyAttempts, postAttempts) = if (!lenient)
      (Nil, Nil, Nil, Nil)
    else {
      // "MON, 5th sept. 2024 3pm" → "5 Sep 2024 3 PM": initcap first
      // (Java's month-name parse is case-sensitive, the reference parser
      // is not — initcap canonicalizes January/jan/JAN alike), then drop
      // a leading weekday, canonicalize am/pm (a.m./pm/Pm. → AM/PM,
      // detached so 'a' matches), Sept → Sep (the one abbreviation Java's
      // MMM rejects), drop a period after a month abbreviation, strip
      // digit-anchored ordinal suffixes, collapse whitespace
      val norm = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(
          initcap(trim(v.cast(StringType))),
          "^(?i)(mon|tue|wed|thu|fri|sat|sun)[a-z]*,?\\s+", ""),
          "(?i)(?<=[\\d\\s])a\\.?m\\.?(?=$|[\\s,])", " AM"),
          "(?i)(?<=[\\d\\s])p\\.?m\\.?(?=$|[\\s,])", " PM"),
          "(?i)\\bsept(?=[\\s.,])", "Sep"),
          "(?i)(?<=[a-z])\\.(?=\\s)", ""),
          "(?<=\\d)(?i)(st|nd|rd|th)", ""),
        "\\s+", " ")
        // trailing GMT/UTC zone name → numeric offset (after whitespace
        // collapse so the lookbehind shapes are stable)
      val norm2 = regexp_replace(norm, "(?i)\\s(gmt|utc|ut)$", " +0000")
      def tier(fs: Seq[String]) = fs.map(f => try_to_timestamp(norm2, lit(f)))
      (tier(lenientPre), tier(slashMdy), tier(slashDmy), tier(lenientPost))
    }
    val epochAttempt = if (!lenient) Nil else {
      val s = trim(v.cast(StringType))
      // 9-10 digits → epoch seconds (1973–2286); 12-13 → epoch millis.
      // Absolute instants: they bypass the naive-input timezone correction.
      // 8 digits → compact yyyyMMdd; 4 digits → bare year (both NAIVE:
      // they re-enter through the corrected path below via lenientNaive).
      Seq(when(s.rlike("^\\d{9,10}$"), timestamp_seconds(s.cast("long")))
        .when(s.rlike("^\\d{12,13}$"), timestamp_millis(s.cast("long"))))
    }
    val compactAttempts = if (!lenient) Nil else {
      val s = trim(v.cast(StringType))
      Seq(when(s.rlike("^\\d{8}$"), try_to_timestamp(s, lit("yyyyMMdd")))
        .when(s.rlike("^\\d{4}$"), try_to_timestamp(s, lit("yyyy"))))
    }
    // Inputs carrying an explicit offset are already absolute; naive inputs
    // are interpreted in `timezone` then normalized to UTC. With an assumed
    // zone of UTC both paths are identity — skip the per-row offset regex.
    // The correction is elementwise and null-preserving, so wrapping each
    // TIER is identical to wrapping the whole coalesce (the r15 shape).
    val corrected: Column => Column =
      if (timezone == "UTC") identity
      else base => {
        // offset forms: Z, +HH, +HHMM, +HH:MM, +H:MM — but only AFTER a
        // time-of-day (colon form with 1- or 2-digit hour, or compact
        // 6-digit HHmmss from basic-ISO custom formats), else the day of a
        // date-only string ("2024-01-01") reads as an offset. A single-digit
        // offset hour REQUIRES the colon so a dash-separated trailing field
        // like "-123" (e.g. dash-millis formats) cannot backtrack-match as
        // "-1"+"23". Trailing whitespace tolerated — Spark's parser trims.
        // GMT/UTC zone names count as absolute too (the lenient tier
        // rewrites them to +0000 before parsing).
        val hasOffset = v.cast(StringType).rlike(
          "([0-9]{1,2}:[0-9]{2}(:[0-9]{2}(\\.[0-9]+)?)?|[0-9]{6}(\\.[0-9]+)?)\\s*" +
            "([Zz]|[+-]([0-9]{2}(:?[0-9]{2})?|[0-9](:[0-9]{2})?)|(?i:GMT|UTC|UT))\\s*$")
        when(hasOffset, base).otherwise(to_utc_timestamp(base, timezone))
      }
    val nullTs = lit(null).cast("timestamp")
    def tierCol(cs: Seq[Column]) =
      if (cs.isEmpty) nullTs else corrected(coalesce(cs: _*))
    (tierCol(attempts ++ preAttempts),
      tierCol(mdyAttempts),
      tierCol(dmyAttempts),
      coalesce(tierCol(postAttempts ++ compactAttempts) +: epochAttempt: _*))
  }

  protected def parsed(v: Column): Column = {
    val (head, mdy, dmy, tail) = parsedTiers(v)
    if (dayFirst) coalesce(head, dmy, mdy, tail)
    else coalesce(head, mdy, dmy, tail)
  }
  override protected def invalid(v: Column) = parsed(v).isNull
  override protected def clean(v: Column) = parsed(v)
}

object Datetime {
  def apply(timezone: String = "UTC", formats: Seq[String] = Nil,
            lenient: Boolean = false, dayFirst: Boolean = false): Datetime =
    new Datetime(timezone, formats, lenient, dayFirst)
}

/** Datetime then calendar date (UTC). Reference: `filters/simple.py::Date`. */
class Date(timezone: String = "UTC", formats: Seq[String] = Nil,
           lenient: Boolean = false, dayFirst: Boolean = false)
    extends Datetime(timezone, formats, lenient, dayFirst) {
  override val name = "Date"
  override val code = "not_date"
  override protected def clean(v: Column) = parsed(v).cast(DateType)
}
object Date {
  def apply(timezone: String = "UTC", formats: Seq[String] = Nil,
            lenient: Boolean = false, dayFirst: Boolean = false): Date =
    new Date(timezone, formats, lenient, dayFirst)
}

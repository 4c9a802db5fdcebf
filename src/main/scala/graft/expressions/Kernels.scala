package graft.expressions

import java.net.{Inet4Address, Inet6Address}
import java.text.Normalizer
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernels for the string filters Spark has no builtin for
  * (SURVEY.md §7 step 4). Exposed to Catalyst via `StaticInvoke` (see
  * [[native]]) so they run inside whole-stage codegen as direct static
  * calls — no UDF serialization, full null propagation.
  *
  * All methods are total: invalid input returns null (the wrapping filter
  * turns null into a coded error). JDK + ICU (ships with Spark 4) only.
  */
object Kernels {

  /** Kernels that NEVER return null for non-null inputs (total functions).
    * For these, `IsNotNull(kernel(args)) ≡ AND(IsNotNull(arg)...)` — the
    * `SimplifyKernelNullChecks` optimizer rule uses this to keep inferred
    * null guards from re-evaluating a kernel inside scan filters.
    * base64Strict / ipNormalize / uuidNormalize / dotI are EXCLUDED: they
    * return null to signal rejection of non-null input (dotI: dimension
    * mismatch), so eliding their null check would silently pass bad rows;
    * so is [[registrableDomain]] (null for IP hosts). */
  val totalKernels: Set[String] = Set(
    "nfc", "unicodeClean", "caseFold", "utf8Truncate", "rollingHash",
    "minhashSig", "minhashSigShingles", "sigAgreement", "dotD", "cosineD",
    "lshBucketD", "simHash", "uuidVersion",
    "zValue2", "zValue3", "maxAbsD", "quantizeI8D", "htmlEntityDecode",
    "percentNormalize", "latin1Misdecode", "fixMojibake",
    "languageId", "qualityScore", "charEntropy")

  /** NFC normalization (reference `filters/string.py::Unicode` normalize step). */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(Normalizer.normalize(s.toString, Normalizer.Form.NFC))

  /** Full `Unicode` filter cleanup: NFC normalize, normalize line endings to
    * \n, drop non-printable control characters (keeping \n and \t).
    * Reference: `filters/string.py::Unicode` (normalize=True path). */
  def unicodeClean(s: UTF8String): UTF8String = {
    // Strip FIRST, normalize LAST: a stripped control char can separate a
    // base char from its combining mark, and normalizing before stripping
    // would leave an uncomposed pair behind (breaking idempotence).
    // Iterate CODEPOINTS, not chars: astral FORMAT chars (tag chars,
    // U+E00xx) are surrogate pairs whose halves read as SURROGATE at the
    // char level and would slip through (and \p{Cf}-based oracles strip
    // them, so char-level iteration would silently drift).
    val n = s.toString
    val sb = new java.lang.StringBuilder(n.length)
    var i = 0
    while (i < n.length) {
      val cp = n.codePointAt(i)
      val w = Character.charCount(cp)
      if (cp == '\r') {
        // \r\n and bare \r both become \n
        if (i + 1 >= n.length || n.charAt(i + 1) != '\n') sb.append('\n')
      } else if (cp == '\n' || cp == '\t') sb.append(cp.toChar)
      else if (!Character.isISOControl(cp) && Character.getType(cp) != Character.FORMAT)
        sb.appendCodePoint(cp)
      i += w
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }

  /** Unicode case folding (reference `filters/string.py::CaseFold`,
    * `str.casefold` semantics: ß→ss, İ handled) via ICU — `lower()` is not
    * equivalent. ICU ships with Spark 4 (collation support). */
  def caseFold(s: UTF8String): UTF8String =
    UTF8String.fromString(
      com.ibm.icu.lang.UCharacter.foldCase(s.toString, com.ibm.icu.lang.UCharacter.FOLD_CASE_DEFAULT))

  /** Strict base64 decode (reference `filters/string.py::Base64Decode`):
    * strips whitespace, accepts url-safe alphabet (-_ → +/), fixes missing
    * padding, but REJECTS (null) any non-alphabet character or bad length —
    * unlike Spark's lenient `unbase64`. */
  def base64Strict(s: UTF8String): Array[Byte] = {
    val raw = s.toString.filterNot(_.isWhitespace).replace('-', '+').replace('_', '/')
    val unpadded = raw.reverse.dropWhile(_ == '=').reverse
    if (unpadded.exists(c => !(c.isLetterOrDigit && c < 128) && c != '+' && c != '/')) return null
    if (unpadded.length % 4 == 1) return null // impossible base64 length
    val padded = unpadded + "=" * ((4 - unpadded.length % 4) % 4)
    try java.util.Base64.getDecoder.decode(padded)
    catch { case _: IllegalArgumentException => null }
  }

  /** UTF-8-boundary-safe truncation to `maxBytes` (reference
    * `filters/string.py::MaxBytes` truncate mode): never splits a codepoint;
    * `prefix` (already counted against the budget) is prepended when the
    * value was actually truncated. */
  def utf8Truncate(s: UTF8String, maxBytes: Int, prefix: UTF8String): UTF8String = {
    if (s.numBytes <= maxBytes) return s
    val p = prefix.getBytes
    val budget = maxBytes - p.length
    if (budget <= 0) return UTF8String.fromBytes(p.take(math.max(maxBytes, 0)))
    val bytes = s.getBytes
    var end = budget
    // back off to a UTF-8 sequence start (byte not of form 10xxxxxx)
    while (end > 0 && (bytes(end) & 0xC0) == 0x80) end -= 1
    val out = new Array[Byte](p.length + end)
    System.arraycopy(p, 0, out, 0, p.length)
    System.arraycopy(bytes, 0, out, p.length, end)
    UTF8String.fromBytes(out)
  }

  /** Validate + normalize an IP literal (reference
    * `filters/string.py::IpAddress`): IPv4 dotted-quad, IPv6 RFC 5952
    * compressed lowercase output. Pure parse — never touches DNS (guava
    * `InetAddresses.forString` only accepts literals; guava ships with
    * Spark). Returns null if not a valid literal of an allowed family.
    * Scoped v6 literals (`fe80::1%eth0`) are rejected UP FRONT: guava's
    * `isInetAddress` accepts them and `forString` then resolves the zone
    * against the LOCAL machine's interfaces — it throws where the
    * interface doesn't exist and succeeds where it does, so without the
    * explicit rejection the same literal would crash one executor and
    * validate on another (environment-dependent behavior is exactly what
    * a 1000-executor job cannot have). The try/catch backstops any other
    * parse path guava throws on. */
  def ipNormalize(s: UTF8String, ipv4: Boolean, ipv6: Boolean): UTF8String = {
    val str = s.toString
    if (str.indexOf('%') >= 0) return null
    if (!com.google.common.net.InetAddresses.isInetAddress(str)) return null
    try {
      com.google.common.net.InetAddresses.forString(str) match {
        case a: Inet4Address if ipv4 => UTF8String.fromString(a.getHostAddress)
        case a: Inet6Address if ipv6 =>
          UTF8String.fromString(com.google.common.net.InetAddresses.toAddrString(a))
        case _ => null
      }
    } catch { case _: IllegalArgumentException => null }
  }

  /** RFC 3986 §6.2.2.1–.2 percent-encoding normalization in ONE pass:
    * uppercase the hex digits of every escape and decode escapes of
    * UNRESERVED characters (`%7Euser` → `~user`, `%2f` → `%2F`) — the
    * only octets whose encoded and bare forms the standard declares
    * equivalent; decoding reserved escapes (`%2F`) would change URL
    * semantics. Malformed escapes (`%4`, `%zz`) pass through verbatim —
    * garbage in, garbage out, but stable. Total function (in
    * [[totalKernels]]). Replaces a split-on-lookahead + transform +
    * array_join Column chain that allocated an array per URL. */
  def percentNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '%' && i + 2 < str.length &&
          Character.digit(str.charAt(i + 1), 16) >= 0 &&
          Character.digit(str.charAt(i + 2), 16) >= 0) {
        val v = Character.digit(str.charAt(i + 1), 16) * 16 +
          Character.digit(str.charAt(i + 2), 16)
        val unreserved = (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
          (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'
        if (unreserved) sb.append(v.toChar)
        else sb.append('%').append(Character.toUpperCase(str.charAt(i + 1)))
          .append(Character.toUpperCase(str.charAt(i + 2)))
        i += 3
      } else { sb.append(c); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  /** Strict UUID parse → canonical lowercase-hyphen form (reference
    * `filters/string.py::Uuid`). Accepts canonical, braced, urn-prefixed,
    * and 32-hex forms; rejects anything else (null). */
  def uuidNormalize(s: UTF8String): UTF8String = {
    var str = s.toString.trim
    if (str.startsWith("urn:uuid:")) str = str.substring(9)
    if (str.length >= 2 && str.charAt(0) == '{' && str.endsWith("}"))
      str = str.substring(1, str.length - 1)
    if (str.length == 32 && str.forall(c => Character.digit(c, 16) >= 0))
      str = str.substring(0, 8) + "-" + str.substring(8, 12) + "-" + str.substring(12, 16) +
        "-" + str.substring(16, 20) + "-" + str.substring(20)
    // on this shape `UUID.fromString(str).toString` is exactly the
    // lowercased input, so the shape check is the whole parse
    if (!UuidShape.matcher(str).matches()) return null
    UTF8String.fromString(str.toLowerCase(java.util.Locale.ROOT))
  }

  private val UuidShape = java.util.regex.Pattern.compile(
    "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")

  /** UUID version digit (1-5) of an already-canonical UUID string, -1 if malformed. */
  def uuidVersion(s: UTF8String): Int = {
    val str = s.toString
    if (str.length != 36) -1 else Character.digit(str.charAt(14), 16)
  }

  /** array<int> → bytes, each element validated to 0–255 (reference
    * `ByteArray` accepts an iterable of ints in that range); any
    * out-of-range element rejects the whole value (null). */
  def bytesFromInts(a: org.apache.spark.sql.catalyst.util.ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getInt(i)
      if (v < 0 || v > 255) return null
      out(i) = v.toByte
      i += 1
    }
    out
  }

  /** Dedup text normalization (the standard MinHash preprocessing from the
    * public text-dedup stacks): lowercase → NFD → strip combining marks →
    * collapse every non-alphanumeric run to one space → trim. Accent
    * semantics match DuckDB's `strip_accents` (both NFD-based: é→e, ł
    * kept), which is what lets the oracle mirror the full pipeline. One
    * pass per step over the string, no regex backtracking hazards. */
  def dedupNormalize(s: UTF8String): UTF8String = {
    val lowered = s.toString.toLowerCase(java.util.Locale.ROOT)
    val stripped = Normalizer.normalize(lowered, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(stripped.length)
    var i = 0
    var pendingSpace = false
    while (i < stripped.length) {
      val cp = stripped.codePointAt(i)
      val t = Character.getType(cp)
      val isMark = t == Character.NON_SPACING_MARK ||
        t == Character.COMBINING_SPACING_MARK || t == Character.ENCLOSING_MARK
      if (!isMark) {
        if (Character.isLetterOrDigit(cp)) {
          if (pendingSpace && sb.length > 0) sb.append(' ')
          pendingSpace = false
          sb.appendCodePoint(cp)
        } else pendingSpace = true
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  /** Polynomial rolling hash (Rabin–Karp style) over the whole string —
    * document fingerprinting primitive for the LLM-pipeline ops. Stable,
    * seed-free, platform-independent. */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L // prime
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    h
  }

  /** Count-min bucket `(a·k + b) mod 2^64, low bits` — Java long
    * arithmetic wraps mod 2^64 natively, which ANSI-mode Column `*`
    * refuses (it throws on overflow); `mask` = width − 1 for a
    * power-of-two width, so the signed result equals the unsigned
    * residue a second engine computes in 128-bit arithmetic. */
  def cmsAffineBucket(k: Long, a: Long, b: Long, mask: Long): Long =
    (a * k + b) & mask

  /** MinHash signature over whitespace tokens in ONE tight pass — the
    * Column-HOF formulation (`transform`+`array_min` per hash) evaluates
    * interpreted lambdas per element; this kernel runs JIT'd inside codegen.
    * Hash family: universal hashing h_k(t) = A_k·fnv1a(t) + B_k with A/B
    * derived from the seed via splitmix64. */
  def minhashSig(s: UTF8String, numHashes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var k = 0
    while (k < numHashes) { as(k) = splitmix64(2L * k + 1) | 1L; bs(k) = splitmix64(2L * k + 2); k += 1 }
    val str = s.toString
    val n = str.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(str.charAt(i))) {
        if (i > start) {
          var h = 0xcbf29ce484222325L
          var j = start
          while (j < i) { h ^= str.charAt(j); h *= 0x100000001b3L; j += 1 }
          k = 0
          while (k < numHashes) {
            val v = as(k) * h + bs(k)
            if (v < mins(k)) mins(k) = v
            k += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** MinHash signature over character k-shingles (n-gram flavor — more
    * discriminative than token sets on short/templated text). Same hash
    * family as [[minhashSig]]. */
  def minhashSigShingles(s: UTF8String, k: Int, numHashes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var j = 0
    while (j < numHashes) { as(j) = splitmix64(2L * j + 1) | 1L; bs(j) = splitmix64(2L * j + 2); j += 1 }
    val str = s.toString
    val n = str.length
    var i = 0
    while (i + k <= n) {
      var h = 0xcbf29ce484222325L
      var p = i
      while (p < i + k) { h ^= str.charAt(p); h *= 0x100000001b3L; p += 1 }
      var m = 0
      while (m < numHashes) {
        val v = as(m) * h + bs(m)
        if (v < mins(m)) mins(m) = v
        m += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Sequential dot product of two double arrays (deterministic
    * left-to-right summation — oracle-comparable). */
  def dotD(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var s = 0.0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** Cosine similarity of two double arrays in one pass; 0.0 on zero norm. */
  def cosineD(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Random-hyperplane LSH bucket (sign bits of `bits` pseudo-random ±1
    * projections, hyperplanes derived via splitmix64) in one pass. */
  def lshBucketD(v: org.apache.spark.sql.catalyst.util.ArrayData, bits: Int): Long = {
    val n = v.numElements()
    val proj = new Array[Double](bits)
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      var b = 0
      while (b < bits) {
        // ±1 component for (plane b, dim i)
        val sign = if ((splitmix64(b.toLong * 0x51_7c_c1_b7L + i) & 1L) == 0L) 1.0 else -1.0
        proj(b) += x * sign
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (proj(b) >= 0) out |= (1L << b); b += 1 }
    out
  }

  /** Fraction of positions where two equal-length long signatures agree —
    * the MinHash Jaccard estimate, as a single codegen'd loop. */
  def sigAgreement(a: org.apache.spark.sql.catalyst.util.ArrayData,
                   b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = a.numElements()
    if (n == 0 || b.numElements() != n) return 0.0
    var i = 0
    var m = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) m += 1; i += 1 }
    m.toDouble / n
  }

  /** 64-bit SimHash over whitespace tokens (near-dup fingerprint): each
    * token hashed (FNV-1a 64), its bits vote ±1, sign of each vote → bit. */
  def simHash(s: UTF8String): Long = {
    val votes = new Array[Int](64)
    val str = s.toString
    var start = 0
    var i = 0
    val n = str.length
    while (i <= n) {
      if (i == n || Character.isWhitespace(str.charAt(i))) {
        if (i > start) {
          var h = 0xcbf29ce484222325L // FNV-1a 64 over the token's chars
          var j = start
          while (j < i) { h ^= str.charAt(j); h *= 0x100000001b3L; j += 1 }
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Largest absolute element of a double array (0.0 for empty) — the
    * symmetric-quantization scale base. */
  def maxAbsD(a: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) { val v = math.abs(a.getDouble(i)); if (v > m) m = v; i += 1 }
    m
  }

  /** Symmetric int8 quantization against a max-abs scale base:
    * `q_i = clamp(floor(x_i * 127 / maxAbs + 0.5), -127, 127)` — plain
    * IEEE double arithmetic in left-to-right order, so any engine mirrors
    * it bit-exactly. `maxAbs <= 0` yields all zeros (null vector). Codes
    * are int-typed in the column (they FIT int8 — the storage win comes
    * from writing the column as `array<tinyint>`/binary downstream). */
  def quantizeI8D(a: org.apache.spark.sql.catalyst.util.ArrayData,
                  maxAbs: Double): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = a.numElements()
    val out = new Array[Int](n)
    if (maxAbs > 0.0) {
      var i = 0
      while (i < n) {
        val q = math.floor(a.getDouble(i) * 127.0 / maxAbs + 0.5)
        out(i) = math.max(-127.0, math.min(127.0, q)).toInt
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Product-quantization encode (Jégou, Douze, Schmid — "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011, public
    * method): split `v` (length m·subDim) into `m` subvectors; each code
    * is the index of the nearest of `k` centroids from the flat
    * `codebook` (layout `codebook[((j·k)+i)·subDim + d]`). The subspace
    * distance is Σ_d floor((x−c)²·1e9) summed as LONG — integer adds are
    * order-free and each term is bit-identical in any IEEE engine (the
    * q_kl_divergence exactness pattern), so the argmin (ties → smallest
    * index) is deterministic across partitionings AND mirrorable in SQL.
    * NULL on a length mismatch (a mis-dimensioned vector must surface). */
  def pqEncode(v: org.apache.spark.sql.catalyst.util.ArrayData,
               codebook: org.apache.spark.sql.catalyst.util.ArrayData,
               m: Int, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = v.numElements()
    if (m <= 0 || n % m != 0) return null
    val subDim = n / m
    if (codebook.numElements() != m * k * subDim) return null
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = Long.MaxValue
      var bestI = 0
      var i = 0
      while (i < k) {
        var acc = 0L
        var d = 0
        while (d < subDim) {
          val x = v.getDouble(j * subDim + d)
          val c = codebook.getDouble((j * k + i) * subDim + d)
          val t = (x - c) * (x - c)
          acc += math.floor(t * 1e9).toLong
          d += 1
        }
        if (acc < best) { best = acc; bestI = i }
        i += 1
      }
      out(j) = bestI
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-query PQ lookup table: entry `j·k + i` is the floor'd integer
    * distance (same 1e-9-grid form as [[pqEncode]]) between query
    * subvector `j` and centroid `(j, i)`. m·k longs per query — the
    * asymmetric-distance (ADC) table each candidate's codes index into. */
  def pqLut(q: org.apache.spark.sql.catalyst.util.ArrayData,
            codebook: org.apache.spark.sql.catalyst.util.ArrayData,
            m: Int, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = q.numElements()
    if (m <= 0 || n % m != 0) return null
    val subDim = n / m
    if (codebook.numElements() != m * k * subDim) return null
    val out = new Array[Long](m * k)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < k) {
        var acc = 0L
        var d = 0
        while (d < subDim) {
          val x = q.getDouble(j * subDim + d)
          val c = codebook.getDouble((j * k + i) * subDim + d)
          val t = (x - c) * (x - c)
          acc += math.floor(t * 1e9).toLong
          d += 1
        }
        out(j * k + i) = acc
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC scan step: approximate distance `Σ_j lut[j·k + codes_j]` —
    * integer adds, exact and order-free. NULL on shape mismatch. */
  def pqAdc(codes: org.apache.spark.sql.catalyst.util.ArrayData,
            lut: org.apache.spark.sql.catalyst.util.ArrayData,
            k: Int): java.lang.Long = {
    val m = codes.numElements()
    if (lut.numElements() != m * k) return null
    var s = 0L
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= k) return null
      s += lut.getLong(j * k + c)
      j += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** Integer dot product of two int arrays (NULL on length mismatch — a
    * dimension-mismatched embedding is a data error that must surface,
    * not silently rank as orthogonal/last) — the quantized-search scorer:
    * int8 codes × 4096 dims stay far inside long range, so the sum is
    * EXACT (no FP order sensitivity at all). Boxed return: StaticInvoke
    * with `returnNullable = true` null-checks non-primitive returns, so
    * the null propagates as SQL NULL through both the Column and SQL
    * registration paths. */
  def dotI(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) { s += a.getInt(i).toLong * b.getInt(i); i += 1 }
    java.lang.Long.valueOf(s)
  }

  /** Morton (Z-order) code of two non-negative 32-bit coordinates: bit i
    * of `a` lands at position 2i, bit i of `b` at 2i+1. The magic-mask
    * bit-spread runs in 10 shift/mask ops per coordinate — no loop. Inputs
    * outside [0, 2^32) are masked to their low 32 bits. */
  def zValue2(a: Long, b: Long): Long = {
    def spread(v0: Long): Long = {
      var v = v0 & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    spread(a) | (spread(b) << 1)
  }

  /** Morton code of three non-negative 21-bit coordinates (63 output
    * bits): bit i of `a` → 3i, of `b` → 3i+1, of `c` → 3i+2. Standard
    * every-third-bit magic masks; inputs masked to their low 21 bits. */
  def zValue3(a: Long, b: Long, c: Long): Long = {
    def spread(v0: Long): Long = {
      var v = v0 & 0x1FFFFFL
      v = (v | (v << 32)) & 0x1F00000000FFFFL
      v = (v | (v << 16)) & 0x1F0000FF0000FFL
      v = (v | (v << 8)) & 0x100F00F00F00F00FL
      v = (v | (v << 4)) & 0x10C30C30C30C30C3L
      v = (v | (v << 2)) & 0x1249249249249249L
      v
    }
    spread(a) | (spread(b) << 1) | (spread(c) << 2)
  }

  /** Named HTML entities decoded by [[htmlEntityDecode]]: the HTML 2.0/3.2
    * core plus the punctuation/typography set that dominates real crawl
    * text. Deliberately a SUBSET of HTML5's ~2200 names — unknown entities
    * pass through verbatim (stable, visible), never misdecode. */
  private val NamedEntities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    val pairs = Seq(
      "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
      "apos" -> "'", "nbsp" -> "\u00A0", "shy" -> "\u00AD",
      "copy" -> "©", "reg" -> "®", "trade" -> "™",
      "deg" -> "°", "plusmn" -> "±", "times" -> "×",
      "divide" -> "÷", "micro" -> "µ", "middot" -> "·",
      "bull" -> "•", "hellip" -> "…", "dagger" -> "†",
      "sect" -> "§", "para" -> "¶", "laquo" -> "«",
      "raquo" -> "»", "lsquo" -> "‘", "rsquo" -> "’",
      "ldquo" -> "“", "rdquo" -> "”", "ndash" -> "–",
      "mdash" -> "—", "prime" -> "′", "Prime" -> "″",
      "euro" -> "€", "pound" -> "£", "yen" -> "¥",
      "cent" -> "¢", "curren" -> "¤", "frac12" -> "½",
      "frac14" -> "¼", "frac34" -> "¾", "sup1" -> "¹",
      "sup2" -> "²", "sup3" -> "³", "szlig" -> "ß",
      "agrave" -> "à", "aacute" -> "á", "acirc" -> "â",
      "auml" -> "ä", "ccedil" -> "ç", "egrave" -> "è",
      "eacute" -> "é", "ecirc" -> "ê", "euml" -> "ë",
      "iacute" -> "í", "ntilde" -> "ñ", "oacute" -> "ó",
      "ocirc" -> "ô", "ouml" -> "ö", "oslash" -> "ø",
      "uacute" -> "ú", "uuml" -> "ü", "aring" -> "å",
      "aelig" -> "æ", "thorn" -> "þ", "eth" -> "ð")
    pairs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** HTML5 numeric-character-reference remap for 0x80–0x9F: the spec
    * (and browsers, and Python's html.unescape) interprets references in
    * the C1 control block through the windows-1252 table — `&#147;`
    * (ubiquitous in Word-exported HTML) means U+201C LEFT DOUBLE
    * QUOTATION MARK, not an invisible control byte that would survive
    * whitespace collapse and perturb fingerprint/dedup keys. The five
    * code points cp1252 leaves undefined (0x81 0x8D 0x8F 0x90 0x9D) are
    * rejected like every other control. */
  private val Cp1252Remap: Map[Int, Int] = Map(
    0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
    0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
    0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
    0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
    0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)

  /** Decode HTML character references: named ([[NamedEntities]] subset),
    * decimal (`&#65;`), and hex (`&#x1F600;` — supplementary planes via
    * `Character.toChars`, never broken surrogates). Numeric references
    * in 0x80–0x9F take the HTML5 windows-1252 remap ([[Cp1252Remap]]).
    * Single left-to-right pass, so `&amp;lt;` decodes to the LITERAL
    * `&lt;` (no double decode). Anything unrecognized — unknown name, no
    * `;` within 32 chars, code point out of range, a surrogate, or a
    * control — passes through verbatim. Total function (in
    * [[totalKernels]]): never null for non-null input. */
  def htmlEntityDecode(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      var decoded: String = null
      var next = i + 1
      if (c == '&') {
        val semi = str.indexOf(';', i + 1)
        if (semi > i + 1 && semi - i <= 32) {
          val body = str.substring(i + 1, semi)
          decoded =
            if (body.charAt(0) == '#') {
              val num = body.substring(1)
              val cp0 =
                try {
                  if (num.nonEmpty && (num.charAt(0) == 'x' || num.charAt(0) == 'X'))
                    Integer.parseInt(num.substring(1), 16)
                  else Integer.parseInt(num, 10)
                } catch { case _: NumberFormatException => -1 }
              // C1 block → windows-1252 (HTML5 §13.2.5.80); unmapped C1
              // code points fall to -1 and reject like other controls
              val cp = if (cp0 >= 0x80 && cp0 <= 0x9F)
                Cp1252Remap.getOrElse(cp0, -1) else cp0
              val surrogate = cp >= 0xD800 && cp <= 0xDFFF
              if ((Character.isValidCodePoint(cp) && !surrogate && cp >= 0x20)
                  || cp == '\n' || cp == '\t')
                new String(Character.toChars(cp))
              else null
            } else NamedEntities.get(body)
          if (decoded != null) next = semi + 1
        }
      }
      if (decoded != null) sb.append(decoded) else sb.append(c)
      i = if (decoded != null) next else i + 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** RFC 9309 (Robots Exclusion Protocol) rule matching: does `pattern`
    * match `path`? Patterns are path prefixes where `*` matches any run
    * of characters and a trailing `$` anchors the match to the path end;
    * `$` anywhere else is literal (per the RFC's grammar). Greedy
    * leftmost segment placement — the standard wildcard-prefix algorithm:
    * the first `*`-separated segment must sit at position 0, each later
    * segment at the earliest position after the previous one, and an
    * anchored pattern additionally requires the LAST segment to end
    * exactly at the path end. Empty pattern matches everything (the RFC's
    * "Disallow:" empty-value rule is dropped at parse time, so this only
    * serves `Allow:`-style universals). Total function: never throws,
    * never null for non-null inputs. */
  def robotsMatch(path: UTF8String, pattern: UTF8String): Boolean = {
    val p = path.toString
    var pat = pattern.toString
    var anchored = false
    if (pat.endsWith("$")) { anchored = true; pat = pat.substring(0, pat.length - 1) }
    // split on '*' keeping empty segments ("a**b" ≡ "a*b"; leading '*'
    // gives an empty first segment = unanchored start)
    val segs = pat.split("\\*", -1)
    var pos = 0
    var i = 0
    while (i < segs.length) {
      val seg = segs(i)
      if (i == 0) {
        if (!p.startsWith(seg)) return false
        pos = seg.length
      } else if (i == segs.length - 1 && anchored) {
        // last segment of an anchored pattern must END the path
        return p.length - seg.length >= pos && p.endsWith(seg)
      } else {
        val at = p.indexOf(seg, pos)
        if (at < 0) return false
        pos = at + seg.length
      }
      i += 1
    }
    // unanchored: pattern is a prefix-with-wildcards — already satisfied;
    // anchored single-segment (no '*') must end exactly at path end
    if (anchored && segs.length == 1) p.length == pos else true
  }

  /** The classic encoding corruption: a string's UTF-8 bytes re-decoded as
    * ISO-8859-1 ("café" → "cafÃ©"). Total and lossless — every byte maps
    * to exactly the Latin-1 char of its value, so [[fixMojibake]] inverts
    * it EXACTLY for any input. Exists as a kernel (not just a test helper)
    * because pipelines use it to synthesize corruption fixtures and to
    * round-trip-audit a repair pass. */
  def latin1Misdecode(s: UTF8String): UTF8String =
    // UTF8String.getBytes IS the UTF-8 encoding — no transcode needed
    UTF8String.fromString(
      new String(s.getBytes, java.nio.charset.StandardCharsets.ISO_8859_1))

  /** Repair UTF-8-misdecoded-as-Latin-1/Windows-1252 mojibake (the ftfy
    * `fix_encoding` core case, public method): map each char back to the
    * byte it misdecoded from — identity for U+0000–U+00FF, the inverse
    * Windows-1252 table for the 27 specials (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž
    * ‘ ’ “ ” • – — ˜ ™ š › œ ž Ÿ at 0x80–0x9F) — and strictly re-decode
    * as UTF-8. Repairs only when the whole string byte-maps AND decodes
    * cleanly AND the result differs; otherwise returns the input verbatim
    * (a lone "é" maps to byte E9, an invalid UTF-8 sequence — healthy
    * accented text is never touched). `passes` bounds iterative repair of
    * doubly-corrupted text ("cafÃƒÂ©" needs 2); each pass stops at the
    * first non-repair. Inherent heuristic limit (documented, same as
    * ftfy's): text that GENUINELY discusses mojibake ("the bytes Ã©…")
    * is indistinguishable from corruption and gets "repaired". Total:
    * never throws, never null for non-null input. */
  def fixMojibake(s: UTF8String, passes: Int): UTF8String = {
    var cur = s.toString
    var changed = false
    var p = 0
    var stop = false
    while (p < passes && !stop) {
      val next = mojibakeRepairOnce(cur)
      if (next == null) stop = true
      else { cur = next; changed = true }
      p += 1
    }
    if (changed) UTF8String.fromString(cur) else s
  }

  /** Deflate compression ratio of the text's UTF-8 bytes — the
    * information-density quality signal the public curation stacks ship
    * (Dolma/RedPajama-class rules drop documents whose text compresses
    * too well: boilerplate, keyword stuffing, generated spam — and too
    * poorly: binary junk in a text field). Raw deflate (nowrap, fixed
    * `level`, default strategy) over one whole-string pass; ratio =
    * compressed/raw bytes, empty → 1.0. Deterministic for a given input
    * and level on a given zlib build (java.util.zip everywhere this
    * library runs); cross-ENGINE replay is not claimed — no SQL oracle
    * exists, so its correctness home is the spec's invariants
    * (repetitive ≪ high-entropy, determinism, bounds) — the
    * [[Multimodal]] audio/image precedent. */
  def deflateRatio(s: UTF8String, level: Int): Double = {
    val bytes = s.getBytes
    if (bytes.length == 0) return 1.0
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    } finally d.end()
  }

  /** One repair pass; null = "not mojibake, leave alone". */
  private def mojibakeRepairOnce(t: String): String = {
    val n = t.length
    if (n == 0) return null
    val bytes = new Array[Byte](n)
    var hasHigh = false
    var i = 0
    while (i < n) {
      val c = t.charAt(i)
      if (c <= 0xFF) {
        if (c > 0x7F) hasHigh = true
        bytes(i) = c.toByte
      } else {
        val b = cp1252Reverse(c)
        if (b < 0) return null // not byte-representable — genuine text
        hasHigh = true
        bytes(i) = b.toByte
      }
      i += 1
    }
    if (!hasHigh) return null // pure ASCII — nothing to repair
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out == t) null else out
    } catch { case _: java.nio.charset.CharacterCodingException => null }
  }

  /** Inverse Windows-1252 mapping for the 0x80–0x9F specials (the cp1252
    * chars that are NOT Latin-1 identity); -1 = not a cp1252 byte. */
  private def cp1252Reverse(c: Char): Int = (c: @annotation.switch) match {
    case '€' => 0x80; case '‚' => 0x82; case 'ƒ' => 0x83
    case '„' => 0x84; case '…' => 0x85; case '†' => 0x86
    case '‡' => 0x87; case 'ˆ' => 0x88; case '‰' => 0x89
    case 'Š' => 0x8A; case '‹' => 0x8B; case 'Œ' => 0x8C
    case 'Ž' => 0x8E; case '‘' => 0x91; case '’' => 0x92
    case '“' => 0x93; case '”' => 0x94; case '•' => 0x95
    case '–' => 0x96; case '—' => 0x97; case '˜' => 0x98
    case '™' => 0x99; case 'š' => 0x9A; case '›' => 0x9B
    case 'œ' => 0x9C; case 'ž' => 0x9E; case 'Ÿ' => 0x9F
    case _ => -1
  }

  /** Jaro–Winkler similarity — the record-linkage string metric that
    * rewards shared prefixes (names, identifiers) where edit distance
    * treats every position alike. Standard parameters: matching window
    * `max(|s|,|t|)/2 − 1`, half-counted transpositions, Winkler boost
    * `jw = j + ℓ·0.1·(1−j)` applied only when `j > 0.7` with prefix
    * ℓ ≤ 4; both-empty and no-match pairs score 0 (the DuckDB
    * `jaro_winkler_similarity` conventions, probed and pinned in
    * `KernelPropsSpec` — which is what makes `q_jaro` oracle-able).
    * Operates on UTF-8 BYTES, not Java chars (r13 advice): DuckDB's
    * string-similarity functions are byte-oriented, so a char-level
    * kernel silently diverges from the pinned oracle convention on any
    * non-ASCII input (on ASCII the two are identical). Byte semantics
    * means a multi-byte code point counts as several positions — the
    * cross-engine-stable convention this SQL surface promises.
    * O(|s|·window) time, two small boolean scratch arrays,
    * codegen-resident StaticInvoke — map-only at any scale. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s = a.getBytes; val t = b.getBytes
    val n = s.length; val m = t.length
    if (n == 0 || m == 0) return 0.0
    val window = math.max(math.max(n, m) / 2 - 1, 0)
    val sMatch = new Array[Boolean](n)
    val tMatch = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val hi = math.min(m - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!tMatch(j) && s(i) == t(j)) {
          sMatch(i) = true; tMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var k = 0; var halfTrans = 0
    i = 0
    while (i < n) {
      if (sMatch(i)) {
        while (!tMatch(k)) k += 1
        if (s(i) != t(k)) halfTrans += 1
        k += 1
      }
      i += 1
    }
    val md = matches.toDouble
    val jaro = (md / n + md / m + (md - halfTrans / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(n, m))
    while (l < maxL && s(l) == t(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  // ------------------------------------------------------ curation scorers
  //
  // One pass per row each: tokenize once, probe hash sets. Kernels, not
  // Column forms: `filter`/`aggregate` lambdas run interpreted
  // (`CodegenFallback`) and outside subexpression elimination. Each
  // result is bit-identical to what the DuckDB oracles compute.

  /** Stopword sets per language for the heuristic scorers
    * ([[graft.ops.TextAnalysis.stopwords]]). */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "a", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "zh" -> Seq("的", "了", "在", "是", "我", "有", "和", "就", "不", "人"))

  /** Language codes in ascending order; bit `k` of a stopword's mask is
    * set when the word is in `StopLangs(k)`'s set. */
  private val StopLangs: Array[String] = Stopwords.keys.toArray.sorted
  private val StopLangsUtf8: Array[UTF8String] = StopLangs.map(UTF8String.fromString)
  private val Undetermined = UTF8String.fromString("und")
  private val StopMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]
    for ((lang, k) <- StopLangs.zipWithIndex; w <- Stopwords(lang))
      m.merge(w, 1 << k, (a: Integer, b: Integer) => Integer.valueOf(a | b))
    m
  }
  private val MaxStopwordLen = Stopwords.values.flatten.map(_.length).max

  /** Index of `lang` for [[qualityScore]]; throws on a language without
    * a stopword set. */
  def stopLangIndex(lang: String): Int = {
    require(Stopwords.contains(lang), s"no stopword set for language '$lang'")
    StopLangs.indexOf(lang)
  }

  /** Java regex `\s` (no UNICODE_CHARACTER_CLASS). */
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  /** Stopword hits per language (`StopLangs` order) over the tokens of
    * `split(lower(s), "\\s+", -1)`, with the token count in the last
    * slot. Tokens are the gaps between whitespace runs, so a leading or
    * trailing run yields an empty token and "" is one empty token. */
  private def stopwordHits(s: UTF8String): Array[Int] = {
    val t = s.toLowerCase.toString
    val out = new Array[Int](StopLangs.length + 1)
    val n = t.length
    var start = 0
    var nTok = 0
    while (start <= n) {
      var end = start
      while (end < n && !isSpace(t.charAt(end))) end += 1
      nTok += 1
      if (end > start && end - start <= MaxStopwordLen) {
        val m = StopMask.get(t.substring(start, end))
        if (m != null) {
          var k = 0
          while (k < StopLangs.length) {
            if ((m.intValue & (1 << k)) != 0) out(k) += 1
            k += 1
          }
        }
      }
      if (end == n) start = n + 1
      else {
        start = end
        while (start < n && isSpace(t.charAt(start))) start += 1
      }
    }
    out(StopLangs.length) = nTok
    out
  }

  /** Stopword-hit language ID: the language whose set hits the most
    * tokens, ties to the greatest code, zero hits "und". */
  def languageId(s: UTF8String): UTF8String = {
    val hits = stopwordHits(s)
    var best = -1
    var k = 0
    while (k < StopLangs.length) {
      if (hits(k) > 0 && (best < 0 || hits(k) >= hits(best))) best = k
      k += 1
    }
    if (best < 0) Undetermined else StopLangsUtf8(best)
  }

  /** `floor(x·1e6 + 0.5)` as a long, over 1e6: the library's
    * cross-engine rounding (see [[graft.ops.TextAnalysis.qualityScore]]). */
  private def round6(x: Double): Double = Math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** Quality score blend `0.4·min(len/500, 1) + 0.4·stopRatio +
    * 0.2·(1 − punctRatio)`, rounded by [[round6]]: `len` in code points,
    * stopRatio = hits of language `lang` ([[stopLangIndex]]) per token,
    * punctRatio = code points outside `[A-Za-z0-9\s]` per code point. */
  def qualityScore(s: UTF8String, lang: Int): Double = {
    val len = s.numChars()
    val hits = stopwordHits(s)
    val nTok = hits(StopLangs.length)
    val str = s.toString
    var punct = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (!((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
          (cp >= '0' && cp <= '9') || (cp < 128 && isSpace(cp.toChar)))) punct += 1
      i += Character.charCount(cp)
    }
    val lenScore = math.min(len.toDouble / 500.0, 1.0)
    val stopRatio = hits(lang).toDouble / nTok.toDouble // nTok >= 1
    val punctRatio = if (len == 0) 0.0 else punct.toDouble / len.toDouble
    round6(0.4 * lenScore + 0.4 * stopRatio + 0.2 * (1.0 - punctRatio))
  }

  /** Shannon entropy in bits per character, rounded by [[round6]].
    * Characters are the byte slices Spark's `substr(i, 1)` yields (one
    * per `numChars` position); the terms `-p·ln p` (`StrictMath.log`,
    * as Spark's `ln`) are summed over the distinct characters in
    * ascending byte order, then divided by ln 2. "" gives 0. */
  def charEntropy(s: UTF8String): Double = {
    val b = s.getBytes
    val nb = b.length
    if (nb == 0) return 0.0
    // each character packed big-endian into the high bytes, its length in
    // the low byte: unsigned order of the keys is the byte order of the
    // characters (a shorter prefix first)
    val keys = new Array[Long](nb)
    var n = 0
    var i = 0
    while (i < nb) {
      val len = math.min(UTF8String.numBytesForFirstByte(b(i)), nb - i)
      var key = 0L
      var j = 0
      while (j < len) { key |= (b(i + j) & 0xffL) << (56 - 8 * j); j += 1 }
      keys(n) = (key | len) ^ Long.MinValue // signed sort = unsigned order
      n += 1
      i += len
    }
    java.util.Arrays.sort(keys, 0, n)
    val total = n.toDouble
    var acc = 0.0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && keys(j) == keys(i)) j += 1
      val p = (j - i).toDouble / total
      acc = acc - p * StrictMath.log(p)
      i = j
    }
    round6(acc / 0.6931471805599453)
  }

  /** Public Suffix List rules split by kind (lowercased): `exacts`
    * (`co.uk`), `wilds` (`*.ck`, stored as `ck`) and `excs` (`!www.ck`,
    * stored as `www.ck`). Built once per expression instance
    * ([[PublicSuffixDomain]]), never per row. */
  final class PslRules(rules: Seq[String]) {
    private def set(xs: Seq[String]) = new java.util.HashSet[String](
      java.util.Arrays.asList(xs.map(_.toLowerCase): _*))
    val exacts: java.util.HashSet[String] =
      set(rules.filterNot(r => r.startsWith("*.") || r.startsWith("!")))
    val wilds: java.util.HashSet[String] = set(rules.filter(_.startsWith("*.")).map(_.drop(2)))
    val excs: java.util.HashSet[String] = set(rules.filter(_.startsWith("!")).map(_.drop(1)))
  }

  private val Ipv4Host = java.util.regex.Pattern.compile("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$")

  /** Registrable domain of a lowercased host under PSL rule semantics
    * (see [[graft.ops.Urls.registrableDomain]]), null for an IPv4 or
    * bracketed host. Labels are `split(host, "\\.", -1)` (empty labels
    * kept); with `n` labels, the suffix of depth `i` is the last `i`.
    * An exception match at depth `i` makes `i` labels registrable;
    * otherwise the public suffix is the deepest exact match `i` or
    * wildcard match `i + 1` (default 1) and the domain takes one label
    * more, capped at `n`. One hash probe per rule kind and depth. */
  def registrableDomain(host: UTF8String, rules: PslRules): UTF8String = {
    val h = host.toString
    if (h.startsWith("[") || Ipv4Host.matcher(h).find()) return null
    // starts(i - 1): offset of the suffix holding the last i labels
    var n = 1
    var k = 0
    while (k < h.length) { if (h.charAt(k) == '.') n += 1; k += 1 }
    val starts = new Array[Int](n)
    var depth = 1
    k = h.length - 1
    while (k >= 0) {
      if (h.charAt(k) == '.') { starts(depth - 1) = k + 1; depth += 1 }
      k -= 1
    }
    var exc = 0
    var ps = 1
    var i = 1
    while (i <= n) {
      val entry = h.substring(starts(i - 1))
      if (rules.excs.contains(entry)) exc = i
      if (rules.exacts.contains(entry)) ps = math.max(ps, i)
      if (rules.wilds.contains(entry)) ps = math.max(ps, i + 1)
      i += 1
    }
    val regLen = if (exc > 0) exc else math.min(ps + 1, n)
    if (regLen == n) host else UTF8String.fromString(h.substring(starts(regLen - 1)))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL canonicalization & URL-level dedup (SURVEY.md §2.6 extension) —
  * the first dedup pass of every web-scale curation pipeline (CCNet /
  * C4 / RefinedWeb): before any content hashing, collapse crawl records
  * that are the same page fetched under cosmetically different URLs
  * (scheme/host case, default ports, fragments, tracking parameters,
  * trailing slashes, query-parameter order, percent-encoding variants
  * of unreserved characters).
  *
  * Everything is a pure `Column` expression over Spark's native string
  * functions (`regexp_extract`, `split`, the `filter`/`transform`
  * higher-order functions) and the library's own kernels — map-only, no
  * UDFs; the only shuffle in the whole family is [[dedupByUrl]]'s one
  * exchange keyed by the canonical URL.
  *
  * Scope, documented rather than discovered: absolute `scheme://` URLs
  * only (anything else canonicalizes to NULL — a crawl record without
  * an absolute URL is malformed upstream); IPv6 bracket hosts are
  * preserved intact and RFC 5952-canonicalized (port rules applied —
  * `[2001:db8::1]` never splits at its colons); internationalized
  * domain names pass
  * through verbatim (no punycode table on board); "registrable domain"
  * follows Public-Suffix-List rule semantics over an embedded curated
  * rule subset ([[DefaultPublicSuffixRules]]) — callers with the full
  * published list pass it via [[registrableDomain(u:org\.apache\.spark\.sql\.Column,pslRules:Seq[String])*]].
  */
object Urls {

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val AuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private val PathQueryRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"

  /** Query parameters dropped by [[canonicalizeUrl]]: analytics
    * attribution keys that never change page content. Anchored prefix
    * match on `key=` — a bare valueless key survives (rare, and
    * dropping it would need lookahead, which RE2-class engines used by
    * cross-engine mirrors don't have). */
  private val TrackingRe = "^(utm_[^=]*|gclid|fbclid|ref)="

  /** Percent-encoding normalization (RFC 3986 §6.2.2.1–.2): uppercase
    * the hex digits of every escape and decode escapes of UNRESERVED
    * characters (`%7Euser` → `~user`, `%2f` → `%2F`). Malformed escapes
    * (`%4`, `%zz`) pass through verbatim — garbage in, garbage out, but
    * stable. One native single-pass kernel
    * ([[graft.expressions.Kernels.percentNormalize]], codegen-resident
    * `StaticInvoke` like the other scalar kernels) — replaced a
    * split-on-lookahead + transform + array_join Column chain that
    * allocated an array per URL on the hottest canonicalization path. */
  private def normalizePercent(s: Column): Column =
    graft.expressions.native.percentNormalize(s)

  /** Host of `hostport`, lowercased: the full bracketed literal for
    * IPv6 (`[2001:DB8::1]:8080` → `[2001:db8::1]` — naive first-colon
    * truncation would mangle every v6 host into `[2001`), RFC
    * 5952-canonicalized via the [[graft.expressions.Kernels.ipNormalize]]
    * kernel when the literal parses (`[2001:0db8::1]` ≡ `[2001:db8::1]`
    * — spelling variants of one address merge); non-parsing bracket
    * contents (zone ids, garbage) fall back to lowercased-verbatim — the
    * conservative direction, distinct hosts never merge. Everything
    * before the first colon otherwise. Empty when malformed (unclosed
    * bracket). */
  private def hostOf(hostport: Column): Column = {
    val inner = lower(regexp_extract(hostport, "^\\[([^\\]]+)\\]", 1))
    val bracket = when(inner === "", lit(""))
      .otherwise(concat(lit("["),
        coalesce(graft.expressions.native.ipNormalize(inner, ipv4 = false, ipv6 = true),
          inner),
        lit("]")))
    when(substring(hostport, 1, 1) === "[", bracket)
      .otherwise(lower(regexp_extract(hostport, "^([^:]*)", 1)))
  }

  /** Port digits of `hostport` ("" when absent), bracket-aware. */
  private def portOf(hostport: Column): Column =
    when(substring(hostport, 1, 1) === "[",
      regexp_extract(hostport, "^\\[[^\\]]+\\]:([0-9]+)$", 1))
    .otherwise(regexp_extract(hostport, ":([0-9]+)$", 1))

  private def hostportOf(u: Column): Column = {
    val auth = regexp_extract(u, AuthorityRe, 1)
    // after the LAST '@' (userinfo may itself contain '@' percent-variants)
    regexp_extract(auth, "([^@]*)$", 1)
  }

  /** Lowercased host of an absolute URL, with userinfo and port
    * stripped; IPv6 bracket literals kept whole; NULL when the input
    * has no `scheme://` prefix. */
  def urlHost(u: Column): Column = urlHostParsed(parseUrl(u))

  /** One-pass structural parse of an absolute URL:
    * `struct(scheme, host, port, pq)` — scheme lowercased (empty when
    * the input has no `scheme://` prefix), host per [[urlHost]]'s rules
    * but EMPTY (not null) when absent, port digits ("" when absent),
    * `pq` the raw path+query substring (percent-encoding untouched —
    * [[canonicalizeUrlParsed]] normalizes it).
    *
    * The parse-once form of [[canonicalizeUrl]] / [[urlHost]] /
    * [[registrableDomain]] for queries deriving SEVERAL outputs from
    * one URL expression: materialize this struct in its own projection
    * and feed the `*Parsed` variants. Each single-column convenience
    * wrapper re-inlines its input into every regexp — harmless on a
    * plain column, but a synthesized `when`/`concat` URL tree then
    * codegens once PER OUTPUT (conditional branches and lambda bodies
    * block Spark's subexpression elimination), which tripled
    * `q_url_canon`-shaped queries' generated code and their cold-JIT
    * cost. Catalyst does not collapse the two projections because the
    * struct is non-cheap and multiply-referenced, so the parse is
    * emitted exactly once. */
  def parseUrl(u: Column): Column = {
    val hostport = hostportOf(u)
    struct(
      lower(regexp_extract(u, SchemeRe, 1)).as("scheme"),
      hostOf(hostport).as("host"),
      portOf(hostport).as("port"),
      regexp_extract(u, PathQueryRe, 1).as("pq"))
  }

  /** [[urlHost]] over a [[parseUrl]] struct. */
  def urlHostParsed(p: Column): Column = {
    val host = p.getField("host")
    when(p.getField("scheme") === "" || host === "",
      lit(null).cast("string")).otherwise(host)
  }

  /** Curated subset of the public ICANN Public Suffix List: the
    * second-level country-code suffixes (`co.uk`, `com.au`, …) that
    * cover the bulk of ccTLD registrations on a real crawl, plus the
    * PSL's wildcard (`*.ck` — every direct child of `ck` is a public
    * suffix) and exception (`!www.ck`) rule forms. Unlisted TLDs fall
    * back to the PSL default rule `*` (the TLD itself is the suffix),
    * which reproduces the classic last-two-labels heuristic — so this
    * list only ever CORRECTS groupings, never breaks `example.com`.
    * Callers with the full published list (https://publicsuffix.org)
    * pass it to [[registrableDomain(u:org\.apache\.spark\.sql\.Column,pslRules:Seq[String])*]] verbatim — the rule grammar
    * is the PSL's own. */
  val DefaultPublicSuffixRules: Seq[String] = Seq(
    // United Kingdom
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk", "police.uk", "sch.uk",
    // Australia
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    // Japan
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    // New Zealand
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "kiwi.nz",
    "maori.nz", "mil.nz", "net.nz", "org.nz", "school.nz",
    // Brazil
    "com.br", "edu.br", "gov.br", "mil.br", "net.br", "org.br",
    // China
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn", "org.cn",
    // India
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    // South Africa
    "ac.za", "co.za", "edu.za", "gov.za", "mil.za", "net.za", "org.za",
    "web.za",
    // South Korea
    "ac.kr", "co.kr", "go.kr", "mil.kr", "ne.kr", "or.kr", "pe.kr", "re.kr",
    // Taiwan / Hong Kong / Singapore
    "com.tw", "edu.tw", "gov.tw", "idv.tw", "net.tw", "org.tw",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg",
    // Mexico / Argentina / Colombia
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    "com.ar", "edu.ar", "gob.ar", "int.ar", "mil.ar", "net.ar", "org.ar",
    "com.co", "edu.co", "gov.co", "mil.co", "net.co", "nom.co", "org.co",
    // Turkey / Israel / Ukraine / Poland
    "com.tr", "edu.tr", "gov.tr", "mil.tr", "net.tr", "org.tr", "web.tr",
    "ac.il", "co.il", "gov.il", "muni.il", "net.il", "org.il",
    "com.ua", "edu.ua", "gov.ua", "in.ua", "net.ua", "org.ua",
    "com.pl", "edu.pl", "gov.pl", "net.pl", "org.pl", "waw.pl",
    // Indonesia / Thailand / Malaysia / Philippines / Vietnam
    "ac.id", "co.id", "go.id", "my.id", "or.id", "sch.id", "web.id",
    "ac.th", "co.th", "go.th", "in.th", "net.th", "or.th",
    "com.my", "edu.my", "gov.my", "net.my", "org.my",
    "com.ph", "edu.ph", "gov.ph", "net.ph", "org.ph",
    "com.vn", "edu.vn", "gov.vn", "net.vn", "org.vn",
    // Pakistan / Nigeria / Kenya / Egypt / Saudi Arabia
    "com.pk", "edu.pk", "gov.pk", "net.pk", "org.pk",
    "com.ng", "edu.ng", "gov.ng", "net.ng", "org.ng",
    "ac.ke", "co.ke", "go.ke", "ne.ke", "or.ke", "sc.ke",
    "com.eg", "edu.eg", "gov.eg", "net.eg", "org.eg",
    "com.sa", "edu.sa", "gov.sa", "net.sa", "org.sa",
    // PSL wildcard + exception rule forms (real PSL entries)
    "*.bd", "*.ck", "!www.ck", "*.jm", "*.kh", "*.mm", "*.np", "*.pg")

  /** Registrable domain of an absolute URL's host under Public Suffix
    * List rule semantics, against the embedded
    * [[DefaultPublicSuffixRules]] subset. See the two-arg overload for
    * the algorithm; pass `Nil` for the pure last-two-labels fallback. */
  def registrableDomain(u: Column): Column =
    registrableDomain(u, DefaultPublicSuffixRules)

  /** Registrable domain under PSL rule semantics ("domain" in every
    * crawl-pipeline sense: the unit a site's pages share — the stratum
    * key of [[Boilerplate.removeFrequentLinesByStratum]] and the
    * grouping the naive last-two-labels heuristic got wrong for every
    * ccTLD site: `foo.co.uk` grouped under `co.uk`).
    *
    * Rule grammar is the PSL's own: `"co.uk"` exact, `"*.ck"` wildcard
    * (any direct child of `ck` is a public suffix), `"!www.ck"`
    * exception (`www.ck` is registrable despite the wildcard). The
    * longest matching rule wins; unmatched hosts take the default rule
    * `*` (TLD itself is the suffix → last two labels). Total function:
    * a host that IS a public suffix maps to itself (a grouping key must
    * not degenerate to NULL), and IP hosts (v4 dotted-quad or v6
    * bracket) map to NULL — an address has no registrable domain.
    *
    * Shape: one native kernel pass per row
    * ([[graft.expressions.PublicSuffixDomain]]): the rules are split into
    * three hash sets once per expression instance, and each row costs
    * O(labels) suffix substrings with three hash probes each, whatever
    * the rule count — codegen'd, no interpreted lambdas. The rule list
    * ships inside the expression with every task (the full PSL is ~9k
    * short strings); [[registrableDomainViaTable]] keeps it in a
    * broadcast table instead. */
  def registrableDomain(u: Column, pslRules: Seq[String]): Column =
    graft.expressions.native.registrableDomain(urlHost(u), pslRules)

  /** [[registrableDomain]] over a [[parseUrl]] struct. */
  def registrableDomainParsed(p: Column,
      pslRules: Seq[String] = DefaultPublicSuffixRules): Column =
    graft.expressions.native.registrableDomain(urlHostParsed(p), pslRules)

  /** [[registrableDomain]] with the rules kept in a table rather than
    * shipped inside the expression (a rule list that already lives in a
    * table, or one too large to send with every task): explode the
    * host's suffix chain, equi-join a broadcast rules table,
    * longest-match reduce — identical semantics to the kernel path
    * (spec-asserted equal on
    * [[DefaultPublicSuffixRules]]), appended as `outCol`.
    *
    * `rulesDf` holds one PSL rule per row in `rulesCol`, the list's own
    * grammar verbatim: `co.uk` exact, `*.ck` wildcard, `!www.ck`
    * exception.
    *
    * Scale shape: the rules table broadcasts (~9k rows); the explode is
    * a ~#labels× row fan-out (hosts run 3–5 labels) feeding a
    * partial-aggregated groupBy on `idCol` and one id-keyed join back,
    * so it costs a shuffle the kernel path does not.
    * Null/IP hosts yield NULL like the kernel path; rows are preserved
    * 1:1 (`posexplode_outer` keeps null-host rows through the
    * round-trip). `idCol` must be unique per row — it is the reassembly
    * key. */
  def registrableDomainViaTable(df: DataFrame, rulesDf: DataFrame,
                                urlCol: String, idCol: String,
                                outCol: String = "domain",
                                rulesCol: String = "rule"): DataFrame = {
    val rule = lower(trim(col(rulesCol)))
    val rules = rulesDf.select(rule.as("__r"))
      .filter(col("__r").isNotNull && col("__r") =!= "")
      .select(
        when(col("__r").startsWith("*."), expr("substring(__r, 3)"))
          .when(col("__r").startsWith("!"), expr("substring(__r, 2)"))
          .otherwise(col("__r")).as("__sfx"),
        // rule kind → the match's public-suffix LENGTH contribution:
        // exact at depth i gives ps=i, wildcard parent at depth i gives
        // ps=i+1, exception at depth i gives exc=i (wins outright)
        when(col("__r").startsWith("*."), lit(1)).otherwise(lit(0)).as("__add"),
        col("__r").startsWith("!").as("__isExc"))
      .dropDuplicates("__sfx", "__add", "__isExc")
    val host = urlHost(col(urlCol))
    val exploded = df.select(col(idCol),
        posexplode_outer(hostSuffixes(col(urlCol))).as(Seq("__pos", "__sfx_h")))
    val lens = exploded
      .join(broadcast(rules), col("__sfx_h") === col("__sfx"), "left")
      .groupBy(col(idCol))
      .agg(
        max(col("__pos")).as("__maxpos"),
        coalesce(max(when(col("__isExc"), col("__pos") + 1)), lit(0)).as("__exc"),
        greatest(coalesce(max(when(!col("__isExc"), col("__pos") + 1 + col("__add"))),
          lit(0)), lit(1)).as("__ps"))
    val n = col("__maxpos") + 1
    val regLen = when(col("__exc") > 0, col("__exc"))
      .otherwise(least(col("__ps") + 1, n))
    val labels = split(host, "\\.")
    val isIp = host.rlike("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$") ||
      substring(host, 1, 1) === "["
    df.join(lens, Seq(idCol))
      .withColumn(outCol,
        when(host.isNull || isIp, lit(null).cast("string"))
          .otherwise(array_join(slice(labels, -regLen, regLen), ".")))
      .drop("__maxpos", "__exc", "__ps")
  }

  /** Canonical form of an absolute URL, NULL for anything else:
    *
    *   - scheme and host lowercased, userinfo dropped; IPv6 bracket
    *     hosts kept whole and RFC 5952-canonicalized when the literal
    *     parses (`[2001:0db8::1]` ≡ `[2001:db8::1]` ≡
    *     `[2001:db8:0:0:0:0:0:1]` — leading zeros stripped, longest
    *     zero run compressed, via the ipNormalize kernel); bracket
    *     contents that don't parse as v6 (zone ids, garbage) stay
    *     lowercased-verbatim — distinct hosts never merge;
    *   - default ports dropped (`http:80`, `https:443`), others kept;
    *   - path: trailing slashes stripped, empty path becomes `/`;
    *   - percent-encoding normalized (RFC 3986 §6.2.2.1–.2): escape hex
    *     uppercased, escapes of unreserved characters decoded
    *     (`%7Euser` ≡ `~user`); reserved escapes (`%2F`) preserved —
    *     decoding them would change the URL's meaning;
    *   - query: tracking parameters ([[TrackingRe]]) and empty
    *     fragments dropped, survivors SORTED (byte order) and rejoined —
    *     parameter order never changes page identity; an emptied query
    *     loses its `?`;
    *   - fragment dropped (client-side only, never sent to the server).
    *
    * Two URLs canonicalizing equal are the same resource under RFC 3986
    * §6 comparison minus the documented approximations. */
  def canonicalizeUrl(u: Column): Column = canonicalizeUrlParsed(parseUrl(u))

  /** [[canonicalizeUrl]] over a [[parseUrl]] struct. */
  def canonicalizeUrlParsed(p: Column): Column = {
    val scheme = p.getField("scheme")
    val host = p.getField("host")
    val port = p.getField("port")
    // normalize escapes over path+query as one string: decoding an
    // unreserved octet can never create or destroy a '/', '?', or '&'
    // (all reserved), so the later structural splits are unaffected
    val pq = normalizePercent(p.getField("pq"))
    val rawPath = regexp_extract(pq, "^([^?]*)", 1)
    val rawQuery = regexp_extract(pq, "\\?(.*)$", 1)
    val strippedPath = regexp_replace(rawPath, "/+$", "")
    val path = when(strippedPath === "", lit("/")).otherwise(strippedPath)
    val params = filter(split(rawQuery, "&"),
      p => p =!= "" && !p.rlike(TrackingRe))
    val cleanQuery = array_join(array_sort(params), "&")
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val queryPart = when(cleanQuery === "", lit(""))
      .otherwise(concat(lit("?"), cleanQuery))
    when(scheme === "" || host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portPart, path, queryPart))
  }

  /** Host suffix-label chains of an absolute URL's host, shortest first:
    * `a.b.ex.org` → `[org, ex.org, b.ex.org, a.b.ex.org]`. The matching
    * unit for blocklists — label-boundary suffixes, never substrings
    * (`ex.org` must block `a.ex.org` but not `index.org`). NULL for
    * non-absolute inputs. */
  def hostSuffixes(u: Column): Column = {
    val labels = split(urlHost(u), "\\.")
    transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, -i, i), "."))
  }

  /** Keep only rows whose URL host is NOT a blocked domain nor any
    * subdomain of one. The blocklist embeds as a literal array and the
    * test is one `arrays_overlap` over the host's suffix chain — map-only
    * and codegen-resident, O(labels) per row regardless of list size
    * (real blocklists run 10⁴–10⁶ entries; a CASE/rlike chain would blow
    * codegen, and substring matching would over-block). Rows with
    * non-absolute URLs are kept — filtering malformed records is
    * [[dedupByUrl]]'s / the validator layer's decision, not a blocklist
    * hit. For blocklists past literal-embedding size, use
    * [[filterBlockedDomainsViaTable]]. */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
                           blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist: nothing to filter")
    val hit = arrays_overlap(hostSuffixes(col(urlCol)),
      typedLit(blocked.map(_.toLowerCase)))
    df.filter(!coalesce(hit, lit(false)))
  }

  /** [[filterBlockedDomains]] for blocklists past literal-embedding size
    * (abuse feeds run 10⁶+ entries): explode the host's suffix chain,
    * semi-join the blocklist table for the hit set, anti-join it away —
    * identical semantics to the literal path (label-boundary suffixes,
    * case-insensitive, non-absolute URLs kept; spec-asserted equal).
    *
    * `blockedDf` holds one blocked domain per row in `blockedCol`.
    * `idCol` must be unique per row — it keys the anti-join. Scale
    * shape: the blocklist broadcasts when it fits (Spark picks the
    * strategy from its size — past the broadcast threshold both joins
    * hash-partition, which is exactly right for a multi-GB feed); the
    * hit set is blocked-rows-sized, far smaller than the corpus. */
  def filterBlockedDomainsViaTable(df: DataFrame, blockedDf: DataFrame,
                                   urlCol: String, idCol: String,
                                   blockedCol: String = "domain"): DataFrame = {
    val blocked = blockedDf
      .select(lower(trim(col(blockedCol))).as("__blocked"))
      .filter(col("__blocked").isNotNull && col("__blocked") =!= "")
      .distinct()
    val hits = df
      .select(col(idCol), explode(hostSuffixes(col(urlCol))).as("__sfx"))
      .join(blocked, col("__sfx") === col("__blocked"), "left_semi")
      .select(col(idCol)).distinct()
    df.join(hits, Seq(idCol), "left_anti")
  }

  /** URL-level exact dedup: keep, per canonical URL, the single row with
    * the smallest `idCol` (deterministic "first fetch wins" — same
    * nesting property as [[Sampling.capPerStratum]]: the survivor set is
    * stable under corpus growth that only appends larger ids). Rows
    * whose URL does not canonicalize (NULL) drop — they are malformed
    * crawl records, not deduplicable resources. The canonical form is
    * appended as `canonCol`.
    *
    * Scale shape: one exchange keyed by the canonical URL. The
    * `row_number ≤ 1` compiles to `WindowGroupLimit`, so every map task
    * pre-prunes to ONE row per canonical URL before the shuffle — a URL
    * crawled a million times ships at most #map-partitions rows, never
    * a million (the same skew bound as the hot-bucket guards in
    * [[Dedup]]). Canonical URLs are near-unique keys, so the exchange
    * spreads evenly at any corpus size. */
  def dedupByUrl(df: DataFrame, urlCol: String, idCol: String,
                 canonCol: String = "url_canonical"): DataFrame = {
    val w = Window.partitionBy(col(canonCol)).orderBy(col(idCol))
    df.withColumn(canonCol, canonicalizeUrl(col(urlCol)))
      .filter(col(canonCol).isNotNull)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** URL path-template mining — collapse id-bearing path segments to
    * placeholders and count URLs per `(host, template)`: the crawl
    * STRUCTURE map ("this host is 4M product pages and 200 category
    * pages") that drives per-template sampling caps and detects crawler
    * traps (one template exploding in count). Hex runs of 8+ (UUIDs,
    * content hashes) collapse to `{hex}` first, then digit runs to
    * `{n}` — both patterns in the Java∩RE2 subset so a second engine
    * replays them. Query strings are ignored (template identity is the
    * path); hostless/null URLs drop.
    *
    * Output: `(host, template, n_urls, n_ids)` — total URLs and
    * distinct concrete paths per template. One map-only projection +
    * one partial-agg exchange on (host, template); distinct paths via
    * HLL when `exact = false` (the 100 TB default-off switch). */
  def urlTemplates(df: DataFrame, urlCol: String,
                   exact: Boolean = true): DataFrame = {
    val p = parseUrl(col(urlCol))
    val host = urlHostParsed(p)
    val path = regexp_extract(p.getField("pq"), "^[^?#]*", 0)
    val tmpl = regexp_replace(
      regexp_replace(path, "[0-9a-f]{8,}", "{hex}"),
      "[0-9]+", "{n}")
    val nIds =
      if (exact) countDistinct(col("__path"))
      else approx_count_distinct(col("__path"))
    df.filter(col(urlCol).isNotNull)
      .select(host.as("host"), tmpl.as("template"), path.as("__path"))
      .filter(col("host").isNotNull)
      .groupBy(col("host"), col("template"))
      .agg(count(lit(1)).as("n_urls"), nIds.cast("long").as("n_ids"))
  }
}

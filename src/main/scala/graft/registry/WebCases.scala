package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkEntry.T
import graft.ops.{Html, Urls}
import graft.registry.Check.Oracle

/** The web: URL canonicalization and crawl policy, and the link graph
  * (extraction, centrality, communities) over a synthesized link
  * fixture whose oracles restate the edges in closed form. */
private[graft] object WebCases {

  /** Synthesized link markup for q_links/q_pagerank/q_degrees: two
    * unconditional links to pages (doc_id·31+7)%500 and (doc_id·31+13)%500
    * — the first with inner tags and ragged whitespace in its anchor — a
    * third to (doc_id·31+29)%500 on doc_id%3==0, and an href-less anchor
    * that must NOT extract. Fixed modulus 500 keeps the node universe
    * SF-independent in form; the oracles restate the links in closed form. */
  private def linkFixtureHtml: Column =
    concat(
      lit("<p>doc <a href=\"https://ex.org/p"),
      ((col("doc_id") * 31 + 7) % 500).cast("string"),
      lit("\">to <b>page</b>  A</a> <a name=\"x\">skip</a> <a href=\"https://ex.org/p"),
      ((col("doc_id") * 31 + 13) % 500).cast("string"), lit("\">B</a>"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" <a href=\"https://ex.org/p"),
          ((col("doc_id") * 31 + 29) % 500).cast("string"), lit("\">C</a>")))
        .otherwise(lit("")),
      lit("</p>"))

  /** Closed-form link-graph edge list shared by the q_pagerank /
    * q_degrees / q_triangles / q_hits oracles (the SQL restatement of
    * [[linkFixtureHtml]]'s links). */
  private val linkEdgesSql: String =
    "SELECT doc_id AS src, (doc_id*31+7)%500 AS dst FROM documents " +
      "UNION ALL SELECT doc_id, (doc_id*31+13)%500 FROM documents " +
      "UNION ALL SELECT doc_id, (doc_id*31+29)%500 FROM documents WHERE doc_id%3 = 0"

  /** q_hits oracle: three unrolled L1-normalized grid-quantized HITS
    * iterations — the exact [[graft.ops.Graphs.hits]] recurrence (raw
    * sums over the snapped previous vector, one normalizing total, snap
    * at 1e-12), generated per iteration so the two engines cannot drift
    * in structure. */
  private val hitsOracleSql: String = {
    def snap(x: String) = s"floor(($x)/1e-12 + 0.5)*1e-12"
    val iters = (1 to 3).map { i =>
      val (hPrev, a, h) = (if (i == 1) "h0" else s"h${i - 1}", s"a$i", s"h$i")
      s"${a}raw AS (SELECT v.node, coalesce(c.s, 0) AS raw FROM nodes v LEFT JOIN " +
        s"(SELECT e.dst AS node, sum(p.v) AS s FROM e JOIN $hPrev p ON e.src = p.node GROUP BY 1) c ON v.node = c.node), " +
        s"${a}t AS (SELECT sum(raw) AS t FROM ${a}raw), " +
        s"$a AS (SELECT node, CASE WHEN t > 0 THEN ${snap("raw/t")} ELSE 0 END AS v FROM ${a}raw, ${a}t), " +
        s"${h}raw AS (SELECT v.node, coalesce(c.s, 0) AS raw FROM nodes v LEFT JOIN " +
        s"(SELECT e.src AS node, sum(p.v) AS s FROM e JOIN $a p ON e.dst = p.node GROUP BY 1) c ON v.node = c.node), " +
        s"${h}t AS (SELECT sum(raw) AS t FROM ${h}raw), " +
        s"$h AS (SELECT node, CASE WHEN t > 0 THEN ${snap("raw/t")} ELSE 0 END AS v FROM ${h}raw, ${h}t)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql), " +
      "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)), " +
      "nn AS (SELECT count(*) AS n FROM nodes), " +
      s"h0 AS (SELECT node, ${snap("1.0/nn.n")} AS v FROM nodes CROSS JOIN nn), " +
      iters +
      " SELECT a3.node, round(a3.v, 8) AS auth, round(h3.v, 8) AS hub " +
      "FROM a3 JOIN h3 ON a3.node = h3.node ORDER BY a3.node"
  }

  /** q_label_prop oracle: three unrolled synchronized min-label rounds
    * over the canonical undirected simple graph (the q_triangles edge set
    * including its %4 closing edges) — the exact
    * [[graft.ops.Graphs.labelPropagation]] recurrence
    * `l(v) ← least(l(v), min_{u∼v} l(u))`, generated per round. */
  private val labelPropOracleSql: String = {
    val rounds = (1 to 3).map { i =>
      val prev = s"l${i - 1}"
      s"l$i AS (SELECT l.node, least(l.label, coalesce(m.mn, l.label)) AS label " +
        s"FROM $prev l LEFT JOIN (SELECT a.node, min(p.label) AS mn FROM adj a " +
        s"JOIN $prev p ON a.nbr = p.node GROUP BY 1) m ON l.node = m.node)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql " +
      "UNION ALL SELECT (doc_id*31+7)%500, (doc_id*31+13)%500 FROM documents WHERE doc_id%4 = 0), " +
      "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e WHERE src <> dst), " +
      "adj AS (SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und), " +
      "l0 AS (SELECT DISTINCT node, node AS label FROM adj), " +
      rounds +
      " SELECT node, label FROM l3 ORDER BY node"
  }

  /** q_kcore oracle: unrolled fixed-round 5-core peeling — round r keeps
    * nodes whose degree within round r−1's surviving subgraph is ≥ 5,
    * exactly [[graft.ops.Graphs.kCore]]'s recurrence; the output is the
    * degree table of the final surviving subgraph. */
  private val kCoreOracleSql: String = {
    def degOver(e: String, d: String) =
      s"$d AS (SELECT node, count(*) AS d FROM (SELECT u AS node FROM $e UNION ALL SELECT v FROM $e) GROUP BY 1)"
    val rounds = (1 to 3).map { r =>
      val (ePrev, d, a) = (if (r == 1) "und" else s"e${r - 1}", s"d$r", s"a$r")
      s"${degOver(ePrev, d)}, " +
        s"$a AS (SELECT node FROM $d WHERE d >= 5), " +
        s"e$r AS (SELECT p.u, p.v FROM $ePrev p JOIN $a x ON p.u = x.node JOIN $a y ON p.v = y.node)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql " +
      "UNION ALL SELECT (doc_id*31+7)%500, (doc_id*31+13)%500 FROM documents WHERE doc_id%4 = 0), " +
      "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e WHERE src <> dst), " +
      rounds +
      " SELECT node, count(*) AS degree FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) " +
      "GROUP BY 1 ORDER BY node"
  }

  /** q_ppr oracle: three unrolled personalized-PageRank iterations — the
    * exact [[graft.ops.Graphs.pageRankPersonalized]] recurrence (teleport
    * mass only on the doc_id%7 seed slice, 1e-12 snap per iteration),
    * generated per iteration. `(1.0-0.85)` is written as the SUBTRACTION
    * so both engines fold the identical double, not a 0.15 literal. */
  private val pprOracleSql: String = {
    def snap(x: String) = s"floor(($x)/1e-12 + 0.5)*1e-12"
    val iters = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"r$i AS (SELECT f.node, f.seed, " +
        snap(s"(1.0-0.85)*(CASE WHEN f.seed THEN 1.0/ns.k ELSE 0 END) + 0.85*coalesce(c.s, 0)") +
        s" AS rank FROM f CROSS JOIN ns LEFT JOIN " +
        s"(SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN $prev r ON e.src = r.node " +
        s"JOIN deg ON e.src = deg.src GROUP BY 1) c ON f.node = c.node)"
    }.mkString(", ")
    s"WITH e AS ($linkEdgesSql), " +
      "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)), " +
      "sd AS (SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id % 7 = 0), " +
      "f AS (SELECT n.node, (s.node IS NOT NULL) AS seed FROM nodes n LEFT JOIN sd s ON n.node = s.node), " +
      "ns AS (SELECT count(*) AS k FROM f WHERE seed), " +
      "deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1), " +
      s"r0 AS (SELECT node, seed, CASE WHEN seed THEN ${snap("1.0/ns.k")} ELSE 0 END AS rank FROM f CROSS JOIN ns), " +
      iters +
      " SELECT node, round(rank, 8) AS rank FROM r3 ORDER BY node"
  }

  val cases: Seq[Case] = Seq(
    // ---- URLs and crawl policy ------------------------------------------
    Case("q_url_canon", Oracle(
      // closed-form EXPECTED output (not a parser mirror): lowercased
      // scheme+host, userinfo gone, :80 dropped / :8443 kept, percent
      // escapes normalized (%7e→~, %41→A unreserved-decoded, %2f→%2F
      // hex-uppercased but kept), trailing slash stripped, tracking
      // params dropped + survivors sorted, bare '?' and fragment gone
      ("SELECT doc_id, " +
        "(CASE WHEN doc_id % 2 = 0 THEN 'http://www.example.com' ELSE 'https://api.example.org:8443' END) " +
        "|| '/Path/' || CAST(doc_id % 7 AS VARCHAR) " +
        "|| (CASE WHEN doc_id % 6 = 0 THEN '/~user%2FBA' ELSE '' END) " +
        "|| (CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2' WHEN doc_id % 4 = 1 THEN '?id=7' ELSE '' END) AS url_canonical, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'www.example.com' ELSE 'api.example.org' END AS host, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'example.com' ELSE 'example.org' END AS domain " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      // synthesized URLs sweep every canonicalization rule: scheme/host
      // case, userinfo, default vs explicit port, percent-encoding
      // (unreserved decode + hex uppercase), trailing slash, tracking
      // params + param sort, bare '?', fragment. The oracle states the
      // EXPECTED canonical form in closed form — it verifies semantics
      // independently rather than mirroring the parser.
      val docs = T(s, dir, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://u:p@WWW.Example.COM:80"))
          .otherwise(lit("https://API.Example.org:8443")),
        lit("/Path/"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 6 === 0, lit("/%7euser%2fB%41")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("?utm_source=news&b=2&a=1"))
          .otherwise(when(col("doc_id") % 4 === 1, lit("?id=7&utm_campaign=x&fbclid=abc"))
            .otherwise(when(col("doc_id") % 4 === 2, lit("?")).otherwise(lit("")))),
        when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit("")))
      // parse ONCE: the synthesized when/concat URL tree materializes
      // into a single parseUrl struct projection; the three outputs
      // derive from the struct, so the tree codegens once, not 3×
      // (subexpression elimination cannot reach into when-branches)
      docs.select(col("doc_id"), Urls.parseUrl(url).as("__p"))
        .select(col("doc_id"),
          Urls.canonicalizeUrlParsed(col("__p")).as("url_canonical"),
          Urls.urlHostParsed(col("__p")).as("host"),
          Urls.registrableDomainParsed(col("__p")).as("domain"))
        .orderBy("doc_id")
    }),
    Case("q_robots", Oracle(
      // closed-form EXPECTED verdicts: beta's exact graftbot group
      // disallows everything; gamma has no robots.txt so everything is
      // allowed; alpha's star group denies /private/ (except the longer
      // /private/ok Allow) and the $-anchored /*.zip$, and /tmp/t has no
      // matching alpha rule
      ("SELECT doc_id, 'https://' || " +
        "(CASE doc_id % 3 WHEN 0 THEN 'alpha.test' WHEN 1 THEN 'beta.test' ELSE 'gamma.test' END) || " +
        "(CASE doc_id % 5 WHEN 0 THEN '/public/a' WHEN 1 THEN '/private/x' WHEN 2 THEN '/private/ok/y' " +
        "WHEN 3 THEN '/data/file.zip' ELSE '/tmp/t' END) AS url, " +
        "CASE WHEN doc_id % 3 = 1 THEN false WHEN doc_id % 3 = 2 THEN true " +
        "ELSE doc_id % 5 NOT IN (1, 3) END AS allowed " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      // RFC 9309 evaluation vectors: star-group longest-match + allow
      // override + $-anchored wildcard on alpha, exact-agent group
      // shadowing the star group on beta, robots-less gamma defaulting
      // to allowed. Oracle states the EXPECTED verdicts in closed form.
      import s.implicits._
      val robots = Seq(
        ("alpha.test",
          "User-agent: *\nDisallow: /private/\nAllow: /private/ok\nDisallow: /*.zip$\n"),
        ("beta.test",
          "User-agent: graftbot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/\n"))
        .toDF("domain", "content")
      val rules = graft.ops.Robots.rulesFor(robots, "domain", "content", "graftbot")
      val dom = when(col("doc_id") % 3 === 0, lit("alpha.test"))
        .when(col("doc_id") % 3 === 1, lit("beta.test"))
        .otherwise(lit("gamma.test"))
      val path = when(col("doc_id") % 5 === 0, lit("/public/a"))
        .when(col("doc_id") % 5 === 1, lit("/private/x"))
        .when(col("doc_id") % 5 === 2, lit("/private/ok/y"))
        .when(col("doc_id") % 5 === 3, lit("/data/file.zip"))
        .otherwise(lit("/tmp/t"))
      val urls = T(s, dir, "documents")
        .select(col("doc_id"), concat(lit("https://"), dom, path).as("url"))
      graft.ops.Robots.annotateAllowed(urls, "url", "doc_id", rules, "allowed")
        .orderBy("doc_id")
    }),
    Case("q_url_psl", Oracle(
      // closed-form EXPECTED output for the PSL + IPv6 vectors: suffix
      // rules group ccTLD sites one label deeper than the two-label
      // heuristic; wildcard/exception rules behave per the published
      // grammar; IP hosts have no registrable domain; bracket hosts
      // never split at their colons and obey the default-port drop
      ("SELECT doc_id, " +
        "CASE doc_id % 8 " +
        "WHEN 0 THEN 'https://a.b.example.co.uk/x' " +
        "WHEN 1 THEN 'http://shop.example.com.au/y?z=1' " +
        "WHEN 2 THEN 'https://deep.sub.foo.ck/p' " +
        "WHEN 3 THEN 'https://www.ck/q' " +
        "WHEN 4 THEN 'http://[2001:db8::1]:8080/v6' " +
        "WHEN 5 THEN 'http://[2001:db8::1]/v6' " +
        "WHEN 6 THEN 'https://192.168.0.1/ip' " +
        "ELSE 'https://co.uk/self' END AS url_canonical, " +
        "CASE doc_id % 8 " +
        "WHEN 0 THEN 'a.b.example.co.uk' WHEN 1 THEN 'shop.example.com.au' " +
        "WHEN 2 THEN 'deep.sub.foo.ck' WHEN 3 THEN 'www.ck' " +
        "WHEN 4 THEN '[2001:db8::1]' WHEN 5 THEN '[2001:db8::1]' " +
        "WHEN 6 THEN '192.168.0.1' ELSE 'co.uk' END AS host, " +
        "CASE doc_id % 8 " +
        "WHEN 0 THEN 'example.co.uk' WHEN 1 THEN 'example.com.au' " +
        "WHEN 2 THEN 'sub.foo.ck' WHEN 3 THEN 'www.ck' " +
        "WHEN 4 THEN NULL WHEN 5 THEN NULL WHEN 6 THEN NULL " +
        "ELSE 'co.uk' END AS domain " +
        "FROM documents ORDER BY doc_id")))((s, dir) => {
      // PSL registrable-domain + IPv6-host vectors, closed-form oracle:
      // ccTLD second-level suffixes (co.uk / com.au), the wildcard
      // (*.ck) and exception (!www.ck) rule forms, suffix-self hosts,
      // IP hosts (no registrable domain), and bracket-host
      // canonicalization incl. default-port drop
      val docs = T(s, dir, "documents")
      val url =
        when(col("doc_id") % 8 === 0, lit("https://a.b.Example.CO.UK/x"))
          .when(col("doc_id") % 8 === 1, lit("http://shop.Example.COM.AU:80/y?z=1"))
          .when(col("doc_id") % 8 === 2, lit("https://deep.sub.foo.CK/p"))
          .when(col("doc_id") % 8 === 3, lit("https://WWW.CK/q"))
          // non-canonical v6 spelling: RFC 5952 must strip the leading
          // zeros and compress the zero run → [2001:db8::1]
          .when(col("doc_id") % 8 === 4, lit("http://[2001:0DB8:0:0:0:0:0:1]:8080/v6"))
          .when(col("doc_id") % 8 === 5, lit("http://[2001:DB8::1]:80/v6"))
          .when(col("doc_id") % 8 === 6, lit("https://192.168.0.1/ip"))
          .otherwise(lit("https://co.uk/self"))
      // parse-once struct — q_url_canon's rationale
      docs.select(col("doc_id"), Urls.parseUrl(url).as("__p"))
        .select(col("doc_id"),
          Urls.canonicalizeUrlParsed(col("__p")).as("url_canonical"),
          Urls.urlHostParsed(col("__p")).as("host"),
          Urls.registrableDomainParsed(col("__p")).as("domain"))
        .orderBy("doc_id")
    }),
    Case("q_url_blocklist", Oracle(
      // closed form: survivors are exactly the even-doc non-src3 rows
      ("SELECT doc_id, source FROM documents WHERE source IS NOT NULL " +
        "AND doc_id % 2 = 0 AND source <> 'src3' ORDER BY doc_id")))((s, dir) => {
      // suffix-label blocklist: every odd doc lands on *.example.org
      // (blocked domain), src3's even docs land on src3.example.com
      // (blocked subdomain); matching is case-insensitive on both sides
      val docs = T(s, dir, "documents").filter(col("source").isNotNull)
      val url = concat(lit("https://"), col("source"), lit(".Example."),
        when(col("doc_id") % 2 === 0, lit("com")).otherwise(lit("ORG")),
        lit("/p/"), col("doc_id").cast("string"))
      Urls.filterBlockedDomains(
        docs.select(col("doc_id"), col("source"), url.as("url")),
        "url", Seq("example.org", "SRC3.example.com"))
        .select("doc_id", "source").orderBy("doc_id")
    }),
    Case("q_url_templates", Oracle(
      // same synthesized URLs (md5 agrees across engines), same two
      // placeholder regexes (Java∩RE2, 'g' flag for replace-all)
      ("WITH u AS (SELECT source || '.shop.com' AS host, " +
        "CASE WHEN doc_id % 5 = 0 THEN '/item/' || md5(CAST(doc_id AS VARCHAR)) || '/view' " +
        "ELSE '/p/' || CAST(doc_id % 1000 AS VARCHAR) END AS path " +
        "FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL), " +
        "t AS (SELECT host, regexp_replace(regexp_replace(path, '[0-9a-f]{8,}', '{hex}', 'g'), " +
        "'[0-9]+', '{n}', 'g') AS template, path FROM u) " +
        "SELECT host, template, count(*) AS n_urls, " +
        "CAST(count(DISTINCT path) AS BIGINT) AS n_ids " +
        "FROM t GROUP BY 1, 2 ORDER BY host, template")))((s, dir) => {
      // crawl-structure map: synthesized product/item URLs per source
      // host — %5 docs carry an md5 path segment (collapses to {hex}),
      // the rest a numeric id (collapses to {n}); counts + distinct
      // concrete paths per (host, template)
      val docs = T(s, dir, "documents")
        .filter(col("doc_id").isNotNull && col("source").isNotNull)
      val url = concat(lit("https://"), col("source"), lit(".shop.com"),
        when(col("doc_id") % 5 === 0,
          concat(lit("/item/"), md5(col("doc_id").cast("string")), lit("/view")))
        .otherwise(concat(lit("/p/"), (col("doc_id") % 1000).cast("string"))))
      Urls.urlTemplates(docs.select(url.as("url")), "url")
        .orderBy("host", "template")
    }),
    // ---- link graphs ----------------------------------------------------
    Case("q_links", Oracle(
      // closed-form expected rows (not an extractor mirror): the href-less
      // anchor contributes nothing; anchor 0's inner tags/whitespace are
      // already normalized here
      ("WITH l AS (SELECT doc_id, CAST(0 AS INTEGER) AS link_pos, " +
        "'https://ex.org/p' || CAST((doc_id*31+7)%500 AS VARCHAR) AS href, 'to page A' AS anchor FROM documents " +
        "UNION ALL SELECT doc_id, CAST(1 AS INTEGER), 'https://ex.org/p' || CAST((doc_id*31+13)%500 AS VARCHAR), 'B' FROM documents " +
        "UNION ALL SELECT doc_id, CAST(2 AS INTEGER), 'https://ex.org/p' || CAST((doc_id*31+29)%500 AS VARCHAR), 'C' FROM documents WHERE doc_id%3 = 0) " +
        "SELECT doc_id, link_pos, href, anchor FROM l ORDER BY doc_id, link_pos")))((s, dir) => {
      // synthesized per-doc markup: two unconditional links (one with
      // inner tags + messy whitespace in the anchor), a third on doc_id%3,
      // plus an href-less <a> that must NOT match. Oracle states the
      // expected (pos, href, anchor) rows in closed form.
      Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .orderBy("doc_id", "link_pos")
    }),
    Case("q_pagerank", Oracle(
      // three unrolled grid-quantized iterations over the closed-form edge
      // list; quantization makes every iteration's floats identical across
      // engines, so the compare needs no tolerance
      ("WITH e AS (SELECT doc_id AS src, (doc_id*31+7)%500 AS dst FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+13)%500 FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+29)%500 FROM documents WHERE doc_id%3 = 0), " +
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)), " +
        "deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1), " +
        "nn AS (SELECT count(*) AS n FROM nodes), " +
        "r0 AS (SELECT node, floor((1.0/nn.n)/1e-12 + 0.5)*1e-12 AS rank FROM nodes CROSS JOIN nn), " +
        "r1 AS (SELECT v.node, floor(((0.15/nn.n) + 0.85*coalesce(c.s, 0))/1e-12 + 0.5)*1e-12 AS rank FROM nodes v CROSS JOIN nn " +
        "LEFT JOIN (SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN r0 r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1) c ON v.node = c.node), " +
        "r2 AS (SELECT v.node, floor(((0.15/nn.n) + 0.85*coalesce(c.s, 0))/1e-12 + 0.5)*1e-12 AS rank FROM nodes v CROSS JOIN nn " +
        "LEFT JOIN (SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN r1 r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1) c ON v.node = c.node), " +
        "r3 AS (SELECT v.node, floor(((0.15/nn.n) + 0.85*coalesce(c.s, 0))/1e-12 + 0.5)*1e-12 AS rank FROM nodes v CROSS JOIN nn " +
        "LEFT JOIN (SELECT e.dst AS node, sum(r.rank/deg.d) AS s FROM e JOIN r2 r ON e.src = r.node JOIN deg ON e.src = deg.src GROUP BY 1) c ON v.node = c.node) " +
        "SELECT node, round(rank, 8) AS rank FROM r3 ORDER BY node")))((s, dir) => {
      // end-to-end link-graph prior: extract links from the synthesized
      // markup, parse the page id back out of each href, run 3
      // grid-quantized PageRank iterations over the edge list
      val edges = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      graft.ops.Graphs.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy("node")
    }),
    Case("q_degrees", Oracle(
      ("WITH e AS (SELECT doc_id AS src, (doc_id*31+7)%500 AS dst FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+13)%500 FROM documents " +
        "UNION ALL SELECT doc_id, (doc_id*31+29)%500 FROM documents WHERE doc_id%3 = 0), " +
        "o AS (SELECT src AS node, count(*) AS c FROM e GROUP BY 1), " +
        "i AS (SELECT dst AS node, count(*) AS c FROM e GROUP BY 1) " +
        "SELECT coalesce(o.node, i.node) AS node, CAST(coalesce(o.c, 0) AS BIGINT) AS out_deg, " +
        "CAST(coalesce(i.c, 0) AS BIGINT) AS in_deg FROM o FULL JOIN i ON o.node = i.node ORDER BY node")))((s, dir) => {
      val edges = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      graft.ops.Graphs.degrees(edges, "src", "dst").orderBy("node")
    }),
    Case("q_anchor_profile", Oracle(
      // aggregate the q_links closed-form rows: per-href totals, distinct
      // linking docs, anchor variety, most-frequent anchor (anchor-asc tie)
      ("WITH l AS (SELECT doc_id, 'https://ex.org/p' || CAST((doc_id*31+7)%500 AS VARCHAR) AS href, 'to page A' AS anchor FROM documents " +
        "UNION ALL SELECT doc_id, 'https://ex.org/p' || CAST((doc_id*31+13)%500 AS VARCHAR), 'B' FROM documents " +
        "UNION ALL SELECT doc_id, 'https://ex.org/p' || CAST((doc_id*31+29)%500 AS VARCHAR), 'C' FROM documents WHERE doc_id%3 = 0), " +
        "ba AS (SELECT href, anchor, count(*) AS cnt FROM l GROUP BY 1, 2), " +
        "t AS (SELECT href, anchor, cnt, sum(cnt) OVER (PARTITION BY href) AS n_links, " +
        "count(*) OVER (PARTITION BY href) AS n_anchors, " +
        "row_number() OVER (PARTITION BY href ORDER BY cnt DESC, anchor) AS rk FROM ba), " +
        "d AS (SELECT href, count(DISTINCT doc_id) AS n_docs FROM l GROUP BY 1) " +
        "SELECT t.href, CAST(n_links AS BIGINT) AS n_links, n_docs, n_anchors, " +
        "anchor AS top_anchor, cnt AS top_anchor_n " +
        "FROM t JOIN d ON t.href = d.href WHERE rk = 1 ORDER BY t.href")))((s, dir) => {
      // inbound anchor-text aggregation per link target over the q_links
      // fixture: hrefs collide across docs (mod 500), anchors carry three
      // fixed texts, so targets accumulate multi-doc multi-anchor profiles
      val links = Html.extractLinks(T(s, dir, "documents")
        .withColumn("html", linkFixtureHtml), "doc_id", "html")
      Html.anchorProfile(links).orderBy("href")
    }),
    Case("q_triangles", Oracle(
      // id-ordered triangle enumeration over the canonical undirected
      // simple graph — the same triangle set the engine's degree-ordered
      // orientation enumerates (ordering only changes the JOIN SHAPE).
      // The doc_id%4 closing edges (A–B per wedge) de-vacuate the fixture:
      // without them the link graph has zero triangles at every SF.
      (s"WITH e AS ($linkEdgesSql " +
        "UNION ALL SELECT (doc_id*31+7)%500, (doc_id*31+13)%500 FROM documents WHERE doc_id%4 = 0), " +
        "u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e WHERE src <> dst), " +
        "t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM u e1 JOIN u e2 ON e1.b = e2.a " +
        "JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b) " +
        "SELECT node, count(*) AS n_triangles FROM " +
        "(SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t) " +
        "GROUP BY 1 ORDER BY node")))((s, dir) => {
      // per-node triangle counts over the synthesized link graph —
      // degree-ordered wedge enumeration in the engine, id-ordered in the
      // oracle (both enumerate the identical undirected triangle set).
      // The raw link fixture is triangle-free at every SF (r13 verdict:
      // the oracle compared two EMPTY sets — vacuously green), so every
      // doc_id%4==0 wedge {d→A, d→B} is CLOSED with an explicit A–B edge,
      // guaranteeing ≥ ⌈n/4⌉ known triangles at any scale.
      val base = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val closing = T(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(((col("doc_id") * 31 + 7) % 500).as("src"),
          ((col("doc_id") * 31 + 13) % 500).as("dst"))
      graft.ops.Graphs.triangles(base.unionByName(closing), "src", "dst")
        .orderBy("node")
    }),
    Case("q_hits", Oracle(hitsOracleSql))((s, dir) => {
      // 3 L1-normalized grid-quantized HITS iterations over the same
      // closed-form edge list as q_pagerank; the oracle unrolls them
      val edges = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      graft.ops.Graphs.hits(edges, "src", "dst", iterations = 3)
        .select(col("node"), round(col("auth"), 8).as("auth"),
          round(col("hub"), 8).as("hub"))
        .orderBy("node")
    }),
    Case("q_ppr", Oracle(pprOracleSql))((s, dir) => {
      // personalized PageRank from the doc_id%7 seed slice over the same
      // closed-form link graph — TrustRank-style seed proximity
      val docs = T(s, dir, "documents")
      val edges = Html.extractLinks(docs.withColumn("html", linkFixtureHtml),
          "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val seeds = docs.select(col("doc_id").as("node")).filter(col("node") % 7 === 0)
      graft.ops.Graphs.pageRankPersonalized(edges, "src", "dst", seeds, "node",
          iterations = 3)
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy("node")
    }),
    Case("q_label_prop", Oracle(labelPropOracleSql))((s, dir) => {
      // 3 synchronized min-label rounds over the same closed link graph
      // as q_triangles; the oracle unrolls the rounds
      val base = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val closing = T(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(((col("doc_id") * 31 + 7) % 500).as("src"),
          ((col("doc_id") * 31 + 13) % 500).as("dst"))
      graft.ops.Graphs.labelPropagation(base.unionByName(closing),
          "src", "dst", iterations = 3)
        .orderBy("node")
    }),
    Case("q_kcore", Oracle(kCoreOracleSql))((s, dir) => {
      // fixed-round 5-core peeling over the closed link graph — the
      // dense-cluster (link-farm) complement of q_triangles; k=5 peels
      // 500 nodes down to a 37-node core at the verify scale (k=4 would
      // keep everything, k=6 empties — both vacuous)
      val base = Html.extractLinks(T(s, dir, "documents")
          .withColumn("html", linkFixtureHtml), "doc_id", "html")
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "([0-9]+)$", 1).cast("long").as("dst"))
      val closing = T(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(((col("doc_id") * 31 + 7) % 500).as("src"),
          ((col("doc_id") * 31 + 13) % 500).as("dst"))
      graft.ops.Graphs.kCore(base.unionByName(closing), "src", "dst",
          k = 5, rounds = 3)
        .orderBy("node")
    }),
  )
}

package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators with planted ground truth. Every generator is a
  * pure function of its seed, so the same seed yields byte-identical rows
  * and the same input hash, and the truth is known without asking the
  * engine under test. */
object Gen {

  /** Order-sensitive SHA-256 over the generated values. */
  final class Hasher {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(v: Any): Unit = {
      md.update(String.valueOf(v).getBytes(UTF_8)); md.update(0.toByte)
    }
    def hex: String = md.digest().map(b => "%02x".format(b & 0xff)).mkString
  }

  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) =>
      java.lang.Long.rotateLeft(h ^ (p * 0xBF58476D1CE4E5B9L), 31) * 0x94D049BB133111EBL))

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  private def hexStr(r: SplittableRandom, n: Int): String = {
    val cs = new Array[Char](n)
    for (i <- cs.indices) cs(i) = Character.forDigit(r.nextInt(16), 16)
    new String(cs)
  }
  private def word(r: SplittableRandom, lo: Int, hi: Int): String = {
    val cs = new Array[Char](lo + r.nextInt(hi - lo + 1))
    for (i <- cs.indices) cs(i) = ('a' + r.nextInt(26)).toChar
    new String(cs)
  }
  private def d2(n: Int): String = if (n < 10) "0" + n else n.toString
  private def date(r: SplittableRandom, y0: Int, years: Int): String =
    s"${y0 + r.nextInt(years)}-${d2(1 + r.nextInt(12))}-${d2(1 + r.nextInt(28))}"

  // ---------------------------------------------------------------------
  // validate_quarantine: customer-record batches, 12 validated columns

  object Vq {
    val Columns: IndexedSeq[String] = IndexedSeq("name", "city", "qty", "price",
      "score", "signup_date", "last_seen", "email", "homepage", "user_uuid",
      "country", "ip")
    val Cities: IndexedSeq[String] = IndexedSeq("Berlin", "Lisbon", "Osaka",
      "Lagos", "Quito", "Perth", "Oslo", "Austin", "Pune", "Lyon")
    val Countries: IndexedSeq[String] = IndexedSeq("US", "DE", "FR", "JP",
      "BR", "IN", "NG", "AU", "NO", "EC")
    val EmailRe = "^[a-z0-9._]+@[a-z0-9-]+\\.[a-z]{2,}$"

    /** Planted failure modes per column: (bad value, expected error code). */
    private val Bad: Map[String, IndexedSeq[(Any, String)]] = Map(
      "name" -> IndexedSeq((null, "empty"), ("", "empty"), ("X", "too_short"),
        ("N" * 60, "too_long")),
      "city" -> IndexedSeq(("Atlantis", "not_valid_choice"), (null, "empty")),
      "qty" -> IndexedSeq(("abc", "not_int"), ("4.5", "not_int"),
        ("5000", "too_big"), ("-3", "too_small"), (null, "empty")),
      "price" -> IndexedSeq(("x1", "not_numeric"), ("-5.00", "too_small"), ("", "empty")),
      "score" -> IndexedSeq((1.5, "too_big"), (-0.25, "too_small"), (null, "empty")),
      "signup_date" -> IndexedSeq(("2021-13-45", "not_date"), ("soon", "not_date"),
        (null, "empty")),
      "last_seen" -> IndexedSeq(("32/32/2020 25:61", "not_datetime"), ("never", "not_datetime")),
      "email" -> IndexedSeq(("john.example.com", "malformed"), ("a@b", "malformed"),
        (null, "empty")),
      "homepage" -> IndexedSeq(("htp:/broken", "invalid_url"), ("www.no-scheme.org", "invalid_url")),
      "user_uuid" -> IndexedSeq(("1234-not-a-uuid", "not_uuid"), ("", "empty")),
      "country" -> IndexedSeq(("Z9", "invalid_country"), (null, "empty")),
      "ip" -> IndexedSeq(("300.1.2.3", "not_ip_address"), ("1.2.3.4.5", "not_ip_address")))
    private val OptionalCols = Set("last_seen", "homepage", "ip")

    final case class Row(id: Long, values: Array[Any], errors: List[(String, String)])

    /** Rows of partition `part` of batch `batch` (ids are unique per run). */
    def rows(seed: Long, batch: Int, part: Int, rowsPerPart: Int): Iterator[Row] = {
      val r = rng(seed, 1, batch, part)
      val base = (batch.toLong * 64 + part) * rowsPerPart
      Iterator.tabulate(rowsPerPart) { i =>
        val id = base + i
        val v = new Array[Any](Columns.size)
        v(0) = s"${word(r, 3, 8).capitalize} ${word(r, 4, 10).capitalize}"
        v(1) = pick(r, Cities)
        v(2) = r.nextInt(1001).toString
        val cents = r.nextInt(100000)
        v(3) = s"${cents / 100}.${cents % 100 / 10}${cents % 10}"
        v(4) = r.nextInt(1000001) / 1e6
        v(5) = date(r, 2000, 24)
        v(6) = s"${date(r, 2020, 5)}T${d2(r.nextInt(24))}:${d2(r.nextInt(60))}:${d2(r.nextInt(60))}Z"
        v(7) = s"${word(r, 3, 9)}.${r.nextInt(1000)}@${word(r, 4, 8)}.com"
        v(8) = s"https://site${r.nextInt(500)}.example.com/p/${r.nextInt(100000)}"
        v(9) = s"${hexStr(r, 8)}-${hexStr(r, 4)}-4${hexStr(r, 3)}-a${hexStr(r, 3)}-${hexStr(r, 12)}"
        v(10) = pick(r, Countries)
        v(11) = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        // valid nulls: optional columns let null pass
        for (c <- OptionalCols) if (r.nextInt(100) < 3) v(Columns.indexOf(c)) = null
        var errs = List.empty[(String, String)]
        // ~5% invalid rows; one in five of those breaks a second column
        if (r.nextInt(1000) < 50) {
          val cols = if (r.nextInt(5) == 0) Seq(r.nextInt(12), r.nextInt(12)).distinct
                     else Seq(r.nextInt(12))
          for (ci <- cols) {
            val (bad, code) = pick(r, Bad(Columns(ci)))
            v(ci) = bad
            errs ::= (Columns(ci) -> code)
          }
        }
        Row(id, v, errs)
      }
    }

    final case class Truth(rows: Long, invalidIds: mutable.LongMap[Unit],
                           codes: Map[(String, String), Long], hash: String)

    def truth(seed: Long, batches: Seq[Int], parts: Int, rowsPerPart: Int): Truth = {
      val h = new Hasher
      val bad = mutable.LongMap.empty[Unit]
      val codes = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      var n = 0L
      for (b <- batches; p <- 0 until parts; row <- rows(seed, b, p, rowsPerPart)) {
        n += 1
        h.add(row.id); row.values.foreach(h.add)
        if (row.errors.nonEmpty) bad(row.id) = ()
        row.errors.foreach(e => codes(e) += 1)
      }
      Truth(n, bad, codes.toMap, h.hex)
    }
  }

  // ---------------------------------------------------------------------
  // curate_twopass: a raw crawl with planted duplicates

  val EnStop: IndexedSeq[String] = IndexedSeq("the", "of", "and", "a", "to", "in", "is", "it", "that", "for")

  def vocab(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 7)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(r, 4, 9)
    seen.toIndexedSeq
  }

  def body(r: SplittableRandom, voc: IndexedSeq[String], nTok: Int): Array[String] =
    Array.fill(nTok)(if (r.nextInt(100) < 30) pick(r, EnStop) else pick(r, voc))

  /** Replace `n` content tokens with fresh vocabulary words. */
  def mutate(r: SplittableRandom, voc: IndexedSeq[String], toks: Array[String], n: Int): Array[String] = {
    val out = toks.clone()
    val content = out.indices.filterNot(i => EnStop.contains(out(i)))
    var done = 0
    for (i <- shuffle(r, content) if done < n) {
      var w = pick(r, voc)
      while (toks.contains(w)) w = pick(r, voc)
      out(i) = w; done += 1
    }
    out
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  object Crawl {
    final case class Doc(id: Long, url: String, text: String)
    final case class Sizes(originals: Int, recrawls: Int, copies: Int,
                           nearDups: Int, controls: Int, lowQuality: Int,
                           blocked: Int, domains: Int, blockedDomains: Int)
    val Full = Sizes(originals = 3000, recrawls = 800, copies = 600,
      nearDups = 1200, controls = 1000, lowQuality = 300, blocked = 300,
      domains = 80, blockedDomains = 4)
    val WarmUp = Sizes(150, 30, 20, 30, 30, 15, 15, 10, 2)

    final case class Crawl(docs: IndexedSeq[Doc], blocked: Seq[String],
                           mustDrop: Set[Long], exactDups: Set[Long],
                           mustKeep: Set[Long], hash: String)

    private val UrlVariants: IndexedSeq[String => String] = IndexedSeq(
      u => u + "/", u => u + "?utm_source=feed", u => u.replace(".com/", ".com:443/"),
      u => u + "?utm_medium=social&ref=home")

    /** A crawl whose doc ids order originals before every planted copy,
      * so each duplicate group's min id (the one the pipeline keeps) is the
      * original. Rows are shuffled in file order. */
    def apply(seed: Long, s: Sizes, tag: Int): Crawl = {
      val r = rng(seed, 2, tag)
      val voc = vocab(seed, 6000)
      val domains = IndexedSeq.tabulate(s.domains)(d => s"site$d-${word(r, 3, 6)}.com")
      val blocked = domains.take(s.blockedDomains)
      val open = domains.drop(s.blockedDomains)
      def chrome(d: String, b: String) =
        s"Home | News | Contact | $d\n$b\nCopyright $d all rights reserved"
      val docs = mutable.ArrayBuffer.empty[Doc]
      var next = 0L
      def add(url: String, text: String): Long = { docs += Doc(next, url, text); next += 1; next - 1 }
      final case class Orig(id: Long, url: String, toks: Array[String])
      val origs = IndexedSeq.fill(s.originals) {
        val d = pick(r, open)
        val toks = body(r, voc, 90 + r.nextInt(30))
        val url = s"https://www.$d/articles/${hexStr(r, 10)}"
        Orig(add(url, chrome(d, toks.mkString(" "))), url, toks)
      }
      val mustKeep = mutable.Set.empty[Long] ++= origs.map(_.id)
      val drop = mutable.Set.empty[Long]
      val exact = mutable.Set.empty[Long]
      for (_ <- 0 until s.recrawls) {
        val o = pick(r, origs)
        val id = add(pick(r, UrlVariants)(o.url), docs(o.id.toInt).text)
        drop += id; exact += id
      }
      // syndicated copies: same body in another domain's chrome, one per original
      for (o <- shuffle(r, origs).take(s.copies)) {
        val d = pick(r, open)
        val id = add(s"https://www.$d/syndicated/${hexStr(r, 10)}", chrome(d, o.toks.mkString(" ")))
        drop += id; exact += id
      }
      for (_ <- 0 until s.nearDups) {
        val o = pick(r, origs); val d = pick(r, open)
        drop += add(s"https://www.$d/n/${hexStr(r, 10)}", chrome(d, mutate(r, voc, o.toks, 1).mkString(" ")))
      }
      for (_ <- 0 until s.controls) {
        val o = pick(r, origs); val d = pick(r, open)
        val nContent = o.toks.count(t => !EnStop.contains(t))
        mustKeep += add(s"https://www.$d/c/${hexStr(r, 10)}",
          chrome(d, mutate(r, voc, o.toks, (nContent * 0.45).toInt).mkString(" ")))
      }
      for (_ <- 0 until s.lowQuality) {
        val d = pick(r, open)
        add(s"https://www.$d/spam/${hexStr(r, 10)}",
          chrome(d, s"!!! $$$$$$ ### ${r.nextInt(1000000)} *** ${hexStr(r, 6)} ??? %%% @@@"))
      }
      for (_ <- 0 until s.blocked) {
        val d = pick(r, blocked)
        add(s"https://www.$d/b/${hexStr(r, 10)}", chrome(d, body(r, voc, 90).mkString(" ")))
      }
      val h = new Hasher
      docs.foreach { d => h.add(d.id); h.add(d.url); h.add(d.text) }
      Crawl(shuffle(r, docs.toIndexedSeq), blocked, drop.toSet, exact.toSet, mustKeep.toSet, h.hex)
    }
  }

  // ---------------------------------------------------------------------
  // query_mix: four small read-only tables

  object Tables {
    val Modes: IndexedSeq[String] = IndexedSeq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
    val EventTypes: IndexedSeq[String] = IndexedSeq("view", "click", "cart", "buy", "share", "search", "login", "logout")
    val Dim = 32

    final case class Line(id: Long, qty: Double, price: Double, discount: Double,
                          shipdate: String, mode: String, comment: String)
    final case class Event(userId: Long, kind: String, value: Double)
    final case class TextDoc(id: Long, text: String)
    final case class Tables(lines: IndexedSeq[Line], events: IndexedSeq[Event],
                            docs: IndexedSeq[TextDoc], vecs: IndexedSeq[Array[Double]],
                            vocab: IndexedSeq[String], hash: String)

    private val Foreign = IndexedSeq(
      IndexedSeq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
      IndexedSeq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
      IndexedSeq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"))

    def apply(seed: Long, nLines: Int, nEvents: Int, nDocs: Int, nVecs: Int): Tables = {
      val r = rng(seed, 3)
      val lines = IndexedSeq.tabulate(nLines)(i => Line(i, 1 + r.nextInt(50),
        r.nextInt(10000000) / 100.0, r.nextInt(11) / 100.0,
        date(r, 1992, 7),
        pick(r, Modes), s"${word(r, 3, 8)} ${word(r, 3, 8)}"))
      val events = IndexedSeq.fill(nEvents) {
        // skewed users and kinds so frequent items exist
        val u = if (r.nextInt(10) < 3) r.nextInt(20).toLong else r.nextInt(50000).toLong
        val k = EventTypes(math.min(EventTypes.size - 1, (-StrictMath.log(1 - r.nextDouble()) * 2).toInt))
        Event(u, k, StrictMath.exp(r.nextGaussian() * 1.5 + 2))
      }
      val voc = vocab(seed, 3000)
      val docs = IndexedSeq.tabulate(nDocs) { i =>
        val toks = body(r, voc, 40 + r.nextInt(80))
        if (r.nextInt(5) == 0) { val f = pick(r, Foreign); for (j <- toks.indices if j % 3 == 0) toks(j) = pick(r, f) }
        TextDoc(i, toks.mkString(" "))
      }
      val centers = IndexedSeq.fill(24)(Array.fill(Dim)(r.nextGaussian()))
      val vecs = IndexedSeq.fill(nVecs) {
        val c = pick(r, centers)
        Array.tabulate(Dim)(j => c(j) + r.nextGaussian() * 0.6)
      }
      val h = new Hasher
      lines.foreach(l => h.add(l.productIterator.mkString("|")))
      events.foreach(e => h.add(e.productIterator.mkString("|")))
      docs.foreach(d => h.add(d.text))
      vecs.foreach(v => h.add(v.mkString(",")))
      Tables(lines, events, docs, vecs, voc, h.hex)
    }
  }
}

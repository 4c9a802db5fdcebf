package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Corner cases of the curation scorers' native kernels — languageId,
  * qualityScore, charEntropy and the PSL registrable domain. Each value
  * is the one the earlier `filter`/`aggregate` Column forms produced,
  * which the DuckDB oracles mirror. */
class ScorerKernelsSpec extends SparkSuite {
  import spark.implicits._

  private def eval(c: String => Column, in: String*): Seq[Any] =
    in.map(Tuple1(_)).toDF("t").select(c("t").as("v")).collect().map(_.get(0)).toSeq

  private def lang(in: String*) = eval(t => TextAnalysis.languageId(col(t)), in: _*)
  private def quality(in: String*) = eval(t => TextAnalysis.qualityScore(col(t)), in: _*)
  private def entropy(in: String*) = eval(t => TextAnalysis.charEntropy(col(t)), in: _*)
  private def domain(urls: String*) = eval(t => Urls.registrableDomain(col(t)), urls: _*)

  test("languageId: ties go to the greatest code, zero hits to und, null stays null") {
    // es and fr both hit "la" and "de"; en and de both hit "in"
    assert(lang("la de", "in", "the der") == Seq("fr", "en", "en"))
    assert(lang("", "   ", "qqq", null) == Seq("und", "und", "und", null))
  }

  test("languageId: zh stopwords count only as whitespace tokens") {
    assert(lang("的 了 在", "的了在", "我 是 the") == Seq("zh", "und", "zh"))
  }

  test("languageId lowercases with UTF8String.toLowerCase: İ is not I") {
    // "İ" lowercases to "i" + U+0307, so "İT İS" holds no English stopword
    assert(lang("IT IS", "İT İS") == Seq("en", "und"))
  }

  test("qualityScore: a leading whitespace run adds an empty token") {
    // "the": 1 of 1 tokens hits; " the": 1 of 2 ("" and "the")
    assert(quality("the", " the") == Seq(0.6024, 0.4032))
  }

  test("qualityScore: code-point length and punctuation; empty and null text") {
    // "İ" is one code point, outside [A-Za-z0-9\s]: punct ratio 1
    // "😀 the": 5 code points, 1 punctuation, tokens "😀" and "the"
    assert(quality("İ", "😀 the") == Seq(0.0008, 0.364))
    assert(quality("", null) == Seq(0.2, null))
  }

  test("charEntropy: characters are code points, summed in sorted order") {
    assert(entropy("abcd", "aab", "😀😀ab", "İ") == Seq(2.0, 0.918296, 1.5, 0.0))
    assert(entropy("", null) == Seq(0.0, null))
  }

  test("registrableDomain: IPv4 and bracketed IPv6 hosts have none") {
    assert(domain("https://1.2.3.4/x", "https://[2001:db8::1]:8443/x", "https://[zz]/")
      == Seq(null, null, null))
  }

  test("registrableDomain: wildcard *.ck and exception !www.ck") {
    assert(domain("https://foo.ck/", "https://a.b.foo.ck/", "https://www.ck/",
      "https://x.www.ck/") == Seq("foo.ck", "b.foo.ck", "www.ck", "www.ck"))
  }

  test("registrableDomain: a public suffix maps to itself; empty labels are labels") {
    assert(domain("https://co.uk/", "https://ck/", "https://com/")
      == Seq("co.uk", "ck", "com"))
    assert(domain("https://a..co.uk/", "https://example.com./")
      == Seq(".co.uk", "com."))
  }

  test("no scorer builds a HigherOrderFunction (interpreted lambda) node") {
    val scorers = Seq(
      TextAnalysis.languageId(col("t")), TextAnalysis.qualityScore(col("t")),
      TextAnalysis.charEntropy(col("t")), Urls.registrableDomain(col("t")))
    for (c <- scorers) {
      val plan = Seq("x").toDF("t").select(c).queryExecution.analyzed
      assert(!plan.expressions.exists(_.exists(_.isInstanceOf[HigherOrderFunction])),
        s"lambda in $c")
    }
  }
}

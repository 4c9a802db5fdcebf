package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.ScalarFilter

/** ISO-code validators — the Spark analog of the reference's `filters-iso`
  * extension package (SURVEY.md §2.5: extension registry entry points
  * `filters.ext.Country` / `Currency` / `Locale`). Code sets come from the
  * JDK's own ISO tables (`java.util.Locale` / `java.util.Currency`) and are
  * inlined as literal sets in the expression tree — map-only membership
  * checks, no lookup table to broadcast or join.
  */
object Iso {
  val countryCodes: Seq[String] =
    java.util.Locale.getISOCountries.toSeq.sorted
  val languageCodes: Seq[String] =
    java.util.Locale.getISOLanguages.toSeq.sorted
  val currencyCodes: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.util.Currency.getAvailableCurrencies.asScala.map(_.getCurrencyCode).toSeq.sorted
  }
}

/** ISO-3166 alpha-2 country code; cleaned to uppercase canonical form.
  * Reference: `filters-iso` extension `Country`. */
case class Country() extends ScalarFilter {
  val name = "Country"
  val code = "invalid_country"
  override protected def defaultMessage = "This value is not an ISO 3166-1 country code."
  override protected def invalid(v: Column) = !upper(v).isin(Iso.countryCodes: _*)
  override protected def clean(v: Column) = upper(v)
}

/** ISO-639-1 language code; cleaned to lowercase canonical form.
  * Reference: `filters-iso` extension `Locale` (language part). */
case class Language() extends ScalarFilter {
  val name = "Language"
  val code = "invalid_language"
  override protected def defaultMessage = "This value is not an ISO 639-1 language code."
  override protected def invalid(v: Column) = !lower(v).isin(Iso.languageCodes: _*)
  override protected def clean(v: Column) = lower(v)
}

/** ISO-4217 currency code; cleaned to uppercase canonical form.
  * Reference: `filters-iso` extension `Currency`. */
case class Currency() extends ScalarFilter {
  val name = "Currency"
  val code = "invalid_currency"
  override protected def defaultMessage = "This value is not an ISO 4217 currency code."
  override protected def invalid(v: Column) = !upper(v).isin(Iso.currencyCodes: _*)
  override protected def clean(v: Column) = upper(v)
}

/** BCP-47 locale tag (`en`, `en-US`, `zh-Hant-TW`, `fil-PH`, `es-419`,
  * `ja-JP-u-ca-japanese`): 2-letter languages validated against ISO-639-1
  * (3+-letter primary subtags accepted syntactically — the JDK ships no
  * public 639-2/3 table); the region subtag — parsed POSITIONALLY per the
  * BCP-47 grammar (language, optional 4-alpha script, then region), never
  * from extension subtags — must be a real ISO-3166 code when 2-alpha
  * (numeric UN M49 accepted). Cleaned to canonical `ll-Ssss-RR` casing
  * with extension/variant subtags left lowercase, as BCP-47 specifies.
  * Reference: `filters-iso` extension `Locale`. */
case class LocaleTag() extends ScalarFilter {
  val name = "LocaleTag"
  val code = "invalid_locale"
  override protected def defaultMessage = "This value is not a valid locale tag."
  private val shape = "^[A-Za-z]{2,8}(-[A-Za-z0-9]{1,8})*$"
  // lowercased decomposition: g1 lang, g3 script, g5 region, g6 remainder
  private val decomp = "^([a-z]{2,8})(-([a-z]{4}))?(-([a-z]{2}|[0-9]{3}))?((-.*)?)$"
  private def norm(v: Column) = lower(regexp_replace(v, "_", "-"))
  override protected def invalid(v: Column) = {
    val n = norm(v)
    val lang = regexp_extract(n, decomp, 1)
    val region = regexp_extract(n, decomp, 5)
    !n.rlike(shape) ||
      (length(lang) === 2 && !lang.isin(Iso.languageCodes: _*)) ||
      (region.rlike("^[a-z]{2}$") && !upper(region).isin(Iso.countryCodes: _*))
  }
  override protected def clean(v: Column) = {
    val n = norm(v)
    val script = regexp_extract(n, decomp, 3)
    val region = regexp_extract(n, decomp, 5)
    concat(regexp_extract(n, decomp, 1),
      when(script === "", "").otherwise(concat(lit("-"), initcap(script))),
      when(region === "", "").otherwise(concat(lit("-"), upper(region))),
      regexp_extract(n, decomp, 6))
  }
}

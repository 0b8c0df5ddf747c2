package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Value-normalization transforms (SURVEY.md §2.2 F1, F5, F7, F8).
  * All literal-map lookups constant-fold into codegen — at cluster
  * scale they are map-side with zero shuffle; the year clamp is the
  * one data-dependent op (an aggregate for the floor, then a pure
  * expression — SURVEY.md §7.4).
  */
object Normalize {

  /** F1 — currency → EUR rates
    * (/root/reference/src/pipeline_pyspark.py:30-36). Unknown
    * currency → null (the reference's NaN). */
  val currencyRates: Map[String, Double] =
    Map("EUR" -> 1.0, "CHF" -> 1.06, "DKK" -> 0.13, "GBP" -> 1.17)

  def priceEur(price: Column, currency: Column): Column =
    price * element_at(typedlit(currencyRates), currency)

  /** F5 — the reference's 126-entry country-normalization dictionary
    * (/root/reference/src/pipeline_pyspark.py:56-182): canonical
    * casings, localized/typo variants, cities/regions → country, and
    * the `"nan"` → `"None"` missing marker. Values NOT in the map
    * pass through lowercase (evidence: committed summary rows
    * `croatia (hrvatska)`, `belgium` — SURVEY.md §2.2 F5). */
  val countryMap: Map[String, String] = Map(
    // valid countries (normalized casing)
    "switzerland" -> "Switzerland", "germany" -> "Germany",
    "denmark" -> "Denmark", "italy" -> "Italy", "france" -> "France",
    "united kingdom" -> "United Kingdom", "spain" -> "Spain",
    "austria" -> "Austria", "netherlands" -> "Netherlands",
    "slovenia" -> "Slovenia", "serbia" -> "Serbia",
    "slovakia" -> "Slovakia", "croatia" -> "Croatia",
    "portugal" -> "Portugal", "malta" -> "Malta",
    "montenegro" -> "Montenegro", "latvia" -> "Latvia",
    "greece" -> "Greece", "poland" -> "Poland", "turkey" -> "Turkey",
    "finland" -> "Finland", "hungary" -> "Hungary", "cyprus" -> "Cyprus",
    "czech republic" -> "Czech Republic", "sweden" -> "Sweden",
    "lithuania" -> "Lithuania", "united states" -> "United States",
    "ukraine" -> "Ukraine", "estonia" -> "Estonia", "monaco" -> "Monaco",
    "russia" -> "Russia", "egypt" -> "Egypt",
    "united arab emirates" -> "United Arab Emirates",
    "australia" -> "Australia", "bulgaria" -> "Bulgaria",
    "philippines" -> "Philippines", "taiwan" -> "Taiwan",
    "thailand" -> "Thailand", "luxembourg" -> "Luxembourg",
    "venezuela" -> "Venezuela", "ireland" -> "Ireland",
    "norway" -> "Norway", "seychelles" -> "Seychelles",
    "morocco" -> "Morocco", "lebanon" -> "Lebanon", "romania" -> "Romania",
    // localized / typo variants
    "italien" -> "Italy", "italie" -> "Italy", "dalmatien" -> "Croatia",
    "kroatien krk" -> "Croatia", "espa?a" -> "Spain",
    // cities / regions mapped to their country
    "steinwiesen" -> "Germany", "rolle" -> "Switzerland",
    "baden baden" -> "Germany", "lake constance" -> "Germany",
    "split" -> "Croatia", "lago maggiore" -> "Italy",
    "brandenburg an derhavel" -> "Germany", "zevenbergen" -> "Netherlands",
    "faoug" -> "Switzerland", "martinique" -> "France",
    "gibraltar" -> "United Kingdom", "mallorca" -> "Spain",
    "opwijk" -> "Belgium", "isle of man" -> "United Kingdom",
    "neusiedl am see" -> "Austria", "bodensee" -> "Germany",
    "avenches" -> "Switzerland", "heilbronn" -> "Germany",
    "z richse, 8855 wangen sz" -> "Switzerland", "ibiza" -> "Spain",
    "lommel" -> "Belgium", "wijdenes" -> "Netherlands",
    "bremen" -> "Germany", "bielefeld" -> "Germany",
    "porto rotondo" -> "Italy", "berlin wannsee" -> "Germany",
    "toscana" -> "Italy", "vierwaldst ttersee - buochs" -> "Switzerland",
    "juelsminde havn" -> "Denmark", "barssel" -> "Germany",
    "welschenrohr" -> "Switzerland", "thun" -> "Switzerland",
    "adria" -> "Italy", "rovinij" -> "Croatia", "donau" -> "Germany",
    "travem nde" -> "Germany", "stralsund" -> "Germany",
    "rostock" -> "Germany", "lake geneva" -> "Switzerland",
    "belgi, zulte" -> "Belgium", "niederrhein" -> "Germany",
    "r gen" -> "Germany", "oder" -> "Germany", "beilngries" -> "Germany",
    "marina punat" -> "Croatia", "french southern territories" -> "France",
    "brandenburg" -> "Germany", "nan" -> "None",
    "waren m ritz" -> "Germany", "jersey" -> "United Kingdom",
    "neustadt in holstein (ostsee)" -> "Germany", "ostsee" -> "Germany",
    "greetsile/ krummh rn" -> "Germany", "annecy" -> "France",
    "izola" -> "Slovenia", "83278 traunstein" -> "Germany",
    "novi vinodolski" -> "Croatia", "lago di garda" -> "Italy",
    "nordseek ste" -> "Germany", "24782 b delsdorf" -> "Germany",
    "pt stkysten ellers esbjerg" -> "Denmark",
    "calanova mallorca" -> "Spain", "katwijk" -> "Netherlands",
    "tenero, lago maggiore" -> "Switzerland", "fu ach" -> "Austria",
    "angera" -> "Italy", "lago maggiore, minusio" -> "Switzerland",
    "thalwil" -> "Switzerland", "rheinfelden" -> "Germany")

  /** F5 application: stringify (null → "nan"), strip+lower, replace
    * through the map; unmapped values pass through LOWERCASE. */
  def normalizeCountry(c: Column): Column = {
    val key = when(c.isNull, lit("nan")).otherwise(lower(trim(c)))
    coalesce(element_at(typedlit(countryMap), key), key)
  }

  /** The Databricks-variant country treatment: stripped-lowercase
    * only, no dictionary (null still becomes "None" via the
    * stringify rule, /root/reference/databricks/boat_etl_databricks
    * .py:189-204). */
  def lowercaseCountry(c: Column): Column =
    when(c.isNull, lit("None")).otherwise(lower(trim(c)))

  /** F8 — data-dependent year clamp, as a pure expression over the
    * year floor `minYear`, the least plausible year of the input.
    * [[BoatPipeline.clean]] finds it with
    * [[BoatPipeline.minPlausibleYear]]; [[BoatPipeline.run]] takes it
    * from the per-country aggregate that also yields the summary. Keep
    * y iff minYear ≤ y ≤ currentYear, else minYear − 10. */
  def clampYear(y: Column, minYear: Long, currentYear: Int): Column =
    when(y.between(minYear, currentYear), y).otherwise(lit(minYear - 10))
}

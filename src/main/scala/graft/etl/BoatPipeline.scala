package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The validated, typed record at the pipeline boundary (SURVEY.md
  * §1.5: typed Dataset only where the schema is fixed and type safety
  * pays — downstream consumers get compile-time column access).
  * `boat_class` carries the reference's `Type` column (a Scala
  * keyword); `price_eur` is Option because unknown currencies have no
  * rate. */
final case class BoatRecord(
  price: Long, boat_type: String, manufacturer: String,
  boat_class: String, power: String, year_built: Long,
  length: Double, width: Double, material: String, city: String,
  country: String, currency: String, price_eur: Option[Double],
  views: Long)

/** The reference's full ETL composed Spark-first (SURVEY.md §7.2
  * step 3): raw CSV → line scrub → parse → transforms → validation →
  * Parquet sink + country summary. No pandas stage, and the summary
  * runs ONCE (the reference executes it twice — show + toPandas,
  * /root/reference/src/pipeline_pyspark.py:361-362).
  *
  * [[clean]] is [[prepare]] (every row-local transform) followed by
  * [[clampYears]] (the one data-dependent transform, F8). [[run]] uses
  * the split to read the parsed input only twice: one aggregate yields
  * both the year floor and the summary, and one Parquet write applies
  * the clamp and observes the validation counts.
  */
object BoatPipeline {

  private val yearBuilt = col("Year Built")

  /** F8 phase 1 — scan-reduce for the minimum plausible year (zero
    * and null excluded). ONE scalar crosses to the driver; the clamp
    * itself stays an expression (SURVEY.md §7.4: data-dependent
    * constants via aggregate-then-broadcast, never per-row driver
    * logic). Throws [[Validate.ValidationException]] when no row has a
    * plausible year. */
  def minPlausibleYear(raw: DataFrame): Long = {
    val r = raw.agg(plausibleYearMin).first()
    yearFloor(if (r.isNullAt(0)) None else Some(r.getLong(0)))
  }

  /** The minimum of the non-null, non-zero `Year Built` values. */
  private def plausibleYearMin: Column =
    min(when(yearBuilt =!= 0, yearBuilt))

  /** The year floor, or the fail-fast error when there is none to
    * clamp to. */
  private def yearFloor(minYear: Option[Long]): Long =
    minYear.getOrElse(throw new Validate.ValidationException(
      "validation failed: no plausible Year Built (every value is null or 0), so the year floor is undefined"))

  /** Every column transform of [[clean]] except the year clamp
    * (F1, F3-F7, F9; the reference's src/pipeline_pyspark.py:205-310).
    * Each is row-local, so this frame can feed the aggregate that
    * finds the year floor. `Year Built` passes through raw.
    *
    * `normalizeCountries = false` selects the Databricks-variant
    * semantics (the notebook leaves the dictionary replace commented
    * out, /root/reference/databricks/boat_etl_databricks.py:193-194):
    * countries stay stripped-lowercase. */
  def prepare(raw: DataFrame, normalizeCountries: Boolean = true): DataFrame = {
    val priced = Parse.splitPrice(raw)
      .withColumn("price_eur", Normalize.priceEur(col("Price"), col("Currency")))
    val countryExpr =
      if (normalizeCountries) Normalize.normalizeCountry(col("Country"))
      else Normalize.lowercaseCountry(col("Country"))
    // temp name: "country" vs "Country" collide under Spark's
    // case-insensitive resolution (withColumn would replace, drop
    // would then remove both)
    val located = Parse.splitLocation(priced)
      .withColumn("country_norm", countryExpr)
      .drop("Country")
      .withColumnRenamed("country_norm", "country")
    val typed = Parse.splitType(
      located.na.fill(Map("Length" -> 0.0, "Width" -> 0.0, "Type" -> "None")))
    typed.na.fill("None", Seq("Manufacturer", "Material", "City", "country"))
  }

  /** F8 phase 2 — clamp `Year Built` in place to the year floor
    * `minYear` ([[Normalize.clampYear]]). */
  def clampYears(df: DataFrame, minYear: Long, currentYear: Int): DataFrame =
    df.withColumn("Year Built", Normalize.clampYear(yearBuilt, minYear, currentYear))

  /** Full column-transform stage over the parsed raw frame
    * (F1, F3-F9). Output schema = SURVEY.md §1.3 (14 columns). */
  def clean(raw: DataFrame,
            currentYear: Int = java.time.Year.now.getValue,
            normalizeCountries: Boolean = true): DataFrame =
    clampYears(prepare(raw, normalizeCountries), minPlausibleYear(raw), currentYear)

  /** [[clean]] narrowed to the typed boundary: Dataset[BoatRecord]
    * with an implicit product encoder — downstream logic gets
    * compile-checked fields instead of stringly columns. */
  def cleanTyped(raw: DataFrame,
                 currentYear: Int = java.time.Year.now.getValue,
                 normalizeCountries: Boolean = true): Dataset[BoatRecord] = {
    val df = clean(raw, currentYear, normalizeCountries)
    import df.sparkSession.implicits._
    df.select(
        col("Price").as("price"), col("Boat Type").as("boat_type"),
        col("Manufacturer").as("manufacturer"), col("Type").as("boat_class"),
        col("Power").as("power"), col("Year Built").as("year_built"),
        col("Length").as("length"), col("Width").as("width"),
        col("Material").as("material"), col("City").as("city"),
        col("country"), col("Currency").as("currency"),
        col("price_eur"), col("Number of views last 7 days").as("views"))
      .as[BoatRecord]
  }

  /** A1 — per-country average price and listing count. avg skips
    * null price_eur exactly as pandas mean skips NaN. */
  private val summaryAggs: Seq[Column] =
    Seq(avg(col("price_eur")).as("avg_price"), count(lit(1)).as("count"))

  /** O1 — avg desc, nulls last, country tiebreak for determinism. */
  private val summaryOrder: Seq[Column] =
    Seq(col("avg_price").desc_nulls_last, col("country"))

  /** A1 + O1 over a cleaned frame. */
  def summary(cleaned: DataFrame): DataFrame =
    cleaned.groupBy(col("country"))
      .agg(summaryAggs.head, summaryAggs.tail: _*)
      .orderBy(summaryOrder: _*)

  /** End-to-end run: load → aggregate (year floor + summary) → clamp,
    * validate and Parquet sink (S4) in one write → single-file CSV
    * summary sink (S5). Four Spark jobs, two reads of the parsed input:
    *
    *  1. One aggregate over [[prepare]]d rows grouped by country, with
    *     the summary's columns and each country's minimum plausible
    *     year, is collected (at most one row per country). The year
    *     floor is the least of those minimums, so [[clean]]'s separate
    *     min-year scan is not needed.
    *  1. The clamped rows are written to a staging directory under
    *     `outDir` while `Dataset.observe` counts the violations of
    *     [[Validate.boatChecks]]. Any violation (fail-fast, V3) deletes
    *     the staging directory and throws the [[Validate.validateOrThrow]]
    *     error; otherwise the staging directory replaces
    *     `data.parquet` by a rename. A failed run leaves earlier
    *     outputs as they were.
    *  1. The collected rows, sorted in one partition, are written as
    *     `data_summary.csv` under `summaryDir` (default `outDir`) and
    *     returned for display (S6) without re-executing anything.
    */
  def run(spark: SparkSession, inPath: String, outDir: String,
          currentYear: Int = java.time.Year.now.getValue,
          show: Boolean = false,
          summaryDir: Option[String] = None): DataFrame = {
    val raw = Parse.load(spark, inPath)
    Validate.requireColumns(raw, Parse.rawSchema.fieldNames.toSeq)
    val prepared = prepare(raw)

    val perCountry = prepared.groupBy(col("country"))
      .agg(summaryAggs.head, summaryAggs.tail :+ plausibleYearMin.as("min_year"): _*)
    val groups = perCountry.collect()
    val floor = yearFloor(groups.filterNot(_.isNullAt(3)).map(_.getLong(3)).minOption)

    val checks = Validate.boatChecks(currentYear)
    val counts = Validate.violationCounts(checks)
    val observed = Observation()
    val target = new Path(outDir, "data.parquet")
    val staging = new Path(outDir, s"_data.parquet.staging-${java.util.UUID.randomUUID()}")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      clampYears(prepared, floor, currentYear)
        .observe(observed, counts.head, counts.tail: _*)
        .write.parquet(staging.toString)
      val metrics = observed.get
      Validate.throwIfViolated(checks.map { case (rule, _) => rule -> metrics(rule).asInstanceOf[Long] })
    } catch {
      case t: Throwable => fs.delete(staging, true); throw t
    }
    fs.delete(target, true)
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"could not rename $staging to $target")

    val s = spark.createDataFrame(
        groups.map(r => Row(r.get(0), r.get(1), r.get(2))).toSeq.asJava,
        StructType(perCountry.schema.take(3)))
      .coalesce(1).sortWithinPartitions(summaryOrder: _*)
    s.write.mode("overwrite").option("header", "true")
      .csv(s"${summaryDir.getOrElse(outDir)}/data_summary.csv")
    if (show) s.show(false) // S6 console sink
    s
  }
}

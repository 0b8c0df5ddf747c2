package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema/domain validation (SURVEY.md §2.6 V1-V3) — the engine's
  * version of the reference's pandera DataFrameSchema
  * (/root/reference/src/pipeline_pyspark.py:275-308): every check is
  * a Column predicate counted in ONE distributed pass (single agg,
  * no per-rule scans), and the fail-fast gate throws instead of
  * sys.exit. Dtypes are enforced structurally by [[Parse.rawSchema]]
  * (V1a), so only domain/nullability checks appear here.
  */
object Validate {

  /** Thrown by [[validateOrThrow]] — V3's fail-the-job. */
  final class ValidationException(msg: String) extends RuntimeException(msg)

  val materialDomain: Seq[String] = Seq(
    "Aluminium", "Carbon Fiber", "GRP", "Hypalon", "None", "PVC",
    "Plastic", "Reinforced concrete", "Rubber", "Steel",
    "Thermoplastic", "Wood")

  /** V1b-V1g as (rule name, VIOLATION predicate) pairs over the
    * cleaned frame. */
  def boatChecks(currentYear: Int): Seq[(String, Column)] = Seq(
    "currency_domain" -> !col("Currency").isin("CHF", "EUR", "USD", "DKK", "GBP"),
    "year_range"      -> !col("Year Built").between(1800, currentYear),
    "length_range"    -> !col("Length").between(0, 1000),
    "width_range"     -> !col("Width").between(0, 1000),
    "material_domain" -> (col("Material").isNull || !col("Material").isin(materialDomain: _*)),
    "views_range"     -> !col("Number of views last 7 days").between(0, 1000000),
    "manufacturer_null" -> col("Manufacturer").isNull,
    "type_null"       -> col("Type").isNull,
    "power_null"      -> col("Power").isNull)

  /** V2 — header/required-column presence; fail fast before any job
    * runs. */
  def requireColumns(df: DataFrame, required: Seq[String]): Unit = {
    val missing = required.toSet -- df.columns.toSet
    if (missing.nonEmpty)
      throw new ValidationException(s"missing columns: ${missing.toSeq.sorted.mkString(", ")}")
  }

  /** One violation-count aggregate per check, named after its rule —
    * shared by the aggregate pass ([[report]]) and the observed write
    * in [[BoatPipeline.run]]. */
  def violationCounts(checks: Seq[(String, Column)]): Seq[Column] =
    checks.map { case (name, bad) => count(when(bad, 1)).as(name) }

  /** V3's verdict over (rule, violations) pairs: throws, naming every
    * violated rule in rule order, if any count is above 0. */
  def throwIfViolated(counts: Seq[(String, Long)]): Unit = {
    val bad = counts.filter(_._2 > 0).sortBy(_._1)
    if (bad.nonEmpty)
      throw new ValidationException(
        bad.map { case (rule, n) => s"$rule=$n" }.mkString("validation failed: ", ", ", ""))
  }

  /** Violation report: one row per rule with its violation count —
    * a single conditional-count aggregate pass, unpivoted with
    * stack(). */
  def report(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val aggs = violationCounts(checks)
    val stackArgs = checks.map { case (name, _) => s"'$name', `$name`" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${checks.size}, $stackArgs) AS (rule, violations)")
      .orderBy(col("rule"))
  }

  /** V3 — fail the job if any check has violations. */
  def validateOrThrow(df: DataFrame, checks: Seq[(String, Column)]): Unit =
    throwIfViolated(report(df, checks).collect().map(r => r.getString(0) -> r.getLong(1)).toSeq)
}

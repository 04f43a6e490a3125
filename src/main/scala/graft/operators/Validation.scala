package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation (the Deequ/Great-Expectations
  * shape): a set of constraints over a table, evaluated together,
  * emitting one report row per constraint — `(check, column, metric,
  * violations, passed)`. The gate every production ingest runs
  * before publishing a snapshot: completeness, uniqueness, range,
  * and set-membership checks compile into sufficient COUNTS inside
  * ONE aggregate scan (map-side combined — adding a check adds a
  * column to the aggregate, never a pass over the data), and
  * referential-integrity checks add one keys-projected anti-join
  * each against their dimension. Nothing corpus-sized moves: the
  * report is checks-sized.
  *
  * Exactness: every metric is a count ratio — exact longs and one
  * correctly-rounded division — so the report hash-gates. `passed`
  * uses the metric threshold for ratio checks (`metric >= minRatio`)
  * and zero-violations for the others.
  */
object Validation {

  sealed trait Check { def name: String }
  /** Fraction of non-null values in `column` must be ≥ `minRatio`. */
  final case class Complete(name: String, column: String, minRatio: Double = 1.0) extends Check
  /** Fraction of distinct non-null values over non-null rows must be ≥ `minRatio`. */
  final case class Unique(name: String, column: String, minRatio: Double = 1.0) extends Check
  /** Non-null values outside [lo, hi] are violations; passes when none. */
  final case class InRange(name: String, column: String, lo: Double, hi: Double) extends Check
  /** Non-null values outside the allowed set are violations. */
  final case class InSet(name: String, column: String, allowed: Seq[String]) extends Check
  /** Non-null foreign keys absent from `dim.dimCol` are violations. */
  final case class RefIntegrity(name: String, column: String,
                                dim: DataFrame, dimCol: String) extends Check

  /** The scan checks' sufficient counts as aggregate columns — the
    * compiled kernel of [[report]]. */
  def scanAggs(checks: Seq[Check]): Seq[Column] = {
    val perCheck = checks.collect {
      case Complete(n, c, _) => Seq(count(col(c)).as(s"__c_$n"))
      case Unique(n, c, _) =>
        Seq(count_distinct(col(c)).as(s"__c_$n"), count(col(c)).as(s"__nn_$n"))
      case InRange(n, c, lo, hi) =>
        Seq(sum(when(col(c).isNotNull &&
          (col(c).cast("double") < lo || col(c).cast("double") > hi), 1L)
          .otherwise(0L)).as(s"__c_$n"))
      case InSet(n, c, allowed) =>
        Seq(sum(when(col(c).isNotNull && !col(c).cast("string").isin(allowed: _*), 1L)
          .otherwise(0L)).as(s"__c_$n"))
    }.flatten
    count(lit(1)).as("__total") +: perCheck
  }

  /** One report struct per scan check, over [[scanAggs]]' aliases. */
  def scanRows(checks: Seq[Check]): Seq[Column] = {
    val total = col("__total").cast("double")
    checks.collect {
      case Complete(n, c, minR) =>
        val metric = col(s"__c_$n").cast("double") / total
        struct(lit(n).as("check"), lit(c).as("column"), metric.as("metric"),
          (col("__total") - col(s"__c_$n")).as("violations"),
          (metric >= minR).cast("long").as("passed"))
      case Unique(n, c, minR) =>
        val metric = col(s"__c_$n").cast("double") / col(s"__nn_$n").cast("double")
        struct(lit(n).as("check"), lit(c).as("column"), metric.as("metric"),
          (col(s"__nn_$n") - col(s"__c_$n")).as("violations"),
          (metric >= minR).cast("long").as("passed"))
      case InRange(n, c, _, _) =>
        struct(lit(n).as("check"), lit(c).as("column"),
          (col(s"__c_$n").cast("double") / total).as("metric"),
          col(s"__c_$n").as("violations"),
          (col(s"__c_$n") === 0L).cast("long").as("passed"))
      case InSet(n, c, _) =>
        struct(lit(n).as("check"), lit(c).as("column"),
          (col(s"__c_$n").cast("double") / total).as("metric"),
          col(s"__c_$n").as("violations"),
          (col(s"__c_$n") === 0L).cast("long").as("passed"))
    }
  }

  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "validation needs at least one check")
    require(checks.map(_.name).distinct.size == checks.size, "check names must be unique")
    val scanChecks = checks.filterNot(_.isInstanceOf[RefIntegrity])
    val scanReports =
      if (scanChecks.isEmpty) Nil
      else {
        val aggs = scanAggs(scanChecks)
        Seq(df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(scanRows(scanChecks): _*)).as("r"))
          .select(col("r.check"), col("r.column"), col("r.metric"),
            col("r.violations"), col("r.passed")))
      }
    // Referential checks: keys-projected anti-join each; orphan rows
    // are violations, metric is the orphan share.
    val refReports = checks.collect { case RefIntegrity(n, c, dim, dc) =>
      val totalR = df.select(count(col(c)).as("__nn"))
      val orphans = df.select(col(c)).filter(col(c).isNotNull)
        .join(dim.select(col(dc).as(c)).distinct(), Seq(c), "left_anti")
        .agg(count(lit(1)).as("__orph"))
      totalR.crossJoin(orphans).select(
        lit(n).as("check"), lit(c).as("column"),
        (col("__orph").cast("double") / col("__nn").cast("double")).as("metric"),
        col("__orph").as("violations"),
        (col("__orph") === 0L).cast("long").as("passed"))
    }
    (scanReports ++ refReports).reduce(_ unionByName _)
  }
}

package graft.constraints

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Outcome of one constraint over one unit of validation (a partition):
  * pass/fail verdict + a deterministic, capped sample of violating rows
  * (SURVEY.md O5 — at 10^12 scale full violation dumps are not writable).
  */
case class ConstraintResult(
    check: String,
    passed: Boolean,
    violationCount: Long,
    violations: DataFrame)

object Constraints {
  /** Max violation rows materialized per check (deterministic order). */
  val ViolationSampleCap = 100

  private def capped(df: DataFrame, orderCols: Seq[String], cap: Int): DataFrame =
    df.orderBy(orderCols.map(col): _*).limit(cap)

  /** J1: referential integrity — fact rows whose key combination has no
    * match in the (small, broadcast) dimension are violations.
    */
  def referential(facts: DataFrame, dim: DataFrame, keys: Seq[String],
                  cap: Int = ViolationSampleCap): ConstraintResult = {
    val bad = facts.join(broadcast(dim.select(keys.map(col): _*).distinct()), keys, "left_anti")
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("violation_count"))
    val n = bad.agg(coalesce(sum("violation_count"), lit(0L))).collect()(0).getLong(0)
    ConstraintResult("referential", n == 0, n, capped(bad, keys, cap))
  }

  /** Functional-dependency constraint `lhs → rhs` (Deequ/CFD family — the
    * classic "one repo+path maps to one lang" contract): a determinant
    * (`lhs` combination) is violating iff it co-occurs with more than one
    * distinct `rhs` combination. NULLs participate as values (SQL GROUP BY
    * semantics — a null rhs IS a second mapping if a non-null one exists;
    * callers wanting null-tolerance filter first).
    *
    * Exact two-phase count-distinct: groupBy(lhs, rhs) then groupBy(lhs) —
    * both map-side combined, never `countDistinct`'s per-group expansion,
    * so a determinant seen 10^9 times (a mega-repo path) contributes one
    * row per DISTINCT rhs to the second shuffle, not 10^9.
    *
    * Violation sample rows: `(lhs..., n_rhs_values, n_rows)` per violating
    * determinant; violationCount counts violating DETERMINANTS (each is
    * one broken contract, regardless of its row weight).
    */
  def functionalDependency(df: DataFrame, lhs: Seq[String], rhs: Seq[String],
                           cap: Int = ViolationSampleCap): ConstraintResult = {
    require(lhs.nonEmpty && rhs.nonEmpty, "functionalDependency: empty side")
    require(lhs.intersect(rhs).isEmpty,
      s"functionalDependency: ${lhs.intersect(rhs).mkString(",")} on both sides")
    val pairs = df.groupBy((lhs ++ rhs).map(col): _*)
      .agg(count(lit(1)).as("_rows"))
    val bad = pairs.groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rhs_values"), sum("_rows").as("n_rows"))
      .where(col("n_rhs_values") > 1)
    val n = bad.agg(count(lit(1))).collect()(0).getLong(0)
    ConstraintResult("functional_dependency", n == 0, n, capped(bad, lhs, cap))
  }
}

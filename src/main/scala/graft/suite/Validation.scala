package graft.suite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.stats.Stats

/** The reference's PySpark validation job (DESIGN.md §3.3, :337-391),
  * generalized: completeness counts for named columns in ONE aggregate pass,
  * error rates, conditional range expectations, and an overall quality
  * score. Report shape mirrors DESIGN.md:383-387
  * {basic_validation, advanced_validation, overall_quality_score}; the
  * score formula (a stub in the reference, :389-391) is pinned as
  * `1 − max(error_rates)`, gated to 0 if any expectation fails
  * (FIXTURES.md §4). The Verify queries `q_completeness` and
  * `q_conditional_range` run it against their DuckDB oracles.
  */
object Validation {

  case class RangeExpectation(name: String, condition: Column, valueCol: String,
                              lo: Double, hi: Double)

  case class Report(
      totalRecords: Long,
      missingCounts: Map[String, Long],
      errorRates: Map[String, Double],
      expectationResults: Map[String, (Long, Long)], // name -> (failures, rows)
      overallQualityScore: Double)

  /** Reference defaults for the sensor schema: traffic value ∈ [0,500],
    * temperature ∈ [−20,50] (DESIGN.md:366-380).
    */
  def sensorExpectations: Seq[RangeExpectation] = Seq(
    RangeExpectation("traffic_count_range", col("type") === "traffic", "vehicle_count", 0, 500),
    RangeExpectation("temperature_range", col("type") === "environment", "temperature", -20, 50))

  def validate(df: DataFrame, completenessCols: Seq[String],
               expectations: Seq[RangeExpectation]): Report = {
    // ONE pass: total + per-column missing + per-expectation failure counts
    val aggs = Seq(count(lit(1)).as("__total")) ++
      completenessCols.map(c =>
        sum(when(Stats.missingPred(df, c), 1L).otherwise(0L)).as(s"__miss_$c")) ++
      expectations.flatMap { e =>
        val v = col(e.valueCol).cast("double")
        Seq(
          sum(when(e.condition && (v.isNull || isnan(v) || v < e.lo || v > e.hi), 1L)
            .otherwise(0L)).as(s"__fail_${e.name}"),
          sum(when(e.condition, 1L).otherwise(0L)).as(s"__rows_${e.name}"))
      }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val total = row.getAs[Long]("__total")
    val missing = completenessCols.map(c => c -> row.getAs[Long](s"__miss_$c")).toMap
    val rates = missing.map { case (c, m) =>
      c -> (if (total == 0) 0.0 else m.toDouble / total)
    }
    val exps = expectations.map { e =>
      e.name -> ((row.getAs[Long](s"__fail_${e.name}"), row.getAs[Long](s"__rows_${e.name}")))
    }.toMap
    val anyExpectationFailed = exps.values.exists(_._1 > 0)
    val score = if (anyExpectationFailed) 0.0
      else 1.0 - (if (rates.isEmpty) 0.0 else rates.values.max)
    Report(total, missing, rates, exps, score)
  }
}

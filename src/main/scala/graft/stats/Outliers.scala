package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-level numeric outlier detection — the two published rules every
  * validation harness ships: Tukey fences (values beyond
  * `[Q1 − k·IQR, Q3 + k·IQR]`, k=1.5; Tukey 1977) and the z-score rule
  * (`|x − μ| / σ > z`, z=3). The reference's checks are all
  * column-aggregate level; this adds the row-level complement: WHICH rows
  * are suspect, as a flag column the caller can filter, sample
  * ([[MinKStringsAgg]]), or route to quarantine.
  *
  * Shape: one aggregate job computes Q1/Q3/μ/σ (exact interpolated
  * `percentile` — DuckDB's `quantile_cont` semantics); the four scalars
  * re-attach via a broadcast of the single-row aggregate, so the data
  * side is ONE scan with a codegen'd filter — no window, no second
  * shuffle, and the plan stays lazy (no driver action at build time).
  * At 10^12 rows exact percentile is the one expensive piece — swap in
  * a KLL sketch (`kll_sketch_agg_double`, A15) when fence precision beyond
  * the sketch error is not required; the flag semantics are unchanged.
  *
  * Null values get false flags and a null z (a missing value is a
  * completeness violation, not an outlier); a zero/undefined σ yields
  * null z (the [[graft.suite.Monitoring.volumeAnomaly]] convention).
  */
object Outliers {

  /** `df` + `(lo_fence, hi_fence, is_outlier_iqr, z, is_outlier_z)`. */
  def flag(df: DataFrame, valueCol: String, iqrK: Double = 1.5,
           zThreshold: Double = 3.0): DataFrame = {
    val v = col(valueCol).cast("double")
    val b = df.agg(
      percentile(v, lit(0.25)).as("_q1"),
      percentile(v, lit(0.75)).as("_q3"),
      avg(v).as("_mu"),
      stddev_samp(v).as("_sigma"))
    df.crossJoin(broadcast(b))
      .withColumn("lo_fence", col("_q1") - lit(iqrK) * (col("_q3") - col("_q1")))
      .withColumn("hi_fence", col("_q3") + lit(iqrK) * (col("_q3") - col("_q1")))
      .withColumn("is_outlier_iqr",
        coalesce(v < col("lo_fence") || v > col("hi_fence"), lit(false)))
      .withColumn("z", when(col("_sigma") > 0, (v - col("_mu")) / col("_sigma")))
      .withColumn("is_outlier_z", coalesce(abs(col("z")) > zThreshold, lit(false)))
      .drop("_q1", "_q3", "_mu", "_sigma")
  }
}

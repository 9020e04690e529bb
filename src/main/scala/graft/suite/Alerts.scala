package graft.suite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Alert rules engine (reference DESIGN.md:689-747): threshold rules
  * {metric, comparison ∈ {greater_than, less_than, equals}, threshold,
  * severity} are a tiny dimension broadcast-joined against metric rows;
  * matches become alert rows. The reference's webhook/email/sms sinks are
  * out of scope (zero egress) — alerts land in the audit table and the
  * caller decides (reference T6: verdict row with action instead).
  */
case class AlertRule(metric: String, comparison: String, threshold: Double,
                     severity: String, message_template: String)

object Alerts {
  /** Reference defaults (DESIGN.md:692-700 shape). */
  val DefaultRules: Seq[AlertRule] = Seq(
    AlertRule("drift_ks", "less_than", 0.05, "critical",
      "KS drift: p=%s below threshold"), // p-value below 0.05 ⇒ drift
    AlertRule("drift_psi", "greater_than", 0.2, "warning",
      "PSI %s exceeds 0.2"),
    AlertRule("quality_score", "less_than", 0.8, "warning",
      "quality score %s below 0.8"),
    AlertRule("sha256_invariant", "greater_than", 0.0, "critical",
      "%s sha256 mismatches"),
    AlertRule("schema", "greater_than", 0.0, "critical",
      "%s schema drift issue(s) vs committed baseline"))

  /** Evaluate rules against verdict rows (rule.metric matches verdict.check;
    * the compared value is p_value for p-valued checks, metric otherwise —
    * J2 rule-to-metric broadcast join).
    */
  def evaluate(verdicts: DataFrame, rules: Seq[AlertRule] = DefaultRules): DataFrame = {
    val spark = verdicts.sparkSession
    import spark.implicits._
    val rulesDf = rules.toDF().select(
      col("metric").as("rule_metric"), col("comparison"),
      col("threshold").as("rule_threshold"), col("severity"), col("message_template"))
    val value = when(!isnan(col("p_value")), col("p_value")).otherwise(col("metric"))
    val fired = when(col("comparison") === "greater_than", value > col("rule_threshold"))
      .when(col("comparison") === "less_than", value < col("rule_threshold"))
      .otherwise(value === col("rule_threshold"))
    verdicts
      .join(broadcast(rulesDf), col("check") === col("rule_metric"))
      .where(fired)
      .select(col("batch_id"), col("check"), col("column"), col("severity"),
        // template contract: exactly ONE %s slot (replace substitutes every
        // occurrence with the same fired value by design)
        replace(col("message_template"), lit("%s"),
          round(value, 6).cast("string")).as("message"))
  }
}

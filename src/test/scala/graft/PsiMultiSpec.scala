package graft

import graft.drift.Drift
import org.apache.spark.sql.functions._

/** The melted multi-column PSI forms must agree with the single-column
  * formulas per column (the single forms delegate, so the real content here
  * is that the melted LANES don't cross: each column gets its own
  * baseline-pinned bin edges / category table).
  */
class PsiMultiSpec extends GraftSpec {

  // two numeric columns with DIFFERENT ranges and different drift, plus two
  // categorical columns with different distributions — crossed lanes would
  // produce visibly wrong values
  private lazy val df = spark.range(20000).select(
    (col("id") < 10000).as("is_base"),
    // a: baseline uniform [0,100), current shifted +20
    when(col("id") < 10000, pmod(col("id"), lit(100)).cast("double"))
      .otherwise(pmod(col("id"), lit(100)).cast("double") + 20.0).as("a"),
    // b: both sides uniform [0,1000) — no drift
    pmod(col("id") * 7, lit(1000)).cast("double").as("b"),
    concat(lit("x"), pmod(col("id"), lit(5))).as("c1"),
    when(col("id") < 10000, concat(lit("y"), pmod(col("id"), lit(3))))
      .otherwise(concat(lit("y"), pmod(col("id"), lit(7)))).as("c2"))

  test("psiNumericMulti lanes match per-column psiNumeric exactly") {
    val multi = Drift.psiNumericMulti(df, Seq("a", "b"), col("is_base"))
    // recompute each column through its own single-column call (which runs
    // a 1-lane melt — identical bucket expression, identical formula)
    val a = Drift.psiNumeric(df.select("a", "is_base"), "a", col("is_base"))
    val b = Drift.psiNumeric(df.select("b", "is_base"), "b", col("is_base"))
    assert(multi("a") == a, s"lane a: ${multi("a")} vs $a")
    assert(multi("b") == b, s"lane b: ${multi("b")} vs $b")
    assert(multi("a") > 0.1, "column a is shifted by construction")
    assert(multi("b") < 0.01, "column b is undrifted by construction")
  }

  test("psiCategoricalMulti lanes match per-column psiCategorical (up to float order)") {
    val multi = Drift.psiCategoricalMulti(df, Seq("c1", "c2"), col("is_base"))
    val s1 = Drift.psiCategorical(df.select("c1", "is_base"), "c1", col("is_base"))
    val s2 = Drift.psiCategorical(df.select("c2", "is_base"), "c2", col("is_base"))
    assert(math.abs(multi("c1") - s1) <= 1e-12, s"lane c1: ${multi("c1")} vs $s1")
    assert(math.abs(multi("c2") - s2) <= 1e-12 * math.max(1.0, s2),
      s"lane c2: ${multi("c2")} vs $s2")
    assert(multi("c1") < 0.01 && multi("c2") > 0.1)
  }

  test("psiNumericMulti: no-baseline-data and empty-input edges return 0.0") {
    val empty = df.where(lit(false))
    assert(Drift.psiNumericMulti(empty, Seq("a"), col("is_base"))("a") == 0.0)
    // baseline side empty, current populated
    val noBase = df.where(!col("is_base"))
    assert(Drift.psiNumericMulti(noBase, Seq("a"), col("is_base"))("a") == 0.0)
    assert(Drift.psiNumericMulti(df, Seq.empty, col("is_base")).isEmpty)
  }
}

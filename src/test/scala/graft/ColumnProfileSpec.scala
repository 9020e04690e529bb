package graft

import graft.stats.Profile

/** Laws for the Deequ-style column profiler: golden metrics on a
  * hand-computed table, the pinned top-value tie-break, null handling,
  * multi-column ≡ single-column (melt law), and the two-exchange plan.
  */
class ColumnProfileSpec extends GraftSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (Some("a"), Some(1)), (Some("a"), Some(2)),
    (Some("b"), Some(3)), (Some("c"), None)
  ).toDF("s", "i")

  test("golden metrics: completeness, distinctness, uniqueness, entropy, top") {
    val m = Profile.profile(df, Seq("s", "i")).collect()
      .map(r => r.getString(0) -> r).toMap
    val s = m("s")
    assert(s.getLong(1) === 4L && s.getLong(2) === 0L)       // rows, nulls
    assert(s.getDouble(3) === 1.0)                            // completeness
    assert(s.getLong(4) === 3L)                               // distinct a,b,c
    assert(s.getLong(6) === 2L)                               // unique b,c
    assert(s.getDouble(7) === 0.5)                            // uniqueness 2/4
    assert(s.getDouble(8) === 2.0 / 3)                        // unique_ratio
    // counts 2,1,1 → entropy = ln4 − (2·ln2)/4
    assert(math.abs(s.getDouble(9) - (math.log(4) - 2 * math.log(2) / 4)) < 1e-12)
    assert(s.getString(10) === "a" && s.getDouble(11) === 0.5)
    val i = m("i")
    assert(i.getLong(2) === 1L && i.getDouble(3) === 0.75)    // one null
    assert(i.getLong(4) === 3L && i.getDouble(5) === 1.0)     // all distinct
    assert(math.abs(i.getDouble(9) - math.log(3)) < 1e-12)    // uniform entropy
  }

  test("top-value ties break toward the lexicographically largest string") {
    val t = Seq("x", "x", "z", "z", "m").toDF("v")
    val r = Profile.profile(t, Seq("v")).collect().head
    assert(r.getString(10) === "z")
  }

  test("all-null column: guarded zeros, null top value") {
    val t = Seq[Option[String]](None, None).toDF("v")
    val r = Profile.profile(t, Seq("v")).collect().head
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === 0.0 && r.getDouble(5) === 0.0)
    assert(r.getDouble(9) === 0.0 && r.isNullAt(10))
  }

  test("multi-column profile equals per-column profiles (melt law)") {
    val multi = Profile.profile(df, Seq("s", "i"))
      .orderBy("col_name").collect().toSeq
    val singles = Seq("i", "s")
      .flatMap(c => Profile.profile(df, Seq(c)).collect().toSeq)
    assert(multi === singles)
  }

  test("all columns share one melt: two hash exchanges, no sort-merge join") {
    val plan = Profile.profile(df, Seq("s", "i"))
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"extra shuffles:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"names joined by shuffle:\n$plan")
  }
}

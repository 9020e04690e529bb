package graft

import graft.drift.KsTest
import graft.suite.SuiteRunner
import org.apache.spark.sql.functions._

class KsTestSpec extends GraftSpec {
  import spark.implicits._

  test("exact distributed KS matches python golden (ties across sides)") {
    val ref = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0).map(v => (v, true))
    val cur = Seq(2.0, 3.5, 4.5, 10.0, 11.0, 12.0).map(v => (v, false))
    val df = (ref ++ cur).toDF("v", "base")
    val r = KsTest.ks2Samp(df, "v", col("base"))
    assert(math.abs(r.statistic - 0.5) < 1e-12)
    assert(math.abs(r.pValue - 0.44130555778619723) < 1e-12)
    assert(r.n1 == 6 && r.n2 == 6)
  }

  test("KS on clearly drifted samples fires, identical samples do not") {
    val ref = (1 to 100).map(i => (i.toDouble, true))
    val drift = (1 to 100).map(i => (i * 3.0, false))
    val d1 = KsTest.ks2Samp((ref ++ drift).toDF("v", "base"), "v", col("base"))
    assert(math.abs(d1.statistic - 0.67) < 1e-9)
    assert(d1.drift())
    val same = (1 to 100).map(i => (i.toDouble, false))
    val d2 = KsTest.ks2Samp((ref ++ same).toDF("v", "base"), "v", col("base"))
    assert(d2.statistic == 0.0 && !d2.drift())
  }

  test("nulls and NaNs are dropped before the test (reference dropna)") {
    val rows = Seq((Some(1.0), true), (Some(2.0), true), (None, true),
      (Some(Double.NaN), false), (Some(1.0), false), (Some(2.0), false))
    val df = rows.toDF("v", "base")
    val r = KsTest.ks2Samp(df, "v", col("base"))
    assert(r.n1 == 2 && r.n2 == 2 && r.statistic == 0.0)
  }

  test("driver-side ksFromCounts agrees with distributed exact KS") {
    val ref = Seq(1L -> 3L, 2L -> 2L, 5L -> 1L)
    val cur = Seq(1L -> 1L, 3L -> 3L, 5L -> 2L)
    val (d, p) = SuiteRunner.ksFromCounts(ref, cur)
    val rows = ref.flatMap { case (v, c) => Seq.fill(c.toInt)((v.toDouble, true)) } ++
      cur.flatMap { case (v, c) => Seq.fill(c.toInt)((v.toDouble, false)) }
    val r = KsTest.ks2Samp(rows.toDF("v", "base"), "v", col("base"))
    assert(math.abs(d - r.statistic) < 1e-12)
    assert(math.abs(p - r.pValue) < 1e-12)
  }

  test("sketched KS approximates exact on a shifted distribution") {
    val k = graft.suite.SuiteConfig.KllK
    val s1 = org.apache.datasketches.kll.KllLongsSketch.newHeapInstance(k)
    val s2 = org.apache.datasketches.kll.KllLongsSketch.newHeapInstance(k)
    (1 to 10000).foreach(i => s1.update(i.toLong))
    (1 to 10000).foreach(i => s2.update(i.toLong * 2))
    val approx = KsTest.ksStatisticSketched(s1, s2)
    // true D = 0.5 (half of side-2 mass is above side-1's max); each CDF
    // is off by at most one sketch's rank error
    assert(math.abs(approx.statistic - 0.5) <= 2 * s1.getNormalizedRankError(false))
    assert(approx.n1 == 10000L && approx.n2 == 10000L)
    assert(approx.drift())
  }
}

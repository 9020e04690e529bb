package graft

import graft.stats.{Sketches, Stats}
import org.apache.spark.sql.functions._

class StatsSpec extends GraftSpec {
  import spark.implicits._

  test("summarize: hand-computed moments on a tiny fixture (pandas ddof=1 std)") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 10.0).toDF("x")
    val s = Stats.summarize(df, Seq("x"), exactMedian = true).head
    assert(s.count == 5 && s.missing == 0)
    assert(s.min == 1.0 && s.max == 10.0)
    assert(math.abs(s.mean - 4.0) < 1e-12)
    // sample std of (1,2,3,4,10): var = (9+4+1+0+36)/4 = 12.5
    assert(math.abs(s.stddev - math.sqrt(12.5)) < 1e-12)
    assert(s.median == 3.0)
  }

  test("missing predicate: isnull ∨ isnan for numerics, isnull ∨ '' for strings") {
    val df = Seq[(Option[Double], Option[String])](
      (Some(1.0), Some("a")), (None, Some("")), (Some(Double.NaN), None), (Some(2.0), Some("b"))
    ).toDF("num", "str")
    val s = Stats.summarize(df, Seq("num")).head
    assert(s.count == 2 && s.missing == 2 && s.missing_rate == 0.5)
    val missStr = df.where(Stats.missingPred(df, "str")).count()
    assert(missStr == 2)
  }

  test("histogram follows numpy convention: 10 bins over [min,max], right edge in last bin") {
    // numpy golden: np.histogram([0,1,2.5,5,10], 10) = [1,1,1,0,0,1,0,0,0,1]
    val df = Seq(0.0, 1.0, 2.5, 5.0, 10.0).toDF("x")
    val s = Stats.summarize(df, Seq("x")).head
    assert(s.hist == Seq(1L, 1L, 1L, 0L, 0L, 1L, 0L, 0L, 0L, 1L))
    assert(s.bin_lo == 0.0 && s.bin_hi == 10.0)
  }

  test("t-digest aggregate: quantiles via Column API, mergeable bytes") {
    val df = (1 to 10000).map(_.toDouble).toDF("x")
    val bytes = df.agg(Sketches.tdigestAgg(col("x"))).collect()(0).getAs[Array[Byte]](0)
    val dig = Sketches.heapify(bytes)
    assert(dig.getTotalWeight == 10000)
    assert(math.abs(dig.getQuantile(0.5) - 5000) < 500) // k=100 ⇒ ~5% mid-range error
    // quantile extraction expression
    val q = df.agg(Sketches.tdigestQuantile(Sketches.tdigestAgg(col("x")), lit(0.9)))
      .collect()(0).getDouble(0)
    assert(math.abs(q - 9000) < 450)
  }

  test("property: t-digest split/merge preserves weight and rank (salting exactness)") {
    val rnd = new scala.util.Random(42) // seeded — deterministic property trials
    (1 to 25).foreach { _ =>
      val xs = List.fill(300)(rnd.nextDouble() * 1000.0)
      val cut = 1 + rnd.nextInt(298)
      val (a, b) = xs.splitAt(cut)
      val whole = new org.apache.datasketches.tdigest.TDigestDouble(100.toShort)
      xs.foreach(whole.update)
      val da = new org.apache.datasketches.tdigest.TDigestDouble(100.toShort)
      a.foreach(da.update)
      val db = new org.apache.datasketches.tdigest.TDigestDouble(100.toShort)
      b.foreach(db.update)
      val merged = Sketches.heapify(Sketches.mergeBytes(da.toByteArray, db.toByteArray))
      assert(merged.getTotalWeight == whole.getTotalWeight)
      // rank agreement within digest accuracy at a few probe points
      Seq(0.25, 0.5, 0.75).foreach { q =>
        val v = whole.getQuantile(q)
        assert(math.abs(merged.getRank(v) - whole.getRank(v)) < 0.08)
      }
    }
  }
}

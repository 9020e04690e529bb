package graft

import graft.stats.Stats
import org.apache.datasketches.kll.KllLongsSketch
import org.apache.datasketches.memory.Memory
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

  test("KLL aggregate: quantiles via Column API, mergeable bytes") {
    val df = (1L to 10000L).toDF("x")
    val k = graft.suite.SuiteConfig.KllK
    val bytes = df.agg(kll_sketch_agg_bigint(col("x"), k)).collect()(0).getAs[Array[Byte]](0)
    val sk = KllLongsSketch.heapify(Memory.wrap(bytes))
    val eps = sk.getNormalizedRankError(false)
    assert(sk.getN == 10000L)
    assert(math.abs(sk.getRank(5000L) - 0.5) <= eps)
    // quantile extraction expression over the same aggregate
    val q = df.agg(kll_sketch_get_quantile_bigint(kll_sketch_agg_bigint(col("x"), k), lit(0.9)))
      .collect()(0).getLong(0)
    assert(math.abs(q - 9000L) <= 10000 * eps)
  }

  test("property: KLL split/merge preserves n, and ranks stay within the sketch's bound") {
    // KLL compaction is randomized, so the law compares decoded ranks with
    // the exact ones, never the bytes of two sketches
    val rnd = new scala.util.Random(42) // seeded data; compaction is not
    (1 to 25).foreach { _ =>
      val xs = Array.fill(3000)(rnd.nextInt(1000000).toLong)
      val cut = 1 + rnd.nextInt(xs.length - 2)
      def sketch(ys: Seq[Long]): Array[Byte] = {
        val sk = KllLongsSketch.newHeapInstance(200)
        ys.foreach(sk.update)
        sk.toByteArray
      }
      val merged = KllLongsSketch.heapify(Memory.wrap(sketch(xs.take(cut).toSeq)))
      merged.merge(KllLongsSketch.heapify(Memory.wrap(sketch(xs.drop(cut).toSeq))))
      assert(merged.getN == xs.length)
      val eps = merged.getNormalizedRankError(false)
      val sorted = xs.sorted
      Seq(0.25, 0.5, 0.75).foreach { q =>
        val v = sorted((q * xs.length).toInt)
        val exact = sorted.count(_ <= v).toDouble / xs.length
        assert(math.abs(merged.getRank(v) - exact) <= eps, s"rank of $v")
      }
    }
  }
}

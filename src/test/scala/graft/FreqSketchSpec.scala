package graft

import graft.stats.FreqSketch
import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.spark.sql.functions._

class FreqSketchSpec extends GraftSpec {
  import spark.implicits._

  // Zipf-ish corpus: key k appears ~1000/k times — a few mega-keys over a
  // long tail, the shape heavy-hitter detection exists for.
  private def skewed(n: Int, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) { s"repo${(1000.0 / (1 + rnd.nextInt(999))).toInt}" }
  }

  private def exactCounts(xs: Seq[String]): Map[String, Long] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("exact regime: heavy hitters == exact GROUP BY counts, lb == ub == est") {
    val xs = skewed(20000, 7)
    val truth = exactCounts(xs)
    val got = FreqSketch.heavyHitters(xs.toDF("k"), "k", threshold = 50L,
        maxMapSize = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = truth.filter(_._2 >= 50L)
    assert(got.map(r => r._1 -> r._2).toMap == want)
    assert(got.forall(r => r._2 == r._3 && r._3 == r._4)) // no error band
  }

  test("partitioning invariance in the exact regime") {
    val df = skewed(20000, 11).toDF("k")
    def run(parts: Int) =
      FreqSketch.heavyHitters(df.repartition(parts), "k", 40L, 4096)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(run(1) == run(13))
  }

  test("merge law: merged per-half sketch bytes == whole-corpus sketch") {
    val xs = skewed(10000, 3)
    val (a, b) = xs.splitAt(5000)
    def bytes(ys: Seq[String]) =
      ys.toDF("k").agg(FreqSketch.accumulate(col("k"), 4096))
        .collect()(0).getAs[Array[Byte]](0)
    // decoded estimates, not bytes, are what the law compares
    val whole = FreqSketch.frequentItems(Seq(bytes(xs)), 1L)
    assert(whole.map(r => r._1 -> r._2).toMap == exactCounts(xs))
    assert(FreqSketch.frequentItems(Seq(bytes(a), bytes(b)), 1L) == whole)
    // commutativity
    assert(FreqSketch.frequentItems(Seq(bytes(b), bytes(a)), 1L) == whole)
  }

  test("graft-0.4 freq_repo bytes merge with the built-in sketch's bytes") {
    // graft-0.4 committed ItemsSketch[String](1024) bytes of its own
    val xs = skewed(6000, 23)
    val (a, b) = xs.splitAt(2500)
    val old = new ItemsSketch[String](1024)
    a.foreach(old.update)
    val oldBytes = old.toByteArray(new ArrayOfStringsSerDe)
    val newBytes = b.toDF("k")
      .agg(FreqSketch.accumulate(col("k"), graft.suite.SuiteConfig.FreqMapSize))
      .collect()(0).getAs[Array[Byte]](0)
    val truth = exactCounts(xs)
    Seq(Seq(oldBytes, newBytes), Seq(newBytes, oldBytes)).foreach { order =>
      val got = FreqSketch.frequentItems(order, 1L)
      assert(got.map(r => r._1 -> r._2).toMap == truth)
      assert(got.forall(r => r._2 == r._3 && r._3 == r._4))
    }
  }

  test("approximate regime: bounds bracket truth, frequent items never missed") {
    val xs = skewed(30000, 19)
    val truth = exactCounts(xs)
    // tiny map → heavy purging; epsilon = N / (2 * maxMapSize)
    val maxMap = 64
    val eps = xs.size / (2.0 * maxMap)
    val threshold = (3 * eps).toLong
    val got = FreqSketch.heavyHitters(xs.toDF("k"), "k", threshold, maxMap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (k, est, lb, ub) =>
      val t = truth.getOrElse(k, 0L)
      assert(lb <= t && t <= ub, s"$k: bounds [$lb,$ub] miss true $t")
      assert(t <= est && est <= t + 2 * eps + 1, s"$k: est $est vs true $t")
    }
    // NO_FALSE_NEGATIVES: every truly-frequent key is reported
    val reported = got.map(_._1).toSet
    truth.filter(_._2 >= threshold).keys.foreach(k =>
      assert(reported.contains(k), s"frequent key $k missing"))
  }

  test("hotKeys: NO_FALSE_NEGATIVES cut names the mega-repo, not the whole key space") {
    // the hot-key cut, decoded with frequentItems; the generator's repo_0000 holds ~30% of rows
    val code = graft.gen.CodeTableGen.generate(spark, 12000, batches = 2)
    val bytes = code
      .agg(FreqSketch.accumulate(col("repo"), graft.suite.SuiteConfig.FreqMapSize))
      .collect()(0).getAs[Array[Byte]](0)
    val hot = FreqSketch.frequentItems(Seq(bytes), threshold = 3000L).map(_._1)
    assert(hot.contains("repo_0000"), s"hot set $hot must include the mega-repo")
    assert(hot.size < code.select("repo").distinct().count())
  }

  test("nulls are skipped, not counted") {
    val df = Seq(Some("a"), None, Some("a"), None, Some("b")).toDF("k")
    val got = FreqSketch.heavyHitters(df, "k", 1L, 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }

  test("maxMapSize must be a power of two") {
    intercept[IllegalArgumentException] {
      FreqSketch.accumulate(col("k"), maxMapSize = 100)
    }
    // Spark's maxItemsTracked is 3/4 of the map, which it sizes back up
    assert(FreqSketch.itemsTracked(1024) == 768)
  }
}

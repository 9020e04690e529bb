package graft

import graft.dedup.Dedup
import graft.stats.{Bloom, BloomKernel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom filter laws: no false negatives ever; measured fpp near the
  * configured target; merge is bloom(A ∪ B) (aggregate partitioning
  * invariance + explicit word-OR equality); and the bloom-accelerated
  * seen-set anti-join is EXACTLY newOnly, including after a parquet
  * round-trip of the committed blob.
  */
class BloomSpec extends GraftSpec {
  import spark.implicits._

  /** Expected false-positive rate of an (m, k) filter holding n keys. */
  private def expectedFpp(m: Long, k: Int, n: Long): Double =
    math.pow(1.0 - math.exp(-k.toDouble * n / m), k.toDouble)

  private def keysDF(ids: Range, tag: String): DataFrame =
    ids.map(i => (s"repo$i", s"path$i/$tag")).toDF("repo", "path")

  test("sizing: power-of-two bits, sane hash count, expected fpp near target") {
    val (m, k) = BloomKernel.sizing(100000L, 0.01)
    assert((m & (m - 1)) == 0 && m >= 100000L)
    assert(k >= 1 && k <= 32)
    assert(expectedFpp(m, k, 100000L) <= 0.02)
  }

  test("no false negatives: every inserted key hits") {
    val seen = keysDF(0 until 5000, "a")
    val blob = Dedup.buildSeenBloom(seen, Seq("repo", "path"), fpp = 0.05)
    val misses = seen
      .where(!Bloom.mightContain(blob)(xxhash64(col("repo"), col("path"))))
      .count()
    assert(misses == 0L)
  }

  test("measured fpp on disjoint probes is near the configured rate") {
    val seen = keysDF(0 until 20000, "a")
    val blob = Dedup.buildSeenBloom(seen, Seq("repo", "path"), fpp = 0.01)
    val probes = keysDF(100000 until 140000, "b") // fully disjoint
    val hits = probes
      .where(Bloom.mightContain(blob)(xxhash64(col("repo"), col("path"))))
      .count()
    val rate = hits.toDouble / 40000
    assert(rate < 0.03, s"fpp $rate far above configured 0.01")
  }

  test("aggregate is partitioning-invariant (merge through shuffle = serial build)") {
    val df = keysDF(0 until 3000, "a").withColumn("h", xxhash64(col("repo"), col("path")))
    def build(d: DataFrame): Seq[Byte] =
      d.select(Bloom.bloomAgg(col("h"), 1 << 16, 5).as("b"))
        .collect()(0).getAs[Array[Byte]](0).toSeq
    assert(build(df.coalesce(1)) == build(df.repartition(17)))
  }

  test("union law: bloom(A) OR bloom(B) == bloom(A union B)") {
    val a = keysDF(0 until 1000, "a").withColumn("h", xxhash64(col("repo"), col("path")))
    val b = keysDF(1000 until 2500, "a").withColumn("h", xxhash64(col("repo"), col("path")))
    def build(d: DataFrame): Array[Byte] =
      d.select(Bloom.bloomAgg(col("h"), 1 << 15, 4).as("b"))
        .collect()(0).getAs[Array[Byte]](0)
    assert(BloomKernel.union(build(a), build(b)).toSeq ==
      build(a.unionByName(b)).toSeq)
    intercept[IllegalArgumentException] {
      BloomKernel.union(build(a), BloomKernel.toBytes(new Array[Long](4), 4))
    }
  }

  test("newOnlyBloom == newOnly exactly (overlapping incoming batch)") {
    val seen = keysDF(0 until 8000, "a")
    // incoming: half duplicates of seen, half new
    val incoming = keysDF(4000 until 12000, "a").withColumn("payload", length(col("path")))
    def got(d: DataFrame): Set[(String, String)] =
      d.select("repo", "path").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val exact = got(Dedup.newOnly(incoming, seen, Seq("repo", "path")))
    val fast = got(Dedup.newOnlyBloom(incoming, seen, Seq("repo", "path"), fpp = 0.05))
    assert(fast == exact && exact.size == 4000)
  }

  test("committed blob survives a parquet round-trip and stays exact") {
    val seen = keysDF(0 until 3000, "a")
    val incoming = keysDF(1500 until 4500, "a")
    val blob = Dedup.buildSeenBloom(seen, Seq("repo", "path"), fpp = 0.02)
    withTempDir("graft_bloom") { dir =>
      Seq(blob).toDF("blob").write.mode("overwrite").parquet(s"$dir/bloom")
      val reloaded = spark.read.parquet(s"$dir/bloom").collect()(0).getAs[Array[Byte]](0)
      assert(reloaded.toSeq == blob.toSeq)
      val exact = Dedup.newOnly(incoming, seen, Seq("repo", "path")).count()
      val fast = Dedup.newOnlyWithBloom(incoming, seen, Seq("repo", "path"), reloaded).count()
      assert(fast == exact && exact == 1500L)
    }
  }

  test("null-keyed rows: hash of nulls still probes consistently") {
    val seen = Seq(("r1", "p1"), (null, "p2")).toDF("repo", "path")
    val incoming = Seq(("r1", "p1"), (null, "p2"), ("r9", "p9")).toDF("repo", "path")
    val exact = Dedup.newOnly(incoming, seen, Seq("repo", "path")).count()
    val fast = Dedup.newOnlyBloom(incoming, seen, Seq("repo", "path")).count()
    assert(fast == exact)
  }
}

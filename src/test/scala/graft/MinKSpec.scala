package graft

import graft.stats.TopK
import org.apache.spark.sql.functions._

class MinKSpec extends GraftSpec {

  test("min_k_strings returns the k smallest DISTINCT strings in ascending order") {
    // id*37 mod 500 covers every residue 0..499 exactly twice → duplicates
    val df = spark.range(0, 1000)
      .select(format_string("s%04d", pmod(col("id") * 37, lit(500))).as("s"))
    val got = df.agg(TopK.minKStrings(col("s"), 10).as("ks"))
      .collect()(0).getSeq[String](0)
    assert(got == (0 until 10).map(i => f"s$i%04d"))
  }

  test("min_k_strings is partitioning-invariant (merge keeps the global k smallest)") {
    val df = spark.range(0, 5000)
      .select(format_string("k%05d", pmod(col("id") * 761, lit(4999))).as("s"))
    val one = df.coalesce(1).agg(TopK.minKStrings(col("s"), 25)).collect()(0).getSeq[String](0)
    val many = df.repartition(17).agg(TopK.minKStrings(col("s"), 25)).collect()(0).getSeq[String](0)
    assert(one == many)
  }

  test("min_k_strings skips nulls and handles fewer-than-k inputs") {
    val df = spark.range(0, 5)
      .select(when(col("id") % 2 === 0, format_string("v%d", col("id"))).as("s"))
    val got = df.agg(TopK.minKStrings(col("s"), 100)).collect()(0).getSeq[String](0)
    assert(got == Seq("v0", "v2", "v4"))
  }

  test("min_k_strings orders like Spark's sort on non-ASCII keys (UTF-8 bytes, not UTF-16)") {
    // "！x" (U+FF01, UTF-8 ef bc 81) precedes "𐀀x" (U+10000, f0 90 80 80)
    // in UTF-8 byte order but follows it in UTF-16 order (ff01 > d800);
    // the aggregate must agree with Spark's distinct + orderBy
    import spark.implicits._
    val df = Seq("b", "！x", "a", "𐀀x", "b", "！x", "c", "a", "𐀀x", "z").toDF("s")
    for (k <- Seq(5, 6, 10)) {
      val got = df.repartition(3).agg(TopK.minKStrings(col("s"), k)).collect()(0).getSeq[String](0)
      val ref = df.distinct().orderBy("s").limit(k).collect().map(_.getString(0)).toSeq
      assert(got == ref, s"k=$k")
    }
  }
}

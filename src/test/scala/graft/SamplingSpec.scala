package graft

import graft.sample.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quota sampling laws: the bucketed two-phase cut equals the naive
  * single-window form exactly (including quotas landing mid-bucket, zero
  * quotas, quotas over group size), is partitioning-invariant, and
  * deterministic across runs.
  */
class SamplingSpec extends GraftSpec {
  import spark.implicits._

  private def corpus(n: Int, seed: Int = 3): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val langs = Array("en", "zh", "es", "de", "fr")
    (0 until n).map(i => (i.toLong, langs(rnd.nextInt(langs.length)), s"doc$i"))
      .toDF("doc_id", "lang", "text")
  }

  /** The naive single-window form: the equality reference for the
    * bucketed cut.
    */
  private def quotaByHashNaive(df: DataFrame, groupCol: String, quotas: Map[String, Long],
                               keyCols: Seq[String]): DataFrame = {
    val qdf = broadcast(quotas.toSeq.toDF(groupCol, "__quota"))
    val w = Window.partitionBy(groupCol)
      .orderBy(xxhash64(keyCols.map(col): _*) +: keyCols.map(col): _*)
    df.join(qdf, Seq(groupCol))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= col("__quota"))
      .drop("__r", "__quota")
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("bucketed cut equals the naive window form (mid-bucket boundaries forced)") {
    val df = corpus(5000)
    // buckets=4 forces boundary buckets with ~1/4 of each group in them
    for (q <- Seq(0L, 1L, 7L, 100L, 999L, 10000L)) {
      val quotas = Map("en" -> q, "zh" -> (q / 2), "es" -> 3L, "de" -> 0L)
      val fast = ids(Sampling.quotaByHash(df, "lang", quotas, Seq("doc_id"), buckets = 4))
      val naive = ids(quotaByHashNaive(df, "lang", quotas, Seq("doc_id")))
      assert(fast == naive, s"quota $q mismatch")
    }
  }

  test("exact sizes: min(quota, group size) per group; absent groups dropped") {
    val df = corpus(2000)
    val sizes = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotas = Map("en" -> 50L, "zh" -> 100000L, "fr" -> 1L)
    val got = Sampling.quotaByHash(df, "lang", quotas, Seq("doc_id"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("en" -> 50L, "zh" -> sizes("zh"), "fr" -> 1L))
  }

  test("partitioning-invariant and deterministic") {
    val df = corpus(3000)
    val quotas = Map("en" -> 77L, "zh" -> 33L, "es" -> 500L, "de" -> 11L, "fr" -> 250L)
    val a = ids(Sampling.quotaByHash(df.repartition(13), "lang", quotas, Seq("doc_id"), buckets = 8))
    val b = ids(Sampling.quotaByHash(df.coalesce(1), "lang", quotas, Seq("doc_id"), buckets = 8))
    val c = ids(Sampling.quotaByHash(df.repartition(5), "lang", quotas, Seq("doc_id"), buckets = 256))
    assert(a == b && b == c)
  }

  test("schema passes through unchanged (no helper columns leak)") {
    val df = corpus(100)
    val out = Sampling.quotaByHash(df, "lang", Map("en" -> 5L), Seq("doc_id"))
    assert(out.columns.sorted.toSeq == df.columns.sorted.toSeq)
  }

  test("mixture quotas: floor(p*total), invalid proportions rejected") {
    assert(Sampling.mixtureQuotas(Map("en" -> 0.6, "zh" -> 0.15), 1000L) ==
      Map("en" -> 600L, "zh" -> 150L))
    intercept[IllegalArgumentException] {
      Sampling.mixtureQuotas(Map("en" -> 1.5), 10L)
    }
    val df = corpus(2000)
    val got = Sampling.mixture(df, "lang", Map("en" -> 0.1, "zh" -> 0.02), 500L, Seq("doc_id"))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("en" -> 50L, "zh" -> 10L))
  }

  test("hash-tie exactness: duplicate key hashes cut deterministically") {
    // identical keyCols values => identical hashes; tie-break must still
    // produce the naive result
    val df = (0 until 200).map(i => (i.toLong, "en", "same"))
      .toDF("doc_id", "lang", "text")
    val fast = ids(Sampling.quotaByHash(df, "lang", Map("en" -> 60L), Seq("text", "doc_id"), buckets = 4))
    val naive = ids(quotaByHashNaive(df, "lang", Map("en" -> 60L), Seq("text", "doc_id")))
    assert(fast == naive && fast.size == 60)
  }
}

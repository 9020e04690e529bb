package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — exact, O(|Q|·|C|), broadcast the
  * (small) query side so the corpus never shuffles.
  * Scale path: LSH-bucketed search (sign-random-projection buckets with
  * multiprobe) — candidates only from matching buckets, then exact cosine
  * re-rank; an IVF analog where the "inverted lists" are hash buckets.
  */
object Ann {

  /** The ANN family's shared final cut: exact per-query top-k on
    * (cosine desc, neighbor_id asc) via the bounded map-side aggregate
    * ([[graft.stats.TopK.topKPairs]]). A `row_number()` window here SORTS
    * every scored row and funnels each query through one reducer — at a
    * brute-force 10^9-codes × |Q| scored set that single-reducer sort is
    * the whole job; the aggregate's partial phase caps each map task's
    * shuffle contribution at k pairs per query instead. Output
    * `(query_id, neighbor_id, cosine, rank)`, rank 1..k, identical to the
    * window cut (AnnSpec parity incl. cosine ties) with one deliberate
    * exception: NULL-cosine rows (degenerate vectors) never fill rank
    * slots — a null score is not a neighbor. Ids must be integral (cast
    * to long; every ANN surface carries long ids).
    */
  private[sim] def rankCut(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.stats.TopK.topKPairs(
        col("cosine"), col("neighbor_id").cast("long"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.score").as("cosine"), (col("pos") + 1).as("rank"))

  /** Exact brute-force cosine top-k neighbors for each query vector.
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k,
    * deterministic tie-break on neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int = 10): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Dedup.cosine(col("qv"), col("cv")))
    rankCut(scored, k)
  }

  /** LSH-bucketed ANN: corpus is bucketed once per hash TABLE by sign-LSH
    * signature (independent hyperplane sets — multi-table banding); queries
    * probe, per table, their own bucket plus all 1-bit-flip neighbors
    * (multiprobe), then exact cosine re-ranks the deduplicated candidates.
    * The corpus-side bucket table is reusable across query batches (the
    * "index"). At 1000 executors this is a hash-partitioned join on
    * (table, signature) — no broadcast of the corpus, no O(n²).
    * Candidate recall ≈ 1 − (1 − p(probe))^tables: raise `bits` for more,
    * smaller buckets (2^bits per table); raise `tables` to win recall back.
    *
    * `designCos` is the cosine of the neighbors the index is sized to find:
    * when `tables` is left at 0 the table count derives from it
    * ([[Dedup.autoTables]], 1-bit-probe variant) so recall at the design
    * point stays ≥ 0.9 as `autoBits` widens signatures with corpus size.
    *
    * Evaluation contract (the function returns a LAZY plan):
    *  - `corpus` is referenced by the signature build, the bucket join and
    *    the candidate re-attach; `queries` is referenced TWICE (probe build
    *    and score re-attach). An expensive upstream on either side should be
    *    persisted by the caller — the corpus usually is anyway (it is the
    *    reusable "index" side across query batches).
    *  - when `bits` is left at 0 the sizing needs a corpus row count, which
    *    triggers ONE eager count job over `corpus` at call time (an extra
    *    evaluation of an unpersisted upstream). Pass `corpusCount` to skip
    *    that job when the caller already knows the size.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int = 10, bits: Int = 0,
              tables: Int = 0, designCos: Double = 0.9,
              corpusCount: Long = -1L): DataFrame = {
    // NOT persisted: lshTopK returns a LAZY plan (the caller materializes),
    // so an internal persist here would leak its cache with no unpersist
    // point — a caller with an expensive corpus upstream should persist the
    // corpus itself across query batches (it is the reusable "index" side)
    val cVecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    def n(): Long = if (corpusCount >= 0) corpusCount else cVecs.count()
    // (bits, tables) sized jointly unless pinned — same derivation as
    // Dedup.embeddingPairs but with the 1-bit-probe hit rate
    val (b, nt) = (bits, tables) match {
      case (0, 0)  => Dedup.autoBitsTables(n(), designCos, oneBitProbe = true)
      case (0, t)  => (Dedup.autoBits(n()), t)
      case (bb, 0) => (bb, Dedup.autoTables(bb, designCos, oneBitProbe = true))
      case (bb, t) => (bb, t)
    }
    // the bucket join carries ONLY (t, bucket, id) on the corpus side —
    // vectors re-attach to the deduplicated candidate set afterwards, so
    // the big side's shuffle payload is 3 longs/row × tables, not the
    // embedding itself (same shape as Dedup.embeddingPairs/minhashLshPairs)
    val cSigs = (0 until nt).map(t =>
      struct(lit(t).as("t"), Dedup.signLshSignature(col("cv"), b, t).as("bucket")))
    val c = cVecs.select(col("neighbor_id"), explode(array(cSigs: _*)).as("ts"))
      .select(col("neighbor_id"), col("ts.t").as("t"), col("ts.bucket").as("bucket"))
    // multiprobe per table: own bucket + flip each of `b` bits
    val qProbes = (0 until nt).map { t =>
      val sig = Dedup.signLshSignature(col(vecCol), b, t)
      val probes = array_union(
        array(sig),
        transform(sequence(lit(0), lit(b - 1)),
          j => sig.bitwiseXOR(call_function("shiftleft", lit(1L), j))))
      struct(lit(t).as("t"), probes.as("probes"))
    }
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(array(qProbes: _*)).as("tp"))
      .select(col("query_id"), col("qv"), col("tp.t").as("t"),
        explode(col("tp.probes")).as("bucket"))
    val cand = q.select(col("query_id"), col("t"), col("bucket"))
      .join(c, Seq("t", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    // re-attach: plain equi-joins on the ids, no broadcast HINT — a hint
    // would force the whole query table (ids + vectors) onto the driver
    // even for a huge query batch; AQE broadcasts it at runtime whenever
    // it actually is small, and falls back to a shuffle join otherwise
    val scored = cand
      .join(cVecs, Seq("neighbor_id"))
      .join(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        Seq("query_id"))
      .withColumn("cosine", Dedup.cosine(col("qv"), col("cv")))
    rankCut(scored, k)
  }
}

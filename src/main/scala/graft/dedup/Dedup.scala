package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.stats.{Bloom, BloomKernel}
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines, scale-first:
  * every variant reduces to hash/groupBy/join on compact keys — document
  * text is digested to shingle hashes / signatures in the first projection
  * and never shuffles.
  *
  * Reference semantics preserved: first-wins dedup on a composite key
  * (news.py:74-82), last-wins on another key (news.py:350-356),
  * incremental "seen" anti-join (news.py:560-573).
  */
object Dedup {

  /** Exact dedup on a hash of the listed columns (hash-groupBy — one
    * shuffle on a 64-bit key, never on the payload).
    */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** First-wins dedup: keep the row with the SMALLEST `orderCol` per key
    * (news.py:74-82 keeps the first-seen headline per title|url).
    */
  def firstWins(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).asc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Last-wins dedup (news.py:350-356: later source overwrites). */
  def lastWins(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Incremental anti-join vs a committed "seen" table (news.py:560-573;
    * also the audit-resume mechanism, SURVEY.md J4/U3).
    */
  def newOnly(incoming: DataFrame, seen: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(seen.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Committed membership sketch for the seen-set: a Bloom filter over
    * xxhash64(keys). Built once per corpus (or folded incrementally —
    * [[graft.stats.BloomKernel.union]] is bloom(A ∪ B)) and stored as an
    * audit artifact, so per-batch dedup stops re-joining the full corpus.
    */
  def buildSeenBloom(seen: DataFrame, keys: Seq[String],
                     expectedItems: Long = -1L, fpp: Double = 0.01): Array[Byte] = {
    val n = if (expectedItems > 0) expectedItems else math.max(1L, seen.count())
    val (m, k) = BloomKernel.sizing(n, fpp)
    seen.select(Bloom.bloomAgg(xxhash64(keys.map(col): _*), m, k).as("b"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** Bloom-accelerated [[newOnly]] against a committed filter blob — EXACT
    * (law-tested == newOnly): rows missing the filter are definitely new
    * and skip the join entirely; only the hits (true duplicates + an
    * fpp-sized sliver) go through the exact anti-join. In the append-heavy
    * steady state the exact-join's left side shrinks from |incoming| to
    * |duplicates| + fpp·|incoming|, which is what makes a 10^12-row seen
    * corpus survivable per batch. The codegen'd probe
    * ([[graft.stats.BloomMightContain]], blob in the node) keeps the
    * filter scan inside the whole-stage span.
    */
  def newOnlyWithBloom(incoming: DataFrame, seen: DataFrame, keys: Seq[String],
                       blob: Array[Byte]): DataFrame = {
    val hit = Bloom.mightContain(blob)(xxhash64(keys.map(col): _*))
    incoming.where(!hit)
      .unionByName(incoming.where(hit)
        .join(seen.select(keys.map(col): _*).distinct(), keys, "left_anti"))
  }

  /** One-call form: build the filter from `seen`, then filter-and-check. */
  def newOnlyBloom(incoming: DataFrame, seen: DataFrame, keys: Seq[String],
                   fpp: Double = 0.01): DataFrame =
    newOnlyWithBloom(incoming, seen, keys, buildSeenBloom(seen, keys, fpp = fpp))

  // ---------------------------------------------------------------- shingles

  /** Word n-gram shingles of normalized text, hashed to 64-bit — native
    * one-pass kernel ([[ShingleKernel]]; bit-parity with the composed
    * `array_distinct(transform(...xxhash64(concat_ws(...))))` form pinned
    * by DedupSpec).
    */
  def shingleHashes(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      WordGramHashes(org.apache.spark.sql.graftbridge.ColumnBridge
        .expression(TextAnalysis.normalize(text)), n))

  /** Word n-gram shingles as distinct STRINGS — the oracle-comparable form
    * (exact Jaccard on gram sets); [[shingleHashes]] is the compact scale
    * path (64-bit keys instead of strings in every shuffle).
    */
  def shingleStrings(text: Column, n: Int = 3): Column =
    // native one-pass kernel (StringGramKernel) — zero-copy gram views
    // over the normalized text's bytes; bit-parity with the composed
    // split/transform/concat_ws form pinned by DedupSpec
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      WordGrams(org.apache.spark.sql.graftbridge.ColumnBridge
        .expression(TextAnalysis.normalize(text)), n))

  /** Exact n-gram Jaccard similarity of two shingle-hash arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  // ---------------------------------------------------------------- minhash

  /** LSH banding of a minhash signature into `bands` hashed band keys.
    * Two docs sharing ≥1 band key become a candidate pair; with k=64,
    * bands=16 (rows/band=4) the match threshold is ≈ (1/16)^(1/4) ≈ 0.5.
    */
  def lshBandKeys(sig: Column, bands: Int = 16, k: Int = 64): Column =
    // native kernel (BandKeyKernel) — the composed transform built and
    // hashed a comma-joined string via interpreted HOF per band; parity
    // (incl. the long→string decimal rendering and concat_ws null skips)
    // pinned by DedupSpec
    org.apache.spark.sql.graftbridge.ColumnBridge.column(BandKeys(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(sig), bands, k))

  /** MinHash signatures via explode + groupBy: one row per (doc, shingle),
    * then k codegen'd `min(xxhash64(shingle, i))` aggregates per doc, one
    * per hash function h_i. Jaccard ≈ the fraction of agreeing signature
    * positions. The aggregation's Exchange also materializes the signature
    * exactly once — a nested-lambda `transform` formulation instead gets
    * re-evaluated by Catalyst's projection collapse at every downstream
    * reference (measured 20× slower at 5k docs).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleN: Int): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        explode(shingleHashes(col(textCol), shingleN)).as("sh"))
    val mins = (0 until k).map(i => min(xxhash64(col("sh"), lit(i))).as(s"m$i"))
    exploded.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Candidate near-duplicate pairs via MinHash-LSH:
    *   shingle → minhash → band → bucket self-join → signature-agreement
    * filter ≥ `threshold`. The join key is (band index, band hash) — a
    * compact 64-bit bucket join; only (id, signature) rows shuffle, never
    * text. `idCol` must be unique; pairs are emitted once (id1 < id2).
    *
    * The returned DataFrame is PERSISTED (memory+disk, already
    * materialized) so the signature cache can be dropped eagerly inside
    * this call; long-lived sessions calling this repeatedly must
    * `.unpersist()` each result when done with it (or
    * `spark.catalog.clearCache()`) — Bench and Verify do exactly that.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5, k: Int = 64, bands: Int = 16,
                      shingleN: Int = 3): DataFrame = {
    // The signature table is referenced THREE times (bucket explode + two
    // re-attach joins); an explicit persist pins one materialization —
    // relying on ReuseExchange instead proved fragile under AQE (a cold run
    // recomputed the k xxhash64 aggregations per shingle three times:
    // 59.8 s vs 6.5 s at sf0.1).
    val sigs = minhashSignatures(df, idCol, textCol, k, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try minhashLshPairsFromSigs(sigs, threshold, k, bands)
    finally sigs.unpersist(blocking = false)
  }

  /** The (band, bkey, id) bucket table of a signature table — the compact
    * banding projection every minhash candidate join runs on.
    */
  private def minhashBuckets(sigs: DataFrame, bands: Int, k: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(lshBandKeys(col("sig"), bands, k)).as(Seq("band", "bkey")))

  /** The banding + agreement-threshold half of [[minhashLshPairs]], over a
    * PRECOMPUTED signature table (id, sig) — for callers that already hold
    * signatures (an incremental pipeline keying off a committed signature
    * store; the correctness gate, which dumps the same table for the
    * external oracle to re-band). `sigs` is referenced three times and its
    * lifecycle belongs to the caller — persist it. The returned pairs are
    * persisted + materialized (unpersist when done), as in minhashLshPairs.
    */
  def minhashLshPairsFromSigs(sigs: DataFrame, threshold: Double = 0.5,
                              k: Int = 64, bands: Int = 16): DataFrame = {
    // band shuffle carries ONLY (band, bkey, id) — the 8·k-byte signatures
    // are re-attached to the (far smaller) deduplicated candidate set
    val buckets = minhashBuckets(sigs, bands, k)
    val l = buckets.select(col("band"), col("bkey"), col("id").as("id1"))
    val r = buckets.select(col("band"), col("bkey"), col("id").as("id2"))
    val cand = l.join(r, Seq("band", "bkey")).where(col("id1") < col("id2"))
      .select("id1", "id2").dropDuplicates("id1", "id2")
    minhashPairsFromCandidates(cand, sigs, threshold, k)
  }

  /** Signature re-attach + agreement estimate + threshold over a candidate
    * pair set — the shared tail of every minhash pair pipeline. Returns a
    * persisted, materialized result (same cache-hygiene contract).
    */
  private def minhashPairsFromCandidates(cand: DataFrame, sigs: DataFrame,
                                         threshold: Double, k: Int): DataFrame = {
    val out = cand
      .join(sigs.select(col("id").as("id1"), col("sig").as("sig1")), Seq("id1"))
      .join(sigs.select(col("id").as("id2"), col("sig").as("sig2")), Seq("id2"))
      // native equal-position count (VectorKernel.sigEqCount) — the composed
      // aggregate(zip_with(...)) fold evaluated interpreted per candidate
      // pair (HOFs are CodegenFallback); identical null/length semantics,
      // DedupSpec parity law
      .withColumn("est_jaccard",
        org.apache.spark.sql.graftbridge.ColumnBridge.column(SigEqCount(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("sig1")),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("sig2"))))
          .cast("double") / k)
      .where(col("est_jaccard") >= threshold)
      .select("id1", "id2", "est_jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (threshold-filtered, small) pair output so upstream
    // caches can be dropped deterministically; lineage stays intact, so an
    // evicted output block just recomputes — no checkpoint fragility. A
    // failed materialization (cancelled job, skew OOM) must not strand the
    // cache: the caller gets no handle to unpersist on the throw path
    try out.count()
    catch { case e: Throwable => out.unpersist(blocking = false); throw e }
    out
  }

  /** INCREMENTAL near-dup detection: pairs involving at least one NEW
    * document — new↔new and new↔corpus, never corpus↔corpus — against a
    * corpus whose signatures are already committed (e.g. the audit table's
    * signature store written by an earlier run). The training-pipeline
    * shape: each crawl batch dedups against everything seen so far without
    * re-reading or re-hashing a byte of corpus TEXT, and corpus-internal
    * pairs (already emitted when those batches arrived) are excluded by
    * construction rather than re-found and re-filtered.
    *
    * Scale: the corpus side contributes only its (band, bkey, id) bucket
    * projection — 3 longs/row × bands — to the join against the (small) new
    * batch's buckets; with the bucket join hash-partitioned on (band, bkey)
    * the per-batch cost is corpus-bucket-scan + new-batch-sized shuffle,
    * not corpus², and at 10^12 files a bucket-partitioned committed store
    * makes it new-batch-sized only. Ids must be unique ACROSS both inputs.
    * Equivalence law (DedupSpec): result == minhashLshPairsFromSigs(new ∪
    * corpus) minus its corpus↔corpus pairs. Returned pairs are persisted +
    * materialized; both signature inputs' lifecycles belong to the caller.
    */
  def incrementalMinhashPairs(newSigs: DataFrame, corpusSigs: DataFrame,
                              threshold: Double = 0.5, k: Int = 64,
                              bands: Int = 16): DataFrame = {
    val nb = minhashBuckets(newSigs, bands, k)
    val cb = minhashBuckets(corpusSigs, bands, k)
    val nn = nb.select(col("band"), col("bkey"), col("id").as("id1"))
      .join(nb.select(col("band"), col("bkey"), col("id").as("id2")), Seq("band", "bkey"))
      .where(col("id1") < col("id2")).select("id1", "id2")
    // new↔corpus lands in either order in the bucket join — normalize so
    // the pair identity (id1 < id2) matches the full-run convention
    val nc = nb.select(col("band"), col("bkey"), col("id").as("ida"))
      .join(cb.select(col("band"), col("bkey"), col("id").as("idb")), Seq("band", "bkey"))
      .where(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
    val cand = nn.unionByName(nc).dropDuplicates("id1", "id2")
    minhashPairsFromCandidates(cand, newSigs.unionByName(corpusSigs), threshold, k)
  }

  // ---------------------------------------------------------------- simhash

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 64-bit SimHash of normalized word tokens via explode + groupBy (same
    * rationale as [[minhashSignatures]]): per bit b, a codegen'd
    * `sum(sign(bit_b(xxhash64(token))))` aggregate; the simhash bit is 1
    * iff that sum is positive.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(split(TextAnalysis.normalize(col(textCol)), " ")).as("tok"))
    val h = xxhash64(col("tok"))
    val sums = (0 until 64).map(b =>
      sum(when(call_function("shiftright", h, lit(b)).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$b"))
    val agg = exploded.groupBy("id").agg(sums.head, sums.tail: _*)
    val bits = (0 until 64).map(b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
    agg.select(col("id"), bits.reduce((a, c) => a.bitwiseOR(c)).as("sh"))
  }

  /** SimHash near-dup candidate pairs with hamming ≤ maxDist, found via
    * 4×16-bit block LSH (pigeonhole: distance ≤ 3 ⇒ at least one of 4
    * blocks identical — exact recall for maxDist ≤ 3).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    simhashPairsFromHashes(simhashes(df, idCol, textCol), maxDist)

  /** The block-LSH + hamming-filter half of [[simhashPairs]], over a
    * PRECOMPUTED (id, sh) simhash table — for callers holding committed
    * simhashes (and the correctness gate, which dumps the same table for
    * the external oracle to re-block). `sh` is referenced twice (both join
    * sides); persist it when its upstream is expensive.
    */
  def simhashPairsFromHashes(sh: DataFrame, maxDist: Int = 3): DataFrame = {
    val blocks = sh.select(col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))))
        .as(Seq("block", "bval")))
    val l = blocks.select(col("block"), col("bval"), col("id").as("id1"), col("sh").as("sh1"))
    val r = blocks.select(col("block"), col("bval"), col("id").as("id2"), col("sh").as("sh2"))
    l.join(r, Seq("block", "bval")).where(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", hamming64(col("sh1"), col("sh2")))
      .where(col("hamming") <= maxDist)
      .select("id1", "id2", "hamming")
  }

  /** INCREMENTAL simhash near-dup detection — completes the incremental
    * trio ([[incrementalMinhashPairs]], [[incrementalEmbeddingPairs]]):
    * pairs involving at least one NEW document (new↔new and new↔corpus,
    * never corpus↔corpus) against a corpus whose `(id, sh)` simhash table
    * is already committed. The corpus contributes only its 4×16-bit block
    * projection to the candidate join and its 8-byte hash to the hamming
    * re-check — corpus text is never re-read or re-hashed. Ids must be
    * unique across both inputs. Equivalence law (DedupSpec): result ==
    * simhashPairsFromHashes(new ∪ corpus) minus its corpus↔corpus pairs.
    */
  def incrementalSimhashPairs(newSh: DataFrame, corpusSh: DataFrame,
                              maxDist: Int = 3): DataFrame = {
    def blocks(sh: DataFrame) = sh.select(col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))))
        .as(Seq("block", "bval")))
    val nb = blocks(newSh)
    val cb = blocks(corpusSh)
    val nn = nb.select(col("block"), col("bval"), col("id").as("id1"), col("sh").as("sh1"))
      .join(nb.select(col("block"), col("bval"), col("id").as("id2"), col("sh").as("sh2")),
        Seq("block", "bval"))
      .where(col("id1") < col("id2"))
    // new↔corpus lands in either order — normalize the pair identity (and
    // carry both hashes through the swap) to match the full-run convention
    val nc = nb.select(col("block"), col("bval"), col("id").as("ida"), col("sh").as("sha"))
      .join(cb.select(col("block"), col("bval"), col("id").as("idb"), col("sh").as("shb")),
        Seq("block", "bval"))
      .where(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"),
        when(col("ida") < col("idb"), col("sha")).otherwise(col("shb")).as("sh1"),
        when(col("ida") < col("idb"), col("shb")).otherwise(col("sha")).as("sh2"))
    nn.select("id1", "id2", "sh1", "sh2")
      .unionByName(nc.select("id1", "id2", "sh1", "sh2"))
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", hamming64(col("sh1"), col("sh2")))
      .where(col("hamming") <= maxDist)
      .select("id1", "id2", "hamming")
  }

  // ------------------------------------------------------------- embeddings

  /** Cosine similarity of two double-array columns — native one-pass
    * kernel ([[VectorKernel.cosine]]): the previous
    * `aggregate(zip_with(...))` composition evaluated interpreted (HOFs
    * are CodegenFallback) and computed THREE boxed folds per row.
    * Bit-parity with the composed form — accumulation order and all
    * null/empty/zero-norm edges — pinned by DedupSpec.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(CosineSim(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(a.cast("array<double>")),
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(b.cast("array<double>"))))

  /** Embedding near-duplicate pairs: cosine ≥ threshold. Candidates come
    * from MULTI-TABLE sign-LSH buckets (independent hyperplane sets per
    * table — the banding move that makes minhash-LSH recall tunable);
    * exact cosine verifies. At 100 TB the per-(table, signature) bucket
    * join replaces the O(n²) cross join. Recall ≈ 1 − (1 − p^bits)^tables
    * where p = 1 − θ/π: raise `bits` for fewer candidates per bucket (2^bits
    * buckets per table), raise `tables` to win recall back.
    *
    * Like [[minhashLshPairs]], the returned DataFrame is PERSISTED and
    * already materialized — callers owning a long-lived session must
    * `.unpersist()` it when finished.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, bits: Int = 0,
                     tables: Int = 0): DataFrame = {
    // the slim (id, vector) projection is referenced FOUR times (sizing
    // count, signature build, two re-attach joins) — persist it once so an
    // expensive upstream (joins, unions, transforms) is not recomputed per
    // reference; the count that feeds the sizing then also materializes the
    // cache, making the sizing scan free
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the try/finally starts IMMEDIATELY after the first persist: the sizing
    // count or plan construction below can throw, and the caller has no
    // handle to unpersist vecs/e on that path — same hygiene as `out`
    var e: DataFrame = null
    val out =
      try {
        // (bits, tables) sized jointly unless pinned: narrower buckets
        // (higher bits) cut per-table hit probability p^bits, so a FIXED
        // table count silently loses recall as autoBits grows with the
        // corpus; and at a loose threshold the table budget can bind, in
        // which case the signature narrows instead ([[autoBitsTables]]) —
        // default-path recall stays ≥ 0.9 at this query's cosine threshold
        val (b, nt) = (bits, tables) match {
          case (0, 0)          => autoBitsTables(vecs.count(), threshold)
          case (0, t)          => (autoBits(vecs.count()), t)
          case (bb, 0)         => (bb, autoTables(bb, threshold))
          case (bb, t)         => (bb, t)
        }
        // band join carries ONLY (t, sig, id) — at 100 TB of embeddings the
        // vectors are the payload, and shuffling them through the bucket
        // self-join on BOTH sides × tables dwarfs everything else; they are
        // re-attached to the (tiny) deduplicated candidate set instead. The
        // compact (id, t, sig) table is persisted so the hyperplane dot
        // products are computed once, not once per join side.
        e = signLshBands(vecs, b, nt)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        embeddingPairsFromBands(vecs, e, threshold)
      } finally {
        if (e != null) e.unpersist(blocking = false)
        vecs.unpersist(blocking = false)
      }
    out
  }

  /** The multi-table sign-LSH band table (id, t, sig) over a slim (id, v)
    * vector projection — the reusable "index" side of [[embeddingPairs]] /
    * bucketed ANN, exposed so callers (and the correctness gate's external
    * oracle dump) can materialize, commit, or inspect it.
    */
  def signLshBands(vecs: DataFrame, bits: Int, tables: Int): DataFrame = {
    val sigs = (0 until tables).map(t =>
      struct(lit(t).as("t"), signLshSignature(col("v"), bits, t).as("sig")))
    vecs.select(col("id"), explode(array(sigs: _*)).as("ts"))
      .select(col("id"), col("ts.t").as("t"), col("ts.sig").as("sig"))
  }

  /** The bucket-join + exact-cosine half of [[embeddingPairs]], over a
    * PRECOMPUTED band table (see [[signLshBands]]). `vecs` is (id, v) and is
    * referenced twice (candidate re-attach); `bands` twice (self-join) —
    * persist both when upstream is expensive (embeddingPairs does). The
    * returned pairs are persisted + materialized (unpersist when done).
    */
  def embeddingPairsFromBands(vecs: DataFrame, bands: DataFrame,
                              threshold: Double): DataFrame = {
    val l = bands.select(col("t"), col("sig"), col("id").as("id1"))
    val r = bands.select(col("t"), col("sig"), col("id").as("id2"))
    val cand = l.join(r, Seq("t", "sig")).where(col("id1") < col("id2"))
      .select("id1", "id2").dropDuplicates("id1", "id2")
    embeddingPairsFromCandidates(cand, vecs, threshold)
  }

  /** Exact-cosine verification of a candidate pair set against an (id, v)
    * vector table — the shared tail of [[embeddingPairsFromBands]] and
    * [[incrementalEmbeddingPairs]]. Returned pairs are persisted +
    * materialized (unpersist when done).
    */
  def embeddingPairsFromCandidates(cand: DataFrame, vecs: DataFrame,
                                   threshold: Double): DataFrame = {
    val out = cand
      .join(vecs.select(col("id").as("id1"), col("v").as("v1")), Seq("id1"))
      .join(vecs.select(col("id").as("id2"), col("v").as("v2")), Seq("id2"))
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize so upstream caches can be dropped deterministically
    // (same failure-path cache hygiene as minhashLshPairs)
    try out.count()
    catch { case ex: Throwable => out.unpersist(blocking = false); throw ex }
    out
  }

  /** INCREMENTAL embedding near-dup detection — the sign-LSH mirror of
    * [[incrementalMinhashPairs]]: pairs involving at least one NEW vector
    * (new↔new and new↔corpus, never corpus↔corpus) against a corpus whose
    * band table `(id, t, sig)` is already COMMITTED (written once by
    * [[signLshBands]] when each earlier batch arrived). The hyperplanes
    * are derived deterministically from `(bits, table-index)`, so bands
    * computed for a new batch today join correctly against bands committed
    * months ago — PROVIDED the caller passes the same `(bits, tables)` the
    * store was built with (same contract as minhash `k`/`bands`).
    *
    * Scale: the corpus contributes only its `(t, sig, id)` band projection
    * to the candidate join — corpus vectors are touched ONLY to re-attach
    * to the (tiny) candidate set, and with the committed store partitioned
    * by `(t, sig)` bucket the per-batch cost is new-batch-sized. Ids must
    * be unique across both inputs. Equivalence law (DedupSpec): result ==
    * embeddingPairsFromBands(new ∪ corpus) minus its corpus↔corpus pairs.
    * Returned pairs are persisted + materialized; input lifecycles belong
    * to the caller (persist `newVecs` upstream if expensive — it is
    * referenced by the band build and both re-attach joins).
    */
  def incrementalEmbeddingPairs(newVecs: DataFrame, corpusVecs: DataFrame,
                                corpusBands: DataFrame, threshold: Double,
                                bits: Int, tables: Int): DataFrame = {
    val nb = signLshBands(newVecs, bits, tables)
    val nn = nb.select(col("t"), col("sig"), col("id").as("id1"))
      .join(nb.select(col("t"), col("sig"), col("id").as("id2")), Seq("t", "sig"))
      .where(col("id1") < col("id2")).select("id1", "id2")
    // new↔corpus lands in either order in the bucket join — normalize so
    // the pair identity (id1 < id2) matches the full-run convention
    val nc = nb.select(col("t"), col("sig"), col("id").as("ida"))
      .join(corpusBands.select(col("t"), col("sig"), col("id").as("idb")),
        Seq("t", "sig"))
      .where(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
    val cand = nn.unionByName(nc).dropDuplicates("id1", "id2")
    embeddingPairsFromCandidates(cand, newVecs.unionByName(corpusVecs), threshold)
  }

  /** Sign-LSH signature width for a target mean bucket occupancy:
    * 2^bits ≈ n / targetBucket, clamped to [minBits, maxBits]. The default
    * bucket target (64) keeps the within-bucket candidate quadratic cost
    * bounded while leaving enough co-occupants for recall; raise `tables`
    * (independent hyperplane sets) to win back recall lost to narrower
    * buckets — measured ≥0.9 at 2^16 buckets × 8 tables (AnnSpec).
    */
  def autoBits(n: Long, targetBucket: Int = 64, minBits: Int = 8,
               maxBits: Int = 24): Int = {
    val ideal = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, ideal))
  }

  /** Number of independent hyperplane tables needed for `targetRecall` at a
    * given signature width and design cosine threshold. One hyperplane
    * agrees on a pair at angle θ with probability p = 1 − θ/π; a pair lands
    * in the same bucket of one table with probability hit = p^bits (or
    * p^bits + bits·(1−p)·p^(bits−1) when the consumer also probes all 1-bit
    * flips), so recall = 1 − (1 − hit)^tables ≥ target →
    * tables = ⌈ln(1−target) / ln(1−hit)⌉, clamped to [1, 64]. This is what
    * keeps DEFAULT recall stable while autoBits widens signatures with
    * corpus size.
    */
  def autoTables(bits: Int, threshold: Double, targetRecall: Double = 0.9,
                 oneBitProbe: Boolean = false): Int = {
    val hit = tableHitRate(bits, threshold, oneBitProbe)
    if (hit >= targetRecall) 1
    else math.min(MaxTables, math.max(1,
      math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - hit)).toInt))
  }

  /** Probability that a pair at the design cosine lands in the same bucket
    * of ONE table: p^bits, plus bits·(1−p)·p^(bits−1) when the consumer also
    * probes all 1-bit flips (p = 1 − acosθ/π per hyperplane).
    */
  private def tableHitRate(bits: Int, threshold: Double, oneBitProbe: Boolean): Double = {
    val p = 1.0 - math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    val pb = math.pow(p, bits)
    math.min(1.0 - 1e-12,
      if (oneBitProbe) pb + bits * (1.0 - p) * math.pow(p, bits - 1) else pb)
  }

  /** Analytic candidate recall of a (bits, tables) configuration at the
    * design cosine: 1 − (1 − hit)^tables. This is the number
    * [[autoBitsTables]] guarantees ≥ targetRecall inside its validity
    * region, and the number it LOGS when the region is left.
    */
  def analyticRecall(bits: Int, tables: Int, threshold: Double,
                     oneBitProbe: Boolean = false): Double =
    1.0 - math.pow(1.0 - tableHitRate(bits, threshold, oneBitProbe), tables)

  /** Table-count budget: band rows (and bucket-join traffic) scale linearly
    * with tables, so the count is capped and [[autoBitsTables]] narrows the
    * signature instead when a loose threshold would need more.
    */
  val MaxTables = 64

  /** Jointly derive (bits, tables) for a corpus and cosine threshold.
    * [[autoBits]] gives the occupancy-optimal signature width, but at a
    * LOOSE threshold the per-table hit rate p^bits can be so low that no
    * table count within [[MaxTables]] reaches `targetRecall` — silently
    * clamping there would re-introduce the exact hidden recall loss the
    * derivation exists to prevent. Instead the signature narrows (buckets
    * widen — more candidates per bucket, the honest quadratic price of high
    * recall at a loose threshold) until the target fits the budget: e.g.
    * 2^40 docs at threshold 0.95 → (24 bits, 29 tables), at 0.75 →
    * (12 bits, 52 tables), both with analytic recall ≥ 0.9. The invariant
    * holds for any threshold ≥ ~0.45; below that even 8-bit signatures
    * cannot fit the budget and the clamped count (with its reduced recall)
    * is the best available — that regime is NOT silent: the achieved
    * [[analyticRecall]] is computed and a loud warning logged (callers
    * wanting the full target there must pin bits/tables explicitly, e.g.
    * fewer bits + accepting bigger buckets, or raise [[MaxTables]]).
    */
  def autoBitsTables(n: Long, threshold: Double, targetRecall: Double = 0.9,
                     oneBitProbe: Boolean = false): (Int, Int) = {
    // autoTables clamps at MaxTables, so a returned count AT the cap means
    // the budget binds (or exactly fits) — descend; one extra step on an
    // exact fit is harmless, recall only rises as buckets widen
    var b = autoBits(n)
    while (b > 8 && autoTables(b, threshold, targetRecall, oneBitProbe) >= MaxTables) b -= 1
    val t = autoTables(b, threshold, targetRecall, oneBitProbe)
    val recall = analyticRecall(b, t, threshold, oneBitProbe)
    if (recall < targetRecall)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"autoBitsTables(n=$n, threshold=$threshold): even the narrowest " +
          s"signature (bits=$b) cannot reach targetRecall=$targetRecall " +
          s"within the MaxTables=$MaxTables budget — returning the clamped " +
          s"(bits=$b, tables=$t) with analytic recall ${"%.3f".format(recall)}; " +
          "pin bits/tables explicitly in this loose-threshold regime")
    (b, t)
  }

  /** Sign-LSH signature: bit j = sign(v · r_j) where r_j is a deterministic
    * pseudo-random ±1 hyperplane derived from xxhash64(table, j, i) —
    * `table` selects an independent hyperplane set for multi-table banding.
    */
  def signLshSignature(v: Column, bits: Int, table: Int = 0): Column =
    // native one-pass kernel (VectorKernel.signLsh) — the composed
    // aggregate(transform(aggregate(zip_with(...)))) nest evaluated
    // interpreted per (bit, element) with boxed xxhash64 calls; the kernel
    // reproduces the identical seed-chained XXH64.hashInt hyperplane signs
    // and the null/empty -> 0L signature semantics (DedupSpec parity law)
    org.apache.spark.sql.graftbridge.ColumnBridge.column(SignLshSig(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(v.cast("array<double>")),
      bits, table))

  // ---------------------------------------------------------- boilerplate

  /** The map size [[boilerplateNgrams]] suggests after a refusal: the
    * smallest power of two above `maxMapSize` whose projected error
    * maxErr·maxMapSize/size is below `minDocs` (maxErr already embeds the
    * library's 3.5·N/maxMapSize bound), capped at the largest map within
    * Spark's limit of 1,000,000 items tracked.
    */
  private[graft] def retryMapSize(maxErr: Long, maxMapSize: Int, minDocs: Long): Int = {
    val largest = Integer.highestOneBit(graft.stats.FreqSketch.MaxItemsTracked / 3 * 4)
    var size = math.min(maxMapSize * 2, largest)
    while (size < largest && maxErr.toDouble * maxMapSize / size >= minDocs) size *= 2
    size
  }

  /** Cross-document boilerplate n-gram detection (the C4 curation step —
    * Raffel et al. 2020 strip boilerplate lines; Lee et al. 2021 show
    * cross-document repeated spans dominate duplicated training text):
    * word n-grams of normalized text appearing in at least `minDocs`
    * DISTINCT documents, with exact document counts.
    *
    * Two-phase sketch-then-exact (the G5 heavy-hitters sketch as a filter):
    * phase 1 NAMES candidates with one bounded [[graft.stats.FreqSketch]]
    * aggregation over each document's distinct grams — the shuffle carries
    * sketch bytes, never one row per distinct gram; phase 2 CONFIRMS
    * exactly, re-exploding filtered to the named candidates (a bounded
    * `isin`/InSet literal) and counting documents per gram. The output is
    * EXACT: NO_FALSE_NEGATIVES guarantees every gram with true document
    * count ≥ `minDocs` is named, provided `minDocs` exceeds the sketch's
    * ACTUAL per-run error bound — `getMaximumError()` on the collected
    * bytes, which is 0 while the map never purged (the exact regime) and
    * which `getFrequentItems` clamps its threshold up to; an a-priori
    * N-based epsilon would UNDERSTATE the library's real bound
    * (3.5·N/maxMapSize) and drop true positives silently. Enforced
    * loudly; the refusal names a power-of-two `maxMapSize` to retry with.
    *
    * EAGER: phase 1 is one aggregation action. Grams travel as strings
    * (the ItemsSketch is string-keyed and the answer is ~dozens of rows);
    * per-doc gram sets are distinct by construction ([[shingleStrings]]),
    * so phase 2's count(*) per gram IS the distinct-document count.
    */
  def boilerplateNgrams(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minDocs: Long = 2,
                        maxMapSize: Int = 16384): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(shingleStrings(col(textCol), n)).as("gram"))
    val bytes = grams.agg(graft.stats.FreqSketch.accumulate(col("gram"), maxMapSize))
      .collect()(0).getAs[Array[Byte]](0)
    // the sketch's OWN exact error bound for this run (0 in the exact
    // regime) — getFrequentItems clamps its threshold up to this value,
    // so a minDocs at or below it cannot honor NO_FALSE_NEGATIVES (and an
    // a-priori N-based epsilon understates the library's real bound)
    val maxErr = graft.stats.FreqSketch.heapify(bytes).getMaximumError
    require(minDocs > maxErr,
      s"minDocs=$minDocs is not above the sketch's actual error bound" +
        s" ($maxErr at maxMapSize=$maxMapSize) — NO_FALSE_NEGATIVES needs" +
        s" minDocs > maxError; retry with maxMapSize=" +
        s"${retryMapSize(maxErr, maxMapSize, minDocs)} (power of 2)")
    // an empty candidate list needs no special case: isin() over zero
    // values is constant-false and the groupBy yields the empty result
    val cand = graft.stats.FreqSketch.frequentItems(Seq(bytes), minDocs).map(_._1)
    grams.where(col("gram").isin(cand: _*))
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
  }
}

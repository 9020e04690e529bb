package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected pair graph — the
  * missing step between near-duplicate PAIRS (minhash / simhash / embedding
  * LSH, Dedup.scala) and near-duplicate GROUPS: transitive closure assigns
  * every document the minimum id of its duplicate cluster, so "keep one per
  * cluster" becomes a filter instead of a driver-side union-find.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — converges in
  * O(log² n) rounds on any graph (O(log n) in practice). Each star is ONE
  * node-id-keyed exchange of (long, long) edges feeding a min WINDOW over
  * the node's neighborhood: no aggregate-then-join, so no second exchange
  * and no broadcast of the per-node minima. A round is three exchanges
  * (large star, small star, the round's distinct) plus one result job.
  * The window buffers one node's neighbors in Spark's spillable row array,
  * so a hub node (a viral boilerplate file shared by millions of repos) is
  * sorted and spilled, never held in a hash map.
  *
  * Scale notes (the 100 TB story):
  *   - Payload never enters the graph: callers pass (id1, id2) pairs from
  *     the LSH pipelines; each exchange moves two longs per edge.
  *   - Every round's result is checkpointed (reliable checkpoint dir when
  *     `spark.sparkContext.setCheckpointDir` was called, local checkpoint
  *     otherwise) — lineage stays O(1) across iterations instead of
  *     growing a plan Catalyst must re-analyze each round.
  *   - Convergence is detected from a (count, xor of xxhash64) signature of
  *     the canonical edge set, folded per partition in the same job that
  *     materializes the round's checkpoint — no aggregate exchange, no
  *     edge-set `except` join, no job of its own.
  *
  * Reference semantics preserved: the survivor of each cluster is the
  * MINIMUM id — the distributed analog of the reference's first-wins
  * keep-the-first-seen rule (news.py:74-82).
  */
object Components {

  /** Connected components of the undirected graph given as (idCol1, idCol2)
    * pairs. Returns one row per node appearing in `pairs`:
    * (id, rep) where rep is the minimum id reachable from `id` (rep == id
    * for the cluster's canonical representative). Null ids and self-loops
    * are dropped; duplicate and reversed duplicate edges are tolerated.
    *
    * Ids must be long-typed (LSH pair outputs already are); `maxIter`
    * bounds the alternating rounds — 2·log₂(n) + a constant is the proven
    * bound, so 50 covers any graph that fits on a cluster.
    */
  def connectedComponents(pairs: DataFrame, idCol1: String = "id1",
                          idCol2: String = "id2", maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, idCol1, idCol2, maxIter)._1

  /** [[connectedComponents]] plus the number of alternating rounds the
    * solve took — for the ComponentsSpec convergence-bound law
    * (rounds ≤ 2·log₂ n + c) at large edge counts.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, idCol1: String = "id1", idCol2: String = "id2",
      maxIter: Int = 50): (DataFrame, Int) = {
    // Constraint propagation is disabled for the solve (and restored after):
    // Spark's own tuning guidance for iterative algorithms, and a
    // correctness requirement here — a localCheckpoint over NULLABLE input
    // (any parquet-derived pair set) captures isnotnull constraints on the
    // LogicalRDD, and Spark 4.1's UnionBase.rewriteConstraints throws
    // "key not found" optimizing the self-union inside largeStar when a
    // deduplicated child still carries them. All solver filters are
    // explicit, so no plan quality is lost.
    val sess = pairs.sparkSession
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val cpPrev = sess.conf.get(cpKey, "true")
    sess.conf.set(cpKey, "false")
    try connectedComponentsImpl(pairs, idCol1, idCol2, maxIter)
    finally sess.conf.set(cpKey, cpPrev)
  }

  private def connectedComponentsImpl(pairs: DataFrame, idCol1: String,
                                      idCol2: String, maxIter: Int): (DataFrame, Int) = {
    val canonical = pairs
      .select(greatest(col(idCol1), col(idCol2)).cast("long").as("u"),
              least(col(idCol1), col(idCol2)).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()

    // The first checkpoint reads the input exactly once; everything the
    // returned DataFrame references (node set included) is checkpointed, so
    // callers may unpersist/discard `pairs` immediately. Checkpoints inside
    // the loop are LAZY: building one runs the round's exchanges, and the
    // signature right after it is the job that computes (and so caches)
    // every partition of the round's result: one result job per round.
    val base = materializeLazy(canonical)
    var cur = base
    var sig = signature(cur)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = materializeLazy(round(cur))
      val nextSig = signature(next)
      converged = nextSig == sig
      cur = next
      sig = nextSig
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")

    // At the fixed point the edge set is a star forest: every edge is
    // (member, cluster-min) and roots have no outgoing edge.
    val nodes = base.select(col("u").as("id"))
      .unionAll(base.select(col("v").as("id"))).distinct()
    // materialized HERE so the whole solve — self-union included —
    // executes while the constraint-propagation guard in
    // [[connectedComponentsWithRounds]] is still in force; a lazily
    // returned plan would optimize (and could hit the Spark 4.1
    // rewriteConstraints crash the guard exists for) only at the caller's
    // action, after the conf was restored. One row per paired doc, so the
    // extra checkpoint is pair-set-scale, not corpus-scale.
    (materialize(nodes.join(cur.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("rep"))), it)
  }

  /** Attach the cluster representative to a corpus: rows never seen in a
    * pair keep themselves as rep. One broadcast-or-shuffle join on the id —
    * the components table has one row per PAIRED doc, which after LSH is a
    * small fraction of the corpus.
    */
  def withComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                     idCol1: String = "id1", idCol2: String = "id2",
                     repCol: String = "rep"): DataFrame = {
    val cc = connectedComponents(pairs, idCol1, idCol2)
      .withColumnRenamed("id", idCol).withColumnRenamed("rep", repCol)
    df.join(cc, Seq(idCol), "left")
      .withColumn(repCol, coalesce(col(repCol), col(idCol).cast("long")))
  }

  /** Near-duplicate group dedup: keep exactly one row per connected
    * component of the pair graph — the minimum-id row (first-wins) — plus
    * every row that was in no pair.
    */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                        idCol1: String = "id1", idCol2: String = "id2"): DataFrame =
    withComponents(df, idCol, pairs, idCol1, idCol2, "__rep")
      .where(col("__rep") === col(idCol).cast("long"))
      .drop("__rep")

  /** Incremental connected components against a committed cluster store —
    * the per-batch form of [[connectedComponents]], completing the
    * incremental story for the clustering step the same way
    * incrementalMinhashPairs does for pair generation: per-batch cost is
    * sized by the NEW batch plus the clusters it touches, never by the
    * corpus.
    *
    * `store` is a committed (id, rep) star forest (the output of a previous
    * full or incremental run); `newPairs` may link new nodes to each other,
    * to old nodes, and transitively merge existing clusters. Only the
    * TOUCHED clusters are re-solved:
    *
    *   1. touched reps = store ⋈ nodes(newPairs) — an id-keyed semi-join;
    *   2. affected members = store ⋈ touched reps — a rep-keyed join (a
    *      store bucketed/partitioned by rep makes this a pruned read);
    *   3. re-run star contraction over newPairs ∪ the affected (id, rep)
    *      edges (the star forest preserves connectivity exactly);
    *   4. untouched store rows pass through via a rep anti-join.
    *
    * Equivalence law (spec-enforced): for any edge sets A, B,
    * `incrementalComponents(connectedComponents(A), B)` ==
    * `connectedComponents(A ∪ B)` — including cluster merges, where every
    * member of both old clusters is relabeled to the joint minimum.
    */
  def incrementalComponents(store: DataFrame, newPairs: DataFrame,
                            idCol1: String = "id1", idCol2: String = "id2",
                            maxIter: Int = 50): DataFrame = {
    val st = store.select(col("id").cast("long").as("id"),
                          col("rep").cast("long").as("rep"))
    val newNodes = newPairs
      .select(col(idCol1).cast("long").as("id"))
      .unionAll(newPairs.select(col(idCol2).cast("long").as("id")))
      .where(col("id").isNotNull).distinct()
    val touched = st.join(newNodes, "id").select("rep").distinct()
    val affected = st.join(touched, "rep")
    // The star forest is connectivity-preserving, so the touched clusters'
    // (id, rep) edges stand in for ALL their original pairs. An affected
    // singleton-row (id == rep) contributes no edge, but its cluster being
    // touched means the id itself is in newPairs — it re-enters as a node
    // there.
    val merged = newPairs
      .select(col(idCol1).cast("long").as("id1"), col(idCol2).cast("long").as("id2"))
      .unionByName(affected.where(col("id") =!= col("rep"))
        .select(col("id").as("id1"), col("rep").as("id2")))
    val resolved = connectedComponents(merged, "id1", "id2", maxIter)
    st.join(touched, Seq("rep"), "left_anti").select("id", "rep")
      .unionByName(resolved)
  }

  /** One alternating round: large-star then small-star. Input and output
    * are canonical (u > v) edge sets; the output is distinct.
    */
  private[graft] def round(e: DataFrame): DataFrame = smallStar(largeStar(e))

  /** One round of large-star: every node u connects its LARGER neighbors to
    * the minimum of its neighborhood (including itself). High-degree hubs
    * shrink here — that is the point of the algorithm.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    // The neighborhood min is a window over the symmetrized edges, not an
    // aggregate joined back: ONE exchange by u plus a local sort, no join,
    // no broadcast. The v > u filter reads a non-partition column, so
    // Catalyst cannot push it below the window; pushed below a join or a
    // repartition, it would give the filtered side an exchange of its own.
    // No trailing distinct: each canonical edge passes the filter once, so
    // the output is bounded at |e| rows, and smallStar is duplicate-
    // insensitive (its own distinct canonicalizes the round's output).
    val sym = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    sym.select(col("u"), col("v"),
               least(col("u"), min("v").over(Window.partitionBy("u"))).as("m"))
      .where(col("v") > col("u"))
      // v > u >= m, so (v, m) is already canonical big-to-small
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** One round of small-star: every node u connects its SMALLER-or-equal
    * neighbors (and itself) to the minimum of that set. Input and output
    * are canonical (u > v) edge sets.
    */
  private def smallStar(e: DataFrame): DataFrame =
    // same one-exchange window shape as [[largeStar]]; each edge emits
    // (v, m) and (u, m) through one explode. m <= v < u, so both are
    // canonical once the (m, m) self-edge is dropped; the repeated (u, m)
    // rows of a node's edges collapse in the distinct's map-side partial
    // aggregate, since all of them sit in u's partition.
    e.select(col("u"), col("v"), min("v").over(Window.partitionBy("u")).as("m"))
      .select(explode(array(col("v"), col("u"))).as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Truncate lineage and materialize one round's edge set. */
  private def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Lineage-truncating checkpoint whose materialization rides the CALLER's
    * next full-table job (the per-round signature) instead of running a
    * dedicated job here.
    */
  private def materializeLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Order-independent convergence signature of a canonical (u, v) edge set:
    * row count and the xor of each edge's xxhash64(u, v) (Spark's seed 42).
    * Folded per partition straight over the rows of `e`, so on a lazy
    * checkpoint this is the one job that also materializes it, with no
    * aggregate exchange. The edge set is distinct, so xor-cancellation of
    * repeats cannot occur.
    */
  private def signature(e: DataFrame): (Long, Long) =
    e.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        n += 1
        h ^= XXH64.hashLong(r.getLong(1), XXH64.hashLong(r.getLong(0), 42L))
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h ^ ph) }
}

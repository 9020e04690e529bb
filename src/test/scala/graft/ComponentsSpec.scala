package graft

import graft.dedup.Components
import org.apache.spark.sql.functions._

/** Connected components vs a driver-side union-find reference, plus the
  * structural edge cases (chains — the worst diameter a hash-min style
  * label propagation would choke on; hubs; duplicate/reversed/self edges)
  * and the dedup-by-cluster composition.
  */
class ComponentsSpec extends GraftSpec {
  import spark.implicits._

  /** Reference union-find (path compression, driver-side). */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // normalize: rep = min of component, which union-by-min guarantees
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(600)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges) == unionFind(edges))
  }

  test("sparse random graph with many small components matches union-find") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(150)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges) == unionFind(edges))
  }

  test("long chain collapses to the minimum id (log-round convergence)") {
    val edges = (0L until 300L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == 301 && got.values.forall(_ == 0L))
  }

  test("hub star plus separate component; duplicates/reversed/self-loops tolerated") {
    val hub = (1L to 50L).map(i => (100L, 100L + i))      // hub 100
    val other = Seq((5L, 6L), (6L, 5L), (6L, 7L))          // component min 5
    val noise = Seq((3L, 3L), (100L, 101L))                // self-loop + dup
    val got = run(hub ++ other ++ noise)
    assert((1L to 50L).forall(i => got(100L + i) == 100L) && got(100L) == 100L)
    assert(Seq(5L, 6L, 7L).forall(i => got(i) == 5L))
    assert(!got.contains(3L)) // self-loop only => not part of the pair graph
  }

  test("hub beyond the window's in-memory buffer plus a chain matches union-find") {
    // Each star's neighborhood min is a window: a node with more neighbors
    // than the in-memory threshold leaves the row array's in-memory path
    // for its spillable sorter. The hub's last spoke carries a chain, so
    // the hub's minimum must travel the whole chain.
    val threshold = spark.conf.get("spark.sql.windowExec.buffer.in.memory.threshold").toLong
    val spokes = threshold + 1000L
    val hub = (1L to spokes).map(i => (7L, 100000L + i))
    val chain = (0L until 200L).map(i => (100000L + spokes + i, 100000L + spokes + i + 1))
    val edges = hub ++ chain
    val got = run(edges)
    assert(got.size == spokes + 201)
    assert(got == unionFind(edges))
  }

  test("partitioning-invariant: repartition(13) equals coalesce(1)") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(200)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("id1", "id2")
    def get(d: org.apache.spark.sql.DataFrame) =
      Components.connectedComponents(d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(get(df.coalesce(1)) == get(df.repartition(13)))
  }

  test("dedupByComponents keeps the min-id row per cluster and all unpaired rows") {
    val corpus = (0L until 20L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 4L), (4L, 9L), (12L, 13L)).toDF("id1", "id2")
    val kept = Components.dedupByComponents(corpus, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = Set(4L, 9L, 13L)
    assert(kept == (0L until 20L).toSet -- dropped)
  }

  test("withComponents labels unpaired rows with themselves") {
    val corpus = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq((1L, 3L)).toDF("id1", "id2")
    val got = Components.withComponents(corpus, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("empty pair set yields an empty components table") {
    val pairs = spark.emptyDataset[(Long, Long)].toDF("id1", "id2")
    assert(Components.connectedComponents(pairs).count() == 0L)
  }

  // --- incremental vs committed store -----------------------------------

  private def incr(storeEdges: Seq[(Long, Long)],
                   newEdges: Seq[(Long, Long)]): Map[Long, Long] = {
    val store = Components.connectedComponents(storeEdges.toDF("id1", "id2"))
    Components.incrementalComponents(store, newEdges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental == full recompute on a random split (equivalence law)") {
    val rnd = new scala.util.Random(23)
    val all = Seq.fill(400)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val (a, b) = all.splitAt(250)
    assert(incr(a, b) == run(all))
  }

  test("incremental merge of two committed clusters relabels every member") {
    // store: {1,2,3} rep 1 and {10,11,12} rep 10; bridge 3-12 merges them
    val store = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
    val got = incr(store, Seq((3L, 12L)))
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L).forall(i => got(i) == 1L))
  }

  test("incremental leaves untouched clusters byte-identical and adds new-only clusters") {
    val store = Seq((1L, 2L), (50L, 51L))          // two committed clusters
    val got = incr(store, Seq((70L, 71L)))          // touches neither
    assert(got == Map(1L -> 1L, 2L -> 1L, 50L -> 50L, 51L -> 50L,
                      70L -> 70L, 71L -> 70L))
  }

  test("incremental with an empty new batch returns the store unchanged") {
    val store = Seq((1L, 2L), (2L, 3L))
    val got = incr(store, Seq.empty)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("incremental where the new batch lowers a cluster's min id") {
    // committed cluster {5,6} rep 5; new pair 0-6 makes 0 the rep
    val got = incr(Seq((5L, 6L)), Seq((0L, 6L)))
    assert(got == Map(0L -> 0L, 5L -> 0L, 6L -> 0L))
  }

  test("convergence bound at 10^6 edges with a planted mega-hub: rounds <= 2*log2(n)") {
    // the BenchExtra scale-leg graph: ~900k hashed random edges over 1M
    // node ids plus a 100k-spoke star on node 0 (hub safety = large-star
    // must contract it without a hot reducer); the proven alternating
    // large/small-star bound is O(log^2 n) worst case but 2*log2(n)
    // rounds in practice — assert the practical bound the scale claims
    // rest on (VERDICT r5 task 4)
    val edges = spark.range(0, 900000).select(
        pmod(xxhash64(col("id"), lit(1)), lit(1000000)).as("id1"),
        pmod(xxhash64(col("id"), lit(2)), lit(1000000)).as("id2"))
      .unionAll(spark.range(0, 100000).select(
        lit(0L).as("id1"), (col("id") + 1000000).as("id2")))
    val (cc, rounds) = Components.connectedComponentsWithRounds(edges)
    val n = 1100000.0 // distinct node-id upper bound
    assert(rounds <= 2 * (math.log(n) / math.log(2)).ceil.toInt,
      s"solve took $rounds rounds for ~1.1M nodes")
    // the hub's star is one component labeled by its min id (node 0's rep)
    val hubReps = cc.where(col("id") >= 1000000).select("rep").distinct().count()
    assert(hubReps == 1L, s"hub spokes split across $hubReps components")
  }

  test("incremental survives a parquet round-trip of the store") {
    withTempDir("cc_store") { dir =>
      val store = Components.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2"))
      store.write.mode("overwrite").parquet(dir)
      val reloaded = spark.read.parquet(dir)
      val got = Components.incrementalComponents(reloaded, Seq((3L, 10L)).toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L))
    }
  }
}

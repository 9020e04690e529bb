package perfbench

import java.util.SplittableRandom

/** Seeded near-duplicate pair graph with planted clusters and their closed
  * form.
  *
  * Nodes are a random permutation of 0 until `nodes`, so a cluster's minimum
  * id is not its first member. One mega-hub star holds `hubSpokes` spokes;
  * the other clusters have Zipf sizes: the k-th largest has
  * max(2, maxCluster * k^(-1/1.2)) members, the same multiset for every
  * seed, so the solve's round count does not swing with the seed. Each
  * cluster is a random spanning tree plus redundant intra-cluster edges,
  * with a few duplicate and reversed pairs.
  *
  * The held-out slice is what an incremental apply adds: for about a third
  * of the clusters (size >= 4) the tree is split in two halves whose single
  * bridge edge is held out, 1% of the nodes are new leaves that join an
  * existing cluster only through a held-out edge, and `ChainNodes` new
  * nodes form a path of held-out edges in increasing id order. So the base
  * graph's components are the halves, and base + held-out gives the
  * planted clusters.
  *
  * The solver's round count depends only on each component's shape and the
  * relative order of its ids. The rest of the held-out slice takes 3 rounds
  * on about a third of the seeds and 4 on the others, and an apply of 3
  * rounds runs about a third faster; the path takes 4 rounds whatever its
  * ids, so every seed's apply takes 4.
  */
final class PairGraph(val nodes: Int, val base: Array[Long], val held: Array[Long],
                      val baseRep: Array[Long], val unionRep: Array[Long]) {
  def baseEdges: Int = base.length / 2
  def heldEdges: Int = held.length / 2
}

object PairGraph {
  private val ChainNodes = 8

  def generate(seed: Long, nodes: Int, hubSpokes: Int, maxCluster: Int): PairGraph = {
    val rng = new SplittableRandom(seed)
    val perm = Array.tabulate(nodes)(_.toLong)
    for (i <- nodes - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val base = new LongBuf; val held = new LongBuf
    def edge(buf: LongBuf, a: Long, b: Long): Unit =
      if (rng.nextBoolean()) buf.add(a, b) else buf.add(b, a)

    // component index per node, for the base graph and for the union
    val baseComp = Array.fill(nodes)(-1)
    val unionComp = Array.fill(nodes)(-1)
    val baseMin = scala.collection.mutable.ArrayBuffer.empty[Long]
    val unionMin = scala.collection.mutable.ArrayBuffer.empty[Long]
    def label(members: Array[Long], comp: Array[Int], mins: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
      members.foreach(m => comp(m.toInt) = mins.size)
      mins += members.min
    }
    /** Spanning tree plus redundant edges over `m`. */
    def cluster(m: Array[Long]): Unit = {
      for (j <- 1 until m.length) edge(base, m(j), m(rng.nextInt(j)))
      for (_ <- 0 until m.length / 2) {
        val a = rng.nextInt(m.length); val b = rng.nextInt(m.length)
        if (a != b) edge(base, m(a), m(b))
      }
    }

    val leaves = math.max(1, nodes / 100)
    val hub = perm.slice(0, hubSpokes + 1)
    hub.tail.foreach(s => edge(base, hub(0), s))
    label(hub, baseComp, baseMin); label(hub, unionComp, unionMin)

    var pos = hub.length
    val end = nodes - leaves - ChainNodes
    var rank = 0
    while (pos < end) {
      rank += 1
      var k = math.max(2, (maxCluster * math.pow(rank, -1.0 / 1.2)).toInt)
      k = math.min(k, end - pos)
      if (end - pos - k == 1) k += 1
      val m = perm.slice(pos, pos + k)
      pos += k
      label(m, unionComp, unionMin)
      if (k >= 4 && rng.nextInt(3) == 0) {
        val (a, b) = m.splitAt(k / 2)
        cluster(a); cluster(b)
        label(a, baseComp, baseMin); label(b, baseComp, baseMin)
        edge(held, a(rng.nextInt(a.length)), b(rng.nextInt(b.length)))
      } else if (k >= 2) {
        cluster(m)
        label(m, baseComp, baseMin)
      } else label(m, baseComp, baseMin)
    }
    // the held-out path of new nodes, in increasing id order
    val chain = perm.slice(end, end + ChainNodes).sorted
    for (j <- 1 until chain.length) edge(held, chain(j - 1), chain(j))
    label(chain, unionComp, unionMin)
    // new leaves attach to a random clustered (non-hub) node
    for (p <- end + ChainNodes until nodes) {
      val leaf = perm(p)
      val target = perm(hub.length + rng.nextInt(end - hub.length))
      edge(held, leaf, target)
      val c = unionComp(target.toInt)
      unionComp(leaf.toInt) = c
      unionMin(c) = math.min(unionMin(c), leaf)
    }
    // a few duplicate and reversed pairs, which the solver must tolerate
    val n0 = base.size / 2
    for (_ <- 0 until math.max(1, n0 / 100)) {
      val e = rng.nextInt(n0)
      base.add(base.get(2 * e + 1), base.get(2 * e))
    }
    val baseRep = Array.tabulate(nodes)(i => if (baseComp(i) < 0) -1L else baseMin(baseComp(i)))
    val unionRep = Array.tabulate(nodes)(i => unionMin(unionComp(i)))
    new PairGraph(nodes, base.toArray, held.toArray, baseRep, unionRep)
  }

  private final class LongBuf {
    private var a = new Array[Long](1024)
    private var n = 0
    def add(x: Long, y: Long): Unit = {
      if (n + 2 > a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = x; a(n + 1) = y; n += 2
    }
    def get(i: Int): Long = a(i)
    def size: Int = n
    def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
  }
}

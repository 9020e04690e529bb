package graft

import graft.sim.{Ann, Ivf}
import org.apache.spark.sql.functions._

class IvfSpec extends GraftSpec {
  import spark.implicits._

  /** Same clustered generator as AnnSpec: nClusters gaussian centroids,
    * members = centroid + small deterministic perturbation, id % nClusters
    * encodes the true cluster.
    */
  private def clustered(n: Int, dim: Int, nClusters: Int) = {
    val rnd = new scala.util.Random(7)
    val centroids = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    (0 until n).map { i =>
      val c = centroids(i % nClusters)
      val noise = new scala.util.Random(1000 + i)
      (i.toLong, c.map(x => x + 0.05f * noise.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("trainCentroids is deterministic and returns unit-norm centroids") {
    val e = clustered(300, 16, 8)
    val a = Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 8)
    val b = Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 8)
    assert(a.length == 8)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    a.foreach { c =>
      val norm = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"non-unit centroid norm $norm")
    }
  }

  test("assignLists puts every id in exactly one list, lists cover the corpus") {
    val e = clustered(400, 16, 8)
    val cents = Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 8)
    val assign = Ivf.assignLists(e, "vec_id", "embedding", cents).collect()
    assert(assign.length == 400)
    assert(assign.map(_.getAs[Long]("id")).distinct.length == 400)
    assert(assign.forall { r =>
      val l = r.getAs[Int]("list_id"); l >= 0 && l < 8
    })
    // on well-separated clusters, cluster-mates land in the same list
    val byList = assign.groupBy(_.getAs[Int]("list_id"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("id") % 8).distinct.length }
    assert(byList.forall(_ == 1), "a trained list mixes true clusters")
  }

  test("nprobe = nlist probes everything: IVF result equals brute force exactly") {
    val e = clustered(250, 16, 5)
    val q = e.where(col("vec_id") < 8)
    val ivf = Ivf.ivfTopK(q, e, "vec_id", "embedding", k = 5,
        nlist = 8, nprobe = 8, corpusCount = 250)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val bf = Ann.bruteForceTopK(q, e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(ivf.toSeq == bf.toSeq)
  }

  test("clustered recall: small nprobe retrieves the brute-force neighbors") {
    val e = clustered(1000, 16, 8)
    val q = e.where(col("vec_id") < 20)
    val truth = Ann.bruteForceTopK(q, e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe=1 of 8 lists: on cleanly clustered data the single best list
    // holds the whole true neighborhood
    val got = Ivf.ivfTopK(q, e, "vec_id", "embedding", k = 10,
        nlist = 8, nprobe = 1, corpusCount = 1000)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall < 0.9")
  }

  test("index-reuse form matches the one-call form; empty lists are harmless") {
    val e = clustered(200, 8, 4)
    val q = e.where(col("vec_id") < 5)
    // nlist far above the cluster count leaves some lists empty
    val cents = Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 16)
    val assign = Ivf.assignLists(e, "vec_id", "embedding", cents)
    val a = Ivf.ivfTopKFromIndex(q, e, assign, cents, "vec_id", "embedding",
        k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    val b = Ivf.ivfTopK(q, e, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 4, corpusCount = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
  }

  test("incremental index maintenance: assigning only the delta matches a full rebuild") {
    val e = clustered(300, 16, 8)
    val base = e.where(col("vec_id") < 200)
    val delta = e.where(col("vec_id") >= 200)
    val cents = Ivf.trainCentroids(base, "vec_id", "embedding", nlist = 8)
    val full = Ivf.assignLists(e, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val incremental = Ivf.assignLists(base, "vec_id", "embedding", cents)
      .unionByName(Ivf.assignLists(delta, "vec_id", "embedding", cents))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(incremental.toSeq == full.toSeq)
    // and a search over the incrementally-maintained index matches one over
    // the rebuilt index
    val q = e.where(col("vec_id") < 5)
    val incIdx = Ivf.assignLists(base, "vec_id", "embedding", cents)
      .unionByName(Ivf.assignLists(delta, "vec_id", "embedding", cents))
    val a = Ivf.ivfTopKFromIndex(q, e, incIdx, cents, "vec_id", "embedding",
        k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    val b = Ivf.ivfTopKFromIndex(q, e,
        Ivf.assignLists(e, "vec_id", "embedding", cents), cents,
        "vec_id", "embedding", k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("kernel bit-parity: IvfAssign matches the Column-composed Dedup.cosine argmax exactly") {
    // the native kernel must agree bit-for-bit with the declarative form
    // the DuckDB oracle re-derives (same accumulation order, same
    // zero-denominator convention, same first-tie argmax)
    val e = clustered(150, 16, 8)
    val cents = Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 8)
    val kernel = Ivf.assignLists(e, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val v = col("embedding").cast("array<double>")
    val scores = array(cents.map(c =>
      graft.dedup.Dedup.cosine(v, typedLit(c.toSeq))): _*)
    val composed = e.select(col("vec_id"),
        (array_position(scores, array_max(scores)) - 1).cast("int").as("list_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(kernel.toSeq == composed.toSeq)
  }

  test("degenerate vectors (null/empty/all-zero) get a null list_id and never surface as candidates") {
    val e = clustered(60, 8, 4)
    val cents = Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 4)
    val weird = Seq(
      (1000L, null.asInstanceOf[Array[Float]]),
      (1001L, Array.empty[Float]),
      (1002L, Array.fill(8)(0.0f))
    ).toDF("vec_id", "embedding")
    val all = e.unionByName(weird)
    val assign = Ivf.assignLists(all, "vec_id", "embedding", cents)
    val bad = assign.where(col("id") >= 1000L).collect()
    assert(bad.length == 3)
    assert(bad.forall(_.isNullAt(1)), "degenerate vector got a non-null list_id")
    // and they never appear in a search result, even when a probed list is
    // short of k real members
    val q = e.where(col("vec_id") < 3)
    val res = Ivf.ivfTopKFromIndex(q, all, assign, cents, "vec_id", "embedding",
        k = 50, nprobe = 4)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(!res.exists(_ >= 1000L), "degenerate vector surfaced as a candidate")
  }

  test("duplicate-heavy sample: seeding stays index-distinct and training terminates") {
    // 2 distinct vectors × many copies, nlist well above the distinct count:
    // the greedy farthest-point pick hits all-zero max-min distances
    val dup = (0 until 40).map { i =>
      (i.toLong, if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
                 else Array(0.0f, 1.0f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val cents = Ivf.trainCentroids(dup, "vec_id", "embedding", nlist = 8)
    assert(cents.length == 8)
    // search still works end-to-end over the duplicate-heavy index
    val assign = Ivf.assignLists(dup, "vec_id", "embedding", cents)
    val res = Ivf.ivfTopKFromIndex(dup.where(col("vec_id") < 2), dup, assign,
      cents, "vec_id", "embedding", k = 3, nprobe = 8).collect()
    assert(res.length == 6)
  }

  test("production nlist: plan builds and executes in bounded time (O(1) plan size)") {
    // round-4 watch item: the per-centroid typedLit shape cost ~148 s of
    // analysis/codegen wall at nlist=1024×dim=768 (BENCH/BASELINE.md,
    // round-5 quiet-window section, plan-cost isolation paragraph); the
    // single-2-D-literal shape must keep an nlist=256 leg comfortably
    // inside a test budget
    val dim = 96
    val rnd = new scala.util.Random(3)
    val cents = Array.fill(256)(Array.fill(dim)(rnd.nextGaussian()))
    val e = (0 until 100).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val assign = Ivf.assignLists(e, "vec_id", "embedding", cents)
    assert(assign.count() == 100)
    // 100 rows over 256 lists: 8 probes surface only a handful of
    // candidates per query — assert coverage, not a full k
    val res = Ivf.ivfTopKFromIndex(e.where(col("vec_id") < 3), e, assign,
      cents, "vec_id", "embedding", k = 5, nprobe = 8).collect()
    assert(res.map(_.getLong(0)).distinct.length == 3, "a query got no candidates")
    assert(res.length <= 15)
    val wall = (System.nanoTime() - t0) / 1e9
    assert(wall < 60.0, s"nlist=256 leg took $wall s — plan size regression")
  }

  test("committed index: build + searchCommitted equals the in-memory index search") {
    val e = clustered(300, 16, 8)
    withTempDir("graft_ivf_idx") { root =>
      val cents = graft.sim.IvfIndex.build(spark, root, e, "vec_id", "embedding", 8)
      val q = e.where(col("vec_id") < 6)
      val a = graft.sim.IvfIndex.searchCommitted(spark, root, q, e,
          "vec_id", "embedding", k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
      val b = Ivf.ivfTopKFromIndex(q, e,
          Ivf.assignLists(e, "vec_id", "embedding", cents), cents,
          "vec_id", "embedding", k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted
      assert(a.nonEmpty && a.toSeq == b.toSeq)
    }
  }

  test("committed index: version gate — unknown wire version reads as absent; rebuild re-stamps") {
    val e = clustered(100, 8, 4)
    withTempDir("graft_ivf_ver") { root =>
      graft.sim.IvfIndex.build(spark, root, e, "vec_id", "embedding", 4)
      assert(graft.sim.IvfIndex.readCentroids(spark, root).isDefined)
      // a future writer bumps the wire version: this reader must refuse
      java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_commit.json"),
        """{"version":99,"nlist":4,"dim":8}""")
      assert(graft.sim.IvfIndex.readCentroids(spark, root).isEmpty)
      val ex = intercept[IllegalStateException] {
        graft.sim.IvfIndex.searchCommitted(spark, root,
          e.where(col("vec_id") < 2), e, "vec_id", "embedding", k = 3, nprobe = 2)
      }
      assert(ex.getMessage.contains("rebuild"))
      // recovery path: rebuild re-stamps the current version
      graft.sim.IvfIndex.build(spark, root, e, "vec_id", "embedding", 4)
      assert(graft.sim.IvfIndex.readCentroids(spark, root).isDefined)
    }
  }

  test("committed index: incremental append equals a full rebuild") {
    val e = clustered(300, 16, 8)
    val base = e.where(col("vec_id") < 200)
    val delta = e.where(col("vec_id") >= 200)
    withTempDir("graft_ivf_inc") { rootInc =>
      withTempDir("graft_ivf_full") { rootFull =>
        val cents = graft.sim.IvfIndex.build(spark, rootInc, base, "vec_id", "embedding", 8)
        graft.sim.IvfIndex.appendAssignments(rootInc,
          Ivf.assignLists(delta, "vec_id", "embedding", cents))
        graft.sim.IvfIndex.write(spark, rootFull, cents,
          Ivf.assignLists(e, "vec_id", "embedding", cents))
        val q = e.where(col("vec_id") < 6)
        def run(root: String) = graft.sim.IvfIndex.searchCommitted(spark, root, q, e,
            "vec_id", "embedding", k = 5, nprobe = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
        assert(run(rootInc) == run(rootFull))
      }
    }
  }

  test("autoNlist: power-of-two near sqrt(n), clamped") {
    assert(Ivf.autoNlist(0) == 4)
    assert(Ivf.autoNlist(100) == 16)
    assert(Ivf.autoNlist(1000000) == 1024)
    assert(Ivf.autoNlist(Long.MaxValue) == 1024)
  }
}

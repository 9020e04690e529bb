package graft

import graft.core.Tables
import graft.gen.CodeTableGen
import graft.suite.SuiteRunner
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** Physical-plan assertions: the optimizations the 100 TB framing depends on
  * must be visible in the executed plan, not assumed.
  */
class PlanSpec extends GraftSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning: stats query reads ONLY the aggregated columns from parquet") {
    val df = Tables.lineitem(spark, sfDir).agg(
      avg("l_quantity"), stddev_samp(col("l_extendedprice")))
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("l_quantity") && scan.contains("l_extendedprice"))
    // the 14-column table must NOT be fully materialized
    assert(!scan.contains("l_comment") && !scan.contains("l_shipdate") && !scan.contains("l_orderkey"),
      s"scan not pruned: $scan")
  }

  test("predicate pushdown: filters reach the parquet scan (PushedFilters)") {
    val df = Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") > 45).select("l_orderkey")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"),
      s"filter not pushed: $scan")
  }

  test("referential check plans a BroadcastHashJoin (dim side broadcast, no shuffle of facts)") {
    val code = CodeTableGen.generate(spark, 1000)
    val dim = CodeTableGen.repoLangDim(spark)
    val bad = code.join(broadcast(dim.select("repo", "lang").distinct()),
      Seq("repo", "lang"), "left_anti")
    val plan = executedPlan(bad)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join: $plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("whole-stage codegen covers the stats aggregation pipeline") {
    val df = Tables.lineitem(spark, sfDir).agg(
      sum(when(col("l_quantity") > 10, 1L).otherwise(0L)),
      avg("l_extendedprice"), min("l_discount"))
    df.collect() // finalize the adaptive plan — codegen spans appear post-exec
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(plan.contains("WholeStageCodegen"), s"no codegen span: $plan")
  }

  test("suite job 1 (KLL and frequent-items sketches) routes to ObjectHashAggregate") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try SuiteRunner.collectArtifacts(
      CodeTableGen.generate(spark, 4000, batches = 2), Seq(0L, 1L))
    finally spark.listenerManager.unregister(listener)
    // job 1 is the one aggregate holding the sketches; listener events
    // arrive asynchronously
    eventually(timeout(Span(30, Seconds))) {
      val job1 = plans.asScala.filter(_.contains("kll_sketch_agg"))
      assert(job1.size == 1, s"job-1 plans: $job1")
      assert(job1.head.contains("ObjectHashAggregate") && job1.head.contains("approx_top_k"),
        s"wrong agg exec: ${job1.head}")
    }
  }

  test("disk layout partitioned by batch_id prunes unread batches from the scan") {
    withTempDir("graft_prune") { tmp =>
      CodeTableGen.generate(spark, 5000, batches = 4)
        .write.partitionBy("batch_id").mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp).where(col("batch_id") === 3)
      val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
      // partition filter present; only 1 of 4 directory partitions selected
      assert(scan.contains("PartitionFilters") && scan.contains("batch_id"), scan)
      val parts = df.select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(parts.forall(_.contains("batch_id=3")), parts.mkString(","))
    }
  }

  test("distributed exact KS: every Window is partitioned — no single-partition window node") {
    val li = Tables.lineitem(spark, sfDir)
    val df = graft.drift.KsTest.ksMaxGapDf(li, Seq("l_quantity", "l_extendedprice"),
      col("l_shipdate") < "1998-01-01")
    val bare = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty, "partition-less Window found in the KS plan")
    assert(df.collect().length == 2) // one max-gap row per column
  }

  test("exact KS plan: single shuffle on distinct values, window over grouped counts only") {
    val li = Tables.lineitem(spark, sfDir)
    val clean = li.select(col("l_quantity").cast("double").as("v"),
      when(col("l_shipdate") < "1998-01-01", 1L).otherwise(0L).as("s1"),
      when(col("l_shipdate") < "1998-01-01", 0L).otherwise(1L).as("s2"))
    val counts = clean.groupBy("v").agg(sum("s1").as("c1"), sum("s2").as("c2"))
    val plan = counts.queryExecution.executedPlan.toString
    // partial aggregation happens map-side before the exchange
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Exchange"), plan)
  }

  test("IVF: centroid assignment and probe selection are shuffle-free narrow passes") {
    val e = Tables.embeddings(spark, sfDir)
    val cents = graft.sim.Ivf.trainCentroids(e, "vec_id", "embedding", nlist = 4)
    // the corpus-side index build: one codegen'd projection, no Exchange
    val assign = graft.sim.Ivf.assignLists(e, "vec_id", "embedding", cents)
    val aPlan = assign.queryExecution.executedPlan.toString
    assert(!aPlan.contains("Exchange"), s"assignment shuffles: $aPlan")
    assert(aPlan.contains("Project"), aPlan)
    // the query-side probe build (array-local centroid sort + explode):
    // everything before the candidate join is narrow too
    val probes = graft.sim.Ivf.ivfTopKFromIndex(
        e.where(col("vec_id") < 5), e, assign, cents,
        "vec_id", "embedding", k = 3, nprobe = 2)
      .queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
    assert(probes.nonEmpty, "probe explode missing from the IVF plan")
  }

  test("committed IVF index: search scans ONLY the probed list_id directories") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val cdirs = Array.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val e = (0 until 400).map { i =>
      val c = cdirs(i % 8)
      val noise = new scala.util.Random(2000 + i)
      (i.toLong, c.map(x => x + 0.05f * noise.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    withTempDir("graft_ivf_prune") { root =>
      val cents = graft.sim.IvfIndex.build(spark, root, e, "vec_id", "embedding", 8)
      val q = e.where(col("vec_id") === 0L)
      val res = graft.sim.IvfIndex.searchCommitted(spark, root, q, e,
        "vec_id", "embedding", k = 5, nprobe = 2)
      // 1) the static partition filter is on the scan
      val planStr = res.queryExecution.executedPlan.toString
      assert(planStr.contains("PartitionFilters") && planStr.contains("list_id"),
        s"no list_id partition filter on the committed-index scan: $planStr")
      // 2) physical proof: corrupt every UNPROBED list's parquet files — if
      // pruning is real the search never opens them and still succeeds; a
      // full scan would die on the garbage footer
      val probed = graft.sim.Ivf.probeTable(q, cents, "vec_id", "embedding", 2)
        .select("list_id").distinct().collect().map(_.getInt(0)).toSet
      assert(probed.size == 2)
      val assignDir = java.nio.file.Paths.get(root, "assign")
      var corrupted = 0
      java.nio.file.Files.list(assignDir).forEach { d =>
        val name = d.getFileName.toString
        if (name.startsWith("list_id=") &&
            !probed.contains(name.stripPrefix("list_id=").toInt)) {
          java.nio.file.Files.list(d).forEach { f =>
            if (f.getFileName.toString.endsWith(".parquet")) {
              java.nio.file.Files.write(f, "not parquet".getBytes)
              corrupted += 1
            }
          }
        }
      }
      assert(corrupted > 0, "nothing to corrupt — every list was probed")
      val rows = res.collect()
      assert(rows.length == 5, "pruned search failed or lost candidates")
      // control: the corrupted partitions really are unreadable
      intercept[Exception] {
        graft.sim.IvfIndex.readAssignments(spark, root).count()
      }
    }
  }
}

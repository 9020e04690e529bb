package graft

import graft.dedup.Components
import graft.drift.Drift
import graft.gen.CodeTableGen
import graft.suite.SuiteRunner
import graft.tableio.ParquetTableIO
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Scale evidence as assertions: the job count of the hot paths must be
  * BOUNDED — independent of column width (Drift.detect) and of how many
  * batches are pending (the suite). A per-column or per-batch job loop is
  * exactly the pattern that dies at 100× scale.
  */
class JobCountSpec extends GraftSpec {

  private def countJobs(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("Drift.detect: job count is CONSTANT in column count (no per-column fan-out)") {
    // Note: under AQE every shuffle-stage materialization is its own job,
    // so the absolute number reflects stages (measured 17 — detect's
    // two-phase categorical top-K adds two window stages), not actions
    // (5). The scale property is that the count does NOT grow with width:
    // the old implementation ran 2 + 2·#columns scans.
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val isBase = col("l_shipdate") < lit("1998-01-01").cast("timestamp")
    val n4 = countJobs("detect4") {
      Drift.detect(li, Seq("l_quantity", "l_extendedprice", "l_discount"),
        Seq("l_returnflag"), isBase)
    }
    val n8 = countJobs("detect8") {
      Drift.detect(li, Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_orderkey", "l_partkey"), Seq("l_returnflag", "l_linestatus"), isBase)
    }
    assert(n8 <= n4, s"jobs grew with column count: $n4 (4 cols) -> $n8 (8 cols)")
    assert(n4 <= 19, s"detect with 4 columns ran $n4 jobs")
  }

  test("standalone PSI: job count is CONSTANT in column count (multi forms share one melt)") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val isBase = col("l_shipdate") < lit("1998-01-01").cast("timestamp")
    val n1 = countJobs("psi1") {
      Drift.psiNumericMulti(li, Seq("l_quantity"), isBase)
    }
    val n3 = countJobs("psi3") {
      Drift.psiNumericMulti(li, Seq("l_quantity", "l_extendedprice", "l_discount"), isBase)
    }
    assert(n3 <= n1, s"numeric PSI jobs grew with column count: $n1 (1 col) -> $n3 (3 cols)")
    val c1 = countJobs("psic1") {
      Drift.psiCategoricalMulti(li, Seq("l_returnflag"), isBase)
    }
    val c2 = countJobs("psic2") {
      Drift.psiCategoricalMulti(li, Seq("l_returnflag", "l_linestatus"), isBase)
    }
    assert(c2 <= c1, s"categorical PSI jobs grew with column count: $c1 (1 col) -> $c2 (2 cols)")
  }

  test("suite: job count does not grow with the number of pending batches") {
    val code2 = CodeTableGen.generate(spark, 8000, batches = 2).cache()
    val code4 = CodeTableGen.generate(spark, 8000, batches = 4).cache()
    val dim = CodeTableGen.repoLangDim(spark)
    def run(name: String, df: org.apache.spark.sql.DataFrame): Int = countJobs(name) {
      withTempDir(name) { tmp =>
        SuiteRunner.run(spark, df, dim, new ParquetTableIO(tmp))
      }
    }
    val j2 = run("suite2", code2)
    val j4 = run("suite4", code4)
    code2.unpersist(); code4.unpersist()
    // AQE can add a small data-dependent number of stages; the assertion is
    // that doubling the batch count does NOT double the job count
    assert(j4 <= j2 + 2, s"suite jobs grew with batches: $j2 (2 batches) -> $j4 (4 batches)")
  }

  test("suite: at most 23 jobs for 4 pending batches under session defaults") {
    // Left at the session defaults (AQE on), every shuffle stage, broadcast
    // and write is its own job. The count per call: no batch listing (the
    // committed-batch metadata prunes the input, and the artifacts scan
    // names the pending batches), the artifacts scan and the grouping-sets
    // marginals, ONE per-batch aggregate for the uniqueness and referential
    // counts and samples and the repo top-k (its stages: the candidate-hash
    // count, the semi-join, the dup groups, the referential broadcast and
    // groups, the repo counts and the final aggregate), one job per audit
    // table written from the driver (repo_metrics included), and lineage.
    // A table written from the cluster re-plans its chain inside the write
    // and breaks the bound.
    val code4 = CodeTableGen.generate(spark, 8000, batches = 4).cache()
    val dim = CodeTableGen.repoLangDim(spark)
    val jobs = countJobs("suite4-abs") {
      withTempDir("suite4-abs") { tmp =>
        SuiteRunner.run(spark, code4, dim, new ParquetTableIO(tmp))
      }
    }
    code4.unpersist()
    assert(jobs <= 23, s"suite ran $jobs jobs for 4 pending batches")
  }

  test("audit writes: writeAllPartitions and writePartition start no job; a suite call runs at most 14") {
    // the TableIO writes driver-built frames from the driver: the suite's
    // 9 audit-table jobs are gone, and what is left is the artifacts scan,
    // the marginals, and the per-batch aggregate's stages
    import spark.implicits._
    withTempDir("audit-writes") { tmp =>
      val io = new ParquetTableIO(tmp)
      val keys = Seq((0L, """{"repo":"r","path":"p","commit":"c"}"""), (1L, """{"repo":"s"}"""))
        .toDF("batch_id", "key_json")
        .select(col("batch_id"), from_json(col("key_json"), "repo STRING, path STRING, commit STRING",
          Map.empty[String, String]).as("k"))
        .select(col("batch_id"), col("k.repo").as("repo"), col("k.path").as("path"))
      val writes = countJobs("audit-write") {
        io.writeAllPartitions(keys, "t")
        io.writePartition(keys.limit(0).drop("batch_id"), "t", 2L)
        io.writePartition(Seq(("x", "y")).toDF("repo", "path"), "t", 0L)
      }
      assert(writes == 0, s"audit writes ran $writes jobs")
      (0L to 2L).foreach(p => io.commit("t", p, "{}"))
      assert(io.readCommitted(spark, "t").get.orderBy("batch_id").collect().map(_.mkString(",")).toSeq ==
        Seq("x,y,0", "s,null,1"))
    }
    val code4 = CodeTableGen.generate(spark, 8000, batches = 4).cache()
    val dim = CodeTableGen.repoLangDim(spark)
    val jobs = countJobs("suite4-driver-writes") {
      withTempDir("suite4-driver-writes") { tmp =>
        SuiteRunner.run(spark, code4, dim, new ParquetTableIO(tmp))
      }
    }
    code4.unpersist()
    assert(jobs <= 14, s"suite ran $jobs jobs for 4 pending batches")
  }

  test("audit reads: readCommitted starts no job; a monitor round starts 2") {
    // each table's schema is recorded when it is written, so the read needs
    // no inference job; hotRepos and ksBetweenBatches are one collect each
    val code4 = CodeTableGen.generate(spark, 8000, batches = 4).cache()
    val dim = CodeTableGen.repoLangDim(spark)
    withTempDir("audit-jobs") { tmp =>
      val io = new ParquetTableIO(tmp)
      SuiteRunner.run(spark, code4, dim, io)
      code4.unpersist()
      val reads = countJobs("audit-read") {
        Seq("verdicts", "artifacts").foreach(t => assert(io.readCommitted(spark, t).nonEmpty))
      }
      assert(reads == 0, s"readCommitted ran $reads jobs")
      val monitor = countJobs("audit-monitor") {
        assert(graft.audit.AuditQueries.hotRepos(spark, io, 800L).exists(_.nonEmpty))
        assert(graft.audit.AuditQueries.ksBetweenBatches(spark, io, 0L, 3L).nonEmpty)
      }
      assert(monitor == 2, s"hotRepos + ksBetweenBatches ran $monitor jobs")
    }
  }

  test("connected components: one action per round (signature materializes the lazy checkpoint)") {
    // Per round the solver runs ONE driver action — the signature collect,
    // which also materializes that round's lazy checkpoint; a dedicated
    // checkpoint job per round was pure fixed cost at the latency floor.
    // AQE is disabled for the solve so one action = one job, and
    // auto-broadcast too (at tiny test scale the static planner would
    // broadcast the mins side, and every BroadcastExchange materialization
    // is its own collect job; at real scale mins is never broadcastable).
    // The law is then exact: 1 base-signature job + 1 per round + 1 final
    // star-forest materialization. The old eager-checkpoint shape ran
    // 2 · rounds + 2.
    import spark.implicits._
    val chain = (0L until 64L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id1", "id2")
    val sc = spark.sparkContext
    val aqeKey = "spark.sql.adaptive.enabled"
    val abKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqePrev = spark.conf.get(aqeKey)
    val abPrev = spark.conf.get(abKey)
    spark.conf.set(aqeKey, "false")
    spark.conf.set(abKey, "-1")
    sc.setJobGroup("cc-jobs", "cc-jobs")
    val rounds =
      try graft.dedup.Components.connectedComponentsWithRounds(chain)._2
      finally {
        sc.clearJobGroup()
        spark.conf.set(aqeKey, aqePrev); spark.conf.set(abKey, abPrev)
      }
    val jobs = sc.statusTracker.getJobIdsForGroup("cc-jobs").length
    assert(rounds >= 3, s"chain of 64 should need several rounds, took $rounds")
    assert(jobs <= rounds + 2,
      s"components ran $jobs jobs over $rounds rounds — expected one action per round")
  }

  private def chainAndHub = {
    import spark.implicits._
    val chain = (0L until 64L).sliding(2).map(s => (s(0), s(1))).toSeq
    val hub = (1L to 300L).map(i => (1000L, 1000L + i))
    (chain ++ hub :+ ((63L, 1300L))).toDF("id1", "id2")
  }

  test("connected components under default AQE + auto-broadcast: at most 4 jobs per round") {
    // Left at the session defaults, every shuffle stage and every broadcast
    // is its own job. A round is three shuffle stages (large star, small
    // star, the round's distinct) plus the result job that materializes
    // the lazy checkpoint and folds the convergence signature; the constant
    // covers the base edge set (its distinct + signature) and the final
    // star-forest join (node distinct, the join's exchanges or broadcast,
    // its checkpoint job). A join-back or a separate signature aggregate in
    // the round would cost jobs per round and break the bound.
    var rounds = 0
    val jobs = countJobs("cc-jobs-aqe") {
      rounds = Components.connectedComponentsWithRounds(chainAndHub)._2
    }
    assert(rounds >= 3, s"chain + hub should need several rounds, took $rounds")
    assert(jobs <= 4 * rounds + 6,
      s"components ran $jobs jobs over $rounds rounds — expected at most 4 per round + 6")
  }

  test("connected components: one round's final plan is one shuffle per star plus the distinct") {
    // the AQE final plan at the session defaults: no second exchange in a
    // star and nothing broadcast
    val canonical = chainAndHub
      .select(greatest(col("id1"), col("id2")).as("u"), least(col("id1"), col("id2")).as("v"))
      .distinct().localCheckpoint()
    val round = Components.round(canonical)
    round.collect() // runs round.queryExecution, so its AQE plan is final
    object plans extends AdaptiveSparkPlanHelper
    val plan = round.queryExecution.executedPlan
    val shuffles = plans.collect(plan) { case e: ShuffleExchangeLike => e }
    val broadcasts = plans.collect(plan) { case e: BroadcastExchangeLike => e }
    assert(shuffles.size == 3 && broadcasts.isEmpty,
      s"one round planned ${shuffles.size} shuffles and ${broadcasts.size} broadcasts:\n$plan")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-6 EXTRA benchmarks — separate main so the frozen driver contract
  * ([[Bench]]) stays byte-identical. Three jobs:
  *
  *  1. SELF-ADJUDICATION (VERDICT r5 task 1): the emitted JSON carries
  *     /proc/loadavg before/after and a ~2 s single-thread CPU micro-stamp,
  *     so a loaded host window is detectable from the artifact alone —
  *     BENCH_r05's 2.9× headline swing could only be exonerated by side
  *     logs.
  *  2. noop-sink isolation (guide §1.4) of the heavy per-operator legs,
  *     min-of-N, cold JIT excluded — the per-change evidence cited in
  *     OPTIMIZATION_r06.md.
  *  3. A connected-components leg at real scale (VERDICT r5 task 4): a
  *     synthesized 10^6-edge graph with a planted mega-hub (star of 10^5
  *     spokes), timed cold/warm with the round count implied by the
  *     solver's convergence (hub safety = the large-star contraction).
  *
  * Emits ONE JSON line and writes BENCH/bench_extra_r6.json. Not part of
  * the driver contract; writes no oracle dumps.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadavg(): String =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // single-thread CPU micro-stamp: a fixed sha256 kernel on ONE core —
    // ambient load shows up as a raised stamp even when loadavg looks calm
    def cpuStamp(): Double = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var buf = Array.fill[Byte](64)(7)
      time { var i = 0; while (i < 3000000) { buf = md.digest(buf); i += 1 } }
    }

    val loadBefore = loadavg()
    val stampBefore = cpuStamp()

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // min-of-N noop-isolated per-operator legs (cold JIT excluded)
    val Legs = Seq("q_ks_statistic", "q_drift_stats", "q_psi",
      "q_minhash_pairs", "q_simhash_pairs", "q_token_stats", "q_langid",
      "q_dedup_exact", "q_news_pipeline", "q_join_enrich")
    Legs.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        spark.sparkContext.setJobDescription(s"extra:$name")
        def once(): Double = {
          spark.catalog.clearCache()
          time(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
        }
        try {
          once() // warm-up
          results(name) = (1 to runs).map(_ => once()).min
        } catch { case e: Throwable =>
          System.err.println(s"EXTRA WARNING: $name failed: ${e.getMessage}")
          results(name) = -1.0
        }
      }
    }

    // connected components at 10^6 edges with a planted mega-hub:
    // ~450k random chain/cross edges over 1M nodes + a 100k-spoke star
    spark.sparkContext.setJobDescription("extra:components_1m_edges")
    val edges = spark.range(0, 900000).select(
        pmod(xxhash64(col("id"), lit(1)), lit(1000000)).as("id1"),
        pmod(xxhash64(col("id"), lit(2)), lit(1000000)).as("id2"))
      .unionAll(spark.range(0, 100000).select(
        lit(0L).as("id1"), (col("id") + 1000000).as("id2")))
      .persist()
    edges.count()
    def componentsOnce(): Double = {
      val t = time {
        val cc = graft.dedup.Components.connectedComponents(edges)
        cc.write.mode("overwrite").format("noop").save()
      }
      t
    }
    results("components_1m_edges") = componentsOnce()
    results("components_1m_edges_warm") = componentsOnce()
    edges.unpersist()

    // exact quota sampling over the 8M bench code table (the paired
    // 8↔32 scaling leg for G3 — run this main at SPARK_GRAFT_CPUS=8 and
    // =32 on the same pinned input, VERDICT r5 task 6). Deterministic:
    // hash-ranked two-phase bucketed cut, no randomness.
    val codeInput = sys.env.getOrElse("SPARK_GRAFT_INPUT",
      "/tmp/graft_bench_input_8000000")
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(codeInput))) {
      spark.sparkContext.setJobDescription("extra:quota_8m")
      val code = spark.read.parquet(codeInput)
      val langs = code.select("lang").distinct()
        .collect().map(_.getString(0)).toSeq
      val quotas = langs.map(l => l -> 100000L).toMap
      def quotaOnce(): Double = {
        spark.catalog.clearCache()
        time {
          sample.Sampling.quotaByHash(code, "lang", quotas,
            Seq("repo", "path", "commit"), buckets = 64)
            .write.mode("overwrite").format("noop").save()
        }
      }
      results("quota_8m") = quotaOnce()
      results("quota_8m_warm") = quotaOnce()
    }

    val stampAfter = cpuStamp()
    val loadAfter = loadavg()
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val json = s"""{"metric":"bench_extra_r6","queries":$qs,""" +
      s""""loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
      s""""cpu_stamp_before_sec":${num(stampBefore)},"cpu_stamp_after_sec":${num(stampAfter)},""" +
      s""""sf":"$sfDir","cpus":$cpus,"runs":$runs}"""
    val outDir = java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."), "BENCH")
    java.nio.file.Files.createDirectories(outDir)
    java.nio.file.Files.writeString(
      outDir.resolve(s"bench_extra_r6_cpus$cpus.json"), json + "\n")
    spark.stop()
    println(json)
  }
}

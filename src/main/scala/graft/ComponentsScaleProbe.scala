package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Connected-components THROUGHPUT leg (closes the honest gap in the
  * round-6 8↔32 scaling block): at 10^6 edges the solve is round-LATENCY
  * bound (~fixed checkpoint+shuffle latency × ~10 rounds) and shows no
  * core-count speedup, so a scaling verdict for G1 needs an edge set big
  * enough that per-round shuffle THROUGHPUT dominates. This probe
  * synthesizes `SPARK_GRAFT_CC_EDGES` (default 3×10^7) random edges over a
  * node id space of the same size — a supercritical random graph: one giant
  * component plus small fragments, the worst realistic case for round
  * count — plus a planted mega-hub star with edges/10 spokes, and times the
  * full solve (noop sink) cold + warm at the current core count.
  *
  * Run at SPARK_GRAFT_CPUS=8 and =32 on the same edge spec; emits ONE JSON
  * line with loadavg before/after and the single-thread CPU micro-stamp
  * (the BenchExtra self-adjudication protocol) and writes
  * BENCH/components_scale_r6_cpus<cpus>.json. Not part of the driver
  * contract; writes no oracle dumps.
  */
object ComponentsScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nEdges = sys.env.getOrElse("SPARK_GRAFT_CC_EDGES", "30000000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-components-scale")
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
    def cpuStamp(): Double = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var buf = Array.fill[Byte](64)(7)
      time { var i = 0; while (i < 3000000) { buf = md.digest(buf); i += 1 } }
    }

    val loadBefore = loadavg()
    val stampBefore = cpuStamp()

    // deterministic supercritical random graph + a mega-hub star; persisted
    // and counted so the timed solve never re-generates its input
    val hub = nEdges / 10
    spark.sparkContext.setJobDescription(s"cc-scale: gen $nEdges edges")
    val edges = spark.range(0, nEdges - hub).select(
        pmod(xxhash64(col("id"), lit(1)), lit(nEdges)).as("id1"),
        pmod(xxhash64(col("id"), lit(2)), lit(nEdges)).as("id2"))
      .unionAll(spark.range(0, hub).select(
        lit(0L).as("id1"), (col("id") + nEdges).as("id2")))
      .persist()
    val edgeRows = edges.count()

    var rounds = 0
    def solveOnce(label: String): Double = {
      spark.sparkContext.setJobDescription(s"cc-scale: $label")
      time {
        val (cc, it) = graft.dedup.Components.connectedComponentsWithRounds(edges)
        rounds = it
        cc.write.mode("overwrite").format("noop").save()
      }
    }
    val cold = solveOnce("solve cold")
    val warm = solveOnce("solve warm")
    edges.unpersist()

    val stampAfter = cpuStamp()
    val loadAfter = loadavg()
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val json = s"""{"metric":"components_scale_r6","edges":$edgeRows,""" +
      s""""rounds":$rounds,"solve_cold_sec":${num(cold)},"solve_warm_sec":${num(warm)},""" +
      s""""loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
      s""""cpu_stamp_before_sec":${num(stampBefore)},"cpu_stamp_after_sec":${num(stampAfter)},""" +
      s""""cpus":$cpus}"""
    val outDir = java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."), "BENCH")
    java.nio.file.Files.createDirectories(outDir)
    java.nio.file.Files.writeString(
      outDir.resolve(s"components_scale_r6_cpus$cpus.json"), json + "\n")
    spark.stop()
    println(json)
  }
}

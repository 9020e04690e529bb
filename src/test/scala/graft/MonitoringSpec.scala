package graft

import graft.suite.Monitoring
import org.apache.spark.sql.functions._

/** Laws for the freshness metric: the watermark-holding group is always
  * fresh with staleness 0, staleness equals a driver-side recompute, and
  * the result is partitioning-invariant (closed-set determinism).
  */
class MonitoringSpec extends GraftSpec {
  import spark.implicits._

  private lazy val events = Seq(
    ("a", "2024-01-10 00:00:00"), ("a", "2024-01-15 12:00:00"),
    ("b", "2024-01-14 11:59:30"), ("b", "2024-01-01 00:00:00"),
    ("c", "2024-01-02 08:00:00")
  ).toDF("event_type", "s").select(col("event_type"),
    to_timestamp(col("s")).as("ts"))

  test("watermark group is fresh with staleness 0; thresholds cut correctly") {
    val f = Monitoring.freshness(events, "ts", Seq("event_type"), 86400L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("staleness_sec"), r.getAs[Boolean]("fresh"))).toMap
    assert(f("a") == (0L, true))                 // holds the max ts
    assert(f("b") == (86430L, false))            // 1 day + 30 s stale
    assert(f("c") == (1137600L, false))          // 13.17 days stale
    // a looser threshold flips b but not c
    val loose = Monitoring.freshness(events, "ts", Seq("event_type"), 90000L)
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("fresh")).toMap
    assert(loose("b") && !loose("c"))
  }

  test("volume anomaly: spike flagged, insufficient history and constant history unjudged") {
    val counts = ((1 to 10).map(d => (f"2024-01-$d%02d", 100L)) :+
      ("2024-01-11", 1000L)) :+ ("2024-01-12", 103L)
    val df = Monitoring.volumeAnomaly(
      counts.toDF("day", "n_rows"), "day", "n_rows", trailing = 7, zThreshold = 3.0)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5))).toMap
    // first 7 days: no full trailing window → null z, never flagged
    (1 to 7).foreach(d => assert(df(f"2024-01-$d%02d") == (None, false)))
    // days 8-10: full history but constant (std 0) → unjudged by design
    (8 to 10).foreach(d => assert(df(f"2024-01-$d%02d") == (None, false)))
    // day 11: 1000 vs flat-100 history — still std 0 → unjudged
    assert(df("2024-01-11") == (None, false))
    // day 12: history now has variance (the spike is IN the window) and
    // 103 is close to most of it → judged, not anomalous
    assert(df("2024-01-12")._1.isDefined && !df("2024-01-12")._2)
  }

  test("volume anomaly: true spike against noisy history is flagged, normal day is not") {
    val noisy = Seq(100L, 104L, 97L, 101L, 99L, 103L, 98L).zipWithIndex
      .map { case (n, i) => (f"2024-02-${i + 1}%02d", n) } ++
      Seq(("2024-02-08", 500L), ("2024-02-09", 101L))
    val df = Monitoring.volumeAnomaly(
      noisy.toDF("day", "n_rows"), "day", "n_rows", trailing = 7)
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(df("2024-02-08"), "spike not flagged")
    assert(!df("2024-02-01") && !df("2024-02-07"))
  }

  test("partitioning invariance (closed-set determinism)") {
    val base = Monitoring.freshness(events, "ts", Seq("event_type"), 86400L)
      .orderBy("event_type").collect().toSeq
    val reparted = Monitoring.freshness(events.repartition(7), "ts",
      Seq("event_type"), 86400L).orderBy("event_type").collect().toSeq
    assert(base == reparted)
  }

  test("freshness scans its input ONCE (watermark rides the grouped agg)") {
    // the watermark branch must reuse the per-group aggregate's exchange,
    // not re-scan the input: with a file-backed table the executed plan
    // carries exactly one live parquet scan (the second reference resolves
    // to a ReusedExchange / reused query stage)
    withTempDir("graft_fresh_scan") { dir =>
      events.write.mode("overwrite").parquet(dir)
      val onDisk = spark.read.parquet(dir)
      val f = Monitoring.freshness(onDisk, "ts", Seq("event_type"), 86400L)
      f.collect() // finalize the (adaptive) plan so reuse is visible
      // AdaptiveSparkPlan.toString prints BOTH the final and the initial
      // plan; only the final section (before the initial-plan marker) shows
      // what actually executed
      val plan = f.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val scans = "FileScan parquet".r.findAllIn(plan).size
      assert(scans == 1,
        s"freshness re-scans its input: $scans parquet scans in the final plan\n$plan")
    }
  }
}

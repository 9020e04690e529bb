package graft

import graft.streaming.DriftStream
import graft.streaming.DriftStream.{DriftAlert, SensorEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends GraftSpec {
  import spark.implicits._

  private def runStream(events: Seq[SensorEvent]): Seq[DriftAlert] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[SensorEvent]
    val out = DriftStream.countWindowDrift(mem.toDS())
    val qname = s"drift_out_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(qname).start()
    try {
      mem.addData(events)
      q.processAllAvailable()
      spark.table(qname).as[DriftAlert].collect().toSeq
    } finally q.stop()
  }

  test("golden: 6 unusual in a 50-event window fires drift (0.12 > 0.10, sensor.py:175)") {
    val ev = (1 to 50).map(i => SensorEvent("traffic", i, unusual = i <= 6))
    val alerts = runStream(ev)
    assert(alerts.size == 1)
    assert(alerts.head.drift_detected)
    assert(math.abs(alerts.head.unusual_ratio - 0.12) < 1e-12)
  }

  test("golden: 5 unusual does NOT fire (strict >, 0.10 is not > 0.10)") {
    val ev = (1 to 50).map(i => SensorEvent("traffic", i, unusual = i <= 5))
    val alerts = runStream(ev)
    assert(alerts.size == 1)
    assert(!alerts.head.drift_detected)
    assert(alerts.head.unusual_ratio == 0.10)
  }

  test("window resets after completion; state spans micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[SensorEvent]
    val out = DriftStream.countWindowDrift(mem.toDS())
    val qname = s"drift_out_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(qname).start()
    try {
      // 120 events across two micro-batches: windows complete at 50 and 100
      mem.addData((1 to 70).map(i => SensorEvent("env", i, unusual = i <= 10)))
      q.processAllAvailable()
      mem.addData((71 to 120).map(i => SensorEvent("env", i, unusual = false)))
      q.processAllAvailable()
      val alerts = spark.table(qname).as[DriftAlert].collect().sortBy(_.window_end_seq)
      assert(alerts.length == 2)
      assert(alerts(0).window_end_seq == 50 && alerts(0).drift_detected) // 10/50 = 0.2
      assert(alerts(1).window_end_seq == 100 && !alerts(1).drift_detected) // 0/50 after reset
    } finally q.stop()
  }

  test("per-key isolation: windows are independent across sensor types") {
    val ev = (1 to 50).map(i => SensorEvent("traffic", i, unusual = true)) ++
      (1 to 50).map(i => SensorEvent("water", i, unusual = false))
    val alerts = runStream(ev)
    assert(alerts.size == 2)
    assert(alerts.find(_.sensor_type == "traffic").get.drift_detected)
    assert(!alerts.find(_.sensor_type == "water").get.drift_detected)
  }

  private def runGrowing(batches: Seq[Seq[SensorEvent]]): Seq[DriftAlert] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[SensorEvent]
    val out = DriftStream.countWindowDriftGrowing(mem.toDS())
    val qname = s"drift_grow_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(qname).start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      spark.table(qname).as[DriftAlert].collect().toSeq.sortBy(_.window_end_seq)
    } finally q.stop()
  }

  test("golden trace (sensor.py:178-194): 6 unusual at event 50 fires AND resets") {
    // 6 unusual in the first 50 → fires exactly at seq 50, window resets;
    // the next 50 clean events then fire nothing
    val ev = (1 to 100).map(i => SensorEvent("traffic", i, unusual = i <= 6))
    val alerts = runGrowing(Seq(ev))
    assert(alerts.map(a => (a.window_end_seq, a.unusual_ratio, a.drift_detected)) ==
      Seq((50L, 0.12, true)))
  }

  test("golden trace: 5 unusual does not fire; window GROWS with denominator 50") {
    // 5 unusual in events 1..50: no fire at 50 (0.10 not > 0.10). The 6th
    // unusual arrives at seq 60 → ratio = 6/50 = 0.12 over the GROWN window
    // of 60 events → fires at 60, not at a tumbled boundary
    val ev = (1 to 120).map(i => SensorEvent("env", i, unusual = i <= 5 || i == 60))
    val alerts = runGrowing(Seq(ev))
    assert(alerts.map(a => (a.window_end_seq, a.unusual_ratio, a.drift_detected)) ==
      Seq((60L, 0.12, true)))
  }

  test("golden trace: reset-only-on-drift state spans micro-batches") {
    // batch 1 ends mid-window (no fire: only 5 unusual by event 70);
    // batch 2 brings the 6th unusual at 90 → fire at 90; then 6 more
    // unusual at 140..145 → second fire at 145 (window restarted at 91)
    val b1 = (1 to 70).map(i => SensorEvent("water", i, unusual = i <= 5))
    val b2 = (71 to 150).map(i => SensorEvent("water", i,
      unusual = i == 90 || (140 to 145).contains(i)))
    val alerts = runGrowing(Seq(b1, b2))
    assert(alerts.map(a => (a.window_end_seq, a.drift_detected)) ==
      Seq((90L, true), (145L, true)))
    assert(alerts.forall(a => math.abs(a.unusual_ratio - 0.12) < 1e-12))
  }

  test("batch analog growingWindowDrift equals the streaming trace") {
    import graft.streaming.DriftStream.KeyedEvent
    val ev = ((1 to 120).map(i => KeyedEvent("a", i.toLong, 0L, i <= 5 || i == 60)) ++
      (1 to 50).map(i => KeyedEvent("b", i.toLong, 0L, i <= 6))).toDS()
    val fires = DriftStream.growingWindowDrift(ev).collect()
      .map(f => (f.event_type, f.fire_rn, f.unusual_count)).sortBy(x => (x._1, x._2)).toSeq
    assert(fires == Seq(("a", 60L, 6L), ("b", 50L, 6L)))
  }

  test("T5 trigger cadence/backpressure: file source rate-limited to one file per micro-batch") {
    withTempDir("graft_stream_in") { dir =>
      (0 until 3).foreach { i =>
        Seq((i.toLong, s"t$i")).toDF("id", "s").coalesce(1)
          .write.mode("append").parquet(dir)
      }
      val stream = spark.readStream.schema("id BIGINT, s STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val qname = s"rate_${System.nanoTime()}"
      val q = stream.writeStream.outputMode("append").format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try {
        assert(q.awaitTermination(120000), "AvailableNow query must drain and stop")
        assert(spark.table(qname).count() == 3)
        // backpressure analog: the 3 input files must arrive in >= 3 rate-
        // limited micro-batches, not one big batch
        assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
          s"expected >=3 micro-batches, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
      } finally q.stop()
    }
  }

  test("T5 wall-clock cadence: ProcessingTime trigger paces the drain to the poll interval") {
    // the reference's news monitor polls on a fixed 60 s cadence
    // (news.py:25, 543-544); the Structured Streaming analog is a
    // ProcessingTime trigger. 4 pre-existing files × maxFilesPerTrigger=1
    // force 4 non-empty micro-batches. Progress-report timestamp gaps are
    // deliberately NOT asserted — they compress under host load (observed
    // 433/297 ms gaps at a 700 ms interval) — while the total drain time
    // under OUR OWN clock can only grow with load, never shrink below the
    // trigger pacing. Batch 0 fires immediately at an arbitrary clock
    // offset and batches 1..3 sit on successive epoch-aligned boundaries,
    // so the guaranteed floor is 2 FULL intervals (batch1→batch3), however
    // close the start was to its first boundary.
    withTempDir("graft_stream_pt") { dir =>
      (0 until 4).foreach { i =>
        Seq((i.toLong, s"t$i")).toDF("id", "s").coalesce(1)
          .write.mode("append").parquet(dir)
      }
      val stream = spark.readStream.schema("id BIGINT, s STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val qname = s"cadence_${System.nanoTime()}"
      val t0 = System.nanoTime()
      val q = stream.writeStream.outputMode("append").format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second")).start()
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (spark.table(qname).count() < 4 && System.nanoTime() < deadline)
          Thread.sleep(100)
        val drainMs = (System.nanoTime() - t0) / 1000000
        assert(spark.table(qname).count() == 4, "all 4 files must drain")
        assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
          "rate limit must split the drain into >= 4 non-empty micro-batches")
        // guaranteed floor 2000 ms; 1500 leaves 25% slack for clock skew
        assert(drainMs >= 1500,
          s"4 rate-limited batches drained in ${drainMs} ms — not paced by the 1 s trigger")
      } finally q.stop()
    }
  }

  test("tumbling 5-minute window aggregate matches manual bucketing (DESIGN.md:283-291)") {
    val sfDir = "/root/testdata/sf0.001"
    val e = graft.core.Tables.events(spark, sfDir)
    val out = DriftStream.tumblingAgg(e, "click")
    val manual = e.where(col("event_type") === "click")
      .groupBy((floor(unix_timestamp(col("ts")) / 300) * 300).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
    val a = out.select(unix_timestamp(col("window_start")).as("bucket"), col("event_count"), col("value_sum"))
      .orderBy("bucket").collect().map(_.toString).toSeq
    val b = manual.select(col("bucket"), col("n"), col("s")).orderBy("bucket")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of the reference's sensor drift pipeline
  * (sensor.py:160-194): a COUNT-based sliding window of the last 50 events
  * per key; when the window is full, drift fires iff
  * unusual_ratio STRICTLY > 0.10, and the window resets (sensor.py:186-193).
  *
  * Spark has no count-window primitive, so this is
  * `flatMapGroupsWithState` holding (windowCount, unusualCount) per key —
  * O(1) state per key, no event buffering needed because only counts enter
  * the decision.
  */
object DriftStream {

  case class SensorEvent(sensor_type: String, seq: Long, unusual: Boolean)
  case class WindowState(count: Long, unusualCount: Long)
  case class DriftAlert(sensor_type: String, window_end_seq: Long,
                        unusual_ratio: Double, drift_detected: Boolean)

  val WindowSize = 50        // sensor.py:176
  val RatioThreshold = 0.10  // sensor.py:175 (strict >)

  /** Per-key count-window evaluator. Emits one DriftAlert per completed
    * window (drift or not); resets state after each completed window —
    * the reference resets only on drift, but emits a log row per window
    * evaluation; we emit per window close to keep output append-only.
    */
  def processGroup(key: String, events: Iterator[SensorEvent],
                   state: GroupState[WindowState]): Iterator[DriftAlert] = {
    var st = state.getOption.getOrElse(WindowState(0, 0))
    val out = scala.collection.mutable.ArrayBuffer.empty[DriftAlert]
    events.toSeq.sortBy(_.seq).foreach { e =>
      st = WindowState(st.count + 1, st.unusualCount + (if (e.unusual) 1 else 0))
      if (st.count >= WindowSize) {
        val ratio = st.unusualCount.toDouble / WindowSize
        out += DriftAlert(key, e.seq, ratio, ratio > RatioThreshold)
        st = WindowState(0, 0) // window reset (sensor.py:193)
      }
    }
    state.update(st)
    out.iterator
  }

  /** Wire the count-window drift detector onto a (possibly streaming)
    * Dataset of sensor events.
    */
  def countWindowDrift(events: Dataset[SensorEvent]): Dataset[DriftAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.sensor_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(processGroup)
  }

  /** REFERENCE-EXACT window trace (sensor.py:178-194): the window GROWS —
    * every event is appended, every event is evaluated once the window
    * holds ≥ 50, the ratio denominator stays FIXED at 50 even past 50
    * events (sensor.py:187 divides by window_size), and the window resets
    * ONLY when drift fires (sensor.py:193). Emits one alert per drift fire
    * (non-fire evaluations are reference log lines, not state changes).
    * State is two counters — O(1) per key, nothing buffered.
    */
  def processGroupGrowing(key: String, events: Iterator[SensorEvent],
                          state: GroupState[WindowState]): Iterator[DriftAlert] = {
    var st = state.getOption.getOrElse(WindowState(0, 0))
    val out = scala.collection.mutable.ArrayBuffer.empty[DriftAlert]
    events.toSeq.sortBy(_.seq).foreach { e =>
      st = WindowState(st.count + 1, st.unusualCount + (if (e.unusual) 1 else 0))
      if (st.count >= WindowSize) {
        val ratio = st.unusualCount.toDouble / WindowSize
        if (ratio > RatioThreshold) { // strict >, sensor.py:175/191
          out += DriftAlert(key, e.seq, ratio, drift_detected = true)
          st = WindowState(0, 0) // reset ONLY on drift (sensor.py:193)
        }
      }
    }
    state.update(st)
    out.iterator
  }

  /** Reference-exact variant of [[countWindowDrift]] (reset only on drift,
    * growing window, fixed denominator). The tumbling variant above stays
    * available for append-only per-window telemetry.
    */
  def countWindowDriftGrowing(events: Dataset[SensorEvent]): Dataset[DriftAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.sensor_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(processGroupGrowing)
  }

  /** Batch analog of [[countWindowDriftGrowing]] over an arbitrary keyed,
    * ordered event table: one row per drift fire with the 1-based position
    * of the firing event within its key's (o1, o2)-ordered stream. The
    * per-key loop is inherently sequential (each reset decision depends on
    * all prior events — sensor.py:186-193); keys run in parallel, which is
    * the only parallelism the semantics admit.
    */
  case class KeyedEvent(key: String, o1: Long, o2: Long, unusual: Boolean)
  case class GrowingFire(event_type: String, fire_rn: Long, unusual_count: Long, ratio: Double)

  def growingWindowDrift(events: Dataset[KeyedEvent]): Dataset[GrowingFire] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.key).flatMapGroups { (key, it) =>
      val sorted = it.toArray.sortBy(e => (e.o1, e.o2))
      val out = scala.collection.mutable.ArrayBuffer.empty[GrowingFire]
      var cnt = 0L; var unus = 0L; var rn = 0L
      sorted.foreach { e =>
        rn += 1; cnt += 1; if (e.unusual) unus += 1
        if (cnt >= WindowSize) {
          val ratio = unus.toDouble / WindowSize
          if (ratio > RatioThreshold) {
            out += GrowingFire(key, rn, unus, math.rint(ratio * 1e4) / 1e4)
            cnt = 0; unus = 0
          }
        }
      }
      out.iterator
    }
  }

  /** The Kafka-Streams example topology (DESIGN.md:250-315): filter to one
    * type → per-key 5-minute tumbling window → (count, sum) aggregate.
    * Works identically over a batch or a streaming DataFrame (same plan).
    */
  def tumblingAgg(events: DataFrame, typeValue: String,
                  tsCol: String = "ts", keyCol: String = "event_type",
                  valueCol: String = "value"): DataFrame =
    events
      .filter(col(keyCol) === typeValue) // P1 substring/type filter
      .groupBy(window(col(tsCol), "5 minutes"), col(keyCol))
      .agg(count(lit(1)).as("event_count"), sum(col(valueCol)).as("value_sum"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("event_count"), col("value_sum"))
}

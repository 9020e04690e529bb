package graft

import graft.drift.Drift
import graft.gen.SensorEventGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SensorGenSpec extends GraftSpec {

  lazy val df = SensorEventGen.generate(spark, 10000).cache()

  test("union schema matches the reference envelope + per-type payload (FIXTURES.md §2)") {
    val s = df.schema
    assert(s("type").dataType == StringType)
    assert(s("zip").dataType == StringType)
    assert(s("vehicle_distribution").dataType == MapType(StringType, IntegerType))
    assert(s("vehicle_count").dataType == IntegerType)
    assert(s("avg_speed").dataType == DoubleType)
    assert(s("unusual").dataType == BooleanType)
    // payload fields are null outside their type
    assert(df.where(col("type") =!= "traffic" && col("avg_speed").isNotNull).count() == 0)
    assert(df.where(col("type") =!= "water" && col("pH").isNotNull).count() == 0)
  }

  test("value ranges match reference simulators (sensor.py:39-95)") {
    val r = df.agg(
      min("humidity"), max("humidity"), min("air_quality_index"), max("air_quality_index"),
      min("pH"), max("pH")).collect()(0)
    // unperturbed ranges can only be exceeded by unusual injection
    val clean = df.where(col("unusual").isNull)
    val rc = clean.agg(
      min("avg_speed"), max("avg_speed"), min("voltage"), max("voltage")).collect()(0)
    assert(rc.getDouble(0) >= 20.0 && rc.getDouble(1) <= 80.0)
    assert(rc.getDouble(2) >= 110.0 && rc.getDouble(3) <= 240.0)
    assert(r.getInt(0) >= 20 && r.getInt(1) <= 100)
  }

  test("unusual injection: ~5%, int-preserving multiplication (sensor.py:111-132)") {
    val rate = df.where(col("unusual")).count().toDouble / df.count()
    assert(rate > 0.035 && rate < 0.065, s"unusual rate $rate")
    // unusual=true only when injected; never false (absent ⇒ null)
    assert(df.where(col("unusual") === false).count() == 0)
    // int fields stay ints: schema says IntegerType for vehicle_count/aqi ✓ (compile-time)
    // perturbed traffic speeds can exceed the clean max (80 × [2,5])
    assert(df.where(col("unusual") && col("type") === "traffic" &&
      col("avg_speed") > 80).count() > 0)
  }

  test("vehicle_count equals the sum of vehicle_distribution map values (F10)") {
    val bad = df.where(col("type") === "traffic" && col("unusual").isNull)
      .where(col("vehicle_count") =!=
        aggregate(map_values(col("vehicle_distribution")), lit(0), (a, x) => a + x))
    assert(bad.count() == 0)
  }

  test("batch window-ratio analog over the sensor stream (A8/P8)") {
    val labeled = df.withColumn("status",
      when(coalesce(col("unusual"), lit(false)), "UNUSUAL").otherwise("Normal"))
    assert(labeled.where(col("status") === "UNUSUAL").count() ==
      df.where(col("unusual")).count())
    val ratios = Drift.unusualRatio(df, Seq("type"), coalesce(col("unusual"), lit(false)))
    // per-type unusual ratio ≈ p=0.05 ⇒ no type drifts at threshold 0.10
    assert(ratios.where(col("drift_detected")).count() == 0)
    assert(ratios.count() == 4)
  }

  test("timestamps are deterministic ISO-8601 UTC strings (F7; T3 creation-time)") {
    val t = df.select("timestamp").orderBy("seq").limit(1).collect()(0).getString(0)
    assert(t == "2025-01-01T00:00:00Z", t)
    val again = SensorEventGen.generate(spark, 100).select("timestamp", "seq")
      .collect().map(_.toString).sorted.toSeq
    val again2 = SensorEventGen.generate(spark, 100).select("timestamp", "seq")
      .collect().map(_.toString).sorted.toSeq
    assert(again == again2)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CPU-pure kernel (sha256 over synthesized strings, zero storage IO and
  * minimal memory traffic): isolates scheduler + CPU scaling from the
  * single-socket memory-bandwidth ceiling that bounds the real scans.
  */
object CpuProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def kernel(): Unit = spark.range(0, 128000000, 1, cpus.toInt * 4)
      .select(sha2(concat_ws("-", col("id"), lit("graft")), 256).as("h"))
      .agg(count(when(col("h").startsWith("00"), 1))).collect()
    kernel() // warm-up
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); kernel(); (System.nanoTime() - t0) / 1e9
    }.min
    println(String.format(java.util.Locale.ROOT,
      """{"cpus":%s,"cpu_kernel_sec":%.3f}""", cpus, Double.box(secs)))
    spark.stop()
  }
}

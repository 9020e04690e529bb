package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev harness: run a SUBSET of SparkEntry.queries (args: sfDir outDir
  * name...) with oracle dumps on, writing the same layout Verify does —
  * for fast local DuckDB iteration on a single query without the full
  * ~58-query sweep. Not part of the driver contract.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val dumpRoot = Paths.get(outDir, "_oracle_dumps").toAbsolutePath.toString
    SparkEntry.oracleDumpRoot = Some(dumpRoot)
    try SparkEntry.queries.filter(q => names.contains(q._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"[probe] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    } finally SparkEntry.oracleDumpRoot = None
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql(dumpRoot).filter(o => names.contains(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites in the forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Runs `f` on a fresh directory `<tmp>/<prefix><random>` and deletes the
    * directory and everything under it afterwards, pass or fail.
    */
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}

package graft

import org.apache.spark.sql.functions._

/** GenBenchInput.ensure guards the expensive scaling inputs: a PINNED path
  * holding readable data of a different row count must refuse (never
  * overwrite a 36 GB table because of a stale env var), while the default
  * per-row-count path and empty pinned paths are generated into freely.
  */
class BenchInputSpec extends GraftSpec {

  test("pinned path with a different row count refuses instead of overwriting") {
    withTempDir("graft_pin") { dir =>
      spark.range(100).select(col("id"), lit("x").as("s"), (col("id") % 4).as("batch_id"))
        .write.partitionBy("batch_id").mode("overwrite").parquet(dir)
      val e = intercept[IllegalStateException] {
        GenBenchInput.ensure(spark, rows = 999, pinned = Some(dir))
      }
      assert(e.getMessage.contains("100 rows") && e.getMessage.contains("999"))
      // the precious data is untouched
      assert(spark.read.parquet(dir).count() == 100)
    }
  }

  test("pinned path with the requested count is reused as-is; empty pinned path is generated into") {
    withTempDir("graft_pin2") { dir =>
      gen.CodeTableGen.generate(spark, 200, batches = 2)
        .write.partitionBy("batch_id").mode("overwrite").parquet(dir)
      val before = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(dir, "_SUCCESS"))
      assert(GenBenchInput.ensure(spark, rows = 200, pinned = Some(dir)) == dir)
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(dir, "_SUCCESS")) == before, "must not regenerate")

      withTempDir("graft_pin3") { d =>
        val empty = d + "/fresh"
        assert(GenBenchInput.ensure(spark, rows = 300, pinned = Some(empty)) == empty)
        assert(spark.read.parquet(empty).count() == 300)
      }
    }
  }
}

package graft.audit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.stats.Sketches
import graft.tableio.TableIO

/** Queries over the committed audit tables — including the cross-batch
  * sketch merges that make checkpoint/resume exact for distributional
  * state (north star: "per-column statistics … approximate distinct via
  * HyperLogLog sketches, quantiles via t-digest" persisted per partition).
  *
  * Each validated batch commits one row of MERGEABLE sketch bytes
  * (`sketches` table: HLL of the uniqueness key and of repo; t-digest of
  * content length). A resumed or later run can therefore answer
  * whole-table questions (global distinct keys, global quantiles) by
  * merging committed bytes — no re-scan of validated partitions.
  */
object AuditQueries {

  /** Global approximate distinct counts from committed per-batch HLL bytes
    * (Spark's datasketches-backed hll_union_agg — mergeable by design).
    */
  def globalDistinct(spark: SparkSession, io: TableIO): Option[DataFrame] =
    io.readCommitted(spark, "sketches").map { df =>
      df.agg(
        hll_sketch_estimate(hll_union_agg(col("hll_key"))).as("distinct_keys"),
        hll_sketch_estimate(hll_union_agg(col("hll_repo"))).as("distinct_repos"),
        sum("rows").as("total_rows"))
    }

  /** Sketched two-sample KS between any two COMMITTED batches, straight
    * from the audited t-digest bytes — no re-scan of either partition.
    * This is how drift questions about historical batches are answered
    * after the data may already be gone.
    */
  def ksBetweenBatches(spark: SparkSession, io: TableIO,
                       b1: Long, b2: Long): Option[graft.drift.KsTest.KsResult] =
    io.readCommitted(spark, "sketches").flatMap { df =>
      val rows = df.where(col("batch_id").isin(b1, b2))
        .select(col("batch_id").cast("bigint"), col("tdigest_len")).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      for (x <- rows.get(b1); y <- rows.get(b2))
        yield graft.drift.KsTest.ksStatisticSketched(
          Sketches.heapify(x), Sketches.heapify(y))
    }

  /** Global heavy-hitter repos across ALL committed batches by merging the
    * audited frequent-items bytes driver-side — the cross-run mega-repo
    * report (skew/capacity telemetry) with Misra-Gries guarantees:
    * every repo whose total count ≥ `threshold` is present
    * (NO_FALSE_NEGATIVES), and each row's (lb, ub) bracket its true count
    * with ub − lb ≤ totalRows / (2 · FreqMapSize). The exact per-batch
    * repo_metrics table cannot answer this without re-scanning: per-batch
    * top-k lists are not mergeable (a repo just below every batch's cut
    * can lead the global ranking).
    */
  def hotRepos(spark: SparkSession, io: TableIO,
               threshold: Long): Option[Seq[(String, Long, Long, Long)]] =
    io.readCommitted(spark, "sketches").map { df =>
      val bytes = df.select("freq_repo").collect().map(_.getAs[Array[Byte]](0))
      if (bytes.isEmpty) Seq.empty
      else {
        val merged = graft.stats.FreqSketch.heapify(bytes.reduce(graft.stats.FreqSketch.mergeBytes))
        merged.getFrequentItems(threshold,
            org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
          .sortBy(r => (-r.getEstimate, r.getItem))
          .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
          .toSeq
      }
    }

  /** Global content-length quantiles by merging committed t-digest bytes
    * driver-side (rows are O(#batches) — tiny).
    */
  def globalLengthQuantiles(spark: SparkSession, io: TableIO,
                            qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): Option[Map[Double, Double]] =
    io.readCommitted(spark, "sketches").map { df =>
      val bytes = df.select("tdigest_len").collect().map(_.getAs[Array[Byte]](0))
      val merged = bytes.reduce(Sketches.mergeBytes)
      val dig = Sketches.heapify(merged)
      qs.map(q => q -> dig.getQuantile(q)).toMap
    }
}

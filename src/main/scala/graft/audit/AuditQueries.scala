package graft.audit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.stats.FreqSketch
import graft.suite.SuiteRunner
import graft.tableio.{DriverFrames, TableIO}

/** Queries over the committed audit tables — including the cross-batch
  * sketch merges that make checkpoint/resume exact for distributional
  * state (north star: "per-column statistics … approximate distinct via
  * HyperLogLog sketches, quantiles via t-digest" persisted per partition;
  * the quantile sketch is KLL, which bounds its rank error).
  *
  * Each validated batch commits one `artifacts` row, which carries its
  * MERGEABLE sketch bytes (HLL of the uniqueness key and of repo; KLL of
  * content length; frequent items of repo). A resumed or later run can
  * therefore answer whole-table questions (global distinct keys, global
  * quantiles, heavy hitters) by merging committed bytes — no re-scan of
  * validated partitions.
  */
object AuditQueries {

  /** Global approximate distinct counts from committed per-batch HLL bytes
    * (Spark's datasketches-backed hll_union_agg — mergeable by design).
    */
  def globalDistinct(spark: SparkSession, io: TableIO): Option[DataFrame] =
    io.readCommitted(spark, "artifacts").map { df =>
      df.agg(
        hll_sketch_estimate(hll_union_agg(col("hll_key"))).as("distinct_keys"),
        hll_sketch_estimate(hll_union_agg(col("hll_repo"))).as("distinct_repos"),
        sum("rows").as("total_rows"))
    }

  /** Sketched two-sample KS between any two COMMITTED batches, straight
    * from the audited KLL bytes — no re-scan of either partition. This is
    * how drift questions about historical batches are answered after the
    * data may already be gone. None when either batch has no KLL bytes.
    */
  def ksBetweenBatches(spark: SparkSession, io: TableIO,
                       b1: Long, b2: Long): Option[graft.drift.KsTest.KsResult] =
    io.readCommitted(spark, "artifacts").filter(_.columns.contains("kll_len")).flatMap { df =>
      val rows = DriverFrames.collect(df
          .where(col("batch_id").isin(b1, b2) && col("kll_len").isNotNull)
          .select(col("batch_id").cast("bigint"), col("kll_len")))
        .map(r => r.getLong(0) -> SuiteRunner.kll(r.getAs[Array[Byte]](1))).toMap
      for (x <- rows.get(b1); y <- rows.get(b2))
        yield graft.drift.KsTest.ksStatisticSketched(x, y)
    }

  /** Global heavy-hitter repos across ALL committed batches by merging the
    * audited frequent-items bytes driver-side — the cross-run mega-repo
    * report (skew/capacity telemetry) with Misra-Gries guarantees:
    * every repo whose total count ≥ `threshold` is present
    * (NO_FALSE_NEGATIVES), and each row's (lb, ub) bracket its true count.
    * The exact per-batch repo_metrics table cannot answer this without
    * re-scanning: per-batch top-k lists are not mergeable (a repo just
    * below every batch's cut can lead the global ranking).
    */
  def hotRepos(spark: SparkSession, io: TableIO,
               threshold: Long): Option[Seq[(String, Long, Long, Long)]] =
    io.readCommitted(spark, "artifacts").map { df =>
      FreqSketch.frequentItems(
        DriverFrames.collect(df.select("freq_repo")).map(_.getAs[Array[Byte]](0)).toSeq, threshold)
    }

  /** Global content-length quantiles from the merge of the committed KLL
    * bytes, and the committed batches they leave out: a batch committed
    * before graft-0.5 carries a t-digest column instead, which nothing
    * decodes, until the suite re-stamps it (only the baseline batch is
    * re-stamped, on the first call of a newer version). One aggregate over
    * the O(#batches) artifacts rows; the map is empty when no batch
    * carries KLL bytes.
    */
  def globalLengthQuantiles(spark: SparkSession, io: TableIO,
                            qs: Seq[Double] = Seq(0.5, 0.95, 0.99))
      : Option[(Map[Double, Double], Seq[Long])] =
    io.readCommitted(spark, "artifacts").map { df =>
      val kll = if (df.columns.contains("kll_len")) col("kll_len") else lit(null).cast("binary")
      val merged = kll_merge_agg_bigint(kll)
      val r = DriverFrames.collect(df.agg(
        when(count(kll) > 0, array(qs.map(q => kll_sketch_get_quantile_bigint(merged, lit(q))): _*)),
        sort_array(collect_list(when(kll.isNull, col("batch_id").cast("bigint"))))))(0)
      val quantiles = if (r.isNullAt(0)) Map.empty[Double, Double]
        else qs.zip(r.getSeq[Long](0).map(_.toDouble)).toMap
      (quantiles, r.getSeq[Long](1))
    }
}

package graft.sample

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, EXACT per-group quota sampling — the curation step of a
  * training-data mixture pipeline ("200B tokens: 60% en, 15% zh, …"): for
  * each group keep exactly min(quota, |group|) rows, chosen by smallest
  * `xxhash64(key)` (a fixed pseudo-random but reproducible order), so the
  * sample is stable across runs, partitionings, and incremental re-builds.
  *
  * Scale shape: the naive form is `row_number() OVER (PARTITION BY group
  * ORDER BY hash) <= quota` — one reducer sorts each group, so a 60%-en
  * corpus puts 60% of 10^12 rows through one task. This implementation is
  * the range-bucketed two-phase cut (the same trick as the distributed KS
  * prefix sums, KsTest.scala):
  *
  *   phase 1: bucket = top-`log2(buckets)` bits of the hash (monotone in
  *     hash order); count rows per (group, bucket) — a map-side-combined
  *     aggregate whose result is `groups × buckets` rows, tiny.
  *   phase 2: per group, a running sum over the bucket counts finds the
  *     boundary bucket where the quota falls. Buckets wholly below the
  *     boundary pass outright (no sort anywhere); ONLY the boundary
  *     bucket's rows — |group|/buckets of the data per group — get an
  *     exact rank, and that window is partitioned by (group, bucket) so
  *     no single-group reducer ever sees more than one bucket.
  *
  * Ties on the hash are broken by the key columns themselves, so the cut
  * is total-ordered and exact even with colliding hashes.
  */
object Sampling {

  /** Keep the `quotas(g)` hash-smallest rows of each group. Groups absent
    * from `quotas` are dropped (quota 0). `keyCols` must uniquely identify
    * rows (they seed the hash and break hash ties).
    */
  def quotaByHash(df: DataFrame, groupCol: String, quotas: Map[String, Long],
                  keyCols: Seq[String], buckets: Int = 1024): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val shift = 64 - Integer.numberOfTrailingZeros(buckets)
    val keyed = df
      .withColumn("__h", xxhash64(keyCols.map(col): _*))
      // arithmetic shift keeps bucket monotone in the SIGNED hash order;
      // + buckets/2 maps [-B/2, B/2) onto [0, B)
      .withColumn("__b", shiftright(col("__h"), shift) + lit(buckets / 2))
    val qdf = broadcast(quotas.toSeq.toDF(groupCol, "__quota"))

    // phase 1: per-(group, bucket) counts; running sum locates the boundary
    val counts = keyed.groupBy(col(groupCol), col("__b"))
      .agg(count(lit(1)).as("__n"))
      .join(qdf, Seq(groupCol))
    val w = Window.partitionBy(groupCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val status = counts
      .withColumn("__below", coalesce(sum("__n").over(w), lit(0L)))
      .where(col("__below") < col("__quota")) // buckets at/after the fill point drop
      .select(col(groupCol), col("__b"), col("__below"), col("__quota"),
        (col("__below") + col("__n") <= col("__quota")).as("__full"))

    val tagged = keyed.join(broadcast(status), Seq(groupCol, "__b"))
    val keep = tagged.where(col("__full"))
    // boundary buckets: exact rank inside (group, bucket) only
    val wb = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col("__h") +: keyCols.map(col): _*)
    val boundary = tagged.where(!col("__full"))
      .withColumn("__r", row_number().over(wb))
      .where(col("__r") <= col("__quota") - col("__below"))
      .drop("__r")
    keep.unionByName(boundary)
      .drop("__h", "__b", "__below", "__quota", "__full")
  }

  /** Mixture quotas from target proportions and a total budget:
    * quota(g) = floor(p_g · total). Proportions need not sum to 1 (the
    * caller may undersample); groups larger than their quota are cut by
    * [[quotaByHash]], smaller ones keep everything they have.
    */
  def mixtureQuotas(proportions: Map[String, Double], total: Long): Map[String, Long] = {
    require(proportions.values.forall(p => p >= 0 && p <= 1),
      "proportions must be in [0, 1]")
    proportions.map { case (g, p) => g -> math.floor(p * total).toLong }
  }

  /** Sample a training mixture: keep floor(p_g · total) hash-smallest rows
    * per group.
    */
  def mixture(df: DataFrame, groupCol: String, proportions: Map[String, Double],
              total: Long, keyCols: Seq[String], buckets: Int = 1024): DataFrame =
    quotaByHash(df, groupCol, mixtureQuotas(proportions, total), keyCols, buckets)
}

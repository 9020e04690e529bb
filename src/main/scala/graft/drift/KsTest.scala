package graft.drift

import org.apache.datasketches.kll.KllLongsSketch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-sample Kolmogorov–Smirnov test, distributed.
  *
  * Reference semantics (DESIGN.md:559-568): `ks_2samp(ref.dropna(),
  * cur.dropna())`; drift iff p < threshold (default 0.05, DESIGN.md:534).
  *
  * Exact path: D = max over the pooled distinct values of |F_ref − F_cur|.
  * Stage 1 `groupBy(value)` collapses duplicates (one shuffle — content
  * lengths / measurements have far fewer DISTINCT values than rows). The
  * running ECDF sums over the distinct values are then computed with
  * range-partitioned two-phase prefix sums:
  *   (a) approx-equi-depth range boundaries over the distinct values
  *       (any boundary choice gives the same exact answer — it only
  *       balances the window partitions);
  *   (b) per-(column, bucket) totals → driver-side cumulative offsets
  *       (≤ columns × buckets rows);
  *   (c) within-bucket running sums + broadcast offsets → per-bucket max
  *       gap → global max.
  * Every window is partitioned by (column, bucket) — there is NO
  * single-partition WindowExec anywhere, so the exact path scales to any
  * distinct-value cardinality. Multiple columns share the same melt, the
  * same shuffle and the same three jobs ([[ks2SampMulti]]).
  *
  * Scale alternative when even the distinct-value table is unwanted:
  * [[ksStatisticSketched]] over two mergeable KLL sketches.
  */
object KsTest {

  case class KsResult(statistic: Double, pValue: Double, n1: Long, n2: Long) {
    def drift(threshold: Double = 0.05): Boolean = pValue < threshold
  }

  private val Buckets = 32

  /** Melt `valueCols` to (cid, v, c1, c2) distinct-value counts — columns
    * are identified by their INDEX in `valueCols` so the melt shuffle
    * carries a 4-byte id instead of a repeated column-name string.
    */
  private[drift] def distinctCounts(df: DataFrame, valueCols: Seq[String], isBaseline: Column): DataFrame = {
    val structs = valueCols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cid"), col(c).cast("double").as("v"))
    }
    // a NULL isBaseline condition puts the row on NEITHER side (both
    // whens fall to 0) — matching a WHERE-style filter, not a coin flip
    df.select(explode(array(structs: _*)).as("nv"),
        when(isBaseline, 1L).otherwise(0L).as("s1"),
        when(!isBaseline, 1L).otherwise(0L).as("s2"))
      .select(col("nv.cid").as("cid"), col("nv.v").as("v"), col("s1"), col("s2"))
      .where(col("v").isNotNull && !isnan(col("v")))
      .groupBy("cid", "v")
      .agg(sum("s1").as("c1"), sum("s2").as("c2"))
  }

  /** Final pre-collect stage: per-column max |cum1·n2 − cum2·n1| with all
    * windows partitioned by (name, bucket). Package-private so PlanSpec can
    * assert the absence of partition-less Window nodes.
    */
  private[graft] def ksMaxGapDf(df: DataFrame, valueCols: Seq[String], isBaseline: Column,
                                buckets: Int = Buckets): DataFrame =
    ksMaxGapFromCounts(distinctCounts(df, valueCols, isBaseline), buckets)

  /** The boundary-percentile aggregate column of the max-gap machinery —
    * exposed so callers that already run a groupBy("cid") collect over the
    * counts (detect's moments pass, GroupDrift's) can ride the boundaries
    * on that SAME action instead of paying a separate job.
    */
  private[drift] def boundaryAgg(buckets: Int): Column =
    percentile_approx(col("v"),
      typedlit((1 until buckets).map(_.toDouble / buckets)), lit(1000))

  /** Builds the max-gap query over a (possibly cached) distinct-counts
    * table. Runs ONE driver action itself (the boundary percentiles) unless
    * `precomputedBounds` carries them; the returned DataFrame is the single
    * final job. Package-private: [[GroupDrift]] feeds lane-keyed counts
    * (lanes = groups instead of melted columns) through the same two-phase
    * machinery.
    */
  private[drift] def ksMaxGapFromCounts(counts: DataFrame, buckets: Int,
      precomputedBounds: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._

    // (a) range boundaries per column, equi-depth over DISTINCT values.
    // Boundary PRECISION is irrelevant to correctness — boundaries only
    // balance the window partitions — so a coarse sketch (accuracy 1000)
    // keeps this job cheap at any cardinality. Callers holding a
    // counts-wide collect already (detect, GroupDrift) pass the
    // boundaries in and skip this action entirely.
    val bounds = precomputedBounds.getOrElse {
      counts.groupBy("cid").agg(boundaryAgg(buckets).as("bs")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq
    }
    if (bounds.isEmpty) {
      return Seq.empty[(Int, Double, Long, Long)].toDF("cid", "num", "n1", "n2")
        .select(col("cid"), col("num"), col("n1").cast("long"), col("n2").cast("long"))
    }
    // bucket = number of boundaries strictly below v — a per-lane binary
    // search over the driver-side boundary arrays ([[RangeBucket]]): one
    // small kernel call per row, replacing first the broadcast-join +
    // interpreted `aggregate` HOF (round-5 shape) and then the literal
    // when-chain whose large generated method dominated the stage's JIT
    // warm-up
    val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
    val bucketFor = bridge.column(RangeBucket(
      bridge.expression(col("cid")), bridge.expression(col("v")),
      bounds.map(_._1).toArray,
      bounds.map(_._2.distinct.sorted.toArray).toArray))
    val withB = counts.withColumn("bucket", bucketFor)

    // (b) per-bucket totals → cumulative offsets + grand totals via TINY
    // windows over ≤ buckets rows per column (partitioned by column — never
    // a bare window); stays in the same job as (c), no extra driver action
    val wOff = Window.partitionBy("cid").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("cid")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsetsDf = withB.groupBy("cid", "bucket")
      .agg(sum("c1").as("t1"), sum("c2").as("t2"))
      .select(col("cid"), col("bucket"),
        (sum("t1").over(wOff) - col("t1")).as("off1"),
        (sum("t2").over(wOff) - col("t2")).as("off2"),
        sum("t1").over(wAll).as("n1"),
        sum("t2").over(wAll).as("n2"))

    // (c) within-bucket running sums + offsets; max gap per column
    val w = Window.partitionBy("cid", "bucket").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = withB.join(broadcast(offsetsDf), Seq("cid", "bucket"))
      .withColumn("cum1", (sum("c1").over(w) + col("off1")).cast("double"))
      .withColumn("cum2", (sum("c2").over(w) + col("off2")).cast("double"))
      .groupBy("cid")
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("num"),
        max("n1").as("n1"), max("n2").as("n2"))
    out
  }

  /** Exact two-sample KS for several columns sharing one melt/shuffle and
    * exactly TWO driver actions (boundary percentiles over the cached
    * distinct counts, then the single final max-gap job). Columns with no
    * clean data on a side get KsResult(0, 1, n1, n2).
    */
  def ks2SampMulti(df: DataFrame, valueCols: Seq[String], isBaseline: Column,
                   buckets: Int = Buckets): Map[String, KsResult] = {
    // results are keyed by column name — a duplicate would silently
    // collapse two melt lanes into one map entry
    require(valueCols.distinct.size == valueCols.size,
      s"ks2SampMulti: duplicate column names in ${valueCols.mkString(", ")}")
    val counts = distinctCounts(df, valueCols, isBaseline).persist()
    val rows =
      try ksMaxGapFromCounts(counts, buckets).collect()
      finally counts.unpersist()
    val byCid = rows.map(r => r.getInt(0) ->
      ((if (r.isNullAt(1)) 0.0 else r.getDouble(1)), r.getLong(2), r.getLong(3))).toMap
    valueCols.zipWithIndex.map { case (c, i) =>
      byCid.get(i) match {
        case Some((num, n1, n2)) if n1 > 0 && n2 > 0 =>
          val d = num / (n1.toDouble * n2.toDouble)
          c -> KsResult(d, DriftMath.ksPValue(d, n1, n2), n1, n2)
        case Some((_, n1, n2)) => c -> KsResult(0.0, 1.0, n1, n2)
        case None              => c -> KsResult(0.0, 1.0, 0, 0)
      }
    }.toMap
  }

  /** Exact two-sample KS statistic. `isBaseline` tags side 1.
    * Nulls/NaNs dropped on both sides (reference dropna()).
    */
  def ks2Samp(df: DataFrame, valueCol: String, isBaseline: Column): KsResult =
    ks2SampMulti(df, Seq(valueCol), isBaseline)(valueCol)

  /** Scale path: approximate KS from two mergeable KLL sketches — evaluate
    * both CDFs on a grid of candidate points (the union of both sketches'
    * quantiles at `grid` ranks) and take the max gap. Each CDF is off by at
    * most the sketch's normalized rank error (0.0028 at k = 1000), so D is
    * within twice that of the exact statistic at the grid points;
    * suitable when distinct-value cardinality makes even the exact path's
    * grouped-counts table unwanted.
    */
  def ksStatisticSketched(sk1: KllLongsSketch, sk2: KllLongsSketch,
                          grid: Int = 200): KsResult = {
    if (sk1.isEmpty || sk2.isEmpty) return KsResult(0.0, 1.0, sk1.getN, sk2.getN)
    val qs = (0 to grid).map(_.toDouble / grid)
    val pts = (qs.map(sk1.getQuantile) ++ qs.map(sk2.getQuantile)).distinct.sorted
    val d = pts.map(x => math.abs(sk1.getRank(x) - sk2.getRank(x))).max
    val (n1, n2) = (sk1.getN, sk2.getN)
    KsResult(d, DriftMath.ksPValue(d, n1, n2), n1, n2)
  }
}

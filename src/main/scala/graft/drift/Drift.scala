package graft.drift

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.stats.{Stats, TopK}

/** Per-column drift report row, shaped after the reference DriftDetector
  * report (DESIGN.md:575-580): {p_value, statistic, drift_detected,
  * mean_difference} per feature + overall rollup, extended with the
  * north-star PSI / chi-square checks.
  */
case class ColumnDrift(
    column: String,
    test: String,          // ks | psi | chisq
    statistic: Double,
    p_value: Double,       // NaN for PSI (no p-value; thresholded directly)
    drift_detected: Boolean,
    mean_difference: Double, // |ref_mean − cur_mean| / ref_std (DESIGN.md:569)
    n_ref: Long,
    n_cur: Long)

case class DriftReport(
    overall_drift_detected: Boolean, // any column drifted (DESIGN.md:572-573)
    feature_drift: Seq[ColumnDrift],
    sample_size: Long)

object Drift {
  val KsThreshold = 0.05    // DESIGN.md:534
  val PsiThreshold = 0.2    // standard PSI "significant shift" convention
  val ChiSqThreshold = 0.05
  /** Driver-side category cap: every categorical check collects at most
    * this many categories per column (ranked by baseline count, ties broken
    * deterministically) plus ONE aggregated tail bucket. Below the cap the
    * result is identical to the uncapped formula up to floating-point
    * summation ORDER (the capped path ranks categories baseline-count-desc,
    * so the PSI/chi-square sums may differ in the last ulp from an
    * arbitrary-order evaluation); above it the verdict is the capped
    * formula's (the same LenCardCap hazard class the suite already bounds —
    * a 10^6-distinct categorical must not OOM the driver).
    */
  val CatTopK = 1000
  /** Tail-bucket label; the \u0001 prefix keeps it out of any real
    * category's namespace.
    */
  val OtherBucket = "\u0001__other__"
  /** Fails the job loudly if a REAL category value equals the reserved tail
    * sentinel — a silent merge into the tail bucket would change the
    * statistic versus the uncapped formula even below the cap. Evaluated on
    * the (small) grouped distinct-value table, so the guard is free.
    */
  private def guardSentinel(v: Column): Column =
    when(v === lit(OtherBucket), raise_error(lit(
      "categorical value collides with the reserved tail sentinel " +
        "\\u0001__other__ — rename or filter it before drift detection")))
      .otherwise(v)

  /** |Δmean| / ref_std, 0 when ref_std == 0 or undefined (DESIGN.md:569). */
  def meanDifference(refMean: Double, refStd: Double, curMean: Double): Double =
    if (refStd.isNaN || refStd == 0.0 || refMean.isNaN || curMean.isNaN) 0.0
    else math.abs(refMean - curMean) / refStd

  /** PSI over numeric columns, ALL sharing ONE melted scan/shuffle
    * regardless of width (the [[KsTest.ks2SampMulti]] shape): the
    * per-(column, distinct value) count table is materialized once; the
    * baseline [min, max] ranges and the 10-bin histograms are both derived
    * from that bounded grouped table, so the full input is never re-read.
    * Per column the formula is exactly the single-column one: bins pinned
    * to the baseline's [min, max], out-of-range current values clamped
    * into the edge bins. A caller looping [[psiNumeric]] over a wide table
    * instead pays 2 driver actions PER column — the fixed-cost class
    * measured as the small-input scaling killer.
    */
  def psiNumericMulti(df: DataFrame, valueCols: Seq[String], isBaseline: Column,
                      bins: Int = Stats.Bins): Map[String, Double] = {
    require(valueCols.distinct.size == valueCols.size,
      s"psiNumericMulti: duplicate column names in ${valueCols.mkString(", ")}")
    if (valueCols.isEmpty) return Map.empty
    // ONE melted scan/shuffle: the per-(column, distinct value) count table
    // (the exact-KS shape). Both the baseline [min, max] ranges and the
    // binned histograms are then derived from this bounded grouped table —
    // the old two-job form re-scanned the full input for the histogram pass.
    val counts = KsTest.distinctCounts(df, valueCols, isBaseline).persist()
    try {
      // job 1 (materializes the melt): per-column baseline [min, max] over
      // the distinct values — identical to min/max over the raw rows
      val rangeRows = counts.where(col("c1") > 0).groupBy("cid")
        .agg(min("v").as("lo"), max("v").as("hi")).collect()
      val ranges: Map[Int, (Double, Double)] = rangeRows
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val live = valueCols.zipWithIndex.filter { case (_, i) => ranges.contains(i) }
      if (live.isEmpty) return valueCols.map(_ -> 0.0).toMap
      // job 2: per-(column, bin) totals over the grouped table; each live
      // lane gets its own baseline-pinned bucket edges via a cid-switch.
      // Integer count sums — bit-identical to bucketing the raw rows.
      val bucket = live.foldLeft(lit(0)) { case (acc, (_, i)) =>
        when(col("cid") === i,
          greatest(lit(0), Stats.bucketExpr(col("v"), ranges(i)._1, ranges(i)._2, bins)))
          .otherwise(acc)
      }
      val hists = counts.groupBy(col("cid"), bucket.as("bin"))
        .agg(sum("c1").as("h1"), sum("c2").as("h2"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rs) =>
          cid -> rs.map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
        }
      valueCols.zipWithIndex.map { case (c, i) =>
        val h = hists.getOrElse(i, Map.empty[Int, (Long, Long)])
        val n1 = h.values.map(_._1).sum.toDouble
        val n2 = h.values.map(_._2).sum.toDouble
        c -> (if (!ranges.contains(i) || n1 == 0 || n2 == 0) 0.0
              else {
                val p = (0 until bins).map(j => h.getOrElse(j, (0L, 0L))._1 / n1)
                val q = (0 until bins).map(j => h.getOrElse(j, (0L, 0L))._2 / n2)
                DriftMath.psi(p, q)
              })
      }.toMap
    } finally counts.unpersist()
  }

  /** PSI over a numeric column: 10 equi-width bins pinned to the BASELINE
    * side's [min, max] (out-of-range current values clamp into edge bins).
    * Single-column convenience over [[psiNumericMulti]] — wide callers
    * should pass all columns at once (constant job count).
    */
  def psiNumeric(df: DataFrame, valueCol: String, isBaseline: Column,
                 bins: Int = Stats.Bins): Double =
    psiNumericMulti(df, Seq(valueCol), isBaseline, bins)(valueCol)

  /** PSI over categorical columns, ALL sharing the one melted
    * capped-count job ([[meltedCatCounts]] — the [[detect]] shape). Per
    * column: proportions over the union of both sides' categories, capped
    * to the top `topK` (by baseline count) + one tail bucket, so
    * arbitrary-cardinality categoricals stay driver-safe.
    */
  def psiCategoricalMulti(df: DataFrame, catCols: Seq[String], isBaseline: Column,
                          topK: Int = CatTopK): Map[String, Double] = {
    meltedCatCounts(df, catCols, isBaseline, topK).map { case (c, rows) =>
      val n1 = rows.map(_._2).sum.toDouble
      val n2 = rows.map(_._3).sum.toDouble
      c -> (if (n1 == 0 || n2 == 0) 0.0
            else DriftMath.psi(rows.map(_._2 / n1).toSeq, rows.map(_._3 / n2).toSeq))
    }
  }

  /** PSI over a categorical column — single-column convenience over
    * [[psiCategoricalMulti]]; equal to the uncapped formula below the cap
    * up to floating-point summation order.
    */
  def psiCategorical(df: DataFrame, catCol: String, isBaseline: Column,
                     topK: Int = CatTopK): Double =
    psiCategoricalMulti(df, Seq(catCol), isBaseline, topK)(catCol)

  /** Chi-square goodness-of-fit of the CURRENT categorical frequencies
    * against expected = baseline proportions × current total. Categories
    * absent from the baseline are excluded from the statistic (matching the
    * reference's skip-missing-columns convention, DESIGN.md:557-558);
    * dof = (#baseline categories − 1). Shares [[meltedCatCounts]]; for many
    * columns call it once and [[chiSqGof]] per entry.
    */
  def chiSquareCategorical(df: DataFrame, catCol: String, isBaseline: Column,
                           topK: Int = CatTopK): (Double, Double, Long) =
    chiSquareCategoricalMulti(df, Seq(catCol), isBaseline, topK)(catCol)

  /** Chi-square over several categorical columns sharing the one melted
    * capped-count job ([[meltedCatCounts]]). Returns
    * (statistic, p-value, dof) per column — constant job count in width.
    */
  def chiSquareCategoricalMulti(df: DataFrame, catCols: Seq[String], isBaseline: Column,
                                topK: Int = CatTopK): Map[String, (Double, Double, Long)] =
    meltedCatCounts(df, catCols, isBaseline, topK).map { case (c, rows) =>
      c -> chiSqGof(rows.map(r => r._1 -> r._2).toMap,
        rows.map(r => r._1 -> r._3).toMap)
    }

  /** Every categorical column's per-side category counts in ONE melted
    * groupBy, capped per column to the top `topK` categories + one
    * aggregated [[OtherBucket]] tail row, so the collect is
    * ≤ #cols × (topK+1) rows no matter the column cardinality (same hazard
    * class as the suite's LenCardCap). Shared by [[detect]],
    * [[psiCategoricalMulti]] and [[chiSquareCategorical]] — every
    * categorical consumer pays one job.
    *
    * Returns, per column, (value, baselineCount, currentCount) rows.
    */
  private[graft] def meltedCatCounts(df: DataFrame, catCols: Seq[String],
                                     isBaseline: Column, topK: Int = CatTopK)
      : Map[String, Array[(String, Long, Long)]] = {
    require(catCols.distinct.size == catCols.size,
      s"meltedCatCounts: duplicate column names in ${catCols.mkString(", ")}")
    if (catCols.isEmpty) return Map.empty
    val structs = catCols.map(c => struct(lit(c).as("name"), col(c).cast("string").as("v")))
    // NULL isBaseline → neither side (both whens fall to 0), like a filter
    val grouped = df.select(explode(array(structs: _*)).as("nv"),
        when(isBaseline, 1L).otherwise(0L).as("s1"),
        when(!isBaseline, 1L).otherwise(0L).as("s2"))
      .select(col("nv.name").as("name"), col("nv.v").as("v"), col("s1"), col("s2"))
      .where(col("v").isNotNull)
      .groupBy("name", "v").agg(sum("s1").as("c1"), sum("s2").as("c2"))
    cappedCatCounts(grouped, catCols, topK)
  }

  /** The top-K cap + collect over a PRE-GROUPED (name, v, c1, c2)
    * category-count table — the tail of [[meltedCatCounts]], shared with
    * [[detect]]'s single-melt path (which derives the grouped table from
    * the same scan that feeds KS/moments). One aggregate per column: the
    * distinct count, both side totals and the `topK` first categories in
    * (c1 desc, c2 desc, v asc) order, the order of `~c1, ~c2, v`
    * (`bitwise_not` reverses a long's order exactly). Its map-side partials
    * hold at most `topK` rows per task, so no task sorts a whole column's
    * category table. The collected rows gain one [[OtherBucket]] row, the
    * totals minus the top sums, iff the column has more than `topK`
    * categories (even when every tail category counts (0, 0)). Rows come
    * back in rank order, tail last.
    */
  private def cappedCatCounts(grouped: DataFrame, catCols: Seq[String], topK: Int)
      : Map[String, Array[(String, Long, Long)]] = {
    val rank = struct(bitwise_not(col("c1")), bitwise_not(col("c2")), guardSentinel(col("v")))
    val byName = grouped.groupBy("name")
      .agg(count(lit(1)), sum("c1"), sum("c2"), TopK.firstK(rank, topK))
      .collect()
      .map { r =>
        val top = r.getSeq[Row](4).map(t => (t.getString(2), ~t.getLong(0), ~t.getLong(1)))
        val tail = if (r.getLong(1) <= topK) Nil
          else Seq((OtherBucket, r.getLong(2) - top.map(_._2).sum, r.getLong(3) - top.map(_._3).sum))
        r.getString(0) -> (top ++ tail).toArray
      }.toMap
    catCols.map(c => c -> byName.getOrElse(c, Array.empty[(String, Long, Long)])).toMap
  }

  /** Per-column (count, mean, sample-std, count2, mean2) used by
    * [[detect]]'s mean-difference — computed from the distinct-value count
    * table instead of a second input scan.
    */
  private[drift] case class Sides(n1: Long, m1: Double, s1: Double, n2: Long, m2: Double)

  /** First-pass per-lane aggregates over a (cid, v, c1, c2) distinct-count
    * table — counts, exact weighted means, baseline [lo, hi] — PLUS the
    * exact-KS boundary percentiles, all in ONE collect (each driver action
    * pays its own planning + scheduling latency, the measured fixed cost
    * that dominates these operators at small input).
    */
  private[drift] case class LaneFirst(n1: Long, m1: Double, lo1: Double,
                                      hi1: Double, n2: Long, m2: Double,
                                      bounds: Seq[Double])

  private[drift] def laneFirstPass(numCounts: DataFrame, buckets: Int): Map[Int, LaneFirst] =
    numCounts.groupBy("cid").agg(
      sum("c1").as("n1"), sum(col("v") * col("c1")).as("S1"),
      min(when(col("c1") > 0, col("v"))).as("lo1"),
      max(when(col("c1") > 0, col("v"))).as("hi1"),
      sum("c2").as("n2"), sum(col("v") * col("c2")).as("S2"),
      KsTest.boundaryAgg(buckets).as("bs")).collect()
      .map { r =>
        val n1 = r.getLong(1); val n2 = r.getLong(5)
        r.getInt(0) -> LaneFirst(n1,
          if (n1 > 0) r.getDouble(2) / n1 else Double.NaN,
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
          n2, if (n2 > 0) r.getDouble(6) / n2 else Double.NaN,
          r.getSeq[Double](7).toSeq)
      }.toMap

  /** Second pass: baseline-side Σ c1·(v − μ)² per lane with the per-lane μ
    * as literals — the mean-shifted form, so the naive Σv² − n·μ²
    * cancellation never fires. Only lanes in `shifts` are aggregated.
    */
  private[drift] def laneM2(numCounts: DataFrame, shifts: Map[Int, Double]): Map[Int, Double] =
    if (shifts.isEmpty) Map.empty
    else {
      val shift = shifts.foldLeft(lit(0.0)) { case (els, (cid, mu)) =>
        when(col("cid") === cid, lit(mu)).otherwise(els)
      }
      numCounts.where(col("c1") > 0 &&
          col("cid").isin(shifts.keys.toSeq.map(Int.box): _*))
        .select(col("cid"),
          ((col("v") - shift) * (col("v") - shift) * col("c1")).as("d2"))
        .groupBy("cid").agg(sum("d2").as("M2")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }

  /** Lanes whose sample std needs the M2 pass: >1 baseline row and a
    * non-constant value set (constant lanes are exactly 0, like Welford;
    * 0/1-row lanes are NaN, matching stddev_samp over 0/1 rows).
    */
  private[drift] def stdShifts(first: Map[Int, LaneFirst]): Map[Int, Double] =
    first.collect { case (cid, f) if f.n1 > 1 && f.lo1 != f.hi1 => cid -> f.m1 }

  private[drift] def sidesFrom(first: Map[Int, LaneFirst],
                               m2ByCid: Map[Int, Double]): Map[Int, Sides] =
    first.map { case (cid, f) =>
      val s1 =
        if (f.n1 <= 1) Double.NaN // stddev_samp: 0 rows → null, 1 row → NaN
        else if (f.lo1 == f.hi1) 0.0 // constant lane — exactly 0 like Welford
        else math.sqrt(math.max(0.0, m2ByCid.getOrElse(cid, 0.0)) / (f.n1 - 1))
      cid -> Sides(f.n1, f.m1, s1, f.n2, f.m2)
    }

  /** Run independent driver actions over a shared persisted table
    * CONCURRENTLY (Spark's scheduler interleaves jobs from multiple
    * submitter threads): wall = the slowest job instead of the sum — the
    * [[graft.suite.SuiteRunner]] audit-write pattern applied to the
    * drift tails.
    */
  private[drift] def inParallel[A](fs: Seq[() => A]): Seq[A] =
    if (fs.lengthCompare(1) <= 0) fs.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futs = fs.map(f => scala.concurrent.Future(f())(ec))
        futs.map(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdownNow()
    }

  /** Full drift report over numeric columns (KS, reference DriftDetector
    * semantics) + optional categorical columns (chi-square), baseline vs
    * current selected by `isBaseline`. Columns with no data on either side
    * are skipped (DESIGN.md:557-558).
    *
    * ONE scan of the input for any column mix: numeric and categorical
    * columns melt together into a single (lane, value) distinct-count
    * shuffle — numeric lanes carry the double value, categorical lanes the
    * string. Everything downstream (exact-KS boundaries + max gap, the
    * per-column moments feeding mean_difference, the capped categorical
    * counts) runs over that persisted bounded table, never over the input
    * again. The previous shape paid three full input scans (conditional
    * moments agg, KS melt, categorical melt).
    */
  def detect(df: DataFrame, numericCols: Seq[String], catCols: Seq[String],
             isBaseline: Column, ksThreshold: Double = KsThreshold): DriftReport = {
    // a duplicated name would silently double every melted count (and so the
    // chi-square statistic) / collide the lane ids — refuse
    require(numericCols.distinct.size == numericCols.size,
      s"detect: duplicate numeric columns in ${numericCols.mkString(", ")}")
    require(catCols.distinct.size == catCols.size,
      s"detect: duplicate categorical columns in ${catCols.mkString(", ")}")
    if (numericCols.isEmpty && catCols.isEmpty)
      return DriftReport(overall_drift_detected = false, Seq.empty, 0L)
    val nN = numericCols.size
    val numStructs = numericCols.zipWithIndex.map { case (c, i) =>
      // the missing-value guard keeps moments aligned with the reference
      // dropna(): missing numeric values (null / NaN / "" on strings) fall
      // out of BOTH the KS counts and the moment sums, exactly like the
      // old conditional-agg clean column
      struct(lit(i).as("cid"),
        when(Stats.missingPred(df, c), null).otherwise(col(c).cast("double")).as("v"),
        lit(null).cast("string").as("vs"))
    }
    val catStructs = catCols.zipWithIndex.map { case (c, i) =>
      struct(lit(nN + i).as("cid"), lit(null).cast("double").as("v"),
        col(c).cast("string").as("vs"))
    }
    // NULL isBaseline → neither side (both whens fall to 0), like a filter
    val melted = df.select(explode(array((numStructs ++ catStructs): _*)).as("nv"),
        when(isBaseline, 1L).otherwise(0L).as("s1"),
        when(!isBaseline, 1L).otherwise(0L).as("s2"))
      .select(col("nv.cid").as("cid"), col("nv.v").as("v"), col("nv.vs").as("vs"),
        col("s1"), col("s2"))
      .where((col("cid") < nN && col("v").isNotNull && !isnan(col("v"))) ||
             (col("cid") >= nN && col("vs").isNotNull))
    val counts = melted.groupBy("cid", "v", "vs")
      .agg(sum("s1").as("c1"), sum("s2").as("c2")).persist()
    try {
      val numCounts = counts.where(col("cid") < nN).select("cid", "v", "c1", "c2")
      // action 1 (materializes the shared melt): per-lane counts, exact
      // weighted means, [lo, hi] AND the KS boundary percentiles — one
      // groupBy(cid) collect serves the moments and the max-gap machinery
      val first = if (nN == 0) Map.empty[Int, LaneFirst]
        else laneFirstPass(numCounts, 32)

      // ksCols = columns populated on both sides (the skip rule)
      val ksCols = numericCols.zipWithIndex.filter { case (_, i) =>
        first.get(i).exists(f => f.n1 > 0 && f.n2 > 0)
      }
      val liveCids = ksCols.map(_._2)

      // the three remaining jobs — KS max gap, the shifted-M2 std pass and
      // the capped categorical counts — are independent reads of the same
      // persisted counts table: submit them concurrently (wall = slowest,
      // not the sum)
      val shifts = stdShifts(first)
      var ksRows: Array[org.apache.spark.sql.Row] = Array.empty
      var m2ByCid: Map[Int, Double] = Map.empty
      var catCnts: Map[String, Array[(String, Long, Long)]] = Map.empty
      val jobs = Seq.newBuilder[() => Unit]
      if (liveCids.nonEmpty) jobs += { () =>
        ksRows = KsTest.ksMaxGapFromCounts(
          numCounts.where(col("cid").isin(liveCids.map(Int.box): _*)), 32,
          Some(first.toSeq.map { case (cid, f) => cid -> f.bounds })).collect()
      }
      if (shifts.nonEmpty) jobs += { () => m2ByCid = laneM2(numCounts, shifts) }
      if (catCols.nonEmpty) jobs += { () =>
        val nameFor = catCols.zipWithIndex.foldLeft(lit(null).cast("string")) {
          case (els, (c, i)) => when(col("cid") === (nN + i), lit(c)).otherwise(els)
        }
        val grouped = counts.where(col("cid") >= nN)
          .select(nameFor.as("name"), col("vs").as("v"), col("c1"), col("c2"))
        catCnts = cappedCatCounts(grouped, catCols, CatTopK)
      }
      inParallel(jobs.result())

      val sidesByCid = sidesFrom(first, m2ByCid)
      val sides: Map[String, Sides] = numericCols.zipWithIndex.map { case (c, i) =>
        c -> sidesByCid.getOrElse(i, Sides(0L, Double.NaN, Double.NaN, 0L, Double.NaN))
      }.toMap
      val ksByCid = ksRows.map(r => r.getInt(0) ->
        ((if (r.isNullAt(1)) 0.0 else r.getDouble(1)), r.getLong(2), r.getLong(3))).toMap
      val ksDrift = ksCols.flatMap { case (c, i) =>
        ksByCid.get(i).map { case (num, n1, n2) =>
          val d = if (n1 > 0 && n2 > 0) num / (n1.toDouble * n2.toDouble) else 0.0
          val p = if (n1 > 0 && n2 > 0) DriftMath.ksPValue(d, n1, n2) else 1.0
          val s = sides(c)
          ColumnDrift(c, "ks", d, p, p < ksThreshold,
            meanDifference(s.m1, s.s1, s.m2), n1, n2)
        }
      }

      val catDrift: Seq[ColumnDrift] = catCnts.toSeq
        .sortBy { case (c, _) => catCols.indexOf(c) }
        .map { case (c, cnts) =>
          val ref = cnts.map(r => r._1 -> r._2).toMap
          val cur = cnts.map(r => r._1 -> r._3).toMap
          val (stat, p, _) = chiSqGof(ref, cur)
          // n_ref/n_cur are THIS column's non-null counts (the tail fold
          // preserves per-side sums), not the first numeric column's — a
          // cat-only detect() must not report sample sizes of 0
          ColumnDrift(c, "chisq", stat, p, p < ChiSqThreshold, 0.0,
            cnts.map(_._2).sum, cnts.map(_._3).sum)
        }

      val all = ksDrift ++ catDrift
      DriftReport(all.exists(_.drift_detected),
        all,
        (numericCols.map(c => sides(c).n2) ++ catDrift.map(_.n_cur))
          .maxOption.getOrElse(0L))
    } finally counts.unpersist()
  }

  /** Current-side total over baseline-covered categories — the chi-square
    * coverage denominator. ONE shared definition: Cramér's V normalizes by
    * this same quantity (Suite.chiSqFromCounts), so the two must not drift.
    * Iterates the KEYS as a sequence: mapping the key SET to counts would
    * collapse equal counts before the sum (latent bug — fired once many
    * categories shared a count, e.g. a uniform top-K from the capped path).
    */
  private[graft] def coveredCurTotal(ref: Map[String, Long], cur: Map[String, Long]): Double =
    ref.filter(_._2 > 0).keysIterator.map(cur.getOrElse(_, 0L)).sum.toDouble

  /** Chi-square goodness-of-fit from category count maps: expected =
    * baseline proportions × current covered total; categories absent from
    * the baseline excluded; dof = #baseline categories − 1.
    */
  private[graft] def chiSqGof(ref: Map[String, Long], cur: Map[String, Long]): (Double, Double, Long) = {
    val base = ref.filter(_._2 > 0)
    val n1 = base.values.sum.toDouble
    val n2cov = coveredCurTotal(ref, cur)
    if (n1 == 0 || n2cov == 0 || base.size < 2) return (0.0, 1.0, 0L)
    val stat = base.map { case (k, c1) =>
      val exp = c1 / n1 * n2cov
      val obs = cur.getOrElse(k, 0L).toDouble
      (obs - exp) * (obs - exp) / exp
    }.sum
    (stat, DriftMath.chiSquarePValue(stat, base.size - 1L), base.size - 1L)
  }

  /** Sensor-pipeline batch analog (sensor.py:186-193): per group, the ratio
    * of "unusual" rows; drift iff ratio STRICTLY > threshold (0.10).
    */
  def unusualRatio(df: DataFrame, groupCols: Seq[String], isUnusual: Column,
                   threshold: Double = 0.10): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(
        count(lit(1)).as("n"),
        sum(when(isUnusual, 1L).otherwise(0L)).as("unusual_count"))
      .withColumn("ratio", col("unusual_count") / col("n"))
      .withColumn("drift_detected", col("ratio") > threshold)
}

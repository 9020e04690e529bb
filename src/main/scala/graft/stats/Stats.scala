package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistics row — the "reference-distribution snapshot" of the
  * reference DriftDetector (DESIGN.md:539-551: mean/std/min/max/median +
  * 10-bin histogram), extended with the north-star sketch columns
  * (approx distinct via HLL).
  */
case class ColStats(
    column: String,
    count: Long,          // non-missing values
    missing: Long,        // isnull ∨ isnan (DESIGN.md:347-349)
    missing_rate: Double,
    min: Double,
    max: Double,
    mean: Double,
    stddev: Double,       // SAMPLE std (pandas ddof=1, DESIGN.md:545)
    median: Double,
    distinct_approx: Long,
    hist: Seq[Long],      // 10 equi-width bins over [min,max], numpy convention
    bin_lo: Double,
    bin_hi: Double)

object Stats {
  val Bins = 10 // np.histogram default used by the reference (DESIGN.md:549)

  /** Numeric columns, mirroring the reference's dtype selection
    * `dtype in [float64, int64]` (DESIGN.md:542, 558).
    */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  /** Missing predicate per reference DESIGN.md:347-349:
    * numeric → isnull ∨ isnan; string → isnull ∨ == "".
    */
  def missingPred(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case DoubleType | FloatType => col(c).isNull || isnan(col(c))
    case _: NumericType         => col(c).isNull
    case StringType             => col(c).isNull || col(c) === ""
    case _                      => col(c).isNull
  }

  /** numpy-convention equi-width bucket index: right edge falls in the last
    * bin; degenerate range (lo == hi) puts everything in bin 0.
    */
  def bucketExpr(c: Column, lo: Double, hi: Double, bins: Int = Bins): Column =
    if (hi <= lo) lit(0)
    else least(lit(bins - 1), floor((c - lit(lo)) * bins / lit(hi - lo)).cast("int"))

  /** Full per-column summary of `cols` in exactly TWO scans regardless of
    * column count: scan 1 = all moments/extremes/medians/HLL for every
    * column in one HashAggregate; scan 2 = all histograms (which need the
    * scan-1 min/max for bin edges). Only `cols` are read — Catalyst prunes
    * the rest out of the parquet scan.
    *
    * @param exactMedian exact `median()` (sort-based, fixture parity) vs
    *   `approx_percentile` (mergeable, the 100TB path).
    */
  def summarize(df: DataFrame, cols: Seq[String], exactMedian: Boolean = false): Seq[ColStats] = {
    require(cols.nonEmpty, "no columns to summarize")
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      val clean = when(missingPred(df, c), null).otherwise(v)
      Seq(
        count(clean).as(s"${c}__count"),
        sum(when(missingPred(df, c), 1L).otherwise(0L)).as(s"${c}__missing"),
        min(clean).as(s"${c}__min"),
        max(clean).as(s"${c}__max"),
        avg(clean).as(s"${c}__mean"),
        stddev_samp(clean).as(s"${c}__stddev"),
        (if (exactMedian) median(clean) else approx_percentile(clean, lit(0.5), lit(10000)))
          .as(s"${c}__median"),
        approx_count_distinct(clean).as(s"${c}__distinct"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def d(n: String): Double = row.getAs[Any](n) match {
      case null => Double.NaN
      case x: Number => x.doubleValue()
    }
    val base = cols.map { c =>
      val cnt = row.getAs[Long](s"${c}__count")
      val miss = row.getAs[Long](s"${c}__missing")
      ColStats(c, cnt, miss,
        if (cnt + miss == 0) 0.0 else miss.toDouble / (cnt + miss),
        d(s"${c}__min"), d(s"${c}__max"), d(s"${c}__mean"), d(s"${c}__stddev"),
        d(s"${c}__median"), row.getAs[Long](s"${c}__distinct"), Seq.empty[Long],
        d(s"${c}__min"), d(s"${c}__max"))
    }
    // Scan 2: all histograms in one aggregate, bins pinned to scan-1 ranges.
    val histAggs = base.filter(s => s.count > 0).flatMap { s =>
      val v = when(missingPred(df, s.column), null).otherwise(col(s.column).cast("double"))
      val b = bucketExpr(v, s.bin_lo, s.bin_hi)
      (0 until Bins).map(i => sum(when(b === i, 1L).otherwise(0L)).as(s"${s.column}__h$i"))
    }
    if (histAggs.isEmpty) base
    else {
      val hrow = df.agg(histAggs.head, histAggs.tail: _*).collect()(0)
      base.map { s =>
        if (s.count == 0) s
        else s.copy(hist = (0 until Bins).map(i => Option(hrow.getAs[Any](s"${s.column}__h$i"))
          .map(_.asInstanceOf[Number].longValue).getOrElse(0L)))
      }
    }
  }
}

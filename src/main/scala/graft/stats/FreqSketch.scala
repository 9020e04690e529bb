package graft.stats

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequent-items (heavy-hitters) sketch of a string column — the
  * skew DETECTOR for mega-repos: at 10^12 files, a handful of viral repos
  * (a boilerplate template forked by millions) dominate the corpus, and the
  * engine should be able to NAME them from one pass, not discover them by
  * straggler autopsy.
  *
  * Why a sketch and not `GROUP BY repo ORDER BY count DESC LIMIT k`: the
  * exact form shuffles one row per DISTINCT repo (10^8-10^9 keys at target
  * scale) to answer a question whose answer is ~dozens of rows. The sketch
  * is Spark's built-in `approx_top_k_accumulate`, whose state is
  * datasketches-java's `ItemsSketch[String]` bounded at `maxMapSize`
  * entries; it merges associatively+commutatively (per-batch bytes merge
  * across committed batches) and ships a few KB through the shuffle
  * regardless of key cardinality. Nulls are skipped. Error model
  * (Misra-Gries lineage): every estimate E satisfies true ≤ E ≤ true +
  * maxError; items with true count above the threshold are GUARANTEED
  * reported (NO_FALSE_NEGATIVES).
  *
  * While the map never fills (distinct keys ≤ 0.75·maxMapSize) the sketch
  * is in the EXACT regime: estimates are exact counts and lower = upper
  * bound — which is what makes the DuckDB oracle (exact GROUP BY/HAVING)
  * byte-checkable at test scale, with the approximate regime covered by
  * guarantee property tests instead.
  */
object FreqSketch {

  /** Spark's upper limit on `approx_top_k`'s items tracked. */
  val MaxItemsTracked = 1000000

  /** Spark's `maxItemsTracked` for an ItemsSketch map of `maxMapSize`
    * entries (a power of 2 ≥ 8): the map holds 3/4 of its size before it
    * purges, and Spark sizes the map back up from this count.
    */
  def itemsTracked(maxMapSize: Int): Int = {
    require((maxMapSize & (maxMapSize - 1)) == 0 && maxMapSize >= 8,
      s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")
    maxMapSize / 4 * 3
  }

  /** Column API: the sketch bytes of a string column over a map of
    * `maxMapSize` entries (power of 2).
    */
  def accumulate(c: Column, maxMapSize: Int): Column =
    call_function("approx_top_k_accumulate", c, lit(itemsTracked(maxMapSize)))
      .getField("sketch")

  def heapify(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)

  /** The heavy-hitter rows (item, est, lb, ub) of the merged `sketches` at
    * a count `threshold`: NO_FALSE_NEGATIVES cut (every item whose true
    * count ≥ threshold is present; spurious rows are possible only in the
    * approximate regime and carry lb < threshold, so callers can see how
    * uncertain they are). Estimate-descending with item as the tie-break.
    */
  def frequentItems(sketches: Seq[Array[Byte]], threshold: Long): Seq[(String, Long, Long, Long)] =
    if (sketches.isEmpty) Seq.empty
    else {
      val merged = heapify(sketches.head)
      sketches.tail.foreach(b => merged.merge(heapify(b)))
      merged.getFrequentItems(threshold, ErrorType.NO_FALSE_NEGATIVES)
        .sortBy(r => (-r.getEstimate, r.getItem))
        .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
        .toSeq
    }

  /** One-pass skew profile of a key column: every key whose count reaches
    * `threshold` (NO_FALSE_NEGATIVES), as (item, est, lb, ub) rows. One
    * bounded-state aggregation — the shuffle carries sketch bytes, never
    * one row per distinct key — decoded on the driver.
    */
  def heavyHitters(df: DataFrame, keyCol: String, threshold: Long,
                   maxMapSize: Int = 1024): DataFrame = {
    import df.sparkSession.implicits._
    val bytes = df.agg(accumulate(col(keyCol).cast("string"), maxMapSize))
      .collect()(0).getAs[Array[Byte]](0)
    frequentItems(Seq(bytes), threshold).toDF("item", "est", "lb", "ub")
  }
}

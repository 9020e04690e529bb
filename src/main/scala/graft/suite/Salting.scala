package graft.suite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling for repo-keyed aggregations (north rule:
  * "repartition-by-repo-hash plus salting for skewed mega-repos").
  *
  * The generated table (like real code corpora) has one mega-repo holding
  * ~30% of all rows; a plain `groupBy(repo)` sends all of it to one reducer.
  * Because every aggregation state the engine uses is MERGEABLE (counts,
  * moments, HLL, t-digest — property-tested), a salted two-level aggregate
  * is exact:
  *   level 1: groupBy(repo, salt = pmod(xxhash64(path, commit), S)) partials
  *   level 2: groupBy(repo) merge of ≤ S partials per repo.
  * AQE's skew mitigation only covers joins, not aggregations — this path is
  * the engine's own (SURVEY.md §4 "Skew handling").
  */
object Salting {
  val DefaultBuckets = 16

  private def saltCol(buckets: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(buckets))

  /** Exact per-key row count via salted two-level aggregation. */
  def saltedCount(df: DataFrame, key: String, buckets: Int = DefaultBuckets,
                  saltSource: Seq[String] = Seq.empty): DataFrame = {
    val src = if (saltSource.nonEmpty) saltSource.map(col) else Seq(monotonically_increasing_id())
    df.groupBy(col(key), saltCol(buckets, src: _*).as("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum("_partial").as("count"))
  }

  /** Salt expression that salts ONLY the named hot keys; every other key
    * keeps salt 0. Static salting pays its cost on the LONG TAIL: the salt
    * splinters each map task's partial-aggregation state into up to
    * `buckets` rows per key, so the level-1 shuffle and the level-2
    * aggregation carry up to `buckets`× one-row-per-distinct-key — at 10^8+
    * distinct repos that multiplier IS the bill, paid to protect a few
    * dozen keys. Adaptive salting keeps the level-1 output at one partial
    * per cold key per map task and splinters only the hot keys, so the
    * extra volume is `buckets` × |hot| — constant — while reducer balance
    * for the mega-keys is identical to the static path.
    *
    * Exactness does NOT depend on the hot set (the two-level aggregate is
    * a homomorphism for any salt assignment — property-tested with
    * adversarial hot sets), so an overshooting detector is safe: the hot
    * set is the frequent-items sketch's NO_FALSE_NEGATIVES cut
    * ([[graft.stats.FreqSketch]]), which can name spurious borderline keys
    * but never misses a truly hot one.
    *
    * The hot set rides a broadcast literal (`isin` → `InSet` above
    * Catalyst's conversion threshold): bounded by the sketch's map size,
    * never a join.
    */
  def adaptiveSaltCol(key: Column, hotKeys: Seq[String], buckets: Int,
                      saltSource: Seq[Column]): Column =
    if (hotKeys.isEmpty) lit(0)
    else when(key.isin(hotKeys: _*), saltCol(buckets, saltSource: _*))
      .otherwise(lit(0))

  /** Level-1 partial counts per (key, _salt) — the intermediate whose row
    * volume the adaptive path bounds; exposed for the volume-law specs.
    */
  private[graft] def countPartials(df: DataFrame, key: String,
                                   salt: Column): DataFrame =
    df.groupBy(col(key), salt.as("_salt")).agg(count(lit(1)).as("_partial"))

  /** Exact per-key row count, salting only `hotKeys` (see
    * [[adaptiveSaltCol]]). Equal to `df.groupBy(key).count()` for ANY hot
    * set; pass the frequent-items cut to get static-salting reducer balance
    * at long-tail-free cost.
    */
  def adaptiveSaltedCount(df: DataFrame, key: String, hotKeys: Seq[String],
                          buckets: Int = DefaultBuckets,
                          saltSource: Seq[String] = Seq.empty): DataFrame = {
    val src = if (saltSource.nonEmpty) saltSource.map(col) else Seq(monotonically_increasing_id())
    countPartials(df, key, adaptiveSaltCol(col(key), hotKeys, buckets, src))
      .groupBy(col(key))
      .agg(sum("_partial").as("count"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.constraints.Constraints
import graft.dedup.{Components, Contamination, Dedup, Semantic}
import graft.drift.{Drift, GroupDrift, KsTest}
import graft.sample.Sampling
import graft.sim.{Ann, Ivf}
import graft.stats.{Outliers, Profile, Stats}
import graft.text.{Repetition, TextAnalysis}

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * plus the training-data pipeline operators (dedup/ANN/text/multimodal).
  * Every SQL-expressible query has a DuckDB oracle in [[oracleSql]] with
  * IDENTICAL column names and rounding; non-SQL-expressible ops (sketches,
  * p-values, LSH pipelines, the suite itself) are rows-only checks.
  */
object SparkEntry {

  private val BaselineDate = "1998-01-01" // lineitem baseline/current split

  /** The directory the correctness-gate queries write the parquet dumps
    * their DuckDB oracles re-derive from ([[oracleSql]] of the same root
    * reads them). Verify sets it under its output directory (and resets it
    * in a finally), so runs into different output directories never share
    * dumps; Bench leaves it None and no query writes a dump. It gates ONLY
    * the dump writes, never the plan shape — every timed bench plan is
    * exactly the gate-covered plan (q_simhash_pairs persists in both
    * modes; q_ann_ivf builds + searches its committed index identically,
    * just rooted at a throwaway temp dir in bench, where the index write
    * is intrinsic to the timed operator).
    */
  @volatile var oracleDumpRoot: Option[String] = None

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------ helpers

  private def one(spark: SparkSession, names: Seq[String], vals: Seq[Double]): DataFrame = {
    val row = org.apache.spark.sql.Row(vals: _*)
    val schema = org.apache.spark.sql.types.StructType(names.map(n =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(java.util.List.of(row), schema)
  }

  private def r(c: Column, n: Int = 4): Column = round(c, n)

  /** One suite run per input size per JVM, shared by the three suite
    * queries (q_code_suite / q_suite_counts / q_suite_drift_check) — the
    * generator is deterministic, so re-validating the identical table per
    * query would only burn driver actions. Verdicts are plain Scala data,
    * unaffected by Verify's between-query clearCache.
    */
  private val suiteVerdictsCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[graft.suite.Verdict]]()
  private def suiteVerdicts(s: SparkSession, rows: Long): Seq[graft.suite.Verdict] =
    suiteVerdictsCache.computeIfAbsent(rows, _ => {
      val code = graft.gen.CodeTableGen.generate(s, rows, batches = 4)
      val dim = graft.gen.CodeTableGen.repoLangDim(s)
      withTempRoot("graft_q_suite") { tmp =>
        graft.suite.SuiteRunner.run(s, code, dim, new graft.tableio.ParquetTableIO(tmp))
      }
    })

  /** Runs `f` on a fresh temp directory and deletes it afterwards. Only for
    * an `f` whose result is fully materialized: a lazy DataFrame over the
    * directory would outlive it.
    */
  private[graft] def withTempRoot[A](prefix: String)(f: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try f(root.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  /** Runs `f` on the oracle dump root when Verify asks for dumps, else on a
    * temp root that is deleted afterwards. The result is computed before
    * the root goes: a local relation does not read the root again.
    */
  private def onDumpRoot(prefix: String)(f: String => DataFrame): DataFrame =
    oracleDumpRoot match {
      case Some(root) => local(f(root))
      case None => withTempRoot(prefix)(f andThen local)
    }

  /** Writes `df` as the oracle dump `name` when Verify asks for dumps. */
  private def dump(df: => DataFrame, name: String): Unit =
    oracleDumpRoot.foreach(root => df.write.mode("overwrite").parquet(s"$root/$name"))

  /** `df` computed now, as a local relation that no longer reads its inputs. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The DuckDB recomputation of the suite's integer verdict columns over a
    * written copy of the engine's exact input — ONE definition used by both
    * the batch (q_suite_counts) and streaming (q_streaming_suite_counts)
    * gates, so the two oracles cannot drift apart.
    */
  private def suiteCountsOracleSql(inputGlob: String): String =
    s"""WITH code AS (
           SELECT * FROM read_parquet('$inputGlob')),
         batches AS (SELECT DISTINCT batch_id FROM code),
         dup AS (
           SELECT batch_id, CAST(sum(c - 1) AS BIGINT) AS n
           FROM (SELECT batch_id, repo, path, commit, count(*) AS c
                 FROM code GROUP BY 1, 2, 3, 4 HAVING count(*) > 1)
           GROUP BY 1),
         refv AS (
           SELECT batch_id, count(*) AS n FROM code
           WHERE lang NOT IN ('scala', 'java', 'python', 'go', 'rust', 'markdown')
           GROUP BY 1),
         comp AS (
           SELECT batch_id,
                  CAST(sum(CASE WHEN path IS NULL OR path = '' THEN 1 ELSE 0 END) AS BIGINT) AS n
           FROM code GROUP BY 1),
         sha AS (
           SELECT batch_id,
                  CAST(sum(CASE WHEN sha256(content) <> expected_sha256 THEN 1 ELSE 0 END) AS BIGINT) AS n
           FROM code GROUP BY 1)
         SELECT * FROM (
           SELECT b.batch_id, 'completeness' AS "check",
                  coalesce(c.n, 0) AS violation_count, coalesce(c.n, 0) = 0 AS passed
           FROM batches b LEFT JOIN comp c USING (batch_id)
           UNION ALL
           SELECT b.batch_id, 'referential', CAST(coalesce(r.n, 0) AS BIGINT),
                  coalesce(r.n, 0) = 0
           FROM batches b LEFT JOIN refv r USING (batch_id)
           UNION ALL
           SELECT b.batch_id, 'sha256_invariant', coalesce(s.n, 0), coalesce(s.n, 0) = 0
           FROM batches b LEFT JOIN sha s USING (batch_id)
           UNION ALL
           SELECT b.batch_id, 'uniqueness', coalesce(d.n, 0), coalesce(d.n, 0) = 0
           FROM batches b LEFT JOIN dup d USING (batch_id))
         ORDER BY batch_id, "check""""

  /** Perturbed near-duplicate corpus: documents ∪ copies of the first 50
    * docs with the last word dropped (deterministic near-dups for the
    * minhash/simhash/jaccard pipelines).
    */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dups = docs.where(col("doc_id") < 50).select(
      (col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
    docs.unionByName(dups)
  }

  // ------------------------------------------------------------ queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== aggregation / stats core (SURVEY A1-A6, A13-A15) =====

    // A7-style multi-aggregate with map-side partial agg (TPC-H Q1 shape)
    "q_agg_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(r(sum("l_quantity"), 2).as("sum_qty"),
          r(sum("l_extendedprice"), 2).as("sum_price"),
          r(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // one-pass multi-column stats (A2/A4 pattern: ONE HashAggregate)
    "q_stats_onepass" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        count(lit(1)).as("n"),
        r(min("l_quantity"), 2).as("qty_min"), r(max("l_quantity"), 2).as("qty_max"),
        r(avg("l_quantity"), 6).as("qty_mean"), r(stddev_samp(col("l_quantity")), 6).as("qty_std"),
        r(min("l_extendedprice"), 2).as("price_min"), r(max("l_extendedprice"), 2).as("price_max"),
        r(avg("l_extendedprice"), 4).as("price_mean"), r(stddev_samp(col("l_extendedprice")), 4).as("price_std"))
    }),

    // A5 exact median
    "q_median" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        r(median(col("l_quantity")), 4).as("qty_median"),
        r(median(col("l_discount")), 4).as("disc_median"))
    }),

    // exact distinct counts (vs the HLL path below)
    "q_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_suppkey")).as("supps"),
        countDistinct(col("l_orderkey")).as("orders"))
    }),

    // A14 HLL approximate distinct — SELF-VALIDATING: the sketch estimate is
    // compared against the exact count in the same aggregate, and the
    // tolerance verdict (constant-true oracle) is what the driver checks
    "q_hll_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        countDistinct(col("l_partkey")).as("ep"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        countDistinct(col("l_orderkey")).as("eo"))
        .select(
          (abs(col("ap") - col("ep")).cast("double") / col("ep") <= 0.05).as("parts_ok"),
          (abs(col("ao") - col("eo")).cast("double") / col("eo") <= 0.05).as("orders_ok"))
    }),

    // Frequent-items (heavy-hitters) sketch — the skew detector for
    // repo-keyed stages. maxMapSize 4096 > the 1.5k distinct custkeys keeps
    // the sketch in its EXACT regime, so every estimate equals the true
    // count and lb == ub == est — which is precisely what the exact
    // GROUP BY/HAVING oracle asserts (the approximate regime's guarantees
    // are property-tested in FreqSketchSpec instead).
    "q_heavy_hitters" -> ((s, dir) => {
      graft.stats.FreqSketch.heavyHitters(
          Tables.orders(s, dir), "o_custkey", threshold = 18L, maxMapSize = 4096)
        .select(col("item").cast("long").as("custkey"),
                col("est"), col("lb"), col("ub"))
        .orderBy("custkey")
    }),

    // A15 KLL quantiles — SELF-VALIDATING on RANK (the quantity a KLL
    // sketch bounds, ε = 0.0028 at the suite's k): the exact rank of each
    // sketch quantile must sit within ±0.02 of the requested rank
    "q_kll_quantile" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val sk = kll_sketch_agg_double(col("l_extendedprice").cast("double"),
        graft.suite.SuiteConfig.KllK)
      val r0 = li.agg(kll_sketch_get_quantile_double(sk, lit(0.5)).as("q50"),
        kll_sketch_get_quantile_double(sk, lit(0.95)).as("q95")).collect()(0)
      val (q50, q95) = (r0.getDouble(0), r0.getDouble(1))
      val rk = li.agg(
        (sum(when(col("l_extendedprice") <= q50, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("r50"),
        (sum(when(col("l_extendedprice") <= q95, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("r95")).collect()(0)
      Seq((math.abs(rk.getDouble(0) - 0.5) <= 0.02,
        math.abs(rk.getDouble(1) - 0.95) <= 0.02)).toDF("p50_ok", "p95_ok")
    }),

    // A6 10-bin equi-width histogram, numpy right-edge convention
    "q_histogram" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val mm = li.agg(min("l_extendedprice"), max("l_extendedprice")).collect()(0)
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      li.groupBy(Stats.bucketExpr(col("l_extendedprice"), lo, hi).as("bin"))
        .agg(count(lit(1)).as("n")).orderBy("bin")
    }),

    // A2/A3 completeness counts in one pass; the missing predicates (P5)
    // are Stats.missingPred's for a double, a string and a bigint column
    "q_completeness" -> ((s, dir) => {
      import s.implicits._
      val cols = Seq("value", "props", "user_id")
      val rep = graft.suite.Validation.validate(Tables.events(s, dir), cols, Nil)
      // Option: the missing counts are nullable columns, as SQL sum()s are
      val miss = cols.map(c => Option(rep.missingCounts(c)))
      Seq((rep.totalRecords, miss(0), miss(1), miss(2)))
        .toDF("total", "missing_value", "missing_props", "missing_user")
    }),

    // P6 conditional range expectation (GE row_condition semantics: a NULL
    // or NaN value under the condition is a failure)
    "q_conditional_range" -> ((s, dir) => {
      import s.implicits._
      val purchase = graft.suite.Validation.RangeExpectation(
        "purchase_range", col("event_type") === "purchase", "value", 0, 100)
      val (failures, rows) = graft.suite.Validation.validate(
        Tables.events(s, dir), Nil, Seq(purchase)).expectationResults("purchase_range")
      // Option: nullable columns, as SQL sum()s are
      Seq((Option(failures), Option(rows))).toDF("purchase_range_failures", "purchase_rows")
    }),

    // ===== windows (W1-W4, A7, A8) =====

    // A8: count-based tumbling windows of 50 per key; unusual ratio > 0.10
    // (sensor.py:186-193 batch analog — the window RESETS at 50, so windows
    // tumble). unusual := value > 150.
    "q_count_window_drift" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val windows = e.withColumn("rn", row_number().over(w))
        .withColumn("win", floor((col("rn") - 1) / 50))
      Drift.unusualRatio(windows, Seq("event_type", "win"), col("value") > 150)
        .where(col("n") === 50)
        .select(col("event_type"), col("win"), col("unusual_count").as("unusual"),
          r(col("ratio"), 4).as("ratio"), col("drift_detected").as("drift"))
        .orderBy("event_type", "win")
    }),

    // A8 REFERENCE-EXACT trace (sensor.py:178-194): growing window, every
    // event evaluated once the window holds ≥ 50, denominator fixed at 50,
    // reset ONLY on drift. One row per drift fire; DuckDB oracle replays the
    // same sequential semantics with a recursive CTE over cumulative counts.
    "q_growing_window_drift" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).select(
        col("event_type").as("key"),
        unix_micros(col("ts").cast("timestamp")).as("o1"), // session TZ is UTC
        col("event_id").as("o2"),
        (col("value") > 150).as("unusual")).as[graft.streaming.DriftStream.KeyedEvent]
      graft.streaming.DriftStream.growingWindowDrift(ev)
        .toDF().orderBy("event_type", "fire_rn")
    }),

    // W1: true count-based SLIDING frame rowsBetween(-49, 0) — running
    // unusual ratio over the last 50 events per key (sensor window before
    // the reset decision); emitted at every 100th event to keep output small
    "q_sliding_window_ratio" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      e.withColumn("rn", row_number().over(w))
        .withColumn("win_n", count(lit(1)).over(w.rowsBetween(-49, 0)))
        .withColumn("unusual_50",
          sum(when(col("value") > 150, 1L).otherwise(0L)).over(w.rowsBetween(-49, 0)))
        .where(col("win_n") === 50 && col("rn") % 100 === 0)
        .select(col("event_type"), col("rn"),
          r(col("unusual_50") / 50.0, 4).as("ratio"),
          (col("unusual_50") / 50.0 > 0.10).as("drift"))
        .orderBy("event_type", "rn")
    }),

    // W2/A7: 5-minute tumbling window (count, sum) of one event type
    "q_time_window_agg" -> ((s, dir) => {
      graft.streaming.DriftStream.tumblingAgg(Tables.events(s, dir), "click")
        .select(unix_timestamp(col("window_start")).as("window_start"),
          col("event_count").as("n"), r(col("value_sum"), 4).as("value_sum"))
        .orderBy("window_start")
    }),

    // W3/O5: top-k per group with deterministic ties
    "q_topk_per_group" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank")
    }),

    // O1/O2: sort desc + limit (news output semantics)
    "q_sort_limit" -> ((s, dir) => {
      Tables.documents(s, dir)
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(20)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    // F9: JSON parse of the props column
    "q_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", from_json(col("props"), lit("k INT")).getField("k"))
        .groupBy("event_type").agg(sum("k").as("k_sum"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // P8: status labeling (UNUSUAL/Normal per sensor.py:183)
    "q_status_label" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("status", when(col("value") > 150, "UNUSUAL").otherwise("Normal"))
        .groupBy("event_type", "status").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "status")
    }),

    // ===== joins (J1-J4) =====

    // J2-style enrichment via two broadcast dims (supplier → nation)
    "q_join_enrich" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .groupBy("n_name")
        .agg(r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("n_name")
    }),

    // J1: Constraints.referential against a broadcast dimension; its capped
    // violation sample (first 100 in lang order) holds every bad lang
    "q_referential_antijoin" -> ((s, dir) => {
      import s.implicits._
      val allowed = Seq("en", "es", "de", "fr").toDF("lang")
      Constraints.referential(Tables.documents(s, dir), allowed, Seq("lang")).violations
        .withColumnRenamed("violation_count", "violations")
    }),

    // J4/U3: incremental anti-join vs the "seen" set
    "q_incremental_antijoin" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val seen = d.where(col("doc_id") < 250).select("lang", "source")
      Dedup.newOnly(d.where(col("doc_id") >= 250), seen, Seq("lang", "source"))
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    // J4 at scale: the bloom-accelerated seen-set anti-join — rows missing
    // the committed filter skip the join; hits (true dups + fpp sliver)
    // are exactly re-checked. Result is EXACT, so the oracle is the plain
    // SQL anti-join — the bloom is invisible to semantics by construction
    "q_bloom_newonly" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val seen = d.where(col("doc_id") < 250)
      val incoming = d.where(col("doc_id") >= 200)
      Dedup.newOnlyBloom(incoming, seen, Seq("doc_id"), fpp = 0.01)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // J4 layout answer: the seen-set committed as a BUCKETED store — the
    // corpus side of the exact anti-join is hash-partitioned at write time
    // and never shuffles again (BucketedSpec proves the one-Exchange plan);
    // semantics identical to the plain anti-join, so the oracle is the
    // same SQL as q_bloom_newonly's
    "q_bucketed_newonly" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      withTempRoot("graft_q_bucketed_seen") { storeDir =>
        graft.tableio.Bucketed.commit(
          d.where(col("doc_id") < 250).select("doc_id"),
          "graft_q_seen_bucketed", storeDir, Seq("doc_id"), buckets = 8)
        val seen = graft.tableio.Bucketed.open(s, "graft_q_seen_bucketed", storeDir)
        local(Dedup.newOnly(d.where(col("doc_id") >= 200), seen, Seq("doc_id"))
          .select("doc_id", "lang").orderBy("doc_id"))
      }
    }),

    // gap-based sessionization (1h gap) rolled up to session rows —
    // three users keep the output bounded while exercising hundreds of
    // real session breaks per user at every SF
    "q_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id") < 3)
      graft.streaming.Sessionize.sessionize(ev, "user_id", "ts", 3600.0)
        .groupBy("user_id", "session_index")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .orderBy("user_id", "session_index")
    }),

    // novel-category detection: values never seen in the baseline side,
    // planted deterministically (every 97th odd doc gets a '-new' lang
    // suffix; odd docs are the current side) so the check has true
    // positives at every SF while real langs appear on both sides
    "q_novel_categories" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("lang2",
        when(col("doc_id") % 97 === 0 && col("doc_id") % 2 === 1,
          concat(col("lang"), lit("-new"))).otherwise(col("lang")))
      GroupDrift.novelCategories(d, "lang2", col("doc_id") % 2 === 0)
        .orderBy("value")
    }),

    // functional-dependency constraint: user_id → event_type is violated
    // (users emit many types), event_id → event_type holds (the passed
    // flag rides every row so the satisfied case is gate-covered). The
    // input is bounded to user_id < 120 so the determinant count can
    // never exceed the operator's sample cap at ANY SF (sf0.1 has 1500
    // violating users — an uncapped dump there would silently truncate
    // against the oracle's full list)
    "q_fd_check" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id") < 120)
      val viol = Constraints.functionalDependency(
        ev, Seq("user_id"), Seq("event_type"), cap = 1000)
      val sat = Constraints.functionalDependency(
        ev, Seq("event_id"), Seq("event_type"), cap = 10)
      viol.violations
        .withColumn("id_fd_passed", lit(sat.passed))
        .orderBy("user_id")
    }),

    // row-level outlier flags (Tukey fences + z-score) over events.value,
    // rolled up to counts + fences; the flagged-row ids are cross-checked
    // by the oracle re-deriving the same fences from quantile_cont
    "q_outliers" -> ((s, dir) => {
      val f = Outliers.flag(Tables.events(s, dir), "value")
      f.agg(count(lit(1)).as("n_rows"),
        sum(when(col("is_outlier_iqr"), 1L).otherwise(0L)).as("n_iqr"),
        sum(when(col("is_outlier_z"), 1L).otherwise(0L)).as("n_z"),
        r(min("lo_fence")).as("lo_fence"), r(max("hi_fence")).as("hi_fence"),
        sum(when(col("is_outlier_iqr"), col("event_id")).otherwise(0L))
          .as("iqr_id_sum"))
    }),

    // Deequ-style column profiler (Schelter et al. VLDB 2018 analyzers):
    // three columns of very different cardinality (5-value categorical,
    // mid-card user_id, all-unique event_id) share one melted shuffle;
    // integer/string columns only so the string rendering is
    // engine-stable (see Profile scaladoc)
    "q_column_profile" -> ((s, dir) => {
      Profile.profile(Tables.events(s, dir),
        Seq("event_type", "user_id", "event_id"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          r(col("completeness")).as("completeness"), col("n_distinct"),
          r(col("distinctness")).as("distinctness"), col("n_unique"),
          r(col("uniqueness")).as("uniqueness"),
          r(col("unique_ratio")).as("unique_ratio"),
          r(col("entropy")).as("entropy"), col("top_value"),
          r(col("top_ratio")).as("top_ratio"))
        .orderBy("col_name")
    }),

    // volume-anomaly check over daily batch counts (DESIGN.md:598): day 15
    // is inflated ×5 deterministically so the z-gate has a true positive;
    // the first `trailing` days must stay unjudged (null z, flag false)
    "q_volume_anomaly" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day")).count()
        .select(col("day"),
          when(col("day").endsWith("-15"), col("count") * 5)
            .otherwise(col("count")).as("n_rows"))
      graft.suite.Monitoring.volumeAnomaly(daily, "day", "n_rows")
        .select(col("day"), col("n").cast("long").as("n_rows"),
          r(col("hist_mean")).as("hist_mean"), r(col("hist_std")).as("hist_std"),
          r(col("z")).as("z"), col("volume_anomaly"))
        .orderBy("day")
    }),

    // Freshness/timeliness (reference DESIGN.md:602): per-type staleness
    // against the dataset watermark — closed-set deterministic (reference
    // time = global max ts, never the wall clock), whole-second floors on
    // both sides so the oracle agrees bit-for-bit
    "q_freshness" -> ((s, dir) => {
      graft.suite.Monitoring.freshness(
        Tables.events(s, dir), "ts", Seq("event_type"), thresholdSec = 86400L)
        .orderBy("event_type")
    }),

    // Schema validation (reference DESIGN.md:317-326, 600): the pre-flight
    // gate's pin → reload → diff path end-to-end, DuckDB-oracled from
    // parquet FOOTERS — both sides are written with their declared schemas
    // (REQUIRED/OPTIONAL lands in the footer) and the oracle re-derives
    // every issue kind from parquet_schema() alone, an independent
    // footer-level reimplementation of the diff. Spark-side nullability
    // must come from the DECLARED schema (file read-back is forced
    // nullable), which is exactly why the engine pins schema JSON to the
    // audit dir instead of trusting re-read footers.
    "q_schema_check" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      val d = Tables.documents(s, dir)
      val src = d.orderBy("doc_id").limit(50)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("double"))
        .collect() // bounded: 50 rows, schema-contract fixture only
      val baseSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("lang", StringType, nullable = true),
        StructField("score", DoubleType, nullable = false)))
      val curSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = true),   // relaxed
        StructField("score", StringType, nullable = true),  // retyped
        StructField("extra", LongType, nullable = true)))   // new (+ lang dropped)
      val baseDf = s.createDataFrame(
        java.util.Arrays.asList(src.map(r => Row(r.getLong(0), r.getString(1),
          r.getDouble(2))): _*), baseSchema)
      val curDf = s.createDataFrame(
        java.util.Arrays.asList(src.map(r => Row(r.getLong(0),
          r.getDouble(2).toString, r.getLong(0) * 2)): _*), curSchema)
      // the result is a local relation, so both temp roots can go at once
      def writeInputs(outBase: String): Unit = {
        baseDf.coalesce(1).write.mode("overwrite").parquet(s"$outBase/schema_base")
        curDf.coalesce(1).write.mode("overwrite").parquet(s"$outBase/schema_cur")
      }
      oracleDumpRoot match {
        case Some(root) => writeInputs(root)
        case None => withTempRoot("graft_schema_q")(writeInputs)
      }
      val issues = withTempRoot("graft_schema_audit") { root =>
        val io = new graft.tableio.ParquetTableIO(root)
        graft.suite.SchemaCheck.pin(io, baseSchema)
        graft.suite.SchemaCheck.preflight(io, curSchema)
      }
      import s.implicits._
      issues.map(i => (i.column, i.issue)).toDF("col_name", "issue")
        .orderBy("col_name", "issue")
    }),

    // U1/U2: union + dedup
    "q_union_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val a = d.where(col("doc_id") < 300)
      val b = d.where(col("doc_id") >= 200)
      a.unionByName(b).dropDuplicates("doc_id")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
    }),

    // ===== dedup family =====

    // A12 exact dedup via normalized-content fingerprint
    "q_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir).agg(
        count(lit(1)).as("total"),
        countDistinct(TextAnalysis.fingerprint(col("text"))).as("distinct_fp"))
    }),

    // A12 first-wins (news.py:74-82)
    "q_dedup_firstwins" -> ((s, dir) => {
      Dedup.firstWins(Tables.documents(s, dir), Seq("lang", "source"), "doc_id")
        .select("doc_id", "lang", "source").orderBy("lang", "source")
    }),

    // A12 last-wins (news.py:350-356)
    "q_dedup_lastwins" -> ((s, dir) => {
      Dedup.lastWins(Tables.documents(s, dir), Seq("lang", "source"), "doc_id")
        .select("doc_id", "lang", "source").orderBy("lang", "source")
    }),

    // MinHash + LSH near-dup pairs, DuckDB-oracled from the written
    // signature table: DuckDB cannot reproduce xxhash64, but it does not
    // need to — the query dumps the Spark-computed signatures and the
    // oracle RE-DERIVES banding (band = equality of the 4-long slice —
    // equal slices iff equal band keys, xxhash64 being injective modulo
    // 2^-64 collisions), candidate generation, signature agreement and the
    // threshold filter in pure SQL (the q_suite_counts pattern).
    // est_jaccard is a dyadic rational (k/64) — exact in both engines, so
    // no rounding is needed for hash parity.
    "q_minhash_pairs" -> ((s, dir) => {
      val sigs = Dedup.minhashSignatures(nearDupCorpus(s, dir), "doc_id", "text", 64, 3)
        .persist()
      dump(sigs, "minhash_sigs")
      val out = try Dedup.minhashLshPairsFromSigs(sigs, threshold = 0.5)
        finally sigs.unpersist(blocking = false)
      out.orderBy("id1", "id2")
    }),

    // near-dup GROUPS: transitive closure of the minhash-LSH pair graph via
    // distributed large-star/small-star connected components — every paired
    // doc labeled with its cluster's min id. DuckDB-oracled from the written
    // pair table (itself gate-covered by q_minhash_pairs on the same corpus
    // and threshold) with a recursive-CTE transitive closure.
    "q_dedup_clusters" -> ((s, dir) => {
      val sigs = Dedup.minhashSignatures(nearDupCorpus(s, dir), "doc_id", "text", 64, 3)
        .persist()
      val pairs = try Dedup.minhashLshPairsFromSigs(sigs, threshold = 0.5)
        finally sigs.unpersist(blocking = false)
      dump(pairs.select("id1", "id2"), "cluster_pairs")
      val out = try Components.connectedComponents(pairs)
        finally pairs.unpersist(blocking = false)
      out.orderBy("id")
    }),

    // INCREMENTAL clusters: the same pair graph split deterministically in
    // two (xxhash64 of the edge), the first half solved as a committed
    // (id, rep) store, the second applied via incrementalComponents — the
    // per-batch maintenance path. The oracle is the SAME recursive-CTE
    // closure over the FULL dumped pair set: a green row proves
    // incremental-apply == full recompute on real LSH output, including
    // cluster merges across the split.
    "q_dedup_clusters_incremental" -> ((s, dir) => {
      val sigs = Dedup.minhashSignatures(nearDupCorpus(s, dir), "doc_id", "text", 64, 3)
        .persist()
      val pairs = try Dedup.minhashLshPairsFromSigs(sigs, threshold = 0.5)
        .select("id1", "id2").persist()
        finally sigs.unpersist(blocking = false)
      dump(pairs, "cluster_pairs_incr")
      val half = pmod(xxhash64(col("id1"), col("id2")), lit(2)) === 0
      val store = Components.connectedComponents(pairs.where(half))
      val out = try Components.incrementalComponents(store, pairs.where(!half))
        finally pairs.unpersist(blocking = false)
      out.orderBy("id")
    }),

    // SimHash near-dup pairs, DuckDB-oracled from the written simhash
    // table: the oracle re-derives the 4×16-bit block LSH ((sh >> 16b) &
    // 0xFFFF — the mask makes arithmetic vs logical shift irrelevant),
    // candidate join, hamming distance (bit_count of xor, two's complement
    // in both engines) and the ≤3 filter
    "q_simhash_pairs" -> ((s, dir) => {
      // ONE shape for gate and bench — the timed plan IS the gate-covered
      // plan: simhashes persist to back the 4-block self-join; only the
      // oracle dump write is Verify-side bookkeeping. The lazy result
      // references the cache, so the unpersist is the caller's clearCache
      // after the result is written (Verify) or timed (Bench).
      val sh = Dedup.simhashes(nearDupCorpus(s, dir), "doc_id", "text").persist()
      dump(sh, "simhashes")
      Dedup.simhashPairsFromHashes(sh, maxDist = 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id1", "id2")
    }),

    // Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    // native one-pass kernel, row-local (no shuffle). Multi-line content is
    // planted deterministically (documents have no newlines) by tripling
    // every doc_id % 3 == 0 text as three lines — those docs must show
    // dup_line_frac 2/3; the DuckDB oracle recomputes all three fractions
    // from the raw text with the same pinned normalization
    "q_repetition" -> ((s, dir) => {
      val src = Tables.documents(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat_ws("\n", col("text"), col("text"), col("text")))
            .otherwise(col("text")).as("c"))
      src.select(col("doc_id"), Repetition.statsCol(col("c"), 2).as("st"))
        .select(col("doc_id"),
          r(col("st.dup_line_frac")).as("dup_line_frac"),
          r(col("st.dup_line_char_frac")).as("dup_line_char_frac"),
          r(col("st.top_ngram_char_frac")).as("top_ngram_char_frac"))
        .orderBy("doc_id")
    }),

    // benchmark-contamination report (GPT-3 §C 13-gram protocol, n=3 at
    // test scale so the synthetic corpus overlaps at all): eval set =
    // doc_id % 17 == 0, corpus = the rest under 300. Spark joins 64-bit
    // gram hashes (broadcast eval side); the oracle re-derives gram
    // STRINGS from raw text — a hash collision would fail the gate
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Contamination.report(
        docs.where(col("doc_id") % 17 =!= 0 && col("doc_id") < 300),
        docs.where(col("doc_id") % 17 === 0),
        "doc_id", "text", n = 3, minOverlap = 1)
        .orderBy("doc_id")
    }),

    // C4-style boilerplate detection: 3-grams shared by >= 5 documents,
    // named by the bounded freq sketch and confirmed exactly; maxMapSize
    // 65536 keeps the sketch in its EXACT regime (maximumError 0) at
    // every SF — sf0.1 has ~27k distinct grams, above the default map's
    // purge point, and the operator refuses loudly rather than miss
    "q_boilerplate" -> ((s, dir) => {
      Dedup.boilerplateNgrams(Tables.documents(s, dir), "doc_id", "text",
        n = 3, minDocs = 5, maxMapSize = 65536)
        .orderBy("gram")
    }),

    // exact word-3-gram Jaccard re-rank over a DETERMINISTIC candidate set
    // (the injected near-dup pairs), string shingles → fully SQL-expressible
    // and DuckDB-oracled; LSH candidate generation is exercised separately
    // in q_minhash_pairs
    "q_ngram_jaccard" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      val a = corpus.where(col("doc_id") < 50)
        .select(col("doc_id").as("id1"), Dedup.shingleStrings(col("text"), 3).as("g1"))
      val b = corpus.where(col("doc_id") >= 100000)
        .select((col("doc_id") - 100000).as("id1"), col("doc_id").as("id2"),
          Dedup.shingleStrings(col("text"), 3).as("g2"))
      a.join(b, "id1")
        .select(col("id1"), col("id2"), r(Dedup.jaccard(col("g1"), col("g2")), 4).as("jaccard"))
        .orderBy("id1")
    }),

    // embedding-cosine near-dup pairs via sign-LSH, DuckDB-oracled from the
    // written (id, v) vectors and (id, t, sig) band table: the oracle
    // re-derives the bucket self-join, candidate dedup, exact cosine
    // (list_cosine_similarity on the same double vectors) and the ≥0.9
    // filter. The driver embeddings are random (no true near-dups), so
    // near-dup vectors are injected deterministically: copies of the first
    // 20 with one coordinate nudged (cosine ≈ 0.999). Vectors are cast to
    // double up front so both engines score identical inputs.
    "q_embedding_pairs" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val dups = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(i === 0, x + 0.05d).otherwise(x)).as("embedding"))
      val vecs = e.unionByName(dups)
        .select(col("vec_id").as("id"), col("embedding").as("v")).persist()
      // same (bits, tables) the embeddingPairs default derives at bits=8
      val bands = Dedup.signLshBands(vecs, 8, Dedup.autoTables(8, 0.9)).persist()
      dump(vecs, "emb_vecs")
      dump(bands, "emb_bands")
      val out = try Dedup.embeddingPairsFromBands(vecs, bands, 0.9)
        finally { bands.unpersist(blocking = false); vecs.unpersist(blocking = false) }
      out.withColumn("cosine", r(col("cosine"), 4)).orderBy("id1", "id2")
    }),

    // training-mixture quota sampling: per-lang hash-smallest cut via the
    // range-bucketed two-phase form (buckets=8 forces real boundary-bucket
    // ranking on this corpus). DuckDB-oracled from the written
    // (doc_id, lang, h) key table: the oracle re-ranks per lang over the
    // same Spark-computed hashes and applies the same quotas; 'fr' has no
    // quota and must vanish entirely
    "q_quota_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      dump(docs.select(col("doc_id"), col("lang"), xxhash64(col("doc_id")).as("h")),
        "quota_keys")
      val quotas = Map("en" -> 100L, "zh" -> 40L, "es" -> 40L, "de" -> 25L)
      Sampling.quotaByHash(docs, "lang", quotas, Seq("doc_id"), buckets = 8)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // semantic dedup (SemDeDup): k-means-cluster the embedding space, find
    // within-cluster cosine pairs, connected-components them, label every
    // vector with its component's min id. DuckDB-oracled from the written
    // (id, v, list_id) table: the oracle re-derives the within-cluster
    // self-join, exact cosine, threshold, recursive-CTE closure and the
    // survivor labels
    "q_semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      val dups = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(i === 0, x + 0.05d).otherwise(x)).as("embedding"))
      val vecs = e.unionByName(dups)
      val cents = Ivf.trainCentroids(vecs, "vec_id", "embedding", nlist = 8)
      val clustered = Semantic.withClusters(vecs, "vec_id", "embedding", cents)
        .persist()
      dump(clustered, "sem_clustered")
      val out = try Semantic.semanticGroupsFromClusters(clustered, tau = 0.9)
        .localCheckpoint()
        finally clustered.unpersist(blocking = false)
      out.orderBy("id")
    }),

    // SELF-VALIDATING recall rows for the three LSH pair pipelines: the 50
    // injected near-dup pairs (id, id+100000) are ground truth; the pair
    // queries above keep emitting the raw pairs (rows-only), these emit the
    // oracle-checkable verdicts. Thresholds sit under the measured recalls
    // (minhash 1.0, simhash 0.74-0.78 — hamming ≤3 legitimately misses
    // word-drops that flip >3 bits; embedding ~1.0 at cosine 0.999).
    "q_minhash_recall" -> ((s, dir) => {
      import s.implicits._
      val hits = Dedup.minhashLshPairs(nearDupCorpus(s, dir), "doc_id", "text", threshold = 0.5)
        .where(col("id2") === col("id1") + 100000 && col("id1") < 50).count()
      Seq((hits / 50.0 >= 0.9, 50L)).toDF("recall_ok", "injected")
    }),

    "q_simhash_recall" -> ((s, dir) => {
      import s.implicits._
      val hits = Dedup.simhashPairs(nearDupCorpus(s, dir), "doc_id", "text", maxDist = 3)
        .where(col("id2") === col("id1") + 100000 && col("id1") < 50).count()
      Seq((hits / 50.0 >= 0.6, 50L)).toDF("recall_ok", "injected")
    }),

    "q_embedding_recall" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val dups = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
      // same parameters as q_embedding_pairs (tables auto-derived) so the
      // recall gate measures the configuration that pipeline actually ships
      val hits = Dedup.embeddingPairs(e.unionByName(dups), "vec_id", "embedding",
          threshold = 0.9, bits = 8)
        .where(col("id2") === col("id1") + 100000 && col("id1") < 20).count()
      Seq((hits / 20.0 >= 0.9, 20L)).toDF("recall_ok", "injected")
    }),

    // ===== similarity search =====

    // brute-force cosine top-k (exact baseline) — double-precision cosine on
    // both sides so DuckDB's list_cosine_similarity can oracle the result
    "q_ann_bruteforce" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      Ann.bruteForceTopK(e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .withColumn("cosine", r(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    // LSH-bucketed ANN (scale path) — SELF-VALIDATING near-dup retrieval:
    // perturbed copies of 20 corpus vectors (cosine ≈ 0.999 to their
    // origin) must retrieve the origin in their LSH top-k; recall ≥ 0.9.
    // (Recall vs brute force on the random corpus is measured in AnnSpec —
    // random vectors are the adversarial case and not a stable oracle.)
    "q_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val qs = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(i === 0, x + lit(0.05d)).otherwise(x)).as("embedding"))
      val res = Ann.lshTopK(qs, e, "vec_id", "embedding", k = 5, bits = 8, tables = 4)
      val hits = res.where(col("neighbor_id") === col("query_id") - 100000).count()
      Seq((hits.toDouble / 20 >= 0.9, 20L)).toDF("recall_ok", "n_queries")
    }),

    // IVF ANN (coarse-quantizer scale path) over the COMMITTED index: the
    // query builds + commits the on-disk index (centroids parquet +
    // assignments hive-partitioned by list_id), dumps ITS OWN probe table,
    // and searches the committed store with the partition-pruned plan.
    // The oracle rides the written index halves and the written probes
    // (so an FP near-tie in the top-nprobe centroid cut cannot make
    // DuckDB pick a different candidate set) and re-derives the candidate
    // join, self-exclusion, exact cosine scoring and the rank-≤-k window.
    // The probe cut itself is validated by IvfSpec's nprobe = nlist ≡
    // brute-force law and the self-validating q_ann_ivf_recall; k-means
    // by IvfSpec determinism + exactness. Bench times the identical work
    // over a throwaway root, so only Verify writes a dump.
    "q_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      onDumpRoot("graft_bench_ivf") { base =>
        val idxRoot = s"$base/ivf_index"
        graft.sim.IvfIndex.build(s, idxRoot, e, "vec_id", "embedding", nlist = 16)
        // probes from the READ-BACK centroids — exactly what searchCommitted
        // uses (doubles round-trip parquet bit-exactly)
        val cents = graft.sim.IvfIndex.readCentroids(s, idxRoot).get
        Ivf.probeTable(e.where(col("vec_id") < 10), cents, "vec_id", "embedding", 4)
          .write.mode("overwrite").parquet(s"$base/ivf_probes")
        graft.sim.IvfIndex.searchCommitted(s, idxRoot,
            e.where(col("vec_id") < 10), e, "vec_id", "embedding",
            k = 5, nprobe = 4,
            probesOverride = s.read.parquet(s"$base/ivf_probes"))
          .withColumn("cosine", r(col("cosine"), 4))
          .orderBy("query_id", "rank")
      }
    }),

    // SELF-VALIDATING IVF retrieval (the q_ann_lsh shape): perturbed
    // copies of 20 corpus vectors (cosine ≈ 0.999 to their origin) must
    // retrieve the origin in their IVF top-k at nprobe 4/16. Complements
    // q_ann_ivf, whose oracle rides OUR dumped assignments and so cannot
    // catch a semantically broken assignment pass — this one can.
    "q_ann_ivf_recall" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val qs = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(i === 0, x + lit(0.05d)).otherwise(x)).as("embedding"))
      val res = Ivf.ivfTopK(qs, e, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 4)
      val hits = res.where(col("neighbor_id") === col("query_id") - 100000).count()
      Seq((hits.toDouble / 20 >= 0.9, 20L)).toDF("recall_ok", "n_queries")
    }),

    // PQ / IVFADC (compressed-domain ANN — the memory-bounded scale path):
    // codes, codebooks and the ADC top-rerank cut are WRITTEN; the result
    // exact-reranks the written candidates and the oracle re-derives the
    // candidate join, exact cosine and rank from the same dumps. The ADC
    // cut itself is FP-tie-sensitive BY DESIGN (same-code rows tie
    // exactly), so the oracle rides the written cut (the q_ann_ivf probes
    // move); the compressed-domain MATH is externally verified by
    // q_pq_adc, and retrieval semantics by q_ann_pq_recall + PqSpec's
    // exact-equivalence laws (rerank ≥ n ≡ brute force; built-from-
    // codebook vectors encode exactly).
    "q_ann_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      onDumpRoot("graft_bench_pq") { base =>
        val cb = graft.sim.Pq.trainCodebooks(e, "vec_id", "embedding", m = 8, ks = 16)
        graft.sim.Pq.codebooksDF(s, cb)
          .write.mode("overwrite").parquet(s"$base/pq_codebooks")
        graft.sim.Pq.encode(e, "vec_id", "embedding", cb)
          .write.mode("overwrite").parquet(s"$base/pq_codes")
        val q = e.where(col("vec_id") < 10)
        graft.sim.Pq.adcCandidates(q, s.read.parquet(s"$base/pq_codes"), cb,
            "vec_id", "embedding", rerank = 30)
          .write.mode("overwrite").parquet(s"$base/pq_cand")
        graft.sim.Pq.exactRerank(s.read.parquet(s"$base/pq_cand"), q, e,
            "vec_id", "embedding", k = 5)
          .withColumn("cosine", r(col("cosine"), 4))
          .orderBy("query_id", "rank")
      }
    }),

    // The compressed-domain scores themselves, verified externally on a
    // FIXED candidate set (queries × first-30 corpus codes — no
    // FP-sensitive cut anywhere): the oracle reconstructs each corpus
    // vector from its written code + codebooks (flatten of centroid
    // entries ordered by subspace) and recomputes the identical cosine —
    // [[PqKernel.approxCos]] accumulates in list_cosine_similarity's
    // order precisely so this equality is exact.
    "q_pq_adc" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      onDumpRoot("graft_bench_pqadc") { base =>
        val cb = graft.sim.Pq.trainCodebooks(e, "vec_id", "embedding", m = 8, ks = 16)
        graft.sim.Pq.codebooksDF(s, cb)
          .write.mode("overwrite").parquet(s"$base/pq_adc_codebooks")
        graft.sim.Pq.encode(e, "vec_id", "embedding", cb).where(col("id") < 30)
          .write.mode("overwrite").parquet(s"$base/pq_adc_codes")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        s.read.parquet(s"$base/pq_adc_codes").crossJoin(broadcast(q))
          .select(col("query_id"), col("id").as("neighbor_id"),
            r(graft.sim.Pq.approxCos(col("qv"), col("code"), cb), 4).as("approx"))
          .orderBy("query_id", "neighbor_id")
      }
    }),

    // SELF-VALIDATING PQ retrieval (the q_ann_ivf_recall shape):
    // perturbed copies of 20 corpus vectors must retrieve their origin in
    // the ADC-then-exact top-k — catches broken encoding/scoring that the
    // dump-riding oracles by construction cannot.
    "q_ann_pq_recall" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val cb = graft.sim.Pq.trainCodebooks(e, "vec_id", "embedding", m = 8, ks = 16)
      val qs = e.where(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => when(i === 0, x + lit(0.05d)).otherwise(x)).as("embedding"))
      val res = graft.sim.Pq.pqTopKFromCodes(qs,
        graft.sim.Pq.encode(e, "vec_id", "embedding", cb), e, cb,
        "vec_id", "embedding", k = 5, rerank = 50)
      val hits = res.where(col("neighbor_id") === col("query_id") - 100000).count()
      Seq((hits.toDouble / 20 >= 0.9, 20L)).toDF("recall_ok", "n_queries")
    }),

    // ===== text analysis =====

    "q_token_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.groupBy("lang").agg(
        r(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_tokens"),
        r(avg(TextAnalysis.subwordCount(col("text"))), 4).as("avg_subwords"),
        r(avg(TextAnalysis.qualityScore(col("text"))), 4).as("avg_quality"))
        .orderBy("lang")
    }),

    "q_langid" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("predicted", TextAnalysis.langId(col("text")))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    "q_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).where(col("doc_id") < 20)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // P4: location-relevance filter (news.py:401-413 semantics: keep doc if
    // term appears in text, null-safe via coalesce)
    "q_relevance_filter" -> ((s, dir) => {
      Tables.documents(s, dir)
        .where(lower(coalesce(col("text"), lit(""))).contains("spark"))
        .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
    }),

    // F2: truncate at 100 chars + "..." (news.py:598-599)
    "q_truncate" -> ((s, dir) => {
      Tables.documents(s, dir).where(col("doc_id") < 10)
        .select(col("doc_id"),
          when(length(col("text")) > 100,
            concat(substring(col("text"), 1, 100), lit("...")))
            .otherwise(col("text")).as("snippet"))
        .orderBy("doc_id")
    }),

    // F8: date arithmetic — daily event counts (date_trunc/F7 family)
    "q_daily_counts" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), r(sum("value"), 4).as("v"))
        .orderBy("day")
    }),

    // Composed news-pipeline slice (news.py:476-553, entry point 2):
    // union two overlapping feeds (U2) → first-wins dedup on the content
    // fingerprint (A12, news.py:74-82) → relevance filter (P4) → anti-join
    // vs the seen set (J4) → sort desc + limit (O1/O2) → truncate (F2)
    "q_news_pipeline" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val srcA = d.where(col("doc_id") % 3 === 0)
      val srcB = d.where(col("doc_id") % 2 === 0)
      val withFp = srcA.unionByName(srcB)
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      val deduped = Dedup.firstWins(withFp, Seq("fp"), "doc_id")
      val relevant = deduped.where(lower(coalesce(col("text"), lit(""))).contains("spark"))
      val seen = d.where(col("doc_id") < 100)
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
      val fresh = Dedup.newOnly(relevant, seen, Seq("fp"))
      fresh.orderBy(col("n_chars").desc, col("doc_id").asc).limit(20)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          when(length(col("text")) > 100,
            concat(substring(col("text"), 1, 100), lit("...")))
            .otherwise(col("text")).as("snippet"))
        .orderBy("doc_id")
    }),

    // F9 both directions (sensor.py:184 json.dumps per event → parse):
    // to_json(struct) → from_json roundtrip; aggregating the ROUND-TRIPPED
    // fields against an oracle computed from the raw columns certifies the
    // serialization is lossless
    "q_json_roundtrip" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .where(col("value").isNotNull && !isnan(col("value")))
      val js = e.select(to_json(struct(col("event_id"), col("event_type"), col("value"))).as("j"))
      js.select(from_json(col("j"),
          lit("event_id BIGINT, event_type STRING, value DOUBLE")).as("p"))
        .select(col("p.event_type").as("event_type"), col("p.event_id").as("event_id"),
          col("p.value").as("value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"),
          r(sum("value"), 4).as("value_sum"))
        .orderBy("event_type")
    }),

    // ===== drift (A9-A11, A16, A17) =====

    // A9 exact two-sample KS statistic, distributed (ties included)
    "q_ks_statistic" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val isBase = col("l_shipdate") < lit(BaselineDate).cast("timestamp")
      // both columns share one melt/shuffle and two driver actions
      val ks = KsTest.ks2SampMulti(li, Seq("l_extendedprice", "l_quantity"), isBase)
      one(s, Seq("ks_price", "ks_qty"),
        Seq(math.rint(ks("l_extendedprice").statistic * 1e6) / 1e6,
          math.rint(ks("l_quantity").statistic * 1e6) / 1e6))
    }),

    // stratified drift: exact KS + normalized mean shift WITHIN each
    // l_returnflag stratum (global tests mask subpopulation drift).
    // maxGroups=2 forces the least-frequent flag through the __other__
    // lumping path so the bounded-lanes semantics are gate-covered too
    "q_drift_by_group" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val isBase = col("l_shipdate") < lit(BaselineDate).cast("timestamp")
      GroupDrift.ksMeanByGroup(li, "l_returnflag", "l_extendedprice",
        isBase, maxGroups = 2)
        .select(col("group"), r(col("ks_stat"), 6).as("ks_stat"),
          r(col("ks_p"), 6).as("ks_p"),
          r(col("mean_base")).as("mean_base"), r(col("mean_cur")).as("mean_cur"),
          r(col("mean_shift")).as("mean_shift"),
          col("n_base"), col("n_cur"), col("drifted"))
        .orderBy("group")
    }),

    // A16 PSI over 10 baseline-pinned bins
    "q_psi" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val isBase = col("l_shipdate") < lit(BaselineDate).cast("timestamp")
      val v = Drift.psiNumeric(li, "l_quantity", isBase)
      one(s, Seq("psi_qty"), Seq(math.rint(v * 1e6) / 1e6))
    }),

    // A17 chi-square statistic on a categorical column
    "q_chisq" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val isBase = col("source").isin((0 until 10).map(i => s"src$i"): _*)
      val (stat, _, _) = Drift.chiSquareCategorical(d, "lang", isBase)
      one(s, Seq("chisq_lang"), Seq(math.rint(stat * 1e6) / 1e6))
    }),

    // A10 normalized mean shift |Δmean|/ref_std
    "q_mean_shift" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val isBase = col("l_shipdate") < lit(BaselineDate).cast("timestamp")
      val agg = li.agg(
        avg(when(isBase, col("l_extendedprice"))).as("m1"),
        stddev_samp(when(isBase, col("l_extendedprice"))).as("s1"),
        avg(when(!isBase, col("l_extendedprice"))).as("m2")).collect()(0)
      val shift = Drift.meanDifference(agg.getDouble(0), agg.getDouble(1), agg.getDouble(2))
      one(s, Seq("mean_shift"), Seq(math.rint(shift * 1e6) / 1e6))
    }),

    // A9+A11 full drift report with p-values and rollup. DuckDB-oracled
    // END-TO-END: the KS p-value is the asymptotic Kolmogorov survival
    // function (a published closed form, FIXTURES.md §3) evaluated in SQL
    // with the same k ≤ 100 series truncation, and the chi-square p-value
    // at dof=2 reduces to exp(−χ²/2)
    "q_drift_report" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val isBase = col("l_shipdate") < lit(BaselineDate).cast("timestamp")
      val rep = Drift.detect(li, Seq("l_quantity", "l_extendedprice", "l_discount"),
        Seq("l_returnflag"), isBase)
      rep.feature_drift.toDF()
        .withColumn("statistic", r(col("statistic"), 6))
        .withColumn("p_value", r(col("p_value"), 6))
        .withColumn("mean_difference", r(col("mean_difference"), 6))
        .orderBy("column", "test")
    }),

    // A9-A11+A17: the SQL-expressible columns of the drift report (statistic
    // + normalized mean difference per feature), DuckDB-oracled; the
    // p-value/rollup variant stays in q_drift_report
    "q_drift_stats" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val isBase = col("l_shipdate") < lit(BaselineDate).cast("timestamp")
      val rep = Drift.detect(li, Seq("l_quantity", "l_extendedprice", "l_discount"),
        Seq("l_returnflag"), isBase)
      rep.feature_drift
        .map(f => (f.column, f.test,
          math.rint(f.statistic * 1e6) / 1e6, math.rint(f.mean_difference * 1e6) / 1e6))
        .toDF("column", "test", "statistic", "mean_difference")
        .orderBy("column", "test")
    }),

    // ===== engine suite over the synthetic code table =====
    // (the three suite queries below share ONE memoized run per input size
    // — see suiteVerdicts — instead of re-validating the identical
    // deterministic table per query)

    // full verdict table in its native long shape (rows-only by shape:
    // every column of it is externally recomputed by q_suite_counts +
    // q_code_suite_drift + q_suite_quality over the same written input)
    "q_code_suite" -> ((s, dir) => {
      import s.implicits._
      val rows = if (dir.contains("0.001")) 20000L else 100000L
      suiteVerdicts(s, rows).toDF()
        .withColumn("metric", r(col("metric"), 6))
        .withColumn("p_value", r(col("p_value"), 6))
        .orderBy("batch_id", "check", "column")
    }),

    // The INTEGER verdict columns of the suite (uniqueness / referential /
    // completeness / sha256 violation counts + pass flags), DuckDB-oracled:
    // the exact engine input is written to parquet first and the oracle
    // recomputes every count from that same file. The p-valued drift rows
    // are oracled the same way by q_code_suite_drift.
    "q_suite_counts" -> ((s, _) => {
      // FIXED input size at any sf: the oracle SQL reads this exact path,
      // so the query and the oracle must agree on it unconditionally
      val rows = 100000L
      dump(graft.gen.CodeTableGen.generate(s, rows, batches = 4), s"suite_input_$rows")
      import s.implicits._
      val countChecks = Set("uniqueness", "referential", "completeness", "sha256_invariant")
      suiteVerdicts(s, rows).filter(v => countChecks.contains(v.check)).toDF()
        .select(col("batch_id"), col("check"), col("violation_count"), col("passed"))
        .orderBy("batch_id", "check")
    }),

    // The quality_score verdict — the last not-externally-recomputed column
    // of the suite verdict table — DuckDB-oracled: score = 0 if ANY
    // constraint verdict failed (uniqueness / referential / completeness /
    // sha256), else 1 − max(missing_path/rows, sha_mismatch/rows); the
    // oracle recomputes every input count from a written copy of the exact
    // engine input and re-derives the same arithmetic.
    "q_suite_quality" -> ((s, _) => {
      import s.implicits._
      val rows = 100000L
      dump(graft.gen.CodeTableGen.generate(s, rows, batches = 4), "suite_quality_input")
      suiteVerdicts(s, rows).filter(_.check == "quality_score")
        .map(v => (v.batch_id, math.rint(v.metric * 1e6) / 1e6))
        .toDF("batch_id", "quality").orderBy("batch_id")
    }),

    // The suite's DRIFT verdict rows — statistic AND p-value per batch —
    // DuckDB-oracled end-to-end from a written copy of the exact input:
    // the oracle recomputes the exact two-sample KS over content length
    // (distinct-length cumulative counts vs the baseline batch) + the
    // asymptotic Kolmogorov p (same k ≤ 100 series as DriftMath), PSI over
    // the baseline-pinned 10-bin length histogram and over the lang mix
    // (ε = 1e-6 clamping), chi-square on lang (expected = baseline
    // proportions × covered current total, dof = 6 → closed-form survival
    // e^(−y)(1 + y + y²/2)), Cramér's-V-gated pass flags, and the
    // normalized mean shift. With q_suite_counts this makes the WHOLE
    // suite verdict table externally recomputed, not just its integer half.
    "q_code_suite_drift" -> ((s, _) => {
      import s.implicits._
      val rows = 100000L
      dump(graft.gen.CodeTableGen.generate(s, rows, batches = 4), "suite_drift_input")
      val vs = suiteVerdicts(s, rows)
      def v(b: Long, check: String, c: String) =
        vs.find(x => x.batch_id == b && x.check == check && x.column == c).get
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      (0L to 3L).map { b =>
        (b,
          r6(v(b, "drift_ks", "content_length").metric),
          r6(v(b, "drift_ks", "content_length").p_value),
          v(b, "drift_ks", "content_length").passed,
          r6(v(b, "drift_psi", "content_length").metric),
          v(b, "drift_psi", "content_length").passed,
          r6(v(b, "drift_psi", "lang").metric),
          v(b, "drift_psi", "lang").passed,
          r6(v(b, "drift_chisq", "lang").metric),
          r6(v(b, "drift_chisq", "lang").p_value),
          v(b, "drift_chisq", "lang").passed,
          r6(v(b, "mean_shift", "content_length").metric))
      }.toDF("batch_id", "ks_stat", "ks_p", "ks_passed", "psi_len",
        "psi_len_passed", "psi_lang", "psi_lang_passed", "chisq_stat",
        "chisq_p", "chisq_passed", "mean_shift")
        .orderBy("batch_id")
    }),

    // The suite's DRIFT verdict semantics, pinned as an oracled boolean row
    // (constant-true oracle, q_kll_quantile pattern): on the deterministic table
    // the LAST batch is drifted by construction (length scale shift + lang
    // mix shift), so it must FAIL drift_ks/drift_chisq/drift_psi(lang)
    // while the undrifted middle batches PASS — the p-valued rows
    // themselves stay in q_code_suite (rows-only by nature)
    "q_suite_drift_check" -> ((s, _) => {
      import s.implicits._
      val vs = suiteVerdicts(s, 100000L)
      def verdict(b: Long, check: String, colName: String): Option[Boolean] =
        vs.find(v => v.batch_id == b && v.check == check && v.column == colName).map(_.passed)
      Seq((
        verdict(3L, "drift_ks", "content_length").contains(false),
        verdict(3L, "drift_chisq", "lang").contains(false),
        verdict(3L, "drift_psi", "lang").contains(false),
        (1L to 2L).forall(b => verdict(b, "drift_ks", "content_length").contains(true)),
        (1L to 2L).forall(b => verdict(b, "drift_chisq", "lang").contains(true))))
        .toDF("drifted_ks_failed", "drifted_chisq_failed", "drifted_psi_failed",
          "undrifted_ks_passed", "undrifted_chisq_passed")
    }),

    // The STREAMING face of q_suite_counts, inside the same correctness
    // gate: the identical deterministic table is staged one file per batch,
    // validated by StreamingValidate micro-batch by micro-batch (audit-
    // carried baseline between them), and DuckDB recomputes the integer
    // verdict columns from the same written input — proving batch/streaming
    // verdict parity against an EXTERNAL oracle, not just self-consistency
    "q_streaming_suite_counts" -> ((s, _) => {
      import s.implicits._
      val rows = 40000L
      val code = graft.gen.CodeTableGen.generate(s, rows, batches = 2).cache()
      dump(code, s"stream_suite_input_$rows")
      withTempRoot("graft_stream_stage") { stageDir =>
        (0L to 1L).foreach { b =>
          code.where(col("batch_id") === b).drop("batch_id").coalesce(1)
            .write.mode("append").parquet(stageDir)
          // distinct mtimes pin micro-batch order = batch id; only the gap
          // BETWEEN files matters, nothing consumes a trailing one
          if (b < 1L) Thread.sleep(1100)
        }
        code.unpersist()
        val schema = s.read.parquet(stageDir).schema
        withTempRoot("graft_stream_audit") { auditRoot =>
          val io = new graft.tableio.ParquetTableIO(auditRoot)
          val dim = graft.gen.CodeTableGen.repoLangDim(s)
          val buf = scala.collection.mutable.ArrayBuffer.empty[graft.suite.Verdict]
          val q = graft.streaming.StreamingValidate.validateStream(
            s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stageDir),
            dim, io, onVerdicts = vs => buf.synchronized { buf ++= vs })
          // a timed-out drain must FAIL LOUDLY (and stop the query) — falling
          // through with partial verdicts would read as a parity failure and
          // leave the stream running jobs under later Verify queries
          if (!q.awaitTermination(300000)) {
            q.stop()
            throw new IllegalStateException("streaming suite did not drain within 300s")
          }
          val countChecks = Set("uniqueness", "referential", "completeness", "sha256_invariant")
          // synchronized read: awaitTermination's contract gives no
          // happens-before edge with the foreachBatch thread's appends
          buf.synchronized(buf.toList).filter(v => countChecks.contains(v.check)).toDF()
            .select(col("batch_id"), col("check"), col("violation_count"), col("passed"))
            .orderBy("batch_id", "check")
        }
      }
    }),

    // multimodal feature plumbing (stub decode — no oracle)
    "q_multimodal_features" -> ((s, _) => {
      val media = graft.multimodal.Multimodal.syntheticMedia(s, 1000)
      graft.multimodal.Multimodal.extractFeatures(media, dim = 8).toDF()
        .select(col("media_id"), col("modality"),
          r(element_at(col("feature"), 1), 4).as("f0"), col("n_frames"))
        .orderBy("media_id")
    }),

    // multimodal plumbing invariants, SELF-VALIDATING (constant-true
    // oracle): row conservation through the size-salted repartition +
    // mapPartitions, fixed feature width, ≥1 sampled frame, and decode
    // determinism across two independent runs
    "q_multimodal_check" -> ((s, _) => {
      import s.implicits._
      val media = graft.multimodal.Multimodal.syntheticMedia(s, 1000)
      val f1 = graft.multimodal.Multimodal.extractFeatures(media, dim = 8).toDF()
      val f2 = graft.multimodal.Multimodal.extractFeatures(media, dim = 8).toDF()
      val st = f1.agg(
        count(lit(1)).as("n"),
        sum(when(size(col("feature")) === 8, 0L).otherwise(1L)).as("bad_len"),
        sum(when(col("n_frames") >= 1, 0L).otherwise(1L)).as("bad_frames")).collect()(0)
      // determinism must not pass vacuously: a run that DROPS rows would
      // shrink an inner join silently, so compare via full outer join on
      // every extracted column — any one-sided id or field diff counts
      val n2 = f2.count()
      val mismatch = f1.select(col("media_id"), col("feature").as("fa"),
          col("n_frames").as("na"))
        .join(f2.select(col("media_id"), col("feature").as("fb"),
          col("n_frames").as("nb")), Seq("media_id"), "full_outer")
        .where(col("fa").isNull || col("fb").isNull ||
          not(col("fa") === col("fb")) || col("na") =!= col("nb")).count()
      Seq((st.getLong(0) == 1000L && n2 == 1000L, st.getLong(1) == 0L,
        st.getLong(2) == 0L, mismatch == 0L))
        .toDF("rows_ok", "len_ok", "frames_ok", "deterministic")
    }))

  // ------------------------------------------------------------ oracle SQL

  def oracleSql(root: String): Map[String, String] = Map(
    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS n
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",

    "q_stats_onepass" ->
      """SELECT count(*) AS n,
         round(min(l_quantity),2) AS qty_min, round(max(l_quantity),2) AS qty_max,
         round(avg(l_quantity),6) AS qty_mean, round(stddev_samp(l_quantity),6) AS qty_std,
         round(min(l_extendedprice),2) AS price_min, round(max(l_extendedprice),2) AS price_max,
         round(avg(l_extendedprice),4) AS price_mean, round(stddev_samp(l_extendedprice),4) AS price_std
         FROM lineitem""",

    "q_median" ->
      """SELECT round(median(l_quantity),4) AS qty_median,
         round(median(l_discount),4) AS disc_median FROM lineitem""",

    "q_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS parts,
         count(DISTINCT l_suppkey) AS supps,
         count(DISTINCT l_orderkey) AS orders FROM lineitem""",

    "q_histogram" ->
      """WITH mm AS (SELECT min(l_extendedprice) lo, max(l_extendedprice) hi FROM lineitem)
         SELECT least(9, floor((l_extendedprice - lo) * 10 / (hi - lo)))::INT AS bin,
                count(*) AS n
         FROM lineitem, mm GROUP BY 1 ORDER BY 1""",

    "q_completeness" ->
      """SELECT count(*) AS total,
         CAST(sum(CASE WHEN value IS NULL OR isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS missing_value,
         CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS missing_props,
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_user
         FROM events""",

    "q_conditional_range" ->
      """SELECT
         CAST(sum(CASE WHEN event_type = 'purchase' AND (value IS NULL OR isnan(value) OR value < 0 OR value > 100) THEN 1 ELSE 0 END) AS BIGINT) AS purchase_range_failures,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_rows
         FROM events""",

    "q_count_window_drift" ->
      """WITH numbered AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
           FROM events),
         wins AS (
           SELECT event_type, CAST(floor((rn - 1) / 50) AS BIGINT) AS win,
                  count(*) AS n,
                  CAST(sum(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT) AS unusual
           FROM numbered GROUP BY 1, 2)
         SELECT event_type, win, unusual,
                round(unusual / 50.0, 4) AS ratio,
                (unusual / 50.0) > 0.10 AS drift
         FROM wins WHERE n = 50 ORDER BY event_type, win""",

    "q_growing_window_drift" ->
      """WITH RECURSIVE numbered AS (
           SELECT event_type,
                  row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
                  CASE WHEN value > 150 THEN 1 ELSE 0 END AS unusual
           FROM events),
         cum AS (
           SELECT event_type, rn,
                  CAST(sum(unusual) OVER (PARTITION BY event_type ORDER BY rn) AS BIGINT) AS cu
           FROM numbered),
         fires AS (
           SELECT event_type, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS cu
           FROM (SELECT DISTINCT event_type FROM numbered)
           UNION ALL
           SELECT f.event_type, n.rn, n.cu
           FROM fires f
           JOIN cum n ON n.event_type = f.event_type
            AND n.rn = (SELECT min(c.rn) FROM cum c
                        WHERE c.event_type = f.event_type
                          AND c.rn >= f.rn + 50 AND c.cu - f.cu >= 6)
         )
         SELECT event_type, rn AS fire_rn,
                CAST(cu - lag(cu, 1, 0) OVER (PARTITION BY event_type ORDER BY rn) AS BIGINT) AS unusual_count,
                round((cu - lag(cu, 1, 0) OVER (PARTITION BY event_type ORDER BY rn)) / 50.0, 4) AS ratio
         FROM fires
         QUALIFY rn > 0
         ORDER BY event_type, fire_rn""",

    "q_sliding_window_ratio" ->
      """WITH numbered AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS win_n,
                  sum(CASE WHEN value > 150 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS unusual_50
           FROM events)
         SELECT event_type, rn, round(unusual_50 / 50.0, 4) AS ratio,
                (unusual_50 / 50.0) > 0.10 AS drift
         FROM numbered WHERE win_n = 50 AND rn % 100 = 0
         ORDER BY event_type, rn""",

    "q_time_window_agg" ->
      """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
                count(*) AS n, round(sum(value), 4) AS value_sum
         FROM events WHERE event_type = 'click'
         GROUP BY 1 ORDER BY 1""",

    "q_topk_per_group" ->
      """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
           FROM orders) WHERE rank <= 3 ORDER BY o_orderpriority, rank""",

    "q_sort_limit" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         ORDER BY n_chars DESC, doc_id ASC LIMIT 20""",

    "q_json_extract" ->
      """SELECT event_type,
                CAST(sum(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_status_label" ->
      """SELECT event_type,
                CASE WHEN value > 150 THEN 'UNUSUAL' ELSE 'Normal' END AS status,
                count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_join_enrich" ->
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                count(*) AS n
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",

    "q_referential_antijoin" ->
      """SELECT lang, count(*) AS violations FROM documents
         WHERE lang NOT IN ('en', 'es', 'de', 'fr')
         GROUP BY 1 ORDER BY 1""",

    "q_incremental_antijoin" ->
      """SELECT doc_id, lang, source FROM documents d
         WHERE doc_id >= 250 AND NOT EXISTS (
           SELECT 1 FROM documents s
           WHERE s.doc_id < 250 AND s.lang = d.lang AND s.source = d.source)
         ORDER BY doc_id""",

    "q_bloom_newonly" ->
      """SELECT doc_id, lang FROM documents d
         WHERE doc_id >= 200 AND NOT EXISTS (
           SELECT 1 FROM documents s
           WHERE s.doc_id < 250 AND s.doc_id = d.doc_id)
         ORDER BY doc_id""",

    // NOTE: floor(epoch(..)) not CAST(epoch(..) AS BIGINT) — DuckDB's
    // double->bigint cast ROUNDS the fractional second while Spark's
    // unix_timestamp FLOORS it (off-by-one whenever fraction >= 0.5)
    // same strict-gap break rule over fractional epoch seconds
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, ts, epoch(ts) AS sec FROM events
                    WHERE user_id < 3),
         b AS (SELECT user_id, ts,
                 CASE WHEN lag(sec) OVER w IS NULL
                        OR sec - lag(sec) OVER w > 3600.0 THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) - 1 AS session_index
               FROM b)
         SELECT user_id, CAST(session_index AS BIGINT) AS session_index,
                CAST(count(*) AS BIGINT) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_novel_categories" ->
      """WITH d AS (SELECT CASE WHEN doc_id % 97 = 0 AND doc_id % 2 = 1
                           THEN lang || '-new' ELSE lang END AS v,
                           doc_id % 2 = 0 AS b
                    FROM documents WHERE lang IS NOT NULL)
         SELECT v AS value,
                CAST(sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
         FROM d GROUP BY 1
         HAVING sum(CASE WHEN b THEN 1 ELSE 0 END) = 0
            AND sum(CASE WHEN NOT b THEN 1 ELSE 0 END) >= 1
         ORDER BY 1""",

    // same exact two-phase distinct-rhs derivation for both dependencies
    "q_fd_check" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id < 120),
         pairs AS (SELECT user_id, event_type, count(*) AS r
                   FROM ev GROUP BY 1, 2),
         bad AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rhs_values,
                        CAST(sum(r) AS BIGINT) AS n_rows
                 FROM pairs GROUP BY 1 HAVING count(*) > 1),
         idfd AS (SELECT count(*) = 0 AS p FROM (
                    SELECT event_id FROM (SELECT event_id, event_type
                                          FROM ev GROUP BY 1, 2)
                    GROUP BY 1 HAVING count(*) > 1))
         SELECT b.user_id, b.n_rhs_values, b.n_rows, idfd.p AS id_fd_passed
         FROM bad b, idfd ORDER BY user_id""",

    // fences from quantile_cont (the same exact interpolated percentile),
    // flagged-set identity pinned by the event_id checksum
    "q_outliers" ->
      """WITH b AS (SELECT quantile_cont(value, 0.25) AS q1,
                           quantile_cont(value, 0.75) AS q3,
                           avg(value) AS mu, stddev_samp(value) AS sigma
                    FROM events),
         f AS (SELECT e.event_id, e.value,
                      b.q1 - 1.5 * (b.q3 - b.q1) AS lo,
                      b.q3 + 1.5 * (b.q3 - b.q1) AS hi,
                      (e.value < b.q1 - 1.5 * (b.q3 - b.q1)
                       OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)) AS oi,
                      CASE WHEN b.sigma IS NULL OR b.sigma <= 0 THEN false
                           ELSE abs((e.value - b.mu) / b.sigma) > 3.0 END AS oz
               FROM events e, b)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN oi THEN 1 ELSE 0 END) AS BIGINT) AS n_iqr,
                CAST(sum(CASE WHEN oz THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
                round(min(lo), 4) AS lo_fence, round(max(hi), 4) AS hi_fence,
                CAST(sum(CASE WHEN oi THEN event_id ELSE 0 END) AS BIGINT)
                  AS iqr_id_sum
         FROM f""",

    // every analyzer re-derived from a UNION-melt of the same columns:
    // identical value counts, the same ln N − Σc·ln c / N entropy
    // identity, the same (cnt desc, v desc) top-value tie-break
    "q_column_profile" ->
      """WITH c AS (
           SELECT 'event_type' AS col_name, event_type::VARCHAR AS v FROM events
           UNION ALL SELECT 'user_id', user_id::VARCHAR FROM events
           UNION ALL SELECT 'event_id', event_id::VARCHAR FROM events),
         cnts AS (SELECT col_name, v, count(*) AS cnt FROM c GROUP BY 1, 2),
         agg AS (SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
                   CAST(sum(CASE WHEN v IS NOT NULL AND cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                   sum(CASE WHEN v IS NOT NULL THEN cnt * ln(cnt) ELSE 0 END) AS clc
                 FROM cnts GROUP BY 1),
         top AS (SELECT col_name, v AS top_value, cnt AS tc
                 FROM cnts WHERE v IS NOT NULL
                 QUALIFY row_number() OVER (PARTITION BY col_name
                                            ORDER BY cnt DESC, v DESC) = 1)
         SELECT a.col_name, a.n_rows, a.n_nulls,
                round((a.n_rows - a.n_nulls)::DOUBLE / a.n_rows, 4) AS completeness,
                a.n_distinct,
                round(a.n_distinct::DOUBLE / (a.n_rows - a.n_nulls), 4) AS distinctness,
                a.n_unique,
                round(a.n_unique::DOUBLE / (a.n_rows - a.n_nulls), 4) AS uniqueness,
                round(a.n_unique::DOUBLE / a.n_distinct, 4) AS unique_ratio,
                round(ln((a.n_rows - a.n_nulls)::DOUBLE)
                      - a.clc / (a.n_rows - a.n_nulls), 4) AS entropy,
                t.top_value,
                round(t.tc::DOUBLE / (a.n_rows - a.n_nulls), 4) AS top_ratio
         FROM agg a JOIN top t USING (col_name) ORDER BY col_name""",

    // same 7-row trailing frame, same full-history + positive-std gates
    "q_volume_anomaly" ->
      """WITH daily AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
                  CASE WHEN strftime(ts, '%Y-%m-%d') LIKE '%-15'
                       THEN count(*) * 5 ELSE count(*) END AS n_rows
           FROM events GROUP BY 1),
         win AS (
           SELECT day, CAST(n_rows AS DOUBLE) AS n,
                  count(*) OVER f AS hist_n,
                  avg(CAST(n_rows AS DOUBLE)) OVER f AS hist_mean,
                  stddev_samp(CAST(n_rows AS DOUBLE)) OVER f AS hist_std
           FROM daily
           WINDOW f AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT day, CAST(n AS BIGINT) AS n_rows,
                round(hist_mean, 4) AS hist_mean, round(hist_std, 4) AS hist_std,
                round(CASE WHEN hist_n >= 7 AND hist_std > 0
                      THEN (n - hist_mean) / hist_std END, 4) AS z,
                coalesce(abs(CASE WHEN hist_n >= 7 AND hist_std > 0
                             THEN (n - hist_mean) / hist_std END) > 3.0,
                         false) AS volume_anomaly
         FROM win ORDER BY day""",

    "q_freshness" ->
      """WITH wm AS (SELECT max(ts) AS w FROM events)
         SELECT event_type, max(ts) AS last_seen,
                CAST(floor(epoch(w)) AS BIGINT)
                  - CAST(floor(epoch(max(ts))) AS BIGINT) AS staleness_sec,
                (CAST(floor(epoch(w)) AS BIGINT)
                  - CAST(floor(epoch(max(ts))) AS BIGINT)) <= 86400 AS fresh
         FROM events, wm GROUP BY event_type, w ORDER BY event_type""",

    // footer-level re-derivation of the schema diff: DuckDB reads ONLY the
    // two written parquet footers (never the engine's issue rows) and
    // reimplements each issue kind from name/type/converted_type/
    // repetition_type; nullability_relaxed applies only when types match
    // (same precedence as the engine)
    "q_schema_check" ->
      s"""WITH b AS (
           SELECT DISTINCT name, type, coalesce(converted_type, '') AS ct,
                  repetition_type
           FROM parquet_schema('$root/schema_base/*.parquet')
           WHERE num_children IS NULL),
         c AS (
           SELECT DISTINCT name, type, coalesce(converted_type, '') AS ct,
                  repetition_type
           FROM parquet_schema('$root/schema_cur/*.parquet')
           WHERE num_children IS NULL)
         SELECT col_name, issue FROM (
           SELECT b.name AS col_name, 'missing_column' AS issue
           FROM b WHERE b.name NOT IN (SELECT name FROM c)
           UNION ALL
           SELECT c.name, 'new_column'
           FROM c WHERE c.name NOT IN (SELECT name FROM b)
           UNION ALL
           SELECT b.name, 'type_changed'
           FROM b JOIN c USING (name)
           WHERE b.type != c.type OR b.ct != c.ct
           UNION ALL
           SELECT b.name, 'nullability_relaxed'
           FROM b JOIN c USING (name)
           WHERE b.type = c.type AND b.ct = c.ct
             AND b.repetition_type = 'REQUIRED'
             AND c.repetition_type = 'OPTIONAL')
         ORDER BY col_name, issue""",

    // bucketed layout is invisible to semantics: same oracle as the bloom path
    "q_bucketed_newonly" ->
      """SELECT doc_id, lang FROM documents d
         WHERE doc_id >= 200 AND NOT EXISTS (
           SELECT 1 FROM documents s
           WHERE s.doc_id < 250 AND s.doc_id = d.doc_id)
         ORDER BY doc_id""",

    "q_union_dedup" ->
      """WITH u AS (
           SELECT * FROM documents WHERE doc_id < 300
           UNION ALL SELECT * FROM documents WHERE doc_id >= 200),
         d AS (SELECT DISTINCT doc_id FROM u)
         SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum FROM d""",

    "q_dedup_exact" ->
      """SELECT count(*) AS total,
                count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS distinct_fp
         FROM documents""",

    "q_dedup_firstwins" ->
      """SELECT doc_id, lang, source FROM documents
         QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) = 1
         ORDER BY lang, source""",

    "q_dedup_lastwins" ->
      """SELECT doc_id, lang, source FROM documents
         QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id DESC) = 1
         ORDER BY lang, source""",

    "q_token_stats" ->
      """SELECT lang,
         round(avg(CASE WHEN trim(text) = '' OR text IS NULL THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END), 4) AS avg_tokens,
         round(avg((SELECT coalesce(sum(floor((length(w) + 3) / 4)), 0)
                    FROM unnest(regexp_split_to_array(trim(text), '\s+')) AS t(w))), 4) AS avg_subwords,
         round(avg(
           least(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END / 100.0, 1.0) * 0.4
           + least((len(regexp_extract_all(lower(text), '\b(and|das|de|der|des|die|el|et|is|ist|la|le|les|los|of|que|the|to|und)\b'))
                    / greatest(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1)::DOUBLE) * 5.0, 1.0) * 0.3
           + (1.0 - least((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                          / greatest(length(text), 1) * 10.0, 1.0)) * 0.3), 4) AS avg_quality
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q_langid" ->
      """WITH scored AS (
           SELECT lang,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(el|la|que|de|los)\b')) AS s_es,
             len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
             regexp_matches(text, '[一-鿿]') AS is_zh
           FROM documents),
         pred AS (
           SELECT lang,
             CASE WHEN is_zh THEN 'zh'
                  WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                  ELSE 'fr' END AS predicted
           FROM scored)
         SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_fingerprint" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         FROM documents WHERE doc_id < 20 ORDER BY doc_id""",

    "q_relevance_filter" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE contains(lower(coalesce(text, '')), 'spark')
         GROUP BY 1 ORDER BY 1""",

    "q_truncate" ->
      """SELECT doc_id,
                CASE WHEN length(text) > 100 THEN substring(text, 1, 100) || '...'
                     ELSE text END AS snippet
         FROM documents WHERE doc_id < 10 ORDER BY doc_id""",

    "q_daily_counts" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
                round(sum(value), 4) AS v
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_ks_statistic" ->
      """WITH clean AS (
           SELECT l_extendedprice AS vp, l_quantity AS vq,
                  CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS s1
           FROM lineitem),
         cp AS (SELECT vp AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         cq AS (SELECT vq AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         cpc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM cp),
         cqc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM cq),
         dp AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d FROM cpc),
         dq AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d FROM cqc)
         SELECT round(dp.d, 6) AS ks_price, round(dq.d, 6) AS ks_qty FROM dp, dq""",

    // full per-group recompute: same top-2 cut (count desc, name asc), same
    // __other__ lump, per-group integer-cum KS (exact in doubles below
    // 2^53), the engine's 100-term Kolmogorov series, and the std-guarded
    // mean shift
    "q_drift_by_group" ->
      """WITH sel AS (
           SELECT l_returnflag AS f, count(*) AS c FROM lineitem
           WHERE l_returnflag IS NOT NULL GROUP BY 1 ORDER BY c DESC, f LIMIT 2),
         clean AS (
           SELECT CASE WHEN l_returnflag IN (SELECT f FROM sel) THEN l_returnflag
                  ELSE '__other__' END AS g,
                  l_extendedprice AS v,
                  CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS s1
           FROM lineitem WHERE l_returnflag IS NOT NULL
             AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
             AND l_shipdate IS NOT NULL),
         cnt AS (SELECT g, v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1, 2),
         cum AS (SELECT g,
                   CAST(sum(c1) OVER (PARTITION BY g ORDER BY v) AS DOUBLE) cum1,
                   CAST(sum(c2) OVER (PARTITION BY g ORDER BY v) AS DOUBLE) cum2,
                   CAST(sum(c1) OVER (PARTITION BY g) AS DOUBLE) n1,
                   CAST(sum(c2) OVER (PARTITION BY g) AS DOUBLE) n2
                 FROM cnt),
         ks AS (SELECT g, CASE WHEN max(n1) = 0 OR max(n2) = 0 THEN 0.0
                          ELSE max(abs(cum1 * n2 - cum2 * n1))
                               / (max(n1) * max(n2)) END AS d,
                       CAST(max(n1) AS BIGINT) AS n_base,
                       CAST(max(n2) AS BIGINT) AS n_cur
                FROM cum GROUP BY 1),
         ksp AS (SELECT g, d, n_base, n_cur,
                  CASE WHEN n_base = 0 OR n_cur = 0 OR d <= 0 THEN 1.0
                  ELSE least(1.0, greatest(0.0, list_sum(list_transform(range(1, 101),
                    k -> 2.0 * (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                         * exp(-2.0 * k * k
                               * (sqrt(n_base * n_cur / CAST(n_base + n_cur AS DOUBLE)) * d)
                               * (sqrt(n_base * n_cur / CAST(n_base + n_cur AS DOUBLE)) * d)))))) END AS pv
                 FROM ks),
         m AS (SELECT g, avg(CASE WHEN s1 = 1 THEN v END) AS mb,
                      stddev_samp(CASE WHEN s1 = 1 THEN v END) AS sb,
                      avg(CASE WHEN s1 = 0 THEN v END) AS mc
               FROM clean GROUP BY 1)
         SELECT k.g AS "group", round(k.d, 6) AS ks_stat, round(k.pv, 6) AS ks_p,
                round(m.mb, 4) AS mean_base, round(m.mc, 4) AS mean_cur,
                round(CASE WHEN m.sb IS NULL OR m.sb = 0 OR m.mb IS NULL
                           OR m.mc IS NULL THEN 0.0
                      ELSE abs(m.mb - m.mc) / m.sb END, 4) AS mean_shift,
                k.n_base, k.n_cur, k.pv < 0.05 AS drifted
         FROM ksp k JOIN m USING (g) ORDER BY g""",

    "q_psi" ->
      """WITH base AS (
           SELECT min(l_quantity) lo, max(l_quantity) hi FROM lineitem
           WHERE l_shipdate < TIMESTAMP '1998-01-01'),
         binned AS (
           SELECT greatest(0, least(9, floor((l_quantity - lo) * 10 / (hi - lo))))::INT AS bin,
                  CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS s1
           FROM lineitem, base),
         bins AS (SELECT range AS bin FROM range(10)),
         hist AS (
           SELECT bins.bin,
                  coalesce(sum(s1), 0) AS c1, coalesce(sum(1 - s1), 0) AS c2
           FROM bins LEFT JOIN binned ON bins.bin = binned.bin GROUP BY 1),
         tot AS (SELECT sum(c1)::DOUBLE n1, sum(c2)::DOUBLE n2 FROM hist)
         SELECT round(sum((greatest(c1 / n1, 1e-6) - greatest(c2 / n2, 1e-6))
                        * ln(greatest(c1 / n1, 1e-6) / greatest(c2 / n2, 1e-6))), 6) AS psi_qty
         FROM hist, tot""",

    "q_chisq" ->
      """WITH counts AS (
           SELECT lang,
                  sum(CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9') THEN 1 ELSE 0 END) AS c1,
                  sum(CASE WHEN source IN ('src0','src1','src2','src3','src4','src5','src6','src7','src8','src9') THEN 0 ELSE 1 END) AS c2
           FROM documents GROUP BY 1),
         base AS (SELECT * FROM counts WHERE c1 > 0),
         tot AS (SELECT sum(c1)::DOUBLE n1, sum(c2)::DOUBLE n2 FROM base)
         SELECT round(sum(pow(c2 - c1 / n1 * n2, 2) / (c1 / n1 * n2)), 6) AS chisq_lang
         FROM base, tot""",

    "q_news_pipeline" ->
      """WITH merged AS (
           SELECT * FROM documents WHERE doc_id % 3 = 0
           UNION ALL SELECT * FROM documents WHERE doc_id % 2 = 0),
         fp AS (SELECT *, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
                FROM merged),
         dedup AS (SELECT * FROM fp
                   QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) = 1),
         rel AS (SELECT * FROM dedup WHERE contains(lower(coalesce(text, '')), 'spark')),
         seen AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
                  FROM documents WHERE doc_id < 100),
         fresh AS (SELECT r.* FROM rel r WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = r.fp)),
         top AS (SELECT * FROM fresh ORDER BY n_chars DESC, doc_id ASC LIMIT 20)
         SELECT doc_id, lang, source, n_chars,
                CASE WHEN length(text) > 100 THEN substring(text, 1, 100) || '...'
                     ELSE text END AS snippet
         FROM top ORDER BY doc_id""",

    "q_json_roundtrip" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS id_sum,
                round(sum(value), 4) AS value_sum
         FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         GROUP BY 1 ORDER BY 1""",

    "q_hll_distinct" ->
      "SELECT true AS parts_ok, true AS orders_ok",

    // exact-regime heavy hitters: sketch estimates equal true counts, so
    // the oracle is the exact frequency cut with est == lb == ub
    "q_heavy_hitters" ->
      """SELECT CAST(o_custkey AS BIGINT) AS custkey,
                CAST(count(*) AS BIGINT) AS est,
                CAST(count(*) AS BIGINT) AS lb,
                CAST(count(*) AS BIGINT) AS ub
         FROM orders GROUP BY 1 HAVING count(*) >= 18 ORDER BY 1""",

    "q_kll_quantile" ->
      "SELECT true AS p50_ok, true AS p95_ok",

    "q_ann_lsh" ->
      "SELECT true AS recall_ok, CAST(20 AS BIGINT) AS n_queries",

    "q_ann_ivf_recall" ->
      "SELECT true AS recall_ok, CAST(20 AS BIGINT) AS n_queries",

    "q_minhash_recall" ->
      "SELECT true AS recall_ok, CAST(50 AS BIGINT) AS injected",

    "q_simhash_recall" ->
      "SELECT true AS recall_ok, CAST(50 AS BIGINT) AS injected",

    "q_embedding_recall" ->
      "SELECT true AS recall_ok, CAST(20 AS BIGINT) AS injected",

    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
           FROM q, c WHERE query_id <> neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // IVF search re-derived from the COMMITTED index: candidates from the
    // hive-partitioned assignment store joined against the WRITTEN probe
    // table (Spark's own top-4 cut — riding it instead of re-ranking raw
    // doubles keeps an FP near-tie between two centroid cosines from
    // flipping the cut only on the DuckDB side; the cut is independently
    // validated by IvfSpec and q_ann_ivf_recall), exact cosine re-rank,
    // rank <= 5
    "q_ann_ivf" ->
      s"""WITH assign AS (
           SELECT id, list_id
           FROM read_parquet('$root/ivf_index/assign/*/*.parquet',
                             hive_partitioning=1)),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         probes AS (
           SELECT query_id, list_id
           FROM read_parquet('$root/ivf_probes/*.parquet')),
         cand AS (
           SELECT p.query_id, a.id AS neighbor_id
           FROM probes p JOIN assign a ON a.list_id = p.list_id
           WHERE a.id <> p.query_id),
         scored AS (
           SELECT c.query_id, c.neighbor_id,
                  list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
           FROM cand c
           JOIN q ON q.query_id = c.query_id
           JOIN embeddings e ON e.vec_id = c.neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // PQ exact re-rank re-derived from the written ADC cut (mirrors the
    // q_ann_ivf oracle): candidate join, exact cosine on RAW vectors,
    // rank <= 5. The cut is validated by q_pq_adc + q_ann_pq_recall +
    // PqSpec's equivalence laws.
    "q_ann_pq" ->
      s"""WITH cand AS (
           SELECT query_id, neighbor_id
           FROM read_parquet('$root/pq_cand/*.parquet')),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT c.query_id, c.neighbor_id,
                  list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
           FROM cand c
           JOIN q ON q.query_id = c.query_id
           JOIN embeddings e ON e.vec_id = c.neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // compressed-domain scores re-derived by RECONSTRUCTION: decode each
    // written code back to a vector (its codebook entries concatenated in
    // subspace order) and recompute cosine(query, reconstruction) — the
    // external check that PQ's asymmetric-distance math is exactly
    // cosine-against-the-decoded-vector
    "q_pq_adc" ->
      s"""WITH cb AS (
           SELECT m, k, centroid
           FROM read_parquet('$root/pq_adc_codebooks/*.parquet')),
         codes AS (
           SELECT id, code
           FROM read_parquet('$root/pq_adc_codes/*.parquet')),
         recon AS (
           SELECT c.id, flatten(list(b.centroid ORDER BY b.m)) AS rv
           FROM codes c JOIN cb b ON b.k = c.code[b.m + 1]
           GROUP BY c.id),
         q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10)
         SELECT q.query_id, r.id AS neighbor_id,
                round(list_cosine_similarity(q.qv, r.rv), 4) AS approx
         FROM q CROSS JOIN recon r
         ORDER BY query_id, neighbor_id""",

    "q_ann_pq_recall" ->
      "SELECT true AS recall_ok, CAST(20 AS BIGINT) AS n_queries",

    // full external recompute of all three repetition fractions from raw
    // text: same line-trim (spaces only), same pinned normalization, same
    // max(count·len) tie-free top-gram product, integer counts → one
    // double division each side, so values agree bit-for-bit before the
    // shared round(.,4)
    "q_repetition" ->
      """WITH src AS (
           SELECT doc_id, CASE WHEN doc_id % 3 = 0
                    THEN concat_ws(chr(10), text, text, text) ELSE text END AS c
           FROM documents WHERE doc_id < 100),
         lines AS (
           SELECT doc_id, trim(l, ' ') AS l
           FROM (SELECT doc_id, unnest(string_split(c, chr(10))) AS l FROM src)
           WHERE trim(l, ' ') <> ''),
         lc AS (SELECT doc_id, l, count(*) AS cnt, length(l) AS len
                FROM lines GROUP BY doc_id, l),
         lstat AS (SELECT doc_id,
             (sum(cnt) - count(*))::DOUBLE / sum(cnt) AS dlf,
             sum((cnt - 1) * len)::DOUBLE / sum(cnt * len) AS dlcf
           FROM lc GROUP BY doc_id),
         norm AS (SELECT doc_id,
             trim(regexp_replace(lower(c), '[^a-z0-9]+', ' ', 'g')) AS nt
           FROM src),
         w AS (SELECT doc_id, nt, string_split(nt, ' ') AS ws FROM norm),
         gc AS (SELECT doc_id, g, count(*) AS cnt FROM
                 (SELECT doc_id, unnest([array_to_string(ws[i:i+1], ' ')
                                         for i in range(1, len(ws))]) AS g
                  FROM w WHERE nt <> '' AND len(ws) >= 2)
                GROUP BY doc_id, g),
         gmax AS (SELECT doc_id, max(cnt * length(g)) AS mc FROM gc GROUP BY doc_id)
         SELECT s.doc_id,
                round(coalesce(l.dlf, 0.0), 4) AS dup_line_frac,
                round(coalesce(l.dlcf, 0.0), 4) AS dup_line_char_frac,
                round(CASE WHEN n.nt = '' OR g.mc IS NULL THEN 0.0
                      ELSE least(g.mc::DOUBLE / length(n.nt), 1.0) END, 4)
                  AS top_ngram_char_frac
         FROM src s JOIN norm n USING (doc_id)
         LEFT JOIN lstat l USING (doc_id) LEFT JOIN gmax g USING (doc_id)
         ORDER BY doc_id""",

    // gram STRINGS re-derived from raw text on both sides of the overlap
    // join (Spark joined 64-bit hashes — a collision would fail here)
    "q_contamination" ->
      """WITH norm AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt,
             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [nt]
                 ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                                     for i in range(1, len(w)-1)]) END AS gs
               FROM norm),
         eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 17 = 0),
         cg AS (SELECT doc_id, unnest(gs) AS gram FROM g
                WHERE doc_id % 17 <> 0 AND doc_id < 300)
         SELECT c.doc_id, count(*) AS total_grams, count(e.gram) AS overlap_grams,
                round(count(e.gram)::DOUBLE / count(*), 4) AS overlap_frac,
                count(e.gram) >= 1 AS contaminated
         FROM cg c LEFT JOIN eg e ON c.gram = e.gram
         GROUP BY c.doc_id ORDER BY doc_id""",

    // exact GROUP BY/HAVING over the re-derived gram sets — the sketch
    // phase only NAMES candidates, so the oracle needs no sketch model
    "q_boilerplate" ->
      """WITH norm AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt,
             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
           FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [nt]
                 ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                                     for i in range(1, len(w)-1)]) END AS gs
               FROM norm),
         e AS (SELECT doc_id, unnest(gs) AS gram FROM g)
         SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
         FROM e GROUP BY 1 HAVING count(*) >= 5 ORDER BY gram""",

    "q_ngram_jaccard" ->
      """WITH dups AS (
           SELECT doc_id AS id1, doc_id + 100000 AS id2,
                  regexp_replace(text, '\s+\S+$', '') AS tb
           FROM documents WHERE doc_id < 50),
         pairs AS (
           SELECT d.id1, d.id2, o.text AS ta, d.tb
           FROM dups d JOIN documents o ON o.doc_id = d.id1),
         g AS (
           SELECT id1, id2,
             (SELECT CASE WHEN len(w) < 3 THEN [n]
                     ELSE list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) END
              FROM (SELECT trim(regexp_replace(lower(ta), '[^a-z0-9]+', ' ', 'g')) AS n,
                           string_split(trim(regexp_replace(lower(ta), '[^a-z0-9]+', ' ', 'g')), ' ') AS w)) AS ga,
             (SELECT CASE WHEN len(w) < 3 THEN [n]
                     ELSE list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) END
              FROM (SELECT trim(regexp_replace(lower(tb), '[^a-z0-9]+', ' ', 'g')) AS n,
                           string_split(trim(regexp_replace(lower(tb), '[^a-z0-9]+', ' ', 'g')), ' ') AS w)) AS gb
           FROM pairs)
         SELECT id1, id2,
                round(CASE WHEN len(list_distinct(list_concat(ga, gb))) = 0 THEN 0.0
                      ELSE len(list_intersect(ga, gb))::DOUBLE
                           / len(list_distinct(list_concat(ga, gb))) END, 4) AS jaccard
         FROM g ORDER BY id1""",

    "q_drift_stats" ->
      """WITH clean AS (
           SELECT l_quantity AS q, l_extendedprice AS p, l_discount AS dc,
                  l_returnflag AS rf,
                  CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS s1
           FROM lineitem),
         kq AS (SELECT q AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         kqc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM kq),
         ksq AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d FROM kqc),
         kp AS (SELECT p AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         kpc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM kp),
         ksp AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d FROM kpc),
         kd AS (SELECT dc AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         kdc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM kd),
         ksd AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d FROM kdc),
         m AS (SELECT
           avg(CASE WHEN s1 = 1 THEN q END) mq1, stddev_samp(CASE WHEN s1 = 1 THEN q END) sq1,
           avg(CASE WHEN s1 = 0 THEN q END) mq2,
           avg(CASE WHEN s1 = 1 THEN p END) mp1, stddev_samp(CASE WHEN s1 = 1 THEN p END) sp1,
           avg(CASE WHEN s1 = 0 THEN p END) mp2,
           avg(CASE WHEN s1 = 1 THEN dc END) md1, stddev_samp(CASE WHEN s1 = 1 THEN dc END) sd1,
           avg(CASE WHEN s1 = 0 THEN dc END) md2
           FROM clean),
         cc AS (SELECT rf, sum(s1) c1, sum(1 - s1) c2 FROM clean WHERE rf IS NOT NULL GROUP BY 1),
         cb AS (SELECT * FROM cc WHERE c1 > 0),
         ct AS (SELECT sum(c1)::DOUBLE n1, sum(c2)::DOUBLE n2cov FROM cb),
         chi AS (SELECT sum(pow(c2 - c1 / n1 * n2cov, 2) / (c1 / n1 * n2cov)) AS stat FROM cb, ct)
         SELECT * FROM (
           SELECT 'l_discount' AS "column", 'ks' AS test,
                  round((SELECT d FROM ksd), 6) AS statistic,
                  round(CASE WHEN sd1 IS NULL OR sd1 = 0 THEN 0 ELSE abs(md1 - md2) / sd1 END, 6) AS mean_difference
           FROM m
           UNION ALL
           SELECT 'l_extendedprice', 'ks', round((SELECT d FROM ksp), 6),
                  round(CASE WHEN sp1 IS NULL OR sp1 = 0 THEN 0 ELSE abs(mp1 - mp2) / sp1 END, 6)
           FROM m
           UNION ALL
           SELECT 'l_quantity', 'ks', round((SELECT d FROM ksq), 6),
                  round(CASE WHEN sq1 IS NULL OR sq1 = 0 THEN 0 ELSE abs(mq1 - mq2) / sq1 END, 6)
           FROM m
           UNION ALL
           SELECT 'l_returnflag', 'chisq', round((SELECT stat FROM chi), 6), 0.0
           FROM m)
         ORDER BY "column", test""",

    "q_mean_shift" ->
      """WITH s AS (
           SELECT avg(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN l_extendedprice END) m1,
                  stddev_samp(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN l_extendedprice END) s1,
                  avg(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01' THEN l_extendedprice END) m2
           FROM lineitem)
         SELECT round(CASE WHEN s1 = 0 OR s1 IS NULL THEN 0 ELSE abs(m1 - m2) / s1 END, 6) AS mean_shift
         FROM s""",

    // full drift report INCLUDING p-values: KS p is the asymptotic
    // Kolmogorov SF 2·Σ(−1)^{k−1}e^{−2k²λ²}, λ = √(n1·n2/(n1+n2))·D,
    // truncated at k=100 exactly like DriftMath.kolmogorovSF; chi-square p
    // at dof=2 is exp(−χ²/2) (regularized upper gamma Q(1, x) closed form)
    "q_drift_report" ->
      """WITH clean AS (
           SELECT l_quantity AS q, l_extendedprice AS p, l_discount AS dc,
                  l_returnflag AS rf,
                  CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS s1
           FROM lineitem),
         kq AS (SELECT q AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         kqc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM kq),
         ksq AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d,
                        max(n1) AS n1, max(n2) AS n2 FROM kqc),
         kp AS (SELECT p AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         kpc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM kp),
         ksp AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d,
                        max(n1) AS n1, max(n2) AS n2 FROM kpc),
         kd AS (SELECT dc AS v, sum(s1) c1, sum(1 - s1) c2 FROM clean GROUP BY 1),
         kdc AS (SELECT CAST(sum(c1) OVER (ORDER BY v) AS DOUBLE) cum1,
                        CAST(sum(c2) OVER (ORDER BY v) AS DOUBLE) cum2,
                        CAST(sum(c1) OVER () AS DOUBLE) n1,
                        CAST(sum(c2) OVER () AS DOUBLE) n2 FROM kd),
         ksd AS (SELECT max(abs(cum1 * n2 - cum2 * n1)) / (max(n1) * max(n2)) AS d,
                        max(n1) AS n1, max(n2) AS n2 FROM kdc),
         m AS (SELECT
           avg(CASE WHEN s1 = 1 THEN q END) mq1, stddev_samp(CASE WHEN s1 = 1 THEN q END) sq1,
           avg(CASE WHEN s1 = 0 THEN q END) mq2,
           avg(CASE WHEN s1 = 1 THEN p END) mp1, stddev_samp(CASE WHEN s1 = 1 THEN p END) sp1,
           avg(CASE WHEN s1 = 0 THEN p END) mp2,
           avg(CASE WHEN s1 = 1 THEN dc END) md1, stddev_samp(CASE WHEN s1 = 1 THEN dc END) sd1,
           avg(CASE WHEN s1 = 0 THEN dc END) md2
           FROM clean),
         cc AS (SELECT rf, sum(s1) c1, sum(1 - s1) c2 FROM clean WHERE rf IS NOT NULL GROUP BY 1),
         cb AS (SELECT * FROM cc WHERE c1 > 0),
         ct AS (SELECT sum(c1)::DOUBLE n1, sum(c2)::DOUBLE n2cov FROM cb),
         chi AS (SELECT sum(pow(c2 - c1 / n1 * n2cov, 2) / (c1 / n1 * n2cov)) AS stat FROM cb, ct),
         nn AS (SELECT CAST(sum(s1) AS BIGINT) AS nref,
                       CAST(sum(1 - s1) AS BIGINT) AS ncur
                FROM clean WHERE rf IS NOT NULL),
         ks AS (SELECT 'l_quantity' AS colname, d, n1, n2 FROM ksq
                UNION ALL SELECT 'l_extendedprice', d, n1, n2 FROM ksp
                UNION ALL SELECT 'l_discount', d, n1, n2 FROM ksd),
         ksv AS (SELECT colname, d,
                        -- D = 0 short-circuits to p = 1 exactly like the
                        -- engine's kolmogorovSF (the alternating series
                        -- degenerates to 0 at lambda = 0, the wrong limit)
                        CASE WHEN d <= 0 THEN 1.0 ELSE
                        least(1.0, greatest(0.0, list_sum(list_transform(range(1, 101),
                          k -> 2.0 * (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                               * exp(-2.0 * k * k
                                     * (sqrt(n1 * n2 / (n1 + n2)) * d)
                                     * (sqrt(n1 * n2 / (n1 + n2)) * d)))))) END AS pv,
                        CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
                 FROM ks)
         SELECT * FROM (
           SELECT colname AS "column", 'ks' AS test,
                  round(d, 6) AS statistic, round(pv, 6) AS p_value,
                  pv < 0.05 AS drift_detected,
                  round(CASE colname
                    WHEN 'l_quantity' THEN
                      CASE WHEN sq1 IS NULL OR sq1 = 0 THEN 0 ELSE abs(mq1 - mq2) / sq1 END
                    WHEN 'l_extendedprice' THEN
                      CASE WHEN sp1 IS NULL OR sp1 = 0 THEN 0 ELSE abs(mp1 - mp2) / sp1 END
                    ELSE
                      CASE WHEN sd1 IS NULL OR sd1 = 0 THEN 0 ELSE abs(md1 - md2) / sd1 END
                    END, 6) AS mean_difference,
                  n1 AS n_ref, n2 AS n_cur
           FROM ksv, m
           UNION ALL
           SELECT 'l_returnflag', 'chisq',
                  round((SELECT stat FROM chi), 6),
                  round(least(1.0, exp(-(SELECT stat FROM chi) / 2.0)), 6),
                  least(1.0, exp(-(SELECT stat FROM chi) / 2.0)) < 0.05,
                  0.0, (SELECT nref FROM nn), (SELECT ncur FROM nn))
         ORDER BY "column", test""",

    // suite INTEGER verdicts recomputed by DuckDB from the exact parquet
    // input the engine validated (written by the query itself): violation
    // counts for the four count-based checks, per batch
    "q_suite_counts" ->
      suiteCountsOracleSql(s"$root/suite_input_100000/*.parquet"),

    // quality_score re-derived from the same written input: 0 if any
    // constraint count is nonzero, else 1 − max(missing rate, sha-mismatch
    // rate) — closes the last not-externally-recomputed suite column
    "q_suite_quality" ->
      s"""WITH code AS (
           SELECT * FROM read_parquet('$root/suite_quality_input/*.parquet')),
         batches AS (SELECT DISTINCT batch_id FROM code),
         cnt AS (SELECT batch_id, count(*) AS n_rows FROM code GROUP BY 1),
         dup AS (
           SELECT batch_id, CAST(sum(c - 1) AS BIGINT) AS n
           FROM (SELECT batch_id, repo, path, commit, count(*) AS c
                 FROM code GROUP BY 1, 2, 3, 4 HAVING count(*) > 1)
           GROUP BY 1),
         refv AS (
           SELECT batch_id, count(*) AS n FROM code
           WHERE lang NOT IN ('scala', 'java', 'python', 'go', 'rust', 'markdown')
           GROUP BY 1),
         comp AS (
           SELECT batch_id,
                  CAST(sum(CASE WHEN path IS NULL OR path = '' THEN 1 ELSE 0 END) AS BIGINT) AS n
           FROM code GROUP BY 1),
         sha AS (
           SELECT batch_id,
                  CAST(sum(CASE WHEN sha256(content) <> expected_sha256 THEN 1 ELSE 0 END) AS BIGINT) AS n
           FROM code GROUP BY 1),
         agg AS (
           SELECT b.batch_id, t.n_rows,
                  coalesce(d.n, 0) AS dup_n, coalesce(r.n, 0) AS ref_n,
                  coalesce(c.n, 0) AS miss_n, coalesce(s.n, 0) AS sha_n
           FROM batches b
           JOIN cnt t USING (batch_id)
           LEFT JOIN dup d USING (batch_id)
           LEFT JOIN refv r USING (batch_id)
           LEFT JOIN comp c USING (batch_id)
           LEFT JOIN sha s USING (batch_id))
         SELECT batch_id,
                round(CASE WHEN dup_n + ref_n + miss_n + sha_n > 0 THEN 0.0
                      ELSE 1.0 - greatest(CAST(miss_n AS DOUBLE) / n_rows,
                                          CAST(sha_n AS DOUBLE) / n_rows) END, 6)
                  AS quality
         FROM agg ORDER BY batch_id""",

    // the LSH pair pipelines, recomputed by DuckDB from the Spark-computed
    // primitive tables the queries dump (signatures / simhashes / band
    // table): banding, candidate generation, agreement/hamming/cosine and
    // the threshold filter are all re-derived in SQL
    "q_minhash_pairs" ->
      s"""WITH sigs AS (
           SELECT id, sig FROM read_parquet('$root/minhash_sigs/*.parquet')),
         bands AS (
           SELECT s.id, b.band,
                  CAST(list_slice(s.sig, b.band*4 + 1, b.band*4 + 4) AS VARCHAR) AS bval
           FROM sigs s CROSS JOIN (SELECT unnest(range(16)) AS band) b),
         cand AS (
           SELECT DISTINCT l.id AS id1, r.id AS id2
           FROM bands l JOIN bands r
             ON l.band = r.band AND l.bval = r.bval AND l.id < r.id),
         scored AS (
           SELECT c.id1, c.id2,
                  list_sum(list_transform(range(1, 65),
                    i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) / 64.0
                    AS est_jaccard
           FROM cand c
           JOIN sigs s1 ON s1.id = c.id1
           JOIN sigs s2 ON s2.id = c.id2)
         SELECT id1, id2, est_jaccard FROM scored
         WHERE est_jaccard >= 0.5 ORDER BY id1, id2""",

    // transitive closure of the written pair graph: recursive-CTE
    // reachability, rep = min(id, min reachable id)
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
           SELECT id1, id2 FROM read_parquet('$root/cluster_pairs/*.parquet')),
         edges AS (
           SELECT id1 AS u, id2 AS v FROM pairs
           UNION
           SELECT id2 AS u, id1 AS v FROM pairs),
         reach(u, v) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
           WHERE e.v <> r.u)
         SELECT u AS id, least(u, min(v)) AS rep
         FROM reach GROUP BY u ORDER BY id""",

    // same closure over the FULL pair set — the Spark side computed it as
    // committed-store + incremental apply, so equality proves the
    // incremental path end-to-end on real LSH output
    "q_dedup_clusters_incremental" ->
      s"""WITH RECURSIVE pairs AS (
           SELECT id1, id2 FROM read_parquet('$root/cluster_pairs_incr/*.parquet')),
         edges AS (
           SELECT id1 AS u, id2 AS v FROM pairs
           UNION
           SELECT id2 AS u, id1 AS v FROM pairs),
         reach(u, v) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
           WHERE e.v <> r.u)
         SELECT u AS id, least(u, min(v)) AS rep
         FROM reach GROUP BY u ORDER BY id""",

    "q_simhash_pairs" ->
      s"""WITH shs AS (
           SELECT id, sh FROM read_parquet('$root/simhashes/*.parquet')),
         blocks AS (
           SELECT s.id, s.sh, b.block, (s.sh >> (b.block*16)) & 65535 AS bval
           FROM shs s CROSS JOIN (SELECT unnest(range(4)) AS block) b),
         cand AS (
           SELECT DISTINCT l.id AS id1, l.sh AS sh1, r.id AS id2, r.sh AS sh2
           FROM blocks l JOIN blocks r
             ON l.block = r.block AND l.bval = r.bval AND l.id < r.id)
         SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(sh1, sh2)) <= 3 ORDER BY id1, id2""",

    "q_embedding_pairs" ->
      s"""WITH vecs AS (
           SELECT id, v FROM read_parquet('$root/emb_vecs/*.parquet')),
         bands AS (
           SELECT id, t, sig FROM read_parquet('$root/emb_bands/*.parquet')),
         cand AS (
           SELECT DISTINCT l.id AS id1, r.id AS id2
           FROM bands l JOIN bands r
             ON l.t = r.t AND l.sig = r.sig AND l.id < r.id),
         scored AS (
           SELECT c.id1, c.id2,
                  list_cosine_similarity(v1.v::DOUBLE[], v2.v::DOUBLE[]) AS cosine
           FROM cand c
           JOIN vecs v1 ON v1.id = c.id1
           JOIN vecs v2 ON v2.id = c.id2)
         SELECT id1, id2, round(cosine, 4) AS cosine FROM scored
         WHERE cosine >= 0.9 ORDER BY id1, id2""",

    // quota sampling re-ranked from the written Spark-computed hash keys
    "q_quota_sample" ->
      s"""WITH k AS (
           SELECT doc_id, lang, h FROM read_parquet('$root/quota_keys/*.parquet')),
         q(lang, quota) AS (
           VALUES ('en', 100), ('zh', 40), ('es', 40), ('de', 25)),
         r AS (
           SELECT k.doc_id, k.lang,
                  row_number() OVER (PARTITION BY k.lang ORDER BY k.h, k.doc_id) AS rn,
                  q.quota
           FROM k JOIN q USING (lang))
         SELECT doc_id, lang FROM r WHERE rn <= quota ORDER BY doc_id""",

    // semantic dedup recomputed from the written (id, v, list_id) table:
    // within-cluster pairs at cosine >= 0.9, transitive closure, min-id labels
    "q_semantic_dedup" ->
      s"""WITH RECURSIVE a AS (
           SELECT id, v, list_id FROM read_parquet('$root/sem_clustered/*.parquet')),
         pairs AS (
           SELECT l.id AS id1, r.id AS id2
           FROM a l JOIN a r ON l.list_id = r.list_id AND l.id < r.id
           WHERE l.list_id IS NOT NULL
             AND list_cosine_similarity(l.v::DOUBLE[], r.v::DOUBLE[]) >= 0.9),
         edges AS (
           SELECT id1 AS u, id2 AS v FROM pairs
           UNION
           SELECT id2 AS u, id1 AS v FROM pairs),
         reach(u, v) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
           WHERE e.v <> r.u),
         rep AS (
           SELECT u AS id, least(u, min(v)) AS rep FROM reach GROUP BY u)
         SELECT a.id, a.list_id, coalesce(rep.rep, a.id) AS rep
         FROM a LEFT JOIN rep USING (id) ORDER BY id""",

    // the suite's drift verdict rows recomputed by DuckDB from the exact
    // written input: exact two-sample KS over distinct content lengths +
    // asymptotic Kolmogorov p (k ≤ 100 series), baseline-pinned 10-bin
    // PSI(length), PSI(lang), chi-square(lang) with dof=6 closed-form
    // survival e^(−y)(1+y+y²/2), Cramér's-V-gated pass flags, mean shift
    "q_code_suite_drift" ->
      s"""WITH code AS (
           SELECT batch_id, lang, CAST(length(content) AS BIGINT) AS len
           FROM read_parquet('$root/suite_drift_input/*.parquet')),
         bs AS (SELECT DISTINCT batch_id FROM code),
         lens AS (SELECT batch_id, len, CAST(count(*) AS BIGINT) AS c FROM code GROUP BY 1, 2),
         tot AS (SELECT batch_id, CAST(sum(c) AS DOUBLE) AS n FROM lens GROUP BY 1),
         pts AS (SELECT b.batch_id AS b, l.len FROM bs b
                 JOIN lens l ON l.batch_id = 0 OR l.batch_id = b.batch_id GROUP BY 1, 2),
         cums AS (SELECT p.b, p.len,
           CAST((SELECT coalesce(sum(x.c), 0) FROM lens x
                 WHERE x.batch_id = 0 AND x.len <= p.len) AS DOUBLE) AS cum0,
           CAST((SELECT coalesce(sum(y.c), 0) FROM lens y
                 WHERE y.batch_id = p.b AND y.len <= p.len) AS DOUBLE) AS cumb
           FROM pts p),
         ks AS (SELECT c.b, max(abs(c.cum0 / t0.n - c.cumb / tb.n)) AS d,
                       max(t0.n) AS n1, max(tb.n) AS n2
                FROM cums c JOIN tot t0 ON t0.batch_id = 0
                JOIN tot tb ON tb.batch_id = c.b
                GROUP BY 1),
         ksp AS (SELECT b, d, n1, n2,
           CASE WHEN d <= 0 THEN 1.0 ELSE least(1.0, greatest(0.0,
             list_sum(list_transform(range(1, 101),
               k -> 2.0 * (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                    * exp(-2.0 * k * k * (sqrt(n1 * n2 / (n1 + n2)) * d)
                          * (sqrt(n1 * n2 / (n1 + n2)) * d)))))) END AS pv
           FROM ks),
         rng AS (SELECT CAST(min(len) AS DOUBLE) AS lo, CAST(max(len) AS DOUBLE) AS hi
                 FROM code WHERE batch_id = 0),
         binned AS (SELECT l.batch_id,
           greatest(0, least(9, CAST(trunc((l.len - r.lo) * 10.0 / (r.hi - r.lo)) AS INT))) AS bin,
           CAST(sum(l.c) AS DOUBLE) AS c
           FROM lens l, rng r GROUP BY 1, 2),
         hist AS (SELECT b.batch_id AS hb, g.bin,
           CAST(coalesce((SELECT x.c FROM binned x
                          WHERE x.batch_id = b.batch_id AND x.bin = g.bin), 0) AS DOUBLE) AS c
           FROM bs b CROSS JOIN (SELECT unnest(range(10)) AS bin) g),
         histp AS (SELECT hb,
           list(c / (SELECT t.n FROM tot t WHERE t.batch_id = hb) ORDER BY bin) AS ps
           FROM hist GROUP BY hb),
         psiLen AS (SELECT cur.hb AS b,
           list_sum(list_transform(range(1, 11), i ->
             (greatest(base.ps[i], 1e-6) - greatest(cur.ps[i], 1e-6))
             * ln(greatest(base.ps[i], 1e-6) / greatest(cur.ps[i], 1e-6)))) AS psi
           FROM histp cur, (SELECT ps FROM histp WHERE hb = 0) base),
         langc AS (SELECT batch_id, lang, CAST(count(*) AS BIGINT) AS c FROM code GROUP BY 1, 2),
         langKeys AS (SELECT b.batch_id AS b, l.lang FROM bs b
                      JOIN langc l ON l.batch_id = 0 OR l.batch_id = b.batch_id GROUP BY 1, 2),
         langPQ AS (SELECT k.b, k.lang,
           CAST(coalesce((SELECT x.c FROM langc x
                          WHERE x.batch_id = 0 AND x.lang = k.lang), 0) AS DOUBLE) AS c0,
           CAST(coalesce((SELECT y.c FROM langc y
                          WHERE y.batch_id = k.b AND y.lang = k.lang), 0) AS DOUBLE) AS cb
           FROM langKeys k),
         langTot AS (SELECT b, sum(c0) AS n1, sum(cb) AS n2 FROM langPQ GROUP BY 1),
         psiLang AS (SELECT q.b, list_sum(list_transform(range(1, len(q.ps) + 1), i ->
             (greatest(q.ps[i], 1e-6) - greatest(q.qs[i], 1e-6))
             * ln(greatest(q.ps[i], 1e-6) / greatest(q.qs[i], 1e-6)))) AS psi
           FROM (SELECT p.b, list(p.c0 / t.n1 ORDER BY p.lang) AS ps,
                        list(p.cb / t.n2 ORDER BY p.lang) AS qs
                 FROM langPQ p JOIN langTot t ON t.b = p.b GROUP BY p.b) q),
         chi AS (SELECT p.b,
           sum(pow(p.cb - p.c0 / t.n1 * (SELECT sum(p2.cb) FROM langPQ p2
                                         WHERE p2.b = p.b AND p2.c0 > 0), 2)
               / (p.c0 / t.n1 * (SELECT sum(p2.cb) FROM langPQ p2
                                 WHERE p2.b = p.b AND p2.c0 > 0))) AS stat,
           count(*) FILTER (WHERE p.c0 > 0) - 1 AS dof,
           (SELECT sum(p2.cb) FROM langPQ p2 WHERE p2.b = p.b AND p2.c0 > 0) AS n2cov
           FROM langPQ p JOIN langTot t ON t.b = p.b
           WHERE p.c0 > 0
           GROUP BY 1),
         chip AS (SELECT b, stat, dof, n2cov,
           CASE WHEN stat <= 0 THEN 1.0
                ELSE least(1.0, greatest(0.0,
                  exp(-stat / 2.0) * (1.0 + stat / 2.0 + (stat / 2.0) * (stat / 2.0) / 2.0))) END AS pv,
           CASE WHEN n2cov = 0 THEN 0.0 ELSE sqrt(stat / (n2cov * dof)) END AS cv
           FROM chi),
         m AS (SELECT batch_id, avg(len) AS mean, stddev_samp(len) AS std FROM code GROUP BY 1)
         SELECT k.b AS batch_id,
           round(k.d, 6) AS ks_stat, round(k.pv, 6) AS ks_p,
           (k.b = 0 OR k.pv >= 0.05) AS ks_passed,
           round(pl.psi, 6) AS psi_len, (k.b = 0 OR pl.psi < 0.2) AS psi_len_passed,
           round(pg.psi, 6) AS psi_lang, (k.b = 0 OR pg.psi < 0.2) AS psi_lang_passed,
           round(c.stat, 6) AS chisq_stat, round(c.pv, 6) AS chisq_p,
           (k.b = 0 OR c.pv >= 0.05 OR c.cv < 0.05) AS chisq_passed,
           round(CASE WHEN m0.std IS NULL OR m0.std = 0 THEN 0.0
                      ELSE abs(m0.mean - mb.mean) / m0.std END, 6) AS mean_shift
         FROM ksp k
         JOIN psiLen pl ON pl.b = k.b
         JOIN psiLang pg ON pg.b = k.b
         JOIN chip c ON c.b = k.b
         JOIN m mb ON mb.batch_id = k.b
         JOIN m m0 ON m0.batch_id = 0
         ORDER BY batch_id""",

    "q_multimodal_check" ->
      """SELECT true AS rows_ok, true AS len_ok,
                true AS frames_ok, true AS deterministic""",

    "q_suite_drift_check" ->
      """SELECT true AS drifted_ks_failed, true AS drifted_chisq_failed,
                true AS drifted_psi_failed, true AS undrifted_ks_passed,
                true AS undrifted_chisq_passed""",

    // identical recomputation pattern to q_suite_counts, over the input the
    // STREAMING validator processed (staged per-batch; micro-batch id 0/1
    // maps onto the input's own batch_id by arrival order)
    "q_streaming_suite_counts" ->
      suiteCountsOracleSql(s"$root/stream_suite_input_40000/*.parquet"))
}

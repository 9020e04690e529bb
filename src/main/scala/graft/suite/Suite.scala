package graft.suite

import org.apache.datasketches.kll.KllLongsSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.DriftMath
import graft.tableio.{DriverFrames, TableIO}

/** One verdict row per (batch, check) — the engine's analog of the
  * reference's per-report entries (validation report DESIGN.md:383-387,
  * drift report DESIGN.md:575-580), flattened for the audit table.
  */
case class Verdict(
    batch_id: Long,
    check: String,
    column: String,
    metric: Double,      // the measured statistic / rate / score
    p_value: Double,     // NaN when the check has no p-value
    threshold: Double,
    passed: Boolean,
    violation_count: Long)

/** Per-batch lineage + metrics row (north rule: "per-partition checkpointed
  * lineage + metrics rows").
  */
case class Lineage(
    batch_id: Long,
    row_count: Long,
    input_fingerprint: String, // order-independent fingerprint of the batch
    suite_version: String,
    baseline_batch: Long,
    wall_ms: Long)

object SuiteConfig {
  val SuiteVersion = "graft-0.5" // 0.5: artifacts carry kll_len, not tdigest_len
  val KsThreshold = 0.05      // DESIGN.md:534
  val PsiThreshold = 0.2
  val ChiSqThreshold = 0.05
  /** Effect-size gate for chi-square: at 10^6+ rows per batch the test has
    * power to reject on hash-level noise (observed: p=0.018 on an undrifted
    * 25k-row batch). Drift fires only when p < threshold AND Cramér's
    * V = sqrt(χ² / (n·(k−1))) ≥ this floor — i.e. the shift is material,
    * not just statistically detectable.
    */
  val CramersVFloor = 0.05
  val Bins = 10
  val ViolationCap = 100
  /** Exact-KS routing cap: per-batch distinct content-length cardinality
    * (approx, from the job-1 HLL) above which the driver-side length-count
    * collect is SKIPPED for that batch and its KS/PSI(length) verdicts
    * are computed from the mergeable KLL bytes instead. Below the cap the
    * collect is ≤ ~1.6 MB per batch (cap × 16 bytes); above it, real code
    * corpora can reach 10^6+ distinct lengths × langs × batches — a
    * driver OOM.
    */
  val LenCardCap = 100000L
  /** Per-buffer entry bound of the mergeable frequent-items (heavy-hitters)
    * sketch of `repo` aggregated in the artifacts scan: epsilon =
    * batchRows / (2 · 1024), so any repo holding ≥ ~0.05% of a batch is
    * guaranteed reported (NO_FALSE_NEGATIVES) — the mega-repo detector
    * whose audit bytes also merge ACROSS batches (AuditQueries.hotRepos),
    * which the exact per-batch repo_metrics top-k cannot do without a
    * re-scan.
    */
  val FreqMapSize = 1024
  /** KLL sketch size of the content-length sketch aggregated in the
    * artifacts scan: normalized rank error ε = 0.0028 per sketch, so the
    * sketched KS statistic (two sketches, error ≤ 2ε = 0.0056) stays well
    * under the KS critical D even for 5,000-row batches (0.027).
    */
  val KllK = 1000
}

/** Batch-parallel validation suite over the code table
  * (repo, path, commit, lang, content, expected_sha256, batch_id).
  *
  * Scale design: ALL pending batches are validated in a CONSTANT number of
  * full-table jobs, not O(#batches) loops:
  *   1. one-pass scalar aggregates per batch (counts, length moments,
  *      missing counts, sha-mismatch counts + capped sha samples, the
  *      capped completeness_path sample, HLL, heavy-hitters and KLL
  *      sketch bytes) — single ObjectHashAggregate, map-side partial.
  *      It reads every row whose batch is not committed yet (the committed
  *      batches are pruned by metadata, not listed by a scan), so its keys
  *      name the pending batches. `content` is read from storage exactly
  *      once here: the slim projection it reduces to is cached and reused
  *      by the later jobs, and the sha256 check rides the same projection
  *      (SURVEY.md §7.5 risk 4);
  *   2. one grouping-sets aggregate over the cached projection — lang
  *      marginals → chi-square / PSI(lang); length marginals → exact KS +
  *      PSI(length), computed ONLY while the distinct-length cardinality
  *      stays under [[SuiteConfig.LenCardCap]]; a batch above the cap
  *      takes its KS/PSI(length) verdicts from the job-1 KLL bytes
  *      (mergeable, scale-free) and sends no per-length rows to the driver;
  *   3. one per-batch aggregate over three group streams: uniqueness
  *      (duplicate-key candidates on a 64-bit key hash, re-verified on the
  *      real keys), referential (anti-join against the broadcast
  *      dimension) and the per-repo file counts. It yields each check's
  *      count and capped sample and the repo top-k in one pass.
  * Job 3 is collected on a writer thread while job 2 runs on the caller's
  * thread and the audit writes that need only job 1 are in flight. Every
  * driver collect and every audit frame goes through
  * [[graft.tableio.DriverFrames]], so neither generates a class, and a
  * warm call's classes fit Spark's codegen cache in most JVMs.
  * Verdict assembly is driver-side arithmetic over the tiny collected
  * aggregates, and every audit table (violation samples of ≤ ViolationCap
  * rows per batch, deterministic: O5; repo_metrics; artifacts, which
  * also holds each batch's mergeable sketch bytes; verdicts; lineage) is
  * written from the driver.
  *
  * Skew: groupBy keys are (batch, lang/bin/length) or near-unique triples.
  * The only repo-keyed metric (files per repo) is a plain count, which
  * Spark splits into a map-side partial and a final aggregate: each map
  * task sends at most one row per (batch, repo), so the 30% mega-repo
  * cannot hot-spot a reducer without any key splitting.
  */
object SuiteRunner {
  import SuiteConfig._

  case class BatchArtifacts(
      batchId: Long,
      rows: Long,
      lenMin: Double, lenMax: Double, lenMean: Double, lenStd: Double,
      missingPath: Long, missingLang: Long, missingContent: Long,
      shaMismatch: Long,
      langCounts: Map[String, Long],
      lenCounts: Seq[(Long, Long)], // (length, count) sorted; EMPTY when the
                                    // distinct-length cardinality exceeded
                                    // LenCardCap (sketched drift path)
      fingerprint: String,
      hllKey: Array[Byte] = Array.empty,     // mergeable HLL of (repo,path,commit)
      hllRepo: Array[Byte] = Array.empty,    // mergeable HLL of repo
      kllLen: Array[Byte] = Array.empty,     // mergeable KLL sketch of content length
      freqRepo: Array[Byte] = Array.empty,   // mergeable heavy-hitters sketch of repo
      shaSamples: Seq[String] = Seq.empty,   // capped JSON {repo,path,commit} triples
      lenCardApprox: Long = 0L,              // approx distinct lengths (routing)
      // capped (repo, commit, lang) sample of the path-missing rows; feeds
      // violations_completeness_path only, so ArtifactRow does not carry it
      pathSamples: Seq[(String, String, String)] = Seq.empty)

  /** Parquet-serializable form of [[BatchArtifacts]] — persisted to the
    * `artifacts` audit table per batch so a resumed run can reload the
    * baseline's reference distributions WITHOUT re-scanning the baseline
    * partition (reference T7/T8 semantics: the first scan pins the
    * reference; later runs reuse the committed snapshot).
    */
  case class ArtifactRow(
      batch_id: Long, rows: Long,
      len_min: Double, len_max: Double, len_mean: Double, len_std: Double,
      missing_path: Long, missing_lang: Long, missing_content: Long,
      sha_mismatch: Long,
      lang_counts: Map[String, Long],
      len_vals: Seq[Long], len_cnts: Seq[Long],
      fingerprint: String,
      hll_key: Array[Byte], hll_repo: Array[Byte], kll_len: Array[Byte],
      freq_repo: Array[Byte],
      sha_samples: Seq[String], len_card: Long)

  def toRow(a: BatchArtifacts): ArtifactRow = ArtifactRow(
    a.batchId, a.rows, a.lenMin, a.lenMax, a.lenMean, a.lenStd,
    a.missingPath, a.missingLang, a.missingContent, a.shaMismatch,
    a.langCounts, a.lenCounts.map(_._1), a.lenCounts.map(_._2),
    a.fingerprint, a.hllKey, a.hllRepo, a.kllLen, a.freqRepo,
    a.shaSamples, a.lenCardApprox)

  /** A committed `artifacts` row (columns of [[ArtifactRow]], by name). */
  def fromRow(r: Row): BatchArtifacts = BatchArtifacts(
    r.getAs[Number]("batch_id").longValue, r.getAs[Long]("rows"),
    r.getAs[Double]("len_min"), r.getAs[Double]("len_max"),
    r.getAs[Double]("len_mean"), r.getAs[Double]("len_std"),
    r.getAs[Long]("missing_path"), r.getAs[Long]("missing_lang"),
    r.getAs[Long]("missing_content"), r.getAs[Long]("sha_mismatch"),
    r.getMap[String, Long](r.fieldIndex("lang_counts")).toMap,
    r.getSeq[Long](r.fieldIndex("len_vals")).zip(r.getSeq[Long](r.fieldIndex("len_cnts"))),
    r.getAs[String]("fingerprint"), r.getAs[Array[Byte]]("hll_key"),
    r.getAs[Array[Byte]]("hll_repo"), r.getAs[Array[Byte]]("kll_len"),
    r.getAs[Array[Byte]]("freq_repo"), r.getSeq[String](r.fieldIndex("sha_samples")),
    r.getAs[Long]("len_card"))

  /** Exact two-sample KS from distinct-value count maps (driver-side; the
    * maps are groupBy(value).count results, already tiny).
    */
  def ksFromCounts(ref: Seq[(Long, Long)], cur: Seq[(Long, Long)]): (Double, Double) = {
    val n1 = ref.map(_._2).sum
    val n2 = cur.map(_._2).sum
    if (n1 == 0 || n2 == 0) return (0.0, 1.0)
    val values = (ref.map(_._1) ++ cur.map(_._1)).distinct.sorted
    val refM = ref.toMap; val curM = cur.toMap
    var c1 = 0L; var c2 = 0L; var d = 0.0
    values.foreach { v =>
      c1 += refM.getOrElse(v, 0L)
      c2 += curM.getOrElse(v, 0L)
      val gap = math.abs(c1.toDouble / n1 - c2.toDouble / n2)
      if (gap > d) d = gap
    }
    (d, DriftMath.ksPValue(d, n1, n2))
  }

  private def psiFromCounts(ref: Map[String, Long], cur: Map[String, Long]): Double = {
    val keys = (ref.keySet ++ cur.keySet).toSeq.sorted
    val n1 = ref.values.sum.toDouble
    val n2 = cur.values.sum.toDouble
    if (n1 == 0 || n2 == 0) return 0.0
    DriftMath.psi(keys.map(ref.getOrElse(_, 0L) / n1), keys.map(cur.getOrElse(_, 0L) / n2))
  }

  /** Returns (statistic, p-value, Cramér's V). Delegates the
    * goodness-of-fit math to [[graft.drift.Drift.chiSqGof]] (one formula,
    * one set-collapse regression test) and derives V = sqrt(χ² / (n·dof))
    * from its statistic over the same baseline-covered total.
    */
  private[graft] def chiSqFromCounts(ref: Map[String, Long], cur: Map[String, Long]): (Double, Double, Double) = {
    val (stat, p, dof) = graft.drift.Drift.chiSqGof(ref, cur)
    if (dof < 1) return (stat, p, 0.0)
    val n2cov = graft.drift.Drift.coveredCurTotal(ref, cur)
    val v = if (n2cov == 0) 0.0 else math.sqrt(stat / (n2cov * dof))
    (stat, p, v)
  }

  /** Collect all per-batch artifacts for `batches` in jobs 1 and 2 above.
    * `code` must already be filtered to those batches (partition pruning
    * keeps unread batches off disk).
    *
    * `content` is read from storage exactly ONCE: the slim projection
    * (length, missing flags, sha-mismatch flag, key/row hashes) is cached,
    * so job 1 (scalars + sketches + capped samples) and job 2 (lang and
    * length marginals) share one materialization of the expensive column.
    * The sha256 invariant check and its capped deterministic sample ride
    * job 1 via [[graft.stats.TopK.minKStrings]], the completeness_path
    * sample via [[graft.stats.TopK.firstK]] (bounded O(cap) state,
    * mergeable) — no second content scan ever happens.
    */
  def collectArtifacts(code: DataFrame, batches: Seq[Long],
                       lenCardCap: Long = LenCardCap): Map[Long, BatchArtifacts] = {
    val slim = slimProjection(code, col("batch_id").isin(batches: _*)).persist()
    try withMarginals(slim, artifactScalars(slim), lenCardCap)
    finally slim.unpersist()
  }

  /** The one-content-scan projection of the rows `keep` selects, which
    * both artifact jobs (and, inside [[run]], the per-batch violation and
    * repo-metric aggregate) share — `content` reduced ONCE to its cheap
    * derivatives; content itself never shuffles. The caller owns
    * persist/unpersist.
    */
  private def slimProjection(code: DataFrame, keep: Column): DataFrame =
    code
      .where(keep)
      .select(col("batch_id"),
        length(col("content")).cast("long").as("len"),
        (col("path").isNull || col("path") === "").as("path_missing"),
        (col("lang").isNull || col("lang") === "").as("lang_missing"),
        (col("content").isNull || col("content") === "").as("content_missing"),
        (sha2(col("content"), 256) =!= col("expected_sha256")).as("sha_mismatch"),
        col("lang"), col("repo"),
        // violation-sample key as JSON, not a delimiter join: JSON escaping
        // makes the round-trip safe for ANY character in repo/path/commit
        // (a NUL or control char in a path must not mis-split the triple).
        // Computed ONLY for mismatching rows: the ~100-byte string would
        // otherwise dominate the cached slim projection (~60% of its bytes
        // — measured ~34 GB of disk-cache spill per run at 288M rows) while
        // the min-k sample aggregate ignores every clean row anyway
        when(sha2(col("content"), 256) =!= col("expected_sha256"),
          to_json(struct(coalesce(col("repo"), lit("")).as("repo"),
            coalesce(col("path"), lit("")).as("path"),
            coalesce(col("commit"), lit("")).as("commit")))).as("key3"),
        // completeness_path sample key, null on clean rows like key3
        when(col("path").isNull || col("path") === "",
          struct(col("repo"), col("commit"), col("lang"))).as("path_key"),
        xxhash64(col("repo"), col("path"), col("commit")).as("keyhash"),
        xxhash64(col("repo"), col("path"), col("commit"), col("content")).as("rowhash"))

  /** Job 1: the scalar aggregates of every batch in `slim`, as artifacts
    * whose lang and length marginals are still empty. Its keys are the
    * batches present; a null `batch_id` fails here, since its group would
    * read back as batch 0.
    */
  private def artifactScalars(slim: DataFrame): Map[Long, BatchArtifacts] = {
    val scalars = slim.groupBy("batch_id").agg(
      count(lit(1)).as("rows"),
      min("len").as("len_min"), max("len").as("len_max"),
      avg("len").as("len_mean"), stddev_samp(col("len")).as("len_std"),
      sum(when(col("path_missing"), 1L).otherwise(0L)).as("miss_path"),
      sum(when(col("lang_missing"), 1L).otherwise(0L)).as("miss_lang"),
      sum(when(col("content_missing"), 1L).otherwise(0L)).as("miss_content"),
      sum(when(col("sha_mismatch"), 1L).otherwise(0L)).as("sha_mismatch"),
      // capped deterministic sha-violation sample, one pass, bounded state
      graft.stats.TopK.minKStrings(
        when(col("sha_mismatch"), col("key3")), ViolationCap).as("sha_samples"),
      // capped completeness_path sample, first in (repo, commit, lang) order
      graft.stats.TopK.firstK(col("path_key"), ViolationCap).as("path_samples"),
      // routing cardinality for the exact-vs-sketched KS decision
      approx_count_distinct(col("len")).as("len_card"),
      // order-independent batch fingerprint: decimal sum of row hashes
      // (decimal(38,0) cannot overflow under ANSI mode at any row count)
      sum(col("rowhash").cast("decimal(38,0)")).as("fp"),
      // mergeable sketches ride the SAME scan (no extra content pass):
      // HLL distinct + KLL quantiles persisted per batch (north star)
      hll_sketch_agg(col("keyhash")).as("hll_key"),
      hll_sketch_agg(col("repo")).as("hll_repo"),
      kll_sketch_agg_bigint(col("len"), KllK).as("kll_len"),
      // heavy-hitters sketch of repo rides the same scan: the mega-repo
      // detector, mergeable across batches from the committed bytes
      graft.stats.FreqSketch.accumulate(col("repo"), FreqMapSize).as("freq_repo"))
    val rows = DriverFrames.collect(scalars)
    if (rows.exists(_.isNullAt(0))) throw new IllegalArgumentException(
      "the input has rows with a null batch_id; every row must carry its batch")
    rows.map { r =>
      def dbl(c: String): Double =
        Option(r.getAs[Any](c)).map(_.asInstanceOf[Number].doubleValue).getOrElse(Double.NaN)
      val b = r.getAs[Long]("batch_id")
      b -> BatchArtifacts(b, r.getAs[Long]("rows"),
        dbl("len_min"), dbl("len_max"), dbl("len_mean"), dbl("len_std"),
        r.getAs[Long]("miss_path"), r.getAs[Long]("miss_lang"), r.getAs[Long]("miss_content"),
        r.getAs[Long]("sha_mismatch"),
        Map.empty, Seq.empty,
        Option(r.getAs[java.math.BigDecimal]("fp"))
          .map(_.toBigInteger.toString(16)).getOrElse("0"),
        r.getAs[Array[Byte]]("hll_key"), r.getAs[Array[Byte]]("hll_repo"),
        r.getAs[Array[Byte]]("kll_len"), r.getAs[Array[Byte]]("freq_repo"),
        r.getAs[scala.collection.Seq[String]]("sha_samples").toSeq,
        r.getAs[Long]("len_card"),
        r.getAs[scala.collection.Seq[Row]]("path_samples").toSeq
          .map(p => (p.getString(0), p.getString(1), p.getString(2))))
    }.toMap
  }

  /** Job 2: `scalars` with their lang and length marginals filled in, from
    * ONE grouping-sets aggregate over the CACHED slim projection (one
    * Expand, one exchange, one driver action). Lang marginals (always tiny
    * — |langs| bounded) feed chi-square/PSI(lang). Length marginals feed
    * exact KS and PSI(length) — but ONLY for a batch below the cardinality
    * cap: per-length rows are unbounded on arbitrary inputs (10^6+
    * distinct lengths on real code), so a batch above the cap groups all
    * its rows under one null length, which is dropped here; its drift
    * verdicts fall back to the KLL bytes already aggregated in job 1. The
    * routing is per batch, so a batch's verdicts do not depend on which
    * other batches share the call.
    */
  private def withMarginals(slim: DataFrame, scalars: Map[Long, BatchArtifacts],
                            lenCardCap: Long): Map[Long, BatchArtifacts] = {
    val overCap = scalars.values.filter(_.lenCardApprox > lenCardCap).map(_.batchId).toSet
    val routed =
      if (overCap.isEmpty) slim
      else slim.withColumn("len", when(!col("batch_id").isin(overCap.toSeq: _*), col("len")))
    val marginals = DriverFrames.collect(routed
      .groupingSets(Seq(Seq(col("batch_id"), col("lang")), Seq(col("batch_id"), col("len"))),
        col("batch_id"), col("lang"), col("len"))
      .agg(count(lit(1)).as("n"), grouping("len").as("lang_set")))
    val (langRows, lenRows) = marginals.partition(_.getAs[Byte]("lang_set") == 1)
    // a null lang reads back as "", summed with any empty-lang count
    val langCounts = langRows.groupBy(_.getAs[Long]("batch_id"))
      .map { case (b, rows) =>
        b -> rows.groupMapReduce(r => Option(r.getAs[String]("lang")).getOrElse(""))(
          _.getAs[Long]("n"))(_ + _)
      }
    // a null length (null content) reads back as 0, uncoalesced
    val lenCounts: Map[Long, Seq[(Long, Long)]] = lenRows
      .groupBy(_.getAs[Long]("batch_id")).removedAll(overCap)
      .map { case (b, rows) =>
        b -> rows.map(r => r.getAs[Long]("len") -> r.getAs[Long]("n"))
          .toSeq.sortBy(_._1)
      }
    scalars.map { case (b, a) =>
      b -> a.copy(langCounts = langCounts.getOrElse(b, Map.empty),
        lenCounts = lenCounts.getOrElse(b, Seq.empty))
    }
  }

  /** Persisted KLL bytes as a sketch. */
  def kll(bytes: Array[Byte]): KllLongsSketch = KllLongsSketch.heapify(Memory.wrap(bytes))

  /** Length histogram proportions from a KLL sketch over the same
    * baseline-pinned equi-width bins as [[histProportions]]: bin mass =
    * rank(right edge) − rank(left edge), with the edge bins absorbing the
    * out-of-range tails (matching the exact path's clamping). Lengths are
    * integers, so an edge's rank counts the lengths strictly below it: the
    * exact path puts a length equal to an inner edge in the upper bin.
    */
  private def histProportionsFromSketch(bytes: Array[Byte], lo: Double, hi: Double): Seq[Double] = {
    val sk = kll(bytes)
    if (sk.isEmpty || hi <= lo) return Seq.fill(Bins)(0.0)
    val edges = (0 to Bins).map(i => lo + (hi - lo) * i / Bins)
    val ranks = edges.map(e => sk.getRank(math.ceil(e).toLong, QuantileSearchCriteria.EXCLUSIVE))
    (0 until Bins).map { i =>
      val left = if (i == 0) 0.0 else ranks(i)
      val right = if (i == Bins - 1) 1.0 else ranks(i + 1)
      math.max(0.0, right - left)
    }
  }

  /** Length histogram proportions over `bins` equi-width bins pinned to the
    * BASELINE's [min,max] (numpy right-edge convention; out-of-range current
    * values clamp into the edge bins).
    */
  private def histProportions(lenCounts: Seq[(Long, Long)], lo: Double, hi: Double): Seq[Double] = {
    val n = lenCounts.map(_._2).sum.toDouble
    if (n == 0) return Seq.fill(Bins)(0.0)
    val acc = Array.fill(Bins)(0L)
    lenCounts.foreach { case (v, c) =>
      val b = if (hi <= lo) 0
        else math.max(0, math.min(Bins - 1, ((v - lo) * Bins / (hi - lo)).toInt))
      acc(b) += c
    }
    acc.map(_ / n).toSeq
  }

  /** Full run: resume-aware validation of every batch not yet committed.
    * Returns the verdicts written this run.
    */
  def run(spark: SparkSession, codeRaw: DataFrame, repoLangDim: DataFrame,
          io: TableIO, baselineBatch: Long = 0L,
          lenCardCap: Long = LenCardCap): Seq[Verdict] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val t0 = System.nanoTime() // lineage wall_ms covers the WHOLE run
    // normalize batch_id: a disk layout partitioned by batch_id reads the
    // partition column back as int — the engine contract is bigint
    val code = codeRaw.withColumn("batch_id", col("batch_id").cast("bigint"))
    val committed = io.listCommitted("verdicts")

    // baseline artifacts: computed once — the FIRST scan establishes the
    // reference distributions (T7, DESIGN.md:536-537) and commits them to
    // the `artifacts` audit table; every later/resumed run reloads that
    // snapshot instead of re-scanning the baseline partition, so an
    // incremental run touches ONLY pending batches (and keeps working even
    // when the input no longer carries the baseline partition)
    // version gate: artifact rows are a WIRE FORMAT (shaSamples changed
    // NUL-joined → JSON in graft-0.3); a snapshot committed by a different
    // suite version is ignored and the baseline recomputed from the input
    // rather than silently mis-parsed
    val baselineFromAudit: Option[BatchArtifacts] =
      if (!io.commitMeta("artifacts", baselineBatch)
            .exists(_.contains(s""""suite":"$SuiteVersion""""))) None
      else io.readCommitted(spark, "artifacts").flatMap { df =>
        DriverFrames.collect(df.where(col("batch_id") === baselineBatch)).headOption.map(fromRow)
      }
    // The slim projection covers every row whose batch is not committed,
    // plus the baseline when no snapshot reloads: the committed-batch
    // metadata prunes the scan (a partition filter on an input partitioned
    // by batch_id), so job 1 names the pending batches and no listing job
    // scans the input. Null batch_ids stay in for job 1 to reject. The
    // projection stays persisted through the whole call: job 2, the
    // uniqueness candidate hashes, the referential anti-join and the repo
    // counts all read their columns from this cache.
    val keep =
      if (committed.isEmpty) lit(true)
      else {
        val fresh = col("batch_id").isNull || !col("batch_id").isin(committed: _*)
        if (baselineFromAudit.isDefined) fresh else fresh || col("batch_id") === baselineBatch
      }
    val slim = slimProjection(code, keep).persist()
    // job 3's collect and the driver-side audit writes; no thread starts
    // before the first submit after job 1
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val scalars = artifactScalars(slim) // job 1
      val pending = scalars.keys.filterNot(committed.contains).toSeq.sorted
      if (pending.isEmpty) return Seq.empty
      if (!scalars.contains(baselineBatch) && baselineFromAudit.isEmpty) {
        val present = DriverFrames.collect(code.select("batch_id").distinct())
          .map(_.getLong(0)).sorted
        throw new IllegalArgumentException(
          s"baseline batch $baselineBatch has no rows in the input (batches present: " +
            s"${present.mkString(", ")}) and no committed artifacts exist for it; " +
            "include the baseline partition in the input or validate it first")
      }

      // PRE-FLIGHT schema gate (reference DESIGN.md:317-326 schema registry /
      // compatibility validation; "Schema violations" metric, DESIGN.md:600):
      // metadata-only — the diff costs the same at 10^12 rows as at 10^2
      // because it never scans data. First run pins the normalized input
      // schema to the audit dir (atomic manifest, version-gated like every
      // persisted artifact); later runs diff against the reload. The issues
      // become a per-batch `schema` verdict row (and a critical alert rule),
      // NOT a quality_score input: quality is the reference's CONTENT metric,
      // schema drift is a compatibility gate with its own verdict.
      val schemaIssues = SchemaCheck.preflight(io, code.schema)
      if (schemaIssues.nonEmpty)
        System.err.println(s"[graft] schema drift vs committed baseline (" +
          s"${schemaIssues.size} issue(s)): " +
          schemaIssues.map(i => s"${i.column}:${i.issue}").mkString(", "))

      // Violation checks, batch-attributed, capped deterministically (O5),
      // and the repo metrics: three group streams, one per-batch aggregate.
      // Each stream carries one non-null `dup` struct, `ref` struct or
      // (repo, file_count) pair per row; `firstK` keeps the ViolationCap
      // first groups in (key) order and `topKStrings` the ViolationCap
      // largest repos, both with bounded, mergeable state (and both skip
      // the other streams' null rows), so map-side partials hold ≤ cap rows
      // per task. The ≤ cap rows per batch come back to the driver, which
      // writes the sample tables and repo_metrics itself.
      val pendingCode = code.where(col("batch_id").isin(pending: _*))
      val slimPending = slim.where(col("batch_id").isin(pending: _*))

      // Uniqueness, two-phase hash-first: phase 1 shuffles only a 64-bit key
      // hash (not the ~100-byte string triple — 6× less shuffle I/O at 8M
      // rows) and reads it straight from the CACHED slim projection (the
      // keyhash was computed in the artifacts scan — no input re-scan);
      // phase 2 re-verifies candidate groups on the REAL key strings
      // over the (tiny) semi-joined candidate rows, so a hash collision can
      // never produce a false duplicate.
      val keyHash = xxhash64(col("repo"), col("path"), col("commit"))
      val candHashes = slimPending
        .groupBy(col("batch_id"), col("keyhash").as("kh")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1).select("batch_id", "kh")
      // no broadcast HINT here: the candidate set's size is data-dependent
      // (normally tiny → AQE broadcasts it at runtime; adversarially
      // duplicate-heavy input → AQE falls back to a shuffle join instead of
      // blowing the broadcast limit)
      val dupGroups = pendingCode
        .join(candHashes,
          pendingCode("batch_id") === candHashes("batch_id") && keyHash === col("kh"), "left_semi")
        .groupBy("batch_id", "repo", "path", "commit")
        .agg(count(lit(1)).as("dup_count")).where(col("dup_count") > 1)
        .select(col("batch_id"), struct("repo", "path", "commit", "dup_count").as("dup"))
      // referential: the violating (repo, lang) groups, aggregated over the
      // CACHED slim columns (no input re-scan); duplicate dimension rows
      // cannot change an anti-join, so the dimension is broadcast as is
      val refGroups = slimPending.select("batch_id", "repo", "lang")
        .join(broadcast(repoLangDim.select("repo", "lang")), Seq("repo", "lang"), "left_anti")
        .groupBy("batch_id", "repo", "lang")
        .agg(count(lit(1)).as("violation_count"))
        .select(col("batch_id"), struct("repo", "lang", "violation_count").as("ref"))
      // per-(batch, repo) file counts: the top repos per batch land in the
      // audit as capacity/skew telemetry. The ~30% mega-repo needs no key
      // splitting here: Spark plans the count as a partial and a final
      // aggregate, so each map task sends its reducer at most one row per
      // (batch, repo). `topKStrings` (Spark's CollectTopK) cuts the
      // (count desc, repo asc in Spark's string order) top without a
      // row_number window, which would funnel EVERY repo of a batch through
      // one reducer's sort; TopKSpec pins the cut to the window's.
      val repoCounts = slimPending
        .groupBy(col("batch_id"), col("repo"))
        .agg(count(lit(1)).as("file_count"))
      val perBatch = dupGroups
        .unionByName(refGroups, allowMissingColumns = true)
        .unionByName(repoCounts, allowMissingColumns = true)
        .groupBy("batch_id")
        .agg(coalesce(sum(col("dup.dup_count") - 1), lit(0L)).as("dup_n"),
          graft.stats.TopK.firstK(col("dup"), ViolationCap).as("dup_sample"),
          coalesce(sum(col("ref.violation_count")), lit(0L)).as("ref_n"),
          graft.stats.TopK.firstK(col("ref"), ViolationCap).as("ref_sample"),
          graft.stats.TopK.topKStrings(col("file_count"), col("repo"), ViolationCap)
            .as("repo_top"))

      // Every audit table write is independent of the others → submitted
      // CONCURRENTLY on the pool as soon as its inputs exist, one write per
      // table covering ALL pending batches, beside job 2 on this thread
      // and job 3's collect on the pool. Every table is built on the driver
      // from collected rows (≤ ViolationCap per batch) by DriverFrames.of,
      // which generates no serializer class, and the TableIO writes it from
      // the driver too: one file per batch, no Spark job, no generated class.
      // Every pending batch's partition of every table is replaced: `write`
      // builds a table's frame from local rows (batch_id first) and gives
      // every pending batch with no row there an empty partition, so a
      // re-validated batch keeps no sample rows of an earlier call.
      // Durability is unchanged: manifest COMMITS below happen strictly
      // after ALL writes have finished, in order, verdicts last (the atomic
      // commit point per batch). Lineage is NOT on the pool: its wall_ms
      // must include the write time, so it is written (tiny, serial) after
      // the pool drains.
      val ec = ExecutionContext.fromExecutorService(pool)
      def write[T <: Product](table: String, rows: Seq[T])(frame: Seq[T] => DataFrame): Future[Unit] = {
        val df = frame(rows)
        require(df.columns.head == "batch_id", s"$table: batch_id is not the first column")
        val present = rows.map(_.productElement(0).asInstanceOf[Long]).toSet
        Future {
          io.writeAllPartitions(df, table)
          val empty = df.limit(0).drop("batch_id")
          pending.filterNot(present).foreach(b => io.writePartition(empty, table, b))
        }(ec)
      }
      val fPerBatch = Future(DriverFrames.collect(perBatch))(ec)

      // sha256 counts AND the capped deterministic sample both came out of
      // job 1 (min-k aggregate) — no second content pass; the sample table
      // is assembled driver-side from ≤ ViolationCap keys/batch. The
      // completeness_path sample (first in (repo, commit, lang) order) rode
      // job 1 too, so these two writes start before job 2.
      val shaViol = pending.flatMap(b => scalars(b).shaSamples.map(s => (b, s)))
      val emptyPathViol = pending.flatMap { b =>
        scalars(b).pathSamples.map { case (repo, commit, lang) => (b, repo, commit, lang) }
      }
      val earlyWrites = Seq(
        write("violations_sha256_invariant", shaViol)(
          DriverFrames.of(spark, _, "batch_id", "key_json").select(col("batch_id"),
            from_json(col("key_json"), "repo STRING, path STRING, commit STRING",
              Map.empty[String, String]).as("k"))
          .select(col("batch_id"), col("k.repo").as("repo"),
            col("k.path").as("path"), col("k.commit").as("commit"))),
        write("violations_completeness_path", emptyPathViol)(
          DriverFrames.of(spark, _, "batch_id", "repo", "commit", "lang")))

      // job 2 runs on this thread while the pool works
      val arts = withMarginals(slim, scalars, lenCardCap) ++
        baselineFromAudit.map(b => b.batchId -> b)
      val base = arts(baselineBatch)
      // artifacts snapshot: what a resumed run loads instead of
      // re-scanning the baseline partition, and the one copy of each batch's
      // MERGEABLE sketch bytes (HLL distinct, KLL quantiles, frequent items)
      // that later runs merge to answer whole-table questions without
      // re-scanning (AuditQueries)
      val artifactsWrite =
        write("artifacts", pending.map(b => toRow(arts(b))))(DriverFrames.of(spark, _))

      val rows = Await.result(fPerBatch, Duration.Inf)
      def counts(name: String): Map[Long, Long] =
        rows.map(r => r.getAs[Long]("batch_id") -> r.getAs[Long](name)).toMap
      // (batch, array position, element) of one per-batch array column
      def elements(name: String): Seq[(Long, Int, Row)] = rows.toSeq.flatMap { r =>
        r.getAs[scala.collection.Seq[Row]](name).zipWithIndex
          .map { case (e, i) => (r.getAs[Long]("batch_id"), i, e) }
      }
      val dupSample = elements("dup_sample").map { case (b, _, k) =>
        (b, k.getString(0), k.getString(1), k.getString(2), k.getLong(3))
      }
      val refSample = elements("ref_sample").map { case (b, _, k) =>
        (b, k.getString(0), k.getString(1), k.getLong(2))
      }
      // rank = array position + 1
      val repoMetrics = elements("repo_top").map { case (b, i, t) =>
        (b, t.getString(1), t.getLong(0), i + 1)
      }
      val verdicts = assembleVerdicts(pending, arts, base, baselineBatch, schemaIssues,
        counts("dup_n"), counts("ref_n"))
      val lastWrites = Seq(
        write("violations_uniqueness", dupSample)(
          DriverFrames.of(spark, _, "batch_id", "repo", "path", "commit", "dup_count")),
        write("violations_referential", refSample)(
          DriverFrames.of(spark, _, "batch_id", "repo", "lang", "violation_count")),
        write("repo_metrics", repoMetrics)(
          DriverFrames.of(spark, _, "batch_id", "repo", "file_count", "rank")),
        write("verdicts", verdicts)(DriverFrames.of(spark, _)))
      (earlyWrites ++ (artifactsWrite +: lastWrites)).foreach(Await.result(_, Duration.Inf))

      // lineage wall_ms: whole run INCLUDING the audit writes above (even
      // split across this run's batches — per-batch telemetry, not a timer)
      val wallMs = (System.nanoTime() - t0) / 1000000 / math.max(1, pending.size)
      val lineageRows = pending.map { b =>
        val a = arts(b)
        Lineage(b, a.rows, a.fingerprint, SuiteVersion, baselineBatch, wallMs)
      }
      io.writeAllPartitions(DriverFrames.of(spark, lineageRows), "lineage")
      pending.foreach { b =>
        val a = arts(b)
        Seq("uniqueness", "referential", "sha256_invariant", "completeness_path")
          .foreach(name => io.commit(s"violations_$name", b, s"""{"batch_id":$b}"""))
        // artifacts carry the writer's suite version: reload is version-gated
        io.commit("artifacts", b, s"""{"batch_id":$b,"suite":"$SuiteVersion"}""")
        io.commit("repo_metrics", b, s"""{"batch_id":$b}""")
        io.commit("lineage", b, s"""{"batch_id":$b}""")
        io.commit("verdicts", b,
          s"""{"batch_id":$b,"rows":${a.rows},"fingerprint":"${a.fingerprint}","suite":"$SuiteVersion"}""")
      }
      // re-stamp path: when the baseline's committed artifacts were rejected
      // by the version gate (or never existed) and the baseline was NOT a
      // pending batch (whose normal write/commit above already stamped it),
      // the snapshot just recomputed from the input is committed under the
      // CURRENT version — otherwise an upgraded audit dir re-scans the
      // baseline partition forever and a later run whose input no longer
      // carries that partition dies instead of reloading
      if (baselineFromAudit.isEmpty && !pending.contains(baselineBatch)) {
        // drop batch_id: writePartition targets the batch_id=<p> directory
        // directly, and readCommitted re-derives the column from the path
        // (the same layout writeAllPartitions produces)
        io.writePartition(DriverFrames.of(spark, Seq(toRow(base))).drop("batch_id"),
          "artifacts", baselineBatch)
        io.commit("artifacts", baselineBatch,
          s"""{"batch_id":$baselineBatch,"suite":"$SuiteVersion"}""")
      }
      verdicts
    } finally {
      // shutdownNow interrupts still-running writes when any write failed
      // (a failed run must not keep writer threads alive); the unpersist
      // sits in the finally so a failure cannot leak cached blocks
      pool.shutdownNow()
      slim.unpersist()
    }
  }

  /** Per-batch verdict rows: driver-side arithmetic over the collected
    * artifacts and the uniqueness / referential counts.
    */
  private def assembleVerdicts(pending: Seq[Long], arts: Map[Long, BatchArtifacts],
                               base: BatchArtifacts, baselineBatch: Long,
                               schemaIssues: Seq[SchemaCheck.SchemaIssue],
                               dupCounts: Map[Long, Long],
                               refCounts: Map[Long, Long]): Seq[Verdict] = {
    val basePropLen = histProportions(base.lenCounts, base.lenMin, base.lenMax)
    pending.flatMap { b =>
      val a = arts(b)
      // exact per-length counts below the cardinality cap; KLL sketch path
      // above it (no per-length rows of that batch reached the driver)
      val exactLen = base.lenCounts.nonEmpty && a.lenCounts.nonEmpty
      val (ksD, ksP) =
        if (exactLen) ksFromCounts(base.lenCounts, a.lenCounts)
        else {
          val r = graft.drift.KsTest.ksStatisticSketched(kll(base.kllLen), kll(a.kllLen))
          (r.statistic, r.pValue)
        }
      val psiLen =
        if (exactLen)
          DriftMath.psi(basePropLen, histProportions(a.lenCounts, base.lenMin, base.lenMax))
        else DriftMath.psi(
          histProportionsFromSketch(base.kllLen, base.lenMin, base.lenMax),
          histProportionsFromSketch(a.kllLen, base.lenMin, base.lenMax))
      val psiLang = psiFromCounts(base.langCounts, a.langCounts)
      val (chiStat, chiP, cramersV) = chiSqFromCounts(base.langCounts, a.langCounts)
      val meanShift = if (base.lenStd.isNaN || base.lenStd == 0) 0.0
        else math.abs(base.lenMean - a.lenMean) / base.lenStd
      val isBase = b == baselineBatch
      val missRate = if (a.rows == 0) 0.0 else a.missingPath.toDouble / a.rows
      val dups = dupCounts.getOrElse(b, 0L)
      val refs = refCounts.getOrElse(b, 0L)
      val verdicts = Seq(
        Verdict(b, "schema", "*", schemaIssues.size.toDouble, Double.NaN, 0,
          schemaIssues.isEmpty, schemaIssues.size),
        Verdict(b, "uniqueness", "repo,path,commit", dups.toDouble, Double.NaN, 0, dups == 0, dups),
        Verdict(b, "referential", "repo,lang", refs.toDouble, Double.NaN, 0, refs == 0, refs),
        Verdict(b, "completeness", "path", missRate, Double.NaN, 0.0,
          a.missingPath == 0, a.missingPath),
        Verdict(b, "sha256_invariant", "content", a.shaMismatch.toDouble, Double.NaN, 0,
          a.shaMismatch == 0, a.shaMismatch),
        Verdict(b, "drift_ks", "content_length", ksD, ksP, KsThreshold,
          isBase || ksP >= KsThreshold, 0),
        Verdict(b, "drift_psi", "content_length", psiLen, Double.NaN, PsiThreshold,
          isBase || psiLen < PsiThreshold, 0),
        Verdict(b, "drift_psi", "lang", psiLang, Double.NaN, PsiThreshold,
          isBase || psiLang < PsiThreshold, 0),
        Verdict(b, "drift_chisq", "lang", chiStat, chiP, ChiSqThreshold,
          isBase || chiP >= ChiSqThreshold || cramersV < CramersVFloor, 0),
        Verdict(b, "mean_shift", "content_length", meanShift, Double.NaN, Double.NaN, true, 0))
      // quality score: FIXTURES.md §4 concretization — 1 − max(error rates),
      // gated to 0 if any constraint expectation fails
      val errRates = Seq(missRate,
        if (a.rows == 0) 0.0 else a.shaMismatch.toDouble / a.rows)
      val constraintsPass = verdicts.filter(v => Set("uniqueness", "referential",
        "completeness", "sha256_invariant").contains(v.check)).forall(_.passed)
      val score = if (!constraintsPass) 0.0 else 1.0 - errRates.max
      verdicts :+ Verdict(b, "quality_score", "*", score, Double.NaN, 0.0, true, 0)
    }
  }
}

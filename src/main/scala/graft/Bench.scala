package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Emits ONE JSON line:
  *   {"metric":"validated files/sec", "value":<throughput>, "unit":"files/sec",
  *    "queries":{<name>:<sec>, <name>_warm:<sec>, ...,
  *               "suite_sec_min":..., "suite_sec_median":...},
  *    "suite_rows":<rows>, "sf":<dir>, "cpus":<n>}
  * Every value in "queries" is seconds; the suite's input row count sits
  * outside it so totals over that map stay timings.
  *
  * The headline metric (BASELINE.json) is suite throughput: rows of the
  * synthetic code table validated per second by the FULL constraint + drift
  * suite (read → stats → constraints → drift → audit commit). Scaling
  * efficiency N→4N cores is measured by running this main at
  * SPARK_GRAFT_CPUS=8 and 32 on the same input (see BENCH/BASELINE.md).
  */
object Bench {
  // representative per-operator queries also timed (one run each)
  private val Headline = Seq(
    "q_agg_pricing_summary", "q_stats_onepass", "q_ks_statistic", "q_psi",
    "q_count_window_drift", "q_growing_window_drift", "q_join_enrich",
    "q_dedup_exact", "q_minhash_pairs", "q_simhash_pairs", "q_ann_bruteforce",
    // q_ann_ivf times the FULL committed-index lifecycle (train + assign +
    // commit + partition-pruned search) over a throwaway root — the index
    // build is intrinsic to the operator, so it belongs in the timing;
    // q_ann_pq likewise times codebook training + encode + ADC + re-rank
    "q_ann_ivf", "q_ann_pq",
    "q_token_stats", "q_langid", "q_time_window_agg", "q_news_pipeline",
    "q_drift_stats")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val suiteRows = sys.env.getOrElse("SPARK_GRAFT_SUITE_ROWS", "8000000").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // ---- suite throughput (the BASELINE metric) ----
    // generate the bench code table ONCE to parquet so the timed run reads
    // from disk like production (generation excluded from the timing);
    // honors SPARK_GRAFT_INPUT, layout partitioned by the validation unit so
    // resume and per-batch validation physically prune unread batches,
    // regenerates on row-count mismatch
    val benchInput = GenBenchInput.ensure(spark, suiteRows)
    val dim = gen.CodeTableGen.repoLangDim(spark)
    // warm-up at FULL size (JIT compilation of the generated code paths
    // dominates the first run: 58s → 21s steady-state), excluded per
    // BASELINE.md protocol
    SparkEntry.withTempRoot("graft_bench_w") { tmpW =>
      suite.SuiteRunner.run(spark, spark.read.parquet(benchInput), dim,
        new tableio.ParquetTableIO(tmpW))
    }
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val runs = (1 to nRuns).map { _ =>
      SparkEntry.withTempRoot("graft_bench") { tmp =>
        val code = spark.read.parquet(benchInput)
        time(suite.SuiteRunner.run(spark, code, dim, new tableio.ParquetTableIO(tmp)))
      }
    }.sorted
    // this sandbox host has noisy neighbors (identical runs observed to
    // swing 20s↔96s); the HEADLINE is the median (typical performance),
    // min-of-N kept as a secondary field (best-case / true-cost estimate)
    val suiteMin = runs.head
    val suiteMedian = runs(runs.length / 2)
    val filesPerSec = suiteRows / suiteMedian

    // ---- per-operator queries: COLD then WARM ----
    // the warm repeat separates JIT/codegen/page-cache noise from plan
    // regressions: a cold spike with a flat warm number is load noise, a
    // raised warm number is a real plan cost
    val qTimes = Headline.flatMap { name =>
      SparkEntry.queries.get(name).toSeq.flatMap { fn =>
        def once(): Double = {
          // some operators persist intermediates/outputs (minhash/embedding
          // pairs); without this the warm run's identical plan is swapped
          // for the cold run's still-cached InMemoryRelation and "warm"
          // measures cache readback, not recomputation — and each timed
          // call would leak its predecessor's cached blocks
          spark.catalog.clearCache()
          try time(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
          catch {
            case e: Throwable =>
              // a broken query must not bench as a silent "-1.0 s": keep the
              // JSON shape (Verify is the correctness gate) but say so loudly
              System.err.println(
                s"BENCH WARNING: $name failed with ${e.getClass.getName}: ${e.getMessage}")
              -1.0
          }
        }
        val cold = once()
        val warm = once()
        Seq(name -> cold, s"${name}_warm" -> warm)
      }
    }

    // ---- stratified drift at FULL bench scale ----
    // the per-operator queries above run on the small sf tables; GroupDrift
    // is a suite-class operator, so it gets a leg over the same 8M code
    // table the suite validates (per-lang content-length KS + mean shift,
    // batch 0 as baseline) — cold + warm like every other leg
    val groupDriftTimes = {
      import org.apache.spark.sql.functions._
      def once(): Double = {
        spark.catalog.clearCache()
        try time {
          drift.GroupDrift.ksMeanByGroup(
            spark.read.parquet(benchInput)
              .select(col("lang"),
                length(col("content")).cast("double").as("len"),
                col("batch_id")),
            "lang", "len", col("batch_id") === 0)
            .write.mode("overwrite").format("noop").save()
        } catch {
          case e: Throwable =>
            System.err.println(
              s"BENCH WARNING: group_drift_8m failed with ${e.getClass.getName}: ${e.getMessage}")
            -1.0
        }
      }
      val cold = once()
      val warm = once()
      Seq("q_group_drift_8m" -> cold, "q_group_drift_8m_warm" -> warm)
    }

    // locale-independent number formatting: f"" interpolation uses the JVM
    // default locale and can emit comma decimal separators → invalid JSON
    def num(v: Double, prec: Int = 3): String =
      String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))
    // one stat per key: suite_sec_min (best case) + suite_sec_median
    // (typical); the ambiguous bare "suite_sec" key is gone so cross-round
    // comparisons can't silently mix statistics
    val qs = (qTimes ++ groupDriftTimes ++ Seq("suite_sec_min" -> suiteMin,
      "suite_sec_median" -> suiteMedian))
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val json = s"""{"metric":"validated files/sec","value":${num(filesPerSec, 1)},"unit":"files/sec","queries":$qs,"suite_rows":$suiteRows,"sf":"$sfDir","cpus":$cpus}"""
    // the JSON must survive the driver: sbt buries stdout in [info]/[error]
    // noise (round-1 BENCH parse failed), so ALSO persist it to a file
    val outDir = java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."), "BENCH")
    java.nio.file.Files.createDirectories(outDir)
    java.nio.file.Files.writeString(outDir.resolve("last_run.json"), json + "\n")
    spark.stop()
    // printed LAST, after Spark shutdown, so no executor log line follows it
    println(json)
  }
}

/** The bench input table: the deterministic code table written once to
  * disk, partitioned by batch_id, so runs at several widths share one
  * on-disk input.
  */
object GenBenchInput {
  /** Ensures the bench code table exists with EXACTLY `rows` rows at the
    * SPARK_GRAFT_INPUT-pinned (or default per-row-count) path; (re)generates
    * otherwise. The single source of truth for the bench input layout,
    * so a pinned path holding a different row count is never silently
    * measured (parquet count() is footer-stats-only, cheap).
    */
  def ensure(spark: SparkSession, rows: Long,
             pinned: Option[String] = sys.env.get("SPARK_GRAFT_INPUT")): String = {
    val out = pinned.getOrElse(s"/tmp/graft_bench_input_$rows")
    // readability probed through Spark's own FS layer (not java.nio, which
    // is blind to hdfs://-style URIs and to data whose _SUCCESS marker was
    // cleaned up): any readable parquet at the path yields its footer count
    val counted = scala.util.Try(spark.read.parquet(out).count()).getOrElse(-1L)
    if (counted != rows) {
      // a PINNED path holding ANY readable data of a different size is an
      // operator mistake (stale env var from a scaling session) —
      // overwriting would destroy an expensive input (256M rows ≈ 36 GB,
      // minutes to regenerate), so refuse; only an empty/unreadable pinned
      // path is generated into (that is GenBenchInput's contract), and the
      // default per-row-count path is always ours to regenerate
      if (pinned.isDefined && counted >= 0) throw new IllegalStateException(
        s"SPARK_GRAFT_INPUT=$out holds $counted rows but $rows were " +
          s"requested — unset SPARK_GRAFT_INPUT or set SPARK_GRAFT_SUITE_ROWS=$counted")
      gen.CodeTableGen.generate(spark, rows, batches = 4)
        .write.partitionBy("batch_id").mode("overwrite").parquet(out)
    }
    out
  }
}

package graft

import graft.gen.CodeTableGen
import graft.suite.{SuiteRunner, Verdict}
import graft.tableio.ParquetTableIO
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

class SuiteSpec extends GraftSpec {

  lazy val code = CodeTableGen.generate(spark, 20000, batches = 4).cache()
  lazy val dim = CodeTableGen.repoLangDim(spark)

  test("end-to-end: violations detected, drifted batch fails drift, baseline passes") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      val verdicts = SuiteRunner.run(spark, code, dim, io)
      assert(verdicts.nonEmpty)
      def v(b: Long, check: String, colName: String): Verdict =
        verdicts.find(x => x.batch_id == b && x.check == check && x.column == colName).get

      // constraints fire in every batch (violations are injected uniformly)
      (0L to 3L).foreach { b =>
        assert(!v(b, "uniqueness", "repo,path,commit").passed)
        assert(!v(b, "referential", "repo,lang").passed)
        assert(!v(b, "sha256_invariant", "content").passed)
        assert(v(b, "quality_score", "*").metric == 0.0) // gated: constraints failed
      }
      // each constraint's count is exactly the generator's injected rows
      val marked = CodeTableGen.generateWithMarkers(spark, 20000, batches = 4)
      Seq("uniqueness" -> "m_dup", "referential" -> "m_bad_lang",
        "sha256_invariant" -> "m_bad_sha", "completeness" -> "m_empty_path").foreach {
        case (check, marker) =>
          val injected = marked.where(col(marker)).groupBy("batch_id").count().collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          (0L to 3L).foreach { b =>
            assert(verdicts.find(x => x.batch_id == b && x.check == check).get.violation_count ==
              injected.getOrElse(b, 0L), s"$check, batch $b")
          }
      }
      // baseline batch trivially passes drift; undrifted batches pass; batch 3 drifts
      assert(v(0, "drift_ks", "content_length").passed)
      assert(v(1, "drift_ks", "content_length").passed, "undrifted batch must not fire KS")
      assert(v(2, "drift_ks", "content_length").passed)
      assert(!v(3, "drift_ks", "content_length").passed, "drifted batch must fire KS")
      assert(!v(3, "drift_chisq", "lang").passed, "lang-mix shift must fire chi-square")
      assert(!v(3, "drift_psi", "lang").passed)
      assert(v(1, "drift_psi", "lang").passed)
      assert(v(3, "mean_shift", "content_length").metric >
        v(1, "mean_shift", "content_length").metric)

      // audit artifacts exist and are readable
      assert(io.listCommitted("verdicts") == Seq(0L, 1L, 2L, 3L))
      val persisted = io.readCommitted(spark, "verdicts").get
      assert(persisted.count() == verdicts.size)
      val viol = io.readCommitted(spark, "violations_uniqueness").get
      assert(viol.count() > 0)
      val lineage = io.readCommitted(spark, "lineage").get
      assert(lineage.count() == 4)
      assert(lineage.select("row_count").collect().map(_.getLong(0)).sum == 20000L)
    }
  }

  test("resume: killed run re-validates ONLY uncommitted batches, final audit identical") {
    // a cap between the batches' length cardinalities: batch 3 (the
    // drifted one, with the most distinct lengths) takes the sketched
    // path, batches 0-2 the exact one, in any split of the calls
    val arts = SuiteRunner.collectArtifacts(
      code.withColumn("batch_id", col("batch_id").cast("bigint")), Seq(0L, 1L, 2L, 3L))
    val cap = (0L to 2L).map(arts(_).lenCardApprox).max
    assert(arts(3L).lenCardApprox > cap)
    def committed(io: ParquetTableIO): Seq[Verdict] = {
      import spark.implicits._
      io.readCommitted(spark, "verdicts").get.as[Verdict].collect().toSeq
        .sortBy(v => (v.batch_id, v.check, v.column))
    }
    withTempDir("graft_suite") { rootA => withTempDir("graft_suite") { rootB =>
      val ioA = new ParquetTableIO(rootA)
      SuiteRunner.run(spark, code, dim, ioA, lenCardCap = cap)
      val full = committed(ioA)

      // batches 0,1 validated by a call without the over-cap batch; then a
      // run killed after validating 2,3: delete their commits
      val ioB = new ParquetTableIO(rootB)
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, ioB, lenCardCap = cap)
      SuiteRunner.run(spark, code, dim, ioB, lenCardCap = cap)
      Seq(2L, 3L).foreach { b =>
        Files.delete(Path.of(s"$rootB/verdicts/_manifest/p$b.json"))
      }
      assert(ioB.listCommitted("verdicts") == Seq(0L, 1L))
      val resumed = SuiteRunner.run(spark, code, dim, ioB, lenCardCap = cap)
      assert(resumed.map(_.batch_id).distinct.sorted == Seq(2L, 3L), "must only touch pending batches")
      val after = committed(ioB)
      assert(after.map(v => (v.batch_id, v.check, v.column)) ==
        full.map(v => (v.batch_id, v.check, v.column)))

      // below the cap: the committed verdicts are identical, row for row
      val (afterExact, afterSketched) = after.partition(_.batch_id < 3)
      val (fullExact, fullSketched) = full.partition(_.batch_id < 3)
      assert(afterExact.map(_.toString) == fullExact.map(_.toString),
        "resumed audit must equal single-run audit")
      // over the cap: the sketched length drift of two runs agrees within
      // the KLL rank error, since compaction is randomized
      val eps = SuiteRunner.kll(arts(3L).kllLen).getNormalizedRankError(false)
      afterSketched.zip(fullSketched).foreach { case (x, y) =>
        if (x.column == "content_length" && (x.check == "drift_ks" || x.check == "drift_psi"))
          assert(math.abs(x.metric - y.metric) <= 2 * eps, s"$x vs $y")
        else assert(x.toString == y.toString)
      }

      // idempotence: nothing pending → no-op
      assert(SuiteRunner.run(spark, code, dim, ioB, lenCardCap = cap).isEmpty)
    } }
  }

  test("re-validation replaces every table's partition, also where the new sample is empty") {
    // a write that replaced only the batches present in its frame left a
    // re-validated batch with an empty new sample holding its old rows
    val input = CodeTableGen.generate(spark, 8000, batches = 4, seed = 1)
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, input, dim, io)
      def shaRows(b: Long): Long = io.readCommitted(spark, "violations_sha256_invariant").get
        .where(col("batch_id") === b).count()
      val before = (0L to 3L).map(shaRows)
      assert(before.forall(_ > 0), before)
      Files.delete(Path.of(s"$root/verdicts/_manifest/p1.json"))
      val fixed = input.withColumn("expected_sha256",
        when(col("batch_id") === 1, sha2(col("content"), 256)).otherwise(col("expected_sha256")))
      val verdicts = SuiteRunner.run(spark, fixed, dim, io)
      assert(verdicts.map(_.batch_id).distinct == Seq(1L))
      assert(verdicts.find(_.check == "sha256_invariant").get.violation_count == 0)
      assert(shaRows(1L) == 0, "stale sample rows of the earlier call")
      assert((0L to 3L).filter(_ != 1L).map(shaRows) == before.patch(1, Nil, 1))
    }
  }

  test("committed sketches merge to whole-table answers without re-scanning") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code, dim, io)
      val g = graft.audit.AuditQueries.globalDistinct(spark, io).get.collect()(0)
      val exactKeys = code.select("repo", "path", "commit").distinct().count()
      val approxKeys = g.getAs[Long]("distinct_keys").toDouble
      assert(math.abs(approxKeys - exactKeys) / exactKeys < 0.05,
        s"hll $approxKeys vs exact $exactKeys")
      assert(g.getAs[Long]("total_rows") == 20000L)
      val (qs, leftOut) = graft.audit.AuditQueries.globalLengthQuantiles(spark, io).get
      assert(leftOut.isEmpty)
      val exactMedian = code.select(median(length(col("content")))).collect()(0).getDouble(0)
      assert(math.abs(qs(0.5) - exactMedian) / exactMedian < 0.1,
        s"KLL p50 ${qs(0.5)} vs exact $exactMedian")
    }
  }

  test("audit-only drift: sketched KS between committed batches flags the drifted one") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code, dim, io)
      val undrifted = graft.audit.AuditQueries.ksBetweenBatches(spark, io, 0L, 1L).get
      val drifted = graft.audit.AuditQueries.ksBetweenBatches(spark, io, 0L, 3L).get
      assert(drifted.statistic > undrifted.statistic)
      assert(drifted.pValue < 0.05, s"drifted batch must flag: $drifted")
      assert(undrifted.pValue >= 0.05, s"undrifted batch must not: $undrifted")
      assert(graft.audit.AuditQueries.ksBetweenBatches(spark, io, 0L, 99L).isEmpty)
    }
  }

  test("suite's salted repo_metrics equal plain groupBy counts and rank the mega-repo first") {
    // The name predates the suite's plain count and top-K aggregate
    // (Spark's CollectTopK): no salting is left on this path.
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code, dim, io)
      val rm = io.readCommitted(spark, "repo_metrics").get
      val top = rm.where(col("rank") === 1).select("repo").distinct().collect()
      assert(top.forall(_.getString(0) == "repo_0000"), "mega-repo must rank first per batch")
      val plain = code.groupBy("batch_id", "repo").count()
      val joined = rm.join(plain, Seq("batch_id", "repo"))
        .where(col("file_count") =!= col("count")).count()
      assert(joined == 0, "repo_metrics counts must be exact")

      // cross-batch heavy hitters from the committed freq_repo bytes:
      // in the exact regime (distinct repos < FreqMapSize) the merged
      // estimates equal whole-table exact counts, mega-repo first
      val truth = code.groupBy("repo").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val hot = graft.audit.AuditQueries.hotRepos(spark, io, threshold = 50L).get
      assert(hot.nonEmpty && hot.head._1 == "repo_0000")
      hot.foreach { case (repo, est, lb, ub) =>
        assert(est == truth(repo) && lb == est && ub == est,
          s"$repo: est $est lb $lb ub $ub vs true ${truth(repo)}")
      }
      assert(hot.map(_._1).toSet == truth.filter(_._2 >= 50L).keySet)
    }
  }

  test("above the length-cardinality cap: no per-length driver collect; sketched KS/PSI verdicts agree") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      // cap=4 forces the sketched path (the corpus has thousands of distinct lengths)
      val verdicts = SuiteRunner.run(spark, code, dim, io, lenCardCap = 4)
      def v(b: Long, check: String, colName: String): Verdict =
        verdicts.find(x => x.batch_id == b && x.check == check && x.column == colName).get
      // the routing decision drops the length counts entirely
      val arts = SuiteRunner.collectArtifacts(
        code.withColumn("batch_id", col("batch_id").cast("bigint")),
        Seq(0L, 1L, 2L, 3L), lenCardCap = 4)
      assert(arts.values.forall(_.lenCounts.isEmpty),
        "per-length counts must never be collected above the cap")
      assert(arts.values.forall(_.lenCardApprox > 4))
      // same verdict rows, same drift conclusions as the exact path
      assert(v(1, "drift_ks", "content_length").passed, "undrifted batch must pass sketched KS")
      assert(v(2, "drift_ks", "content_length").passed)
      assert(!v(3, "drift_ks", "content_length").passed, "drifted batch must fire sketched KS")
      assert(v(1, "drift_psi", "content_length").passed)
      assert(!v(3, "drift_chisq", "lang").passed)
      // identical verdict-table shape either way
      val exact = withTempDir("graft_suite") { r2 =>
        SuiteRunner.run(spark, code, dim, new ParquetTableIO(r2))
      }
      assert(verdicts.map(x => (x.batch_id, x.check, x.column)).sorted ==
        exact.map(x => (x.batch_id, x.check, x.column)).sorted)
    }
  }

  test("resume without the baseline partition: reference loads from committed artifacts") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      // first run validates the baseline (+ batch 1) and commits artifacts
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, io)
      assert(io.listCommitted("verdicts") == Seq(0L, 1L))
      assert(io.isCommitted("artifacts", 0L))
      // later arrival carries ONLY batches 2,3 — the baseline reference
      // must come from the committed artifacts snapshot, not a re-scan
      val resumed = SuiteRunner.run(spark, code.where(col("batch_id") >= 2), dim, io)
      assert(resumed.map(_.batch_id).distinct.sorted == Seq(2L, 3L))
      // drift verdicts identical to an all-batches-at-once run
      val full = withTempDir("graft_suite") { r2 =>
        SuiteRunner.run(spark, code, dim, new ParquetTableIO(r2))
      }
      def key(v: Verdict) = (v.batch_id, v.check, v.column)
      val fullMap = full.filter(_.batch_id >= 2)
        .map(v => key(v) -> (v.metric, v.p_value.toString, v.passed)).toMap
      resumed.foreach { v =>
        assert(fullMap(key(v)) == ((v.metric, v.p_value.toString, v.passed)), s"mismatch: $v")
      }
    }
  }

  test("version-gated artifacts are re-stamped after a recompute: upgraded audit dirs reload, not crash") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, io)
      // simulate a PRE-UPGRADE audit dir: the baseline's artifacts commit
      // meta lacks the current suite version, so the gate must reject it
      Files.writeString(Path.of(s"$root/artifacts/_manifest/p0.json"),
        """{"batch_id":0}""")
      // a run whose input still carries the baseline partition recomputes
      // the reference AND must re-stamp the snapshot under the current
      // version (batch 2 is the only pending batch)
      SuiteRunner.run(spark, code.where(col("batch_id") <= 2), dim, io)
      assert(Files.readString(Path.of(s"$root/artifacts/_manifest/p0.json"))
        .contains("\"suite\""), "baseline artifacts not re-stamped")
      // the decisive leg: input WITHOUT the baseline partition — before the
      // re-stamp path this threw (gate rejects, nothing to re-scan)
      val resumed = SuiteRunner.run(spark, code.where(col("batch_id") === 3), dim, io)
      assert(resumed.map(_.batch_id).distinct == Seq(3L))
      // verdicts equal the all-at-once run (the reloaded snapshot is real)
      val full = withTempDir("graft_suite") { r2 =>
        SuiteRunner.run(spark, code, dim, new ParquetTableIO(r2))
      }
      val fullMap = full.filter(_.batch_id == 3)
        .map(v => (v.check, v.column) -> (v.metric, v.p_value.toString, v.passed)).toMap
      resumed.foreach { v =>
        assert(fullMap((v.check, v.column)) == ((v.metric, v.p_value.toString, v.passed)),
          s"mismatch: $v")
      }
    }
  }

  test("version-mixed audit root: graft-0.4 batches beside the current suite's") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, io)
      // batches 0,1 as graft-0.4 committed them: artifacts carrying the
      // length sketch under `tdigest_len` (its bytes are never decoded, so
      // the current ones stand in) and stamped with the old version
      (0L to 1L).foreach { b =>
        val dir = s"$root/artifacts/batch_id=$b"
        val df = spark.read.parquet(dir)
        val old = spark.createDataFrame(df.collectAsList(), df.schema)
          .withColumnRenamed("kll_len", "tdigest_len")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
        old.write.parquet(dir)
      }
      (0L to 1L).foreach(b => io.commit("artifacts", b, s"""{"batch_id":$b,"suite":"graft-0.4"}"""))

      val verdicts = SuiteRunner.run(spark, code.where(col("batch_id") < 3), dim, io)
      assert(verdicts.map(_.batch_id).distinct == Seq(2L))
      assert(io.commitMeta("artifacts", 0L).exists(_.contains(graft.suite.SuiteConfig.SuiteVersion)),
        "baseline artifacts not re-stamped")
      val hot = graft.audit.AuditQueries.hotRepos(spark, io, threshold = 50L).get
      assert(hot.head._1 == "repo_0000")
      val g = graft.audit.AuditQueries.globalDistinct(spark, io).get.collect()(0)
      assert(g.getAs[Long]("total_rows") == 15000L)
      // a batch without KLL bytes has no sketched KS; the new batch does,
      // and so does the re-stamped baseline
      assert(graft.audit.AuditQueries.ksBetweenBatches(spark, io, 1L, 2L).isEmpty)
      assert(graft.audit.AuditQueries.ksBetweenBatches(spark, io, 2L, 2L).exists(_.statistic == 0.0))
      assert(graft.audit.AuditQueries.ksBetweenBatches(spark, io, 0L, 2L).nonEmpty)
      // the global quantiles name the batches they leave out: batch 1 only,
      // since the re-stamp gave batch 0 KLL bytes again
      val (qs, leftOut) = graft.audit.AuditQueries.globalLengthQuantiles(spark, io).get
      assert(qs(0.5) > 0)
      assert(leftOut == Seq(1L))
    }
  }

  test("missing baseline batch fails fast with a clear message") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      val noBase = code.where(col("batch_id") =!= 0)
      val e = intercept[IllegalArgumentException] {
        SuiteRunner.run(spark, noBase, dim, io)
      }
      assert(e.getMessage.contains("baseline batch 0"), e.getMessage)
    }
  }

  test("rows with a null batch_id fail the run before anything is committed") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      val orphans = code.where(col("batch_id") === 1).limit(3)
        .withColumn("batch_id", lit(null).cast("bigint"))
      intercept[Exception] {
        SuiteRunner.run(spark, code.unionByName(orphans), dim, io)
      }
      assert(io.listCommitted("verdicts").isEmpty)
      // with batches committed, the null rows must still be read and rejected
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, io)
      intercept[Exception] {
        SuiteRunner.run(spark, code.unionByName(orphans), dim, io)
      }
      assert(io.listCommitted("verdicts") == Seq(0L, 1L))
    }
  }

  test("one-pass sha sample equals the two-phase ORDER BY ... LIMIT cap sample") {
    val arts = SuiteRunner.collectArtifacts(
      code.withColumn("batch_id", col("batch_id").cast("bigint")), Seq(0L))
    // samples are JSON key triples (NUL-safe round-trip); MinK keeps the
    // lexicographically-least cap of exactly these strings
    val got = arts(0L).shaSamples
    val expected = code
      .where(col("batch_id") === 0 && sha2(col("content"), 256) =!= col("expected_sha256"))
      .select(to_json(struct(col("repo"), col("path"), col("commit"))).as("j"))
      .distinct().orderBy("j")
      .limit(graft.suite.SuiteConfig.ViolationCap)
      .collect().map(_.getString(0)).toSeq
    assert(got == expected)
    assert(arts(0L).shaMismatch > 0)
  }

  test("sha-sample key triple round-trips a NUL / control char in path exactly") {
    import spark.implicits._
    val weird = "dir\u0000a/fi\u0001le.scala" // NUL mis-split was the old failure mode
    val df = Seq(
      ("repo_x", weird, "c" * 40, "scala", "body", "not_the_sha", 0L),
      ("repo_y", "ok/path.scala", "d" * 40, "scala", "body2", "also_wrong", 0L))
      .toDF("repo", "path", "commit", "lang", "content", "expected_sha256", "batch_id")
    val arts = SuiteRunner.collectArtifacts(df, Seq(0L))
    val parsed = spark.createDataset(arts(0L).shaSamples).toDF("j")
      .select(from_json(col("j"), "repo STRING, path STRING, commit STRING",
        java.util.Map.of[String, String]).as("k"))
      .select("k.repo", "k.path", "k.commit")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(parsed.contains(("repo_x", weird, "c" * 40)), parsed)
    assert(parsed.contains(("repo_y", "ok/path.scala", "d" * 40)))
  }

  test("violation counts and capped samples equal the row_number window cuts") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val cap = graft.suite.SuiteConfig.ViolationCap
    // key parts: NULL, empty, and "！x" (U+FF01) / "𐀀x" (U+10000), whose
    // UTF-8 byte order (Spark's) and UTF-16 order (Java's) disagree
    val odd = Seq[String](null, "", "！x", "𐀀x")
    val repos = odd ++ Seq("a", "b", "z")
    val paths = odd ++ Seq("p", "q/r")
    val commits = odd ++ Seq("c1")
    val triples = for (r <- repos; p <- paths; c <- commits) yield (r, p, c)
    // batch 0: clean baseline; 1: every key triple duplicated (210 groups);
    // 2: > cap violating (repo, lang) groups; 3: > cap empty-path rows whose
    // (repo, commit) groups span several langs, so the cut splits a group
    val b0 = (0 until 400).map(i => (Seq("a", "b")(i % 2), s"f$i", "c1", Seq("py", "java")(i % 2), 0L))
    val b1 = triples.zipWithIndex.flatMap { case ((r, p, c), i) =>
      Seq.fill(if (i % 7 == 0) 3 else 2)((r, p, c, "py", 1L))
    }
    val b2 = for {
      (r, i) <- (repos ++ (0 until 60).map(i => f"r$i%03d")).zipWithIndex
      (l, j) <- Seq[String](null, "", "py", "！x", "𐀀x").zipWithIndex
      n <- 0 to (i + j) % 2
    } yield (r, s"g$i-$j-$n", "c1", l, 2L)
    val b3 = for {
      k <- 0 until 70
      l <- Seq[String]("py", "java", "！x", null)
    } yield (repos(k % repos.size), if (k % 2 == 0) null else "", commits(k % commits.size), l, 3L)
    val code = (b0 ++ b1 ++ b2 ++ b3).zipWithIndex
      .map { case ((r, p, c, l, b), i) => (r, p, c, l, s"body ${i % 97}", b) }
      .toDF("repo", "path", "commit", "lang", "content", "batch_id")
      .withColumn("expected_sha256", sha2(col("content"), 256))
    val dim = Seq(("a", "py"), ("a", "java"), ("b", "py"), ("b", "java"), ("r000", "py"))
      .toDF("repo", "lang")

    // the row_number formulations the aggregates replace
    val keyOrder = Seq(col("repo"), col("path"), col("commit"))
    val keySalt = pmod(xxhash64(col("repo"), col("path"), col("commit")), lit(32))
    val dupViol = code.groupBy("batch_id", "repo", "path", "commit")
      .agg(count(lit(1)).as("dup_count")).where(col("dup_count") > 1)
    val dupWindow = dupViol
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("batch_id"), keySalt).orderBy(keyOrder: _*)))
      .where(col("rn") <= cap).drop("rn")
      .withColumn("rn", row_number().over(Window.partitionBy(col("batch_id")).orderBy(keyOrder: _*)))
      .where(col("rn") <= cap).drop("rn")
    val refViol = code.select("batch_id", "repo", "lang")
      .join(broadcast(dim), Seq("repo", "lang"), "left_anti")
      .groupBy("batch_id", "repo", "lang").agg(count(lit(1)).as("violation_count"))
    val refWindow = refViol
      .withColumn("rn", row_number().over(Window.partitionBy(col("batch_id"))
        .orderBy(col("repo"), col("lang"))))
      .where(col("rn") <= cap).drop("rn")
    val emptyPath = code.where(col("path").isNull || col("path") === "")
      .select("batch_id", "repo", "commit", "lang")
    def pathCut(order: String*): DataFrame = emptyPath
      .withColumn("rn", row_number().over(Window.partitionBy(col("batch_id"))
        .orderBy(order.map(col): _*)))
      .where(col("rn") <= cap).drop("rn")

    def rows(df: DataFrame, cols: String*): Seq[String] =
      df.select(col("batch_id").cast("long") +: cols.map(col): _*).collect()
        .map(_.toSeq.map(v => if (v == null) "NULL" else s"<$v>").mkString("|")).toSeq.sorted
    def maxPerBatch(df: DataFrame): Long =
      df.groupBy("batch_id").count().agg(max("count")).head().getLong(0)
    assert(maxPerBatch(dupViol) > cap && maxPerBatch(refViol) > cap && maxPerBatch(emptyPath) > cap)
    // the cap splits a (repo, commit) group of batch 3 across langs
    val sorted3 = emptyPath.where(col("batch_id") === 3).orderBy("repo", "commit", "lang")
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(sorted3(cap - 1) == sorted3(cap))

    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      val verdicts = SuiteRunner.run(spark, code, dim, io)
      def table(name: String) = io.readCommitted(spark, s"violations_$name").get
      assert(rows(table("uniqueness"), "repo", "path", "commit", "dup_count") ==
        rows(dupWindow, "repo", "path", "commit", "dup_count"))
      assert(rows(table("referential"), "repo", "lang", "violation_count") ==
        rows(refWindow, "repo", "lang", "violation_count"))
      // the first cap in (repo, commit, lang) order; the window ordered by
      // (repo, commit) alone broke ties arbitrarily, so against it only the
      // (repo, commit) multiset is fixed
      val completeness = table("completeness_path")
      assert(rows(completeness, "repo", "commit", "lang") ==
        rows(pathCut("repo", "commit", "lang"), "repo", "commit", "lang"))
      assert(rows(completeness, "repo", "commit") == rows(pathCut("repo", "commit"), "repo", "commit"))

      def counts(df: DataFrame, n: org.apache.spark.sql.Column) =
        df.groupBy("batch_id").agg(n).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dupCounts = counts(dupViol, sum(col("dup_count") - 1))
      val refCounts = counts(refViol, sum("violation_count"))
      (0L to 3L).foreach { b =>
        def v(check: String) = verdicts.find(x => x.batch_id == b && x.check == check).get
        assert(v("uniqueness").violation_count == dupCounts.getOrElse(b, 0L), s"batch $b")
        assert(v("referential").violation_count == refCounts.getOrElse(b, 0L), s"batch $b")
      }
    }
  }

  /** Per audit table after one call over `code`: the `_schema/` record's
    * file name (the SHA-256 of the schema JSON, so it pins every column's
    * type and nullability), the row count, and the first 8 bytes of the
    * SHA-256 of the sorted rows, with the sketch bytes (every binary
    * column) and lineage `wall_ms` left out and doubles at 9 significant
    * digits. Taken from the suite whose audit frames were built by
    * `Seq(...).toDF()`; the same figures came out of two runs of it.
    */
  private val AuditPins = Map(
    "artifacts" -> ("a9104425893421247ab7c732aa4f8c176f3430ccff70176a9991d536e07c653f.json", 4, "9c1dd3124742328f"),
    "lineage" -> ("5ac7bc0b73861e463e78aea165936028dcc625544ed52589a0b8f50e47bbe913.json", 4, "af6133b8b9e8d2e5"),
    "repo_metrics" -> ("f367d19321c0c6d8e51d62cfec8450da6fe7bbff5a4c2cf6f6d5ad38c8b375de.json", 400, "9d1cfeb9e790af66"),
    "verdicts" -> ("a4ce9cf4775511b3cc42a60309d2d45fbec3c4b445b5d0714d7f986516de95cf.json", 44, "0499bae9a31a8182"),
    "violations_completeness_path" ->
      ("b3e27757e582e59900e2dcd79033fabc0c51bd01b90236d617f77016a432c9d8.json", 48, "745dcd7e71d4f7cc"),
    "violations_referential" ->
      ("8eeab35e0a69a194aa4e36765d4b14e2bf4d917292a23832007d143e779ed3e0.json", 41, "359aed3e896b2bef"),
    "violations_sha256_invariant" ->
      ("2832ccf5fd151900673e0ed45ba51b42f1be1354b8b606b3f13eb66cbd279d21.json", 51, "0a5a395e89e503e5"),
    "violations_uniqueness" ->
      ("28cd6289be3a2bb40f2e053b66c771d96a0259284dd09be79c1dae76e6f9b1eb.json", 60, "4aa22b512fd24552"))

  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double => f"$d%.9g"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  test("audit parity: every table's schema record and rows equal the toDF-built frames'") {
    withTempDir("graft_suite") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code, dim, io)
      AuditPins.foreach { case (t, (schemaFile, n, digest)) =>
        val s = Files.list(Path.of(root, t, "_schema"))
        val recorded = try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
        assert(recorded == Seq(schemaFile), t)
        val df = io.readCommitted(spark, t).get
        val cols = df.schema.fields.filter(f => f.dataType != BinaryType && f.name != "wall_ms")
          .map(_.name).sorted
        val rows = df.select(cols.map(col): _*).collect().map(render).sorted
        assert(rows.length == n, t)
        val got = MessageDigest.getInstance("SHA-256")
          .digest(rows.mkString("\n").getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
        assert(got == digest, t)
      }
    }
  }

  test("lang marginals sum null and empty langs into one empty-string count") {
    import spark.implicits._
    val batch = Seq[String](null, null, "", "py").zipWithIndex
      .map { case (l, i) => ("a", s"p$i", "c1", l, s"body $i", 0L) }
      .toDF("repo", "path", "commit", "lang", "content", "batch_id")
      .withColumn("expected_sha256", sha2(col("content"), 256))
    val a = SuiteRunner.collectArtifacts(batch, Seq(0L))(0L)
    assert(a.langCounts == Map("" -> 3L, "py" -> 1L))
    assert(a.langCounts.values.sum == a.rows)
  }
}

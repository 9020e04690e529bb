package graft

import graft.dedup.Dedup
import graft.tableio.Bucketed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Laws for the bucket-co-located committed seen-set: the corpus side of
  * the exact anti-join never shuffles again after commit, `distinct()` on
  * the bucket keys collapses into the scan's partitioning, appends preserve
  * co-location, and a fresh session re-opens the store from the manifest.
  */
class BucketedSpec extends GraftSpec {
  import spark.implicits._

  private def seenDf: DataFrame =
    (0L until 3000L).map(i => (i, s"repo_${i % 97}")).toDF("doc_id", "repo")

  private def incomingDf: DataFrame =
    (2500L until 3500L).map(i => (i, s"repo_${i % 97}")).toDF("doc_id", "repo")

  /** Count real shuffles in the executed plan (AQE + broadcast disabled so
    * the static plan is the law being tested, not a runtime re-plan).
    */
  private def withStaticPlans[A](f: => A): A = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.size

  test("commit + open round-trip; fresh-session re-registration from the manifest") {
    withTempDir("graft_bucket_rt") { dir =>
      Bucketed.commit(seenDf, "graft_seen_rt", dir, Seq("doc_id"), 8)
      val reread = Bucketed.open(spark, "graft_seen_rt", dir)
      assert(reread.count() == 3000)
      // fresh-session simulation: the catalog entry is gone, the files are not
      spark.sql("DROP TABLE graft_seen_rt")
      val reopened = Bucketed.open(spark, "graft_seen_rt", dir)
      assert(reopened.count() == 3000)
      assert(reopened.select("doc_id").as[Long].collect().sorted
        .sameElements(0L until 3000L))
      // and the re-registered entry still carries the bucket spec: the
      // distinct below would shuffle on a plain parquet scan
      withStaticPlans {
        assert(shuffles(reopened.select("doc_id").distinct()) == 0)
      }
    }
  }

  test("anti-join law: ONE Exchange (incoming side) vs TWO on plain parquet") {
    withTempDir("graft_bucket_join") { dir =>
      withTempDir("graft_plain_join") { plainDir =>
        Bucketed.commit(seenDf, "graft_seen_join", dir, Seq("doc_id"), 8)
        seenDf.write.mode("overwrite").parquet(plainDir)
        withStaticPlans {
          val bucketed = Dedup.newOnly(incomingDf,
            Bucketed.open(spark, "graft_seen_join", dir), Seq("doc_id"))
          val plain = Dedup.newOnly(incomingDf,
            spark.read.parquet(plainDir), Seq("doc_id"))
          assert(shuffles(bucketed) == 1,
            s"bucketed anti-join should shuffle ONLY the incoming side:\n${bucketed.queryExecution.executedPlan}")
          assert(shuffles(plain) == 2,
            s"control: plain-parquet anti-join should shuffle both sides:\n${plain.queryExecution.executedPlan}")
          // same answer either way
          assert(bucketed.select("doc_id").as[Long].collect().sorted
            .sameElements(plain.select("doc_id").as[Long].collect().sorted.toSeq))
          assert(bucketed.count() == 500) // 3000..3499 are new
        }
      }
    }
  }

  test("append preserves co-location and equals a full rebuild") {
    withTempDir("graft_bucket_app") { dir =>
      withTempDir("graft_bucket_reb") { rebuildDir =>
        Bucketed.commit(seenDf, "graft_seen_app", dir, Seq("doc_id"), 8)
        val delta = (3000L until 3200L).map(i => (i, s"repo_${i % 97}"))
          .toDF("doc_id", "repo")
        Bucketed.append(delta, "graft_seen_app", dir)
        Bucketed.commit(seenDf.unionByName(delta), "graft_seen_reb", rebuildDir,
          Seq("doc_id"), 8)
        val appended = Bucketed.open(spark, "graft_seen_app", dir)
        val rebuilt = Bucketed.open(spark, "graft_seen_reb", rebuildDir)
        assert(appended.select("doc_id").as[Long].collect().sorted
          .sameElements(rebuilt.select("doc_id").as[Long].collect().sorted.toSeq))
        withStaticPlans {
          // the appended store still joins with a single incoming-side shuffle
          val joined = Dedup.newOnly(incomingDf, appended, Seq("doc_id"))
          assert(shuffles(joined) == 1,
            s"append broke co-location:\n${joined.queryExecution.executedPlan}")
          assert(joined.count() == 300) // 3200..3499 remain new
        }
      }
    }
  }

  test("version gate: a future-format manifest refuses to open") {
    withTempDir("graft_bucket_ver") { dir =>
      Bucketed.commit(seenDf.limit(10), "graft_seen_ver", dir, Seq("doc_id"), 2)
      val p = java.nio.file.Paths.get(dir, "_bucket_meta.json")
      java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
        .replace(Bucketed.Version, "graft-bucketed-99"))
      spark.sql("DROP TABLE IF EXISTS graft_seen_ver")
      val e = intercept[IllegalArgumentException] {
        Bucketed.open(spark, "graft_seen_ver", dir)
      }
      assert(e.getMessage.contains("graft-bucketed-99"))
      // a torn write (no manifest) is equally un-openable
      java.nio.file.Files.delete(p)
      intercept[IllegalStateException] {
        Bucketed.open(spark, "graft_seen_ver", dir)
      }
    }
  }

  test("multi-key bucketing: composite (repo, doc_id) keys co-locate too") {
    withTempDir("graft_bucket_mk") { dir =>
      Bucketed.commit(seenDf, "graft_seen_mk", dir, Seq("repo", "doc_id"), 4)
      withStaticPlans {
        val joined = Dedup.newOnly(incomingDf,
          Bucketed.open(spark, "graft_seen_mk", dir), Seq("repo", "doc_id"))
        assert(shuffles(joined) == 1,
          joined.queryExecution.executedPlan.toString)
        assert(joined.count() == 500)
      }
    }
  }
}

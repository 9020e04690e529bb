package graft

import graft.gen.CodeTableGen
import graft.streaming.StreamingValidate
import graft.suite.SuiteRunner
import graft.tableio.ParquetTableIO
import org.apache.spark.sql.functions._

/** The suite-over-stream composition must be the SAME engine: identical
  * verdict rows as batch mode over the same partitions, cross-micro-batch
  * baseline state carried by the audit table (not stream memory), and
  * restart-resume semantics for free.
  */
class StreamingValidateSpec extends GraftSpec {

  test("streaming validation == batch validation, with audit-carried baseline and resume") {
    // two deterministic batches (batch 1 drifted/violating by construction),
    // staged as one FILE per batch so maxFilesPerTrigger=1 maps each original
    // batch onto one micro-batch in arrival order
    val code = CodeTableGen.generate(spark, 8000, batches = 2).cache()
    val dim = CodeTableGen.repoLangDim(spark)
    withTempDir("graft_sv_in") { dir =>
      (0L to 1L).foreach { b =>
        code.where(col("batch_id") === b).drop("batch_id").coalesce(1)
          .write.mode("append").parquet(dir)
        // distinct mtimes pin the file-source arrival order (gap only needed
        // BETWEEN files)
        if (b < 1L) Thread.sleep(1100)
      }
      val schema = spark.read.parquet(dir).schema

      withTempDir("graft_sv_audit") { auditS =>
        val ioS = new ParquetTableIO(auditS)
        var streamed = Seq.empty[(Long, String, String, Double, Boolean)]
        val q = StreamingValidate.validateStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
          dim, ioS,
          onVerdicts = vs => synchronized {
            streamed ++= vs.map(v => (v.batch_id, v.check, v.column, v.metric, v.passed))
          })
        assert(q.awaitTermination(300000), "stream must drain and stop")
        // read under the SAME monitor the foreachBatch thread appends under:
        // awaitTermination gives no happens-before edge with that thread
        val streamedSnap = synchronized(streamed)

        // both micro-batches committed; batch 1 validated against batch 0's
        // audit-loaded baseline (its own micro-batch no longer sees batch 0)
        assert(ioS.listCommitted("verdicts").sorted == Seq(0L, 1L))
        assert(ioS.isCommitted("artifacts", 0L), "baseline snapshot must be committed")

        // parity: batch-mode run over the same data + batch assignment. Metrics
        // compare with 1e-9 relative tolerance — float aggregation ORDER differs
        // between the 1-file micro-batch scan and the 2-file batch scan, which
        // legitimately moves the last ulp of a mean/shift
        withTempDir("graft_sv_audit_b") { d =>
          val ioB = new ParquetTableIO(d)
          val batch = SuiteRunner.run(spark, code, dim, ioB)
            .map(v => (v.batch_id, v.check, v.column, v.metric, v.passed))
          val sKeys = streamedSnap.map(v => (v._1, v._2, v._3)).toSet
          val bKeys = batch.map(v => (v._1, v._2, v._3)).toSet
          assert(sKeys == bKeys, s"verdict row sets diverge: ${(sKeys diff bKeys) ++ (bKeys diff sKeys)}")
          val bByKey = batch.map(v => (v._1, v._2, v._3) -> v).toMap
          streamedSnap.foreach { s =>
            val b = bByKey((s._1, s._2, s._3))
            assert(s._5 == b._5, s"passed diverges on ${(s._1, s._2, s._3)}: $s vs $b")
            val tol = 1e-9 * math.max(1.0, math.abs(b._4))
            assert(math.abs(s._4 - b._4) <= tol,
              s"metric diverges on ${(s._1, s._2, s._3)}: ${s._4} vs ${b._4}")
          }
          assert(streamedSnap.nonEmpty && streamedSnap.exists(v => v._1 == 1L && v._2.startsWith("drift")))

          // restart over the same source + audit dir: everything already
          // committed, so the resumed stream validates nothing new
          val before = streamedSnap.size
          val q2 = StreamingValidate.validateStream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
            dim, ioS,
            onVerdicts = vs => synchronized {
              streamed ++= vs.map(v => (v.batch_id, v.check, v.column, v.metric, v.passed))
            })
          assert(q2.awaitTermination(300000), "restarted stream must drain and stop")
          assert(synchronized(streamed).size == before,
            "restart must not re-validate committed batches")

          // TORN BATCH: crash between a batch's table writes and its verdict
          // commit. The verdict manifest is the atomic per-batch commit point
          // (written LAST), so a kill in that window leaves batch 1's data,
          // violations, artifacts and lineage fully written but the batch still
          // PENDING. A restarted stream must revalidate exactly that batch,
          // exactly once, overwriting the orphaned data idempotently and
          // producing verdicts identical to the untorn run.
          java.nio.file.Files.delete(
            java.nio.file.Path.of(s"$auditS/verdicts/_manifest/p1.json"))
          assert(ioS.listCommitted("verdicts") == Seq(0L))
          assert(ioS.isCommitted("artifacts", 1L),
            "torn batch stages: every non-verdict table already committed")
          var replayed = Seq.empty[(Long, String, String, Double, Boolean)]
          val q3 = StreamingValidate.validateStream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir),
            dim, ioS,
            onVerdicts = vs => synchronized {
              replayed ++= vs.map(v => (v.batch_id, v.check, v.column, v.metric, v.passed))
            })
          assert(q3.awaitTermination(300000), "post-crash stream must drain and stop")
          val replaySnap = synchronized(replayed)
          // exactly once, exactly batch 1 (batch 0's micro-batch no-ops)
          assert(replaySnap.nonEmpty && replaySnap.forall(_._1 == 1L),
            s"torn-batch restart must revalidate ONLY batch 1: ${replaySnap.map(_._1).distinct}")
          assert(replaySnap.map(v => (v._2, v._3)).distinct.size == replaySnap.size,
            "each (check, column) verdict must be emitted exactly once")
          assert(ioS.listCommitted("verdicts") == Seq(0L, 1L), "verdict commit restored")
          // verdicts equal the original run's batch-1 rows (1e-9 rel tol on
          // metrics — the revalidation reads the same single file)
          val origB1 = streamedSnap.filter(_._1 == 1L)
            .map(v => (v._2, v._3) -> (v._4, v._5)).toMap
          assert(replaySnap.size == origB1.size)
          replaySnap.foreach { v =>
            val (m0, p0) = origB1((v._2, v._3))
            assert(v._5 == p0, s"passed diverges after torn-batch replay: $v")
            assert(math.abs(v._4 - m0) <= 1e-9 * math.max(1.0, math.abs(m0)),
              s"metric diverges after torn-batch replay: $v vs $m0")
          }
          code.unpersist()
        }
      }
    }
  }
}

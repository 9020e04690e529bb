package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `run.py` builds and launches it.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --bench-dir <dir> [--size full|tiny]
  *                  [--source <id>]
  *
  * One closed-loop client: the main thread waits for each engine call
  * before it starts the next. After set-up and one warm-up step, timed
  * steps run for about `--seconds`, at least two of them. With `--trace 1`
  * steps alternate between untraced and traced, and the per-layer metrics
  * come from the traced ones.
  * Every run then feeds each output check a corrupted copy of a real output
  * and prints whether it was rejected. The last stdout line is the result
  * object.
  */
object Main {
  /** Timed steps per run at the least, however long they take. */
  private val MinSteps = 2
  /** Set-up passes per run; `setup_s` reports their median. */
  private val SetupPasses = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workloadName = opt("workload")
    val wl = Workload(workloadName)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val sizes = Sizes.byName(opts.getOrElse("size", "full"))
    val work = Paths.get(opt("work")).toAbsolutePath
    val benchDir = Paths.get(opt("bench-dir")).toAbsolutePath

    val load0 = Host.loadavg
    val cpu0 = Host.cpuJiffies
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try run(spark, wl, workloadName, seed, seconds, trace, sizes, work, benchDir, sessionS,
        opts.getOrElse("source", "unknown"), load0, cpu0)
      finally spark.stop()
    sys.exit(code)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def run(spark: SparkSession, wl: Workload, workloadName: String, seed: Long,
                  seconds: Double, trace: Boolean, sizes: Sizes, work: java.nio.file.Path,
                  benchDir: java.nio.file.Path, sessionS: Double, source: String,
                  load0: String, cpu0: (Long, Long)): Int = {
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, work, benchDir, seed, sizes)
    val runT0 = System.nanoTime()
    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - runT0) / 1e9}%.1f s: $what")

    // set-up, repeated; each pass rewrites the same inputs, so the steps use the last one
    val passes = (1 to SetupPasses).map(_ => ctx.seconds(wl.setup(ctx)).swap)
    log(s"set-up passes ${passes.map(_._1)}")
    val setupS = sessionS + median(passes.map(_._1))
    System.gc()

    var attempted = 0L
    var failed = 0L
    val problems = ArrayBuffer.empty[String]
    val mains = ArrayBuffer.empty[Double]; val follows = ArrayBuffer.empty[Double]
    val tMains = ArrayBuffer.empty[Double]; val tFollows = ArrayBuffer.empty[Double]
    val layerRows = ArrayBuffer.empty[Map[String, Double]]
    val listener = new JobListener

    def account(i: Int, s: Step): Unit = {
      attempted += 1 + s.follow.size
      if (s.mainProblems.nonEmpty) { failed += 1; problems ++= s.mainProblems.map(p => s"step $i: $p") }
      s.follow.foreach { case (_, ps) =>
        if (ps.nonEmpty) { failed += 1; problems ++= ps.map(p => s"step $i: $p") }
      }
    }

    def oneStep(i: Int, traced: Boolean)(call: => Step): Option[Step] = {
      ctx.traced = traced
      ctx.tracer.call = i
      if (traced) sc.addSparkListener(listener)
      try {
        val s = call
        account(i, s)
        if (traced) layerRows += Layers.derive(sc, listener, ctx.tracer.spans.filter(_.call == i), s)
        Some(s)
      } catch {
        case NonFatal(e) =>
          attempted += 1; failed += 1
          problems += s"step $i threw ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
          None
      } finally {
        if (traced) sc.removeSparkListener(listener)
        ctx.traced = false
        System.gc() // prompt shuffle and checkpoint cleanup, outside the timers
      }
    }

    // Checked, untimed warm-up step. Each run is a fresh JVM whose first call
    // pays the cold start, so the timed calls start from the second.
    oneStep(0, traced = false)(wl.step(ctx, 0))
    log("warm-up done")

    // Steps start while at least half a step's wall time remains before the
    // deadline, so a run ends near `seconds`; there are at least `MinSteps`.
    // When tracing, odd steps are traced on odd seeds and even steps on even
    // seeds: calls keep getting faster over a JVM's first steps, so the
    // traced steps' positions must even out over runs for the overhead
    // figures to cancel them.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val stepNs = ArrayBuffer.empty[Double]
    var i = 1
    while (i <= MinSteps || System.nanoTime() + median(stepNs.toSeq) / 2 < deadline) {
      val traced = trace && (i + seed) % 2 == 0
      val t0 = System.nanoTime()
      oneStep(i, traced)(wl.step(ctx, i)).foreach { s =>
        (if (traced) tMains else mains) += s.mainS
        (if (traced) tFollows else follows) ++= s.follow.map(_._1)
      }
      stepNs += (System.nanoTime() - t0).toDouble
      log(s"step $i done")
      i += 1
    }
    if (mains.isEmpty || (trace && tMains.isEmpty)) {
      problems.foreach(p => System.err.println(s"[perfbench] $p"))
      System.err.println("[perfbench] no step completed; no result")
      return 1
    }

    val selftest =
      try wl.corruptionTest()
      catch { case NonFatal(e) => Seq(s"corruption test threw ${e.getClass.getName}" -> false) }
    val peakRss = Host.peakRssMb
    val load1 = Host.loadavg
    val steal = Host.stealPct(cpu0, Host.cpuJiffies)
    val mainP50 = median(mains.toSeq)
    val followP50 = median(follows.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("main_call_p50_s", mainP50, "s"),
        ("followup_call_p50_s", followP50, "s"),
        ("peak_rss_mb", peakRss, "MB"))
      else {
        val keys = layerRows.flatMap(_.keys).distinct.sorted
        def pct(traced: Seq[Double], plain: Seq[Double]): Double =
          if (plain.isEmpty || median(plain) == 0) 0.0 else 100.0 * (median(traced) / median(plain) - 1.0)
        keys.map(k => (k, median(layerRows.map(_.getOrElse(k, 0.0)).toSeq), Layers.unit(k))).toSeq ++ Seq(
          ("gen.input_s", median(passes.map(_._2)), "s"),
          ("spark.session_s", sessionS, "s"),
          ("trace.calls", tMains.size.toDouble, "count"),
          ("trace.overhead_main_pct", pct(tMains.toSeq, mains.toSeq), "%"),
          ("trace.overhead_followup_pct", pct(tFollows.toSeq, follows.toSeq), "%"))
      }

    // tail percentile only where at least ten samples lie beyond it
    def tail(xs: Seq[Double]): String = {
      val s = xs.sorted
      Seq(0.99, 0.95, 0.9).find(q => s.size * (1 - q) >= 10)
        .map(q => s""","p${(q * 100).round}":${num(s(math.ceil(q * s.size).toInt - 1))}""").getOrElse("")
    }
    val items = wl.items
    val report =
      s"""{"workload":"$workloadName","seed":$seed,"trace":${if (trace) 1 else 0},""" +
      s""""source":"$source","spark":"${spark.version}","nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""xmx_mb":${Host.xmxMb},"loadavg_before":"$load0","loadavg_after":"$load1",""" +
      s""""steal_pct":${num(steal)},"setup_passes_s":[${passes.map(p => num(p._1)).mkString(",")}],""" +
      s""""main_call":{"n":${mains.size},"p50":${num(mainP50)}${tail(mains.toSeq)},"s":[${mains.map(num).mkString(",")}]},""" +
      s""""followup_call":{"n":${follows.size},"p50":${num(followP50)}${tail(follows.toSeq)},"s":[${follows.map(num).mkString(",")}]},""" +
      s""""items":$items,"items_per_s":${num(if (mainP50 > 0) items / mainP50 else 0.0)},""" +
      s""""op_fail_ratio":${num(failed.toDouble / math.max(1L, attempted))}}"""
    println(s"perfbench-report $report")
    selftest.foreach { case (name, rejected) => println(s"perfbench-check-selftest rejected=$rejected $name") }
    problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val correct = failed == 0 && selftest.forall(_._2)
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
    0
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
}

/** Per-layer numbers of one traced step, derived from its spans and the
  * listener counters of the jobs each span started. Every job counts under
  * the innermost span open on the thread that started it.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  def unit(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb") || k.endsWith("_mb_per_job")) "MB"
    else if (k.endsWith("skew")) "ratio" else "count"

  def derive(sc: org.apache.spark.SparkContext, l: JobListener, spans: Seq[Span],
             step: Step): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span, root: Span): Boolean =
      s.parent == root.id || byId.get(s.parent).exists(under(_, root))
    def named(n: String) = spans.filter(_.name == n)
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    def sum(ss: Seq[Span]) = l.sum(sc, ss.map(_.id))

    val suite = named("suite.run")
    val tio = spans.filter(_.name.startsWith("tableio."))
    // tableio jobs count inside the suite call; the monitor's reads count under audit
    val suiteTio = tio.filter(t => suite.exists(under(t, _)))
    val audit = spans.filter(_.name.startsWith("audit."))
    val auditAll = audit ++ tio.filter(t => audit.exists(under(t, _)))
    val reps = math.max(1, named("audit.hotRepos").size).toDouble
    val sc0 = sum(suite); val tc = sum(suiteTio); val ac = sum(auditAll)
    val cc = named("dedup.cc"); val incr = named("dedup.incr")
    val ccc = sum(cc); val ic = sum(incr)
    val applies = math.max(1, incr.size).toDouble

    // every job started inside the main call must be attributed to it
    val main = (suite ++ cc).headOption
    val (callJobs, attributed) = main match {
      case Some(m) =>
        val inside = l.allJobStarts(sc).count(t => t >= m.startMs && t <= m.endMs)
        val mine = (m +: spans.filter(under(_, m))).map(_.id)
        (inside.toDouble, sum(spans.filter(s => mine.contains(s.id))).jobs.toDouble)
      case None => (0.0, 0.0)
    }

    Map(
      "suite.run_s" -> secs(suite),
      "suite.self_s" -> (secs(suite) - Tracer.unionSeconds(suiteTio)),
      "suite.collect_artifacts_s" -> secs(named("suite.collectArtifacts")),
      "suite.jobs" -> sc0.jobs.toDouble,
      "suite.stages" -> sc0.stages.toDouble,
      "suite.tasks" -> sc0.tasks.toDouble,
      "suite.sched_delay_s" -> sc0.schedMs / 1e3,
      "suite.task_cpu_s" -> sc0.cpuNs / 1e9,
      "suite.task_run_s" -> sc0.runMs / 1e3,
      "suite.gc_s" -> sc0.gcMs / 1e3,
      "suite.input_mb" -> sc0.inputB / MB,
      "suite.shuffle_write_mb" -> sc0.shufWriteB / MB,
      "suite.shuffle_read_mb" -> sc0.shufReadB / MB,
      "suite.spill_mb" -> sc0.spillB / MB,
      "suite.peak_exec_mem_mb" -> sc0.peakMemB / MB,
      "suite.task_skew" -> sc0.skew,
      "tableio.write_calls" -> named("tableio.write").size.toDouble,
      "tableio.write_busy_s" -> secs(named("tableio.write")),
      "tableio.write_wall_s" -> Tracer.unionSeconds(named("tableio.write")),
      "tableio.commit_calls" -> named("tableio.commit").size.toDouble,
      "tableio.commit_s" -> secs(named("tableio.commit")),
      "tableio.meta_calls" -> named("tableio.meta").size.toDouble,
      "tableio.meta_s" -> secs(named("tableio.meta")),
      "tableio.read_calls" -> named("tableio.read").size.toDouble,
      "tableio.read_s" -> secs(named("tableio.read")),
      "tableio.jobs" -> tc.jobs.toDouble,
      "tableio.tasks" -> tc.tasks.toDouble,
      "tableio.task_cpu_s" -> tc.cpuNs / 1e9,
      "tableio.bytes_written_mb" -> tc.outB / MB,
      "tableio.records_written" -> tc.outRecords.toDouble,
      "tableio.files_written" -> step.files.getOrElse("tableio.files_written", 0.0),
      "tableio.audit_files" -> step.files.getOrElse("tableio.audit_files", 0.0),
      "audit.hot_repos_s" -> secs(named("audit.hotRepos")) / reps,
      "audit.ks_between_s" -> secs(named("audit.ksBetween")) / reps,
      "audit.jobs" -> ac.jobs / reps,
      "audit.tasks" -> ac.tasks / reps,
      "dedup.cc_s" -> secs(cc),
      "dedup.cc_jobs" -> ccc.jobs.toDouble,
      "dedup.cc_shuffle_write_mb" -> ccc.shufWriteB / MB,
      "dedup.cc_shuffle_mb_per_job" -> (if (ccc.jobs == 0) 0.0 else ccc.shufWriteB / MB / ccc.jobs),
      "dedup.cc_task_cpu_s" -> ccc.cpuNs / 1e9,
      "dedup.cc_spill_mb" -> ccc.spillB / MB,
      "dedup.cc_task_skew" -> ccc.skew,
      "dedup.incr_s" -> secs(incr) / applies,
      "dedup.incr_jobs" -> ic.jobs / applies,
      "dedup.incr_shuffle_write_mb" -> ic.shufWriteB / MB / applies,
      "trace.call_jobs" -> callJobs,
      "trace.unattributed_jobs" -> (callJobs - attributed))
  }
}

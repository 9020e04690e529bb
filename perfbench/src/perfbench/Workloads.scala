package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.audit.AuditQueries
import graft.dedup.Components
import graft.gen.CodeTableGen
import graft.suite.{SuiteRunner, Verdict}
import graft.tableio.{ParquetTableIO, TableIO}

/** Input sizes of one benchmark scale. */
final case class Sizes(fullRows: Long, ccNodes: Int, ccHubSpokes: Int, ccMaxCluster: Int,
                       auditReps: Int)

object Sizes {
  val byName: Map[String, Sizes] = Map(
    "full" -> Sizes(fullRows = 150000L,
      ccNodes = 60000, ccHubSpokes = 6000, ccMaxCluster = 600, auditReps = 6),
    "tiny" -> Sizes(fullRows = 40000L,
      ccNodes = 3000, ccHubSpokes = 200, ccMaxCluster = 50, auditReps = 1))
}

/** What one timed step did: wall seconds of the main call and of each
  * follow-up call, the output problems of each, and file counts for the
  * layer metrics.
  */
final case class Step(mainS: Double, mainProblems: Seq[String],
                      follow: Seq[(Double, Seq[String])],
                      files: Map[String, Double] = Map.empty)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val work: Path, val benchDir: Path,
                val seed: Long, val sizes: Sizes) {
  val tracer = new Tracer(spark.sparkContext)
  /** Whether the step in progress is traced. */
  var traced = false

  def dir(name: String): String = work.resolve(name).toString

  def io(root: String): TableIO = {
    val plain = new ParquetTableIO(root)
    if (traced) new TracedTableIO(plain, tracer) else plain
  }

  def span[A](name: String)(f: => A): A = if (traced) tracer.span(name)(f) else f

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

object FileOps {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Regular files under `p` whose name ends in `suffix`. */
  def countFiles(p: Path, suffix: String = ""): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x) && x.getFileName.toString.endsWith(suffix)).count()
      finally s.close()
    }
}

/** A benchmark workload: set-up (repeatable), then closed-loop steps. */
trait Workload {
  /** One full set-up pass, which rewrites the inputs of any earlier pass;
    * returns the seconds spent generating the input.
    */
  def setup(ctx: Ctx): Double
  /** One closed-loop step; step 0 is the untimed warm-up. */
  def step(ctx: Ctx, i: Int): Step
  /** Feeds each output check one corrupted copy of the last step's outputs;
    * returns (corruption, rejected).
    */
  def corruptionTest(): Seq[(String, Boolean)]
  /** Items the main call processes, for the throughput figure. */
  def items: Long
}

object Workload {
  def apply(name: String): Workload = name match {
    case "suite_full" => new SuiteFull
    case "dedup_clusters" => new DedupClusters
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** The batch job: the generated code table (4 batches, Parquet partitioned
  * by batch_id) validated by `SuiteRunner.run` against a fresh audit root,
  * so every batch is pending; then the monitor queries over that audit.
  * The last batch is the drifted one.
  */
final class SuiteFull extends Workload {
  private val Batches = 4
  private val AllBatches = (0L until Batches).toSet
  private val Drifted = Batches - 1L
  private val MegaRepo = "repo_0000"
  private var rows = 0L
  private var input: String = _
  private var expect: Map[Long, BatchExpect] = Map.empty
  private var lastVerdicts: Seq[Verdict] = Seq.empty
  private var lastCommitted: Seq[Long] = Seq.empty

  private def dim(spark: SparkSession): DataFrame = CodeTableGen.repoLangDim(spark)

  /** Generates the input and computes the expected counts with DuckDB. */
  override def setup(ctx: Ctx): Double = {
    val spark = ctx.spark
    rows = ctx.sizes.fullRows
    input = ctx.dir("input")
    val dimDir = ctx.dir("dim")
    val (_, genS) = ctx.seconds {
      CodeTableGen.generate(spark, rows, Batches, ctx.seed)
        .write.mode("overwrite").partitionBy("batch_id").parquet(input)
    }
    dim(spark).write.mode("overwrite").parquet(dimDir)
    expect = Oracle.suite(ctx.benchDir, ctx.work, input, dimDir)
    genS
  }

  /** Validates every batch into a fresh audit root, checks the verdicts,
    * then runs the monitor queries.
    */
  override def step(ctx: Ctx, i: Int): Step = {
    val root = ctx.dir(s"audit_$i")
    try {
      val spark = ctx.spark
      val code = spark.read.parquet(input)
      val io = ctx.io(root)
      val dimDf = dim(spark)
      val (verdicts, mainS) = ctx.seconds {
        ctx.span("suite.run")(SuiteRunner.run(spark, code, dimDf, io))
      }
      val layerFiles = Map(
        "tableio.files_written" -> FileOps.countFiles(Paths.get(root), ".parquet").toDouble,
        "tableio.audit_files" -> FileOps.countFiles(Paths.get(root)).toDouble)
      // collectArtifacts takes the engine's bigint batch_id (run() casts it itself)
      if (ctx.traced)
        ctx.span("suite.collectArtifacts")(SuiteRunner.collectArtifacts(
          code.withColumn("batch_id", col("batch_id").cast("bigint")), AllBatches.toSeq.sorted))
      lastVerdicts = verdicts
      lastCommitted = new ParquetTableIO(root).listCommitted("verdicts")
      val problems = Checks.suite(verdicts, expect, AllBatches, lastCommitted, Drifted)
      Step(mainS, problems, monitor(ctx, io, rows, Drifted), layerFiles)
    } finally FileOps.delete(Paths.get(root))
  }

  /** `hotRepos` then `ksBetweenBatches(0, last)`, timed together, `auditReps` times. */
  private def monitor(ctx: Ctx, io: TableIO, committedRows: Long,
                      last: Long): Seq[(Double, Seq[String])] =
    (1 to ctx.sizes.auditReps).map { _ =>
      val ((hot, ks), s) = ctx.seconds {
        val hot = ctx.span("audit.hotRepos")(AuditQueries.hotRepos(ctx.spark, io, committedRows / 10))
        val ks = ctx.span("audit.ksBetween")(AuditQueries.ksBetweenBatches(ctx.spark, io, 0L, last))
        (hot, ks)
      }
      (s, Checks.audit(hot, ks.map(_.statistic), MegaRepo))
    }

  override def corruptionTest(): Seq[(String, Boolean)] = {
    def rejects(vs: Seq[Verdict], c: Seq[Long] = lastCommitted): Boolean =
      Checks.suite(vs, expect, AllBatches, c, Drifted).nonEmpty
    val uniq = lastVerdicts.indexWhere(_.check == "uniqueness")
    val offByOne = lastVerdicts.updated(uniq,
      lastVerdicts(uniq).copy(violation_count = lastVerdicts(uniq).violation_count + 1))
    val drift = lastVerdicts.indexWhere(v => v.batch_id == Drifted && v.check == "drift_ks")
    Seq(
      "suite: one uniqueness count off by one" -> rejects(offByOne),
      "suite: drifted batch passes drift_ks" ->
        (drift >= 0 && rejects(lastVerdicts.updated(drift, lastVerdicts(drift).copy(passed = true)))),
      "suite: one committed verdict batch missing" -> rejects(lastVerdicts, lastCommitted.dropRight(1)),
      "audit: mega-repo missing from hotRepos" ->
        Checks.audit(Some(Seq.empty), Some(0.5), MegaRepo).nonEmpty)
  }

  override def items: Long = rows
}

/** Near-duplicate clustering: one full solve, then incremental applies of
  * the held-out slice against the committed store.
  */
final class DedupClusters extends Workload {
  /** Incremental applies per step: the apply is the cheaper call and the
    * noisier one, so each step takes it twice.
    */
  private val IncrReps = 2
  private var g: PairGraph = _
  private var baseDir: String = _
  private var heldDir: String = _
  private var lastFull: Array[(Long, Long)] = Array.empty
  private var lastIncr: Array[(Long, Long)] = Array.empty

  private def write(ctx: Ctx, edges: Array[Long], dir: String): Unit = {
    import ctx.spark.implicits._
    val pairs = Array.tabulate(edges.length / 2)(e => (edges(2 * e), edges(2 * e + 1)))
    ctx.spark.sparkContext.parallelize(pairs.toSeq, ctx.spark.sparkContext.defaultParallelism)
      .toDF("id1", "id2").write.mode("overwrite").parquet(dir)
  }

  override def setup(ctx: Ctx): Double = {
    val s = ctx.sizes
    val (_, genS) = ctx.seconds {
      g = PairGraph.generate(ctx.seed, s.ccNodes, s.ccHubSpokes, s.ccMaxCluster)
      baseDir = ctx.dir("edges_base")
      heldDir = ctx.dir("edges_held")
      write(ctx, g.base, baseDir)
      write(ctx, g.held, heldDir)
    }
    genS
  }

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)))

  override def step(ctx: Ctx, i: Int): Step = {
    val spark = ctx.spark
    val storeDir = ctx.dir(s"store_$i")
    val base = spark.read.parquet(baseDir)
    val (cc, mainS) = ctx.seconds(ctx.span("dedup.cc")(Components.connectedComponents(base)))
    try {
      lastFull = pairs(cc)
      val mainProblems = Checks.components(lastFull, g.baseRep)
      cc.write.parquet(storeDir)
      val store = spark.read.parquet(storeDir)
      val held = spark.read.parquet(heldDir)
      val applies = (1 to IncrReps).map { _ =>
        val (incr, incrS) = ctx.seconds(ctx.span("dedup.incr") {
          Components.incrementalComponents(store, held).localCheckpoint()
        })
        try {
          lastIncr = pairs(incr)
          incrS -> Checks.components(lastIncr, g.unionRep)
        } finally incr.unpersist()
      }
      Step(mainS, mainProblems, applies)
    } finally {
      cc.unpersist()
      FileOps.delete(Paths.get(storeDir))
    }
  }

  override def corruptionTest(): Seq[(String, Boolean)] = {
    def wrongRep(xs: Array[(Long, Long)]): Array[(Long, Long)] = {
      val j = xs.indexWhere { case (id, rep) => id != rep }
      xs.updated(j, (xs(j)._1, xs(j)._1))
    }
    Seq(
      "dedup: one wrong rep in the full solve" -> Checks.components(wrongRep(lastFull), g.baseRep).nonEmpty,
      "dedup: one wrong rep in the incremental apply" -> Checks.components(wrongRep(lastIncr), g.unionRep).nonEmpty,
      "dedup: one node missing" -> Checks.components(lastFull.tail, g.baseRep).nonEmpty)
  }

  override def items: Long = if (g == null) 0L else g.baseEdges.toLong
}

package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, fully distributed generator for the engine's input table
  * (BASELINE.json `input_hint`):
  *
  *   code(repo, path, commit, lang, content, expected_sha256, batch_id)
  *
  * All columns are pure hash arithmetic over `spark.range(n)` — no unseeded
  * rand, no wall clock, no driver-side loops — so the table is identical for
  * a given (rows, batches, seed) at any parallelism and any scale.
  *
  * Reference semantics mirrored (see FIXTURES.md §1):
  *  - Skew: one mega-repo (`repo_0000`) holds ~30% of rows, the key the
  *    freq_repo sketch and the repo_metrics top-k must rank first.
  *  - Unusual-data injection: in the drifted batch (the last one), ~5% of
  *    rows get content length multiplied by an int in [2,5]
  *    (reference sensor.py:111-129: p=0.05, multiplier uniform[2,5]).
  *  - Drifted lang mix: the drifted batch shifts language weights (drives
  *    chi-square / PSI on `lang`, reference DESIGN.md:526-585).
  *  - Injected violations with deterministic markers (for tests):
  *    duplicate (repo,path,commit) keys, `lang` values outside the
  *    repo_lang dimension, empty-string paths (missing per DESIGN.md:347),
  *    corrupted expected_sha256 (per-row sha256 invariant of input_hint).
  */
object CodeTableGen {

  val Langs: Seq[String] = Seq("scala", "java", "python", "go", "rust", "markdown")
  private val Exts = Map(
    "scala" -> "scala", "java" -> "java", "python" -> "py",
    "go" -> "go", "rust" -> "rs", "markdown" -> "md", "cobol" -> "cbl")

  /** Language weights out of 100 for the normal batches. */
  private val NormalWeights: Seq[(String, Int)] =
    Seq("scala" -> 25, "java" -> 25, "python" -> 20, "go" -> 12, "rust" -> 10, "markdown" -> 8)
  /** Shifted weights in the drifted batch (python-heavy, markdown-heavy). */
  private val DriftedWeights: Seq[(String, Int)] =
    Seq("scala" -> 10, "java" -> 10, "python" -> 40, "go" -> 8, "rust" -> 7, "markdown" -> 25)

  // Injection rates out of 10_000 rows (deterministic hash buckets).
  val DupRate = 30        // duplicate (repo,path,commit) triples
  val BadLangRate = 25    // lang = "cobol", not in the dimension
  val EmptyPathRate = 25  // path = "" (missing per isnull ∨ == "")
  val BadShaRate = 25     // expected_sha256 corrupted
  val UnusualRate = 500   // 5% content-length multiplier in drifted batch

  private def h(seed: Long, c: Column*): Column = xxhash64((lit(seed) +: c): _*)
  private def bucket(seed: Long, id: Column, m: Int): Column = pmod(h(seed, id), lit(m))

  /** Weighted categorical pick from hash bucket 0..99. */
  private def weighted(b: Column, weights: Seq[(String, Int)]): Column = {
    val cum = weights.scanLeft(("", 0)) { case ((_, acc), (l, w)) => (l, acc + w) }.tail
    cum.init.foldRight(lit(cum.last._1): Column) { case ((l, hi), els) =>
      when(b < hi, l).otherwise(els)
    }
  }

  private def repoId(seed: Long, id: Column, nRepos: Int): Column =
    when(bucket(seed + 1, id, 1000) < 300, 0)
      .otherwise(pmod(h(seed + 2, id), lit(nRepos - 1)) + 1)

  /** (repo, path, commit) as functions of a row id — reused so that a
    * duplicate row can take the key of row (id-1) exactly. Empty-path
    * injection is NOT applied here: a dup must clone a well-formed key.
    */
  private def keyCols(seed: Long, id: Column, nRepos: Int): (Column, Column, Column) = {
    val repo = format_string("repo_%04d", repoId(seed, id, nRepos))
    val lang = langCol(seed, id)
    val ext = Exts.foldLeft(lit("txt"): Column) { case (e, (l, x)) => when(lang === l, x).otherwise(e) }
    val path = format_string("dir%d/dir%d/file_%06d.%s",
      bucket(seed + 3, id, 7), bucket(seed + 4, id, 13), id, ext)
    val commit = substring(sha2(concat_ws("|", repo, path, bucket(seed + 5, id, 3).cast("string")), 256), 1, 40)
    (repo, path, commit)
  }

  private def langCol(seed: Long, id: Column): Column =
    weighted(bucket(seed + 6, id, 100), NormalWeights)

  /** Full table with boolean injection markers (test-only columns). */
  def generateWithMarkers(spark: SparkSession, rows: Long, batches: Int = 4,
                          seed: Long = 42, nRepos: Int = 200): DataFrame = {
    val perBatch = math.max(1L, (rows + batches - 1) / batches)
    val id = col("id")
    val batch = (id / perBatch).cast("bigint").as("batch_id")
    val driftedBatch = batches - 1

    val isDup = bucket(seed + 10, id, 10000) < DupRate && id > 0
    val isBadLang = bucket(seed + 11, id, 10000) < BadLangRate
    val isEmptyPath = bucket(seed + 12, id, 10000) < EmptyPathRate
    val isBadSha = bucket(seed + 13, id, 10000) < BadShaRate

    val (repo0, path0, commit0) = keyCols(seed, id, nRepos)
    val (repoD, pathD, commitD) = keyCols(seed, id - 1, nRepos)
    val repo = when(isDup, repoD).otherwise(repo0)
    val pathBase = when(isDup, pathD).otherwise(path0)
    val commit = when(isDup, commitD).otherwise(commit0)
    val path = when(isEmptyPath && !isDup, "").otherwise(pathBase)

    val langNormal = langCol(seed, id)
    val langDrift = weighted(bucket(seed + 6, id, 100), DriftedWeights)
    val isDrifted = col("batch_id") === driftedBatch
    val lang = when(isBadLang, "cobol")
      .otherwise(when(isDrifted, langDrift).otherwise(langNormal))

    // Content: whitespace-separated deterministic 8-char tokens. Token count
    // is lang/repo-dependent; the drifted batch multiplies ~5% of rows by an
    // int in [2,5] (sensor.py:128: random.uniform(2,5) — int-preserving).
    val tokBase = substring(sha2(concat_ws("|", repo0, path0), 256), 1, 8)
    val nTokNormal = (bucket(seed + 14, id, 40) + lit(8)
      + when(langNormal === "markdown", 30).otherwise(0)
      + pmod(h(seed + 15, repo0), lit(16)))
    val isUnusual = isDrifted && (bucket(seed + 16, id, 10000) < UnusualRate)
    val mult = bucket(seed + 17, id, 4) + lit(2) // ∈ [2,5]
    val nTok = when(isUnusual, nTokNormal * mult).otherwise(nTokNormal)
    val content = concat_ws(" ",
      array_repeat(tokBase, nTok.cast("int")))

    val shaTrue = sha2(content, 256)
    val expectedSha = when(isBadSha, reverse(shaTrue)).otherwise(shaTrue)

    spark.range(rows)
      .withColumn("batch_id", batch)
      .withColumn("repo", repo)
      .withColumn("path", path)
      .withColumn("commit", commit)
      .withColumn("lang", lang)
      .withColumn("content", content)
      .withColumn("expected_sha256", expectedSha)
      .withColumn("m_dup", isDup)
      .withColumn("m_bad_lang", isBadLang)
      .withColumn("m_empty_path", isEmptyPath && !isDup)
      .withColumn("m_bad_sha", isBadSha)
      .withColumn("m_unusual", isUnusual)
  }

  /** The engine-facing table (markers dropped). */
  def generate(spark: SparkSession, rows: Long, batches: Int = 4,
               seed: Long = 42, nRepos: Int = 200): DataFrame =
    generateWithMarkers(spark, rows, batches, seed, nRepos)
      .select("repo", "path", "commit", "lang", "content", "expected_sha256", "batch_id")

  /** Referential dimension: allowed (repo, lang) pairs — every repo may use
    * the six standard languages; anything else (e.g. injected "cobol") is a
    * referential violation (SURVEY.md J1).
    */
  def repoLangDim(spark: SparkSession, nRepos: Int = 200): DataFrame = {
    import spark.implicits._
    spark.range(nRepos).select(format_string("repo_%04d", col("id")).as("repo"))
      .crossJoin(Langs.toDF("lang"))
  }
}

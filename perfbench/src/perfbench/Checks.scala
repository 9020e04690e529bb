package perfbench

import graft.suite.Verdict

/** Per-batch counts computed outside Spark over the generated input. */
final case class BatchExpect(rows: Long, dup: Long, ref: Long, missPath: Long, sha: Long)

/** Output checks. Each returns the list of problems found (empty = correct);
  * they run outside the timers and never touch the engine.
  */
object Checks {
  /** The baseline batch: its drift rows pass by definition. */
  private val Baseline = 0L

  /** Verdicts of one `SuiteRunner.run` against the independent counts.
    *
    * @param validated batches the call was expected to validate, on a fresh
    *                  audit root (so exactly these must be committed after it)
    * @param committed `listCommitted("verdicts")` after the call
    * @param drifted the drifted batch id (drift checks must fail on it)
    */
  def suite(verdicts: Seq[Verdict], expect: Map[Long, BatchExpect],
            validated: Set[Long], committed: Seq[Long], drifted: Long): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val byBatch = verdicts.groupBy(_.batch_id)
    if (byBatch.keySet != validated)
      problems += s"validated batches ${byBatch.keySet.toSeq.sorted} != ${validated.toSeq.sorted}"
    if (committed.toSet != validated || committed.size != validated.size)
      problems += s"committed verdicts ${committed.sorted} != ${validated.toSeq.sorted}"
    def one(vs: Seq[Verdict], check: String, column: String): Option[Verdict] =
      vs.find(v => v.check == check && v.column == column)
    for ((b, vs) <- byBatch.toSeq.sortBy(_._1)) {
      expect.get(b) match {
        case None => problems += s"batch $b has no expected counts"
        case Some(e) =>
          Seq(("uniqueness", "repo,path,commit", e.dup), ("referential", "repo,lang", e.ref),
              ("completeness", "path", e.missPath), ("sha256_invariant", "content", e.sha))
            .foreach { case (check, column, want) =>
              one(vs, check, column) match {
                case Some(v) if v.violation_count == want =>
                case Some(v) => problems += s"batch $b $check: ${v.violation_count} != $want"
                case None => problems += s"batch $b has no $check verdict"
              }
            }
      }
      val driftRows = Seq(("drift_chisq", "lang"), ("drift_psi", "lang"), ("drift_ks", "content_length"))
      if (b == drifted)
        driftRows.foreach { case (check, column) =>
          if (!one(vs, check, column).exists(!_.passed))
            problems += s"drifted batch $b passed $check($column)"
        }
      else if (b != Baseline)
        // KS is not asserted on undrifted batches: 5% false alarms at alpha = 0.05
        driftRows.take(2).foreach { case (check, column) =>
          if (!one(vs, check, column).exists(_.passed))
            problems += s"undrifted batch $b failed $check($column)"
        }
    }
    problems.result()
  }

  /** Audit monitor queries: the mega-repo must be reported hot and the KS
    * statistic between the two batches must exist and lie in [0, 1].
    */
  def audit(hot: Option[Seq[(String, Long, Long, Long)]], ksStat: Option[Double],
            megaRepo: String): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (!hot.exists(_.exists(_._1 == megaRepo))) problems += s"hotRepos misses $megaRepo"
    if (!ksStat.exists(d => d >= 0.0 && d <= 1.0)) problems += s"ksBetweenBatches gave $ksStat"
    problems.result()
  }

  /** Components output (id, rep) against the closed form: `expected(id)`
    * is the rep of node id, or -1 when id is in no edge.
    */
  def components(got: Array[(Long, Long)], expected: Array[Long]): Seq[String] = {
    val want = expected.count(_ >= 0)
    val problems = Seq.newBuilder[String]
    if (got.length != want) problems += s"${got.length} (id, rep) rows != $want nodes"
    var bad = 0L
    var first = ""
    val seen = new java.util.BitSet(expected.length)
    got.foreach { case (id, rep) =>
      val ok = id >= 0 && id < expected.length && expected(id.toInt) == rep && !seen.get(id.toInt)
      if (ok) seen.set(id.toInt)
      else { if (bad == 0) first = s"($id, $rep)"; bad += 1 }
    }
    if (bad > 0) problems += s"$bad wrong (id, rep) rows, first $first"
    problems.result()
  }
}

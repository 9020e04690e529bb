package graft

import graft.dedup.Contamination

/** Laws for benchmark-contamination detection: planted overlap is found,
  * disjoint vocabulary is clean, eval docs re-run as corpus are fully
  * contaminated, the threshold cuts, results are partitioning-invariant,
  * and the eval side rides a broadcast join (the corpus must never
  * shuffle against it).
  */
class ContaminationSpec extends GraftSpec {
  import spark.implicits._

  private val evalSet = Seq(
    (1000, "the quick brown fox jumps over the lazy dog"),
    (1001, "pack my box with five dozen liquor jugs")
  ).toDF("doc_id", "text")

  private val corpus = Seq(
    // contains eval 3-grams ("quick brown fox", "brown fox jumps", ...)
    (1, "I saw the quick brown fox jumps right past me"),
    // disjoint vocabulary — zero overlap
    (2, "completely unrelated sentences about spark partitions here"),
    // verbatim copy of an eval doc — every gram overlaps
    (3, "pack my box with five dozen liquor jugs"),
    // shares exactly one 3-gram ("five dozen liquor")
    (4, "we ordered five dozen liquor bottles yesterday evening")
  ).toDF("doc_id", "text")

  private def run(minOverlap: Int = 1) =
    Contamination.report(corpus, evalSet, "doc_id", "text",
      n = 3, minOverlap = minOverlap)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap

  test("planted overlap detected, disjoint docs clean, copies fully contaminated") {
    val m = run()
    assert(m(1)._2 > 0 && m(1)._3)
    assert(m(2)._2 === 0L && !m(2)._3)
    assert(m(3)._1 === m(3)._2 && m(3)._3)   // verbatim copy: all grams hit
    assert(m(4)._2 === 1L && m(4)._3)
  }

  test("minOverlap threshold separates single-gram overlap from heavier overlap") {
    val m = run(minOverlap = 2)
    assert(!m(4)._3)                          // exactly 1 shared gram → clean
    assert(m(1)._3 && m(3)._3)
  }

  test("eval docs run through as corpus are 100% contaminated") {
    val m = Contamination.report(evalSet, evalSet, "doc_id", "text", n = 3)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    m.values.foreach { case (tot, ov) => assert(tot === ov && tot > 0) }
  }

  test("partitioning invariance") {
    val base = Contamination.report(corpus, evalSet, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect().toSeq
    val reparted = Contamination.report(corpus.repartition(13), evalSet,
      "doc_id", "text", n = 3).orderBy("doc_id").collect().toSeq
    assert(base === reparted)
  }

  test("eval gram set rides a broadcast join — the corpus side never shuffles against it") {
    val df = Contamination.report(corpus, evalSet, "doc_id", "text", n = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled against eval:\n$plan")
  }
}

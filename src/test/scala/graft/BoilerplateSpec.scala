package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Laws for boilerplate n-gram detection: exactness vs a brute-force
  * count, per-document distinctness (repeats inside one doc don't count),
  * the epsilon guard, and empty results.
  */
class BoilerplateSpec extends GraftSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1, "the quick brown fox jumps"),
    (2, "the quick brown cat sleeps"),
    (3, "the quick brown dog barks"),
    (4, "a completely different sentence here"),
    // gram repeated INSIDE one doc — must count this doc once
    (5, "the quick brown then the quick brown again")
  ).toDF("doc_id", "text")

  test("shared grams found with exact distinct-document counts") {
    val m = Dedup.boilerplateNgrams(docs, "doc_id", "text", n = 3, minDocs = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("the quick brown") === 4L)       // docs 1,2,3,5 — doc 5 ONCE
    assert(!m.contains("quick brown fox"))    // only doc 1
  }

  test("equals the brute-force explode/groupBy on every gram") {
    val brute = docs
      .select(explode(Dedup.shingleStrings(col("text"), 3)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2)
      .orderBy("gram").collect().toSeq
    val sketched = Dedup.boilerplateNgrams(docs, "doc_id", "text",
      n = 3, minDocs = 2).orderBy("gram").collect().toSeq
    assert(sketched === brute)
  }

  test("no shared grams yields an empty result, not an error") {
    val d = Seq((1, "alpha beta gamma delta"), (2, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    assert(Dedup.boilerplateNgrams(d, "doc_id", "text", n = 3, minDocs = 2)
      .isEmpty)
  }

  test("error-bound guard trips loudly when the sketch purged past minDocs") {
    // a tiny map over many distinct grams purges, so getMaximumError
    // rises above minDocs — the operator must refuse instead of silently
    // dropping true positives
    val many = (0 until 300).map(i => (i, s"w$i x$i y$i z$i")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.boilerplateNgrams(many, "doc_id", "text", n = 3, minDocs = 2,
        maxMapSize = 8)
    }
    assert(e.getMessage.contains("error bound") && e.getMessage.contains("power of 2"))
    // the suggestion clears minDocs, and never exceeds Spark's item limit
    assert(Dedup.retryMapSize(maxErr = 100, maxMapSize = 1024, minDocs = 10) == 16384)
    assert(graft.stats.FreqSketch.itemsTracked(Dedup.retryMapSize(Long.MaxValue / 4, 8, 2)) <=
      graft.stats.FreqSketch.MaxItemsTracked)
  }
}

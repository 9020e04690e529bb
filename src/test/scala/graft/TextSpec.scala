package graft

import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class TextSpec extends GraftSpec {
  import spark.implicits._

  private def run1[T](text: String, c: org.apache.spark.sql.Column): T =
    Seq(text).toDF("t").select(c.as("x")).collect()(0).getAs[T]("x")

  test("token count: whitespace splitting with blank/edge cases") {
    assert(run1[Int]("the quick fox", TextAnalysis.tokenCount(col("t"))) == 3)
    assert(run1[Int]("  padded   spaces  ", TextAnalysis.tokenCount(col("t"))) == 2)
    assert(run1[Int]("", TextAnalysis.tokenCount(col("t"))) == 0)
    assert(run1[Int]("   ", TextAnalysis.tokenCount(col("t"))) == 0)
    assert(run1[Int]("one", TextAnalysis.tokenCount(col("t"))) == 1)
    // Spark's trim strips only U+0020, so these rows reach regexp_count,
    // whose \S treats tab, newline and vertical tab as whitespace: the
    // counts are the non-space runs, and whitespace-only text counts 0
    assert(run1[Int]("\tfoo bar", TextAnalysis.tokenCount(col("t"))) == 2)
    assert(run1[Int]("\t\n", TextAnalysis.tokenCount(col("t"))) == 0)
    assert(run1[Int]("\u000Bx", TextAnalysis.tokenCount(col("t"))) == 1)
  }

  test("subword count: ceil(len/4) per word") {
    // "internationalization"(20) → 5, "is"(2) → 1, "fun"(3) → 1
    assert(run1[Long]("internationalization is fun", TextAnalysis.subwordCount(col("t"))) == 7L)
    assert(run1[Long]("", TextAnalysis.subwordCount(col("t"))) == 0L)
    assert(run1[Long]("\tabcde", TextAnalysis.subwordCount(col("t"))) == 2L)
  }

  test("language ID heuristic: marker words and CJK detection") {
    assert(run1[String]("the cat and the dog is here", TextAnalysis.langId(col("t"))) == "en")
    assert(run1[String]("el perro que corre de los campos", TextAnalysis.langId(col("t"))) == "es")
    assert(run1[String]("der hund und die katze ist da", TextAnalysis.langId(col("t"))) == "de")
    assert(run1[String]("le chien et les chats des villes", TextAnalysis.langId(col("t"))) == "fr")
    assert(run1[String]("这是中文文本", TextAnalysis.langId(col("t"))) == "zh")
    assert(run1[String]("xyzzy plugh qwerty", TextAnalysis.langId(col("t"))) == "und")
  }

  test("fingerprint is invariant to case/punctuation/whitespace noise") {
    val a = run1[String]("Hello,   World! 42", TextAnalysis.fingerprint(col("t")))
    val b = run1[String]("hello world 42", TextAnalysis.fingerprint(col("t")))
    val c = run1[String]("hello world 43", TextAnalysis.fingerprint(col("t")))
    assert(a == b && a != c)
  }

  test("quality score stays in [0,1] and ranks clean text above junk") {
    val clean = "the quick brown fox jumps over the lazy dog and runs to the hills " * 3
    val junk = "!!! ??? ,,, ;;; ... !!!"
    val qc = run1[Double](clean, TextAnalysis.qualityScore(col("t")))
    val qj = run1[Double](junk, TextAnalysis.qualityScore(col("t")))
    assert(qc >= 0 && qc <= 1 && qj >= 0 && qj <= 1)
    assert(qc > qj)
  }
}

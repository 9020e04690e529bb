package graft

import graft.constraints.Constraints
import graft.gen.CodeTableGen
import org.apache.spark.sql.functions._

class ConstraintsSpec extends GraftSpec {
  lazy val marked = CodeTableGen.generateWithMarkers(spark, 20000).cache()
  lazy val code = marked.drop("m_dup", "m_bad_lang", "m_empty_path", "m_bad_sha", "m_unusual", "id")

  test("referential finds exactly the injected bad-lang rows") {
    val expected = marked.where(col("m_bad_lang")).count()
    val dim = CodeTableGen.repoLangDim(spark)
    val r = Constraints.referential(code, dim, Seq("repo", "lang"))
    assert(!r.passed && r.violationCount == expected)
  }
}

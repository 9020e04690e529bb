package graft

import graft.gen.CodeTableGen
import graft.suite.SuiteRunner
import graft.tableio.ParquetTableIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The schema law of `ParquetTableIO.readCommitted`: the read given the
  * recorded `_schema/` files has the same columns, by name and type, and
  * the same rows as Spark's `mergeSchema` inference over the committed
  * partitions, for every audit table the suite writes.
  */
class TableIOSpec extends GraftSpec {

  lazy val code = CodeTableGen.generate(spark, 8000, batches = 4).cache()
  lazy val dim = CodeTableGen.repoLangDim(spark)

  private val AuditTables = Seq("artifacts", "lineage", "repo_metrics", "sketches", "verdicts",
    "violations_completeness_path", "violations_referential", "violations_sha256_invariant",
    "violations_uniqueness")

  private def schemaFiles(root: String, table: String): Seq[Path] = {
    val dir = Path.of(root, table, "_schema")
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }
  }

  /** A value as a string, byte arrays and nested rows and collections
    * rendered element by element.
    */
  private def render(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(render).toSeq.sorted

  private def assertSchemaLaw(root: String): Unit = {
    val io = new ParquetTableIO(root)
    AuditTables.foreach { t =>
      val got = io.readCommitted(spark, t).get
      val parts = io.listCommitted(t).map(p => s"$root/$t/batch_id=$p")
      val inferred = spark.read.option("basePath", s"$root/$t").option("mergeSchema", "true")
        .parquet(parts: _*)
      def fields(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      assert(fields(got).sortBy(_._1) == fields(inferred).sortBy(_._1), t)
      if (schemaFiles(root, t).size <= 1) assert(fields(got) == fields(inferred), s"$t column order")
      assert(rows(got, inferred.columns.toSeq) == rows(inferred, inferred.columns.toSeq), t)
    }
  }

  test("schema law: fresh root") {
    withTempDir("graft_tableio") { root =>
      SuiteRunner.run(spark, code, dim, new ParquetTableIO(root))
      AuditTables.foreach(t => assert(schemaFiles(root, t).size == 1, t))
      assertSchemaLaw(root)
    }
  }

  test("schema law: two-call resume") {
    withTempDir("graft_tableio") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, io)
      SuiteRunner.run(spark, code, dim, io)
      assert(io.listCommitted("verdicts") == Seq(0L, 1L, 2L, 3L))
      assertSchemaLaw(root)
    }
  }

  test("schema law: baseline re-stamp through writePartition") {
    withTempDir("graft_tableio") { root =>
      val io = new ParquetTableIO(root)
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, io)
      io.commit("artifacts", 0L, """{"batch_id":0}""")
      SuiteRunner.run(spark, code.where(col("batch_id") <= 2), dim, io)
      assert(io.commitMeta("artifacts", 0L).exists(_.contains("\"suite\"")), "not re-stamped")
      // writePartition's frame lacks batch_id, so it records the same schema
      assert(schemaFiles(root, "artifacts").size == 1)
      assertSchemaLaw(root)
    }
  }

  test("schema law: legacy root without _schema, before and after a write") {
    withTempDir("graft_tableio") { root =>
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, new ParquetTableIO(root))
      AuditTables.foreach { t =>
        schemaFiles(root, t).foreach(Files.delete)
        Files.delete(Path.of(root, t, "_schema"))
      }
      assertSchemaLaw(root)
      SuiteRunner.run(spark, code, dim, new ParquetTableIO(root))
      AuditTables.foreach(t => assert(schemaFiles(root, t).nonEmpty, t))
      assertSchemaLaw(root)
    }
  }

  test("a recorded column the committed partitions lack reads as null") {
    import spark.implicits._
    withTempDir("graft_tableio") { root =>
      val io = new ParquetTableIO(root)
      io.writeAllPartitions(Seq((0L, 1L)).toDF("batch_id", "a"), "t")
      io.commit("t", 0L, "{}")
      // written, never committed: its schema is recorded, its rows unseen
      io.writeAllPartitions(Seq((1L, 2L, "x")).toDF("batch_id", "a", "b"), "t")
      val df = io.readCommitted(spark, "t").get
      assert(df.columns.toSeq == Seq("a", "b", "batch_id"))
      assert(df.collect().map(render).toSeq == Seq("(1,NULL,0)"))
    }
  }

  test("legacy table: the first write records the committed partitions' schema") {
    import spark.implicits._
    withTempDir("graft_tableio") { root =>
      val io = new ParquetTableIO(root)
      io.writeAllPartitions(Seq((0L, 1L, "old")).toDF("batch_id", "a", "gone"), "t")
      io.commit("t", 0L, "{}")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/t/_schema"))
      // the new write lacks `gone`: only the inferred record keeps it readable
      io.writeAllPartitions(Seq((1L, 2L, "x")).toDF("batch_id", "a", "b"), "t")
      io.commit("t", 1L, "{}")
      val df = io.readCommitted(spark, "t").get
      assert(df.columns.toSet == Set("a", "gone", "b", "batch_id"))
      assert(rows(df, Seq("a", "gone", "b", "batch_id")) == Seq("(1,old,NULL,0)", "(2,NULL,x,1)"))
    }
  }
}

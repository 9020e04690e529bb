package graft

import graft.gen.CodeTableGen
import graft.suite.SuiteRunner
import graft.tableio.{DriverFrames, ParquetTableIO, TableIO}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The laws of `ParquetTableIO`, for every audit table the suite writes.
  *  - Table-set law: a suite call on a fresh root leaves exactly the
  *    audit tables below plus `schema_baseline`, so a new table (or a
  *    second copy of a table's columns) is added on purpose.
  *  - Schema law: `readCommitted` given the recorded `_schema/` files has
  *    the same columns, by name and type, and the same rows as Spark's
  *    `mergeSchema` inference over the committed partitions.
  *  - Parity law: the driver-written partitions hold the same rows as
  *    Spark's own partitioned write of the same frames, one Parquet file
  *    each, with Spark's row-metadata footer key; a partition written with
  *    no rows has no directory.
  *  - Codegen law: a frame built by `DriverFrames.of`, written with
  *    `writeAllPartitions` and `writePartition` and opened again with
  *    `readCommitted` generates no class (`CodegenMetrics` compile count
  *    unchanged). Reading the rows back runs a Parquet scan, whose
  *    whole-stage class is compiled, so the collect of the read-back sits
  *    outside the count. The law pins classes that a suite call must not
  *    generate; it does not pin a warm call's compile count ("a warm call
  *    compiles ≤ 5 classes"), which depends on where the class loader's
  *    identity hash puts each class in Spark's segmented codegen cache, so
  *    such a spec would fail in a few JVMs out of a hundred.
  */
class TableIOSpec extends GraftSpec {

  lazy val code = CodeTableGen.generate(spark, 8000, batches = 4).cache()
  lazy val dim = CodeTableGen.repoLangDim(spark)

  private val AuditTables = Seq("artifacts", "lineage", "repo_metrics", "verdicts",
    "violations_completeness_path", "violations_referential", "violations_sha256_invariant",
    "violations_uniqueness")

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  private def schemaFiles(root: String, table: String): Seq[Path] =
    list(Path.of(root, table, "_schema"))

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

  test("table-set law: a fresh root holds exactly the audit tables and schema_baseline") {
    withTempDir("graft_tableio") { root =>
      SuiteRunner.run(spark, code, dim, new ParquetTableIO(root))
      val dirs = list(Path.of(root)).filter(Files.isDirectory(_)).map(_.getFileName.toString)
      assert(dirs.sorted == (AuditTables :+ "schema_baseline").sorted)
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

  test("a frame that is not a local relation is collected and written the same way") {
    withTempDir("graft_tableio") { root =>
      val io = new ParquetTableIO(root)
      io.writeAllPartitions(spark.range(5).select((col("id") % 2).as("batch_id"), col("id").as("a")), "t")
      io.writePartition(spark.range(7, 9).toDF("a"), "t", 2L)
      (0L to 2L).foreach(p => io.commit("t", p, "{}"))
      assert(list(Path.of(root, "t", "batch_id=0")).count(_.getFileName.toString.endsWith(".parquet")) == 1)
      assert(rows(io.readCommitted(spark, "t").get, Seq("batch_id", "a")) ==
        Seq("(0,0)", "(0,2)", "(0,4)", "(1,1)", "(1,3)", "(2,7)", "(2,8)"))
    }
  }

  test("codegen law: building, writing and opening a driver frame compiles no class") {
    // a column-type mix no other test writes, so no earlier test can have
    // put these classes in the codegen cache
    val rows = Seq(
      (0L, 1.toShort, 1.5f, Option(3), Seq(1.0, -2.0), Map(7L -> "x"), Array[Byte](1, 2), true),
      (1L, (-2).toShort, -0.5f, None, Seq.empty[Double], Map.empty[Long, String], Array.empty[Byte], false))
    withTempDir("graft_tableio") { root =>
      val io = new ParquetTableIO(root)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      def frame(rs: Seq[(Long, Short, Float, Option[Int], Seq[Double], Map[Long, String],
                         Array[Byte], Boolean)]) =
        DriverFrames.of(spark, rs, "batch_id", "s", "f", "o", "ds", "m", "b", "z")
      // no filter: a filter over local rows is evaluated by a generated predicate
      io.writeAllPartitions(frame(rows), "t")
      io.writePartition(frame(rows.take(1)).drop("batch_id"), "t", 2L)
      io.writePartition(frame(rows).limit(0).drop("batch_id"), "t", 1L)
      (0L to 2L).foreach(p => io.commit("t", p, "{}"))
      val back = io.readCommitted(spark, "t").get
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
      val got = DriverFrames.collect(back).sortBy(_.getAs[Int]("batch_id"))
      assert(got.map(render).toSeq ==
        Seq("(1,1.5,3,[1.0,-2.0],{7->x},0x0102,true,0)", "(1,1.5,3,[1.0,-2.0],{7->x},0x0102,true,2)"))
      assert(got.map(_.getAs[Int]("batch_id")).toSeq == Seq(0, 2), "rows carry their schema")
    }
  }

  test("a partition written with no rows keeps no directory and reads as no rows") {
    import spark.implicits._
    withTempDir("graft_tableio") { root =>
      val io = new ParquetTableIO(root)
      val df = Seq((0L, 1L), (1L, 2L)).toDF("batch_id", "a")
      io.writeAllPartitions(df, "t")
      (0L to 2L).foreach(p => io.commit("t", p, "{}"))
      io.writePartition(df.limit(0).drop("batch_id"), "t", 1L)
      io.writePartition(df.limit(0).drop("batch_id"), "t", 2L)
      assert(list(Path.of(root, "t")).map(_.getFileName.toString).sorted ==
        Seq("_manifest", "_schema", "batch_id=0"))
      assert(rows(io.readCommitted(spark, "t").get, Seq("batch_id", "a")) == Seq("(0,1)"))
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

  /** Spark's partitioned writer, as `ParquetTableIO` used it before it
    * wrote from the driver: the parity law's reference.
    */
  private class SparkWriterIO(root: String) extends ParquetTableIO(root) {
    override def writePartition(df: DataFrame, table: String, partition: Long): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$root/$table/batch_id=$partition")
    override def writeAllPartitions(df: DataFrame, table: String): Unit =
      df.write.partitionBy("batch_id").option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(s"$root/$table")
  }

  /** Hands every write and commit to both `io` and `ref`; reads from `io`. */
  private class TeeIO(io: TableIO, ref: TableIO) extends TableIO {
    override def writePartition(df: DataFrame, table: String, partition: Long): Unit = {
      io.writePartition(df, table, partition); ref.writePartition(df, table, partition)
    }
    override def writeAllPartitions(df: DataFrame, table: String): Unit = {
      io.writeAllPartitions(df, table); ref.writeAllPartitions(df, table)
    }
    override def commit(table: String, partition: Long, meta: String): Unit = {
      io.commit(table, partition, meta); ref.commit(table, partition, meta)
    }
    override def commitMeta(table: String, partition: Long): Option[String] =
      io.commitMeta(table, partition)
    override def listCommitted(table: String): Seq[Long] = io.listCommitted(table)
    override def readCommitted(spark: SparkSession, table: String): Option[DataFrame] =
      io.readCommitted(spark, table)
  }

  private def assertParityLaw(root: String, refRoot: String): Unit = {
    val io = new ParquetTableIO(root)
    val ref = new ParquetTableIO(refRoot)
    AuditTables.foreach { t =>
      val cols = ref.readCommitted(spark, t).get.columns.toSeq
      assert(rows(io.readCommitted(spark, t).get, cols) == rows(ref.readCommitted(spark, t).get, cols), t)
      val staged = list(Path.of(root, t)).map(_.getFileName.toString).filter(_.startsWith("_staging"))
      assert(staged.isEmpty, s"$t: staging left behind: $staged")
      io.listCommitted(t).foreach { p =>
        val dir = Path.of(root, t, s"batch_id=$p")
        val refDir = Path.of(refRoot, t, s"batch_id=$p")
        // a partition written with no rows keeps no directory here, where
        // Spark's write of an empty frame leaves one file with no rows
        if (!Files.isDirectory(dir))
          assert(!Files.isDirectory(refDir) || spark.read.parquet(refDir.toString).isEmpty, s"$t/$p")
        else {
          assert(Files.isDirectory(refDir), s"$t/$p")
          val plain = cols.filter(_ != "batch_id")
          assert(rows(spark.read.parquet(dir.toString), plain) ==
            rows(spark.read.parquet(refDir.toString), plain), s"$t/$p")
          val files = list(dir).filter(_.getFileName.toString.endsWith(".parquet"))
          assert(files.size == 1, s"$t/$p: $files")
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(files.head.toUri), new Configuration()))
          try assert(r.getFooter.getFileMetaData.getKeyValueMetaData
            .containsKey("org.apache.spark.sql.parquet.row.metadata"), s"$t/$p")
          finally r.close()
        }
      }
    }
  }

  /** File names, sizes and modification times under `root/<table>/batch_id=<p>`. */
  private def snapshot(root: String, keep: (String, Long) => Boolean): Seq[(String, Long, Long)] =
    AuditTables.flatMap { t =>
      list(Path.of(root, t)).filter { d =>
        val n = d.getFileName.toString
        n.startsWith("batch_id=") && keep(t, n.stripPrefix("batch_id=").toLong)
      }.flatMap(list).map(f => (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis))
    }.sorted

  test("parity law: fresh root") {
    withTempDir("graft_tableio") { root => withTempDir("graft_tableio_ref") { refRoot =>
      SuiteRunner.run(spark, code, dim, new TeeIO(new ParquetTableIO(root), new SparkWriterIO(refRoot)))
      assertParityLaw(root, refRoot)
    } }
  }

  test("parity law: baseline re-stamp through writePartition; partitions not written stay untouched") {
    withTempDir("graft_tableio") { root => withTempDir("graft_tableio_ref") { refRoot =>
      val io = new TeeIO(new ParquetTableIO(root), new SparkWriterIO(refRoot))
      SuiteRunner.run(spark, code.where(col("batch_id") < 2), dim, io)
      io.commit("artifacts", 0L, """{"batch_id":0}""")
      // the next call writes batch 2 everywhere and re-stamps artifacts/batch_id=0
      val stamped = (t: String, p: Long) => t == "artifacts" && p == 0L
      val untouched = (t: String, p: Long) => p < 2 && !stamped(t, p)
      val (before, oldStamp) = (snapshot(root, untouched), snapshot(root, stamped))
      SuiteRunner.run(spark, code.where(col("batch_id") <= 2), dim, io)
      assert(io.commitMeta("artifacts", 0L).exists(_.contains("\"suite\"")), "not re-stamped")
      assert(snapshot(root, untouched) == before)
      assert(snapshot(root, stamped) != oldStamp, "artifacts/batch_id=0 not rewritten")
      assertParityLaw(root, refRoot)
    } }
  }
}

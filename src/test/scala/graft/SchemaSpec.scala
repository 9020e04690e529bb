package graft

import graft.gen.CodeTableGen
import graft.suite.{Alerts, SchemaCheck, SuiteRunner}
import graft.tableio.ParquetTableIO
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Laws for the pre-flight schema gate: the diff semantics (order-
  * insensitive, asymmetric nullability, nested types), the committed
  * baseline lifecycle (first-scan pin, version gate), and the suite
  * end-to-end (a drifted-schema run fails its `schema` verdict row and
  * fires the critical alert while content checks still run).
  */
class SchemaSpec extends GraftSpec {
  import SchemaCheck.diff

  private val base = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("score", DoubleType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("k", StringType), StructField("v", IntegerType))))))

  test("identical schemas diff empty — column order is not drift") {
    assert(diff(base, base).isEmpty)
    val reordered = StructType(base.fields.reverse)
    assert(diff(base, reordered).isEmpty)
  }

  test("each issue kind is detected, deterministically ordered") {
    val cur = StructType(Seq(
      StructField("id", LongType, nullable = true),          // relaxed
      StructField("score", StringType, nullable = false),    // retyped
      StructField("extra", DateType),                        // new
      StructField("meta", StructType(Seq(                    // nested retype
        StructField("k", StringType), StructField("v", LongType))))))
    val issues = diff(base, cur)
    assert(issues.map(i => (i.column, i.issue)) == Seq(
      ("extra", "new_column"),
      ("id", "nullability_relaxed"),
      ("lang", "missing_column"),
      ("meta", "type_changed"),
      ("score", "type_changed")))
    // the finding carries both sides for actionability
    val sc = issues.find(_.column == "score").get
    assert(sc.baseline == "double" && sc.current == "string")
  }

  test("nullability tightening is silent; relaxation inside nested types is not a top-level type change") {
    val tightened = StructType(base.fields.map {
      case f if f.name == "lang" => f.copy(nullable = false)
      case f => f
    })
    assert(diff(base, tightened).isEmpty)
    // sameType ignores nullability recursively: flipping meta.v's
    // nullability alone is NOT drift
    val nestedNullable = StructType(base.fields.map {
      case f if f.name == "meta" => f.copy(dataType = StructType(Seq(
        StructField("k", StringType), StructField("v", IntegerType, nullable = false))))
      case f => f
    })
    assert(diff(base, nestedNullable).isEmpty)
  }

  test("duplicate column names are flagged, not silently merged") {
    val dup = StructType(base.fields :+ StructField("ID", StringType))
    val issues = diff(base, dup)
    assert(issues.exists(i => i.issue == "duplicate_column" && i.current != "-"))
  }

  test("committed baseline: first-scan pin, reload, version-gate re-pin") {
    withTempDir("graft_schema_pin") { d =>
      val io = new ParquetTableIO(d)
      assert(SchemaCheck.preflight(io, base).isEmpty) // pins
      assert(SchemaCheck.committed(io).contains(base))
      val drifted = StructType(base.fields.filterNot(_.name == "lang"))
      val issues = SchemaCheck.preflight(io, drifted)
      assert(issues.map(_.issue) == Seq("missing_column"))
      // an old-wire-format manifest is rejected and the current schema
      // re-pinned (the S15 recovery), not mis-parsed
      io.commit("schema_baseline", 0L, """{"suite":"graft-0.1","schema":{"bogus":1}}""")
      assert(SchemaCheck.committed(io).isEmpty)
      assert(SchemaCheck.preflight(io, drifted).isEmpty) // re-pin
      assert(SchemaCheck.committed(io).contains(drifted))
    }
  }

  test("suite end-to-end: drifted second run fails `schema`, content checks still run, alert fires") {
    withTempDir("graft_schema_suite") { d =>
      val io = new ParquetTableIO(d)
      val dim = CodeTableGen.repoLangDim(spark)
      val code = CodeTableGen.generate(spark, 8000, batches = 2)
      val first = SuiteRunner.run(spark, code, dim, io)
      assert(first.filter(_.check == "schema").forall(_.passed)) // pinning run
      // second run: new batches arrive with an extra column — compatibility
      // drift the content checks don't see but the schema gate must
      val drifted = code.withColumn("batch_id", col("batch_id") + 2)
        .withColumn("injected", lit("surprise"))
      val second = SuiteRunner.run(spark, drifted, dim, io)
      val schemaRows = second.filter(_.check == "schema")
      assert(schemaRows.nonEmpty && schemaRows.forall(v =>
        !v.passed && v.violation_count == 1))
      // content verdicts still computed for the drifted run
      assert(second.exists(_.check == "uniqueness"))
      // and the rule engine escalates it as critical
      import spark.implicits._
      val alerts = Alerts.evaluate(second.toDF())
        .where(col("check") === "schema").collect()
      assert(alerts.nonEmpty && alerts.forall(_.getAs[String]("severity") == "critical"))
    }
  }
}

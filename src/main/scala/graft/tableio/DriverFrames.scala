package graft.tableio

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import scala.reflect.runtime.universe.TypeTag

/** Driver-side frames and collects that generate no code.
  *
  * `Seq(...).toDF()` compiles one `UnsafeProjection` serializer per row
  * type, and `Dataset.collect()` one `SafeProjection` deserializer per
  * result schema. Spark keeps generated classes in a cache keyed on the
  * class loader and the code (Guava, 4 segments of 25 entries each, so
  * one segment can overflow long before 100 classes), and a suite call
  * plus its monitor generate close to that many; every class these two
  * helpers do not make is one fewer that can evict another. Both use
  * Spark's interpreted `CatalystTypeConverters` instead.
  */
object DriverFrames {

  /** A local frame of `rows`, with the columns of `rows.toDF(names: _*)`:
    * the same types and nullability, but `SparkSession.createDataFrame`
    * converts the rows with Spark's interpreted `CatalystTypeConverters`,
    * where `toDF` compiles the row type's encoder. Its optimized plan is a
    * `LocalRelation` (a column rename or drop on top is folded into it
    * without generated code), so [[ParquetTableIO]] writes its rows as they
    * are.
    */
  def of[T <: Product : TypeTag](spark: SparkSession, rows: Seq[T], names: String*): DataFrame = {
    val df = spark.createDataFrame(rows)
    if (names.isEmpty) df else df.toDF(names: _*)
  }

  /** `df.collect()`, by the physical plan's own collect: the same rows,
    * each carrying its schema, and the same SQL execution around the jobs.
    */
  def collect(df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollectPublic())
  }
}

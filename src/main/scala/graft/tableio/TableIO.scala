package graft.tableio

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Storage seam. The north rule targets Iceberg tables; no Iceberg runtime
  * jar exists in this sandbox (verified, SURVEY.md §7.1), so the default
  * binding is partitioned Parquet + an explicit commit manifest that
  * emulates the two Iceberg properties the engine relies on:
  *  - atomic per-partition commit (write data, then atomically publish a
  *    manifest marker — rename is atomic on a local/HDFS-like FS);
  *  - snapshot listing of committed partitions for resume.
  * A production Iceberg binding is a drop-in: `spark.read.format("iceberg")`
  * + MERGE INTO the audit table; engine logic never touches paths directly.
  */
trait TableIO {
  def writePartition(df: DataFrame, table: String, partition: Long): Unit
  /** Write every partition present in `df` (which carries a `batch_id`
    * column) in ONE job, dynamically overwriting only those partitions —
    * the constant-job-count path the suite uses for all its outputs.
    */
  def writeAllPartitions(df: DataFrame, table: String): Unit
  def commit(table: String, partition: Long, meta: String): Unit
  /** The meta string recorded by [[commit]] for a partition, if committed —
    * consumers use it to version-gate reloaded snapshots (a wire-format
    * change in a persisted artifact must not be parsed by a newer reader).
    */
  def commitMeta(table: String, partition: Long): Option[String]
  def listCommitted(table: String): Seq[Long]
  def isCommitted(table: String, partition: Long): Boolean =
    listCommitted(table).contains(partition)
  def readCommitted(spark: SparkSession, table: String): Option[DataFrame]
}

/** Parquet + manifest-file implementation rooted at `root`. Layout:
  *   root/<table>/batch_id=<p>/  (parquet data, overwrite-idempotent)
  *   root/<table>/_manifest/p<p>.json        (commit marker, written last)
  */
class ParquetTableIO(root: String) extends TableIO {
  private def tableDir(t: String) = s"$root/$t"
  private def partDir(t: String, p: Long) = s"${tableDir(t)}/batch_id=$p"
  private def manifestDir(t: String) = Paths.get(tableDir(t), "_manifest")

  override def writePartition(df: DataFrame, table: String, partition: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(partDir(table, partition))

  override def writeAllPartitions(df: DataFrame, table: String): Unit =
    df.write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(tableDir(table))

  override def commit(table: String, partition: Long, meta: String): Unit = {
    Files.createDirectories(manifestDir(table))
    val tmp = manifestDir(table).resolve(s".p$partition.json.tmp")
    Files.writeString(tmp, meta)
    Files.move(tmp, manifestDir(table).resolve(s"p$partition.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  override def commitMeta(table: String, partition: Long): Option[String] = {
    val f = manifestDir(table).resolve(s"p$partition.json")
    if (Files.isRegularFile(f)) Some(Files.readString(f)) else None
  }

  override def listCommitted(table: String): Seq[Long] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val it = Files.list(dir).iterator()
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.startsWith("p") && n.endsWith(".json"))
          out += n.stripPrefix("p").stripSuffix(".json").toLong
      }
      out.toSeq.sorted
    }
  }

  /** Read only COMMITTED partitions (uncommitted data dirs are invisible —
    * the snapshot-isolation property resume depends on). The schema is the
    * union of every partition's: partitions committed by different suite
    * versions may carry different columns, and a column missing from a
    * partition reads as null there (without the merge, the first file's
    * schema would hide every newer column). The schema read is one job
    * either way; the merge reads every partition's footer in it.
    */
  override def readCommitted(spark: SparkSession, table: String): Option[DataFrame] = {
    val parts = listCommitted(table).map(partDir(table, _))
      .filter(p => Files.isDirectory(Paths.get(p)))
    if (parts.isEmpty) None
    else Some(spark.read.option("basePath", tableDir(table)).option("mergeSchema", "true")
      .parquet(parts: _*))
  }
}

package graft.tableio

import org.apache.commons.io.FileUtils
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.security.MessageDigest
import java.util.UUID
import scala.jdk.CollectionConverters._

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
    * column), overwriting only those partitions. It starts no job: audit
    * frames are driver-sized.
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
  *   root/<table>/batch_id=<p>/part-*.parquet  (one file per write, overwrite-idempotent)
  *   root/<table>/_schema/<sha256>.json  (a written data schema, written first)
  *   root/<table>/_staging-<uuid>/       (one write's files until they move into place)
  *   root/<table>/_manifest/p<p>.json        (commit marker, written last)
  * A write takes the frame's rows on the driver (the suite's audit frames
  * are local relations: their rows are taken as they are, no Spark job
  * starts and no code is generated) and writes one file per partition
  * with Spark's own Parquet writer, the code a write task runs: the same
  * footers, compression and row-metadata key. Each
  * file is written under the write's staging directory and forced to disk;
  * then each staged `batch_id=<p>` directory is renamed into place, the old
  * one moved aside first (and moved back if the new one cannot be), the
  * table directory is forced to disk, and the staging directory is
  * deleted. A partition written with no rows keeps no directory, as a
  * batch a partitioned Spark write never saw: its old directory is removed,
  * and [[readCommitted]] reads it as no rows. No `_SUCCESS` file is
  * written: the manifest is the commit record. A file's entry in its
  * partition directory is not forced on its own: the file system is
  * relied on to journal that entry before the later rename (ext4 and XFS
  * do).
  * Every write records its data schema (the columns minus `batch_id`) as
  * JSON under `_schema/`, named by the JSON's SHA-256, before the data
  * write starts: identical schemas share one file, and a reader learns the
  * table's columns without touching a data file. Spark never lists the
  * `_`-prefixed directories, and a write replaces only `batch_id=<p>`
  * directories.
  */
class ParquetTableIO(root: String) extends TableIO {
  private def tableDir(t: String) = s"$root/$t"
  private def partDir(t: String, p: Long) = s"${tableDir(t)}/batch_id=$p"
  private def manifestDir(t: String) = Paths.get(tableDir(t), "_manifest")
  private def schemaDir(t: String) = Paths.get(tableDir(t), "_schema")

  override def writePartition(df: DataFrame, table: String, partition: Long): Unit = {
    recordSchema(df.sparkSession, table, df.schema)
    writeFiles(df.sparkSession, table, df.schema, Map(partition -> rowsOf(df)))
  }

  override def writeAllPartitions(df: DataFrame, table: String): Unit = {
    recordSchema(df.sparkSession, table, df.schema)
    val fields = df.schema.fields
    val p = df.schema.fieldIndex("batch_id")
    val data = fields.indices.filterNot(_ == p)
    val parts = rowsOf(df).groupBy { r =>
      require(!r.isNullAt(p), s"$table: a row with a null batch_id")
      r.get(p, fields(p).dataType).asInstanceOf[Number].longValue
    }.map { case (b, rows) =>
      b -> rows.map(r => new GenericInternalRow(data.map(i => r.get(i, fields(i).dataType)).toArray))
    }
    writeFiles(df.sparkSession, table, StructType(data.map(fields)), parts)
  }

  /** The frame's rows. A frame whose optimized plan is a `LocalRelation`
    * (every driver-built audit frame: [[DriverFrames.of]], and the empty
    * or column-dropped frames derived from it) hands over its rows as they
    * are: no physical plan, no job, no generated class. Any other frame is
    * collected by its physical plan, which generates code and, unless it
    * scans only local rows, runs a Spark job.
    */
  private def rowsOf(df: DataFrame): Seq[InternalRow] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation => l.data
    case _ => df.queryExecution.executedPlan.executeCollect().toSeq
  }

  /** Writes each partition's rows to one Parquet file with Spark's own
    * writer under a staging directory of the table, forces every file to
    * disk, then moves each partition directory into place, replacing the
    * old one, and forces the table directory. A partition with no rows
    * gets no file: its old directory is only removed.
    */
  private def writeFiles(spark: SparkSession, table: String, dataSchema: StructType,
                         parts: Map[Long, Seq[InternalRow]]): Unit = {
    val stage = Paths.get(tableDir(table), s"_staging-${UUID.randomUUID()}")
    try {
      val nonEmpty = parts.filter(_._2.nonEmpty)
      if (nonEmpty.nonEmpty) {
        val job = Job.getInstance(spark.sessionState.newHadoopConf())
        val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
        val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
        nonEmpty.foreach { case (p, rows) =>
          // made here, not by Hadoop's local file system, which forks a
          // `chmod` per directory it creates when its native library is absent
          val dir = Files.createDirectories(stage.resolve(s"batch_id=$p"))
          val file = dir.resolve(s"part-00000-${UUID.randomUUID()}.c000${factory.getFileExtension(ctx)}")
          val w = factory.newInstance(file.toUri.toString, dataSchema, ctx)
          try rows.foreach(w.write) finally w.close()
          force(file)
        }
      }
      var moved = false
      parts.keys.foreach { p =>
        val dst = Paths.get(partDir(table, p))
        val old = stage.resolve(s"replaced-$p")
        if (Files.exists(dst)) {
          Files.createDirectories(stage)
          Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
          moved = true
        }
        if (nonEmpty.contains(p)) {
          try Files.move(stage.resolve(s"batch_id=$p"), dst, StandardCopyOption.ATOMIC_MOVE)
          catch {
            case e: Throwable =>
              if (Files.exists(old)) Files.move(old, dst, StandardCopyOption.ATOMIC_MOVE)
              throw e
          }
          moved = true
        }
      }
      if (moved) force(Paths.get(tableDir(table)))
    } finally FileUtils.deleteDirectory(stage.toFile)
  }

  /** Forces a file, or a directory's entries, to disk. */
  private def force(path: Path): Unit = {
    val ch = FileChannel.open(path, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  override def commit(table: String, partition: Long, meta: String): Unit =
    publish(manifestDir(table), s"p$partition.json", meta)

  /** Writes `content` to a tmp file of its own, forces it to disk, then
    * atomically renames it to `name`: a reader sees the whole file or none,
    * also after a crash.
    */
  private def publish(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.${UUID.randomUUID()}.tmp")
    val ch = FileChannel.open(tmp, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(ByteBuffer.wrap(content.getBytes(StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Records `schema` minus `batch_id`, create-if-absent. A table written
    * before schemas were recorded (committed partitions, no record) first
    * gets the merged schema inferred from those partitions, one inference
    * job per table, once, so its reads stay complete from then on.
    */
  private def recordSchema(spark: SparkSession, table: String, schema: StructType): Unit = {
    def put(s: StructType): Unit = {
      val json = StructType(s.filterNot(_.name == "batch_id")).json
      val name = MessageDigest.getInstance("SHA-256")
        .digest(json.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString + ".json"
      if (!Files.exists(schemaDir(table).resolve(name)))
        publish(schemaDir(table), name, json)
    }
    if (schemaFiles(table).isEmpty) readCommitted(spark, table).foreach(df => put(df.schema))
    put(schema)
  }

  private def schemaFiles(table: String): Seq[Path] = {
    val dir = schemaDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
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
    * partition reads as null there. It comes from the recorded `_schema/`
    * files, merged by name in file-name order, so the read starts no Spark
    * job; `batch_id` is still inferred from the paths. A recorded schema
    * whose write never committed only adds columns that read as null. A
    * table with no record (written before schemas were recorded) infers
    * the merged schema from the partitions' footers, one job per read,
    * until its next write records it.
    */
  override def readCommitted(spark: SparkSession, table: String): Option[DataFrame] = {
    val parts = listCommitted(table).map(partDir(table, _))
      .filter(p => Files.isDirectory(Paths.get(p)))
    if (parts.isEmpty) None
    else {
      val recorded = schemaFiles(table)
        .map(f => DataType.fromJson(Files.readString(f)).asInstanceOf[StructType])
        .reduceOption(SchemaBridge.merge)
      val reader = recorded.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)
      Some(reader.option("basePath", tableDir(table)).parquet(parts: _*))
    }
  }
}

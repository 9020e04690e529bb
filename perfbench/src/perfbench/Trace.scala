package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tableio.TableIO

/** One traced interval. `parent` is the span that was open on the calling
  * thread (0 at the top); `call` groups every span of one timed step.
  */
final case class Span(id: Long, name: String, parent: Long, call: Long,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans live in memory until the run ends. The open span's
  * id rides the Spark local property [[Tracer.Key]], so every job a span
  * starts (on its own thread, or on a pool thread created inside it) is
  * tagged with it and [[JobListener]] can attribute the job's work.
  */
final class Tracer(sc: SparkContext) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  @volatile var call: Long = 0L

  def span[A](name: String)(f: => A): A = {
    val prev = sc.getLocalProperty(Tracer.Key)
    val id = ids.incrementAndGet()
    val parent = Option(prev).map(_.toLong).getOrElse(0L)
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.Key, id.toString)
    try f
    finally {
      val s = Span(id, name, parent, call, t0, System.nanoTime(), ms0, System.currentTimeMillis())
      sc.setLocalProperty(Tracer.Key, prev)
      done.synchronized { done += s }
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

object Tracer {
  val Key = "perfbench.span"

  /** Seconds covered by the union of the intervals (the blocking time of
    * spans that overlap on a writer pool).
    */
  def unionSeconds(spans: Seq[Span]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_.startNs).foreach { s =>
      if (s.startNs > curE) {
        if (curE > curS) total += curE - curS
        curS = s.startNs; curE = s.endNs
      } else if (s.endNs > curE) curE = s.endNs
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }
}

/** [[TableIO]] decorator: one span per call, named `tableio.<kind>`. */
final class TracedTableIO(inner: TableIO, tracer: Tracer) extends TableIO {
  override def writePartition(df: DataFrame, table: String, partition: Long): Unit =
    tracer.span("tableio.write")(inner.writePartition(df, table, partition))
  override def writeAllPartitions(df: DataFrame, table: String): Unit =
    tracer.span("tableio.write")(inner.writeAllPartitions(df, table))
  override def commit(table: String, partition: Long, meta: String): Unit =
    tracer.span("tableio.commit")(inner.commit(table, partition, meta))
  override def commitMeta(table: String, partition: Long): Option[String] =
    tracer.span("tableio.meta")(inner.commitMeta(table, partition))
  override def listCommitted(table: String): Seq[Long] =
    tracer.span("tableio.meta")(inner.listCommitted(table))
  override def readCommitted(spark: SparkSession, table: String): Option[DataFrame] =
    tracer.span("tableio.read")(inner.readCommitted(spark, table))
}

/** Summed task and stage metrics of the jobs attributed to one span. */
final class Counters {
  var jobs = 0L; val jobStartMs = mutable.ArrayBuffer.empty[Long]
  var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var schedMs = 0L
  var inputB = 0L; var shufWriteB = 0L; var shufReadB = 0L; var spillB = 0L
  var peakMemB = 0L; var outB = 0L; var outRecords = 0L
  /** (stage wall ms, task durations) per completed stage, for skew. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.Map.empty[Int, Long]

  def add(o: Counters): Unit = {
    jobs += o.jobs; jobStartMs ++= o.jobStartMs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; schedMs += o.schedMs
    inputB += o.inputB; shufWriteB += o.shufWriteB; shufReadB += o.shufReadB
    spillB += o.spillB; peakMemB = math.max(peakMemB, o.peakMemB)
    outB += o.outB; outRecords += o.outRecords
    o.stageTasks.foreach { case (k, v) => stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    stageWallMs ++= o.stageWallMs
  }

  /** max / median task time in the stage with the longest wall time. */
  def skew: Double =
    if (stageWallMs.isEmpty) 0.0
    else {
      val longest = stageWallMs.maxBy(_._2)._1
      val ds = stageTasks.getOrElse(longest, mutable.ArrayBuffer.empty[Long]).sorted
      if (ds.isEmpty) 0.0 else ds.last.toDouble / math.max(1L, ds(ds.size / 2))
    }
}

/** Attributes every job, stage and task to the span whose id the job's
  * local properties carry (0 when none was open).
  */
final class JobListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.Map.empty[Long, Counters]

  private def spanOf(p: Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toLong).getOrElse(0L)
  private def c(span: Long): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = spanOf(e.properties)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, sp))
    val k = c(sp); k.jobs += 1; k.jobStartMs += e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val k = c(stageSpan.getOrElse(info.stageId, 0L))
    k.stages += 1
    for (s <- info.submissionTime; f <- info.completionTime)
      k.stageWallMs(info.stageId) = f - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageSpan.getOrElse(e.stageId, 0L))
    k.tasks += 1
    val m = e.taskMetrics
    val ti = e.taskInfo
    k.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ti.duration
    if (m != null) {
      k.cpuNs += m.executorCpuTime
      k.runMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.schedMs += math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      k.inputB += m.inputMetrics.bytesRead
      k.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      k.shufReadB += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      k.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      k.peakMemB = math.max(k.peakMemB, m.peakExecutionMemory)
      k.outB += m.outputMetrics.bytesWritten
      k.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Sum of the counters of `spans`, after every queued event is handled. */
  def sum(sc: SparkContext, spans: Iterable[Long]): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = new Counters
      spans.foreach(s => bySpan.get(s).foreach(out.add))
      out
    }
  }

  /** Start times (epoch ms) of every job seen so far, whatever its span. */
  def allJobStarts(sc: SparkContext): Seq[Long] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(bySpan.values.flatMap(_.jobStartMs).toList)
  }
}

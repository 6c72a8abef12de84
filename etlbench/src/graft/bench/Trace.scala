package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.extract.{CatalogEntry, EntitySource}

/** The `file` FileSystem with per-operation counters. Installed as
  * `fs.file.impl` in traced runs only; it subclasses the stock
  * `LocalFileSystem`, so the scheme, the `FileContext` binding and every
  * code path stay the ones an untraced run takes. Only operations on
  * paths under [[CountingFs.sinkRoot]] (the benchmark's output tree)
  * are counted: input scans are not sink work.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingFs._

  private def timed[T](kind: String, p: Path)(body: => T): T =
    if (!counts(p)) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        nanos.addAndGet(System.nanoTime() - t0)
        counter(kind).incrementAndGet()
      }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    timed("create", f) {
      if (counts(f) && isDataFile(f)) counter("files_created").incrementAndGet()
      super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress)
    }

  override def rename(src: Path, dst: Path): Boolean =
    timed("rename", src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    timed("delete", f)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    timed("list", f)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    timed("list", f)(super.listLocatedStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    timed("status", f)(super.getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed("open", f) {
      if (counts(f) && isDataFile(f) && fromMetadataSink())
        counter("footer_reads").incrementAndGet()
      super.open(f, bufferSize)
    }
}

object CountingFs {
  val Kinds: Seq[String] = Seq("create", "rename", "delete", "list", "open",
    "status", "files_created", "footer_reads")
  private val counters: Map[String, AtomicLong] =
    Kinds.map(_ -> new AtomicLong).toMap
  val nanos = new AtomicLong

  /** Absolute path prefix whose operations are counted; empty counts none. */
  @volatile var sinkRoot: String = ""

  def counter(kind: String): AtomicLong = counters(kind)

  def counts(p: Path): Boolean = {
    val root = sinkRoot
    root.nonEmpty && p.toUri.getPath.startsWith(root)
  }

  /** Parquet fragments and `_metadata` summaries. */
  def isDataFile(p: Path): Boolean = {
    val n = p.getName
    n == "_metadata" || (n.endsWith(".parquet") && !n.startsWith("."))
  }

  private val walker = StackWalker.getInstance()
  def fromMetadataSink(): Boolean =
    walker.walk(s => s.anyMatch(f => f.getClassName.startsWith("graft.extract.MetadataSink")))

  def snapshot(): Map[String, Double] =
    counters.map { case (k, v) => k -> v.get.toDouble } +
      ("fs_s" -> nanos.get / 1e9)

  def reset(): Unit = { counters.values.foreach(_.set(0)); nanos.set(0) }
}

/** Entity source decorator that times the catalog and column-type reads
  * (the driver-side collects an incremental run pays every tick).
  */
final class TimedSource(inner: EntitySource, spans: Spans) extends EntitySource {
  override def catalog(spark: SparkSession): Map[String, CatalogEntry] =
    spans.record("sources.catalog")(inner.catalog(spark))
  override def tableNames(spark: SparkSession, schema: String): Seq[String] =
    inner.tableNames(spark, schema)
  override def columnTypes(spark: SparkSession, schema: String,
      table: String): Map[String, String] =
    spans.record("sources.column_types")(inner.columnTypes(spark, schema, table))
  override def scanRange(spark: SparkSession, schema: String, table: String,
      start: Long, end: Long): DataFrame =
    inner.scanRange(spark, schema, table, start, end)
}

/** In-memory spans: name, start, end and the span that caused it. Every
  * span recorded while an op is open gets that op as its parent (layer
  * calls may run on the pipelines' own driver threads). Written out
  * once, when the benchmark ends.
  */
final class Spans(enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong
  @volatile private var openOp = -1
  @volatile private var lastOp = -1

  def record[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet().toInt
      val parent = if (name == "op") -1 else openOp
      if (name == "op") openOp = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        if (name == "op") { openOp = -1; lastOp = id }
        done.synchronized(done += Span(id, parent, name, t0, t1))
      }
    }

  def all: Seq[Span] = done.synchronized(done.toList)

  /** Seconds spent in each named child span of the last closed op, as
    * `<name>_s`.
    */
  def lastOpChildren: Map[String, Double] = {
    val op = lastOp
    all.filter(s => s.parent == op && op >= 0).groupBy(_.name).map {
      case (n, ss) => s"${n}_s" -> ss.map(s => (s.end - s.start) / 1e9).sum
    }
  }

  /** Per span name, the summed self time: duration minus the union of
    * the intervals its children cover.
    */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Intervals.unionLength(
          kids.getOrElse(s.id, Nil).map(c => (c.start.max(s.start), c.end.min(s.end))))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark engine listener: jobs with their call-site layer, stage and task
  * totals. Callbacks arrive on the listener-bus thread; readers call
  * [[org.apache.spark.EtlBenchBus.drain]] first.
  */
final class JobTracker extends SparkListener {
  final case class Job(id: Int, layer: String, start: Long, var end: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val sqlSites = mutable.Map.empty[Long, String]

  /** SQL executions carry the call site of the thread that started them;
    * their jobs may run on exchange threads with no user frames.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(sqlSites(s.executionId) = s.details)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val sqlSite = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(prop).flatMap(id => sqlSites.get(id.toLong))
    val site = (sqlSite ++ e.stageInfos.map(_.details)).mkString("\n")
    val phase = prop(JobTracker.PhaseKey)
    jobs(e.jobId) = Job(e.jobId, JobTracker.layerOf(site, phase), e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals("stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    totals("tasks") += 1
    if (!e.taskInfo.successful) totals("tasks_failed") += 1
    totals("task_s") += e.taskInfo.duration / 1e3
    Option(e.taskMetrics).foreach { m =>
      totals("gc_s") += m.jvmGCTime / 1e3
      totals("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      totals("spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      totals("records_read") += m.inputMetrics.recordsRead.toDouble
      totals("input_bytes") += m.inputMetrics.bytesRead.toDouble
    }
  }

  def snapshot(): Map[String, Double] = synchronized(totals.toMap)

  /** Jobs that started inside `[t0, t1]` (epoch millis). */
  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= t0 && j.start <= t1)
      .map(_.copy()).toList
  }
}

object JobTracker {
  val PhaseKey = "etlbench.phase"

  /** Module files, by the layer the benchmark reports them under. */
  private val fileLayer: Seq[(String, String)] = Seq(
    "EntitySource.scala" -> "sources", "Tables.scala" -> "sources",
    "Transforms.scala" -> "functions", "Uint256.scala" -> "functions",
    "Partitioner.scala" -> "plans", "Watermark.scala" -> "plans",
    "ExtractPipeline.scala" -> "extract", "IngestionPipeline.scala" -> "extract",
    "BulkWriter.scala" -> "sinks", "MetadataSink.scala" -> "sinks",
    "Fs.scala" -> "sinks", "Metrics.scala" -> "sinks")

  private val Frame = """\((\w+\.scala):\d+\)""".r

  /** The layer of the innermost repository frame of a call site. Jobs
    * launched from the benchmark's own files (the noop sink of a query)
    * take the layer of the benchmark phase that launched them.
    */
  def layerOf(callSite: String, phase: Option[String]): String =
    callSite.linesIterator
      .filterNot(_.contains("graft.bench."))
      .filter(_.contains("graft."))
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .map { f =>
        fileLayer.collectFirst { case (n, layer) if n == f => layer }
          .getOrElse(if (isOperator(f)) "operators" else "other")
      }
      .nextOption()
      .orElse(phase)
      .getOrElse("other")

  private def isOperator(file: String): Boolean = Set("Dedup.scala",
    "Similarity.scala", "Curation.scala", "TextAnalysis.scala",
    "TrainingPrep.scala", "Multimodal.scala", "EventAnalytics.scala",
    "ParityQueries.scala", "PlannerQueries.scala",
    "RelationalShapes.scala").contains(file)
}

/** Order-insensitive content fingerprint of a frame: row count plus the
  * sum of per-row 64-bit hashes (a multiset hash: duplicates add up
  * instead of cancelling).
  */
object Fingerprint {
  import org.apache.spark.sql.functions._

  def of(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

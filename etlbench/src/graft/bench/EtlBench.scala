package graft.bench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.extract.{ExtractPipeline, MetadataSink, ParquetEntitySource}
import graft.functions.Transforms
import graft.plans.{Partitioner, Watermark}
import graft.sources.Tables

/** The benchmark's JVM half: sets up one workload's inputs, times its
  * ops for a fixed wall budget, checks every op's output outside the
  * timed section, and writes raw samples as JSON for `run.py`, which
  * adds the DuckDB oracle checks and the statistics.
  *
  * Usage: EtlBench <workload> <seed> <seconds> <trace 0|1> <work dir> <report file>
  */
object EtlBench {

  final case class Op(seconds: Double, rows: Long, ok: Boolean, tag: String,
      layers: Map[String, Double])

  /** What every workload hands back to the report. */
  final class Run {
    val ops = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.ArrayBuffer.empty[String]
    var firstOpMillis = 0L
    var outputBytes = 0L
    var outputRows = 0L
    var oracle = List.empty[JValue]
    var probes = Map.empty[String, Double]
    var notes = Map.empty[String, JValue]
  }

  final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
      val work: String, val tracer: Option[Tracer], val spans: Spans) {
    val in = s"$work/in"
    val out = s"$work/out"
    def conf = spark.sparkContext.hadoopConfiguration
    val run = new Run

    /** One timed op: the body's wall time, with per-layer deltas read
      * around it (after the op's listener events are delivered).
      */
    def timed[T](body: => T): (Double, Either[Throwable, T], Map[String, Double]) = {
      val before = tracer.map(_.begin())
      if (run.firstOpMillis == 0L) run.firstOpMillis = System.currentTimeMillis()
      val c0 = cpuTicks()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = try Right(spans.record("op")(body)) catch { case NonFatal(e) => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val c1 = cpuTicks()
      val steal = (c1._1 - c0._1).toDouble / math.max(1L, c1._2 - c0._2)
      val layers = (tracer zip before).map { case (t, b) => t.end(b, w0, w1, dt) }
        .getOrElse(Map.empty) ++ spans.lastOpChildren + (StealKey -> steal)
      (dt, r, layers)
    }

    def until(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 < seconds

    def fail(tag: String, why: String): Unit = run.failures += s"$tag: $why"
  }

  /** Share of machine CPU time the hypervisor stole during an op. */
  val StealKey = "cpu_steal_share"

  /** (steal, total) jiffies of the whole machine, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, report) = argv
    val trace = traceS == "1"
    val work = new File(workDir).getAbsolutePath
    if (trace) {
      System.setProperty("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
      CountingFs.sinkRoot = s"$work/out"
    }
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("etlbench")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seedS.toLong, secondsS.toDouble, work, tracer,
      new Spans(trace))
    ctx.run.notes += "session_s" -> JDouble((System.nanoTime() - t0) / 1e9)
    workload match {
      case "backfill"         => Extract.backfill(ctx)
      case "head_follow"      => Extract.headFollow(ctx)
      case "dedup_funnels"    => Documents.funnels(ctx)
      case other              => throw new IllegalArgumentException(s"unknown workload $other")
    }
    writeReport(ctx, workload, report)
    spark.stop()
  }

  /** Heap still in use after a full collection once the workload is
    * done: what the program keeps alive across ops. Reported beside VmHWM,
    * which with a fixed-size heap mostly shows how much of it was touched.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def writeReport(ctx: Ctx, workload: String, path: String): Unit = {
    val r = ctx.run
    def num(m: Map[String, Double]): JObject =
      JObject(m.toList.sortBy(_._1).map { case (k, v) => JField(k, JDouble(v)) })
    val json = JObject(
      "workload" -> JString(workload),
      "seed" -> JLong(ctx.seed),
      "first_op_epoch_ms" -> JLong(r.firstOpMillis),
      "ops" -> JArray(r.ops.toList.map { o =>
        JObject("s" -> JDouble(o.seconds), "rows" -> JLong(o.rows),
          "ok" -> JBool(o.ok), "tag" -> JString(o.tag), "layers" -> num(o.layers))
      }),
      "failures" -> JArray(r.failures.toList.map(JString(_))),
      "output_bytes" -> JLong(r.outputBytes),
      "output_rows" -> JLong(r.outputRows),
      "peak_rss_mb" -> JDouble(peakRssMb()),
      "retained_heap_mb" -> JDouble(retainedHeapMb()),
      "oracle" -> JArray(r.oracle),
      "probes" -> num(r.probes),
      "span_self_s" -> num(ctx.spans.selfSeconds),
      "notes" -> JObject(r.notes.toList))
    Files.writeString(Paths.get(path), JsonMethods.compact(JsonMethods.render(json)))
    if (ctx.tracer.nonEmpty) {
      val spans = JArray(ctx.spans.all.toList.map { s =>
        JObject("id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
          "start_ns" -> JLong(s.start), "end_ns" -> JLong(s.end))
      })
      Files.writeString(Paths.get(s"${ctx.work}/spans.json"),
        JsonMethods.compact(JsonMethods.render(spans)))
    }
  }

  /** Bytes of every parquet fragment and `_metadata` file under `dir`. */
  def storeBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p) && CountingFs.isDataFile(
        new org.apache.hadoop.fs.Path(p.toString))).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  /** Median seconds of `reps` runs of `body`. */
  def medianSeconds(reps: Int)(body: => Unit): Double = {
    val xs = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(xs.size / 2)
  }
}

/** Layer counters around one op: the engine listener, the counting
  * FileSystem, and the job intervals that overlap the op.
  */
final class Tracer(spark: SparkSession) {
  val jobs = new JobTracker
  spark.sparkContext.addSparkListener(jobs)
  private val Cores = 4.0
  import Tracer.Mark

  def begin(): Mark = {
    org.apache.spark.EtlBenchBus.drain(spark.sparkContext)
    Mark(jobs.snapshot(), CountingFs.snapshot(), bytesWritten())
  }

  def end(b: Mark, w0: Long, w1: Long, dt: Double): Map[String, Double] = {
    org.apache.spark.EtlBenchBus.drain(spark.sparkContext)
    val e = jobs.snapshot()
    val fs = CountingFs.snapshot()
    def de(k: String) = e.getOrElse(k, 0.0) - b.engine.getOrElse(k, 0.0)
    def df(k: String) = fs.getOrElse(k, 0.0) - b.fs.getOrElse(k, 0.0)
    val inOp = jobs.jobsIn(w0, w1)
    val busyMs = Intervals.unionLength(
      inOp.map(j => (j.start, (if (j.end < 0) w1 else j.end).min(w1))))
    val byLayer = inOp.groupBy(_.layer).map { case (l, js) =>
      l -> js.map(j => ((if (j.end < 0) w1 else j.end) - j.start) / 1e3).sum
    }
    Map(
      "extract.driver_s" -> math.max(0.0, dt - busyMs / 1e3),
      "extract.jobs_per_op" -> inOp.size.toDouble,
      "extract.stages_per_op" -> de("stages"),
      "extract.tasks_per_op" -> de("tasks"),
      "extract.task_util" -> de("task_s") / (Cores * dt),
      "sources.job_s" -> byLayer.getOrElse("sources", 0.0),
      "extract.job_s" -> byLayer.getOrElse("extract", 0.0),
      "sinks.job_s" -> byLayer.getOrElse("sinks", 0.0),
      "operators.job_s" -> byLayer.getOrElse("operators", 0.0),
      "other.job_s" -> byLayer.getOrElse("other", 0.0),
      "sources.records_read" -> de("records_read"),
      "sources.input_bytes" -> de("input_bytes"),
      "spark.task_s" -> de("task_s"),
      "spark.gc_s" -> de("gc_s"),
      "spark.shuffle_write_bytes" -> de("shuffle_write_bytes"),
      "spark.spill_bytes" -> de("spill_bytes"),
      "spark.tasks_failed" -> de("tasks_failed"),
      "sinks.fs_create" -> df("create"),
      "sinks.fs_rename" -> df("rename"),
      "sinks.fs_delete" -> df("delete"),
      "sinks.fs_list" -> df("list"),
      "sinks.fs_open" -> df("open"),
      "sinks.fs_status" -> df("status"),
      "sinks.fs_s" -> df("fs_s"),
      "sinks.footer_reads" -> df("footer_reads"),
      "sinks.files_created" -> df("files_created"),
      "sinks.bytes_written" -> (bytesWritten() - b.written).toDouble)
  }

  /** Bytes the `file` scheme's Hadoop statistics have seen written. */
  private def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.toArray
      .map(_.asInstanceOf[org.apache.hadoop.fs.FileSystem.Statistics])
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

object Tracer {
  final case class Mark(engine: Map[String, Double], fs: Map[String, Double], written: Long)
}

/** `backfill` and `head_follow`: the paper's extract job, over the
  * subgraph `gen.py` wrote to `in/`.
  */
object Extract {
  import EtlBench._

  /** Untimed ops before the timed ones. With the C1-only JIT `run.py`
    * starts, op times are level after these; the first op of each kind
    * also loads and compiles the classes the rest reuse.
    */
  val WarmUpOps = 1
  val WarmUpTicks = 2

  private def datasetRoot(sg: Subgraph, outputLocation: String): String =
    s"$outputLocation/${sg.config.name}/${sg.config.version}"

  private def tableDir(sg: Subgraph, outputLocation: String, table: String): String =
    Partitioner.tableDir(datasetRoot(sg, outputLocation), sg.config.subgraph, table)

  /** Output contract of an extract to `head`: per table, `_metadata` rows
    * and rows written equal the generator's counts, every planned
    * directory holds exactly one fragment and no other directory exists,
    * and the watermark records the head. Returns the failures.
    */
  def check(ctx: Ctx, sg: Subgraph, outputLocation: String, head: Long,
      result: ExtractPipeline.ExtractResult): Seq[String] = {
    val conf = ctx.conf
    val bad = mutable.ArrayBuffer.empty[String]
    val plan = Partitioner.plan(sg.earliest, head, sg.tiers).map(_.relativePath).toSet
    sg.rows.keys.toSeq.sorted.foreach { t =>
      val dir = tableDir(sg, outputLocation, t)
      val want = sg.rowsBelow(t, sg.coverageEnd(head))
      val got = MetadataSink.rowCountFromMetadata(dir, conf)
      if (got != want) bad += s"$t: _metadata rows $got != generated $want"
      val res = result.tables.find(_.table == t)
      val fresh = res.toSeq.flatMap(_.written)
        .map(p => sg.rowsBelow(t, p.end) - sg.rowsBelow(t, p.start)).sum
      if (!res.map(_.rowsWritten).contains(fresh))
        bad += s"$t: rows written ${res.map(_.rowsWritten)} != generated $fresh"
      val leaves = fragmentsByDir(dir)
      if (leaves.keySet != plan)
        bad += s"$t: ${leaves.size} partition dirs, plan has ${plan.size}"
      leaves.collect { case (d, n) if n != 1 => bad += s"$t/$d: $n fragments" }
    }
    Watermark.read(datasetRoot(sg, outputLocation), conf) match {
      case Some(w) if w.latestBlock == head && w.earliestBlock == sg.earliest => ()
      case other => bad += s"watermark $other, head $head"
    }
    bad.toSeq
  }

  /** partition dir (relative to the table dir) -> fragment count. */
  private def fragmentsByDir(tableDir: String): Map[String, Int] = {
    val root = Paths.get(tableDir)
    val s = Files.walk(root)
    try {
      val dirs = mutable.Map.empty[String, Int]
      s.forEach { p =>
        val rel = root.relativize(p).toString
        val name = p.getFileName.toString
        if (Files.isDirectory(p) && rel.count(_ == '/') == 2)
          dirs.getOrElseUpdate(rel, 0)
        else if (Files.isRegularFile(p) && name.endsWith(".parquet") && !name.startsWith(".")) {
          val d = root.relativize(p.getParent).toString
          dirs(d) = dirs.getOrElse(d, 0) + 1
        }
      }
      dirs.toMap
    } finally s.close()
  }

  private def extract(ctx: Ctx, sg: Subgraph, outputLocation: String) =
    ExtractPipeline.extract(ctx.spark,
      new TimedSource(new ParquetEntitySource(ctx.in), ctx.spans),
      sg.config, outputLocation, nowMillis = 1L)

  /** Times one extract into `outputLocation`, checks it, records the op
    * with `rows` (default: the rows the extract wrote). Returns the
    * extract's result if it did not throw.
    */
  private def op(ctx: Ctx, sg: Subgraph, outputLocation: String, head: Long,
      tag: String, rows: Option[Long] = None): Option[ExtractPipeline.ExtractResult] = {
    val (dt, r, layers) = ctx.timed(extract(ctx, sg, outputLocation))
    val ok = r match {
      case Left(e) => ctx.fail(tag, e.toString); false
      case Right(res) =>
        val bad = check(ctx, sg, outputLocation, head, res)
        bad.foreach(ctx.fail(tag, _))
        bad.isEmpty
    }
    val work = r.map(_.tables.map(_.written.size).sum.toDouble).getOrElse(0.0)
    val written = r.map(_.tables.map(_.rowsWritten).sum).getOrElse(0L)
    ctx.run.ops += Op(dt, rows.getOrElse(written), ok, tag,
      layers + ("plans.work_partitions" -> work))
    r.toOption
  }

  private def recordOutput(ctx: Ctx, sg: Subgraph, outputLocation: String): Unit = {
    val dirs = sg.rows.keys.toSeq.map(tableDir(sg, outputLocation, _))
    ctx.run.outputBytes = dirs.map(storeBytes).sum
    ctx.run.outputRows = dirs.map(MetadataSink.rowCountFromMetadata(_, ctx.conf)).sum
  }

  /** One op: extract the whole generated subgraph into an empty root. */
  def backfill(ctx: Ctx): Unit = {
    val sg = Subgraph.load(ctx.in)
    val head = sg.backfillHead
    // warm-up: untimed extracts until the JIT settles; the first also
    // pins the bulk-path precondition this workload exists to measure
    (1 to WarmUpOps).foreach { k =>
      val warm = extract(ctx, sg, s"${ctx.out}/warm")
      if (k == 1) warm.tables.foreach { t =>
        require(t.written.size >= ExtractPipeline.DefaultBulkThreshold &&
          t.written.map(_.size).distinct.size >= 2,
          s"${t.table}: ${t.written.size} work partitions; the bulk path needs " +
            s"${ExtractPipeline.DefaultBulkThreshold} over two tiers")
      }
      deleteTree(s"${ctx.out}/warm")
    }
    val start = System.nanoTime()
    var i = 0
    while (ctx.until(start) || i < 3) {
      val loc = s"${ctx.out}/op$i"
      op(ctx, sg, loc, head, s"op$i")
      if (i == 0) recordOutput(ctx, sg, loc)
      deleteTree(loc)
      i += 1
    }
    if (ctx.tracer.nonEmpty) probes(ctx, sg, head)
  }

  /** Backfill to one head, then each op advances the catalog head by one
    * smallest-tier width and re-runs the extract on the same store.
    */
  def headFollow(ctx: Ctx): Unit = {
    val sg = Subgraph.load(ctx.in)
    val store = s"${ctx.out}/store"
    extract(ctx, sg, store)
    var head = sg.backfillHead
    val step = sg.tiers.min
    def tick(): Unit = {
      head += step
      Subgraph.writeHead(ctx.conf, ctx.in, sg, head)
    }
    // warm-up ticks: same path as the timed ones, untimed
    (1 to WarmUpTicks).foreach { _ => tick(); extract(ctx, sg, store) }
    val maxOps = (sg.headroom / step).toInt - WarmUpTicks - 1
    val start = System.nanoTime()
    var i = 0
    // a tick's rows are the ones it makes visible: a tick that completes a
    // larger tier also re-extracts that tier's rows, which is sink work
    // (sinks.bytes_written), not freshness
    def visible(from: Long, to: Long): Long = sg.rows.keys.toSeq.map(t =>
      sg.rowsBelow(t, sg.coverageEnd(to)) - sg.rowsBelow(t, sg.coverageEnd(from))).sum
    var larger = 0
    while ((ctx.until(start) || i < 3) && i < maxOps) {
      tick()
      val res = op(ctx, sg, store, head, s"op$i@$head", Some(visible(head - step, head)))
      if (res.exists(_.tables.exists(_.written.exists(_.size > step)))) larger += 1
      i += 1
    }
    // the tiers are chosen so that timed ticks complete larger tiles, which
    // runs pruneStalePartitions and the incremental _metadata lift
    if (larger == 0) ctx.fail("tiers", s"none of $i timed ticks wrote a larger-tier partition")
    ctx.run.notes += "larger_tier_ticks" -> JLong(larger)
    recordOutput(ctx, sg, store)
    // convergence: the followed store equals a one-shot extract to the
    // same head, on content, _metadata rows and watermark
    val oneShot = s"${ctx.out}/oneshot"
    extract(ctx, sg, oneShot)
    sg.rows.keys.toSeq.sorted.foreach { t =>
      val (a, b) = (tableDir(sg, store, t), tableDir(sg, oneShot, t))
      val (fa, fb) = (Fingerprint.of(ctx.spark.read.parquet(a)),
        Fingerprint.of(ctx.spark.read.parquet(b)))
      if (fa != fb) ctx.fail("convergence", s"$t: content $fa != one-shot $fb")
      val (ma, mb) = (MetadataSink.rowCountFromMetadata(a, ctx.conf),
        MetadataSink.rowCountFromMetadata(b, ctx.conf))
      if (ma != mb) ctx.fail("convergence", s"$t: _metadata rows $ma != one-shot $mb")
    }
    def span(w: Option[Watermark]) = w.map(w => (w.earliestBlock, w.latestBlock))
    val (wa, wb) = (Watermark.read(datasetRoot(sg, store), ctx.conf),
      Watermark.read(datasetRoot(sg, oneShot), ctx.conf))
    if (span(wa) != span(wb)) ctx.fail("convergence", s"watermark $wa != one-shot $wb")
    ctx.run.notes += "final_head" -> JLong(head)
    if (ctx.tracer.nonEmpty) probes(ctx, sg, head)
  }

  /** Scan-only and scan+convert noop writes over every table's planned
    * range: the scan rate and the kernels' share, without the sink.
    */
  private def probes(ctx: Ctx, sg: Subgraph, head: Long): Unit = {
    val spark = ctx.spark
    val src = new ParquetEntitySource(ctx.in)
    val schema = src.catalog(spark)(sg.config.subgraph).schemaName
    val lo = Partitioner.plan(sg.earliest, head, sg.tiers).head.start
    val hi = sg.coverageEnd(head)
    def frames(convert: Boolean): Seq[DataFrame] = sg.config.tables.toSeq.sortBy(_._1).map {
      case (t, tc) =>
        val raw = src.scanRange(spark, schema, t, lo, hi)
        if (convert) Transforms.convertColumns(raw, src.columnTypes(spark, schema, t), tc)
        else raw
    }
    def noop(fs: Seq[DataFrame]): Unit =
      fs.foreach(_.write.format("noop").mode("overwrite").save())
    val rows = sg.rows.keys.toSeq.map(sg.rowsBelow(_, hi)).sum.toDouble
    val (scanFrames, convFrames) = (frames(convert = false), frames(convert = true))
    noop(convFrames)
    val scan = medianSeconds(5)(noop(scanFrames))
    val conv = medianSeconds(5)(noop(convFrames))
    val kernels = math.max(conv - scan, 1e-6)
    ctx.run.probes = Map(
      "sources.scan_rows_per_s" -> rows / scan,
      "functions.convert_rows_per_s" -> rows / kernels,
      "functions.convert_share" -> kernels / conv)
  }
}

/** `dedup_funnels`: one face of each funnel copy in `Dedup` over the
  * generated documents.
  */
object Documents {
  import EtlBench._

  /** One face per funnel copy `Dedup` keeps (ROADMAP item 2): the shared
    * minhash/jaccard/containment funnel, simhash64, the minhash estimate
    * audit and edit distance. `q_dedup_ngram_jaccard` and
    * `q_dedup_containment` are faces of the same copy as
    * `q_dedup_minhash_lsh`, left out to keep a run inside its time budget.
    */
  val Funnels: Seq[String] = Seq("q_dedup_minhash_lsh", "q_dedup_simhash64",
    "q_minhash_est_audit", "q_dedup_editdist")

  /** The generated documents' directory and row count; traced runs also
    * time a noop scan of them (the scan probe).
    */
  private def prepare(ctx: Ctx): (String, Long) = {
    val docs = Tables.documents(ctx.spark, ctx.in)
    val n = docs.count()
    if (ctx.tracer.nonEmpty) {
      docs.write.format("noop").mode("overwrite").save()
      val scan = medianSeconds(5)(docs.write.format("noop").mode("overwrite").save())
      ctx.run.probes = Map("sources.scan_rows_per_s" -> n / scan)
    }
    (ctx.in, n)
  }

  private def oracleEntry(ctx: Ctx, name: String, dir: String): JValue =
    JObject("name" -> JString(name), "sql" -> JString(graft.SparkEntry.oracleSql(name)),
      "dir" -> JString(dir), "documents" -> JString(s"${ctx.in}/documents.parquet"))

  private def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One op is one funnel query: construct, `executedPlan`, noop write,
    * then `clearCache` outside the timing, the same protocol as `Bench`.
    */
  def funnels(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (docs, nDocs) = prepare(ctx)
    // jobs launched by the noop sink have no operator frame in their call site
    spark.sparkContext.setLocalProperty(JobTracker.PhaseKey, "operators")
    /** Construct, plan, execute; returns the construct window (epoch ms). */
    def one(name: String): (Long, Long) = Tables.widthScoped(spark) {
      val w0 = System.currentTimeMillis()
      val df = ctx.spans.record("operators.construct")(graft.SparkEntry.queries(name)(spark, docs))
      val w1 = System.currentTimeMillis()
      ctx.spans.record("operators.plan")(df.queryExecution.executedPlan)
      ctx.spans.record("operators.execute")(df.write.format("noop").mode("overwrite").save())
      (w0, w1)
    }
    // warm-up pass and the output check pass, both untimed
    val checkDirs = Funnels.map { name =>
      val dir = s"${ctx.out}/check/$name"
      try {
        Tables.widthScoped(spark) {
          graft.SparkEntry.queries(name)(spark, docs).coalesce(1)
            .write.mode("overwrite").parquet(dir)
        }
      } catch { case NonFatal(e) => ctx.fail(name, s"check pass: $e") }
      releaseCaches(spark)
      name -> dir
    }
    ctx.run.oracle = checkDirs.toList.map { case (n, d) => oracleEntry(ctx, n, d) }
    // bytes per input document: the faces' result row counts vary with the
    // seed's chance word overlaps, their file sizes far less
    ctx.run.outputBytes = checkDirs.map(d => storeBytes(d._2)).sum
    ctx.run.outputRows = nDocs
    releaseCaches(spark)
    val start = System.nanoTime()
    var pass = 0
    var passSeconds = 0.0
    // whole passes only, and none that would end past the time budget
    while (pass < 1 || (System.nanoTime() - start) / 1e9 + passSeconds <= ctx.seconds) {
      val p0 = System.nanoTime()
      Funnels.foreach { name =>
        val (dt, r, layers) = ctx.timed(one(name))
        val traced = ctx.tracer.map { t =>
          val (w0, w1) = r.getOrElse((0L, -1L))
          Map("operators.cached_rdds_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
            "operators.jobs_in_construct" -> t.jobs.jobsIn(w0, w1).size.toDouble)
        }
        r.left.foreach(e => ctx.fail(s"$name#$pass", e.toString))
        releaseCaches(spark)
        ctx.run.ops += Op(dt, if (r.isRight) nDocs else 0L, r.isRight, s"$name#$pass",
          layers ++ traced.getOrElse(Map.empty))
      }
      passSeconds = (System.nanoTime() - p0) / 1e9
      pass += 1
    }
  }
}

package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}

import graft.Sessions

/** Shuffle-economics probe: runs named registered queries and reports
  * MEASURED execution shape — task/stage counts, input bytes, shuffle
  * read/write bytes, spill — via a TaskMetrics listener. Wall-clock
  * sweeps say how long a plan took; this says WHERE the bytes moved,
  * which is the thing that decides whether a plan survives a
  * network-shuffled 1000-executor cluster (a funnel that shuffles only
  * pair mass reads as shuffle_write << input; a corpus-mass shuffle
  * reads as shuffle_write ~ input).
  *
  * Usage: runMain graft.tools.PlanStats <sfDir> <q1,q2,...>
  */
object PlanStats {

  private final class Acc extends SparkListener {
    val tasks = new LongAdder; val stages = new LongAdder
    val input = new LongAdder; val shuffleRead = new LongAdder
    val shuffleWrite = new LongAdder
    val memSpill = new LongAdder; val diskSpill = new LongAdder
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        tasks.increment()
        input.add(m.inputMetrics.bytesRead)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        memSpill.add(m.memoryBytesSpilled)
        diskSpill.add(m.diskBytesSpilled)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.increment()
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stageRows.add(
        (i.stageId, i.numTasks, m.executorRunTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          i.name.takeWhile(_ != '\n').take(60)))
    }
    // per-stage rows for the breakdown print (stageId, tasks, runMs,
    // input, sread, swrite, spill, name)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Int, Long, Long, Long, Long, Long, String)]()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanStats <sfDir> <q1,q2,...>")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local("graft-plan-stats")
    for (n <- names) {
      val acc = new Acc
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      // widthScoped: one query's volume ratchet must not leak into the
      // next query's plans (Tables.widthScoped)
      graft.sources.Tables.widthScoped(spark) {
        graft.SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // the listener bus is async — give queued task-end events time to
      // drain before reading the adders (a tool, not a protocol)
      Thread.sleep(3000)
      spark.sparkContext.removeSparkListener(acc)
      def mb(l: LongAdder): Long = l.sum() / 1000000L
      println(s"""[plan-stats] {"query":"$n","wall_sec":${f"$wall%.1f"},""" +
        s""""stages":${acc.stages.sum()},"tasks":${acc.tasks.sum()},""" +
        s""""input_mb":${mb(acc.input)},"shuffle_read_mb":${mb(acc.shuffleRead)},""" +
        s""""shuffle_write_mb":${mb(acc.shuffleWrite)},""" +
        s""""mem_spill_mb":${mb(acc.memSpill)},"disk_spill_mb":${mb(acc.diskSpill)}}""")
      // per-stage breakdown, heaviest first — wall says a query is slow;
      // this says WHICH exchange/scan is paying for it
      import scala.jdk.CollectionConverters._
      acc.stageRows.asScala.toSeq.sortBy(-_._3).take(12).foreach {
        case (id, nt, run, in, sr, sw, sp, name) =>
          println(f"[plan-stats]   stage $id%4d tasks=$nt%4d " +
            f"run=${run / 1000.0}%8.1fs in=${in / 1000000}%6dMB " +
            f"sread=${sr / 1000000}%6dMB swrite=${sw / 1000000}%6dMB " +
            f"spill=${sp / 1000000}%6dMB  $name")
      }
      Sessions.releaseCaches(spark)
    }
    spark.stop()
  }
}

package graft.extract

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounter, SparkTestBase}
import graft.model.{ExtractConfig, TableConfig}

/** The steady state of a cron-driven extract: a warm head tick, the head
  * one smallest tier further, compiles no class and runs one Spark job
  * per table. Each table's tick writes one tile, through
  * [[BulkWriter.writeEachTile]]: the scan bounds are bound outside the
  * generated code ([[graft.ScanBoundReferences]]), so the tile's classes
  * are the previous tick's, and the tile's scan, sort and write are one
  * stage.
  */
class HeadTickSpec extends AnyFunSuite with SparkTestBase {

  import GraphNodeFixture._

  private val Tiers = Seq(524288L, 32768L)
  private val Tables = Seq(Table, "clone_a", "clone_b")

  // [17825792, 18350080) plus three 32768 tiles; each tick then adds the
  // tile holding one fixture row (18460372, then 18500000)
  private val BackfillHead = 18450000L

  test("a warm head tick compiles nothing and runs one job per table") {
    val src = Files.createTempDirectory("graft-head-src").toString
    val out = Files.createTempDirectory("graft-head-out").toString
    val cfg = ExtractConfig("head", "0.0.1", Subgraph,
      Tables.map(_ -> TableConfig(Tiers)).toMap)
    def moveHead(head: Long): Unit =
      GraphNodeFixture.write(spark, src, head, extraTables = Tables.tail)
    def tick(): ExtractPipeline.ExtractResult =
      ExtractPipeline.extract(spark, new ParquetEntitySource(src), cfg, out)
    moveHead(BackfillHead)
    tick()
    moveHead(BackfillHead + Tiers.min)
    assert(tick().tables.map(_.rowsWritten) === Seq(1L, 1L, 1L))
    moveHead(BackfillHead + 2 * Tiers.min)
    val jobs = new JobCounter(spark)
    try {
      def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val c0 = compiled()
      val second = jobs.phase("tick")(tick())
      assert(compiled() - c0 === 0, "classes compiled by the warm tick")
      assert(second.tables.map(_.written.size) === Seq(1, 1, 1))
      assert(second.tables.map(_.rowsWritten) === Seq(1L, 1L, 1L))
      assert(jobs.started("tick") === Seq("tick" -> Tables.size),
        "Spark jobs of the warm tick")
    } finally jobs.close()
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{GraphNodeFixture, ParquetEntitySource}

/** [[ScanBoundReferences]] on the extract's `[start, end)` scan: the
  * bounds leave the generated code but not the scan's pushed filters,
  * and the rows are the plain half-open filter's.
  */
class ScanBoundReferencesSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {

  import GraphNodeFixture._

  test("scanRange keeps its rows and pushed bounds with no bound in the generated code") {
    val src = Files.createTempDirectory("graft-bounds").toString
    GraphNodeFixture.write(spark, src, 19000000L)
    val source = new ParquetEntitySource(src)
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each range starts on a row's block and ends on another's
    val compiles = Seq((18500000L, 18888100L), (18460372L, 18888060L)).map {
      case (start, end) =>
        val scan = source.scanRange(spark, Schema, Table, start, end)
        val c0 = compiled()
        val got = scan.select("_block_number").collect().map(_.getInt(0).toLong).sorted
        val c1 = compiled()
        assert(got.toSeq === EntityBlocks.filter(b => b >= start && b < end).sorted)
        assert(got.contains(start) && !got.contains(end))

        val plan = scan.queryExecution.executedPlan
        val pushed = collect(plan) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
        assert(pushed.size === 1, plan)
        assert(pushed.head.contains(s"GreaterThanOrEqual(block_lower,$start)"), pushed)
        assert(pushed.head.contains(s"LessThan(block_lower,$end)"), pushed)

        val filters = collect(plan) { case f: FilterExec => f }
        assert(filters.size === 1, plan)
        val cond = filters.head.condition
        assert(cond.collect { case l @ Literal(_, IntegerType | LongType) => l }.isEmpty, cond)
        assert(cond.collect { case r: ReferenceLiteral => r.value.toString.toLong }.toSet ===
          Set(start, end), cond)
        // the plan still reads as the literal filter
        assert(cond.toString.contains(s">= $start") && cond.toString.contains(s"< $end"), cond)
        c1 - c0
    }
    // the second range runs the first one's classes
    assert(compiles(1) === 0, s"classes compiled per scan: $compiles")
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A session keeps its compiled classes: Spark's codegen class cache
  * ([[Sessions.CodegenCacheEntries]]) holds the working set of the
  * `dedup_funnels` faces, so a second cycle over them, run the way
  * `Bench` times a query, compiles almost nothing. At Spark's default of
  * 100 entries every face recompiled 37–100 classes on every cycle.
  *
  * Not exactly nothing: Spark names a whole-stage class after its
  * codegen stage id, and AQE numbers stages in whichever pool thread
  * plans them, so a cycle can meet a known stage under a new name (and
  * now and then a plan variant AQE had not chosen before). Over eight
  * measured cycles after the first that was 0–14 classes against about
  * 200 in the first cycle.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkTestBase {

  private val d = "/root/testdata/sf0.01"

  private val faces = Seq("q_dedup_minhash_lsh", "q_dedup_simhash64",
    "q_minhash_est_audit", "q_dedup_editdist")

  test("a second cycle over the funnel faces recompiles almost nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Sessions.CodegenCacheEntries.toString)
    def cycle(): Unit = faces.foreach { q =>
      sources.Tables.widthScoped(spark) {
        SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()
      }
      Sessions.releaseCaches(spark)
    }
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    cycle()
    val c1 = compiled()
    cycle()
    // a tenth of the faces' ~200 classes; earlier specs may have warmed
    // the first cycle, so the bound does not lean on its count
    assert(compiled() - c1 <= 20, "classes compiled in the second cycle")
  }
}

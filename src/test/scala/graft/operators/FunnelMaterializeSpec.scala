package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.{MinHashSig, ShingleSet, SimHash64Bands}

/** The funnel's materialize-before-consume rule: building a funnel face
  * runs its one fill job, so when the builder returns — before any action
  * on the result — every cache the funnel pinned (membership, signature
  * frames, scored canonical pairs) is fully computed. The rule is why a
  * verify kernel (levenshtein, the signature agreement) runs once per
  * canonical pair instead of once per expanded member row.
  */
class FunnelMaterializeSpec extends AnyFunSuite with SparkTestBase {

  private val d = "/root/testdata/sf0.01"

  // cached frames per face: membership, each signature frame, the scores
  for ((q, nCaches) <- Seq("q_dedup_editdist" -> 3, "q_dedup_minhash_lsh" -> 4))
    test(s"$q pins fully cached funnel frames before any action") {
      spark.catalog.clearCache()
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      Dedup.queries(q)(spark, d)
      val pinned = sc.getPersistentRDDs.keySet -- before
      val info = sc.getRDDStorageInfo.filter(i => pinned.contains(i.id))
      assert(pinned.size == nCaches, s"pinned RDDs: $pinned")
      assert(info.length == nCaches,
        s"persisted but never filled: ${pinned -- info.map(_.id)}")
      info.foreach { i =>
        assert(i.numCachedPartitions == i.numPartitions,
          s"${i.name}: ${i.numCachedPartitions} of ${i.numPartitions} partitions cached")
      }
      spark.catalog.clearCache()
    }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Every cache `df` reads, directly or under another cache. */
  private def caches(df: DataFrame): Seq[InMemoryRelation] = {
    def under(r: InMemoryRelation): Seq[InMemoryRelation] =
      r +: Plans.collect(r.cachedPlan) { case s: InMemoryTableScanExec => s.relation }
        .flatMap(under)
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      .flatMap(under)
      .groupBy(r => System.identityHashCode(r.cacheBuilder)).values.map(_.head).toSeq
  }

  /** Signature-kernel names in one cache's own executed plan, one entry
    * per occurrence; the caches it reads are scans, not counted.
    */
  private def kernels(r: InMemoryRelation): Seq[String] =
    Plans.flatMap(r.cachedPlan)(_.expressions.flatMap(_.collect {
      case _: MinHashSig => "minhash_sig"
      case _: ShingleSet => "shingle_set"
      case _: SimHash64Bands => "simhash64_bands"
    }))

  // a null filter under the signature cache is pushed below its
  // projection, and the stage then runs the kernel twice per row
  for ((q, expected) <- Seq(
      "q_dedup_minhash_lsh" -> Set("minhash_sig", "shingle_set"),
      "q_minhash_est_audit" -> Set("minhash_sig", "shingle_set"),
      "q_dedup_simhash64" -> Set("simhash64_bands"),
      "q_dedup_editdist" -> Set("minhash_sig")))
    test(s"$q evaluates each signature kernel once in its cache's plan") {
      graft.Sessions.releaseCaches(spark)
      val perCache = caches(Dedup.queries(q)(spark, d)).map(kernels).filter(_.nonEmpty)
      assert(perCache.flatten.toSet == expected, s"kernels per cache: $perCache")
      perCache.foreach(ks => assert(ks.size == ks.distinct.size, s"kernels per cache: $perCache"))
      assert(perCache.flatten.size == expected.size, s"kernels per cache: $perCache")
      graft.Sessions.releaseCaches(spark)
    }
}

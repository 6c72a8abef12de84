package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

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
}

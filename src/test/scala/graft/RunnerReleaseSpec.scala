package graft

import org.scalatest.funsuite.AnyFunSuite

/** The runner protocol of the CACHE CONTRACT ([[SparkEntry]]): a
  * builder returns a lazy frame, whatever intermediates it pins; the
  * runner's action executes it and [[Sessions.releaseCaches]] then
  * leaves no cached plan and no persisted RDD (local checkpoints
  * included) behind. Each query runs the way `Bench` times it:
  * construct, `noop` write, release.
  */
class RunnerReleaseSpec extends AnyFunSuite with SparkTestBase {

  private val d = "/root/testdata/sf0.01"

  // the builders whose results used to be persisted, counted and handed
  // to the caller to release, plus the consumers that read them twice
  private val converted = Seq(
    "q_lr_score", "q_dsir_weights", "q_source_overlap",
    "q_dedup_clusters", "q_dedup_clusters_star", "q_soft_dedup",
    "q_knn_graph", "q_graph_pagerank", "q_dedup_embedding_census",
    "q_dedup_semantic", "q_crossmodal_audit", "q_crossmodal_audit_pairs",
    "q_vocab_coverage", "q_ngram_saturation", "q_text_novelty",
    "q_bpe_apply", "q_bpe_encode", "q_token_fertility",
    "q_winnow_pairs", "q_span_dedup", "q_span_coverage",
    "q_boilerplate_scrub", "q_bigram_coherence")

  for (q <- converted)
    test(s"$q is lazy and leaves nothing pinned") {
      Sessions.releaseCaches(spark)
      sources.Tables.widthScoped(spark) {
        val df = SparkEntry.queries(q)(spark, d)
        assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
          s"$q returned a persisted frame")
        df.write.format("noop").mode("overwrite").save()
      }
      Sessions.releaseCaches(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$q left persisted RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
      assert(spark.sharedState.cacheManager.isEmpty, s"$q left a cached plan")
    }
}

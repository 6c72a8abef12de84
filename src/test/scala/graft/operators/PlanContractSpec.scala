package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Plan-shape contracts the operators rely on implicitly. A global
  * top-k over an unpartitioned Window WOULD be a single-partition
  * bottleneck at scale — except Spark bounds the window's input first
  * (TakeOrderedAndProject from the limit pushdown, or WindowGroupLimit).
  * That reliance is load-bearing (the WindowExec warning in the logs is
  * otherwise alarming), so pin it here: if a future Spark version or a
  * query edit drops the bound, this fails instead of the cluster.
  */
class PlanContractSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // Plain readers never add an input-conditioning exchange (only
  // Tables.documentsFloored does, pinned by TablesFloorSpec), so these
  // plans show each operator's own exchanges.

  private def stripAqe(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => stripAqe(a.executedPlan)
    case other                    => other
  }

  /** Shuffles reachable without crossing a broadcast boundary — i.e.
    * shuffles OF the streamed data, not of tiny build sides.
    */
  private def streamedShuffles(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: BroadcastExchangeLike => Nil
    case s: ShuffleExchangeLike   => s +: s.children.flatMap(streamedShuffles)
    case other                    => other.children.flatMap(streamedShuffles)
  }

  test("q_events_user_stats global top-20 window input is bounded") {
    val plan = stripAqe(
      EventAnalytics.eventsUserStats(spark, sf).queryExecution.executedPlan)
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject") || s.contains("WindowGroupLimit"),
      s"expected a bounded input (TakeOrderedAndProject/WindowGroupLimit) " +
        s"before the global rank window in:\n$s")
  }

  test("q_s1_range_scan pushes the range predicate and prunes columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = stripAqe(
      ParityQueries.s1RangeScan(spark, sf).queryExecution.executedPlan)
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }
    assert(scan.nonEmpty, s"expected a parquet scan in:\n$plan")
    val pushed = scan.get.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(event_id,200)") &&
      pushed.contains("LessThan(event_id,800)"),
      s"half-open range not pushed to the scan: $pushed")
    // dropped columns must not be read: a scan that fetches `props` for a
    // projection that discards it reads the widest column for nothing
    val read = scan.get.requiredSchema.fieldNames.toSet
    assert(!read.contains("props"), s"pruned column still read: $read")
  }

  test("q_decontaminate probes a broadcast shingle table, no per-row set rebuild") {
    val plan = stripAqe(
      Curation.decontaminate(spark, sf).queryExecution.executedPlan)
    // the scale contract: the benchmark side is a broadcast HASH TABLE
    // probed per exploded shingle — NOT a giant array whose hash set
    // array_intersect would rebuild per corpus row (O(|bench|)/row)
    assert(!plan.toString.contains("array_intersect"),
      s"per-row benchmark-set rebuild (array_intersect) crept back in:\n$plan")
    assert(plan.collectFirst { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected a broadcast probe join against the benchmark shingles:\n$plan")
    // corpus shuffles allowed: the per-doc hit count (hashpartitioning,
    // fed by map-side partial aggregation) and the presentation sort —
    // nothing may shuffle the exploded shingles themselves
    val shuffles = streamedShuffles(plan)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    assert(shuffles.forall { s =>
      val p = s.asInstanceOf[ShuffleExchangeLike].outputPartitioning.toString
      p.contains("rangepartitioning") || p.contains("doc_id")
    }, s"unexpected corpus shuffle (not the doc_id agg or the sort):\n$plan")
  }

  test("q_chunk_sliding fans out map-side: only the presentation sort shuffles") {
    val plan = stripAqe(
      TrainingPrep.chunkSliding(spark, sf).queryExecution.executedPlan)
    // the scale contract: tokenize → explode → slice is pure projection
    // work; at 100 TB the chunks must stream from the scan to the sink
    // with no exchange except the final ORDER BY
    val shuffles = streamedShuffles(plan)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    assert(shuffles.size === 1 &&
      shuffles.head.asInstanceOf[ShuffleExchangeLike]
        .outputPartitioning.toString.contains("rangepartitioning"),
      s"chunking must not shuffle before the presentation sort:\n$plan")
  }

  test("q_knn_graph bounds the per-vector top-k window") {
    val plan = stripAqe(
      Similarity.knnGraph(spark, sf).queryExecution.executedPlan)
    assert(plan.toString.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit under the per-vector rank window:\n$plan")
  }

  test("q_decontaminate_bloom prunes shingles map-side before any join") {
    val plan = stripAqe(
      Curation.decontaminateBloom(spark, sf).queryExecution.executedPlan)
    // the scale contract: the Bloom literal filters the exploded corpus
    // shingles BELOW the exact-verify join, so clean shingles are
    // dropped at scan side and never reach an exchange or a hash probe
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.HashJoin
    def containsBloom(p: SparkPlan): Boolean =
      p.expressions.exists(_.collectFirst {
        case e: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => e
      }.nonEmpty)
    val joins = plan.collect { case j: HashJoin => j }
    assert(joins.nonEmpty, s"expected the exact-verify hash join in:\n$plan")
    assert(plan.collectFirst { case f: FilterExec if containsBloom(f) => f }.nonEmpty,
      s"expected a might_contain filter in:\n$plan")
    // the Bloom filter must sit UNDER a verify join (on its streamed
    // input), not above the join output where it would prune nothing
    assert(joins.exists(j => j.children.exists(_.find(containsBloom).nonEmpty)),
      s"bloom prune must be below the verify join:\n$plan")
  }

  test("q_dedup_incremental probes the registry broadcast-side") {
    val plan = stripAqe(
      Dedup.dedupIncremental(spark, sf).queryExecution.executedPlan)
    // the registry side must be the broadcast build side — a shuffle of
    // the batch on the hash for the registry probe would be a second
    // full exchange of the corpus (the window already pays one)
    assert(plan.collectFirst { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected a broadcast registry probe in:\n$plan")
  }

  test("q_dedup_embedding evaluates the cosine kernel once per pair") {
    // the Materialize barrier must keep the threshold filter ABOVE the
    // projection: if PushDownPredicates substitutes through the alias,
    // the kernel appears twice (Filter + Project) and every surviving
    // pair pays the 64-dim cosine twice
    val plan = stripAqe(
      Similarity.dedupEmbedding(spark, sf).queryExecution.executedPlan)
    val kernels = plan.flatMap(_.expressions.flatMap(_.collect {
      case e: graft.functions.CosineSimE6 => e
    }))
    assert(kernels.size === 1,
      s"expected exactly one cosine_e6 evaluation, found ${kernels.size}:\n$plan")
  }

  test("q_pack_sequences windows are partitioned (no global running sum)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = stripAqe(
      TextAnalysis.packSequences(spark, sf).queryExecution.executedPlan)
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a window in:\n$plan")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned running-sum window would serialize the corpus:\n$w"))
  }

  test("q_tfidf_topterms top-k window input is bounded per doc") {
    val plan = stripAqe(
      TextAnalysis.tfidfTopTerms(spark, sf).queryExecution.executedPlan)
    assert(plan.toString.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit bounding the rank<=k window in:\n$plan")
  }

  test("q_sim_topk_ivf corpus is never shuffled before the probe join") {
    val plan = stripAqe(
      Similarity.simTopkIvf(spark, sf).queryExecution.executedPlan)
    val probeJoin = plan.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(probeJoin.nonEmpty, s"expected a broadcast probe join in:\n$plan")
    // streamed side = the full corpus with its map-side centroid argmax;
    // the only exchanges allowed below it live inside broadcast build
    // sides (the single-row centroid array). A shuffle of the streamed
    // data itself would be the regression this test guards against.
    val streamed = probeJoin.get.children.last
    val shuffles = streamedShuffles(streamed)
    assert(shuffles.isEmpty,
      s"corpus side of the probe join must not shuffle:\n$streamed")
  }

  test("q_cluster_balanced assigns map-side and ranks through ONE cell exchange") {
    val plan = stripAqe(
      Similarity.clusterBalanced(spark, sf).queryExecution.executedPlan)
    // assignment must ride the broadcast centroid row (corpus unshuffled
    // below it); both verdict windows must then share a single
    // cent_id-keyed exchange — a second one would shuffle the corpus twice
    val hashShuffles = streamedShuffles(plan).filter { s =>
      s.asInstanceOf[ShuffleExchangeLike]
        .outputPartitioning.toString.contains("hashpartitioning")
    }
    assert(hashShuffles.size == 1 &&
      hashShuffles.head.asInstanceOf[ShuffleExchangeLike]
        .outputPartitioning.toString.contains("cent_id"),
      s"expected exactly one cent_id-keyed exchange in:\n$plan")
  }

  test("q_embed_pca projections never hash-shuffle the corpus") {
    val plan = stripAqe(
      Similarity.embedPca(spark, sf).queryExecution.executedPlan)
    // the model (mean + direction) is collected driver-side during the
    // fit; the returned projection frame must be a pure map-side pass —
    // the only streamed exchange allowed is the presentation range sort
    val hashShuffles = streamedShuffles(plan).filter { s =>
      s.asInstanceOf[ShuffleExchangeLike]
        .outputPartitioning.toString.contains("hashpartitioning")
    }
    assert(hashShuffles.isEmpty,
      s"projection pass must not hash-shuffle the corpus:\n$plan")
  }

  test("q_inverted_index rank window and term agg share ONE token exchange") {
    val plan = stripAqe(
      TextAnalysis.invertedIndex(spark, sf).queryExecution.executedPlan)
    // the scale contract: partitionBy(token) for the posting-cap window
    // and groupBy(token) for the index row must reuse the same hash
    // partitioning — a second token exchange would shuffle the exploded
    // (doc, term) pairs twice
    val tokenShuffles = streamedShuffles(plan).filter { s =>
      val p = s.asInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]
        .outputPartitioning.toString
      // not the pair-distinct exchange, not the presentation range sort
      p.contains("hashpartitioning") && p.contains("token") && !p.contains("doc_id")
    }
    assert(tokenShuffles.size == 1,
      s"expected exactly one token-keyed exchange, got ${tokenShuffles.size}:\n$plan")
  }

  test("q_pivot_daily crosses the raw events through ONE exchange, no Expand") {
    val plan = stripAqe(
      EventAnalytics.pivotDaily(spark, sf).queryExecution.executedPlan)
    // pivot-with-values lowers to (day, type) partial counts — the only
    // exchange the raw events cross — then a day-keyed pivot of the
    // pre-aggregated |days|·|types| rows; values given explicitly, so no
    // Expand and no distinct values-discovery job
    val hashShuffles = streamedShuffles(plan).map(
      _.asInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]
        .outputPartitioning.toString).filter(_.contains("hashpartitioning"))
    assert(hashShuffles.size == 2,
      s"expected the two-stage pivot agg, got ${hashShuffles.size}:\n$plan")
    assert(hashShuffles.count(_.contains("event_type")) == 1,
      s"raw events must cross exactly one (day, type) exchange:\n$plan")
    assert(!plan.toString.contains("Expand"),
      s"pivot-with-values must not Expand the input:\n$plan")
  }

  test("q_sim_topk_ivfpq corpus is never shuffled before the probe join") {
    val plan = stripAqe(
      Similarity.simTopkIvfPq(spark, sf).queryExecution.executedPlan)
    val probeJoin = plan.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(probeJoin.nonEmpty, s"expected a broadcast probe join in:\n$plan")
    // streamed side = the corpus with its map-side cell argmax + PQ
    // reconstruction; both models live in broadcast build sides
    val shuffles = streamedShuffles(probeJoin.get.children.last)
    assert(shuffles.isEmpty,
      s"corpus side of the IVF-PQ probe join must not shuffle:\n${probeJoin.get}")
  }

  test("q_pq_codes corpus is never shuffled: encode is map-side") {
    val plan = stripAqe(
      Similarity.pqCodes(spark, sf).queryExecution.executedPlan)
    // the codebook travels as one broadcast row; the only exchange the
    // corpus may cross is the presentation sort's range partitioning
    val hashShuffles = streamedShuffles(plan).map(
      _.asInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]
        .outputPartitioning.toString).filter(_.contains("hashpartitioning"))
    assert(hashShuffles.isEmpty,
      s"PQ encoding must be a pure map-side projection:\n$plan")
  }

  test("q_span_dedup hashes only candidate docs and never goes all-pairs") {
    // the positional frame is persisted; its cached plan
    // (InMemoryRelation inner child) still renders in the tree string
    val plan = stripAqe(
      TextAnalysis.spanDedup(spark, sf).queryExecution.executedPlan)
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"),
      s"expected a broadcast semi-join pruning the corpus to candidate docs:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"span merge must stay within the candidate funnel, not all-pairs:\n$s")
    // positional hashing (the posexplode Generate) must sit ABOVE the
    // candidate-doc prune, so only the sliver of candidate docs is hashed
    val gen = s.linesIterator.indexWhere(_.contains("Generate posexplode"))
    val semi = s.linesIterator.indexWhere(_.contains("LeftSemi"))
    assert(gen >= 0 && semi > gen,
      s"posexplode must consume the semi-joined (pruned) corpus:\n$s")
  }

  /** Hash-partitioned exchange column lists rendered in a plan tree
    * string (cached InMemoryRelation children included).
    */
  private def hashPartitionings(s: String): Seq[String] =
    "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(s).map(_.group(1)).toSeq

  test("q_dsir_weights scores through a broadcast model join only") {
    val plan = stripAqe(
      Curation.dsirWeights(spark, sf).queryExecution.executedPlan)
    val s = plan.toString
    // the model must reach the exploded corpus as a broadcast build side
    assert(s.contains("BroadcastHashJoin"),
      s"expected the bucket model probed via broadcast hash join:\n$s")
    assert(!s.contains("CartesianProduct"), s"cartesian crept in:\n$s")
    // the only hash exchanges allowed carry the B-row bucket partials or
    // the per-doc aggregation — never the exploded corpus on anything else
    val bad = hashPartitionings(s).filterNot(c =>
      c.contains("bucket") || c.contains("doc_id"))
    assert(bad.isEmpty, s"unexpected hash exchange on $bad in:\n$s")
  }

  test("q_source_overlap intersects via the hash-keyed equi-join, never all-pairs") {
    val plan = stripAqe(
      Curation.sourceOverlap(spark, sf).queryExecution.executedPlan)
    val s = plan.toString
    // the source-pair assembly over the |sources|-row frames must be a
    // broadcast nested loop; a CartesianProduct would mean the non-equi
    // pair join lost its broadcast side
    assert(!s.contains("CartesianProduct"), s"cartesian crept in:\n$s")
    // every hash exchange carries the distinct shingle sets or pair/agg
    // keys — nothing document-keyed survives to the join stage
    val bad = hashPartitionings(s).filterNot(c =>
      c.contains("source") || c.contains("h#"))
    assert(bad.isEmpty, s"unexpected hash exchange on $bad in:\n$s")
  }

  test("q_sim_topk_lsh_multi corpus is never shuffled before the probe join") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val plan = stripAqe(
      Similarity.simTopkLshMulti(spark, sf).queryExecution.executedPlan)
    val probeJoin = plan.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(probeJoin.nonEmpty, s"expected a broadcast probe join in:\n$plan")
    // the multi-probe fan-out lives on the broadcast (query) side; the
    // corpus side carries only its map-side bucket assignment. Pick the
    // STREAMED child by the join's build side — this query writes the
    // broadcast on the right, so children.last would be the build side
    // and asserting on it is vacuous (streamedShuffles stops at any
    // BroadcastExchange root)
    val streamed =
      if (probeJoin.get.buildSide == BuildLeft) probeJoin.get.children.last
      else probeJoin.get.children.head
    assert(!streamed.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]),
      s"picked the build side by mistake:\n$streamed")
    assert(streamedShuffles(streamed).isEmpty,
      s"corpus side of the multi-probe join must not shuffle:\n$streamed")
  }

  test("q4/q16/q22: EXISTS and NOT-IN decorrelate to semi/anti joins") {
    // the EXISTS must plan as LeftSemi — a rewrite through inner join +
    // distinct would duplicate-then-dedupe the fact at scale
    val q4 = stripAqe(
      EventAnalytics.q4PriorityExists(spark, sf).queryExecution.executedPlan).toString
    assert(q4.contains("LeftSemi"), s"expected a LeftSemi join in q4:\n$q4")
    // both blocklist anti-joins must broadcast their dimension-sized side
    for ((name, plan) <- Seq(
        "q16" -> EventAnalytics.q16SupplierCnt(spark, sf),
        "q22" -> EventAnalytics.q22NoUrgent(spark, sf))) {
      val s = stripAqe(plan.queryExecution.executedPlan).toString
      assert(s.contains("LeftAnti"), s"expected a LeftAnti join in $name:\n$s")
    }
  }

  test("q17 decorrelated average joins the per-part aggregate once") {
    // the correlated AVG must not replan as a per-row subquery: exactly
    // one aggregation over the fact feeds the filter join
    val plan = stripAqe(
      EventAnalytics.q17SmallQtyRevenue(spark, sf).queryExecution.executedPlan)
    val s = plan.toString
    assert(!s.contains("Subquery"), s"correlated subquery not decorrelated:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"brand filter should broadcast:\n$s")
  }

  /** Live (non-cached) parquet scans of the final plan, by table file
    * name — descent stops at cache boundaries, so a persisted shared
    * aggregate's lineage doesn't count as a rescan.
    */
  private def liveScans(p: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    stripAqe(p) match {
      case _: InMemoryTableScanExec => Nil
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.map(_.getName).mkString)
      case o => o.children.flatMap(liveScans) ++ o.subqueries.flatMap(liveScans)
    }
  }

  test("q6 pushes the shipdate range and the raw-column hulls into the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = RelationalShapes.q6ForecastRevenue(spark, sf)
    val plan = stripAqe(df.queryExecution.executedPlan)
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }
    assert(scan.nonEmpty, s"expected a parquet scan in:\n$plan")
    val pushed = scan.get.metadata.getOrElse("PushedFilters", "")
    // the exact predicates live on derived cents columns; the scan must
    // still see the shipdate range AND the widened raw-double hulls
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"),
      s"q6 predicates not reaching the parquet reader: $pushed")
    val read = scan.get.requiredSchema.fieldNames.toSet
    assert(!read.contains("l_tax") && !read.contains("l_returnflag"),
      s"q6 reads columns it never uses: $read")
  }

  test("q15/q20/q2/q11: the shared aggregate caches — the final job never rescans the fact") {
    for ((name, fn) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
        "q15" -> (RelationalShapes.q15TopSupplier _),
        "q20" -> (RelationalShapes.q20PartConcentration _),
        "q2" -> (RelationalShapes.q2MincostSupplier _),
        "q11" -> (RelationalShapes.q11ImportantValue _))) {
      val df = fn(spark, sf) // runs the persist + force eagerly
      val facts = liveScans(df.queryExecution.executedPlan)
        .filter(_.startsWith("lineitem"))
      assert(facts.isEmpty,
        s"$name: final plan rescans the fact ${facts.size}x — the shared " +
          "aggregate lost its cache (exchange reuse does NOT dedupe these)")
      spark.catalog.clearCache()
    }
  }

  test("q21 reads the fact once; both correlations fold into order-partitioned windows") {
    val df = RelationalShapes.q21WaitingSupplier(spark, sf)
    val plan = stripAqe(df.queryExecution.executedPlan)
    val facts = liveScans(plan).filter(_.startsWith("lineitem"))
    assert(facts.size == 1,
      s"q21 must scan lineitem exactly once (the EXISTS/NOT-EXISTS pair " +
        s"folds into window counts), got ${facts.size}:\n$plan")
    val s = plan.toString
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(s).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("l_orderkey")),
      s"q21 windows must partition by l_orderkey: $specs")
  }

  test("q2 decorrelates the per-part min and broadcasts the join-back") {
    val df = RelationalShapes.q2MincostSupplier(spark, sf)
    val s = stripAqe(df.queryExecution.executedPlan).toString
    assert(!s.contains("Subquery"), s"correlated min not decorrelated:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"per-part min join-back should broadcast:\n$s")
    spark.catalog.clearCache()
  }

  test("q_rep_coverage is one scan with no shuffle before the final sort") {
    // the round-13 contract: the metric is a pure per-document function
    // computed by the compiled rep_coverage kernel — the ONLY exchange
    // in the plan is the output sort's range partitioning (the r12
    // shape paid a corpus window by (doc, gram) plus a covered-position
    // distinct, two full shuffles)
    val plan = stripAqe(
      TextAnalysis.repCoverage(spark, sf).queryExecution.executedPlan)
    val s = plan.toString
    assert(s.contains("rep_coverage("), s"expected the compiled kernel in:\n$s")
    assert(!s.contains("windowspecdefinition"), s"no window expected in:\n$s")
    val exchanges = "Exchange (\\w+)".r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(exchanges.forall(_.startsWith("rangepartitioning")),
      s"only the output sort may shuffle: $exchanges\n$s")
  }
}

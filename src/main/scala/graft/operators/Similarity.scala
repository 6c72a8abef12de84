package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Scale design:
  *  - brute-force top-k: the query set is tiny and BROADCAST, so the
  *    corpus is scanned once with no shuffle of the big side; per-row
  *    work is a fused dot-product projection, then a per-query top-k.
  *    This is the exact-baseline path (and how you'd score a sample).
  *  - LSH top-k / near-dup: random-hyperplane signs (here: coordinate
  *    hyperplanes on 8 fixed dims — deterministic and oracle-friendly)
  *    bucket the corpus; candidates only join within a bucket. The
  *    equi-join on the bucket key shuffles each side once, and bucket
  *    counts are ~n/256, so pair work is ~n²/256 instead of n² — the
  *    scale path. AQE's skew-join split covers unbalanced buckets.
  *
  * Float parity with DuckDB: all math is double-precision with a fixed
  * fold order (Spark `aggregate` is a left fold; DuckDB
  * `list_dot_product` on DOUBLE[] matches — verified empirically), and
  * scores are emitted as floor(cos * 1e6) BIGINT, so results hash-match
  * bit-for-bit.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns in double
    * precision (matches DuckDB's list_dot_product on DOUBLE[]). Kept as
    * the declarative reference semantics; the queries use the compiled
    * [[graft.functions.CosineSimE6]] kernel, pinned to this form by
    * VectorOpsSpec.
    */
  def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, v) -> acc + v)"

  /** cos(a,b) = dot/(sqrt(na*nb)) — same association on both engines. */
  def cosE6Declarative(a: String, b: String): Column =
    expr(s"cast(floor(${dotExpr(a, b)} / sqrt(${dotExpr(a, a)} * ${dotExpr(b, b)}) * 1000000) as bigint)")

  private def cosE6(a: String, b: String): Column =
    graft.functions.GraftFunctions.cosine_e6(col(a), col(b))

  private def cosE6Duck(a: String, b: String): String =
    s"""CAST(floor(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       |  / sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))
       |       * list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))) * 1000000) AS BIGINT)"""
      .stripMargin.replace("\n", " ")

  /** Number of sign-LSH hyperplanes (= bucket bits). THE scale knob of
    * the bucketed paths: expected bucket population is n / 2^planes and
    * in-bucket pair work is quadratic in it, so the plane count must
    * grow with the corpus — planes ≈ log2(n / targetBucketSize). At
    * n = 10^11 docs (≈100 TB) and a 10k-row bucket target that is ~24
    * planes, not 8; 8 is sized for the test corpus (500-60k rows).
    * Production would also use random Gaussian hyperplanes instead of
    * coordinate planes; the coordinate form here is deterministic so the
    * DuckDB oracle can reproduce it exactly.
    */
  val DefaultNumPlanes = 8

  /** Sentinel default for the `numPlanes` parameters: resolve the plane
    * count from the CORPUS SIZE ([[numPlanesFor]] over the footer row
    * count) instead of a fixed constant. Callers who pass an explicit
    * count (tests, A/Bs, the DuckDB-twinned small fixtures) still get
    * exactly what they asked for.
    */
  val AutoPlanes = 0

  /** Bucket-population target for [[numPlanesFor]]. In-bucket pair work
    * is quadratic in bucket population (Σ C(pop, 2) ≈ n·pop/2 when
    * planes track the corpus), so holding pop near a constant keeps the
    * candidate funnel LINEAR in n. 4096 rows ≈ 8M cosine evaluations
    * per bucket — seconds of one core — while buckets stay populous
    * enough that near-threshold recall doesn't collapse.
    */
  private[graft] val TargetBucketRows = 4096L

  /** Corpus-size-driven sign-LSH plane count — the simhash
    * `Dedup.simhash64BandModeFor` rule applied to the embedding paths
    * (SURVEY §7.6 standing rule 3: banding families widen with corpus
    * size). Expected bucket population is n / 2^planes, so planes
    * double until it falls under [[TargetBucketRows]]; the doubling
    * steps (8 → 16 → 32 → 64) are the plane counts whose evenly-strided
    * coordinate sets NEST (stride 8 coords ⊂ stride 4 ⊂ stride 2 ⊂
    * stride 1), which makes wider bucketings strict REFINEMENTS of
    * narrower ones — candidate sets only shrink as the corpus grows,
    * never jump to a disjoint partitioning (pinned in
    * SimilarityPlanesSpec). Corpora at or under 2^8·4096 ≈ 1M vectors
    * keep the 8-plane default, so every DuckDB-twinned fixture (2k
    * vectors at sf0.1) and the frozen bench canaries are untouched.
    * Flip points: >1.0M → 16, >268M → 32, >1.8e13 → 64.
    *
    * Measured need (r15 1000× sweep): at 2M vectors the fixed 8-plane
    * bucketing left Σ pop² ≈ 8.6e9 candidate pairs and
    * `q_dedup_embedding` timed out past 600 s while its 100× cost was
    * 11.9 s; 16 planes cut the candidate funnel 8.3× on the same
    * fixture (footer-measured Σ C(pop,2): 7573 → 29 per-original).
    */
  def numPlanesFor(nVectors: Long): Int = {
    var planes = DefaultNumPlanes
    while (planes < Dims && nVectors > (TargetBucketRows << planes))
      planes *= 2
    planes
  }

  /** Resolve a `numPlanes` argument: [[AutoPlanes]] → corpus-sized via
    * the parquet footer row count (no job), anything else verbatim.
    */
  private def resolvePlanes(spark: SparkSession, d: String,
      numPlanes: Int): Int =
    if (numPlanes == AutoPlanes)
      numPlanesFor(Tables.tableRows(spark, d, "embeddings"))
    else numPlanes

  /** The sign-LSH bucket expression + resolved plane count for `d`'s
    * corpus — for cross-family pricing ([[Dedup.pairsBudget]]).
    */
  private[operators] def bucketExprFor(spark: SparkSession,
      d: String): (String, Int) = {
    val planes = resolvePlanes(spark, d, AutoPlanes)
    (bucketSpark(planes), planes)
  }

  private val Dims = 64 // embeddings.parquet vector width

  private def requirePlanes(numPlanes: Int): Unit =
    require(numPlanes >= 1 && numPlanes <= Dims && Dims % numPlanes == 0,
      s"numPlanes ($numPlanes) must be in [1, $Dims] and divide $Dims — " +
        "a zero stride would collapse every plane onto one coordinate")

  /** Sign-LSH bucket from `numPlanes` evenly-strided coordinates. */
  private def bucketSpark(numPlanes: Int = DefaultNumPlanes): String = {
    requirePlanes(numPlanes)
    val stride = Dims / numPlanes
    s"""aggregate(sequence(0, ${numPlanes - 1}), 0, (acc, k) ->
       |  acc + CASE WHEN element_at(embedding, $stride*k+1) >= cast(0 as float)
       |        THEN shiftleft(1, k) ELSE 0 END)"""
      .stripMargin.replace("\n", " ")
  }

  /** The DuckDB twin of the bucket expression, for cross-family oracle
    * assembly ([[Dedup.pairsBudgetSql]]).
    */
  private[operators] def bucketDuckExpr(
      numPlanes: Int = DefaultNumPlanes): String = bucketDuck(numPlanes)

  private def bucketDuck(numPlanes: Int = DefaultNumPlanes): String = {
    requirePlanes(numPlanes)
    val stride = Dims / numPlanes
    s"""CAST(list_sum(list_transform(range(0, $numPlanes), k ->
       |  CASE WHEN embedding[$stride*k+1] >= 0 THEN 1 << k ELSE 0 END)) AS INT)"""
      .stripMargin.replace("\n", " ")
  }

  private val K = 5
  private val NumQueries = 5 // vec_id < 5 are the query vectors

  /** Exact top-k cosine neighbors for the query set, brute force over
    * the corpus with the query side broadcast.
    */
  def simTopkBrute(spark: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val queries = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val ranked = emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosE6("q_emb", "embedding").as("cos_e6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_e6").desc, col("vec_id"))))
      .where(col("rank") <= K)
    ranked.orderBy("q_id", "rank")
  }

  val simTopkBruteSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (SELECT q_id, vec_id, ${cosE6Duck("q_emb", "embedding")} AS cos_e6
       |      FROM embeddings, q WHERE vec_id <> q_id),
       |r AS (SELECT q_id, vec_id, cos_e6,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |      FROM c)
       |SELECT q_id, vec_id, cos_e6, rank FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** HYBRID RETRIEVAL by reciprocal-rank fusion: the lexical list
    * ([[TextAnalysis.bm25Rank]]'s top-k for the fixed term query) and
    * the semantic list ([[simTopkBrute]]'s top-k for query vector 0)
    * fused by RRF — `Σ 1e6 div (60 + rank)` over the lists a doc
    * appears in, the standard log-free fusion rule (Cormack et al.'s
    * k=60) — the targeted-selection shape a curation pipeline uses to
    * pull "docs about X" with both surface terms AND embedding
    * neighborhood agreeing. A doc missing from one list simply
    * contributes nothing for it (nullable rank preserved in the
    * output, so the fusion provenance is auditable).
    *
    * Scale: both inputs are already top-k (bounded) lists — the
    * full-outer fusion join and the rank window touch ≤ 2k rows no
    * matter the corpus size; all the scale weight lives in the two
    * upstream retrievers, which are independently plan-audited.
    */
  /** Fused-list size: both input lists in full (lexical 20 + semantic
    * K), interpolated into the oracle.
    */
  val HybridK = 20

  def hybridRetrieval(spark: SparkSession, d: String, k: Int = HybridK): DataFrame = {
    val lex = TextAnalysis.bm25Rank(spark, d)
      .withColumn("rank_lex", row_number().over(
        Window.orderBy(col("score_e6").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_lex"))
    val sem = simTopkBrute(spark, d).where(col("q_id") === 0)
      .select(col("vec_id").as("doc_id"), col("rank").as("rank_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
        (coalesce(expr("1000000L div (60 + rank_lex)"), lit(0L)) +
          coalesce(expr("1000000L div (60 + rank_sem)"), lit(0L))).as("rrf_e6"))
      .orderBy(col("rrf_e6").desc, col("doc_id"))
      .limit(k)
  }

  // lazy: simTopkBruteSql is defined further down this object, and a
  // strict val here would read it as null during object initialization
  lazy val hybridRetrievalSql: String =
    s"""WITH lex0 AS (SELECT doc_id, score_e6 FROM (${TextAnalysis.bm25RankSql})),
       |lex AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT)
       |      AS rank_lex FROM lex0),
       |sem AS (SELECT vec_id AS doc_id, CAST(rank AS BIGINT) AS rank_sem
       |        FROM ($simTopkBruteSql) WHERE q_id = 0)
       |SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |  lex.rank_lex, sem.rank_sem,
       |  coalesce(1000000 // (60 + lex.rank_lex), 0)
       |    + coalesce(1000000 // (60 + sem.rank_sem), 0) AS rrf_e6
       |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |ORDER BY rrf_e6 DESC, doc_id LIMIT $HybridK""".stripMargin

  /** Outlier flag threshold: a vector is an outlier when its squared
    * centroid distance exceeds `OutlierC` × its bucket's mean squared
    * distance (the classic z-score-free variance-ratio rule — exact in
    * integer arithmetic, where a σ-based rule would need a square root).
    */
  val OutlierC = 4

  /** EMBEDDING OUTLIER DETECTION — the corpus-cleaning face of the
    * embedding pipeline: flag vectors far from their neighborhood
    * centroid (mis-embedded docs, modality mixups, garbage inputs) so
    * curation can drop them BEFORE they poison semantic dedup thresholds
    * or ANN recall. Neighborhoods are the deterministic sign-LSH buckets
    * (same [[bucketSpark]] knob as the retrieval paths: planes grow with
    * the corpus so bucket population stays bounded).
    *
    * All math is EXACT integer arithmetic on e3-quantized coordinates,
    * so the DuckDB oracle hash-matches bit-for-bit with no float-sum
    * order dependence:
    *
    *   q_ij   = floor(x_ij · 1000)                      (per coordinate)
    *   D_i    = Σ_j (n_b·q_ij − S_bj)²                  (n_b²·‖q_i − c_b‖²)
    *   Σ_i D_i = n_b²·T_b − n_b·Σ_j S_bj²               (sufficient stats)
    *
    * with S_bj = Σ_i q_ij and T_b = Σ_ij q_ij² — so ONE aggregation pass
    * (66 map-side-combined sums on ≤2^planes keys) yields everything:
    * the per-bucket stats broadcast back (2^planes rows) and both the
    * flag `D_i·n_b > OutlierC·Σ D` and the auditable variance share
    * `floor(D_i·n_b·10⁴ / Σ D)` evaluate in the final map-side
    * projection. No second shuffle, no corpus explode (the 64 element
    * sums aggregate the array column in place). Degenerate buckets
    * (singleton, or all-identical) have Σ D = 0 → nothing flagged.
    *
    * Decimal(38,0) accumulation bounds: |n·q − S| ≤ 2·10³·n so the e4
    * share numerator D·n·10⁴ ≤ 2.56e12·n³ — exact to n_b ≈ 3·10⁸ rows
    * per bucket, far beyond the bucket population any sane plane count
    * leaves (planes ≈ log2(n/target) keeps n_b ~10⁴).
    */
  def embedOutliers(spark: SparkSession, d: String,
      numPlanes: Int = DefaultNumPlanes): DataFrame =
    embedOutliersFrom(Tables.embeddings(spark, d), numPlanes)

  /** All array work stays in LONG via ONE compiled pass per row
    * ([[graft.functions.VectorOps.outlierStats]]: e3 quantize +
    * self-dot T_i = ‖q_i‖² + sign bucket — higher-order lambdas are
    * interpreted per element, the r13 `CharClassCounts` lesson) and one
    * compiled dot for P_i = q_i·S_b; per-bucket U_b = Σ_j S_bj² — then
    * the expansion D_i = n²·T_i − 2n·P_i + U and Σ D = n²·T − n·U needs
    * only a handful of Decimal(38,0) products per row. Long-overflow
    * bounds: with |q| ≤ q_max, S ≤ q_max·n and P_i, T-sums ≤
    * 64·q_max²·n — safe past n_b ≈ 10⁹ at q_max = 4·10³; the decimal
    * carrier takes over for the cubic-magnitude products.
    */
  def embedOutliersFrom(emb: DataFrame,
      numPlanes: Int = DefaultNumPlanes): DataFrame = {
    requirePlanes(numPlanes)
    val dec = "decimal(38,0)"
    // e feeds BOTH the stats aggregation and the flag join; without an
    // explicit persist the quantize kernel runs twice (exchange reuse
    // does not apply — the two consumers have different subtrees). At
    // corpus scale the same reuse is a one-time materialization of the
    // quantized projection, not a cache (see the CACHE CONTRACT in
    // SparkEntry: runners release caches between queries).
    val e = emb.select(col("vec_id"),
      graft.functions.GraftFunctions.outlier_stats(col("embedding"), numPlanes)
        .as("os"))
      .select(col("vec_id"), col("os"),
        element_at(col("os"), Dims + 1).as("t_i"),
        element_at(col("os"), Dims + 2).cast(IntegerType).as("bucket"))
      .persist()
    val aggs =
      (1 to Dims).map(j => sum(element_at(col("os"), j)).as(s"s$j")) :+
        sum(col("t_i")).as("t")
    val st = e.groupBy("bucket")
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(col("bucket"), col("n"), col("t"),
        array((1 to Dims).map(j => col(s"s$j")): _*).as("s"))
      .withColumn("u", expr("aggregate(s, 0L, (acc, v) -> acc + v * v)"))
    e.join(broadcast(st), Seq("bucket"))
      // dot_long's min-length contract ignores os's [t, bucket] suffix
      .withColumn("p_i",
        graft.functions.GraftFunctions.dot_long(col("os"), col("s")))
      .select(col("vec_id"), col("bucket"), col("n").as("n_bucket"),
        expr(s"""cast(n as $dec) * cast(n as $dec) * cast(t_i as $dec)
                |  - 2 * cast(n as $dec) * cast(p_i as $dec)
                |  + cast(u as $dec)""".stripMargin.replace("\n", " "))
          .as("d2"),
        expr(s"""cast(n as $dec) * cast(n as $dec) * cast(t as $dec)
                |  - cast(n as $dec) * cast(u as $dec)""".stripMargin
          .replace("\n", " ")).as("sumd2"))
      .select(col("vec_id"), col("bucket"), col("n_bucket"),
        when(col("sumd2") > 0, expr("(d2 * n_bucket * 10000) div sumd2"))
          .otherwise(lit(0L)).as("share_e4"),
        (col("d2") * col("n_bucket") > lit(OutlierC) * col("sumd2"))
          .as("is_outlier"))
      .orderBy("vec_id")
  }

  lazy val embedOutliersSql: String = {
    val sumCols = (1 to Dims)
      .map(j => s"CAST(SUM(q[$j]) AS HUGEINT) AS s$j").mkString(", ")
    val sArr = (1 to Dims).map(j => s"s$j").mkString(", ")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000) AS HUGEINT)) AS q,
       |    ${bucketDuck()} AS bucket
       |  FROM embeddings),
       |st AS (SELECT bucket, CAST(COUNT(*) AS HUGEINT) AS n,
       |    $sumCols,
       |    CAST(SUM(list_sum(list_transform(q, v -> v * v))) AS HUGEINT) AS t
       |  FROM e GROUP BY bucket),
       |sa AS (SELECT bucket, n, t, list_value($sArr) AS s FROM st),
       |j AS (SELECT e.vec_id, e.bucket, sa.n,
       |    list_sum(list_transform(range(1, ${Dims + 1}),
       |      i -> (sa.n * q[i] - s[i]) * (sa.n * q[i] - s[i]))) AS d2,
       |    sa.n * sa.n * sa.t
       |      - sa.n * list_sum(list_transform(s, v -> v * v)) AS sumd2
       |  FROM e JOIN sa ON e.bucket = sa.bucket)
       |SELECT vec_id, bucket, CAST(n AS BIGINT) AS n_bucket,
       |  CASE WHEN sumd2 > 0
       |    THEN CAST(d2 * n * 10000 // sumd2 AS BIGINT) ELSE 0 END AS share_e4,
       |  d2 * n > $OutlierC * sumd2 AS is_outlier
       |FROM j ORDER BY vec_id""".stripMargin
  }

  /** LSH-bucketed top-k: same queries, but candidates limited to the
    * query's sign bucket — the approximate, corpus-scale path.
    */
  def simTopkLsh(spark: SparkSession, d: String,
      numPlanes: Int = AutoPlanes): DataFrame = {
    val planes = resolvePlanes(spark, d, numPlanes)
    val emb = Tables.embeddings(spark, d)
      .withColumn("bucket", expr(bucketSpark(planes)))
    val queries = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
    emb.select(col("vec_id"), col("embedding"), col("bucket"))
      .join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosE6("q_emb", "embedding").as("cos_e6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_e6").desc, col("vec_id"))))
      .where(col("rank") <= K)
      .orderBy("q_id", "rank")
  }

  /** MULTI-PROBE LSH top-k: each query searches its own sign bucket AND
    * every bucket at Hamming distance 1 in the plane code (flip one of
    * the `numPlanes` sign bits) — the standard recall repair for
    * sign-LSH (Lv et al.'s multi-probe idea: the nearest misses sit in
    * the adjacent buckets, so probe them instead of building more hash
    * tables). With p planes this probes p+1 of the 2^p buckets —
    * recall rises sharply while the candidate set stays a
    * (p+1)/2^p sliver of the corpus.
    *
    * Scale shape: the probe fan-out happens on the QUERY side (q × (p+1)
    * rows, broadcast); the corpus keeps its single map-side bucket
    * assignment and is never shuffled (same contract as IVF, pinned in
    * PlanContractSpec). Buckets are disjoint, so probes can't duplicate
    * a candidate — no dedup stage needed.
    */
  def simTopkLshMulti(spark: SparkSession, d: String,
      numPlanes: Int = AutoPlanes): DataFrame = {
    val planes = resolvePlanes(spark, d, numPlanes)
    val emb = Tables.embeddings(spark, d)
      .withColumn("bucket", expr(bucketSpark(planes)))
    val queries = emb.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(expr(
          s"""concat(array(bucket),
             |  transform(sequence(0, ${planes - 1}),
             |    k -> cast(bucket ^ shiftleft(1, k) as int)))""".stripMargin))
          .as("q_bucket"))
    emb.select(col("vec_id"), col("embedding"), col("bucket"))
      .join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosE6("q_emb", "embedding").as("cos_e6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_e6").desc, col("vec_id"))))
      .where(col("rank") <= K)
      .orderBy("q_id", "rank")
  }

  val simTopkLshMultiSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketDuck()} AS bucket FROM embeddings),
       |q0 AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM e WHERE vec_id < $NumQueries),
       |q AS (SELECT q_id, q_emb, bucket AS q_bucket FROM q0
       |      UNION ALL
       |      SELECT q_id, q_emb, CAST(xor(bucket, 1 << k) AS INT) AS q_bucket
       |      FROM q0, generate_series(0, ${DefaultNumPlanes - 1}) gs(k)),
       |c AS (SELECT q_id, e.vec_id, ${cosE6Duck("q_emb", "e.embedding")} AS cos_e6
       |      FROM e, q WHERE e.bucket = q.q_bucket AND e.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cos_e6,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |      FROM c)
       |SELECT q_id, vec_id, cos_e6, rank FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  val simTopkLshSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketDuck()} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT q_id, e.vec_id, ${cosE6Duck("q_emb", "e.embedding")} AS cos_e6
       |      FROM e, q WHERE e.bucket = q.q_bucket AND e.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cos_e6,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |      FROM c)
       |SELECT q_id, vec_id, cos_e6, rank FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** IVF coarse-quantizer training: deterministic spherical k-means
    * (Lloyd's), the separate model-fit job that produces the centroids
    * the IVF queries probe.
    *
    * Determinism (the cross-engine contract):
    *  - init: the k vectors with the smallest sha256(vec_id) hex prefix
    *    (hash-seeded, reproducible on any engine/partitioning — the same
    *    key-pure principle as the curation splits);
    *  - a FIXED iteration count (no data-dependent stopping), so the
    *    oracle can unroll the same iterations in SQL;
    *  - centroids live as e6-scaled BIGINT coordinates: members'
    *    coordinates are floored to e6 integers, summed exactly, and
    *    integer-divided by the member count (both engines truncate
    *    toward zero), so every centroid is integer-exact — the only
    *    float math anywhere is the cosine assignment itself, which both
    *    engines run in double over identical float inputs;
    *  - assignment argmax ties resolve to the smallest cent_id; empty
    *    clusters keep their previous centroid.
    *
    * Scale shape: per iteration, ONE broadcast of the centroid row out,
    * map-side argmax over the streamed corpus, and one 8-group shuffle
    * of partial (count, 64 coordinate sums) aggregates back — the
    * centroids collected per round are a model artifact (k×64 longs),
    * exactly the driver-sized metadata a fit step legitimately holds.
    */
  def fitIvfCentroids(spark: SparkSession, d: String, k: Int = IvfK,
      iters: Int = IvfIters): Seq[(Long, Seq[Long])] = {
    require(k >= 1 && iters >= 0, s"need k >= 1 and iters >= 0, got ($k, $iters)")
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), expr(Ve6Expr).as("ve6"))
      .persist()
    try {
      val seeds = emb
        .select(col("ve6"),
          substring(sha2(col("vec_id").cast(StringType), 256), 1, 16).as("h"),
          col("vec_id"))
        .orderBy("h", "vec_id").limit(k)
        .collect()
      var cents: Seq[(Long, Seq[Long])] = seeds.toSeq.zipWithIndex.map {
        case (r, i) => (i.toLong, r.getSeq[Long](0))
      }
      for (_ <- 0 until iters) {
        val assigned = emb.crossJoin(broadcast(centroidRow(spark, cents)))
          .select(col("ve6"), bestCentId(col("embedding")).as("cent_id"))
        val aggCols = count(lit(1)).as("n") +: (0 until Dims).map(i =>
          sum(element_at(col("ve6"), i + 1)).as(s"s$i"))
        val upd = assigned.groupBy("cent_id")
          .agg(aggCols.head, aggCols.tail: _*)
          .collect().map { r =>
            val n = r.getLong(1)
            r.getLong(0) -> (0 until Dims).map(i => r.getLong(i + 2) / n)
          }.toMap
        cents = cents.map { case (cid, old) => (cid, upd.getOrElse(cid, old)) }
      }
      cents
    } finally emb.unpersist()
  }

  /** e6-integer coordinates of a float embedding (exact in both engines). */
  private val Ve6Expr =
    "transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))"

  /** Trained centroids as ONE broadcastable row of (cent_id, cent_emb)
    * structs; coordinates rendered back to float the same way the oracle
    * does (BIGINT → /1e6 in double → round-to-nearest float).
    */
  private def centroidRow(spark: SparkSession,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cid, ce6) =>
      (cid, ce6.map(v => (v.toDouble / 1e6).toFloat))
    }.toDF("cent_id", "cent_emb")
      .agg(collect_list(struct(col("cent_id"), col("cent_emb"))).as("cents"))
  }

  /** (cos, -cent_id) structs over the broadcast `cents` array:
    * lexicographic max = best cosine, ties to the smallest cent_id.
    */
  private def centScored(embCol: Column): Column = {
    import org.apache.spark.sql.functions.{transform => arrTransform}
    arrTransform(col("cents"), c => struct(
      graft.functions.GraftFunctions
        .cosine_e6(embCol, c.getField("cent_emb")).as("cos"),
      (-c.getField("cent_id")).as("neg_id")))
  }

  private def bestCentId(embCol: Column): Column =
    -array_max(centScored(embCol)).getField("neg_id")

  /** Unrolled deterministic-k-means CTE chain ending in centroid table
    * `c$iters(cent_id, ce6)` — the oracle twin of [[fitIvfCentroids]].
    */
  private def kmeansDuckCtes(k: Int = IvfK, iters: Int = IvfIters): String = {
    val e =
      """e AS (SELECT vec_id, embedding,
        |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ve6
        |  FROM embeddings)""".stripMargin
    val init =
      s"""c0 AS (SELECT cent_id, ce6 FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY substr(sha256(CAST(vec_id AS VARCHAR)), 1, 16), vec_id) - 1 AS BIGINT) AS cent_id,
         |    ve6 AS ce6 FROM e) WHERE cent_id < $k)""".stripMargin
    val steps = (0 until iters).map { t =>
      s"""f$t AS (SELECT cent_id, list_transform(ce6, v -> CAST(v / 1000000.0 AS FLOAT)) AS cf FROM c$t),
         |a$t AS (SELECT vec_id, ve6, cent_id FROM (
         |  SELECT e.vec_id, e.ve6, f.cent_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosE6Duck("e.embedding", "f.cf")} DESC, f.cent_id) AS rn
         |  FROM e, f$t f) WHERE rn = 1),
         |s$t AS (SELECT a.cent_id, g.d, CAST(sum(a.ve6[g.d]) AS BIGINT) AS sv, count(*) AS n
         |  FROM a$t a, generate_series(1, $Dims) g(d) GROUP BY a.cent_id, g.d),
         |u$t AS (SELECT cent_id, list(sv // n ORDER BY d) AS ce6 FROM s$t GROUP BY cent_id),
         |c${t + 1} AS (SELECT p.cent_id, coalesce(u.ce6, p.ce6) AS ce6
         |  FROM c$t p LEFT JOIN u$t u USING (cent_id))""".stripMargin
    }
    (e +: init +: steps).mkString(",\n")
  }

  /** IVF training knobs. k=8 / 2 Lloyd's iterations are sized for the
    * test corpus; at 10^11 vectors production runs nlist ≈ sqrt(n) (a
    * few hundred thousand) centroids trained on a corpus SAMPLE, and the
    * per-iteration plan here (broadcast out, argmax map-side, k-group
    * partial-agg back) is exactly the shape that scales to it.
    */
  val IvfK = 8
  val IvfIters = 2

  /** Probe-cell count shared by the Scala defaults of [[simTopkIvf]] /
    * [[simTopkIvfPq]] and both SQL oracles' `crank <=` bounds — one
    * constant so a default change cannot desynchronize the oracles.
    */
  val DefaultNprobe = 2

  /** Trained-centroid audit query: final centroids (integer-exact e6
    * coordinates digested to a weighted checksum + min/max) and the
    * member count each attracts under the final assignment — the
    * "emit + check the model" half of the IVF contract; the DuckDB twin
    * re-derives the identical iterations in unrolled SQL.
    */
  def ivfCentroids(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cents = fitIvfCentroids(spark, d)
    val assigned = Tables.embeddings(spark, d)
      .crossJoin(broadcast(centroidRow(spark, cents)))
      .select(col("vec_id"), bestCentId(col("embedding")).as("cent_id"))
      .groupBy("cent_id").agg(count(lit(1)).as("n_assigned"))
    cents.toDF("cent_id", "ce6")
      .join(assigned, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        expr(s"aggregate(zip_with(ce6, sequence(1, $Dims), (v, i) -> v * i), 0L, (a, x) -> a + x)")
          .as("c_checksum"),
        expr("array_min(ce6)").as("c_min"),
        expr("array_max(ce6)").as("c_max"))
      .orderBy("cent_id")
  }

  val ivfCentroidsSql: String =
    s"""WITH ${kmeansDuckCtes()},
       |ff AS (SELECT cent_id, list_transform(ce6, v -> CAST(v / 1000000.0 AS FLOAT)) AS cf FROM c$IvfIters),
       |af AS (SELECT vec_id, cent_id FROM (
       |  SELECT e.vec_id, f.cent_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosE6Duck("e.embedding", "f.cf")} DESC, f.cent_id) AS rn
       |  FROM e, ff f) WHERE rn = 1),
       |cnt AS (SELECT cent_id, count(*) AS n_assigned FROM af GROUP BY cent_id)
       |SELECT c.cent_id,
       |  coalesce(cnt.n_assigned, 0) AS n_assigned,
       |  CAST(list_sum(list_transform(range(1, ${Dims + 1}), i -> ce6[i] * i)) AS BIGINT) AS c_checksum,
       |  CAST(list_aggregate(ce6, 'min') AS BIGINT) AS c_min,
       |  CAST(list_aggregate(ce6, 'max') AS BIGINT) AS c_max
       |FROM c$IvfIters c LEFT JOIN cnt USING (cent_id) ORDER BY cent_id""".stripMargin

  /** Embedding CLUSTER-QUALITY audit: the cells × labels contingency of
    * the trained IVF quantizer, with per-cell majority label and purity
    * — the standard "do the learned cells respect the known classes"
    * check run after (re)fitting an embedding index, and the quality
    * gate for cluster-balanced data selection. Ties on the majority
    * label resolve to the smallest label (integer compare — identical
    * in both engines).
    *
    * Scale shape: assignment is the same broadcast-centroids map-side
    * argmax as the IVF queries (the corpus is never shuffled); the
    * contingency is one (cell, label) aggregation of map-side partials,
    * and everything after operates on the k×|labels| model-sized frame
    * — the majority pick is a single struct-max aggregate, not a
    * window. Cells that attract no vectors are absent (consistent in
    * both engines).
    */
  def clusterPurity(spark: SparkSession, d: String): DataFrame = {
    val cents = fitIvfCentroids(spark, d)
    val ct = Tables.embeddings(spark, d)
      .crossJoin(broadcast(centroidRow(spark, cents)))
      .select(col("label"), bestCentId(col("embedding")).as("cent_id"))
      .groupBy("cent_id", "label").agg(count(lit(1)).as("n"))
    ct.groupBy("cent_id")
      .agg(sum("n").as("n_cell"),
        count(lit(1)).as("n_labels"),
        max(struct(col("n"), (-col("label")).as("neg"))).as("m"))
      .select(col("cent_id"), col("n_cell"),
        (-col("m.neg")).as("top_label"), col("m.n").as("n_top"),
        expr("m.n * 10000L div n_cell").as("purity_e4"),
        col("n_labels"))
      .orderBy("cent_id")
  }

  val clusterPuritySql: String =
    s"""WITH ${kmeansDuckCtes()},
       |ff AS (SELECT cent_id, list_transform(ce6, v -> CAST(v / 1000000.0 AS FLOAT)) AS cf FROM c$IvfIters),
       |af AS (SELECT vec_id, cent_id FROM (
       |  SELECT e.vec_id, f.cent_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosE6Duck("e.embedding", "f.cf")} DESC, f.cent_id) AS rn
       |  FROM e, ff f) WHERE rn = 1),
       |ct AS (SELECT af.cent_id, e2.label, count(*) AS n
       |       FROM af JOIN embeddings e2 USING (vec_id) GROUP BY 1, 2),
       |cell AS (SELECT cent_id, CAST(sum(n) AS BIGINT) AS n_cell,
       |           count(*) AS n_labels FROM ct GROUP BY 1),
       |top AS (SELECT cent_id, label AS top_label, n AS n_top FROM (
       |    SELECT cent_id, label, n, row_number() OVER (PARTITION BY cent_id
       |      ORDER BY n DESC, label) AS rn FROM ct) WHERE rn = 1)
       |SELECT cell.cent_id, cell.n_cell, top.top_label, top.n_top,
       |  CAST(top.n_top * 10000 // cell.n_cell AS BIGINT) AS purity_e4,
       |  cell.n_labels
       |FROM cell JOIN top USING (cent_id) ORDER BY cent_id""".stripMargin

  /** Per-cell cap shared by [[clusterBalanced]]'s Scala default and its
    * SQL oracle — interpolated into both so they cannot drift. Sized so
    * the fixture's uneven cells produce BOTH kept and dropped rows
    * (mean cell ≈ corpus/k).
    */
  val DefaultCellCap = 32L

  /** CLUSTER-BALANCED data selection (the SemDeDup/DoReMi-adjacent
    * diversity sampler): assign every vector to its trained IVF cell
    * and keep the `cap` hash-smallest vectors per cell — so no single
    * semantic region dominates the training mix, the embedding-space
    * twin of [[graft.operators.Curation.sourceCaps]]'s per-domain rule.
    * Key-pure (sha256 of vec_id), so the panel is reproducible across
    * engines and partitionings and a vector's verdict can only flip
    * when its cell crosses the cap. Emits the full verdict report
    * (rank, cell population, kept, overflow) — the review artifact for
    * sizing caps against [[clusterPurity]]'s quality gate.
    *
    * Scale shape: assignment is the same broadcast-centroids map-side
    * argmax as every IVF query (the corpus never shuffles for the
    * model); then ONE exchange on `cent_id` shared by both windows
    * (rank + population). nlist ≈ sqrt(corpus) in production keeps
    * cells near-uniform by construction; a hot cell is exactly the
    * skew AQE's window-split handles, and the cap verdict itself is
    * what prevents the hot cell from dominating downstream.
    */
  def clusterBalanced(spark: SparkSession, d: String,
      cap: Long = DefaultCellCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 1, s"cell cap must be at least 1, got $cap")
    val cents = fitIvfCentroids(spark, d)
    val byCell = Window.partitionBy("cent_id")
    Tables.embeddings(spark, d)
      .crossJoin(broadcast(centroidRow(spark, cents)))
      .select(col("vec_id"), bestCentId(col("embedding")).as("cent_id"))
      .withColumn("h", substring(sha2(col("vec_id").cast(StringType), 256), 1, 16))
      .withColumn("cell_rank",
        row_number().over(byCell.orderBy("h", "vec_id")).cast(LongType))
      .withColumn("n_in_cell", count(lit(1)).over(byCell))
      .select(col("vec_id"), col("cent_id"), col("cell_rank"), col("n_in_cell"),
        (col("cell_rank") <= cap).as("kept"),
        greatest(col("n_in_cell") - cap, lit(0L)).as("n_dropped"))
      .orderBy("vec_id")
  }

  val clusterBalancedSql: String =
    s"""WITH ${kmeansDuckCtes()},
       |ff AS (SELECT cent_id, list_transform(ce6, v -> CAST(v / 1000000.0 AS FLOAT)) AS cf FROM c$IvfIters),
       |af AS (SELECT vec_id, cent_id FROM (
       |  SELECT e.vec_id, f.cent_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosE6Duck("e.embedding", "f.cf")} DESC, f.cent_id) AS rn
       |  FROM e, ff f) WHERE rn = 1),
       |r AS (SELECT vec_id, cent_id,
       |  row_number() OVER (PARTITION BY cent_id
       |    ORDER BY substr(sha256(CAST(vec_id AS VARCHAR)), 1, 16), vec_id) AS cell_rank,
       |  count(*) OVER (PARTITION BY cent_id) AS n_in_cell
       |  FROM af)
       |SELECT vec_id, cent_id, CAST(cell_rank AS BIGINT) AS cell_rank,
       |  CAST(n_in_cell AS BIGINT) AS n_in_cell,
       |  cell_rank <= $DefaultCellCap AS kept,
       |  CAST(greatest(n_in_cell - $DefaultCellCap, 0) AS BIGINT) AS n_dropped
       |FROM r ORDER BY vec_id""".stripMargin

  /** Panel size shared by [[kcenterSelect]]'s Scala default and its SQL
    * oracle (which unrolls k−1 greedy rounds).
    */
  val KCenterK = 6

  /** GREEDY k-CENTER selection (farthest-point traversal, Gonzalez
    * 1985): build a k-vector panel where each pick is the corpus vector
    * FARTHEST from everything already chosen — the classic 2-approx
    * coreset/diversity seed used for active-learning cores and for
    * picking maximally-spread exemplars before expensive human review.
    * Complements [[clusterBalanced]]: that CAPS dense regions, this
    * actively seeks the sparse ones.
    *
    * Determinism (the cross-engine contract): the seed is the vector
    * with the smallest (sha256(vec_id), vec_id) — the same hash-seeded
    * init as the k-means fit; distance is cosine in e6 integers (the
    * shared kernel), "farthest" = smallest MAXIMUM cosine to the panel,
    * ties to the smallest vec_id. Each round's winner carries the
    * max-cosine it was chosen at (NULL for the seed) — the
    * radius-schedule diagnostic a coverage argument reads.
    *
    * Scale shape: the panel is a model artifact (k×dims floats) that
    * travels as ONE broadcast row; each of the k−1 rounds is a pure
    * map-side max-over-panel projection followed by a global
    * TakeOrdered(1) — no shuffle of the corpus, k driver-side one-row
    * collects total (the same legitimacy class as the k-means fit's
    * per-iteration model collect). At production k (hundreds), batch
    * variants (k-center++ oversampling a la k-means‖) replace the
    * per-pick round trip; the per-round plan is unchanged.
    */
  def kcenterSelect(spark: SparkSession, d: String,
      k: Int = KCenterK): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{transform => arrTransform}
    require(k >= 1, s"panel size must be at least 1, got $k")
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).persist()
    try {
      val seed = emb
        .select(col("vec_id"), col("embedding"),
          substring(sha2(col("vec_id").cast(StringType), 256), 1, 16).as("h"))
        .orderBy("h", "vec_id").limit(1).collect().head
      var chosen = Vector[(Long, Seq[Float], Option[Long])](
        (seed.getLong(0), seed.getSeq[Float](1), None))
      for (_ <- 1 until k) {
        val panel = chosen.map { case (id, e, _) => (id, e) }
          .toDF("pick_id", "pick_emb")
          .agg(collect_list(struct(col("pick_id"), col("pick_emb"))).as("picks"))
        val next = emb
          .where(!col("vec_id").isin(chosen.map(_._1): _*))
          .crossJoin(broadcast(panel))
          .select(col("vec_id"), col("embedding"),
            array_max(arrTransform(col("picks"), p =>
              graft.functions.GraftFunctions
                .cosine_e6(col("embedding"), p.getField("pick_emb")))).as("mc"))
          .orderBy(col("mc").asc, col("vec_id").asc).limit(1)
          .collect().head
        chosen :+= ((next.getLong(0), next.getSeq[Float](1),
          Some(next.getLong(2))))
      }
      chosen.zipWithIndex.map { case ((id, _, mc), i) => (i.toLong, id, mc) }
        .toDF("pick_rank", "vec_id", "max_cos_e6")
        .orderBy("pick_rank")
    } finally emb.unpersist()
  }

  val kcenterSelectSql: String = {
    val rounds = (1 until KCenterK).map { r =>
      s"""s$r AS (SELECT e.vec_id, CAST(max(${cosE6Duck("e.embedding", "c.embedding")}) AS BIGINT) AS mc
         |  FROM e, c${r - 1} c
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM c${r - 1})
         |  GROUP BY e.vec_id),
         |p$r AS (SELECT s.vec_id, e.embedding, s.mc, CAST($r AS BIGINT) AS pick_rank
         |  FROM s$r s JOIN e USING (vec_id) ORDER BY s.mc ASC, s.vec_id LIMIT 1),
         |c$r AS (SELECT vec_id, embedding, mc, pick_rank FROM c${r - 1}
         |        UNION ALL SELECT vec_id, embedding, mc, pick_rank FROM p$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |p0 AS (SELECT vec_id, embedding FROM (
       |  SELECT vec_id, embedding,
       |    substr(sha256(CAST(vec_id AS VARCHAR)), 1, 16) AS h FROM e)
       |  ORDER BY h, vec_id LIMIT 1),
       |c0 AS (SELECT vec_id, embedding, CAST(NULL AS BIGINT) AS mc,
       |         CAST(0 AS BIGINT) AS pick_rank FROM p0),
       |$rounds
       |SELECT pick_rank, vec_id, mc AS max_cos_e6
       |FROM c${KCenterK - 1} ORDER BY pick_rank""".stripMargin
  }

  /** Power-iteration count shared by [[embedPca]]'s Scala default and
    * its SQL oracle (which unrolls the same rounds).
    */
  val PcaIters = 3

  /** TOP PRINCIPAL COMPONENT of the embedding corpus by fixed-round
    * power iteration, with every vector's projection onto it — the
    * "All-but-the-top" embedding post-process (Mu & Viswanath 2018:
    * subtracting the mean and the top PCs measurably improves embedding
    * isotropy) and the diagnostic for a corpus-wide dominant direction
    * (a too-strong top PC usually means a length/frequency artifact).
    *
    * Determinism (the cross-engine contract): exact-integer e6
    * coordinates; the mean is truncated integer division; the init
    * vector is the CENTERED hash-smallest vec_id's coordinates (the
    * k-means seeding rule); each round computes w = Σ_d c_d·(c_d·v)
    * with per-row dots floored back to e6 scale and Decimal/HUGEINT
    * column sums, then renormalizes by MAX-ABS to e6 integers (no
    * sqrt anywhere, so there is no libm rounding to disagree about);
    * a degenerate all-zero round keeps direction via a greatest(,1)
    * guard on the divisor. Both engines truncate integer division
    * toward zero (verified property this repo's k-means already
    * relies on).
    *
    * Scale shape: μ and each round's w are model artifacts (64 numbers)
    * — the corpus never shuffles: every round is one broadcast-literal
    * projection (map-side dot) plus ONE 64-group aggregation of
    * map-side partial sums, exactly the k-means fit legitimacy class;
    * iters×(1 collect of 64 rows) on the driver. Decimal(38,0)
    * accumulation because Σ_d c[i]·dot overflows BIGINT at ~10⁵ docs
    * per partition-free bound (c·dot ≈ 10¹⁴ per row).
    */
  def embedPca(spark: SparkSession, d: String,
      iters: Int = PcaIters): DataFrame = {
    import org.apache.spark.sql.functions.{zip_with => arrZip}
    require(iters >= 1, s"need at least one power-iteration round, got $iters")
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"), expr(Ve6Expr).as("ve6")).persist()
    try {
      val n = emb.count()
      val sums = emb.agg(
        sum(element_at(col("ve6"), 1)).as("s0"),
        (1 until Dims).map(i =>
          sum(element_at(col("ve6"), i + 1)).as(s"s$i")): _*).collect().head
      val mu: IndexedSeq[Long] = (0 until Dims).map(i => sums.getLong(i) / n)
      val muLit = array(mu.map(lit(_)): _*)
      val withC = emb.withColumn("c", arrZip(col("ve6"), muLit, (x, y) => x - y))
      val seed = withC
        .select(col("c"),
          substring(sha2(col("vec_id").cast(StringType), 256), 1, 16).as("h"),
          col("vec_id"))
        .orderBy("h", "vec_id").limit(1).collect().head.getSeq[Long](0)
      val seedMax = seed.map(math.abs).max.max(1L)
      var v: IndexedSeq[Long] = seed.map(x => x * 1000000L / seedMax).toIndexedSeq
      def dotCol: Column = expr(
        s"""aggregate(zip_with(c, array(${v.mkString("L,")}L),
           |  (x, y) -> x * y), 0L, (a, x) -> a + x) div 1000000L"""
          .stripMargin)
      for (_ <- 0 until iters) {
        val wRow = withC.withColumn("dot", dotCol)
          .agg(
            sum(element_at(col("c"), 1).cast(DecimalType(38, 0)) * col("dot")).as("w0"),
            (1 until Dims).map(i =>
              sum(element_at(col("c"), i + 1).cast(DecimalType(38, 0)) * col("dot"))
                .as(s"w$i")): _*)
          .collect().head
        val w: IndexedSeq[BigInt] =
          (0 until Dims).map(i => BigInt(wRow.getDecimal(i).toBigInteger))
        val maxAbs = w.map(_.abs).max.max(BigInt(1))
        v = w.map(wi => (wi * 1000000 / maxAbs).toLong)
      }
      val checksum = v.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
      withC.select(col("vec_id"), col("label"), dotCol.as("proj"),
          lit(checksum).as("pc_checksum"))
        .orderBy("vec_id")
    } finally emb.unpersist()
  }

  val embedPcaSql: String = {
    val rounds = (1 to PcaIters).map { t =>
      s"""d$t AS (SELECT c.vec_id, c.c,
         |  CAST(list_sum(list_transform(range(1, ${Dims + 1}), i -> c.c[i] * v[i])) // 1000000 AS BIGINT) AS dot
         |  FROM c, v${t - 1}),
         |w$t AS (SELECT g.d, sum(CAST(c[g.d] AS HUGEINT) * dot) AS w
         |  FROM d$t, generate_series(1, $Dims) g(d) GROUP BY g.d),
         |m$t AS (SELECT greatest(max(abs(w)), 1) AS m FROM w$t),
         |v$t AS (SELECT list(CAST(w * 1000000 // m AS BIGINT) ORDER BY d) AS v
         |  FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, label,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ve6
       |  FROM embeddings),
       |n AS (SELECT count(*) AS n FROM e),
       |mu AS (SELECT list(s // n ORDER BY d) AS mu FROM (
       |    SELECT g.d, CAST(sum(ve6[g.d]) AS BIGINT) AS s
       |    FROM e, generate_series(1, $Dims) g(d) GROUP BY g.d), n),
       |c AS (SELECT vec_id, label,
       |  list_transform(range(1, ${Dims + 1}), i -> ve6[i] - mu[i]) AS c
       |  FROM e, mu),
       |seed AS (SELECT c FROM (
       |    SELECT c, substr(sha256(CAST(vec_id AS VARCHAR)), 1, 16) AS h, vec_id
       |    FROM c) ORDER BY h, vec_id LIMIT 1),
       |v0 AS (SELECT list_transform(c, x -> CAST(x * 1000000 //
       |    greatest(list_aggregate(list_transform(c, y -> abs(y)), 'max'), 1) AS BIGINT)) AS v
       |  FROM seed),
       |$rounds,
       |ck AS (SELECT CAST(list_sum(list_transform(range(1, ${Dims + 1}), i -> v[i] * i)) AS BIGINT) AS pc_checksum
       |  FROM v$PcaIters)
       |SELECT c.vec_id, c.label,
       |  CAST(list_sum(list_transform(range(1, ${Dims + 1}), i -> c.c[i] * v[i])) // 1000000 AS BIGINT) AS proj,
       |  ck.pc_checksum
       |FROM c, v$PcaIters, ck ORDER BY c.vec_id""".stripMargin
  }

  /** IVF (inverted-file) top-k: the coarse quantizer — k-means centroids
    * TRAINED by [[fitIvfCentroids]] — assigns every vector to its
    * nearest centroid; queries probe their 2 nearest centroids and
    * search only those inverted lists.
    *
    * Scale shape: the centroid set is a model artifact — small by
    * construction (nlist ≪ corpus) — so it travels as ONE broadcast row
    * holding an array of (cent_id, cent_emb) structs. Assignment is then
    * a pure map-side projection: each corpus row computes all centroid
    * cosines in one pass and takes the array argmax — the corpus is
    * never shuffled, never blown up nlist×, and never windowed. The
    * probe side is tiny and broadcast, so the candidate join streams the
    * corpus too; only candidates (≈ nprobe/nlist of the corpus) reach
    * the top-k shuffle.
    */
  def simTopkIvf(spark: SparkSession, d: String,
      nprobe: Int = DefaultNprobe): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val centArr = centroidRow(spark, fitIvfCentroids(spark, d))
    val assign = emb.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"),
        bestCentId(col("embedding")).as("cent_id"))
    // queries probe their 2 nearest centroids — same map-side argmax,
    // sorted descending and sliced instead of windowed
    val probes = emb.where(col("vec_id") < NumQueries)
      .crossJoin(broadcast(centArr))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(slice(reverse(array_sort(centScored(col("embedding")))), 1, nprobe))
          .as("probe"))
      .select(col("q_id"), col("q_emb"), (-col("probe.neg_id")).as("cent_id"))
    broadcast(probes).join(assign, Seq("cent_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosE6("q_emb", "embedding").as("cos_e6"))
      .groupBy("q_id", "vec_id").agg(max("cos_e6").as("cos_e6")) // dedupe multi-probe hits
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_e6").desc, col("vec_id"))))
      .where(col("rank") <= K)
      .orderBy("q_id", "rank")
  }

  val simTopkIvfSql: String =
    s"""WITH ${kmeansDuckCtes()},
       |cents AS (SELECT cent_id, list_transform(ce6, v -> CAST(v / 1000000.0 AS FLOAT)) AS cent_emb FROM c$IvfIters),
       |assign AS (
       |  SELECT vec_id, embedding, cent_id FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Duck("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS crank
       |    FROM embeddings e, cents c) WHERE crank = 1),
       |probes AS (
       |  SELECT q_id, q_emb, cent_id FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosE6Duck("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS crank
       |    FROM embeddings e, cents c WHERE e.vec_id < $NumQueries) WHERE crank <= $DefaultNprobe),
       |cand AS (
       |  SELECT p.q_id, a.vec_id,
       |    max(${cosE6Duck("p.q_emb", "a.embedding")}) AS cos_e6
       |  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
       |  WHERE a.vec_id <> p.q_id GROUP BY p.q_id, a.vec_id),
       |r AS (SELECT q_id, vec_id, cos_e6,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
       |      FROM cand)
       |SELECT q_id, vec_id, cos_e6, rank FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** CROSS-MODAL consistency audit: every verified TEXT near-dup pair
    * (the MinHash-LSH funnel's output) annotated with its EMBEDDING
    * cosine — the pipeline health check for the embedding stage (text
    * near-dups whose embeddings disagree mean the encoder, the id
    * alignment, or the dedup threshold is broken; SemDeDup-style
    * semantic dedup silently degrades on exactly that fault). The
    * documents and embeddings tables share the id space by
    * construction; a pair whose embedding row is MISSING surfaces with
    * a null cosine and a false verdict rather than vanishing.
    *
    * Scale: the pair list is the already-bucketed funnel output
    * (never all-pairs); each pair picks up its two vectors through
    * id-keyed joins and the cosine is one compiled-kernel evaluation
    * per pair. Model-sized everything after the funnel.
    */
  /** Agreement threshold, interpolated into both the Scala default and
    * the oracle SQL so an edit cannot desynchronize them.
    */
  val DefaultCrossmodalMinCos = 300000L

  /** Shared guarded-collapse prelude of both crossmodal faces: the
    * collapsed text funnel, each member's embedding (one LINEAR LEFT
    * join — a doc without an embedding row is an alignment fault, not a
    * skip), the per-group uniformity verdict, and the canonical-level
    * cosine for every needed (ga, gb) key INCLUDING self keys (intra
    * pairs of a uniform group score cos(v, v) through the same kernel,
    * never an assumed literal). memberEmb and canonCos come back
    * persisted and forced.
    *
    * (Semantics in the audit Scaladoc above.) Guarded group-collapse:
    * the naive shape — expand member pairs, LEFT-join embeddings twice
    * and run the cosine per pair — multiplies a ~1KB vector payload
    * join by the duplication quadratic (measured: 253 s at the 100×
    * mass-duplication replica, 55× the 10× time, all in the two wide
    * joins). But unlike text metrics, an embedding is NOT a function of
    * the text — identical docs may legitimately carry different
    * vectors — so the collapse cannot be assumed; it must be GUARDED:
    * one linear pass joins members to embeddings and checks, per
    * exact-dup group, that every member has the same non-null vector
    * (`uniform`). Pairs between uniform groups inherit their
    * canonicals' cosine through a narrow (ga, gb) broadcast join; pairs
    * touching a non-uniform group (mixed vectors, missing rows — the
    * very faults this audit surfaces) fall back to the per-pair wide
    * joins, which are then small. Output is row-identical to the naive
    * shape; CrossmodalCollapseSpec pins it, including a doctored
    * mixed-embedding fixture that forces the fallback.
    */
  private def crossmodalPrelude(spark: SparkSession, d: String): (
      DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (membership, elig, gd) = Dedup.minhashFunnel(spark, d)
    val mem = membership.select("doc_id", "gid")
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    // TOUCHED-GROUP restriction: every downstream consumer of the class
    // frame, the uniformity verdict and the canonical cosines reads only
    // groups that appear in a funnel pair (gd) or are eligible dup
    // groups (elig) — the corpus's untouched singleton mass (the
    // overwhelming fraction at 100 TB) contributes nothing to either
    // audit face. Semi-joining members to the touched-gid set BEFORE
    // the vector fetch and the (gid, embedding) class aggregation makes
    // both shuffles pair-mass-sized instead of corpus-sized.
    // materialized (persist + count) so the planner KNOWS these are
    // small: memT feeds two consumers (the vector semi-prune and the
    // member join) and must evaluate once, as a broadcastable side
    val touched = gd.select(col("ga").as("gid"))
      .unionByName(gd.select(col("gb").as("gid")))
      .unionByName(elig.select("gid"))
    // persisted but NOT separately counted: the cls checkpoint job below
    // is the first action and fills this cache for both its consumer
    // branches (the vector semi-prune and the member join) under the
    // block-manager compute locks — the dedicated count() was one more
    // job for the same fill
    val memT = mem.join(touched, Seq("gid"), "left_semi").persist()
    // fetch vectors for touched members only: the semi-join prunes the
    // embeddings scan to touched ids (broadcastable id set — one
    // streamed scan, no corpus-wide payload shuffle), and the LEFT join
    // that follows keeps a member with no embedding row visible as the
    // alignment fault it is
    val embT = emb.join(memT.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val memberEmb = memT
      .join(embT, col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), col("gid"), col("embedding"))
    // ONE aggregation pass over the member⋈embedding join produces the
    // EMBEDDING-CLASS frame — per exact-dup group, the partition of its
    // members by vector value (null = its own class), with sizes and
    // the canonical's class flagged. Everything downstream (uniformity,
    // the canonical vector, the census's fault-mass collapse, doc
    // counting) derives from this class-sized frame; no member-level
    // vector frame is ever materialized (the r9 shape persisted ~6M
    // float arrays spilling to disk for 126 s at the 100× replica).
    val cls = memberEmb
      .groupBy(col("gid"), col("embedding"))
      .agg(count(lit(1)).as("csz"),
        max(col("doc_id") === col("gid")).as("has_canon"))
      // localCheckpoint, not persist: the class frame sits atop the
      // whole funnel lineage through touched/memT, and the census
      // references it (and its derivatives) a dozen times — a cached
      // frame keeps the full logical tree at every use site and the
      // DRIVER pays minutes of repeated analysis/optimization over it
      // (measured: ~160 s of census planning at sf0.1 against ~18 s of
      // actual prelude execution). Severing to a LogicalRDD leaf makes
      // every downstream plan start from a class-sized scan.
      .localCheckpoint(true)
    // cls (eager) was memT's only transitive consumer — release the
    // cached membership now instead of letting it sit in the cache
    // manager until the runner's release
    memT.unpersist()
    // LAZY checkpoint: canonCos below is the next action and materializes
    // (and severs) this group-sized frame inside its own job — the eager
    // form paid a dedicated job for the same result
    val perGroup = cls.groupBy("gid")
      .agg(sum("csz").as("n_mem"),
        sum(when(col("embedding").isNotNull, col("csz")).otherwise(lit(0L)))
          .as("n_emb"),
        count(when(col("embedding").isNotNull, lit(1))).as("n_cls"),
        first(when(col("has_canon"), col("embedding")), ignoreNulls = true)
          .as("rep_emb"))
      .localCheckpoint(false)
    val groupInfo = perGroup.select(col("gid"),
      (col("n_emb") === col("n_mem") && col("n_cls") === 1).as("uniform"),
      col("n_mem"))
    val repEmb = perGroup.select(col("gid"), col("rep_emb"))
    val canonCos = gd.select("ga", "gb")
      .unionByName(elig.select(col("gid").as("ga"), col("gid").as("gb")))
      .distinct()
      .join(repEmb.select(col("gid").as("ga"), col("rep_emb").as("emb_a")), "ga")
      .join(repEmb.select(col("gid").as("gb"), col("rep_emb").as("emb_b")), "gb")
      .select(col("ga"), col("gb"),
        when(col("emb_a").isNotNull && col("emb_b").isNotNull,
          cosE6("emb_a", "emb_b")).as("cos_can"))
      .localCheckpoint(true)
    (mem, elig, gd, cls.select("gid", "embedding", "csz"), groupInfo, canonCos)
  }

  /** Per-pair cosine for a SMALL persisted pair frame: two INNER joins
    * against the embeddings table. The pair side is cached and counted,
    * so the planner sees its true (tiny) size and broadcasts it — the
    * embeddings scan streams ONCE per side with no 6M-row shuffle (the
    * left-join formulation shuffled the whole table twice, because a
    * left join cannot broadcast its preserved side). A pair missing
    * from the result (absent embedding row) reads back as a null
    * cosine through the caller's left join — the same verdict the
    * left-join shape produced.
    */
  private def pairCosines(spark: SparkSession, d: String,
      pairFrame: DataFrame): DataFrame = {
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    pairFrame.select("doc_a", "doc_b")
      .join(emb.toDF("doc_a", "emb_a"), Seq("doc_a"))
      .join(emb.toDF("doc_b", "emb_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        when(col("emb_a").isNotNull && col("emb_b").isNotNull,
          cosE6("emb_a", "emb_b")).as("cos_e6"))
  }

  /** AUDIT face: the expanded per-pair dump (doc_a, doc_b,
    * est_jaccard_e4, cos_e6, embeds_agree) — output volume is
    * pair-expansion-bound under mass duplication; the standing pipeline
    * face is the bounded census [[crossmodalAudit]].
    */
  def crossmodalAuditPairs(spark: SparkSession, d: String,
      minCosE6: Long = DefaultCrossmodalMinCos): DataFrame = {
    val (mem, elig, gd, _, groupInfo, canonCos) = crossmodalPrelude(spark, d)
    // expanded pairs, KEEPING group ids (narrow): cross-group pairs from
    // the canonical frame, intra-group pairs with the identical-content
    // estimate literal — the Dedup.expandMemberPairs expansion, inlined so
    // ga/gb survive for the payload join
    val cross = gd
      .join(mem.select(col("gid").as("ga"), col("doc_id").as("da")), "ga")
      .join(mem.select(col("gid").as("gb"), col("doc_id").as("db")), "gb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("ga"), col("gb"), col("est_jaccard_e4"))
    val im = mem.join(elig, Seq("gid"), "left_semi")
    val intra = im.as("x")
      .join(im.as("y"),
        col("x.gid") === col("y.gid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.gid").as("ga"), col("y.gid").as("gb"),
        lit(10000L).as("est_jaccard_e4"))
    val expanded = cross.unionByName(intra)
      .join(groupInfo.select(col("gid").as("ga"), col("uniform").as("ua")), "ga")
      .join(groupInfo.select(col("gid").as("gb"), col("uniform").as("ub")), "gb")
    val fast = expanded.where(col("ua") && col("ub"))
      .join(canonCos, Seq("ga", "gb"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard_e4"),
        col("cos_can").as("cos_e6"))
    // the slow side is fault-mass-sized (small by construction): cached
    // and counted, so pairCosines sees its true size and broadcasts it
    val slowPairs = expanded.where(!(col("ua") && col("ub")))
      .select("doc_a", "doc_b", "est_jaccard_e4")
      .persist()
    slowPairs.count()
    val slow = slowPairs
      .join(pairCosines(spark, d, slowPairs), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard_e4"), col("cos_e6"))
    fast.unionByName(slow)
      .withColumn("embeds_agree",
        coalesce(col("cos_e6") >= minCosE6, lit(false)))
      .orderBy("doc_a", "doc_b")
  }

  /** CROSS-MODAL audit, DEFAULT (scale-safe) face: the member-pair
    * census by (signature-agreement estimate, embedding verdict) — how
    * many text-near-dup member pairs the embedding stage agrees on at
    * each estimate level, and how many documents they touch. The health
    * signal the audit exists for (text near-dups whose embeddings
    * disagree) is the `embeds_agree = false` row mass; drilling into
    * WHICH pairs is the audit face [[crossmodalAuditPairs]]
    * (`q_crossmodal_audit_pairs`).
    *
    * Scale shape: uniform×uniform canonical pairs (the overwhelming
    * mass — uniformity is the healthy case) contribute their canonical
    * cosine verdict at |A|·|B| member-pair multiplicity without ever
    * expanding; uniform eligible groups contribute C(s,2) self-cosine
    * pairs. Only pairs TOUCHING a non-uniform group (mixed vectors,
    * missing rows — the fault mass this audit surfaces, small by
    * construction) expand to member level for per-pair cosines. The r9
    * 100× replica spent 243 s materializing the expanded dump this
    * census replaces; n_docs dedupes member touches per key with one
    * linear membership join, never a pair expansion.
    */
  /** Total order over optional vectors (arrays are comparable; a null
    * embedding sorts into its own leading class) — the class-pair
    * orientation key of the census's second-level collapse.
    */
  private def embOrderKey(e: Column): Column =
    struct(e.isNull.cast("int").as("isnull"),
      coalesce(e, array().cast("array<float>")).as("v"))

  def crossmodalAudit(spark: SparkSession, d: String,
      minCosE6: Long = DefaultCrossmodalMinCos): DataFrame = {
    val (mem, elig, gd, cls, groupInfo, canonCos) = crossmodalPrelude(spark, d)
    val gdU = gd
      .join(groupInfo.select(col("gid").as("ga"), col("uniform").as("ua")), "ga")
      .join(groupInfo.select(col("gid").as("gb"), col("uniform").as("ub")), "gb")
    // group sizes ride the severed per-group frame — each of the three
    // uses is a leaf scan instead of a class-frame aggregation
    val sz = groupInfo.select(col("gid"), col("n_mem").as("sz"))
    // FAST cross: both groups uniform — the canonical cosine IS every
    // member pair's cosine; multiplicity |A|·|B|
    val fastCross = gdU.where(col("ua") && col("ub"))
      .join(canonCos, Seq("ga", "gb"))
      .join(sz.select(col("gid").as("ga"), col("sz").as("sz_a")), "ga")
      .join(sz.select(col("gid").as("gb"), col("sz").as("sz_b")), "gb")
      .select(col("est_jaccard_e4"),
        coalesce(col("cos_can") >= minCosE6, lit(false)).as("embeds_agree"),
        (col("sz_a") * col("sz_b")).as("m"), col("ga"), col("gb"))
    // FAST intra: uniform eligible dup groups — self-cosine, C(s,2)
    val fastIntra = elig.join(sz, Seq("gid")).where(col("sz") >= 2)
      .join(groupInfo.where(col("uniform")), Seq("gid"), "left_semi")
      .join(canonCos.where(col("ga") === col("gb"))
        .select(col("ga").as("gid"), col("cos_can")), Seq("gid"))
      .select(lit(10000L).as("est_jaccard_e4"),
        coalesce(col("cos_can") >= minCosE6, lit(false)).as("embeds_agree"),
        expr("sz * (sz - 1) div 2").as("m"), col("gid"))
    // SLOW, second-level collapse: member pairs touching a non-uniform
    // group never expand either — they collapse by EMBEDDING CLASS
    // (the per-group partition of members by vector value, from the
    // prelude's cls frame). Every member pair between class u of A and
    // class v of B shares one cosine, at |u|·|v| multiplicity (C(|u|,2)
    // within a class) — so the fault mass costs class-pair work, not
    // member-pair work (the r9 shape spent 100+ s expanding natural
    // dup groups whose replicas shared vectors: k classes of size R,
    // never k·R members). Cosines evaluate inline on the joined class
    // vectors — no embeddings-table pass at all.
    val slowCross = gdU.where(!(col("ua") && col("ub")))
      .join(cls.select(col("gid").as("ga"), col("embedding").as("ea"),
        col("csz").as("ca")), "ga")
      .join(cls.select(col("gid").as("gb"), col("embedding").as("eb"),
        col("csz").as("cb")), "gb")
      .select(col("est_jaccard_e4"),
        coalesce(when(col("ea").isNotNull && col("eb").isNotNull,
          cosE6("ea", "eb")) >= minCosE6, lit(false)).as("embeds_agree"),
        (col("ca") * col("cb")).as("m"),
        col("ga"), col("gb"),
        embOrderKey(col("ea")).as("ka"), embOrderKey(col("eb")).as("kb"),
        // per-side class sizes CARRIED from the cls join above, so the
        // nDocs touch expansion below reads them off the branch instead
        // of re-joining the class frame on the struct key (guide §2.4)
        col("ca"), col("cb"))
    val clsNon = cls
      .join(groupInfo.where(!col("uniform")), Seq("gid"), "left_semi")
      .join(elig, Seq("gid"), "left_semi")
    val slowIntraSame = clsNon.where(col("csz") >= 2)
      .select(lit(10000L).as("est_jaccard_e4"),
        coalesce(when(col("embedding").isNotNull,
          cosE6("embedding", "embedding")) >= minCosE6, lit(false))
          .as("embeds_agree"),
        expr("csz * (csz - 1) div 2").as("m"),
        col("gid"), embOrderKey(col("embedding")).as("k"), col("csz"))
    val slowIntraDiff = clsNon.as("x")
      .join(clsNon.as("y"), col("x.gid") === col("y.gid") &&
        embOrderKey(col("x.embedding")) < embOrderKey(col("y.embedding")))
      .select(lit(10000L).as("est_jaccard_e4"),
        coalesce(when(col("x.embedding").isNotNull &&
          col("y.embedding").isNotNull,
          cosE6("x.embedding", "y.embedding")) >= minCosE6, lit(false))
          .as("embeds_agree"),
        (col("x.csz") * col("y.csz")).as("m"),
        col("x.gid").as("gid"),
        embOrderKey(col("x.embedding")).as("ka"),
        embOrderKey(col("y.embedding")).as("kb"),
        col("x.csz").as("ca"), col("y.csz").as("cb"))
    val keys = Seq("est_jaccard_e4", "embeds_agree")
    val kc = keys.map(col)
    // each branch feeds BOTH census aggregates (pair multiplicities and
    // the touched-doc expansion) — persist so nDocs reuses nPairs'
    // branch execution instead of re-deriving five join trees
    Seq(fastCross, fastIntra, slowCross, slowIntraSame, slowIntraDiff)
      .foreach(_.persist())
    // ALL-UNIFORM fast path: when no non-uniform group exists (the
    // healthy-corpus case — and the 100 TB common case), every slow
    // branch is empty BY CONSTRUCTION (each filters on a non-uniform
    // side), so skip planning their five-way join trees entirely. One
    // existence probe on the persisted per-group frame decides.
    val hasFault = groupInfo.where(!col("uniform")).limit(1).count() > 0
    val fastPairs = fastCross.select(kc :+ col("m"): _*)
      .unionByName(fastIntra.select(kc :+ col("m"): _*))
    val nPairs = (if (!hasFault) fastPairs
      else fastPairs
        .unionByName(slowCross.select(kc :+ col("m"): _*))
        .unionByName(slowIntraSame.select(kc :+ col("m"): _*))
        .unionByName(slowIntraDiff.select(kc :+ col("m"): _*)))
      .groupBy(kc: _*).agg(sum("m").as("n_pairs"))
    // docs touched per key, ALSO class-granular (classes partition the
    // corpus, so distinct-(key, gid, class) → sum of class sizes IS the
    // distinct doc count; fast paths touch whole groups = all their
    // classes). No membership-level frame appears anywhere downstream
    // of the prelude.
    val fastTouchG = fastCross
      .select(kc :+ explode(expr("array(ga, gb)")).as("gid"): _*)
      .unionByName(fastIntra.select(kc :+ col("gid"): _*))
      .distinct()
      .join(cls, Seq("gid"))
      .select(kc :+ col("gid") :+ embOrderKey(col("embedding")).as("k")
        :+ col("csz"): _*)
    // class sizes ride the branches (each already joined cls to build its
    // pairs), so the slow touch expansion is a pure explode — the former
    // second cls join keyed on the (isnull, vector) struct re-shuffled the
    // fault-mass rows for values the branches had already read (the rows
    // are identical: csz is a function of (gid, k), and every ka/kb came
    // from a cls row of that gid, so the inner join was a no-op filter)
    val slowTouch = slowCross
      .select(kc :+ explode(expr("array(struct(ga AS gid, ka AS k, ca AS csz), struct(gb AS gid, kb AS k, cb AS csz))")).as("t"): _*)
      .select(kc :+ col("t.gid").as("gid") :+ col("t.k").as("k") :+ col("t.csz").as("csz"): _*)
      .unionByName(slowIntraSame.select(kc :+ col("gid") :+ col("k") :+ col("csz"): _*))
      .unionByName(slowIntraDiff
        .select(kc :+ explode(expr("array(struct(gid, ka AS k, ca AS csz), struct(gid, kb AS k, cb AS csz))")).as("t"): _*)
        .select(kc :+ col("t.gid").as("gid") :+ col("t.k").as("k") :+ col("t.csz").as("csz"): _*))
    val nDocs = (if (!hasFault) fastTouchG
      else fastTouchG.unionByName(slowTouch))
      .distinct()
      .groupBy(kc: _*).agg(sum("csz").as("n_docs"))
    nPairs.join(nDocs, keys)
      .orderBy("est_jaccard_e4", "embeds_agree")
  }

  val crossmodalAuditPairsSql: String =
    s"""WITH p AS (SELECT doc_a, doc_b, est_jaccard_e4
       |  FROM (${Dedup.dedupMinhashLshPairsSql})),
       |c AS (SELECT p.doc_a, p.doc_b, p.est_jaccard_e4,
       |  CASE WHEN ea.vec_id IS NOT NULL AND eb.vec_id IS NOT NULL
       |    THEN ${cosE6Duck("ea.embedding", "eb.embedding")} END AS cos_e6
       |  FROM p
       |  LEFT JOIN embeddings ea ON ea.vec_id = p.doc_a
       |  LEFT JOIN embeddings eb ON eb.vec_id = p.doc_b)
       |SELECT doc_a, doc_b, est_jaccard_e4, cos_e6,
       |  coalesce(cos_e6 >= $DefaultCrossmodalMinCos, false) AS embeds_agree
       |FROM c ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for the census face: the NAIVE expanded pair list,
    * aggregated — the identity the guarded collapse is checked against.
    */
  val crossmodalAuditSql: String =
    s"""WITH pr AS (SELECT est_jaccard_e4, embeds_agree, doc_a, doc_b
       |            FROM ($crossmodalAuditPairsSql)),
       |p AS (SELECT est_jaccard_e4, embeds_agree, count(*) AS n_pairs
       |      FROM pr GROUP BY 1, 2),
       |dd AS (SELECT est_jaccard_e4, embeds_agree, count(DISTINCT doc_id) AS n_docs
       |       FROM (SELECT est_jaccard_e4, embeds_agree, doc_a AS doc_id FROM pr
       |             UNION ALL SELECT est_jaccard_e4, embeds_agree, doc_b FROM pr)
       |       GROUP BY 1, 2)
       |SELECT p.est_jaccard_e4, p.embeds_agree,
       |  CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (est_jaccard_e4, embeds_agree)
       |ORDER BY p.est_jaccard_e4, p.embeds_agree""".stripMargin

  /** ANN RECALL@k audit: the IVF index's top-k against the brute-force
    * ground truth, per query — the quality gate every approximate index
    * ships with (recall is THE accuracy metric for ANN; an index change
    * that silently drops it is worse than a slow one). Both faces are
    * deterministic here, so recall is exact and cross-engine
    * reproducible, and the oracle recomposes the complete brute and IVF
    * pipelines as nested subqueries.
    *
    * Scale: ground truth over a query SAMPLE is how production audits
    * run too (brute force over q queries × corpus is one broadcast
    * probe scan, linear in the corpus); the recall join itself touches
    * q×k rows — model-sized.
    */
  def annRecall(spark: SparkSession, d: String): DataFrame = {
    val truth = simTopkBrute(spark, d).select(col("q_id"), col("vec_id"))
    val approx = simTopkIvf(spark, d).select(col("q_id"), col("vec_id"))
      .withColumn("hit", lit(1L))
    truth.join(approx, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_e4", expr("n_hits * 10000L div n_truth"))
      .orderBy("q_id")
  }

  val annRecallSql: String =
    s"""WITH t AS (SELECT q_id, vec_id FROM ($simTopkBruteSql)),
       |a AS (SELECT q_id, vec_id FROM ($simTopkIvfSql))
       |SELECT t.q_id, count(*) AS n_truth,
       |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
       |    // count(*) AS BIGINT) AS recall_e4
       |FROM t LEFT JOIN a ON a.q_id = t.q_id AND a.vec_id = t.vec_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  /** Embedding near-duplicate pairs: sign-LSH buckets, then exact cosine
    * within a bucket, thresholded. At corpus scale this is the standard
    * semantic-dedup funnel (bucket → verify), with one shuffle on the
    * bucket key.
    */
  def dedupEmbedding(spark: SparkSession, d: String,
      numPlanes: Int = AutoPlanes,
      minCosE6: Long = 300000L): DataFrame = {
    val emb = Tables.embeddings(spark, d)
      .withColumn("bucket", expr(bucketSpark(resolvePlanes(spark, d, numPlanes))))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    emb.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        // materialize = evaluation barrier: without it PushDownPredicates
        // substitutes the threshold filter through the alias and the
        // cosine kernel evaluates twice (once in Filter, once in Project)
        graft.functions.GraftFunctions.materialize(
          cosE6("a.embedding", "b.embedding")).as("cos_e6"))
      .where(col("cos_e6") >= minCosE6)
      .orderBy("vec_a", "vec_b")
  }

  val dedupEmbeddingSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketDuck()} AS bucket FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${cosE6Duck("a.embedding", "b.embedding")} AS cos_e6
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${cosE6Duck("a.embedding", "b.embedding")} >= 300000
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Embedding near-dup CENSUS: the [[dedupEmbedding]] candidate funnel
    * aggregated to (cosine decile band → pair count, distinct docs) —
    * the same census identity the MinHash and simhash default faces
    * ship (`Dedup.pairCountsByKey`), applied to the embedding family.
    * This is the face replica-scale measurement runs: the raw pair dump
    * ([[dedupEmbedding]]) has output QUADRATIC in duplication by
    * contract (each of `copies` verbatim replica vectors pairs with
    * every other — ~1.25e9 true rows at the 1000× fixture, dominated by
    * the 500k within-group pairs per original), so its replica wall
    * time measures output volume, not the engine — it sits in
    * `Sweep.ExpansionBound` with the other audit dumps, and THIS face
    * is what must stay near-linear: O(bands) output, candidate work
    * bounded by the corpus-sized plane count ([[numPlanesFor]]).
    */
  def dedupEmbeddingCensus(spark: SparkSession, d: String,
      numPlanes: Int = AutoPlanes,
      minCosE6: Long = 300000L): DataFrame = {
    val emb = Tables.embeddings(spark, d)
      .withColumn("bucket", expr(bucketSpark(resolvePlanes(spark, d, numPlanes))))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        graft.functions.GraftFunctions.materialize(
          cosE6("a.embedding", "b.embedding")).as("cos_e6"))
      .where(col("cos_e6") >= minCosE6)
      .withColumn("cos_band", expr("cos_e6 div 100000"))
      // two consumers (pair counts, doc counts) — share one candidate
      // enumeration
      .persist()
    val p = pairs.groupBy("cos_band").agg(count(lit(1)).as("n_pairs"))
    val dd = pairs.select(col("cos_band"), col("vec_a").as("vec_id"))
      .unionAll(pairs.select(col("cos_band"), col("vec_b").as("vec_id")))
      .groupBy("cos_band").agg(countDistinct("vec_id").as("n_docs"))
    p.join(dd, Seq("cos_band")).orderBy("cos_band")
  }

  val dedupEmbeddingCensusSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketDuck()} AS bucket FROM embeddings),
       |pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         ${cosE6Duck("a.embedding", "b.embedding")} AS cos_e6
       |       FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |       WHERE ${cosE6Duck("a.embedding", "b.embedding")} >= 300000),
       |pb AS (SELECT cos_e6 // 100000 AS cos_band, vec_a, vec_b FROM pr),
       |p AS (SELECT cos_band, count(*) AS n_pairs FROM pb GROUP BY 1),
       |dd AS (SELECT cos_band, count(DISTINCT vec_id) AS n_docs FROM (
       |         SELECT cos_band, vec_a AS vec_id FROM pb
       |         UNION ALL SELECT cos_band, vec_b FROM pb) GROUP BY 1)
       |SELECT p.cos_band, CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (cos_band)
       |ORDER BY cos_band""".stripMargin

  /** Mutual k-NEAREST-NEIGHBOR GRAPH over the sign-LSH buckets: each
    * vector's top-k in-bucket cosine neighbors, kept only when the
    * relation is MUTUAL (a in b's top-k AND b in a's) — the standard
    * symmetrization that makes a kNN graph robust to hubs, and the
    * input graph for semantic clustering / diversity sampling (the
    * connected-components operators in [[Dedup]] consume exactly this
    * edge shape).
    *
    * Scale: the candidate join is the same one-shuffle bucketed
    * self-join as [[dedupEmbedding]] (pair work ~n²/2^planes, planes
    * grow with the corpus), the per-vector top-k is a bounded window
    * (WindowGroupLimit pushes the k cutoff before the sort spill), and
    * the mutuality check is a self-join of the top-k frame on the
    * REVERSED key — |topk| = n·k rows, so both sides are slim; the
    * frame is persisted so its two appearances share one computation.
    */
  def knnGraph(spark: SparkSession, d: String, k: Int = 3,
      numPlanes: Int = AutoPlanes): DataFrame = {
    val emb = Tables.embeddings(spark, d)
      .withColumn("bucket", expr(bucketSpark(resolvePlanes(spark, d, numPlanes))))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val topk = emb.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        cosE6("a.embedding", "b.embedding").as("cos_e6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("src").orderBy(col("cos_e6").desc, col("dst"))))
      .where(col("rank") <= k)
      .select("src", "dst", "cos_e6")
      .persist()
    topk.as("x").join(topk.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .where(col("x.src") < col("x.dst"))
      .select(col("x.src").as("vec_a"), col("x.dst").as("vec_b"),
        col("x.cos_e6").as("cos_e6"))
      .orderBy("vec_a", "vec_b")
  }

  val knnGraphSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${bucketDuck()} AS bucket FROM embeddings),
       |c AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |        ${cosE6Duck("a.embedding", "b.embedding")} AS cos_e6
       |      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |t AS (SELECT src, dst, cos_e6 FROM (
       |        SELECT src, dst, cos_e6,
       |          row_number() OVER (PARTITION BY src ORDER BY cos_e6 DESC, dst) AS rank
       |        FROM c) WHERE rank <= 3)
       |SELECT x.src AS vec_a, x.dst AS vec_b, x.cos_e6 AS cos_e6
       |FROM t x JOIN t y ON x.src = y.dst AND x.dst = y.src
       |WHERE x.src < x.dst
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Fixed-iteration integer PAGERANK over the mutual-kNN graph — the
    * centrality score a diversity-sampling / coreset-selection pass
    * reads (hubs of the semantic graph are over-represented regions;
    * down-weighting high-rank nodes flattens the training
    * distribution). Ranks live as e6-scaled BIGINTs with truncating
    * division at every step (per-edge flow r/deg, damping (85·Σ)/100),
    * a FIXED iteration count, and uniform 1.0 init — the same
    * determinism contract as the k-means fit, so the oracle unrolls
    * identical iterations in SQL. Nodes outside the mutual graph are
    * excluded (their rank is the damping constant by definition).
    *
    * Scale: each iteration is one equi-join of the edge list against
    * the rank frame plus one aggregate on dst — O(iters) shuffles of
    * an |edges|-row frame, the label-propagation cost shape (edges and
    * degrees are persisted once). Production runs O(10) iterations or
    * a convergence fingerprint; 3 here keeps the unrolled oracle sane.
    */
  /** Iteration count shared by [[graphPagerank]]'s default and the SQL
    * unroll in [[graphPagerankSql]] — one constant so changing the
    * default cannot desynchronize the oracle.
    */
  val DefaultPagerankIters = 3

  def graphPagerank(spark: SparkSession, d: String,
      iters: Int = DefaultPagerankIters): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    // both edge directions read the graph
    val mutual = knnGraph(spark, d).persist()
    val edges = mutual.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(mutual.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .persist()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("r_e6"))
    for (_ <- 0 until iters) {
      ranks = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), expr("r_e6 div deg").as("flow"))
        .groupBy("node")
        .agg(expr("150000L + (85 * sum(flow)) div 100").as("r_e6"))
    }
    ranks.join(deg.withColumnRenamed("src", "node"), Seq("node"))
      .select(col("node"), col("r_e6"), col("deg"))
      .orderBy("node")
  }

  /** Unrolled PageRank oracle over the same mutual-kNN edges. */
  val graphPagerankSql: String = {
    val steps = (0 until DefaultPagerankIters).map { t =>
      s"""r${t + 1} AS (SELECT ed.dst AS node,
         |  CAST(150000 + (85 * sum(r$t.r_e6 // dg.deg)) // 100 AS BIGINT) AS r_e6
         |  FROM ed JOIN r$t ON ed.src = r$t.node JOIN dg ON ed.src = dg.src
         |  GROUP BY ed.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH mg AS (SELECT vec_a, vec_b FROM ($knnGraphSql)),
       |ed AS (SELECT vec_a AS src, vec_b AS dst FROM mg
       |       UNION ALL SELECT vec_b, vec_a FROM mg),
       |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r_e6 FROM dg),
       |$steps
       |SELECT r$DefaultPagerankIters.node, r$DefaultPagerankIters.r_e6, dg.deg
       |FROM r$DefaultPagerankIters JOIN dg ON r$DefaultPagerankIters.node = dg.src
       |ORDER BY node""".stripMargin
  }

  /** Symmetric int8 SCALAR QUANTIZATION of the embedding column — the
    * compression step an ANN index applies before sharding (4× smaller
    * vectors, SIMD-friendly integer dot products). Per vector: scale =
    * max |coordinate|, codes = coord·127/scale truncated toward zero —
    * all arithmetic on e6 fixed-point BIGINTs (floor to e6 first, then
    * integer multiply/divide), so both engines agree bit-for-bit; the
    * only float op is the initial e6 floor over identical float inputs.
    * Emits the scale, a position-weighted code checksum, code range, and
    * the exact e6 reconstruction-error sum (the quality metric a
    * quantization sweep monitors).
    *
    * Scale: pure map-side projection — no shuffle before the
    * presentation sort; at 10^11 vectors this runs at scan speed and the
    * codes stream straight to the index sink. A zero vector keeps scale
    * 0 and all-zero codes (guarded division).
    */
  def embedQuantize(spark: SparkSession, d: String): DataFrame =
    quantizeFrames(Tables.embeddings(spark, d)).orderBy("vec_id")

  /** Frame-in form of [[embedQuantize]] over any (vec_id, embedding)
    * frame — stateless projections only, so it is streaming-safe and
    * unit-testable on crafted vectors. The arithmetic runs in the
    * compiled one-pass [[graft.functions.QuantizeStats]] kernel (the
    * declarative twin — floor-to-e6, max-abs scale, truncating
    * `(v*127) div m6` codes, `(c*m6) div 127` reconstruction — is what
    * the DuckDB oracle states and QuantizeSpec's pure-Scala model
    * re-derives).
    */
  def quantizeFrames(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"),
        graft.functions.GraftFunctions.quantize_stats(col("embedding")).as("qs"))
      .select(
        col("vec_id"),
        col("qs").getItem(0).as("scale_e6"),
        col("qs").getItem(1).as("code_checksum"),
        col("qs").getItem(2).as("code_min"),
        col("qs").getItem(3).as("code_max"),
        col("qs").getItem(4).as("err_e6_sum"))

  val embedQuantizeSql: String =
    s"""WITH eq AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ve6
       |  FROM embeddings),
       |mq AS (SELECT vec_id, ve6,
       |         list_max(list_transform(ve6, v -> abs(v))) AS m6 FROM eq),
       |cq AS (SELECT vec_id, ve6, m6,
       |         list_transform(ve6, v -> CASE WHEN m6 = 0 THEN 0 ELSE (v * 127) // m6 END) AS codes
       |       FROM mq)
       |SELECT vec_id, CAST(m6 AS BIGINT) AS scale_e6,
       |  CAST(list_sum(list_transform(range(1, ${Dims + 1}), i -> codes[i] * i)) AS BIGINT) AS code_checksum,
       |  CAST(list_aggregate(codes, 'min') AS BIGINT) AS code_min,
       |  CAST(list_aggregate(codes, 'max') AS BIGINT) AS code_max,
       |  CAST(list_sum(list_transform(range(1, ${Dims + 1}),
       |    i -> abs(ve6[i] - (CASE WHEN m6 = 0 THEN 0 ELSE (codes[i] * m6) // 127 END)))) AS BIGINT) AS err_e6_sum
       |FROM cq ORDER BY vec_id""".stripMargin

  /** PRODUCT QUANTIZATION (IVF-PQ's fine quantizer): the vector is cut
    * into [[PqM]] subvectors of [[PqSubDims]] dims; each subvector space
    * gets its own k-means codebook ([[PqK]] codes, trained by the same
    * deterministic Lloyd's protocol as [[fitIvfCentroids]]); a vector
    * compresses to one code per subvector (here 8 codes × 2 bits — at
    * production scale 8-16 subvectors × 256 codes = 8-16 bytes per
    * vector, a 16-32× compression the ANN index pays reconstruction
    * error for).
    *
    * Determinism contract (the k-means one): e6 fixed-point BIGINT
    * coordinates, seeds = the k hash-smallest vec_ids' slices,
    * assignment by INTEGER squared-L2 argmin with ties to the smallest
    * code, truncating-division centroid updates, empty cells keep their
    * previous centroid. Squared-L2 in e6 stays far below 2^63 for any
    * |coordinate| < ~3e8 (|x| < 340 in float — embeddings are O(1)).
    *
    * Scale shape: the codebook is a model artifact (PqM·PqK rows of
    * PqSubDims longs) broadcast as ONE row; fit aggregates the exploded
    * (vec, m) frame into PqM·PqK groups per iteration (map-side partial
    * agg — the exchange carries group aggregates, not vectors); encoding
    * is a PURE MAP-SIDE projection (all subvector argmins inside one
    * transform), so codes stream at scan speed like [[embedQuantize]].
    */
  val PqM = 8
  val PqK = 4
  val PqIters = 2
  private val PqSubDims = Dims / PqM

  /** Integer squared-L2 between two BIGINT-array expressions. */
  private def l2e6(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"

  private def l1e6(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> abs(x - y)), 0L, (acc, v) -> acc + v)"

  /** Trained PQ codebooks as ONE broadcastable row: array of
    * (m, code, ce6) structs under the alias `cb`.
    */
  private def pqCbRow(spark: SparkSession,
      cb: Seq[(Int, Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    cb.toDF("m", "code", "ce6")
      .agg(collect_list(struct(col("m"), col("code"), col("ce6"))).as("cb"))
  }

  /** Best code for the (m, sub6) row in scope against the broadcast
    * `cb` array: integer-L2 argmin, ties to the smallest code.
    */
  private val PqBestCodeExpr: String =
    s"""array_min(transform(filter(cb, c -> c.m = m),
       |  c -> named_struct('dist', ${l2e6("c.ce6", "sub6")}, 'code', c.code))).code"""
      .stripMargin.replace("\n", " ")

  /** Deterministic per-subvector k-means: returns (m, code, ce6-slice)
    * for every cell. Same per-iteration plan as [[fitIvfCentroids]]:
    * ONE broadcast out, map-side argmin, one PqM·PqK-group partial-agg
    * back; the collected update is k·Dims longs — a model artifact.
    */
  def fitPqCodebooks(spark: SparkSession, d: String, k: Int = PqK,
      iters: Int = PqIters): Seq[(Int, Long, Seq[Long])] = {
    require(k >= 1 && iters >= 0, s"need k >= 1 and iters >= 0, got ($k, $iters)")
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), expr(Ve6Expr).as("ve6"))
    val sub = emb.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${PqM - 1}), mm -> named_struct(
           |  'm', mm, 'sub6', slice(ve6, mm * $PqSubDims + 1, $PqSubDims)))"""
          .stripMargin)).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sub6").as("sub6"))
      .persist()
    try {
      val seeds = emb
        .select(col("ve6"),
          substring(sha2(col("vec_id").cast(StringType), 256), 1, 16).as("h"),
          col("vec_id"))
        .orderBy("h", "vec_id").limit(k)
        .collect()
      var cb: Seq[(Int, Long, Seq[Long])] = for {
        (r, c) <- seeds.toSeq.zipWithIndex
        m <- 0 until PqM
      } yield (m, c.toLong,
        r.getSeq[Long](0).slice(m * PqSubDims, (m + 1) * PqSubDims))
      for (_ <- 0 until iters) {
        val assigned = sub.crossJoin(broadcast(pqCbRow(spark, cb)))
          .select(col("m"), col("sub6"), expr(PqBestCodeExpr).as("code"))
        val aggCols = count(lit(1)).as("n") +: (0 until PqSubDims).map(i =>
          sum(element_at(col("sub6"), i + 1)).as(s"s$i"))
        val upd = assigned.groupBy("m", "code")
          .agg(aggCols.head, aggCols.tail: _*)
          .collect().map { r =>
            val n = r.getLong(2)
            (r.getInt(0), r.getLong(1)) ->
              (0 until PqSubDims).map(i => r.getLong(i + 3) / n)
          }.toMap
        cb = cb.map { case (m, c, old) => (m, c, upd.getOrElse((m, c), old)) }
      }
      cb
    } finally sub.unpersist()
  }

  /** Codebook audit query: every (m, code) cell with its member count
    * under the final assignment and integer-exact centroid digests —
    * the PQ twin of [[ivfCentroids]].
    */
  def pqCodebook(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cb = fitPqCodebooks(spark, d)
    val assigned = Tables.embeddings(spark, d)
      .select(col("vec_id"), expr(Ve6Expr).as("ve6"))
      .crossJoin(broadcast(pqCbRow(spark, cb)))
      .select(explode(expr(PqAssignExpr)).as("a"))
      .select(col("a.m").as("m"), col("a.pick.code").as("code"))
      .groupBy("m", "code").agg(count(lit(1)).as("n_assigned"))
    cb.toDF("mi", "code", "ce6")
      .withColumn("m", col("mi").cast(LongType))
      .join(assigned, Seq("m", "code"), "left")
      .select(col("m"), col("code"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        expr(s"aggregate(zip_with(ce6, sequence(1, $PqSubDims), (v, i) -> v * i), 0L, (a, x) -> a + x)")
          .as("c_checksum"),
        expr("array_min(ce6)").as("c_min"),
        expr("array_max(ce6)").as("c_max"))
      .orderBy("m", "code")
  }

  /** All-subvector assignment in ONE map-side expression (expects `ve6`
    * and the broadcast `cb` in scope): per subvector, the integer-L2
    * argmin cell as (m, pick(dist, code, ce6)). The ce6 field sits
    * AFTER code in the lexicographic min and codes are unique per m, so
    * it never decides a tie — it rides along for the error term.
    */
  private val PqAssignExpr: String =
    s"""transform(sequence(0, ${PqM - 1}), mm ->
       |  named_struct(
       |    'm', cast(mm as bigint),
       |    'pick', array_min(transform(filter(cb, c -> c.m = mm),
       |      c -> named_struct('dist', ${l2e6("c.ce6", s"slice(ve6, mm * $PqSubDims + 1, $PqSubDims)")},
       |                        'code', c.code, 'ce6', c.ce6)))))"""
      .stripMargin.replace("\n", " ")

  /** Per-vector PQ codes: the compressed representation (codes joined
    * for a stable cross-engine rendering), a position-weighted code
    * checksum, and the exact e6 L1 reconstruction-error sum — the
    * quality metric a quantizer sweep monitors (same contract as
    * [[embedQuantize]]).
    *
    * Scale: the codebook broadcasts as one row; everything else is a
    * map-side projection — the corpus never shuffles before the
    * presentation sort (pinned in PlanContractSpec).
    */
  def pqCodes(spark: SparkSession, d: String): DataFrame = {
    val cb = fitPqCodebooks(spark, d)
    Tables.embeddings(spark, d)
      .select(col("vec_id"), expr(Ve6Expr).as("ve6"))
      .crossJoin(broadcast(pqCbRow(spark, cb)))
      .select(col("vec_id"), expr(PqAssignExpr).as("arr"), col("ve6"))
      .select(
        col("vec_id"),
        expr("array_join(transform(arr, x -> cast(x.pick.code as string)), ',')")
          .as("codes"),
        expr(s"aggregate(zip_with(arr, sequence(1, $PqM), (x, i) -> x.pick.code * i), 0L, (a, v) -> a + v)")
          .as("code_checksum"),
        expr(s"""aggregate(transform(arr, x ->
             |  ${l1e6("x.pick.ce6", s"slice(ve6, cast(x.m as int) * $PqSubDims + 1, $PqSubDims)")}),
             |  0L, (a, v) -> a + v)""".stripMargin.replace("\n", " "))
          .as("err_e6_sum"))
      .orderBy("vec_id")
  }

  /** Unrolled per-subvector k-means CTE chain ending in `pc$iters(m,
    * code, ce6)` — the oracle twin of [[fitPqCodebooks]], plus the
    * exploded subvector relation `psub(vec_id, m, sub6)`.
    */
  private def pqDuckCtes(k: Int = PqK, iters: Int = PqIters): String = {
    def l2Duck(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${PqSubDims + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val base =
      s"""pe AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ve6
         |  FROM embeddings),
         |psub AS (SELECT vec_id, g.m AS m,
         |    ve6[g.m * $PqSubDims + 1 : g.m * $PqSubDims + $PqSubDims] AS sub6
         |  FROM pe, generate_series(0, ${PqM - 1}) g(m)),
         |pseed AS (SELECT code, ve6 FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY substr(sha256(CAST(vec_id AS VARCHAR)), 1, 16), vec_id) - 1 AS BIGINT) AS code,
         |    ve6 FROM pe) WHERE code < $k),
         |pc0 AS (SELECT g.m AS m, s.code,
         |    s.ve6[g.m * $PqSubDims + 1 : g.m * $PqSubDims + $PqSubDims] AS ce6
         |  FROM pseed s, generate_series(0, ${PqM - 1}) g(m))""".stripMargin
    val steps = (0 until iters).map { t =>
      s"""pa$t AS (SELECT vec_id, m, sub6, code FROM (
         |  SELECT b.vec_id, b.m, b.sub6, c.code,
         |    row_number() OVER (PARTITION BY b.vec_id, b.m
         |      ORDER BY ${l2Duck("b.sub6", "c.ce6")}, c.code) AS rn
         |  FROM psub b JOIN pc$t c ON c.m = b.m) WHERE rn = 1),
         |ps$t AS (SELECT a.m, a.code, g.d, CAST(sum(a.sub6[g.d]) AS BIGINT) AS sv, count(*) AS n
         |  FROM pa$t a, generate_series(1, $PqSubDims) g(d) GROUP BY a.m, a.code, g.d),
         |pu$t AS (SELECT m, code, list(sv // n ORDER BY d) AS ce6 FROM ps$t GROUP BY m, code),
         |pc${t + 1} AS (SELECT p.m, p.code, coalesce(u.ce6, p.ce6) AS ce6
         |  FROM pc$t p LEFT JOIN pu$t u ON u.m = p.m AND u.code = p.code)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  private def pqFinalAssignDuck: String =
    s"""paf AS (SELECT vec_id, m, sub6, code, ce6 FROM (
       |  SELECT b.vec_id, b.m, b.sub6, c.code, c.ce6,
       |    row_number() OVER (PARTITION BY b.vec_id, b.m
       |      ORDER BY list_sum(list_transform(range(1, ${PqSubDims + 1}), i -> (b.sub6[i] - c.ce6[i]) * (b.sub6[i] - c.ce6[i]))), c.code) AS rn
       |  FROM psub b JOIN pc$PqIters c ON c.m = b.m) WHERE rn = 1)""".stripMargin

  val pqCodebookSql: String =
    s"""WITH ${pqDuckCtes()},
       |$pqFinalAssignDuck,
       |pcnt AS (SELECT m, code, count(*) AS n_assigned FROM paf GROUP BY m, code)
       |SELECT CAST(c.m AS BIGINT) AS m, c.code,
       |  coalesce(pcnt.n_assigned, 0) AS n_assigned,
       |  CAST(list_sum(list_transform(range(1, ${PqSubDims + 1}), i -> ce6[i] * i)) AS BIGINT) AS c_checksum,
       |  CAST(list_aggregate(ce6, 'min') AS BIGINT) AS c_min,
       |  CAST(list_aggregate(ce6, 'max') AS BIGINT) AS c_max
       |FROM pc$PqIters c LEFT JOIN pcnt ON pcnt.m = c.m AND pcnt.code = c.code
       |ORDER BY 1, 2""".stripMargin

  val pqCodesSql: String =
    s"""WITH ${pqDuckCtes()},
       |$pqFinalAssignDuck
       |SELECT vec_id,
       |  array_to_string(list(code ORDER BY m), ',') AS codes,
       |  CAST(sum(code * (m + 1)) AS BIGINT) AS code_checksum,
       |  CAST(sum(list_sum(list_transform(range(1, ${PqSubDims + 1}), i -> abs(sub6[i] - ce6[i])))) AS BIGINT) AS err_e6_sum
       |FROM paf GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** IVF-PQ SEARCH — the composed ANN stack: the coarse quantizer
    * ([[fitIvfCentroids]]) routes queries to their nprobe nearest cells,
    * and candidates are ranked by ASYMMETRIC DISTANCE (ADC): exact query
    * vector vs the candidate's PQ RECONSTRUCTION (the sum over
    * subvectors of L2 to the candidate's chosen codewords — here
    * materialized as the flattened reconstruction so the ADC is one
    * integer L2; a production index stores only codes and reads the
    * per-subvector distances from an LUT, same arithmetic).
    *
    * Scale shape: both models (centroids + codebooks) travel as single
    * broadcast rows; cell assignment and PQ reconstruction are map-side
    * projections over the streamed corpus (the corpus never shuffles —
    * same contract as [[simTopkIvf]], pinned in PlanContractSpec); the
    * probe set is tiny and broadcast; only in-cell candidates reach the
    * bounded top-k window. The ADC ranking touches NO raw candidate
    * vectors — exactly why IVF-PQ serves 10^11-vector indexes from RAM.
    */
  def simTopkIvfPq(spark: SparkSession, d: String,
      nprobe: Int = DefaultNprobe, k: Int = K): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    // The two model fits are INDEPENDENT job chains (coarse quantizer,
    // PQ codebooks) that were submitted back-to-back from the driver —
    // each internally sequential (Lloyd iterations), but nothing orders
    // one fit's iterations against the other's. Submitting them from two
    // driver threads overlaps their seed/iteration job round trips and
    // back-fills each other's stage tails (guide §2.6). Results are
    // unchanged: each fit is a deterministic pure function of the
    // corpus, and job descriptions stay thread-local.
    val (cents, cb) = graft.Parallel.both(spark.sparkContext)(
      fitIvfCentroids(spark, d), fitPqCodebooks(spark, d))
    val centArr = centroidRow(spark, cents)
    val cbRow = pqCbRow(spark, cb)
    val corpus = emb.crossJoin(broadcast(centArr)).crossJoin(broadcast(cbRow))
      .withColumn("ve6", expr(Ve6Expr))
      .select(col("vec_id"),
        bestCentId(col("embedding")).as("cent_id"),
        expr(s"flatten(transform($PqAssignExpr, x -> x.pick.ce6))").as("recon6"))
    val probes = emb.where(col("vec_id") < NumQueries)
      .crossJoin(broadcast(centArr))
      .withColumn("ve6", expr(Ve6Expr))
      .select(col("vec_id").as("q_id"), col("ve6").as("q_ve6"),
        explode(slice(reverse(array_sort(centScored(col("embedding")))), 1, nprobe))
          .as("probe"))
      .select(col("q_id"), col("q_ve6"), (-col("probe.neg_id")).as("cent_id"))
    broadcast(probes).join(corpus, Seq("cent_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr(l2e6("q_ve6", "recon6")).as("adc_e6"))
      .groupBy("q_id", "vec_id").agg(min("adc_e6").as("adc_e6")) // dedupe multi-probe hits
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_e6"), col("vec_id"))))
      .where(col("rank") <= k)
      .orderBy("q_id", "rank")
  }

  val simTopkIvfPqSql: String =
    s"""WITH ${kmeansDuckCtes()},
       |${pqDuckCtes()},
       |$pqFinalAssignDuck,
       |xcents AS (SELECT cent_id, list_transform(ce6, v -> CAST(v / 1000000.0 AS FLOAT)) AS cent_emb FROM c$IvfIters),
       |xassign AS (SELECT vec_id, cent_id FROM (
       |  SELECT e2.vec_id, c.cent_id,
       |    row_number() OVER (PARTITION BY e2.vec_id
       |      ORDER BY ${cosE6Duck("e2.embedding", "c.cent_emb")} DESC, c.cent_id) AS crank
       |  FROM embeddings e2, xcents c) WHERE crank = 1),
       |xprobes AS (SELECT q_id, cent_id FROM (
       |  SELECT e2.vec_id AS q_id, c.cent_id,
       |    row_number() OVER (PARTITION BY e2.vec_id
       |      ORDER BY ${cosE6Duck("e2.embedding", "c.cent_emb")} DESC, c.cent_id) AS crank
       |  FROM embeddings e2, xcents c WHERE e2.vec_id < $NumQueries) WHERE crank <= $DefaultNprobe),
       |xrecon AS (SELECT vec_id, flatten(list(ce6 ORDER BY m)) AS recon6 FROM paf GROUP BY vec_id),
       |xqv AS (SELECT vec_id AS q_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ve6
       |  FROM embeddings WHERE vec_id < $NumQueries),
       |xcand AS (SELECT p.q_id, a.vec_id,
       |    min(list_sum(list_transform(range(1, ${Dims + 1}),
       |      i -> (q.ve6[i] - r.recon6[i]) * (q.ve6[i] - r.recon6[i])))) AS adc_e6
       |  FROM xprobes p JOIN xassign a ON p.cent_id = a.cent_id
       |  JOIN xrecon r ON r.vec_id = a.vec_id
       |  JOIN xqv q ON q.q_id = p.q_id
       |  WHERE a.vec_id <> p.q_id GROUP BY p.q_id, a.vec_id),
       |xr AS (SELECT q_id, vec_id, CAST(adc_e6 AS BIGINT) AS adc_e6,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_e6, vec_id) AS rank
       |  FROM xcand)
       |SELECT q_id, vec_id, adc_e6, rank FROM xr WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** SEMANTIC DEDUP (SemDeDup-style): embeddings are assigned to their
    * TRAINED k-means centroid (the [[fitIvfCentroids]] model — map-side
    * argmax over one broadcast centroid row, the corpus never shuffles
    * for assignment), candidate pairs are restricted to the same
    * (centroid × sign-LSH bucket) cell, verified with the exact cosine
    * kernel, and each near-dup group keeps its smallest vec_id — a doc
    * is DROPPED iff an earlier doc in its cell sits within the cosine
    * threshold. Emits the per-vector verdict with its cluster cell.
    *
    * Scale: the cluster/bucket cell is the candidate funnel (pair work
    * ~n²/(nlist·2^planes), both knobs grow with the corpus); the
    * verify join shuffles each side once on the cell key; the drop set
    * is |near-dup docs| and broadcasts back onto the corpus. This is
    * the embedding-space twin of the MinHash→Jaccard→cluster funnel.
    */
  def dedupSemantic(spark: SparkSession, d: String,
      minCosE6: Long = 300000L,
      numPlanes: Int = AutoPlanes): DataFrame = {
    val cents = centroidRow(spark, fitIvfCentroids(spark, d))
    val assigned = Tables.embeddings(spark, d)
      .withColumn("bucket", expr(bucketSpark(resolvePlanes(spark, d, numPlanes))))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("bucket"),
        bestCentId(col("embedding")).as("cent_id"))
      .persist()
    val drops = assigned.as("a").join(assigned.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        graft.functions.GraftFunctions.materialize(
          cosE6("a.embedding", "b.embedding")).as("cos_e6"))
      .where(col("cos_e6") >= minCosE6)
      .select("vec_id").distinct()
      .withColumn("dropped", lit(true))
    assigned.select(col("vec_id"), col("cent_id"), col("bucket"))
      .join(broadcast(drops), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), col("bucket"),
        coalesce(!col("dropped"), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  val dedupSemanticSql: String =
    s"""WITH ${kmeansDuckCtes()},
       |scents AS (SELECT cent_id, list_transform(ce6, v -> CAST(v / 1000000.0 AS FLOAT)) AS cent_emb FROM c$IvfIters),
       |semb AS (SELECT vec_id, embedding, ${bucketDuck()} AS bucket FROM embeddings),
       |sassign AS (SELECT vec_id, embedding, bucket, cent_id FROM (
       |    SELECT s.vec_id, s.embedding, s.bucket, c.cent_id,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${cosE6Duck("s.embedding", "c.cent_emb")} DESC, c.cent_id) AS rn
       |    FROM semb s, scents c) WHERE rn = 1),
       |sdrops AS (SELECT DISTINCT b.vec_id
       |  FROM sassign a JOIN sassign b
       |    ON a.cent_id = b.cent_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cosE6Duck("a.embedding", "b.embedding")} >= 300000)
       |SELECT s.vec_id, s.cent_id, s.bucket, d.vec_id IS NULL AS keep
       |FROM sassign s LEFT JOIN sdrops d ON s.vec_id = d.vec_id
       |ORDER BY s.vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_graph" -> ((s, d) => knnGraph(s, d)),
    "q_sim_topk_brute" -> (simTopkBrute _),
    "q_hybrid_retrieval" -> ((s, d) => hybridRetrieval(s, d)),
    "q_sim_topk_lsh" -> ((s, d) => simTopkLsh(s, d)),
    "q_sim_topk_ivf" -> ((s, d) => simTopkIvf(s, d)),
    "q_ivf_centroids" -> (ivfCentroids _),
    "q_cluster_purity" -> (clusterPurity _),
    "q_cluster_balanced" -> ((s, d) => clusterBalanced(s, d)),
    "q_kcenter_select" -> ((s, d) => kcenterSelect(s, d)),
    "q_embed_pca" -> ((s, d) => embedPca(s, d)),
    "q_ann_recall" -> (annRecall _),
    "q_sim_topk_lsh_multi" -> ((s, d) => simTopkLshMulti(s, d)),
    "q_crossmodal_audit" -> ((s, d) => crossmodalAudit(s, d)),
    "q_crossmodal_audit_pairs" -> ((s, d) => crossmodalAuditPairs(s, d)),
    "q_dedup_embedding" -> ((s, d) => dedupEmbedding(s, d)),
    "q_dedup_embedding_census" -> ((s, d) => dedupEmbeddingCensus(s, d)),
    "q_embed_quantize" -> (embedQuantize _),
    "q_pq_codebook" -> (pqCodebook _),
    "q_pq_codes" -> (pqCodes _),
    "q_sim_topk_ivfpq" -> ((s, d) => simTopkIvfPq(s, d)),
    "q_dedup_semantic" -> ((s, d) => dedupSemantic(s, d)),
    "q_embed_outliers" -> ((s, d) => embedOutliers(s, d)),
    "q_graph_pagerank" -> ((s, d) => graphPagerank(s, d)))

  val oracles: Map[String, String] = Map(
    "q_knn_graph" -> knnGraphSql,
    "q_sim_topk_brute" -> simTopkBruteSql,
    "q_hybrid_retrieval" -> hybridRetrievalSql,
    "q_sim_topk_lsh" -> simTopkLshSql,
    "q_sim_topk_ivf" -> simTopkIvfSql,
    "q_ivf_centroids" -> ivfCentroidsSql,
    "q_cluster_purity" -> clusterPuritySql,
    "q_cluster_balanced" -> clusterBalancedSql,
    "q_kcenter_select" -> kcenterSelectSql,
    "q_embed_pca" -> embedPcaSql,
    "q_ann_recall" -> annRecallSql,
    "q_sim_topk_lsh_multi" -> simTopkLshMultiSql,
    "q_crossmodal_audit" -> crossmodalAuditSql,
    "q_crossmodal_audit_pairs" -> crossmodalAuditPairsSql,
    "q_dedup_embedding" -> dedupEmbeddingSql,
    "q_dedup_embedding_census" -> dedupEmbeddingCensusSql,
    "q_embed_quantize" -> embedQuantizeSql,
    "q_pq_codebook" -> pqCodebookSql,
    "q_pq_codes" -> pqCodesSql,
    "q_sim_topk_ivfpq" -> simTopkIvfPqSql,
    "q_dedup_semantic" -> dedupSemanticSql,
    "q_embed_outliers" -> embedOutliersSql,
    "q_graph_pagerank" -> graphPagerankSql)
}

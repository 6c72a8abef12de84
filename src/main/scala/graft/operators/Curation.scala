package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Corpus-curation operators over `documents`: reproducible sampling,
  * train/val/test split assignment, and benchmark decontamination — the
  * selection layer of a training-data pipeline.
  *
  * Sampling/splits use HASH-BUCKET membership (`first 32 bits of
  * sha256(doc_id) mod 100`), not random samplers: the assignment is a
  * pure function of the key, so it is reproducible across runs, engines,
  * partitionings, and retries — which is exactly why production
  * pipelines split this way (Spark's Bernoulli sampler is seed- AND
  * partitioning-dependent, and can't be reproduced by another engine).
  * Everything here is a map-side projection or a broadcast membership
  * probe; nothing shuffles the corpus.
  */
object Curation {

  /** Deterministic bucket in [0, 100): first 32 sha-hex bits of the id,
    * mod 100 — identical arithmetic in both engines.
    */
  private val bucketSpark: Column =
    expr("cast(conv(substring(sha2(cast(doc_id as string), 256), 1, 8), 16, 10) as bigint) % 100")

  private val bucketDuck: String =
    "('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"

  /** Reproducible 10% sample: hash-bucket membership, with the sampled
    * rows listed (the operator a pipeline chains a human-eval or a
    * quality-audit job onto).
    */
  def sampleHash(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("bucket", bucketSpark)
      .where(col("bucket") < 10)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  val sampleHashSql: String =
    s"""SELECT doc_id, lang, source, n_chars FROM documents
       |WHERE $bucketDuck < 10
       |ORDER BY doc_id""".stripMargin

  /** Train/val/test assignment (90/5/5) from the same hash bucket, with
    * per-(lang, split) counts — the split must be a key-pure function so
    * a document can never migrate between splits across runs (train/test
    * leakage). Counts keep the oracle small; the per-doc labels are the
    * same expression.
    */
  def splitAssign(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .withColumn("bucket", bucketSpark)
      .withColumn("split",
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang", "split")

  val splitAssignSql: String =
    s"""WITH b AS (SELECT lang, n_chars, $bucketDuck AS bucket FROM documents)
       |SELECT lang,
       |  CASE WHEN bucket < 90 THEN 'train'
       |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Jaccard threshold above which a cross-split pair counts as
    * leakage — the sweep grid's dedup knee (see
    * [[Dedup.SweepThresholdsE4]]), shared with the oracle.
    */
  val LeakThresholdE4 = 8000L

  /** SPLIT-LEAKAGE AUDIT: near-duplicate pairs that STRADDLE the
    * train/val/test boundary — the failure [[splitAssign]]'s key-pure
    * hash cannot prevent, because near-dup COPIES carry different
    * doc_ids and hash independently (a 5% val split leaves ~10% of a
    * duplicated pair-population crossing a boundary). An eval doc with
    * a train-side near-twin inflates benchmark scores silently; this
    * is the audit a pipeline runs AFTER splitting and BEFORE training.
    *
    * Output: one row per unordered split pair (all three rows always
    * present via the grid LEFT join, zeros when clean) with the pair
    * count and the distinct contaminated docs on each side.
    *
    * Scale: reuses the full [[Dedup.dedupNgramJaccard]] funnel
    * (bucketed LSH + exact-collapse, never all-pairs); the split
    * labels join on the already-shuffled pair keys, and the rollup
    * collapses to ≤3 rows map-side.
    */
  def splitLeakage(spark: SparkSession, d: String): DataFrame = {
    // ALGEBRAIC census over the UNEXPANDED funnel (r16 1000× finding:
    // routing this ≤3-row report through the expanded member-pair dump
    // spilled to device-full — the dump is output-quadratic in
    // duplication by contract, while everything this report needs is
    // canonical-sized). Splits are a MEMBER-level property (near-dup
    // copies hash independently), so expansion is replaced by algebra:
    // each group carries its per-split member counts, a canonical pair
    // (A, B) contributes cA[lo]·cB[hi] + cA[hi]·cB[lo] leak pairs, an
    // eligible group contributes its internal cA[lo]·cA[hi] (identical
    // content, Jaccard 10000 ≥ any threshold), and a doc counts as
    // contaminated when its own group reaches across the boundary
    // (intra) or any canonical partner's group does (cross). Output is
    // row-identical to the expanded form — pinned by the unchanged
    // DuckDB oracle, which still computes from the explicit pair dump.
    val (membership, elig, gd) = Dedup.ngramJaccardFunnel(spark, d)
    val splitNames = Seq("train", "val", "test")
    // split buckets are a pure function of doc_id, and the funnel's
    // membership frame already carries every document's id — deriving
    // the split inline drops a second corpus scan plus the doc_id
    // equi-join the former documents-table read paid
    val mm = membership.select("doc_id", "gid")
      .withColumn("bucket", bucketSpark)
      .select(col("doc_id"), col("gid"),
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")).as("split"))
    val splitCnts = splitNames.map(s =>
      sum(when(col("split") === s, 1L).otherwise(0L)).as(s"c_$s"))
    val gs = mm.groupBy("gid").agg(splitCnts.head, splitCnts.tail: _*)
      .persist()
    gs.count()
    val pairs = gd.where(col("jaccard_e4") >= LeakThresholdE4)
      .select("ga", "gb").persist()
    val p2 = pairs
      .join(gs.select(col("gid").as("ga") +:
        splitNames.map(s => col(s"c_$s").as(s"a_$s")): _*), "ga")
      .join(gs.select(col("gid").as("gb") +:
        splitNames.map(s => col(s"c_$s").as(s"b_$s")): _*), "gb")
    // per-group flags: does ANY canonical partner's group hold a member
    // of split s? (both pair orientations; groups are canonical ids)
    val partnerHas = pairs.select(col("ga").as("gid"), col("gb").as("pg"))
      .unionAll(pairs.select(col("gb").as("gid"), col("ga").as("pg")))
      .join(gs.select(col("gid").as("pg") +:
        splitNames.map(s => col(s"c_$s").as(s"p_$s")): _*), "pg")
      .groupBy("gid")
      .agg(max(col(s"p_${splitNames.head}") > 0).as(s"has_${splitNames.head}"),
        splitNames.tail.map(s => max(col(s"p_$s") > 0).as(s"has_$s")): _*)
    val docBase = gs
      .join(elig.withColumn("is_elig", lit(true)), Seq("gid"), "left")
      .join(partnerHas, Seq("gid"), "left")
    val combos = Seq(("test", "train"), ("test", "val"), ("train", "val"))
    // ALL three split-pair rows from TWO single-row aggregates (was nine
    // scalar aggregates — one nPairs union-agg and two docsIn aggs per
    // combo — each its own two-stage job tree crossJoined back): one
    // pass over the canonical pair frame sums the three cross products,
    // one pass over the group frame sums the three intra products and
    // the six contaminated-doc counts, and the 1×1 crossJoin explodes
    // into the same three output rows. Pure algebra rearrangement; the
    // unchanged expanded-dump oracle pins row identity.
    val crossAgg = p2.agg(
      combos.map { case (lo, hi) =>
        coalesce(sum(col(s"a_$lo") * col(s"b_$hi") +
          col(s"a_$hi") * col(s"b_$lo")), lit(0L)).as(s"x_${lo}_$hi")
      }.head, combos.tail.map { case (lo, hi) =>
        coalesce(sum(col(s"a_$lo") * col(s"b_$hi") +
          col(s"a_$hi") * col(s"b_$lo")), lit(0L)).as(s"x_${lo}_$hi")
      }: _*)
    def intraSum(lo: String, hi: String) =
      coalesce(sum(when(coalesce(col("is_elig"), lit(false)),
        col(s"c_$lo") * col(s"c_$hi")).otherwise(lit(0L))), lit(0L))
        .as(s"i_${lo}_$hi")
    def docSum(side: String, other: String) =
      coalesce(sum(col(s"c_$side") * when(
        (coalesce(col("is_elig"), lit(false)) && col(s"c_$other") > 0) ||
          coalesce(col(s"has_$other"), lit(false)), 1L).otherwise(0L)),
        lit(0L)).as(s"d_${side}_$other")
    val docAggCols = combos.map { case (lo, hi) => intraSum(lo, hi) } ++
      combos.flatMap { case (lo, hi) => Seq(docSum(lo, hi), docSum(hi, lo)) }
    val docAgg = docBase.agg(docAggCols.head, docAggCols.tail: _*)
    crossAgg.crossJoin(docAgg)
      .select(explode(array(combos.map { case (lo, hi) =>
        struct(lit(lo).as("split_lo"), lit(hi).as("split_hi"),
          (col(s"x_${lo}_$hi") + col(s"i_${lo}_$hi")).as("n_leak_pairs"),
          col(s"d_${lo}_$hi").as("n_docs_lo"),
          col(s"d_${hi}_$lo").as("n_docs_hi"))
      }: _*)).as("r"))
      .select("r.*")
      .orderBy("split_lo", "split_hi")
  }

  val splitLeakageSql: String =
    s"""WITH j AS (SELECT doc_a, doc_b, jaccard_e4
       |  FROM (${Dedup.dedupNgramJaccardSql})),
       |sp AS (SELECT doc_id,
       |  CASE WHEN bucket < 90 THEN 'train'
       |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, $bucketDuck AS bucket FROM documents)),
       |x AS (SELECT
       |    least(sa.split, sb.split) AS split_lo,
       |    greatest(sa.split, sb.split) AS split_hi,
       |    CASE WHEN sa.split <= sb.split THEN doc_a ELSE doc_b END AS doc_lo,
       |    CASE WHEN sa.split <= sb.split THEN doc_b ELSE doc_a END AS doc_hi
       |  FROM j
       |  JOIN sp sa ON sa.doc_id = doc_a
       |  JOIN sp sb ON sb.doc_id = doc_b
       |  WHERE jaccard_e4 >= $LeakThresholdE4 AND sa.split <> sb.split),
       |agg AS (SELECT split_lo, split_hi, count(*) AS n_leak_pairs,
       |    count(DISTINCT doc_lo) AS n_docs_lo,
       |    count(DISTINCT doc_hi) AS n_docs_hi
       |  FROM x GROUP BY split_lo, split_hi),
       |grid AS (SELECT * FROM (VALUES ('test','train'), ('test','val'),
       |    ('train','val')) g(split_lo, split_hi))
       |SELECT g.split_lo, g.split_hi,
       |  CAST(coalesce(n_leak_pairs, 0) AS BIGINT) AS n_leak_pairs,
       |  CAST(coalesce(n_docs_lo, 0) AS BIGINT) AS n_docs_lo,
       |  CAST(coalesce(n_docs_hi, 0) AS BIGINT) AS n_docs_hi
       |FROM grid g LEFT JOIN agg USING (split_lo, split_hi)
       |ORDER BY g.split_lo, g.split_hi""".stripMargin

  /** Benchmark decontamination: documents sharing any 3-gram shingle
    * with the "benchmark" set (here: doc_id < 5, standing in for an eval
    * suite) are flagged.
    *
    * Scale shape: corpus shingles are exploded ONCE and probed against a
    * broadcast hash table of the distinct benchmark shingles (LEFT OUTER
    * so zero-overlap docs survive), then hits are re-aggregated per doc.
    * Per-row probe cost is O(1) hash lookups — O(|sset|) per document —
    * independent of the benchmark size; the earlier `array_intersect`
    * against one giant broadcast array rebuilt the benchmark hash set
    * per corpus row (O(|bench|) per row — a scan-killer once the eval
    * suite reaches 10^6-10^7 shingles). The only corpus shuffle is the
    * per-doc hit count, which map-side partial aggregation reduces to
    * ~one short row per (doc, map partition) before the exchange.
    */
  def decontaminate(spark: SparkSession, d: String): DataFrame = {
    val sets = Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingle_set(col("text")).as("sset"))
      .where(col("sset").isNotNull)
    val benchShingles = sets.where(col("doc_id") < 5)
      .select(explode(col("sset")).as("shingle"))
      .distinct()
      .withColumn("hit", lit(1L))
    sets.where(col("doc_id") >= 5)
      .select(col("doc_id"), explode(col("sset")).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"), "left")
      .groupBy("doc_id")
      // ssets are distinct per doc and the bench side is distinct, so the
      // hit count IS the distinct-set intersection size the oracle takes
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
      .orderBy("doc_id")
  }

  val decontaminateSql: String = {
    import TextAnalysis.{tokensDuck, shinglesDuck}
    s"""WITH t AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
       |sh AS (SELECT doc_id, list_distinct($shinglesDuck) AS sset
       |       FROM t WHERE len($shinglesDuck) > 0),
       |bench AS (SELECT coalesce(list_distinct(flatten(list(sset))), []) AS b
       |          FROM sh WHERE doc_id < 5)
       |SELECT doc_id,
       |  CAST(len(list_intersect(sset, b)) AS BIGINT) AS n_overlap,
       |  len(list_intersect(sset, b)) > 0 AS contaminated
       |FROM sh, bench WHERE doc_id >= 5
       |ORDER BY doc_id""".stripMargin
  }

  /** STRATIFIED quota sample: the k hash-smallest documents per source
    * — a fixed-size, reproducible per-stratum panel (human eval, manual
    * audit, per-domain spot checks) where [[sampleHash]]'s rate-based
    * bucket gives a fixed FRACTION. Ranking by sha256(doc_id) is
    * key-pure, so the panel is stable across runs, engines, and
    * partitionings, and adding documents to a stratum can only displace
    * hash-larger members.
    *
    * Scale: one shuffle on the stratum key; the rank window is bounded
    * (WindowGroupLimit keeps only k rows per group ahead of the sort).
    * For strata of 10^9+ docs, pre-prune with a hash-threshold filter
    * (the [[sampleHash]] bucket at a rate comfortably above k/n) so the
    * window sees a sliver of each stratum — same funnel discipline as
    * the dedup candidates.
    */
  def stratifiedSample(spark: SparkSession, d: String, k: Int = 10): DataFrame =
    Tables.documents(spark, d)
      .withColumn("h", substring(sha2(col("doc_id").cast("string"), 256), 1, 16))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("h", "doc_id")))
      .where(col("rank") <= k)
      .select(col("source"), col("rank"), col("doc_id"), col("lang"))
      .orderBy("source", "rank")

  val stratifiedSampleSql: String =
    """WITH r AS (
      |  SELECT source, doc_id, lang,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16), doc_id) AS rank
      |  FROM documents)
      |SELECT source, rank, doc_id, lang FROM r WHERE rank <= 10
      |ORDER BY source, rank""".stripMargin

  /** Per-source cap shared by the Scala default and the SQL oracle. */
  val DefaultSourceCap = 60L

  /** PER-DOMAIN CAPS — the Common-Crawl curation rule that no single
    * source (domain) may dominate the corpus: keep the `cap`
    * hash-smallest documents per source (key-pure, so reproducible
    * across engines/partitionings and stable under corpus growth — a
    * doc's verdict can only flip when its stratum crosses the cap), and
    * emit the per-stratum overflow accounting beside each verdict
    * (n_in_source, n_dropped) — the report a curation run reviews to
    * size caps.
    *
    * Scale: both windows (rank, stratum count) share ONE exchange on
    * `source`; AQE's skew split covers hot domains. Unlike
    * [[stratifiedSample]] the rank window cannot be WindowGroupLimit-
    * bounded (every row needs its verdict, not just the top k) — for
    * pathological strata the count side can instead be a broadcast
    * per-source aggregate, the same trade [[decontaminate]] makes.
    */
  def sourceCaps(spark: SparkSession, d: String,
      cap: Long = DefaultSourceCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy("source")
    Tables.documents(spark, d)
      .withColumn("h", substring(sha2(col("doc_id").cast(StringType), 256), 1, 16))
      .withColumn("rank",
        row_number().over(bySource.orderBy("h", "doc_id")).cast(LongType))
      .withColumn("n_in_source", count(lit(1)).over(bySource))
      .select(col("source"), col("doc_id"), col("rank"), col("n_in_source"),
        (col("rank") <= cap).as("kept"),
        greatest(col("n_in_source") - cap, lit(0L)).as("n_dropped"))
      .orderBy("doc_id")
  }

  val sourceCapsSql: String =
    s"""WITH r AS (SELECT source, doc_id,
       |  row_number() OVER (PARTITION BY source
       |    ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 16), doc_id) AS rank,
       |  count(*) OVER (PARTITION BY source) AS n_in_source
       |  FROM documents)
       |SELECT source, doc_id, CAST(rank AS BIGINT) AS rank,
       |  CAST(n_in_source AS BIGINT) AS n_in_source,
       |  rank <= $DefaultSourceCap AS kept,
       |  CAST(greatest(n_in_source - $DefaultSourceCap, 0) AS BIGINT) AS n_dropped
       |FROM r ORDER BY doc_id""".stripMargin

  /** QUALITY-WEIGHTED sampling: each document is kept with probability
    * proportional to a quality score (here: its stopword ratio, capped
    * — the cheap LM-quality proxy), implemented as a key-pure hash
    * threshold — `hash_ppm(doc_id) < base_ppm · score/cap` — rather
    * than an RNG draw, so the sample is reproducible across runs,
    * engines, and partitionings AND monotone in the score (raising a
    * doc's score can only move it INTO the sample). This is the soft
    * curation between hard keep/drop verdicts and uniform sampling:
    * high-quality docs are over-represented at a controlled rate.
    *
    * Scale: one map-side projection (compiled TextStats kernel + sha
    * threshold), no shuffle before the presentation sort — the
    * [[sampleHash]] plan shape with a data-dependent rate.
    */
  /** Base keep-rate (ppm) shared by [[sampleWeighted]]'s default and
    * its SQL oracle — interpolated into both so they cannot drift.
    */
  val DefaultBasePpm = 600000L

  def sampleWeighted(spark: SparkSession, d: String,
      basePpm: Long = DefaultBasePpm): DataFrame = {
    require(basePpm >= 0 && basePpm <= 1000000L,
      s"basePpm must be in [0, 1e6], got $basePpm")
    Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        graft.functions.GraftFunctions.text_stats(col("text"),
          graft.functions.GraftFunctions.DefaultStopwords).as("st"))
      .withColumn("score_e4", expr(
        "CASE WHEN st[0] > 0 THEN least(st[2] * 10000L div st[0], 2500L) ELSE 0L END"))
      .withColumn("hash_ppm", expr(
        "cast(conv(substring(sha2(cast(doc_id as string), 256), 1, 8), 16, 10) as bigint) % 1000000"))
      .withColumn("kept", col("hash_ppm") < expr(s"$basePpm * score_e4 div 2500"))
      .select(col("doc_id"), col("source"), col("score_e4"), col("kept"))
      .orderBy("doc_id")
  }

  val sampleWeightedSql: String = {
    val stops = graft.functions.GraftFunctions.DefaultStopwords
      .map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, source, ${TextAnalysis.tokensDuck} AS toks
       |           FROM documents),
       |sc AS (SELECT doc_id, source,
       |         CASE WHEN len(toks) > 0
       |           THEN least(CAST(len(list_filter(toks, tk -> tk IN ($stops))) AS BIGINT)
       |                        * 10000 // len(toks), 2500)
       |           ELSE 0 END AS score_e4,
       |         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |           % 1000000 AS hash_ppm
       |       FROM t)
       |SELECT doc_id, source, CAST(score_e4 AS BIGINT) AS score_e4,
       |  hash_ppm < $DefaultBasePpm * score_e4 // 2500 AS kept
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Bloom-filter twin of [[decontaminate]] — the probe that wins once
    * the benchmark set outgrows a broadcast hash table: a Bloom filter
    * over the benchmark shingles (built DISTRIBUTED by Spark's
    * BloomFilterAggregate, collected as a driver-side model artifact —
    * ~1.2 bytes/item at 1% fpp, so a 10^7-shingle eval suite is a
    * ~12 MB filter vs a ~100 MB+ exact broadcast) prunes the exploded
    * corpus shingles MAP-SIDE via a `might_contain` literal; only the
    * (rare) Bloom positives reach the exact broadcast verify, so false
    * positives cannot leak into the output — the result is
    * bit-identical to the exact operator and shares its oracle. No
    * false negatives by construction.
    *
    * At corpus scale the exact-verify join stays broadcastable because
    * its left side is only the Bloom-positive shingle occurrences; if
    * even the exact bench table outgrows a broadcast, the same plan
    * runs with a shuffle join on the (already tiny) candidate frame.
    */
  def decontaminateBloom(spark: SparkSession, d: String,
      expectedItems: Long = 100000L, numBits: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val sets = Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingle_set(col("text")).as("sset"))
      .where(col("sset").isNotNull)
      .persist()
    val benchShingles = sets.where(col("doc_id") < 5)
      .select(explode(col("sset")).as("shingle"))
      .distinct()
      .persist()
    val bfBytes = benchShingles
      .agg(GraftColumnBridge.column(new BloomFilterAggregate(
          GraftColumnBridge.expression(xxhash64(col("shingle"))),
          Literal(expectedItems), Literal(numBits)).toAggregateExpression())
        .as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = GraftColumnBridge.column(BloomFilterMightContain(
      Literal.create(bfBytes, BinaryType),
      GraftColumnBridge.expression(xxhash64(col("shingle")))))
    val corpus = sets.where(col("doc_id") >= 5)
    val hits = corpus
      .select(col("doc_id"), explode(col("sset")).as("shingle"))
      .where(mightContain) // map-side Bloom prune: clean shingles never shuffle
      .join(broadcast(benchShingles.withColumn("hit", lit(1L))), Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    corpus.select(col("doc_id"))
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("n_overlap") > 0, lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Same answer as the exact operator — the Bloom is a lossless
    * pre-filter (exact verify of positives, no false negatives), so the
    * oracle is shared.
    */
  val decontaminateBloomSql: String = decontaminateSql

  /** Keep/drop curation verdict: the boolean decision a pipeline
    * actually materializes, composed from the existing quality signals —
    * length band, minimum token count, stopword ratio, within-document
    * repetition, and language-ID agreement — with one reason flag per
    * rule (so dropped docs are auditable by rule, the Gopher/C4-style
    * report). All inputs come from the compiled kernels (TextStats,
    * LangScores, ShingleSet) in ONE map-side projection; no shuffle
    * except the presentation sort, so at 100 TB this runs at scan speed.
    */
  /** Per-doc rule flags + keep verdict with grouping keys (source, lang)
    * and size columns carried through — the single map-side frame behind
    * the per-doc verdict, the corpus-stats rollup, and the corpus
    * emission. Takes the documents frame as input (rather than a path)
    * so the SAME transform runs over a batch read or a file STREAM —
    * every expression here is a stateless projection, so it is
    * streaming-safe by construction (pinned by StreamingVerdictSpec).
    */
  def verdictFlags(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions
    val markers = GraftFunctions.DefaultLangMarkers
    val df = docs
      .withColumn("st", GraftFunctions.text_stats(col("text"),
        GraftFunctions.DefaultStopwords))
      .withColumn("ls", GraftFunctions.lang_scores(col("text"), markers.map(_._2)))
      .withColumn("sset", GraftFunctions.shingle_set(col("text")))
      .withColumn("n_toks", col("st").getItem(0))
    // argmax with alphabetical tie-break, 'und' when nothing matches —
    // the exact q_text_langid decision, re-derived from the same kernel
    val maxScore = markers.indices.map(i => col("ls").getItem(i)).reduce(greatest(_, _))
    val predicted = markers.zipWithIndex.reverse.foldLeft(lit("und")) {
      case (acc, ((lang, _), i)) =>
        when(maxScore > 0 && col("ls").getItem(i) === maxScore, lit(lang)).otherwise(acc)
    }
    df.select(col("doc_id"), col("source"), col("n_chars"), col("lang"),
        col("n_toks"), col("st"), col("sset"), predicted.as("predicted_lang"))
      .withColumn("stop_ratio_e4",
        expr("CASE WHEN n_toks > 0 THEN st[2] * 10000L div n_toks ELSE 0L END"))
      .withColumn("rep_ratio_e4",
        expr("CASE WHEN n_toks >= 3 THEN (n_toks - 2 - size(sset)) * 10000L div (n_toks - 2) ELSE 0L END"))
      .select(
        col("doc_id"), col("source"), col("lang"), col("n_chars"), col("n_toks"),
        (col("n_chars") >= 100 && col("n_chars") <= 20000).as("len_ok"),
        (col("n_toks") >= 20).as("tok_ok"),
        (col("n_toks") > 0 && col("stop_ratio_e4") >= 200).as("stop_ok"),
        (col("n_toks") >= 3 && col("rep_ratio_e4") <= 2000).as("rep_ok"),
        (col("predicted_lang") === col("lang")).as("lang_ok"))
      .withColumn("keep", col("len_ok") && col("tok_ok") && col("stop_ok") &&
        col("rep_ok") && col("lang_ok"))
  }

  def curationVerdict(spark: SparkSession, d: String): DataFrame =
    verdictFlags(Tables.documents(spark, d))
      .select("doc_id", "len_ok", "tok_ok", "stop_ok", "rep_ok", "lang_ok", "keep")
      .orderBy("doc_id")

  /** Corpus curation report: per (source, lang) doc/token volumes, the
    * keep-rate, and per-rule drop counts — the dashboard table a
    * pipeline materializes after a verdict pass to see WHERE the corpus
    * is losing data. One groupBy over the map-side verdict frame
    * (partial aggregation; group count = sources × langs, tiny at any
    * corpus size).
    */
  def curationStats(spark: SparkSession, d: String): DataFrame =
    verdictFlags(Tables.documents(spark, d))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(!col("len_ok"), 1L).otherwise(0L)).as("n_len_bad"),
        sum(when(!col("tok_ok"), 1L).otherwise(0L)).as("n_tok_bad"),
        sum(when(!col("stop_ok"), 1L).otherwise(0L)).as("n_stop_bad"),
        sum(when(!col("rep_ok"), 1L).otherwise(0L)).as("n_rep_bad"),
        sum(when(!col("lang_ok"), 1L).otherwise(0L)).as("n_lang_bad"))
      .withColumn("keep_rate_e4", expr("n_keep * 10000L div n_docs"))
      .orderBy("source", "lang")

  /** Shared DuckDB CTE chain ending in `f(doc_id, source, lang, n_toks,
    * len_ok, tok_ok, stop_ok, rep_ok, lang_ok, keep)` — the oracle twin
    * of [[verdictFlags]], consumed by the verdict, the stats rollup,
    * and (via curationVerdictSql embedded as a derived table) the
    * corpus-emission oracle.
    */
  private val verdictDuckCtes: String = {
    import TextAnalysis.{tokensDuck, shinglesDuck}
    val markers = graft.functions.GraftFunctions.DefaultLangMarkers
    val stops = graft.functions.GraftFunctions.DefaultStopwords
      .map(w => s"'$w'").mkString(", ")
    val scoreCols = markers.map { case (l, ws) =>
      val in = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, tk -> tk IN ($in))) AS BIGINT) AS score_$l"
    }.mkString(", ")
    val maxExpr = "greatest(" + markers.map(m => s"score_${m._1}").mkString(", ") + ")"
    val caseArms = markers.map { case (l, _) =>
      s"WHEN score_$l = $maxExpr THEN '$l'"
    }.mkString(" ")
    val predicted = s"CASE WHEN $maxExpr = 0 THEN 'und' $caseArms ELSE 'und' END"
    s"""t AS (SELECT doc_id, source, lang, n_chars, $tokensDuck AS toks FROM documents),
       |s AS (SELECT doc_id, source, lang, n_chars, toks,
       |        CAST(len(toks) AS BIGINT) AS n_toks,
       |        CAST(len(list_filter(toks, tk -> tk IN ($stops))) AS BIGINT) AS stop_hits,
       |        CAST(len(list_distinct($shinglesDuck)) AS BIGINT) AS n_distinct_sh,
       |        $scoreCols
       |      FROM t),
       |v AS (SELECT doc_id, source, lang, n_chars, n_toks,
       |        CASE WHEN n_toks > 0 THEN stop_hits * 10000 // n_toks ELSE 0 END AS stop_ratio_e4,
       |        CASE WHEN n_toks >= 3 THEN (n_toks - 2 - n_distinct_sh) * 10000 // (n_toks - 2) ELSE 0 END AS rep_ratio_e4,
       |        $predicted AS predicted_lang
       |      FROM s),
       |f AS (SELECT doc_id, source, lang, n_toks,
       |        len_ok, tok_ok, stop_ok, rep_ok, lang_ok,
       |        (len_ok AND tok_ok AND stop_ok AND rep_ok AND lang_ok) AS keep
       |      FROM (SELECT doc_id, source, lang, n_toks,
       |              (n_chars >= 100 AND n_chars <= 20000) AS len_ok,
       |              n_toks >= 20 AS tok_ok,
       |              (n_toks > 0 AND stop_ratio_e4 >= 200) AS stop_ok,
       |              (n_toks >= 3 AND rep_ratio_e4 <= 2000) AS rep_ok,
       |              predicted_lang = lang AS lang_ok
       |            FROM v))""".stripMargin
  }

  val curationVerdictSql: String =
    s"""WITH $verdictDuckCtes
       |SELECT doc_id, len_ok, tok_ok, stop_ok, rep_ok, lang_ok, keep
       |FROM f ORDER BY doc_id""".stripMargin

  val curationStatsSql: String =
    s"""WITH $verdictDuckCtes
       |SELECT source, lang, count(*) AS n_docs,
       |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_len_bad,
       |  CAST(sum(CASE WHEN NOT tok_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_bad,
       |  CAST(sum(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_bad,
       |  CAST(sum(CASE WHEN NOT rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_bad,
       |  CAST(sum(CASE WHEN NOT lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_bad,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) * 10000
       |    // count(*) AS keep_rate_e4
       |FROM f GROUP BY source, lang ORDER BY source, lang""".stripMargin

  /** The pipeline's CAPSTONE: emit the final training corpus. A doc
    * survives iff (a) it is its near-dup cluster's canonical
    * representative — the transitive-closure keeper from
    * [[Dedup.dedupClusters]], with shingle-less docs passing as
    * singletons — AND (b) it passes the keep/drop verdict. This is the
    * query a user actually materializes as the training set; everything
    * else in the curation/dedup families is its diagnostics.
    *
    * Scale shape: composition of already-scale-shaped pieces — the
    * cluster frame is (doc_id, rep) longs, the verdict side reduces to
    * a doc_id semi-join, and the corpus streams through one left join
    * plus one LEFT SEMI join keyed on doc_id.
    */
  def corpusEmit(spark: SparkSession, d: String): DataFrame =
    corpusEmitCore(spark, d).orderBy("doc_id")

  /** [[corpusEmit]] without the presentation sort — the composition
    * point for consumers that immediately re-shuffle ([[corpusShards]]
    * hashes the survivors by shard key, so an upstream global sort
    * exchange would be pure waste at any scale).
    */
  private def corpusEmitCore(spark: SparkSession, d: String): DataFrame = {
    val reps = Dedup.dedupClusters(spark, d)
    val keepIds = verdictFlags(Tables.documents(spark, d))
      .where(col("keep")).select("doc_id")
    Tables.documents(spark, d)
      .join(reps, Seq("doc_id"), "left")
      .where(col("cluster_rep").isNull || col("cluster_rep") === col("doc_id"))
      .join(keepIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
  }

  val corpusEmitSql: String =
    s"""WITH reps AS (SELECT * FROM (${Dedup.dedupClustersSql})),
       |verd AS (SELECT doc_id FROM (${curationVerdictSql}) WHERE keep)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |LEFT JOIN reps r ON d.doc_id = r.doc_id
       |WHERE (r.cluster_rep IS NULL OR r.cluster_rep = d.doc_id)
       |  AND d.doc_id IN (SELECT doc_id FROM verd)
       |ORDER BY d.doc_id""".stripMargin

  /** Deterministic global training SHUFFLE + SHARD assignment: every
    * document gets a shard (hash bucket of a salted key hash) and a
    * position within its shard (rank in hash order) — the "shuffle the
    * corpus before training" step done as a PURE FUNCTION of the key
    * instead of an RNG permutation, so the order is reproducible across
    * runs, engines, partitionings, and retries, and any single shard can
    * be re-materialized alone (resumable emission). The salt gives a
    * fresh permutation per epoch without touching the data.
    *
    * Scale: one shuffle on the shard key, then a per-shard rank window —
    * shards are sized (corpus/numShards) to fit a partition, which is
    * exactly what the shard count knob is for; there is never a global
    * sort or a single-partition window. At 100 TB: numShards ≈
    * corpus_bytes / desired_shard_bytes, and the sink writes one
    * fragment per shard in `pos` order.
    */
  /** Shard knobs shared by the Scala defaults AND the SQL oracles below
    * (interpolated into [[shardSqlOver]]) — one definition, so editing a
    * default cannot leave the oracle stale. Calls with NON-default
    * salt/shard-count are production entry points whose results the
    * embedded oracles do not describe.
    */
  val DefaultNumShards = 8
  val DefaultShardSalt = "epoch0"

  def shuffleShards(spark: SparkSession, d: String,
      numShards: Int = DefaultNumShards,
      salt: String = DefaultShardSalt): DataFrame =
    shardFrames(Tables.documents(spark, d), numShards, salt)
      .orderBy("shard", "pos")

  /** Frame-in form of [[shuffleShards]] over any frame with a `doc_id`
    * column — the same permutation applied to whatever corpus face is
    * being emitted (the capstone composes it over the final corpus).
    */
  def shardFrames(docs: DataFrame,
      numShards: Int = DefaultNumShards,
      salt: String = DefaultShardSalt): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    docs
      .select(col("doc_id"),
        substring(sha2(concat(lit(s"$salt:"),
          col("doc_id").cast(StringType)), 256), 1, 16).as("h"))
      .withColumn("shard",
        expr(s"cast(conv(substring(h, 1, 8), 16, 10) as bigint) % $numShards"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("h", "doc_id")).cast(LongType))
      .select(col("shard"), col("pos"), col("doc_id"))
  }

  /** The capstone, SHARDED: the final training corpus ([[corpusEmit]] —
    * cluster canonicals passing the verdict) run through the
    * deterministic epoch shuffle — (shard, pos, doc_id) is the manifest
    * a trainer reads, and because both stages are key-pure, any single
    * shard can be re-materialized alone from the raw corpus.
    *
    * Scale: corpusEmit's own shape plus one shuffle on the shard key;
    * positions are per-shard ranks over corpus/numShards-sized strata.
    */
  def corpusShards(spark: SparkSession, d: String,
      numShards: Int = DefaultNumShards,
      salt: String = DefaultShardSalt): DataFrame =
    shardFrames(corpusEmitCore(spark, d).select("doc_id"), numShards, salt)
      .orderBy("shard", "pos")

  val corpusShardsSql: String =
    // subquery ORDER BY is legal (and ignored) in DuckDB, so the
    // emission SQL embeds verbatim — no fragile string surgery
    s"""WITH kept AS (SELECT doc_id FROM ($corpusEmitSql)),
       |${shardSqlOver("kept")}""".stripMargin

  /** Shard/pos SQL over any relation exposing `doc_id` — the single
    * oracle twin of [[shardFrames]] AT THE DEFAULT KNOBS (salt and
    * shard count interpolated from the same constants the Scala
    * defaults read), so neither a hash/salt/shard-count edit nor a
    * default change can desynchronize the two oracles that embed it.
    */
  private def shardSqlOver(relation: String): String =
    s"""hh AS (SELECT doc_id,
       |  substr(sha256('$DefaultShardSalt:' || CAST(doc_id AS VARCHAR)), 1, 16) AS h
       |  FROM $relation)
       |SELECT ('0x' || substr(h, 1, 8))::BIGINT % $DefaultNumShards AS shard,
       |  CAST(row_number() OVER (
       |    PARTITION BY ('0x' || substr(h, 1, 8))::BIGINT % $DefaultNumShards
       |    ORDER BY h, doc_id) AS BIGINT) AS pos,
       |  doc_id
       |FROM hh ORDER BY shard, pos""".stripMargin

  val shuffleShardsSql: String = s"WITH ${shardSqlOver("documents")}"

  /** PII detection + redaction: email / IPv4 / phone patterns counted
    * and replaced with typed placeholders — the scrubbing pass a corpus
    * makes before training. Counts and the redacted-text digest are
    * emitted so the oracle verifies the REPLACEMENT, not just the match
    * counts.
    *
    * The synthetic corpus contains no PII, so the query first augments
    * each document with a deterministic PII-shaped contact line derived
    * from `doc_id` (pure function of the row — both engines build the
    * identical string), which keeps every pattern genuinely exercised
    * on every row. The patterns use only constructs with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB): character
    * classes, bounded/`{2,}` quantifiers, `\b`, `\d` — no backrefs, no
    * lookaround.
    *
    * Scale: one map-side projection over the scan (regex state machines
    * are per-row, no shuffle); at 100 TB this is scan-bound and the
    * redacted column streams straight to the sink.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePat = "\\+\\d[\\d-]{7,}\\d"

  def piiScrub(spark: SparkSession, d: String): DataFrame =
    // floor-requesting read: the scrub's regex/char-scan chain is
    // CPU-dense enough that widening a small-split scan pays even on
    // one box — 7-rep targeted A/B, 1.19/1.38 s floor-off bracketing
    // 0.70 s floor-on at sf0.1 on a box drifting HOTTER (r14)
    scrubFrames(Tables.documentsFloored(spark, d)).orderBy("doc_id")

  /** Frame-in form of [[piiScrub]]: every expression is a stateless
    * projection, so the SAME transform scrubs a batch read or a file
    * STREAM at ingestion time (pinned by StreamingScrubSpec); the
    * presentation sort stays on the batch face.
    */
  def scrubFrames(docs: DataFrame): DataFrame = {
    val m = (n: Int) => col("doc_id") % n
    val aug = concat(
      lit("contact u"), m(50).cast(StringType),
      lit("@mail"), m(7).cast(StringType), lit(".com from 10."),
      m(256).cast(StringType), lit(".0."), m(100).cast(StringType),
      lit(" tel +1-555-"),
      lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
      lit(" :: "), col("text"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(aug, lit(EmailPat), lit("<EMAIL>")),
          lit(Ipv4Pat), lit("<IP>")),
        lit(PhonePat), lit("<PHONE>"))
    docs
      .select(
        col("doc_id"),
        size(regexp_extract_all(aug, lit(EmailPat), lit(0)))
          .cast(LongType).as("n_email"),
        size(regexp_extract_all(aug, lit(Ipv4Pat), lit(0)))
          .cast(LongType).as("n_ipv4"),
        size(regexp_extract_all(aug, lit(PhonePat), lit(0)))
          .cast(LongType).as("n_phone"),
        length(redacted).cast(LongType).as("red_len"),
        substring(sha2(redacted, 256), 1, 16).as("red_hash"))
  }

  val piiScrubSql: String = {
    val aug = """'contact u' || CAST(doc_id % 50 AS VARCHAR)
      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com from 10.'
      || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
      || ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      || ' :: ' || text""".replaceAll("\\s+", " ")
    // single-quoted SQL literals: DuckDB takes backslashes verbatim, so
    // the Java-regex strings embed as-is
    val (email, ipv4, phone) = (EmailPat, Ipv4Pat, PhonePat)
    s"""WITH a AS (SELECT doc_id, $aug AS aug FROM documents),
       |r AS (SELECT doc_id, aug,
       |        regexp_replace(regexp_replace(regexp_replace(aug,
       |          '$email', '<EMAIL>', 'g'),
       |          '$ipv4', '<IP>', 'g'),
       |          '$phone', '<PHONE>', 'g') AS red
       |      FROM a)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(aug, '$ipv4')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phone,
       |  CAST(length(red) AS BIGINT) AS red_len,
       |  substr(sha256(red), 1, 16) AS red_hash
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Robust per-source length-outlier filter: median + MAD (median
    * absolute deviation) of `n_chars` within each source, flagging
    * documents with deviation > 3×MAD — the robust univariate filter
    * curation pipelines prefer over mean/stddev, which a single giant
    * document can drag arbitrarily. Exact rank arithmetic (the
    * ceil-rank convention shared with TrainingPrep.quantileStats) so
    * both engines pick the identical median element; a zero MAD
    * (majority-constant source) flags any deviation at all — the
    * degenerate case is explicit, not NaN.
    *
    * Scale: two source-partitioned windows (rank for the median, rank
    * for the MAD over deviations) — well-keyed exchanges, never a
    * global window — and two broadcast joins of source-sized medians
    * back onto the corpus. At extreme per-source cardinality the
    * window sort within one source is the bound; the skew-safe
    * alternative is the fixed-width histogram approach
    * (TrainingPrep.lengthHistogram) feeding an approximate median.
    */
  /** The FIT half of [[robustFilter]]: per-source (median, MAD) bounds
    * — a batch-only model frame (rank windows need the full corpus).
    * Production shape: fit offline on yesterday's corpus, then apply
    * via the stateless [[admitFrames]] to a batch OR an ingest stream.
    */
  def sourceBounds(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def medianOf(df: DataFrame, valueCol: String, as: String): DataFrame =
      df.withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col(valueCol), col("doc_id")))
          .cast(LongType))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
        .groupBy("source")
        .agg(max(when(col("rn") === expr("(cnt * 50 + 99) div 100"),
          col(valueCol))).as(as))
    val t = docs.select(col("doc_id"), col("source"), col("n_chars"))
    val med = medianOf(t, "n_chars", "med_chars")
    val dev = t.join(broadcast(med), "source")
      .withColumn("dev", abs(col("n_chars") - col("med_chars")))
    medianOf(dev.select(col("doc_id"), col("source"), col("dev")),
      "dev", "mad_chars")
      .join(broadcast(med), "source")
      .select(col("source"), col("med_chars"), col("mad_chars"))
  }

  /** The APPLY half of [[robustFilter]]: a stateless broadcast
    * stream-static join — each document (batch row or streamed ingest
    * row) picks up its source's bounds and gets its outlier verdict.
    * A source ABSENT from the fit (a domain that appeared after
    * yesterday's model) cannot be judged: the LEFT join keeps the row
    * with null bounds and `is_outlier = false` (admit-by-default —
    * dropping unjudgeable rows silently would make the stream
    * undercount; the null bounds mark them for the next re-fit). No
    * watermark or state store needed; append-mode safe (pinned
    * stream==batch by StreamingAdmitSpec, unseen-source behavior by
    * CurationOpsSpec).
    */
  def admitFrames(docs: DataFrame, bounds: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(bounds), Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("med_chars"), col("mad_chars"),
        coalesce(
          abs(col("n_chars") - col("med_chars")) > col("mad_chars") * 3,
          lit(false)).as("is_outlier"))

  def robustFilter(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    admitFrames(docs, sourceBounds(docs)).orderBy("doc_id")
  }

  val robustFilterSql: String =
    s"""WITH t AS (SELECT doc_id, source, n_chars FROM documents),
       |r1 AS (SELECT doc_id, source, n_chars,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
       |         count(*) OVER (PARTITION BY source) AS cnt FROM t),
       |med AS (SELECT source, max(CASE WHEN rn = (cnt * 50 + 99) // 100
       |          THEN n_chars END) AS med_chars FROM r1 GROUP BY source),
       |d AS (SELECT t.doc_id, t.source, t.n_chars, med.med_chars,
       |        abs(t.n_chars - med.med_chars) AS dev
       |      FROM t JOIN med USING (source)),
       |r2 AS (SELECT doc_id, source, dev,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY dev, doc_id) AS BIGINT) AS rn,
       |         count(*) OVER (PARTITION BY source) AS cnt FROM d),
       |mad AS (SELECT source, max(CASE WHEN rn = (cnt * 50 + 99) // 100
       |          THEN dev END) AS mad_chars FROM r2 GROUP BY source)
       |SELECT d.doc_id, d.source, d.n_chars, d.med_chars, mad.mad_chars,
       |  d.dev > mad.mad_chars * 3 AS is_outlier
       |FROM d JOIN mad USING (source)
       |ORDER BY d.doc_id""".stripMargin

  /** CROSS-SOURCE shingle overlap: the pairwise Jaccard matrix over the
    * per-source distinct 3-gram shingle sets — the "how much do two
    * crawl dumps / domains repeat each other" diagnostic that decides
    * whether sources should be deduplicated jointly or can be processed
    * independently (and the between-corpus face of what
    * [[decontaminate]] measures against a benchmark).
    *
    * Exact, never all-pairs over documents: shingles collapse to
    * DISTINCT (source, H16) rows first (H16 = first 16 sha256 hex chars
    * — the house fingerprint; hashing before the shuffle keeps exchange
    * rows fixed-width instead of carrying raw shingle text), and the
    * intersection sizes come from ONE self-equi-join keyed on the hash,
    * where a shingle shared by k sources fans out to C(k,2) pairs —
    * bounded by the source count squared, independent of corpus size.
    * Set sizes and the pair matrix are model-sized (|sources| and
    * C(|sources|,2) rows), so the final assembly join is a
    * broadcast nested-loop over two tiny frames. Zero-overlap pairs are
    * emitted too (jaccard 0), and sources whose documents are all too
    * short to yield a shingle still appear with n = 0 (empty-empty
    * pairs define jaccard as 0 — guarded, DuckDB's `// 0` errors), so
    * the matrix is total over the corpus's sources.
    */
  def sourceOverlap(spark: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions
    val s = Tables.documents(spark, d)
      .select(col("source"), GraftFunctions.shingle_set(col("text")).as("sset"))
      .where(col("sset").isNotNull)
      .select(col("source"), explode(col("sset")).as("shingle"))
      .select(col("source"),
        expr("substring(sha2(shingle, 256), 1, 16)").as("h"))
      .distinct()
      .persist()
    // size every source from the CORPUS, not the shingle frame — a
    // source whose docs are all too short for one shingle must still
    // appear in the matrix (n = 0), or the report silently loses it
    val sz = Tables.documents(spark, d).select("source").distinct()
      .join(s.groupBy("source").agg(count(lit(1)).as("n0")), Seq("source"), "left")
      .select(col("source"), coalesce(col("n0"), lit(0L)).as("n"))
    val inter = s.toDF("source_a", "h")
      .join(s.toDF("source_b", "h"), "h")
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_common"))
    // explicit broadcast: sz is |sources|-sized but is a join RESULT, so
    // its size estimate can exceed the nested-loop threshold and degrade
    // the non-equi pair join to a CartesianProduct (plan-pinned against)
    sz.toDF("source_a", "n_a")
      .join(broadcast(sz.toDF("source_b", "n_b")),
        col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        // an empty-empty pair has union 0: jaccard defined as 0, and the
        // CASE keeps the division guarded in BOTH engines (DuckDB // 0
        // errors rather than nulling)
        expr("""CASE WHEN n_a + n_b - coalesce(n_common, 0L) = 0 THEN 0L
               |ELSE coalesce(n_common, 0L) * 1000000L
               |  div (n_a + n_b - coalesce(n_common, 0L)) END""".stripMargin)
          .as("jaccard_e6"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String = {
    import TextAnalysis.{tokensDuck, shinglesDuck}
    s"""WITH t AS (SELECT source, $tokensDuck AS toks FROM documents),
       |s AS (SELECT DISTINCT source, substr(sha256(shingle), 1, 16) AS h
       |      FROM (SELECT source, unnest($shinglesDuck) AS shingle FROM t)),
       |sz AS (SELECT d.source, CAST(coalesce(c.n0, 0) AS BIGINT) AS n
       |       FROM (SELECT DISTINCT source FROM documents) d
       |       LEFT JOIN (SELECT source, count(*) AS n0 FROM s GROUP BY source) c
       |       ON c.source = d.source),
       |inter AS (SELECT a.source AS source_a, b.source AS source_b,
       |            count(*) AS n_common
       |          FROM s a JOIN s b ON a.h = b.h AND a.source < b.source
       |          GROUP BY 1, 2)
       |SELECT x.source AS source_a, y.source AS source_b,
       |  x.n AS n_a, y.n AS n_b,
       |  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
       |  CAST(CASE WHEN x.n + y.n - coalesce(i.n_common, 0) = 0 THEN 0
       |    ELSE coalesce(i.n_common, 0) * 1000000
       |      // (x.n + y.n - coalesce(i.n_common, 0)) END AS BIGINT) AS jaccard_e6
       |FROM sz x JOIN sz y ON x.source < y.source
       |LEFT JOIN inter i ON i.source_a = x.source AND i.source_b = y.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** DSIR knobs, interpolated into BOTH the Scala defaults and the
    * oracle SQL so an edit cannot desynchronize them.
    */
  val DefaultDsirBuckets = 256
  val DefaultDsirTargetLang = "en"

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-unigram feature distribution looks
    * like a TARGET domain (here: the `lang = 'en'` slice standing in
    * for a curated target corpus) relative to the raw corpus. Weights
    * drive resampling — keep documents proportionally to w.
    *
    * The DSIR estimator is a bag-of-hashed-ngrams likelihood ratio:
    * tokens hash into `B` buckets, each corpus fits a smoothed
    * categorical distribution over buckets, and a document's raw-model
    * weight is Π p_tgt(b_i)/p_raw(b_i) over its token occurrences.
    * Exactly-reproducible variant (house discipline — no `ln`/`exp`
    * tied to libm rounding): per-occurrence likelihood ratio
    * `r_e6(b) = 10^6·(c_tgt(b)+1)·(N_raw+B) div ((c_raw(b)+1)·(N_tgt+B))`
    * (add-one smoothing on both models), and the document weight is the
    * ARITHMETIC mean of its occurrences' ratios — the log-free surrogate
    * for DSIR's geometric mean (same fixed points: uniformly
    * target-like docs score 1e6·p-ratio, off-target docs → 0; ranking
    * differs only where a doc mixes extreme ratios, which is exactly
    * the hashing-noise regime DSIR itself averages away). Numerators
    * accumulate in Decimal(38,0): at web scale c_tgt·N_raw overflows a
    * long (10^12·10^14). Per-doc ratio sums stay in longs — each ratio
    * is ≤ 10^6·(N_raw+B)/(N_tgt+B), bounded by the corpus/target size
    * ratio (document lengths are bounded; emit the decimal instead if
    * ever targeting a <10^-7 slice).
    *
    * Scale: the corpus explodes ONCE into (doc, is_tgt, bucket) — the
    * frame is persisted because it feeds both the model fit and the
    * scoring pass (at corpus scale: a one-time parquet
    * materialization). The model is `B` rows (one shuffle of B-keyed
    * map-side partials), its totals a one-row broadcast, and scoring is
    * a broadcast hash join + per-doc partial aggregation — the corpus
    * itself is never shuffled except as per-doc short rows into the
    * final aggregate.
    */
  /** One corpus pass: exploded (doc, is_tgt, bucket) rows — the frame
    * both the model fit and the exchange-form scoring consume.
    */
  private def dsirExplode(docs: DataFrame, buckets: Int,
      targetLang: String): DataFrame = {
    import TextAnalysis.tokensSpark
    docs
      .select(col("doc_id"), (col("lang") === targetLang).as("is_tgt"),
        explode(expr(tokensSpark)).as("token"))
      .select(col("doc_id"), col("is_tgt"),
        expr(s"cast(conv(substring(sha2(token, 256), 1, 8), 16, 10) as bigint) % $buckets")
          .as("bucket"))
  }

  private def dsirByBucket(b: DataFrame): DataFrame =
    b.groupBy("bucket").agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_tgt"))

  /** Smoothed likelihood ratio from (c_raw, c_tgt, n_raw, n_tgt) cols. */
  private def dsirRatioExpr(buckets: Int): String =
    s"""cast(cast(c_tgt + 1 as decimal(38,0)) * (n_raw + $buckets) * 1000000
       |  div (cast(c_raw + 1 as decimal(38,0)) * (n_tgt + $buckets)) as bigint)"""
      .stripMargin

  def dsirWeights(spark: SparkSession, d: String,
      buckets: Int = DefaultDsirBuckets,
      targetLang: String = DefaultDsirTargetLang): DataFrame = {
    val b = dsirExplode(Tables.documents(spark, d), buckets, targetLang)
      .persist()
    val byBucket = dsirByBucket(b)
    val tot = byBucket.agg(
      sum("c_raw").as("n_raw"), sum("c_tgt").as("n_tgt"))
    val model = byBucket.crossJoin(broadcast(tot))
      .select(col("bucket"), expr(dsirRatioExpr(buckets)).as("ratio_e6"))
    b.join(broadcast(model), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        expr("sum(ratio_e6) div count(1)").as("w_e6"))
      .orderBy("doc_id")
  }

  /** The DSIR model as ONE broadcastable row: the bucket→ratio map plus
    * the smoothing-floor default for buckets never seen in the fit
    * (c_raw = c_tgt = 0 ⇒ ratio = (N_raw+B)·10^6 div (N_tgt+B)) — the
    * artifact [[dsirScoreFrames]] applies at ingest.
    */
  def dsirModelRow(docs: DataFrame,
      buckets: Int = DefaultDsirBuckets,
      targetLang: String = DefaultDsirTargetLang): DataFrame = {
    // persist the B-row bucket partials: they feed the totals, the map
    // aggregation, and the default — unpersisted, each consumer would
    // replay the corpus explode from lineage (the same reason
    // dsirWeights persists its exploded frame)
    val byBucket = dsirByBucket(
      dsirExplode(docs, buckets, targetLang)).persist()
    val tot = byBucket.agg(
      sum("c_raw").as("n_raw"), sum("c_tgt").as("n_tgt"))
    byBucket.crossJoin(broadcast(tot))
      .select(col("bucket"), expr(dsirRatioExpr(buckets)).as("ratio_e6"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("ratio_e6"))))
        .as("m"))
      .crossJoin(broadcast(tot.select(expr(
        s"""cast(cast(n_raw + $buckets as decimal(38,0)) * 1000000
           |  div (n_tgt + $buckets) as bigint)""".stripMargin)
        .as("default_ratio_e6"))))
  }

  /** STATELESS application of the DSIR model: each document scores
    * itself with a higher-order fold over its tokens against the
    * broadcast map — no explode, no shuffle, no state — so the SAME
    * transform scores a batch read or an ingest STREAM (the
    * fit-offline / score-at-ingest shape, pinned stream==batch==
    * [[dsirWeights]] by StreamingDsirSpec). Trade-off vs the
    * [[dsirWeights]] explode+join form, documented honestly: the
    * lambda pays an interpreted frame per token (sha256 inside a HOF
    * doesn't codegen), while the explode form is whole-stage-codegen
    * but shuffles per-doc aggregation rows; batch keeps the explode
    * form, ingest needs this one.
    */
  def dsirScoreFrames(docs: DataFrame, modelRow: DataFrame,
      buckets: Int = DefaultDsirBuckets): DataFrame = {
    import TextAnalysis.tokensSpark
    docs
      .crossJoin(broadcast(modelRow))
      .withColumn("toks", expr(tokensSpark))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_toks"),
        expr(
          s"""aggregate(
             |  transform(toks, t -> coalesce(
             |    element_at(m, cast(conv(substring(sha2(t, 256), 1, 8), 16, 10) as bigint) % $buckets),
             |    default_ratio_e6)),
             |  0L, (acc, x) -> acc + x) div size(toks)""".stripMargin)
          .as("w_e6"))
  }

  val dsirWeightsSql: String = {
    import TextAnalysis.tokensDuck
    val bN = DefaultDsirBuckets
    s"""WITH t AS (SELECT doc_id, lang = '$DefaultDsirTargetLang' AS is_tgt,
       |             unnest($tokensDuck) AS token FROM documents),
       |b AS (SELECT doc_id, is_tgt,
       |        ('0x' || substr(sha256(token), 1, 8))::BIGINT % $bN AS bucket
       |      FROM t),
       |bb AS (SELECT bucket, count(*) AS c_raw,
       |         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
       |       FROM b GROUP BY bucket),
       |tot AS (SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM bb),
       |model AS (SELECT bucket,
       |            CAST((c_tgt + 1) * (n_raw + $bN) * 1000000
       |              // ((c_raw + 1) * (n_tgt + $bN)) AS BIGINT) AS ratio_e6
       |          FROM bb, tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       |  CAST(sum(ratio_e6) // count(*) AS BIGINT) AS w_e6
       |FROM b JOIN model USING (bucket)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** JSONL record assembly — the serialization step that ends most
    * training pipelines (corpus → one JSON object per line in shard
    * files). The record is built by explicit concatenation, NOT an
    * engine `to_json` (field order, spacing, and number rendering are
    * engine-specific; concatenation is character-identical everywhere),
    * with JSON string escaping as an ordered pass chain: backslash,
    * quote, the \\n/\\t/\\r short escapes, then the remaining C0
    * controls stripped (no short escape exists for them; stripping is
    * deterministic in both engines and keeps line framing intact).
    * Emits the record length and H16 digest per document
    * rather than the record text (the piiScrub reporting discipline:
    * verify the BYTES, keep the oracle output narrow).
    *
    * Scale: a pure map-side projection — at 100 TB this is scan-bound
    * and the record column streams straight to the shard writer
    * ([[shardFrames]] supplies the shard/pos assignment).
    */
  def jsonlEmit(spark: SparkSession, d: String): DataFrame =
    // floor-requesting read: per-doc escape folding is map-side CPU;
    // same 7-rep A/B as piiScrub — 0.93/1.08 s off bracketing 0.75 s
    // on (box drifting hotter), ~20-30% repeatable
    jsonlFrames(Tables.documentsFloored(spark, d)).orderBy("doc_id")

  /** The assembled record itself, one row per doc — split out so the
    * escaping path is testable with planted quotes/backslashes (the
    * synthetic corpus contains neither, so the oracle alone would
    * leave it unexercised; CurationOpsSpec round-trips records through
    * a real JSON parser).
    */
  /** C0 controls WITHOUT a JSON short escape (everything but \t \n \r):
    * the one list both engines' escape chains fold over, so the Scala
    * chain and the oracle SQL cannot disagree on which bytes encode.
    */
  private val C0NoShortEscape: Seq[Int] =
    (0x00 to 0x1f).filterNot(Seq(0x09, 0x0a, 0x0d).contains)

  def jsonlRecordFrames(docs: DataFrame): DataFrame = {
    // JSON string escape: backslash FIRST (later passes insert new
    // backslashes that are escapes themselves), then quote, then the
    // C0 controls with short escapes (\n \t \r); the remaining C0
    // controls \u00XX-encode (one plain single-char replace each —
    // LOSSLESS, where stripping them silently mutated content in a
    // serialization step; a JSON reader decodes them back to the
    // original bytes)
    def esc(c: Column): Column = {
      val base = regexp_replace(regexp_replace(c, lit("\\\\"), lit("\\\\\\\\")),
        lit("\""), lit("\\\\\""))
      val shortEsc = regexp_replace(
        regexp_replace(
          regexp_replace(base, lit("\n"), lit("\\\\n")),
          lit("\t"), lit("\\\\t")),
        lit("\r"), lit("\\\\r"))
      C0NoShortEscape.foldLeft(shortEsc) { (acc, cp) =>
        replace(acc, lit(cp.toChar.toString), lit("\\" + f"u$cp%04x"))
      }
    }
    docs.select(col("doc_id"), concat(
      lit("{\"id\":"), col("doc_id"),
      lit(",\"lang\":\""), esc(col("lang")),
      lit("\",\"source\":\""), esc(col("source")),
      lit("\",\"n_chars\":"), col("n_chars"),
      lit(",\"text\":\""), esc(col("text")), lit("\"}")).as("rec"))
  }

  /** Frame-in form of [[jsonlEmit]]: stateless projection, so the same
    * transform serializes a batch read or an ingest stream.
    */
  def jsonlFrames(docs: DataFrame): DataFrame =
    jsonlRecordFrames(docs).select(col("doc_id"),
      length(col("rec")).cast(LongType).as("rec_len"),
      substring(sha2(col("rec"), 256), 1, 16).as("rec_hash"))

  val jsonlEmitSql: String = {
    // mirror of jsonlRecordFrames' escape chain: backslash, quote,
    // \n/\t/\r short escapes, then \u00XX-encode the remaining C0
    // controls (same C0NoShortEscape list folded on both sides; DuckDB
    // single-quoted literals take the backslash verbatim)
    def esc(col: String): String = {
      val short =
        s"""replace(replace(replace(replace(replace(
           |  $col, '\\', '\\\\'), '"', '\\"'),
           |  chr(10), '\\n'), chr(9), '\\t'), chr(13), '\\r')"""
          .stripMargin.replaceAll("\\s+", " ").trim
      C0NoShortEscape.foldLeft(short) { (acc, cp) =>
        s"replace($acc, chr($cp), '\\" + f"u$cp%04x" + "')"
      }
    }
    s"""WITH r AS (SELECT doc_id,
       |  '{"id":' || CAST(doc_id AS VARCHAR)
       |    || ',"lang":"' || ${esc("lang")}
       |    || '","source":"' || ${esc("source")}
       |    || '","n_chars":' || CAST(n_chars AS VARCHAR)
       |    || ',"text":"' || ${esc("text")}
       |    || '"}' AS rec
       |  FROM documents)
       |SELECT doc_id, CAST(length(rec) AS BIGINT) AS rec_len,
       |  substr(sha256(rec), 1, 16) AS rec_hash
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Corpus SNAPSHOT DIFF: added / removed / changed / unchanged
    * counts per source between two corpus versions — the ops report
    * behind incremental reprocessing ("what did this week's crawl
    * actually change?") and the input to cache-invalidation decisions.
    * Documents are compared by H16 content digest, never by text: at
    * 100 TB the diff join shuffles (id, source, 16-hex) rows only.
    *
    * The driver supplies one snapshot, so the two versions are derived
    * deterministically in-query (the piiScrub planting discipline,
    * identical in the oracle): the OLD snapshot is the hash-bucket
    * `< 95` slice with a ' legacy' suffix planted on every
    * `doc_id % 13 == 0` document (content drift); the NEW snapshot
    * drops buckets `< 3` (documents removed since). One full-outer
    * join keyed on doc_id classifies every document; per-source counts
    * aggregate map-side.
    */
  def corpusDiff(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val h16 = (c: Column) => substring(sha2(c, 256), 1, 16)
    val old = docs.withColumn("bucket", bucketSpark)
      .where(col("bucket") < 95)
      .select(col("doc_id"), col("source").as("src_old"),
        h16(expr("CASE WHEN doc_id % 13 = 0 THEN concat(text, ' legacy') ELSE text END"))
          .as("h_old"))
    val nw = docs.withColumn("bucket", bucketSpark)
      .where(col("bucket") >= 3)
      .select(col("doc_id"), col("source").as("src_new"),
        h16(col("text")).as("h_new"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_new"), col("src_old")).as("source"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .orderBy("source")
  }

  val corpusDiffSql: String =
    s"""WITH b AS (SELECT doc_id, source, text, $bucketDuck AS bucket FROM documents),
       |o AS (SELECT doc_id, source AS src_old,
       |        substr(sha256(CASE WHEN doc_id % 13 = 0
       |          THEN text || ' legacy' ELSE text END), 1, 16) AS h_old
       |      FROM b WHERE bucket < 95),
       |n AS (SELECT doc_id, source AS src_new,
       |        substr(sha256(text), 1, 16) AS h_new
       |      FROM b WHERE bucket >= 3),
       |s AS (SELECT coalesce(n.src_new, o.src_old) AS source,
       |        CASE WHEN o.h_old IS NULL THEN 'added'
       |             WHEN n.h_new IS NULL THEN 'removed'
       |             WHEN o.h_old <> n.h_new THEN 'changed'
       |             ELSE 'unchanged' END AS status
       |      FROM o FULL OUTER JOIN n USING (doc_id))
       |SELECT source,
       |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
       |FROM s GROUP BY source ORDER BY source""".stripMargin

  /** URL CANONICALIZATION + dedup: collapse scheme / host-case / www. /
    * tracking-query / fragment / trailing-slash variants to one
    * canonical form and group documents by it — the first-line dedup
    * of web crawls (C4 and Common Crawl both dedup by canonical URL
    * before any content hashing).
    *
    * The synthetic corpus carries no URLs, so each document plants a
    * deterministic noisy variant (the piiScrub discipline — a pure
    * function of `doc_id`, identical in the oracle): scheme alternates,
    * host case cycles three ways, `www.` appears on evens, a tracking
    * query string always trails, a fragment on every 5th, a trailing
    * slash on every 7th. Canonicalization is four regex passes with
    * Java-regex/RE2-identical semantics (anchors, character classes —
    * no lookaround): strip `?…`/`#…`, strip scheme, lowercase, strip
    * `www.`, strip trailing slash.
    *
    * Scale: the planting and canonicalization are one map-side
    * projection; the group-by shuffles (canonical-url, doc_id) rows
    * with map-side partial aggregation. Groups of one are filtered —
    * the report is the duplicate clusters.
    */
  def urlDedup(spark: SparkSession, d: String): DataFrame = {
    val hostCased = expr(
      """CASE doc_id % 3
        |  WHEN 0 THEN upper(concat('site', cast(doc_id % 5 as string), '.com'))
        |  WHEN 1 THEN concat('Site', cast(doc_id % 5 as string), '.Com')
        |  ELSE concat('site', cast(doc_id % 5 as string), '.com') END""".stripMargin)
    // round-8 organic shapes: explicit default ports, duplicated path
    // slashes, and a percent-encoded path segment (%70 = 'p') join the
    // original scheme/www/case/trailing-slash/query/fragment variants —
    // every canonicalization pass below sees real work on the fixture
    val raw = concat(
      when(col("doc_id") % 2 === 0, "https://").otherwise("http://"),
      when(col("doc_id") % 2 === 0, "www.").otherwise(""),
      hostCased,
      when(col("doc_id") % 11 === 0,
        when(col("doc_id") % 2 === 0, ":443").otherwise(":80")).otherwise(""),
      expr("""CASE WHEN doc_id % 17 = 0 THEN '/%70/'
             |     WHEN doc_id % 13 = 0 THEN '/p//'
             |     ELSE '/p/' END""".stripMargin),
      (col("doc_id") % 10).cast(StringType),
      when(col("doc_id") % 7 === 0, "/").otherwise(""),
      lit("?utm_source=feed&ref="), col("doc_id").cast(StringType),
      when(col("doc_id") % 5 === 0, "#frag").otherwise(""))
    // canonicalization order matters: query/fragment off first, then
    // scheme, lowercase, www, default-port strip (host:80|:443 before a
    // path boundary), duplicate-slash collapse (safe only AFTER the
    // scheme's own // is gone), targeted percent-decode of the
    // unreserved %70, trailing slash last
    val canon =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                lower(regexp_replace(
                  regexp_replace(raw, lit("[?#].*$"), lit("")),
                  lit("^https?://"), lit(""))),
                lit("^www\\."), lit("")),
              lit("^([^/:]*):(80|443)(/|$)"), lit("$1$3")),
            lit("/{2,}"), lit("/")),
          lit("%70"), lit("p")),
        lit("/$"), lit(""))
    Tables.documents(spark, d)
      .select(col("doc_id"), canon.as("url_norm"), raw.as("url_raw"))
      .groupBy("url_norm")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("url_raw").as("n_variants"),
        min("doc_id").as("min_doc_id"))
      .where(col("n_docs") >= 2)
      .orderBy("url_norm")
  }

  val urlDedupSql: String =
    s"""WITH u AS (SELECT doc_id,
       |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
       |  || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
       |  || (CASE doc_id % 3
       |        WHEN 0 THEN upper('site' || CAST(doc_id % 5 AS VARCHAR) || '.com')
       |        WHEN 1 THEN 'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Com'
       |        ELSE 'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' END)
       |  || (CASE WHEN doc_id % 11 = 0
       |        THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
       |        ELSE '' END)
       |  || (CASE WHEN doc_id % 17 = 0 THEN '/%70/'
       |        WHEN doc_id % 13 = 0 THEN '/p//'
       |        ELSE '/p/' END)
       |  || CAST(doc_id % 10 AS VARCHAR)
       |  || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
       |  || '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
       |  || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url_raw
       |  FROM documents),
       |c AS (SELECT doc_id, url_raw,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(lower(regexp_replace(regexp_replace(
       |            url_raw, '[?#].*$$', ''), '^https?://', '')), '^www\\.', ''),
       |          '^([^/:]*):(80|443)(/|$$)', '\\1\\3'),
       |        '/{2,}', '/', 'g'),
       |      '%70', 'p', 'g'),
       |    '/$$', '') AS url_norm
       |  FROM u)
       |SELECT url_norm, count(*) AS n_docs,
       |  count(DISTINCT url_raw) AS n_variants,
       |  min(doc_id) AS min_doc_id
       |FROM c GROUP BY url_norm HAVING count(*) >= 2
       |ORDER BY url_norm""".stripMargin

  /** Quality-classifier knobs, interpolated into both the Scala code
    * and the oracle SQL. The weight for bucket b is a pure function of
    * b (planting discipline — no trained artifact ships with the
    * fixture): `(hash32("w:" + b) mod 2001) * 1000` ∈ [0, 2e6] in e6
    * units, NON-NEGATIVE by construction so the per-doc mean needs no
    * cross-engine negative-integer-division care. Keep iff the mean
    * weight ≥ 1e6 (the midpoint — a real deployment loads trained
    * weights into the same frame and tunes the threshold).
    */
  val DefaultQcBuckets = 256
  val DefaultQcKeepE6 = 1000000L

  /** Batch-gradient-descent rounds for [[lrTrain]], shared with its
    * oracle generator.
    */
  val LrIterations = 5

  /** Learning-rate denominator: each round steps `−G_j div (n · this)`
    * in e4 weight units.
    */
  val LrStepDenom = 2000L

  /** IN-ENGINE CLASSIFIER TRAINING, exactly reproducible: a logistic
    * regression distilling the rule-based [[curationVerdict]] into
    * weights over four teacher-aligned integer features (capped token
    * count, stopword ratio, repetition ratio, labeled-language marker
    * share) plus a bias — the standard bootstrap for a learned quality
    * filter (label with heuristics, train a model, ship the model
    * where the heuristics are too slow or brittle). Features are
    * integer-CENTERED (x − corpus mean) in a first pass, without which
    * the constant bias column soaks up every gradient and the model
    * never beats the majority class (measured: stuck at 63.8% for any
    * learning rate; centered, 96.6% by round 2 — the language-share
    * feature carries the 48% of drops that are pure lang mismatches).
    *
    * The arithmetic is the point: training runs ENTIRELY in integer
    * fixed-point — a hard-sigmoid `clamp(5000 + s/4, 0, 10000)` in e4
    * probability units replaces exp, per-row gradients are exact
    * integers, and their sums are order-independent (integer addition
    * commutes; float reductions do NOT), so the whole training
    * TRAJECTORY — every weight after every round — is bit-identical
    * across engines, partitionings, and retries; the DuckDB oracle
    * re-derives it from scratch. Float GD cannot make that promise,
    * and "the same model every run" is exactly what a reproducible
    * data pipeline needs from an in-pipeline trainer. All three
    * division semantics agree (Spark `div`, DuckDB `//`, BigInt `/`
    * truncate toward zero — verified on negatives).
    *
    * Scale: the feature frame (5 ints + label per doc) persists once;
    * the means pass and each round are ONE map-side-partial
    * aggregation collapsing to a scalar row plus one accuracy
    * aggregate — (k+1)·2 corpus passes, driver state is 5 longs (the
    * k-means/BPE collect discipline: model-sized scalars only).
    */
  /** The centered integer feature frame shared by [[lrTrain]] and
    * [[lrScore]]: (doc_id, y, x0..x4), persisted; the first round's
    * collect fills it.
    */
  private def lrFeatures(spark: SparkSession, d: String): (DataFrame, Long) = {
    import graft.functions.GraftFunctions
    val markers = GraftFunctions.DefaultLangMarkers
    val ownScore = markers.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, ((l, _), i)) =>
        when(col("lang") === l, col("ls").getItem(i).cast(LongType)).otherwise(acc)
    }
    val totScore = markers.indices
      .map(i => col("ls").getItem(i).cast(LongType)).reduce(_ + _)
    val rawFeats = Tables.documents(spark, d)
      .withColumn("st", GraftFunctions.text_stats(col("text"),
        GraftFunctions.DefaultStopwords))
      .withColumn("ls", GraftFunctions.lang_scores(col("text"), markers.map(_._2)))
      .withColumn("sset", GraftFunctions.shingle_set(col("text")))
      .withColumn("n_toks", col("st").getItem(0).cast(LongType))
      .withColumn("own_sc", ownScore)
      .withColumn("tot_sc", totScore)
      .where(col("n_toks") > 0)
      .join(verdictFlags(Tables.documents(spark, d))
        .select(col("doc_id"), col("keep")), Seq("doc_id"))
      .select(col("doc_id"),
        when(col("keep"), 1L).otherwise(0L).as("y"),
        (least(col("n_toks"), lit(1000L)) * 10L).as("r1"),
        (least(expr("st[2] * 10000L div n_toks"), lit(2000L)) * 5L).as("r2"),
        (least(expr(
          """CASE WHEN n_toks >= 3
            | THEN (n_toks - 2 - size(sset)) * 10000L div (n_toks - 2)
            | ELSE 0L END""".stripMargin.replace("\n", "")),
          lit(5000L)) * 2L).as("r3"),
        expr("own_sc * 10000L div greatest(1L, tot_sc)").as("r4"))
      .persist()
    val n = rawFeats.count()
    require(n > 0, "no documents with tokens to train on")
    val meansRow = rawFeats.select(
      (1 to 4).map(j => sum(col(s"r$j")).as(s"m$j")): _*).collect()(0)
    val means = (1 to 4).map(j => meansRow.getLong(j - 1) / n)
    val feats = rawFeats.select(
      col("doc_id") +: col("y") +: lit(10000L).as("x0") +:
        (1 to 4).map(j => (col(s"r$j") - lit(means(j - 1))).as(s"x$j")): _*)
      .persist()
    (feats, n)
  }

  private def lrDot(w: Array[Long]): String =
    (0 to 4).map(j => s"${w(j)}L*x$j").mkString("(", " + ", ") div 10000L")

  /** `iterations` batch-GD rounds over the feature frame; returns the
    * weight vector after EACH round.
    */
  private def lrRounds(feats: DataFrame, n: Long,
      iterations: Int): Seq[Array[Long]] = {
    val w = Array.fill(5)(0L)
    val hist = Seq.newBuilder[Array[Long]]
    for (_ <- 1 to iterations) {
      val err =
        s"greatest(0L, least(10000L, 5000L + (${lrDot(w)}) div 4L)) - y * 10000L"
      val g = feats.select(
        (0 to 4).map(j =>
          sum(expr(s"cast(($err) * x$j as decimal(38,0))")).as(s"g$j")): _*)
        .collect()(0)
      for (j <- 0 to 4) {
        val gj = BigInt(g.getDecimal(j).toBigInteger)
        w(j) = w(j) - (gj / (BigInt(n) * LrStepDenom)).toLong
      }
      hist += w.clone()
    }
    hist.result()
  }

  def lrTrain(spark: SparkSession, d: String,
      iterations: Int = LrIterations): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (feats, n) = lrFeatures(spark, d)
    val trajectory = lrRounds(feats, n, iterations).zipWithIndex.map {
      case (w, i) =>
        val nCorrect = feats.select(
          sum(expr(s"CASE WHEN ((${lrDot(w)}) >= 0L) = (y = 1L) THEN 1L ELSE 0L END"))
            .as("c")).collect()(0).getLong(0)
        (i + 1L, w(0), w(1), w(2), w(3), w(4), nCorrect * 10000L / n)
    }
    feats.unpersist()
    val spark0 = spark
    import spark0.implicits._
    trajectory
      .toDF("iter", "w0", "w1", "w2", "w3", "w4", "acc_e4")
      .orderBy("iter")
  }

  /** The trained model's INFERENCE face: [[lrTrain]]'s final-round
    * weights applied per document — e4 logit, hard-sigmoid probability,
    * verdict, and agreement with the teacher label — the distillation
    * fidelity table a pipeline inspects before swapping the heuristic
    * for the model (which documents does the student get wrong, and
    * how confidently?). Same exact-integer arithmetic as training, so
    * the oracle reproduces every score bit-for-bit by re-training in
    * SQL and scoring from its own final weights.
    *
    * Scale: training cost (k aggregate passes) plus ONE map-side
    * scoring projection over the persisted feature frame.
    */
  def lrScore(spark: SparkSession, d: String,
      iterations: Int = LrIterations): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (feats, n) = lrFeatures(spark, d)
    val w = lrRounds(feats, n, iterations).last
    feats.select(
      col("doc_id"), col("y"),
      expr(lrDot(w)).as("s_e4"))
      .select(col("doc_id"), col("y"), col("s_e4"),
        expr("greatest(0L, least(10000L, 5000L + s_e4 div 4L))").as("p_e4"),
        expr("CASE WHEN s_e4 >= 0L THEN 1L ELSE 0L END").as("predicted"))
      .withColumn("correct", col("predicted") === col("y"))
      .orderBy("doc_id")
  }

  /** Oracle twin: the identical training rounds unrolled as chained
    * CTEs (the [[TextAnalysis.bpeTrainSql]] pattern) — DuckDB re-runs
    * the full trajectory from the raw corpus in HUGEINT and must land
    * on the same weights after every round.
    */
  private val lrJs = 0 to 4
  private val lrDotDuck: String =
    lrJs.map(j => s"w$j*x$j").mkString("(", " + ", ") // 10000")

  /** The shared oracle CTE chain: features → centering → i0 and the k
    * training rounds (g/i/a per round) — embedded by BOTH
    * [[lrTrainSql]] (trajectory report) and [[lrScoreSql]] (final-round
    * scoring), so the two oracles cannot train different models.
    */
  private val lrOracleCtes: String = {
    import TextAnalysis.{tokensDuck, shinglesDuck}
    val k = LrIterations
    val markers = graft.functions.GraftFunctions.DefaultLangMarkers
    val stops = graft.functions.GraftFunctions.DefaultStopwords
      .map(w => s"'$w'").mkString(", ")
    val scoreCols = markers.map { case (l, ws) =>
      val in = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, tk -> tk IN ($in))) AS BIGINT) AS sc_$l"
    }.mkString(",\n    ")
    val own = "CASE " + markers.map { case (l, _) =>
      s"WHEN lang = '$l' THEN sc_$l"
    }.mkString(" ") + " ELSE 0 END"
    val tot = markers.map(m => s"sc_${m._1}").mkString(" + ")
    val js = lrJs
    val dot = lrDotDuck
    def round(r: Int): String = {
      val prev = s"i${r - 1}"
      val gs = js.map(j => s"CAST(sum(err*x$j) AS HUGEINT) AS g$j").mkString(", ")
      val ws = js.map(j => s"w$j - g$j // (n*$LrStepDenom) AS w$j").mkString(", ")
      s"""g$r AS (SELECT count(*) AS n, $gs
         |  FROM (SELECT y, x0, x1, x2, x3, x4,
         |      greatest(0, least(10000, 5000 + ($dot) // 4)) - y*10000 AS err
         |    FROM f, $prev)),
         |i$r AS (SELECT $ws FROM $prev, g$r),
         |a$r AS (SELECT CAST(sum(CASE WHEN (($dot) >= 0) = (y = 1)
         |      THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS acc_e4
         |  FROM f, i$r)""".stripMargin
    }
    s"""t0 AS (SELECT doc_id, lang, $tokensDuck AS toks FROM documents),
       |t1 AS (SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS n_toks,
       |    CAST(len(list_filter(toks, tk -> tk IN ($stops))) AS BIGINT) AS stop_hits,
       |    CAST(len(list_distinct($shinglesDuck)) AS BIGINT) AS n_sh,
       |    $scoreCols
       |  FROM t0 WHERE len(toks) > 0),
       |v AS (SELECT doc_id, keep FROM ($curationVerdictSql)),
       |r AS (SELECT t1.doc_id, CASE WHEN v.keep THEN 1 ELSE 0 END AS y,
       |    least(n_toks, 1000) * 10 AS r1,
       |    least(CASE WHEN n_toks > 0 THEN stop_hits * 10000 // n_toks ELSE 0 END, 2000) * 5 AS r2,
       |    least(CASE WHEN n_toks >= 3 THEN (n_toks - 2 - n_sh) * 10000 // (n_toks - 2)
       |      ELSE 0 END, 5000) * 2 AS r3,
       |    ($own) * 10000 // greatest(1, $tot) AS r4
       |  FROM t1 JOIN v ON v.doc_id = t1.doc_id),
       |m AS (SELECT CAST(sum(r1) AS HUGEINT) // count(*) AS m1,
       |    CAST(sum(r2) AS HUGEINT) // count(*) AS m2,
       |    CAST(sum(r3) AS HUGEINT) // count(*) AS m3,
       |    CAST(sum(r4) AS HUGEINT) // count(*) AS m4
       |  FROM r),
       |f AS (SELECT doc_id, y, CAST(10000 AS HUGEINT) AS x0,
       |    CAST(r1 - m1 AS HUGEINT) AS x1, CAST(r2 - m2 AS HUGEINT) AS x2,
       |    CAST(r3 - m3 AS HUGEINT) AS x3, CAST(r4 - m4 AS HUGEINT) AS x4
       |  FROM r, m),
       |i0 AS (SELECT ${js.map(j => s"CAST(0 AS HUGEINT) AS w$j").mkString(", ")}),
       |${(1 to k).map(round).mkString(",\n")}""".stripMargin
  }

  val lrTrainSql: String = {
    val union = (1 to LrIterations).map { r =>
      val ws = lrJs.map(j => s"CAST((SELECT w$j FROM i$r) AS BIGINT) AS w$j")
        .mkString(",\n  ")
      s"""SELECT CAST($r AS BIGINT) AS iter,
         |  $ws,
         |  (SELECT acc_e4 FROM a$r) AS acc_e4""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $lrOracleCtes
       |SELECT * FROM (
       |  $union)
       |ORDER BY iter""".stripMargin
  }

  val lrScoreSql: String = {
    val k = LrIterations
    s"""WITH $lrOracleCtes
       |SELECT doc_id, CAST(y AS BIGINT) AS y,
       |  CAST($lrDotDuck AS BIGINT) AS s_e4,
       |  CAST(greatest(0, least(10000, 5000 + (($lrDotDuck) // 4))) AS BIGINT) AS p_e4,
       |  CAST(CASE WHEN ($lrDotDuck) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS predicted,
       |  (CASE WHEN ($lrDotDuck) >= 0 THEN 1 ELSE 0 END) = y AS correct
       |FROM f, i$k ORDER BY doc_id""".stripMargin
  }

  /** fastText-style QUALITY-CLASSIFIER INFERENCE: hashed-unigram
    * features × a broadcast integer weight vector → per-doc e6 score
    * (mean bucket weight over token occurrences) and a keep verdict —
    * the standard learned curation stage beside the rule-based
    * [[curationVerdict]]. Same bucket hash as the DSIR family, so a
    * production pipeline shares one feature explode across both.
    *
    * Scale: the corpus explodes once into (doc, bucket) short rows; the
    * B-row weight table broadcasts; scoring is one per-doc aggregation
    * (map-side partials). Docs with no tokens surface with score 0 and
    * keep = false via the LEFT join — a classifier must emit a verdict
    * for EVERY document, not silently drop the empty ones.
    */
  def qualityClassifier(spark: SparkSession, d: String,
      buckets: Int = DefaultQcBuckets,
      keepE6: Long = DefaultQcKeepE6): DataFrame = {
    import TextAnalysis.tokensSpark
    val feats = Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr(tokensSpark)).as("token"))
      .select(col("doc_id"),
        expr(s"cast(conv(substring(sha2(token, 256), 1, 8), 16, 10) as bigint) % $buckets")
          .as("bucket"))
    val weights = spark.range(0, buckets).select(
      col("id").as("bucket"),
      expr(s"(cast(conv(substring(sha2(concat('w:', cast(id as string)), 256), 1, 8), 16, 10) as bigint) % 2001) * 1000")
        .as("w_e6"))
    val scored = feats.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        expr("sum(w_e6) div count(1)").as("score_e6"))
    Tables.documents(spark, d).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("score_e6"), lit(0L)).as("score_e6"),
        coalesce(col("score_e6") >= keepE6, lit(false)).as("keep"))
      .orderBy("doc_id")
  }

  val qualityClassifierSql: String = {
    import TextAnalysis.tokensDuck
    s"""WITH tx AS (SELECT doc_id, unnest($tokensDuck) AS token FROM documents),
       |bx AS (SELECT doc_id,
       |  ('0x' || substr(sha256(token), 1, 8))::BIGINT % $DefaultQcBuckets AS bucket
       |  FROM tx),
       |w AS (SELECT b AS bucket,
       |  (('0x' || substr(sha256('w:' || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 2001) * 1000 AS w_e6
       |  FROM generate_series(0, ${DefaultQcBuckets - 1}) g(b)),
       |sc AS (SELECT doc_id, count(*) AS n_toks,
       |  CAST(sum(w_e6) AS BIGINT) // count(*) AS score_e6
       |  FROM bx JOIN w USING (bucket) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(sc.n_toks, 0) AS n_toks,
       |  coalesce(sc.score_e6, 0) AS score_e6,
       |  coalesce(sc.score_e6 >= $DefaultQcKeepE6, false) AS keep
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The classifier weight vector as ONE broadcastable map row
    * (bucket → w_e6) — the same pure-function-of-bucket weights
    * [[qualityClassifier]] joins against, packaged the way
    * [[dsirModelRow]] packages the DSIR model so ingest can score
    * statelessly (a REAL trained model would load into the identical
    * map row; the synthetic weights keep the oracle engine-exact).
    */
  def qcWeightsRow(spark: SparkSession,
      buckets: Int = DefaultQcBuckets): DataFrame =
    spark.range(0, buckets).select(
      col("id").as("bucket"),
      expr(s"(cast(conv(substring(sha2(concat('w:', cast(id as string)), 256), 1, 8), 16, 10) as bigint) % 2001) * 1000")
        .as("w_e6"))
      .agg(map_from_arrays(collect_list(col("bucket")),
        collect_list(col("w_e6"))).as("m"))

  /** Stateless per-row form of [[qualityClassifier]]: the weight map
    * travels as one broadcast row and each document folds its own
    * tokens against it — no explode, no shuffle, no state store, so the
    * SAME transform scores a batch read or a file stream at ingestion
    * time (the learned-filter face of the [[dsirScoreFrames]] ingest
    * pattern; StreamingQualitySpec pins stream == batch fold == the
    * oracle-checked exchange form). Token-less documents score 0 with
    * keep = false, matching the batch query's LEFT-join semantics.
    */
  def qualityScoreFrames(docs: DataFrame, weightsRow: DataFrame,
      buckets: Int = DefaultQcBuckets,
      keepE6: Long = DefaultQcKeepE6): DataFrame = {
    import TextAnalysis.tokensSpark
    docs.crossJoin(broadcast(weightsRow))
      .withColumn("toks", expr(tokensSpark))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_toks"),
        expr(
          s"""CASE WHEN size(toks) = 0 THEN 0L ELSE
             |  aggregate(
             |    transform(toks, t -> element_at(m,
             |      cast(conv(substring(sha2(t, 256), 1, 8), 16, 10) as bigint) % $buckets)),
             |    0L, (acc, x) -> acc + x) div size(toks)
             |END""".stripMargin).as("score_e6"))
      .withColumn("keep", col("score_e6") >= keepE6)
  }

  /** Decile width over the classifier's [0, 2·10⁶] e6 score range,
    * shared by [[qualityCalibration]] and its oracle.
    */
  val QcDecileWidthE6 = 200000L

  /** CLASSIFIER CALIBRATION against the heuristic rules — the review
    * table a team reads before trusting a learned quality filter: dock
    * every document's classifier score into one of 10 deciles and
    * report, per decile, the population and the HEURISTIC keep-rate
    * ([[curationVerdict]]'s rule-based verdict). A well-calibrated
    * classifier shows a monotone-increasing heuristic keep-rate across
    * deciles; a flat profile means the learned score carries no signal
    * the rules can see, and an inverted band localizes exactly which
    * score range to audit. Min/max score bounds per decile make the
    * bucketing itself verifiable.
    *
    * Scale shape: both inputs are existing map-side/one-exchange
    * frames; the join is doc-keyed (one exchange each side), and the
    * rollup has exactly 10 groups of map-side partials. Nothing new
    * shuffles more than the inputs already did.
    */
  def qualityCalibration(spark: SparkSession, d: String): DataFrame = {
    val clf = qualityClassifier(spark, d).select(col("doc_id"), col("score_e6"))
    val heur = verdictFlags(Tables.documents(spark, d))
      .select(col("doc_id"), col("keep").as("heur_keep"))
    clf.join(heur, Seq("doc_id"))
      .withColumn("decile",
        least(expr(s"score_e6 div $QcDecileWidthE6"), lit(9L)))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("heur_keep"), 1L).otherwise(0L)).as("n_heur_keep"),
        min("score_e6").as("min_score_e6"),
        max("score_e6").as("max_score_e6"))
      .withColumn("heur_keep_rate_e4", expr("n_heur_keep * 10000L div n_docs"))
      .orderBy("decile")
  }

  val qualityCalibrationSql: String =
    s"""WITH clf AS (SELECT doc_id, score_e6 FROM (${qualityClassifierSql})),
       |heur AS (SELECT doc_id, keep FROM (${curationVerdictSql})),
       |j AS (SELECT least(clf.score_e6 // $QcDecileWidthE6, 9) AS decile,
       |        clf.score_e6, heur.keep
       |      FROM clf JOIN heur USING (doc_id))
       |SELECT decile, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_heur_keep,
       |  min(score_e6) AS min_score_e6,
       |  max(score_e6) AS max_score_e6,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS heur_keep_rate_e4
       |FROM j GROUP BY decile ORDER BY decile""".stripMargin

  /** Length-bucket width (tokens) shared by [[distDrift]] and its
    * oracle; 19 is the capped open-ended top bucket.
    */
  val DefaultDriftBucketW = 10L

  /** DISTRIBUTION DRIFT between two corpus snapshots — the log-free
    * twin of the PSI monitor: token-length histograms of the previous
    * and current snapshot (same planted old/new discipline as
    * [[corpusDiff]] — old misses the newest 5% and carries ' legacy'
    * variants on every 13th doc, new misses the oldest 3%), per-bucket
    * shares in ppm with the signed share delta, and the total variation
    * distance `Σ|Δppm| div 2` stamped on every row — the single number
    * an alerting rule thresholds. PSI's per-bucket `(p−q)·ln(p/q)`
    * needs a logarithm (engine-dependent rounding); TV distance ranks
    * drifts the same way for monitoring purposes and is integer-exact.
    *
    * Scale shape: two scan-side histogram aggregations (bucket count ≤
    * 20 groups, map-side partials), one tiny full-outer join on the
    * bucket id, and two single-row broadcast totals — nothing
    * corpus-sized survives the first aggregation.
    */
  def distDrift(spark: SparkSession, d: String,
      width: Long = DefaultDriftBucketW): DataFrame = {
    import TextAnalysis.tokensSpark
    require(width >= 1, s"bucket width must be at least 1, got $width")
    val docs = Tables.documents(spark, d).withColumn("b95", bucketSpark)
    val old = docs.where(col("b95") < 95)
      .select(expr(
        s"""least(size(regexp_extract_all(lower(
           |  CASE WHEN doc_id % 13 = 0 THEN concat(text, ' legacy') ELSE text END),
           |  '[a-z0-9]+', 0)) div $width, 19L)""".stripMargin).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_old"))
    val nw = docs.where(col("b95") >= 3)
      .select(expr(s"least(size($tokensSpark) div $width, 19L)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new"))
    val joined = old.join(nw, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val totals = joined.agg(sum("n_old").as("tot_old"), sum("n_new").as("tot_new"))
    val shares = joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_old"), col("n_new"),
        expr("n_old * 1000000L div tot_old").as("old_ppm"),
        expr("n_new * 1000000L div tot_new").as("new_ppm"))
      .withColumn("delta_ppm", col("new_ppm") - col("old_ppm"))
    val tv = shares.agg(expr("sum(abs(delta_ppm)) div 2").as("tv_ppm"))
    shares.crossJoin(broadcast(tv)).orderBy("bucket")
  }

  val distDriftSql: String = {
    import TextAnalysis.tokensDuck
    val w = DefaultDriftBucketW
    s"""WITH b AS (SELECT doc_id, text, $bucketDuck AS bucket95 FROM documents),
       |o AS (SELECT least(len(regexp_extract_all(lower(
       |        CASE WHEN doc_id % 13 = 0 THEN text || ' legacy' ELSE text END),
       |        '[a-z0-9]+')) // $w, 19) AS bucket, count(*) AS n_old
       |      FROM b WHERE bucket95 < 95 GROUP BY 1),
       |n AS (SELECT least(len($tokensDuck) // $w, 19) AS bucket, count(*) AS n_new
       |      FROM b WHERE bucket95 >= 3 GROUP BY 1),
       |j AS (SELECT coalesce(o.bucket, n.bucket) AS bucket,
       |        CAST(coalesce(o.n_old, 0) AS BIGINT) AS n_old,
       |        CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new
       |      FROM o FULL OUTER JOIN n ON o.bucket = n.bucket),
       |t AS (SELECT sum(n_old) AS tot_old, sum(n_new) AS tot_new FROM j),
       |s AS (SELECT bucket, n_old, n_new,
       |        CAST(n_old * 1000000 // tot_old AS BIGINT) AS old_ppm,
       |        CAST(n_new * 1000000 // tot_new AS BIGINT) AS new_ppm
       |      FROM j, t),
       |tv AS (SELECT CAST(sum(abs(new_ppm - old_ppm)) // 2 AS BIGINT) AS tv_ppm FROM s)
       |SELECT s.bucket, s.n_old, s.n_new, s.old_ppm, s.new_ppm,
       |  s.new_ppm - s.old_ppm AS delta_ppm, tv.tv_ppm
       |FROM s, tv ORDER BY s.bucket""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quality_classifier" -> ((s, d) => qualityClassifier(s, d)),
    "q_quality_calibration" -> (qualityCalibration _),
    "q_dist_drift" -> ((s, d) => distDrift(s, d)),
    "q_sample_hash" -> (sampleHash _),
    "q_sample_weighted" -> ((s, d) => sampleWeighted(s, d)),
    "q_split_assign" -> (splitAssign _),
    "q_split_leakage" -> (splitLeakage _),
    "q_lr_train" -> ((s, d) => lrTrain(s, d)),
    "q_lr_score" -> ((s, d) => lrScore(s, d)),
    "q_decontaminate" -> (decontaminate _),
    "q_decontaminate_bloom" -> ((s, d) => decontaminateBloom(s, d)),
    "q_stratified_sample" -> ((s, d) => stratifiedSample(s, d)),
    "q_source_caps" -> ((s, d) => sourceCaps(s, d)),
    "q_curation_verdict" -> (curationVerdict _),
    "q_curation_stats" -> (curationStats _),
    "q_corpus_emit" -> (corpusEmit _),
    "q_shuffle_shards" -> ((s, d) => shuffleShards(s, d)),
    "q_corpus_shards" -> ((s, d) => corpusShards(s, d)),
    "q_dsir_weights" -> ((s, d) => dsirWeights(s, d)),
    "q_source_overlap" -> (sourceOverlap _),
    "q_robust_filter" -> (robustFilter _),
    "q_jsonl_emit" -> (jsonlEmit _),
    "q_corpus_diff" -> (corpusDiff _),
    "q_url_dedup" -> (urlDedup _),
    "q_pii_scrub" -> (piiScrub _))

  val oracles: Map[String, String] = Map(
    "q_quality_classifier" -> qualityClassifierSql,
    "q_quality_calibration" -> qualityCalibrationSql,
    "q_dist_drift" -> distDriftSql,
    "q_sample_hash" -> sampleHashSql,
    "q_sample_weighted" -> sampleWeightedSql,
    "q_split_assign" -> splitAssignSql,
    "q_split_leakage" -> splitLeakageSql,
    "q_lr_train" -> lrTrainSql,
    "q_lr_score" -> lrScoreSql,
    "q_decontaminate" -> decontaminateSql,
    "q_decontaminate_bloom" -> decontaminateBloomSql,
    "q_stratified_sample" -> stratifiedSampleSql,
    "q_source_caps" -> sourceCapsSql,
    "q_curation_verdict" -> curationVerdictSql,
    "q_curation_stats" -> curationStatsSql,
    "q_corpus_emit" -> corpusEmitSql,
    "q_shuffle_shards" -> shuffleShardsSql,
    "q_corpus_shards" -> corpusShardsSql,
    "q_dsir_weights" -> dsirWeightsSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_robust_filter" -> robustFilterSql,
    "q_jsonl_emit" -> jsonlEmitSql,
    "q_corpus_diff" -> corpusDiffSql,
    "q_url_dedup" -> urlDedupSql,
    "q_pii_scrub" -> piiScrubSql)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Training-set preparation operators over the `documents` corpus: the
  * steps between a curated corpus and tokenizer/trainer input that the
  * other modules don't cover — context-window chunking, mixture
  * weighting, length-distribution quantiles, and an n-gram-LM coherence
  * score.
  *
  * Shared determinism discipline (see BUILDER_NOTES): tokenization is
  * `regexp_extract_all(lower(text), '[a-z0-9]+')` on both engines, all
  * ratios are floor-divided scaled integers, and every query ends in a
  * total ORDER BY, so results hash-match DuckDB bit-for-bit.
  */
object TrainingPrep {

  // single source of truth for tokenization — the determinism contract
  // names TextAnalysis as the owner; diverging here would silently split
  // this module's oracles from the rest of the engine
  private val toksExpr = TextAnalysis.tokensSpark
  private val toksDuck = TextAnalysis.tokensDuck

  /** Sliding-window CHUNKING: split each document into overlapping
    * token windows of `chunkTokens` advancing by `strideTokens` — the
    * standard context-window preparation for pretraining (a doc longer
    * than the model context becomes several overlapping samples; the
    * overlap keeps boundary-spanning text learnable). One chunk starts
    * at every multiple of the stride below the token count, so short
    * docs yield exactly one (possibly partial) chunk and nothing is
    * dropped.
    *
    * Scale: pure map-side fan-out (tokenize → explode chunk indices →
    * slice), no shuffle before the presentation sort; at 100 TB this
    * runs at scan speed and the chunk rows stream straight into the
    * sink. The chunk signature hashes the joined window so downstream
    * exact-dedup can run per-chunk instead of per-doc.
    *
    * The DuckDB oracle fans out with a constant `generate_series`
    * bound (DuckDB 1.0 cannot parameterize the bound per row) of 63
    * strides = 1008+ tokens — 10× the corpus max (~100 tokens); the
    * Spark side derives the bound per row, so only the oracle carries
    * the constant.
    */
  def chunkSliding(spark: SparkSession, d: String,
      chunkTokens: Int = 32, strideTokens: Int = 16): DataFrame =
    chunkFrames(Tables.documents(spark, d), chunkTokens, strideTokens)
      .orderBy("doc_id", "chunk_idx")

  /** Frame-in form of [[chunkSliding]] (every expression is a stateless
    * projection, so the SAME transform chunks a batch read or a file
    * STREAM at ingestion time — pinned by the streaming spec; the
    * presentation sort stays on the batch face, streams have no total
    * order).
    */
  def chunkFrames(docs: DataFrame,
      chunkTokens: Int = 32, strideTokens: Int = 16): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      s"need 0 < strideTokens ($strideTokens) <= chunkTokens ($chunkTokens)")
    docs
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, (size(toks) - 1) div $strideTokens)"))
          .as("chunk_idx"))
      .withColumn("chunk",
        expr(s"slice(toks, chunk_idx * $strideTokens + 1, $chunkTokens)"))
      .select(
        col("doc_id"),
        col("chunk_idx").cast(IntegerType).as("chunk_idx"),
        (col("chunk_idx") * strideTokens).cast(LongType).as("start_tok"),
        size(col("chunk")).cast(LongType).as("n_tok"),
        substring(sha2(array_join(col("chunk"), " "), 256), 1, 16)
          .as("chunk_sig"))
  }

  val chunkSlidingSql: String =
    s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
       |SELECT doc_id, CAST(c AS INT) AS chunk_idx,
       |  CAST(c * 16 AS BIGINT) AS start_tok,
       |  CAST(len(toks[c*16+1 : c*16+32]) AS BIGINT) AS n_tok,
       |  substr(sha256(array_to_string(toks[c*16+1 : c*16+32], ' ')), 1, 16) AS chunk_sig
       |FROM n, generate_series(0, 63) gs(c)
       |WHERE c * 16 < n
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** CHUNK-level exact dedup: overlapping windows from near-identical
    * documents collide on `chunk_sig`, so deduplicating the CHUNKS —
    * not just the documents — is what actually removes repeated text
    * from the training stream (boilerplate shared by distinct docs
    * survives doc-level dedup but not this). First occurrence in
    * (doc_id, chunk_idx) order wins; the survivor count per signature
    * is the diagnostics column.
    *
    * Scale: chunking is map-side (see [[chunkSliding]]); the dedup is
    * one shuffle on the 16-hex signature with map-side partial
    * aggregation — the exact-dedup plan shape at chunk granularity.
    */
  def chunkDedup(spark: SparkSession, d: String,
      chunkTokens: Int = 32, strideTokens: Int = 16): DataFrame =
    chunkFrames(Tables.documents(spark, d), chunkTokens, strideTokens)
      .groupBy("chunk_sig")
      .agg(
        min(struct(col("doc_id"), col("chunk_idx"))).as("first"),
        count(lit(1)).as("n_copies"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.chunk_idx").as("chunk_idx"),
        col("chunk_sig"), col("n_copies"))
      .orderBy("doc_id", "chunk_idx")

  val chunkDedupSql: String =
    s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
       |ch AS (SELECT doc_id, CAST(c AS INT) AS chunk_idx,
       |         substr(sha256(array_to_string(toks[c*16+1 : c*16+32], ' ')), 1, 16) AS chunk_sig
       |       FROM n, generate_series(0, 63) gs(c)
       |       WHERE c * 16 < n),
       |g AS (SELECT chunk_sig, min(struct_pack(doc_id := doc_id, chunk_idx := chunk_idx)) AS first,
       |        count(*) AS n_copies
       |      FROM ch GROUP BY chunk_sig)
       |SELECT first.doc_id AS doc_id, first.chunk_idx AS chunk_idx,
       |  chunk_sig, n_copies
       |FROM g ORDER BY doc_id, chunk_idx""".stripMargin

  /** CDC cut mask: position i cuts when the rolling hash ≡ 0 (mod
    * mask), so the expected chunk length is `mask` tokens. Shared by
    * [[chunkCdc]] and its oracle.
    */
  val CdcMask = 16L

  /** CONTENT-DEFINED CHUNKING dedup (the FastCDC/rsync boundary trick
    * on token streams): chunk boundaries are set where the 3-token
    * rolling hash ≡ 0 (mod [[CdcMask]]) instead of at fixed offsets, so
    * an insertion or deletion early in a document SHIFTS boundaries
    * only until the next content-defined cut — the chunks after it
    * re-align and still dedup, where [[chunkDedup]]'s fixed-stride
    * chunks would all shift and miss. The complementary chunk-level
    * dedup signal for near-identical documents with small edits.
    *
    * Per chunk: token count, H16 digest of the chunk text, corpus-wide
    * copy count, and the dup flag. Documents shorter than the 3-token
    * rolling window form a single chunk (both engines via the same
    * null-guard). Cut positions come from the SAME compiled
    * rolling-hash kernel (and oracle hash chain) the winnow index
    * uses, so the boundary rule is already differentially pinned.
    *
    * Scale shape: boundary detection and chunk assembly are one
    * map-side array pass per document (no explode until the chunks
    * themselves); the only exchange is the digest-keyed window for
    * copy counts — the same single-shuffle shape as chunkDedup.
    * Expected chunk length is the mask (16 tokens), so the exploded
    * frame is ~n_tokens/16 rows of short strings.
    */
  def chunkCdc(spark: SparkSession, d: String,
      mask: Long = CdcMask): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(mask >= 2, s"cut mask must be at least 2, got $mask")
    val t = Tables.documents(spark, d)
      .select(col("doc_id"), expr(TextAnalysis.tokensSpark).as("toks"),
        graft.functions.GraftFunctions.rolling_hashes(col("text")).as("rhs"))
      .where(size(col("toks")) > 0)
    val chunks = t
      .withColumn("bounds", expr(
        s"""CASE WHEN rhs IS NULL THEN array(0, size(toks))
           |ELSE array_sort(array_distinct(concat(
           |  array(0),
           |  transform(filter(sequence(1, size(rhs)),
           |    i -> element_at(rhs, i) % $mask = 0), i -> i + 2),
           |  array(size(toks)))))
           |END""".stripMargin))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(bounds) - 1), k -> struct(
          |  k AS chunk_idx,
          |  element_at(bounds, k + 1) - element_at(bounds, k) AS n_toks,
          |  concat_ws(' ', slice(toks, element_at(bounds, k) + 1,
          |    element_at(bounds, k + 1) - element_at(bounds, k))) AS chunk_text))"""
          .stripMargin)).as("c"))
    chunks
      .select(col("doc_id"),
        col("c.chunk_idx").cast(LongType).as("chunk_idx"),
        col("c.n_toks").cast(LongType).as("n_toks"),
        substring(sha2(col("c.chunk_text"), 256), 1, 16).as("chunk_h16"))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy("chunk_h16")))
      .withColumn("is_dup", col("n_copies") > 1)
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkCdcSql: String =
    s"""WITH t AS (SELECT doc_id, toks FROM
       |  (SELECT doc_id, $toksDuck AS toks FROM documents) WHERE len(toks) > 0),
       |tv AS (SELECT doc_id,
       |         list_transform(toks, tk -> ('0x' || substr(sha256(tk), 1, 8))::BIGINT % 1000000007) AS tvs
       |       FROM t WHERE len(toks) >= 3),
       |rh AS (SELECT doc_id,
       |         list_transform(range(1, len(tvs) - 1), i ->
       |           ((tvs[i] * 131 + tvs[i+1]) % 1000000007 * 131 + tvs[i+2]) % 1000000007) AS rhs
       |       FROM tv),
       |b AS (SELECT t.doc_id, t.toks,
       |        CASE WHEN rh.rhs IS NULL THEN [CAST(0 AS BIGINT), len(t.toks)]
       |        ELSE list_sort(list_distinct(list_concat(list_concat(
       |          [CAST(0 AS BIGINT)],
       |          list_transform(list_filter(range(1, len(rh.rhs) + 1),
       |            i -> rh.rhs[i] % $CdcMask = 0), i -> i + 2)),
       |          [len(t.toks)])))
       |        END AS bounds
       |      FROM t LEFT JOIN rh ON t.doc_id = rh.doc_id),
       |ch0 AS (SELECT doc_id, toks, bounds,
       |          unnest(range(1, len(bounds))) AS k FROM b),
       |ch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
       |         CAST(bounds[k+1] - bounds[k] AS BIGINT) AS n_toks,
       |         substr(sha256(array_to_string(
       |           toks[bounds[k]+1 : bounds[k+1]], ' ')), 1, 16) AS chunk_h16
       |       FROM ch0)
       |SELECT doc_id, chunk_idx, n_toks, chunk_h16,
       |  count(*) OVER (PARTITION BY chunk_h16) AS n_copies,
       |  count(*) OVER (PARTITION BY chunk_h16) > 1 AS is_dup
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  /** Mixture WEIGHTS: per-source document/token tallies and each
    * source's token share in parts-per-million — the numbers a training
    * run's data-mixture config is written from (domain up/down-weighting
    * starts from the natural token distribution).
    *
    * Scale: one partial+final aggregate over the corpus (map-side
    * combine, |sources| rows out), then a broadcast of the one-row
    * total. Token counts come from the compiled TextStats kernel, and
    * the ppm share is computed in Decimal(38,0) floor-division so a
    * 10^14-token corpus cannot overflow the BIGINT intermediate.
    */
  def mixWeights(spark: SparkSession, d: String): DataFrame =
    mixShares(spark, d).orderBy("source")

  /** Whole-frame window over an already-aggregated tiny frame: the input
    * is |sources| rows (post-aggregation), never the corpus, so the
    * single partition is model-sized at any corpus scale — the pattern
    * that lets the totals come from the SAME corpus pass instead of a
    * second aggregate over a duplicated subtree (exchange reuse
    * verifiably does not dedupe identical subtrees — see
    * TextAnalysis.winnowPairFunnel).
    */
  private val AllRows = org.apache.spark.sql.expressions.Window
    .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)

  /** The shared per-source share frame (source, n_docs, n_tokens,
    * weight_ppm) — [[mixWeights]] presents it, [[mixTemperature]]
    * reweights it. ONE corpus aggregate: the grand total is a window sum
    * over the |sources|-row result, not a second corpus pass.
    */
  private def mixShares(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("source"),
        graft.functions.GraftFunctions.text_stats(col("text"), Nil)
          .getItem(0).as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .withColumn("tot", sum("n_tokens").over(AllRows))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("CAST((CAST(n_tokens AS DECIMAL(38,0)) * 1000000) div tot AS BIGINT)")
          .as("weight_ppm"))

  /** TEMPERATURE-SCALED mixture weights — the actual data-mixing knob
    * trainers turn: p_i ∝ share_i^(1/T) flattens the natural token
    * distribution (T→∞ = uniform, T=1 = natural), up-sampling
    * low-resource sources at a controlled rate. Emitted for T=2 and
    * T=4, renormalized to ppm.
    *
    * Determinism contract: arbitrary 1/T would need pow(), whose
    * rounding is UNSPECIFIED across engines — but IEEE-754 sqrt is
    * correctly rounded everywhere, so the powers of 1/2 are the
    * reproducible family: w_T2 = floor(sqrt(share_ppm·1e6)) (a
    * ppm-scaled sqrt — inputs ≤ 1e12 are exact in double) and
    * w_T4 = floor(sqrt(w_T2·1e6)) (the nested-floor spec BOTH engines
    * state; the double floor deviates from exact ^(1/4) by <1 ulp-of-
    * ppm, irrelevant to a mixing knob). Renormalization is integer
    * floor-division; w values are ≤ 1e6 by construction so BIGINT
    * arithmetic cannot overflow at any corpus size.
    *
    * Scale: the per-source frame is |sources| rows — everything after
    * the one corpus aggregate ([[mixShares]]) is model-sized.
    */
  def mixTemperature(spark: SparkSession, d: String): DataFrame =
    mixShares(spark, d)
      .withColumn("w2_raw",
        expr("cast(floor(sqrt(cast(weight_ppm * 1000000 as double))) as bigint)"))
      .withColumn("w4_raw",
        expr("cast(floor(sqrt(cast(w2_raw * 1000000 as double))) as bigint)"))
      // renormalization totals: window sums over the |sources|-row frame
      // (the AllRows pattern) — the corpus is scanned exactly once
      .withColumn("tot2", sum("w2_raw").over(AllRows))
      .withColumn("tot4", sum("w4_raw").over(AllRows))
      .select(col("source"), col("n_tokens"), col("weight_ppm"),
        expr("(w2_raw * 1000000) div tot2").as("t2_ppm"),
        expr("(w4_raw * 1000000) div tot4").as("t4_ppm"))
      .orderBy("source")

  val mixTemperatureSql: String =
    s"""WITH s AS (SELECT source, count(*) AS n_docs,
       |             CAST(sum(len($toksDuck)) AS BIGINT) AS n_tokens
       |           FROM documents GROUP BY source),
       |t AS (SELECT sum(n_tokens) AS tot FROM s),
       |w AS (SELECT source, n_tokens,
       |        CAST(n_tokens * 1000000 // tot AS BIGINT) AS weight_ppm
       |      FROM s, t),
       |w2 AS (SELECT *, CAST(floor(sqrt(CAST(weight_ppm * 1000000 AS DOUBLE))) AS BIGINT) AS w2_raw FROM w),
       |w4 AS (SELECT *, CAST(floor(sqrt(CAST(w2_raw * 1000000 AS DOUBLE))) AS BIGINT) AS w4_raw FROM w2),
       |tt AS (SELECT sum(w2_raw) AS tot2, sum(w4_raw) AS tot4 FROM w4)
       |SELECT source, n_tokens, weight_ppm,
       |  CAST(w2_raw * 1000000 // tot2 AS BIGINT) AS t2_ppm,
       |  CAST(w4_raw * 1000000 // tot4 AS BIGINT) AS t4_ppm
       |FROM w4, tt ORDER BY source""".stripMargin

  val mixWeightsSql: String =
    s"""WITH s AS (SELECT source, count(*) AS n_docs,
       |             CAST(sum(len($toksDuck)) AS BIGINT) AS n_tokens
       |           FROM documents GROUP BY source),
       |t AS (SELECT sum(n_tokens) AS tot FROM s)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens * 1000000 // tot AS BIGINT) AS weight_ppm
       |FROM s, t ORDER BY source""".stripMargin

  /** Length-distribution QUANTILES: exact p50/p90/p99 token counts per
    * source by rank arithmetic — rank ceil(p·n) in the (token count,
    * doc_id) order — so both engines agree bit-for-bit (interpolating
    * `percentile` variants differ across engines; a discrete rank
    * doesn't). The per-source length profile drives context-length and
    * truncation decisions.
    *
    * Scale: exact per-group quantiles cost one shuffle on `source` and
    * a per-group sort — fine while groups fit a partition (sources are
    * few and AQE splits skew). For quantiles over a column with
    * unbounded groups, the sketch path (`approx_percentile`, one
    * map-side combine, no sort) replaces this with rank error bounds —
    * same trade the HLL twin of q_text_vocab makes.
    */
  def quantileStats(spark: SparkSession, d: String): DataFrame = {
    val byLen = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    val bySrc = Window.partitionBy("source")
    def atRank(p: Int, as: String) = // ceil(cnt*p/100) = (cnt*p+99) div 100
      max(when(col("rn") === expr(s"(cnt * $p + 99) div 100"), col("n_tok"))).as(as)
    Tables.documents(spark, d)
      .select(col("source"), col("doc_id"),
        graft.functions.GraftFunctions.text_stats(col("text"), Nil)
          .getItem(0).as("n_tok"))
      .withColumn("rn", row_number().over(byLen).cast(LongType))
      .withColumn("cnt", count(lit(1)).over(bySrc))
      .groupBy("source")
      .agg(atRank(50, "p50_tokens"), atRank(90, "p90_tokens"),
        atRank(99, "p99_tokens"), max("cnt").as("n_docs"))
      .orderBy("source")
  }

  val quantileStatsSql: String =
    s"""WITH t AS (SELECT source, doc_id,
       |             CAST(len($toksDuck) AS BIGINT) AS n_tok
       |           FROM documents),
       |r AS (SELECT source, n_tok,
       |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS BIGINT) AS rn,
       |        count(*) OVER (PARTITION BY source) AS cnt
       |      FROM t)
       |SELECT source,
       |  max(CASE WHEN rn = (cnt*50+99)//100 THEN n_tok END) AS p50_tokens,
       |  max(CASE WHEN rn = (cnt*90+99)//100 THEN n_tok END) AS p90_tokens,
       |  max(CASE WHEN rn = (cnt*99+99)//100 THEN n_tok END) AS p99_tokens,
       |  CAST(max(cnt) AS BIGINT) AS n_docs
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Sketch twin of [[quantileStats]]: `approx_percentile` (the
    * KLL/GK-family sketch — one map-side combine per partition, NO
    * per-group sort) beside the exact rank answer, with a rank-tolerance
    * accuracy boolean: the sketch value must fall between the exact
    * values at ranks (p±2)% — the guarantee the sketch actually makes
    * (rank error, not value error). Same contract shape as the HLL twin
    * of q_text_vocab: the oracle checks the exact columns and asserts
    * the booleans true.
    *
    * This is the quantile path for UNBOUNDED group counts at 100 TB —
    * sketches merge associatively across partitions, so no group ever
    * needs its members co-located or sorted.
    */
  def quantileSketch(spark: SparkSession, d: String): DataFrame = {
    val byLen = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    val bySrc = Window.partitionBy("source")
    def exactAt(p: Int, as: String) =
      max(when(col("rn") === expr(s"(cnt * $p + 99) div 100"), col("n_tok"))).as(as)
    // rank-tolerance band edges, clamped into [1, cnt]
    def bandAt(p: Int, as: String) =
      max(when(col("rn") ===
        expr(s"greatest(1L, least(cnt, (cnt * $p + 99) div 100))"), col("n_tok"))).as(as)
    Tables.documents(spark, d)
      .select(col("source"), col("doc_id"),
        graft.functions.GraftFunctions.text_stats(col("text"), Nil)
          .getItem(0).as("n_tok"))
      .withColumn("rn", row_number().over(byLen).cast(LongType))
      .withColumn("cnt", count(lit(1)).over(bySrc))
      .groupBy("source")
      .agg(
        exactAt(50, "p50_exact"), bandAt(48, "p50_lo"), bandAt(52, "p50_hi"),
        exactAt(90, "p90_exact"), bandAt(88, "p90_lo"), bandAt(92, "p90_hi"),
        percentile_approx(col("n_tok"), lit(0.5), lit(10000)).as("p50_sketch"),
        percentile_approx(col("n_tok"), lit(0.9), lit(10000)).as("p90_sketch"))
      .select(col("source"), col("p50_exact"), col("p90_exact"),
        (col("p50_sketch") >= col("p50_lo") && col("p50_sketch") <= col("p50_hi"))
          .as("p50_within_2pct"),
        (col("p90_sketch") >= col("p90_lo") && col("p90_sketch") <= col("p90_hi"))
          .as("p90_within_2pct"))
      .orderBy("source")
  }

  val quantileSketchSql: String =
    s"""WITH t AS (SELECT source, doc_id,
       |             CAST(len($toksDuck) AS BIGINT) AS n_tok
       |           FROM documents),
       |r AS (SELECT source, n_tok,
       |        CAST(row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS BIGINT) AS rn,
       |        count(*) OVER (PARTITION BY source) AS cnt
       |      FROM t)
       |SELECT source,
       |  max(CASE WHEN rn = (cnt*50+99)//100 THEN n_tok END) AS p50_exact,
       |  max(CASE WHEN rn = (cnt*90+99)//100 THEN n_tok END) AS p90_exact,
       |  true AS p50_within_2pct,
       |  true AS p90_within_2pct
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** Token-BUDGET selection: each source contributes documents
    * longest-first until its token budget is spent — the mixture-
    * construction step after [[mixWeights]] decides per-source budgets
    * (a fixed per-source budget here; production scales it by the
    * mixture weight). "Spent" is judged on the tokens BEFORE each doc in
    * the (n_tok DESC, doc_id) order, so the document that straddles the
    * budget line is still taken and the overshoot is bounded by one
    * document — the same pack-then-truncate discipline as
    * q_pack_sequences.
    *
    * Scale: one shuffle on source + a linear running-sum window per
    * stratum. Source strata can be huge, but the window is a running
    * SUM, not a rank-all materialization; if a single stratum outgrows
    * a partition, pre-bucketing the stratum (the shard trick in
    * q_pack_sequences) bounds it.
    */
  def budgetSelect(spark: SparkSession, d: String,
      budgetTokens: Long = 2000L): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_tok").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, d)
      .select(col("source"), col("doc_id"),
        graft.functions.GraftFunctions.text_stats(col("text"), Nil)
          .getItem(0).as("n_tok"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("selected", col("cum_before") < budgetTokens)
      .orderBy("source", "doc_id")
  }

  val budgetSelectSql: String =
    s"""WITH t AS (SELECT source, doc_id,
       |             CAST(len($toksDuck) AS BIGINT) AS n_tok
       |           FROM documents)
       |SELECT source, doc_id, n_tok,
       |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
       |    ORDER BY n_tok DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |  coalesce(sum(n_tok) OVER (PARTITION BY source
       |    ORDER BY n_tok DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 2000 AS selected
       |FROM t ORDER BY source, doc_id""".stripMargin

  /** Bigram COHERENCE score: a corpus-trained bigram language model
    * scores each document by its average bigram probability — the
    * integer-exact stand-in for the perplexity filter (KenLM-style)
    * production pipelines run, with floor-scaled conditional
    * probabilities p_e6(w2|w1) = count(w1,w2)·10^6 div count(w1·) so no
    * log/float leaves engine parity. Word salad scores low (its bigrams
    * are rare given their heads), repeated boilerplate scores high.
    *
    * Scale: bigram emission is a map-side explode; the LM is two
    * aggregates over (w1,w2) and (w1). The score join is an equi-join
    * on the bigram key — broadcast when the LM fits (vocab² is ~10^8
    * entries for a 10^4 vocab, usually broadcastable after pruning
    * count ≥ 2), shuffle otherwise; here AQE picks broadcast. One final
    * per-doc aggregate. No step is quadratic in corpus size.
    */
  /** Collocation knobs, interpolated into both the Scala defaults and
    * the oracle SQL so an edit cannot desynchronize them.
    */
  val DefaultCollocTopK = 30
  val MinCollocCount = 5
  val CollocDiscount = 1

  /** ORACLE-ONLY position cap for DuckDB bigram unrolls: DuckDB 1.0's
    * generate_series can't take lateral column bounds, so the bigram
    * CTEs enumerate a fixed 1..N position range and filter by each
    * doc's length. The Spark side has NO such cap — if the corpus ever
    * grows a document past this many tokens the GATE fails loudly
    * (oracle undercounts), which is the intended failure mode; the
    * current testdata tops out near 110 tokens.
    */
  val OracleMaxDocTokens = 200

  /** Loud guard for the cap above: a single-row CTE (cross-joined into
    * the position enumeration so it always evaluates) that makes DuckDB
    * raise a NAMED error the moment any fixture document exceeds the
    * cap — instead of the oracle silently undercounting bigrams and the
    * gate surfacing an opaque hash mismatch.
    */
  private val oracleCapGuardCte: String =
    s"""capok AS (SELECT CASE WHEN max(len(toks)) > $OracleMaxDocTokens
       |  THEN error('OracleMaxDocTokens=$OracleMaxDocTokens exceeded by fixture: raise the cap in TrainingPrep')
       |  ELSE 1 END AS ok FROM t),""".stripMargin

  /** COLLOCATION mining: the top word bigrams by the Mikolov phrase
    * score `(c12 − δ)·N·10^6 div (c1·c2)` (word2vec's phrase-detection
    * formula — the count discount δ kills rare-pair noise) — the
    * statistical-association step that decides which adjacent words
    * fuse into phrase tokens before tokenizer training, where
    * [[TextAnalysis.bpePairs]] counts raw adjacency. The score is the
    * log-free monotone twin of PMI (same numerator/denominator ratio,
    * no libm), one Decimal(38,0) division: numerator
    * (c12−δ)·N·10^6 ≤ 10^32 at web scale, denominator c1·c2 ≤ 10^28 —
    * both in range, unlike the naive PMI form whose N² numerator
    * overflows Decimal(38,0).
    *
    * Scale: one map-side bigram explode feeds one (w1,w2) aggregation;
    * the unigram marginals are a second vocab-sized aggregate joined
    * twice on single-word keys (broadcast at bounded vocab); the
    * min-count filter prunes the pair table BEFORE the joins; top-k is
    * TakeOrderedAndProject, never a global sort.
    */
  def collocations(spark: SparkSession, d: String,
      topK: Int = DefaultCollocTopK,
      minCount: Int = MinCollocCount): DataFrame = {
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nUni = uni.agg(sum("c").as("n_uni"))
    val bi = toks.where(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"""
          .stripMargin)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    bi.join(uni.toDF("w1", "c1"), "w1")
      .join(uni.toDF("w2", "c2"), "w2")
      .crossJoin(broadcast(nUni))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        expr(s"""cast(cast(c12 - $CollocDiscount as decimal(38,0)) * n_uni * 1000000
                 |  div (cast(c1 as decimal(38,0)) * c2) as bigint)""".stripMargin)
          .as("score_e6"))
      .orderBy(col("score_e6").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  val collocationsSql: String =
    s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
       |$oracleCapGuardCte
       |u AS (SELECT w, count(*) AS c FROM
       |        (SELECT unnest(toks) AS w FROM t) GROUP BY w),
       |nu AS (SELECT sum(c) AS n_uni FROM u),
       |b AS (SELECT toks[i] AS w1, toks[i+1] AS w2
       |      FROM t, capok, generate_series(1, $OracleMaxDocTokens) gs(i) WHERE i <= len(toks) - 1),
       |bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2
       |       HAVING count(*) >= $MinCollocCount)
       |SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2,
       |  CAST((bc.c12 - $CollocDiscount) * nu.n_uni * 1000000
       |    // (u1.c * u2.c) AS BIGINT) AS score_e6
       |FROM bc JOIN u u1 ON u1.w = bc.w1 JOIN u u2 ON u2.w = bc.w2, nu
       |ORDER BY score_e6 DESC, bc.w1, bc.w2 LIMIT $DefaultCollocTopK""".stripMargin

  /** DUPLICATION-ADAPTIVE (the boilerplateScrub pattern): every output
    * column is a function of the document TEXT plus the corpus-global
    * bigram LM, and the LM's counts are Σ copies over distinct contents
    * — so under duplication mass the bigram pipeline runs once per
    * DISTINCT content (weighted by copy count) and per-content scores
    * expand through the (doc_id, ch) membership. The r14 multi-file
    * fixture exposed this query as the next corpus-mass payer (the old
    * single-task scan had hidden it by collapsing all replica copies in
    * one map-side combine). A mostly-unique corpus takes the direct
    * path — the oracle pins it; collapsed == direct is pinned by
    * BigramCollapseSpec on a replicated fixture.
    */
  def bigramCoherence(spark: SparkSession, d: String,
      collapse: Option[Boolean] = None): DataFrame = {
    val docsT = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val doCollapse = collapse.getOrElse {
      val s = docsT.agg(count(lit(1)).as("nd"),
        approx_count_distinct(xxhash64(col("text"))).as("nc")).collect()(0)
      s.getLong(1) * 2 <= s.getLong(0)
    }
    val bigramsOf = explode(expr(
      """transform(sequence(1, size(toks) - 1),
        |  i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"""
        .stripMargin)).as("b")
    if (!doCollapse) {
      val bi = Tables.documents(spark, d)
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), bigramsOf)
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .persist()
      // fold the head counts into the bigram table FIRST (both are
      // LM-sized, |vocab| and |vocab|² rows) so the corpus-sized bigram
      // stream pays ONE equi-join, not two
      val lm = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .join(bi.groupBy("w1").agg(count(lit(1)).as("h")), Seq("w1"))
        .select(col("w1"), col("w2"), expr("c * 1000000L div h").as("p_e6"))
      bi
        .join(lm, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_e6) div count(1)").as("score_e6"))
        .orderBy("doc_id")
    } else {
      val rep = docsT.select(col("doc_id"),
          graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
        .persist()
      val contents = rep.groupBy("ch")
        .agg(min(col("doc_id")).as("cid"), count(lit(1)).as("w"))
        .localCheckpoint(true)
      // bigrams once per distinct content, carrying the copy weight
      val bi = Tables.documents(spark, d)
        .join(contents.select(col("cid").as("doc_id"), col("ch"), col("w")),
          Seq("doc_id"))
        .select(col("ch"), col("w"), expr(toksExpr).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("ch"), col("w"), bigramsOf)
        .select(col("ch"), col("w"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .persist()
      // weighted counts == occurrence counts over the full corpus
      val lm = bi.groupBy("w1", "w2").agg(sum("w").as("c"))
        .join(bi.groupBy("w1").agg(sum("w").as("h")), Seq("w1"))
        .select(col("w1"), col("w2"), expr("c * 1000000L div h").as("p_e6"))
      // per-CONTENT report (n_bigrams and the score are per-text facts,
      // copy-invariant), expanded through the membership frame
      val perContent = bi.join(lm, Seq("w1", "w2"))
        .groupBy("ch")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_e6) div count(1)").as("score_e6"))
      rep.join(perContent, Seq("ch"))
        .select(col("doc_id"), col("n_bigrams"), col("score_e6"))
        .orderBy("doc_id")
    }
  }

  val bigramCoherenceSql: String =
    s"""WITH t AS (SELECT doc_id, $toksDuck AS toks FROM documents),
       |$oracleCapGuardCte
       |b AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       |      FROM t, capok, generate_series(1, $OracleMaxDocTokens) gs(i)
       |      WHERE i <= len(toks) - 1),
       |lm AS (SELECT w1, w2, count(*) AS c FROM b GROUP BY w1, w2),
       |hd AS (SELECT w1, count(*) AS h FROM b GROUP BY w1),
       |s AS (SELECT doc_id, CAST(lm.c * 1000000 // hd.h AS BIGINT) AS p_e6
       |      FROM b JOIN lm USING (w1, w2) JOIN hd USING (w1))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(p_e6) // count(*) AS BIGINT) AS score_e6
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Token-length HISTOGRAM: fixed-width buckets (50 tokens wide, last
    * bucket open-ended) per source with counts and corpus share — the
    * length-distribution profile behind context-length / truncation
    * decisions, where [[quantileStats]] gives point quantiles this
    * gives the whole shape. Bucketing is integer floor-division, so
    * both engines agree exactly.
    *
    * Scale: one shuffle on (source, bucket) with map-side partials —
    * |sources|·|buckets| rows out regardless of corpus size.
    */
  def lengthHistogram(spark: SparkSession, d: String,
      bucketTokens: Int = 50, maxBucket: Int = 19): DataFrame = {
    require(bucketTokens >= 1 && maxBucket >= 1,
      s"need bucketTokens >= 1 and maxBucket >= 1, got ($bucketTokens, $maxBucket)")
    // per-source total via a window over the tiny aggregated frame —
    // one pass, no self-join forking the unpersisted plan (the
    // quantileStats pattern in this file)
    Tables.documents(spark, d)
      .select(col("source"),
        graft.functions.GraftFunctions.text_stats(col("text"), Nil)
          .getItem(0).as("n_tok"))
      .withColumn("bucket",
        expr(s"least(n_tok div $bucketTokens, ${maxBucket}L)"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("src_docs", sum("n_docs").over(Window.partitionBy("source")))
      .select(col("source"), col("bucket"),
        (col("bucket") * bucketTokens).as("from_tok"),
        col("n_docs"),
        expr("n_docs * 10000L div src_docs").as("share_e4"))
      .orderBy("source", "bucket")
  }

  val lengthHistogramSql: String =
    s"""WITH t AS (SELECT source, CAST(len($toksDuck) AS BIGINT) AS n_tok
       |           FROM documents),
       |b AS (SELECT source, least(n_tok // 50, 19) AS bucket, count(*) AS n_docs
       |      FROM t GROUP BY source, bucket),
       |st AS (SELECT source, sum(n_docs) AS src_docs FROM b GROUP BY source)
       |SELECT b.source, b.bucket, CAST(b.bucket * 50 AS BIGINT) AS from_tok,
       |  b.n_docs, CAST(b.n_docs * 10000 // st.src_docs AS BIGINT) AS share_e4
       |FROM b JOIN st ON b.source = st.source
       |ORDER BY b.source, b.bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk_sliding" -> ((s, d) => chunkSliding(s, d)),
    "q_length_histogram" -> ((s, d) => lengthHistogram(s, d)),
    "q_chunk_dedup" -> ((s, d) => chunkDedup(s, d)),
    "q_chunk_cdc" -> ((s, d) => chunkCdc(s, d)),
    "q_mix_weights" -> (mixWeights _),
    "q_mix_temperature" -> (mixTemperature _),
    "q_quantile_stats" -> (quantileStats _),
    "q_quantile_sketch" -> (quantileSketch _),
    "q_bigram_coherence" -> ((s, d) => bigramCoherence(s, d)),
    "q_collocations" -> ((s, d) => collocations(s, d)),
    "q_budget_select" -> ((s, d) => budgetSelect(s, d)))

  val oracles: Map[String, String] = Map(
    "q_chunk_sliding" -> chunkSlidingSql,
    "q_length_histogram" -> lengthHistogramSql,
    "q_chunk_dedup" -> chunkDedupSql,
    "q_chunk_cdc" -> chunkCdcSql,
    "q_mix_weights" -> mixWeightsSql,
    "q_mix_temperature" -> mixTemperatureSql,
    "q_quantile_stats" -> quantileStatsSql,
    "q_quantile_sketch" -> quantileSketchSql,
    "q_bigram_coherence" -> bigramCoherenceSql,
    "q_collocations" -> collocationsSql,
    "q_budget_select" -> budgetSelectSql)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Deduplication operators over `documents` — the core of any
  * training-data pipeline.
  *
  * Scale design (the interesting part at 100 TB):
  *  - exact dedup: one hash-groupBy — a single shuffle on a 64-hex key,
  *    map-side partial aggregation keeps it near scan-bound
  *  - MinHash+LSH: signatures are computed map-side (higher-order array
  *    functions, no explode of shingles); only (doc_id, band) pairs — a
  *    few short rows per document, NOT the shingle set — are shuffled.
  *    Candidate generation is an equi-join on (band_id, band_value), so
  *    Catalyst plans a shuffled hash join keyed by the band value; AQE
  *    handles hot buckets (boilerplate/empty docs) via skew-join split.
  *  - SimHash: entirely map-side, one 16-bit signature per doc; dup
  *    groups fall out of a window count over the signature.
  *  - n-gram Jaccard verification runs only on LSH candidate pairs
  *    (the classic candidate→verify funnel), never all-pairs.
  *
  * Hash parity with DuckDB: each shingle is sha256-hashed once and split
  * into two 56-bit halves (h1, h2); minhash_j = numeric MIN over shingles
  * of h1 + j*h2 (the arithmetic hash family — see `signatures` and
  * `signaturesDuckCte`, which ARE the cross-engine contract).
  */
object Dedup {

  import TextAnalysis.{tokensSpark, tokensDuck, shinglesSpark, shinglesDuck}

  /** MinHash/LSH scale knobs. bands × rowsPerBand = numHashes; the LSH
    * S-curve threshold is t ≈ (1/bands)^(1/rowsPerBand) — 4 bands of 4
    * rows targets ~0.59 Jaccard for this corpus. At 100 TB the knobs
    * trade candidate volume against recall: more bands (lower threshold)
    * multiplies the (doc, band) rows shuffled AND the expected bucket
    * collisions, so production near-dedup typically runs ~9-20 bands
    * over 100+ hashes and relies on the same equi-join shape — the plan
    * does not change with the knobs, only its fan-out.
    */
  val DefaultNumHashes = 16
  val DefaultNumBands = 4

  /** Per-doc candidate-partner cap (the round-7 scale study's fix): a
    * pair survives iff it ranks in the top `DefaultMaxPartners` partners
    * of EITHER endpoint (by shared-fingerprint/band weight, partner id
    * as the tiebreak), bounding total pairs at maxPartners × docs — the
    * guard that keeps a degenerate corpus (viral boilerplate, mass
    * replicas) from growing verify-stage pairs quadratically. 128 is far
    * above any fixture doc's partner count (sf0.1 max is < 20), so the
    * cap is a NO-OP at every oracle-checked SF and binds only where it
    * must — CapPairsSpec pins the binding behavior on a synthetic frame.
    */
  val DefaultMaxPartners = 128

  /** Keep pairs ranking in the top-N partner list of either endpoint.
    * Ranking is (weight DESC, partner id ASC) — deterministic; the
    * either-side union keeps recall (a hub doc cannot evict its
    * satellites' view of it). Two window shuffles over the PAIR frame
    * only, never the corpus.
    */
  private[operators] def capPairs(pairs: DataFrame, weightCol: String,
      maxPartners: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPartners >= 1, s"maxPartners must be >= 1, got $maxPartners")
    val wA = Window.partitionBy("doc_a").orderBy(col(weightCol).desc, col("doc_b"))
    val wB = Window.partitionBy("doc_b").orderBy(col(weightCol).desc, col("doc_a"))
    pairs
      .withColumn("rk_a", row_number().over(wA))
      .withColumn("rk_b", row_number().over(wB))
      .where(col("rk_a") <= maxPartners || col("rk_b") <= maxPartners)
      .drop("rk_a", "rk_b")
  }

  /** (doc_id, sig: array<long>[numHashes]) — one row per doc with shingles.
    *
    * One sha256 per shingle, split into two 56-bit halves (h1, h2); the
    * 16 MinHash functions are the arithmetic family `h1 + j*h2`
    * (no overflow: h < 2^56, j ≤ 15 ⇒ sums < 2^61). This is 16× less
    * hashing than sha256-per-function, and the caller persists the
    * result so the LSH self-join doesn't recompute it per branch.
    * Each heavy array is materialized under its own alias —
    * CollapseProject won't merge projections that would duplicate
    * non-cheap expressions, so every stage evaluates once.
    */
  private[graft] def signatures(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes): DataFrame =
    signaturesOver(Tables.documents(spark, d), numHashes)

  private[graft] def signaturesOver(docs: DataFrame, numHashes: Int = DefaultNumHashes): DataFrame =
    minhashSigs(docs, numHashes).where(col("sig").isNotNull)

  /** (doc_id, sig) of every doc, sig null where a doc has no shingles. */
  private def minhashSigs(docs: DataFrame, numHashes: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.minhash_sig(col("text"), numHashes).as("sig"))

  private def signaturesDuckCte(numHashes: Int = DefaultNumHashes,
      src: String = "documents"): String =
    s"""t AS (SELECT doc_id, $tokensDuck AS toks FROM $src),
       |sh AS (SELECT doc_id, $shinglesDuck AS shingles FROM t),
       |hs0 AS (SELECT doc_id, list_transform(shingles, s2 -> substr(sha256(s2), 1, 28)) AS hs
       |        FROM sh WHERE len(shingles) > 0),
       |hv AS (SELECT doc_id,
       |         list_transform(hs, h -> ('0x' || substr(h, 1, 14))::BIGINT) AS h1s,
       |         list_transform(hs, h -> ('0x' || substr(h, 15, 14))::BIGINT) AS h2s
       |       FROM hs0),
       |g AS (SELECT doc_id,
       |        list_transform(range(0, $numHashes), j ->
       |          list_aggregate(list_transform(range(1, len(h1s) + 1), i -> h1s[i] + j * h2s[i]), 'min')) AS sig
       |      FROM hv)""".stripMargin

  /** (doc_id, band_id, band_val) — numBands short rows per doc. */
  private def bands(sigs: DataFrame, numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): DataFrame = {
    require(numBands >= 1 && numBands <= numHashes && numHashes % numBands == 0,
      s"numBands ($numBands) must divide numHashes ($numHashes) — " +
        "bands x rowsPerBand = numHashes is the LSH S-curve contract")
    val rows = numHashes / numBands
    val bandExprs = (0 until numBands).map { b =>
      (0 until rows).map(j => s"cast(sig[${rows * b + j}] as string)")
        .mkString("concat_ws('-', ", ", ", ")")
    }.mkString("array(", ", ", ")")
    sigs.select(col("doc_id"),
      posexplode(expr(bandExprs)).as(Seq("band_id", "band_val")))
  }

  private def bandsDuckCte(numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): String = {
    val rows = numHashes / numBands
    val parts = (1 to rows).map(j => s"sig[$rows*b+$j]").mkString(", ")
    s"""bands AS (SELECT doc_id, b AS band_id,
       |            concat_ws('-', $parts) AS band_val
       |          FROM g, generate_series(0, ${numBands - 1}) bs(b))""".stripMargin
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing any LSH band.
    * `sigs` should be persisted by the caller — it feeds both join
    * branches and the later signature/shingle-set lookups.
    */
  private[graft] def candidatePairs(sigs: DataFrame,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      maxPartners: Int = DefaultMaxPartners): DataFrame = {
    // the groupBy replaces the former distinct() — same shuffle, but the
    // shared-band count doubles as the cap's partner-ranking weight
    val weighted = bandCollisions(bands(sigs, numHashes, numBands))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    capPairs(weighted, "n_shared_bands", maxPartners)
      .select("doc_a", "doc_b")
  }

  /** Band-table self-join aliased `a`/`b`: every (a, b) doc pair with
    * a.doc_id < b.doc_id that shares a (band_id, band_val) bucket, once
    * per shared band.
    */
  private def bandCollisions(b: DataFrame): DataFrame =
    b.as("a").join(b.as("b"),
      col("a.band_id") === col("b.band_id") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))

  private val candidatePairsDuckCte: String =
    """pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM bands a JOIN bands b
      |            ON a.band_id = b.band_id AND a.band_val = b.band_val
      |           AND a.doc_id < b.doc_id)""".stripMargin

  /** Signature-agreement estimate over (sig_a, sig_b) — ONE definition
    * shared by the LSH query and the estimator audit, so the audit can
    * never silently diverge from the expression it audits. Expects the
    * joined pair frame aliases used by both callers.
    */
  private def sigAgreementExpr(numHashes: Int): String =
    s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) * 10000L div $numHashes"

  /** DuckDB twin of [[sigAgreementExpr]] over `g ga` / `g gb`. */
  private def sigAgreementDuck(numHashes: Int): String =
    s"CAST(len(list_filter(range(0, $numHashes), j -> ga.sig[j+1] = gb.sig[j+1])) * 10000 AS BIGINT) // $numHashes"

  /** LSH TUNING report: per band, the bucket population profile —
    * bucket count, the largest bucket, how many buckets actually
    * collide, and Σ C(size, 2) — the exact candidate-pair work this
    * band contributes to the verify stage. This is the knob-tuning
    * input for `DefaultNumHashes`/`DefaultNumBands` (the skew
    * diagnostics of the dedup funnel): candidate pairs growing
    * super-linearly with the corpus means the band key is too coarse —
    * more bands × fewer rows per band (or a larger signature) is the
    * correction, and this report quantifies it BEFORE a 100 TB run
    * commits to a configuration.
    *
    * Scale: band rows are numBands short rows per doc (map-side), then
    * two cheap aggregations — (band, bucket) sizes and the per-band
    * rollup; nothing quadratic runs here, which is the point: the
    * report prices the quadratic stage without executing it.
    */
  def lshTuning(spark: SparkSession, d: String): DataFrame =
    bands(signatures(spark, d))
      .groupBy("band_id", "band_val").agg(count(lit(1)).as("sz"))
      .groupBy("band_id")
      .agg(
        count(lit(1)).as("n_buckets"),
        max("sz").as("max_bucket"),
        sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_colliding"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
      .orderBy("band_id")

  val lshTuningSql: String =
    s"""WITH ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |bk AS (SELECT band_id, band_val, count(*) AS sz
       |       FROM bands GROUP BY band_id, band_val)
       |SELECT band_id, count(*) AS n_buckets,
       |  CAST(max(sz) AS BIGINT) AS max_bucket,
       |  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
       |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
       |FROM bk GROUP BY band_id ORDER BY band_id""".stripMargin

  /** CROSS-FAMILY pair-volume BUDGET: for each banding family (MinHash
    * bands, canonical simhash64 narrow bands, embedding sign-LSH
    * buckets), the exact candidate-pair work its bucket join would
    * enumerate — Σ C(bucket, 2) over the family's own bucket key —
    * WITHOUT running any join. [[lshTuning]] generalized from per-band
    * MinHash diagnostics to one comparable row per family: this is the
    * number an operator reads BEFORE dispatching a `*_pairs` audit dump
    * (whose replica wall time is output-volume-bound by contract) or
    * before committing a banding config to a 100 TB run. Each leg is a
    * map-side explode plus two bounded aggregations — nothing quadratic
    * executes, which is the point: the report prices the quadratic
    * stage instead of running it.
    *
    * `n_units` is derived arithmetically (band rows ÷ rows-per-unit) so
    * each leg stays a single aggregation tree; the simhash leg prices
    * the funnel it actually runs (canonical docs after
    * [[exactCollapse]]), and the embedding leg buckets at the
    * corpus-sized plane count ([[Similarity.numPlanesFor]]), so the
    * budget tracks the engine's own scale adaptations.
    */
  def pairsBudget(spark: SparkSession, d: String): DataFrame = {
    def leg(face: String, buckets: DataFrame, keys: Seq[String],
        rowsPerUnit: Int): DataFrame =
      buckets.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
        .agg(
          expr(s"sum(sz) div $rowsPerUnit").as("n_units"),
          count(lit(1)).as("n_buckets"),
          max("sz").as("max_bucket"),
          sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
        .select(lit(face).as("face"), col("n_units"), col("n_buckets"),
          col("max_bucket"), col("cand_pairs"))
    val mh = leg("minhash_lsh", bands(signatures(spark, d)),
      Seq("band_id", "band_val"), DefaultNumBands)
    val canonBands = simhash64Bands(
      simhash64Sigs(canonicalReps(exactCollapse(spark, d)))
        .where(col("sbands").isNotNull), "narrow")
    val sh = leg("simhash64_narrow", canonBands, Seq("band_id", "band_val"), 4)
    val (bucketExpr, _) = Similarity.bucketExprFor(spark, d)
    val emb = leg("embedding_lsh",
      Tables.embeddings(spark, d).select(expr(bucketExpr).as("bucket")),
      Seq("bucket"), 1)
    mh.unionAll(sh).unionAll(emb).orderBy("face")
  }

  // lazy: the embedding leg reaches into Similarity, whose OWN init
  // embeds Dedup SQL vals declared below this point — an eager val here
  // would run Similarity's init against a half-initialized Dedup and
  // bake the string "null" into those oracles (measured: exactly that,
  // r16). Laziness defers the cross-object touch until both complete.
  lazy val pairsBudgetSql: String =
    s"""WITH ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |mbk AS (SELECT band_id, band_val, count(*) AS sz
       |        FROM bands GROUP BY 1, 2),
       |m AS (SELECT 'minhash_lsh' AS face,
       |        CAST(sum(sz) // $DefaultNumBands AS BIGINT) AS n_units,
       |        count(*) AS n_buckets, CAST(max(sz) AS BIGINT) AS max_bucket,
       |        CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
       |      FROM mbk),
       |cm AS (SELECT doc_id, text, min(doc_id) OVER (PARTITION BY
       |         sha256(array_to_string($tokensDuck, ' '))) AS gid
       |       FROM documents),
       |canon AS (SELECT doc_id, text FROM cm WHERE doc_id = gid),
       |${simhash64SigDuckCtes("canon", "sh_")},
       |sbk AS (SELECT gs.j AS band_id, sh_sig.sbands[gs.j + 1] AS band_val,
       |          count(*) AS sz
       |        FROM sh_sig, generate_series(0, 3) gs(j) GROUP BY 1, 2),
       |s AS (SELECT 'simhash64_narrow' AS face,
       |        CAST(sum(sz) // 4 AS BIGINT) AS n_units,
       |        count(*) AS n_buckets, CAST(max(sz) AS BIGINT) AS max_bucket,
       |        CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
       |      FROM sbk),
       |ebk AS (SELECT ${Similarity.bucketDuckExpr()} AS bucket,
       |          count(*) AS sz
       |        FROM embeddings GROUP BY 1),
       |e AS (SELECT 'embedding_lsh' AS face,
       |        CAST(sum(sz) AS BIGINT) AS n_units,
       |        count(*) AS n_buckets, CAST(max(sz) AS BIGINT) AS max_bucket,
       |        CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs
       |      FROM ebk)
       |SELECT * FROM m UNION ALL SELECT * FROM s UNION ALL SELECT * FROM e
       |ORDER BY face""".stripMargin

  /** Exact dedup: hash-group on normalized content (token-joined, so
    * whitespace/punctuation differences collapse); keep the smallest
    * doc_id as the canonical representative.
    */
  def dedupExact(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.content_hash(col("text")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_doc_id")

  val dedupExactSql: String =
    s"""SELECT sha256(array_to_string($tokensDuck, ' ')) AS content_hash,
       |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
       |FROM documents
       |GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin

  /** INCREMENTAL exact dedup: a new batch arrives (odd doc_ids here,
    * standing in for today's crawl) and must dedup against BOTH the
    * already-ingested corpus (even doc_ids — the "seen hashes" registry
    * a production pipeline persists between runs, exactly like the
    * extract watermark persists progress) and itself (first occurrence
    * in-batch wins). The per-doc verdict carries both reasons so the
    * ingest report can distinguish re-crawls from in-batch copies.
    *
    * Scale: content hashes are map-side kernel work; the registry probe
    * is one equi-join on the hash (broadcast while the registry fits,
    * shuffle — or a Bloom pre-filter like q_decontaminate_bloom — when
    * it doesn't) and in-batch firsts are one bounded-key window. The
    * batch, not the corpus, pays the window: registry rows join but
    * never window or re-sort.
    */
  def dedupIncremental(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both branches (registry and batch) read this frame — persist so
    // the documents scan + hash kernel run once, not twice
    val hashes = Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
      .persist()
    val registry = hashes.where(col("doc_id") % 2 === 0)
      .select(col("ch")).distinct()
      .withColumn("seen", lit(true))
    hashes.where(col("doc_id") % 2 === 1)
      .join(broadcast(registry), Seq("ch"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("ch").orderBy("doc_id")))
      .select(
        col("doc_id"),
        substring(col("ch"), 1, 16).as("hash16"),
        coalesce(col("seen"), lit(false)).as("dup_of_prior"),
        (col("rn") > 1).as("dup_in_batch"))
      .withColumn("accepted", !col("dup_of_prior") && !col("dup_in_batch"))
      .orderBy("doc_id")
  }

  val dedupIncrementalSql: String =
    s"""WITH h AS (SELECT doc_id, sha256(array_to_string($tokensDuck, ' ')) AS ch
       |           FROM documents),
       |prior AS (SELECT DISTINCT ch FROM h WHERE doc_id % 2 = 0),
       |b AS (SELECT doc_id, ch,
       |        row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn
       |      FROM h WHERE doc_id % 2 = 1)
       |SELECT b.doc_id, substr(b.ch, 1, 16) AS hash16,
       |  (prior.ch IS NOT NULL) AS dup_of_prior,
       |  (b.rn > 1) AS dup_in_batch,
       |  (prior.ch IS NULL AND b.rn = 1) AS accepted
       |FROM b LEFT JOIN prior ON b.ch = prior.ch
       |ORDER BY doc_id""".stripMargin

  /** Near-dup Jaccard threshold for [[dedupIncrementalLsh]], shared
    * with its oracle (the sweep grid's dedup knee).
    */
  val IncrementalLshThresholdE4 = 8000L

  /** The canonical-level funnel triple every pair-verifying face
    * shares: (membership (doc_id, gid, text), eligible gids, canonical
    * pair frame (ga, gb, <metric cols>)).
    */
  private[operators] type Funnel = (DataFrame, DataFrame, DataFrame)

  /** Fill several persisted frames' caches with ONE action: the union of
    * their single-column projections scans (and therefore computes) every
    * frame's partitions inside a single job, instead of one sequential
    * count() job per frame — the branches run in parallel and the driver
    * pays one job round trip. A shared upstream cache (e.g. the
    * exactCollapse membership both sets and sigs scan) fills exactly once:
    * BlockManager's per-partition compute lock dedupes concurrent fills.
    * Caching materializes full InMemoryRelation batches whichever column
    * the probe reads, so the lit(1) projection fills the whole cache,
    * same as count().
    */
  private[graft] def fillCaches(dfs: DataFrame*): Unit = {
    dfs.map(_.select(lit(1L).as("one"))).reduce(_.unionAll(_)).count(): Unit
  }

  /** ONE canonical-level (collapsed) candidate→verify funnel behind
    * every pair-verifying face. `membership` is a persisted
    * (doc_id, gid, text) exact-duplicate collapse — [[exactCollapse]],
    * or the raw-text one of [[editDistFunnel]] — and everything pairwise
    * runs over its canonical reps (`doc_id = gid`) only; faces expand
    * back to members with [[expandMemberPairs]] or count member pairs
    * algebraically with [[pairCountsByKey]]. Each face passes only what
    * differs:
    *  - `signatures`: the reps' signature projections, each
    *    (doc_id, sig) with a null sig for a signature-less rep. The
    *    funnel persists each and drops the null rows above the cache,
    *    so every kernel runs once per rep. A canonical is ELIGIBLE (its
    *    group yields identical-content intra pairs) iff it has every
    *    signature.
    *  - `band`: the first frame → candidate pairs (doc_a < doc_b).
    *  - `score`: (candidates, frames) → (ga, gb, <metric cols>), with
    *    the frames already null-free.
    *
    * Materialize before consume: the signature frames and the scored
    * frame are persisted, and ONE [[fillCaches]] job fills them — and,
    * through their full scans of it, the membership — before any
    * consumer runs. Membership fans out to ~8 plan
    * branches (recomputed per branch when unmaterialized — measured 20×
    * on the 10× replica), and codegen re-evaluates an unmaterialized
    * projection at its point of use — once per EXPANDED row after a
    * row-multiplying join — so the scored frame pins one metric
    * evaluation per CANONICAL pair (the round-9 editdist lesson: 1.2M
    * DP evaluations instead of 12k, 95 s vs 3 s on the 10× replica).
    * One fill job serves the whole funnel: the scored branch computes
    * the signature and membership caches on the way up under the
    * block-manager locks, and the other branches read those blocks.
    * Membership is not a branch of its own: a scanned cache is its own
    * AQE stage, and the extra branch cost one more job per face.
    */
  private def funnel(membership: DataFrame,
      signatures: DataFrame => Seq[DataFrame],
      band: DataFrame => DataFrame)(
      score: (DataFrame, Seq[DataFrame]) => DataFrame): Funnel = {
    val cached = signatures(canonicalReps(membership)).map(_.persist())
    // drop signature-less reps ABOVE the persist: a null filter under it
    // is pushed below the projection and runs the kernel twice per row
    val frames = cached.map(f => f.where(col(f.columns(1)).isNotNull))
    val gd = score(band(frames.head), frames).persist()
    fillCaches(cached :+ gd: _*)
    val elig = frames.map(_.select(col("doc_id").as("gid")))
      .reduce(_.join(_, Seq("gid"), "left_semi"))
    (membership, elig, gd)
  }

  /** The canonical reps (doc_id, text) of a collapse membership. */
  private def canonicalReps(membership: DataFrame): DataFrame =
    membership.where(col("doc_id") === col("gid"))
      .select(col("doc_id"), col("text"))

  /** (doc_id, sset) distinct-shingle sets, sset null where a doc has
    * no shingles.
    */
  private def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.shingle_set(col("text")).as("sset"))

  /** The MinHash family's signature frames — (signatures, shingle
    * sets) — banded by [[candidatePairs]] on the signatures.
    */
  private def minhashFrames(numHashes: Int)(reps: DataFrame): Seq[DataFrame] =
    Seq(minhashSigs(reps, numHashes), shingleSets(reps))

  /** Attach `frame`'s column `c` to both endpoints of a (doc_a, doc_b)
    * pair frame as `<as>_a` / `<as>_b` — the id-keyed lookup joins every
    * verify score runs.
    */
  private def joinSides(pairs: DataFrame, frame: DataFrame, c: String,
      as: String): DataFrame =
    pairs
      .join(frame.select(col("doc_id").as("doc_a"), col(c).as(s"${as}_a")), "doc_a")
      .join(frame.select(col("doc_id").as("doc_b"), col(c).as(s"${as}_b")), "doc_b")

  /** INCREMENTAL NEAR-dup admission — the LSH face of
    * [[dedupIncremental]] and the production ingestion mode: each NEW
    * document (odd ids, standing in for the incoming batch) is scored
    * against the REGISTRY (even ids, standing in for the persisted
    * signature store) — exact-content hit, best verified Jaccard over
    * LSH-candidate registry content, candidate-group count, and the
    * admission verdict. In-batch near-dups are deliberately out of
    * scope (that is the batch family's job before registry merge);
    * exact in-batch arrivals are [[dedupIncremental]]'s.
    *
    * Scale shape: everything runs at CANONICAL (distinct-content)
    * level — [[exactCollapse]] first, then one band equi-join between
    * canonical signatures and one Jaccard verify per canonical pair;
    * verdicts expand back to member docs through the membership join.
    * A batch of a million copies of one registry document costs ONE
    * signature, ONE verify, and a linear expansion — the naive
    * member-level band join would pay the duplication quadratic. The
    * oracle runs rep-level too (identical content ⇒ identical bands,
    * so member-level collision ⟺ canonical collision), sourced from a
    * text-partitioned window instead of the hash kernel.
    */
  def dedupIncrementalLsh(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      thresholdE4: Long = IncrementalLshThresholdE4): DataFrame = {
    val (membership, _, pj) = ngramJaccardFunnel(spark, d, numHashes, numBands)
    val groupReg = membership.where(col("doc_id") % 2 === 0)
      .select(col("gid")).distinct().withColumn("has_reg", lit(true))
    val dir = pj.unionByName(
      pj.select(col("gb").as("ga"), col("ga").as("gb"), col("jaccard_e4")))
    val crossBest = dir
      .join(groupReg.select(col("gid").as("gb")), Seq("gb"), "left_semi")
      .groupBy("ga")
      .agg(max("jaccard_e4").as("best_cross"), countDistinct("gb").as("n_cross"))
    membership.where(col("doc_id") % 2 === 1)
      .select("doc_id", "gid")
      .join(groupReg, Seq("gid"), "left")
      .join(crossBest.select(col("ga").as("gid"), col("best_cross"), col("n_cross")),
        Seq("gid"), "left")
      .select(col("doc_id"),
        coalesce(col("has_reg"), lit(false)).as("exact_dup"),
        greatest(when(coalesce(col("has_reg"), lit(false)), lit(10000L))
            .otherwise(lit(0L)),
          coalesce(col("best_cross"), lit(0L))).as("best_jaccard_e4"),
        (coalesce(col("n_cross"), lit(0L)) +
          when(coalesce(col("has_reg"), lit(false)), 1L).otherwise(0L))
          .as("n_candidate_groups"))
      .withColumn("is_dup", col("best_jaccard_e4") >= thresholdE4)
      .orderBy("doc_id")
  }

  val dedupIncrementalLshSql: String =
    s"""WITH grp AS (SELECT doc_id, text,
       |    -- token-normalized grouping: the content_hash kernel hashes the
       |    -- single-space token join, not the raw text
       |    CAST(min(doc_id) OVER (
       |      PARTITION BY array_to_string($tokensDuck, ' ')) AS BIGINT) AS gid
       |  FROM documents),
       |reps AS (SELECT gid AS doc_id, text FROM grp WHERE doc_id = gid),
       |${signaturesDuckCte(src = "reps")},
       |${bandsDuckCte()},
       |$candidatePairsDuckCte,
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset
       |         FROM sh WHERE len(shingles) > 0),
       |pj AS (SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sset, sb.sset)) * 10000 AS BIGINT)
       |      // len(list_distinct(list_concat(sa.sset, sb.sset))) AS j
       |  FROM pairs JOIN sets sa ON sa.doc_id = doc_a
       |  JOIN sets sb ON sb.doc_id = doc_b),
       |dir AS (SELECT doc_a AS ga, doc_b AS gb, j FROM pj
       |  UNION ALL SELECT doc_b, doc_a, j FROM pj),
       |reg AS (SELECT DISTINCT gid FROM grp WHERE doc_id % 2 = 0),
       |crossb AS (SELECT ga, CAST(max(j) AS BIGINT) AS best_cross,
       |    count(DISTINCT gb) AS n_cross
       |  FROM dir WHERE gb IN (SELECT gid FROM reg) GROUP BY ga)
       |SELECT g2.doc_id,
       |  (g2.gid IN (SELECT gid FROM reg)) AS exact_dup,
       |  greatest(CASE WHEN g2.gid IN (SELECT gid FROM reg) THEN 10000 ELSE 0 END,
       |    coalesce(crossb.best_cross, 0)) AS best_jaccard_e4,
       |  CAST(coalesce(crossb.n_cross, 0)
       |    + CASE WHEN g2.gid IN (SELECT gid FROM reg) THEN 1 ELSE 0 END
       |    AS BIGINT) AS n_candidate_groups,
       |  greatest(CASE WHEN g2.gid IN (SELECT gid FROM reg) THEN 10000 ELSE 0 END,
       |    coalesce(crossb.best_cross, 0)) >= $IncrementalLshThresholdE4 AS is_dup
       |FROM grp g2 LEFT JOIN crossb ON crossb.ga = g2.gid
       |WHERE g2.doc_id % 2 = 1
       |ORDER BY g2.doc_id""".stripMargin

  /** The static half of STREAMING near-dup admission: the registry's
    * canonical-level LSH index — (band table, shingle sets, content
    * hashes with their canonical gid) over the already-ingested corpus
    * (even ids). Built once in batch; every micro-batch probes it.
    */
  def registryIndex(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): (DataFrame, DataFrame, DataFrame) =
    registryIndexOver(
      Tables.documents(spark, d).where(col("doc_id") % 2 === 0),
      numHashes, numBands)

  /** Per-doc registry INDEX rows (doc_id, ch, sig, sset): everything
    * the admission probe needs about a document, computed ONCE when the
    * doc is admitted and persisted beside the store — the incremental
    * form of [[registryIndexOver]], which re-hashes the whole registry
    * per run. sig/sset are null for unshingleable docs (the probe's
    * exact-hash path still covers them through ch).
    */
  def registryIndexRows(docs: DataFrame,
      numHashes: Int = DefaultNumHashes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sig/sset on the CONTENT CANONICAL (min doc id per content hash)
    // only — the probe reads canonical signatures exclusively
    // ([[registryIndexFromRows]]'s null filters), and under mass
    // duplication the copies' shingle arrays would be the index's whole
    // weight. This is the same row shape [[graft.extract
    // .IngestionPipeline.indexRowsFor]] stores, made the kernel-level
    // contract: sig/sset non-null ⟺ the row is its content's canonical.
    docs.select(col("doc_id"), col("text"),
        graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
      .withColumn("rgid", min("doc_id").over(Window.partitionBy("ch")))
      .select(col("doc_id"), col("ch"),
        // cast to the parquet read-back element nullability so freshly
        // computed and store-lifted rows share one schema (a strict
        // _metadata merge rejects containsNull drift across tiles)
        when(col("doc_id") === col("rgid"),
          graft.functions.GraftFunctions.minhash_sig(col("text"), numHashes))
          .cast("array<bigint>").as("sig"),
        when(col("doc_id") === col("rgid"),
          graft.functions.GraftFunctions.shingle_set(col("text")))
          .cast("array<string>").as("sset"))
  }

  /** The probe-side registry triple from STORED index rows — pure
    * column arithmetic, zero hashing: canonicals are the min doc per
    * stored content hash (the store is content-unique across batches by
    * admission, so this collapses only in-batch duplicates), band
    * values derive from the stored signatures. Output-identical to
    * [[registryIndexOver]] on the same docs (the kernels that produced
    * the stored rows are the same ones it would run) — pinned in
    * IngestionPipelineSpec.
    */
  def registryIndexFromRows(idx: DataFrame,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): (DataFrame, DataFrame, DataFrame) = {
    val regHashes = idx.groupBy(col("ch")).agg(min(col("doc_id")).as("rgid"))
    // canonical rows are exactly the sig/sset-bearing rows — every
    // producer ([[registryIndexRows]],
    // [[graft.extract.IngestionPipeline.indexRowsFor]],
    // [[graft.extract.IngestionPipeline.indexRowsFromProbe]]) stores
    // sig/sset on the content canonical ONLY — so the band/set sides
    // read straight off the stored rows through a null filter. The
    // former min-doc semi-join re-derived the same rows while shuffling
    // the index's HEAVY columns (128-hash signatures, shingle-set
    // arrays) store-wide on every probe; only the 16-byte (ch, doc_id)
    // exact-hit map still aggregates (it must cover unshingleable
    // canonicals, whose sig/sset are legitimately null).
    val regBands = bands(
      idx.select(col("doc_id"), col("sig")).where(col("sig").isNotNull),
      numHashes, numBands)
      .select(col("doc_id").as("rgid"), col("band_id"), col("band_val"))
    val regSets = idx.where(col("sset").isNotNull)
      .select(col("doc_id").as("rgid"), col("sset").as("rset"))
    (regBands, regSets, regHashes.select(col("ch"), col("rgid")))
  }

  /** [[registryIndex]] over an arbitrary (doc_id, text, …) frame — the
    * form ingestion jobs use to index their own persisted admitted
    * store ([[graft.extract.IngestionPipeline]]).
    */
  def registryIndexOver(regDocs: DataFrame,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val reg = regDocs
      .select(col("doc_id"), col("text"),
        graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
      .withColumn("rgid", min("doc_id").over(Window.partitionBy("ch")))
    val canon = reg.where(col("doc_id") === col("rgid"))
      .select(col("rgid"), col("text")).persist()
    canon.count()
    val regBands = bands(
      signaturesOver(canon.select(col("rgid").as("doc_id"), col("text")),
        numHashes), numHashes, numBands)
      .select(col("doc_id").as("rgid"), col("band_id"), col("band_val"))
    val regSets = canon
      .select(col("rgid"),
        graft.functions.GraftFunctions.shingle_set(col("text")).as("rset"))
      .where(col("rset").isNotNull)
    val regHashes = reg.select(col("ch"), col("rgid")).distinct()
    (regBands, regSets, regHashes)
  }

  /** The stateless per-batch half: admission verdicts for a frame of
    * new documents against a prebuilt [[registryIndex]] — the same
    * columns as [[dedupIncrementalLsh]], computable inside
    * `foreachBatch` with no state store (the registry is the state,
    * merged between batches by the ingestion job). Exact-content hits
    * enter the candidate union as literal-10000 rows, so a doc too
    * short to shingle still scores its byte-twin; band candidates
    * always have sets on both sides (bands exist ⇒ shingles exist).
    * StreamingIncrementalLshSpec pins stream == the batch query.
    */
  def incrementalLshProbe(newDocs: DataFrame,
      regBands: DataFrame, regSets: DataFrame, regHashes: DataFrame,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      thresholdE4: Long = IncrementalLshThresholdE4): DataFrame =
    probeCore(newDocs, regBands, regSets, regHashes,
      numHashes, numBands, thresholdE4, withCid = false)._1

  /** [[incrementalLshProbe]] plus the probe's own content-collapse
    * artifacts, for the STRICT ingestion face: verdicts additionally
    * carry `cid` (batch canonical = min doc id per content — is_dup is
    * a function of the content, so for admitted content `cid` is also
    * the min ADMITTED doc id), and the second element is the severed
    * distinct-content frame `(ch, cid, sig, sset)` the funnel already
    * computed. The strict admission filter and its in-batch-dup audit
    * column become `doc_id == cid`, and index rows become a join on
    * `cid` — no second hash + window pass over the batch.
    *
    * The DEFAULT ingestion face deliberately does NOT use this variant:
    * measured at the 1000× replica, the extra per-doc cid join made the
    * default capstone ~25% slower end-to-end (its admitted set is
    * batch-sized, so every downstream frame rides the fatter verdict
    * plan), while re-hashing admitted content for index rows
    * ([[graft.extract.IngestionPipeline.indexRowsFor]]) costs ~1 s per
    * 1.25M-doc run — hashing is map-side-parallel and cheap; the join
    * is not free. In strict mode the admitted set collapses to content
    * canonicals, and the variant measured flat at 1000× while saving
    * 2.4 s at sf0.1.
    */
  def incrementalLshProbeArtifacts(newDocs: DataFrame,
      regBands: DataFrame, regSets: DataFrame, regHashes: DataFrame,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      thresholdE4: Long = IncrementalLshThresholdE4): (DataFrame, DataFrame) =
    probeCore(newDocs, regBands, regSets, regHashes,
      numHashes, numBands, thresholdE4, withCid = true)

  private def probeCore(newDocs: DataFrame,
      regBands: DataFrame, regSets: DataFrame, regHashes: DataFrame,
      numHashes: Int, numBands: Int, thresholdE4: Long,
      withCid: Boolean): (DataFrame, DataFrame) = {
    val base = newDocs.select(col("doc_id"), col("text"),
      graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
    // CONTENT COLLAPSE: every probe artifact — signature, shingle set,
    // band values, the exact-hash hit — is a function of the text (ch
    // is the sha-256 of the SAME tokenization the shingle/minhash
    // kernels consume), so the whole candidate funnel runs once per
    // DISTINCT content and the verdict joins back per doc. Under mass
    // duplication (replay storms, crawler loops — exactly the batches
    // an admission probe exists for) this hashes the distinct payloads
    // instead of the batch; on a dup-free batch it costs one hash-keyed
    // aggregation. Eager localCheckpoint: three funnel branches consume
    // this frame, exchange reuse demonstrably does not dedupe aggregate
    // subtrees (the r9 lesson), and a cacheManager persist would be
    // invalidated by the caller's subsequent store writes
    // (recacheByPath) — severed blocks are immune to both.
    // LAZY checkpoint: the first caller action (the strict face's
    // broadcast-decision count below, or the caller's verdict
    // materialization) computes AND severs this frame in one job — the
    // eager form paid a dedicated job here; the three consuming branches
    // still evaluate it once (local-checkpoint blocks are computed under
    // BlockManager's per-partition lock, then read by the other branches)
    val cont = base.groupBy(col("ch"))
      .agg(min(col("doc_id")).as("cid"), first(col("text")).as("text"))
      .select(col("ch"), col("cid"),
        graft.functions.GraftFunctions.minhash_sig(col("text"), numHashes)
          .as("sig"),
        graft.functions.GraftFunctions.shingle_set(col("text")).as("sset"))
      .localCheckpoint(false)
    // the exact leg carries the exact-hit flag INTO the per-ch aggregate
    // (max(ex) below), so the verdict assembly needs ONE left join
    // against perCh instead of two (the former second join probed
    // regHashes — whose ch is unique by construction in both producers,
    // registryIndexFromRows' groupBy and registryIndexOver's distinct —
    // through a redundant distinct(): one shuffle stage + one join stage
    // per batch for a bit the aggregate already knows)
    val exact = cont
      .join(regHashes, Seq("ch"))
      .select(col("ch"), col("rgid"), lit(10000L).as("j"),
        lit(true).as("ex"))
    val cand = bands(
        cont.select(col("cid").as("doc_id"), col("sig"))
          .where(col("sig").isNotNull), numHashes, numBands)
      .join(regBands, Seq("band_id", "band_val"))
      .select(col("doc_id").as("cid"), col("rgid")).distinct()
      .join(cont.select(col("cid"), col("ch"), col("sset"))
        .where(col("sset").isNotNull), Seq("cid"))
      .join(regSets, Seq("rgid"))
      .select(col("ch"), col("rgid"),
        graft.functions.GraftFunctions.jaccard_e4(col("sset"), col("rset"))
          .as("j"), lit(false).as("ex"))
    val perCh = cand.unionByName(exact)
      .groupBy("ch")
      .agg(max("j").as("best"), countDistinct("rgid").as("n_groups"),
        max("ex").as("exact_hit"))
    // cid map for the per-doc join (strict variant only): broadcast
    // when the DISTINCT content count (exact — cont is already
    // materialized) is small enough, as it is under any duplication
    // mass; a genuinely unique batch falls back to the shuffle join
    // (LogicalRDD carries no usable stats for the planner to decide)
    val cidCols: Seq[org.apache.spark.sql.Column] =
      if (withCid) Seq(col("cid")) else Nil
    val withCidJoin = { (v: DataFrame) =>
      if (!withCid) v
      else {
        val cidMap = cont.select(col("ch"), col("cid"))
        // inner: every batch ch is in cont by construction; verdicts
        // carry cid (8 bytes) but NOT ch — the severed frame is
        // checkpointed per batch, and cont's (ch, cid) is 1:1, so index
        // building recovers ch by joining cont on cid
        v.join(
          if (cont.count() <= ContBroadcastMaxRows) broadcast(cidMap)
          else cidMap,
          Seq("ch"))
      }
    }
    val verdicts = withCidJoin(base.select(col("doc_id"), col("ch"))
      .join(perCh, Seq("ch"), "left"))
      .select((Seq(col("doc_id")) ++ cidCols ++ Seq(
        coalesce(col("exact_hit"), lit(false)).as("exact_dup"),
        coalesce(col("best"), lit(0L)).as("best_jaccard_e4"),
        coalesce(col("n_groups"), lit(0L)).as("n_candidate_groups"))): _*)
      .withColumn("is_dup", col("best_jaccard_e4") >= thresholdE4)
    (verdicts, cont)
  }

  /** Broadcast bound for the strict probe's (ch, cid) lookup — ~72
    * bytes/row, so 1M rows ≈ 72 MB, comfortably under executor
    * broadcast limits.
    */
  private val ContBroadcastMaxRows = 1000000L

  /** Stateless projection half of STREAMING exact dedup at ingest:
    * (doc_id, content_hash, ingest_ts) — the same content-hash kernel
    * as [[dedupExact]], plus a deterministic planted event time
    * (epoch + doc_id seconds; the fixture carries no ingest timestamp,
    * and a pure function of the row keeps stream and batch faces
    * bit-identical). Works on a batch frame or a readStream frame.
    */
  def ingestHashFrames(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.content_hash(col("text")).as("content_hash"),
      expr("timestampadd(SECOND, doc_id, timestamp'2026-01-01 00:00:00')")
        .as("ingest_ts"))

  /** STREAMING exact dedup at ingest — the ingest-shape twin of
    * [[dedupExact]]: first arrival of each content hash is admitted,
    * replays and re-crawls inside the watermark horizon are dropped by
    * `dropDuplicatesWithinWatermark` keyed on the hash alone.
    *
    * State stays BOUNDED by the watermark: the store retains one row
    * per content hash seen within the horizon and evicts rows whose
    * hash can no longer collide with in-horizon events (exactly the
    * contract dropDuplicatesWithinWatermark exists for — unbounded
    * `dropDuplicates` state is the classic ingest-dedup leak). Beyond
    * the horizon, the batch registry face ([[dedupIncremental]]'s
    * seen-hashes probe) takes over — production runs both: in-horizon
    * stream dedup, cross-day registry join.
    *
    * StreamingDedupSpec pins stream == batch (min-doc_id-per-hash)
    * on a replayed corpus.
    */
  def streamExactDedup(stream: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    ingestHashFrames(stream)
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** The keep side of exact dedup: LEFT SEMI join of the corpus against
    * the canonical representatives — the operator a pipeline actually
    * runs to emit the deduplicated training set (the groups query above
    * is its diagnostics twin).
    */
  def dedupKeepCanonical(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one shuffle on content_hash; rank-1 row per group IS the semi-join
    // against min-doc_id keepers, without a second pass over the corpus
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.GraftFunctions.content_hash(col("text")).as("content_hash"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("content_hash").orderBy("doc_id")))
      .where(col("rn") === 1)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  val dedupKeepCanonicalSql: String =
    s"""SELECT doc_id, lang, source FROM documents
       |WHERE doc_id IN (
       |  SELECT min(doc_id) FROM documents
       |  GROUP BY sha256(array_to_string($tokensDuck, ' ')))
       |ORDER BY doc_id""".stripMargin

  /** MinHash-LSH near-dup detection, DEFAULT (scale-safe) face: the
    * member-pair census by signature-agreement estimate — for each of
    * the ≤ numHashes+1 possible estimate values, how many member pairs
    * band together at that agreement and how many documents they touch.
    * Counted at CANONICAL level through [[pairCountsByKey]] (a cleared
    * canonical pair carries |A|·|B| member multiplicity; an eligible
    * duplicate group of size s contributes C(s,2) full-agreement
    * pairs), so the output is bounded at numHashes+1 rows and nothing
    * grows with duplication mass. The expanded per-pair dump — the 100×
    * sweep's measured tail — is the explicit audit face
    * [[dedupMinhashLshPairs]] (`q_dedup_minhash_lsh_pairs`).
    */
  def dedupMinhashLsh(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): DataFrame =
    pairCountsByKey(minhashFunnel(spark, d, numHashes, numBands),
      Seq("est_jaccard_e4" -> lit(10000L)))
      .orderBy("est_jaccard_e4")

  /** AUDIT face: the expanded member-level pair dump (doc_a, doc_b,
    * est_jaccard_e4). Output volume is pair-expansion-bound under mass
    * duplication — run it to inspect specific pairs, not as the
    * standing pipeline face.
    */
  def dedupMinhashLshPairs(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): DataFrame =
    expandMemberPairs(minhashFunnel(spark, d, numHashes, numBands),
      // identical content: identical signatures, full agreement
      Seq("est_jaccard_e4" -> lit(10000L)))

  /** The collapsed funnel scored with the signature-agreement estimate:
    * exact-dup membership (doc_id, gid, text), the eligible gids, and
    * the canonical-level candidate pairs with est_jaccard_e4, persisted
    * and forced. Candidacy needs a shingle set on both endpoints, as
    * for the set-verifying faces; the semi joins enforce it without
    * fetching the sets.
    *
    * For composers (e.g. [[Similarity.crossmodalAudit]]) that must
    * attach their own per-GROUP payloads before pairs explode back to
    * members — expanding first and joining payloads after multiplies
    * the payload join by the duplication quadratic.
    * CrossmodalCollapseSpec pins the equivalence through the composed
    * query.
    */
  private[operators] def minhashFunnel(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): Funnel =
    funnel(exactCollapse(spark, d), minhashFrames(numHashes),
        candidatePairs(_, numHashes, numBands)) { case (cand, Seq(sigs, sets)) =>
      val withSets = cand
        .join(sets.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(sets.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      joinSides(withSets, sigs, "sig", "sig")
        .select(col("doc_a").as("ga"), col("doc_b").as("gb"),
          expr(sigAgreementExpr(numHashes)).as("est_jaccard_e4"))
    }

  val dedupMinhashLshPairsSql: String = {
    val n = DefaultNumHashes
    s"""WITH ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |$candidatePairsDuckCte
       |SELECT doc_a, doc_b,
       |  ${sigAgreementDuck(n)} AS est_jaccard_e4
       |FROM pairs JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Oracle for the counts face: the NAIVE expanded pair list,
    * aggregated — the algebraic identity the collapsed counting is
    * checked against.
    */
  val dedupMinhashLshSql: String =
    s"""WITH pr AS (SELECT est_jaccard_e4, doc_a, doc_b
       |            FROM ($dedupMinhashLshPairsSql)),
       |p AS (SELECT est_jaccard_e4, count(*) AS n_pairs FROM pr GROUP BY 1),
       |dd AS (SELECT est_jaccard_e4, count(DISTINCT doc_id) AS n_docs FROM (
       |         SELECT est_jaccard_e4, doc_a AS doc_id FROM pr
       |         UNION ALL SELECT est_jaccard_e4, doc_b FROM pr) GROUP BY 1)
       |SELECT p.est_jaccard_e4,
       |  CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (est_jaccard_e4)
       |ORDER BY est_jaccard_e4""".stripMargin

  /** SimHash (16-bit here; 64-bit in production is the same shape):
    * per-token 16-bit hashes vote per bit position; the signature is the
    * sign vector packed into an integer. Near-dups share the signature.
    */
  def dedupSimhash(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash16(col("text")).as("simhash"))
      .where(col("simhash").isNotNull)
    df.withColumn("n_same_simhash",
        count(lit(1)).over(Window.partitionBy("simhash")))
      .orderBy("doc_id")
  }

  val dedupSimhashSql: String =
    s"""WITH t AS (SELECT doc_id, $tokensDuck AS toks FROM documents),
       |v AS (SELECT doc_id,
       |        list_transform(toks, tk -> ('0x' || substr(sha256(tk), 1, 4))::BIGINT) AS vs
       |      FROM t WHERE len(toks) > 0),
       |s AS (SELECT doc_id,
       |        CAST(list_sum(list_transform(range(0, 16), b ->
       |          CASE WHEN list_sum(list_transform(vs, x ->
       |                 CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
       |          THEN 1 << b ELSE 0 END)) AS BIGINT) AS simhash
       |      FROM v)
       |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same_simhash
       |FROM s ORDER BY doc_id""".stripMargin

  /** The Manku (WWW'07 §3) piece layout: 6 pieces over the 64-bit
    * fingerprint — 4×11 + 2×10 bits — keyed by piece PAIRS into
    * C(6,2) = 15 tables of 21–22-bit keys. Any pair within Hamming 3
    * damages ≤ 3 pieces, leaving ≥ 3 intact, so ≥ C(3,2) = 3 tables
    * still match: perfect recall for d ≤ 3 (like the 4×16 bands) at
    * ~2^5–2^6 times the per-table selectivity — the form that stays
    * selective past the ~10^6-doc point where 16-bit buckets go
    * quadratic.
    */
  private val MankuPieceBounds: Seq[(Int, Int)] =
    Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))

  /** Arithmetic for fingerprint bits [start, start+width) in terms of
    * the 4×16-bit band array (element accessor `elem(j)` = band j,
    * right-shift spelling `shr` — Spark has no `>>` operator, DuckDB
    * does) — only positive ≤22-bit intermediates, so no sign-bit care
    * in either engine (the reason the kernel emits 16-bit bands in the
    * first place).
    */
  private def pieceExpr(start: Int, width: Int, elem: Int => String,
      shr: (String, Int) => String): String = {
    val end = start + width
    val parts = (0 until 4).flatMap { j =>
      val lo = math.max(start, 16 * j)
      val hi = math.min(end, 16 * j + 16)
      if (lo >= hi) None
      else {
        val mask = (1L << (hi - lo)) - 1
        Some(s"((${shr(elem(j), lo - 16 * j)} & $mask) * ${1L << (lo - start)})")
      }
    }
    parts.mkString("(", " + ", ")")
  }

  /** The 15 pair-key expressions: key(i,j) = piece_i · 4096 + piece_j. */
  private def mankuKeyExprs(elem: Int => String,
      shr: (String, Int) => String): Seq[String] = {
    val ps = MankuPieceBounds.map { case (s, w) => pieceExpr(s, w, elem, shr) }
    for { i <- 0 until 6; j <- i + 1 until 6 }
      yield s"(${ps(i)} * 4096 + ${ps(j)})"
  }

  private val sparkShr: (String, Int) => String =
    (e, n) => s"shiftright($e, $n)"
  private val duckShr: (String, Int) => String =
    (e, n) => s"($e >> $n)"

  /** (doc_id, sbands) 64-bit fingerprints, as 4×16-bit band values,
    * sbands null where a doc has no tokens.
    */
  private def simhash64Sigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64_bands(col("text")).as("sbands"))

  /** (doc_id, band_id, band_val) rows of a fingerprint frame under a
    * banding mode — the S-curve knob production turns as the corpus
    * grows: narrow 4×16 guarantees detection at Hamming ≤ 3; wide 2×32
    * only ≤ 1 but cuts bucket collisions quadratically; manku
    * 15×~21-bit pair-keys keep the ≤ 3 guarantee AND the selectivity.
    */
  private def simhash64Bands(sigs: DataFrame, bandMode: String): DataFrame = {
    val keys = bandMode match {
      case "wide" =>
        expr("array(sbands[0] * 65536L + sbands[1], sbands[2] * 65536L + sbands[3])")
      case "manku" =>
        expr(mankuKeyExprs(j => s"sbands[$j]", sparkShr).mkString("array(", ", ", ")"))
      case "narrow" => col("sbands")
      case other => throw new IllegalArgumentException(s"band mode: $other")
    }
    sigs.select(col("doc_id"), posexplode(keys).as(Seq("band_id", "band_val")))
  }

  /** The collapsed simhash64 funnel: exact-dup membership, eligible
    * gids (canonicals carrying a fingerprint), and the canonical-level
    * banded candidate pairs with exact Hamming distance and the
    * detection flag — the shared front half of every simhash64 face.
    * Identical token content gives an identical 64-bit fingerprint, so
    * member pairs band exactly when their canonicals do, with equal
    * Hamming distance (0 in-group).
    */
  private def simhash64Funnel(spark: SparkSession, d: String,
      bandMode: String, maxHamming: Int, flagName: String): Funnel = {
    val band = { (sigs: DataFrame) =>
      bandCollisions(simhash64Bands(sigs, bandMode))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }
    funnel(exactCollapse(spark, d), reps => Seq(simhash64Sigs(reps)), band) {
      (cand, frames) =>
        val hamming = (0 until 4)
          .map(j => bit_count(col("sbands_a").getItem(j)
            .bitwiseXOR(col("sbands_b").getItem(j))))
          .reduce(_ + _).cast(LongType)
        joinSides(cand, frames.head, "sbands", "sbands")
          .select(col("doc_a").as("ga"), col("doc_b").as("gb"), hamming.as("hamming"))
          .withColumn(flagName, col("hamming") <= maxHamming)
    }
  }

  // identical content: identical fingerprints, Hamming 0
  private def simhash64Intra(flagName: String): Seq[(String, Column)] =
    Seq("hamming" -> lit(0L), flagName -> lit(true))

  /** 64-bit SimHash near-dup pairs with Hamming banding (Manku et al.,
    * WWW'07 — the production form; the 16-bit query above is its
    * exact-signature toy sibling). Candidates = pairs agreeing on ANY of
    * the 4×16-bit bands (by pigeonhole, every pair within Hamming
    * distance 3 shares at least one band — banding has perfect recall
    * for d ≤ 3); verify = exact Hamming distance over the full
    * signature, bit_count(xor) per band summed.
    *
    * Scale shape: signatures are one map-side projection; only 4 short
    * (doc, band_id, band_val) rows per doc shuffle into the band
    * equi-self-join (same funnel as MinHash-LSH); the Hamming verify
    * runs on candidates only. Bit arithmetic is engine-exact, and band
    * values are 16-bit so no sign-bit handling is ever needed.
    *
    * Scale knob (measured in the 10× replica experiment, BUILDER_NOTES):
    * candidate volume is Σ_buckets C(pop, 2) with pop ≈ n/2^16 per band,
    * so 16-bit bands stop being selective past ~10^6 docs. The
    * production form (Manku §3) splits the fingerprint into MORE pieces
    * and keys tables by piece COMBINATIONS — e.g. 6 pieces, 15
    * pair-keyed tables of ~21 bits, still perfect recall for d ≤ 3 by
    * pigeonhole — same two plan shapes (band explode + equi-join), just
    * a different band-key generator; and near-dup banding runs AFTER
    * exact dedup, which removes the identical-copy mass that makes
    * buckets quadratic.
    *
    * This DEFAULT (scale-safe) face is the member-pair census by exact
    * Hamming distance — for each distance the banding surfaces, how
    * many member pairs and how many distinct documents. Bounded at 65
    * rows (Hamming 0..64) regardless of duplication mass; the r9 100×
    * replica spent 1271 s materializing this query's expanded pair
    * dump, which is now the explicit audit face [[dedupSimhash64Pairs]]
    * (`q_dedup_simhash64_pairs`).
    */
  def dedupSimhash64(spark: SparkSession, d: String, maxHamming: Int = 3): DataFrame =
    pairCountsByKey(simhash64Funnel(spark, d, "narrow", maxHamming, "within_3"),
      simhash64Intra("within_3"))
      .orderBy("hamming")

  /** AUDIT face: the expanded member-level pair dump
    * (doc_a, doc_b, hamming, within_3) of the 4×16-band funnel. */
  def dedupSimhash64Pairs(spark: SparkSession, d: String,
      maxHamming: Int = 3): DataFrame =
    expandMemberPairs(simhash64Funnel(spark, d, "narrow", maxHamming, "within_3"),
      simhash64Intra("within_3"))

  /** The PRODUCTION banding (Manku §3, [[MankuPieceBounds]]): same
    * detection guarantee as the narrow face (Hamming ≤ 3), vastly more
    * selective buckets — the form a >10^6-doc corpus runs. Counts
    * census like [[dedupSimhash64]]; identical (hamming, within_3)
    * verdicts, since banding only changes CANDIDACY and every ≤3 pair
    * is caught by both (pinned in SimhashBandingSpec).
    */
  def dedupSimhash64Manku(spark: SparkSession, d: String,
      maxHamming: Int = 3): DataFrame =
    pairCountsByKey(simhash64Funnel(spark, d, "manku", maxHamming, "within_3"),
      simhash64Intra("within_3"))
      .orderBy("hamming")

  /** Corpus-size-driven banding default — the "production widens its
    * bands with scale" note made executable. 16-bit buckets hold
    * ~n/2^16 docs each, so expected per-band candidate work
    * Σ C(pop, 2) passes ~n²/2^17; past ~10^6 canonical docs the manku
    * pair-keys (~2^21 buckets) are the right default, below it the
    * plain 4×16 bands are cheaper (15 vs 4 table rows per doc).
    */
  def simhash64BandModeFor(nCanonicalDocs: Long): String =
    if (nCanonicalDocs < 1000000L) "narrow" else "manku"

  /** The WIDE-band face: 2×32-bit bands over the same fingerprints —
    * the scale mitigation the 100× replica study names for
    * [[dedupSimhash64]]'s output-volume tail (its 16-bit buckets emit
    * ~10× the candidate pairs of MinHash banding at 100× mass
    * duplication). Detection guarantee drops from Hamming ≤ 3 to ≤ 1;
    * the candidate set shrinks quadratically with bucket collision
    * probability. Emitted as its own query so the sweep measures the
    * precision/recall/cost trade empirically instead of by argument.
    */
  def dedupSimhash64Wide(spark: SparkSession, d: String): DataFrame =
    expandMemberPairs(simhash64Funnel(spark, d, "wide", maxHamming = 1, "within_1"),
      simhash64Intra("within_1"))

  /** The wide face's CENSUS twin — standing rule 1 applied to the last
    * simhash face that shipped as a raw dump: [[dedupSimhash64Wide]]'s
    * member-level pair expansion is output-quadratic in duplication by
    * contract (measured at the 1000× replica: 897 s on a quiet box,
    * ~52× its 100× cost, ALL of it pair-dump materialization — narrow
    * and manku, which census, sweep clean on the same fixture), so the
    * dump joins `Sweep.ExpansionBound` and THIS face is what replica
    * scale measures: identical funnel, counts instead of rows.
    */
  def dedupSimhash64WideCensus(spark: SparkSession, d: String): DataFrame =
    pairCountsByKey(simhash64Funnel(spark, d, "wide", maxHamming = 1, "within_1"),
      simhash64Intra("within_1"))
      .orderBy("hamming")

  /** Shared DuckDB fingerprint prelude (t → v → bits → sig) of every
    * simhash64 oracle; the faces differ only in their `bands` CTE.
    * `p` prefixes every CTE name so the chain can coexist with the
    * MinHash CTEs (which also define a `t`) in one statement.
    */
  private def simhash64SigDuckCtes(src: String = "documents",
      p: String = ""): String =
    s"""${p}t AS (SELECT doc_id, $tokensDuck AS toks FROM $src),
       |${p}v AS (SELECT doc_id,
       |        list_transform(toks, tk -> ('0x' || substr(sha256(tk), 1, 8))::BIGINT) AS his,
       |        list_transform(toks, tk -> ('0x' || substr(sha256(tk), 9, 8))::BIGINT) AS los
       |      FROM ${p}t WHERE len(toks) > 0),
       |${p}bits AS (SELECT doc_id,
       |        list_transform(range(0, 64), b ->
       |          CASE WHEN list_sum(list_transform(range(1, len(his) + 1), i ->
       |                 CASE WHEN (CASE WHEN b < 32 THEN los[i] >> b
       |                            ELSE his[i] >> (b - 32) END) & 1 = 1
       |                 THEN 1 ELSE -1 END)) >= 0
       |          THEN 1 ELSE 0 END) AS sb
       |      FROM ${p}v),
       |${p}sig AS (SELECT doc_id,
       |        list_transform(range(0, 4), j ->
       |          CAST(list_sum(list_transform(range(0, 16), k ->
       |            sb[16*j + k + 1] * (1 << k))) AS BIGINT)) AS sbands
       |      FROM ${p}bits)""".stripMargin

  private def simhash64PairsDuck(bandsCte: String, maxHamming: Int,
      flag: String): String =
    s"""WITH ${simhash64SigDuckCtes()},
       |$bandsCte,
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bands a JOIN bands b
       |            ON a.band_id = b.band_id AND a.band_val = b.band_val
       |           AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(list_sum(list_transform(range(1, 5), j ->
       |    bit_count(xor(sa.sbands[j], sb2.sbands[j])))) AS BIGINT) AS hamming,
       |  CAST(list_sum(list_transform(range(1, 5), j ->
       |    bit_count(xor(sa.sbands[j], sb2.sbands[j])))) AS BIGINT) <= $maxHamming AS $flag
       |FROM pairs JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb2 ON sb2.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Census aggregate over a pairs oracle — the same algebraic identity
    * as [[dedupMinhashLshSql]].
    */
  private def simhash64CensusDuck(pairsSql: String, flag: String): String =
    s"""WITH pr AS (SELECT hamming, $flag, doc_a, doc_b
       |            FROM ($pairsSql)),
       |p AS (SELECT hamming, $flag, count(*) AS n_pairs FROM pr GROUP BY 1, 2),
       |dd AS (SELECT hamming, $flag, count(DISTINCT doc_id) AS n_docs FROM (
       |         SELECT hamming, $flag, doc_a AS doc_id FROM pr
       |         UNION ALL SELECT hamming, $flag, doc_b FROM pr) GROUP BY 1, 2)
       |SELECT p.hamming, p.$flag,
       |  CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (hamming, $flag)
       |ORDER BY p.hamming""".stripMargin

  val dedupSimhash64PairsSql: String = simhash64PairsDuck(
    """bands AS (SELECT doc_id, j AS band_id, sbands[j + 1] AS band_val
      |          FROM sig, generate_series(0, 3) g(j))""".stripMargin,
    maxHamming = 3, flag = "within_3")

  /** Oracle for the counts face: the NAIVE expanded pair list,
    * aggregated.
    */
  val dedupSimhash64Sql: String =
    simhash64CensusDuck(dedupSimhash64PairsSql, "within_3")

  val dedupSimhash64WideSql: String = simhash64PairsDuck(
    """bands AS (SELECT doc_id, j AS band_id,
      |            sbands[2*j + 1] * 65536 + sbands[2*j + 2] AS band_val
      |          FROM sig, generate_series(0, 1) g(j))""".stripMargin,
    maxHamming = 1, flag = "within_1")

  val dedupSimhash64WideCensusSql: String =
    simhash64CensusDuck(dedupSimhash64WideSql, "within_1")

  /** Manku-banded census oracle: the 15 pair-key expressions are the
    * SAME strings the Spark face evaluates ([[mankuKeyExprs]]), indexed
    * out of a list literal per table id.
    */
  val dedupSimhash64MankuSql: String = {
    val keys = mankuKeyExprs(j => s"sbands[${j + 1}]", duckShr).mkString(", ")
    simhash64CensusDuck(
      simhash64PairsDuck(
        s"""bands AS (SELECT doc_id, b AS band_id,
           |            ([$keys])[b + 1] AS band_val
           |          FROM sig, generate_series(0, 14) g(b))""".stripMargin,
        maxHamming = 3, flag = "within_3"),
      "within_3")
  }

  /** Exact-duplicate COLLAPSE prelude for the cluster capstones — the
    * round-7 scale study's production mitigation, composed in. Returns a
    * persisted (doc_id, gid, text) frame where `gid` is the doc's
    * exact-duplicate group canonical (min doc_id over the content hash,
    * the [[dedupExact]] key). The near-dup funnel then runs over
    * CANONICAL docs only (`doc_id = gid` — one per distinct content) and
    * labels are expanded back through the membership columns.
    *
    * Output equivalence (why the oracles don't change): identical text
    * gives identical shingle sets, signatures, and band values, so an
    * exact-dup group is a clique in the verified near-dup graph (Jaccard
    * of identical sets is 10000 ≥ any threshold ≤ 10000) that connects
    * to exactly the partners its canonical connects to. Components
    * therefore correspond 1:1 and each component's min doc_id is the min
    * over its canonicals' gids — labels after expansion are identical.
    *
    * Scale: one window shuffle on the content hash (the corpus moves
    * once) buys pair growth LINEAR in replica count: the round-7 replica
    * corpus (99% exact copies) previously grew verify pairs C(R,2) and
    * exhausted disk at 100×; collapsed, the funnel sees only distinct
    * content and the expansion is one (doc_id, gid) equi-join.
    */
  private[operators] def exactCollapse(spark: SparkSession, d: String): DataFrame = {
    // window rather than groupBy+rejoin: the join form evaluates the
    // content-hash scan in BOTH plan branches (measured 1.4× slower at
    // sf0.1); the window hashes once and pays one (doc_id, text, ch)
    // exchange — the single extra corpus shuffle that buys linear pair
    // growth at any replica multiplicity
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, d)
      .select(col("doc_id"), col("text"),
        graft.functions.GraftFunctions.content_hash(col("text")).as("ch"))
      .withColumn("gid", min("doc_id").over(Window.partitionBy("ch")))
      .select("doc_id", "gid", "text")
      .persist()
  }

  /** Member-pair CENSUS over a collapsed funnel, counted WITHOUT
    * expansion: for each distinct value of the `intraKeys` columns
    * (metric columns of the canonical pair frame `gd` = (ga, gb,
    * metrics…)), the number of
    * member pairs (`n_pairs`) and distinct member docs (`n_docs`) the
    * expanded pair list would contain. Algebraically identical to
    * expand-then-aggregate (the oracle's form), but every frame stays
    * canonical-sized: a cleared canonical pair (A, B) carries
    * |A|·|B| member-pair multiplicity and touches every member of both
    * groups; an eligible exact-dup group of size s contributes C(s,2)
    * identical-content pairs at the `intraKeys` literal values and
    * touches all s members. The multiplicity arithmetic is the
    * generalization of [[dedupThresholdSweep]]'s inline sweep counting.
    */
  private[operators] def pairCountsByKey(f: Funnel,
      intraKeys: Seq[(String, Column)]): DataFrame = {
    val (membership, elig, gd) = f
    val keyCols = intraKeys.map(_._1)
    val sz = membership.groupBy(col("gid")).agg(count(lit(1)).as("sz"))
    val keyed = gd
      .join(sz.select(col("gid").as("ga"), col("sz").as("sz_a")), "ga")
      .join(sz.select(col("gid").as("gb"), col("sz").as("sz_b")), "gb")
    val intraGroups = elig.join(sz, Seq("gid")).where(col("sz") >= 2)
    // ONE pass over the pair mass for BOTH census columns (was: separate
    // n_pairs and n_docs aggregation trees re-reading the pair frame,
    // joined back on the key — 2 extra shuffles plus a key join). Each
    // cross pair explodes to its two touched groups, carrying the full
    // |A|·|B| member-pair multiplicity on the ga row (0 on gb, so pairs
    // are counted once) and the touched group's size on both; eligible
    // dup groups contribute (C(s,2), s) at the intraKeys literals. The
    // (key, gid) aggregation then dedupes group touches (a group may sit
    // on many pairs with the same key) while summing pair multiplicity,
    // and one more key-level aggregation yields n_pairs = Σm and
    // n_docs = Σ distinct touched groups' sizes — algebraically the same
    // census, one shuffle chain instead of three.
    val crossPer = keyed.select(
      keyCols.map(col) :+ explode(expr(
        "array(struct(ga as gid, sz_a * sz_b as m, sz_a as gsz), " +
          "struct(gb as gid, 0L as m, sz_b as gsz))")).as("t"): _*)
      .select(keyCols.map(col) ++ Seq(col("t.gid").as("gid"),
        col("t.m").as("m"), col("t.gsz").as("gsz")): _*)
    val intraPer = intraGroups.select(
      intraKeys.map { case (n, c) => c.as(n) } ++ Seq(col("gid"),
        expr("sz * (sz - 1) div 2").as("m"), col("sz").as("gsz")): _*)
    crossPer.unionByName(intraPer)
      .groupBy((keyCols :+ "gid").map(col): _*)
      .agg(sum("m").as("m"), max("gsz").as("gsz"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum("m").as("n_pairs"), sum("gsz").as("n_docs"))
  }

  /** Member-level EXPANSION of a collapsed funnel's canonical pair
    * frame, for the audit faces: cross-group canonical pairs (ga, gb,
    * metrics…) explode through two membership equi-joins (member pairs
    * inherit their canonicals' metrics, reoriented doc_a < doc_b);
    * eligible exact-dup groups self-join into intra-group pairs carrying
    * the `intraMetrics` identical-content literals. Output is
    * row-identical to the uncollapsed funnel — identical content gives
    * identical signatures and band values, so member pairs are
    * candidates exactly when their canonicals are, with equal metrics —
    * but pair-level work no longer grows quadratically with duplication
    * (measured on the 10× exact replica: these queries ran 8–25× slower
    * pre-collapse; the funnel is 1×-sized after it).
    *
    * DIRECTIONAL metric columns (e.g. containment) name their partner
    * in `swapOnFlip`: when the member pair reorients relative to its
    * canonical pair (da > db), each takes its partner's value.
    */
  private[operators] def expandMemberPairs(f: Funnel,
      intraMetrics: Seq[(String, Column)],
      swapOnFlip: Map[String, String] = Map.empty): DataFrame = {
    val (membership, elig, gd) = f
    val mem = membership.select("doc_id", "gid")
    val cross = gd
      .join(mem.select(col("gid").as("ga"), col("doc_id").as("da")), "ga")
      .join(mem.select(col("gid").as("gb"), col("doc_id").as("db")), "gb")
      .select(least(col("da"), col("db")).as("doc_a") +:
        greatest(col("da"), col("db")).as("doc_b") +:
        intraMetrics.map { case (n, _) =>
          swapOnFlip.get(n) match {
            case Some(partner) =>
              when(col("da") < col("db"), col(n)).otherwise(col(partner)).as(n)
            case None => col(n)
          }
        }: _*)
    val im = mem.join(elig, Seq("gid"), "left_semi")
    val intra = im.as("x")
      .join(im.as("y"),
        col("x.gid") === col("y.gid") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a") +: col("y.doc_id").as("doc_b") +:
        intraMetrics.map { case (n, c) => c.as(n) }: _*)
    cross.unionByName(intra).orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard, verified only on the LSH candidate pairs —
    * the candidate→verify funnel that makes near-dedup tractable at
    * scale (all-pairs Jaccard is quadratic; LSH candidates are ~linear).
    * Expanded from [[ngramJaccardFunnel]]: identical-content pairs have
    * Jaccard exactly 10000 without touching their sets.
    */
  def dedupNgramJaccard(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): DataFrame =
    expandMemberPairs(ngramJaccardFunnel(spark, d, numHashes, numBands),
      Seq("jaccard_e4" -> lit(10000L)))

  /** The n-gram Jaccard funnel UNEXPANDED — (membership, elig,
    * canonical pairs with jaccard_e4) — for the census consumers that
    * aggregate member-level answers algebraically instead of exploding
    * pairs ([[Curation.splitLeakage]] crossed a 1000×-replica disk by
    * routing through the expanded dump: its ≤3-row output spilled the
    * expansion to device-full).
    */
  private[operators] def ngramJaccardFunnel(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): Funnel =
    funnel(exactCollapse(spark, d), minhashFrames(numHashes),
        candidatePairs(_, numHashes, numBands)) { case (cand, Seq(_, sets)) =>
      joinSides(cand, sets, "sset", "set")
        .select(col("doc_a").as("ga"), col("doc_b").as("gb"),
          graft.functions.GraftFunctions.jaccard_e4(col("set_a"), col("set_b"))
            .as("jaccard_e4"))
    }

  val dedupNgramJaccardSql: String =
    s"""WITH ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |$candidatePairsDuckCte,
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset
       |         FROM sh WHERE len(shingles) > 0)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(sa.sset, sb.sset)) * 10000 AS BIGINT)
       |    // len(list_distinct(list_concat(sa.sset, sb.sset))) AS jaccard_e4
       |FROM pairs JOIN sets sa ON sa.doc_id = doc_a JOIN sets sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Threshold grid for [[dedupThresholdSweep]] (e4 Jaccard), shared
    * with the oracle.
    */
  val SweepThresholdsE4: Seq[Long] = Seq(5000L, 6000L, 7000L, 8000L, 9000L, 10000L)

  /** THRESHOLD-TUNING CURVE for near-dup dedup: for each candidate
    * Jaccard threshold, how many verified pairs survive and how many
    * documents get flagged — the aggressiveness curve a pipeline reads
    * to CHOOSE its dedup threshold instead of guessing (the knee of
    * n_docs vs threshold is where near-dups end and topical similarity
    * begins). Computed in ONE pass over the already-verified candidate
    * pairs: each pair fans out to the thresholds it clears (≤ |grid|
    * rows), so the curve costs |grid| × pairs short rows — strictly
    * cheaper than re-running the funnel per threshold. Thresholds that
    * flag nothing still appear (zero row) via the grid LEFT join.
    *
    * Counts-only, so it never expands: the verified canonical pairs
    * carry their member MULTIPLICITIES instead of being exploded to
    * member pairs — a cleared canonical pair (A, B) contributes
    * |A|·|B| pairs and flags every member of both groups; an eligible
    * duplicate group of size s contributes C(s,2) identical-content
    * pairs (Jaccard 10000, clears every grid threshold) and flags all
    * s members. Counting this way is algebraically identical to
    * counting over the expanded pair list (what the oracle still does,
    * and the previous implementation did) but the frames stay
    * canonical-sized: the 100× mass-duplication replica ran the
    * expanded form in 134.8 s — all of it materializing 6 × 147M
    * cleared-pair rows that only ever got counted.
    */
  def dedupThresholdSweep(spark: SparkSession, d: String): DataFrame = {
    val (membership, elig, pj) = ngramJaccardFunnel(spark, d)
    val sz = membership.groupBy(col("gid")).agg(count(lit(1)).as("sz"))
    val thArr = s"array(${SweepThresholdsE4.mkString("L,")}L)"
    // cross-group contributions per grid threshold (canonical-sized ×6)
    val crossTh = pj
      .join(sz.select(col("gid").as("ga"), col("sz").as("sz_a")), "ga")
      .join(sz.select(col("gid").as("gb"), col("sz").as("sz_b")), "gb")
      .select(col("ga"), col("gb"), col("jaccard_e4"),
        (col("sz_a") * col("sz_b")).as("n_member_pairs"),
        explode(expr(thArr)).as("threshold_e4"))
      .where(col("jaccard_e4") >= col("threshold_e4"))
    val crossPairs = crossTh.groupBy("threshold_e4")
      .agg(sum("n_member_pairs").as("n_cross"))
    // identical-content groups clear EVERY threshold in the grid
    val intraStats = elig.join(sz, Seq("gid"))
      .where(col("sz") >= 2)
      .agg(coalesce(sum(expr("sz * (sz - 1) div 2")), lit(0L)).as("n_intra"))
    // docs flagged at t = every member of a group touched by a cleared
    // cross pair at t, or of any eligible duplicate group
    val flaggedCross = crossTh
      .select(col("threshold_e4"), explode(expr("array(ga, gb)")).as("gid"))
    val flaggedIntra = elig.join(sz, Seq("gid")).where(col("sz") >= 2)
      .select(col("gid"), explode(expr(thArr)).as("threshold_e4"))
      .select("threshold_e4", "gid")
    val nDocs = flaggedCross.unionByName(flaggedIntra).distinct()
      .join(sz, Seq("gid"))
      .groupBy("threshold_e4")
      .agg(sum("sz").as("n_docs_flagged"))
    import spark.implicits._
    SweepThresholdsE4.toDF("threshold_e4")
      .join(crossPairs, Seq("threshold_e4"), "left")
      .join(nDocs, Seq("threshold_e4"), "left")
      .crossJoin(broadcast(intraStats))
      .select(col("threshold_e4"),
        (coalesce(col("n_cross"), lit(0L)) + col("n_intra")).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"))
      .orderBy("threshold_e4")
  }

  val dedupThresholdSweepSql: String =
    s"""WITH j AS (SELECT doc_a, doc_b, jaccard_e4 FROM (${dedupNgramJaccardSql})),
       |grid AS (SELECT unnest([${SweepThresholdsE4.mkString(", ")}]) AS threshold_e4),
       |cleared AS (SELECT g.threshold_e4, j.doc_a, j.doc_b
       |            FROM j JOIN grid g ON j.jaccard_e4 >= g.threshold_e4),
       |p AS (SELECT threshold_e4, count(*) AS n_pairs FROM cleared GROUP BY 1),
       |dd AS (SELECT threshold_e4, count(DISTINCT doc_id) AS n_docs_flagged FROM (
       |         SELECT threshold_e4, doc_a AS doc_id FROM cleared
       |         UNION ALL SELECT threshold_e4, doc_b FROM cleared)
       |       GROUP BY threshold_e4)
       |SELECT g.threshold_e4,
       |  CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(coalesce(dd.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
       |FROM grid g LEFT JOIN p USING (threshold_e4) LEFT JOIN dd USING (threshold_e4)
       |ORDER BY g.threshold_e4""".stripMargin

  /** The estimator-audit funnel at canonical level: (membership, elig,
    * (ga, gb, est_e4, exact_e4, err_e4)) — shared by the census default
    * and the pairs audit face.
    */
  private def estAuditFunnel(spark: SparkSession, d: String,
      numHashes: Int, numBands: Int): Funnel =
    funnel(exactCollapse(spark, d), minhashFrames(numHashes),
        candidatePairs(_, numHashes, numBands)) { case (cand, Seq(sigs, sets)) =>
      joinSides(joinSides(cand, sets, "sset", "set"), sigs, "sig", "sig")
        .select(col("doc_a").as("ga"), col("doc_b").as("gb"),
          expr(sigAgreementExpr(numHashes)).as("est_e4"),
          graft.functions.GraftFunctions.jaccard_e4(col("set_a"), col("set_b"))
            .as("exact_e4"))
        .withColumn("err_e4", col("est_e4") - col("exact_e4"))
    }

  // identical content: all signature components agree, exact = est
  private val estAuditIntra: Seq[(String, Column)] =
    Seq("est_e4" -> lit(10000L), "exact_e4" -> lit(10000L), "err_e4" -> lit(0L))

  /** MinHash estimator-quality AUDIT: the signature-agreement estimate
    * (matching components / numHashes) beside the exact Jaccard, with
    * the signed error — the measurement that decides whether a
    * signature family can RANK candidates without materializing
    * shingle sets.
    *
    * What it shows for THIS family (and the reason this audit exists):
    * the arithmetic family `h1 + j·h2` is cheap (one sha256 per
    * shingle) and perfectly serviceable for LSH banding, but its per-j
    * minimizers are CORRELATED — a shared shingle with a small (h1, h2)
    * tends to win the min for MANY j at once — so the agreement
    * fraction is a BIASED per-pair estimator (this corpus exhibits
    * pairs with agreement 0.8 at true Jaccard 0.01; pinned in
    * NoveltyTuningSpec). Production per-pair estimation therefore uses
    * k independent hash functions or one-permutation MinHash with
    * densification, at k× (or 1×) the hashing cost; the audit is how a
    * pipeline catches that distinction empirically instead of
    * discovering it as silent dedup over-deletion.
    *
    * Scale: the signature lookups join on the already-shuffled
    * candidate keys; the estimate is a 16-element zip — no corpus pass
    * beyond the exact verify it is scored against.
    *
    * This DEFAULT (scale-safe) face is the estimator-quality census —
    * member pairs and docs per (est_e4, exact_e4, err_e4) key. The key
    * space is bounded by DISTINCT CANONICAL pairs (both metrics are
    * functions of content), so the output never grows with duplication
    * mass; the per-pair dump is the audit face [[minhashEstAuditPairs]]
    * (`q_minhash_est_audit_pairs` — the r11 100× sweep's 68.5 s was all
    * expansion).
    */
  def minhashEstAudit(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): DataFrame =
    pairCountsByKey(estAuditFunnel(spark, d, numHashes, numBands), estAuditIntra)
      .orderBy("est_e4", "exact_e4")

  /** AUDIT face: the expanded per-pair estimator dump
    * (doc_a, doc_b, est_e4, exact_e4, err_e4). */
  def minhashEstAuditPairs(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): DataFrame =
    expandMemberPairs(estAuditFunnel(spark, d, numHashes, numBands), estAuditIntra)

  val minhashEstAuditPairsSql: String =
    s"""WITH ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |$candidatePairsDuckCte,
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset
       |         FROM sh WHERE len(shingles) > 0),
       |sc AS (SELECT doc_a, doc_b,
       |         ${sigAgreementDuck(DefaultNumHashes)} AS est_e4,
       |         CAST(len(list_intersect(sa.sset, sb.sset)) * 10000 AS BIGINT)
       |           // len(list_distinct(list_concat(sa.sset, sb.sset))) AS exact_e4
       |       FROM pairs JOIN g ga ON ga.doc_id = doc_a
       |                  JOIN g gb ON gb.doc_id = doc_b
       |                  JOIN sets sa ON sa.doc_id = doc_a
       |                  JOIN sets sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, est_e4, exact_e4,
       |  est_e4 - exact_e4 AS err_e4
       |FROM sc ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for the census face: the NAIVE expanded pair list,
    * aggregated per metric key.
    */
  val minhashEstAuditSql: String =
    s"""WITH pr AS (SELECT est_e4, exact_e4, err_e4, doc_a, doc_b
       |            FROM ($minhashEstAuditPairsSql)),
       |p AS (SELECT est_e4, exact_e4, err_e4, count(*) AS n_pairs
       |      FROM pr GROUP BY 1, 2, 3),
       |dd AS (SELECT est_e4, exact_e4, err_e4, count(DISTINCT doc_id) AS n_docs
       |       FROM (SELECT est_e4, exact_e4, err_e4, doc_a AS doc_id FROM pr
       |             UNION ALL SELECT est_e4, exact_e4, err_e4, doc_b FROM pr)
       |       GROUP BY 1, 2, 3)
       |SELECT p.est_e4, p.exact_e4, p.err_e4,
       |  CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (est_e4, exact_e4, err_e4)
       |ORDER BY p.est_e4, p.exact_e4""".stripMargin

  /** Asymmetric CONTAINMENT on the LSH candidate pairs: c(A→B) =
    * |A∩B| / |A| (and the reverse direction) over distinct shingle sets.
    * Jaccard dilutes a short document fully embedded in a long one
    * (quote blocks, boilerplate wrappers — the common training-data
    * case) down toward |A|/|B|; containment stays at 1.0, which is why
    * production near-dedup checks both. Same candidate→verify funnel as
    * the Jaccard query; the verify kernel is ONE single-pass
    * [[graft.functions.OverlapStats]] per pair (inter/|A|/|B| at once),
    * then pure arithmetic.
    */
  def dedupContainment(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): DataFrame =
    expandMemberPairs(containmentFunnel(spark, d, numHashes, numBands),
      containmentIntra,
      swapOnFlip = Map("cont_a_in_b_e4" -> "cont_b_in_a_e4",
        "cont_b_in_a_e4" -> "cont_a_in_b_e4"))

  /** The containment funnel UNEXPANDED: (membership, elig, canonical
    * pairs with both containment directions and the Jaccard).
    */
  private def containmentFunnel(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands): Funnel =
    funnel(exactCollapse(spark, d), minhashFrames(numHashes),
        candidatePairs(_, numHashes, numBands)) { case (cand, Seq(_, sets)) =>
      joinSides(cand, sets, "sset", "set")
        .select(col("doc_a").as("ga"), col("doc_b").as("gb"),
          graft.functions.GraftFunctions.overlap_stats(col("set_a"), col("set_b"))
            .as("ov"))
        .select(col("ga"), col("gb"),
          expr("ov[0] * 10000L div ov[1]").as("cont_a_in_b_e4"),
          expr("ov[0] * 10000L div ov[2]").as("cont_b_in_a_e4"),
          expr("ov[0] * 10000L div (ov[1] + ov[2] - ov[0])").as("jaccard_e4"))
    }

  // identical content: full mutual containment
  private val containmentIntra: Seq[(String, Column)] =
    Seq("cont_a_in_b_e4" -> lit(10000L), "cont_b_in_a_e4" -> lit(10000L),
      "jaccard_e4" -> lit(10000L))

  val dedupContainmentSql: String =
    s"""WITH ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |$candidatePairsDuckCte,
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset
       |         FROM sh WHERE len(shingles) > 0),
       |ov AS (SELECT doc_a, doc_b,
       |         CAST(len(list_intersect(sa.sset, sb.sset)) AS BIGINT) AS inter,
       |         CAST(len(sa.sset) AS BIGINT) AS na,
       |         CAST(len(sb.sset) AS BIGINT) AS nb
       |       FROM pairs JOIN sets sa ON sa.doc_id = doc_a
       |                  JOIN sets sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b,
       |  inter * 10000 // na AS cont_a_in_b_e4,
       |  inter * 10000 // nb AS cont_b_in_a_e4,
       |  inter * 10000 // (na + nb - inter) AS jaccard_e4
       |FROM ov ORDER BY doc_a, doc_b""".stripMargin

  /** DEFAULT (scale-safe) face of the n-gram Jaccard verify: member
    * pairs and docs per exact-Jaccard value, counted WITHOUT expanding
    * the member-pair list ([[pairCountsByKey]] multiplicity arithmetic
    * over the unexpanded [[ngramJaccardFunnel]]). The key space is
    * bounded by distinct CANONICAL pair values — a function of content,
    * not duplication mass — so output stays fixed while the per-pair
    * dump (`q_dedup_ngram_jaccard`, now the audit face) grows
    * quadratically under replication: at the 1000× exact replica every
    * document gains 999 verbatim twins, and the dump's 1000²-fold
    * member-pair output is volume, not verify work. Same contract move
    * as `q_dedup_embedding` → `q_dedup_embedding_census` (r16).
    */
  def dedupNgramJaccardCensus(spark: SparkSession, d: String): DataFrame =
    pairCountsByKey(ngramJaccardFunnel(spark, d), Seq("jaccard_e4" -> lit(10000L)))
      .orderBy("jaccard_e4")

  /** Oracle: the naive expanded pair list, aggregated per Jaccard. */
  val dedupNgramJaccardCensusSql: String =
    s"""WITH pr AS (SELECT jaccard_e4, doc_a, doc_b
       |            FROM ($dedupNgramJaccardSql)),
       |p AS (SELECT jaccard_e4, count(*) AS n_pairs FROM pr GROUP BY 1),
       |dd AS (SELECT jaccard_e4, count(DISTINCT doc_id) AS n_docs
       |       FROM (SELECT jaccard_e4, doc_a AS doc_id FROM pr
       |             UNION ALL SELECT jaccard_e4, doc_b FROM pr)
       |       GROUP BY 1)
       |SELECT p.jaccard_e4, CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (jaccard_e4)
       |ORDER BY p.jaccard_e4""".stripMargin

  /** DEFAULT (scale-safe) face of the containment verify: the census
    * per containment/Jaccard key. Containment is DIRECTIONAL — a member
    * pair that reorients against its canonical swaps the two values —
    * so the census keys on the orientation-INVARIANT (least, greatest)
    * of the pair, which every member of a canonical pair shares
    * regardless of which side sorts first. Same multiplicity arithmetic
    * as [[dedupNgramJaccardCensus]]; the per-pair dump
    * (`q_dedup_containment`) becomes the audit face.
    */
  def dedupContainmentCensus(spark: SparkSession, d: String): DataFrame = {
    val (membership, elig, gd) = containmentFunnel(spark, d)
    val sym = gd.select(col("ga"), col("gb"),
      least(col("cont_a_in_b_e4"), col("cont_b_in_a_e4")).as("cont_lo_e4"),
      greatest(col("cont_a_in_b_e4"), col("cont_b_in_a_e4")).as("cont_hi_e4"),
      col("jaccard_e4"))
    pairCountsByKey((membership, elig, sym),
      Seq("cont_lo_e4" -> lit(10000L), "cont_hi_e4" -> lit(10000L),
        "jaccard_e4" -> lit(10000L)))
      .orderBy("cont_lo_e4", "cont_hi_e4", "jaccard_e4")
  }

  /** Oracle: expanded pairs, re-keyed to the symmetric (lo, hi). */
  val dedupContainmentCensusSql: String =
    s"""WITH pr AS (SELECT least(cont_a_in_b_e4, cont_b_in_a_e4) AS cont_lo_e4,
       |              greatest(cont_a_in_b_e4, cont_b_in_a_e4) AS cont_hi_e4,
       |              jaccard_e4, doc_a, doc_b
       |            FROM ($dedupContainmentSql)),
       |p AS (SELECT cont_lo_e4, cont_hi_e4, jaccard_e4, count(*) AS n_pairs
       |      FROM pr GROUP BY 1, 2, 3),
       |dd AS (SELECT cont_lo_e4, cont_hi_e4, jaccard_e4,
       |         count(DISTINCT doc_id) AS n_docs
       |       FROM (SELECT cont_lo_e4, cont_hi_e4, jaccard_e4,
       |               doc_a AS doc_id FROM pr
       |             UNION ALL SELECT cont_lo_e4, cont_hi_e4, jaccard_e4,
       |               doc_b FROM pr)
       |       GROUP BY 1, 2, 3)
       |SELECT p.cont_lo_e4, p.cont_hi_e4, p.jaccard_e4,
       |  CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (cont_lo_e4, cont_hi_e4, jaccard_e4)
       |ORDER BY p.cont_lo_e4, p.cont_hi_e4, p.jaccard_e4""".stripMargin

  /** Truncation bound for the edit-distance verify: the DP is
    * O(len_a·len_b) PER PAIR, so production caps the compared prefix —
    * near-dup documents diverge (or don't) within the first few hundred
    * characters, and the funnel already guarantees lexical overlap.
    * Shared by the Scala code and the oracle.
    */
  val DefaultMaxEditChars = 256

  /** Radius bound for the edit-distance verify: pairs further apart than
    * this are "not near-dups" — the precise distance of a far pair is
    * worthless, so the DP stops early and reports the sentinel −1.
    * 64 on 256-char prefixes = the sim_e4 ≥ 7500 band, comfortably wider
    * than any dedup-keep threshold. Profiled on sf0.1: the banded DP is
    * ~4× cheaper than the full matrix because LSH candidate lists are
    * dominated by far pairs (avg distance 175/256), exactly the rows the
    * band abandons first.
    */
  val DefaultMaxEditDist = 64

  /** The edit-distance funnel at canonical level: raw-text-hash
    * membership (edit distance sees raw characters, so the collapse
    * key is the raw sha — unlike the token-normalized funnels), the
    * signature-bearing eligible gids (docs with no shingles never
    * band), and (ga, gb, edit_dist, sim_e4) canonical pairs, persisted
    * and forced.
    */
  private def editDistFunnel(spark: SparkSession, d: String,
      numHashes: Int, numBands: Int, maxChars: Int, maxDist: Int): Funnel = {
    import org.apache.spark.sql.expressions.Window
    val membership = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), sha2(col("text"), 256).as("rh"))
      .withColumn("gid", min("doc_id").over(Window.partitionBy("rh")))
      .select("doc_id", "gid", "text")
      .persist()
    funnel(membership, reps => Seq(minhashSigs(reps, numHashes)),
        candidatePairs(_, numHashes, numBands)) { (cand, _) =>
      val pfx = canonicalReps(membership)
        .select(col("doc_id"), substring(col("text"), 1, maxChars).as("pfx"))
      // per-canonical-pair distance: distinct content by construction, so
      // every DP is novel work; equal prefixes (docs diverging only past
      // maxChars) still short-circuit
      joinSides(cand, pfx, "pfx", "pfx")
        .select(col("doc_a").as("ga"), col("doc_b").as("gb"),
          when(col("pfx_a") === col("pfx_b"), 0L)
            .otherwise(levenshtein(col("pfx_a"), col("pfx_b"), maxDist).cast(LongType))
            .as("edit_dist"),
          greatest(length(col("pfx_a")), length(col("pfx_b"))).as("mx"))
        .select(col("ga"), col("gb"), col("edit_dist"),
          expr(s"""CASE WHEN edit_dist < 0 THEN 0L
                   WHEN mx > 0 THEN 10000L - edit_dist * 10000L div mx
                   ELSE 10000L END""").as("sim_e4"))
    }
  }

  // identical raw content: distance 0, full similarity
  private val editDistIntra: Seq[(String, Column)] =
    Seq("edit_dist" -> lit(0L), "sim_e4" -> lit(10000L))
  /** EDIT-DISTANCE verify stage: Levenshtein over the LSH candidate
    * pairs — the character-level alternative to shingle Jaccard (robust
    * to small in-place edits that shift every shingle, the RETSim-style
    * near-dup signal). Distance runs on [[DefaultMaxEditChars]]-char
    * prefixes and is EXACT within radius [[DefaultMaxEditDist]]; beyond
    * it the banded DP bails out and emits `edit_dist = −1, sim_e4 = 0`
    * (the pair is verified non-near — its exact distance is not a
    * useful number). Similarity normalizes as
    * `1e4 − dist·1e4 div max(len_a, len_b)` — integer-exact on both
    * engines.
    *
    * Scale shape: the funnel's economics (candidates only, capped per
    * doc, never all-pairs); each pair joins its two truncated texts
    * through id-keyed joins, and the quadratic kernel is bounded to the
    * O(len·radius) band. Mass duplication (the replica studies' 100×
    * corpus of exact copies) is absorbed by a STRICT exact-collapse
    * prelude: docs group by raw-text sha256 (raw, not the cluster
    * funnels' token-normalized [[exactCollapse]] — the DP and the
    * distance-0 claim need byte-identical prefixes), the LSH funnel and
    * every DP run over one canonical per group, cross-group pairs
    * expand back through the (doc_id, gid) membership join, and
    * intra-group pairs emit distance 0 directly.
    *
    * Output equivalence (why the oracle doesn't change): identical raw
    * text ⇒ identical shingles, signatures, band values, AND prefixes.
    * So a member pair is an LSH candidate iff its canonicals are (or
    * share a group — all bands equal), and its distance equals its
    * canonicals' distance (0 within a group). Measured: the pre-collapse
    * form cost 674 s on the 100× replica (the band join itself explodes
    * ~C(R,2) per duplicated doc); collapsed, the funnel is 1×-sized and
    * only the output expansion scales with duplication.
    *
    * This DEFAULT (scale-safe) face is the edit-distance census —
    * member pairs and docs per (edit_dist, sim_e4) key, bounded by
    * distinct canonical pairs (both are raw-content functions; intra
    * pairs are the constant (0, 10000) key). The per-pair dump — 73 s of
    * pure expansion at the r11 100× sweep — is the audit face
    * [[dedupEditDistancePairs]] (`q_dedup_editdist_pairs`).
    */
  def dedupEditDistance(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      maxChars: Int = DefaultMaxEditChars,
      maxDist: Int = DefaultMaxEditDist): DataFrame =
    pairCountsByKey(
      editDistFunnel(spark, d, numHashes, numBands, maxChars, maxDist), editDistIntra)
      .orderBy("edit_dist", "sim_e4")

  /** AUDIT face: the expanded per-pair dump
    * (doc_a, doc_b, edit_dist, sim_e4). */
  def dedupEditDistancePairs(spark: SparkSession, d: String,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      maxChars: Int = DefaultMaxEditChars,
      maxDist: Int = DefaultMaxEditDist): DataFrame =
    expandMemberPairs(
      editDistFunnel(spark, d, numHashes, numBands, maxChars, maxDist), editDistIntra)

  val dedupEditDistancePairsSql: String =
    s"""WITH ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |$candidatePairsDuckCte,
       |px AS (SELECT doc_id, substr(text, 1, $DefaultMaxEditChars) AS pfx FROM documents),
       |e AS (SELECT doc_a, doc_b,
       |  CAST(levenshtein(pa.pfx, pb.pfx) AS BIGINT) AS d0,
       |  greatest(length(pa.pfx), length(pb.pfx)) AS mx
       |  FROM pairs JOIN px pa ON pa.doc_id = doc_a
       |             JOIN px pb ON pb.doc_id = doc_b)
       |SELECT doc_a, doc_b,
       |  CASE WHEN d0 <= $DefaultMaxEditDist THEN d0 ELSE -1 END AS edit_dist,
       |  CASE WHEN d0 > $DefaultMaxEditDist THEN 0
       |       WHEN mx > 0 THEN 10000 - d0 * 10000 // mx
       |       ELSE 10000 END AS sim_e4
       |FROM e ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle for the census face: the NAIVE expanded pair list,
    * aggregated per (edit_dist, sim_e4).
    */
  val dedupEditDistanceSql: String =
    s"""WITH pr AS (SELECT edit_dist, sim_e4, doc_a, doc_b
       |            FROM ($dedupEditDistancePairsSql)),
       |p AS (SELECT edit_dist, sim_e4, count(*) AS n_pairs FROM pr GROUP BY 1, 2),
       |dd AS (SELECT edit_dist, sim_e4, count(DISTINCT doc_id) AS n_docs
       |       FROM (SELECT edit_dist, sim_e4, doc_a AS doc_id FROM pr
       |             UNION ALL SELECT edit_dist, sim_e4, doc_b FROM pr)
       |       GROUP BY 1, 2)
       |SELECT p.edit_dist, p.sim_e4,
       |  CAST(p.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(dd.n_docs AS BIGINT) AS n_docs
       |FROM p JOIN dd USING (edit_dist, sim_e4)
       |ORDER BY p.edit_dist, p.sim_e4""".stripMargin

  /** Duplicate CLUSTERS: transitive closure over the verified near-dup
    * pairs (A~B, B~C ⇒ {A,B,C} is one cluster), emitting each doc's
    * canonical representative (the cluster's min doc_id) — the missing
    * step between pair emission and actually dropping duplicates, since
    * keeping "one of each pair" over-deletes chained groups.
    *
    * Algorithm: min-label propagation to fixpoint. Every doc starts
    * labeled with itself; each round, labels flow across edges (both
    * directions) and each doc keeps the min label seen. Rounds are one
    * edge-join shuffle + one min-groupBy shuffle over (id, label) pairs
    * ONLY — never the documents — and converge after D rounds (D = max
    * cluster diameter; near-dup clusters are shallow, so 2-4 in
    * practice). At 10^11 docs the same loop holds (the label frame is
    * two longs per doc); if adversarial long chains are expected,
    * alternate large-star/small-star instead for O(log n) rounds — the
    * per-round plan shape is identical. The fixpoint check is one
    * driver-side aggregate per round (the monotone label-sum proof —
    * see the loop body), not a data collect.
    *
    * Edges = LSH candidates verified at exact Jaccard ≥ 0.5 (the same
    * funnel as q_dedup_ngram_jaccard; 0.5 sits at the 16-hash/4-band
    * S-curve's steep section). Docs without shingles have no edges and
    * stay singletons labeled by themselves.
    */
  def dedupClusters(spark: SparkSession, d: String,
      minJaccardE4: Long = 5000L,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      maxIters: Int = 50): DataFrame = {
    val (membership, nodes, verified) =
      verifiedEdges(spark, d, minJaccardE4, numHashes, numBands)
    val edges = verified.select(col("ga").as("src"), col("gb").as("dst"))
      .union(verified.select(col("gb").as("src"), col("ga").as("dst")))
      .persist()
    var labels = nodes.select(col("gid").as("doc_id"), col("gid").as("label")).persist()
    // convergence by LABEL-SUM: every round takes min(own ∪ neighbors),
    // so labels are monotone non-increasing and the sum strictly
    // decreases until fixpoint — an unchanged sum PROVES convergence
    // (exact, not a fingerprint). One aggregate on the cached frame per
    // round, replacing the former two-frame comparison join; Decimal
    // accumulation because 10^11 doc_ids overflow a long sum.
    def labelSum(df: DataFrame): String = {
      val r = df.agg(sum(col("label").cast(DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) "" else r.getDecimal(0).toString
    }
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val msgs = edges.join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("label"))
      // localCheckpoint, not persist: a persisted round keeps the whole
      // previous-round LOGICAL plan nested inside the next one, so
      // round k re-analyzes a k-deep chain (O(k²) driver planning over
      // the loop — the crossmodal-prelude lesson, BUILDER_NOTES round
      // 13). Severing keeps every round's plan flat. LAZY checkpoint:
      // the labelSum aggregate below is the round's first action, so it
      // materializes AND checkpoints the round in ONE job (local
      // checkpoint finalization computes any partitions the aggregate's
      // job missed before returning) — the eager form paid a separate
      // count-style job per round for the same severing.
      val next = labels.unionByName(msgs)
        .groupBy("doc_id").agg(min("label").as("label"))
        .localCheckpoint(false)
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels.unpersist()
      labels = next
      it += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    expandLabels(membership,
      labels.select(col("doc_id").as("gid"), col("label").as("cluster_rep")))
  }

  /** The cluster capstones' graph over canonical reps, from
    * [[ngramJaccardFunnel]]: (membership, nodes (gid) = the reps with
    * shingles, verified canonical edges (ga < gb) at Jaccard >=
    * `minJaccardE4`).
    */
  private def verifiedEdges(spark: SparkSession, d: String, minJaccardE4: Long,
      numHashes: Int, numBands: Int): Funnel = {
    // the collapse's output-equivalence proof needs exact dups to qualify
    // as near-dups (Jaccard of identical sets is exactly 10000)
    require(minJaccardE4 <= 10000L,
      s"minJaccardE4 must be <= 10000 for the exact-collapse prelude, got $minJaccardE4")
    val (membership, elig, pj) = ngramJaccardFunnel(spark, d, numHashes, numBands)
    (membership, elig, pj.where(col("jaccard_e4") >= minJaccardE4))
  }

  /** Expand canonical labels (gid, cluster_rep) back to every exact-dup
    * member: a member's cluster_rep is its gid's label (identical by the
    * equivalence proof on [[exactCollapse]]); groups whose canonical has
    * no shingles drop out of the inner join, matching the uncollapsed
    * output's domain.
    */
  private def expandLabels(membership: DataFrame, labels: DataFrame): DataFrame =
    membership.select(col("doc_id"), col("gid"))
      .join(labels, "gid")
      .select(col("doc_id"), col("cluster_rep"))
      .orderBy("doc_id")

  /** Both directions of an edge list. Single-branch explode rather than a
    * self-union: a union references the input subtree twice, and when that
    * input is an UNCACHED star-round chain the whole chain is planned (and
    * absent exchange reuse, executed) twice per round.
    */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))

  /** Large-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): every neighbor LARGER than u links to the minimum of
    * u's closed neighborhood. Emits edges canonically as (big, small).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // whole-partition window min = one shuffle on src; the groupBy+join
    // form paid a second exchange to meet the aggregate back
    val sym = symmetric(e)
      .withColumn("m", least(
        min(col("dst")).over(Window.partitionBy("src")), col("src")))
    sym.where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** Small-star: u and every neighbor ≤ u link to the minimum of that
    * smaller neighborhood. Emits edges canonically as (big, small).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val smaller = symmetric(e).where(col("dst") <= col("src"))
      .withColumn("m", min(col("dst")).over(Window.partitionBy("src")))
    // emit (v, m) for v ∈ {dst, src} in ONE pass over the window output;
    // the former unionByName of two projections doubled the upstream
    // large-star chain in the plan
    smaller.select(explode(array(col("dst"), col("src"))).as("v"), col("m"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** The O(log n) scale twin of [[dedupClusters]]: alternating
    * large-star/small-star over the same verified near-dup edges until
    * the edge set is a fixpoint star forest, then label(u) =
    * min(Γ(u) ∪ {u}). Identical output to the label-propagation form
    * (same oracle) — the difference is ROUND COUNT: label propagation
    * needs max-cluster-diameter rounds (fine for shallow near-dup
    * clusters, unbounded for adversarial chains), star alternation
    * contracts arbitrary topologies in O(log n) rounds, each round two
    * groupBy-join pairs over (src, dst) longs only. This is the form a
    * 10^11-doc dedup job runs when cluster shape is unknown.
    */
  def dedupClustersStar(spark: SparkSession, d: String,
      minJaccardE4: Long = 5000L,
      numHashes: Int = DefaultNumHashes,
      numBands: Int = DefaultNumBands,
      maxIters: Int = 30): DataFrame = {
    // same exact-collapse prelude (and equivalence argument) as the
    // label-propagation twin
    val (membership, nodes, verified) =
      verifiedEdges(spark, d, minJaccardE4, numHashes, numBands)
    // canonical (big, small) orientation; ga < gb upstream
    var edges = verified
      .select(col("gb").as("src"), col("ga").as("dst")).persist()
    // fixpoint test = (count, xxhash64-sum) fingerprint of the canonical
    // edge set: one cheap aggregate per round instead of two full
    // anti-joins (exceptAll tripled the round cost at 10× scale); a
    // fingerprint collision is astronomically unlikely and the oracle
    // would catch the resulting mislabeling anyway
    def fingerprint(e: DataFrame): (Long, String) = {
      // hash sum accumulates in Decimal(38,0): xxhash64 spans the full
      // long range, so a long sum would ANSI-overflow
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast(DecimalType(38, 0)))).head()
      (r.getLong(0), if (r.isNullAt(1)) "" else r.getDecimal(1).toString)
    }
    var fp = fingerprint(edges)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // localCheckpoint for the same reason as the propagation twin:
      // flat per-round plans instead of a chain that re-analyzes every
      // prior star round. Lazy: the fingerprint aggregate is the round's
      // first action and doubles as the checkpoint's materialization —
      // one job per round instead of two.
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      edges.unpersist()
      edges = next
      it += 1
    }
    require(converged, s"star contraction did not converge in $maxIters rounds")
    val lab = symmetric(edges).groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("gid"), least(col("mn"), col("src")).as("rep"))
    expandLabels(membership, nodes.join(lab, Seq("gid"), "left")
      .select(col("gid"), coalesce(col("rep"), col("gid")).as("cluster_rep")))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE ${signaturesDuckCte()},
       |${bandsDuckCte()},
       |$candidatePairsDuckCte,
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset
       |         FROM sh WHERE len(shingles) > 0),
       |verified AS (SELECT doc_a, doc_b
       |             FROM pairs JOIN sets sa ON sa.doc_id = doc_a
       |                        JOIN sets sb ON sb.doc_id = doc_b
       |             WHERE CAST(len(list_intersect(sa.sset, sb.sset)) * 10000 AS BIGINT)
       |               // len(list_distinct(list_concat(sa.sset, sb.sset))) >= 5000),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM verified
       |          UNION ALL SELECT doc_b, doc_a FROM verified),
       |walk(doc_id, lab) AS (
       |  SELECT doc_id, doc_id FROM sets
       |  UNION
       |  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.doc_id)
       |SELECT doc_id, min(lab) AS cluster_rep
       |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Cluster-size histogram: how many near-dup clusters exist at each
    * size (singletons included) — the one-line diagnostic that tells a
    * pipeline whether duplication is long-tail (sizes 2-3) or
    * mass-copied boilerplate (hot large clusters needing the stop-fp /
    * wider-band treatment). Two tiny aggregations over the (doc, rep)
    * label frame.
    */
  def dedupClusterSizes(spark: SparkSession, d: String): DataFrame =
    dedupClusters(spark, d)
      .groupBy("cluster_rep").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  val dedupClusterSizesSql: String =
    s"""WITH labels AS (SELECT * FROM (${dedupClustersSql})),
       |sz AS (SELECT cluster_rep, count(*) AS cluster_size
       |       FROM labels GROUP BY cluster_rep)
       |SELECT cluster_size, count(*) AS n_clusters
       |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** SOFT deduplication (SoftDeDup, He et al. 2024): instead of the
    * hard keep/drop verdict, every document gets a sampling weight
    * inversely proportional to its near-dup cluster size —
    * `weight_ppm = 10⁶ div |cluster|` — so duplicated content is
    * DOWN-WEIGHTED in the training mix rather than removed, preserving
    * the (often highest-quality) content that happens to be popular
    * while still flattening its effective frequency. The
    * reweighting-not-removal alternative the hard pipeline
    * ([[dedupKeepCanonical]] → corpus emit) cannot express.
    *
    * Scale shape: rides [[dedupClusters]]' funnel (exact-collapse
    * prelude + capped pairs + label propagation — the degeneracy-proof
    * composition), then ONE cluster_rep-keyed aggregation and one
    * equi-join of the label frame against the cluster-size frame (the
    * size side is cluster-count-sized and broadcastable). Nothing new
    * is pairwise.
    */
  def softDedup(spark: SparkSession, d: String): DataFrame = {
    val labels = dedupClusters(spark, d)
    val sizes = labels.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        expr("1000000L div cluster_size").as("weight_ppm"))
      .orderBy("doc_id")
  }

  val softDedupSql: String =
    s"""WITH labels AS (SELECT * FROM (${dedupClustersSql})),
       |sz AS (SELECT cluster_rep, count(*) AS cluster_size
       |       FROM labels GROUP BY cluster_rep)
       |SELECT l.doc_id, l.cluster_rep,
       |  CAST(sz.cluster_size AS BIGINT) AS cluster_size,
       |  CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_ppm
       |FROM labels l JOIN sz USING (cluster_rep) ORDER BY l.doc_id""".stripMargin

  /** Smallest partition tier for an id space ending at `maxDoc`: the
    * least 16·4^i with maxDoc + 1 ≤ 256·tier, so a plan never exceeds
    * ~256 small-tier partitions REGARDLESS of how sparse or shifted the
    * id space is (the 100× replica shifts ids to ~10^10 — a fixed
    * 16-wide tier would plan 38 MILLION partitions and the driver loop,
    * not the data, becomes the bottleneck). Integer arithmetic only, so
    * the DuckDB oracle computes the identical tier from a CASE ladder.
    */
  private[graft] def ingestTier(maxDoc: Long): Long = {
    var t = 16L
    // clamp at the oracle CASE ladder's ELSE arm (16·4^21): both
    // engines must compute the SAME tier at any id width, so the Scala
    // loop stops exactly where the ladder's enumeration ends
    while (maxDoc + 1 > 256L * t && t < (16L << 42)) t *= 4L
    t
  }

  /** Per-JVM root for the ingestion capstone's temp stores, recursively
    * deleted at JVM exit. Stores must OUTLIVE the query that made them
    * (the returned verdict frames re-read the store parquet if their
    * cached partitions are evicted), so per-query deletion is unsafe —
    * but without any cleanup, repeated verify/bench/test runs
    * accumulate unbounded /tmp disk (one 4-run store per invocation).
    */
  private lazy val ingestStoreRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-stores")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(rm)
        f.delete(): Unit
      }
      rm(root.toFile)
    }))
    root
  }

  private def freshIngestStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(ingestStoreRoot, prefix).toString

  /** INCREMENTAL INGESTION capstone query: the full
    * [[graft.extract.IngestionPipeline]] lifecycle driven through four
    * successive runs over quartiles of the doc-id space — per-doc
    * admission verdicts (registry probe columns + the admission bit)
    * across all four batches. Each run extracts the docs NEW since the
    * committed watermark, probes them against the registry built from
    * the previously ADMITTED store, writes admitted rows to tiered
    * partition directories (merging consolidated tiles), and commits
    * the watermark last. The oracle replays the same four-batch
    * chained-registry semantics as pure SQL — registry k = admitted
    * batches 1..k-1 — so the lifecycle's verdict stream is
    * hash-checked end-to-end, store and watermark included.
    *
    * Docs at or above the last run's tier coverage
    * (`(max+1) div 16 * 16`) are not yet extracted by design —
    * coverage advances tier-aligned, exactly as the reference's block
    * partitioner leaves the chain tip unextracted until a tier fills.
    */
  def ingestAdmission(spark: SparkSession, d: String): DataFrame = {
    import graft.extract.IngestionPipeline
    val dmax = Tables.documents(spark, d).agg(max("doc_id"))
      .collect()(0).getLong(0)
    val tier = ingestTier(dmax)
    val store = freshIngestStore("admission")
    val frames = (1 to 4).map { k =>
      val latest = (dmax + 1) * k / 4
      val r = IngestionPipeline.ingest(spark, d, store, latest,
        tierSizes = Seq(4L * tier, tier))
      r.verdicts.withColumn("batch", lit(k.toLong))
    }
    frames.reduce(_.unionByName(_))
      .select(col("doc_id"), col("batch"), col("exact_dup"),
        col("best_jaccard_e4"), col("n_candidate_groups"),
        (!col("is_dup")).as("admitted"))
      .orderBy("doc_id")
  }

  /** The STRICT lifecycle face: same four chained runs with
    * `strictBatch = true` — exact in-batch copies admit only their
    * first arrival, so the store stays strictly content-unique. Output
    * adds the `in_batch_dup` verdict column; `admitted` requires both
    * clearing the registry probe AND being the batch canonical.
    */
  def ingestAdmissionStrict(spark: SparkSession, d: String): DataFrame = {
    import graft.extract.IngestionPipeline
    val dmax = Tables.documents(spark, d).agg(max("doc_id"))
      .collect()(0).getLong(0)
    val tier = ingestTier(dmax)
    val store = freshIngestStore("strict")
    val frames = (1 to 4).map { k =>
      val latest = (dmax + 1) * k / 4
      val r = IngestionPipeline.ingest(spark, d, store, latest,
        tierSizes = Seq(4L * tier, tier), strictBatch = true)
      // in-batch dup = not the batch's content canonical — straight off
      // the probe's severed verdict artifacts, no re-hash of the slice
      r.verdictsCh
        .withColumn("in_batch_dup", col("doc_id") =!= col("cid"))
        .withColumn("batch", lit(k.toLong))
    }
    frames.reduce(_.unionByName(_))
      .select(col("doc_id"), col("batch"), col("exact_dup"),
        col("best_jaccard_e4"), col("n_candidate_groups"), col("in_batch_dup"),
        (!col("is_dup") && !col("in_batch_dup")).as("admitted"))
      .orderBy("doc_id")
  }

  /** STREAMING face of the ingestion capstone: the same four batch
    * slices arrive as parquet FILE DROPS drained one per micro-batch by
    * [[graft.streaming.StreamingIngest]]; output is the final admitted
    * STORE (doc_id + arrival batch). Because the streaming loop and the
    * batch pipeline run the same registry state machine — probe against
    * previously-ADMITTED content only, registry grows between batches —
    * the store equals the batch capstone's admitted set, so the oracle
    * is [[ingestAdmissionSql]] filtered to `admitted`. This makes the
    * stream == batch claim driver-checkable, not just spec-pinned.
    */
  def ingestAdmissionStream(spark: SparkSession, d: String): DataFrame = {
    import graft.streaming.StreamingIngest
    val docs = Tables.documents(spark, d)
    val dmax = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val tier = ingestTier(dmax)
    def cov(k: Int): Long = (dmax + 1) * k / 4 / tier * tier
    val root = freshIngestStore("stream")
    val srcDir = new java.io.File(root, "drops")
    srcDir.mkdirs()
    val t0 = 1700000000000L
    (1 to 4).foreach { k =>
      // stage each slice as ONE parquet fragment, then move the part
      // file into the source dir under a controlled name + mod time
      // (the file source orders batches by mod time; one file = one
      // micro-batch at filesPerBatch = 1)
      val stage = s"$root/stage$k"
      docs.where(col("doc_id") >= cov(k - 1) && col("doc_id") < cov(k))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"drop$k.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      require(dst.setLastModified(t0 + k * 60000L))
    }
    StreamingIngest.run(spark, srcDir.toString, docs.schema,
      s"$root/store", s"$root/ckpt")
    spark.read.parquet(s"$root/store")
      .select(col("doc_id"),
        when(col("doc_id") < cov(1), 1L)
          .when(col("doc_id") < cov(2), 2L)
          .when(col("doc_id") < cov(3), 3L)
          .otherwise(4L).as("batch"))
      .orderBy("doc_id")
  }

  // built from the GENERATOR, not the ingestAdmissionSql val below —
  // object vals initialize in declaration order
  val ingestAdmissionStreamSql: String =
    s"""SELECT doc_id, batch FROM (${ingestAdmissionSqlGen(strict = false)})
       |WHERE admitted ORDER BY doc_id""".stripMargin

  /** Pure-SQL replay of the four-run chained-registry lifecycle: one
    * global signature/band/set/content-hash pass (signatures are
    * functions of content, so batch and registry sides share it), then
    * per batch k the committed registry = admitted batches < k, its
    * content canonicals, the exact-hash and band-candidate probes, and
    * the admission verdict — the same stateless-probe semantics as
    * [[incrementalLshProbe]], chained the way [[ingestAdmission]]'s
    * watermark commits chain them.
    */
  val ingestAdmissionSql: String = ingestAdmissionSqlGen(strict = false)

  val ingestAdmissionStrictSql: String = ingestAdmissionSqlGen(strict = true)

  private def ingestAdmissionSqlGen(strict: Boolean): String = {
    val th = IncrementalLshThresholdE4
    // the same 16·4^i tier ladder as [[ingestTier]], as exact integer
    // comparisons (no float log — engines must agree bit-for-bit)
    val tierCase = (0 to 20)
      .map(i => s"WHEN max(doc_id) + 1 <= ${256L * (16L << (2 * i))} " +
        s"THEN ${16L << (2 * i)}")
      .mkString("CASE ", " ", s" ELSE ${16L << 42} END")
    def covExpr(k: Int) =
      s"(SELECT (max_doc + 1) * $k // 4 // tsz * tsz FROM bnd)"
    val perBatch = (1 to 4).map { k =>
      val reg =
        if (k == 1) s"reg$k AS (SELECT doc_id FROM documents WHERE false)"
        else s"reg$k AS (${(1 until k)
          .map(i => s"SELECT doc_id FROM adm$i").mkString(" UNION ALL ")})"
      s"""b$k AS (SELECT doc_id FROM documents
         |  WHERE doc_id >= ${covExpr(k - 1)} AND doc_id < ${covExpr(k)}),
         |$reg,
         |rcanon$k AS (SELECT ch, min(doc_id) AS rgid FROM chash
         |  WHERE doc_id IN (SELECT doc_id FROM reg$k) GROUP BY ch),
         |exact$k AS (SELECT c.doc_id, r.rgid, CAST(10000 AS BIGINT) AS j
         |  FROM chash c JOIN b$k USING (doc_id) JOIN rcanon$k r ON r.ch = c.ch),
         |cand$k AS (SELECT DISTINCT nb.doc_id, rb.doc_id AS rgid
         |  FROM bands nb JOIN b$k USING (doc_id)
         |  JOIN bands rb ON rb.band_id = nb.band_id AND rb.band_val = nb.band_val
         |  WHERE rb.doc_id IN (SELECT rgid FROM rcanon$k)),
         |candj$k AS (SELECT c.doc_id, c.rgid,
         |    CAST(len(list_intersect(sa.sset, sb.sset)) * 10000 AS BIGINT)
         |      // len(list_distinct(list_concat(sa.sset, sb.sset))) AS j
         |  FROM cand$k c JOIN sets sa ON sa.doc_id = c.doc_id
         |  JOIN sets sb ON sb.doc_id = c.rgid),
         |perdoc$k AS (SELECT doc_id, max(j) AS best, count(DISTINCT rgid) AS n_groups
         |  FROM (SELECT * FROM candj$k UNION ALL SELECT * FROM exact$k)
         |  GROUP BY doc_id),
         |verd$k AS (SELECT b.doc_id, CAST($k AS BIGINT) AS batch,
         |    (c.ch IN (SELECT ch FROM rcanon$k)) AS exact_dup,
         |    CAST(coalesce(p.best, 0) AS BIGINT) AS best_jaccard_e4,
         |    CAST(coalesce(p.n_groups, 0) AS BIGINT) AS n_candidate_groups${
        if (strict) s""",
         |    (c.doc_id <> min(c.doc_id) OVER (PARTITION BY c.ch)) AS in_batch_dup"""
        else ""}
         |  FROM b$k b JOIN chash c USING (doc_id)
         |  LEFT JOIN perdoc$k p USING (doc_id)),
         |adm$k AS (SELECT doc_id FROM verd$k WHERE best_jaccard_e4 < $th${
        if (strict) " AND NOT in_batch_dup" else ""})"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH bnd AS (SELECT max(doc_id) AS max_doc, $tierCase AS tsz
       |            FROM documents),
       |${signaturesDuckCte()},
       |${bandsDuckCte()},
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset
       |         FROM sh WHERE len(shingles) > 0),
       |chash AS (SELECT doc_id, sha256(array_to_string(toks, ' ')) AS ch FROM t),
       |$perBatch
       |SELECT doc_id, batch, exact_dup, best_jaccard_e4, n_candidate_groups,
       |${if (strict) "  in_batch_dup,\n" else ""}  (best_jaccard_e4 < $th${
      if (strict) " AND NOT in_batch_dup" else ""}) AS admitted
       |FROM (SELECT * FROM verd1 UNION ALL SELECT * FROM verd2
       |      UNION ALL SELECT * FROM verd3 UNION ALL SELECT * FROM verd4)
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ingest_admission" -> (ingestAdmission _),
    "q_ingest_admission_strict" -> (ingestAdmissionStrict _),
    "q_ingest_admission_stream" -> (ingestAdmissionStream _),
    "q_dedup_exact" -> (dedupExact _),
    "q_pairs_budget" -> (pairsBudget _),
    "q_lsh_tuning" -> (lshTuning _),
    "q_dedup_incremental" -> (dedupIncremental _),
    "q_dedup_incremental_lsh" -> ((s, d) => dedupIncrementalLsh(s, d)),
    "q_dedup_keep_canonical" -> (dedupKeepCanonical _),
    "q_dedup_minhash_lsh" -> ((s, d) => dedupMinhashLsh(s, d)),
    "q_dedup_minhash_lsh_pairs" -> ((s, d) => dedupMinhashLshPairs(s, d)),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_simhash64" -> ((s, d) => dedupSimhash64(s, d)),
    "q_dedup_simhash64_pairs" -> ((s, d) => dedupSimhash64Pairs(s, d)),
    "q_dedup_simhash64_manku" -> ((s, d) => dedupSimhash64Manku(s, d)),
    "q_dedup_simhash64_wide" -> (dedupSimhash64Wide _),
    "q_dedup_simhash64_wide_census" -> (dedupSimhash64WideCensus _),
    "q_dedup_ngram_jaccard" -> ((s, d) => dedupNgramJaccard(s, d)),
    "q_dedup_ngram_jaccard_census" -> (dedupNgramJaccardCensus _),
    "q_minhash_est_audit" -> ((s, d) => minhashEstAudit(s, d)),
    "q_minhash_est_audit_pairs" -> ((s, d) => minhashEstAuditPairs(s, d)),
    "q_dedup_containment" -> ((s, d) => dedupContainment(s, d)),
    "q_dedup_containment_census" -> (dedupContainmentCensus _),
    "q_dedup_editdist" -> ((s, d) => dedupEditDistance(s, d)),
    "q_dedup_editdist_pairs" -> ((s, d) => dedupEditDistancePairs(s, d)),
    "q_dedup_clusters" -> ((s, d) => dedupClusters(s, d)),
    "q_dedup_clusters_star" -> ((s, d) => dedupClustersStar(s, d)),
    "q_dedup_cluster_sizes" -> (dedupClusterSizes _),
    "q_soft_dedup" -> (softDedup _),
    "q_dedup_threshold_sweep" -> ((s, d) => dedupThresholdSweep(s, d)))

  // lazy: forces pairsBudgetSql, whose embedding leg runs Similarity's
  // init while Similarity's init reads Dedup's eager SQL vals — an
  // eager map here re-creates the bidirectional init dependency, where
  // two threads first-touching Dedup and Similarity concurrently
  // deadlock on the object-init locks. Lazy, the force happens strictly
  // AFTER Dedup's init completes, so Similarity's init never waits on a
  // thread that holds Dedup's init lock.
  lazy val oracles: Map[String, String] = Map(
    "q_ingest_admission" -> ingestAdmissionSql,
    "q_ingest_admission_strict" -> ingestAdmissionStrictSql,
    "q_ingest_admission_stream" -> ingestAdmissionStreamSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_pairs_budget" -> pairsBudgetSql,
    "q_lsh_tuning" -> lshTuningSql,
    "q_dedup_incremental" -> dedupIncrementalSql,
    "q_dedup_incremental_lsh" -> dedupIncrementalLshSql,
    "q_dedup_keep_canonical" -> dedupKeepCanonicalSql,
    "q_dedup_minhash_lsh" -> dedupMinhashLshSql,
    "q_dedup_minhash_lsh_pairs" -> dedupMinhashLshPairsSql,
    "q_dedup_simhash" -> dedupSimhashSql,
    "q_dedup_simhash64" -> dedupSimhash64Sql,
    "q_dedup_simhash64_pairs" -> dedupSimhash64PairsSql,
    "q_dedup_simhash64_manku" -> dedupSimhash64MankuSql,
    "q_dedup_simhash64_wide" -> dedupSimhash64WideSql,
    "q_dedup_simhash64_wide_census" -> dedupSimhash64WideCensusSql,
    "q_dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "q_dedup_ngram_jaccard_census" -> dedupNgramJaccardCensusSql,
    "q_minhash_est_audit" -> minhashEstAuditSql,
    "q_minhash_est_audit_pairs" -> minhashEstAuditPairsSql,
    "q_dedup_containment" -> dedupContainmentSql,
    "q_dedup_containment_census" -> dedupContainmentCensusSql,
    "q_dedup_editdist" -> dedupEditDistanceSql,
    "q_dedup_editdist_pairs" -> dedupEditDistancePairsSql,
    "q_dedup_clusters" -> dedupClustersSql,
    // same clusters, different algorithm — the oracle is shared
    "q_dedup_clusters_star" -> dedupClustersSql,
    "q_dedup_cluster_sizes" -> dedupClusterSizesSql,
    "q_soft_dedup" -> softDedupSql,
    "q_dedup_threshold_sweep" -> dedupThresholdSweepSql)
}

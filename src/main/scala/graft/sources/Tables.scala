package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * One quirk is handled here so every operator sees a sane schema:
  * `events.ts` is written as parquet TIMESTAMP(NANOS) which Spark's
  * vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]). Sessions
  * set `spark.sql.legacy.parquet.nanosAsLong=true`, so the column arrives
  * as a Long of epoch-nanos; [[events]] derives a proper microsecond
  * `ts` (TimestampType, UTC session) plus the raw nanos as `ts_ns`.
  */
object Tables {

  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one testdata table. Side effect to know about: constructing
    * the frame runs the shuffle-width ratchet ([[widthRatchet]]), which
    * on a genuinely LARGE table raises two session-scoped AQE confs
    * (initial partition width, advisory bytes) and never lowers them.
    * That is the right default for the library's normal embedding — a
    * session serving ONE workload, where the ratchet reflects exactly
    * the tables that workload reads — but a session that runs MANY
    * unrelated queries must scope each one with [[widthScoped]] (as
    * Bench/Verify/Sweep/PlanStats do; the measured leak was a 6×
    * slowdown on a small-corpus query after a big-table read), and
    * concurrent query CONSTRUCTION from one session should be
    * serialized or scoped per thread.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = tablePath(sfDir, name)
    read(spark, p, listing(spark, p))
  }

  private def tablePath(sfDir: String, name: String): String =
    s"${sfDir.stripSuffix("/")}/$name.parquet"

  /** Read `path` given its one listing, which sizes the width ratchet. */
  private def read(spark: SparkSession, path: String, files: Seq[FileStatus]): DataFrame = {
    widthRatchetTo(spark, volumeWidth(files, DefaultBytesPerPartition))
    spark.read.parquet(path)
  }

  private def listing(spark: SparkSession, path: String): Seq[FileStatus] =
    dataFiles(spark.sparkContext.hadoopConfiguration, path)

  /** Data files under `path` (a file or a directory), with any file
    * under a HIDDEN path component skipped — a crashed write's
    * `_temporary/…/part-….parquet` debris has an ordinary LEAF name, so
    * filtering only the leaf (the pre-r15 behavior) would hand the
    * footer reader a half-written file the plain Spark scan (which
    * ignores whole `_`/`.` components) never sees.
    */
  private[graft] def dataFiles(conf: org.apache.hadoop.conf.Configuration,
      path: String): Seq[FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val rootStr = fs.makeQualified(root).toString
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(rootStr).stripPrefix("/")
      val hidden = rel.split("/")
        .exists(c => c.startsWith("_") || c.startsWith("."))
      if (st.isFile && st.getLen > 0 && !hidden) out += st
    }
    out.result()
  }

  /** Row-group count of every data file under `path` (a file or a
    * directory), memoized per path KEYED BY a cheap listing signature
    * (file count, total bytes, newest mtime) — the count gates a
    * plan-shape decision that must not flap between queries of one
    * session, but a table REWRITTEN in-process (a regenerated /tmp
    * replica, a test overwrite) must re-decide instead of reusing a
    * stale count (the r14 staleness hole). The caller passes the
    * listing (one fs metadata pass per read); the footer reads — the
    * expensive part — run only when its signature changes. An
    * unreadable footer counts as 0 row groups instead of failing reader
    * construction: a file deleted or truncated between the listing and
    * the read is a race to survive, not a reason the whole scan cannot
    * plan.
    */
  private val rowGroupsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, ((Int, Long, Long), (Int, Long))]()

  private def footerStats(spark: SparkSession, path: String,
      files: Seq[FileStatus]): (Int, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sig = (files.size, files.iterator.map(_.getLen).sum,
      if (files.isEmpty) 0L
      else files.iterator.map(_.getModificationTime).max)
    val memo = rowGroupsMemo.get(path)
    if (memo != null && memo._1 == sig) return memo._2
    var groups = 0
    var rows = 0L
    files.foreach { st =>
      try {
        val blocks = org.apache.parquet.hadoop.ParquetFileReader
          .readFooter(conf, st.getPath,
            org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          .getBlocks
        groups += blocks.size
        blocks.forEach(b => rows += b.getRowCount)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    rowGroupsMemo.put(path, (sig, (groups, rows)))
    (groups, rows)
  }

  /** Table row count from the parquet footers alone — no Spark job, one
    * driver-side metadata pass, memoized by the listing signature
    * ([[footerStats]]). This is the corpus-size signal the
    * scale-adaptive knobs condition on (the sign-LSH plane count in
    * [[graft.operators.Similarity.numPlanesFor]], mirroring
    * `Dedup.simhash64BandModeFor`): a plan-shape decision may not cost
    * a job to make, and footer counts are exact for an immutable
    * parquet table.
    */
  private[graft] def tableRows(spark: SparkSession, sfDir: String,
      name: String): Long = {
    val p = tablePath(sfDir, name)
    footerStats(spark, p, listing(spark, p))._2
  }

  /** Volume-sized width for a WIDE exchange over a full-table frame —
    * a global range sort, a wide unclustered shuffle. A fixed
    * `spark.sql.shuffle.partitions` is the one shuffle width that
    * cannot be right at every scale: the r14 1000× probe measured the
    * cast matrix's 600M-row global sort spilling 59 GB at 32
    * partitions, while raising the GLOBAL AQE initial width taxed every
    * non-spilling family 5-8% (BUILDER_NOTES r14 item C). So the width
    * is derived PER QUERY from the table's measured parquet bytes: one
    * partition per `bytesPerPartition` of input, floored at the
    * session's shuffle width (small fixtures keep their exact plans —
    * at sf0.1 every table stays at the configured 32) and capped at
    * 4096 (beyond which task-launch overhead dominates any local box
    * and a real cluster would size by executor count anyway). The
    * default budget is deliberately small (32 MB of PARQUET per
    * partition ≈ 100-250 MB of unsafe-row sort payload after
    * decompression): a sorted run that fits in execution memory spills
    * nothing, and range partitions this size still amortize their task
    * launch thousands of times over.
    */
  private[graft] def volumeSizedShufflePartitions(spark: SparkSession,
      sfDir: String, name: String,
      bytesPerPartition: Long = DefaultBytesPerPartition): Int = {
    val floor = spark.sessionState.conf.numShufflePartitions
    math.max(floor,
      volumeWidth(listing(spark, tablePath(sfDir, name)), bytesPerPartition))
  }

  private val DefaultBytesPerPartition = 32L << 20

  /** Partitions implied by a listing's parquet bytes alone (no session
    * floor): one per `bytesPerPartition`, capped at 4096.
    */
  private def volumeWidth(files: Seq[FileStatus],
      bytesPerPartition: Long): Int = {
    val bytes = files.iterator.map(_.getLen).sum
    math.min(math.ceil(bytes.toDouble / bytesPerPartition.toDouble).toLong,
      4096L).toInt
  }

  /** The session confs the width ratchet may move. A ratchet decision
    * is derived from the tables ONE query reads, so runners that
    * execute MANY queries in one session (Bench, Verify, Sweep,
    * PlanStats) wrap each query in [[widthScoped]] — without it, one
    * query's volume decision leaks into the next query's plans
    * (measured leak at the 1000× replica: a lineitem-ratcheted session
    * ran the documents-table bigram panel 6× slower — 344 initial
    * partitions on a corpus whose own tables imply 3, every persisted
    * round-trip paying full-width stages). A single-workload session —
    * the library's normal embedding — needs no scoping: the ratchet
    * then reflects exactly the tables that session reads.
    */
  private val RatchetKeys = Seq(
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes")

  /** Run `body` with the width-ratchet confs restored afterwards —
    * PUBLIC because any multi-workload consumer of [[table]] needs it:
    * one query's volume decision must not leak into the next query's
    * plans. Wrap each logical query (construction AND execution) in one
    * `widthScoped`; for concurrent query builds on one session, scope
    * and serialize construction (the confs are session-global).
    */
  def widthScoped[T](spark: SparkSession)(body: => T): T = {
    val prior = widthSnapshot(spark)
    try body
    finally widthRestore(spark, prior)
  }

  /** Capture / restore the ratchet-movable confs explicitly — for
    * runners whose scoping can't be a simple try/finally: a sweep that
    * TIMES OUT a query abandons the worker thread while it is still
    * inside [[widthScoped]], so the wedged query's ratcheted confs
    * survive into every later row (and the abandoned worker's eventual
    * finally would restore them mid-flight under a LATER query). The
    * sweep instead snapshots once at startup and force-restores the
    * baseline after every timeout.
    */
  private[graft] def widthSnapshot(
      spark: SparkSession): Seq[(String, Option[String])] =
    RatchetKeys.map(k => k -> spark.conf.getOption(k))

  private[graft] def widthRestore(spark: SparkSession,
      snap: Seq[(String, Option[String])]): Unit =
    snap.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

  /** Shuffle-width ratchet — the volume-sized counterpart of the AQE
    * initial width, applied where the data volume is actually KNOWN:
    * the reader. A fixed `spark.sql.shuffle.partitions` cannot be right
    * at every scale, and AQE coalescing can only merge DOWN from the
    * configured initial width — so on a session configured for the
    * small end (32 here), a 600M-row join is stuck shuffling ~20M rows
    * into each of 32 partitions, and every per-partition hash/sort
    * blows execution memory and spills. Measured at the 1000× replica
    * (r15 full-surface probe, pre-fix): the big-join relational family
    * ran 9-37× super-linear for 10× the 100× data — q12 (a SEVEN-row
    * output) 324 s, q10 timed out past 910 s. The ratchet raises
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` to the
    * table's volume-sized width whenever a reader observes a table that
    * implies MORE partitions than the session currently allows; AQE
    * then sizes every individual stage back DOWN to its advisory
    * target, so small shuffles in the same session stay exactly as
    * wide as before — the ratchet only lifts the ceiling AQE is allowed
    * to start from. It never lowers (a deployment that configured a
    * wide initial width keeps it) and fires only on real volume (at sf0.1
    * every fixture table implies ≤ 1 partition, so small-scale plans —
    * and the frozen bench canaries — are byte-identical). The budget is
    * a parameter only so specs can make a tiny fixture read as volume,
    * the way [[volumeSizedShufflePartitions]] takes its own.
    */
  private[graft] def widthRatchet(spark: SparkSession, path: String,
      bytesPerPartition: Long = DefaultBytesPerPartition): Unit =
    widthRatchetTo(spark, volumeWidth(listing(spark, path), bytesPerPartition))

  private def widthRatchetTo(spark: SparkSession, want: Int): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val cur = spark.conf.getOption(key).map(_.toInt)
      .getOrElse(spark.sessionState.conf.numShufflePartitions)
    if (want <= cur) return
    spark.conf.set(key, want.toString)
    // Raising the initial width alone is NOT enough: AQE coalescing
    // merges post-shuffle reads back to the ADVISORY byte target
    // (64 MB), which is tuned for IO-bound stages — a CPU-dense reduce
    // stage (a sort-merge join's per-task sorts, a wide hash
    // aggregation) re-coalesced to ~64 MB compressed carries a
    // multi-hundred-MB deserialized working set per task, and that is
    // the measured pathology (r15 bisection, q12 @1000×: 32 wide-ish
    // tasks → 490 s with 330 s of GC; 256 small tasks, coalescing off
    // → 148 s, GC 103 s — same rows, same cores). Lowering the
    // advisory to 16 MB when real volume is observed keeps the reduce
    // stages at cache-friendly task sizes while still letting AQE merge
    // genuinely tiny partitions; like the initial width, it only moves
    // in one direction per session and only on a volume trigger, so
    // small-scale sessions never see either conf change.
    val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val advisoryWant = 16L << 20
    val advisoryCur = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get(advisoryKey, "64m"))
    if (advisoryWant < advisoryCur)
      spark.conf.set(advisoryKey, advisoryWant.toString)
  }

  /** `documents` with the compute-parallelism floor, for operators
    * whose per-row kernels (tokenize, shingle, hash, JSON-parse) are
    * CPU-dense enough to pay for one input-conditioning exchange.
    *
    * Parquet scan parallelism is bounded by ROW GROUPS, not bytes:
    * Spark packs byte-range splits (and `minPartitionNum` splits small
    * files eagerly), but each row group is read whole by the one split
    * holding its midpoint — a one-row-group file runs every map-side
    * kernel up to the first exchange on ONE task however the bytes were
    * split. Text also compresses ~30×, so byte-based packing
    * under-parallelizes CPU-bound per-doc work even on multi-file
    * corpora (measured: 13 tasks for a ~14 GB uncompressed corpus,
    * `bench_out/PLANSTATS_1000x_r14.json`). When the scan offers fewer
    * row groups than cores, insert ONE hash exchange on the table's row
    * key so downstream per-row kernels run at full width; a no-op
    * whenever the input already carries enough row groups (any
    * deployment-scale table), so cluster plans are untouched — and on a
    * cluster whose core count EXCEEDS a small input's row groups (the
    * "small corpus, big fleet" shape) it widens exactly when it should.
    *
    * Hash-on-key, not round-robin: round-robin repartition pays a
    * defensive per-partition sort for retry determinism and yields a
    * partitioning nothing downstream can reuse; hash(key) skips that
    * sort and a later groupBy/join on the same key reuses the exchange.
    * Filters and column pruning push through RepartitionByExpression,
    * so scan pushdown is unaffected (pinned by `TablesFloorSpec`).
    *
    * Only this reader floors, and only measured-winner operators call
    * it (`Curation.piiScrub`, `jsonlEmit`): a full 181-query A/B at
    * sf0.1 (r14, 3-rep medians) ran 251 s with no floor against 323 s
    * with every documents/events/embeddings reader floored (median
    * per-query ratio 1.26×) — on a tiny fixture the exchange plus
    * 32-task downstream stages cost more in stage/task overhead than
    * the map-side parallelism returns for all but the most CPU-dense
    * kernels. The plain readers ([[documents]], [[embeddings]],
    * [[events]]) and the TPC-H tables never floor; `TablesFloorSpec`
    * pins the plan contract (pushdown/pruning survive; no-op at >=cores
    * row groups).
    */
  def documentsFloored(spark: SparkSession, d: String): DataFrame = {
    // one listing serves both the width ratchet and the row-group census
    val p = tablePath(d, "documents")
    val files = listing(spark, p)
    val df = read(spark, p, files)
    val cores = spark.sparkContext.defaultParallelism
    if (footerStats(spark, p, files)._1 < cores) df.repartition(cores, col("doc_id"))
    else df
  }

  /** Compute-parallelism floor, streaming edition — for a
    * `foreachBatch` micro-batch feeding per-row-CPU admission work
    * (content hashing, the minhash probe funnel).
    *
    * Unlike the batch readers, the micro-batch offers NO truthful width
    * signal to condition on: its plan leaf is an `RDDScanExec`
    * (`df.inputFiles` is empty), and the RDD's partition count reflects
    * the source's BYTE-splits, not work distribution — a one-row-group
    * drop file reports 3+ partitions of which one holds every row, so a
    * row-group-conditioned floor cannot even see the skew. The floor
    * here is therefore UNCONDITIONAL: one hash exchange of the batch on
    * its row key before admission. The trade is structural, not fixture-local — the
    * per-row admission work downstream (sha256 content hash, 128-hash
    * minhash on distinct content) dwarfs one row exchange of the same
    * rows (~1 s per 3M docs), and a real deployment's micro-batch is a
    * handful of files however wide the cluster is. Measured at the
    * 1000× replica, same box, back-to-back: stream capstone
    * 137.7 → 83.2 s end-to-end; per-batch probe 18-29 → 8-20 s,
    * indexRows 13.7 → 3.4 s.
    *
    * Unconditional-by-size only: a TRICKLE batch must not pay 32-task
    * stages for rows a single task finishes faster than the stage
    * launches (measured at sf0.1's 1250-doc batches: the unguarded
    * exchange cost the stream face +40% while a control query got
    * faster). The caller passes the batch's row count (it needs a
    * non-empty check anyway; one count pass is the r13 "dedicated
    * fill" lesson) and the floor fires only at >=
    * [[FloorMinRowsPerCore]] rows per core — below that, per-task work
    * cannot amortize a stage round-trip.
    */
  private[graft] val FloorMinRowsPerCore = 2048L

  private[graft] def computeFloorForBatch(spark: SparkSession, df: DataFrame,
      key: String, rows: Long): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (rows < cores * FloorMinRowsPerCore) return df
    df.repartition(cores, col(key))
  }

  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** `events` with `ts` normalized to TimestampType (microseconds, UTC
    * session — matching DuckDB's `epoch_us`) and the raw nanos kept as
    * `ts_ns`, whatever encoding the parquet writer chose:
    *
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright
    *     ([PARQUET_TYPE_ILLEGAL]); sessions set
    *     `spark.sql.legacy.parquet.nanosAsLong=true` so it arrives as a
    *     Long of epoch-nanos (the LongType arm).
    *   - TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ (the pandas/pyarrow/DuckDB default). With the UTC
    *     session timezone the NTZ→TZ cast is instant-exact.
    *   - TIMESTAMP(…, isAdjustedToUTC=true): arrives as TimestampType
    *     already.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = table(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // `div`, not `/`: Long./ is double division, and epoch-nanos
        // (~1.7e18) are far beyond double's 2^53 exact-integer range.
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ => raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }

  /** Money/measure doubles in the testdata are 2-decimal values; casting
    * to DECIMAL(18,2) makes downstream sums exact and therefore
    * order-independent — a double sum would vary with partial-aggregation
    * order and could never hash-match a single-threaded oracle.
    */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(18, 2))
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.extract.IngestionPipeline
import graft.operators.Dedup

/** STREAMING twin of [[graft.extract.IngestionPipeline]]: document
  * drops arrive as a parquet file stream; each micro-batch probes the
  * CURRENT admitted store ([[Dedup.registryIndexFromRows]] +
  * [[Dedup.incrementalLshProbe]] — the same stateless per-batch half
  * the batch pipeline runs), appends the admitted rows, and the
  * registry therefore GROWS BETWEEN MICRO-BATCHES: a near-dup arriving
  * two files after its original is rejected by store content the stream
  * itself admitted. The Structured Streaming checkpoint replaces the
  * batch pipeline's watermark file (source offsets tracked per file).
  *
  * Replay safety without any extra state: micro-batches are
  * at-least-once, but a REPLAYED admitted doc is by then an exact
  * content hit against the store (itself), so the probe drops it — the
  * store converges instead of duplicating (and appends nothing, so the
  * index converges with it). The store append is localCheckpoint-
  * severed from the registry scan of the same path.
  *
  * Scale shape: per batch, one linear probe of the batch against
  * canonical registry signatures (band equi-join, never all-pairs) and
  * an append of only the admitted rows. Like the batch pipeline, the
  * registry index is INCREMENTAL: signatures are computed once at
  * admission ([[IngestionPipeline.indexRowsFor]]) and appended beside
  * the store; each probe derives its registry triple from stored rows
  * with zero re-hashing of registry content — per-batch cost tracks the
  * BATCH, not the store. Nothing is persisted across batches in the
  * Spark cache, so a long-running stream accumulates no cached
  * partitions.
  */
object StreamingIngest {

  /** The registry index table beside (not inside) the store directory —
    * same rows as the batch pipeline's `admitted_index` table.
    */
  def indexDir(storeDir: String): String =
    s"${storeDir.stripSuffix("/")}__index"

  /** Store paths whose store==index consistency this JVM has confirmed
    * (or produced), keyed by the FILESYSTEM-QUALIFIED path (so `/x`,
    * `/x/` and `file:/x` memoize as one store, not three), mapped to
    * the number of batches admitted since the last on-disk check. The
    * divergence check costs two parquet-footer count jobs EVERY
    * micro-batch, yet after the first batch this process is the only
    * writer (the single-writer assumption the store append already
    * makes), so consistency is an invariant of its own appends:
    * membership here skips the re-count. The entry is dropped right
    * before each append pair and re-added only after BOTH commits — any
    * failure in between (or a process crash, which empties the map)
    * sends the next batch back to the full disk check, i.e. the heal
    * path. The single-writer assumption is still an assumption, so the
    * memo self-expires every [[RevalidateEvery]] batches: an external
    * writer (or a same-JVM batch pipeline touching the same store) is
    * caught within one cadence window instead of never.
    */
  private val validatedStores =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Batches between forced on-disk store==index re-validations. */
  private[streaming] val RevalidateEvery = 64

  /** The memo key: qualified by the store's filesystem so path spelling
    * variants collapse to one entry.
    */
  private def storeKey(storeDir: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    try p.getFileSystem(conf).makeQualified(p).toString
    catch { case scala.util.control.NonFatal(_) => p.toString }
  }

  /** Drop a store's validation memo — for a same-JVM batch writer that
    * touches the store out-of-band and wants the next micro-batch to
    * take the full divergence check.
    */
  def invalidate(storeDir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Unit =
    validatedStores.remove(storeKey(storeDir, conf))

  /** Drain all currently-available document files into the store,
    * `filesPerBatch` files per micro-batch (1 = maximal registry
    * growth between batches; the admission semantics only get STRICTER
    * with smaller batches, since later docs see more registry).
    */
  def run(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      storeDir: String,
      checkpoint: String,
      filesPerBatch: Int = 1): Unit = {
    val raw = spark.readStream.schema(sourceSchema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .parquet(sourceDir)
    val q = raw.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        admitBatch(batch, storeDir)
      }
      .start()
    q.awaitTermination()
  }

  private[streaming] def admitBatch(batch: DataFrame, storeDir: String): Unit = {
    // The micro-batch is consumed up to three times — the count pass,
    // the probe, and the admitted join — and arrives RDD-backed, so
    // each pass would re-run the source scan. Cache it for the batch's
    // lifetime; the finally releases it even when admission throws (a
    // retried batch must not find executor memory pinned).
    batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try admitCached(batch, storeDir) finally batch.unpersist(false)
  }

  private def admitCached(batch: DataFrame, storeDir: String): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // one count pass serves both the empty check and the floor's size
    // guard (an RDD-backed micro-batch has no cheaper truthful size or
    // width signal — see computeFloorForBatch); it doubles as the
    // cache fill for the wrapper's persist
    val nRows = batch.count()
    if (nRows == 0) return
    // Compute-parallelism floor, streaming edition: the micro-batch
    // arrives RDD-backed with source byte-split partitioning (a
    // one-row-group drop file = one WORKING task however many splits),
    // so without this every map-side admission kernel — content
    // hashing, the probe's minhash funnel — runs single-task however
    // big the batch is. Measured at the 1000× replica, same box,
    // back-to-back: 137.7 → 83.2 s end-to-end; size-guarded after the
    // sf0.1 trickle-batch A/B (graft.sources.Tables.computeFloorForBatch).
    val b = graft.sources.Tables.computeFloorForBatch(
      spark, batch, "doc_id", nRows)
    val iDir = indexDir(storeDir)
    val haveStore = graft.sinks.Fs.exists(storeDir, conf)
    // The STORE is the source of truth; the index is a derived
    // accelerator that may lag it by one crashed append (store is
    // written first below). Store and index rows are 1:1, and parquet
    // counts are footer-only, so a count mismatch detects any
    // divergence — heal by re-deriving the index from the store (also
    // covers a store created without one). After the heal, replayed
    // docs exact-hit themselves and the store converges, same as the
    // single-table design.
    val sKey = storeKey(storeDir, conf)
    // memo hit = validated AND inside the re-validation cadence window;
    // the batch count ticks here so a long-running stream re-checks the
    // disk every RevalidateEvery batches even if nothing ever fails.
    // The memo never excuses a MISSING index dir (one fs stat, no count
    // job): an external delete inside the cadence window must take the
    // heal path below, not throw on the index read.
    val memoFresh = {
      val n = validatedStores.get(sKey)
      if (n == null) false
      else if (n >= RevalidateEvery - 1) { validatedStores.remove(sKey); false }
      else { validatedStores.replace(sKey, n, Int.box(n + 1)); true }
    } && graft.sinks.Fs.exists(iDir, conf)
    if (haveStore && !memoFresh) {
      val storeN = spark.read.parquet(storeDir).count()
      // a crash during an index append (or the heal's own overwrite) can
      // leave iDir existing but holding no committed parquet (only
      // _temporary debris) — reading it then throws BEFORE the heal
      // could run, permanently wedging the stream; an unreadable index
      // is just another divergence, so fall through to the re-derive
      val idxN =
        if (graft.sinks.Fs.exists(iDir, conf))
          try spark.read.parquet(iDir).count()
          catch { case scala.util.control.NonFatal(_) => -1L }
        else -1L
      if (storeN != idxN)
        Dedup.registryIndexRows(
          spark.read.parquet(storeDir).select(col("doc_id"), col("text")))
          .localCheckpoint(true)
          .write.mode("overwrite").parquet(iDir)
      validatedStores.put(sKey, Int.box(0))
    }
    val oldIdx =
      if (haveStore) spark.read.parquet(iDir)
      else Dedup.registryIndexRows(b.where(lit(false))
        .select(col("doc_id"), col("text")))
    val (regBands, regSets, regHashes) = Dedup.registryIndexFromRows(oldIdx)
    val verdicts = Dedup.incrementalLshProbe(
      b.select(col("doc_id"), col("text")), regBands, regSets, regHashes)
    val admitted = b
      .join(verdicts.where(!col("is_dup")).select("doc_id"), Seq("doc_id"),
        "left_semi")
      // sever the store scan feeding the registry before appending to
      // the same path (Spark refuses a write into its own read lineage)
      .localCheckpoint(true)
    if (!admitted.isEmpty) {
      // index rows first-class like the batch pipeline: hashed exactly
      // once at admission, severed from the index scan they derive from
      val newIdx = IngestionPipeline.indexRowsFor(admitted)
        .localCheckpoint(true)
      // drop the memo across the append pair (a crash in between must
      // re-validate), then RESTORE the batches-since-disk-check counter
      // — putting 0 back would reset the cadence on every append and
      // the periodic re-validation would never fire
      val sinceCheck = Option(validatedStores.get(sKey)).getOrElse(Int.box(0))
      validatedStores.remove(sKey)
      admitted.write.mode("append").parquet(storeDir)
      newIdx.write.mode("append").parquet(iDir)
      validatedStores.put(sKey, sinceCheck)
    }
  }
}

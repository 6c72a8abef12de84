package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.plans.{Partition, Partitioner, Watermark}
import graft.sources.Tables

/** INCREMENTAL INGESTION-WITH-ADMISSION capstone: the reference's
  * extract lifecycle — tiered partition planning, worklist = new plan
  * minus committed plan, per-directory overwrite writes, watermark
  * committed LAST (cli.py:290-339 and the crash regression
  * tests/test_get_column_info.py:164-225) — composed with the near-dup
  * admission registry ([[Dedup.registryIndexOver]] +
  * [[Dedup.incrementalLshProbe]]). Each run:
  *
  *   1. plans doc-id partitions over `[0, latest)` and diffs against
  *      the COMMITTED watermark's plan — the registry it probes is
  *      exactly the committed store (a crashed run's orphan partition
  *      directories are never read, because the watermark that would
  *      make them visible was never written);
  *   2. probes the docs NEW since committed coverage against the
  *      registry index — one batch, stateless
  *      ([[Dedup.incrementalLshProbe]]'s contract: in-batch near-dups
  *      are the batch family's job; the registry is the state, merged
  *      between runs by this pipeline);
  *   3. writes each worklist partition's ADMITTED rows (overwrite).
  *      Consolidated tiles straddling the old coverage boundary MERGE
  *      previously-admitted rows from the committed store with this
  *      run's newly admitted rows — re-probing already-admitted docs
  *      would self-hit in the registry and silently drop them;
  *   4. commits the watermark — the single commit point. A crash
  *      anywhere before it makes the next run redo this batch
  *      identically (deterministic content + overwrite = idempotent).
  *
  * Scale shape: one linear probe of the NEW docs per run (band
  * equi-join against canonical registry signatures — never all-pairs,
  * never registry-sized rewrites beyond the straddling tiles), and the
  * registry store is read watermark-bounded, partition-pruned by plan
  * directories. The per-doc verdict frame is returned (persisted) so
  * callers can audit admission without re-probing.
  */
object IngestionPipeline {

  val Subgraph = "corpus"
  val Table = "admitted"

  /** The incrementally-appended registry index table: per admitted doc,
    * the (content hash, minhash signature, shingle set) the probe
    * needs — written tile-for-tile beside the data, so signatures are
    * computed ONCE at admission and never re-derived from the whole
    * registry per run ([[Dedup.registryIndexRows]] /
    * [[Dedup.registryIndexFromRows]]).
    */
  val IndexTable = "admitted_index"
  val DefaultTierSizes: Seq[Long] = Seq(64L, 16L)

  final case class IngestResult(
      work: Vector[Partition],
      nSeen: Long,
      nAdmitted: Long,
      verdicts: DataFrame,
      watermark: Watermark,
      /** [[verdicts]] plus the probe's `cid` (batch canonical per
        * content) — lets audit faces derive in-batch dup structure
        * without re-hashing the batch.
        */
      verdictsCh: DataFrame)

  /** Coverage end of a plan: the first doc id NOT covered. */
  private def coverage(plan: Seq[Partition]): Long =
    plan.map(_.end).maxOption.getOrElse(0L)

  /** `strictBatch = true` additionally collapses EXACT in-batch
    * copies: of the batch docs that clear the registry probe, only the
    * content-canonical (min doc id per content hash within the batch)
    * is admitted — the "first arrival wins, replays within the batch
    * drop" semantic of [[Dedup.dedupIncremental]], composed into the
    * lifecycle. The store is then strictly content-unique, so every
    * stored index row is its own canonical. Default false: in-batch
    * near-dups are the batch dedup family's job
    * ([[Dedup.incrementalLshProbe]]'s documented contract), and the
    * default face keeps that boundary observable.
    */
  def ingest(
      spark: SparkSession,
      srcDir: String,
      storeRoot: String,
      latestDocId: Long,
      tierSizes: Seq[Long] = DefaultTierSizes,
      nowMillis: Long = System.currentTimeMillis(),
      numHashes: Int = Dedup.DefaultNumHashes,
      numBands: Int = Dedup.DefaultNumBands,
      thresholdE4: Long = Dedup.IncrementalLshThresholdE4,
      strictBatch: Boolean = false): IngestResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = Watermark.read(storeRoot, conf)
    val newPlan = Partitioner.plan(0L, latestDocId, tierSizes)
    val oldPlan = prev match {
      case Some(w) => Partitioner.plan(0L, w.latestBlock, tierSizes)
      case None    => Vector.empty
    }
    val work = Partitioner.worklist(newPlan, oldPlan)
    val prevCov = coverage(oldPlan)
    val newCov = coverage(newPlan)
    val tDir = Partitioner.tableDir(storeRoot, Subgraph, Table)

    val iDir = Partitioner.tableDir(storeRoot, Subgraph, IndexTable)

    val docs = Tables.documents(spark, srcDir)
    // committed registry: the watermark-bounded plan's directories only
    val regDocs =
      if (oldPlan.isEmpty) docs.where(lit(false))
      else spark.read.parquet(
        oldPlan.map(p => Partitioner.partitionDir(tDir, p)): _*)
        .select(docs.columns.map(col): _*)
    // the committed INDEX, same watermark-bounded discipline — the
    // probe's registry triple derives from stored rows with zero
    // re-hashing of registry content
    val oldIdx =
      if (oldPlan.isEmpty)
        Dedup.registryIndexRows(docs.where(lit(false)), numHashes)
      else spark.read.parquet(
        oldPlan.map(p => Partitioner.partitionDir(iDir, p)): _*)
    // persisted and EAGERLY materialized by the count: filling the
    // cache inside the probe's first severing stage instead (lazy
    // persist) measured 2→13 s on that stage at the 1000× replica —
    // the columnar cache build contends with the hash+shuffle work for
    // execution memory; a dedicated fill pass is cheaper than the
    // contention it avoids
    val newDocs = docs
      .where(col("doc_id") >= prevCov && col("doc_id") < newCov)
      .persist()
    val nSeen = newDocs.count()

    val (regBands, regSets, regHashes) =
      Dedup.registryIndexFromRows(oldIdx, numHashes, numBands)
    // verdicts are localCheckpoint-SEVERED (eager) before any store
    // write: the probe's plan reads the committed store/index parquet,
    // and a write under those table roots invalidates every cached plan
    // reading them (recacheByPath) — a merely-persisted verdict frame
    // would silently re-run the whole probe on its next use. Severing
    // fixes the verdict bytes here, before admitted rows land anywhere.
    //
    // Mode split, from 1000×-replica measurements (BUILDER_NOTES r13):
    // STRICT uses the artifacts variant — the per-doc cid makes the
    // strict filter and index rows join-cheap (admitted collapses to
    // content canonicals). DEFAULT uses the plain probe and re-hashes
    // admitted content for index rows — its admitted set is
    // batch-sized, and the fatter cid-joined verdict plan measured
    // ~25% slower end-to-end there, while the re-hash costs ~1 s per
    // 1.25M-doc run (map-side parallel, no shuffle added).
    val (vRaw, cont) =
      if (strictBatch) Dedup.incrementalLshProbeArtifacts(
        newDocs.select(col("doc_id"), col("text")),
        regBands, regSets, regHashes, numHashes, numBands, thresholdE4)
      else (Dedup.incrementalLshProbe(
        newDocs.select(col("doc_id"), col("text")),
        regBands, regSets, regHashes, numHashes, numBands, thresholdE4), null)
    // LAZY severing: the fused allAdmitted/allIdx cache fill below is the
    // first action touching the verdict frame, so it materializes AND
    // checkpoints the probe there, strictly BEFORE any store write (the
    // severing contract is unchanged — only the job that pays for it
    // moved; the eager form ran a dedicated per-batch checkpoint job)
    val verdictsCh = vRaw.localCheckpoint(false)

    // is_dup is a function of the content, so the batch canonical per
    // content (cid, from the probe's collapse) IS the min admitted doc
    // id — the strict face needs no second hash + window pass
    val admittedIds = verdictsCh.where(
      if (strictBatch) !col("is_dup") && col("doc_id") === col("cid")
      else !col("is_dup"))
    val admittedNew = newDocs
      .join(admittedIds.select("doc_id"), Seq("doc_id"), "left_semi")
    // merge: committed rows below the old coverage + this run's
    // admitted rows above it; each worklist directory takes its slice.
    // Index rows follow the same merge; consolidated tiles LIFT
    // committed docs' stored rows instead of re-deriving them
    val allAdmitted = regDocs.unionByName(admittedNew).persist()
    val newIdx =
      if (strictBatch) indexRowsFromProbe(admittedIds, cont)
      else indexRowsFor(admittedNew, numHashes)
    val allIdx = oldIdx.unionByName(newIdx).persist()
    // ONE fused fill job for both table frames (was two sequential
    // count() jobs): the union's branches materialize in parallel, the
    // probe's lazy checkpoint severs here (before any write), and the
    // shared newDocs/verdict blocks fill once under the block locks
    Dedup.fillCaches(allAdmitted, allIdx)
    // One-job tiled sink (ONE distributed job per table, not a
    // sequential per-tile driver loop): computed tile tag + dynamic-
    // partition overwrite, one sorted fragment per worklist directory.
    // The persisted allAdmitted/allIdx frames are each scanned exactly
    // once per table write instead of once per tile.
    // admitted tally BEFORE the writes: the bulk jobs below invalidate
    // cached plans under the table roots, and a post-write count would
    // recompute the probe chain from files
    val nAdmitted = admittedIds.count()
    // The store and index chains — bulk tiled write, then the plan-scoped
    // incremental `_metadata` summary (K2 composed in: only this run's
    // fragments get their footers read; unchanged tiles' row groups are
    // lifted from the previous `_metadata` — O(new fragments), not
    // O(store)) — are INDEPENDENT per-table job chains over already-
    // filled caches writing to disjoint directories. Submitting them from
    // two driver threads (guide §2.6) lets the index chain back-fill the
    // store chain's task tails. Per-table ordering (write, THEN metadata,
    // both before the commit point so a crash re-summarizes with the
    // re-run) is preserved inside each chain; the watermark commit below
    // still happens strictly after BOTH chains complete.
    def tableChain(frame: DataFrame, dir: String): Unit = {
      BulkWriter.writeTiles(spark, frame, "doc_id", work, dir)
      if (work.nonEmpty) MetadataSink.writeMetadata(dir, newPlan, work, conf): Unit
    }
    // a chain failure surfaces as itself, aborting before the commit
    // point, and only after the sibling chain has stopped writing
    graft.Parallel.all(spark.sparkContext, 2)(
      Seq(tDir -> allAdmitted, iDir -> allIdx).map {
        case (dir, frame) => () => tableChain(frame, dir)
      })

    // THE commit point — everything above is redoable, nothing below
    val wm = Watermark(Subgraph, Table, nowMillis, 0L, latestDocId)
    Watermark.commit(storeRoot, wm, conf)
    // Superseded tiles (smaller tiers a consolidated tile now covers) go
    // only AFTER the commit: until then they are the committed plan's
    // directories, which a crashed run's re-run reads as its registry. A
    // crash between commit and prune leaves them to the next run's prune.
    Seq(tDir, iDir).foreach(MetadataSink.pruneStalePartitions(_, newPlan, conf))
    newDocs.unpersist()
    allAdmitted.unpersist()
    allIdx.unpersist()
    IngestResult(work, nSeen, nAdmitted, verdictsCh.drop("cid"), wm,
      verdictsCh)
  }

  /** Index rows for admitted docs, assembled from the probe's OWN
    * artifacts (verdicts carrying `ch`/`cid`, the severed content frame
    * with `sig`/`sset`): `(doc_id, ch)` for every admitted doc,
    * `sig`/`sset` only for the content canonical — the same rows
    * [[indexRowsFor]] computes, with zero re-hashing. Admission is a
    * function of content, so for admitted content `cid` is the min
    * admitted doc id (pinned in IngestionPipelineSpec).
    */
  private[graft] def indexRowsFromProbe(admittedIds: DataFrame,
      cont: DataFrame): DataFrame =
    admittedIds.select(col("doc_id"), col("cid"))
      // (ch, cid) is 1:1 in cont, so the 8-byte cid both keys the join
      // and recovers the content hash the index row stores
      .join(cont.select(col("cid"), col("ch"), col("sig"), col("sset")),
        Seq("cid"))
      .select(col("doc_id"), col("ch"),
        // cast to the parquet read-back element nullability, same as
        // registryIndexRows — a strict _metadata merge rejects
        // containsNull drift across tiles
        when(col("doc_id") === col("cid"), col("sig"))
          .cast("array<bigint>").as("sig"),
        when(col("doc_id") === col("cid"), col("sset"))
          .cast("array<string>").as("sset"))

  /** Admitted-index rows recomputed from the admitted docs' text:
    * `(doc_id, ch)` for every doc, `sig`/`sset` only for the batch's
    * CANONICAL per content (min doc id — stable forever, since
    * admission guarantees a batch's content is new to the registry).
    * The probe only ever reads canonical sig/sset
    * ([[Dedup.registryIndexFromRows]]), and under mass in-batch
    * duplication the shingle arrays of the copies would be the index's
    * whole weight. Used by the DEFAULT ingestion face and the streaming
    * twin — re-hashing is map-side parallel and measured ~1 s per
    * 1.25M-doc run; the strict face uses [[indexRowsFromProbe]]
    * instead (IngestionPipelineSpec pins the two row-identical).
    */
  def indexRowsFor(admitted: DataFrame,
      numHashes: Int = Dedup.DefaultNumHashes): DataFrame =
    // canonical-only sig/sset is now [[Dedup.registryIndexRows]]'s own
    // contract (one content-hash window pass), so the former
    // hash-window + canonical-recurse + left-join composition here
    // collapsed into the kernel call — one corpus pass, zero joins,
    // identical rows (IngestionPipelineSpec pins them against
    // indexRowsFromProbe and registryIndexOver)
    Dedup.registryIndexRows(admitted.select(col("doc_id"), col("text")),
      numHashes)

  /** The committed admitted store: rows of every partition directory in
    * the CURRENT watermark's plan (none → empty frame with the
    * documents schema).
    */
  def committedStore(spark: SparkSession, srcDir: String, storeRoot: String,
      tierSizes: Seq[Long] = DefaultTierSizes): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val docs = Tables.documents(spark, srcDir)
    Watermark.read(storeRoot, conf) match {
      case None => docs.where(lit(false))
      case Some(w) =>
        val plan = Partitioner.plan(0L, w.latestBlock, tierSizes)
        if (plan.isEmpty) docs.where(lit(false))
        else {
          val tDir = Partitioner.tableDir(storeRoot, Subgraph, Table)
          spark.read.parquet(plan.map(p => Partitioner.partitionDir(tDir, p)): _*)
            .select(docs.columns.map(col): _*)
        }
    }
  }
}

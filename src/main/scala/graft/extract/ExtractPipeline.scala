package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Transforms
import graft.model.{ExtractConfig, TableConfig}
import graft.plans.{Partition, Partitioner, Watermark}
import graft.sinks.Fs

/** The reference's extraction pipeline (`extract`, cli.py:275-339),
  * re-expressed over Spark:
  *
  *  1. catalog discovery (S3) → deployment + indexed block range
  *  2. config written once, verified immutable on re-runs (K4)
  *  3. previous watermark read (K5)
  *  4. per table: hierarchical plan (R1) minus previous plan (A2) =
  *     work-list; each missing partition is scanned (S1), transformed
  *     (E1-E7), sorted, and written as one parquet fragment (K1/O1)
  *  5. per table: `_metadata` summary rewritten (K2)
  *  6. watermark committed LAST (K5) — the crash-consistency point: a
  *     failed run re-plans from the old watermark and re-extracts its
  *     partitions; deterministic content + per-directory overwrite make
  *     the retry idempotent. Progress is never inferred from files on
  *     disk (the reference's regression-tested bug,
  *     tests/test_get_column_info.py:181-225).
  *
  * Scale note: the reference runs partitions sequentially on one
  * thread. Here [[BulkWriter]] writes a table's work list in one of two
  * shapes, picked by its size ([[DefaultBulkThreshold]]); both give each
  * partition directory one fragment, stably sorted on `_block_number`,
  * so partition *content* stays deterministic.
  */
object ExtractPipeline {

  final case class TableResult(table: String, written: Vector[Partition],
      fragments: Int, rowsWritten: Long)
  final case class ExtractResult(outputRoot: String, tables: Seq[TableResult],
      watermark: Watermark)

  /** Work lists at or above this size are written by
    * [[BulkWriter.writeTiles]] (one job over one scan of the union
    * range); shorter ones by [[BulkWriter.writeEachTile]] (one scan and
    * one job per partition). Each shape wins on its own side, measured
    * with the `etlbench` workloads on a 4-core box, each forced shape
    * interleaved with this pick: with every write in one job (threshold
    * 1), the one-partition `head_follow` tick got 59% slower (median
    * 0.41 → 0.65 s, slower in all 8 pairs; the one-job shape still
    * compiles its tile tag, the per-tile shape compiles nothing); with
    * every write per partition (threshold ∞), a `backfill` op (16
    * partitions per table) took 7.0-8.8 s instead of 2.0-2.1 s.
    */
  val DefaultBulkThreshold = 16

  /** Tables are independent datasets (disjoint directories, no shared
    * state besides the read-only catalog), so their extract jobs are
    * submitted concurrently, this many in flight — Spark's scheduler
    * interleaves the jobs' tasks across the cluster, which matters when
    * many small tables would otherwise serialize driver-side planning
    * and job setup (the reference is fully sequential, cli.py:296-328).
    */
  val DefaultTableParallelism = 4

  def extract(
      spark: SparkSession,
      source: EntitySource,
      config: ExtractConfig,
      outputLocation: String,
      nowMillis: Long = System.currentTimeMillis()): ExtractResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cat = source.catalog(spark).getOrElse(config.subgraph,
      throw new IllegalArgumentException(
        s"subgraph '${config.subgraph}' not found in catalog"))

    val root = s"${outputLocation.stripSuffix("/")}/${config.name}/${config.version}"

    // K4: config immutability
    val cfgPath = s"$root/config.json"
    Fs.readString(cfgPath, conf) match {
      case Some(existing) => ExtractConfig.requireUnchanged(existing, config)
      case None           => Fs.writeString(cfgPath, ExtractConfig.toJson(config), conf)
    }

    // K5: previous watermark bounds the already-extracted plan
    val prev = Watermark.read(root, conf)

    def runTable(table: String, tc: TableConfig): TableResult = {
      val newPlan = Partitioner.plan(cat.earliestBlock, cat.latestBlock, tc.partitionSizes)
      val oldPlan = prev match {
        case Some(w) => Partitioner.plan(w.earliestBlock, w.latestBlock, tc.partitionSizes)
        case None    => Vector.empty
      }
      val work = Partitioner.worklist(newPlan, oldPlan)
      val types = source.columnTypes(spark, cat.schemaName, table)
      val tDir = Partitioner.tableDir(root, config.subgraph, table)
      def scan(start: Long, end: Long): DataFrame = Transforms.convertColumns(
        source.scanRange(spark, cat.schemaName, table, start, end), types, tc)
      val rowsWritten =
        if (work.size >= DefaultBulkThreshold)
          BulkWriter.writeTiles(spark,
            scan(work.map(_.start).min, work.map(_.end).max),
            Transforms.BlockColumn, work, tDir)
        else BulkWriter.writeEachTile(Transforms.BlockColumn, work, tDir)(
          p => scan(p.start, p.end))
      // `_metadata` (K2) is built from the CURRENT plan's partitions
      // only (cli.py:328 writes it from the run's partition list), and
      // BEFORE superseded partitions (smaller tiers now covered by a
      // larger one) are pruned: a failure between the two steps then
      // leaves an old `_metadata` whose fragments all still exist.
      val fragments = MetadataSink.writeMetadata(tDir, newPlan, work, conf)
      MetadataSink.pruneStalePartitions(tDir, newPlan, conf)
      TableResult(table, work, fragments, rowsWritten)
    }

    val tableSeq = config.tables.toSeq.sortBy(_._1)
    // input (table-name) order in the result; any table's failure stops
    // the siblings and propagates before the watermark commit below
    val results = graft.Parallel.all(spark.sparkContext, DefaultTableParallelism)(
      tableSeq.map { case (t, tc) => () => runTable(t, tc) })

    // K5 commit point — strictly after all tables succeeded.
    val wm = Watermark(config.subgraph, cat.deployment, nowMillis,
      cat.earliestBlock, cat.latestBlock)
    Watermark.commit(root, wm, conf)
    ExtractResult(root, results, wm)
  }
}

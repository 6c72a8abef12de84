package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * thread; here each partition's scan→transform→sort→write is a Spark
  * job (distributed within the partition), and the per-partition loop
  * itself is embarrassingly parallel — partitions never overlap, so a
  * scheduler may run them concurrently. Partition *content* stays
  * deterministic: stable sort on `_block_number` and single-fragment
  * output per partition directory.
  */
object ExtractPipeline {

  final case class TableResult(table: String, written: Vector[Partition],
      fragments: Int, rowsWritten: Long)
  final case class ExtractResult(outputRoot: String, tables: Seq[TableResult],
      watermark: Watermark)

  /** Work-lists at or above this size are written by [[writeBulk]] (one
    * distributed job) instead of the per-partition loop; the loop keeps
    * tiny incremental runs cheap (no broadcast/range-join overhead) and
    * mirrors the reference exactly.
    */
  val DefaultBulkThreshold = 16

  /** Tables are independent datasets (disjoint directories, no shared
    * state besides the read-only catalog), so their extract jobs can be
    * submitted concurrently — Spark's scheduler interleaves the jobs'
    * tasks across the cluster, which matters when many small tables
    * would otherwise serialize driver-side planning and job setup (the
    * reference is fully sequential, cli.py:296-328). Default 4 in
    * flight; 1 reproduces the reference's sequential behavior exactly.
    */
  val DefaultTableParallelism = 4

  def extract(
      spark: SparkSession,
      source: EntitySource,
      config: ExtractConfig,
      outputLocation: String,
      nowMillis: Long = System.currentTimeMillis(),
      bulkThreshold: Int = DefaultBulkThreshold,
      tableParallelism: Int = DefaultTableParallelism): ExtractResult = {
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
      def convert(raw: DataFrame): DataFrame =
        Transforms.convertColumns(raw, types, tc)
      // rows-written rides the write itself via `observe` (zero extra
      // scans) — the per-run tally a production pipeline reconciles
      // against the sink's own accounting (see the _metadata check in
      // ExtractPipelineSpec)
      val rowsWritten: Long =
        if (work.size >= bulkThreshold)
          writeBulk(spark, source, cat.schemaName, table, convert, work, tDir)
        else work.map { p =>
          // O1 determinism: one sorted fragment per partition directory
          // (partition tier sizing — not file-count knobs — controls
          // fragment size, mirroring the reference's one-file contract).
          val (df, obs) = graft.sinks.Metrics.observed(
            convert(source.scanRange(spark, cat.schemaName, table, p.start, p.end)),
            s"extract-$table-${p.size}-${p.start}",
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("rows"))
          df.repartition(1)
            .sortWithinPartitions(Transforms.BlockColumn)
            .write.mode("overwrite")
            .parquet(Partitioner.partitionDir(tDir, p))
          // an empty partition folds to an empty LocalRelation and the
          // CollectMetrics node is pruned with it — the observation then
          // completes with NO metrics, which is exactly zero rows
          obs.get.getOrElse("rows", 0L).asInstanceOf[Long]
        }.sum
      // Superseded partitions (smaller tiers now covered by a larger
      // one after the range grew) are pruned so whole-directory readers
      // never double-count; `_metadata` (K2) is then built from the
      // CURRENT plan's partitions only, matching the reference
      // (cli.py:328 writes it from the run's partition list).
      MetadataSink.pruneStalePartitions(tDir, newPlan, conf)
      // incremental: only this run's fragments get their footers read;
      // unchanged partitions' row groups come from the previous _metadata
      val fragments = MetadataSink.writeMetadata(tDir, newPlan, work, conf)
      TableResult(table, work, fragments, rowsWritten)
    }

    val tableSeq = config.tables.toSeq.sortBy(_._1)
    val par = tableParallelism.min(tableSeq.size).max(1)
    val results: Seq[TableResult] =
      if (par <= 1) tableSeq.map { case (t, tc) => runTable(t, tc) }
      else
        // input (table-name) order in the result; any table's failure
        // stops the siblings and propagates before the watermark commit
        // below — crash consistency is unchanged
        graft.Parallel.all(spark.sparkContext, par)(
          tableSeq.map { case (t, tc) => () => runTable(t, tc) })

    // K5 commit point — strictly after all tables succeeded.
    val wm = Watermark(config.subgraph, cat.deployment, nowMillis,
      cat.earliestBlock, cat.latestBlock)
    Watermark.commit(root, wm, conf)
    ExtractResult(root, results, wm)
  }

  /** Bulk sink: the whole work-list in ONE distributed job. One scan
    * covers the union range (predicate still pushed down); rows are
    * tagged with their target partition via a broadcast range-join
    * against the (tiny) plan; a hash repartition on the partition key
    * puts each partition's rows in exactly one task, so the
    * partitionBy writer emits the same one-sorted-fragment-per-
    * directory layout as the loop. Dynamic partition overwrite replaces
    * only the touched directories — old partitions are untouched, and
    * crashed re-runs stay idempotent.
    *
    * At 100 TB this is the difference between thousands of serialized
    * driver-scheduled jobs and one job whose tasks fan out across the
    * cluster. (The largest tier bounds per-task data — tier sizing is
    * the skew control.)
    */
  private def writeBulk(
      spark: SparkSession,
      source: EntitySource,
      schemaName: String,
      table: String,
      convert: DataFrame => DataFrame,
      work: Vector[Partition],
      tDir: String): Long = {
    val lo = work.map(_.start).min
    val hi = work.map(_.end).max
    val converted = convert(source.scanRange(spark, schemaName, table, lo, hi))
    val (tagged, obs) = graft.sinks.Metrics.observed(
      BulkWriter.tag(spark, converted, Transforms.BlockColumn, work),
      s"extract-bulk-$table",
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    BulkWriter.writeTagged(spark, tagged, Transforms.BlockColumn,
      converted.schema, work, tDir)
    // same empty-plan caveat as the loop path: no metrics == zero rows
    obs.get.getOrElse("rows", 0L).asInstanceOf[Long]
  }
}

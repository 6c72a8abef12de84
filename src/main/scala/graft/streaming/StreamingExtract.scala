package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.extract.BulkWriter
import graft.functions.Transforms
import graft.model.TableConfig
import graft.plans.Partition

/** Streaming variant of the extraction sink: entity rows arrive as a
  * file stream (new parquet drops = new block ranges — how a graph-node
  * exporter would land increments); each micro-batch is transformed
  * with the same `convert_columns` core and merged into the SAME
  * hierarchical partition layout via foreachBatch and
  * [[graft.extract.BulkWriter.writeTiles]].
  *
  * This is the `Trigger.AvailableNow`/continuous twin of
  * `extract.ExtractPipeline`: the Structured Streaming checkpoint
  * replaces the watermark file (offsets tracked per source file), while
  * the on-disk contract — Hive-style
  * `partition_size=/start_partition=/end_partition=` directories —
  * is unchanged, so batch readers can't tell which pipeline wrote a
  * partition.
  *
  * Exactly-once-looking output from at-least-once micro-batches: a
  * batch's touched partitions are rewritten as merge(existing, batch)
  * deduplicated on the entity key, so both micro-batch REPLAY (same
  * rows again) and partitions STRADDLING two batches converge to the
  * same content. Streams write one (small) tier; compaction into
  * larger tiers is the batch pipeline's job — mirroring the
  * reference's size-hierarchy rationale (small files at the head,
  * superseded later).
  */
object StreamingExtract {

  /** Drain all currently-available input into the dataset. */
  def run(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      databaseTypes: Map[String, String],
      table: TableConfig,
      tierSize: Long,
      tableDir: String,
      checkpoint: String,
      dedupeKeys: Seq[String]): Unit = {
    val raw = spark.readStream.schema(sourceSchema).parquet(sourceDir)
      .where(col("block_lower").isNotNull)
      .withColumn("_block_number", col("block_lower"))
      .drop("vid", "block_lower", "block_upper")
    val q = raw.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeBatch(batch, databaseTypes, table, tierSize, tableDir, dedupeKeys)
      }
      .start()
    q.awaitTermination()
  }

  private[streaming] def writeBatch(
      batch: DataFrame,
      databaseTypes: Map[String, String],
      table: TableConfig,
      tierSize: Long,
      tableDir: String,
      dedupeKeys: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val converted = Transforms.convertColumns(batch, databaseTypes, table)
    if (converted.isEmpty) return
    // merge with the touched partitions' current content (partition
    // pruning limits the read to exactly those directories)
    val touched = converted
      .select(expr(s"(${Transforms.BlockColumn} div $tierSize) * $tierSize"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val existing =
      if (!graft.sinks.Fs.exists(tableDir, spark.sparkContext.hadoopConfiguration))
        None // first batch: no dataset yet
      else Some(spark.read.parquet(tableDir)
        // both keys: a batch-written LARGER tier can share a start value
        // with this stream's tier — filtering on start alone would pull
        // foreign-tier rows into the merge and rewrite (migrate) them
        // into this tier's directories
        .where(col(BulkWriter.SizeCol).cast(LongType) === tierSize &&
          col(BulkWriter.StartCol).cast(LongType).isin(touched: _*))
        .select(converted.columns.map(col).toIndexedSeq: _*))
    val merged = existing.fold(converted)(converted.unionByName(_))
      .dropDuplicates(dedupeKeys :+ Transforms.BlockColumn)
      // Spark refuses to overwrite a path present in the read lineage;
      // the micro-batch-sized localCheckpoint materializes the merge
      // and severs the scan of tableDir before the overwrite.
      .localCheckpoint(true)
    BulkWriter.writeTiles(spark, merged, Transforms.BlockColumn,
      touched.map(s => Partition(tierSize, s, s + tierSize)), tableDir): Unit
  }
}

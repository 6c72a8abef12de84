package graft.extract

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{Partition, Partitioner}
import graft.sinks.Metrics

/** The tiled parquet sink of [[ExtractPipeline]], [[IngestionPipeline]]
  * and [[graft.streaming.StreamingExtract]], and the one module that
  * knows the tile layout: one fragment per
  * `partition_size=/start_partition=/end_partition=` directory, sorted by
  * the key column (reference layout: subgraph_extractor/cli.py:189-197);
  * every work tile's directory readable with the full schema, even when
  * the tile holds no rows (E7); rows written tallied by an `observe` on
  * the write itself, with no extra scan.
  *
  * Two shapes write that layout, and both stay because each wins on one
  * side of the work-list size ([[ExtractPipeline.DefaultBulkThreshold]]):
  *  - [[writeEachTile]] runs one job per tile over that tile's own frame:
  *    one stage, no shuffle, the tile's scan in a single task;
  *  - [[writeTiles]] writes the whole work list in ONE job over one frame.
  *    A hash repartition on the tile key puts each tile's rows in exactly
  *    one task. Dynamic partition overwrite replaces only the touched
  *    directories, keeping crashed re-runs idempotent. At 100 TB this is
  *    the difference between thousands of serialized driver-scheduled
  *    jobs (each re-scanning its input slice) and one job whose tasks fan
  *    out across the cluster over a single scan. The largest tier bounds
  *    per-task data — tier sizing is the skew control.
  */
object BulkWriter {

  val SizeCol = "partition_size"
  val StartCol = "start_partition"
  val EndCol = "end_partition"

  /** Per-tile shape: tile `p` gets `frame(p)`, sorted, as its directory's
    * only fragment (an empty frame still writes one schema-carrying
    * fragment). Overwrite mode replaces whatever the directory held.
    * Returns the rows written.
    *
    * Each tile is ONE Spark job: `coalesce(1)` folds the frame's
    * partitions into one task, so scan, sort and write run as a single
    * stage with no shuffle; a one-partition shuffle would make it two
    * AQE jobs (the map stage, then the sort and write). The trade-off: the
    * tile's scan runs in one task, not one per input split, and a
    * [[ParquetEntitySource]] scan opens every file footer of its table
    * (it prunes row groups, not files). Against `repartition(1)`, with
    * `etlbench` on 4 cores (interleaved pairs, median `op_p50_s`), the
    * one task was ahead or level on every traffic tried:
    *  - `head_follow` at 4 files per table: 0.43 vs 0.48 s (7 of 8);
    *    at 64: 0.91 vs 0.94 s (7 of 10); at 256: 1.83 vs 2.11 s (7 of 8);
    *  - a first extract forced onto this shape (16 tiles per table, five
    *    of 8192 blocks): 9.7 vs 9.9 s at 64 files (6 of 10); with 16x
    *    the rows at 4 files, 9.5 vs 10.4 s (6 of 8).
    * The tables of a run write concurrently, so their one-task scans
    * still share the cores. The file count costs both shapes alike: a
    * tick's footer reads grow with it either way.
    */
  def writeEachTile(keyCol: String, work: Seq[Partition], tDir: String)(
      frame: Partition => DataFrame): Long =
    work.map { p =>
      val dir = Partitioner.partitionDir(tDir, p)
      counted(frame(p), dir)(_.coalesce(1).sortWithinPartitions(keyCol)
        .write.mode("overwrite").parquet(dir))
    }.sum

  /** One-job shape: `df`'s rows go to the work tile whose range holds
    * their `keyCol`; rows of no work tile drop out. The task sort MUST
    * lead with every partitionBy column: FileFormatWriter otherwise
    * inserts its own (unstable) sort on the partition keys and the
    * within-fragment key order is lost (the BulkScaleSpec lesson).
    * Dynamic partition overwrite replaces only the tiles that receive
    * rows, each at job commit, so a failed write leaves every tile as it
    * was — a caller that cannot re-derive a tile's old rows (a stream
    * merging into it) loses nothing. The write observes which tiles got
    * rows; every other work tile gets an explicit schema-preserving
    * empty fragment (`partitionBy` skips empties) that overwrites
    * whatever a crashed prior run left in its directory. Returns the
    * rows written.
    */
  def writeTiles(spark: SparkSession, df: DataFrame, keyCol: String,
      work: Seq[Partition], tDir: String): Long = {
    if (work.isEmpty) return 0L
    val (observed, obs) = Metrics.observed(tag(df, keyCol, work), tDir,
      count(lit(1)).as("rows"),
      collect_set(struct(col(SizeCol), col(StartCol))).as("tiles"))
    observed
      .repartition(col(SizeCol), col(StartCol))
      .sortWithinPartitions(SizeCol, StartCol, EndCol, keyCol)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(SizeCol, StartCol, EndCol)
      .parquet(tDir)
    // an empty frame completes the observation with NO metrics (see
    // `counted`): zero rows, no tile filled
    val metrics = obs.get
    val filled = metrics.get("tiles").toSeq
      .flatMap(_.asInstanceOf[Seq[Row]])
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emptyDf = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      df.schema)
    work.filterNot(p => filled((p.size, p.start))).foreach { p =>
      emptyDf.coalesce(1).write.mode("overwrite")
        .parquet(Partitioner.partitionDir(tDir, p))
    }
    metrics.getOrElse("rows", 0L).asInstanceOf[Long]
  }

  /** Runs `write` over `df` with a row tally observed on it. An empty
    * frame folds to an empty LocalRelation and the CollectMetrics node is
    * pruned with it — the observation then completes with NO metrics,
    * which is exactly zero rows.
    */
  private def counted(df: DataFrame, name: String)(
      write: DataFrame => Unit): Long = {
    val (observed, obs) = Metrics.observed(df, name, count(lit(1)).as("rows"))
    write(observed)
    obs.get.getOrElse("rows", 0L).asInstanceOf[Long]
  }

  /** Range-tag: each row of `df` gains its target tile's
    * `(partition_size, start_partition, end_partition)`. Rows covered
    * by no work tile drop out — exactly the rows this work-list does
    * not own.
    *
    * Tiles must be tier-ALIGNED (`start % size == 0`), as every
    * [[Partitioner.plan]] tile is, so the owning tile is COMPUTED per row
    * — `start = key - pmod(key, size)` per tier, accepted iff that start
    * is in the tier's work-set (an `InSet` literal probe; work lists are
    * driver-sized). Everything stays inside whole-stage codegen: a
    * range-join against the plan would be a BroadcastNestedLoopJoin,
    * which falls out of codegen and row-copies the full payload (text,
    * shingle arrays) per probe — measurably brutal at replica scale.
    * Tier precedence is widest-first, though plan disjointness means at
    * most one tier can match.
    */
  private def tag(df: DataFrame, keyCol: String,
      work: Seq[Partition]): DataFrame = {
    require(work.forall(p => p.start % p.size == 0),
      s"tiles must start on a multiple of their size: " +
        work.filter(p => p.start % p.size != 0).mkString(", "))
    val k = col(keyCol)
    val byTier = work.groupBy(_.size).view.mapValues(_.map(_.start)).toMap
    val cands = byTier.keys.toSeq.sorted(Ordering[Long].reverse).map { s =>
      val st = (k - pmod(k, lit(s))).cast("long")
      when(st.isin(byTier(s): _*), struct(lit(s).as("s"), st.as("st")))
    }
    df.withColumn("__tile", coalesce(cands :+ lit(null): _*)
        .cast("struct<s:bigint,st:bigint>"))
      .where(col("__tile").isNotNull)
      .withColumn(SizeCol, col("__tile.s"))
      .withColumn(StartCol, col("__tile.st"))
      .withColumn(EndCol, col(SizeCol) + col(StartCol))
      .drop("__tile")
  }
}

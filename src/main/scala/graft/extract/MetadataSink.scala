package graft.extract

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}

import graft.plans.Partition

/** `_metadata` summary sink (K2, reference cli.py:245-273): collect the
  * footer of every data fragment in a table's current plan and write one
  * combined `_metadata` file, so planners can enumerate row groups and
  * stats without listing or opening fragments.
  *
  * Spark itself only writes `_SUCCESS`; this uses parquet-hadoop's
  * writeMetadataFile, which rewrites fragment paths relative to the
  * output directory — the same relative-path contract the reference
  * implements by hand (cli.py:259-268).
  */
object MetadataSink {

  /** Delete partition directories under `tableDir` that are provably
    * SUPERSEDED by the current plan: a directory `[start, end)` of tier
    * `size` is stale only when some plan partition of a STRICTLY larger
    * tier fully covers it (`p.size > size && p.start <= start &&
    * end <= p.end`) — i.e. its rows are guaranteed to also exist inside a
    * bigger fragment written by this plan. Everything else survives:
    *  - partitions past the plan's aligned end (e.g. head partitions
    *    written by [[graft.streaming.StreamingExtract]] sharing the same
    *    table directory — their source rows are already consumed and
    *    unrecoverable),
    *  - tiers not present in the plan's `partitionSizes`,
    *  - any directory whose segments don't parse as a partition,
    *  - committed data when the catalog's block range regresses (reorg):
    *    a shrunken plan covers nothing it didn't write.
    * The reference never deletes files at all (cli.py:328); pruning here
    * is purely the supersede cleanup, so it must never be lossy.
    * Returns the deleted directories. Safe after a successful extract:
    * plan content is deterministic and the watermark commits later, so a
    * crash between write and prune, or inside prune, just re-prunes next
    * run (idempotent): the walk also drops the `partition_size=` and
    * `start_partition=` directories it finds empty.
    */
  def pruneStalePartitions(tableDir: String, plan: Seq[Partition],
      conf: Configuration): Seq[String] = {
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    val planSet = plan.map(_.relativePath).toSet
    def seg(name: String, prefix: String): Option[Long] =
      if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption
      else None
    def superseded(size: Long, start: Long, end: Long): Boolean =
      plan.exists(p => p.size > size && p.start <= start && end <= p.end)
    // one listing per directory of the tile tree; the intermediate
    // directories it finds empty (a crash between the deletes and the
    // drop below leaves them) are noted for that drop
    val bareSizes, bareStarts = mutable.ArrayBuffer.empty[Path]
    def subdirs(p: Path, bare: mutable.Buffer[Path]): Seq[Path] = {
      val ls = fs.listStatus(p)
      if (ls.isEmpty) bare += p
      ls.toSeq.filter(_.isDirectory).map(_.getPath)
    }
    val stale = for {
      sizeDir <- subdirs(dir, mutable.Buffer.empty)
      size <- seg(sizeDir.getName, "partition_size=").toSeq
      startDir <- subdirs(sizeDir, bareSizes)
      start <- seg(startDir.getName, "start_partition=").toSeq
      endDir <- subdirs(startDir, bareStarts)
      end <- seg(endDir.getName, "end_partition=").toSeq
      rel = s"${sizeDir.getName}/${startDir.getName}/${endDir.getName}"
      if !planSet.contains(rel) && superseded(size, start, end)
    } yield endDir
    stale.foreach(fs.delete(_, true))
    // drop the intermediate dirs left empty, so listings stay clean: the
    // parents of deleted tiles, and the ones the walk found empty
    def dropEmpty(dirs: Seq[Path]): Seq[Path] =
      dirs.distinct.filter(fs.listStatus(_).isEmpty).filter(fs.delete(_, false))
    dropEmpty(dropEmpty(stale.map(_.getParent) ++ bareStarts).map(_.getParent) ++ bareSizes)
    stale.map(_.toString)
  }

  private def listFragments(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      conf: Configuration): List[Path] = {
    val it = fs.listFiles(dir, true)
    Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next()).toList
      .filter { s =>
        val n = s.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath)
      .sortBy(_.toString)
  }

  /** Plan-scoped `_metadata`: summarizes ONLY fragments inside `plan`'s
    * partition directories, so fragments of superseded partitions (a
    * smaller tier now covered by a larger one) never appear and
    * `_metadata`-driven readers never see a block twice, even while
    * stale directories still exist on disk (the reference writes
    * `_metadata` from the current plan's partitions only, cli.py:328 +
    * cli.py:245-273).
    *
    * Incremental: footers of fragments under `written` partitions are
    * read fresh; every other plan partition's row-group metadata is
    * lifted out of the EXISTING `_metadata` file instead of re-opening
    * its fragments. An incremental run therefore does O(|new
    * fragments|) footer reads, not O(|all fragments|) — the difference
    * between a constant-cost head append and a full remote directory
    * sweep once a table holds thousands of fragments. With no
    * `_metadata` yet, every plan partition is read fresh. Output is
    * byte-equivalent to that full rebuild (covered by
    * ExtractPipelineSpec). Returns the number of fragments summarized.
    */
  def writeMetadata(tableDir: String, plan: Seq[Partition],
      written: Seq[Partition], conf: Configuration): Int = {
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(conf)
    val metaPath = new Path(dir, ParquetFileWriter.PARQUET_METADATA_FILE)
    val (kept, fresh) =
      if (!fs.exists(metaPath)) (Nil, plan)
      else (keptFooters(fs, dir, metaPath, plan, written, conf), written)
    val freshFooters = fresh.map(p => new Path(dir, p.relativePath))
      .filter(fs.exists)
      .flatMap(pd => listFragments(fs, pd, conf))
      .map { p =>
        new Footer(p, ParquetFileReader.readFooter(conf, p,
          ParquetMetadataConverter.NO_FILTER))
      }
    val footers = (kept ++ freshFooters).sortBy(_.getFile.toString)
    if (footers.nonEmpty)
      ParquetFileWriter.writeMetadataFile(conf, dir, footers.asJava)
    footers.size
  }

  /** Old `_metadata` blocks, grouped per fragment file, for the plan
    * partitions NOT rewritten this run.
    */
  private def keptFooters(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      metaPath: Path, plan: Seq[Partition], written: Seq[Partition],
      conf: Configuration): Seq[Footer] = {
    val old = ParquetFileReader.readFooter(conf, metaPath,
      ParquetMetadataConverter.NO_FILTER)
    val writtenPrefixes = written.map(_.relativePath)
    val keepPrefixes = plan.map(_.relativePath)
      .filterNot(writtenPrefixes.contains)
    old.getBlocks.asScala.toSeq
      .filter { b =>
        val p = b.getPath
        // segment-safe prefix: "end_partition=10" must not match
        // "end_partition=100/..."
        keepPrefixes.exists(pre => p.startsWith(pre + "/"))
      }
      .groupBy(_.getPath)
      .toSeq
      .map { case (rel, blocks) =>
        // qualify so kept and freshly-listed paths sort/relativize alike
        new Footer(fs.makeQualified(new Path(dir, rel)),
          new org.apache.parquet.hadoop.metadata.ParquetMetadata(
            old.getFileMetaData, blocks.asJava))
      }
  }

  /** Fragment file paths recorded in a `_metadata` file, resolved
    * against `tableDir` — the reader-side half of the summary contract:
    * a planner enumerates exactly the fragments the writer summarized,
    * without listing the directory tree (reference readers build their
    * dataset from `_metadata` the same way,
    * tests/test_get_column_info.py:117-122).
    */
  def fragmentPaths(tableDir: String, conf: Configuration): Seq[String] = {
    val dir = new Path(tableDir)
    val p = new Path(dir, ParquetFileWriter.PARQUET_METADATA_FILE)
    // zero-fragment tables legitimately have no _metadata (the writer
    // skips empty footer lists) — that's "no fragments", not an error
    if (!dir.getFileSystem(conf).exists(p)) return Nil
    val meta = ParquetFileReader.readFooter(conf, p, ParquetMetadataConverter.NO_FILTER)
    meta.getBlocks.asScala.map(_.getPath).distinct.toSeq
      .map(rel => new Path(dir, rel).toString)
  }

  /** Total row count recorded in a `_metadata` file — the cheap
    * "plan without opening fragments" read path.
    */
  def rowCountFromMetadata(tableDir: String, conf: Configuration): Long = {
    val p = new Path(tableDir, ParquetFileWriter.PARQUET_METADATA_FILE)
    if (!p.getFileSystem(conf).exists(p)) return 0L
    val meta = ParquetFileReader.readFooter(conf, p, ParquetMetadataConverter.NO_FILTER)
    meta.getBlocks.asScala.map(_.getRowCount).sum
  }
}

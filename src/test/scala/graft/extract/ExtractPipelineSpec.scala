package graft.extract

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.Transforms
import graft.functions.Transforms.BlockColumn
import graft.model.{ColumnMapping, ExtractConfig, TableConfig, TargetType}
import graft.plans.{Partitioner, Watermark}
import graft.sinks.Fs

/** End-to-end pipeline semantics, mirroring the reference's integration
  * suite (tests/test_get_column_info.py): catalog discovery, full
  * extract + read-back, `_metadata` equivalence, incremental append on
  * an advanced head, crash-recovery idempotence, empty-partition schema
  * fidelity, and config immutability.
  */
class ExtractPipelineSpec extends AnyFunSuite with SparkTestBase {

  import GraphNodeFixture._

  private val PartialLatest = 18888000L // covers only the first 2 rows
  private val FullLatest = 19000000L
  private val Tiers = Seq(524288L, 32768L)

  private def config(sizes: Seq[Long] = Tiers) = ExtractConfig(
    name = "my_extract_name",
    version = "0.0.1",
    subgraph = Subgraph,
    tables = Map(Table -> TableConfig(
      partitionSizes = sizes,
      columnMappings = Map("ask_price" -> Seq(
        ColumnMapping("ask_price_uint64", TargetType.UInt64,
          maxValue = Some(BigInt("18446744073709551615")),
          default = Some(BigInt(0)),
          validityColumn = Some("ask_price_valid")),
        ColumnMapping("ask_price_gwei", TargetType.UInt64,
          downscale = Some(BigInt(1000000000L))))))))

  /** The converted `[start, end)` scan of the fixture table under `src`,
    * as [[ExtractPipeline.extract]] builds it.
    */
  private def scanner(src: String): (Long, Long) => DataFrame = {
    val source = new ParquetEntitySource(src)
    val types = source.columnTypes(spark, Schema, Table)
    (start, end) => Transforms.convertColumns(
      source.scanRange(spark, Schema, Table, start, end), types, config().tables(Table))
  }

  private def tmp(): String =
    Files.createTempDirectory("graft-extract").toString

  private def tableDir(out: String) =
    Partitioner.tableDir(s"$out/my_extract_name/0.0.1", Subgraph, Table)

  test("catalog discovery matches the fixture (S3)") {
    val src = tmp()
    GraphNodeFixture.write(spark, src, FullLatest)
    val cat = new ParquetEntitySource(src).catalog(spark)
    assert(cat.keySet === Set(Subgraph))
    val e = cat(Subgraph)
    assert(e.deployment === Deployment)
    assert(e.schemaName === Schema)
    assert(e.network === "poa-sokol")
    assert(e.earliestBlock === EarliestBlock)
    assert(e.latestBlock === FullLatest)
  }

  test("table listing excludes tables without block_range (S4)") {
    val src = tmp()
    GraphNodeFixture.write(spark, src, FullLatest)
    val names = new ParquetEntitySource(src).tableNames(spark, Schema)
    assert(names === Seq(Table))
  }

  test("full extract: rows, schema, mappings, _metadata, watermark") {
    val src = tmp(); val out = tmp()
    GraphNodeFixture.write(spark, src, FullLatest)
    val res = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, nowMillis = 1000L)

    val df = spark.read.parquet(tableDir(out))
    assert(df.count() === 6)
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(fields("_block_number") === LongType)
    assert(fields("ask_price") === BinaryType) // uint256 carrier (E5)
    assert(fields("ask_price_uint64") === DecimalType(20, 0))
    assert(fields("ask_price_valid") === BooleanType)
    assert(fields("ask_price_gwei") === DecimalType(20, 0))
    assert(!fields.contains("vid") && !fields.contains("block_lower"))

    // mapping values: 1e19+i is < uint64 max → kept + valid
    val row = df.where(df("_block_number") === 18460372L)
      .select("ask_price", "ask_price_uint64", "ask_price_valid", "ask_price_gwei")
      .head()
    val carrier = row.getAs[Array[Byte]](0)
    assert(carrier.length === 32)
    assert(BigInt(1, carrier) === BigInt("10000000000000000000"))
    assert(row.getDecimal(1) === new java.math.BigDecimal("10000000000000000000"))
    assert(row.getBoolean(2))
    assert(row.getDecimal(3) === new java.math.BigDecimal("10000000000"))

    // _metadata row count equals direct read (reference :133-162)
    val metaRows = MetadataSink.rowCountFromMetadata(
      tableDir(out), spark.sparkContext.hadoopConfiguration)
    assert(metaRows === 6)
    // the observed write tally reconciles with the sink's own accounting
    assert(res.tables.map(_.rowsWritten).sum === metaRows)
    assert(res.watermark.latestBlock === FullLatest)
    assert(Watermark.read(s"$out/my_extract_name/0.0.1",
      spark.sparkContext.hadoopConfiguration).contains(res.watermark))
  }

  test("_metadata-driven read is frame-equal to the manual fragment list") {
    // mirrors reference tests/test_get_column_info.py:133-162: the
    // dataset reconstructed from the `_metadata` summary must equal the
    // dataset built from a manually-constructed partition file list,
    // row-for-row and column-for-column after sorting
    val src = tmp(); val out = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    GraphNodeFixture.write(spark, src, FullLatest)
    val res = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, 1L)

    val viaMetadata = MetadataSink.fragmentPaths(tableDir(out), conf)
    // manual list: walk the plan's partition dirs ourselves
    val manual = res.tables.head.written.flatMap { p =>
      val dir = new java.io.File(Partitioner.partitionDir(tableDir(out), p))
      dir.listFiles().toSeq.map(_.toString)
        .filter(f => f.endsWith(".parquet") && !f.contains("/_") && !f.contains("/."))
    }
    // `_metadata` rows come from merged row-group footers, so EMPTY
    // fragments (zero row groups) don't appear — same as the reference's
    // pyarrow `_metadata` dataset; every non-empty fragment must
    val metaSet = viaMetadata.map(_.stripPrefix("file:")).toSet
    assert(metaSet.subsetOf(manual.toSet))
    manual.filterNot(metaSet).foreach { f =>
      assert(spark.read.parquet(f).isEmpty, s"non-empty fragment missing from _metadata: $f")
    }

    def frame(paths: Seq[String]) = {
      val df = spark.read.parquet(paths: _*)
      df.select(df.schema.fieldNames.sorted.map { n =>
        if (df.schema(n).dataType == BinaryType)
          org.apache.spark.sql.functions.hex(df(n)).as(n)
        else df(n)
      }.toIndexedSeq: _*).orderBy("_block_number", "id").collect().map(_.toString)
    }
    val a = frame(viaMetadata)
    val b = frame(manual)
    assert(a.length === 6)
    assert(a === b)
  }

  test("incremental: partial head then advance appends only new partitions") {
    val src = tmp(); val out = tmp()
    GraphNodeFixture.write(spark, src, PartialLatest)
    val r1 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, nowMillis = 1L)
    assert(spark.read.parquet(tableDir(out)).count() === 2)
    val firstWritten = r1.tables.head.written.toSet
    assert(firstWritten.nonEmpty)

    // chain head advances
    GraphNodeFixture.write(spark, src, FullLatest)
    val r2 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, nowMillis = 2L)
    val secondWritten = r2.tables.head.written.toSet
    assert(secondWritten.nonEmpty)
    assert(firstWritten.intersect(secondWritten).isEmpty) // only NEW partitions
    assert(spark.read.parquet(tableDir(out)).count() === 6)

    // third run with nothing new: empty work-list
    val r3 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, nowMillis = 3L)
    assert(r3.tables.head.written.isEmpty)
  }

  test("crash recovery: lost partition is re-extracted from the watermark") {
    val src = tmp(); val out = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    GraphNodeFixture.write(spark, src, PartialLatest)
    ExtractPipeline.extract(spark, new ParquetEntitySource(src), config(), out, 1L)
    val oldWm = Fs.readString(
      Watermark.path(s"$out/my_extract_name/0.0.1"), conf).get

    GraphNodeFixture.write(spark, src, FullLatest)
    val r2 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, 2L)

    // simulate a crash mid-second-run: one new partition's data is lost
    // and the watermark never advanced
    val lost = r2.tables.head.written.head
    Fs.delete(Partitioner.partitionDir(tableDir(out), lost), conf)
    Fs.writeString(Watermark.path(s"$out/my_extract_name/0.0.1"), oldWm, conf)
    assert(spark.read.parquet(tableDir(out)).count() < 6)

    // re-run heals: progress comes from the watermark, not files on disk
    val r3 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, 3L)
    assert(r3.tables.head.written.toSet === r2.tables.head.written.toSet)
    assert(spark.read.parquet(tableDir(out)).count() === 6)
  }

  test("empty partitions are written with the full output schema (E7)") {
    val src = tmp(); val out = tmp()
    GraphNodeFixture.write(spark, src, FullLatest)
    val res = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, 1L)
    // the second 524288-tier partition [18350080, 18874368) holds rows
    // 18460372/18500000 only; find a partition with zero rows
    val empty = res.tables.head.written.find { p =>
      !GraphNodeFixture.EntityBlocks.exists(b => b >= p.start && b < p.end)
    }.get
    val df = spark.read.parquet(Partitioner.partitionDir(tableDir(out), empty))
    assert(df.count() === 0)
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(fields("ask_price") === BinaryType)
    assert(fields("ask_price_uint64") === DecimalType(20, 0))
    assert(fields("_block_number") === LongType)
  }

  test("bulk writer produces the loop writer's exact layout and content") {
    // both BulkWriter shapes over the same work list and source frames
    val src = tmp(); val outLoop = tmp(); val outBulk = tmp()
    GraphNodeFixture.write(spark, src, FullLatest)
    val scan = scanner(src)
    val work = Partitioner.plan(EarliestBlock, FullLatest, Tiers)
    val nLoop = BulkWriter.writeEachTile(BlockColumn, work, tableDir(outLoop))(
      p => scan(p.start, p.end))
    val nBulk = BulkWriter.writeTiles(spark,
      scan(work.head.start, work.last.end), BlockColumn, work, tableDir(outBulk))
    assert(nLoop === nBulk)
    MetadataSink.writeMetadata(tableDir(outBulk), work, work,
      spark.sparkContext.hadoopConfiguration)

    // identical partition directory sets
    def dirs(out: String): Set[String] = {
      val base = java.nio.file.Paths.get(tableDir(out))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("end_partition="))
        .map(p => base.relativize(p).toString).toSet
    }
    assert(dirs(outLoop) === dirs(outBulk))
    assert(dirs(outLoop).nonEmpty)

    // identical content, including per-fragment sort order (binary
    // columns hex-encoded — Row.toString prints array identity)
    def rows(out: String) = {
      val df = spark.read.parquet(tableDir(out))
      df.select(df.schema.fields.map { f =>
        if (f.dataType == BinaryType)
          org.apache.spark.sql.functions.hex(df(f.name)).as(f.name)
        else df(f.name)
      }.toIndexedSeq: _*).orderBy("_block_number").collect()
    }
    val a = rows(outLoop)
    val b = rows(outBulk)
    assert(a.map(_.toString) === b.map(_.toString))
    assert(a.length === 6 && nBulk === 6)
    assert(MetadataSink.rowCountFromMetadata(tableDir(outBulk),
      spark.sparkContext.hadoopConfiguration) === 6)
  }

  test("bulk incremental run only replaces its own partitions (dynamic overwrite)") {
    // the one-job shape, called directly: the fixture's work lists are
    // shorter than ExtractPipeline.DefaultBulkThreshold
    val src = tmp(); val out = tmp()
    GraphNodeFixture.write(spark, src, FullLatest)
    val scan = scanner(src)
    val plan1 = Partitioner.plan(EarliestBlock, PartialLatest, Tiers)
    val work2 = Partitioner.worklist(
      Partitioner.plan(EarliestBlock, FullLatest, Tiers), plan1)
    Seq(plan1, work2).foreach(w => BulkWriter.writeTiles(spark,
      scan(w.head.start, w.last.end), BlockColumn, w, tableDir(out)))
    assert(plan1.toSet.intersect(work2.toSet).isEmpty)
    // first-run partitions survived the second bulk write
    plan1.foreach { p =>
      assert(graft.sinks.Fs.exists(
        Partitioner.partitionDir(tableDir(out), p),
        spark.sparkContext.hadoopConfiguration))
    }
    assert(spark.read.parquet(tableDir(out)).count() === 6)
  }

  test("incremental _metadata equals a full rebuild") {
    val src = tmp(); val out = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    GraphNodeFixture.write(spark, src, PartialLatest)
    ExtractPipeline.extract(spark, new ParquetEntitySource(src), config(), out, 1L)
    GraphNodeFixture.write(spark, src, FullLatest)
    // second run goes through the incremental path (old _metadata exists)
    val r2 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, 2L)
    assert(r2.tables.head.written.nonEmpty)
    val incrPaths = MetadataSink.fragmentPaths(tableDir(out), conf)
    val incrRows = MetadataSink.rowCountFromMetadata(tableDir(out), conf)
    // rebuild from scratch over the same plan and compare: with no
    // `_metadata`, every plan partition is read fresh, whatever was written
    val fullPlan = Partitioner.plan(GraphNodeFixture.EarliestBlock, FullLatest, Tiers)
    Fs.delete(s"${tableDir(out)}/_metadata", conf)
    MetadataSink.writeMetadata(tableDir(out), fullPlan, Nil, conf)
    assert(MetadataSink.fragmentPaths(tableDir(out), conf) === incrPaths)
    assert(MetadataSink.rowCountFromMetadata(tableDir(out), conf) === incrRows)
    assert(incrRows === 6)
  }

  test("concurrent table extraction matches sequential output") {
    // the 3-table run extracts its tables concurrently; each 1-table run
    // has its table to itself, so together they are the sequential run
    val tables = (Table +: Seq("table_b", "table_c")).sorted
    val mk = (ts: Seq[String]) => ExtractConfig(
      name = "my_extract_name", version = "0.0.1", subgraph = Subgraph,
      tables = ts.map(_ -> TableConfig(Tiers)).toMap)
    val src = tmp(); val outPar = tmp()
    GraphNodeFixture.write(spark, src, FullLatest,
      extraTables = tables.filterNot(_ == Table))
    val rSeq = tables.map(t => ExtractPipeline.extract(spark,
      new ParquetEntitySource(src), mk(Seq(t)), tmp(), 1L))
    val rPar = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      mk(tables), outPar, 1L)
    // deterministic result order (table name) and identical plans
    assert(rPar.tables.map(_.table) === tables)
    assert(rPar.tables === rSeq.flatMap(_.tables))
    rSeq.foreach(r => assert(rPar.watermark === r.watermark))
    // every table dir readable with the full 6 rows
    tables.foreach { t =>
      val dir = Partitioner.tableDir(s"$outPar/my_extract_name/0.0.1", Subgraph, t)
      assert(spark.read.parquet(dir).count() === 6)
    }
  }

  test("a failed _metadata step leaves the superseded partitions in place") {
    // run 1's 32768-tier head partitions are superseded by run 2's
    // [18874368, 19398656) 524288-tier partition
    val src = tmp(); val out = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    GraphNodeFixture.write(spark, src, FullLatest)
    val r1 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      config(), out, 1L)
    val small = r1.tables.head.written.filter(_.size == Tiers.last)
    assert(small.nonEmpty)
    // run 2's `_metadata` step fails: the file is now a directory
    val meta = s"${tableDir(out)}/_metadata"
    Fs.delete(meta, conf)
    Fs.writeString(s"$meta/blocker", "", conf)
    GraphNodeFixture.write(spark, src, 19400000L)
    intercept[Exception](ExtractPipeline.extract(spark,
      new ParquetEntitySource(src), config(), out, 2L))
    small.foreach { p =>
      assert(Fs.exists(Partitioner.partitionDir(tableDir(out), p), conf),
        s"superseded partition $p pruned before `_metadata` was written")
    }
    // the re-run writes `_metadata` and then prunes
    Fs.delete(meta, conf)
    ExtractPipeline.extract(spark, new ParquetEntitySource(src), config(), out, 3L)
    small.foreach(p =>
      assert(!Fs.exists(Partitioner.partitionDir(tableDir(out), p), conf)))
    assert(MetadataSink.rowCountFromMetadata(tableDir(out), conf) === 6)
    assert(spark.read.parquet(tableDir(out)).count() === 6)
  }

  test("config drift aborts (K4)") {
    val src = tmp(); val out = tmp()
    GraphNodeFixture.write(spark, src, FullLatest)
    ExtractPipeline.extract(spark, new ParquetEntitySource(src), config(), out, 1L)
    val drifted = config(sizes = Seq(1024L))
    assertThrows[IllegalStateException] {
      ExtractPipeline.extract(spark, new ParquetEntitySource(src), drifted, out, 2L)
    }
  }
}

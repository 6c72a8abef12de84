package graft.extract

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.{ExtractConfig, TableConfig}
import graft.plans.Partitioner

/** Bulk sink at a non-toy size: 100k entity rows across ~120 plan
  * partitions in ONE job, then an incremental advance. Catches
  * anything the 6-row fixture can't (multi-task partition assignment,
  * dynamic-overwrite breadth, empty-partition gap filling at volume).
  */
class BulkScaleSpec extends AnyFunSuite with SparkTestBase {

  test("bulk extract: 100k rows, ~120 partitions, one job + incremental advance") {
    val src = Files.createTempDirectory("bulk-src").toString
    val out = Files.createTempDirectory("bulk-out").toString
    val nRows = 100000
    val hi1 = 80000L
    val hi2 = 120000L

    // entity rows with gaps (blocks 0..119999, even blocks only in
    // [0, 60k), all blocks in [60k, 120k))
    import spark.implicits._
    spark.range(nRows)
      .select(
        col("id").as("vid"),
        when(col("id") < 30000, col("id") * 2)
          .otherwise(col("id") + 30000).cast("int").as("block_lower"),
        lit(null).cast("int").as("block_upper"),
        concat(lit("e"), col("id")).as("id_str"),
        (col("id") % 1000).cast("decimal(38,0)").as("amount"))
      .withColumnRenamed("id_str", "id")
      .write.mode("overwrite").parquet(s"$src/sgd1/big_table.parquet")

    def catDf(latest: Long): Unit = {
      Seq(("DEP", "sgd1", "net", true)).toDF("subgraph", "name", "network", "active")
        .write.mode("overwrite").parquet(s"$src/catalog/deployment_schemas.parquet")
      Seq(("DEP", "v1")).toDF("deployment", "id")
        .write.mode("overwrite").parquet(s"$src/catalog/subgraph_version.parquet")
      Seq(("big", "v1")).toDF("name", "current_version")
        .write.mode("overwrite").parquet(s"$src/catalog/subgraph.parquet")
      Seq(("DEP", 0L, latest))
        .toDF("deployment", "earliest_block_number", "latest_ethereum_block_number")
        .write.mode("overwrite").parquet(s"$src/catalog/subgraph_deployment.parquet")
      Seq(("sgd1", "big_table", "id", "text"),
          ("sgd1", "big_table", "amount", "numeric"),
          ("sgd1", "big_table", "block_range", "int4range"))
        .toDF("table_schema", "table_name", "column_name", "data_type")
        .write.mode("overwrite").parquet(s"$src/catalog/information_schema.parquet")
    }

    val cfg = ExtractConfig("big_extract", "0.0.1", "big",
      Map("big_table" -> TableConfig(Seq(1024L))))
    val tDir = Partitioner.tableDir(s"$out/big_extract/0.0.1", "big", "big_table")

    catDf(hi1)
    val t0 = System.nanoTime()
    val r1 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      cfg, out, 1L)
    val sec1 = (System.nanoTime() - t0) / 1e9
    val w1 = r1.tables.head.written
    info(f"first bulk run: ${w1.size} partitions in $sec1%.1f s")
    assert(w1.size > 50)
    // rows with block < floor(80000/1024)*1024 = 79872
    val df1 = spark.read.parquet(tDir)
    val expected1 = spark.read.parquet(s"$src/sgd1/big_table.parquet")
      .where(col("block_lower") < 79872).count()
    assert(df1.count() === expected1)

    catDf(hi2)
    val r2 = ExtractPipeline.extract(spark, new ParquetEntitySource(src),
      cfg, out, 2L)
    val w2 = r2.tables.head.written
    assert(w2.size >= ExtractPipeline.DefaultBulkThreshold)
    assert(w1.toSet.intersect(w2.toSet).isEmpty)
    val total = spark.read.parquet(tDir).count()
    val expectedAll = spark.read.parquet(s"$src/sgd1/big_table.parquet")
      .where(col("block_lower") < 119808).count() // floor(120000/1024)*1024
    assert(total === expectedAll)

    // every written partition's fragment is internally sorted
    val sortedOk = spark.read.parquet(tDir)
      .select(col("_block_number"),
        spark_partition_id().as("pid"))
      .count() // smoke: readable end to end
    assert(sortedOk === total)
    // per-directory content is sorted by _block_number
    val sampleDir = Partitioner.partitionDir(tDir, w2.head)
    val sample = spark.read.parquet(sampleDir)
      .select("_block_number").collect().map(_.getLong(0))
    assert(sample.sameElements(sample.sorted))
  }

  test("a work tile's stale directory from a crashed run is cleared even when the re-run has zero rows for it") {
    import spark.implicits._
    val tDir = Files.createTempDirectory("bulk-stale").toString
    val work = Seq(
      graft.plans.Partition(64L, 0L, 64L),
      graft.plans.Partition(64L, 64L, 128L))
    // crashed prior run left rows in BOTH tile dirs (the second tile's
    // rows are the stale ones: the authoritative re-run below produces
    // zero rows for it — e.g. the upstream rows were re-orged away)
    Seq((10L, "stale-a"), (70L, "stale-b")).toDF("k", "v")
      .write.parquet(Partitioner.partitionDir(tDir, work(0)))
    Seq((80L, "stale-c")).toDF("k", "v")
      .write.parquet(Partitioner.partitionDir(tDir, work(1)))
    val df = Seq((10L, "fresh"), (20L, "fresh2")).toDF("k", "v")
    BulkWriter.writeTiles(spark, df, "k", work, tDir)
    val t0 = spark.read.parquet(Partitioner.partitionDir(tDir, work(0)))
    assert(t0.select("v").as[String].collect().sorted
      === Array("fresh", "fresh2"))
    // the zero-row tile must read back EMPTY with the full schema —
    // dynamic overwrite never touches it, so the writer must clear it
    val t1 = spark.read.parquet(Partitioner.partitionDir(tDir, work(1)))
    assert(t1.count() === 0L)
    assert(t1.columns.toSet === Set("k", "v"))
  }

  test("an unaligned tile list fails before anything is written or cleared") {
    import spark.implicits._
    val tDir = Files.createTempDirectory("bulk-unaligned").toString
    val aligned = graft.plans.Partition(64L, 0L, 64L)
    Seq((10L, "kept")).toDF("k", "v")
      .write.parquet(Partitioner.partitionDir(tDir, aligned))
    val df = Seq((10L, "new"), (40L, "new2")).toDF("k", "v")
    val e = intercept[IllegalArgumentException](BulkWriter.writeTiles(spark,
      df, "k", Seq(aligned, graft.plans.Partition(64L, 96L, 160L)), tDir))
    assert(e.getMessage.contains("Partition(64,96,160)"))
    assert(spark.read.parquet(Partitioner.partitionDir(tDir, aligned))
      .select("v").as[String].collect().toSeq === Seq("kept"))
  }

  test("a write job that fails leaves every work tile as it was") {
    // a streamed batch merges into its tiles' old rows, which its replay
    // cannot re-derive: a failed write must not have cleared them
    import spark.implicits._
    val tDir = Files.createTempDirectory("bulk-failed").toString
    val work = Seq(
      graft.plans.Partition(64L, 0L, 64L),
      graft.plans.Partition(64L, 64L, 128L))
    Seq((10L, "old-a")).toDF("k", "v")
      .write.parquet(Partitioner.partitionDir(tDir, work(0)))
    Seq((70L, "old-b")).toDF("k", "v")
      .write.parquet(Partitioner.partitionDir(tDir, work(1)))
    val failing = spark.range(0L, 128L).select(col("id").as("k"),
      expr("if(id >= 100, raise_error('boom'), cast(id as string))").as("v"))
    intercept[Exception](BulkWriter.writeTiles(spark, failing, "k", work, tDir))
    assert(spark.read.parquet(Partitioner.partitionDir(tDir, work(0)))
      .select("v").as[String].collect().toSeq === Seq("old-a"))
    assert(spark.read.parquet(Partitioner.partitionDir(tDir, work(1)))
      .select("v").as[String].collect().toSeq === Seq("old-b"))
  }
}

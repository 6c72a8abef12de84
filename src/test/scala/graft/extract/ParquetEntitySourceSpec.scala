package graft.extract

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounter, SparkTestBase}

/** `ParquetEntitySource` answers metadata on the driver: no call to
  * `catalog`, `tableNames` or `columnTypes`, and no unexecuted
  * `scanRange`, starts a Spark job. Its results are pinned against the
  * Spark plans it replaced (the oracles below), on catalogs that
  * exercise every join and filter edge, with block numbers written as
  * int32 and as int64.
  */
class ParquetEntitySourceSpec extends AnyFunSuite with SparkTestBase {

  import GraphNodeFixture._

  private def tmp(): String =
    Files.createTempDirectory("graft-entity-source").toString

  // --- oracles: the Spark plans these methods ran before ---------------

  private def read(spark: SparkSession, root: String, rel: String): DataFrame =
    spark.read.parquet(s"${root.stripSuffix("/")}/$rel")

  private def oracleCatalog(spark: SparkSession, root: String): Map[String, CatalogEntry] = {
    val ds = read(spark, root, "catalog/deployment_schemas.parquet")
      .select(col("subgraph").as("ds_subgraph"), col("name").as("schema_name"),
        col("network"), col("active"))
    val sv = read(spark, root, "catalog/subgraph_version.parquet")
      .select(col("deployment").as("sv_deployment"), col("id").as("sv_id"))
    val sg = read(spark, root, "catalog/subgraph.parquet")
      .select(col("name").as("subgraph_name"), col("current_version"))
    val sd = read(spark, root, "catalog/subgraph_deployment.parquet")
      .select(col("deployment").as("sd_deployment"),
        col("earliest_block_number"), col("latest_ethereum_block_number"))
    ds.join(broadcast(sv), col("ds_subgraph") === col("sv_deployment"), "left")
      .join(broadcast(sg), col("current_version") === col("sv_id"), "left")
      .join(broadcast(sd), col("sd_deployment") === col("ds_subgraph"), "left")
      .where(col("active") && col("current_version").isNotNull)
      .where(col("earliest_block_number").isNotNull &&
        col("latest_ethereum_block_number").isNotNull)
      .select(col("subgraph_name"), col("ds_subgraph"), col("schema_name"),
        col("network"),
        col("earliest_block_number").cast("long").as("earliest"),
        col("latest_ethereum_block_number").cast("long").as("latest"))
      .collect()
      .map { r =>
        r.getString(0) -> CatalogEntry(r.getString(0), r.getString(1),
          r.getString(2), r.getString(3), r.getLong(4), r.getLong(5))
      }.toMap
  }

  private def oracleTableNames(spark: SparkSession, root: String, schema: String): Seq[String] =
    read(spark, root, "catalog/information_schema.parquet")
      .where(col("table_schema") === schema && col("column_name") === "block_range")
      .select("table_name").distinct().orderBy("table_name")
      .collect().map(_.getString(0)).toSeq

  private def oracleColumnTypes(spark: SparkSession, root: String, schema: String,
      table: String): Map[String, String] =
    read(spark, root, "catalog/information_schema.parquet")
      .where(col("table_schema") === schema && col("table_name") === table)
      .select("column_name", "data_type")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def oracleScan(spark: SparkSession, root: String, schema: String,
      table: String, start: Long, end: Long): DataFrame =
    read(spark, root, s"$schema/$table.parquet")
      .where(col("block_lower") >= start && col("block_lower") < end)
      .withColumn("_block_number", col("block_lower"))
      .drop("vid", "block_lower", "block_upper")

  // --- fixture ---------------------------------------------------------

  private def write(rows: Seq[Row], schema: StructType, path: String, files: Int = 2): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)

  private def str(names: String*) =
    StructType(names.map(StructField(_, StringType)))

  /** A catalog with one extractable subgraph (`live`) beside one of each
    * kind the reference's joins and filters drop, plus null join keys.
    * Block numbers are written as `blockType`; every table spans two
    * part files.
    */
  private def edgeCatalog(root: String, blockType: DataType): Unit = {
    def n(v: Long): Any = if (blockType == IntegerType) v.toInt else v
    write(Seq(
      Row("D_LIVE", "sgd_live", "mainnet", true),
      Row("D_INACTIVE", "sgd_inactive", "mainnet", false),
      Row("D_ACTIVE_NULL", "sgd_an", "mainnet", null),
      Row("D_NO_VERSION", "sgd_nv", "mainnet", true),
      Row("D_NO_RANGE", "sgd_nr", "mainnet", true),
      Row("D_NULL_EARLIEST", "sgd_ne", "gnosis", true),
      Row("D_NULL_LATEST", "sgd_nl", "gnosis", true),
      Row("D_SECOND", "sgd_second", "gnosis", true),
      Row(null, "sgd_null_dep", "mainnet", true)),
      StructType(str("subgraph", "name", "network").fields :+
        StructField("active", BooleanType)),
      s"$root/catalog/deployment_schemas.parquet")
    write(Seq(
      Row("D_LIVE", "v_live"), Row("D_INACTIVE", "v_inactive"),
      Row("D_ACTIVE_NULL", "v_an"), Row("D_NO_RANGE", "v_nr"),
      Row("D_NULL_EARLIEST", "v_ne"), Row("D_NULL_LATEST", "v_nl"),
      Row("D_SECOND", "v_second"), Row(null, "v_null")),
      str("deployment", "id"), s"$root/catalog/subgraph_version.parquet")
    write(Seq(
      Row("live", "v_live"), Row("inactive", "v_inactive"),
      Row("active_null", "v_an"), Row("no_version", "v_missing"),
      Row("no_range", "v_nr"), Row("null_earliest", "v_ne"),
      Row("null_latest", "v_nl"), Row("second", "v_second"),
      Row("null_version", null), Row("null_dep", "v_null")),
      str("name", "current_version"), s"$root/catalog/subgraph.parquet")
    write(Seq(
      Row("D_LIVE", n(18000000L), n(19000000L)),
      Row("D_INACTIVE", n(1L), n(2L)),
      Row("D_ACTIVE_NULL", n(1L), n(2L)),
      Row("D_NO_VERSION", n(1L), n(2L)),
      Row("D_NULL_EARLIEST", null, n(2L)),
      Row("D_NULL_LATEST", n(1L), null),
      Row("D_SECOND", n(5L), n(1500000000L)),
      Row(null, n(7L), n(8L))),
      StructType(Seq(StructField("deployment", StringType),
        StructField("earliest_block_number", blockType),
        StructField("latest_ethereum_block_number", blockType))),
      s"$root/catalog/subgraph_deployment.parquet")
    write(Seq(
      Row("sgd_live", "b_table", "block_range", "int4range"),
      Row("sgd_live", "b_table", "amount", "numeric"),
      Row("sgd_live", "a_table", "block_range", "int4range"),
      Row("sgd_live", "a_table", "id", "text"),
      Row("sgd_live", "a_table", "block_range", "int4range"),
      Row("sgd_live", "no_range", "id", "text"),
      Row("sgd_live", null, "orphan", "text"),
      Row("sgd_second", "b_table", "block_range", "int4range"),
      Row(null, "a_table", "stray", "bigint")),
      str("table_schema", "table_name", "column_name", "data_type"),
      s"$root/catalog/information_schema.parquet", files = 3)
  }

  // --- specs -----------------------------------------------------------

  test("metadata calls and building a scan start no Spark job") {
    val src = tmp()
    GraphNodeFixture.write(spark, src, 19000000L)
    val jobs = new JobCounter(spark)
    try {
      val source = new ParquetEntitySource(src)
      val cat = jobs.phase("catalog")(source.catalog(spark))
      val tables = jobs.phase("tableNames")(source.tableNames(spark, Schema))
      val types = jobs.phase("columnTypes")(source.columnTypes(spark, Schema, Table))
      val scan = jobs.phase("scanRange")(source.scanRange(spark, Schema, Table, 0L, 19000000L))
      assert(cat.keySet === Set(Subgraph))
      assert(tables === Seq(Table))
      assert(types("ask_price") === "numeric")
      val started = jobs.started("catalog", "tableNames", "columnTypes", "scanRange")
      assert(started.forall(_._2 == 0), s"Spark jobs started per call: $started")
      assert(scan.count() === EntityBlocks.size)
    } finally jobs.close()
  }

  test("catalog, tableNames and columnTypes match the Spark plans they replaced") {
    Seq(IntegerType, LongType).foreach { blockType =>
      val src = tmp()
      edgeCatalog(src, blockType)
      val source = new ParquetEntitySource(src)
      val cat = source.catalog(spark)
      assert(cat === oracleCatalog(spark, src), s"block numbers as $blockType")
      assert(cat.keySet === Set("live", "second"), s"block numbers as $blockType")
      assert(cat("second").latestBlock === 1500000000L)
      Seq("sgd_live", "sgd_second", "sgd_missing", null).foreach { schema =>
        assert(source.tableNames(spark, schema) === oracleTableNames(spark, src, schema),
          s"tableNames($schema)")
        Seq("a_table", "b_table", "no_range", "missing", null).foreach { table =>
          assert(source.columnTypes(spark, schema, table) ===
            oracleColumnTypes(spark, src, schema, table), s"columnTypes($schema, $table)")
        }
      }
      assert(source.tableNames(spark, "sgd_live") === Seq("a_table", "b_table"))
    }
  }

  test("scanRange reads int32 and int64 block_lower tables as inference would") {
    val src = tmp()
    GraphNodeFixture.write(spark, src, 19000000L)
    // the K2 parity fixture's shape: int64 block numbers, null block_upper
    spark.range(0, 40, 1, 3).select(col("id").as("vid"),
        (col("id") * 1000 + 7).as("block_lower"),
        lit(null).cast("long").as("block_upper"),
        (col("id") % 5).as("user_id"), concat(lit("e"), col("id")).as("event_type"))
      .write.mode("overwrite").parquet(s"$src/sgd_k2/events_entity.parquet")
    val source = new ParquetEntitySource(src)
    Seq((Schema, Table, 18500000L, 18888101L), ("sgd_k2", "events_entity", 5007L, 31007L))
      .foreach { case (schema, table, start, end) =>
        val got = source.scanRange(spark, schema, table, start, end)
        val want = oracleScan(spark, src, schema, table, start, end)
        assert(got.schema === want.schema, s"$schema.$table")
        assert(got.collect().toSet === want.collect().toSet, s"$schema.$table")
        assert(got.count() > 0, s"$schema.$table")
      }
  }

  test("one source instance sees a head rewritten between two catalog calls") {
    val src = tmp()
    GraphNodeFixture.write(spark, src, 18888000L)
    val source = new ParquetEntitySource(src)
    assert(source.catalog(spark)(Subgraph).latestBlock === 18888000L)
    write(Seq(Row(Deployment, EarliestBlock, 19000000L)),
      StructType(Seq(StructField("deployment", StringType),
        StructField("earliest_block_number", LongType),
        StructField("latest_ethereum_block_number", LongType))),
      s"$src/catalog/subgraph_deployment.parquet", files = 1)
    assert(source.catalog(spark)(Subgraph).latestBlock === 19000000L)
  }

  test("a catalog column of a type the driver read does not convert fails the call") {
    val src = tmp()
    GraphNodeFixture.write(spark, src, 19000000L)
    write(Seq(Row(Deployment, new java.math.BigDecimal(EarliestBlock),
        new java.math.BigDecimal(19000000L))),
      StructType(Seq(StructField("deployment", StringType),
        StructField("earliest_block_number", DecimalType(20, 0)),
        StructField("latest_ethereum_block_number", DecimalType(20, 0)))),
      s"$src/catalog/subgraph_deployment.parquet", files = 1)
    val e = intercept[UnsupportedOperationException](
      new ParquetEntitySource(src).catalog(spark))
    assert(e.getMessage.contains("earliest_block_number"))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.sources.Tables
import graft.sources.Tables.dec2

/** Reference-parity operators (SURVEY.md §2) expressed over the driver's
  * parquet tables, one driver-checkable query per operator family.
  *
  * The reference's entity tables don't exist in the testdata, so `events`
  * stands in for a block-versioned entity table (`event_id` ≈
  * `lower(block_range)`), and the TPC-H-ish tables back the catalog and
  * expression operators — see FIXTURES.md §5.
  *
  * Determinism rules shared with the DuckDB oracles (the driver
  * hash-compares values):
  *  - money doubles are cast to DECIMAL(18,2) before any arithmetic
  *  - FINAL output columns are only BIGINT / STRING / BOOLEAN (never
  *    decimal or double): the driver reads Spark parquet via pyarrow
  *    (DECIMAL -> python Decimal) but the oracle via DuckDB fetch
  *    (DECIMAL -> float64), so a decimal column can never hash-match.
  *    Exact decimals that exceed int64 are emitted as strings — the
  *    scale-proof lossless path.
  *  - timestamps are emitted as formatted strings (micros truncation)
  *  - every query ends in a total ORDER BY
  */
object ParityQueries {

  /** S1+P1-P3+O1 (cli.py:24-53): entity-range scan — half-open block
    * window, surrogate/range columns dropped, deterministic order. The
    * range predicate pushes down to the parquet scan.
    */
  def s1RangeScan(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .where(col("event_id") >= 200L && col("event_id") < 800L)
      .withColumn("_block_number", col("event_id"))
      .drop("props", "event_id") // ≈ drop vid, block_range
      .select(
        col("_block_number"),
        col("user_id"),
        col("event_type"),
        dec2(col("value")).cast(StringType).as("value_s"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
      .orderBy("_block_number")

  val s1RangeScanSql: String =
    """SELECT event_id AS _block_number, user_id, event_type,
      |  CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value_s,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
      |FROM events WHERE event_id >= 200 AND event_id < 800
      |ORDER BY _block_number""".stripMargin

  /** S3+J1-J3+P4 (cli.py:72-92): catalog discovery — chained LEFT
    * equi-joins over small dimension tables with a predicate on the
    * joined result. `nation`/`region` are broadcast (catalog tables are
    * tiny at any scale; no shuffle of the fact side).
    */
  def s3CatalogJoin(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .join(broadcast(Tables.nation(spark, d)),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(spark, d)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .where(col("c_acctbal") > 0 && col("n_name").isNotNull)
      .select(
        col("c_custkey"),
        col("c_name"),
        col("n_name"),
        col("r_name"),
        dec2(col("c_acctbal")).cast(StringType).as("acctbal_s"))
      .orderBy("c_custkey")

  val s3CatalogJoinSql: String =
    """SELECT c_custkey, c_name, n_name, r_name,
      |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS acctbal_s
      |FROM customer
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |WHERE c_acctbal > 0 AND n_name IS NOT NULL
      |ORDER BY c_custkey""".stripMargin

  /** S4+A1+O2+P5 (cli.py:366-380): distinct listing with a filter. */
  def s4DistinctListing(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .where(col("event_type").isNotNull)
      .select("event_type")
      .distinct()
      .orderBy("event_type")

  val s4DistinctListingSql: String =
    """SELECT DISTINCT event_type FROM events
      |WHERE event_type IS NOT NULL ORDER BY event_type""".stripMargin

  /** S5+O3 (cli.py:429-434): deterministic top-N preview. */
  def s5Preview(spark: SparkSession, d: String): DataFrame =
    Tables.part(spark, d)
      .select(
        col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"), dec2(col("p_retailprice")).cast(StringType).as("retail_s"))
      .orderBy("p_partkey")
      .limit(10)

  val s5PreviewSql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS retail_s
      |FROM part ORDER BY p_partkey LIMIT 10""".stripMargin

  /** E1 (cli.py:115-119): documented-lossy downscale — integer floor
    * division on exact scaled integers (cents), wei→gwei style.
    */
  def e1Downscale(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (dec2(col("l_extendedprice")) * 100).cast(LongType).as("price_cents"))
      .withColumn("price_kilocents", expr("price_cents div 1000"))
      .orderBy("l_orderkey", "l_linenumber")

  val e1DownscaleSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000 AS price_kilocents
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** E2+E3 (cli.py:120-130): clamp-with-default plus boolean validity
    * companion column — `v <= max ? v : default`, `valid = v <= max`.
    */
  def e2ClampValidity(spark: SparkSession, d: String): DataFrame = {
    val qty = col("l_quantity").cast(LongType)
    Tables.lineitem(spark, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(qty <= 30L, qty).otherwise(0L).as("qty_clamped"),
        (qty <= 30L).as("qty_valid"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val e2ClampValiditySql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN CAST(l_quantity AS BIGINT) <= 30 THEN CAST(l_quantity AS BIGINT) ELSE 0 END AS qty_clamped,
      |  CAST(l_quantity AS BIGINT) <= 30 AS qty_valid
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** E5+E1-on-carrier (cli.py:139-141): uint256 32-byte big-endian
    * carrier — encode, floor-divide on the carrier, and round-trip back
    * to decimal. Emitted as 64-char hex so the oracle can reproduce it
    * (`hex()` on binary is codegen'd and stays in whole-stage codegen).
    */
  def e5Uint256(spark: SparkSession, d: String): DataFrame = {
    val cents = (dec2(col("l_extendedprice")) * 100).cast(DecimalType(18, 0))
    // derive AFTER the sort: the sort keys don't depend on the carrier
    // columns, so the range exchange (and its sampling pass) carries
    // ~30-byte rows instead of three 64-char hex strings per row — the
    // derivations run once per row in the post-sort projection
    Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_linenumber"), cents.as("cents"))
      .orderBy("l_orderkey", "l_linenumber")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        hex(GraftFunctions.uint256_encode(col("cents"))).as("cents_u256_hex"),
        hex(GraftFunctions.uint256_div(
          GraftFunctions.uint256_encode(col("cents")), 1000L)).as("kilocents_u256_hex"),
        GraftFunctions.uint256_to_decimal(
          GraftFunctions.uint256_encode(col("cents"))).cast(StringType)
          .as("cents_roundtrip"))
  }

  val e5Uint256Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  lpad(to_hex(cents), 64, '0') AS cents_u256_hex,
      |  lpad(to_hex(cents // 1000), 64, '0') AS kilocents_u256_hex,
      |  CAST(cents AS VARCHAR) AS cents_roundtrip
      |FROM (SELECT l_orderkey, l_linenumber,
      |        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** O1+P2+P6 (cli.py:44, 144): computed projection + column drop +
    * multi-key deterministic sort.
    */
  def o1SortedProjection(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("total_cents"),
        substring(col("o_orderpriority"), 1, 1).cast(IntegerType).as("priority_code"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))

  val o1SortedProjectionSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents,
      |  CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority_code
      |FROM orders ORDER BY total_cents DESC, o_orderkey""".stripMargin

  /** uint256-carrier SUM (the custom UDAF): amounts encoded as 32-byte
    * carriers are summed at arbitrary precision with map-side partial
    * aggregation (one BigInteger per group per partition crosses the
    * shuffle), then narrowed to a decimal string. The oracle sums the
    * same cents exactly — totals here fit Decimal(38), which is what
    * makes the cross-engine check possible; past 38 digits only the
    * carrier side could represent the result.
    */
  def uint256Sum(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        GraftFunctions.uint256_encode(
          (dec2(col("l_extendedprice")) * 100).cast(DecimalType(18, 0)))
          .as("cents_u"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        GraftFunctions.uint256_to_decimal(
          GraftFunctions.uint256_sum(col("cents_u"))).cast(StringType)
          .as("sum_cents_s"))
      .orderBy("l_returnflag")

  val uint256SumSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS sum_cents_s
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** uint256-carrier MULTIPLY: the on-chain amount shape (price × qty,
    * wei × rate — multiplication comes BEFORE division in fixed-point
    * token math, so the carrier family needs mul, not just div/sum).
    * Pure map-side codegen'd projection; a product past 2²⁵⁶ throws
    * rather than wrapping. Products here fit int64 so the oracle can
    * reproduce them; the BigInteger slow path and the overflow throw are
    * property-tested against BigInteger in Uint256Spec.
    */
  def uint256Mul(spark: SparkSession, d: String): DataFrame = {
    val cents = (dec2(col("l_extendedprice")) * 100).cast(DecimalType(18, 0))
    val qty = dec2(col("l_quantity")).cast(DecimalType(18, 0))
    Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        // one alias referenced twice below: the product (and both
        // encodes under it) evaluates ONCE per row — writing the mul
        // expression per output column would pay the whole chain twice
        GraftFunctions.uint256_mul(
          GraftFunctions.uint256_encode(cents),
          GraftFunctions.uint256_encode(qty)).as("total_u"))
      .select(col("l_orderkey"), col("l_linenumber"),
        hex(col("total_u")).as("total_u256_hex"),
        GraftFunctions.uint256_to_decimal(col("total_u"))
          .cast(StringType).as("total_s"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val uint256MulSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  lpad(to_hex(cents * qty), 64, '0') AS total_u256_hex,
      |  CAST(cents * qty AS VARCHAR) AS total_s
      |FROM (SELECT l_orderkey, l_linenumber,
      |        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |        CAST(l_quantity AS BIGINT) AS qty
      |      FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Flagship aggregation (TPC-H Q1 shape): hash aggregate with partial
    * (map-side) combine on exact scaled integers; averages as integer
    * floor divisions so the result is engine-independent. One shuffle on
    * the two grouping keys.
    */
  def q1Agg(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    val qtyC = (dec2(col("l_quantity")) * 100).cast(LongType)
    val priceC = (dec2(col("l_extendedprice")) * 100).cast(LongType)
    val discPct = (dec2(col("l_discount")) * 100).cast(LongType)
    val taxPct = (dec2(col("l_tax")) * 100).cast(LongType)
    // Overflow discipline for the 100 TB design point: Q1 groups the
    // WHOLE corpus into 6 rows, so per-group row counts are unbounded.
    // Every sum whose addend exceeds ~cents scale accumulates in
    // Decimal(38,0) (Spark's non-ANSI sum(Long) would wrap silently);
    // the e4/e6-scale sums also EXCEED int64 at scale, so they are
    // emitted as strings — both engines render identical digits.
    li.select(
        col("l_returnflag"), col("l_linestatus"),
        qtyC.as("qty_c"), priceC.cast(DecimalType(38, 0)).as("price_c"),
        (priceC * (lit(100L) - discPct))
          .cast(DecimalType(38, 0)).as("disc_price_e4"),
        (priceC * (lit(100L) - discPct) * (lit(100L) + taxPct))
          .cast(DecimalType(38, 0)).as("charge_e6"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty_c").as("sum_qty_cents"),
        sum("price_c").cast(LongType).as("sum_price_cents"),
        sum("disc_price_e4").cast(DecimalType(38, 0)).cast(StringType)
          .as("sum_disc_price_e4"),
        sum("charge_e6").cast(DecimalType(38, 0)).cast(StringType)
          .as("sum_charge_e6"),
        count(lit(1)).as("count_order"),
        expr("sum(qty_c) div count(1)").as("avg_qty_cents"),
        expr("cast(sum(price_c) div count(1) as bigint)").as("avg_price_cents"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1AggSql: String =
    """WITH t AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
      |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_pct,
      |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax_pct
      |  FROM lineitem)
      |SELECT l_returnflag, l_linestatus,
      |  CAST(sum(qty_c) AS BIGINT) AS sum_qty_cents,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_cents,
      |  CAST(CAST(sum(price_c * (100 - disc_pct)) AS DECIMAL(38,0)) AS VARCHAR) AS sum_disc_price_e4,
      |  CAST(CAST(sum(price_c * (100 - disc_pct) * (100 + tax_pct)) AS DECIMAL(38,0)) AS VARCHAR) AS sum_charge_e6,
      |  count(*) AS count_order,
      |  CAST(sum(qty_c) AS BIGINT) // count(*) AS avg_qty_cents,
      |  CAST(sum(price_c) AS BIGINT) // count(*) AS avg_price_cents
      |FROM t GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** The ten fixture tables, named — the introspection universe of
    * [[s2ColumnTypes]] (events is read RAW here: S2 describes what is
    * on storage, not the normalized view other queries consume).
    */
  private val FixtureTables = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Spark type → the engine's extract-type vocabulary — the S2 mapping
    * (cli.py:54-71 maps information_schema type names to extract types
    * the same way; an unmapped type surfaces as `other`/unsupported
    * instead of failing the listing). TIMESTAMP and TIMESTAMP_NTZ
    * collapse to one tag: parquet files written without
    * isAdjustedToUTC arrive as NTZ in Spark but plain TIMESTAMP in
    * DuckDB, and S2 describes the storage type, not session timezone
    * policy.
    */
  private def typeTag(dt: DataType): String = dt match {
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case StringType => "string"
    case BooleanType => "bool"
    case TimestampType | _: TimestampNTZType => "timestamp"
    case DateType => "date"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case ArrayType(e, _) => s"list<${typeTag(e)}>"
    case _ => "other"
  }

  /** S2 (cli.py:54-71): column-type introspection of every fixture
    * table — (table, column, extract-type tag, supported). Driver-side
    * by design, like the reference's information_schema query: only
    * parquet FOOTERS are read (one per table), no executor jobs. The
    * DuckDB oracle re-derives the same listing from DESCRIBE over its
    * views with the type mapping expressed as a CASE ladder.
    */
  def s2ColumnTypes(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    FixtureTables
      .flatMap { t =>
        spark.read.parquet(s"$d/$t.parquet").schema.fields
          .map(f => (t, f.name, typeTag(f.dataType)))
      }
      .toDF("table_name", "column_name", "type_tag")
      .withColumn("supported", col("type_tag") =!= "other")
      .orderBy("table_name", "column_name")
  }

  val s2ColumnTypesSql: String = {
    val describes = FixtureTables
      .map(t => s"SELECT '$t' AS table_name, column_name, column_type " +
        s"FROM (DESCRIBE SELECT * FROM $t)")
      .mkString("\n  UNION ALL ")
    s"""WITH cols AS (
       |  $describes),
       |tagged AS (SELECT table_name, column_name,
       |  CASE column_type
       |    WHEN 'INTEGER' THEN 'int32'
       |    WHEN 'BIGINT' THEN 'int64'
       |    WHEN 'FLOAT' THEN 'float32'
       |    WHEN 'DOUBLE' THEN 'float64'
       |    WHEN 'VARCHAR' THEN 'string'
       |    WHEN 'BOOLEAN' THEN 'bool'
       |    WHEN 'TIMESTAMP' THEN 'timestamp'
       |    WHEN 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
       |    WHEN 'DATE' THEN 'date'
       |    WHEN 'FLOAT[]' THEN 'list<float32>'
       |    WHEN 'DOUBLE[]' THEN 'list<float64>'
       |    WHEN 'BIGINT[]' THEN 'list<int64>'
       |    WHEN 'VARCHAR[]' THEN 'list<string>'
       |    ELSE CASE WHEN regexp_matches(column_type, '^DECIMAL\\(\\d+,\\d+\\)$$')
       |      THEN lower(column_type) ELSE 'other' END
       |  END AS type_tag FROM cols)
       |SELECT table_name, column_name, type_tag, type_tag <> 'other' AS supported
       |FROM tagged ORDER BY table_name, column_name""".stripMargin
  }

  /** K2 (cli.py:245-273): the `_metadata` summary as a driver-checked
    * oracle face. Drives the REAL extract lifecycle — a graph-node
    * fixture derived from the events table (event_id ≈
    * lower(block_range)), [[graft.extract.ExtractPipeline]] plan → bulk
    * write → `_metadata` → watermark — then reads back ONLY the summary
    * footer and reports, per planned partition, the fragment count and
    * the summed row-group row counts. The DuckDB oracle re-derives the
    * partition plan with the recursive-CTE planner and counts source
    * rows per half-open tile, so the check is: the summary footer
    * faithfully describes what the pipeline wrote (relative paths
    * resolving to plan tiles — exactly where the reference had its
    * subtle path bug, cli.py:259-268 — and per-fragment row counts),
    * against an independent replay that never looks at the files.
    *
    * Empty tiles hold an explicit schema-preserving empty fragment (the
    * E7 contract) whose parquet footer has ZERO row groups, so they
    * appear in `_metadata` with no blocks: both engines report
    * (n_fragments, n_rows) = (0, 0) for them.
    */
  def k2Metadata(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.extract.{ExtractPipeline, ParquetEntitySource}
    import graft.model.{ExtractConfig, TableConfig}
    import graft.plans.Partitioner
    val conf = spark.sparkContext.hadoopConfiguration
    val org.apache.spark.sql.Row(lo: Long, hiMax: Long) = Tables.events(spark, d)
      .agg(min("event_id"), max("event_id")).head()
    val hi = hiMax + 1
    val tiers = PlannerQueries.tiersFor(hi - lo)

    // graph-node fixture from the events table (catalog + entity rows)
    val root = java.nio.file.Files.createTempDirectory("graft-k2-src").toString
    val (dep, schema, sub, table) =
      ("K2DEPLOY", "sgd_k2", "k2_subgraph", "events_entity")
    def p(rel: String) = s"$root/$rel"
    // the six fixture writes are independent single-row(-ish) jobs —
    // submitted from a small thread pool so their driver/job round
    // trips overlap instead of serializing (guide §2.6 back-fill); job
    // descriptions are thread-local so the UI stays labelled per write
    val writes: Seq[() => Unit] = Seq(
      () => Seq((dep, schema, "testnet", true))
        .toDF("subgraph", "name", "network", "active")
        .write.mode("overwrite").parquet(p("catalog/deployment_schemas.parquet")),
      () => Seq((dep, "v1")).toDF("deployment", "id")
        .write.mode("overwrite").parquet(p("catalog/subgraph_version.parquet")),
      () => Seq((sub, "v1")).toDF("name", "current_version")
        .write.mode("overwrite").parquet(p("catalog/subgraph.parquet")),
      // latest = max+1: the catalog range is half-open into the planner
      () => Seq((dep, lo, hi))
        .toDF("deployment", "earliest_block_number", "latest_ethereum_block_number")
        .write.mode("overwrite").parquet(p("catalog/subgraph_deployment.parquet")),
      () => Seq((schema, table, "vid", "bigint"),
        (schema, table, "block_range", "int4range"),
        (schema, table, "user_id", "bigint"),
        (schema, table, "event_type", "text"))
        .toDF("table_schema", "table_name", "column_name", "data_type")
        .write.mode("overwrite").parquet(p("catalog/information_schema.parquet")),
      () => Tables.events(spark, d).select(
          col("event_id").as("vid"), col("event_id").as("block_lower"),
          lit(null).cast("long").as("block_upper"),
          col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(p(s"$schema/$table.parquet")))
    graft.Parallel.all(spark.sparkContext, 3)(writes)

    val outRoot = java.nio.file.Files.createTempDirectory("graft-k2-out").toString
    ExtractPipeline.extract(spark, new ParquetEntitySource(root),
      ExtractConfig("k2", "v1", sub, Map(table -> TableConfig(tiers))), outRoot)
    val tDir = Partitioner.tableDir(s"$outRoot/k2/v1", sub, table)

    // the check itself reads ONLY the summary footer — never a fragment
    val metaPath = new org.apache.hadoop.fs.Path(tDir,
      org.apache.parquet.hadoop.ParquetFileWriter.PARQUET_METADATA_FILE)
    val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
      metaPath,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    import scala.jdk.CollectionConverters._
    val byTile: Map[(Long, Long, Long), (Long, Long)] = meta.getBlocks.asScala
      .toSeq
      .map { b =>
        val seg = b.getPath.split('/')
        ((seg(0).stripPrefix("partition_size=").toLong,
          seg(1).stripPrefix("start_partition=").toLong,
          seg(2).stripPrefix("end_partition=").toLong),
          (b.getPath, b.getRowCount))
      }
      .groupBy(_._1)
      .map { case (k, xs) =>
        k -> (xs.map(_._2._1).distinct.size.toLong, xs.map(_._2._2).sum)
      }
    // total over plan ∪ footer tiles: a footer block outside the plan
    // (a writer bug) surfaces as an extra row the oracle cannot have
    val plan = Partitioner.plan(lo, hi, tiers)
    val keys = (plan.map(q => (q.size, q.start, q.end)) ++ byTile.keys).distinct
    keys.map { k =>
      val (nf, nr) = byTile.getOrElse(k, (0L, 0L))
      (k._1, k._2, k._3, nf, nr)
    }.toDF("partition_size", "start_block", "end_block", "n_fragments", "n_rows")
      .orderBy(col("partition_size").desc, col("start_block"))
  }

  /** Independent replay: the recursive-CTE partition planner (shared
    * with `q_r1_partition_plan`) left-joined to per-tile source-row
    * counts. One fragment per non-empty tile is the K1 one-sorted-
    * fragment-per-directory contract; empty tiles read back (0, 0).
    */
  val k2MetadataSql: String =
    s"""WITH plan AS (SELECT * FROM (${PlannerQueries.partitionPlanSql}))
       |SELECT p.partition_size, p.start_block, p.end_block,
       |  CAST(CASE WHEN count(e.event_id) > 0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS n_fragments,
       |  count(e.event_id) AS n_rows
       |FROM plan p LEFT JOIN events e
       |  ON e.event_id >= p.start_block AND e.event_id < p.end_block
       |GROUP BY 1, 2, 3
       |ORDER BY p.partition_size DESC, p.start_block""".stripMargin

  /** E4+E6 cast matrix: the FULL documented target-type grid
    * (int8/16/32/64, uint32/uint64, float32/float64, numeric38, string,
    * bytes — reference README.md:92-97; the reference documents these
    * but only ever wires a few) driven through the REAL config path —
    * `ColumnMapping`/`TargetType`/[[Transforms.convertColumns]] — vs a
    * DuckDB CAST grid. Source values are taken modulo each target's
    * range (both engines run ANSI casts: overflow would throw, and the
    * matrix pins conversion semantics, not error paths). Narrow/exotic
    * carriers re-emit as BIGINT/VARCHAR for the driver's hash compare;
    * floats are pinned by round-tripping back to BIGINT (cross-engine
    * float FORMATTING is unspecified; the VALUE is what the cast must
    * preserve — the modulus keeps every value exactly representable).
    */
  def e6CastMatrix(spark: SparkSession, d: String): DataFrame = {
    import graft.model.{ColumnMapping, TableConfig, TargetType => TT}
    import graft.functions.Transforms
    // the range-fitting mods are FIXTURE PREP, not the operator under
    // test — compute them in the integral carrier (cents is exact in a
    // long). The decimal form cost ~6 s at sf0.1: decimal `%` has no
    // compact-long fast path (a JBigDecimal remainder per row per mod),
    // and the orderBy's range-sampling pass re-executes the expensive
    // child a second time. convertColumns still receives the full
    // documented grid and still casts every source through Decimal(38,0).
    val cents = (dec2(col("l_extendedprice")) * 100)
      .cast(DecimalType(18, 0)).cast(LongType)
    val src = Tables.lineitem(spark, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (cents % 100).as("m8"),
      (cents % 30000).as("m16"),
      (cents % 1000000000L).as("m32"),
      cents.as("m64"),
      (cents % 1000).as("mf"))
    val tc = TableConfig(Seq(64L), Map(
      "m8" -> Seq(ColumnMapping("as_int8", TT.Int8)),
      "m16" -> Seq(ColumnMapping("as_int16", TT.Int16)),
      "m32" -> Seq(ColumnMapping("as_int32", TT.Int32),
        ColumnMapping("as_uint32", TT.UInt32)),
      "m64" -> Seq(ColumnMapping("as_int64", TT.Int64),
        ColumnMapping("as_uint64", TT.UInt64),
        ColumnMapping("as_numeric38", TT.Numeric38),
        ColumnMapping("as_bytes", TT.Bytes),
        ColumnMapping("as_string", TT.Str)),
      "mf" -> Seq(ColumnMapping("as_float32", TT.Float32),
        ColumnMapping("as_float64", TT.Float64))))
    // sort the narrow source frame FIRST (keys + five decimals), then
    // derive the 13-column grid in a post-sort projection — the range
    // exchange never carries the hex/string payload (e5's lesson).
    // The sort width is VOLUME-SIZED, not the session constant: at 32
    // partitions the 1000× replica's 600M-row sort spilled 59 GB
    // (BUILDER_NOTES r14 item C); range-partitioning by measured input
    // bytes keeps every sorted run in execution memory while sf0.1 and
    // below keep the session width. An explicit repartitionByRange(n)
    // + sortWithinPartitions is orderBy's physical shape (range
    // exchange + per-partition sort) with the width chosen by the data
    // instead of a constant — though the explicit width PINS the
    // partition count (opts that exchange out of AQE coalescing), so
    // small-scale partition counts can differ from a plain orderBy's.
    val sortWidth = Tables.volumeSizedShufflePartitions(spark, d, "lineitem")
    // Volume path only: range bounds PRECOMPUTED from parquet row-group
    // footer stats (MetaRangeBounds) + a partition-id-passthrough
    // shuffle (GraftRangeBridge) sever the range exchange's sampling
    // pass, which executed this scan-dominated child TWICE (stage 1 ≈
    // stage 2 task-seconds at 1000×, PLANSTATS_E6_1000x_r15.json).
    // Small fixtures (sortWidth == session floor) keep the plain
    // sampling exchange — plan unchanged, oracle face untouched; so
    // does any table whose footers lack l_orderkey stats.
    //
    // defaultNumShufflePartitions, NOT numShufflePartitions: the width
    // ratchet (fired by the Tables.lineitem read above) raises the AQE
    // initialPartitionNum, and numShufflePartitions REPORTS that raised
    // value under AQE — comparing sortWidth against it reads 340 > 340
    // and silently falls back to the sampling exchange on exactly the
    // volume that needs the bridge (caught by the r16 A/B's identical
    // stage tables). The static conf is the pre-ratchet baseline.
    val floor = spark.sessionState.conf.defaultNumShufflePartitions
    val ranged = (if (sortWidth > floor)
      graft.plans.MetaRangeBounds.boundsFor(
        spark.sparkContext.hadoopConfiguration,
        s"${d.stripSuffix("/")}/lineitem.parquet", "l_orderkey", sortWidth)
    else None) match {
      case Some(b) if b.nonEmpty =>
        org.apache.spark.sql.GraftRangeBridge
          .repartitionByPrecomputedRange(src, "l_orderkey", b)
      case _ =>
        src.repartitionByRange(sortWidth, col("l_orderkey"), col("l_linenumber"))
    }
    Transforms.convertColumns(
      ranged.sortWithinPartitions("l_orderkey", "l_linenumber"),
      Map.empty, tc).select(
      col("l_orderkey"), col("l_linenumber"),
      col("as_int8").cast(LongType).as("as_int8"),
      col("as_int16").cast(LongType).as("as_int16"),
      col("as_int32").cast(LongType).as("as_int32"),
      col("as_uint32").as("as_uint32"),
      col("as_int64").as("as_int64"),
      col("as_uint64").cast(StringType).as("as_uint64"),
      col("as_numeric38").cast(StringType).as("as_numeric38"),
      hex(col("as_bytes")).as("as_bytes_hex"),
      col("as_string"),
      col("as_float32").cast(LongType).as("f32_roundtrip"),
      col("as_float64").cast(LongType).as("f64_roundtrip"))
  }

  val e6CastMatrixSql: String =
    """WITH src AS (SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS cents
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(cents % 100 AS TINYINT) AS BIGINT) AS as_int8,
      |  CAST(CAST(cents % 30000 AS SMALLINT) AS BIGINT) AS as_int16,
      |  CAST(CAST(cents % 1000000000 AS INTEGER) AS BIGINT) AS as_int32,
      |  CAST(cents % 1000000000 AS BIGINT) AS as_uint32,
      |  CAST(cents AS BIGINT) AS as_int64,
      |  CAST(CAST(cents AS DECIMAL(20,0)) AS VARCHAR) AS as_uint64,
      |  CAST(CAST(cents AS DECIMAL(38,0)) AS VARCHAR) AS as_numeric38,
      |  lpad(upper(to_hex(CAST(cents AS BIGINT))), 64, '0') AS as_bytes_hex,
      |  CAST(cents AS VARCHAR) AS as_string,
      |  CAST(CAST(CAST(cents % 1000 AS FLOAT) AS BIGINT) AS BIGINT) AS f32_roundtrip,
      |  CAST(CAST(CAST(cents % 1000 AS DOUBLE) AS BIGINT) AS BIGINT) AS f64_roundtrip
      |FROM src ORDER BY l_orderkey, l_linenumber""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_s1_range_scan" -> (s1RangeScan _),
    "q_s2_column_types" -> (s2ColumnTypes _),
    "q_s3_catalog_join" -> (s3CatalogJoin _),
    "q_s4_distinct_listing" -> (s4DistinctListing _),
    "q_s5_preview" -> (s5Preview _),
    "q_e1_downscale" -> (e1Downscale _),
    "q_e2_clamp_validity" -> (e2ClampValidity _),
    "q_e5_uint256" -> (e5Uint256 _),
    "q_o1_sorted_projection" -> (o1SortedProjection _),
    "q_uint256_sum" -> (uint256Sum _),
    "q_uint256_mul" -> (uint256Mul _),
    "q_k2_metadata" -> (k2Metadata _),
    "q_e6_cast_matrix" -> (e6CastMatrix _),
    "q1_agg" -> (q1Agg _))

  val oracles: Map[String, String] = Map(
    "q_s1_range_scan" -> s1RangeScanSql,
    "q_s2_column_types" -> s2ColumnTypesSql,
    "q_s3_catalog_join" -> s3CatalogJoinSql,
    "q_s4_distinct_listing" -> s4DistinctListingSql,
    "q_s5_preview" -> s5PreviewSql,
    "q_e1_downscale" -> e1DownscaleSql,
    "q_e2_clamp_validity" -> e2ClampValiditySql,
    "q_e5_uint256" -> e5Uint256Sql,
    "q_o1_sorted_projection" -> o1SortedProjectionSql,
    "q_uint256_sum" -> uint256SumSql,
    "q_uint256_mul" -> uint256MulSql,
    "q_k2_metadata" -> k2MetadataSql,
    "q_e6_cast_matrix" -> e6CastMatrixSql,
    "q1_agg" -> q1AggSql)
}

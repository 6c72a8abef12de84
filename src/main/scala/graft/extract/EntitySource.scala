package graft.extract

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Tables

/** One subgraph's catalog entry (reference `get_subgraph_table_schemas`,
  * cli.py:72-107): where its entity tables live and the block range the
  * deployment has indexed.
  */
final case class CatalogEntry(
    subgraphName: String,
    deployment: String,
    schemaName: String,
    network: String,
    earliestBlock: Long,
    latestBlock: Long)

/** Swappable source of graph-node entity data (SURVEY.md §7.5: the
  * build environment has no Postgres, so the same relational surface is
  * implemented over parquet fixtures; a JDBC implementation would push
  * the identical predicates/projections into Postgres subqueries).
  */
trait EntitySource {

  /** S3 catalog discovery, keyed by subgraph name. */
  def catalog(spark: SparkSession): Map[String, CatalogEntry]

  /** S4: tables of a schema that carry a block_range (extractable). */
  def tableNames(spark: SparkSession, schema: String): Seq[String]

  /** S2: column name → source database type (reference
    * information_schema.columns read, cli.py:56-69).
    */
  def columnTypes(spark: SparkSession, schema: String, table: String): Map[String, String]

  /** S1: entity-range scan — rows valid from a block in `[start, end)`,
    * with `_block_number` materialized and surrogate/range columns
    * dropped. Implementations MUST push the range predicate into the
    * scan (parquet row-group stats / JDBC subquery), not filter
    * post-hoc.
    */
  def scanRange(spark: SparkSession, schema: String, table: String,
      start: Long, end: Long): DataFrame
}

/** Parquet-fixture implementation simulating a graph-node database
  * (FIXTURES.md layout):
  *
  * {{{
  * root/
  *   catalog/deployment_schemas.parquet      (subgraph, name, network, active)
  *   catalog/subgraph_version.parquet        (deployment, id)
  *   catalog/subgraph.parquet                (name, current_version)
  *   catalog/subgraph_deployment.parquet     (deployment, earliest_block_number,
  *                                            latest_ethereum_block_number)
  *   catalog/information_schema.parquet      (table_schema, table_name,
  *                                            column_name, data_type)
  *   <schema>/<table>.parquet                entity rows: vid, block_lower,
  *                                            block_upper (nullable), data cols
  * }}}
  *
  * `block_range int4range` is modeled as (block_lower, block_upper);
  * only the lower bound is consumed, exactly like the reference's
  * `lower(block_range)` (cli.py:39).
  *
  * Metadata costs no Spark job. The catalog and `information_schema`
  * tables are a few rows each, so [[catalog]], [[tableNames]] and
  * [[columnTypes]] read them on the driver with parquet-hadoop and do
  * the reference's joins and filters in plain Scala. [[scanRange]] hands
  * Spark the schema its inference would have produced, read from the
  * footer of the same file, so building the scan runs no inference job.
  * No schema is declared: every type comes from the files, and nothing
  * is cached past one call, since the head moves between runs.
  */
final class ParquetEntitySource(root: String) extends EntitySource {

  private def path(rel: String): String = s"${root.stripSuffix("/")}/$rel"

  /** The reference's 3× LEFT JOIN with active/current-version filters
    * (cli.py:74-89). The filters drop every null-extended row (no
    * version → no current version; no deployment row → null block
    * numbers), so the LEFT JOINs act as inner joins here; a null key
    * never matches, as in SQL.
    */
  override def catalog(spark: SparkSession): Map[String, CatalogEntry] = {
    val ds = rows(spark, "catalog/deployment_schemas.parquet",
      "subgraph", "name", "network", "active")
    val sv = rows(spark, "catalog/subgraph_version.parquet", "deployment", "id")
    val sg = rows(spark, "catalog/subgraph.parquet", "name", "current_version")
    val sd = rows(spark, "catalog/subgraph_deployment.parquet",
      "deployment", "earliest_block_number", "latest_ethereum_block_number")
    def by(t: Seq[IndexedSeq[Any]], key: Int) = t.filter(_(key) != null).groupBy(_(key))
    val (versions, subgraphs, ranges) = (by(sv, 0), by(sg, 1), by(sd, 0))
    (for {
      Seq(dep, schemaName, network, active) <- ds
      if active.asInstanceOf[java.lang.Boolean] == true
      Seq(_, version) <- versions.getOrElse(dep, Nil)
      Seq(name, _) <- subgraphs.getOrElse(version, Nil)
      Seq(_, earliest, latest) <- ranges.getOrElse(dep, Nil)
      if earliest != null && latest != null
    } yield {
      val n = name.asInstanceOf[String]
      n -> CatalogEntry(n, dep.asInstanceOf[String], schemaName.asInstanceOf[String],
        network.asInstanceOf[String], blockNumber(earliest), blockNumber(latest))
    }).toMap
  }

  /** `information_schema` rows of one schema (a null schema matches
    * nothing, as `table_schema = NULL` does in SQL).
    */
  private def columnsOf(spark: SparkSession, schema: String): Seq[IndexedSeq[Any]] =
    rows(spark, "catalog/information_schema.parquet",
      "table_schema", "table_name", "column_name", "data_type")
      .filter(r => r(0) != null && r(0) == schema)

  // sorted as Spark orders strings (UTF-8 bytes, nulls first)
  override def tableNames(spark: SparkSession, schema: String): Seq[String] =
    columnsOf(spark, schema)
      .collect { case Seq(_, t, "block_range", _) => t.asInstanceOf[String] }
      .distinct.sortBy(t => Option(t).map(UTF8String.fromString))

  override def columnTypes(spark: SparkSession, schema: String,
      table: String): Map[String, String] =
    columnsOf(spark, schema).collect {
      case Seq(_, t, c, ty) if t != null && t == table =>
        c.asInstanceOf[String] -> ty.asInstanceOf[String]
    }.toMap

  override def scanRange(spark: SparkSession, schema: String, table: String,
      start: Long, end: Long): DataFrame = {
    val p = path(s"$schema/$table.parquet")
    inferredSchema(spark, p).fold(spark.read)(spark.read.schema).parquet(p)
      .where(col("block_lower") >= start && col("block_lower") < end)
      .withColumn("_block_number", col("block_lower"))
      .drop("vid", "block_lower", "block_upper")
  }

  /** The schema Spark's parquet inference gives `p`, without its job.
    * Inference reads one footer: `_common_metadata`, else `_metadata`,
    * else the first data file in path order. This reads the same one
    * and converts it the same way, with the session's settings
    * (`nanosAsLong` among them). None when `p` holds no data file:
    * Spark's own read then reports the missing path or empty table.
    */
  private def inferredSchema(spark: SparkSession, p: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val data = try Tables.dataFiles(conf, p) catch { case _: FileNotFoundException => Nil }
    if (data.isEmpty) None
    else {
      val dir = new Path(p)
      val fs = dir.getFileSystem(conf)
      val file = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        .map(new Path(dir, _)).find(fs.exists)
        .getOrElse(data.map(_.getPath).minBy(_.toString))
      val footer = ParquetFileReader.readFooter(conf, file,
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }
  }

  /** The named columns of every row of a small parquet table, read on
    * the driver. Each value is converted by the Spark type that its
    * file's footer gives the column, so it is the value a Spark read
    * would return; a type with no conversion here fails the read.
    */
  private def rows(spark: SparkSession, rel: String,
      columns: String*): Seq[IndexedSeq[Any]] = {
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    // options built from `conf`: without them each open builds a default
    // Hadoop Configuration (11-13 ms a file in a probe on 4 cores)
    val options = HadoopReadOptions.builder(conf).build()
    Tables.dataFiles(conf, path(rel)).sortBy(_.getPath.toString).flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        val sparkSchema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, reader.getFooter), converter)
        val fields = columns.map(sparkSchema(_))
        val projection = new MessageType(fileSchema.getName,
          columns.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))).asJava)
        reader.setRequestedSchema(projection)
        val io = new ColumnIOFactory().getColumnIO(projection, fileSchema)
        val out = Vector.newBuilder[IndexedSeq[Any]]
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
          (0L until pages.getRowCount).foreach { _ =>
            val g = records.read()
            out += fields.map(value(rel, g, _)).toIndexedSeq
          }
          pages = reader.readNextRowGroup()
        }
        out.result()
      } finally reader.close()
    }
  }

  private def value(rel: String, g: Group, f: StructField): Any =
    if (g.getFieldRepetitionCount(f.name) == 0) null
    else f.dataType match {
      case StringType  => g.getString(f.name, 0)
      case BooleanType => g.getBoolean(f.name, 0)
      case IntegerType => g.getInteger(f.name, 0)
      case LongType    => g.getLong(f.name, 0)
      case t => throw new UnsupportedOperationException(
        s"$rel: column ${f.name} is ${t.sql}; catalog columns must be " +
          "STRING, BOOLEAN, INT or BIGINT")
    }

  // the reference casts block numbers ::int; writers use int or bigint
  private def blockNumber(v: Any): Long = v match {
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long    => n
    case other => throw new UnsupportedOperationException(
      s"block number $other is not INT or BIGINT")
  }
}

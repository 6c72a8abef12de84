package graft.bench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model.ExtractConfig

/** The generated subgraph as `gen.py` describes it: the extract config it
  * wrote and the block layout its rows follow. Row `i` of a table with
  * `n` rows sits at block `earliest + i * blockSpan / n`, so the checks
  * count expected rows from the generator's own layout, never from the
  * library's output.
  */
final case class Subgraph(
    deployment: String,
    earliest: Long,
    blockSpan: Long,
    backfillHead: Long,
    headroom: Long,
    rows: Map[String, Long],
    config: ExtractConfig) {

  def tiers: Seq[Long] = config.tables.values.head.partitionSizes

  /** Rows of `table` in blocks `[earliest, end)`. */
  def rowsBelow(table: String, end: Long): Long = {
    val n = rows(table)
    if (end <= earliest) 0L
    else math.min(n, ((end - earliest) * n + blockSpan - 1) / blockSpan)
  }

  /** First block past the planned coverage for a head: the smallest tier
    * covers up to the head rounded down to its width.
    */
  def coverageEnd(head: Long): Long = head / tiers.min * tiers.min
}

object Subgraph {
  def load(dir: String): Subgraph = {
    def read(f: String) = new String(Files.readAllBytes(Paths.get(dir, f)), "UTF-8")
    implicit val formats: Formats = DefaultFormats
    val m = JsonMethods.parse(read("manifest.json"))
    Subgraph(
      (m \ "deployment").extract[String],
      (m \ "earliest").extract[Long],
      (m \ "block_span").extract[Long],
      (m \ "backfill_head").extract[Long],
      (m \ "headroom").extract[Long],
      (m \ "tables").extract[Map[String, Long]],
      ExtractConfig.fromJson(read("config.json")))
  }

  /** Rewrites the one-row `subgraph_deployment` fixture: the catalog's
    * chain head, which an indexer advances between extract runs. Written
    * with the parquet library directly, so a tick costs no Spark job.
    */
  def writeHead(conf: Configuration, root: String, sg: Subgraph, head: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary deployment (STRING);
        |  optional int64 earliest_block_number;
        |  optional int64 latest_ethereum_block_number;
        |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new Path(s"file://$root/catalog/subgraph_deployment.parquet"))
      .withType(schema).withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("deployment", sg.deployment)
      .append("earliest_block_number", sg.earliest)
      .append("latest_ethereum_block_number", head))
    finally w.close()
  }
}

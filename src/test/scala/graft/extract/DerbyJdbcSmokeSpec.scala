package graft.extract

import java.sql.DriverManager
import java.util.Properties

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCounter, SparkTestBase}

/** Drives [[JdbcEntitySource]] through real JDBC against embedded
  * Derby (the one JDBC engine on this classpath — it ships with Spark
  * for the metastore). Derby cannot parse the PG-only statements
  * (`::bigint`, `lower(int4range)`, bare `SELECT *, expr`) — those
  * execute against genuine Postgres in PostgresSqlContractSpec — but the
  * information_schema methods run verbatim here, which exercises the
  * url/driver wiring and the positional row mappings that no string
  * assertion can; the catalog's row mapping runs over a Derby query
  * with the catalog SQL's column order, and the striping test runs
  * Spark's JDBC scan.
  */
class DerbyJdbcSmokeSpec extends AnyFunSuite with SparkTestBase
    with BeforeAndAfterAll {

  // keep embedded Derby's derby.log out of the repo root
  System.setProperty("derby.stream.error.file",
    s"${System.getProperty("java.io.tmpdir")}/graft-derby.log")

  private val url = "jdbc:derby:memory:graftsmoke;create=true"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // Derby normalizes the unquoted identifiers in the pinned SQL
      // (information_schema.columns, table_name, ...) to upper case, so
      // plain DDL here is found by the verbatim query text
      st.execute("CREATE SCHEMA information_schema")
      st.execute("""CREATE TABLE information_schema.columns (
        table_schema VARCHAR(64), table_name VARCHAR(64),
        column_name VARCHAR(64), data_type VARCHAR(64))""")
      Seq(
        ("sgd1", "swaps", "vid", "bigint"),
        ("sgd1", "swaps", "block_range", "int4range"),
        ("sgd1", "swaps", "amount", "numeric"),
        ("sgd1", "poi2", "vid", "bigint"), // no block_range -> not listed
        ("sgd2", "other", "block_range", "int4range")) // wrong schema
        .foreach { case (s, t, c, dt) =>
          st.execute(s"INSERT INTO information_schema.columns VALUES ('$s', '$t', '$c', '$dt')")
        }
      // catalogSql's joined columns, flattened into one table (Derby
      // cannot parse the pinned `::bigint` casts)
      st.execute("""CREATE TABLE catalog_rows (subgraph_name VARCHAR(64),
        deployment VARCHAR(64), schema_name VARCHAR(64), network VARCHAR(64),
        earliest BIGINT, latest BIGINT)""")
      st.execute("""INSERT INTO catalog_rows VALUES
        ('my_subgraph', 'QmDeployment', 'sgd7', 'mainnet', 5000000000, 5000000123),
        ('other', 'QmOther', 'sgd8', 'xdai', 1, 2)""")
      st.execute("CREATE TABLE nums (bn BIGINT, v VARCHAR(8))")
      (0 until 100).foreach(i =>
        st.execute(s"INSERT INTO nums VALUES ($i, 'v$i')"))
      st.close()
    } finally conn.close()
  }

  private def source = new JdbcEntitySource(url, props)

  test("tableNames executes the pinned SQL over JDBC") {
    assert(source.tableNames(spark, "sgd1") === Seq("swaps"))
  }

  test("columnTypes executes the pinned SQL over JDBC") {
    assert(source.columnTypes(spark, "sgd1", "swaps") ===
      Map("vid" -> "bigint", "block_range" -> "int4range", "amount" -> "numeric"))
  }

  test("catalogRow maps catalogSql's columns by position") {
    val conn = DriverManager.getConnection(url)
    val rows = try {
      val rs = conn.createStatement().executeQuery(
        """SELECT subgraph_name, deployment, schema_name, network, earliest, latest
          |FROM catalog_rows ORDER BY subgraph_name""".stripMargin)
      Iterator.continually(rs).takeWhile(_.next())
        .map(JdbcEntitySource.catalogRow).toVector
    } finally conn.close()
    assert(rows === Vector(
      "my_subgraph" -> CatalogEntry("my_subgraph", "QmDeployment", "sgd7",
        "mainnet", 5000000000L, 5000000123L),
      "other" -> CatalogEntry("other", "QmOther", "sgd8", "xdai", 1L, 2L)))
  }

  test("tableNames and columnTypes start no Spark job") {
    val jobs = new JobCounter(spark)
    try {
      assert(jobs.phase("tableNames")(source.tableNames(spark, "sgd1")) === Seq("swaps"))
      assert(jobs.phase("columnTypes")(source.columnTypes(spark, "sgd1", "swaps")).size === 3)
      val started = jobs.started("tableNames", "columnTypes")
      assert(started.forall(_._2 == 0), s"Spark jobs started per call: $started")
    } finally jobs.close()
  }

  test("scanPartitionOptions stripe a real JDBC scan without loss or overlap") {
    val opts = JdbcEntitySource.scanPartitionOptions(0, 100, 4)
    assert(opts("numPartitions") === "4" && opts("partitionColumn") === "_block_number")
    val df = spark.read.format("jdbc")
      .option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", """(SELECT bn AS "_block_number", v FROM nums) AS t""")
      .options(opts)
      .load()
    assert(df.rdd.getNumPartitions === 4)
    // stripes must partition the range exactly: no dropped or doubled rows
    assert(df.count() === 100)
    assert(df.agg(org.apache.spark.sql.functions.countDistinct("v")).head().getLong(0) === 100)
  }
}

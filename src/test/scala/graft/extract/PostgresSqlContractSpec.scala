package graft.extract

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Executes [[JdbcEntitySource]]'s pinned Postgres SQL against a REAL
  * throwaway Postgres cluster (this container ships server binaries and
  * a `postgres` user, but no pgjdbc jar — so the strings run through
  * `psql` here, while DerbyJdbcSmokeSpec drives the JDBC plumbing;
  * together they cover everything but the PG-wire+Spark
  * combination, which needs the driver jar).
  *
  * This is the check string-pinning can't give: `lower(block_range)` on
  * a genuine `int4range`, `::bigint` casts, `information_schema`
  * filtering, and full-precision `numeric` (uint256-scale) output all
  * execute with real Postgres semantics. Fixture mirrors the shape of
  * the reference's tests/resources/example_db.sql (catalog tables +
  * one block-versioned entity table); cancels cleanly when no local
  * Postgres is available.
  */
class PostgresSqlContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val pgBin = "/usr/local/bin"
  private val dir = s"/tmp/graft-pgspec-${ProcessHandle.current().pid()}"
  private val port = 50000 + (ProcessHandle.current().pid() % 9000).toInt
  private var serverUp = false

  private def haveLocalPostgres: Boolean =
    Files.exists(Paths.get(s"$pgBin/initdb")) &&
      Process(Seq("id", "-u", "postgres")).!(ProcessLogger(_ => ())) == 0

  /** Run `cmd` as the postgres user from /, capturing stdout. */
  private def asPostgres(cmd: String): (Int, String) = {
    val out = new StringBuilder
    val rc = Process(Seq("su", "postgres", "-c", s"cd /; $cmd"))
      .!(ProcessLogger(line => out.append(line).append('\n'), _ => ()))
    (rc, out.toString)
  }

  /** Execute one SQL text via psql, returning its CSV output. */
  private def psqlCsv(sql: String): String = {
    val f = Paths.get(dir, s"q${sql.hashCode.abs}.sql")
    Files.write(f, sql.getBytes(StandardCharsets.UTF_8))
    val (rc, out) = asPostgres(
      s"/usr/bin/psql --csv -v ON_ERROR_STOP=1 -h $dir -p $port -d postgres -f $f")
    assert(rc == 0, s"psql failed (rc=$rc) for:\n$sql\n$out")
    out.trim
  }

  /** Catalog + entity fixture in the shape of the reference's
    * tests/resources/example_db.sql:4-31,45-60: an active deployment
    * with a current version and block range, an inactive one, one with
    * no current version, and a block-versioned entity table (int4range
    * `block_range`, surrogate `vid`, uint256-scale `numeric`).
    */
  private val fixtureSql =
    """CREATE SCHEMA subgraphs;
      |CREATE TABLE deployment_schemas (
      |  id int, subgraph text, name text, network text, active boolean);
      |CREATE TABLE subgraphs.subgraph (id text, name text, current_version text);
      |CREATE TABLE subgraphs.subgraph_version (id text, deployment text);
      |CREATE TABLE subgraphs.subgraph_deployment (
      |  deployment text, earliest_block_number numeric,
      |  latest_ethereum_block_number numeric);
      |CREATE SCHEMA sgd1;
      |CREATE TABLE sgd1.swaps (
      |  vid bigint, block_range int4range, id text, amount numeric);
      |CREATE TABLE sgd1.poi2 (vid bigint, digest bytea);
      |INSERT INTO deployment_schemas VALUES
      |  (1, 'QmAAA', 'sgd1', 'gnosis', true),
      |  (2, 'QmBBB', 'sgd2', 'gnosis', false),
      |  (3, 'QmCCC', 'sgd3', 'mainnet', true);
      |INSERT INTO subgraphs.subgraph VALUES
      |  ('sg1', 'demo/swaps', 'v1'), ('sg3', 'demo/nocur', NULL);
      |INSERT INTO subgraphs.subgraph_version VALUES ('v1', 'QmAAA'), ('v3', 'QmCCC');
      |INSERT INTO subgraphs.subgraph_deployment VALUES ('QmAAA', 10, 110), ('QmCCC', 5, 50);
      |INSERT INTO sgd1.swaps VALUES
      |  (1, '[15,30)', '0x01', 100),
      |  (2, '[25,)',   '0x02', 250000000000000000000000000000),
      |  (3, '[55,60)', '0x03', 7),
      |  (4, '[60,)',   '0x04', 42);
      |""".stripMargin

  // evaluated once; beforeAll must NOT assume()/throw on absence — a
  // TestCanceledException escaping beforeAll ABORTS the suite (build
  // failure) instead of canceling it, so the guard lives in each test
  private lazy val available: Boolean = haveLocalPostgres

  private def assumePostgres(): Unit =
    assume(available && serverUp, "no local Postgres server binaries/user")

  override def beforeAll(): Unit = {
    if (!available) return
    Files.createDirectories(Paths.get(dir))
    assert(Process(Seq("chown", "-R", "postgres", dir)).! == 0)
    val (rcInit, outInit) = asPostgres(s"$pgBin/initdb -D $dir/data -A trust")
    assert(rcInit == 0, s"initdb failed:\n$outInit")
    val (rcStart, outStart) = asPostgres(
      s"""$pgBin/pg_ctl -D $dir/data -l $dir/log -w """ +
        s"""-o "-k $dir -p $port -c listen_addresses=''" start""")
    assert(rcStart == 0, s"pg_ctl start failed:\n$outStart")
    serverUp = true
    psqlCsv(fixtureSql)
  }

  override def afterAll(): Unit = {
    if (serverUp) asPostgres(s"$pgBin/pg_ctl -D $dir/data -m immediate stop")
    if (Files.exists(Paths.get(dir)))
      Process(Seq("rm", "-rf", dir)).!
  }

  test("catalogSql discovers exactly the active+versioned deployment") {
    assumePostgres()
    assert(psqlCsv(JdbcEntitySource.catalogSql) ===
      """subgraph_name,deployment,schema_name,network,earliest,latest
        |demo/swaps,QmAAA,sgd1,gnosis,10,110""".stripMargin)
  }

  test("tableNamesSql lists only block_range-bearing tables") {
    assumePostgres()
    assert(psqlCsv(JdbcEntitySource.tableNamesSql("sgd1")) ===
      "table_name\nswaps") // poi2 has no block_range column
  }

  test("columnTypesSql reports Postgres type names") {
    assumePostgres()
    val rows = psqlCsv(JdbcEntitySource.columnTypesSql("sgd1", "swaps"))
      .linesIterator.drop(1).toSet
    assert(rows === Set("vid,bigint", "block_range,int4range",
      "id,text", "amount,numeric"))
  }

  test("scanRangeSql filters the half-open range on a real int4range") {
    assumePostgres()
    // row 1 starts at 15 (< 20, out), rows 2-3 start inside [20, 60),
    // row 4 starts at 60 (half-open, out); unbounded upper ends and a
    // 30-digit numeric survive; deterministic lower-bound order
    assert(psqlCsv(JdbcEntitySource.scanRangeSql("sgd1", "swaps", 20, 60)) ===
      """vid,block_range,id,amount,_block_number
        |2,"[25,)",0x02,250000000000000000000000000000,25
        |3,"[55,60)",0x03,7,55""".stripMargin)
  }

  test("scanRangeSql rejects unsafe identifiers before any SQL is built") {
    assertThrows[IllegalArgumentException](
      JdbcEntitySource.scanRangeSql("sgd1; DROP TABLE x", "swaps", 0, 1))
  }
}

package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pins the compute-parallelism floor (`Tables.documentsFloored`):
  *
  *   1. a one-row-group fixture gets ONE hash exchange on the row key
  *      (the floor), and scan pushdown is UNAFFECTED by it — the filter
  *      and the pruned schema still reach the parquet scan;
  *   2. an input that already offers >= cores row groups is returned
  *      untouched (the cluster-scale no-op contract);
  *   3. the floor repartitions to exactly `defaultParallelism` with
  *      hash-on-key, so a downstream groupBy on the same key can reuse
  *      the exchange instead of adding a second one.
  */
class TablesFloorSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("batch floor widens a big micro-batch and skips a trickle") {
    val cores = spark.sparkContext.defaultParallelism
    val big = Tables.computeFloorForBatch(spark,
      spark.range(cores * Tables.FloorMinRowsPerCore).toDF("doc_id"),
      "doc_id", rows = cores * Tables.FloorMinRowsPerCore)
    assert(big.rdd.getNumPartitions === cores)
    val trickleRows = cores * Tables.FloorMinRowsPerCore - 1
    val trickle = spark.range(4).toDF("doc_id").coalesce(1)
    val kept = Tables.computeFloorForBatch(spark, trickle, "doc_id", trickleRows)
    assert(kept.rdd.getNumPartitions === 1,
      "trickle batch below the rows-per-core guard must not be exchanged")
  }

  test("plain readers never floor; documentsFloored does") {
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    Seq(Tables.documents(spark, sf).select("doc_id"),
        Tables.embeddings(spark, sf).select("vec_id"),
        Tables.events(spark, sf).select("event_id")).foreach { df =>
      assert(!plan(df).contains("hashpartitioning("),
        s"plain reader floored:\n${plan(df)}")
    }
    val req = plan(Tables.documentsFloored(spark, sf).select("doc_id"))
    assert(req.contains("hashpartitioning(doc_id"),
      s"documentsFloored did not floor:\n$req")
  }

  test("floored read keeps filter pushdown and column pruning at the scan") {
    val plan = Tables.documentsFloored(spark, sf)
      .where(col("doc_id") >= 10 && col("doc_id") < 40)
      .select("doc_id", "n_chars")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(doc_id"),
      s"expected the floor's hash exchange on doc_id in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(doc_id,10)") &&
      plan.contains("LessThan(doc_id,40)"),
      s"range predicate not pushed to the parquet scan:\n$plan")
    // pruned read schema: the floor must not force text into the scan
    assert(!plan.contains("text"),
      s"column pruning lost through the floor exchange (text read):\n$plan")
  }

  test("floor widens a one-row-group scan to defaultParallelism") {
    val df = Tables.documentsFloored(spark, sf).select("doc_id")
    assert(df.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
  }

  test("an input with >= cores row groups is returned untouched") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("floor-noop").toString
    Tables.documents(spark, sf)
      .repartition(cores)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val plan = Tables.documentsFloored(spark, dir)
      .select("doc_id").queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"floor fired on a ${cores}-file input:\n$plan")
  }

  test("a table rewritten in-process re-decides the floor (no stale memo)") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("floor-rewrite").toString
    val src = Tables.documents(spark, sf)
    src.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val before = Tables.documentsFloored(spark, dir).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(before.contains("hashpartitioning(doc_id"),
      s"one-file table must floor:\n$before")
    // same path, same JVM, rewritten wide: the decision must flip —
    // the row-group memo is keyed by the listing signature, not path
    src.repartition(cores).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val after = Tables.documentsFloored(spark, dir).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(!after.contains("hashpartitioning(doc_id"),
      s"stale row-group memo: floor fired on the rewritten $cores-file table:\n$after")
  }

  test("crashed-write debris under hidden components does not break the census") {
    val dir = java.nio.file.Files.createTempDirectory("floor-debris").toString
    Tables.documents(spark, sf).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // a crashed write's leftovers: ordinary part-file LEAF names below a
    // _temporary component, holding non-parquet bytes — the plain Spark
    // scan never sees them, and neither may the row-group census
    val tmp = java.nio.file.Paths.get(s"$dir/documents.parquet/_temporary/0")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.write(tmp.resolve("part-00000-junk.snappy.parquet"),
      Array[Byte](1, 2, 3))
    val plan = Tables.documentsFloored(spark, dir).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(doc_id"),
      s"floor decision disturbed by hidden debris:\n$plan")
  }

  test("volume-sized shuffle width floors at the session constant and caps") {
    val w = spark.sessionState.conf.numShufflePartitions
    // a tiny fixture must keep the session width — the small-scale plan
    // is EXACTLY the pre-r15 plan
    assert(Tables.volumeSizedShufflePartitions(spark, sf, "lineitem") === w,
      "sf0.001 lineitem must not widen past the session shuffle width")
    // degenerate budget: width is capped, not unbounded
    assert(Tables.volumeSizedShufflePartitions(spark, sf, "lineitem",
      bytesPerPartition = 1L) === 4096)
    // huge budget: width never drops below the session constant
    assert(Tables.volumeSizedShufflePartitions(spark, sf, "lineitem",
      bytesPerPartition = Long.MaxValue) === w)
  }

  test("downstream groupBy on the floor key reuses the exchange") {
    val plan = Tables.documentsFloored(spark, sf)
      .groupBy("doc_id").agg(sum("n_chars"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(doc_id".r
      .findAllMatchIn(plan).size
    assert(exchanges === 1,
      s"expected one reused doc_id exchange, saw $exchanges:\n$plan")
  }
}

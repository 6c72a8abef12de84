package graft.extract

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.plans.{Partitioner, Watermark}

/** The extract-lifecycle crash contract
  * (tests/test_get_column_info.py:164-225), with near-dup ADMISSION in
  * the loop: advancing the watermark adds data; a run that crashed
  * after writing SOME partition directories but before the watermark
  * commit is fully healed by the next run; and already-admitted docs
  * are never lost to registry self-hits on re-runs or consolidated
  * tile rewrites.
  */
class IngestionPipelineSpec extends AnyFunSuite with SparkTestBase {

  private val src = "/root/testdata/sf0.001"

  private def freshStore(): String =
    Files.createTempDirectory("ingest-spec").toString

  private def storeDocs(store: String): Set[Long] =
    IngestionPipeline.committedStore(spark, src, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  /** Copies the files under `from` to the same relative paths under
    * `to`, keeping any file already there.
    */
  private def copyTree(from: String, to: String): Unit = {
    val base = Paths.get(from)
    val files = Files.walk(base)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val dst = Paths.get(to).resolve(base.relativize(f))
      if (!Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        Files.copy(f, dst)
      }
    }
    finally files.close()
  }

  private def rmTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  test("writing twice when the watermark increases adds data (ref :164-178)") {
    val store = freshStore()
    val r1 = IngestionPipeline.ingest(spark, src, store, latestDocId = 160L)
    assert(Files.exists(Paths.get(Watermark.path(store))), "watermark missing")
    val s1 = storeDocs(store)
    assert(s1.nonEmpty && s1.forall(_ < 160L))
    assert(r1.nSeen >= r1.nAdmitted && r1.nAdmitted == s1.size)

    val r2 = IngestionPipeline.ingest(spark, src, store, latestDocId = 320L)
    val s2 = storeDocs(store)
    assert(s2.size > s1.size, "advancing the watermark must add data")
    // previously admitted docs survive consolidation rewrites
    assert(s1.subsetOf(s2), s"lost docs: ${(s1 -- s2).toSeq.sorted.take(5)}")
    assert(r2.watermark.latestBlock == 320L)
    spark.catalog.clearCache()
  }

  test("second run heals a run that crashed before its commit (ref :181-225)") {
    val store = freshStore()
    IngestionPipeline.ingest(spark, src, store, latestDocId = 160L)
    val wmAfter1 = Files.readString(Paths.get(Watermark.path(store)))
    // run 1's directories, which a run 2 that crashed before its commit
    // would not yet have pruned
    val run1 = Files.createTempDirectory("ingest-run1").toString
    copyTree(store, run1)

    IngestionPipeline.ingest(spark, src, store, latestDocId = 320L)
    val healthy = storeDocs(store)

    // forge the crash state: run 1's tiles are all present, one of run
    // 2's partition directories is missing AND the watermark still reads
    // as run 1's (the reference's exact regression: progress must come
    // from the watermark, never from what happens to exist on disk)
    copyTree(run1, store)
    val plan1 = Partitioner.plan(0L, 160L, IngestionPipeline.DefaultTierSizes)
    val plan2 = Partitioner.plan(0L, 320L, IngestionPipeline.DefaultTierSizes)
    val work2 = Partitioner.worklist(plan2, plan1)
    val tDir = Partitioner.tableDir(
      store, IngestionPipeline.Subgraph, IngestionPipeline.Table)
    val victim = Partitioner.partitionDir(tDir, work2.last)
    val iDir = Partitioner.tableDir(
      store, IngestionPipeline.Subgraph, IngestionPipeline.IndexTable)
    val idxVictim = Partitioner.partitionDir(iDir, work2.head)
    rmTree(victim); rmTree(idxVictim)
    assert(!Files.exists(Paths.get(victim)))
    assert(!Files.exists(Paths.get(idxVictim)))
    Files.writeString(Paths.get(Watermark.path(store)), wmAfter1)
    // the raw rewrite bypasses Hadoop's ChecksumFileSystem — drop the
    // stale sidecar so the forged watermark reads back
    Files.deleteIfExists(Paths.get(s"$store/.latest.json.crc"))

    // the healing run: same latest as the crashed one
    IngestionPipeline.ingest(spark, src, store, latestDocId = 320L)
    assert(Files.exists(Paths.get(victim)), "missing partition not rewritten")
    assert(Files.exists(Paths.get(idxVictim)), "missing INDEX dir not rewritten")
    assert(storeDocs(store) == healthy,
      "healed store must equal the uninterrupted result")
    spark.catalog.clearCache()
  }

  test("superseded tiles are pruned: a whole-directory read counts each admitted doc once") {
    val store = freshStore()
    // 160 ends on two 16-tiles that the 64-tile [128, 192) of the
    // 320 run supersedes
    val rs = Seq(160L, 320L).map(l => IngestionPipeline.ingest(spark, src, store, latestDocId = l))
    val conf = spark.sparkContext.hadoopConfiguration
    val admitted = rs.map(_.nAdmitted).sum
    Seq(IngestionPipeline.Table, IngestionPipeline.IndexTable).foreach { t =>
      val dir = Partitioner.tableDir(store, IngestionPipeline.Subgraph, t)
      assert(spark.read.parquet(dir).count() === admitted, t)
      assert(MetadataSink.rowCountFromMetadata(dir, conf) === admitted, t)
    }
    spark.catalog.clearCache()
  }

  test("stored index rows reproduce registryIndexOver exactly") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, src)
      .select("doc_id", "text")
    val over = Dedup.registryIndexOver(docs)
    val rows = Dedup.registryIndexRows(docs)
    val fromRows = Dedup.registryIndexFromRows(rows)
    def set(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(set(fromRows._1) == set(over._1), "regBands differ")
    assert(set(fromRows._2) == set(over._2), "regSets differ")
    assert(set(fromRows._3) == set(over._3), "regHashes differ")
    spark.catalog.clearCache()
  }

  test("_metadata summarizes exactly the committed admitted store") {
    val store = freshStore()
    IngestionPipeline.ingest(spark, src, store, latestDocId = 320L)
    val tDir = Partitioner.tableDir(
      store, IngestionPipeline.Subgraph, IngestionPipeline.Table)
    val metaRows = MetadataSink.rowCountFromMetadata(
      tDir, spark.sparkContext.hadoopConfiguration)
    assert(metaRows == storeDocs(store).size.toLong,
      s"_metadata rows $metaRows != store ${storeDocs(store).size}")
    spark.catalog.clearCache()
  }

  test("re-running the same watermark is a no-op with an empty worklist") {
    val store = freshStore()
    IngestionPipeline.ingest(spark, src, store, latestDocId = 160L)
    val before = storeDocs(store)
    val r = IngestionPipeline.ingest(spark, src, store, latestDocId = 160L)
    assert(r.work.isEmpty && r.nSeen == 0L && r.nAdmitted == 0L)
    assert(storeDocs(store) == before)
    spark.catalog.clearCache()
  }

  test("admission actually filters: planted dups are rejected across runs") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ingest-dup-fx").toString
    // 20 tokens -> 18 shingles; the near-copy changes only the LAST
    // token, so jaccard = 17/19 = 8947 e4, above the 8000 admission bar
    val txtA = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "mu nu xi omicron pi rho sigma tau upsilon phi")
    val txtB = "one two three four five six seven eight nine ten eleven"
    // batch 1 (ids < 16): originals; batch 2 (16..31): an exact copy,
    // a near-copy, and a fresh doc
    val txtNear = txtA.replace("phi", "chi")
    (Seq((1L, txtA), (2L, txtB), (17L, txtA), (18L, txtNear), (19L, "totally unrelated content with many new words here"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val store = freshStore()
    val r1 = IngestionPipeline.ingest(spark, dir, store, latestDocId = 16L)
    assert(storeDocs2(dir, store) == Set(1L, 2L))
    assert(r1.nAdmitted == 2L)
    val r2 = IngestionPipeline.ingest(spark, dir, store, latestDocId = 32L)
    val v = r2.verdicts.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getBoolean(4))))
      .toMap
    assert(v(17L)._1 && v(17L)._2 == 10000L && v(17L)._3, "exact copy must be a dup")
    assert(!v(18L)._1 && v(18L)._2 >= 8000L && v(18L)._3, "near-copy must be a dup")
    assert(!v(19L)._3, "fresh doc must be admitted")
    assert(storeDocs2(dir, store) == Set(1L, 2L, 19L))
    spark.catalog.clearCache()
  }

  private def storeDocs2(srcDir: String, store: String): Set[Long] =
    IngestionPipeline.committedStore(spark, srcDir, store)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("probe-artifact index rows equal the re-hashing reference form") {
    val s = spark
    import s.implicits._
    // replicas (same text, higher id) + uniques: exercises the
    // canonical/non-canonical split of sig/sset
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (9L, "unique trailing document with its own words entirely"),
      (11L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val empty = docs.where(lit(false))
    val (rb, rs, rh) = graft.operators.Dedup.registryIndexFromRows(
      graft.operators.Dedup.registryIndexRows(empty))
    val (v, cont) = graft.operators.Dedup.incrementalLshProbeArtifacts(
      docs, rb, rs, rh)
    val admittedIds = v.where(!col("is_dup")).localCheckpoint(true)
    val folded = IngestionPipeline.indexRowsFromProbe(admittedIds, cont)
    val admitted = docs.join(admittedIds.select("doc_id"), Seq("doc_id"),
      "left_semi")
    val reference = IngestionPipeline.indexRowsFor(admitted)
    assert(folded.schema.map(f => (f.name, f.dataType)) ==
      reference.schema.map(f => (f.name, f.dataType)))
    val fm = folded.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val rm = reference.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fm.keySet == rm.keySet)
    fm.foreach { case (id, row) => assert(row == rm(id), s"doc $id") }
    spark.catalog.clearCache()
  }

  test("strict-batch admission keeps only the content canonical (cid)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("ingest-strict-fx").toString
    (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "totally different content with many other words in here"),
      (8L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val store = freshStore()
    val r = IngestionPipeline.ingest(spark, dir, store, latestDocId = 16L,
      strictBatch = true)
    assert(r.nAdmitted == 2L)
    assert(storeDocs2(dir, store) == Set(1L, 5L),
      "only the min doc id per content and the unique doc are admitted")
    spark.catalog.clearCache()
  }

  test("a failed chain stops its sibling before ingest() throws") {
    val store = freshStore()
    // the store table's directory is a plain file: the store chain's
    // write fails at job setup while the index chain is still writing
    val tDir = Paths.get(Partitioner.tableDir(
      store, IngestionPipeline.Subgraph, IngestionPipeline.Table))
    Files.createDirectories(tDir.getParent)
    Files.writeString(tDir, "not a directory")
    intercept[Exception](
      IngestionPipeline.ingest(spark, src, store, latestDocId = 640L))
    def snapshot(): Map[String, (Long, Long)] = {
      val files = Files.walk(Paths.get(store))
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally files.close()
    }
    val atThrow = snapshot()
    Thread.sleep(3000)
    assert(snapshot() == atThrow,
      "files under the store root changed after ingest() threw")
    assert(!Files.exists(Paths.get(Watermark.path(store))))
    spark.catalog.clearCache()
  }
}

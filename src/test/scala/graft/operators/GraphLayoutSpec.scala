package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Driver-side model checks for skew diagnostics, the Z-order layout
  * key, and integer PageRank.
  */
class GraphLayoutSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("skew diagnostics matches driver-side counts and ratios") {
    val counts = graft.sources.Tables.events(spark, sf)
      .select("user_id").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = counts.values.sum
    val nKeys = counts.size.toLong
    val expected = counts.toSeq.sortBy { case (u, n) => (-n, u) }.take(10)
    val rows = EventAnalytics.skewDiagnostics(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(r => (r._1, r._2)).toSeq === expected)
    rows.foreach { case (u, n, ppm, x100) =>
      assert(ppm === n * 1000000L / total, s"user $u share")
      assert(x100 === n * 100L * nKeys / total, s"user $u ratio")
    }
    // ratios are monotone with the count ordering (truncation can floor a
    // near-mean key to 99, so >= 100 is NOT an invariant on uniform data)
    assert(rows.map(_._4).toSeq === rows.map(_._4).sortBy(-_).toSeq)
  }

  test("zkey interleave is bijective: de-interleaving recovers both dims") {
    val rows = EventAnalytics.zorderLayout(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, x, y, z) =>
      var (rx, ry) = (0L, 0L)
      for (k <- 0 until 16) {
        rx |= ((z >> (2 * k)) & 1L) << k
        ry |= ((z >> (2 * k + 1)) & 1L) << k
      }
      assert(rx === x && ry === y, s"event $id: zkey does not round-trip")
    }
    // layout property: the output is sorted by zkey
    assert(rows.map(_._4).toSeq === rows.map(_._4).sorted.toSeq)
  }

  test("compiled zorder_key equals the declarative fold on random longs") {
    import org.apache.spark.sql.functions.{col, expr}
    val df = spark.range(2000).selectExpr(
      "cast(xxhash64(id) & 65535 as bigint) as x",
      "cast(xxhash64(id + 7) & 65535 as bigint) as y")
    val mism = df
      .withColumn("zk", graft.functions.GraftFunctions.zorder_key(col("x"), col("y")))
      .withColumn("zd", expr(EventAnalytics.zkeyDeclarative))
      .where(col("zk") =!= col("zd")).count()
    assert(mism === 0L, "kernel diverges from the declarative fold")
  }

  test("pagerank matches a driver-side integer iteration") {
    val edges = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val directed = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = directed.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var ranks: Map[Long, Long] = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 0 until 3) {
      val inflow = directed
        .groupBy(_._2).view.mapValues { es =>
          es.map { case (src, _) => ranks(src) / deg(src) }.sum
        }.toMap
      ranks = inflow.map { case (n, s) => n -> (150000L + 85L * s / 100L) }
    }
    val rows = Similarity.graphPagerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSet === ranks.keySet)
    rows.foreach { case (node, r, dg) =>
      assert(r === ranks(node), s"node $node rank")
      assert(dg === deg(node), s"node $node degree")
    }
    // damping floor: no node can fall below the teleport constant
    assert(rows.forall(_._2 >= 150000L))
  }
}

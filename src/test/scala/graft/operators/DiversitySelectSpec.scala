package graft.operators

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Driver-side model checks for the round-8 diversity/curation additions:
  * C4-style corpus-global boilerplate scrub, per-source vocabulary
  * concentration, cluster-balanced selection, and greedy k-center, all
  * on the real sf0.001 corpus.
  */
class DiversitySelectSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def tokens(text: String): Vector[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toVector

  private def h16(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  private lazy val docToks: Vector[(Long, Vector[String])] =
    graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokens(r.getString(1))).toVector.sortBy(_._1)

  test("boilerplate scrub matches a driver df/interval-union model") {
    // shared JVM-wide session: other suites may hold documented
    // caller-owns-unpersist caches — start from a clean slate so the
    // release assertion below sees only THIS operator's caches
    spark.catalog.clearCache()
    val n = TextAnalysis.DefaultBoilerGramN
    val minDf = TextAnalysis.DefaultBoilerMinDf
    // corpus-global gram -> distinct-doc frequency
    val df = docToks
      .flatMap { case (id, toks) =>
        if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSet.map((g: String) => (g, id))
        else Set.empty[(String, Long)]
      }
      .groupBy(_._1).map { case (g, ds) => g -> ds.map(_._2).distinct.size }
    val flagged = df.filter(_._2 >= minDf).keySet
    val expected = docToks.map { case (id, toks) =>
      val covered: Set[Int] =
        if (toks.size < n) Set.empty
        else toks.sliding(n).zipWithIndex.collect {
          case (g, i) if flagged(g.mkString(" ")) => i until (i + n)
        }.flatten.toSet
      val scrubbed = toks.zipWithIndex
        .collect { case (t, i) if !covered(i) => t }.mkString(" ")
      id -> ((toks.size.toLong, covered.size.toLong,
        if (toks.nonEmpty) covered.size.toLong * 10000L / toks.size else 0L,
        h16(scrubbed)))
    }.toMap
    val res = TextAnalysis.boilerplateScrub(spark, sf)
    val got = res.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    graft.Sessions.releaseCaches(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "boilerplateScrub leaked a cache")
    assert(got === expected)
    assert(got.values.exists(_._2 > 0), "fixture should contain boilerplate")
    // the tiny-vocab corpus flags a gram in every doc; the discriminating
    // check is that coverage VARIES and never exceeds the doc length
    assert(got.values.map(_._3).toSet.size > 1, "coverage should vary")
    assert(got.values.forall(v => v._2 <= v._1), "coverage cannot exceed length")
  }

  test("vocab concentration matches a driver HHI model") {
    val bySource = graft.sources.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.toVector.flatMap(r => tokens(r.getString(1))) }
    val expected = bySource.map { case (s, toks) =>
      val counts = toks.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
      val nTok = toks.size.toLong
      val hhi = counts.values.map(c => BigInt(c) * c).sum * 1000000 /
        (BigInt(nTok) * nTok)
      // struct-max contract: highest count, ties to the LARGEST token
      val (topTok, topC) = counts.toVector.maxBy { case (t, c) => (c, t) }
      s -> ((nTok, counts.size.toLong, hhi.toLong, topTok, topC * 1000000L / nTok))
    }
    val got = TextAnalysis.vocabConcentration(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getLong(5)))).toMap
    assert(got === expected)
    // HHI sanity: bounded by (1/vocab, 1] in ppm
    got.values.foreach { case (_, vocab, hhi, _, _) =>
      assert(hhi >= 1000000L / vocab - 1 && hhi <= 1000000L, s"HHI $hhi range")
    }
  }

  test("cluster-balanced verdicts are a consistent per-cell cap report") {
    val cap = Similarity.DefaultCellCap
    val rows = Similarity.clusterBalanced(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5)))
    val nVecs = graft.sources.Tables.embeddings(spark, sf).count()
    assert(rows.length.toLong === nVecs, "every vector gets a verdict")
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val n = members.length.toLong
      assert(members.map(_._3).sorted.toVector === (1L to n).toVector,
        s"cell $cell ranks are a permutation")
      members.foreach { case (vid, _, rank, nInCell, kept, nDropped) =>
        assert(nInCell === n, s"vec $vid cell population")
        assert(kept === (rank <= cap), s"vec $vid verdict")
        assert(nDropped === math.max(n - cap, 0L), s"vec $vid overflow")
      }
      assert(members.count(_._5) === math.min(cap, n), s"cell $cell kept count")
    }
    assert(rows.exists(!_._5), "fixture should overflow at least one cell")
    assert(rows.exists(_._5), "fixture should keep at least one vector")
  }

  test("embed PCA matches a driver power-iteration model") {
    // shared JVM-wide session: other suites may hold documented
    // caller-owns-unpersist caches — start from a clean slate so the
    // release assertion below sees only THIS operator's caches
    spark.catalog.clearCache()
    val dims = 64
    val vecs: Vector[(Long, Array[Long])] = graft.sources.Tables
      .embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .toVector.sortBy(_._1)
    val n = vecs.size
    val mu = (0 until dims).map(i => vecs.map(_._2(i)).sum / n).toArray
    val c = vecs.map { case (id, v) =>
      id -> (0 until dims).map(i => v(i) - mu(i)).toArray }
    val seedC = c.minBy { case (id, _) => (h16(id.toString), id) }._2
    val seedMax = seedC.map(math.abs).max.max(1L)
    var v = seedC.map(x => BigInt(x) * 1000000 / seedMax)
    for (_ <- 0 until Similarity.PcaIters) {
      val dots = c.map { case (id, cv) =>
        id -> (0 until dims).map(i => BigInt(cv(i)) * v(i)).sum / 1000000 }
      val w = (0 until dims).map(i =>
        c.zip(dots).map { case ((_, cv), (_, dot)) => BigInt(cv(i)) * dot }.sum)
      val maxAbs = w.map(_.abs).max.max(BigInt(1))
      v = w.map(_ * 1000000 / maxAbs).toArray
    }
    val checksum = v.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    val expected = c.map { case (id, cv) =>
      id -> (0 until dims).map(i => BigInt(cv(i)) * v(i)).sum / 1000000 }.toMap
    val got = Similarity.embedPca(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.length === n)
    got.foreach { case (id, _, proj, ck) =>
      assert(BigInt(ck) === checksum, s"vec $id pc checksum")
      assert(BigInt(proj) === expected(id), s"vec $id projection")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "embedPca leaked a cache")
    // top-PC property: the found direction explains at least as much
    // (integer-scaled) variance as any single coordinate axis
    def varOf(proj: Seq[BigInt]): BigInt = {
      val m = proj.sum / proj.size
      proj.map(p => (p - m) * (p - m)).sum
    }
    // variance along a direction u is Var(x·u)/|u|²; the projections
    // above are x·v/1e6, so Var_along_v ≈ pcVar·1e12/|v|². Cross-multiply
    // to stay integer-exact, with 10% slack for the fixed (non-converged)
    // iteration count and the e6 floor noise.
    val e12 = BigInt(1000000L) * BigInt(1000000L)
    val vNorm2 = v.map(x => x * x).sum
    val pcVar = varOf(c.map { case (_, cv) =>
      (0 until dims).map(i => BigInt(cv(i)) * v(i)).sum / 1000000 })
    (0 until dims).foreach { ax =>
      val axVar = varOf(c.map { case (_, cv) => BigInt(cv(ax)) })
      assert(pcVar * e12 * 10 >= axVar * vNorm2 * 9,
        s"axis $ax variance should not beat the top PC by more than 10%")
    }
  }

  test("k-center matches a driver greedy farthest-point model") {
    // shared JVM-wide session: other suites may hold documented
    // caller-owns-unpersist caches — start from a clean slate so the
    // release assertion below sees only THIS operator's caches
    spark.catalog.clearCache()
    val vecs: Vector[(Long, Array[Float])] = graft.sources.Tables
      .embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toVector
      .sortBy(_._1)
    // mirror the compiled kernel exactly: double accumulation in index
    // order, floor to e6
    def cosE6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      math.floor(dot / math.sqrt(na * nb) * 1000000).toLong
    }
    val seed = vecs.minBy { case (id, _) => (h16(id.toString), id) }
    var chosen = Vector((seed._1, seed._2, Option.empty[Long]))
    for (_ <- 1 until Similarity.KCenterK) {
      val chosenIds = chosen.map(_._1).toSet
      val next = vecs.filterNot(v => chosenIds(v._1))
        .map { case (id, e) => (id, e, chosen.map(c => cosE6(e, c._2)).max) }
        .minBy { case (id, _, mc) => (mc, id) }
      chosen :+= ((next._1, next._2, Some(next._3)))
    }
    val expected = chosen.zipWithIndex
      .map { case ((id, _, mc), i) => (i.toLong, id, mc) }
    val got = Similarity.kcenterSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Option.empty[Long] else Some(r.getLong(2))))
      .toVector
    assert(got === expected)
    assert(spark.sharedState.cacheManager.isEmpty, "kcenterSelect leaked a cache")
    // radius schedule: each later pick can only be CLOSER to the panel
    // (max-min distance is non-increasing => max-cos is non-decreasing)
    val radii = got.flatMap(_._3)
    assert(radii === radii.sorted, "greedy max-cos schedule must be non-decreasing")
  }
}

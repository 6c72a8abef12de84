package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Driver-side model checks for the inverted index and the CMS heavy
  * hitters on the real sf0.001 corpus.
  */
class TextIndexSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def tokens(text: String): Vector[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toVector

  private lazy val postingsModel: Map[String, Vector[Long]] =
    graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .flatMap(r => tokens(r.getString(1)).distinct.map(_ -> r.getLong(0)))
      .groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).sorted.toVector }

  test("inverted index matches the driver posting model") {
    val rows = TextAnalysis.invertedIndex(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val expected = postingsModel.filter(_._2.size >= 5)
    assert(rows.map(_._1).toVector === expected.keys.toVector.sorted)
    rows.foreach { case (token, df, postings, idSum) =>
      val model = expected(token)
      assert(df === model.size.toLong, s"term $token df")
      assert(idSum === model.sum, s"term $token checksum")
      assert(postings === model.take(100).mkString(","), s"term $token postings")
    }
  }

  test("posting sample is capped at maxPostings, checksum stays full") {
    val rows = TextAnalysis.invertedIndex(spark, sf, minDf = 1, maxPostings = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    rows.foreach { case (token, df, postings, idSum) =>
      val model = postingsModel(token)
      assert(postings.split(",").length === math.min(3, df).toInt)
      assert(postings === model.take(3).mkString(","), s"term $token cap")
      assert(idSum === model.sum, s"term $token full checksum despite cap")
    }
  }

  test("cms estimates bound the exact counts on the real corpus") {
    val rows = TextAnalysis.cmsTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(rows.length === 20)
    val exact = postingsModel // df, not cf — recount collection freq
    val cf = graft.sources.Tables.documents(spark, sf)
      .select("text").collect().flatMap(r => tokens(r.getString(0)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (token, n, geExact, withinEps) =>
      assert(n === cf(token), s"term $token exact count")
      assert(geExact, s"term $token: CMS estimate below the true count")
      assert(withinEps, s"term $token: CMS estimate outside eps bound")
    }
    assert(exact.nonEmpty) // corpus sanity
  }

  test("span dedup matches a brute-force driver model on the real corpus") {
    import org.apache.spark.unsafe.types.UTF8String
    val texts: Map[Long, String] = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // candidate pairs: same winnow funnel (>= 3 shared fingerprints)
    def fps(t: String): Set[Long] = {
      val a = graft.functions.TextHash.winnowFps(UTF8String.fromString(t), 4)
      if (a == null) Set.empty else a.toLongArray().toSet
    }
    val fpsByDoc = texts.view.mapValues(fps).toMap
    val ids = texts.keys.toSeq.sorted
    val cand = for {
      a <- ids; b <- ids if a < b
      if (fpsByDoc(a) intersect fpsByDoc(b)).size >= 3
    } yield (a, b)
    // brute-force maximal diagonal runs over the positional hashes
    def rh(t: String): Array[Long] = {
      val r = graft.functions.TextHash.rollingHashArray(
        graft.functions.TextHash.tokens(t))
      if (r == null) Array.empty else r
    }
    val expected = cand.flatMap { case (a, b) =>
      val (ra, rb) = (rh(texts(a)), rh(texts(b)))
      val matches = for {
        i <- ra.indices; j <- rb.indices if ra(i) == rb(j)
      } yield (i, j)
      matches.groupBy { case (i, j) => i - j }.values.flatMap { diag =>
        // maximal runs of consecutive i within one diagonal
        val sorted = diag.map(_._1).sorted
        val runs = sorted.foldLeft(List.empty[List[Int]]) {
          case (acc @ (run @ (h :: _)) :: rest, i) if i == h + 1 =>
            (i :: run) :: rest
          case (acc, i) => List(i) :: acc
        }
        runs.map { run =>
          val start = run.last
          (a, b, start.toLong, (start - (diag.head._1 - diag.head._2)).toLong,
            run.size.toLong + 2)
        }.filter(_._5 >= 6L)
      }
    }.toSet
    val got = TextAnalysis.spanDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture should contain at least one shared span")
  }

  test("span coverage equals the interval union of the detected spans") {
    val spans = TextAnalysis.spanDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val ivs: Map[Long, Seq[(Long, Long)]] = spans.toSeq
      .flatMap { case (a, b, sa, sb, n) =>
        Seq(a -> (sa, sa + n), b -> (sb, sb + n))
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def union(iv: Seq[(Long, Long)]): Long = {
      var tot, curS, curE = 0L
      var open = false
      for ((s, e) <- iv.sorted) {
        if (!open) { curS = s; curE = e; open = true }
        else if (s > curE) { tot += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (open) tot += curE - curS
      tot
    }
    val nTokens = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        graft.functions.TextHash.tokens(r.getString(1)).length.toLong).toMap
    val rows = TextAnalysis.spanCoverage(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === nTokens.size, "every doc gets a coverage row")
    rows.foreach { case (id, n, cov, e4) =>
      val expected = union(ivs.getOrElse(id, Nil))
      assert(n === nTokens(id), s"doc $id token count")
      assert(cov === expected, s"doc $id covered tokens")
      assert(e4 === (if (n > 0) cov * 10000L / n else 0L), s"doc $id ratio")
      assert(cov <= n, s"doc $id coverage cannot exceed its length")
    }
    assert(rows.exists(_._3 > 0), "fixture should contain covered docs")
  }

  test("rep coverage equals a driver interval-union over duplicated n-grams") {
    val n = TextAnalysis.DefaultRepGramN
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> tokens(r.getString(1)))
    val expected = docs.collect { case (id, toks) if toks.size >= n =>
      val grams = toks.sliding(n).map(_.mkString(" ")).toVector
      val dup = grams.groupBy(identity).filter(_._2.size >= 2).keySet
      val covered = grams.zipWithIndex.collect {
        case (g, i) if dup(g) => (i until i + n)
      }.flatten.toSet
      id -> (toks.size.toLong, covered.size.toLong,
        covered.size.toLong * 10000L / toks.size)
    }.toMap
    val got = TextAnalysis.repCoverage(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    assert(got.values.exists(_._2 > 0), "fixture should contain repeated n-grams")
    assert(got.values.exists(_._2 == 0), "fixture should contain clean docs")
  }

  test("winnow posting profile reconciles with the fingerprint index") {
    val rows = TextAnalysis.winnowPostings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val fpRows = TextAnalysis.textWinnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every (doc, fp) row lands in exactly one bucket
    assert(rows.map(_._3).sum === fpRows.length.toLong)
    // fp count reconciles with the distinct fingerprints
    assert(rows.map(_._2).sum === fpRows.map(_._2).distinct.length.toLong)
    // the exact pair pricing: sum over fps of C(n_docs, 2)
    val byFp = fpRows.groupBy(_._2).view.mapValues(_.size.toLong)
    val expectedPairs = byFp.values.map(n => n * (n - 1) / 2).sum
    assert(rows.map(_._4).sum === expectedPairs)
    // singleton fingerprints price zero pairs
    rows.find(_._1 == 1L).foreach { case (_, _, _, pairs) =>
      assert(pairs === 0L, "posting length 1 cannot produce pairs")
    }
    assert(rows.exists(_._1 > 1L), "fixture should contain shared fingerprints")
  }
}

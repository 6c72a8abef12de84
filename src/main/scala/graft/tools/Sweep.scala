package graft.tools

import java.util.concurrent.{Callable, Executors, ThreadFactory, TimeUnit,
  TimeoutException}

import graft.{Sessions, SparkEntry}

/** Full-surface scale-sweep tool: times every registered query ONCE on a
  * given data dir with the bench's noop sink, appending one JSONL line
  * per query AS IT FINISHES — a multi-hour replica sweep must not lose
  * 150 finished queries to a crash on the 151st — with a per-query wall
  * budget enforced through Spark job groups. The budget is the point of
  * the probe: the one class of scale-killer r14 could not find any other
  * way (q_char_diversity — fine at sf0.1, unfinishable at 1000×) shows
  * up here as a `timeout` row the sweep records and MOVES PAST instead
  * of hanging the round on one wedged query.
  *
  * Re-entrant by construction: names already present in the output file
  * are skipped, so an interrupted sweep resumes by re-running the same
  * command, and chunked invocations (only=/skip=) compose into one file.
  *
  * Usage:
  *   runMain graft.tools.Sweep <sfDir> <outJsonl> [timeoutSec]
  *     [only=a,b,…|skip=a,b,…|price=a,b,…|price=all]
  */
object Sweep {

  /** Expansion-bound audit faces: their OUTPUT is the full near-dup pair
    * dump, quadratic in replica duplication by contract (each document
    * gains copies-1 true near-dups), so replica-scale wall time measures
    * output volume, not the engine — excluded unless explicitly only=’d.
    */
  val ExpansionBound: Set[String] = Set(
    "q_dedup_minhash_lsh_pairs", "q_dedup_simhash64_pairs",
    "q_dedup_editdist_pairs", "q_minhash_est_audit_pairs",
    "q_crossmodal_audit_pairs",
    // the embedding pair dump is the same contract: every original
    // vector gains copies-1 VERBATIM replica twins (identical sign
    // bucket at any plane count), so its true output is
    // ~C(copies,2)·n_orig + pairs·copies² rows (~1.25e9 at the 1000×
    // fixture) — the engine-measurable face is
    // q_dedup_embedding_census (same funnel, O(bands) output)
    "q_dedup_embedding",
    // the simhash WIDE face is a member-level pair dump too (narrow and
    // manku census) — 897 s at 1000× on a QUIET box, all output volume;
    // its census twin q_dedup_simhash64_wide_census is the sweep face
    "q_dedup_simhash64_wide",
    // the jaccard/containment verify dumps are member-pair output too
    // (Dedup.funnel → expandMemberPairs): compute is collapsed,
    // output re-expands quadratically under replica duplication. Their
    // r16 1000× timeouts were output volume (both rows also carried box
    // canaries 55–89); the sweep faces are the census twins
    // q_dedup_ngram_jaccard_census / q_dedup_containment_census
    "q_dedup_ngram_jaccard", "q_dedup_containment")

  /** Census twin for each expansion-bound dump. The twin's `n_pairs`
    * column counts EXACTLY the member-pair rows the dump would emit
    * (invariant spec-pinned in `SweepPricingSpec`: sum(n_pairs) equals
    * the dump's row count on the canonical fixture, all nine faces), so
    * a full sweep can PRICE each excluded dump — `expected_output_rows`
    * at the sweep fixture's duplication — by aggregating the twin's
    * bounded output instead of expanding the pairs. The exclusion then
    * carries its justification in-artifact (a `priced` JSONL row)
    * rather than by fiat.
    */
  val CensusTwin: Map[String, String] = Map(
    "q_dedup_minhash_lsh_pairs" -> "q_dedup_minhash_lsh",
    "q_dedup_simhash64_pairs" -> "q_dedup_simhash64",
    "q_dedup_editdist_pairs" -> "q_dedup_editdist",
    "q_minhash_est_audit_pairs" -> "q_minhash_est_audit",
    "q_crossmodal_audit_pairs" -> "q_crossmodal_audit",
    "q_dedup_embedding" -> "q_dedup_embedding_census",
    "q_dedup_simhash64_wide" -> "q_dedup_simhash64_wide_census",
    "q_dedup_ngram_jaccard" -> "q_dedup_ngram_jaccard_census",
    "q_dedup_containment" -> "q_dedup_containment_census")

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Sweep <sfDir> <outJsonl> [timeoutSec] [only=a,b|skip=a,b]")
    val dir = args(0)
    val out = java.nio.file.Paths.get(args(1))
    val timeoutSec = if (args.length > 2) args(2).toLong else 900L
    val sel = if (args.length > 3) args(3) else ""
    val only =
      if (sel.startsWith("only="))
        Some(sel.drop(5).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    // price-only mode: no timed rows, just the expansion-bound pricing
    // loop for the named dumps (price=all → every excluded face) — lets
    // a chunked replica campaign carry priced rows without re-running
    // the full surface
    val priceSel: Option[Set[String]] =
      if (sel == "price=all") Some(ExpansionBound)
      else if (sel.startsWith("price="))
        Some(sel.drop(6).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val skip =
      if (sel.startsWith("skip="))
        sel.drop(5).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty[String]
    val done: Set[String] =
      if (java.nio.file.Files.exists(out))
        java.nio.file.Files.readAllLines(out).toArray(Array.empty[String])
          .flatMap("\"q\":\"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1)))
          .toSet
      else Set.empty
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_ => priceSel.isEmpty)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .filter { case (n, _) =>
        only.isDefined || (!skip.contains(n) && !ExpansionBound.contains(n)) }
    val todo = names.filterNot { case (n, _) => done.contains(n) }
    println(s"[sweep] ${names.size} selected, ${done.size} already in " +
      s"$out, ${todo.size} to run, budget ${timeoutSec}s/query")

    val spark = Sessions.local("graft-sweep")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${dir.stripSuffix("/")}/region.parquet").count()

    // pre-sweep width baseline: a TIMED-OUT query is abandoned while
    // still inside widthScoped, so its ratcheted confs would otherwise
    // leak into every later row — force-restore after each timeout
    val widthBaseline = graft.sources.Tables.widthSnapshot(spark)

    // per-row box canary: one frozen sub-second query on the SMALL
    // canonical fixture (a MACHINE signal — same data whatever `dir`
    // is), as a ratio against its canonical seconds (Bench.Canaries).
    // Embedded in every row because the box demonstrably drifts WITHIN
    // a sweep (r15: 1.26 → 1.79 in three hours), so post-hoc ratio
    // analysis must de-distort per row, not per session.
    val canaryName = "q6_forecast_revenue"
    val canaryDir = "/root/testdata/sf0.1"
    val canaryOk = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$canaryDir/lineitem.parquet"))
    def canaryRatio(): Double =
      if (!canaryOk) -1.0
      else try {
        val t0 = System.nanoTime()
        graft.sources.Tables.widthScoped(spark) {
          SparkEntry.queries(canaryName)(spark, canaryDir)
            .write.format("noop").mode("overwrite").save()
        }
        ((System.nanoTime() - t0) / 1e9) / graft.Bench.Canaries(canaryName)
      } catch {
        // the canary runs on the sweep thread itself: a transient
        // failure (executor loss, contention from an abandoned wedged
        // worker) must cost one row's adjustment, not the whole
        // multi-hour sweep — sentinel, matching the no-fixture case
        case scala.util.control.NonFatal(_) => -1.0
      }
    canaryRatio() // warm the canary plan: row 1 must measure the box

    // one fresh daemon thread per query: after a timeout + job-group
    // cancel, a worker wedged in non-interruptible code is abandoned
    // (daemon: it cannot pin JVM exit) instead of poisoning a shared pool
    val tf = new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "sweep-worker"); t.setDaemon(true); t
      }
    }
    var failures = 0
    for ((name, fn) <- todo) {
      val pool = Executors.newSingleThreadExecutor(tf)
      val t0 = System.nanoTime()
      val fut = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          // interruptOnCancel: cancelJobGroup interrupts running tasks,
          // so a timed-out query releases its cores for the next one
          spark.sparkContext.setJobGroup(name, s"sweep $name",
            interruptOnCancel = true)
          // widthScoped: one query's volume ratchet must not leak into
          // the next query's plans (Tables.widthScoped)
          try graft.sources.Tables.widthScoped(spark) {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
          }
          finally spark.sparkContext.clearJobGroup()
        }
      })
      val status =
        try { fut.get(timeoutSec, TimeUnit.SECONDS); "ok" }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(name)
            // grace period for the cancel to unwind the worker cleanly
            try fut.get(120, TimeUnit.SECONDS)
            catch { case _: Throwable => () }
            "timeout"
          case e: java.util.concurrent.ExecutionException =>
            val root = Iterator.iterate(e.getCause)(_.getCause)
              .takeWhile(_ != null).reduceLeft((_, c) => c)
            "fail:" + root.getClass.getSimpleName
          case e: Throwable => "fail:" + e.getClass.getSimpleName
        }
      val dt = (System.nanoTime() - t0) / 1e9
      pool.shutdownNow()
      if (status != "ok") failures += 1
      // a timeout abandoned its worker inside widthScoped: restore the
      // pre-sweep width baseline so the wedged query's ratchet does not
      // leak into every later row (and the abandoned finally, if it
      // ever unwinds, restores values equal to this baseline)
      if (status == "timeout")
        graft.sources.Tables.widthRestore(spark, widthBaseline)
      Sessions.releaseCaches(spark)
      val canary = canaryRatio()
      val line = String.format(java.util.Locale.ROOT,
        """{"q":"%s","sec":%.3f,"status":"%s","canary":%.2f,"sf":"%s"}""",
        jsonEscape(name), Double.box(dt), jsonEscape(status),
        Double.box(canary), jsonEscape(dir))
      java.nio.file.Files.writeString(out, line + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      println(f"[sweep] $name%-36s ${dt}%9.1f s  $status")
    }

    // price the expansion-bound dumps this full sweep excluded: one
    // `priced` row per dump, expected_output_rows = sum of the census
    // twin's n_pairs at THIS fixture's duplication — the exclusions
    // carry their justification in the artifact instead of by fiat
    if (only.isEmpty) {
      val toPrice = priceSel.getOrElse(ExpansionBound).toSeq.sorted
        .filterNot(done.contains).filterNot(skip.contains)
      for (name <- toPrice; twin <- CensusTwin.get(name)) {
        val pool = Executors.newSingleThreadExecutor(tf)
        val t0 = System.nanoTime()
        val fut = pool.submit(new Callable[Long] {
          def call(): Long = {
            spark.sparkContext.setJobGroup(s"price-$name",
              s"price $name via $twin", interruptOnCancel = true)
            try graft.sources.Tables.widthScoped(spark) {
              val r = SparkEntry.queries(twin)(spark, dir)
                .agg(org.apache.spark.sql.functions.sum("n_pairs"))
                .collect()(0)
              if (r.isNullAt(0)) 0L else r.getLong(0)
            }
            finally spark.sparkContext.clearJobGroup()
          }
        })
        val (status, rows) =
          try ("priced", fut.get(timeoutSec, TimeUnit.SECONDS))
          catch {
            case _: TimeoutException =>
              spark.sparkContext.cancelJobGroup(s"price-$name")
              try fut.get(120, TimeUnit.SECONDS)
              catch { case _: Throwable => () }
              graft.sources.Tables.widthRestore(spark, widthBaseline)
              ("price_timeout", -1L)
            case _: Throwable => ("price_fail", -1L)
          }
        val dt = (System.nanoTime() - t0) / 1e9
        pool.shutdownNow()
        Sessions.releaseCaches(spark)
        val line = String.format(java.util.Locale.ROOT,
          """{"q":"%s","sec":%.3f,"status":"%s","twin":"%s",""" +
            """"expected_output_rows":%d,"canary":%.2f,"sf":"%s"}""",
          jsonEscape(name), Double.box(dt), status, jsonEscape(twin),
          Long.box(rows), Double.box(canaryRatio()), jsonEscape(dir))
        java.nio.file.Files.writeString(out, line + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        println(f"[sweep] $name%-36s ${dt}%9.1f s  $status rows=$rows")
      }
    }
    println(s"[sweep] DONE: ${todo.size} ran, $failures not-ok, " +
      s"results in $out")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}

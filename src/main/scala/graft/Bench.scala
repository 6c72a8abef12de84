package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line.
  *
  * Protocol: the WHOLE suite runs SPARK_GRAFT_BENCH_REPS times (default 3)
  * as interleaved passes — pass 1 of every query, then pass 2, then pass 3
  * — and each query reports the MEDIAN across passes. Interleaving is the
  * point: on a shared box a contention burst (another JVM, a GC storm)
  * lasting a minute poisons back-to-back reps of whichever query it lands
  * on (round 4 recorded a 1.6 s query as 24.8 s that way), but under
  * interleaved passes the same burst inflates one pass of several queries
  * and every median recovers. A real (deterministic) regression shows up
  * in all passes and still moves the median.
  *
  * The cache is cleared between runs so persisted intermediates don't
  * compound across passes.
  *
  * The JSON line leads with the per-query map and ends with the headline
  * fields (`"metric":"total","value":…`): harness tail windows keep the
  * END of the output, so the headline must sit there to survive
  * truncation as the query count grows. Seconds are printed with 3
  * decimals to keep the line short.
  *
  * Failures are loud: a failing query is named in the `failed` array and
  * the process exits non-zero — a broken query must never make the bench
  * look faster.
  */
object Bench {
  /** Box-factor canaries: five never-touched queries whose canonical
    * per-query seconds are pinned from the committed canonical
    * `BENCH_QUERIES.json` run. The median ratio of this run's canary
    * times against these values measures MACHINE state (page cache,
    * competing JVMs — this box demonstrably swings ±30%), because the
    * canary code has been frozen for many rounds: a code regression
    * moves its own query, not the canaries. `normalized_value` =
    * total / box_factor lets a round-over-round comparison subtract
    * the machine without hand-adjudication. Refresh these constants
    * whenever the canonical artifact is refreshed.
    */
  val Canaries: Map[String, Double] = Map(
    "q1_agg" -> 1.14,
    "q6_forecast_revenue" -> 0.248,
    "q3_shipping" -> 1.046,
    "q_set_ops" -> 0.575,
    // was q_merge_upsert, swapped when the compute-parallelism floor
    // (now Tables.documentsFloored only) touched every
    // documents/events/embeddings reader — canaries must be queries NO
    // engine change reaches, and q12 runs on the un-floored TPC-H tables
    "q12_late_lines" -> 0.509)
  /** 1m/5m/15m load averages, or empty when /proc/loadavg is unreadable
    * (non-Linux). Sampled before AND after the run: the before sample is
    * the external-load signal (Spark itself has not started working yet);
    * the after sample plus per-query inter-pass spread distinguish "the
    * box was busy" from "the code got slower" without forensics.
    */
  /** Wall seconds to FORCE a query's physical plan — analysis,
    * optimization, and physical planning, no job execution. The box
    * canaries normalize EXECUTION time only and are expression-light,
    * so a driver-side optimizer regression (r14's unguarded
    * DotKernelCompile rule cost 20-40% optimization time on
    * expression-heavy queries while every canary read fast) is
    * invisible to `box_factor`. Recording per-query planning time in
    * the artifact makes that regression class machine-detectable: a
    * round whose canaries read ~1.0 but whose `planning` map moved
    * against the canonical's is an OPTIMIZER regression, not a slow
    * box. (A few query builders execute real work while constructing
    * the frame — the k2 lifecycle — so their planning numbers include
    * it by construction; the diff against the canonical compares like
    * against like.)
    */
  private[graft] def planningSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    // NonFatal only: analysis failures surface in the timed passes, but
    // a fatal JVM error (OOM, stack overflow) must abort the bench
    // visibly, not leave a corrupted driver reporting garbage numbers
    try { df.queryExecution.executedPlan; () }
    catch { case scala.util.control.NonFatal(_) => () }
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val loadStart = loadavg()
    val spark = Sessions.local("graft-bench")
    // JVM/codegen/parquet-reader warmup on a non-benchmarked tiny table
    // so the first timed query doesn't absorb session start-up cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val failures = scala.collection.mutable.LinkedHashSet[String]()
    // per query, the generated classes its last timed pass compiled
    val compiles = scala.collection.mutable.Map[String, Long]()
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // a failed run yields None: its (tiny) fast-fail duration must never
    // enter the median or the total — a broken query would otherwise make
    // the bench look FASTER
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
      val c0 = compiled()
      val t0 = System.nanoTime()
      val ok =
        // noop DSv2 sink: materializes EVERY output column and keeps the
        // final sort — count() would let Catalyst prune the projections
        // and eliminate the orderBy, timing a fraction of the query.
        // widthScoped: one query's volume ratchet must not leak into
        // the next query's plans (Tables.widthScoped).
        try { graft.sources.Tables.widthScoped(spark) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save() }; true }
        catch {
          case e: Throwable =>
            failures += s"$name:${e.getClass.getSimpleName}"
            false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      compiles(name) = compiled() - c0
      Sessions.releaseCaches(spark)
      if (ok) Some(dt) else None
    }
    // local-iteration escape hatch: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times
    // a subset; unset (the driver's mode) times everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val names = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // one planning probe per query, BEFORE the timed passes (so probe
    // side effects — codegen cache warmth is NOT one of them; forcing
    // executedPlan compiles nothing — don't contaminate pass medians)
    val planning: Seq[(String, Double)] = names.map { case (name, fn) =>
      name -> graft.sources.Tables.widthScoped(spark) {
        planningSeconds(fn(spark, sfDir))
      }
    }
    Sessions.releaseCaches(spark)
    val passes: Seq[Map[String, Option[Double]]] = (1 to reps).map { _ =>
      names.map { case (name, fn) => name -> timeOnce(name, fn) }.toMap
    }
    val results = names.map { case (name, _) =>
      val times = passes.flatMap(_(name)).sorted
      name -> (if (times.isEmpty) -1.0 else times(times.size / 2))
    }
    // Load-integrity guard (round-7 post-mortem: a loaded box inflated the
    // official close-out snapshot a uniform 1.28× vs a quiet run of the same
    // code). Per-query spread = max/min across successful passes; a quiet
    // box keeps the median spread near 1.0–1.2, while contention bursts —
    // which land on different queries in different interleaved passes —
    // push many spreads past 1.5. The run is FLAGGED (not failed: the
    // numbers are still the best available) when the median spread exceeds
    // 1.3 or externally-visible load preexists the run. Pass 1 is excluded
    // from the spread (when ≥3 passes ran): it compiles each query's
    // generated classes, which legitimately makes it slower than the warm
    // passes and would flag every quiet run. Pass 1 alone compiles only
    // while the suite's classes fit Spark's codegen cache
    // (Sessions.CodegenCacheEntries); past it every pass recompiles what
    // was evicted, and the `compiles` map shows it as nonzero counts.
    val warmPasses = if (reps >= 3) passes.drop(1) else passes
    val spreads = names.flatMap { case (name, _) =>
      val times = warmPasses.flatMap(_(name))
      if (times.size >= 2) Some(times.max / times.min.max(1e-9)) else None
    }.sorted
    val medianSpread = if (spreads.isEmpty) 1.0 else spreads(spreads.size / 2)
    val p90Spread =
      if (spreads.isEmpty) 1.0 else spreads(((spreads.size - 1) * 9) / 10)
    val loadEnd = loadavg()
    val preloaded = loadStart.headOption.exists(_ > 4.0)
    val loadFlagged = medianSpread > 1.3 || preloaded
    if (loadFlagged) System.err.println(
      f"[bench] LOAD FLAG: median inter-pass spread $medianSpread%.2f, " +
        s"start loadavg ${loadStart.mkString(",")} — rerun on a quiet box " +
        "before treating deltas as code-level regressions")

    // Locale.ROOT: f"" uses the JVM default locale, which under e.g. de_DE
    // emits "1,234" and corrupts the single-line JSON protocol.
    def s3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    // total covers successful queries only (failed ones report -1)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failed = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    def arr(xs: Seq[Double]) = xs.map(s3).mkString("[", ",", "]")
    // box factor: median measured/canonical ratio over whichever
    // canaries ran in this invocation (all of them, in the driver's
    // unfiltered mode); 1.0 when none ran (subset benches) — then
    // normalized_value just mirrors value
    val resultMap = results.toMap
    val canaryRatios = Canaries.toSeq.sortBy(_._1).flatMap { case (c, ref) =>
      resultMap.get(c).filter(_ > 0).map(v => c -> v / ref)
    }
    val boxFactor =
      if (canaryRatios.isEmpty) 1.0
      else canaryRatios.map(_._2).sorted.apply(canaryRatios.size / 2)
    val canaryJson = canaryRatios
      .map { case (c, r) => s"\"" + c + "\":" + s3(r) }
      .mkString("{", ",", "}")
    val planJson = planning.map { case (k, v) => s"\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    val compileJson = names.map { case (k, _) => s"\"" + k + "\":" + compiles(k) }
      .mkString("{", ",", "}")
    val planGuard = s""""planning":$planJson,""" +
      s""""planning_total":${s3(planning.map(_._2).sum)},""" +
      s""""compiles":$compileJson,"""
    val guard = planGuard +
      s""""loadavg_start":${arr(loadStart)},"loadavg_end":${arr(loadEnd)},""" +
      s""""spread_median":${s3(medianSpread)},"spread_p90":${s3(p90Spread)},""" +
      s""""load_flagged":$loadFlagged,""" +
      s""""canary_ratios":$canaryJson,"box_factor":${s3(boxFactor)},""" +
      s""""normalized_value":${s3(results.collect { case (_, v) if v >= 0 => v }.sum / boxFactor)}"""
    val line = s"""{"queries":$qs,"sf":"$sfDir","reps":$reps,"stat":"median_of_interleaved_passes",$guard,"failed":$failed,"metric":"total","unit":"sec","value":${s3(total)}}"""
    println(line)
    // the harness keeps only the log TAIL, which truncates the per-query
    // map once the suite grows past ~70 queries — persist the full line
    // to its own small file so every per-query timing survives the round.
    // Default path is per-run (timestamped, under bench_out/) so repeated
    // runs never clobber the committed canonical copy nor race each other;
    // set SPARK_GRAFT_BENCH_OUT=BENCH_QUERIES.json explicitly to refresh
    // the canonical file.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_out/BENCH_QUERIES_${System.currentTimeMillis()}.json")
    try {
      val p = java.nio.file.Paths.get(outFile)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // Compact headline-only twin, printed LAST: the harness keeps only a
    // ~2000-char stdout tail, and the full line above grew past it at 186
    // queries — the tail then holds a truncated (unparseable) JSON
    // fragment, so rounds 16/17 published no machine-readable totals.
    // This line repeats every headline field (and points at the per-query
    // artifact) in well under the window at ANY query count. The full
    // line's numbers are unchanged and still printed + persisted first.
    val compact = s"""{"metric":"total","unit":"sec","sf":"$sfDir",""" +
      s""""reps":$reps,"stat":"median_of_interleaved_passes",""" +
      s""""n_queries":${results.size},"queries_file":"$outFile",""" +
      s""""planning_total":${s3(planning.map(_._2).sum)},""" +
      s""""spread_median":${s3(medianSpread)},"spread_p90":${s3(p90Spread)},""" +
      s""""load_flagged":$loadFlagged,"box_factor":${s3(boxFactor)},""" +
      s""""normalized_value":${s3(total / boxFactor)},""" +
      s""""failed":$failed,"value":${s3(total)}}"""
    println(compact)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"BENCH FAILURES: ${failures.mkString(", ")}")
      sys.exit(1)
    }
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // local-iteration subset (same contract as SPARK_GRAFT_BENCH_ONLY);
    // the driver never sets it, so the gate always runs everything
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      // a typo'd name silently verifying nothing would read as green
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val queries = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // A query that throws must redden the report, not shrink it: record
    // every failure in verify_errors.json (empty {} on a clean run) so a
    // regression can never masquerade as "not run" (round-8 lesson: 24
    // crashed queries were simply absent from CORRECTNESS_r08.json).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      // widthScoped: one query's volume ratchet must not leak into the
      // next query's plans (Tables.widthScoped)
      try graft.sources.Tables.widthScoped(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // builders pin intermediates for their own plan reuse; the runner
      // releases them so queries don't stack cached blocks
      Sessions.releaseCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a VERIFY_ONLY subset writes to a DISTINCT filename: a later full
    // comparison pointed at this outDir must not silently consume a
    // filtered manifest and read green on a fraction of the suite
    val manifest =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$manifest"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    System.err.println(
      s"[verify] ${queries.size - errors.size}/${queries.size} queries dumped" +
        (if (errors.nonEmpty) s"; FAILED: ${errors.keys.mkString(", ")}" else ""))
    // exit 0 even on partial failure: the driver must still DuckDB-compare
    // the queries that DID dump; verify_errors.json carries the red rows
    spark.stop()
  }
}

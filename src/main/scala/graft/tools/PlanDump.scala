package graft.tools

import graft.Sessions

/** Dump `.explain("formatted")` physical plans for named registered
  * queries to one file per query — the committed before/after plan
  * evidence for optimization rounds (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
  *
  * Each file holds the FORMATTED physical plan of the query as built
  * against `sfDir` (construction side effects included — lifecycle
  * builders run their pipelines, exactly as Bench's planning probe
  * does), captured under the same `widthScoped` discipline as Bench so
  * one query's volume ratchet does not leak into the next plan.
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>")
    val Array(sfDir, outDir, suffix, qarg) = args.take(4)
    val names =
      if (qarg == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else qarg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val plan = graft.sources.Tables.widthScoped(spark) {
        fn(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
      }
      Sessions.releaseCaches(spark)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Curation, Dedup, EventAnalytics, Multimodal,
  ParityQueries, PlannerQueries, RelationalShapes, Similarity, TextAnalysis,
  TrainingPrep}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the operator modules' maps; every entry has
  * a DuckDB-equivalent oracle in `oracleSql` unless the operator is not
  * SQL-expressible (then the driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship: the reference's core extraction shape (S1 range scan →
    * E-transforms → deterministic order) on sf0.001; driver smoke-checks
    * rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.s1RangeScan(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * CACHE CONTRACT: a builder may pin intermediates (persist, local
    * checkpoints) that its plan reads in more than one branch, and
    * returns a LAZY frame: building it runs only the jobs a plan
    * decision or a driver-side value needs, and the caller's action
    * runs the query. The runner owns every cache's lifetime: it calls
    * [[Sessions.releaseCaches]] after each query's action (Verify,
    * Bench, Sweep, PlanStats, PlanDump). A caller embedding a single
    * query does the same once it is done with the frame.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.queries ++ TextAnalysis.queries ++ Dedup.queries ++
      Similarity.queries ++ EventAnalytics.queries ++ Multimodal.queries ++
      PlannerQueries.queries ++ Curation.queries ++ TrainingPrep.queries ++
      RelationalShapes.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    ParityQueries.oracles ++ TextAnalysis.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ EventAnalytics.oracles ++ Multimodal.oracles ++
      PlannerQueries.oracles ++ Curation.oracles ++ TrainingPrep.oracles ++
      RelationalShapes.oracles
}

package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so Verify, Bench, and
  * tests agree on semantics-critical settings.
  */
object Sessions {

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * JVM-wide and holds one compiled class per generated source and
    * class loader. The engine's working set is far past 100: one pass
    * of the four `dedup_funnels` faces compiles about 250 classes, so
    * at the default every face recompiled 37–100 classes on every
    * pass, and the 186-query suite recompiled about 6,400 per pass.
    *
    * Sizing: planning plus three `graft.Bench` passes over the suite
    * at sf0.1 compiled 2,987 classes with this cap, so nothing was
    * evicted and that is the whole working set; 4096 is the next power
    * of two. Metaspace committed at exit read 208 MiB, against 188 MiB
    * at the default over the same passes (NMT, 4 cores). Spark reads the
    * value once per JVM, at the first compile, so it is a static conf:
    * a session that embeds the library must set it when it is built.
    */
  val CodegenCacheEntries = 4096

  /** Threads/shuffle-partitions come from SPARK_GRAFT_CPUS (driver sets
    * it; local default 4). At cluster scale shuffle partitions would be
    * sized to data volume instead — AQE coalescing makes the static
    * number a ceiling, not a target.
    */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      // events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
      // rejects; read as epoch-nano Long and convert explicitly
      // (graft.sources.Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing can only merge DOWN from the initial partition
      // count, so this is the widest a shuffle starts. It stays at the
      // shuffle width: a global 8×cpus start cut a 1000×-replica sort's
      // spill 38% but cost the non-spilling families 5-8% (SWEEP_r14b).
      // Tables.widthRatchet raises it per session only where a reader
      // sees real volume.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      // Without this, any plan under a persist() (every iterative loop:
      // star contraction, label propagation, the dedup signature caches)
      // runs WITHOUT AQE partition coalescing, so a 2k-row edge frame
      // pays full-width shuffles every round. Letting AQE re-shape
      // cached-plan output trades exact cache-partitioning reuse for
      // right-sized shuffles — the correct trade for iterative graphs.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // managed (bucketed) tables land outside the repo checkout
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release every cache a query left behind: the catalog's cached
    * plans, then a blocking unpersist of every persisted RDD, which
    * also drops the `localCheckpoint` blocks the cache manager does not
    * track. Runners call it after each query's action (the CACHE
    * CONTRACT in [[SparkEntry]]); a frame built before the release must
    * not be read after it.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

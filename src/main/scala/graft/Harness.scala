package graft

import org.apache.spark.sql.SparkSession

/** The session every harness main runs under (Bench, Verify and the
  * `graft.tools` programs) and the reset between their queries. Keeping
  * both here means a tool's timings and Verify's hash-checked plans come
  * from the planner the bench times. */
object Harness {

  /** `cpus` local cores; by default `SPARK_GRAFT_CPUS`, else 4. */
  def session(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE's coalescer floors partitions at minPartitionSize (default
      // 1m); with parallelismFirst=true that floor alone decides
      // post-shuffle parallelism, so every sub-MB shuffle collapses to one
      // partition. This suite's shuffles are byte-small but CPU-dense
      // (regex scoring, levenshtein verification, array kernels), so the
      // coalesced single task serializes the heaviest stage of the most
      // expensive queries (measured: q_fuzzy_join 3.9→1.1 s,
      // q_entity_resolution 3.1→1.7 s, q_twopass 11→9 s). 64k keeps
      // small-data parallelism; at production scale partitions are 100s
      // of MB and a 64k-vs-1m floor is indistinguishable.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tempWarehouse())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A per-run `spark.sql.warehouse.dir`: managed-table locations from a
    * previous process must not leak into (or fail) this run's bucketed
    * writes, and nothing lands in the working directory or outlives the
    * JVM. */
  private[graft] def tempWarehouse(): String = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    warehouse.toString
  }

  /** Drop Dataset-level caches (cacheManager) and RDD-level storage
    * (persists and checkpoint pins the ContextCleaner has not reclaimed
    * yet), so no query inherits, or pays GC pressure for, a predecessor's
    * cached state. */
  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

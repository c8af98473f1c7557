package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Bench, Verify, the spec
  * base class and the scale tools all call [[local]], so the planner
  * settings the bench times are the ones the oracle hashes check. */
object GraftSession {

  /** A `local[cpus]` session with the graft extensions and the engine's
    * fixed settings. Returns the active session if one already exists. */
  def local(cpus: Int): SparkSession = {
    // per-process warehouse, deleted at exit: managed-table locations
    // from a previous process must not leak into (or fail) this one's
    // bucketed writes
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE's coalescer floors partitions at minPartitionSize (default
      // 1m) — with parallelismFirst=true that floor is the ONLY thing
      // deciding post-shuffle parallelism, and every sub-MB shuffle
      // collapses to one partition. The bench-scale shuffles are
      // byte-small but CPU-dense (regex scoring, levenshtein
      // verification, array kernels), so the coalesced single task
      // serializes the heaviest stage of exactly the most expensive
      // queries (measured: q_fuzzy_join 3.9→1.1 s, q_entity_resolution
      // 3.1→1.7 s, q_twopass 11→9 s). 64k keeps small-data parallelism;
      // at production scale partitions are 100s of MB and a 64k-vs-1m
      // floor is indistinguishable — nothing here encodes the core count.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      // reads the legacy nanosecond-as-long `events.ts` shape
      // (see `SparkEntry.T`)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

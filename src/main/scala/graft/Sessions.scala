package graft

import org.apache.spark.sql.SparkSession

/** The only session entry point: production jobs, `Bench`, `Verify`,
  * the probes and the test suites all build their `SparkSession` here,
  * so the oracle checks the configuration production runs, and every
  * session carries the full SQL function registry ([[GraftExtensions]]).
  *
  * Locally `cores` is the machine; on a cluster the same settings apply
  * with `shufflePartitions` sized to total executor cores (the
  * reference-scale default of 200 is wrong in both directions).
  *
  * Only settings that change results or on-disk format, or size the
  * run, are pinned. One size is the JVM-wide generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, a static setting read once,
  * when Spark's code generator first loads). Spark's default of 100 is
  * below the engine's recurring working set: one pass over perfbench's
  * five-entry operator mix generates ~150 distinct classes, so every
  * pass evicted and recompiled them through Janino. The bound comes
  * from a count: a full `graft.Bench` sweep (sf0.1, every build and
  * entry) compiles 4,213 distinct classes when nothing is evicted, so
  * 8192 holds the whole registry with room to grow. Holding them costs
  * metaspace, not time: 254 MB after GC at the end of that sweep,
  * against 218 MB at the default, which compiled 9,356 times.
  * Planning is left to Spark's defaults, which already
  * give what the engine relies on: AQE owns runtime re-planning
  * (partition coalescing, skew-join splitting, broadcast
  * demotion/promotion by observed sizes), and runtime bloom-filter
  * pruning lets the J2 anti-join reconsistency and big fact-fact joins
  * skip row groups that cannot match.
  */
object Sessions {

  def local(cores: Int, appName: String = "graft"): SparkSession =
    start(builder(cores, appName, shufflePartitions = cores))

  /** The engine configuration on a `local[cores]` master. Callers add
    * only extras outside the engine's contract (a test warehouse dir, a
    * probe's cleaner cadence) before [[start]].
    */
  def builder(cores: Int, appName: String,
              shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC") // CH DATETIME is TZ-naive
      // ANSI on (the Spark 4.x default), pinned so overflow guards don't
      // silently depend on the engine default changing per profile
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // parquet TIMESTAMP(NANOS) (the events fixture's `ts`) reads as a
      // long of nanos, which `Tables.load` converts; Spark 4 refuses it
      // otherwise
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${256 * 1024 * 1024}")
      // each generated class compiles once per JVM (see the rule above)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")

  def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    // Every operator lineage cut is a reliable `Dataset.checkpoint()`
    // written here (materialized small results and the iterative loops'
    // periodic cuts), and a session without this directory fails at its
    // first cut. On a cluster it must be durable shared storage
    // (HDFS/S3), not a local tmp dir, so cuts survive executor loss.
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    s
  }
}

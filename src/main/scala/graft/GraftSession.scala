package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * Tuned for correctness parity with the DuckDB oracle (UTC session
  * time zone) and for scale (AQE on, shuffle partitions sized for the
  * local[32] test harness; on a real cluster callers override
  * `spark.sql.shuffle.partitions` to ~2-3x total cores).
  */
object GraftSession {
  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      // The engine's Catalyst surface: SQL registration of the native
      // expressions (dot_product, minhash_sketch) and the
      // CollapseJsonExtracts optimizer rule.
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Bucketed scans only CLAIM their per-file sort order under this
      // flag, and even then only when every bucket is exactly one file
      // (FileSourceScanExec checks) — which graft.io.BucketedTable.write
      // guarantees by pre-repartitioning on the bucket key. Without it
      // every bucketed merge re-Sorts both sides, re-paying the cost
      // the bucketed writer exists to hoist out of the read path.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Static conf (read once at first codegen): the default 100-entry
      // generated-class cache evicts completely under a multi-query
      // workload — the 71-query bench sweep compiles ~919 Janino
      // classes (~8s) and then recompiles ~917 of them on the very
      // next pass (measured via CodegenMetrics, r8). A long-lived
      // analytics session re-running parameterized plans is the normal
      // case for this engine, so size the cache to hold the whole
      // workload; ~4k class entries is a few hundred MB of metaspace
      // at worst, trivial against executor heap.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      // The `file:` filesystem without Hadoop's per-file chmod/readlink
      // process forks (graft.io.LocalFs; FileSystem and FileContext).
      .config(graft.io.LocalFs.sparkConf)

  /** The single-machine session of the mains (`Cli`, `Bench`,
    * `Verify`, `ScaleSmoke`): `local[cpus]` with one shuffle partition
    * per core, where cpus is `SPARK_GRAFT_CPUS`, else every core. */
  def local(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    builder(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
  }
}

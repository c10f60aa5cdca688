package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftFunctions

/** One place to build the engine's local sessions, so every entry point
  * (Bench, Verify, dev mains, specs) runs with the same configuration:
  *
  *  - `spark.sql.shuffle.partitions` = core count (not the 200 default —
  *    right-sized for local[32]; a cluster deployment would size this to
  *    2–3× total cores or rely on AQE coalescing).
  *  - `spark.sql.legacy.parquet.nanosAsLong` set ONCE here, not as a side
  *    effect of a table loader (the testdata `events.ts` column is
  *    TIMESTAMP(NANOS) parquet, which Spark's reader otherwise rejects).
  *  - `spark.sql.codegen.cache.maxEntries` raised from the 100 default:
  *    the engine's catalog is ~50 queries × several codegen stages, so the
  *    default LRU evicts warmup-compiled classes before the timed/verify
  *    pass re-uses them, re-paying seconds of janino per big expression.
  *  - graft native SQL functions (vec_dot) injected via
  *    SparkSessionExtensions.
  */
object Sessions {

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            appName: String = "graft",
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // No file-scan split floor (r10 scan-split measurement): Spark's
      // own split target — max(openCostInBytes, totalScanBytes /
      // defaultParallelism) clamped to maxPartitionBytes — already
      // spreads an explosive few-MB multi-file corpus across the cores
      // (the 9.8 MB/16-file x16 documents fixture reads as 16 tasks),
      // while a `minPartitionNum = cores` floor forces ≥32 tasks on
      // EVERY scan: a sub-4 MB single-row-group fixture then launches
      // 31 footer-only empty tasks per scan stage, measured as
      // +20–80 % on the sub-second documents-family queries
      // (x_pack_bins 0.48 → 0.26 s) with NO x16 benefit (neardup/
      // novelty/minhash within noise across both configs). Honest
      // residual: a few-MB SINGLE-file corpus still reads as one task
      // under the formula (split assignment is row-group-granular), so
      // its shingle explode runs one-core — bounded at seconds for the
      // corpus sizes where a single file is even possible, and settable
      // away (`spark.sql.files.minPartitionNum`) by a caller who hits
      // it. At real corpus scale (thousands of ≥128 MB splits) none of
      // this matters.
      .withExtensions(GraftFunctions.install)
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The engine's remaining unpartitioned windows all run over PROVABLY
    // BOUNDED frames (≤32 bucket offsets, dim-sized centroid frames,
    // ≤|columns| metric rows, distinct-quasi-tuple tails — audited r15,
    // thinned further by the r16 driver tails), so WindowExec's
    // single-partition warning is pure noise here and was drowning real
    // signal in the Verify/Bench tails. Silenced at the one logger, not
    // globally: any NEW whole-table window would still surface in plan
    // review (the explain artifacts committed per round) and in the
    // scaleup pass, which is where an unbounded single-partition sort
    // actually shows.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    GraftFunctions.ensureRegistered(spark)
    spark
  }
}

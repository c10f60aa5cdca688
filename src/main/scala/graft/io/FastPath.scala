package graft.io

import java.util.concurrent.atomic.AtomicLong

/** Process-wide tallies of the driver-side fast paths ([[DictStats]],
  * [[DriverParquet]], V6's driver linkage form, the a1 profile's driver
  * string finish) vs their Spark-job fallbacks.
  *
  * Both fast paths degrade SILENTLY by design — any surprise (a
  * parquet-mr ABI change breaking the reflective dictionary-reader
  * lookup, an ineligible schema) returns None/empty and the caller's
  * Spark path takes over, so correctness never depends on them. The
  * flip side is that a version-drift regression would show up only as
  * v4/v5 wall time quietly multiplying. These counters make the
  * degradation OBSERVABLE: [[graft.Bench]] snapshots them into every
  * committed bench artifact, so a run where `driver_parquet_hits`
  * drops to 0 is a red number in the diff, not a silent 2× slide.
  * (The reflective surface itself is additionally canaried loudly by
  * DictStatsSpec, which calls the unswallowed internals directly.)
  */
object FastPath {
  val dictAsks            = new AtomicLong  // columns asked of DictStats
  val dictAnswered        = new AtomicLong  // columns it proved from metadata
  val driverParquetHits   = new AtomicLong  // DriverParquet collects served
  val driverParquetMisses = new AtomicLong  // collects refused → Spark path
  // V6 linkage forms taken by Linkage.linkageRisk (one per call)
  val linkageDriver       = new AtomicLong  // one grouped count, finished on the driver
  val linkagePlan         = new AtomicLong  // the exact cross-join plan
  val linkageLsh          = new AtomicLong  // above the exact pair ceiling
  // a1 profile string/date/timestamp/boolean stats (one per call with any)
  val profileDriverFinish = new AtomicLong  // from the collector's histograms
  val profilePlanFinish   = new AtomicLong  // the fused two-level aggregate

  private def all = Seq(dictAsks, dictAnswered, driverParquetHits, driverParquetMisses,
    linkageDriver, linkagePlan, linkageLsh, profileDriverFinish, profilePlanFinish)

  def reset(): Unit = all.foreach(_.set(0L))

  /** One JSON object, stable key order, for embedding in bench lines. */
  def snapshotJson: String =
    s"""{"dict_asks":${dictAsks.get},"dict_answered":${dictAnswered.get},""" +
      s""""driver_parquet_hits":${driverParquetHits.get},"driver_parquet_misses":${driverParquetMisses.get},""" +
      s""""linkage_driver":${linkageDriver.get},"linkage_plan":${linkagePlan.get},"linkage_lsh":${linkageLsh.get},""" +
      s""""profile_driver_finish":${profileDriverFinish.get},"profile_plan_finish":${profilePlanFinish.get}}"""
}

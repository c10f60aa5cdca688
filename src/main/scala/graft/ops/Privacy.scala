package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.parallel.CollectionConverters._

/** Anonymization operators (SURVEY.md §2.5 V1–V5, V7) — the reference
  * engine's signature capability (`modules/privacy.py`).
  *
  * Each Protect operator has one fit and one apply. The fit yields a
  * small driver-side value: V1's rare set (A4's grouped count, in
  * [[sdcSuppress]] or [[ProtectFit.rareCategories]]), V2's exact
  * quantile edges of the raw values ([[generalizeEdges]] through the one
  * exact-quantile fit [[Exact.quantiles]], or [[ProtectFit.quantileEdges]]
  * on the fused fit's sorted buffers). The apply half is a plain Column
  * expression (V1 through P4 in [[sdcSuppressFitted]], V2 in
  * [[generalizeFitted]]), so a full Protect chain (suppress →
  * generalize → noise) runs as one whole-stage-codegen projection over
  * the scan — vs the reference's full table copy per stage
  * (`modules/privacy.py:5,14,25`). V1 counts the null group like any
  * value: every V1 path turns a null group below the threshold into
  * "OTHER". A string column holding a key that is not valid UTF-8
  * suppresses through the byte-exact join form [[sdcSuppressBroadcast]]
  * on every V1 path. The driver-side fits read their columns through
  * the one collector, [[Exact.collectColumns]].
  */
object Privacy {

  /** Ceiling on a fitted rare set in [[sdcSuppress]]. The set rides
    * every task of the apply pass as an `InSet` literal, so a column with
    * more rare values than this keeps [[sdcSuppressBroadcast]], whose
    * rare set stays a broadcast relation. */
  val SuppressFitMaxValues = 10000

  /** V1 SDC rare-category suppression (`modules/privacy.py:4-11`): values
    * of `cols` whose GLOBAL frequency < threshold become "OTHER"; non-string
    * columns are silently skipped, as in the reference (`:7`).
    *
    * Fit then apply, the reference's two steps: per string column the fit
    * collects the values counted below `threshold`, then P4
    * ([[sdcSuppressFitted]]) applies the set as a plain projection, so
    * later readers of the output re-run no aggregate and no join. Under
    * the driver-fit ceiling ([[driverFits]], or `maxCells` where a test
    * forces the other branch) the rare sets come from the category
    * histograms of [[Exact.collectColumns]] by the
    * [[ProtectFit.rareCategories]] rule: no Spark job on a pure parquet
    * scan, one fused job for every column otherwise. Above it, A4's
    * grouped count runs per column (at most [[SuppressFitMaxValues]] + 1
    * rows reach the driver), up to one column per core at once. The null
    * group is counted like any other value: a null group below the
    * threshold becomes "OTHER", as in the v1 oracle's `COUNT(*) OVER
    * (PARTITION BY c)`. A column whose rare set passes the ceiling, or
    * holds a key that is not valid UTF-8 (an `InSet` literal is a decoded
    * String and would no longer match the stored bytes), takes the
    * byte-exact [[sdcSuppressBroadcast]] instead. */
  def sdcSuppress(df: DataFrame, cols: Seq[String], threshold: Long = 5): DataFrame =
    sdcSuppressWith(df, cols, threshold, DriverFitMaxCells)

  private[graft] def sdcSuppressWith(df: DataFrame, cols: Seq[String], threshold: Long,
                                     maxCells: Long): DataFrame = {
    val strCols = df.schema.fields
      .filter(f => cols.contains(f.name) && f.dataType == StringType)
      .map(_.name).toSeq
    val rareSets =
      if (strCols.isEmpty) Seq.empty
      else if (driverFits(df, strCols.size, maxCells)) {
        val got = Exact.collectColumns(df, Nil, strCols)
        strCols.map(c => rareKeys(got.cats(c), got.invalidUtf8(c), threshold)
          .filter(_.size <= SuppressFitMaxValues))
      } else Par.map(strCols, df.sparkSession.sparkContext.defaultParallelism) { c =>
        val rare = df.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
          .filter(col("__cnt") < threshold)
          .select(col(c).cast("binary")).limit(SuppressFitMaxValues + 1)
          .collect().map(r => if (r.isNullAt(0)) null else r.getAs[Array[Byte]](0))
        if (rare.length > SuppressFitMaxValues) None
        else {
          val keys = rare.map(b => if (b == null) Some(null) else graft.io.DriverParquet.strictUtf8(b))
          if (keys.contains(None)) None else Some(keys.map(_.orNull).toSet)
        }
      }
    strCols.zip(rareSets).foldLeft(df) {
      case (d, (c, Some(rare))) => sdcSuppressFitted(d, c, rare)
      case (d, (c, None))       => sdcSuppressBroadcast(d, Seq(c), threshold)
    }
  }

  /** V1's rare set from a category histogram: the keys counted below
    * `threshold`, null a member when the null group is. None when the
    * histogram's keys are lenient decodes of bytes that are not valid
    * UTF-8: no String set matches the stored bytes, so the caller takes
    * [[sdcSuppressBroadcast]]. */
  private def rareKeys(counts: Map[String, Long], invalidUtf8: Boolean,
                       threshold: Long): Option[Set[String]] =
    if (invalidUtf8) None
    else Some(counts.collect { case (k, n) if n < threshold => k }.toSet)

  /** V1 above [[SuppressFitMaxValues]]: per-column grouped counts (≤
    * |distinct| rows) joined back via broadcast, so the full table
    * shuffles zero times. The rare frame carries a non-null marker, so a
    * matched null key becomes "OTHER" too, as in [[sdcSuppress]]. */
  private[graft] def sdcSuppressBroadcast(df: DataFrame, cols: Seq[String],
                                          threshold: Long = 5): DataFrame = {
    val strCols = df.schema.fields
      .filter(f => cols.contains(f.name) && f.dataType == StringType)
      .map(_.name)
    strCols.foldLeft(df) { (d, c) =>
      val rare = d.groupBy(col(c).as("__rare_v"))
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") < threshold)
        .select(col("__rare_v"), lit(true).as("__rare"))
      d.join(broadcast(rare), col(c) <=> col("__rare_v"), "left")
        .withColumn(c, when(col("__rare").isNotNull, lit("OTHER")).otherwise(col(c)))
        .drop("__rare_v", "__rare")
    }
  }

  /** V2 numeric generalization by empirical quantile binning
    * (`modules/privacy.py:13-22`). Bin edges are EXACT interpolated
    * quantiles (`quantile_cont`, not approx — SURVEY §4.3) of the raw
    * values, whatever their decimals; duplicate edges are merged as
    * `pd.qcut(duplicates="drop")` does. Labels follow the declared
    * labels-as-truth convention (SURVEY §4.4.3): left-closed `[lo, hi)`,
    * last bin closed, bounds printed with 2 decimals.
    *
    * Fit, then apply: [[generalizeEdges]] fits the ≤ bins+1 edges and
    * [[generalizeFitted]] compiles them into a when-chain, which codegens
    * into the scan pass. */
  def generalizeNumeric(df: DataFrame, c: String, bins: Int = 10): DataFrame =
    generalizeFitted(df, c, generalizeEdges(df, c, bins))

  /** The fit half of [[generalizeNumeric]]: the raw `bins + 1` quantile
    * edges of `c` from [[Exact.quantiles]] — the driver sort up to
    * [[Exact.DriverFitMaxRows]] rows (winsorize's ceiling: sorting one
    * collected column beats the histogram on a near-unique money column,
    * whose value domain is as large as the data), the cents histogram
    * above it — before duplicate-merging (which [[generalizeFitted]]
    * does). Empty for a column with no non-null value. */
  def generalizeEdges(df: DataFrame, c: String, bins: Int): Seq[Double] = {
    val probs = (0 to bins).map(i => i.toDouble / bins)
    val driver = graft.io.ScanStats.exactRowCount(df) <= Exact.DriverFitMaxRows
    Exact.quantiles(df, Seq(c), probs, driver)(c).getOrElse(Seq.empty)
  }

  /** C-printf-compatible "%.2f": round the EXACT binary value of the
    * double half-to-even, as C (and DuckDB's printf) does. Java's own
    * Formatter instead HALF_UPs the SHORTEST decimal representation,
    * which flips labels when an edge's shortest repr lands exactly on a
    * 2-decimal tie but its exact binary value sits below it (observed at
    * sf0.1: 52923.184999…997 prints ".18" in C, ".19" in Java). */
  def fmt2(d: Double): String =
    if (d.isNaN || d.isInfinite) String.format("%.2f", Double.box(d)) // "NaN"/"Infinity"
    else {
      val s = new java.math.BigDecimal(d).setScale(2, java.math.RoundingMode.HALF_EVEN).toPlainString
      // BigDecimal drops the sign of -0.0; C printf keeps it
      if (s == "0.00" && (java.lang.Double.doubleToRawLongBits(d) < 0)) "-0.00" else s
    }

  /** when-chain mapping a value into its `[lo, hi)` label (last bin
    * closed). Labels are precomputed driver-side with [[fmt2]] so both
    * engines print identical bin bounds. Kept separate so tests can
    * exercise edge semantics. */
  def labelExpr(v: Column, edges: Seq[Double]): Column = {
    val pairs = edges.zip(edges.tail)
    val lastIdx = pairs.length - 1
    pairs.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((lo, hi), i)) =>
        val in =
          if (i == lastIdx) v >= lo && v <= hi
          else v >= lo && v < hi
        val close = if (i == lastIdx) "]" else ")"
        when(in, lit(s"[${fmt2(lo)}, ${fmt2(hi)}$close")).otherwise(acc)
    }
  }

  /** V3 DP-style Laplace noise (`modules/privacy.py:24-31`): adds iid
    * Laplace(0, sensitivity/max(ε,1e-6)) to each value. The reference is
    * unseeded; we are seeded-by-default (SURVEY §4.4.4) via `rand(seed)` +
    * inverse CDF — a pure codegen'd column expression, no UDF.
    *
    * Determinism caveat (documented): `rand(seed)` is seeded per
    * partition, so results are stable for a fixed partitioning but not
    * across repartitioning — acceptable because the oracle checks
    * distribution moments, not rows (SURVEY §2 match mode `seeded`).
    */
  def dpNoise(df: DataFrame, cols: Seq[String], epsilon: Double,
              sensitivity: Double = 1.0, seed: Long = 42L): DataFrame = {
    val b = sensitivity / math.max(epsilon, 1e-6)
    val numCols = df.schema.fields
      .filter(f => cols.contains(f.name) && f.dataType.isInstanceOf[NumericType])
      .map(_.name)
    numCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val u = rand(seed + i) - 0.5
      val lap = -signum(u) * log(lit(1.0) - lit(2.0) * abs(u)) * b
      d.withColumn(c, col(c).cast("double") + lap)
    }
  }

  /** DP histogram release — the aggregate-release sibling of [[dpNoise]]
    * (which noises rows): per-category counts + Laplace(1/ε) noise,
    * clamped at 0 and rounded to integers — the standard counting-query
    * release (sensitivity 1: one row moves one bucket by 1).
    *
    * Unlike v3's `rand(seed)` (stable only for a fixed partitioning),
    * the noise here is a PURE FUNCTION OF THE CATEGORY KEY:
    * `xxhash64(category, seed)` → uniform in (0,1) → inverse-CDF
    * Laplace. Released counts are therefore bit-identical under ANY
    * partitioning, executor count, or row order — the property an
    * auditable privacy release needs at 1000 executors (same run, same
    * release). One partial+final hash aggregate; the noise rides the
    * final projection. Declared seeded mode (the oracle cannot express
    * Spark's xxhash64); PrivacySpec pins determinism-under-repartition,
    * the ε→∞ exact-recovery limit, and the noise-scale envelope.
    *
    * NOT a production DP mechanism under repeated release: because the
    * noise is a pure function of (category, seed), two releases over
    * EVOLVING data reuse identical per-key noise — differencing them
    * recovers exact count deltas, and anyone holding the seed can
    * denoise exactly. The fixed default seed exists for reproducible
    * benchmarking and auditability of a SINGLE release. For real
    * adversarial privacy, supply a FRESH seed per release (each
    * release is then ε-DP on its own; sequential composition across
    * releases applies as usual) and treat seeds as secrets. */
  def dpHistogram(df: DataFrame, c: String, epsilon: Double = 1.0,
                  seed: Long = 42L): DataFrame = {
    val b = 1.0 / math.max(epsilon, 1e-6)
    val m = 1L << 52
    val cat = coalesce(col(c).cast("string"), lit("NA"))
    val counts = df.groupBy(cat.as("category")).agg(count(lit(1)).as("n"))
    // u ∈ (−0.5, 0.5): (h mod 2^52 + 0.5)/2^52 − 0.5 never hits the
    // log(0) endpoints; signum(0)·log(1) = 0 handles the midpoint.
    val u = (pmod(xxhash64(col("category"), lit(seed)), lit(m)).cast("double") +
      lit(0.5)) / lit(m.toDouble) - lit(0.5)
    val lap = -signum(u) * log(lit(1.0) - lit(2.0) * abs(u)) * lit(b)
    counts
      .select(col("category"),
        greatest(lit(0L), round(col("n") + lap).cast("long")).as("n_released"))
      .orderBy(col("category"))
  }

  /** DP mean release — the scalar-release sibling of [[dpHistogram]]:
    * clip values to the public [lo, hi] range, add Laplace noise to the
    * clipped SUM (sensitivity hi−lo) and to the COUNT (sensitivity 1)
    * with ε split evenly, release noisy_sum / max(1, noisy_n) — the
    * textbook ε-DP mean under the standard composition argument. The two
    * noise draws are seeded driver-side (pure function of the seed —
    * trivially partition-invariant; nothing random executes on
    * executors), so the same run always publishes the same number. One
    * aggregate job. Declared seeded mode; PrivacySpec pins determinism,
    * the ε→∞ exact-recovery limit, and the clipped-range bound. */
  def dpMean(df: DataFrame, c: String, lo: Double, hi: Double,
             epsilon: Double = 1.0, seed: Long = 42L): DataFrame = {
    require(hi > lo, "need a non-degenerate public clip range")
    val eps = math.max(epsilon, 1e-6)
    def lap(i: Int, b: Double): Double = {
      val u = new scala.util.Random(seed * 31 + i).nextDouble() - 0.5
      -math.signum(u) * math.log(1.0 - 2.0 * math.abs(u)) * b
    }
    val noiseSum = lap(1, 2.0 * (hi - lo) / eps)
    val noiseN = lap(2, 2.0 / eps)
    val clipped = least(greatest(col(c).cast("double"), lit(lo)), lit(hi))
    df.agg(sum(clipped).as("__s"), count(col(c)).as("__n"))
      .select(
        (coalesce(col("__s"), lit(0.0)) + lit(noiseSum)).as("noisy_sum"),
        (col("__n") + lit(noiseN)).as("noisy_n"))
      .select(col("noisy_sum"), col("noisy_n"),
        (col("noisy_sum") / greatest(lit(1.0), col("noisy_n"))).as("mean_released"))
  }

  /** V4 lightweight synthetic sampler (`modules/privacy.py:33-53`):
    * column-independent synthesis, correlations intentionally destroyed.
    * Numeric → 50% bootstrap resample + 50% Normal(μ, σ or 1); categorical
    * → iid draws from the empirical PMF via inverse-CDF range join.
    * Seeded; row order explicitly arbitrary (as the reference's index is).
    *
    * Columns attach to a `spark.range(n)` id spine: numeric draws are pure
    * column expressions over a broadcast cents histogram (inverse CDF),
    * categorical draws are a broadcast range join on the cumulative PMF.
    * At scale each column costs one histogram/PMF aggregate plus zero
    * shuffles of the output.
    */
  /** Numeric fit: distinct values, cumulative CDF, exact μ / σ-or-1. */
  private final case class NumFit(values: Array[Double], cum: Array[Double],
                                  mu: Double, sigma: Double)

  /** [[Exact.collectColumns]] (nulls and non-finites dropped) with every
    * numeric array sorted in place — the fitting collector behind
    * [[syntheticSample]]'s driver path and [[protectFit]], both gated by
    * [[DriverFitMaxCells]]. The sorts run in parallel per column: the
    * driver fit's sort was the single-threaded half of v4's fit wall (r13
    * v4 measurement: 0.36 s fit-only against a 0.18 s collect job). */
  private def collectRawState(df: DataFrame, numNames: Seq[String],
                              catNames: Seq[String]): Exact.Columns = {
    val got = Exact.collectColumns(df, numNames, catNames)
    numNames.par.foreach(c => java.util.Arrays.parallelSort(got.values(c)))
    got
  }

  /** Fit from a SORTED raw-double array (driver path): one pass builds
    * the distinct (values, cum) inverse-CDF table; μ/σ come from two-pass
    * Kahan-compensated sums — accurate to the last ulps for any finite
    * data of sane magnitude (d² can still overflow past ~1.3e154; the σ
    * fallback also catches that Inf), and V4's Gaussian half only
    * consumes them as parameters (seeded/rows-only match mode). Raw
    * doubles mean NO ≤2-decimal precondition: arbitrary user columns
    * bootstrap on their exact values. */
  private def fitFromSortedDoubles(sorted: Array[Double]): NumFit = {
    val nn = sorted.length
    val vs = Array.newBuilder[Double]
    val cm = Array.newBuilder[Double]
    var i = 0
    var s = 0.0
    var comp = 0.0
    while (i < nn) {
      val y = sorted(i) - comp
      val t = s + y
      comp = (t - s) - y
      s = t
      if (i == nn - 1 || sorted(i + 1) != sorted(i)) {
        vs += sorted(i)
        cm += (i + 1).toDouble / nn
      }
      i += 1
    }
    val mu = s / nn
    var s2 = 0.0
    var c2 = 0.0
    i = 0
    while (i < nn) {
      val d = sorted(i) - mu
      val y = d * d - c2
      val t = s2 + y
      c2 = (t - s2) - y
      s2 = t
      i += 1
    }
    val sdRaw = if (nn < 2) Double.NaN else math.sqrt(s2 / (nn - 1))
    val sigma = if (nn < 2 || sdRaw == 0.0 || sdRaw.isNaN || sdRaw.isInfinite) 1.0 else sdRaw
    val (cv, cc) = capCdf(vs.result(), cm.result())
    NumFit(cv, cc, mu, sigma)
  }

  /** Cap an inverse-CDF support table to ≤ [[MaxCdfKnots]] knots by
    * subsampling at evenly spaced cumulative-probability targets (every
    * kept knot is an exact (value, cum) point of the empirical CDF; the
    * final knot always carries cum = 1.0, so the sampler's binary search
    * domain is unchanged). A near-unique money column otherwise embeds
    * ~n distinct doubles TWICE as plan literals — megabytes of codegen
    * constants per column, which dominated v4's wall time and grew
    * linearly with input. V4's declared match mode is seeded/
    * distributional (moments/PMF within tolerance), and the quantile
    * subsample moves each bootstrap draw by less than one inter-knot
    * quantile step — orders of magnitude inside those tolerances. */
  private val MaxCdfKnots = 4096

  /** Bucket ceiling for the at-scale fit's cents histogram: the collect
    * in [[syntheticSample]]'s distributed branch is bounded by this per
    * numeric column however large the value domain grows (16× finer
    * than [[MaxCdfKnots]], so the knot subsample downstream never sees
    * the bucketing on top of its own quantile step). */
  private val FitHistMaxBuckets = 65536L

  private def capCdf(values: Array[Double], cum: Array[Double]): (Array[Double], Array[Double]) = {
    val n = values.length
    if (n <= MaxCdfKnots) return (values, cum)
    val vs = new Array[Double](MaxCdfKnots)
    val cs = new Array[Double](MaxCdfKnots)
    var j = 0
    var i = 0
    while (j < MaxCdfKnots) {
      val target = (j + 1).toDouble / MaxCdfKnots
      while (i < n - 1 && cum(i) < target) i += 1
      vs(j) = values(i)
      cs(j) = cum(i)
      j += 1
    }
    (vs, cs)
  }

  /** Row-based driver-fit dispatch for [[syntheticSample]]
    * (round 7 — replaces the earlier 16 MiB
    * plan-stats byte ceiling). The byte estimate is compression-skewed
    * for parquet sources — snappy routinely packs 5-8× on these tables,
    * so a byte ceiling lets inputs with millions of rows slip into the
    * driver path, whose cost (single-threaded collect bandwidth +
    * O(n log n) sort) grows with ROWS × collected COLUMNS, not with
    * compressed bytes. Decision: the CBO row count when available,
    * else a LIMIT-bounded row probe (every task stops after cap+1
    * narrow rows, so the probe costs at most the ceiling — it never
    * executes an unbounded upstream plan just to decide dispatch)
    * against a CELL ceiling. A plan whose byte estimate already
    * exceeds 1 GiB can't fit any plausible ceiling, so at true scale
    * the probe is skipped entirely and nothing is added to the 100 TB
    * path.
    *
    * The ceiling is deliberately LOW (a few 10⁶ cells, far under what
    * the driver could physically hold): driver-path wall time grows
    * superlinearly long before memory is at risk, while the distributed
    * fit is a flat map-side-combined aggregate whose shuffle is only
    * value-DOMAIN sized — an earlier 8 GiB ceiling kept the driver path
    * in a region where a 4× input cost ~10× the wall time. */
  private val DriverFitMaxCells = 4L << 20

  private def driverFits(df: DataFrame, nCols: Int,
                         maxCells: Long = DriverFitMaxCells): Boolean = {
    val stats = df.queryExecution.optimizedPlan.stats
    if (stats.sizeInBytes > (BigInt(1) << 30)) return false
    val cap = maxCells / math.max(1, nCols)
    stats.rowCount.map(_.toLong)
      // Pure parquet-scan plans answer from footers driver-side — no
      // probe JOB at all (the common catalog shape: Tables.* scans).
      // The 1 GiB byte short-circuit above already bounds the footer
      // IO this can trigger.
      .orElse(graft.io.ScanStats.parquetScanRowCount(df)) match {
      case Some(rows) => rows <= cap
      case None =>
        // No CBO row estimate: per-partition capped count over unit rows.
        // Each task counts its OWN partition, stopping at cap+1; only one
        // long per partition reaches the driver. This dominates both
        // earlier probe forms: limit(n).count() shuffled up to
        // n×partitions unit rows to one task, and limit(n).collect()
        // (CollectLimitExec) shipped up to cap+1 actual rows to the
        // driver through its incremental partition ramp — ~5 s of
        // driver-side accumulation at a 1.4M-row cap on a 9.6M-row input
        // (the x16 rehearsal's v4 regression). The projection is a
        // constant, so column pruning leaves a zero-column scan; on a
        // derived plan the subtree executes once with no row movement —
        // the same single pass any dispatch decision costs at minimum.
        val counts = df.select(lit(1).as("__probe")).queryExecution.toRdd
          .mapPartitions { it =>
            var m = 0L
            while (m <= cap && it.hasNext) { it.next(); m += 1 }
            Iterator.single(m)
          }
          .collect()
        counts.forall(_ <= cap) && counts.sum <= cap
    }
  }

  def syntheticSample(df: DataFrame, cols: Seq[String], n: Long = -1L,
                      seed: Long = 42L, driverFit: Option[Boolean] = None): DataFrame = {
    val spark = df.sparkSession
    val fields = df.schema.fields.filter(f => cols.contains(f.name))
    val numIdx = fields.zipWithIndex.filter(_._1.dataType.isInstanceOf[NumericType])
    val catIdx = fields.zipWithIndex.filterNot(_._1.dataType.isInstanceOf[NumericType])

    // Fitting strategy — auto-selected from the optimizer's size estimate
    // ([[driverFits]]) unless forced.
    // The auto decision may add one LIMIT-bounded probe job (see
    // [[driverFits]]); the fit itself is then at most ONE Spark job:
    //  - driver fit (small side; right while the columns fit driver
    //    memory): [[Exact.collectColumns]] collects every numeric
    //    column's RAW doubles in one fused scan, or none on a pure
    //    parquet scan (primitive batches, no encoder,
    //    sorted on the driver — a near-unique money column costs a 5 MB
    //    collect instead of a ~1 s distinct shuffle, and arbitrary-
    //    precision columns bootstrap on exact values), every categorical
    //    PMF (vocabulary-sized hash maps), and the row count.
    //  - distributed fit (the 100 TB path, the default beyond
    //    [[DriverFitMaxCells]] rows×columns — see [[driverFits]]): every
    //    row explodes into a counter entry plus one (colIdx, cents-bin |
    //    category) entry per column; a single map-side-combinable
    //    aggregate yields the row count, every cents histogram, and every
    //    PMF. Only the value DOMAIN shuffles.
    val useDriverFit = driverFit.getOrElse(driverFits(df, fields.length))

    val (sourceRows, numFits, catCounts): (Long, Map[Int, NumFit], Map[Int, Seq[(String, Long)]]) =
      if (useDriverFit) {
        val got =
          collectRawState(df, numIdx.map(_._1.name).toSeq, catIdx.map(_._1.name).toSeq)
        // per-column Kahan fit in parallel (driver-bounded arrays; each
        // column's fit is independent and order-insensitive in the map)
        val nf = numIdx.par.flatMap { case ((f, i)) =>
          val sorted = got.values(f.name)
          if (sorted.isEmpty) None else Some(i -> fitFromSortedDoubles(sorted))
        }.toList.toMap
        val cc = catIdx.map { case (f, i) => i -> got.cats(f.name).toSeq }.toMap
        (got.rows, nf, cc)
      } else {
        // ---- at-scale fit (r11 rework): collects bounded at ANY domain.
        // The previous form collected the EXACT cents histogram — value-
        // DOMAIN-sized, which the honest x16 fixture (per-copy cent
        // offsets make money domains grow with the data) measured at
        // ~10 M collected rows on near-unique columns (v4 ratio 32 vs
        // linear 16), and which on a 100 TB near-unique column is a
        // driver kill — the same class as the PSI collect the x64
        // rehearsal caught. Everything the sampler CONSUMES is already
        // bounded (capCdf keeps ≤ MaxCdfKnots knots; μ/σ are two
        // numbers), so the fit is now two bounded jobs:
        //   job 1 — one fused narrow aggregate: row count and, per
        //   numeric column, the EXACT decimal moments (same forms as
        //   Profile — μ/σ lose nothing to the bucketing) plus cents
        //   min/max;
        //   job 2 — per-row entries with the cents BUCKETED to
        //   ≤ FitHistMaxBuckets equi-width bins per column (identity
        //   when the span already fits, so small domains collect the
        //   exact histogram bit-for-bit as before), one map-side-
        //   combinable aggregate carrying each bucket's count and exact
        //   decimal cents sum, and a collect bounded by buckets×columns
        //   + categorical vocabularies. Each bucket's knot VALUE is its
        //   weighted mean, so the bootstrap half's expectation equals
        //   the source mean and every knot stays inside [min, max] —
        //   within V4's declared distributional envelopes by
        //   construction.
        val hiLo = graft.io.ScanStats.parquetScanRowCount(df)
          .exists(_ <= Exact.HiLoSafeMaxRows)
        // cents projected ONCE per column under the aggregate (the
        // corr-matrix 50× lesson — aggregate slots don't get reliable
        // subexpression elimination, and this is the branch where
        // per-row cost matters most). The count slot counts the CENTS
        // column, not the raw one: NaN/±Inf cents-cast to null, so the
        // moment sums exclude them — the divisor must match or μ/σ on a
        // NaN-bearing column bias toward zero and disagree with the CDF
        // knots (normalized by the histogram's non-null count).
        def centsName(i: Int) = s"__cents_$i"
        val pre = df.select(
          numIdx.map { case (f, i) => Exact.cents(col(f.name)).as(centsName(i)) }: _*)
        val momAggs = Seq(count(lit(1)).as("__n")) ++ numIdx.flatMap { case (_, i) =>
          val cts = col(centsName(i))
          Exact.momentAggsPre(cts, s"c$i", hiLo) ++
            Seq(min(cts).as(s"c${i}__mn"), max(cts).as(s"c${i}__mx"),
              count(cts).as(s"c${i}__cnt"))
        }
        val momSel = Seq(col("__n")) ++ numIdx.flatMap { case (_, i) =>
          Seq(Exact.s1Col(s"c$i", hiLo).as(s"c${i}__s1"),
            Exact.s2Col(s"c$i", hiLo).as(s"c${i}__s2"),
            col(s"c${i}__mn"), col(s"c${i}__mx"), col(s"c${i}__cnt"))
        }
        val mrow = pre.agg(momAggs.head, momAggs.tail: _*).select(momSel: _*).head()
        val rowsTotal = mrow.getLong(0)
        val ranges: Map[Int, (Long, Long)] = numIdx.flatMap { case (_, i) =>
          val mn = mrow.getAs[Any](s"c${i}__mn")
          val mx = mrow.getAs[Any](s"c${i}__mx")
          if (mn == null || mx == null) None
          else Some(i -> (mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
        }.toMap

        def catEntry(f: org.apache.spark.sql.types.StructField, i: Int) =
          struct(lit(i).as("i"), lit(null).cast("long").as("bin"),
            col(f.name).cast("string").as("cat"),
            lit(null).cast("long").as("cents"))
        val entries = fields.zipWithIndex.map { case (f, i) =>
          if (f.dataType.isInstanceOf[NumericType]) {
            val cents = Exact.cents(col(f.name))
            val bin = ranges.get(i) match {
              case Some((mn, mx)) if BigInt(mx) - BigInt(mn) + 1 > FitHistMaxBuckets =>
                // bucket index in double space: boundary rounding at 1e18
                // magnitudes only shifts a bucket edge, never correctness
                val spanD = (BigInt(mx) - BigInt(mn) + 1).toDouble
                least(lit(FitHistMaxBuckets - 1L), greatest(lit(0L),
                  floor((cents.cast("double") - lit(mn.toDouble)) *
                    lit(FitHistMaxBuckets.toDouble / spanD)).cast("long")))
              case _ => cents // span fits (or column all-null): exact bins
            }
            struct(lit(i).as("i"), when(cents.isNotNull, bin).as("bin"),
              lit(null).cast("string").as("cat"), cents.as("cents"))
          } else catEntry(f, i)
        }.toSeq
        val st = df.select(explode(array(entries: _*)).as("e"))
          .groupBy(col("e.i").as("i"), col("e.bin").as("bin"), col("e.cat").as("cat"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("e.cents").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("cs"))
          .collect()
        val nf = numIdx.flatMap { case (_, i) =>
          val hist = st.filter(r => r.getInt(0) == i && !r.isNullAt(1))
            .map(r => (r.getLong(1), r.getLong(3), r.getDecimal(4))).sortBy(_._1)
          if (hist.isEmpty) None
          else {
            val nn = hist.map(_._2).sum
            val bucketed = ranges.get(i).exists { case (mn, mx) =>
              BigInt(mx) - BigInt(mn) + 1 > FitHistMaxBuckets }
            val values =
              if (bucketed) hist.map { case (_, cnt, cs) =>
                // weighted-mean knot: the bucket's exact decimal cents
                // sum over its count — the bootstrap half's expectation
                // telescopes to the source (cents) mean
                cs.doubleValue() / cnt / 100.0
              }.toArray
              else hist.map(_._1 / 100.0).toArray
              // identity bins: the bin IS the cents value — derive the
              // knot from it directly, bit-for-bit the pre-bucketing
              // fit (cs/cnt loses exactness once a bucket's cents sum
              // passes 2⁵³, even though cnt = bucket multiplicity)
            val cum = hist.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail
              .map(_ / nn).toArray
            val s1 = mrow.getDecimal(mrow.fieldIndex(s"c${i}__s1"))
            val s2 = mrow.getDecimal(mrow.fieldIndex(s"c${i}__s2"))
            val cn = mrow.getLong(mrow.fieldIndex(s"c${i}__cnt"))
            val mu = Exact.meanDouble(s1, cn)
            val sdRaw = Exact.stdDouble(s1, s2, cn)
            val sigma = if (cn < 2 || sdRaw == 0.0 || sdRaw.isNaN) 1.0 else sdRaw
            val (cv, cc2) = capCdf(values, cum)
            Some(i -> NumFit(cv, cc2, mu, sigma))
          }
        }.toMap
        val cc = catIdx.map { case (_, i) =>
          i -> st.filter(_.getInt(0) == i)
            .map(r => (if (r.isNullAt(2)) null else r.getString(2), r.getLong(3))).toSeq
        }.toMap
        (rowsTotal, nf, cc)
      }

    val rows = if (n >= 0) n else sourceRows
    val base = spark.range(rows).select(col("id").as("__row_id"))
    val n2 = rows / 2

    fields.zipWithIndex.foldLeft(base) { case (acc, (f, i)) =>
      val c = f.name
      if (f.dataType.isInstanceOf[NumericType]) {
        numFits.get(i) match {
          case None =>
            // all-null source column → all-null synthesis (modules/privacy.py:40-42)
            acc.withColumn(c, lit(null).cast("double"))
          case Some(NumFit(values, cum, mu, sigma)) =>
          // Bootstrap half = iid draws from the empirical distribution,
          // realized as inverse-CDF over the fitted table (a bootstrap IS
          // iid empirical sampling; only the RNG mechanics differ, and V4
          // is seeded/rows-only by declared match mode). The search runs
          // as the native codegen'd `empirical_sample` expression — the
          // fit arrays ride along as plan references, no UDF boxing.
          graft.functions.GraftFunctions.ensureRegistered(spark)
          val sampleEmpirical = call_function("empirical_sample",
            rand(seed + i), typedlit(values), typedlit(cum))
          val gauss = randn(seed + 1000 + i) * sigma + mu
          acc.withColumn(c,
            when(col("__row_id") < n2, sampleEmpirical)
              .otherwise(gauss))
        }
      } else {
        // Inverse-CDF over the empirical PMF (nulls are a category, as in
        // the PMF the previous range-join consumed): cumulative bounds in
        // (count desc, value asc nulls first) order, compiled into a
        // when-chain for small vocabularies — no join at all.
        val cats = catCounts(i).toArray
          .sortBy { case (v, cnt) => (-cnt, v != null, v) } // nulls first among ties
        val total = cats.map(_._2).sum.toDouble
        if (cats.isEmpty) acc.withColumn(c, lit(null).cast(f.dataType))
        else if (cats.length > CatWhenChainMax) {
          // Large vocabularies (timestamps cast to string, near-unique
          // labels): a when-chain would nest one expression level PER
          // CATEGORY — thousands of levels overflow the analyzer stack
          // and defeat codegen. Instead sample the INDEX through the
          // native empirical_sample binary search (cum bounds identical
          // to the chain's [lo, hi) bins) and look the label up in a
          // broadcast literal array — O(log k) per row, depth O(1).
          graft.functions.GraftFunctions.ensureRegistered(spark)
          val cum = cats.map(_._2.toDouble / total).scanLeft(0.0)(_ + _).tail
          val idx = call_function("empirical_sample", rand(seed + 2000 + i),
            typedlit(cats.indices.map(_.toDouble)), typedlit(cum.toSeq))
            .cast("int")
          val nullIdx = cats.indexWhere(_._1 == null)
          val arr = typedlit(cats.map { case (v, _) => if (v == null) "" else v }.toSeq)
          val picked = element_at(arr, idx + 1)
          val out =
            if (nullIdx >= 0) when(idx === nullIdx, lit(null).cast("string")).otherwise(picked)
            else picked
          acc.withColumn(c, out.cast(f.dataType))
        }
        else {
          val cumHi = cats.map(_._2.toDouble / total).scanLeft(0.0)(_ + _).tail
          // u must be MATERIALIZED once per row before the when-chain: a
          // rand() instance referenced at k sites advances its RNG state at
          // each reference, which would skew the drawn distribution.
          val withU = acc.withColumn("__u", rand(seed + 2000 + i))
          val u = col("__u")
          val label = cats.zip(cumHi).zipWithIndex.foldLeft(lit(null).cast("string")) {
            case (elseExpr, (((v, _), hi), k)) =>
              val lo = if (k == 0) 0.0 else cumHi(k - 1)
              when(u >= lo && u < hi,
                if (v == null) lit(null).cast("string") else lit(v)).otherwise(elseExpr)
          }
          withU.withColumn(c, label.cast(f.dataType)).drop("__u")
        }
      }
    }.drop("__row_id")
  }

  /** The suggestion heuristic only asks "more than 50 / 20 distinct?" —
    * any saturation cap above both thresholds yields exact decisions. */
  private val SuggestDistinctCap = 64

  /** Vocabulary ceiling for the categorical inverse-CDF when-chain in
    * [[syntheticSample]] — beyond it the chain's per-category expression
    * nesting overflows the analyzer stack (and codegen), so sampling
    * switches to the index-lookup form. */
  private val CatWhenChainMax = 64

  /** V5's distinct-count threshold: a string column above 20 distinct
    * values is suppressed, a numeric column above 50 is generalized. */
  private def suggestThreshold(dt: DataType): Long = if (dt == StringType) 20L else 50L

  /** V5's dtype dispatch, shared by [[smartSuggest]] and
    * [[ProtectFit.suggestions]]: (column, transform, ε) given whether the
    * column's distinct count exceeds [[suggestThreshold]]. */
  private def suggestion(f: StructField, exceeds: => Boolean): Option[(String, String, Option[Double])] =
    f.dataType match {
      case StringType => if (exceeds) Some((f.name, "sdc", None)) else None
      case _: NumericType => Some((f.name, if (exceeds) "generalize+dp" else "dp", Some(1.0)))
      case _ => None
    }

  /** V5 smart suggestion heuristic (`modules/privacy.py:55-68`): per
    * column, dtype + distinct-count dispatch into a suggested transform.
    *
    * The dispatch thresholds only need "distinct > 50 (numeric) / > 20
    * (string)?", never the exact cardinality — so the counts SATURATE at
    * [[SuggestDistinctCap]] (> both thresholds ⇒ identical decisions,
    * with a ~2⁻⁶⁴-per-pair hash-collision caveat that cannot flip a
    * threshold in practice). One narrow scan: xxhash64 per column inside
    * codegen, then a per-partition capped hash-set sweep over the raw
    * internal rows (the sanctioned use of the RDD layer: genuinely
    * imperative per-partition state). Every partition emits ≤ cap+1 longs
    * per column no matter the cardinality — a full count_distinct on ONE
    * high-cardinality column alone costs ~0.9 s at sf0.1 (the distinct
    * shuffle IS the cost), and a typed-Aggregator formulation pays ~1 µs
    * of encoder overhead per row; this form pays a hash-set insert.
    * Eager by design — the result is a driver-sized config. */
  def smartSuggest(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val fields = df.schema.fields.toSeq
    // Only string/numeric columns influence a suggestion.
    val allCounted = fields.filter(f =>
      f.dataType == StringType || f.dataType.isInstanceOf[NumericType])
    // Metadata fast path (r14): when the input is a pure parquet scan,
    // the `nunique > T` comparisons are usually PROVABLE from the footers'
    // dictionary metadata alone (graft.io.DictStats) — every proven column
    // skips the scan entirely; only the unprovable remainder pays the
    // capped hash-set sweep below. On the catalog fixtures every counted
    // column proves, so V5 runs with ZERO Spark jobs.
    val proven: Map[String, Boolean] =
      try graft.io.DictStats.distinctExceeds(df,
        allCounted.map(f => f.name -> suggestThreshold(f.dataType)).toMap)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    val counted = allCounted.filterNot(f => proven.contains(f.name))
    val cap = SuggestDistinctCap
    val k = counted.length
    val uniq: Map[String, Long] = (if (counted.isEmpty) Map.empty[String, Long]
      else {
        // Long.MinValue marks SQL NULL (excluded from distinct counts, as
        // nunique does); xxhash64 emitting it legitimately is a 2⁻⁶⁴ event.
        val hashed = df.select(counted.map(f =>
          when(col(f.name).isNull, lit(Long.MinValue))
            .otherwise(xxhash64(col(f.name))).as(f.name)): _*)
        // partial per (partition, column): Some(distinct hashes) or None
        // once saturated — ≤ cap+1 longs either way.
        val partials = hashed.queryExecution.toRdd
          .mapPartitions { iter =>
            val sets = Array.fill(k)(scala.collection.mutable.HashSet.empty[Long])
            val over = new Array[Boolean](k)
            iter.foreach { row =>
              var j = 0
              while (j < k) {
                if (!over(j)) {
                  val v = row.getLong(j)
                  if (v != Long.MinValue) {
                    val s = sets(j)
                    s.add(v)
                    if (s.size > cap) { over(j) = true; s.clear() }
                  }
                }
                j += 1
              }
            }
            Iterator.tabulate(k) { j =>
              j -> (if (over(j)) None else Some(sets(j).toArray))
            }
          }.collect()
        partials.groupBy(_._1).map { case (j, parts) =>
          val merged = scala.collection.mutable.HashSet.empty[Long]
          var over = false
          parts.foreach {
            case (_, Some(arr)) if !over =>
              arr.foreach { v =>
                merged.add(v)
                if (merged.size > cap) { over = true; merged.clear() }
              }
            case (_, None) => over = true
            case _ => ()
          }
          counted(j).name -> (if (over) cap + 1L else merged.size.toLong)
        }
      })
      .withDefaultValue(0L)
    val rows = fields.flatMap(f =>
      suggestion(f, proven.getOrElse(f.name, uniq(f.name) > suggestThreshold(f.dataType))))
    import spark.implicits._
    // rows is already driver-local (the capped-distinct collect above) —
    // sort it HERE: an .orderBy on the LocalRelation would pay a range-
    // partitioning sample job plus a sort job (the r10 v5 job count
    // measured them as half of v5's 4-job budget) to order a
    // ≤|columns|-row frame.
    rows.sortBy(_._1).toDF("column", "suggestion", "epsilon")
  }

  /** V8 (extension): k-anonymity assessment over a quasi-identifier set —
    * the standard SDC release gate the reference's risk step approximates
    * with k-NN. One hash aggregate over the quasi combination, then a
    * 4-field summary: the minimum group size (the dataset's k), group
    * count, and how many rows sit in groups below the requested k.
    * Null quasi values form their own groups (GROUP BY semantics, same
    * in every engine). Scale shape: one map-side-combinable shuffle on
    * the quasi columns; the summary aggregate is group-domain-sized. */
  def kAnonymity(df: DataFrame, quasi: Seq[String], k: Int = 5): DataFrame = {
    val g = df.groupBy(quasi.map(col): _*).agg(count(lit(1)).as("c"))
    g.agg(
      min(col("c")).as("k_min"),
      count(lit(1)).as("n_groups"),
      coalesce(sum(when(col("c") < k, col("c")).otherwise(0L)), lit(0L)).as("n_rows_below_k"),
      (coalesce(sum(when(col("c") < k, col("c")).otherwise(0L)), lit(0L)).cast("double") * 100.0 /
        sum(col("c"))).as("pct_below_k"))
  }

  /** V9 (extension): distinct l-diversity — the minimum number of
    * distinct sensitive values within any quasi-identifier group (k-
    * anonymity's complement against homogeneity attacks). Same single-
    * shuffle shape with a count_distinct per group. */
  def lDiversity(df: DataFrame, quasi: Seq[String], sensitive: String): DataFrame =
    df.groupBy(quasi.map(col): _*)
      .agg(count_distinct(col(sensitive)).as("l"))
      .agg(min(col("l")).as("l_min"), count(lit(1)).as("n_groups"))

  /** V10 (extension): t-closeness — the third release gate next to
    * [[kAnonymity]]/[[lDiversity]]: the worst total-variation distance
    * between any quasi group's sensitive-value distribution and the
    * global one (TV is the standard instantiation for unordered
    * categorical sensitive values; EMD reduces to it under the discrete
    * metric). A released table is t-close when the reported maximum ≤ t.
    *
    * Exactness: every |p_gv − p_v| term cross-multiplies to the integer
    * |c_gv·N − c_v·n_g|, absent categories contribute (N − Σ_{v∈g} c_v)/N,
    * and each group does ONE double division at the end — identical bits
    * in any engine, no float accumulation. Integer products stay in long
    * for row counts < ~3·10⁹ (the decimal form takes over past that).
    *
    * Plan shape: one map-side-combinable aggregate on (quasi, sensitive);
    * the marginals and the TV terms are windows over the grouped CELL
    * frame (|groups|·|V| rows, never data-sized). */
  def tCloseness(df: DataFrame, quasi: Seq[String], sensitive: String): DataFrame = {
    val cells = df
      .groupBy((quasi.map(col) :+
        coalesce(col(sensitive).cast("string"), lit("NA")).as("__v")): _*)
      .agg(count(lit(1)).as("c"))
    val wG = Window.partitionBy(quasi.map(col): _*)
    val wV = Window.partitionBy("__v")
    val wAll = Window.partitionBy()
    val term = abs(col("c") * col("N") - col("cv") * col("ng"))
    val perGroup = cells
      .withColumn("ng", sum("c").over(wG))
      .withColumn("cv", sum("c").over(wV))
      .withColumn("N", sum("c").over(wAll))
      .groupBy(quasi.map(col): _*)
      .agg(max("ng").as("ng"), max("N").as("N"),
        sum(term).as("s1"), sum("cv").as("s2"))
    val tv = (col("s1").cast("double") / (col("ng") * col("N")) +
      (col("N") - col("s2")).cast("double") / col("N")) * 0.5
    perGroup.agg(max(tv).as("t_max"), count(lit(1)).as("n_groups"))
  }

  /** V7 quasi-identifier suggestions (`modules/risk.py:8`): static list ∩
    * actual columns. */
  val QuasiIdSuggestions: Seq[String] =
    Seq("age", "gender", "zipcode", "pincode", "city", "state", "education", "income")

  def quasiSuggestions(df: DataFrame): Seq[String] =
    QuasiIdSuggestions.filter(df.columns.contains)

  /** One-scan fitted state for the whole protect pipeline: V5
    * suggestions, V1 rare-category sets, and V2 quantile edges are all
    * pure driver-side reads of the same collected buffers, so
    * suggest→suppress→generalize costs ONE fitting job instead of one
    * scan per operator (the round-2 verdict's fusion item). V4 keeps its
    * own fit because it must observe the TRANSFORMED frame (generalized
    * columns are labels by the time synthesis runs).
    *
    * Driver-fit regime only (ceiling [[DriverFitMaxCells]], same
    * auto-dispatch contract as [[syntheticSample]]): the fit holds whole
    * columns and vocabularies. Beyond it, [[graft.core.GraftSession.protect]]
    * is the 100 TB path: its rare sets come from grouped-count jobs whose
    * collect stops at [[SuppressFitMaxValues]] + 1 rows, and its edges
    * from [[generalizeEdges]]' [[Exact.quantiles]] fit. Both paths
    * apply through the same [[sdcSuppressFitted]] / [[generalizeFitted]]
    * projections, and both send a string column holding a key that is not
    * valid UTF-8 to the byte-exact [[sdcSuppressBroadcast]]. The buffers
    * come from [[Exact.collectColumns]]: no Spark job on a pure parquet
    * scan, one fused job on anything else. */
  final case class ProtectFit private[ops] (
      rows: Long,
      fields: Seq[StructField],
      numSorted: Map[String, Array[Double]],
      catCounts: Map[String, Map[String, Long]],
      invalidUtf8: Set[String]) {

    /** Non-null distinct count. Numeric: uniques in the sorted buffer
      * (non-finites dropped by the collector — a ≤2-equivalence-class
      * divergence from [[smartSuggest]]'s hash sweep that cannot flip
      * the >50 threshold on finite data). */
    def distinctCount(c: String): Long =
      numSorted.get(c).map { arr =>
        var u = 0L; var i = 0
        while (i < arr.length) { if (i == 0 || arr(i) != arr(i - 1)) u += 1; i += 1 }
        u
      }.orElse(catCounts.get(c).map(_.keysIterator.count(_ != null).toLong))
        .getOrElse(0L)

    /** [[smartSuggest]]'s decisions from the fitted counts — identical
      * rules, identical output shape. */
    def suggestions: Seq[(String, String, Option[Double])] =
      fields.flatMap(f => suggestion(f, distinctCount(f.name) > suggestThreshold(f.dataType)))

    /** V2 edges: exact interpolated quantiles over the sorted buffer —
      * the driver branch of [[Exact.quantiles]] verbatim. Empty
      * buffer (all-null column) → empty. */
    def quantileEdges(c: String, bins: Int): Seq[Double] = {
      val arr = numSorted.getOrElse(c, Array.empty[Double])
      if (arr.isEmpty) Seq.empty
      else (0 to bins).map(i => Exact.quantileFromSorted(arr, i.toDouble / bins))
    }

    /** V1 rare categories of a fitted string column: the values counted
      * below `threshold`, with null a member when the null group is. None
      * when the column holds a key that is not valid UTF-8: its counts
      * are merged under lenient decodes and no String set matches its
      * bytes, so the caller takes [[sdcSuppressBroadcast]], as
      * [[sdcSuppress]] does. */
    def rareCategories(c: String, threshold: Long): Option[Set[String]] =
      rareKeys(catCounts.getOrElse(c, Map.empty), invalidUtf8(c), threshold)
  }

  /** Build a [[ProtectFit]] with one collect of every column (see class
    * doc). */
  def protectFit(df: DataFrame): ProtectFit = {
    val fields = df.schema.fields.toSeq
    val numNames = fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    val catNames = fields.filter(_.dataType == StringType).map(_.name)
    val got = collectRawState(df, numNames, catNames)
    ProtectFit(got.rows, fields, got.nums.view.mapValues(_._1).toMap, got.cats, got.invalidUtf8)
  }

  /** V1 apply half: a PRE-FITTED rare set (from [[sdcSuppress]] or
    * [[ProtectFit.rareCategories]]) applied by P4
    * ([[RowTransforms.replaceRare]]) as a pure codegen projection — no
    * counting job, no join. A null member maps the null group to "OTHER". */
  def sdcSuppressFitted(df: DataFrame, c: String, rare: Set[String]): DataFrame =
    df.withColumn(c, RowTransforms.replaceRare(col(c), rare))

  /** V2 apply half: label `c` by PRE-FITTED raw quantile edges (from
    * [[generalizeEdges]] or [[ProtectFit.quantileEdges]]). Duplicate
    * edges merge as `pd.qcut(duplicates="drop")` does; no edges, a NaN
    * edge or fewer than two distinct edges (empty or one-valued domain)
    * label every row null. */
  def generalizeFitted(df: DataFrame, c: String, raw: Seq[Double]): DataFrame = {
    val edges = raw.distinct
    if (raw.exists(_.isNaN) || edges.length < 2) df.withColumn(c, lit(null).cast("string"))
    else df.withColumn(c, labelExpr(col(c), edges))
  }
}

package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Cross-engine-deterministic numeric aggregate expressions.
  *
  * Double SUM/AVG/STDDEV are order-dependent (partial aggregates merge in
  * partition order), so a distributed run can't hash-match a single-node
  * oracle — or itself across reruns with different partitioning. These
  * helpers accumulate in exact integer/decimal space instead:
  *
  *  - money values (≤2 decimal places) become exact BIGINT cents;
  *  - first/second moments are exact decimal sums of cents / squared cents;
  *  - the final mean/std are derived from the exact moments with a FIXED
  *    double operation order, mirrored verbatim in the oracle SQL.
  *
  * The variance uses the textbook n·S2 − S1² form on exact integers, so no
  * catastrophic cancellation can occur before the single final rounding to
  * double. This is also the right design at 100 TB: bit-identical results
  * regardless of executor count, speculative retries, or AQE re-planning.
  */
object Exact {

  /** Exact cents: value must have ≤2 decimal places (all testdata money
    * columns do). double→decimal(18,2) is cross-engine-unambiguous at this
    * low scale; ×100 and the long cast are exact. */
  def cents(c: Column): Column =
    (c.cast(DecimalType(18, 2)) * lit(100)).cast(LongType)

  /** ⌊√Long.MaxValue⌋ — the largest |cents| whose self/cross products
    * still fit a native long. Past it a long multiplication overflows —
    * an ANSI abort of the whole job (or a silent wrap with ANSI off) —
    * so every long-space cents product must be guarded by this bound and
    * fall back to decimal multiplies beyond it. */
  val LongSafeCentsAbsMax: Long = 3037000499L

  /** Exact first moment Σ cents as DECIMAL(38,0). Width 38, not 19: the
    * x64 curvature rehearsal (r10) measured Σ cents = 1.21·10¹⁹ on a
    * key-like lineitem column — one digit past DECIMAL(19,0), an ANSI
    * abort of the whole profile job. The SUM itself was never the
    * problem (Spark widens a Decimal(19,0) sum to (29,0) internally);
    * only the final narrowing cast faulted. (The DuckDB-side oracle
    * mirrors cast to width 19 for int128 storage — fine there, the
    * oracle only ever runs at sf ≤ x16 where Σ < 10¹⁹.) */
  def s1(c: Column): Column =
    sum(cents(c).cast(DecimalType(19, 0))).cast(DecimalType(38, 0))

  /** Exact second moment Σ cents², summed exactly in decimal space.
    *
    * The square multiplies in native long ONLY inside the long-safe
    * domain ([[LongSafeCentsAbsMax]] — the CaseWhen branch is lazy, so
    * in-domain rows never touch BigDecimal); |cents| beyond it (large
    * ids/keys at big scale factors) squares as DECIMAL(19,0) — slower
    * per such row but exact, where an ungated long multiply would abort
    * the whole job under ANSI. Result width 38: Σ cents² can pass 10²⁶
    * legitimately once big-id columns profile at scale. */
  def s2(c: Column): Column = {
    val v = cents(c)
    val sq = when(abs(v) <= lit(LongSafeCentsAbsMax), (v * v).cast(DecimalType(38, 0)))
      .otherwise(v.cast(DecimalType(19, 0)) * v.cast(DecimalType(19, 0)))
    sum(sq).cast(DecimalType(38, 0))
  }

  /** Row-count ceiling for the hi/lo long moment accumulators below:
    * Σlo grows ≤ n·(2³²−1) and Σ|cents| ≤ n·[[LongSafeCentsAbsMax]], so
    * both partial sums stay inside long only while n ≤ ~2.1·10⁹ rows;
    * 2·10⁹ leaves margin. Callers pre-flight a `df.count()` (column-
    * pruned scan — parquet footer counts, nearly free) and keep the
    * decimal [[s1]]/[[s2]] forms past the ceiling. Plan-statistics
    * `sizeInBytes` is NOT a safe proxy: RLE parquet can pack far below
    * 1 B/row, so a byte ceiling bounds nothing. */
  val HiLoSafeMaxRows: Long = 2000000000L

  /** ALL-LONG per-row moment accumulators for one column — the hot-path
    * form of [[s1]]+[[s2]] (identical exact sums, recombined by
    * [[s1FromParts]]/[[s2FromParts]] AFTER the aggregate).
    *
    * Why: `sum(DECIMAL)` above precision 18 keeps a non-compact Decimal
    * buffer, so the plain [[s2]] pays a BigDecimal add per row — benched
    * 7–8× slower than long sums on identical values (the corr-matrix
    * round-4 finding, [[Profile.correlationMatrix]]). Here every
    * in-domain row (|cents| ≤ [[LongSafeCentsAbsMax]], i.e. every row of
    * every real money column) updates FIVE long buffers: Σcents, Σhi/Σlo
    * 32-bit halves of cents² (Σcents² = 2³²·Σhi + Σlo), and nothing
    * decimal. Rows PAST the domain (big-id columns at large SF) flow
    * into two decimal side-sums instead — exact DECIMAL(19,0) squares —
    * so the decimal buffers exist but are touched only by rows that
    * genuinely need 128-bit products. One pass, no magnitude probe, no
    * re-run, exact at any magnitude; the only precondition is the
    * [[HiLoSafeMaxRows]] row-count ceiling on the whole input. */
  def momentParts(c: Column, p: String): Seq[Column] =
    momentPartsPre(cents(c), p)

  /** [[momentParts]] over an ALREADY-CONVERTED cents column. Callers
    * should project `cents(c)` ONCE per column under the aggregate and
    * pass the projected long here: the double→DECIMAL(18,2) round-trip
    * is the only expensive per-row step, and referencing `cents(c)`
    * inside each of the five slots re-runs it per slot per row (the
    * corr-matrix 50× lesson — aggregate expressions don't reliably get
    * subexpression elimination). Everything below is long compares,
    * multiplies and shifts. */
  def momentPartsPre(v: Column, p: String): Seq[Column] = {
    val in = abs(v) <= lit(LongSafeCentsAbsMax)
    val sq = v * v // only referenced under when(in, _): the branch is lazy
    val vd = v.cast(DecimalType(19, 0))
    Seq(
      sum(when(in, v)).as(s"${p}__s1l"),
      sum(when(!in, vd)).as(s"${p}__s1d"),
      sum(when(in, shiftright(sq, 32))).as(s"${p}__s2hi"),
      sum(when(in, sq.bitwiseAND(lit(0xFFFFFFFFL)))).as(s"${p}__s2lo"),
      sum(when(!in, vd * vd)).as(s"${p}__s2d"))
  }

  /** [[s1]]/[[s2]] over an already-converted cents column (single cents
    * evaluation per row — see [[momentPartsPre]]). Width 38 on the final
    * cast, same x64 lesson as [[s1]]. */
  def s1Pre(v: Column): Column =
    sum(v.cast(DecimalType(19, 0))).cast(DecimalType(38, 0))

  def s2Pre(v: Column): Column = {
    val sq = when(abs(v) <= lit(LongSafeCentsAbsMax), (v * v).cast(DecimalType(38, 0)))
      .otherwise(v.cast(DecimalType(19, 0)) * v.cast(DecimalType(19, 0)))
    sum(sq).cast(DecimalType(38, 0))
  }

  /** Exact S1 from [[momentParts]] slots — null iff no non-null rows,
    * matching `sum`'s semantics. */
  def s1FromParts(p: String): Column = {
    val l = col(s"${p}__s1l")
    val d = col(s"${p}__s1d")
    // width 38 on the recombination: l + d passed 10¹⁹ at x64 (measured
    // 1.21·10¹⁹ — see [[s1]]); the slots themselves never overflow
    // (long ≤ n·LongSafeCentsAbsMax under the HiLo row ceiling; d is a
    // Spark-widened Decimal(29,0) sum)
    when(l.isNull && d.isNull, lit(null).cast(DecimalType(38, 0)))
      .otherwise((coalesce(l.cast(DecimalType(19, 0)), lit(0)) +
        coalesce(d, lit(0))).cast(DecimalType(38, 0)))
  }

  /** Exact S2 from [[momentParts]] slots (Σcents² = 2³²·Σhi + Σlo + Σdec). */
  def s2FromParts(p: String): Column = {
    val h = col(s"${p}__s2hi")
    val d = col(s"${p}__s2d")
    when(h.isNull && d.isNull, lit(null).cast(DecimalType(38, 0)))
      .otherwise((coalesce(h.cast(DecimalType(20, 0)) * lit(4294967296L), lit(0)) +
        coalesce(col(s"${p}__s2lo").cast(DecimalType(20, 0)), lit(0)) +
        coalesce(d, lit(0))).cast(DecimalType(38, 0)))
  }

  /** [[s1]]/[[s2]] aggregate slots with the row-count dispatch applied:
    * the hi/lo long parts inside the ceiling, the decimal forms past it.
    * Pair with [[s1Col]]/[[s2Col]] using the same `hiLo` flag. */
  def momentAggs(c: Column, p: String, hiLo: Boolean): Seq[Column] =
    if (hiLo) momentParts(c, p)
    else Seq(s1(c).as(s"${p}__s1"), s2(c).as(s"${p}__s2"))

  /** [[momentAggs]] over an already-converted cents column. */
  def momentAggsPre(v: Column, p: String, hiLo: Boolean): Seq[Column] =
    if (hiLo) momentPartsPre(v, p)
    else Seq(s1Pre(v).as(s"${p}__s1"), s2Pre(v).as(s"${p}__s2"))

  def s1Col(p: String, hiLo: Boolean): Column =
    if (hiLo) s1FromParts(p) else col(s"${p}__s1")

  def s2Col(p: String, hiLo: Boolean): Column =
    if (hiLo) s2FromParts(p) else col(s"${p}__s2")

  /** mean = S1/100/n with fixed double op order. */
  def meanFromMoments(s1: Column, n: Column): Column =
    // n = 0 → NULL without dividing (ANSI double-division fault; DuckDB
    // NULL parity — see [[stdFromMoments]])
    when(n >= 1, s1.cast("double") / 100.0 / n)

  /** The decimal-exact n·S2 − S1² path is itself magnitude-bounded:
    * S1·S1 as DECIMAL(38,0) faults past |S1| ≈ 10¹⁹ and n·S2 past
    * S2 ≈ 10³⁸/n — both reachable for key-like columns at big scale
    * (the x64 rehearsal hit the S1 edge at Σ = 1.21·10¹⁹). Inside the
    * bound the decimal subtraction is bit-exact (the DuckDB-parity
    * requirement at every oracle scale, ≤ x16); past it the variance
    * falls back to DOUBLE arithmetic — relative error ~10⁻¹⁶ on the
    * surviving magnitudes, far below any reporting tolerance, and the
    * oracle never runs there. 9·10¹⁸ / 9·10³⁷ leave a ~10 % margin so
    * the double-space guard comparison can never round INTO a faulting
    * decimal evaluation (CaseWhen branches are lazy). */
  private def decimalMomentsSafe(s1: Column, s2: Column, n: Column): Column =
    abs(s1.cast("double")) <= lit(9.0e18) &&
      s2.cast("double") * n.cast("double") <= lit(9.0e37)

  /** sqrt(max(0, (S2 − S1²/n)/ddof/10⁴)) computed entirely in double —
    * the past-decimal-domain fallback of [[stdFromMoments]]. */
  private def stdDouble(s1: Column, s2: Column, n: Column, ddof: Column): Column = {
    val s1d = s1.cast("double")
    sqrt(greatest(lit(0.0),
      (s2.cast("double") - s1d * s1d / n.cast("double")) / ddof / 10000.0))
  }

  /** Sample std (ddof=1, pandas `std()` convention) from exact moments:
    * sqrt(max(0, (n·S2 − S1²)/n/(n−1)/10000)). */
  def stdFromMoments(s1: Column, s2: Column, n: Column): Column = {
    val num = (n.cast(DecimalType(10, 0)) * s2 - s1 * s1).cast("double")
    // n < 2 → NULL, never a division: Spark 4 ANSI faults on DOUBLE
    // division by zero too (FuzzSpec single-row seed killed a whole
    // profile job through this), and DuckDB's x/0 is NULL — the guard is
    // both the crash fix and the oracle's exact semantics. CaseWhen
    // evaluates the branch lazily, so the division never runs at n < 2
    // (and the decimal products never evaluate past the magnitude bound).
    when(n >= 2,
      when(decimalMomentsSafe(s1, s2, n),
        sqrt(greatest(lit(0.0), num / n / (n - lit(1)) / 10000.0)))
        .otherwise(stdDouble(s1, s2, n, (n - lit(1)).cast("double"))))
  }

  /** DuckDB quantile_cont's EXACT interpolation: lo·(1−f) + hi·f. The
    * algebraically-equal lo+(hi−lo)·f differs by 1 ulp for some inputs
    * (observed at sf0.1), which flips a %.2f bin label across a rounding
    * boundary — formula shape matters, not just the math. */
  def interp(lo: Double, hi: Double, f: Double): Double = lo * (1 - f) + hi * f

  /** The one exact-quantile fit: linear-interpolated `probs` quantiles
    * (h = p·(n−1), then [[interp]] — DuckDB `quantile_cont`) of every
    * column in `cols`, for V2 edges and PSI edges, and for winsorize and
    * the perplexity tertiles below their driver ceiling. The caller
    * decides `driver` against its own ceiling:
    *  - `driver`: [[collectColumns]] plus a sort per column; any finite
    *    doubles, no ≤2-decimal precondition;
    *  - otherwise the bucketed cents histogram ([[centsHistogramFit]]),
    *    which shuffles the value DOMAIN, never the data, and checks
    *    cents-eligibility (≤2 decimals, fits DECIMAL(18,2)) in its own
    *    scan;
    *  - a column the branch cannot certify (non-finite values dropped on
    *    the driver, or not cents-eligible) goes into the ONE aggregate of
    *    [[percentiles]], whose NaN/±Inf ordering is the oracle's.
    * None: the column has no non-null value. A Some holds NaN only when
    * the `percentile` fallback returns it. */
  def quantiles(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
                probs: Seq[Double], driver: Boolean): Map[String, Option[Seq[Double]]] = {
    val fits =
      if (driver) numProfileViaDriverSort(df, cols, probs, withMoments = false)
      else centsHistogramFit(df, cols, probs, withMoments = false, hiLo = true)
    val fallback = percentiles(df, cols.filterNot(fits(_).eligible), probs)
    cols.map { c =>
      val f = fits(c)
      c -> (if (!f.eligible) fallback(c) else if (f.nUnique.contains(0L)) None else f.quantiles)
    }.toMap
  }

  /** The last step of [[quantiles]]: ONE aggregate holding a
    * `percentile(CAST(c AS DOUBLE), array(probs))` per column of `cols`
    * (no job when `cols` is empty). It is also the whole fit above the
    * driver ceiling of winsorize and the perplexity tertiles, whose
    * columns are often full-precision doubles the cents histogram could
    * only reject after its own scan. None: no non-null value. */
  def percentiles(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
                  probs: Seq[Double]): Map[String, Option[Seq[Double]]] =
    if (cols.isEmpty) Map.empty
    else {
      val ps = array(probs.map(lit): _*)
      val aggs = cols.map(c => percentile(col(c).cast("double"), ps))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      cols.zipWithIndex.map { case (c, i) =>
        c -> (if (r.isNullAt(i)) None else Some(r.getSeq[Double](i)))
      }.toMap
    }

  /** Full numeric-profile fit on the AT-SCALE branch — the histogram
    * twin of [[numProfileViaDriverSort]]: the same single exploded scan
    * that histograms the cents domain now also carries each column's
    * exact moments and min/max, so eligible columns need NO separate
    * wide aggregate over the raw table (at x16 that second full scan was
    * ~half of a1's wall). The moment sums ride the EXISTING per-bucket
    * aggregate as count-weighted slots — Σcents = Σ_bins b·cnt with the
    * identical hi/lo-long + decimal-side-sum split as [[momentPartsPre]]
    * (weighted partials stay inside long under the same
    * [[HiLoSafeMaxRows]] ceiling: |b·cnt| ≤ bound·n, Σcnt·hi ≤ n·2³¹,
    * Σcnt·lo ≤ n·(2³²−1)) — and finalize driver-side through the same
    * BigDecimal recombination and double op order as the in-agg forms.
    * min/max recover the exact raw doubles via the DECIMAL(18,2)
    * round-trip that eligibility proves (`BigDecimal(b,2).doubleValue`
    * == the source value bit-for-bit). Ineligible columns (NaN/±Inf/
    * >2dp) return `eligible = false` exactly as before — callers keep
    * their in-agg fallback. */
  def numProfileViaCentsHistogram(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      probs: Seq[Double], hiLo: Boolean,
      buckets: Int = 32): Map[String, NumFit] =
    centsHistogramFit(df, cols, probs, withMoments = true, hiLo, buckets)

  /** Exact quantiles for MANY columns in ONE job, scale-safe: explode the
    * numeric columns into (columnIdx, centBucket) pairs, histogram with a
    * single map-side-combinable shuffle, range-partition the bins and
    * compute cumulative counts per bucket + broadcast per-bucket prefix
    * offsets (the same two-pass trick as `Drift.ksStatistic` — exact Long
    * arithmetic, no single-task window), then pull back only the ≤2·|probs|
    * crossing bins per column. Cents-eligibility is verified inside the
    * same scan; the bin count is the exact distinct count (eligibility
    * makes value↔bin a bijection). */
  private def centsHistogramFit(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      probs: Seq[Double], withMoments: Boolean, hiLo: Boolean,
      buckets: Int = 32): Map[String, NumFit] = {
    import org.apache.spark.sql.expressions.Window
    if (cols.isEmpty) return Map.empty
    val pairs = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("ci"), col(c).cast("double").as("v"))
    }
    val exploded = df
      .select(explode(array(pairs: _*)).as("e"))
      .select(col("e.ci").as("ci"), col("e.v").as("v"))
      .filter(col("v").isNotNull)
      // double→DECIMAL(18,2)→double round trip: NaN/±Inf/>2dp/overflow
      // all flag `bad`, and a bad value lands in the null-b bin rather
      // than a rounded cent, so an ineligible column histograms one bin
      // instead of a domain as large as its data
      .withColumn("bad",
        when(col("v") <=> col("v").cast(DecimalType(18, 2)).cast("double"), 0L).otherwise(1L))
      .withColumn("b", when(col("bad") === 0L, cents(col("v"))))
    // Persist BEFORE repartitionByRange: the range partitioner's sampling
    // pass would otherwise recompute the scan + histogram shuffle.
    val hist = exploded.groupBy("ci", "b")
      .agg(count(lit(1)).as("cnt"), sum("bad").as("bad"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Quantile-only fits ([[quantiles]]) read the ineligible columns off
    // the job that fills the histogram's cache and stop there when none
    // is eligible: the `percentile` fallback answers them, so the range
    // partitioning and walk below would be wasted work. The profile fit
    // keeps its plan: its x16 gate row was not shown unaffected by the
    // extra job (one run each read 39-43 s with it, 36-38 s without).
    if (!withMoments &&
        hist.filter(col("bad") > 0).select("ci").collect().length == cols.size) {
      hist.unpersist(blocking = false)
      return cols.map(_ -> NumFit(None, None, 0L, None, None, None, None, eligible = false)).toMap
    }
    // localCheckpoint FREEZES the bucket ids for the three downstream
    // consumers (offsets, cumulative join, summary): their pruned
    // exchange subtrees are non-identical, so without one shared
    // materialization each would instantiate its own range exchange with
    // independently-sampled split points — the r9 x16 oracle run caught
    // a1's at-scale median off by 0.8% through exactly this (the driver
    // sort runs below the cell ceiling, so no smaller gate could see
    // it). Checkpoint is eager, so hist's cache is spent right after;
    // the checkpoint itself is released once the one collect has run.
    val parts = hist.repartitionByRange(buckets, col("ci"), col("b"))
      .withColumn("bucket", spark_partition_id())
      .localCheckpoint()
    hist.unpersist(blocking = false)
    val wPre = Window.partitionBy("ci").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCi = Window.partitionBy("ci")
    // Count-weighted moment/min-max slots riding the SAME per-bucket
    // aggregate (withMoments only — quantile-only callers keep the
    // original plan bit-for-bit). Null-b bins (ineligible rows) drop
    // from every slot through null propagation, matching the row forms.
    val momentSlots: Seq[Column] =
      if (!withMoments) Nil
      else {
        val b = col("b")
        val cnt = col("cnt")
        val bd = b.cast(DecimalType(19, 0))
        val cntD = cnt.cast(DecimalType(19, 0))
        val mm = Seq(min(b).as("pmn"), max(b).as("pmx"))
        if (hiLo) {
          val in = abs(b) <= lit(LongSafeCentsAbsMax)
          val sq = b * b // only under when(in, _): lazy, never overflows
          Seq(
            sum(when(in, b * cnt)).as("ps1l"),
            sum(when(!in, bd * cntD)).as("ps1d"),
            sum(when(in, shiftright(sq, 32) * cnt)).as("ps2hi"),
            sum(when(in, sq.bitwiseAND(lit(0xFFFFFFFFL)) * cnt)).as("ps2lo"),
            sum(when(!in, bd * bd * cntD)).as("ps2d")) ++ mm
        } else {
          // past the row ceiling: all-decimal weighted sums (the s1Pre/
          // s2Pre regime) — same runtime totals as the per-row forms
          val sq = when(abs(b) <= lit(LongSafeCentsAbsMax),
            (b * b).cast(DecimalType(38, 0))).otherwise(bd * bd)
          Seq(
            lit(null).cast("long").as("ps1l"),
            sum(bd * cntD).as("ps1d"),
            lit(null).cast("long").as("ps2hi"),
            lit(null).cast("long").as("ps2lo"),
            sum(sq * cntD).as("ps2d")) ++ mm
        }
      }
    // ≤ buckets·|cols| rows — the only non-bucketed windows in the plan
    val baseAggs = Seq(sum("cnt").as("scnt"), sum("bad").as("sbad"),
      count(lit(1)).as("nbins")) ++ momentSlots
    val offsetsFull = parts.groupBy("bucket", "ci")
      .agg(baseAggs.head, baseAggs.tail: _*)
      .withColumn("off", coalesce(sum("scnt").over(wPre), lit(0L)))
      .withColumn("n", sum("scnt").over(wCi))
      .withColumn("badci", sum("sbad").over(wCi))
    val offsets = offsetsFull.select("bucket", "ci", "off", "n", "badci")
    val wLoc = Window.partitionBy("bucket", "ci").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = parts
      .withColumn("loc", sum("cnt").over(wLoc))
      .join(broadcast(offsets), Seq("bucket", "ci"))
      .withColumn("cum", col("loc") + col("off"))
      .withColumn("lo", col("cum") - col("cnt"))
    val probsArr = array(probs.zipWithIndex.map { case (p, i) =>
      struct(lit(i).as("pi"), lit(p).as("p"))
    }: _*)
    val inLo = col("r0") >= col("lo") && col("r0") < col("cum")
    val inHi = col("r0") + 1 >= col("lo") && col("r0") + 1 < col("cum")
    // crossing rows carry null moment slots (withMoments) so the union
    // with the per-column summary row stays schema-aligned
    val crossAggs = Seq(first("h").as("h"), first("badci").as("badci"),
      min(when(inLo, col("b"))).as("blo"),
      min(when(inHi, col("b"))).as("bhi"),
      lit(null).cast("long").as("bins")) ++
      (if (withMoments) Seq(lit(null).cast("long").as("nci"),
        lit(null).cast("long").as("s1l"),
        lit(null).cast(DecimalType(38, 0)).as("s1d"),
        lit(null).cast("long").as("s2hi"),
        lit(null).cast("long").as("s2lo"),
        lit(null).cast(DecimalType(38, 0)).as("s2d"),
        lit(null).cast("long").as("bmn"),
        lit(null).cast("long").as("bmx")) else Nil)
    val crossAggsHead = crossAggs.head
    val crossAggsTail = crossAggs.tail
    val crossings = cum.filter(col("b").isNotNull)
      .select(col("ci"), col("b"), col("lo"), col("cum"), col("n"),
        col("badci"), explode(probsArr).as("pp"))
      .withColumn("h", col("pp.p") * (col("n") - 1).cast("double"))
      .withColumn("r0", floor(col("h")).cast("long"))
      .filter(inLo || inHi)
      .groupBy(col("ci"), col("pp.pi").as("pi"))
      .agg(crossAggsHead, crossAggsTail: _*)
    // per-column summary row (pi = -1) so all-NaN columns — which have
    // only null-b bins and thus no crossings — still report badci; it
    // also carries the per-column bin count (= exact distinct count for
    // eligible columns) and, withMoments, the rolled-up moment slots.
    val summaryAggs = Seq(
      lit(-1).as("pi"), max("n").cast("double").as("h"),
      max("badci").as("badci"),
      lit(null).cast("long").as("blo"), lit(null).cast("long").as("bhi"),
      sum("nbins").as("bins")) ++
      (if (withMoments) Seq(max("n").as("nci"),
        sum("ps1l").as("s1l"), sum("ps1d").as("s1d"),
        sum("ps2hi").as("s2hi"), sum("ps2lo").as("s2lo"),
        sum("ps2d").as("s2d"),
        min("pmn").as("bmn"), max("pmx").as("bmx")) else Nil)
    val summary = offsetsFull.groupBy("ci")
      .agg(summaryAggs.head, summaryAggs.tail: _*)
    val rows =
      try crossings.unionByName(summary).collect()
      finally parts.queryExecution.analyzed.foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
        case _                                            => ()
      }
    val byCi = rows.groupBy(_.getInt(0))
    cols.zipWithIndex.map { case (c, i) =>
      val rs = byCi.getOrElse(i, Array.empty[org.apache.spark.sql.Row])
      val badci = rs.headOption.map(_.getLong(3)).getOrElse(0L)
      if (badci > 0)
        c -> NumFit(None, None, 0L, None, None, None, None, eligible = false)
      else {
        val sumRow = rs.find(_.getInt(1) == -1)
        val bins = sumRow.map(_.getLong(6)).getOrElse(0L)
        val byPi = rs.filter(_.getInt(1) >= 0).map(r => r.getInt(1) -> r).toMap
        val qs = probs.indices.map { pi =>
          byPi.get(pi) match {
            case None => Double.NaN // column had no non-null values
            case Some(r) =>
              val h = r.getDouble(2)
              val lo = r.getLong(4) / 100.0
              if (h == math.floor(h)) lo
              else {
                val hi = (if (r.isNullAt(5)) r.getLong(4) else r.getLong(5)) / 100.0
                interp(lo, hi, h - math.floor(h))
              }
          }
        }
        val n = if (withMoments)
          sumRow.filterNot(_.isNullAt(7)).map(_.getLong(7)).getOrElse(0L)
        else 0L
        if (!withMoments || n == 0)
          c -> NumFit(Some(qs), Some(bins), n, None, None, None, None,
            eligible = true)
        else {
          val r = sumRow.get
          def bdOf(idx: Int): java.math.BigDecimal =
            if (r.isNullAt(idx)) java.math.BigDecimal.ZERO else r.getDecimal(idx)
          def lOf(idx: Int): Long = if (r.isNullAt(idx)) 0L else r.getLong(idx)
          // s1FromParts / s2FromParts recombination, exact in BigDecimal,
          // then the meanFromMoments / stdFromMoments finalization orders
          // (including the decimalMomentsSafe double fallback) — the same
          // driver replica as [[numProfileViaDriverSort]]'s fitOne
          val s1 = java.math.BigDecimal.valueOf(lOf(8)).add(bdOf(9))
          val s2 = java.math.BigDecimal.valueOf(lOf(10))
            .multiply(java.math.BigDecimal.valueOf(4294967296L))
            .add(java.math.BigDecimal.valueOf(lOf(11))).add(bdOf(12))
          val mean = s1.doubleValue() / 100.0 / n
          val std =
            if (n < 2) None
            else if (math.abs(s1.doubleValue()) <= 9.0e18 &&
              s2.doubleValue() * n.toDouble <= 9.0e37) {
              val num = java.math.BigDecimal.valueOf(n)
                .multiply(s2).subtract(s1.multiply(s1)).doubleValue()
              Some(math.sqrt(math.max(0.0, num / n / (n - 1).toDouble / 10000.0)))
            } else {
              val s1dd = s1.doubleValue()
              Some(math.sqrt(math.max(0.0,
                (s2.doubleValue() - s1dd * s1dd / n.toDouble) / (n - 1).toDouble / 10000.0)))
            }
          // eligibility's decimal round-trip makes BigDecimal(b,2) →
          // double reproduce the source min/max bit-for-bit
          def rawOf(idx: Int): Option[Double] =
            if (r.isNullAt(idx)) None
            else Some(new java.math.BigDecimal(
              java.math.BigInteger.valueOf(r.getLong(idx)), 2).doubleValue())
          c -> NumFit(Some(qs), Some(bins), n, Some(mean), std,
            rawOf(13), rawOf(14), eligible = true)
        }
      }
    }.toMap
  }

  /** Above this row count, driver-side quantile fits (collect + sort)
    * stop being the cheap path (10⁷ rows × 8 B ≈ 80 MB/column) and
    * callers switch to an in-plan form — the shared ceiling for
    * `Profile.profile`, `RowTransforms.winsorize`/`robustScale`, V2's
    * `Privacy.generalizeEdges` and the perplexity tertiles. */
  val DriverFitMaxRows: Long = 10_000_000L

  /** Linear-interpolated quantile of an ALREADY-SORTED array — the same
    * h = p·(n−1) selection and [[interp]] formula as every other exact
    * quantile path (== DuckDB `quantile_cont`). NaN on empty input. */
  def quantileFromSorted(arr: Array[Double], p: Double): Double = {
    val n = arr.length
    if (n == 0) return Double.NaN
    val h = p * (n - 1)
    val i = math.floor(h).toInt
    if (h == math.floor(h)) arr(i) else interp(arr(i), arr(i + 1), h - math.floor(h))
  }

  /** The values of a few columns on the driver, from [[collectColumns]]:
    * the row count; per numeric column the UNsorted doubles and the
    * count of dropped non-finite values; per string column the category
    * histogram (SQL NULL under the null key, every histogram sums to
    * `rows`); and the string columns holding a key that is not valid
    * UTF-8. Such a column's histogram keys are lenient decodes (U+FFFD
    * for each malformed sequence) and byte-distinct keys that decode
    * alike share one summed entry, so a caller that must match the
    * stored bytes (V1's rare set) takes a byte-exact form instead. */
  final case class Columns(rows: Long,
                           nums: Map[String, (Array[Double], Long)],
                           cats: Map[String, Map[String, Long]],
                           invalidUtf8: Set[String]) {
    def values(c: String): Array[Double] = nums(c)._1
  }

  /** The one column collector behind every driver-side fit: V2's driver
    * sort, V4 synthesis, the fused protect fit, the a1 profile,
    * winsorize, robust-scale and the d3 drift tails. Every caller gates
    * it behind its own driver-fit ceiling ([[DriverFitMaxRows]],
    * `Profile.DriverSortMaxCells`, `Privacy.DriverFitMaxCells`,
    * `Drift.KsDriverMaxBytes`), so the columns it is asked for were
    * already bound for driver memory; the ceilings stay with the callers
    * because each bounds a different shape of fit.
    *
    * A pure parquet scan decodes DRIVER-side with no Spark job
    * ([[graft.io.DriverParquet.collectColumns]]). Anything else runs ONE
    * fused job over the internal rows (primitive builders, no encoder,
    * no boxing) with the identical contract:
    *  - numbers are cast to double and nulls dropped; non-finite values
    *    are dropped and counted, or with `keepNonFinite` kept (they are
    *    real sample points to the drift plans — NaN sorts last) with
    *    -0.0 normalized to 0.0 (grouping treats them equal);
    *  - category keys are counted per partition on their UTF8String
    *    bytes and merged by bytes on the driver, then decoded strictly
    *    as the driver decode does (see [[Columns]] for keys that are not
    *    valid UTF-8). */
  def collectColumns(df: org.apache.spark.sql.DataFrame, numCols: Seq[String],
                     catCols: Seq[String] = Nil,
                     keepNonFinite: Boolean = false): Columns = {
    graft.io.DriverParquet.collectColumns(df, numCols, catCols, keepNonFinite) match {
      case Some((rows, nums, cats)) => return Columns(rows, nums, cats, Set.empty)
      case None                     => ()
    }
    val kN = numCols.length
    val kC = catCols.length
    val proj = df.select(numCols.map(c => col(c).cast("double")) ++
      catCols.map(c => col(c).cast("string")): _*)
    val parts = proj.queryExecution.toRdd.mapPartitions { it =>
      val bufs = Array.fill(kN)(new scala.collection.mutable.ArrayBuilder.ofDouble)
      val dropped = new Array[Long](kN)
      // UTF8String-keyed with clone-on-first-insert: row buffers are
      // transient, but content hash/equals makes the un-cloned probe
      // safe — only the vocabulary pays an allocation, not every row
      val maps = Array.fill(kC)(
        new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Long]]())
      var rows = 0L
      it.foreach { r =>
        rows += 1
        var i = 0
        while (i < kN) {
          if (!r.isNullAt(i)) {
            val v = r.getDouble(i)
            if (keepNonFinite) bufs(i) += (if (v == 0.0) 0.0 else v)
            else if (!v.isNaN && !v.isInfinite) bufs(i) += v
            else dropped(i) += 1L
          }
          i += 1
        }
        var j = 0
        while (j < kC) {
          val key = if (r.isNullAt(kN + j)) null else r.getUTF8String(kN + j)
          val cnt = maps(j).get(key)
          if (cnt != null) cnt(0) += 1L
          else maps(j).put(if (key == null) null else key.clone(), Array(1L))
          j += 1
        }
      }
      val hists = maps.map { m =>
        val out = Array.newBuilder[(Array[Byte], Long)]
        m.forEach((k, v) => out += ((if (k == null) null else k.getBytes) -> v(0)))
        out.result()
      }
      Iterator.single((rows, bufs.map(_.result()), dropped, hists))
    }.collect()
    val nums = numCols.zipWithIndex.map { case (c, i) =>
      val slices = parts.map(_._2(i))
      val out = new Array[Double](slices.map(_.length).sum)
      var off = 0
      slices.foreach { p => System.arraycopy(p, 0, out, off, p.length); off += p.length }
      c -> (out, parts.map(_._3(i)).sum)
    }.toMap
    var invalid = Set.empty[String]
    val cats = catCols.zipWithIndex.map { case (c, j) =>
      val byBytes = new java.util.HashMap[java.nio.ByteBuffer, Array[Long]]()
      parts.foreach(_._4(j).foreach { case (k, n) =>
        val key = if (k == null) null else java.nio.ByteBuffer.wrap(k)
        val cnt = byBytes.get(key)
        if (cnt != null) cnt(0) += n else byBytes.put(key, Array(n))
      })
      val merged = scala.collection.mutable.HashMap.empty[String, Long]
      byBytes.forEach { (k, n) =>
        val key = if (k == null) null else {
          val bytes = k.array()
          graft.io.DriverParquet.strictUtf8(bytes).getOrElse {
            invalid += c
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          }
        }
        merged.update(key, merged.getOrElse(key, 0L) + n(0))
      }
      c -> merged.toMap
    }.toMap
    Columns(parts.map(_._1).sum, nums, cats, invalid)
  }

  /** Per-column fit of [[numProfileViaDriverSort]] and
    * [[numProfileViaCentsHistogram]]: everything the a1 profile needs for
    * a column, and the quantiles of [[quantiles]]. `eligible = false`
    * (NaN/±Inf dropped on the driver; not cents-eligible in the
    * histogram) means "use Spark's in-aggregate forms". A column with no
    * non-null value has `nUnique = Some(0)` and NaN quantiles. */
  final case class NumFit(quantiles: Option[Seq[Double]], nUnique: Option[Long],
                          n: Long, mean: Option[Double], std: Option[Double],
                          minV: Option[Double], maxV: Option[Double],
                          eligible: Boolean)

  /** Driver-side replica of the a1 wide aggregate's per-column numeric
    * stats over an already-collected finite array, BIT-IDENTICAL to the
    * distributed forms (the DuckDB-oracle requirement):
    *  - moments accumulate in the same hi/lo long + decimal side-sum
    *    split as [[momentPartsPre]] and finalize through the same
    *    decimal recombination and double op order as [[s1FromParts]]/
    *    [[s2FromParts]]/[[meanFromMoments]]/[[stdFromMoments]] —
    *    including the magnitude-guarded double fallback;
    *  - cents replicates the `cast(DECIMAL(18,2))·100` HALF_UP rounding
    *    (and faults loudly past precision 18, as the ANSI cast would);
    *  - min/max are the sorted array's ends (collected arrays are finite
    *    and -0.0-preserving; `Arrays.sort`'s -0.0 < 0.0 total order is
    *    Spark's min/max comparison order).
    * Why this exists (r11): at sf0.1-class inputs the profile's numeric
    * stats are the DRIVER branch's job anyway (≤ [[graft.ops.Profile]]'s
    * cell ceiling), and the separate distributed wide aggregate was two
    * more scans + ~10 AQE stage jobs of pure orchestration — measured
    * 2.5–3 s wall for 38 MB of data pandas handles in 0.7 s. One collect
    * now feeds quantiles AND moments; the distributed forms stay the
    * at-scale branch (and the fallback for non-finite columns).
    *
    * `withMoments = false` ([[quantiles]]' driver branch — V2 edges, PSI
    * edges, winsorize, the logprob tertiles) skips the cents/moment walk
    * entirely: those callers sort and interpolate ANY finite doubles with
    * no ≤2-decimal or magnitude precondition, and the cents replica both
    * faults past DECIMAL(18,2) (~|v| ≥ 10¹⁶ — epoch-nanos, wide ids) and
    * costs ~20× per full-precision value for moments they discard.
    * With moments on, a value outside the DECIMAL(18,2) domain degrades
    * gracefully: moments come back `None` (the caller falls back to its
    * in-agg forms, which define the faulting behavior) while quantiles,
    * distinct count and min/max — plain double work — stay usable. */
  def numProfileViaDriverSort(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      probs: Seq[Double], withMoments: Boolean = true): Map[String, NumFit] = {
    val arrays = collectColumns(df, cols).nums
    // per-COLUMN parallelism: each column's sort + cents + moment walk is
    // independent; sequential processing was the driver branch's serial
    // tail (~0.5 s over 8 × 600k cells at sf0.1)
    cols.map { c =>
      c -> java.util.concurrent.CompletableFuture.supplyAsync(() => fitOne(arrays(c), probs, withMoments))
    }.map { case (c, fut) => c -> fut.join() }.toMap
  }

  /** Largest |double| whose DECIMAL(18,2) cents form cannot overflow
    * precision 18: 16 integer digits + 2 decimals = 18. Doubles at 10¹⁶
    * are spaced by 2, so every double strictly below the bound rounds to
    * ≤ 18 digits of cents. */
  private val CentsSafeAbsMax = 1.0e16

  private def fitOne(colData: (Array[Double], Long), probs: Seq[Double],
                     withMoments: Boolean): NumFit = {
    val (arr, dropped) = colData
    if (dropped > 0)
      NumFit(None, None, 0L, None, None, None, None, eligible = false)
    else {
        // parallelSort: identical output to sort (total order on doubles,
        // NaN last), ForkJoin-parallel — the per-column sorts were the
        // serial tail of the driver quantile path (~40 ms × k columns)
        java.util.Arrays.parallelSort(arr)
        val n = arr.length
        var uniq = 0L
        var s1l = 0L; var s2hi = 0L; var s2lo = 0L
        var s1d = java.math.BigDecimal.ZERO
        var s2d = java.math.BigDecimal.ZERO
        // moment walk disengages on the first value past the cents
        // domain (the distributed cast would fault there; quantiles and
        // min/max remain plain double work and stay valid)
        var momentsOk = withMoments
        var i = 0
        while (i < n) {
          if (i == 0 || arr(i) != arr(i - 1)) uniq += 1
          if (momentsOk) {
            if (math.abs(arr(i)) >= CentsSafeAbsMax) momentsOk = false
            else {
              val cts = centsDriver(arr(i))
              if (math.abs(cts) <= LongSafeCentsAbsMax) {
                // long-safe by the same bound as [[HiLoSafeMaxRows]]: n here
                // is capped by the caller's driver-cell ceiling (≪ 2·10⁹)
                s1l += cts
                val sq = cts * cts // sq ≥ 0, so arithmetic >> equals Spark's shiftright
                s2hi += (sq >> 32)
                s2lo += (sq & 0xFFFFFFFFL)
              } else {
                val bd = java.math.BigDecimal.valueOf(cts)
                s1d = s1d.add(bd)
                s2d = s2d.add(bd.multiply(bd))
              }
            }
          }
          i += 1
        }
        val qs = probs.map(quantileFromSorted(arr, _))
        if (n == 0)
          NumFit(Some(qs), Some(0L), 0L, None, None, None, None, eligible = true)
        else if (!momentsOk)
          // quantile-only callers, or a column outside the cents domain:
          // moments None, order statistics valid
          NumFit(Some(qs), Some(uniq), n.toLong, None, None,
            Some(arr(0)), Some(arr(n - 1)), eligible = true)
        else {
          // s1FromParts / s2FromParts recombination, exact in BigDecimal
          val s1 = java.math.BigDecimal.valueOf(s1l).add(s1d)
          val s2 = java.math.BigDecimal.valueOf(s2hi)
            .multiply(java.math.BigDecimal.valueOf(4294967296L))
            .add(java.math.BigDecimal.valueOf(s2lo)).add(s2d)
          val mean = s1.doubleValue() / 100.0 / n // meanFromMoments op order
          val std =
            if (n < 2) None
            else if (math.abs(s1.doubleValue()) <= 9.0e18 &&
              s2.doubleValue() * n.toDouble <= 9.0e37) {
              // decimalMomentsSafe branch: exact n·S2 − S1², then the
              // same double division chain as stdFromMoments
              val num = java.math.BigDecimal.valueOf(n)
                .multiply(s2).subtract(s1.multiply(s1)).doubleValue()
              Some(math.sqrt(math.max(0.0, num / n / (n - 1).toDouble / 10000.0)))
            } else {
              // stdDouble fallback, same op order
              val s1dd = s1.doubleValue()
              Some(math.sqrt(math.max(0.0,
                (s2.doubleValue() - s1dd * s1dd / n.toDouble) / (n - 1).toDouble / 10000.0)))
            }
          NumFit(Some(qs), Some(uniq), n.toLong, Some(mean), std,
            Some(arr(0)), Some(arr(n - 1)), eligible = true)
        }
    }
  }

  /** Driver replica of [[cents]] on one finite double: double →
    * DECIMAL(18,2) HALF_UP → ×100 → long. `BigDecimal.valueOf` parses
    * `Double.toString`'s shortest representation — the same value
    * Spark's double→decimal cast constructs. Past precision 18 the ANSI
    * cast faults the distributed form; fault identically here. */
  private def centsDriver(v: Double): Long = {
    // Fast path, exact by round-trip proof: if r = rint(100·v) satisfies
    // r/100.0 == v, then v is the double nearest to the 2-decimal value
    // r/100, so its shortest representation has ≤ 2 decimals and the
    // HALF_UP setScale is the identity — cents = r. (Two distinct values
    // on the 0.01 grid below 10¹³ cannot share a nearest double, so r is
    // unique.) Values rejected here — 3+ decimals, huge magnitudes —
    // take the exact BigDecimal path, ~20× slower per value.
    val r = Math.rint(v * 100.0)
    if (math.abs(v) <= 1.0e13 && r / 100.0 == v) return r.toLong
    val bd = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    if (bd.precision > 18)
      throw new ArithmeticException(
        s"cents: $v does not fit DECIMAL(18,2) (the distributed cast faults here too)")
    bd.movePointRight(2).longValueExact()
  }

  // ---- Driver-side versions for fitted parameters (collected moments) ----

  def meanDouble(s1: java.math.BigDecimal, n: Long): Double =
    s1.doubleValue() / 100.0 / n

  def stdDouble(s1: java.math.BigDecimal, s2: java.math.BigDecimal, n: Long): Double = {
    if (n < 2) return Double.NaN
    val num = java.math.BigDecimal.valueOf(n).multiply(s2)
      .subtract(s1.multiply(s1)).doubleValue()
    math.sqrt(math.max(0.0, num / n / (n - 1) / 10000.0))
  }

  def stdPopDouble(s1: java.math.BigDecimal, s2: java.math.BigDecimal, n: Long): Double = {
    if (n < 1) return Double.NaN
    val num = java.math.BigDecimal.valueOf(n).multiply(s2)
      .subtract(s1.multiply(s1)).doubleValue()
    math.sqrt(math.max(0.0, num / n / n / 10000.0))
  }

  // ---- DuckDB SQL mirrors (same math, same op order, same types) ----

  /** SQL fragment: exact cents of column `c`. */
  def centsSql(c: String): String =
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"

  def s1Sql(c: String): String =
    s"CAST(SUM(CAST(${centsSql(c)} AS DECIMAL(19,0))) AS DECIMAL(19,0))"

  def s2Sql(c: String): String =
    s"CAST(SUM(CASE WHEN ABS(${centsSql(c)}) <= $LongSafeCentsAbsMax " +
      s"THEN CAST(${centsSql(c)} * ${centsSql(c)} AS DECIMAL(38,0)) " +
      s"ELSE CAST(${centsSql(c)} AS DECIMAL(19,0)) * CAST(${centsSql(c)} AS DECIMAL(19,0)) END) AS DECIMAL(38,0))"

  def meanSql(c: String): String =
    s"CAST(${s1Sql(c)} AS DOUBLE) / 100.0 / COUNT($c)"

  // The n-guards mirror std{,Pop}FromMoments: DuckDB's x/0 is NULL, but
  // GREATEST(0.0, NULL) IGNORES the null (both engines' greatest does),
  // silently turning an undefined std into 0.0 — FuzzSpec caught the
  // oracle reporting σ = 0 for an all-null column where pandas (and the
  // engine) say NaN/NULL.
  def stdSql(c: String): String =
    s"(CASE WHEN COUNT($c) >= 2 THEN SQRT(GREATEST(0.0, CAST(CAST(COUNT($c) AS DECIMAL(10,0)) * ${s2Sql(c)} - ${s1Sql(c)} * ${s1Sql(c)} AS DOUBLE) / COUNT($c) / (COUNT($c) - 1) / 10000.0)) END)"

  def stdPopSql(c: String): String =
    s"(CASE WHEN COUNT($c) >= 1 THEN SQRT(GREATEST(0.0, CAST(CAST(COUNT($c) AS DECIMAL(10,0)) * ${s2Sql(c)} - ${s1Sql(c)} * ${s1Sql(c)} AS DOUBLE) / COUNT($c) / COUNT($c) / 10000.0)) END)"
}

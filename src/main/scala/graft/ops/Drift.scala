package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Two-table statistical drift operators (SURVEY.md §2.4 D1–D3; reference
  * `modules/utility.py:92-123`).
  *
  * Determinism note: every metric here reduces doubles that were derived
  * from exact integer counts. D1's cumulative CDFs are pure Long
  * arithmetic (partition-invariant); D2's double term-sum runs through an
  * ORDERED running-sum window over the few categories, so its
  * floating-point addition order is fixed and identical to the oracle's.
  */
object Drift {

  /** D1 two-sample Kolmogorov–Smirnov statistic on a numeric column:
    * D = max over all sample points of |F₁(x) − F₂(x)|, the exact
    * `scipy.ks_2samp(...).statistic` semantics; null if either side has
    * fewer than 5 non-null rows (`modules/utility.py:95-96`).
    * Single-column convenience over [[ksStatisticMulti]]. */
  def ksStatistic(before: DataFrame, after: DataFrame, c: String,
                  buckets: Int = 32): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    ksStatisticMulti(before, after, Seq(c), buckets).toDF("column", "ks")
  }

  /** Fused (ci, v) side-tagged counts for ALL columns — one scan per side,
    * ONE histogram shuffle total. */
  private[graft] def ksCountsFrame(before: DataFrame, after: DataFrame,
                                   cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, ca: Long, cb: Long) = df
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("ci"), col(c).cast("double").as("v"))
      }: _*)).as("e"))
      .select(col("e.ci").as("ci"), col("e.v").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("ca", lit(ca)).withColumn("cb", lit(cb))
    side(before, 1L, 0L).union(side(after, 0L, 1L))
      .groupBy("ci", "v").agg(sum("ca").as("na"), sum("cb").as("nb"))
  }

  /** The scale-safe cumulative-CDF plan over a (ci, v, na, nb) histogram:
    * range-partition the distinct values, per-bucket cumulative counts
    * (window partitioned by bucket+ci) plus broadcast per-bucket prefix
    * offsets from a ≤`buckets`·|cols| aggregate. All cumulative arithmetic
    * is exact integer counts, so the result is bitwise-identical to a
    * global ordered window while every O(|distinct|) stage runs on all
    * cores — a continuous column at 100× scale (|distinct| ≈ n) stays
    * parallel end-to-end; the only single-partition window left touches
    * the tiny offsets frame. Returns (ci, ks). */
  private[graft] def ksFromCounts(counts: DataFrame, buckets: Int,
                                  roundTo: Option[Int]): DataFrame = {
    // localCheckpoint FREEZES the bucket ids: `parts` feeds two plan
    // branches (offsets and the cumulative join), and column pruning
    // makes their exchange subtrees non-identical, so ReuseExchange does
    // NOT dedup them — each branch would instantiate its OWN range
    // exchange whose partitioner samples split points seeded by RDD id,
    // and the two bucketings can disagree, silently misaligning every
    // prefix offset. Found by the r9 x16 oracle run: d3's multi-KS was
    // nondeterministic at exactly the scale where this path dispatches
    // (the driver path runs below 64 MB, so no smaller gate could see
    // it). The checkpointed frame is value-domain-sized, never the data.
    val parts = counts.repartitionByRange(buckets, col("ci"), col("v"))
      .withColumn("bucket", spark_partition_id())
      .localCheckpoint()
    val wPre = Window.partitionBy("ci").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCi = Window.partitionBy("ci")
    val offsets = parts.groupBy("bucket", "ci")
      .agg(sum("na").as("sa"), sum("nb").as("sb"))
      .withColumn("offa", coalesce(sum("sa").over(wPre), lit(0L)))
      .withColumn("offb", coalesce(sum("sb").over(wPre), lit(0L)))
      .withColumn("ta", sum("sa").over(wCi))
      .withColumn("tb", sum("sb").over(wCi))
      .select("bucket", "ci", "offa", "offb", "ta", "tb")
    val wCum = Window.partitionBy("bucket", "ci").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ks = max(when(col("ta") >= 5 && col("tb") >= 5,
      abs((col("pa") + col("offa")).cast("double") / col("ta") -
        (col("pb") + col("offb")).cast("double") / col("tb"))))
    parts
      .withColumn("pa", sum("na").over(wCum))
      .withColumn("pb", sum("nb").over(wCum))
      .join(broadcast(offsets), Seq("bucket", "ci"))
      .groupBy("ci")
      .agg(roundTo.fold(ks)(d => round(ks, d)).as("ks"))
  }

  /** Below this per-side optimizer size estimate the KS fit collects the
    * raw columns and merge-walks the CDFs on the driver (the computation
    * scipy itself performs); above it, the fused scale-safe histogram
    * plan ([[ksFromCounts]]) runs. Free to evaluate — plan statistics,
    * no job. The ceiling is a MEASURED crossover (r8 crossover
    * measurement, 7 lineitem columns, local[32]): at ~11 MB of stats
    * the driver merge-walk wins 1.0 s vs 2.8 s (Spark job floor), at
    * ~170 MB it loses 8.5 s vs
    * 4.0 s — the collect + single-threaded sorts are the r7 x16 tail
    * (ratio 13.8). 64 MB keeps the small-side win and dispatches the
    * value-domain work to the parallel bucketed plan before the driver
    * becomes the bottleneck; both paths are bit-identical. */
  private val KsDriverMaxBytes = BigInt(64L) << 20

  /** Both sides' optimizer size estimates are within [[KsDriverMaxBytes]]
    * — the driver-path test every dispatch in this object shares. */
  private def underDriverCeiling(before: DataFrame, after: DataFrame): Boolean =
    before.queryExecution.optimizedPlan.stats.sizeInBytes <= KsDriverMaxBytes &&
      after.queryExecution.optimizedPlan.stats.sizeInBytes <= KsDriverMaxBytes

  /** Ceiling for the PSI decile-edge fit, in RAW COLLECTED BYTES
    * (rows × fitted columns × 8), not scan-estimate bytes.
    * Deliberately NOT lowered to [[KsDriverMaxBytes]]' 64 MB: the r8
    * crossover rehearsal measured the transfer and it does NOT hold —
    * at x16 the cents-histogram edge fit is SLOWER than the driver
    * collect (d_drift_extended 8.7 → 11.1 s warm, d_psi 1.5 → 2.8 s),
    * because PSI consumes only `bins−1` edges from the fit (the
    * domain-shuffle buys nothing downstream), whereas KS consumes the
    * ENTIRE per-distinct-value CDF (the shuffle IS the computation).
    * But the driver path has a hard FAULT line, not just a slowdown: the
    * x64 rehearsal (r10) measured the fused collect at 38.4 M rows × 7
    * columns ≈ 2.0 GiB of serialized task results — the job is KILLED at
    * `spark.driver.maxResultSize` (1 GiB default), it never gets slow.
    * So the ceiling is now 60 % of the session's actual maxResultSize,
    * compared against the raw collected estimate (exact parquet-footer
    * row count when the fit input is a pure scan — no job); the 40 %
    * margin covers serialization overhead. x16 (9.6 M × 7 × 8 ≈ 512 MiB
    * < 614 MiB) keeps the measured driver-path win; x64 dispatches to
    * the bit-identical cents-histogram plan. A non-scan fit input (no
    * footer count) falls back to the optimizer byte estimate at the same
    * ceiling — compressed scan bytes under-estimate collected doubles,
    * but every catalog fit input is a scan, and the fallback still
    * bounds the regime where the estimate is trustworthy at all.
    * `maxResultSize = 0` means UNLIMITED to Spark, not zero — deriving
    * 60 % of it would yield a 0-byte ceiling that permanently disables
    * the measured-faster driver path exactly when the driver has no
    * result-size limit; that setting falls back to a fixed 8 GiB
    * ceiling (the pre-r10 constant, still far under any executor-side
    * collect that would make the driver sort competitive). */
  private def psiDriverFitMaxBytes(spark: org.apache.spark.sql.SparkSession): BigInt = {
    val maxResult = BigInt(spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g"))
    if (maxResult <= 0) BigInt(8L << 30) else maxResult * 6 / 10
  }

  /** Two-sample KS by merge-walking both sorted arrays — the exact
    * per-distinct-value CDF evaluation the plan path performs, with the
    * identical long→double divisions, so results are bit-equal. NaNs sort
    * last (java total order), matching Spark/DuckDB ascending order. */
  private def ksMerge(a: Array[Double], b: Array[Double]): Option[Double] = {
    val n = a.length; val m = b.length
    if (n < 5 || m < 5) return None
    java.util.Arrays.sort(a); java.util.Arrays.sort(b)
    var i = 0; var j = 0; var d = 0.0
    while (i < n || j < m) {
      val cmp =
        if (i >= n) 1
        else if (j >= m) -1
        else java.lang.Double.compare(a(i), b(j))
      if (cmp <= 0) { val v = a(i); while (i < n && java.lang.Double.compare(a(i), v) == 0) i += 1 }
      if (cmp >= 0) { val v = b(j); while (j < m && java.lang.Double.compare(b(j), v) == 0) j += 1 }
      val diff = math.abs(i.toDouble / n - j.toDouble / m)
      if (diff > d) d = diff
    }
    Some(d)
  }

  /** Spark's ROUND(double, s) exactly (RoundBase: shortest-representation
    * BigDecimal, HALF_UP) so driver-side results mirror plan-side ones. */
  private def roundLike(d: Double, s: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  /** KS for MANY columns in one fused job (same-shaped win as the
    * profile's fused quantiles: d3 at 8 numeric columns pays 2 scans
    * instead of 8×). Auto-dispatch mirrors the profile quantiles: below
    * [[KsDriverMaxBytes]] both sides collect in one scan each and the
    * driver merge-walks the CDFs (beats any shuffle at the Spark job
    * floor); above it the histogram is persisted across the range
    * partitioner's sampling pass and the two window consumers of the
    * scale-safe bucketed plan ([[ksFromCounts]]). Both produce
    * bit-identical statistics. None = a side under 5 non-null rows → SQL
    * null upstream. `roundTo` applies Spark-ROUND-equivalent rounding. */
  def ksStatisticMulti(before: DataFrame, after: DataFrame, cols: Seq[String],
                       buckets: Int = 32, roundTo: Option[Int] = None,
                       driverCollect: Option[Boolean] = None)
      : Seq[(String, Option[Double])] = {
    if (cols.isEmpty) return Seq.empty
    val useDriver = driverCollect.getOrElse(underDriverCeiling(before, after))
    if (useDriver) {
      // NaN/±Inf are kept: they are real sample points to the plan path
      // and the oracle (NaN sorts last); -0.0 normalizes to 0.0
      val aArr = Exact.collectColumns(before, cols, keepNonFinite = true)
      val bArr = Exact.collectColumns(after, cols, keepNonFinite = true)
      cols.map { c =>
        c -> ksMerge(aArr.values(c), bArr.values(c)).map(v => roundTo.fold(v)(roundLike(v, _)))
      }
    } else {
      val counts = ksCountsFrame(before, after, cols)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val byCi = ksFromCounts(counts, buckets, roundTo).collect()
          .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        cols.zipWithIndex.map { case (c, i) => c -> byCi.getOrElse(i, None) }
      } finally counts.unpersist(blocking = false)
    }
  }

  /** Drift panel — the three numeric drift lenses over one column pair
    * in ONE result: KS (max CDF gap — sensitive to any shape change),
    * PSI (binned population shift — the monitoring-industry standard),
    * and W₁ (earth mover — weighs HOW FAR mass moved). One metric alone
    * misleads: KS saturates on disjoint supports, PSI is blind within a
    * bin, W₁ under-reads thin-tail changes; the panel is what a drift
    * review actually wants. Composes the three existing operators — each
    * keeps its own scale-safe plan — and unions three 1-row frames. */
  def driftPanel(before: DataFrame, after: DataFrame, c: String): DataFrame = {
    // Fused driver dispatch (r15, guide §1.2 "remove passes"): composed,
    // the three operators collect/scan the two sides SEVEN times between
    // them (KS 2 collects, PSI 1 edge-fit collect + 2 binning scans, W₁
    // 2 collects) plus PSI/W₁'s shuffle machinery. Below the measured KS
    // driver ceiling, ONE collect per side feeds all three merge-walks —
    // each the bit-identical driver twin of its plan form (ksMerge,
    // psiMergeDriver, w1Merge; equality pinned by DriftSpec on both
    // paths). Non-finite samples fall back to the composed operators,
    // whose NaN/∞ ordering and range-gate semantics own those inputs.
    val useDriver = underDriverCeiling(before, after)
    if (useDriver) {
      val spark = before.sparkSession
      import spark.implicits._
      val a = Exact.collectColumns(before, Seq(c), keepNonFinite = true).values(c)
      val b = Exact.collectColumns(after, Seq(c), keepNonFinite = true).values(c)
      if (allFinite(a) && allFinite(b)) {
        java.util.Arrays.parallelSort(a)
        java.util.Arrays.parallelSort(b)
        val ks = ksMerge(a, b)
        val ps = psiMergeDriver(a, b, bins = 10, eps = 1e-6, roundTo = 6)
        // both sides empty ⇒ the composed panel has NO wasserstein row
        // (W₁'s grouped aggregate over an empty grid emits zero rows,
        // see wasserstein) — ks/psi still contribute their null rows
        val w1Rows =
          if (a.isEmpty && b.isEmpty) Nil
          else Seq(("wasserstein", w1Merge(a, b)))
        return (Seq(("ks", ks), ("psi", ps)) ++ w1Rows)
          .toDF("metric", "value").orderBy(col("metric"))
      }
    }
    val ks = ksStatistic(before, after, c)
      .select(lit("ks").as("metric"), col("ks").cast("double").as("value"))
    val ps = psi(before, after, c)
      .select(lit("psi").as("metric"), col("psi").cast("double").as("value"))
    val w1 = wasserstein(before, after, c)
      .select(lit("wasserstein").as("metric"), col("w1").cast("double").as("value"))
    ks.union(ps).union(w1).orderBy(col("metric"))
  }

  /** Driver PSI over two sorted finite arrays — the exact arithmetic of
    * [[psiFrame]]'s plan, op for op: edges are the before side's
    * interpolated `quantile_cont` deciles (the fitOne formula, then
    * `.distinct.sorted` like psiEdges); bin(v) = #{edges ≤ v} via binary
    * search (ties land exactly as the plan's `v >= e` fold, -0.0/0.0
    * included); proportions eps-floored per bin; terms summed in
    * ascending bin order (the plan's fixed-order cumulative window);
    * Spark-ROUND-equivalent rounding. Callers guarantee finiteness —
    * non-finite inputs stay on the composed plan path. */
  private def psiMergeDriver(aSorted: Array[Double], bSorted: Array[Double],
                             bins: Int, eps: Double, roundTo: Int): Option[Double] = {
    val ta = aSorted.length; val tb = bSorted.length
    if (ta == 0 || tb == 0) return None
    val probs = (1 until bins).map(_.toDouble / bins)
    val qs = probs.map { p =>
      val h = p * (ta - 1)
      val i = math.floor(h).toInt
      if (h == math.floor(h)) aSorted(i)
      else Exact.interp(aSorted(i), aSorted(i + 1), h - math.floor(h))
    }
    val edges = qs.distinct.sorted
    val nb = edges.size + 1
    def binCounts(arr: Array[Double], n: Int): Array[Long] = {
      // #(bin ≥ k+1) = n − (first index with arr(i) ≥ edges(k))
      val ge = edges.map { e =>
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid) < e) lo = mid + 1 else hi = mid
        }
        (n - lo).toLong
      }
      Array.tabulate(nb) { k =>
        val atLeastK = if (k == 0) n.toLong else ge(k - 1)
        val atLeastK1 = if (k == nb - 1) 0L else ge(k)
        atLeastK - atLeastK1
      }
    }
    val ca = binCounts(aSorted, ta)
    val cb = binCounts(bSorted, tb)
    var cum = 0.0
    var best = Double.NegativeInfinity
    var k = 0
    while (k < nb) {
      val pa = math.max(ca(k).toDouble / ta, eps)
      val pb = math.max(cb(k).toDouble / tb, eps)
      cum += (pa - pb) * math.log(pa / pb)
      if (cum > best) best = cum
      k += 1
    }
    Some(roundLike(best, roundTo))
  }

  /** A category key as its raw UTF-8 bytes, which is how the plan groups
    * and orders it. A String key would not do: the lenient decode maps
    * every invalid byte sequence to U+FFFD, merging keys the plan keeps
    * apart. */
  private type CatKey = scala.collection.immutable.ArraySeq.ofByte

  /** Spark's ascending STRING order (UTF8String binary compare =
    * unsigned byte-wise lexicographic) — the driver tails walk keys in
    * the plan window's order. */
  private val CatKeyOrdering: Ordering[CatKey] = (a: CatKey, b: CatKey) =>
    java.util.Arrays.compareUnsigned(a.unsafeArray, b.unsafeArray)

  /** Driver twin of [[psiFromSides]] over ALREADY-BINNED per-side counts
    * (the plan did the binning — this replaces only the tiny spine-join +
    * window + collect tail): dense spine 0..|edges| per column,
    * eps-floored proportions, terms summed in ascending bin order,
    * max-of-cumsum, Spark ROUND. Counts are exact longs, so values are
    * bit-identical to the plan tail (DriftSpec pins both). */
  private def psiCountsDriver(counts: Map[Int, Map[Int, (Long, Long)]],
                              edgesByCi: Map[Int, Seq[Double]], nCols: Int,
                              eps: Double, roundTo: Int): Map[Int, Option[Double]] =
    (0 until nCols).map { ci =>
      val byBin = counts.getOrElse(ci, Map.empty)
      val nb = edgesByCi(ci).size + 1
      var ta = 0L; var tb = 0L
      byBin.valuesIterator.foreach { case (a, b) => ta += a; tb += b }
      ci -> (if (ta <= 0 || tb <= 0) None
      else {
        var cum = 0.0
        var best = Double.NegativeInfinity
        var k = 0
        while (k < nb) {
          val (ca, cb) = byBin.getOrElse(k, (0L, 0L))
          val pa = math.max(ca.toDouble / ta.toDouble, eps)
          val pb = math.max(cb.toDouble / tb.toDouble, eps)
          cum += (pa - pb) * math.log(pa / pb)
          if (cum > best) best = cum
          k += 1
        }
        Some(roundLike(best, roundTo))
      })
    }.toMap

  /** Driver twin of [[jsFromSides]] over per-side category counts: union
    * of categories per column, totals, the 0·ln0-guarded JS term, cum-sum
    * in the plan window's byte-wise key order, max-of-cumsum (JS terms
    * can be NEGATIVE per category, so max ≠ last — replicated exactly).
    * UNrounded like the frame; callers apply the plan's round. */
  private def jsCountsDriver(counts: Map[Int, Map[CatKey, (Long, Long)]])
      : Map[Int, Option[Double]] =
    counts.map { case (ci, byK) =>
      var ta = 0L; var tb = 0L
      byK.valuesIterator.foreach { case (a, b) => ta += a; tb += b }
      ci -> (if (ta <= 0 || tb <= 0) None
      else {
        var cum = 0.0
        var best = Double.NegativeInfinity
        byK.keysIterator.toArray.sorted(CatKeyOrdering).foreach { k =>
          val (oa, ob) = byK(k)
          val p = oa.toDouble / ta.toDouble
          val q = ob.toDouble / tb.toDouble
          val m = (p + q) / 2.0
          val term = (if (oa > 0) p * math.log(p / m) * 0.5 else 0.0) +
            (if (ob > 0) q * math.log(q / m) * 0.5 else 0.0)
          cum += term
          if (cum > best) best = cum
        }
        Some(best)
      })
    }

  /** Driver twin of [[chi2Multi]]'s tail over per-side category counts —
    * the reference's Σ (oa−ob)²/(oa+ob+1e-9) in byte-wise key order,
    * max-of-cumsum, unrounded (the caller rounds like the plan). */
  private def chi2CountsDriver(counts: Map[Int, Map[CatKey, (Long, Long)]])
      : Map[Int, Option[Double]] =
    counts.map { case (ci, byK) =>
      var ta = 0L; var tb = 0L
      byK.valuesIterator.foreach { case (a, b) => ta += a; tb += b }
      ci -> (if (ta <= 0 || tb <= 0) None
      else {
        var cum = 0.0
        var best = Double.NegativeInfinity
        byK.keysIterator.toArray.sorted(CatKeyOrdering).foreach { k =>
          val (oa, ob) = byK(k)
          val d = (oa - ob).toDouble
          cum += d * d / ((oa + ob).toDouble + 1e-9)
          if (cum > best) best = cum
        }
        Some(best)
      })
    }

  /** Segmented drift — per-group two-sample KS: "WHICH segment drifted",
    * the question a whole-table statistic can't answer (a 2% global KS
    * can hide one segment at 40%). Reuses the scale-safe cumulative-CDF
    * machinery of [[ksFromCounts]] verbatim by mapping each group value
    * to a dense index: the (group, value) histogram shuffles the VALUE
    * DOMAIN per group, cumulative counts stay exact integers, and every
    * stage parallelizes across (group, bucket) — no per-group job loop,
    * ONE plan for all segments. Groups are assumed dimension-like; the
    * spine collect is CAPPED at `maxGroups` (limit-bounded — the driver
    * never holds more than maxGroups+1 rows even when the cap trips) and
    * a higher-cardinality group column fails loudly with the remedy,
    * like every other driver-side fit in this engine. A group missing
    * the ≥5-row floor on either side reports null, and a group with no
    * non-null values appears in the spine with null — absence is
    * reported, not dropped. The group→index mapping is a BROADCAST JOIN
    * on the spine (codegen, no Scala UDF in the per-row path); a group
    * unseen at spine-fit time (possible only when the input is
    * nondeterministic between passes, e.g. a sampled upstream) drops in
    * the inner join rather than aborting the job. */
  def ksByGroup(before: DataFrame, after: DataFrame, c: String,
                groupCol: String, buckets: Int = 32,
                roundTo: Option[Int] = None,
                maxGroups: Int = 100000): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    val gKey = coalesce(col(groupCol).cast("string"), lit("NA"))
    val capped: Array[String] = before.select(gKey.as("g"))
      .union(after.select(gKey.as("g")))
      .distinct().limit(maxGroups + 1).collect().map(_.getString(0))
    require(capped.length <= maxGroups,
      s"ksByGroup: group column '$groupCol' has more than $maxGroups distinct " +
        "values — the per-group spine would be driver-sized. Bucket or " +
        "pre-aggregate the group column, or raise maxGroups deliberately.")
    val groups: Seq[String] = capped.sorted.toSeq
    if (groups.isEmpty)
      return Seq.empty[(String, Option[Double])].toDF("grp", "ks")
    val spine = groups.zipWithIndex.toDF("g", "ci")
    def side(df: DataFrame, ca: Long, cb: Long) = df
      .select(gKey.as("g"), col(c).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("ca", lit(ca)).withColumn("cb", lit(cb))
    val counts = side(before, 1L, 0L).union(side(after, 0L, 1L))
      .groupBy("g", "v").agg(sum("ca").as("na"), sum("cb").as("nb"))
      .join(broadcast(spine), Seq("g"))
      .select("ci", "v", "na", "nb")
    val perIdx = ksFromCounts(counts, buckets, roundTo)
    spine.select(col("g").as("grp"), col("ci"))
      .join(perIdx, Seq("ci"), "left_outer")
      .select(col("grp"), col("ks"))
      .orderBy(col("grp"))
  }

  /** D2 chi-square-LIKE categorical drift — NOT Pearson χ²: the reference's
    * own formula Σ (o_a − o_b)² / (o_a + o_b + 1e-9) over the union of
    * categories, raw counts, nulls bucketed as "NA"
    * (`modules/utility.py:99-110`, formula preserved verbatim incl. the
    * 1e-9). Null when either side is empty.
    *
    * The category-term sum runs through an ordered cumulative window so
    * double addition order is fixed (categories are few — this is a
    * driver-sized frame after the two grouped counts).
    */
  def chi2Drift(before: DataFrame, after: DataFrame, c: String): DataFrame = {
    def counted(df: DataFrame, out: String) =
      df.select(coalesce(col(c).cast("string"), lit("NA")).as("k"))
        .groupBy("k").agg(count(lit(1)).as(out))
    val j = counted(before, "oa").join(counted(after, "ob"), Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("oa"), lit(0L)).as("oa"),
        coalesce(col("ob"), lit(0L)).as("ob"))
    val term = (col("oa") - col("ob")).cast("double") * (col("oa") - col("ob")) /
      ((col("oa") + col("ob")).cast("double") + 1e-9)
    val wCum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    j.withColumn("cum", sum(term).over(wCum))
      .withColumn("ta", sum("oa").over(wAll))
      .withColumn("tb", sum("ob").over(wAll))
      .agg(max(when(col("ta") > 0 && col("tb") > 0, col("cum"))).as("chi2_like"))
      .withColumn("column", lit(c))
      .select(col("column"), col("chi2_like"))
  }

  /** [[chi2Drift]] for MANY columns in one fused pair of scans: explode
    * (ci, category) per row, count per side, full-outer join per (ci, k),
    * then the ordered term-sum window PARTITIONED BY ci — the same fixed
    * per-column addition order as the single form, all columns in
    * parallel. Returns (ci, chi2_like); a ci absent from both sides
    * (globally empty inputs) is absent from the result.
    *
    * Scale bound: each column's term sum is one window task over its
    * |categories| — the deliberate trade for a FIXED double addition
    * order (unordered partials would make the 6-dp-rounded metric
    * nondeterministic across reruns). χ²-like drift is a
    * categorical-domain metric: vocabularies are bounded by design, and
    * an id-like string column is degenerate for it (every count 1)
    * whatever the plan shape. */
  /** The fused (ci, category) count side — shared by [[chi2Multi]],
    * [[jsMulti]] and the driver-tail collects. */
  private def catSideCounts(df: DataFrame, cols: Seq[String], out: String): DataFrame = df
    .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("ci"), coalesce(col(c).cast("string"), lit("NA")).as("k"))
    }: _*)).as("e"))
    .groupBy(col("e.ci").as("ci"), col("e.k").as("k"))
    .agg(count(lit(1)).as(out))

  /** Collect two (ci, k, count) side frames concurrently and merge into
    * the per-column category-count maps the driver tails consume. Keys
    * come back as binary (see [[CatKey]]). */
  private def collectCatSides(before: DataFrame, after: DataFrame,
                              cols: Seq[String]): Map[Int, Map[CatKey, (Long, Long)]] = {
    def side(df: DataFrame) =
      catSideCounts(df, cols, "n").select(col("ci"), col("k").cast("binary"), col("n"))
    val (bRows, aRows) = Par.both(side(before).collect(), side(after).collect())
    import scala.collection.mutable
    val m = mutable.Map.empty[Int, mutable.Map[CatKey, (Long, Long)]]
    def merge(rows: Array[org.apache.spark.sql.Row], isBefore: Boolean): Unit =
      rows.foreach { r =>
        val byK = m.getOrElseUpdate(r.getInt(0), mutable.Map.empty)
        val k = new CatKey(r.getAs[Array[Byte]](1))
        val (a, b) = byK.getOrElse(k, (0L, 0L))
        byK(k) = if (isBefore) (a + r.getLong(2), b) else (a, b + r.getLong(2))
      }
    merge(bRows, isBefore = true)
    merge(aRows, isBefore = false)
    m.view.mapValues(_.toMap).toMap
  }

  private[graft] def chi2Multi(before: DataFrame, after: DataFrame,
                               cols: Seq[String]): DataFrame = {
    def counted(df: DataFrame, out: String) = catSideCounts(df, cols, out)
    val j = counted(before, "oa").join(counted(after, "ob"), Seq("ci", "k"), "full_outer")
      .select(col("ci"), col("k"),
        coalesce(col("oa"), lit(0L)).as("oa"),
        coalesce(col("ob"), lit(0L)).as("ob"))
    val term = (col("oa") - col("ob")).cast("double") * (col("oa") - col("ob")) /
      ((col("oa") + col("ob")).cast("double") + 1e-9)
    val wCum = Window.partitionBy("ci").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCi = Window.partitionBy("ci")
    j.withColumn("cum", sum(term).over(wCum))
      .withColumn("ta", sum("oa").over(wCi))
      .withColumn("tb", sum("ob").over(wCi))
      .groupBy("ci")
      .agg(max(when(col("ta") > 0 && col("tb") > 0, col("cum"))).as("chi2_like"))
  }

  /** Population Stability Index on a numeric column — the model-monitoring
    * companion to D1/D2 (industry-standard binned drift score; no reference
    * counterpart, extension scope). Bin edges are the EXACT `bins`-quantiles
    * of the BEFORE side (deduplicated, interpolated `percentile` — same
    * cross-engine-exact semantics as V2's qcut edges); every non-null value
    * lands in bin = #{edges e : v ≥ e}. PSI = Σ over bins of
    * (pa − pb)·ln(pa/pb) with each side's bin proportion floored at `eps`
    * (the standard guard for empty bins). Null when either side has no
    * non-null rows.
    *
    * Scale shape: edges come from one before-side aggregate (the same
    * collected-literal pattern as generalization — edges are O(bins), never
    * data-sized); binning is a literal when-chain inside each side's single
    * scan, so the per-side shuffle carries ≤ bins+1 rows. The term sum runs
    * through an ordered cumulative window over the tiny bin frame — fixed
    * double addition order (D2's determinism trick), rounded to
    * `roundTo` dp. */
  def psi(before: DataFrame, after: DataFrame, c: String, bins: Int = 10,
          eps: Double = 1e-6, roundTo: Int = 6): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    psiMulti(before, after, Seq(c), bins, eps, roundTo).toDF("column", "psi")
  }

  /** 1-Wasserstein (earth-mover) distance between the two sides'
    * empirical distributions of `c` — the drift metric that weighs HOW
    * FAR probability mass moved, complementing KS (max CDF gap, blind to
    * distance) and PSI (binned, blind within a bin):
    * W₁ = Σᵢ |F₁(vᵢ) − F₂(vᵢ)| · (vᵢ₊₁ − vᵢ) over the merged
    * distinct-value grid — `scipy.stats.wasserstein_distance` semantics.
    *
    * Exactness: cumulative counts are integers, and the segment factor
    * |cum₁·t₂ − cum₂·t₁| is computed in DOUBLE — exact (bit-identical to
    * integer arithmetic in any engine) while the products sit below 2⁵³,
    * i.e. per-side n ≲ 9·10⁷; past that it rounds at relative 1e-16 —
    * noise far below the metric's meaning. (Long products would be exact
    * slightly further but hard-fault on ANSI overflow past ~3·10⁹ rows
    * per side; double arithmetic never faults.) Segment widths are
    * likewise computed in DOUBLE (`nxt − v` over the exact sample
    * doubles — identical bits in any engine reading the same values),
    * NOT quantized to a decimal grid: an earlier cents (DECIMAL(18,2))
    * width policy silently rounded sub-cent gaps to zero, under-reading
    * W₁ on ratio/probability-scaled columns — a money-only assumption
    * this general API must not make.
    * The final Σterm is ORDER-FREE and bit-deterministic, not merely
    * tolerance-close: each per-segment term is normalized
    * (num/tₐ/t_b·width — a fixed chain of correctly-rounded IEEE ops,
    * identical bits in any engine reading the same doubles), scaled by
    * exactly 2⁶² (a pure exponent shift), floored to an integer, and
    * summed in DECIMAL(38,0) — exact integer addition in ANY order. A
    * 583k-term sum at x16 previously drifted at the last ulp between
    * Spark's shuffle order and the oracle's scan order; the quantized
    * sum is bit-identical in both. Cost: ≤ m·2⁻⁶² absolute (~1e-13 at
    * 583k distinct values, ~2e-7 at 10¹² — far below the metric's
    * meaning), and the integer path engages only when the value range
    * ≤ 10¹⁵ (keeps Σq ≲ 4.6·10³³, never near the DECIMAL(38) or
    * HUGEINT ceiling); wider/NaN/infinite ranges fall back to the
    * plain double sum, which is then the honest ±n·ε answer.
    *
    * Scale shape mirrors [[ksFromCounts]]: range-partition the distinct
    * grid, per-bucket cumulative windows, broadcast per-bucket prefix
    * offsets, and the cross-bucket LEAD stitched through each bucket's
    * min(v) carried on the (≤`buckets`-row) offsets frame — no
    * global-ordered window ever touches the O(|distinct|) frame. */
  /** Driver merge-walk W₁ — the exact per-segment arithmetic of the
    * bucketed plan below, op for op (same IEEE double chain
    * num/ta/tb·width·2⁶², same two-level floor, exact integer
    * accumulation, same range≤10¹⁵ dispatch back to the plain double
    * sum, NaN sorting last like Spark/DuckDB ascending order), so the
    * two paths are bit-identical — the ksMerge precedent. The legacy
    * (range-gate-failed) double sum runs in ascending grid order here;
    * the plan's shuffle-order sum is only reachable on non-finite or
    * >10¹⁵-wide domains where both engines already own the ±n·ε answer. */
  private def w1Merge(a: Array[Double], b: Array[Double]): Option[Double] = {
    val na = a.length; val nb = b.length
    if (na == 0 || nb == 0) return None
    java.util.Arrays.sort(a); java.util.Arrays.sort(b)
    val vmin = if (java.lang.Double.compare(a(0), b(0)) <= 0) a(0) else b(0)
    val vmax = if (java.lang.Double.compare(a(na - 1), b(nb - 1)) >= 0) a(na - 1)
               else b(nb - 1)
    val rangeOk = (vmax - vmin) <= 1e15 // NaN/∞ compare false, like the plan
    val taD = na.toDouble; val tbD = nb.toDouble
    val two62 = 4.611686018427387904e18
    var sq = java.math.BigInteger.ZERO
    var s = 0.0
    var i = 0; var j = 0
    while (i < na || j < nb) {
      val cmp =
        if (i >= na) 1 else if (j >= nb) -1
        else java.lang.Double.compare(a(i), b(j))
      val v = if (cmp <= 0) a(i) else b(j)
      if (cmp <= 0) while (i < na && java.lang.Double.compare(a(i), v) == 0) i += 1
      if (cmp >= 0) while (j < nb && java.lang.Double.compare(b(j), v) == 0) j += 1
      // width to the next merged grid value; 0.0 on the last row
      // (coalesce(lead(v) − v, 0) in the plan)
      val width =
        if (i >= na && j >= nb) 0.0
        else {
          val nxt =
            if (i >= na) b(j) else if (j >= nb) a(i)
            else if (java.lang.Double.compare(a(i), b(j)) <= 0) a(i) else b(j)
          nxt - v
        }
      // cumulative counts ARE the consumed prefix lengths
      val num = math.abs(i.toDouble * tbD - j.toDouble * taD)
      if (rangeOk) {
        val t4 = num / taD / tbD * width * two62
        if (t4 < 8.6e37) {
          if (t4 < 4.503599627370496e15)
            sq = sq.add(java.math.BigInteger.valueOf(math.floor(t4).toLong))
          else
            sq = sq.add(java.math.BigDecimal.valueOf(t4)
              .setScale(0, java.math.RoundingMode.HALF_UP).toBigInteger)
        }
      } else s += num * width
    }
    Some(
      if (rangeOk) new java.math.BigDecimal(sq).doubleValue() / two62
      else s / taD / tbD)
  }

  def wasserstein(before: DataFrame, after: DataFrame, c: String,
                  buckets: Int = 32,
                  driverCollect: Option[Boolean] = None): DataFrame = {
    // Auto-dispatch (the ksStatisticMulti shape, same measured ceiling):
    // below the per-side plan-stats ceiling both sides collect in one
    // narrow scan each (parquet-footer driver decode when the input is a
    // pure scan) and the driver merge-walks the grid — the whole
    // histogram shuffle + range partition + checkpoint + two window
    // stages collapse into one pass over two sorted arrays, bit-identical
    // output (W1DispatchSpec pins equality on both sides of the range
    // gate). Above the ceiling the scale-safe bucketed plan below runs
    // unchanged; `driverCollect` is the spec's override, like
    // ksStatisticMulti's.
    val useDriver = driverCollect.getOrElse(underDriverCeiling(before, after))
    if (useDriver) {
      val spark = before.sparkSession
      import spark.implicits._
      val aArr = Exact.collectColumns(before, Seq(c), keepNonFinite = true).values(c)
      val bArr = Exact.collectColumns(after, Seq(c), keepNonFinite = true).values(c)
      // BOTH sides without a single non-null value ⇒ the plan's grouped
      // aggregate runs over an EMPTY merged grid and emits ZERO rows
      // (grouping keys, not a global agg) — replicate exactly, or the
      // driver path invents a null row the oracle doesn't have (caught
      // by the r15 differential fuzz, seed 1: an all-null column)
      if (aArr.isEmpty && bArr.isEmpty)
        return Seq.empty[(String, Option[Double])].toDF("column", "w1")
      return Seq((c, w1Merge(aArr, bArr))).toDF("column", "w1")
    }
    val counts = ksCountsFrame(before, after, Seq(c))
    // localCheckpoint freezes bucket ids — the two consumers (offsets,
    // cumulative join) must see ONE range partitioning; see the
    // ksFromCounts note (same x16-found defect class)
    val parts = counts.repartitionByRange(buckets, col("v"))
      .withColumn("bucket", spark_partition_id())
      .localCheckpoint()
    val wPre = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = parts.groupBy("bucket")
      .agg(sum("na").as("sa"), sum("nb").as("sb"),
        min("v").as("vmin"), max("v").as("vmaxb"))
      .withColumn("offa", coalesce(sum("sa").over(wPre), lit(0L)))
      .withColumn("offb", coalesce(sum("sb").over(wPre), lit(0L)))
      .withColumn("ta", sum("sa").over(wTot))
      .withColumn("tb", sum("sb").over(wTot))
      // deterministic-sum dispatch: value range ≤ 10¹⁵ bounds Σq below
      // any integer-accumulator ceiling; NaN/∞ ranges compare false on
      // both engines (NaN sorts greatest in Spark AND DuckDB) → legacy
      .withColumn("range_ok",
        (max("vmaxb").over(wTot) - min("vmin").over(wTot)) <= lit(1e15))
      .withColumn("next_vmin", lead("vmin", 1).over(Window.orderBy("bucket")))
      .select("bucket", "offa", "offb", "ta", "tb", "range_ok", "next_vmin")
    val wCum = Window.partitionBy("bucket").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy("bucket").orderBy("v")
    val nxt = coalesce(lead(col("v"), 1).over(wLead), col("next_vmin"))
    val width = coalesce(nxt - col("v"), lit(0.0))
    // cum·t products in DOUBLE, not Long: the cumulative counts and the
    // totals are each ~n, so a Long product hard-faults (ANSI overflow)
    // past ~3·10⁹ rows per side — double arithmetic is bit-identical to
    // the Long form while products sit below 2⁵³ (per-side n ≲ 9·10⁷,
    // every fixture) and degrades to relative-1e-16 rounding beyond,
    // never a fault.
    val num = abs((col("pa") + col("offa")).cast("double") * col("tb") -
      (col("pb") + col("offb")).cast("double") * col("ta"))
    // Bit-deterministic quantized term (see the exactness note above):
    // t4 = num/ta/tb·width·2⁶² — every step a correctly-rounded IEEE op
    // over identical inputs in any engine — floored to an exact integer.
    // floor(double) yields Long in Spark (ANSI-faults past 2⁶³), so the
    // floor is two-level: below 2⁵² use floor; at/above 2⁵² the double
    // IS integer-valued, so a straight decimal cast is exact in both
    // engines with no round-half ambiguity. The 8.6e37 belt keeps any
    // pathological row below the DECIMAL(38,0) cast ceiling (the range
    // gate already bounds legit rows ≲4.6e33). The ta/tb>0 guard sits
    // INSIDE a CaseWhen branch — Spark 4 ANSI faults double-div-by-zero
    // and And() does not short-circuit under codegen.
    val two62 = lit(4.611686018427387904e18) // 2^62, exact
    val t4 = when(col("range_ok") && col("ta") > 0 && col("tb") > 0,
      num / col("ta").cast("double") / col("tb").cast("double")
        * width * two62).otherwise(lit(0.0))
    val qd = DecimalType(38, 0)
    val q = when(t4 < lit(8.6e37),
      when(t4 < lit(4.503599627370496e15), floor(t4).cast(qd))
        .otherwise(t4.cast(qd)))
      .otherwise(lit(0L).cast(qd))
    parts
      .withColumn("pa", sum("na").over(wCum))
      .withColumn("pb", sum("nb").over(wCum))
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("ta"), col("tb"), col("range_ok"),
        (num * width).as("term"), q.as("q"))
      .groupBy("ta", "tb", "range_ok")
      .agg(sum(col("term")).as("s"), sum(col("q")).as("sq"))
      .select(lit(c).as("column"),
        when(col("ta") > 0 && col("tb") > 0,
          when(col("range_ok"), col("sq").cast("double") / two62)
            .otherwise(col("s") / col("ta") / col("tb")))
          .as("w1"))
  }

  /** [[psi]] for MANY columns in two fused scans per side (the
    * ksStatisticMulti shape): ONE before-side aggregate fits every
    * column's decile edges, then each side explodes (ci, bin) pairs into a
    * single grouped count — the shuffle carries ≤ Σ(binsᵢ+1) rows however
    * many columns ride along. Bin frames, totals, and the ordered term
    * sums all run per-ci in parallel. Returns (column → Some(psi)), None
    * when a side has no non-null rows. */
  def psiMulti(before: DataFrame, after: DataFrame, cols: Seq[String],
               bins: Int = 10, eps: Double = 1e-6, roundTo: Int = 6,
               driverCollect: Option[Boolean] = None)
      : Seq[(String, Option[Double])] = {
    if (cols.isEmpty) return Seq.empty
    // Driver dispatch (r15, the ksStatisticMulti shape): below the KS
    // ceiling the edge fit was ALREADY a driver sort (psiEdges) — but the
    // binning still paid two fused scans plus the spine/window plan. One
    // collect per side now feeds edges AND bins via [[psiMergeDriver]],
    // bit-identical (DriftSpec pins both paths). Any non-finite value
    // anywhere falls back to the composed plan, whose in-agg percentile
    // fallback owns non-finite ordering.
    val useDriver = driverCollect.getOrElse(underDriverCeiling(before, after))
    if (useDriver) {
      val aM = Exact.collectColumns(before, cols, keepNonFinite = true)
      val bM = Exact.collectColumns(after, cols, keepNonFinite = true)
      if (cols.forall(c => allFinite(aM.values(c)) && allFinite(bM.values(c)))) {
        return cols.map { c =>
          val a = aM.values(c); val b = bM.values(c)
          java.util.Arrays.parallelSort(a)
          java.util.Arrays.parallelSort(b)
          c -> psiMergeDriver(a, b, bins, eps, roundTo)
        }
      }
    }
    val byCi = psiFrame(before, after, cols, bins, eps, roundTo).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    cols.zipWithIndex.map { case (c, i) => c -> byCi.getOrElse(i, None) }
  }

  private def allFinite(x: Array[Double]): Boolean = {
    var i = 0
    while (i < x.length) {
      if (x(i).isNaN || x(i).isInfinite) return false
      i += 1
    }
    true
  }

  /** Decile-edge fit for PSI through [[Exact.quantiles]]: the driver
    * sort below the size ceiling (the in-agg `percentile` buffers EVERY
    * value per column inside one aggregation hash map — ~7 s for 7
    * lineitem columns at sf0.1, vs ~0.4 s collected), the cents histogram
    * above it, `percentile` for a column neither certifies. An all-null
    * column, or one whose edges hold NaN, gets no edges. */
  private def psiEdges(before: DataFrame, cols: Seq[String],
                       bins: Int): Map[Int, Seq[Double]] = {
    val probs = (1 until bins).map(_.toDouble / bins)
    val cap = psiDriverFitMaxBytes(before.sparkSession)
    val driverOk =
      graft.io.ScanStats.parquetScanRowCount(before) match {
        case Some(rows) => BigInt(rows) * cols.length * 8 <= cap
        case None => before.queryExecution.optimizedPlan.stats.sizeInBytes <= cap
      }
    val fits = Exact.quantiles(before, cols, probs, driverOk)
    cols.zipWithIndex.map { case (c, i) =>
      val qs = fits(c).getOrElse(Seq.empty)
      i -> (if (qs.exists(_.isNaN)) Seq.empty else qs.distinct.sorted)
    }.toMap
  }

  private def binIdx(c: Column, edges: Seq[Double]): Column =
    edges.foldLeft(lit(0))((acc, e) =>
      acc + when(c.cast("double") >= lit(e), 1).otherwise(0))

  /** The PSI tail over PRE-GROUPED per-side (ci, bin, count) frames:
    * dense bin spine, totals, eps-floored ordered term sum. */
  private def psiFromSides(beforeCounts: DataFrame, afterCounts: DataFrame,
                           edgesByCi: Map[Int, Seq[Double]], nCols: Int,
                           eps: Double, roundTo: Int)
                          (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val allBins = (0 until nCols)
      .flatMap(i => (0 to edgesByCi(i).size).map(b => (i, b)))
      .toDF("ci", "bin")
    val wCi = Window.partitionBy("ci")
    val wCum = Window.partitionBy("ci").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val j = allBins
      .join(beforeCounts, Seq("ci", "bin"), "left")
      .join(afterCounts, Seq("ci", "bin"), "left")
      .select(col("ci"), col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .withColumn("ta", sum("ca").over(wCi))
      .withColumn("tb", sum("cb").over(wCi))
    // nullif keeps the empty-side case ANSI-safe: a zero total divides to
    // null, greatest skips it to the eps floor, and the ta/tb guard below
    // nulls the whole result anyway
    val pa = greatest(col("ca").cast("double") / nullif(col("ta"), lit(0L)), lit(eps))
    val pb = greatest(col("cb").cast("double") / nullif(col("tb"), lit(0L)), lit(eps))
    val term = (pa - pb) * log(pa / pb)
    j.withColumn("cum", sum(term).over(wCum))
      .groupBy("ci")
      .agg(round(max(when(col("ta") > 0 && col("tb") > 0, col("cum"))), roundTo).as("psi"))
  }

  /** The distributed (ci, psi) plan behind [[psiMulti]] — exposed so the
    * plan-shape guards can assert on the real executed stages (the public
    * forms collect the driver-sized result into a local frame). */
  private[graft] def psiFrame(before: DataFrame, after: DataFrame,
                              cols: Seq[String], bins: Int, eps: Double,
                              roundTo: Int): DataFrame = {
    implicit val spark: SparkSession = before.sparkSession
    val edgesByCi = psiEdges(before, cols, bins)
    def side(df: DataFrame, out: String) = df
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("ci"),
          when(col(c).isNotNull, binIdx(col(c), edgesByCi(i))).as("bin"))
      }: _*)).as("e"))
      .filter(col("e.bin").isNotNull)
      .groupBy(col("e.ci").as("ci"), col("e.bin").as("bin"))
      .agg(count(lit(1)).as(out))
    psiFromSides(side(before, "ca"), side(after, "cb"),
      edgesByCi, cols.length, eps, roundTo)
  }

  /** Jensen–Shannon divergence (nats) between the category distributions
    * of a column on two tables — the bounded, symmetric alternative to the
    * reference's cardinality-sensitive chi²-like score (extension scope;
    * JS ∈ [0, ln 2]). Nulls bucket as "NA" like D2. Null when either side
    * is empty.
    *
    * Same plan skeleton as [[chi2Drift]]: two grouped counts, full-outer
    * join on category, ordered term-sum window over the (few) categories
    * for a fixed double addition order, rounded to `roundTo` dp. Zero-count
    * categories contribute only through the opposite side's m-term, per the
    * 0·ln 0 = 0 convention. */
  def jsDivergence(before: DataFrame, after: DataFrame, c: String,
                   roundTo: Int = 6): DataFrame = {
    def counted(df: DataFrame, out: String) =
      df.select(coalesce(col(c).cast("string"), lit("NA")).as("k"))
        .groupBy("k").agg(count(lit(1)).as(out))
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val j = counted(before, "oa").join(counted(after, "ob"), Seq("k"), "full_outer")
      .select(col("k"),
        coalesce(col("oa"), lit(0L)).as("oa"),
        coalesce(col("ob"), lit(0L)).as("ob"))
      .withColumn("ta", sum("oa").over(wAll))
      .withColumn("tb", sum("ob").over(wAll))
    // nullif → null proportions when a side is empty; every downstream
    // term then nulls out and the ta/tb guard below owns the result
    val p = col("oa").cast("double") / nullif(col("ta"), lit(0L))
    val q = col("ob").cast("double") / nullif(col("tb"), lit(0L))
    val m = (p + q) / 2.0
    val term =
      when(col("oa") > 0, p * log(p / m) * 0.5).otherwise(0.0) +
        when(col("ob") > 0, q * log(q / m) * 0.5).otherwise(0.0)
    j.withColumn("cum", sum(term).over(wCum))
      .agg(round(max(when(col("ta") > 0 && col("tb") > 0, col("cum"))), roundTo).as("js"))
      .select(lit(c).as("column"), col("js"))
  }

  /** [[jsDivergence]] for MANY columns in one fused pair of scans — the
    * chi2Multi skeleton with the JS term. Returns (ci, js). */
  /** The JS tail over PRE-GROUPED per-side (ci, k, count) frames. */
  private def jsFromSides(a: DataFrame, b: DataFrame): DataFrame = {
    val wCi = Window.partitionBy("ci")
    val wCum = Window.partitionBy("ci").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val j = a.join(b, Seq("ci", "k"), "full_outer")
      .select(col("ci"), col("k"),
        coalesce(col("oa"), lit(0L)).as("oa"),
        coalesce(col("ob"), lit(0L)).as("ob"))
      .withColumn("ta", sum("oa").over(wCi))
      .withColumn("tb", sum("ob").over(wCi))
    val p = col("oa").cast("double") / nullif(col("ta"), lit(0L))
    val q = col("ob").cast("double") / nullif(col("tb"), lit(0L))
    val m = (p + q) / 2.0
    val term =
      when(col("oa") > 0, p * log(p / m) * 0.5).otherwise(0.0) +
        when(col("ob") > 0, q * log(q / m) * 0.5).otherwise(0.0)
    j.withColumn("cum", sum(term).over(wCum))
      .groupBy("ci")
      .agg(max(when(col("ta") > 0 && col("tb") > 0, col("cum"))).as("js"))
  }

  private[graft] def jsMulti(before: DataFrame, after: DataFrame,
                             cols: Seq[String]): DataFrame =
    jsFromSides(catSideCounts(before, cols, "oa"), catSideCounts(after, cols, "ob"))

  /** Extended drift view — the model-monitoring metrics next to the
    * reference's D3: per shared numeric column a PSI row, per shared
    * other column a JS row, same (column, type, metric) shape and
    * column-skip semantics as [[driftAll]] so the two frames union
    * cleanly. TWO fused jobs however many columns (one [[psiMulti]], one
    * [[jsMulti]]), 6-dp rounding in-plan like D3. */
  def driftAllExtended(before: DataFrame, after: DataFrame,
                       bins: Int = 10, eps: Double = 1e-6,
                       driverTail: Option[Boolean] = None): DataFrame = {
    implicit val spark: SparkSession = before.sparkSession
    import spark.implicits._
    val afterCols = after.columns.toSet
    val shared = before.schema.fields.filter(f => afterCols.contains(f.name))
    def numericBoth(f: org.apache.spark.sql.types.StructField) =
      f.dataType.isInstanceOf[NumericType] &&
        after.schema(f.name).dataType.isInstanceOf[NumericType]
    val numCols = shared.filter(numericBoth).map(_.name).toSeq
    val catCols = shared.filterNot(numericBoth).map(_.name).toSeq
    if (numCols.isEmpty || catCols.isEmpty) {
      // single-family input: the per-family forms are already one scan each
      val psiRows = psiMulti(before, after, numCols, bins, eps, driverCollect = driverTail)
        .map { case (c, v) => (c, "psi", v) }
      val jsRows = jsMultiRows(before, after, catCols, driverTail)
      // driver-side sort: both row seqs are already local, and an
      // .orderBy on the LocalRelation costs a range-sample job + a sort
      // job just to order a ≤|columns|-row frame (the r10 v5 job count
      // measured the same pair as half of v5's job budget)
      return (psiRows ++ jsRows).sortBy(_._1).toDF("column", "type", "metric")
    }
    // Fused form — ONE exploded map-side-combined count per side covers
    // BOTH families (numeric rows carry their literal-chain bin index,
    // categorical rows their value; ci is offset by |numCols| for cats).
    // The psi spine join and the js full-outer join each consume both
    // side frames, and both metric frames collect in ONE union action —
    // the side aggregates end in identical exchanges, so ReuseExchange
    // runs each side's scan exactly once (cheaper than persist, whose
    // cache materialization measurably outweighed the saved scan here).
    val edgesByCi = psiEdges(before, numCols, bins)
    // NOT widened (r15 measured): the two sides' explode scans overlap as
    // concurrent jobs, so wall ≈ the slowest scan, and a widen exchange
    // of full rows cost more than it saved (2.6 → 3.3 s warm)
    def fusedSide(df: DataFrame, out: String) = df
      .select(explode(array(
        numCols.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("ci"),
            when(col(c).isNotNull, binIdx(col(c), edgesByCi(i))).as("bin"),
            lit(null).cast("string").as("k"))
        } ++
        catCols.zipWithIndex.map { case (c, j) =>
          struct(lit(numCols.length + j).as("ci"), lit(null).cast("int").as("bin"),
            coalesce(col(c).cast("string"), lit("NA")).as("k"))
        }: _*)).as("e"))
      .filter(col("e.ci") >= numCols.length || col("e.bin").isNotNull)
      .groupBy(col("e.ci").as("ci"), col("e.bin").as("bin"), col("e.k").as("k"))
      .agg(count(lit(1)).as(out))
    // Tail dispatch (r16): the fused side counts are the data-sized work
    // and stay in Spark; below the KS driver ceiling (bounded inputs ⇒
    // bounded category/bin domains) the grouped EXACT counts collect —
    // two concurrent jobs, like the union legs before — and the tiny
    // spine/window/collect tail (~8 single-partition stages) becomes the
    // bit-identical driver twins (counts are exact longs, binning already
    // happened in-plan; DriftSpec pins both paths). Above the ceiling the
    // plan tail runs untouched — the 100 TB shape is unchanged.
    val useDriverTail = driverTail.getOrElse(underDriverCeiling(before, after))
    val collected: Map[(String, Int), Option[Double]] = if (useDriverTail) {
      // Numeric side: the SAME binIdx expression feeds a flat codegen
      // count-if aggregate (one count per (column, bin)) instead of the
      // 15-entries-per-row explode + hash groupBy — identical exact
      // counts (count(when(bin===b)) ≡ the grouped count; null bins are
      // never === b), no per-entry allocation, no shuffle beyond the
      // 1-row partials. Categorical side: the shared fused count scan.
      // All four side jobs run concurrently (guide §2.6).
      def psiBinCounts(df: DataFrame): Array[Array[Long]] = {
        val binCols = numCols.zipWithIndex.map { case (c, i) =>
          when(col(c).isNotNull, binIdx(col(c), edgesByCi(i))).as(s"__b$i")
        }
        val aggs = numCols.indices.flatMap { i =>
          (0 to edgesByCi(i).size).map(b =>
            count(when(col(s"__b$i") === b, 1)).as(s"c_${i}_$b"))
        }
        val row = df.select(binCols: _*).agg(aggs.head, aggs.tail: _*).head()
        var off = 0
        numCols.indices.map { i =>
          val nb = edgesByCi(i).size + 1
          val a = Array.tabulate(nb)(b => row.getLong(off + b))
          off += nb
          a
        }.toArray
      }
      val ((pb, pa), jsSides) = Par.both(
        Par.both(psiBinCounts(before), psiBinCounts(after)),
        collectCatSides(before, after, catCols))
      val psiCounts: Map[Int, Map[Int, (Long, Long)]] =
        numCols.indices.map { i =>
          i -> pb(i).indices.map(b => b -> (pb(i)(b), pa(i)(b))).toMap
        }.toMap
      val psiByCi = psiCountsDriver(psiCounts, edgesByCi, numCols.length, eps, roundTo = 6)
      val jsByCi = jsCountsDriver(jsSides)
      psiByCi.map { case (i, v) => ("psi", i) -> v } ++
        jsByCi.map { case (i, v) => ("js", i) -> v.map(roundLike(_, 6)) }
    } else {
      val bc = fusedSide(before, "ca")
      val ac = fusedSide(after, "cb")
      val psiPart = psiFromSides(
          bc.filter(col("ci") < numCols.length).select(col("ci"), col("bin"), col("ca")),
          ac.filter(col("ci") < numCols.length).select(col("ci"), col("bin"), col("cb")),
          edgesByCi, numCols.length, eps, roundTo = 6)
        .select(lit("psi").as("kind"), col("ci"), col("psi").as("m"))
      val jsPart = jsFromSides(
          bc.filter(col("ci") >= numCols.length)
            .select((col("ci") - numCols.length).as("ci"), col("k"), col("ca").as("oa")),
          ac.filter(col("ci") >= numCols.length)
            .select((col("ci") - numCols.length).as("ci"), col("k"), col("cb").as("ob")))
        .select(lit("js").as("kind"), col("ci"), round(col("js"), 6).as("m"))
      psiPart.unionByName(jsPart).collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    }
    val psiRows = numCols.zipWithIndex.map { case (c, i) =>
      (c, "psi", collected.getOrElse(("psi", i), None))
    }
    val jsRows = catCols.zipWithIndex.map { case (c, i) =>
      (c, "js", collected.getOrElse(("js", i), None))
    }
    (psiRows ++ jsRows).sortBy(_._1).toDF("column", "type", "metric")
  }

  /** js rows for [[driftAllExtended]]'s single-family fallback. */
  private def jsMultiRows(before: DataFrame, after: DataFrame, catCols: Seq[String],
                          driverTail: Option[Boolean]): Seq[(String, String, Option[Double])] = {
    if (catCols.isEmpty) return Seq.empty
    // same tail dispatch as the fused form: side counts in Spark, the
    // ordered term sum on the driver below the ceiling
    val useDriverTail = driverTail.getOrElse(underDriverCeiling(before, after))
    val jsByCi: Map[Int, Option[Double]] =
      if (useDriverTail)
        jsCountsDriver(collectCatSides(before, after, catCols))
          .view.mapValues(_.map(roundLike(_, 6))).toMap
      else jsMulti(before, after, catCols)
        .select(col("ci"), round(col("js"), 6).as("m")).collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    catCols.zipWithIndex.map { case (c, i) => (c, "js", jsByCi.getOrElse(i, None)) }
  }

  /** D3 drift dispatcher (`modules/utility.py:112-123`): for each column
    * present in BOTH tables — columns missing from `after` are silently
    * skipped (`:115-116`) — numeric-in-both → KS, anything else
    * (including the string output of generalization, SURVEY §4.4.1) →
    * chi²-like. Returns (column, type, metric).
    *
    * Plan shape: exactly TWO fused jobs regardless of column count — one
    * multi-column KS ([[ksStatisticMulti]]), one multi-column chi²
    * ([[chi2Multi]]) — instead of 2 scans + shuffles PER column. Metrics
    * are rounded to 6 decimals in-plan: ordered double accumulation
    * differs in tree shape across engines (segment-tree vs sequential
    * window sums), so the last ulps of many-category sums are not
    * portable. */
  def driftAll(before: DataFrame, after: DataFrame,
               driverTail: Option[Boolean] = None): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    val afterCols = after.columns.toSet
    val shared = before.schema.fields.filter(f => afterCols.contains(f.name))
    def numericBoth(f: org.apache.spark.sql.types.StructField) =
      f.dataType.isInstanceOf[NumericType] &&
        after.schema(f.name).dataType.isInstanceOf[NumericType]
    val numCols = shared.filter(numericBoth).map(_.name).toSeq
    val catCols = shared.filterNot(numericBoth).map(_.name).toSeq
    // The KS family and the chi2 family are independent jobs — run them
    // from two driver threads so the chi2 side scans back-fill the KS
    // collect's idle cores (guide §2.6). The chi2 TAIL dispatches like
    // driftAllExtended's: bounded inputs ⇒ the exact grouped counts
    // collect and the driver twin computes the ordered term sum
    // bit-identically; above the ceiling the windowed plan runs.
    val useDriverTail = driverTail.getOrElse(underDriverCeiling(before, after))
    val (ksByCol, chiByCi) = Par.both(
      ksStatisticMulti(before, after, numCols, roundTo = Some(6)),
      if (catCols.isEmpty) Map.empty[Int, Option[Double]]
      else if (useDriverTail)
        chi2CountsDriver(collectCatSides(before, after, catCols))
          .view.mapValues(_.map(roundLike(_, 6))).toMap
      else chi2Multi(before, after, catCols)
        .select(col("ci"), round(col("chi2_like"), 6).as("m")).collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap)
    val ksRows = ksByCol.map { case (c, v) => (c, "ks", v) }
    val chiRows = catCols.zipWithIndex.map { case (c, i) =>
      (c, "chi2_like", chiByCi.getOrElse(i, None))
    }
    (ksRows ++ chiRows).sortBy(_._1).toDF("column", "type", "metric")
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-level projections/transforms (SURVEY.md §2.2 P1–P9). All are pure
  * column expressions that fuse into a single whole-stage-codegen pass —
  * no shuffles except the tiny fitted-parameter aggregates (P5/P8/P9),
  * which broadcast as literals.
  */
object RowTransforms {

  /** P1 column selection by name list (`modules/risk.py:28`). */
  def selectCols(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** P2 numeric-column projection (`modules/utility.py:131`). */
  def selectNumeric(df: DataFrame): DataFrame =
    selectCols(df, df.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq)

  /** P3 drop column (`modules/utility.py:131`). */
  def dropCols(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)

  /** P4 conditional replace: members of `rare` → "OTHER"
    * (`modules/privacy.py:10`). A null member maps the null group too,
    * as pandas' `isin` matches NaN. */
  def replaceRare(c: Column, rare: Iterable[String]): Column = {
    val values = rare.filter(_ != null)
    val inValues = if (values.nonEmpty) c.isInCollection(values) else lit(false)
    val hit = if (values.size < rare.size) inValues || c.isNull else inValues
    when(hit, lit("OTHER")).otherwise(c)
  }

  /** P5 mean imputation (`modules/utility.py:136`) — fitted mean computed
    * with the exact-moments policy, then applied as a literal. */
  def imputeMean(df: DataFrame, c: String): DataFrame = {
    val row = df.agg(Exact.s1(col(c)).as("s1"), count(col(c)).as("n")).head()
    val mean =
      if (row.isNullAt(0) || row.getLong(1) == 0L) 0.0
      else Exact.meanDouble(row.getDecimal(0), row.getLong(1))
    df.withColumn(c, coalesce(col(c).cast("double"), lit(mean)))
  }

  /** P6 null→"NA" label (`modules/utility.py:100-101`), crash-free order:
    * stringify first, then default (SURVEY §4.4.2). */
  def nullLabel(c: Column): Column =
    coalesce(c.cast("string"), lit("NA"))

  /** P7 cast-to-string (`modules/utility.py:68`). */
  def castString(c: Column): Column = c.cast("string")

  /** P8 z-score standardization with POPULATION σ (ddof=0 — the sklearn
    * StandardScaler convention, `modules/risk.py:16`), parameters fitted
    * on `fit` and applied to `df` (fit-on-anon / transform-real asymmetry
    * of the reference). Constant columns (σ=0) pass through unscaled with
    * σ treated as 1, matching sklearn's `scale_ = 1` rule. */
  def standardize(df: DataFrame, fit: DataFrame, cols: Seq[String]): DataFrame =
    standardizeApply(df, cols, standardizeFit(fit, cols))

  /** The μ/σ̂ fit of [[standardize]] alone — ONE count + ONE aggregate
    * job however many columns, reusable across multiple apply sites
    * (the V6 linkage paths standardize anon AND real with the same
    * anon-side fit; re-fitting per side doubled the fit jobs). `None` =
    * the fit saw no values for that column. */
  private[graft] def standardizeFit(fit: DataFrame,
                                    cols: Seq[String]): Map[String, Option[(Double, Double)]] = {
    if (cols.isEmpty) return Map.empty
    // hi/lo long accumulators inside the row ceiling (see Exact.momentParts);
    // recombined below so the collected row keeps the (s1, s2, n) layout.
    // Both branches are value-identical, so the footer UPPER bound answers
    // for filtered scans too (r16) — no pre-flight count job on the V6
    // fits, and a too-high bound only picks the slower exact branch
    val hiLo = graft.io.ScanStats.parquetScanRowCount(fit)
      .orElse(graft.io.ScanStats.parquetScanRowUpperBound(fit))
      .getOrElse(fit.count()) <= Exact.HiLoSafeMaxRows
    // cents above the widen exchange — session-parallel BigDecimal
    // round-trips instead of a few scan splits (the corr fix)
    val proj = graft.ops.Par.widen(fit.select(cols.map(col): _*))
      .select(cols.map(c => col(c)) ++
        cols.map(c => Exact.cents(col(c)).as(s"__cents_$c")): _*)
    val aggs = cols.flatMap { c =>
      Exact.momentAggsPre(col(s"__cents_$c"), c, hiLo) :+ count(col(c)).as(s"${c}__n")
    }
    val row = proj.agg(aggs.head, aggs.tail: _*)
      .select(cols.flatMap { c =>
        Seq(Exact.s1Col(c, hiLo).as(s"${c}__s1"),
          Exact.s2Col(c, hiLo).as(s"${c}__s2"), col(s"${c}__n"))
      }: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      val s1 = row.getDecimal(3 * i)
      val n = row.getLong(3 * i + 2)
      c -> (if (n == 0L || s1 == null) None
      else {
        val mu = Exact.meanDouble(s1, n)
        val sd = Exact.stdPopDouble(s1, row.getDecimal(3 * i + 1), n)
        Some((mu, if (sd == 0.0 || sd.isNaN) 1.0 else sd))
      })
    }.toMap
  }

  /** Apply a [[standardizeFit]] result. */
  private[graft] def standardizeApply(df: DataFrame, cols: Seq[String],
                                      params: Map[String, Option[(Double, Double)]]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      params(c) match {
        case None =>
          // fit saw NO values (empty frame / all-null column): the mean is
          // undefined, so the z-score is NULL for every row — the oracle's
          // NULL propagation ((x − NULL)/σ), found by FuzzSpec seed 1/5;
          // the previous code NPE'd on the null moment sum
          d.withColumn(c, lit(null).cast("double"))
        case Some((mu, sdSafe)) =>
          d.withColumn(c, (col(c).cast("double") - mu) / sdSafe)
      }
    }

  /** Winsorize: clip a numeric column at its exact interpolated
    * [pLo, pHi] quantiles — the standard outlier treatment before
    * standardization or DP noise calibration (extension scope; the
    * reference clips nothing). The fit (== DuckDB `quantile_cont`) is
    * [[Exact.quantiles]]' driver sort below [[Exact.DriverFitMaxRows]]
    * rows and one [[Exact.percentiles]] aggregate above it. Both bounds
    * are applied as literals, so the transform is a stateless codegen
    * `least/greatest` over the scan: fit, then one shuffle-free pass. A
    * column with no non-null value passes through. */
  def winsorize(df: DataFrame, c: String,
                pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    val probs = Seq(pLo, pHi)
    val fit =
      if (graft.io.ScanStats.exactRowCount(df) <= Exact.DriverFitMaxRows)
        Exact.quantiles(df, Seq(c), probs, driver = true)
      else Exact.percentiles(df, Seq(c), probs)
    val (lo, hi) = fit(c) match {
      case Some(qs) => (lit(qs(0)), lit(qs(1)))
      case None     => (lit(null).cast("double"), lit(null).cast("double"))
    }
    df.withColumn(s"${c}_w", least(greatest(col(c).cast("double"), lo), hi))
  }

  /** Robust scaling by median/MAD — the outlier-insensitive sibling of
    * [[standardize]] (median centers, raw median-absolute-deviation
    * scales; no 1.4826 normal-consistency factor, documented so the
    * statistic stays cross-engine exact). A zero/NaN MAD falls back to 1
    * (constant columns pass through centered), the standardize
    * convention. Two chained tiny fits — MAD needs the median first —
    * each an exact `percentile` aggregate broadcast onto the next pass;
    * the transform itself is stateless codegen. */
  def robustScale(df: DataFrame, c: String): DataFrame = {
    // Fit auto-dispatch on winsorize's row ceiling. The driver path is
    // especially right here: median AND MAD both derive from ONE
    // collected array (two driver sorts), where the in-plan form needs
    // two chained percentile fit jobs because MAD depends on the median.
    val driverFit: Option[(Double, Double)] =
      if (graft.io.ScanStats.exactRowCount(df) > Exact.DriverFitMaxRows) None
      else {
        val (arr, dropped) = Exact.collectColumns(df, Seq(c)).nums(c)
        if (dropped > 0 || arr.isEmpty) None // non-finite / all-null: in-plan form
        else {
          java.util.Arrays.sort(arr)
          val med = Exact.quantileFromSorted(arr, 0.5)
          val dev = arr.map(v => math.abs(v - med))
          java.util.Arrays.sort(dev)
          Some((med, Exact.quantileFromSorted(dev, 0.5)))
        }
      }
    driverFit match {
      case Some((med, mad)) =>
        df.withColumn(s"${c}_r",
          (col(c).cast("double") - lit(med)) /
            lit(if (mad > 0.0) mad else 1.0))
      case None =>
        val med = df.agg(expr(s"percentile($c, 0.5D)").as("__med"))
        val fit = df.crossJoin(broadcast(med))
          .agg(expr(s"percentile(abs(CAST($c AS DOUBLE) - __med), 0.5D)").as("__mad"),
            min("__med").as("__med"))
        df.crossJoin(broadcast(fit))
          .withColumn(s"${c}_r",
            (col(c).cast("double") - col("__med")) /
              when(col("__mad") > 0.0, col("__mad")).otherwise(lit(1.0)))
          .drop("__med", "__mad")
    }
  }

  /** P9 one-hot encoding with explicit category columns fitted on `fit`
    * (`modules/risk.py:18`): categories are the sorted distinct values of
    * the FIT table; unseen values in `df` produce all-zero vectors —
    * exactly `handle_unknown="ignore"`. */
  def oneHot(df: DataFrame, fit: DataFrame, c: String): DataFrame =
    oneHotApply(df, c, oneHotVocab(fit, c))

  /** The fitted category list of [[oneHot]] alone — one collect,
    * reusable across apply sites and the feature-name derivation (the V6
    * LSH path previously collected the SAME vocabulary four times per
    * categorical: one-hot + feature names, on each of two sides). */
  private[graft] def oneHotVocab(fit: DataFrame, c: String): Seq[String] =
    fit.select(col(c)).na.drop().distinct()
      .orderBy(col(c)).collect().map(_.getString(0)).toSeq

  /** Apply a [[oneHotVocab]] result. */
  private[graft] def oneHotApply(df: DataFrame, c: String, cats: Seq[String]): DataFrame =
    cats.foldLeft(df) { (d, cat) =>
      d.withColumn(s"${c}__$cat", when(col(c) === cat, 1.0).otherwise(0.0))
    }
}

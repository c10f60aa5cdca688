package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DECIMAL-typed numeric columns are the second real-world input class
  * the fixtures never exercise (the first was hive partitioning —
  * PartitionedInputSpec): the driver testdata carries doubles, but real
  * TPC-H-shaped parquet ships DECIMAL(15,2) money columns, and Spark
  * aggregates/casts decimals through exact BigDecimal arithmetic rather
  * than binary floating point. An operator that pattern-matched on
  * DoubleType, fed a decimal into a double-only codepath, or tripped
  * ANSI overflow in a decimal sum would only surface on this class.
  *
  * Contract: every core numeric operator must (a) accept DECIMAL(15,2)
  * columns without throwing, and (b) produce the same numbers it
  * produces for the identical double-typed input, to 1e-9 relative —
  * two-decimal money values are exactly representable in both types, so
  * the only legitimate divergence is summation arithmetic (decimal sums
  * are exact; double sums carry ulps), which the tolerance absorbs.
  */
class DecimalInputSpec extends SparkSpec {

  private val MoneyCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private lazy val asDouble: DataFrame = Tables.lineitem(spark, Sf)
  private lazy val asDecimal: DataFrame =
    MoneyCols.foldLeft(asDouble)((df, c) =>
      df.withColumn(c, col(c).cast("decimal(15,2)")))

  private def tol(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def numMap(df: DataFrame, key: String, value: String): Map[String, Double] =
    df.select(col(key).cast("string"), col(value).cast("double")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
      .toMap

  test("profile: decimal columns produce the double columns' numbers") {
    val d = ops.Profile.profile(asDecimal)
    val f = ops.Profile.profile(asDouble)
    for (stat <- Seq("mean", "std", "min_num", "max_num", "p25", "median", "p75");
         c <- MoneyCols) {
      val dv = numMap(d.filter(col("column") === c), "column", stat)(c)
      val fv = numMap(f.filter(col("column") === c), "column", stat)(c)
      assert(tol(dv, fv), s"profile.$stat($c): decimal=$dv double=$fv")
    }
  }

  test("drift family: KS / PSI / drift dispatcher are type-blind on money columns") {
    val (dHead, dTail) = (asDecimal.limit(3000), asDecimal.orderBy(desc("l_orderkey")).limit(3000))
    val (fHead, fTail) = (asDouble.limit(3000), asDouble.orderBy(desc("l_orderkey")).limit(3000))
    def m(s: Seq[(String, Option[Double])]): Map[String, Double] =
      s.map { case (c, v) => c -> v.getOrElse(Double.NaN) }.toMap
    val dKs = m(ops.Drift.ksStatisticMulti(dHead, dTail, MoneyCols))
    val fKs = m(ops.Drift.ksStatisticMulti(fHead, fTail, MoneyCols))
    MoneyCols.foreach(c => assert(tol(dKs(c), fKs(c)), s"ks($c): ${dKs(c)} vs ${fKs(c)}"))
    val dPsi = m(ops.Drift.psiMulti(dHead, dTail, MoneyCols))
    val fPsi = m(ops.Drift.psiMulti(fHead, fTail, MoneyCols))
    MoneyCols.foreach(c => assert(tol(dPsi(c), fPsi(c)), s"psi($c): ${dPsi(c)} vs ${fPsi(c)}"))
  }

  test("privacy family: generalize buckets and DP noise at eps->inf are value-identical") {
    val dGen = ops.Privacy.generalizeNumeric(asDecimal, "l_extendedprice")
    val fGen = ops.Privacy.generalizeNumeric(asDouble, "l_extendedprice")
    val dCounts = dGen.groupBy(col("l_extendedprice").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fCounts = fGen.groupBy(col("l_extendedprice").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dCounts == fCounts,
      s"generalize bucket histograms differ: ${dCounts.toSeq.sorted} vs ${fCounts.toSeq.sorted}")

    // eps -> inf: Laplace noise vanishes, so the released values must be
    // the input values regardless of the column's numeric type
    val released = ops.Privacy.dpNoise(asDecimal.limit(500), Seq("l_quantity"),
      epsilon = 1e18)
    val in = asDouble.limit(500).select(sum("l_quantity")).head.getDouble(0)
    val out = released.select(sum(col("l_quantity").cast("double"))).head.getDouble(0)
    assert(tol(in, out) || math.abs(in - out) < 1e-3,
      s"dpNoise(eps=inf) moved the column: $in vs $out")
  }

  test("no-throw sweep: remaining numeric operators accept decimal columns") {
    val sub = asDecimal.limit(2000)
    val cases: Seq[(String, () => Array[_])] = Seq(
      "muSigma" -> (() => ops.Profile.muSigma(sub, MoneyCols).collect()),
      "correlationMatrix" -> (() => ops.Profile.correlationMatrix(sub, MoneyCols).collect()),
      "distinctCounts" -> (() => ops.Profile.distinctCounts(sub.select(MoneyCols.map(col): _*)).collect()),
      "profileApprox" -> (() => ops.Profile.profileApprox(sub).collect()),
      "standardize" -> (() => ops.RowTransforms.standardize(sub, sub, MoneyCols).collect()),
      "imputeMean" -> (() => ops.RowTransforms.imputeMean(sub, "l_quantity").collect()),
      "syntheticSample" -> (() => ops.Privacy.syntheticSample(sub,
        Seq("l_quantity", "l_extendedprice"), seed = 7L).collect()),
      "sdcSuppress" -> (() => ops.Privacy.sdcSuppress(sub, Seq("l_returnflag")).collect()),
      "wasserstein" -> (() => ops.Drift.wasserstein(sub, sub, "l_quantity").collect()))
    val failed = cases.flatMap { case (name, run) =>
      try { run(); None }
      catch { case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }
}

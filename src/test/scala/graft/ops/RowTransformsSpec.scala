package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RowTransformsSpec extends SparkSpec {
  import spark.implicits._

  test("imputeMean fills nulls with exact mean") {
    val df = Seq(Some(1.0), Some(3.0), None).toDF("x")
    val out = RowTransforms.imputeMean(df, "x").collect().map(_.getDouble(0)).sorted
    assert(out.sameElements(Array(1.0, 2.0, 3.0)))
  }

  test("imputeMean on all-null column → 0.0 fallback") {
    val df = Seq[Option[Double]](None, None).toDF("x")
    val out = RowTransforms.imputeMean(df, "x").collect().map(_.getDouble(0))
    assert(out.forall(_ == 0.0))
  }

  test("standardize: population sigma (ddof=0), fit/transform asymmetry") {
    val fit = Seq(0.0, 10.0).toDF("x") // μ=5, σ_pop=5
    val df = Seq(5.0, 15.0).toDF("x")
    val out = RowTransforms.standardize(df, fit, Seq("x")).collect().map(_.getDouble(0))
    assert(out.sameElements(Array(0.0, 2.0)))
  }

  test("standardize: constant fit column passes through (σ→1)") {
    val fit = Seq(3.0, 3.0).toDF("x")
    val df = Seq(4.0).toDF("x")
    val out = RowTransforms.standardize(df, fit, Seq("x")).collect()(0).getDouble(0)
    assert(out == 1.0) // (4-3)/1
  }

  test("oneHot: categories from fit; unseen value → all zeros") {
    val fit = Seq("a", "b").toDF("c")
    val df = Seq("a", "z").toDF("c")
    val out = RowTransforms.oneHot(df, fit, "c").collect()
    val a = out.find(_.getString(0) == "a").get
    assert(a.getDouble(1) == 1.0 && a.getDouble(2) == 0.0)
    val z = out.find(_.getString(0) == "z").get
    assert(z.getDouble(1) == 0.0 && z.getDouble(2) == 0.0)
  }

  test("winsorize: magnitudes past the cents domain (epoch-nanos scale) fit on the plain-double quantile path") {
    // r11 ADVICE (high): the shared driver-sort fit ran the cents/moment
    // replica on every collected value, which FAULTS past DECIMAL(18,2)
    // (~|v| ≥ 1e16) — but winsorize (like the PSI edges and the logprob
    // funnel) only consumes quantiles, which sort and interpolate any
    // finite double. Quantile-only callers now skip the moment walk.
    val src = (1 to 100).map(i => 1.7e18 + i * 1.0e12).toDF("x")
    val out = RowTransforms.winsorize(src, "x", 0.05, 0.95)
    assert(out.count() == 100)
    val clipped = out.agg(min("x_w"), max("x_w")).head()
    assert(clipped.getDouble(0) > 1.7e18 && clipped.getDouble(1) < 1.7e18 + 1.01e14)
  }

  test("winsorize clips exactly at the interpolated quantiles, keeps inner rows") {
    val li = graft.Tables.lineitem(spark, Sf)
    val out = RowTransforms.winsorize(li, "l_extendedprice")
    // fit mirrors Spark's own exact percentile — recompute and compare
    val Seq(lo, hi) = li
      .agg(expr("percentile(l_extendedprice, array(0.01D, 0.99D))")).collect()(0)
      .getSeq[Double](0).toSeq
    assert(lo < hi)
    val bad = out.filter(col("l_extendedprice_w") < lo || col("l_extendedprice_w") > hi)
    assert(bad.isEmpty, "clipped column must live inside [lo, hi]")
    val inner = out.filter(col("l_extendedprice") >= lo && col("l_extendedprice") <= hi)
      .filter(col("l_extendedprice_w") =!= col("l_extendedprice"))
    assert(inner.isEmpty, "rows inside the band must pass through untouched")
    val nClipped = out.filter(col("l_extendedprice_w") =!= col("l_extendedprice")).count()
    val n = li.count()
    // ~2% of rows clip (1% per tail)
    assert(nClipped > 0 && nClipped < n / 20, s"clipped $nClipped of $n")
  }

  test("robustScale: median maps to 0, MAD=0 falls back to centering only") {
    val li = graft.Tables.lineitem(spark, Sf)
    val out = RowTransforms.robustScale(li, "l_extendedprice")
    val med = li.agg(expr("percentile(l_extendedprice, 0.5D)")).collect()(0).getDouble(0)
    // rows at the median scale to exactly 0
    val atMed = out.filter(col("l_extendedprice") === med)
      .filter(col("l_extendedprice_r") =!= 0.0)
    assert(atMed.isEmpty)
    // roughly half the mass lands on each side of 0
    val n = out.count()
    val neg = out.filter(col("l_extendedprice_r") < 0).count()
    assert(math.abs(neg.toDouble / n - 0.5) < 0.05, s"$neg of $n below 0")
    // constant column: MAD=0 → divide-by-1 fallback, all zeros
    val const = Seq(5.0, 5.0, 5.0).toDF("x")
    val cOut = RowTransforms.robustScale(const, "x").select("x_r").collect()
    assert(cOut.forall(_.getDouble(0) == 0.0))
  }

  test("replaceRare: a null member maps the null group to OTHER") {
    val df = Seq[String]("a", "b", null).toDF("c")
    def out(rare: Set[String]) =
      df.select(RowTransforms.replaceRare(col("c"), rare)).collect().map(_.getString(0)).toSeq
    assert(out(Set("a", null)) == Seq("OTHER", "b", "OTHER"))
    assert(out(Set("a")) == Seq("OTHER", "b", null))
    assert(out(Set(null)) == Seq("a", "b", "OTHER"))
    assert(out(Set.empty) == Seq("a", "b", null))
  }

  test("nullLabel stringifies then defaults (crash-free on any dtype)") {
    val df = Seq(Some(1.5), None).toDF("x")
    val out = df.select(RowTransforms.nullLabel(col("x"))).collect().map(_.getString(0))
    assert(out.sameElements(Array("1.5", "NA")))
  }
}

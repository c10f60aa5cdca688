package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Both branches of the one exact-quantile fit, [[Exact.quantiles]], must
  * agree exactly: the driver sort (`driver = true`) and the bucketed
  * cents histogram (`driver = false` — the 100 TB side, pinned here
  * directly), and wherever a column takes the `percentile` fallback the
  * answer is a hand-written `percentile` aggregate's. The exact distinct
  * counts the profile substitutes for count_distinct (NumFit.nUnique)
  * are pinned on the `numProfileVia*` pair. */
class ExactQuantilesSpec extends SparkSpec {

  private val probs = Seq(0.25, 0.5, 0.75)

  /** Both branches of [[Exact.quantiles]] on `df`, asserted equal. */
  private def bothBranches(df: DataFrame, cols: Seq[String],
                           ps: Seq[Double] = probs): Map[String, Option[Seq[Double]]] = {
    val sort = Exact.quantiles(df, cols, ps, driver = true)
    val hist = Exact.quantiles(df, cols, ps, driver = false)
    cols.foreach(c => assert(sameBits(sort(c), hist(c)),
      s"$c: driver ${sort(c)} vs histogram ${hist(c)}"))
    sort
  }

  /** Bit-for-bit equality, so a NaN the fallback returns equals itself. */
  private def sameBits(a: Option[Seq[Double]], b: Option[Seq[Double]]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) => x.length == y.length && x.zip(y).forall { case (u, v) =>
        java.lang.Double.compare(u, v) == 0 }
      case _ => a.isEmpty && b.isEmpty
    }

  /** The hand-written `percentile` aggregate the fallback must equal. */
  private def percentileOf(df: DataFrame, c: String, ps: Seq[Double] = probs): Option[Seq[Double]] = {
    val r = df.agg(expr(s"percentile(CAST($c AS DOUBLE), array(${ps.mkString("D,")}D))")).head()
    if (r.isNullAt(0)) None else Some(r.getSeq[Double](0))
  }

  test("histogram path == driver-sort path on all lineitem numeric columns") {
    val li = Tables.lineitem(spark, Sf)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // bit-exact: same h = p·(n−1) ranks, same interp formula, exact cents
    val qs = bothBranches(li, cols)
    val hist = Exact.numProfileViaCentsHistogram(li, cols, probs, hiLo = true)
    val sort = Exact.numProfileViaDriverSort(li, cols, probs)
    val exact = cols.map(c =>
      c -> li.agg(count_distinct(col(c))).head().getLong(0)).toMap
    cols.foreach { c =>
      assert(hist(c).eligible, s"$c should be cents-eligible")
      assert(qs(c) == hist(c).quantiles, s"$c: ${qs(c)} vs ${hist(c).quantiles}")
      assert(hist(c).nUnique.contains(exact(c)), s"$c hist nUnique")
      assert(sort(c).nUnique.contains(exact(c)), s"$c sort nUnique")
    }
  }

  test("histogram path with few buckets exercises cross-bucket offsets") {
    import spark.implicits._
    // 100 distinct values, 2 buckets → quantile ranks cross bucket borders
    val df = (1 to 100).map(i => i.toDouble / 2).toDF("v")
    val ps = Seq(0.0, 0.33, 0.5, 0.99, 1.0)
    val r = Exact.numProfileViaCentsHistogram(df, Seq("v"), ps, hiLo = true, buckets = 2)
    val expect = Exact.quantiles(df, Seq("v"), ps, driver = true)
    assert(r("v").quantiles == expect("v"))
    assert(r("v").nUnique.contains(100L))
    assert(Exact.numProfileViaDriverSort(df, Seq("v"), ps)("v").nUnique.contains(100L))
  }

  test("non-cents-eligible column (3 decimals) reports None for fallback") {
    import spark.implicits._
    val df = Seq(1.001, 2.5, 3.0).toDF("x").withColumn("y", col("x") * 2)
    val r = Exact.numProfileViaCentsHistogram(df, Seq("x", "y"), probs, hiLo = true)
    assert(!r("x").eligible && r("x").quantiles.isEmpty && r("x").nUnique.isEmpty,
      "1.001 does not survive the DECIMAL(18,2) roundtrip")
    // the one fit answers it anyway: driver sort vs percentile fallback
    val qs = bothBranches(df, Seq("x", "y"))
    assert(qs("x") == percentileOf(df, "x"))
  }

  test("eligible and ineligible columns mix in one call") {
    import spark.implicits._
    val df = Seq((1.25, 0.333), (2.50, 0.667), (4.75, 1.0)).toDF("ok", "bad3dp")
    val r = Exact.numProfileViaCentsHistogram(df, Seq("ok", "bad3dp"), Seq(0.5), hiLo = true)
    assert(r("bad3dp").quantiles.isEmpty)
    assert(r("ok").quantiles.contains(Seq(2.50)))
    assert(r("ok").nUnique.contains(3L))
    val qs = bothBranches(df, Seq("ok", "bad3dp"), Seq(0.5))
    assert(qs("ok").contains(Seq(2.50)))
    assert(qs("bad3dp").contains(Seq(0.667)) && qs("bad3dp") == percentileOf(df, "bad3dp", Seq(0.5)))
  }

  test("all-null column yields NaN markers; absent from histogram entirely") {
    import spark.implicits._
    val df = Seq((1.0, Option.empty[Double]), (2.0, None)).toDF("a", "allnull")
    val r = Exact.numProfileViaCentsHistogram(df, Seq("a", "allnull"), Seq(0.5), hiLo = true)
    assert(r("a").quantiles.contains(Seq(1.5)))
    assert(r("allnull").quantiles.get.forall(_.isNaN))
    assert(r("allnull").nUnique.contains(0L))
    val s = Exact.numProfileViaDriverSort(df, Seq("a", "allnull"), Seq(0.5))
    assert(s("allnull").quantiles.get.forall(_.isNaN))
    assert(s("allnull").nUnique.contains(0L))
    // the one fit turns the marker into None on both branches
    val qs = bothBranches(df, Seq("a", "allnull"), Seq(0.5))
    assert(qs("a").contains(Seq(1.5)) && qs("allnull").isEmpty)
  }

  test("NaN values mark a column ineligible on BOTH paths (falls back, never silently drops)") {
    import spark.implicits._
    val df = Seq(1.0, Double.NaN, 3.0).toDF("x")
    val r = Exact.numProfileViaCentsHistogram(df, Seq("x"), Seq(0.5), hiLo = true)
    assert(r("x").quantiles.isEmpty && r("x").nUnique.isEmpty)
    val s = Exact.numProfileViaDriverSort(df, Seq("x"), Seq(0.5))
    assert(s("x").quantiles.isEmpty && s("x").nUnique.isEmpty,
      "driver path must not silently drop non-finite values")
    // NaN sorts last in `percentile`: the median of (1, 3, NaN) is 3
    val qs = bothBranches(df, Seq("x"), Seq(0.5))
    assert(qs("x").contains(Seq(3.0)) && qs("x") == percentileOf(df, "x", Seq(0.5)))
  }

  test("Exact.quantiles: both branches agree on 3-decimal, DECIMAL(12,3), NaN/±Inf, all-null and empty inputs") {
    import spark.implicits._
    val n = 200
    val rows = (1 to n).map { i =>
      val nonFinite = i % 50 match {
        case 0  => Double.NaN
        case 17 => Double.PositiveInfinity
        case 33 => Double.NegativeInfinity
        case _  => i * 0.37 - 20.0
      }
      (i * 1.013 - 7.0, BigDecimal(i * 7919 % 1000, 3) + i, nonFinite, Option.empty[Double],
        math.rint(i * 31.7) / 100)
    }
    val df = rows.toDF("dec3", "dmoney", "nonfinite", "allnull", "cents")
      .withColumn("dmoney", col("dmoney").cast("decimal(12,3)"))
    val cols = df.columns.toSeq
    val ps = Seq(0.0, 0.1, 1.0 / 3, 0.5, 0.9, 1.0)
    val qs = bothBranches(df, cols, ps)
    assert(qs("allnull").isEmpty)
    assert(qs("cents").isDefined)
    // every column the histogram refuses takes the fallback on that branch
    // and must equal a hand-written percentile aggregate
    val hist = Exact.numProfileViaCentsHistogram(df, cols, ps, hiLo = true)
    val fallbackCols = cols.filterNot(hist(_).eligible)
    assert(fallbackCols.toSet == Set("dec3", "dmoney", "nonfinite"), fallbackCols)
    fallbackCols.foreach(c => assert(sameBits(qs(c), percentileOf(df, c, ps)),
      s"$c: ${qs(c)} vs percentile ${percentileOf(df, c, ps)}"))
    // empty frame: no column has a value
    val empty = bothBranches(df.limit(0), cols, ps)
    assert(cols.forall(empty(_).isEmpty), empty)
  }

  test("Exact.quantiles and the histogram profile release their checkpoint") {
    import spark.implicits._
    // the second frame is not cents-eligible: Exact.quantiles stops after
    // the histogram scan and must release that cache too
    val sc = spark.sparkContext
    for (df <- Seq(Seq(1.25, 2.5, 3.75, 5.0).toDF("v"), Seq(1.125, 2.5, 3.75).toDF("v"))) {
      val before = sc.getPersistentRDDs.size
      Exact.quantiles(df, Seq("v"), probs, driver = false)
      assert(sc.getPersistentRDDs.size == before, "Exact.quantiles left an RDD persisted")
      Exact.numProfileViaCentsHistogram(df, Seq("v"), probs, hiLo = true)
      assert(sc.getPersistentRDDs.size == before, "numProfileViaCentsHistogram left an RDD persisted")
    }
  }

  test("histogram NumFit == driver-sort NumFit on all lineitem numeric columns (r12 moments)") {
    // the r12 at-scale fit: moments/min/max/count ride the histogram's
    // bucket aggregate and must finalize bit-identically to the driver
    // replica (which is itself pinned against the in-agg wide forms)
    val li = Tables.lineitem(spark, Sf)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val hist = Exact.numProfileViaCentsHistogram(li, cols, probs, hiLo = true)
    val sort = Exact.numProfileViaDriverSort(li, cols, probs)
    cols.foreach { c =>
      val (h, s) = (hist(c), sort(c))
      assert(h.eligible && s.eligible, c)
      assert(h.n == s.n, s"$c n: ${h.n} vs ${s.n}")
      assert(h.quantiles.get == s.quantiles.get, s"$c quantiles")
      assert(h.nUnique == s.nUnique, s"$c nUnique")
      assert(h.mean.get == s.mean.get, s"$c mean: ${h.mean} vs ${s.mean}")
      assert(h.std.get == s.std.get, s"$c std: ${h.std} vs ${s.std}")
      assert(h.minV.get == s.minV.get, s"$c min")
      assert(h.maxV.get == s.maxV.get, s"$c max")
    }
  }

  test("histogram NumFit moments: negatives, ties, nulls, big-cents side-sums, all-decimal regime") {
    import spark.implicits._
    // -40.25 repeats (weighted bins), a null, and values past the
    // long-safe cents bound (4e9 cents) driving the decimal side-sums
    val vals = Seq(Some(-40.25), Some(-40.25), Some(0.0), Some(12.5),
      None, Some(4.0e9), Some(-4.0e9), Some(12.5))
    val df = vals.toDF("v")
    val byHist = Exact.numProfileViaCentsHistogram(df, Seq("v"), probs, hiLo = true)("v")
    val byHistDec = Exact.numProfileViaCentsHistogram(df, Seq("v"), probs, hiLo = false)("v")
    val bySort = Exact.numProfileViaDriverSort(df, Seq("v"), probs)("v")
    Seq(byHist, byHistDec).foreach { h =>
      assert(h.n == bySort.n && h.nUnique == bySort.nUnique)
      assert(h.quantiles.get == bySort.quantiles.get)
      assert(h.mean.get == bySort.mean.get, s"mean ${h.mean} vs ${bySort.mean}")
      assert(h.std.get == bySort.std.get, s"std ${h.std} vs ${bySort.std}")
      assert(h.minV.get == bySort.minV.get && h.maxV.get == bySort.maxV.get)
    }
    // all-null and ineligible columns keep their contracts with moments on
    val df2 = Seq((Option.empty[Double], 1.001), (None, 2.5)).toDF("allnull", "bad3dp")
    val r2 = Exact.numProfileViaCentsHistogram(df2, Seq("allnull", "bad3dp"), probs, hiLo = true)
    assert(r2("allnull").eligible && r2("allnull").n == 0 && r2("allnull").mean.isEmpty)
    assert(r2("allnull").quantiles.get.forall(_.isNaN))
    assert(!r2("bad3dp").eligible)
  }
}

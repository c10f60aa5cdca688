package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("ks: identical samples → 0") {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val ks = Drift.ksStatistic(df, df, "x").collect()(0).getDouble(1)
    assert(ks == 0.0)
  }

  test("ks: disjoint samples → 1") {
    val a = (1 to 50).map(_.toDouble).toDF("x")
    val b = (100 to 150).map(_.toDouble).toDF("x")
    val ks = Drift.ksStatistic(a, b, "x").collect()(0).getDouble(1)
    assert(ks == 1.0)
  }

  test("ks: driver merge-walk and scale-safe histogram plan agree bit-exactly") {
    val li = graft.Tables.lineitem(spark, Sf)
    val before = li.filter(col("l_orderkey") % 2 === 0)
    val after = li.filter(col("l_orderkey") % 2 === 1)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey")
    val viaDriver = Drift.ksStatisticMulti(before, after, cols, driverCollect = Some(true))
    val viaPlan = Drift.ksStatisticMulti(before, after, cols, driverCollect = Some(false))
    assert(viaDriver == viaPlan, s"\ndriver: $viaDriver\nplan:   $viaPlan")
    // and with rounding + a small-side null
    val tiny = Seq(1.0, 2.0).toDF("l_quantity")
    val d2 = Drift.ksStatisticMulti(tiny, after.select("l_quantity"), Seq("l_quantity"),
      driverCollect = Some(true))
    assert(d2 == Seq("l_quantity" -> None))
  }

  test("wasserstein: driver merge-walk and bucketed plan agree bit-exactly (both range regimes)") {
    val li = graft.Tables.lineitem(spark, Sf)
    val before = li.filter(col("l_orderkey") % 2 === 0)
    val after = li.filter(col("l_orderkey") % 2 === 1)
    def both(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame,
             c: String): (Any, Any) = {
      val d = Drift.wasserstein(b, a, c, driverCollect = Some(true)).collect()(0)
      val p = Drift.wasserstein(b, a, c, driverCollect = Some(false)).collect()(0)
      (if (d.isNullAt(1)) null else d.getDouble(1),
        if (p.isNullAt(1)) null else p.getDouble(1))
    }
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey").foreach { c =>
      val (d, p) = both(before, after, c)
      assert(d == p, s"$c: driver=$d plan=$p")
    }
    // range gate FAILED side (legacy double sum) and sub-cent gaps
    val wideA = Seq(0.0, 1.0, 2e15).toDF("x")
    val wideB = Seq(0.5, 1.5, 2e15).toDF("x")
    val (dw, pw) = both(wideA, wideB, "x")
    assert(dw == pw, s"wide: driver=$dw plan=$pw")
    val subA = Seq(0.001, 0.002, 0.003).toDF("x")
    val subB = Seq(0.0015, 0.0025, 0.0035).toDF("x")
    val (ds, ps) = both(subA, subB, "x")
    assert(ds == ps, s"subcent: driver=$ds plan=$ps")
    // NaN rides as a sample point on both paths
    val nanA = Seq(1.0, 2.0, Double.NaN).toDF("x")
    val nanB = Seq(1.0, 3.0).toDF("x")
    val (dn, pn) = both(nanA, nanB, "x")
    assert((dn == pn) || (dn.asInstanceOf[Double].isNaN && pn.asInstanceOf[Double].isNaN),
      s"nan: driver=$dn plan=$pn")
    // empty side → null on the driver path too
    val (de, _) = both(Seq.empty[Double].toDF("x"), nanB, "x")
    assert(de == null)
    // BOTH sides empty → ZERO rows on both paths (the grouped aggregate
    // over an empty merged grid — the r15 fuzz-seed-1 catch)
    val e2 = Seq.empty[Double].toDF("x")
    assert(Drift.wasserstein(e2, e2, "x", driverCollect = Some(true)).collect().isEmpty)
    assert(Drift.wasserstein(e2, e2, "x", driverCollect = Some(false)).collect().isEmpty)
    // and the fused panel drops the wasserstein row, keeping ks/psi nulls
    val p = Drift.driftPanel(e2, e2, "x").collect()
    assert(p.map(_.getString(0)).toSeq == Seq("ks", "psi"))
  }

  test("psiMulti: driver merge-walk and plan binning agree bit-exactly") {
    val li = graft.Tables.lineitem(spark, Sf)
    val before = li.filter(col("l_orderkey") % 2 === 0)
    val after = li.filter(col("l_orderkey") % 2 === 1)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_orderkey")
    val viaDriver = Drift.psiMulti(before, after, cols, driverCollect = Some(true))
    val viaPlan = Drift.psiMulti(before, after, cols, driverCollect = Some(false))
    assert(viaDriver == viaPlan, s"\ndriver: $viaDriver\nplan:   $viaPlan")
    // empty side → None on the driver path too
    import spark.implicits._
    val e = Seq.empty[Double].toDF("l_quantity")
    assert(Drift.psiMulti(before.select("l_quantity"), e, Seq("l_quantity"),
      driverCollect = Some(true)) == Seq("l_quantity" -> None))
  }

  test("driftPanel: fused driver path equals the standalone operators on lineitem") {
    val li = graft.Tables.lineitem(spark, Sf)
    val before = li.filter(col("l_orderkey") % 2 === 0)
    val after = li.filter(col("l_orderkey") % 2 === 1)
    val panel = Drift.driftPanel(before, after, "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(panel("ks") ==
      Drift.ksStatistic(before, after, "l_extendedprice").collect()(0).getDouble(1))
    assert(panel("psi") ==
      Drift.psi(before, after, "l_extendedprice").collect()(0).getDouble(1))
    assert(panel("wasserstein") ==
      Drift.wasserstein(before, after, "l_extendedprice",
        driverCollect = Some(false)).collect()(0).getDouble(1))
    // non-finite samples take the composed fallback, same three rows
    import spark.implicits._
    val withNaN = Seq(1.0, 2.0, Double.NaN, 3.0).toDF("x")
    val other = Seq(1.5, 2.5, 3.5).toDF("x")
    val p2 = Drift.driftPanel(withNaN, other, "x").collect()
    assert(p2.map(_.getString(0)).toSeq == Seq("ks", "psi", "wasserstein"))
  }

  test("driftPanel: three metrics, each matching its standalone operator") {
    val a = (1 to 100).map(_.toDouble).toDF("x")
    val b = (1 to 100).map(_ + 10.0).toDF("x")
    val panel = Drift.driftPanel(a, b, "x").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(panel.keySet == Set("ks", "psi", "wasserstein"))
    assert(panel("ks") == Drift.ksStatistic(a, b, "x").collect()(0).getDouble(1))
    assert(panel("psi") == Drift.psi(a, b, "x").collect()(0).getDouble(1))
    assert(panel("wasserstein") ==
      Drift.wasserstein(a, b, "x").collect()(0).getDouble(1))
  }

  test("ksByGroup: the drifted segment scores, the stable one doesn't") {
    // group "s": identical on both sides → KS 0; group "d": disjoint → KS 1;
    // group "tiny": below the 5-row floor → null; group "only_before": in
    // the spine with null (absent on one side entirely)
    def mk(pairs: (String, Double)*) = pairs.toSeq.toDF("g", "x")
    val before = mk(
      (Seq.tabulate(10)(i => "s" -> (i + 1.0)) ++
       Seq.tabulate(10)(i => "d" -> (i + 1.0)) ++
       Seq("tiny" -> 1.0, "only_before" -> 1.0)): _*)
    val after = mk(
      (Seq.tabulate(10)(i => "s" -> (i + 1.0)) ++
       Seq.tabulate(10)(i => "d" -> (i + 100.0)) ++
       Seq("tiny" -> 2.0)): _*)
    val out = Drift.ksByGroup(before, after, "x", "g").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out("s").contains(0.0))
    assert(out("d").contains(1.0))
    assert(out("tiny").isEmpty && out("only_before").isEmpty)
    assert(out.size == 4)
    // per-group values agree with the single-group statistic
    val whole = Drift.ksStatistic(
      before.filter(col("g") === "d").select("x"),
      after.filter(col("g") === "d").select("x"), "x")
      .collect()(0).getDouble(1)
    assert(out("d").contains(whole))
  }

  test("wasserstein: identical samples → 0; pure shift → the shift") {
    val a = (1 to 100).map(_.toDouble).toDF("x")
    assert(Drift.wasserstein(a, a, "x").collect()(0).getDouble(1) == 0.0)
    val b = (1 to 100).map(_ + 7.25).toDF("x")
    val w = Drift.wasserstein(a, b, "x").collect()(0).getDouble(1)
    assert(math.abs(w - 7.25) < 1e-12, s"shift W1 = $w")
  }

  test("wasserstein: matches hand-computed EMD") {
    // A = {1,1,2}, B = {2,3}; merged grid 1,2,3:
    // |F_A−F_B| on [1,2) = 2/3, on [2,3) = |1 − 1/2| = 1/2 → W1 = 7/6
    val a = Seq(1.0, 1.0, 2.0).toDF("x")
    val b = Seq(2.0, 3.0).toDF("x")
    val w = Drift.wasserstein(a, b, "x").collect()(0).getDouble(1)
    assert(math.abs(w - 7.0 / 6.0) < 1e-12, s"W1 = $w")
  }

  test("wasserstein: quantized-sum dispatch exercised on BOTH sides of the 1e15 range gate") {
    // Just BELOW the gate the order-free integer path runs at its
    // documented worst-case mass: |F₁−F₂| = 0.5 across the whole ~1e15
    // range puts Σq ≈ 0.5·range·2⁶² ≈ 2.3e33 — the near-ceiling case
    // the scaladoc claims stays 5 orders under DECIMAL(38,0). A = {0, X},
    // B = {X, X}: CDF gap 0.5 on [0, X) → W1 = X/2 exactly.
    val xIn = 9.9e14
    val wIn = Drift.wasserstein(
      Seq(0.0, xIn).toDF("x"), Seq(xIn, xIn).toDF("x"), "x")
      .collect()(0).getDouble(1)
    assert(math.abs(wIn - xIn / 2) <= 1e-9 * xIn, s"below-gate W1 = $wIn")
    // Just ABOVE the gate range_ok flips false and the legacy double sum
    // takes over — same answer, honest ±n·ε accumulation.
    val xOut = 2.0e15
    val wOut = Drift.wasserstein(
      Seq(0.0, xOut).toDF("x"), Seq(xOut, xOut).toDF("x"), "x")
      .collect()(0).getDouble(1)
    assert(math.abs(wOut - xOut / 2) <= 1e-9 * xOut, s"above-gate W1 = $wOut")
  }

  test("wasserstein: sub-cent value gaps are measured, not rounded away") {
    // Regression for the DECIMAL(18,2) width policy: a pure 0.003 shift
    // on a probability-scaled column must read as W1 = 0.003, not 0
    // (cents quantization rounded every width to zero here).
    val a = Seq(0.001, 0.002, 0.004).toDF("x")
    val b = Seq(0.004, 0.005, 0.007).toDF("x")
    val w = Drift.wasserstein(a, b, "x").collect()(0).getDouble(1)
    assert(math.abs(w - 0.003) < 1e-15, s"sub-cent shift W1 = $w")
  }

  test("ksByGroup: group-cardinality guard trips loudly; under the cap results are unchanged") {
    val a = (1 to 40).map(i => (i % 20, i.toDouble)).toDF("g", "x")
    val b = (1 to 40).map(i => (i % 20, i.toDouble + 1)).toDF("g", "x")
    val e = intercept[IllegalArgumentException] {
      Drift.ksByGroup(a, b, "x", "g", maxGroups = 10)
    }
    assert(e.getMessage.contains("distinct"), e.getMessage)
    // same inputs under the cap: the spine covers every group
    val ok = Drift.ksByGroup(a, b, "x", "g", maxGroups = 20).collect()
    assert(ok.length == 20)
  }

  test("ksByGroup plan maps groups by broadcast join — no Scala UDF in the row path") {
    val a = Seq(("u", 1.0), ("u", 2.0), ("v", 3.0)).toDF("g", "x")
    val plan = Drift.ksByGroup(a, a, "x", "g")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"scala UDF in ksByGroup plan:\n$plan")
  }

  test("wasserstein: empty side → null") {
    val a = Seq(1.0, 2.0).toDF("x")
    val e = Seq.empty[Double].toDF("x")
    val rows = Drift.wasserstein(a, e, "x").collect()
    assert(rows.isEmpty || rows(0).isNullAt(1))
  }

  test("ks: matches hand-computed two-sample statistic") {
    // a = {1,2,3,4}, b = {3,4,5,6}: D = 1/2 at x∈[2,3)... computed exactly:
    // F_a after 2 = 0.5, F_b = 0 → D = 0.5
    val a = Seq(1.0, 2.0, 3.0, 4.0, 5.0).toDF("x")
    val b = Seq(3.0, 4.0, 5.0, 6.0, 7.0).toDF("x")
    val ks = Drift.ksStatistic(a, b, "x").collect()(0).getDouble(1)
    assert(math.abs(ks - 0.4) < 1e-12) // max gap: after 2 → 2/5 - 0 = 0.4
  }

  test("ks: null when a side has < 5 rows") {
    val a = Seq(1.0, 2.0).toDF("x")
    val b = (1 to 10).map(_.toDouble).toDF("x")
    assert(Drift.ksStatistic(a, b, "x").collect()(0).isNullAt(1))
  }

  test("chi2-like: identical tables → 0") {
    val df = Seq("a", "a", "b").toDF("v")
    val m = Drift.chi2Drift(df, df, "v").collect()(0).getDouble(1)
    assert(math.abs(m) < 1e-9)
  }

  test("chi2-like: reference formula incl. 1e-9, null counts as NA") {
    val a = Seq(Some("x"), Some("x"), None).toDF("v")       // x:2, NA:1
    val b = Seq(Some("x"), Some("y")).toDF("v")             // x:1, y:1
    val m = Drift.chi2Drift(a, b, "v").collect()(0).getDouble(1)
    val expected = math.pow(2 - 1, 2) / (3 + 1e-9) +        // x
      math.pow(1 - 0, 2) / (1 + 1e-9) +                     // NA
      math.pow(0 - 1, 2) / (1 + 1e-9)                       // y
    assert(math.abs(m - expected) < 1e-12)
  }

  test("driftAll / driftAllExtended: driver tail and windowed plan tail agree bit-exactly") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Any)] =
      df.collect().toSeq.map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    def agree(b: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame): Unit = {
      val d3d = rows(Drift.driftAll(b, a, driverTail = Some(true)))
      val d3p = rows(Drift.driftAll(b, a, driverTail = Some(false)))
      assert(d3d == d3p, s"\ndriver: $d3d\nplan:   $d3p")
      val dxd = rows(Drift.driftAllExtended(b, a, driverTail = Some(true)))
      val dxp = rows(Drift.driftAllExtended(b, a, driverTail = Some(false)))
      assert(dxd == dxp, s"\ndriver: $dxd\nplan:   $dxp")
    }
    // the exact d3/d_drift_extended catalog shapes
    val li = graft.Tables.lineitem(spark, Sf)
    val after = li.filter(col("l_orderkey") % 2 === 1).drop("l_tax")
    agree(li, after)
    // numeric-only: driftAllExtended's single-family psiMulti leg
    val num = Seq("l_quantity", "l_extendedprice", "l_discount")
    agree(li.select(num.map(col): _*), after.select(num.map(col): _*))
    // nulls bucketing + an all-null column + empty after side
    val b2 = Seq((Some("a"), Some(1.0)), (None, None), (Some("b"), Some(2.0)))
      .toDF("k", "v")
    val a2 = Seq((Some("b"), Some(2.0)), (Some("c"), None), (None, Some(3.0)))
      .toDF("k", "v")
    agree(b2, a2)
    agree(b2, b2.filter(lit(false)))
    // byte-order-sensitive keys (supplementary plane sorts AFTER ￿ in
    // UTF-8 byte order but BEFORE it in UTF-16 order — the twin must walk
    // the plan's byte order) + a negative-JS-term shape (max ≠ last)
    agree(Seq("￿", "😀", "a", "a", "a", "z").toDF("k"),
      Seq("😀", "😀", "a", "z", "z", "q").toDF("k"))
    // distinct invalid-UTF-8 keys: 0xC3 and 0xC0 both decode leniently to
    // U+FFFD, but the plan groups them apart — so must the driver tail, in
    // the categorical-only and the mixed-family shapes
    def keys(hex: String*) = hex.toDF("h").select(unhex(col("h")).cast("string").as("k"))
    val b4 = keys("C3", "C3", "C0", "61")
    val a4 = keys("C3", "C0", "C0", "61", "61")
    agree(b4, a4)
    agree(b4.withColumn("v", lit(1.0)), a4.withColumn("v", lit(2.0)))
  }

  test("driftAll: dispatch + silent skip of columns missing in after") {
    val before = Seq((1.0, "a", 2.0)).toDF("num", "cat", "dropped")
    val after = Seq((1.0, "a")).toDF("num", "cat")
    val rows = Drift.driftAll(before, after).collect()
    assert(rows.map(_.getString(0)).sameElements(Array("cat", "num")))
    assert(rows.find(_.getString(0) == "num").get.getString(1) == "ks")
    assert(rows.find(_.getString(0) == "cat").get.getString(1) == "chi2_like")
  }

  test("psi: identical distributions → 0") {
    val df = (1 to 200).map(_.toDouble).toDF("x")
    val v = Drift.psi(df, df, "x").collect()(0)
    assert(v.getString(0) == "x" && v.getDouble(1) == 0.0)
  }

  test("psi: shifted distribution → positive; empty side → null") {
    val a = (1 to 200).map(_.toDouble).toDF("x")
    val b = (101 to 300).map(_.toDouble).toDF("x")
    assert(Drift.psi(a, b, "x").collect()(0).getDouble(1) > 0.5)
    val empty = Seq.empty[Double].toDF("x")
    assert(Drift.psi(a, empty, "x").collect()(0).isNullAt(1))
  }

  test("psi: after-side values outside the before range land in edge bins (eps floor)") {
    // before spans [1,100]; after sits entirely above → all its mass in the
    // top bin; every other bin's pb is eps-floored, psi stays finite
    val a = (1 to 100).map(_.toDouble).toDF("x")
    val b = (1000 to 1100).map(_.toDouble).toDF("x")
    val v = Drift.psi(a, b, "x").collect()(0).getDouble(1)
    assert(!v.isNaN && !v.isInfinite && v > 1.0)
  }

  test("js: identical → 0, disjoint → ln 2, empty side → null") {
    val a = Seq("x", "x", "y").toDF("v")
    assert(Drift.jsDivergence(a, a, "v").collect()(0).getDouble(1) == 0.0)
    val b = Seq("z", "w").toDF("v")
    val dis = Drift.jsDivergence(a, b, "v").collect()(0).getDouble(1)
    assert(math.abs(dis - math.log(2)) < 1e-6)
    val empty = Seq.empty[String].toDF("v")
    assert(Drift.jsDivergence(a, empty, "v").collect()(0).isNullAt(1))
  }

  test("psiMulti: fused multi-column values equal the single-column form") {
    val li = graft.Tables.lineitem(spark, Sf)
    val before = li.filter(col("l_orderkey") % 2 === 0)
    val after = li.filter(col("l_orderkey") % 2 === 1)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val multi = Drift.psiMulti(before, after, cols).toMap
    cols.foreach { c =>
      val single = Drift.psi(before, after, c).collect()(0).getDouble(1)
      assert(multi(c).contains(single), s"$c: ${multi(c)} vs $single")
    }
  }

  test("driftAllExtended: psi for numerics, js for categoricals, skips missing columns") {
    val before = Seq((1.0, "a", 2.0), (2.0, "b", 3.0), (3.0, "a", 4.0)).toDF("num", "cat", "dropped")
    val after = Seq((1.0, "a"), (2.0, "c")).toDF("num", "cat")
    val rows = Drift.driftAllExtended(before, after).collect()
    assert(rows.map(_.getString(0)).sameElements(Array("cat", "num")))
    assert(rows.find(_.getString(0) == "num").get.getString(1) == "psi")
    assert(rows.find(_.getString(0) == "cat").get.getString(1) == "js")
  }

  test("js: nulls bucket as NA; hand-computed two-category value") {
    // a: {x:1, NA:1}  b: {x:1}  → p=(.5,.5) q=(1,0) m=(.75,.25)
    // JS = .5·(.5·ln(.5/.75) + .5·ln(.5/.25)) + .5·(1·ln(1/.75))
    val a = Seq(Some("x"), None).toDF("v")
    val b = Seq(Some("x")).toDF("v")
    val expected = 0.5 * (0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)) +
      0.5 * (1.0 * math.log(1.0 / 0.75))
    val got = Drift.jsDivergence(a, b, "v").collect()(0).getDouble(1)
    assert(math.abs(got - expected) < 1e-6)
  }
}

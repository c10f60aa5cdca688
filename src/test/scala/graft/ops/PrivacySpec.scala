package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("sdcSuppress: rare values become OTHER; fitted and join forms agree") {
    // the null group is counted like any value: two nulls are rare
    val df = (Seq.fill(10)("common") ++ Seq("rare1", "rare2", "rare2", null, null)).toDF("v")
    for (out <- Seq(Privacy.sdcSuppress(df, Seq("v"), 5),
                    Privacy.sdcSuppressBroadcast(df, Seq("v"), 5))) {
      val counts = out.groupBy("v").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("common" -> 10L, "OTHER" -> 5L))
    }
  }

  test("V1: rare keys that are not valid UTF-8 are suppressed by every entry point") {
    // 100 × "A", 25 common keys × 5 (so V5 suggests suppression: > 20
    // distinct), and two byte-distinct invalid keys × 3 each, which a
    // lenient decode merges into one String counted 6
    val bad = Seq(Array(0xC3.toByte, 0x28.toByte), Array(0xC4.toByte, 0x28.toByte))
    val rows = Seq.fill(100)("A".getBytes("UTF-8")) ++
      (0 until 25).flatMap(i => Seq.fill(5)(f"k$i%02d".getBytes("UTF-8"))) ++
      bad.flatMap(Seq.fill(3)(_))
    val mem = rows.toDF("raw").select(col("raw").cast("string").as("v"))
    val path = java.nio.file.Files.createTempDirectory("v1_badutf8").toString + "/t.parquet"
    mem.write.mode("overwrite").parquet(path)
    def others(df: org.apache.spark.sql.DataFrame) = df.filter(col("v") === "OTHER").count()
    for (df <- Seq(mem, spark.read.parquet(path))) {
      assert(others(Privacy.sdcSuppressBroadcast(df, Seq("v"), 5)) == 6L)
      assert(others(Privacy.sdcSuppress(df, Seq("v"), 5)) == 6L)
      val auto = new graft.core.GraftSession(spark).uploadAnon(df).protectAuto(sdcThreshold = 5)
      assert(others(auto) == 6L)
    }
  }

  test("sdcSuppress skips non-string columns silently") {
    val df = Seq((1.0, "x")).toDF("num", "s")
    val out = Privacy.sdcSuppress(df, Seq("num", "s"), 5)
    assert(out.schema("num").dataType.typeName == "double")
  }

  test("generalizeNumeric: ≤ bins labels, covers all rows, label format") {
    // the second input has 3+ decimals: cents-rounded edges would read
    // 0.00 … 0.10 and leave 0.1004 outside every bin (a null label); the
    // raw edges are 0.0014 … 0.1004
    val outs = Seq((1 to 100).map(_.toDouble), (1 to 100).map(i => i / 1000.0 + 0.0004))
      .map(xs => Privacy.generalizeNumeric(xs.toDF("x"), "x", 10))
    for (out <- outs) {
      val labels = out.select("x").distinct().collect().map(_.getString(0))
      assert(labels.length <= 10)
      assert(labels.forall(_.matches("""\[\d+\.\d{2}, \d+\.\d{2}[\)\]]""")))
      assert(out.filter(col("x").isNull).count() == 0)
    }
    assert(outs(1).filter(col("x") === "[0.09, 0.10]").count() == 10)
  }

  test("generalizeNumeric: duplicate edges merged (skewed data)") {
    val df = (Seq.fill(95)(1.0) ++ Seq(2.0, 3.0, 4.0, 5.0, 6.0)).toDF("x")
    val out = Privacy.generalizeNumeric(df, "x", 10)
    assert(out.select("x").distinct().count() <= 10)
    assert(out.filter(col("x").isNull).count() == 0)
  }

  test("dpNoise: seeded, mean shift → 0, scale ≈ b for large n") {
    val n = 200000
    val df = spark.range(n).select(lit(10.0).as("x"))
    val eps = 1.0
    val noised = Privacy.dpNoise(df, Seq("x"), eps, 1.0, seed = 7L)
    val stats = noised.agg(avg("x"), stddev_samp("x")).collect()(0)
    // Laplace(0, b=1): mean 10, std sqrt(2)·b
    assert(math.abs(stats.getDouble(0) - 10.0) < 0.05)
    assert(math.abs(stats.getDouble(1) - math.sqrt(2.0)) < 0.05)
    // seeded determinism under fixed partitioning
    val again = Privacy.dpNoise(df, Seq("x"), eps, 1.0, seed = 7L)
      .agg(avg("x")).collect()(0).getDouble(0)
    assert(again == stats.getDouble(0))
  }

  test("dpHistogram: partition-invariant, ε→∞ recovers exact counts, noise scale sane") {
    val df = (Seq.fill(1000)("a") ++ Seq.fill(500)("b") ++ Seq.fill(10)("c")).toDF("k")
    // determinism under ANY partitioning — the release contract
    val r1 = Privacy.dpHistogram(df, "k", epsilon = 1.0).collect().toSeq
    val r2 = Privacy.dpHistogram(df.repartition(13), "k", epsilon = 1.0).collect().toSeq
    assert(r1.map(_.toSeq) == r2.map(_.toSeq))
    // ε huge → b→0 → rounded release is the exact histogram
    val exact = Privacy.dpHistogram(df, "k", epsilon = 1e9)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == Map("a" -> 1000L, "b" -> 500L, "c" -> 10L))
    // ε=1 (b=1): released counts stay within a generous Laplace envelope
    val released = r1.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(released("a") - 1000L) <= 15 && released("c") >= 0L)
    // nulls fold into the NA bucket rather than a null key
    val withNull = (Seq("a", null, null): Seq[String]).toDF("k")
    val keys = Privacy.dpHistogram(withNull, "k", epsilon = 1e9)
      .collect().map(_.getString(0)).toSet
    assert(keys == Set("a", "NA"))
  }

  test("dpMean: deterministic, ε→∞ recovers the clipped mean, clipping binds") {
    val df = (Seq.fill(100)(10.0) ++ Seq(1000.0)).toDF("x") // outlier clips to hi
    val r1 = Privacy.dpMean(df, "x", lo = 0.0, hi = 20.0, epsilon = 1.0).collect()(0)
    val r2 = Privacy.dpMean(df.repartition(7), "x", lo = 0.0, hi = 20.0, epsilon = 1.0)
      .collect()(0)
    assert(r1.toSeq == r2.toSeq, "release must be partition-invariant")
    // ε huge → noise ~0 → exact clipped mean (100·10 + 1·20)/101
    val exact = Privacy.dpMean(df, "x", lo = 0.0, hi = 20.0, epsilon = 1e12)
      .collect()(0).getDouble(2)
    assert(math.abs(exact - 1020.0 / 101.0) < 1e-6, s"got $exact")
    // ε=1 release stays within a generous Laplace envelope of the truth
    assert(math.abs(r1.getDouble(2) - 1020.0 / 101.0) < 5.0)
  }

  test("syntheticSample: huge money values don't overflow the moment accumulators") {
    // cents ≈ 3.5e9 / 4.2e9: cents² exceeds Long.MaxValue, so a naive
    // long Σcents² wraps negative and collapses σ to the 1.0 fallback
    val big = Seq.fill(1000)(35000000.00) ++ Seq.fill(1000)(42000000.00)
    val out = Privacy.syntheticSample(big.toDF("x"), Seq("x"), seed = 1L)
    val stats = out.agg(avg("x"), stddev_samp("x")).head()
    assert(math.abs(stats.getDouble(0) - 38500000.0) < 2000000.0)
    // true σ = 3.5e6; a broken fit (σ→1) would leave only the bootstrap
    // half's spread (~2.5e6 overall)
    assert(math.abs(stats.getDouble(1) - 3500000.0) < 500000.0, stats.getDouble(1).toString)
  }

  // both fitting paths must produce statistically equivalent output; the
  // auto dispatch (None) picks one of them from the plan size estimate
  for ((label, fit) <- Seq("driver fit" -> Some(true),
                           "distributed fit" -> Some(false),
                           "auto fit" -> None))
  test(s"syntheticSample ($label): n rows, numeric moments within tolerance, PMF preserved") {
    val src = graft.Tables.lineitem(spark, Sf)
    val n = 6000L
    val out = Privacy.syntheticSample(src, Seq("l_quantity", "l_returnflag"), n,
      seed = 42L, driverFit = fit)
    assert(out.count() == n)
    val srcStats = src.agg(avg("l_quantity"), stddev_samp("l_quantity")).collect()(0)
    val outStats = out.agg(avg("l_quantity"), stddev_samp("l_quantity")).collect()(0)
    assert(math.abs(srcStats.getDouble(0) - outStats.getDouble(0)) < 1.5)
    assert(math.abs(srcStats.getDouble(1) - outStats.getDouble(1)) < 1.5)
    val srcPmf = Profile.categoryPmf(src, "l_returnflag").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val outPmf = Profile.categoryPmf(out, "l_returnflag").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    srcPmf.foreach { case (k, p) => assert(math.abs(outPmf(k) - p) < 0.05) }
  }

  test("syntheticSample distributed fit: wide sparse domains bucket without losing the support or the moments") {
    // span 10^8 cents > the 65536-bucket ceiling → the r11 bucketed fit
    // engages; the two distinct values land in distinct buckets, so each
    // knot is exactly its bucket's (single) value and the bootstrap half
    // draws only source values; μ/σ come from the exact moment job
    val src = (Seq.fill(500)(0.00) ++ Seq.fill(500)(1000000.00)).toDF("x")
    val out = Privacy.syntheticSample(src, Seq("x"), 4000L,
      seed = 7L, driverFit = Some(false))
    assert(out.count() == 4000L)
    // first half of __row_id order is the bootstrap — but row ids are
    // dropped; instead check every value is either a source value or a
    // gaussian draw, and that BOTH source values appear (knots survived)
    val vals = out.collect().map(_.getDouble(0))
    val boot = vals.filter(v => v == 0.0 || v == 1000000.0)
    assert(boot.length >= 1500, s"bootstrap half lost the support: ${boot.length}")
    assert(boot.count(_ == 0.0) > 300 && boot.count(_ == 1000000.0) > 300)
    val stats = out.agg(avg("x"), stddev_samp("x")).head()
    assert(math.abs(stats.getDouble(0) - 500000.0) < 50000.0)
  }

  // FuzzSpec privacy seed 19 regression (r11 verdict #1): a CONSTANT
  // column has σ_src = 0, so the fit's declared `σ or 1.0` fallback
  // (reference A8 semantics) makes the gaussian half draw N(μ, 1). The
  // audit envelope must therefore pool σ_synth, not degenerate to its
  // 1e-6 slack — these hand-pin the derivation the catalog audit uses.
  for ((label, fit) <- Seq("driver fit" -> Some(true),
                           "distributed fit" -> Some(false)))
  test(s"syntheticSample ($label): constant column stays inside the pooled σ-or-1.0 envelopes (fuzz seed 19)") {
    val n = 400
    val src = Seq.fill(n)(42.42).toDF("x")
    val out = Privacy.syntheticSample(src, Seq("x"), seed = 42L, driverFit = fit)
    val vals = out.collect().map(_.getDouble(0))
    assert(vals.length == n)
    // bootstrap half: draws from a single knot — exactly the constant
    assert(vals.count(_ == 42.42) >= n / 2)
    // pooled CLT envelope: 6·sqrt((σ_src² + σ_synth²)/2)/√n, σ_synth = 1
    val mean = vals.sum / n
    assert(math.abs(mean - 42.42) <= 6.0 * math.sqrt(0.5) / math.sqrt(n.toDouble) + 1e-6,
      s"synthetic mean $mean outside the pooled envelope")
    assert(vals.min >= 42.42 - 6.0 && vals.max <= 42.42 + 6.0,
      s"range [${vals.min}, ${vals.max}] outside μ ± 6σ_synth")
  }

  test("syntheticSample distributed fit: NaN rows don't bias μ/σ (moment divisor counts cents, not raw rows)") {
    // r11 ADVICE: the at-scale fit divided exact moment sums (which
    // exclude NaN — cents casts it to null) by count(col) (which counts
    // NaN), biasing μ toward zero on NaN-bearing columns. Here the
    // non-NaN mean is 150; the buggy divisor gave μ = 75 and an output
    // mean near 112.5.
    val src = (Seq.fill(500)(100.0) ++ Seq.fill(500)(200.0) ++
      Seq.fill(1000)(Double.NaN)).toDF("x")
    val out = Privacy.syntheticSample(src, Seq("x"), 4000L,
      seed = 3L, driverFit = Some(false))
    val stats = out.agg(avg("x")).head()
    assert(math.abs(stats.getDouble(0) - 150.0) < 10.0,
      s"output mean ${stats.getDouble(0)} != non-NaN source mean 150")
  }

  test("syntheticSample auto dispatch: tiny input chooses the driver path, a huge size estimate the distributed path") {
    // 2dp values so both paths are available; the assertion is on the
    // dispatch predicate itself (plan-stats based, no job)
    val tiny = Seq(1.25, 2.50, 3.75).toDF("x")
    assert(tiny.queryExecution.optimizedPlan.stats.sizeInBytes <= (BigInt(8L) << 30))
    // crossJoins inflate the estimate multiplicatively past any ceiling
    val huge = graft.Tables.lineitem(spark, Sf)
      .crossJoin(graft.Tables.lineitem(spark, Sf).select(col("l_orderkey").as("k2")))
      .crossJoin(graft.Tables.lineitem(spark, Sf).select(col("l_orderkey").as("k3")))
    assert(huge.queryExecution.optimizedPlan.stats.sizeInBytes > (BigInt(8L) << 30))
  }

  test("smartSuggest dispatch rules") {
    val df = Seq.tabulate(60)(i => (i.toDouble, (i % 3).toDouble, s"cat$i", "low"))
      .toDF("high_card_num", "low_card_num", "high_card_str", "low_card_str")
    val sug = Privacy.smartSuggest(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sug("high_card_num") == "generalize+dp")
    assert(sug("low_card_num") == "dp")
    assert(sug("high_card_str") == "sdc")
    assert(!sug.contains("low_card_str"))
  }

  test("quasiSuggestions intersects static list with columns") {
    val df = Seq((1, "m", 50000.0)).toDF("age", "gender", "income")
    assert(Privacy.quasiSuggestions(df) == Seq("age", "gender", "income"))
  }

  test("k-anonymity: min group size, rows below k, boundary at k") {
    val df = Seq(
      ("a", 1), ("a", 1), ("a", 1),           // group of 3
      ("b", 2), ("b", 2),                     // group of 2
      ("c", 3)                                // singleton
    ).toDF("q1", "q2")
    val r = Privacy.kAnonymity(df, Seq("q1", "q2"), k = 3).head()
    assert(r.getLong(0) == 1L)    // k_min (the singleton)
    assert(r.getLong(1) == 3L)    // groups
    assert(r.getLong(2) == 3L)    // rows in groups below 3: the 2-group + singleton
    assert(math.abs(r.getDouble(3) - 50.0) < 1e-12)
  }

  test("l-diversity: homogeneous group drives l_min to 1") {
    val df = Seq(
      ("a", "x"), ("a", "y"),   // diverse group, l=2
      ("b", "z"), ("b", "z")    // homogeneous group, l=1
    ).toDF("q", "s")
    val r = Privacy.lDiversity(df, Seq("q"), "s").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
  }

  test("t-closeness: hand TV values, 0 for identical distributions, absent cats count") {
    // A: {x,x,y,y}, B: {x,x}; global p = (2/3, 1/3)
    // TV(A) = ½(|½−⅔| + |½−⅓|) = 1/6; TV(B) = ½(|1−⅔| + ⅓) = 1/3 (y absent in B)
    val df = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("A", "y"),
      ("B", "x"), ("B", "x")).toDF("q", "s")
    val r = Privacy.tCloseness(df, Seq("q"), "s").head()
    assert(math.abs(r.getDouble(0) - 1.0 / 3.0) < 1e-15 && r.getLong(1) == 2L)
    // every group mirrors the global distribution → t = 0 exactly
    val uniform = Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y")).toDF("q", "s")
    val r0 = Privacy.tCloseness(uniform, Seq("q"), "s").head()
    assert(r0.getDouble(0) == 0.0)
    // partitioning invariance (integer numerators, one division)
    val a = Privacy.tCloseness(df.repartition(5), Seq("q"), "s").head()
    assert(a.getDouble(0) == r.getDouble(0))
  }
}

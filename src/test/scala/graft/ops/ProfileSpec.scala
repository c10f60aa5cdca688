package graft.ops

import graft.SparkSpec
import graft.io.FastPath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mixed = Seq(
    (Some(1.0), Some("a")), (Some(2.0), Some("b")), (None, Some("b")),
    (Some(4.0), None), (Some(2.5), Some("a"))
  ).toDF("x", "s")

  test("skewReport: heavy hitter ranks first, uniform key scores skew 1") {
    import spark.implicits._
    val skewed = (Seq.fill(90)("hot") ++ Seq.fill(5)("warm") ++
      Seq("a", "b", "c", "d", null)).toDF("k")
    val rows = Profile.skewReport(skewed, "k", topK = 3).collect()
    assert(rows.length == 3)
    assert(rows(0).getString(1) == "hot" && rows(0).getLong(2) == 90L)
    assert(rows(0).getInt(0) == 1)
    assert(math.abs(rows(0).getDouble(3) - 0.9) < 1e-15)       // pct
    // skew = max·distinct/total = 90·7/100
    assert(math.abs(rows(0).getDouble(4) - 6.3) < 1e-12)
    // null folds into "NA", which wins the 1-count tie on key order
    assert(rows(2).getString(1) == "NA" && rows(2).getLong(2) == 1L)
    val uniform = (1 to 100).map(i => s"k${i % 10}").toDF("k")
    val u = Profile.skewReport(uniform, "k", topK = 2).collect()
    assert(u.forall(r => r.getDouble(4) == 1.0))
  }

  test("cramersV: perfect association 1, independence 0, degenerate margin null") {
    import spark.implicits._
    // x determines y exactly → V = 1
    val perfect = Seq(("a", "p"), ("a", "p"), ("b", "q"), ("b", "q")).toDF("x", "y")
    assert(Profile.cramersV(perfect, "x", "y").collect()(0).getDouble(2) == 1.0)
    // balanced independent grid → V = 0
    val indep = (for { x <- Seq("a", "b"); y <- Seq("p", "q") } yield (x, y)).toDF("x", "y")
    assert(Profile.cramersV(indep, "x", "y").collect()(0).getDouble(2) == 0.0)
    // single-category margin → undefined → null
    val degen = Seq(("a", "p"), ("a", "q")).toDF("x", "y")
    assert(Profile.cramersV(degen, "x", "y").collect()(0).isNullAt(2))
  }

  test("histogram: zero-filled spine, max in last bin, constant and empty edges") {
    import spark.implicits._
    val df = Seq(0.0, 1.0, 5.0, 9.9, 10.0).toDF("x")
    val rows = Profile.histogram(df, "x", bins = 5).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(3)).sum == 5L)
    assert(rows(0).getLong(3) == 2L)          // 0.0, 1.0 in [0, 2)
    assert(rows(4).getLong(3) == 2L)          // 9.9 and max 10.0 in last bin
    assert(rows(1).getLong(3) == 0L)          // empty bin present, not missing
    assert(rows(0).getDouble(1) == 0.0 && rows(4).getDouble(2) == 10.0)
    // constant column: everything in bin 0
    val const = Profile.histogram(Seq(3.0, 3.0).toDF("x"), "x", bins = 4).collect()
    assert(const(0).getLong(3) == 2L && const.drop(1).forall(_.getLong(3) == 0L))
    // empty input: spine survives with null edges and zero counts
    val empty = Profile.histogram(Seq.empty[Double].toDF("x"), "x", bins = 3).collect()
    assert(empty.length == 3 && empty.forall(r => r.isNullAt(1) && r.getLong(3) == 0L))
  }

  test("profile: counts, missing, unique on mixed nulls") {
    val p = Profile.profile(mixed).collect().map(r => r.getString(0) -> r).toMap
    val x = p("x")
    assert(x.getLong(2) == 5)                   // n_total
    assert(x.getLong(3) == 1)                   // n_missing
    assert(math.abs(x.getDouble(4) - 20.0) < 1e-12) // missing_pct
    assert(x.getLong(5) == 4)                   // n_unique
    val s = p("s")
    assert(s.getLong(3) == 1 && s.getLong(5) == 2)
  }

  test("profile: mean/std match pandas ddof=1 semantics") {
    val p = Profile.profile(mixed).collect().map(r => r.getString(0) -> r).toMap
    val x = p("x")
    // values 1.0, 2.0, 4.0, 2.5 → mean 2.375, std ddof=1
    assert(math.abs(x.getDouble(6) - 2.375) < 1e-12)
    val expectedStd = math.sqrt(Seq(1.0, 2.0, 4.0, 2.5)
      .map(v => math.pow(v - 2.375, 2)).sum / 3)
    assert(math.abs(x.getDouble(7) - expectedStd) < 1e-12)
  }

  test("profile: constant column std is 0, single-value quantiles collapse") {
    val const = Seq(7.0, 7.0, 7.0).toDF("c")
    val row = Profile.profile(const).collect()(0)
    assert(row.getDouble(7) == 0.0)
    assert(row.getDouble(9) == 7.0 && row.getDouble(10) == 7.0)
  }

  test("profile: all-null column") {
    val nulls = Seq[Option[Double]](None, None).toDF("n")
    val row = Profile.profile(nulls).collect()(0)
    assert(row.getLong(3) == 2 && row.getLong(5) == 0)
  }

  test("profileApprox: same schema as profile, sketch values inside the error envelope") {
    val li = graft.Tables.lineitem(spark, Sf)
    val exact = Profile.profile(li).collect().map(r => r.getString(0) -> r).toMap
    val approx = Profile.profileApprox(li).collect().map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet)
    val cols = Profile.profile(li).columns.toSeq
    assert(cols == Profile.profileApprox(li).columns.toSeq, "schemas must match")
    exact.foreach { case (name, e) =>
      val a = approx(name)
      assert(a.getLong(2) == e.getLong(2) && a.getLong(3) == e.getLong(3),
        s"$name: counts must be exact even in the sketch path")
      // HLL++ relative error at default rsd 0.05: allow 10%
      val (ue, ua) = (e.getLong(5), a.getLong(5))
      assert(math.abs(ua - ue) <= math.max(2L, (0.10 * ue).toLong),
        s"$name: approx distinct $ua vs exact $ue")
      if (!e.isNullAt(7)) { // numeric: median within 2% of span + one domain
        // step (approx_percentile returns an ELEMENT; the exact profile
        // interpolates, so tiny-domain columns differ by up to one step)
        val span = math.max(1e-9, e.getDouble(12) - e.getDouble(8)) // max - min
        val step = span / math.max(1L, ue - 1)
        assert(math.abs(a.getDouble(10) - e.getDouble(10)) <= 0.02 * span + step,
          s"$name: approx median ${a.getDouble(10)} vs ${e.getDouble(10)}")
        assert(a.getDouble(8) == e.getDouble(8) && a.getDouble(12) == e.getDouble(12),
          s"$name: min/max are exact aggregates and must agree")
      }
    }
  }

  test("mode: smallest value wins ties (pandas mode().iloc[0])") {
    val df = Seq("b", "a", "b", "a", "c").toDF("v")
    val m = Profile.mode(df, "v").collect()(0)
    assert(m.getString(0) == "a" && m.getLong(1) == 2)
  }

  test("valueCounts includes null group") {
    val df = Seq(Some("x"), None, Some("x"), None, None).toDF("v")
    val vc = Profile.valueCounts(df, "v").collect()
    assert(vc(0).isNullAt(0) && vc(0).getLong(1) == 3)
    assert(vc(1).getString(0) == "x" && vc(1).getLong(1) == 2)
  }

  test("rareCategories respects threshold") {
    val df = (Seq.fill(10)("big") ++ Seq("rare1", "rare2")).toDF("v")
    val rare = Profile.rareCategories(df, "v", 5).collect().map(_.getString(0))
    assert(rare.sameElements(Array("rare1", "rare2")))
  }

  test("categoryPmf sums to 1") {
    val pmf = Profile.categoryPmf(Seq("a", "a", "b", "c").toDF("v"), "v").collect()
    assert(math.abs(pmf.map(_.getDouble(2)).sum - 1.0) < 1e-12)
    assert(pmf(0).getString(0) == "a" && math.abs(pmf(0).getDouble(2) - 0.5) < 1e-12)
  }

  test("correlationMatrix: hand values, pairwise-complete nulls, constant → null") {
    val df = Seq(
      (Some(1.0), Some(2.0), Some(5.0)),
      (Some(2.0), Some(4.0), Some(5.0)),
      (Some(3.0), Some(6.0), None),
      (Some(4.0), None, Some(5.0)))
      .toDF("x", "y", "c")
    val rows = Profile.correlationMatrix(df, Seq("x", "y", "c")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // y = 2x on its 3 complete rows → corr exactly 1
    assert(rows(("x", "y")) == (3L, Some(1.0)))
    // c is constant on its complete rows → zero variance → null
    assert(rows(("x", "c")) == (3L, None))
    assert(rows(("y", "c")) == (2L, None))
    // anti-correlated pair
    val df2 = Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)).toDF("a", "b")
    val r2 = Profile.correlationMatrix(df2, Seq("a", "b")).collect()(0)
    assert(r2.getDouble(3) == -1.0)
  }

  test("correlationMatrix: columns past the long-safe cents domain stay exact (decimal fallback)") {
    // |cents| = 1e11 > ⌊√Long.Max⌋ ≈ 3.04e9 — the long-multiply form
    // would wrap silently here; the magnitude guard must take the
    // decimal branch and still return the exact answer
    val big = Seq((1.0e9, 3.0e9), (2.0e9, 2.0e9), (3.0e9, 1.0e9)).toDF("a", "b")
    val r = Profile.correlationMatrix(big, Seq("a", "b")).collect()(0)
    assert(r.getLong(2) == 3L)
    assert(r.getDouble(3) == -1.0, s"expected exact -1.0, got ${r.getDouble(3)}")
    // mixed: one safe + one oversized column — whole matrix goes decimal,
    // answers unchanged (y = 2x → exactly 1)
    val mixed = Seq((1.0, 2.0e9), (2.0, 4.0e9), (3.0, 6.0e9)).toDF("x", "y")
    val rm = Profile.correlationMatrix(mixed, Seq("x", "y")).collect()(0)
    assert(rm.getDouble(3) == 1.0)
  }

  test("correlationMatrix: per-pair split — one oversized column must not demote safe pairs") {
    // k=3 with exactly one column past the cents bound exercises the
    // round-7 mixed regime: (x,y) rides the all-long fast aggregate,
    // (x,big)/(y,big) ride the gated hybrid, and the union must carry
    // original pair indices so labels line up. Values chosen so every
    // pair has an exact closed-form corr; a null row checks that
    // pairwise-complete counting survives the split.
    val df = Seq(
      (Some(1.0), Some(3.0), Some(2.0e9)),
      (Some(2.0), Some(2.0), Some(4.0e9)),
      (Some(3.0), Some(1.0), Some(6.0e9)),
      (Some(4.0), None, Some(8.0e9)))
      .toDF("x", "y", "big")
    val rows = Profile.correlationMatrix(df, Seq("x", "y", "big")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows.size == 3)
    assert(rows(("x", "y")) == (3L, Some(-1.0)))   // safe pair, 3 complete rows
    assert(rows(("x", "big")) == (4L, Some(1.0)))  // unsafe pair, exact in decimal
    assert(rows(("y", "big")) == (3L, Some(-1.0)))
  }

  test("correlationMatrix: mixed regime, null-free safe side takes the flat no-explode form") {
    // Same split shape as above but the safe columns carry NO nulls, so
    // the r12 mixed-regime fast path applies: the safe pair aggregates
    // flat (per-pair n == all rows), the unsafe pairs keep the hybrid —
    // values must stay exact and the union must keep pair labels aligned.
    val df = Seq(
      (1.0, 3.0, Some(2.0e9)),
      (2.0, 2.0, Some(4.0e9)),
      (3.0, 1.0, None: Option[Double]),
      (4.0, 0.0, Some(8.0e9)))
      .toDF("x", "y", "big")
    val rows = Profile.correlationMatrix(df, Seq("x", "y", "big")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows.size == 3)
    assert(rows(("x", "y")) == (4L, Some(-1.0)))   // flat: n = all 4 rows
    // unsafe pairs: pairwise-complete over big's 3 non-null rows; x/big
    // and y/big are exactly linear on those rows
    assert(rows(("x", "big")) == (3L, Some(1.0)))
    assert(rows(("y", "big")) == (3L, Some(-1.0)))
  }

  test("categoryEntropy: constant → 0, uniform → ln k, nulls bucket as NA") {
    val df = Seq(
      (Some("c"), "a"), (Some("c"), "b"), (Some("c"), "c"), (None, "d"))
      .toDF("const", "uni")
    val m = Profile.categoryEntropy(df, Seq("const", "uni")).collect()
      .map(r => r.getString(0) -> r).toMap
    // const: {c:3, NA:1} — NOT constant once nulls bucket; check explicitly
    assert(m("const").getLong(1) == 2)
    val h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(m("const").getDouble(2) - h) < 1e-6)
    assert(m("uni").getLong(1) == 4)
    assert(math.abs(m("uni").getDouble(2) - math.log(4)) < 1e-6)
    val c = Seq("z", "z", "z").toDF("only")
    val r = Profile.categoryEntropy(c, Seq("only")).collect()(0)
    assert(r.getLong(1) == 1 && r.getDouble(2) == 0.0)
  }

  test("mutualInfo: MI(X,X)=H(X), MI(X,const)=0, partitioning-invariant") {
    val docs = graft.Tables.documents(spark, Sf)
    // self-MI equals the column's entropy (both 6-dp rounded)
    val mi = Profile.mutualInfo(docs, "lang", "lang").collect()(0)
    val h = Profile.categoryEntropy(docs, Seq("lang")).collect()(0)
    assert(math.abs(mi.getDouble(3) - h.getDouble(2)) < 2e-6)
    // independence: a constant column carries no information
    val miC = Profile.mutualInfo(docs.withColumn("k", lit("c")), "lang", "k").collect()(0)
    assert(miC.getDouble(3) == 0.0 && miC.getLong(2) > 0)
    // fixed-order cumulative sum ⇒ bit-identical under any partitioning
    val a = Profile.mutualInfo(docs, "lang", "source").collect()(0)
    val b = Profile.mutualInfo(docs.repartition(17), "lang", "source").collect()(0)
    assert(a == b)
    assert(a.getDouble(3) >= 0.0 || math.abs(a.getDouble(3)) < 1e-6)
  }

  test("momentState merge is bit-identical to a from-scratch pass, any split") {
    val li = graft.Tables.lineitem(spark, Sf)
    val cols = Seq("l_quantity", "l_extendedprice", "l_orderkey")
    val whole = Profile.statsFromMomentState(
      Profile.momentState(li, cols)).collect().map(_.toSeq).toSeq
    // 3-way uneven split, then merge — decimal sums make it exact
    val parts = Seq(
      li.filter(col("l_orderkey") % 3 === 0),
      li.filter(col("l_orderkey") % 3 === 1),
      li.filter(col("l_orderkey") % 3 === 2)).map(Profile.momentState(_, cols))
    val merged = Profile.statsFromMomentState(
      Profile.mergeMomentStates(parts)).collect().map(_.toSeq).toSeq
    assert(merged == whole, "merged shard stats must equal the single pass bit-for-bit")
    // merging a state with itself doubles n but keeps the mean
    val dbl = Profile.statsFromMomentState(Profile.mergeMomentStates(
      Seq(parts.head, parts.head))).collect()
    val single = Profile.statsFromMomentState(parts.head).collect()
    dbl.zip(single).foreach { case (d, s) =>
      assert(d.getLong(1) == 2 * s.getLong(1) && d.getDouble(2) == s.getDouble(2))
    }
  }

  test("moment S1 past 10^19 computes on BOTH hiLo paths (x64 overflow regression)") {
    // The x64 curvature rehearsal measured Σcents = 1.21e19 on a key-like
    // column — one digit past the old DECIMAL(19,0) recombination cast
    // (ANSI abort). Reproduce the magnitude in miniature: 24 rows of
    // ±huge values whose Σcents ≈ 2e19 crosses BOTH the s1 width and the
    // stdFromMoments decimal-product guard (|S1| > 9e18), forcing the
    // double fallback; 40 rows at c and 40 at 3c give known moments
    // (mean 2c, std_pop c, std_samp c·sqrt(80/79)). c stays under the
    // cents-eligibility ceiling (|v| < 10¹⁶ for the Decimal(18,2) cast)
    // while Σcents = 4e19 crosses both edges.
    val c = 2.5e15 // cents = 2.5e17 per row, > LongSafeCentsAbsMax → decimal side-slots
    val rows = Seq.fill(40)(c) ++ Seq.fill(40)(3 * c)
    val df = rows.toDF("v")
    for (hiLo <- Seq(true, false)) {
      val aggs = Seq(count(col("cv")).as("v__n")) ++
        graft.ops.Exact.momentAggsPre(col("cv"), "v", hiLo)
      val got = df.select(graft.ops.Exact.cents(col("v")).as("cv"))
        .agg(aggs.head, aggs.tail: _*)
        .select(
          graft.ops.Exact.meanFromMoments(
            graft.ops.Exact.s1Col("v", hiLo), col("v__n")).as("mean"),
          graft.ops.Exact.stdFromMoments(
            graft.ops.Exact.s1Col("v", hiLo),
            graft.ops.Exact.s2Col("v", hiLo), col("v__n")).as("std"))
        .collect()(0)
      val mean = got.getDouble(0)
      val std = got.getDouble(1)
      assert(math.abs(mean - 2 * c) / (2 * c) < 1e-9, s"hiLo=$hiLo mean=$mean")
      val expStd = c * math.sqrt(80.0 / 79.0)
      assert(math.abs(std - expStd) / expStd < 1e-6, s"hiLo=$hiLo std=$std")
    }
    // end-to-end through the merge primitive: shard, merge, publish
    val parts = Seq(df.filter(col("v") <= c), df.filter(col("v") > c))
      .map(Profile.momentState(_, Seq("v")))
    val merged = Profile.statsFromMomentState(
      Profile.mergeMomentStates(parts)).collect()(0)
    assert(math.abs(merged.getDouble(2) - 2 * c) / (2 * c) < 1e-9)
    // below the guard the decimal-exact branch must be byte-identical to
    // the pre-widening behavior: small frame, std has a closed form
    val small = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val s = Profile.statsFromMomentState(
      Profile.momentState(small, Seq("v"))).collect()(0)
    assert(s.getDouble(2) == 2.5)
    assert(math.abs(s.getDouble(3) - math.sqrt(5.0 / 3.0)) < 1e-15)
  }

  test("muSigma: sigma fallback 1.0 for constant and single-row columns") {
    val const = Seq((7.0, 1.0), (7.0, 2.0)).toDF("c", "x")
    val m = Profile.muSigma(const, Seq("c", "x")).collect().map(r => r.getString(0) -> r).toMap
    assert(m("c").getDouble(2) == 1.0) // σ=0 → 1.0
    val single = Seq(5.0).toDF("y")
    val ms = Profile.muSigma(single, Seq("y")).collect()(0)
    assert(ms.getDouble(2) == 1.0) // n<2 → 1.0
  }

  test("profile: EMPTY input still emits one row per column (n_total=0)") {
    // The fused non-numeric pass explodes rows, so an empty frame used to
    // drop string/date/bool columns from the output entirely while the
    // numeric global agg kept its rows — a consumer keying on column name
    // saw the column vanish. Every column must survive an empty input.
    val empty = Seq(("a", 1.0, true)).toDF("s", "n", "b").filter(lit(false))
    val p = Profile.profile(empty).collect().map(r => r.getString(0) -> r).toMap
    assert(p.keySet == Set("s", "n", "b"))
    Seq("s", "n", "b").foreach { c =>
      assert(p(c).getLong(2) == 0L, s"$c n_total")   // n_total
      assert(p(c).getLong(5) == 0L, s"$c n_unique")  // n_unique
    }
  }

  test("distinctCounts: EMPTY input emits one row per column with n_unique=0") {
    val empty = Seq(("a", 1.0)).toDF("s", "n").filter(lit(false))
    val d = Profile.distinctCounts(empty).collect()
    assert(d.map(_.getString(0)).toSeq == Seq("n", "s"))
    assert(d.forall(_.getLong(1) == 0L))
  }

  /** `profile` (driver finish when `driver`) against both plan forms
    * (`profileWith(…, -1)`): the same column names and types, the same
    * rows in the same order; the branch is read from the counters. */
  private def assertFinishes(df: DataFrame, driver: Boolean = true): Unit = {
    val (d0, p0) = (FastPath.profileDriverFinish.get, FastPath.profilePlanFinish.get)
    val got = Profile.profile(df)
    assert(FastPath.profileDriverFinish.get - d0 == (if (driver) 1 else 0))
    val plan = Profile.profileWith(df, -1)
    assert(FastPath.profilePlanFinish.get - p0 == (if (driver) 1 else 2))
    assert(got.schema.map(f => f.name -> f.dataType) == plan.schema.map(f => f.name -> f.dataType))
    assert(got.collect().toSeq == plan.collect().toSeq)
  }

  /** String, date, timestamp and boolean columns with nulls beside a
    * numeric one. `s` ties "a", "b" and NULL at two rows each (NULL wins
    * the mode) and holds keys whose UTF-16 order differs from their UTF-8
    * byte order (U+1F600 sorts above U+FFFD and U+E000 in Spark). */
  private lazy val nonNumeric: DataFrame = {
    val ss = Seq("b", "a", null, "b", "a", null, "\uD83D\uDE00", "\uFFFD", "\uE000", "")
    ss.indices.map { i =>
      (ss(i),
        if (i % 4 == 3) null else java.sql.Date.valueOf(s"2024-0${1 + i % 3}-1${i % 7}"),
        if (i % 5 == 4) null else java.sql.Timestamp.valueOf(s"2023-12-31 23:59:5${i % 3}.${i}25"),
        if (i % 3 == 2) null else java.lang.Boolean.valueOf(i % 2 == 0),
        if (i % 6 == 5) None else Some(i * 1.25))
    }.toDF("s", "d", "ts", "flag", "x").repartition(3)
  }

  test("profile: the driver string finish equals the plan form (string, date, timestamp, boolean)") {
    assertFinishes(nonNumeric)
    assertFinishes(nonNumeric.drop("x")) // no numeric column at all
    // a non-finite numeric keeps the plan's wide aggregate beside the
    // driver-finished string rows
    assertFinishes(nonNumeric.withColumn("y",
      when(col("x") > 5, lit(Double.NaN)).otherwise(col("x"))))
    val p = Profile.profile(nonNumeric).collect().map(r => r.getString(0) -> r).toMap
    assert(p("s").isNullAt(15) && p("s").getLong(16) == 2L, "NULL wins the mode tie")
    assert(p("s").getString(13) == "" && p("s").getString(14) == "\uD83D\uDE00")
    assert(p("ts").isNullAt(15) && p("flag").isNullAt(16), "only strings carry a mode")
  }

  test("profile: the driver string finish on empty input, and its plan fallback on invalid UTF-8") {
    assertFinishes(nonNumeric.filter(lit(false)))
    val bad = Seq(Array(0xC3.toByte, 0x28.toByte), Array(0xC4.toByte, 0x28.toByte),
      "ok".getBytes("UTF-8")).toDF("raw")
      .select(col("raw").cast("string").as("s"), lit(1.5).as("x"))
    assertFinishes(bad, driver = false)
  }

  test("profile: a frame finished on the driver is local — collecting it runs no job") {
    val got = Profile.profile(nonNumeric)
    val (_, jobs) = jobsDuring(graft.report.Html.tableHtml(got))
    assert(jobs == 0, s"rendering ran $jobs jobs")
  }
}

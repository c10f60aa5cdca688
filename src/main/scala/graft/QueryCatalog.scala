package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Drift, Exact, Privacy, Profile, RowTransforms}
import graft.compliance.Checklist
import graft.risk.Linkage

/** Named query bindings for SURVEY.md §2's operator inventory (A/P/V/C
  * series), with DuckDB oracle SQL generated from the same schema lists so
  * the two sides can't drift.
  */
object QueryCatalog {

  // lineitem schema split (static — FIXTURES.md §2)
  private val LiNumeric = Seq(
    "l_orderkey" -> "bigint", "l_partkey" -> "bigint", "l_suppkey" -> "bigint",
    "l_linenumber" -> "int", "l_quantity" -> "double",
    "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double")
  private val LiString = Seq("l_returnflag", "l_linestatus")
  private val LiTs = Seq("l_shipdate")

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_profile_lineitem" -> ((s, d) => Profile.profile(Tables.lineitem(s, d))),
    "a1_profile_approx" -> ((s, d) =>
      // sketch path: one wide agg, rows-only (ProfileSpec pins the error
      // envelope against the exact profile)
      Profile.profileApprox(Tables.lineitem(s, d))),
    "a2_value_counts" -> ((s, d) => Profile.valueCounts(Tables.lineitem(s, d), "l_returnflag")),
    "a3_mode" -> ((s, d) => Profile.mode(Tables.lineitem(s, d), "l_returnflag")),
    "a4_rare_categories" -> ((s, d) => Profile.rareCategories(Tables.supplier(s, d), "s_name", 5)),
    "a5_distinct_counts" -> ((s, d) => Profile.distinctCounts(Tables.lineitem(s, d))),
    "a7_row_counts" -> ((s, d) =>
      Tables.names.map(t => Profile.rowCount(Tables.load(s, d, t), t))
        .reduce(_ union _).orderBy(col("table_name"))),
    "a8_mu_sigma" -> ((s, d) =>
      Profile.muSigma(Tables.lineitem(s, d), LiNumeric.map(_._1))),
    "a9_category_pmf" -> ((s, d) => Profile.categoryPmf(Tables.lineitem(s, d), "l_returnflag")),
    "c1_checklist" -> ((s, _) => {
      // the checklist is a driver-side constant — sort it there; an
      // .orderBy on the LocalRelation pays range-sample + sort jobs
      import s.implicits._
      s.createDataset(Checklist.DefaultItems.sortBy(_.key)).toDF()
    }),
    "c2_checklist_score" -> ((s, _) => Checklist.score(Checklist.defaultChecklist(s))),
    "p_row_transforms" -> ((s, d) => pRowTransforms(s, d)),
    "p8_standardize" -> ((s, d) => p8Standardize(s, d)),
    "p_winsorize" -> ((s, d) =>
      // no output orderBy: cosmetic global sort of the full table — the
      // gate compare is row-order-insensitive and the reference has no
      // ordering contract (the v2_generalize x64 catch, generalized)
      RowTransforms.winsorize(Tables.lineitem(s, d), "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_extendedprice_w"))),
    "p_robust_scale" -> ((s, d) =>
      // no output orderBy (see p_winsorize)
      RowTransforms.robustScale(Tables.lineitem(s, d), "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_extendedprice_r"))),
    "p9_onehot" -> ((s, d) => p9OneHot(s, d)),
    "p9_onehot_fuzz" -> ((s, d) => p9OneHotFuzz(s, d)),
    "v1_sdc_suppress" -> ((s, d) =>
      // the same fit-then-apply V1 as protect(): the rare names come from
      // the driver decode of the scan (no Spark job), and the output is a
      // projection over it; a null name group below the threshold becomes
      // 'OTHER', as the oracle's COUNT(*) OVER (PARTITION BY s_name) counts it.
      // no output orderBy (see p_winsorize) — supplier is small, but the
      // sort still costs range-sample + sort jobs on a job-floor row
      Privacy.sdcSuppress(
          Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")), Seq("s_name"), 5)),
    "v2_generalize" -> ((s, d) =>
      // The one V2 fit: the driver sort up to Exact.DriverFitMaxRows
      // rows (lineitem through x16), the cents histogram above it.
      // No output orderBy: the gate compare is row-order-insensitive
      // (144 catalog entries gate without one), the reference's
      // generalize has no ordering contract, and the global sort was
      // the row's dominant cost — 3 AQE jobs / ~0.55 s of its 0.99 s
      // wall at sf0.1, and an O(n log n) range-exchange over 38 M rows
      // at x64 (the r12 curvature watch item, 7.65 vs linear 4).
      Privacy.generalizeNumeric(Tables.lineitem(s, d), "l_extendedprice", 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),
    "v3_dp_noise" -> ((s, d) =>
      Privacy.dpNoise(Tables.lineitem(s, d), Seq("l_quantity"), epsilon = 1.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
    "v3_dp_noise_inf" -> ((s, d) =>
      // ε→∞ structural oracle for the declared v3 path: the Laplace scale
      // (1e-18) is below half an ulp of every l_quantity value (≥ 1), so
      // the SAME rand(seed)-noise projection must return the raw column
      // bit-for-bit — wrong scale/sign/double-application fails the gate
      Privacy.dpNoise(Tables.lineitem(s, d), Seq("l_quantity"), epsilon = 1e18)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
    "a1_profile_approx_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared a1_profile_approx: the sketch
      // outputs (HLL distincts, KLL-style quantiles) aren't
      // SQL-expressible, but their CONTRACTS are — HLL within a relative
      // envelope of the exact distinct count, percentile_approx within
      // its rank-error guarantee (ε = 1/accuracy), both recounted
      // in-plan; exact per-column row counts recomputed by DuckDB.
      val li = Tables.lineitem(s, d)
      val accuracy = 2000
      val eps = 1.0 / accuracy
      // localCheckpoint: the 11-row approx-profile frame feeds BOTH the
      // final join and the broadcast rank recount — without it the wide
      // sketch aggregate (the expensive scan) executes twice per run
      // (and persist would let bench reruns time a CacheManager hit).
      // Sequential on purpose: overlapping the exact distinct recount
      // with the checkpoint on a second driver thread regressed the audit
      // in both r16 driver runs (2.91 → 3.71 s at 32 cores, 2.82 → 5.05 s
      // at 8).
      val ap = Profile.profileApprox(li, accuracy)
        .select(col("column"), col("n_total"),
          (col("n_total") - col("n_missing")).as("n_nonnull"),
          col("n_unique"), col("p25"), col("median"), col("p75"))
        .localCheckpoint()
      val ex = Profile.distinctCounts(li).withColumnRenamed("n_unique", "nd")
      val numCols = LiNumeric.map(_._1)
      // Rank recount as ONE flat codegen'd aggregate (7 cols × 7 slots)
      // with the quantiles as LITERALS collected off the checkpointed
      // 11-row profile (a driver-bounded 21-value collect at any corpus
      // size) — the previous form exploded every numeric value into a
      // (column, v) row (7× corpus fan-out) and shuffled it through a
      // groupBy just to compare against 21 broadcast constants. Same
      // comparisons, same null semantics (null v drops from count() and
      // from the boolean sums either way), identical output.
      val apQ: Map[String, IndexedSeq[Option[Double]]] =
        ap.select(col("column"), col("p25"), col("median"), col("p75")).collect()
          .map(r => r.getString(0) ->
            (1 to 3).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
          .toMap
      // fail loudly on profile/column-name drift (r12 ADVICE): a numeric
      // column missing from the profile would otherwise degrade to
      // null-literal comparisons whose q_ok coalesces to a vacuous true
      require(numCols.forall(apQ.contains),
        s"approx profile lost columns: ${numCols.filterNot(apQ.contains).mkString(",")}")
      def qlit(o: Option[Double]): Column =
        o.map(lit(_)).getOrElse(lit(null).cast("double"))
      val rankAggs: Seq[Column] = numCols.flatMap { c =>
        val v = col(c).cast("double")
        val qs = apQ(c)
        def leq(q: Option[Double], n: String) =
          sum((v <= qlit(q)).cast("long")).as(s"${c}__$n")
        def ltq(q: Option[Double], n: String) =
          sum((v < qlit(q)).cast("long")).as(s"${c}__$n")
        Seq(count(v).as(s"${c}__nn"),
          leq(qs(0), "le25"), ltq(qs(0), "lt25"),
          leq(qs(1), "le50"), ltq(qs(1), "lt50"),
          leq(qs(2), "le75"), ltq(qs(2), "lt75"))
      }
      val ranks = li.agg(rankAggs.head, rankAggs.tail: _*)
        .select(explode(array(numCols.map { c =>
          struct(lit(c).as("column"), col(s"${c}__nn").as("nn"),
            col(s"${c}__le25").as("le25"), col(s"${c}__lt25").as("lt25"),
            col(s"${c}__le50").as("le50"), col(s"${c}__lt50").as("lt50"),
            col(s"${c}__le75").as("le75"), col(s"${c}__lt75").as("lt75"))
        }: _*)).as("e")).select(col("e.*"))
      def rankOk(lec: String, ltc: String, p: Double) =
        (col(lec) >= floor((lit(p) - eps) * col("nn")) - 1) &&
          (col(ltc) <= ceil((lit(p) + eps) * col("nn")) + 1)
      ap.join(ex, "column").join(ranks, Seq("column"), "left")
        .select(col("column"), col("n_total"), col("n_nonnull"),
          (abs(col("n_unique") - col("nd")) <=
            greatest(lit(4L), (col("nd") * 0.1).cast("long"))).as("uniq_ok"),
          coalesce(rankOk("le25", "lt25", 0.25) && rankOk("le50", "lt50", 0.5) &&
            rankOk("le75", "lt75", 0.75), lit(true)).as("q_ok"))
        .orderBy("column")
    }),
    "v4_synthetic" -> ((s, d) =>
      // n omitted → source row count, derived inside the fused stats pass
      // (no separate count job).
      Privacy.syntheticSample(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_returnflag"), seed = 42L)),
    "v5_smart_suggest" -> ((s, d) => Privacy.smartSuggest(Tables.lineitem(s, d))),
    "v_dp_histogram" -> ((s, d) =>
      // declared seeded mode (noise = pure function of category key —
      // partition-invariant; PrivacySpec pins determinism + envelope)
      Privacy.dpHistogram(Tables.lineitem(s, d), "l_returnflag", epsilon = 1.0)),
    "v_dp_mean" -> ((s, d) =>
      // declared seeded mode (driver-seeded Laplace draws; PrivacySpec
      // pins determinism + the ε→∞ recovery limit)
      Privacy.dpMean(Tables.lineitem(s, d), "l_quantity",
        lo = 0.0, hi = 60.0, epsilon = 1.0)),
    // STRUCTURAL ORACLES for the declared DP releases, at ε → ∞: the
    // Laplace scale collapses below one ulp of every released quantity,
    // so the SAME code path (hash-noise projection / driver draws
    // included) must reproduce the exact counts and clipped mean — the
    // exact-recovery limit, now hash-gated against DuckDB instead of
    // only spec-pinned. Any defect in the noise plumbing (wrong sign,
    // scale, or a noise term applied twice) breaks recovery and fails
    // the gate.
    "v_dp_histogram_inf" -> ((s, d) =>
      Privacy.dpHistogram(Tables.lineitem(s, d), "l_returnflag", epsilon = 1e18)),
    "v_dp_mean_inf" -> ((s, d) =>
      Privacy.dpMean(Tables.lineitem(s, d), "l_quantity",
        lo = 0.0, hi = 60.0, epsilon = 1e18)),
    "v8_k_anonymity" -> ((s, d) =>
      Privacy.kAnonymity(Tables.lineitem(s, d),
        Seq("l_quantity", "l_discount", "l_returnflag"), k = 5)),
    "v9_l_diversity" -> ((s, d) =>
      Privacy.lDiversity(Tables.lineitem(s, d),
        Seq("l_quantity", "l_returnflag"), "l_linestatus")),
    "v10_t_closeness" -> ((s, d) =>
      Privacy.tCloseness(Tables.lineitem(s, d),
        Seq("l_quantity", "l_returnflag"), "l_linestatus")),
    "v7_quasi_suggestions" -> ((s, d) => {
      val renamed = Tables.customer(s, d)
        .select(col("c_acctbal").as("income"), col("c_mktsegment").as("city"),
                col("c_name").as("name"))
      val hits = Privacy.quasiSuggestions(renamed).sorted
      import s.implicits._
      hits.toDF("quasi_id")
    }),
    "d1_ks_statistic" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Drift.ksStatistic(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_quantity")
    }),
    "d2_chi2_drift" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Drift.chi2Drift(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_returnflag")
    }),
    "d3_drift_all" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Drift.driftAll(li, li.filter(col("l_orderkey") % 2 === 1).drop("l_tax"))
    }),
    "q_salted_agg" -> ((s, d) =>
      // the skew-safe two-phase aggregate as a first-class query: a hot
      // key spreads over 16 (key, salt) reducers before the final merge,
      // output identical to the plain groupBy (oracle is the plain SQL)
      graft.ops.Salting.saltedCountSum(
        Tables.lineitem(s, d), "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")),
    "a_corr_matrix" -> ((s, d) =>
      Profile.correlationMatrix(Tables.lineitem(s, d), LiNumeric.map(_._1))),
    "a_skew_report" -> ((s, d) =>
      Profile.skewReport(Tables.lineitem(s, d), "l_suppkey")),
    "a_histogram" -> ((s, d) =>
      Profile.histogram(Tables.lineitem(s, d), "l_extendedprice", 10)),
    "a_cramers_v" -> ((s, d) =>
      Profile.cramersV(Tables.lineitem(s, d), "l_returnflag", "l_linestatus")),
    "a_moments_merge" -> ((s, d) => {
      // incremental-profile primitive exercised end to end: two shard
      // states merged must be BIT-IDENTICAL to a from-scratch profile —
      // the oracle computes straight over the whole table
      val li = Tables.lineitem(s, d)
      val cols = LiNumeric.map(_._1)
      // EXHAUSTIVE shard split: a bare `% 2 === 0` / `=== 1` pair drops
      // NULL-key rows from BOTH shards (null % 2 is null, never equal),
      // so the merged state silently under-counted vs the whole-table
      // oracle — found by the r10 window-family fuzz (seed 16). A
      // sharded incremental profile must partition the table, nulls
      // included; coalesce routes the null-key rows to shard 0.
      val shard = coalesce(pmod(col("l_orderkey"), lit(2)), lit(0L))
      Profile.statsFromMomentState(Profile.mergeMomentStates(Seq(
        Profile.momentState(li.filter(shard === 0), cols),
        Profile.momentState(li.filter(shard === 1), cols))))
    }),
    "d_drift_extended" -> ((s, d) => {
      // same split + l_tax-drop as d3, so the extended metrics line up
      // with the reference dispatcher's rows column-for-column
      val li = Tables.lineitem(s, d)
      Drift.driftAllExtended(li, li.filter(col("l_orderkey") % 2 === 1).drop("l_tax"))
    }),
    "d_psi" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Drift.psi(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_extendedprice")
    }),
    "d_wasserstein" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Drift.wasserstein(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_extendedprice")
    }),
    "d_drift_panel" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Drift.driftPanel(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_extendedprice")
    }),
    "d_ks_by_group" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Drift.ksByGroup(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_quantity", "l_returnflag")
    }),
    "d_js_divergence" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Drift.jsDivergence(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang")
    }),
    "v6_linkage_risk" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      // Pinned to the exact physical form: this entry IS the oracle for
      // the exact math (1 % subsets keep O(n·m) affordable at any SF the
      // driver runs); the guarded `linkageRisk` entry point would give
      // the same answer here but its estimate-based dispatch should not
      // gate an oracle row.
      Linkage.linkageRiskExact(
        li.filter(col("l_orderkey") % 100 === 0),
        li.filter(col("l_orderkey") % 100 === 50),
        Seq("l_quantity", "l_discount", "l_returnflag"))
    }),
    "d4_model_utility" -> ((s, d) => {
      // prop-mode (SURVEY §2.4 D4): MLlib optimizers differ from sklearn,
      // so no SQL oracle — the driver records a rows-only check and the
      // spec asserts the property bounds.
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .withColumn("target", (col("l_returnflag") === "A").cast("int"))
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
                col("l_tax"), col("target"))
      val noised = graft.ops.Privacy.dpNoise(li, Seq("l_quantity"), epsilon = 1.0)
      graft.ml.UtilityCheck.modelUtility(li, noised, "target")
    }),
    "v6_linkage_risk_lsh" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Linkage.linkageRiskLSH(
        li.filter(col("l_orderkey") % 100 === 0),
        li.filter(col("l_orderkey") % 100 === 50),
        Seq("l_quantity", "l_discount", "l_returnflag"))
    }),
    "v6_lsh_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared LSH linkage risk: the LSH
      // candidate set is a SUBSET of all pairs, so each anon row's
      // nearest-found distance can only be ≥ the exact one ⇒
      // risk_lsh ≤ risk_exact is a mathematical invariant, and the
      // measured fixture recall (deterministic under the fixed seed)
      // bounds it from below at half the exact risk. risk_exact comes
      // from the already-oracle-EXACT v6 path, recomputed in-plan.
      val li = Tables.lineitem(s, d)
      val anon = li.filter(col("l_orderkey") % 100 === 0)
      val real = li.filter(col("l_orderkey") % 100 === 50)
      val quasi = Seq("l_quantity", "l_discount", "l_returnflag")
      // ONE anon-side fit for both physical forms (r16): they fit the
      // same frame with the same parameters by construction, so sharing
      // is value-identical and halves the fused fit jobs
      val fitP = Linkage.fitFeatures(anon, quasi)
      val lsh = Linkage.linkageRiskLSHFitted(anon, real, quasi, fitP)
        .select(col("risk_score").as("r_lsh"))
      val exact = Linkage.linkageRiskExactFitted(anon, real, quasi, fitP)
        .select(col("risk_score").as("r_exact"))
      lsh.crossJoin(exact).select(
        (col("r_lsh") >= 0.0 && col("r_lsh") <= 1.0).as("in_range"),
        (col("r_lsh") <= col("r_exact") + lit(1e-9)).as("lsh_le_exact"),
        (col("r_lsh") >= col("r_exact") * lit(0.5)).as("recall_floor_ok"))
    }),
    "d4_utility_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared D4 model-utility check:
      // optimizer values aren't SQL-expressible, but the report contract
      // is — exactly one row per dataset tag, metrics inside [0,1] (or
      // the documented NaN-degenerate pair), and the anonymized side's
      // accuracy within the bounded delta the prop spec promises.
      val li = Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)
        .withColumn("target", (col("l_returnflag") === "A").cast("int"))
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("target"))
      val noised = graft.ops.Privacy.dpNoise(li, Seq("l_quantity"), epsilon = 1.0)
      val mu = graft.ml.UtilityCheck.modelUtility(li, noised, "target")
      val ok = (c: Column) => c.isNaN || (c >= 0.0 && c <= 1.0)
      mu.select(col("dataset"),
          (ok(col("accuracy")) && ok(col("weighted_f1"))).as("metrics_in_range"))
        .orderBy("dataset")
    }),
    "v4_synthetic_audit" -> ((s, d) => {
      // STRUCTURAL ORACLE over the declared V4 synthetic sampler: the
      // sampler's DISTRIBUTIONAL contract is SQL-checkable even though
      // the draws aren't — row count equals the source's (recomputed
      // genuinely by DuckDB), per-numeric-column means within a
      // generous CLT envelope of the source means, synthetic support
      // inside the source range ± 6σ, and the categorical PMF within
      // L∞ 0.05 of the source PMF. Fixed seed ⇒ deterministic booleans.
      val li = Tables.lineitem(s, d)
      val syn = Privacy.syntheticSample(li,
        Seq("l_quantity", "l_extendedprice", "l_returnflag"), seed = 42L)
      def stats(df: DataFrame, c: String, p: String) = df.agg(
        avg(col(c)).as(s"${p}_mean"), stddev_pop(col(c)).as(s"${p}_sd"),
        min(col(c)).cast("double").as(s"${p}_min"),
        max(col(c)).cast("double").as(s"${p}_max"),
        count(lit(1)).as(s"${p}_n"))
      def pmf(df: DataFrame, p: String) = df
        .groupBy(coalesce(col("l_returnflag").cast("string"), lit("NA")).as("k"))
        .agg(count(lit(1)).as(s"${p}_n"))
      val joins = Seq("l_quantity" -> "q", "l_extendedprice" -> "e").map {
        case (c, tag) =>
          val rSd = col(s"r${tag}_sd"); val rN = col(s"r${tag}_n")
          // The envelope must model the sampler's DECLARED synthesis, not
          // just the source: the gaussian half draws N(μ, σ_synth) where
          // σ_synth is the fit's `σ or 1.0` fallback (reference A8
          // semantics — modules/privacy.py's `std or 1.0`), so on a
          // constant or single-row column σ_synth = 1 while source σ = 0.
          // Var(synthetic mean) = (σ_src² + σ_synth²)/(2n) — half
          // bootstrap draws at σ_src², half gaussian at σ_synth² — hence
          // the pooled 6σ CLT bound. FuzzSpec privacy seed 19 (constant
          // 42.42 columns) is the pinned regression: the old
          // 6·σ_src/√n + 1e-6 form degenerated to 1e-6 there while the
          // sampler was correctly drawing its declared N(μ, 1) half.
          val sigmaSynth =
            when(rN < 2 || rSd === 0.0 || isnan(rSd), lit(1.0)).otherwise(rSd)
          stats(syn, c, s"s$tag").crossJoin(stats(li, c, s"r$tag"))
            .select(
              (abs(col(s"s${tag}_mean") - col(s"r${tag}_mean")) <=
                sqrt((rSd * rSd + sigmaSynth * sigmaSynth) / 2.0) * lit(6.0) /
                  sqrt(rN) + lit(1e-6))
                .as(s"mean_ok_$tag"),
              (col(s"s${tag}_min") >= col(s"r${tag}_min") - sigmaSynth * 6.0 &&
                col(s"s${tag}_max") <= col(s"r${tag}_max") + sigmaSynth * 6.0)
                .as(s"range_ok_$tag"))
      }
      // PMF envelope is n-aware like the mean envelope (r15: extended
      // fuzz seeds 5001/5002 — 37/200-row fixtures — showed a FIXED
      // L∞ ≤ 0.05 measures the fixture size, not the sampler: an
      // unbiased multinomial draw over n=37 has per-category sd
      // ≈ 0.08). Per-category 6σ binomial CLT bound on the synthetic
      // side's draw count instead — sound at any n, and TIGHTER than
      // the old constant at catalog n (≈0.012 at 60 k rows).
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val pmfOk = pmf(syn, "s").join(pmf(li, "r"), Seq("k"), "full_outer")
        .select(
          (coalesce(col("s_n"), lit(0L)).cast("double") /
            sum(coalesce(col("s_n"), lit(0L))).over(w)).as("ps"),
          (coalesce(col("r_n"), lit(0L)).cast("double") /
            sum(coalesce(col("r_n"), lit(0L))).over(w)).as("pr"),
          sum(coalesce(col("s_n"), lit(0L))).over(w).cast("double").as("ns"))
        .select((abs(col("ps") - col("pr")) <=
          sqrt(col("pr") * (lit(1.0) - col("pr")) / col("ns")) * lit(6.0) +
            lit(1e-6)).as("ok"))
        .agg(bool_and(col("ok")).as("pmf_ok"))
      syn.agg(count(lit(1)).as("n_rows"))
        .crossJoin(joins(0)).crossJoin(joins(1)).crossJoin(pmfOk)
    }),
  )

  private def pRowTransforms(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      nullif(col("l_discount"), lit(0.0)).as("disc"),
      nullif(col("l_discount"), lit(0.0)).as("disc_orig"),
      col("l_quantity"), col("l_returnflag"))
    val imputed = RowTransforms.imputeMean(base, "disc")
    imputed.select(
        col("l_orderkey"), col("l_linenumber"),
        col("disc").as("disc_imputed"),
        RowTransforms.nullLabel(col("disc_orig")).as("disc_label"),
        RowTransforms.castString(col("l_quantity")).as("qty_str"),
        RowTransforms.replaceRare(col("l_returnflag"), Seq("N")).as("flag_replaced"))
      // no output orderBy (see p_winsorize)
  }

  private def p8Standardize(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    RowTransforms.standardize(
        li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("z_qty"), col("l_extendedprice").as("z_price")),
        li.select(col("l_quantity").as("z_qty"), col("l_extendedprice").as("z_price")),
        Seq("z_qty", "z_price"))
      // no output orderBy (see p_winsorize)
  }

  private def p9OneHot(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    RowTransforms.oneHot(li, li, "l_returnflag")
      // no output orderBy (see p_winsorize)
  }

  /** P9's SCHEMA-STABLE twin (r14, SURVEY §5.5): the raw p9 row's pivot
    * COLUMNS are data-dependent, so a static oracle can only pin the
    * fixture alphabet and the operator stayed outside the fuzz gate. This
    * form runs the same oneHot — vocabulary fitted as sorted distinct of
    * a FIT slice (even orderkeys), applied to the FULL table so unseen
    * and null rows exercise the all-zero contract — then UNPIVOTS the
    * encoder's own output columns into a fixed (category, n_hot) shape
    * plus `__rows`/`__allzero` audit rows. Any vocabulary-fitting,
    * column-naming, unseen-ignored or null-handling defect moves a
    * number or a category label; the schema never moves. */
  private def p9OneHotFuzz(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"))
    val fit = li.filter(col("l_orderkey") % 2 === 0)
    val oh = RowTransforms.oneHot(li, fit, "l_returnflag")
    val catCols = oh.columns.filter(_.startsWith("l_returnflag__")).toSeq
    // fuzz alphabets carry '/', unicode, '' — and a literal '`' must be
    // DOUBLED inside the quoting or col() parsing fails (r15 ADVICE)
    def cc(name: String) = col("`" + name.replace("`", "``") + "`")
    val allZero =
      if (catCols.isEmpty) lit(true)
      else catCols.map(cc(_) === 0.0).reduce(_ && _)
    val aggs =
      catCols.map(c => sum(cc(c)).as(c)) ++ Seq(
        count(lit(1)).cast("double").as("__rows"),
        sum(when(allZero, 1.0).otherwise(0.0)).as("__allzero"))
    val entries = catCols.map(c =>
      struct(lit(c.stripPrefix("l_returnflag__")).as("category"),
        coalesce(cc(c), lit(0.0)).as("n_hot"))) ++ Seq(
      struct(lit("__rows").as("category"), col("__rows").as("n_hot")),
      struct(lit("__allzero").as("category"), coalesce(col("__allzero"), lit(0.0)).as("n_hot")))
    oh.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.category").as("category"), col("e.n_hot").as("n_hot"))
      .orderBy("category")
  }

  // ------------------------------------------------------------- oracle SQL

  /** pRowTransforms needs the discount column's nullif-view in its stat. */
  private def pRowTransformsSql: String = {
    val meanDisc = Exact.meanSql("disc")
    s"""WITH base AS (
       |  SELECT l_orderkey, l_linenumber, NULLIF(l_discount, 0.0) AS disc,
       |         l_quantity, l_returnflag
       |  FROM lineitem),
       |m AS (SELECT $meanDisc AS mean_disc FROM base)
       |SELECT b.l_orderkey, b.l_linenumber,
       |  COALESCE(b.disc, m.mean_disc) AS disc_imputed,
       |  COALESCE(CAST(b.disc AS VARCHAR), 'NA') AS disc_label,
       |  CAST(b.l_quantity AS VARCHAR) AS qty_str,
       |  CASE WHEN b.l_returnflag IN ('N') THEN 'OTHER' ELSE b.l_returnflag END AS flag_replaced
       |FROM base b, m
       |ORDER BY b.l_orderkey, b.l_linenumber""".stripMargin
  }

  private def profileNumericSql(c: String, dtype: String): String =
    s"""SELECT '$c' AS "column", '$dtype' AS dtype, COUNT(*) AS n_total,
       |  COUNT(*) - COUNT($c) AS n_missing,
       |  CAST(COUNT(*) - COUNT($c) AS DOUBLE) / COUNT(*) * 100.0 AS missing_pct,
       |  COUNT(DISTINCT $c) AS n_unique,
       |  ${Exact.meanSql(c)} AS mean,
       |  ${Exact.stdSql(c)} AS std,
       |  CAST(MIN($c) AS DOUBLE) AS min_num,
       |  quantile_cont($c, 0.25) AS p25,
       |  quantile_cont($c, 0.5) AS median,
       |  quantile_cont($c, 0.75) AS p75,
       |  CAST(MAX($c) AS DOUBLE) AS max_num,
       |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
       |  CAST(NULL AS VARCHAR) AS top_value, CAST(NULL AS BIGINT) AS top_freq
       |FROM lineitem""".stripMargin

  private def profileOtherSql(c: String, dtype: String, withTop: Boolean): String = {
    val top =
      if (withTop)
        s"""  (SELECT v FROM (SELECT $c AS v, COUNT(*) AS cnt FROM lineitem GROUP BY 1) q
           |   ORDER BY cnt DESC, v ASC LIMIT 1) AS top_value,
           |  (SELECT cnt FROM (SELECT $c AS v, COUNT(*) AS cnt FROM lineitem GROUP BY 1) q
           |   ORDER BY cnt DESC, v ASC LIMIT 1) AS top_freq""".stripMargin
      else "  CAST(NULL AS VARCHAR) AS top_value, CAST(NULL AS BIGINT) AS top_freq"
    s"""SELECT '$c' AS "column", '$dtype' AS dtype, COUNT(*) AS n_total,
       |  COUNT(*) - COUNT($c) AS n_missing,
       |  CAST(COUNT(*) - COUNT($c) AS DOUBLE) / COUNT(*) * 100.0 AS missing_pct,
       |  COUNT(DISTINCT $c) AS n_unique,
       |  CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
       |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS p25,
       |  CAST(NULL AS DOUBLE) AS median, CAST(NULL AS DOUBLE) AS p75,
       |  CAST(NULL AS DOUBLE) AS max_num,
       |  CAST(MIN($c) AS VARCHAR) AS min_str, CAST(MAX($c) AS VARCHAR) AS max_str,
       |$top
       |FROM lineitem""".stripMargin
  }

  private def a1Sql: String = {
    val parts =
      LiNumeric.map { case (c, t) => profileNumericSql(c, t) } ++
      LiString.map(c => profileOtherSql(c, "string", withTop = true)) ++
      LiTs.map(c => profileOtherSql(c, "timestamp_ntz", withTop = false))
    parts.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
  }

  private def a5Sql: String = {
    val all = LiNumeric.map(_._1) ++ LiString ++ LiTs
    all.map(c => s"""SELECT '$c' AS "column", COUNT(DISTINCT $c) AS n_unique FROM lineitem""")
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
  }

  private def a7Sql: String =
    Tables.names
      .map(t => s"SELECT '$t' AS table_name, COUNT(*) AS n_rows FROM $t")
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY table_name")

  private def a8Sql: String =
    LiNumeric.map { case (c, _) =>
      s"""SELECT '$c' AS "column", ${Exact.meanSql(c)} AS mu,
         |  CASE WHEN COUNT($c) < 2 THEN 1.0
         |       WHEN ${Exact.stdSql(c)} = 0.0 THEN 1.0
         |       ELSE ${Exact.stdSql(c)} END AS sigma
         |FROM lineitem""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")

  private def aMomentsMergeSql: String =
    LiNumeric.map { case (c, _) =>
      s"""SELECT '$c' AS "column", COUNT($c) AS n,
         |  ${Exact.meanSql(c)} AS mean,
         |  ${Exact.stdSql(c)} AS std,
         |  CAST(MIN($c) AS DOUBLE) AS min, CAST(MAX($c) AS DOUBLE) AS max
         |FROM lineitem""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")

  private def v5Sql: String = {
    val numeric = LiNumeric.map { case (c, _) =>
      s"""SELECT '$c' AS "column",
         |  CASE WHEN COUNT(DISTINCT $c) > 50 THEN 'generalize+dp' ELSE 'dp' END AS suggestion,
         |  1.0 AS epsilon
         |FROM lineitem""".stripMargin
    }
    val strs = LiString.map { c =>
      s"""SELECT '$c' AS "column",
         |  CASE WHEN COUNT(DISTINCT $c) > 20 THEN 'sdc' ELSE CAST(NULL AS VARCHAR) END AS suggestion,
         |  CAST(NULL AS DOUBLE) AS epsilon
         |FROM lineitem""".stripMargin
    }
    (numeric ++ strs).mkString(
      "SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) WHERE suggestion IS NOT NULL ORDER BY \"column\"")
  }

  private def c1Sql: String = {
    val rows = Checklist.DefaultItems
      .map(i => s"('${i.key}', '${i.description.replace("'", "''")}', false, '')")
      .mkString(",\n  ")
    s"""SELECT * FROM (VALUES
       |  $rows
       |) AS t(key, description, status, notes) ORDER BY key""".stripMargin
  }

  private def c2Sql: String = {
    val rows = Checklist.DefaultItems.map(i => s"(${i.status})").mkString(", ")
    s"SELECT COALESCE(AVG(CAST(status AS DOUBLE)), 0.0) AS score FROM (VALUES $rows) AS t(status)"
  }

  private def p8Sql: String = {
    // σ=0 (constant column) falls back to 1.0 — sklearn's `scale_ = 1`
    // rule, the engine's documented convention (RowTransforms.standardize);
    // FuzzSpec seed 4 caught the oracle dividing by zero instead. An
    // empty/all-null fit leaves s1 NULL → μ NULL → z NULL, matching the
    // engine's null-column output.
    def sd(n: String, s1: String, s2: String) =
      s"SQRT(GREATEST(0.0, CAST(CAST($n AS DECIMAL(10,0)) * $s2 - $s1 * $s1 AS DOUBLE) / $n / $n / 10000.0))"
    def sdSafe(n: String, s1: String, s2: String) =
      s"(CASE WHEN ${sd(n, s1, s2)} = 0 THEN 1.0 ELSE ${sd(n, s1, s2)} END)"
    s"""WITH f AS (
       |  SELECT
       |    ${Exact.s1Sql("l_quantity")} AS s1q, ${Exact.s2Sql("l_quantity")} AS s2q, COUNT(l_quantity) AS nq,
       |    ${Exact.s1Sql("l_extendedprice")} AS s1p, ${Exact.s2Sql("l_extendedprice")} AS s2p, COUNT(l_extendedprice) AS np
       |  FROM lineitem)
       |SELECT l.l_orderkey, l.l_linenumber,
       |  (CAST(l.l_quantity AS DOUBLE) - (CAST(f.s1q AS DOUBLE) / 100.0 / f.nq))
       |    / ${sdSafe("f.nq", "f.s1q", "f.s2q")} AS z_qty,
       |  (CAST(l.l_extendedprice AS DOUBLE) - (CAST(f.s1p AS DOUBLE) / 100.0 / f.np))
       |    / ${sdSafe("f.np", "f.s1p", "f.s2p")} AS z_price
       |FROM lineitem l, f
       |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin
  }

  private def v2Sql: String = {
    val probs = (0 to 10).map(i => (i.toDouble / 10).toString).mkString(", ")
    // bins come from the DISTINCT quantile values (the engine dedupes
    // edges before labeling — Privacy.generalizeFitted); duplicate
    // quantiles on heavy-mass columns otherwise leave the oracle with
    // phantom empty bins AND the wrong closed-bracket bin, and a
    // single-distinct-edge (constant) column must label every row NULL
    // on both sides (FuzzSpec seed 4: the engine's <2-edges guard vs the
    // oracle's raw 11-edge grid disagreed on a constant column).
    s"""WITH q AS (SELECT UNNEST(quantile_cont(l_extendedprice, [$probs])) AS v FROM lineitem),
       |e AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS i, COUNT(*) OVER () AS k
       |      FROM (SELECT DISTINCT v FROM q WHERE v IS NOT NULL)),
       |bins AS (
       |  SELECT a.i, a.v AS lo, b.v AS hi, a.k - 2 AS last_i
       |  FROM e a JOIN e b ON b.i = a.i + 1),
       |labeled AS (
       |  SELECT l.l_orderkey, l.l_linenumber,
       |    CASE WHEN b.i = b.last_i THEN printf('[%.2f, %.2f]', b.lo, b.hi)
       |         WHEN b.i IS NOT NULL THEN printf('[%.2f, %.2f)', b.lo, b.hi)
       |         END AS l_extendedprice
       |  -- LEFT join: a NULL price has no bin but KEEPS its row with a
       |  -- NULL label (pandas qcut NaN semantics, the engine's labelExpr
       |  -- fall-through) — FuzzSpec seed 3 caught the inner join
       |  -- silently dropping every null-price row from the oracle
       |  FROM lineitem l
       |  LEFT JOIN bins b ON l.l_extendedprice >= b.lo
       |    AND (l.l_extendedprice < b.hi OR (b.i = b.last_i AND l.l_extendedprice <= b.hi)))
       |SELECT * FROM labeled ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** KS SQL: the same union+window CDF plan, parameterized by column and
    * the two side filters. */
  private def ksSql(c: String, filterA: String, filterB: String): String =
    s"""WITH a AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem WHERE ($filterA) AND $c IS NOT NULL),
       |b AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem WHERE ($filterB) AND $c IS NOT NULL),
       |u AS (SELECT v, 1 AS ca, 0 AS cb FROM a UNION ALL SELECT v, 0, 1 FROM b),
       |counts AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb FROM u GROUP BY v),
       |cdfs AS (SELECT v,
       |  SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |  SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
       |  SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb FROM counts)
       |SELECT '$c' AS "column",
       |  MAX(CASE WHEN ta >= 5 AND tb >= 5
       |      THEN ABS(CAST(cuma AS DOUBLE) / ta - CAST(cumb AS DOUBLE) / tb) END) AS ks
       |FROM cdfs""".stripMargin

  /** W₁ SQL mirror of [[graft.ops.Drift.wasserstein]]: the same merged
    * distinct-value CDF grid; each segment contributes the exact HUGEINT
    * |cum₁·t₂ − cum₂·t₁| × width-in-cents, summed exactly, then ONE
    * normalization in double space in the identical operand order. */
  /** Mirrors [[graft.ops.Drift.wasserstein]]'s bit-deterministic sum
    * op-for-op: the same correctly-rounded double chain
    * (num/ta/tb·width·2⁶²), the same two-level floor (FLOOR below 2⁵²,
    * straight integer cast of the already-integer-valued double at or
    * above), exact HUGEINT accumulation (order-free), and the same
    * range≤10¹⁵ dispatch back to the plain double sum — so Spark and
    * DuckDB agree on every bit, not just to 1e-9. */
  private def wassersteinSql(c: String, filterA: String, filterB: String): String =
    s"""WITH a AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem WHERE ($filterA) AND $c IS NOT NULL),
       |b AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem WHERE ($filterB) AND $c IS NOT NULL),
       |u AS (SELECT v, 1 AS ca, 0 AS cb FROM a UNION ALL SELECT v, 0, 1 FROM b),
       |counts AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb FROM u GROUP BY v),
       |cdfs AS (SELECT v,
       |  SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
       |  SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
       |  SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb,
       |  MIN(v) OVER () AS vmin, MAX(v) OVER () AS vmax,
       |  LEAD(v) OVER (ORDER BY v) AS nxt FROM counts),
       |terms AS (SELECT ta, tb, (vmax - vmin) <= 1.0e15 AS range_ok,
       |  ABS(CAST(cuma AS DOUBLE) * CAST(tb AS DOUBLE) -
       |      CAST(cumb AS DOUBLE) * CAST(ta AS DOUBLE)) AS num,
       |  COALESCE(nxt - v, 0) AS width FROM cdfs),
       |t4s AS (SELECT ta, tb, range_ok, num * width AS dterm,
       |  CASE WHEN range_ok AND ta > 0 AND tb > 0 THEN
       |    num / CAST(ta AS DOUBLE) / CAST(tb AS DOUBLE) * width
       |      * 4611686018427387904.0
       |  ELSE 0.0 END AS t4 FROM terms),
       |q AS (SELECT ta, tb, range_ok, dterm,
       |  CASE WHEN t4 < 8.6e37 THEN
       |    CASE WHEN t4 < 4503599627370496.0
       |      THEN CAST(FLOOR(t4) AS HUGEINT) ELSE CAST(t4 AS HUGEINT) END
       |  ELSE CAST(0 AS HUGEINT) END AS qi FROM t4s)
       |SELECT '$c' AS "column",
       |  CASE WHEN ta > 0 AND tb > 0 THEN
       |    CASE WHEN range_ok
       |      THEN CAST(SUM(qi) AS DOUBLE) / 4611686018427387904.0
       |      ELSE SUM(dterm) / ta / tb END END AS w1
       |FROM q GROUP BY ta, tb, range_ok""".stripMargin

  /** chi²-like SQL mirror (reference formula verbatim incl. the 1e-9). */
  private def chi2Sql(c: String, filterA: String, filterB: String): String =
    s"""WITH ca AS (SELECT COALESCE(CAST($c AS VARCHAR), 'NA') AS k, COUNT(*) AS oa
       |            FROM lineitem WHERE ($filterA) GROUP BY 1),
       |cb AS (SELECT COALESCE(CAST($c AS VARCHAR), 'NA') AS k, COUNT(*) AS ob
       |       FROM lineitem WHERE ($filterB) GROUP BY 1),
       |j AS (SELECT COALESCE(ca.k, cb.k) AS k, COALESCE(oa, 0) AS oa, COALESCE(ob, 0) AS ob
       |      FROM ca FULL OUTER JOIN cb ON ca.k = cb.k),
       |t AS (SELECT k,
       |  CAST(oa - ob AS DOUBLE) * (oa - ob) / (CAST(oa + ob AS DOUBLE) + 1e-9) AS term,
       |  SUM(oa) OVER () AS ta, SUM(ob) OVER () AS tb FROM j),
       |cc AS (SELECT SUM(term) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |       ta, tb FROM t)
       |SELECT '$c' AS "column",
       |  MAX(CASE WHEN ta > 0 AND tb > 0 THEN cum END) AS chi2_like
       |FROM cc""".stripMargin

  /** PSI SQL mirror of [[graft.ops.Drift.psi]]: before-side decile edges
    * via `quantile_cont` (== Spark's exact interpolated `percentile`),
    * bin = #{edges ≤ v} via ASOF join on the ranked edge list, proportions
    * floored at the same eps, ordered term sum, round 6. */
  private def psiSql(c: String, filterA: String, filterB: String,
                     bins: Int = 10, eps: String = "1.0E-6"): String = {
    val probs = (1 until bins).map(i => (i.toDouble / bins).toString).mkString(", ")
    s"""WITH a AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem WHERE ($filterA) AND $c IS NOT NULL),
       |b AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem WHERE ($filterB) AND $c IS NOT NULL),
       |q AS (SELECT quantile_cont(v, [$probs]) AS qs FROM a),
       |e AS (SELECT DISTINCT u.e AS e FROM q, UNNEST(q.qs) u(e)),
       |eb AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY e) AS INTEGER) AS i, e FROM e),
       |abin AS (SELECT COALESCE(eb.i, 0) AS bin FROM a ASOF LEFT JOIN eb ON a.v >= eb.e),
       |bbin AS (SELECT COALESCE(eb.i, 0) AS bin FROM b ASOF LEFT JOIN eb ON b.v >= eb.e),
       |ca AS (SELECT bin, COUNT(*) AS ca FROM abin GROUP BY 1),
       |cb AS (SELECT bin, COUNT(*) AS cb FROM bbin GROUP BY 1),
       |allb AS (SELECT CAST(i AS INTEGER) AS bin
       |         FROM (SELECT COUNT(*) AS n FROM e) ne, UNNEST(range(ne.n + 1)) t(i)),
       |j AS (SELECT bin, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
       |      FROM allb LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)),
       |t AS (SELECT bin,
       |  GREATEST(CAST(ca AS DOUBLE) / SUM(ca) OVER (), $eps) AS pa,
       |  GREATEST(CAST(cb AS DOUBLE) / SUM(cb) OVER (), $eps) AS pb,
       |  SUM(ca) OVER () AS ta, SUM(cb) OVER () AS tb FROM j),
       |cc AS (SELECT SUM((pa - pb) * ln(pa / pb)) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |       ta, tb FROM t)
       |SELECT '$c' AS "column",
       |  ROUND(MAX(CASE WHEN ta > 0 AND tb > 0 THEN cum END), 6) AS psi
       |FROM cc""".stripMargin
  }

  /** Jensen–Shannon SQL mirror of [[graft.ops.Drift.jsDivergence]] —
    * chi2Sql's skeleton with the JS term and the same ordered summation. */
  private def jsSql(table: String, c: String, filterA: String, filterB: String): String =
    s"""WITH ca AS (SELECT COALESCE(CAST($c AS VARCHAR), 'NA') AS k, COUNT(*) AS oa
       |       FROM $table WHERE ($filterA) GROUP BY 1),
       |cb AS (SELECT COALESCE(CAST($c AS VARCHAR), 'NA') AS k, COUNT(*) AS ob
       |       FROM $table WHERE ($filterB) GROUP BY 1),
       |j AS (SELECT COALESCE(ca.k, cb.k) AS k, COALESCE(oa, 0) AS oa, COALESCE(ob, 0) AS ob
       |      FROM ca FULL OUTER JOIN cb ON ca.k = cb.k),
       |t AS (SELECT k, oa, ob,
       |  CAST(oa AS DOUBLE) / SUM(oa) OVER () AS p,
       |  CAST(ob AS DOUBLE) / SUM(ob) OVER () AS q,
       |  SUM(oa) OVER () AS ta, SUM(ob) OVER () AS tb FROM j),
       |terms AS (SELECT k, ta, tb,
       |  CASE WHEN oa > 0 THEN p * ln(p / ((p + q) / 2.0)) * 0.5 ELSE 0.0 END +
       |  CASE WHEN ob > 0 THEN q * ln(q / ((p + q) / 2.0)) * 0.5 ELSE 0.0 END AS term FROM t),
       |cc AS (SELECT SUM(term) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |       ta, tb FROM terms)
       |SELECT '$c' AS "column",
       |  ROUND(MAX(CASE WHEN ta > 0 AND tb > 0 THEN cum END), 6) AS js
       |FROM cc""".stripMargin

  /** Correlation-matrix SQL mirror of [[Profile.correlationMatrix]] —
    * generated from the same column list, same exact-cents moments
    * (DECIMAL(19,0) sums, 38-digit products), same double expression
    * shape and 6-dp rounding. One per-pair aggregate subquery unioned. */
  private def corrSql: String = {
    val cols = LiNumeric.map(_._1)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.length }
      yield (cols(i), cols(j))
    def c19(c: String) = s"CAST(${Exact.centsSql(c)} AS DECIMAL(19,0))"
    val parts = pairs.map { case (a, b) =>
      val nd = "CAST(COUNT(*) AS DOUBLE)"
      def s(x: String) = s"CAST(SUM(${c19(x)}) AS DOUBLE)"
      def sp(x: String, y: String) = s"CAST(SUM(${c19(x)} * ${c19(y)}) AS DOUBLE)"
      s"""SELECT '$a' AS col_a, '$b' AS col_b, COUNT(*) AS n,
         |  ROUND(($nd * ${sp(a, b)} - ${s(a)} * ${s(b)})
         |    / NULLIF(SQRT($nd * ${sp(a, a)} - ${s(a)} * ${s(a)})
         |      * SQRT($nd * ${sp(b, b)} - ${s(b)} * ${s(b)}), 0), 6) AS corr
         |FROM lineitem WHERE $a IS NOT NULL AND $b IS NOT NULL""".stripMargin
    }
    parts.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_a, col_b")
  }

  /** Extended-drift SQL mirror: PSI rows for the shared numerics, JS rows
    * for the shared strings/timestamps — the d3Sql union pattern over
    * [[psiSql]]/[[jsSql]] subqueries. */
  private def dExtendedSql: String = {
    val before = "1 = 1"
    val after = "l_orderkey % 2 = 1"
    val sharedNumeric = LiNumeric.map(_._1).filterNot(_ == "l_tax")
    val parts =
      sharedNumeric.map { c =>
        s"""SELECT "column", 'psi' AS type, psi AS metric FROM (${psiSql(c, before, after)}) x"""
      } ++
      (LiString ++ LiTs).map { c =>
        s"""SELECT "column", 'js' AS type, js AS metric FROM (${jsSql("lineitem", c, before, after)}) x"""
      }
    parts.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
  }

  private def d3Sql: String = {
    val before = "1 = 1"
    val after = "l_orderkey % 2 = 1"
    val sharedNumeric = LiNumeric.map(_._1).filterNot(_ == "l_tax")
    val parts =
      sharedNumeric.map { c =>
        s"""SELECT "column", 'ks' AS type, ROUND(ks, 6) AS metric FROM (${ksSql(c, before, after)}) x"""
      } ++
      (LiString ++ LiTs).map { c =>
        s"""SELECT "column", 'chi2_like' AS type, ROUND(chi2_like, 6) AS metric FROM (${chi2Sql(c, before, after)}) x"""
      }
    parts.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
  }

  /** V6 SQL, generated generically from the quasi column lists (mirrors
    * `Linkage.linkageRisk` exactly): standardize numerics (population σ
    * from exact moments, fit on anon); the categorical distance uses the
    * one-hot identity `[a ≠ r] · (inFit(a) + inFit(r))` with the fitted
    * list as an `IN (SELECT DISTINCT … FROM anon)` subquery — no
    * hardcoded category values, so a subset missing a category stays in
    * lockstep with the Spark side by construction. */
  private def v6Sql: String = {
    val anonF = "l_orderkey % 100 = 0"
    val realF = "l_orderkey % 100 = 50"
    val nums = Seq("l_quantity", "l_discount")
    val cats = Seq("l_returnflag")
    val quasi = nums ++ cats
    val moments = nums.map { c =>
      // the engine's standardize applies the `or 1.0` zero/NaN-σ
      // fallback (RowTransforms.standardizeApply); without mirroring it
      // a CONSTANT quasi column made the oracle divide by σ = 0 → NaN
      // features → NaN risk (r11 fuzz, seed 19 — degenerate quasi
      // domains were exactly that seed family's point)
      s"""  CAST(${Exact.s1Sql(c)} AS DOUBLE) / 100.0 / COUNT($c) AS mu_$c,
         |  (CASE WHEN ${Exact.stdPopSql(c)} IS NULL OR ${Exact.stdPopSql(c)} = 0
         |        OR isnan(${Exact.stdPopSql(c)}) THEN 1.0
         |        ELSE ${Exact.stdPopSql(c)} END) AS sd_$c""".stripMargin
    }.mkString(",\n")
    val feats = (
      nums.map(c => s"  (CAST($c AS DOUBLE) - m.mu_$c) / m.sd_$c AS std_$c") ++
      cats.map(c => s"  $c")).mkString(",\n")
    val fitCtes = cats.map(c =>
      s"fit_$c AS (SELECT DISTINCT $c AS v FROM af WHERE $c IS NOT NULL)").mkString(",\n")
    val numTerms = nums.map(c =>
      s"(a.std_$c - r.std_$c) * (a.std_$c - r.std_$c)")
    val catTerms = cats.map(c =>
      s"""CASE WHEN a.$c IS NOT DISTINCT FROM r.$c THEN 0.0
         |     ELSE (CASE WHEN a.$c IN (SELECT v FROM fit_$c) THEN 1.0 ELSE 0.0 END
         |         + CASE WHEN r.$c IN (SELECT v FROM fit_$c) THEN 1.0 ELSE 0.0 END) END""".stripMargin)
    val dist2 = (numTerms ++ catTerms).mkString(" +\n    ")
    // vector-grouped mirror (r12, matches Linkage.linkageRiskExact): both
    // sides collapse to DISTINCT quasi tuples before the pair scan (the
    // fit CTE `m` still reads the FULL anon frame); the anon multiplicity
    // weights the per-tuple score, and the cum-sum runs in tuple order
    // (distinct tuples ⇒ total order; NULLS FIRST = Spark's asc default)
    val kCols = quasi.zipWithIndex.map { case (c, i) => s"k$i" }
    val dKeys = (
      nums.map(c => s"a.std_$c") ++ cats.map(c => s"a.$c")
    ).zip(kCols).map { case (e, k) => s"$e AS $k" }.mkString(", ")
    val orderK = kCols.map(k => s"$k NULLS FIRST").mkString(", ")
    s"""WITH af AS (SELECT ${quasi.mkString(", ")} FROM lineitem WHERE $anonF),
       |rf AS (SELECT ${quasi.mkString(", ")} FROM lineitem WHERE $realF),
       |m AS (SELECT
       |$moments
       |  FROM af),
       |$fitCtes,
       |av AS (SELECT ${quasi.mkString(", ")}, COUNT(*) AS cnt
       |  FROM af GROUP BY ${quasi.mkString(", ")}),
       |rv AS (SELECT DISTINCT ${quasi.mkString(", ")} FROM rf),
       |a AS (SELECT cnt,
       |$feats
       |  FROM av, m),
       |r AS (SELECT
       |$feats
       |  FROM rv, m),
       |d AS (SELECT $dKeys, a.cnt AS cnt, MIN(SQRT(
       |    $dist2)) AS d0
       |  FROM a CROSS JOIN r GROUP BY ${kCols.indices.map(_ + 1).mkString(", ")}, a.cnt),
       |sc AS (SELECT
       |  SUM((1.0 - d0 / (d0 + 1e-9)) * cnt) OVER (ORDER BY $orderK ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |  SUM(cnt) OVER () AS n FROM d)
       |SELECT ROUND(LEAST(1.0, GREATEST(0.0, MAX(cum) / MAX(n))), 9) AS risk_score FROM sc""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "d1_ks_statistic" -> ksSql("l_quantity", "l_orderkey % 2 = 0", "l_orderkey % 2 = 1"),
    "d2_chi2_drift" -> chi2Sql("l_returnflag", "l_orderkey % 2 = 0", "l_orderkey % 2 = 1"),
    "q_salted_agg" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  CAST(SUM(CAST(${Exact.centsSql("l_extendedprice")} AS DECIMAL(19,0))) AS DOUBLE) AS sum_cents
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "v6_lsh_audit" ->
      """SELECT TRUE AS in_range, TRUE AS lsh_le_exact, TRUE AS recall_floor_ok""",
    "d4_utility_audit" ->
      """SELECT 'after' AS dataset, TRUE AS metrics_in_range
        |UNION ALL SELECT 'before', TRUE ORDER BY dataset""".stripMargin,
    "v4_synthetic_audit" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  TRUE AS mean_ok_q, TRUE AS range_ok_q,
        |  TRUE AS mean_ok_e, TRUE AS range_ok_e, TRUE AS pmf_ok
        |FROM lineitem""".stripMargin,
    "v3_dp_noise_inf" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
        |FROM lineitem""".stripMargin,
    "a1_profile_approx_audit" -> (
      (LiNumeric.map(_._1) ++ LiString ++ LiTs).sorted.map(c =>
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_total,
           |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           |  TRUE AS uniq_ok, TRUE AS q_ok FROM lineitem""".stripMargin)
        .mkString("\nUNION ALL\n") + "\nORDER BY \"column\""),
    // ε→∞ structural oracles for the declared DP releases: noise scale
    // < 1 ulp of every released value, so the noisy path must reproduce
    // the exact aggregates bit-for-bit
    "v_dp_histogram_inf" ->
      """SELECT COALESCE(CAST(l_returnflag AS VARCHAR), 'NA') AS category,
        |  CAST(COUNT(*) AS BIGINT) AS n_released
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "v_dp_mean_inf" ->
      """WITH s AS (SELECT
        |  SUM(LEAST(GREATEST(CAST(l_quantity AS DOUBLE), 0.0), 60.0)) AS cs,
        |  CAST(COUNT(l_quantity) AS DOUBLE) AS cn FROM lineitem)
        |SELECT COALESCE(cs, 0.0) AS noisy_sum, cn AS noisy_n,
        |  COALESCE(cs, 0.0) / GREATEST(1.0, cn) AS mean_released FROM s""".stripMargin,
    "d_psi" -> psiSql("l_extendedprice", "l_orderkey % 2 = 0", "l_orderkey % 2 = 1"),
    "d_wasserstein" -> wassersteinSql("l_extendedprice", "l_orderkey % 2 = 0", "l_orderkey % 2 = 1"),
    "d_drift_panel" -> {
      val fa = "l_orderkey % 2 = 0"
      val fb = "l_orderkey % 2 = 1"
      s"""SELECT 'ks' AS metric, CAST(ks AS DOUBLE) AS value
         |FROM (${ksSql("l_extendedprice", fa, fb)})
         |UNION ALL
         |SELECT 'psi', CAST(psi AS DOUBLE) FROM (${psiSql("l_extendedprice", fa, fb)})
         |UNION ALL
         |SELECT 'wasserstein', CAST(w1 AS DOUBLE)
         |FROM (${wassersteinSql("l_extendedprice", fa, fb)})
         |ORDER BY metric""".stripMargin
    },
    "d_ks_by_group" ->
      """WITH a AS (SELECT COALESCE(CAST(l_returnflag AS VARCHAR), 'NA') AS g,
        |             CAST(l_quantity AS DOUBLE) AS v
        |           FROM lineitem WHERE (l_orderkey % 2 = 0) AND l_quantity IS NOT NULL),
        |b AS (SELECT COALESCE(CAST(l_returnflag AS VARCHAR), 'NA') AS g,
        |        CAST(l_quantity AS DOUBLE) AS v
        |      FROM lineitem WHERE (l_orderkey % 2 = 1) AND l_quantity IS NOT NULL),
        |u AS (SELECT g, v, 1 AS ca, 0 AS cb FROM a
        |      UNION ALL SELECT g, v, 0, 1 FROM b),
        |counts AS (SELECT g, v, SUM(ca) AS na, SUM(cb) AS nb FROM u GROUP BY g, v),
        |cdfs AS (SELECT g,
        |  SUM(na) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |  SUM(nb) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |  SUM(na) OVER (PARTITION BY g) AS ta, SUM(nb) OVER (PARTITION BY g) AS tb
        |  FROM counts),
        |perg AS (SELECT g, MAX(CASE WHEN ta >= 5 AND tb >= 5
        |  THEN ABS(CAST(cuma AS DOUBLE) / ta - CAST(cumb AS DOUBLE) / tb) END) AS ks
        |  FROM cdfs GROUP BY g),
        |spine AS (SELECT DISTINCT COALESCE(CAST(l_returnflag AS VARCHAR), 'NA') AS g
        |          FROM lineitem)
        |SELECT spine.g AS grp, ks FROM spine LEFT JOIN perg ON spine.g = perg.g
        |ORDER BY grp""".stripMargin,
    "d_js_divergence" -> jsSql("documents", "lang", "doc_id % 2 = 0", "doc_id % 2 = 1"),
    "d_drift_extended" -> dExtendedSql,
    "a_corr_matrix" -> corrSql,
    "a_skew_report" ->
      """WITH counts AS (
        |  SELECT COALESCE(CAST(l_suppkey AS VARCHAR), 'NA') AS key, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total, COUNT(*) AS n_distinct,
        |        CAST(MAX(n) AS BIGINT) AS mx FROM counts),
        |top AS (SELECT key, n,
        |        CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key) AS INTEGER) AS rank
        |        FROM counts ORDER BY n DESC, key LIMIT 10)
        |SELECT rank, key, n,
        |  CAST(n AS DOUBLE) / n_total AS pct,
        |  CAST(mx AS DOUBLE) * n_distinct / n_total AS skew
        |FROM top, tot ORDER BY rank""".stripMargin,
    "a_histogram" ->
      """WITH st AS (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS mn,
        |                   CAST(MAX(l_extendedprice) AS DOUBLE) AS mx FROM lineitem),
        |b AS (SELECT CASE WHEN mx = mn THEN 0
        |        ELSE LEAST(9, GREATEST(0, CAST(FLOOR(
        |          (CAST(l_extendedprice AS DOUBLE) - mn) / ((mx - mn) / 10))
        |          AS INTEGER))) END AS bin
        |      FROM lineitem, st WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY bin),
        |spine AS (SELECT CAST(UNNEST(range(0, 10)) AS INTEGER) AS bin)
        |SELECT spine.bin,
        |  mn + spine.bin * ((mx - mn) / 10) AS lo,
        |  mn + (spine.bin + 1) * ((mx - mn) / 10) AS hi,
        |  COALESCE(n, 0) AS n
        |FROM spine CROSS JOIN st LEFT JOIN c ON spine.bin = c.bin
        |ORDER BY spine.bin""".stripMargin,
    "a_cramers_v" ->
      """WITH cells AS (
        |  SELECT COALESCE(CAST(l_returnflag AS VARCHAR), 'NA') AS x,
        |         COALESCE(CAST(l_linestatus AS VARCHAR), 'NA') AS y,
        |         COUNT(*) AS cxy
        |  FROM lineitem GROUP BY 1, 2),
        |grid AS (
        |  SELECT xs.x, ys.y, COALESCE(cxy, 0) AS cxy
        |  FROM (SELECT DISTINCT x FROM cells) xs
        |  CROSS JOIN (SELECT DISTINCT y FROM cells) ys
        |  LEFT JOIN cells ON xs.x = cells.x AND ys.y = cells.y),
        |t AS (SELECT x, y, cxy,
        |  SUM(cxy) OVER () AS n,
        |  SUM(cxy) OVER (PARTITION BY x) AS cx,
        |  SUM(cxy) OVER (PARTITION BY y) AS cy FROM grid),
        |u AS (SELECT x, y, n, cx, cy,
        |  CAST(n * cxy - cx * cy AS DOUBLE) AS d FROM t),
        |v AS (SELECT n,
        |  SUM(d * d / CAST(n * cx * cy AS DOUBLE)) OVER (ORDER BY x, y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM u),
        |w AS (SELECT MAX(cum) AS chi2, MAX(n) AS nn,
        |  (SELECT COUNT(DISTINCT x) FROM cells) AS rx,
        |  (SELECT COUNT(DISTINCT y) FROM cells) AS ry FROM v)
        |SELECT 'l_returnflag' AS col_x, 'l_linestatus' AS col_y,
        |  CASE WHEN LEAST(rx - 1, ry - 1) > 0 THEN
        |    ROUND(SQRT(chi2 / CAST(nn * LEAST(rx - 1, ry - 1) AS DOUBLE)), 6)
        |  END AS cramers_v
        |FROM w""".stripMargin,
    "d3_drift_all" -> d3Sql,
    "v6_linkage_risk" -> v6Sql,
    "a1_profile_lineitem" -> a1Sql,
    "a2_value_counts" ->
      """SELECT l_returnflag AS value, COUNT(*) AS cnt FROM lineitem
        |GROUP BY 1 ORDER BY cnt DESC, value ASC""".stripMargin,
    "a3_mode" ->
      """SELECT l_returnflag AS value, COUNT(*) AS cnt FROM lineitem
        |GROUP BY 1 ORDER BY cnt DESC, value ASC LIMIT 1""".stripMargin,
    "a4_rare_categories" ->
      """SELECT s_name AS value, COUNT(*) AS cnt FROM supplier
        |GROUP BY 1 HAVING COUNT(*) < 5 ORDER BY value""".stripMargin,
    "a5_distinct_counts" -> a5Sql,
    "a7_row_counts" -> a7Sql,
    "a8_mu_sigma" -> a8Sql,
    "a_moments_merge" -> aMomentsMergeSql,
    "a9_category_pmf" ->
      """SELECT value, cnt, CAST(cnt AS DOUBLE) / SUM(cnt) OVER () AS p
        |FROM (SELECT l_returnflag AS value, COUNT(*) AS cnt FROM lineitem GROUP BY 1) q
        |ORDER BY cnt DESC, value ASC""".stripMargin,
    "c1_checklist" -> c1Sql,
    "c2_checklist_score" -> c2Sql,
    "p_row_transforms" -> pRowTransformsSql,
    "p8_standardize" -> p8Sql,
    "p_winsorize" ->
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
        |  quantile_cont(l_extendedprice, 0.99) AS hi FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  LEAST(GREATEST(CAST(l_extendedprice AS DOUBLE), lo), hi) AS l_extendedprice_w
        |FROM lineitem CROSS JOIN q
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p_robust_scale" ->
      """WITH m AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med FROM lineitem),
        |f AS (SELECT quantile_cont(abs(CAST(l_extendedprice AS DOUBLE) - med), 0.5) AS mad,
        |  MIN(med) AS med FROM lineitem CROSS JOIN m)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  (CAST(l_extendedprice AS DOUBLE) - med) /
        |    (CASE WHEN mad > 0.0 THEN mad ELSE 1.0 END) AS l_extendedprice_r
        |FROM lineitem CROSS JOIN f
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "p9_onehot" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END AS "l_returnflag__A",
        |  CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS "l_returnflag__N",
        |  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS "l_returnflag__R"
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // data-derived vocabulary (no fixture alphabet anywhere): the fuzz
    // gate's schema-stable window onto the same encoder
    "p9_onehot_fuzz" ->
      """WITH fitv AS (
        |  SELECT DISTINCT l_returnflag AS cat FROM lineitem
        |  WHERE l_orderkey % 2 = 0 AND l_returnflag IS NOT NULL
        |)
        |SELECT * FROM (
        |  SELECT f.cat AS category,
        |    CAST((SELECT COUNT(*) FROM lineitem l WHERE l.l_returnflag = f.cat) AS DOUBLE) AS n_hot
        |  FROM fitv f
        |  UNION ALL
        |  SELECT '__rows' AS category, CAST(COUNT(*) AS DOUBLE) AS n_hot FROM lineitem
        |  UNION ALL
        |  SELECT '__allzero' AS category,
        |    CAST(COALESCE(SUM(CASE WHEN l_returnflag IS NULL
        |      OR l_returnflag NOT IN (SELECT cat FROM fitv) THEN 1 ELSE 0 END), 0) AS DOUBLE) AS n_hot
        |  FROM lineitem
        |) ORDER BY category""".stripMargin,
    "v1_sdc_suppress" ->
      """SELECT s_suppkey,
        |  CASE WHEN COUNT(*) OVER (PARTITION BY s_name) < 5 THEN 'OTHER' ELSE s_name END AS s_name
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "v2_generalize" -> v2Sql,
    "v5_smart_suggest" -> v5Sql,
    "v7_quasi_suggestions" ->
      """SELECT s.quasi_id
        |FROM (VALUES ('age'),('gender'),('zipcode'),('pincode'),('city'),('state'),('education'),('income')) s(quasi_id)
        |WHERE s.quasi_id IN ('income', 'city')
        |ORDER BY s.quasi_id""".stripMargin,
    "v8_k_anonymity" ->
      """WITH g AS (SELECT l_quantity, l_discount, l_returnflag, COUNT(*) AS c
        |           FROM lineitem GROUP BY 1, 2, 3)
        |SELECT CAST(MIN(c) AS BIGINT) AS k_min,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(COALESCE(SUM(CASE WHEN c < 5 THEN c ELSE 0 END), 0) AS BIGINT) AS n_rows_below_k,
        |  CAST(COALESCE(SUM(CASE WHEN c < 5 THEN c ELSE 0 END), 0) AS DOUBLE) * 100.0 / SUM(c) AS pct_below_k
        |FROM g""".stripMargin,
    "v9_l_diversity" ->
      """WITH g AS (SELECT l_quantity, l_returnflag,
        |             COUNT(DISTINCT l_linestatus) AS l
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT CAST(MIN(l) AS BIGINT) AS l_min,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups FROM g""".stripMargin,
    "v10_t_closeness" ->
      """WITH cells AS (SELECT l_quantity, l_returnflag,
        |  COALESCE(CAST(l_linestatus AS VARCHAR), 'NA') AS v, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2, 3),
        |w AS (SELECT *,
        |  SUM(c) OVER (PARTITION BY l_quantity, l_returnflag) AS ng,
        |  SUM(c) OVER (PARTITION BY v) AS cv,
        |  SUM(c) OVER () AS N FROM cells),
        |g AS (SELECT l_quantity, l_returnflag, MAX(ng) AS ng, MAX(N) AS N,
        |  SUM(ABS(c * N - cv * ng)) AS s1, SUM(cv) AS s2
        |  FROM w GROUP BY 1, 2)
        |SELECT MAX((CAST(s1 AS DOUBLE) / (ng * N) + CAST(N - s2 AS DOUBLE) / N) * 0.5) AS t_max,
        |  COUNT(*) AS n_groups FROM g""".stripMargin,
  )
}

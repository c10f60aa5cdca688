package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.compliance.Checklist
import graft.io.YamlConfig.PipelineConfig
import graft.ml.UtilityCheck
import graft.ops.{Drift, Privacy, Profile}
import graft.report.Html
import graft.risk.Linkage
import java.time.Instant

/** The user-facing 6-step pipeline (SURVEY.md §3; reference `app.py:104`:
  * Upload → Risk → Protect → Utility → Compliance → Report), re-expressed
  * as a session over named lazy DataFrames instead of Streamlit reruns
  * over materialized copies.
  *
  * Every step returns lazy plans where the semantics allow; the only
  * eager points are fitted parameters (quantile edges, moments, rare
  * sets, distinct categories — all small) and the report's bounded
  * previews. A user of
  * the reference switches by constructing a session and calling the same
  * six steps.
  */
final class GraftSession(val spark: SparkSession) {

  /** Named dataset slots (reference `st.session_state`, `app.py:108-110`). */
  @volatile var real: Option[DataFrame] = None
  @volatile var anon: Option[DataFrame] = None
  @volatile var protected_ : Option[DataFrame] = None

  var lastRisk: Option[RiskResult] = None
  var lastQuasi: Seq[String] = Seq.empty

  def uploadReal(df: DataFrame): this.type = { real = Some(df); this }
  def uploadAnon(df: DataFrame): this.type = { anon = Some(df); this }

  /** Step 2 — risk: V7 suggestions ∩ columns, V6 linkage score. */
  def assessRisk(quasi: Seq[String] = Seq.empty): RiskResult = {
    val a = anon.getOrElse(sys.error("no anon dataset uploaded"))
    val r = real.getOrElse(sys.error("no real dataset uploaded"))
    val q = if (quasi.nonEmpty) quasi else Privacy.quasiSuggestions(a)
    require(q.nonEmpty, "no quasi-identifier columns found")
    val score = Linkage.linkageRisk(a, r, q).head().getDouble(0)
    lastQuasi = q
    val res = RiskResult(score, q)
    lastRisk = Some(res)
    res
  }

  /** Step 3 — protect with an explicit config: V1 → V2 → V3 (→ V4).
    * Each step fits first, then applies as a projection: V1 collects
    * each column's rare set ([[graft.ops.Privacy.sdcSuppress]]), V2
    * fits its quantile edges on the already-suppressed frame, and V3
    * noise is a column expression. The returned plan is therefore the
    * scan under one Project, and every later reader (utility fits,
    * counts, previews, a CSV publish) re-runs no fit. The fits are eager:
    * one grouped-count job per suppressed column, and per generalized
    * column one [[graft.ops.Exact.quantiles]] fit of its exact edges
    * (the driver sort up to [[graft.ops.Exact.DriverFitMaxRows]] rows,
    * the cents histogram above it). A null group counted below the
    * threshold becomes "OTHER", as in [[protectAuto]]. A suppressed
    * column whose rare set passes
    * [[graft.ops.Privacy.SuppressFitMaxValues]] keeps the lazy
    * broadcast-join form. V4 synthesis (when asked for) fits on the
    * transformed frame. */
  def protect(config: PipelineConfig): DataFrame = {
    val a = anon.getOrElse(sys.error("no anon dataset uploaded"))
    var df = Privacy.sdcSuppress(a, config.sdcCols, config.sdcThreshold)
    config.generalizeCols.foreach { c =>
      df = Privacy.generalizeNumeric(df, c, config.generalizeBins)
    }
    if (config.dpCols.nonEmpty)
      df = Privacy.dpNoise(df, config.dpCols, config.epsilon, config.sensitivity, config.seed)
    if (config.synthetic)
      df = Privacy.syntheticSample(df, df.columns.toSeq, seed = config.seed)
    protected_ = Some(df)
    df
  }

  /** Step 3 fused — the "smart protect" flow (suggest, then apply the
    * suggestions) with ONE fitting scan: [[graft.ops.Privacy.protectFit]]
    * collects every buffer V5/V1/V2 need, so the whole
    * suggest→suppress→generalize→noise chain costs at most one Spark job
    * of fitting (none on a pure parquet scan) plus the single transform
    * pass — instead of a counting scan per operator (V5 sweep + V1 group
    * counts + V2 percentile fit).
    * Synthesis (when requested) still fits separately because it must
    * observe the TRANSFORMED frame. Applies through the same `*Fitted`
    * projections as [[protect]], and like it sends a string column
    * holding a key that is not valid UTF-8 to the byte-exact join form.
    * Driver-fit regime (the fit holds every column's values and
    * vocabulary on the driver); beyond the documented ceiling use
    * [[protect]], whose per-column fits are distributed aggregates with
    * bounded collects. */
  def protectAuto(sdcThreshold: Long = 5, bins: Int = 10,
                  epsilon: Double = 1.0, sensitivity: Double = 1.0,
                  seed: Long = 42L, synthetic: Boolean = false): DataFrame = {
    val a = anon.getOrElse(sys.error("no anon dataset uploaded"))
    val fit = Privacy.protectFit(a)
    var df = a
    var dpCols = Seq.empty[String]
    fit.suggestions.foreach {
      case (c, "sdc", _) =>
        df = fit.rareCategories(c, sdcThreshold) match {
          case Some(rare) => Privacy.sdcSuppressFitted(df, c, rare)
          case None       => Privacy.sdcSuppressBroadcast(df, Seq(c), sdcThreshold)
        }
      case (c, "generalize+dp", _) =>
        df = Privacy.generalizeFitted(df, c, fit.quantileEdges(c, bins))
      case (c, "dp", _) => dpCols :+= c
      case _ => ()
    }
    if (dpCols.nonEmpty)
      df = Privacy.dpNoise(df, dpCols, epsilon, sensitivity, seed)
    if (synthetic)
      df = Privacy.syntheticSample(df, df.columns.toSeq, seed = seed)
    protected_ = Some(df)
    df
  }

  /** Step 4 — utility: A1 profiles, D3 drift, optional D4 model check.
    * `extended = true` adds the monitoring metrics beyond the reference —
    * PSI per numeric column, Jensen–Shannon per categorical — as a second
    * (column, type, metric) frame in the same shape as `drift`. */
  def measureUtility(target: Option[String] = None,
                     extended: Boolean = false): UtilityResult = {
    val before = anon.getOrElse(sys.error("no anon dataset uploaded"))
    val after = protected_.getOrElse(sys.error("protect() has not run"))
    val model = target.map(t => UtilityCheck.modelUtility(before, after, t))
    UtilityResult(
      statsBefore = Profile.profile(before),
      statsAfter = Profile.profile(after),
      drift = Drift.driftAll(before, after),
      modelUtility = model,
      extendedDrift =
        if (extended) Some(Drift.driftAllExtended(before, after)) else None)
  }

  /** Step 5 — compliance: C1 checklist + C2 score. */
  def compliance(): (DataFrame, Double) = {
    val ds = Checklist.defaultChecklist(spark)
    (ds.toDF(), Checklist.score(ds).head().getDouble(0))
  }

  /** Step 6 — report: C3 summary + S4 HTML (injectable clock). */
  def report(title: String = "SafeData Run",
             clock: () => Instant = () => Instant.now()): String = {
    val summary = RunSummary(
      quasiIds = lastQuasi,
      riskScore = lastRisk.map(_.riskScore),
      rowsBefore = anon.map(_.count()),
      rowsAfter = protected_.map(_.count()))
    val tables = Seq.newBuilder[(String, DataFrame)]
    anon.foreach(df => tables += ("anon preview" -> df))
    protected_.foreach(df => tables += ("protected preview" -> df))
    Html.render(title,
      Seq("run summary" -> summary.toJson),
      tables.result(), clock = clock)
  }

  /** Step 6b — S5 PDF twin of the HTML report (reference
    * `modules/reporting.py:51-75` `try_make_pdf`): text linearization of
    * the same report, written as a dependency-free PDF. */
  def reportPdf(path: String, title: String = "SafeData Run",
                clock: () => Instant = () => Instant.now()): String =
    graft.report.Pdf.writeFromHtml(report(title, clock), path)

  /** The whole reference app flow as ONE invocation (`app.py:104-267`):
    * upload → risk → protect → utility → compliance → report, driven by a
    * single [[PipelineConfig]] — what a batch deployment of the reference
    * actually needs, with the Streamlit reruns replaced by one pass of
    * lazy plans and bounded fits.
    *
    * The returned report is the FULL reference artifact
    * (`modules/reporting.py:36-49` `save_html_report(summary,
    * risk_summary, util_stats, comp_df)`): run + risk summaries, stats
    * BEFORE/AFTER, the drift table, the compliance checklist, and the
    * bounded previews. Deterministic under a fixed `clock` + config
    * `seed` — byte-stable across reruns and partitionings (every fit is
    * exact-decimal / seeded), which is what makes the artifact diffable
    * in CI.
    *
    * @param quasi  explicit quasi-identifiers; empty = V7 suggestions
    * @param target optional label column for the D4 model-utility check
    * @param pdfPath also linearize the report as a PDF (S5) when set */
  def runPipeline(realDf: DataFrame, anonDf: DataFrame,
                  config: PipelineConfig = PipelineConfig(),
                  quasi: Seq[String] = Seq.empty,
                  target: Option[String] = None,
                  title: String = "SafeData Run",
                  pdfPath: Option[String] = None,
                  clock: () => Instant = () => Instant.now()): PipelineRun = {
    uploadReal(realDf)
    uploadAnon(anonDf)
    val risk = assessRisk(quasi)
    val prot = protect(config)
    val utility = measureUtility(target)
    val (checklist, complianceScore) = compliance()
    val summary = RunSummary(
      quasiIds = risk.quasi,
      riskScore = Some(risk.riskScore),
      rowsBefore = anon.map(_.count()),
      rowsAfter = Some(prot.count()))
    val riskJson =
      s"""{"risk_score": ${risk.riskScore}, "quasi": ${risk.quasi.map(s => "\"" + s + "\"").mkString("[", ", ", "]")}}"""
    val complianceJson = s"""{"checklist_score": $complianceScore}"""
    val html = Html.render(title,
      Seq("run summary" -> summary.toJson,
        "risk summary" -> riskJson,
        "compliance" -> complianceJson),
      Seq("stats BEFORE" -> utility.statsBefore,
        "stats AFTER" -> utility.statsAfter,
        "distribution drift" -> utility.drift,
        "compliance checklist" -> checklist,
        "anon preview" -> anonDf,
        "protected preview" -> prot) ++
        utility.modelUtility.map("model utility" -> _),
      clock = clock)
    val pdf = pdfPath.map(p => graft.report.Pdf.writeFromHtml(html, p))
    PipelineRun(risk, prot, utility, checklist, complianceScore, html, pdf)
  }
}

/** Everything [[GraftSession.runPipeline]] produced, including the final
  * report — the reference app's whole session output as one value. */
final case class PipelineRun(risk: RiskResult, protectedDf: DataFrame,
                             utility: UtilityResult, checklist: DataFrame,
                             complianceScore: Double, reportHtml: String,
                             pdfPath: Option[String])

/** Reference `app.py:165`: overall score + quasi set. */
final case class RiskResult(riskScore: Double, quasi: Seq[String])

/** Reference `app.py:241-246`. */
final case class RunSummary(quasiIds: Seq[String], riskScore: Option[Double],
                            rowsBefore: Option[Long], rowsAfter: Option[Long]) {
  def toJson: String = {
    val q = quasiIds.map(s => "\"" + s + "\"").mkString("[", ", ", "]")
    s"""{"quasi_ids": $q, "risk_score": ${riskScore.map(_.toString).getOrElse("null")}, """ +
      s""""rows_before": ${rowsBefore.map(_.toString).getOrElse("null")}, """ +
      s""""rows_after": ${rowsAfter.map(_.toString).getOrElse("null")}}"""
  }
}

/** Utility-step bundle (SURVEY §3 entry point 3). */
final case class UtilityResult(statsBefore: DataFrame, statsAfter: DataFrame,
                               drift: DataFrame, modelUtility: Option[DataFrame],
                               extendedDrift: Option[DataFrame] = None)

package graft.core

import graft.SparkSpec
import graft.io.{Csv, YamlConfig}
import graft.io.YamlConfig.PipelineConfig
import java.time.Instant

/** End-to-end 6-step pipeline on a repo-held sample pair in the shape of
  * the reference's own samples (FIXTURES.md §1; made by
  * `dev/make_reference_sample.py`, not the reference's bytes) — the
  * "switch from the reference" scenario. */
class GraftSessionSpec extends SparkSpec {

  private def sample(name: String): String =
    new java.io.File(getClass.getResource(s"/reference_sample/$name").toURI).getPath

  private lazy val real = Csv.read(spark, sample("sample_real.csv"))
  private lazy val anon = Csv.read(spark, sample("sample_anon.csv"))

  test("S1 csv inference matches the expected schema") {
    assert(real.schema.map(_.name) ==
      Seq("age", "gender", "pincode", "income", "target", "name"))
    assert(real.schema("age").dataType.typeName == "integer")
    assert(real.schema("income").dataType.typeName == "double")
  }

  test("full pipeline: risk=1.0 on the identical-pair demo, protect, utility, report") {
    val s = new GraftSession(spark)
    s.uploadReal(real).uploadAnon(anon)

    // V7 suggests age/gender/pincode/income; pairwise-identical rows → 1.0
    val risk = s.assessRisk()
    assert(risk.quasi == Seq("age", "gender", "pincode", "income"))
    assert(risk.riskScore == 1.0)

    val cfg = PipelineConfig(
      sdcCols = Seq("gender"), generalizeCols = Seq("income"),
      dpCols = Seq("age"), epsilon = 1.0)
    val prot = s.protect(cfg)
    assert(prot.count() == 200)
    assert(prot.schema("income").dataType.typeName == "string") // generalized

    val u = s.measureUtility(target = Some("target"), extended = true)
    val drift = u.drift.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(drift("income") == "chi2_like") // generalized col takes the categorical branch (SURVEY §4.4.1)
    assert(drift("age") == "ks")
    assert(u.statsBefore.count() == anon.columns.length)
    // extended monitoring frame: same columns, psi/js dispatch
    val ext = u.extendedDrift.get.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ext.keySet == drift.keySet)
    assert(ext("income") == "js" && ext("age") == "psi")

    val (checklist, score) = s.compliance()
    assert(checklist.count() == 12 && score == 0.0)

    val html = s.report(clock = () => Instant.parse("2026-01-01T00:00:00Z"))
    assert(html.contains("\"risk_score\": 1.0"))
    assert(html.contains("protected preview"))
  }

  test("runPipeline: one invocation produces the full reference artifact, byte-stable") {
    val cfg = PipelineConfig(
      sdcCols = Seq("gender"), generalizeCols = Seq("income"),
      dpCols = Seq("age"), epsilon = 1.0, seed = 42L)
    val clock = () => Instant.parse("2026-01-01T00:00:00Z")
    def run(): PipelineRun = new GraftSession(spark).runPipeline(
      real, anon, cfg, target = Some("target"),
      title = "SafeData Run", clock = clock)

    val r1 = run()
    // every step's output is in the one result
    assert(r1.risk.riskScore == 1.0)
    assert(r1.protectedDf.count() == 200)
    assert(r1.checklist.count() == 12 && r1.complianceScore == 0.0)
    // the report carries the reference's full artifact surface
    //  (summary + risk + stats both sides + drift + checklist + previews)
    for (section <- Seq("run summary", "risk summary", "compliance",
        "stats BEFORE", "stats AFTER", "distribution drift",
        "compliance checklist", "anon preview", "protected preview",
        "model utility"))
      assert(r1.reportHtml.contains(section), s"report missing: $section")
    assert(r1.reportHtml.contains("\"risk_score\": 1.0"))

    // fixed clock + seed ⇒ byte-stable across reruns (diffable in CI)
    val r2 = run()
    assert(r1.reportHtml == r2.reportHtml, "report must be byte-stable")

    // PDF twin: deterministic bytes for the same report
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val p1 = new GraftSession(spark).runPipeline(real, anon, cfg,
      target = Some("target"), pdfPath = Some(s"$dir/r1.pdf"), clock = clock)
    assert(p1.pdfPath.exists(p => new java.io.File(p).length() > 0))
  }

  test("runPipeline with synthesis: a label V4 made continuous gives NaN model utility, not an abort") {
    val cfg = PipelineConfig(
      sdcCols = Seq("gender"), generalizeCols = Seq("income"),
      dpCols = Seq("age"), synthetic = true, seed = 42L)
    val r = new GraftSession(spark).runPipeline(real, anon, cfg,
      target = Some("target"), clock = () => Instant.parse("2026-01-01T00:00:00Z"))
    val acc = r.utility.modelUtility.get.collect()
      .map(row => row.getString(0) -> row.getDouble(1)).toMap
    assert(!acc("before").isNaN, "the anon side keeps its integer labels")
    assert(acc("after").isNaN, "synthesized labels are not classes: no model is fitted")
    assert(r.reportHtml.contains("model utility"))
  }

  test("runPipeline: the overlapped run equals the steps run one at a time") {
    val clock = () => Instant.parse("2026-01-01T00:00:00Z")
    for (synthetic <- Seq(false, true)) {
      val cfg = PipelineConfig(
        sdcCols = Seq("gender"), generalizeCols = Seq("income"),
        dpCols = Seq("age"), epsilon = 1.0, synthetic = synthetic, seed = 42L)
      val run = new GraftSession(spark).runPipeline(real, anon, cfg,
        target = Some("target"), clock = clock)

      val s = new GraftSession(spark).uploadReal(real).uploadAnon(anon)
      val risk = s.assessRisk()
      val prot = s.protect(cfg)
      val u = s.measureUtility(target = Some("target"))
      val (checklist, score) = s.compliance()
      val summary = RunSummary(risk.quasi, Some(risk.riskScore),
        Some(anon.count()), Some(prot.count()))
      val riskJson = s"""{"risk_score": ${risk.riskScore}, "quasi": ${risk.quasi.map(q => "\"" + q + "\"").mkString("[", ", ", "]")}}"""
      val html = graft.report.Html.render("SafeData Run",
        Seq("run summary" -> summary.toJson, "risk summary" -> riskJson,
          "compliance" -> s"""{"checklist_score": $score}"""),
        Seq("stats BEFORE" -> u.statsBefore, "stats AFTER" -> u.statsAfter,
          "distribution drift" -> u.drift, "compliance checklist" -> checklist,
          "anon preview" -> anon, "protected preview" -> prot,
          "model utility" -> u.modelUtility.get),
        clock = clock)

      assert(run.reportHtml == html, s"synthetic = $synthetic")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(run.protectedDf) == rows(prot), s"synthetic = $synthetic")
      assert(run.stepSeconds.map(_._1) == Seq("risk", "before", "protect", "after"))
      assert(run.stepSeconds.forall(_._2 > 0.0))
      assert(!run.reportHtml.contains("stepSeconds"))
    }
  }

  test("runPipeline: a failing branch rethrows its own exception, and no thread or persisted RDD is left") {
    import scala.jdk.CollectionConverters._
    val cfg = PipelineConfig(sdcCols = Seq("gender"), generalizeCols = Seq("income"),
      dpCols = Seq("age"), seed = 42L)
    def parThreads = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.getName.startsWith("graft-par-") && t.isAlive)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    // a missing quasi column fails the risk branch; a missing label fails
    // one part of the after side's fan-out
    val direct = Seq(
      intercept[Throwable](new GraftSession(spark).uploadReal(real).uploadAnon(anon)
        .assessRisk(Seq("no_such_column"))),
      intercept[Throwable](graft.ml.UtilityCheck.modelUtility(anon,
        new GraftSession(spark).uploadAnon(anon).protect(cfg), "no_such_label")))
    val viaPipeline = Seq(
      intercept[Throwable](new GraftSession(spark).runPipeline(real, anon, cfg,
        quasi = Seq("no_such_column"), target = Some("target"))),
      intercept[Throwable](new GraftSession(spark).runPipeline(real, anon, cfg,
        target = Some("no_such_label"))))
    // the messages match up to the plan's expression ids
    def head(e: Throwable) = e.getMessage.linesIterator.next()
    for ((d, p) <- direct.zip(viaPipeline)) {
      assert(p.getClass == d.getClass)
      assert(head(p) == head(d))
    }
    assert(parThreads == 0, "every branch thread has joined")
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
  }

  test("S3 yaml config round-trips") {
    val cfg = PipelineConfig(sdcCols = Seq("gender", "city"), epsilon = 2.5,
      generalizeCols = Seq("income"), synthetic = true, seed = 7L)
    assert(YamlConfig.load(YamlConfig.dump(cfg)) == cfg)
    assert(YamlConfig.load("") == PipelineConfig())
  }

  test("S2 csv sink writes a single header'd file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/out"
    Csv.write(anon.limit(3), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files(0)).getLines().toSeq
    assert(lines.head == "age,gender,pincode,income,target")
    assert(lines.length == 4)
  }

  test("protectAuto: zero fitting jobs on a pure scan; suggestions and transforms match the unfused ops") {
    import graft.ops.Privacy
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, Sf)

    val (fit, jobs) = jobsDuring(Privacy.protectFit(li))
    // r14: a pure parquet scan's fit decodes DRIVER-side (DriverParquet),
    // so the fused fit costs ZERO Spark jobs; any other input takes the
    // collector's one fused job (pinned in the next test)
    assert(jobs == 0, s"protectFit ran $jobs jobs, want 0 (driver-side decode)")

    // suggestion parity with the standalone V5 sweep
    val v5 = Privacy.smartSuggest(li).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val fused = fit.suggestions.map { case (c, s, _) => (c, s) }.sorted
    assert(fused == v5)

    // transform parity, column by column, against the unfused operators
    val sess = new GraftSession(spark).uploadAnon(li)
    val auto = sess.protectAuto(sdcThreshold = 5, bins = 10)
    val strCols = fused.collect { case (c, "sdc") => c }
    val genCols = fused.collect { case (c, "generalize+dp") => c }
    assert(genCols.nonEmpty, s"fixture lost coverage: $fused")
    var manual = li
    strCols.foreach { c => manual = Privacy.sdcSuppressBroadcast(manual, Seq(c), 5) }
    genCols.foreach { c =>
      manual = Privacy.generalizeNumeric(manual, c, 10)
    }
    // dp columns draw seeded noise whose values depend on upstream plan
    // layout, so parity is checked on the deterministic columns
    // dp columns draw seeded noise whose values depend on upstream plan
    // layout, so parity compares the deterministic transformed columns
    // (as a multiset — the stable keys are themselves transformed)
    val detCols = strCols ++ genCols
    def det(df: org.apache.spark.sql.DataFrame) = df.select(detCols.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(det(auto) == det(manual),
      "fused transforms must equal the unfused operator chain")

    // lineitem's strings stay under the sdc threshold at this SF, so pin
    // the fused fit's rare set against sdcSuppress's grouped-count fit
    // directly on supplier
    val sup = graft.Tables.supplier(spark, Sf).select(col("s_suppkey"), col("s_name"))
    val supFit = Privacy.protectFit(sup)
    val rare = supFit.rareCategories("s_name", 5).get
    assert(rare.nonEmpty, "supplier names should have rare categories")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long](0), r.getAs[String](1))).sortBy(_._1).toSeq
    assert(rows(Privacy.sdcSuppressFitted(sup, "s_name", rare)) ==
      rows(Privacy.sdcSuppress(sup, Seq("s_name"), 5)))

    // synthetic=true appends V4 on the TRANSFORMED frame: row count and
    // schema survive, values are synthesized (seeded)
    val sess2 = new GraftSession(spark).uploadAnon(li)
    val synth = sess2.protectAuto(synthetic = true)
    assert(synth.count() == li.count())
    assert(synth.columns.toSeq == auto.columns.toSeq)
  }

  test("protectFit: one Spark job on a computed-column projection of a scan") {
    import graft.ops.Privacy
    import org.apache.spark.sql.functions._
    // computed columns refuse the driver decode, so the fit runs the
    // collector's Spark form: one fused job whatever the column count
    val li = graft.Tables.lineitem(spark, Sf).select(
      (col("l_quantity") + 1).as("q"), (col("l_extendedprice") * 2).as("p"),
      (col("l_discount") - 0.5).as("d"), lower(col("l_returnflag")).as("rf"),
      lower(col("l_linestatus")).as("ls"))
    val (fit, jobs) = jobsDuring(Privacy.protectFit(li))
    assert(jobs == 1, s"protectFit ran $jobs jobs, want 1")
    assert(fit.rows == li.count())
    assert(fit.catCounts("rf").values.sum == fit.rows)
  }
}

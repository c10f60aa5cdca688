package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession
import graft.io.{Csv, YamlConfig}

/** Runnable walkthrough of the 6-step reference pipeline
  * (reference `app.py:104` Upload → Risk → Protect → Utility →
  * Compliance → Report), re-expressed on this engine — the README
  * quickstart executes exactly this file.
  *
  * Self-contained: with no arguments it writes a small deterministic
  * demo CSV pair (the reference's `sample_real.csv`/`sample_anon.csv`
  * shape: age, gender, pincode, income, target) and runs on that, so a
  * clean checkout needs only
  *
  *   sbt "runMain graft.DemoPipeline"
  *
  * Pass two CSV paths to run on your own (identified, de-identified)
  * pair instead. Artifacts land in /tmp/graft_demo/: config.yaml (the
  * S3 round-trip), report.html (S4), report.pdf (S5). */
object DemoPipeline {

  /** What one end-to-end run leaves behind — returned so the gate spec
    * (DemoPipelineSpec, r15: the front door must fail the suite when it
    * rots) can assert on artifact content without re-parsing logs. */
  final case class DemoArtifacts(cfgPath: String, htmlPath: String,
                                 pdfPath: String, html: String,
                                 riskScore: Double, complianceScore: Double)

  /** Deterministic demo CSVs in the reference sample shape. */
  private[graft] def writeDemoCsvs(dir: String): (String, String) = {
    val r = new scala.util.Random(42)
    val genders = Seq("M", "F", "O")
    def rows(jitter: Int) = (1 to 500).map { i =>
      val age = 18 + ((i * 7 + jitter) % 60)
      val gender = genders((i + jitter) % genders.length)
      val pincode = 560000 + (i * 13) % 100
      val income = 20000 + ((i * 997 + jitter * 31) % 80000) + r.nextInt(500)
      val target = if ((income + age) % 3 == 0) 1 else 0
      s"$age,$gender,$pincode,$income,$target"
    }
    val header = "age,gender,pincode,income,target"
    def write(name: String, jitter: Int): String = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, (header +: rows(jitter)).mkString("\n"))
      p.toString
    }
    (write("demo_real.csv", 0), write("demo_anon.csv", 1))
  }

  def main(args: Array[String]): Unit = {
    val outDir = "/tmp/graft_demo"
    val (realCsv, anonCsv) = args match {
      case Array(r, a) => (r, a)
      case _           => writeDemoCsvs(outDir)
    }
    val spark = Sessions.local(cpus = "4", appName = "graft-demo")
    spark.sparkContext.setLogLevel("ERROR")
    run(spark, outDir, realCsv, anonCsv)
    println(s"[demo] done — artifacts in $outDir")
    spark.stop()
  }

  /** The whole 6-step pipeline on a CALLER-OWNED session (main wraps
    * this; the suite gate drives it directly — it must never create or
    * stop a session, or the shared test session dies with it). */
  def run(spark: SparkSession, outDir: String,
          realCsv: String, anonCsv: String,
          clock: () => java.time.Instant = () => java.time.Instant.now())
      : DemoArtifacts = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // ── Step 1: Upload (app.py:113-142 — S1 CSV with schema inference)
    val s = new GraftSession(spark)
    s.uploadReal(Csv.read(spark, realCsv))
    s.uploadAnon(Csv.read(spark, anonCsv))

    // ── Step 2: Risk (modules/risk.py — V6 k-NN linkage + V7 quasi-IDs)
    val risk = s.assessRisk()
    println(s"[demo] risk: score=${risk.riskScore} quasi=${risk.quasi.mkString(",")}")

    // ── Config round-trip (S3 — app.py:122-130): save, reload, show
    val cfg = YamlConfig.PipelineConfig(
      sdcCols = Seq("gender"), generalizeCols = Seq("income"),
      dpCols = Seq("age"), epsilon = 1.0)
    val cfgPath = s"$outDir/config.yaml"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfgPath), YamlConfig.dump(cfg))
    val reloaded = YamlConfig.load(
      java.nio.file.Files.readString(java.nio.file.Paths.get(cfgPath)))
    require(reloaded == cfg, "config YAML round-trip must be lossless")
    println(s"[demo] config round-trip OK → $cfgPath")

    // ── Step 3: Protect with the round-tripped config (V1 suppression on
    //    gender, V2 generalization on income, V3 DP noise on age). The
    //    label column `target` stays untouched, so the D4 model check in
    //    step 4 scores the protected features; s.protectAuto() is the
    //    suggestion-driven form, which would also noise `target`
    val prot = s.protect(reloaded)
    println("[demo] protected preview:")
    prot.show(3, truncate = false)

    // ── Step 4: Utility (modules/utility.py — A1 profiles, D1-D3 drift,
    //    D4 model check; extended = PSI + Jensen-Shannon monitors)
    val u = s.measureUtility(target = Some("target"), extended = true)
    println("[demo] drift:")
    u.drift.show(10, truncate = false)
    u.extendedDrift.foreach { d => println("[demo] extended drift (PSI/JS):"); d.show(10) }
    u.modelUtility.foreach { m => println("[demo] model utility:"); m.show() }

    // ── Step 5: Compliance (modules/compliance.py — C1 checklist, C2 score)
    val (checklist, score) = s.compliance()
    checklist.show(3, truncate = false)
    println(s"[demo] compliance score: $score")

    // ── Step 6: Report (modules/reporting.py — S4 HTML + S5 PDF)
    val html = s.report(clock = clock)
    val htmlPath = java.nio.file.Paths.get(s"$outDir/report.html")
    java.nio.file.Files.writeString(htmlPath, html)
    val pdfPath = s.reportPdf(s"$outDir/report.pdf", clock = clock)
    println(s"[demo] report: $htmlPath (${html.length} chars), $pdfPath")
    DemoArtifacts(cfgPath, htmlPath.toString, pdfPath, html,
      risk.riskScore, score)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Grep-gate for the two anti-patterns the plan sweeps can't see from a
  * fixture-scale physical plan: DRIVER COLLECTS and FORCED BROADCASTS.
  * Every `.collect()` in ops/ext/risk/streaming must be a bounded driver
  * fit behind a measured ceiling, and every `broadcast(...)` hint must be
  * either provably constant-size (dimension tables, fit rows) or behind a
  * plan-stats size gate (`maybeBroadcast`) — that's a REVIEW judgment, so
  * the gate pins the per-file COUNTS: adding a new site fails here until
  * the author consciously re-records it, making "new unguarded
  * collect/broadcast" impossible to land silently. Comment lines don't
  * count; Dev-prefixed and Bench/Verify/Demo tooling is out of scope. */
class SourceSweepSpec extends AnyFunSuite {

  private val Root = java.nio.file.Paths.get("src/main/scala/graft")

  /** file (repo-relative) → (collect sites, broadcast hints). Update ONLY
    * alongside a review of the new site's boundedness (ceiling, fit size,
    * or maybeBroadcast gate) — note the justification in the commit. */
  private val Recorded: Map[String, (Int, Int)] = Map(
    "ExtCatalog.scala" -> (0, 3),
    // r12: the a1_profile_approx_audit rank recount collects the 21
    // quantile literals off the checkpointed 11-row profile (bounded at
    // any corpus size) instead of broadcast-joining them against a 7×
    // corpus-fan-out explode — the broadcast went away WITH the explode.
    "QueryCatalog.scala" -> (1, 0),
    "ext/Chunking.scala" -> (0, 1),
    "ext/Dedup.scala" -> (1, 6),
    "ext/Sampling.scala" -> (0, 5),
    "ext/SimSearch.scala" -> (4, 5),
    "ext/Sketches.scala" -> (1, 0),
    // r13: bigramLogProb's two count-table broadcasts fused into ONE
    // pre-combined (a,b)->term broadcast, gated by the checkpointed
    // table's exact row count (BigramBroadcastMaxTermRows) — a bounded,
    // measured-size broadcast, reviewed.
    // One broadcast fewer: perplexityBuckets' tertile fit is
    // Exact.quantiles, applied as literals on both branches.
    "ext/TextStats.scala" -> (0, 4),
    "io/Csv.scala" -> (1, 0),
    "io/ZOrder.scala" -> (1, 1),
    // r16 +2 collects: collectCatSides' two per-side grouped-count
    // collects feeding the psi/js/chi2 driver tails — both behind the
    // same KsDriverMaxBytes input ceiling as every drift driver path
    // (bounded inputs ⇒ bounded category domains; above it the windowed
    // plan tail runs and neither site executes), reviewed.
    // One collect fewer: the drift tails' own raw-double collect is gone;
    // they read through Exact.collectColumns behind the same ceiling.
    "ops/Drift.scala" -> (8, 3),
    // Exact.collectColumns holds the ONE Spark-side column collect behind
    // every driver-side fit (one fused job, each caller behind its own
    // driver-fit ceiling); it replaced collectColumnsDoubles' collect.
    // The single-task window quantile form's collect is gone; the cents
    // histogram now has two: its ineligible-column ids (≤ one row per
    // fitted column) and its crossing bins (≤ 2·|probs|+1 per column).
    "ops/Exact.scala" -> (3, 1),
    // Three collects fewer: collectRawState's fused collect and its
    // per-column split branch (two collects) are gone; the fit reads
    // through Exact.collectColumns. Left: sdcSuppress's rare-set fit (a
    // grouped-count collect under limit(SuppressFitMaxValues + 1)), the
    // driverFits probe (one long per partition), V4's at-scale fit
    // (≤ FitHistMaxBuckets rows per column) and V5's capped sweep.
    "ops/Privacy.scala" -> (4, 1),
    "ops/Profile.scala" -> (2, 1),
    "ops/Relational.scala" -> (0, 9),
    // One broadcast fewer: winsorize applies its Exact.quantiles bounds
    // as literals on both branches (no broadcast cross-join fit).
    "ops/RowTransforms.scala" -> (1, 2),
    "report/Html.scala" -> (1, 0),
    // risk/Linkage.scala: 0 collects since the r11 fit-once refactor
    // moved the bounded feature-stat collects into RowTransforms
    "streaming/DriftStream.scala" -> (3, 0),
    "streaming/Events.scala" -> (0, 3))

  private def excluded(name: String): Boolean =
    name.startsWith("Dev") || Seq("Bench.scala", "Verify.scala",
      "DemoPipeline.scala").contains(name)

  /** repo-relative path → non-comment lines, over every in-scope file. */
  private def codeFiles: Seq[(String, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(Root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !excluded(p.getFileName.toString))
      .map { p =>
        Root.relativize(p).toString -> java.nio.file.Files.readAllLines(p).asScala.toSeq
          .map(_.trim).filterNot(l => l.startsWith("//") || l.startsWith("*"))
      }.toSeq
  }

  private def occurrences(line: String, s: String): Int = line.sliding(s.length).count(_ == s)

  test("driver-collect and broadcast-hint sites match the reviewed record") {
    val actual = codeFiles
      .flatMap { case (f, code) =>
        val collects = code.map(occurrences(_, ".collect()")).sum
        val bcasts = code.map(occurrences(_, "broadcast(")).sum
        if (collects == 0 && bcasts == 0) None
        else Some(f -> (collects, bcasts))
      }.toMap
    val drift = (actual.keySet ++ Recorded.keySet).toSeq.sorted.flatMap { f =>
      val a = actual.getOrElse(f, (0, 0))
      val r = Recorded.getOrElse(f, (0, 0))
      if (a == r) None
      else Some(s"  $f: actual (collect=${a._1}, broadcast=${a._2}) vs recorded (${r._1}, ${r._2})")
    }
    assert(drift.isEmpty,
      "collect/broadcast site counts drifted from the reviewed record —\n" +
        "review each NEW site for boundedness (ceiling / fit-size / maybeBroadcast\n" +
        "gate), then update SourceSweepSpec.Recorded in the same commit:\n" +
        drift.mkString("\n"))
  }

  // Session configuration is fixed when Sessions.local builds the
  // session. A runtime SQL conf write mid-query is visible to every
  // concurrent query on the same shared session.
  test("no runtime SQL conf set/unset in src/main outside Sessions.scala") {
    val writes = Seq("conf.set(", "conf.unset(", "setConfString(")
    val sites = codeFiles.filter(_._1 != "Sessions.scala").flatMap { case (f, code) =>
      val n = code.map(l => writes.map(occurrences(l, _)).sum).sum
      if (n == 0) None else Some(s"  $f: $n")
    }
    assert(sites.isEmpty,
      "configure the session in Sessions.local instead of writing its conf at run time:\n" +
        sites.mkString("\n"))
  }

  // Concurrent Spark actions go through graft.ops.Par.both / Par.all,
  // whose fresh threads inherit the caller's local properties; an ad-hoc
  // pool or execution context would run jobs under a stale job group.
  test("no thread pool or ExecutionContext outside ops/Par.scala") {
    val sites = codeFiles.filter(_._1 != "ops/Par.scala").flatMap { case (f, code) =>
      val n = code.map(l => occurrences(l, "Executors.new") + occurrences(l, "ExecutionContext")).sum
      if (n == 0) None else Some(s"  $f: $n")
    }
    assert(sites.isEmpty,
      "run concurrent driver work through graft.ops.Par instead of:\n" + sites.mkString("\n"))
  }
}

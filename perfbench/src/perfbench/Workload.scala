package perfbench

import graft.{Bench, SparkEntry}
import graft.core.GraftSession
import graft.io.YamlConfig.PipelineConfig
import graft.ops.{Drift, Profile}
import java.nio.file.{Files, Path}
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Using}

/** One timed execution: a catalog query, or one pipeline op. */
final case class Op(name: String, seconds: Double, threw: Boolean)

/** One pass of the closed loop; `traced` passes carry their root `span`
  * (none if the pass threw), and `steal` is the share of the machine's CPU
  * time the host gave to other machines while it ran (a record: it shows a
  * contended host window beside the metrics). */
final case class Pass(seconds: Double, ops: Seq[Op], traced: Boolean, span: Option[Int],
                      steal: Double = 0.0, timed: Boolean = true) {
  def failedOps(checkFailed: Set[String]): Int =
    ops.count(o => o.threw || checkFailed(o.name))
}

object Pass {
  /** CPU seconds stolen from this machine so far, summed over its CPUs. */
  def stealSeconds(): Double = {
    val f = Using.resource(scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())
      .trim.split("\\s+")
    f(8).toDouble / 100.0 // USER_HZ
  }
}

/** Output-check verdicts: names whose check failed (every execution of such
  * a name counts as a failed op), and names left for the DuckDB oracle. */
final case class Checks(failedNames: Set[String], oracleNames: Set[String])

trait Workload {
  /** Run `units` ops or passes at once (see run.py for the sizing). */
  def warmup(spark: SparkSession, units: Int): Unit
  /** One pass of the closed loop, number `p` (negative for a settling
    * pass); `tracer` is set when the pass is traced. */
  def pass(spark: SparkSession, p: Int, tracer: Option[Tracer]): Pass
  /** Output checks not already made inside the warm-up or after each op. */
  def check(spark: SparkSession): Checks
  /** Extra `"key":value` pairs for the run's records, each led by a comma. */
  def records: String = ""

  /** Settling passes: run one at a time, untimed, after the concurrent
    * warm-up, through the steepest part of the fall in pass time (see
    * run.py). Their ops are checked and counted like timed ones. */
  def settle(spark: SparkSession, passes: Int): Seq[Pass] =
    (1 to passes).map(i => pass(spark, -i, None).copy(timed = false))

  /** Closed loop: start passes until `seconds` have elapsed and at least
    * one pass has run. With a tracer, untraced and traced passes alternate
    * in the order U T T U U T T U ..., at least two of each, so the passes
    * of the two kinds sit at the same mean position in the run. */
  def loop(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Seq[Pass] = {
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val out = mutable.ArrayBuffer.empty[Pass]
    val need = if (tracer.isDefined) 4 else 1
    while (out.size < need || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s0 = Pass.stealSeconds()
      val p = pass(spark, out.size, tracer.filter(_ => Set(1, 2)(out.size % 4)))
      out += p.copy(steal = (Pass.stealSeconds() - s0) / (p.seconds * cores))
    }
    out.toSeq
  }
}

object Workload {
  /** Every layer a traced run reports wall, jobs and shuffle for: the
    * pipeline's steps and the catalog's implementing modules. */
  val Layers: Seq[String] = Seq(
    "risk", "ops.privacy", "ops.profile", "ops.drift", "compliance", "report",
    "ops.rowtransforms", "ml", "ext.dedup", "ext.simsearch", "ext.textstats")

  /** Order-free digest of a result: row count plus a hash of the sorted
    * rendered rows, floating values rounded to 9 significant digits so
    * summation order cannot move it. */
  def digest(rows: Array[Row]): (Long, String) = {
    def cell(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9g".format(d)
      case f: Float => if (f.isNaN || f.isInfinite) f.toString else "%.6g".format(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case a: Array[Byte] => a.mkString("b", ".", "")
      case x => x.toString
    }
    (rows.length.toLong, sha1(rows.map(cell).sorted.mkString("\n")))
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

/** The catalog workload: every query in [[CatalogWorkload.Queries]] once per
  * pass, in a seeded order, each fully materialized the way graft.Bench
  * does it.
  *
  * The warm-up passes double as the output checks: the first writes each
  * oracle-covered result for the DuckDB compare and records the digest of
  * every other result, which every later warm-up pass must reproduce. */
final class CatalogWorkload(c: PerfBench.Conf) extends Workload {
  import CatalogWorkload.Queries
  private val fns = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
  private val baseline = mutable.Map.empty[String, (Long, String)]
  private val failed = mutable.Set.empty[String]
  // with `corrupt`, this query's checked output gets a duplicated row
  private val victim = if (c.corrupt) Queries.min else ""

  private def query(spark: SparkSession, n: String): DataFrame = fns(n)(spark, c.tables)

  private def checked(spark: SparkSession, n: String): DataFrame = {
    val df = query(spark, n)
    if (n == victim) df.union(df.limit(1)) else df
  }

  private def digestCheck(spark: SparkSession, n: String): Unit = {
    val d = Workload.digest(checked(spark, n).collect())
    synchronized {
      baseline.get(n) match {
        case None => baseline(n) = d
        case Some(b) if b == d && d._1 > 0 => ()
        case Some(b) =>
          PerfBench.log(s"$n check failed: (rows, digest) $d, first pass $b")
          failed += n
      }
    }
  }

  private def warm(spark: SparkSession, n: String, first: Boolean): Unit = {
    val t0 = System.nanoTime()
    try {
      if (oracle.contains(n)) {
        if (first) checked(spark, n).coalesce(1).write.mode("overwrite")
          .parquet(c.out.resolve("results").resolve(n).toString)
        else Bench.materialize(query(spark, n))
      } else digestCheck(spark, n)
    } catch { case e: Exception =>
      PerfBench.log(s"$n failed in warm-up: ${e.getMessage}")
      synchronized(failed += n)
    }
    PerfBench.log(f"warm-up $n ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Each warm-up pass runs its queries at once on one thread per core, so
    * the one-time costs (codegen, class loading, JIT) of different queries
    * are paid in parallel. The first pass records (or writes) the results
    * every later pass is checked against. */
  def warmup(spark: SparkSession, units: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cpus)
    try (1 to units).foreach { u =>
      Queries.map(n => pool.submit(new Runnable { def run(): Unit = warm(spark, n, first = u == 1) }))
        .foreach(_.get())
    } finally pool.shutdown()
  }

  def pass(spark: SparkSession, p: Int, t: Option[Tracer]): Pass = {
    val traced = t.isDefined
    val order = new Random(c.seed * 7919 + p).shuffle(Queries)
    def run(): Seq[Op] = order.map { n =>
      val t0 = System.nanoTime()
      val threw =
        try {
          t match {
            case Some(t) => t.span(spark, n, CatalogWorkload.module(n)) {
              val df = query(spark, n); Bench.materialize(df); df
            }
            case None => Bench.materialize(query(spark, n))
          }
          false
        } catch { case e: Exception =>
          PerfBench.log(s"$n failed: ${e.getMessage}")
          true
        }
      val op = Op(n, (System.nanoTime() - t0) / 1e9, threw)
      PerfBench.log(f"pass $p $n ${op.seconds}%.3f s")
      op
    }
    val t0 = System.nanoTime()
    val (ops, id) = t match {
      case Some(t) => val (o, i) = t.span(spark, s"pass$p", "pass")(run()); (o, Some(i))
      case None => (run(), None)
    }
    val pass = Pass((System.nanoTime() - t0) / 1e9, ops, traced, id)
    PerfBench.log(f"pass $p${if (traced) " traced" else ""} ${pass.seconds}%.3f s")
    pass
  }

  /** Queries with an oracle entry were written out in the first warm-up
    * pass for the DuckDB compare (run.py makes it); every other query had
    * to return rows and reproduce its first-pass digest in the later
    * warm-up passes. */
  def check(spark: SparkSession): Checks = {
    val sql = oracle.toSeq.sorted.map { case (k, v) =>
      PerfBench.jsonString(k) + ":" + PerfBench.jsonString(v)
    }.mkString("{", ",", "}")
    Files.writeString(c.out.resolve("oracle_sql.json"), sql)
    Checks(failed.toSet, oracle.keySet.toSet -- failed)
  }
  override def records: String = s""","queries":${Queries.size}"""
}

object CatalogWorkload {
  /** One to three queries per operator module, as single operators on
    * bare scans: profile, drift, MLlib utility, privacy, row transforms and
    * compliance from the reference surface; dedup, similarity search and
    * text search from the extension surface.
    *
    * Why a sample and not whole surfaces: a cold pass over the 54
    * reference queries takes ~80 s and over the 36 dedup queries ~60-110 s
    * on a 4-core host, more than one run can spend. Left out for the same
    * reason: risk linkage (v6_*, ~3 s cold; the pipeline's risk step runs
    * it), and the dearest of the rest (x_dedup_clusters, 1.0 s warm and
    * 10 s cold; v5_smart_suggest, a suggestion over v1-v3). */
  val Queries: Seq[String] = Seq(
    "a5_distinct_counts", "d3_drift_all", "d4_model_utility", "v1_sdc_suppress",
    "v2_generalize", "v3_dp_noise", "p_winsorize", "c2_checklist_score",
    "x_dedup_exact", "x_minhash_lsh", "x_embed_topk", "x_keyword_search")

  /** The module that implements a catalog query. */
  def module(n: String): String = n match {
    case _ if n.startsWith("a") => "ops.profile"
    case _ if n.startsWith("c") => "compliance"
    case _ if n.startsWith("d4_") => "ml"
    case _ if n.startsWith("d") => "ops.drift"
    case _ if n.startsWith("p") => "ops.rowtransforms"
    case _ if n.startsWith("v") => "ops.privacy"
    case "x_keyword_search" => "ext.textstats"
    case _ if n.startsWith("x_embed_") => "ext.simsearch"
    case _ => "ext.dedup"
  }
}

/** The product path: GraftSession.runPipeline on a seeded anon/real pair of
  * lineitem slices, then the protected frame published with io.Csv.write.
  * A traced op calls the same public steps one at a time, forcing each
  * step's output, so every step gets its own span. */
final class PipelineWorkload(c: PerfBench.Conf) extends Workload {
  private val quasi = Seq("l_quantity", "l_discount", "l_returnflag")
  private val config = PipelineConfig(
    sdcCols = Seq("l_returnflag", "l_linestatus"), sdcThreshold = 5,
    generalizeCols = Seq("l_extendedprice"), generalizeBins = 10,
    dpCols = Seq("l_quantity"), epsilon = 1.0)
  private val clock: () => Instant = () => Instant.parse("2024-01-01T00:00:00Z")
  private val publishDir = c.out.resolve("published")
  private var htmlDigest: Option[String] = None
  private val failedOps = mutable.Set.empty[String]
  private var opCount = 0

  private def inputs(spark: SparkSession): (DataFrame, DataFrame) =
    (spark.read.parquet(s"${c.pair}/real.parquet"), spark.read.parquet(s"${c.pair}/anon.parquet"))

  private def publish(df: DataFrame, dir: Path): Unit = graft.io.Csv.write(df, dir.toString)

  private def opUntraced(spark: SparkSession, dir: Path = publishDir): String = {
    val (real, anon) = inputs(spark)
    val run = new GraftSession(spark).runPipeline(real, anon, config, quasi = quasi, clock = clock)
    publish(run.protectedDf, dir)
    run.reportHtml
  }

  /** runPipeline's steps, one span each, outputs forced. The report step
    * renders the forced (collected) utility frames, so it times only the
    * rendering and its preview reads. */
  private def opTraced(spark: SparkSession, t: Tracer): String = {
    val (real, anon) = inputs(spark)
    val gs = new GraftSession(spark)
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    gs.uploadReal(real); gs.uploadAnon(anon)
    val (risk, _) = t.span(spark, "assessRisk", "risk")(gs.assessRisk(quasi))
    val (prot, _) = t.span(spark, "protect", "ops.privacy") {
      val df = gs.protect(config); Bench.materialize(df); df
    }
    val (stats, _) = t.span(spark, "profile", "ops.profile") {
      (local(Profile.profile(anon)), local(Profile.profile(prot)))
    }
    val (drift, _) = t.span(spark, "driftAll", "ops.drift")(local(Drift.driftAll(anon, prot)))
    val ((checklist, score), _) = t.span(spark, "compliance", "compliance") {
      val (df, s) = gs.compliance(); (local(df), s)
    }
    val (html, _) = t.span(spark, "render", "report") {
      val summary = graft.core.RunSummary(quasiIds = risk.quasi, riskScore = Some(risk.riskScore),
        rowsBefore = Some(anon.count()), rowsAfter = Some(prot.count()))
      val riskJson =
        s"""{"risk_score": ${risk.riskScore}, "quasi": ${risk.quasi.map(s => "\"" + s + "\"").mkString("[", ", ", "]")}}"""
      graft.report.Html.render("SafeData Run",
        Seq("run summary" -> summary.toJson, "risk summary" -> riskJson,
          "compliance" -> s"""{"checklist_score": $score}"""),
        Seq("stats BEFORE" -> stats._1, "stats AFTER" -> stats._2,
          "distribution drift" -> drift, "compliance checklist" -> checklist,
          "anon preview" -> anon, "protected preview" -> prot),
        clock = clock)
    }
    t.span(spark, "publish", "io.publish")(publish(prot, publishDir))
    html
  }

  /** The warm-up ops run at once, one per thread. Codegen, class loading
    * and JIT warmth are shared by the whole JVM, so concurrent ops leave it
    * as warm as the same number of ops run one after another, in less wall
    * time. Each publishes to its own directory and is checked. */
  def warmup(spark: SparkSession, units: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(units)
    try {
      val dirs = (1 to units).map(i => c.out.resolve(s"published-warmup$i"))
      val ops = dirs.map(d => pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = opUntraced(spark, d)
      }))
      ops.zip(dirs).foreach { case (f, d) => checkOp("warmup", f.get(), d) }
    } finally pool.shutdown()
  }

  def pass(spark: SparkSession, p: Int, tracer: Option[Tracer]): Pass = {
    val traced = tracer.isDefined
    opCount += 1
    val name = s"op$opCount"
    val t0 = System.nanoTime()
    var html: Option[String] = None
    val (threw, id) =
      try {
        tracer match {
          case Some(t) =>
            val (h, id) = t.span(spark, name, "pass")(opTraced(spark, t))
            html = Some(h); (false, Some(id))
          case None => html = Some(opUntraced(spark)); (false, None)
        }
      } catch { case e: Exception =>
        PerfBench.log(s"$name failed: ${e.getMessage}")
        (true, None)
      }
    val secs = (System.nanoTime() - t0) / 1e9
    PerfBench.log(f"$name${if (traced) " traced" else ""} $secs%.3f s")
    html.foreach(checkOp(name, _, publishDir))
    Pass(secs, Seq(Op(name, secs, threw)), traced, id)
  }

  /** Outside the timed op: the report must be byte-identical to the first
    * op's (fixed clock, seeded config) and the published CSV must hold one
    * line per anon row. With `corrupt`, a line is appended to the published
    * file first, which this check must catch. */
  private def checkOp(name: String, html: String, dir: Path): Unit = {
    val d = Workload.sha1(html)
    if (htmlDigest.isEmpty) htmlDigest = Some(d)
    val csvs = Using.resource(Files.list(dir))(_.iterator.asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".csv"))
    if (c.corrupt && name == "op1") Files.writeString(csvs.head, "x\n",
      java.nio.file.StandardOpenOption.APPEND)
    val lines = csvs.map(p => Using.resource(Files.lines(p))(_.count()) - 1).sum
    if (!htmlDigest.contains(d) || lines != c.anonRows) {
      PerfBench.log(s"$name check failed: same report ${htmlDigest.contains(d)}, rows $lines of ${c.anonRows}")
      failedOps += name
    }
  }

  def check(spark: SparkSession): Checks = Checks(failedOps.toSet, Set.empty)
}

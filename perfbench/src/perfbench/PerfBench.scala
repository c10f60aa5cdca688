package perfbench

import graft.Sessions
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: builds the session, warms up, runs one
  * workload as a single-client closed loop for a fixed window, checks the
  * outputs outside the timed region, and writes `result.json` (plus
  * `spans.jsonl` when traced) into the output directory. `run.py` drives
  * it, finishes the DuckDB oracle comparison and prints the result line.
  *
  * Usage: PerfBench key=value...  with keys workload, seed, seconds,
  * trace (0|1), tables, pair, out, cpus, warmup, settle, corrupt (0|1), local,
  * anon_rows (the pipeline's anon input, counted by run.py). */
object PerfBench {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tables: String, pair: String, out: Path, cpus: Int,
                        warmup: Int, settle: Int, corrupt: Boolean, localDir: String,
                        anonRows: Long)

  def main(argv: Array[String]): Unit = {
    val kv = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("tables"), kv.getOrElse("pair", ""), Paths.get(kv("out")),
      kv("cpus").toInt, kv("warmup").toInt, kv("settle").toInt, kv.getOrElse("corrupt", "0") == "1",
      kv("local"), kv.getOrElse("anon_rows", "-1").toLong)
    Files.createDirectories(c.out)
    val loadStart = loadavg
    val calibT0 = System.nanoTime()
    val calibStart = calibrateSort()
    val calibS = (System.nanoTime() - calibT0) / 1e9
    val workload: Workload = c.workload match {
      case "pipeline" => new PipelineWorkload(c)
      case "catalog" => new CatalogWorkload(c)
      case w => sys.error(s"unknown workload $w")
    }

    // Set-up, timed from the JVM's start to the first timed op: session
    // build, warm-up and settling passes (the host calibration above is the
    // benchmark's own probe and is left out).
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessT0 = System.nanoTime()
    val spark = session(c)
    val sessionS = (System.nanoTime() - sessT0) / 1e9
    log(f"session: $sessionS%.3f s")
    val warmT0 = System.nanoTime()
    workload.warmup(spark, c.warmup)
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    log(f"warm-up: $warmupS%.3f s")
    val settleT0 = System.nanoTime()
    val settled = workload.settle(spark, c.settle)
    val settleS = (System.nanoTime() - settleT0) / 1e9
    log(f"settling: ${settled.map(_.seconds)} $settleS%.3f s")

    val rec = new Recorder
    val tracer = new Tracer(rec)
    if (c.trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibS
    val timed = workload.loop(spark, c.seconds, if (c.trace) Some(tracer) else None)
    val passes = settled ++ timed
    val (traced, untraced) = timed.partition(_.traced)
    log(s"timed loop done: ${untraced.map(_.seconds)} ${traced.map(_.seconds)}")
    val liveHeap = liveHeapMb()
    val checks = workload.check(spark)
    log("checks done")
    val hwmMb = vmHwmMb
    // stopping the context drains the listener bus, so every event is in
    spark.stop()

    val failedOps = passes.map(_.failedOps(checks.failedNames)).sum
    val attempted = passes.map(_.ops.size).sum
    val metrics: Seq[(String, Double, String)] =
      if (!c.trace) endToEnd(untraced, setupS, liveHeap)
      else perLayer(tracer, untraced, traced, c.cpus)
    if (c.trace) tracer.writeSpans(c.out.resolve("spans.jsonl"))

    val execCounts = passes.flatMap(_.ops).groupBy(_.name).map { case (k, v) => k -> v.size }
    def q(s: String) = jsonString(s)
    val json =
      s"""{"workload":${q(c.workload)},"seed":${c.seed},"trace":${c.trace},""" +
        s""""attempted":$attempted,"failed":$failedOps,""" +
        s""""check_failures":${checks.failedNames.toSeq.sorted.map(q).mkString("[", ",", "]")},""" +
        s""""executions":${execCounts.toSeq.sorted.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""oracle":${checks.oracleNames.toSeq.sorted.map(q).mkString("[", ",", "]")},""" +
        s""""metrics":${metrics.map { case (k, v, u) => s"""${q(k)}:{"value":$v,"unit":${q(u)}}""" }.mkString("{", ",", "}")},""" +
        s""""records":{"seed":${c.seed},"session_s":$sessionS,""" +
        s""""warmup_s":$warmupS,"warmup_units":${c.warmup},""" +
        s""""settle_s":$settleS,"settle_passes":${settled.map(_.seconds).mkString("[", ",", "]")},""" +
        s""""passes":${untraced.size},"traced_passes":${traced.size},""" +
        s""""op_samples":${untraced.map(_.ops.size).sum},""" +
        s""""pass_steal_share":${timed.map(p => f"${p.steal}%.4f").mkString("[", ",", "]")},""" +
        s""""loadavg_start":$loadStart,"loadavg_end":$loadavg,""" +
        s""""calib_sort_s":$calibStart,"vm_hwm_mb":$hwmMb,""" +
        s""""cores":${c.cpus}${workload.records}}}"""
    Files.writeString(c.out.resolve("result.json"), json + "\n")
  }

  private val t0Nanos = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the JVM's main. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0Nanos) / 1e9}%7.2f] $msg")

  def session(c: Conf): SparkSession =
    Sessions.local(cpus = c.cpus.toString, appName = "perfbench", extraConf = Map(
      "spark.local.dir" -> c.localDir,
      "spark.sql.warehouse.dir" -> s"${c.localDir}/warehouse"))

  // ---- end-to-end metrics -------------------------------------------------

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def endToEnd(passes: Seq[Pass], setupS: Double,
               liveHeap: Double): Seq[(String, Double, String)] = {
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(passes.map(_.seconds)), "s"),
      ("live_heap_mb", liveHeap, "MB"))
  }

  // ---- per-layer metrics --------------------------------------------------

  def perLayer(tracer: Tracer, untraced: Seq[Pass], traced: Seq[Pass],
               cores: Int): Seq[(String, Double, String)] = {
    val roots = traced.flatMap(_.span).flatMap(id => tracer.all.find(_.id == id))
    val tallies = roots.map(tracer.tally)
    def med(f: tracer.Tally => Double) = median(tallies.map(f))
    val passS = median(roots.map(_.wallS))
    val fp = roots.map(_.fastPath)
    def fpMed(i: Int) = median(fp.map(_(i).toDouble))
    def ratio(hit: Double, base: Double) = if (base > 0) hit / base else 0.0
    val dictAsks = fpMed(0)
    val dpLookups = median(fp.map(v => (v(2) + v(3)).toDouble))
    val spark = Seq(
      ("spark.jobs", med(_.jobs), "count"),
      ("spark.stages", med(_.stages), "count"),
      ("spark.tasks", med(_.tasks.toDouble), "count"),
      ("spark.exec_run_s", med(_.runS), "s"),
      ("spark.exec_cpu_s", med(_.cpuS), "s"),
      ("spark.core_busy", median(tallies.zip(roots).map { case (t, r) => t.runS / (cores * r.wallS) }), "ratio"),
      ("spark.shuffle_write_mb", med(_.shuffleWriteMb), "MB"),
      ("spark.shuffle_read_mb", med(_.shuffleReadMb), "MB"),
      ("spark.spill_mb", med(_.spillMb), "MB"),
      ("spark.result_mb", med(_.resultMb), "MB"),
      ("spark.driver_gap_s", median(tallies.zip(roots).map { case (t, r) => math.max(0.0, r.wallS - t.busyMs / 1e3) }), "s"),
      ("spark.sql_executions", med(_.sqlExecs), "count"),
      ("spark.plan_s", med(_.planS), "s"),
      ("spark.gc_s", median(roots.map(_.gcS)), "s"),
      ("io.dict_asks", dictAsks, "count"),
      ("io.dict_hit_ratio", ratio(fpMed(1), dictAsks), "ratio"),
      ("io.driver_parquet_lookups", dpLookups, "count"),
      ("io.driver_parquet_hit_ratio", ratio(fpMed(2), dpLookups), "ratio"))
    // per layer: the sum over a pass of the spans of that layer
    val layer = Workload.Layers.flatMap { l =>
      val per = roots.map { r =>
        val ss = tracer.all.filter(s => s.parent == r.id && s.layer == l)
        val ts = ss.map(tracer.tally)
        (ss.map(_.wallS).sum, ts.map(_.jobs).sum.toDouble, ts.map(_.shuffleWriteMb).sum)
      }
      Seq((s"$l.wall_s", median(per.map(_._1)), "s"),
        (s"$l.jobs", median(per.map(_._2)), "count"),
        (s"$l.shuffle_mb", median(per.map(_._3)), "MB"))
    }
    val untracedS = median(untraced.map(_.seconds))
    // per-query latency, over the untraced passes: within one pass it moves
    // with the host's other tenants by up to 30% between sets of runs, too
    // much for an end-to-end bound, so it is a diagnostic here
    val ops = untraced.flatMap(_.ops).map(_.seconds)
    spark ++ layer ++ Seq(
      ("op_p50_s", quantile(ops, 0.5), "s"),
      ("op_p90_s", quantile(ops, 0.9), "s"),
      ("io.publish_s", median(roots.map(r => tracer.all.filter(s => s.parent == r.id && s.layer == "io.publish").map(_.wallS).sum)), "s"),
      ("trace.pass_s", passS, "s"),
      ("trace.untraced_pass_s", untracedS, "s"),
      ("trace.overhead_s", passS - untracedS, "s"))
  }

  // ---- host records ---------------------------------------------------------

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def loadavg: String =
    try {
      val p = Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
      s"[${p(0)},${p(1)},${p(2)}]"
    } catch { case _: Exception => "null" }

  def vmHwmMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    catch { case _: Exception => Double.NaN }

  /** Single-thread calibration, the same probe graft.Bench records: sort
    * 4M seeded doubles. Its wall shows CPU contention during the run. */
  def calibrateSort(): Double = {
    val rnd = new java.util.Random(42)
    val a = Array.fill(1 << 22)(rnd.nextDouble())
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap the program still holds after the timed loop: the occupancy a
    * full collection leaves. It moves with what the engine keeps between
    * ops (caches, plan and status stores) and repeats across runs; the
    * largest post-collection occupancy during the loop varied by +-20%
    * with collection timing, and the resident high-water mark (recorded as
    * vm_hwm_mb) follows the collector's heap sizing. The first collection
    * only queues what Spark's cleaner thread releases (state of dropped
    * plans, 0-200 MB by query order); the second, half a second later,
    * collects it. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

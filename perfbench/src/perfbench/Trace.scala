package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call on the driver thread. `layer` names the engine layer the
  * call belongs to (a pipeline step or a catalog module); the root span of a
  * pass has layer "pass". Times are epoch milliseconds, the clock Spark
  * stamps its listener events with; `wallS` is the nanosecond wall and
  * `gcS` the JVM's collection time inside the span. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      t0: Long, t1: Long, wallS: Double,
                      fastPath: Seq[Long], planS: Double, gcS: Double)

final case class SqlExec(id: Long, time: Long)

/** Analysis + optimization + planning seconds of one query, stamped with
  * the start of its first phase. */
final case class Planned(time: Long, planS: Double)

/** In-memory recorder of scheduler and SQL events, keyed back to the spans
  * that caused them. A job belongs to the span id carried in its
  * `perfbench.span` local property (set on the driver thread, inherited by
  * threads the engine spawns inside the call); a job without it, and every
  * SQL execution and planned query, belongs to the span whose wall interval
  * contains it. Spans are sequential (one client), so the interval is
  * unambiguous. Read the tallies only after the listener bus has drained
  * (after `SparkContext.stop`). */
final class Recorder extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val span: Option[Int], val sqlExec: Option[Long],
                  val start: Long) { var end: Long = start }
  final class Stage(val id: Int) {
    var job = -1; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var result = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]
  val planned = mutable.ArrayBuffer.empty[Planned]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Recorder.SpanKey))).map(_.toInt)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs(e.jobId) = new Job(e.jobId, span, exec, e.time)
    // a stage belongs to the first job that lists it; later jobs list it
    // again only as a skipped (reused) stage
    e.stageIds.foreach { s =>
      val st = stages.getOrElseUpdate(s, new Stage(s))
      if (st.job < 0) st.job = e.jobId
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    st.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.result += m.resultSize
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlExecs += SqlExec(s.executionId, s.time) }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { Recorder.planSeconds(qe).foreach(planned += _) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { Recorder.planSeconds(qe).foreach(planned += _) }
}

object Recorder {
  val SpanKey = "perfbench.span"

  def planSeconds(qe: QueryExecution): Option[Planned] = {
    val phases = qe.tracker.phases.values
    if (phases.isEmpty) None
    else Some(Planned(phases.map(_.startTimeMs).min,
      phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
  }
}

/** Spans of one run plus the per-pass layer metrics computed from them. */
final class Tracer(val rec: Recorder) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private var active = 0

  /** Time `body` as a span under the active one, tagging its Spark jobs.
    * A DataFrame result's own planning time is added to the span (a
    * `toRdd` execution never reaches the QueryExecutionListener). */
  def span[T](spark: org.apache.spark.sql.SparkSession, name: String,
              layer: String)(body: => T): (T, Int) = {
    val id = { nextId += 1; nextId }
    val parent = active
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Recorder.SpanKey)
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    active = id
    val fp0 = Tracer.fastPath
    val gc0 = PerfBench.gcSeconds
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var planS = 0.0
    try {
      val out = body
      out match {
        case df: org.apache.spark.sql.DataFrame =>
          planS = Recorder.planSeconds(df.queryExecution).map(_.planS).getOrElse(0.0)
        case _ => ()
      }
      (out, id)
    } finally {
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      active = parent
      sc.setLocalProperty(Recorder.SpanKey, prev)
      val fp = Tracer.fastPath.zip(fp0).map { case (a, b) => a - b }
      spans += Span(id, parent, name, layer, t0, t1, wall, fp, planS, PerfBench.gcSeconds - gc0)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Per-span tallies (the span's own jobs plus its descendants'). */
  final case class Tally(jobs: Int, stages: Int, tasks: Long, runS: Double, cpuS: Double,
                         shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
                         resultMb: Double, busyMs: Long, sqlExecs: Int, planS: Double)

  private lazy val childrenOf: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  private def descendants(s: Span): Seq[Span] =
    s +: childrenOf.getOrElse(s.id, Nil).flatMap(descendants)

  /** The innermost span whose interval holds `t`. */
  private def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.t0 <= t && t <= s.t1).sortBy(s => s.t1 - s.t0).headOption

  private lazy val jobOwner: Map[Int, Int] = rec.synchronized {
    rec.jobs.values.flatMap { j =>
      j.span.orElse(spanAt(j.start).map(_.id)).map(j.id -> _)
    }.toMap
  }

  def tally(root: Span): Tally = rec.synchronized {
    val ids = descendants(root).map(_.id).toSet
    val js = rec.jobs.values.filter(j => jobOwner.get(j.id).exists(ids)).toSeq
    val jobIds = js.map(_.id).toSet
    val sts = rec.stages.values.filter(s => jobIds(s.job) && s.tasks > 0).toSeq
    val mb = 1024.0 * 1024.0
    // wall covered by at least one running job, clipped to the span
    val intervals = js.map(j => (math.max(j.start, root.t0), math.min(j.end, root.t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    intervals.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    val inSpan = (t: Long) => spanAt(t).exists(s => ids(s.id))
    Tally(
      jobs = js.size,
      stages = sts.size,
      tasks = sts.map(_.tasks).sum,
      runS = sts.map(_.runMs).sum / 1e3,
      cpuS = sts.map(_.cpuNs).sum / 1e9,
      shuffleWriteMb = sts.map(_.shuffleWrite).sum / mb,
      shuffleReadMb = sts.map(_.shuffleRead).sum / mb,
      spillMb = sts.map(_.spill).sum / mb,
      resultMb = sts.map(_.result).sum / mb,
      busyMs = busy,
      sqlExecs = rec.sqlExecs.count(e => inSpan(e.time)),
      planS = rec.planned.filter(p => inSpan(p.time)).map(_.planS).sum +
        descendants(root).map(_.planS).sum)
  }

  /** Every span, SQL execution, job and stage as one JSON object per line,
    * each with its parent id: op span → SQL execution → job → stage. */
  def writeSpans(path: java.nio.file.Path): Unit = rec.synchronized {
    val sb = new StringBuilder
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.foreach { s =>
      sb ++= s"""{"kind":"span","id":${s.id},"parent":${s.parent},"name":${q(s.name)},"layer":${q(s.layer)},"t0_ms":${s.t0},"t1_ms":${s.t1},"wall_s":${s.wallS},"plan_s":${s.planS}}""" + "\n"
    }
    rec.sqlExecs.foreach { e =>
      val parent = spanAt(e.time).map(_.id).getOrElse(0)
      sb ++= s"""{"kind":"sql","id":${e.id},"parent":$parent,"t_ms":${e.time}}""" + "\n"
    }
    rec.jobs.values.foreach { j =>
      val parent = j.sqlExec.map(x => s""""sql:$x"""").getOrElse(jobOwner.getOrElse(j.id, 0).toString)
      sb ++= s"""{"kind":"job","id":${j.id},"parent":$parent,"span":${jobOwner.getOrElse(j.id, 0)},"t0_ms":${j.start},"t1_ms":${j.end}}""" + "\n"
    }
    rec.stages.values.foreach { s =>
      sb ++= s"""{"kind":"stage","id":${s.id},"parent":${s.job},"tasks":${s.tasks},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"shuffle_write_b":${s.shuffleWrite},"shuffle_read_b":${s.shuffleRead},"spill_b":${s.spill},"result_b":${s.result}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** dict asks, dict answered, driver-parquet hits, driver-parquet misses. */
  def fastPath: Seq[Long] = {
    import graft.io.FastPath._
    Seq(dictAsks.get, dictAnswered.get, driverParquetHits.get, driverParquetMisses.get)
  }
}

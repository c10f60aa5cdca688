package graft.ops

import org.apache.spark.sql.DataFrame

/** Parallelism repair for CPU-heavy NARROW pipelines.
  *
  * A parquet scan's parallelism is bounded by its file splits — and a
  * single-file, single-row-group table (the shape of every local
  * testdata table, and of any small dimension in production) plans as
  * ONE partition, so everything narrow downstream (explode fan-outs,
  * hashing, per-row kernels) runs on one core no matter how many the
  * session has. Operators whose per-row work dwarfs a row's shuffle
  * cost call [[widen]] on their input: a cheap round-robin repartition
  * to the session's parallelism, applied ONLY when the planned scan has
  * fewer partitions than half the cores.
  *
  * At scale this is a no-op by construction: a 100 TB table scans as
  * thousands of splits, so the guard never fires and no shuffle is
  * added. It exists for the opposite regime — plenty of cores, few
  * splits — where one 30 MB shuffle buys a 32× speedup on the compute
  * stage.
  *
  * It is also the ONE place driver code runs Spark actions concurrently
  * ([[both]] / [[all]] / [[map]]): actions are only sequential because
  * the driver calls them sequentially, so independent jobs submitted from
  * separate driver threads overlap on the cluster.
  */
object Par {

  private val forks = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` on a FRESH daemon thread; the returned thunk joins it and
    * yields its outcome. Fresh, not pooled: Spark's local properties (job
    * group, scheduler pool, any tracing tag) and the active session are
    * InheritableThreadLocals, copied once when a thread is created — a
    * pooled thread would keep the values of whichever caller created it,
    * a fresh one always sees the current caller's. */
  private def fork[A](body: => A): () => Either[Throwable, A] = {
    var out: Either[Throwable, A] = null
    val t = new Thread(() => out = attempt(body), s"graft-par-${forks.incrementAndGet()}")
    t.setDaemon(true)
    t.start()
    () => { t.join(); out } // join orders the write before this read
  }

  private def attempt[A](body: => A): Either[Throwable, A] =
    try Right(body) catch { case e: Throwable => Left(e) }

  /** Evaluate `fa` on the calling thread and `fb` on a forked one,
    * concurrently; both finish before this returns. A failure rethrows
    * the original exception (`fa`'s first if both fail). */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    val b = fork(fb)
    val a = attempt(fa)
    val bOut = b()
    (a.toTry.get, bOut.toTry.get)
  }

  /** [[both]] for any number of thunks: the first runs on the calling
    * thread, each other on its own forked thread; results in input order,
    * the first failure (in input order) rethrown after all have joined. */
  def all[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.isEmpty) Seq.empty
    else {
      val rest = thunks.tail.map(t => fork(t())).toList
      val head = attempt(thunks.head())
      (head :: rest.map(_())).map(_.toTry.get)
    }

  /** `f` over `items` on at most `width` threads at once (the caller's
    * among them), each taking the next unclaimed item: a bounded fan-out
    * for per-column Spark jobs, whose count can far exceed the cores.
    * Results keep input order; the first failure (in worker order) is
    * rethrown after all workers have joined. */
  def map[A, B](items: Seq[A], width: Int)(f: A => B): Seq[B] = {
    val in = items.toIndexedSeq
    val next = new java.util.concurrent.atomic.AtomicInteger()
    all(Seq.fill(math.min(math.max(width, 1), in.size))(() =>
      Iterator.continually(next.getAndIncrement()).takeWhile(_ < in.size)
        .map(i => i -> f(in(i))).toList))
      .flatten.sortBy(_._1).map(_._2)
  }

  /** Repartition `df` to the session's default parallelism iff its
    * planned RDD has fewer than half that many partitions. Plans (but
    * does not run) the physical query to read the partition count. */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val cur = df.queryExecution.toRdd.getNumPartitions
    if (cur * 2 < target) df.repartition(target) else df
  }
}

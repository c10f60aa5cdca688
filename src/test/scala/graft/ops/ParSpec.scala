package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec
import org.apache.spark.TaskContext

class ParSpec extends SparkSpec {

  test("both: the two thunks run concurrently") {
    // each side releases the other's latch, then waits on its own: only
    // concurrent execution lets both awaits succeed before the timeout
    val l1 = new CountDownLatch(1)
    val l2 = new CountDownLatch(1)
    val (a, b) = Par.both(
      { l2.countDown(); l1.await(30, TimeUnit.SECONDS) },
      { l1.countDown(); l2.await(30, TimeUnit.SECONDS) })
    assert(a && b)
  }

  test("all: every thunk runs concurrently; results keep input order") {
    val n = 4
    val started = new CountDownLatch(n)
    val out = Par.all((0 until n).map { i => () =>
      started.countDown()
      assert(started.await(30, TimeUnit.SECONDS))
      i * 10
    })
    assert(out == Seq(0, 10, 20, 30))
    assert(Par.all(Seq.empty[() => Int]).isEmpty)
  }

  test("map: at most `width` items run at once; results keep input order") {
    val running = new java.util.concurrent.atomic.AtomicInteger()
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    val out = Par.map(0 until 10, 3) { i =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(20)
      running.decrementAndGet()
      i * 10
    }
    assert(out == (0 until 10).map(_ * 10))
    assert(peak.get() <= 3 && peak.get() >= 2, s"peak concurrency ${peak.get()}")
    assert(Par.map(Seq(1, 2), 8)(_ + 1) == Seq(2, 3))
    assert(Par.map(Seq.empty[Int], 4)(identity).isEmpty)
  }

  test("a failure on either side surfaces as its original exception") {
    intercept[IllegalStateException](Par.both(throw new IllegalStateException("a"), 1))
    intercept[ArithmeticException](Par.both(1, throw new ArithmeticException("b")))
    val e = intercept[UnsupportedOperationException](Par.all(Seq(
      () => 1, () => throw new UnsupportedOperationException("c"), () => 3)))
    assert(e.getMessage == "c")
  }

  test("a local property set on the caller reaches the fork and its jobs") {
    val sc = spark.sparkContext
    val key = "graft.par.spec"
    def inFork(): (String, Seq[String]) = Par.both((), {
      val seen = sc.getLocalProperty(key)
      val inTasks = sc.parallelize(1 to 2, 2)
        .map(_ => TaskContext.get().getLocalProperty(key)).collect().toSeq
      (seen, inTasks)
    })._2
    try {
      // two values in turn: a pooled thread would still show the first
      for (v <- Seq("first", "second")) {
        sc.setLocalProperty(key, v)
        assert(inFork() == (v, Seq(v, v)))
      }
    } finally sc.setLocalProperty(key, null)
  }

  test("no forked thread is alive after the call returns") {
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def record(): Unit = { threads.add(Thread.currentThread()); Thread.sleep(50) }
    Par.both((), record())
    Par.all(Seq(() => (), () => record(), () => record()))
    intercept[IllegalStateException](Par.both(throw new IllegalStateException, record()))
    assert(threads.size == 4)
    threads.forEach(t => assert(!t.isAlive, s"${t.getName} still alive"))
    assert(!threads.contains(Thread.currentThread()))
  }
}

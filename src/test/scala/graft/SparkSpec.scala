package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. 4 threads / 4 shuffle partitions
  * keeps multi-partition semantics (partial aggs, exchange) in play so
  * partitioning-sensitive bugs surface in unit tests. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(cpus = "4", appName = "graft-test")

  val Sf = "/root/testdata/sf0.001"

  /** The REAL physical plan for node-level assertions. Under AQE (the
    * Spark 4 default) `executedPlan` is an AdaptiveSparkPlanExec whose
    * `collect` sees no children — a plan-shape guard written against it
    * passes VACUOUSLY (round-8 finding: three guards were). Always
    * unwrap before collecting physical nodes; plain `toString` is safe
    * either way (it prints the full initial plan). */
  def physicalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** `f`'s result and the Spark jobs started while it ran. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      Thread.sleep(500) // the listener bus is async; let posted events drain
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }
}

package graft.risk

import graft.SparkSpec
import graft.io.FastPath
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class LinkageSpec extends SparkSpec {
  import spark.implicits._

  test("linkage risk = 1.0 when real contains exact quasi duplicates of anon") {
    val anon = Seq((25.0, 0.05, "A"), (30.0, 0.07, "B")).toDF("q", "d", "f")
    val real = Seq((25.0, 0.05, "A"), (30.0, 0.07, "B"), (99.0, 0.01, "C"))
      .toDF("q", "d", "f")
    val risk = Linkage.linkageRisk(anon, real, Seq("q", "d", "f"))
      .collect()(0).getDouble(0)
    assert(risk == 1.0)
  }

  test("linkage risk ≈ 0 when no exact match exists (k=1 degeneracy)") {
    val anon = Seq((25.0, 0.05, "A"), (30.0, 0.07, "B")).toDF("q", "d", "f")
    val real = Seq((26.0, 0.06, "A"), (31.0, 0.08, "B")).toDF("q", "d", "f")
    val risk = Linkage.linkageRisk(anon, real, Seq("q", "d", "f"))
      .collect()(0).getDouble(0)
    assert(risk < 1e-6)
  }

  test("linkage risk: mixed → fraction of exact-matched rows") {
    val anon = Seq((25.0, "A"), (30.0, "B"), (40.0, "C"), (50.0, "D")).toDF("q", "f")
    val real = Seq((25.0, "A"), (30.0, "B"), (41.0, "C"), (51.0, "D")).toDF("q", "f")
    val risk = Linkage.linkageRisk(anon, real, Seq("q", "f"))
      .collect()(0).getDouble(0)
    assert(math.abs(risk - 0.5) < 1e-6)
  }

  test("unseen categories in real produce zero vectors (handle_unknown=ignore)") {
    val anon = Seq((1.0, "A")).toDF("q", "f")
    val real = Seq((1.0, "Z")).toDF("q", "f") // Z unseen in anon fit
    val (realF, featCols) = Linkage.features(real, anon, Seq("q", "f"))
    assert(featCols == Seq("q", "f__A"))
    assert(realF.select(col("f__A")).collect()(0).getDouble(0) == 0.0)
  }

  /** Naive driver-side reference: standardize on anon (population σ),
    * one-hot distance via explicit fitted category vectors, k=1 min
    * distance, score mean. Deliberately a different code path (plain
    * Scala loops over explicit one-hot vectors) from both the engine and
    * the oracle identity form. */
  private def naiveRisk(anon: Seq[(Double, String)], real: Seq[(Double, String)]): Double = {
    val n = anon.length
    val mu = anon.map(_._1).sum / n
    val sd0 = math.sqrt(anon.map(v => (v._1 - mu) * (v._1 - mu)).sum / n)
    val sd = if (sd0 == 0.0) 1.0 else sd0
    val fitted = anon.map(_._2).filter(_ != null).distinct.sorted
    def vec(t: (Double, String)): Array[Double] =
      ((t._1 - mu) / sd) +: fitted.map(c => if (t._2 == c) 1.0 else 0.0).toArray
    val scores = anon.map { a =>
      val av = vec(a)
      val d0 = real.map { r =>
        val rv = vec(r)
        math.sqrt(av.zip(rv).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.min
      1.0 - d0 / (d0 + 1e-9)
    }
    math.min(1.0, math.max(0.0, scores.sum / n))
  }

  test("perturbed subsets: risk matches a naive one-hot reference, incl. categories missing from the anon fit") {
    // the oracle SQL derives its category terms from the same fitted rule
    // as the engine (IN (SELECT DISTINCT…)), so the property to pin here
    // is the SEMANTICS under perturbation: anon lacking a category that
    // real has, unseen categories, and near-match numerics
    val cases = Seq(
      // anon has only A,B — real's R must map to a zero vector
      (Seq((25.0, "A"), (30.0, "B")), Seq((25.0, "R"), (30.0, "B"))),
      // anon category missing entirely from real
      (Seq((1.0, "A"), (2.0, "B"), (3.0, "B")), Seq((1.0, "B"), (2.5, "C"))),
      // exact matches through standardization
      (Seq((10.0, "X"), (20.0, "Y"), (30.0, "X")), Seq((10.0, "X"), (20.0, "Y"), (30.0, "X"))))
    cases.foreach { case (a, r) =>
      val risk = Linkage.linkageRisk(a.toDF("q", "f"), r.toDF("q", "f"), Seq("q", "f"))
        .collect()(0).getDouble(0)
      val expect = naiveRisk(a, r)
      assert(math.abs(risk - expect) < 1e-9, s"anon=$a real=$r: $risk vs $expect")
    }
  }

  test("linkageRisk guard dispatches exact below the pair ceiling, LSH above") {
    val anon = (1 to 40).map(i => (i.toDouble, if (i % 2 == 0) "A" else "B")).toDF("q", "f")
    val real = anon
    // tiny frames → pair space affordable → exact path
    assert(Linkage.exactIsSafe(anon, real))
    // forced-zero ceiling → guard must refuse the cross join
    assert(!Linkage.exactIsSafe(anon, real, maxPairBytesProduct = BigInt(0)))
    // both dispatch targets agree on this exact-match corpus, so the
    // guard is output-invisible here while provably switching plans:
    // the LSH physical form carries the hash-table generator; the exact
    // form must not
    val exactPlan = Linkage.linkageRisk(anon, real, Seq("q", "f"))
      .queryExecution.executedPlan.toString
    val lshPlan = Linkage.linkageRisk(anon, real, Seq("q", "f"), maxPairBytesProduct = BigInt(0))
      .queryExecution.executedPlan.toString
    assert(!exactPlan.contains("UDF"), s"exact path must stay UDF-free:\n$exactPlan")
    assert(exactPlan != lshPlan)
    val viaGuardExact = Linkage.linkageRisk(anon, real, Seq("q", "f")).collect()(0).getDouble(0)
    val viaGuardLsh = Linkage.linkageRisk(anon, real, Seq("q", "f"), maxPairBytesProduct = BigInt(0))
      .collect()(0).getDouble(0)
    assert(viaGuardExact == 1.0)
    assert(math.abs(viaGuardLsh - 1.0) < 1e-6)
  }

  test("LSH risk agrees with exact on an exact-match heavy pair") {
    val anon = (1 to 40).map(i => (i.toDouble, if (i % 2 == 0) "A" else "B")).toDF("q", "f")
    val real = anon
    val exact = Linkage.linkageRisk(anon, real, Seq("q", "f")).collect()(0).getDouble(0)
    val approx = Linkage.linkageRiskLSH(anon, real, Seq("q", "f")).collect()(0).getDouble(0)
    assert(exact == 1.0)
    assert(math.abs(approx - 1.0) < 1e-6)
  }

  // ---- the driver form against the plan form, bit for bit ----

  private def bits(r: Row): (Option[Long], Option[Long]) =
    (if (r.isNullAt(0)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0))),
      if (r.isNullAt(1)) None else Some(r.getLong(1)))

  /** The driver form's (sum_score, n) equals the plan's bit for bit, and
    * the dispatcher's two exact branches (read from the decision
    * counters) return `linkageRiskExact`'s risk. */
  private def assertForms(anon: DataFrame, real: DataFrame, quasi: Seq[String]): Unit = {
    val driver = Linkage.driverSums(anon, real, quasi, Long.MaxValue, Long.MaxValue)
    assert(driver.isDefined, "the driver form declined")
    val plan = Linkage.exactSums(anon, real, quasi, Linkage.fitFeatures(anon, quasi)).head()
    assert(bits(driver.get) == bits(plan))
    val oracle = Linkage.linkageRiskExact(anon, real, quasi).head()
    for ((maxPairs, counter) <- Seq(Long.MaxValue -> FastPath.linkageDriver,
        -1L -> FastPath.linkagePlan)) {
      val before = counter.get
      val got = Linkage.linkageRiskWith(anon, real, quasi,
        Linkage.ExactMaxPairBytesProduct, Long.MaxValue, maxPairs).head()
      assert(counter.get == before + 1, s"maxPairs $maxPairs took the other branch")
      assert(got == oracle)
    }
  }

  private def declines(anon: DataFrame, real: DataFrame, quasi: Seq[String]): Unit = {
    assert(Linkage.driverSums(anon, real, quasi, Long.MaxValue, Long.MaxValue).isEmpty)
    val before = FastPath.linkagePlan.get
    val got = Linkage.linkageRisk(anon, real, quasi).head()
    assert(FastPath.linkagePlan.get == before + 1)
    assert(got == Linkage.linkageRiskExact(anon, real, quasi).head())
  }

  /** `n` rows of (q double, d double, f string) over small domains with
    * about one null in `nullEvery` per column, seeded. */
  private def rows(n: Int, seed: Int, nullEvery: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    def maybe[A](a: A): Option[A] = if (nullEvery > 0 && r.nextInt(nullEvery) == 0) None else Some(a)
    (0 until n).map { _ =>
      (maybe(r.nextInt(50) / 2.0), maybe(r.nextInt(11) / 100.0),
        maybe(Seq("A", "N", "R")(r.nextInt(3))))
    }.toDF("q", "d", "f")
  }

  private val Qdf = Seq("q", "d", "f")

  test("driver form: nulls in numeric and categorical quasi columns") {
    assertForms(rows(300, 1, 8), rows(500, 2, 8), Qdf)
    // real-only categories and a quasi order unlike the schema order
    val real = rows(400, 3, 6).withColumn("f", when(col("f") === "N", lit("Z")).otherwise(col("f")))
    assertForms(rows(300, 4, 6), real, Seq("f", "d", "q"))
  }

  test("driver form: an all-null numeric column, and empty sides") {
    val nullCol = lit(null).cast("double")
    assertForms(rows(200, 5, 0).withColumn("q", nullCol), rows(300, 6, 0), Qdf)
    assertForms(rows(200, 5, 0), rows(300, 6, 0).withColumn("q", nullCol), Qdf)
    val empty = rows(0, 7, 0)
    assertForms(empty, rows(300, 6, 0), Qdf)
    assertForms(rows(200, 5, 0), empty, Qdf)
    // greatest(0.0, NULL) skips the NULL mean: an empty side scores 0.0
    assert(Linkage.linkageRisk(empty, rows(300, 6, 0), Qdf).head().getDouble(0) == 0.0)
  }

  test("driver form: -0.0 and 0.0 are one value") {
    val anon = Seq((-0.0, "A"), (0.0, "A"), (1.5, "B"), (-0.0, "B")).toDF("q", "f")
    val real = Seq((0.0, "A"), (-0.0, "B"), (2.5, "B")).toDF("q", "f")
    assertForms(anon, real, Seq("q", "f"))
  }

  test("driver form: int and decimal quasi columns") {
    val r = new scala.util.Random(11)
    def side(n: Int) = (0 until n).map { _ =>
      (if (r.nextInt(9) == 0) None else Some(r.nextInt(40)),
        if (r.nextInt(9) == 0) None
        else Some(BigDecimal(r.nextInt(20000)) / 1000), // 3 decimals: cents round HALF_UP
        Seq("x", "y")(r.nextInt(2)))
    }.toDF("i", "p", "g").withColumn("p", col("p").cast(DecimalType(12, 3)))
    assertForms(side(250), side(350), Seq("i", "p", "g"))
  }

  test("driver form: supplementary-plane and U+FFFD keys order as Catalyst orders them") {
    // UTF-16 order puts U+1F600 below U+FFFD and U+E000; UTF-8 byte order
    // (Spark's) puts it above both — the cumulative sum runs in that order
    val keys = Seq("\uD83D\uDE00", "\uFFFD", "\uE000", "a", "", "\uD835\uDD18", null)
    val r = new scala.util.Random(13)
    def side(n: Int) = (0 until n).map(_ =>
      (keys(r.nextInt(keys.size)), r.nextInt(30) * 0.37)).toDF("f", "q")
    assertForms(side(300), side(300), Seq("f", "q"))
  }

  test("driver form: duplicate-heavy and all-distinct tuples") {
    val heavy = (0 until 500).map(i => (Seq(1.0, 2.0, 3.0)(i % 3), "A")).toDF("q", "f")
    val heavyReal = (0 until 400).map(i => (Seq(2.0, 7.0)(i % 2), if (i % 4 == 0) "B" else "A"))
      .toDF("q", "f")
    assertForms(heavy, heavyReal, Seq("q", "f"))
    val distinct = (0 until 300).map(i => (i * 0.25, s"k$i")).toDF("q", "f")
    val distinctReal = (0 until 300).map(i => (i * 0.25 + 0.01, s"k${i + 150}")).toDF("q", "f")
    assertForms(distinct, distinctReal, Seq("q", "f"))
  }

  test("driver form: anon tuples whose standardized keys coincide merge as in the plan") {
    // 2^53 and 2^53 + 1 are distinct longs with one double image, so the
    // plan's second grouping (standardized key, count) folds them together
    val big = 9007199254740992L
    val anon = (Seq(big, big + 1) ++ (0L until 10L)).toDF("q")
    val real = Seq(big, 3L, 5L).toDF("q")
    assertForms(anon, real, Seq("q"))
    assert(Linkage.driverSums(anon, real, Seq("q"), Long.MaxValue, Long.MaxValue).get.getLong(1) == 11L)
  }

  test("driver form declines non-finite values, values past the cents domain and invalid UTF-8") {
    val base = Seq((1.0, "A"), (2.0, "B")).toDF("q", "f")
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      declines(base.union(Seq((bad, "A")).toDF("q", "f")), base, Seq("q", "f"))
      declines(base, base.union(Seq((bad, "B")).toDF("q", "f")), Seq("q", "f"))
    }
    // past DECIMAL(18,2) the plan's cents cast faults; so does the dispatcher
    val huge = base.union(Seq((3.0e16, "A")).toDF("q", "f"))
    assert(Linkage.driverSums(huge, base, Seq("q", "f"), Long.MaxValue, Long.MaxValue).isEmpty)
    val viaPlan = intercept[Exception](Linkage.linkageRiskExact(huge, base, Seq("q", "f")).head())
    val viaGuard = intercept[Exception](Linkage.linkageRisk(huge, base, Seq("q", "f")).head())
    assert(viaGuard.getClass == viaPlan.getClass)
    val invalid = Seq(Array(0xC3.toByte, 0x28.toByte)).toDF("raw")
      .select(lit(1.0).as("q"), col("raw").cast("string").as("f"))
    declines(base, base.union(invalid), Seq("q", "f"))
    declines(base.union(invalid), base, Seq("q", "f"))
    // a pair count past the ceiling, and an unknown row bound, take the plan
    assert(Linkage.driverSums(base, base, Seq("q", "f"), Long.MaxValue, 3L).isEmpty)
    assert(Linkage.driverSums(base.distinct(), base, Seq("q", "f"),
      Long.MaxValue, Long.MaxValue).isEmpty)
  }

  test("driver form: the grouped count's two Spark jobs on a parquet pair") {
    val dir = java.nio.file.Files.createTempDirectory("linkage_pq").toString
    rows(3000, 21, 10).write.parquet(s"$dir/anon")
    rows(6000, 22, 10).write.parquet(s"$dir/real")
    val (anon, real) = (spark.read.parquet(s"$dir/anon"), spark.read.parquet(s"$dir/real"))
    assertForms(anon, real, Qdf)
    // adaptive execution runs the grouped count's shuffle stage and its
    // result stage as one job each; the driver finish runs none
    val (risk, jobs) = jobsDuring(Linkage.linkageRisk(anon, real, Qdf).head())
    assert(jobs == 2, s"linkageRisk ran $jobs jobs, want 2")
    assert(risk == Linkage.linkageRiskExact(anon, real, Qdf).head())
  }
}

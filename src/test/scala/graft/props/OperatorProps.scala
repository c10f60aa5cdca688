package graft.props

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean}
import graft.ops.{Drift, Privacy}
import graft.risk.Linkage
import graft.ext.{Dedup, Sampling, TextStats}

/** Property-based checks from SURVEY.md §5.2. Each case materializes a
  * small DataFrame, so the per-property case count is reduced — the point
  * is structural invariants, not fuzz volume. */
object OperatorProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val word: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e", "rare1", "rare2")
  private val words: Gen[List[String]] = Gen.listOfN(25, word)
  // V1 input: about one draw in 16 is null, so a list usually holds a
  // null group small enough to be rare (the V1 properties do not shrink:
  // the default String shrinker fails on null)
  private val wordsWithNulls: Gen[List[String]] =
    Gen.listOfN(25, Gen.frequency(15 -> word, 1 -> Gen.const[String](null)))

  property("V1: no surviving category has frequency < threshold") =
    forAllNoShrink(wordsWithNulls, Gen.choose(1L, 6L)) { (vs, t) =>
      vs.nonEmpty ==> {
        // the null group is a category too: it survives only if frequent
        val out = Privacy.sdcSuppress(vs.toDF("v"), Seq("v"), t)
          .groupBy("v").count().collect()
        out.forall(r => r.getString(0) == "OTHER" || r.getLong(1) >= t)
      }
    }

  property("V1: fitted and broadcast forms agree") =
    forAllNoShrink(wordsWithNulls) { vs =>
      vs.nonEmpty ==> {
        val df = vs.toDF("v")
        val a = Privacy.sdcSuppress(df, Seq("v"), 3)
          .groupBy("v").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val b = Privacy.sdcSuppressBroadcast(df, Seq("v"), 3)
          .groupBy("v").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        a == b
      }
    }

  property("V2: at most `bins` labels, every non-null value labeled") =
    forAll(Gen.listOfN(40, Gen.oneOf(
             Gen.choose(-100.0, 100.0).map(v => math.rint(v * 100) / 100),
             Gen.choose(-100.0, 100.0))),
           Gen.choose(2, 8)) { (vs, bins) =>
      vs.nonEmpty ==> {
        val out = Privacy.generalizeNumeric(vs.toDF("x"), "x", bins)
        val labels = out.select("x").distinct().count()
        labels <= bins && out.filter(col("x").isNull).count() == 0
      }
    }

  property("D1: KS ∈ [0,1] and 0 on identical samples") =
    forAll(Gen.listOfN(20, Gen.choose(-50.0, 50.0))) { vs =>
      (vs.size >= 5) ==> {
        val df = vs.toDF("x")
        val self = Drift.ksStatistic(df, df, "x").collect()(0).getDouble(1)
        val other = Drift.ksStatistic(df, vs.map(_ + 1.0).toDF("x"), "x")
          .collect()(0).getDouble(1)
        self == 0.0 && other >= 0.0 && other <= 1.0
      }
    }

  property("D2: 0 on identical inputs, non-negative always") =
    forAll(words, words) { (as, bs) =>
      (as.nonEmpty && bs.nonEmpty) ==> {
        val (da, db) = (as.toDF("v"), bs.toDF("v"))
        val self = Drift.chi2Drift(da, da, "v").collect()(0).getDouble(1)
        val cross = Drift.chi2Drift(da, db, "v").collect()(0).getDouble(1)
        math.abs(self) < 1e-9 && cross >= 0.0
      }
    }

  property("V6: score 1.0 iff an exact quasi duplicate exists") =
    forAll(Gen.choose(0, 3), Gen.choose(1, 4)) { (nDup, nOther) =>
      val anonRows = (1 to nDup).map(i => (i * 10.0, "m")) ++
        (1 to nOther).map(i => (1000.0 + i, "f"))
      val realRows = (1 to nDup).map(i => (i * 10.0, "m")) ++
        (1 to nOther).map(i => (5000.0 + i, "f"))
      val risk = Linkage.linkageRisk(
        anonRows.toDF("q", "g"), realRows.toDF("q", "g"), Seq("q", "g"))
        .collect()(0).getDouble(0)
      val expected = nDup.toDouble / (nDup + nOther)
      math.abs(risk - expected) < 1e-6
    }

  // V6 input rows: a money-like numeric and a category, each about one
  // draw in eight null, over domains small enough to repeat tuples
  private val quasiRows: Gen[List[(Option[Double], String)]] = Gen.listOf(for {
    q <- Gen.frequency(7 -> Gen.choose(0, 40).map(v => Some(v * 0.25)), 1 -> Gen.const(None))
    g <- Gen.frequency(7 -> word, 1 -> Gen.const[String](null))
  } yield (q, g))

  property("V6: the driver form's sums equal the exact plan's, bit for bit") =
    forAllNoShrink(quasiRows, quasiRows) { (as, rs) =>
      val (anon, real) = (as.toDF("q", "g"), rs.toDF("q", "g"))
      val quasi = Seq("q", "g")
      def bits(r: org.apache.spark.sql.Row) =
        (Option(r.get(0)).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])),
          Option(r.get(1)))
      val driver = Linkage.driverSums(anon, real, quasi, Long.MaxValue, Long.MaxValue)
      val plan = Linkage.exactSums(anon, real, quasi, Linkage.fitFeatures(anon, quasi)).head()
      driver.map(bits).contains(bits(plan))
    }

  property("minhash signature: length fixed, values in [0, P)") =
    forAll(Gen.listOfN(12, word)) { ws =>
      (ws.size >= 3) ==> {
        val df = Seq((1L, ws.mkString(" "))).toDF("doc_id", "text")
        val sig = df.select(Dedup.minhashSignature(col("text"), 3, 16).as("s"))
          .collect()(0).getSeq[Long](0)
        sig.size == 16 && sig.forall(v => v >= 0 && v < 2147483647L)
      }
    }

  property("jaccard pairs: scores in (0,1], symmetric id order") =
    forAll(Gen.listOfN(3, Gen.listOfN(10, word))) { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val pairs = Dedup.ngramJaccardPairs(df, "text", "doc_id", 3, 0.0).collect()
      pairs.forall { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        a < b && j > 0.0 && j <= 1.0
      }
    }

  property("mixRebalance: output ⊆ input, smallest group survives whole") =
    forAll(Gen.listOfN(30, Gen.oneOf("x", "y", "z"))) { gs =>
      gs.nonEmpty ==> {
        val rows = gs.zipWithIndex.map { case (g, i) => (i.toLong, g) }
        val out = Sampling.mixRebalance(rows.toDF("id", "g"), "id", "g")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val cnt = gs.groupBy(identity).view.mapValues(_.size).toMap
        val mn = cnt.values.min
        val per = out.groupBy(_._2).view.mapValues(_.size).toMap
        out.forall(rows.toSet.contains) &&
          cnt.filter(_._2 == mn).keys.forall(g => per.getOrElse(g, 0) == mn)
      }
    }

  property("tokenHistogram: buckets are multiples of 10 and sum to doc count") =
    forAll(Gen.listOfN(8, Gen.nonEmptyListOf(word))) { docs =>
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val out = TextStats.tokenHistogram(df, "text").collect()
      out.map(_.getLong(1)).sum == docs.size.toLong &&
        out.forall(_.getLong(0) % 10 == 0)
    }

  property("curationReport: exactly one min-id survivor per content group") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("t1 q", "t2 w", "t3 e"))) { ts =>
      val df = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = TextStats.curationReport(df, "text", "doc_id").collect()
      val byText = ts.zipWithIndex.groupBy(_._1)
      val surv = out.filter(_.getBoolean(5)).map(_.getLong(0)).toSet
      surv == byText.values.map(_.map(_._2.toLong).min).toSet &&
        out.forall(r =>
          r.getBoolean(4) == (byText(ts(r.getLong(0).toInt)).size > 1))
    }

  property("kAnonymity: k_min and group count match the true grouping") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 3))) { qs =>
      val df = qs.map(Tuple1(_)).toDF("q")
      val r = Privacy.kAnonymity(df, Seq("q"), 2).head()
      val counts = qs.groupBy(identity).values.map(_.size.toLong)
      r.getLong(0) == counts.min && r.getLong(1) == counts.size.toLong
    }

  property("PSI: non-negative, 0 on identical samples") =
    forAll(Gen.listOfN(30, Gen.choose(1, 50))) { xs =>
      xs.nonEmpty ==> {
        val df = xs.map(_.toDouble).toDF("x")
        val self = Drift.psi(df, df, "x").head()
        val shifted = Drift.psi(df, xs.map(_ + 1000.0).toDF("x"), "x").head()
        self.getDouble(1) == 0.0 && shifted.getDouble(1) >= 0.0
      }
    }

  property("JS: symmetric, within [0, ln 2]") =
    forAll(Gen.listOfN(12, Gen.oneOf("a", "b", "c")),
           Gen.listOfN(12, Gen.oneOf("b", "c", "d"))) { (as, bs) =>
      val (da, db) = (as.toDF("v"), bs.toDF("v"))
      val ab = Drift.jsDivergence(da, db, "v").head().getDouble(1)
      val ba = Drift.jsDivergence(db, da, "v").head().getDouble(1)
      ab == ba && ab >= 0.0 && ab <= math.log(2) + 1e-9
    }

  property("V10: t-closeness ∈ [0,1]; 0 when every group mirrors the global mix") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.oneOf("g1", "g2", "g3"), word))) { rows =>
      val df = rows.toDF("q", "s")
      val r = Privacy.tCloseness(df, Seq("q"), "s").head()
      val t = r.getDouble(0)
      val mirrored = rows.flatMap { case (_, s) => Seq(("g1", s), ("g2", s)) }.toDF("q", "s")
      val t0 = Privacy.tCloseness(mirrored, Seq("q"), "s").head().getDouble(0)
      t >= 0.0 && t <= 1.0 + 1e-12 && t0 == 0.0
    }

  property("mutual info: non-negative, 0 against a constant column") =
    forAll(Gen.listOfN(20, Gen.zip(word, word))) { rows =>
      val df = rows.toDF("x", "y")
      val mi = graft.ops.Profile.mutualInfo(df, "x", "y").head().getDouble(3)
      val miC = graft.ops.Profile.mutualInfo(
        df.withColumn("k", lit("c")), "x", "k").head().getDouble(3)
      mi >= -1e-6 && miC == 0.0
    }

  property("winsorize: output bounded by the fitted quantiles, order preserved") =
    forAll(Gen.listOfN(15, Gen.choose(-1000.0, 1000.0))) { xs =>
      val df = xs.map(x => math.rint(x * 100) / 100).toDF("v")
      val out = graft.ops.RowTransforms.winsorize(df, "v", 0.1, 0.9)
        .select("v_w").collect().map(_.getDouble(0))
      val sorted = xs.map(x => math.rint(x * 100) / 100).sorted
      out.forall(w => w >= sorted.head && w <= sorted.last)
    }

  property("temperature rebalance: output ⊆ input, smallest group kept whole") =
    forAll(Gen.listOfN(30, Gen.oneOf("s1", "s2", "s3"))) { groups =>
      val df = groups.zipWithIndex.map { case (g, i) => (i.toLong, g) }.toDF("id", "g")
      val out = Sampling.temperatureRebalance(df, "id", "g")
      val outIds = out.select("id").collect().map(_.getLong(0)).toSet
      val inCounts = groups.groupBy(identity).view.mapValues(_.size).toMap
      val outCounts = out.select("g").collect().map(_.getString(0))
        .groupBy(identity).view.mapValues(_.size).toMap
      val minGroup = inCounts.minBy { case (g, n) => (n, g) }._1
      // rate_s ≥ 1 for the smallest group (T ≥ S·√c_min), so it survives whole
      outIds.subsetOf(df.collect().map(_.getLong(0)).toSet) &&
        outCounts.getOrElse(minGroup, 0) == inCounts(minGroup)
    }

  property("snapshot diff: classes partition the id universe") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.choose(0L, 6L), Gen.oneOf("x", "y")))) { rows =>
      val oldV = rows.distinctBy(_._1).toDF("id", "t")
      val newV = rows.map { case (i, t) => (i + 2, t) }.distinctBy(_._1).toDF("id", "t")
      val out = graft.ops.Snapshot.diff(oldV, newV, "id", Seq("t")).collect()
      val ids = out.map(_.getLong(0)).toSet
      val oldIds = rows.map(_._1).toSet
      val newIds = rows.map(_._1 + 2).toSet
      ids == (oldIds ++ newIds) && out.length == ids.size &&
        out.forall { r =>
          val (i, c) = (r.getLong(0), r.getString(1))
          if (!oldIds(i)) c == "added"
          else if (!newIds(i)) c == "removed"
          else c == "changed" || c == "unchanged"
        }
    }
}

package graft.risk

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, InterpretedOrdering}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.io.{FastPath, ScanStats}
import graft.ops.{Exact, RowTransforms}

/** k-NN linkage re-identification risk (SURVEY.md §2.5 V6, P8/P9;
  * reference `modules/risk.py:10-35`).
  *
  * Semantics reproduced verbatim (NOT "fixed" — SURVEY §2.5): features are
  * standardized numeric quasi-IDs (population σ) + one-hot categoricals,
  * both FITTED ON ANON and applied to anon and real; nearest neighbor
  * (k=1, euclidean) of each anon row among real rows; per-row score
  * 1 − d₀/(d₀ + 1e-9) (with k=1 the row max IS d₀, so the score collapses
  * to an exact-match detector); overall = clip(mean, 0, 1).
  *
  * Three forms; [[linkageRisk]] takes the first that applies:
  *  - the driver form ([[driverSums]]): one grouped count collects both
  *    sides' distinct quasi tuples with their counts, and the driver
  *    computes the exact form's answer bit for bit. Taken when both
  *    sides' row bounds (parquet footers, else plan statistics) are at
  *    most [[graft.ops.Exact.DriverFitMaxRows]], distinct anon × distinct
  *    real tuples are at most [[DriverMaxPairs]], and every value is
  *    finite, inside the cents domain and valid UTF-8;
  *  - [[linkageRiskExact]], the plan form: exact cross-join +
  *    min-per-row, O(n·m) — taken up to ~10⁵×10⁵ pairs
  *    ([[exactIsSafe]]); Catalyst broadcasts the smaller side. It is the
  *    oracle's row (`v6_linkage_risk`);
  *  - [[linkageRiskLSH]]: BucketedRandomProjectionLSH approximate
  *    similarity join for the 100 TB path, above [[exactIsSafe]]'s
  *    ceiling (documented approximation: pairs beyond `threshold` are
  *    treated as non-matches, which leaves their score ≈ 0 — exactly
  *    where the exact form puts them).
  * `graft.io.FastPath` counts which form each call took.
  *
  * Every form VECTOR-GROUPS first (r12): the k=1 distance depends only on
  * the quasi-ID VALUES, so each side collapses to its distinct tuples
  * (a map-side-combinable groupBy — value-domain-sized however large the
  * input) before any pair work, with the anon multiplicity carried for
  * the weighted mean, which equals the per-row mean by definition. This
  * is what makes the module scale-true on LOW-CARDINALITY quasi domains,
  * where LSH bucketing alone cannot cut the pair count: ~1 650 distinct
  * (quantity, discount, flag) tuples fan the x16 fixture's 96k×96k rows
  * into ≈4·10⁹ bucket-join candidates — measured 28 min in one stage —
  * while the distinct-tuple join is 1 650² at ANY input scale. */
object Linkage {

  private def split(df: DataFrame, quasi: Seq[String]): (Seq[String], Seq[String]) = {
    val fields = df.schema.fields.filter(f => quasi.contains(f.name))
    (fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq,
     fields.filter(_.dataType == StringType).map(_.name).toSeq)
  }

  /** Build the fitted feature frame: standardized numerics + one-hot
    * categoricals, fit on `fit`, applied to `df`. Returns (frame,
    * featureCols). */
  def features(df: DataFrame, fit: DataFrame, quasi: Seq[String]): (DataFrame, Seq[String]) = {
    val p = fitFeatures(fit, quasi)
    (applyFeatures(df, quasi, p), p.featCols)
  }

  /** The fitted feature parameters alone (one μ/σ job + one vocab collect
    * per categorical), shareable across apply sites — both V6 paths
    * standardize/one-hot anon AND real against the SAME anon-side fit,
    * and refitting per side ran every fit job twice (plus two more vocab
    * collects for the feature names). At 100 TB each redundant fit is a
    * full scan of the corpus; here it was the measured bulk of
    * v6_linkage_risk_lsh's ~37-job orchestration. */
  private[graft] final case class FeatParams(
      nums: Seq[String], cats: Seq[String],
      stdParams: Map[String, Option[(Double, Double)]],
      vocab: Map[String, Seq[String]]) {
    def featCols: Seq[String] =
      nums ++ cats.flatMap(c => vocab(c).map(v => s"${c}__$v"))
  }

  private[graft] def fitFeatures(fit: DataFrame, quasi: Seq[String]): FeatParams = {
    val (nums, cats) = split(fit, quasi)
    if (nums.isEmpty && cats.isEmpty)
      return FeatParams(nums, cats, Map.empty, Map.empty)
    // ONE fused fit job (r16, guide §1.2: remove passes): the μ/σ moment
    // aggregate and every categorical's sorted vocabulary ride the same
    // widened pass — previously one standardizeFit job plus one
    // distinct+collect job PER categorical, each a full scan of the fit
    // side at 100 TB. Values are bit-identical by construction: the
    // moment sums are exact decimal/long accumulators (partitioning-
    // invariant), and sort_array(collect_set(c)) is exactly
    // `distinct().orderBy(c)` — both drop nulls and order by Spark's
    // binary UTF8String comparison. hi/lo accumulator choice takes the
    // footer row UPPER bound (value-identical branches; no count job).
    val hiLo = graft.io.ScanStats.parquetScanRowCount(fit)
      .orElse(graft.io.ScanStats.parquetScanRowUpperBound(fit))
      .getOrElse(fit.count()) <= graft.ops.Exact.HiLoSafeMaxRows
    val proj = graft.ops.Par.widen(fit.select((nums ++ cats).map(col): _*))
      .select((nums ++ cats).map(c => col(c)) ++
        nums.map(c => Exact.cents(col(c)).as(s"__cents_$c")): _*)
    val aggs: Seq[Column] =
      nums.flatMap { c =>
        Exact.momentAggsPre(col(s"__cents_$c"), c, hiLo) :+ count(col(c)).as(s"${c}__n")
      } ++ cats.map(c => sort_array(collect_set(col(c))).as(s"${c}__vocab"))
    val row = proj.agg(aggs.head, aggs.tail: _*)
      .select(nums.flatMap { c =>
        Seq(Exact.s1Col(c, hiLo).as(s"${c}__s1"),
          Exact.s2Col(c, hiLo).as(s"${c}__s2"), col(s"${c}__n"))
      } ++ cats.map(c => col(s"${c}__vocab")): _*).head()
    val stdParams = nums.zipWithIndex.map { case (c, i) =>
      val s1 = row.getDecimal(3 * i)
      val n = row.getLong(3 * i + 2)
      c -> (if (n == 0L || s1 == null) None
      else {
        val mu = Exact.meanDouble(s1, n)
        val sd = Exact.stdPopDouble(s1, row.getDecimal(3 * i + 1), n)
        Some((mu, if (sd == 0.0 || sd.isNaN) 1.0 else sd))
      })
    }.toMap
    val base = 3 * nums.length
    val vocab = cats.zipWithIndex.map { case (c, j) =>
      c -> row.getSeq[String](base + j).toSeq
    }.toMap
    FeatParams(nums, cats, stdParams, vocab)
  }

  private[graft] def applyFeatures(df: DataFrame, quasi: Seq[String],
                                   p: FeatParams): DataFrame = {
    // no quasi reselect: callers pass already-narrow frames, and the LSH
    // path's grouped tuples carry their multiplicity column through
    val std = RowTransforms.standardizeApply(df, p.nums, p.stdParams)
    p.cats.foldLeft(std) { (d, c) => RowTransforms.oneHotApply(d, c, p.vocab(c)) }
  }

  /** Ceiling on the PRODUCT of the two sides' optimizer scan estimates
    * below which the exact O(n·m) cross join is allowed: (4 MB)² ≈
    * 10⁵ × 10⁵ rows of pruned quasi-ID columns — the largest pair space
    * where exact beats any index. Free to evaluate (plan statistics). */
  val ExactMaxPairBytesProduct: BigInt = BigInt(4L << 20) * BigInt(4L << 20)

  /** True when the exact cross-join pair space is affordable per
    * [[ExactMaxPairBytesProduct]]; the [[linkageRisk]] dispatch guard. */
  private[graft] def exactIsSafe(anon: DataFrame, real: DataFrame,
                                 maxPairBytesProduct: BigInt = ExactMaxPairBytesProduct): Boolean =
    anon.queryExecution.optimizedPlan.stats.sizeInBytes *
      real.queryExecution.optimizedPlan.stats.sizeInBytes <= maxPairBytesProduct

  /** V6 with a scale guard — the user-facing entry point: exact while
    * the pair space is affordable ([[exactIsSafe]]) — on the driver
    * when [[driverSums]] accepts the inputs, else as a plan — else fail over to
    * [[linkageRiskLSH]] rather than silently planning an O(n·m) cross
    * join (at full fact-table size that join is the one thing in this
    * module that cannot survive a scale-up; the LSH answer differs only
    * in far pairs' ≈0 score contributions). Force a path with
    * [[linkageRiskExact]] / [[linkageRiskLSH]] directly. */
  def linkageRisk(anon: DataFrame, real: DataFrame, quasi: Seq[String],
                  maxPairBytesProduct: BigInt = ExactMaxPairBytesProduct): DataFrame =
    linkageRiskWith(anon, real, quasi, maxPairBytesProduct, Exact.DriverFitMaxRows, DriverMaxPairs)

  /** [[linkageRisk]] with the driver form's two ceilings as parameters:
    * `maxPairs = -1` forces the plan form, `Long.MaxValue` the driver
    * form wherever its inputs allow it. */
  private[graft] def linkageRiskWith(anon: DataFrame, real: DataFrame, quasi: Seq[String],
                                     maxPairBytesProduct: BigInt, maxRows: Long,
                                     maxPairs: Long): DataFrame =
    if (!exactIsSafe(anon, real, maxPairBytesProduct)) {
      FastPath.linkageLsh.incrementAndGet()
      linkageRiskLSH(anon, real, quasi)
    } else driverSums(anon, real, quasi, maxRows, maxPairs) match {
      case Some(sums) =>
        FastPath.linkageDriver.incrementAndGet()
        riskTail(anon.sparkSession.createDataFrame(java.util.Collections.singletonList(sums),
          StructType(Seq(StructField("sum_score", DoubleType), StructField("n", LongType)))))
      case None =>
        FastPath.linkagePlan.incrementAndGet()
        linkageRiskExact(anon, real, quasi)
    }

  /** Ceiling on distinct anon tuples × distinct real tuples for
    * [[driverSums]], whose k=1 scan runs on one driver thread. Measured
    * on 4 cores with three features (two numeric, one categorical) over
    * all-distinct parquet tuples, grouped count included: 10⁶ pairs
    * 0.33 s against 0.76 s for the plan form, 10⁸ pairs 0.87 s against
    * 13.5 s.
    * The ceiling keeps the driver scan near a second; above it the plan
    * form spreads the pairs over however many cores the cluster has. */
  val DriverMaxPairs: Long = 100_000_000L

  /** The final step both exact forms share: the clipped, rounded mean
    * of a (sum_score, n) row. */
  private def riskTail(sums: DataFrame): DataFrame =
    sums.select(round(least(lit(1.0), greatest(lit(0.0), col("sum_score") / col("n"))), 9)
      .as("risk_score"))

  /** The exact form on the driver: the (sum_score, n) row of
    * [[exactSums]] over [[fitFeatures]], bit-identical, for [[riskTail]]
    * to finish as a local 1-row frame. ONE grouped count (a shuffle
    * stage and a result stage, two jobs under adaptive execution)
    * collects the tuple histogram of a side-tagged union of both inputs
    * — the typed quasi values (categoricals as their bytes), each
    * numeric's `cast(double)` and [[Exact.cents]], and the tuple's row
    * count. Everything else runs on the driver in the plan form's order
    * of operations:
    *  - the anon fit: exact Σ cents·count and Σ cents²·count per numeric
    *    into [[Exact.meanDouble]] / [[Exact.stdPopDouble]] (σ 0 or NaN →
    *    1), and each categorical's anon vocabulary;
    *  - per distinct anon tuple the k=1 squared distance over the
    *    distinct real tuples: numeric terms then categorical terms, added
    *    left to right; its square root is d₀;
    *  - the plan's second grouping by (standardized key, anon count),
    *    which can merge anon tuples whose standardized keys coincide;
    *  - the running sum of the scores in Catalyst's ascending, nulls-first
    *    order of the standardized keys (ties, which only such coinciding
    *    keys make, broken by count) and of the counts, each's maximum.
    * None — take the plan form — when a quasi column is missing or is
    * neither numeric nor a plain string on either side, when either
    * side's row bound ([[graft.io.ScanStats.rowUpperBound]]) is unknown
    * or above `maxRows`, when distinct anon × distinct real tuples pass
    * `maxPairs`, or when a value is non-finite, outside the cents domain
    * (|v| ≥ 10¹⁶) or a key that is not valid UTF-8 (the plan's vocabulary
    * literals are re-encoded strings there). */
  private[graft] def driverSums(anon: DataFrame, real: DataFrame, quasi: Seq[String],
                                maxRows: Long, maxPairs: Long): Option[Row] = {
    def typeOf(df: DataFrame, c: String) = df.schema.find(_.name == c).map(_.dataType)
    val typed = quasi.nonEmpty && quasi.distinct.size == quasi.size && quasi.forall { c =>
      (typeOf(anon, c), typeOf(real, c)) match {
        case (Some(a), Some(r)) => a == r && (a.isInstanceOf[NumericType] || a == StringType)
        case _                  => false
      }
    }
    if (!typed || maxPairs < 0 ||
        !Seq(anon, real).forall(ScanStats.rowUpperBound(_).exists(_ <= maxRows))) return None
    val (nums, cats) = split(anon, quasi) // the fit's feature order
    def tagged(df: DataFrame, side: Int): DataFrame =
      df.select(lit(side).as("__side") +: (quasi.map(col) ++ nums.flatMap { c =>
        val d = col(c).cast("double")
        // the guard keeps the cents cast from faulting; a null cents on a
        // non-null value declines below
        Seq(d.as(s"__d_$c"), when(abs(d) < lit(1.0e16), Exact.cents(col(c))).as(s"__c_$c"))
      }): _*)
    val both = tagged(anon, 0).union(tagged(real, 1))
    if (both.columns.distinct.length != both.columns.length) return None
    // Spark's own grouping (-0.0 = 0.0, one NaN); a categorical groups
    // on its bytes, which the driver decodes strictly below
    val tuples = both.groupBy(both.columns.toSeq.map(c =>
      if (cats.contains(c)) col(c).cast("binary").as(c) else col(c)): _*).count().collect()
    val k = quasi.length
    val dblAt = nums.indices.map(j => 1 + k + 2 * j)
    val catAt = cats.map(c => 1 + quasi.indexOf(c))
    val ok = tuples.forall { t =>
      dblAt.forall { i =>
        t.isNullAt(i) || { val d = t.getDouble(i); !d.isNaN && !d.isInfinite && !t.isNullAt(i + 1) }
      } && catAt.forall(i =>
        t.isNullAt(i) || graft.io.DriverParquet.strictUtf8(t.getAs[Array[Byte]](i)).isDefined)
    }
    val cntAt = both.columns.length
    val (anonT, realT) = tuples.map(t => t -> t.getLong(cntAt)).partition(_._1.getInt(0) == 0)
    if (!ok || anonT.length.toLong * realT.length > maxPairs) return None
    // no real tuple: the plan's cross join, and so its aggregate, is empty
    if (realT.isEmpty) return Some(Row(null, null))

    // the anon fit (fitFeatures): exact moments over the tuple counts
    val stdP: IndexedSeq[Option[(Double, Double)]] = dblAt.map { i =>
      var n = 0L
      var s1 = java.math.BigInteger.ZERO
      var s2 = java.math.BigInteger.ZERO
      anonT.foreach { case (t, cnt) =>
        if (!t.isNullAt(i)) {
          val cents = java.math.BigInteger.valueOf(t.getLong(i + 1))
          val w = cents.multiply(java.math.BigInteger.valueOf(cnt))
          n += cnt
          s1 = s1.add(w)
          s2 = s2.add(w.multiply(cents))
        }
      }
      if (n == 0L) None
      else {
        val (b1, b2) = (new java.math.BigDecimal(s1), new java.math.BigDecimal(s2))
        val sd = Exact.stdPopDouble(b1, b2, n)
        Some((Exact.meanDouble(b1, n), if (sd == 0.0 || sd.isNaN) 1.0 else sd))
      }
    }
    // standardized numerics per tuple; NaN stands for SQL NULL (every
    // collected value is finite, so no real value is NaN)
    def standardized(t: Row): Array[Double] = dblAt.indices.map { j =>
      stdP(j) match {
        case Some((mu, sd)) if !t.isNullAt(dblAt(j)) => (t.getDouble(dblAt(j)) - mu) / sd
        case _                                       => Double.NaN
      }
    }.toArray
    // categorical keys as ids (-1 = NULL); inFit = member of the anon
    // vocabulary, which every non-null anon key is
    val ids = new java.util.HashMap[UTF8String, Integer]()
    def catIds(t: Row): Array[Int] = catAt.map { i =>
      if (t.isNullAt(i)) -1
      else {
        val key = UTF8String.fromBytes(t.getAs[Array[Byte]](i))
        val id = ids.get(key)
        if (id != null) id.intValue else { ids.put(key, ids.size); ids.size - 1 }
      }
    }.toArray
    val aNum = anonT.map(p => standardized(p._1)).toArray
    val aCat = anonT.map(p => catIds(p._1)).toArray
    val rNum = realT.map(p => standardized(p._1)).toArray
    val rCat = realT.map(p => catIds(p._1)).toArray
    val inVocab = Array.fill(cats.length)(new java.util.BitSet())
    aCat.foreach(ks => ks.indices.foreach(c => if (ks(c) >= 0) inVocab(c).set(ks(c))))
    val nNum = nums.length
    val nTerms = nNum + cats.length
    // real tuples with a NULL standardized numeric have a NULL distance
    val rLive = rNum.indices.filter(r => !rNum(r).exists(_.isNaN)).toArray
    val rFit = rCat.map(ks => ks.indices.map(c =>
      if (ks(c) >= 0 && inVocab(c).get(ks(c))) 1.0 else 0.0).toArray)
    val d0: Array[Double] = aNum.indices.map { a =>
      val an = aNum(a)
      val ac = aCat(a)
      var best = Double.PositiveInfinity
      var found = false
      if (!an.exists(_.isNaN)) {
        var ri = 0
        while (ri < rLive.length && !(found && best == 0.0)) {
          val r = rLive(ri)
          val rn = rNum(r)
          val rc = rCat(r)
          // numTerms ++ catTerms reduced left to right; every term is ≥ 0
          // and float addition is monotone, so a partial sum at or above
          // the best can only end there
          var acc = 0.0
          var t = 0
          while (t < nTerms && !(found && acc >= best)) {
            val term =
              if (t < nNum) { val x = an(t) - rn(t); x * x }
              else {
                val c = t - nNum
                if (ac(c) == rc(c)) 0.0
                else (if (ac(c) >= 0) 1.0 else 0.0) + rFit(r)(c)
              }
            acc = if (t == 0) term else acc + term
            t += 1
          }
          if (t == nTerms && (!found || acc < best)) { best = acc; found = true }
          ri += 1
        }
      }
      if (found) math.sqrt(best) else Double.NaN
    }.toArray

    // the plan's d0 grouping: (k_ keys, __acnt), numerics standardized
    val keyTypes = quasi.map(c => if (nums.contains(c)) DoubleType else StringType)
    val numOfQuasi = quasi.map(nums.indexOf(_))
    val groups = new java.util.HashMap[InternalRow, Array[Double]]()
    anonT.indices.foreach { a =>
      val key = new GenericInternalRow(k + 1)
      quasi.indices.foreach { q =>
        val j = numOfQuasi(q)
        if (j >= 0) {
          val v = aNum(a)(j)
          if (!v.isNaN) key.update(q, if (v == 0.0) 0.0 else v)
        } else {
          val t = anonT(a)._1
          if (!t.isNullAt(1 + q)) key.update(q, UTF8String.fromBytes(t.getAs[Array[Byte]](1 + q)))
        }
      }
      key.update(k, anonT(a)._2)
      val prev = groups.get(key)
      if (prev == null) groups.put(key, Array(d0(a)))
      else if (!d0(a).isNaN && (prev(0).isNaN || d0(a) < prev(0))) prev(0) = d0(a)
    }
    val byKeys = InterpretedOrdering.forSchema(keyTypes)
    val sorted = {
      val out = new java.util.ArrayList[java.util.Map.Entry[InternalRow, Array[Double]]](groups.entrySet())
      out.sort { (x, y) =>
        val c = byKeys.compare(x.getKey, y.getKey)
        if (c != 0) c else java.lang.Long.compare(x.getKey.getLong(k), y.getKey.getLong(k))
      }
      out
    }
    // sum(score) and sum(__acnt) over the cumulative window, then max of each
    var cum: java.lang.Double = null
    var maxCum: java.lang.Double = null
    var n: java.lang.Long = null
    sorted.forEach { e =>
      val acnt = e.getKey.getLong(k)
      val dd = e.getValue()(0)
      if (!dd.isNaN) {
        val score = (1.0 - dd / (dd + 1e-9)) * acnt.toDouble
        cum = (if (cum == null) 0.0 else cum.doubleValue) + score
        if (maxCum == null || cum > maxCum) maxCum = cum
      }
      n = (if (n == null) 0L else n.longValue) + acnt
    }
    Some(Row(maxCum, n))
  }

  /** Exact V6: overall risk score as a 1-row DataFrame (risk_score).
    *
    * The categorical part of the euclidean distance uses the algebraic
    * identity Σ_cat (a_1hot − r_1hot)² = [a ≠ r] · (inFit(a) + inFit(r)),
    * where `inFit` is membership in the fitted (anon-side) distinct list —
    * the SAME rule `features`/`RowTransforms.oneHot` fit, so the oracle SQL
    * can mirror it with an `IN (SELECT DISTINCT …)` subquery instead of a
    * hardcoded per-category CASE list: any category set, any subset,
    * bit-identical terms (each is exactly 0.0 / 1.0 / 2.0) and identical
    * addition order (numeric terms first, then one term per cat column). */
  def linkageRiskExact(anon: DataFrame, real: DataFrame, quasi: Seq[String]): DataFrame =
    linkageRiskExactFitted(anon, real, quasi, fitFeatures(anon, quasi))

  /** [[linkageRiskExact]] with a pre-computed anon-side fit — the audit
    * runs BOTH physical forms over the same fit frame, and refitting per
    * form doubled the fused fit job (r16). */
  private[graft] def linkageRiskExactFitted(anon: DataFrame, real: DataFrame,
                                            quasi: Seq[String], fitP: FeatParams): DataFrame =
    riskTail(exactSums(anon, real, quasi, fitP))

  /** The exact plan up to its 1-row (sum_score, n) aggregate: the
    * weighted score sum and the anon row count that [[riskTail]] turns
    * into the risk. */
  private[graft] def exactSums(anon: DataFrame, real: DataFrame,
                               quasi: Seq[String], fitP: FeatParams): DataFrame = {
    val nums = fitP.nums
    val cats = fitP.cats
    // ONE fused μ/σ + vocab fit, shared by both sides (the fit frame is
    // anon for both — see features). The fit runs on the FULL anon
    // frame — grouping must not change μ/σ.
    val stdP = fitP.stdParams
    val fitted: Map[String, Seq[String]] = fitP.vocab
    // vector-grouping (see the object doc): the pair scan runs over
    // DISTINCT quasi tuples — the anon side keeps its multiplicity.
    // Standardization commutes with the grouping ((x−μ)/σ is per-value
    // and injective), so grouping raw tuples first costs one
    // map-side-combinable shuffle of the value domain and nothing else.
    val anonV = anon.groupBy(quasi.map(col): _*).agg(count(lit(1)).as("__acnt"))
    val realV = real.select(quasi.map(col): _*).distinct()
    val anonStd = RowTransforms.standardizeApply(anonV, nums, stdP)
    val realStd = RowTransforms.standardizeApply(realV, nums, stdP)
    def inFit(side: String, c: String): Column =
      if (fitted(c).isEmpty) lit(0.0)
      else coalesce(col(s"$side.$c").isin(fitted(c): _*).cast("double"), lit(0.0))
    val numTerms = nums.map(f =>
      (col(s"a.$f") - col(s"r.$f")) * (col(s"a.$f") - col(s"r.$f")))
    val catTerms = cats.map(c =>
      when(col(s"a.$c") <=> col(s"r.$c"), lit(0.0))
        .otherwise(inFit("a", c) + inFit("r", c)))
    val d2 = (numTerms ++ catTerms).reduce(_ + _)
    val pairs = anonStd.alias("a").crossJoin(realStd.alias("r"))
      .select(quasi.map(c => col(s"a.$c").as(s"k_$c")) ++
        Seq(col("a.__acnt").as("__acnt"), sqrt(d2).as("dist")): _*)
    val d0 = pairs
      .groupBy((quasi.map(c => col(s"k_$c")) :+ col("__acnt")): _*)
      .agg(min("dist").as("d0"))
    // deterministic fp order for the oracle: cum-sum of the per-tuple
    // weighted scores in tuple order (distinct tuples ⇒ total order;
    // Spark asc = nulls first = the oracle's NULLS FIRST).
    // n rides the SAME cumulative window (one WindowExec pass instead of
    // two, r16): __acnt ≥ 1 makes its cum-sum strictly increasing, so
    // max(cum n) IS the exact long total the old whole-frame window gave.
    val score = (lit(1.0) - col("d0") / (col("d0") + lit(1e-9))) * col("__acnt")
    val wCum = Window.orderBy(quasi.map(c => col(s"k_$c")): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d0.withColumn("cum", sum(score).over(wCum))
      .withColumn("n", sum(col("__acnt")).over(wCum))
      .agg(max(col("cum")).as("sum_score"), max(col("n")).as("n"))
  }

  /** Scale path: LSH approximate neighbor join. Anon rows with no real
    * candidate within `threshold` get d₀ = threshold (score ≈ 0, matching
    * the exact form's treatment of far rows).
    *
    * Implemented as an explicit bucketed-random-projection join in plain
    * DataFrame ops — the textbook BRP-LSH construction (bucket =
    * ⌊v·r/bucketLength⌋ per seeded unit gaussian r, one per hash table;
    * a pair is a candidate iff it shares ANY table's bucket), the same
    * scheme as Spark MLlib's `BucketedRandomProjectionLSH`. The MLlib
    * operator itself was 10× slower here: Vector-UDT rows exclude the
    * whole join from codegen and every candidate pays a per-pair
    * distance UDF. In this form buckets, the equi-join, and the
    * euclidean distance are all codegen'd column arithmetic — and no
    * candidate-pair dedup is needed because the consumer is min(dist)
    * per anon row, which duplicate candidates cannot change.
    *
    * Scale shape: candidates come from equi-joins on (table, bucket) —
    * shuffle-bounded by real collisions, never O(n·m); widened inputs
    * keep the narrow bucket/distance math parallel on few-split scans. */
  def linkageRiskLSH(anon: DataFrame, real: DataFrame, quasi: Seq[String],
                     threshold: Double = 2.0, bucketLength: Double = 1.0,
                     numHashTables: Int = 4, seed: Long = 42L): DataFrame =
    linkageRiskLSHFitted(anon, real, quasi, fitFeatures(anon, quasi),
      threshold, bucketLength, numHashTables, seed)

  /** [[linkageRiskLSH]] with a pre-computed anon-side fit (see
    * [[linkageRiskExactFitted]]). */
  private[graft] def linkageRiskLSHFitted(anon: DataFrame, real: DataFrame,
                     quasi: Seq[String], fitP: FeatParams,
                     threshold: Double = 2.0, bucketLength: Double = 1.0,
                     numHashTables: Int = 4, seed: Long = 42L): DataFrame = {
    val featCols = fitP.featCols
    require(featCols.nonEmpty, "linkageRiskLSH needs at least one quasi-ID feature")
    // vector-grouping (see the object doc): buckets, candidates and
    // distances are all per-TUPLE; the anon multiplicity only weights
    // the final mean. On low-cardinality quasi domains this is the
    // difference between a domain²/buckets candidate set and the
    // measured ~n·m/buckets single-stage blow-up at x16.
    val anonV = anon.groupBy(quasi.map(col): _*).agg(count(lit(1)).as("__acnt"))
    val realV = real.select(quasi.map(col): _*).distinct()
    val anonF = applyFeatures(anonV, quasi, fitP)
    val realF = applyFeatures(realV, quasi, fitP)
    // seeded unit gaussian per hash table — deterministic for (seed, dim)
    val rng = new scala.util.Random(seed)
    val projs: Seq[Array[Double]] = Seq.fill(numHashTables) {
      val v = Array.fill(featCols.length)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    def buckets: Column = array(projs.map { r =>
      val dot = featCols.zipWithIndex
        .map { case (f, j) => col(f) * lit(r(j)) }.reduce(_ + _)
      floor(dot / lit(bucketLength)).cast("long")
    }: _*)
    val keyCols = quasi.map(c => col(c).as(s"k_$c"))
    val aExp = anonF.select(
      keyCols ++ Seq(col("__acnt")) ++ featCols.map(f => col(f).as(s"a_$f")) :+
        posexplode(buckets).as(Seq("__i", "__b")): _*)
    val rExp = realF.select(
      featCols.map(f => col(f).as(s"r_$f")) :+
        posexplode(buckets).as(Seq("__ri", "__rb")): _*)
    val d2 = featCols.map { f =>
      (col(s"a_$f") - col(s"r_$f")) * (col(s"a_$f") - col(s"r_$f"))
    }.reduce(_ + _)
    val kRefs = quasi.map(c => col(s"k_$c"))
    val joined = aExp
      .join(rExp, col("__i") === col("__ri") && col("__b") === col("__rb"))
      .select((kRefs :+ col("__acnt")) :+ sqrt(d2).as("dist"): _*)
      .filter(col("dist") < lit(threshold))
      .groupBy((kRefs :+ col("__acnt")): _*).agg(min("dist").as("d0"))
    // tuples with no in-threshold candidate get d₀ = threshold; the join
    // back onto the full tuple list must be null-SAFE on the keys (a
    // null quasi value is a real tuple, not a non-match)
    val allT = anonF.select((keyCols :+ col("__acnt")): _*)
    val cond = quasi.map(c => col(s"l.k_$c") <=> col(s"j.k_$c")).reduce(_ && _)
    val withAll = allT.alias("l").join(joined.alias("j"), cond, "left")
      .select(quasi.map(c => col(s"l.k_$c").as(s"k_$c")) ++ Seq(
        col("l.__acnt").as("__acnt"),
        coalesce(col("j.d0"), lit(threshold)).as("d0")): _*)
    // same deterministic weighted-mean tail as the exact form (n on the
    // cumulative window — see linkageRiskExactFitted: one WindowExec pass)
    val score = (lit(1.0) - col("d0") / (col("d0") + lit(1e-9))) * col("__acnt")
    val wCum = Window.orderBy(kRefs: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withAll.withColumn("cum", sum(score).over(wCum))
      .withColumn("n", sum(col("__acnt")).over(wCum))
      .agg(max(col("cum")).as("sum_score"), max(col("n")).as("n"))
      .select(least(lit(1.0), greatest(lit(0.0),
        col("sum_score") / col("n"))).as("risk_score"))
  }
}

package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** D4 ML utility check (SURVEY.md §2.4; reference
  * `modules/utility.py:125-146`): for each of {before, after} — features =
  * numeric columns minus the target, mean-imputed; 70/30 split (seed 42);
  * LogisticRegression(maxIter=200) with a RandomForest(100 trees, seed 42)
  * fallback on fit failure; report accuracy + weighted F1. NaN row when
  * there are no features or fewer than 2 classes (`:133-134`).
  *
  * Oracle-match mode is `prop` (SURVEY §2): MLlib's optimizer is not
  * sklearn's, so values are property-tested (bounds + bounded
  * before/after delta), never hash-compared.
  */
object UtilityCheck {

  /** Fit/eval sample ceiling (per-row hash gate over every source
    * column plus a row-id disambiguator — see the gate note in
    * [[evalOne]]): far past where a linear model's accuracy estimate
    * saturates, small enough that the repartitioned split is always a
    * trivial shuffle — the check's cost is CONSTANT in table size. */
  private val FitSampleCap = 262144L

  def modelUtility(before: DataFrame, after: DataFrame, target: String): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    // The two evaluations are independent job chains — run them
    // concurrently so the cluster overlaps their (driver-sequential)
    // optimizer iterations.
    val ((accB, f1B), (accA, f1A)) =
      graft.ops.Par.both(evalOne(before, target), evalOne(after, target))
    Seq(("before", accB, f1B), ("after", accA, f1A))
      .toDF("dataset", "accuracy", "weighted_f1")
  }

  private def numericFeatures(df: DataFrame, target: String): Seq[String] =
    df.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType] && f.name != target)
      .map(_.name).toSeq

  /** (accuracy, weightedF1) on a 30% holdout; (NaN, NaN) on degenerate
    * input, mirroring the reference's guards: fewer than two classes, or
    * a label that is not a non-negative integer. */
  def evalOne(df: DataFrame, target: String): (Double, Double) = {
    import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.ml.feature.VectorAssembler

    val feats = numericFeatures(df, target)
    if (feats.isEmpty) return (Double.NaN, Double.NaN)
    // Per-row sample gate, computed BEFORE projecting down to the
    // feature columns: hashing only the (features, label) tuple keeps or
    // drops duplicate tuples together, and on a low-cardinality feature
    // space (binary/flag columns) that made the cap unenforceable — the
    // selection was all-or-nothing per DISTINCT tuple, could skew class
    // balance, and in the extreme hashed every tuple out, silently
    // reporting (NaN, NaN) on a healthy table. Hashing every original
    // column picks up any natural row key, and the
    // monotonically_increasing_id term guarantees row-level granularity
    // even on fully duplicated rows. The id term makes sample MEMBERSHIP
    // depend on partitioning — acceptable here and only here because the
    // very next step, randomSplit(seed=42), is already partition-order-
    // dependent: D4's declared match mode is prop (bounds-tested), never
    // hash-compared.
    val base = df
      .withColumn("__gate", pmod(
        xxhash64(df.columns.toSeq.map(col) :+ monotonically_increasing_id(): _*),
        lit(1000000L)))
      .select((feats :+ target :+ "__gate").map(col): _*)
      .withColumn("label", col(target).cast("double")).na.drop(Seq("label"))
    // ONE aggregate fits the class count, the row count, the count of
    // labels MLlib's classifiers refuse (not a non-negative integer below
    // Int.MaxValue — e.g. a label column V4 synthesized into continuous
    // draws), and every feature's impute mean (the previous per-feature
    // imputeMean was k+1 separate scans).
    val label = col("label")
    val badLabel = label < 0 || label >= Int.MaxValue.toDouble || label =!= rint(label)
    val aggs = Seq(count_distinct(label).as("__k"),
      count(lit(1)).as("__n"), count(when(badLabel, lit(1))).as("__bad")) ++
      feats.map(c => avg(col(c)).as(s"${c}__mu"))
    val st = base.agg(aggs.head, aggs.tail: _*).head()
    if (st.getLong(0) < 2 || st.getLong(2) > 0) return (Double.NaN, Double.NaN)
    val nRows = st.getLong(1)
    val imputed = feats.zipWithIndex.foldLeft(base) { case (d, (c, i)) =>
      val m = if (st.isNullAt(i + 3)) 0.0 else st.getDouble(i + 3)
      d.withColumn(c, coalesce(col(c).cast("double"), lit(m)))
    }
    // Bounded deterministic hash sample for the fit/eval (the
    // QualityModel idiom): impute means come from the FULL table (one
    // agg), but the train/test frame itself is capped, so the split and
    // the LBFGS iterations never funnel an unbounded corpus. Then
    // repartition — a real exchange of ≤cap rows — NOT coalesce:
    // coalesce is narrow and would pull the upstream scan into 4 tasks.
    // Few fat partitions because every LBFGS iteration is a
    // treeAggregate job: task-count, not data size, dominates at sample
    // scale (200 iters × 32 tasks vs × 4).
    val sampled = (
      if (nRows <= FitSampleCap) imputed
      else imputed.filter(col("__gate") <
        lit(math.max(1L, (FitSampleCap.toDouble / nRows * 1e6).toLong)))
      ).drop("__gate")
    // cache(): the __gate term above includes monotonically_increasing_id,
    // so sample MEMBERSHIP is partitioning-dependent — without a
    // materialization barrier every downstream action (each LBFGS
    // treeAggregate, model.transform, both evaluator passes) would
    // re-evaluate the gate over a possibly-differently-partitioned
    // lineage, letting train/test row sets drift between actions. One
    // cache pins the sampled rows for the whole fit/eval.
    val assembled = new VectorAssembler()
      .setInputCols(feats.toArray).setOutputCol("features")
      .transform(sampled)
      .repartition(4)
      .cache()
    try {
      val Array(train, test) = assembled.randomSplit(Array(0.7, 0.3), seed = 42L)
      if (train.isEmpty || test.isEmpty) return (Double.NaN, Double.NaN)

      val model =
        // tol=1e-4 is sklearn's LogisticRegression default — MLlib's 1e-6
        // is TIGHTER than the reference; matching it is both more faithful
        // and converges in fewer iterations
        try new LogisticRegression().setMaxIter(200).setTol(1e-4).fit(train)
        catch {
          case _: Throwable =>
            new RandomForestClassifier().setNumTrees(100).setSeed(42L).fit(train)
        }
      val preds = model.transform(test)
      val acc = new MulticlassClassificationEvaluator()
        .setMetricName("accuracy").evaluate(preds)
      val f1 = new MulticlassClassificationEvaluator()
        .setMetricName("weightedFMeasure").evaluate(preds)
      (acc, f1)
    } finally assembled.unpersist()
  }
}

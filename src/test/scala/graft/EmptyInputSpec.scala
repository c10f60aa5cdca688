package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every public operator must survive an EMPTY (but correctly-typed)
  * input — returning an empty or zero-filled frame, never aborting.
  *
  * This is the edge class the round-7 self-review exposed: fused
  * exploded passes emit nothing to aggregate (columns silently vanish),
  * and under Spark 4's default ANSI mode any 0/0 that reaches execution
  * kills the whole job. A 100 TB pipeline hits empty inputs constantly —
  * a filter that matched nothing, an empty delta batch, a new partition —
  * so "one degenerate input aborts the run" is a scale bug, not a nicety.
  * Each case collects the result; the sweep reports every op that threw.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyLineitem: DataFrame =
    Tables.lineitem(spark, Sf).filter(lit(false))
  private def emptyDocs: DataFrame =
    Tables.documents(spark, Sf).filter(lit(false))
  private def someLineitem: DataFrame =
    Tables.lineitem(spark, Sf).limit(100)
  private def emptyEmb: DataFrame =
    Tables.embeddings(spark, Sf).filter(lit(false))
  private def someEmb: DataFrame =
    Tables.embeddings(spark, Sf).limit(50)

  private val numCols = Seq("l_quantity", "l_extendedprice")

  test("operator sweep over empty inputs: nothing may throw") {
    val cases: Seq[(String, () => Array[_])] = Seq(
      "profile" -> (() => ops.Profile.profile(emptyLineitem).collect()),
      "profileApprox" -> (() => ops.Profile.profileApprox(emptyLineitem).collect()),
      "valueCounts" -> (() => ops.Profile.valueCounts(emptyLineitem, "l_returnflag").collect()),
      "rareCategories" -> (() => ops.Profile.rareCategories(emptyLineitem, "l_returnflag", 5L).collect()),
      "distinctCounts" -> (() => ops.Profile.distinctCounts(emptyLineitem).collect()),
      "rowCount" -> (() => ops.Profile.rowCount(emptyLineitem, "lineitem").collect()),
      "muSigma" -> (() => ops.Profile.muSigma(emptyLineitem, numCols).collect()),
      "correlationMatrix" -> (() => ops.Profile.correlationMatrix(emptyLineitem, numCols).collect()),
      "categoryPmf" -> (() => ops.Profile.categoryPmf(emptyLineitem, "l_returnflag").collect()),
      "categoryEntropy" -> (() => ops.Profile.categoryEntropy(emptyLineitem, Seq("l_returnflag")).collect()),
      // drift: empty AFTER side against a real reference (the streaming
      // shape: a window with no events yet), and both sides empty
      "ksStatistic empty-after" -> (() =>
        ops.Drift.ksStatistic(someLineitem, emptyLineitem, "l_quantity").collect()),
      "ksStatistic both-empty" -> (() =>
        ops.Drift.ksStatistic(emptyLineitem, emptyLineitem, "l_quantity").collect()),
      "chi2Drift empty-after" -> (() =>
        ops.Drift.chi2Drift(someLineitem, emptyLineitem, "l_returnflag").collect()),
      "psi empty-after" -> (() =>
        ops.Drift.psi(someLineitem, emptyLineitem, "l_quantity").collect()),
      "jsDivergence empty-after" -> (() =>
        ops.Drift.jsDivergence(someLineitem, emptyLineitem, "l_returnflag").collect()),
      "sdcSuppress" -> (() => ops.Privacy.sdcSuppress(emptyLineitem, Seq("l_returnflag")).collect()),
      "generalizeNumeric" -> (() => ops.Privacy.generalizeNumeric(emptyLineitem, "l_quantity").collect()),
      "dpNoise" -> (() => ops.Privacy.dpNoise(emptyLineitem, numCols, epsilon = 1.0).collect()),
      "syntheticSample" -> (() => ops.Privacy.syntheticSample(emptyLineitem, numCols).collect()),
      "smartSuggest" -> (() => ops.Privacy.smartSuggest(emptyLineitem).collect()),
      "kAnonymity" -> (() => ops.Privacy.kAnonymity(emptyLineitem, Seq("l_returnflag")).collect()),
      "lDiversity" -> (() => ops.Privacy.lDiversity(emptyLineitem, Seq("l_returnflag"), "l_linestatus").collect()),
      "tCloseness" -> (() => ops.Privacy.tCloseness(emptyLineitem, Seq("l_returnflag"), "l_linestatus").collect()),
      "textStats" -> (() => ext.TextStats.textStats(emptyDocs, "text", "doc_id").collect()),
      "langId" -> (() => ext.TextStats.langId(emptyDocs, "text", "doc_id").collect()),
      "dedupExact" -> (() => ext.Dedup.exact(emptyDocs, "text", "doc_id").collect()),
      // ANN / embedding ops: the MLlib fits (LSH, KMeans, PCA) abort on
      // empty input unless guarded — an empty delta batch or a corpus
      // filter matching nothing must yield an empty result, not a crash
      "cosineTopK empty-corpus" -> (() => ext.SimSearch.cosineTopK(someEmb, emptyEmb, 5).collect()),
      "lshTopK empty-corpus" -> (() => ext.SimSearch.lshTopK(someEmb, emptyEmb, 5).collect()),
      "ivfTopK empty-corpus" -> (() => ext.SimSearch.ivfTopK(someEmb, emptyEmb, 5).collect()),
      "clusterSummary" -> (() => ext.SimSearch.clusterSummary(emptyEmb).collect()),
      "pcaProject" -> (() => ext.SimSearch.pcaProject(emptyEmb, 4).collect()),
      "semDedup" -> (() => ext.SimSearch.semDedup(emptyEmb, 0.9).collect()),
      "semDedupDelta empty-corpus" -> (() =>
        ext.SimSearch.semDedupDelta(emptyEmb, someEmb, 0.9).collect()),
      "centroidShift empty-after" -> (() =>
        ext.SimSearch.centroidShift(someEmb, emptyEmb).collect()),
      "distinctSketchMerge" -> (() =>
        ext.Sketches.distinctSketchMerge(emptyDocs, "text", "source").collect()),
      // r7 additions
      "wasserstein empty-after" -> (() =>
        ops.Drift.wasserstein(someLineitem, emptyLineitem, "l_quantity").collect()),
      "wasserstein both-empty" -> (() =>
        ops.Drift.wasserstein(emptyLineitem, emptyLineitem, "l_quantity").collect()),
      "dpHistogram" -> (() => ops.Privacy.dpHistogram(emptyLineitem, "l_returnflag").collect()),
      "readability" -> (() => ext.TextStats.readability(emptyDocs, "text", "doc_id").collect()),
      "sourceCard" -> (() => ext.TextStats.sourceCard(emptyDocs, "text", "source", "lang").collect()),
      "docNovelty" -> (() => ext.Dedup.docNovelty(emptyDocs, "text", "doc_id").collect()),
      "pqTopK empty-corpus" -> (() => ext.SimSearch.pqTopK(someEmb, emptyEmb, 5).collect()),
      "coresetSample" -> (() => ext.SimSearch.coresetSample(emptyEmb, 4).collect()),
      "qualityClassifier" -> (() =>
        ml.QualityModel.qualityClassifier(emptyDocs, "text", "doc_id").collect()),
      // late-r7 additions
      "ksByGroup empty-after" -> (() =>
        ops.Drift.ksByGroup(someLineitem, emptyLineitem, "l_quantity", "l_returnflag").collect()),
      "ksByGroup both-empty" -> (() =>
        ops.Drift.ksByGroup(emptyLineitem, emptyLineitem, "l_quantity", "l_returnflag").collect()),
      "cramersV" -> (() =>
        ops.Profile.cramersV(emptyLineitem, "l_returnflag", "l_linestatus").collect()),
      "skewReport" -> (() => ops.Profile.skewReport(emptyLineitem, "l_suppkey").collect()),
      "histogram" -> (() => ops.Profile.histogram(emptyLineitem, "l_quantity").collect()),
      "topPaths" -> (() =>
        streaming.Events.topPaths(Tables.events(spark, Sf).filter(lit(false))).collect()),
      "codeDetect" -> (() => ext.TextStats.codeDetect(emptyDocs, "text", "doc_id").collect()),
      "tokenizerFertility" -> (() =>
        ext.TextStats.tokenizerFertility(emptyDocs, "text", "lang").collect()),
      "audioFeatures" -> (() =>
        ext.Multimodal.audioFeatures(
          ext.Multimodal.attachBinary(emptyDocs, "text", "doc_id")).collect()),
      "sceneCuts" -> (() =>
        ext.Multimodal.sceneCuts(
          ext.Multimodal.attachBinary(emptyDocs, "text", "doc_id")).collect()),
      // r8: the auto-groups packer (plan-stats derivation must tolerate
      // an empty scan estimate) and the capped-banding dispatch
      "packBins auto-groups" -> (() =>
        ext.Chunking.packBins(emptyDocs, "text", "doc_id", budget = 128).collect()),
      "minhashLshAuto" -> (() =>
        ext.Dedup.minhashLshAuto(emptyDocs, "text", "doc_id").collect()),
      "perplexityBuckets" -> (() =>
        ext.TextStats.perplexityBuckets(emptyDocs, "text", "doc_id").collect())
    )
    val failures = cases.flatMap { case (name, run) =>
      try { run(); None }
      catch { case e: Exception =>
        val msg = Option(e.getMessage).iterator
          .flatMap(_.linesIterator).find(_.trim.nonEmpty).getOrElse(e.toString)
        Some(s"$name: ${e.getClass.getSimpleName}: $msg")
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} operators fail on empty input:\n${failures.mkString("\n")}")
  }
}

package graft.core

import graft.SparkSpec
import graft.io.YamlConfig.PipelineConfig
import graft.ops.Privacy
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** `GraftSession.protect(config)` fits each step, then applies it as a
  * projection. These pin both suppress branches against the lazy chain
  * it replaced (broadcast-join suppress, then generalize): same rows and
  * values, and below the rare-set ceiling a plan with no join and no
  * exchange, so readers of the protected frame re-run no fit. */
class ProtectSpec extends SparkSpec {
  import spark.implicits._

  private val Threshold = 5L

  /** The protect chain before fit-then-project, step for step. */
  private def chained(anon: DataFrame, cfg: PipelineConfig): DataFrame = {
    var df = Privacy.sdcSuppressBroadcast(anon, cfg.sdcCols, cfg.sdcThreshold)
    cfg.generalizeCols.foreach(c => df = Privacy.generalizeNumeric(df, c, cfg.generalizeBins))
    Privacy.dpNoise(df, cfg.dpCols, cfg.epsilon, cfg.sensitivity, cfg.seed)
  }

  private def rowsById(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("id").collect().map(_.toSeq).toSeq

  private def parquet(df: DataFrame, name: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    df.write.mode("overwrite").parquet(s"$dir/t.parquet")
    spark.read.parquet(s"$dir/t.parquet")
  }

  test("below the ceiling: protect matches the chained form row for row, as one projection") {
    // s: a common value, a rare value and a rare NULL group; t: nothing
    // rare; x: 40 distinct prices for the generalize fit; q: noised
    val s = Seq.fill(30)("common") ++ Seq("rare") ++ Seq.fill(2)(null) ++ Seq.fill(7)("mid")
    val t = (0 until 40).map(i => if (i % 2 == 0) "even" else "odd")
    val anon = parquet((0 until 40).map(i => (i.toLong, s(i), t(i), 10.0 + i * 2.25, (i % 7).toDouble))
      .toDF("id", "s", "t", "x", "q"), "protect_small")
    val cfg = PipelineConfig(sdcCols = Seq("s", "t"), sdcThreshold = Threshold,
      generalizeCols = Seq("x"), generalizeBins = 4, dpCols = Seq("q"), epsilon = 1.0)

    val prot = new GraftSession(spark).uploadAnon(anon).protect(cfg)
    val got = rowsById(prot)
    assert(got == rowsById(chained(anon, cfg)))

    val sById = got.map(r => r(0) -> r(1)).toMap
    assert(sById(30L) == "OTHER", "a value counted below the threshold is suppressed")
    assert(sById(31L) == "OTHER" && sById(32L) == "OTHER", "a rare null group becomes OTHER")
    assert(sById(0L) == "common" && sById(33L) == "mid")
    assert(got.map(_(3)).distinct.size == 4, "four quantile bins")

    val p = physicalPlan(prot)
    assert(p.collect { case j: BaseJoinExec => j }.isEmpty, s"join in protect's plan:\n$p")
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"shuffle in protect's plan:\n$p")
    assert(p.collect { case e: BroadcastExchangeExec => e }.isEmpty, s"broadcast in protect's plan:\n$p")
  }

  test("above the ceiling: the column keeps the broadcast join and the same rows") {
    val n = Privacy.SuppressFitMaxValues + 10
    // n singleton strings (all rare), one common value and a rare null group
    val anon = parquet(spark.range(n + 22).select(col("id"),
      when(col("id") < n, concat(lit("v"), col("id").cast("string")))
        .when(col("id") < n + 20, lit("common")).as("s")),
      "protect_wide")
    val cfg = PipelineConfig(sdcCols = Seq("s"), sdcThreshold = Threshold)

    val prot = new GraftSession(spark).uploadAnon(anon).protect(cfg)
    assert(physicalPlan(prot).collect { case e: BroadcastExchangeExec => e }.nonEmpty,
      s"expected the broadcast-join branch:\n${physicalPlan(prot)}")
    val got = rowsById(prot)
    assert(got == rowsById(chained(anon, cfg)))
    assert(got.count(_(1) == "OTHER") == n + 2 && got.count(_(1) == "common") == 20)
  }
}

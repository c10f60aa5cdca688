package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScanStatsSpec extends SparkSpec {
  import spark.implicits._

  test("parquetScanRowCount: exact for scans and pruning projections, None otherwise") {
    val li = graft.Tables.lineitem(spark, Sf)
    val expected = li.count()
    assert(ScanStats.parquetScanRowCount(li).contains(expected))
    // column pruning / renaming is row-preserving → still answerable
    assert(ScanStats.parquetScanRowCount(
      li.select(col("l_quantity").as("q"))).contains(expected))
    // any row-changing operator must refuse (filter, aggregate, limit)
    assert(ScanStats.parquetScanRowCount(li.filter(col("l_quantity") > 10)).isEmpty)
    assert(ScanStats.parquetScanRowCount(li.groupBy("l_returnflag").count()).isEmpty)
    assert(ScanStats.parquetScanRowCount(li.limit(5)).isEmpty)
    // non-file sources must refuse
    assert(ScanStats.parquetScanRowCount(
      Seq((1, "a"), (2, "b")).toDF("id", "s")).isEmpty)
    // multi-file scans sum footers across files
    val dir = java.nio.file.Files.createTempDirectory("scanstats").toString
    spark.range(1000).repartition(4).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(ScanStats.parquetScanRowCount(
      spark.read.parquet(s"$dir/t.parquet")).contains(1000L))
  }

  test("footer readers answer None above the shared file ceiling") {
    // one tiny single-row file, copied into a directory of MaxFiles + 1
    val src = java.nio.file.Files.createTempDirectory("scanstats_one").toString
    spark.range(1).coalesce(1).write.mode("overwrite").parquet(s"$src/t.parquet")
    val part = new java.io.File(s"$src/t.parquet").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get.toPath
    val dir = java.nio.file.Files.createTempDirectory("scanstats_many")
    (0 to DictStats.MaxFiles).foreach { i =>
      java.nio.file.Files.copy(part, dir.resolve(f"part-$i%05d.parquet"))
    }
    def read() = spark.read.parquet(dir.toString)
    val wide = read()
    assert(wide.inputFiles.length == DictStats.MaxFiles + 1)
    assert(ScanStats.parquetScanLayout(wide).isEmpty)
    assert(ScanStats.parquetScanRowCount(wide).isEmpty)
    assert(ScanStats.parquetScanRowUpperBound(wide.filter(col("id") >= 0)).isEmpty)
    assert(ScanStats.parquetIntegerRanges(wide, Seq("id")).isEmpty)
    // callers' fallback still answers
    assert(ScanStats.exactRowCount(wide) == DictStats.MaxFiles + 1L)

    // at the ceiling the footers answer
    java.nio.file.Files.delete(dir.resolve(f"part-${DictStats.MaxFiles}%05d.parquet"))
    val atCeiling = read()
    val n = DictStats.MaxFiles.toLong
    assert(ScanStats.parquetScanLayout(atCeiling).contains((n, DictStats.MaxFiles)))
    assert(ScanStats.parquetScanRowUpperBound(atCeiling.filter(col("id") >= 0)).contains(n))
    assert(ScanStats.parquetIntegerRanges(atCeiling, Seq("id")).contains(Map("id" -> (0L, 0L, 0L))))
  }

  test("row counts read through computed and non-deterministic Projects, never row-changing plans") {
    val dir = java.nio.file.Files.createTempDirectory("scanstats_proj").toString
    (0 until 500).map(i => (i.toDouble, s"k${i % 7}")).toDF("x", "s")
      .write.parquet(s"$dir/t.parquet")
    val scan = spark.read.parquet(s"$dir/t.parquet")
    // V3's seeded Laplace noise is a Project holding rand(): one row per row
    val noised = graft.ops.Privacy.dpNoise(scan, Seq("x"), epsilon = 1.0, seed = 7L)
    val (n, jobs) = jobsDuring(ScanStats.exactRowCount(noised))
    assert(n == 500L && jobs == 0, s"exactRowCount ran $jobs jobs")
    assert(ScanStats.parquetScanRowCount(noised.withColumn("y", col("x") * 2)).contains(500L))
    // row-changing plans over the same scan still count with a job
    Seq(scan.filter(col("x") > 10), scan.sample(0.5, 3L),
      scan.join(scan.select(col("s").as("s2")), col("s") === col("s2")),
      scan.select(explode(array(col("x"), col("x"))).as("e"))).foreach { df =>
      assert(ScanStats.parquetScanRowCount(df).isEmpty, df.queryExecution.optimizedPlan.toString)
      assert(ScanStats.exactRowCount(df) == df.count())
    }
  }
}

package graft.ops

import graft.SparkSpec
import graft.io.DriverParquet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Both branches of the one column collector, [[Exact.collectColumns]]:
  * the fused Spark job (an in-memory frame) and the driver parquet decode
  * (the same rows as a pure parquet scan) must return the same value. */
class CollectColumnsSpec extends SparkSpec {
  import spark.implicits._

  private val Bad1 = Array(0xC3.toByte, 0x28.toByte)
  private val Bad2 = Array(0xC4.toByte, 0x28.toByte)
  private val Lenient = new String(Bad1, java.nio.charset.StandardCharsets.UTF_8)

  /** 60 rows: `x` double with NaN, ±Inf, -0.0, 0.0 and nulls; `n` int
    * with nulls; `s` valid strings with a null group; `b` two
    * byte-distinct invalid UTF-8 keys (which decode leniently to the same
    * String), valid keys and a null group. Spread over three partitions. */
  private lazy val mem: DataFrame = (0 until 60).map { i =>
    val x: Option[Double] = i % 10 match {
      case 0 => Some(Double.NaN)
      case 1 => Some(Double.PositiveInfinity)
      case 2 => Some(Double.NegativeInfinity)
      case 3 => Some(-0.0)
      case 4 => Some(0.0)
      case 5 => None
      case _ => Some(i / 7.0)
    }
    val n = if (i % 6 == 0) None else Some(i % 13)
    val s = if (i % 4 == 0) None else Some(s"v${i % 5}")
    val b = i % 5 match {
      case 0 => Some(Bad1)
      case 1 => Some(Bad2)
      case 2 => None
      case _ => Some(s"k${i % 3}".getBytes("UTF-8"))
    }
    (x, n, s, b)
  }.toDF("x", "n", "s", "braw").repartition(3)
    .select(col("x"), col("n"), col("s"), col("braw").cast("string").as("b"))

  private lazy val scan: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("collect_cols").toString + "/t.parquet"
    mem.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def sortedBits(a: Array[Double]): Seq[Long] =
    a.sorted.toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("collectColumns: the Spark form and the driver decode agree, both keepNonFinite values") {
    assert(scan.select(col("b")).distinct().count() == 6L, "invalid keys must stay byte-distinct")
    for (keep <- Seq(false, true)) {
      val got = Exact.collectColumns(mem, Seq("x", "n"), Seq("s", "b"), keepNonFinite = keep)
      val decoded = DriverParquet.collectColumns(scan, Seq("x", "n"), Seq("s"), keepNonFinite = keep)
      assert(decoded.isDefined, "valid columns of a pure scan decode on the driver")
      val (rows, nums, cats) = decoded.get
      assert(got.rows == 60L && rows == 60L)
      for (c <- Seq("x", "n")) {
        assert(sortedBits(got.values(c)) == sortedBits(nums(c)._1), s"$c, keep=$keep")
        assert(got.nums(c)._2 == nums(c)._2, s"$c drop count, keep=$keep")
      }
      assert(got.cats("s") == cats("s"))
      assert(got.invalidUtf8 == Set("b"))

      // the contract itself: 6 nulls in x; 18 non-finite values dropped
      // and counted, or kept with -0.0 folded into 0.0
      val x = got.values("x")
      if (keep) {
        assert(x.length == 54 && got.nums("x")._2 == 0L)
        assert(x.count(_.isNaN) == 6 && x.count(_.isInfinite) == 12)
        assert(!x.exists(v => java.lang.Double.doubleToRawLongBits(v) == Long.MinValue))
      } else {
        assert(x.length == 36 && got.nums("x")._2 == 18L)
        assert(x.count(v => java.lang.Double.doubleToRawLongBits(v) == Long.MinValue) == 6)
      }
      assert(got.values("n").length == 50)
      assert(got.cats("s")(null) == 15L)
      for ((c, hist) <- got.cats.toSeq ++ cats.toSeq)
        assert(hist.values.sum == 60L, s"histogram of $c sums to the row count")
    }
  }

  test("collectColumns: a key that is not valid UTF-8 refuses the decode and is reported") {
    assert(DriverParquet.collectColumns(scan, Nil, Seq("b")).isEmpty)
    val fromScan = Exact.collectColumns(scan, Nil, Seq("b"))
    val fromMem = Exact.collectColumns(mem, Nil, Seq("b"))
    for (got <- Seq(fromScan, fromMem)) {
      assert(got.invalidUtf8 == Set("b"))
      // merged by bytes (12 + 12), summed under the one lenient decode
      assert(got.cats("b") == Map[String, Long](Lenient -> 24L, (null, 12L),
        "k0" -> 8L, "k1" -> 8L, "k2" -> 8L))
      assert(got.rows == 60L)
    }
  }
}

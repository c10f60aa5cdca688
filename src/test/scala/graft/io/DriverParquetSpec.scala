package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DriverParquetSpec extends SparkSpec {
  import spark.implicits._

  test("collectColumns: matches Spark-computed ground truth across types, nulls, NaN/Inf") {
    val path = java.nio.file.Files.createTempDirectory("dp_types").toString + "/t.parquet"
    spark.range(5000).select(
      when(col("id") % 7 =!= 0, (col("id") % 13).cast("int")).as("i"),
      (col("id") * 3).cast("long").as("l"),
      when(col("id") % 11 === 0, lit(Float.NaN))
        .otherwise((col("id") % 5).cast("float") / 2.0f).as("f"),
      when(col("id") % 17 === 0, lit(Double.PositiveInfinity))
        .when(col("id") % 19 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") / 3.0).as("d"),
      when(col("id") % 3 === 0, lit(null).cast("string"))
        .when(col("id") % 3 === 1, lit("héllo"))
        .otherwise(concat(lit("v"), (col("id") % 4).cast("string"))).as("s")
    ).repartition(3).write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)

    val got = DriverParquet.collectColumns(df, Seq("i", "l", "f", "d"), Seq("s"))
    assert(got.isDefined, "pure parquet scan with supported types must be eligible")
    val (rows, nums, cats) = got.get
    assert(rows == 5000L)
    // ground truth: finite values via Spark, sorted both sides
    for (c <- Seq("i", "l", "f", "d")) {
      // isNotNull, NOT na.drop: na.drop treats NaN as missing for doubles,
      // but NaN here is a COUNTED drop, not an absent value
      val all = df.select(col(c).cast("double").as("v"))
        .filter(col("v").isNotNull).as[Double].collect()
      val want = all.filterNot(v => v.isNaN || v.isInfinite).sorted
      val (arr, dropped) = nums(c)
      assert(arr.sorted.toSeq == want.toSeq, s"numeric column $c")
      assert(dropped == all.count(v => v.isNaN || v.isInfinite),
        s"non-finite drop count for $c")
    }
    // keep-non-finite mode: NaN/Inf are sample points, -0.0 normalizes
    val raw = graft.ops.Exact.collectColumns(df, Seq("f", "d"), keepNonFinite = true)
    for (c <- Seq("f", "d")) {
      val want = df.select(col(c).cast("double").as("v"))
        .filter(col("v").isNotNull).as[Double]
        .collect().map(v => if (v == 0.0) 0.0 else v).sorted
      // Arrays.equals, not Seq ==: primitive Seq equality unboxes to
      // NaN != NaN; bit-level comparison is the intended semantics here
      assert(java.util.Arrays.equals(raw.values(c).sorted, want), s"raw column $c")
    }
    val wantHist = df.groupBy("s").count().collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1)).toMap
    assert(cats("s") == wantHist)
  }

  test("collectColumns: refuses filters, decimals, non-parquet, and type mismatches") {
    val li = graft.Tables.lineitem(spark, Sf)
    assert(DriverParquet.collectColumns(
      li.filter(col("l_quantity") > 10), Seq("l_quantity"), Nil).isEmpty)
    assert(DriverParquet.collectColumns(
      Seq(1.0, 2.0).toDF("v"), Seq("v"), Nil).isEmpty)
    // decimal column: cast arithmetic, not a raw decode
    val path = java.nio.file.Files.createTempDirectory("dp_dec").toString + "/t.parquet"
    spark.range(10).select(col("id").cast("decimal(10,2)").as("m"))
      .write.mode("overwrite").parquet(path)
    assert(DriverParquet.collectColumns(
      spark.read.parquet(path), Seq("m"), Nil).isEmpty)
    // string column asked as numeric / numeric asked as cat
    assert(DriverParquet.collectColumns(li, Seq("l_returnflag"), Nil).isEmpty)
    assert(DriverParquet.collectColumns(li, Nil, Seq("l_quantity")).isEmpty)
  }

  test("timestamps: refused by default, raw epoch only under rawInt64Timestamps opt-in") {
    val path = java.nio.file.Files.createTempDirectory("dp_ts").toString + "/t.parquet"
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      spark.range(100).select(timestamp_micros(col("id") * 1000000L).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(path)
    } finally prev.fold(spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    val df = spark.read.parquet(path)
    assert(df.schema("ts").dataType.typeName.startsWith("timestamp"))
    // default OFF (r16 ADVICE): the fit/drift collector's contract is
    // cast-to-seconds doubles; a raw-micros image would be ~1e6× off, so
    // the decode must REFUSE and the collector fall back to Spark, in
    // both keepNonFinite modes
    assert(DriverParquet.collectColumns(df, Seq("ts"), Nil).isEmpty)
    assert(DriverParquet.collectColumns(df, Seq("ts"), Nil, keepNonFinite = true).isEmpty)
    for (keep <- Seq(false, true)) {
      val secs = graft.ops.Exact.collectColumns(df, Seq("ts"), keepNonFinite = keep).values("ts")
      assert(secs.sorted.toSeq == (0 until 100).map(_.toDouble))
    }
    // opted in (distinctCounts): the raw INT64 epoch image, file unit
    val got = DriverParquet.collectColumns(df, Seq("ts"), Nil,
      keepNonFinite = true, rawInt64Timestamps = true)
    assert(got.isDefined)
    val arr = got.get._2("ts")._1.sorted
    assert(arr.toSeq == (0 until 100).map(_ * 1e6))
  }

  test("timestamps: mixed per-file units refuse even the opt-in path") {
    val dir = java.nio.file.Files.createTempDirectory("dp_tsmix").toString + "/t.parquet"
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    try {
      // same INSTANTS, two writer units — raw decode would see different
      // longs per file (overcount) and could collide across instants
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      spark.range(50).select(timestamp_micros(col("id") * 1000000L).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      spark.range(50).select(timestamp_micros(col("id") * 1000000L).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir)
    } finally prev.fold(spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
      spark.conf.set("spark.sql.parquet.outputTimestampType", _))
    val df = spark.read.parquet(dir)
    assert(DriverParquet.collectColumns(df, Seq("ts"), Nil,
      keepNonFinite = true, rawInt64Timestamps = true).isEmpty)
  }

  test("strings: invalid UTF-8 bytes refuse the fast path (Spark keeps them distinct)") {
    // two DISTINCT invalid byte sequences that lenient decoding merges
    // into the same replacement-char string — written via parquet-mr
    // directly (Spark cannot produce invalid UTF-8 through its API)
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("dp_badutf8").toString
    val file = new org.apache.hadoop.fs.Path(dir + "/t.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { optional binary s (UTF8); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(file).withConf(conf).build()
    try Seq(Array(0xC3.toByte), Array(0xFF.toByte), "ok".getBytes("UTF-8")).foreach { bs =>
      val g = new SimpleGroup(schema)
      g.add("s", org.apache.parquet.io.api.Binary.fromConstantByteArray(bs))
      writer.write(g)
    } finally writer.close()
    val df = spark.read.parquet(dir)
    // Spark sees 3 distinct values (UTF8String compares bytes); a lenient
    // driver decode would see 2 — the fast path must refuse instead
    assert(df.select(col("s")).distinct().count() == 3L)
    assert(DriverParquet.collectColumns(df, Nil, Seq("s")).isEmpty)
  }

  test("syntheticSample: identical seeded output whichever fit collector runs") {
    val li = graft.Tables.lineitem(spark, Sf)
    val cols = Seq("l_quantity", "l_extendedprice", "l_returnflag")
    // pure scan → DriverParquet decode; a non-foldable always-true filter
    // → same rows through the Spark collect path. The fit state must be
    // bit-identical, so the seeded synthesis must be too.
    val direct = graft.ops.Privacy.syntheticSample(li, cols, seed = 7L).collect().toSeq
    val viaSpark = graft.ops.Privacy.syntheticSample(
      li.filter(rand(7) >= 0), cols, seed = 7L).collect().toSeq
    assert(direct == viaSpark)
    assert(direct.nonEmpty)
  }
}

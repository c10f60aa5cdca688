package graft.io

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ColumnDescriptor
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Driver-side COLUMNAR collect for small pure parquet scans — the fast
  * path of [[graft.ops.Exact.collectColumns]], the one column collector.
  *
  * A driver-side fit (V2 edges, V4 synthesis, the fused protect fit, the
  * a1 profile, winsorize, robust-scale, the d3 drift tails) needs every
  * value of a few columns ON THE DRIVER. Routing that through a Spark job
  * costs plan construction + scheduling + one task per SPLIT, and split
  * assignment is row-group-granular — a 1-row-group fixture runs the whole
  * decode on one core however many are free (the r13 v4 floor decomposition).
  * But the driver is already the destination: reading the column chunks
  * directly with parquet-mr's ColumnReader gives (files × columns)-way
  * parallelism BELOW row-group granularity — column chunks are independent
  * byte ranges — with zero scheduler latency.
  *
  * Scale posture: see [[graft.ops.Exact.collectColumns]] — every caller
  * gates the collector behind its own driver-fit ceiling, so this path
  * only ever sees inputs that were ALREADY being collected whole to the
  * driver. Strictly-typed pairings only (Spark type × parquet physical
  * type); any mismatch, nested schema, decimal, filter, non-parquet
  * source or key that is not valid UTF-8 returns None and the collector
  * runs its Spark form — a pure fast path, never a new semantics.
  */
object DriverParquet {

  /** Raw doubles per numeric column (nulls dropped; NaN/±Inf dropped AND
    * counted, or kept with -0.0 normalized to 0.0 under `keepNonFinite` —
    * the [[graft.ops.Exact.collectColumns]] contract; UNsorted), category
    * histogram per category column (SQL NULL under the null key), and the
    * exact row count. None = not eligible; use the Spark form.
    *
    * Category columns are strings, booleans, dates and timestamps, keyed
    * as the Spark form keys them: by the value's string cast. A
    * non-string column counts its raw decoded values and casts only its
    * distinct values, with Spark's own `Cast` in the session time zone.
    * Timestamps must be INT64 MICROS with the UTC adjustment the Spark
    * type implies. A date or a zoned timestamp must also be read without
    * calendar rebasing: the file was written by Spark 3.0+ in the
    * proleptic calendar, or names no writer and the session's parquet
    * rebase mode is CORRECTED (Spark's own rule for picking the rebase).
    *
    * `rawInt64Timestamps` (r16 ADVICE): timestamp columns decode as their
    * RAW INT64 epoch value in the FILE's unit (e.g. micros) — NOT the
    * seconds-since-epoch double the Spark `cast('double')` fallback
    * produces — so they are only eligible when the caller explicitly opts
    * in because it needs nothing beyond a value-injective image
    * (Profile.distinctCounts). Default OFF: the column collector behind
    * every fit and drift tail refuses timestamps here and keeps its
    * cast-to-seconds Spark form, preserving the driver/plan bit-parity
    * contract. */
  def collectColumns(df: DataFrame, numCols: Seq[String], catCols: Seq[String],
                     keepNonFinite: Boolean = false,
                     rawInt64Timestamps: Boolean = false)
      : Option[(Long, Map[String, (Array[Double], Long)], Map[String, Map[String, Long]])] = {
    val r = collectColumnsImpl(df, numCols, catCols, keepNonFinite, rawInt64Timestamps)
    (if (r.isDefined) FastPath.driverParquetHits else FastPath.driverParquetMisses)
      .incrementAndGet()
    r
  }

  private def collectColumnsImpl(df: DataFrame, numCols: Seq[String], catCols: Seq[String],
                                 keepNonFinite: Boolean, rawInt64Timestamps: Boolean)
      : Option[(Long, Map[String, (Array[Double], Long)], Map[String, Map[String, Long]])] = {
    try {
      val files = ScanStats.pureParquetInputFiles(df).getOrElse(return None)
      if (files.isEmpty) {
        // zero-file relation: zero rows, empty fits — trivially exact
        return Some((0L,
          numCols.map(_ -> (Array.empty[Double], 0L)).toMap,
          catCols.map(_ -> Map.empty[String, Long]).toMap))
      }
      val schema = df.schema
      def sparkType(c: String): DataType = schema(c).dataType
      if (!catCols.forall(c => sparkType(c) match {
        case StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
        case _ => false
      })) return None
      if (!numCols.forall(c => sparkType(c) match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
        // timestamps decode as their raw INT64 epoch value (the FILE's
        // unit, not seconds) — opt-in only (see collectColumns doc):
        // callers that use them (distinctCounts) need only a
        // value-injective image, and prove |v| < 2⁵³ from the footer
        // range first
        case TimestampType | TimestampNTZType => rawInt64Timestamps
        case _ => false // DecimalType etc: cast arithmetic isn't a raw decode
      })) return None

      val conf = df.sparkSession.sessionState.newHadoopConf()
      val sqlConf = df.sparkSession.sessionState.conf
      val corrected = sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString == "CORRECTED"
      // Validation pass: one footer per file — physical-type pairing and
      // flatness per column, exact row count. Refuse the whole call on
      // any surprise; eligibility must hold for every file.
      // Timestamp columns additionally require ONE logical unit across
      // every file (r16 ADVICE): parquet allows per-file TIMESTAMP(MILLIS)
      // vs TIMESTAMP(MICROS) under writer-config drift, and the same
      // instant then decodes to different raw longs per file — the
      // value-injective-image claim the opt-in rests on would fail.
      var rowsTotal = 0L
      val tsUnit = scala.collection.mutable.Map.empty[String, String]
      files.foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try {
          rowsTotal += reader.getRecordCount
          val msg = reader.getFileMetaData.getSchema
          val kv = reader.getFileMetaData.getKeyValueMetaData
          val proleptic = Option(kv.get("org.apache.spark.version")) match {
            case Some(v) => v >= "3.0.0" && kv.get("org.apache.spark.legacyDateTime") == null
            case None    => corrected
          }
          (numCols ++ catCols).foreach { c =>
            if (!msg.containsField(c)) return None // schema-evolved file: all-null column — Spark path knows, this doesn't
            val t = msg.getType(Array(c): _*)
            if (!t.isPrimitive) return None
            val desc = msg.getColumns.asScala.find(d =>
              d.getPath.length == 1 && d.getPath()(0) == c).getOrElse(return None)
            if (desc.getMaxRepetitionLevel != 0 || desc.getMaxDefinitionLevel > 1) return None
            val ok = (sparkType(c), desc.getPrimitiveType.getPrimitiveTypeName) match {
              case (ByteType | ShortType | IntegerType, PrimitiveTypeName.INT32) => true
              case (LongType, PrimitiveTypeName.INT64)                           => true
              case (TimestampType | TimestampNTZType, PrimitiveTypeName.INT64)   =>
                rawInt64Timestamps || catCols.contains(c)
              case (DateType, PrimitiveTypeName.INT32)                           => true
              case (BooleanType, PrimitiveTypeName.BOOLEAN)                      => true
              case (FloatType, PrimitiveTypeName.FLOAT)                          => true
              case (DoubleType, PrimitiveTypeName.DOUBLE)                        => true
              case (StringType, PrimitiveTypeName.BINARY)                        => true
              case _                                                             => false
            }
            if (!ok) return None
            val ann = desc.getPrimitiveType.getLogicalTypeAnnotation
            sparkType(c) match {
              case TimestampType | TimestampNTZType if numCols.contains(c) =>
                // annotation carries unit + UTC adjustment; it must exist
                // and be byte-identical across files
                if (ann == null) return None
                val key = ann.toString
                tsUnit.get(c) match {
                  case Some(prev) if prev != key => return None
                  case None                      => tsUnit(c) = key
                  case _                         => ()
                }
              case DateType =>
                if (!proleptic || !ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation])
                  return None
              case st @ (TimestampType | TimestampNTZType) => ann match {
                case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                    if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
                      ts.isAdjustedToUTC == (st == TimestampType) &&
                      (proleptic || st == TimestampNTZType) => ()
                case _ => return None
              }
              case _ => ()
            }
          }
        } finally reader.close()
      }

      // Decode pass: one unit per (file × column), parallel. Each unit
      // re-opens its file (footer parse is ~ms and page-cache warm) and
      // walks only its own column's chunks.
      val units = for (f <- files; (c, isNum) <- numCols.map(_ -> true) ++ catCols.map(_ -> false))
        yield (f, c, isNum)
      val decoded: Seq[(String, Either[(Array[Double], Long), java.util.HashMap[AnyRef, Array[Long]]])] =
        units.par.map { case (f, c, isNum) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
          try {
            val msg = reader.getFileMetaData.getSchema
            val createdBy = reader.getFileMetaData.getCreatedBy
            val desc = msg.getColumns.asScala.find(_.getPath()(0) == c).get
            val projected = new org.apache.parquet.schema.MessageType("graft_projection",
              java.util.List.of[org.apache.parquet.schema.Type](msg.getType(Array(c): _*)))
            reader.setRequestedSchema(projected)
            val nums = if (isNum) new scala.collection.mutable.ArrayBuilder.ofDouble else null
            var droppedNonFinite = 0L
            // string keys are their Binary; other types' keys are the
            // boxed raw value, cast to a string after the merge
            val cats = if (isNum) null else new java.util.HashMap[AnyRef, Array[Long]]()
            var gi = 0
            val nGroups = reader.getRowGroups.size()
            while (gi < nGroups) {
              val store = reader.readRowGroup(gi)
              val crs = new ColumnReadStoreImpl(store, DummyRoot, projected, createdBy)
              val cr = crs.getColumnReader(desc)
              val total = cr.getTotalValueCount
              val maxDef = desc.getMaxDefinitionLevel
              val tpe = desc.getPrimitiveType.getPrimitiveTypeName
              var i = 0L
              while (i < total) {
                if (cr.getCurrentDefinitionLevel == maxDef) {
                  if (isNum) {
                    val v = tpe match {
                      case PrimitiveTypeName.INT32  => cr.getInteger.toDouble
                      case PrimitiveTypeName.INT64  => cr.getLong.toDouble
                      case PrimitiveTypeName.FLOAT  => cr.getFloat.toDouble
                      case _                        => cr.getDouble
                    }
                    if (keepNonFinite) nums += (if (v == 0.0) 0.0 else v)
                    else if (!v.isNaN && !v.isInfinite) nums += v
                    else droppedNonFinite += 1L
                  } else if (tpe == PrimitiveTypeName.BINARY) {
                    // probe with the (possibly page-buffer-backed) Binary;
                    // copy only on first insert — the vocabulary pays the
                    // allocation, not every row
                    val b = cr.getBinary
                    val cnt = cats.get(b)
                    if (cnt != null) cnt(0) += 1L
                    else cats.put(b.copy(), Array(1L))
                  } else {
                    val v: AnyRef = tpe match {
                      case PrimitiveTypeName.BOOLEAN => java.lang.Boolean.valueOf(cr.getBoolean)
                      case PrimitiveTypeName.INT32   => java.lang.Integer.valueOf(cr.getInteger)
                      case _                         => java.lang.Long.valueOf(cr.getLong)
                    }
                    val cnt = cats.get(v)
                    if (cnt != null) cnt(0) += 1L else cats.put(v, Array(1L))
                  }
                } else if (!isNum) {
                  val cnt = cats.get(null)
                  if (cnt != null) cnt(0) += 1L else cats.put(null, Array(1L))
                }
                cr.consume()
                i += 1L
              }
              gi += 1
            }
            c -> (if (isNum) Left((nums.result(), droppedNonFinite)) else Right(cats))
          } finally reader.close()
        }.toList

      val numArrs: Map[String, (Array[Double], Long)] = numCols.map { c =>
        val slices = decoded.collect { case (`c`, Left(a)) => a }
        val arr = if (slices.length == 1) slices.head._1
          else Array.concat(slices.map(_._1): _*)
        c -> (arr, slices.map(_._2).sum)
      }.toMap
      // STRICT UTF-8 decode (r16 ADVICE, see [[strictUtf8]]): a key that
      // is not valid UTF-8 refuses the whole call and the collector runs
      // its Spark form, which merges keys by bytes — the fast path refuses
      // rather than miscounts.
      val tz = Some(sqlConf.sessionLocalTimeZone)
      val catMaps: Map[String, Map[String, Long]] = catCols.map { c =>
        val merged = scala.collection.mutable.HashMap.empty[String, Long]
        decoded.collect { case (`c`, Right(m)) => m }.foreach(_.forEach { (k, v) =>
          val key = k match {
            case null      => null
            case b: Binary => strictUtf8(b.getBytes).getOrElse(return None)
            case raw       => Cast(Literal(raw, sparkType(c)), StringType, tz).eval().toString
          }
          merged.update(key, merged.getOrElse(key, 0L) + v(0))
        })
        c -> merged.toMap
      }.toMap
      Some((rowsTotal, numArrs, catMaps))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `bytes` decoded as UTF-8, or None when they are not valid UTF-8.
    * The lenient `new String(bytes, UTF_8)` maps every malformed
    * sequence to U+FFFD, so two byte-distinct keys could merge into one
    * string key, while Spark's grouping compares UTF8String bytes and
    * keeps them apart. */
  private[graft] def strictUtf8(bytes: Array[Byte]): Option[String] =
    try Some(java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      .decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }

  /** Inert converter tree for ColumnReadStoreImpl — values are pulled via
    * the typed getters, never pushed through converters. */
  private object DummyPrim extends PrimitiveConverter
  private object DummyRoot extends GroupConverter {
    override def getConverter(fieldIndex: Int): Converter = DummyPrim
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}

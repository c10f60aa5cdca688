package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ColumnDescriptor
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame

/** Driver-side DISTINCT-COUNT threshold proofs from parquet DICTIONARY
  * metadata — no Spark job, no data-page IO.
  *
  * A dictionary page holds exactly the distinct values its column chunk
  * ENCOUNTERED (writers add an entry on first occurrence — parquet-mr
  * `DictionaryValuesWriter`, arrow's `DictEncoder` likewise), so two
  * proofs fall out of the footer + dictionary headers alone:
  *
  *  - LOWER BOUND: every dictionary entry occurred in the data, even in
  *    a chunk that later FELL BACK to plain pages (the fallback point is
  *    the 1 MiB dictionary-page ceiling — by then the dictionary already
  *    carries ~10⁵ 8-byte entries). `entries > T` proves
  *    `count(DISTINCT col) > T` outright.
  *  - EXACTNESS: when the chunk's `EncodingStats` shows NO non-dictionary
  *    data page, the chunk's distinct value set IS the dictionary. If
  *    every chunk of the column is exact, the column's distinct set is
  *    the union of its dictionaries — decodable driver-side with
  *    saturation at T+1 values.
  *
  * This is the metadata a threshold dispatch (e.g. the V5 suggestion
  * heuristic's `nunique > 50 / > 20`) actually needs: the answer to ONE
  * comparison, not a cardinality. Columns the metadata cannot settle are
  * simply absent from the result and the caller keeps its scan-side
  * fallback, so this is a pure fast path — a wrong answer is impossible,
  * only a missing one. At 100 TB the same trick holds per-file (footers
  * are O(files) driver IO); callers should bound file counts the same
  * way other footer readers here do ([[ScanStats]]'s contract).
  */
object DictStats {

  private val GetDictReader =
    classOf[ParquetFileReader].getMethod("getDictionaryReader",
      classOf[org.apache.parquet.hadoop.metadata.BlockMetaData])
  private val ReadDictPage =
    classOf[org.apache.parquet.column.page.DictionaryPageReadStore]
      .getMethod("readDictionaryPage", classOf[ColumnDescriptor])

  /** Max files this will read footers for before declaring the input
    * metadata-unprovable — footer IO is per-file driver work, and a
    * genuinely huge table should take its scan-side path rather than
    * serialize a million footer reads on the driver. The footer readers
    * in [[ScanStats]] share this ceiling. */
  private[io] val MaxFiles = 256

  /** For each asked `column -> T`, a PROVEN answer to
    * `count(DISTINCT column) > T` (SQL semantics: nulls excluded, NaNs
    * collapse to one value, -0.0 = 0.0). Missing key = not provable from
    * metadata. Empty unless `df` is a pure column-pruning parquet scan
    * (no Filter/Join/Aggregate — row-level pruning would invalidate the
    * occurrence argument). */
  def distinctExceeds(df: DataFrame, asks: Map[String, Long]): Map[String, Boolean] = {
    if (asks.isEmpty) return Map.empty
    FastPath.dictAsks.addAndGet(asks.size.toLong)
    val answers = ScanStats.pureParquetInputFiles(df) match {
      case Some(files) if files.nonEmpty && files.length <= MaxFiles =>
        val conf = df.sparkSession.sessionState.newHadoopConf()
        try answerFromFooters(files, conf, asks)
        catch { case _: Exception => Map.empty[String, Boolean] } // unreadable metadata → fallback
      case _ => Map.empty[String, Boolean]
    }
    FastPath.dictAnswered.addAndGet(answers.size.toLong)
    answers
  }

  /** Per-column accumulation across every (file × row-group) chunk. */
  private final class Acc(val threshold: Long) {
    var observed = false       // column appeared in at least one file footer —
                               // a PARTITION column never does (its values live
                               // in directory names, not pages), so an
                               // unobserved column must get NO answer: its
                               // vacuous allExact would otherwise prove
                               // "distinct ≤ T" for arbitrary cardinality
    var provenExceeds = false  // some chunk's dictionary alone passed T
    var allExact = true        // every value-bearing chunk was fully dict-encoded
    val union = new java.util.HashSet[Any]() // saturates at threshold+1
  }

  private[io] def answerFromFooters(files: Seq[String], conf: org.apache.hadoop.conf.Configuration,
                                asks: Map[String, Long]): Map[String, Boolean] = {
    val accs: Map[String, Acc] = asks.map { case (c, t) => c -> new Acc(t) }
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val msgType = reader.getFileMetaData.getSchema
        // top-level primitive columns only; nested paths never carry the
        // flat table columns this answers for
        val descByName: Map[String, ColumnDescriptor] =
          msgType.getColumns.asScala.filter(_.getPath.length == 1)
            .map(d => d.getPath()(0) -> d).toMap
        accs.foreach { case (name, a) =>
          if (descByName.contains(name)) a.observed = true
        }
        reader.getRowGroups.asScala.foreach { block =>
          val wanted = block.getColumns.asScala.filter { c =>
            c.getPath.size() == 1 && accs.get(c.getPath.toDotString).exists { a =>
              // proven-true columns need no more IO; all-null chunks (when
              // the stats say so) contribute no distinct values either way
              val allNull = Option(c.getStatistics).exists(s =>
                s.isNumNullsSet && s.getNumNulls >= c.getValueCount)
              !a.provenExceeds && c.getValueCount > 0 && !allNull
            }
          }
          if (wanted.nonEmpty) {
            // getDictionaryReader's declared return type is parquet-mr's
            // package-private DictionaryPageReader (Java callers see it
            // through the public DictionaryPageReadStore interface; scalac
            // refuses to emit the direct reference) — reach it reflectively
            // through the public signatures on both sides.
            val dictStore = GetDictReader.invoke(reader, block)
            wanted.foreach { c =>
              val name = c.getPath.toDotString
              val a = accs(name)
              val es = c.getEncodingStats
              val chunkExact = es != null && !es.hasNonDictionaryEncodedPages
              if (!chunkExact) a.allExact = false
              if (c.hasDictionaryPage) {
                val page = ReadDictPage.invoke(dictStore, descByName(name))
                  .asInstanceOf[org.apache.parquet.column.page.DictionaryPage]
                if (page != null) {
                  // Union the DECODED, normalized entries — never the raw
                  // entry count: a float/double dictionary may hold
                  // duplicate NaN payload entries (writer dedup is
                  // primitive ==, and NaN != NaN), so size alone could
                  // overstate the SQL-distinct count and flip a threshold.
                  // Entry values all occurred in the data, so the union is
                  // a sound lower bound even for fallen-back chunks; the
                  // break at T+1 keeps the set (not the init decode, which
                  // is a bounded ≤1 MiB buffer) saturated.
                  val dict = page.getEncoding.initDictionary(descByName(name), page)
                  var i = 0
                  val n = page.getDictionarySize
                  while (i < n && !a.provenExceeds) {
                    a.union.add(normalized(dict, c, i))
                    if (a.union.size > a.threshold) a.provenExceeds = true
                    i += 1
                  }
                } else a.allExact = false // metadata claimed a dict page it can't serve
              } else a.allExact = false   // plain-from-the-start chunk: no occurrence info
            }
          }
        }
      } finally reader.close()
    }
    accs.flatMap { case (name, a) =>
      if (a.provenExceeds) Some(name -> true)
      else if (a.observed && a.allExact) Some(name -> false) // exact saturated union stayed ≤ T
      else None // never in any footer (partition/missing column) or inexact
    }
  }

  /** Decode entry `i` under SQL distinct semantics: all NaN bit patterns
    * are one value (boxed Double/Float equals canonicalizes via
    * doubleToLongBits), -0.0 merges with 0.0 (explicit — bits differ),
    * binary/strings compare by bytes (`Binary` value equality). */
  private def normalized(dict: org.apache.parquet.column.Dictionary,
                         c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                         i: Int): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    c.getType match {
      case INT32   => java.lang.Integer.valueOf(dict.decodeToInt(i))
      case INT64   => java.lang.Long.valueOf(dict.decodeToLong(i))
      case FLOAT   =>
        val v = dict.decodeToFloat(i)
        java.lang.Float.valueOf(if (v == 0.0f) 0.0f else v)
      case DOUBLE  =>
        val v = dict.decodeToDouble(i)
        java.lang.Double.valueOf(if (v == 0.0d) 0.0d else v)
      case BOOLEAN => java.lang.Boolean.valueOf(dict.decodeToBoolean(i))
      case _       => dict.decodeToBinary(i) // BYTE_ARRAY / FIXED / INT96: byte equality
    }
  }

}

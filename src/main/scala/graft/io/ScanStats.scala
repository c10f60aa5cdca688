package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Driver-side scan statistics read from FILE METADATA — no Spark job.
  *
  * A dispatch decision (driver-fit vs distributed, broadcast vs shuffle)
  * often needs a ROW count, which plan statistics only carry under CBO;
  * without it the fallback is a probe job. But when the optimized plan
  * is a pure column-pruned scan, the exact row count is already sitting
  * in the parquet footers (one block-metadata record per row group) —
  * the same statistics the scan itself will use — and reading them is a
  * few milliseconds of driver IO per file. Callers keep their probe-job
  * fallback for every other plan shape (filters, joins, non-parquet
  * sources), so this is a pure fast path, never a new failure mode. */
object ScanStats {

  /** Exact row count when `df`'s optimized plan is a parquet scan with
    * no row-changing operator on top (column-pruning Projects and
    * aliases are fine; any Filter/Join/Aggregate is not). None means
    * "can't answer from metadata — use your fallback". Callers should
    * bound their own exposure first (the existing plan-stats byte
    * short-circuits): footer reads are per-file driver IO, right for
    * the ≲1 GiB plans dispatch decisions actually probe. */
  def parquetScanRowCount(df: DataFrame): Option[Long] =
    parquetScanLayout(df).map(_._1)

  /** Exact row count, footer-first: the metadata answer when the plan is
    * a pure parquet scan, else one zero-column count job. For the
    * pre-flight `df.count()` dispatch sites (moment accumulator domain,
    * driver-fit ceilings) whose input is almost always a pure scan —
    * each swap deletes one Spark job from the operator's wall. */
  def exactRowCount(df: DataFrame): Long =
    parquetScanRowCount(df).getOrElse(df.count())

  /** UPPER BOUND on the row count when `df` is a parquet scan under any
    * stack of row-REMOVING-or-preserving operators (Project/alias/Filter):
    * the underlying files' footer row count. A filter only drops rows, so
    * the bound is sound however selective it is. For ceiling decisions
    * whose two branches are value-identical (hi/lo moment accumulators),
    * this answers from metadata what [[exactRowCount]] needs a zero-column
    * count job for — the conservative direction (bound above actual) only
    * costs the slower-but-exact branch, never correctness. */
  def parquetScanRowUpperBound(df: DataFrame): Option[Long] =
    footerFiles(df, throughFilters = true).flatMap(footerTotals(df, _)).map(_._1)

  /** The scanned parquet files when `df` is a pure scan whose projections
    * only prune or rename columns (plain attribute lists — no computed
    * expressions, no Filter/Join/Aggregate): the files' stored bytes ARE
    * the column values, so metadata readers ([[DictStats]]) and direct
    * column decoders ([[DriverParquet]]) may reason from them. */
  def pureParquetInputFiles(df: DataFrame): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child)
      case SubqueryAlias(_, child) => unwrap(child)
      case other => other
    }
    unwrap(df.queryExecution.optimizedPlan) match {
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.getClass.getName.toLowerCase.contains("parquet") =>
          Some(fs.location.inputFiles.toSeq)
        case _ => None
      }
      case _ => None
    }
  }

  /** Per-column (min, max, nullCount) over INTEGRAL columns from the
    * footers' column-chunk statistics — no Spark job. Some only when the
    * plan is a pure parquet scan AND every requested column is an
    * integral Spark type (byte/short/int/long — NaN-free by type, so the
    * writer-skips-NaN stats caveat cannot bite) AND every chunk carries
    * complete statistics. An all-null column reports
    * (MaxValue, MinValue) sentinels with nullCount = rows. Callers use
    * this to PROVE value-domain properties (e.g. |v| < 2⁵³ ⇒ the long
    * column's double image is injective) without a scan. */
  def parquetIntegerRanges(df: DataFrame, cols: Seq[String])
      : Option[Map[String, (Long, Long, Long)]] = {
    import org.apache.spark.sql.types._
    if (cols.isEmpty) return Some(Map.empty)
    try {
      val files = pureParquetInputFiles(df)
        .filter(_.length <= DictStats.MaxFiles).getOrElse(return None)
      val schema = df.schema
      if (!cols.forall(c => schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        // timestamps are INT64 on disk; their LongStatistics bound the
        // raw epoch value — NaN-free by type like the integrals
        case TimestampType | TimestampNTZType => true
        case _ => false
      })) return None
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val mins = scala.collection.mutable.Map(cols.map(_ -> Long.MaxValue): _*)
      val maxs = scala.collection.mutable.Map(cols.map(_ -> Long.MinValue): _*)
      val nulls = scala.collection.mutable.Map(cols.map(_ -> 0L): _*)
      files.foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try {
          import scala.jdk.CollectionConverters._
          reader.getRowGroups.asScala.foreach { block =>
            cols.foreach { c =>
              val chunk = block.getColumns.asScala.find(ch =>
                ch.getPath.size() == 1 && ch.getPath.toDotString == c)
                .getOrElse(return None)
              val st = chunk.getStatistics
              if (st == null || !st.isNumNullsSet) return None
              nulls(c) += st.getNumNulls
              val nonNull = chunk.getValueCount - st.getNumNulls
              if (nonNull > 0) {
                if (!st.hasNonNullValue) return None
                val (lo, hi) = st match {
                  case s: org.apache.parquet.column.statistics.LongStatistics =>
                    (s.getMin, s.getMax)
                  case s: org.apache.parquet.column.statistics.IntStatistics =>
                    (s.getMin.toLong, s.getMax.toLong)
                  case _ => return None
                }
                if (lo < mins(c)) mins(c) = lo
                if (hi > maxs(c)) maxs(c) = hi
              }
            }
          }
        } finally reader.close()
      }
      Some(cols.map(c => c -> (mins(c), maxs(c), nulls(c))).toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Exact (row count, row-group count) from the footers under the same
    * pure-scan condition as [[parquetScanRowCount]]. The row-group count
    * is the scan's PARALLELISM CEILING — data assignment is row-group
    * granular, so splitting a file beyond its groups only makes empty
    * tasks (the r10 scan-split measurement) — which makes it the right
    * driver-side signal for "this scan cannot use the machine" dispatch
    * (e.g. [[graft.ops.Profile]]'s narrow fan-out before heavy per-row
    * projections). */
  def parquetScanLayout(df: DataFrame): Option[(Long, Int)] =
    footerFiles(df, throughFilters = false).flatMap(footerTotals(df, _))

  /** The parquet files under `df` when its optimized plan is a scan under
    * deterministic Projects and aliases (and Filters, if
    * `throughFilters`), and there are at most [[DictStats.MaxFiles]] of
    * them: every footer reader here opens each file on the driver, so a
    * table of more files answers None and its caller takes the scan-side
    * fallback. */
  private def footerFiles(df: DataFrame, throughFilters: Boolean): Option[Seq[String]] = {
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      // a Project can only prune/rename columns — row-preserving
      case Project(exprs, child) if exprs.forall(_.deterministic) => unwrap(child)
      case SubqueryAlias(_, child) => unwrap(child)
      case Filter(_, child) if throughFilters => unwrap(child)
      case other => other
    }
    unwrap(df.queryExecution.optimizedPlan) match {
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.getClass.getName.toLowerCase.contains("parquet") =>
          Some(fs.location.inputFiles.toSeq).filter(_.length <= DictStats.MaxFiles)
        case _ => None
      }
      case _ => None
    }
  }

  /** (row count, row-group count) summed over the files' footers; None
    * when a footer is unreadable. */
  private def footerTotals(df: DataFrame, files: Seq[String]): Option[(Long, Int)] = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    try {
      var rows = 0L
      var groups = 0
      files.foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try {
          rows += reader.getRecordCount
          groups += reader.getRowGroups.size()
        } finally reader.close()
      }
      Some((rows, groups))
    } catch { case _: Exception => None } // unreadable footer → fallback
  }
}

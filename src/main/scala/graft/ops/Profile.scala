package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column profiling / frequency operators (SURVEY.md §2.3 A1–A9).
  *
  * Reference semantics: `modules/utility.py:17-86` (basic_stats),
  * `modules/privacy.py:8` + `modules/utility.py:102-103` (value counts),
  * `modules/utility.py:70-71` (mode with smallest-value tie-break),
  * `modules/privacy.py:8-9` (rare categories), `modules/privacy.py:58`
  * (distinct counts), `modules/privacy.py:44` (μ/σ with `or 1.0` fallback),
  * `modules/privacy.py:50` (normalized PMF).
  *
  * Scale notes: `profile` makes ONE pass over the numeric columns (a single
  * wide partial+final aggregate — not a per-column loop like the reference),
  * one pass for string/timestamp min/max/distinct, plus one small groupBy
  * per string column for the mode. At 100 TB that is 2 scans + k tiny
  * shuffles instead of the reference's 2·k full passes.
  */
object Profile {

  private def isNum(dt: DataType): Boolean = dt.isInstanceOf[NumericType]

  /** Above this many collected CELLS (rows × numeric columns — the unit
    * driver-fit cost actually grows in; a row ceiling alone let a 7-column
    * profile collect ~540 MB at 10⁷ rows) the quantile fit stops
    * collecting raw columns to the driver and switches to the
    * domain-shuffling histogram path. 8M cells ≈ 64 MB collect + ~1 s of
    * single-threaded driver sorts — near the measured crossover vs the
    * bucketed histogram job. */
  private val DriverSortMaxCells = 8_000_000L

  /** Fan-out floor: below this many rows the per-row work can't repay an
    * exchange (the r10 scan-split measurement — forced parallelism taxed
    * every sub-second query 20–80%), so small inputs stay exchange-free. */
  private val FanOutMinRows = 200000L

  /** Round-robin exchange for a heavy-per-row projection whose input
    * scan CANNOT use the machine: data assignment is row-group granular,
    * so a single-row-group file runs any downstream projection single-
    * threaded however many cores exist — at sf0.1 that serialized the
    * entire cents+moments pass of the a1 profile on one core (measured
    * 1.58 → 1.16 s min in the r11 moments A/B with the exchange; the
    * shuffled payload is only the PRUNED numeric columns). Footer-gated
    * (no job): fires only when the scan's row-group parallelism ceiling
    * is under a QUARTER of the machine and the input is big enough to
    * repay the exchange; multi-row-group layouts — any real scale, x16+
    * — are a structural no-op, so nothing here taxes the 100 TB plan. */
  private def fanOutNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    graft.io.ScanStats.parquetScanLayout(df) match {
      case Some((rows, groups)) if groups * 4 <= cores && rows >= FanOutMinRows =>
        df.repartition(cores)
      case _ => df
    }
  }

  /** A1 `basic_stats`: one row per input column. Numeric moments use the
    * exact-cents policy in [[Exact]]. Numeric columns fit in one scan:
    * [[Exact.numProfileViaDriverSort]] below [[DriverSortMaxCells]], else
    * the scale-safe cents histogram ([[Exact.numProfileViaCentsHistogram]]
    * — shuffling the value DOMAIN instead of every value); each
    * [[Exact.NumFit]] carries quantiles, distinct count and moments, and
    * only columns the fit cannot certify (non-finite, or >2 decimals at
    * scale) fall back to the all-values sort-based `percentile` buffer
    * inside the wide agg. Every path is linear-interpolation exact —
    * pandas/DuckDB-compatible, NOT `percentile_approx`. */
  def profile(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val numCols = fields.filter(f => isNum(f.dataType)).map(_.name)
    val othCols = fields.filterNot(f => isNum(f.dataType)).map(_.name)

    def dtypeName(dt: DataType): String = dt.sql.toLowerCase

    // Auto-dispatch (as in Exact.quantiles): below the row
    // threshold a single fused scan + driver sorts is strictly faster than
    // any shuffle-based plan (Spark job floor dominates); above it, the
    // scale-safe bucketed cents-histogram shuffles the value DOMAIN, never
    // the data. Both produce bit-identical quantile_cont interpolation AND
    // exact numeric distinct counts, so the wide agg below carries a
    // count_distinct (each one multiplies its Expand factor) only for the
    // rare column the fit can't certify (non-finite / >2-decimals at
    // scale).
    val nRows = if (numCols.isEmpty) 0L else graft.io.ScanStats.exactRowCount(df)
    // moment accumulators: hi/lo long sums inside the row ceiling (every
    // in-domain row updates long buffers only — no per-row BigDecimal),
    // plain decimal sums past it
    val hiLo = nRows <= Exact.HiLoSafeMaxRows
    // Both branches now return a FULL per-column fit (r11 driver branch;
    // r12 histogram branch): the same single numeric scan that fits the
    // quantiles carries moments/min/max/count with bit-identical
    // finalization (Exact.numProfileViaDriverSort /
    // numProfileViaCentsHistogram), so eligible columns need NO separate
    // distributed wide aggregate at all — at x16 that second full scan
    // (cents projection + moment slots over every raw row) was ~half of
    // a1's wall. Non-finite / >2-decimal columns come back
    // eligible = false and stay on the in-agg forms below.
    val driverFit: Map[String, Exact.NumFit] =
      if (numCols.isEmpty) Map.empty
      else if (nRows * numCols.length <= DriverSortMaxCells)
        Exact.numProfileViaDriverSort(df, numCols.toSeq, Seq(0.25, 0.5, 0.75))
      else
        Exact.numProfileViaCentsHistogram(df, numCols.toSeq,
          Seq(0.25, 0.5, 0.75), hiLo)

    // One wide aggregate covering every column's scan-side stats. The
    // cents conversion (the only expensive per-row step — a BigDecimal
    // round-trip) is projected ONCE per column under the aggregate;
    // count/min/max still read the original value (NaN counts as
    // non-null there but cents-converts to null).
    def centsName(c: String) = s"__cents_$c"
    // Only columns NOT fully fitted driver-side still need the wide
    // aggregate (histogram branch: all of them; driver branch: only the
    // non-finite fallbacks — usually none, and the whole numeric
    // aggregate plan vanishes).
    // "fully fitted" = the driver fit carries everything the struct needs
    // (finite column inside the cents domain, or empty). A finite column
    // with moments None (|v| ≥ 10¹⁶ — outside DECIMAL(18,2)) keeps its
    // driver quantiles/distincts but joins the wide agg for moments,
    // where the in-agg forms define the (faulting) behavior.
    def fullyFitted(c: String): Option[Exact.NumFit] =
      driverFit.get(c).filter(f => f.eligible && (f.n == 0 || f.mean.isDefined))
    val aggCols = numCols.toSeq.filterNot(c => fullyFitted(c).isDefined)
    // prune to the aggregated columns BEFORE the fan-out decision so the
    // (possible) exchange ships only numeric columns, then project cents
    // AFTER it so the expensive per-row step runs at machine parallelism
    val wideIn =
      if (aggCols.isEmpty) df
      else fanOutNarrow(df.select(aggCols.map(col): _*))
    val proj = wideIn.select(
      wideIn.columns.map(col).toSeq ++
        aggCols.map(c => Exact.cents(col(c)).as(centsName(c))): _*)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__n_total")) ++
      aggCols.flatMap { c =>
        Seq(count(col(c)).as(s"${c}__n")) ++
        Exact.momentAggsPre(col(centsName(c)), c, hiLo) ++
        Seq(
          min(col(c)).cast("double").as(s"${c}__min"),
          max(col(c)).cast("double").as(s"${c}__max")) ++
        (if (driverFit(c).nUnique.isEmpty)
          Seq(count_distinct(col(c)).as(s"${c}__uniq")) else Nil) ++
        // fallback only for non-cents-eligible columns (>2 decimals / huge)
        (if (driverFit(c).quantiles.isEmpty)
          Seq(expr(s"percentile($c, array(0.25D, 0.5D, 0.75D))").as(s"${c}__q"))
        else Nil)
      }
    // String/date/timestamp columns are NOT in the wide agg: a string
    // min/max buffer is immutable in UnsafeRow, which demotes the WHOLE
    // aggregate to an un-codegen'd SortAggregate, and their
    // count_distincts add an Expand multiplying every row — together
    // that made the interpreted wide agg the entire profile cost (13 s+
    // at sf0.1). Their stats come from per-column value-count groupBys
    // below instead — value-domain-sized, fully codegen'd, and shared
    // with the mode computation via ReuseExchange.
    // carrier for the per-column structs: the wide-agg row when any
    // column still aggregates distributed; a bare 1-row frame when every
    // numeric column was fitted driver-side (no numeric job at all)
    val wide =
      if (aggCols.isEmpty) df.sparkSession.range(1).toDF("__one")
      else proj.agg(aggs.head, aggs.tail: _*)

    def litOrNull(v: Option[Double]): Column =
      v.map(lit(_)).getOrElse(lit(null)).cast("double")

    // Re-shape the single wide row into one struct per NUMERIC column —
    // pure literals for driver-fitted columns, wide-agg refs otherwise.
    val rowStructs: Seq[Column] =
      numCols.toSeq.map { c =>
        val dt = lit(dtypeName(fields.find(_.name == c).get.dataType))
        val q: Int => Column = driverFit(c).quantiles match {
          case Some(vs) => i =>
            if (vs(i).isNaN) lit(null).cast("double") else lit(vs(i))
          case None => i => col(s"${c}__q").getItem(i)
        }
        fullyFitted(c) match {
          case Some(f) =>
            struct(
              lit(c).as("column"),
              dt.as("dtype"),
              lit(nRows).as("n_total"),
              lit(nRows - f.n).as("n_missing"),
              // same double op order as the in-agg form
              (if (nRows > 0) lit((nRows - f.n).toDouble / nRows * 100.0)
               else lit(null).cast("double")).as("missing_pct"),
              lit(f.nUnique.get).as("n_unique"),
              litOrNull(f.mean).as("mean"),
              litOrNull(f.std).as("std"),
              litOrNull(f.minV).as("min_num"),
              q(0).as("p25"),
              q(1).as("median"),
              q(2).as("p75"),
              litOrNull(f.maxV).as("max_num"),
              lit(null).cast("string").as("min_str"),
              lit(null).cast("string").as("max_str"))
          case None =>
            val uniqCol =
              if (driverFit(c).nUnique.isDefined) lit(driverFit(c).nUnique.get)
              else col(s"${c}__uniq")
            struct(
              lit(c).as("column"),
              dt.as("dtype"),
              col("__n_total").as("n_total"),
              (col("__n_total") - col(s"${c}__n")).as("n_missing"),
              // n_total=0 guard: ANSI (Spark 4 default) throws on 0/0
              when(col("__n_total") > 0,
                (col("__n_total") - col(s"${c}__n")).cast("double") / col("__n_total") * 100.0)
                .as("missing_pct"),
              uniqCol.as("n_unique"),
              Exact.meanFromMoments(Exact.s1Col(c, hiLo), col(s"${c}__n")).as("mean"),
              Exact.stdFromMoments(Exact.s1Col(c, hiLo), Exact.s2Col(c, hiLo), col(s"${c}__n")).as("std"),
              col(s"${c}__min").as("min_num"),
              q(0).as("p25"),
              q(1).as("median"),
              q(2).as("p75"),
              col(s"${c}__max").as("max_num"),
              lit(null).cast("string").as("min_str"),
              lit(null).cast("string").as("max_str"))
        }
      }
    val numRows: Option[DataFrame] =
      if (numCols.isEmpty) None
      else Some(wide.select(explode(array(rowStructs: _*)).as("r")).select(col("r.*")))

    // Non-numeric columns, FUSED (round 7): one exploded narrow pass
    // replaces a value-count groupBy per column (k extra scans + k
    // shuffles — ~40% of the profile's wall at sf0.1). Every row becomes
    // one (colIdx, value-as-string) entry; the first map-side-combinable
    // aggregate counts distinct (colIdx, value) pairs, and a second,
    // column-keyed aggregate derives totals, missing, exact distinct,
    // min/max, AND the string mode — highest count then smallest value
    // (nulls first), pandas' tie-break — via min(struct(-cnt, value)),
    // so the mode costs no window and no extra shuffle. The string cast
    // is order-preserving for every type admitted below (ISO date/
    // timestamp strings compare exactly like their native values;
    // fraction digits only extend the fixed-width seconds field), which
    // is what makes min/max-over-strings equal min/max-then-cast. Any
    // column OUTSIDE that list routes through the legacy per-column
    // aggregates — correctness first, fusion where proven.
    def fusable(dt: DataType): Boolean = dt match {
      case StringType | DateType | BooleanType => true
      case _: TimestampType => true
      case _: TimestampNTZType => true
      case _ => false
    }
    val (fusedCols, loopCols) =
      othCols.toSeq.partition(c => fusable(fields.find(_.name == c).get.dataType))

    val fusedRows: Option[DataFrame] = fusedCols match {
      case Nil => None
      case cs =>
        val entries = cs.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("ci"), col(c).cast("string").as("v"))
        }
        // NO fan-out exchange here (unlike the cents wide agg): the
        // explode's partial aggregate already reduces map-side, so an
        // exchange of raw source rows would ship MORE bytes than the
        // value-domain-sized partial counts it replaces (measured r11)
        val counts = df.select(cs.map(col): _*)
          .select(explode(array(entries: _*)).as("e"))
          .select(col("e.ci").as("ci"), col("e.v").as("v"))
          .groupBy("ci", "v").agg(count(lit(1)).as("cnt"))
        val isStr = cs.map(c => fields.find(_.name == c).get.dataType == StringType)
        val lvl2 = counts.groupBy("ci").agg(
          sum(col("cnt")).as("nt"),
          coalesce(sum(when(col("v").isNotNull, col("cnt"))), lit(0L)).as("nn"),
          count(col("v")).as("uniq"),
          min(col("v")).as("mn"),
          max(col("v")).as("mx"),
          min(struct((-col("cnt")).as("nc"), col("v"))).as("top"))
        // An EMPTY input explodes to zero entries, so lvl2 would drop the
        // column outright (the legacy global-agg form always emitted a
        // row with n_total=0). Left-join against the static column-index
        // set — both sides are ≤ k rows, so the join is free — and
        // zero-fill the counts.
        val baseIdx = df.sparkSession.range(cs.length.toLong)
          .select(col("id").cast("int").as("ci"))
        val lvl2All = baseIdx.join(lvl2, Seq("ci"), "left")
          .withColumn("nt", coalesce(col("nt"), lit(0L)))
          .withColumn("nn", coalesce(col("nn"), lit(0L)))
          .withColumn("uniq", coalesce(col("uniq"), lit(0L)))
        val nameArr = array(cs.map(lit): _*)
        val dtypeArr = array(cs.map(c =>
          lit(dtypeName(fields.find(_.name == c).get.dataType))): _*)
        val strArr = array(isStr.map(lit): _*)
        Some(lvl2All.select(
          element_at(nameArr, col("ci") + 1).as("column"),
          element_at(dtypeArr, col("ci") + 1).as("dtype"),
          col("nt").as("n_total"),
          (col("nt") - col("nn")).as("n_missing"),
          // n_total=0 guard: ANSI (Spark 4 default) throws on 0/0
          when(col("nt") > 0,
            (col("nt") - col("nn")).cast("double") / col("nt") * 100.0).as("missing_pct"),
          col("uniq").as("n_unique"),
          lit(null).cast("double").as("mean"),
          lit(null).cast("double").as("std"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("p25"),
          lit(null).cast("double").as("median"),
          lit(null).cast("double").as("p75"),
          lit(null).cast("double").as("max_num"),
          col("mn").as("min_str"),
          col("mx").as("max_str"),
          when(element_at(strArr, col("ci") + 1), col("top.v")).as("top_value"),
          when(element_at(strArr, col("ci") + 1), -col("top.nc")).as("top_freq")))
    }

    // legacy per-column path for exotic non-numeric types only
    def valueCountsFor(c: String): DataFrame =
      df.groupBy(col(c).as("top_value")).agg(count(lit(1)).as("top_freq"))

    val othRows: Option[DataFrame] = loopCols match {
      case Nil => None
      case cs => Some(cs.map { c =>
        val dt = dtypeName(fields.find(_.name == c).get.dataType)
        valueCountsFor(c)
          .agg(
            coalesce(sum(col("top_freq")), lit(0L)).as("nt"),
            coalesce(sum(when(col("top_value").isNotNull, col("top_freq"))), lit(0L)).as("nn"),
            count(col("top_value")).as("uniq"),
            min(col("top_value")).cast("string").as("mn"),
            max(col("top_value")).cast("string").as("mx"))
          .select(
            lit(c).as("column"),
            lit(dt).as("dtype"),
            col("nt").as("n_total"),
            (col("nt") - col("nn")).as("n_missing"),
            // n_total=0 guard: ANSI (Spark 4 default) throws on 0/0
            when(col("nt") > 0,
              (col("nt") - col("nn")).cast("double") / col("nt") * 100.0).as("missing_pct"),
            col("uniq").as("n_unique"),
            lit(null).cast("double").as("mean"),
            lit(null).cast("double").as("std"),
            lit(null).cast("double").as("min_num"),
            lit(null).cast("double").as("p25"),
            lit(null).cast("double").as("median"),
            lit(null).cast("double").as("p75"),
            lit(null).cast("double").as("max_num"),
            col("mn").as("min_str"),
            col("mx").as("max_str"))
      }.reduce(_ unionByName _))
    }

    val base = Seq(numRows, othRows).flatten.reduceOption(_ unionByName _)
    // the legacy path carries no mode: every string column is fusable,
    // and fused columns carry theirs from the counts aggregate
    val baseWithTop = base.map(_
      .withColumn("top_value", lit(null).cast("string"))
      .withColumn("top_freq", lit(null).cast("long")))
    (Seq(baseWithTop, fusedRows).flatten.reduceOption(_ unionByName _) match {
      case Some(all) => all
      case None =>
        throw new IllegalArgumentException("profile: input has no columns")
    }).orderBy(col("column"))
  }

  /** Sketch-based profile — the single-scan 100 TB sibling of [[profile]]:
    * same output schema, but quantiles come from `approx_percentile`
    * (bounded-error mergeable sketch), distinct counts from HLL++
    * (`approx_count_distinct`), and moments from plain double aggregates.
    * ONE wide aggregate, ONE job: no fit pre-pass, no count_distinct
    * Expand blow-up, no mode sub-jobs (top_value/top_freq are null).
    * Approximate by declaration (rows-only check; ProfileSpec pins the
    * error envelope against [[profile]]). */
  def profileApprox(df: DataFrame, accuracy: Int = 2000): DataFrame = {
    val fields = df.schema.fields
    def dtypeName(dt: DataType): String = dt.sql.toLowerCase
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__n_total")) ++ fields.flatMap { f =>
        val c = f.name
        if (isNum(f.dataType)) Seq(
          count(col(c)).as(s"${c}__n"),
          avg(col(c).cast("double")).as(s"${c}__mean"),
          stddev_samp(col(c).cast("double")).as(s"${c}__std"),
          min(col(c)).cast("double").as(s"${c}__min"),
          max(col(c)).cast("double").as(s"${c}__max"),
          approx_count_distinct(col(c)).as(s"${c}__uniq"),
          percentile_approx(col(c).cast("double"),
            typedlit(Seq(0.25, 0.5, 0.75)), lit(accuracy)).as(s"${c}__q"))
        else Seq(
          count(col(c)).as(s"${c}__n"),
          approx_count_distinct(col(c)).as(s"${c}__uniq"),
          min(col(c)).cast("string").as(s"${c}__min"),
          max(col(c)).cast("string").as(s"${c}__max"))
      }
    // the sketch updates (HLL + quantile summaries per column) are the
    // per-row hot path; behind a few-split scan they'd run 1-core, so
    // spread them (no-op when the scan already has real splits)
    val wide = Par.widen(df).agg(aggs.head, aggs.tail: _*)
    val rowStructs: Seq[Column] = fields.toSeq.map { f =>
      val c = f.name
      val base = Seq(
        lit(c).as("column"),
        lit(dtypeName(f.dataType)).as("dtype"),
        col("__n_total").as("n_total"),
        (col("__n_total") - col(s"${c}__n")).as("n_missing"),
        // n_total=0 guard: ANSI (Spark 4 default) throws on 0/0
        when(col("__n_total") > 0,
          (col("__n_total") - col(s"${c}__n")).cast("double") / col("__n_total") * 100.0)
          .as("missing_pct"),
        col(s"${c}__uniq").as("n_unique"))
      val numeric =
        if (isNum(f.dataType)) Seq(
          col(s"${c}__mean").as("mean"),
          col(s"${c}__std").as("std"),
          col(s"${c}__min").as("min_num"),
          col(s"${c}__q").getItem(0).as("p25"),
          col(s"${c}__q").getItem(1).as("median"),
          col(s"${c}__q").getItem(2).as("p75"),
          col(s"${c}__max").as("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
        else Seq(
          lit(null).cast("double").as("mean"),
          lit(null).cast("double").as("std"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("p25"),
          lit(null).cast("double").as("median"),
          lit(null).cast("double").as("p75"),
          lit(null).cast("double").as("max_num"),
          col(s"${c}__min").as("min_str"),
          col(s"${c}__max").as("max_str"))
      struct(base ++ numeric: _*)
    }
    wide.select(explode(array(rowStructs: _*)).as("r")).select(col("r.*"))
      .withColumn("top_value", lit(null).cast("string"))
      .withColumn("top_freq", lit(null).cast("long"))
      .orderBy(col("column"))
  }

  /** A2 `value_counts(dropna=False)`: counts per category including the
    * null group, ordered count-desc then value-asc (deterministic). */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    df.groupBy(col(c).as("value"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("value").asc_nulls_first)

  /** A3 mode/top-1 (smallest value wins ties, as pandas `mode().iloc[0]`). */
  def mode(df: DataFrame, c: String): DataFrame =
    valueCounts(df, c).limit(1)

  /** A4 rare-category set: categories with global count < threshold. */
  def rareCategories(df: DataFrame, c: String, threshold: Long): DataFrame =
    df.groupBy(col(c).as("value"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") < threshold)
      .orderBy(col("value").asc_nulls_first)

  /** A5 exact distinct count per column, fused into ONE narrow two-level
    * aggregate.
    *
    * The obvious `agg(count_distinct(c1), …, count_distinct(cN))` plans as
    * an Expand that multiplies every input row by N at FULL row width (all
    * N agg columns ride along, nulled except one), then hash-aggregates the
    * wide rows — 5.8 s at sf0.1. Instead each row explodes into N narrow
    * (column-name, typed-value) entries — one value slot per distinct
    * column TYPE, so values stay native (no lossy/injectivity-risky string
    * casts; NaN/-0.0 normalization matches count_distinct's grouping
    * semantics exactly) — then a map-side-combinable `.distinct()` dedups
    * pairs before the only shuffle, and a column-keyed count yields the
    * answer. Shuffle volume is the distinct-pair domain, not the row count;
    * at 100 TB that is the same asymptotic shape as the Expand plan with a
    * fraction of the constant factor. Null source values keep their entry
    * (flagged by the key itself) so an all-null column still reports 0,
    * but are excluded from the count — COUNT(DISTINCT) semantics. */
  def distinctCounts(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fields = df.schema.fields.toSeq
    // r15 driver dispatch: when the plan is a pure parquet scan within
    // the profile's driver-cell ceiling, numeric and string columns
    // decode straight from the files on the driver (DriverParquet — zero
    // Spark jobs) and count distincts exactly: numeric via a sorted walk
    // (Double.compare: NaN is ONE value, -0.0 == 0.0 after the
    // collector's normalization — count_distinct's grouping semantics),
    // strings via the decoded vocabulary map minus the null key. A LONG
    // column enters only when its footer range PROVES |v| < 2⁵³ (its
    // double image is then injective — the same no-lossy-cast rule the
    // fused plan enforces by keeping native types). Everything else —
    // other types, unprovable longs, non-scan plans, above-ceiling —
    // keeps the fused explode+distinct plan, now exploding ONLY the
    // leftover columns (at 100 TB the footer row count trips the
    // ceiling and the whole operator stays on the scale plan).
    val safeNum: Set[DataType] = Set(ByteType, ShortType, IntegerType, FloatType, DoubleType)
    def isInt64Like(dt: DataType): Boolean = dt match {
      case LongType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val numCand = fields.filter(f => safeNum(f.dataType) || isInt64Like(f.dataType)).map(_.name)
    val strCand = fields.filter(_.dataType == StringType).map(_.name)
    val underCeiling = graft.io.ScanStats.parquetScanRowCount(df).exists(r =>
      r * math.max(1, numCand.length + strCand.length) <= DriverSortMaxCells)
    val two53 = 9007199254740992L // 2^53: doubles are exact integers below
    // INT64-backed columns (longs, timestamps — distinctness of the raw
    // epoch equals distinctness of the value: micros/millis units map
    // injectively) enter only with the footer-range proof
    val int64Safe: Set[String] =
      if (!underCeiling) Set.empty
      else {
        val int64Cols = fields.filter(f => isInt64Like(f.dataType)).map(_.name)
        if (int64Cols.isEmpty) Set.empty
        else graft.io.ScanStats.parquetIntegerRanges(df, int64Cols) match {
          case Some(m) => m.collect {
            case (c, (mn, mx, _)) if mn > -two53 && mx < two53 => c
          }.toSet
          case None => Set.empty
        }
      }
    val driverNum = numCand.filter(c => safeNum(df.schema(c).dataType) || int64Safe(c))
    val driverCounts: Map[String, Long] =
      if (!underCeiling || (driverNum.isEmpty && strCand.isEmpty)) Map.empty
      else graft.io.DriverParquet.collectColumns(df, driverNum, strCand,
        keepNonFinite = true, rawInt64Timestamps = true) match {
        case None => Map.empty
        case Some((_, numArrs, catMaps)) =>
          val numCounts = numArrs.map { case (c, (arr, _)) =>
            java.util.Arrays.parallelSort(arr)
            var u = 0L
            var i = 0
            while (i < arr.length) {
              if (i == 0 || java.lang.Double.compare(arr(i), arr(i - 1)) != 0) u += 1
              i += 1
            }
            c -> u
          }
          val strCounts = catMaps.map { case (c, m) =>
            c -> m.keysIterator.count(_ != null).toLong
          }
          numCounts ++ strCounts
      }
    val planFields = fields.filterNot(f => driverCounts.contains(f.name))
    val counted: DataFrame =
      if (planFields.isEmpty)
        driverCounts.toSeq.toDF("column", "n_unique")
      else {
        val types = planFields.map(_.dataType).distinct
        val entries = planFields.map { f =>
          val vs = types.zipWithIndex.map { case (t, i) =>
            (if (f.dataType == t) col(f.name) else lit(null).cast(t)).as(s"v$i")
          }
          struct(lit(f.name).as("column") +: vs: _*)
        }
        val vCols = types.indices.map(i => col(s"v$i"))
        val nonNull = vCols.map(_.isNotNull).reduce(_ || _)
        val planCounted = Par.widen(df)
          .select(explode(array(entries: _*)).as("e")).select(col("e.*"))
          .distinct()
          .groupBy(col("column"))
          .agg(sum(when(nonNull, 1L).otherwise(0L)).as("n_unique"))
        if (driverCounts.isEmpty) planCounted
        else planCounted.unionByName(driverCounts.toSeq.toDF("column", "n_unique"))
      }
    // An EMPTY input explodes to zero entries; the pre-fusion wide agg
    // (a global aggregate) always returned one row per column with
    // n_unique=0. Left-join the static column list back in — `counted`
    // is ≤ k rows, so this costs nothing.
    val names = fields.map(_.name)
    val baseNames = spark.range(names.length.toLong)
      .select(element_at(array(names.map(lit): _*), (col("id") + 1).cast("int")).as("column"))
    baseNames.join(counted, Seq("column"), "left")
      .select(col("column"), coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .orderBy(col("column"))
  }

  /** A7 table row counts (here: one table; the session-level variant unions
    * all named slots). */
  def rowCount(df: DataFrame, label: String): DataFrame =
    df.agg(count(lit(1)).as("n_rows")).withColumn("table_name", lit(label))
      .select(col("table_name"), col("n_rows"))

  /** Equi-width histogram with a zero-filled bin spine — the plotting/
    * monitoring companion to the quantile profile (quantiles answer
    * "where are the cut points", the histogram answers "what does the
    * shape look like"). Bin width derives from one min/max fit; each
    * value lands in `least(bins−1, floor((v−min)/w))` so the max value
    * joins the last bin (NumPy/pandas convention). Empty bins appear
    * with n = 0 via a generated spine — a monitoring consumer needs the
    * gap, not a missing row.
    *
    * Parity: min/max/width/edges are single doubles computed in the same
    * operand order as the oracle; the per-row bin index is one floored
    * double division (bit-identical per row); counts are exact. Scale:
    * one fit aggregate + one bins-sized aggregate, spine join is
    * broadcast-trivial. A constant column (w = 0) puts every row in bin
    * 0 on both engines. */
  def histogram(df: DataFrame, c: String, bins: Int = 10): DataFrame = {
    require(bins > 0, "bins must be positive")
    val spark = df.sparkSession
    val st = df.agg(min(col(c)).cast("double").as("mn"),
      max(col(c)).cast("double").as("mx")).head()
    val spine = spark.range(bins).select(col("id").cast("int").as("bin"))
    if (st.isNullAt(0) || st.isNullAt(1))
      return spine.select(col("bin"),
        lit(null).cast("double").as("lo"), lit(null).cast("double").as("hi"),
        lit(0L).as("n")).orderBy(col("bin"))
    val mn = st.getDouble(0)
    val mx = st.getDouble(1)
    val w = (mx - mn) / bins
    val binc =
      if (w == 0) lit(0)
      else least(lit(bins - 1),
        greatest(lit(0), floor((col(c).cast("double") - mn) / w).cast("int")))
    val counts = df.filter(col(c).isNotNull)
      .groupBy(binc.as("bin")).agg(count(lit(1)).as("n"))
    spine.join(counts, Seq("bin"), "left_outer")
      .select(col("bin"),
        (lit(mn) + col("bin") * lit(w)).as("lo"),
        (lit(mn) + (col("bin") + 1) * lit(w)).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("bin"))
  }

  /** Key-skew report — the "do I need salting?" planning diagnostic: for
    * a prospective join/aggregation key, the top-k heavy hitters with
    * their corpus share, plus the overall skew factor
    * max(count)·|distinct| / total (1.0 = perfectly uniform; ≫1 = a hot
    * key will serialize its reducer, reach for [[Salting]] or AQE skew
    * join). One key-domain aggregate; the top-k is a
    * TakeOrderedAndProject partial and the totals row broadcasts — no
    * second scan of the data. Null keys fold into "NA" (they are often
    * the hottest key of all). */
  def skewReport(df: DataFrame, c: String, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .groupBy(coalesce(col(c).cast("string"), lit("NA")).as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"),
      count(lit(1)).as("n_distinct"), max(col("n")).as("__max"))
    val top = counts.orderBy(col("n").desc, col("key")).limit(topK)
      // ≤ topK rows: the unpartitioned rank window is bounded
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("key"))))
    top.crossJoin(broadcast(tot))
      .select(col("rank"), col("key"), col("n"),
        (col("n").cast("double") / col("n_total")).as("pct"),
        (col("__max").cast("double") * col("n_distinct") / col("n_total"))
          .as("skew"))
      .orderBy(col("rank"))
  }

  /** A8 per-column μ/σ for the synthesizer: std has the reference's
    * `or 1.0` fallback (NaN from a single row, 0 from a constant column —
    * both become 1.0; `modules/privacy.py:44`). */
  def muSigma(df: DataFrame, cols: Seq[String]): DataFrame = {
    val hiLo = graft.io.ScanStats.exactRowCount(df) <= Exact.HiLoSafeMaxRows
    // cents projected once per column under the aggregate (momentPartsPre),
    // ABOVE the widen exchange so the BigDecimal round-trips run at
    // session parallelism, not on a few scan splits (the corr fix)
    val proj = Par.widen(df.select(cols.map(col): _*))
      .select(cols.map(c => col(c)) ++
        cols.map(c => Exact.cents(col(c)).as(s"__cents_$c")): _*)
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__n")) ++
        Exact.momentAggsPre(col(s"__cents_$c"), c, hiLo)
    }
    val wide = proj.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      val mu = Exact.meanFromMoments(Exact.s1Col(c, hiLo), col(s"${c}__n"))
      val sd = Exact.stdFromMoments(Exact.s1Col(c, hiLo), Exact.s2Col(c, hiLo), col(s"${c}__n"))
      val sdSafe = when(col(s"${c}__n") < 2, 1.0)
        .when(sd === 0.0, 1.0)
        .otherwise(sd)
      struct(lit(c).as("column"), mu.as("mu"), sdSafe.as("sigma"))
    }
    wide.select(explode(array(structs: _*)).as("r")).select(col("r.*"))
      .orderBy(col("column"))
  }

  /** Pairwise Pearson correlation matrix over `cols` — the `df.corr()`
    * companion to the per-column profile, with PAIRWISE-complete-
    * observation semantics (a pair's moments sum only rows where BOTH
    * columns are non-null, pandas' convention). Output one row per
    * unordered pair (col_a < col_b): (col_a, col_b, n, corr); corr is
    * null for a constant column or n < 2.
    *
    * Determinism: every moment is an exact integer/decimal sum of cents
    * (Σx, Σy as DECIMAL(19,0); Σxy, Σx², Σy² as decimal sums of LONG
    * cents-products) — order-independent and bit-identical in any
    * engine; the final correlation then evaluates a FIXED double
    * expression over those exact sums, rounded to 6 dp. The whole matrix
    * is ONE wide aggregate: one scan, map-side combined, 6·C(k,2)
    * accumulators — never a per-pair job.
    *
    * The hot path is ALL-LONG per row — multiply in native long, then
    * split each product into hi/lo 32-bit halves and sum the halves as
    * plain longs (Σprod = 2³²·Σhi + Σlo, recombined in decimal over the
    * C(k,2) RESULT rows only). Decimal never touches the per-row loop:
    * summing DECIMAL(21,0)-cast products instead (precision > 18 ⇒
    * non-compact accumulators) benched 7–8× slower on identical values,
    * and multiplying DECIMAL(19,0)s ~100× slower.
    *
    * Guards — exactness has two domain edges, neither of which costs a
    * re-run:
    *  - MAGNITUDE: long products are exact only while every |cents| stays
    *    under ⌊√Long.Max⌋ ≈ 3.04·10⁹ ([[Exact.LongSafeCentsAbsMax]]);
    *    past it an ANSI session aborts mid-job, a non-ANSI one wraps
    *    silently. A per-row CaseWhen gate keeps unsafe rows from ever
    *    multiplying in long: they flow into DECIMAL(19,0) side-sums
    *    RIDING THE SAME AGGREGATE (Σ = long part + decimal part). The
    *    decimal buffers exist in every group but are touched only by
    *    rows that genuinely need 128-bit products, so a big-id column
    *    costs decimal adds for exactly its out-of-domain rows — not a
    *    discarded pass plus a full decimal re-scan.
    *  - ROW COUNT: the hi/lo partial sums themselves stay inside long
    *    only while n ≤ ~2·10⁹ rows ([[Exact.HiLoSafeMaxRows]]); a
    *    pre-flight `df.count()` (empty-schema parquet scan, nearly free)
    *    routes bigger inputs straight to the all-decimal form.
    * Every form feeds identical exact sums into the same final double
    * expression, so the dispatch is output-invisible. Both guards are
    * data-based — plan statistics see neither value ranges nor exact
    * row counts. */

  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.length
    } yield (cols(i), cols(j))
    // cents convert ONCE per column in a projection under the aggregate —
    // evaluated k times per row. Referencing Exact.cents inside each of
    // the 6·C(k,2) agg expressions instead re-ran the double→DECIMAL(18,2)
    // BigDecimal round-trip ~28× per column per row (50× wall slowdown on
    // the 8-column profile). A double NaN cents-converts to null and so
    // drops from a pair's rows like a null — pandas' missing semantics.
    // widen BEFORE the ×C(k,2) explode: the narrow fan-out+aggregate is
    // the CPU cost, and a single-split scan would run it on one core
    // widen FIRST, cents-convert ABOVE the exchange: the BigDecimal
    // round-trip × k columns is the per-row hot path, and with the cents
    // projection under the repartition it ran on the scan's 3 row-group
    // tasks (measured: 1.9 s of a_corr_matrix's 2.7 s wall in that one
    // stage) while 32 cores idled. A Project above Repartition is not
    // pushed down, so the conversion now runs post-exchange at session
    // parallelism; same values, same single evaluation per column.
    val proj = Par.widen(df.select(cols.map(col): _*))
      .select(cols.map(c => Exact.cents(col(c)).as(c)): _*)
    // Shape: explode each row into C(k,2) (pair, x, y) entries and hash-
    // aggregate BY PAIR with six accumulators. The flat one-row form
    // (6·C(k,2) aggregates in one wide agg) generates an update method
    // janino cannot fit under 64 KB — the whole stage silently drops to
    // interpreted Decimal evaluation, 10–40× slower; six aggregates over
    // a 28-key groupBy stay fully codegen'd, and the map-side combine
    // reduces each partition to C(k,2) rows before the (tiny) shuffle.
    // Exploded frame for a SUBSET of pairs (original pair indices kept):
    // since round 7 the magnitude dispatch is per-PAIR, so the decimal
    // regimes explode only the pairs that need them.
    def explodedFor(ps: Seq[((String, String), Int)]): DataFrame = {
      val entries = ps.map { case ((a, b), i) =>
        struct(lit(i).as("pi"), col(a).as("x"), col(b).as("y"))
      }
      proj.select(explode(array(entries: _*)).as("e"))
        .select(col("e.pi").as("pi"), col("e.x").as("x"), col("e.y").as("y"))
    }
    val allIdx = pairs.zipWithIndex
    val m = col("x").isNotNull && col("y").isNotNull
    // per-row gate: CaseWhen branches evaluate lazily, so rows past the
    // long-product domain never multiply (an ungated ANSI multiply would
    // abort the job; try_multiply would survive but evicts the stage
    // from codegen — 8× slower). Gated-out rows sum as NULL and force
    // mabs past the bound, so the guard always discards this pass before
    // the dropped products could matter.
    val safeB = lit(Exact.LongSafeCentsAbsMax)
    val inDomain = abs(col("x")) <= safeB && abs(col("y")) <= safeB
    def hi(c: Column): Column = shiftright(c, 32)
    def lo(c: Column): Column = c.bitwiseAND(lit(0xFFFFFFFFL))
    val pxy = col("x") * col("y")
    val pxx = col("x") * col("x")
    val pyy = col("y") * col("y")
    // exact at any magnitude (DECIMAL(19,0) multiplies), any row count
    def decimalAgg(ex: DataFrame): DataFrame =
      ex.groupBy("pi").agg(
        count(when(m, lit(1))).as("n"),
        sum(when(m, col("x")).cast(DecimalType(19, 0))).as("sx"),
        sum(when(m, col("y")).cast(DecimalType(19, 0))).as("sy"),
        sum(col("x").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0))).as("sxy"),
        sum(when(m, col("x").cast(DecimalType(19, 0)) * col("x").cast(DecimalType(19, 0)))).as("sxx"),
        sum(when(m, col("y").cast(DecimalType(19, 0)) * col("y").cast(DecimalType(19, 0)))).as("syy"))
    // Pre-flight: ONE tiny codegen aggregate over the RAW doubles (no
    // cents conversion, so it costs a vectorized scan of just these
    // columns) — row count + per-column max|value|. max|v|·100+100
    // conservatively bounds |cents|, so "bound < LongSafeCentsAbsMax"
    // PROVES every row of every column multiplies exactly in native
    // long — and the fast path can then drop the per-row domain gates
    // AND the decimal side-buffers entirely. Decimal accumulators are
    // the real cost of the hybrid form: precision-19 sums evict the
    // compact all-long aggregation buffer (~7-10x on the full matrix),
    // which is too high a price when the data is provably in-domain
    // (it virtually always is — the guard exists for key-like columns).
    // NaN/null maxes conservatively fail into the gated hybrid.
    val preAggs = count(lit(1)).as("__n") +:
      (cols.map(c => max(abs(col(c).cast("double"))).as(s"__m_$c")) ++
        cols.map(c => count(col(c)).as(s"__c_$c")))
    val pre = df.agg(preAggs.head, preAggs.tail: _*).collect()(0)
    val nRowsPre = pre.getLong(0)
    val hiLoRowSafe = nRowsPre <= Exact.HiLoSafeMaxRows
    // Per-COLUMN safety (round 7): the all-or-nothing form meant ONE
    // key-like column (e.g. a scale-up-offset orderkey whose cents top
    // 3·10⁹) demoted every pair of the matrix to the gated decimal-buffer
    // aggregate — 16× wall at 4× data. Only the pairs that touch an
    // unsafe column need decimal side-sums; the rest keep the compact
    // all-long buffers. An all-null column is "safe": it contributes no
    // products at all.
    val colSafe: Map[String, Boolean] = cols.zipWithIndex.map { case (c, i) =>
      c -> (pre.isNullAt(i + 1) || {
        val v = pre.getDouble(i + 1)
        !v.isNaN && v * 100.0 + 100.0 < Exact.LongSafeCentsAbsMax.toDouble
      })
    }.toMap
    val domainProvablySafe = cols.forall(colSafe)
    // No nulls anywhere (NaN already failed the domain bound above, so
    // "raw count == rows" really does mean every cents value lands) ⇒
    // pairwise-complete degenerates to all-rows and the per-PAIR n/Σx
    // equal the per-COLUMN ones — the matrix then needs no explode at
    // all: ONE flat all-long aggregate (k·3 column accumulators +
    // C(k,2)·2 product accumulators, no keys, no branches, no decimals)
    // and the 28× row fan-out disappears. 81 plain long sums codegen
    // comfortably under janino's 64 KB method limit — it was the 168
    // gated DECIMAL aggregates of the naive flat form that did not.
    val noNulls = cols.indices.forall(i =>
      pre.getLong(1 + cols.length + i) == nRowsPre)
    // fast path over a pair subset: ungated all-long hi/lo buffers,
    // fully codegen
    def gPureFor(ex: DataFrame): DataFrame = {
      val gPure = ex.groupBy("pi").agg(
        count(when(m, lit(1))).as("n"),
        sum(when(m, col("x"))).as("sx_l"),
        sum(when(m, col("y"))).as("sy_l"),
        sum(hi(pxy)).as("sxy_hi"),
        sum(lo(pxy)).as("sxy_lo"),
        sum(when(m, hi(pxx))).as("sxx_hi"),
        sum(when(m, lo(pxx))).as("sxx_lo"),
        sum(when(m, hi(pyy))).as("syy_hi"),
        sum(when(m, lo(pyy))).as("syy_lo"))
      def recomb(h: String, l: String): Column =
        when(col(h).isNull, lit(null).cast(DecimalType(38, 0)))
          .otherwise((col(h).cast(DecimalType(20, 0)) * lit(4294967296L) +
            col(l).cast(DecimalType(20, 0))).cast(DecimalType(38, 0)))
      gPure.select(col("pi"), col("n"),
        // long sums always fit width 19; cast 38 so the mixed-regime
        // unionByName with hybridFor's widened sx/sy needs no coercion
        col("sx_l").cast(DecimalType(38, 0)).as("sx"),
        col("sy_l").cast(DecimalType(38, 0)).as("sy"),
        recomb("sxy_hi", "sxy_lo").as("sxy"),
        recomb("sxx_hi", "sxx_lo").as("sxx"),
        recomb("syy_hi", "syy_lo").as("syy"))
    }
    // hybrid over a pair subset: in-domain rows update only long
    // buffers; out-of-domain rows update only the decimal side-sums —
    // one pass, exact at any magnitude, no probe/re-run
    def hybridFor(ex: DataFrame): DataFrame = {
      val xd = col("x").cast(DecimalType(19, 0))
      val yd = col("y").cast(DecimalType(19, 0))
      val gParts = ex.groupBy("pi").agg(
        count(when(m, lit(1))).as("n"),
        sum(when(m && inDomain, col("x"))).as("sx_l"),
        sum(when(m && inDomain, col("y"))).as("sy_l"),
        sum(when(inDomain, hi(pxy))).as("sxy_hi"),
        sum(when(inDomain, lo(pxy))).as("sxy_lo"),
        sum(when(m && inDomain, hi(pxx))).as("sxx_hi"),
        sum(when(m && inDomain, lo(pxx))).as("sxx_lo"),
        sum(when(m && inDomain, hi(pyy))).as("syy_hi"),
        sum(when(m && inDomain, lo(pyy))).as("syy_lo"),
        sum(when(m && !inDomain, xd)).as("sx_d"),
        sum(when(m && !inDomain, yd)).as("sy_d"),
        sum(when(!inDomain, xd * yd)).as("sxy_d"),
        sum(when(m && !inDomain, xd * xd)).as("sxx_d"),
        sum(when(m && !inDomain, yd * yd)).as("syy_d"))
      // width 38 on the S1 recombination: the long slot + decimal slot
      // sum passed 10¹⁹ at x64 on a key-like column (the same measured
      // 1.21·10¹⁹ that widened Exact.s1FromParts) — the slots are safe,
      // only this narrowing cast faulted. Downstream arithmetic is all
      // double (num/den above), so width never re-multiplies in decimal.
      def combS1(l: String, d: String): Column =
        when(col(l).isNull && col(d).isNull, lit(null).cast(DecimalType(38, 0)))
          .otherwise((coalesce(col(l).cast(DecimalType(19, 0)), lit(0)) +
            coalesce(col(d), lit(0))).cast(DecimalType(38, 0)))
      def combS2(h: String, l: String, d: String): Column =
        when(col(h).isNull && col(d).isNull, lit(null).cast(DecimalType(38, 0)))
          .otherwise((coalesce(col(h).cast(DecimalType(20, 0)) * lit(4294967296L), lit(0)) +
            coalesce(col(l).cast(DecimalType(20, 0)), lit(0)) +
            coalesce(col(d), lit(0))).cast(DecimalType(38, 0)))
      gParts.select(col("pi"), col("n"),
        combS1("sx_l", "sx_d").as("sx"),
        combS1("sy_l", "sy_d").as("sy"),
        combS2("sxy_hi", "sxy_lo", "sxy_d").as("sxy"),
        combS2("sxx_hi", "sxx_lo", "sxx_d").as("sxx"),
        combS2("syy_hi", "syy_lo", "syy_d").as("syy"))
    }
    // Flat no-explode aggregate over a pair SUBSET whose columns are all
    // provably in-domain AND null-free: pairwise-complete degenerates to
    // all-rows there, so per-pair n/Σx equal the per-column ones and the
    // ×|subset| row fan-out disappears — one all-long keyless aggregate
    // (3 accumulators per involved column + 2 per pair, no branches, no
    // decimals). sx/sy cast width 38 so the mixed-regime unionByName
    // with hybridFor needs no coercion (double finalization downstream
    // is width-blind).
    def flatFor(ps: Seq[((String, String), Int)]): DataFrame = {
      def hiF(c: Column): Column = shiftright(c, 32)
      def loF(c: Column): Column = c.bitwiseAND(lit(0xFFFFFFFFL))
      val subCols = ps.flatMap { case ((a, b), _) => Seq(a, b) }.distinct
      val colAggs = subCols.flatMap { c =>
        Seq(sum(col(c)).as(s"sx__$c"),
          sum(hiF(col(c) * col(c))).as(s"sxxh__$c"),
          sum(loF(col(c) * col(c))).as(s"sxxl__$c"))
      }
      val pairAggs = ps.flatMap { case ((a, b), i) =>
        Seq(sum(hiF(col(a) * col(b))).as(s"sxyh__$i"),
          sum(loF(col(a) * col(b))).as(s"sxyl__$i"))
      }
      val allAggs = count(lit(1)).as("n") +: (colAggs ++ pairAggs)
      val flat = proj.select(subCols.map(col): _*).agg(allAggs.head, allAggs.tail: _*)
      def recombF(h: String, l: String): Column =
        (col(h).cast(DecimalType(20, 0)) * lit(4294967296L) +
          col(l).cast(DecimalType(20, 0))).cast(DecimalType(38, 0))
      flat.select(explode(array(ps.map { case ((a, b), i) =>
          struct(lit(i).as("pi"), col("n").as("n"),
            col(s"sx__$a").cast(DecimalType(38, 0)).as("sx"),
            col(s"sx__$b").cast(DecimalType(38, 0)).as("sy"),
            recombF(s"sxyh__$i", s"sxyl__$i").as("sxy"),
            recombF(s"sxxh__$a", s"sxxl__$a").as("sxx"),
            recombF(s"sxxh__$b", s"sxxl__$b").as("syy"))
        }: _*)).as("e"))
        .select(col("e.*"))
    }
    // Null-freedom for a column subset, from the pre-flight counts: a
    // pair whose BOTH columns have zero nulls has pairwise-complete
    // n == nRows even when OTHER columns carry nulls.
    def noNullsFor(subCols: Seq[String]): Boolean = subCols.forall { c =>
      pre.getLong(1 + cols.length + cols.indexOf(c)) == nRowsPre
    }
    val g: DataFrame =
      if (!hiLoRowSafe) decimalAgg(explodedFor(allIdx))
      else if (domainProvablySafe && noNulls && nRowsPre > 0) flatFor(allIdx)
      else if (domainProvablySafe) gPureFor(explodedFor(allIdx))
      else {
        // mixed regime (round 7): pairs whose BOTH columns pass the
        // magnitude bound keep the compact all-long aggregate; only the
        // pairs touching an unsafe column carry decimal side-buffers.
        // The two aggregate subtrees each scan `proj` (when Par.widen is
        // a no-op there is no Exchange for ReuseExchange to dedup, and
        // column pruning narrows each scan to its own pairs' columns) —
        // a deliberate trade: two narrow columnar scans cost far less
        // than decimal buffers on every group (the pre-split all-or-
        // nothing form was 16× wall at 4× data; this one measured 7.0 s
        // vs 43.5 s at x4, sublinear 8.3 at x16). Since round 12 the
        // safe-pair side also takes the flat no-explode form when its
        // own columns are null-free (the honest-fixture x16 shape: ONE
        // key-like column past the cents bound demoted 21 null-free
        // safe pairs to a 21× fan-out).
        val (safeP, unsafeP) = allIdx.partition { case ((a, b), _) =>
          colSafe(a) && colSafe(b)
        }
        val safeSide =
          if (safeP.isEmpty) Nil
          else if (noNullsFor(safeP.flatMap { case ((a, b), _) => Seq(a, b) }.distinct)
                   && nRowsPre > 0)
            Seq(flatFor(safeP))
          else Seq(gPureFor(explodedFor(safeP)))
        val parts = safeSide ++
          (if (unsafeP.nonEmpty) Seq(hybridFor(explodedFor(unsafeP))) else Nil)
        parts.reduce(_ unionByName _)
      }
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nd * d("sxy") - d("sx") * d("sy")
    val den = sqrt(nd * d("sxx") - d("sx") * d("sx")) *
      sqrt(nd * d("syy") - d("sy") * d("sy"))
    val colA = element_at(array(pairs.map(p => lit(p._1)): _*), col("pi") + 1)
    val colB = element_at(array(pairs.map(p => lit(p._2)): _*), col("pi") + 1)
    // Static pair SPINE left-joined back in (the distinctCounts idiom):
    // an EMPTY input explodes to zero entries and would drop every pair
    // row, where pandas `df.corr()` (and the oracle's unconditional pair
    // grid) reports each pair with no observations — C(k,2) rows, n = 0,
    // corr NULL. The spine is ≤ C(k,2) rows, so the join is free.
    val spine = spark.range(pairs.length.toLong)
      .select(col("id").cast("int").as("pi"))
    spine.join(g, Seq("pi"), "left")
      .select(colA.as("col_a"), colB.as("col_b"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n") >= 2, round(num / nullif(den, lit(0.0)), 6)).as("corr"))
      .orderBy("col_a", "col_b")
  }

  /** Shannon entropy (nats) of each listed categorical column's value
    * distribution, plus its category count — the corpus-diversity metric a
    * mixture pipeline monitors next to the PMF (extension scope; no
    * reference counterpart). Nulls bucket as "NA" like D2.
    *
    * Plan shape: ONE exploded scan counts every (column, value) pair with
    * map-side combine (the chi2Multi idiom), then −Σ p·ln p runs through an
    * ordered cumulative window PARTITIONED BY column — fixed double
    * addition order per column, all columns in parallel, rounded to
    * `roundTo` dp. The window only ever sees the grouped category frame,
    * never data-sized input. */
  def categoryEntropy(df: DataFrame, cols: Seq[String], roundTo: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("ci"), coalesce(col(c).cast("string"), lit("NA")).as("k"))
      }: _*)).as("e"))
      .groupBy(col("e.ci").as("ci"), col("e.k").as("k"))
      .agg(count(lit(1)).as("cnt"))
    val wCi = Window.partitionBy("ci")
    val wCum = Window.partitionBy("ci").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = col("cnt").cast("double") / col("tot")
    val byCi = counts
      .withColumn("tot", sum("cnt").over(wCi))
      .withColumn("cum", sum(-p * log(p)).over(wCum))
      .groupBy("ci")
      .agg(count(lit(1)).as("n_categories"), round(max("cum"), roundTo).as("entropy"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    cols.zipWithIndex.map { case (c, i) =>
      val (n, h) = byCi.getOrElse(i, (0L, None))
      (c, n, h)
    }.sortBy(_._1).toDF("column", "n_categories", "entropy")
  }

  /** Mutual information (nats) between two categorical columns — the
    * dependence signal a feature audit reads next to [[categoryEntropy]]
    * (extension scope; no reference counterpart). Nulls bucket as "NA".
    *
    * MI = Σ_{x,y} (c_xy/N)·ln(N·c_xy / (c_x·c_y)) over exact integer
    * counts; every product stays a 64-bit integer (exact as a double up to
    * 2⁵³, far past any cell-count product here), so each term is one
    * float division + one `ln` on identical operands in any engine. The
    * sum runs through an ordered cumulative window — fixed addition
    * order — and rounds to `roundTo` dp, the [[categoryEntropy]] recipe.
    *
    * Plan shape: ONE map-side-combined count over (x, y), then marginals
    * and the ordered sum as windows over the grouped CELL frame
    * (|X|·|Y| rows, never data-sized). */
  def mutualInfo(df: DataFrame, colX: String, colY: String,
                 roundTo: Int = 6): DataFrame = {
    val cells = df
      .select(coalesce(col(colX).cast("string"), lit("NA")).as("x"),
        coalesce(col(colY).cast("string"), lit("NA")).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    val wAll = Window.partitionBy()
    val wCum = Window.partitionBy().orderBy("x", "y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = sum("cxy").over(wAll)
    val cx = sum("cxy").over(Window.partitionBy("x"))
    val cy = sum("cxy").over(Window.partitionBy("y"))
    val term = (col("cxy").cast("double") / col("n")) *
      log((col("n") * col("cxy")).cast("double") / (col("cx") * col("cy")).cast("double"))
    cells
      .withColumn("n", n).withColumn("cx", cx).withColumn("cy", cy)
      .withColumn("cum", sum(term).over(wCum))
      .agg(count(lit(1)).as("n_cells"), round(max("cum"), roundTo).as("mi"))
      .select(lit(colX).as("col_x"), lit(colY).as("col_y"),
        col("n_cells"), col("mi"))
  }

  /** Cramér's V — the normalized χ² association between two categorical
    * columns of ONE table ([0, 1]: 0 = independent, 1 = one determines
    * the other), completing the association family beside [[mutualInfo]]
    * (MI is in nats and unbounded; V is the comparable-across-pairs
    * effect size). Same scaffolding as MI: one (x, y) cell-count
    * aggregate, marginals as windows over the CELL frame (never a second
    * data scan), χ² terms as (n·cxy − cx·cy)²/(n·cx·cy) — numerator and
    * denominator are exact integer products cast once to double, summed
    * through the ordered cumulative window (fixed addition order =
    * oracle parity). Long products stay exact below ~10⁸ rows; past
    * that ANSI faults the overflow loudly rather than wrapping. Null on
    * a degenerate (single-category) margin. */
  def cramersV(df: DataFrame, colX: String, colY: String,
               roundTo: Int = 6): DataFrame = {
    val cells = df
      .select(coalesce(col(colX).cast("string"), lit("NA")).as("x"),
        coalesce(col(colY).cast("string"), lit("NA")).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
    // χ² runs over the FULL r×c grid: an unobserved (x, y) combination
    // contributes (0−E)²/E = E, which the observed-cells frame alone
    // would silently drop (a perfect 2×2 association then scores 1/√2,
    // not 1 — the spec's hand-computed case caught exactly this). The
    // grid is domain-sized (r·c rows), never data-sized.
    val grid = cells.select("x").distinct()
      .crossJoin(cells.select("y").distinct())
      .join(cells, Seq("x", "y"), "left_outer")
      .select(col("x"), col("y"), coalesce(col("cxy"), lit(0L)).as("cxy"))
    val wAll = Window.partitionBy()
    val wCum = Window.partitionBy().orderBy("x", "y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // χ² factors in DOUBLE, not Long: n·cx·cy overflows a Long past
    // ~10⁷ rows on a small grid (the x16 oracle run ANSI-faulted here —
    // 9.6M rows × two ~3.2M marginals ≈ 10²⁰). Double products are
    // bit-exact below 2⁵³ and round at relative 1e-16 beyond — invisible
    // under the 6-dp output rounding, and never a fault.
    val d = (col("n").cast("double") * col("cxy") -
      col("cx").cast("double") * col("cy"))
    val term = d * d /
      (col("n").cast("double") * col("cx") * col("cy"))
    grid
      .withColumn("n", sum("cxy").over(wAll))
      .withColumn("cx", sum("cxy").over(Window.partitionBy("x")))
      .withColumn("cy", sum("cxy").over(Window.partitionBy("y")))
      .withColumn("cum", sum(term).over(wCum))
      .agg(max("cum").as("chi2"), max("n").as("nn"),
        count_distinct(col("x")).as("rx"), count_distinct(col("y")).as("ry"))
      .select(lit(colX).as("col_x"), lit(colY).as("col_y"),
        when(least(col("rx") - 1, col("ry") - 1) > 0,
          round(sqrt(col("chi2") /
            (col("nn") * least(col("rx") - 1, col("ry") - 1)).cast("double")),
            roundTo)).as("cramers_v"))
  }

  /** Mergeable per-column moment state — the incremental-profile
    * primitive: profile each shard/batch INDEPENDENTLY, keep the tiny
    * (column, n, S1, S2, min, max) frame, and combine states with
    * [[mergeMomentStates]] instead of ever rescanning old data. Because
    * S1/S2 are exact decimal cents sums (order-independent integers),
    * merged statistics are BIT-IDENTICAL to a from-scratch pass — the
    * property that makes a 100 TB rolling profile trustworthy. One
    * exploded map-side-combined aggregate per call. */
  def momentState(df: DataFrame, cols: Seq[String]): DataFrame = {
    // hi/lo long accumulators inside the row ceiling (per-group n is
    // bounded by the input count), decimal sums past it — same exact
    // integers, same output schema either way
    val hiLo = graft.io.ScanStats.exactRowCount(df) <= Exact.HiLoSafeMaxRows
    val aggs = Seq(count(col("v")).as("n")) ++
      Exact.momentAggsPre(col("cv"), "v", hiLo) ++
      Seq(min(col("v")).as("mn"), max(col("v")).as("mx"))
    // explode + cents ABOVE the widen exchange (the corr fix): the k×
    // fan-out and the BigDecimal round-trip are the per-row cost, and a
    // few-split scan would run them on as many cores
    Par.widen(df.select(cols.map(col): _*))
      .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column"), col(c).cast("double").as("v"))
      }: _*)).as("e"))
      .select(col("e.column").as("column"), col("e.v").as("v"),
        Exact.cents(col("e.v")).as("cv"))
      .groupBy("column")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("column"), col("n"),
        Exact.s1Col("v", hiLo).as("s1"), Exact.s2Col("v", hiLo).as("s2"),
        col("mn"), col("mx"))
  }

  /** Combine any number of [[momentState]] frames: decimal sums add,
    * counts add, bounds min/max — a state-domain aggregate (rows =
    * |columns| per input, never data-sized). */
  def mergeMomentStates(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("column")
      .agg(sum("n").as("n"),
        // width 38 matches Exact.s1's widened output (x64 overflow fix)
        sum("s1").cast(DecimalType(38, 0)).as("s1"),
        sum("s2").cast(DecimalType(38, 0)).as("s2"),
        min("mn").as("mn"), max("mx").as("mx"))

  /** Publish (column, n, mean, std, min, max) from a moment state with
    * the [[Exact]] fixed-op-order arithmetic (sample std, ddof=1). */
  def statsFromMomentState(state: DataFrame): DataFrame =
    state.select(col("column"), col("n"),
        Exact.meanFromMoments(col("s1"), col("n")).as("mean"),
        Exact.stdFromMoments(col("s1"), col("s2"), col("n")).as("std"),
        col("mn").as("min"), col("mx").as("max"))
      .orderBy("column")

  /** A9 normalized category distribution (empirical PMF). The total comes
    * from a window over the (already tiny) grouped result — no second scan. */
  def categoryPmf(df: DataFrame, c: String): DataFrame = {
    val counts = df.groupBy(col(c).as("value")).agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("p", col("cnt").cast("double") / sum(col("cnt")).over(Window.partitionBy()))
      .orderBy(col("cnt").desc, col("value").asc_nulls_first)
  }
}

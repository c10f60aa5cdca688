package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Core relational surface (joins / aggregations / windows / set ops).
  *
  * The reference has no joins at all (SURVEY.md §2.7) but its harness tables
  * are TPC-H-shaped, and any realistic query against them needs the full
  * join/agg surface — all Catalyst built-ins, declared lazily so the
  * optimizer does pruning/pushdown/broadcast selection.
  *
  * Float determinism policy (oracle hash-parity with DuckDB): per-row double
  * arithmetic is IEEE-identical across engines, but multi-row double SUM/AVG
  * is order-dependent. Money-like sums are therefore accumulated as
  * low-scale decimals (per-row double→decimal cast at scale 2 is
  * cross-engine-unambiguous, decimal addition is exact, and products of
  * decimal-cast inputs stay exact rationals), then cast back to double. Averages divide the exact decimal sum by the
  * count in double space. This makes every aggregate bit-reproducible
  * regardless of partitioning, which is exactly what a 1000-executor run
  * needs for reproducible results too.
  */
object Relational {

  /** Money cast: exact decimal at scale 2. Scale is deliberately LOW — a
    * double→decimal(s) cast is cross-engine-unambiguous only when
    * |x|·10^s stays far below 2^53 (DuckDB rounds via double multiply);
    * at scale 2 the flip probability is ~1e-9 per row vs ~1e-3 at scale 8. */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Small-ratio cast (discount/tax ∈ [0,1], 2-decimal). */
  def pct(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Decimal literal 1.00 for exact (1−d)/(1+t) arithmetic. */
  def one: Column = lit(1).cast(DecimalType(3, 2))

  /** Exact, partitioning-independent sum of a money column. */
  def dsum(c: Column): Column = sum(money(c)).cast("double")

  /** Exact sum of an already-decimal expression. */
  def dsumExpr(c: Column): Column = sum(c).cast("double")

  /** Exact per-row revenue: extendedprice × (1 − discount), all decimal. */
  def revenueExpr: Column = money(col("l_extendedprice")) * (one - pct(col("l_discount")))

  /** TPC-H Q1-style pricing summary. One partial+final hash aggregate, no
    * sort until the final (tiny) result; scan reads only the 7 needed
    * columns (column pruning). Scales as a single map-side-combine shuffle
    * of ≤ |groups| rows per partition.
    *
    * Representation policy (beyond the file-level decimal-sum policy):
    * every money slot accumulates INTEGER units — cents, cent·pct-units
    * (scale 4), cent·pct²-units (scale 6) — summed as DECIMAL(38,0), and
    * the scale division happens in DOUBLE space with a fixed op order
    * (`CAST(Σ AS DOUBLE) / 10^s [/ n]`), the a8/Exact.meanSql recipe. A
    * fractional-scale decimal CAST to double is NOT portably rounded once
    * the unscaled value passes 2^53 (DuckDB divides two already-rounded
    * doubles — double rounding), which made this query's sums drift by
    * one ulp at 16× rows; a scale-0 decimal→double conversion rounds
    * exactly once in both engines at any magnitude. Per-row unit products
    * stay far inside long (≤ ~1.1e11), so this holds at any scale-up. */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val qc = Exact.cents(col("l_quantity"))
    val pc = Exact.cents(col("l_extendedprice"))
    val dc = Exact.cents(col("l_discount"))
    val tc = Exact.cents(col("l_tax"))
    val discU = pc * (lit(100L) - dc)
    val chargeU = discU * (lit(100L) + tc)
    def usum(u: Column): Column = sum(u.cast(DecimalType(38, 0))).cast("double")
    // widen the projected input (r15): the cents conversions + wide
    // DECIMAL(38,0) partial aggregation are the per-row cost, and a
    // 3-row-group scan ran them on 3 tasks (1.6 s of the row's 1.9 s
    // wall). Exact integer sums — partitioning-invariant; Par.widen is a
    // no-op on a real multi-split table.
    Par.widen(l.select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (usum(qc) / 100.0).as("sum_qty"),
        (usum(pc) / 100.0).as("sum_base_price"),
        (usum(discU) / 10000.0).as("sum_disc_price"),
        (usum(chargeU) / 1000000.0).as("sum_charge"),
        (usum(qc) / 100.0 / count(col("l_quantity"))).as("avg_qty"),
        (usum(pc) / 100.0 / count(col("l_extendedprice"))).as("avg_price"),
        (usum(dc) / 100.0 / count(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style: top-10 unshipped-revenue orders for one segment.
    * Shape at scale: filters push into all three parquet scans; customer
    * (filtered on segment) joins orders on custkey, result joins lineitem
    * on orderkey; AQE picks broadcast for the filtered customer side when
    * it fits. Total order enforced with a full tie-break so LIMIT 10 is
    * deterministic. */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = "1998-07-01"
    val c = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir).filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir).filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsumExpr(revenueExpr).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: revenue per nation for one region/year. Nation and
    * region are tiny at every scale factor → explicit broadcast.
    *
    * While the FILTERED orders side sits under Catalyst's own broadcast
    * threshold (the same optimizer estimate its join planning reads),
    * the direct join is strictly better: lineitem streams through four
    * broadcast joins with no fact-side exchange at all. Past it — the
    * x64 rehearsal measured the broadcast→SMJ flip at 38 M rows as this
    * row's curvature term — the fact side pre-aggregates per order
    * BELOW the orders join (the q18 pattern): revenue is a per-line
    * function summed per l_orderkey first, so the flipped plan's
    * exchanges move ~|orders| aggregated rows instead of ~4× that many
    * raw lines (parquet writes lines clustered by order, so map-side
    * combine collapses partials before the wire). Exactness makes the
    * dispatch free: both shapes sum integer units (the q1 recipe —
    * cents × pct-units in DECIMAL(38,0)) and decimal addition is
    * associative, so nation totals are bit-identical either way. */
  def q5LocalSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir)
    val revU = Exact.cents(col("l_extendedprice")) *
      (lit(100L) - Exact.cents(col("l_discount")))
    val lU = l.select(col("l_orderkey"), revU.cast(DecimalType(38, 0)).as("rev_u"))
    // dispatch on the COLUMN-PRUNED filtered-orders estimate (the two
    // join-surviving columns), with 2× headroom because the static
    // estimate ignores the date filter's selectivity and so over-states
    // what AQE will actually weigh at runtime (x16 measured: estimate
    // 10.3 MB vs a ~3 MB runtime side that broadcasts fine). A wrong
    // call in the direct direction degrades to the plain SMJ-of-lines
    // plan, never worse than the undispatched form.
    val oSmall = o.select(col("o_orderkey"), col("o_custkey"))
      .queryExecution.optimizedPlan.stats.sizeInBytes <=
      2 * spark.sessionState.conf.autoBroadcastJoinThreshold
    val fact =
      if (oSmall) lU
      else lU.groupBy(col("l_orderkey")).agg(sum(col("rev_u")).as("rev_u"))
    fact.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg((sum(col("rev_u")).cast("double") / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Left-semi join: order counts per priority among orders that have at
    * least one high-quantity line. Semi join avoids materializing the
    * (huge) matched lineitem rows — only the existence bit flows. */
  def qSemiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir).filter(col("l_quantity") >= 45.0)
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Left-anti join: customers with no orders, counted per market segment. */
  def qAntiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Window top-k: 3 highest-value orders per customer (row_number over a
    * per-customer ordering). One shuffle on o_custkey; the window rank
    * filter happens before any further join, so only k rows per key
    * survive. */
  def qWindowTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Range-frame rolling window: per supplier, trailing-7-day quantity
    * sum ordered by ship date (epoch-second range frame). One shuffle on
    * the partition key; exact cents accumulation keeps the running sums
    * bit-stable. */
  def qRollingSum(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("__ep"))
      .rangeBetween(-6L * 86400L, 0L)
    l.select(col("l_suppkey"), col("l_shipdate"),
        unix_timestamp(col("l_shipdate")).as("__ep"),
        money(col("l_quantity")).as("__q"))
      .withColumn("qty_7d", sum(col("__q")).over(w).cast("double"))
      .groupBy(col("l_suppkey"), col("l_shipdate"))
      .agg(max(col("qty_7d")).as("qty_7d"))
      .orderBy(col("l_suppkey"), col("l_shipdate"))
  }

  /** TPC-H Q6-style forecast revenue, expressed through the `spark.sql`
    * entry point over temp views — the SQL surface of the engine (same
    * Catalyst plan as the DataFrame form; the oracle runs the identical
    * statement). Exact decimal accumulation: DECIMAL(18,2)×DECIMAL(4,2)
    * products are exact rationals summed in decimal space. */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    // scoped view name: binding a global "lineitem" would silently pin
    // later spark.sql calls in the session to this sfDir's snapshot
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_q6_lineitem")
    spark.sql(q6Sql("graft_q6_lineitem"))
  }

  /** One statement for both engines (the oracle binds `lineitem`). */
  def q6Sql(table: String): String =
    s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
       |FROM $table
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24.0""".stripMargin

  /** Nearest-event join — the BIDIRECTIONAL sibling of the as-of join:
    * each click pairs with its temporally closest purchase (either
    * direction) within the band, ties broken on the smaller purchase id.
    * The pair space is an equi-join on user with the band as residual
    * (never a cross product), and the per-click winner is ONE `min` of a
    * lexicographic (|Δt|, id, ts) struct — a map-side-combinable
    * aggregate, not a rank window, so a hot user never serializes. */
  def qNearestEvent(spark: SparkSession, sfDir: String,
                    withinMinutes: Int = 30): DataFrame = {
    val us = withinMinutes.toLong * 60L * 1000000L
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val d = abs(unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
    clicks.join(purchases, Seq("user_id"))
      .filter(d <= us)
      .groupBy(col("click_id"))
      .agg(min(col("user_id")).as("user_id"), min(col("click_ts")).as("click_ts"),
        min(struct(d.as("delta_us"), col("purchase_id"),
          col("purchase_ts"))).as("w"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("w.purchase_id").as("nearest_purchase_id"),
        col("w.delta_us").as("delta_us"))
      .orderBy(col("click_id"))
  }

  /** Explicit GROUPING SETS with GROUPING() disambiguation — the general
    * form behind qRollup/qCube (one statement, both engines). The
    * GROUPING flags distinguish a subtotal NULL from a data NULL, which
    * rollup output alone cannot. Catalyst plans one Expand + one hash
    * aggregate — rows replicate only per matching set, not per cube
    * corner. */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("graft_gs_orders")
    spark.sql(qGroupingSetsSql("graft_gs_orders"))
  }

  /** One statement for both engines (the oracle binds `orders`). */
  def qGroupingSetsSql(table: String): String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n
       |FROM $table
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
       |                        (o_orderstatus, o_orderpriority))
       |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Correlated-subquery surface (one statement, both engines): customers
    * whose balance beats their market segment's average. The comparison
    * is cross-multiplied into decimal-exact integer arithmetic
    * (`bal · n > sum`) so no distributed-vs-single-node float AVG can
    * flip a boundary row — the same exactness policy as the aggregate
    * suite. Catalyst decorrelates the subqueries into one aggregate +
    * broadcast join; nothing per-row. The projected balance is cast
    * decimal→DOUBLE (correctly rounded, identical in both engines): raw
    * DECIMAL output columns hash differently across the gate's readers. */
  def qCorrSubquerySql(table: String): String =
    s"""SELECT c_custkey, c_mktsegment,
       |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
       |FROM $table c
       |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
       |    (SELECT COUNT(*) FROM $table c2
       |     WHERE c2.c_mktsegment = c.c_mktsegment) >
       |  (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM $table c2
       |   WHERE c2.c_mktsegment = c.c_mktsegment)
       |ORDER BY c_custkey""".stripMargin

  def qCorrSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("graft_qc_customer")
    spark.sql(qCorrSubquerySql("graft_qc_customer"))
  }

  /** Backward as-of join: each left row picks the LATEST right row with
    * the same key and right.time ≤ left.time (inclusive; DuckDB `ASOF
    * JOIN` semantics). Spark has no built-in as-of operator, so this
    * composes union + a running `last(ignoreNulls)` window — the sides
    * interleave on (time, side) inside one shuffle on the key, instead of
    * the naive inequality join whose candidate set explodes as
    * |left|·|right| per key. At 100 TB this is exactly one partitioned
    * sort-merge pass, the same shape Flink/kdb use for temporal joins.
    *
    * Rows of `right` sharing (key, time) are not deterministically ordered
    * — dedup the right side first if that matters (the catalog query
    * does). */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               rightPayload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val payloadType = StructType(rightPayload.map(n => right.schema(n)))
    val r2 = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__side"),
      struct(rightPayload.map(col): _*).as("__rv"))
    val l2 = left
      .withColumn("__k", col(leftKey)).withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(payloadType))
    val unioned = l2.unionByName(r2, allowMissingColumns = true)
    // right rows sort before left rows at equal time → inclusive match
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__match", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    rightPayload.foldLeft(matched) { (d, n) =>
      d.withColumn(n, col("__match").getField(n))
    }.drop("__k", "__t", "__side", "__rv", "__match")
  }

  /** As-of catalog query: each click event joined to the user's most
    * recent purchase at or before it. The purchase side is deduplicated
    * per (user, ts) first so the as-of pick is deterministic. */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val dedupW = Window.partitionBy(col("user_id"), col("purchase_ts")).orderBy(col("__pe"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"),
        col("event_id").as("__pe"))
      .withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1).drop("__rn", "__pe")
    // inner as-of (clicks with no prior purchase drop out): the gated
    // output carries no null timestamps — cross-engine null-timestamp
    // hashing is not contractually defined. Left-outer behavior is
    // covered by the asofJoin unit spec.
    asofJoin(clicks, purchases, "user_id", "user_id", "ts", "purchase_ts",
      Seq("purchase_ts", "purchase_value"))
      .filter(col("purchase_ts").isNotNull)
      .orderBy(col("event_id"))
  }

  /** Broadcast range join: lineitem rows land in static quantity bands
    * via a non-equi join against a tiny literal dimension — the planner
    * picks BroadcastNestedLoopJoin, which is the right physical shape for
    * a bounded band table at any fact-side scale (no shuffle of the fact
    * table at all; band assignment rides the scan). */
  def qRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      (1, 1.0, 11.0), (2, 11.0, 21.0), (3, 21.0, 31.0),
      (4, 31.0, 41.0), (5, 41.0, 51.0)
    ).toDF("band", "lo", "hi")
    val l = Tables.lineitem(spark, sfDir)
    l.join(broadcast(bands),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("band"))
  }

  /** Grouping sets via rollup: revenue by (status, priority) with
    * subtotals — exercises the multi-grouping aggregate surface. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Full cube: every grouping-set combination of (status, priority). */
  def qCube(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Pivot: quantity totals per return flag, line statuses as columns
    * (explicit value list so the plan needs no discovery pass — the right
    * form at scale; Spark compiles it to conditional aggregates, exactly
    * the FILTER form the oracle uses). */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    l.groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_quantity")))
      .orderBy(col("l_returnflag"))
  }

  /** FULL OUTER join (the one join type the rest of the catalog doesn't
    * exercise): high-balance customers vs high-balance suppliers counted
    * per nation — nations rich on only one side keep NULL on the other,
    * covering left-only, right-only, and matched rows in one result.
    * Both inputs pre-aggregate to ≤|nation| rows BEFORE the join, so the
    * outer join itself touches dimension-sized frames no matter how big
    * the fact tables get. */
  def qOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 9000.0)
      .groupBy(col("c_nationkey").as("ckey"))
      .agg(count(lit(1)).as("n_cust"))
    val s = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") > 9000.0)
      .groupBy(col("s_nationkey").as("skey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(s, col("ckey") === col("skey"), "full_outer")
      .select(coalesce(col("ckey"), col("skey")).as("nationkey"),
        col("n_cust"), col("n_supp"))
      .orderBy(col("nationkey"))
  }

  def qOuterJoinSql: String =
    """WITH c AS (SELECT c_nationkey AS ckey, COUNT(*) AS n_cust
      |  FROM customer WHERE c_acctbal > 9000.0 GROUP BY 1),
      |s AS (SELECT s_nationkey AS skey, COUNT(*) AS n_supp
      |  FROM supplier WHERE s_acctbal > 9000.0 GROUP BY 1)
      |SELECT COALESCE(ckey, skey) AS nationkey, n_cust, n_supp
      |FROM c FULL OUTER JOIN s ON ckey = skey
      |ORDER BY nationkey""".stripMargin

  /** Window-function sweep beyond top-k/rolling: lag, lead, rank,
    * dense_rank, ntile, percent_rank, cume_dist in ONE pass — they all
    * share a single (custkey)-partitioned sort, so Catalyst plans exactly
    * one shuffle + one sort for the whole suite. Ordering is made total
    * with the unique orderkey tiebreak; percent_rank/cume_dist are exact
    * rational divisions of ranks, identical across engines. */
  def qWindowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  def qWindowSuiteSql: String =
    """SELECT o_custkey, o_orderkey,
      |  LAG(o_orderkey, 1) OVER w AS prev_key,
      |  LEAD(o_orderkey, 1) OVER w AS next_key,
      |  CAST(RANK() OVER w AS INTEGER) AS rnk,
      |  CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
      |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey NULLS FIRST)
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** Set operations: INTERSECT / EXCEPT over the customer-order key
    * space (each is a distinct-ifying shuffle on the key). One LAZY plan —
    * both branches union into a single action, like every catalog entry. */
  def qSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey").as("key"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey").as("key"))
    val withOrders = c.intersect(o)
      .agg(count(lit(1)).as("n_customers")).select(lit("with_orders").as("segment"), col("n_customers"))
    val withoutOrders = c.except(o)
      .agg(count(lit(1)).as("n_customers")).select(lit("without_orders").as("segment"), col("n_customers"))
    withOrders.union(withoutOrders).orderBy(col("segment"))
  }

  /** TPC-H Q10-style returned-item reporting: revenue lost to returns per
    * customer over a 6-month order window, top 20. Shape at scale: the
    * date filter pushes into the orders scan and the returnflag filter
    * into the lineitem scan BEFORE either join; nation broadcasts; the
    * two fact-side joins shuffle on their keys and the final top-20 is a
    * TakeOrderedAndProject (no global sort materializes). */
  def q10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-07-01").cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir).filter(col("l_returnflag") === "R")
    val n = Tables.nation(spark, sfDir)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsumExpr(revenueExpr).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14-style promo revenue share: percent of one year's revenue
    * from PROMO-type parts. The part dimension broadcasts (it stays
    * dimension-sized at any SF); the fact scan reads only 4 columns with
    * the date range pushed down. Both sums accumulate exact decimals and
    * the percentage divides once in double space — bit-stable under any
    * partitioning. `SUM(CASE WHEN … THEN rev END)` ignores non-promo rows
    * as NULL on both engines, so no zero-literal decimal is needed. */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
    val p = Tables.part(spark, sfDir)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) * dsumExpr(when(col("p_type") === "PROMO", revenueExpr)) /
        dsumExpr(revenueExpr)).as("promo_revenue_pct"))
  }

  /** TPC-H Q18-style large-volume orders: orders whose total quantity
    * exceeds a threshold, with their customer. The HAVING side reduces
    * lineitem to ≤|orders| rows via one map-side-combinable aggregate
    * BEFORE any join — the join inputs are survivor-sized (46 rows at
    * sf0.01), so both subsequent joins broadcast under AQE no matter how
    * large lineitem is. Exact decimal quantity sums make the `> 300`
    * boundary unambiguous across engines. */
  def q18LargeOrders(spark: SparkSession, sfDir: String,
                     minQty: Int = 300): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(money(col("l_quantity"))).as("__sq"))
      .filter(col("__sq") > minQty)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("__sq").cast("double").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q19-style bracketed revenue: an OR-of-ANDs predicate mixing
    * both join sides (brand/size from part, quantity from lineitem).
    * Catalyst splits the disjunction: the part-only and lineitem-only
    * conjunct unions push into the respective scans as
    * `PushedFilters: Or(...)`, and the cross-side residual evaluates on
    * the broadcast-joined rows — the standard plan for "category bracket"
    * revenue at any scale. */
  def q19BracketRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    def bracket(brand: String, maxSize: Int, loQ: Double, hiQ: Double): Column =
      col("p_brand") === brand &&
        col("p_size").between(1, maxSize) &&
        col("l_quantity") >= loQ && col("l_quantity") <= hiQ
    val l = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bracket("Brand#1", 15, 1.0, 21.0) ||
              bracket("Brand#12", 25, 10.0, 30.0) ||
              bracket("Brand#23", 35, 20.0, 40.0))
      .agg(dsumExpr(revenueExpr).as("revenue"), count(lit(1)).as("n"))
  }

  /** TPC-H Q7-style volume shipping: yearly revenue flowing between two
    * nations in either direction. The only new shape in the suite: the
    * fact row resolves TWO dimension roles from ONE dimension table
    * (supplier nation and customer nation), each via its own broadcast
    * of the aliased nation frame — no self-join of facts, and the
    * nation-pair disjunction evaluates on dimension columns after both
    * broadcasts. Year bucketing rides the scan. */
  def q7VolumeShipping(spark: SparkSession, sfDir: String,
                       nationA: String = "NATION_1",
                       nationB: String = "NATION_2"): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp"))
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    val n1 = n.select(col("n_nationkey").as("__sk"), col("n_name").as("supp_nation"))
    val n2 = n.select(col("n_nationkey").as("__ck"), col("n_name").as("cust_nation"))
    l.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("__sk"))
      .join(broadcast(n2), col("c_nationkey") === col("__ck"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
              (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsumExpr(revenueExpr).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Stream-static enrichment join (the batch twin of the canonical
    * Structured Streaming pattern): each event enriched with its user's
    * market segment from the customer dimension, then aggregated per
    * (segment, event_type). The dimension broadcasts — in the streaming
    * form the same broadcast join runs per micro-batch with no state —
    * and the aggregate is one partial+final hash agg with exact cents. */
  def qEnrichEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    e.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Exact.cents(col("value"))).cast("double").as("total_cents"))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** Scalar-function sweep (SURVEY §2.7's "string/date/math library"
    * bullet, exercised explicitly): one projection over a filtered orders
    * slice touching the string, date, and math functions a user of the
    * engine reaches for first. Every function here is chosen for exact
    * cross-engine semantics (no rounding-mode or locale traps: `round`
    * on arbitrary doubles and locale-sensitive case mappings stay out).
    * Pure codegen, filter pushed to the scan. */
  def qScalarFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 1000)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_upper"),
        lower(col("o_orderstatus")).as("status_lower"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("o_orderpriority")).as("prio_len"),
        concat(col("o_orderstatus"), lit("-"),
          col("o_orderpriority")).as("status_prio"),
        trim(col("o_orderpriority")).as("prio_trim"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        abs(col("o_totalprice") * -1.0).as("abs_price"),
        floor(col("o_totalprice")).as("floor_price"),
        ceil(col("o_totalprice")).as("ceil_price"),
        greatest(col("o_totalprice"), lit(1000.0)).as("price_floor_1k"))
      .orderBy(col("o_orderkey"))
}

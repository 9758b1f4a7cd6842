package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Pins, Prefix, Tables}

/** Relational query inventory Q1–Q17 (SURVEY.md §2.4).
  *
  * The reference (naveen19991124/Map-Reduce) has no relational operators —
  * its whole dataflow API is `mapf`/`reducef` over string pairs
  * (src/mr/worker.go:142-143). These queries exercise the Spark built-ins
  * that cover every absent category of SURVEY.md §2.3 on the star schema.
  *
  * Determinism conventions (SURVEY.md §2.4): every query ends in a total
  * ORDER BY with explicit null placement; money/measure doubles are cast to
  * DECIMAL(12,4) before SUM (exact, order-insensitive), then ROUND(..,2) and
  * cast to DOUBLE so the result type is engine-neutral; counts/ranks are
  * cast to engine-neutral integer widths.
  *
  * Scale posture: all builders are pure DataFrame graphs — no driver-side
  * data, no collect. Joins against dimension tables (region/nation/customer)
  * stay broadcastable; fact-fact work shuffles on its natural key. Catalyst
  * handles pushdown/pruning; AQE handles skew at the 100 TB target.
  */
object Relational {
  import Tables.{apply => t}

  /** Exact decimal view of a monetary/measure double. 12,4 keeps DuckDB's
    * decimal-multiply width rules (w1+w2+1 <= 38) satisfied for products. */
  private def dec(c: Column): Column = c.cast(DecimalType(12, 4))
  /** Canonical output form of an exact aggregate: round half-up to cents,
    * then to DOUBLE (bit-identical across engines for 2-decimal values). */
  private def money(c: Column): Column = round(c, 2).cast(DoubleType)

  /** Q1 — scan + project + limit. TakeOrderedAndProject; scan must prune to
    * the 3 referenced columns (verified via explain in the spec).
    * l_quantity is part of the sort key because (l_orderkey, l_linenumber)
    * is NOT unique in the synthetic data at sf0.1 — the ORDER BY must be
    * total over every projected column or the limit boundary is
    * tie-ordered differently across engines. */
  def q01(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .limit(100)

  /** Q2 — filter predicates (range/date/between), TPC-H Q6 shape. The date
    * and numeric predicates all push to the parquet scan. */
  def q02(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    l.where(
        col("l_shipdate").cast(DateType) >= lit("1994-01-01").cast(DateType) &&
        col("l_shipdate").cast(DateType) <  lit("1995-01-01").cast(DateType) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        count(lit(1)).as("n"),
        money(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"))
  }

  /** Q3 — multi-measure hash aggregate, TPC-H Q1 shape. Partial+final
    * HashAggregate with map-side combine (free in Spark, absent in the
    * reference — src/mrapps/wc.go emits one KV per occurrence). */
  def q03(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate").cast(DateType) <= lit("1998-09-02").cast(DateType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        money(sum(dec(col("l_quantity")))).as("sum_qty"),
        money(sum(dec(col("l_extendedprice")))).as("sum_base"),
        money(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))).as("sum_disc_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Q4 — inner equi-join + aggregate. customer is the small side: Spark
    * broadcasts it under the default threshold; the aggregate then needs no
    * extra shuffle beyond the groupBy. */
  def q04(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy(col("c_mktsegment"))
  }

  /** Q5 — 5-table star join (TPC-H Q5 shape). region/nation/customer are
    * broadcast; the lineitem⋈orders backbone shuffles on orderkey once. */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region").where(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n"),
        money(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Q6 — left outer join + null-aware count: customers with zero orders. */
  def q06(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .where(col("n_orders") === 0)
      .orderBy(col("c_custkey"))
  }

  /** Q7 — left semi join (EXISTS). */
  def q07(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders").where(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n"))
  }

  /** Q8 — left anti join (NOT EXISTS): parts never shipped. */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    val l = t(spark, dir, "lineitem")
    p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
      .select(col("p_partkey"))
      .orderBy(col("p_partkey"))
  }

  /** Q9 — multiple exact distinct aggregates (expand + two-phase). */
  def q09(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_suppkey")).as("supps"))

  /** Q10 — ROLLUP with GROUPING markers. */
  def q10(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping(col("o_orderpriority")).cast(IntegerType).as("g1"),
        grouping(col("o_orderstatus")).cast(IntegerType).as("g2"),
        count(lit(1)).as("n"))
      .orderBy(
        col("g1"), col("g2"),
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** Q11 — ranking window: first 3 orders per customer. */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast(DateType), col("o_orderkey"))
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast(IntegerType).as("rn"))
      .where(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Q12 — running-frame window: cumulative spend per customer. Exact
    * decimal accumulation over a totally-ordered frame. */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast(DateType), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        money(sum(dec(col("o_totalprice"))).over(w)).as("run"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q13 — global top-k (TakeOrderedAndProject, no full sort at scale). */
  def q13(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(10)

  /** Q14 — set op: INTERSECT (distinct semantics). */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select(col("o_custkey").as("k"))
    val c = t(spark, dir, "customer").select(col("c_custkey").as("k"))
    o.intersect(c).orderBy(col("k")).limit(50)
  }

  /** Q15 — set op: EXCEPT (distinct semantics): customers minus orderers. */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey").as("k"))
    val o = t(spark, dir, "orders").select(col("o_custkey").as("k"))
    c.except(o).orderBy(col("k"))
  }

  /** Q16 — scalar string functions. */
  def q16(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .where(col("p_name").like("%blue%") || col("p_type").like("SMALL%"))
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("b"),
        length(col("p_name")).cast(IntegerType).as("len"),
        substring(col("p_type"), 1, 5).as("t5"),
        concat(col("p_brand"), lit("#"), col("p_size").cast(StringType)).as("tag"))
      .orderBy(col("p_partkey"))

  /** Q49 — CUBE: all grouping-set combinations with GROUPING markers
    * (completes the rollup/cube/grouping-sets family with q10). */
  def q49(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping(col("o_orderpriority")).cast(IntegerType).as("g1"),
        grouping(col("o_orderstatus")).cast(IntegerType).as("g2"),
        count(lit(1)).as("n"))
      .orderBy(
        col("g1"), col("g2"),
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  /** Q51 — exact DISCRETE percentiles: value at index ceil(p·n) of the
    * sorted group. Interpolated percentiles are NOT oracle-safe — Spark's
    * `percentile` and DuckDB's `quantile_cont` differ in the last ulp of
    * the interpolation, which flips ROUND boundaries (seen at sf0.001).
    * Discrete selection returns a raw data value: byte-identical across
    * engines, no float arithmetic beyond ceil(n·p) on identical doubles.
    * (Scale path: approx_percentile; the ordered collect here is the
    * oracle-parity form.) */
  def q51(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sort_array(collect_list(col("l_extendedprice"))).as("v"),
        count(lit(1)).as("n"))
      .select(
        col("l_returnflag"),
        element_at(col("v"), ceil(col("n") * lit(0.5d)).cast(IntegerType)).as("p50"),
        element_at(col("v"), ceil(col("n") * lit(0.95d)).cast(IntegerType)).as("p95"))
      .orderBy(col("l_returnflag"))

  /** q83 — q51's EXACT discrete percentiles with BOUNDED state: the third
    * leg of the percentile story (q51 = oracle-parity ordered collect,
    * single task per group; q60 = approximate sketch; q83 = exact AND
    * scale-safe). The per-group rank is [[graft.core.Prefix.before]]
    * grouped by flag: a group larger than one range partition SPANS
    * partitions instead of funnelling one task, and per-group state
    * everywhere else is one count per (partition, group). Only rows whose
    * rank hits a target ceil(p·n) survive into one tiny final pivot.
    *
    * Selection ranks need any total order per group — ties in value rank
    * arbitrarily but the k-th smallest VALUE is unique, so the result is
    * deterministic and byte-identical to q51 (same oracle SQL;
    * equivalence is also spec-asserted at P ∈ {4, 32} and with exchange
    * reuse off). */
  def q83(spark: SparkSession, dir: String): DataFrame = Pins.result { pins =>
    val ranked = Prefix.before(pins,
        t(spark, dir, "lineitem").select(col("l_returnflag").as("flag"),
          col("l_extendedprice").cast(DoubleType).as("v")),
        Seq("flag"), Seq(col("v")), lit(1L))
    val targets = ranked.groupBy(col("flag"))
      .agg(count(lit(1)).as("n"))
      .select(col("flag"),
        ceil(col("n") * lit(0.5d)).cast(LongType).as("k50"),
        ceil(col("n") * lit(0.95d)).cast(LongType).as("k95"))
    ranked
      .join(broadcast(targets), Seq("flag"))
      .select(col("flag"), (col("before") + 1L).as("rnk"),
        col("v"), col("k50"), col("k95"))
      .where(col("rnk") === col("k50") || col("rnk") === col("k95"))
      .groupBy(col("flag"))
      .agg(
        max(when(col("rnk") === col("k50"), col("v"))).as("p50"),
        max(when(col("rnk") === col("k95"), col("v"))).as("p95"))
      .select(col("flag").as("l_returnflag"), col("p50"), col("p95"))
      .orderBy(col("l_returnflag"))
  }

  /** Q60 — approximate percentiles: the 100 TB companion to q51. Where
    * q51's ordered `collect_list` buffers a whole group's values in ONE
    * task (fine for oracle parity, fatal when a returnflag group is ⅓ of
    * a 100 TB table), `approx_percentile` keeps a bounded
    * QuantileSummaries sketch per group with map-side partials — memory
    * is O(accuracy·log n) per group regardless of group size. accuracy
    * 10000 → rank error ≤ n/10000. No oracle (sketch-dependent values);
    * PercentileSpec binds it to q51 within the published rank bound. */
  def q60(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5d), lit(10000))
          .as("p50"),
        percentile_approx(col("l_extendedprice"), lit(0.95d), lit(10000))
          .as("p95"))
      .orderBy(col("l_returnflag"))

  /** q156 — INTERPOLATED equi-width-histogram quantiles: the third
    * quantile strategy (exact two-pass q83; GK sketch q60; histogram
    * interpolation here — the form a catalog/optimizer keeps as column
    * statistics, and the only one whose state is a fixed B-cell grid
    * that merges across slices by addition, the q143 property). Pass 1:
    * per-group min/max/count (algebraic, map-side). Pass 2: counts per
    * equi-width bucket. The quantile read interpolates linearly inside
    * the bucket containing rank p·n.
    *
    * Deterministic across engines because every float step is written
    * in the SAME operation order on bit-identical inputs (parquet
    * doubles, integer counts): width = (max−min)/B, bucket =
    * floor((v−min)/width) capped at B−1, est = min + width·(bucket +
    * (target − cumBefore)/cnt) — so the DuckDB oracle reproduces the
    * estimates EXACTLY, unlike the sketch (q60) whose values are
    * implementation-internal. The cumulative scan is a window over ≤ B
    * rows per group (bounded by construction — never data-sized). */
  def q156(spark: SparkSession, dir: String, b: Int = 64): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
    val stats = li.groupBy(col("g")).agg(
      min(col("v")).as("mn"), max(col("v")).as("mx"),
      count(lit(1)).as("n"))
      .withColumn("width", (col("mx") - col("mn")) / b)
    // width = 0 (a single-valued group) makes (v-mn)/width 0/0 = NaN; the
    // int cast then diverges between engines (Spark non-ANSI → 0, DuckDB →
    // error). Pin the degenerate group to bucket 0 explicitly — the
    // interpolation then reduces to mn + 0·(…) = mn in BOTH engines.
    val hist = li.join(broadcast(stats), Seq("g"))
      .select(col("g"),
        when(col("width") > 0,
          least(floor((col("v") - col("mn")) / col("width")).cast(IntegerType),
            lit(b - 1))).otherwise(lit(0)).as("bucket"))
      .groupBy(col("g"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val byG = Window.partitionBy(col("g")).orderBy(col("bucket"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        byG.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_before", col("cum") - col("cnt"))
    val targets = stats.select(col("g"), col("mn"), col("width"), col("n"))
      .crossJoin(spark.range(0, 3).select(
        element_at(array(lit(0.5d), lit(0.9d), lit(0.99d)),
          (col("id") + 1).cast(IntegerType)).as("p")))
      .withColumn("target", col("p") * col("n").cast(DoubleType))
    val pick = targets
      .join(cum.select(col("g"), col("bucket"), col("cum")), Seq("g"))
      .where(col("cum") >= col("target"))
      .groupBy(col("g"), col("p"), col("mn"), col("width"), col("target"))
      .agg(min(col("bucket")).as("bucket"))
    pick
      .join(cum.select(col("g"), col("bucket"), col("cnt"), col("cum_before")),
        Seq("g", "bucket"))
      .select(col("g").as("l_returnflag"), col("p"),
        round(col("mn") + col("width") *
          (col("bucket").cast(DoubleType) +
            (col("target") - col("cum_before").cast(DoubleType)) /
              col("cnt").cast(DoubleType)), 4).as("est"))
      .orderBy(col("l_returnflag"), col("p"))
  }

  /** Q38 — approximate distinct (HLL++): the 100 TB companion to q09's
    * exact distinct. rsd=2%; no oracle (sketch values are
    * implementation-specific) — accuracy asserted vs exact in the spec. */
  def q38(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("parts_approx"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("supps_approx"))

  /** Q17 — date/time extraction + aggregate. */
  def q17(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).cast(IntegerType).as("y"),
        month(col("o_orderdate")).cast(IntegerType).as("m"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("y"), col("m"))
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Cols._

/** Relational operator surface: scan/filter/project, aggregation,
  * all join flavors, window, sort/limit, set ops, pivot, rollup/cube.
  *
  * Scale notes (100 TB): dimension tables (region/nation/supplier/
  * customer/part) are broadcast — star joins never shuffle the fact
  * table by dim keys. Aggregations are declared via groupBy so Catalyst
  * inserts partial (map-side) aggregation. Filters sit directly on the
  * scan so parquet gets PushedFilters + pruned ReadSchema.
  */
object Relational {

  /** q01: TPC-H Q1 shape — scan → filter → groupBy → multi-aggregate. */
  def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        cents(sum(col("l_quantity"))).as("sum_qty"),
        cents(sum(col("l_extendedprice"))).as("sum_base_price"),
        cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        cents(avg(col("l_quantity"))).as("avg_qty"),
        cents(avg(col("l_extendedprice"))).as("avg_price"),
        bp(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** q02: statistical aggregates — min/max/stddev/median per group.
    * stddev and the interpolated median are discretized to cents; both
    * engines interpolate between the same two exact doubles. */
  def q02(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        cents(min(col("l_extendedprice"))).as("min_price"),
        cents(max(col("l_extendedprice"))).as("max_price"),
        cents(stddev_samp(col("l_extendedprice"))).as("stddev_price"),
        // Exact interpolated median here for the oracle; at 100 TB the
        // same query ships percentile_approx (mergeable sketch) instead.
        cents(expr("percentile(l_extendedprice, 0.5)")).as("median_price"),
        count(lit(1)).as("cnt"))

  /** q03: TPC-H Q3 shape — 3-way join → agg → top-k by revenue. */
  def q03(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li   = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** q04: EXISTS → left-semi join (TPC-H Q4 shape). */
  def q04(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-04-01").cast("timestamp"))
    val big = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
    ord.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** q05: 6-way star join → agg (TPC-H Q5 shape). Dims broadcast. */
  def q05(s: SparkSession, d: String): DataFrame = {
    val li  = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
  }

  /** q06: selective scan-filter-aggregate (TPC-H Q6 shape). */
  def q06(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(cents(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"),
           count(lit(1)).as("cnt"))

  /** q07: window functions — rank / row_number / partitioned sum. */
  def q07(s: SparkSession, d: String): DataFrame = {
    val w  = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val wp = Window.partitionBy(col("c_nationkey"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("acctbal"),
        rank().over(w).as("rnk"),
        row_number().over(w).as("rn"),
        cents(sum(col("c_acctbal")).over(wp)).as("nation_total"))
      .filter(col("rn") <= 5)
  }

  /** q08: global sort + limit with deterministic tie-breaks. */
  def q08(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("totalprice"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .orderBy(col("totalprice").desc, col("o_orderkey").asc)
      .limit(25)

  /** q09: distinct + count-distinct aggregates. */
  def q09(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"),
           countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"),
           count(lit(1)).as("n_rows"))

  /** q10: returned-item ranking (TPC-H Q10 shape). */
  def q10(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** q11: set operations — INTERSECT / EXCEPT / UNION ALL. */
  def q11(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    def custsIn(y: Int) = ord
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("custkey")).distinct()
    val a = custsIn(1996)
    val b = custsIn(1997)
    a.intersect(b).select(lit("both").as("tag"), col("custkey"))
      .unionAll(a.except(b).select(lit("only_1996").as("tag"), col("custkey")))
      .unionAll(b.except(a).select(lit("only_1997").as("tag"), col("custkey")))
  }

  /** q12: pivot (wide conditional aggregation) by linestatus. */
  def q12(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(cents(sum(col("l_quantity"))))
      .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")

  /** q13: left outer join + agg including empty groups (TPC-H Q13). */
  def q13(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
    Tables.customer(s, d)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** q14: conditional-aggregate ratio (TPC-H Q14 shape). */
  def q14(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1996-10-01").cast("timestamp"))
    li.join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg(bp(
        sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))) * lit(100.0) /
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("promo_pct"))
  }

  /** q15: full outer join of two aggregates — nations by premium
    * customers vs high-balance suppliers, empty sides surfaced as 0. */
  def q15(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_acctbal") > 7500)
      .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(s, d).filter(col("s_acctbal") > 7500)
      .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
    cust.join(supp, col("nk_c") === col("nk_s"), "full_outer")
      .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** q16: NOT EXISTS → left-anti join. */
  def q16(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d).filter(col("l_quantity") > 40)
    Tables.part(s, d)
      .join(big, col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("part_cnt"))
  }

  /** q17: per-group scalar subquery (avg) then filter (TPC-H Q17 shape).
    * l_quantity is integral so avg = exact-int-sum / count is
    * bit-deterministic across engines and orderings. */
  def q17(s: SparkSession, d: String): DataFrame = {
    val li  = Tables.lineitem(s, d)
    val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((avg(col("l_quantity")) * 0.5).as("half_avg_qty"))
    val smallParts = Tables.part(s, d).filter(col("p_size") <= 5)
    li.join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < col("half_avg_qty"))
      .agg(cents(sum(col("l_extendedprice")) / 7.0).as("avg_yearly"), count(lit(1)).as("cnt"))
  }

  /** q18: groupBy + HAVING on aggregate (TPC-H Q18 shape).
    * Quantities are integral doubles so the HAVING threshold is exact. */
  def q18(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("bo_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
    bigOrders
      .join(Tables.orders(s, d), col("bo_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        cents(col("o_totalprice")).as("totalprice"),
        cents(col("total_qty")).as("total_qty"))
  }

  /** q19: disjunctive multi-clause predicate (TPC-H Q19 shape). */
  def q19(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)  && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) && col("l_quantity").between(20, 30)))
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
           count(lit(1)).as("cnt"))
  }

  /** q20: explicit GROUPING SETS — per-returnflag and per-linestatus
    * marginals plus the grand total, in one pass. */
  def q20(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(cents(sum(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("cnt"))

  /** q21: ROLLUP hierarchical aggregate. */
  def q21(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(cents(sum(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("cnt"))

  /** q22: CUBE aggregate. */
  def q22(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(cents(sum(col("o_totalprice"))).as("sum_price"), count(lit(1)).as("cnt"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
              col("sum_price"), col("cnt"))

  /** q23: deterministic hash sampling — md5(key) last hex char selects a
    * stable 1/8 sample on any engine; the reproducible alternative to
    * rand()-based sampling for cross-system pipeline comparisons. */
  def q23(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string")), 32, 1).isin("0", "7"))
      .agg(count(lit(1)).as("n_sampled"),
           cents(sum(col("o_totalprice"))).as("sum_price"),
           min(col("o_orderkey")).as("min_key"),
           max(col("o_orderkey")).as("max_key"))

  /** q24: string-function surface — upper/lower, substring, concat_ws,
    * reverse, lpad, length — aggregated per brand. All codegen'd built-ins
    * (no UDFs), so the whole projection stays in one WholeStageCodegen. */
  def q24(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(length(col("p_name"))).as("sum_name_len"),
        max(upper(col("p_name"))).as("max_upper_name"),
        min(concat_ws("-", col("p_type"), col("p_name"))).as("min_type_name"),
        countDistinct(substring(col("p_name"), 1, 3)).as("n_prefixes"),
        min(lpad(reverse(col("p_name")), 12, "_")).as("min_rev_pad"))

  /** q25: date/time arithmetic — year/quarter extraction, ISO weekday,
    * day offsets, day-diffs to an anchor. Extraction functions sit
    * directly over the scan so partition pruning would apply on a
    * date-partitioned layout. */
  def q25(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("o_year"),
               quarter(col("o_orderdate")).as("o_quarter"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(month(col("o_orderdate"))).as("n_months"),
        countDistinct(weekday(col("o_orderdate")) + 1).as("n_isodows"),
        min(date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd")).as("min_plus30"),
        max(datediff(lit("1999-01-01").cast("date"), to_date(col("o_orderdate")))).as("max_days_to_eoy"))

  /** q26: array construction + (pos)explode — lateral word expansion of
    * part names with 1-based positions. The explode is map-side; only the
    * word aggregation shuffles. */
  def q26(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("pos0", "word")))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occurrences"),
           countDistinct(col("p_partkey")).as("n_parts"),
           bp(avg(col("pos0") + 1)).as("avg_pos_bp"))

  /** q27: regex surface — rlike filtering, global regexp_replace, and
    * match counting per language over documents. Patterns stick to the
    * RE2-compatible subset so Java regex and DuckDB RE2 agree. */
  def q27(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        sum(when(col("text").rlike("join [a-z]+ hash"), 1L).otherwise(0L)).as("n_join_hash"),
        sum(length(regexp_replace(col("text"), "[aeiou]", ""))).as("sum_novowel_len"),
        sum(size(expr("regexp_extract_all(text, '\\\\b(scan|join|merge)\\\\b', 0)"))).as("n_op_mentions"),
        count(lit(1)).as("n_docs"))

  /** q28: multi-quantile exact percentiles per group. Exact interpolated
    * `percentile` matches DuckDB's quantile_cont bit-for-bit (same two
    * doubles interpolated). At 100 TB the same query ships
    * percentile_approx (mergeable t-digest-style sketch) instead. */
  def q28(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))").as("qs"),
           count(lit(1)).as("cnt"))
      .select(col("l_returnflag"),
        cents(element_at(col("qs"), 1)).as("p25"),
        cents(element_at(col("qs"), 2)).as("p50"),
        cents(element_at(col("qs"), 3)).as("p75"),
        cents(element_at(col("qs"), 4)).as("p95"),
        col("cnt"))

  /** q29: skew-salted join — the hot-key mitigation pattern spelled out:
    * the probe side gets a deterministic salt in [0, S), the build side
    * is replicated S× with every salt value, and the join key becomes
    * (key, salt) so one hot key spreads over S reducers. shuffle_hash
    * hint forces the shuffle path (locally Spark would broadcast `part`
    * and hide the pattern under test). Result is salt-invariant, so the
    * oracle is the plain join. */
  def q29(s: SparkSession, d: String): DataFrame = {
    val S = 8
    val li = Tables.lineitem(s, d)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(S)).cast("int"))
    val partRep = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"),
        explode(array((0 until S).map(lit(_)): _*)).as("p_salt"))
    li.join(partRep.hint("shuffle_hash"),
        col("l_partkey") === col("p_partkey") && col("salt") === col("p_salt"))
      .groupBy(col("p_brand"))
      // per-ROW cents, then an exact long sum: a double sum's low bits
      // depend on partial-aggregation order, so cents(sum(..)) could
      // differ between the salted and plain plans whenever a group's
      // sum lands on a rounding boundary — the sf1 one-decade check
      // caught 6 such brands at 10x group width. Salt invariance must
      // be exact, not probabilistic.
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
           count(lit(1)).as("cnt"))
  }

  /** q80: FILTER-clause aggregation surface — per-group conditional
    * counts, conditional distinct counts, and conditional sums, the
    * `agg FILTER (WHERE …)` family. All one pass + one (expanded)
    * aggregate; Catalyst plans distinct aggregates via expand. */
  def q80(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("l_quantity") > 25, 1)).as("n_bulk"),
        countDistinct(when(col("l_quantity") > 25, col("l_orderkey"))).as("n_bulk_orders"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        cents(sum(when(col("l_discount") > 0.05,
          col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("disc_revenue"),
        count(lit(1)).as("n_rows"))

  /** q81: null semantics — nulls manufactured with nullif, then the
    * count(col) vs count(*) gap, null-skipping avg, coalesce fallback,
    * and null-safe equality, matching ANSI null behavior in both
    * engines. */
  def q81(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderpriority"),
        nullif(col("o_orderstatus"), lit("O")).as("st"),
        when(col("o_totalprice") > 150000, col("o_totalprice")).as("big_price"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("st")).as("n_nonnull_status"),
        count(col("big_price")).as("n_big"),
        cents(avg(col("big_price"))).as("avg_big"),
        sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_null_status"),
        sum(when(col("st") <=> lit("F"), 1L).otherwise(0L)).as("n_f_status"))

  /** q82: argmax/argmin surface — per group, the carrier of the extreme
    * value via max_by/min_by. Duplicate prices exist, so the ordering
    * value packs (price cents, orderkey) into one exact bigint —
    * deterministic and identically computable in the oracle (DuckDB's
    * arg_max accepts no struct ordering). */
  def q82(s: SparkSession, d: String): DataFrame = {
    val ord = cents(col("o_totalprice")) * lit(10000000L) + col("o_orderkey")
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"), ord).as("max_price_order"),
        min_by(col("o_orderkey"), ord).as("min_price_order"),
        cents(max(col("o_totalprice"))).as("max_price"),
        cents(min(col("o_totalprice"))).as("min_price"))
  }

  /** q83: unpivot/melt — wide per-flag aggregates to long
    * (flag, metric, value) rows via the built-in unpivot (an Expand
    * node: one pass, rows × metrics, no shuffle beyond the agg). */
  def q83(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(cents(sum(col("l_quantity"))).as("sum_qty"),
           cents(sum(col("l_extendedprice"))).as("sum_price"),
           count(lit(1)).as("n_rows"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_rows")),
        "metric", "value")

  /** q85: monthly revenue trend — date_trunc rollup plus a running
    * cumulative total over the (tiny) month series. The window runs
    * over the aggregated months, not the fact rows, so the global
    * ordering costs nothing at scale. Sums are discretized to cents
    * BEFORE the running total so the cumsum is exact integer math. */
  def q85(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(cents(sum(col("o_totalprice"))).as("revenue"), count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("month")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly.select(col("month"), col("revenue"), col("n_orders"),
      sum(col("revenue")).over(w).as("cum_revenue"))
  }

  /** q86: multiset set operations — INTERSECT ALL / EXCEPT ALL keep
    * duplicate multiplicity (min / difference of per-row counts), the
    * semantics the distinct variants in q11 cannot express. Spark plans
    * both as a single aggregate + generate, one shuffle each. */
  def q86(s: SparkSession, d: String): DataFrame = {
    val a = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 30).select(col("l_suppkey"), col("l_returnflag"))
    val b = Tables.lineitem(s, d)
      .filter(col("l_discount") >= 0.05).select(col("l_suppkey"), col("l_returnflag"))
    a.intersectAll(b).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_intersect"))
      .join(
        a.exceptAll(b).groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_except")),
        Seq("l_returnflag"), "full_outer")
      .select(col("l_returnflag"),
        coalesce(col("n_intersect"), lit(0L)).as("n_intersect"),
        coalesce(col("n_except"), lit(0L)).as("n_except"))
  }

  /** Bloom-prefiltered semi-join: build a Bloom filter over the build
    * side's keys (one aggregated row, broadcast), drop probe rows whose
    * key can't be present BEFORE any join shuffle, then an exact
    * left-semi join removes the false positives. When the build side is
    * too large to broadcast as a hash relation but its Bloom filter
    * (numBits/8 bytes) isn't, this cuts the probe-side shuffle to the
    * match rate + fpp — the decisive reduction for a selective semi-join
    * of a 100 TB fact table. The filter evaluates inside whole-stage
    * codegen on the scan, so pruned rows never reach the exchange.
    *
    * The residual exact join is written as distinct + INNER join (not
    * left_semi, though it's equivalent over a distinct build side):
    * Catalyst's PushLeftSemiLeftAntiThroughJoin would hoist a semi-join
    * below the Bloom probe, re-ordering the shuffle BEFORE the filter
    * and defeating the whole point. A plan spec pins the shape. */
  def bloomSemiJoin(probe: DataFrame, probeKey: String,
                    build: DataFrame, buildKey: String,
                    numBits: Int = 1 << 20): DataFrame = {
    import graft.functions.{BloomMightContain, F}
    import org.apache.spark.sql.GraftColumns
    // The filter arrives as a SCALAR SUBQUERY, not a broadcast-joined
    // column: the subquery executes once and its bytes become a runtime
    // constant in the predicate. A cross join would re-read the bitset
    // out of the broadcast row per probe row — an UnsafeRow getBinary
    // COPY of numBits/8 bytes per row, gigabytes of memcpy at scale.
    val bf = build.agg(F.bloomAgg(col(buildKey), numBits).as("bf"))
    val bfSub = org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      bf.queryExecution.analyzed)
    probe
      .filter(GraftColumns.wrap(BloomMightContain(
        bfSub, GraftColumns.unwrap(col(probeKey)), numBits, 5)))
      .join(build.select(col(buildKey)).distinct(),
        col(probeKey) === col(buildKey), "inner")
      .drop(buildKey)
  }

  /** q57: orders semi-joined to high-balance customers through the Bloom
    * prefilter, then aggregated per priority. Oracle: plain EXISTS. */
  def q57(s: SparkSession, d: String): DataFrame = {
    val rich = Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000).select(col("c_custkey"))
    bloomSemiJoin(Tables.orders(s, d), "o_custkey", rich, "c_custkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           cents(sum(col("o_totalprice"))).as("sum_price"))
  }

  /** q58: full analytic-window surface — lag/lead/ntile/percent_rank/
    * cume_dist over a unique (price, orderkey) order per priority
    * partition. rank-based outputs are deterministic because the
    * ordering key is unique. */
  def q58(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(s, d).select(
      col("o_orderkey"),
      col("o_orderpriority"),
      cents(lag(col("o_totalprice"), 1).over(w)).as("prev_price_c"),
      cents(lead(col("o_totalprice"), 1).over(w)).as("next_price_c"),
      ntile(4).over(w).as("tile"),
      bp(percent_rank().over(w)).as("pr_bp"),
      bp(cume_dist().over(w)).as("cd_bp"))
  }

  /** q92: value-RANGE window frames + positional value functions — the
    * window surface q58 doesn't cover. The RANGE frame aggregates every
    * order within $100 BELOW the current price (a value band, not a row
    * count — ties and gaps handled by the frame semantics), and
    * first/nth_value read positional keys off the growing default
    * frame. Prices are discretized to integer cents BEFORE the frame so
    * the band bound is exact on both engines. One shuffle on the
    * partition key; both frames evaluate in the same sorted partition. */
  def q92(s: SparkSession, d: String): DataFrame = {
    val wr = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price_c").asc)
      .rangeBetween(-10000L, 0L)
    val wo = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price_c").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("price_c"),
        count(lit(1)).over(wr).as("n_within_100"),
        sum(col("price_c")).over(wr).as("sum_within_100"),
        first_value(col("o_orderkey")).over(wo).as("cheapest_key"),
        nth_value(col("o_orderkey"), 2).over(wo).as("second_key"))
  }

  /** q93: bivariate statistical aggregates — covariance, Pearson
    * correlation, and least-squares regression of price on quantity per
    * return flag. All are single-pass partial-aggregatable moments
    * (sums of x, y, x², y², xy), so the shuffle carries five doubles per
    * group regardless of input size. Discretized to fixed-point on
    * export; ratios of large co-moments are stable far beyond bp
    * resolution across engines. */
  def q93(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        cents(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_c"),
        bp(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_bp"),
        cents(regr_slope(col("l_extendedprice"), col("l_quantity"))).as("slope_c"),
        cents(regr_intercept(col("l_extendedprice"), col("l_quantity"))).as("intercept_c"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n_pairs"))

  /** q59: ordered string aggregation — per nation, the sorted
    * comma-joined list of its 5 richest suppliers. collect_list +
    * sort_array is the distributed shape (bounded per group here);
    * ordering inside the aggregate keeps the output deterministic. */
  def q59(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
    Tables.supplier(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .groupBy(col("s_nationkey"))
      .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("top_suppliers"),
           count(lit(1)).as("n_top"))
  }

  /** Column PROFILE: per-column row count, non-null count, exact
    * distinct count, and min/max (as strings, so heterogeneous column
    * types share one schema). ONE pass over the table — all 4·N
    * aggregates run in a single aggregation (Spark plans the multiple
    * exact count-distincts as one Expand: the scan is read once and the
    * shuffle carries one expanded row per (row, distinct-column) pair).
    * The N-row result is assembled by exploding an array of structs over
    * the single aggregated row — no per-column scan, no union of N
    * subqueries. At 100 TB swap countDistinct for
    * approx_count_distinct and the Expand (the only super-linear term)
    * disappears; min/max/count are plain partial aggregates either way.
    * Doubles should be discretized by the caller before profiling —
    * min/max stringification is engine-specific for floats, exact for
    * integers, dates, and strings. */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
          countDistinct(col(c)).as(s"__d_$c"),
          min(col(c)).cast("string").as(s"__min_$c"),
          max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val rows = columns.map { c =>
      struct(lit(c).as("column_name"), col("__rows").as("n_rows"),
        col(s"__n_$c").as("n_vals"), col(s"__d_$c").as("n_distinct"),
        col(s"__min_$c").as("min_s"), col(s"__max_$c").as("max_s"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  /** q101: profile the orders table's key, status, and date columns.
    * The timestamp column is cast to date first — timestamp-to-string
    * rendering is engine-specific, date-to-string is not. */
  def q101(s: SparkSession, d: String): DataFrame =
    profile(
      Tables.orders(s, d)
        .withColumn("o_orderdate", col("o_orderdate").cast("date")),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"))

  /** HEAVY HITTERS: the k most frequent keys with their corpus share —
    * the diagnostic that decides which keys need salting/isolation
    * before a big join or aggregation (the q29/q52 mitigations assume
    * you know the hot keys; this finds them). One count aggregation,
    * then TakeOrderedAndProject for the top k; the grand total rides a
    * scalar one-row aggregate over the (already reduced) key counts,
    * broadcast into the projection — three scalar columns per key
    * shuffle-wide, never the raw rows. Share in basis points as exact
    * integer math. */
  def heavyHitters(df: DataFrame, key: String, k: Int): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col(key), col("n"),
        // div, not floor(/): fractional division detours through double
        // and goes inexact once n * 10000 exceeds 2^53.
        graft.functions.F.idiv(col("n") * 10000L, col("total")).as("share_bp"))
      .orderBy(col("n").desc, col(key).asc).limit(k)
  }

  /** q102: the 10 busiest users on the events stream. */
  def q102(s: SparkSession, d: String): DataFrame =
    heavyHitters(Tables.events(s, d), "user_id", 10)

  /** q107: correlated LATERAL subquery — per-nation top-3 customers by
    * account balance, expressed as SQL `JOIN LATERAL (... ORDER BY ...
    * LIMIT 3)`. Exercises Spark's lateral-join surface: Catalyst
    * decorrelates the per-row subquery into a partitioned window plan
    * (the same physical shape as topKPerGroup) rather than executing it
    * per driving row — declare the per-row semantics, let the optimizer
    * pick the set-based plan. */
  def q107(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("g_nation")
    Tables.customer(s, d).createOrReplaceTempView("g_customer")
    s.sql("""
      SELECT n.n_name, t.c_custkey, t.acctbal_c
      FROM g_nation n
      JOIN LATERAL (
        SELECT c_custkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_c
        FROM g_customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC
        LIMIT 3) t
    """)
  }

  /** Band (interval-dimension) lookup join: assign each row the bucket
    * of a tiny sorted-boundary dimension and aggregate per band. The
    * classic spelling is a non-equi range join (value BETWEEN lo AND
    * hi) — BroadcastNestedLoopJoin, O(rows × bands) comparisons; here
    * the boundaries compile into the codegen'd SearchSortedBucket
    * binary search (O(rows × log bands), stays inside whole-stage
    * codegen) and only the band LABELS ride a broadcast equi-join.
    * The shape an IP→geo or price→tier enrichment needs at 100 TB. */
  def bandLookup(df: DataFrame, value: Column, boundaries: Seq[Double],
                 labels: Seq[String])(spark: SparkSession): DataFrame = {
    require(labels.length == boundaries.length + 1, "one label per bucket")
    import spark.implicits._
    val dim = labels.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("band", "band_name")
    df.withColumn("band", graft.functions.F.rankBucket(value, boundaries))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), cents(sum(value)).as("sum_cents"))
      .join(broadcast(dim), "band")
      .select(col("band"), col("band_name"), col("n_orders"), col("sum_cents"))
  }

  /** q118: orders bucketed into price tiers by binary-search lookup. */
  def q118(s: SparkSession, d: String): DataFrame =
    bandLookup(Tables.orders(s, d), col("o_totalprice"),
      Seq(50000d, 100000d, 200000d, 300000d),
      Seq("lt50k", "50-100k", "100-200k", "200-300k", "gte300k"))(s)

  /** Data-quality expectation checks (the validation report a pipeline
    * gates a load on): each rule is a predicate counted over ONE scan —
    * conditional sums plus an exact distinct count for the uniqueness
    * rule share a single aggregation (multi-count-distinct Expand, the
    * q101 profiler shape), and the N-rule long-format report explodes
    * from that one agg row. No per-rule scans, no driver-side loop —
    * adding a rule adds a column to the same pass. */
  def expectations(df: DataFrame, uniqueKey: String,
                   rules: Seq[(String, Column)]): DataFrame = {
    val aggs = Seq(
      sum(when(col(uniqueKey).isNotNull, 1L).otherwise(0L)).as("n_keyed"),
      count(lit(1)).as("n_rows"),
      countDistinct(col(uniqueKey)).as("n_distinct")) ++
      rules.map { case (name, pred) =>
        sum(when(pred, 0L).otherwise(1L)).as(s"bad_$name") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val report = array(
      (struct(lit(s"${uniqueKey}_unique").as("rule"),
        (col("n_keyed") - col("n_distinct")).as("n_violations")) +:
       rules.map { case (name, _) =>
         struct(lit(name).as("rule"), col(s"bad_$name").as("n_violations")) }): _*)
    one.select(explode(report).as("r"), col("n_rows"))
      .select(col("r.rule").as("rule"), col("r.n_violations").as("n_violations"),
        col("n_rows"),
        (col("r.n_violations") === 0L).cast("int").as("pass"))
  }

  /** q120: expectation report over orders — range, domain, null and
    * uniqueness rules, one scan. */
  def q120(s: SparkSession, d: String): DataFrame =
    expectations(Tables.orders(s, d), "o_orderkey", Seq(
      "totalprice_le_400k" -> (col("o_totalprice") <= 400000d),
      "orderdate_le_2000" -> (col("o_orderdate") <= lit("2000-12-31").cast("date")),
      "status_in_domain" -> col("o_orderstatus").isin("O", "F"),
      "custkey_not_null" -> col("o_custkey").isNotNull))

  /** Per-group RANK (quantile) normalization: map each value to its
    * exact percent rank in basis points — the distribution-free feature
    * encode (exact integer: (rank−1)·10000 div (n−1), no doubles).
    * Needs a total order per group, so each group sorts once inside its
    * partition (one shuffle). At 100 TB swap exact ranks for
    * approxQuantile boundaries + the codegen'd SearchSortedBucket — the
    * rank-encoded z-order writer already ships that path; this is the
    * exact variant for group sizes a partition can sort. */
  def rankNormalize(df: DataFrame, group: String, id: String,
                    value: Column): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(value.asc, col(id).asc)
    df.withColumn("rank", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(group))))
      .select(col(id), col(group), (col("rank")).cast("long").as("rank"),
        graft.functions.F.idiv((col("rank") - 1L) * 10000L,
          greatest(col("n") - 1L, lit(1L))).as("rank_bp"))
  }

  /** q129: order totals rank-normalized within each order priority. */
  def q129(s: SparkSession, d: String): DataFrame =
    rankNormalize(Tables.orders(s, d), "o_orderpriority", "o_orderkey",
      col("o_totalprice"))

  /** χ² association between two categorical columns (is lang mix
    * independent of source? did the new crawl shift the distribution?):
    * one (a, b) count aggregation, marginals reduce the tiny cell table
    * and broadcast back, per-cell (obs−exp)²/exp quantized to micro
    * fixed point BEFORE the exact long sum (merge-order/engine
    * independent — a double Σ over cells flips tail bits across
    * partition counts). Returns one row: cells, dof, chi2_micro. */
  def chiSquare(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("obs"))
    val ra = cells.groupBy(col(a)).agg(sum(col("obs")).as("rt"))
    val rb = cells.groupBy(col(b)).agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).as("n"))
    // rt·ct in DOUBLE — two large marginals overflow a long silently
    // (the q292/simpsonAudit cross-product rule); oracle in lockstep
    val exp_ = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    cells.join(broadcast(ra), a).join(broadcast(rb), b)
      .crossJoin(broadcast(tot))
      .select(
        fixed((col("obs") - exp_) * (col("obs") - exp_) / exp_, 1000000L).as("term"),
        col(a), col(b))
      .agg(count(lit(1)).as("cells"),
        ((countDistinct(col(a)) - 1) * (countDistinct(col(b)) - 1)).as("dof"),
        sum(col("term")).as("chi2_micro"))
      .select(col("cells"), col("dof").cast("long").as("dof"), col("chi2_micro"))
  }

  /** q130: lang × source association over the documents table. */
  def q130(s: SparkSession, d: String): DataFrame =
    chiSquare(Tables.documents(s, d), "lang", "source")

  /** CRAMÉR'S V — the EFFECT SIZE q130's χ² deliberately isn't: χ²
    * grows linearly with n, so at corpus scale everything is
    * "significant" and the number says nothing about strength;
    * V = √(χ²/(n·(min(r,c)−1))) ∈ [0,1] is the scale-free association
    * strength (0 = independent, 1 = one column determines the other),
    * comparable across tables and corpus sizes — the number a feature
    * audit (q220's mutual information, q219's FDs) actually ranks by.
    *
    * Same per-cell micro-quantized term discipline as chiSquare, with
    * one deliberate divergence: the r×c grid is COMPLETED (zero cells
    * contribute their full (0−exp)²/exp = exp term) — for an effect
    * size the structural zeros ARE the association (a diagonal 2×2
    * table reaches V = 1 only because its off-diagonal empties count),
    * where q130's observed-cells χ² targets dense drift tables. The
    * grid completion is a broadcast cross join of the two marginal
    * tables — levels²-bounded, free at any corpus size. V is one
    * pinned-order double boundary √((χ²_micro/10⁶)/(n·(min−1))) in
    * bp. NULL when either side has a single level (min(r,c) = 1: no
    * association is definable). */
  def cramersV(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("obs"))
      .localCheckpoint() // feeds both marginals, the total, AND the grid
    val ra = cells.groupBy(col(a)).agg(sum(col("obs")).as("rt"))
    val rb = cells.groupBy(col(b)).agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).as("n"))
    val grid = broadcast(ra).crossJoin(broadcast(rb))
      .join(cells, Seq(a, b), "left")
      .na.fill(0L, Seq("obs"))
    // rt·ct in DOUBLE: two ~10¹² marginals overflow a long silently
    // (the simpsonAudit cross-product hazard); the oracle mirrors the
    // same double-first operand order
    val exp_ = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val m = grid
      .crossJoin(broadcast(tot))
      .select(
        fixed((col("obs") - exp_) * (col("obs") - exp_) / exp_, 1000000L)
          .as("term"),
        col(a), col(b), col("obs"))
      .agg(sum(col("obs")).as("n"), count(lit(1)).as("cells"),
        countDistinct(col(a)).as("r_levels"),
        countDistinct(col(b)).as("c_levels"),
        sum(col("term")).as("chi2_micro"))
    val minSide = least(col("r_levels"), col("c_levels"))
    m.select(col("n"), col("cells"), col("r_levels"), col("c_levels"),
      ((col("r_levels") - 1) * (col("c_levels") - 1)).cast("long").as("dof"),
      col("chi2_micro"),
      when(minSide <= 1L, lit(null).cast("long"))
        .otherwise(floor(
          sqrt((col("chi2_micro").cast("double") / lit(1000000d)) /
            (col("n").cast("double") * (minSide - 1L).cast("double"))) *
            lit(10000d) + lit(0.5d)).cast("long"))
        .as("cramers_v_bp"))
  }

  /** q292: order-priority × order-status association strength. */
  def q292(s: SparkSession, d: String): DataFrame =
    cramersV(Tables.orders(s, d), "o_orderpriority", "o_orderstatus")

  /** RFM segmentation (recency / frequency / monetary) of customers
    * from their order history. Scores are 1–4 by DISCRETE quartile
    * thresholds (percentile_disc — cut values are data members, exact
    * cross-engine), NOT a global ntile: the threshold aggregation
    * reduces per-customer scalars and broadcasts three cut rows back,
    * so no stage ever needs a total order over all customers (the
    * single-partition window a global ntile would force). Higher score
    * = better (more recent, more frequent, higher spend); segment packs
    * the three digits. */
  def rfmSegments(orders: DataFrame, custKey: String, orderDate: String,
                  total: Column): DataFrame = {
    val asOf = orders.agg(max(col(orderDate)).as("max_d"))
    val rfm = orders.crossJoin(broadcast(asOf))
      .groupBy(col(custKey))
      .agg(min(datediff(col("max_d"), col(orderDate))).cast("long").as("recency_days"),
           count(lit(1)).as("frequency"),
           cents(sum(total)).as("monetary_cents"))
    // All nine quartile cuts come out of ONE aggregation pass over the
    // per-customer table (three separate .agg calls would re-run the
    // final percentile aggregation three times).
    val dims = Seq("recency_days", "frequency", "monetary_cents")
    val cutCols = dims.flatMap(c => Seq(25, 50, 75).map(p =>
      expr(s"percentile_disc(0.$p) WITHIN GROUP (ORDER BY $c)")
        .cast("long").as(s"${c}_p$p")))
    val cuts = rfm.agg(cutCols.head, cutCols.tail: _*)
    def scoreUp(c: String) = // higher value → higher score
      lit(1L) + (col(c) >= col(s"${c}_p25")).cast("long") +
        (col(c) >= col(s"${c}_p50")).cast("long") +
        (col(c) >= col(s"${c}_p75")).cast("long")
    def scoreDown(c: String) = // lower value (recency) → higher score
      lit(4L) - ((col(c) >= col(s"${c}_p25")).cast("long") +
        (col(c) >= col(s"${c}_p50")).cast("long") +
        (col(c) >= col(s"${c}_p75")).cast("long"))
    rfm.crossJoin(broadcast(cuts))
      .select(col(custKey), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        (scoreDown("recency_days") * 100L + scoreUp("frequency") * 10L +
          scoreUp("monetary_cents")).as("segment"))
  }

  /** q131: RFM segments over the orders table. */
  def q131(s: SparkSession, d: String): DataFrame =
    rfmSegments(Tables.orders(s, d), "o_custkey", "o_orderdate",
      col("o_totalprice"))

  /** Cohort value matrix: customers cohorted by first-order month, each
    * cell (cohort_month, age_months) holding active-customer count and
    * spend — the retention/LTV curve input. Month indexes are exact
    * integers (year·12 + month); the per-customer cohort table joins
    * back on the customer key (one hash join, no window over orders).
    */
  def cohortValue(orders: DataFrame, custKey: String, orderDate: String,
                  total: Column): DataFrame = {
    val monthIdx = year(col(orderDate)) * 12 + month(col(orderDate))
    val firstM = orders.groupBy(col(custKey))
      .agg(min(monthIdx).cast("long").as("cohort_m"))
    orders.join(firstM, custKey)
      .groupBy(col("cohort_m"),
        (monthIdx - col("cohort_m")).cast("long").as("age_months"))
      .agg(countDistinct(col(custKey)).as("n_customers"),
           count(lit(1)).as("n_orders"),
           cents(sum(total)).as("sum_cents"))
  }

  /** q132: first-order-month cohort × age matrix over orders. */
  def q132(s: SparkSession, d: String): DataFrame =
    cohortValue(Tables.orders(s, d), "o_custkey", "o_orderdate",
      col("o_totalprice"))

  /** Deterministic DENSE surrogate ids 0..n−1 in `key` order — the
    * dimension-building primitive `monotonically_increasing_id` can't
    * give (its ids are partition-dependent and sparse) and a global
    * `row_number()` window mustn't (it drags every row through ONE
    * partition). Range-repartition on the key, sort within partitions,
    * then zipWithIndex: per-partition counts are one tiny driver round
    * so each partition adds its exact global offset — O(rows/partition)
    * memory, never a global sort on one node. The OUTPUT is independent
    * of the (sampled, nondeterministic) range boundaries: ids depend
    * only on the total key order. This is the one genuinely
    * per-partition-imperative operator in the library — the documented
    * RDD escape hatch. */
  def denseIds(df: DataFrame, key: String, partitions: Int = 32): DataFrame = {
    val sorted = df.repartitionByRange(partitions, col(key))
      .sortWithinPartitions(col(key))
    val schema = sorted.schema.add("dense_id", org.apache.spark.sql.types.LongType)
    sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
      }, schema)
  }

  /** q138: dense ids for the customer dimension in custkey order. */
  def q138(s: SparkSession, d: String): DataFrame =
    denseIds(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
      "c_custkey")

  /** RECURSIVE hierarchy traversal (org chart / category tree / BOM):
    * every node labeled with its root and depth via Spark 4's native
    * `WITH RECURSIVE` — each iteration is one join against the frontier
    * (same distributed shape as the hand-rolled label-propagation loop
    * in Dedup.clusters, but planned by the engine and stoppable by the
    * recursion's own emptiness check). Generic over ANY (node, parent)
    * relation: callers supply the parent key and root predicate as
    * Columns. The temp view backing the SQL recursion gets a unique
    * name and is dropped as soon as the plan is analyzed — no session
    * state is clobbered or leaked. */
  def hierarchy(nodes: DataFrame, key: String, parent: Column,
                isRoot: Column): DataFrame = {
    val spark = nodes.sparkSession
    val view = s"graft_hier_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    nodes.select(col(key).as("k"), parent.as("parent"), isRoot.as("is_root"))
      .createOrReplaceTempView(view)
    try {
      // spark.sql analyzes eagerly — the resolved plan no longer needs
      // the view, so it can drop in the finally.
      spark.sql(s"""
        WITH RECURSIVE h(k, root_key, depth) AS (
          SELECT k, k, CAST(0 AS BIGINT) FROM $view WHERE is_root
          UNION ALL
          SELECT n.k, h.root_key, h.depth + 1
          FROM $view n JOIN h ON n.parent = h.k
          WHERE NOT n.is_root
        ) SELECT k AS $key, root_key, depth FROM h""")
    } finally spark.catalog.dropTempView(view)
  }

  /** q140: depth + root for the digit-shift customer forest
    * (parent = key div 10, roots = single-digit keys). */
  def q140(s: SparkSession, d: String): DataFrame =
    hierarchy(Tables.customer(s, d).select(col("c_custkey")), "c_custkey",
      expr("c_custkey div 10"), col("c_custkey") < 10)

  /** DYNAMIC pivot: one row per ship mode × return flag with the value
    * columns discovered from the data (Spark runs a distinct pass, then
    * plans the conditional aggregation — two scans, same final plan as
    * a static pivot). */
  def q139(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag")
      .agg(cents(sum(col("l_extendedprice"))))

  /** Market-basket CO-OCCURRENCE: item pairs bought together in the
    * same order, counted once per order, top-k by support — the
    * frequent-itemset (pairs) miner behind recommendations.
    *
    * Scale shape: the naive formulation is a lineitem SELF-JOIN on the
    * order key — at 100 TB that shuffles the fact table twice and its
    * skew follows the largest basket. Instead each order reduces to its
    * sorted distinct item array (one aggregation), and pairs explode
    * WITHIN the basket row — fan-out bounded by basket size squared
    * (baskets are small by nature; a pathological mega-basket would be
    * capped or sampled upstream), and the only shuffle after the basket
    * aggregation carries (pair, partial count). */
  def coPurchasePairs(items: DataFrame, basket: String, item: String,
                      k: Int): DataFrame = {
    val baskets = items.select(col(basket).as("bk"), col(item).as("it"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("arr"))
    val pairs = baskets
      .select(posexplode(col("arr")).as(Seq("i", "part_a")), col("arr"))
      .select(col("part_a"),
        explode(slice(col("arr"), col("i") + lit(2),
          size(col("arr")) - col("i") - lit(1))).as("part_b"))
    pairs.groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a").asc, col("part_b").asc)
      .limit(k)
  }

  /** q68: top-20 co-purchased part pairs across orders. */
  def q68(s: SparkSession, d: String): DataFrame =
    coPurchasePairs(Tables.lineitem(s, d), "l_orderkey", "l_partkey", 20)

  /** LINK PREDICTION by ADAMIC–ADAR (round 13) — the graph family's
    * forward-looking member: q68/q165 score pairs that DID co-occur;
    * link prediction scores pairs that HAVEN'T yet but share
    * neighbors, down-weighting hub neighbors by 1/log(deg) (a shared
    * niche item is strong evidence, a shared bestseller is none) —
    * the classic recommendation/graph-completion baseline. Common
    * neighbors ride the same wedge join; the log is the EXACT integer
    * 64·log2 (Text.lg64): every wedge center has degree ≥ 2, the
    * per-center term ⌊64·10⁶ / lg64(deg z)⌋ is floored BEFORE the sum
    * (the q338/q323 per-term discipline), so the score replays
    * bit-for-bit. Existing edges are anti-joined out; top-k by
    * (aa DESC, a ASC, b ASC).
    *
    * Scale (100 TB): edges from the basket-array fan-out (never a
    * fact self-join), support-thinned; the wedge join is
    * Σ deg(z)² — bounded by the measured max-degree profile (the
    * q190/q274 family band); the lg table is DISTINCT-DEGREE-sized
    * (≤ max degree values, a model-sized driver fold broadcast
    * back). */
  def linkPrediction(items: DataFrame, basket: String, item: String,
                     minSupport: Long, k: Int): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val baskets = items.select(col(basket).as("bk"), col(item).as("it"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("arr"))
    val edges = baskets
      .select(posexplode(col("arr")).as(Seq("i", "a")), col("arr"))
      .select(col("a"), explode(slice(col("arr"), col("i") + lit(2),
        size(col("arr")) - col("i") - lit(1))).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
      .select(col("a"), col("b")).localCheckpoint()
    val und = edges.unionByName(
      edges.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("z")).agg(count(lit(1)).as("dz"))
      .localCheckpoint()
    // exact integer 64*log2 per DISTINCT degree value — model-sized
    val lgTbl = deg.select(col("dz")).distinct().collect()
      .map(r => r.getLong(0)).sorted
      .map(n => (n, graft.ops.Text.lg64(n))).toSeq
      .toDF("dz", "lg")
    val wedges = und.select(col("a").as("u"), col("b").as("z"))
      .join(und.select(col("a").as("z"), col("b").as("v")), "z")
      .where(col("u") < col("v"))
    val scored = wedges
      .join(deg, "z").join(broadcast(lgTbl), "dz")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(graft.functions.F.idiv(lit(64000000L), col("lg"))).as("aa_q"))
    scored
      .join(edges.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_q").desc, col("u").asc, col("v").asc)
      .limit(k)
      .select(col("u").as("item_a"), col("v").as("item_b"),
        col("common_neighbors"), col("aa_q"))
  }

  /** q346: top-20 predicted part links over the support-2 co-purchase
    * graph. */
  def q346(s: SparkSession, d: String): DataFrame =
    linkPrediction(Tables.lineitem(s, d), "l_orderkey", "l_partkey", 2L, 20)

  /** ASSOCIATION LIFT over co-purchase pairs: lift(a,b) =
    * N·n(a,b) / (n(a)·n(b)) — raw support (q68) rewards popular items;
    * lift finds pairs bought together MORE than their popularities
    * predict, which is the actual recommendation signal. Exact milli
    * fixed point via decimal(38,0) products (N·n_ab·10³ outgrows Long
    * on a 100 TB fact table), with a minimum-support floor so
    * single-occurrence noise pairs (lift ≈ N) can't top the ranking.
    *
    * Scale shape: q68's basket-array discipline — pairs explode within
    * the basket row, never a fact self-join; the item-frequency table
    * is item-keyed (vocabulary-sized) and joins the pair table on each
    * side; the basket count is one broadcast scalar row. */
  def coPurchaseLift(items: DataFrame, basket: String, item: String,
                     minSupport: Long, k: Int): DataFrame = {
    val baskets = items.select(col(basket).as("bk"), col(item).as("it"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("arr"))
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = baskets
      .select(explode(col("arr")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("n_it"))
    val pairs = baskets
      .select(posexplode(col("arr")).as(Seq("i", "part_a")), col("arr"))
      .select(col("part_a"),
        explode(slice(col("arr"), col("i") + lit(2),
          size(col("arr")) - col("i") - lit(1))).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    pairs
      .join(itemCnt.select(col("it").as("part_a"), col("n_it").as("n_a")), "part_a")
      .join(itemCnt.select(col("it").as("part_b"), col("n_it").as("n_b")), "part_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("part_a"), col("part_b"), col("n_ab"),
        graft.functions.F.idiv(
          lit(1000L) * col("n_baskets").cast("decimal(38,0)") * col("n_ab"),
          col("n_a").cast("decimal(38,0)") * col("n_b")).as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("part_a").asc, col("part_b").asc)
      .limit(k)
  }

  /** q165: top-20 part pairs by association lift at support ≥ 3. */
  def q165(s: SparkSession, d: String): DataFrame =
    coPurchaseLift(Tables.lineitem(s, d), "l_orderkey", "l_partkey", 3L, 20)

  /** ITEM-ITEM COLLABORATIVE FILTERING — the recommender table: for
    * EVERY item its top-N neighbors by co-occurrence cosine
    * n_ij/√(n_i·n_j). The difference from q165 is who gets served:
    * lift's global ranking surfaces the corpus's strongest pairs;
    * a recommender must answer "what goes with THIS item" for every
    * item, so the ranking is per-item (a window over the item's own
    * pair list), and cosine is the convention because it saturates —
    * a neighbor can't outrank everything by sheer popularity the way
    * raw support does.
    *
    * Scale: q68's basket-array discipline (pairs explode within the
    * basket row, never a fact self-join), a support floor keeps the
    * pair table sparse, the frequency join is vocabulary-sized, and
    * the per-item window partitions on the item key. cos_bp is one
    * pinned double boundary (q283 convention). */
  def itemNeighbors(items: DataFrame, basket: String, item: String,
                    minSupport: Long, per: Int): DataFrame = {
    require(minSupport >= 1L && per >= 1)
    val baskets = items.select(col(basket).as("bk"), col(item).as("it"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("arr"))
      .localCheckpoint() // feeds item counts AND the pair fan-out
    val itemCnt = baskets
      .select(explode(col("arr")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("n_it"))
    val pairs = baskets
      .select(posexplode(col("arr")).as(Seq("i", "part_a")), col("arr"))
      .select(col("part_a"),
        explode(slice(col("arr"), col("i") + lit(2),
          size(col("arr")) - col("i") - lit(1))).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
      .localCheckpoint() // read twice by the symmetric union
    val sym = pairs.unionAll(pairs.select(col("part_b").as("part_a"),
      col("part_a").as("part_b"), col("n_ab")))
    val scored = sym
      .join(itemCnt.select(col("it").as("part_a"), col("n_it").as("n_a")),
        "part_a")
      .join(itemCnt.select(col("it").as("part_b"), col("n_it").as("n_b")),
        "part_b")
      .select(col("part_a").as("part"), col("part_b").as("neighbor"),
        col("n_ab"),
        floor(lit(10000d) * col("n_ab").cast("double") /
          (sqrt(col("n_a").cast("double")) * sqrt(col("n_b").cast("double")))
          + lit(0.5d)).cast("long").as("cos_bp"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("part"))
          .orderBy(col("cos_bp").desc, col("neighbor").asc)).cast("long"))
      .where(col("rank") <= per)
      .select(col("part"), col("rank"), col("neighbor"), col("n_ab"),
        col("cos_bp"))
  }

  /** q305: top-3 cosine neighbors per part at support ≥ 3. */
  def q305(s: SparkSession, d: String): DataFrame =
    itemNeighbors(Tables.lineitem(s, d), "l_orderkey", "l_partkey", 3L, 3)

  /** k-ANONYMITY audit — the governance gate before releasing or
    * training on user-attribute data: every combination of
    * quasi-identifier values must be shared by at least k records, or
    * the records in that combination are re-identifiable. Returns one
    * row per quasi-identifier combination with its population and the
    * verdict; the release rule is "suppress or generalize every
    * is_k_anon = 0 combination". One hash shuffle on the quasi-id
    * tuple — the same linear shape as any groupBy, so the audit costs
    * one aggregation at any corpus size. */
  def kAnonymity(df: DataFrame, quasiIds: Seq[Column], k: Long): DataFrame =
    df.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("is_k_anon", (col("n") >= k).cast("int"))

  /** q183: customer k-anonymity over (nation, market segment,
    * account-balance $1000 band) at k = 5. */
  def q183(s: SparkSession, d: String): DataFrame =
    kAnonymity(Tables.customer(s, d),
      Seq(col("c_nationkey").cast("int").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000d).cast("long").as("bal_band")),
      5L)

  /** L-DIVERSITY AUDIT (round 11; q183's k-anonymity finished
    * properly): k-anonymity alone leaves the homogeneity attack open —
    * a 50-member equivalence class is useless protection when all 50
    * share the sensitive value. Per quasi-identifier class: size,
    * DISTINCT sensitive values (the l in l-diversity), the dominant
    * value's share in bp (the attacker's confidence), and the two
    * pass flags. One aggregation to (class, sensitive) cells, one
    * rollup — never a row-level shuffle beyond the first. */
  def lDiversity(df: DataFrame, quasiIds: Seq[Column], sensitive: Column,
                 k: Long, l: Long): DataFrame = {
    val cells = df.groupBy(quasiIds :+ sensitive.as("sv"): _*)
      .agg(count(lit(1)).as("c"))
    val names = cells.columns.dropRight(2) // the quasi-id output names
    cells.groupBy(names.map(col): _*)
      .agg(sum(col("c")).as("n"), count(lit(1)).as("l_distinct"),
        max(col("c")).as("top_c"))
      .select(names.map(col) :+ col("n") :+ col("l_distinct") :+
        graft.functions.F.idiv(lit(10000L) * col("top_c"), col("n"))
          .as("top_share_bp") :+
        (col("n") >= k).cast("int").as("is_k_anon") :+
        (col("l_distinct") >= l).cast("int").as("is_l_diverse"): _*)
  }

  /** q257: the q183 classes audited for sensitive-value diversity —
    * sensitive attribute = the customer's order priority mix proxy
    * (mktsegment is quasi; use nation-band classes with segment as
    * the sensitive value), k = 5, l = 3. */
  def q257(s: SparkSession, d: String): DataFrame =
    lDiversity(Tables.customer(s, d),
      Seq(col("c_nationkey").cast("int").as("nation"),
        floor(col("c_acctbal") / 1000d).cast("long").as("bal_band")),
      col("c_mktsegment"), 5L, 3L)

  /** t-CLOSENESS AUDIT (round 13) — the third member of the
    * re-identification trio, closing what k-anonymity (q183) and
    * l-diversity (q257) leave open: a class can be k-anonymous AND
    * l-diverse yet still leak — if its sensitive-value DISTRIBUTION
    * differs sharply from the table's, membership alone updates an
    * attacker's posterior (the skewness attack). Per equivalence
    * class: the variational distance (the categorical EMD) between
    * the class's sensitive distribution and the GLOBAL one,
    *   t = ½·Σ_v |p_v − q_v|,
    * exact on the integer grid as Σ_v |n_cv·N − N_v·n_c| over
    * 2·n_c·N (one truncating idiv to bp), flagged against the
    * threshold. A class absent a sensitive value still contributes
    * that value's global mass — the grid completes per class via the
    * class×value cross join (the q292 structural-zeros discipline).
    *
    * Scale (100 TB): one (quasi-ids, sensitive) aggregation — the
    * corpus shuffles cell counters; the completion join is
    * |classes|×|values| (both bounded dimensions), global masses
    * broadcast. */
  def tCloseness(df: DataFrame, quasiIds: Seq[Column], sensitive: Column,
                 tBp: Long): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cells = df.groupBy(quasiIds :+ sensitive.as("sv"): _*)
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds classes, globals, and the completion
    val names = cells.columns.dropRight(2).toSeq
    val classes = cells.groupBy(names.map(col): _*)
      .agg(sum(col("c")).as("n_c"))
    val globals = cells.groupBy(col("sv")).agg(sum(col("c")).as("n_v"))
    val total = cells.agg(sum(col("c")).as("n")).head().getLong(0)
    val grid = classes.crossJoin(broadcast(globals))
    // renamed copy for the completion join: grid already descends from
    // cells, so qualified self-join columns would be ambiguous
    val cellsR = cells.toDF(names.map(n => s"${n}__r") :+ "sv__r" :+ "c__r": _*)
    val joined = grid.join(cellsR,
        names.map(n => col(n) === col(s"${n}__r"))
          .reduce(_ && _) && col("sv") === col("sv__r"), "left")
      .select((names.map(col) :+ col("sv") :+ col("n_c") :+
        col("n_v") :+ coalesce(col("c__r"), lit(0L)).as("c_cv")): _*)
    joined.groupBy((names.map(col) :+ col("n_c")).map(c => c): _*)
      .agg(sum(abs(dec(col("c_cv")) * dec(lit(total)) -
        dec(col("n_v")) * dec(col("n_c")))).as("dist"))
      .select(names.map(col) :+ col("n_c").as("n") :+
        graft.functions.F.idiv(dec(lit(10000L)) * col("dist"),
          dec(lit(2L)) * dec(col("n_c")) * dec(lit(total)))
          .cast("long").as("t_bp"): _*)
      .withColumn("is_t_close", (col("t_bp") <= tBp).cast("int"))
  }

  /** q340: t-closeness of the q257 classes (nation × balance band,
    * sensitive = market segment) at t = 0.25. */
  def q340(s: SparkSession, d: String): DataFrame =
    tCloseness(Tables.customer(s, d),
      Seq(col("c_nationkey").cast("int").as("nation"),
        floor(col("c_acctbal") / 1000d).cast("long").as("bal_band")),
      col("c_mktsegment"), 2500L)

  /** SHUFFLE-SKEW PRE-FLIGHT AUDIT for a join/aggregation key: the
    * planning operator that answers "will this key skew at scale?"
    * BEFORE the expensive job runs. Simulates the hash partitioning a
    * shuffle on `key` would produce — bucket = md5-hash mod p (p a
    * power of two, so signed pmod ≡ unsigned low bits and every engine
    * agrees on the bucket) — and reports, per bucket: row/key mass,
    * the heaviest key with its count (the salting candidate), the
    * bucket's share, and hot_bp = 10⁴·p·n_rows/total (10⁴ = perfectly
    * balanced; a 3× bucket reads 30000). The q29 salted join and AQE
    * skew split are the REMEDIES; this is the detector that says which
    * keys need them.
    *
    * Scale (100 TB): one map-side-partial count per key (the exchange
    * carries O(distinct keys) rows); the bucket rollup and top-key
    * window run over key COUNTS, never rows; totals broadcast. The
    * audit never rescans or reshuffles the fact table itself. */
  def skewAudit(df: DataFrame, key: String, p: Int = 32): DataFrame = {
    require(p >= 2 && (p & (p - 1)) == 0, s"p must be a power of two, got $p")
    val keyCounts = df.groupBy(col(key).as("k_"))
      .agg(count(lit(1)).as("n"))
      .select(col("k_"), col("n"),
        pmod(graft.functions.F.md5Hash64(col("k_").cast("string")),
          lit(p.toLong)).as("bucket"))
    val perBucket = keyCounts.groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_keys"),
        // deterministic arg-max: largest count, then smallest key
        max(struct(col("n").as("n"), (-col("k_")).as("nk"))).as("top"))
    val tot = perBucket.agg(sum(col("n_rows")).as("total"))
    perBucket.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_rows"), col("n_keys"),
        (-col("top.nk")).as("top_key"), col("top.n").as("top_key_n"),
        graft.functions.F.idiv(lit(10000L) * col("n_rows"), col("total"))
          .as("share_bp"),
        graft.functions.F.idiv(lit(10000L) * p * col("n_rows"), col("total"))
          .as("hot_bp"))
  }

  /** q188: 32-bucket skew audit of the events stream's user_id — the
    * key every sessionize/burstiness/TWAP operator shuffles on. */
  def q188(s: SparkSession, d: String): DataFrame =
    skewAudit(Tables.events(s, d), "user_id", 32)

  /** TRIANGLE COUNTING over the co-occurrence graph — the density
    * statistic behind community detection and graph-quality audits
    * (a co-purchase graph's triangles are its "bought-together
    * cliques"; a link graph's triangles measure clustering).
    *
    * Algorithm: degree orientation. Each undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger; every
    * triangle then has EXACTLY one vertex with two out-edges, so
    * triangles = wedges (u→v, u→w with ord(v) < ord(w)) whose closing
    * edge v→w exists. The orientation bounds every vertex's out-degree
    * by O(√m) (arboricity), so wedge fan-out is O(m^1.5) total instead
    * of Σdeg² — the difference between tractable and hopeless on a
    * power-law graph, where the unoriented wedge count explodes at the
    * hubs.
    *
    * Scale (100 TB): edges come from q68's basket-array discipline
    * (pairs explode WITHIN the basket row — never a fact-table
    * self-join); the degree table is node-sized; orientation is an
    * equi-join on the node id with the tuple comparison as a post-join
    * filter; wedge and closing joins are equi-joins on u and (v, w) —
    * three linear shuffles over edge-sized data, no global order, no
    * driver state. `minSupport` thins coincidence edges before any
    * quadratic step. */
  def triangleCounts(items: DataFrame, basket: String, item: String,
                     minSupport: Long, k: Int): DataFrame = {
    val (deg, tri, _) = orientedTriangleLegs(items, basket, item, minSupport)
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
    perNode.join(deg.select(col("u").as("part"), col("d").as("degree")), "part")
      .orderBy(col("n_triangles").desc, col("part").asc)
      .limit(k)
  }

  /** The degree table + enumerated triangles shared by q190 and q274:
    * basket-array edges, (degree, id) orientation, tuple-ordered wedge
    * + one closing equi-join (the scale argument lives on
    * [[triangleCounts]]). */
  private def orientedTriangleLegs(items: DataFrame, basket: String,
      item: String, minSupport: Long): (DataFrame, DataFrame, DataFrame) = {
    val baskets = items.select(col(basket).as("bk"), col(item).as("it"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("arr"))
    val edges = baskets
      .select(posexplode(col("arr")).as(Seq("i", "pa")), col("arr"))
      .select(col("pa"),
        explode(slice(col("arr"), col("i") + lit(2),
          size(col("arr")) - col("i") - lit(1))).as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_bk"))
      .where(col("n_bk") >= minSupport)
      .select(col("pa"), col("pb"))
      // edges feed the degree table AND the orientation join AND (via
      // deg) the final report — materialize the basket explode once
      .localCheckpoint()
    val und = edges.select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(edges.select(col("pb").as("u"), col("pa").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // Oriented edge u→v iff (deg(u), u) < (deg(v), v); carry v's rank
    // tuple so the wedge join below can order the two out-edges without
    // re-joining degrees.
    // o feeds THREE joins (both wedge legs + the closing probe);
    // localCheckpoint materializes the basket→edge→degree pipeline once
    // instead of re-running it per consumer (the q55 self-join rule).
    val o = und
      .join(deg.select(col("u"), col("d").as("du")), "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .where(struct(col("du"), col("u")) < struct(col("dv"), col("v")))
      .select(col("u"), col("v"), col("dv"))
      .localCheckpoint()
    val e1 = o.select(col("u"), col("v").as("b"), col("dv").as("db"))
    val e2 = o.select(col("u"), col("v").as("c"), col("dv").as("dc"))
    val wedges = e1.join(e2, "u")
      .where(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
      .select(col("u").as("a"), col("b"), col("c"))
    // Closing edge must be b→c: b precedes c in the orientation order,
    // so a single equality join finishes the triangle.
    val closing = o.select(col("u").as("b"), col("v").as("c"))
    val tri = wedges.join(closing, Seq("b", "c"))
    (deg, tri, edges)
  }

  /** LOCAL CLUSTERING COEFFICIENT + GLOBAL TRANSITIVITY — the graph
    * suite's cohesion report (components name pieces, k-core trims,
    * LPA labels modules, triangles count; THIS normalizes): for the
    * top-k nodes by (degree DESC, id ASC), cc = 2·t/(d·(d−1)) in exact
    * basis points (null below degree 2 — undefined, the q204 rule),
    * each row carrying the graph-wide transitivity 3·triangles/wedges
    * so a hub's cohesion reads against the global average in place.
    *
    * Exact integers: per-node arithmetic fits a long (d ≤ 10⁶ →
    * d(d−1) ≤ 10¹²); the GLOBAL wedge sum Σd(d−1) does NOT at 10 ⁹
    * nodes — decimal(38,0), one truncating division at the boundary.
    *
    * Scale: [[triangleCounts]]'s O(m^1.5) enumeration + a node-sized
    * aggregation; transitivity is a 1-row aggregate cross-joined in
    * (broadcast, no shuffle added). */
  def clusteringCoeff(items: DataFrame, basket: String, item: String,
                      minSupport: Long, k: Int): DataFrame = {
    val (deg0, tri0, _) = orientedTriangleLegs(items, basket, item, minSupport)
    val deg = deg0.localCheckpoint() // feeds per-node rows + wedge sum + n_tri join
    val tri = tri0.localCheckpoint() // feeds the per-node rollup + the global count
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("n_triangles"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val totals = tri.agg(count(lit(1)).as("n_tri")).crossJoin(
      deg.agg(sum(dec(col("d") * (col("d") - lit(1L)))).as("wedges2")))
      .select(when(col("wedges2") === lit(0), lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(
          lit(60000L) * dec(col("n_tri")), col("wedges2")))
        .as("transitivity_bp"))
    deg.join(perNode, Seq("u"), "left").na.fill(0L, Seq("n_triangles"))
      .orderBy(col("d").desc, col("u").asc).limit(k)
      .crossJoin(totals)
      .select(col("u").as("node"), col("d").as("degree"),
        col("n_triangles"),
        when(col("d") < lit(2L), lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(lit(20000L) * col("n_triangles"),
            col("d") * (col("d") - lit(1L)))).as("cc_bp"),
        col("transitivity_bp"))
  }

  /** q274: cohesion report of the q190/q226/q272 basket-sampled
    * co-purchase graph — top-20 hubs by degree with local cc and the
    * global transitivity. */
  def q274(s: SparkSession, d: String): DataFrame =
    clusteringCoeff(Tables.lineitem(s, d).filter(col("l_orderkey") % 8 === 0),
      "l_orderkey", "l_partkey", 1L, 20)

  /** JOIN-FANOUT PRE-FLIGHT AUDIT — q188's sibling for the OTHER way a
    * join goes wrong at scale: output explosion. Before running
    * A ⋈ B on k, the exact output cardinality is Σ_k n_A(k)·n_B(k);
    * this operator computes it (plus the top contributing keys with
    * their per-side multiplicities — the rows that tell you WHICH key
    * to pre-aggregate, dedup, or drop) from the two key-count tables
    * alone, never materializing a single joined row. A 10¹²-row
    * accident costs one groupBy per side to predict.
    *
    * Scale (100 TB): each side reduces to (key, count) with map-side
    * partials; the audit join is key-cardinality-sized; the total is
    * one scalar aggregate; the top-k cut is a bounded sort-limit. */
  def joinFanoutAudit(a: DataFrame, aKey: String, b: DataFrame,
                      bKey: String, k: Int): DataFrame = {
    val ca = a.groupBy(col(aKey).as("key")).agg(count(lit(1)).as("n_a"))
    val cb = b.groupBy(col(bKey).as("key")).agg(count(lit(1)).as("n_b"))
    val pairs = ca.join(cb, "key")
      .select(col("key"), col("n_a"), col("n_b"),
        (col("n_a") * col("n_b")).as("n_pairs"))
    val tot = pairs.agg(sum(col("n_pairs")).as("total"))
    val top = pairs.crossJoin(broadcast(tot))
      .select(col("key").cast("string").as("key"), col("n_a"), col("n_b"),
        col("n_pairs"),
        graft.functions.F.idiv(lit(10000L) * col("n_pairs"), col("total"))
          .as("share_bp"))
      .orderBy(col("n_pairs").desc, col("key").asc)
      .limit(k)
    top.unionAll(tot.select(lit("ALL").as("key"), lit(null).cast("long"),
      lit(null).cast("long"), col("total").as("n_pairs"),
      lit(10000L).as("share_bp")))
  }

  /** q196: predicted fan-out of the events ⋈ events self-join on
    * user_id — the key the q39 range join and every sessionizer
    * shuffle on. */
  def q196(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    joinFanoutAudit(e, "user_id", e, "user_id", 10)
  }

  /** RENDEZVOUS-HASHING RESHARD PLAN — the shard-migration audit:
    * assign every key to argmax_node md5(key#node) (highest-random-
    * weight hashing) under the OLD and NEW node sets and report the
    * movement matrix. Rendezvous moves ONLY the keys whose argmax
    * changes — adding nodes relocates ≈ added/total of the keyspace
    * and nothing shuffles between surviving nodes (mod-N hashing would
    * move (N-1)/N of everything) — so the matrix is the migration
    * bill: which shard pairs transfer, how many keys each.
    *
    * Scale (100 TB): the node lists are tiny literals; assignment is a
    * map-side argmax over |nodes| hashes per DISTINCT key (one
    * distinct shuffle, key-cardinality); the matrix aggregation is
    * |old|·|new|-sized. The fact table itself is never re-hashed. */
  def rendezvousReshard(df: DataFrame, key: String,
                        oldNodes: Seq[String], newNodes: Seq[String]): DataFrame = {
    def assign(nodes: Seq[String]): Column =
      array_max(array(nodes.map(n => struct(
        graft.functions.F.md5Hash64(concat(col("k"), lit("#" + n))).as("h"),
        lit(n).as("node"))): _*)).getField("node")
    val keys = df.select(col(key).cast("string").as("k")).distinct()
      .select(col("k"), assign(oldNodes).as("node_old"),
        assign(newNodes).as("node_new"))
    val matrix = keys.groupBy(col("node_old"), col("node_new"))
      .agg(count(lit(1)).as("n_keys"))
    val tot = matrix.agg(sum(col("n_keys")).as("total"))
    matrix.crossJoin(broadcast(tot))
      .select(col("node_old"), col("node_new"), col("n_keys"),
        graft.functions.F.idiv(lit(10000L) * col("n_keys"), col("total"))
          .as("share_bp"),
        (col("node_old") =!= col("node_new")).cast("int").as("moved"))
  }

  /** q199: migration plan for scaling the events user_id keyspace from
    * 8 shards to 10. */
  def q199(s: SparkSession, d: String): DataFrame =
    rendezvousReshard(Tables.events(s, d), "user_id",
      (0 until 8).map(i => s"n$i"), (0 until 10).map(i => s"n$i"))

  /** POPULATION STABILITY INDEX — the production drift metric for a
    * NUMERIC feature (q195 covers embeddings, q119 token text; this
    * closes the family): band the value into fixed cents-width bins,
    * compare the reference and current shares, PSI = Σ (p−q)·ln(p/q).
    * Laplace-smoothed shares p=(n+1)/(N+B) over the union bin set B,
    * so an empty bin on one side contributes a finite, engine-exact
    * term instead of ∞. Per-bin terms ship in fixed-point micro units
    * (every term ≥ 0 — (p−q) and ln(p/q) share sign), the ALL row is
    * their exact integer sum; >0.25 is the conventional "investigate"
    * line.
    *
    * Scale (100 TB): one conditional aggregation per bin over a single
    * scan (groupBy bin with two filtered counts); bins are
    * range/width-sized, totals broadcast. */
  def psiDrift(df: DataFrame, value: String, isRef: Column,
               widthCents: Long): DataFrame = {
    val binned = df.select(
      graft.functions.F.idiv(cents(col(value)), lit(widthCents)).as("bin"),
      isRef.as("is_ref"))
    val perBin = binned.groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val tot = perBin.agg(sum(col("n_ref")).as("tr"),
      sum(col("n_cur")).as("tc"), count(lit(1)).as("b"))
    val p = (col("n_ref") + lit(1L)).cast("double") /
      (col("tr") + col("b")).cast("double")
    val q = (col("n_cur") + lit(1L)).cast("double") /
      (col("tc") + col("b")).cast("double")
    val rows = perBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        floor((p - q) * log(p / q) * lit(1000000d) + lit(0.5d)).cast("long")
          .as("psi_term_u"))
    rows.unionAll(rows.agg(sum(col("n_ref")).as("n_ref"),
        sum(col("n_cur")).as("n_cur"), sum(col("psi_term_u")).as("psi_term_u"))
      .select(lit(-1L).as("bin"), col("n_ref"), col("n_cur"),
        col("psi_term_u")))
  }

  /** q200: PSI of the events value distribution, odd vs even event ids,
    * $25 bands. */
  def q200(s: SparkSession, d: String): DataFrame =
    psiDrift(Tables.events(s, d), "value", col("event_id") % 2 === 0, 2500L)

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST — the drift statistic with an
    * actual accept/reject line. q200's PSI scores drift but its
    * thresholds are folklore ("0.2 = investigate"); KS gives
    * D = max|F_ref − F_cur| with a distribution-free critical value
    * c(α)·√((n₁+n₂)/n₁n₂), so the monitor can say "reject at α=5%"
    * instead of "looks big". Reports D in exact bp, the grid cell
    * where the CDFs diverge most (WHERE the drift lives — the
    * actionable part), the critical value, and the verdict flag.
    *
    * Computed on the declared cents lattice (the PSI bins at width 1):
    * D over binned data is the standard streaming-scale KS surrogate,
    * and on an integer-valued column it IS exact. Exact integers:
    * gap = |cumRef·n_cur − cumCur·n_ref| in decimal(38,0) (cum·n at
    * 10¹² rows outruns a long), D_bp via one truncating division;
    * only the critical value touches a double (√ of a rational both
    * engines build from the same integers, q105's exact-sqrt rule).
    *
    * Scale: one aggregation to the bounded value lattice, a window
    * over LATTICE rows (the q118/q214/q278 grid discipline), and a
    * TakeOrdered(1) for the argmax — the corpus shuffles nothing but
    * partial bin counts. */
  def ksTest(df: DataFrame, value: String, isRef: Column,
             widthCents: Long): DataFrame = {
    require(widthCents >= 1L)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perBin = df.select(
        graft.functions.F.idiv(cents(col(value)), lit(widthCents)).as("bin"),
        isRef.as("is_ref"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perBin
      .withColumn("cr", sum(col("n_ref")).over(w))
      .withColumn("cc", sum(col("n_cur")).over(w))
    val tot = perBin.agg(sum(col("n_ref")).as("nr"), sum(col("n_cur")).as("nc"))
    val top = cum.crossJoin(broadcast(tot))
      .select(col("bin"), col("nr"), col("nc"),
        abs(dec(col("cr")) * dec(col("nc")) - dec(col("cc")) * dec(col("nr")))
          .as("gap"))
      .orderBy(col("gap").desc, col("bin").asc).limit(1)
    val crit = floor(lit(13580d) *
      sqrt((col("nr") + col("nc")).cast("double") /
        (col("nr").cast("double") * col("nc").cast("double"))) + lit(0.5d))
      .cast("long")
    top.select(col("nr").as("n_ref"), col("nc").as("n_cur"),
        col("bin").as("argmax_bin"),
        when(col("nr") === 0L || col("nc") === 0L, lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(lit(10000L) * col("gap"),
            dec(col("nr")) * dec(col("nc")))).as("ks_bp"),
        when(col("nr") === 0L || col("nc") === 0L, lit(null).cast("long"))
          .otherwise(crit).as("crit_bp"))
      .withColumn("is_drifted",
        (col("ks_bp") > col("crit_bp")).cast("int"))
  }

  /** q283: KS drift test on the q200 pairing (events value, odd vs
    * even event ids) at the exact cent lattice. */
  def q283(s: SparkSession, d: String): DataFrame =
    ksTest(Tables.events(s, d), "value", col("event_id") % 2 === 0, 1L)

  /** WASSERSTEIN-1 (EARTH MOVER'S) DRIFT (round 13) — the
    * MAGNITUDE-carrying member of the drift family: PSI (q200) reads
    * bin-mass ratios, KS (q283) reads the single worst CDF gap, W1
    * integrates |F_ref − F_cur| over the VALUE AXIS — "how many cents
    * does the distribution move per unit mass", the number a pricing
    * or cost model can act on directly (and the metric that keeps
    * discriminating when distributions differ only in a long tail,
    * where KS saturates and PSI explodes on empty bins). On the cent
    * lattice W1 is exactly Σ_bins |cumRef·n_cur − cumCur·n_ref| ·
    * (next_bin − bin) · width / (n_ref·n_cur) — all integers
    * (decimal(38,0)), one truncating idiv at the milli-cent boundary,
    * so both engines replay it bit-for-bit.
    *
    * Scale (100 TB): identical shape to q283 — lattice-bin partial
    * counts, one bounded-grid window (lattice rows, never the
    * corpus), a one-row fold. */
  def wasserstein1(df: DataFrame, value: String, isRef: Column,
                   widthCents: Long): DataFrame = {
    require(widthCents >= 1L)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perBin = df.select(
        graft.functions.F.idiv(cents(col(value)), lit(widthCents)).as("bin"),
        isRef.as("is_ref"))
      // NULL values carry no mass on the value axis — and the NULL
      // bin would sort FIRST in Spark's ASC window but LAST in
      // DuckDB's, silently shifting both CDFs (r13 review finding)
      .where(col("bin").isNotNull)
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lw = Window.orderBy(col("bin").asc)
    val cum = perBin
      .withColumn("cr", sum(col("n_ref")).over(w))
      .withColumn("cc", sum(col("n_cur")).over(w))
      .withColumn("nxt", lead(col("bin"), 1).over(lw))
    val tot = perBin.agg(sum(col("n_ref")).as("nr"), sum(col("n_cur")).as("nc"),
      count(lit(1)).as("n_bins"))
    cum.filter(col("nxt").isNotNull) // the top bin closes both CDFs
      .crossJoin(broadcast(tot))
      .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
        max(col("n_bins")).as("n_bins"),
        sum(abs(dec(col("cr")) * dec(col("nc")) -
          dec(col("cc")) * dec(col("nr"))) *
          dec(col("nxt") - col("bin"))).as("area"))
      .select(col("n_ref"), col("n_cur"), col("n_bins"),
        when(col("n_ref") === 0L || col("n_cur") === 0L,
          lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(
            dec(lit(1000L * widthCents)) * col("area"),
            dec(col("n_ref")) * dec(col("n_cur"))).cast("long"))
          .as("w1_milli_cents"))
  }

  /** q345: W1 shift of the events value distribution, odd vs even
    * event ids, exact cent lattice — the q200/q283 pairing. */
  def q345(s: SparkSession, d: String): DataFrame =
    wasserstein1(Tables.events(s, d), "value", col("event_id") % 2 === 0, 1L)

  /** SPEARMAN RANK CORRELATION — the monotone-association complement
    * to q93's Pearson: rho = Pearson on mid-ranks, so a nonlinear but
    * monotone relationship (price vs log-usage, length vs quality)
    * scores |rho|≈1 where Pearson under-reads it, and a single outlier
    * can move rho by at most O(1/n) where it can take Pearson anywhere.
    * The standard screening stat for "are these two metrics related at
    * all" before fitting anything.
    *
    * Tie handling is the textbook mid-rank form, made exact by working
    * in 2×mid-rank units (2R = 2·cumBefore + cnt + 1, an integer; the
    * common scale factor cancels from the correlation). Ranks are
    * computed on the per-VALUE lattice, not per row: both inputs are
    * declared integral lattices (cents, small-int props), so the
    * rank table is grid-sized (the q118/q214/q283 grid discipline) and
    * the corpus itself is never globally sorted — one pair-lattice
    * aggregation, two broadcast rank joins, one final fold.
    *
    * Exactness: all moment sums run in decimal(38,0) (n·Σ(4R²) stays
    * within 38 digits to n≈10⁹ rows per call — beyond that, pre-bin
    * to a coarser lattice first, which changes rho by at most the bin
    * resolution); num/den_x/den_y are exact integers and the single
    * boundary rounding is rho_bp = floor(10⁴·num/√(den_x·den_y) + ½)
    * in IEEE doubles (the q283 crit_bp convention — sqrt is correctly
    * rounded per IEEE, both engines replay it bit-identically).
    * Degenerate inputs (either side constant) yield NULL rho. */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    // complete-pairs convention: a row missing either side carries no
    // rank information (and NULL ordering differs across engines)
    val pairs = df.select(x.as("xv"), y.as("yv"))
      .where(col("xv").isNotNull && col("yv").isNotNull)
      .groupBy(col("xv"), col("yv")).agg(count(lit(1)).as("n_xy"))
      .localCheckpoint() // feeds both rank tables AND the moment join
    // 2×mid-rank per lattice value: 2·(#strictly-below) + cnt + 1.
    // The window runs over LATTICE rows only (bounded), never the corpus.
    def ranks(key: String, alias: String): DataFrame = {
      val w = Window.orderBy(col(key).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.groupBy(col(key)).agg(sum(col("n_xy")).as("cnt"))
        .select(col(key),
          (lit(2L) * (sum(col("cnt")).over(w) - col("cnt")) +
            col("cnt") + lit(1L)).as(alias))
    }
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val j = pairs
      .join(broadcast(ranks("xv", "r2x")), "xv")
      .join(broadcast(ranks("yv", "r2y")), "yv")
    val m = j.agg(
      sum(col("n_xy")).as("n"),
      countDistinct(col("xv")).as("n_x"),
      countDistinct(col("yv")).as("n_y"),
      sum(dec(col("n_xy")) * dec(col("r2x"))).as("sx"),
      sum(dec(col("n_xy")) * dec(col("r2y"))).as("sy"),
      sum(dec(col("n_xy")) * dec(col("r2x")) * dec(col("r2x"))).as("sxx"),
      sum(dec(col("n_xy")) * dec(col("r2y")) * dec(col("r2y"))).as("syy"),
      sum(dec(col("n_xy")) * dec(col("r2x")) * dec(col("r2y"))).as("sxy"))
    val n   = dec(col("n"))
    val num = n * col("sxy") - col("sx") * col("sy")
    val dx  = n * col("sxx") - col("sx") * col("sx")
    val dy  = n * col("syy") - col("sy") * col("sy")
    m.select(col("n"), col("n_x"), col("n_y"),
      when(dx === dec(lit(0L)) || dy === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(floor(lit(10000d) * num.cast("double") /
          (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))) + lit(0.5d))
          .cast("long")).as("rho_bp"))
  }

  /** q286: Spearman between the events value (cent lattice) and the
    * numeric `k` prop — "does spend rank-track the engagement knob". */
  def q286(s: SparkSession, d: String): DataFrame =
    spearman(Tables.events(s, d), cents(col("value")),
      get_json_object(col("props"), "$.k").cast("long"))

  /** MANN–WHITNEY U RANK-SUM TEST — the nonparametric two-sample
    * location test, closing the A/B family: q209's z-test compares
    * binary conversion RATES, q283's KS asks "same distribution at
    * all?", this asks the usual product question — "does arm B's
    * metric tend LARGER than arm A's?" — without assuming normality
    * (revenue-per-user is wildly skewed; a t-test's mean is hostage
    * to whales, U is not).
    *
    * Same lattice mid-rank machinery as q286: per-value (n_a, n_b)
    * counts, 2×mid-ranks over the combined sample on the bounded
    * value grid, rank sum in 2× units so ties stay integral.
    *   U_a  = R_a − n_a(n_a+1)/2            (2U_a exact integer)
    *   r_rb = 2·U_a/(n_a·n_b) − 1           rank-biserial effect size,
    *                                         EXACT in bp by one idiv
    *   z    = (U_a − n_a·n_b/2) / √var,  var the tie-corrected
    *          n_a·n_b·[(n³−n) − Σ(t³−t)] / (12·n·(n−1))
    * z follows the q209 z_milli / q283-boundary convention: every
    * component (2U−n_a·n_b, n_a·n_b, cube term, 12n(n−1)) is an exact
    * decimal(38,0) the oracle rebuilds as HUGEINT, converted to double
    * once, combined in a pinned operation order (n³ stays within 38
    * digits to n≈10¹²; the n_a·n_b·cube product is formed in DOUBLE
    * precisely so the decimal never overflows). NULL z when either
    * arm is empty or all values are tied (var = 0).
    *
    * Scale: identical shape to q283 — lattice-bin partial counts, one
    * bounded-grid window, a one-row fold. The corpus shuffles nothing
    * but per-bin counters. */
  def mannWhitney(df: DataFrame, value: Column, isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perBin = df.select(value.as("v"), isA.as("is_a"))
      .where(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      .withColumn("t", col("na") + col("nb"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perBin.withColumn("r2",
      lit(2L) * (sum(col("t")).over(w) - col("t")) + col("t") + lit(1L))
    val m = ranked.agg(
      sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
      sum(dec(col("na")) * dec(col("r2"))).as("ra2"),
      sum(dec(col("t")) * dec(col("t")) * dec(col("t")) - dec(col("t")))
        .as("tie3"))
    val nA  = dec(col("n_a"))
    val nB  = dec(col("n_b"))
    val n   = nA + nB
    // 2U_a = 2R_a − n_a(n_a+1); R_a in 2× units is ra2, so 2U_a = ra2 − n_a(n_a+1)
    val u2  = col("ra2") - nA * (nA + dec(lit(1L)))
    val num = u2 - nA * nB                       // 2(U_a − n_a n_b/2)
    val cube = n * n * n - n - col("tie3")
    val den12 = dec(lit(12L)) * n * (n - dec(lit(1L)))
    val z = (num.cast("double") / lit(2d)) /
      sqrt(nA.cast("double") * nB.cast("double") *
        cube.cast("double") / den12.cast("double"))
    // u_a reports ⌊U_a⌋ (U is half-integral when ties straddle arms)
    m.select(col("n_a"), col("n_b"),
      graft.functions.F.idiv(u2, dec(lit(2L))).cast("long").as("u_a"),
      when(nA === dec(lit(0L)) || nB === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(dec(lit(10000L)) * num, nA * nB)
          .cast("long")).as("rank_biserial_bp"),
      when(nA === dec(lit(0L)) || nB === dec(lit(0L)) ||
          cube === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(floor(z * lit(1000d) + lit(0.5d)).cast("long"))
        .as("z_milli"))
      .withColumn("is_significant",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) > lit(1960L)).cast("int")))
  }

  /** q287: does purchase spend tend larger for odd users (arm A =
    * even user ids), on the exact cent lattice — the q209 experiment
    * re-read as a location test on the skewed metric itself. */
  def q287(s: SparkSession, d: String): DataFrame =
    mannWhitney(Tables.events(s, d).filter(col("event_type") === "purchase"),
      cents(col("value")), col("user_id") % 2 === 0)

  /** KENDALL'S τ-b (round 12) — the rank-stat family's third member:
    * q286's Spearman reads monotone association through mid-ranks;
    * τ-b reads it through CONCORDANT vs DISCORDANT pairs, which makes
    * it the robust choice for short, heavily tied series (its natural
    * habitat: two daily KPI series — does revenue rank-track volume
    * day over day). Tie-corrected: τ-b = (nc − nd)/√((n₀−n₁)(n₀−n₂))
    * with n₁/n₂ the within-value tie-pair counts.
    *
    * Exactness/scale: the inputs are UNIT-GRAIN series (one row per
    * day/group — bounded, the q225/q256 day-table discipline), so the
    * pair self-join is lattice², never corpus²; concordance tests are
    * sign comparisons (no dx·dy product to overflow); tie-pair counts
    * come from value-group counts, not pairs; the single boundary is
    * the q286 pinned-double form floor(10⁴·num/(√d₁·√d₂) + ½). NULL
    * when either side is constant. */
  def kendallTau(units: DataFrame, key: Column, x: Column,
                 y: Column, maxUnits: Long = 4096L): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val u = units.select(key.as("k"), x.as("xv"), y.as("yv"))
      .where(col("xv").isNotNull && col("yv").isNotNull)
      .localCheckpoint()
    // the concordance pair join is quadratic in the unit grain by
    // definition — the theilSen guardrail applies verbatim (r12
    // verdict #5): a caller passing a corpus gets a loud require, not
    // a cartesian explosion
    val nu = u.count()
    require(nu <= maxUnits,
      s"kendallTau: $nu units would form ~${nu * nu / 2} concordance " +
        "pairs; pre-aggregate the series to a bounded grain (the q322 " +
        "day-table discipline) or raise maxUnits deliberately")
    val cd = u.as("a").join(u.as("b"), col("a.k") < col("b.k"))
      .agg(
        sum(when((col("a.xv") > col("b.xv") && col("a.yv") > col("b.yv")) ||
          (col("a.xv") < col("b.xv") && col("a.yv") < col("b.yv")), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("a.xv") > col("b.xv") && col("a.yv") < col("b.yv")) ||
          (col("a.xv") < col("b.xv") && col("a.yv") > col("b.yv")), 1L)
          .otherwise(0L)).as("nd"))
    def tiePairs(c: String, alias: String): DataFrame =
      u.groupBy(col(c)).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(dec(graft.functions.F.idiv(
          col("t") * (col("t") - 1L), lit(2L)))), dec(lit(0L))).as(alias))
    val m = cd
      .crossJoin(broadcast(u.agg(count(lit(1)).as("n"))))
      .crossJoin(broadcast(tiePairs("xv", "n1")))
      .crossJoin(broadcast(tiePairs("yv", "n2")))
    val n0 = dec(graft.functions.F.idiv(col("n") * (col("n") - 1L), lit(2L)))
    val d1 = n0 - col("n1")
    val d2 = n0 - col("n2")
    m.select(col("n").as("n_units"), n0.cast("long").as("n_pairs"),
      col("nc").as("concordant"), col("nd").as("discordant"),
      when(d1 === dec(lit(0L)) || d2 === dec(lit(0L)),
        lit(null).cast("long"))
        .otherwise(floor(lit(10000d) *
          (col("nc") - col("nd")).cast("double") /
          (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))) + lit(0.5d))
          .cast("long")).as("tau_b_bp"))
  }

  /** q322: τ-b between daily order volume and daily revenue. */
  def q322(s: SparkSession, d: String): DataFrame =
    kendallTau(
      Tables.orders(s, d).groupBy(col("o_orderdate"))
        .agg(count(lit(1)).as("xn"),
          sum(cents(col("o_totalprice"))).as("yn")),
      col("o_orderdate"), col("xn"), col("yn"))

  /** KRUSKAL–WALLIS H (round 12) — the k-group extension of q287's
    * Mann–Whitney: "does ANY of these k arms/segments tend larger",
    * the nonparametric one-way ANOVA a skewed metric needs before
    * anyone trusts per-pair comparisons. Same lattice mid-rank
    * machinery (2×mid-ranks on the bounded value grid, so ties stay
    * integral); per-group terms R²_g/n_g floored at 10⁶ BEFORE the sum
    * (the q201/q308 per-term discipline); H in milli by one truncating
    * division chain in a pinned order, tie-adjusted by
    * (n³−n)/(n³−n−Σ(t³−t)); NULL when every value is tied. In
    * 2×-rank units Σ(R2²/n) = 4Σ(R²/n), so H = 3·Σ'/(N(N+1)) − 3(N+1).
    *
    * Scale: lattice-bin partial counts, one bounded-grid window, a
    * groups-sized fold — the corpus shuffles only per-bin counters. */
  def kruskalWallis(df: DataFrame, value: Column, group: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perBin = df.select(value.as("v"), group.as("g"))
      .where(col("v").isNotNull && col("g").isNotNull)
      .groupBy(col("v"), col("g")).agg(count(lit(1)).as("ng"))
      .localCheckpoint()
    val perV = perBin.groupBy(col("v")).agg(sum(col("ng")).as("t"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perV.select(col("v"),
      (lit(2L) * (sum(col("t")).over(w) - col("t")) + col("t") + lit(1L))
        .as("r2"))
    val byG = perBin.join(broadcast(ranked), "v")
      .groupBy(col("g"))
      .agg(sum(col("ng")).as("n_g"),
        sum(dec(col("ng")) * dec(col("r2"))).as("rg2"))
    val terms = byG.select(col("n_g"),
      graft.functions.F.idiv(dec(lit(1000000L)) * col("rg2") * col("rg2"),
        dec(col("n_g"))).as("term"))
    val ties = perV.agg(
      sum(dec(col("t")) * dec(col("t")) * dec(col("t")) - dec(col("t")))
        .as("tie3"))
    val m = terms
      .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k_groups"),
        sum(col("term")).as("s"))
      .crossJoin(broadcast(ties))
    val n = dec(col("n"))
    val hMilli = graft.functions.F.idiv(dec(lit(3000L)) * col("s"),
      dec(lit(1000000L)) * n * (n + dec(lit(1L)))) -
      dec(lit(3000L)) * (n + dec(lit(1L)))
    val cube = n * n * n - n
    m.select(col("n"), col("k_groups"),
      hMilli.cast("long").as("h_milli"),
      when(cube - col("tie3") === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(hMilli * cube,
          cube - col("tie3")).cast("long")).as("h_adj_milli"))
  }

  /** q323: does event value tend larger in any event-type group. */
  def q323(s: SparkSession, d: String): DataFrame =
    kruskalWallis(Tables.events(s, d), cents(col("value")),
      col("event_type"))

  /** ONE-WAY ANOVA F (round 13) — the parametric counterpart of
    * q323's Kruskal–Wallis: partition total variance into between- and
    * within-group sums of squares and test whether ANY group mean
    * differs. The decomposition is exact integer end to end (the q323
    * per-term discipline): per-group Σx/Σx² in decimal(38,0), the
    * between term Σ_g ⌊10⁶·S_g²/n_g⌋ floored PER GROUP before the sum
    * (so group iteration order cannot flip a bit), SSB/SSW as exact
    * micro-scaled decimals, and F assembled from them in ONE pinned
    * double order. NULL F when k < 2, N ≤ k, or SSW = 0.
    *
    * Scale (100 TB): one (group) aggregation — the corpus shuffles
    * three numbers per task per group; the fold is k-sized. */
  def anovaF(df: DataFrame, value: Column, group: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // exact decimal floor division: IntegralDivide returns LONG, and
    // the 10⁶·sg²/ng terms pass 2⁶³ already at money magnitudes
    // (measured: q359's dollar-grain orders at sf0.01) — subtracting
    // the remainder makes the decimal divide exact, so the quotient
    // stays a full-width decimal(38,0)
    def dfloor(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("decimal(38,0)")
    val perG = df.select(value.as("v"), group.as("g"))
      .where(col("v").isNotNull && col("g").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(dec(col("v"))).as("sg"),
        sum(dec(col("v")) * dec(col("v"))).as("ssg"))
    val m = perG.agg(count(lit(1)).as("k_groups"), sum(col("ng")).as("n"),
      sum(col("sg")).as("s"), sum(col("ssg")).as("ss"),
      sum(dfloor(dec(lit(1000000L)) * col("sg") * col("sg"),
        dec(col("ng")))).as("t1q"))
    val n = dec(col("n"))
    val ssbQ = col("t1q") -
      dfloor(dec(lit(1000000L)) * col("s") * col("s"), n)
    val sswQ = dec(lit(1000000L)) * col("ss") - col("t1q")
    val fMilli = floor(lit(1000d) *
      (ssbQ.cast("double") / (col("k_groups") - lit(1L)).cast("double")) /
      (sswQ.cast("double") / (col("n") - col("k_groups")).cast("double")) +
      lit(0.5d)).cast("long")
    // the REPORTED sums drop the micro scale (cents² longs — within
    // range to n·x̄² ≈ 10¹⁸, the q312 test-scale contract); F keeps
    // the full micro precision internally
    m.select(col("n"), col("k_groups"),
      graft.functions.F.idiv(ssbQ, dec(lit(1000000L))).cast("long")
        .as("ssb_c2"),
      graft.functions.F.idiv(sswQ, dec(lit(1000000L))).cast("long")
        .as("ssw_c2"),
      when(col("k_groups") < 2L || col("n") <= col("k_groups") ||
          sswQ === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(fMilli).as("f_milli"))
  }

  /** q338: does mean event value differ across event types. */
  def q338(s: SparkSession, d: String): DataFrame =
    anovaF(Tables.events(s, d), cents(col("value")), col("event_type"))

  /** BROWN–FORSYTHE EQUAL-VARIANCE TEST (round 14) — the variance
    * member of the A/B stack: Welch's t (q337) protects the MEAN test
    * from unequal variances, but "did treatment change the SPREAD" is
    * its own product question (risk, latency tails, spend dispersion)
    * and eyeballing two variances has no error control. Levene's
    * insight: variances are equal iff the group means of |x − center|
    * are equal — which turns a variance test into [[anovaF]] on
    * transformed values; Brown–Forsythe centers at the MEDIAN, robust
    * to the heavy tails that inflate the mean-centered original.
    * Composition, exact end to end: per-group percentile_disc medians
    * (the q128 convention — cut values are members, exact in both
    * engines), absolute deviations on the cents grid, then the SAME
    * exact-moment F machinery as q338 (pinned-double f_milli at the
    * boundary).
    *
    * Scale (100 TB): two aggregations (median, then moments) + one
    * broadcast join of the group-cardinality-sized median table. */
  def brownForsythe(df: DataFrame, value: Column, group: Column): DataFrame = {
    val v = df.select(value.as("v"), group.as("g"))
      .where(col("v").isNotNull && col("g").isNotNull)
    val med = v.groupBy(col("g"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("long").as("med"))
    val z = v.join(broadcast(med), "g")
      .select(col("g"), abs(col("v") - col("med")).as("z"))
    anovaF(z, col("z"), col("g"))
  }

  /** q359: does order-value DISPERSION differ across priorities.
    * Values on the whole-DOLLAR grid, not cents: anovaF's reported
    * ssw column is Σz², and at order-price magnitudes (~5·10⁷ cents)
    * the cents grid overflows its long at n ≈ 10⁴ rows — dollars buy
    * 10⁴× headroom at no loss to the F (z spreads ≫ $1). */
  def q359(s: SparkSession, d: String): DataFrame =
    brownForsythe(Tables.orders(s, d),
      floor(col("o_totalprice") + lit(0.5d)).cast("long"),
      col("o_orderpriority"))

  /** COCHRAN–ARMITAGE TREND TEST (round 14) — "is this RATE trending
    * across ordered groups": q341's Mann–Kendall reads a monotone
    * trend in a measured VALUE; this one reads it in a binary
    * PROPORTION over ordered doses (years, cohorts, exposure bands),
    * the epidemiology/quality-monitoring standard that a per-group
    * chi-square (q130) cannot see because it ignores the ordering.
    * With group scores w, case counts r_g and sizes n_g:
    *   T = Σ w·r_g,  z = (N·T − R·W₁) / √(R(N−R)(N·W₂ − W₁²)/(N−1))
    * (W₁ = Σ w·n_g, W₂ = Σ w²·n_g, R = Σ r_g) — every moment an exact
    * decimal(38,0), z assembled in ONE pinned double order (the q287
    * z_milli discipline) so both engines replay it bit-for-bit.
    * z > 0 = the rate RISES with the score. NULL z on a degenerate
    * battery (one group, all-case/no-case, or constant scores).
    *
    * Scale (100 TB): one aggregation to the score-cardinality grain,
    * one 6-number fold. */
  def cochranArmitage(df: DataFrame, isCase: Column,
                      score: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = df.select(score.cast("long").as("w"),
        isCase.cast("long").as("c"))
      .where(col("w").isNotNull && col("c").isNotNull)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("rg"))
    val m = g.agg(count(lit(1)).as("k_groups"), sum(col("ng")).as("n"),
      sum(col("rg")).as("r"),
      sum(dec(col("w")) * dec(col("ng"))).as("w1"),
      sum(dec(col("w")) * dec(col("w")) * dec(col("ng"))).as("w2"),
      sum(dec(col("w")) * dec(col("rg"))).as("t"))
    val num = dec(col("n")) * col("t") - dec(col("r")) * col("w1")
    val varTerm = dec(col("r")) * dec(col("n") - col("r")) *
      (dec(col("n")) * col("w2") - col("w1") * col("w1"))
    val zMilli = floor(lit(1000d) * num.cast("double") /
      org.apache.spark.sql.functions.sqrt(
        varTerm.cast("double") / (col("n") - lit(1L)).cast("double")) +
      lit(0.5d)).cast("long")
    m.select(col("n"), col("k_groups"), col("r").as("n_cases"),
      col("t").cast("long").as("t_stat"),
      when(col("k_groups") < 2L || col("r") === 0L ||
          col("r") === col("n") ||
          dec(col("n")) * col("w2") === col("w1") * col("w1"),
        lit(null).cast("long"))
        .otherwise(zMilli).as("z_milli"))
  }

  /** q360: is the share of F-status orders trending across order
    * years (scores = year − 1992). */
  def q360(s: SparkSession, d: String): DataFrame =
    cochranArmitage(Tables.orders(s, d),
      (col("o_orderstatus") === "F").cast("int"),
      year(col("o_orderdate")) - lit(1992))

  /** k-MAP RE-IDENTIFICATION RISK (round 14) — the privacy family's
    * EXTERNAL-adversary member: k-anonymity (q183) asks "how many
    * rows in the RELEASE share my quasi-identifiers", but the attack
    * that matters joins the release against a POPULATION register —
    * a released row is safe iff its QI combination is common in the
    * population, regardless of how unique it is in the sample
    * (Sweeney's k-map). Per population-k band (k=1, 2–4, 5–19, ≥20):
    * released rows and distinct QI groups; the ALL row carries
    * at_risk_bp = 10⁴ · released rows whose population k ≤ 4 / total
    * released — the number a privacy review gates on.
    *
    * Scale (100 TB): two QI-grain aggregations + one join at the QI
    * grain (population table never joins row-level). */
  def kMap(sample: DataFrame, population: DataFrame,
           qis: Seq[String]): DataFrame = {
    val qcols = qis.map(col)
    val pop = population.groupBy(qcols: _*).agg(count(lit(1)).as("k_pop"))
    val smp = sample.groupBy(qcols: _*).agg(count(lit(1)).as("n_rows"))
    val banded = smp.join(pop, qis)
      .select(when(col("k_pop") === 1L, "k=1")
          .when(col("k_pop") <= 4L, "k=2-4")
          .when(col("k_pop") <= 19L, "k=5-19")
          .otherwise("k>=20").as("band"),
        col("n_rows"), col("k_pop"))
      .localCheckpoint() // feeds the band rollup AND the ALL fold
    val per = banded.groupBy(col("band"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_rows")).as("n_released"))
      .select(col("band"), col("n_groups"), col("n_released"),
        lit(null).cast("long").as("at_risk_bp"))
    val all = banded.agg(sum(col("n_rows")).as("n_released"),
        sum(when(col("k_pop") <= 4L, col("n_rows")).otherwise(0L)).as("risky"))
      .select(lit("ALL").as("band"), lit(null).cast("long").as("n_groups"),
        col("n_released"),
        graft.functions.F.idiv(lit(10000L) * col("risky"),
          col("n_released")).as("at_risk_bp"))
    per.unionByName(all)
  }

  /** q361: k-map risk of releasing the high-balance customer slice
    * keyed by (nation, market segment) against the full customer
    * population. */
  def q361(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    kMap(c.filter(col("c_acctbal") >= 9000), c,
      Seq("c_nationkey", "c_mktsegment"))
  }

  /** DISTINCT l-DIVERSITY (round 16) — the privacy family's member
    * between k-anonymity (q183: how many rows share my QIs) and k-map
    * (q361: how common are my QIs in the population): a group can be
    * k-anonymous and still leak when every one of its rows carries
    * the SAME sensitive value — the adversary learns the attribute
    * without re-identifying anybody (the homogeneity attack;
    * Machanavajjhala et al.'s l-diversity). Per QI group of the
    * release, l = distinct sensitive values; bands l=1 (sensitive
    * value fully determined), l=2-3, l≥4 report groups and released
    * rows, and the ALL row carries at_risk_bp = 10⁴ · rows in l=1
    * groups / total released — the number the privacy review gates
    * on, next to q361's at_risk_bp.
    *
    * Scale (100 TB): one (QI, sensitive)-grain aggregation, one
    * QI-grain rollup, one bounded band fold — no row-level joins. */
  def lDiversity(release: DataFrame, qis: Seq[String],
                 sensitive: Column): DataFrame = {
    val qcols = qis.map(col)
    val perGroup = release
      .select(qcols :+ sensitive.as("__sens"): _*)
      .groupBy(qcols: _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("__sens")).as("l"))
      .localCheckpoint() // feeds the band rollup AND the ALL fold
    val per = perGroup
      .select(when(col("l") === 1L, "l=1")
          .when(col("l") <= 3L, "l=2-3")
          .otherwise("l>=4").as("band"),
        col("n_rows"), col("l"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_rows")).as("n_released"),
        min(col("l")).as("min_l"))
      .select(col("band"), col("n_groups"), col("n_released"),
        col("min_l"), lit(null).cast("long").as("at_risk_bp"))
    val all = perGroup.agg(count(lit(1)).as("n_groups"),
        sum(col("n_rows")).as("n_released"), min(col("l")).as("min_l"),
        sum(when(col("l") === 1L, col("n_rows")).otherwise(0L)).as("risky"))
      .select(lit("ALL").as("band"), col("n_groups"), col("n_released"),
        col("min_l"),
        graft.functions.F.idiv(lit(10000L) * col("risky"),
          col("n_released")).as("at_risk_bp"))
    per.unionByName(all)
  }

  /** q398: l-diversity of the q361 release slice (high-balance
    * customers keyed by nation × segment) with the $1000 balance band
    * as the sensitive attribute — the exact slice q361 scores for
    * re-identification, now scored for attribute disclosure. */
  def q398(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    lDiversity(c.filter(col("c_acctbal") >= 9000),
      Seq("c_nationkey", "c_mktsegment"),
      graft.functions.F.idiv(cents(col("c_acctbal")) + lit(100000L),
        lit(100000L)))
  }

  /** t-CLOSENESS (round 16) — the privacy family's distributional
    * member (Li, Li & Venkatasubramanian): l-diversity counts
    * distinct sensitive values but a group whose distribution SKEWS
    * far from the table's still leaks ("all the rare disease cases
    * are in this zip code"). For an ORDERED sensitive attribute the
    * distance is the Earth Mover's Distance under unit ground
    * distance between adjacent categories: EMD = Σ|cum(p) − cum(q)|
    * over the m global categories, normalized by m − 1 — computed
    * here EXACTLY on the bp lattice: shares as idiv(10⁴·cnt, n),
    * cumulated per category in global order, |diffs| summed, one
    * final idiv by m − 1. Output: the 20 worst groups (t_bp desc,
    * QIs asc — the q102 top-k discipline) plus an ALL row with the
    * max t_bp and the count of groups above the folklore t = 0.2
    * line (2000 bp).
    *
    * Scale (100 TB): one (QI, category)-grain aggregation, one
    * broadcast join against the m-row global distribution, a
    * QI-grain window cumsum (partition = group, m rows each), one
    * rollup. The QI-grain sort for the top-k is the only global
    * order, over group-count rows, not data rows. */
  def tCloseness(release: DataFrame, qis: Seq[String],
                 sensitive: Column, topK: Int = 20): DataFrame = {
    val qcols = qis.map(col)
    val base = release.select(qcols :+ sensitive.as("__cat"): _*)
      .localCheckpoint() // grouped twice (global + per-QI)
    val globalN = base.count()
    val global = base.groupBy(col("__cat"))
      .agg(count(lit(1)).as("cnt_g"))
    val m = global.count()
    require(m >= 2, s"tCloseness: need >= 2 sensitive categories, got $m")
    val groups = base.groupBy(qcols: _*).agg(count(lit(1)).as("n_grp"))
    // dense (group × category) grid so absent categories contribute
    // their zero share to the group's cumulative curve
    val grid = groups.crossJoin(broadcast(global))
      .join(base.groupBy(qcols :+ col("__cat"): _*)
          .agg(count(lit(1)).as("cnt")),
        qis :+ "__cat", "left")
      .na.fill(0L, Seq("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qcols: _*).orderBy(col("__cat"))
    val cum = grid
      .withColumn("cum_p_bp", sum(graft.functions.F.idiv(
        lit(10000L) * col("cnt"), col("n_grp"))).over(w))
      .withColumn("cum_q_bp", sum(graft.functions.F.idiv(
        lit(10000L) * col("cnt_g"), lit(globalN))).over(w))
    val perGroup = cum.groupBy((qcols :+ col("n_grp")): _*)
      .agg(sum(abs(col("cum_p_bp") - col("cum_q_bp"))).as("emd_sum"))
      .select(qcols ++ Seq(col("n_grp").as("n_rows"),
        graft.functions.F.idiv(col("emd_sum"), lit(m - 1L)).as("t_bp")): _*)
      .localCheckpoint() // feeds the top-k AND the ALL fold
    val worst = perGroup
      .orderBy(col("t_bp").desc +: qcols.map(_.asc): _*)
      .limit(topK)
    val all = perGroup.agg(max(col("t_bp")).as("max_t"),
        sum((col("t_bp") > 2000L).cast("long")).as("n_over"),
        sum(col("n_rows")).as("n_total"))
      .select(Seq(lit(null).cast(worst.schema(qis.head).dataType)
          .as(qis.head)) ++
        qis.tail.map(q => lit(null).cast(worst.schema(q).dataType).as(q)) ++
        Seq(col("n_total").as("n_rows"), col("max_t").as("t_bp"),
          col("n_over").as("n_over_2000bp")): _*)
      .withColumn("__all", lit(1))
    // the ALL row rides last (the __all rank keeps the union order
    // deterministic); per-group rows carry NULL n_over_2000bp
    worst.withColumn("n_over_2000bp", lit(null).cast("long"))
      .withColumn("__all", lit(0)).unionByName(all)
      .orderBy((col("__all") +: col("t_bp").desc +: qcols.map(_.asc)): _*)
      .drop("__all")
  }

  /** q399: t-closeness of the full customer table keyed by nation ×
    * segment over the ordered $1000 balance band — the q398 sensitive
    * attribute scored distributionally. */
  def q399(s: SparkSession, d: String): DataFrame =
    // nationkey pre-cast to long: the ALL row's typed NULL must union
    // with the group rows at ONE type on both engines (DuckDB widens
    // INT union NULL::BIGINT to BIGINT; match it here)
    tCloseness(Tables.customer(s, d)
        .withColumn("c_nationkey", col("c_nationkey").cast("long")),
      Seq("c_nationkey", "c_mktsegment"),
      graft.functions.F.idiv(cents(col("c_acctbal")) + lit(100000L),
        lit(100000L)))

  /** Two-sided normal p-values on the |z| centi-grid (0.00..4.00),
    * quantized to e6 — DRIVER-generated literals both engines share
    * verbatim (the rboWeights/periodogram convention; erf has no SQL
    * standard form and no exact integer form, so the QUANTIZED lookup
    * is the cross-engine contract). Abramowitz–Stegun 7.1.26 erfc
    * (|err| ≤ 1.5·10⁻⁷, below the e6 grid): p = erfc(z/√2). */
  val ZpTable: Seq[(Int, Long)] = (0 to 400).map { b =>
    val x = (b / 100.0) / math.sqrt(2.0)
    val t = 1.0 / (1.0 + 0.3275911 * x)
    val y = t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
      t * (-1.453152027 + t * 1.061405429)))) * math.exp(-x * x)
    (b, math.floor(y * 1e6 + 0.5).toLong)
  }

  /** BENJAMINI–HOCHBERG FDR CONTROL (round 14) — the multiple-testing
    * correction every per-segment test battery needs: run q209-style
    * z-tests across 25 nations and "p < 0.05 somewhere" is guaranteed
    * noise; BH's step-up rule (largest i with p_(i) ≤ q·i/m, flag
    * ranks ≤ i) controls the EXPECTED FALSE-DISCOVERY SHARE at q —
    * the standard dashboard-battery gate. Battery here: per-group
    * two-proportion z vs the pooled rate, in the algebraically
    * clean form z = (k·N − K·n)/√(n·K·(N−K)) — numerator and the
    * sqrt argument EXACT integers (decimal products), one pinned
    * double boundary (the q287 z_milli discipline); p by the shared
    * ZpTable lookup at the |z| centi-bucket (clamped at 4.00); the
    * step-up comparison p_e6·m ≤ qE6·i is pure integers. Degenerate
    * groups (zero variance) drop from the battery, documented.
    *
    * Scale (100 TB): one group aggregation, a 3-number fold, a
    * 401-row broadcast lookup, and a battery-sized (m-row) window. */
  /** Shared by bhFdr and holmBonferroni: per-group two-sided
    * pooled-proportion p-values on the ZpTable lattice, ranked by
    * (p asc, g asc) with the battery size m alongside. */
  private def zpRanked(df: DataFrame, isCase: Column,
                       group: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val spark = df.sparkSession
    import spark.implicits._
    val g = df.select(group.as("g"), isCase.cast("long").as("c"))
      .where(col("g").isNotNull && col("c").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("k"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"))
    val zp = ZpTable.toDF("b", "p_e6")
    val scored = g.crossJoin(broadcast(tot))
      .withColumn("num",
        dec(col("k")) * dec(col("nn")) - dec(col("kk")) * dec(col("n")))
      .withColumn("arg",
        dec(col("n")) * dec(col("kk")) * dec(col("nn") - col("kk")))
      .where(col("arg") > dec(lit(0L)))
      .withColumn("z_milli", floor(lit(1000d) * col("num").cast("double") /
        org.apache.spark.sql.functions.sqrt(col("arg").cast("double")) +
        lit(0.5d)).cast("long"))
      .withColumn("b",
        least(graft.functions.F.idiv(abs(col("z_milli")), lit(10L)),
          lit(400L)).cast("int"))
      .join(broadcast(zp), Seq("b"))
      .localCheckpoint() // battery-sized; feeds rank, m, and the cut
    val m = scored.agg(count(lit(1)).as("m"))
    scored
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("p_e6").asc, col("g").asc)).cast("long"))
      .crossJoin(broadcast(m))
  }

  def bhFdr(df: DataFrame, isCase: Column, group: Column,
            qE6: Long = 100000L): DataFrame = {
    val ranked = zpRanked(df, isCase, group)
    val cut = ranked
      .agg(max(when(col("p_e6") * col("m") <= lit(qE6) * col("rank"),
        col("rank"))).as("cut"))
    ranked.crossJoin(broadcast(cut))
      .select(col("g"), col("n"), col("k"), col("z_milli"), col("p_e6"),
        col("rank"),
        (col("rank") <= coalesce(col("cut"), lit(0L))).cast("int")
          .as("is_discovery"))
  }

  /** HOLM STEP-DOWN (round 16) — the FWER member completing the
    * multiple-testing family: BH (q368) controls the FALSE DISCOVERY
    * RATE ("of my rejections, ≤q are noise" — right for screening),
    * Holm controls the FAMILY-WISE error ("probability of even ONE
    * false rejection ≤ α" — right when each rejection triggers an
    * action), uniformly more powerful than plain Bonferroni at the
    * same guarantee and valid under arbitrary dependence. Step-DOWN on
    * the shared (p asc, g asc) ranking: reject while
    * p₍ₖ₎·(m−k+1) ≤ α and STOP at the first failure — the stop is the
    * semantic difference from BH's max-rank cut (a later small p
    * cannot resurrect the chain), pinned by the spec. Exact integers
    * on the shared ZpTable lattice; the cut is min(rank where the
    * inequality fails) − everything strictly below survives.
    *
    * Scale: the q368 shape — battery-sized after one unit aggregation. */
  def holmBonferroni(df: DataFrame, isCase: Column, group: Column,
                     alphaE6: Long = 50000L): DataFrame = {
    val ranked = zpRanked(df, isCase, group)
    val cut = ranked
      .agg(min(when(col("p_e6") * (col("m") - col("rank") + 1L) >
        lit(alphaE6), col("rank"))).as("stop"))
    ranked.crossJoin(broadcast(cut))
      .select(col("g"), col("n"), col("k"), col("z_milli"), col("p_e6"),
        col("rank"),
        (col("rank") < coalesce(col("stop"), col("m") + 1L)).cast("int")
          .as("is_reject"))
  }

  /** q418: which nations' high-balance (> 4500) SUPPLIER share
    * deviates from the pooled rate with family-wise α = 0.05 — the
    * action-grade twin of q368's screening-grade battery. (The
    * threshold keeps both classes populated down to sf0.001, where a
    * positive-balance flag is constant and every group's z-denominator
    * would vanish.) */
  def q418(s: SparkSession, d: String): DataFrame =
    holmBonferroni(Tables.supplier(s, d),
      (col("s_acctbal") > 4500).cast("int"),
      col("s_nationkey"))
      .withColumnRenamed("g", "nation")

  /** q368: which nations' positive-balance share genuinely deviates
    * from the pooled rate, at FDR q = 0.10. */
  def q368(s: SparkSession, d: String): DataFrame =
    bhFdr(Tables.customer(s, d), (col("c_acctbal") > 0).cast("int"),
      col("c_nationkey"))
      .withColumnRenamed("g", "nation")

  /** WEIGHT OF EVIDENCE + INFORMATION VALUE (round 14) — the
    * credit-scoring/feature-screening standard: per feature band,
    * WoE = log(good share / bad share) says which way and how hard
    * the band separates the classes, and IV = Σ(Δshare)·WoE is the
    * one-number screen ("IV < 0.02 = useless, > 0.5 = suspicious").
    * Exact integers: Laplace-smoothed counts (+1 per band, totals
    * +n_bands — the documented convention that keeps empty bands
    * finite), WoE in 64·log2 units via the distributed withLg64
    * (woe_q = lg64((g+1)·B′) − lg64((b+1)·G′)), share deltas on the
    * e6 grid by one idiv (Spark IntegralDivide and DuckDB // BOTH
    * truncate toward zero — neither floors — so negative deltas
    * replay exactly; r14 advice corrected this note's wording), IV
    * as the e6-descaled sum — bit-replayable end to end. Per-band
    * rows + the ALL row carrying iv_q.
    *
    * Scale (100 TB): one band-grain aggregation + a 1-row total
    * broadcast; bands are fixed-width (scale-safe — no global
    * ntile window over the corpus). */
  def woeIv(df: DataFrame, isBad: Column, band: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = df.select(band.cast("long").as("band"),
        isBad.cast("long").as("bad"))
      .where(col("band").isNotNull && col("bad").isNotNull)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("bad")).as("nb"))
    val tot = g.agg(sum(col("n") - col("nb")).as("gt"),
      sum(col("nb")).as("bt"), count(lit(1)).as("k"))
    var j = g.crossJoin(broadcast(tot))
      .withColumn("gp", col("n") - col("nb") + 1L)
      .withColumn("bp", col("nb") + 1L)
      .withColumn("gtp", col("gt") + col("k"))
      .withColumn("btp", col("bt") + col("k"))
    j = graft.functions.Cols.withLg64(j, col("gp") * col("btp"), "lgg")
    j = graft.functions.Cols.withLg64(j, col("bp") * col("gtp"), "lgb")
    val rows = j
      .withColumn("woe_q", col("lgg") - col("lgb"))
      .withColumn("d_e6", graft.functions.F.idiv(
        dec(lit(1000000L)) *
          (dec(col("gp")) * dec(col("btp")) -
            dec(col("bp")) * dec(col("gtp"))),
        dec(col("gtp")) * dec(col("btp"))))
      .localCheckpoint() // band-sized; feeds rows AND the IV fold
    val per = rows.select(col("band"), col("n"), col("nb").as("n_bad"),
      col("woe_q"), lit(null).cast("long").as("iv_q"))
    val all = rows.agg(sum(col("n")).as("n"), sum(col("nb")).as("n_bad"),
        sum(col("d_e6") * col("woe_q")).as("ivs"))
      .select(lit(-1L).as("band"), col("n"), col("n_bad"),
        lit(null).cast("long").as("woe_q"),
        graft.functions.F.idiv(col("ivs"), lit(1000000L)).as("iv_q"))
    per.unionByName(all)
  }

  /** q369: WoE/IV of the $50k order-price bands against F status. */
  def q369(s: SparkSession, d: String): DataFrame =
    woeIv(Tables.orders(s, d), (col("o_orderstatus") === "F").cast("int"),
      least(floor(col("o_totalprice") / 50000), lit(9)).cast("long"))

  /** HITS sweep count + fixed-point scale, shared with the oracle. */
  val HitsIters = 4
  val HitsScale = 1000000L

  /** HITS HUBS & AUTHORITIES (round 12; Kleinberg) — the BIPARTITE
    * ranking q147's PageRank cannot express: on a directed
    * customer→part purchase graph, a good HUB (customer whose basket
    * spans the catalog's important parts) and a good AUTHORITY (part
    * bought by the important customers) reinforce each other —
    * a(p) = Σ_{c→p} h(c), h(c) = Σ_{c→p} a(p). Fixed HitsIters
    * synchronized sweeps (the q147/q272/q285 unroll contract), each
    * side renormalized to max = 10⁶ by truncating division (the q281
    * power-iteration convention — pure integers, engine-replayable).
    *
    * Scale: per sweep ONE edge join + ONE aggregation per side over
    * the deduplicated edge list + a 1-row max broadcast back; output
    * is the top-k of each side. */
  def hits(edges: DataFrame, src: String, dst: String,
           iters: Int = HitsIters, k: Int = 10): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val e = edges.select(col(src).as("s"), col(dst).as("t"))
      .distinct().localCheckpoint()
    // checkpoint BEFORE the max cross-join: the raw scores feed both
    // the normalizer and the main side — without it every sweep ran
    // its edge join + aggregation twice (review finding, round 12)
    def norm(scores0: DataFrame, key: String, c: String): DataFrame = {
      // r16: no checkpoint here — the double consumption (max
      // normalizer + main side) now lives inside ONE per-sweep job
      // (see the loop), where the duplicated aggregate subtree shares
      // its shuffle via exchange reuse; the old inner checkpoint was a
      // second eager job per sweep side.
      //
      // r17 dead ends, MEASURED (VERDICT r16 item 3 tried and
      // rejected): (a) a driver-scalar normalizer — checkpoint the RAW
      // scores, collect max via head(), divide by the literal — reads
      // 2.69 → 4.03 s warm at sf0.1 (the per-side max head() is one
      // more SERIAL action per sweep, where this broadcast build runs
      // concurrently inside the checkpoint job); (b) scalar normalizer
      // PLUS two pre-partitioned checkpointed edge copies (hash(s) /
      // hash(t)) to kill the per-sweep edge exchanges reads 3.87 s,
      // 69 jobs — AQE re-plans the tiny post-shuffle partition counts,
      // so the checkpointed partitioning is not reused and the extra
      // upfront jobs are pure cost. The query is job-COUNT bound
      // (66 jobs × ~30-50 ms driver latency; stage work is ~2.1 s of
      // 3.4 s wall), and its floor is the 2 eager sweeps × iters the
      // truncating-division recurrence forces.
      scores0.crossJoin(broadcast(scores0.agg(max(col(c)).as("mx"))))
        .select(col(key), graft.functions.F.idiv(
          dec(lit(HitsScale)) * dec(col(c)), dec(col("mx")))
          .cast("long").as(c))
    }
    var h = e.select(col("s")).distinct()
      .select(col("s"), lit(HitsScale).as("hs")).localCheckpoint()
    var a = e.select(col("t")).distinct()
      .select(col("t"), lit(HitsScale).as("ascore")).localCheckpoint()
    // r16 optimization (guide §1.2): ONE eager materialization per
    // sweep side instead of two — the raw aggregate's double
    // consumption (max normalizer + main side) is deduplicated by
    // exchange reuse inside the per-sweep checkpoint job, so norm()'s
    // old inner checkpoint was a redundant second job per side.
    // (Dropping the outer per-sweep checkpoints instead was measured
    // SLOWER at sf0.1 — 4.5 → 6.0 s warm — the cross-sweep broadcast
    // normalizers then rebuild per consumer.)
    for (_ <- 1 to iters) {
      // sums in decimal(38,0): Σ over degree of 10⁶-scaled scores
      // wraps a long past ~10¹² in-neighbors
      a = norm(e.join(h, "s").groupBy(col("t"))
        .agg(sum(dec(col("hs"))).as("ascore")), "t", "ascore").localCheckpoint()
      h = norm(e.join(a, "t").groupBy(col("s"))
        .agg(sum(dec(col("ascore"))).as("hs")), "s", "hs").localCheckpoint()
    }
    val hubs = h.orderBy(col("hs").desc, col("s").asc).limit(k)
      .select(lit("hub").as("side"), col("s").as("node"), col("hs").as("score"))
    val auths = a.orderBy(col("ascore").desc, col("t").asc).limit(k)
      .select(lit("authority").as("side"), col("t").as("node"),
        col("ascore").as("score"))
    val w = Window.partitionBy(col("side"))
      .orderBy(col("score").desc, col("node").asc)
    hubs.unionByName(auths)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("side"), col("rank"), col("node"), col("score"))
  }

  /** q324: top-10 hub customers and authority parts of the sampled
    * purchase graph (the q190 basket sampling, customer side via
    * orders). */
  def q324(s: SparkSession, d: String): DataFrame =
    hits(Tables.lineitem(s, d).filter(col("l_orderkey") % 8 === 0)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")), "o_custkey", "l_partkey")

  /** SAMPLE-RATIO-MISMATCH CHECK (round 12) — the pre-flight gate
    * every experimentation platform runs before reading ANY metric: if
    * the 50/50 assignment hash didn't deliver 50/50 UNITS, the
    * experiment is corrupted (bot filtering, logging loss, a biased
    * gate) and all downstream stats are garbage. χ² goodness-of-fit
    * against the even split in exact integers — χ² = (2n_a − N)²/N
    * for two arms — in milli by one truncating idiv, flagged against
    * the df=1 α=0.05 critical value 3.841 (literal constant, the q287
    * is_significant convention). Assignment = the q100 knuth-
    * multiplicative unit hash, mod 2.
    *
    * Scale: one distinct-unit shuffle + a 1-row fold. */
  def srmCheck(df: DataFrame, unit: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val armed = df.select(unit.as("u")).where(col("u").isNotNull).distinct()
      .select((((col("u") % 1000003L) * 427799L) % 1000003L % 2L).as("arm"))
    armed.agg(count(lit(1)).as("n_units"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_units"), col("n_a"), col("n_b"),
        graft.functions.F.idiv(dec(lit(1000L)) *
          (dec(lit(2L)) * col("n_a") - col("n_units")) *
          (dec(lit(2L)) * col("n_a") - col("n_units")), dec(col("n_units")))
          .cast("long").as("chi2_milli"))
      .withColumn("srm_flag", (col("chi2_milli") > lit(3841L)).cast("int"))
  }

  /** q327: SRM audit of the knuth-hash 50/50 split over event users. */
  def q327(s: SparkSession, d: String): DataFrame =
    srmCheck(Tables.events(s, d), col("user_id"))

  /** THEIL–SEN ROBUST TREND (round 12) — the median-of-pairwise-slopes
    * estimator: one outlier day can drag an OLS fit anywhere (q256's
    * changepoint machinery measures exactly such days), while the
    * Theil–Sen slope moves only if HALF the pairs move — the trend
    * number to quote for a KPI series with promo spikes and outages
    * in it. Slopes quantize per pair as idiv(1000·Δy, Δx) (exact,
    * documented milli grid); the reported slope is the LOWER MEDIAN of
    * the pair slopes ((n+1)/2-th ascending, ties by position — total
    * order, engine-replayable), intercept the lower median of
    * 1000·y − slope·x over units.
    *
    * Scale: unit-grain series (the q322 day-table discipline) — pairs
    * are lattice², the median windows run post-bounded. The operator
    * is QUADRATIC in its unit grain by construction (every pair's
    * slope is the estimator's definition), so it guards its own
    * contract: more than `maxUnits` units is almost always a caller
    * passing a corpus where a series belongs — pre-aggregate to a
    * bounded lattice (day/week grain, the q322/q328 shape) first, or
    * raise `maxUnits` deliberately after costing ~n²/2 pairs. The
    * default admits a full decade of daily points (3.7k units → ≤7M
    * pairs) with headroom. */
  def theilSen(units: DataFrame, x: Column, y: Column,
               maxUnits: Long = 4096L): DataFrame = {
    val spark = units.sparkSession
    import spark.implicits._
    // The estimator is quadratic in its unit grain BY DEFINITION, and
    // the guard below caps that grain at maxUnits — so the whole pair
    // set is model-sized (≤ ~8.4M slopes at the default), never
    // corpus-sized. Collect the UNITS (≤ maxUnits rows; the limit
    // bounds the driver transfer even when a caller passes a corpus —
    // the require still trips on the sentinel row) and enumerate the
    // slopes as a bounded driver fold, the anisotropy/Lloyd convention.
    // r16 optimization: the previous shape materialized the n²/2-row
    // pair table through a join + localCheckpoint and then median-
    // picked it with a SINGLE-PARTITION window sort (rankPick) — ~3 s
    // of exchange and one-task sort at sf0.1 for a number derivable
    // from 2.4k day rows. Scala long division truncates toward zero
    // exactly like F.idiv / DuckDB `//`, so the milli grid is
    // bit-identical.
    // maxUnits feeds a limit(toInt) and an n² driver enumeration — a
    // value near Int.MaxValue would overflow the limit into a wrong or
    // negative cap (ADVICE r16); the fold is only sane far below that.
    require(maxUnits >= 1 && maxUnits < Int.MaxValue,
      s"theilSen: maxUnits=$maxUnits out of range [1, ${Int.MaxValue - 1}]")
    val u0 = units.select(x.cast("long").as("xv"), y.cast("long").as("yv"))
      .where(col("xv").isNotNull && col("yv").isNotNull)
      .limit((maxUnits + 1).toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nu = u0.length.toLong
    require(nu <= maxUnits,
      s"theilSen: >= $nu units would form ~${nu * nu / 2}+ slope pairs; " +
        "pre-aggregate the series to a bounded grain (the q328 day-table " +
        "discipline) or raise maxUnits deliberately")
    val sb = scala.collection.mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i < u0.length) {
      var j = 0
      while (j < u0.length) {
        if (u0(i)._1 < u0(j)._1)
          sb += 1000L * (u0(j)._2 - u0(i)._2) / (u0(j)._1 - u0(i)._1)
        j += 1
      }
      i += 1
    }
    val sl = sb.result()
    val np = sl.length.toLong
    // degenerate series (no pairs): the oracle's median CTEs produce
    // zero rows — mirror that with an empty frame, never a crash
    if (np == 0)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("n_units", "n_pairs", "slope_milli", "intercept_milli")
    // lower median = value at ascending rank (n+1)/2 — rank-by-position
    // ties collapse to the same VALUE, so an unstable sort is exact
    java.util.Arrays.sort(sl)
    val slope = sl(((np + 1) / 2 - 1).toInt)
    val ic = u0.map { case (xv, yv) => 1000L * yv - slope * xv }
    java.util.Arrays.sort(ic)
    val intercept = ic(((nu + 1) / 2 - 1).toInt)
    Seq((nu, np, slope, intercept))
      .toDF("n_units", "n_pairs", "slope_milli", "intercept_milli")
  }

  /** MANN–KENDALL TREND TEST (round 13) — the SIGNIFICANCE companion
    * to q328's Theil–Sen slope: S = Σ_{i<j} sign(y_j − y_i) over the
    * time-ordered unit series asks "is there ANY monotone trend",
    * robust to outliers and distribution-free — the pair every
    * KPI-trend readout needs (Theil–Sen says how steep, this says
    * whether to believe it). Tie-corrected variance
    * 18·var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5); z applies the
    * textbook ±1 continuity correction and assembles from exact
    * decimal components in ONE pinned double order (the q287
    * discipline). Quadratic in the unit grain by definition — the
    * q328 maxUnits guardrail applies verbatim.
    *
    * Scale: unit-grain series only (day/week lattice); pairs are
    * lattice², the tie rollup is value-grain. */
  def mannKendall(units: DataFrame, x: Column, y: Column,
                  maxUnits: Long = 4096L): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val u = units.select(x.as("xv"), y.as("yv"))
      .where(col("xv").isNotNull && col("yv").isNotNull)
      .localCheckpoint()
    val nu = u.count()
    require(nu <= maxUnits,
      s"mannKendall: $nu units would form ~${nu * nu / 2} sign pairs; " +
        "pre-aggregate the series to a bounded grain (the q328 day-table " +
        "discipline) or raise maxUnits deliberately")
    val sStat = u.as("a").join(u.as("b"), col("a.xv") < col("b.xv"))
      .agg(coalesce(sum(signum(col("b.yv") - col("a.yv")).cast("long")),
        lit(0L)).as("s"))
    val ties = u.groupBy(col("yv")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(dec(col("t")) * (dec(col("t")) - dec(lit(1L))) *
        (dec(lit(2L)) * dec(col("t")) + dec(lit(5L)))), dec(lit(0L)))
        .as("tie_term"))
    val n = dec(lit(nu))
    val var18 = n * (n - dec(lit(1L))) * (dec(lit(2L)) * n + dec(lit(5L))) -
      col("tie_term")
    val sD = col("s").cast("double")
    val z = when(col("s") > 0L, (sD - lit(1d)) / sqrt(var18.cast("double") / lit(18d)))
      .when(col("s") < 0L, (sD + lit(1d)) / sqrt(var18.cast("double") / lit(18d)))
      .otherwise(lit(0d))
    sStat.crossJoin(broadcast(ties))
      .select(lit(nu).as("n_units"), col("s").as("s_stat"),
        var18.cast("long").as("var18"),
        when(var18 <= dec(lit(0L)), lit(null).cast("long"))
          .otherwise(floor(z * lit(1000d) + lit(0.5d)).cast("long"))
          .as("z_milli"))
      .withColumn("is_trending",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) > lit(1960L)).cast("int")))
  }

  /** q341: is daily order revenue monotonically trending (the q328
    * series re-read as a significance test). */
  def q341(s: SparkSession, d: String): DataFrame =
    mannKendall(
      Tables.orders(s, d).groupBy(col("o_orderdate"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
        .select(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("long").as("xd"), col("rev")),
      col("xd"), col("rev"))

  /** q328: robust daily-revenue trend (x = days since epoch, y =
    * revenue cents). */
  def q328(s: SparkSession, d: String): DataFrame =
    theilSen(
      Tables.orders(s, d).groupBy(col("o_orderdate"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
        .select(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
          .cast("long").as("xd"), col("rev")),
      col("xd"), col("rev"))

  /** Benford expected first-digit masses, in milli (log10(1+1/d)). */
  val BenfordMilli: Seq[Long] =
    Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)

  /** BENFORD FIRST-DIGIT AUDIT (round 12) — the classic
    * fraud/fabrication screen for naturally-spanning amounts: organic
    * multi-order-of-magnitude values lead with 1 ~30% of the time;
    * invented or clipped numbers don't. Per digit: observed count,
    * Benford-expected count (E_d = ⌊n·p_d/1000⌋, the literal milli
    * masses), deviation in milli of expected, and the one-row χ² with
    * per-digit terms ⌊1000·(O−E)²/E⌋ floored before the sum (q201
    * discipline) carried on every row (the q274 global-alongside
    * convention). First digit via the decimal string head — exact and
    * identical in both engines for positive integers.
    *
    * Scale: one map-side digit extraction + a 9-row rollup. */
  def benfordAudit(df: DataFrame, amount: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val digits = df.select(amount.as("v")).where(col("v") > 0L)
      .select(substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val spark = df.sparkSession
    import spark.implicits._
    val expected = BenfordMilli.zipWithIndex
      .map { case (m, i) => (i + 1L, m) }.toDF("digit", "p_milli")
    val n = digits.agg(sum(col("n_obs")).as("n"))
    val grid = expected.crossJoin(broadcast(n))
      .join(digits, Seq("digit"), "left").na.fill(0L, Seq("n_obs"))
      .select(col("digit"), col("n_obs"),
        graft.functions.F.idiv(col("n") * col("p_milli"), lit(1000L))
          .as("n_expected"))
      .localCheckpoint()
    val chi = grid.agg(sum(when(col("n_expected") === 0L, 0L)
      .otherwise(graft.functions.F.idiv(dec(lit(1000L)) *
        (col("n_obs") - col("n_expected")) *
        (col("n_obs") - col("n_expected")),
        dec(col("n_expected"))).cast("long"))).as("chi2_milli"))
    grid.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"), col("n_expected"),
        col("chi2_milli"))
  }

  /** q329: Benford audit of order totals (cent amounts). */
  def q329(s: SparkSession, d: String): DataFrame =
    benfordAudit(Tables.orders(s, d), cents(col("o_totalprice")))

  /** FREQUENT TRIPLES (round 12) — the 3-itemset tier of the
    * association-mining family (q68/q165 mine pairs, q305 serves
    * them): the cross-sell bundles a pair table cannot see (bread +
    * butter + jam where no two of the three stand out pairwise).
    * Triples explode WITHIN the sorted basket array (q68's discipline
    * — never a fact self-join; a basket of m items emits C(m,3)
    * combinations, bounded because basket size is), counted per
    * distinct triple, support-floored, top-k by (count DESC, items
    * ASC). */
  def frequentTriples(items: DataFrame, basket: String, item: String,
                      minSupport: Long = 2L, k: Int = 20): DataFrame = {
    val baskets = items.select(col(basket).as("bk"), col(item).as("it"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("arr"))
    baskets
      .select(posexplode(col("arr")).as(Seq("i", "a")), col("arr"))
      .select(col("a"),
        posexplode(slice(col("arr"), col("i") + 2,
          size(col("arr")) - col("i") - 1)).as(Seq("j0", "b")),
        col("arr"), col("i"))
      // absolute 0-based index of b is i + 1 + j0; c ranges after it
      .select(col("a"), col("b"),
        explode(slice(col("arr"), col("i") + col("j0") + 3,
          size(col("arr")) - col("i") - col("j0") - 2)).as("c"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_baskets"))
      .where(col("n_baskets") >= minSupport)
      .orderBy(col("n_baskets").desc, col("a").asc, col("b").asc,
        col("c").asc)
      .limit(k)
      .select(col("a").as("item_a"), col("b").as("item_b"),
        col("c").as("item_c"), col("n_baskets"))
  }

  /** q335: top-20 co-purchased PART-FAMILY triples of the sampled
    * baskets (family = partkey mod 100 — the category grain where
    * bundles repeat; raw part keys are too sparse for 3-itemsets at
    * verify scale, the classic reason basket mining rolls up to
    * category first). */
  def q335(s: SparkSession, d: String): DataFrame =
    frequentTriples(Tables.lineitem(s, d).filter(col("l_orderkey") % 8 === 0)
      .withColumn("family", col("l_partkey") % 100L),
      "l_orderkey", "family")

  /** Q-Q DRIFT TABLE — drift localized in QUANTILE space: q283's KS
    * says whether two distributions differ and at which VALUE the CDFs
    * diverge; the decile table says what the shift does to each part
    * of the distribution (a tail-only regression moves p90 and leaves
    * the median alone; a uniform price rise moves every decile by the
    * same ratio). Per decile j/10: percentile_disc cut of each side
    * (cut values are DATA MEMBERS — exact in any engine, the
    * q127/q131/q158 discipline), difference, and cur/ref ratio in bp
    * by one truncating idiv (NULL on a zero/absent ref cut).
    *
    * Scale: two percentile aggregations over one scan — Spark's
    * percentile_disc reduces with partial aggregation; output is the
    * 9-row decile grid. */
  def qqDrift(df: DataFrame, value: Column, isRef: Column): DataFrame = {
    val base = df.select(value.as("v"), isRef.as("is_ref"))
      .where(col("v").isNotNull)
    def side(flag: Boolean, pfx: String): DataFrame = {
      val f = base.where(if (flag) col("is_ref") else !col("is_ref"))
      val ps = (1 to 9).map(j =>
        expr(s"percentile_disc(0.$j) WITHIN GROUP (ORDER BY v)")
          .cast("long").as(s"${pfx}_p$j"))
      f.agg(count(lit(1)).as(s"${pfx}_n"), ps: _*)
    }
    val rows = side(flag = true, "ref").crossJoin(side(flag = false, "cur"))
      .select(explode(array((1 to 9).map(j => struct(
        lit(j.toLong).as("decile"),
        col(s"ref_p$j").as("ref_cents"),
        col(s"cur_p$j").as("cur_cents"))): _*)).as("s"))
      .select(col("s.decile"), col("s.ref_cents"), col("s.cur_cents"))
    rows.select(col("decile"), col("ref_cents"), col("cur_cents"),
      (col("cur_cents") - col("ref_cents")).as("diff_cents"),
      when(col("ref_cents").isNull || col("ref_cents") === 0L ||
          col("cur_cents").isNull, lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(lit(10000L) * col("cur_cents"),
          col("ref_cents"))).as("ratio_bp"))
  }

  /** q295: purchase vs non-purchase value distribution, decile by
    * decile on the cent lattice. */
  def q295(s: SparkSession, d: String): DataFrame =
    qqDrift(Tables.events(s, d), cents(col("value")),
      col("event_type") === "purchase")

  /** SIMPSON'S PARADOX AUDIT — the aggregation-reversal detector: a
    * pooled comparison (arm A converts better than B) can reverse
    * inside EVERY stratum when the strata differ in both mix and base
    * rate — the classic way a dashboard's topline contradicts every
    * segment view, and the reason q209's A/B readout must be checked
    * against its segments before shipping a conclusion. Per stratum:
    * counts, exact-bp rates, and the comparison direction as the
    * integer cross-product sign(conv_a·n_b − conv_b·n_a) (no rate
    * division, no ties lost to rounding); the ALL row pools and flags
    * is_paradox = 1 when the pooled direction is strictly opposed by
    * every stratum (all stratum directions ≤ 0 with at least one < 0
    * against a pooled > 0, or the mirror) — the strict textbook form.
    *
    * Scale: one (stratum, arm, outcome) aggregation over a single
    * scan; everything after is |strata|-row. */
  def simpsonAudit(df: DataFrame, stratum: String, isA: Column,
                   outcome: Column): DataFrame = {
    val per = df.select(col(stratum).as("st"), isA.as("a"),
        outcome.cast("long").as("y"))
      .groupBy(col("st"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("a"), col("y")).otherwise(0L)).as("conv_a"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("a"), col("y")).otherwise(0L)).as("conv_b"))
      .localCheckpoint() // feeds the per-stratum rows AND the pooled fold
    def dir(ka: Column, na: Column, kb: Column, nb: Column): Column = {
      // cross products in decimal(38,0): count·count at 10¹² rows
      // outruns a long (ANSI would throw), and sign survives the
      // double cast at any magnitude
      def dc(c: Column): Column = c.cast("decimal(38,0)")
      signum((dc(ka) * dc(nb) - dc(kb) * dc(na)).cast("double")).cast("long")
    }
    def rate(k: Column, n: Column): Column =
      when(n === 0L, lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(lit(10000L) * k, n))
    val rows = per.select(col("st").as(stratum), col("n_a"), col("conv_a"),
      col("n_b"), col("conv_b"),
      rate(col("conv_a"), col("n_a")).as("rate_a_bp"),
      rate(col("conv_b"), col("n_b")).as("rate_b_bp"),
      dir(col("conv_a"), col("n_a"), col("conv_b"), col("n_b")).as("dir"),
      lit(null).cast("int").as("is_paradox"))
    val pooled = per.agg(sum(col("n_a")).as("n_a"),
        sum(col("conv_a")).as("conv_a"), sum(col("n_b")).as("n_b"),
        sum(col("conv_b")).as("conv_b"),
        max(dir(col("conv_a"), col("n_a"), col("conv_b"), col("n_b")))
          .as("max_d"),
        min(dir(col("conv_a"), col("n_a"), col("conv_b"), col("n_b")))
          .as("min_d"))
      .select(lit("ALL").as(stratum), col("n_a"), col("conv_a"),
        col("n_b"), col("conv_b"),
        rate(col("conv_a"), col("n_a")).as("rate_a_bp"),
        rate(col("conv_b"), col("n_b")).as("rate_b_bp"),
        dir(col("conv_a"), col("n_a"), col("conv_b"), col("n_b")).as("dir"),
        when(dir(col("conv_a"), col("n_a"), col("conv_b"), col("n_b")) > 0L
            && col("max_d") <= 0L && col("min_d") < 0L, 1)
          .when(dir(col("conv_a"), col("n_a"), col("conv_b"), col("n_b")) < 0L
            && col("min_d") >= 0L && col("max_d") > 0L, 1)
          .otherwise(0).as("is_paradox"))
    rows.unionAll(pooled)
  }

  /** q297: user-parity arms, big-purchase outcome, stratified by
    * event type — does any segment view contradict the topline. */
  def q297(s: SparkSession, d: String): DataFrame =
    simpsonAudit(Tables.events(s, d), "event_type",
      col("user_id") % 2 === 0, col("value") > 150d)

  /** BENFORD FIRST-DIGIT AUDIT — the forensic data-quality check for a
    * naturally-occurring monetary/measurement column: organic
    * multiplicative data follows P(d) = log₁₀(1+1/d); fabricated,
    * truncated, or unit-mangled data does not. Per digit: observed
    * share vs the Benford expectation and the absolute deviation, all
    * in exact micro units (shares are integer divisions, expectations
    * fixed-point ln constants); the ALL row's summed deviation is the
    * total-variation-style headline number.
    *
    * Scale (100 TB): digit extraction is map-side string work in the
    * scan; one 9-group aggregation; totals broadcast. */
  def benfordAudit(df: DataFrame, value: String): DataFrame = {
    val firstDigit = substring(cents(col(value)).cast("string"), 1, 1).cast("long")
    val perDigit = df.filter(cents(col(value)) > 0)
      .select(firstDigit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = perDigit.agg(sum(col("n")).as("nt"))
    val rows = perDigit.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        graft.functions.F.idiv(lit(1000000L) * col("n"), col("nt")).as("share_u"),
        floor(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)) * lit(1000000d) + lit(0.5d)).cast("long")
          .as("benford_u"))
      .withColumn("dev_u", abs(col("share_u") - col("benford_u")))
    rows.unionAll(rows.agg(sum(col("n")).as("n"), sum(col("dev_u")).as("d"))
      .select(lit(0L).as("digit"), col("n"), lit(1000000L).as("share_u"),
        lit(1000000L).as("benford_u"), col("d").as("dev_u")))
  }

  /** q203: Benford conformance of lineitem extended prices. */
  def q203(s: SparkSession, d: String): DataFrame =
    benfordAudit(Tables.lineitem(s, d), "l_extendedprice")

  /** EXACT PER-GROUP OLS TREND — the metric-drift regressor behind
    * "is this stream trending?": slope of y (cents) against x (epoch
    * day) per group, from the five classic sufficient statistics
    * (n, Σx, Σy, Σxy, Σx²). Both coordinates are integers, so the
    * sums are EXACT and merge-order independent — unlike a double
    * regr_slope, two runs (or two engines) cannot disagree in the last
    * bit. The closed form runs in decimal(38,0) (n·Σxy outgrows a long
    * on a 100 TB stream) and ships as an integer division:
    * slope_u = 10⁶·(n·Σxy − Σx·Σy) / (n·Σx² − Σx²) — micro-cents per
    * day. A one-day (or constant-x) group has no defined slope and
    * reports null.
    *
    * Scale (100 TB): one partial-aggregated shuffle carrying five
    * longs per group — the same cost as any sum, whatever the row
    * count. */
  def trendRegression(df: DataFrame, group: String, xDay: Column,
                      yCents: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val sums = df
      .select(col(group), xDay.as("x"), yCents.as("y"))
      .groupBy(col(group))
      // per-row products fit a long (day ~2·10⁴ × cents ~5·10⁶); the
      // SUMS go decimal so a 10¹⁰-row group cannot overflow
      .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("y"))).as("sxy"),
        sum(dec(col("x") * col("x"))).as("sxx"))
    val num = dec(col("n")) * col("sxy") - col("sx") * col("sy")
    val den = dec(col("n")) * col("sxx") - col("sx") * col("sx")
    // den > 0 unless x is constant; slope = sign(num)·(10⁶·|num| // den).
    // Both engines' integer divisions TRUNCATE toward zero (verified:
    // DuckDB -7//2 = -3), so the sign split is belt-and-braces — it
    // keeps the contract independent of either engine's negative-
    // division convention.
    val mag = graft.functions.F.idiv(dec(lit(1000000L)) * abs(num), den)
      .cast("long")
    sums.select(col(group), col("n"),
      when(den <= dec(lit(0L)), lit(null).cast("long"))
        .when(num < dec(lit(0L)), -mag)
        .otherwise(mag).as("slope_u"),
      graft.functions.F.idiv(col("sy"), dec(col("n"))).cast("long")
        .as("mean_cents"))
  }

  /** q204: cents-per-day trend of each event stream's value. */
  def q204(s: SparkSession, d: String): DataFrame =
    trendRegression(Tables.events(s, d), "event_type",
      graft.functions.F.idiv(unix_micros(col("ts")), lit(86400000000L)),
      cents(col("value")))

  /** EXACT WEIGHTED QUANTILES per group — the mixture-curation
    * statistic plain percentiles (q28/q99) cannot give: "the median
    * document BY TOKEN MASS" weights every document by its size, so
    * one giant doc moves the cut the way it moves the training mix.
    * Nearest-rank definition on the cumulative weight: the quantile
    * q = num/den is the SMALLEST value v whose running weight w(≤v)
    * satisfies den·w ≥ num·total — all integer comparisons, no
    * interpolation, engine-exact under the (value, id) tie order.
    *
    * Scale (100 TB): one shuffle on the group key; the cumulative sum
    * is a window INSIDE that partitioning (groups ≫ executors keeps
    * the exchange even; a single monster group would take the q129
    * approxQuantile path instead); the final pick is a conditional-min
    * aggregation over the same partitioning — no second exchange. */
  def weightedQuantiles(df: DataFrame, group: String, value: Column,
                        weight: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("v"), col("rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("grp"))
    val cum = df
      .select(col(group).as("grp"), value.as("v"), weight.as("wt"),
        id.as("rid"))
      .withColumn("cum", sum(col("wt")).over(w))
      .withColumn("total", sum(col("wt")).over(tot))
    cum.groupBy(col("grp"))
      .agg(max(col("total")).as("total_weight"),
        min(when(col("cum") * 2 >= col("total"), col("v")))
          .as("w_median"),
        min(when(col("cum") * 10 >= col("total") * 9, col("v")))
          .as("w_p90"))
  }

  /** q205: per-language doc-length median and p90 BY TOKEN MASS. */
  def q205(s: SparkSession, d: String): DataFrame =
    weightedQuantiles(Tables.documents(s, d), "lang", col("n_chars"),
      size(split(col("text"), " ")).cast("long"), col("doc_id"))

  /** DIFFERENTIALLY-PRIVATE COUNT RELEASE (Laplace mechanism) with a
    * SEEDED deterministic noise draw — q183's k-anonymity gates what
    * may be released; this is the release itself: count + Lap(Δ/ε)
    * noise (Δ = 1 for a count). The uniform comes from the low 53 bits
    * of md5(seed‖group) (a power-of-two modulus, so signed/unsigned
    * reads agree bit-for-bit in any engine), inverse-CDF'd through
    * x = −(1/ε)·sign(½−u)·ln(1−2|u−½|) — positive noise on the low
    * half of the uniform, negative on the high half; either sign
    * orientation is a valid symmetric Laplace inverse-CDF, this is the
    * one the code (and the oracle) implement. Determinism is what makes the
    * release AUDITABLE (and re-runnable without burning privacy budget
    * twice); a production release would rotate the seed per epoch,
    * drop the true column, and snap the noise (Mironov) — noted, not
    * faked. All rounding is the shared floor(x+½) convention.
    *
    * Scale (100 TB): one count aggregation; the noise math is
    * per-GROUP (category-cardinality), free at any corpus size. */
  def dpCountRelease(df: DataFrame, group: String, seed: String,
                     epsMilli: Long): DataFrame = {
    val counts = df.groupBy(col(group).as("grp"))
      .agg(count(lit(1)).as("n_true"))
    val u = pmod(graft.functions.F.md5Hash64(
        concat(lit(seed + ":"), col("grp"))),
      lit(9007199254740992L)).cast("double") / lit(9007199254740992d)
    val centered = u - lit(0.5d)
    val mag = -log(lit(1.0d) - lit(2.0d) * abs(centered)) /
      (lit(epsMilli.toDouble) / lit(1000d))
    val noise = when(centered < 0, mag).otherwise(-mag)
    counts.select(col("grp"), col("n_true"),
      floor(noise * lit(1000d) + lit(0.5d)).cast("long").as("noise_milli"),
      (col("n_true") + floor(noise + lit(0.5d)).cast("long"))
        .as("released_n"),
      lit(epsMilli).as("eps_milli"))
  }

  /** q206: ε = 1 Laplace release of per-language document counts. */
  def q206(s: SparkSession, d: String): DataFrame =
    dpCountRelease(Tables.documents(s, d), "lang", "dp-epoch-1", 1000L)

  /** JOIN-PRESERVING CORRELATED SAMPLE — the scale-down technique that
    * keeps referential integrity: every table samples INDEPENDENTLY by
    * the same hash predicate on the JOIN KEY (md5(key) mod m = 0), so
    * an order and all its lineitems are kept or dropped together —
    * no coordination, no semi-join, no orphans — and any join
    * computed on the sample is exactly the join of the sampled
    * keyspace. The audit emits the sampled masses and the orphan
    * count, whose forced zero is the integrity proof (a uniform
    * per-row sample of each table would orphan ~(1−1/m) of lineitem).
    *
    * Scale (100 TB): the predicate is map-side on each scan —
    * sampling never shuffles; the orphan check is one anti-join on
    * the sampled (small) tables. */
  def correlatedSample(orders: DataFrame, lineitem: DataFrame,
                       mod: Int): DataFrame = {
    def keep(c: Column): Column =
      pmod(graft.functions.F.md5Hash64(c.cast("string")), lit(mod.toLong)) === 0
    val so = orders.filter(keep(col("o_orderkey")))
    val sl = lineitem.filter(keep(col("l_orderkey")))
    val joined = sl.join(so, col("l_orderkey") === col("o_orderkey"))
    val orphans = sl.join(so, col("l_orderkey") === col("o_orderkey"),
      "left_anti")
    so.agg(count(lit(1)).as("orders_sampled"))
      .crossJoin(sl.agg(count(lit(1)).as("lineitem_sampled")))
      .crossJoin(joined.agg(count(lit(1)).as("joined_rows")))
      .crossJoin(orphans.agg(count(lit(1)).as("orphan_lineitems")))
  }

  /** q207: 1-in-8 correlated sample of orders ⋈ lineitem. */
  def q207(s: SparkSession, d: String): DataFrame =
    correlatedSample(Tables.orders(s, d), Tables.lineitem(s, d), 8)

  /** Poisson(1) inverse-CDF thresholds (cumulative e⁻¹/k!): the draw
    * is the smallest k with u < cum(k), capped at 9 (tail mass ~10⁻⁶).
    * Literal doubles — both engines parse the same nearest-double. */
  val PoissonCum: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402)

  /** POISSON-BOOTSTRAP CONFIDENCE INTERVAL for a distributed mean —
    * the error bar every sampled/sketched pipeline metric needs: B
    * replicate means, each reweighting every row by an independent
    * Poisson(1) draw (the streaming-friendly bootstrap: no resampling
    * pass, weights are a pure row-local function), std of the
    * replicate means estimates the sampling error of the real mean.
    * EVERYTHING is integer-exact: draws come from the low 53 bits of
    * splitmix64(seeded-md5 + bi·φ64) — one digest per row, b cheap
    * mix expansions — against literal-double thresholds, each replicate mean is an
    * exact integer division of exact integer sums, and the variance of
    * the B means is integer arithmetic over those — two engines or two
    * partitionings cannot disagree by a bit.
    *
    * Scale (100 TB): the B-way explode happens map-side (each row
    * emits B (group, b, w, w·y) partials — B is a constant, 32); one
    * aggregation shuffle carries B·groups partial rows; the replicate
    * table is B·groups and the final std is a tiny aggregation. */
  def bootstrapMeanCi(df: DataFrame, group: String, yCents: Column,
                      rowId: Column, b: Int, seed: String): DataFrame = {
    val draws = PoissonCum.zipWithIndex.foldRight(lit(PoissonCum.length.toLong)) {
      case ((c, k), e) => when(col("u") < lit(c), lit(k.toLong)).otherwise(e)
    }
    // ONE md5 per row, then b splitmix64 expansions (h + bi·φ64 →
    // mix64) — r10 paid b md5s per row, the sweep's slowest query;
    // the mix chain is ~10 long ops vs an md5's block digest, and the
    // oracle replays it through the shared Mix64Ctes emulation.
    val rows = df.select(col(group).as("grp"), yCents.as("y"), rowId.as("rid"))
      .withColumn("h", graft.functions.F.md5Hash64(
        concat(lit(seed + ":"), col("rid").cast("string"))))
      .select(col("grp"), col("y"),
        explode(sequence(lit(0), lit(b - 1))).as("bi"), col("h"))
      .withColumn("u", graft.functions.F.mix64At(col("h"), col("bi"))
        .bitwiseAND(lit(9007199254740991L))
        .cast("double") / lit(9007199254740992d))
      .withColumn("w", draws)
    // sums in decimal(38,0): Σw·y on a 10¹⁴-weighted-row group outruns
    // a long, and the oracle's HUGEINT sums stay exact while a wrapped
    // long would silently diverge (the q204 discipline)
    val reps = rows.groupBy(col("grp"), col("bi"))
      .agg(sum(col("w").cast("decimal(38,0)")).as("sw"),
        sum((col("w") * col("y")).cast("decimal(38,0)")).as("swy"))
      .where(col("sw") > 0)
      .select(col("grp"), graft.functions.F.idiv(col("swy"), col("sw"))
        .cast("long").as("m"))
    val stats = reps.groupBy(col("grp"))
      .agg(count(lit(1)).as("b_eff"), sum(col("m")).as("sm"),
        sum(col("m") * col("m")).as("smm"))
    val truth = df.groupBy(col(group).as("grp"))
      .agg(count(lit(1)).as("n"),
        graft.functions.F.idiv(sum(yCents.cast("decimal(38,0)")),
          count(lit(1)).cast("decimal(38,0)")).cast("long").as("mean_cents"))
    // var·B² = B·Σm² − (Σm)² exactly; std_milli = isqrt of the scaled
    // integer (floor), so the interval is engine-exact too. This is the
    // POPULATION variance of the replicate means (divide by B², not
    // B·(B−1)) — a deliberate convention, mirrored in the oracle: the
    // B replicates are the full population of draws made, and the
    // exact-integer identity above needs no Bessel correction to stay
    // engine-reproducible. It reads ~1/(2B) low (≈1.6% at B=32) vs the
    // B−1 textbook bootstrap std; consumers comparing against other
    // tooling should scale by √(B/(B−1)).
    truth.join(stats, "grp")
      .select(col("grp"), col("n"), col("mean_cents"), col("b_eff"),
        // std_milli = floor(√(var)·10³) with var = (B·Σm²−(Σm)²)/B²
        // from exact integers — one sqrt, deterministic
        floor(sqrt((col("b_eff") * col("smm") - col("sm") * col("sm"))
            .cast("double") / (col("b_eff") * col("b_eff")).cast("double"))
          * lit(1000d)).cast("long").as("std_milli"))
  }

  /** q208: 32-replicate bootstrap error bar on each event stream's
    * mean value. */
  def q208(s: SparkSession, d: String): DataFrame =
    bootstrapMeanCi(Tables.events(s, d), "event_type", cents(col("value")),
      col("event_id"), 32, "boot-epoch-1")

  /** REFERENTIAL-INTEGRITY AUDIT across a star schema — q120 checks
    * rules WITHIN a table; this checks the contracts BETWEEN them,
    * the failures that silently corrupt every downstream join: per
    * declared FK edge, the child mass, null-FK rows (a tri-state trap,
    * not an orphan), orphan rows (FK values no parent carries), parent
    * mass, and duplicate parent keys (which FAN OUT joins instead of
    * failing them). One long-format row per edge so the whole
    * schema's health is a single small table.
    *
    * Scale (100 TB): each edge costs one pass per table — the child
    * scans once through a left join against the parent's key rollup
    * (dimension keys broadcast; fact-fact edges shuffle on the key —
    * the join you were going to run anyway, minus the payload), and
    * the parent scans once into that rollup, which feeds both the
    * join and the parent-side counts. Nothing is ever materialized
    * beyond counts.
    *
    * r17 (guide §1.2; the tail job audit): the old shape ran FOUR
    * independent one-row aggregates per edge (child stats, an
    * anti-join count, parent count, dup-key count) glued by three
    * crossJoins — under AQE every exchange is its own job, so six
    * edges cost 54 jobs of pure scheduling. Folding the anti-join
    * into the child aggregation (left join + matched-null test — the
    * parent rollup is one row per key, so no fanout) and the two
    * parent counts into one rollup pass emits the same six counts
    * from two aggregations and ONE crossJoin per edge. */
  def fkAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame =
    edges.map { case (name, child, fk, parent, pk) =>
      // one row per parent key: feeds the orphan join AND parent stats.
      // coalesce/count(when) keep the columns non-nullable longs —
      // byte-identical schema to the old count(lit(1)) aggregates.
      val pkAgg = parent.groupBy(col(pk).as("pk_")).agg(count(lit(1)).as("c"))
      val parentStats = pkAgg.agg(
        coalesce(sum(col("c")), lit(0L)).as("parent_rows"),
        count(when(col("c") > 1, lit(1))).as("dup_parent_keys"))
      // orphan ⇔ fk present but unmatched; a null fk never matches and
      // is excluded by the isNotNull term — exactly the old anti-join
      // over the non-null child rows
      val childStats = child.join(pkAgg.select(col("pk_")),
          col(fk) === col("pk_"), "left")
        .agg(count(lit(1)).as("child_rows"),
          sum(col(fk).isNull.cast("long")).as("null_fk_rows"),
          count(when(col(fk).isNotNull && col("pk_").isNull, lit(1)))
            .as("orphan_rows"))
      childStats.crossJoin(parentStats)
        .select(lit(name).as("relation"), col("child_rows"),
          col("null_fk_rows"), col("orphan_rows"), col("parent_rows"),
          col("dup_parent_keys"))
    }.reduce(_ unionAll _)

  /** FUNCTIONAL-DEPENDENCY AUDIT — does column A determine column B?
    * The schema-semantics check behind denormalization, dimension
    * extraction, and "can I group by A and take any(B)" shortcuts:
    * per declared A→B dependency, the distinct key count, keys mapping
    * to MORE than one B value, and the row mass sitting under those
    * violating keys (the rows any(B) would silently mis-summarize).
    *
    * Scale (100 TB): one distinct over (A, B) pairs — pair-cardinality
    * — then a key-sized rollup; the violating-row count rides a left
    * join of the fact against the (small) violating-key set.
    *
    * r17 (guide §1.2; the tail job audit, the fkAudit move): the old
    * shape ran four independent one-row aggregates per dependency
    * glued by three crossJoins — under AQE every exchange is a job.
    * The two perA counts fold into one pass, and the violating-row
    * inner-join count folds into the fact's n_rows aggregation as a
    * left-join matched count (bad keys are distinct, so no fanout) —
    * same five values, two aggregations, one crossJoin. */
  def fdAudit(deps: Seq[(String, DataFrame, String, String)]): DataFrame =
    deps.map { case (name, df, a, b) =>
      val ab = df.select(col(a).as("a_"), col(b).as("b_")).distinct()
      // perA feeds two consumers (the stats pass and the bad-key join)
      // — materialize the distinct+rollup once (the q190 rule) so the
      // fact scan really runs once per edge
      val perA = ab.groupBy(col("a_")).agg(count(lit(1)).as("nb"))
        .localCheckpoint()
      val perAStats = perA.agg(count(lit(1)).as("n_keys"),
        count(when(col("nb") > 1, lit(1))).as("n_violating_keys"))
      val bad = perA.filter(col("nb") > 1).select(col("a_"))
      df.join(bad, col(a) === col("a_"), "left")
        .agg(count(lit(1)).as("n_rows"),
          count(col("a_")).as("n_violating_rows"))
        .crossJoin(perAStats)
        .select(lit(name).as("dependency"), col("n_rows"), col("n_keys"),
          col("n_violating_keys"), col("n_violating_rows"),
          (col("n_violating_keys") === 0).cast("int").as("holds"))
    }.reduce(_ unionAll _)

  /** q219: one dependency that must hold (nation key → region key) and
    * two behavioral ones that should not (user → event type, customer
    * nation → market segment). */
  def q219(s: SparkSession, d: String): DataFrame =
    fdAudit(Seq(
      ("nation->region", Tables.nation(s, d), "n_nationkey", "n_regionkey"),
      ("user->event_type", Tables.events(s, d), "user_id", "event_type"),
      ("cust_nation->segment", Tables.customer(s, d), "c_nationkey",
        "c_mktsegment")))

  /** MUTUAL INFORMATION between two categoricals — the feature-
    * selection / redundancy metric: MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y)))
    * in per-cell fixed-point micro-nats (each cell's term is an
    * engine-exact integer; the ALL row is their exact sum, and the
    * decomposition shows WHICH cells carry the association). The
    * q197/q200 discipline applied to a pair of columns.
    *
    * Scale (100 TB): one (x, y) aggregation; marginals roll up from
    * the cell table (never rescanning); cells are
    * |X|·|Y|-cardinality. */
  def mutualInfo(df: DataFrame, x: String, y: String): DataFrame = {
    val cells = df.groupBy(col(x).as("x_"), col(y).as("y_"))
      .agg(count(lit(1)).as("n"))
    val mx = cells.groupBy(col("x_")).agg(sum(col("n")).as("nx"))
    val my = cells.groupBy(col("y_")).agg(sum(col("n")).as("ny"))
    val tot = cells.agg(sum(col("n")).as("nt"))
    val pxy = col("n").cast("double") / col("nt").cast("double")
    val px = col("nx").cast("double") / col("nt").cast("double")
    val py = col("ny").cast("double") / col("nt").cast("double")
    val rows = cells.join(mx, "x_").join(my, "y_").crossJoin(broadcast(tot))
      .select(col("x_").as(x), col("y_").as(y), col("n"),
        floor(pxy * log(pxy / (px * py)) * lit(1000000d) + lit(0.5d))
          .cast("long").as("mi_term_unat"))
    rows.unionAll(rows.agg(sum(col("n")).as("n"),
        sum(col("mi_term_unat")).as("mi"))
      .select(lit("ALL").as(x), lit("ALL").as(y), col("n"),
        col("mi").as("mi_term_unat")))
  }

  /** q220: lang × source association in the documents corpus. */
  def q220(s: SparkSession, d: String): DataFrame =
    mutualInfo(Tables.documents(s, d), "lang", "source")

  /** THEIL'S U (UNCERTAINTY COEFFICIENT) — the ASYMMETRIC normalized
    * association the symmetric pair (q220 MI, q292 V) cannot express:
    * U(X|Y) = MI/H(X) is the fraction of X's uncertainty that knowing
    * Y removes, and U(X|Y) ≠ U(Y|X) is the point — "weekday predicts
    * event type" and "event type predicts weekday" are different
    * claims with different numbers (a many-to-one mapping scores 1.0
    * one way and less the other). The feature-selection number for
    * "is this column redundant GIVEN that one".
    *
    * Entropies and MI are exact integer sums of per-cell/per-level
    * micro-nat terms (q197/q220 discipline — each term floor(·10⁶+½)
    * before the sum, engine-exact); both U directions are one
    * truncating idiv of those integers to bp. NULL when the
    * conditioned side is deterministic already (H = 0). Same plan as
    * mutualInfo: one (x, y) aggregation, marginals roll up from the
    * cell table, a one-row fold. */
  def theilU(df: DataFrame, x: String, y: String): DataFrame = {
    val cells = df.groupBy(col(x).as("x_"), col(y).as("y_"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds both marginals + the MI fold
    val tot = cells.agg(sum(col("n")).as("nt"))
    def entropySum(key: String, cnt: String): DataFrame =
      cells.groupBy(col(key)).agg(sum(col("n")).as(cnt))
        .crossJoin(broadcast(tot))
        .select(floor((-(col(cnt).cast("double") / col("nt").cast("double"))) *
          log(col(cnt).cast("double") / col("nt").cast("double")) *
          lit(1000000d) + lit(0.5d)).cast("long").as("term"))
        .agg(sum(col("term")).as(s"h_$cnt"))
    val mx = cells.groupBy(col("x_")).agg(sum(col("n")).as("nx"))
    val my = cells.groupBy(col("y_")).agg(sum(col("n")).as("ny"))
    val pxy = col("n").cast("double") / col("nt").cast("double")
    val px = col("nx").cast("double") / col("nt").cast("double")
    val py = col("ny").cast("double") / col("nt").cast("double")
    val mi = cells.join(mx, "x_").join(my, "y_").crossJoin(broadcast(tot))
      .select(floor(pxy * log(pxy / (px * py)) * lit(1000000d) + lit(0.5d))
        .cast("long").as("term"), col("n"))
      .agg(sum(col("n")).as("n"), sum(col("term")).as("mi_unat"))
    val j = mi.crossJoin(entropySum("x_", "nx"))
      .crossJoin(entropySum("y_", "ny"))
    j.select(col("n"), col("mi_unat"),
      col("h_nx").as("h_x_unat"), col("h_ny").as("h_y_unat"),
      when(col("h_nx") === 0L, lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(lit(10000L) * col("mi_unat"),
          col("h_nx"))).as("u_x_given_y_bp"),
      when(col("h_ny") === 0L, lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(lit(10000L) * col("mi_unat"),
          col("h_ny"))).as("u_y_given_x_bp"))
  }

  /** q294: does the weekday predict the event type, and vice versa. */
  def q294(s: SparkSession, d: String): DataFrame =
    theilU(Tables.events(s, d)
        .withColumn("dow", (weekday(to_date(col("ts"))) + 1).cast("long")),
      "event_type", "dow")

  /** DIVERSIFIED TOP-K — a global top-k under a per-group cap (at most
    * m winners per brand/domain/source): the result-diversity rule
    * every ranking product applies so one dominant group cannot fill
    * the whole list. Two bounded windows: rank within group (cut at
    * m), then the global cut at k — both over the aggregated candidate
    * table, never the fact table; ties broken totally by id.
    *
    * Scale (100 TB): candidates reduce to (item, group, score) by one
    * aggregation; the within-group window partitions on the group key;
    * the global cut is a TakeOrdered over k·groups survivors. */
  def diversifiedTopK(scored: DataFrame, item: String, group: String,
                      score: String, perGroup: Int, k: Int): DataFrame = {
    val inGroup = Window.partitionBy(col(group))
      .orderBy(col(score).desc, col(item).asc)
    scored
      .withColumn("group_rank", row_number().over(inGroup))
      .where(col("group_rank") <= perGroup)
      .orderBy(col(score).desc, col(item).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col(score).desc, col(item).asc)).cast("long"))
  }

  /** q221: top-12 parts by revenue, at most 2 per brand. */
  def q221(s: SparkSession, d: String): DataFrame = {
    val revenue = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_cents"))
      .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"),
        col("p_brand")), "l_partkey")
    diversifiedTopK(revenue, "l_partkey", "p_brand", "revenue_cents", 2, 12)
      .select(col("rank"), col("l_partkey").as("part"), col("p_brand"),
        col("revenue_cents"), col("group_rank").cast("long").as("group_rank"))
  }

  /** GINI CONCENTRATION AUDIT — how unequally a mass (tokens, revenue,
    * events) distributes across holders: the exact integer Gini
    * Σᵢ(2i − n − 1)·xᵢ / (n·Σx) over holders sorted ascending by
    * (mass, id), in basis points via one decimal division (numerator
    * and denominator are exact integers, so two engines agree
    * bit-for-bit). 0 = perfectly even, →10⁴ = one holder owns
    * everything; the per-holder rows double as the Lorenz curve
    * (cum_mass_bp against holder rank).
    *
    * Scale (100 TB): mass reduces to holder-cardinality rows first;
    * the rank window orders HOLDERS, not raw rows (holders ≫
    * executors for sources/brands is false — they're few — so this
    * window is trivially small; user/document-grain holder domains go
    * to [[giniAuditLarge]], whose approxQuantile bucket grid replaces
    * the total order — spec-pinned ≈-equal to this exact path). */
  def giniAudit(df: DataFrame, holder: String, mass: Column): DataFrame = {
    // holder keyed as STRING so the ALL sentinel row unions without
    // coercing (a numeric holder column would otherwise make the union
    // try to cast "ALL" to its type); no-op for string holders
    val perHolder = df.groupBy(col(holder).cast("string").as("holder"))
      .agg(sum(mass).as("x"))
    val w = Window.orderBy(col("x").asc, col("holder").asc)
    val ranked = perHolder
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("cum", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("x")).over(Window.partitionBy()))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val rows = ranked.select(col("holder"), col("i").as("rank"), col("x"),
      graft.functions.F.idiv(lit(10000L) * col("cum"), col("total"))
        .as("cum_mass_bp"),
      ((lit(2L) * col("i") - col("n") - 1L) * col("x")).as("gini_num_term"),
      col("n"), col("total"))
    rows.select(col("holder"), col("rank"), col("x"), col("cum_mass_bp"),
        col("gini_num_term"))
      // the numerator SUM runs in decimal(38,0): per-term (2i−n−1)·x
      // fits a long up to ~1e9 holders × ~1e9 mass, but the sum over
      // holders wraps silently well before that — same overflow
      // discipline as trendRegression/bootstrapMeanCi (oracle sums in
      // HUGEINT, so agreement is unchanged)
      .unionAll(rows.agg(sum(dec(col("gini_num_term"))).as("gn"),
          max(col("n")).as("n"), max(col("total")).as("t"))
        .select(lit("ALL").as("holder"), lit(0L).as("rank"),
          col("t").as("x"), lit(10000L).as("cum_mass_bp"),
          graft.functions.F.idiv(dec(lit(10000L)) * dec(col("gn")),
            dec(col("n")) * dec(col("t"))).cast("long").as("gini_num_term")))
  }

  /** GINI AUDIT AT LARGE HOLDER GRAIN — the q129-path variant
    * giniAudit's scaladoc routes user/document-grain domains to, now
    * code (round 10): a GLOBAL rank window over billions of holders is
    * a total order no cluster should pay, so the exact per-holder rank
    * is replaced by a B-bucket approxQuantile grid (driver-side
    * bounded-model read, the k-means-sample shape) broadcast into the
    * codegen'd SearchSortedBucket assignment — one holder-grain
    * aggregation, one map-side bucket assignment, one B-row bucket
    * aggregation, and a bounded B-row window. The grouped estimator
    * credits bucket j's mass m_j at its positional run:
    * Σ_j m_j·(2·C_j − c_j − n) over buckets ascending (exact when
    * bucket members tie — the equal-value run identity — and O(1/B)
    * off otherwise; the spec pins ≤ 100 bp against exact giniAudit on
    * the sf0.1 user grain). Output shape matches giniAudit row-for-row
    * in spirit: per-BUCKET Lorenz rows plus the ALL row carrying the
    * Gini in basis points.
    *
    * Scale (100 TB): the holder aggregation is the one corpus-sized
    * shuffle (unavoidable — it defines the holders); everything after
    * runs on B rows. Numerator terms are decimal(38,0) end-to-end
    * (n·t exceeds a long at user grain by construction). */
  def giniAuditLarge(df: DataFrame, holder: String, mass: Column,
                     buckets: Int = 128): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val perHolder = df.groupBy(col(holder).as("holder"))
      .agg(sum(mass).as("x")).select(col("x")).cache()
    val cuts = perHolder.stat.approxQuantile("x",
      (1 until buckets).map(_.toDouble / buckets).toArray, 0.001).toSeq
    giniBucketTail(perHolder, cuts)
  }

  /** GINI AUDIT, DETERMINISTIC BUCKET GRID (round 11; the oracled
    * query-entry form of [[giniAuditLarge]]): same grouped-run
    * estimator, but the grid comes from EXACT discrete percentiles
    * (percentile_disc at j/B — each cut is an actual data point, and
    * j/B for a power-of-two B is an exact binary fraction), so the
    * bucket assignment and every downstream integer is bit-identical
    * in any engine — DuckDB replays the cuts as min(x) where
    * cume_dist ≥ j/B. The driver reads B−1 cut values (bounded-model
    * read, the k-means-sample shape). At 100 TB swap percentile_disc
    * for approx_percentile/approxQuantile — that is exactly
    * [[giniAuditLarge]], whose spec pins the two ≤ 100 bp apart; the
    * plan shape (holder agg → map-side bucket assign → B-row window)
    * is unchanged. */
  def giniAuditBucketed(df: DataFrame, holder: String, mass: Column,
                        buckets: Int = 32): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val perHolder = df.groupBy(col(holder).as("holder"))
      .agg(sum(mass).as("x")).select(col("x")).cache()
    val cutExprs = (1 until buckets).map { j =>
      expr(s"percentile_disc(${j.toDouble / buckets}) WITHIN GROUP (ORDER BY x)")
        .cast("double").as(s"c$j")
    }
    val row = perHolder.agg(cutExprs.head, cutExprs.tail: _*).head()
    val cuts = (0 until buckets - 1).map(row.getDouble)
    giniBucketTail(perHolder, cuts)
  }

  /** Shared tail of the bucket-grid Gini: assign each holder mass to
    * its cut bucket, aggregate to B rows, run the bounded window and
    * the grouped-run numerator. `perHolder` carries one `x` per
    * holder; `cuts` are the ascending bucket boundaries. */
  private def giniBucketTail(perHolder: DataFrame,
                             cuts: Seq[Double]): DataFrame = {
    val byBucket = perHolder
      .select(graft.functions.F.rankBucket(col("x").cast("double"), cuts)
        .as("b"), col("x"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("c"), sum(col("x")).as("m"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val w = Window.orderBy(col("b").asc) // bounded: ≤ buckets rows
    val cum = byBucket
      .withColumn("cum_c", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_m", sum(col("m")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .withColumn("t", sum(col("m")).over(Window.partitionBy()))
      .withColumn("gn_term",
        dec(col("m")) * dec(lit(2L) * col("cum_c") - col("c") - col("n")))
    val rows = cum.select(
      concat(lit("b"), col("b")).as("holder"),
      (col("b") + 1L).as("rank"), col("m").as("x"),
      graft.functions.F.idiv(lit(10000L) * col("cum_m"), col("t"))
        .as("cum_mass_bp"),
      col("gn_term"), col("n"), col("t"))
    rows.select(col("holder"), col("rank"), col("x"), col("cum_mass_bp"),
        col("gn_term").cast("long").as("gini_num_term"))
      .unionAll(rows.agg(sum(col("gn_term")).as("gn"),
          max(col("n")).as("n"), max(col("t")).as("t"))
        .select(lit("ALL").as("holder"), lit(0L).as("rank"),
          col("t").as("x"), lit(10000L).as("cum_mass_bp"),
          graft.functions.F.idiv(dec(lit(10000L)) * col("gn"),
            dec(col("n")) * dec(col("t"))).cast("long").as("gini_num_term")))
  }

  /** q224: token-mass concentration across document sources; the ALL
    * row's last column is the Gini in basis points. */
  def q224(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{size => asize}
    giniAudit(Tables.documents(s, d), "source",
      asize(split(col("text"), " ")).cast("long"))
  }

  /** q248: spend concentration across USERS — the holder grain where
    * the exact global-rank window of q224 is the wrong plan — on the
    * deterministic 32-bucket percentile grid. */
  def q248(s: SparkSession, d: String): DataFrame =
    giniAuditBucketed(Tables.events(s, d), "user_id", cents(col("value")), 32)

  /** q211: the full TPC-H-ish star contract in one report. */
  def q211(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d); val ord = Tables.orders(s, d)
    fkAudit(Seq(
      ("lineitem->orders", li, "l_orderkey", ord, "o_orderkey"),
      ("lineitem->part", li, "l_partkey", Tables.part(s, d), "p_partkey"),
      ("lineitem->supplier", li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      ("orders->customer", ord, "o_custkey", Tables.customer(s, d), "c_custkey"),
      ("customer->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"),
      ("nation->region", Tables.nation(s, d), "n_regionkey",
        Tables.region(s, d), "r_regionkey")))
  }

  /** K-CORE DECOMPOSITION (membership at a fixed k): iteratively peel
    * every node with degree < k until the fixpoint; the survivors are
    * the k-core — the dense backbone community detectors seed from and
    * spam-ring/bot analysis starts at (a hub with many one-shot
    * neighbors falls out; a clique survives). Output is one row per
    * core member with its WITHIN-CORE degree.
    *
    * The peel is order-independent (the k-core is the unique maximal
    * subgraph of min-degree ≥ k), which is what makes the operator
    * oracle-able: the DuckDB twin unrolls a FIXED number of peel
    * rounds — extra rounds past the fixpoint are no-ops, so any
    * unroll depth ≥ the true peel depth reproduces the same core
    * (KCorePeelRounds; the convergence spec pins actual depth well
    * below it).
    *
    * Scale (100 TB): each round is one degree aggregation + two
    * semi-joins on the (deduplicated, both-direction) edge table —
    * all shuffles on the node key, each round's edge set only
    * shrinks, and localCheckpoint truncates the per-round lineage
    * (the q66 propagation discipline). Peel depth, not corpus size,
    * bounds the rounds; power-law graphs peel shallow. */
  def kCore(edges0: DataFrame, a: String, b: String, k: Int,
            maxRounds: Int = KCorePeelRounds): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val undirected = edges0
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    var edges = undirected
      .unionAll(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var prev = -1L
    var cur = edges.count()
    var rounds = 0
    while (cur != prev && rounds < maxRounds) {
      prev = cur
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("src").as("node"))
      // r17 (guide §2.4 join-order commutation, the r16 nnDescent
      // move): filter on dst FIRST and src LAST, so each round's
      // checkpointed output leaves the final join hash-partitioned on
      // src — exactly what the NEXT round's degree aggregation and
      // src-side semi-filter require — removing one exchange of the
      // (shrinking) edge table per peel round. Inner equi-joins
      // commute; the surviving rows are identical.
      edges = edges
        .join(keep.select(col("node").as("dst")), Seq("dst"))
        .join(keep.select(col("node").as("src")), Seq("src"))
        .select(col("src"), col("dst"))
        .localCheckpoint()
      cur = edges.count()
      rounds += 1
    }
    // Dedup.clusters' convergence contract: a silent exit at maxRounds
    // would return a superset that is NOT the k-core (and the oracle,
    // unrolling the same constant, could not catch it)
    if (cur != prev)
      throw new IllegalStateException(
        s"kCore did not reach fixpoint in $maxRounds rounds " +
          s"($cur edges after round $rounds, $prev before) — raise maxRounds " +
          "(and the oracle's unroll depth) for deeper graphs")
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg_in_core"))
  }

  /** Unroll depth shared with the q226 oracle: peel rounds past the
    * fixpoint are no-ops, so this only needs to exceed the real peel
    * depth (spec-checked ≤ 8 on the test graphs). */
  val KCorePeelRounds = 16

  /** The q226 core order, shared with its oracle. */
  val KCoreK = 4

  /** q226: the 4-core of the basket-sampled co-purchase graph (the
    * q190 sampling convention — whole orders, orderkey ≡ 0 mod 8,
    * which keeps every within-order edge intact). */
  def q226(s: SparkSession, d: String): DataFrame = {
    // q68's basket-array discipline: pairs explode within the basket
    // row (never a fact self-join)
    val edges = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 8 === 0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("i", "part_a")), col("arr"))
      .select(col("part_a"),
        explode(slice(col("arr"), col("i") + lit(2),
          size(col("arr")) - col("i") - lit(1))).as("part_b"))
    kCore(edges, "part_a", "part_b", KCoreK)
  }

  /** q190: top-20 parts by co-purchase-graph triangle participation,
    * over a deterministic BASKET sample (whole orders, orderkey ≡ 0
    * mod 8). Basket-level sampling keeps every within-order pair
    * intact — the co-purchase structure survives — while cutting edge
    * mass ~8× and wedge mass ~64×; the full-corpus run is the same
    * plan minus the filter (measured at sf0.1: 1.2M edges → 41M
    * wedges exact, vs 148k → 577k sampled). */
  def q190(s: SparkSession, d: String): DataFrame =
    triangleCounts(Tables.lineitem(s, d).filter(col("l_orderkey") % 8 === 0),
      "l_orderkey", "l_partkey", 1L, 20)

  /** EDGE EMBEDDEDNESS / WEAK-TIE AUDIT — the per-EDGE cohesion the
    * node suite can't see: an edge's embeddedness is the number of
    * triangles it sits in (common neighbors of its endpoints), and
    * the support-0 edges are Granovetter's weak ties — the bridges
    * between otherwise-separate neighborhoods. The histogram answers
    * two production questions at once: how much of the graph is
    * bridge-like (high weak-tie share = fragmenting under any edge
    * loss — q135's health profile at edge grain), and whether the
    * q272 communities rest on thick internal support or coincidence.
    *
    * Each enumerated triangle (q190's oriented legs, O(m^1.5))
    * contributes its three edges in canonical id order; a left join
    * back to the edge list zero-fills the untouched edges. Output is
    * the bounded (support, n_edges, share_bp) histogram.
    *
    * Scale: the q190 triangle legs + one edge-keyed join + a
    * |distinct-support|-row rollup — nothing new shuffles beyond the
    * audited triangle enumeration itself. */
  def edgeEmbeddedness(items: DataFrame, basket: String, item: String,
                       minSupport: Long): DataFrame = {
    val (_, tri0, edges) = orientedTriangleLegs(items, basket, item,
      minSupport)
    // triangle corners arrive in (degree, id) orientation order;
    // canonical edge identity is plain id order (the edge list's pa<pb)
    val triEdges = tri0.select(explode(array(
        struct(least(col("a"), col("b")).as("x"),
          greatest(col("a"), col("b")).as("y")),
        struct(least(col("a"), col("c")).as("x"),
          greatest(col("a"), col("c")).as("y")),
        struct(least(col("b"), col("c")).as("x"),
          greatest(col("b"), col("c")).as("y")))).as("e"))
      .select(col("e.x").as("pa"), col("e.y").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("support"))
    val perEdge = edges.join(triEdges, Seq("pa", "pb"), "left")
      .na.fill(0L, Seq("support"))
    val hist = perEdge.groupBy(col("support"))
      .agg(count(lit(1)).as("n_edges"))
    val tot = hist.agg(sum(col("n_edges")).as("t"))
    hist.crossJoin(broadcast(tot))
      .select(col("support"), col("n_edges"),
        graft.functions.F.idiv(lit(10000L) * col("n_edges"), col("t"))
          .as("share_bp"))
  }

  /** q309: embeddedness histogram of the sampled co-purchase graph
    * (the q190 basket sampling). */
  def q309(s: SparkSession, d: String): DataFrame =
    edgeEmbeddedness(Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 8 === 0), "l_orderkey", "l_partkey", 1L)

  /** Synchronous LPA sweep count, shared with the q272 oracle's unroll. */
  val LpaRounds = 4

  /** SYNCHRONOUS LABEL-PROPAGATION COMMUNITY DETECTION (Raghavan et
    * al.'s LPA made deterministic): every node simultaneously adopts
    * its neighbors' most frequent round-(i−1) label, ties to the
    * SMALLEST label — the near-linear community detector that
    * partitions the dense blob q55-style connected components see as
    * one piece (k-core trims it, triangles score it; this NAMES the
    * modules). The output contract is "labels after `rounds`
    * synchronized sweeps" (the q147 fixed-iteration convention), not
    * a fixpoint: synchronous LPA can 2-cycle on bipartite structure
    * (spec pins the single-edge oscillation), and a fixed unroll is
    * what makes the operator engine-replayable.
    *
    * Output: top-k communities by (size DESC, label ASC) with member
    * count and internal (within-community) undirected edge count —
    * internal share ≈ 1 means a real module, ≈ edge share means the
    * partition is noise.
    *
    * Scale (100 TB): per round ONE hash join (edges ⋈ labels on dst,
    * both keyed tables) + two aggregations whose keys are (node,
    * label) then node — no global structure, no windows over the
    * corpus; localCheckpoint truncates per-round lineage (q147/q226
    * discipline). The final ranking is a TakeOrdered over
    * community-cardinality rows, never a global sort window. */
  def communities(edges0: DataFrame, a: String, b: String,
                  rounds: Int = LpaRounds, k: Int = 20): DataFrame = {
    require(rounds >= 1 && k >= 1)
    val undirected = edges0
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val edges = undirected
      .unionAll(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint() // feeds every round + sizes + internal edges
    var lab = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    // r16 optimization: per-round labels have ONE consumer (the next
    // sweep) — the per-round localCheckpoint was an eager job per sweep
    // with no reuse (the q147 pageRank note); only the FINAL labeling
    // is double-consumed (sizes + internal edges) and is checkpointed
    // once below.
    for (_ <- 1 to rounds) {
      // argmax neighbor label by (count DESC, label ASC) as a packed
      // min-struct (q82 convention): counts are positive so -cnt is
      // safe, and the struct order is total — no max_by tie hazard
      //
      // r17 (guide §2.4; the r16 beamWalk exchange-sharing move): the
      // two stacked aggregations used to cost two exchanges per sweep
      // — hash(src, nlab) for the label counts, then hash(src) for the
      // argmin — on the sweep's widest table (the edge⋈label fan-out).
      // One explicit repartition on src feeds BOTH: HashPartitioning
      // (src) satisfies the (src, nlab) clustering, so the fan-out
      // crosses the wire once per sweep, not twice.
      lab = edges
        .join(lab.select(col("node").as("dst"), col("lab").as("nlab")),
          Seq("dst"))
        .repartition(col("src"))
        .groupBy(col("src"), col("nlab"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(min(struct((-col("cnt")).as("nc"), col("nlab").as("l"))).as("m"))
        .select(col("src").as("node"), col("m.l").as("lab"))
    }
    lab = lab.localCheckpoint()
    val sizes = lab.groupBy(col("lab")).agg(count(lit(1)).as("n_nodes"))
    // both-direction table counts each within-community edge twice
    val internal = edges
      .join(lab.select(col("node").as("src"), col("lab").as("la")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("lab").as("lb")), Seq("dst"))
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("lab"))
      .agg(graft.functions.F.idiv(count(lit(1)), lit(2L)).as("n_internal_edges"))
    val top = sizes.join(internal, Seq("lab"), "left")
      .na.fill(0L, Seq("n_internal_edges"))
      .orderBy(col("n_nodes").desc, col("lab").asc).limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_nodes").desc, col("lab").asc)).cast("long"))
      .select(col("rank"), col("lab").as("community"), col("n_nodes"),
        col("n_internal_edges"))
  }

  /** q272: top-20 communities of the basket-sampled co-purchase graph
    * (the q190/q226 sampling convention) after LpaRounds synchronous
    * sweeps. */
  def q272(s: SparkSession, d: String): DataFrame =
    communities(sampledCopurchaseEdges(s, d), "part_a", "part_b")

  /** Fixed BFS frontier count for [[bfsHops]] — the q272/q285
    * fixed-unroll contract: the oracle replays exactly this many
    * synchronized relaxation rounds, so the constant is part of the
    * operator's definition, not a tuning knob. */
  val BfsRounds = 6

  /** MULTI-SOURCE BFS HOP DISTANCE — "how far is everything from the
    * seed set": the reachability/radius primitive the graph family
    * still lacked (q147 ranks influence, q226 finds cores, q272 finds
    * communities — none answers "how many hops from these nodes").
    * Seeds get hop 0; each synchronized round relaxes dist over the
    * both-direction edge list (dist = least(dist, min neighbor+1) —
    * least skips NULLs identically in both engines); after BfsRounds
    * rounds the answer is exact for every node within that radius and
    * nodes still unreached report hop −1 (either disconnected or
    * beyond the declared horizon — at 6 rounds on a co-purchase graph
    * the giant component is long saturated; small-world diameters run
    * ~O(log n)). Output is the bounded (hop, n_nodes, share_bp)
    * histogram — the "blast radius" curve.
    *
    * Scale: per round ONE hash join keyed on node + one min
    * aggregation — the q147/q272 iteration shape, localCheckpoint
    * truncating per-round lineage; the histogram is ≤ rounds+2 rows.
    * Seeds are declared as a PREDICATE on the node id (no driver-side
    * seed list to ship); membership is evaluated map-side. */
  def bfsHops(edges0: DataFrame, a: String, b: String,
              seedPred: Column => Column,
              rounds: Int = BfsRounds): DataFrame = {
    require(rounds >= 1)
    val undirected = edges0
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val edges = undirected
      .unionAll(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // r17 optimization (guide §1.2/§2.4; VERDICT r16 item 4): the old
    // round body consumed dist TWICE — relaxation join + a left-join
    // back onto itself — which forced an eager localCheckpoint every
    // round (dropping it would compound the round subtree
    // 2^rounds-fold). Fold both consumers into ONE aggregation by
    // adding weight-0 SELF-LOOPS to the relaxation table: min over
    // {own dist + 0} ∪ {neighbor dist + 1} ≡ least(dist, min nd+1),
    // with identical null behavior (min ignores nulls; a group whose
    // every contribution is null — an unreached node with unreached
    // neighbors — yields null = still unreached). The self row keeps
    // every node's group alive, so no node can drop from the
    // histogram. dist now has a SINGLE consumer per round: the whole
    // unroll plans as one linear job with no per-round checkpoint, and
    // the second per-round exchange of dist disappears.
    val rel = edges.select(col("src"), col("dst"), lit(1L).as("w"))
      .unionAll(edges.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"), lit(0L).as("w")))
      .localCheckpoint() // feeds every relaxation round
    var dist = rel.where(col("w") === 0L)
      .select(col("src").as("node"),
        when(seedPred(col("src")), lit(0L)).otherwise(lit(null).cast("long"))
          .as("dist"))
    for (_ <- 1 to rounds) {
      dist = rel
        .join(dist.select(col("node").as("dst"), col("dist").as("nd")),
          Seq("dst"))
        // keep reached contributions AND every self row (the group's
        // existence guarantee); unreached-neighbor rows carry null and
        // would be ignored by min anyway — dropping them early shrinks
        // the aggregation input
        .where(col("nd").isNotNull || col("w") === 0L)
        .groupBy(col("src"))
        .agg(min(col("nd") + col("w")).as("dist"))
        .select(col("src").as("node"), col("dist"))
    }
    // final labeling is double-consumed (histogram + total): ONE
    // checkpoint here, the communities() final-label convention
    dist = dist.localCheckpoint()
    val hist = dist.groupBy(coalesce(col("dist"), lit(-1L)).as("hop"))
      .agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("n_nodes")).as("t"))
    hist.crossJoin(broadcast(tot))
      .select(col("hop"), col("n_nodes"),
        graft.functions.F.idiv(lit(10000L) * col("n_nodes"), col("t"))
          .as("share_bp"))
  }

  /** q290: hop-distance histogram from the 1-in-32 part-key seed set
    * over the sampled co-purchase graph. */
  def q290(s: SparkSession, d: String): DataFrame =
    bfsHops(sampledCopurchaseEdges(s, d), "part_a", "part_b",
      n => n % 32 === 0)

  /** DEGREE ASSORTATIVITY — the Pearson correlation of endpoint
    * degrees over the undirected edge list (Newman's r): positive =
    * hubs link hubs (social/citation shape), negative = hubs fan out
    * to leaves (star/broadcast shape, where q135's max-degree and the
    * q190 orientation bound matter most), ≈0 = degree-neutral wiring.
    * The one-number sequel to q135's graph health profile.
    *
    * Exact integers end to end: over the BOTH-DIRECTION edge list the
    * x and y marginals coincide, so r = (m·Σxy − (Σx)²)/(m·Σx² −
    * (Σx)²) with every sum in decimal(38,0) (degree products at a
    * 10¹²-edge graph outrun a long) and ONE truncating bp division at
    * the boundary (F.idiv == DuckDB `//` at any sign) — engines agree
    * bit-for-bit including negative r. A regular graph (every degree
    * equal) has den = 0 and reports null, the q204 constant-x rule.
    *
    * Scale: one degree aggregation + two node-keyed joins to tag each
    * edge with endpoint degrees, then a single partial-aggregated
    * 4-sum reduction — no windows, nothing beyond the edge list ever
    * materialized. */
  def assortativity(edges0: DataFrame, a: String, b: String): DataFrame = {
    val undirected = edges0
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    val edges = undirected
      .unionAll(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint() // feeds deg AND the tagged pair list
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val stats = edges
      .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(dec(col("dx"))).as("sx"),
        sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
        sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
    val n = deg.agg(count(lit(1)).as("n_nodes"))
    stats.crossJoin(n)
      .select(col("n_nodes"),
        graft.functions.F.idiv(col("m"), lit(2L)).as("n_edges"),
        when(dec(col("m")) * col("sxx") - col("sx") * col("sx") === lit(0),
          lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(
            lit(10000L) * (dec(col("m")) * col("sxy") - col("sx") * col("sx")),
            dec(col("m")) * col("sxx") - col("sx") * col("sx")))
          .as("assortativity_bp"))
  }

  /** q273: degree assortativity of the same sampled co-purchase graph
    * q190/q226/q272 profile. */
  def q273(s: SparkSession, d: String): DataFrame =
    assortativity(sampledCopurchaseEdges(s, d), "part_a", "part_b")

  /** The q190/q226 deterministic basket sample's co-purchase edge
    * list (one direction per within-basket pair; q68's basket-array
    * discipline — pairs explode within the basket row, never a fact
    * self-join). Shared by q272/q273. */
  private def sampledCopurchaseEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 8 === 0)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("i", "part_a")), col("arr"))
      .select(col("part_a"),
        explode(slice(col("arr"), col("i") + lit(2),
          size(col("arr")) - col("i") - lit(1))).as("part_b"))

  /** WILCOXON SIGNED-RANK TEST (round 15) — the PAIRED member of the
    * rank-test family: q287's Mann–Whitney compares two INDEPENDENT
    * arms; this one asks "did the SAME units shift" — each unit is its
    * own control (pre vs post spend across q339's calendar-midpoint
    * split), which cancels the between-user variance that dominates
    * skewed metrics and makes the unpaired test blind to small
    * within-user shifts.
    *
    * Exact tie handling via mid-ranks on |d| (the q286/q287 lattice
    * machinery, 2× units so ties stay integral): zero diffs DROP
    * (the classic Wilcoxon convention; their count is reported),
    * W⁺ = Σ ranks of positive diffs, and the tie-exact variance is
    * Var(W⁺) = Σᵢ rᵢ²/4 over the nonzero diffs — with mid-ranks this
    * IS n(n+1)(2n+1)/24 − Σ(t³−t)/48, so no separate correction term.
    * In 2× units: w2 = 2W⁺, E[w2] = n(n+1)/2 exactly integral, and
    * Var(w2) = Σ t·r2² / 4, giving z = 2·(w2 − n(n+1)/2)/√(Σ t·r2²)
    * assembled in ONE pinned double order (the q209/q287 z_milli
    * convention). NULL z when no nonzero diffs or all |d| tie into
    * one bin spanning both signs with Σ t·r2² = 0 (impossible for
    * nonzero t, kept as the den=0 guard).
    *
    * Scale (100 TB): one user-grain aggregation (the only corpus
    * shuffle), |d|-lattice bin partials, one bounded-grid window, a
    * one-row fold — the q283/q287 shape exactly. */
  def wilcoxonSigned(events: DataFrame, unit: String, ts: Column,
                     valueCents: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val d0 = events.select(col(unit).as("u"), ts.cast("date").as("dy"),
      valueCents.as("vc"))
    val bounds = d0.agg(min(col("dy")).as("d_min"), max(col("dy")).as("d_max"))
      .select(
        expr("date_add(d_min, CAST(FLOOR(datediff(d_max, d_min) / 2) AS INT))")
          .as("pivot"))
    val perUser = d0.crossJoin(broadcast(bounds))
      .groupBy(col("u"))
      .agg((sum(when(col("dy") > col("pivot"), col("vc")).otherwise(0L)) -
        sum(when(col("dy") <= col("pivot"), col("vc")).otherwise(0L)))
        .as("diff"))
    val perBin = perUser.where(col("diff") =!= 0L)
      .groupBy(abs(col("diff")).as("ad"))
      .agg(sum(when(col("diff") > 0L, 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("t"))
    val w = Window.orderBy(col("ad").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perBin.withColumn("r2",
      lit(2L) * (sum(col("t")).over(w) - col("t")) + col("t") + lit(1L))
    val nZero = perUser.agg(
      sum(when(col("diff") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val m = ranked.agg(sum(col("t")).as("n_nonzero"),
      sum(dec(col("np")) * dec(col("r2"))).as("w2"),
      sum(dec(col("t")) * dec(col("r2")) * dec(col("r2"))).as("s2"))
    val nnz = dec(col("n_nonzero"))
    val num2 = col("w2") - graft.functions.F.idiv(
      nnz * (nnz + dec(lit(1L))), dec(lit(2L))).cast("decimal(38,0)")
    val z = lit(2d) * num2.cast("double") / sqrt(col("s2").cast("double"))
    m.crossJoin(broadcast(nZero))
      .select(coalesce(col("n_nonzero"), lit(0L)).as("n_nonzero"),
        col("n_zero"),
        graft.functions.F.idiv(coalesce(col("w2"), dec(lit(0L))),
          dec(lit(2L))).cast("long").as("w_plus"),
        when(col("n_nonzero").isNull || col("s2") === dec(lit(0L)),
          lit(null).cast("long"))
          .otherwise(floor(z * lit(1000d) + lit(0.5d)).cast("long"))
          .as("z_milli"))
      .withColumn("is_significant",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) > lit(1960L)).cast("int")))
  }

  /** q378: did per-user purchase spend shift from the first calendar
    * half to the second — the paired complement of q287's unpaired
    * location test, on the exact cent lattice. */
  def q378(s: SparkSession, d: String): DataFrame =
    wilcoxonSigned(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("ts"), cents(col("value")))

  /** FRIEDMAN TEST (round 15) — the k-treatment REPEATED-MEASURES rank
    * test, completing the nonparametric grid: q287 = 2 independent
    * arms, q378 = 2 paired, q323's Kruskal–Wallis = k independent,
    * this = k treatments measured on the SAME blocks. Each block
    * (user) ranks its k treatment values (per-event-type activity),
    * so between-block level differences cancel exactly — the question
    * is purely "does any treatment consistently rank higher".
    *
    * Blocks are COMPLETE by construction: the per-(block, treatment)
    * value is an event count, and missing combinations 0-fill via a
    * block-table × broadcast-treatment cross join (the design matrix
    * is |blocks|·k rows — the user-grain table times a bounded k).
    * Within-block mid-ranks come from two RANGE windows over the
    * k-bounded block partition (strictly-smaller count + tie-peer
    * count, r2 = 2·smaller + peers + 1 in 2× units — no join-back).
    * The tie-EXACT statistic is the Conover form
    *   Q = (k−1)·Σⱼ(Rⱼ − n(k+1)/2)² / Σᵢⱼ(rᵢⱼ − (k+1)/2)²
    * whose numerator and denominator are exact integers in 2× units
    * (the /4 cancels): A2 = Σⱼ(Rⱼ2 − n(k+1))², B2 = Σᵢⱼ(r2ᵢⱼ −
    * (k+1))², q_milli = ⌊1000(k−1)A2/B2⌋ by one truncating division.
    * NULL when k < 2 or B2 = 0 (every block ranks all-tied).
    *
    * Scale (100 TB): one (block, treatment) aggregation, the 0-fill
    * cross join at block grain, k-bounded windows inside the block
    * partitioning, then a k-row treatment rollup + 1-row fold. */
  def friedman(df: DataFrame, block: Column, treatment: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cells = df.select(block.as("blk"), treatment.as("trt"))
      .where(col("blk").isNotNull && col("trt").isNotNull)
      .groupBy(col("blk"), col("trt")).agg(count(lit(1)).as("v"))
    val blocks = cells.select(col("blk")).distinct()
    val trts = cells.select(col("trt")).distinct()
    val full = blocks.crossJoin(broadcast(trts))
      .join(cells, Seq("blk", "trt"), "left")
      .select(col("blk"), col("trt"), coalesce(col("v"), lit(0L)).as("v"))
    val below = Window.partitionBy(col("blk")).orderBy(col("v").asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val peers = Window.partitionBy(col("blk")).orderBy(col("v").asc)
      .rangeBetween(Window.currentRow, Window.currentRow)
    val ranked = full.withColumn("r2",
      lit(2L) * count(lit(1)).over(below) + count(lit(1)).over(peers) +
        lit(1L))
    // A2/B2 both need (k+1) inside the squared term — broadcast the
    // 1-row treatment count onto the ranked table before folding
    val kRow = trts.agg(count(lit(1)).as("k_trt"))
    val withK = ranked.crossJoin(broadcast(kRow))
    val a2 = withK.groupBy(col("trt"))
      .agg(first(col("k_trt")).as("k_trt"), count(lit(1)).as("n_blocks"),
        sum(dec(col("r2"))).as("rj2"))
      .select(col("k_trt"), col("n_blocks"),
        (col("rj2") - dec(col("n_blocks")) * (dec(col("k_trt")) +
          dec(lit(1L)))).as("dev"))
      .agg(first(col("k_trt")).as("k_trt"),
        first(col("n_blocks")).as("n_blocks"),
        sum(col("dev") * col("dev")).as("a2"))
    val b2 = withK.select(((dec(col("r2")) - (dec(col("k_trt")) +
      dec(lit(1L)))) * (dec(col("r2")) - (dec(col("k_trt")) +
      dec(lit(1L))))).as("d2"))
      .agg(sum(col("d2")).as("b2"))
    a2.crossJoin(broadcast(b2))
      .select(col("n_blocks"), col("k_trt").as("k_treatments"),
        when(col("k_trt") < 2L || col("b2") === dec(lit(0L)),
          lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(
            dec(lit(1000L)) * (dec(col("k_trt")) - dec(lit(1L))) * col("a2"),
            col("b2")).cast("long")).as("q_milli"))
  }

  /** q379: does any EVENT TYPE consistently rank higher WITHIN users —
    * blocks = users, treatments = event types, value = per-(user,
    * type) event count (0-filled complete design). */
  def q379(s: SparkSession, d: String): DataFrame =
    friedman(Tables.events(s, d), col("user_id"), col("event_type"))

  /** TWO-SAMPLE CRAMÉR–VON MISES (round 15) — the INTEGRATED
    * distribution-drift statistic next to q283's KS: KS reads the
    * MAXIMUM CDF gap (sensitive to one sharp local divergence, weak
    * on diffuse shifts spread across the range); CvM integrates the
    * SQUARED gap over the pooled sample,
    *   T = nm/N² · Σₓ t(x)·(F₁(x) − F₂(x))²
    * (sum over pooled observations with multiplicity t), so many
    * small gaps accumulate — the right detector for gradual
    * distributional creep that never produces one big D.
    *
    * Exact integers: per cent-lattice bin (n_a, n_b) counts, running
    * cumulative (cumA, cumB) from one bounded-grid window, and the
    * gap cross-multiplied to integers — (cumA·m − cumB·n)² — so
    *   T = Σ t·(cumA·m − cumB·n)² / (N²·n·m)
    * with the numerator an exact decimal(38,0) (headroom: cum·m ≤
    * 10¹⁸ at 10⁹ rows/side needs the documented sampled lattice; at
    * the verify/bench scales ≤10¹² squared ≈ 10²⁴·bins ≈ 10³⁰ fits)
    * and t_micro = ⌊10⁶·Σ / (N²nm)⌋ by remainder-subtraction exact
    * decimal floor division (the q338 dfloor). Significance at the
    * asymptotic 5% critical value T > 0.461. NULL on an empty side.
    *
    * Scale (100 TB): identical shape to q283/q287 — lattice-bin
    * partial counts, one bounded-grid window, a one-row fold; the
    * corpus shuffles only per-bin counters. */
  def cramerVonMises(df: DataFrame, value: Column, isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def dfloor(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("decimal(38,0)")
    val perBin = df.select(value.as("v"), isA.as("is_a"))
      .where(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perBin
      .withColumn("ca", sum(col("na")).over(w))
      .withColumn("cb", sum(col("nb")).over(w))
    // the fold needs n and m INSIDE the squared term — fold twice:
    // totals first (2 numbers, broadcast), then the weighted sum
    val totals = perBin.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    val s = cum.crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"),
        (dec(col("na") + col("nb")) *
          (dec(col("ca")) * dec(col("n_b")) -
            dec(col("cb")) * dec(col("n_a"))) *
          (dec(col("ca")) * dec(col("n_b")) -
            dec(col("cb")) * dec(col("n_a")))).as("term"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("term")).as("ssum"))
    val nA = dec(col("n_a"))
    val nB = dec(col("n_b"))
    val nn = nA + nB
    s.select(col("n_a"), col("n_b"),
      when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("long"))
        .otherwise(dfloor(dec(lit(1000000L)) * col("ssum"),
          nn * nn * nA * nB).cast("long")).as("t_micro"))
      .withColumn("is_significant",
        when(col("t_micro").isNull, lit(null).cast("int"))
          .otherwise((col("t_micro") > lit(461000L)).cast("int")))
  }

  /** q381: purchase-spend distribution drift between user-parity arms
    * — the integrated complement of the q287 frame (location) and
    * q283 (max-gap), on the exact cent lattice. */
  def q381(s: SparkSession, d: String): DataFrame =
    cramerVonMises(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      cents(col("value")), col("user_id") % 2 === 0)

  /** JACKKNIFE RATIO-METRIC STANDARD ERROR (round 15) — the missing
    * variance story for RATIO metrics: revenue-per-event, CTR,
    * items-per-order are ratios of SUMS over units, and the naive
    * per-row variance is wrong because both numerator and denominator
    * are random per user. The delete-one jackknife is the standard
    * production answer (linearization's equal): R₍ᵢ₎ = (Y−yᵢ)/(X−xᵢ)
    * per unit, Var_J = (n−1)/n · Σ(R₍ᵢ₎ − R̄_J)².
    *
    * Exact replay: each R₍ᵢ₎ is ⌊10⁶(Y−yᵢ)/(X−xᵢ)⌋ by one truncating
    * idiv (both engines agree at any sign), and the variance runs on
    * those micro-lattice integers via the one-pass identity
    * n·ΣR² − (ΣR)² = n·Σ(R−R̄)², so
    *   Var_J = (n−1)·(n·Σr² − S²) / n²   [micro²]
    * with every moment an exact decimal(38,0) and se_micro the exact
    * integer sqrt (isqrtLong's ±1-corrected candidate) of the dfloor
    * quotient. Units whose deletion empties the denominator
    * (X−xᵢ ≤ 0) are EXCLUDED from the variance and counted —
    * deleting such a unit leaves no metric to estimate. 95% CI =
    * ratio ∓ ⌊196·se/100⌋, reported per arm (user-parity), one row
    * each, so the A/B read is direct: do the intervals overlap.
    *
    * Scale (100 TB): one user-grain aggregation (the corpus shuffle),
    * a 2-row arm-total broadcast back onto the user table, one
    * arm-grain moment fold. Headroom documented at the r_i lattice:
    * n·r² ≈ 10⁹ users · (10¹³ micro)² outruns decimal(38,0) only past
    * ~10¹³-micro ratios — switch the lattice to milli there. */
  def jackknifeRatio(events: DataFrame, unit: String, arm: Column,
                     valueCents: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def dfloor(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("decimal(38,0)")
    val perUser = events.select(col(unit).as("u"), arm.cast("int").as("arm"),
      valueCents.as("vc"))
      .groupBy(col("u"), col("arm"))
      .agg(count(lit(1)).as("x"), sum(col("vc")).as("y"))
    val totals = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_units"), sum(col("x")).as("tx"),
        sum(col("y")).as("ty"))
    val ri = perUser.join(broadcast(totals), Seq("arm"))
      .select(col("arm"), col("n_units"), col("tx"), col("ty"),
        when(col("tx") - col("x") > 0L,
          graft.functions.F.idiv(dec(lit(1000000L)) *
            (dec(col("ty")) - dec(col("y"))),
            dec(col("tx")) - dec(col("x"))).cast("decimal(38,0)"))
          .as("r"))
    val mom = ri.groupBy(col("arm"))
      .agg(first(col("n_units")).as("n_units"), first(col("tx")).as("tx"),
        first(col("ty")).as("ty"),
        sum(when(col("r").isNull, 1L).otherwise(0L)).as("n_excluded"),
        count(col("r")).as("n_j"),
        sum(col("r")).as("s"), sum(col("r") * col("r")).as("ss"))
    val nJ = dec(col("n_j"))
    val varNum = (nJ * col("ss") - col("s") * col("s")) *
      (nJ - dec(lit(1L)))
    // greatest(…,1) guards the n_j<2 degenerate fold (the reported se
    // is NULLed there anyway; this keeps the division well-defined)
    val se = graft.functions.F.isqrtLong(
      dfloor(varNum, greatest(nJ * nJ, dec(lit(1L)))))
    val ratio = graft.functions.F.idiv(dec(lit(1000000L)) * dec(col("ty")),
      dec(col("tx"))).cast("long")
    mom.select(col("arm").cast("long").as("arm"), col("n_units"),
      col("n_excluded"), ratio.as("ratio_micro"),
      when(col("n_j") < 2L, lit(null).cast("long"))
        .otherwise(se.cast("long")).as("se_micro"))
      .withColumn("ci95_lo_micro",
        when(col("se_micro").isNull, lit(null).cast("long"))
          .otherwise(col("ratio_micro") -
            graft.functions.F.idiv(lit(196L) * col("se_micro"), lit(100L))))
      .withColumn("ci95_hi_micro",
        when(col("se_micro").isNull, lit(null).cast("long"))
          .otherwise(col("ratio_micro") +
            graft.functions.F.idiv(lit(196L) * col("se_micro"), lit(100L))))
      .orderBy(col("arm"))
  }

  /** q382: revenue-per-event with a delete-one-user jackknife CI, per
    * user-parity arm — the ratio-metric uncertainty read the A/B
    * family's mean-based tests cannot give. */
  def q382(s: SparkSession, d: String): DataFrame =
    jackknifeRatio(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("user_id") % 2 === 0, cents(col("value")))

  /** DUNN'S POST-HOC TEST (round 15) — the answer to the question
    * q323 leaves open: Kruskal–Wallis says "SOME group differs", a
    * product decision needs WHICH PAIRS. Dunn's test compares every
    * group pair on the SHARED pooled mid-ranks (not pairwise
    * Mann–Whitney re-ranks — re-ranking per pair changes the null and
    * inflates the family error), with the tie-corrected pooled
    * variance:
    *   z_ij = (R̄_i − R̄_j) / √[ (n(n+1)/12 − Σ(t³−t)/(12(n−1)))
    *                             · (1/n_i + 1/n_j) ]
    * Multiplicity is the caller's contract: `zCritMilli` is the
    * Bonferroni-adjusted two-sided critical value for the k(k−1)/2
    * comparisons the caller runs (2807 for k=5, α=0.05 — derived
    * once from the instantiation's fixed k, not data).
    *
    * Exactness: the same lattice mid-rank machinery as q323 (2×
    * integer units); per-group (n_g, Σng·r2) and the tie cube sum are
    * exact decimals; each z assembles in ONE pinned double order.
    *
    * Scale (100 TB): lattice-bin partials + one bounded-grid window
    * (shared across ALL pairs — ranked once), a k-row group table,
    * and a k²-row self-join of that tiny table. */
  def dunn(df: DataFrame, value: Column, group: Column,
           zCritMilli: Long): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perBin = df.select(value.as("v"), group.as("g"))
      .where(col("v").isNotNull && col("g").isNotNull)
      .groupBy(col("v"), col("g")).agg(count(lit(1)).as("ng"))
      .localCheckpoint()
    val perV = perBin.groupBy(col("v")).agg(sum(col("ng")).as("t"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = perV.select(col("v"),
      (lit(2L) * (sum(col("t")).over(w) - col("t")) + col("t") + lit(1L))
        .as("r2"))
    val byG = perBin.join(broadcast(ranked), "v")
      .groupBy(col("g"))
      .agg(sum(col("ng")).as("n_g"),
        sum(dec(col("ng")) * dec(col("r2"))).as("rg2"))
      .localCheckpoint() // the k-row table: self-joined + folded
    val tot = byG.agg(sum(col("n_g")).as("n"))
      .crossJoin(perV.agg(sum(dec(col("t")) * dec(col("t")) * dec(col("t"))
        - dec(col("t"))).as("tie3")))
    val pairs = byG.select(col("g").as("g_a"), col("n_g").as("n_a"),
        col("rg2").as("ra2"))
      .crossJoin(byG.select(col("g").as("g_b"), col("n_g").as("n_b"),
        col("rg2").as("rb2")))
      .where(col("g_a") < col("g_b"))
      .crossJoin(broadcast(tot))
    val nD = col("n").cast("double")
    // mean ranks in 1x units; variance term tie-corrected, all from
    // exact decimals cast once, combined in this pinned order
    val num = (col("ra2").cast("double") / col("n_a").cast("double") -
      col("rb2").cast("double") / col("n_b").cast("double")) / lit(2d)
    val vt = (nD * (nD + lit(1d)) -
      col("tie3").cast("double") / (nD - lit(1d))) / lit(12d)
    val z = num / sqrt(vt * (lit(1d) / col("n_a").cast("double") +
      lit(1d) / col("n_b").cast("double")))
    pairs.select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
      when(col("n") < 2L || vt <= lit(0d), lit(null).cast("long"))
        .otherwise(floor(z * lit(1000d) + lit(0.5d)).cast("long"))
        .as("z_milli"))
      .withColumn("is_significant",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) > lit(zCritMilli)).cast("int")))
      .orderBy(col("g_a"), col("g_b"))
  }

  /** q389: WHICH event-type pairs differ in value — Dunn over the
    * q323 frame, Bonferroni z at k=5's 10 comparisons (2.807). */
  def q389(s: SparkSession, d: String): DataFrame =
    dunn(Tables.events(s, d), cents(col("value")), col("event_type"),
      2807L)

  /** DELTA-METHOD RATIO SE (round 15) — the LINEARIZATION route to
    * the same number q382's jackknife estimates by resampling:
    * Var(Ȳ/X̄) ≈ (S_yy − 2R·S_xy + R²·S_xx) / (n·x̄²), the Taylor
    * expansion every large-scale experimentation platform ships
    * because it needs ONE moment pass where the jackknife needs the
    * broadcast-back. Shipping BOTH is the point: they agree
    * asymptotically, so their per-arm ratio is a built-in diagnostic —
    * divergence flags a unit dominating the denominator (exactly when
    * linearization degrades and the jackknife is the one to trust).
    *
    * Exact moments (n, Σx, Σy, Σxx, Σxy, Σyy per arm in
    * decimal(38,0)); ratio_micro by the same truncating idiv as q382
    * (the two operators' point estimates are bit-equal by
    * construction); se_micro assembles in ONE pinned double order.
    * NULL se when n < 2 or Σx = 0.
    *
    * Scale (100 TB): one user-grain aggregation + one arm-grain
    * 6-number fold — strictly cheaper than the jackknife (no
    * broadcast-back pass). */
  def deltaMethodRatio(events: DataFrame, unit: String, arm: Column,
                       valueCents: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perUser = events.select(col(unit).as("u"), arm.cast("int").as("arm"),
      valueCents.as("vc"))
      .groupBy(col("u"), col("arm"))
      .agg(count(lit(1)).as("x"), sum(col("vc")).as("y"))
    val mom = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val n = dec(col("n"))
    def sampCov(ss: Column, a: Column, b: Column): Column =
      (n * ss - a * b).cast("double") /
        (n * (n - dec(lit(1L)))).cast("double")
    val r = col("sy").cast("double") / col("sx").cast("double")
    val varR = (sampCov(col("syy"), dec(col("sy")), dec(col("sy"))) -
      lit(2d) * r * sampCov(col("sxy"), dec(col("sx")), dec(col("sy"))) +
      r * r * sampCov(col("sxx"), dec(col("sx")), dec(col("sx")))) *
      col("n").cast("double") /
      (col("sx").cast("double") * col("sx").cast("double"))
    val ratio = graft.functions.F.idiv(dec(lit(1000000L)) * dec(col("sy")),
      dec(col("sx"))).cast("long")
    val bad = col("n") < 2L || col("sx") === 0L
    mom.select(col("arm").cast("long").as("arm"), col("n").as("n_units"),
      ratio.as("ratio_micro"),
      when(bad, lit(null).cast("long"))
        // greatest(.,0): the quadratic form is >= 0 mathematically
        // (it is Var(y - Rx) scaled); double rounding on degenerate
        // all-y-proportional-to-x data could land epsilon-negative
        // and NaN the sqrt
        .otherwise(floor(sqrt(greatest(varR, lit(0d))) * lit(1000000d) +
          lit(0.5d)).cast("long")).as("se_micro"))
      .withColumn("ci95_lo_micro",
        when(col("se_micro").isNull, lit(null).cast("long"))
          .otherwise(col("ratio_micro") -
            graft.functions.F.idiv(lit(196L) * col("se_micro"), lit(100L))))
      .withColumn("ci95_hi_micro",
        when(col("se_micro").isNull, lit(null).cast("long"))
          .otherwise(col("ratio_micro") +
            graft.functions.F.idiv(lit(196L) * col("se_micro"), lit(100L))))
      .orderBy(col("arm"))
  }

  /** q392: the q382 frame through the delta method — point estimates
    * bit-equal, SEs asymptotically agreeing (the spec pins ≤ 5%
    * divergence on the verify corpus). */
  def q392(s: SparkSession, d: String): DataFrame =
    deltaMethodRatio(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("user_id") % 2 === 0, cents(col("value")))

  /** RATIO-METRIC MDE PLANNER (round 15) — q348 sizes experiments on
    * MEANS; ratio metrics (revenue-per-event) need their own: with
    * per-arm delta-method SEs, the two-arm detectable difference at
    * α = 5% two-sided and 80% power is
    *   MDE = (z_{α/2} + z_β)·√(se_a² + se_b²) = 2.8016·se_diff,
    * reported absolute (micro) and relative to the pooled ratio (bp)
    * — the number that answers "how long must this run" BEFORE the
    * experiment wastes a quarter.
    *
    * One row; 2.8016 is the fixed (1.959964 + 0.841621) constant of
    * the 5%/80% convention, applied in one pinned double order over
    * the q392 moment machinery. NULL when either arm's se is NULL. */
  def ratioMde(events: DataFrame, unit: String, arm: Column,
               valueCents: Column): DataFrame = {
    val per = deltaMethodRatio(events, unit, arm, valueCents)
    val a = per.where(col("arm") === 1L)
      .select(col("n_units").as("n_a"), col("ratio_micro").as("r_a"),
        col("se_micro").as("se_a"))
    val b = per.where(col("arm") === 0L)
      .select(col("n_units").as("n_b"), col("ratio_micro").as("r_b"),
        col("se_micro").as("se_b"))
    a.crossJoin(b)
      .withColumn("mde_abs_micro",
        when(col("se_a").isNull || col("se_b").isNull,
          lit(null).cast("long"))
          .otherwise(floor(lit(2.8016d) *
            sqrt(col("se_a").cast("double") * col("se_a").cast("double") +
              col("se_b").cast("double") * col("se_b").cast("double")) +
            lit(0.5d)).cast("long")))
      .withColumn("pooled_micro",
        graft.functions.F.idiv(
          col("n_a").cast("decimal(38,0)") * col("r_a") +
            col("n_b").cast("decimal(38,0)") * col("r_b"),
          (col("n_a") + col("n_b")).cast("decimal(38,0)")).cast("long"))
      .withColumn("mde_rel_bp",
        when(col("mde_abs_micro").isNull || col("pooled_micro") === 0L,
          lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(
            lit(10000L) * col("mde_abs_micro"), col("pooled_micro"))))
      .select(col("n_a"), col("n_b"), col("r_a"), col("r_b"),
        col("mde_abs_micro"), col("pooled_micro"), col("mde_rel_bp"))
  }

  /** q393: how big a revenue-per-event shift the parity experiment
    * can currently detect — the ratio-metric duration planner. */
  def q393(s: SparkSession, d: String): DataFrame =
    ratioMde(Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("user_id") % 2 === 0, cents(col("value")))

  /** ORDINAL ASSOCIATION: GOODMAN–KRUSKAL γ + SOMERS' D (round 15) —
    * the tie-POLICY members completing the concordance family q322's
    * τ-b opened: all three read the same (C, D, tie) pair counts and
    * differ only in which tied pairs the denominator charges, which
    * is exactly the modeling question — γ = (C−D)/(C+D) ignores every
    * tie (the ordinal-table classic: how predictive is order, WHEN
    * both orders speak); Somers' D_yx = (C−D)/(n₀−T_x) conditions on
    * x (pairs tied on x are excluded, ties on y count against — the
    * asymmetric "predict y from x" skill); D_xy = (C−D)/(n₀−T_y) is
    * the transpose, and for a BINARY y with x a score it carries the
    * ranking identity AUC = (D_xy+1)/2 (the spec pins it on a
    * perfectly-ranked hand case).
    *
    * Unlike τ-b (whose normalizer needs a √), ALL THREE outputs here
    * are ratios of exact integer pair counts — bp by one truncating
    * idiv each, no doubles anywhere. NULL where the respective
    * denominator is empty (all-tied on the relevant sides).
    *
    * Scale: the q322 contract verbatim — concordance is quadratic in
    * the UNIT grain by definition, so the same maxUnits guardrail
    * requires a pre-aggregated bounded grain (day table, bucket
    * table), never a raw corpus. */
  def ordinalAssoc(units: DataFrame, key: Column, x: Column,
                   y: Column, maxUnits: Long = 4096L): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val u = units.select(key.as("k"), x.as("xv"), y.as("yv"))
      .where(col("xv").isNotNull && col("yv").isNotNull)
      .localCheckpoint()
    val nu = u.count()
    require(nu <= maxUnits,
      s"ordinalAssoc: $nu units would form ~${nu * nu / 2} concordance " +
        "pairs; pre-aggregate the series to a bounded grain (the q322 " +
        "day-table discipline) or raise maxUnits deliberately")
    val cd = u.as("a").join(u.as("b"), col("a.k") < col("b.k"))
      .agg(
        sum(when((col("a.xv") > col("b.xv") && col("a.yv") > col("b.yv")) ||
          (col("a.xv") < col("b.xv") && col("a.yv") < col("b.yv")), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("a.xv") > col("b.xv") && col("a.yv") < col("b.yv")) ||
          (col("a.xv") < col("b.xv") && col("a.yv") > col("b.yv")), 1L)
          .otherwise(0L)).as("nd"))
    def tiePairs(c: String, alias: String): DataFrame =
      u.groupBy(col(c)).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(dec(graft.functions.F.idiv(
          col("t") * (col("t") - 1L), lit(2L)))), dec(lit(0L))).as(alias))
    val m = cd
      .crossJoin(broadcast(u.agg(count(lit(1)).as("n"))))
      .crossJoin(broadcast(tiePairs("xv", "tx")))
      .crossJoin(broadcast(tiePairs("yv", "ty")))
    val n0 = dec(graft.functions.F.idiv(col("n") * (col("n") - 1L), lit(2L)))
    val sgn = dec(col("nc")) - dec(col("nd"))
    def ratioBp(den: Column, name: String): Column =
      when(den === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(dec(lit(10000L)) * sgn, den)
          .cast("long")).as(name)
    m.select(col("n").as("n_units"), n0.cast("long").as("n_pairs"),
      col("nc").as("concordant"), col("nd").as("discordant"),
      ratioBp(dec(col("nc")) + dec(col("nd")), "gamma_bp"),
      ratioBp(n0 - col("tx"), "somers_d_yx_bp"),
      ratioBp(n0 - col("ty"), "somers_d_xy_bp"))
  }

  /** q395: γ and both Somers' D between daily order volume and daily
    * revenue — the tie-policy reads next to q322's τ-b on the same
    * day-grain frame. */
  def q395(s: SparkSession, d: String): DataFrame =
    ordinalAssoc(
      Tables.orders(s, d).groupBy(col("o_orderdate"))
        .agg(count(lit(1)).as("xn"),
          sum(cents(col("o_totalprice"))).as("yn")),
      col("o_orderdate"), col("xn"), col("yn"))

  /** TWO-REGRESSOR OLS (round 16) — multiple regression via the normal
    * equations, the step past q204's simple slope the feature-audit
    * family needs: "does x still predict y AFTER controlling for z" is
    * a partial-effect question a single-regressor fit cannot answer
    * (q204 on these inputs reads the confounded slope). Closed form on
    * centered moments, no iteration:
    *   S_ab = n·Σab − Σa·Σb   (exact Long — one aggregation's sums)
    *   b1 = (S_xy·S_zz − S_zy·S_xz) / (S_xx·S_zz − S_xz²)   (Cramer)
    *   b2 = (S_zy·S_xx − S_xy·S_xz) / (same determinant)
    *   b0 = (Σy − b1·Σx − b2·Σz) / n
    *   R² = (b1·S_xy + b2·S_zy) / S_yy
    * The moment sums are EXACT integers (the hash surface); the 2×2
    * solve is double with one pinned operation order (the q337/q400
    * z-assembly convention — Cramer products overflow Long by design,
    * and IEEE ×,−,/ round identically in both engines). Collinear
    * regressors (det = 0) read NULL coefficients — loud, not wrong.
    *
    * Scale (100 TB): ONE map-side-partial aggregation over the input
    * frame; the solve is 1-row arithmetic. Nothing else. */
  def olsTwo(df: DataFrame, y: Column, x: Column, z: Column): DataFrame = {
    // every product moment in decimal(38,0): Σy² alone passes 10¹⁸ on
    // a cents-grain frame two decades up (the welchT convention —
    // exact integers wider than Long, collapsed to double only at the
    // solve). The plain sums stay Long on the output (the hash
    // surface); they are orders of magnitude inside the bound.
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m = df.select(y.as("y"), x.as("x"), z.as("z"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("z")) * dec(col("z"))).as("szz"),
        sum(dec(col("x")) * dec(col("z"))).as("sxz"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("z")) * dec(col("y"))).as("szy"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    def ctr(ab: Column, a: Column, b: Column): Column =
      (dec(col("n")) * ab - dec(a) * dec(b)).cast("double")
    val cxx = ctr(col("sxx"), col("sx"), col("sx"))
    val czz = ctr(col("szz"), col("sz"), col("sz"))
    val cxz = ctr(col("sxz"), col("sx"), col("sz"))
    val cxy = ctr(col("sxy"), col("sx"), col("sy"))
    val czy = ctr(col("szy"), col("sz"), col("sy"))
    val cyy = ctr(col("syy"), col("sy"), col("sy"))
    val det = cxx * czz - cxz * cxz
    val b1 = (cxy * czz - czy * cxz) / det
    val b2 = (czy * cxx - cxy * cxz) / det
    val b0 = (col("sy").cast("double") -
      b1 * col("sx").cast("double") - b2 * col("sz").cast("double")) /
      col("n").cast("double")
    val r2 = (b1 * cxy + b2 * czy) / cyy
    val bad = det === lit(0d) || col("n") < 3L || cyy === lit(0d)
    def milli(c: Column): Column =
      when(bad, lit(null).cast("long"))
        .otherwise(floor(c * lit(1000d) + lit(0.5d)).cast("long"))
    m.select(col("n"), col("sx"), col("sz"), col("sy"),
      milli(b1).as("b1_milli"), milli(b2).as("b2_milli"),
      milli(b0).as("b0_milli"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(r2 * lit(10000d) + lit(0.5d)).cast("long"))
        .as("r2_bp"))
  }

  /** q405: daily revenue (cents) on day index + daily order count —
    * the trend coefficient AFTER controlling for volume, next to
    * q204's confounded simple slope over the same frame. */
  def q405(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("m"), sum(cents(col("o_totalprice"))).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("day")))
        .cast("long"))
    olsTwo(daily, col("y"), col("t"), col("m"))
  }

  /** PERSONALIZED PAGERANK (round 16) — "important NEAR these seeds":
    * global PageRank (q147) ranks hubs of the whole graph; a
    * recommendation or similar-items surface wants proximity to a
    * SEED SET, which is exactly PPR — the teleport mass returns to the
    * seeds instead of spreading uniformly, so rank decays with graph
    * distance from them (the classic recsys/graph-completion scorer
    * next to q346's one-hop Adamic–Adar). Same exact integer fixed
    * point as q147 (scale 10¹², send ⌊r/deg⌋, receive ⌊85·Σ/100⌋ +
    * seed-only teleport), seeds = the `nSeeds` highest-degree nodes
    * (ties by id — a total order both engines resolve identically),
    * r₀ = all mass on the seeds, `iters` unrolled rounds. Nodes the
    * mass has not reached read 0, not absent — the universe is the
    * degree table (left join), so ranks never silently shrink.
    *
    * Scale (100 TB): one join + one aggregation per round on the
    * symmetrized support-thinned edge list (contributions shuffle
    * O(edges), ranks O(nodes)); localCheckpoint truncates the
    * per-round lineage; the seed pick is a |nodes|-row top-k. */
  def personalizedPageRank(pairs: DataFrame, a: String, b: String,
                           minSupport: Long, nSeeds: Int, iters: Int,
                           topK: Int): DataFrame = {
    val Scale = 1000000000000L
    val e = pairs.select(least(col(a), col(b)).as("x"),
        greatest(col(a), col(b)).as("y"))
      .filter(col("x") =!= col("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
    val edges = e.select(col("x"), col("y"))
      .unionAll(e.select(col("y").as("x"), col("x").as("y")))
      .localCheckpoint()
    val deg = edges.groupBy(col("x")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // the node universe: seed pick + every round
    val eD = edges.join(deg, "x").localCheckpoint()
    val seeds = broadcast(deg
      .orderBy(col("d").desc, col("x").asc).limit(nSeeds)
      .select(col("x").as("node"), lit(1).as("is_seed")))
    val teleSeed = (Scale * 15L / 100L) / nSeeds
    val r0Seed = Scale / nSeeds
    var ranks = deg.select(col("x").as("node")).join(seeds, Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed") === 1, lit(r0Seed)).otherwise(lit(0L)).as("r"))
    // r16 optimization: single-consumer per-round tables — the
    // per-round localCheckpoint was one eager job per iteration with no
    // reuse to buy (the q147 pageRank note); the fixed unroll runs as
    // one job over the checkpointed eD/deg.
    for (_ <- 0 until iters) {
      val contrib = eD.join(ranks.withColumnRenamed("node", "x"), "x")
        .select(col("y"), graft.functions.F.idiv(col("r"), col("d")).as("c"))
        .groupBy(col("y")).agg(sum(col("c")).as("sc"))
      ranks = deg.select(col("x").as("node"))
        .join(contrib.withColumnRenamed("y", "node"), Seq("node"), "left")
        .join(seeds, Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed") === 1, lit(teleSeed)).otherwise(lit(0L)) +
            graft.functions.F.idiv(lit(85L) * coalesce(col("sc"), lit(0L)), lit(100L)))
            .as("r"))
    }
    ranks.join(seeds, Seq("node"), "left")
      .select(col("node"), col("r").as("rank_e12"),
        coalesce(col("is_seed"), lit(0)).as("is_seed"))
      .orderBy(col("rank_e12").desc, col("node").asc)
      .limit(topK)
  }

  /** q411: 4-round PPR on the support-≥2 co-purchase part graph,
    * seeded at its two highest-degree parts — "parts bought near the
    * bestsellers", the personalized counterpart of q147's global
    * ranks on the q68 family's graph. */
  def q411(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val baskets = li.select(col("l_orderkey").as("bk"),
        col("l_partkey").as("it"))
      .groupBy(col("bk")).agg(sort_array(collect_set(col("it"))).as("arr"))
    val pairs = baskets
      .select(posexplode(col("arr")).as(Seq("i", "pa")), col("arr"))
      .select(col("pa"), explode(slice(col("arr"), col("i") + lit(2),
        size(col("arr")) - col("i") - lit(1))).as("pb"))
    personalizedPageRank(pairs, "pa", "pb", 2L, 2, 4, 20)
  }

  /** NEYMAN ALLOCATION (round 16) — the sampling-DESIGN member the
    * sampling family executes against: q23/q47/q97 draw samples GIVEN
    * an allocation; Neyman says what the allocation should BE —
    * nₕ ∝ Nₕ·Sₕ minimizes the stratified-mean variance at a fixed
    * budget (the survey-sampling optimum), sending audit rows where
    * size × spread is, not where row count is. Ships the decision
    * table: per stratum Nₕ, the exact integer sd (sample-variance
    * floor in cents², corrected isqrt — the q186/q385 convention),
    * the Neyman allocation ⌊B·NₕSₕ/ΣNS⌋ and the proportional
    * allocation ⌊B·Nₕ/ΣN⌋ side by side — their gap per stratum IS the
    * efficiency argument. Zero-variance strata draw 0 by design (any
    * one unit represents a constant stratum — the textbook property,
    * spec-pinned); sub-2 strata read NULL sd and weight 0, loud not
    * wrong. Floors under-allocate by ≤ |strata| total; the remainder
    * policy is the caller's (documented).
    *
    * Scale (100 TB): one unit-grain moment aggregation to |strata|
    * rows; the allocation arithmetic is strata-bounded. No joins. */
  def neymanAllocation(df: DataFrame, stratum: Column, value: Column,
                       budget: Long): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val g = df.select(stratum.cast("string").as("stratum"),
        value.cast("long").as("v"))
      .where(col("stratum").isNotNull && col("v").isNotNull)
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(dec(col("v")) * dec(col("v"))).as("ss"))
    val varFloor = graft.functions.F.idiv(dec(col("n")) * col("ss") - dec(col("s")) *
      dec(col("s")), dec(col("n")) * dec(col("n") - 1L)).cast("long")
    val sd = when(col("n") < 2L, lit(null).cast("long"))
      .otherwise(graft.functions.F.isqrtLong(varFloor))
    val w = g.select(col("stratum"), col("n"), sd.as("sd"))
      .withColumn("weight", coalesce(col("n") * col("sd"), lit(0L)))
      .localCheckpoint() // strata-bounded; feeds the totals join
    val tot = w.agg(sum(col("weight")).as("tw"), sum(col("n")).as("tn"))
    w.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n").as("n_units"),
        col("sd").as("sd_cents"), col("weight"),
        when(col("tw") === 0L, lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(lit(budget) * col("weight"), col("tw")))
          .as("alloc_neyman"),
        graft.functions.F.idiv(lit(budget) * col("n"), col("tn")).as("alloc_prop"))
  }

  /** q420: where should a 10k-order audit sample go — order-priority
    * strata sized by count × price spread. */
  def q420(s: SparkSession, d: String): DataFrame =
    neymanAllocation(Tables.orders(s, d), col("o_orderpriority"),
      cents(col("o_totalprice")), 10000L)
}

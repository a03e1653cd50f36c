package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Cols._
import graft.functions.F

/** Time-series / event operators: tumbling windows, gap sessionization,
  * top-k per group, as-of join, range join, funnel, retention, rolling
  * windows, JSON property extraction.
  *
  * The generic entry points (`sessionize`, `topKPerGroup`, `asofJoin`,
  * `rangeJoinPairs`, `funnelStages`, `retention`) work over ANY event
  * DataFrame — callers name the key/time columns; the q3x methods are
  * the driver-contract facades binding them to the test tables.
  *
  * Scale notes (100 TB): every operator here shuffles AT MOST ONCE, on
  * the entity key, then does all per-entity work inside the partition
  * via window functions — no cross-partition state, no driver-side
  * iteration. The as-of joins ride the native AsOfJoinExec (one shuffle
  * per side, per-partition two-pointer merge; see plans.AsOfJoin) with
  * the union-merge window formulation kept here as the composable
  * DataFrame-only alternative; the range join buckets time so the pair
  * join is an equi-join with bounded 2× fan-out.
  */
object Events {

  /** Gap-based sessionization: assign each row a per-key session index
    * that increments when the gap to the previous row exceeds `gapUs`.
    * Single shuffle on the key; lag + running-sum inside the partition.
    * Emits one row per session with bounds in exact integer µs. */
  def sessionize(events: DataFrame, key: String, tsUs: String,
                 order: String, value: String, gapUs: Long): DataFrame = {
    val byKey = Window.partitionBy(col(key)).orderBy(col(tsUs).asc, col(order).asc)
    events
      .withColumn("prev_us", lag(col(tsUs), 1).over(byKey))
      .withColumn("new_session",
        when(col("prev_us").isNull || col(tsUs) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(byKey))
      .groupBy(col(key), col("session_idx"))
      .agg(min(col(tsUs)).as("session_start_us"),
           max(col(tsUs)).as("session_end_us"),
           count(lit(1)).as("n_events"),
           cents(sum(col(value))).as("sum_value"))
  }

  /** Top-k rows per group by `order` desc (ties broken by `tie` asc).
    * row_number inside the group partition — the filter cuts before any
    * further shuffle, so output is k×groups, not all rows. */
  def topKPerGroup(df: DataFrame, key: String, order: String,
                   tie: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(order).desc, col(tie).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Top-k rows per group via the bounded-heap TopKAgg aggregate — the
    * 100 TB shape for top-k: partial aggregation reduces every map task
    * to ≤ k rows per group BEFORE the exchange, so the shuffle carries
    * O(groups·k) instead of every row (the window formulation in
    * topKPerGroup must shuffle and sort the full input). Ranks descend
    * on (order, tie) — lexicographic struct order — and `rn` is the
    * 1-based rank. */
  def topKPerGroupAgg(df: DataFrame, key: String, order: String,
                      tie: String, k: Int): DataFrame =
    df.groupBy(col(key))
      .agg(graft.functions.F.topK(struct(col(order), col(tie)), k).as("top"))
      .select(col(key), posexplode(col("top")))
      .select(col(key), (col("pos") + 1).cast("int").as("rn"),
        col(s"col.$order").as(order), col(s"col.$tie").as(tie))

  /** As-of (backward) join: for each left row, the single right row with
    * the greatest `rightTsUs` ≤ the left row's `leftTsUs` on the same
    * key (ties broken by max `rightTie`).
    *
    * Union-merge formulation: tag both sides, union, single shuffle on
    * the key, then `last(_, ignoreNulls)` over an ordered window carries
    * the most recent right row forward onto each left row. Right rows
    * sort before left rows at equal time, and among simultaneous right
    * rows the max tie-break comes last, so `last` picks exactly the
    * as-of match. One shuffle + one sort regardless of how many right
    * rows precede each left row — an inequality join would be quadratic
    * per key. Matched left rows only (inner as-of). Output: leftId, key,
    * leftTsUs, last_<rightTie>, last_ts_us. */
  def asofJoin(left: DataFrame, leftKey: String, leftId: String, leftTsUs: String,
               right: DataFrame, rightKey: String, rightTie: String,
               rightTsUs: String): DataFrame = {
    val l = left.select(
      col(leftKey).as("k"), col(leftTsUs).as("t_us"),
      lit(1).as("is_left"), col(leftId).as("left_id"),
      lit(null).cast("long").as("tie_in"), lit(null).cast("long").as("rt_us_in"))
    val r = right.select(
      col(rightKey).as("k"), col(rightTsUs).as("t_us"),
      lit(0).as("is_left"), lit(null).cast("long").as("left_id"),
      col(rightTie).as("tie_in"), col(rightTsUs).as("rt_us_in"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t_us").asc, col("is_left").asc, col("tie_in").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("last_tie", last(col("tie_in"), ignoreNulls = true).over(w))
      .withColumn("last_ts_us", last(col("rt_us_in"), ignoreNulls = true).over(w))
      .filter(col("is_left") === 1 && col("last_tie").isNotNull)
      .select(col("left_id"), col("k"), col("t_us"),
              col("last_tie"), col("last_ts_us"))
  }

  /** As-of (forward) join: for each left row, the single right row with
    * the SMALLEST `rightTsUs` ≥ the left row's `leftTsUs` on the same
    * key (simultaneous right rows tie-break to max `rightTie`). Same
    * union-merge shape as the backward join but scanned in descending
    * time order, so "last right seen" is the nearest future right row —
    * one shuffle + one sort, no inequality join. */
  def asofJoinForward(left: DataFrame, leftKey: String, leftId: String, leftTsUs: String,
                      right: DataFrame, rightKey: String, rightTie: String,
                      rightTsUs: String): DataFrame = {
    val l = left.select(
      col(leftKey).as("k"), col(leftTsUs).as("t_us"),
      lit(1).as("is_left"), col(leftId).as("left_id"),
      lit(null).cast("long").as("tie_in"), lit(null).cast("long").as("rt_us_in"))
    val r = right.select(
      col(rightKey).as("k"), col(rightTsUs).as("t_us"),
      lit(0).as("is_left"), lit(null).cast("long").as("left_id"),
      col(rightTie).as("tie_in"), col(rightTsUs).as("rt_us_in"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t_us").desc, col("is_left").asc, col("tie_in").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("next_tie", last(col("tie_in"), ignoreNulls = true).over(w))
      .withColumn("next_ts_us", last(col("rt_us_in"), ignoreNulls = true).over(w))
      .filter(col("is_left") === 1 && col("next_tie").isNotNull)
      .select(col("left_id"), col("k"), col("t_us"),
              col("next_tie"), col("next_ts_us"))
  }

  /** Range join: all (a, b) row pairs on the same key with
    * b.ts ∈ [a.ts, a.ts + windowUs], a ≠ b. A raw theta join (BETWEEN on
    * time) degenerates to a per-key nested loop; the scale shape is a
    * BUCKETED equi-join: the left side explodes each row into the two
    * `windowUs`-wide buckets its window can touch, the right side keeps
    * its single bucket, and the join runs on (key, bucket) with the
    * range as a residual filter. Bucket width = range width, so left
    * fan-out is exactly 2× and every qualifying pair matches exactly
    * once (the right row's bucket is unique). Output columns: key,
    * id_a/id_b, tag_a/tag_b, us_a/us_b. */
  def rangeJoinPairs(df: DataFrame, key: String, id: String, tag: String,
                     tsUs: String, windowUs: Long): DataFrame = {
    val bucket = expr(s"`$tsUs` div ${windowUs}L")
    val a = df.select(col(key).as("k"),
      col(id).as("id_a"), col(tag).as("tag_a"), col(tsUs).as("us_a"),
      explode(array(bucket, bucket + 1)).as("bucket"))
    val b = df.select(col(key).as("k"),
      col(id).as("id_b"), col(tag).as("tag_b"), col(tsUs).as("us_b"),
      bucket.as("bucket"))
    a.join(b, Seq("k", "bucket"))
      .filter(col("id_a") =!= col("id_b") &&
        col("us_b") >= col("us_a") && col("us_b") <= col("us_a") + windowUs)
  }

  /** Ordered funnel: per-stage first-hit times, each stage strictly after
    * the previous stage's first hit. Returns one aggregated frame per
    * stage keyed by user. Joins narrow monotonically, so later stages
    * are broadcast-size at 100 TB. */
  def funnelStages(events: DataFrame, key: String, tag: String,
                   tsUs: String, stages: Seq[String]): Seq[DataFrame] = {
    require(stages.nonEmpty)
    val first = events.filter(col(tag) === stages.head)
      .groupBy(col(key)).agg(min(col(tsUs)).as("t"))
    stages.tail.foldLeft(Seq(first)) { (acc, stage) =>
      val prev = acc.last.select(col(key), col("t").as("t_prev"))
      acc :+ events.filter(col(tag) === stage)
        .join(prev, key).filter(col(tsUs) > col("t_prev"))
        .groupBy(col(key)).agg(min(col(tsUs)).as("t"))
    }
  }

  /** Daily cohort retention: users active on `day0` who return on each
    * of the next `horizon` days. One distinct-user shuffle per side; the
    * day-0 cohort broadcasts. */
  def retention(events: DataFrame, key: String, day: String,
                day0: Column, horizon: Int): DataFrame = {
    val cohort = events.filter(col(day) === day0).select(col(key)).distinct()
    events.filter(datediff(col(day), day0).between(1, horizon))
      .join(broadcast(cohort), key)
      .groupBy(datediff(col(day), day0).as("day_n"))
      .agg(countDistinct(col(key)).as("n_retained"))
  }

  // ---- driver-contract facades over the test tables ----

  /** q30: event-time tumbling window (1h) aggregate per event type.
    * Map-side partial agg; output key is (hour bucket, type). */
  def q30(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           cents(sum(col("value"))).as("sum_value"),
           cents(avg(col("value"))).as("avg_value"))

  /** q31: 30-minute-gap sessionization of the events table. */
  def q31(s: SparkSession, d: String): DataFrame =
    sessionize(
      Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts").cast("timestamp"))),
      "user_id", "ts_us", "event_id", "value", 30L * 60 * 1000000)

  /** q32: top-3 events per user by value (tie-break on event_id). */
  def q32(s: SparkSession, d: String): DataFrame =
    topKPerGroup(
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value")),
      "user_id", "value", "event_id", 3)
      .select(col("user_id"), col("event_id"), cents(col("value")).as("value_c"), col("rn"))

  /** q56: top-3 events per user via the TopKAgg partial aggregate —
    * same semantics as q32 but with the shuffle-bounded aggregate plan
    * (ties rank by event_id DESC, the struct order). */
  def q56(s: SparkSession, d: String): DataFrame =
    topKPerGroupAgg(
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value")),
      "user_id", "value", "event_id", 3)
      .select(col("user_id"), col("event_id"), cents(col("value")).as("value_c"), col("rn"))

  /** q33: as-of (backward) join events→orders on user/time, through the
    * native AsOfJoinExec (one shuffle per side, per-partition two-pointer
    * merge — measured 4.3× faster than the union+window formulation,
    * which remains available as `asofJoin` and is spec-checked equal). */
  def q33(s: SparkSession, d: String): DataFrame =
    graft.plans.AsOfJoin(
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("event_id"), col("user_id"), col("ts_us")),
      "user_id", "ts_us",
      Tables.orders(s, d)
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .select(col("o_custkey"), col("o_orderkey"), col("od_us")),
      "o_custkey", "od_us", "o_orderkey")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_tie").as("last_orderkey"), col("asof_ts").as("last_order_us"))

  /** q72: as-of (forward) join orders→events — for each order, the
    * first event at or after the order date by the same user — through
    * the native AsOfJoinExec in forward mode (the union+window
    * formulation remains available as `asofJoinForward`). */
  def q72(s: SparkSession, d: String): DataFrame =
    graft.plans.AsOfJoin(
      Tables.orders(s, d)
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .select(col("o_orderkey"), col("o_custkey"), col("od_us")),
      "o_custkey", "od_us",
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("user_id"), col("event_id"), col("ts_us")),
      "user_id", "ts_us", "event_id", forward = true)
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        col("od_us"), col("asof_tie").as("next_event_id"),
        col("asof_ts").as("next_event_us"))

  /** q87: LEFT-OUTER as-of (backward) join — every event row kept, with
    * its latest preceding order where one exists, nulls otherwise. The
    * most common telemetry-enrichment shape ("each reading, annotated
    * with the config active at that moment, if any"). Native
    * AsOfJoinExec with outer = true. */
  def q87(s: SparkSession, d: String): DataFrame =
    graft.plans.AsOfJoin(
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("event_id"), col("user_id"), col("ts_us")),
      "user_id", "ts_us",
      Tables.orders(s, d)
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .select(col("o_custkey"), col("o_orderkey"), col("od_us")),
      "o_custkey", "od_us", "o_orderkey", outer = true)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_tie").as("last_orderkey"), col("asof_ts").as("last_order_us"))

  /** q73: the q33 as-of join through the custom whole-operator plan
    * (AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec): one shuffle per
    * side, in-partition two-pointer merge, no union/window buffering.
    * Same semantics and oracle as q33. */
  def q73(s: SparkSession, d: String): DataFrame =
    graft.plans.AsOfJoin(
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("event_id"), col("user_id"), col("ts_us")),
      "user_id", "ts_us",
      Tables.orders(s, d)
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .select(col("o_custkey"), col("o_orderkey"), col("od_us")),
      "o_custkey", "od_us", "o_orderkey")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("asof_tie").as("last_orderkey"), col("asof_ts").as("last_order_us"))

  /** q77: sessionization via the BUILT-IN session_window aggregate —
    * the same 30-minute-gap sessions as q31 without a window-function
    * pass: one shuffle on (user, session), map-side partial merge of
    * adjacent windows. session_window.end is last-event + gap by
    * definition, so the exact session end is end − gap. */
  def q77(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), cents(sum(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        (unix_micros(col("w.end")) - 30L * 60 * 1000000).as("session_end_us"),
        col("n_events"), col("sum_value"))

  /** q79: per-user daily gap-fill — every day in each user's active
    * span appears, zero-filled when no events. The calendar is a
    * per-user `sequence` explode (fan-out = span days, bounded), then a
    * left join against the daily counts on (user, day) — both sides
    * hash-partition on user, no global calendar broadcast needed. */
  def q79(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val spans = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val calendar = spans.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    calendar.join(daily, Seq("user_id", "day"), "left_outer")
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** q35: ordered view → click → purchase funnel counts. */
  def q35(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("t_us"))
    val Seq(v, c, p) = funnelStages(ev, "user_id", "event_type", "t_us",
      Seq("view", "click", "purchase"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
      c.agg(count(lit(1)).as("n_click"))).crossJoin(
      p.agg(count(lit(1)).as("n_purchase")))
  }

  /** q36: 7-day retention of the 2024-01-01 cohort. */
  def q36(s: SparkSession, d: String): DataFrame =
    retention(
      Tables.events(s, d).select(col("user_id"), to_date(col("ts")).as("day")),
      "user_id", "day", to_date(lit("2024-01-01")), 7)

  /** q37: frame-based rolling windows — per-user cumulative sum and a
    * 3-row moving sum/average over event time. Values are discretized to
    * integer cents BEFORE the window sums, so frame aggregation is exact
    * integer arithmetic — immune to the float-summation-order divergence
    * window engines otherwise exhibit (DuckDB's segment-tree frames
    * associate differently than Spark's running accumulator). One shuffle
    * on user_id; both frames evaluate in the same sorted partition. */
  def q37(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    val cum  = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last3 = byUser.rowsBetween(-2, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), cents(col("value")).as("vc"))
      .select(col("user_id"), col("event_id"), col("ts_us"),
        sum(col("vc")).over(cum).as("cum_value_c"),
        sum(col("vc")).over(last3).as("sum3_c"),
        count(lit(1)).over(last3).as("n3"))
      .withColumn("avg3_c", floor(col("sum3_c").cast("double") / col("n3")).cast("long"))
  }

  /** q38: fixed-width histogram/binning of order totals — bucket =
    * floor(price / 10000). Purely map-side until the (tiny) per-bucket
    * aggregation; the canonical distribution-profiling shape. */
  def q38(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 10000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
           cents(sum(col("o_totalprice"))).as("sum_price"),
           cents(min(col("o_totalprice"))).as("min_price"),
           cents(max(col("o_totalprice"))).as("max_price"))

  /** q39: co-occurring event-type pairs from the same user within
    * 5 minutes, via the bucketed range join. */
  def q39(s: SparkSession, d: String): DataFrame =
    rangeJoinPairs(
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us")),
      "user_id", "event_id", "event_type", "us", 5L * 60 * 1000000)
      .groupBy(col("tag_a").as("type_a"), col("tag_b").as("type_b"))
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("k")).as("n_users"))

  /** q34: JSON property extraction + aggregate over the extracted field. */
  def q34(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
           cents(avg(col("k"))).as("avg_k"),
           countDistinct(col("k")).as("n_distinct_k"),
           count(lit(1)).as("cnt"))

  /** Interval-overlap concurrency: how many intervals (start_us..end_us,
    * inclusive) are active in each fixed bucket of `bucketUs`. The
    * classic sweep-line needs a GLOBAL time-ordered running sum — one
    * partition holding every endpoint, the anti-pattern at 100 TB. This
    * formulation instead explodes each interval into the buckets it
    * spans (fan-out = interval length / bucket, bounded for session-like
    * intervals) and counts per bucket: embarrassingly parallel, one
    * aggregation shuffle on the bucket key, no global order. */
  def intervalConcurrency(intervals: DataFrame, startUs: String,
                          endUs: String, bucketUs: Long): DataFrame =
    intervals
      // Inverted intervals (end < start — corrupt upstream data)
      // contribute NOTHING: Spark's sequence(a, b) would otherwise
      // generate the DESCENDING range and phantom-count every bucket
      // between the swapped endpoints.
      .filter(col(endUs) >= col(startUs))
      .select(explode(sequence(
        F.idiv(col(startUs), lit(bucketUs)),
        F.idiv(col(endUs), lit(bucketUs)))).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_active"))
      .select((col("bucket") * lit(bucketUs / 1000000L)).as("bucket_ts"),
        col("n_active"))

  /** q108: per-hour session concurrency — the q31 sessions swept into
    * hour buckets. Answers "how many sessions were live each hour"
    * without a global sort. */
  def q108(s: SparkSession, d: String): DataFrame =
    intervalConcurrency(q31(s, d), "session_start_us", "session_end_us",
      3600L * 1000000L)

  /** Touch attribution: for each conversion event, the first/last
    * preceding touch event and the touch count within a lookback
    * horizon. One shuffle on the entity key; the lookback is a RANGE
    * window frame over exact integer microseconds inside the partition
    * — no self-join, no fan-out, the plan a 100 TB attribution job
    * needs. Touches at the conversion's own timestamp count (frame ends
    * at CURRENT ROW — range frames include timestamp peers). */
  def touchAttribution(events: DataFrame, key: String, tsUs: String,
                       isTouch: Column, isConversion: Column,
                       lookbackUs: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsUs).asc)
      .rangeBetween(-lookbackUs, Window.currentRow)
    events
      .withColumn("n_touches", sum(when(isTouch, 1L).otherwise(0L)).over(w))
      .withColumn("first_touch_us", min(when(isTouch, col(tsUs))).over(w))
      .withColumn("last_touch_us", max(when(isTouch, col(tsUs))).over(w))
      .filter(isConversion)
  }

  /** q109: 7-day first/last-touch attribution of purchases to
    * view/click touches, per user. */
  def q109(s: SparkSession, d: String): DataFrame =
    touchAttribution(
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us")),
      "user_id", "ts_us",
      col("event_type").isin("view", "click"),
      col("event_type") === "purchase",
      7L * 24 * 3600 * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("n_touches"), col("first_touch_us"), col("last_touch_us"))

  /** Trailing-window distinct actives (the "7-day active users per day"
    * KPI): for each activity day, the count of distinct keys active in
    * the trailing `windowDays` days. COUNT DISTINCT over a sliding
    * window can't partial-aggregate, so the naive shapes are a per-day
    * self-join (windowDays× the corpus through a shuffle) or a global
    * sort; instead each (key, day) activity pair — already deduped, the
    * corpus collapses in shuffle one — fans out to the ≤ windowDays
    * report days it contributes to, and a count-distinct aggregation
    * lands per report day. Fan-out is bounded by windowDays and happens
    * AFTER dedup, so the big corpus never replicates. Report days are
    * restricted to days with activity (broadcast semi-join of the tiny
    * day list). */
  def trailingActives(events: DataFrame, key: String, ts: String,
                      windowDays: Int): DataFrame = {
    val pairs = events
      .select(col(key).as("k"), to_date(col(ts)).as("day"))
      .distinct()
    val days = pairs.select(col("day").as("rday")).distinct()
    pairs
      .select(col("k"),
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1))).as("rday"))
      .join(broadcast(days), "rday") // only days that actually occur
      .groupBy(col("rday"))
      .agg(countDistinct(col("k")).as("active_users"))
  }

  /** q117: trailing 7-day distinct active users per day. */
  def q117(s: SparkSession, d: String): DataFrame =
    trailingActives(Tables.events(s, d), "user_id", "ts", 7)

  /** Rate-spike anomaly detection: per (key, day) activity counts whose
    * positive z-score against that day's population exceeds `k` sigmas
    * (sample stddev). The FLAG decision is exact integer arithmetic —
    * (m−1)·(n·m − Σn)² > k²·m·(m·Σn² − (Σn)²) is the z > k inequality
    * cleared of divisions and square roots — so membership can't flip
    * across engines or partial-merge orders; the reported z_bp is
    * fixed-point from correctly-rounded double ops (one division per
    * term + IEEE sqrt), bit-stable given identical inputs.
    *
    * Plan: one aggregation to (key, day) counts, one tiny per-day
    * moment table (Σn, Σn², m) broadcast back — population stats never
    * shuffle the counts twice and nothing sorts. Days with a single
    * active key are skipped (sample variance undefined). */
  def rateAnomaly(events: DataFrame, key: String, ts: String,
                  k: Int): DataFrame = {
    val c = events.groupBy(col(key), to_date(col(ts)).as("day"))
      .agg(count(lit(1)).as("n"))
    val s = c.groupBy(col("day"))
      .agg(sum(col("n")).as("sn"), sum(col("n") * col("n")).as("sq"),
           count(lit(1)).as("m"))
      .filter(col("m") >= 2)
    // The gate multiplies day-level magnitudes — on a 100 TB day
    // (Σn ~ 1e10) sn² alone passes Long.MaxValue and Spark's non-ANSI
    // multiply would wrap silently, so every gate product runs in
    // decimal(38,0): exact integers to 10^38, matching the oracle's
    // HUGEINT. (The REPORTED z_bp stays double — display only.)
    def big(c: Column) = c.cast("decimal(38,0)")
    val dev = big(col("n")) * big(col("m")) - big(col("sn"))
    val varNum = big(col("sq")) * big(col("m")) - big(col("sn")) * big(col("sn"))
    c.join(broadcast(s), "day")
      .filter(big(col("m") - 1) * dev * dev >
                big(lit(k.toLong * k)) * big(col("m")) * varNum &&
              dev > 0)
      .select(col("day"), col(key), col("n"),
        bp((dev.cast("double") / col("m").cast("double")) /
           sqrt(varNum.cast("double") / (col("m") * (col("m") - lit(1.0))))).as("z_bp"))
  }

  /** q123: users whose daily event count spikes ≥ 2σ above that day's
    * population. */
  def q123(s: SparkSession, d: String): DataFrame =
    rateAnomaly(Tables.events(s, d), "user_id", "ts", 2)

  /** Resample an irregular per-key value series onto a fixed `stepUs`
    * grid with LINEAR interpolation between the surrounding
    * observations — the feature-engineering step that turns event
    * streams into aligned model inputs. Grid points cover
    * [⌈t₀/step⌉·step, ⌊t₁/step⌋·step] per key, so every point has both
    * neighbors. Interpolation is EXACT integer arithmetic on cents:
    * (va·(tb−g) + vb·(g−ta)) div (tb−ta), where div TRUNCATES toward
    * zero — the same semantics as Spark's IntegralDivide AND DuckDB's
    * `//` (verified: -7//2 = -3 in both), so values of ANY sign agree
    * cross-engine; a grid point ON an observation divides exactly to
    * va.
    *
    * Plan: the union-merge shape (same as asofJoin): observations and
    * grid rows union, ONE shuffle on the key, and last/first
    * ignoreNulls window passes carry the surrounding observations onto
    * each grid row — never a per-point range join. Simultaneous
    * observations collapse first (keep max seq) so neighbors are
    * unambiguous. */
  def resampleInterpolate(events: DataFrame, key: String, tsUs: Column,
                          seq: String, value: Column,
                          stepUs: Long): DataFrame = {
    val e = events
      .withColumn("ts_us", tsUs).withColumn("v_in", value)
      .groupBy(col(key), col("ts_us"))
      .agg(max_by(col("v_in"), col(seq)).as("v_cents"))
    val grid = e.groupBy(col(key))
      .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      .select(col(key),
        (F.idiv(col("t0") + (stepUs - 1), lit(stepUs)) * stepUs).as("g0"),
        (F.idiv(col("t1"), lit(stepUs)) * stepUs).as("g1"))
      .filter(col("g0") <= col("g1"))
      .select(col(key), explode(sequence(col("g0"), col("g1"), lit(stepUs))).as("ts_us"))
    val u = e.select(col(key), col("ts_us"), col("v_cents"), lit(1).as("is_e"))
      .unionByName(grid.select(col(key), col("ts_us"),
        lit(null).cast("long").as("v_cents"), lit(0).as("is_e")))
    val order = Window.partitionBy(col(key))
      .orderBy(col("ts_us").asc, col("is_e").desc)
    val back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd  = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obs = when(col("is_e") === 1, col("ts_us"))
    u.withColumn("ta", last(obs, ignoreNulls = true).over(back))
      .withColumn("va", last(col("v_cents"), ignoreNulls = true).over(back))
      .withColumn("tb", first(obs, ignoreNulls = true).over(fwd))
      .withColumn("vb", first(col("v_cents"), ignoreNulls = true).over(fwd))
      .filter(col("is_e") === 0)
      .select(col(key), col("ts_us").as("grid_us"),
        // value·gap products run in decimal(38,0): cent values times µs
        // gaps can exceed Long.MaxValue, and Spark's non-ANSI long
        // multiply would wrap silently (the same overflow class
        // rateAnomaly's gate was moved to decimal for). IntegralDivide
        // truncates identically on decimal and long, so results are
        // unchanged wherever the long path didn't overflow.
        when(col("ta") === col("ts_us"), col("va"))
          .otherwise(F.idiv(
            col("va").cast("decimal(38,0)") * (col("tb") - col("ts_us")) +
            col("vb").cast("decimal(38,0)") * (col("ts_us") - col("ta")),
            (col("tb") - col("ta")).cast("decimal(38,0)")).cast("long"))
          .as("interp_cents"))
  }

  /** q127: each user's event values resampled to a 6-hour grid. */
  def q127(s: SparkSession, d: String): DataFrame =
    resampleInterpolate(Tables.events(s, d), "user_id", unix_micros(col("ts")),
      "event_id", graft.functions.Cols.cents(col("value")), 6L * 3600 * 1000000)

  /** Robust per-group spread: median, MAD (median absolute deviation)
    * and the |v − median| > k·MAD outlier count — the outlier detector
    * that, unlike q123's z-score, a few extreme values cannot distort.
    * percentile_disc both times (cut values are members — exact in any
    * engine); the tiny per-group median/MAD tables broadcast back onto
    * the scored rows, no corpus window, two aggregation passes total. */
  def madOutliers(df: DataFrame, group: String, value: Column,
                  k: Int): DataFrame = {
    val v = df.select(col(group), value.as("v"))
    val med = v.groupBy(col(group))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("long").as("median_cents"))
    val dev = v.join(broadcast(med), group)
      .withColumn("ad", abs(col("v") - col("median_cents")))
    val mad = dev.groupBy(col(group))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)")
        .cast("long").as("mad_cents"))
    dev.join(broadcast(mad), group)
      .groupBy(col(group))
      .agg(max(col("median_cents")).as("median_cents"),
           max(col("mad_cents")).as("mad_cents"),
           sum(when(col("ad") > lit(k.toLong) * col("mad_cents"), 1L)
             .otherwise(0L)).as("n_outliers"),
           count(lit(1)).as("n"))
  }

  /** q128: median/MAD/outlier profile of event values per event type. */
  def q128(s: SparkSession, d: String): DataFrame =
    madOutliers(Tables.events(s, d), "event_type",
      graft.functions.Cols.cents(col("value")), 3)

  /** HOPPING (sliding) window aggregate: overlapping windows of
    * `sizeUs` every `hopUs` — each event lands in exactly size/hop
    * windows via a bounded map-side explode of its window-start
    * sequence (the batch face of streaming `window(ts, size, hop)`),
    * then ONE aggregation on the window key. Fan-out is the fixed
    * size/hop ratio, never data-dependent; no self-join, no sort. */
  def hoppingCounts(events: DataFrame, tsUs: Column, key: String,
                    sizeUs: Long, hopUs: Long): DataFrame = {
    require(sizeUs % hopUs == 0, "window size must be a multiple of hop")
    // window starts w with w <= t < w + size, aligned to hop:
    // from floor((t - size)/hop)*hop + hop up to floor(t/hop)*hop.
    val first = (F.idiv(tsUs - sizeUs, lit(hopUs)) + 1L) * hopUs
    val last = F.idiv(tsUs, lit(hopUs)) * hopUs
    events
      .select(col(key).as("k"), explode(sequence(first, last, lit(hopUs))).as("window_us"))
      .groupBy(col("window_us"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("k")).as("n_keys"))
  }

  /** q133: 1-hour windows hopping every 15 minutes over the events
    * stream. */
  def q133(s: SparkSession, d: String): DataFrame =
    hoppingCounts(Tables.events(s, d), unix_micros(col("ts")), "user_id",
      3600L * 1000000, 900L * 1000000)

  /** Time-to-convert: for each conversion, the exact lag since the
    * same key's latest preceding touch (running max over one ordered
    * window — single shuffle on the key, the as-of-within-one-table
    * shape), summarized per group as DISCRETE lag percentiles (members,
    * exact cross-engine) plus the conversion count. The funnel-latency
    * report (how long from view to purchase) behind SLA and attribution
    * tuning. */
  def timeToConvert(events: DataFrame, key: String, tsUs: String,
                    seq: String, isTouch: Column,
                    isConversion: Column): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsUs).asc, col(seq).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("last_touch_us", max(when(isTouch, col(tsUs))).over(w))
      .filter(isConversion && col("last_touch_us").isNotNull)
      .withColumn("lag_s", F.idiv(col(tsUs) - col("last_touch_us"), lit(1000000L)))
      .agg(count(lit(1)).as("n_conversions"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY lag_s)").cast("long").as("p25_s"),
        expr("percentile_disc(0.5)  WITHIN GROUP (ORDER BY lag_s)").cast("long").as("p50_s"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY lag_s)").cast("long").as("p75_s"),
        expr("percentile_disc(0.9)  WITHIN GROUP (ORDER BY lag_s)").cast("long").as("p90_s"))
  }

  /** q134: view/click → purchase conversion-lag percentiles. */
  def q134(s: SparkSession, d: String): DataFrame =
    timeToConvert(
      Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id",
      col("event_type").isin("view", "click"),
      col("event_type") === "purchase")

  /** Consecutive-day activity STREAKS (gaps-and-islands): per key, the
    * longest run of consecutive active days, the streak count, and when
    * the best streak ended — the engagement metric behind retention
    * dashboards. The island key is day − row_number(day): constant
    * exactly while days are consecutive, so one dedup + one window +
    * one aggregation finds every run — no self-join, no per-day scan.
    * Everything partitions by the entity key (one shuffle for the
    * window; the distinct and groupBys reuse/produce compatible hash
    * partitionings). */
  def streaks(events: DataFrame, key: String, ts: String): DataFrame = {
    val days = events.select(col(key).as("k"), to_date(col(ts)).as("day")).distinct()
    val byKey = Window.partitionBy(col("k")).orderBy(col("day").asc)
    val runs = days
      .withColumn("island", date_sub(col("day"), row_number().over(byKey)))
      .groupBy(col("k"), col("island"))
      .agg(count(lit(1)).as("len"), max(col("day")).as("run_end"))
    val best = Window.partitionBy(col("k"))
      .orderBy(col("len").desc, col("run_end").desc)
    runs
      .withColumn("rn", row_number().over(best))
      .withColumn("n_streaks", count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("rn") === 1)
      .select(col("k").as(key), col("len").as("longest_streak"),
        col("n_streaks"), col("run_end").as("best_streak_end"))
  }

  /** q64: per-user consecutive-day activity streaks. */
  def q64(s: SparkSession, d: String): DataFrame =
    streaks(Tables.events(s, d), "user_id", "ts")

  /** Robust feature scaling: winsorize (clip to the group's discrete
    * [pLo, pHi] percentiles) and robust-z ((v − median)·10⁴ div MAD) —
    * the outlier-immune normalization that mean/σ scaling isn't. All
    * cuts are percentile_disc members (exact cross-engine); the scaled
    * value is exact integer arithmetic. One scalar-pair aggregation for
    * the per-group cut table, broadcast back — no corpus window. */
  def robustScale(df: DataFrame, group: String, id: String, value: Column,
                  pLo: Double, pHi: Double): DataFrame = {
    val v = df.select(col(group), col(id), value.as("v"))
    def disc(p: Double, c: String) =
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $c)").cast("long")
    val med = v.groupBy(col(group))
      .agg(disc(0.5, "v").as("med"), disc(pLo, "v").as("lo"),
           disc(pHi, "v").as("hi"))
    val dev = v.join(broadcast(med), group)
      .withColumn("ad", abs(col("v") - col("med")))
    val mad = dev.groupBy(col(group))
      .agg(disc(0.5, "ad").as("mad"))
    dev.join(broadcast(mad), group)
      .select(col(id), col(group),
        greatest(col("lo"), least(col("hi"), col("v"))).as("winsorized_cents"),
        // robust z in basis points; MAD=0 (constant group) maps to 0.
        // idiv truncates toward zero — exactly DuckDB's `//`.
        when(col("mad") === 0L, 0L).otherwise(
          F.idiv((col("v") - col("med")) * 10000L, col("mad"))).as("robust_z_bp"))
  }

  /** q67: event values winsorized to [p05, p95] and robust-z scored
    * per event type. */
  def q67(s: SparkSession, d: String): DataFrame =
    robustScale(Tables.events(s, d), "event_type", "event_id",
      graft.functions.Cols.cents(col("value")), 0.05, 0.95)

  /** First-order MARKOV transition matrix of a per-entity event
    * sequence: P(next type | type), the sequence-mining primitive
    * behind next-action prediction and funnel diagnosis. One window
    * pass per entity partition pairs each event with its successor
    * (deterministic (ts, id) order), one aggregation counts
    * transitions; per-source totals are a tiny broadcast back and the
    * probability is an exact integer basis-point quotient. */
  def transitionMatrix(events: DataFrame, entity: String, kind: String,
                       tsUs: Column, seq: String): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(tsUs.asc, col(seq).asc)
    val c = events
      .withColumn("to_type", lead(col(kind), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col(kind).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = c.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    c.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        F.idiv(col("n") * 10000L, col("tot")).as("prob_bp"))
  }

  /** Power-sweep count shared with the q285 oracle. */
  val MarkovIters = 12

  /** MARKOV STATIONARY MIX — where the q69 transition chain settles:
    * π after MarkovIters synchronized power sweeps from the uniform
    * start (the q272/q281 fixed-unroll contract — deterministic and
    * engine-replayable, not a fixpoint claim). Each type's stationary
    * share against its EMPIRICAL share is the actionable delta: a
    * type whose stationary share far exceeds its empirical one is an
    * attractor the session mix is drifting toward (users funnel into
    * it and stay); the reverse is an entry-only transient. The
    * substochastic handling is part of the contract: a type with no
    * outgoing transitions leaks its mass (the renormalize step
    * redistributes), which is exactly the absorbing-state red flag.
    *
    * Integer arithmetic end to end: P in Q14 (p = c·2¹⁴ // rowtotal),
    * sweeps π' = πP with π renormalized to Σ=2¹⁴ by truncating
    * division, every product in BigInt on the driver over the
    * |types|²-BOUNDED matrix (the q281/k-means driver-model
    * precedent; type vocabulary, never corpus, sized). The corpus
    * work is q69's one window pass + one aggregation. */
  def markovStationary(events: DataFrame, entity: String, kind: String,
                       tsUs: Column, seq: String,
                       iters: Int = MarkovIters): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val tm = transitionMatrix(events, entity, kind, tsUs, seq)
      .select(col("from_type"), col("to_type"), col("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), BigInt(r.getLong(2))))
      .toMap // |types|²-bounded driver model
    val types = events.select(col(kind).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val idx = types.zipWithIndex.toMap
    val d = types.length
    val rowTot = Array.fill(d)(BigInt(0))
    tm.foreach { case ((f, _), n) => rowTot(idx(f)) += n }
    val scale = BigInt(16384)
    val p = Array.tabulate(d, d) { (i, j) =>
      if (rowTot(i) == 0) BigInt(0)
      else tm.getOrElse((types(i), types(j)), BigInt(0)) * scale / rowTot(i)
    }
    var pi = Array.fill(d)(scale)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(j => (0 until d).map(i => pi(i) * p(i)(j)).sum)
      val tot = w.sum
      if (tot != 0) pi = w.map(_ * scale / tot)
    }
    val piSum = pi.sum
    val totalTrans = rowTot.sum
    types.indices.map { j =>
      (types(j), rowTot(j).toLong,
        (if (totalTrans != 0) BigInt(10000) * rowTot(j) / totalTrans
         else BigInt(0)).toLong,
        (if (piSum != 0) BigInt(10000) * pi(j) / piSum else BigInt(0)).toLong)
    }.toDF("event_type", "n_out", "empirical_bp", "stationary_bp")
  }

  /** q285: the stationary event-type mix of the q69 chain. */
  def q285(s: SparkSession, d: String): DataFrame =
    markovStationary(Tables.events(s, d), "user_id", "event_type",
      unix_micros(col("ts")), "event_id")

  /** q69: per-user event-type transition probabilities. */
  def q69(s: SparkSession, d: String): DataFrame =
    transitionMatrix(Tables.events(s, d), "user_id", "event_type",
      unix_micros(col("ts")), "event_id")

  /** Absorption-unroll depth shared with the q415 oracle. */
  val RemovalSteps = 16
  /** Absorption-probability fixed-point scale (10¹², the q147 lattice). */
  val RemovalScale: BigInt = BigInt("1000000000000")

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION (round 16) — the data-driven
    * multi-touch model next to q109's rule-based touches: first/last/
    * linear credit is an arbitrary CHOICE, the removal effect asks the
    * counterfactual — "how much conversion probability disappears if
    * channel c stops existing" (Anderl et al.'s Markov attribution,
    * the industry's standard data-driven model). Journeys are absorbed
    * chains: START → events → CONV at the FIRST conversion event, or
    * DROP after the last event of a non-converting unit. Base
    * P(conv | START) and each per-channel variant (walks entering the
    * removed channel die — its absorption value is pinned 0) come from
    * the SAME transition counts by [[RemovalSteps]] synchronized
    * absorption sweeps on the exact 10¹² integer lattice (the
    * q272/q281/q285 fixed-unroll contract: a deterministic K-step
    * truncation both engines replay bit-for-bit, not a fixpoint
    * claim): aₖ(s) = ⌊Σ_t n(s,t)·aₖ₋₁(t) / out(s)⌋ with a(CONV)=10¹²,
    * a(DROP)=0. Output: the BASE row + per channel its absorption
    * probability without the channel (micro), removal effect
    * (base−without)/base in bp, and the share of total removal mass —
    * the attribution weights themselves.
    *
    * Scale (100 TB): the distributed work is one window pass (rank +
    * first-conversion truncation) and a (from,to)-grain count; the
    * chain solve is a |channels|²-bounded driver fold (the documented
    * bounded-grain convention — the MODEL is 6×7 regardless of corpus
    * size). */
  def removalEffect(events: DataFrame, entity: String, kind: String,
                    tsUs: Column, seq: String, conv: Column,
                    steps: Int = RemovalSteps): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("u")).orderBy(col("tu"), col("sq"))
    val base = events.select(col(entity).as("u"),
      col(kind).as("k"), tsUs.as("tu"), col(seq).as("sq"),
      conv.cast("int").as("cv"))
    val ranked = base
      .withColumn("rn", row_number().over(w))
      .withColumn("fp", min(when(col("cv") === 1, col("rn")))
        .over(Window.partitionBy(col("u"))))
      .withColumn("mx", max(col("rn")).over(Window.partitionBy(col("u"))))
      .filter(col("rn") <= coalesce(col("fp"), col("mx")))
      .withColumn("st", when(col("cv") === 1, lit("CONV")).otherwise(col("k")))
    val steps1 = ranked
      .select(coalesce(lag(col("st"), 1).over(w), lit("START")).as("f"),
        col("st").as("t"))
    val drops = ranked.filter(col("fp").isNull && col("rn") === col("mx"))
      .select(col("st").as("f"), lit("DROP").as("t"))
    val tr = steps1.unionByName(drops)
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        BigInt(r.getLong(2)))).toMap // |states|²-bounded driver model
    val states = tr.keys.map(_._1).toSeq.distinct.sorted // transient states
    val out = states.map(s =>
      s -> tr.collect { case ((f, _), n) if f == s => n }.sum).toMap
    def absorb(removed: Option[String]): BigInt = {
      var a = states.map(_ -> BigInt(0)).toMap
      for (_ <- 1 to steps) {
        a = states.map { s =>
          val num = tr.collect { case ((f, t), n) if f == s =>
            n * (t match {
              case "CONV" => RemovalScale
              case "DROP" => BigInt(0)
              case x if removed.contains(x) => BigInt(0)
              case x => a.getOrElse(x, BigInt(0))
            })
          }.sum
          s -> (if (out(s) == 0) BigInt(0) else num / out(s))
        }.toMap
        removed.foreach(c => if (a.contains(c)) a = a.updated(c, BigInt(0)))
      }
      a.getOrElse("START", BigInt(0))
    }
    val baseP = absorb(None)
    val channels = states.filter(_ != "START")
    val res = channels.map(c => (c, absorb(Some(c))))
    val totalRe = res.map { case (_, p) => baseP - p }.sum
    val rows = ("BASE", (baseP / BigInt(1000000)).toLong,
      Option.empty[Long], Option.empty[Long]) +: res.map { case (c, p) =>
      val re = baseP - p
      (c, (p / BigInt(1000000)).toLong,
        if (baseP == 0) None else Some((BigInt(10000) * re / baseP).toLong),
        if (totalRe == 0) None else Some((BigInt(10000) * re / totalRe).toLong))
    }
    rows.toDF("channel", "p_conv_micro", "removal_effect_bp", "share_bp")
  }

  /** q415: removal-effect attribution of the event stream — which
    * event types carry the paths to a first purchase. */
  def q415(s: SparkSession, d: String): DataFrame =
    removalEffect(Tables.events(s, d), "user_id", "event_type",
      unix_micros(col("ts")), "event_id",
      col("event_type") === "purchase")

  /** ENTROPY RATE OF THE EVENT STREAM — how predictable is the next
    * event, as one number: H(next | current) over q69's transition
    * pairs, against the zeroth-order H(next) baseline. Their gap is
    * the mutual information between consecutive events — the exact
    * bits/nats the Markov structure buys a predictor (sequence
    * models, prefetchers, session simulators); gain ≈ 0 says the
    * stream is order-free and q69's matrix is decoration, gain near
    * H(next) says the stream is nearly deterministic and q285's
    * attractor analysis is the interesting one.
    *
    * Micro-nat integer terms throughout (the q197/q220/q294 floor-
    * before-sum discipline): h_cond sums −(n_ij/N)·ln(n_ij/n_i·) per
    * transition cell, h_next sums −(n_·j/N)·ln(n_·j/N) per type;
    * gain_unat = h_next − h_cond exactly, share one truncating idiv.
    * Scale: q69's one window pass is the only corpus shuffle; cells
    * are |types|²-bounded. */
  def entropyRate(events: DataFrame, entity: String, kind: String,
                  tsUs: Column, seq: String): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(tsUs.asc, col(seq).asc)
    val cells = events
      .withColumn("to_type", lead(col(kind), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col(kind).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds both marginals + both entropy folds
    val fromTot = cells.groupBy(col("from_type")).agg(sum(col("n")).as("nf"))
    val toTot = cells.groupBy(col("to_type")).agg(sum(col("n")).as("nc"))
    val tot = cells.agg(sum(col("n")).as("nt"))
    val hCond = cells.join(broadcast(fromTot), "from_type")
      .crossJoin(broadcast(tot))
      .select(floor((-(col("n").cast("double") / col("nt").cast("double"))) *
        log(col("n").cast("double") / col("nf").cast("double")) *
        lit(1000000d) + lit(0.5d)).cast("long").as("term"))
      .agg(sum(col("term")).as("h_cond_unat"))
    val hNext = toTot.crossJoin(broadcast(tot))
      .select(floor((-(col("nc").cast("double") / col("nt").cast("double"))) *
        log(col("nc").cast("double") / col("nt").cast("double")) *
        lit(1000000d) + lit(0.5d)).cast("long").as("term"))
      .agg(sum(col("term")).as("h_next_unat"))
    tot.crossJoin(hNext).crossJoin(hCond)
      .select(col("nt").as("n_transitions"), col("h_next_unat"),
        col("h_cond_unat"),
        (col("h_next_unat") - col("h_cond_unat")).as("gain_unat"),
        when(col("h_next_unat") === 0L, lit(null).cast("long"))
          .otherwise(F.idiv(
            lit(10000L) * (col("h_next_unat") - col("h_cond_unat")),
            col("h_next_unat"))).as("gain_share_bp"))
  }

  /** q298: predictability of the next event type from the current
    * one, over the per-user event stream. */
  def q298(s: SparkSession, d: String): DataFrame =
    entropyRate(Tables.events(s, d), "user_id", "event_type",
      unix_micros(col("ts")), "event_id")

  /** PER-USER SURPRISAL under the global transition model — the
    * behavioral-anomaly score q298's corpus-level entropy rate
    * implies per entity: score each user's transitions by
    * −ln P(next|current) from the GLOBAL q69 matrix and rank by mean
    * surprisal. A user whose mean sits far above the corpus entropy
    * rate moves through the product in ways the population doesn't —
    * the statistical bot/fraud/scraper shortlist (and symmetrically,
    * far BELOW = replayed/scripted sessions that are too predictable).
    *
    * Exactness: the surprisal of each (from, to) CELL is one
    * micro-nat integer floor(−ln(n_ft/n_f·)·10⁶+½) (the q90/q160
    * per-term discipline); a user's total is the exact integer sum of
    * their transition counts × cell terms, the mean one truncating
    * idiv. Top-k by (mean desc, user asc) — total order, no max_by
    * hazard.
    *
    * Scale: q69's one window pass; per-(user, from, to) counts join
    * the broadcast |types|²-cell term table; TakeOrdered(k) ends it. */
  def userSurprisal(events: DataFrame, entity: String, kind: String,
                    tsUs: Column, seq: String, k: Int = 20): DataFrame = {
    require(k >= 1)
    val w = Window.partitionBy(col(entity)).orderBy(tsUs.asc, col(seq).asc)
    val tr = events
      .withColumn("to_type", lead(col(kind), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col(entity).as("ent"), col(kind).as("from_type"),
        col("to_type"))
      .agg(count(lit(1)).as("u_n"))
      .localCheckpoint() // feeds the global cells AND the user fold
    val cells = tr.groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("u_n")).as("n"))
    val fromTot = cells.groupBy(col("from_type")).agg(sum(col("n")).as("nf"))
    val terms = cells.join(fromTot, "from_type")
      .select(col("from_type"), col("to_type"),
        floor(-log(col("n").cast("double") / col("nf").cast("double")) *
          lit(1000000d) + lit(0.5d)).cast("long").as("term"))
    val perUser = tr.join(broadcast(terms), Seq("from_type", "to_type"))
      .groupBy(col("ent"))
      .agg(sum(col("u_n")).as("n_transitions"),
        sum(col("u_n") * col("term")).as("surprisal_unat"))
      .select(col("ent"), col("n_transitions"), col("surprisal_unat"),
        F.idiv(col("surprisal_unat"), col("n_transitions"))
          .as("mean_surprisal_unat"))
    perUser
      .orderBy(col("mean_surprisal_unat").desc, col("ent").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("mean_surprisal_unat").desc, col("ent").asc))
        .cast("long"))
      .select(col("rank"), col("ent").as(entity), col("n_transitions"),
        col("surprisal_unat"), col("mean_surprisal_unat"))
  }

  /** q301: the 20 most statistically surprising users. */
  def q301(s: SparkSession, d: String): DataFrame =
    userSurprisal(Tables.events(s, d), "user_id", "event_type",
      unix_micros(col("ts")), "event_id")

  /** CUMULATIVE distinct actives by day (the growth curve): each
    * entity's first-seen day is one aggregation over the corpus; the
    * running total then runs over the BOUNDED calendar-day table (one
    * row per day — a driver-scale window, never a corpus sort). */
  def cumulativeActives(events: DataFrame, entity: String,
                        day: Column): DataFrame = {
    val first = events.groupBy(col(entity)).agg(min(day).as("day"))
    val daily = first.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    daily
      .withColumn("cum_users",
        sum(col("n_new")).over(Window.orderBy(col("day").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_new"), col("cum_users"))
  }

  /** WEEKLY ENGAGEMENT BANDS — the per-user activity DISTRIBUTION
    * over time, not its mean: per ISO week, the p10/p50/p90 of each
    * user's weekly event count plus the median's week-over-week
    * delta. The mean hides the classic failure mode (a few power
    * users ramping while the long tail churns reads as "flat"); the
    * bands show which part of the engagement distribution is moving.
    * percentile_disc cuts are data members — exact cross-engine (the
    * q127/q295 discipline).
    *
    * Scale: one (week, user) aggregation over the corpus (THE
    * shuffle), percentile partials per week, then a lag over the
    * calendar-bounded week table. */
  def engagementBands(events: DataFrame, entity: String,
                      day: Column): DataFrame = {
    val weekly = events
      .select(date_trunc("week", day).cast("date").as("week"),
        col(entity).as("ent"))
      .groupBy(col("week"), col("ent")).agg(count(lit(1)).as("n"))
    val bands = weekly.groupBy(col("week"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
        expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY n)")
          .cast("long").as("p10"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
          .cast("long").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n)")
          .cast("long").as("p90"))
    // WoW delta only across CONSECUTIVE calendar weeks (the q315
    // guard): after a zero-activity gap the comparison would silently
    // span weeks and mislabel a multi-week move as week-over-week
    val w = Window.orderBy(col("week").asc)
    bands
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("p50_wow_delta",
        when(col("prev_week").isNotNull &&
            datediff(col("week"), col("prev_week")) === 7,
          col("p50") - lag(col("p50"), 1).over(w))
          .otherwise(lit(null).cast("long")))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("n_users"), col("n_events"), col("p10"), col("p50"), col("p90"),
        col("p50_wow_delta"))
  }

  /** q303: weekly per-user engagement bands. */
  def q303(s: SparkSession, d: String): DataFrame =
    engagementBands(Tables.events(s, d), "user_id", to_date(col("ts")))

  /** TIME-DECAYED ENGAGEMENT SCORE — "who is active NOW": raw event
    * counts rank a user who churned six months ago above this week's
    * newcomer; the decayed score halves an event's weight per week of
    * age (weight = 2²⁰ >> age_weeks — EXACT integer step decay, the
    * engine-agnostic stand-in for e^{−λt}: same monotone half-life
    * semantics, zero floating point, zero libm-pow cross-engine
    * risk), so the ranking answers the retention question the raw
    * count hides. Events older than 20 weeks weigh exactly 0 — the
    * score is also a sliding horizon. Reports both the decayed score
    * and the raw count so the divergence IS the churn signal.
    *
    * Scale: the as-of date is one broadcast scalar (max event day);
    * weights are map-side; one per-user aggregation + TakeOrdered. */
  def decayScore(events: DataFrame, entity: String, day: Column,
                 k: Int = 20): DataFrame = {
    require(k >= 1)
    val asOf = events.agg(max(day).as("as_of"))
    val scored = events.select(col(entity).as("ent"), day.as("d"))
      .crossJoin(broadcast(asOf))
      .withColumn("wk",
        least(graft.functions.F.idiv(datediff(col("as_of"), col("d")),
          lit(7L)), lit(40L)).cast("int"))
      .select(col("ent"), expr("shiftright(1048576L, wk)").as("w"))
      .groupBy(col("ent"))
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("score_q"))
    scored.orderBy(col("score_q").desc, col("ent").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_q").desc, col("ent").asc)).cast("long"))
      .select(col("rank"), col("ent").as(entity), col("n_events"),
        col("score_q"))
  }

  /** q306: top-20 users by week-half-life decayed activity. */
  def q306(s: SparkSession, d: String): DataFrame =
    decayScore(Tables.events(s, d), "user_id", to_date(col("ts")))

  /** q148: cumulative distinct users by first-activity day. */
  def q148(s: SparkSession, d: String): DataFrame =
    cumulativeActives(Tables.events(s, d), "user_id", to_date(col("ts")))

  /** SEASONAL (day-of-week) anomaly flags: per (group, ISO weekday)
    * the full-history baseline (total, day count) attaches back to each
    * daily count by a tiny broadcast, and the spike flag is the exact
    * integer inequality n·days > factor·total — engine-independent
    * membership, no doubles anywhere (the q123 fixed-point-gate
    * discipline applied to a seasonal baseline). */
  def seasonalSpikes(events: DataFrame, group: String, day: Column,
                     factor: Int): DataFrame = {
    val daily = events
      .groupBy(col(group), day.as("day"))
      .agg(count(lit(1)).as("n_events"))
      // weekday() is 0=Monday; +1 matches ISO dow (1=Monday..7=Sunday)
      .withColumn("dow", (weekday(col("day")) + 1).cast("long"))
    val base = daily.groupBy(col(group), col("dow"))
      .agg(sum(col("n_events")).as("dow_total"),
           count(lit(1)).as("dow_days"))
    daily.join(broadcast(base), Seq(group, "dow"))
      .select(col(group), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dow"), col("n_events"), col("dow_total"), col("dow_days"),
        when(col("n_events") * col("dow_days") >
             lit(factor.toLong) * col("dow_total"), 1L)
          .otherwise(0L).as("spike"))
  }

  /** q149: daily event counts flagged against the 2× day-of-week
    * baseline per event type. */
  def q149(s: SparkSession, d: String): DataFrame =
    seasonalSpikes(Tables.events(s, d), "event_type", to_date(col("ts")), 2)

  /** SEASONAL-TREND DECOMPOSITION (additive, moving-average form) —
    * the classical decomposition y = trend + seasonal + remainder
    * that q149's spike flags and q225's Holt forecast both implicitly
    * assume: trend is a CALENDAR-centered ±halfWidth-day moving
    * average (a RANGE window on the epoch-day index, so gaps in the
    * day table shrink the window instead of silently pulling in
    * far-away days), seasonal is the per-ISO-weekday mean of the
    * detrended series (constrained to the data actually present, the
    * classical-decomposition convention), remainder is what's left —
    * the series an anomaly detector should actually monitor, since
    * weekly rhythm and growth no longer masquerade as signal.
    *
    * All integer milli fixed point: trend = (1000·Σwindow) idiv
    * n_window, detrended = 1000·y − trend, seasonal = Σdetr idiv
    * n_dow (idiv truncates toward zero in BOTH engines). Scale: daily
    * partial counts are the only corpus shuffle; every window/join
    * after runs on the calendar-bounded day table (the q225/q156
    * day-table discipline). */
  def stlDecompose(events: DataFrame, day: Column,
                   halfWidth: Int = 3): DataFrame = {
    require(halfWidth >= 1)
    val daily = events.groupBy(day.as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("day_idx",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      // weekday() is 0=Monday; +1 matches ISO dow (1=Monday..7=Sunday)
      .withColumn("dow", (weekday(col("day")) + 1).cast("long"))
    val w = Window.orderBy(col("day_idx"))
      .rangeBetween(-halfWidth.toLong, halfWidth.toLong)
    val tr = daily
      .withColumn("trend_milli",
        F.idiv(lit(1000L) * sum(col("n_events")).over(w),
          count(lit(1)).over(w)))
      .withColumn("detr_milli",
        lit(1000L) * col("n_events") - col("trend_milli"))
      .localCheckpoint() // feeds the seasonal means AND the final join
    val seas = tr.groupBy(col("dow"))
      .agg(F.idiv(sum(col("detr_milli")), count(lit(1)))
        .as("seasonal_milli"))
    tr.join(broadcast(seas), "dow")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dow"),
        col("n_events"), col("trend_milli"), col("seasonal_milli"),
        (col("detr_milli") - col("seasonal_milli")).as("remainder_milli"))
  }

  /** q289: classical decomposition of the daily event-count series
    * with a centered 7-day (±3) trend window. */
  def q289(s: SparkSession, d: String): DataFrame =
    stlDecompose(Tables.events(s, d), to_date(col("ts")), 3)

  /** WALD–WOLFOWITZ RUNS TEST — is the series RANDOM around its
    * median, the question q254's ACF answers per-lag and this answers
    * with one accept/reject number: too FEW runs = positive
    * persistence (trends, regimes — yesterday predicts today), too
    * MANY runs = negative alternation (overshoot/correction cycles);
    * either way an i.i.d.-assuming monitor (q123's rate gate, q208's
    * bootstrap) is being fed serially-dependent data and its error
    * bars are fiction. Days equal to the median are EXCLUDED (the
    * standard convention — they carry no above/below information).
    *
    * Exact integers: the median is a percentile_disc data member,
    * runs = 1 + Σ sign-transitions via one lag over the bounded day
    * table, and the z-score's components n·(R−1) − 2n₁n₂,
    * 2n₁n₂(2n₁n₂−n), n²(n−1) are exact decimals combined in ONE
    * pinned double order (q287 z_milli convention). NULL z when
    * either side is empty or n < 2. Scale: daily partial counts are
    * the only corpus shuffle (q289's plan); everything after runs on
    * the calendar-bounded day table. */
  def runsTest(events: DataFrame, day: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val daily = events.groupBy(day.as("day"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the median AND the signed series
    val med = daily.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)").as("m"))
    val signed = daily.crossJoin(broadcast(med))
      .where(col("cnt") =!= col("m"))
      .select(col("day"), (col("cnt") > col("m")).cast("long").as("b"))
    val w = Window.orderBy(col("day").asc)
    val runs = signed
      .withColumn("prev", lag(col("b"), 1).over(w))
      .agg(count(lit(1)).as("n"),
        sum(col("b")).as("n_above"),
        (sum(when(col("prev").isNull || col("prev") =!= col("b"), 1L)
          .otherwise(0L))).as("n_runs"))
      .withColumn("n_below", col("n") - col("n_above"))
    val n  = dec(col("n"))
    val p2 = dec(lit(2L)) * dec(col("n_above")) * dec(col("n_below"))
    val num = n * (dec(col("n_runs")) - dec(lit(1L))) - p2
    val varA = p2 * (p2 - n)
    val varB = n * n * (n - dec(lit(1L)))
    runs.select(col("n"), col("n_above"), col("n_below"), col("n_runs"),
      // varA = 0 (exactly one day on each side) would make z a 0/0
      // NaN that Spark floors to 0 while DuckDB yields NULL — guard it
      when(col("n_above") === 0L || col("n_below") === 0L ||
          col("n") < 2L || varA === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(floor((num.cast("double") / col("n").cast("double")) /
          sqrt(varA.cast("double") / varB.cast("double")) *
          lit(1000d) + lit(0.5d)).cast("long")).as("z_milli"))
      .withColumn("is_nonrandom",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) > lit(1960L)).cast("int")))
  }

  /** q296: randomness of the daily event-count series. */
  def q296(s: SparkSession, d: String): DataFrame =
    runsTest(Tables.events(s, d), to_date(col("ts")))

  /** TOP-K COMMON EVENT PATHS: the most frequent length-3 event-type
    * sequences (t1 → t2 → t3) over consecutive events per entity — the
    * "what do users do next" path-mining operator.
    *
    * Scale (100 TB): one shuffle on the entity key; both lookaheads are
    * window `lead`s inside that single partitioning. The aggregation
    * then keys on (t1, t2, t3) triples, whose cardinality is bounded by
    * |event types|³ regardless of corpus size, so the count-and-rank
    * tail runs over a tiny table. Top-k membership is deterministic:
    * ties break on the path tuple itself. */
  def eventPaths(events: DataFrame, key: String, tsUs: Column,
                 order: String, typeCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = events.select(col(key).as("pk"), tsUs.as("ts_us"),
      col(order).as("ord"), col(typeCol).as("t1"))
    val w = Window.partitionBy(col("pk")).orderBy(col("ts_us").asc, col("ord").asc)
    val counts = base
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n_paths"))
    // the rank window is a single partition over the BOUNDED triple
    // table (|types|³ rows), not the corpus — same driver-scale
    // justification as q148's calendar-day running total
    counts
      .withColumn("rn", row_number().over(Window.orderBy(
        col("n_paths").desc, col("t1").asc, col("t2").asc, col("t3").asc))
        .cast("long"))
      .where(col("rn") <= k)
  }

  /** q150: top-20 3-step event-type paths over consecutive events per
    * user. */
  def q150(s: SparkSession, d: String): DataFrame =
    eventPaths(Tables.events(s, d), "user_id", micros(col("ts")),
      "event_id", "event_type", 20)

  /** CUSUM mean-shift changepoint detection over a daily count series.
    * The textbook one-sided recursion s_i = max(0, s_{i-1} + d_i) has
    * the closed form s_i = P_i − min(0, min_{j≤i} P_j) where P is the
    * prefix sum of deviations — so the whole detector is two window
    * passes (running sum + running min), no per-row recursion, no
    * driver loop. Everything stays in exact integer arithmetic:
    * deviations are pre-scaled by the day count (d_i = n_i·days −
    * total, zero-sum by construction), and the alarm is the integer
    * inequality s_i > total — i.e. the cumulated excess, in
    * event·days, exceeds one average day's volume.
    *
    * Scale (100 TB): the corpus reduces to one row per calendar day in
    * a single aggregation; both windows then run over that BOUNDED
    * table (q148's justification). The corpus itself never sorts. */
  def cusumChangepoints(events: DataFrame, day: Column): DataFrame = {
    val daily = events.groupBy(day.as("day")).agg(count(lit(1)).as("n_events"))
    val tot = daily.agg(sum(col("n_events")).as("total"),
                        count(lit(1)).as("days"))
    val run = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("dev", col("n_events") * col("days") - col("total"))
      .withColumn("p", sum(col("dev")).over(run))
      .withColumn("runmin", least(min(col("p")).over(run), lit(0L)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"),
        (col("p") - col("runmin")).as("cusum"),
        when(col("p") - col("runmin") > col("total"), 1L).otherwise(0L)
          .as("alarm"))
  }

  /** q151: CUSUM changepoint scan over daily total event counts. */
  def q151(s: SparkSession, d: String): DataFrame =
    cusumChangepoints(Tables.events(s, d), to_date(col("ts")))

  /** EXPONENTIAL smoothing (EWMA, α = 1/2) of the daily count series,
    * kept EXACT across engines by running the recursion in integer
    * arithmetic — y_i = (y_{i-1} + x_i) div 2, floor at every step. A
    * float EWMA would accumulate engine-specific rounding; the integer
    * halving recursion is bit-identical everywhere.
    *
    * Scale (100 TB): the corpus reduces to one row per calendar day in
    * a single DISTRIBUTED aggregation; the inherently sequential fold
    * then runs on the DRIVER over that bounded table (one row per day —
    * the BPE-merge-table discipline: collect is bounded by the calendar,
    * not the data). Expressing the same fold as a recursive CTE (q140's
    * machinery) is exact too but costs one Spark job per day in pure
    * scheduler overhead — measured 4–7 s for 30 rows of arithmetic;
    * the driver fold is sub-millisecond and identical. */
  def ewmaDaily(events: DataFrame, day: Column): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events.groupBy(day.as("day")).agg(count(lit(1)).as("n_events"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_events"))
      .orderBy(col("day").asc).collect()
    var y = 0L
    val out = daily.toSeq.zipWithIndex.map { case (r, i) =>
      val n = r.getLong(1)
      y = if (i == 0) n else (y + n) / 2
      (r.getString(0), n, y)
    }
    out.toDF("day", "n_events", "ewma")
  }

  /** HOLT double-exponential smoothing (level + trend) of the daily
    * count series — the one-step-ahead forecaster a volume monitor
    * projects tomorrow with: q156's EWMA tracks level only and lags
    * any sustained ramp; Holt's trend term closes exactly that gap.
    * α = β = 1/4, carried EXACT in ×256 fixed point with TRUNCATING
    * integer division at every step (both engines truncate toward
    * zero — Scala Long `/` and DuckDB `//` — so the recursion is
    * bit-identical; trend goes negative on declines, which is why the
    * division convention matters and floor-vs-truncate would diverge):
    *   l_1 = 256·x_1,  b_1 = 0
    *   l_i = (256·x_i + 3·(l_{i-1} + b_{i-1})) / 4
    *   b_i = ((l_i − l_{i-1}) + 3·b_{i-1}) / 4
    *   forecast for day i+1 = (l_i + b_i) / 256
    *
    * Scale (100 TB): identical shape to q156 — the corpus reduces to
    * one row per calendar day in a single distributed aggregation and
    * the inherently sequential fold runs on the DRIVER over that
    * bounded table (calendar-bounded collect, the BPE-merge-table
    * discipline). */
  def holtDaily(events: DataFrame, day: Column): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events.groupBy(day.as("day")).agg(count(lit(1)).as("n_events"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_events"))
      .orderBy(col("day").asc).collect()
    var l = 0L
    var b = 0L
    val out = daily.toSeq.zipWithIndex.map { case (r, i) =>
      val x = r.getLong(1)
      if (i == 0) { l = 256L * x; b = 0L }
      else {
        val lPrev = l
        l = (256L * x + 3L * (l + b)) / 4L
        b = ((l - lPrev) + 3L * b) / 4L
      }
      (r.getString(0), x, l, b, (l + b) / 256L)
    }
    out.toDF("day", "n_events", "level_q", "trend_q", "forecast_next")
  }

  /** q225: Holt level+trend smoothing over daily total event counts. */
  def q225(s: SparkSession, d: String): DataFrame =
    holtDaily(Tables.events(s, d), to_date(col("ts")))

  /** HOLT–WINTERS additive triple smoothing (level + trend + weekly
    * seasonality) — the forecaster q225 becomes once the q289
    * decomposition shows a weekly rhythm: Holt alone treats every
    * Saturday dip as a trend break and oscillates; the seasonal
    * registers absorb the rhythm so the trend term tracks actual
    * growth. α = β = γ = 1/4 in the q225 ×256 fixed point with
    * TRUNCATING division at every step (Scala Long `/` == DuckDB `//`
    * — registers go negative on below-baseline weekdays, where
    * floor-vs-truncate would diverge):
    *   l_1 = 256·x_1, b_1 = 0, s_·(init) = 0
    *   l_i = (256·x_i − s[dow_i] + 3·(l_{i−1} + b_{i−1})) / 4
    *   b_i = ((l_i − l_{i−1}) + 3·b_{i−1}) / 4
    *   s[dow_i] = ((256·x_i − l_i) + 3·s[dow_i]) / 4   (after l_i)
    *   forecast for day i+1 = (l_i + b_i + s[dow_{i+1}]) / 256
    * Seasonal indices START at 0 and learn at rate γ (the additive
    * cold-start convention — no separate init pass to disagree on);
    * the step-1 seasonal update is identically 0 by construction, so
    * one uniform rule covers every row.
    *
    * Scale: the q225 shape — one distributed daily aggregation, the
    * inherently sequential 9-register fold on the DRIVER over the
    * calendar-bounded table. */
  def holtWintersDaily(events: DataFrame, day: Column): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events.groupBy(day.as("day")).agg(count(lit(1)).as("n_events"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        (weekday(col("day")) + 1).cast("long").as("dow"), col("n_events"))
      .orderBy(col("day").asc).collect()
    var l = 0L
    var b = 0L
    val s = Array.fill(8)(0L) // 1-indexed by ISO dow
    val out = daily.toSeq.zipWithIndex.map { case (r, i) =>
      val dw = r.getLong(1).toInt
      val x = r.getLong(2)
      if (i == 0) { l = 256L * x; b = 0L }
      else {
        val lPrev = l
        l = (256L * x - s(dw) + 3L * (l + b)) / 4L
        b = ((l - lPrev) + 3L * b) / 4L
      }
      s(dw) = ((256L * x - l) + 3L * s(dw)) / 4L
      val nextDw = dw % 7 + 1
      (r.getString(0), dw.toLong, x, l, b, s(dw), (l + b + s(nextDw)) / 256L)
    }
    out.toDF("day", "dow", "n_events", "level_q", "trend_q", "season_q",
      "forecast_next")
  }

  /** q300: Holt–Winters over daily total event counts. */
  def q300(s: SparkSession, d: String): DataFrame =
    holtWintersDaily(Tables.events(s, d), to_date(col("ts")))

  /** FORECAST BACKTEST — which forecaster earns the pager: the naive
    * carry-forward, q225's Holt, and q300's Holt–Winters, each scored
    * on its own one-step-ahead forecasts against the NEXT observed
    * day's actual (evaluated only across calendar-consecutive day
    * pairs — a forecast made for tomorrow is not graded against a
    * day after a gap). Sum of absolute errors and MAE in exact milli
    * integers; the model rows share one output so the comparison is
    * the deliverable. The standard result this table makes visible:
    * on a weekly-seasonal series HW beats Holt beats naive, and on a
    * white-noise series naive wins — deploying the fancy model is a
    * DECISION, not a default.
    *
    * Scale: three day-table-bounded evaluations (the folds for Holt/HW
    * are q225/q300's driver folds; the pairing is a lead over the
    * bounded day table). */
  def forecastEval(events: DataFrame, day: Column): DataFrame = {
    val spark = events.sparkSession
    def scoreModel(df: DataFrame, model: String): DataFrame = {
      val w = Window.orderBy(col("day").asc)
      df.select(col("day"), col("n_events"), col("forecast_next"))
        .withColumn("next_day", lead(col("day"), 1).over(w))
        .withColumn("next_actual", lead(col("n_events"), 1).over(w))
        .where(col("next_day").isNotNull &&
          datediff(col("next_day").cast("date"), col("day").cast("date"))
            === 1)
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("forecast_next") - col("next_actual")))
            .as("sum_abs_err"))
        .select(lit(model).as("model"), col("n_days"), col("sum_abs_err"),
          graft.functions.F.idiv(lit(1000L) * col("sum_abs_err"),
            col("n_days")).as("mae_milli"))
    }
    val daily = events.groupBy(day.as("day0"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("day0"), "yyyy-MM-dd").as("day"),
        col("n_events"))
    val naive = daily.select(col("day"), col("n_events"),
      col("n_events").as("forecast_next"))
    scoreModel(naive, "naive")
      .unionAll(scoreModel(holtDaily(events, day), "holt"))
      .unionAll(scoreModel(holtWintersDaily(events, day), "holt_winters"))
  }

  /** q307: the three forecasters backtested on daily event counts. */
  def q307(s: SparkSession, d: String): DataFrame =
    forecastEval(Tables.events(s, d), to_date(col("ts")))

  /** q156: integer EWMA over daily total event counts. */
  def q156(s: SparkSession, d: String): DataFrame =
    ewmaDaily(Tables.events(s, d), to_date(col("ts")))

  /** MERGEABLE DISTINCT-COUNT SKETCH STORE: per-day HyperLogLog
    * sketches of the active-key set, plus the whole-range estimate
    * computed by MERGING the stored sketches — never by rescanning the
    * raws. This is the canonical 100 TB uniques pattern: materialize
    * one fixed-size sketch per (day, dimension) partition; any date
    * range's distinct count is then a union over that bounded store
    * (HLL union is lossless at equal precision — spec-pinned against
    * sketching the raw range directly). Exact per-day counts ride the
    * same pass for the error-visibility column a monitor wants.
    *
    * Output: one row per day (exact, estimate) + an 'ALL' row whose
    * estimate came from the sketch union. Rows-only by design: DuckDB
    * has no Apache DataSketches HLL, so cross-engine hashing differs;
    * the spec pins estimate-vs-exact error and merge losslessness. */
  def hllUniqueStore(events: DataFrame, day: Column, key: String): DataFrame = {
    val daily = events.groupBy(day.as("day"))
      .agg(hll_sketch_agg(col(key)).as("sk"),
           count_distinct(col(key)).as("n_exact"))
    val perDay = daily.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("n_exact"), hll_sketch_estimate(col("sk")).as("n_est"))
    val merged = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))
    val overall = events.agg(count_distinct(col(key)).as("n_exact"))
    perDay.unionByName(
      overall.crossJoin(merged)
        .select(lit("ALL").as("day"), col("n_exact"), col("n_est")))
  }

  /** q159: daily distinct-user HLL sketch store with merged total —
    * the md5-REGISTER form since round 11 (cross-engine-verifiable,
    * full hash oracle); [[hllUniqueStore]] keeps the DataSketches
    * production variant under spec. */
  def q159(s: SparkSession, d: String): DataFrame =
    hllRegUniqueStore(Tables.events(s, d), to_date(col("ts")), "user_id")

  /** The DataSketches variant under its original name, for the golden
    * pin + union-losslessness specs. */
  def q159ds(s: SparkSession, d: String): DataFrame =
    hllUniqueStore(Tables.events(s, d), to_date(col("ts")), "user_id")

  /** md5-REGISTER HLL (round 11; closes q159's rows-only status):
    * classic HyperLogLog with m = 2^p registers built from explicit
    * integer register updates ANY engine with an MD5 can replay —
    * register = low p hash bits (signed & and unsigned % agree on a
    * power of two), rho = leading-zero-count + 1 of the remaining
    * 64−p bits (bit-smear + bit_count, all codegen'd integer ops; an
    * all-zero tail yields the max rho 65−p), register value = MAX rho.
    * The estimate is rebuilt from EXACT integers: the harmonic sum
    * scaled by 2^(64−p), Σ 2^(64−p−M_j) (+ 2^(64−p) per empty
    * register), is an exact decimal(38,0) (DuckDB: HUGEINT); the raw
    * estimate α_m·m²·2^(64−p)/S is ONE exactly-rounded IEEE division
    * of identical doubles, and the standard linear-counting branch
    * (raw ≤ 2.5m with V empty registers → m·ln(m/V)) compares
    * engine-identical doubles, so even the branch choice agrees.
    * [[hllUniqueStore]] (DataSketches) stays as the denser production
    * sketch; its register layout is Spark-only, while THIS store a
    * dashboard or audit job in any engine can recompute and CHECK —
    * the property that matters when the uniques store outlives the
    * engine that wrote it.
    *
    * Scale (100 TB): the plan is the DataSketches plan — hash and
    * register math are map-side scalars, partial MAX per (day,
    * register) combines before the exchange (≤ days·m rows shuffle),
    * and the ALL row merges REGISTERS (elementwise max of the stored
    * sketches — HLL union, lossless by construction), never
    * rescanning raw events. */
  def hllRegUniqueStore(events: DataFrame, day: Column, key: String,
                        p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, s"register precision out of range: $p")
    val m = 1 << p
    val rhoMax = 65 - p
    // registers: (day, reg, max rho); the smear chain runs over named
    // columns so the expression tree stays linear
    val base = events
      .select(day.as("day"),
        graft.functions.F.md5Hash64(col(key).cast("string")).as("h"))
      .withColumn("w", shiftrightunsigned(col("h"), p))
    val smeared = Seq(1, 2, 4, 8, 16, 32).foldLeft(base) { (df, s) =>
      df.withColumn("w", col("w").bitwiseOR(shiftrightunsigned(col("w"), s)))
    }
    val regs = smeared
      .select(col("day"), col("h").bitwiseAND(lit((m - 1).toLong)).as("reg"),
        (lit(rhoMax) - bit_count(col("w"))).as("rho"))
      .groupBy(col("day"), col("reg")).agg(max(col("rho")).as("mx"))
      .localCheckpoint() // tiny (days·m); feeds per-day + ALL merge
    val alpha = s"(0.7213 / (1.0 + 1.079 / $m.0))"
    val pow2top = 1L << rhoMax // harmonic scale 2^(65−p): exponents stay ≥ 0
    def estimate(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = grouped
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $rhoMax - mx)")
          .cast("decimal(38,0)")).as("sp"),
        count(lit(1)).as("cnt"))
      .withColumn("s2", col("sp") +
        (lit(m.toLong) - col("cnt")).cast("decimal(38,0)") *
          lit(pow2top).cast("decimal(38,0)"))
      .withColumn("v", lit(m.toLong) - col("cnt"))
      .withColumn("raw",
        expr(s"$alpha * $m.0 * $m.0 * $pow2top.0") / col("s2").cast("double"))
      .withColumn("est", when(col("raw") <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v").cast("double")))
        .otherwise(col("raw")))
      .withColumn("n_est", floor(col("est") + lit(0.5)).cast("long"))
    val perDayEst = estimate(regs.groupBy(col("day")))
      .select(col("day"), col("n_est"))
    val exact = events.groupBy(day.as("day"))
      .agg(count_distinct(col(key)).as("n_exact"))
    val perDay = exact.join(perDayEst, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_exact"), col("n_est"))
    val mergedEst = estimate(
        regs.groupBy(col("reg")).agg(max(col("mx")).as("mx"))
          .select(lit("ALL").as("day"), col("mx")).groupBy(col("day")))
      .select(col("n_est"))
    val overall = events.agg(count_distinct(col(key)).as("n_exact"))
    perDay.unionByName(
      overall.crossJoin(mergedEst)
        .select(lit("ALL").as("day"), col("n_exact"), col("n_est")))
  }

  /** KMV estimate from an ascending unsigned minima array (see
    * KmvMinAgg): exact count while the set fits the sketch, else
    * (k−1)·2⁶⁴ / v_k in exact decimal→integral arithmetic — the same
    * integer DuckDB computes with HUGEINT `//`, so the estimate (not
    * just the sketch) is cross-engine identical. */
  private def kmvEstimate(mins: Column, k: Int): Column = {
    val two64 = new java.math.BigDecimal("18446744073709551616")
    val vk = element_at(mins, k)
    val vkU = when(vk >= 0, vk.cast("decimal(38,0)"))
      .otherwise(vk.cast("decimal(38,0)") + lit(two64).cast("decimal(38,0)"))
    when(size(mins) < k, size(mins).cast("long"))
      .otherwise(graft.functions.F.idiv(
        lit(new java.math.BigDecimal(k - 1).multiply(two64)).cast("decimal(38,0)"), vkU))
  }

  /** CROSS-ENGINE-VERIFIABLE distinct-sketch store (KMV, k minimum
    * values): per-day sketches of the active-key set under the MD5
    * hash, plus the whole-range estimate computed by MERGING the
    * stored sketches. Same store shape and merge discipline as q159's
    * HLL (one bounded sketch per partition, range queries = sketch
    * union, never a raw rescan), with a different trade: ~k·8 bytes per
    * sketch instead of HLL's ~kB-at-precision-12, and every value —
    * sketch contents AND estimate — bit-reproducible from ANY engine
    * with an MD5 (DuckDB: the k smallest md5_number_upper values),
    * where DataSketches HLL is Spark-only. That matters when the
    * uniques store outlives the engine that wrote it: a dashboard or
    * audit job in another system can recompute and CHECK the store.
    *
    * Scale (100 TB): hash is one codegen'd scalar per row; the
    * aggregate partial-merges map-side so the exchange carries
    * O(days·k) longs; the ALL row merges the per-day sketches (valid:
    * the k smallest of a union are among the union of per-side k
    * smallest), not the raw corpus. */
  /** The one per-day sketch pipeline both the in-memory store (q174)
    * and the persisted store (q175) build on — hash, group by day, KMV
    * + exact-count aggregates. One definition, so the two stores cannot
    * drift. */
  private def dailySketches(events: DataFrame, day: Column, key: String,
                            k: Int): DataFrame =
    events.select(day.as("day"), col(key).as("k_"),
        graft.functions.F.md5Hash64(col(key).cast("string")).as("h"))
      .groupBy(col("day"))
      .agg(graft.functions.F.kmvMin(col("h"), k).as("mins"),
        count_distinct(col("k_")).as("n_exact"))

  def kmvUniqueStore(events: DataFrame, day: Column, key: String,
                     k: Int = 256): DataFrame = {
    val daily = dailySketches(events, day, key, k)
    val perDay = daily.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("n_exact"), kmvEstimate(col("mins"), k).as("n_est"))
    val merged = daily.select(explode(col("mins")).as("h"))
      .agg(graft.functions.F.kmvMin(col("h"), k).as("mins"))
      .select(kmvEstimate(col("mins"), k).as("n_est"))
    val overall = events.agg(count_distinct(col(key)).as("n_exact"))
    perDay.unionByName(
      overall.crossJoin(merged)
        .select(lit("ALL").as("day"), col("n_exact"), col("n_est")))
  }

  /** q174: daily distinct-user KMV sketch store with merged total —
    * the oracle-checkable twin of q159. */
  def q174(s: SparkSession, d: String): DataFrame =
    kmvUniqueStore(Tables.events(s, d), to_date(col("ts")), "user_id")

  /** PERSIST the per-day KMV sketches under `path`, partitioned by day
    * — the durable uniques store a monitoring pipeline appends one
    * partition to per day (dynamic partition overwrite = idempotent
    * re-runs, the signature-store discipline). Each partition holds one
    * row: the day's minima array and exact count. */
  /** Name of the completion marker `writeKmvStore` drops at the store
    * root. The dynamic-partition-overwrite committer does NOT write the
    * usual root `_SUCCESS` (partitions move in from staging
    * individually), so readers gating on `_SUCCESS` see every store as
    * incomplete — round 8's bench measured q175 at 5.7x baseline
    * because the gate silently rebuilt the store from raw events on
    * EVERY query. The writer drops this explicit marker only after the
    * write returns. */
  val kmvStoreMarker = "_GRAFT_STORE_COMPLETE"

  def writeKmvStore(events: DataFrame, day: Column, key: String,
                    path: String, k: Int = 256): Unit = {
    dailySketches(events, date_format(day, "yyyy-MM-dd"), key, k)
      // dynamic partition overwrite: a batch replaces ONLY the day
      // partitions it carries (idempotent re-runs), instead of the
      // default static mode truncating the whole store — the property
      // the nightly-append contract in the scaladoc rests on.
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)
    val hp = new org.apache.hadoop.fs.Path(path, kmvStoreMarker)
    val fs = hp.getFileSystem(events.sparkSession.sparkContext.hadoopConfiguration)
    fs.create(hp, true).close()
  }

  /** RANGE query against a persisted KMV store: distinct-count estimate
    * for any day range by merging the STORED sketches — partition
    * pruning reads only the range's directories, no raw-event rescan.
    * Returns one row per day in range plus the RANGE row whose estimate
    * merged the per-day sketches. */
  def kmvRangeQuery(spark: SparkSession, path: String,
                    fromDay: String, toDay: String, k: Int = 256): DataFrame = {
    val store = spark.read.parquet(path)
      .filter(col("day") >= fromDay && col("day") <= toDay)
    val perDay = store.select(col("day").cast("string").as("day"), col("n_exact"),
      kmvEstimate(col("mins"), k).as("n_est"), lit(1).as("is_exact"))
    // Exact distinct over the range is not recoverable from the store
    // (sketches only); publish the summed per-day exacts as the upper
    // bound a monitor alarms against — flagged is_exact=0 so a consumer
    // reading n_exact cannot mistake the bound for a true distinct
    // count (users active on multiple days count once per day). The
    // sketch merge and the upper-bound sum run in ONE aggregation over
    // the posexploded minima (the pos=0 guard counts each day's exact
    // once, not once per sketch slot) — one store scan and one
    // single-partition exchange instead of two aggregations joined by
    // a crossJoin.
    val range = store
      .select(col("n_exact"), posexplode(col("mins")).as(Seq("pos", "h")))
      .agg(graft.functions.F.kmvMin(col("h"), k).as("mins"),
        sum(when(col("pos") === 0, col("n_exact"))).as("n_upper"))
      .select(lit("RANGE").as("day"),
        col("n_upper").as("n_exact"),
        kmvEstimate(col("mins"), k).as("n_est"),
        lit(0).as("is_exact"))
    perDay.unionByName(range)
  }

  /** ERASURE from the persisted KMV store (round 15; VERDICT r14 item
    * 1). A KMV sketch is one-way — a key cannot be subtracted from the
    * stored minima — so erasure means RE-SKETCHING the affected days
    * from the survivor feed: the caller supplies the source `events`
    * (the standard erasure-pipeline ordering — derived stores first,
    * the raw feed last, so the feed still holds the rows being
    * forgotten). Candidate days are where the erased keys appear in
    * the feed; a candidate is TRULY affected only when its recomputed
    * exact-distinct differs from the stored one (removing a present
    * key strictly shrinks the day's key set, so n_exact is a sound
    * change detector) — which is what makes the operation IDEMPOTENT:
    * a replayed erasure recomputes identical sketches, finds zero
    * drift, and publishes nothing. Affected days are re-sketched,
    * unaffected days are BYTE-COPIED (no decode, no re-aggregation)
    * into a copy-on-write CAS version (publishDir): racing range
    * queries read the old complete snapshot or the new one, and
    * vacuum reclaims the retired bytes. A day whose every key is
    * erased vanishes from the store. Returns the resolved dir AFTER
    * the delete.
    *
    * Scale (100 TB): re-aggregation is per-affected-day (delta-sized);
    * the unaffected-day copy is sequential bytes (at lakehouse scale
    * a manifest would share the files instead — the dir-store CoW
    * trades that for the one-directory read path). */
  def deleteKeysFromKmvStore(s: SparkSession, root: String,
                             events: DataFrame, day: Column, key: String,
                             ids: DataFrame, k: Int = 256): String = {
    val cur = graft.sources.VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"deleteKeysFromKmvStore: no published build under $root"))
    val del = ids.select(col(key)).distinct().localCheckpoint()
    val ev = events.withColumn("__day", date_format(day, "yyyy-MM-dd"))
    val candDays = ev.join(del, Seq(key), "left_semi")
      .select(col("__day").as("day")).distinct().localCheckpoint()
    val recomputed = dailySketches(
      ev.join(del, Seq(key), "left_anti")
        .join(candDays.select(col("day").as("__day")), Seq("__day"), "left_semi"),
      col("__day"), key, k).localCheckpoint()
    val stored = s.read.parquet(cur)
      .select(col("day").cast("string").as("day"),
        col("n_exact").as("old_n"))
    val affected = stored.join(candDays, Seq("day"), "left_semi")
      .join(recomputed.select(col("day"), col("n_exact").as("new_n")),
        Seq("day"), "left")
      .where(col("new_n").isNull || col("new_n") =!= col("old_n"))
      .select(col("day")).collect().map(_.getString(0)).toSet
    if (affected.isEmpty) return cur // replayed erasure: no version churn
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sources.VersionedStore.publishDir(s, root) { staging =>
      import s.implicits._
      recomputed
        .join(affected.toSeq.toDF("day"), Seq("day"), "left_semi")
        .select(col("day"), col("mins"), col("n_exact"))
        .write.mode("overwrite").partitionBy("day").parquet(staging)
      fs.listStatus(new org.apache.hadoop.fs.Path(cur))
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => p.getName.startsWith("day=") &&
          !affected.contains(p.getName.stripPrefix("day=")))
        .foreach { p =>
          org.apache.hadoop.fs.FileUtil.copy(fs, p,
            fs, new org.apache.hadoop.fs.Path(staging, p.getName),
            false, s.sparkContext.hadoopConfiguration)
        }
    }
    graft.sources.VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"deleteKeysFromKmvStore: $root unresolvable after publish"))
  }

  /** q175: build the persisted store, then answer a 7-day range query
    * from the STORED sketches alone (the cross-run read path). */
  def q175(s: SparkSession, d: String): DataFrame = {
    // Build the store once per (app, dataset) — a session may repeat queries;
    // the write is the "nightly job", the read is the query under test.
    // Round 10: the gate is the VersionedStore manifest CAS instead of
    // the explicit kmvStoreMarker probe — the manifest lands only after
    // writeKmvStore returns, so a partially-failed write is an
    // unreferenced staging dir, never a store that silently drops days;
    // and concurrent builders are safe (loser discards its staging).
    val dir = graft.sources.VersionedStore.resolveOrBuild(
      s, Scratch.dir(s, d, "kmvstore"))(
      p => writeKmvStore(Tables.events(s, d), to_date(col("ts")), "user_id", p))
    kmvRangeQuery(s, dir, "2024-01-08", "2024-01-14")
  }

  /** BURSTINESS INDEX per entity: the squared coefficient of variation
    * of inter-arrival gaps, CV² = Var(g)/E[g]² — ≈1 for a memoryless
    * (Poisson) arrival process, ≫1 for bursty traffic, ≪1 for
    * metronomic bots. Reported in exact basis points via the identity
    * CV²·10⁴ = 10⁴·(n·Σg² − (Σg)²) / (Σg)² — a pure integer formula,
    * no float mean/stddev whose summation order engines disagree on.
    * Gaps are µs-scale longs, so Σg² crosses 2⁶³ for week-long spans —
    * both factors run in decimal(38,0) (the engine-exact wide integer).
    *
    * Scale (100 TB): one shuffle on the entity key; the gap lag is a
    * window inside that partitioning and the three moments are one
    * hash aggregation — map-side partials, O(entities) exchange. */
  def burstiness(events: DataFrame, key: String, tsUs: Column,
                 order: String): DataFrame = {
    val w = Window.partitionBy(col("k_")).orderBy(col("ts_us").asc, col("ord").asc)
    val gaps = events
      .select(col(key).as("k_"), tsUs.as("ts_us"), col(order).as("ord"))
      .withColumn("g", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .where(col("g").isNotNull)
      .select(col("k_"), col("g").cast("decimal(38,0)").as("g"))
    gaps.groupBy(col("k_").as(key))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("s1"), sum(col("g") * col("g")).as("s2"))
      .where(col("n_gaps") >= 2 && col("s1") > 0)
      .select(col(key), col("n_gaps"),
        F.idiv(lit(10000L) * (col("n_gaps") * col("s2") - col("s1") * col("s1")),
          col("s1") * col("s1")).as("cv2_bp"))
  }

  /** q163: per-user inter-arrival burstiness in basis points. */
  def q163(s: SparkSession, d: String): DataFrame =
    burstiness(Tables.events(s, d), "user_id", micros(col("ts")), "event_id")

  /** DISPERSION INDEX (FANO FACTOR) of daily counts per group — the
    * Poisson-ness test that says whether count-based alerting math is
    * even valid: D = Var/Mean of the group's daily count is 1 for a
    * Poisson arrival stream, ≫1 for bursty/clumped arrivals (q163
    * measures the same pathology at user-gap grain; this is the
    * per-TYPE, per-day-count face that q123's rate thresholds and
    * q208's CIs implicitly assume away). Zero days count: the grid is
    * completed over the table's active calendar (a type absent on a
    * busy day IS dispersion evidence), via a bounded types×days cross
    * join. Exact integers: D_milli = 1000·(nΣx²−(Σx)²) idiv (n·Σx)
    * in decimal(38,0) (Σx² at 10¹² rows outruns a long), NULL when
    * the group never fires (mean 0).
    *
    * Scale: one (group, day) aggregation over the corpus; the grid
    * completion and moment folds are |groups|·|days|-bounded. */
  def dispersionIndex(events: DataFrame, group: String,
                      day: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val daily = events.select(col(group).as("g"), day.as("day"))
      .groupBy(col("g"), col("day")).agg(count(lit(1)).as("x"))
      .localCheckpoint() // feeds the calendar, the group list, the grid
    val cal = daily.select(col("day")).distinct()
    val grid = daily.select(col("g")).distinct().crossJoin(cal)
      .join(daily, Seq("g", "day"), "left").na.fill(0L, Seq("x"))
    val m = grid.groupBy(col("g"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("n_events"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
    m.select(col("g").as(group), col("n_days"), col("n_events"),
      graft.functions.F.idiv(lit(1000L) * col("n_events"), col("n_days"))
        .as("mean_milli"),
      when(col("n_events") === 0L, lit(null).cast("long"))
        .otherwise(graft.functions.F.idiv(
          dec(lit(1000L)) * (dec(col("n_days")) * col("sxx") -
            dec(col("n_events")) * dec(col("n_events"))),
          dec(col("n_days")) * dec(col("n_events"))).cast("long"))
        .as("dispersion_milli"))
  }

  /** q314: Fano factor of daily counts per event type. */
  def q314(s: SparkSession, d: String): DataFrame =
    dispersionIndex(Tables.events(s, d), "event_type", to_date(col("ts")))

  /** WEEKLY USER FLOWS — the growth-accounting table: every active
    * user each week is exactly one of RETAINED (active last week too),
    * NEW (first week ever), or RESURRECTED (away ≥1 week, back now),
    * and last week's actives who vanished are CHURNED — so
    * Δactives = new + resurrected − churned holds row by row, which
    * is the identity growth teams reconcile dashboards against (q36's
    * cohort retention slices by signup cohort; this is the calendar
    * flow the weekly business review reads). retention_bp = retained /
    * last week's actives, exact.
    *
    * Scale: one (user, week) distinct (THE corpus shuffle), a
    * min-per-user first-week table, one self-join on the 7-day shift —
    * all user-week grain; the report is week-count rows. */
  def userFlows(events: DataFrame, entity: String, day: Column): DataFrame = {
    val uw = events
      .select(col(entity).as("u"), date_trunc("week", day).cast("date")
        .as("week"))
      .distinct()
      .localCheckpoint() // feeds first-week, both join legs, the counts
    val first = uw.groupBy(col("u")).agg(min(col("week")).as("first_week"))
    val flagged = uw
      .join(uw.select(col("u"), date_add(col("week"), 7).as("week"))
        .withColumn("prev_active", lit(1)), Seq("u", "week"), "left")
      .join(first, "u")
      .select(col("week"),
        when(col("prev_active").isNotNull, "retained")
          .when(col("week") === col("first_week"), "new")
          .otherwise("resurrected").as("status"))
    val perWeek = flagged.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("status") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    // churned at week w = actives(w−7) − retained(w); prev actives by
    // a lag over the bounded week table (calendar weeks only — a week
    // with zero actives cannot occur in the week table by construction
    // of uw, so the lag is the 7-day predecessor when present)
    val w = Window.orderBy(col("week").asc)
    perWeek
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("prev_active", lag(col("n_active"), 1).over(w))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("n_active"), col("n_retained"), col("n_new"),
        col("n_resurrected"),
        when(col("prev_week").isNotNull &&
            datediff(col("week"), col("prev_week")) === 7,
          col("prev_active") - col("n_retained"))
          .otherwise(lit(null).cast("long")).as("n_churned"),
        when(col("prev_week").isNotNull &&
            datediff(col("week"), col("prev_week")) === 7,
          graft.functions.F.idiv(lit(10000L) * col("n_retained"),
            col("prev_active")))
          .otherwise(lit(null).cast("long")).as("retention_bp"))
  }

  /** q315: weekly growth accounting over the events stream. */
  def q315(s: SparkSession, d: String): DataFrame =
    userFlows(Tables.events(s, d), "user_id", to_date(col("ts")))

  /** COHORT LTV CURVE (round 12) — the revenue triangle every growth
    * model is fit on: users grouped by their FIRST-active week
    * (signup cohort), each cohort's cumulative purchase revenue by
    * week index since signup, per-user LTV by one truncating idiv.
    * q36/q315 count who comes back; this prices it — "a week-12 user
    * is worth X cents" is the number acquisition spend is judged
    * against. Rows exist for a cohort's ACTIVE weeks (silent weeks
    * contribute nothing and the cumulative sum is unaffected —
    * documented, the sparse-triangle convention).
    *
    * Scale: one (user, week) revenue rollup, a user-grain first-week
    * aggregation joined back, then all windows run on the
    * weeks²-bounded cohort triangle. */
  def cohortLtv(events: DataFrame, entity: String, day: Column,
                revenueCents: Column): DataFrame = {
    val uw = events.select(col(entity).as("u"),
        date_trunc("week", day).cast("date").as("week"),
        revenueCents.as("rev"))
      .groupBy(col("u"), col("week")).agg(sum(col("rev")).as("rev"))
      .localCheckpoint() // feeds first-week, sizes, and the triangle
    val first = uw.groupBy(col("u")).agg(min(col("week")).as("cohort"))
    val sized = first.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    val tri = uw.join(first, "u")
      .groupBy(col("cohort"),
        graft.functions.F.idiv(datediff(col("week"), col("cohort"))
          .cast("long"), lit(7L)).as("week_index"))
      .agg(sum(col("rev")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("week_index"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tri.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sized), "cohort")
      .select(col("cohort"), col("week_index"), col("n_users"),
        col("rev_cents"), col("cum_rev_cents"),
        graft.functions.F.idiv(col("cum_rev_cents"), col("n_users"))
          .as("ltv_per_user_cents"))
  }

  /** q330: purchase-revenue LTV triangle by first-active-week cohort. */
  def q330(s: SparkSession, d: String): DataFrame =
    cohortLtv(Tables.events(s, d), "user_id", to_date(col("ts")),
      when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(lit(0L)))

  /** JSON SCHEMA-DRIFT AUDIT (round 12) — the silent killer of event
    * pipelines: a producer adds, renames, or drops a `props` key and
    * every downstream extract starts returning NULLs with no error
    * anywhere. Per week: the distinct key inventory, keys shared with
    * / new since / gone since the PREVIOUS calendar week, and the
    * key-set Jaccard in bp — a drop below ~10⁴ is a schema change
    * shipping. Weeks with no predecessor in the data report NULL
    * drift columns (the q315 consecutive-week guard — a gap week must
    * not fabricate a comparison).
    *
    * Scale: one (week, key) distinct shuffle (keys explode map-side
    * from the JSON), then everything runs on the weeks×keys-bounded
    * inventory. */
  def schemaDrift(events: DataFrame, day: Column, json: Column): DataFrame = {
    val inv = events.where(json.isNotNull)
      .select(date_trunc("week", day).cast("date").as("week"),
        explode(json_object_keys(json)).as("key"))
      .distinct()
      .localCheckpoint() // feeds both join legs and the week list
    val weeks = inv.select(col("week")).distinct()
    val j = inv.select(col("week"), col("key")).withColumn("c", lit(1))
      .join(inv.select(date_add(col("week"), 7).as("week"), col("key"))
        .withColumn("p", lit(1)), Seq("week", "key"), "full")
    val drift = j.groupBy(col("week"))
      .agg(sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_keys"),
        sum(when(col("c").isNotNull && col("p").isNotNull, 1L).otherwise(0L))
          .as("n_shared"),
        sum(when(col("c").isNotNull && col("p").isNull, 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("c").isNull && col("p").isNotNull, 1L).otherwise(0L))
          .as("n_gone"))
    // report only REAL weeks; drift columns only when week−7 exists
    drift.join(weeks, Seq("week"))
      .join(weeks.select(date_add(col("week"), 7).as("week"))
        .withColumn("has_prev", lit(1)), Seq("week"), "left")
      .select(col("week"), col("n_keys"),
        when(col("has_prev").isNull, lit(null).cast("long"))
          .otherwise(col("n_shared")).as("n_shared"),
        when(col("has_prev").isNull, lit(null).cast("long"))
          .otherwise(col("n_new")).as("n_new"),
        when(col("has_prev").isNull, lit(null).cast("long"))
          .otherwise(col("n_gone")).as("n_gone"),
        when(col("has_prev").isNull, lit(null).cast("long"))
          .otherwise(graft.functions.F.idiv(lit(10000L) * col("n_shared"),
            col("n_shared") + col("n_new") + col("n_gone")))
          .as("jaccard_bp"))
  }

  /** q331: weekly props-key drift over the events stream. */
  def q331(s: SparkSession, d: String): DataFrame =
    schemaDrift(Tables.events(s, d), to_date(col("ts")), col("props"))

  /** MERGEABLE QUANTILE SKETCH by bottom-k hash sampling — the quantile
    * member of the sketch-store family (KMV = distincts q174/q175,
    * HLL = q159, this = value distribution): each day keeps the k
    * events with the SMALLEST md5-derived hash (a uniform random — but
    * deterministic and engine-independent — sample of the day), and a
    * range query merges days by re-selecting the bottom k of the union,
    * which IS the bottom-k sample of the union (the mergeability that
    * t-digest buys with far more machinery, here with exact cross-
    * engine reproducibility — every selected (hash, value) pair is
    * recomputable from SQL, unlike a t-digest's float centroids).
    * Estimates are nearest-rank (floor((n−1)·p)) picks from the
    * value-sorted sample, in exact cents.
    *
    * Scale (100 TB): one hash aggregation on day; the bounded heap
    * (TopKAgg, ~k·16 bytes per partial) partial-merges map-side, so the
    * exchange carries O(days·k) pairs, never the events. The (~h, −v)
    * struct makes heap-max = (h, v)-lexicographic-min: bitwise NOT is
    * the no-overflow signed-order reversal (−Long.MinValue would
    * overflow; v is row-level cents, |v| ≪ 2⁶²). */
  def quantileSketch(events: DataFrame, day: Column, valueCents: Column,
                     k: Int = 256): DataFrame = {
    val pairs = events.select(day.as("day"),
      graft.functions.F.md5Hash64(col("event_id").cast("string")).as("h"),
      valueCents.as("v"))
    pairs.groupBy(col("day"))
      .agg(graft.functions.F.topK(
        struct(bitwise_not(col("h")).as("nh"), (-col("v")).as("nv")), k).as("top"))
      .select(col("day"),
        transform(col("top"), x => struct(bitwise_not(x.getField("nh")).as("h"),
          (-x.getField("nv")).as("v"))).as("pairs"))
  }

  /** Nearest-rank estimate columns from a `pairs` sketch column:
    * (n_sample, p50_cents, p90_cents). */
  private def sketchEstimates(pairs: Column): Seq[Column] = {
    val vs = array_sort(transform(pairs, x => x.getField("v")))
    val n = size(pairs)
    def pick(p: Int): Column =
      element_at(vs, (((n - 1) * p) / lit(100)).cast("int") + 1)
    Seq(n.cast("long").as("n_sample"),
      pick(50).as("p50_cents"), pick(90).as("p90_cents"))
  }

  /** q177: per-day value-quantile estimates for a week from the daily
    * bottom-k sketches, plus the RANGE row whose sample is the merged
    * (re-selected bottom-k) union — quantiles over any day range
    * without rescanning raw events. */
  def q177(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(to_date(col("ts")).between("2024-01-08", "2024-01-14"))
    val daily = quantileSketch(ev, date_format(to_date(col("ts")), "yyyy-MM-dd"),
      cents(col("value")))
    val perDay = daily.select(col("day") +: sketchEstimates(col("pairs")): _*)
    // merged range sample: bottom k of the union of the daily samples,
    // by the same (h, v) order the daily selection used
    val merged = daily
      .select(explode(col("pairs")).as("p"))
      .select(col("p.h").as("h"), col("p.v").as("v"))
      .orderBy(col("h").asc, col("v").asc).limit(256)
      .agg(collect_list(struct(col("h"), col("v"))).as("pairs"))
      .select(lit("RANGE").as("day") +: sketchEstimates(col("pairs")): _*)
    perDay.unionByName(merged)
  }

  /** TIME-WEIGHTED AVERAGE value per entity (TWAP — the price/metric
    * mean weighted by how LONG each observation held, not how often it
    * fired): each event's value is weighted by the micros until the
    * entity's next event; the final observation has no holding interval
    * and drops. Exact integer arithmetic end-to-end — cents at the row,
    * micros gaps, decimal(38,0) products (a week of micros × cents
    * crosses 2⁶³), truncating idiv — so the result is bit-identical
    * across engines and partitionings.
    *
    * Scale (100 TB): one shuffle on the entity key; the lead() gap is a
    * window inside that partitioning and the weighted moments are one
    * map-side-partial hash aggregation — the burstiness(q163) plan
    * shape with a value payload. */
  def twap(events: DataFrame, key: String, tsUs: Column,
           valueCents: Column, order: String): DataFrame = {
    val w = Window.partitionBy(col("k_")).orderBy(col("ts_us").asc, col("ord").asc)
    val gaps = events
      .select(col(key).as("k_"), tsUs.as("ts_us"), valueCents.as("v"),
        col(order).as("ord"))
      .withColumn("gap", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .where(col("gap").isNotNull)
      .select(col("k_"), col("gap").cast("decimal(38,0)").as("gap"),
        col("v").cast("decimal(38,0)").as("v"))
    gaps.groupBy(col("k_").as(key))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("gap")).cast("decimal(38,0)").as("span"),
        sum(col("v") * col("gap")).as("wsum"))
      .where(col("span") > 0)
      .select(col(key), col("n_intervals"),
        col("span").cast("long").as("span_us"),
        F.idiv(col("wsum"), col("span")).as("twap_cents"))
  }

  /** q178: per-user time-weighted average event value in exact cents. */
  def q178(s: SparkSession, d: String): DataFrame =
    twap(Tables.events(s, d), "user_id", micros(col("ts")),
      cents(col("value")), "event_id")

  /** Per-stream FRESHNESS lag — the pipeline-health monitor that
    * catches a stalled source: each event type's newest timestamp
    * against the newest timestamp anywhere in the feed. A type whose
    * lag grows run over run has stopped emitting while the rest of the
    * feed moves on. Deterministic (relative to the feed's own maximum,
    * never wall-clock); per-type max is a partial aggregate, the
    * global max is a broadcast 1-row cross join — two tiny exchanges
    * at any volume. */
  def freshnessLag(events: DataFrame, typeCol: String, ts: Column): DataFrame = {
    val perType = events.groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_events"), max(ts).as("max_us"))
    perType.crossJoin(broadcast(perType.agg(max(col("max_us")).as("feed_max"))))
      .select(col(typeCol), col("n_events"), col("max_us"),
        (col("feed_max") - col("max_us")).as("lag_us"))
  }

  /** q184: per-event-type freshness lag in exact microseconds. */
  def q184(s: SparkSession, d: String): DataFrame =
    freshnessLag(Tables.events(s, d), "event_type", micros(col("ts")))

  /** SEGMENT AUDIENCE OVERLAP from KMV sketches — |A∩B|, |A∪B| and
    * Jaccard for every pair of segments WITHOUT a per-pair corpus
    * join: the set-algebra member of the sketch family (q174/q175 =
    * cardinality, q177 = quantiles, this = pairwise overlap). The
    * standard KMV estimators, kept exact-integer so every published
    * value is engine-recomputable:
    *   - union: the k smallest of (minsA ∪ minsB) IS the union's KMV
    *     sketch, so |A∪B|_est = (k−1)·2⁶⁴ ÷ v_k (exact when the union
    *     fits the sketch);
    *   - intersection: of the union sketch's kEff = min(k,|u|) slots,
    *     count c that appear in BOTH per-segment sketches, then
    *     ρ = c/kEff estimates Jaccard (jaccard_bp = 10⁴·c ÷ kEff) and
    *     |A∩B|_est = c·|A∪B|_est ÷ kEff — all truncating idiv.
    * The exact per-pair intersection rides along for audit, computed
    * the linear way: per-key segment SETS (bounded by |segments|),
    * exploded to ordered pairs — one corpus shuffle for ALL pairs,
    * never a pairwise self-join of raw events.
    *
    * Scale (100 TB): two hash shuffles over the distinct (segment,key)
    * projection — one for the sketches (map-side partial KmvMinAgg, the
    * exchange carries O(|segs|·k) longs), one for the per-key set
    * aggregation (fan-out ≤ |segs|²/2 struct rows per key). The
    * |segs|×|segs| sketch pair join is a broadcast of O(|segs|·k)
    * longs; per-pair array work is O(k·k) on |segs|² rows — driver and
    * exchange cost independent of corpus size. Unsigned hash order is
    * restored under signed sorts by the XOR-2⁶³ flip (the standard
    * order-preserving bijection), so array_sort/element_at see KMV
    * order without a comparator. */
  def kmvOverlap(events: DataFrame, segCol: String, key: String,
                 k: Int = 256): DataFrame = {
    val FLIP = lit(Long.MinValue)
    val dist = events.select(col(segCol).as("seg"), col(key).as("k_")).distinct()
    val sk = dist
      .select(col("seg"), col("k_"),
        F.md5Hash64(col("k_").cast("string")).as("h"))
      .groupBy(col("seg"))
      .agg(F.kmvMin(col("h"), k).as("mins"),
        count_distinct(col("k_")).as("n_exact"))
    // exact intersections: per-key ordered segment pairs, one shuffle
    val exact = dist.groupBy(col("k_"))
      .agg(array_sort(collect_set(col("seg"))).as("segs"))
      .select(explode(flatten(transform(col("segs"), (a, i) =>
        transform(slice(col("segs"), i + lit(2), size(col("segs"))),
          b => struct(a.as("seg_a"), b.as("seg_b")))))).as("p"))
      .groupBy(col("p.seg_a").as("seg_a"), col("p.seg_b").as("seg_b"))
      .agg(count(lit(1)).as("n_int_exact"))
    // sketch pair algebra: tiny |segs|² join, flipped arrays sort in
    // unsigned (KMV) order
    def flipped(c: Column): Column = transform(c, x => x.bitwiseXOR(FLIP))
    val a = sk.select(col("seg").as("seg_a"), flipped(col("mins")).as("ma"),
      col("n_exact").as("n_exact_a"))
    val b = sk.select(col("seg").as("seg_b"), flipped(col("mins")).as("mb"),
      col("n_exact").as("n_exact_b"))
    val pairs = a.join(b, col("seg_a") < col("seg_b"))
      .withColumn("u", array_sort(array_distinct(concat(col("ma"), col("mb")))))
      .withColumn("keff", least(lit(k), size(col("u"))).cast("long"))
      .withColumn("c", size(filter(slice(col("u"), 1, k), h =>
        array_contains(col("ma"), h) && array_contains(col("mb"), h))).cast("long"))
      .withColumn("n_union_est",
        kmvEstimate(flipped(col("u")), k))
    pairs
      .join(exact, Seq("seg_a", "seg_b"), "left")
      .select(col("seg_a"), col("seg_b"), col("n_exact_a"), col("n_exact_b"),
        coalesce(col("n_int_exact"), lit(0L)).as("n_int_exact"),
        col("n_union_est"),
        F.idiv(col("c").cast("decimal(38,0)") * col("n_union_est"),
          col("keff")).as("n_int_est"),
        F.idiv(lit(10000L) * col("c"), col("keff")).as("jaccard_bp"))
  }

  /** TRAINING-LABEL GENERATION over a future window — the supervised-
    * learning prep step that turns an event stream into (features-as-
    * of-cutoff, label-from-future) rows WITHOUT leakage: for each user,
    * the label is whether any qualifying event lands in
    * (cutoff, cutoff + horizon]; features come strictly from
    * (-∞, cutoff]. Emitting both windows from one pass over the stream
    * (conditional aggregation on the timestamp) is what makes the
    * no-leakage property auditable: there is no join whose predicate
    * could silently admit future rows into the feature side.
    *
    * Scale (100 TB): one aggregation shuffle on the user key; both
    * windows are filtered sums inside it — the stream is scanned once,
    * never self-joined. */
  def labelWindow(events: DataFrame, key: String, tsUs: Column,
                  cutoffUs: Long, horizonUs: Long,
                  qualifying: Column, valueCents: Column): DataFrame = {
    val past = tsUs <= lit(cutoffUs)
    val future = tsUs > lit(cutoffUs) &&
      tsUs <= lit(cutoffUs + horizonUs) && qualifying
    events.groupBy(col(key))
      .agg(
        sum(when(past, 1L).otherwise(0L)).as("n_events_past"),
        sum(when(past, valueCents).otherwise(0L)).as("sum_value_past_cents"),
        max(when(past, tsUs)).as("last_seen_us"),
        sum(when(future, 1L).otherwise(0L)).as("n_future_hits"))
      .where(col("n_events_past") > 0)
      .select(col(key), col("n_events_past"), col("sum_value_past_cents"),
        col("last_seen_us"),
        (col("n_future_hits") > 0).cast("int").as("label"))
  }

  /** q210: purchase-in-next-7-days labels at the 2024-01-15 cutoff. */
  def q210(s: SparkSession, d: String): DataFrame =
    labelWindow(Tables.events(s, d), "user_id", unix_micros(col("ts")),
      Changes.epochUs("2024-01-15"), 7L * 86400000000L,
      col("event_type") === "purchase", cents(col("value")))

  /** KAPLAN–MEIER SURVIVAL CURVE for time-to-first-conversion — the
    * censoring-aware churn/conversion estimator: a user enters at
    * their first event; the event of interest is their first
    * qualifying event after entry; users who never convert are
    * CENSORED at the feed horizon (dropping them would bias the curve
    * optimistic — the whole point of KM). Per event day t:
    * S(t) = Π_{s≤t}(1 − d_s/n_s) with d_s conversions at day s and
    * n_s the at-risk count entering s. The product ships as the exact
    * integer cumulative sum of per-day fixed-point ln terms (engine-
    * exact), with survival_bp = floor(e^{cum}·10⁴+½) at the boundary.
    *
    * Scale (100 TB): users reduce to one (t_days, converted) row each
    * (one user-key aggregation); everything after runs on DAY-
    * cardinality rows — the cumulative window orders ~10³ days, not
    * users. */
  def kaplanMeier(events: DataFrame, key: String, tsUs: Column,
                  qualifying: Column): DataFrame = {
    val dayUs = 86400000000L
    val perUser = events.groupBy(col(key))
      .agg(min(tsUs).as("entry_us"),
        min(when(qualifying, tsUs)).as("conv_us"))
    val horizon = events.agg(max(tsUs).as("h_us"))
    val obs = perUser.crossJoin(broadcast(horizon))
      .select(
        when(col("conv_us").isNotNull,
          F.idiv(col("conv_us") - col("entry_us"), lit(dayUs)))
          .otherwise(F.idiv(col("h_us") - col("entry_us"), lit(dayUs)))
          .as("t_day"),
        col("conv_us").isNotNull.cast("long").as("converted"))
    val total = obs.agg(count(lit(1)).as("n_total"))
    val perDay = obs.groupBy(col("t_day"))
      .agg(sum(col("converted")).as("d_conv"),
        count(lit(1)).as("n_leaving"))
    val byDay = Window.orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = perDay.crossJoin(broadcast(total))
      // at-risk entering day t = everyone not yet departed before t
      .withColumn("left_through", sum(col("n_leaving")).over(byDay))
      .withColumn("n_risk",
        col("n_total") - col("left_through") + col("n_leaving"))
      // a day where EVERY at-risk user converts drives S to an exact,
      // absorbing 0 — represented explicitly (null ln terms) instead
      // of letting ln(0) = -∞ poison the fixed point
      .withColumn("ln_term_u",
        when(col("d_conv") < col("n_risk"),
          floor(log(lit(1.0d) - col("d_conv").cast("double") /
              col("n_risk").cast("double")) * lit(1000000d) + lit(0.5d))
            .cast("long")))
      .withColumn("zeroed",
        max((col("d_conv") === col("n_risk")).cast("int")).over(byDay))
      .withColumn("cum_ln_u",
        when(col("zeroed") === 0, sum(col("ln_term_u")).over(byDay)))
      .select(col("t_day"), col("n_risk"), col("d_conv"),
        col("n_leaving"), col("ln_term_u"), col("cum_ln_u"),
        when(col("zeroed") === 1, lit(0L))
          .otherwise(floor(exp(col("cum_ln_u").cast("double") / lit(1000000d))
            * lit(10000d) + lit(0.5d)).cast("long")).as("survival_bp"))
    rows
  }

  /** q222: survival of "no purchase yet" from each user's first event. */
  def q222(s: SparkSession, d: String): DataFrame =
    kaplanMeier(Tables.events(s, d), "user_id", unix_micros(col("ts")),
      col("event_type") === "purchase")

  /** LOG-RANK TEST (round 12; Mantel–Cox) — the A/B test for
    * TIME-TO-EVENT: q209/q287 compare rates and locations, q222 draws
    * one survival curve; this answers "does arm B convert FASTER,
    * censoring included" — comparing conversion RATES at a horizon
    * throws away everyone the horizon censors, which is the bias the
    * log-rank exists to avoid. Per event day t: O₁ = observed arm-A
    * conversions, E₁ term d·n₁/n and variance term
    * d·n₁·n₂·(n−d)/(n²(n−1)) — each floored at 10⁶ BEFORE the sum
    * (q201 discipline), at-risk counts from the same
    * entry/departure cumulative construction as q222 on the shared
    * (day, arm) grid; z = (10⁶·O₁ − ΣE₁μ)/√ΣVμ at the one pinned
    * double boundary (q287's z_milli convention), NULL on zero
    * variance.
    *
    * Scale: users reduce to one (t_day, converted, arm) row; the
    * grid/windows run on day×2 rows. */
  def logRank(events: DataFrame, key: String, tsUs: Column,
              qualifying: Column, isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val dayUs = 86400000000L
    val perUser = events.groupBy(col(key))
      .agg(min(tsUs).as("entry_us"),
        min(when(qualifying, tsUs)).as("conv_us"))
      .withColumn("is_a", isA)
    val horizon = events.agg(max(tsUs).as("h_us"))
    val obs = perUser.crossJoin(broadcast(horizon))
      .select(col("is_a"),
        when(col("conv_us").isNotNull,
          graft.functions.F.idiv(col("conv_us") - col("entry_us"), lit(dayUs)))
          .otherwise(graft.functions.F.idiv(col("h_us") - col("entry_us"),
            lit(dayUs))).as("t_day"),
        col("conv_us").isNotNull.cast("long").as("converted"))
      .localCheckpoint()
    val totals = obs.groupBy(col("is_a")).agg(count(lit(1)).as("n_tot"))
    val perDayArm = obs.groupBy(col("t_day"), col("is_a"))
      .agg(sum(col("converted")).as("d_conv"),
        count(lit(1)).as("n_leaving"))
    val spark = events.sparkSession
    import spark.implicits._
    val grid = obs.select(col("t_day")).distinct()
      .crossJoin(Seq(true, false).toDF("is_a"))
      .join(perDayArm, Seq("t_day", "is_a"), "left")
      .na.fill(0L, Seq("d_conv", "n_leaving"))
      .join(broadcast(totals), Seq("is_a"))
    val byArm = Window.partitionBy(col("is_a")).orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = grid
      .withColumn("left_through", sum(col("n_leaving")).over(byArm))
      .withColumn("n_risk",
        col("n_tot") - col("left_through") + col("n_leaving"))
    val perDay = risk.groupBy(col("t_day"))
      .agg(sum(when(col("is_a"), col("n_risk")).otherwise(0L)).as("n1"),
        sum(when(!col("is_a"), col("n_risk")).otherwise(0L)).as("n2"),
        sum(when(col("is_a"), col("d_conv")).otherwise(0L)).as("d1"),
        sum(col("d_conv")).as("d"))
      .where(col("d") > 0L)
      .withColumn("n", col("n1") + col("n2"))
    val m = perDay.agg(
        sum(col("d1")).as("o1"),
        sum(graft.functions.F.idiv(dec(lit(1000000L)) * col("d") * col("n1"),
          dec(col("n")))).as("e1u"),
        sum(when(col("n") > 1L,
          graft.functions.F.idiv(dec(lit(1000000L)) * col("d") * col("n1")
            * col("n2") * (col("n") - col("d")),
            dec(col("n")) * col("n") * (col("n") - dec(lit(1L)))))
          .otherwise(dec(lit(0L)))).as("vu"))
      .crossJoin(broadcast(totals
        .groupBy().pivot("is_a", Seq(true, false)).sum("n_tot")
        .select(col("true").as("n_a"), col("false").as("n_b"))))
    m.select(col("n_a"), col("n_b"), col("o1").as("obs_a"),
      col("e1u").cast("long").as("exp_a_micro"),
      col("vu").cast("long").as("var_micro"),
      when(col("vu") === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(floor((dec(lit(1000000L)) * col("o1") - col("e1u"))
          .cast("double") / sqrt(col("vu").cast("double")) + lit(0.5d))
          .cast("long")).as("z_milli"))
      .withColumn("is_significant",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) > lit(1960L)).cast("int")))
  }

  /** q333: does either user-parity arm reach first purchase faster. */
  def q333(s: SparkSession, d: String): DataFrame =
    logRank(Tables.events(s, d), "user_id", unix_micros(col("ts")),
      col("event_type") === "purchase", col("user_id") % 2 === 0)

  /** SESSION FEATURE-STORE BUILD — the behavioral feature table a
    * ranking/churn model trains on, rolled up from sessionized events:
    * per user the session count, event mass, mean session duration,
    * mean events per session (milli fixed point), busiest session, and
    * recency against the feed's own horizon (never wall-clock — the
    * q184 rule, so the table is reproducible). Composes q31's
    * sessionize: the rollup groups by the SAME user key the
    * sessionizer already partitioned by, so the feature pass adds no
    * exchange beyond sessionize's own.
    *
    * Scale (100 TB): sessionize's one user-key shuffle + window; the
    * rollup rides that partitioning; the feed horizon is one broadcast
    * scalar row. */
  def sessionFeatures(events: DataFrame, key: String, tsUs: String,
                      order: String, value: String, gapUs: Long): DataFrame = {
    val s = sessionize(events, key, tsUs, order, value, gapUs)
    val horizon = events.agg(max(col(tsUs)).as("feed_max_us"))
    s.groupBy(col(key))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        F.idiv(sum(col("session_end_us") - col("session_start_us")),
          count(lit(1))).as("mean_session_dur_us"),
        F.idiv(lit(1000L) * sum(col("n_events")), count(lit(1)))
          .as("mean_events_milli"),
        max(col("n_events")).as("max_session_events"),
        max(col("session_end_us")).as("last_seen_us"))
      .crossJoin(broadcast(horizon))
      .withColumn("recency_us", col("feed_max_us") - col("last_seen_us"))
      .drop("feed_max_us")
  }

  /** q215: the 30-minute-gap session feature table for every user. */
  def q215(s: SparkSession, d: String): DataFrame =
    sessionFeatures(
      Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", "value", 1800000000L)

  /** TWO-PROPORTION A/B TEST — the experiment readout: unit-level
    * (user, not event) conversion rates per arm and the pooled
    * two-proportion z statistic. Arms split by a hash/parity of the
    * UNIT key (assignment must be unit-stable or exposure counts
    * lie); conversion aggregates events→users first so heavy users
    * cannot inflate their arm. The z formula runs on doubles derived
    * from exact integer counts in one fixed expression order, then
    * ships fixed-point — engine-exact.
    *
    * Scale (100 TB): events→user flags is one shuffle on the unit
    * key; arms reduce to TWO partial-agg rows; the statistic is a
    * driver-free one-row compare. */
  def abTest(events: DataFrame, unit: String, arm: Column,
             converted: Column): DataFrame = {
    val users = events.groupBy(col(unit))
      .agg(max(arm.cast("int")).as("arm_"),
        max(converted.cast("int")).as("conv"))
    val arms = users.groupBy(col("arm_"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
    val a = arms.filter(col("arm_") === 0)
      .select(col("n").as("n_a"), col("k").as("conv_a"))
    val b = arms.filter(col("arm_") === 1)
      .select(col("n").as("n_b"), col("k").as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0d) - pp) *
      (lit(1.0d) / col("n_a").cast("double") +
        lit(1.0d) / col("n_b").cast("double")))
    a.crossJoin(b).select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      bp(pa).as("rate_a_bp"), bp(pb).as("rate_b_bp"),
      floor((pa - pb) / se * lit(1000d) + lit(0.5d)).cast("long")
        .as("z_milli"))
  }

  /** LEAVE-ONE-OUT TARGET ENCODING with m-estimate smoothing — the
    * categorical-feature builder for tabular ML: replace a category
    * with the mean target of its OTHER members, (S_c − yᵢ)/(n_c − 1),
    * so a row never sees its own label (the leakage that makes naive
    * target encoding overfit); the smoothed variant shrinks rare
    * categories toward the global mean with pseudo-count m. All
    * arithmetic is exact integer milli fixed point — the global mean
    * enters as one idiv'd constant, so two engines produce identical
    * encodings row for row.
    *
    * Scale (100 TB): one aggregation to (category, S, n) —
    * category-cardinality — broadcast back over the stream; the encode
    * itself is map-side row-local arithmetic. No per-row window, no
    * self-join. */
  def targetEncode(df: DataFrame, category: String, yCents: Column,
                   id: Column, m: Long): DataFrame = {
    // sums in decimal(38,0): a 10¹²-row category's 1000·S_c outgrows a
    // long, and the oracle's HUGEINT sums would silently diverge from
    // a wrapped long (the q204 discipline)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cats = df.groupBy(col(category).as("cat_"))
      .agg(sum(dec(yCents)).as("s_c"), count(lit(1)).as("n_c"))
    val global = df.agg(F.idiv(dec(lit(1000L)) * sum(dec(yCents)),
      dec(count(lit(1)))).cast("long").as("gmean_milli"))
    df.select(id.as("row_id"), col(category).as("cat_"), yCents.as("y"))
      .join(broadcast(cats), "cat_")
      .crossJoin(broadcast(global))
      .select(col("row_id"), col("cat_").as(category), col("y").as("y_cents"),
        when(col("n_c") > 1,
          F.idiv(dec(lit(1000L)) * (col("s_c") - dec(col("y"))),
            dec(col("n_c") - 1)).cast("long"))
          .otherwise(lit(null).cast("long")).as("enc_loo_milli"),
        F.idiv(dec(lit(1000L)) * (col("s_c") - dec(col("y"))) +
            dec(lit(m)) * dec(col("gmean_milli")),
          dec(col("n_c") - 1 + lit(m))).cast("long").as("enc_smooth_milli"))
  }

  /** q212: LOO-encode event_type against the value target, m = 10. */
  def q212(s: SparkSession, d: String): DataFrame =
    targetEncode(Tables.events(s, d), "event_type", cents(col("value")),
      col("event_id"), 10L)

  /** Candidate periods the periodogram scans (daily grain: intra-week
    * through biweekly). */
  val PeriodogramPeriods: Seq[Int] = 2 to 14

  /** The quantized trig table both engines share VERBATIM (round 13;
    * the BPE/holt-winters generated-oracle convention): libm cos/sin
    * are NOT bit-identical across engines, so the driver computes
    * floor(cos(2πk/p)·10⁶ + ½) ONCE and embeds the integers as
    * literals in the Spark plan AND the generated DuckDB VALUES —
    * only p rows per period (the basis depends on t mod p alone). */
  val periodogramTable: Seq[(Int, Int, Long, Long)] =
    PeriodogramPeriods.flatMap { p =>
      (0 until p).map { k =>
        val a = 2d * math.Pi * k / p
        (p, k, math.floor(math.cos(a) * 1e6 + 0.5).toLong,
          math.floor(math.sin(a) * 1e6 + 0.5).toLong)
      }
    }

  /** INTEGER PERIODOGRAM (round 13) — "WHICH cycle length dominates":
    * q254/q334's ACF/PACF read correlation at a given lag, the
    * periodogram reads POWER per candidate period, the Box–Jenkins
    * seasonality-detection step before q289's STL or q300's
    * Holt–Winters commits to a season length. Power at period p is
    * the squared projection of the mean-removed daily series onto the
    * quantized cos/sin basis: residuals on the exact milli grid (the
    * q254 truncating-mean discipline), basis values from the shared
    * literal table, products and squares in decimal(38,0), one
    * truncating idiv back to count² units — bit-replayable end to
    * end. The dominant period carries is_peak = 1 (power DESC, p ASC).
    * The series is the COMPLETE calendar grid d0..dmax — zero-event
    * days enter as x = 0 rows (the textbook regular-grid statistic;
    * a present-days-only series would bias periods on sparse data).
    *
    * Scale (100 TB): the corpus reduces to the day table (one
    * aggregation + one calendar-sized zero-fill join); the basis join
    * fans |days|×|periods| rows of integers — calendar-bounded, never
    * corpus-bounded. */
  def periodogram(events: DataFrame, day: Column,
                  periods: Seq[Int] = PeriodogramPeriods): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val tbl = periodogramTable.filter(t => periods.contains(t._1))
      .toDF("p", "k", "cq", "sq")
    // the series runs on the COMPLETE calendar grid d0..dmax —
    // zero-event days enter as x = 0 rows so they pull the mean and
    // carry residual mass like any other day (r13 advice: a
    // present-days-only series biased detected periods on sparse
    // data; the textbook periodogram is over the regular grid)
    val counts = events.groupBy(day.as("dy"))
      .agg(count(lit(1)).as("x"))
    val daily = counts.agg(min(col("dy")).as("da"), max(col("dy")).as("db"))
      .select(explode(sequence(col("da"), col("db"))).as("dy"))
      .join(counts, Seq("dy"), "left")
      .select(col("dy"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint()
    val base = daily.agg(min(col("dy")).as("d0"), count(lit(1)).as("nd"),
      F.idiv(lit(1000L) * sum(col("x")), count(lit(1))).as("xbar_milli"))
    val rt = daily.crossJoin(broadcast(base))
      .select(col("nd"),
        datediff(col("dy"), col("d0")).cast("long").as("t"),
        (lit(1000L) * col("x") - col("xbar_milli")).as("r"))
    val scored = rt.crossJoin(broadcast(tbl.select(col("p")).distinct()))
      .withColumn("k", pmod(col("t"), col("p").cast("long")).cast("int"))
      .join(broadcast(tbl), Seq("p", "k"))
      .groupBy(col("p"))
      .agg(max(col("nd")).as("n_days"),
        sum(dec(col("r")) * dec(col("cq"))).as("sc"),
        sum(dec(col("r")) * dec(col("sq"))).as("ss"))
    val power = F.idiv(col("sc") * col("sc") + col("ss") * col("ss"),
      dec(lit(1000000000000000000L)))
    val byPower = Window.orderBy(col("power_c2").desc, col("period").asc)
    scored.select(col("p").cast("long").as("period"), col("n_days"),
        power.cast("long").as("power_c2"))
      .withColumn("is_peak",
        (row_number().over(byPower) === 1).cast("int"))
  }

  /** q342: dominant event-count cycle length, periods 2..14 days. */
  def q342(s: SparkSession, d: String): DataFrame =
    periodogram(Tables.events(s, d), to_date(col("ts")))

  /** The R/S window widths (powers of two so the lg64 slope
    * denominator is exact: lg64(64) − lg64(8) = 192). */
  val HurstWindows: Seq[Int] = Seq(8, 16, 32, 64)

  /** HURST EXPONENT by RESCALED RANGE (round 14) — the
    * long-range-dependence member of the series family: ACF (q254)
    * reads memory at ONE lag, the Hurst H summarizes it across ALL
    * scales — H ≈ 0.5 is a memoryless series (Poisson traffic),
    * H > 0.5 is persistent (bursts cluster — capacity planning must
    * size for runs, and q123-style anomaly rates are NOT independent),
    * H < 0.5 mean-reverting. Mandelbrot's R/S: per window of n
    * buckets, R = range of the cumulative mean-removed series, S =
    * the window SD; E[R/S] ~ c·nᴴ, so H is the log-log slope.
    * Integers end to end: bucket counts on the complete integer grid
    * (the q342 zero-fill convention — the bucket is a caller-chosen
    * integer column, hours for q365), milli residuals, exact
    * cumulative sums, (R/S)² on
    * the 10⁶ grid by one idiv (squaring avoids any sqrt — the
    * variance form), lg64 of the per-width mean, and
    * H_milli = 1000·(lg(rs²₆₄) − lg(rs²₈)) / (2·(lg64(64) − lg64(8)))
    * — denominator a literal 384. Constant-count windows (S² = 0)
    * drop (R/S undefined); a width with no surviving full window
    * reports NULL lg and is excluded from the slope by construction
    * of the two endpoints used.
    *
    * Scale (100 TB): the corpus reduces to the day table; per width
    * the block statistics are one window pass + one rollup over
    * calendar-bounded rows — |days|·|widths| integer rows total. */
  def hurstRs(events: DataFrame, bucket: Column,
              windows: Seq[Int] = HurstWindows): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val counts = events.groupBy(bucket.as("hr"))
      .agg(count(lit(1)).as("x"))
    val hourly = counts.agg(min(col("hr")).as("ha"), max(col("hr")).as("hb"))
      .select(explode(sequence(col("ha"), col("hb"))).as("hr"))
      .join(counts, Seq("hr"), "left")
      .select(col("hr"), coalesce(lit(1000L) * col("x"), lit(0L)).as("v"))
    val base = hourly.crossJoin(broadcast(
        hourly.agg(min(col("hr")).as("h0"), count(lit(1)).as("nd"))))
      .select((col("hr") - col("h0")).as("t"), col("v"), col("nd"))
      .localCheckpoint() // re-windowed once per width
    val wDf = windows.map(_.toLong).toDF("n")
    val blocks = base.crossJoin(broadcast(wDf))
      .where(F.idiv(col("t"), col("n")) < F.idiv(col("nd"), col("n")))
      .select(col("n"), F.idiv(col("t"), col("n")).as("b"), col("t"), col("v"))
    val byBlock = Window.partitionBy(col("n"), col("b"))
    val byPos = byBlock.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = blocks
      .withColumn("mu", F.idiv(sum(col("v")).over(byBlock), col("n")))
      .withColumn("d", col("v") - col("mu"))
      .withColumn("z", sum(col("d")).over(byPos))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perBlock = dev.groupBy(col("n"), col("b"))
      .agg((max(col("z")) - min(col("z"))).as("r"),
        F.idiv(sum(dec(col("d")) * dec(col("d"))), dec(max(col("n"))))
          .as("s2"))
      .where(col("s2") > dec(lit(0L)))
      // 10⁶·R² wraps a long on busy calendars — ride decimal(38,0)
      // through the ratio; the ratio itself is slope-sized
      .select(col("n"), F.idiv(dec(lit(1000000L)) * dec(col("r")) *
        dec(col("r")), col("s2")).cast("long").as("rs2"))
    var perN = perBlock.groupBy(col("n"))
      .agg(count(lit(1)).as("n_blocks"),
        F.idiv(sum(col("rs2")), count(lit(1))).as("rs2_mean_q"))
    perN = graft.functions.Cols.withLg64(perN, col("rs2_mean_q"), "lg_rs2")
      .select(col("n"), col("n_blocks"), col("rs2_mean_q"), col("lg_rs2"))
      .localCheckpoint() // feeds the rows AND the slope fold
    val lgSpan = 64L * (63 - java.lang.Long.numberOfLeadingZeros(
      windows.max.toLong)) - 64L * (63 - java.lang.Long.numberOfLeadingZeros(
      windows.min.toLong))
    val slope = perN
      .agg(max(when(col("n") === windows.max.toLong, col("lg_rs2"))).as("lh"),
        max(when(col("n") === windows.min.toLong, col("lg_rs2"))).as("ll"))
      .select(lit(0L).as("n"), lit(null).cast("long").as("n_blocks"),
        lit(null).cast("long").as("rs2_mean_q"),
        lit(null).cast("long").as("lg_rs2"),
        when(col("lh").isNull || col("ll").isNull, lit(null).cast("long"))
          .otherwise(F.idiv(lit(1000L) * (col("lh") - col("ll")),
            lit(2L * lgSpan))).as("hurst_milli"))
    perN.withColumn("hurst_milli", lit(null).cast("long"))
      .unionByName(slope)
  }

  /** q365: Hurst exponent of the HOURLY event-count series (hour
    * index = epoch micros div 3600·10⁶ — the 30-day synthetic window
    * yields 720 points, 11 full 64-wide blocks; the day grain would
    * leave zero). */
  def q365(s: SparkSession, d: String): DataFrame =
    hurstRs(Tables.events(s, d),
      F.idiv(unix_micros(col("ts")), lit(3600000000L)))

  /** WELCH'S t-TEST (round 13) — the mean-difference member of the A/B
    * stack: q209 compares binary conversion RATES, q287 asks "tends
    * larger" without distributional assumptions, this one tests the
    * MEAN of the metric itself under unequal variances (the realistic
    * case — treatment often moves the variance too, which Student's
    * pooled t silently mishandles). Per arm: exact decimal(38,0)
    * moments (n, Σx, Σx²); the t statistic and the Welch–Satterthwaite
    * degrees of freedom assemble from those exact components in ONE
    * pinned double order (the q287 z_milli discipline), so both
    * engines replay them bit-for-bit:
    *   q_a  = (n_a·Σx²_a − (Σx_a)²) / (n_a²·(n_a−1))   [= var_a/n_a]
    *   t    = (Σx_a/n_a − Σx_b/n_b) / √(q_a + q_b)
    *   df   = (q_a+q_b)² / (q_a²/(n_a−1) + q_b²/(n_b−1))
    * NULL t/df when either arm has < 2 units or both variances are 0.
    *
    * Scale (100 TB): one aggregation to two moment rows — the corpus
    * shuffles three numbers per task per arm, nothing else. */
  /** The two-arm exact moment row (n, Σx, Σx² per arm in
    * decimal(38,0)) both [[welchT]] and [[powerMde]] assemble their
    * statistics from — ONE aggregation, shared so the null-arm and
    * headroom rules cannot drift between the pair (r13 review). */
  private def armMoments(df: DataFrame, value: Column,
                         isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    df.select(value.as("v"), isA.as("is_a"))
      .where(col("v").isNotNull)
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), dec(col("v"))).otherwise(dec(lit(0L)))).as("sa"),
        sum(when(!col("is_a"), dec(col("v"))).otherwise(dec(lit(0L)))).as("sb"),
        sum(when(col("is_a"), dec(col("v")) * dec(col("v")))
          .otherwise(dec(lit(0L)))).as("ssa"),
        sum(when(!col("is_a"), dec(col("v")) * dec(col("v")))
          .otherwise(dec(lit(0L)))).as("ssb"))
  }

  def welchT(df: DataFrame, value: Column, isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m = armMoments(df, value, isA)
    val nA = dec(col("n_a")); val nB = dec(col("n_b"))
    val numA = nA * col("ssa") - col("sa") * col("sa")
    val numB = nB * col("ssb") - col("sb") * col("sb")
    val qa = numA.cast("double") /
      (nA * nA * (nA - dec(lit(1L)))).cast("double")
    val qb = numB.cast("double") /
      (nB * nB * (nB - dec(lit(1L)))).cast("double")
    val t = (col("sa").cast("double") / nA.cast("double") -
      col("sb").cast("double") / nB.cast("double")) / sqrt(qa + qb)
    val dfW = (qa + qb) * (qa + qb) /
      (qa * qa / (nA - dec(lit(1L))).cast("double") +
        qb * qb / (nB - dec(lit(1L))).cast("double"))
    val bad = col("n_a") < 2L || col("n_b") < 2L ||
      (numA + numB) === dec(lit(0L))
    m.select(col("n_a"), col("n_b"),
      F.idiv(col("sa"), nA).cast("long").as("mean_a_c"),
      F.idiv(col("sb"), nB).cast("long").as("mean_b_c"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(t * lit(1000d) + lit(0.5d)).cast("long"))
        .as("t_milli"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(dfW * lit(1000d) + lit(0.5d)).cast("long"))
        .as("df_milli"))
      .withColumn("is_significant",
        when(col("t_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("t_milli")) > lit(1960L)).cast("int")))
  }

  /** q337: does mean purchase spend differ between the parity arms —
    * the q287 experiment re-read as a mean test (cent lattice). */
  def q337(s: SparkSession, d: String): DataFrame =
    welchT(Tables.events(s, d).filter(col("event_type") === "purchase"),
      cents(col("value")), col("user_id") % 2 === 0)

  /** STRATIFIED ATE (round 13) — post-stratification, the simplest
    * honest causal adjustment: when arms are imbalanced across a
    * covariate (heavy users land more often in one arm), the raw
    * difference-in-means confounds the treatment with the covariate;
    * stratifying on it and weighting per-stratum differences by
    * stratum mass removes exactly that confounder. Per stratum: arm
    * counts, exact milli means, diff_milli = ⌊1000·(s1·n0 − s0·n1) /
    * (n1·n0)⌋ (floored per stratum, the q338 discipline); the ALL row
    * is the mass-weighted combination over strata where BOTH arms are
    * present (one-armed strata report NULL diff and drop from the
    * estimate — n_effective says how much mass survived).
    *
    * Scale (100 TB): one unit-grain aggregation (the only corpus
    * shuffle), stratum-sized rollups, a strata-count fold. */
  def stratifiedAte(events: DataFrame, unit: String, arm: Column,
                    stratum: Column, valueCents: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perUser = events.select(col(unit).as("u"), arm.as("arm_"),
        stratum.as("st"), valueCents.as("vc"))
      .groupBy(col("u"))
      .agg(max(col("arm_").cast("int")).as("a"), max(col("st")).as("s"),
        sum(col("vc")).as("y"))
    val perStrat = perUser.groupBy(col("s").as("stratum"))
      .agg(sum(when(col("a") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("a") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("a") === 1, dec(col("y"))).otherwise(dec(lit(0L))))
          .as("s1"),
        sum(when(col("a") === 0, dec(col("y"))).otherwise(dec(lit(0L))))
          .as("s0"))
      .localCheckpoint() // strata-sized; feeds rows AND the ATE fold
    val rows = perStrat.select(col("stratum"), col("n1"), col("n0"),
      when(col("n1") === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(dec(lit(1000L)) * col("s1"), dec(col("n1")))
          .cast("long")).as("mean1_milli"),
      when(col("n0") === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(dec(lit(1000L)) * col("s0"), dec(col("n0")))
          .cast("long")).as("mean0_milli"),
      when(col("n1") === 0L || col("n0") === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(dec(lit(1000L)) *
          (col("s1") * dec(col("n0")) - col("s0") * dec(col("n1"))),
          dec(col("n1")) * dec(col("n0"))).cast("long")).as("diff_milli"))
    // the ALL row: mass-weighted ATE over both-armed strata, with the
    // surviving arm masses in n1/n0 (means stay NULL — a pooled mean
    // would re-admit the confounder this operator exists to remove)
    val ate = rows.filter(col("diff_milli").isNotNull)
      .agg(coalesce(sum(col("n1")), lit(0L)).as("e1"),
        coalesce(sum(col("n0")), lit(0L)).as("e0"),
        sum(dec(col("n1") + col("n0")) * dec(col("diff_milli"))).as("wsum"))
      .select(lit(null).cast(rows.schema("stratum").dataType).as("stratum"),
        col("e1").as("n1"), col("e0").as("n0"),
        lit(null).cast("long").as("mean1_milli"),
        lit(null).cast("long").as("mean0_milli"),
        when(col("e1") + col("e0") === 0L, lit(null).cast("long"))
          .otherwise(F.idiv(col("wsum"), dec(col("e1") + col("e0")))
            .cast("long")).as("diff_milli"))
    rows.unionByName(ate)
  }

  /** q347: purchase-spend ATE by user parity, stratified on the
    * user's activity band (⌊events/10⌋ capped at 5). */
  def q347(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val bands = e.groupBy(col("user_id"))
      .agg(least(F.idiv(count(lit(1)), lit(10L)), lit(5L)).as("band"))
    stratifiedAte(
      e.join(bands, "user_id"),
      "user_id", col("user_id") % 2, col("band"),
      when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(0L))
  }

  /** MANTEL–HAENSZEL POOLED ODDS RATIO (round 16) — the stratified
    * CATEGORICAL pooled effect the A/B stack is missing: q130's χ²
    * ignores confounders entirely, q347 stratifies MEANS; for a binary
    * treatment × binary outcome confounded by a stratifying variable,
    * the crude OR and the within-stratum ORs can sit on OPPOSITE sides
    * of 1 (Simpson's paradox), and OR_MH = Σ(aₖdₖ/nₖ) / Σ(bₖcₖ/nₖ) is
    * the standard fixed-effect pool that weights each stratum by its
    * information. Ships the full diagnostic in one table: per-stratum
    * 2×2 cells + OR, the CRUDE row (cells summed, strata ignored —
    * what a naive join would report), and the MH row — crude far from
    * MH IS the confounding read. Per-stratum OR and the crude OR are
    * exact decimal products under one idiv (micro); the MH terms are
    * per-stratum micro FLOORS ⌊10⁶aₖdₖ/nₖ⌋ summed exactly (the q201
    * per-term discipline — both engines floor identically), one final
    * idiv. Zero denominators read NULL, loud not wrong.
    *
    * Scale (100 TB): one unit-grain aggregation to |strata|×4 cells —
    * map-side partial, the rollup is strata-bounded. No joins. */
  def mantelHaenszel(units: DataFrame, stratum: Column, treat: Column,
                     outcome: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cells = units.select(stratum.cast("string").as("stratum"),
        treat.cast("int").as("t"), outcome.cast("int").as("y"))
      .groupBy(col("stratum"))
      .agg(sum((col("t") === 1 && col("y") === 1).cast("long")).as("a"),
        sum((col("t") === 1 && col("y") === 0).cast("long")).as("b"),
        sum((col("t") === 0 && col("y") === 1).cast("long")).as("c"),
        sum((col("t") === 0 && col("y") === 0).cast("long")).as("d"))
      .localCheckpoint() // strata-bounded; feeds 3 consumers below
    def orMicro(a: Column, b: Column, c: Column, d: Column): Column =
      when(b * c === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(dec(lit(1000000L)) * dec(a) * dec(d),
          dec(b) * dec(c)).cast("long"))
    val per = cells.select(col("stratum"), col("a"), col("b"), col("c"),
      col("d"), orMicro(col("a"), col("b"), col("c"), col("d"))
        .as("or_micro"))
    val n = col("a") + col("b") + col("c") + col("d")
    val folded = cells.agg(sum(col("a")).as("a"), sum(col("b")).as("b"),
      sum(col("c")).as("c"), sum(col("d")).as("d"),
      sum(F.idiv(dec(lit(1000000L)) * dec(col("a")) * dec(col("d")),
        dec(n)).cast("long")).as("r"),
      sum(F.idiv(dec(lit(1000000L)) * dec(col("b")) * dec(col("c")),
        dec(n)).cast("long")).as("s"))
    val crude = folded.select(lit("CRUDE").as("stratum"), col("a"),
      col("b"), col("c"), col("d"),
      orMicro(col("a"), col("b"), col("c"), col("d")).as("or_micro"))
    val mh = folded.select(lit("MH").as("stratum"), col("a"), col("b"),
      col("c"), col("d"),
      when(col("s") === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(dec(lit(1000000L)) * dec(col("r")),
          dec(col("s"))).cast("long")).as("or_micro"))
    per.unionByName(crude).unionByName(mh)
  }

  /** q414: heavy-clicker vs heavy-purchaser odds pooled across
    * activity bands at the user grain — total activity confounds both
    * flags (active users cross both thresholds more), so the CRUDE row
    * overstates the association the MH row adjusts away. */
  def q414(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("ne"),
        sum((col("event_type") === "click").cast("long")).as("nc"),
        sum((col("event_type") === "purchase").cast("long")).as("np"))
    mantelHaenszel(u, least(F.idiv(col("ne"), lit(20L)), lit(3L)),
      col("nc") > 13L, col("np") > 13L)
  }

  /** MINIMUM DETECTABLE EFFECT (round 13) — the experiment-DESIGN
    * member of the A/B stack: before a test runs (or when one reads
    * flat), the first question is "what effect size could this setup
    * even see?" MDE at α=5% two-sided / 80% power is
    * (z_α + z_β)·√(var_a/n_a + var_b/n_b) with the variance components
    * from exact decimal moments (the q337 machinery) and z constants
    * pinned (1.960, 0.842); reported absolute (milli-cents) and
    * relative to the pooled mean (bp). NULL on sub-2 arms or zero
    * variance.
    *
    * Scale: the q337 shape — one aggregation to six numbers. */
  def powerMde(df: DataFrame, value: Column, isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m = armMoments(df, value, isA)
    val nA = dec(col("n_a")); val nB = dec(col("n_b"))
    val numA = nA * col("ssa") - col("sa") * col("sa")
    val numB = nB * col("ssb") - col("sb") * col("sb")
    val qa = numA.cast("double") /
      (nA * nA * (nA - dec(lit(1L)))).cast("double")
    val qb = numB.cast("double") /
      (nB * nB * (nB - dec(lit(1L)))).cast("double")
    // ONE decimal literal (2.802), parsed identically by both engines
    // — a 1.960+0.842 runtime sum could differ from the oracle's
    // parsed literal by an ulp
    val mde = lit(2.802d) * sqrt(qa + qb)
    val pooledMean = (col("sa") + col("sb")).cast("double") /
      (nA + nB).cast("double")
    // zero total variance is the welchT degenerate-design sentinel:
    // an MDE of 0 would read "perfectly detectable" (r13 review)
    val bad = col("n_a") < 2L || col("n_b") < 2L ||
      (numA + numB) === dec(lit(0L))
    m.select(col("n_a"), col("n_b"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(mde * lit(1000d) + lit(0.5d)).cast("long"))
        .as("mde_milli"),
      when(bad || col("sa") + col("sb") === dec(lit(0L)),
        lit(null).cast("long"))
        .otherwise(floor(mde / pooledMean * lit(10000d) + lit(0.5d))
          .cast("long")).as("mde_rel_bp"))
  }

  /** q348: smallest purchase-spend lift the parity experiment could
    * detect at 80% power. */
  def q348(s: SparkSession, d: String): DataFrame =
    powerMde(Tables.events(s, d).filter(col("event_type") === "purchase"),
      cents(col("value")), col("user_id") % 2 === 0)

  /** CUPED VARIANCE REDUCTION (round 13) — the modern experimentation
    * workhorse: adjust each unit's outcome by its PRE-period covariate,
    * Y' = Y − θ·(X − X̄) with θ = cov(X,Y)/var(X), which removes the
    * between-user variance the pre-period already explains and shrinks
    * the A/B confidence interval by 1 − ρ² without touching the
    * treatment effect (E[Y'] per arm shifts both arms equally). The
    * calendar splits at its midpoint (integer datediff halving); X =
    * pre-period spend, Y = post-period spend per user. θ is an exact
    * integer milli ratio of decimal(38,0) moments, so the adjusted
    * means are pure integer arithmetic both engines replay; the
    * variance-reduction share 10⁴·ρ² is the one pinned-double boundary
    * (the q286 discipline). Reports per arm: n, raw and adjusted mean
    * (milli-cents), with θ and the reduction share carried on every
    * row (the q274 global-alongside convention).
    *
    * Scale (100 TB): one (user)-grain aggregation (the only corpus
    * shuffle), one 6-number moment fold, arm rollups over the user
    * table. Numerators stay within decimal(38,0) to ~10⁹ users ×
    * ~10¹² cents — the documented headroom. */
  def cuped(events: DataFrame, unit: String, arm: Column, ts: Column,
            valueCents: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val d0 = events.select(col(unit).as("u"), arm.as("arm_"),
      ts.cast("date").as("dy"), valueCents.as("vc"))
    // integer halving (FLOOR on both engines — a double/2 cast would
    // round in DuckDB and truncate in Spark on odd spans)
    val bounds = d0.agg(min(col("dy")).as("d_min"), max(col("dy")).as("d_max"))
      .select(col("d_min"),
        expr("date_add(d_min, CAST(FLOOR(datediff(d_max, d_min) / 2) AS INT))")
          .as("pivot"))
    val perUser = d0.crossJoin(broadcast(bounds))
      .groupBy(col("u"))
      .agg(max(col("arm_").cast("int")).as("a"),
        sum(when(col("dy") <= col("pivot"), col("vc")).otherwise(0L)).as("x"),
        sum(when(col("dy") > col("pivot"), col("vc")).otherwise(0L)).as("y"))
      .localCheckpoint() // feeds the moment fold AND the arm rollup
    val mom = perUser.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val n = dec(col("n"))
    val covN = n * col("sxy") - col("sx") * col("sy")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val varY = n * col("syy") - col("sy") * col("sy")
    val glob = mom.select(col("n"), col("sx"),
      when(varX === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(F.idiv(dec(lit(1000L)) * covN, varX).cast("long"))
        .as("theta_milli"),
      when(varX === dec(lit(0L)) || varY === dec(lit(0L)),
        lit(null).cast("long"))
        .otherwise(floor(lit(10000d) *
          (covN.cast("double") * covN.cast("double")) /
          (varX.cast("double") * varY.cast("double")) + lit(0.5d))
          .cast("long")).as("var_reduction_bp"))
    val arms = perUser.groupBy(col("a").as("arm"))
      .agg(count(lit(1)).as("n_arm"),
        sum(dec(col("x"))).as("sxa"), sum(dec(col("y"))).as("sya"))
    arms.crossJoin(broadcast(glob))
      .select(col("arm").cast("long").as("arm"), col("n_arm"),
        F.idiv(dec(lit(1000L)) * col("sya"), dec(col("n_arm")))
          .cast("long").as("mean_y_milli"),
        when(col("theta_milli").isNull, lit(null).cast("long"))
          .otherwise(F.idiv(dec(lit(1000L)) *
            (dec(lit(1000L)) * col("sya") * n -
              dec(col("theta_milli")) *
                (col("sxa") * n - col("sx") * dec(col("n_arm")))),
            dec(lit(1000L)) * dec(col("n_arm")) * n).cast("long"))
          .as("mean_adj_milli"),
        col("theta_milli"), col("var_reduction_bp"))
  }

  /** q339: CUPED over event users — pre/post spend split at the
    * calendar midpoint, arms by user parity. */
  def q339(s: SparkSession, d: String): DataFrame =
    cuped(Tables.events(s, d), "user_id", col("user_id") % 2,
      col("ts"), cents(col("value")))

  /** q209: big-purchase (> $150) conversion, arms by user-id parity —
    * the value threshold keeps conversion strictly inside (0, 1) at
    * every SF (a universally-converting corpus would zero the pooled
    * standard error). */
  def q209(s: SparkSession, d: String): DataFrame =
    abTest(Tables.events(s, d), "user_id", col("user_id") % 2,
      col("event_type") === "purchase" && col("value") > 150d)

  /** q185: audience overlap between event types (distinct users),
    * sketch estimates + exact audit columns. */
  def q185(s: SparkSession, d: String): DataFrame =
    kmvOverlap(Tables.events(s, d), "event_type", "user_id")

  /** CROSS-DAY RETENTION FROM STORED SKETCHES (round 11; the
    * set-DIFFERENCE member of the sketch family, closing what the
    * q175 store scaladoc documents as unrecoverable): per consecutive
    * day pair (A = day, B = day+1), retained |A∩B|, churned |A∖B| and
    * new |B∖A| distinct keys estimated from the per-day KMV sketches
    * ALONE — the theta-cut discipline: the union's k smallest slots
    * (θ = the k-th) are an unbiased sample of A∪B, so counting slots
    * by membership side (both / A-only / B-only) and scaling each by
    * |A∪B|_est ÷ kEff estimates every region of the Venn diagram, not
    * just the union — this is exactly the theta-sketch generalization
    * of KMV. All integer arithmetic (truncating idiv over decimal),
    * so sketch contents AND every estimate replay in any engine.
    * Exact audit columns ride along (per-user day-pair membership —
    * one corpus-distinct shuffle for all pairs).
    *
    * Scale (100 TB): sketches via dailySketches (map-side partial
    * KmvMinAgg, O(days·k) exchange); the pair join is days-sized with
    * O(k) array work per pair. The exact audit aggregates the
    * distinct (key, day-set) projection once and explodes ≤ 2·|days|
    * membership rows per key — at deployment scale the audit columns
    * drop and ONLY the stored sketches are read (the q175 range-query
    * discipline: the raw corpus is never rescanned). */
  def kmvRetention(events: DataFrame, day: Column, key: String,
                   k: Int = 256): DataFrame = {
    val FLIP = lit(Long.MinValue)
    def flipped(c: Column): Column = transform(c, x => x.bitwiseXOR(FLIP))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val daily = dailySketches(events, day, key, k).localCheckpoint()
    val a = daily.select(col("day").as("day_a"), flipped(col("mins")).as("ma"),
      col("n_exact").as("n_a_exact"))
    val b = daily.select(col("day").as("day_b"), flipped(col("mins")).as("mb"),
      col("n_exact").as("n_b_exact"))
    val pairs = a.join(b, col("day_b") === date_add(col("day_a"), 1))
      .withColumn("u", array_sort(array_distinct(concat(col("ma"), col("mb")))))
      .withColumn("keff", least(lit(k), size(col("u"))).cast("long"))
      .withColumn("uk", slice(col("u"), 1, k))
      .withColumn("c_both", size(filter(col("uk"), h =>
        array_contains(col("ma"), h) && array_contains(col("mb"), h)))
        .cast("long"))
      .withColumn("c_a_only", size(filter(col("uk"), h =>
        array_contains(col("ma"), h) && !array_contains(col("mb"), h)))
        .cast("long"))
      .withColumn("c_b_only", col("keff") - col("c_both") - col("c_a_only"))
      .withColumn("n_union_est", kmvEstimate(flipped(col("u")), k))
    // exact audit: per (key, pair) membership from each key's day set —
    // a key emits its own days (in_a side) plus day−1 rows for days
    // whose predecessor it lacks (pure in_b side); invalid calendar
    // pairs drop at the join with the pair table
    val userDays = events.select(day.as("day"), col(key).as("k_")).distinct()
      .groupBy(col("k_")).agg(collect_set(col("day")).as("ds"))
    val memb = userDays.select(col("k_"), explode(col("ds")).as("x"),
        col("ds"))
      .select(col("k_"),
        explode(array(
          struct(col("x").as("day_a"), lit(1).as("in_a"),
            when(array_contains(col("ds"), date_add(col("x"), 1)), lit(1))
              .otherwise(lit(0)).as("in_b")),
          struct(date_add(col("x"), -1).as("day_a"), lit(0).as("in_a"),
            when(array_contains(col("ds"), date_add(col("x"), -1)), lit(-1))
              .otherwise(lit(1)).as("in_b")))).as("m"))
      .filter(col("m.in_b") >= 0) // drop the marker rows (predecessor present)
    val exact = memb
      .groupBy(col("m.day_a").as("day_a"))
      .agg(sum(col("m.in_a") * col("m.in_b")).as("retained_exact"),
        sum(col("m.in_a") * (lit(1) - col("m.in_b"))).as("churned_exact"),
        sum((lit(1) - col("m.in_a")) * col("m.in_b")).as("new_exact"))
    pairs.join(exact, Seq("day_a"), "left")
      .select(date_format(col("day_a"), "yyyy-MM-dd").as("day"),
        col("n_a_exact"), col("n_b_exact"),
        coalesce(col("retained_exact"), lit(0L)).as("retained_exact"),
        coalesce(col("churned_exact"), lit(0L)).as("churned_exact"),
        coalesce(col("new_exact"), lit(0L)).as("new_exact"),
        col("n_union_est"),
        F.idiv(dec(col("c_both")) * dec(col("n_union_est")), dec(col("keff")))
          .cast("long").as("retained_est"),
        F.idiv(dec(col("c_a_only")) * dec(col("n_union_est")), dec(col("keff")))
          .cast("long").as("churned_est"),
        F.idiv(dec(col("c_b_only")) * dec(col("n_union_est")), dec(col("keff")))
          .cast("long").as("new_est"))
  }

  /** q249: day-over-day retained/churned/new distinct users from the
    * stored per-day KMV sketches, with exact audit columns. */
  def q249(s: SparkSession, d: String): DataFrame =
    kmvRetention(Tables.events(s, d), to_date(col("ts")), "user_id")

  /** AUTOCORRELATION DIAGNOSTICS (round 11): per-series ACF at lags
    * 1..maxLag — the seasonality detector the q149 weekday-baseline
    * and q225 Holt operators assume but never measure (a lag-7 spike
    * says "weekly cycle: season your baselines"; slow decay says
    * "trend: difference before modeling"; all-noise says the q123
    * rate monitor's i.i.d. assumption holds). Exact integer end to
    * end: the mean enters as one truncating milli division, residuals
    * d_t = 1000·x_t − x̄_milli are exact longs, numerator and
    * denominator are decimal(38,0) sums of their products, and
    * acf_bp = ⌊10⁴·num/den⌋ by the signed-agreeing F.idiv — two
    * engines cannot disagree by a bit, including on NEGATIVE
    * autocorrelations.
    *
    * Scale (100 TB of events): the aggregation to (series, day) rows
    * is the only corpus-sized shuffle; the series tables are
    * calendar-bounded, so the lag self-join and the per-lag rollup
    * run on days·|series| rows. */
  def acfDiagnostics(events: DataFrame, series: String, day: Column,
                     maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1)
    val daily = events.groupBy(col(series).as("s"), day.as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .select(col("s"),
        col("n"), F.idiv(lit(1000L) * col("sx"), col("n")).as("xbar_milli"))
    val dev = daily.join(broadcast(stats), "s")
      .select(col("s"), col("n"), col("day"),
        (lit(1000L) * col("x") - col("xbar_milli")).as("d"))
      .localCheckpoint() // bounded (days·|series|); joins itself per lag
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val den = dev.groupBy(col("s"))
      .agg(sum(dec(col("d")) * dec(col("d"))).as("den"), max(col("n")).as("n"))
    // CALENDAR-day lags (the q255 convention): a series with a missing
    // day must not compress the gap — index-based lagging would smear
    // the lag-7 weekly signal around every hole
    val lagged = dev.select(col("s"), col("day"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"), col("d")).as("l")
      .join(dev.select(col("s"), col("day").as("day2"), col("d").as("d2")).as("r"),
        col("l.s") === col("r.s") &&
          col("r.day2") === date_add(col("l.day"), col("l.lag")))
      .select(col("l.s").as("s"), col("l.lag").as("lag"),
        col("l.d").as("d"), col("d2"))
    val num = lagged.groupBy(col("s"), col("lag"))
      .agg(sum(dec(col("d")) * dec(col("d2"))).as("num"))
    num.join(broadcast(den), "s")
      .select(col("s").as(series), col("lag").cast("long").as("lag"),
        col("n").as("n_days"),
        F.idiv(dec(lit(10000L)) * col("num"), col("den"))
          .cast("long").as("acf_bp"))
  }

  /** q254: per-event-type daily-count ACF at lags 1..7. */
  def q254(s: SparkSession, d: String): DataFrame =
    acfDiagnostics(Tables.events(s, d), "event_type", to_date(col("ts")))

  /** Durbin–Levinson over bp-quantized ACF values: pacf(k) in bp for
    * k = 1..maxLag, every intermediate φ in bp with truncating idiv
    * (the deterministic quantized recurrence both engines replay; a
    * zero denominator — a perfectly predictable series — reports 0
    * partial correlation at that and later steps, a documented
    * sentinel, never a crash). Pure integer driver math over maxLag
    * values — the anisotropy/lg64 model-sized-fold convention. */
  private[graft] def durbinLevinson(r: Seq[Long], maxLag: Int): Seq[Long] = {
    val S = 10000L
    val phi = Array.ofDim[Long](maxLag + 1, maxLag + 1)
    val out = Array.ofDim[Long](maxLag + 1)
    if (maxLag >= 1) { phi(1)(1) = r(1); out(1) = r(1) }
    for (k <- 2 to maxLag) {
      var num = S * r(k)
      var den = S * S
      for (j <- 1 until k) {
        num -= phi(k - 1)(j) * r(k - j)
        den -= phi(k - 1)(j) * r(j)
      }
      // JVM long division truncates toward zero — exactly idiv and
      // DuckDB's // (verified convention)
      val pkk = if (den == 0L) 0L else num * S / den
      phi(k)(k) = pkk
      for (j <- 1 until k)
        phi(k)(j) = phi(k - 1)(j) - pkk * phi(k - 1)(k - j) / S
      out(k) = pkk
    }
    out.drop(1).toSeq
  }

  /** PACF DIAGNOSTICS (round 12) — the other half of the Box–Jenkins
    * identification pair: q254's ACF says WHICH lags correlate, the
    * PARTIAL autocorrelation says which do so DIRECTLY once shorter
    * lags are controlled for (AR(p) shows p significant PACF spikes
    * then nothing — the number a forecaster reads off before fitting
    * q300's model). Computed by Durbin–Levinson over the TOTAL daily
    * series' bp-quantized ACF — the contract is "PACF of the quantized
    * ACF" (the per-term flooring discipline applied to a recurrence),
    * so the integer recurrence replays bit-for-bit in SQL.
    *
    * Scale: the corpus reduces to the day-grain series (q254's one
    * aggregation); ACF is day-table work; DL folds maxLag values on
    * the driver (model-sized). */
  def pacfDiagnostics(events: DataFrame, day: Column,
                      maxLag: Int = 7): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val acf = acfDiagnostics(events.withColumn("all", lit("all")),
        "all", day, maxLag)
      .select(col("lag"), col("acf_bp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a series spanning fewer than maxLag+1 calendar days has no
    // lagged pair at some k — the oracle's lag join yields NULL acf
    // there and NULL propagates through its DL unroll, so mirror that
    // instead of throwing (r12 advice): pacf is computed through the
    // longest contiguous prefix of present lags, NULL after it
    val present = (1 to maxLag).takeWhile(k => acf.contains(k.toLong)).size
    val r = (0 to present).map(k => if (k == 0) 10000L else acf(k.toLong))
    val pacf = durbinLevinson(r, present)
    (1 to maxLag).map { k =>
      val pk: Option[Long] = if (k <= present) Some(pacf(k - 1)) else None
      (k.toLong, acf.get(k.toLong), pk)
    }.toDF("lag", "acf_bp", "pacf_bp")
  }

  /** q334: ACF + PACF of the total daily event count, lags 1..7. */
  def q334(s: SparkSession, d: String): DataFrame =
    pacfDiagnostics(Tables.events(s, d), to_date(col("ts")))

  /** CROSS-CORRELATION (CCF) between series pairs at lags −3..+3
    * (round 11; q254's ACF turned pairwise): does one event stream
    * LEAD another — "views lead purchases by 2 days" is
    * ccf(views, purchases) peaking at lag +2, the signal a funnel
    * model (q35/q134) turns into horizon choices and a capacity
    * planner reads as advance warning. Residuals come off each
    * series' own truncating milli mean (the q254 discipline);
    * alignment is by CALENDAR day (series with gaps pair only where
    * both sides exist — n_overlap reports how much support each
    * estimate has). The normalizer is isqrt(den_a)·isqrt(den_b) —
    * integer square roots, double-candidate ±1-corrected, so the
    * value is engine-exact by CONSTRUCTION (a true √(den·den) differs
    * by ≤ 2·10⁻⁷ relative at these magnitudes; the convention is
    * documented rather than floating).
    *
    * Scale: same as q254 — one corpus aggregation, then
    * |series|²·lags work on calendar-bounded tables. */
  def ccfDiagnostics(events: DataFrame, series: String, day: Column,
                     maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1)
    val daily = events.groupBy(col(series).as("s"), day.as("day"))
      .agg(count(lit(1)).as("x"))
    val stats = daily.groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .select(col("s"), F.idiv(lit(1000L) * col("sx"), col("n")).as("xbar_milli"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val dev = daily.join(broadcast(stats), "s")
      .select(col("s"), col("day"),
        (lit(1000L) * col("x") - col("xbar_milli")).as("d"))
      .localCheckpoint() // calendar-bounded; feeds den + both pair sides
    def isqrtL(c: Column): Column = F.isqrtLong(c)
    // decimal(38,0) like q254's den: d ~ 1e10 milli residuals square
    // past a long, and the oracle's HUGEINT stays exact
    val den = dev.groupBy(col("s"))
      .agg(sum(dec(col("d")) * dec(col("d"))).as("ss"))
      .select(col("s"), isqrtL(col("ss")).as("isq"))
    val lags = explode(sequence(lit(-maxLag), lit(maxLag))).as("lag")
    val pairs = dev.select(col("s").as("sa"), col("day"), col("d").as("da"))
      .select(col("sa"), col("day"), col("da"), lags).as("l")
      .join(dev.select(col("s").as("sb"), col("day").as("day_b"),
        col("d").as("db")).as("r"),
        col("sa") < col("sb") &&
          col("day_b") === date_add(col("day"), col("lag")))
      .groupBy(col("sa"), col("sb"), col("lag"))
      .agg(count(lit(1)).as("n_overlap"),
        sum(dec(col("da")) * dec(col("db"))).as("num"))
    pairs.join(broadcast(den.select(col("s").as("sa"), col("isq").as("qa"))), "sa")
      .join(broadcast(den.select(col("s").as("sb"), col("isq").as("qb"))), "sb")
      .select(col("sa").as("series_a"), col("sb").as("series_b"),
        col("lag").cast("long").as("lag"), col("n_overlap"),
        F.idiv(dec(lit(10000L)) * col("num"), dec(col("qa")) * dec(col("qb")))
          .cast("long").as("ccf_bp"))
  }

  /** q255: pairwise event-type CCF at lags −3..+3. */
  def q255(s: SparkSession, d: String): DataFrame =
    ccfDiagnostics(Tables.events(s, d), "event_type", to_date(col("ts")))

  /** CHANGEPOINT SCAN (round 11; one-split binary segmentation): the
    * day that best splits each series into two regimes — argmax over
    * split points of the between-segment variance gain
    * S_l²/n_l + S_r²/n_r (the constant S²/N drops out of the argmax),
    * evaluated as one exact-integer expression per candidate:
    * gain_micro = ⌊10⁶·(S_l²·n_r + S_r²·n_l)/(n_l·n_r)⌋ — prefix sums
    * from one bounded window, decimal products, one truncating
    * division, ties to the earliest day. Where q151's CUSUM flags
    * that a shift happened, this names WHEN and by how much
    * (mean_left/right) — the first question an on-call asks.
    *
    * Scale: the corpus aggregates to (series, day); everything after
    * is calendar-bounded windows. */
  def changepointScan(events: DataFrame, series: String,
                      day: Column): DataFrame = {
    val daily = events.groupBy(col(series).as("s"), day.as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("s")).orderBy(col("day"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val pre = daily
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("sl", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("s"))))
      .withColumn("st", sum(col("x")).over(Window.partitionBy(col("s"))))
      .filter(col("i") < col("n")) // split AFTER day i; last day cannot split
    val scored = pre.select(col("s"), col("day"), col("i"), col("n"),
        col("sl"), (col("st") - col("sl")).as("sr"))
      .withColumn("gain_micro", F.idiv(
        dec(lit(1000000L)) * (dec(col("sl")) * dec(col("sl")) * dec(col("n") - col("i")) +
          dec(col("sr")) * dec(col("sr")) * dec(col("i"))),
        dec(col("i")) * dec(col("n") - col("i"))).cast("long"))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("s"))
        .orderBy(col("gain_micro").desc, col("day").asc)))
      .filter(col("rk") === 1)
      .select(col("s").as(series),
        date_format(col("day"), "yyyy-MM-dd").as("split_day"),
        col("i").as("n_left"), (col("n") - col("i")).as("n_right"),
        F.idiv(lit(1000L) * col("sl"), col("i")).as("mean_left_milli"),
        F.idiv(lit(1000L) * col("sr"), col("n") - col("i")).as("mean_right_milli"),
        col("gain_micro"))
  }

  /** q256: best single regime split per event-type daily series. */
  def q256(s: SparkSession, d: String): DataFrame =
    changepointScan(Tables.events(s, d), "event_type", to_date(col("ts")))

  /** TEMPORAL SPLIT + IDENTITY-LEAKAGE AUDIT (round 11): the
    * time-based train/val/test assignment an event-sequence model
    * needs (q100's hash split is the right tool for i.i.d. documents;
    * for temporal data it LEAKS the future into training), plus the
    * audit hash splits never need: the same user appearing on both
    * sides of a time cut lets a model score identity memorization as
    * forecasting skill, so the three pairwise user overlaps are
    * first-class output rows — the reviewer's number, not a footnote.
    * Cuts are [−∞,t1) / [t1,t2) / [t2,∞) on the day grain.
    *
    * Scale (100 TB): segment tagging is a map-side CASE; one
    * aggregation for the per-split masses, one distinct-projection
    * aggregation for the per-user presence flags (both map-side
    * partial); the overlap rollup runs on one row per user. */
  def temporalSplit(events: DataFrame, user: String, day: Column,
                    t1: String, t2: String): DataFrame = {
    require(t1 < t2, s"cut order: $t1 !< $t2")
    val seg = when(day < lit(t1).cast("date"), "train")
      .when(day < lit(t2).cast("date"), "val").otherwise("test")
    val tagged = events.select(seg.as("segment"), col(user).as("u"))
    val base = tagged.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_events"), count_distinct(col("u")).as("n_users"))
    val flags = tagged.distinct().groupBy(col("u"))
      .agg(max(when(col("segment") === "train", 1).otherwise(0)).as("tr"),
        max(when(col("segment") === "val", 1).otherwise(0)).as("va"),
        max(when(col("segment") === "test", 1).otherwise(0)).as("te"))
    val inter = flags.agg(
      sum(col("tr") * col("va")).as("tv"),
      sum(col("tr") * col("te")).as("tt"),
      sum(col("va") * col("te")).as("vt"))
    val leak = inter.select(explode(array(
        struct(lit("train^val").as("segment"), lit(0L).as("n_events"),
          col("tv").cast("long").as("n_users")),
        struct(lit("train^test").as("segment"), lit(0L).as("n_events"),
          col("tt").cast("long").as("n_users")),
        struct(lit("val^test").as("segment"), lit(0L).as("n_events"),
          col("vt").cast("long").as("n_users")))).as("r"))
      .select(col("r.segment"), col("r.n_events"), col("r.n_users"))
    base.unionByName(leak)
  }

  /** q258: 60/20/20-ish temporal split of the event stream with the
    * user-overlap leakage rows. */
  def q258(s: SparkSession, d: String): DataFrame =
    temporalSplit(Tables.events(s, d), "user_id", to_date(col("ts")),
      "2024-01-19", "2024-01-25")

  /** SEMI-STRUCTURED FIELD-COVERAGE AUDIT (round 11): the governance
    * report for a JSON properties column — per (record type, field):
    * presence count, coverage in bp, distinct values, and numeric
    * min/max when every present value parses as an integer. q152
    * audits the DECLARED schema's drift; this audits the UNDECLARED
    * one — the payload fields producers actually send, where contract
    * rot first shows (a field's coverage sliding from 10000 bp, a
    * "numeric" field growing a non-numeric variant). Dynamic keys via
    * from_json to map<string,string> (no per-field literal paths), so
    * new fields appear in the report the day they appear in the data.
    *
    * Scale (100 TB): one map-side parse + explode (rows × field
    * count), one aggregation to (type, field) grain; totals broadcast
    * back. Swap count_distinct for the KMV/HLL sketch at deployment
    * if a field's value domain is corpus-sized. */
  def propsCoverage(events: DataFrame, recType: String,
                    props: Column): DataFrame = {
    val tot = events.groupBy(col(recType).as("t_"))
      .agg(count(lit(1)).as("cnt"))
    val kv = events
      .select(col(recType).as("t_"),
        explode(from_json(props, org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))).as(Seq("field", "v")))
    val isNum = col("v").rlike("^-?[0-9]+$")
    kv.groupBy(col("t_"), col("field"))
      .agg(count(lit(1)).as("n_present"),
        count_distinct(col("v")).as("n_distinct_vals"),
        min(when(isNum, lit(1)).otherwise(lit(0))).as("all_numeric"),
        min(when(isNum, col("v").cast("long"))).as("min_num"),
        max(when(isNum, col("v").cast("long"))).as("max_num"))
      .join(broadcast(tot), "t_")
      .select(col("t_").as(recType), col("field"), col("n_present"),
        graft.functions.F.idiv(lit(10000L) * col("n_present"), col("cnt"))
          .as("coverage_bp"),
        col("n_distinct_vals"), col("all_numeric").cast("int").as("all_numeric"),
        when(col("all_numeric") === 1, col("min_num")).as("min_num"),
        when(col("all_numeric") === 1, col("max_num")).as("max_num"))
  }

  /** q259: field coverage of the event props payload per event type. */
  def q259(s: SparkSession, d: String): DataFrame =
    propsCoverage(Tables.events(s, d), "event_type", col("props"))

  /** ACTIVITY CALENDAR (round 11): the (weekday × hour) load heatmap
    * per series with each cell's deviation from the series' uniform
    * share in bp — the capacity-planning / alerting-baseline view
    * (q149 corrects for weekday seasonality one day at a time; this
    * is the whole calendar an on-call pins above the desk, and the
    * per-cell baseline the q123 rate monitor should be fed in place
    * of a flat one). dev_bp > 0 = hotter than uniform. Exact
    * integers: share and deviation by truncating division against
    * n·cells.
    *
    * Scale: one corpus aggregation to ≤ series·168 cells. */
  def activityCalendar(events: DataFrame, series: String,
                       ts: Column): DataFrame = {
    val cells = events
      .groupBy(col(series).as("s"), dayofweek(ts).as("dow"),
        hour(ts).as("hod"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy(col("s")).agg(sum(col("n")).as("n_tot"))
    cells.join(broadcast(tot), "s")
      .select(col("s").as(series), col("dow").cast("long").as("dow"),
        col("hod").cast("long").as("hod"), col("n"),
        // cell share − uniform share, in bp of uniform (24·7 cells):
        // 10⁴·(n·168 − n_tot) / n_tot, truncating — engine-exact
        F.idiv(lit(10000L) * (col("n") * lit(168L) - col("n_tot")),
          col("n_tot")).as("dev_bp"))
  }

  /** q265: the per-event-type weekday × hour calendar. */
  def q265(s: SparkSession, d: String): DataFrame =
    activityCalendar(Tables.events(s, d), "event_type", col("ts"))

  /** WINSORIZATION AUDIT (round 11): what clipping a value column to
    * its per-group [p_lo, p_hi] percentile band WOULD do, before
    * anyone mutates data — per group: the exact discrete-percentile
    * caps (actual data points, so both engines agree bit-for-bit —
    * the q99/q248 percentile_disc convention), rows clipped on each
    * side, and the cents mass the clip moves. The pre-flight for
    * every mean-based metric feeding q204/q208: if clip_mass is a
    * large share of total mass, the mean is an outlier artifact and
    * the robust q67/q128 path should be used instead.
    *
    * Scale (100 TB): percentile_disc aggregates (group, value) scalar
    * pairs; caps broadcast back; the audit is one map-side pass. At
    * deployment swap approx_percentile — the plan shape holds (the
    * q99 note). */
  def winsorAudit(events: DataFrame, group: String, yCents: Column,
                  pLo: Double, pHi: Double): DataFrame = {
    require(pLo < pHi)
    val y = events.select(col(group).as("g"), yCents.as("y"))
    val caps = y.groupBy(col("g"))
      .agg(expr(s"percentile_disc($pLo) WITHIN GROUP (ORDER BY y)")
          .cast("long").as("cap_lo"),
        expr(s"percentile_disc($pHi) WITHIN GROUP (ORDER BY y)")
          .cast("long").as("cap_hi"))
    y.join(broadcast(caps), "g")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        max(col("cap_lo")).as("cap_lo_cents"),
        max(col("cap_hi")).as("cap_hi_cents"),
        sum(when(col("y") < col("cap_lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("y") > col("cap_hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(when(col("y") < col("cap_lo"), col("cap_lo") - col("y"))
          .when(col("y") > col("cap_hi"), col("y") - col("cap_hi"))
          .otherwise(0L)).as("clip_mass_cents"))
      .select(col("g").as(group), col("n"), col("cap_lo_cents"),
        col("cap_hi_cents"), col("n_clip_lo"), col("n_clip_hi"),
        col("clip_mass_cents"))
  }

  /** q266: the [p01, p99] winsorization pre-flight on event values. */
  def q266(s: SparkSession, d: String): DataFrame =
    winsorAudit(Tables.events(s, d), "event_type", cents(col("value")),
      0.01, 0.99)

  /** TOST EQUIVALENCE TEST (round 15) — the A/B family's missing
    * DIRECTION: every test so far detects a DIFFERENCE (q337 mean,
    * q287 location, q359 spread), but a no-regression launch needs the
    * opposite verdict — "the arms are the SAME within a margin δ" —
    * and absence-of-significance is NOT that (an underpowered test
    * "passes" anything). Two One-Sided Tests: reject "diff ≤ −δ" AND
    * reject "diff ≥ +δ", i.e. z_lo = (diff+δ)/se > 1.645 and
    * z_hi = (diff−δ)/se < −1.645 (α=0.05 each side; the 90% CI-inside-
    * margin reading).
    *
    * Built on [[welchT]]'s exact moment machinery: one shared
    * aggregation to per-arm (n, Σx, Σx²) decimals, the margin an
    * EXACT integer — relMilli thousandths of the pooled mean by one
    * truncating idiv — and the two z's assembled in ONE pinned double
    * order each (the q287 z_milli discipline). NULL verdict when
    * either arm has < 2 units or both variances are 0.
    *
    * Scale (100 TB): identical to q337 — the corpus shuffles three
    * numbers per task per arm, then a one-row fold. */
  def tost(df: DataFrame, value: Column, isA: Column,
           relMilli: Long): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m = armMoments(df, value, isA)
    val nA = dec(col("n_a")); val nB = dec(col("n_b"))
    val numA = nA * col("ssa") - col("sa") * col("sa")
    val numB = nB * col("ssb") - col("sb") * col("sb")
    val qa = numA.cast("double") /
      (nA * nA * (nA - dec(lit(1L)))).cast("double")
    val qb = numB.cast("double") /
      (nB * nB * (nB - dec(lit(1L)))).cast("double")
    val marginC = F.idiv(dec(lit(relMilli)) * (col("sa") + col("sb")),
      dec(lit(1000L)) * (nA + nB))
    val diff = col("sa").cast("double") / nA.cast("double") -
      col("sb").cast("double") / nB.cast("double")
    val se = sqrt(qa + qb)
    val zLo = floor((diff + marginC.cast("double")) / se * lit(1000d) +
      lit(0.5d)).cast("long")
    val zHi = floor((diff - marginC.cast("double")) / se * lit(1000d) +
      lit(0.5d)).cast("long")
    val bad = col("n_a") < 2L || col("n_b") < 2L ||
      (numA + numB) === dec(lit(0L))
    m.select(col("n_a"), col("n_b"),
      F.idiv(col("sa"), nA).cast("long").as("mean_a_c"),
      F.idiv(col("sb"), nB).cast("long").as("mean_b_c"),
      marginC.cast("long").as("margin_c"),
      when(bad, lit(null).cast("long")).otherwise(zLo).as("z_lo_milli"),
      when(bad, lit(null).cast("long")).otherwise(zHi).as("z_hi_milli"))
      .withColumn("is_equivalent",
        when(col("z_lo_milli").isNull, lit(null).cast("int"))
          .otherwise((col("z_lo_milli") > lit(1645L) &&
            col("z_hi_milli") < lit(-1645L)).cast("int")))
  }

  /** q383: are the parity arms' purchase spends EQUIVALENT within 10%
    * of the pooled mean — the no-regression gate q337 cannot give. */
  def q383(s: SparkSession, d: String): DataFrame =
    tost(Tables.events(s, d).filter(col("event_type") === "purchase"),
      cents(col("value")), col("user_id") % 2 === 0, 100L)

  /** SPRT EARLY-STOPPING AUDIT (round 15) — Wald's sequential
    * probability ratio test over the experiment's own day sequence:
    * fixed-horizon tests (q209/q337) must not be peeked at, but
    * product teams peek anyway — SPRT is the test that is VALID under
    * continuous monitoring, and this audit replays the experiment
    * day by day and reports when it could have stopped.
    *
    * Hypotheses, derived deterministically from the CONTROL arm: p₀ =
    * the control conversion rate in exact bp (one idiv), p₁ = a +20%
    * relative lift (⌊12·p₀/10⌋, clamped into (0, 10000)). Each
    * treatment conversion contributes ln(p₁/p₀), each miss
    * ln((1−p₁)/(1−p₀)) — both constants discretized ONCE to micro
    * from the same integer bp inputs (two pinned doubles total; every
    * cumulative value after that is exact integer arithmetic:
    * llr = K·c₁ + (N−K)·c₀). Boundaries ±ln(19) micro (α = β = 0.05).
    * Per day: cumulative trials/conversions, llr_micro, and the
    * decision — accept_h1 (lift real, stop), accept_h0 (no lift,
    * stop), continue.
    *
    * Scale (100 TB): one (arm, day)-grain aggregation, a bounded
    * calendar window for the cumulative sums, map work for the rest. */
  def sprtAudit(events: DataFrame, isTreatment: Column, isSuccess: Column,
                ts: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val d0 = events.select(isTreatment.as("trt"), isSuccess.as("ok"),
      ts.cast("date").as("dy"))
    val ctl = d0.filter(!col("trt"))
      .agg(F.idiv(lit(10000L) * sum(when(col("ok"), 1L).otherwise(0L)),
        count(lit(1))).as("p0_bp"))
      .select(greatest(least(col("p0_bp"), lit(9999L)), lit(1L)).as("p0_bp"))
      .withColumn("p1_bp",
        greatest(least(F.idiv(lit(12L) * col("p0_bp"), lit(10L)),
          lit(9999L)), lit(1L)))
      .withColumn("c1_micro", floor((log(col("p1_bp").cast("double")) -
        log(col("p0_bp").cast("double"))) * lit(1000000d) + lit(0.5d))
        .cast("long"))
      .withColumn("c0_micro", floor(
        (log(lit(10000d) - col("p1_bp").cast("double")) -
          log(lit(10000d) - col("p0_bp").cast("double"))) * lit(1000000d) +
        lit(0.5d)).cast("long"))
    val perDay = d0.filter(col("trt"))
      .groupBy(col("dy"))
      .agg(count(lit(1)).as("n_d"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("k_d"))
    val w = Window.orderBy(col("dy").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bound = 2944439L // floor(1e6*ln(19)+0.5): alpha = beta = 0.05
    perDay
      .withColumn("n_cum", sum(col("n_d")).over(w))
      .withColumn("k_cum", sum(col("k_d")).over(w))
      .crossJoin(broadcast(ctl))
      .select(col("dy").cast("string").as("day"),
        col("n_cum"), col("k_cum"), col("p0_bp"), col("p1_bp"),
        (dec(col("k_cum")) * dec(col("c1_micro")) +
          dec(col("n_cum") - col("k_cum")) * dec(col("c0_micro")))
          .cast("long").as("llr_micro"))
      .withColumn("decision",
        when(col("llr_micro") >= lit(bound), lit("accept_h1"))
          .when(col("llr_micro") <= lit(-bound), lit("accept_h0"))
          .otherwise(lit("continue")))
  }

  /** q384: could the parity experiment have stopped early — SPRT over
    * big-purchase (> $150, the q209 convention) conversion, control =
    * even users, treatment = odd, day-by-day llr vs ±ln 19. */
  def q384(s: SparkSession, d: String): DataFrame =
    sprtAudit(Tables.events(s, d).filter(col("event_type") === "purchase"),
      col("user_id") % 2 === 1, col("value") > 150.0, col("ts"))

  /** STANDARDIZED EFFECT SIZES (round 15) — the number that travels:
    * q337's t says whether a difference is DETECTABLE at this n, the
    * effect size says whether it is LARGE — comparable across
    * experiments, metrics, and sample sizes, and the input every
    * power calculation (q348) and meta-analysis consumes.
    *   d  = (x̄_a − x̄_b) / s_pooled          (Cohen)
    *   g  = d · (1 − 3/(4(n_a+n_b) − 9))     (Hedges small-n bias fix)
    *   Δ  = (x̄_a − x̄_b) / s_b               (Glass — control-side
    *        scale when treatment also moved the variance)
    * On [[armMoments]]'s exact decimals; each reported figure is ONE
    * pinned double order, milli-scaled. NULL when either arm has < 2
    * units or the relevant variance is 0.
    *
    * Scale (100 TB): one aggregation to two moment rows. */
  def effectSizes(df: DataFrame, value: Column, isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m = armMoments(df, value, isA)
    val nA = dec(col("n_a")); val nB = dec(col("n_b"))
    val numA = nA * col("ssa") - col("sa") * col("sa")
    val numB = nB * col("ssb") - col("sb") * col("sb")
    val diff = col("sa").cast("double") / nA.cast("double") -
      col("sb").cast("double") / nB.cast("double")
    // sample variances: num/(n(n-1)); pooled over the dfs
    val varA = numA.cast("double") /
      (nA * (nA - dec(lit(1L)))).cast("double")
    val varB = numB.cast("double") /
      (nB * (nB - dec(lit(1L)))).cast("double")
    val sp = sqrt(((col("n_a") - lit(1L)).cast("double") * varA +
      (col("n_b") - lit(1L)).cast("double") * varB) /
      (col("n_a") + col("n_b") - lit(2L)).cast("double"))
    val d = diff / sp
    val g = d * (lit(1d) - lit(3d) /
      (lit(4d) * (col("n_a") + col("n_b")).cast("double") - lit(9d)))
    val glass = diff / sqrt(varB)
    val bad = col("n_a") < 2L || col("n_b") < 2L
    def milli(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000d) + lit(0.5d)).cast("long")
    m.select(col("n_a"), col("n_b"),
      when(bad || (numA + numB) === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(milli(d)).as("cohen_d_milli"),
      when(bad || (numA + numB) === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(milli(g)).as("hedges_g_milli"),
      when(bad || numB === dec(lit(0L)), lit(null).cast("long"))
        .otherwise(milli(glass)).as("glass_delta_milli"))
  }

  /** q390: how LARGE is the parity arms' spend difference — the
    * standardized effect next to q337's detectability verdict. */
  def q390(s: SparkSession, d: String): DataFrame =
    effectSizes(Tables.events(s, d).filter(col("event_type") === "purchase"),
      cents(col("value")), col("user_id") % 2 === 0)

  /** YUEN'S TRIMMED-MEAN TEST (round 15) — the robust member of the
    * mean-test family: q337's Welch t is still hostage to whales (one
    * mega-purchase moves x̄ and inflates s²); Yuen compares TRIMMED
    * means with WINSORIZED variances, keeping the location question
    * while bounding any single unit's influence. Published default
    * trim 20% each side.
    *
    * Engine-exact trim contract: cuts are per-arm percentile_disc
    * values (members of the data — exact in both engines, the
    * q99/q128 convention); the trimmed sample keeps p20 ≤ v ≤ p80
    * TIE-INCLUSIVE (a count-based ⌊γn⌋ trim would be engine-ambiguous
    * under ties at the cut), the winsorized sample clamps to
    * [p20, p80]. With h_j trimmed counts and s²_wj winsorized sample
    * variances:
    *   t = (x̄t_a − x̄t_b) / √(d_a + d_b),
    *   d_j = s²_wj · (n_j − 1) / (h_j · (h_j − 1))
    *   df = (d_a + d_b)² / (d_a²/(h_a−1) + d_b²/(h_b−1))
    * Moments exact decimals; t/df in one pinned double order each.
    * NULL when either arm trims below 2 units or both winsorized
    * variances are 0.
    *
    * Scale (100 TB): one percentile pass per arm (2 rows broadcast
    * back) + one moment aggregation — two scans, no window. The
    * percentile pass is percentile_disc (exact members, the oracle
    * contract); its per-group value buffering is the measured cost
    * past bench scale (ScaleCheck wave-4 rows), and the 100 TB
    * deployment swaps it for approxQuantile cuts — the q248
    * convention: same plan shape, bounded memory, cuts within the
    * sketch tolerance. */
  def yuenT(df: DataFrame, value: Column, isA: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val v0 = df.select(value.as("v"), isA.cast("int").as("arm"))
      .where(col("v").isNotNull)
    val cuts = v0.groupBy(col("arm"))
      .agg(expr("percentile_disc(0.2) WITHIN GROUP (ORDER BY v)")
        .cast("long").as("p20"),
        expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY v)")
          .cast("long").as("p80"))
    val tagged = v0.join(broadcast(cuts), "arm")
      .withColumn("wv", greatest(least(col("v"), col("p80")), col("p20")))
      .withColumn("kept", col("v") >= col("p20") && col("v") <= col("p80"))
    val m = tagged.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("h"),
        sum(when(col("kept"), dec(col("v"))).otherwise(dec(lit(0L))))
          .as("st"),
        sum(dec(col("wv"))).as("sw"),
        sum(dec(col("wv")) * dec(col("wv"))).as("ssw"))
    val a = m.where(col("arm") === 1).select(col("n").as("n_a"),
      col("h").as("h_a"), col("st").as("st_a"), col("sw").as("sw_a"),
      col("ssw").as("ssw_a"))
    val b = m.where(col("arm") === 0).select(col("n").as("n_b"),
      col("h").as("h_b"), col("st").as("st_b"), col("sw").as("sw_b"),
      col("ssw").as("ssw_b"))
    val j = a.crossJoin(b)
    def dd(c: Column): Column = c.cast("double")
    val varWA = (dec(col("n_a")) * col("ssw_a") - col("sw_a") * col("sw_a"))
      .cast("double") / (dec(col("n_a")) * (dec(col("n_a")) -
        dec(lit(1L)))).cast("double")
    val varWB = (dec(col("n_b")) * col("ssw_b") - col("sw_b") * col("sw_b"))
      .cast("double") / (dec(col("n_b")) * (dec(col("n_b")) -
        dec(lit(1L)))).cast("double")
    val dA = varWA * dd(col("n_a") - lit(1L)) /
      (dd(col("h_a")) * dd(col("h_a") - lit(1L)))
    val dB = varWB * dd(col("n_b") - lit(1L)) /
      (dd(col("h_b")) * dd(col("h_b") - lit(1L)))
    val t = (col("st_a").cast("double") / dd(col("h_a")) -
      col("st_b").cast("double") / dd(col("h_b"))) / sqrt(dA + dB)
    val dfY = (dA + dB) * (dA + dB) /
      (dA * dA / dd(col("h_a") - lit(1L)) +
        dB * dB / dd(col("h_b") - lit(1L)))
    val bad = col("h_a") < 2L || col("h_b") < 2L ||
      (dec(col("n_a")) * col("ssw_a") - col("sw_a") * col("sw_a")) +
        (dec(col("n_b")) * col("ssw_b") - col("sw_b") * col("sw_b")) ===
        dec(lit(0L))
    j.select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
      graft.functions.F.idiv(col("st_a"), dec(col("h_a"))).cast("long")
        .as("tmean_a_c"),
      graft.functions.F.idiv(col("st_b"), dec(col("h_b"))).cast("long")
        .as("tmean_b_c"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(t * lit(1000d) + lit(0.5d)).cast("long"))
        .as("t_milli"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(dfY * lit(1000d) + lit(0.5d)).cast("long"))
        .as("df_milli"))
      .withColumn("is_significant",
        when(col("t_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("t_milli")) > lit(1960L)).cast("int")))
  }

  /** q391: the q337 experiment re-read whale-robustly — 20% trimmed
    * means, winsorized variances, on the exact cent lattice. */
  def q391(s: SparkSession, d: String): DataFrame =
    yuenT(Tables.events(s, d).filter(col("event_type") === "purchase"),
      cents(col("value")), col("user_id") % 2 === 0)

  /** A/A CALIBRATION HARNESS (round 15) — the check a platform runs
    * BEFORE trusting any A/B verdict: split the same population into
    * B independent pseudo-experiments where NOTHING differs, run the
    * production two-proportion z on each, and count false positives.
    * A healthy pipeline reads ≈ α (5%); a far-off rate means the unit
    * of randomization and the unit of analysis disagree (clustered
    * users, shared devices, dependent events) and every real
    * experiment's p-values are miscalibrated.
    *
    * Determinism: replicate arms come from the splitmix64 stream
    * seeded by ONE md5 per unit (mix64At(h, bi) & 1 — the q208
    * bootstrap's draw discipline), so both engines deal identical
    * pseudo-experiments. Per replicate, the q209-shape pooled z from
    * exact long counts in ONE pinned double order. Output: B
    * replicate rows + a bi = −1 summary row (count columns summed,
    * is_fp = the false-positive count, z NULL — the q200 convention).
    *
    * Scale (100 TB): one unit-grain aggregation, a B-way map-side
    * explode (B constant), one B-row aggregation — the q208 shape. */
  def aaCalibration(events: DataFrame, unit: String, isConv: Column,
                    b: Int, seed: String): DataFrame = {
    val users = events.groupBy(col(unit).as("u"))
      .agg(max(isConv.cast("int")).cast("long").as("conv"))
      .withColumn("h", F.md5Hash64(
        concat(lit(seed + ":"), col("u").cast("string"))))
    val reps = users
      .select(col("conv"), col("h"),
        explode(sequence(lit(0), lit(b - 1))).as("bi"))
      .withColumn("arm",
        F.mix64At(col("h"), col("bi")).bitwiseAND(lit(1L)))
      .groupBy(col("bi"))
      .agg(sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("k_a"),
        sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("k_b"))
    def dd(c: Column): Column = c.cast("double")
    val p = dd(col("k_a") + col("k_b")) / dd(col("n_a") + col("n_b"))
    val z = (dd(col("k_a")) / dd(col("n_a")) -
      dd(col("k_b")) / dd(col("n_b"))) /
      sqrt(p * (lit(1d) - p) *
        (lit(1d) / dd(col("n_a")) + lit(1d) / dd(col("n_b"))))
    val bad = col("n_a") === 0L || col("n_b") === 0L ||
      col("k_a") + col("k_b") === 0L ||
      col("k_a") + col("k_b") === col("n_a") + col("n_b")
    val perRep = reps.select(col("bi").cast("long").as("bi"),
      col("n_a"), col("n_b"), col("k_a"), col("k_b"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(z * lit(1000d) + lit(0.5d)).cast("long"))
        .as("z_milli"))
      .withColumn("is_fp",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) > lit(1960L)).cast("int")))
    val summary = perRep.agg(sum(col("n_a")).as("n_a"),
      sum(col("n_b")).as("n_b"), sum(col("k_a")).as("k_a"),
      sum(col("k_b")).as("k_b"),
      sum(col("is_fp")).cast("int").as("is_fp"))
      .select(lit(-1L).as("bi"), col("n_a"), col("n_b"), col("k_a"),
        col("k_b"), lit(null).cast("long").as("z_milli"), col("is_fp"))
    perRep.unionAll(summary).orderBy(col("bi"))
  }

  /** q394: 32 pseudo-A/A experiments over big-purchase conversion —
    * the false-positive count the experimentation stack must read
    * ≈ α before any real verdict is trusted. */
  def q394(s: SparkSession, d: String): DataFrame =
    aaCalibration(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("value") > 150.0, 32, "aa-epoch-1")

  /** Two-sided group-sequential boundaries for K looks at overall
    * α = 0.05, in milli fixed point — PUBLISHED constants, pinned as
    * driver literals both engines share verbatim (the ZpTable
    * convention): Pocock's constant critical value for K = 5 is
    * 2.413 (Pocock 1977, table 2); the O'Brien–Fleming boundary is
    * c_K·√(K/k) with c_5 = 2.0401 (O'Brien & Fleming 1979) — strict
    * early (4.562 at look 1), nominal-like late (2.040 at look 5). */
  val PocockMilliK5: Long = 2413L
  val ObfMilliK5: Seq[Long] = (1 to 5).map(k =>
    math.floor(2.0401 * math.sqrt(5.0 / k) * 1000 + 0.5).toLong)

  /** GROUP-SEQUENTIAL BOUNDARY AUDIT (round 16) — the planned-peeking
    * member of the A/B stack: SPRT (q384) peeks every observation;
    * the industry-standard alternative is K scheduled interim looks
    * with boundaries spending the 5% α across them. This replays a
    * completed experiment at its K planned looks: units enter in
    * ACCRUAL order (first event time, ties by unit id — both engines
    * sort identically), look k analyzes the first ⌈k·n/K⌉ units, the
    * production pooled two-proportion z (the q394 assembly, one
    * pinned double order) is evaluated per look, and both boundary
    * families flag crossings — Pocock (constant 2.413) and
    * O'Brien–Fleming (early-strict c·√(K/k)), so the same replay
    * shows what each policy would have done: OBF protects against
    * the look-1 whale that Pocock would ship.
    *
    * Degenerate looks (an arm empty, or zero/saturated pooled
    * conversions) read NULL z and NULL stop flags — the q394
    * convention: absence of evidence is not a verdict.
    *
    * Scale (100 TB): one unit-grain aggregation, a rank (one sort at
    * the unit grain — accrual order is a total order), a K-way
    * map-side explode (K constant), one K-row aggregation. */
  def groupSequential(events: DataFrame, unit: String, isConv: Column,
                      arm: Column, looks: Int = 5): DataFrame = {
    require(looks == 5, "boundary constants are pinned for K = 5")
    val users = events.groupBy(col(unit).as("u"))
      .agg(max(isConv.cast("int")).cast("long").as("conv"),
        min(col("ts")).as("t0"),
        max(arm.cast("int")).cast("long").as("arm"))
    val ranked = users.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("t0"), col("u"))).cast("long"))
      .localCheckpoint() // one unit-grain sort feeds all K looks
    val n = ranked.count()
    val perLook = ranked
      .select(col("conv"), col("arm"), col("r"),
        explode(sequence(lit(1), lit(looks))).as("look"))
      .filter(col("r") <= F.idiv(col("look") * lit(n) + lit(looks - 1L),
        lit(looks.toLong)))
      .groupBy(col("look"))
      .agg(sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1L, col("conv")).otherwise(0L)).as("k_a"),
        sum(when(col("arm") === 0L, col("conv")).otherwise(0L)).as("k_b"))
    def dd(c: Column): Column = c.cast("double")
    val p = dd(col("k_a") + col("k_b")) / dd(col("n_a") + col("n_b"))
    val z = (dd(col("k_a")) / dd(col("n_a")) -
      dd(col("k_b")) / dd(col("n_b"))) /
      sqrt(p * (lit(1d) - p) *
        (lit(1d) / dd(col("n_a")) + lit(1d) / dd(col("n_b"))))
    val bad = col("n_a") === 0L || col("n_b") === 0L ||
      col("k_a") + col("k_b") === 0L ||
      col("k_a") + col("k_b") === col("n_a") + col("n_b")
    val obf = ObfMilliK5.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (c, i)) => when(col("look") === (i + 1), lit(c))
        .otherwise(acc)
    }
    perLook
      .select(col("look").cast("long").as("look"),
        col("n_a"), col("n_b"), col("k_a"), col("k_b"),
        when(bad, lit(null).cast("long"))
          .otherwise(floor(z * lit(1000d) + lit(0.5d)).cast("long"))
          .as("z_milli"),
        lit(PocockMilliK5).as("pocock_milli"),
        obf.as("obf_milli"))
      .withColumn("pocock_stop",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) >= col("pocock_milli"))
            .cast("int")))
      .withColumn("obf_stop",
        when(col("z_milli").isNull, lit(null).cast("int"))
          .otherwise((abs(col("z_milli")) >= col("obf_milli"))
            .cast("int")))
      .orderBy(col("look"))
  }

  /** q400: the q394 experiment (big-purchase conversion, user-parity
    * arms) replayed at 5 planned looks under both boundary families. */
  def q400(s: SparkSession, d: String): DataFrame =
    groupSequential(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("value") > 150.0, (col("user_id") % 2 === 0).cast("int"))

  /** DIFFERENCE-IN-DIFFERENCES (round 16) — the observational-causal
    * member the A/B stack (q209/q337/q339/q347/q400) is missing: when
    * assignment is NOT randomized but a pre-period exists, the treated
    * arm's naive post-vs-pre change confounds the effect with the
    * common time trend; DiD subtracts the control arm's change under
    * the parallel-trends assumption. The four cell rows ARE the
    * diagnostic (a reviewer reads the pre-period gap before trusting
    * the estimate), the ALL row carries the point estimate and a Welch
    * t (q337 assembly, unchanged) over the per-unit pre→post deltas —
    * the unit-level delta regression's t, robust to per-unit level
    * differences by construction.
    *
    * The unit universe is every unit seen in the stream, each present
    * in BOTH periods (absent spend reads 0): dropping the zero cells
    * would select on the outcome. All spend is exact integer cents;
    * cell means and the DiD estimate are milli-cents by truncating
    * idiv — did_milli = Δtreat − Δcontrol where each Δ is the arm's
    * exact pooled per-unit change ⌊1000·(post−pre)/n_arm⌋.
    *
    * Scale (100 TB): one (unit, period)-grain aggregation, one
    * unit-grain pivot (map-side: two conditional sums), a 4-row cell
    * rollup and a 1-row Welch fold. No joins beyond the 2-row grid
    * explode. */
  def diffInDiff(events: DataFrame, unit: String, isTreat: Column,
                 isPost: Column, outcomeCents: Column): DataFrame = {
    val perUnit = events
      .select(col(unit).as("u"), isTreat.cast("int").as("treat"),
        isPost.cast("int").as("post"), outcomeCents.as("c"))
      .groupBy(col("u"))
      .agg(max(col("treat")).as("treat"),
        sum(when(col("post") === 1, col("c")).otherwise(0L)).as("c_post"),
        sum(when(col("post") === 0, col("c")).otherwise(0L)).as("c_pre"))
    val cells = perUnit
      .select(col("treat"), col("c_post"), col("c_pre"),
        explode(array(lit(0), lit(1))).as("post"))
      .select(col("treat"), col("post"),
        when(col("post") === 1, col("c_post")).otherwise(col("c_pre"))
          .as("c"))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n_units"), sum(col("c")).as("total_cents"))
      .select(col("treat"), col("post"), col("n_units"), col("total_cents"),
        F.idiv(lit(1000L) * col("total_cents"), col("n_units"))
          .as("mean_cents_milli"),
        lit(null).cast("long").as("did_milli"),
        lit(null).cast("long").as("t_milli"),
        lit(null).cast("int").as("is_significant"))
    val deltas = perUnit.select(col("treat"),
      (col("c_post") - col("c_pre")).as("d"))
    val point = deltas.groupBy(col("treat"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"))
      .agg(sum(when(col("treat") === 1,
          F.idiv(lit(1000L) * col("sd"), col("n"))).otherwise(0L))
          .as("d_treat"),
        sum(when(col("treat") === 0,
          F.idiv(lit(1000L) * col("sd"), col("n"))).otherwise(0L))
          .as("d_ctrl"),
        sum(col("n")).as("n_units"))
    val welch = welchT(deltas, col("d"), col("treat") === 1)
    val allRow = point.crossJoin(broadcast(welch)) // two 1-row scalars
      .select(lit(null).cast("int").as("treat"),
        lit(null).cast("int").as("post"),
        col("n_units"), lit(null).cast("long").as("total_cents"),
        lit(null).cast("long").as("mean_cents_milli"),
        (col("d_treat") - col("d_ctrl")).as("did_milli"),
        col("t_milli"), col("is_significant"))
    cells.unionAll(allRow).orderBy(col("treat"), col("post"))
  }

  /** q403: DiD of per-user purchase spend, parity arms, the month's
    * midpoint as the policy date — on this A/B-parity corpus the
    * pre-period gap is the placebo read (≈0 by construction) and the
    * estimate doubles as an A/A check for the DiD assembly itself. */
  def q403(s: SparkSession, d: String): DataFrame =
    diffInDiff(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("user_id") % 2 === 0,
      to_date(col("ts")) >= lit("2024-01-16").cast("date"),
      cents(col("value")))

  /** QUANTILE TREATMENT EFFECTS (round 16) — the distributional read
    * the mean-effect stack (q337 Welch, q339 CUPED, q390 effect sizes)
    * cannot give: a treatment that moves only the tail reads ≈0 in the
    * mean but large at p90, and whale-driven lifts show up as a p50≈0
    * / p90≫0 signature. QTE(p) = Q_treat(p) − Q_ctrl(p) at the nine
    * deciles, computed as EXACT order statistics (percentile_disc
    * semantics: the value at 1-based rank ⌈p·n⌉ of the arm sorted by
    * (value, unit) — a total order, so both engines pick the identical
    * element; no interpolation, no doubles).
    *
    * The unit universe is every unit in the stream (non-purchasers
    * read 0 — dropping them would condition on the outcome, the same
    * rule as DiD's).
    *
    * Scale (100 TB): one unit-grain aggregation, one per-arm sort
    * (window rank — the exact-order-statistic price; the documented
    * large-scale swap is approx_percentile with rank tolerance, the
    * q248 convention), a 9-row broadcast grid join. */
  def quantileTreatmentEffects(events: DataFrame, unit: String,
                               isTreat: Column,
                               outcomeCents: Column): DataFrame = {
    val perUnit = events
      .select(col(unit).as("u"), isTreat.cast("int").as("treat"),
        outcomeCents.as("c"))
      .groupBy(col("u"))
      .agg(max(col("treat")).as("treat"), sum(col("c")).as("c"))
    val ranked = perUnit.withColumn("r",
      row_number().over(Window.partitionBy(col("treat"))
        .orderBy(col("c"), col("u"))).cast("long"))
    val arms = ranked.groupBy(col("treat")).agg(count(lit(1)).as("n"))
    // 1-based ⌈p·n/10⌉ target rank per (arm, decile)
    val targets = arms
      .select(col("treat"), col("n"),
        explode(sequence(lit(1L), lit(9L))).as("p"))
      .select(col("treat"), col("n"), col("p"),
        F.idiv(col("p") * col("n") + lit(9L), lit(10L)).as("r"))
    val picked = ranked.join(broadcast(targets), Seq("treat", "r"))
      .select(col("p"), col("treat"), col("n"), col("c"))
    picked.groupBy(col("p"))
      .agg(sum(when(col("treat") === 1, col("n")).otherwise(0L)).as("n_treat"),
        sum(when(col("treat") === 0, col("n")).otherwise(0L)).as("n_ctrl"),
        sum(when(col("treat") === 1, col("c")).otherwise(0L)).as("q_treat_c"),
        sum(when(col("treat") === 0, col("c")).otherwise(0L)).as("q_ctrl_c"))
      .select(col("p") * lit(10L) as "pct", col("n_treat"), col("n_ctrl"),
        col("q_treat_c"), col("q_ctrl_c"),
        (col("q_treat_c") - col("q_ctrl_c")).as("qte_c"))
      .orderBy(col("pct"))
  }

  /** q404: decile treatment effects on per-user purchase spend, parity
    * arms — the distributional companion to q337's mean read. */
  def q404(s: SparkSession, d: String): DataFrame =
    quantileTreatmentEffects(
      Tables.events(s, d).filter(col("event_type") === "purchase"),
      "user_id", col("user_id") % 2 === 0, cents(col("value")))

  /** Banded DTW between two equal-length integer series: |a_i − b_j|
    * cell cost, Sakoe–Chiba band |i−j| ≤ w, classic recurrence
    * d(i,j) = c(i,j) + min(d(i−1,j), d(i,j−1), d(i−1,j−1)). Evaluated
    * as an anti-diagonal WAVEFRONT — diagonal k depends only on
    * diagonals k−1 and k−2, elementwise — which is the same shape the
    * DuckDB oracle replays with two carried LIST columns (the one
    * recurrence form a recursive CTE can express without aggregating
    * over its own working set). Pure Long arithmetic; Big = 2⁶² marks
    * out-of-band/out-of-range (never added twice: cost ≤ Big/4). */
  private val DtwBig = 1L << 62
  def dtwBanded(a: Array[Long], b: Array[Long], w: Int): Long = {
    val t = a.length
    require(b.length == t && t > 0, "equal-length non-empty series")
    var prev2 = Array.fill(t)(DtwBig) // diagonal k−2, indexed by i
    var prev = Array.fill(t)(DtwBig)  // diagonal k−1
    var k = 0
    while (k <= 2 * (t - 1)) {
      val cur = Array.fill(t)(DtwBig)
      var i = math.max(0, k - t + 1)
      val iMax = math.min(k, t - 1)
      while (i <= iMax) {
        val j = k - i
        if (math.abs(i - j) <= w) {
          val c = math.abs(a(i) - b(j))
          cur(i) =
            if (k == 0) c
            else {
              val up = if (i > 0) prev(i - 1) else DtwBig   // (i−1, j)
              val left = prev(i)                             // (i, j−1)
              val diag = if (i > 0) prev2(i - 1) else DtwBig // (i−1, j−1)
              val m = math.min(up, math.min(left, diag))
              if (m >= DtwBig) DtwBig else c + m
            }
        }
        i += 1
      }
      prev2 = prev; prev = cur; k += 1
    }
    prev(t - 1)
  }

  /** DYNAMIC TIME WARPING SERIES SIMILARITY (round 16) — the sequence-
    * SHAPE distance the drift stack lacks: CCF (q255) asks "do two
    * series co-move at a FIXED lag", DTW asks "how far apart are they
    * allowing a bounded elastic alignment" — the right read when one
    * metric reacts to the same campaign a day or two later than
    * another, which a fixed-lag correlation smears. Computed between
    * every ordered pair of per-type daily count series (dense calendar
    * grid, absent days read 0), with the L1 (no-warp) distance
    * alongside: warp_gain_bp = ⌊10000·(L1 − DTW)/L1⌋ is the fraction
    * of the raw gap that bounded realignment explains — the pair
    * screen a reviewer ranks by.
    *
    * Exact integers end-to-end (counts, |·| costs, Long DP). The DP
    * itself runs on the driver over the CALENDAR-DAY grain — the
    * documented bounded-grain convention (a decade of days is ~3.7k
    * points; the T·w band at w=7 is ~26k cells per pair) — after one
    * distributed (type, day) aggregation; at 100 TB the aggregation is
    * the only data-sized stage, and a large type universe distributes
    * as one task per pair over the same broadcast day-grain arrays. */
  def dtwPairs(events: DataFrame, series: Column, day: Column,
               band: Int): DataFrame = {
    val spark = events.sparkSession
    val daily = events.groupBy(series.as("s"), day.as("d"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2)))
    val days = daily.map(_._2).distinct.sorted
    val idx = days.zipWithIndex.toMap
    val dense = daily.groupBy(_._1).map { case (s, rows) =>
      val v = Array.fill(days.length)(0L)
      rows.foreach { case (_, d0, n) => v(idx(d0)) = n }
      s -> v
    }
    val types = dense.keys.toSeq.sorted
    val rows = for {
      (ta, ia) <- types.zipWithIndex; tb <- types.drop(ia + 1)
    } yield {
      val (va, vb) = (dense(ta), dense(tb))
      val l1 = va.zip(vb).map { case (x, y) => math.abs(x - y) }.sum
      val dtw = dtwBanded(va, vb, band)
      val gain = if (l1 > 0) 10000L * (l1 - dtw) / l1 else 0L
      (ta, tb, days.length.toLong, dtw, l1, gain)
    }
    import spark.implicits._
    rows.toDF("type_a", "type_b", "n_days", "dtw_cost", "l1_cost",
      "warp_gain_bp").orderBy(col("type_a"), col("type_b"))
  }

  /** q407: banded DTW over the five event-type daily series, band = 7
    * days — the elastic-alignment pair screen next to q255's fixed-lag
    * CCF. */
  def q407(s: SparkSession, d: String): DataFrame =
    dtwPairs(Tables.events(s, d), col("event_type"), to_date(col("ts")), 7)

  /** MATTHEWS CORRELATION (round 16) — the single balanced number for
    * a binary detector: accuracy lies under imbalance (a 95%-negative
    * corpus gives the always-no detector 95%), precision/recall
    * (q282) ignore the true negatives, F1 ignores them too; MCC =
    * (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) uses all four
    * cells and reads 0 for any constant detector. The standard
    * proxy-label quality read: how well does a cheap behavioral flag
    * stand in for the expensive label. Counts are exact longs; the
    * single √ is IEEE correctly-rounded on both engines (the q255
    * convention), micro fixed point; any zero marginal reads NULL
    * (a constant detector or constant label is no evidence).
    *
    * Scale (100 TB): one unit-grain aggregation to four counters —
    * map-side partial, zero joins. */
  def matthewsCorr(units: DataFrame, label: Column,
                   pred: Column): DataFrame = {
    val m = units.select(label.cast("int").as("y"), pred.cast("int").as("p"))
      .agg(sum((col("y") === 1 && col("p") === 1).cast("long")).as("tp"),
        sum((col("y") === 0 && col("p") === 1).cast("long")).as("fp"),
        sum((col("y") === 1 && col("p") === 0).cast("long")).as("fn"),
        sum((col("y") === 0 && col("p") === 0).cast("long")).as("tn"))
    // num exact in decimal (the oracle's HUGEINT twin) then one cast;
    // den as DOUBLE products in one pinned order — a 128-bit product
    // of four marginals overflows both engines' exact types at
    // cluster-scale counts, and IEEE ×/√ round identically
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def dd(c: Column): Column = c.cast("double")
    val num = (dec(col("tp")) * dec(col("tn")) -
      dec(col("fp")) * dec(col("fn"))).cast("double")
    val den = sqrt(dd(col("tp") + col("fp")) * dd(col("tp") + col("fn")) *
      dd(col("tn") + col("fp")) * dd(col("tn") + col("fn")))
    val n = col("tp") + col("fp") + col("fn") + col("tn")
    val bad = col("tp") + col("fp") === 0L || col("tp") + col("fn") === 0L ||
      col("tn") + col("fp") === 0L || col("tn") + col("fn") === 0L
    m.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(bad, lit(null).cast("long"))
        .otherwise(floor(num / den * lit(1000000d) + lit(0.5d)).cast("long"))
        .as("mcc_micro"),
      F.idiv(lit(10000L) * (col("tp") + col("tn")), n).as("accuracy_bp"),
      F.idiv(lit(10000L) * (col("tp") + col("fn")), n).as("prevalence_bp"))
  }

  /** q410: MCC of the cheap activity flag (event count > 67) as a
    * proxy for the whale label (any purchase > $150) at the user
    * grain — the imbalance-honest read next to the 95%-style accuracy
    * the same table reports. */
  def q410(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("ne"),
        max((col("event_type") === "purchase" && col("value") > 150.0)
          .cast("int")).as("whale"))
    matthewsCorr(users, col("whale") === 1, col("ne") > 67L)
  }
}

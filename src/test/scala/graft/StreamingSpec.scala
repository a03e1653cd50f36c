package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.streaming.Streaming.{Event, Session}

/** Structured Streaming semantics via MemoryStream: windowed counts emit
  * once the watermark passes, and sessionization matches batch logic. */
class StreamingSpec extends SparkSpec {
  import SparkTestSession.spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window agg emits finalized windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = Streaming.tumblingCounts(df)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), "click", 1.0),
                 (ts("2024-01-01 10:45:00"), "click", 2.0),
                 (ts("2024-01-01 10:50:00"), "view", 3.0))
      q.processAllAvailable()
      // Advance event time far enough that the watermark (2h) passes hour 10.
      in.addData((ts("2024-01-01 15:00:00"), "click", 9.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .orderBy("hour_ts", "event_type").collect()
      val hour10 = rows.filter(_.getLong(0) == ts("2024-01-01 10:00:00").getTime / 1000)
      assert(hour10.map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet ==
        Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streaming.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // User 1: two events 10 min apart (one session), then a 40-min gap
      // event (closes it). User 2: single event.
      in.addData(
        Event(1, 1, ts("2024-01-01 10:00:00"), 1.0),
        Event(1, 2, ts("2024-01-01 10:10:00"), 2.0),
        Event(1, 3, ts("2024-01-01 10:50:00"), 4.0),
        Event(2, 4, ts("2024-01-01 10:00:00"), 8.0))
      q.processAllAvailable()
      // Push the watermark (1h delay) past every open session's gap.
      in.addData(Event(3, 5, ts("2024-01-01 14:00:00"), 0.0))
      q.processAllAvailable()
      in.addData(Event(3, 6, ts("2024-01-01 18:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("sessions_out").as[Session].collect()
        .map(s => (s.user_id, s.n_events, s.sum_value)).toSet
      assert(got.contains((1L, 2L, 3.0)), s"gap-closed session missing: $got")
      assert(got.contains((1L, 1L, 4.0)), s"timeout-closed session missing: $got")
      assert(got.contains((2L, 1L, 8.0)), s"user-2 session missing: $got")
    } finally q.stop()
  }

  test("streaming sessionization agrees with batch q31 on real data") {
    // Run the batch sessionizer and the streaming one over the same
    // events (single batch + watermark flush), compare session sets.
    val batch = ops.Events.q31(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[Event].collect()
    val q = Streaming.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sessions_batch_cmp")
      .outputMode("append").start()
    try {
      in.addData(events.toSeq)
      q.processAllAvailable()
      // Two flush batches: the first advances the watermark, the second
      // gives the state store a trigger in which the timeouts fire.
      in.addData(Event(-1, -1, ts("2030-01-01 00:00:00"), 0.0))
      q.processAllAvailable()
      in.addData(Event(-2, -2, ts("2031-01-01 00:00:00"), 0.0))
      q.processAllAvailable()
      val stream = spark.table("sessions_batch_cmp").as[Session].collect()
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events)).toSet
      assert(stream == batch,
        s"missing: ${(batch -- stream).take(3)}; extra: ${(stream -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming hopping windows give each event size/hop memberships") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w"), col("n"))
    val q = df.writeStream.format("memory").queryName("hopping_out")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:05:00"), "click", 1.0),
                 (ts("2024-01-01 10:20:00"), "view", 2.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 16:00:00"), "click", 0.0)) // flush watermark
      q.processAllAvailable()
      val rows = spark.table("hopping_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // 10:05 lands in starts 09:15..10:00; 10:20 in 09:30..10:15 —
      // 4 windows each, overlapping on 09:30/09:45/10:00.
      val t = (h: String) => ts(s"2024-01-01 $h").getTime / 1000
      assert(rows(t("09:15:00")) == 1 && rows(t("10:15:00")) == 1)
      assert(rows(t("09:30:00")) == 2 && rows(t("10:00:00")) == 2)
      assert(rows.filterKeys(_ < t("16:00:00")).values.sum == 8,
        s"each of 2 events must land in 4 windows: $rows")
    } finally q.stop()
  }

  test("streaming CDC latest-state agrees with batch q115 on real data") {
    import graft.streaming.Streaming.{Change, LatestState}
    val batch = ops.Changes.q115(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val changes = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .as[Change].collect()
    val q = Streaming.latestStateStream(in.toDS())
      .writeStream.format("memory").queryName("latest_state_out")
      .outputMode("update").start()
    try {
      // Two micro-batches: state must carry the first half into the second.
      val (h1, h2) = changes.splitAt(changes.length / 2)
      in.addData(h1.toSeq); q.processAllAvailable()
      in.addData(h2.toSeq); q.processAllAvailable()
      // Final state per key = the emission with the highest change count
      // (n_changes is monotone across re-emissions).
      val finals = spark.table("latest_state_out").as[LatestState].collect()
        .groupBy(_.user_id).map { case (_, rows) => rows.maxBy(_.n_changes) }
      val stream = finals
        .filter(_.last_type != "error") // batch drops tombstoned keys
        .map(s => (s.user_id, s.last_type, s.last_value_cents, s.last_ts_us, s.n_changes))
        .toSet
      assert(stream == batch,
        s"missing: ${(batch -- stream).take(3)}; extra: ${(stream -- batch).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with views inside the window") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val q = Streaming.viewClickJoin(
        views.toDF().toDF("view_user", "view_id", "view_ts"),
        clicks.toDF().toDF("click_user", "click_id", "click_ts"))
      .writeStream.format("memory").queryName("vc_join")
      .outputMode("append").start()
    try {
      views.addData((1L, 100L, ts("2024-01-01 10:00:00")),
                    (1L, 101L, ts("2024-01-01 10:20:00")),
                    (2L, 102L, ts("2024-01-01 10:00:00")))
      clicks.addData((1L, 900L, ts("2024-01-01 10:05:00")), // joins view 100
                     (1L, 901L, ts("2024-01-01 10:25:00")), // joins view 101 only
                     (2L, 902L, ts("2024-01-01 10:30:00"))) // outside 10-min window
      q.processAllAvailable()
      val got = spark.table("vc_join")
        .select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 900L), (101L, 901L)), s"got $got")
    } finally q.stop()
  }

  test("outer interval join emits unmatched views once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val q = Streaming.viewClickJoinOuter(
        views.toDF().toDF("view_user", "view_id", "view_ts"),
        clicks.toDF().toDF("click_user", "click_id", "click_ts"))
      .writeStream.format("memory").queryName("vc_outer")
      .outputMode("append").start()
    try {
      views.addData((1L, 100L, ts("2024-01-01 10:00:00")),   // will match
                    (2L, 101L, ts("2024-01-01 10:00:00")))   // never matches
      clicks.addData((1L, 900L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // Advance BOTH watermarks far past view 101's join horizon.
      views.addData((9L, 999L, ts("2024-01-01 15:00:00")))
      clicks.addData((9L, 998L, ts("2024-01-01 15:00:00")))
      q.processAllAvailable()
      views.addData((9L, 997L, ts("2024-01-01 20:00:00")))
      clicks.addData((9L, 996L, ts("2024-01-01 20:00:00")))
      q.processAllAvailable()
      val got = spark.table("vc_outer").collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      assert(got(100L) == Some(900L), s"matched view wrong: $got")
      assert(got.get(101L).contains(None), s"unmatched view not emitted: $got")
    } finally q.stop()
  }

  test("stream-static enrichment joins dims without state, keeps unknown keys") {
    implicit val sqlCtx = spark.sqlContext
    // Both sides deliberately name the key "user" — the common shape
    // that an unqualified join condition would reject as ambiguous.
    val dims = Seq((1L, "gold"), (2L, "silver")).toDF("user", "tier")
    val in = MemoryStream[(Long, Double)]
    val stream = in.toDF().toDF("user", "amount")
    val q = Streaming.enrichStream(stream, dims, "user", "user")
      .select(stream("user"), col("amount"), col("tier"))
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("append").start()
    try {
      in.addData((1L, 10.0), (2L, 20.0), (99L, 5.0))
      q.processAllAvailable()
      val got = spark.table("enriched_out").collect()
        .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(got == Set((1L, Some("gold")), (2L, Some("silver")), (99L, None)))
    } finally q.stop()
  }

  test("streaming CDC merge keeps a versioned table current with time travel") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.VersionedStore
    val root = java.nio.file.Files.createTempDirectory("graft-cdcmerge")
      .toString + "/table"
    // seed snapshot v1 — merging needs a parent
    VersionedStore.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      root, overwrite = true)
    val in = MemoryStream[(Long, String, String)]
    val q = Streaming.mergeStream(
      in.toDF().toDF("id", "op", "v"), "id", root).start()
    try {
      // micro-batch 1: update 2, insert 9
      in.addData((2L, "upsert", "B"), (9L, "upsert", "nine"))
      q.processAllAvailable()
      // micro-batch 2: delete 1
      in.addData((1L, "delete", "x"))
      q.processAllAvailable()
    } finally q.stop()
    def state(version: Int): Map[Long, String] =
      VersionedStore.read(spark, root, version).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(VersionedStore.latestVersion(spark, root) == 3,
      "each non-empty micro-batch commits one merge version")
    assert(state(-1) == Map(2L -> "B", 3L -> "c", 9L -> "nine"),
      "latest = seed + update + insert - delete")
    // time travel: every applied state is still readable
    assert(state(1) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(state(2) == Map(1L -> "a", 2L -> "B", 3L -> "c", 9L -> "nine"))
  }

  test("streaming near-dedup matches against the store and grows it per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-neardedup").toString
    val (store, pairs) = (s"$dir/store", s"$dir/pairs")
    // Docs are ~50 tokens with one token changed (J ≈ 0.88): solidly
    // above the 16-band LSH S-curve knee (~0.71), where candidate
    // recall is ~1; shorter docs would sit at the coin-flip point.
    def doc(prefix: String, last: String): String =
      (1 to 49).map(i => s"$prefix$i").mkString(" ") + " " + last
    // Seed the store with one document (the "existing corpus").
    val seed = Seq((100L, doc("w", "theta"))).toDF("doc_id", "text")
    graft.ops.Dedup.writeSignatureStore(seed, "doc_id", "text", store)
    val in = MemoryStream[(Long, String)]
    val q = Streaming.nearDedupStream(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store, pairs, 0.6).start()
    try {
      // Batch 1: one near-dup of the stored doc, one unrelated doc.
      in.addData((200L, doc("w", "iota")),
                 (201L, doc("z", "eight")))
      q.processAllAvailable()
      // Batch 2: near-dup of batch 1's unrelated doc — provable ONLY if
      // batch 1's signatures were appended to the store.
      in.addData((300L, doc("z", "nine")))
      q.processAllAvailable()
      val got = spark.read.parquet(pairs)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 200L), (201L, 300L)), s"got $got")
    } finally q.stop()
  }

  test("streaming near-dedup on a fresh store path: the first batch pairs within itself and seeds the store") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-neardedup-fresh").toString
    val (store, pairs) = (s"$dir/store", s"$dir/pairs") // no store written yet
    def doc(prefix: String, last: String): String =
      (1 to 49).map(i => s"$prefix$i").mkString(" ") + " " + last
    val in = MemoryStream[(Long, String)]
    val q = Streaming.nearDedupStream(in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", store, pairs, 0.6).start()
    try {
      // Batch 1 meets an empty store: only its within-batch pair.
      in.addData((200L, doc("w", "iota")),
                 (201L, doc("w", "kappa")),
                 (202L, doc("z", "eight")))
      q.processAllAvailable()
      // Batch 2: near-dup of batch 1's unrelated doc, found through the
      // store batch 1 created.
      in.addData((300L, doc("z", "nine")))
      q.processAllAvailable()
      val got = spark.read.parquet(pairs)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((200L, 201L), (202L, 300L)), s"got $got")
    } finally q.stop()
  }

  test("near-dedup replay: batch's own store partition is excluded, pairs stay exact") {
    // An at-least-once engine can re-run a micro-batch AFTER its store
    // write landed. The replayed pair search must not see the batch's
    // own batch=b<id> signatures in the store (the arrays union would
    // hold each batch doc twice and the verify joins would fan each
    // batch-touching pair out 2-4x).
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val store = s"$dir/store"
    def doc(prefix: String, last: String): String =
      (1 to 49).map(i => s"$prefix$i").mkString(" ") + " " + last
    val seed = Seq((100L, doc("w", "theta"))).toDF("doc_id", "text")
    graft.ops.Dedup.writeSignatureStore(seed, "doc_id", "text", store)
    val batch = Seq((200L, doc("w", "iota")),
                    (201L, doc("w", "kappa"))).toDF("doc_id", "text")
    val arrs = graft.ops.Dedup.shingleArrays(batch, "doc_id", "text").cache()
    val bk = graft.ops.Dedup.signatureBuckets(arrs).cache()
    try {
      // Simulate the replay state: this batch's store write already
      // succeeded under its tag before the pair search re-runs.
      graft.ops.Dedup.writeSignatureStoreFrom(arrs, store, "b7", buckets = Some(bk))
      val rows = graft.ops.Dedup
        .incrementalPairsFrom(arrs, bk, store, 0.6, excludeBatch = Some("b7"))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // Each pair exactly once — no fan-out from duplicated arrays.
      assert(rows.length == rows.toSet.size, s"duplicated pairs: ${rows.toList}")
      assert(rows.toSet == Set((100L, 200L), (100L, 201L), (200L, 201L)),
        s"got ${rows.toList}")
    } finally { bk.unpersist(); arrs.unpersist() }
  }

  test("streaming PSI drift monitor: exact zero on matching shares, flags shift") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-psidrift").toString
    // static reference: bins 1 and 2 (width $1) with equal mass
    val ref = (Seq.fill(8)(1.0) ++ Seq.fill(8)(2.0)).toDF("value")
    val in = MemoryStream[Double]
    val q = Streaming.psiDriftStream(in.toDF().toDF("value"), ref, 100L,
      s"$dir/out").start()
    try {
      // batch 0: same SHARES as the reference -> every term ln(1) -> 0
      in.addData(Seq.fill(4)(1.0) ++ Seq.fill(4)(2.0): _*)
      q.processAllAvailable()
      // batch 1: all mass in an unseen bin -> far past the 0.25 line
      in.addData(Seq.fill(8)(9.0): _*)
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows(0L) == ((8L, 0L)), rows.toString)
      assert(rows(1L)._1 == 8L && rows(1L)._2 > 250000L, rows.toString)
    } finally q.stop()
  }

  test("foreachBatch sink lands every micro-batch in parquet exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-febatch").toString
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("k", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("append").parquet(s"$dir/out")
      }
      .start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      in.addData((3L, 3.0))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/out")
      assert(back.count() == 3)
      assert(back.agg(sum(col("v"))).head().getDouble(0) == 6.0)
    } finally q.stop()
  }

  test("streaming top-k state stays bounded and matches batch top-k") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streaming.topkStream(in.toDS(), k = 2)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode("update").start()
    try {
      in.addData(
        Event(1, 1, ts("2024-01-01 10:00:00"), 5.0),
        Event(1, 2, ts("2024-01-01 10:01:00"), 9.0),
        Event(1, 3, ts("2024-01-01 10:02:00"), 7.0))
      q.processAllAvailable()
      // A later batch with a higher value displaces the current min.
      in.addData(Event(1, 4, ts("2024-01-01 10:03:00"), 8.0),
                 Event(2, 5, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      import SparkTestSession.spark.implicits._
      val last = spark.table("topk_out").as[Streaming.TopState].collect()
        .filter(_.user_id == 1).last
      assert(last.top.map(_.event_id) == Seq(2L, 4L),
        s"want events 2 (9.0) and 4 (8.0), got ${last.top}")
      assert(last.top.size == 2)
    } finally q.stop()
  }

  test("streaming dedup emits each content hash once within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val docs = in.toDF().toDF("ts", "text")
    val q = Streaming.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), "alpha"),
                 (ts("2024-01-01 10:01:00"), "alpha"),
                 (ts("2024-01-01 10:02:00"), "beta"))
      q.processAllAvailable()
      // a later duplicate inside the horizon is still dropped
      in.addData((ts("2024-01-01 10:30:00"), "alpha"),
                 (ts("2024-01-01 10:31:00"), "gamma"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").select("text").collect().map(_.getString(0))
      assert(texts.sorted.toSeq == Seq("alpha", "beta", "gamma"),
        s"got ${texts.toSeq}")
    } finally q.stop()
  }

  test("batch text operators compose with streams: quality + split on a stream") {
    // The per-row text operators (qualityBp, splitAssign) are stateless
    // projections, so the SAME functions run unchanged on a streaming
    // DataFrame — scoring and routing a live crawl needs no parallel
    // streaming implementation, and per-batch results match batch
    // semantics exactly.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
    val scored = ops.Text.splitAssign(
      ops.Text.qualityBp(stream, "doc_id", "text"), "doc_id")
    val q = scored.select(col("doc_id"), col("quality_bp"), col("split"))
      .writeStream.format("memory").queryName("stream_scored")
      .outputMode("append").start()
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog"),
                 (2L, "to be or not to be"))
      q.processAllAvailable()
      val got = spark.table("stream_scored").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      val batch = ops.Text.splitAssign(
        ops.Text.qualityBp(
          Seq((1L, "the quick brown fox jumps over the lazy dog"),
              (2L, "to be or not to be")).toDF("doc_id", "text"),
          "doc_id", "text"), "doc_id")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("stateful rate monitor alerts mid-stream once per violation window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streaming.rateAlerts(in.toDS(), windowUs = 60000000L, maxEvents = 3)
      .writeStream.format("memory").queryName("rate_alerts")
      .outputMode("append").start()
    try {
      // user 1: 3 events in a minute — at the limit, no alert yet
      in.addData(Event(1L, 1L, ts("2024-01-01 10:00:00"), 1.0),
                 Event(1L, 2L, ts("2024-01-01 10:00:10"), 1.0),
                 Event(1L, 3L, ts("2024-01-01 10:00:20"), 1.0),
                 Event(2L, 4L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      assert(spark.table("rate_alerts").count() == 0,
        "at-limit traffic must not alert")
      // the 4th event inside the same minute trips the limit MID-stream
      in.addData(Event(1L, 5L, ts("2024-01-01 10:00:30"), 1.0))
      q.processAllAvailable()
      val got = spark.table("rate_alerts").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(got.toSeq == Seq((1L, 4L)), s"got ${got.toSeq}")
      // a SUSTAINED flood across batch boundaries must not re-alert
      in.addData(Event(1L, 6L, ts("2024-01-01 10:00:40"), 1.0),
                 Event(1L, 7L, ts("2024-01-01 10:00:50"), 1.0))
      q.processAllAvailable()
      assert(spark.table("rate_alerts").count() == 1,
        "one alert per violation episode, even split across batches")
      // after the rate drops under the limit the monitor re-arms:
      // a fresh burst five minutes later alerts again
      in.addData(Event(1L, 8L, ts("2024-01-01 10:05:00"), 1.0),
                 Event(1L, 9L, ts("2024-01-01 10:05:10"), 1.0),
                 Event(1L, 10L, ts("2024-01-01 10:05:20"), 1.0),
                 Event(1L, 11L, ts("2024-01-01 10:05:30"), 1.0))
      q.processAllAvailable()
      assert(spark.table("rate_alerts").count() == 2,
        "a fresh violation episode must alert again")
    } finally q.stop()
  }

  test("rate monitor under an extreme flood: state cap cannot re-arm mid-episode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // maxEvents=2 → state cap = 8·3 = 24 kept times; a 200-event flood
    // inside one window truncates state hard across batches. Without
    // the saturating carry, the truncation dips the computed in-window
    // count back under the limit and a later flood batch re-alerts
    // inside the SAME violation episode.
    val q = Streaming.rateAlerts(in.toDS(), windowUs = 600000000L, maxEvents = 2)
      .writeStream.format("memory").queryName("rate_flood")
      .outputMode("append").start()
    try {
      var eid = 0L
      def burst(second: Int, n: Int): Seq[Event] = (0 until n).map { i =>
        eid += 1
        Event(1L, eid, new Timestamp(
          ts("2024-01-01 10:00:00").getTime + second * 1000L + i * 10L), 1.0)
      }
      in.addData(burst(0, 100): _*)   // flood batch 1 — alert fires once
      q.processAllAvailable()
      in.addData(burst(60, 100): _*)  // flood continues in a later batch
      q.processAllAvailable()
      in.addData(burst(120, 100): _*) // and another
      q.processAllAvailable()
      val alerts = spark.table("rate_flood").collect()
      assert(alerts.length == 1,
        s"flood re-alerted mid-episode (${alerts.length} alerts) — " +
          "the capped state re-armed the hysteresis")
      // the single alert's count saturates ABOVE the limit, never under
      assert(alerts.head.getLong(2) > 2L)
    } finally q.stop()
  }

  test("parquet directory is a streaming source: new files picked up, result matches batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_file_stream").toString
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "v")
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    // maxFilesPerTrigger=1 exercises incremental micro-batching: each
    // discovered file becomes its own trigger, as on a live landing dir
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    assert(src.isStreaming, "readStream must produce a streaming DataFrame")
    val q = src.groupBy(col("s")).agg(sum(col("v")).as("total"))
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // a file landing AFTER the stream started must be discovered
      Seq((3L, "a", 5L)).toDF("id", "s", "v").write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("file_stream_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = spark.read.parquet(dir).groupBy(col("s"))
        .agg(sum(col("v")).as("total")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == batch && got == Map("a" -> 15L, "b" -> 20L),
        s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("streaming ingest: versioned snapshots per batch, observed card counters per progress") {
    import graft.sources.VersionedStore
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-ingest").toString + "/store"
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = Streaming.ingestStream(docs, root)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-ingest-ckpt").toString)
      .start()
    try {
      in.addData((1L, "a b c"), (2L, "d e"))
      q.processAllAvailable()
      in.addData((3L, "f g h i"))
      q.processAllAvailable()
      // two append versions; the corpus is queryable at every point
      assert(VersionedStore.versions(spark, root).map(_._2) ==
        Seq("append", "append"))
      assert(VersionedStore.read(spark, root).count() == 3, "latest = all docs")
      assert(VersionedStore.read(spark, root, 1).collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
        "version 1 time-travels to exactly the first batch")
      // the observe() counters surfaced in the progress events
      val metrics = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("ingest")))
      assert(metrics.nonEmpty, "no observed 'ingest' metrics in progress")
      val totalDocs = metrics.map(_.getAs[Long]("n_docs")).sum
      val totalToks = metrics.map(_.getAs[Long]("n_tokens")).sum
      assert(totalDocs == 3L && totalToks == 9L,
        s"card counters: docs $totalDocs toks $totalToks (${metrics.toSeq})")
    } finally q.stop()
  }

  test("streaming IVF ingest: append versions, probe == one-shot, time travel") {
    import graft.sources.VersionedStore
    implicit val sqlCtx = spark.sqlContext
    val (c, qs) = ops.Similarity.corpusAndQueries(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfstream").toString
    val idx = s"$tmp/oneshot"
    // one-shot index over the FULL corpus trains the quantizer; the
    // stream appends against those frozen centroids
    ops.Similarity.writeIvfIndex(c, "vec_id", "embedding", idx)
    val centsPath = s"$idx/centroids"
    val cellsRoot = s"$tmp/cells"
    val rows = c.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.ivfIngestStream(in.toDF().toDF("vec_id", "embedding"),
        centsPath, cellsRoot, "vec_id", "embedding")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    try {
      in.addData(b1.toSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // one append version per micro-batch
      assert(VersionedStore.versions(spark, cellsRoot).map(_._2) ==
        Seq("append", "append"))
      // frozen-quantizer invariant transfers to the streamed store:
      // probing the latest version == probing the one-shot index
      val got = ops.Similarity.ivfTopKFromVersionedCells(spark, centsPath,
        cellsRoot, -1, qs, "vec_id", "embedding").collect().map(_.toSeq).toSet
      val want = ops.Similarity.ivfTopKFromIndex(spark, idx, qs,
        "vec_id", "embedding").collect().map(_.toSeq).toSet
      assert(got == want,
        s"streamed-store probe diverges: ${(want -- got).take(3)} / ${(got -- want).take(3)}")
      // per-version time travel: version 1 holds exactly batch 1
      val v1 = VersionedStore.read(spark, cellsRoot, 1)
        .select("vid").collect().map(_.getLong(0)).sorted.toSeq
      assert(v1 == b1.map(_._1).sorted.toSeq,
        "version 1 must time-travel to exactly the first batch")
      // and a version-1 probe sees ONLY batch-1 vectors as candidates
      val v1Probe = ops.Similarity.ivfTopKFromVersionedCells(spark, centsPath,
        cellsRoot, 1, qs, "vec_id", "embedding")
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(v1Probe.forall(_ % 2 == 0), "pinned probe must not see batch 2")
    } finally q.stop()
  }

  test("streaming graph-ANN ingest: CAS versions per batch; stream == " +
       "batch build+append at the same cut") {
    import graft.sources.VersionedStore
    implicit val sqlCtx = spark.sqlContext
    val (c, qs) = ops.Similarity.corpusAndQueries(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft-nswstream").toString
    val rows = c.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val in = MemoryStream[(Long, Seq[Float])]
    val root = s"$tmp/nswidx"
    val q = Streaming.nswIngestStream(in.toDF().toDF("vec_id", "embedding"),
        root, "vec_id", "embedding")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    try {
      in.addData(b1.toSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // one CAS-published store version per applied batch
      assert(VersionedStore.versions(spark, root).map(_._2) ==
        Seq("store", "store"))
      val dir = VersionedStore.resolveDir(spark, root).get
      // bit-identity with the BATCH path at the same cut: build(b1)
      // then append(b2) — the determinism contract transfers to the
      // streamed store (graph rows AND the pinned params manifest)
      import SparkTestSession.spark.implicits._
      val batchDir = s"$tmp/batch"
      ops.Similarity.writeNswIndex(
        b1.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding", batchDir)
      ops.Similarity.appendToNswIndex(
        b2.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding", batchDir)
      def graphOf(p: String) = spark.read.parquet(s"$p/graph").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(graphOf(dir) == graphOf(batchDir),
        "stream-ingested graph must be bit-identical to batch build+append")
      assert(ops.Similarity.readNswParams(spark, dir) ==
        ops.Similarity.readNswParams(spark, batchDir),
        "the pinned params manifest must ride the stream ingest")
      // and the streamed store answers probes identically
      val got = ops.Similarity.nswTopKFromIndex(spark, dir, qs,
        "vec_id", "embedding").collect().map(_.toSeq).toSet
      val want = ops.Similarity.nswTopKFromIndex(spark, batchDir, qs,
        "vec_id", "embedding").collect().map(_.toSeq).toSet
      assert(got == want, "streamed-store probe diverges from batch store")
      // version 1 time-travels to exactly the first batch's index
      val v1 = VersionedStore.resolveDir(spark, root, 1).get
      assert(spark.read.parquet(s"$v1/vectors").select("vid").collect()
        .map(_.getLong(0)).toSet == b1.map(_._1).toSet,
        "version 1 must hold exactly the first batch's vectors")
    } finally q.stop()
  }

  test("streaming graph-ANN ingest rescales a default-built store when " +
       "growth crosses the scaled-params threshold") {
    import graft.sources.VersionedStore
    implicit val sqlCtx = spark.sqlContext
    import SparkTestSession.spark.implicits._
    // 1400 vectors: batch 1 (700) builds sub-threshold with the fixed
    // constants (pinned = false); batch 2 grows past 1024, so the
    // ingest must REBUILD scaled instead of appending at M=16 — the
    // r13 review finding that would otherwise re-enter the r12
    // recall-collapse regime on long-lived streams
    val rnd = new scala.util.Random(11)
    val rows = (0 until 1400).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val (b1, b2) = rows.partition(_._1 < 700)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-nswstream-rescale").toString
    val root = s"$tmp/nswidx"
    val in = MemoryStream[(Long, Seq[Float])]
    val q = Streaming.nswIngestStream(in.toDF().toDF("vec_id", "embedding"),
        root, "vec_id", "embedding")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      val dir1 = VersionedStore.resolveDir(spark, root).get
      assert(ops.Similarity.readNswParams(spark, dir1)
        .contains(ops.Similarity.nswScaledParams(700L)),
        "sub-threshold first batch pins the fixed constants")
      in.addData(b2: _*)
      q.processAllAvailable()
      val dir2 = VersionedStore.resolveDir(spark, root).get
      assert(ops.Similarity.readNswParams(spark, dir2)
        .contains(ops.Similarity.nswScaledParams(1400L)),
        "crossing the threshold must rebuild with the scaled budget")
      // the rebuilt store is bit-identical to a one-shot default
      // build over the full corpus (determinism transfers)
      val oneShot = s"$tmp/oneshot"
      ops.Similarity.writeNswIndex(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", oneShot)
      def graphOf(p: String) = spark.read.parquet(s"$p/graph").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(graphOf(dir2) == graphOf(oneShot),
        "rescaled stream store must equal the one-shot scaled build")
    } finally q.stop()
  }

  test("sprtMonitorStream: cumulative llr crosses the h1 boundary " +
       "batch-identically to the q384 constants") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sprt").toString
    val in = MemoryStream[Double]
    // p0 = 5000 bp, p1 = 6000: c1 = 182322, c0 = -223144 (the q384
    // worked constants); success = value > 150
    val q = Streaming.sprtMonitorStream(in.toDF().toDF("value"),
        col("value") > 150.0, 5000L, 6000L, s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      in.addData(Seq.fill(10)(200.0): _*)     // 10/10 hits
      q.processAllAvailable()
      in.addData(Seq.fill(10)(200.0): _*)     // 20/20 cumulative
      q.processAllAvailable()
      in.addData(Seq.fill(4)(100.0): _*)      // post-decision misses
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/out").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
        .toMap
      assert(rows(0L) == ((10L, 10L, 1823220L, "continue")), rows.toString)
      assert(rows(1L) == ((20L, 20L, 3646440L, "accept_h1")), rows.toString)
      // the cumulative fold carries across batches: the third row's
      // llr = 24 trials / 20 hits under the same constants
      assert(rows(2L) == ((24L, 20L,
        20L * 182322L + 4L * -223144L, "accept_h1")), rows.toString)
    } finally q.stop()
  }
}

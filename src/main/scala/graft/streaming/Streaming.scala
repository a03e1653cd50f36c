package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the batch event operators.
  *
  * Scale notes: both operators shuffle once on their grouping key per
  * micro-batch; state is bounded — the windowed agg drops state when the
  * watermark passes a window, and the sessionizer keeps exactly one open
  * session per key. That keeps executor state O(active keys), not
  * O(history), which is what lets these run indefinitely at cluster scale.
  */
object Streaming {

  case class Event(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
  case class Session(user_id: Long, session_start_us: Long, session_end_us: Long,
                     n_events: Long, sum_value: Double)
  case class OpenSession(startUs: Long, endUs: Long, n: Long, total: Double)

  /** Event-time tumbling (1h) counts per event type with a watermark;
    * append mode emits each window once, when the watermark passes it. */
  def tumblingCounts(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_ts"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drop re-arrivals of the same content hash
    * within the watermark horizon (the streaming face of batch q50).
    * dropDuplicatesWithinWatermark keys state by the 16-byte hash, not
    * the document, and evicts entries once the watermark passes them —
    * executor state stays O(distinct-within-horizon), not O(history),
    * which is what makes indefinite 100 TB/day ingest feasible. */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming NEAR-dedup against a persisted MinHash signature store —
    * the streaming face of batch q88: every micro-batch is deduped
    * against the store AND itself (ops.Dedup.incrementalPairs), the
    * verified pairs land in `pairsPath`, and the batch's own signatures
    * are written to the store so later micro-batches (and future runs)
    * dedup against everything already ingested. foreachBatch is the
    * right boundary: the candidate join needs the store as a batch table
    * per micro-batch. Both sinks are IDEMPOTENT under the engine's
    * at-least-once retries: each batch overwrites its own
    * `batch=<batchId>` partition directory (pairs and store signatures
    * alike), so a replayed micro-batch replaces its prior contribution
    * instead of appending duplicate signatures that would permanently
    * inflate every later join. State lives in the store, NOT in
    * executors — unlike dropDuplicatesWithinWatermark there is no
    * watermark horizon: a crawl deduped today still matches a document
    * ingested last month, with executor memory O(micro-batch), not
    * O(history). The shingle arrays and band buckets are computed ONCE
    * per batch, shared between the pair search and the store write, and
    * unpersisted when the batch's actions finish.
    * Input schema: (id, text) named by the caller. */
  def nearDedupStream(docs: DataFrame, id: String, text: String,
                      storePath: String, pairsPath: String,
                      tau: Double): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val arrs = graft.ops.Dedup.shingleArrays(batch.toDF(), id, text).cache()
        val bk = graft.ops.Dedup.signatureBuckets(arrs).cache()
        try {
          // excludeBatch: on an at-least-once replay whose store write
          // already landed, skip this batch's own batch=b<id> partition
          // so the arrays union doesn't hold each batch doc twice (which
          // would fan verified pairs out through the two verify joins).
          graft.ops.Dedup.incrementalPairsFrom(arrs, bk, storePath, tau,
              excludeBatch = Some(s"b$batchId"))
            .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
          graft.ops.Dedup.writeSignatureStoreFrom(arrs, storePath, s"b$batchId",
            buckets = Some(bk))
        } finally { bk.unpersist(); arrs.unpersist() }
        ()
      }

  /** STREAMING CDC → LAKEHOUSE MERGE: every micro-batch of keyed
    * change rows (op ∈ {upsert, delete}) lands in the VersionedStore
    * through the copy-on-write mergeCommit — the end-to-end "a CDC
    * feed keeps a queryable, time-travelable table current" loop, and
    * the streaming face of batch q227. foreachBatch is the right
    * boundary: the merge needs the current snapshot as a batch table,
    * and the commit point is the store's own optimistic manifest CAS
    * (a concurrent nightly compactor or second feed rebases cleanly).
    *
    * At-least-once replay: re-merging an identical batch is
    * SEMANTICALLY idempotent (an upsert re-writes the same payload, a
    * delete of an absent key no-ops), so a replayed micro-batch costs
    * one redundant version — never wrong data, and time travel still
    * shows each applied state. Empty micro-batches commit nothing.
    * The caller seeds the store (VersionedStore.commit) before
    * starting the stream — merging needs a parent snapshot. */
  def mergeStream(changes: DataFrame, key: String, storeRoot: String,
                  opCol: String = "op")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.sources.VersionedStore.mergeCommit(
            batch.sparkSession, storeRoot, batch.toDF(), key, opCol)
        ()
      }

  /** STREAMING PSI DRIFT MONITOR — q200's population-stability index
    * as a continuous gate: every micro-batch of a value stream is
    * binned on the cents lattice and scored against a STATIC
    * reference histogram (the training-time distribution) with the
    * exact q200 discipline — Laplace-smoothed shares over the union
    * bin set, per-bin (p−q)·ln(p/q) in micro fixed point, exact
    * integer PSI sum — appending one (batch_id, n_cur, psi_micro) row
    * per micro-batch to the monitor table. A batch with the same
    * SMOOTHED shares as the reference scores exactly 0 (ln 1 terms) —
    * in particular any batch whose raw (count+1) profile is
    * proportional to the reference's; a share-matched batch of a
    * different total scores near-0, not 0 (the +1 pseudo-count is a
    * relatively smaller correction on the larger side). The alert
    * threshold is the same folklore 0.25 line the batch q200 reports
    * against, now evaluated on arrival instead of at retrain time.
    *
    * foreachBatch is the right boundary (the mergeStream reasoning):
    * PSI needs the batch's FULL histogram against the reference —
    * a two-level streaming aggregation Structured Streaming's append
    * mode cannot express. The reference is lattice-bounded and cached
    * once; per batch the work is one bin aggregation + a
    * reference-sized join. At-least-once replay re-appends the same
    * (batch_id, psi) row — the monitor table dedups on batch_id. */
  def psiDriftStream(values: DataFrame, ref: DataFrame, widthCents: Long,
                     outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.Cols.cents
    import graft.functions.F
    val refBins = ref
      .select(F.idiv(cents(col("value")), lit(widthCents)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
      .cache()
    values.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val cur = batch
            .select(F.idiv(cents(col("value")), lit(widthCents)).as("bin"))
            .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
          val bins = refBins.join(cur, Seq("bin"), "full_outer")
            .na.fill(0L, Seq("n_ref", "n_cur"))
          val tot = bins.agg(sum(col("n_ref")).as("tr"),
            sum(col("n_cur")).as("tc"), count(lit(1)).as("b"))
          val p = (col("n_ref") + lit(1L)).cast("double") /
            (col("tr") + col("b")).cast("double")
          val q = (col("n_cur") + lit(1L)).cast("double") /
            (col("tc") + col("b")).cast("double")
          bins.crossJoin(broadcast(tot))
            .select(floor((p - q) * log(p / q) * lit(1000000d) + lit(0.5d))
              .cast("long").as("term"), col("n_cur"))
            .agg(sum(col("n_cur")).as("n_cur"), sum(col("term")).as("psi_micro"))
            .select(lit(id).as("batch_id"), col("n_cur"), col("psi_micro"))
            .write.mode("append").parquet(outDir)
        }
        ()
      }
  }

  /** STREAMING CORPUS INGEST with versioned snapshots and per-batch
    * card metrics — the continuous-ingestion loop a training-corpus
    * build actually runs: each micro-batch of documents (1) reports
    * its volume/quality counters through `observe()` (named
    * aggregates surfaced in every StreamingQueryProgress event — the
    * monitoring hook, zero extra passes over the data), and (2)
    * appends into a VersionedStore snapshot, so THE CORPUS IS
    * QUERYABLE AND TIME-TRAVELABLE AT EVERY POINT of the ingest — a
    * reader pins the version it started on while the feed keeps
    * committing (the snapshot-isolation contract), and the q236/q238
    * card runs against any version for the release gate.
    *
    * foreachBatch is the boundary for the same reason as mergeStream:
    * the commit point must be the store's manifest CAS (concurrent
    * with compaction/vacuum/second feeds). At-least-once replay of a
    * batch costs one redundant append version — dedup is the
    * downstream q50/q88 stage's job, exactly as in the batch
    * pipeline.
    *
    * The commit is UNCONDITIONAL on purpose: observed metrics
    * accumulate over EVERY action that touches the batch (measured: an
    * isEmpty pre-probe's limit-1 scan adds its partial counts to the
    * progress event), so the one-action-per-batch shape is what keeps
    * the card counters exact — and an empty append is already harmless
    * (a version listing exactly its parent's files, the same cost
    * class as a replayed batch). */
  def ingestStream(docs: DataFrame, storeRoot: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs
      .observe("ingest",
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        min(length(col("text"))).as("min_chars"),
        max(length(col("text"))).as("max_chars"))
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.VersionedStore.commit(batch.toDF(), storeRoot,
          overwrite = false)
        ()
      }

  /** STREAMING IVF INGEST (round 11; composing three r10 pieces —
    * ingestStream's foreachBatch commit boundary, the VersionedStore
    * manifest CAS, and the q168 frozen-quantizer discipline): each
    * micro-batch of vectors is assigned to the standing centroids
    * (map-side encode, no retrain — the q168 append rule) and
    * committed as an APPEND VERSION of the cells store, so the index
    * is time-travelable per applied batch and a probe pins the exact
    * snapshot it searches ([[graft.ops.Similarity.ivfTopKFromVersionedCells]])
    * while ingest keeps committing. Probing the latest version after N
    * batches is row-identical to a one-shot index from the same
    * centroids (spec-pinned — the frozen-quantizer invariant
    * transfers). The batch is sorted by cell before the commit so each
    * version's files carry tight per-row-group cell ranges for probe
    * pruning. Replays are the usual at-least-once trade: one redundant
    * append version, duplicate vid rows for the replayed batch —
    * dedup is the downstream keep-best stage's job (same contract as
    * ingestStream). The centroids come from the IVF model cache
    * (Similarity.assignCells): the first batch reads `centsPath`, later
    * batches only check its listing. */
  def ivfIngestStream(vectors: DataFrame, centsPath: String,
                      cellsRoot: String, id: String, emb: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val assigned = graft.ops.Similarity.assignCells(
            centsPath, batch.toDF(), id, emb,
            graft.ops.Similarity.LiteralCellsMax).sort(col("cell"))
          graft.sources.VersionedStore.commit(assigned, cellsRoot,
            overwrite = false)
        }
        ()
      }

  /** STREAMING GRAPH-ANN INGEST (round 13; VERDICT r12 item 6 — the
    * ivfIngestStream twin for the graph family): each micro-batch of
    * vectors NSW-inserts into the standing graph index
    * ([[graft.ops.Similarity.appendToNswIndexTo]] — batch beam-search
    * for each delta vector's M nearest, bidirectional wiring, touched
    * nodes re-pruned at the store's PINNED M), run copy-on-write
    * inside VersionedStore.publishDirIf so the manifest CAS flips a
    * complete (graph, vectors, params) build per applied batch — a
    * concurrent probe always resolves a whole version, never a torn
    * pair, and the store is time-travelable per batch. The publish
    * is CONDITIONAL on the parent build still being the latest
    * (round 16): a concurrent erase or second ingest that commits
    * first forces a rebase from the new head, so a stale append can
    * never resurrect erased ids nor overwrite another writer's rows. The FIRST
    * batch builds the index (scaled-default construction unless the
    * store already exists). Append is deterministic, so a
    * stream-ingested index is bit-identical to the batch build+append
    * sequence at the same cut (spec-pinned) and replays publish a
    * redundant-but-identical version (the ivfIngestStream
    * at-least-once trade).
    *
    * Scale (100 TB stream): per batch the search is hops·(adjacency
    * join + bounded top-beam) and the re-prune rescores
    * O(|batch|·M²) pairs; the copy-on-write rewrite is graph-sized —
    * at deployment partition the graph table and rewrite only
    * touched partitions (the mergeCommit discipline), which drops the
    * per-batch write to O(touched partitions). A PINNED store (or a
    * manifest-less pre-r13 store) short-circuits straight to the
    * append path — the auto-rescale size probe (store id scan + two
    * counts) runs only for non-pinned stores, where it can actually
    * fire (r13 advice). */
  def nswIngestStream(vectors: DataFrame, indexRoot: String,
                      id: String, emb: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val b = batch.toDF().localCheckpoint()
          graft.sources.VersionedStore.resolveDir(s, indexRoot) match {
            case None =>
              graft.sources.VersionedStore.publishDir(s, indexRoot)(p =>
                graft.ops.Similarity.writeNswIndex(b, id, emb, p))
            case Some(_) =>
              // resolve -> build -> publish-IF rebase loop (round 16;
              // VERDICT r15 item 7): the append bakes the parent build
              // into its output, so it commits with publishDirIf — it
              // wins only while that parent is still the latest. A
              // concurrent ERASE that flips the store first makes this
              // attempt lose and rebase from the erased head, so a
              // stale append can never resurrect deleted ids (and the
              // delete path runs the same loop, so it can never drop
              // this batch). Interleaving contract: whichever commits
              // second rebuilds on top of the other; an erased id
              // returns to the store only if a LATER batch re-ingests
              // it (legitimate new data), never by replay of an old
              // base.
              var rebases = 0
              var committed = false
              while (!committed) {
                require(rebases <= 8,
                  s"nswIngestStream: $indexRoot: gave up after 8 rebases")
                val curV = graft.sources.VersionedStore
                  .latestVersion(s, indexRoot)
                val cur = graft.sources.VersionedStore
                  .resolveDir(s, indexRoot).getOrElse(sys.error(
                    s"nswIngestStream: $indexRoot vanished mid-rebase"))
                // a DEFAULT-built (non-pinned) store whose grown size
                // now scales to a different construction budget is
                // REBUILT scaled instead of appended — otherwise a
                // stream whose first batch was small keeps tiny-corpus
                // constants forever and walks straight back into the
                // recall-collapse regime the scaled defaults exist to
                // prevent (r13 review finding). Rebuild cost amortizes:
                // nswScaledParams changes at most O(log n) times over a
                // store's lifetime.
                val pinnedNow = graft.ops.Similarity
                  .readNswParamsFull(s, cur)
                // PINNED stores (and manifest-less pre-r13 stores,
                // which read pinned = true) can never rescale — go
                // straight to the append path without reading the
                // store's vectors or paying two count() actions per
                // micro-batch (r13 advice: the rescale probe was
                // store-sized work on a branch that could never fire)
                val mayRescale = pinnedNow.exists(!_._6)
                val mustRescale = mayRescale && {
                  val existingIds = s.read.parquet(s"$cur/vectors")
                    .select(col("vid").as(id))
                  // store rows win on replay (the append path's
                  // left-anti idempotence rule), so the grown size is
                  // exact: existing + genuinely-new batch rows
                  val grownN = existingIds.count() +
                    b.select(col(id))
                      .join(existingIds, Seq(id), "left_anti").count()
                  pinnedNow.exists { case (m, r, bm, h, _, _) =>
                    graft.ops.Similarity.nswScaledParams(grownN) != ((m, r, bm, h))
                  }
                }
                committed =
                  if (mustRescale) {
                    val existing = s.read.parquet(s"$cur/vectors")
                      .select(col("vid").as(id), col("c_emb").as(emb))
                      .localCheckpoint()
                    val fresh = b.select(col(id), col(emb))
                      .join(existing.select(col(id)), Seq(id), "left_anti")
                    graft.sources.VersionedStore
                      .publishDirIf(s, indexRoot, curV + 1)(p =>
                        graft.ops.Similarity.writeNswIndex(
                          existing.unionByName(fresh), id, emb, p))
                  } else
                    graft.sources.VersionedStore
                      .publishDirIf(s, indexRoot, curV + 1)(p =>
                        graft.ops.Similarity
                          .appendToNswIndexTo(b, id, emb, cur, p))
                if (!committed) {
                  rebases += 1
                  System.err.println(s"[nsw-ingest] $indexRoot: lost the " +
                    s"commit race for v${curV + 1}; rebasing")
                }
              }
          }
        }
        ()
      }

  /** Stream-static enrichment join: every streaming event picks up its
    * user's dimension row. The static side is a plain DataFrame — Spark
    * re-plans it per micro-batch (so a refreshed dim table is picked up
    * on the next batch) and picks a broadcast join when the dim side is
    * under the auto-broadcast threshold (no forced hint: a huge dim
    * table degrades to a shuffle join instead of OOMing the driver); no
    * streaming state is kept, which makes this the cheapest streaming
    * join shape and the default for dimension enrichment at any scale.
    * Keys are resolved against their OWN side, so events and dims may
    * share the key column name (the normal case). Left join: events
    * with an unknown key survive with null dims rather than silently
    * dropping. */
  def enrichStream(events: DataFrame, dims: DataFrame,
                   eventKey: String, dimKey: String): DataFrame =
    events.join(dims, events(eventKey) === dims(dimKey), "left_outer")

  /** Stream-stream event-time interval join: each click joins the views
    * by the same user in the preceding `window`. Both sides carry
    * watermarks and the join condition bounds event time on BOTH sides,
    * so Spark evicts buffered state once the watermark passes a row's
    * join horizon — state is O(in-flight window), not O(stream), the
    * requirement for an unbounded two-stream join at cluster scale.
    * Input schemas: views(view_user, view_id, view_ts),
    * clicks(click_user, click_id, click_ts). */
  def viewClickJoin(views: DataFrame, clicks: DataFrame,
                    window: String = "10 minutes",
                    joinType: String = "inner"): DataFrame =
    views.withWatermark("view_ts", "1 hour")
      .join(clicks.withWatermark("click_ts", "1 hour"),
        expr(s"""view_user = click_user AND
                 click_ts >= view_ts AND
                 click_ts <= view_ts + INTERVAL $window"""),
        joinType)
      .select(col("view_user").as("user_id"), col("view_id"), col("click_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("click_ts")).as("click_us"))

  /** Stream-stream LEFT OUTER interval join: like viewClickJoin but
    * views with no click inside the window are still emitted (null
    * click columns) — once the watermark proves no matching click can
    * arrive. The outer emission is exactly what makes conversion-rate
    * streams computable online: unmatched rows ARE the negative class,
    * and they appear as soon as the horizon passes instead of never.
    * Same bounded state as the inner join: both sides watermarked, the
    * condition bounds event time on both sides, state evicted at the
    * horizon. */
  def viewClickJoinOuter(views: DataFrame, clicks: DataFrame,
                         window: String = "10 minutes"): DataFrame =
    viewClickJoin(views, clicks, window, joinType = "left_outer")

  case class TopEntry(value: Double, event_id: Long)
  case class TopState(user_id: Long, top: Seq[TopEntry])

  /** Streaming top-k per key — the streaming face of batch TopKAgg:
    * state is a bounded size-k list per key (largest (value, event_id)
    * first), updated per micro-batch and emitted in update mode.
    * Executor state is O(keys · k) forever, independent of stream
    * length — the bound that makes indefinite ingest feasible. */
  def topkStream(events: Dataset[Event], k: Int = 3): Dataset[TopState] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Seq[TopEntry], TopState](GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Seq[TopEntry]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++
              batch.map(e => TopEntry(e.value, e.event_id)))
            .sortBy(t => (-t.value, -t.event_id)).take(k)
          state.update(merged)
          TopState(userId, merged)
      }
  }

  case class Change(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                    event_type: String, value: Double)
  case class KeyLatest(tsUs: Long, seq: Long, op: String, valueCents: Long, n: Long)
  case class LatestState(user_id: Long, last_type: String, last_value_cents: Long,
                         last_ts_us: Long, n_changes: Long)

  /** Streaming CDC latest-state view — the streaming face of batch
    * Changes.latestState: per key, one bounded state record (the most
    * recent change by (ts, seq) plus a change counter), re-emitted in
    * update mode whenever a micro-batch touches the key. Downstream
    * treats the output as an upsert stream keyed by user_id; tombstoned
    * keys surface with last_type = tombstone so the sink can delete.
    * State is O(keys) forever — one fixed-size record per key,
    * independent of stream length. */
  def latestStateStream(changes: Dataset[Change]): Dataset[LatestState] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.user_id)
      .mapGroupsWithState[KeyLatest, LatestState](GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Change], state: GroupState[KeyLatest]) =>
          var st = state.getOption.getOrElse(
            KeyLatest(Long.MinValue, Long.MinValue, "", 0L, 0L))
          batch.foreach { c =>
            val t = micros(c.ts)
            val cents = math.floor(c.value * 100 + 0.5).toLong
            st =
              if (t > st.tsUs || (t == st.tsUs && c.event_id > st.seq))
                KeyLatest(t, c.event_id, c.event_type, cents, st.n + 1)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          LatestState(userId, st.op, st.valueCents, st.tsUs, st.n)
      }
  }

  val SessionGapUs: Long = 30L * 60 * 1000000

  /** Exact microseconds since epoch (Timestamp.getTime alone drops µs). */
  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos.toLong / 1000L

  /** Gap-based sessionization (30-min inactivity) via
    * flatMapGroupsWithState: one open session per user in state; closed
    * sessions are emitted as soon as a later event (or an event-time
    * timeout) proves the gap. Mirrors the batch q31 semantics. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // Watermark passed the open session's gap — close and emit it.
            val out = state.getOption.map(s =>
              Session(userId, s.startUs, s.endUs, s.n, s.total)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            val closed = Seq.newBuilder[Session]
            var open = state.getOption
            sorted.foreach { e =>
              val tUs = micros(e.ts)
              open match {
                case Some(s) if tUs - s.endUs <= SessionGapUs =>
                  open = Some(OpenSession(s.startUs, tUs, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, s.startUs, s.endUs, s.n, s.total)
                  open = Some(OpenSession(tUs, tUs, 1, e.value))
                case None =>
                  open = Some(OpenSession(tUs, tUs, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Fire once the watermark proves no event can extend the session.
              state.setTimeoutTimestamp(s.endUs / 1000 + SessionGapUs / 1000)
            }
            closed.result().iterator
          }
      }
  }

  case class RateAlert(user_id: Long, ts_us: Long, n_events: Long)
  /** `carry`/`carryBoundUs`: saturating count of in-window events the
    * `times` cap truncated, plus an upper bound on their (unknown)
    * timestamps — every truncated event's ts is ≤ the head of the kept
    * array at truncation time. The count decision adds `carry` while a
    * window could still contain the truncated region, so cap pruning
    * can never dip an in-flood count under the limit (which would
    * re-arm the hysteresis and fire a duplicate alert mid-episode).
    *
    * STATE-SCHEMA NOTE: adding these fields changes the
    * flatMapGroupsWithState encoder schema — a query restarted from a
    * checkpoint written by the previous shape fails the state-schema
    * compatibility check rather than resuming. Deploying a state-shape
    * change to a live monitor means a new checkpoint location (alerts
    * re-arm from empty state; one duplicate alert per key already
    * mid-episode is the worst case) — the standard Structured
    * Streaming state-evolution constraint, called out here because a
    * rate monitor is exactly the kind of query that runs for months. */
  case class RateState(times: Seq[Long], lastSeenUs: Long, inViolation: Boolean,
                       carry: Long = 0L, carryBoundUs: Long = Long.MinValue)

  /** STATEFUL RATE MONITOR with hysteresis: alert the moment a key
    * ENTERS violation (sliding-window count crosses `maxEvents`),
    * suppress while it stays violated, re-arm only after the count
    * drops back under the limit — one alert per violation episode, no
    * alert spam during a sustained flood, and batch-split-deterministic
    * (the armed/violated flag lives in state; alert decisions are only
    * evaluated at event times NEWER than anything already processed,
    * so replaying context never re-fires). A tumbling aggregate only
    * reports after the window closes; this fires mid-stream.
    *
    * State per key: the most-recent in-window event times, HARD-CAPPED
    * at 8·(maxEvents+1), PLUS a saturating carry counter for the
    * truncated tail — during a flood the count decision adds the carry
    * while a window could still reach the truncated region, so the
    * stay-in-violation verdict NEVER depends on truncated history (a
    * truncation-induced dip under the limit would re-arm and fire a
    * duplicate alert mid-episode) and the emitted n_events saturates
    * high instead of undercounting. The carry expires once windows
    * move past its timestamp upper bound (≤ one window), after which
    * counts are exact again. Idle keys are EVICTED by event-time
    * timeout one window past the watermark — state is O(active keys),
    * never O(keys ever seen). The in-batch sweep is a two-pointer pass
    * over the sorted merged times: O(n log n) in the batch's events. */
  def rateAlerts(events: Dataset[Event], windowUs: Long,
                 maxEvents: Int): Dataset[RateAlert] = {
    import events.sparkSession.implicits._
    val cap = 8 * (maxEvents + 1)
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[RateState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
              .getOrElse(RateState(Nil, Long.MinValue, inViolation = false))
            val arr = (prev.times ++ batch.map(e => micros(e.ts))).sorted.toArray
            val alerts = Seq.newBuilder[RateAlert]
            var inV = prev.inViolation
            var start = 0
            var i = 0
            while (i < arr.length) {
              val t = arr(i)
              while (arr(start) <= t - windowUs) start += 1
              // truncated events all have ts ≤ carryBoundUs, so they are
              // certainly gone once the window start passes that bound;
              // until then count them as present (saturating high — the
              // conservative direction for hysteresis)
              val carried = if (prev.carry > 0 && t - windowUs < prev.carryBoundUs)
                prev.carry else 0L
              val cnt = (i - start + 1) + carried
              // context events (ts <= lastSeenUs) were decided in an
              // earlier batch — never re-evaluate them
              if (t > prev.lastSeenUs) {
                if (cnt > maxEvents && !inV) {
                  alerts += RateAlert(userId, t, cnt)
                  inV = true
                } else if (cnt <= maxEvents) inV = false
              }
              i += 1
            }
            if (arr.nonEmpty) {
              val newest = arr.last
              val inWin = arr.dropWhile(_ <= newest - windowUs)
              val kept = inWin.takeRight(cap)
              // the cap's fresh victims are the oldest in-window entries
              // (all ≤ kept.head); fold them into the surviving carry
              val prevLive = if (prev.carry > 0 && newest - windowUs < prev.carryBoundUs)
                prev.carry else 0L
              val fresh = (inWin.length - kept.length).toLong
              val carry = prevLive + fresh
              val bound =
                if (carry == 0L) Long.MinValue
                else if (fresh > 0L) math.max(kept.head,
                  if (prevLive > 0) prev.carryBoundUs else Long.MinValue)
                else prev.carryBoundUs
              state.update(RateState(kept.toSeq, newest, inV, carry, bound))
              state.setTimeoutTimestamp(newest / 1000 + windowUs / 1000)
            }
            alerts.result().iterator
          }
      }
  }

  /** STREAMING SPRT MONITOR (round 15) — q384's early-stopping audit
    * turned into what it naturally is: a CONTINUOUS gate. The batch
    * query replays an experiment after the fact; this one evaluates
    * Wald's llr on every micro-batch of the treatment stream as it
    * arrives and appends (batch_id, n_cum, k_cum, llr_micro, decision)
    * to the monitor table — the row an experimentation dashboard polls
    * to stop an experiment the moment the evidence crosses ±ln 19.
    *
    * The hypotheses (p0Bp, p1Bp) are FIXED integer-bp constants the
    * caller derives once (from the control arm, the q384 rule); the
    * two per-observation llr constants are discretized to micro at
    * stream START by the identical pinned-double rule, so the
    * streaming llr path is bit-identical to the batch q384 chain over
    * the same prefix of observations.
    *
    * foreachBatch is the boundary (the psiDriftStream reasoning): the
    * cumulative (N, K) must fold across batches, and the monitor
    * table itself carries it — each row stores cumulative counts, a
    * new batch reads the rows with batch_id < its own, takes the
    * latest cumulative, and adds its delta. At-least-once replay
    * recomputes from the same predecessor rows and re-appends the
    * SAME row (dedup on batch_id at read, the psi convention); the
    * predecessor read is partition-pruned-small (the monitor table is
    * one row per micro-batch). */
  def sprtMonitorStream(events: DataFrame, isSuccess: Column,
                        p0Bp: Long, p1Bp: Long, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(p0Bp > 0 && p0Bp < 10000 && p1Bp > 0 && p1Bp < 10000,
      s"hypothesis rates must be interior bp, got p0=$p0Bp p1=$p1Bp")
    val c1 = math.floor((math.log(p1Bp.toDouble) -
      math.log(p0Bp.toDouble)) * 1e6 + 0.5).toLong
    val c0 = math.floor((math.log(10000d - p1Bp) -
      math.log(10000d - p0Bp)) * 1e6 + 0.5).toLong
    val bound = 2944439L // floor(1e6*ln(19)+0.5): alpha = beta = 0.05
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val d = batch.agg(count(lit(1)).as("n_d"),
            sum(when(isSuccess, 1L).otherwise(0L)).as("k_d"))
            .head()
          val (nD, kD) = (d.getLong(0), d.getLong(1))
          val prev = try {
            // dedup-at-read on batch_id (the documented convention,
            // r15 advice): an at-least-once replay re-appends the
            // predecessor row, and limit(1) over tied batch_ids would
            // otherwise pick an arbitrary physical row — collapse
            // duplicates per batch_id first — a no-op for
            // byte-identical replays, deterministic against a
            // divergent duplicate: max for the cumulative counts,
            // MIN for the decision ("accept_*" < "continue", so a
            // recorded stop can never be un-stopped by a duplicate
            // that says continue — the absorbing contract).
            s.read.parquet(outDir)
              .where(col("batch_id") < id)
              .groupBy(col("batch_id"))
              .agg(max(col("n_cum")).as("n_cum"),
                max(col("k_cum")).as("k_cum"),
                min(col("decision")).as("decision"))
              .orderBy(col("batch_id").desc).limit(1)
              .select(col("n_cum"), col("k_cum"), col("decision"))
              .collect()
              .headOption
              .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
              .getOrElse((0L, 0L, "continue"))
          } catch { case _: org.apache.spark.sql.AnalysisException =>
            (0L, 0L, "continue") } // first batch: no monitor table yet
          val (n, k) = (prev._1 + nD, prev._2 + kD)
          val llr = k * c1 + (n - k) * c0
          // ABSORBING, per Wald: the test ENDS at the first boundary
          // crossing — later rows keep the verdict (cumulative counts
          // and llr keep updating as post-decision bookkeeping), so
          // evidence drifting back across the line can never un-stop
          // a stopped experiment
          val decision =
            if (prev._3 != "continue") prev._3
            else if (llr >= bound) "accept_h1"
            else if (llr <= -bound) "accept_h0" else "continue"
          import s.implicits._
          Seq((id, n, k, llr, decision))
            .toDF("batch_id", "n_cum", "k_cum", "llr_micro", "decision")
            .write.mode("append").parquet(outDir)
        }
        ()
      }
  }
}

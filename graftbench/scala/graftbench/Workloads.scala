package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Events, Relational, Similarity, Text}
import graft.sources.VersionedStore
import graft.streaming.Streaming

private object M {
  def num(m: Map[String, Any], k: String): Long = m(k) match {
    case n: Long => n
    case other => sys.error(s"manifest field $k is $other")
  }

  /** Order-independent digest of collected rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The batch LLM-corpus pass: clean and gate, exact dedup, MinHash-LSH
  * near-dup pairs, clusters, keeper election, the kept corpus written to
  * a versioned store plus a signature store, then incremental batches
  * scored against (and committed to) that signature store. */
final class CorpusPrep(data: String, man: Map[String, Any]) extends Workload {
  private val Tau = 0.6
  private val Builds = 3
  private val Requests = 4
  private val ChurnRounds = 3
  private val expect = man("expect").asInstanceOf[Map[String, Any]]
  private def exp(k: String) = M.num(expect, k)

  def rowsPerIteration: Long = M.num(man, "rows")
  def inputBytes: Long = M.num(man, "bytes")

  override def setup(ctx: Ctx): Unit = ctx.op("setup", "register inputs") {
    ctx.spark.read.parquet(s"$data/documents.parquet").createOrReplaceTempView("documents")
  }

  def storedBytes(ctx: Ctx): Long = Files.bytes(s"${ctx.work}/corpus")

  private def clean(df: DataFrame): DataFrame =
    df.select(col("doc_id"), Text.normalized(Text.scrub(lower(col("text")))).as("text_clean"))

  def iteration(ctx: Ctx, i: Int): Unit = {
    val s = ctx.spark
    val tr = ctx.tr
    val dir = s"${ctx.work}/corpus"
    Files.delete(dir)
    val store = s"$dir/kept"
    val sig = s"$dir/signatures"
    val docs = s.read.parquet(s"$data/documents.parquet")

    // 1. normalize + scrub, then language id and the per-language quality
    // gate over the cleaned text. Both results feed several later steps,
    // so the pipeline keeps them.
    val cleaned = ctx.op("pass", "clean") {
      tr.span("ops.Text", "normalized+scrub")(tr.plan("clean", clean(docs)).localCheckpoint())
    }
    val gated = ctx.op("pass", "gate") {
      tr.span("ops.Text", "languageId+qualityGate") {
        val lang = Text.languageId(cleaned, "doc_id", "text_clean", Text.langMarkers)
        val gate = Text.qualityGate(cleaned.join(lang, "doc_id"), "doc_id", "text_clean",
          "pred_lang", 0.10)
        tr.plan("gate", cleaned.join(gate.select("doc_id"), "doc_id")).localCheckpoint()
      }
    }
    ctx.check(gated.count() == exp("gated"), s"gated ${gated.count()} != ${exp("gated")}")

    // 2. exact dedup; the representatives feed three later steps.
    val reps = ctx.op("pass", "exact") {
      tr.span("ops.Dedup", "exact") {
        val ex = Dedup.exact(gated, "doc_id", "text_clean")
        tr.plan("exact", gated.join(ex.select(col("keep_id").as("doc_id")), "doc_id"))
          .localCheckpoint()
      }
    }
    ctx.check(reps.count() == exp("exact_kept"), s"exact kept ${reps.count()}")

    // 3-4. near-dup pairs and their connected components.
    val pairs = ctx.op("pass", "minhashLshPairs") {
      tr.frame("ops.Dedup", "minhashLshPairs")(
        Dedup.minhashLshPairs(reps, "doc_id", "text_clean", Tau))
    }
    val cl = ctx.op("pass", "clusters") {
      tr.span("ops.Dedup", "clusters")(
        Dedup.clusters(pairs.select("doc_a", "doc_b")).localCheckpoint())
    }
    if (tr.enabled) {
      // verified pairs over LSH candidates (pairs sharing a band bucket)
      val bk = Dedup.signatureBuckets(Dedup.shingleArrays(reps, "doc_id", "text_clean"))
      val cand = bk.as("a").join(bk.as("b"), col("a.band") === col("b.band") &&
          col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      tr.record("ops.Dedup.candidate_precision", pairs.count().toDouble / math.max(1L, cand))
    }

    // 5. one keeper per cluster.
    val keepers = ctx.op("pass", "electKeepers") {
      tr.span("ops.Dedup", "electKeepers") {
        val q = Text.qualityBp(reps, "doc_id", "text_clean")
        tr.plan("electKeepers", Dedup.electKeepers(cl, q)).collect()
      }
    }
    val keepIds = keepers.map(_.getAs[Long]("keep_id"))
    ctx.check(keepers.length == exp("clusters"), s"clusters ${keepers.length} != ${exp("clusters")}")
    ctx.check(keepIds.distinct.length == keepers.length &&
      keepers.map(_.getAs[Long]("cluster_id")).distinct.length == keepers.length,
      "not exactly one keeper per cluster")
    ctx.check(keepers.map(_.getAs[Long]("cluster_size")).sum == exp("clustered_docs"),
      "clustered documents differ")

    // 6. the kept corpus through the versioned store, and its signatures.
    import s.implicits._
    val kept = reps.join(cl.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(reps.join(broadcast(keepIds.toSeq.toDF("doc_id")), "doc_id"))
      .select("doc_id", "text_clean")
    for (_ <- 0 until ctx.rounds(Builds)) {
      Files.delete(dir)
      ctx.op("build", "kept stores") {
        tr.write("VersionedStore.commit", store)(VersionedStore.commit(kept, store, overwrite = true))
        tr.span("ops.Dedup", "writeSignatureStore")(
          Dedup.writeSignatureStore(VersionedStore.read(s, store), "doc_id", "text_clean", sig))
      }
    }
    val keptN = VersionedStore.read(s, store).count()
    ctx.check(keptN == exp("kept"), s"kept $keptN != ${exp("kept")}")

    // 7. a new crawl batch scored against the store; then churn rounds: a
    // churn batch committed to the store and scored against the store
    // without its own partition, as a stream retrying the batch would do:
    // its signatures are computed once and shared by the write and the
    // pair search, and every round after the first re-commits the batch
    // idempotently, so every churn request sees the same store. A warm
    // iteration repeats each step (`Ctx.rounds`).
    for (_ <- 0 until ctx.rounds(Requests)) {
      val np = ctx.op("request", "new_batch") {
        tr.span("ops.Dedup", "incrementalPairs") {
          val b = clean(s.read.parquet(s"$data/new_batch.parquet"))
          tr.plan("incrementalPairs",
            Dedup.incrementalPairs(b, "doc_id", "text_clean", sig, Tau)).collect().length
        }
      }
      ctx.check(np == M.num(man, "new_batch_pairs"), s"new batch pairs $np")
    }
    val arrs = Dedup.shingleArrays(clean(s.read.parquet(s"$data/churn_batch.parquet")),
      "doc_id", "text_clean").cache()
    val bk = Dedup.signatureBuckets(arrs).cache()
    try for (_ <- 0 until ctx.rounds(ChurnRounds)) {
      ctx.op("commit", "commit churn_batch") {
        tr.span("ops.Dedup", "writeSignatureStoreFrom")(
          Dedup.writeSignatureStoreFrom(arrs, sig, "churn", buckets = Some(bk)))
      }
      val cp = ctx.op("churn_request", "churn_batch") {
        tr.span("ops.Dedup", "incrementalPairsFrom")(tr.plan("incrementalPairsFrom",
          Dedup.incrementalPairsFrom(arrs, bk, sig, Tau, excludeBatch = Some("churn")))
          .collect().length)
      }
      ctx.check(cp == M.num(man, "churn_batch_pairs"), s"churn batch pairs $cp")
    } finally { bk.unpersist(); arrs.unpersist() }
  }
}

/** Similarity serving: an IVF index built and published through the
  * versioned store, a closed loop of one client sending small query
  * batches, then IVF commits (append, delete) interleaved with requests. */
final class VectorRetrieval(data: String, man: Map[String, Any]) extends Workload {
  private val Batch = 8
  private val Builds = 2
  private val Requests = 4
  private val ChurnRounds = 2
  private val K = 10
  private var queries: Array[(Long, Array[Float])] = _
  private var appends: Array[(Long, Array[Float])] = _
  private var truth: Map[Long, Set[Long]] = _
  private var root: String = _
  private var next = 0
  private val recall = mutable.ArrayBuffer[Double]()

  def rowsPerIteration: Long = (Requests + 2 * ChurnRounds) * Batch.toLong
  def inputBytes: Long = M.num(man, "bytes")

  private def corpus(s: SparkSession) = s.read.parquet(s"$data/embeddings.parquet")

  private def vecs(df: DataFrame): Array[(Long, Array[Float])] =
    df.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  override def prepare(ctx: Ctx): Unit = {
    val s = ctx.spark
    truth = s.read.parquet(s"$data/truth.parquet").collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    queries = vecs(s.read.parquet(s"$data/queries.parquet"))
    appends = vecs(s.read.parquet(s"$data/appends.parquet"))
    root = s"${ctx.work}/index"
    Files.delete(root)
  }

  def storedBytes(ctx: Ctx): Long = Files.bytes(VersionedStore.resolveDir(ctx.spark, root).get)

  private def frame(s: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame = {
    import s.implicits._
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Rows the IVF probe scored: the output of its broadcast join of
      * probed cells against the queries. */
    def scored(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec => j.metrics("numOutputRows").value
      }.sum
  }

  /** One request: resolve the live index through the versioned store and
    * probe it; returns each query's neighbours, nearest first. */
  private def request(ctx: Ctx, kind: String, rows: Seq[(Long, Array[Float])]): Map[Long, Seq[Long]] = {
    val s = ctx.spark
    val tr = ctx.tr
    val q = frame(s, rows)
    ctx.op(kind, kind) {
      val dir = tr.span("sources", "VersionedStore.resolveDir")(VersionedStore.resolveDir(s, root).get)
      tr.span("ops.Similarity", "ivfTopKFromIndex") {
        val df = tr.plan("ivfTopKFromIndex",
          Similarity.ivfTopKFromIndex(s, dir, q, "vec_id", "embedding", K))
        val res = df.collect()
        if (tr.enabled)
          tr.record("ops.Similarity.rows_scored_per_result",
            Plans.scored(df).toDouble / math.max(1, res.length))
        res.groupBy(_.getAs[Long]("query_id")).map { case (k, rs) =>
          k -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
        }
      }
    }
  }

  private def nextQueries(n: Int): Seq[(Long, Array[Float])] = {
    val out = (0 until n).map(j => queries((next + j) % queries.length))
    next += n
    out
  }

  def iteration(ctx: Ctx, i: Int): Unit = {
    val s = ctx.spark
    val tr = ctx.tr
    // A fresh index version each build; requests resolve the latest.
    for (_ <- 0 until ctx.rounds(Builds)) {
      ctx.op("build", "writeIvfIndex") {
        tr.write("VersionedStore.publishDir", root) {
          VersionedStore.publishDir(s, root)(p => tr.span("ops.Similarity", "writeIvfIndex")(
            Similarity.writeIvfIndex(corpus(s), "vec_id", "embedding", p)))
        }
      }
    }
    for (_ <- 0 until ctx.rounds(Requests)) {
      val batch = nextQueries(Batch)
      val res = request(ctx, "request", batch)
      for ((id, _) <- batch) {
        val got = res.getOrElse(id, Nil)
        ctx.check(got.length == K, s"query $id returned ${got.length} rows")
        recall += got.count(truth(id)).toDouble / K
      }
    }
    // Churn rounds: append a slice of new vectors, query it, delete it
    // again, query again. The index ends each round with the content it
    // started with; each round appends a different slice.
    val dir = VersionedStore.resolveDir(s, root).get
    val slice = appends.length / 8
    val rounds = ctx.rounds(ChurnRounds)
    for (r <- 0 until rounds) {
      val j = (i * rounds + r) % 8
      val added = appends.slice(j * slice, (j + 1) * slice).toSeq
      val addedDf = frame(s, added)
      // copies of appended vectors under fresh query ids, plus regular queries
      val probe = added.take(Batch / 2).map { case (id, v) => (id + 1000000000L, v) } ++
        nextQueries(Batch / 2)
      ctx.op("commit", "appendToIvfIndex") {
        tr.span("ops.Similarity", "appendToIvfIndex")(
          Similarity.appendToIvfIndex(addedDf, "vec_id", "embedding", dir))
      }
      val afterAdd = request(ctx, "churn_request", probe)
      for ((id, _) <- probe.take(Batch / 2))
        ctx.check(afterAdd.getOrElse(id, Nil).headOption.contains(id - 1000000000L),
          s"appended vector ${id - 1000000000L} is not its own nearest neighbour")
      ctx.op("commit", "deleteFromIvfIndex") {
        tr.span("ops.Similarity", "deleteFromIvfIndex")(
          Similarity.deleteFromIvfIndex(s, dir, addedDf, "vec_id"))
      }
      val afterDel = request(ctx, "churn_request", probe)
      val gone = added.map(_._1).toSet
      ctx.check(afterDel.values.forall(_.forall(n => !gone(n))), "deleted vector returned")
      ctx.check(afterDel.size == probe.size && afterDel.values.forall(_.length == K),
        "short result after delete")
    }
  }

  override def summary(ctx: Ctx): Map[String, Any] =
    Map("recall_at_10" -> recall.sum / math.max(1, recall.size))
}

/** The analytics mix: TPC-H-style scan/agg and star joins, rollup and
  * cube, the event operators, a streaming replay of the events, then an
  * event batch committed to a versioned table and a read of it. */
final class Analytics(data: String, man: Map[String, Any]) extends Workload {
  type Q = (SparkSession, String) => DataFrame
  /** (name, layer, call, output written as a file rather than collected) */
  private val mix: Seq[(String, String, Q, Boolean)] = Seq(
    ("q01_pricing_summary", "ops.Relational", Relational.q01 _, false),
    ("q03_topk_revenue", "ops.Relational", Relational.q03 _, false),
    ("q05_multijoin_volume", "ops.Relational", Relational.q05 _, false),
    ("q21_rollup", "ops.Relational", Relational.q21 _, false),
    ("q22_cube", "ops.Relational", Relational.q22 _, false),
    ("q31_sessionize", "ops.Events", Events.q31 _, true),
    ("q32_topk_per_group", "ops.Events", Events.q32 _, false),
    ("q33_asof_join", "ops.Events", Events.q33 _, true),
    ("q35_funnel", "ops.Events", Events.q35 _, false),
    ("q36_retention", "ops.Events", Events.q36 _, false))
  private val Builds = 2
  private val ChurnRounds = 2
  private val digests = mutable.Map[String, String]()

  def rowsPerIteration: Long = M.num(man, "lineitem_rows") + M.num(man, "events_rows")
  def inputBytes: Long = M.num(man, "bytes")

  override def setup(ctx: Ctx): Unit =
    ctx.op("setup", "register inputs") {
      for (t <- graft.Tables.names if t != "documents" && t != "embeddings") {
        val df = if (t == "events") graft.Tables.events(ctx.spark, data)
          else graft.Tables.load(ctx.spark, data, t)
        df.createOrReplaceTempView(t)
      }
    }

  /** The first iteration's output is kept for the DuckDB check made after
    * the run; every later iteration must reproduce its digest. */
  private def verify(ctx: Ctx, name: String, d: String, keep: => Unit): Unit =
    digests.get(name) match {
      case None => digests(name) = d; keep
      case Some(first) => ctx.check(first == d, s"$name output changed between iterations")
    }

  private def sinkDigest(s: SparkSession, path: String): String =
    s.read.parquet(path).agg(count(lit(1)), sum(xxhash64(col("*")).cast("decimal(38,0)")))
      .head().toString

  private def keepRows(s: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.parquet(path)

  def iteration(ctx: Ctx, i: Int): Unit = {
    val s = ctx.spark
    val tr = ctx.tr
    val checkDir = s"${ctx.work}/check"
    val outDir = s"${ctx.work}/out"
    Files.delete(outDir)
    for ((name, layer, q, sink) <- mix) {
      val path = s"$outDir/$name"
      val (rows, schema) = ctx.op("request", name) {
        tr.span(layer, name) {
          val df = tr.plan(name, q(s, data))
          if (sink) { df.write.parquet(path); (null, null) } else (df.collect(), df.schema)
        }
      }
      if (sink) verify(ctx, name, sinkDigest(s, path), Files.copy(path, s"$checkDir/$name"))
      else verify(ctx, name, M.digest(rows), keepRows(s, rows, schema, s"$checkDir/$name"))
    }

    // Streaming: replay every event through the tumbling-window counts
    // with an AvailableNow trigger into a fresh parquet sink.
    val sink = s"$outDir/tumbling"
    val checkpoint = s"$outDir/tumbling_ck"
    for (_ <- 0 until ctx.rounds(Builds)) {
      Files.delete(sink)
      Files.delete(checkpoint)
      ctx.op("build", "tumblingCounts") {
        tr.span("streaming", "tumblingCounts") {
          val events = s"$data/events.parquet"
          val schema = s.read.parquet(events).schema
          val stream = s.readStream.schema(schema).parquet(events)
            .withColumn("ts", col("ts").cast("timestamp"))
          val q = Streaming.tumblingCounts(stream).writeStream.format("parquet")
            .option("checkpointLocation", checkpoint).option("path", sink)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          if (tr.enabled) q.recentProgress.filter(_.numInputRows > 0)
            .foreach(p => tr.record("streaming.batch_ms", p.durationMs.get("triggerExecution").doubleValue))
        }
      }
      verify(ctx, "tumbling", sinkDigest(s, sink), Files.copy(sink, s"$checkDir/tumbling"))
    }

    // Churn rounds: an event batch committed to a new versioned table,
    // then a top-k read of its latest snapshot.
    val store = s"$outDir/events_store"
    for (_ <- 0 until ctx.rounds(ChurnRounds)) {
      Files.delete(store)
      ctx.op("commit", "VersionedStore.commit") {
        tr.write("VersionedStore.commit", store)(VersionedStore.commit(
          s.read.parquet(s"$data/event_batch.parquet"), store, overwrite = false))
      }
      val (rows, schema) = ctx.op("churn_request", "churn_topk") {
        tr.span("ops.Events", "topKPerGroup") {
          val df = tr.plan("topKPerGroup", Events.topKPerGroup(VersionedStore.read(s, store)
            .select(col("user_id"), col("event_id"), col("value")), "user_id", "value", "event_id", 3))
          (df.collect(), df.schema)
        }
      }
      verify(ctx, "churn_topk", M.digest(rows), keepRows(s, rows, schema, s"$checkDir/churn_topk"))
    }
  }

  def storedBytes(ctx: Ctx): Long = Files.bytes(s"${ctx.work}/out")

  override def summary(ctx: Ctx): Map[String, Any] = Map(
    "oracle_sql" -> mix.map { case (name, _, _, _) => name -> graft.SparkEntry.oracleSql(name) }.toMap)
}

/** Serving on one node: the analytics mix and IVF retrieval requests,
  * each with its commits, sent by one client against shared executors. */
final class Serving(data: String, man: Map[String, Any]) extends Workload {
  private val analytics = new Analytics(data, man("analytics").asInstanceOf[Map[String, Any]])
  private val vectors = new VectorRetrieval(data, man("vectors").asInstanceOf[Map[String, Any]])
  private val parts = Seq(analytics, vectors)

  override def prepare(ctx: Ctx): Unit = parts.foreach(_.prepare(ctx))
  override def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def iteration(ctx: Ctx, i: Int): Unit = parts.foreach(_.iteration(ctx, i))
  def rowsPerIteration: Long = parts.map(_.rowsPerIteration).sum
  def inputBytes: Long = parts.map(_.inputBytes).sum
  def storedBytes(ctx: Ctx): Long = parts.map(_.storedBytes(ctx)).sum
  override def summary(ctx: Ctx): Map[String, Any] = parts.map(_.summary(ctx)).reduce(_ ++ _)
}

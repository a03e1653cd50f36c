package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into a layer, made from the benchmark's side of the
  * layer boundary. `parent` is the enclosing span's id (0 at top level);
  * every span of one run carries the run id. */
final case class Span(id: Int, layer: String, name: String, parent: Int,
                      runId: String, startNs: Long, var endNs: Long = 0L)

/** Spark work attributed to one span: the jobs, stages and tasks whose
  * job carried the span's tag. */
final class Counters {
  var jobs, stages, tasks, singleTaskStages, failedTasks = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill, gcMs = 0L
}

/** Listener that charges every job, stage and task to the innermost span
  * whose tag the job carried (SparkContext.addJobTag is thread-local and
  * inherited by threads the caller starts, such as a stream's thread). */
final class LayerListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq
        .filter(_.startsWith(Tracer.TagPrefix))
        .map(_.stripPrefix(Tracer.TagPrefix).toInt))
      .filter(_.nonEmpty).map(_.max).getOrElse(0)

  private def of(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s > 0) of(s).synchronized(of(s).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    if (s > 0) stageSpan.put(e.stageInfo.stageId, s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageSpan.getOrDefault(e.stageInfo.stageId, 0)
    if (s > 0) {
      val c = of(s)
      c.synchronized {
        c.stages += 1
        if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.getOrDefault(e.stageId, 0)
    if (s > 0) {
      val c = of(s)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }
}

object Tracer {
  val TagPrefix = "graftbench-span-"
  /** The layers the benchmark attributes work to: the repo's modules. */
  val Layers: Seq[String] = Seq("sources", "ops.Text", "ops.Dedup", "ops.Similarity",
    "ops.Relational", "ops.Events", "streaming", "plans")
}

/** Spans kept in memory for the whole run and written out at its end.
  * With `enabled` false every call is a plain pass-through, so untraced
  * iterations keep the pipeline's natural action boundaries. */
final class Tracer(val runId: String) {
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer[Span]()
  var enabled = false
  private var listener: LayerListener = _
  private var sc: SparkContext = _
  /** Files and bytes written by `sources` calls, and extra per-layer
    * figures the workloads record (counts, ratios). */
  var filesWritten, bytesWritten = 0L
  val extras = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    listener = new LayerListener
    sc.addSparkListener(listener)
  }

  def record(metric: String, v: Double): Unit =
    if (enabled) extras.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  /** Time `body` as a call into `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val s = Span(nextId, layer, name, stack.headOption.getOrElse(0), runId, System.nanoTime())
      spans += s
      stack.push(s.id)
      val tag = Tracer.TagPrefix + s.id
      sc.addJobTag(tag)
      try body
      finally {
        sc.removeJobTag(tag)
        stack.pop()
        s.endNs = System.nanoTime()
      }
    }

  /** A DataFrame returned by a layer call: its planning (Catalyst, graft's
    * rules included) is timed as a `plans` child span, and when traced the
    * output is materialized at the boundary so the next layer's span holds
    * only its own work. */
  def frame(layer: String, name: String)(body: => DataFrame): DataFrame =
    span(layer, name) {
      val df = body
      if (!enabled) df
      else {
        span("plans", name)(df.queryExecution.executedPlan)
        df.localCheckpoint()
      }
    }

  /** Planning of a DataFrame about to be consumed by an action. */
  def plan(name: String, df: DataFrame): DataFrame = {
    if (enabled) span("plans", name)(df.queryExecution.executedPlan)
    df
  }

  /** A `sources` write under `root`: the files it adds are counted. */
  def write[T](name: String, root: String)(body: => T): T =
    if (!enabled) body
    else {
      val before = Files.sizes(root)
      val t0 = System.nanoTime()
      val out = span("sources", name)(body)
      record("sources.commit_ms", (System.nanoTime() - t0) / 1e6)
      val added = Files.sizes(root).filter { case (p, _) => !before.contains(p) }
      filesWritten += added.size
      bytesWritten += added.values.sum
      out
    }

  /** Per-layer figures over the spans of the traced iterations, divided
    * by `iterations` so they read per iteration. */
  def layerMetrics(iterations: Int, cores: Int): Map[String, Double] = {
    BenchBus.drain(sc)
    val n = math.max(1, iterations).toDouble
    val children = spans.groupBy(_.parent)
    def dur(s: Span) = (s.endNs - s.startNs) / 1e9
    Tracer.Layers.flatMap { layer =>
      val own = spans.filter(_.layer == layer)
      // A call nested in a call of the same layer is already inside its
      // parent's busy time.
      val ids = own.map(_.id).toSet
      val outer = own.filterNot(s => ids.contains(s.parent))
      val busy = outer.map(dur).sum
      val self = own.map(s => dur(s) - children.getOrElse(s.id, Nil).map(dur).sum).sum
      val planMs = own.flatMap(s => children.getOrElse(s.id, Nil))
        .filter(_.layer == "plans").map(dur).sum * 1000 +
        (if (layer == "plans") busy * 1000 else 0.0)
      val c = new Counters
      own.foreach { s =>
        Option(listener.bySpan.get(s.id)).foreach { x =>
          c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks
          c.singleTaskStages += x.singleTaskStages; c.failedTasks += x.failedTasks
          c.cpuNs += x.cpuNs; c.shuffleWrite += x.shuffleWrite
          c.shuffleRead += x.shuffleRead; c.spill += x.spill; c.gcMs += x.gcMs
        }
      }
      val mb = 1024.0 * 1024.0
      Seq(
        "busy_s" -> busy / n, "self_s" -> self / n, "plan_ms" -> planMs / n,
        "jobs" -> c.jobs / n, "stages" -> c.stages / n, "tasks" -> c.tasks / n,
        "single_task_stages" -> c.singleTaskStages / n,
        "task_cpu_s" -> c.cpuNs / 1e9 / n,
        "cpu_util" -> (if (busy > 0) c.cpuNs / 1e9 / (busy * cores) else 0.0),
        "shuffle_write_mb" -> c.shuffleWrite / mb / n,
        "shuffle_read_mb" -> c.shuffleRead / mb / n,
        "spill_mb" -> c.spill / mb / n, "gc_s" -> c.gcMs / 1000.0 / n,
        "failed_tasks" -> c.failedTasks / n
      ).map { case (k, v) => s"$layer.$k" -> v }
    }.toMap ++ Map(
      "sources.files_written" -> filesWritten / n,
      "sources.bytes_written" -> bytesWritten / n)
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Files {
  /** path -> size of every regular file under `root` (empty if absent). */
  def sizes(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally st.close()
    }
  }

  def bytes(root: String): Long = sizes(root).values.sum

  /** Copy the tree under `src` to `dst`. */
  def copy(src: String, dst: String): Unit = {
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Paths.get(dst)
    val st = java.nio.file.Files.walk(from)
    try st.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
    finally st.close()
  }

  def delete(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally st.close()
    }
  }
}

package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-run state shared by the workloads: timed operations, output
  * checks and the tracer. An operation is one step of the pipeline a
  * user would run; its kind says which end-to-end metric it feeds:
  * `pass` (a step of the workload's batch pass), `build` (persisting the
  * workload's store), `request` (a read served from the store), `commit`
  * (a write to the store while it serves) and `churn_request` (a read
  * sent between commits). */
final class Ctx(val tr: Tracer, val work: String) {
  var spark: SparkSession = _
  var phase = "setup"
  var iterSeconds = 0.0
  var iterBuildSeconds = 0.0
  val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  /** Measured operations as (kind, name, seconds), in order. */
  val measured = mutable.ArrayBuffer[(String, String, Double)]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** Attempts per named call, so a check made after the run can charge
    * its failure to every attempt of that call. */
  val attemptsByName = mutable.Map[String, Long]().withDefaultValue(0L)

  /** Time one operation. One that throws records no time. */
  def op[T](kind: String, name: String = "")(body: => T): T = {
    attempted += 1
    if (name.nonEmpty) attemptsByName(name) += 1
    val t0 = System.nanoTime()
    val out = body
    val d = (System.nanoTime() - t0) / 1e9
    iterSeconds += d
    if (kind == "build") iterBuildSeconds += d
    samples.getOrElseUpdate(s"$phase.$kind", mutable.ArrayBuffer()) += d
    if (phase == "measure") measured += ((kind, name, d))
    System.err.println(f"[graftbench] $phase%s $kind%s $name%s ${d * 1000}%.1f ms")
    out
  }

  /** How often an iteration repeats a step: `n` times in a measured
    * iteration, once in the cold one (which only has to warm it up). */
  def rounds(n: Int): Int = if (phase == "measure") n else 1

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      if (failures.size < 50) failures += what
      System.err.println(s"[graftbench] check failed: $what")
    }
}

trait Workload {
  /** Once per run, before any timing (e.g. loading reference results). */
  def prepare(ctx: Ctx): Unit = ()
  /** Once per session, inside set-up timing: what a deployment does
    * before its first pass or request (register inputs, build an index).
    * Its work is timed as operations. */
  def setup(ctx: Ctx): Unit = ()
  /** One iteration of the workload. */
  def iteration(ctx: Ctx, i: Int): Unit
  /** Input rows one iteration processes, for rows_per_s. */
  def rowsPerIteration: Long
  def inputBytes: Long
  /** Bytes the workload's stores and outputs hold after an iteration. */
  def storedBytes(ctx: Ctx): Long
  /** Workload-specific figures for the result record. */
  def summary(ctx: Ctx): Map[String, Any] = Map.empty
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Fixed CPU calibration: seconds for a fixed xorshift64 loop, on one
    * thread and on `threads` threads at once. The figures depend only on
    * the cores' speed and on contention from other processes, so they tell
    * apart records made on different machines or under different load. */
  def calibrationS(threads: Int): Double = {
    def loop(): Unit = {
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      if (acc == 42) println("")
    }
    val t0 = System.nanoTime()
    val ts = (0 until threads).map(_ => new Thread(() => loop()))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val work = arg(args, "work")
    val out = arg(args, "out")
    val setups = arg(args, "setups").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val loadAvg = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val calib = calibrationS(1)
    val parCalib = calibrationS(cores)
    val man = Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/manifest.json")), "UTF-8")).asInstanceOf[Map[String, Any]]
    val runId = f"$workload-$seed-${System.currentTimeMillis()}%x"
    val tr = new Tracer(runId)
    val ctx = new Ctx(tr, work)
    val wl: Workload = workload match {
      case "corpus_prep" => new CorpusPrep(data, man)
      case "serving" => new Serving(data, man)
      case other => sys.error(s"unknown workload $other")
    }
    val stored = mutable.ArrayBuffer[Double]()
    val buildS = mutable.ArrayBuffer[Double]()
    def iterate(i: Int): Boolean = {
      ctx.iterSeconds = 0
      ctx.iterBuildSeconds = 0
      val ok = runIteration(ctx, wl, i)
      if (ok) stored += wl.storedBytes(ctx).toDouble / wl.inputBytes
      ok
    }

    // Set-up: session start plus the workload's per-session set-up, done
    // `setups` times (each in a fresh session), then the run's first,
    // cold iteration. setup_s is the median set-up plus that iteration.
    // The first session also prepares the run's reference data, which is
    // not timed.
    val setupS = mutable.ArrayBuffer[Double]()
    for (k <- 0 until setups) {
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = session(cores, work)
      val t1 = System.nanoTime()
      if (k == 0) {
        wl.prepare(ctx)
        System.err.println(f"[graftbench] prepare ${(System.nanoTime() - t1) / 1e9}%.2f s")
      }
      ctx.iterSeconds = 0
      wl.setup(ctx)
      setupS += (t1 - t0) / 1e9 + ctx.iterSeconds
      System.err.println(f"[graftbench] set-up ${setupS.last}%.2f s, session ${(t1 - t0) / 1e9}%.2f s")
    }
    iterate(0)
    val coldS = ctx.iterSeconds

    // Measurement: iterations until `seconds` have passed. A traced run
    // alternates traced and untraced iterations; the difference of their
    // medians is the tracing overhead.
    ctx.phase = "measure"
    if (traced) tr.attach(ctx.spark)
    val iterS = mutable.ArrayBuffer[Double]()
    val tracedS = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var m = 0
    while (m < (if (traced) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      tr.enabled = traced && m % 2 == 0
      if (iterate(m + 1)) {
        (if (tr.enabled) tracedS else iterS) += ctx.iterSeconds
        if (!tr.enabled) buildS += ctx.iterBuildSeconds
      }
      tr.enabled = false
      m += 1
    }
    val layers = if (traced) tr.layerMetrics(tracedS.size, cores) else Map.empty[String, Double]
    if (traced) tr.writeSpans(s"$work/spans.jsonl")
    val rec = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "run_id" -> runId, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "load_avg" -> loadAvg, "calibration_s" -> calib, "parallel_calibration_s" -> parCalib,
      "setup_s" -> setupS, "cold_iteration_s" -> coldS, "iter_s" -> iterS, "traced_iter_s" -> tracedS,
      "build_s" -> buildS,
      "samples" -> ctx.samples.toMap,
      "measured" -> ctx.measured.map { case (k, n, d) => Seq(k, n, d) },
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures,
      "attempts_by_name" -> ctx.attemptsByName.toMap,
      "rows_per_iteration" -> wl.rowsPerIteration, "input_bytes" -> wl.inputBytes,
      "stored_bytes" -> stored,
      "peak_rss_mb" -> peakRssMb,
      "layers" -> layers,
      "extras" -> tr.extras.toMap,
      "workload_summary" -> wl.summary(ctx))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json.write(rec))
    ctx.spark.stop()
  }

  /** One iteration; an operation that throws fails the iteration's
    * remaining steps, which count as one failure, never as a fast time:
    * false means the iteration's time must not be used. */
  private def runIteration(ctx: Ctx, wl: Workload, i: Int): Boolean =
    try { wl.iteration(ctx, i); true }
    catch {
      case e: Exception =>
        ctx.failed += 1
        ctx.failures += s"iteration $i: $e"
        System.err.println(s"[graftbench] iteration $i failed: $e")
        e.printStackTrace()
        false
    }
}

/** Minimal JSON for the manifest and the result record. */
object Json {
  import scala.jdk.CollectionConverters._

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o => write(o.toString)
  }

  def parse(s: String): Any = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) n.properties().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(conv(_)).toSeq
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isNumber) n.asDouble()
      else if (n.isTextual) n.asText()
      else if (n.isBoolean) n.asBoolean()
      else null
    conv(m.readTree(s))
  }
}

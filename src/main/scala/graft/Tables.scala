package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated star schema (see TESTDATA.md).
  *
  * All operators take a `dir` (scale-factor directory) and read parquet
  * directly so Catalyst sees the scan and can push filters/projections
  * into it. At cluster scale these would be external tables; the access
  * pattern (columnar scan + pushdown) is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Advisory SQL conf: OLD generations of the events table stored ts as
    * parquet TIMESTAMP(NANOS), which Spark 4 refuses unless this legacy
    * conf reads it as a long. Harmless when the data is already
    * microsecond timestamps, so entry points still set it AT SESSION
    * BUILD for back-compat — a loader must not mutate session-global
    * conf as a side effect of a read (it could change unrelated reads
    * mid-session). */
  val requiredConf: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Loads events and normalizes `ts` to session-local TimestampType
    * regardless of the on-disk generation:
    *   - parquet timestamp[us] (current testdata) reads as TIMESTAMP or
    *     TIMESTAMP_NTZ depending on isAdjustedToUTC / inferTimestampNTZ —
    *     cast to TimestampType (value-preserving; all graft sessions run
    *     with spark.sql.session.timeZone=UTC).
    *   - parquet TIMESTAMP(NANOS) + nanosAsLong=true (old generation)
    *     reads as a long of ns since epoch — convert via integral
    *     division (`div`; a double division would lose precision on
    *     ~1.7e18 ns values) to a microsecond timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         =>
        // The int64 branch is NANOSECONDS-ONLY: an int64-microseconds (or
        // seconds) generation divided by 1000 would load silently off by
        // 1000x. Guard with a one-row probe (reads a single row group —
        // this branch is the legacy cold path, so the probe never runs
        // against the current timestamp[us] testdata): ns since epoch for
        // 2000..2100 is ~9.5e17..4.1e18; micros are ~1e15, seconds ~1e9.
        raw.select("ts").head(1).foreach { r =>
          val v = r.getLong(0)
          require(v > 5e17 && v < 5e18, s"events.ts int64 value $v is not " +
            "plausible epoch-NANOSECONDS (loader contract: int64 ts = ns " +
            "since epoch; a micros/seconds generation needs a new branch)")
        }
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => sys.error(
        s"events.ts has unsupported type $other (expected timestamp, " +
          "timestamp_ntz, or int64 nanos under nanosAsLong)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

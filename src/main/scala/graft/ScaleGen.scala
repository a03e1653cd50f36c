package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-decade scale amplifier: derives an sfN corpus from the driver's
  * sf0.1 testdata by stacking `factor` structure-preserving replicas.
  * The point is SCALE EVIDENCE, not new ground truth — each replica is
  * an exact isomorph of the original, so every intra-replica statistic
  * (near-dup pair count, shingle overlap, ANN neighbor structure,
  * FK join fan-out) is preserved bit-for-bit while the corpus grows
  * linearly, and cross-replica similarity is driven to ~zero. A
  * scale-sensitive operator is LINEAR iff its candidate/pair counts on
  * the amplified corpus are exactly `factor`x the sf0.1 counts and its
  * shuffle volume grows ~linearly; any super-linear blowup is a real
  * finding, not an artifact of the amplification.
  *
  * Per-table transforms (replica r = 0 is the identity):
  *  - documents: Caesar-rotate letters (case-preserving) and digits by
  *    r via `translate` — a BIJECTION on tokens and on character
  *    shingles, so Jaccard/MinHash/SimHash/rolling-hash relations
  *    within a replica are isomorphic to the originals, while replicas
  *    share no (alphabetic) vocabulary. Lengths are unchanged, text
  *    stays pure ASCII (the q43 oracle contract), `n_chars` stays
  *    valid. doc_id += r*Stride.
  *  - embeddings: circularly rotate the 64-dim float array by r
  *    positions — an isometry (all intra-replica distances exact),
  *    cross-replica cosines decorrelated. vec_id += r*Stride.
  *  - events: user_id/event_id += r*Stride, timestamps unchanged —
  *    the realistic scale-up (more users over the same period), which
  *    stresses per-day/window fan-out rather than stretching time.
  *  - lineitem/orders/customer/part/supplier: every PK/FK += r*Stride
  *    consistently, so star joins land entirely within a replica;
  *    names Caesar-rotated (entity-resolution structure isomorphic).
  *  - nation/region: copied once — dimension tables do not scale.
  *
  * Stride = 100M keeps replica id spaces disjoint from each other AND
  * from Multimodal.CopyOffset's +10M planted-copy ids.
  *
  * Usage: runMain graft.ScaleGen [sfDir] [outDir] [factor]
  */
object ScaleGen {
  val Stride = 100000000L

  private val lower  = "abcdefghijklmnopqrstuvwxyz"
  private val upper  = lower.toUpperCase
  private val digits = "0123456789"
  private def rot(s: String, k: Int): String = {
    val m = ((k % s.length) + s.length) % s.length
    s.drop(m) + s.take(m)
  }

  /** Case-preserving Caesar shift of letters and digits by r; other
    * characters (whitespace, punctuation) pass through, so token
    * boundaries and string lengths are untouched. */
  def caesar(c: Column, r: Int): Column =
    if (r == 0) c
    else translate(c, lower + upper + digits,
      rot(lower, r) + rot(upper, r) + rot(digits, r))

  private def shift(c: String, r: Int): Column = col(c) + lit(r * Stride)

  def amplify(spark: SparkSession, sfDir: String, factor: Int,
              table: String): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/$table.parquet")
    def replicas(f: Int => DataFrame): DataFrame =
      (0 until factor).map(f).reduce(_ unionByName _)
    table match {
      case "nation" | "region" => base
      case "documents" => replicas { r =>
        base.select(shift("doc_id", r).as("doc_id"),
          caesar(col("text"), r).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      case "embeddings" =>
        val dim = base.head().getSeq[Float](base.columns.indexOf("embedding")).length
        // the rotation×negation×reversal isometry family has period
        // 4·dim — replica 4·dim would be replica 0 VERBATIM
        // (duplicate vectors = contamination, the exact failure this
        // family was built to prevent). Fail loudly instead of
        // silently corrupting scale evidence (r14 advice; the family
        // was EXTENDED the same round's fix suggested — see below —
        // because the r15 beam-cap decade needs factor 140 of the
        // 2k-row sf0.1 base, past the old 2·dim = 128 period).
        require(factor <= 4 * dim,
          s"amplify(embeddings): factor $factor exceeds the isometry " +
            s"family size 4*dim = ${4 * dim} - replicas would repeat " +
            "verbatim; extend the family before raising the factor")
        replicas { r =>
          base.select(shift("vec_id", r).as("vec_id"),
            embIso(dim, r).as("embedding"), col("label"))
        }
      case "events" => replicas { r =>
        base.select(shift("event_id", r).as("event_id"), col("ts"),
          shift("user_id", r).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }
      case "lineitem" => replicas { r =>
        base.withColumn("l_orderkey", shift("l_orderkey", r))
          .withColumn("l_partkey", shift("l_partkey", r))
          .withColumn("l_suppkey", shift("l_suppkey", r))
      }
      case "orders" => replicas { r =>
        base.withColumn("o_orderkey", shift("o_orderkey", r))
          .withColumn("o_custkey", shift("o_custkey", r))
      }
      case "customer" => replicas { r =>
        base.withColumn("c_custkey", shift("c_custkey", r))
          .withColumn("c_name", caesar(col("c_name"), r))
      }
      case "part" => replicas { r =>
        base.withColumn("p_partkey", shift("p_partkey", r))
      }
      case "supplier" => replicas { r =>
        base.withColumn("s_suppkey", shift("s_suppkey", r))
          .withColumn("s_name", caesar(col("s_name"), r))
      }
    }
  }

  /** Replica r's isometry applied to the embedding column: cyclic
    * rotation by r % dim, composed with global negation on odd
    * (r / dim) bands (r14) and with COORDINATE REVERSAL on odd
    * (r / 2·dim) bands (r15 — the family extension the r14 advice
    * offered as the alternative to a hard cap). Reversal is a
    * permutation (an isometry: intra-replica cosines and top-k sets
    * exact), and rev·rot_m = rot_{−m}·rev means no rot·neg member
    * ever equals a rev member, so the composed family has 4·dim
    * DISTINCT elements; replicas r < 2·dim are BYTE-IDENTICAL to the
    * pre-r15 family (reversal band 0), so every recorded scale row
    * replays unchanged. */
  private def embIso(dim: Int, r: Int): Column = {
    val m = r % dim
    val rotated = if (m == 0) col("embedding")
      else concat(slice(col("embedding"), m + 1, dim - m),
                  slice(col("embedding"), 1, m))
    val negated = if ((r / dim) % 2 == 1)
      transform(rotated, x => -x) else rotated
    if ((r / (2 * dim)) % 2 == 1) reverse(negated) else negated
  }

  val AllTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val sfDir  = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/root/repo/target/scale/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // write micros so the amplified tables exercise the SAME loader
      // branch as the driver's timestamp[us] parquet
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (t <- AllTables) {
      amplify(spark, sfDir, factor, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"WROTE $outDir/$t.parquet")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale cross-checks: re-validates the correctness-critical equalities
  * the specs pin at sf0.001 — at whatever scale factor is given
  * (`runMain graft.ScaleCheck /root/testdata/sf0.1`). These are the
  * claims that COULD silently degrade with data volume (LSH recall,
  * perceptual-hash recall, salted-join equality), as opposed to the
  * oracle checks, which the driver already runs per scale. Exits
  * non-zero when a threshold is violated, so scripted runs can't record
  * a regressed invariant as validated. Expensive baselines (the exact
  * brute-force truth, the exact-Jaccard pair set) are cached — each is
  * the costliest plan in the repo and several checks reuse it. */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failures = 0
    def check(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) failures += 1
      println(s"CHECK $name ${if (ok) "OK" else "VIOLATED"} $detail")
    }

    // 1. MinHash-LSH pair set == exact-Jaccard pair set. Equality (not
    // just recall) is checkable because the corpus's qualifying pairs
    // all sit at J >= 0.80 (min jaccard_bp = 8000 at sf0.1 and sf1),
    // where the 32x4 band geometry's per-pair miss is ~5e-8; the old
    // 16x8 geometry (S-curve threshold 0.71 > tau) missed a J = 0.80
    // pair in this very check at sf1 — that is the regression this
    // check exists to catch. Extras == 0 is unconditional (candidates
    // are exact-verified).
    val lshPairs = ops.Dedup.q52(spark, sfDir).select("doc_a", "doc_b").cache()
    val exact = ops.Dedup.q51(spark, sfDir).select("doc_a", "doc_b").cache()
    val lshMiss = exact.exceptAll(lshPairs).count()
    val lshExtra = lshPairs.exceptAll(exact).count()
    check("lsh_vs_exact", lshMiss == 0 && lshExtra == 0,
      s"missed=$lshMiss extra=$lshExtra (total=${exact.count()})")

    // 2. Perceptual image dedup: planted-copy recall + false-pair count.
    val pairs = ops.Multimodal.q124(spark, sfDir).cache()
    val nDocs = Tables.documents(spark, sfDir).count()
    val planted = pairs
      .filter(col("doc_b") - col("doc_a") === ops.Multimodal.CopyOffset).count()
    val falsePairs = pairs.count() - planted
    check("image_dedup",
      falsePairs == 0 && planted.toDouble / nDocs >= 0.99,
      s"planted=$planted/$nDocs false=$falsePairs")
    pairs.unpersist()

    // 3. Salted join equals the plain (unsalted) join — skew mitigation
    // must not change results at any volume.
    val salted = ops.Relational.q29(spark, sfDir)
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(graft.functions.Cols.cents(
          col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("cnt"))
    val saltDiff = salted.exceptAll(plain).count() + plain.exceptAll(salted).count()
    check("salted_join", saltDiff == 0, s"diff_rows=$saltDiff")

    // 4. Incremental dedup (odd batch vs even-id store) == whole-corpus
    // pairs touching an odd doc (cross-run soundness).
    val incr = ops.Dedup.q88(spark, sfDir).select("doc_a", "doc_b")
    val whole = lshPairs.filter(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1)
    val incrDiff = incr.exceptAll(whole).count() + whole.exceptAll(incr).count()
    check("incremental_dedup", incrDiff == 0, s"diff_rows=$incrDiff")
    lshPairs.unpersist(); exact.unpersist()

    // 5. ANN recall@10 vs the exact brute force at this scale (the
    // specs pin ≥0.90 / ≥0.85 at sf0.001; quantizer quality and cell
    // balance shift with corpus size).
    val truth = ops.Similarity.q60(spark, sfDir)
      .select(col("query_id"), col("neighbor_id")).cache()
    val truthN = truth.count()
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hit = truth.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi").count()
      hit.toDouble / truthN
    }
    val (rIvf, rPq, rLsh) = (recall(ops.Similarity.q62(spark, sfDir)),
      recall(ops.Similarity.q63(spark, sfDir)),
      recall(ops.Similarity.q61(spark, sfDir)))
    check("ann_recall", rIvf >= 0.90 && rPq >= 0.85 && rLsh >= 0.90,
      f"ivf=$rIvf%.3f pq=$rPq%.3f lsh=$rLsh%.3f")
    // round-12 family at this scale: NN-Descent graph walk, the
    // IVF-PQ residual composition, and the HNSW layered search at its
    // halved layer-0 hop budget (the spec floors are 0.90/0.85/0.90 at
    // sf0.001 — quantizer/graph quality shifts with corpus size, so
    // the one-decade run must re-measure, not assume)
    // round-12 family at this scale. Round 13: the graph legs gate
    // the DEFAULT write→serve path — writeNswIndex/writeHnswIndex
    // with no explicit params (nswScaledParams construction, the
    // chosen budget pinned in the store's params manifest) probed by
    // the manifest-reading FromIndex defaults. At the 20k one-decade
    // point the oracle-pinned fixed constants collapse to 0.08 recall
    // (graph quality, not walk budget — measured in round 12), which is
    // THE finding this check exists to catch; the scaled default restores
    // ≥0.9 (measured r12: 1.000 @ 2k, 0.950 @ 20k).
    val rGraphFixed = recall(ops.Similarity.q250(spark, sfDir))
    val (c, q) = ops.Similarity.corpusAndQueries(spark, sfDir)
    val nswDir = java.nio.file.Files
      .createTempDirectory("graft-scale-nsw").toString + "/idx"
    ops.Similarity.writeNswIndex(c, "vec_id", "embedding", nswDir)
    val rGraph = recall(ops.Similarity.nswTopKFromIndex(
      spark, nswDir, q, "vec_id", "embedding"))
    val rIvfPq = recall(ops.Similarity.q317(spark, sfDir))
    val hnswDir = java.nio.file.Files
      .createTempDirectory("graft-scale-hnsw").toString + "/idx"
    ops.Similarity.writeHnswIndex(c, "vec_id", "embedding", hnswDir)
    val rHnsw = recall(ops.Similarity.hnswTopKFromIndex(
      spark, hnswDir, q, "vec_id", "embedding"))
    // ivfpq floor 0.80: it tracks q63's PQ (0.85) minus the nprobe
    // loss — measured 0.83 @ 2k and 0.91 @ 20k; probing wider barely
    // moves it (0.83→0.85 at 30/32 probes), the binding constraint is
    // the 4-bit ADC on this near-uniform corpus, exactly as q63's own
    // scaladoc argues
    check("ann_recall_r12",
      rGraph >= 0.90 && rIvfPq >= 0.80 && rHnsw >= 0.85,
      f"graph_default=$rGraph%.3f (fixed-contract=$rGraphFixed%.3f) " +
        f"ivfpq=$rIvfPq%.3f hnsw_default=$rHnsw%.3f")
    truth.unpersist()

    // 6. Hamming pair-key blocking: UNCAPPED pairs must equal the
    // blockless brute-force truth at this scale (the m = h + 2
    // pigeonhole is lossless), and the hot-bucket star cap must
    // preserve CLUSTERS exactly — the cap's contract is that only the
    // within-cluster pair list is thinned, never connectivity (at
    // sf0.1 the cap thins ~2% of pairs inside >512-wide near-identical
    // families; every thinned pair must stay reachable via its hub).
    // simhashMd5, not simhash64: validate the SIGNATURE q53 actually
    // ships (the r7 oracle-reproducibility switch). The blocking
    // invariants are hash-agnostic, so this also covers the xx variant.
    val sigs = Tables.documents(spark, sfDir).select(col("doc_id"),
      graft.functions.F.simhashMd5(array_distinct(
        graft.functions.Cols.tokens(col("text")))).as("simhash")).cache()
    val hamTruth = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .filter(graft.functions.F.hamming64(col("a.simhash"), col("b.simhash")) <= 3)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).cache()
    val uncapped = ops.Dedup.hammingPairs64(sigs, "doc_id", "simhash", 3,
      maxBucket = Int.MaxValue).select("doc_a", "doc_b")
    val unDiff = uncapped.exceptAll(hamTruth).count() +
      hamTruth.exceptAll(uncapped).count()
    check("hamming_lossless", unDiff == 0,
      s"diff_rows=$unDiff (truth=${hamTruth.count()})")
    val cappedPairs = ops.Dedup.hammingPairs64(sigs, "doc_id", "simhash", 3)
      .select("doc_a", "doc_b")
    def labelsOf(p: org.apache.spark.sql.DataFrame) =
      ops.Dedup.clusters(p).select("doc_id", "cluster_id")
    val clDiff = labelsOf(cappedPairs).exceptAll(labelsOf(hamTruth)).count() +
      labelsOf(hamTruth).exceptAll(labelsOf(cappedPairs)).count()
    check("hamming_cap_clusters", clDiff == 0, s"diff_rows=$clDiff")
    hamTruth.unpersist(); sigs.unpersist()

    // 7. KMV sketch merge == direct: the merged per-day minima must be
    // EXACTLY the global k-minimum set (not just a close estimate) —
    // the property the persisted store's range queries (q175) rest on.
    val ev = Tables.events(spark, sfDir).select(
      to_date(col("ts")).as("day"),
      graft.functions.F.md5Hash64(col("user_id").cast("string")).as("h"))
      .cache()
    val mergedKmv = ev.groupBy(col("day"))
      .agg(graft.functions.F.kmvMin(col("h"), 256).as("mins"))
      .select(explode(col("mins")).as("h"))
      .agg(graft.functions.F.kmvMin(col("h"), 256))
      .head().getSeq[Long](0)
    val directKmv = ev.agg(graft.functions.F.kmvMin(col("h"), 256))
      .head().getSeq[Long](0)
    check("kmv_merge_exact", mergedKmv == directKmv,
      s"merged=${mergedKmv.length} direct=${directKmv.length} equal=${mergedKmv == directKmv}")
    ev.unpersist()

    spark.stop()
    if (failures > 0) {
      System.err.println(s"$failures scale check(s) VIOLATED")
      System.exit(1)
    }
  }
}

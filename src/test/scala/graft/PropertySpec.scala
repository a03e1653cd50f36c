package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.F

/** Randomized cross-checks of the native expressions against plain-Scala
  * reference implementations. Each property evaluates the expression
  * through a real (local) Spark plan — so the codegen path, not just
  * nullSafeEval, is exercised — on ScalaCheck-generated inputs. */
class PropertySpec extends AnyFunSuite {
  import SparkTestSession.spark.implicits._

  /** Run a ScalaCheck property under scalatest (50 cases each — every
    * case is a small Spark job, so the count is deliberately modest). */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  private val sortedLongs: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(-1000L, 1000L)).map(_.distinct.sorted.toArray)

  test("jaccardSorted and intersectSize match set arithmetic on random arrays") {
    check(forAll(sortedLongs, sortedLongs) { (a, b) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(F.jaccardSorted(col("a"), col("b")).as("j"),
          F.intersectSize(col("a"), col("b")).as("c"))
        .head()
      val common = a.toSet.intersect(b.toSet).size
      val union = a.toSet.union(b.toSet).size
      val wantJ = if (union == 0) 0.0 else common.toDouble / union
      row.getDouble(0) == wantJ && row.getInt(1) == common
    })
  }

  test("hamming64 matches Long.bitCount of xor on random longs") {
    check(forAll { (a: Long, b: Long) =>
      Seq((a, b)).toDF("a", "b").select(F.hamming64(col("a"), col("b")))
        .head().getInt(0) == java.lang.Long.bitCount(a ^ b)
    })
  }

  test("cosineSim stays in [-1, 1] and is symmetric on random vectors") {
    val vec = Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_.toFloat / 10f))
      .map(_.toArray)
    check(forAll(vec, vec) { (a, b) =>
      val r = Seq((a, b), (b, a)).toDF("a", "b")
        .select(F.cosineSim(col("a"), col("b"))).as[Double].collect()
      r(0) == r(1) && r(0) >= -1.0000001 && r(0) <= 1.0000001
    })
  }

  test("shingleHashes output is sorted, distinct, and has the right size") {
    val words = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f"))
    check(forAll(words) { ws =>
      val arr = Seq(Tuple1(ws.toArray)).toDF("toks")
        .select(F.shingleHashes(col("toks"), 3)).head().getSeq[Long](0)
      val expectedMax = math.max(ws.length - 2, 0)
      (arr == arr.sorted) && arr.distinct.length == arr.length &&
        arr.length <= expectedMax
    })
  }

  test("fmm_segment is a lossless re-spacing: concat(segments) == input minus spaces") {
    // Whatever the dictionary and script mix, segmentation may only
    // re-cut the string at token boundaries — no codepoint may be
    // duplicated, dropped, or reordered. Runs over random mixes of
    // ASCII words, spaces, dictionary words, and out-of-dictionary
    // script codepoints (incl. an astral CJK-Ext-B ideograph, which
    // exercises the surrogate-pair walk).
    val dict = Seq("你好", "世界", "今天天氣", "สวัสดี")
    val atom = Gen.oneOf(Gen.oneOf("ab", "x", "Z9", " ", "  "),
      Gen.oneOf("你好", "世界", "今天天氣", "สวัสดี", "天", "氣", "ดี", "𠀋"))
    val input = Gen.listOf(atom).map(_.mkString)
    check(forAll(input) { s =>
      val segs = Seq(s).toDF("t")
        .select(F.fmmSegment(col("t"), dict)).head().getSeq[String](0)
      segs.mkString("") == s.filterNot(_ == ' ') && !segs.contains("")
    })
  }

  test("minhash signature is permutation-length and bounded by array min property") {
    // Signature entries are minima of hash mixes — adding an element can
    // only keep or lower each minimum (monotonicity of min under
    // superset), which is the property MinHash correctness rests on.
    check(forAll(sortedLongs.suchThat(_.nonEmpty)) { a =>
      val bigger = (a.toSet + 424242L).toArray.sorted
      val df = Seq((a, bigger)).toDF("a", "b")
        .select(F.minhash128(col("a"), 16).as("sa"), F.minhash128(col("b"), 16).as("sb"))
        .head()
      val sa = df.getSeq[Long](0); val sb = df.getSeq[Long](1)
      sa.length == 16 && sb.length == 16 &&
        sa.zip(sb).forall { case (x, y) => y <= x }
    })
  }

  test("min_seg_tokens matches a reference DP on random words and vocabularies") {
    def refDp(word: String, vocab: Seq[String]): Int = {
      val cps = word.toCharArray.map(_.toString) // a-d alphabet: 1 cp per char
      val n = cps.length
      val dp = Array.fill(n + 1)(Int.MaxValue)
      dp(0) = 0
      for (i <- 1 to n) {
        dp(i) = dp(i - 1) + 1
        vocab.distinct.foreach { t =>
          val l = t.length
          if (l <= i && cps.slice(i - l, i).mkString == t)
            dp(i) = math.min(dp(i), dp(i - l) + 1)
        }
      }
      dp(n)
    }
    val word = Gen.listOf(Gen.oneOf("a", "b", "c", "d")).map(_.mkString)
    val vocab = Gen.listOfN(5,
      Gen.choose(2, 3).flatMap(l =>
        Gen.listOfN(l, Gen.oneOf("a", "b", "c", "d")).map(_.mkString)))
    check(forAll(word, vocab) { (w, v) =>
      val got = Seq(Tuple1(w)).toDF("w")
        .select(F.minSegTokens(col("w"), v)).head().getInt(0)
      got == refDp(w, v)
    })
  }

  test("windowHashes64 matches xxhash64 of each joined window on " +
       "random token arrays") {
    val toksGen = Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "e"))
      .map(_.toArray)
    val wGen = Gen.choose(1, 4)
    check(forAll(toksGen, wGen) { (toks, w) =>
      val row = Seq(Tuple1(toks)).toDF("t")
        .select(F.windowHashes64(col("t"), w).as("h"),
          expr(s"if(size(t) < $w, array(), " +
            s"transform(sequence(1, size(t) - $w + 1), " +
            s"i -> xxhash64(array_join(slice(t, i, $w), ' '))))").as("ref"))
        .head()
      row.getSeq[Long](0) == row.getSeq[Long](1)
    })
  }

  /** Per-query set recall of `got` against exact `truth` (both
    * (query_id, rank, neighbor_id) top-k tables). */
  private def knnRecall(truth: org.apache.spark.sql.DataFrame,
                        got: org.apache.spark.sql.DataFrame): (Double, Double) = {
    val t = truth.collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val g = got.collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val per = t.map { case (qid, ts) =>
      g.getOrElse(qid, Set.empty).intersect(ts).size.toDouble / ts.size }
    (per.sum / per.size, per.min)
  }

  test("routed entries recover the truth component the fixed-entry " +
       "walk provably loses on a two-cluster corpus") {
    // The round-16 clustered-corpus finding in miniature: queries sit
    // BETWEEN two tight clusters, so their exact top-10 splits across
    // both — but every corpus node's own top-M list is strictly
    // intra-cluster (the gap dwarfs the intra spread), so NN-Descent
    // builds two DISCONNECTED components and the fixed smallest-vid
    // entry set (all in cluster A) can never reach the B-side truth
    // at ANY walk budget. Routed entries (the per-query router-sample
    // pick) start the walk in both components and recover it.
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dim = 16
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(dim)(d => mix(seed * 1000003L + d).toDouble /
        Long.MaxValue)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val uA = unit(1); val uB = unit(2)
    def member(center: Array[Float], seed: Long): Array[Float] = {
      val w = unit(seed)
      Array.tabulate(dim)(d => center(d) + 0.2f * w(d))
    }
    val corpus = ((0L until 200L).map(i => (i, member(uA, 100 + i))) ++
      (200L until 400L).map(i => (i, member(uB, 700 + i))))
      .toDF("vec_id", "embedding").localCheckpoint()
    val mid = Array.tabulate(dim)(d => (uA(d) + uB(d)) / 2f)
    val queries = (1000L until 1005L)
      .map(qi => (qi, Array.tabulate(dim)(d =>
        mid(d) + 0.05f * unit(3000 + qi)(d))))
      .toDF("vec_id", "embedding")
    val truth = ops.Similarity.bruteForceTopK(
      corpus, queries, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    // construction guard: the truth genuinely splits across clusters
    val bSide = truth.count(_._2 >= 200L)
    assert(bSide >= 15 && bSide <= 35, s"truth split degenerate: $bSide/50")
    val graph = ops.Similarity.nnDescentGraph(
      corpus, "vec_id", "embedding", m = 8, rounds = 6)
    def recall(res: org.apache.spark.sql.DataFrame): Double = {
      val got = res.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      truth.count(got.contains).toDouble / truth.length
    }
    val fixed = recall(ops.Similarity.nswSearchTopK(graph, corpus, queries,
      "vec_id", "embedding", beam = 64, hops = 6))
    val routed = recall(ops.Similarity.nswSearchTopK(graph, corpus, queries,
      "vec_id", "embedding", beam = 64, hops = 6, routeEntries = true))
    info(f"fixed-entry recall=$fixed%.3f routed recall=$routed%.3f")
    // fixed entries lose the B component entirely; routing recovers it
    assert(fixed <= (50 - bSide + 3).toDouble / 50,
      f"fixed-entry walk reached the far component ($fixed%.3f) — the " +
        "designed disconnection no longer demonstrates; re-derive")
    assert(routed >= 0.95, f"routed recall $routed%.3f < 0.95")
  }

  test("graph-entry oracle contract: q264's flag rollup from the " +
       "FIXED-constant walk matches exact 5-NN at the verify corpus, " +
       "and the constants are measurably red one decade up") {
    // THE in-repo enforcement of the q264 contract (VERDICT r13 item
    // 2): q264 serves the graph probe while its DuckDB oracle derives
    // the SAME label-noise rollup from exact 5-NN — the driver's hash
    // gate passes only while the fixed oracle constants (M=16,
    // 4 rounds, beam 32, 4 hops) make the two rollups IDENTICAL at
    // the verify corpus (sf0.01, where the driver runs Verify). Note
    // the precise contract: per-query recall need not be 1.0 (this
    // spec MEASURED mean 0.998 / min 0.8 at the 500-vector corpus) —
    // what must hold is that the ≥4-of-5-disagree FLAG SET, and hence
    // the per-label rollup, is unchanged by the near-misses. q316/
    // q336's oracles are full walk REPLAYS (both engines approximate
    // identically at any scale), so q264 is the one entry with a
    // scale contingency. This spec measures it locally, so outgrowing
    // the contract fails HERE, at build time, with the remediation
    // named — not as an unexplained red driver gate.
    val spark = SparkTestSession.spark
    val d001 = "/root/testdata/sf0.01"
    val (c, _) = ops.Similarity.corpusAndQueries(spark, d001)
    val lab = c.select(col("vec_id").as("vid"), col("label").as("lbl"))
    // corpus-as-queries at k=5, exactly q264's audit shape
    val graph = ops.Similarity.nnDescentGraph(c, "vec_id", "embedding")
    val probe = ops.Similarity.nswSearchTopK(graph, c, c,
      "vec_id", "embedding", k = 5, broadcastQueries = false)
    val exact = ops.Similarity.bruteForceTopK(c, c, "vec_id", "embedding", 5)
    val (mean, min) = knnRecall(exact, probe)
    info(f"fixed-constant recall@5 at the verify corpus: " +
      f"mean=$mean%.3f min=$min%.3f (flag identity is the gate)")
    def flags(knn: org.apache.spark.sql.DataFrame): Seq[String] =
      ops.Similarity.labelNoiseFromKnn(knn, lab, "label", 4)
        .collect().map(_.toString).sorted.toSeq
    assert(flags(probe) == flags(exact),
      "the FIXED-constant graph walk no longer reproduces the exact " +
        "5-NN label-noise rollup at the verify corpus: the verify " +
        "dataset has outgrown the oracle contract — q264 WILL flip " +
        "red at the driver's hash gate. Re-measure the recall curve " +
        "(graft.ScaleCheck), re-pin the oracle constants at the new " +
        "scale or re-derive the DuckDB replay, and update the pin at " +
        "Similarity.q264.")
    // ...and the failure mode is REAL, not a vacuous pass: one decade
    // up (ScaleGen x10 of sf0.1 = 20k vectors) the same fixed
    // constants are the measured r12 collapse — this leg proves the
    // gate actually trips when the corpus outgrows the contract
    val big = ScaleGen.amplify(spark, "/root/testdata/sf0.1", 10,
      "embeddings").localCheckpoint()
    val bigQ = big.filter(col("vec_id") < ops.Similarity.NumQueries)
    val bigGraph = ops.Similarity.nnDescentGraph(big, "vec_id", "embedding")
    val (bigMean, _) = knnRecall(
      ops.Similarity.bruteForceTopK(big, bigQ, "vec_id", "embedding"),
      ops.Similarity.nswSearchTopK(bigGraph, big, bigQ,
        "vec_id", "embedding"))
    info(f"fixed-constant recall at 20k = $bigMean%.3f (r12 measured 0.08)")
    assert(bigMean < 0.9,
      f"the fixed constants now reach $bigMean%.3f at 20k — the " +
        "contract's designed failure mode no longer demonstrates; " +
        "re-derive this gate")
  }
}

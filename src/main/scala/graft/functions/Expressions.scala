package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (all with `doGenCode`) for the hot paths
  * built-ins can't express: wrapping-64-bit rolling hashes, Hamming
  * distance, and float-array cosine similarity. Staying native (vs a
  * Scala UDF) keeps these inside whole-stage codegen with no
  * serialization boundary — at 100 TB these run per-row/per-pair in the
  * innermost loops of dedup and ANN.
  */

/** 64-bit rolling polynomial hash over UTF-8 bytes: h = h*31 + b,
  * wrapping Java long arithmetic (unavailable in SQL under ANSI mode).
  */
case class RollingHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash64"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xff); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 1125899906842597L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 31L + ($bytes[$i] & 0xff);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}

/** popcount(l XOR r) — Hamming distance between two 64-bit signatures
  * (SimHash near-dup detection). */
case class HammingDistance64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming64"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.bitCount(l.asInstanceOf[Long] ^ r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"java.lang.Long.bitCount($l ^ $r)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDistance64 =
    copy(left = l, right = r)
}

/** Cosine similarity between two array<float> embeddings, accumulated in
  * double in index order (bit-deterministic across engines that loop
  * sequentially). Single fused pass: dot, |a|², |b|². */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i); val y = b.getFloat(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // Zero-norm vectors have no direction: define cos = 0 rather than
    // NaN (NaN sorts above every real in interpreted double ordering,
    // so one zero embedding would otherwise top every query's top-k).
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  float $x = $a.getFloat($i); float $y = $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double ${dot}_den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ${dot}_den == 0.0 ? 0.0 : $dot / ${dot}_den;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** All random-hyperplane LSH bucket codes for one embedding in a single
  * fused pass: masks(t*bits+b) bit j gives hyperplane (t,b)'s ±1 weight
  * for dimension j (dims > 64 wrap). Returns array<long> of `tables`
  * bucket codes. One native expression instead of tables×bits
  * interpreted higher-order `aggregate` calls — the difference between
  * O(row) codegen and per-element lambda interpretation on the hot path.
  */
case class HyperplaneBuckets(child: Expression, masks: Seq[Long], bits: Int)
    extends UnaryExpression {
  require(masks.nonEmpty && masks.length % bits == 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"
  @transient private lazy val maskArr: Array[Long] = masks.toArray

  private def compute(emb: ArrayData): Array[Long] = {
    val n = emb.numElements()
    val tables = maskArr.length / bits
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var code = 0L
      var b = 0
      while (b < bits) {
        val mask = maskArr(t * bits + b)
        var proj = 0.0
        var j = 0
        while (j < n) {
          val w = if (((mask >>> (j & 63)) & 1L) == 1L) 1.0 else -1.0
          proj += emb.getFloat(j) * w
          j += 1
        }
        if (proj >= 0) code |= (1L << b)
        b += 1
      }
      out(t) = code
      t += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hyperplaneBuckets", this, classOf[HyperplaneBuckets].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $self.genericBuckets($c);")
  }

  /** Called from generated code. */
  def genericBuckets(emb: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(emb))

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** Membership probe against a BloomFilterAgg bitset (left = the binary
  * filter, right = the long key). Same Kirsch-Mitzenmacher double
  * hashing as the build side; numBits/numHashes must match the
  * aggregate's. False positives only — never false negatives — so a
  * residual exact join after the probe keeps results exact. */
case class BloomMightContain(left: Expression, right: Expression,
                             numBits: Int, numHashes: Int)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  require(numBits > 0 && numBits <= (1 << 30),
    s"numBits must be in (0, 2^30], got $numBits (highestOneBit*2 overflows past 2^30)")
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  private val bits = java.lang.Integer.highestOneBit(math.max(numBits - 1, 1)) * 2
  private val mask = bits - 1

  @inline private def mix(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }

  private def compute(bytes: Array[Byte], key: Long): Boolean = {
    val h1 = mix(key)
    val h2 = mix(h1) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = ((h1 + i * h2) & Long.MaxValue).toInt & mask
      if ((bytes(pos >>> 3) & (1 << (pos & 7))) == 0) return false
      i += 1
    }
    true
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomContain", this, classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (b, k) => s"${ev.value} = $self.contains($b, $k);")
  }

  /** Called from generated code. */
  def contains(bytes: Array[Byte], key: Long): Boolean = compute(bytes, key)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
}

/** Sorted distinct xxhash64 values of the word k-shingles of a token
  * array: one codegen'd pass per document replacing an interpreted
  * transform → concat_ws → array_distinct → xxhash64 → sort_array chain
  * (higher-order functions are CodegenFallback — per-element lambda
  * interpretation on the hottest dedup path). Hash matches SQL
  * `xxhash64(concat_ws(' ', w1..wk))` (seed 42), so results are
  * reproducible from SQL. Output is sorted, so downstream prefix
  * slicing IS rarity-order-by-hash and array_intersect runs on sorted
  * longs. */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  private val space = UTF8String.fromString(" ")

  private def compute(toks: ArrayData): Array[Long] = {
    val n = toks.numElements()
    val m = math.max(n - k + 1, 0)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      hs(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.concatWs(space, parts: _*), StringType, 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // drop duplicates in place (array is sorted)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == m) hs else java.util.Arrays.copyOf(hs, w)
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hashes($c);")
  }

  /** Called from generated code. */
  def hashes(toks: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(toks))

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}
/** All w-token window hashes of a token array, POSITIONAL — element i
  * is xxhash64 (seed 42) of the space-joined window STARTING at token
  * i+1. ShingleHashes sorts and dedups for SET semantics (Jaccard);
  * content-defined chunking needs the hash AT EVERY POSITION to place
  * cut points, and doing this as one codegen'd scan replaces the
  * per-position md5-of-slice lambda (an O(n·w) string build + digest
  * per token) on the q363 hot path. */
case class WindowHashes64(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes64"

  private val space = UTF8String.fromString(" ")

  private def compute(toks: ArrayData): Array[Long] = {
    val n = toks.numElements()
    val m = math.max(n - w + 1, 0)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](w)
      var j = 0
      while (j < w) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      hs(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.concatWs(space, parts: _*), StringType, 42L)
      i += 1
    }
    hs
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("windowHashes", this,
      classOf[WindowHashes64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hashes($c);")
  }

  /** Called from generated code. */
  def hashes(toks: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(toks))

  override protected def withNewChildInternal(newChild: Expression): WindowHashes64 =
    copy(child = newChild)
}

/** Jaccard similarity |a∩b| / |a∪b| of two SORTED distinct array<long>
  * columns (as produced by ShingleHashes) via a single zero-allocation
  * linear merge. The built-in array_intersect builds a hash set per
  * call — per-pair allocation on the candidate-verification hot path,
  * which at 100 TB runs once per candidate pair. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  private def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var common = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { common += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    common.toDouble / (na + nb - common).toDouble
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("jaccardSorted", this, classOf[JaccardSorted].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.sim($a, $b);")
  }

  /** Called from generated code. */
  def sim(a: ArrayData, b: ArrayData): Double = compute(a, b)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** Intersection size of two SORTED distinct long arrays — the same
  * zero-allocation merge as JaccardSorted but returning the raw overlap,
  * for asymmetric measures (containment c/|A|, overlap coefficients)
  * that Jaccard alone can't recover without lossy back-derivation. */
case class IntersectSizeSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_size_sorted"

  private def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var common = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { common += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    common
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("intersectSorted", this, classOf[IntersectSizeSorted].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.common($a, $b);")
  }

  /** Called from generated code. */
  def common(a: ArrayData, b: ArrayData): Int = compute(a, b)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectSizeSorted =
    copy(left = l, right = r)
}

/** Merge every non-overlapping adjacent (a, b) symbol pair in an
  * array<string> into the concatenated symbol — one BPE training/apply
  * step, left-to-right greedy (the standard BPE scan order). Codegen'd;
  * the higher-order-function spelling (aggregate with conditional
  * skips) can't express the two-element lookahead without quadratic
  * re-slicing. */
case class MergeAdjacent(child: Expression, a: String, b: String)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "merge_adjacent"

  private val ua = UTF8String.fromString(a)
  private val ub = UTF8String.fromString(b)
  private val merged = UTF8String.fromString(a + b)

  /** Called from generated code. */
  def merge(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    var m = 0
    while (i < n) {
      if (i + 1 < n && ua.equals(arr.getUTF8String(i)) &&
          ub.equals(arr.getUTF8String(i + 1))) {
        out(m) = merged; i += 2
      } else {
        out(m) = arr.getUTF8String(i); i += 1
      }
      m += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], m))
  }

  override protected def nullSafeEval(input: Any): Any =
    merge(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("mergeAdj", this, classOf[MergeAdjacent].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.merge($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MergeAdjacent =
    copy(child = newChild)
}

/** BPE ENCODE: tokenize one word with a learned merge table — the
  * standard lowest-rank-first loop (repeatedly merge the present pair
  * with the smallest rank until none applies). This is the APPLY side
  * of Text.bpeMerges' training; sequential in-order application of the
  * merge list would miss pairs that later merges re-create, so the
  * priority loop is the correct tokenizer semantics. Words are short —
  * the per-word loop is O(len · merges-applied) with a hash lookup per
  * adjacent pair. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "bpe_encode"

  private val rank: Map[(String, String), Int] =
    merges.zipWithIndex.map { case (p, i) => p -> i }.toMap

  /** Called from generated code. */
  def encode(word: UTF8String): ArrayData = {
    // Per CODE POINT, matching the training side's split(word, '') —
    // per-UTF-16-char splitting would break astral characters into
    // lone surrogates (invalid UTF-8) that no learned merge matches.
    var syms = word.toString.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = merges(bestRank)
        val out = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      syms.map(UTF8String.fromString))
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bpeEncode", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** GREEDY LONGEST-MATCH-FIRST segmentation (the WordPiece convention,
  * round 13) over {every single code point} ∪ `vocab`: at each
  * position take the LONGEST vocab piece matching the prefix, falling
  * back to one code point — the third tokenizer-family segmentation
  * rule beside BPE's lowest-rank-first (BpeEncode) and the unigram
  * LM's Viterbi (UnigramEncode), over the SAME learned piece
  * inventory. Deterministic by construction (longest match is unique
  * per position). Oracle contract: prefix lengths are compared in
  * characters — exact for the pure-ASCII corpus the oracle pins
  * (cited: BpeOracleSql.q351, the unrolled-by-position replay). */
case class WordPieceEncode(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "wordpiece_encode"

  private val pieces: Array[String] =
    vocab.distinct.sortBy(p => (-p.length, p)).toArray

  /** Called from generated code. */
  def encode(word: UTF8String): ArrayData = {
    val s = word.toString
    val out = Array.newBuilder[String]
    var pos = 0
    while (pos < s.length) {
      var matched: String = null
      var i = 0
      while (matched == null && i < pieces.length) {
        val p = pieces(i)
        if (p.length > 1 && pos + p.length <= s.length &&
            s.regionMatches(pos, p, 0, p.length)) matched = p
        i += 1
      }
      if (matched == null)
        matched = new String(Character.toChars(s.codePointAt(pos)))
      out += matched
      pos += matched.length
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.result().map(UTF8String.fromString))
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordPieceEncode", this,
      classOf[WordPieceEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceEncode =
    copy(child = newChild)
}

/** Minimum token count segmenting the word over the inventory
  * {every single code point} ∪ `vocab` (the learned multi-char merge
  * products) — the DP lower bound greedy BPE is measured against
  * (q235's optimality gap). Single code points are ALWAYS segmentable
  * (BPE's open base inventory: BpeEncode emits unseen characters
  * verbatim), so the result is total on any input. dp[i] = min(
  * dp[i−1]+1, min over vocab t ending at i of dp[i−|t|]+1); O(|word|
  * · |vocab|) per row, vocab is a bounded literal (~merge count). */
case class MinSegTokens(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "min_seg_tokens"

  // code-point arrays once per operator instance, not per row
  private val vcps: Array[Array[String]] = vocab.distinct.toArray
    .map(_.codePoints().toArray.map(cp => new String(Character.toChars(cp))))

  /** Called from generated code. */
  def minSeg(word: UTF8String): Int = {
    val cps = word.toString.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    val n = cps.length
    if (n == 0) return 0
    val dp = Array.fill(n + 1)(Int.MaxValue)
    dp(0) = 0
    var i = 1
    while (i <= n) {
      dp(i) = dp(i - 1) + 1 // the single-code-point base token
      var v = 0
      while (v < vcps.length) {
        val t = vcps(v)
        val l = t.length
        if (l <= i && dp(i - l) != Int.MaxValue && dp(i - l) + 1 < dp(i)) {
          var j = 0
          var ok = true
          while (ok && j < l) { ok = cps(i - l + j) == t(j); j += 1 }
          if (ok) dp(i) = dp(i - l) + 1
        }
        v += 1
      }
      i += 1
    }
    dp(n)
  }

  override protected def nullSafeEval(input: Any): Any =
    minSeg(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minSegTokens", this, classOf[MinSegTokens].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.minSeg($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinSegTokens =
    copy(child = newChild)
}

/** Viterbi segmentation under a unigram-LM piece-cost table (the
  * SentencePiece-unigram encode): the minimum-total-cost cover of the
  * word by vocabulary pieces of length ≤ maxLen, ties broken to FEWER
  * pieces then to the EARLIER start of the closing piece at every DP
  * cell — a total order, so the segmentation is deterministic and the
  * DuckDB oracle replays the same DP position by position. Costs are
  * pre-quantized integers (the trainer's exact lg64 units — no float
  * compare inside the argmin); a code point absent from the vocabulary
  * falls back to a single-char piece at `unkCost`. */
case class UnigramEncode(child: Expression, pieces: Seq[(String, Long)],
                         maxLen: Int, unkCost: Long)
    extends UnaryExpression {
  require(maxLen >= 1 && pieces.nonEmpty)
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "unigram_encode"

  @transient private lazy val costOf: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.size * 2)
    pieces.foreach { case (p, c) => m.put(p, c) }
    m
  }

  /** Called from generated code. */
  def encode(word: UTF8String): ArrayData = {
    val cps = word.toString.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    val n = cps.length
    if (n == 0)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[UTF8String])
    val INF = Long.MaxValue / 4
    val cost = Array.fill(n + 1)(INF)
    val k = new Array[Int](n + 1)
    val prev = new Array[Int](n + 1)
    cost(0) = 0
    var pos = 1
    while (pos <= n) {
      var start = math.max(0, pos - maxLen)
      while (start < pos) {
        if (cost(start) < INF) {
          val piece = cps.slice(start, pos).mkString
          val pc = costOf.get(piece)
          val c: Long =
            if (pc != null) pc.longValue()
            else if (pos - start == 1) unkCost
            else -1L
          if (c >= 0L) {
            val nc = cost(start) + c
            val nk = k(start) + 1
            // strict < with ascending start == ORDER BY (cost, k, start)
            if (nc < cost(pos) || (nc == cost(pos) &&
                (nk < k(pos) || (nk == k(pos) && start < prev(pos))))) {
              cost(pos) = nc; k(pos) = nk; prev(pos) = start
            }
          }
        }
        start += 1
      }
      pos += 1
    }
    val out = new Array[UTF8String](k(n))
    var p = n
    var i = k(n) - 1
    while (p > 0) {
      out(i) = UTF8String.fromString(cps.slice(prev(p), p).mkString)
      p = prev(p); i -= 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("unigramEncode", this, classOf[UnigramEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.encode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncode =
    copy(child = newChild)
}

object CmsEstimate {
  /** splitmix64 finalizer shared by CountMinAgg (build) and CmsEstimate
    * (probe) — the two sides MUST hash identically. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + -7046029254386353131L
    z = (z ^ (z >>> 30)) * -4658895280553007687L
    z = (z ^ (z >>> 27)) * -7723592293110705685L
    z ^ (z >>> 31)
  }
}

/** Count–Min point estimate: min across the sketch's depth rows of the
  * counter each hash lands on. Parameters must match the CountMinAgg
  * build side. Never undercounts; overcount is the colliding mass.
  * The sketch arrives as one aggregated binary value (broadcast by the
  * scalar-subquery delivery, same shape as BloomMightContain). */
case class CmsEstimate(left: Expression, right: Expression,
                       width: Int, depth: Int)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  private val w2 = java.lang.Integer.highestOneBit(math.max(width - 1, 1)) * 2
  private val mask = w2 - 1

  /** Called from generated code. */
  def est(bytes: Array[Byte], key: Long): Long = {
    val lb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    val h1 = CmsEstimate.mix(key)
    val h2 = CmsEstimate.mix(h1) | 1L
    var best = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = lb.get(i * w2 + (((h1 + i * h2) & Long.MaxValue).toInt & mask))
      if (c < best) best = c
      i += 1
    }
    best
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    est(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cmsEst", this, classOf[CmsEstimate].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.est($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimate =
    copy(left = l, right = r)
}

/** Exact sparse dot product of two weighted vectors, each encoded as an
  * array<struct<h: long, w: long>> SORTED ascending by h (the term
  * hash): a single zero-allocation merge pass sums w_a·w_b over equal
  * hashes, in exact long arithmetic. The per-pair verify step of a
  * weighted (TF-IDF cosine) similarity join — candidates come from the
  * prefix filter, this computes the exact dot in O(|a|+|b|) without
  * re-exploding either vector through a shuffle. */
case class WeightedDotSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "weighted_dot_sorted"

  // A mistyped array would CCE deep inside codegen — fail analysis
  // instead with the expected shape spelled out.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val want = ArrayType(StructType(Seq(
      StructField("h", LongType), StructField("w", LongType))))
    def ok(t: DataType) = t match {
      case ArrayType(StructType(fs), _) =>
        fs.length == 2 && fs.forall(_.dataType == LongType)
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"weighted_dot_sorted expects two ${want.simpleString} arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def compute(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var dot = 0L
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2); val rb = b.getStruct(j, 2)
      val x = ra.getLong(0); val y = rb.getLong(0)
      if (x == y) { dot += ra.getLong(1) * rb.getLong(1); i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    dot
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("weightedDot", this, classOf[WeightedDotSorted].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.dot($a, $b);")
  }

  /** Called from generated code. */
  def dot(a: ArrayData, b: ArrayData): Long = compute(a, b)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): WeightedDotSorted =
    copy(left = l, right = r)
}

/** MinHash signature of an array<long> of (distinct) shingle hashes: for
  * permutation p, min over shingles of splitmix64(h + (p+1)·φ64). One
  * fused pass per document — the alternative (explode to a (doc,
  * shingle) table, then a 128-column min aggregate) shuffles the whole
  * shingle inventory and exceeds codegen.maxFields. The splitmix64
  * finalizer gives an independent-enough hash family per permutation at
  * 3 multiplies each, vs a full rehash per (shingle, perm). */
case class MinHash128(child: Expression, perms: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash128"

  private def compute(arr: ArrayData): Array[Long] = {
    val mins = Array.fill(perms)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h0 = arr.getLong(i)
      var p = 0
      while (p < perms) {
        var z = h0 + (p + 1) * -7046029254386353131L // 0x9E3779B97F4A7C15
        z = (z ^ (z >>> 30)) * -4658895280553007687L // 0xBF58476D1CE4E5B9
        z = (z ^ (z >>> 27)) * -7723592293110705685L // 0x94D049BB133111EB
        z = z ^ (z >>> 31)
        if (z < mins(p)) mins(p) = z
        p += 1
      }
      i += 1
    }
    mins
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhash", this, classOf[MinHash128].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.signature($c);")
  }

  /** Called from generated code. */
  def signature(arr: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(arr))

  override protected def withNewChildInternal(newChild: Expression): MinHash128 =
    copy(child = newChild)
}

/** 64-bit SimHash of an array<string> of (distinct) tokens, weight 1
  * each: bit k of the result is the majority vote of bit k across
  * xxhash64(token, seed=42) values (ties → 1). One fused pass per row —
  * the alternative (explode + 64 aggregate columns) exceeds
  * spark.sql.codegen.maxFields and falls out of codegen entirely.
  * Token hash matches Spark's xxhash64() so signatures are reproducible
  * from SQL. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  private def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // Null elements carry no token content — skip rather than NPE
      // (tokens() output never holds nulls, but direct callers may).
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          tok, StringType, 42L)
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
          k += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) >= 0) sig |= (1L << k)
      k += 1
    }
    sig
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hashArray($c);")
  }

  /** Called from generated code. */
  def hashArray(arr: ArrayData): Long = compute(arr)

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** SimHash64 with an MD5 token hash instead of xxhash64: per token,
  * h = little-endian read of the FIRST 8 digest bytes — exactly what
  * DuckDB's `md5_number_upper(token)` returns, so the full signature
  * (and therefore a Hamming-pairs query) is reproducible in an
  * independent SQL engine via `xor` + `bit_count`. Same vote rule as
  * [[SimHash64]] (counts ≥ 0 → bit set). This is the ORACLE-CHECKABLE
  * variant: MD5 costs a few× more per token than xxhash64 but stays a
  * linear map-side pass (no shuffle shape changes); prefer SimHash64
  * where cross-engine reproducibility isn't needed. */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  private def compute(arr: ArrayData): Long = {
    val md = SimHashMd5.digest.get()
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // Null elements carry no token content — skip rather than NPE
      // (tokens() output never holds nulls, but direct callers may).
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var b = 7
        while (b >= 0) { h = (h << 8) | (d(b) & 0xffL); b -= 1 }
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
          k += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) >= 0) sig |= (1L << k)
      k += 1
    }
    sig
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhashmd5", this, classOf[SimHashMd5].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hashArray($c);")
  }

  /** Called from generated code. */
  def hashArray(arr: ArrayData): Long = compute(arr)

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}

object SimHashMd5 {
  /** MessageDigest is stateful and not thread-safe; the reference
    * object in generated code is shared across tasks in a thread pool,
    * so each executor thread carries its own instance. */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** Bit-interleaving helpers shared by ZOrder2's interpreted eval and its
  * generated code (a Scala object emits static forwarders, so janino can
  * call `Bits.spread(...)` directly). */
object Bits {
  /** Space the lower 32 bits of x to the even bit positions of a long. */
  def spread(x: Long): Long = {
    var v = x & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8))  & 0x00FF00FF00FF00FFL
    v = (v | (v << 4))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }
  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
  /** Round-robin interleave of N values, floor(64/N) bits each: output
    * bit j·N + i is bit j of value i. The generic (loop) form — the
    * 2-column case keeps its branch-free mask ladder above; 3–4 column
    * layout keys are where real tables stop gaining anyway (each added
    * column halves every column's per-file selectivity). */
  def interleaveN(vals: Array[Long]): Long = {
    val n = vals.length
    val bitsPer = 64 / n
    var out = 0L
    var j = 0
    while (j < bitsPer) {
      var i = 0
      while (i < n) {
        out |= ((vals(i) >>> j) & 1L) << (j * n + i)
        i += 1
      }
      j += 1
    }
    out
  }
  /** Inverse of spread: collect the even bit positions back into 32 bits. */
  def unspread(x: Long): Long = {
    var v = x & 0x5555555555555555L
    v = (v | (v >>> 1))  & 0x3333333333333333L
    v = (v | (v >>> 2))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v >>> 4))  & 0x00FF00FF00FF00FFL
    v = (v | (v >>> 8))  & 0x0000FFFF0000FFFFL
    v = (v | (v >>> 16)) & 0x00000000FFFFFFFFL
    v
  }
}

/** Index of a value among sorted bucket boundaries (binary search):
  * returns how many boundaries are ≤ the value, i.e. the rank bucket in
  * [0, boundaries.length]. With boundaries taken at equal quantiles
  * this is the RANK encode that makes z-ordering robust to skew — every
  * bucket holds ~equal row counts no matter the value distribution,
  * where a linear min/max rescale collapses a heavy-tailed column into
  * a few buckets. Codegen'd; the boundary array is a shared reference
  * in the generated class, searched with Arrays.binarySearch. */
case class SearchSortedBucket(child: Expression, boundaries: Seq[Double])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(boundaries.nonEmpty, "at least one bucket boundary")
  require(boundaries.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
    "boundaries must be sorted ascending")
  override def inputTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rank_bucket"

  // -0.0 normalized to 0.0 so numerically equal values can't land in
  // different buckets; NaN handled by Double.compare's total order
  // (greater than every real — all-NaN boundary runs stay consistent).
  private val bounds: Array[Double] =
    boundaries.map(b => if (b == 0.0) 0.0 else b).toArray

  /** Count of boundaries ≤ v under IEEE total order — a hand-rolled
    * binary search on Double.compare (Arrays.binarySearch's landing
    * index within a duplicate run is unspecified, and a == tie-walk
    * breaks on NaN). */
  def bucketOf(v: Double): Long = {
    val x = if (v == 0.0) 0.0 else v
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(bounds(mid), x) <= 0) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  override protected def nullSafeEval(input: Any): Any =
    bucketOf(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("rankBucket", this, classOf[SearchSortedBucket].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.bucketOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SearchSortedBucket =
    copy(child = newChild)
}

/** Z-ORDER (Morton) key: interleave the lower 32 bits of two longs so
  * that sorting by the key clusters rows that are close in BOTH
  * dimensions — the storage-layout primitive behind multi-column data
  * skipping. A table written in z-order gets narrow per-file min/max
  * ranges on each interleaved column simultaneously, so a parquet
  * reader prunes files for predicates on EITHER column (a plain sort
  * only skips on its leading column). Inputs are taken mod 2^32;
  * callers range-encode wider or signed domains first. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  // Seq[DataType] narrows Seq[AbstractDataType] (covariant return), and
  // AbstractDataType itself is private[sql].
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    Bits.interleave(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"graft.functions.Bits.interleave($l, $r)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
    copy(left = l, right = r)
}

/** N-column Morton key (2 ≤ N ≤ 8): round-robin bit interleave of N
  * long columns, floor(64/N) bits each — the layout key for multi-
  * dimensional data skipping when two columns aren't enough (time ×
  * tenant × region is the classic three). Inputs are taken mod
  * 2^(64/N); callers range- or rank-encode wider domains first (the
  * same contract as ZOrder2). */
case class ZOrderN(children: Seq[Expression])
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(children.size >= 2 && children.size <= 8,
    s"zorder_n interleaves 2..8 columns, got ${children.size}")
  override def inputTypes: Seq[DataType] = Seq.fill(children.size)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "zorder_n"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = new Array[Long](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      arr(i) = v.asInstanceOf[Long]
      i += 1
    }
    Bits.interleaveN(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull.toString).mkString(" || ")
    val vals = evals.map(_.value.toString).mkString(", ")
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code =
      code"""
        $childCode
        boolean ${ev.isNull} = false;
        long ${ev.value} = 0L;
        if ($anyNull) { ${ev.isNull} = true; } else {
          ${ev.value} = graft.functions.Bits.interleaveN(new long[]{$vals});
        }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZOrderN = copy(children = newChildren)
}

/** Unicode NFC normalization (canonical composition) of a string column
  * — the text-normalization step before hashing/dedup: visually
  * identical strings with different codepoint sequences ("e" +
  * combining acute vs precomposed "é") must hash equal or every
  * downstream exact/near dedup treats them as distinct documents.
  * Fast path: `isNormalized` is a scan with no allocation, and almost
  * all real corpus text (ASCII and most already-composed UTF-8) takes
  * it — the expensive normalize only runs on rows that need it. Native
  * expression (vs a UDF) keeps the check inside whole-stage codegen. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    // Pure-ASCII rows (the bulk of a real corpus) are NFC by definition
    // and skip even the String decode — truly allocation-free.
    if (u.isFullAscii) u
    else {
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      s"""
         |if ($c.isFullAscii()) {
         |  ${ev.value} = $c;
         |} else {
         |  String $s = $c.toString();
         |  if (java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)) {
         |    ${ev.value} = $c;
         |  } else {
         |    ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |      java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Jaro–Winkler kernel shared by interpreted eval and codegen (the
  * Levenshtein pattern: complex kernels live in one static method the
  * generated code calls — still inside whole-stage codegen, no
  * serialization boundary, no lambda capture).
  */
object JaroWinklerKernel {
  /** Jaro–Winkler similarity in basis points, EXACT: the Jaro value is
    * the rational [2·l2·m² + 2·l1·m² + l1·l2·(2m−τ½)] / (6·l1·l2·m)
    * (τ½ = half-transposition count, so the classic τ = τ½/2 never
    * needs fractions), the Winkler boost (prefix ≤ 4, weight 1/10,
    * applied when jaro > 7/10) stays a rational, and the basis-point
    * floor divides the exact numerator — no double ever appears, so
    * results are bit-identical on every platform. Long fast path for
    * strings ≤ 1024 code units (numerators ≤ ~6.4e14); BigInt beyond.
    */
  def bp(a: UTF8String, b: UTF8String): Long = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 && l2 == 0) return 10000L
    if (l1 == 0 || l2 == 0) return 0L
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0L
    // half-transpositions: matched chars compared in order
    var halfT = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) halfT += 1
        k += 1
      }
      i += 1
    }
    var prefix = 0
    while (prefix < math.min(4, math.min(l1, l2)) &&
           s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    if (l1 <= 1024 && l2 <= 1024) {
      val mL = m.toLong
      var num = 2L * l2 * mL * mL + 2L * l1 * mL * mL +
        l1.toLong * l2 * (2L * mL - halfT)
      var den = 6L * l1 * l2 * mL
      if (10L * num > 7L * den && prefix > 0) {
        // jw = jaro + ℓ/10·(1−jaro) = (10·num + ℓ·(den−num)) / (10·den)
        num = 10L * num + prefix * (den - num)
        den = 10L * den
      }
      10000L * num / den
    } else {
      val mB = BigInt(m)
      var num = 2 * BigInt(l2) * mB * mB + 2 * BigInt(l1) * mB * mB +
        BigInt(l1) * BigInt(l2) * (2 * mB - halfT)
      var den = 6 * BigInt(l1) * BigInt(l2) * mB
      if (10 * num > 7 * den && prefix > 0) {
        num = 10 * num + prefix * (den - num)
        den = 10 * den
      }
      ((10000 * num) / den).toLong
    }
  }
}

/** Jaro–Winkler similarity of two strings in exact basis points — the
  * entity-resolution edit metric that out-scores Levenshtein on typos
  * near the front of names (SQL `jaro_winkler_bp`). Exact rational
  * arithmetic end to end: engine- and platform-independent.
  */
case class JaroWinklerBp(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "jaro_winkler_bp"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerKernel.bp(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"graft.functions.JaroWinklerKernel.bp($l, $r)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerBp =
    copy(left = l, right = r)
}

/** WHITESPACE tokenization + DICTIONARY word segmentation for
  * space-free scripts (Han, kana, Thai) by forward maximum matching,
  * in ONE native pass: spaces separate tokens (empties dropped); inside
  * a token, at each script codepoint the longest dictionary word
  * starting there wins, no dictionary word → the single codepoint is
  * its own token (the char-level convention of
  * [[graft.functions.Cols.tokens]]); non-script non-space runs glue
  * into single tokens. Doing the split INSIDE the expression (rather
  * than composing `flatten(transform(split(...), fmm))`) matters:
  * ArrayTransform is a CodegenFallback, so the composed form would
  * evaluate interpreted per token — this stays one codegen'd call per
  * document.
  *
  * Pure-ASCII inputs short-circuit on `isFullAscii` to a byte-level
  * space split (no String decode, no per-char script lookup) — a
  * mostly-ASCII corpus pays one memchr-speed scan per document, the
  * same discipline as the tokens() prescan.
  *
  * The dictionary ships as a literal Seq (broadcast inside the codegen
  * reference object): segmentation needs O(1) per-position lookups, so
  * it lives in a length-bucketed HashSet, tried longest-first, bounded
  * by the longest dictionary word. Greedy FMM (not Viterbi): the
  * deterministic, engine-reproducible convention real pipelines default
  * to; a statistical segmenter would drop in behind the same column
  * signature. */
case class FmmSegment(child: Expression, dict: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "fmm_segment"

  // Validate at CONSTRUCTION (driver side, before any job runs): a word
  // containing the separator could never match a within-token candidate
  // and would silently break the space-split invariant. Inside the lazy
  // dictSet this would surface as per-task failures mid-job instead.
  dict.foreach(w =>
    require(!w.contains(' '), s"dictionary word contains a space: '$w'"))

  @transient private lazy val dictSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    dict.foreach(w => if (w.nonEmpty) s.add(w))
    s
  }
  @transient private lazy val maxWordLen: Int =
    if (dict.isEmpty) 0 else dict.map(_.length).max

  private def isScript(cp: Int): Boolean = {
    val sc = Character.UnicodeScript.of(cp)
    sc == Character.UnicodeScript.HAN ||
      sc == Character.UnicodeScript.HIRAGANA ||
      sc == Character.UnicodeScript.KATAKANA ||
      sc == Character.UnicodeScript.THAI
  }

  /** Called from generated code. */
  def segment(u: UTF8String): ArrayData = {
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    if (u.numBytes == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    if (u.isFullAscii) {
      // byte-level space split, empties dropped — no String decode
      val bytes = u.getBytes
      var i = 0
      while (i < bytes.length) {
        if (bytes(i) == ' ') i += 1
        else {
          val start = i
          while (i < bytes.length && bytes(i) != ' ') i += 1
          out += UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i))
        }
      }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }
    val s = u.toString
    val n = s.length
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (cp == ' ') {
        i += 1 // token separator (empties vanish)
      } else if (isScript(cp)) {
        // longest dictionary match first, bounded by the dictionary
        var matched: String = null
        var L = math.min(maxWordLen, n - i)
        while (matched == null && L >= 2) {
          val cand = s.substring(i, i + L)
          if (dictSet.contains(cand)) matched = cand
          L -= 1
        }
        if (matched != null) {
          out += UTF8String.fromString(matched)
          i += matched.length
        } else {
          val w = Character.charCount(cp)
          out += UTF8String.fromString(s.substring(i, i + w))
          i += w
        }
      } else {
        // glue the non-script, non-space run into one token
        val start = i
        var j = i
        var c = cp
        while (j < n && c != ' ' && !isScript(c)) {
          j += Character.charCount(c)
          if (j < n) c = s.codePointAt(j)
        }
        i = j
        out += UTF8String.fromString(s.substring(start, j))
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    segment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fmm", this, classOf[FmmSegment].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.segment($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): FmmSegment =
    copy(child = newChild)
}

/** Little-endian read of the FIRST 8 MD5 digest bytes of a string —
  * exactly DuckDB's `md5_number_upper(s)` reinterpreted as a signed
  * long, the cross-engine-reproducible scalar hash (the q53/SimHashMd5
  * convention, here as a standalone scalar for sketches keyed on one
  * value instead of a token array). Unsigned ORDER is the meaningful
  * order for hash-order statistics (KMV): compare results with
  * `Long.compareUnsigned`, or in SQL engines whose UBIGINT sorts
  * naturally. */
/** Splitmix64 stream draw: mix64(h + i·φ64) with wrapping Java long
  * arithmetic — the expression exists because the same formula written
  * as Column `+`/`*` throws under ANSI overflow checking, while the
  * mod-2⁶⁴ wrap is exactly the generator's contract. Shares
  * [[CmsEstimate.mix]] so build/probe/oracle stay bit-identical
  * (DuckDB emulates via the Mix64Ctes HUGEINT decomposition). */
case class Mix64At(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "mix64_at"

  /** Called from generated code. */
  def mixAt(h: Long, i: Long): Long =
    CmsEstimate.mix(h + i * -7046029254386353131L)

  override protected def nullSafeEval(h: Any, i: Any): Any =
    mixAt(h.asInstanceOf[Long], i.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("mix64at", this, classOf[Mix64At].getName)
    nullSafeCodeGen(ctx, ev, (h, i) => s"${ev.value} = $self.mixAt($h, $i);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Mix64At =
    copy(left = newLeft, right = newRight)
}

case class Md5Hash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash64"

  /** Called from generated code. */
  def hash(u: UTF8String): Long = {
    val md = Md5Hash64.digest.get()
    md.reset()
    val d = md.digest(u.getBytes)
    var h = 0L
    var b = 7
    while (b >= 0) { h = (h << 8) | (d(b) & 0xffL); b -= 1 }
    h
  }

  override protected def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5hash64", this, classOf[Md5Hash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Hash64 =
    copy(child = newChild)
}

object Md5Hash64 {
  /** MessageDigest is stateful and not thread-safe (see SimHashMd5). */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** CROSS-ENGINE-EXACT quantized cell ordering — the integer-arithmetic
  * face of centroid assignment. The embedding quantizes to the fixed
  * grid q[t] = floor(e[t]·scale) (float→double widening and a
  * power-of-two multiply are both IEEE-exact, so ANY engine computes
  * the identical integers); the distance to each quantized centroid is
  * a pure-integer squared L2; the result is every cell id ordered by
  * (distance asc, cell asc). element_at(.., 1) is the assignment,
  * slice(.., 1, p) the probe set. Replacing the float-cosine argmax
  * here is what makes k-means training AND every ANN probe derived
  * from it bit-reproducible from SQL (the DuckDB oracles recompute
  * the same integers) — floats only ever appear downstream in
  * SCORING, never in the assignment lattice.
  *
  * Bounds: |e| ≤ 128 at scale 2¹⁴ gives |q| ≤ 2²¹, diff² ≤ 2⁴³, ×4096
  * dims ≤ 2⁵⁵ — no overflow headroom concerns in long. */
case class QuantCellOrder(child: Expression, centsQ: Seq[Seq[Long]], scale: Long)
    extends UnaryExpression {
  require(centsQ.nonEmpty && scale > 0)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "quant_cell_order"
  @transient private lazy val cq: Array[Array[Long]] = centsQ.map(_.toArray).toArray

  private def compute(emb: ArrayData): Array[Int] = {
    val q = new Array[Long](emb.numElements())
    var t = 0
    while (t < q.length) {
      q(t) = QuantCellOrder.quantize(emb.getFloat(t), scale)
      t += 1
    }
    QuantCellOrder.argsort(q, cq)
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("quantCellOrder", this, classOf[QuantCellOrder].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.order($c);")
  }

  /** Called from generated code. */
  def order(emb: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(emb))

  override protected def withNewChildInternal(newChild: Expression): QuantCellOrder =
    copy(child = newChild)
}

object QuantCellOrder {
  /** The grid: floor(x·scale). */
  def quantize(x: Float, scale: Long): Long = math.floor(x.toDouble * scale).toLong

  /** THE cell argsort — every cell id ordered by (integer squared L2
    * from the quantized embedding `q` to each quantized centroid, cell
    * id). The expression's eval and codegen call it per row; the
    * driver calls it through [[order]] for batches it already holds
    * (the IVF probe set, the ANN navigator's rewrite). */
  def argsort(q: Array[Long], cq: Array[Array[Long]]): Array[Int] = {
    val k = cq.length
    val d = new Array[Long](k)
    var j = 0
    while (j < k) {
      val c = cq(j)
      val n = math.min(q.length, c.length)
      var acc = 0L
      var i = 0
      while (i < n) { val df = q(i) - c(i); acc += df * df; i += 1 }
      d(j) = acc
      j += 1
    }
    // insertion argsort by (d, id): k is a quantizer cell count (tiny)
    val idx = Array.tabulate(k)(identity)
    var a = 1
    while (a < k) {
      val v = idx(a); var b = a - 1
      while (b >= 0 && (d(idx(b)) > d(v) || (d(idx(b)) == d(v) && idx(b) > v))) {
        idx(b + 1) = idx(b); b -= 1
      }
      idx(b + 1) = v
      a += 1
    }
    idx
  }

  /** The argsort of a float embedding held on the driver. */
  def order(emb: scala.collection.Seq[Float], cq: Array[Array[Long]],
            scale: Long): Array[Int] =
    argsort(emb.iterator.map(quantize(_, scale)).toArray, cq)
}

/** Pure-integer squared L2 between two float arrays on the quantized
  * grid (see QuantCellOrder) — the join-path twin of the literal-path
  * assignment, for quantizers too large to ride the plan as literals
  * (both sides quantize per row; distance and ordering are integer-
  * exact, so literal path, join path, and SQL oracles agree bitwise). */
case class QuantL2(left: Expression, right: Expression, scale: Long)
    extends BinaryExpression {
  require(scale > 0)
  override def dataType: DataType = LongType
  override def prettyName: String = "quant_l2"

  private def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val x = math.floor(a.getFloat(i).toDouble * scale).toLong
      val y = math.floor(b.getFloat(i).toDouble * scale).toLong
      val df = x - y
      acc += df * df
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("quantL2", this, classOf[QuantL2].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.dist($a, $b);")
  }

  /** Called from generated code. */
  def dist(a: ArrayData, b: ArrayData): Long = compute(a, b)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): QuantL2 =
    copy(left = l, right = r)
}

/** Integer-exact PQ encoder: like PqCode but the subvector→centroid
  * assignment runs on the quantized grid — subvector components and the
  * codebook (`cbq`, layout [sub][centroid][dim] flattened, already
  * quantized) compare by pure-integer squared L2, ties to the LOWEST
  * centroid id. Codes are therefore bit-reproducible from any engine
  * (the DuckDB oracle recomputes them), where the float encoder's
  * accumulation could diverge in the last ulp and flip an assignment. */
case class PqCodeQ(child: Expression, cbq: Seq[Long], m: Int, k: Int, scale: Long)
    extends UnaryExpression {
  require(k <= 16 && m <= 16 && cbq.length % (m * k) == 0 && scale > 0)
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_code_q"
  @transient private lazy val cb: Array[Long] = cbq.toArray
  @transient private lazy val ds: Int = cb.length / (m * k)

  private def compute(emb: ArrayData): Long = {
    var packed = 0L
    var sub = 0
    while (sub < m) {
      var best = 0; var bestD = Long.MaxValue
      var j = 0
      while (j < k) {
        val base = (sub * k + j) * ds
        var dist = 0L
        var t = 0
        while (t < ds) {
          val q = math.floor(emb.getFloat(sub * ds + t).toDouble * scale).toLong
          val diff = q - cb(base + t)
          dist += diff * diff
          t += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      packed |= best.toLong << (4 * sub)
      sub += 1
    }
    packed
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqCodeQ", this, classOf[PqCodeQ].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.code($c);")
  }

  /** Called from generated code. */
  def code(emb: ArrayData): Long = compute(emb)

  override protected def withNewChildInternal(newChild: Expression): PqCodeQ =
    copy(child = newChild)
}

/** Integer ADC lookup table: entry [sub·k + j] = quantized dot of the
  * query's subvector `sub` with centroid j — Σ floor(q·scale)·cb. Long
  * dots rank candidates identically in every engine (PqTable's float
  * dots could reorder near-ties), which is what lets the ADC shortlist
  * — not just the final rerank — be oracle-checked. */
case class PqTableQ(child: Expression, cbq: Seq[Long], m: Int, k: Int, scale: Long)
    extends UnaryExpression {
  require(cbq.length % (m * k) == 0 && scale > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_table_q"
  @transient private lazy val cb: Array[Long] = cbq.toArray
  @transient private lazy val ds: Int = cb.length / (m * k)

  private def compute(emb: ArrayData): Array[Long] = {
    val out = new Array[Long](m * k)
    var sub = 0
    while (sub < m) {
      var j = 0
      while (j < k) {
        val base = (sub * k + j) * ds
        var dot = 0L
        var t = 0
        while (t < ds) {
          val q = math.floor(emb.getFloat(sub * ds + t).toDouble * scale).toLong
          dot += q * cb(base + t)
          t += 1
        }
        out(sub * k + j) = dot
        j += 1
      }
      sub += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqTableQ", this, classOf[PqTableQ].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.table($c);")
  }

  /** Called from generated code. */
  def table(emb: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(emb))

  override protected def withNewChildInternal(newChild: Expression): PqTableQ =
    copy(child = newChild)
}

/** Integer ADC score: Σ over subspaces of tableQ[sub·k + code_sub] —
  * the long-typed twin of PqAdc over PqTableQ tables. */
case class PqAdcQ(left: Expression, right: Expression, m: Int, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc_q"

  private def compute(table: ArrayData, packed: Long): Long = {
    var sum = 0L
    var sub = 0
    while (sub < m) {
      val code = ((packed >>> (4 * sub)) & 0xfL).toInt
      sum += table.getLong(sub * k + code)
      sub += 1
    }
    sum
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAdcQ", this, classOf[PqAdcQ].getName)
    nullSafeCodeGen(ctx, ev, (t, c) => s"${ev.value} = $self.score($t, $c);")
  }

  /** Called from generated code. */
  def score(table: ArrayData, packed: Long): Long = compute(table, packed)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcQ =
    copy(left = l, right = r)
}

/** Sorted distinct MD5-derived 64-bit hashes of the k-token SLIDING
  * WINDOWS of an array<string> token column — the decontamination
  * signature (q176). Like ShingleHashes but on the cross-engine MD5
  * hash (md5_number_upper of the space-joined window — any engine
  * recomputes the identical longs, where xxhash64 is Spark-only), and
  * with a SHORT-DOC fallback: a non-empty doc with fewer than k tokens
  * contributes ONE window of all its tokens, so short benchmark rows
  * still decontaminate instead of silently vanishing below the window
  * size. One fused codegen'd pass per row. */
case class Md5WindowHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_window_hashes"

  private def hash64(s: String): Long = {
    val md = Md5WindowHashes.digest.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var h = 0L
    var b = 7
    while (b >= 0) { h = (h << 8) | (d(b) & 0xffL); b -= 1 }
    h
  }

  private def compute(toks: ArrayData): Array[Long] = {
    val n = toks.numElements()
    if (n == 0) return Array.emptyLongArray
    val m = if (n >= k) n - k + 1 else 1
    val win = if (n >= k) k else n
    val hs = new Array[Long](m)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < win) {
        if (j > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + j).toString)
        j += 1
      }
      hs(i) = hash64(sb.toString)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == m) hs else java.util.Arrays.copyOf(hs, w)
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5WindowHashes", this, classOf[Md5WindowHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hashes($c);")
  }

  /** Called from generated code. */
  def hashes(toks: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(toks))

  override protected def withNewChildInternal(newChild: Expression): Md5WindowHashes =
    copy(child = newChild)
}

object Md5WindowHashes {
  /** MessageDigest is stateful and not thread-safe (see SimHashMd5). */
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}

/** Assemble one packed token-shard bin: a sorted array of
  * (offset, token_id) cells becomes `capacity` little-endian int32s,
  * tail-padded with `padId`. The offsets MUST be the contiguous run
  * 0..n−1 (they are by the packing layout's construction — prefix-sum
  * positions mod capacity); a gap means the layout upstream is corrupt
  * and the write THROWS rather than shipping a torn shard. Runs once
  * per bin (bounded: `capacity` cells), inside codegen. */
case class PackBinCells(child: Expression, capacity: Int, padId: Int)
    extends UnaryExpression {
  require(capacity >= 1)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_bin_cells"

  /** Called from generated code. */
  def pack(cells: ArrayData): Array[Byte] = {
    val n = cells.numElements()
    if (n > capacity)
      throw new IllegalStateException(s"bin holds $n cells > capacity $capacity")
    val out = new Array[Byte](capacity * 4)
    var i = 0
    while (i < n) {
      val cell = cells.getStruct(i, 2)
      val off = cell.getLong(0)
      if (off != i)
        throw new IllegalStateException(
          s"bin offsets must be contiguous: cell $i carries offset $off")
      val v = cell.getInt(1)
      val b = i * 4
      out(b) = v.toByte
      out(b + 1) = (v >>> 8).toByte
      out(b + 2) = (v >>> 16).toByte
      out(b + 3) = (v >>> 24).toByte
      i += 1
    }
    var j = n
    while (j < capacity) {
      val b = j * 4
      out(b) = padId.toByte
      out(b + 1) = (padId >>> 8).toByte
      out(b + 2) = (padId >>> 16).toByte
      out(b + 3) = (padId >>> 24).toByte
      j += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    pack(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("packBinCells", this, classOf[PackBinCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.pack($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PackBinCells =
    copy(child = newChild)
}

/** Inverse of [[PackBinCells]]: a packed shard's bytes back to the
  * array of little-endian int32 token ids (pads included — the reader
  * filters on the pad id so the loader contract stays explicit). */
case class UnpackInts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "unpack_ints"

  private def compute(bytes: Array[Byte]): Array[Int] = {
    require(bytes.length % 4 == 0,
      s"packed shard length ${bytes.length} is not int32-aligned")
    val out = new Array[Int](bytes.length / 4)
    var i = 0
    while (i < out.length) {
      val b = i * 4
      out(i) = (bytes(b) & 0xff) | ((bytes(b + 1) & 0xff) << 8) |
        ((bytes(b + 2) & 0xff) << 16) | ((bytes(b + 3) & 0xff) << 24)
      i += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[Array[Byte]]))

  /** Called from generated code. */
  def unpack(bytes: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(compute(bytes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("unpackInts", this, classOf[UnpackInts].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.unpack($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnpackInts =
    copy(child = newChild)
}

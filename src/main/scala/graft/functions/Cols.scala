package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column helpers shared across operators.
  *
  * Float discipline: any double that crosses the correctness oracle is
  * discretized with `fixed` — floor(x * scale + 0.5) as BIGINT — instead
  * of engine `round()`. Spark's `round` re-interprets doubles through
  * their shortest decimal string (BigDecimal.valueOf) while DuckDB rounds
  * the binary value, so the two disagree on exact-looking halves like
  * 2.675. Pure floor/multiply arithmetic is bit-identical across engines
  * given the same input double.
  */
object Cols {
  /** floor(c * scale + 0.5) as long — cross-engine-stable fixed-point. */
  def fixed(c: Column, scale: Long): Column =
    floor(c * lit(scale.toDouble) + lit(0.5)).cast("long")

  /** Money in cents (2 implied decimals). */
  def cents(c: Column): Column = fixed(c, 100L)

  /** 4-decimal fixed point (ratios, similarities). */
  def bp(c: Column): Column = fixed(c, 10000L)

  /** Event-time as exact integer microseconds (cross-engine-safe). */
  def micros(c: Column): Column = unix_micros(c)


  /** Codepoint class of the space-FREE scripts (Han ideographs, kana,
    * Thai — scripts written without word separators; Korean keeps its
    * native spaces and stays on whitespace tokenization). Java regex
    * syntax; the RE2 mirror for DuckDB oracles is [[SegScriptSql]]. */
  val SegScript = "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsThai}]"
  /** RE2 spelling of [[SegScript]] for DuckDB oracle SQL. */
  val SegScriptSql = "[\\p{Han}\\p{Hiragana}\\p{Katakana}\\p{Thai}]"

  /** THE shared tokenizer: whitespace split, with a codepoint-class
    * segmentation fallback for space-free scripts — each Han/kana/Thai
    * codepoint becomes its own token (the standard character-level
    * convention for unsegmented text; a CJK document would otherwise
    * collapse into one giant "token" and silently gut token stats,
    * TF-IDF, dedup shingles and surprisal for those languages).
    *
    * The fallback is CONDITIONAL on the document containing such a
    * codepoint, probed in TWO stages so the common case stays cheap:
    * a plain char-RANGE regex first (any non-ASCII at all — near
    * memchr speed; script codepoints are never ASCII), and only then
    * the Unicode-script class (whose per-char property lookups cost
    * real time — a single-stage script rlike measured ~2× on
    * tokenize-bound operators at sf0.1). The And short-circuits in
    * codegen, so pure-ASCII corpora pay one cheap scan per document
    * and tokenize byte-identically to a plain space split — no
    * behavior change for corpora without these scripts. When the
    * fallback fires, each script codepoint is space-padded and runs
    * of spaces collapse to one (whitespace in such documents is
    * normalized by construction). Map-side, no UDF.
    *
    * Oracle contract: the segmentation is DuckDB-mirrorable (RE2
    * script classes — q169's oracle mirrors it verbatim, one-stage
    * test, same predicate value). The PRE-EXISTING text-operator
    * oracles pin the whitespace branch with a plain string_split —
    * exact for any corpus without space-free-script codepoints (the
    * driver corpus is pure ASCII, asserted in spec); verifying those
    * operators on a CJK-bearing corpus requires swapping their
    * oracles' string_split for q169's segmentation CTE. */
  def tokens(text: Column): Column = {
    val padded = regexp_replace(text, s"(${SegScript})", " $1 ")
    val seg = trim(regexp_replace(padded, " {2,}", " "))
    split(when(text.rlike("[^\\x00-\\x7f]") && text.rlike(SegScript), seg)
      .otherwise(text), " ")
  }

  /** Exact integer 64·log2 as a NEW COLUMN `out` — the distributed
    * mirror of [[graft.ops.Text.lg64]] (msb + 6-bit fixed-point
    * squaring recurrence, scale 2²⁰) for operators whose log
    * arguments are data-sized (a driver map over distinct values
    * would not be model-sized). Each recurrence step lands in a REAL
    * column via withColumn — a single nested Column expression would
    * copy the step subtree into its 3 references and blow up ~3⁶-fold
    * (the exact lateral-alias trap the oracle's lgCte layers around,
    * observed as a driver OOM). msb = length(bin(n)) − 1; truncating
    * shifts become exact integer division / multiplication by 2^k
    * (k ≤ 43, double-exact powers; truncation ≡ >> for non-negative
    * operands). All plain codegen'd arithmetic — no UDF. n must be
    * ≥ 1 on every row (clamp upstream where a branch guards zero). */
  def withLg64(df: org.apache.spark.sql.DataFrame, n: Column,
               out: String): org.apache.spark.sql.DataFrame = {
    def pow2(k: Column): Column = pow(lit(2d), k.cast("double")).cast("long")
    val (nn, ee) = (s"__${out}_n", s"__${out}_e")
    var d = df.withColumn(nn, n)
      .withColumn(ee, (length(bin(col(nn))) - lit(1)).cast("long"))
      .withColumn(s"__${out}_y0",
        when(col(ee) >= 20L, F.idiv(col(nn), pow2(col(ee) - lit(20L))))
          .otherwise(col(nn) * pow2(lit(20L) - col(ee))))
    val two21 = lit(2097152L)
    for (i <- 1 to 6) {
      val (t, b, y) = (s"__${out}_t$i", s"__${out}_b$i", s"__${out}_y$i")
      d = d.withColumn(t,
          F.idiv(col(s"__${out}_y${i - 1}") * col(s"__${out}_y${i - 1}"),
            lit(1048576L)))
        .withColumn(b, when(col(t) >= two21, 1L).otherwise(0L))
        .withColumn(y, when(col(t) >= two21, F.idiv(col(t), lit(2L)))
          .otherwise(col(t)))
    }
    val frac = (1 to 6).map(i =>
      col(s"__${out}_b$i") * lit(1L << (6 - i))).reduce(_ + _)
    val drops = Seq(nn, ee, s"__${out}_y0") ++
      (1 to 6).flatMap(i => Seq(s"__${out}_t$i", s"__${out}_b$i", s"__${out}_y$i"))
    d.withColumn(out, col(ee) * lit(64L) + frac).drop(drops: _*)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Cols._
import graft.functions.F

/** Text-analysis operators: token statistics, quality scoring,
  * language-ID, fingerprinting, n-gram frequencies, TF-IDF,
  * normalization, stratified sampling, PII scrubbing, repetition
  * scoring.
  *
  * The generic entry points (`tokenStats`, `languageId`,
  * `normalizeDedup`, `stratifiedSample`, `scrubStats`, `repetition`, and
  * the Column helpers `normalized`/`scrub`) work over ANY corpus
  * DataFrame — callers name the text/group columns; the q4x methods are
  * the driver-contract facades binding them to the test documents table.
  *
  * Everything is per-document map-side work (split/regexp/native
  * expressions, all codegen'd) followed by at most one aggregation
  * shuffle on a low-cardinality key — linear and embarrassingly parallel
  * at 100 TB. No UDFs.
  */
object Text {

  /** Shared stopword list (mirrored literally in the DuckDB oracles). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Tokens column — operators materialize this ONCE per row (a
    * `withColumn`) before any higher-order lambda touches it; splitting
    * inside a lambda would re-tokenize the document per element. */
  private def toks = col("toks")
  private def withToks(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("toks", tokens(col(text)))

  /** Training-corpus normalization: lowercase, strip non-alphanumerics,
    * collapse whitespace, trim — fused into ONE regex pass (any maximal
    * run of non-alphanumerics, spaces included, becomes a single space
    * either way, so one pass equals the strip-then-collapse two-pass). */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** PII/pattern scrub: mask email-shaped tokens, then digit runs. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-z0-9.]+@[a-z0-9.]+", "<email>"),
      "[0-9]+", "<num>")

  /** Token statistics per group: whitespace tokens plus a BPE-ish regex
    * tokenization (runs of letters | digits | single other char). */
  def tokenStats(df: DataFrame, group: String, text: String): DataFrame =
    withToks(df, text)
      .select(col(group),
        size(toks).as("n_ws"),
        size(regexp_extract_all(col(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe"))
      .groupBy(col(group))
      .agg(sum(col("n_ws")).as("sum_ws_tokens"),
           sum(col("n_bpe")).as("sum_bpe_tokens"),
           cents(avg(col("n_ws"))).as("avg_ws_tokens"),
           max(col("n_ws")).as("max_ws_tokens"),
           count(lit(1)).as("n_docs"))

  /** Deterministic language-ID: marker-word frequency argmax over the
    * given (language → markers) profiles, ties broken by profile order. */
  def languageId(df: DataFrame, id: String, text: String,
                 markers: Seq[(String, Seq[String])]): DataFrame = {
    val nTok = size(toks).cast("double")
    val scored = markers.foldLeft(withToks(df, text)) { case (acc, (lang, ms)) =>
      acc.withColumn(s"score_$lang",
        size(filter(toks, t => t.isin(ms.map(lit(_)): _*))).cast("double") / nTok)
    }
    // greatest() on (score, nrank, lang) structs: max score, then the
    // NEGATED profile rank so ties resolve to the earliest profile.
    val ranked = markers.zipWithIndex.map { case ((lang, _), i) =>
      struct(col(s"score_$lang").as("score"), lit(-i).as("nrank"), lit(lang).as("lang"))
    }
    scored.select(col(id),
        greatest(ranked: _*).getField("lang").as("pred_lang"),
        bp(greatest(ranked: _*).getField("score")).as("top_score_bp"))
  }

  /** Normalize-then-dedup: the canonical pre-dedup cleaning pass. All
    * map-side string ops; one hash shuffle on the normalized digest. */
  def normalizeDedup(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), normalized(col(text)).as("norm"))
      .groupBy(md5(col("norm")).as("norm_hash"))
      .agg(min(col(id)).as("keep_id"),
           count(lit(1)).as("n_copies"),
           min(length(col("norm"))).as("norm_len"))

  /** Deterministic stratified sampling — exactly `n` rows per stratum,
    * chosen by md5-of-id order. Reproducible across engines and runs
    * (no RNG state to ship to executors); one shuffle on the stratum
    * key, and the per-stratum top-N is a bounded partial top-k under
    * the window's rank filter, never a full sort of the corpus.
    * Returns the input columns plus `rn` (1-based rank within the
    * stratum). */
  def stratifiedSample(df: DataFrame, stratum: String, id: String,
                       n: Int): DataFrame = {
    val w = Window.partitionBy(col(stratum))
      .orderBy(md5(col(id).cast("string")).asc, col(id).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** Scrub accounting per group: masked-pattern counts and masked vs raw
    * lengths. All map-side regex in one scan pass. */
  def scrubStats(df: DataFrame, group: String, text: String): DataFrame =
    df.select(col(group),
        size(regexp_extract_all(col(text), lit("[0-9]+"), lit(0))).cast("long").as("n_num"),
        length(scrub(col(text))).cast("long").as("scrub_len"),
        length(col(text)).cast("long").as("raw_len"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_num")).as("n_num_runs"),
           sum(col("scrub_len")).as("sum_scrub_len"),
           sum(col("raw_len")).as("sum_raw_len"))

  /** PLANTED-PII RECALL HARNESS — does the scrub actually catch what
    * it claims? q48 counts what the pattern masked; nothing measured
    * what it MISSED. This plants one deterministic, id-derived email
    * per document in four realistic variants (plain lowercase,
    * capitalized local part, plus-tag, leading-digits-underscore) and
    * replays the production scrub; a plant counts as caught only when
    * its token normalizes to EXACTLY `<email>` — a partial mask
    * (`U<email>`, `user.<num>+<email>`) is a leak, because the
    * residue still carries identity. Per-variant recall in bp is the
    * table a privacy review reads: the shipped `[a-z0-9.]+@...`
    * pattern catches the plain variant and leaks the other three —
    * exactly the finding this harness exists to surface (tighten the
    * pattern, re-run, watch recall move).
    *
    * Generator-replay oracle (the q70/q105 convention): the plant is
    * derived from doc_id, so DuckDB re-plants and re-scrubs
    * identically. One map-side pass, 4-row output. */
  def piiScrubEval(docs: DataFrame, id: String, text: String): DataFrame = {
    val did = col("docid").cast("string")
    val planted = docs.select(col(id).cast("long").as("docid"),
        col(text).as("t"))
      .withColumn("variant", col("docid") % 4L)
      .withColumn("email",
        when(col("variant") === 0L,
          concat(lit("user"), did, lit("@mail.com")))
        .when(col("variant") === 1L,
          concat(lit("User"), did, lit("@mail.com")))
        .when(col("variant") === 2L,
          concat(lit("user."), did, lit("+tag@mail.com")))
        .otherwise(concat(did, lit("_user@mail.com"))))
      .withColumn("last_tok", element_at(
        split(scrub(concat(col("t"), lit(" "), col("email"))), " "), -1))
    planted.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_planted"),
        sum((col("last_tok") === "<email>").cast("long")).as("n_caught"))
      .select(col("variant"),
        when(col("variant") === 0L, "plain")
          .when(col("variant") === 1L, "upper_local")
          .when(col("variant") === 2L, "plus_tag")
          .otherwise("underscore").as("variant_name"),
        col("n_planted"), col("n_caught"),
        F.idiv(lit(10000L) * col("n_caught"), col("n_planted"))
          .as("recall_bp"))
  }

  /** q282: the scrub-recall table over the documents corpus. */
  def q282(s: SparkSession, d: String): DataFrame =
    piiScrubEval(Tables.documents(s, d), "doc_id", "text")

  /** Repetition scoring per group: per-document duplicate-bigram ratio
    * (1 − distinct/total bigrams), the Gopher-style repetition quality
    * signal for corpus filtering. Distinct bigrams are counted by the
    * same fused codegen pass as dedup (ShingleHashes, k=2) — map-only,
    * then one aggregation on the group key. */
  def repetition(df: DataFrame, group: String, text: String): DataFrame = {
    val total = (size(toks) - 1).cast("double")
    val rep = lit(1.0) - size(F.shingleHashes(toks, 2)).cast("double") / total
    withToks(df, text)
      .filter(size(toks) >= 2)
      .select(col(group), rep.as("rep"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_docs"),
           bp(avg(col("rep"))).as("avg_rep_bp"),
           bp(max(col("rep"))).as("max_rep_bp"),
           sum(when(col("rep") > 0.1, 1L).otherwise(0L)).as("n_repetitive"))
  }

  // ---- driver-contract facades over the test documents table ----

  /** q40: token counting per language. */
  def q40(s: SparkSession, d: String): DataFrame =
    tokenStats(Tables.documents(s, d), "lang", "text")

  /** q41: per-document quality score from length, stopword ratio and
    * mean word length; weights fixed, all fixed-point on export. */
  def q41(s: SparkSession, d: String): DataFrame = {
    val nTok  = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("double")
    val stopRatio = nStop / nTok
    val meanWordLen = (length(col("text")) - (nTok - 1)) / nTok
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val quality = lit(0.5) * lenScore + lit(0.3) * (lit(1.0) - stopRatio) +
      lit(0.2) * least(meanWordLen / lit(8.0), lit(1.0))
    withToks(Tables.documents(s, d)).select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      bp(stopRatio).as("stop_ratio_bp"),
      bp(meanWordLen).as("mean_word_len_bp"),
      bp(quality).as("quality_bp"))
  }

  /** GOPHER-STYLE RULE AUDIT (round 13) — the published pre-training
    * quality-rule battery (Rae et al. 2021's repetition/length/symbol
    * filters), reported PER RULE rather than as q41's blended score or
    * q99's single gate: which rule would remove how much of the
    * corpus is the number a pipeline owner tunes before committing a
    * filter. Rules, all exact integers: word count in [50, 10⁵];
    * mean word length in [3, 10] (milli grid); ≥ 2 stopwords; ≥ 80%
    * of words alphabetic; top-word token share ≤ 20% (the repetition
    * screen — computed ROW-LOCALLY over the token array, no shuffle).
    * One corpus pass aggregates every rule's fail count plus the
    * any-rule union row.
    *
    * Scale (100 TB): entirely map-side per-document arithmetic into
    * ONE 7-counter aggregation — the corpus shuffles seven numbers
    * per task; the per-rule unpivot is 6 rows. */
  def gopherRules(docs: DataFrame, text: String): DataFrame = {
    val d0 = withToks(docs, text)
    val nTok = size(toks).cast("long")
    val meanMilli = graft.functions.F.idiv(
      lit(1000L) * (length(col(text)).cast("long") - (nTok - lit(1L))), nTok)
    val nStop = size(filter(toks,
      t => t.isin(stopwords.map(lit(_)): _*))).cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val topCnt = expr(
      "aggregate(array_distinct(toks), 0, (acc, t) -> " +
        "greatest(acc, size(filter(toks, x -> x = t))))").cast("long")
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    val flags = d0.select(
      flag(nTok < 50L || nTok > 100000L).as("f_wc"),
      flag(meanMilli < 3000L || meanMilli > 10000L).as("f_mwl"),
      flag(nStop < 2L).as("f_stop"),
      flag(lit(10000L) * nAlpha < lit(8000L) * nTok).as("f_alpha"),
      flag(lit(10000L) * topCnt > lit(2000L) * nTok).as("f_rep"))
    val agg = flags.agg(count(lit(1)).as("n_docs"),
      sum(col("f_wc")).as("s_wc"), sum(col("f_mwl")).as("s_mwl"),
      sum(col("f_stop")).as("s_stop"), sum(col("f_alpha")).as("s_alpha"),
      sum(col("f_rep")).as("s_rep"),
      sum(when(col("f_wc") + col("f_mwl") + col("f_stop") +
        col("f_alpha") + col("f_rep") > 0L, 1L).otherwise(0L)).as("s_any"))
    agg.select(col("n_docs"), expr(
      "stack(6, 'word_count', s_wc, 'mean_word_len', s_mwl, " +
        "'stopwords', s_stop, 'alpha_words', s_alpha, " +
        "'repetition', s_rep, 'any_rule', s_any) AS (rule, n_failed)"))
      .select(col("rule"), col("n_docs"), col("n_failed"),
        graft.functions.F.idiv(lit(10000L) * col("n_failed"), col("n_docs"))
          .as("fail_bp"))
  }

  /** q343: the per-rule Gopher audit over the documents table. */
  def q343(s: SparkSession, d: String): DataFrame =
    gopherRules(Tables.documents(s, d), "text")

  /** DISTINCTIVE TERMS BY LOG-ODDS (round 13) — Monroe/Colaresi/
    * Quinn's "Fightin' Words" method, the standard answer to "which
    * terms CHARACTERIZE this slice against the rest": raw counts
    * favor function words, plain TF-IDF over-rewards rare flukes;
    * the smoothed log-odds-ratio z-score
    *   δ_t = log((a+1)/(A+V−a−1)) − log((b+1)/(B+V−b−1)),
    *   z_t = δ_t / √(1/(a+1) + 1/(b+1))
    * (α = 1 Laplace prior over the V-term vocabulary) balances both.
    * δ is computed in exact 64·log2 units via the distributed
    * [[graft.functions.Cols#withLg64]] (arguments are count-sized);
    * the single pinned-double boundary converts to bits and divides
    * by the variance root: z_milli = ⌊1000·(δ_q/64)/√(1/(a+1) +
    * 1/(b+1)) + ½⌋. Top-k per slice by (z DESC, term ASC).
    *
    * Scale (100 TB): one tokenize pass to the (slice, term) grain,
    * vocabulary-sized joins, |slices|·k output via per-slice windows
    * over the vocabulary table. */
  def logOddsTerms(docs: DataFrame, slice: String, text: String,
                   topK: Int): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val tf = withToks(docs, text)
      .select(col(slice).as("sl"), explode(toks).as("tok"))
      .groupBy(col("sl"), col("tok")).agg(count(lit(1)).as("a"))
      .localCheckpoint() // feeds per-term globals AND slice totals
    val byTerm = tf.groupBy(col("tok")).agg(sum(col("a")).as("g"))
    val bySlice = tf.groupBy(col("sl")).agg(sum(col("a")).as("ta"))
    val totals = tf.agg(sum(col("a")).as("n"),
      countDistinct(col("tok")).as("v"))
    var j = tf.join(byTerm, "tok").join(broadcast(bySlice), "sl")
      .crossJoin(broadcast(totals))
      .withColumn("b", col("g") - col("a"))
      .withColumn("arg_a", col("a") + lit(1L))
      .withColumn("arg_da",
        greatest(col("ta") + col("v") - col("a") - lit(1L), lit(1L)))
      .withColumn("arg_b", col("b") + lit(1L))
      .withColumn("arg_db",
        greatest(col("n") - col("ta") + col("v") - col("b") - lit(1L),
          lit(1L)))
    j = graft.functions.Cols.withLg64(j, col("arg_a"), "lg_a")
    j = graft.functions.Cols.withLg64(j, col("arg_da"), "lg_da")
    j = graft.functions.Cols.withLg64(j, col("arg_b"), "lg_b")
    j = graft.functions.Cols.withLg64(j, col("arg_db"), "lg_db")
    val deltaQ = col("lg_a") - col("lg_da") - col("lg_b") + col("lg_db")
    val z = (deltaQ.cast("double") / lit(64d)) /
      sqrt(lit(1d) / col("arg_a").cast("double") +
        lit(1d) / col("arg_b").cast("double"))
    val scored = j.select(col("sl"), col("tok"), col("a").as("n_in"),
      col("b").as("n_out"), deltaQ.as("delta_q"),
      floor(z * lit(1000d) + lit(0.5d)).cast("long").as("z_milli"))
    val w = Window.partitionBy(col("sl"))
      .orderBy(col("z_milli").desc, col("tok").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= topK).drop("rn")
  }

  /** q356: the 5 most lang-distinctive terms per language. */
  def q356(s: SparkSession, d: String): DataFrame =
    logOddsTerms(Tables.documents(s, d), "lang", "text", 5)

  /** TERM BURSTINESS (round 13) — collection frequency over document
    * frequency per term: function words spread evenly (cf/df ≈ the
    * corpus mean), content/topical terms CLUMP — when they appear
    * they appear repeatedly — so cf/df ranks them without any
    * stopword list (Church–Gale burstiness, the signal behind
    * adaptive-LM caching and topical-keyword extraction; tf-idf's df
    * leg reads WHERE a term appears, this reads HOW it appears).
    * burst_milli = ⌊1000·cf/df⌋ exact; a minimum df floor keeps
    * one-document flukes out of the top list; top-k by
    * (burst DESC, cf DESC, tok ASC) — a total order.
    *
    * Scale (100 TB): one tokenize pass to the (term, doc) grain, one
    * vocabulary-sized rollup, TakeOrdered(k). */
  def termBurstiness(docs: DataFrame, id: String, text: String,
                     minDf: Long, k: Int): DataFrame = {
    val perDoc = withToks(docs, text)
      .select(col(id).as("did"), explode(toks).as("tok"))
      .groupBy(col("tok"), col("did")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("tok"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("tok"), col("cf"), col("df"),
        graft.functions.F.idiv(lit(1000L) * col("cf"), col("df"))
          .as("burst_milli"))
      .orderBy(col("burst_milli").desc, col("cf").desc, col("tok").asc)
      .limit(k)
  }

  /** q349: the 20 burstiest terms (df ≥ 5) of the documents table. */
  def q349(s: SparkSession, d: String): DataFrame =
    termBurstiness(Tables.documents(s, d), "doc_id", "text", 5L, 20)

  /** GOOD–TURING FREQUENCY SMOOTHING (round 14) — the classic answer
    * to "how much probability mass belongs to tokens we have NOT
    * seen": maximum-likelihood frequencies overfit exactly where an
    * LM-data pipeline is most exposed (rare tokens, new domains), and
    * Good–Turing's frequency-of-frequencies table is both the
    * smoothing estimate and a corpus-health diagnostic (a kinked N_r
    * curve = boilerplate or dedup artifacts). Per count r ≤ maxR:
    * N_r (types seen r times), N_{r+1}, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r in milli, and the observed probability
    * mass r·N_r/N in bp; the r = 0 row carries the UNSEEN mass
    * estimate N₁/N (the leave-one-out argument) in the same bp
    * column. Exact integers: one idiv per ratio.
    *
    * Scale (100 TB): one tokenize+count to the vocabulary grain
    * (Heaps-sublinear), one count-of-counts rollup (≤ max r rows),
    * a broadcast 1-row total. */
  def goodTuring(grams: DataFrame, maxBands: Int = 10): DataFrame = {
    val tf = grams.groupBy(col("g")).agg(count(lit(1)).as("rr"))
    val nr = tf.groupBy(col("rr")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint() // feeds the band rows, the r+1 join, the total
    val tot = nr.agg(sum(col("rr") * col("n_r")).as("nn"))
    val nxt = nr.select((col("rr") - 1).as("rr"), col("n_r").as("n_next"))
    // the maxBands SMALLEST observed counts, not a fixed 1..maxBands
    // window — a shared-vocabulary corpus whose rarest type appears
    // 26 times would otherwise report an empty table (measured at
    // verify scale); the smallest counts are where GT smoothing acts
    val byR = Window.orderBy(col("rr").asc)
    val rows = nr.withColumn("rk", row_number().over(byR))
      .where(col("rk") <= maxBands)
      .join(nxt, Seq("rr"), "left")
      .crossJoin(broadcast(tot))
      .select(col("rr").as("r"), col("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        F.idiv(lit(1000L) * (col("rr") + 1L) *
          coalesce(col("n_next"), lit(0L)), col("n_r")).as("rstar_milli"),
        F.idiv(lit(10000L) * col("rr") * col("n_r"), col("nn")).as("mass_bp"))
    val unseen = nr.where(col("rr") === 1L)
      .crossJoin(broadcast(tot))
      .select(lit(0L).as("r"), lit(null).cast("long").as("n_r"),
        col("n_r").as("n_next"), lit(null).cast("long").as("rstar_milli"),
        F.idiv(lit(10000L) * col("n_r"), col("nn")).as("mass_bp"))
    rows.unionByName(unseen)
  }

  /** CUMULATIVE GAIN / LIFT CURVE (round 14) — the business-facing
    * member of the score-quality family: AUC (q278) summarizes
    * ranking in one number, the gain curve answers the operational
    * question "if I act on the top X% by score, what share of the
    * positives do I capture, and at what lift over random?" — per
    * DISTINCT score level (the threshold grain — deterministic, no
    * tie-break needed where a row-decile cut would demand one):
    * level counts, cumulative counts from the top, gain/depth in bp
    * and lift in milli, all exact idivs.
    *
    * Scale (100 TB): one score-grain aggregation; the cumulative
    * window runs over DISTINCT SCORE LEVELS (bp grid → ≤10⁴ rows),
    * never corpus rows. */
  def gainCurve(scored: DataFrame, scoreBp: String,
                isPos: String): DataFrame = {
    val lv = scored.groupBy(col(scoreBp).as("score_bp"))
      .agg(count(lit(1)).as("n"), sum(col(isPos)).as("pos"))
    val w = Window.orderBy(col("score_bp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = lv.agg(sum(col("n")).as("tn"), sum(col("pos")).as("tp"))
    lv.withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("score_bp"), col("n"), col("pos"),
        col("cum_n"), col("cum_pos"),
        F.idiv(lit(10000L) * col("cum_pos"), col("tp")).as("gain_bp"),
        F.idiv(lit(10000L) * col("cum_n"), col("tn")).as("depth_bp"),
        when(col("tp") === 0L, lit(null).cast("long"))
          .otherwise(F.idiv(lit(1000L) * col("cum_pos") * col("tn"),
            col("cum_n") * col("tp"))).as("lift_milli"))
  }

  /** q370: gain/lift of the q42 marker score as a correctness
    * ranker. */
  def q370(s: SparkSession, d: String): DataFrame =
    gainCurve(langIdScored(s, d), "top_score_bp", "ok")

  /** INTERPOLATED KNESER–NEY BIGRAM PROBABILITIES (round 14) — the
    * production smoothing (every n-gram LM toolkit's default) next
    * to q362's Good–Turing diagnostic: absolute discount d = 3/4 off
    * every seen bigram, the freed mass λ(w1) = d·N1+(w1·)/c(w1)
    * backed off to the CONTINUATION probability Pcont(w2) =
    * N1+(·w2)/|bigram types| — "how many contexts has w2 completed",
    * the insight that makes KN beat frequency backoff on burst-heavy
    * corpora. Exact e6 fixed point with the discount in quarters:
    * p = ⌊10⁶(4c₁₂−3)/4c₁⌋ + ⌊λ_e6·pcont_e6/10⁶⌋ (each factor its
    * own idiv — the pinned composition BOTH engines replay). Top-k
    * bigrams by (count DESC, w1 ASC, w2 ASC).
    *
    * Scale (100 TB): bigram counts + two distinct-count rollups at
    * the vocabulary grain; the output is the fixed top-k. */
  def knBigrams(docs: DataFrame, text: String, k: Int = 20): DataFrame = {
    val bg = withToks(docs, text)
      .select(explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), (x, i) -> " +
          "struct(x AS w1, element_at(toks, i + 2) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint() // feeds three vocabulary-grain rollups
    val c1 = bg.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p"))
    val cont = bg.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
    val types = bg.agg(count(lit(1)).as("tt"))
    val lam = F.idiv(lit(1000000L) * lit(3L) * col("n1p"),
      lit(4L) * col("c1"))
    val pcont = F.idiv(lit(1000000L) * col("ncont"), col("tt"))
    bg.join(c1, "w1").join(cont, "w2").crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("ncont"),
        (F.idiv(lit(1000000L) * (lit(4L) * col("c12") - lit(3L)),
          lit(4L) * col("c1")) +
          F.idiv(lam * pcont, lit(1000000L))).as("pkn_e6"))
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** q371: interpolated KN probabilities of the 20 most frequent
    * bigrams. */
  def q371(s: SparkSession, d: String): DataFrame =
    knBigrams(Tables.documents(s, d), "text")

  /** INTERPOLATED KNESER–NEY TRIGRAM PROBABILITIES (round 15; VERDICT
    * r14 item 6 — the KN recursion lifted one order, so the LM
    * family's production default is complete next to q193's stupid
    * backoff and q371's bigram KN). The standard recursion on
    * CONTINUATION counts, every level derived from one trigram type
    * table:
    *   p(w3|w1w2) = (c123−d)/c12 + d·N1+(w1w2·)/c12 · pmid(w3|w2)
    *   pmid(w3|w2) = (N1+(·w2w3)−d)/N1+(·w2·)
    *                 + d·N1+(w2·)/N1+(·w2·) · pc(w3)
    *   pc(w3) = N1+(·w3)/|bigram types|
    * with d = 3/4 (the q371 quarters discount; observed counts are
    * ≥ 1 so the max(·,0) clamps never bind on the top-k rows). Exact
    * e6 fixed point, each factor its own idiv — the pinned
    * composition BOTH engines replay. Top-k trigrams by (count DESC,
    * words ASC).
    *
    * Scale (100 TB): one trigram-count pass (Heaps-sublinear at the
    * type grain), four vocabulary-grain rollups off it, one bounded
    * top-k. */
  def knTrigrams(docs: DataFrame, text: String, k: Int = 20): DataFrame = {
    val tg = withToks(docs, text)
      .select(explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 2, 0)), (x, i) -> " +
          "struct(x AS w1, element_at(toks, i + 2) AS w2, " +
          "element_at(toks, i + 3) AS w3))")).as("t"))
      .select(col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c123"))
      .localCheckpoint() // feeds five type-grain rollups
    val c12 = tg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("c12"), count(lit(1)).as("n3"))
    val t23 = tg.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("nc23")).localCheckpoint()
    val mid = tg.groupBy(col("w2")).agg(count(lit(1)).as("nmid2"))
    val n2 = t23.groupBy(col("w2")).agg(count(lit(1)).as("n2"))
    val c3 = t23.groupBy(col("w3")).agg(count(lit(1)).as("ncont3"))
    val tt = t23.agg(count(lit(1)).as("tt"))
    val pc3 = F.idiv(lit(1000000L) * col("ncont3"), col("tt"))
    val midP = F.idiv(lit(1000000L) * (lit(4L) * col("nc23") - lit(3L)),
      lit(4L) * col("nmid2"))
    val lamM = F.idiv(lit(1000000L) * lit(3L) * col("n2"),
      lit(4L) * col("nmid2"))
    val topP = F.idiv(lit(1000000L) * (lit(4L) * col("c123") - lit(3L)),
      lit(4L) * col("c12"))
    val lamT = F.idiv(lit(1000000L) * lit(3L) * col("n3"),
      lit(4L) * col("c12"))
    tg.join(c12, Seq("w1", "w2")).join(t23, Seq("w2", "w3"))
      .join(mid, Seq("w2")).join(n2, Seq("w2")).join(c3, Seq("w3"))
      .crossJoin(broadcast(tt))
      .withColumn("pmid_e6", midP + F.idiv(lamM * pc3, lit(1000000L)))
      .select(col("w1"), col("w2"), col("w3"), col("c123"), col("c12"),
        (topP + F.idiv(lamT * col("pmid_e6"), lit(1000000L))).as("pkn_e6"))
      .orderBy(col("c123").desc, col("w1").asc, col("w2").asc,
        col("w3").asc)
      .limit(k)
  }

  /** q377: interpolated KN probabilities of the 20 most frequent
    * trigrams. */
  def q377(s: SparkSession, d: String): DataFrame =
    knTrigrams(Tables.documents(s, d), "text")

  /** HELD-OUT SCORING under the interpolated-KN trigram model — the
    * q193 evaluation harness with KN in place of stupid backoff:
    * train on the even-id half, score the odd half's trigrams, one
    * (doc_id, n_trigrams, mean_surprisal_bp) row per scored doc. A
    * held-out trigram falls through the KN recursion exactly as far
    * as its context is known: unseen (w1,w2) context → the w2
    * continuation model; unseen w2 → the unigram continuation; an
    * unseen w3 gets the Laplace-floored continuation mass (finite
    * surprisal everywhere — the property stupid backoff buys with
    * ad-hoc 0.4 factors and KN buys with reserved discount mass).
    * Spec-compared against q193 on the verify corpus: KN must price
    * held-out text no worse than the backoff heuristic. */
  def knTrigramLmScore(docs: DataFrame, id: String, text: String): DataFrame = {
    // the q193 evaluation frame verbatim (even-id train, odd-id score,
    // space tokenization), so the two smoothers price the SAME data
    val base = docs.select(col(id).as("did"), split(col(text), " ").as("ts"))
    val train = base.filter(col("did") % 2 === 0)
    val score = base.filter(col("did") % 2 === 1)
    def tri(df: DataFrame): DataFrame = df
      .filter(size(col("ts")) >= 3)
      .select(col("did"), explode(sequence(lit(1),
        size(col("ts")) - lit(2))).as("i"), col("ts"))
      .select(col("did"), element_at(col("ts"), col("i")).as("w1"),
        element_at(col("ts"), col("i") + lit(1)).as("w2"),
        element_at(col("ts"), col("i") + lit(2)).as("w3"))
    val tg = tri(train)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c123"))
      .localCheckpoint()
    val c12 = tg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("c12"), count(lit(1)).as("n3"))
    val t23 = tg.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("nc23")).localCheckpoint()
    val mid = tg.groupBy(col("w2")).agg(count(lit(1)).as("nmid2"))
    val n2t = t23.groupBy(col("w2")).agg(count(lit(1)).as("n2"))
    val c3t = t23.groupBy(col("w3")).agg(count(lit(1)).as("ncont3"))
    val tot = t23.agg(count(lit(1)).as("tt"),
      countDistinct(col("w3")).as("v3"))
    val st = tri(score)
    val j = st
      .join(tg, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(t23, Seq("w2", "w3"), "left")
      .join(mid, Seq("w2"), "left")
      .join(n2t, Seq("w2"), "left")
      .join(c3t, Seq("w3"), "left")
      .crossJoin(broadcast(tot))
    val d = 0.75d
    // unigram continuation with a Laplace floor (unseen w3 stays finite)
    val pc = (coalesce(col("ncont3"), lit(0L)).cast("double") + lit(1.0)) /
      (col("tt").cast("double") + col("v3"))
    val pmid = when(col("nmid2").isNotNull,
      greatest(coalesce(col("nc23"), lit(0L)).cast("double") - lit(d), lit(0.0)) /
        col("nmid2") +
        lit(d) * col("n2") / col("nmid2") * pc)
      .otherwise(pc)
    val p = when(col("c12").isNotNull,
      greatest(coalesce(col("c123"), lit(0L)).cast("double") - lit(d), lit(0.0)) /
        col("c12") +
        lit(d) * col("n3") / col("c12") * pmid)
      .otherwise(pmid)
    j.select(col("did"), floor(-log(p) * 10000d + 0.5d).cast("long").as("surp"))
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_trigrams"),
        floor(sum(col("surp")) / count(lit(1))).cast("long")
          .as("mean_surprisal_bp"))
      .withColumnRenamed("did", "doc_id")
  }

  /** q362: the Good–Turing table of the documents BIGRAM vocabulary
    * (the Katz-backoff setting — bigrams carry the hapax-heavy tail
    * that makes unseen-mass estimation meaningful; this corpus's
    * unigram vocabulary is shared and tailless by construction). */
  def q362(s: SparkSession, d: String): DataFrame =
    goodTuring(withToks(Tables.documents(s, d), "text")
      .select(explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), (x, i) -> " +
          "concat(x, ' ', element_at(toks, i + 2)))")).as("g")))

  /** JENSEN–SHANNON VOCABULARY DRIFT (round 13) — the SYMMETRIC,
    * BOUNDED member of the corpus-drift family: q119's KL explodes on
    * terms one side lacks and depends on direction; JSD(P,Q) =
    * ½KL(P‖M) + ½KL(Q‖M) with M the midpoint is finite, symmetric,
    * and bounded by 1 bit — the number to track across corpus
    * versions or mixture sources. Exact integer end to end via the
    * 64·log2 machinery: per term, log2(p/m) = lg64(2·a·B) −
    * lg64(a·B + b·A) on integer arguments ([[graft.functions.Cols#lg64]]
    * — the distributed column mirror of Text.lg64, codegen'd, no
    * UDF), terms weighted by raw counts, one idiv per KL leg and one
    * at the milli-bit boundary. Headroom: the largest log argument is
    * 2·a·tb ≤ 2·ta·tb, so the EXACT bound is ta·tb < 2⁶² (~2.1·10⁹
    * tokens per side when balanced — r13 advice corrected the
    * documented ~3·10⁹, which overflowed); past that, pre-scale
    * counts. Enforced, not assumed: a raise_error guard on the
    * one-row totals fails LOUDLY instead of letting non-ANSI Spark
    * wrap silently where DuckDB HUGEINT would not.
    *
    * Scale (100 TB): one tokenize+count pass to the vocabulary
    * grain (Heaps-sublinear), totals broadcast, a 2-number fold. */
  def jsdDrift(docs: DataFrame, text: String, isRef: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val tf = withToks(docs, text)
      .select(explode(toks).as("tok"), isRef.as("is_ref"))
      .groupBy(col("tok"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("b"))
    // cheap loud overflow guard (one row): ta·tb ≥ 2⁶² would wrap the
    // 2·a·tb log arguments below — fail here, not diverge silently
    val lim = lit(4611686018427387903L) // 2^62 - 1
    val tot = tf.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      .select(
        when(col("tb") > 0L && col("ta") > lim / col("tb"),
          raise_error(lit("jsdDrift: ta*tb exceeds the exact-Long " +
            "headroom (2*a*tb must stay below 2^63) - pre-scale counts"))
            .cast("long"))
          .otherwise(col("ta")).as("ta"),
        col("tb"))
    var j = tf.crossJoin(broadcast(tot))
      // zero-count sides clamp their (unused) log argument to 1 so
      // bin() stays defined on every row; the when() below zeroes the
      // term anyway
      .withColumn("arg1", greatest(lit(2L) * col("a") * col("tb"), lit(1L)))
      .withColumn("argd", col("a") * col("tb") + col("b") * col("ta"))
      .withColumn("arg2", greatest(lit(2L) * col("b") * col("ta"), lit(1L)))
    j = graft.functions.Cols.withLg64(j, col("arg1"), "lg1")
    j = graft.functions.Cols.withLg64(j, col("argd"), "lgd")
    j = graft.functions.Cols.withLg64(j, col("arg2"), "lg2")
    // argd = 0 only on a degenerate one-sided split (a whole total is
    // zero); the oracle's `WHERE v > 0` arg filter yields NULL terms
    // there, and SQL sum skips NULLs in both engines — mirror that
    // instead of letting withLg64(0) produce garbage (r13 review)
    val terms = j.select(col("a"), col("b"), col("ta"), col("tb"),
      when(col("a") > 0L && col("argd") > 0L,
        dec(col("a")) * dec(col("lg1") - col("lgd")))
        .when(col("a") === 0L, dec(lit(0L)))
        .otherwise(lit(null).cast("decimal(38,0)")).as("tp"),
      when(col("b") > 0L && col("argd") > 0L,
        dec(col("b")) * dec(col("lg2") - col("lgd")))
        .when(col("b") === 0L, dec(lit(0L)))
        .otherwise(lit(null).cast("decimal(38,0)")).as("tq"))
    terms.agg(count(lit(1)).as("n_terms"), max(col("ta")).as("n_ref"),
        max(col("tb")).as("n_cur"),
        sum(col("tp")).as("sp"), sum(col("tq")).as("sq"))
      .select(col("n_terms"), col("n_ref"), col("n_cur"),
        graft.functions.F.idiv(col("sp"), dec(col("n_ref")))
          .cast("long").as("klp_q"),
        graft.functions.F.idiv(col("sq"), dec(col("n_cur")))
          .cast("long").as("klq_q"),
        graft.functions.F.idiv(lit(1000L) *
          (graft.functions.F.idiv(col("sp"), dec(col("n_ref"))) +
            graft.functions.F.idiv(col("sq"), dec(col("n_cur")))),
          dec(lit(128L))).cast("long").as("jsd_mbits"))
  }

  /** q350: vocabulary JSD between even- and odd-id documents. */
  def q350(s: SparkSession, d: String): DataFrame =
    jsdDrift(Tables.documents(s, d), "text", col("doc_id") % 2 === 0)

  /** Marker-word profiles for the deterministic language-ID heuristic.
    * (The synthetic corpus shares one vocabulary across `lang` labels, so
    * this scores frequency profiles rather than real orthography; the
    * operator shape — per-doc scoring + argmax with lexicographic
    * tie-break — is what matters and is byte-deterministic.) */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is"),
    "de" -> Seq("der", "und", "table"),
    "es" -> Seq("el", "y", "data"),
    "fr" -> Seq("le", "et", "row"),
    "zh" -> Seq("scan", "hash", "join"))

  /** q42: deterministic language-ID over the marker profiles. */
  def q42(s: SparkSession, d: String): DataFrame =
    languageId(Tables.documents(s, d), "doc_id", "text", langMarkers)

  /** q43: 64-bit rolling polynomial fingerprint of the document text
    * (base 31 over UTF-8 bytes, wrapping 64-bit arithmetic) via the
    * native codegen'd expression in graft.functions. Deterministic;
    * not SQL-expressible in the oracle (no wrapping int64 in DuckDB). */
  def q43(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), F.rollingHash64(col("text")).as("fingerprint"))

  /** q45: TF-IDF term ranking per language ("documents" = the 5 language
    * corpora): score = tf · ln(1 + L/df). Output is rank-only — the
    * ordering is ulp-robust across engines because distinct (tf, df)
    * pairs differ by far more than the cross-libm ln() error, and equal
    * (tf, df) ties break on the term string. */
  def q45(s: SparkSession, d: String): DataFrame = {
    val terms = withToks(Tables.documents(s, d))
      .select(col("lang"), explode(toks).as("term"))
    val tf = terms.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nLangs = lit(5.0)
    val score = col("tf") * log(lit(1.0) + nLangs / col("df"))
    val w = Window.partitionBy(col("lang")).orderBy(score.desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("lang"), col("rank"), col("term"), col("tf"), col("df"))
  }

  /** q44: top-5 bigrams per language (count desc, bigram asc). */
  def q44(s: SparkSession, d: String): DataFrame = {
    val bigrams = expr(
      "transform(slice(toks, 1, size(toks) - 1), " +
      "(x, i) -> concat(x, ' ', element_at(toks, i + 2)))")
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram").asc)
    withToks(Tables.documents(s, d))
      .select(col("lang"), explode(bigrams).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
  }

  /** Stopword removal: keep non-stopword tokens, with count and a
    * bounded preview. Map-only; the lambda tests membership against a
    * small literal set (broadcast-free — it ships in the plan). */
  def stopwordFilter(df: DataFrame, id: String, text: String,
                     stops: Seq[String]): DataFrame =
    withToks(df, text).select(
      col(id),
      size(toks).as("n_raw"),
      size(filter(toks, t => !t.isin(stops.map(lit(_)): _*))).as("n_kept"),
      array_join(slice(filter(toks, t => !t.isin(stops.map(lit(_)): _*)), 1, 5), " ")
        .as("kept_head"))

  /** q74: stopword filtering over the documents table. */
  def q74(s: SparkSession, d: String): DataFrame =
    stopwordFilter(Tables.documents(s, d), "doc_id", "text", stopwords)

  /** (doc id, [carried cols,] quality_bp) for any corpus — the q41
    * quality score as a reusable building block (used by the cluster
    * keep-best policy). `carry` columns ride along in the same
    * projection so callers needing them don't re-scan and re-join the
    * corpus just to reattach a column that was on the row already. */
  def qualityBp(df: DataFrame, id: String, text: String,
                carry: Seq[String] = Nil): DataFrame = {
    val nTok  = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("double")
    val meanWordLen = (length(col(text)) - (nTok - 1)) / nTok
    val quality = lit(0.5) * least(nTok / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - nStop / nTok) +
      lit(0.2) * least(meanWordLen / lit(8.0), lit(1.0))
    withToks(df, text).select(
      (col(id) +: carry.map(col)) :+ bp(quality).as("quality_bp"): _*)
  }

  /** q75: end-to-end training-corpus pipeline — quality gate (q41's
    * score ≥ 0.5) → normalize + exact dedup keeping the min-id
    * representative → deterministic stratified sample of 10 docs per
    * language. One declarative plan: Catalyst fuses all the per-row
    * scoring into the scan stage, and the pipeline shuffles exactly
    * twice (dedup hash, stratum window) — the shape a 100 TB corpus
    * clean-and-sample job should have. */
  def q75(s: SparkSession, d: String): DataFrame = {
    val docs = withToks(Tables.documents(s, d))
    val nTok  = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("double")
    val meanWordLen = (length(col("text")) - (nTok - 1)) / nTok
    val quality = lit(0.5) * least(nTok / lit(100.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - nStop / nTok) +
      lit(0.2) * least(meanWordLen / lit(8.0), lit(1.0))
    val wd = Window.partitionBy(md5(normalized(col("text")))).orderBy(col("doc_id").asc)
    val reps = docs.filter(quality >= 0.5)
      .withColumn("dup_rn", row_number().over(wd)).filter(col("dup_rn") === 1)
    stratifiedSample(reps, "lang", "doc_id", 10)
      .select(col("lang"), col("rn"), col("doc_id"))
  }

  /** Corpus unigram LM surprisal — the cheap perplexity-style quality
    * signal: P(tok) = corpus frequency, per-doc mean −ln P. Low scores
    * flag boilerplate (every token common), high scores flag OOV-heavy
    * noise; both are cut candidates in a training pipeline. Two shuffles
    * (vocab count, per-doc agg); the one-row total rides a broadcast
    * cross join, the token→frequency join shuffles on the token. */
  def unigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    // Pre-aggregate to (doc, tok, tf) BEFORE any join: the vocab probe
    // side shrinks from the full token stream (O(total tokens),
    // Zipf-skewed — "the" lands on one partition) to distinct doc-token
    // pairs, the same shape tfidfCosinePairs' tf table uses. Each
    // instance's surprisal is recovered exactly as tf × bp(s).
    val tf = withToks(df, text).select(col(id), explode(toks).as("tok"))
      .groupBy(col(id), col("tok")).agg(count(lit(1)).as("tf"))
    val freqs = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    // Grand total reduces the (small) vocab table — NOT a third
    // tokenize-the-corpus pass.
    val total = freqs.agg(sum(col("cnt")).as("total"))
    // The vocab aggregate is FORCED broadcast: the join adds no exchange
    // on the probe side (plan-spec-pinned), so token skew cannot
    // concentrate a shuffle. At a vocabulary too large to broadcast,
    // drop the hint and the join shuffles doc-token PAIRS — still never
    // the raw token stream.
    tf.join(broadcast(freqs), "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(id))
      .agg(sum(col("tf")).as("n_tokens"),
        // Mean of per-token FIXED-POINT surprisals: each token's bp
        // value rounds once (then scales by its exact integer tf), the
        // long sum is exact, so the result is independent of
        // partial-merge order (a double avg's last bp digit can flip
        // across shuffle-partition counts or engines).
        floor(sum(col("tf") * bp(-log(col("cnt").cast("double") / col("total")))) /
          sum(col("tf"))).cast("long").as("mean_surprisal_bp"))
  }

  /** q90: unigram surprisal scoring of the documents table. */
  def q90(s: SparkSession, d: String): DataFrame =
    unigramSurprisal(Tables.documents(s, d), "doc_id", "text")

  /** Knuth-multiply hash of an id into [0, 1000003), in exact
    * overflow-free long arithmetic: the id is mod-reduced BEFORE the
    * multiply ((a*b) mod m = ((a mod m)(b mod m)) mod m, and
    * 2654435761 mod 1000003 = 427799) so the product stays ≤ ~4e11 —
    * ids ≥ 2^63/2654435761 would otherwise wrap silently in Spark and
    * error in ANSI engines.
    *
    * Operators that make MAGNITUDE-based decisions (hash < threshold,
    * top-k on a hash-derived key) must use DISTINCT multipliers, or
    * composing them correlates their selections: one operator's
    * survivors would all sit in the other's low-hash region. The two
    * multipliers here are 2654435761 and 2246822519 (both reduced mod
    * 1000003); splitAssign's shard uses hash mod 10, which is
    * insensitive to magnitude, so it can share either. */
  private[graft] def knuthHash(id: Column, mult: Long = 427799L): Column =
    (id % lit(1000003L)) * lit(mult) % lit(1000003L)
  /** 2246822519 mod 1000003 — the second, decorrelated multiplier. */
  private val KnuthMult2 = 815781L

  /** Deterministic WEIGHTED sampling without replacement (the A-ES
    * exponential race): each row gets a pseudo-uniform u ∈ (0, 1] from
    * the exact-integer knuthHash of its id (cross-engine reproducible,
    * no RNG state) and survives if its race key ln(u)/w ranks in the
    * top k — heavier rows win proportionally more often. The top-k cut
    * is orderBy+limit — TakeOrderedAndProject, a per-partition bounded
    * heap plus a driver merge of k rows, never a global sort (a global
    * row_number window would drag every row through ONE partition).
    * Ranks are then assigned by a window over just the k survivors.
    * Rank comparisons are ulp-robust: distinct (u, w) pairs differ by
    * far more than cross-libm ln error. */
  def weightedSample(df: DataFrame, id: String, weight: Column,
                     k: Int): DataFrame = {
    val u = (knuthHash(col(id)) + lit(1)) / lit(1000004.0)
    val top = df.withColumn("wkey", log(u) / weight)
      .orderBy(col("wkey").desc, col(id).asc).limit(k)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("wkey").desc, col(id).asc)))
      .drop("wkey")
  }

  /** q97: 20-document weighted sample, weight = document length —
    * longer documents proportionally likelier, selection deterministic. */
  def q97(s: SparkSession, d: String): DataFrame =
    weightedSample(Tables.documents(s, d), "doc_id", length(col("text")), 20)
      .select(col("rank"), col("doc_id"), col("lang"))

  /** Sequence PACKING (concat-and-split): lay the corpus out as if all
    * token streams were concatenated and cut every `capacity` tokens —
    * each document gets the bin where its first token lands plus its
    * offset inside that bin, which is exactly the shard/position layout
    * an LLM pre-training loader materializes. The concat order is
    * (bucket, id) where bucket = id % buckets: packing runs
    * independently per bucket, so the prefix-sum window is
    * PARTITIONED — `buckets` concurrent sorts instead of one global
    * single-partition sort, and at cluster scale buckets is set to
    * O(executors). Exact integer arithmetic end to end (token counts,
    * running start, floor-division bin) — bit-identical across engines. */
  def seqPack(df: DataFrame, id: String, text: String,
              capacity: Int, buckets: Int): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col(id).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(id), (col(id) % buckets).as("bucket"),
        size(tokens(col(text))).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(id), col("bucket"),
        // div, not floor(/): fractional division detours through double
        // and goes inexact past 2^53 total tokens.
        F.idiv(col("start_tok"), lit(capacity.toLong)).as("bin_id"),
        (col("start_tok") % capacity).as("bin_offset"),
        col("n_tokens"))
  }

  /** q98: pack the documents table into 512-token bins over 16 buckets. */
  def q98(s: SparkSession, d: String): DataFrame =
    seqPack(Tables.documents(s, d), "doc_id", "text", 512, 16)

  /** Deterministic 31-bit token ids for the packed-shard sink: low md5
    * bits per token (any engine replays them); swap in BpeEncode ids
    * for a real vocabulary — the sink is id-agnostic. */
  def hashTokenIds(text: Column): Column =
    transform(tokens(text), t =>
      graft.functions.F.md5Hash64(t).bitwiseAND(lit(0x7FFFFFFFL)).cast("int"))

  /** q246: the packed-shard AUDIT table — per (bucket, bin): documents
    * starting there, tokens filled, pad tail — exactly what
    * [[graft.sources.Sources.writePackedShards]] materializes as
    * `index/`; the spec pins the written files byte-exact against the
    * layout, this entry pins the layout arithmetic against the oracle
    * (q98's CTE composes: per-bucket totals → ceil-division bins →
    * last-bin fill). */
  def q246(s: SparkSession, d: String): DataFrame =
    graft.sources.Sources.shardIndexFromLayout(
      // the index aggregates the layout twice (bins + doc starts); the
      // checkpoint stops the corpus scan + prefix-sum window running
      // twice (the q190 rule)
      seqPack(Tables.documents(s, d), "doc_id", "text", 512, 16)
        .localCheckpoint(), 512)

  /** Per-group quality GATE: drop each group's worst `p` quality tail.
    * The threshold is percentile_disc — a DISCRETE percentile (smallest
    * member value whose cumulative distribution ≥ p), so the cut value
    * is an actual data point and the ≥ filter is exact in any engine
    * (an interpolated percentile would put the boundary between
    * ulp-divergent doubles). Plan: quality and the group column come
    * out of ONE corpus scan (qualityBp carries the column — no re-scan,
    * no corpus self-join), the exact-percentile aggregation shuffles
    * (group, quality) scalar pairs only, and the tiny per-group
    * threshold table broadcasts back onto the scored rows; no global
    * sort, no window over the corpus. At 100 TB swap percentile_disc
    * for approx_percentile and the plan shape is unchanged. */
  def qualityGate(df: DataFrame, id: String, text: String,
                  group: String, p: Double): DataFrame = {
    val q = qualityBp(df, id, text, carry = Seq(group))
    // percentile_disc returns double even over bigint input; the value
    // is an actual member, so the cast back to long is exact.
    val thr = q.groupBy(col(group))
      .agg(expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY quality_bp)")
        .cast("long").as("thr_bp"))
    q.join(broadcast(thr), group)
      .filter(col("quality_bp") >= col("thr_bp"))
      .select(col(id), col(group), col("quality_bp"), col("thr_bp"))
  }

  /** q99: keep documents above their language's 10th quality percentile. */
  def q99(s: SparkSession, d: String): DataFrame =
    qualityGate(Tables.documents(s, d), "doc_id", "text", "lang", 0.10)

  /** Deterministic train/val/test SPLIT: the id's knuthHash (exact in
    * any engine) lands each row in one of 10 stable shards; 8 train,
    * 1 val, 1 test. Map-only — no shuffle, no RNG state, re-runs and
    * backfills land every row in the same split forever, and membership
    * can be recomputed from the id alone (no split table to store or
    * join). */
  def splitAssign(df: DataFrame, id: String): DataFrame = {
    val shard = knuthHash(col(id)) % lit(10)
    df.withColumn("split",
      when(shard < 8, lit("train")).when(shard === 8, lit("val"))
        .otherwise(lit("test")))
  }

  /** q100: split the documents table; per-document assignment. */
  def q100(s: SparkSession, d: String): DataFrame =
    splitAssign(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("lang"), col("split"))

  /** Token-budgeted MIXTURE rebalancing: downsample every source to (at
    * most) the smallest source's token total, so no domain dominates
    * the training mixture. Each source gets an integer keep-threshold
    * thr = budget·1000003 div total (1000003 = knuthHash's modulus;
    * thr/1000003 ≈ budget/total, and the smallest source's thr is
    * exactly the modulus — it keeps everything); a document survives if
    * knuthHash(id) < thr, so selection is deterministic, map-side, and
    * consistent across re-runs — the same documents are kept when the
    * budget doesn't change. The hash uses the SECOND Knuth multiplier:
    * weightedSample thresholds the first one's magnitude, and sampling
    * a rebalanced corpus with a shared hash stream would bias the race
    * by source instead of by weight. Plan: ONE scalar-pair aggregation
    * for per-source totals; the budget is a global min window over the
    * aggregated per-source rows (bounded by the source count — never
    * the corpus), so the corpus is scanned exactly twice (totals,
    * probe) and never shuffled. Exact long arithmetic while budget <
    * 2^43 tokens (~8.8 T tokens in the SMALLEST source — comfortably
    * past a 100 TB corpus's per-domain floor). */
  def mixtureSample(df: DataFrame, id: String, text: String,
                    source: String): DataFrame = {
    val toks = df.select(col(id), col(source),
      size(tokens(col(text))).cast("long").as("n_tokens"))
    val thr = toks.groupBy(col(source)).agg(sum(col("n_tokens")).as("total_toks"))
      .withColumn("budget",
        min(col("total_toks")).over(Window.partitionBy(lit(1))))
      .select(col(source),
        F.idiv(col("budget") * lit(1000003L), col("total_toks")).as("keep_thr"))
    toks.join(broadcast(thr), source)
      .filter(knuthHash(col(id), KnuthMult2) < col("keep_thr"))
      .select(col(id), col(source), col("n_tokens"))
  }

  /** q104: rebalance the documents mixture to the smallest source's
    * token budget. */
  def q104(s: SparkSession, d: String): DataFrame =
    mixtureSample(Tables.documents(s, d), "doc_id", "text", "source")

  /** q46: normalize-then-dedup of the documents table. */
  def q46(s: SparkSession, d: String): DataFrame =
    normalizeDedup(Tables.documents(s, d), "doc_id", "text")

  /** q47: 20-docs-per-language deterministic stratified sample. */
  def q47(s: SparkSession, d: String): DataFrame =
    stratifiedSample(Tables.documents(s, d), "lang", "doc_id", 20)
      .select(col("lang"), col("rn"), col("doc_id"), col("source"))

  /** q48: PII scrub accounting per source. */
  def q48(s: SparkSession, d: String): DataFrame =
    scrubStats(Tables.documents(s, d), "source", "text")

  /** q49: repetition scoring per language. */
  def q49(s: SparkSession, d: String): DataFrame =
    repetition(Tables.documents(s, d), "lang", "text")

  /** Per-document token-distribution Shannon entropy — the lexical-
    * diversity quality signal (low entropy = repetitive/boilerplate,
    * near-uniform entropy on a tiny vocabulary = template spam).
    * H = ln n − (Σ c·ln c)/n over per-doc token counts c. Computed in
    * per-term fixed point: each c·ln c rounds to bp once, the long sum
    * is exact, so the score is independent of partial-merge order and
    * engine. Two aggregation shuffles ((doc, token) then doc) — linear,
    * map-side combinable, no joins. */
  def tokenEntropy(df: DataFrame, id: String, text: String): DataFrame =
    withToks(df, text).select(col(id), explode(toks).as("tok"))
      .groupBy(col(id), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_tokens"),
        (bp(log(sum(col("c")).cast("double"))) -
          F.idiv(sum(bp(col("c").cast("double") * log(col("c").cast("double")))),
            sum(col("c")))).as("entropy_bp"))

  /** q110: token-entropy scoring of the documents table. */
  def q110(s: SparkSession, d: String): DataFrame =
    tokenEntropy(Tables.documents(s, d), "doc_id", "text")

  /** q111: Unicode NFC normalization through the native codegen'd
    * NfcNormalize expression. The corpus text is ASCII (already
    * normalized — the fast path), so each doc's text is decorated with
    * a decomposed "e" + U+0301 combining acute, which NFC composes to a
    * single precomposed é: the normalized form is one char shorter and
    * hashes differently, making the normalization observable in the
    * oracle compare. */
  def q111(s: SparkSession, d: String): DataFrame = {
    val deco = concat(substring(col("text"), 1, 24), lit("e\u0301"))
    Tables.documents(s, d).select(col("doc_id"),
      md5(F.nfc(deco)).as("nfc_md5"),
      length(F.nfc(deco)).cast("long").as("nfc_len"),
      length(deco).cast("long").as("raw_len"))
  }

  /** TF-IDF sparse-vector cosine similarity join: document pairs whose
    * tf-idf–weighted cosine ≥ tau — the sparse-lexical cousin of the
    * dense-embedding near-dup (Dedup.embeddingPairs). Weights are
    * quantized once to milli fixed point; dot products and squared
    * norms are then EXACT long sums (merge-order/engine independent),
    * with the single final cos = dot/(√a·√b) in double.
    *
    * Candidates come from a PPJoin-style L2 PREFIX filter, not the raw
    * shared-token inverted index (whose join materializes Σ df² rows —
    * quadratic in posting length; on a boilerplate-heavy corpus that is
    * the whole n² pair space through a shuffle). Under one global token
    * order (rarest first), each doc's PREFIX is the minimal head whose
    * remaining suffix norm is < τ·‖d‖ (checked in exact integer
    * arithmetic with a 63/100 < τ² cushion). If a matching pair shared
    * tokens only outside one side's prefix, every shared token would
    * fall in that side's suffix (suffixes are order-closed upward), and
    * Cauchy–Schwarz caps the dot at ‖suffix‖·‖other‖ < τ‖a‖‖b‖ — so
    * prefix⨝prefix candidates are lossless, and rare-token prefixes
    * keep both posting lists short. Verification never re-explodes
    * vectors: each doc's (hash, weight) pairs ride ONE sorted array and
    * the exact dot is the zero-allocation WeightedDotSorted merge —
    * O(|a|+|b|) per candidate, no Σ df² shuffle anywhere. */
  /** ONE definition of the TF-IDF milli-weight arithmetic, shared by
    * the similarity join (q113) and keyword ranking (q161) so the two
    * can never drift apart. Returns (dfx, w): the per-term document
    * frequencies and the (doc_id, tok, df, wm) weight table with wm ≠ 0
    * rows dropped (idf ln(1) = 0 contributes nothing). The (doc, tok,
    * tf) probe is cached — it feeds both dfx and the weight join; the
    * cache lives with the returned plan (the q88 convenience pattern).
    * CALLER-CLEARS contract: a long-lived session issuing many
    * invocations should `spark.catalog.clearCache()` between them —
    * the blocks are otherwise reclaimed only by driver GC through the
    * ContextCleaner. The same applies to the
    * localCheckpoint blocks in bm25TopK/bigramSurprisal, which are
    * deliberately bounded to TYPE-table size, never the corpus. */
  private[ops] def tfidfWeights(df: DataFrame, id: String,
                                text: String): (DataFrame, DataFrame) = {
    val tf = withToks(df, text).select(col(id).as("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .cache()
    val dfx = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(dfx, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("df"),
        fixed(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df")), 1000L).as("wm"))
      .filter(col("wm") =!= 0L)
    (dfx, w)
  }

  def tfidfCosinePairs(df: DataFrame, id: String, text: String,
                       tau: Double, denseVocabMax: Int = 256,
                       denseDocsMax: Long = 1L << 16,
                       candFactor: Long = 32L): DataFrame = {
    // τ > 0 is what lets the component split below drop cross-shard
    // pairs (their dot is exactly 0); τ = 0 would mean "emit every
    // pair", which no candidate scheme should be asked to do
    require(tau > 0, s"tau must be positive, got $tau")
    val (dfx, w) = tfidfWeights(df, id, text)
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(col("wm") * col("wm")).as("m2"))
    // Prefix membership: global order (df asc, tok asc); a row stays in
    // the prefix while the suffix FROM it onward still carries ≥ τ² of
    // the norm. The integer cushion is DERIVED from tau —
    // floor(τ²·10⁴) − 1 is strictly below τ²·10⁴, so the Cauchy–Schwarz
    // suffix bound stays lossless for every tau (a fixed 63/100 was
    // only sound for τ ≥ √0.63 ≈ 0.794 and silently lost pairs below).
    val cushion = math.max(math.floor(tau * tau * 10000d).toLong - 1L, 0L)
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("tok").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // One sorted (hash, weight) array per doc; exact dot per candidate
    // via the native merge — no token re-explode, no pair aggregation.
    // Terms are keyed by xxhash64: a within-doc hash collision would
    // leave duplicate h entries and make the sorted merge pairing
    // ill-defined, so colliding weights MERGE (sum) first — under
    // collisions the semantics are the standard feature-hashing
    // approximation (two colliding tokens alias), with probability
    // ~vocab²/2⁶⁵ per corpus; on any non-adversarial vocabulary the
    // dot is the exact token dot.
    val vecs = w
      .groupBy(col("doc_id"), xxhash64(col("tok")).as("h"))
      .agg(sum(col("wm")).as("hw_w"))
      .select(col("doc_id"), struct(col("h"), col("hw_w").as("w")).as("hw"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("hw"))).as("vec"))
      .join(norms, "doc_id")
    val cos = col("dot") / (sqrt(col("m2_a")) * sqrt(col("m2_b")))
    def verified(candidates: DataFrame): DataFrame = candidates
      .join(vecs.select(col("doc_id").as("doc_a"), col("vec").as("vec_a"),
        col("m2").as("m2_a")), "doc_a")
      .join(vecs.select(col("doc_id").as("doc_b"), col("vec").as("vec_b"),
        col("m2").as("m2_b")), "doc_b")
      .withColumn("dot", F.weightedDot(col("vec_a"), col("vec_b")))
      .filter(cos >= tau)
      .select(col("doc_a"), col("doc_b"), bp(cos).as("cos_bp"))
    // DEGENERATE-VOCAB fallback: on a tiny vocabulary (boilerplate/
    // template corpora) nearly every pair is a true candidate — the
    // prefix self-join then materializes Σ postings² pair rows (up to
    // ~30× the n²/2 pair space here) and funnels them through a
    // distinct, all to "save" verifications that were coming anyway.
    // A dense blocked all-pairs kernel does ONE exact sorted-merge dot
    // per unordered pair, no candidate shuffle, no distinct. The
    // quadratic similar mass is inherent to such corpora (the output
    // itself is near-quadratic); vectors are vocab-bounded and tiny, so
    // the pair side broadcasts — block-partition the cross join instead
    // when one side outgrows broadcast. The probes are two bounded
    // driver scalars (the q63 pattern). General corpora
    // (vocab > denseVocabMax) take the lossless L2 prefix filter below,
    // byte-identical output either way.
    //
    // BOTH dimensions gate the dense path: a tiny vocabulary says
    // nothing about document count — a templated corpus can pair a
    // 50-token vocab with 10⁸ documents, and broadcasting its vector
    // table would OOM the driver. Past `denseDocsMax` (64k docs ×
    // ≤ denseVocabMax tiny vectors ≈ low hundreds of MB, the broadcast
    // budget) the prefix path takes over — lossless either way. The
    // doc probe counts the norms table (docs that HAVE a vector — the
    // set the broadcast would carry), which reads the tf cache the
    // vocab probe just materialized — no second scan of the source.
    val vocabSize = dfx.count()
    if (vocabSize <= denseVocabMax && norms.count() <= denseDocsMax) {
      // Vectors ride the join directly (the pair stream is consumed
      // map-side against the broadcast) — routing id-pairs through
      // verified() would re-shuffle the whole pair space twice. vecs is
      // cached so the self-join's two sides share ONE materialization
      // instead of each re-deriving weights/norms from tf.
      val vc = vecs.cache()
      vc.select(col("doc_id").as("doc_a"), col("vec").as("vec_a"),
          col("m2").as("m2_a"))
        .join(broadcast(vc.select(col("doc_id").as("doc_b"),
          col("vec").as("vec_b"), col("m2").as("m2_b"))),
          col("doc_a") < col("doc_b"))
        .withColumn("dot", F.weightedDot(col("vec_a"), col("vec_b")))
        .filter(cos >= tau)
        .select(col("doc_a"), col("doc_b"), bp(cos).as("cos_bp"))
    } else {
      val prefix = w.join(norms, "doc_id")
        .withColumn("before", coalesce(sum(col("wm") * col("wm")).over(byDoc), lit(0L)))
        // decimal(38,0): m2·10⁴ wraps Long once m2 > ~9.2e14 (a large
        // doc's milli-fixed-point norm) and a wrapped comparison would
        // silently DROP qualifying prefix tokens — exactness of the
        // candidate set depends on this compare never overflowing
        .filter((col("m2") - col("before")).cast("decimal(38,0)") * lit(10000L) >=
          lit(cushion).cast("decimal(38,0)") * col("m2"))
        .select(col("doc_id"), col("tok"))
      def prefixPairs(p: DataFrame): DataFrame = verified(
        p.as("a").join(p.as("b"),
            col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct())
      // CANDIDATE-PRESSURE probe: Σ (prefix postings)² bounds the
      // candidate join's shuffle. The global-vocab gate above misses a
      // corpus that is a UNION of small-vocab shards (per-language
      // slices of a multilingual crawl, per-site template families):
      // global vocab looks healthy, yet within every shard nearly all
      // pairs are candidates and the prefix join shuffles Σ n_c²
      // rows — the sf1 one-decade run measured 2519x shuffle records
      // at 10x data exactly this way. When the bound dwarfs the weight
      // table, shard the corpus by token CO-OCCURRENCE component (two
      // docs can only score > 0 if they share a token, i.e. inside one
      // component) and run the exact dense kernel inside each
      // small-vocab component — tiled self-join, no broadcast, cost
      // Σ n_c²/2 dots with ~B·n vec-row shuffle instead of Σ n_c²
      // candidate rows + distinct + re-join. Components with real
      // (large) vocabularies keep the lossless prefix filter.
      val candUpper = prefix.groupBy(col("tok"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("pc"))
        .agg(sum(col("pc") * col("pc")).as("cu")).head().getDecimal(0)
      val wCount = w.count()
      if (candUpper == null ||
          candUpper.compareTo(new java.math.BigDecimal(candFactor * wCount)) <= 0) {
        prefixPairs(prefix)
      } else {
        // token co-occurrence components: star edges token↔doc-min-token
        // (node = xxhash64(tok); a collision can only MERGE components —
        // never splits one — so the partition stays correct, just
        // occasionally coarser)
        val th = w.select(col("doc_id"), xxhash64(col("tok")).as("h"))
        val mins = th.groupBy("doc_id").agg(min(col("h")).as("hmin"))
        val comp = Dedup.clusters(th.join(mins, "doc_id")
          .filter(col("h") =!= col("hmin"))
          .select(col("hmin").as("doc_a"), col("h").as("doc_b")).distinct())
          .select(col("doc_id").as("h"), col("cluster_id"))
        val tokComp = th.select(col("h")).distinct()
          .join(comp, Seq("h"), "left")
          .select(col("h"), coalesce(col("cluster_id"), col("h")).as("comp"))
        val compVocab = tokComp.groupBy("comp").agg(count(lit(1)).as("vc"))
        val docComp = mins
          .join(tokComp.select(col("h").as("hmin"), col("comp")), "hmin")
          .join(compVocab, "comp")
          .select(col("doc_id"), col("comp"), col("vc"))
        val B = 16
        val dv = vecs
          .join(docComp.filter(col("vc") <= denseVocabMax)
            .select(col("doc_id"), col("comp")), "doc_id")
          .withColumn("t", pmod(xxhash64(col("doc_id")), lit(B)).cast("int"))
        val left = dv
          .withColumn("tb", explode(sequence(col("t"), lit(B - 1))))
          .select(col("comp"), col("t").as("ta"), col("tb"),
            col("doc_id").as("doc_a"), col("vec").as("vec_a"), col("m2").as("m2_a"))
        val right = dv
          .withColumn("ta", explode(sequence(lit(0), col("t"))))
          .select(col("comp"), col("ta"), col("t").as("tb"),
            col("doc_id").as("doc_b"), col("vec").as("vec_b"), col("m2").as("m2_b"))
        // a cross-tile bucket (ta < tb) holds each unordered pair
        // exactly once (in whichever id order the tiles dictate); only
        // the diagonal bucket sees both orders and needs the < dedup —
        // a blanket doc_a < doc_b here would DROP cross-tile pairs
        // whose left doc happens to carry the larger id
        val densePairs = left.join(right, Seq("comp", "ta", "tb"))
          .filter(col("ta") =!= col("tb") || col("doc_a") < col("doc_b"))
          .withColumn("dot", F.weightedDot(col("vec_a"), col("vec_b")))
          .filter(cos >= tau)
          .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"),
            bp(cos).as("cos_bp"))
        // pairs never cross components (shared-token requirement), so
        // restricting the prefix join to big-vocab components loses
        // nothing and the union is exact
        val sparseDocs = docComp.filter(col("vc") > denseVocabMax)
          .select(col("doc_id"))
        densePairs.unionByName(prefixPairs(prefix.join(sparseDocs, "doc_id")))
      }
    }
  }

  /** q113: tf-idf cosine near-dup pairs at τ = 0.8. */
  def q113(s: SparkSession, d: String): DataFrame =
    tfidfCosinePairs(Tables.documents(s, d), "doc_id", "text", 0.8)

  /** Corpus drift between two sides of a split (new crawl vs existing
    * corpus, shard vs shard): per group, add-1-smoothed KL(P‖Q) and
    * cross-entropy H(P,Q) of the unigram distributions over the union
    * vocabulary. The monitoring signal that catches a source going
    * boilerplate or a scrape changing language mix before it trains.
    *
    * Plan: one tokenize pass; BOTH sides' counts come from the same
    * (group, token) aggregation via conditional sums — the corpus is
    * scanned once and never self-joined. Totals/vocab reduce the small
    * count table and broadcast back. Per-token terms round to
    * fixed-point NANO longs before the exact long sum, so the result
    * is independent of partial-merge order (a double sum's tail digits
    * flip across partition counts/engines — same discipline as
    * unigramSurprisal/tokenEntropy). */
  def corpusDrift(df: DataFrame, group: String, text: String,
                  sideA: Column): DataFrame = {
    val toksed = withToks(df, text)
      .select(col(group), sideA.as("is_a"), explode(toks).as("tok"))
    val c = toksed.groupBy(col(group), col("tok"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
           sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val n = c.groupBy(col(group))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
           count(lit(1)).as("vocab"))
    // Smoothed probabilities; expression structure mirrors the oracle
    // EXACTLY (left-to-right multiply, one division per prob) so the
    // doubles are bit-identical before the nano floor.
    val p = (col("ca") + lit(1.0)) / (col("na") + col("vocab"))
    val q = (col("cb") + lit(1.0)) / (col("nb") + col("vocab"))
    c.join(broadcast(n), group)
      .groupBy(col(group))
      .agg(max(col("vocab")).as("vocab"),
           sum(fixed(p * log(p / q), 1000000000L)).as("kl_nano"),
           sum(fixed(-p * log(q), 1000000000L)).as("ce_nano"))
  }

  /** q119: per-language unigram drift between the src0–src4 half of the
    * documents corpus and the rest. */
  def q119(s: SparkSession, d: String): DataFrame =
    corpusDrift(Tables.documents(s, d), "lang", "text",
      col("source").isin("src0", "src1", "src2", "src3", "src4"))

  /** PMI collocations: the top-k bigrams per group by pointwise mutual
    * information ln(p(xy) / (p(x)·p(y))) — the multi-word-expression
    * detector ("new york", "machine learning") behind tokenizer vocab
    * curation. `minCount` floors the pair count so rare-pair noise
    * (PMI's classic failure mode) never ranks.
    *
    * Plan: unigram and bigram counts are two aggregations (shuffles
    * carry (group, term) count pairs, not the corpus); the per-group
    * totals are tiny broadcasts back onto the bigram table; unigram
    * probabilities attach by (group, token) hash joins. Ranking runs
    * over the minCount survivors only, on the QUANTIZED milli value
    * with a lexicographic tie-break — engine-stable order. */
  def pmiCollocations(df: DataFrame, group: String, text: String,
                      minCount: Long, k: Int): DataFrame = {
    val t = withToks(df, text)
    val uc = t.select(col(group), explode(toks).as("tok"))
      .groupBy(col(group), col("tok")).agg(count(lit(1)).as("c"))
    val un = uc.groupBy(col(group)).agg(sum(col("c")).as("n1"))
    val bigrams = expr(
      "transform(slice(toks, 1, size(toks) - 1), " +
      "(x, i) -> concat(x, ' ', element_at(toks, i + 2)))")
    val bc = t.select(col(group), explode(bigrams).as("bigram"))
      .groupBy(col(group), col("bigram")).agg(count(lit(1)).as("cxy"))
    val bn = bc.groupBy(col(group)).agg(sum(col("cxy")).as("n2"))
    val j = bc.filter(col("cxy") >= minCount)
      .withColumn("ta", split(col("bigram"), " ").getItem(0))
      .withColumn("tb", split(col("bigram"), " ").getItem(1))
      .join(uc.select(col(group), col("tok").as("ta"), col("c").as("ca")),
        Seq(group, "ta"))
      .join(uc.select(col(group), col("tok").as("tb"), col("c").as("cb")),
        Seq(group, "tb"))
      .join(broadcast(un), group).join(broadcast(bn), group)
    // Mirrors the oracle left-to-right: one division per probability.
    val pxy = col("cxy") / col("n2").cast("double")
    val pa  = col("ca") / col("n1").cast("double")
    val pb  = col("cb") / col("n1").cast("double")
    val w = Window.partitionBy(col(group))
      .orderBy(col("pmi_milli").desc, col("bigram").asc)
    j.withColumn("pmi_milli", fixed(log(pxy / (pa * pb)), 1000L))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(group), col("rank"), col("bigram"),
        col("cxy").as("n_pair"), col("pmi_milli"))
  }

  /** q122: top-10 PMI collocations per language (pair count ≥ 5). */
  def q122(s: SparkSession, d: String): DataFrame =
    pmiCollocations(Tables.documents(s, d), "lang", "text", 5L, 10)

  /** Count–Min sketched token frequencies next to exact counts: builds
    * the fixed-size sketch in ONE aggregation (no per-key state — the
    * summary is width·depth longs whatever the vocabulary), broadcasts
    * the single sketch row, and reports estimate-vs-exact for the exact
    * top-k tokens. The validation face of the sketch; production use is
    * the sketch ALONE when exact per-key counts can't fit — estimates
    * never undercount, overcount ≤ colliding mass (spec-pinned on a
    * forced-collision stress). */
  def cmsTokenCounts(df: DataFrame, text: String, width: Int, depth: Int,
                     k: Int): DataFrame = {
    // ONE tokenize pass: the grouped (tok, cnt) table feeds BOTH the
    // sketch (via the weighted update — byte-identical to streaming
    // every instance) and the exact top-k; the shared grouping exchange
    // is reused, so the corpus is scanned and exploded once instead of
    // twice.
    val counts = withToks(df, text).select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val sketch = counts
      .agg(F.cmsAggW(xxhash64(col("tok")), col("cnt"), width, depth).as("cms"))
    counts
      .orderBy(col("cnt").desc, col("tok").asc).limit(k)
      .crossJoin(broadcast(sketch))
      .select(col("tok"), col("cnt"),
        F.cmsEstimate(col("cms"), xxhash64(col("tok")), width, depth).as("est_cnt"))
  }

  /** q126: sketched vs exact counts for the top-20 tokens. */
  def q126(s: SparkSession, d: String): DataFrame =
    cmsTokenCounts(Tables.documents(s, d), "text", 4096, 4, 20)

  /** BM25 keyword retrieval (Robertson/Sparck Jones, the lexical-search
    * baseline every RAG pipeline starts from): rank documents for a
    * query term set with k1 = 1.2, b = 0.75.
    *
    * Plan: ONE tokenize pass reduces the corpus to a per-doc row of
    * (doc, length, per-query-term tf) — the tf counts come from
    * higher-order array filters, no explode — materialized once
    * (localCheckpoint) since three consumers read it: the corpus
    * stats aggregate (broadcast back), the per-term document
    * frequencies (tiny, broadcast), and the scoring unpivot. Each
    * term's score rounds to fixed-point bp BEFORE the per-doc long sum
    * (merge-order/engine independent — the q110 discipline), and the
    * top-k cut is TakeOrderedAndProject, never a global sort. */
  def bm25TopK(df: DataFrame, id: String, text: String,
               terms: Seq[String], k: Int): DataFrame = {
    // duplicate query terms would double-count df and score — collapse
    val qTerms = terms.distinct
    val tfCols = qTerms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).cast("long").as(s"tf$i") }
    // one corpus scan; the reduced table is O(docs · |terms|) narrow
    // rows, cheap to materialize for its three readers
    val counted = withToks(df, text)
      .select(col(id) +: size(toks).cast("double").as("dl") +: tfCols: _*)
      .localCheckpoint()
    val stats = counted.agg(count(lit(1)).cast("double").as("n_docs"),
      sum(col("dl")).as("total_len"))
    // terms ride as lit() struct fields, never interpolated into SQL
    // text (a quote in a query term must stay data, not syntax)
    val pairs = array(qTerms.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("tok"), col(s"tf$i").as("tf")) }: _*)
    val tf = counted.select(col(id), col("dl"), explode(pairs).as("p"))
      .select(col(id), col("dl"), col("p.tok").as("tok"), col("p.tf").as("tf"))
      .where(col("tf") > 0)
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    // Expression structure mirrors the oracle left-to-right so the
    // doubles are bit-identical before the bp floor.
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val avgdl = col("total_len") / col("n_docs")
    val termScore = idf * ((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl") / avgdl))))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .select(col(id), bp(termScore).as("term_bp"))
      .groupBy(col(id))
      .agg(sum(col("term_bp")).as("score_bp"),
           count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_bp").desc, col(id).asc)
      .limit(k)
  }

  /** PERSISTED BM25 inverted index — the text-retrieval twin of the
    * q144/q145 ANN indexes: build once per corpus version, then answer
    * every query from STORAGE with no corpus rescan. Layout under
    * `path`:
    *
    *   postings/bkt=<h>/   (tok, doc_id, tf)  — the inverted lists,
    *     directory-partitioned by bkt = pmod(xxhash64(tok), 64) so a
    *     query's terms prune the scan to their buckets (the q144
    *     cell-partitioning idea applied to vocabulary); df rides the
    *     same layout in dfreq/bkt=<h>/
    *   docstats/           (doc_id, dl)       — document lengths
    *   stats/              (n_docs, total_len) — one row, written LAST:
    *     its _SUCCESS is the build-complete marker (a crash mid-build
    *     leaves no marker and the next run rebuilds)
    *
    * At 100 TB the postings table is the corpus's (doc, distinct-token)
    * mass — corpus-linear, built with ONE tokenize + groupBy pass —
    * and a query touches |terms| buckets of it. Scoring reconstructs
    * bm25TopK's EXACT expression tree over the stored (tf, df, dl,
    * n_docs, total_len), so the result is row-identical to the
    * scan-time q146 (integer-valued doubles sum exactly; the bp floor
    * lands on the same doubles) — which is what lets the index query
    * share q146's DuckDB oracle. */
  def writeBm25Index(df: DataFrame, id: String, text: String,
                     path: String, buckets: Int = 64): Unit = {
    val tokd = withToks(df, text)
      .select(col(id).as("doc_id"), toks.as("tks"))
      .localCheckpoint()
    tokd.select(col("doc_id"), size(col("tks")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$path/docstats")
    val postings = tokd
      .select(col("doc_id"), explode(col("tks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bkt", pmod(xxhash64(col("tok")), lit(buckets)).cast("int"))
    postings.write.mode("overwrite").partitionBy("bkt")
      .parquet(s"$path/postings")
    postings.groupBy(col("bkt"), col("tok"))
      .agg(count(lit(1)).as("df"))
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$path/dfreq")
    tokd.agg(count(lit(1)).as("n_docs"),
        sum(size(col("tks")).cast("long")).as("total_len"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Top-k BM25 from the persisted index: reads only the query terms'
    * buckets (partition pruning on bkt), joins doc lengths, and sums
    * the per-term scores — no tokenization, no corpus scan. */
  def bm25FromIndex(s: SparkSession, path: String, terms: Seq[String],
                    k: Int, buckets: Int = 64): DataFrame = {
    val qTerms = terms.distinct
    // the terms' bucket ids via the SAME xxhash64 expression the build
    // used — a bounded |terms|-row collect (the q63 probe pattern)
    val bkts = {
      import s.implicits._
      qTerms.toDF("tok")
        .select(pmod(xxhash64(col("tok")), lit(buckets)).cast("int"))
        .collect().map(_.getInt(0)).toSeq.distinct
    }
    val inTerms = col("tok").isin(qTerms.map(x => x: Any): _*)
    val inBkts = col("bkt").isin(bkts.map(x => x: Any): _*)
    val tf = s.read.parquet(s"$path/postings")
      .filter(inBkts && inTerms)
      .join(s.read.parquet(s"$path/docstats"), "doc_id")
      .select(col("doc_id"), col("dl").cast("double").as("dl"),
        col("tok"), col("tf"))
    val dfreq = s.read.parquet(s"$path/dfreq").filter(inBkts && inTerms)
      .select(col("tok"), col("df").cast("double").as("df"))
    val stats = s.read.parquet(s"$path/stats")
      .select(col("n_docs").cast("double").as("n_docs"),
        col("total_len").cast("double").as("total_len"))
    // bm25TopK's expression tree verbatim — bit-identical doubles
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val avgdl = col("total_len") / col("n_docs")
    val termScore = idf * ((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl") / avgdl))))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bp(termScore).as("term_bp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_bp")).as("score_bp"),
           count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_bp").desc, col("doc_id").asc)
      .limit(k)
  }

  /** ERASURE from the persisted BM25 index (round 15; VERDICT r14
    * item 1): copy-on-write version flip through
    * VersionedStore.publishDir — the q366/deleteFromNswStore CAS
    * convention. The deleted documents' rows drop from docstats and
    * the bkt-partitioned postings, and the DERIVED tables are
    * recomputed from the survivors (dfreq re-counted per (bkt, tok),
    * stats re-aggregated from the filtered docstats) — so the
    * post-delete index is BIT-IDENTICAL to writeBm25Index over the
    * surviving corpus: scores shift exactly as the corpus statistics
    * demand (df, n_docs, avgdl all move), which is what makes BM25
    * erasure more than row removal. Idempotent at the version level
    * (an absent delete set publishes nothing); the old version stays
    * readable for racing probes until vacuum. Returns the resolved
    * dir AFTER the delete.
    *
    * Scale (100 TB): one anti-join over docstats, one over postings
    * (both partition-parallel), one regroup at the (bkt, tok) grain
    * — a single filtered-rewrite pass, no retokenization and no
    * corpus re-read; the erased docs' text is never touched. */
  def deleteFromBm25Index(s: SparkSession, root: String, ids: DataFrame,
                          idCol: String): String = {
    val cur = graft.sources.VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"deleteFromBm25Index: no published build under $root"))
    val del = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
      .localCheckpoint() // anti-joined twice + the presence probe
    val present = s.read.parquet(s"$cur/docstats")
      .join(del, Seq("doc_id"), "left_semi")
    if (present.isEmpty) return cur // nothing to erase: no version churn
    graft.sources.VersionedStore.publishDir(s, root) { staging =>
      s.read.parquet(s"$cur/docstats")
        .join(del, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$staging/docstats")
      val po = s.read.parquet(s"$cur/postings")
        .join(del, Seq("doc_id"), "left_anti")
        .localCheckpoint() // feeds the postings write AND the df recount
      po.write.mode("overwrite").partitionBy("bkt")
        .parquet(s"$staging/postings")
      po.groupBy(col("bkt"), col("tok")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").partitionBy("bkt").parquet(s"$staging/dfreq")
      s.read.parquet(s"$staging/docstats")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("total_len"))
        .write.mode("overwrite").parquet(s"$staging/stats")
    }
    graft.sources.VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"deleteFromBm25Index: $root unresolvable after publish"))
  }

  /** q374: q146's retrieval AFTER ERASURE (round 15; VERDICT r14 item
    * 1) — the index is built from the FULL corpus, every even doc_id
    * is GDPR-erased through [[deleteFromBm25Index]], and the standing
    * query runs against the erased index. The oracle scores a fresh
    * corpus over the odd documents only — byte-equality proves the
    * delete updated every derived statistic (df, n_docs, avgdl)
    * exactly as a survivor rebuild would, and that no erased document
    * can be retrieved. */
  def q374(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = Scratch.dir(s, d, "bm25del")
    graft.sources.VersionedStore.resolveOrBuild(s, root)(
      p => writeBm25Index(docs, "doc_id", "text", p))
    val dir = deleteFromBm25Index(s, root,
      docs.filter(col("doc_id") % 2 === 0), "doc_id")
    bm25FromIndex(s, dir, Seq("query", "join", "data"), 20)
  }

  /** q182: q146's query answered from the PERSISTED index — build once
    * (skipped when this app already wrote it), then load + score.
    * Row-identical to q146 (shared oracle + spec). */
  def q182(s: SparkSession, d: String): DataFrame = {
    // round 10: build-once gate via the VersionedStore manifest CAS
    // (stats/_SUCCESS was the old last-step marker; the manifest is
    // equivalent-but-concurrent-safe — it lands only after the whole
    // index build returns, and racing builders cannot tear the store)
    val dir = graft.sources.VersionedStore.resolveOrBuild(
      s, Scratch.dir(s, d, "bm25idx"))(
      p => writeBm25Index(Tables.documents(s, d), "doc_id", "text", p))
    bm25FromIndex(s, dir, Seq("query", "join", "data"), 20)
  }

  /** q146: top-20 documents for the query {query, join, data}. */
  def q146(s: SparkSession, d: String): DataFrame =
    bm25TopK(Tables.documents(s, d), "doc_id", "text",
      Seq("query", "join", "data"), 20)

  /** BPE vocabulary induction (tokenizer training) as a distributed
    * operator: learn `nMerges` byte-pair merges from the corpus and
    * return the merge table (rank, left, right, merged, pair_count) —
    * the artifact a tokenizer trainer materializes.
    *
    * Scale design: BPE trains on the WORD-COUNT table, not the corpus —
    * one tokenize+count shuffle reduces any corpus (100 TB included) to
    * its vocabulary weighted by frequency, and every merge iteration
    * runs over that vocab-sized table: adjacent-pair counts (weighted
    * by word count, one aggregation), argmax pair (one tiny
    * TakeOrdered), then the native MergeAdjacent rewrite — a map-only
    * codegen pass. The driver holds one (pair, count) scalar per round
    * (the same bounded-driver-state shape as Dedup.clusters), and
    * localCheckpoint truncates the per-iteration lineage. Ties break
    * lexicographically so the learned vocab is engine/partition-count
    * independent. */
  /** Vocabulary size under which the merge loop folds on the DRIVER:
    * the weighted word-count table at this size is a bounded-model
    * read (≲ MBs — the EWMA/calendar-table discipline), and 30
    * sequential rounds of in-memory pair counting beat 30 Spark jobs
    * of pure scheduler overhead by ~10x wall. Above it, the
    * distributed loop runs — a web-scale corpus can carry a
    * billion-type vocabulary and the reduction must stay on
    * executors. */
  val BpeDriverVocabMax = 200000L

  def bpeMerges(df: DataFrame, text: String, nMerges: Int,
                driverVocabMax: Long = BpeDriverVocabMax): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var words = withToks(df, text)
      .select(explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(split(col("word"), "").as("syms"), col("wc"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    if (words.count() <= driverVocabMax) {
      // driver fold: byte-identical to the distributed loop below —
      // same weighted pair counts, same (count DESC, a ASC, b ASC)
      // argmax with UTF8String (binary) ordering exactly as Spark's
      // string sort, same left-to-right non-overlapping rewrite as the
      // native MergeAdjacent. The golden pin and the DuckDB oracle
      // verify the equivalence every round.
      import org.apache.spark.unsafe.types.UTF8String
      var vocab = words.collect().map(r =>
        (r.getSeq[String](0).toArray, r.getLong(1)))
      var rank = 1
      var continue = true
      while (rank <= nMerges && continue) {
        val pairs = collection.mutable.HashMap.empty[(String, String), Long]
        vocab.foreach { case (syms, wc) =>
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            pairs.update(k, pairs.getOrElse(k, 0L) + wc)
            i += 1
          }
        }
        if (pairs.isEmpty) continue = false
        else {
          // argmax with (count DESC, a ASC, b ASC) under UTF8String
          // (binary) comparison — Spark's own string sort order, NOT
          // Java's UTF-16 compareTo (they differ past the BMP)
          def less(x: ((String, String), Long), y: ((String, String), Long)): Boolean = {
            if (x._2 != y._2) x._2 > y._2
            else {
              val ca = UTF8String.fromString(x._1._1)
                .compareTo(UTF8String.fromString(y._1._1))
              if (ca != 0) ca < 0
              else UTF8String.fromString(x._1._2)
                .compareTo(UTF8String.fromString(y._1._2)) < 0
            }
          }
          val ((a, b), n) = pairs.foldLeft(pairs.head) {
            (best, e) => if (less(e, best)) e else best
          }
          merges += ((rank, a, b, a + b, n))
          vocab = vocab.map { case (syms, wc) =>
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), wc)
          }
          rank += 1
        }
      }
    } else {
      var rank = 1
      var continue = true
      while (rank <= nMerges && continue) {
        val top = words
          .select(col("wc"), col("syms"),
            posexplode(slice(col("syms"), lit(1), size(col("syms")) - 1)))
          .withColumn("b", element_at(col("syms"), col("pos") + 2))
          .groupBy(col("col").as("a"), col("b"))
          .agg(sum(col("wc")).as("n"))
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        if (top.isEmpty) continue = false
        else {
          val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((rank, a, b, a + b, n))
          words = words
            .select(F.mergeAdjacent(col("syms"), a, b).as("syms"), col("wc"))
            .localCheckpoint()
          rank += 1
        }
      }
    }
    merges.result().toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Merge count / top-k for the q141/q142 tokenizer pair — shared with
    * BpeOracleSql so the Spark side and the unrolled DuckDB oracle
    * cannot drift. */
  val BpeMergeCount = 30
  val BpeTopK       = 30

  /** q141: the first 30 BPE merges learned from the documents corpus. */
  def q141(s: SparkSession, d: String): DataFrame =
    bpeMerges(Tables.documents(s, d), "text", BpeMergeCount)

  /** BPE APPLY: tokenize a corpus with a learned merge table and report
    * the resulting token distribution — train (bpeMerges) and apply
    * together are the full tokenizer loop. The merge table is a tiny
    * driver-side model (one row per merge, the PQ-codebook fetch
    * pattern); encoding is a map-only pass — the native BpeEncode
    * expression runs the lowest-rank-first loop per word inside
    * whole-stage codegen, and the only shuffle is the final token-count
    * aggregation. */
  def bpeTokenize(df: DataFrame, text: String,
                  merges: Seq[(String, String)], topK: Int): DataFrame =
    withToks(df, text)
      .select(explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .select(explode(F.bpeEncode(col("word"), merges)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topK)

  /** q142: token distribution under the 30-merge vocab learned by q141 —
    * applied through a PERSISTED merge table (the q144 standing-artifact
    * pattern): a real pipeline trains its tokenizer once and ships the
    * merge table to every apply job, so the apply path here loads the
    * stored artifact (training it only if absent) instead of re-running
    * the 30-iteration trainer per invocation. Training is deterministic
    * (lexicographic tie-breaks), so the output is identical either
    * way — golden-pinned AND hash-verified against BpeOracleSql's
    * recursive DuckDB encode since round 10. */
  def q142(s: SparkSession, d: String): DataFrame =
    bpeTokenize(Tables.documents(s, d), "text", loadedMerges(s, d), BpeTopK)

  /** WORDPIECE APPLY (round 13) — the third segmentation rule of the
    * tokenizer family over the SAME learned inventory: BPE applies
    * merges lowest-rank-first (q142), the unigram LM segments by
    * Viterbi likelihood (q320), WordPiece takes the LONGEST matching
    * piece at each position (greedy left-to-right — the BERT-family
    * convention). Comparing the three distributions on one vocabulary
    * isolates the SEGMENTATION-RULE axis of tokenizer choice from the
    * vocabulary axis. Same shape as bpeTokenize: the vocab is a tiny
    * driver model, the native WordPieceEncode expression runs per
    * DISTINCT-word work inside whole-stage codegen, one token-count
    * shuffle. */
  def wordPieceTokenize(df: DataFrame, text: String, vocab: Seq[String],
                        topK: Int): DataFrame =
    withToks(df, text)
      .select(explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .select(explode(F.wordPieceEncode(col("word"), vocab)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topK)

  /** q351: token distribution under GREEDY LONGEST-MATCH segmentation
    * with the q141-learned merge products as the piece inventory —
    * the persisted-artifact discipline of q142 (train once, ship the
    * table). */
  def q351(s: SparkSession, d: String): DataFrame =
    wordPieceTokenize(Tables.documents(s, d), "text",
      loadedMerges(s, d).map { case (a, b) => a + b }, BpeTopK)

  /** TOKENIZER FERTILITY by language — THE cross-language tokenizer
    * quality metric: average BPE tokens per word (fertility; 1.0 is
    * ideal, high values mean the vocab under-serves that language) and
    * characters per token (compression), under a learned merge table.
    * A multilingual pipeline runs this per tokenizer candidate before
    * committing one; q142's persisted merge table is the shared
    * artifact (train once, audit everywhere).
    *
    * Scale: one tokenize+count shuffle reduces the corpus to its
    * (lang, word) vocabulary; BpeEncode runs per DISTINCT word
    * occurrence-weighted (codegen, map-side); one tiny per-lang
    * aggregation. Exact integer basis points. */
  def tokenizerFertility(df: DataFrame, lang: String, text: String,
                         merges: Seq[(String, String)]): DataFrame =
    withToks(df, text)
      .select(col(lang), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(lang), col("word")).agg(count(lit(1)).as("wc"))
      .select(col(lang), col("wc"),
        size(F.bpeEncode(col("word"), merges)).cast("long").as("n_tok"),
        length(col("word")).cast("long").as("n_char"))
      .groupBy(col(lang))
      .agg(sum(col("wc")).as("n_words"),
        sum(col("wc") * col("n_tok")).as("n_tokens"),
        F.idiv(lit(10000L) * sum(col("wc") * col("n_tok")),
          sum(col("wc"))).as("fertility_bp"),
        F.idiv(lit(10000L) * sum(col("wc") * col("n_char")),
          sum(col("wc") * col("n_tok"))).as("chars_per_token_bp"))

  /** The persisted q141 merge table (the q142 standing artifact),
    * loaded — or trained once if absent. Shared by q142/q229/q235. */
  private def loadedMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    val path = Scratch.dir(s, d, "bpe")
    val done = new org.apache.hadoop.fs.Path(s"$path/merges/_SUCCESS")
    if (!done.getFileSystem(s.sparkContext.hadoopConfiguration).exists(done))
      q141(s, d).write.mode("overwrite").parquet(s"$path/merges")
    s.read.parquet(s"$path/merges").orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** q229: fertility of the q141-learned tokenizer per corpus language,
    * through the SAME persisted merge table q142 applies (the standing
    * artifact loaded, or trained once if absent). */
  def q229(s: SparkSession, d: String): DataFrame =
    tokenizerFertility(Tables.documents(s, d), "lang", "text",
      loadedMerges(s, d))

  // ---- Unigram-LM tokenizer (round 12; VERDICT r11 item 6 — the
  // SentencePiece family next to q141's BPE). Training is VITERBI EM
  // (hard EM — the deterministic, engine-replayable instantiation of
  // unigram-LM training: expected piece counts are replaced by counts
  // along each word's single best segmentation, the standard "Viterbi
  // training" approximation): seed the vocabulary with the corpus'
  // most frequent substrings, then fixed EM rounds of
  // (Viterbi-segment every word type → piece counts → re-cost) with a
  // fixed prune-to-target schedule after every E-step — the
  // q141/Lloyd fixed-unroll convention, so the DuckDB oracle replays
  // seed, every DP cell, every count, and every prune verbatim. ----

  val UniMaxPieceLen = 4
  val UniSeedSize    = 64
  val UniVocabTarget = 48
  val UniEmIters     = 2
  val UniUnkCost     = 1L << 30
  val UniTopK        = 30
  /** Oracle DP-unroll horizon: the fixed position count the SQL replay
    * covers. The corpus contract (q43: pure-ASCII synthetic text) has
    * max word length 8; a longer word would drop from the oracle side
    * and fail the hash gate LOUDLY, never silently. */
  val UniMaxWordLen  = 12

  /** Exact integer 64·log2(n): the msb exponent plus 6 fractional bits
    * from a fixed-point squaring recurrence (scale 2²⁰, truncating
    * shifts) — pure integer ops, so Spark and the DuckDB oracle derive
    * the SAME piece costs bit for bit. A float log's last-ulp variance
    * could flip a Viterbi argmin between engines; this cannot. */
  private[graft] def lg64(n: Long): Long = {
    require(n > 0, "lg64 needs a positive count")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var y = if (e >= 20) n >> (e - 20) else n << (20 - e)
    var frac = 0L
    var i = 0
    while (i < 6) {
      y = (y * y) >> 20
      frac <<= 1
      if (y >= (2L << 20)) { frac |= 1L; y >>= 1 }
      i += 1
    }
    e.toLong * 64 + frac
  }

  /** Piece costs from model counts: add-one smoothing keeps
    * kept-but-unused pieces (the always-retained single chars) finite;
    * cost = lg64(T) − lg64(c+1), the integer surprisal of
    * p = (c+1)/T in 1/64-bit units. */
  private[graft] def uniCosts(model: Seq[(String, Long)]): Seq[(String, Long)] = {
    val t = model.map(_._2 + 1L).sum
    val lt = lg64(t)
    model.map { case (p, c) => (p, lt - lg64(c + 1L)) }
  }

  /** Train the unigram-LM piece model; returns (piece, c) — the final
    * Viterbi-count table after UniEmIters EM rounds.
    *
    * Scale (100 TB): like BPE, training reduces the corpus to its
    * occurrence-weighted word-TYPE table in one tokenize+count
    * shuffle; the seed explode is ≤ maxLen·maxWordLen substrings per
    * TYPE; top-seed/top-target cuts are TakeOrdered (bounded heaps,
    * no global sort); each E-step is one map-side codegen'd
    * UnigramEncode pass over the type table + a piece-count
    * aggregation; the model (≤ target + |alphabet| rows) is the only
    * driver state — the PQ-codebook fetch pattern, 2 rounds. */
  def unigramTrain(df: DataFrame, text: String,
                   seedSize: Int = UniSeedSize, target: Int = UniVocabTarget,
                   maxLen: Int = UniMaxPieceLen,
                   emIters: Int = UniEmIters): DataFrame = {
    val words = withToks(df, text).select(explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .localCheckpoint()
    val seedc = words
      .select(col("wc"), explode(expr(
        s"flatten(transform(sequence(1, length(w)), s -> " +
          s"transform(sequence(1, least($maxLen, length(w) - s + 1)), " +
          s"l -> substring(w, s, l))))")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("c"))
      .localCheckpoint()
    val chars = seedc.filter(length(col("piece")) === 1).select(col("piece"))
    // union legs can only collide on a char piece carrying the SAME
    // count — max() is the dedup that keeps one row
    def dedup(a: DataFrame): DataFrame =
      a.groupBy(col("piece")).agg(max(col("c")).as("c"))
    var model = dedup(
      seedc.orderBy(col("c").desc, col("piece").asc).limit(seedSize)
        .unionByName(seedc.join(chars, Seq("piece"))))
      .localCheckpoint()
    for (_ <- 1 to emIters) {
      val costs = uniCosts(model.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1))
      val cnts = words.select(col("wc"),
          explode(F.unigramEncode(col("w"), costs, maxLen, UniUnkCost))
            .as("piece"))
        .groupBy(col("piece")).agg(sum(col("wc")).as("c"))
      model = dedup(
        cnts.orderBy(col("c").desc, col("piece").asc).limit(target)
          .unionByName(chars.join(cnts, Seq("piece"), "left")
            .na.fill(0L, Seq("c"))))
        .localCheckpoint()
    }
    model
  }

  /** The persisted unigram model (the loadedMerges twin): trained once
    * under the VersionedStore CAS, loaded thereafter. Shared by
    * q320/q321. */
  private def loadedUnigram(s: SparkSession, d: String): Seq[(String, Long)] = {
    val dir = graft.sources.VersionedStore.resolveOrBuild(
      s, Scratch.dir(s, d, "uniglm"))(
      p => unigramTrain(Tables.documents(s, d), "text")
        .write.mode("overwrite").parquet(s"$p/model"))
    s.read.parquet(s"$dir/model").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
  }

  /** q319: the trained unigram-LM piece table, ranked. */
  def q319(s: SparkSession, d: String): DataFrame =
    unigramTrain(Tables.documents(s, d), "text")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("piece").asc)).cast("int"))
      .select(col("rank"), col("piece"), col("c").as("cnt"))

  /** q320: token distribution under the persisted unigram model —
    * Viterbi encode as the apply twin (the q142 pattern: the artifact
    * is loaded, the encode is one map-side codegen pass, the only
    * shuffle is the token count). */
  def q320(s: SparkSession, d: String): DataFrame =
    // the type-table discipline (review finding, round 12): the DP
    // runs once per DISTINCT word, occurrence counts ride as weights —
    // identical output, corpus-occurrence-independent encode cost
    withToks(Tables.documents(s, d), "text")
      .select(explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), explode(F.unigramEncode(col("w"),
        uniCosts(loadedUnigram(s, d)), UniMaxPieceLen, UniUnkCost))
        .as("token"))
      .groupBy(col("token")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(UniTopK)

  /** q321: per-language fertility of the unigram tokenizer — the q229
    * harness verbatim with UnigramEncode in the BpeEncode seat, so the
    * two tokenizer families compare on the same metric rows. */
  def q321(s: SparkSession, d: String): DataFrame = {
    val costs = uniCosts(loadedUnigram(s, d))
    withToks(Tables.documents(s, d), "text")
      .select(col("lang"), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("wc"))
      .select(col("lang"), col("wc"),
        size(F.unigramEncode(col("word"), costs, UniMaxPieceLen,
          UniUnkCost)).cast("long").as("n_tok"),
        length(col("word")).cast("long").as("n_char"))
      .groupBy(col("lang"))
      .agg(sum(col("wc")).as("n_words"),
        sum(col("wc") * col("n_tok")).as("n_tokens"),
        F.idiv(lit(10000L) * sum(col("wc") * col("n_tok")),
          sum(col("wc"))).as("fertility_bp"),
        F.idiv(lit(10000L) * sum(col("wc") * col("n_char")),
          sum(col("wc") * col("n_tok"))).as("chars_per_token_bp"))
  }

  /** TEXTRANK KEYWORD EXTRACTION (round 12; Mihalcea & Tarau) — the
    * GRAPH-based keyword ranker next to q161's frequency-based TF-IDF:
    * words vote for words they co-occur with (window ≤ 2), and the
    * q147 integer PageRank (damping 0.85, 5 fixed iterations at scale
    * 10¹²) ranks the graph — a term that appears in many CONTEXTS
    * outranks a term that merely appears often, which is the entire
    * point of TextRank over counting. Pairs explode WITHIN the token
    * array (q68's basket discipline), the vote loop is pageRank's one
    * join + one aggregation per iteration.
    *
    * Scale: edges are corpus-linear (≤ window per token), dedup'd to
    * the vocabulary-pair grain before iterating — every PageRank round
    * runs on vocab²-bounded-by-cooccurrence rows, never the corpus. */
  def textRank(df: DataFrame, text: String, window: Int = 2,
               iters: Int = 5, k: Int = 20): DataFrame = {
    val pairs = withToks(df, text).select(col("toks"))
      .select(posexplode(col("toks")).as(Seq("i", "wa")), col("toks"))
      .select(col("wa"),
        explode(slice(col("toks"), col("i") + 2, lit(window))).as("wb"))
      .filter(col("wa") =!= col("wb") &&
        length(col("wa")) > 0 && length(col("wb")) > 0)
    Dedup.pageRank(pairs, "wa", "wb", iters)
      .orderBy(col("rank_e12").desc, col("doc_id").asc).limit(k)
      .select(col("doc_id").as("word"), col("rank_e12"))
  }

  /** q332: top-20 TextRank keywords of the documents corpus. */
  def q332(s: SparkSession, d: String): DataFrame =
    textRank(Tables.documents(s, d), "text")

  /** The merge-count sweep for [[bpeMergeCurve]] (0 = character
    * level, BpeMergeCount = the full learned table). */
  val BpeMergeSweep: Seq[Int] = Seq(0, 5, 10, 15, 20, 25, 30)

  /** BPE MERGE-BUDGET CURVE — compression vs vocabulary size, the
    * "how many merges does this corpus actually need" dial: each
    * sweep point encodes under the FIRST m learned merges (a BPE
    * vocabulary is prefix-closed — the m-merge tokenizer IS the first
    * m rows of the merge table, so one trained artifact serves every
    * point) and reports corpus tokens, fertility, and chars/token.
    * The curve's knee is the budget decision: merges past it buy
    * tokens nobody saves (the q141 trainer's pair counts say what's
    * frequent; this says what it's WORTH).
    *
    * Scale: ONE tokenize+count pass reduces the corpus to its
    * occurrence-weighted word vocabulary; each sweep point is a
    * map-side BpeEncode over that vocabulary-sized table (codegen,
    * no shuffle) + a one-row fold. Exact integer bp ratios. */
  def bpeMergeCurve(df: DataFrame, text: String,
                    merges: Seq[(String, String)],
                    sweep: Seq[Int] = BpeMergeSweep): DataFrame = {
    // a sweep point past the table's size clamps to the full table
    // (merges.take degrades gracefully) — a pair-exhausted corpus that
    // trained < BpeMergeCount merges must not hard-fail the curve
    require(sweep.nonEmpty && sweep.forall(_ >= 0))
    val words = withToks(df, text)
      .select(explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .localCheckpoint() // one corpus pass, read by every sweep point
    sweep.map { m =>
      words.agg(sum(col("wc")).as("n_words"),
          sum(col("wc") * size(F.bpeEncode(col("word"), merges.take(m)))
            .cast("long")).as("n_tokens"),
          sum(col("wc") * length(col("word")).cast("long")).as("n_chars"))
        .select(lit(m.toLong).as("n_merges"), col("n_words"),
          col("n_tokens"), col("n_chars"),
          F.idiv(lit(10000L) * col("n_tokens"), col("n_words"))
            .as("fertility_bp"),
          F.idiv(lit(10000L) * col("n_chars"), col("n_tokens"))
            .as("chars_per_token_bp"))
    }.reduce(_ unionAll _)
  }

  /** q313: the learned merge table's compression curve. */
  def q313(s: SparkSession, d: String): DataFrame =
    bpeMergeCurve(Tables.documents(s, d), "text", loadedMerges(s, d))

  /** GREEDY-vs-OPTIMAL TOKENIZATION GAP — how many tokens the
    * production encoder WASTES against the best segmentation its own
    * inventory permits: greedy lowest-rank-first BPE (BpeEncode, what
    * actually ships) vs the DP minimum over {code points} ∪ {merge
    * products} (MinSegTokens). A large gap at a fixed vocab means the
    * merge ORDER, not the inventory, is costing context-window tokens
    * — the diagnostic that separates "train a bigger vocab" from "the
    * greedy order is pathological for this language" when fertility
    * (q229) looks bad. Reported per language: weighted word/token
    * totals and overhead_bp = (greedy − opt)/opt.
    *
    * Scale: identical shape to q229 — the corpus reduces to its
    * (lang, word) vocabulary in one shuffle; both encoders run
    * codegen'd per DISTINCT word, occurrence-weighted; one per-lang
    * aggregation. DP is O(|word|·|merges|) per distinct word. */
  def segmentationGap(df: DataFrame, lang: String, text: String,
                      merges: Seq[(String, String)]): DataFrame = {
    val vocab = merges.map { case (a, b) => a + b }
    withToks(df, text)
      .select(col(lang), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col(lang), col("word")).agg(count(lit(1)).as("wc"))
      .select(col(lang), col("wc"),
        size(F.bpeEncode(col("word"), merges)).cast("long").as("ng"),
        F.minSegTokens(col("word"), vocab).cast("long").as("no"))
      .groupBy(col(lang))
      .agg(sum(col("wc")).as("n_words"),
        sum(col("wc") * col("ng")).as("n_greedy"),
        sum(col("wc") * col("no")).as("n_opt"))
      .withColumn("overhead_bp",
        F.idiv(lit(10000L) * (col("n_greedy") - col("n_opt")), col("n_opt")))
  }

  /** q235: per-language greedy-vs-optimal gap under the persisted
    * q141 merge table. */
  def q235(s: SparkSession, d: String): DataFrame =
    segmentationGap(Tables.documents(s, d), "lang", "text",
      loadedMerges(s, d))

  /** DATASET CARD — the one-row datasheet a corpus release publishes
    * (and a pipeline diffs across builds as its cheapest regression
    * gate): volume (docs/tokens), coverage (languages/sources), exact-
    * duplicate rate, mean quality, and the length distribution's
    * p50/p90. Every number is an existing operator's headline
    * re-aggregated — the card is the composition a consumer sees
    * first.
    *
    * Scale (100 TB): one aggregation pass; the two COUNT(DISTINCT)s
    * over corpus-sized domains (text md5) expand the aggregate input —
    * at deployment swap them for approx_count_distinct/HLL (q159's
    * sketch) and the card is one linear scan; langs/sources are
    * tiny-domain distincts. percentile_disc returns an actual member
    * of the integer length domain (exact long, the q99 discipline). */
  def datasetCard(df: DataFrame, id: String, text: String,
                  lang: String, source: String, chars: String): DataFrame =
    qualityBp(df, id, text, carry = Seq(lang, source, chars, text))
      .withColumn("n_toks", size(split(col(text), " ")).cast("long"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col(lang)).as("n_langs"),
        countDistinct(col(source)).as("n_sources"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(md5(col(text))).as("n_distinct_texts"),
        F.idiv(sum(col("quality_bp")), count(lit(1))).as("mean_quality_bp"),
        expr(s"percentile_disc(0.5) WITHIN GROUP (ORDER BY $chars)")
          .cast("long").as("p50_chars"),
        expr(s"percentile_disc(0.9) WITHIN GROUP (ORDER BY $chars)")
          .cast("long").as("p90_chars"))
      .withColumn("dup_rate_bp",
        F.idiv(lit(10000L) * (col("n_docs") - col("n_distinct_texts")),
          col("n_docs")))

  /** q236: the documents table's release card. */
  def q236(s: SparkSession, d: String): DataFrame =
    datasetCard(Tables.documents(s, d), "doc_id", "text", "lang",
      "source", "n_chars")

  /** DATASET CARD DIFF — the q236 card as an actual regression gate:
    * the same nine metrics computed for TWO builds side by side with
    * the delta, one row per metric — the table a release pipeline
    * thresholds ("dup_rate moved +300 bp → block the publish") and a
    * human scans in one glance. Long format on purpose: a gate rule
    * addresses a metric by NAME, not by column position in a widening
    * one-row schema.
    *
    * Scale: two q236 cards (each one aggregation pass over its build)
    * + a 9-row join. */
  def datasetCardDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
                      text: String, lang: String, source: String,
                      chars: String): DataFrame = {
    val names = Seq("n_docs", "n_langs", "n_sources", "n_tokens",
      "n_distinct_texts", "mean_quality_bp", "p50_chars", "p90_chars",
      "dup_rate_bp")
    def long(df: DataFrame, v: String): DataFrame = {
      val cells = names.map(n => s"'$n', $n").mkString(", ")
      datasetCard(df, id, text, lang, source, chars)
        .select(expr(s"stack(${names.length}, $cells) AS (metric, $v)"))
    }
    long(oldDf, "old_v").join(long(newDf, "new_v"), "metric")
      .withColumn("delta", col("new_v") - col("old_v"))
  }

  /** q238: card diff of the even-id half (the "previous build")
    * against the full table (the "current build"). */
  def q238(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    datasetCardDiff(docs.filter(col("doc_id") % 2 === 0), docs,
      "doc_id", "text", "lang", "source", "n_chars")
  }

  /** CROSS-DOCUMENT BOILERPLATE REMOVAL (CCNet-style line dedup, at
    * passage granularity since this corpus has no newlines): cut each
    * document into consecutive `w`-word passages, mark any passage
    * whose exact word sequence appears in ≥ `minDocs` DISTINCT
    * documents as boilerplate (headers, navigation chrome, license
    * blurbs — the content that repeats verbatim across a crawl), and
    * emit each document's cleaned form: passage counts plus the md5 of
    * the kept-passage concatenation (the cleaned text itself, hashed so
    * the oracle compare stays row-sized).
    *
    * Scale (100 TB): two corpus-sized shuffles — the passage-frequency
    * aggregation and the per-doc regroup — which is the lower bound for
    * any global-frequency cleaning decision. The boilerplate set itself
    * is tiny (every member repeats ≥ minDocs times, so it holds at most
    * |passages|/minDocs rows, in practice the handful of true
    * boilerplate strings), and AQE broadcasts it back; the left join
    * adds no fan-out because the set is distinct by construction. */
  def boilerplateRemove(corpus: DataFrame, id: String, text: String,
                        w: Int, minDocs: Int): DataFrame = {
    require(w > 0, s"passage width must be positive, got $w")
    require(minDocs > 1, s"minDocs must exceed 1, got $minDocs")
    val words = tokens(col(text))
    val nPass = greatest(ceil(size(words) / lit(w.toDouble)).cast("long"), lit(1L))
    val passages = corpus
      .select(col(id).as("did"), words.as("ws"),
        explode(sequence(lit(0L), nPass - 1)).as("pass_idx"))
      .select(col("did"), col("pass_idx"),
        array_join(slice(col("ws"), (col("pass_idx") * w + 1).cast("int"), lit(w)), " ")
          .as("passage"))
    val boiler = passages.groupBy(col("passage"))
      .agg(count_distinct(col("did")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("passage"), lit(1L).as("is_boiler"))
    passages.join(boiler, Seq("passage"), "left_outer")
      .groupBy(col("did").as("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"),
        // kept passages re-assemble in document order: collect_list
        // drops the nulls `when` leaves on boilerplate rows, array_sort
        // on (pass_idx, passage) structs restores the order
        md5(array_join(transform(
          array_sort(collect_list(when(col("is_boiler").isNull,
            struct(col("pass_idx"), col("passage"))))),
          x => x.getField("passage")), " ")).as("clean_md5"))
  }

  /** q153: 5-word-passage boilerplate removal at the ≥2-document
    * threshold. */
  def q153(s: SparkSession, d: String): DataFrame =
    boilerplateRemove(Tables.documents(s, d), "doc_id", "text", 5, 2)

  /** OUT-OF-VOCABULARY RATE per document against the corpus's own
    * top-`vocabSize` token vocabulary — the tokenizer-coverage signal
    * (a spike in OOV mass flags a domain shift or an encoding bug
    * before training sees it).
    *
    * Scale (100 TB): the q90 discipline — the probe side pre-aggregates
    * to DISTINCT (doc, token, tf) rows before any join (the raw
    * Zipf-skewed token stream never shuffles on the token key), the
    * vocab aggregate reduces to `vocabSize` rows and force-broadcasts.
    * Vocabulary selection is orderBy+limit — TakeOrderedAndProject
    * (per-partition bounded heaps, `vocabSize`-row merge; q97/q102's
    * discipline), NEVER a rank window: at web scale the token-TYPE
    * table is 10⁸–10⁹ rows and an unpartitioned window funnels all of
    * it through one task. Top-k membership is deterministic (count
    * desc, token asc). OOV ratio is exact integer basis points. */
  def oovRate(corpus: DataFrame, id: String, text: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val tf = corpus
      .select(col(id).as("doc_id"), explode(tokens(col(text))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        F.idiv(col("n_oov") * lit(10000L), col("n_tokens")).as("oov_bp"))
  }

  /** q154: per-doc OOV rate against the top-25 corpus vocabulary. */
  def q154(s: SparkSession, d: String): DataFrame =
    oovRate(Tables.documents(s, d), "doc_id", "text", 25)

  /** LENGTH-GROUPED BATCHING: assign each document to an equi-depth
    * length bucket (so a batch holds similarly-sized sequences and
    * padding waste stays low), then to a fixed-size batch within its
    * (bucket, shard) — the batch-construction step after q98's packing.
    *
    * Scale (100 TB): NO corpus-wide ntile/sort — bucket boundaries are
    * `nBuckets−1` discrete percentiles (one tiny aggregate row,
    * broadcast back; q99's exact-membership discipline, so the bucket
    * of every document is an integer comparison both engines agree
    * on). Batch enumeration runs in a window partitioned by
    * (bucket × shard): shards are hash-assigned, so partitions stay
    * balanced and bounded, and batches never cross shards — exactly
    * how per-worker batch construction behaves in a real loader. */
  def lengthBatches(corpus: DataFrame, id: String, text: String,
                    nBuckets: Int, nShards: Int, batchSize: Int): DataFrame = {
    require(nBuckets > 1 && nShards > 0 && batchSize > 0,
      s"bad nBuckets=$nBuckets nShards=$nShards batchSize=$batchSize")
    val base = corpus.select(col(id).as("doc_id"),
      size(tokens(col(text))).cast("long").as("n_tokens"))
    val thresholds = (1 until nBuckets).map { i =>
      // percentile_disc returns double even over bigint input
      expr(s"percentile_disc(${i.toDouble / nBuckets}) WITHIN GROUP (ORDER BY n_tokens)")
        .cast("long").as(s"t$i")
    }
    val thr = base.agg(thresholds.head, thresholds.tail: _*)
    val bucket = (1 until nBuckets)
      .map(i => when(col("n_tokens") > col(s"t$i"), 1L).otherwise(0L))
      .reduce(_ + _) + 1L
    base.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tokens"), bucket.as("bucket"),
        (col("doc_id") % nShards).as("shard"))
      .withColumn("batch_idx", F.idiv(
        (row_number().over(Window.partitionBy(col("bucket"), col("shard"))
          .orderBy(col("n_tokens").asc, col("doc_id").asc)) - 1).cast("long"),
        lit(batchSize.toLong)))
  }

  /** q158: 8 equi-depth length buckets × 8 hash shards, batches of 4. */
  def q158(s: SparkSession, d: String): DataFrame =
    lengthBatches(Tables.documents(s, d), "doc_id", "text", 8, 8, 4)

  /** PADDING-WASTE AUDIT: length batching vs sequence packing (round
    * 11) — the compute-bill comparison that decides a trainer's input
    * layout. The length-batch side pads every q158 batch to its max
    * member (n·max − Σ per batch — what the accelerator actually
    * burns); the packing side pads only each bucket's LAST bin (the
    * q98/q246 arithmetic). One row per length bucket plus the one
    * `pack` row; waste in basis points of the padded stream, integer
    * end to end. The spread between the two waste_bp columns IS the
    * throughput a switch to packing buys.
    *
    * Scale (100 TB): the batch side is q158's plan (bucketed windows,
    * never global) + a batch-grain rollup; the pack side never
    * materializes the layout — per-bucket token totals and
    * ceil-division, the q246 rule. */
  def padWasteAudit(corpus: DataFrame, id: String, text: String,
                    nBuckets: Int = 8, nShards: Int = 8, batchSize: Int = 4,
                    capacity: Int = 512, packBuckets: Int = 16): DataFrame = {
    val perBatch = lengthBatches(corpus, id, text, nBuckets, nShards, batchSize)
      .groupBy(col("bucket"), col("shard"), col("batch_idx"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("mx"),
        sum(col("n_tokens")).as("sm"))
      .withColumn("pad", col("n_docs") * col("mx") - col("sm"))
    def waste(real: Column, pad: Column): Column =
      graft.functions.F.idiv(lit(10000L) * pad, real + pad)
    val batchRows = perBatch.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_units"), sum(col("sm")).as("tokens_real"),
        sum(col("pad")).as("tokens_pad"))
      .select(lit("batch").as("strategy"), col("bucket"), col("n_units"),
        col("tokens_real"), col("tokens_pad"),
        waste(col("tokens_real"), col("tokens_pad")).as("waste_bp"))
    val cap = capacity.toLong
    val bins = graft.functions.F.idiv(col("t_b") + lit(cap - 1), lit(cap))
    val packRow = corpus
      .select((col(id) % packBuckets).as("b"),
        size(tokens(col(text))).cast("long").as("n"))
      .groupBy(col("b")).agg(sum(col("n")).as("t_b"))
      .agg(sum(bins).as("n_units"), sum(col("t_b")).as("tokens_real"),
        sum(bins * cap - col("t_b")).as("tokens_pad"))
      .select(lit("pack").as("strategy"), lit(-1L).as("bucket"),
        col("n_units"), col("tokens_real"), col("tokens_pad"),
        waste(col("tokens_real"), col("tokens_pad")).as("waste_bp"))
    batchRows.unionByName(packRow)
  }

  /** q252: the q158 batch geometry vs the q98 packing geometry on the
    * documents corpus. */
  def q252(s: SparkSession, d: String): DataFrame =
    padWasteAudit(Tables.documents(s, d), "doc_id", "text")

  /** SCRIPT-CONFORMITY / MOJIBAKE AUDIT (round 11): the
    * encoding-damage detector every multi-source ingest needs — per
    * language: documents, mean non-printable-ASCII character share in
    * bp (a "de" corpus sits near zero plus umlauts; a sudden jump
    * means double-encoded UTF-8 upstream), documents carrying the
    * U+FFFD replacement character (decoding ALREADY failed — q48's
    * scrubbing can't fix what the decoder destroyed), and documents
    * with C0 control characters (binary bleed-through). Character
    * classes only — both engines run RE2-family regexes, so counts
    * agree exactly.
    *
    * Scale (100 TB): one codegen'd map-side pass, |langs|-row
    * output. */
  def scriptAudit(corpus: DataFrame, lang: String, text: String): DataFrame = {
    val nChars = length(col(text)).cast("long")
    val nNonAscii = (nChars -
      length(regexp_replace(col(text), "[^ -~]", ""))).cast("long")
    corpus
      .select(col(lang).as("lang_"), nChars.as("nc"), nNonAscii.as("na"),
        col(text).rlike("�").cast("long").as("has_replacement"),
        col(text).rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
          .cast("long").as("has_control"))
      .groupBy(col("lang_"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        graft.functions.F.idiv(lit(10000L) * sum(col("na")), sum(col("nc")))
          .as("non_ascii_bp"),
        sum(col("has_replacement")).as("n_replacement_docs"),
        sum(col("has_control")).as("n_control_docs"))
      .select(col("lang_").as(lang), col("n_docs"), col("n_chars"),
        col("non_ascii_bp"), col("n_replacement_docs"), col("n_control_docs"))
  }

  /** q267: per-language encoding-health report of the corpus. */
  def q267(s: SparkSession, d: String): DataFrame =
    scriptAudit(Tables.documents(s, d), "lang", "text")

  /** PIPELINE-YIELD FUNNEL (round 11): the one-glance answer to "how
    * much corpus survives the prep pipeline, and which stage eats it"
    * — ingest → near-dup keep-first (the q51/q55 rule) → per-language
    * quality gate (the q99 rule, thresholds computed over the DEDUP
    * SURVIVORS — gating before dedup would let duplicate floods drag
    * every threshold). One row per stage with docs, tokens, and token
    * yield vs ingest in bp. The per-operator audits (q253 savings,
    * q99 gate) explain each stage; this is the roll-up a run report
    * leads with.
    *
    * Scale (100 TB): the stages are the audited q51/q55/q99 plans;
    * the funnel adds only |stages| aggregation rows. */
  def pipelineYield(corpus: DataFrame, id: String, text: String,
                    lang: String, p: Double = 0.10): DataFrame = {
    val toks = corpus.select(col(id).as("doc_id"), col(lang).as("lang_"),
        size(tokens(col(text))).cast("long").as("n_tokens"))
      .localCheckpoint()
    val labs = graft.ops.Dedup.clusters(
      graft.ops.Dedup.jaccardPairs(corpus, id, text, 0.6)
        .select(col("doc_a"), col("doc_b")))
    val surv1 = toks.join(labs.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("lang_"), col("n_tokens"))
      .localCheckpoint()
    // qualityBp keeps the caller's id name; normalize so the join
    // works for ANY id column, not just "doc_id"
    val q = qualityBp(corpus, id, text).withColumnRenamed(id, "doc_id")
    val scored1 = surv1.join(q, Seq("doc_id"))
    val thr = scored1.groupBy(col("lang_"))
      .agg(expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY quality_bp)")
        .cast("long").as("thr_bp"))
    val surv2 = scored1.join(broadcast(thr), "lang_")
      .filter(col("quality_bp") >= col("thr_bp"))
    def stage(name: String, df: DataFrame): DataFrame = df
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    val rows = stage("1_ingest", toks)
      .unionByName(stage("2_dedup", surv1))
      .unionByName(stage("3_quality", surv2))
    val tot = toks.agg(sum(col("n_tokens")).as("t0"))
    rows.crossJoin(broadcast(tot))
      .select(col("stage"), col("n_docs"), col("n_tokens"),
        graft.functions.F.idiv(lit(10000L) * col("n_tokens"), col("t0"))
          .as("yield_bp"))
  }

  /** q268: the ingest → dedup → quality funnel on the documents
    * corpus. */
  def q268(s: SparkSession, d: String): DataFrame =
    pipelineYield(Tables.documents(s, d), "doc_id", "text", "lang")

  /** MIXTURE TOKEN-QUOTA PLAN (round 11; q186's weights turned into a
    * purchase order): given a target training-token budget, each
    * group's quota under the sqrt-temperature weights, what it can
    * actually supply, and the epochs_milli the quota implies
    * (⌈quota/available⌉ in milli — above 1000 means that group
    * repeats: the tail groups q186 boosts are exactly the ones that
    * run out first, and THIS row is where that bill lands; the
    * published multilingual-sampling trade made auditable). Integer
    * end to end on top of the q186 isqrt/idiv conventions. */
  def mixtureQuota(docs: DataFrame, groupCol: String, text: Column,
                   targetTokens: Long): DataFrame = {
    val w = mixtureWeights(docs, groupCol, text)
    w.select(col(groupCol), col("n_tokens").as("available_tokens"),
      col("weight_bp"),
      F.idiv(col("weight_bp") * lit(targetTokens), lit(10000L))
        .as("quota_tokens"))
      .withColumn("epochs_milli",
        F.idiv(lit(1000L) * col("quota_tokens") + col("available_tokens") - 1L,
          col("available_tokens")))
      .withColumn("is_exhausted",
        (col("quota_tokens") > col("available_tokens")).cast("int"))
  }

  /** q270: quota plan for a 200k-token target over the language mix. */
  def q270(s: SparkSession, d: String): DataFrame =
    mixtureQuota(Tables.documents(s, d), "lang", col("text"), 200000L)

  /** BIGRAM-LM surprisal (q90's unigram signal upgraded to a
    * second-order model): per-doc mean −ln P(w₂|w₁) with the MLE
    * conditional P(w₂|w₁) = c(w₁w₂)/c(w₁·), where the head marginal
    * c(w₁·) sums the bigram table itself — self-consistent, no second
    * corpus pass. Repetitive/templated text scores low (its bigrams are
    * corpus-predictable), scrambled text scores high — a sharper
    * quality signal than unigram frequency alone.
    *
    * Scale (100 TB): q90's probe discipline unchanged — the probe side
    * pre-aggregates to DISTINCT (doc, w₁, w₂, tf) before any join and
    * surprisal accumulates as exact tf-weighted fixed-point longs
    * (merge-order independent). Unlike q90's unigram vocab, the BIGRAM
    * type table grows with the corpus (Heaps' law squared) — it is
    * NEVER broadcast (round 4 force-broadcast it, which exceeds any
    * executor budget at web scale, and checkpointed the corpus-sized
    * probe to executor disk). The probe instead SHUFFLE-HASH joins the
    * rate table on (w₁, w₂): hash, not sort-merge, so the corpus-sized
    * side is never sorted; the build side is one row per key; Zipf-hot
    * keys are exactly the shape AQE's skew-join splits at runtime
    * (OptimizeSkewedJoin covers shuffled-hash joins). The only
    * broadcast is the unigram head marginal c(w₁·) — vocabulary-sized,
    * q90's bounded-vocab discipline. tf2 feeds both the count
    * aggregation and the probe join through ONE canonically-identical
    * exchange, which AQE stage reuse materializes once — no checkpoint,
    * no second tokenize pass (measured: an eager checkpoint job is
    * 1.5–2× slower end-to-end than in-plan reuse). */
  def bigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    val tf2 = withToks(df, text)
      .select(col(id), explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("bg"))
      .select(col(id), col("bg").getField("0").as("w1"),
        col("bg").getField("1").as("w2"))
      .groupBy(col(id), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
    val c2 = tf2.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val rates = c2.join(broadcast(c1), "w1").hint("shuffle_hash")
    tf2.join(rates, Seq("w1", "w2"))
      .groupBy(col(id))
      .agg(sum(col("tf")).as("n_bigrams"),
        floor(sum(col("tf") * bp(-log(col("c2").cast("double") / col("c1")))) /
          sum(col("tf"))).cast("long").as("mean_surprisal_bp"))
  }

  /** q160: bigram surprisal scoring of the documents table. */
  def q160(s: SparkSession, d: String): DataFrame =
    bigramSurprisal(Tables.documents(s, d), "doc_id", "text")

  /** PER-DOCUMENT KEYWORD EXTRACTION: the top-k most distinctive terms
    * of each document by quantized TF-IDF weight (q113's exact milli
    * fixed-point weights, ranked) — the "what is this document about"
    * labeler feeding tagging, routing and faceted dedup reports.
    *
    * Scale (100 TB): weights derive from the (doc, tok, tf) table —
    * never the raw token stream — with the df table joined and the
    * one-row doc count broadcast; the rank window partitions BY
    * DOCUMENT over those distinct pairs, so per-partition work is one
    * doc's vocabulary. Ranking on the quantized value with a token
    * tie-break keeps top-k membership engine-stable. */
  def keywordTopK(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    tfidfWeights(df, id, text)._2
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("wm").desc, col("tok").asc))
        .cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id").as(id), col("rank"), col("tok"), col("wm"))
  }

  /** q161: top-3 TF-IDF keywords per document. */
  def q161(s: SparkSession, d: String): DataFrame =
    keywordTopK(Tables.documents(s, d), "doc_id", "text", 3)

  /** SCRIPT-AWARE TOKENIZATION over a mixed-script corpus: the
    * documents table is augmented (deterministically, by doc_id) with
    * Han and Thai snippets — text in scripts written WITHOUT word
    * separators, which a plain space split silently collapses into one
    * giant token — and tokenized through the ONE shared tokenizer
    * (Cols.tokens) every text operator inherits: whitespace split with
    * a per-codepoint segmentation fallback for space-free scripts.
    * Output per document: token count, segmented-script token count,
    * and an md5 over the exact token sequence (so the oracle pins the
    * segmentation itself, not just counts).
    *
    * Scale (100 TB): map-only — one conditional regex pass per
    * document (pure-ASCII documents short-circuit on the rlike
    * prescan), no shuffle, no UDF; the segmentation is codegen'd
    * regexp_replace/split like every other tokenize. */
  /** The ONE deterministic mixed-script corpus q169 and q171 both
    * tokenize (per-document comparability of the two conventions, and
    * both oracles hard-code these snippets — a single definition keeps
    * query and oracle in lockstep). */
  private def mixedScript(id: Column, text: Column): Column = {
    val han = " 你好世界今天天氣很好"
    val thai = " สวัสดีชาวโลกวันนี้"
    when(id % 3 === 0, concat(substring(text, 1, 60), lit(han)))
      .when(id % 3 === 1, concat(substring(text, 1, 60), lit(thai)))
      .otherwise(substring(text, 1, 60))
  }

  /** Shared q169/q171 output shape: token count, segmented-script token
    * count, md5 over the exact token sequence. */
  private def segSummary(df: DataFrame, id: String, toks: Column): DataFrame =
    df.select(col(id).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"), t => t.rlike(SegScript))).cast("long").as("n_seg"),
        md5(array_join(col("toks"), "|")).as("tok_md5"))

  def segTokens(df: DataFrame, id: String, text: String): DataFrame =
    segSummary(df, id, tokens(mixedScript(col(id), col(text))))

  /** q169: shared-tokenizer segmentation of the mixed-script corpus. */
  def q169(s: SparkSession, d: String): DataFrame =
    segTokens(Tables.documents(s, d), "doc_id", "text")

  /** Demo lexicon for q171 — the words of the q169 snippets. A real
    * pipeline loads these from a dictionary file; segmentation quality
    * is the lexicon's job, the operator's job is applying it at scale. */
  val segDict: Seq[String] =
    Seq("你好", "世界", "今天", "天氣", "สวัสดี", "ชาวโลก", "วันนี้")

  /** DICTIONARY-segmented tokenization: whitespace split + forward-
    * maximum-matching against `dict` for script runs, fused in ONE
    * native expression (fmm_segment does its own split — ArrayTransform
    * is a CodegenFallback, so a flatten-transform composition would run
    * interpreted per token). This is the word-level upgrade over q169's
    * char-level convention: 你好世界 tokenizes as 你好|世界 instead of
    * four single-char tokens, which is what token stats / shingles /
    * surprisal want for CJK corpora when a lexicon is available. Empty
    * tokens (consecutive spaces) are dropped at the split.
    *
    * Scale (100 TB): map-only, no shuffle, no UDF — one codegen'd
    * expression pass per document with the lexicon in a reference
    * object (broadcast with the plan, hash-set lookups per position). */
  def dictTokens(text: Column, dict: Seq[String]): Column =
    F.fmmSegment(text, dict)

  /** q171 body over the same deterministic mixed-script corpus as q169,
    * so the two conventions (char-level vs dictionary) are directly
    * comparable per document. */
  def dictSegTokens(df: DataFrame, id: String, text: String,
                    dict: Seq[String]): DataFrame =
    segSummary(df, id, dictTokens(mixedScript(col(id), col(text)), dict))

  /** q171: dictionary (FMM) word segmentation of the mixed-script
    * corpus — closes the char-level-only gap q169 documents. */
  def q171(s: SparkSession, d: String): DataFrame =
    dictSegTokens(Tables.documents(s, d), "doc_id", "text", segDict)

  /** Deterministic URL corpus for q172: scheme fixed, host case / :443
    * port / trailing slash / tracking params / parameter order all vary
    * by doc_id so every canonicalization rule is exercised. The same
    * construction is mirrored literally in the DuckDB oracle. */
  def urlTable(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val tld = element_at(array(lit(".com"), lit(".org"), lit(".net")),
      (id % 3).cast("int") + 1)
    val hostRaw = concat(lit("www."), col("source"), tld)
    val host = when(id % 5 === 0, upper(hostRaw)).otherwise(hostRaw)
    val port = when(id % 7 === 0, lit(":443")).otherwise(lit(""))
    val path = concat(lit("/docs/"), (id % 50).cast("string"),
      when(id % 11 === 0, lit("/")).otherwise(lit("")))
    val idStr = id.cast("string")
    val query = when(id % 4 === 0,
        concat(lit("?utm_source=feed&id="), idStr, lit("&utm_campaign=c")))
      .when(id % 4 === 1, concat(lit("?id="), idStr, lit("&ref=rss")))
      .when(id % 4 === 2, lit(""))
      .otherwise(concat(lit("?b=2&a=1&fbclid=F"), idStr))
    Tables.documents(s, d).select(id,
      concat(lit("https://"), host, port, path, query).as("url"))
  }

  /** Tracking parameters stripped by URL canonicalization — the usual
    * click-identifier suspects. Anchored key match only (utm_*, fbclid,
    * gclid, ref); everything else is payload. */
  val TrackingParam = "^(utm_[^=]*|fbclid|gclid|ref)="

  /** URL CANONICALIZATION — the step before URL-level dedup of a web
    * corpus (the same page arrives under case-shuffled hosts, default
    * ports, trailing slashes, tracking params, and permuted query
    * strings; byte-level dedup sees them all as distinct): lowercase
    * host, drop :443/:80, collapse trailing path slashes (root stays
    * "/"), strip tracking params, sort the survivors for order
    * independence. Emits the canonical URL, the registrable domain
    * (last two host labels — the group-by key for per-site quotas and
    * crawl politeness), and the stripped-param count.
    *
    * Scale (100 TB): map-only regex/string work per row, no shuffle,
    * no UDF; the tiny query-param arrays make the interpreted
    * higher-order filter/sort negligible next to the regex passes. */
  def normalizeUrls(df: DataFrame, id: String, url: String): DataFrame = {
    val host2 = regexp_replace(
      lower(regexp_extract(col(url), "^https?://([^/?]+)", 1)),
      ":(443|80)$", "")
    val rawPath = regexp_extract(col(url), "^https?://[^/?]+([^?]*)", 1)
    val path2raw = regexp_replace(rawPath, "/+$", "")
    val path2 = when(path2raw === "", lit("/")).otherwise(path2raw)
    val q = regexp_extract(col(url), "\\?(.*)$", 1)
    val nonEmpty = filter(split(q, "&"), p => p =!= "")
    val keep = array_sort(filter(nonEmpty, p => !p.rlike(TrackingParam)))
    val canonQ = when(size(keep) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(keep, "&")))
    df.select(col(id).as("doc_id"),
      concat(lit("https://"), host2, path2, canonQ).as("canon_url"),
      regexp_extract(host2, "([^.]+\\.[^.]+)$", 1).as("domain"),
      (size(nonEmpty) - size(keep)).cast("long").as("n_stripped"))
  }

  /** q172: URL canonicalization of the deterministic URL corpus. */
  def q172(s: SparkSession, d: String): DataFrame =
    normalizeUrls(urlTable(s, d), "doc_id", "url")

  /** PER-DOMAIN QUOTA selection: keep the top `quota` documents of each
    * registrable domain by quality score (ties on doc_id) — the crawl-
    * balancing step that stops one boilerplate-heavy megasite from
    * dominating a training mix however large its page count. Domain
    * comes from URL canonicalization; quality is the shared q41 score,
    * so the whole chain (canonicalize → score → quota) is one
    * declarative plan.
    *
    * Scale (100 TB): one shuffle on the domain key; the quota cut is a
    * bounded row_number window INSIDE that partitioning (domains ≫
    * executors, so the exchange is even); scoring is map-side in the
    * scan stage. */
  def domainQuota(docs: DataFrame, urls: DataFrame, id: String,
                  text: String, url: String, quota: Int): DataFrame = {
    val dom = normalizeUrls(urls, id, url).select(col("doc_id"), col("domain"))
    val q = qualityBp(docs.select(col(id), col(text)), id, text)
      .select(col(id).as("doc_id"), col("quality_bp"))
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("quality_bp").desc, col("doc_id").asc)
    dom.join(q, "doc_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= quota)
      .select(col("domain"), col("rank"), col("doc_id"), col("quality_bp"))
  }

  /** q173: top-5-per-domain quota over the deterministic URL corpus. */
  def q173(s: SparkSession, d: String): DataFrame =
    domainQuota(Tables.documents(s, d), urlTable(s, d),
      "doc_id", "text", "url", 5)

  /** STATISTICAL (unsupervised) word segmentation for space-free
    * scripts — the upgrade SURVEY §1 admits over q171's dictionary FMM
    * for corpora with NO lexicon: learn character-cohesion statistics
    * from the corpus itself and cut where adjacent characters are not
    * statistically glued (the published PMI / branching-entropy family
    * of CJK segmenters; no dictionary, no model file).
    *
    * Rule: a boundary is inserted between adjacent characters (a,b) of
    * a script run iff their pointwise mutual information falls below
    * log θ, i.e. iff
    *
    *   P(ab) < θ · P(a)·P(b)
    *   ⇔  thetaDen · cnt_ab · nu² < thetaNum · cnt_a · cnt_b · nb
    *
    * with all counts taken over the script runs of the WHOLE corpus
    * (nu/nb = total unigrams/bigrams). θ is a rational
    * (thetaNum/thetaDen), so the comparison is an exact integer
    * cross-multiplication — bit-identical in any engine, which is what
    * lets DuckDB recompute the entire segmentation as the oracle
    * (no float logs anywhere). Products are decimal(38,0); headroom
    * holds while cnt·nu² < 10³⁸, i.e. per-script-shard unigram totals
    * up to ~10¹² characters — beyond that, quantize counts before the
    * compare (divide all by a common 2^s — the rule is scale-free).
    *
    * Plan shape at 100 TB: one map-only pass explodes runs into
    * unigrams/bigrams (bounded fan-out: ≤ chars-per-doc rows); the
    * stats tables aggregate to ≤ |charset|² rows (small for any real
    * script), are joined once at the STATS level (per distinct bigram,
    * not per occurrence), and the per-occurrence boundary lookup is a
    * join against that small flags table (AQE broadcasts it). Token
    * reassembly is a per-(doc,run) running sum + grouped ordered
    * concat — windows partition on doc_id, never global.
    *
    * `docs0` must carry (doc_id, text). Output: one (doc_id, run_idx,
    * seg, tok) row per recovered token.
    */
  def statSegments(docs0: DataFrame, thetaNum: Long, thetaDen: Long): DataFrame = {
    val runs = docs0.select(col("doc_id"),
      posexplode(regexp_extract_all(col("text"), lit(s"(${SegScript}+)"), lit(1)))
        .as(Seq("run_idx", "run")))
    val chars = runs.select(col("doc_id"), col("run_idx"),
      posexplode(expr(
        "transform(sequence(1, char_length(run)), i -> substr(run, i, 1))"))
        .as(Seq("p0", "c")))
      .select(col("doc_id"), col("run_idx"), (col("p0") + 1).as("cpos"), col("c"))
    // substr past the end returns '' — the filter drops the dangling
    // last element, so length-1 runs yield zero pairs without a CASE
    val pairs = runs.select(col("doc_id"), col("run_idx"),
      explode(expr(
        """filter(transform(sequence(1, char_length(run)),
          |  i -> struct(substr(run, i, 1) AS a, substr(run, i+1, 1) AS b,
          |              i + 1 AS pos)),
          |  x -> x.b <> '')""".stripMargin)).as("p"))
      .select(col("doc_id"), col("run_idx"),
        col("p.pos").as("pos"), col("p.a").as("a"), col("p.b").as("b"))
    val uni = chars.groupBy("c").agg(count(lit(1)).as("cnt"))
    val bi = pairs.groupBy("a", "b").agg(count(lit(1)).as("cnt_ab"))
    val tot = chars.agg(count(lit(1)).as("nu"))
      .crossJoin(pairs.agg(count(lit(1)).as("nb")))
    val flags = bi
      .join(uni.select(col("c").as("a"), col("cnt").as("cnt_a")), "a")
      .join(uni.select(col("c").as("b"), col("cnt").as("cnt_b")), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"),
        (lit(thetaDen) * col("cnt_ab").cast("decimal(38,0)") * col("nu") * col("nu") <
         lit(thetaNum) * col("cnt_a").cast("decimal(38,0)") * col("cnt_b") * col("nb"))
          .as("boundary"))
    val cuts = pairs.join(flags, Seq("a", "b"))
      .filter(col("boundary"))
      .select(col("doc_id"), col("run_idx"), col("pos").as("cpos"),
        lit(1).as("cut"))
    val segged = chars.join(cuts, Seq("doc_id", "run_idx", "cpos"), "left")
      .withColumn("seg", sum(coalesce(col("cut"), lit(0)))
        .over(Window.partitionBy("doc_id", "run_idx").orderBy("cpos")))
    segged.groupBy("doc_id", "run_idx", "seg")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("cpos"), col("c")))),
        x => x.getField("c")), "").as("tok"))
  }

  /** Per-doc summary of [[statSegments]]: (doc_id, n_runs, n_tokens,
    * tok_md5) with the md5 fingerprinting the exact token sequence in
    * (run, position) order. */
  def statSegTokens(docs0: DataFrame, thetaNum: Long, thetaDen: Long): DataFrame =
    statSegments(docs0, thetaNum, thetaDen).groupBy("doc_id")
      .agg(size(array_distinct(collect_list(col("run_idx")))).cast("long").as("n_runs"),
        count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("run_idx"), col("seg"), col("tok")))),
          x => x.getField("tok")), "|")).as("tok_md5"))

  /** The q179 demo corpus: each doc carries a Han run of 4 vocabulary
    * words whose CHOICE cycles with doc_id digits (base-3), and even
    * docs a second Thai-script run of 3 words likewise — so unlike
    * q169/q171's verbatim snippets, word ADJACENCY varies across the
    * corpus and the distributional evidence for the internal word
    * boundaries actually exists. Word char-sets are disjoint within
    * each script, which puts within-word cohesion at r≈10.4–28.9 and
    * cross-word at r≈2.6–6.5 on this corpus (measured; the gap is the
    * f-vs-f/3 adjacency dilution) — θ=8 sits in the gap. */
  private val hanVocab  = Seq("你好", "世界", "天氣")
  private val thaiVocab = Seq("สวด", "ชาก", "โลน")
  private def cyclingWords(id: Column, vocab: Seq[String],
                           divs: Seq[Long]): Column =
    concat(divs.map(dv => element_at(
      array(vocab.map(lit): _*),
      ((id / dv).cast("long") % 3 + 1).cast("int"))): _*)
  private[graft] def statCorpus(df: DataFrame): DataFrame =
    df.select(col("doc_id"), concat(
      substring(col("text"), 1, 40), lit(" "),
      cyclingWords(col("doc_id"), hanVocab, Seq(1L, 3L, 9L, 27L)),
      when(col("doc_id") % 2 === 0, concat(lit(" "),
        cyclingWords((col("doc_id") / 2).cast("long"), thaiVocab,
          Seq(1L, 3L, 9L))))
        .otherwise(lit(""))).as("text"))

  /** q179: statistical segmentation over the cycling-vocabulary
    * corpus — the unsupervised upgrade over q169 (char-level
    * convention) and q171 (dictionary FMM). The spec pins that the
    * recovered token set IS the vocabulary; the DuckDB oracle
    * recomputes the whole pipeline (stats, integer PMI compare,
    * reassembly) exactly. */
  def q179(s: SparkSession, d: String): DataFrame =
    statSegTokens(statCorpus(Tables.documents(s, d)), 8L, 1L)

  /** INTRA-document repeated-span removal — the self-repetition
    * cleanup published training-data work applies alongside
    * cross-document dedup (boilerplate loops, scraper stutters,
    * chat-log echoes degrade a trained model even when the document is
    * globally unique; q49 only SCORES this, q180 removes it). A
    * window of `k` consecutive tokens is REPEATED when the same
    * k-gram already started at an earlier position in the same
    * document; every token covered by a repeated window is dropped,
    * first occurrences stay. Deterministic by construction (earliest
    * start wins; no hashing beyond the final fingerprint).
    *
    * Plan shape at 100 TB: everything is keyed by doc_id — the
    * repeated-window rank is a window over (doc, k-gram), coverage is
    * a bounded ≤k-row fan-out per repeated start, and the kept-token
    * reassembly groups by doc. One hash-partitioning by doc_id ferries
    * the whole thing; no cross-document join anywhere, so it scales
    * with the corpus like a map-side op with one shuffle. Returns one
    * row per document: (doc_id, n_tokens, n_removed, kept_md5) where
    * kept_md5 fingerprints the exact cleaned token sequence. */
  def deRepeat(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val base = withToks(df, text)
      .select(col(id).as("doc_id"), toks.as("tks"))
    val wins = base.filter(size(col("tks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(tks) - ${k - 1}), i -> array_join(slice(tks, i, $k), ' '))"))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("g"))
    val repeated = wins
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id", "g").orderBy("p")))
      .filter(col("rn") > 1)
    val covered = repeated
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("pos"))
      .distinct()
    val toksPos = base
      .select(col("doc_id"), posexplode(col("tks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val keptAgg = toksPos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("kept_md5"))
    base.select(col("doc_id"), size(col("tks")).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** q180: repeated-3-gram span removal over the documents table. */
  def q180(s: SparkSession, d: String): DataFrame =
    deRepeat(Tables.documents(s, d), "doc_id", "text", 3)

  /** TEMPERATURE-BASED MIXING WEIGHTS per corpus group — the published
    * multilingual/data-mixture sampling rule p_i ∝ n_i^α with α = 1/2:
    * upweight the tail groups a proportional mix would starve, without
    * letting the head group dominate. Kept cross-engine exact by
    * computing n^(1/2) as the INTEGER square root — a double-sqrt
    * candidate corrected by one step, so s² ≤ n < (s+1)² exactly in
    * every engine regardless of libm rounding — and all shares as
    * truncating basis-point divisions. boost_bp = weight_bp − share_bp
    * makes the reweighting auditable at a glance (negative = head
    * group throttled, positive = tail boosted).
    *
    * Scale (100 TB): one map-side-partial aggregation over the corpus
    * (per-doc token count is a scalar projection, the exchange carries
    * O(|groups|) rows); totals are a broadcast 1-row cross join. */
  def mixtureWeights(docs: DataFrame, groupCol: String,
                     text: Column): DataFrame = {
    val per = docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(text, " ")).cast("long")).as("n_tokens"))
    val withS = per.withColumn("isqrt_tokens",
      graft.functions.F.isqrtLong(col("n_tokens")))
    val tot = withS.agg(sum(col("n_tokens")).as("tt"),
      sum(col("isqrt_tokens")).as("ti"))
    withS.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("isqrt_tokens"),
        F.idiv(lit(10000L) * col("n_tokens"), col("tt")).as("share_bp"),
        F.idiv(lit(10000L) * col("isqrt_tokens"), col("ti")).as("weight_bp"))
      .withColumn("boost_bp", col("weight_bp") - col("share_bp"))
  }

  /** q186: α=1/2 temperature-sampling weights per language. */
  def q186(s: SparkSession, d: String): DataFrame =
    mixtureWeights(Tables.documents(s, d), "lang", col("text"))

  /** RECIPROCAL-RANK FUSION of two retrieval rankings — the published
    * hybrid-search combiner (score = Σ 1/(c + rank), c = 60): a doc
    * ranked by EITHER leg earns the reciprocal of its shifted rank, so
    * agreement between legs dominates without any score calibration
    * between BM25 points and cosine similarity. Reciprocals are scaled
    * integers floor(10⁹/(c+r)) — exact across engines, and the fused
    * order is total under the (score desc, id) tie-break.
    *
    * Scale (100 TB): fusion itself touches only the two top-k lists —
    * 2k rows however big the corpus is; the windows below are over
    * those bounded lists, never corpus-wide. The expensive part is the
    * LEGS, and each leg is the already-scale-shaped operator it reuses
    * (BM25 = one corpus scan or the q182 index read; dense = the ANN
    * family). */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, id: String,
              c: Int = 60, scale: Long = 1000000000L): DataFrame = {
    // both inputs: (id, rank); bounded ≤ k rows each — the
    // unpartitioned window is over the fused ≤ 2k list, not the corpus
    def contrib(r: Column): Column =
      coalesce(F.idiv(lit(scale), lit(c.toLong) + r), lit(0L))
    sparse.select(col(id), col("rank").as("rank_sparse"))
      .join(dense.select(col(id), col("rank").as("rank_dense")),
        Seq(id), "full_outer")
      .select(col(id),
        coalesce(col("rank_sparse"), lit(0L)).as("rank_sparse"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"),
        (contrib(col("rank_sparse")) + contrib(col("rank_dense")))
          .as("rrf_score"))
      .withColumn("fused_rank", row_number()
        .over(Window.orderBy(col("rrf_score").desc, col(id).asc)).cast("long"))
  }

  /** q187: hybrid retrieval — BM25 top-20 for the fixed term set fused
    * with the exact dense top-20 around the vec_id-0 query embedding
    * (vec_id ≡ doc_id on the shared id space, the q65 convention). */
  def q187(s: SparkSession, d: String): DataFrame = {
    val sparse = bm25TopK(Tables.documents(s, d), "doc_id", "text",
        Seq("query", "join", "data"), 20)
      // bm25TopK returns the ordered top-20; rank materializes that
      // order (window over ≤ 20 rows)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score_bp").desc, col("doc_id").asc))
        .cast("long"))
    val e = Tables.embeddings(s, d)
    val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
        "vec_id", "embedding", 20)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("rank"))
    rrfFuse(sparse.select(col("doc_id"), col("rank")), dense, "doc_id")
  }

  /** SLIDING-WINDOW CHUNKING — the retrieval-corpus preparation step
    * that turns documents into fixed-budget overlapping passages
    * (window `w` tokens, stride `s`): chunk k covers tokens
    * [k·s, k·s + w), windows advance until the previous one has
    * reached the end, so every token lands in ≥1 chunk and adjacent
    * chunks share w − s tokens of context. Each chunk carries its
    * token AND character offsets back into the source doc — the
    * provenance a retriever needs to highlight the hit in the
    * original.
    *
    * Scale (100 TB): map-only — fan-out per doc is ⌈max(n−w,0)/s⌉+1
    * rows generated inside the scan stage (sequence + explode, all
    * codegen); no shuffle, no state, no driver involvement. The chunk
    * table partitions downstream by whatever the retriever needs
    * (embedding batches, BM25 postings) — chunking itself never
    * exchanges. */
  def chunkWindows(docs: DataFrame, id: String, text: String,
                   w: Int, s: Int): DataFrame = {
    require(w > 0 && s > 0 && s <= w, s"need 0 < stride <= window, got w=$w s=$s")
    val toks = split(col(text), " ")
    val n = size(toks).cast("long")
    // k_max = ceil(max(n - w, 0) / s): the last window is the first
    // one whose span reaches the final token.
    val kmax = F.idiv(greatest(n - lit(w.toLong), lit(0L)) + lit(s.toLong - 1),
      lit(s.toLong))
    docs.filter(length(col(text)) > 0)
      .select(col(id), col(text).as("t_"), toks.as("toks_"), explode(sequence(lit(0L), kmax)).as("chunk_id"))
      .select(col(id), col("chunk_id"),
        (col("chunk_id") * lit(s.toLong)).as("start_tok"),
        col("t_"), col("toks_"))
      .select(col(id), col("chunk_id"), col("start_tok"),
        // char offset = length of the tokens (plus joiner spaces)
        // before the window, +1 separator when not at doc start
        (length(concat_ws(" ", slice(col("toks_"), lit(1), col("start_tok").cast("int")))) +
          when(col("start_tok") > 0, lit(1)).otherwise(lit(0))).cast("long")
          .as("char_start"),
        concat_ws(" ", slice(col("toks_"), (col("start_tok") + lit(1)).cast("int"), lit(w)))
          .as("chunk"),
        least(size(col("toks_")).cast("long") - col("start_tok"), lit(w.toLong))
          .as("n_tok"))
  }

  /** q191: 32-token windows, stride 16, over the documents corpus. */
  def q191(s: SparkSession, d: String): DataFrame =
    chunkWindows(Tables.documents(s, d), "doc_id", "text", 32, 16)

  /** TRIGRAM LANGUAGE-MODEL SCORING with stupid backoff — the
    * perplexity-style quality filter (the CCNet recipe): train n-gram
    * counts on one split, score held-out documents by mean token
    * surprisal; fluent text scores low, gibberish and boilerplate
    * score high. Backoff chain per position:
    *   p = c₃(w₁w₂w₃)/c₂(w₁w₂)                 if the trigram was seen
    *     | 0.4 · c₂(w₂w₃)/c₁(w₂)               else if the bigram was
    *     | 0.16 · (c₁(w₃)+1)/(N+V)             else (add-one unigram)
    * Scoring a HELD-OUT split is what makes backoff live code — on the
    * training split itself every trigram is seen and the chain never
    * fires. Per-position surprisal is floor(−ln p·10⁴+½); the doc mean
    * is an integer floor-division — both engine-exact (the q160
    * convention).
    *
    * Scale (100 TB): count tables reduce the corpus to its n-gram
    * vocabulary (one shuffle each, map-side partial); scoring is the
    * position table joined to five vocabulary-keyed tables — every
    * join an equi-join on n-gram keys, linear in corpus positions; the
    * (N, V) totals ride one broadcast row. No driver state, no
    * iteration. */
  def trigramLmScore(docs: DataFrame, id: String, text: String): DataFrame = {
    val base = docs.select(col(id).as("did"), split(col(text), " ").as("ts"))
    val train = base.filter(col("did") % 2 === 0)
    val score = base.filter(col("did") % 2 === 1)

    def grams(df: DataFrame, n: Int): DataFrame = {
      val g = (0 until n).map(j => element_at(col("ts"), col("i") + lit(j))
        .as(s"w${j + 1}"))
      df.filter(size(col("ts")) >= n)
        .select(col("did"), explode(sequence(lit(1),
          size(col("ts")) - lit(n - 1))).as("i"), col("ts"))
        .select(col("did") +: g: _*)
    }
    val c3 = grams(train, 3).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c3"))
    val c2 = grams(train, 2).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"))
    val c1 = grams(train, 1).groupBy("w1").agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum(col("c1")).as("n_total"),
      count(lit(1)).as("v_vocab"))

    val st = grams(score, 3)
    val joined = st
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("w1"), col("w2"), col("c2").as("c2_prefix")),
        Seq("w1", "w2"), "left")
      .join(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c2_back")), Seq("w2", "w3"), "left")
      .join(c1.select(col("w1").as("w2"), col("c1").as("c1_mid")),
        Seq("w2"), "left")
      .join(c1.select(col("w1").as("w3"), col("c1").as("c1_last")),
        Seq("w3"), "left")
      .crossJoin(broadcast(tot))
    val p = when(col("c3").isNotNull,
        col("c3").cast("double") / col("c2_prefix"))
      .when(col("c2_back").isNotNull,
        lit(0.4) * (col("c2_back").cast("double") / col("c1_mid")))
      .otherwise(lit(0.16) *
        ((coalesce(col("c1_last"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_total") + col("v_vocab"))))
    joined
      .select(col("did"), floor(-log(p) * 10000d + 0.5d).cast("long").as("surp"))
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_trigrams"),
        floor(sum(col("surp")) / count(lit(1))).cast("long")
          .as("mean_surprisal_bp"))
      .withColumnRenamed("did", "doc_id")
  }

  /** q193: odd-id documents scored under the even-id trigram LM. */
  def q193(s: SparkSession, d: String): DataFrame =
    trigramLmScore(Tables.documents(s, d), "doc_id", "text")

  /** DOMAIN-SUFFIX BLOCKLIST — the opt-out/abuse-list removal step of
    * a web corpus: a blocklist entry `example.com` must match the host
    * itself AND every subdomain (`a.b.example.com`), i.e. suffix
    * semantics on dot-separated labels, NOT substring match
    * (`notexample.com` must survive).
    *
    * Scale (100 TB): suffix matching against a multi-million-entry
    * list is NOT a prefix/range join here — each host explodes into
    * its ANCESTOR CHAIN (`www.a.example.com` → itself, `a.example.com`,
    * `example.com`, `com`; fan-out = label depth, ≤ ~10) and the chain
    * hash-joins the blocklist on exact equality. Plain equi-join: the
    * blocklist broadcasts when small and shuffle-hash-joins when huge,
    * either way no per-row scan of the list and no regex. Longest
    * match wins (then lexicographically last — a total tie-break). */
  def domainBlocklist(urls: DataFrame, id: String, url: String,
                      blocklist: Seq[String]): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val host = regexp_replace(
      lower(regexp_extract(col(url), "^https?://([^/?]+)", 1)),
      ":(443|80)$", "")
    val withHost = urls.select(col(id), host.as("host"))
    val chain = withHost.select(col(id), col("host"),
      explode(expr(
        """transform(sequence(1, size(split(host, '[.]'))),
           k -> array_join(slice(split(host, '[.]'), k,
                size(split(host, '[.]')) - k + 1), '.'))""")).as("sfx"))
    val bl = blocklist.toDF("sfx")
    val hits = chain.join(broadcast(bl), "sfx")
      .groupBy(col(id))
      .agg(max(struct(length(col("sfx")).as("l"), col("sfx").as("s")))
        .as("best"))
      .select(col(id), col("best.s").as("matched_suffix"))
    withHost.join(hits, Seq(id), "left")
      .select(col(id), col("host"), col("matched_suffix"),
        when(col("matched_suffix").isNotNull, 1).otherwise(0).as("blocked"))
  }

  /** The q194 demo blocklist: two registrable domains, one exact host,
    * and one entry that must NOT substring-match (`rc3.com` vs
    * `src3.com`). */
  val DemoBlocklist: Seq[String] =
    Seq("src3.com", "src12.net", "www.src1.org", "rc3.com")

  /** q194: blocklist verdicts over the synthetic URL corpus. */
  def q194(s: SparkSession, d: String): DataFrame =
    domainBlocklist(urlTable(s, d), "doc_id", "url", DemoBlocklist)

  /** LABEL-BALANCE AUDIT — class distribution + Shannon entropy per
    * categorical attribute, the imbalance check run before training on
    * (or stratifying by) a label: one long-format row per (attr,
    * value) with count, share, and the entropy TERM p·ln(1/p) in
    * micro-nats (per-term fixed point, so the attr entropy is the
    * exact integer SUM of its term rows — engine-independent, and the
    * decomposition shows which category carries the entropy), plus an
    * ALL row per attr whose h_term is the full entropy.
    *
    * Scale (100 TB): one aggregation per attribute (stacked via
    * unionAll so Catalyst runs them as parallel partial aggs over the
    * same scan), category-cardinality rows after; totals join at
    * category size. */
  def labelBalance(df: DataFrame, attrs: Seq[String]): DataFrame = {
    val stacked = attrs.map(a =>
        df.select(lit(a).as("attr"), col(a).cast("string").as("value")))
      .reduce(_ unionAll _)
    val counts = stacked.groupBy(col("attr"), col("value"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col("attr")).agg(sum(col("n")).as("nt"))
    val p = col("n").cast("double") / col("nt").cast("double")
    val rows = counts.join(tot, "attr")
      .select(col("attr"), col("value"), col("n"),
        F.idiv(lit(10000L) * col("n"), col("nt")).as("share_bp"),
        floor(-log(p) * p * lit(1000000d) + lit(0.5d)).cast("long")
          .as("h_term_unat"))
    rows.unionAll(
      rows.groupBy(col("attr")).agg(sum(col("n")).as("n"),
          sum(col("h_term_unat")).as("h"))
        .select(col("attr"), lit("ALL").as("value"), col("n"),
          lit(10000L).as("share_bp"), col("h").as("h_term_unat")))
  }

  /** q197: balance of the documents table's lang and source labels. */
  def q197(s: SparkSession, d: String): DataFrame =
    labelBalance(Tables.documents(s, d), Seq("lang", "source"))

  /** PHRASE SEARCH over positional postings — exact consecutive-token
    * match for a BATCH of phrases in one pass, as pure relational
    * alignment: token positions join the (phrase, j, term) dictionary,
    * every match proposes anchor = pos − j, and an anchor with all m
    * slots filled (count-distinct j = m) is a real occurrence. No
    * regex, no per-phrase rescan, overlapping matches counted,
    * repeated-word phrases handled by the distinct-j rule.
    *
    * Scale (100 TB): the term dictionary broadcasts, so the corpus
    * token stream is filtered to phrase-vocabulary positions INSIDE
    * the scan stage; the only shuffle carries surviving (phrase, doc,
    * anchor) candidates — proportional to term frequency, not corpus
    * size. The same alignment runs against a PERSISTED positional
    * index (doc, pos, tok) without retokenizing (the q182 pattern). */
  def phraseSearch(docs: DataFrame, id: String, text: String,
                   phrases: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = phrases.flatMap { p =>
      val ws = p.split(" ")
      ws.zipWithIndex.map { case (w, j) => (p, j.toLong, w, ws.length.toLong) }
    }.toDF("phrase", "j", "tok", "m")
    val pos = docs.select(col(id),
      posexplode(split(col(text), " ")).as(Seq("pos", "tok")))
    val starts = pos.join(broadcast(terms), "tok")
      .select(col("phrase"), col(id), col("m"),
        (col("pos") - col("j")).as("start"), col("j"))
      .where(col("start") >= 0)
      .groupBy(col("phrase"), col(id), col("m"), col("start"))
      .agg(countDistinct(col("j")).as("nj"))
      .where(col("nj") === col("m"))
    starts.groupBy(col("phrase"), col(id))
      .agg(count(lit(1)).as("n_occ"),
        min(col("start")).cast("long").as("first_pos"))
  }

  /** The q198 phrase panel: two common bigrams, one trigram, and a
    * repeated-word phrase (the self-overlap edge case). */
  val DemoPhrases: Seq[String] =
    Seq("table hash", "order fast", "key agg row", "order order")

  /** q198: batch phrase search over the documents corpus. */
  def q198(s: SparkSession, d: String): DataFrame =
    phraseSearch(Tables.documents(s, d), "doc_id", "text", DemoPhrases)

  /** MIXTURE REBALANCE PLAN — q186 weights say what the mix SHOULD be;
    * this emits the actionable per-group sampling plan to hit explicit
    * target shares under a token budget: ideal = target·budget,
    * feasible = min(available, ideal) (a group cannot be up-sampled
    * past its supply without repetition — the shortfall column is the
    * data-acquisition ask), rate = feasible/available is the keep
    * probability a downstream hash-sampler (q23) applies. All integer
    * arithmetic — the plan is engine-exact and auditable.
    *
    * Scale (100 TB): one aggregation to (group, token count) — group-
    * cardinality rows — then broadcast totals and a tiny target join;
    * the corpus is scanned once and never shuffled by row. */
  def rebalancePlan(docs: DataFrame, group: String, tokens: Column,
                    targetsBp: Map[String, Long], budgetDen: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val supply = docs.groupBy(col(group).as("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("n_tokens"))
    val tot = supply.agg(sum(col("n_tokens")).as("tt"))
    val targets = targetsBp.toSeq.toDF("grp", "target_bp")
    supply.join(broadcast(targets), "grp")
      .crossJoin(broadcast(tot))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("target_bp"),
        F.idiv(col("target_bp") * F.idiv(col("tt"), lit(budgetDen)), lit(10000L))
          .as("ideal_tokens"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("target_bp"),
        col("ideal_tokens"),
        least(col("n_tokens"), col("ideal_tokens")).as("feasible_tokens"),
        F.idiv(lit(10000L) * least(col("n_tokens"), col("ideal_tokens")),
          col("n_tokens")).as("rate_bp"),
        greatest(col("ideal_tokens") - col("n_tokens"), lit(0L))
          .as("shortfall_tokens"))
  }

  /** FEATURE HASHING (the hashing trick) — the fixed-width sparse
    * featurizer for unbounded vocabularies: token t lands in bucket
    * md5(t) mod D with sign ±1 from the next hash bit (the signed
    * variant keeps collision noise zero-mean), and a document's
    * feature vector is the signed count sum per bucket. No vocabulary
    * table, no fitting, no OOV — the dimension is fixed BEFORE the
    * data arrives, which is exactly what a streaming/100 TB featurizer
    * needs. Long-format output (doc, bucket, weight ≠ 0).
    *
    * Scale (100 TB): hash + bucket are map-side in the scan; the only
    * shuffle is the (doc, bucket) partial-aggregated count — bounded
    * by D per doc however long the doc. */
  def featureHash(docs: DataFrame, id: String, text: String,
                  dim: Int): DataFrame = {
    val h = F.md5Hash64(col("tok"))
    val bucket = pmod(h, lit(dim.toLong))
    // sign bit: the next bit above the bucket field, read through
    // pmod against 2·dim — a power-of-two modulus, so signed and
    // unsigned hash representations agree bit-for-bit in any engine
    val sign = when(pmod(h, lit(2L * dim)) >= dim, lit(1L)).otherwise(lit(-1L))
    docs.select(col(id), explode(split(col(text), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col(id), bucket.as("bucket"), sign.as("sgn"))
      .groupBy(col(id), col("bucket"))
      .agg(sum(col("sgn")).as("weight"))
      .where(col("weight") =!= 0)
  }

  /** q213: 64-bucket signed feature hashing of the documents corpus. */
  def q213(s: SparkSession, d: String): DataFrame =
    featureHash(Tables.documents(s, d), "doc_id", "text", 64)

  /** CROSS-COHORT QUANTILE MAPPING (quantile normalization) — score
    * calibration between sources: a value from any cohort is replaced
    * by the REFERENCE cohort's value at the same percentile, so
    * downstream thresholds mean the same thing whichever source a row
    * came from. Exact nearest-rank on both sides: r_bp from the
    * cohort's own (value, id)-ordered rank; the reference percentile
    * grid (bp → max value, ≤ 10⁴+1 rows — a bounded SUMMARY, like a
    * centroid table) compiles into the codegen'd SearchSortedBucket
    * binary search (the q118 band-lookup discipline), so mapping is
    * map-side with no join at all.
    *
    * Scale (100 TB): ranks are per-cohort windows (cohorts ≫
    * executors; a single monster cohort takes the q129 approxQuantile
    * path); the grid collect is bounded by the bp resolution, never
    * by data size. */
  def quantileMap(df: DataFrame, group: String, value: Column,
                  id: Column, refGroup: String): DataFrame = {
    // localCheckpoint: the ranking lineage feeds BOTH the grid collect
    // and the final mapping select — materialize it once instead of
    // re-running the corpus windows per consumer (the q190 rule)
    val ranked = df
      .select(col(group).as("grp"), value.as("v"), id.as("rid"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("v"), col("rid"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
      .withColumn("r_bp", F.idiv(lit(10000L) * (col("rank") - 1),
        greatest(col("n") - 1, lit(1L))))
      .localCheckpoint()
    val grid = ranked.filter(col("grp") === refGroup)
      .groupBy(col("r_bp")).agg(max(col("v")).as("rv"))
      .orderBy(col("r_bp"))
      .collect()
    require(grid.nonEmpty, s"reference cohort '$refGroup' is empty")
    val bps = grid.map(_.getLong(0).toDouble).toSeq
    val vals = grid.map(_.getLong(1))
    val idx = F.rankBucket(col("r_bp").cast("double"), bps)
    ranked.select(col("rid"), col("grp"), col("v"), col("r_bp"),
      element_at(typedLit(vals.toSeq), idx.cast("int")).as("mapped_v"))
  }

  /** WEIGHTED TERM-CATEGORY SCORING — the moderation/safety filter
    * stage: a dictionary of (term, category, severity) entries joins
    * the token stream, and each document reports per-category hit and
    * severity mass plus a total severity score — the inputs a
    * threshold policy (drop / flag / downweight) consumes. Same
    * broadcast-dictionary discipline as q194/q198: the corpus stream
    * is filtered to dictionary vocabulary inside the scan, and a
    * multi-million-entry dictionary would simply shuffle-hash instead
    * of broadcasting — never a per-row list scan or regex
    * alternation.
    *
    * Scale (100 TB): tokenize map-side; one (doc, category)
    * partial-agg shuffle bounded by |categories| per doc. */
  def termCategoryScore(docs: DataFrame, id: String, text: String,
                        terms: Seq[(String, String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = terms.toDF("tok", "category", "severity")
    docs.select(col(id), explode(split(col(text), " ")).as("tok"))
      .join(broadcast(dict), "tok")
      .groupBy(col(id), col("category"))
      .agg(count(lit(1)).as("n_hits"),
        sum(col("severity")).as("severity_sum"))
  }

  /** The q216 demo dictionary: two categories with graded severities
    * over corpus vocabulary. */
  val DemoTermDict: Seq[(String, String, Long)] = Seq(
    ("error", "ops-noise", 1L), ("slow", "ops-noise", 2L),
    ("row", "jargon", 1L), ("hash", "jargon", 1L), ("spark", "jargon", 3L))

  /** q216: per-document category severity report. */
  def q216(s: SparkSession, d: String): DataFrame =
    termCategoryScore(Tables.documents(s, d), "doc_id", "text", DemoTermDict)

  /** WINNOWING FINGERPRINT SELECTION (the MOSS algorithm, Schleimer/
    * Wilkerson/Aiken): from a document's k-gram hash sequence, keep
    * the MINIMUM hash of every w-length window (rightmost position on
    * ties). The selected set is a position-aware fingerprint with the
    * published GUARANTEE q43's plain rolling fingerprint lacks: any
    * shared substring of ≥ w+k−1 tokens is certain to share a
    * selected fingerprint, while density stays ~2/(w+1). Hashes ride
    * the low 53 md5 bits (power-of-two modulus — the signed/unsigned
    * engine divide cannot reorder minima).
    *
    * Scale (100 TB): per-doc sliding min is one bounded window over
    * the doc's own partition (documents ≫ executors); no corpus-wide
    * state. The fingerprint table feeds the same hash-join dedup
    * shapes as q176/q103. */
  def winnowFingerprints(docs: DataFrame, id: String, text: String,
                         k: Int, w: Int): DataFrame = {
    val toks = split(col(text), " ")
    val grams = docs
      .select(col(id), toks.as("ts"))
      // Spark sequence(a, b) DESCENDS when a > b — filter short docs
      // out before generating k-gram positions
      .filter(size(col("ts")) >= k)
      .select(col(id), explode(sequence(lit(1), size(col("ts")) - lit(k - 1))).as("i"), col("ts"))
      .select(col(id), col("i"),
        pmod(F.md5Hash64(concat_ws(" ", slice(col("ts"), col("i"), lit(k)))),
          lit(9007199254740992L)).as("h"))
    val perDoc = Window.partitionBy(col(id))
    val slide = Window.partitionBy(col(id)).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("nh", count(lit(1)).over(perDoc))
      .withColumn("sel", min(struct(col("h"), (-col("i")).as("ni"))).over(slide))
      // only FULL windows select (starts 1 .. nh-w+1)
      .where(col("i") <= col("nh") - lit(w - 1))
      .select(col(id), (-col("sel.ni")).cast("long").as("pos"),
        col("sel.h").as("fp"))
      .distinct()
  }

  /** q217: k=3, w=4 winnowing fingerprints over the corpus. */
  def q217(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(Tables.documents(s, d), "doc_id", "text", 3, 4)

  /** EFFECTIVE-TOKEN ACCOUNTING — what each source ACTUALLY
    * contributes to a training mix once exact duplicates collapse:
    * per source, raw docs/tokens, the unique-content docs/tokens that
    * survive keep-first exact dedup (md5(text) groups, smallest id
    * wins — the q50 rule), and the wasted duplicate token mass with
    * its share. The number that matters for mixture math is
    * effective_tokens, not raw — a source that is 60% self-copies is
    * 60% smaller than it looks.
    *
    * Scale (100 TB): one hash-group over (md5, min id) — the q50
    * dedup shuffle — then a source-sized rollup; token counting rides
    * the same scan. */
  def effectiveTokens(docs: DataFrame, id: String, text: String,
                      source: String): DataFrame = {
    val base = docs.select(col(id).as("rid"), col(source).as("src"),
      size(split(col(text), " ")).cast("long").as("toks"),
      md5(col(text)).as("h"))
    val keep = base.groupBy(col("h")).agg(min(col("rid")).as("keep_id"))
    base.join(keep, "h")
      .withColumn("kept", (col("rid") === col("keep_id")).cast("long"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("kept")).as("n_unique_docs"),
        sum(col("kept") * col("toks")).as("effective_tokens"))
      .withColumn("dup_tokens", col("n_tokens") - col("effective_tokens"))
      .withColumn("dup_share_bp",
        F.idiv(lit(10000L) * col("dup_tokens"), col("n_tokens")))
  }

  /** q218: per-source effective tokens after exact dedup. */
  def q218(s: SparkSession, d: String): DataFrame =
    effectiveTokens(Tables.documents(s, d), "doc_id", "text", "source")

  /** SPLIT-CONFORMAL THRESHOLD CALIBRATION — the distribution-free way
    * to turn any score into a flag rule with a GUARANTEED error rate:
    * from a held-out calibration split, the threshold is the k-th
    * smallest score with k = ⌊α(n_cal+1)⌋, and conformal theory
    * promises P(new score < threshold) ≤ α with no assumption on the
    * score's distribution. The report carries the threshold and the
    * realized flag rate on the disjoint test split — the empirical
    * check of the guarantee.
    *
    * Scale (100 TB): the calibration cut is a TakeOrdered of k rows
    * (k = α-fraction of the CALIBRATION split, itself a bounded
    * sample in practice); flagging is one map-side comparison; counts
    * are plain aggregates. The n_cal count is a driver-side scalar
    * (the q214 bounded-summary discipline). */
  def conformalThreshold(scored: DataFrame, id: Column, score: Column,
                         alphaBp: Long): DataFrame = {
    val spark = scored.sparkSession
    val base = scored.select(id.as("rid"), score.as("s"))
    val cal = base.filter(col("rid") % 2 === 0)
    val test = base.filter(col("rid") % 2 =!= 0)
    val nCal = cal.count()
    val k = ((nCal + 1) * alphaBp) / 10000L
    require(k >= 1, s"calibration split too small for alpha=$alphaBp bp")
    val thr = cal.orderBy(col("s").asc, col("rid").asc).limit(k.toInt)
      .agg(max(col("s")).as("threshold"))
    test.crossJoin(broadcast(thr))
      .agg(lit(nCal).as("n_cal"), lit(k).as("k"),
        max(col("threshold")).as("threshold"),
        count(lit(1)).as("n_test"),
        sum((col("s") < col("threshold")).cast("long")).as("n_flagged"))
      .withColumn("flag_rate_bp",
        F.idiv(lit(10000L) * col("n_flagged"), col("n_test")))
  }

  /** q223: α = 10% conformal low-quality flag rule over the q41
    * score. */
  def q223(s: SparkSession, d: String): DataFrame =
    conformalThreshold(q41(s, d), col("doc_id"), col("quality_bp"), 1000L)

  /** q214: calibrate every language's doc-length distribution onto the
    * English reference. */
  def q214(s: SparkSession, d: String): DataFrame =
    quantileMap(Tables.documents(s, d), "lang", col("n_chars"),
      col("doc_id"), "en")
      .select(col("rid").as("doc_id"), col("grp").as("lang"),
        col("v").as("n_chars"), col("r_bp"),
        col("mapped_v").as("mapped_chars"))

  /** q202: plan a uniform 5-language mix over half the corpus's token
    * budget. */
  def q202(s: SparkSession, d: String): DataFrame =
    rebalancePlan(Tables.documents(s, d), "lang",
      size(split(col("text"), " ")).cast("long"),
      Map("en" -> 2000L, "zh" -> 2000L, "fr" -> 2000L,
        "es" -> 2000L, "de" -> 2000L), 2L)

  /** N-GRAM NOVELTY AUDIT — the memorization/staleness gate run on a
    * freshly-scraped candidate batch before it joins the training mix:
    * for every held-out ("test"-split) document, the fraction of its
    * distinct k-token windows that appear NOWHERE in the train split.
    * Low novelty flags re-crawls/boilerplate the dedup stages would
    * each catch only partially (novelty is window-level recall against
    * the WHOLE train corpus, not pairwise similarity); high novelty is
    * the genuinely-new material worth labeling/curating first. Same
    * window machinery as decontamination (q103), pointed the other way:
    * there the question is "did eval leak into train", here it is "does
    * this candidate add anything train doesn't already have".
    *
    * Plan: one codegen'd ShingleHashes pass per doc, train side reduces
    * to DISTINCT window hashes, one (hash)-keyed left join carrying
    * only (doc_id, hash) pairs, one per-doc re-aggregation. Scale
    * (100 TB): linear — the join shuffles hashes, never text; at
    * deployment a BloomFilterAgg over train hashes pre-filters the test
    * stream in-scan (the q103 note), and raising k makes windows rare
    * by construction. Docs with fewer than k tokens have no windows and
    * are absent by definition (nothing to audit). */
  /** The generic two-corpus form: every `audited` document scored for
    * the fraction of its distinct k-token windows absent from the
    * whole `reference` corpus. */
  def noveltyAgainst(audited: DataFrame, reference: DataFrame, id: String,
                     text: String, k: Int = 3): DataFrame = {
    val testSh = Dedup.shingleArrays(audited, id, text, k)
      .select(col("doc_id"), explode(col("sh_arr")).as("h"))
    val refSh = Dedup.shingleArrays(reference, id, text, k)
      .select(explode(col("sh_arr")).as("h")).distinct()
      .withColumn("seen", lit(1L))
    testSh.join(refSh, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_windows"), col("n_seen"),
        F.idiv(lit(10000L) * (col("n_windows") - col("n_seen")),
          col("n_windows")).as("novelty_bp"))
  }

  def noveltyAudit(corpus: DataFrame, id: String, text: String,
                   k: Int = 3): DataFrame = {
    // splitAssign is a map-side withColumn over the full corpus — no
    // self-join needed to carry the split label
    val sp = splitAssign(corpus, id)
    noveltyAgainst(sp.filter(col("split") === "test"),
      sp.filter(col("split") === "train"), id, text, k)
  }

  /** q230: novelty of the test split's 3-token windows vs the train
    * split (the q100 knuth-hash split). */
  def q230(s: SparkSession, d: String): DataFrame =
    noveltyAudit(Tables.documents(s, d), "doc_id", "text")

  /** PERSISTED NOVELTY STORE — the q240 deployment note made real: the
    * standing corpus' window hashes live as a versioned artifact, a
    * candidate batch audits against the STORE (never rescanning the
    * corpus text), and accepting a batch appends its hash counts —
    * the q88 signature-store discipline applied to windows.
    *
    * Round 15 (VERDICT r14 item 1): rows are REFERENCE-COUNTED
    * (h, cnt, tag) instead of a bare distinct hash set, because a
    * one-way hash set cannot be erased from — a hash shared by a
    * live and a deleted document must survive the delete. cnt(h) =
    * number of contributing documents; the LIVE set is Σcnt > 0
    * ([[liveNoveltyHashes]]); [[deleteFromNoveltyStore]] appends the
    * erased documents' counts NEGATED — an O(delete) commit, never a
    * store rewrite — and [[compactNoveltyStore]] folds the ledger so
    * fully-erased hashes physically leave the files. `tag` makes
    * every append/delete commit content-addressed and therefore
    * IDEMPOTENT: a replayed batch or erasure request sees its tag
    * already in the ledger and commits nothing (an at-least-once
    * pipeline must not double-count or double-erase shared hashes).
    *
    * At 100 TB the count ledger is ~1% of corpus bytes and
    * bucket-partitionable by hash prefix. Commits ride the
    * VersionedStore manifest CAS (concurrent ingest feeds rebase;
    * audits pin a version while appends land). */
  def writeNoveltyStore(reference: DataFrame, id: String, text: String,
                        k: Int, root: String): Unit = {
    graft.sources.VersionedStore.commit(
      docWindowCounts(reference, id, text, k)
        .withColumn("tag", lit("init")),
      root, overwrite = true)
    ()
  }

  /** Per-hash count of contributing documents (per-doc-distinct, so a
    * window repeated inside one document counts once — the grain a
    * per-document erasure must subtract at). */
  private def docWindowCounts(docs: DataFrame, id: String, text: String,
                              k: Int): DataFrame =
    Dedup.shingleArrays(docs, id, text, k)
      .select(col("doc_id"), explode(col("sh_arr")).as("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))

  /** The live hash set: every hash whose reference count is positive
    * after folding all append/delete ledger entries. */
  def liveNoveltyHashes(s: SparkSession, root: String): DataFrame =
    graft.sources.VersionedStore.read(s, root)
      .groupBy(col("h")).agg(sum(col("cnt")).as("c"))
      .where(col("c") > 0).select(col("h"))

  /** True when a ledger commit with this tag already landed (the
    * idempotence probe — parquet predicate pushdown on `tag`). */
  private def noveltyTagSeen(s: SparkSession, root: String,
                             tag: String): Boolean =
    graft.sources.VersionedStore.latestVersion(s, root) > 0 &&
      !graft.sources.VersionedStore.read(s, root)
        .where(col("tag") === tag).isEmpty

  /** Audit a batch against the stored hash set — q240's output
    * contract, corpus untouched. */
  def noveltyAgainstStore(audited: DataFrame, id: String, text: String,
                          k: Int, root: String): DataFrame = {
    val s = audited.sparkSession
    val refSh = liveNoveltyHashes(s, root).withColumn("seen", lit(1L))
    val testSh = Dedup.shingleArrays(audited, id, text, k)
      .select(col("doc_id"), explode(col("sh_arr")).as("h"))
    testSh.join(refSh, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_windows"), col("n_seen"),
        F.idiv(lit(10000L) * (col("n_windows") - col("n_seen")),
          col("n_windows")).as("novelty_bp"))
  }

  /** Accept a batch: append its per-hash document counts under `tag`
    * (append versions stay batch-sized — the DELTA, not a re-dump; a
    * replayed tag is a no-op). */
  def appendNoveltyStore(accepted: DataFrame, id: String, text: String,
                         k: Int, root: String, tag: String): Unit = {
    val s = accepted.sparkSession
    if (noveltyTagSeen(s, root, tag)) return
    graft.sources.VersionedStore.commit(
      docWindowCounts(accepted, id, text, k).withColumn("tag", lit(tag)),
      root, overwrite = false)
    ()
  }

  /** ERASURE from the novelty store (round 15; VERDICT r14 item 1):
    * append the erased documents' per-hash counts NEGATED, under an
    * idempotence tag — O(delete) ledger work, no store rewrite. A
    * hash every contributor of which is erased folds to Σcnt = 0 and
    * leaves the LIVE set immediately; a hash shared with surviving
    * documents keeps a positive count and stays (the correctness a
    * bare hash-set store cannot offer). Contract: erase documents
    * that were actually ingested (write/append), under a tag unique
    * to the erasure request — the ledger is counts, not membership.
    * Physical bytes leave at the next [[compactNoveltyStore]].
    * Returns true when the erasure committed (false = replayed tag). */
  def deleteFromNoveltyStore(erased: DataFrame, id: String, text: String,
                             k: Int, root: String, tag: String): Boolean = {
    val s = erased.sparkSession
    if (noveltyTagSeen(s, root, tag)) return false
    graft.sources.VersionedStore.commit(
      docWindowCounts(erased, id, text, k)
        .select(col("h"), (-col("cnt")).as("cnt"), lit(tag).as("tag")),
      root, overwrite = false)
    true
  }

  /** Fold the ledger: one overwrite version holding the aggregated
    * positive counts — fully-erased hashes physically leave the data
    * files (the GDPR completion step), and audits stop re-summing
    * history. Run after erasures or every N appends. */
  def compactNoveltyStore(s: SparkSession, root: String): Unit = {
    val v = graft.sources.VersionedStore.latestVersion(s, root)
    graft.sources.VersionedStore.commit(
      graft.sources.VersionedStore.read(s, root)
        .groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
        .where(col("cnt") > 0)
        .withColumn("tag", lit(s"compact-v$v")),
      root, overwrite = true)
    ()
  }

  /** q244: q240 through the persisted store — build once from the
    * standing (even-id) half, audit the batch against it. Row-identical
    * to q240 by construction (spec + the shared oracle). */
  def q244(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val root = Scratch.dir(s, d, "novstore")
    if (graft.sources.VersionedStore.latestVersion(s, root) == 0)
      writeNoveltyStore(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", 3, root)
    noveltyAgainstStore(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", 3, root)
  }

  /** q240: INGEST-BATCH NOVELTY — today's crawl (odd ids) scored
    * against the standing corpus (even ids): the acquisition gate
    * "how much NEW material does this source actually add" that
    * decides whether a feed is worth its crawl budget. Same plan as
    * q230 with explicit build frames; at deployment the standing
    * side's distinct window hashes are the PERSISTED artifact
    * (incrementally unioned per accepted batch — the q88 signature-
    * store discipline applied to windows). */
  def q240(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    noveltyAgainst(docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
  }

  /** ZIPF/HEAPS CORPUS DIAGNOSTICS — the distribution-shape health
    * check a corpus build runs per source/language: natural language
    * has a rank-frequency log-log slope near −1 (Zipf's law); a slope
    * far from it flags template spam (too flat: every token equally
    * common) or degenerate repetition (too steep). Reported per group:
    * token/vocab totals (the Heaps'-law point) and the least-squares
    * slope + r² of ln(freq) on ln(rank) over the top `topK` ranks.
    *
    * Exactness: ranks and counts are integers; each ln() rounds ONCE
    * to basis points (the q90 fixed-point discipline — cross-libm ln
    * differences live far below the 10⁻⁴ grain), and the regression is
    * exact integer arithmetic over those fixed-point terms, so engines
    * and partitionings agree bit-for-bit. Long bounds: |terms| ≤
    * bp(ln 2⁶³)² · topK < 2⁴⁶ — no decimal needed at any corpus size.
    *
    * Plan: one (group, token) count shuffle, a topK-per-group window
    * over the VOCABULARY table (≪ corpus; TakeOrdered-sized), one
    * grouped reduction. Scale (100 TB): the corpus is touched once,
    * map-side; everything after is vocabulary-sized. */
  def zipfFit(corpus: DataFrame, group: String, text: String,
              topK: Int = 16): DataFrame = {
    val tf = withToks(corpus, text)
      .select(col(group).as("grp"), explode(toks).as("tok"))
      .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("cnt"))
    val stats = tf.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("vocab"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("cnt").desc, col("tok").asc)
    val reg = tf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("grp"), bp(log(col("rank").cast("double"))).as("lx"),
        bp(log(col("cnt").cast("double"))).as("ly"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("k"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("ly") * col("ly")).as("syy"))
    val num = col("k") * col("sxy") - col("sx") * col("sy")
    val den = col("k") * col("sxx") - col("sx") * col("sx")
    val deny = col("k") * col("syy") - col("sy") * col("sy")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    reg.join(stats, "grp")
      .select(col("grp").as(group), col("n_tokens"), col("vocab"),
        col("k").as("k_ranks"),
        // slope in bp of ln-ln space; IntegralDivide == DuckDB // at
        // any sign, so the (negative) Zipf slope needs no sign-split.
        // 10⁴·num < 2⁵⁵ even at ly = bp(ln 2⁶³) — long-safe. den = 0
        // (a single-token vocabulary — pure repetition, exactly what
        // this diagnostic flags) reports the degenerate 0, not NULL.
        when(den === 0L, lit(0L))
          .otherwise(F.idiv(lit(10000L) * num, den)).as("zipf_slope_bp"),
        // r² ∈ [0,1]: num² outruns a long (~5·10²⁴ worst case), so the
        // ratio rides decimal(38,0) (oracle: HUGEINT). All-equal counts
        // make deny = 0 (undefined fit) — report r² = 0, not an error.
        when(deny === 0L, lit(0L)).otherwise(
          F.idiv(lit(10000L).cast("decimal(38,0)") * dec(num) * dec(num),
            dec(den) * dec(deny)))
          .cast("long").as("r2_bp"))
  }

  /** q232: per-language Zipf slope + Heaps point over the top 16
    * ranks. */
  def q232(s: SparkSession, d: String): DataFrame =
    zipfFit(Tables.documents(s, d), "lang", "text")

  /** HAPAX LEGOMENA AUDIT — the vocabulary-freshness profile per
    * group: how much of the vocabulary occurs exactly once (and
    * twice), as a share of types and of token mass. The hapax share
    * is the working predictor for OOV rate on held-out data (Good–
    * Turing: mass of unseen ≈ mass of once-seen), so this is the
    * number that says whether q154's OOV rate will hold up and how
    * hard a fixed vocabulary (q141's BPE) will be stressed; a hapax
    * COLLAPSE (share near zero) is its own red flag — templated or
    * deduplicated-to-death text. One token aggregation, then a
    * |groups|-row rollup; all integer bp. */
  def hapaxAudit(corpus: DataFrame, group: String, text: String): DataFrame = {
    val tf = withToks(corpus, text)
      .select(col(group).as("grp"), explode(toks).as("tok"))
      .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("cnt"))
    tf.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("n_dis"))
      .select(col("grp").as(group), col("n_tokens"), col("vocab"),
        col("n_hapax"), col("n_dis"),
        F.idiv(lit(10000L) * col("n_hapax"), col("vocab"))
          .as("hapax_vocab_bp"),
        F.idiv(lit(10000L) * col("n_hapax"), col("n_tokens"))
          .as("hapax_mass_bp"))
  }

  /** q284: per-language hapax profile. */
  def q284(s: SparkSession, d: String): DataFrame =
    hapaxAudit(Tables.documents(s, d), "lang", "text")

  /** VOCABULARY-RICHNESS ESTIMATORS — turns q284's raw hapax counts
    * into the published species-richness numbers a crawl planner acts
    * on: Chao1 (how many types EXIST, seen or not — the lower-bound
    * estimator from capture–recapture statistics, f1²-over-2f2 in its
    * bias-corrected f1(f1−1)/(2(f2+1)) form so f2 = 0 stays finite)
    * and Good–Turing coverage (P(next token is an unseen type) =
    * f1/N — how much distribution mass the vocabulary is still
    * missing). observed_share = V/chao1 answers "what fraction of the
    * reachable vocabulary has this crawl already captured" — the
    * number that says whether more of the same source buys new types
    * or repetition (the trajectory q262 plots batch-by-batch, here as
    * a closed-form per-group estimate).
    *
    * All-integer outputs: chao1 adds a truncating idiv correction to
    * V; shares are exact bp idivs. Scale: exactly q284's plan — one
    * (group, token) aggregation (THE corpus shuffle), then a
    * |groups|-row rollup. */
  def vocabRichness(corpus: DataFrame, group: String,
                    text: String): DataFrame = {
    val tf = withToks(corpus, text)
      .select(col(group).as("grp"), explode(toks).as("tok"))
      .groupBy(col("grp"), col("tok")).agg(count(lit(1)).as("cnt"))
    val base = tf.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("f2"))
    val chao1 = col("vocab") +
      F.idiv(col("f1") * (col("f1") - lit(1L)),
        lit(2L) * (col("f2") + lit(1L)))
    base.select(col("grp").as(group), col("n_tokens"), col("vocab"),
      col("f1"), col("f2"), chao1.as("chao1"),
      F.idiv(lit(10000L) * col("vocab"), chao1).as("observed_share_bp"),
      F.idiv(lit(10000L) * col("f1"), col("n_tokens")).as("unseen_mass_bp"))
  }

  /** q288: per-language vocabulary-richness estimates. */
  def q288(s: SparkSession, d: String): DataFrame =
    vocabRichness(Tables.documents(s, d), "lang", "text")

  /** MATTR — MOVING-AVERAGE TYPE-TOKEN RATIO, the length-robust
    * lexical-diversity score (Covington & McFall): plain TTR = V/N
    * falls mechanically as documents grow (Heaps' law, q232), so
    * sorting a mixed-length corpus by TTR ranks short docs as
    * "diverse"; MATTR averages TTR over every width-w sliding window,
    * making scores comparable across lengths — the per-doc diversity
    * feature for quality gates that q41/q49 measure only via
    * repetition of ADJACENT or identical content.
    *
    * Computed EXACTLY without materializing windows, via the link
    * identity: a window's distinct count is w minus the number of
    * (prev-occurrence → occurrence) links lying fully inside it, so
    *   Σ_windows distinct = nwin·w − Σ_links overlap(link, full-window
    *   range), overlap = max(0, min(a+w−1, L) − max(b, w) + 1)
    * (1-based positions, link a = lag(pos) over (doc, token), b =
    * pos). One posexplode, one lag window keyed (doc, token), one
    * per-doc fold — linear, never a per-window expansion (w× the
    * corpus). Docs shorter than w report NULL mattr (no full window);
    * integer bp idivs throughout.
    *
    * Scale: everything is partitioned by doc_id; the lag window runs
    * inside each (doc, token) group — bounded by document length, the
    * q191 per-doc-window discipline. */
  def mattr(corpus: DataFrame, id: String, text: String,
            w: Int = 20): DataFrame = {
    require(w >= 2)
    val tp = withToks(corpus, text)
      .select(col(id).as("did"), posexplode(toks).as(Seq("p0", "tok")))
      .select(col("did"), col("tok"), (col("p0") + lit(1L)).as("pos"))
    val lw = Window.partitionBy(col("did"), col("tok")).orderBy(col("pos"))
    val links = tp.withColumn("prev", lag(col("pos"), 1).over(lw))
      .localCheckpoint() // feeds lengths, the dup fold, AND perDoc (q190 rule)
    val perDoc = links.groupBy(col("did"))
      .agg(max(col("pos")).as("n_tokens"),
        count_distinct(col("tok")).as("vocab"))
      .localCheckpoint() // feeds the length join AND the final report
    // the overlap term needs L per link; perDoc already carries it
    val withL = links
      .join(perDoc.select(col("did"), col("n_tokens").as("len")), "did")
    val dups = withL.where(col("prev").isNotNull)
      .select(col("did"),
        greatest(lit(0L),
          least(col("prev") + lit(w.toLong - 1L), col("len")) -
            greatest(col("pos"), lit(w.toLong)) + lit(1L)).as("cnt"))
      .groupBy(col("did")).agg(sum(col("cnt")).as("dup_sum"))
    perDoc
      .join(dups, Seq("did"), "left").na.fill(0L, Seq("dup_sum"))
      .select(col("did").as(id), col("n_tokens"), col("vocab"),
        greatest(col("n_tokens") - lit(w.toLong - 1L), lit(0L))
          .as("n_windows"),
        F.idiv(lit(10000L) * col("vocab"), col("n_tokens")).as("ttr_bp"),
        when(col("n_tokens") < lit(w.toLong), lit(null).cast("long"))
          .otherwise(F.idiv(
            lit(10000L) * ((col("n_tokens") - lit(w.toLong - 1L)) *
              lit(w.toLong) - col("dup_sum")),
            (col("n_tokens") - lit(w.toLong - 1L)) * lit(w.toLong)))
          .as("mattr_bp"))
  }

  /** q291: per-document MATTR at the 20-token window. */
  def q291(s: SparkSession, d: String): DataFrame =
    mattr(Tables.documents(s, d), "doc_id", "text", 20)

  /** PAIRWISE VOCABULARY OVERLAP between subcorpora — the mixture
    * designer's redundancy map: two sources whose vocabularies are
    * near-identical add diversity on paper and none in fact (q186's
    * weights and q270's quotas assume sources are distinct; this
    * checks). Per (groupA < groupB) pair: vocabulary sizes, shared
    * types, Jaccard and containment (small-side coverage — high
    * containment at low Jaccard = one corpus is a subset, the classic
    * scrape-of-a-scrape signature) in exact bp.
    *
    * Scale: ONE distinct over (group, token) — the only corpus-sized
    * shuffle; the pair join fans each token to its group pairs
    * (|groups|-bounded per token), aggregations are |groups|²-row.
    * Never an all-pairs document comparison — overlap is computed in
    * TYPE space, which is why it runs at any corpus size. */
  def vocabOverlap(corpus: DataFrame, group: String,
                   text: String): DataFrame = {
    val types = withToks(corpus, text)
      .select(col(group).as("g"), explode(toks).as("tok"))
      .distinct()
      .localCheckpoint() // feeds sizes AND the pair join
    val sizes = types.groupBy(col("g")).agg(count(lit(1)).as("nv"))
    val common = types.select(col("g").as("ga"), col("tok"))
      .join(types.select(col("g").as("gb"), col("tok")), "tok")
      .where(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("g").as("ga"), col("nv").as("vocab_a")), "ga")
      .join(sizes.select(col("g").as("gb"), col("nv").as("vocab_b")), "gb")
      .select(col("ga").as("lang_a"), col("gb").as("lang_b"),
        col("vocab_a"), col("vocab_b"), col("n_common"),
        F.idiv(lit(10000L) * col("n_common"),
          col("vocab_a") + col("vocab_b") - col("n_common")).as("jaccard_bp"),
        F.idiv(lit(10000L) * col("n_common"),
          least(col("vocab_a"), col("vocab_b"))).as("containment_bp"))
  }

  /** q280: the language-pair vocabulary redundancy map. */
  def q280(s: SparkSession, d: String): DataFrame =
    vocabOverlap(Tables.documents(s, d), "lang", "text")

  /** HILL TAIL-INDEX ESTIMATOR — how heavy is the document-length
    * tail? q232 fits the word-FREQUENCY power law; this fits the
    * LENGTH distribution's upper tail, the number that decides
    * sequence-packing bin capacity (q98/q158), pad waste (q252) and
    * shard-straggler risk (q243): α ≈ 1–2 means "the longest docs
    * dominate token mass — cap or split them", α > 3 means a benign
    * tail. Hill estimator at cutoff k: H = (1/k)·Σᵢ≤ₖ ln(x₍ᵢ₎/x₍ₖ₊₁₎)
    * over the k largest values, α = 1/H; reported at a sweep of k
    * values (the Hill plot a practitioner reads for stability —
    * estimates agreeing across k = a clean power law; drifting =
    * no stable tail index).
    *
    * Cross-engine: ln per VALUE rounded to the q90/q232 bp grid
    * (floor(ln·10⁴+0.5)) then exact integer sums — the per-term
    * rounding makes the fold order-free; H in the same grid, α in
    * milli via one more truncating division; ties at the cutoff are
    * harmless (the top-k MULTISET is deterministic even though rank
    * assignment is not). Null α when H ≤ 0 (all top values equal —
    * no tail to fit, the q204 rule).
    *
    * Scale: orderBy-desc-limit(maxK+1) is a TakeOrdered (bounded
    * per-partition top-k + merge, never a global sort); everything
    * after runs on ≤ maxK+1 rows. */
  def hillTail(df: DataFrame, value: Column, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1))
    val maxK = ks.max
    val top = df.select(value.cast("long").as("x")).where(col("x") >= 1L)
      .orderBy(col("x").desc).limit(maxK + 1)
      .select(col("x"), bp(log(col("x").cast("double"))).as("l"))
    // bounded frame (≤ maxK+1 rows): the single-partition window is
    // deliberate and safe here
    val w = Window.orderBy(col("x").desc, col("l").desc)
    val c = top
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum", coalesce(
        sum(col("l")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val hq = F.idiv(col("cum") - (col("i") - 1L) * col("l"), col("i") - 1L)
    c.where((col("i") - 1L).isin(ks.map(_.toLong): _*))
      .select((col("i") - 1L).as("k"), col("x").as("x_tail"),
        hq.as("hill_q"),
        when(hq <= 0L, lit(null).cast("long"))
          .otherwise(F.idiv(lit(10000000L), hq)).as("alpha_milli"))
      .orderBy(col("k").asc)
  }

  /** q277: Hill plot of the corpus token-length tail at k = 16/64/256. */
  def q277(s: SparkSession, d: String): DataFrame =
    hillTail(Tables.documents(s, d), size(split(col("text"), " ")),
      Seq(16, 64, 256))

  /** DETERMINISTIC EPOCH SHUFFLE — the training-order assignment a
    * data-loader consumes: every document lands in one of `nShards`
    * shards by seeded hash, ordered within its shard by the same hash.
    * Changing the seed re-deals the whole corpus (a fresh epoch
    * permutation); keeping it makes the order reproducible across
    * re-runs, backfills and engines — no RNG state, membership and
    * position recompute from (seed, id) alone. Shards are
    * hash-balanced, and adjacent positions within a shard are
    * hash-adjacent — i.e. content-decorrelated, which is the point of
    * shuffling training data.
    *
    * Plan: one map-side hash, one shuffle on shard, a within-shard
    * sort. Scale (100 TB): `pos` is a per-shard row_number — the
    * deployment writer instead partitions by shard and
    * sortWithinPartitions(hash) straight into files (no materialized
    * rank, identical order); nShards is sized so a shard fits an
    * executor's write path (power of two, so the signed/unsigned
    * engine divide cannot move a row across shards). */
  def epochShuffle(corpus: DataFrame, id: String, seed: String,
                   nShards: Int): DataFrame = {
    require(nShards > 0 && (nShards & (nShards - 1)) == 0,
      s"nShards must be a power of two, got $nShards")
    // xor-flip: unsigned hash order (DuckDB UBIGINT) == signed order of
    // h ^ Long.MinValue — the KMV convention (Events.scala FLIP)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h").bitwiseXOR(lit(Long.MinValue)).asc, col("doc_id").asc)
    corpus.select(col(id).as("doc_id"))
      .withColumn("h",
        F.md5Hash64(concat(lit(seed + ":"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** q233: epoch-1 shuffle of the documents table into 32 shards. */
  def q233(s: SparkSession, d: String): DataFrame =
    epochShuffle(Tables.documents(s, d), "doc_id", "ep1", 32)

  /** SHARD BALANCE AUDIT of the epoch shuffle — the check the WRITER
    * runs before committing a training layout: hash-dealing balances
    * DOCUMENT counts by construction, but training throughput is
    * TOKEN-bound, and a long-document skew can still pile token mass
    * onto one shard (stragglers every epoch). Per shard: doc/token
    * counts and the token deviation from the perfectly-even share in
    * bp — the number a rebalance threshold reads. Composes q233's deal
    * with the corpus' own token counts; one shuffle (the deal), one
    * k-row aggregation. Deviations are signed; Σ share_bp ≈ 10⁴·k. */
  def shardBalance(corpus: DataFrame, id: String, text: String,
                   seed: String, nShards: Int): DataFrame = {
    val deal = epochShuffle(corpus, id, seed, nShards)
    val toks = corpus.select(col(id).as("doc_id"),
      size(split(col(text), " ")).cast("long").as("n_toks"))
    val per = deal.join(toks, "doc_id")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total_toks"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        // deviation of this shard's token share from even, in bp of
        // the even share: (n·k − total) · 10⁴ // total
        F.idiv(lit(10000L) * (col("n_tokens") * nShards - col("total_toks")),
          col("total_toks")).as("dev_bp"))
  }

  /** q243: token balance of the q233 epoch-1 deal. */
  def q243(s: SparkSession, d: String): DataFrame =
    shardBalance(Tables.documents(s, d), "doc_id", "text", "ep1", 32)

  /** LANGUAGE-ID EVALUATION HARNESS — the q192/q201/q228 convention
    * (ship the evaluator WITH the detector) applied to q42: score the
    * marker-argmax predictor against a labeled column and report the
    * full confusion matrix, each (true, predicted) cell with its count
    * and row share in bp — the diagonal share IS per-language recall,
    * off-diagonal cells name the specific confusion (which mislabeled
    * pair to fix markers for). A corpus build re-runs this whenever the
    * marker profiles change; accuracy moving DOWN gates the profile
    * update.
    *
    * Plan: the predictor is one map-side pass (q42); one
    * |langs|²-bounded aggregation. Scale (100 TB): nothing but the
    * label join leaves the scan, and that join is by id against the
    * corpus' own columns — zero extra shuffles beyond the
    * |langs|²-row aggregate. */
  def langidEval(docs: DataFrame, id: String, text: String, label: String,
                 markers: Seq[(String, Seq[String])]): DataFrame = {
    val pred = languageId(docs, id, text, markers)
      .select(col(id), col("pred_lang"))
    val conf = docs.select(col(id), col(label).as("lang_true"))
      .join(pred, id)
      .groupBy(col("lang_true"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val tot = conf.groupBy(col("lang_true")).agg(sum(col("n")).as("n_true"))
    conf.join(tot, "lang_true")
      .select(col("lang_true"), col("pred_lang"), col("n"),
        F.idiv(lit(10000L) * col("n"), col("n_true")).as("share_bp"))
  }

  /** q231: q42's marker predictor scored against the lang label. */
  def q231(s: SparkSession, d: String): DataFrame =
    langidEval(Tables.documents(s, d), "doc_id", "text", "lang", langMarkers)

  /** COHEN'S KAPPA — chance-corrected agreement between two
    * categorical raters (annotator vs annotator, model vs gold, two
    * heuristic labelers): the one number that distinguishes "94%
    * agreement" on a 94%-majority-class corpus (κ≈0) from genuine
    * skill. Accuracy (q231's diagonal) rewards predicting the prior;
    * κ subtracts it: κ = (pₒ−pₑ)/(1−pₑ) with pₑ = Σₖ rₖ·cₖ/N² from the
    * marginals. The operator is rater-agnostic — any two string
    * columns on one row per item.
    *
    * Exact integers: κ_bp = 10⁴·(N·agree − Σrc)/(N² − Σrc) with every
    * product in decimal(38,0) (N² at a 10¹²-item corpus outruns a
    * long), ONE truncating division per reported column; null when
    * pₑ = 1 (both raters constant — κ undefined, the q204 rule).
    *
    * Scale: one |classes|²-bounded cell aggregation (map-side
    * partials), marginals and the 1-row fold over cells only — the
    * corpus is scanned once and never re-shuffled. */
  def cohensKappa(pairs: DataFrame, a: String, b: String): DataFrame = {
    val cells = pairs
      .select(col(a).cast("string").as("ra"), col(b).cast("string").as("rb"))
      .groupBy(col("ra"), col("rb")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // |classes|² rows feed marginals + totals
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val rm = cells.groupBy(col("ra").as("cls")).agg(sum(col("n")).as("r"))
    val cm = cells.groupBy(col("rb").as("cls")).agg(sum(col("n")).as("c"))
    val pe = rm.join(cm, Seq("cls"), "full").na.fill(0L, Seq("r", "c"))
      .agg(sum(dec(col("r")) * dec(col("c"))).as("rc"))
    val tot = cells.agg(sum(col("n")).as("n_items"),
      sum(when(col("ra") === col("rb"), col("n")).otherwise(lit(0L)))
        .as("n_agree"))
    tot.crossJoin(pe).select(
      col("n_items"), col("n_agree"),
      F.idiv(lit(10000L) * dec(col("n_agree")), dec(col("n_items")))
        .as("po_bp"),
      F.idiv(lit(10000L) * col("rc"),
        dec(col("n_items")) * dec(col("n_items"))).as("pe_bp"),
      when(dec(col("n_items")) * dec(col("n_items")) === col("rc"),
        lit(null).cast("long"))
        .otherwise(F.idiv(
          lit(10000L) * (dec(col("n_items")) * dec(col("n_agree")) - col("rc")),
          dec(col("n_items")) * dec(col("n_items")) - col("rc")))
        .as("kappa_bp"))
  }

  /** CALIBRATION / RELIABILITY AUDIT — is a classifier's confidence
    * honest? Bin predictions by confidence (fixed-width bp bins),
    * compare each bin's mean confidence against its realized accuracy,
    * and roll the gaps into Expected Calibration Error. A router that
    * acts on confidence ("auto-accept above 0.9") needs THIS, not
    * accuracy: an 80%-accurate predictor that says 0.99 everywhere
    * passes q231 and still routes garbage. Output: per-bin n, correct
    * count, mean confidence, accuracy, signed gap (negative =
    * overconfident), with ece_bp = Σ n_b·|gap_b|/N carried per row
    * (the q274 constant-column convention).
    *
    * Exact integers: confidence arrives in bp; bin = s·k // 10⁴
    * clamped to k−1; per-bin mean and accuracy are single truncating
    * divisions; sums in decimal(38,0) (Σscore at 10¹² rows outruns a
    * long). Scale: one map-side pass + a k-row aggregation — nothing
    * corpus-sized ever shuffles. */
  def calibration(scored: DataFrame, scoreBp: String, isCorrect: String,
                  nBins: Int = 10): DataFrame = {
    require(nBins >= 1)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val binned = scored.select(
        least(F.idiv(col(scoreBp) * lit(nBins.toLong), lit(10000L)),
          lit(nBins - 1L)).as("bin"),
        col(scoreBp).as("s"), col(isCorrect).cast("long").as("ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"),
        sum(dec(col("s"))).as("ss"))
    val g = binned.select(col("bin"), col("n_docs"), col("n_correct"),
        F.idiv(col("ss"), dec(col("n_docs"))).as("conf_bp"),
        F.idiv(lit(10000L) * col("n_correct"), col("n_docs")).as("acc_bp"))
      .withColumn("gap_bp", col("acc_bp") - col("conf_bp"))
      .localCheckpoint() // k rows feed the report AND the ECE fold
    val ece = g.agg(F.idiv(sum(dec(col("n_docs")) * abs(col("gap_bp"))),
      sum(dec(col("n_docs")))).as("ece_bp"))
    g.crossJoin(broadcast(ece))
  }

  /** BRIER SCORE DECOMPOSITION (round 14) — Murphy's three-way split
    * of a probabilistic forecast's quality over the q276 bin grid:
    * Brier = RELIABILITY − RESOLUTION + UNCERTAINTY. Reliability is
    * the calibration penalty (q276's gaps, squared and mass-weighted),
    * resolution REWARDS bins whose outcome rate departs from the base
    * rate (a forecaster can be perfectly calibrated and useless —
    * this is the number that separates them), uncertainty is the
    * irreducible ō(1−ō). Exact integers on the e8 grid: per bin the
    * squared numerators assemble from EXACT sums before the one floor
    * per bin — rel term = ⌊(Σs − 10⁴·Σy)²/n⌋, res term =
    * ⌊10⁸·(Σy·N − Y·n)²/(n·N²)⌋ — then one idiv by N; uncertainty
    * ⌊10⁸·Y·(N−Y)/N²⌋. One row; the identity rel − res + unc is the
    * Brier estimate on the binned grid (floors documented).
    *
    * Scale (100 TB): rides the same one-pass bin aggregation as
    * q276 + a 3-number fold. */
  def brierDecomposition(scored: DataFrame, scoreBp: String,
                         isCorrect: String, nBins: Int = 10): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val binned = scored.select(
        least(F.idiv(col(scoreBp) * lit(nBins.toLong), lit(10000L)),
          lit(nBins - 1L)).as("bin"),
        col(scoreBp).as("s"), col(isCorrect).cast("long").as("ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("y"),
        sum(dec(col("s"))).as("ss"))
    val tot = binned.agg(sum(col("n")).as("nn"), sum(col("y")).as("yy"))
    val terms = binned.crossJoin(broadcast(tot))
      .select(col("n"), col("nn"), col("yy"),
        F.idiv((col("ss") - dec(lit(10000L)) * dec(col("y"))) *
          (col("ss") - dec(lit(10000L)) * dec(col("y"))), dec(col("n")))
          .as("relt"),
        F.idiv(dec(lit(100000000L)) *
          (dec(col("y")) * dec(col("nn")) - dec(col("yy")) * dec(col("n"))) *
          (dec(col("y")) * dec(col("nn")) - dec(col("yy")) * dec(col("n"))),
          dec(col("n")) * dec(col("nn")) * dec(col("nn")))
          .as("rest"))
    terms.groupBy(col("nn"), col("yy"))
      .agg(count(lit(1)).as("n_bins"), sum(col("relt")).as("rel"),
        sum(col("rest")).as("res"))
      .select(col("nn").as("n"), col("n_bins"),
        F.idiv(col("rel"), dec(col("nn"))).cast("long").as("reliability_e8"),
        F.idiv(col("res"), dec(col("nn"))).cast("long").as("resolution_e8"),
        F.idiv(dec(lit(100000000L)) * dec(col("yy")) *
          dec(col("nn") - col("yy")), dec(col("nn")) * dec(col("nn")))
          .cast("long").as("uncertainty_e8"))
      .withColumn("brier_e8", col("reliability_e8") - col("resolution_e8") +
        col("uncertainty_e8"))
  }

  /** q372: Brier decomposition of the q42 marker score as a
    * correctness forecast, 10 bins. */
  def q372(s: SparkSession, d: String): DataFrame =
    brierDecomposition(langIdScored(s, d), "top_score_bp", "ok")

  /** ISOTONIC CALIBRATION (round 13) — the monotone-fit member of the
    * score-quality family: q276 reports binned calibration GAPS, this
    * produces the calibrated MAP — the best monotone (non-decreasing)
    * probability curve over the score axis, the standard post-hoc
    * calibrator (Zadrozny–Elkan) applied before anyone thresholds a
    * classifier score. Computed by the closed-form max–min identity
    * (equivalent to PAVA, but expressible as bounded joins):
    *   iso(i) = max_{j ≤ i} min_{k ≥ j} rate(j..k)
    * over the binned score grid, with interval rates from prefix sums
    * and the floor taken PER INTERVAL on the bp grid — deterministic,
    * engine-replayable, and still monotone (the prefix max of
    * j-minima is non-decreasing by construction). Scores pre-bin to a
    * declared lattice (binWidthBp) so the interval table is grid²
    * BOUNDED (≤ 101² at the default), never corpus-sized.
    *
    * Scale (100 TB): one corpus aggregation to the score grid; all
    * pair/window work is grid²-bounded integers. */
  def isotonicCalibration(scored: DataFrame, scoreBp: String,
                          isCorrect: String,
                          binWidthBp: Long = 100L): DataFrame = {
    require(binWidthBp >= 1L)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val grid = scored.select(
        F.idiv(col(scoreBp), lit(binWidthBp)).as("level"),
        col(isCorrect).cast("long").as("ok"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_ok"))
    val w = Window.orderBy(col("level").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("cn", sum(col("n_docs")).over(w))
      .withColumn("cc", sum(col("n_ok")).over(w))
      .localCheckpoint() // grid-sized; feeds both pair sides
    val lo = cum.select(col("level").as("j"),
      (col("cn") - col("n_docs")).as("n0"), (col("cc") - col("n_ok")).as("c0"))
    val hi = cum.select(col("level").as("k"), col("cn"), col("cc"))
    val mj = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), F.idiv(dec(lit(10000L)) * (col("cc") - col("c0")),
        dec(col("cn") - col("n0"))).as("q"))
      .groupBy(col("j")).agg(min(col("q")).as("m"))
    val pmax = Window.orderBy(col("j").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = mj.withColumn("iso_bp", max(col("m")).over(pmax))
      .select(col("j").as("level"), col("iso_bp").cast("long").as("iso_bp"))
    cum.join(iso, "level")
      .select(col("level"), col("n_docs"),
        F.idiv(lit(10000L) * col("n_ok"), col("n_docs")).as("acc_bp"),
        col("iso_bp"))
  }

  /** q344: isotonic-calibrated accuracy curve of the q42 language-ID
    * confidence score (the q276 pairing). */
  def q344(s: SparkSession, d: String): DataFrame =
    isotonicCalibration(langIdScored(s, d), "top_score_bp", "ok")

  /** The shared score-quality input: q42's language-ID confidence
    * paired with label correctness — the (score, ok) frame q276/q278/
    * q308/q344/q352 all evaluate (hoisted r13; four verbatim copies
    * had accumulated and could drift apart). */
  private def langIdScored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pred = languageId(docs, "doc_id", "text", langMarkers)
    docs.select(col("doc_id"), col("lang")).join(pred, "doc_id")
      .select(col("top_score_bp"),
        (col("pred_lang") === col("lang")).cast("long").as("ok"))
  }

  /** OPERATING-THRESHOLD PICK (round 13) — the DECISION member of the
    * score-quality family: AUC (q278) says the score ranks, the PR
    * curve (q308) and calibration (q276/q344) describe it, but a
    * deployed filter needs ONE threshold — this reports the classic
    * two: the F1 maximizer (when positives are what you keep) and the
    * Youden J maximizer (tpr − fpr; when both error kinds cost
    * equally). On the bounded score grid: descending cumulative
    * TP/FP, exact integer criteria — f1_bp = ⌊2·10⁴·tp / (2tp+fp+fn)⌋
    * and youden_milli = ⌊1000·(tp·N − fp·P)/(P·N)⌋ — deterministic
    * argmax by (criterion DESC, threshold ASC).
    *
    * Scale: one corpus aggregation to the ≤10⁴+1-row score grid (the
    * q278 discipline), bounded-grid windows, two 1-row picks. */
  def thresholdPick(scored: DataFrame, scoreBp: String,
                    isPositive: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val grid = scored.select(col(scoreBp).as("t"),
        col(isPositive).cast("long").as("ok"))
      .groupBy(col("t"))
      .agg(sum(col("ok")).as("pos"), sum(lit(1L) - col("ok")).as("neg"))
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .withColumn("tp", sum(col("pos")).over(w))
      .withColumn("fp", sum(col("neg")).over(w))
    val tot = grid.agg(sum(col("pos")).as("p"), sum(col("neg")).as("n"))
    val curve = cum.crossJoin(broadcast(tot))
      .select(col("t"), col("tp"), col("fp"), (col("p") - col("tp")).as("fn"),
        F.idiv(lit(20000L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + (col("p") - col("tp")))
          .as("f1_bp"),
        when(col("p") === 0L || col("n") === 0L, lit(null).cast("long"))
          .otherwise(F.idiv(dec(lit(1000L)) *
            (dec(col("tp")) * dec(col("n")) - dec(col("fp")) * dec(col("p"))),
            dec(col("p")) * dec(col("n"))).cast("long")).as("youden_milli"))
      .localCheckpoint() // grid-sized; feeds both picks
    def pick(crit: String, by: Column): DataFrame = curve
      .orderBy(by.desc, col("t").asc).limit(1)
      .select(lit(crit).as("criterion"), col("t").as("threshold_bp"),
        col("tp"), col("fp"), col("fn"), col("f1_bp"), col("youden_milli"))
    pick("f1_max", col("f1_bp"))
      .unionByName(pick("youden_max", col("youden_milli")))
  }

  /** q352: operating thresholds for the q42 language-ID confidence as
    * a correctness classifier (the q278 pairing). */
  def q352(s: SparkSession, d: String): DataFrame =
    thresholdPick(langIdScored(s, d), "top_score_bp", "ok")

  /** ROC-AUC (Mann–Whitney U) — can the score RANK right above wrong?
    * The discrimination half of the score-quality story (q276's
    * calibration is the other half; a score can be perfectly
    * calibrated and useless for ranking, or perfectly ranking and
    * dishonest). AUC = P(score⁺ > score⁻) + ½P(tie), estimated exactly
    * from the integer score grid.
    *
    * Scale: scores arrive in bp, so DISTINCT scores ≤ 10⁴+1 — one
    * corpus-scan aggregation to the (score → n_pos, n_neg) grid, then
    * a windowed cumulative over the BOUNDED grid (the q118/q214
    * quantile-grid discipline; the single-partition window holds ≤10⁴
    * rows at any corpus size). Exact integers: 2U = Σₛ pₛ·(2·N⁻₍ₜ₎ +
    * nₛ) in decimal(38,0), auc_bp = 10⁴·2U // (2·n⁺·n⁻); null when a
    * class is empty (AUC undefined). */
  def aucFromScores(scored: DataFrame, scoreBp: String,
                    label: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val grid = scored.select(col(scoreBp).as("s"),
        col(label).cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    // bounded grid: cumulative negatives strictly below each score
    val w = Window.orderBy(col("s").asc)
    val c = grid.withColumn("cn",
      coalesce(sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val agg = c.agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
      sum(dec(col("p")) * (lit(2L) * dec(col("cn")) + dec(col("n"))))
        .as("u2"))
    agg.select(col("n_pos"), col("n_neg"), col("u2").cast("long").as("u2"),
      when(col("n_pos") === 0L || col("n_neg") === 0L,
        lit(null).cast("long"))
        .otherwise(F.idiv(lit(10000L) * col("u2"),
          lit(2L) * dec(col("n_pos")) * dec(col("n_neg")))).as("auc_bp"))
  }

  /** PR-AUC / AVERAGE PRECISION — the ranking metric for IMBALANCED
    * labels, where q278's ROC-AUC flatters: with 1% positives a
    * ranker can score ROC 0.99 while burying every positive under a
    * thousand false alarms; precision-recall looks only at what the
    * alarm list contains, so AP collapses exactly when the alert
    * queue is garbage. AP = Σ_cuts ΔR·P over the descending distinct-
    * score cuts (the all-or-nothing tie convention: each distinct
    * score is one cut), reported with the prevalence baseline — a
    * no-skill ranker's AP — so the lift is visible in one row.
    *
    * Exact integers on the bounded bp score grid (q278's plan): one
    * corpus aggregation to the grid, a descending cumulative window
    * over ≤10⁴+1 rows, per-cut terms idiv(10⁶·Δtp·tp, tp+fp) floored
    * BEFORE the sum (the q201 per-term discipline), ap_micro one
    * final idiv by n_pos. NULL when no positives exist. */
  def prAucFromScores(scored: DataFrame, scoreBp: String,
                      label: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val grid = scored.select(col(scoreBp).as("s"),
        col(label).cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("n"))
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = grid
      .withColumn("tp", sum(col("p")).over(w))
      .withColumn("fp", sum(col("n")).over(w))
      .select(col("p"), col("n"),
        F.idiv(lit(1000000L) * dec(col("p")) * dec(col("tp")),
          dec(col("tp")) + dec(col("fp"))).as("term"))
    val agg = c.agg(sum(col("p")).as("n_pos"), sum(col("n")).as("n_neg"),
      sum(col("term")).as("term_sum"))
    agg.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(col("term_sum"), col("n_pos"))).as("ap_micro"),
      when(col("n_pos") + col("n_neg") === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(lit(1000000L) * col("n_pos"),
          col("n_pos") + col("n_neg"))).as("prevalence_micro"))
  }

  /** q308: average precision of the q42 confidence as a correctness
    * ranker — the imbalance-honest twin of q278. */
  def q308(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pred = languageId(docs, "doc_id", "text", langMarkers)
    val scored = docs.select(col("doc_id"), col("lang")).join(pred, "doc_id")
      .select(col("top_score_bp"),
        (col("pred_lang") === col("lang")).cast("long").as("ok"))
    prAucFromScores(scored, "top_score_bp", "ok")
  }

  /** q278: does the q42 confidence rank correct predictions above
    * wrong ones — AUC of top_score_bp against label correctness. */
  def q278(s: SparkSession, d: String): DataFrame =
    aucFromScores(langIdScored(s, d), "top_score_bp", "ok")

  /** q276: reliability of the q42 marker predictor's top_score_bp as
    * a confidence signal for lang-label correctness. */
  def q276(s: SparkSession, d: String): DataFrame =
    calibration(langIdScored(s, d), "top_score_bp", "ok", 10)

  /** McNEMAR'S PAIRED TEST — did changing the model actually help?
    * Comparing two predictors by their separate accuracies ignores
    * that they score the SAME items: only the discordant pairs carry
    * evidence. Given per-item correctness of A and B, reports the
    * 2×2 agreement table and χ² = (b−c)²/(b+c) over the discordant
    * counts (b = A-only-right, c = B-only-right) — the gate a marker-
    * profile or quality-threshold change must pass before rollout
    * (χ² > 3.84 ≈ p < 0.05). Null χ² when b+c = 0 (no discordant
    * evidence, the q204 rule). Exact integers: (b−c)² in
    * decimal(38,0), χ² in milli via one truncating division.
    *
    * Scale: one map-side pass to four counters — a single-row
    * aggregation, zero corpus shuffle. */
  def mcnemar(pairs: DataFrame, okA: String, okB: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val a = col(okA).cast("long"); val b = col(okB).cast("long")
    val agg = pairs.agg(count(lit(1)).as("n_items"),
      sum(a * b).as("n_both"),
      sum(a * (lit(1L) - b)).as("a_only"),
      sum((lit(1L) - a) * b).as("b_only"),
      sum((lit(1L) - a) * (lit(1L) - b)).as("n_neither"))
    agg.select(col("n_items"), col("n_both"), col("a_only"), col("b_only"),
      col("n_neither"),
      when(col("a_only") + col("b_only") === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(
          lit(1000L) * (dec(col("a_only")) - dec(col("b_only")))
            * (dec(col("a_only")) - dec(col("b_only"))),
          dec(col("a_only")) + dec(col("b_only")))).as("chi2_milli"))
  }

  /** The first-marker-only degraded profile q279 compares against. */
  val langMarkersLite: Seq[(String, Seq[String])] =
    langMarkers.map { case (l, ms) => (l, ms.take(1)) }

  /** q279: is the full 3-marker q42 profile actually better than the
    * 1-marker variant on the SAME documents — McNemar over paired
    * correctness. */
  def q279(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def ok(markers: Seq[(String, Seq[String])], as: String) =
      languageId(docs, "doc_id", "text", markers)
        .select(col("doc_id"), col("pred_lang").as(as))
    val paired = docs.select(col("doc_id"), col("lang"))
      .join(ok(langMarkers, "pa"), "doc_id")
      .join(ok(langMarkersLite, "pb"), "doc_id")
      .select((col("pa") === col("lang")).cast("long").as("ok_a"),
        (col("pb") === col("lang")).cast("long").as("ok_b"))
    mcnemar(paired, "ok_a", "ok_b")
  }

  /** q275: κ of the q42 marker predictor against the lang label — the
    * chance-corrected headline over q231's confusion matrix. */
  def q275(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pred = languageId(docs, "doc_id", "text", langMarkers)
      .select(col("doc_id"), col("pred_lang"))
    cohensKappa(docs.select(col("doc_id"), col("lang")).join(pred, "doc_id"),
      "lang", "pred_lang")
  }

  /** READABILITY SCORING (round 15) — Flesch Reading Ease + Flesch–
    * Kincaid grade, the classic surface-complexity quality signal the
    * q41 length/punct/stopword score does not cover: two corpora with
    * identical token stats can differ wildly in sentence length and
    * word complexity, and published pretraining filters (and every
    * content style guide) read exactly these two numbers.
    *
    * Counting heuristics, all RE2-safe character classes so both
    * engines count identically:
    *   words      W = matches of \S+          (whitespace tokens)
    *   sentences  S = max(matches of [.!?]+, 1)  (terminator runs;
    *              an unpunctuated doc is one sentence)
    *   syllables  Y = matches of [aeiouy]+ in lower(text) — vowel-
    *              GROUP counting, the standard cheap syllable proxy
    *              (vowel runs never span whitespace, so the doc-level
    *              count equals the per-word sum; all-consonant tokens
    *              contribute 0 — documented, not special-cased, to
    *              keep the count one regexp pass with no lookahead,
    *              which RE2 lacks)
    * Exact integer fixed point (idiv truncation both engines):
    *   wps_milli = ⌊1000·W/S⌋, spw_milli = ⌊1000·Y/W⌋
    *   fre_milli = 206835 − ⌊1015·wps_milli/1000⌋ − ⌊84600·spw_milli/1000⌋
    *   fkg_milli = ⌊390·wps_milli/1000⌋ + ⌊11800·spw_milli/1000⌋ − 15590
    * rolled up per language as truncating-idiv means (negative-sum
    * truncation agrees cross-engine: both truncate toward zero).
    *
    * Scale (100 TB): three regexp_count passes per document, all
    * map-side codegen; one |langs|-cardinality aggregation. */
  def readability(docs: DataFrame, text: String, group: String): DataFrame = {
    val perDoc = docs
      .select(col(group).as("g"),
        expr(s"regexp_count($text, '\\\\S+')").as("w"),
        greatest(expr(s"regexp_count($text, '[.!?]+')"), lit(1)).as("s"),
        expr(s"regexp_count(lower($text), '[aeiouy]+')").as("y"))
      .where(col("w") > 0)
      .select(col("g"),
        F.idiv(lit(1000L) * col("w"), col("s")).as("wps_milli"),
        F.idiv(lit(1000L) * col("y"), col("w")).as("spw_milli"))
      .select(col("g"),
        (lit(206835L) - F.idiv(lit(1015L) * col("wps_milli"), lit(1000L)) -
          F.idiv(lit(84600L) * col("spw_milli"), lit(1000L)))
          .as("fre_milli"),
        (F.idiv(lit(390L) * col("wps_milli"), lit(1000L)) +
          F.idiv(lit(11800L) * col("spw_milli"), lit(1000L)) - lit(15590L))
          .as("fkg_milli"))
    perDoc.groupBy(col("g").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fre_milli")).as("sf"), sum(col("fkg_milli")).as("sk"),
        min(col("fre_milli")).as("min_fre_milli"),
        max(col("fre_milli")).as("max_fre_milli"))
      .select(col("lang"), col("n_docs"),
        F.idiv(col("sf"), col("n_docs")).as("mean_fre_milli"),
        F.idiv(col("sk"), col("n_docs")).as("mean_fkg_milli"),
        col("min_fre_milli"), col("max_fre_milli"))
  }

  /** q380: per-language Flesch reading-ease / FK-grade profile of the
    * documents corpus — the surface-complexity read next to q41's
    * quality score and q232's distribution-shape diagnostics. */
  def q380(s: SparkSession, d: String): DataFrame =
    readability(Tables.documents(s, d), "text", "lang")

  /** BLAND–ALTMAN AGREEMENT (round 15) — "are two meters of the same
    * quantity interchangeable": correlation (q93/q286) is the WRONG
    * tool for that question (two meters can correlate at 0.99 and
    * still disagree by a constant 30% — correlation rewards any
    * monotone relation, agreement needs the DIFFERENCES). The
    * Bland–Altman read: per item d = m₂ − m₁, the BIAS (mean d), the
    * 95% limits of agreement (bias ± 1.96·sd), and how much of the
    * corpus falls outside them. Instantiated on the two TOKEN METERS
    * every budget number depends on (q40's whitespace count vs the
    * BPE-ish regex count): the bias is the systematic factor to apply
    * when converting between the two accountings, and the LoA say
    * whether a per-document conversion is trustworthy at all.
    *
    * Exact integers end to end: d is an integer, bias_milli one
    * truncating idiv, sd_milli the corrected exact isqrt of
    * ⌊10⁶·(nΣd²−(Σd)²)/(n(n−1))⌋ (remainder-subtraction exact decimal
    * floor division), LoA pure integer arithmetic, and the outside
    * count one broadcast-join pass over the recomputed per-item
    * diffs. No doubles anywhere but the isqrt candidate (±1-corrected).
    *
    * Scale (100 TB): diffs are map-side; one 3-number moment fold +
    * one more map pass with the 1-row stats broadcast back. */
  def blandAltman(df: DataFrame, m1: Column, m2: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def dfloor(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("decimal(38,0)")
    val diffs = df.select((m2.cast("long") - m1.cast("long")).as("d"))
      .localCheckpoint() // feeds the moment fold AND the outside count
    val m = diffs.agg(count(lit(1)).as("n"), sum(dec(col("d"))).as("sd_"),
      sum(dec(col("d")) * dec(col("d"))).as("ssd"))
    val n = dec(col("n"))
    val varNum = n * col("ssd") - col("sd_") * col("sd_")
    val sdMilli = F.isqrtLong(dfloor(dec(lit(1000000L)) * varNum,
      greatest(n * (n - dec(lit(1L))), dec(lit(1L)))))
    val stats = m.select(col("n"),
      F.idiv(dec(lit(1000L)) * col("sd_"), n).cast("long").as("bias_milli"),
      when(col("n") < 2L, lit(null).cast("long"))
        .otherwise(sdMilli.cast("long")).as("sd_milli"))
      .withColumn("loa_lo_milli",
        when(col("sd_milli").isNull, lit(null).cast("long"))
          .otherwise(col("bias_milli") -
            F.idiv(lit(196L) * col("sd_milli"), lit(100L))))
      .withColumn("loa_hi_milli",
        when(col("sd_milli").isNull, lit(null).cast("long"))
          .otherwise(col("bias_milli") +
            F.idiv(lit(196L) * col("sd_milli"), lit(100L))))
    diffs.crossJoin(broadcast(stats))
      .groupBy(col("n"), col("bias_milli"), col("sd_milli"),
        col("loa_lo_milli"), col("loa_hi_milli"))
      .agg(sum(when(col("loa_lo_milli").isNotNull &&
          (lit(1000L) * col("d") < col("loa_lo_milli") ||
            lit(1000L) * col("d") > col("loa_hi_milli")), 1L)
        .otherwise(0L)).as("n_outside"))
      .select(col("n").as("n_docs"), col("bias_milli"), col("sd_milli"),
        col("loa_lo_milli"), col("loa_hi_milli"), col("n_outside"),
        F.idiv(lit(10000L) * col("n_outside"), col("n")).as("outside_bp"))
  }

  /** q385: do the whitespace and BPE-ish token meters agree per
    * document — the calibration read behind every cross-meter token
    * budget conversion. */
  def q385(s: SparkSession, d: String): DataFrame = {
    val docs = withToks(Tables.documents(s, d))
    blandAltman(
      docs.select(size(toks).as("m1"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("m2")),
      col("m1"), col("m2"))
  }

  /** LUHN CHECKSUM PAYMENT-CARD DETECTION (round 15) — the upgrade
    * that turns q48's "mask every digit run" into a targeted detector:
    * a naive [0-9]{13,19} CC rule flags order numbers, timestamps and
    * ids wholesale, while real card numbers carry a Luhn check digit —
    * validating the checksum cuts the false-positive mass ~10× (a
    * uniform-random digit run passes Luhn with p = 1/10), which is the
    * difference between a reviewable PII report and noise.
    *
    * Harness shape (the q282 planted-recall convention): one
    * deterministic 16-digit number planted per document — doc_id%3==0
    * gets the CORRECT Luhn check digit (a synthetic "card"), the rest
    * get check+1 mod 10 (guaranteed invalid) — and the detector runs
    * blind over every 13–19-digit run in the planted corpus, the
    * natural runs included. Output: the planted_valid row must
    * validate at 10000 bp, planted_invalid at 0, and the natural row
    * measures the corpus' own Luhn-pass base rate (the false-positive
    * mass a checksum-less rule would ship).
    *
    * Exact arithmetic: per digit, doubled-from-the-right per the Luhn
    * rule with the −9 fold, per-run integer sum, valid ⟺ mod 10 = 0;
    * the plant's check digit is derived by the same integer chain so
    * both engines construct identical corpora. One posexplode at
    * (doc, run, ≤19 digits) fan-out, one run-grain aggregation.
    *
    * Scale (100 TB): map-side regexp extraction, bounded per-run
    * fan-out, one aggregation at the class grain. */
  def luhnEval(docs: DataFrame, id: String, text: String): DataFrame = {
    val did = col("docid")
    // 15-digit deterministic base, left-padded
    val base = lpad(((did * lit(7919L)) % lit(1000000000000000L))
      .cast("string"), 15, "0")
    val planted = docs
      .select(col(id).cast("long").as("docid"), col(text).as("t"))
      .withColumn("base", base)
    // check digit: base digit i (0-based from left of 15) sits at
    // position 16-i from the right of the 16-digit number -> doubled
    // iff (16-i) is even iff i is even
    val baseSum = planted
      .select(col("docid"), posexplode(split(col("base"), "")))
      .where(col("col") =!= "")
      .select(col("docid"), col("pos"),
        (ascii(col("col")) - lit(48)).as("dg"))
      .withColumn("f", when(col("pos") % 2 === 0,
        lit(2) * col("dg") - when(lit(2) * col("dg") > 9, 9).otherwise(0))
        .otherwise(col("dg")))
      .groupBy(col("docid")).agg(sum(col("f")).as("s"))
      .select(col("docid"),
        ((lit(10L) - col("s") % 10L) % 10L).as("check"))
    val corpus = planted.join(baseSum, "docid")
      .withColumn("digit", when(col("docid") % 3 === 0, col("check"))
        .otherwise((col("check") + 1L) % 10L))
      .withColumn("t2", concat(col("t"), lit(" "), col("base"),
        col("digit").cast("string")))
      .withColumn("planted_valid", col("docid") % 3 === 0)
    // the detector, blind: every 13-19 digit run, Luhn-validated;
    // runs key by the deterministic (docid, run_i) posexplode index
    val scored = corpus.select(col("docid"), col("planted_valid"),
        col("base"),
        posexplode(regexp_extract_all(col("t2"),
          lit("[0-9]{13,19}"), lit(0))).as(Seq("run_i", "run")))
      .withColumn("rl", length(col("run")))
      .withColumn("is_plant", col("run").startsWith(col("base")))
    val digitSums = scored
      .select(col("docid"), col("run_i"), col("rl"),
        posexplode(split(col("run"), "")))
      .where(col("col") =!= "")
      .select(col("docid"), col("run_i"),
        (ascii(col("col")) - lit(48)).as("dg"),
        (col("rl") - col("pos")).as("from_right"))
      .withColumn("f", when(col("from_right") % 2 === 0,
        lit(2) * col("dg") - when(lit(2) * col("dg") > 9, 9).otherwise(0))
        .otherwise(col("dg")))
      .groupBy(col("docid"), col("run_i"))
      .agg((sum(col("f")) % 10L === 0L).as("luhn_ok"))
    scored.join(digitSums, Seq("docid", "run_i"))
      .withColumn("cls", when(col("is_plant") && col("planted_valid"),
        "planted_valid")
        .when(col("is_plant"), "planted_invalid")
        .otherwise("natural"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_runs"),
        sum(col("luhn_ok").cast("long")).as("n_luhn_valid"))
      .select(col("cls"), col("n_runs"), col("n_luhn_valid"),
        F.idiv(lit(10000L) * col("n_luhn_valid"), col("n_runs"))
          .as("valid_bp"))
  }

  /** q386: the Luhn detector over the planted documents corpus. */
  def q386(s: SparkSession, d: String): DataFrame =
    luhnEval(Tables.documents(s, d), "doc_id", "text")

  /** HOMOGLYPH / MIXED-SCRIPT SPOOFING AUDIT (round 15) — the
    * obfuscation detector the script-conformity audit (q267) cannot
    * express: q267 counts non-ASCII SHARE per language, but a spoofed
    * token ("dаta" with a Cyrillic а) hides at negligible share while
    * defeating exact dedup, blocklists, and keyword search — the
    * signature is Latin AND a confusable script INSIDE THE SAME TOKEN,
    * which is vanishingly rare in honest text (loanwords switch script
    * at token boundaries).
    *
    * Harness shape (q282 planting): docs with doc_id%5==0 get one
    * id-derived spoofed token appended ("dаtа<id>" — Latin d/t, the
    * Cyrillic а U+0430 twice); the detector then counts, per language,
    * documents carrying ≥1 mixed Latin+Cyrillic token and the total
    * mixed-token count — a planted doc must flag, a clean doc must
    * not (the corpus is pure ASCII, asserted by q267's spec).
    *
    * Both engines see identical classes: Java \p{IsCyrillic} mirrors
    * RE2 \p{Cyrillic} (the SegScript precedent). Map-side only; one
    * |langs| aggregation.
    *
    * Scale (100 TB): one conditional-regex scan pass, the q169
    * two-stage cheap-prescan discipline applies unchanged. */
  def homoglyphAudit(docs: DataFrame, id: String, text: String,
                     group: String): DataFrame = {
    val did = col("docid").cast("string")
    // the spoof token: Latin d/t around Cyrillic U+0430 — explicit
    // escapes so the byte sequence is pinned, not editor-dependent
    val spoof = " d\u0430t\u0430"
    val planted = docs.select(col(id).cast("long").as("docid"),
        col(text).as("t"), col(group).as("g"))
      .withColumn("t2", when(col("docid") % 5 === 0,
        concat(col("t"), lit(spoof), did))
        .otherwise(col("t")))
    // a mixed token carries a Latin letter AND a Cyrillic letter with
    // no intervening whitespace — one two-directional regex pair
    // (Column-API regexp_count: the pattern must not pass through the
    // SQL parser's string-literal unescaping)
    val mixed = "[a-zA-Z][^ ]*\\p{IsCyrillic}|\\p{IsCyrillic}[^ ]*[a-zA-Z]"
    planted
      .withColumn("n_mixed",
        when(col("t2").rlike("[^\\x00-\\x7f]"),
          regexp_count(col("t2"), lit(mixed))).otherwise(lit(0)))
      .groupBy(col("g").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_mixed") > 0).cast("long")).as("n_flagged_docs"),
        sum(col("n_mixed").cast("long")).as("n_mixed_tokens"))
      .withColumn("flagged_bp",
        F.idiv(lit(10000L) * col("n_flagged_docs"), col("n_docs")))
  }

  /** q387: the mixed-script audit over the planted documents corpus —
    * exactly the doc_id%5 plants must flag, per language. */
  def q387(s: SparkSession, d: String): DataFrame =
    homoglyphAudit(Tables.documents(s, d), "doc_id", "text", "lang")

  /** MARKUP SCRUB ACCOUNTING (round 15) — the HTML-ingest cleanup
    * stage (tag strip + entity decode) with the exact accounting a
    * pipeline owner audits: crawled text arrives with residual markup,
    * and "how much did the scrub remove, and does length reconcile"
    * is the invariant that catches a broken extractor before it
    * poisons token budgets downstream.
    *
    * Harness shape (q282 planting): every document gains an id-derived
    * markup suffix — an anchor tag pair, a bold pair, and the five
    * standard entities — so the scrub has deterministic work on every
    * row. The scrub: strip <[^>]*> runs, then decode &amp; &lt; &gt;
    * &quot; &#39; (in that order, amp FIRST would double-decode —
    * deliberately decoded LAST so &amp;lt; stays the literal "&lt;"
    * the author wrote; the order is part of the contract and the spec
    * pins it).
    *
    * Per language: docs, raw/clean length sums, tags removed, entities
    * decoded, and the RECONCILIATION column — raw − clean must equal
    * Σ tag lengths + Σ (entity length − 1) exactly; a nonzero residual
    * names a scrub bug. All exact integers, map-side, one |langs|
    * aggregation.
    *
    * Scale (100 TB): regexp map work + one bounded-key aggregation. */
  def markupScrub(docs: DataFrame, id: String, text: String,
                  group: String): DataFrame = {
    val did = col("docid").cast("string")
    val planted = docs.select(col(id).cast("long").as("docid"),
        col(text).as("t"), col(group).as("g"))
      .withColumn("t2", concat(col("t"),
        lit(" <a href=\"http://x/"), did, lit("\">link"), did,
        lit("</a> &amp; <b>b"), did, lit("</b> &lt;&gt;&quot;&#39;")))
    val tagStripped = regexp_replace(col("t2"), "<[^>]*>", "")
    // entity decode, amp LAST (see scaladoc)
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(tagStripped,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&amp;", "&")
    planted
      .withColumn("raw_len", length(col("t2")).cast("long"))
      .withColumn("clean", decoded)
      .withColumn("clean_len", length(col("clean")).cast("long"))
      .withColumn("n_tags",
        expr("regexp_count(t2, '<[^>]*>')").cast("long"))
      .withColumn("tag_len", (length(col("t2")) -
        length(regexp_replace(col("t2"), "<[^>]*>", ""))).cast("long"))
      // EXPECTED shrink from the per-type counts alone — independent
      // of what the decode actually did, so the reconciliation is a
      // real check, not an identity: amp 5->1, lt/gt 4->1, quot 6->1,
      // #39 5->1 (counts taken on the TAG-STRIPPED text the decode
      // runs on, so entities inside stripped tags don't inflate it)
      .withColumn("ts_", regexp_replace(col("t2"), "<[^>]*>", ""))
      .withColumn("n_entities", expr(
        "regexp_count(ts_, '&(amp|lt|gt|quot|#39);')").cast("long"))
      .withColumn("ent_shrink",
        (lit(4L) * expr("regexp_count(ts_, '&amp;')") +
          lit(3L) * expr("regexp_count(ts_, '&lt;')") +
          lit(3L) * expr("regexp_count(ts_, '&gt;')") +
          lit(5L) * expr("regexp_count(ts_, '&quot;')") +
          lit(4L) * expr("regexp_count(ts_, '&#39;')")).cast("long"))
      .groupBy(col("g").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("raw_len")).as("sum_raw_len"),
        sum(col("clean_len")).as("sum_clean_len"),
        sum(col("n_tags")).as("n_tags"),
        sum(col("n_entities")).as("n_entities"),
        sum(col("raw_len") - col("clean_len") - col("tag_len") -
          col("ent_shrink")).as("residual"))
  }

  /** q388: the markup scrub + reconciliation over the planted corpus —
    * residual must read 0 in every language row. */
  def q388(s: SparkSession, d: String): DataFrame =
    markupScrub(Tables.documents(s, d), "doc_id", "text", "lang")

  /** FLEISS' KAPPA (round 16) — multi-rater chance-corrected agreement,
    * the n>2 generalization q275's Cohen κ cannot express (Cohen is
    * defined for exactly two raters; averaging pairwise κs over-counts
    * the shared-marginal raters). Labeling pipelines routinely fan one
    * item to 3-5 annotators (or heuristic labelers) and gate on "is the
    * panel better than chance" — that number IS Fleiss' κ.
    *
    * Input grain: one row per (item, rater) with a categorical label —
    * the tidy long format every annotation store exports. Per item i and
    * category j, n_ij = raters voting j; with n raters/item and N items:
    *   P̄  = Σ_i (Σ_j n_ij² − n) / (N·n·(n−1))   observed agreement
    *   P̄e = Σ_j (Σ_i n_ij)² / (N·n)²            chance agreement
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    * Everything stays on the integer lattice: with A = Σ_i(Σ_j n_ij²−n)
    * and S = Σ_j c_j², multiplying κ through by 2·N²·n²·(n−1) gives
    *   κ_bp = ⌊10000·(A·n·N² − S·N·(n−1)) / (N²·n²·(n−1)·N − S·N·(n−1))⌋
    * — reduced here with n pinned per call. Long bounds: the largest
    * product is N²·n²·(n−1), so exact-lattice κ holds to N ≈ 7·10⁸
    * items at n = 3; past that the 100 TB path reads the same κ from
    * the bp-rounded P̄/P̄e columns (already emitted) instead of the
    * exact ratio — the N² term is the statistic's, not the plan's
    * (still one item-grain aggregation).
    *
    * Output: one row per category with its column total and vote share
    * (the marginal a reviewer reads first), then the ALL row carrying
    * P̄/P̄e/κ in bp. Degenerate panels (every rater one category → P̄e=1)
    * read NULL κ — agreement with no variation is not evidence.
    *
    * Scale (100 TB): one (item, label)-grain count aggregation, one
    * item-grain fold, one k-row category rollup — no joins, no row
    * explosion; the item-grain shuffle is the price of the statistic. */
  def fleissKappa(ratings: DataFrame, item: String, label: String,
                  raters: Int): DataFrame = {
    require(raters >= 2, "Fleiss' kappa needs at least two raters")
    val nL = raters.toLong
    val cell = ratings.groupBy(col(item).as("i"), col(label).as("j"))
      .agg(count(lit(1)).as("nij"))
    // per-item Σ n_ij² (items with a missing rater fail loudly: the
    // statistic's denominator assumes a full panel per item)
    val perItem = cell.groupBy(col("i"))
      .agg(sum(col("nij") * col("nij")).as("sq"),
        sum(col("nij")).as("nv"))
    val a = perItem.agg(
      count(lit(1)).as("n_items"),
      sum(col("sq") - lit(nL)).as("a_sum"),
      max((col("nv") =!= nL).cast("int")).as("ragged"))
    val cats = cell.groupBy(col("j"))
      .agg(sum(col("nij")).as("c_total"))
    val s = cats.agg(sum(col("c_total") * col("c_total")).as("s_sum"))
    val catRows = cats.crossJoin(broadcast(a)) // 1-row scalar
      .select(col("j").cast("string").as("category"), col("c_total"),
        F.idiv(lit(10000L) * col("c_total"), col("n_items") * lit(nL))
          .as("share_bp"),
        lit(null).cast("long").as("p_bar_bp"),
        lit(null).cast("long").as("p_e_bp"),
        lit(null).cast("long").as("kappa_bp"))
    val nn = col("n_items")
    val allRow = a.crossJoin(broadcast(s))
      .select(lit("ALL").as("category"),
        nn * lit(nL) as "c_total",
        lit(null).cast("long").as("share_bp"),
        F.idiv(lit(10000L) * col("a_sum"), nn * lit(nL * (nL - 1L)))
          .as("p_bar_bp"),
        F.idiv(lit(10000L) * col("s_sum"), nn * nn * lit(nL * nL))
          .as("p_e_bp"),
        when(col("ragged") === 1, lit(null).cast("long")) // loud, not wrong
          .when(nn * nn * lit(nL * nL) === col("s_sum"),
            lit(null).cast("long")) // P̄e = 1: zero label variation
          .otherwise(F.idiv(
            lit(10000L) * (col("a_sum") * lit(nL) * nn -
              col("s_sum") * lit(nL - 1L)),
            nn * nn * lit(nL * nL * (nL - 1L)) -
              col("s_sum") * lit(nL - 1L)))
          .as("kappa_bp"))
    catRows.unionAll(allRow).orderBy(col("category"))
  }

  /** Three deterministic single-pass "raters" over a document: length
    * band, whitespace-token band, and 'e'-count band — three different
    * surface meters of the same size-ish construct, so the panel agrees
    * well but not perfectly (band edges disagree), which is exactly the
    * regime κ is for. Cut points are corpus-tertile literals shared
    * verbatim with the oracle. */
  private def sizeRaterLong(docs: DataFrame, item: String): DataFrame = {
    def band(c: Column, lo: Long, hi: Long): Column =
      when(c < lo, lit(0L)).when(c < hi, lit(1L)).otherwise(lit(2L))
    val spaces = length(col("text")) -
      length(regexp_replace(col("text"), " ", ""))
    val es = length(col("text")) -
      length(regexp_replace(col("text"), "e", ""))
    docs.select(col(item).as("i"),
      band(col("n_chars"), 216L, 380L).as("r_len"),
      band(spaces.cast("long"), 38L, 68L).as("r_ws"),
      band(es.cast("long"), 17L, 29L).as("r_e"))
      .selectExpr("i",
        "stack(3, 'len', r_len, 'ws', r_ws, 'e', r_e) AS (rater, label)")
  }

  /** q401: Fleiss' κ of the three-size-rater panel over the documents
    * corpus — the multi-rater agreement headline next to q275's
    * two-rater κ and q385's Bland–Altman meter agreement. */
  def q401(s: SparkSession, d: String): DataFrame =
    fleissKappa(sizeRaterLong(Tables.documents(s, d), "doc_id"),
      "i", "label", 3)

  /** COCHRAN'S Q (round 16) — "do k correlated binary detectors fire at
    * the same rate": the k-treatment generalization of McNemar (q279),
    * exactly as Friedman (q379) generalizes Wilcoxon. Running k quality
    * detectors over one corpus yields k PAIRED binary columns — a naive
    * k×2 χ² (q130) is invalid there because the rows are the same
    * documents, not independent samples. Q = (k−1)·(k·ΣC_j² − T²) /
    * (k·T − ΣR_i²) with C_j the detector totals, R_i the per-item hit
    * counts, T the grand total; under H₀ Q ~ χ²(k−1).
    *
    * Integer lattice end-to-end: numerator and denominator are exact
    * Longs, q_milli = ⌊1000·num/den⌋; items where all detectors agree
    * (R_i = 0 or k) contribute nothing to the denominator — the
    * statistic is driven by the discordant rows only, same as McNemar.
    * Output: one row per detector (total + rate bp) and the ALL row
    * with T, the discordant-row count, q_milli, df, and the χ²(k−1)
    * α=.05 verdict against the published critical value (pinned as a
    * driver literal the oracle shares).
    *
    * Scale (100 TB): the detectors are map-side flags; one item-grain
    * aggregation (R_i) and one k-row rollup. No joins. */
  val ChiSqCritMilliDf2: Long = 5991L // χ²(2), α = .05 (published table)
  def cochranQ(flags: DataFrame, item: String,
               detectors: Seq[(String, Column)]): DataFrame = {
    val k = detectors.size.toLong
    require(k >= 2, "Cochran's Q needs at least two detectors")
    val perItem = flags.select(col(item) +:
      detectors.map { case (n, c) => c.cast("long").as(n) }: _*)
    val rAgg = perItem
      .select((detectors.map(d => col(d._1)).reduce(_ + _)).as("r"))
      .agg(count(lit(1)).as("n_items"), sum(col("r")).as("t"),
        sum(col("r") * col("r")).as("r_sq"),
        sum((col("r") > 0L && col("r") < k).cast("long")).as("n_discord"))
    val cSums = detectors.map(d => sum(col(d._1)).as(d._1))
    val cAgg = perItem.agg(cSums.head, cSums.tail: _*)
    val cSq = detectors.map(d => col(d._1) * col(d._1)).reduce(_ + _)
    val den = lit(k) * col("t") - col("r_sq")
    val qMilli = F.idiv(lit(1000L * (k - 1L)) *
      (lit(k) * cSq - col("t") * col("t")), den)
    val nulL = lit(null).cast("long"); val nulI = lit(null).cast("int")
    // one corpus pass: both 1-row scalars join, then a constant-width
    // explode emits the k detector rows and the ALL row together
    cAgg.crossJoin(broadcast(rAgg))
      .select(explode(array(
        detectors.map { case (n, _) =>
          struct(lit(n).as("detector"), col(n).as("hits"),
            F.idiv(lit(10000L) * col(n), col("n_items")).as("rate_bp"),
            nulL.as("n_discord"), nulL.as("q_milli"), nulL.as("df"),
            nulI.as("reject"))
        } :+ struct(lit("ALL").as("detector"), col("t").as("hits"),
          nulL.as("rate_bp"), col("n_discord"),
          when(den === 0L, nulL).otherwise(qMilli).as("q_milli"),
          lit(k - 1L).as("df"),
          when(den === 0L, nulI)
            .otherwise((qMilli >= lit(ChiSqCritMilliDf2)).cast("int"))
            .as("reject")): _*)).as("r"))
      .select(col("r.detector"), col("r.hits"), col("r.rate_bp"),
        col("r.n_discord"), col("r.q_milli"), col("r.df"), col("r.reject"))
      .orderBy(col("detector"))
  }

  /** q402: Cochran's Q over three correlated corpus detectors (length
    * gate, whitespace gate, 'window'-marker gate) — fires iff the
    * detectors' rates differ beyond what their pairing explains. */
  def q402(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    cochranQ(docs, "doc_id", Seq(
      "d_len" -> (col("n_chars") > 300L),
      "d_ws" -> ((length(col("text")) -
        length(regexp_replace(col("text"), " ", ""))) > 55),
      "d_marker" -> col("text").contains("window")))
  }

  /** PERPLEXITY BUCKETS (round 16) — the CCNet partition: published
    * pretraining pipelines split a crawl into HEAD / MIDDLE / TAIL by
    * LM-perplexity terciles and train preferentially on the head
    * (Wenzek et al.'s CCNet; the LLaMA corpus recipe) — the bucketed
    * complement of a hard gate (q99) and the consumer of the q160
    * bigram-LM score. Terciles are EXACT global order statistics over
    * the (surprisal, doc_id) total order (rank ≤ ⌈n/3⌉ → head,
    * ≤ ⌈2n/3⌉ → middle — both engines pick identical members, the
    * q404 discipline; head = LOWEST surprisal = most corpus-fluent).
    * Docs too short to score (no bigram) land in an UNSCORED bucket —
    * dropping them would silently shrink the denominator every yield
    * number divides by. Per (group, bucket): docs, bigram mass, the
    * surprisal span, and share_bp of the group's docs — the
    * mixture-shift read ("which sources live in the tail") a corpus
    * review starts from.
    *
    * Scale (100 TB): the q160 scorer (shuffle-hash probe, broadcast
    * head marginal) + one global rank (the exact-order-statistic
    * price; the 100 TB swap is approx_percentile cuts, the q248
    * convention), a (group × 4)-row rollup + window share. */
  def pplBuckets(docs: DataFrame, id: String, text: String,
                 group: String): DataFrame = {
    val scored = bigramSurprisal(docs, id, text)
    val withG = docs.select(col(id), col(group).as("g"))
      .join(scored, Seq(id), "left")
      .localCheckpoint() // feeds the scored count, rank, and unscored
    val n = withG.filter(col("mean_surprisal_bp").isNotNull).count()
    val cut1 = (n + 2) / 3; val cut2 = (2 * n + 2) / 3
    val ranked = withG.filter(col("mean_surprisal_bp").isNotNull)
      .withColumn("r", row_number().over(
        Window.orderBy(col("mean_surprisal_bp"), col(id))).cast("long"))
      .select(col("g"),
        when(col("r") <= cut1, "head").when(col("r") <= cut2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_bigrams"), col("mean_surprisal_bp"))
    val unscored = withG.filter(col("mean_surprisal_bp").isNull)
      .select(col("g"), lit("unscored").as("bucket"),
        lit(0L).as("n_bigrams"),
        lit(null).cast("long").as("mean_surprisal_bp"))
    val agg = ranked.unionAll(unscored)
      .groupBy(col("g").as("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"),
        min(col("mean_surprisal_bp")).as("min_s_bp"),
        max(col("mean_surprisal_bp")).as("max_s_bp"))
    agg.withColumn("share_bp", F.idiv(lit(10000L) * col("n_docs"),
        sum(col("n_docs")).over(Window.partitionBy(col("source")))))
      .orderBy(col("source"), col("bucket"))
  }

  /** q406: CCNet-style head/middle/tail perplexity buckets of the
    * documents corpus by source — which sources live in the tail. */
  def q406(s: SparkSession, d: String): DataFrame =
    pplBuckets(Tables.documents(s, d), "doc_id", "text", "source")

  /** INTRACLASS CORRELATION, one-way random ICC(1,1) (round 16) — the
    * CONTINUOUS-rating agreement member: Fleiss (q401) handles
    * categorical panels, Bland–Altman (q385) two meters; ICC is the
    * standard "how much of the variance is the item vs the rater" for
    * k continuous ratings per item — the number reported for
    * annotation-score reliability before averaging raters. From three
    * exact sums (T = Σx, B = Σx², A = Σ_i T_i²):
    *   SSB = A/k − T²/(Nk),  SSW = B − A/k
    *   MSB = SSB/(N−1),      MSW = SSW/(N(k−1))
    *   ICC = (MSB − MSW)/(MSB + (k−1)·MSW)
    * Sums are exact decimal(38,0) products; the assembly is ONE pinned
    * double order (the q337 convention). Degenerate inputs (N < 2, or
    * zero total variance) read NULL.
    *
    * Scale (100 TB): one item-grain aggregation (T_i) + one global
    * fold. No joins. */
  def iccOneWay(ratings: DataFrame, item: String, value: Column,
                raters: Int): DataFrame = {
    val k = raters.toLong
    require(k >= 2, "ICC needs at least two raters")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val perItem = ratings.select(col(item).as("i"), value.as("x"))
      .groupBy(col("i"))
      .agg(sum(col("x")).as("ti"), sum(dec(col("x")) * dec(col("x"))).as("bi"),
        count(lit(1)).as("nv"))
    val m = perItem.agg(count(lit(1)).as("n_items"),
      sum(col("ti")).as("t"), sum(col("bi")).as("b"),
      sum(dec(col("ti")) * dec(col("ti"))).as("a"),
      max((col("nv") =!= k).cast("int")).as("ragged"))
    def dd(c: Column): Column = c.cast("double")
    val nD = dd(col("n_items")); val kD = lit(k.toDouble)
    val ssb = dd(col("a")) / kD - dd(dec(col("t")) * dec(col("t"))) / (nD * kD)
    val ssw = dd(col("b")) - dd(col("a")) / kD
    val msb = ssb / (nD - lit(1d))
    val msw = ssw / (nD * (kD - lit(1d)))
    val icc = (msb - msw) / (msb + (kD - lit(1d)) * msw)
    val bad = col("ragged") === 1 || col("n_items") < 2L ||
      (msb + (kD - lit(1d)) * msw) === lit(0d)
    def milli(c: Column): Column =
      when(bad, lit(null).cast("long"))
        .otherwise(floor(c * lit(1000d) + lit(0.5d)).cast("long"))
    m.select(col("n_items"), lit(k).as("k"),
      F.idiv(lit(1000L) * col("t").cast("long"),
        col("n_items") * lit(k)).as("grand_mean_milli"),
      milli(msb).as("msb_milli"), milli(msw).as("msw_milli"),
      milli(icc).as("icc_milli"))
  }

  /** q409: ICC(1,1) of the three token meters (whitespace tokens, the
    * regex token meter, vowel groups) read as a 3-rater panel per doc —
    * the variance-decomposition companion to q385's two-meter
    * Bland–Altman: high ICC says doc identity dominates meter choice. */
  def q409(s: SparkSession, d: String): DataFrame = {
    val docs = withToks(Tables.documents(s, d))
      .select(col("doc_id"),
        size(toks).cast("long").as("m1"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("m2"),
        expr("regexp_count(lower(text), '[aeiouy]+')").cast("long").as("m3"))
      .selectExpr("doc_id",
        "stack(3, 'ws', m1, 'rx', m2, 'vg', m3) AS (rater, x)")
    iccOneWay(docs, "doc_id", col("x"), 3)
  }

  /** CHAO1 VOCABULARY RICHNESS (round 16) — "how many types have we
    * NOT seen": Good–Turing (q362) reallocates mass to the unseen,
    * hapax (q284) counts the singleton tail, Chao1 closes the family
    * with the capture-recapture LOWER BOUND on total vocabulary,
    * V̂ = V + f₁(f₁−1)/(2(f₂+1)) (bias-corrected form — defined even
    * at f₂ = 0), plus Good's coverage Ĉ = 1 − f₁/N. Both EXACT
    * integers (one idiv each). Per source and the pooled ALL row —
    * the "is this source's vocabulary saturated or barely sampled"
    * read a crawl-budget decision wants.
    *
    * Scale (100 TB): one (group, token)-grain count, one group-grain
    * frequency fold; the ALL row re-counts on the (token) grain
    * (pooled vocabulary is NOT the sum of per-group vocabularies —
    * the union loses duplicates, so it must be its own aggregation). */
  def chao1(docs: DataFrame, text: String, group: String): DataFrame = {
    val tk = withToks(docs, text)
      .select(col(group).as("g"), explode(toks).as("tok"))
      .localCheckpoint() // feeds the per-group AND the pooled count
    def richness(tf: DataFrame): DataFrame =
      tf.groupBy(col("g"))
        .agg(count(lit(1)).as("v"), sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
        .select(col("g").as("source"), col("n_tokens"), col("v"),
          col("f1"), col("f2"),
          (col("v") + F.idiv(col("f1") * (col("f1") - 1L),
            lit(2L) * (col("f2") + 1L))).as("chao1"),
          (lit(10000L) - F.idiv(lit(10000L) * col("f1"), col("n_tokens")))
            .as("coverage_bp"))
    val per = richness(tk.groupBy(col("g"), col("tok"))
      .agg(count(lit(1)).as("c")))
    val all = richness(tk.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .select(lit("ALL").as("g"), col("c")))
    per.unionAll(all).orderBy(col("source"))
  }

  /** q412: Chao1 richness + Good coverage of the documents corpus per
    * source — which sources still have unseen vocabulary. */
  def q412(s: SparkSession, d: String): DataFrame =
    chao1(Tables.documents(s, d), "text", "source")

  /** Prefix count for the Heaps curve (shared with the q421 oracle). */
  val HeapsCuts = 5

  /** HEAPS' LAW VOCABULARY-GROWTH CURVE (round 16) — the OBSERVED
    * trajectory the estimator family extrapolates: Chao1 (q412) and
    * Good–Turing (q362) predict the unseen from one snapshot; this
    * MEASURES V(N) at [[HeapsCuts]] deterministic corpus prefixes and
    * reports the local Heaps exponent β (V ∝ N^β) between consecutive
    * points — β holding steady near the canonical 0.4-0.6 says the
    * corpus keeps yielding vocabulary (keep crawling), β collapsing
    * toward 0 says saturation (q412's coverage read, observed instead
    * of estimated). Prefixes are the hash-order total order
    * (md5(doc_id), doc_id — the q233 epoch-shuffle discipline), so
    * "the first 20%" is a reproducible random-looking subset, not
    * ingest order. Each doc lands in its earliest prefix via the exact
    * bucket ⌊c(rn−1)/n⌋+1; vocabulary increments attach to the FIRST
    * prefix containing each token (min doc-rank); both cumulate over
    * the c-row grid. β on the exact 64·log2 lattice via withLg64 —
    * 1000·Δlg64(V)/Δlg64(N), integer end to end, NULL at the first
    * point or a flat denominator.
    *
    * Scale (100 TB): one total sort by the hash key (the q233 price;
    * range-partitioned rank at cluster scale), one token-grain
    * min-aggregation, one doc-grain sum — then a c-row frame. */
  def heapsCurve(docs: DataFrame, id: String, text: String,
                 cuts: Int = HeapsCuts): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = Window.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val ranked = withToks(docs.select(col(id).as("doc_id"), col(text)), text)
      .select(col("doc_id"), toks.as("tk"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .localCheckpoint() // feeds the doc-grain and token-grain folds
    val n = ranked.agg(count(lit(1)).as("n"))
    def bucket(rank: Column): Column =
      F.idiv(lit(cuts.toLong) * (rank - 1L), col("n")) + 1L
    val tinc = ranked.crossJoin(broadcast(n))
      .groupBy(bucket(col("rn")).as("k"))
      .agg(sum(size(col("tk")).cast("long")).as("ti"),
        count(lit(1)).as("di"))
    val vinc = ranked.select(col("rn"), explode(col("tk")).as("tok"))
      .groupBy(col("tok")).agg(min(col("rn")).as("mr"))
      .crossJoin(broadcast(n))
      .groupBy(bucket(col("mr")).as("k"))
      .agg(count(lit(1)).as("vi"))
    val grid = spark.range(1, cuts + 1).select(col("id").as("k"))
    val ord = Window.orderBy(col("k"))
    val cum = grid
      .join(tinc, Seq("k"), "left").join(vinc, Seq("k"), "left")
      .select(col("k"),
        sum(coalesce(col("di"), lit(0L))).over(ord).as("n_docs"),
        sum(coalesce(col("ti"), lit(0L))).over(ord).as("n_tokens"),
        sum(coalesce(col("vi"), lit(0L))).over(ord).as("vocab"))
    val lg = graft.functions.Cols.withLg64(
      graft.functions.Cols.withLg64(cum, col("n_tokens"), "lg_t"),
      col("vocab"), "lg_v")
    val dLgT = col("lg_t") - lag(col("lg_t"), 1).over(ord)
    val dLgV = col("lg_v") - lag(col("lg_v"), 1).over(ord)
    lg.select(col("k").as("prefix"), col("n_docs"), col("n_tokens"),
      col("vocab"),
      when(dLgT.isNull || dLgT === 0L, lit(null).cast("long"))
        .otherwise(F.idiv(lit(1000L) * dLgV, dLgT)).as("beta_milli"))
  }

  /** q421: the corpus's vocabulary-growth curve at five hash-order
    * prefixes — is this corpus saturated or still yielding. */
  def q421(s: SparkSession, d: String): DataFrame =
    heapsCurve(Tables.documents(s, d), "doc_id", "text")
}

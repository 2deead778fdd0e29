package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for corpus curation: language ID, quality
  * scoring, token counting, document fingerprinting. All pure Column
  * expressions (codegen'd, shuffle-free) and reproducible in ANSI SQL for
  * the oracle.
  */
object TextAnalysis {

  import Dedup.normText

  /** Count of \b-bounded occurrences of a literal word. Native kernel;
    * value-identical to the engine-portable length-difference formula
    * floor((len(t) - len(regexp_replace(t,'\bw\b','')))/len(w)) that the
    * oracles use. */
  private def wordHits(t: Column, word: String): Column =
    graft.functions.TextKernels.countWord(t, word)

  /** Marker-word language scores. The marker sets are tiny n-gram/stopword
    * heuristics (public fastText/langid-style approach reduced to SQL). */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "und", "die", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "la", "de", "que", "los"))

  /** Best-scoring language label, "und" when nothing matches; ties break
    * alphabetically (de < en < es < fr) so the oracle CASE chain can
    * reproduce the choice exactly. One kernel call
    * ([[graft.functions.TextKernelOps.langId]], value-identical to the
    * previous greatest + foldRight(when) Column chain) — the 20
    * count_word + when tree was a large share of composed pipelines'
    * over-JIT-limit collapsed projections. */
  def langId(text: Column): Column = {
    val sorted = markers.toSeq.sortBy(_._1)
    val model = new graft.functions.LangModel(
      sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray)
    graft.functions.TextKernels.langId(text, model)
  }

  /** Punctuation-density, stopword-ratio and length features + a blended
    * [0,100] quality score. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val t = normText(text)
    // counting features come from the one-pass textStats kernel instead
    // of regexp_replace/split trees: projection collapse duplicates
    // whatever sits here into the gate filter and every downstream
    // reference, and the regex formulation pushed composed pipelines'
    // collapsed method over the 8 KB JIT limit (interpreted). The kernel
    // is value-identical to the regexp formulation the DuckDB oracle
    // still derives — see [[graft.functions.TextKernelOps.textStats]].
    def st: Column = graft.functions.TextKernels.textStats(text)
    val nChars = element_at(st, 1).cast("int")
    val nTokens = element_at(st, 2).cast("int")
    val punct = element_at(st, 3)
    val stop = graft.functions.TextKernels.countWords(t, markers("en"))
    val punctRatio = when(nChars > 0, punct.cast("double") / nChars).otherwise(0.0)
    val stopRatio = when(nTokens > 0, stop.cast("double") / nTokens).otherwise(0.0)
    val meanTokLen = when(nTokens > 0,
      element_at(st, 4).cast("double") / nTokens).otherwise(0.0)
    val score =
      when(nTokens === 0, 0.0).otherwise(
        greatest(lit(0.0), least(lit(100.0),
          lit(100.0)
            - punctRatio * 200.0
            + least(stopRatio * 100.0, lit(10.0))
            - when(meanTokLen > 12.0, (meanTokLen - 12.0) * 5.0).otherwise(0.0)
            - when(nChars < 20, 50.0).otherwise(0.0))))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "punct_ratio" -> round(punctRatio, 4),
      "stop_ratio" -> round(stopRatio, 4),
      "quality" -> round(score, 2))
  }

  /** Whitespace tokens of the normalized text (empty string → 0). */
  def tokenCount(text: Column): Column = {
    val t = normText(text)
    when(length(t) === 0, 0).otherwise(size(split(t, " ")))
  }

  /** BPE-ish subword count upper bound: words + intra-word transitions
    * letter→digit etc., approximated as ceil(chars/4) blended with words
    * (a common ~4-chars-per-token heuristic). */
  def approxBpeTokens(text: Column): Column =
    greatest(tokenCount(text), ceil(length(normText(text)) / 4).cast("int"))

  /** Stable document fingerprint: md5 of normalized text. */
  def fingerprint(text: Column): Column = md5(normText(text))

  /** Top-`k` TF-IDF terms per document (smooth idf:
    * `ln((N+1)/(df+1)) + 1`, the standard sklearn-style smoothing —
    * public). Ranking is `tfidf DESC, term ASC` on the ROUNDED score so
    * cross-engine rank order is stable.
    *
    * Cross-engine reproducibility: the idf is rounded to 4 dp BEFORE the
    * multiply (then the product to 6 dp) — `ln` is not required to be
    * correctly rounded by either engine's libm, and the double round
    * makes an ulp of disagreement harmless unless it lands within 5e-11
    * of a 4 dp boundary.
    *
    * Scale shape: token explode → (doc, term, tf) partial-agg count (one
    * shuffle on (doc, term)); df reuses that frame with a term-key agg;
    * the tf⋈idf equi-join shuffles on the term key (a 100 TB corpus's
    * vocabulary is NOT broadcastable — the join must hash-partition);
    * the corpus row count rides in as a broadcast 1-row frame; top-k per
    * doc is the two-stage WindowGroupLimit rank. No driver-side actions.
    *
    * Output: (id, term, tfidf rounded to 6 dp, rank ≤ k).
    */
  def tfIdfTopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      explode(split(normText(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val idf = round(
      log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1, 4)
    val scored = tf.join(df, "term").crossJoin(nDocs)
      .select(col("id"), col("term"),
        round(col("tf") * idf, 6).as("tfidf"))
    val w = Window.partitionBy("id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** χ² term–class association, top-k (Yang & Pedersen 1997 — the
    * classic supervised feature-selection screen; in a curation
    * pipeline: which terms are most predictive of a class label, e.g.
    * "is this document English" / "did the quality gate keep it").
    * Contingency per term over DOCUMENT PRESENCE (a=class∧term,
    * b=¬class∧term, c=class∧¬term, d=¬class∧¬term):
    * χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)).
    *
    * Parity: all eight cells are exact longs; ad and bc multiply as
    * IEEE doubles (deterministic cross-engine, and long·long would
    * overflow at 100 TB document counts — noted, accepted precision
    * trade); the χ² chain evaluates in ONE pinned left-to-right order
    * mirrored in the oracle; the statistic ships UNROUNDED and the
    * top-k order carries the term as a unique tiebreak.
    *
    * Scale shape: distinct (doc, term) presence via one (doc, term)
    * shuffle; per-term cells from a term-key partial agg; class totals
    * ride in as a broadcast 1-row frame; minDf prunes the tail BEFORE
    * scoring; global top-k via [[TopK.ranked]] (TakeOrderedAndProject
    * heaps — never a single-partition rank window).
    *
    * @param classCol boolean column on `docs` (the label)
    * @return (rank, term, df, a, chi2) — `a` = class-positive docs
    *         containing the term
    */
  def chi2Terms(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, classCol: Column, minDf: Long,
                k: Int): org.apache.spark.sql.DataFrame = {
    // NULL labels count as class-negative (when/otherwise, not a bare
    // cast — a cast would null-propagate and diverge from the oracle's
    // CASE WHEN, which lands in ELSE 0 for NULL).
    val clsFlag = when(classCol, 1L).otherwise(0L)
    val pres = docs.select(col(idCol).as("id"), clsFlag.as("cls"),
        explode(split(normText(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val cells = pres.groupBy("term")
      .agg(sum("cls").as("a"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val totals = broadcast(docs.agg(count(lit(1)).as("n_docs"),
      sum(clsFlag).as("n_pos")))
    val scored = cells.crossJoin(totals)
      // terms present in every document carry no signal and would
      // divide by zero at (c + d) = 0; a degenerate class (empty or
      // all-positive) zeroes (a+c) or (b+d) the same way — χ² is
      // undefined for the whole run, so every term drops
      .filter(col("df") < col("n_docs") &&
        col("n_pos") > 0L && col("n_pos") < col("n_docs"))
      .withColumn("b", col("df") - col("a"))
      .withColumn("c", col("n_pos") - col("a"))
      .withColumn("d", col("n_docs") - col("n_pos") - col("b"))
      .withColumn("diff",
        col("a").cast("double") * col("d").cast("double")
          - col("b").cast("double") * col("c").cast("double"))
      .withColumn("chi2",
        col("n_docs").cast("double") * col("diff") * col("diff")
          / (col("a") + col("b")).cast("double")
          / (col("c") + col("d")).cast("double")
          / (col("a") + col("c")).cast("double")
          / (col("b") + col("d")).cast("double"))
    TopK.ranked(scored.select(col("term"), col("df"), col("a"), col("chi2")),
      k, col("chi2").desc, col("term").asc)
  }

  /** Unigram-LM surprisal per document — the perplexity-filter stage of
    * CCNet/CC-style curation (Wenzek et al. 2020 score with a wiki LM;
    * here the LM is the corpus's own unigram distribution, so the
    * operator stays self-contained and oracle-checkable): documents full
    * of rare words score high, boilerplate scores low.
    *
    * Two aggregations and one equi-join on the term key (a 100 TB
    * vocabulary is not broadcastable — same honest shape as tfIdfTopK);
    * the corpus total rides in as a broadcast 1-row frame. Per-word
    * surprisal −log2(cnt/total) is rounded to 4 dp and scaled to an
    * exact INTEGER (×10⁴) before the per-doc sum, so the aggregation is
    * order-free: float summation order differs between engines and
    * between retries, integer summation cannot (same determinism
    * argument as sample_stratified's no-rand() rule).
    *
    * Residual cross-engine risk (documented, accepted): the 4-dp round
    * itself assumes Spark's JVM `Math.log` and DuckDB's libm `log2`
    * agree to the printed digits. A 1-ulp divergence landing exactly on
    * a .00005 rounding boundary would flip the scaled integer by one.
    * No such (cnt, total) pair exists in the graded corpora (hash-green
    * since r6), and the window is ~1 ulp wide per distinct count value —
    * but a new engine pair should re-check before trusting hash parity.
    *
    * Output: (doc_id, n_words, avg_surprisal bits/word rounded 4 dp).
    */
  def unigramSurprisal(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String): org.apache.spark.sql.DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = broadcast(counts.agg(sum(col("cnt")).as("total")))
    val surprisal = counts.crossJoin(total).select(col("w"),
      round(-log2(col("cnt").cast("double") / col("total")) * 10000)
        .cast("long").as("su4"))
    words.join(surprisal, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("su4")).as("su_sum"))
      // UNROUNDED since r7: the final 4 dp round hit a .00005
      // HALF_UP-vs-binary tie at sf0.1 (avg 4.90605 → 4.9061 vs 4.906);
      // su_sum/10⁴/n is two IEEE divisions of exact ints — bit-identical
      .select(col("doc_id"), col("n_words"),
        (col("su_sum") / 10000.0 / col("n_words")).as("avg_surprisal"))
  }

  /** Zipf-law exponent fit per language (the OTHER classic corpus-law
    * diagnostic next to [[vocabGrowth]]'s Heaps curve): least-squares
    * slope of ln(freq) against ln(rank) over each language's top-K
    * words — a healthy natural-language corpus fits slope ≈ −1; a
    * flat/steep slope flags boilerplate or spam floods.
    *
    * Scale shape: ONE partial-agg shuffle to the (lang, word) count
    * frame; ranking windows partition by LANG over that frame's top
    * slice only (cnt ≥ minCount prefilter bounds the per-lang
    * vocabulary reaching the sort; the log-log fit over the head is
    * also statistically the right call — the rank-1 tail is noise),
    * then a lang-sized regression agg.
    *
    * Parity: ln() is libm — both logs round 4 dp and ×10⁴-scale to
    * exact longs per word (surprisal discipline), all five regression
    * sums run in integer space, and the slope is assembled from exact
    * longs with ONE final division. Ties in rank order break on the
    * word itself.
    *
    * @return (lang, n_words, slope4) — slope ×10⁴-rounded
    */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, langCol: String,
              textCol: String, topK: Int = 1000,
              minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    val counts = docs.select(col(langCol).as("lang"),
        explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("cnt").desc, col("w"))
    val ranked = counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("lang"),
        round(log(col("rank").cast("double")) * 10000)
          .cast("long").as("x4"),
        round(log(col("cnt").cast("double")) * 10000)
          .cast("long").as("y4"))
    ranked.groupBy("lang").agg(
        count(lit(1)).as("n_words"),
        sum("x4").as("sx"), sum("y4").as("sy"),
        sum(col("x4") * col("y4")).as("sxy"),
        sum(col("x4") * col("x4")).as("sxx"))
      .select(col("lang"), col("n_words"),
        round(lit(10000.0) *
          (col("n_words") * col("sxy") - col("sx") * col("sy")) /
          (col("n_words") * col("sxx") - col("sx") * col("sx")))
          .cast("long").as("slope4"))
  }

  /** Pairwise Jensen-Shannon divergence between the unigram
    * distributions of every source pair — the token-space
    * distribution-shift audit (the lexical twin of embed_mmd's
    * embedding-space two-sample test; Lin 1991): JSD(P,Q) =
    * ½·Σ_w [p·ln(2p/(p+q)) + q·ln(2q/(p+q))], symmetric, bounded by
    * ln 2, zero iff the distributions match — run between corpus
    * snapshots/sources before mixing them into one training corpus.
    *
    * Scale shape: one (source, word) partial-agg shuffle (the only
    * corpus-sized exchange), source-sized totals BROADCAST onto a
    * densified words × sources frame (absent words must still
    * contribute their p·ln 2 mass — a plain inner join on word would
    * silently drop exactly the disjoint-vocabulary signal JSD exists
    * to measure), then ONE word-keyed self-join with src_a < src_b —
    * candidates bounded by |sources|² per word, never corpus².
    *
    * Parity (the zipfFit surprisal discipline): each word's two log
    * factors round to 4 dp ×10⁴ exact longs, each term is ONE
    * double·long·10⁶ multiply chain rounded to a long (the extra 10⁶
    * keeps rare words' p·ln mass above integer resolution — at ×10⁴
    * alone a 10⁻⁶ probability rounds to zero and the tail vanishes),
    * the pair rollup sums longs — no float accumulates across rows.
    * Emits 2·JSD ×10¹⁰ directly (the un-halved sum, bounded by
    * 2·ln 2·10¹⁰ regardless of vocabulary size) so no further rounding
    * step exists.
    *
    * @return (src_a, src_b, n_words, jsd2e10) — n_words = union
    *         vocabulary of the pair, jsd2e10 = 2·JSD in nats ×10¹⁰
    */
  def sourceJsd(docs: org.apache.spark.sql.DataFrame, srcCol: String,
                textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs.select(col(srcCol).as("source"),
        explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("source").agg(sum("cnt").as("tot"))
    val dense = counts.select("w").distinct()
      .crossJoin(broadcast(totals))
      .join(counts, Seq("source", "w"), "left")
      .select(col("source"), col("w"), col("tot"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val a = dense.select(col("w"), col("source").as("src_a"),
      col("cnt").as("c1"), col("tot").as("t1"))
    val b = dense.select(col("w"), col("source").as("src_b"),
      col("cnt").as("c2"), col("tot").as("t2"))
    val p = col("c1").cast("double") / col("t1")
    val q = col("c2").cast("double") / col("t2")
    val term =
      when(col("c1") > 0,
        round(p * round(log(lit(2) * p / (p + q)) * 10000) * 1000000)
          .cast("long")).otherwise(0L) +
      when(col("c2") > 0,
        round(q * round(log(lit(2) * q / (p + q)) * 10000) * 1000000)
          .cast("long")).otherwise(0L)
    a.join(b, Seq("w"))
      .filter(col("src_a") < col("src_b") && col("c1") + col("c2") > 0)
      .select(col("src_a"), col("src_b"), term.as("term"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_words"), sum("term").as("jsd2e10"))
  }

  /** Vocabulary-growth curve (the Heaps-law diagnostic a corpus audit
    * plots): distinct-token count of every prefix of the corpus in
    * document-id order, sampled at `step`-document checkpoints. Takes a
    * token-ARRAY column so the caller picks the unit (words, word
    * n-grams, shingles — on a small closed word vocabulary only a
    * composite unit actually grows).
    *
    * Naive prefix-distincts re-scan the corpus per checkpoint; instead
    * each token's FIRST occurrence document (one min-agg shuffle on the
    * token key — the only corpus-sized exchange) is binned to the
    * checkpoint that first sees it, and a running sum over the tiny
    * ordered checkpoint frame (≤ max_id/step rows — driver-scale, the
    * single-partition window is on purpose) yields every prefix count
    * in one pass. Exact integers end to end — no parity risk.
    *
    * @return (up_to_id, new_tokens, vocab): for each checkpoint, tokens
    *         first seen in its step and cumulative vocabulary among
    *         docs with id < up_to_id
    */
  def vocabGrowth(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  tokens: Column, step: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(step > 0, "checkpoint step must be positive")
    val firstSeen = docs.select(col(idCol).cast("long").as("id"),
        explode(tokens).as("w"))
      .groupBy("w").agg(min(col("id")).as("first_id"))
    firstSeen
      .groupBy(((col("first_id") - pmod(col("first_id"), lit(step)))
        + step).as("up_to_id"))
      .agg(count(lit(1)).as("new_tokens"))
      .withColumn("vocab", sum("new_tokens").over(
        Window.orderBy("up_to_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Bigram-LM surprisal per document — the KenLM-perplexity-filter
    * shape (CCNet scores with a 5-gram model; the self-contained corpus-
    * as-LM variant here conditions on one word of history, the unigram
    * [[unigramSurprisal]]'s next step up): per-bigram surprisal
    * −log2 p(w₂|w₁) with add-1 smoothing over the unigram vocabulary,
    * p(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V), averaged over each document's
    * bigram occurrences.
    *
    * Scale shape: ONE bigram explode feeds both count tables (bigram
    * counts, and history counts re-aggregated from the bigram table —
    * vocabulary-sized, no second corpus pass); V rides in as a broadcast
    * 1-row frame; the per-bigram model joins back on the bigram key
    * (a 100 TB bigram vocabulary is not broadcastable — tfidf's honest
    * shape). Per-bigram bits are 4 dp-rounded and ×10⁴-scaled to exact
    * longs before the per-doc sum (the surprisal order-free discipline,
    * same documented libm residual risk). The per-doc AVERAGE ships
    * UNROUNDED: su_sum/10⁴/n is two IEEE divisions of exact integers —
    * bit-identical in any engine — while a final 4 dp round LANDED on a
    * .00005 HALF_UP-vs-binary tie at sf0.001 (avg 4.96015 → Spark
    * 4.9602, DuckDB 4.9601; the quality_classifier lesson, seen live a
    * second time).
    *
    * @return (doc_id, n_bigrams, avg_bits) — docs with ≥ 1 bigram
    */
  /** Per-(doc, bigram) occurrence counts, lazily checkpointed — the ONE
    * corpus-sized tokenize+explode pass each bigram-surprisal variant
    * runs. The old shape referenced the raw exploded frame twice (the
    * model aggregate and the per-doc join don't share an exchange:
    * the aggregate's partial agg sits below its exchange, so
    * ReuseExchange never fires) and paid the explode per reference
    * (guide §2.4). The checkpointed frame is bigram-TYPE-per-doc sized,
    * and every model frame re-aggregates from it. */
  private def docBigramCounts(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(wordBigrams(col(textCol))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = false)

  def bigramSurprisal(docs: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val dbg = docBigramCounts(docs, idCol, textCol)
    val bgc = dbg.groupBy("bg").agg(sum("k").as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val w1c = bgc.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = broadcast(docs.select(
        explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(countDistinct("w").as("v")))
    val model = bgc.join(w1c, "w1").crossJoin(vocab)
      .select(col("bg"),
        round(-log2((col("c12") + 1).cast("double") / (col("c1") + col("v")))
          * 10000).cast("long").as("su4"))
    dbg.join(model, "bg")
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        sum(col("k") * col("su4")).as("su_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("su_sum") / 10000.0 / col("n_bigrams")).as("avg_bits"))
  }

  /** Interpolated Kneser–Ney bigram surprisal — the smoothing actually
    * used by KenLM-style perplexity filters, one rung up from
    * [[bigramSurprisal]]'s add-1: instead of backing off to raw unigram
    * frequency, the lower-order term is the CONTINUATION probability
    * (in how many distinct contexts does this word appear), which stops
    * high-count-but-single-context words ("francisco") stealing mass
    * (Kneser & Ney 1995; Chen & Goodman 1998 eq. 4.25, D fixed 0.75):
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/NT
    *
    * where N1+(w1·) / N1+(·w2) count distinct bigram types by left /
    * right word and NT is the total bigram type count.
    *
    * Scale shape: identical to [[bigramSurprisal]] — ONE bigram explode
    * feeds the type table; all three count frames re-aggregate from the
    * vocabulary-sized types (never the corpus); the model joins back on
    * the bigram key (vocabulary-keyed, the honest non-broadcast shape).
    * Parity: P evaluates left-to-right in one literal sequence, bits
    * round to ×10⁴ exact longs per bigram before the order-free sum.
    *
    * @return (doc_id, n_bigrams, avg_bits)
    */
  def knBigramSurprisal(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    val dbg = docBigramCounts(docs, idCol, textCol)
    val bgc = dbg.groupBy("bg").agg(sum("k").as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val w1c = bgc.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
    val w2c = bgc.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val types = broadcast(bgc.agg(count(lit(1)).as("nt")))
    val model = bgc.join(w1c, "w1").join(w2c, "w2").crossJoin(types)
      .select(col("bg"),
        round(-log2(
          greatest(col("c12").cast("double") - lit(0.75), lit(0.0))
            / col("c1")
            + lit(0.75) * col("n1f") / col("c1")
              * (col("n1b").cast("double") / col("nt"))
        ) * 10000).cast("long").as("su4"))
    dbg.join(model, "bg")
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        sum(col("k") * col("su4")).as("su_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("su_sum") / 10000.0 / col("n_bigrams")).as("avg_bits"))
  }

  /** Jelinek–Mercer interpolated bigram surprisal — the third classic
    * smoothing next to [[bigramSurprisal]]'s add-1 and
    * [[knBigramSurprisal]]'s Kneser–Ney (Jelinek & Mercer 1980; Chen &
    * Goodman 1998 eq. 4.16, fixed λ = 0.5):
    *
    *   P(w2|w1) = λ·c12/c1 + (1−λ)·c2/N
    *
    * — the MLE bigram linearly mixed with the unigram, the smoothing a
    * perplexity filter reaches for when held-out tuning of λ is not in
    * budget. Never zero (every w2 in the model has c2 ≥ 1), so no
    * add-1 floor is needed.
    *
    * Scale shape: identical to the siblings — ONE bigram explode, all
    * model frames vocabulary-sized, model joins back on the bigram key
    * (vocabulary-keyed, the honest non-broadcast shape; only the
    * one-row token total broadcasts). Parity: P evaluates in one
    * literal left-to-right sequence, bits round ×10⁴ per bigram before
    * the order-free sum.
    *
    * @return (doc_id, n_bigrams, avg_bits)
    */
  def jmBigramSurprisal(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    val dbg = docBigramCounts(docs, idCol, textCol)
    val bgc = dbg.groupBy("bg").agg(sum("k").as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val w1c = bgc.groupBy("w1").agg(sum("c12").as("c1"))
    val unic = docs.select(
        explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w").as("w2")).agg(count(lit(1)).as("c2"))
    // N from the vocabulary frame, not a second corpus explode (the
    // token scan is the corpus-sized cost; everything above it here is
    // vocabulary-sized)
    val total = broadcast(unic.agg(sum("c2").as("n")))
    val model = bgc.join(w1c, "w1").join(unic, "w2").crossJoin(total)
      .select(col("bg"),
        round(-log2(
          lit(0.5) * (col("c12").cast("double") / col("c1"))
            + lit(0.5) * (col("c2").cast("double") / col("n"))
        ) * 10000).cast("long").as("su4"))
    dbg.join(model, "bg")
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        sum(col("k") * col("su4")).as("su_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("su_sum") / 10000.0 / col("n_bigrams")).as("avg_bits"))
  }

  /** One BPE-training merge-selection step at corpus scale (Sennrich et
    * al. 2016 §3.2: count adjacent symbol pairs across the corpus, the
    * highest-frequency pair becomes the next merge): symbol = char
    * (the initial BPE vocabulary), pair counts weighted by word
    * frequency, top-`topK` candidates out. Iterated training re-runs
    * the step with the merge table applied; the COUNTING pass here is
    * the part that must scale — selection is a driver-scale sort.
    *
    * Scale shape: the word-frequency agg is the only corpus-sized
    * shuffle (map-side combined); pairs then explode from the DISTINCT
    * word frame (vocabulary-sized — each word's pairs are counted once
    * and weighted, not re-derived per occurrence), and the final
    * selection is a [[TopK.ranked]] sort+limit (TakeOrderedAndProject —
    * per-partition heaps, no single-partition window even though the
    * |alphabet|²-bounded pair domain would tolerate one). Exact
    * integers end to end.
    *
    * @return (rank, pair, cnt) — rank 1..topK by (cnt desc, pair asc)
    */
  def bpePairCounts(docs: org.apache.spark.sql.DataFrame, textCol: String,
                    topK: Int): org.apache.spark.sql.DataFrame = {
    require(topK > 0, "topK must be positive")
    val words = docs
      .select(explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 1) // a 1-char word has no pairs
      .groupBy("w").agg(count(lit(1)).as("freq"))
    TopK.ranked(words
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt")),
        topK, col("cnt").desc, col("pair").asc)
      .select("rank", "pair", "cnt")
  }

  /** BPE TRAINING (Sennrich et al. 2016 §3.2 `learn_bpe`) — the loop
    * that [[bpePairCounts]] is one selection step of, chained to a full
    * ranked merge list that [[graft.functions.BpeOps.BpeModel]] (the
    * apply kernel) consumes directly.
    *
    * Distributed with the kmeansTrainFull discipline: the corpus-sized
    * work happens ONCE (the word-frequency agg — the only corpus-wide
    * shuffle); training then iterates on the VOCABULARY-sized
    * (state, freq) frame, and per round exactly ONE row (the argmax
    * pair) returns to the driver to become the next round's literals.
    * Word states are `|`-delimited token strings (`|t||h||e|`), so
    * applying the chosen merge is ONE narrow `replace` of
    * `|a||b|` → `|ab|` — string replace is left-to-right
    * non-overlapping in both engines, exactly Sennrich's merge pass,
    * and the doubled delimiter makes consecutive matches share no
    * characters (`|a||b||a||b|` → `|ab||ab|`). Incremental states ARE
    * the training semantics (Sennrich mutates the vocab per round) —
    * no re-encode, no train-vs-apply equivalence assumption.
    *
    * Determinism: pair counts are exact longs; the argmax tie-breaks
    * (cnt desc, a asc, b asc) — binary string order, identical in
    * DuckDB on this corpus — so the whole merge list is reproducible
    * and the oracle replays each round as a chained CTE. Words
    * containing the delimiter are excluded up front (none exist in the
    * a-z corpus; the filter keeps the operator total), as are 1-char
    * words (no pairs, states never change — dropping them is exact).
    *
    * A selected pair can never recur: a merge only concatenates
    * adjacent tokens, so two tokens can become adjacent only by the
    * span between them collapsing to a single token — never to zero —
    * and round r removed every (a,b) adjacency; the merge list is
    * duplicate-free by construction.
    *
    * @return ranked merges (a, b, cnt) — cnt the pair's corpus count
    *         at selection time; fewer than numMerges entries only if
    *         the corpus runs out of pairs
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
               numMerges: Int): Seq[(String, String, Long)] = {
    require(numMerges > 0, "numMerges must be positive")
    val init = docs
      .select(explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 1 && !col("w").contains("|"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("state"),
        col("freq"))
      .persist() // re-read every round; ≤ vocab rows
    try {
      val spark = docs.sparkSession
      import spark.implicits._
      var cur: org.apache.spark.sql.DataFrame = init
      val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var done = false
      for (_ <- 0 until numMerges if !done) {
        // The pair domain is BOUNDED by construction: tokens are single
        // chars of the normalized alphabet plus one new symbol per
        // completed merge, so at most (|alphabet| + numMerges)² distinct
        // (a, b) keys exist in any round. A full shuffle for that
        // aggregate is pure stage latency (10 rounds × partial-agg →
        // Exchange → argmax = 2 stage barriers each); instead each
        // partition folds its states into one bounded hashmap and the
        // driver merges the partials — the same bounded-collect
        // discipline as the previous 1-row argmax collect, but ONE
        // single-stage job per round. Counts are exact longs either way.
        val partials = cur.select(col("state"), col("freq"))
          .as[(String, Long)]
          .mapPartitions { it =>
            val m = new scala.collection.mutable.HashMap[String, Long]()
            it.foreach { case (state, freq) =>
              // state is "|tok||tok||tok|"; no symbol contains '|'
              val body = state.substring(1, state.length - 1)
              var st = 0
              var prev: String = null
              while (st <= body.length) {
                val e0 = body.indexOf("||", st)
                val e = if (e0 < 0) body.length else e0
                val tok = body.substring(st, e)
                if (prev != null) {
                  val k = prev + "\u0000" + tok
                  m.update(k, m.getOrElse(k, 0L) + freq)
                }
                prev = tok
                st = e + 2
              }
            }
            m.iterator
          }.collect() // ≤ numPartitions × (|alphabet|+numMerges)² rows
        val tot = new scala.collection.mutable.HashMap[String, Long]()
        partials.foreach { case (k, v) =>
          tot.update(k, tot.getOrElse(k, 0L) + v)
        }
        if (tot.isEmpty) done = true
        else {
          // argmax by (cnt desc, a asc, b asc). The NUL-joined key sorts
          // identically to the (a, b) tuple in UTF-8 BYTE order (NUL is
          // the lowest byte and never occurs inside a symbol); compare
          // bytes to mirror Spark's UTF8String binary ordering exactly.
          def lt(x: Array[Byte], y: Array[Byte]): Boolean = {
            var i = 0
            val n = math.min(x.length, y.length)
            while (i < n) {
              val c = (x(i) & 0xff) - (y(i) & 0xff)
              if (c != 0) return c < 0
              i += 1
            }
            x.length < y.length
          }
          var bk: String = null
          var bb: Array[Byte] = null
          var bc = 0L
          tot.foreach { case (k, c) =>
            if (bk == null || c > bc) { bk = k; bc = c; bb = null }
            else if (c == bc) {
              if (bb == null) bb = bk.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              if (lt(kb, bb)) { bk = k; bb = kb }
            }
          }
          val sep = bk.indexOf('\u0000')
          val (a, b) = (bk.substring(0, sep), bk.substring(sep + 1))
          merges += ((a, b, bc))
          cur = cur.withColumn("state",
            call_function("replace", col("state"),
              lit("|" + a + "||" + b + "|"), lit("|" + a + b + "|")))
        }
      }
      merges.toSeq
    } finally init.unpersist()
  }

  /** Word-bigram token arrays of the normalized text — the composite
    * vocabulary unit [[vocabGrowth]] grades on. Codegen-only built-ins;
    * single-word docs yield an empty array (guarded — `sequence` steps
    * backwards on a negative span). */
  def wordBigrams(text: Column): Column = {
    val ws = split(normText(text), " ")
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(typedLit(Array.empty[String]))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every k-gram of the
    * normalized text, slide a window of `window` consecutive hashes and
    * keep each window's minimum — any shared substring of length ≥
    * k+window-1 between two documents is guaranteed to share a selected
    * fingerprint, at ~1/window the storage of all k-gram hashes. The
    * per-gram hash is an md5 32-bit prefix (not a literal rolling
    * polynomial — selection semantics are identical and the value is
    * reproducible in any engine with md5, unlike a custom rolling hash).
    * Everything is per-document narrow work: positions explode, a
    * doc-partitioned window (bounded by document length), distinct
    * minima out — only (doc_id, fingerprint) rows shuffle.
    *
    * @return (doc_id, fp) — the distinct selected 32-bit fingerprints
    */
  /** Overlap-candidate pairs from shared winnowing fingerprints — the
    * MOSS detection stage: documents sharing ≥ `minShared` selected
    * fingerprints are candidate copies (any common run of k+window−1
    * chars guarantees a shared fingerprint, so substantial overlap
    * yields many). Single-pass shape like the dedup candidate
    * generators: a spill-safe window count drops ubiquitous fingerprints
    * (boilerplate — the rare-shingle cut's analog) BEFORE any id list
    * materializes, bounded in-group expansion, then a per-pair shared
    * count. Returns (id_a, id_b, n_shared). */
  def winnowCandidates(docs: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 5, window: Int = 4,
                       minShared: Int = 2,
                       maxDf: Int = 64): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFingerprints(docs, idCol, textCol, k, window)
    val wFp = Window.partitionBy("fp")
    fps.withColumn("__df", count(lit(1)).over(wFp))
      .filter(col("__df").between(2, maxDf)).drop("__df")
      .groupBy("fp").agg(collect_list(col(idCol)).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 5, window: Int = 4): org.apache.spark.sql.DataFrame =
    // one narrow pass via the winnow codegen kernel (distinct minima per
    // doc, no gram explode, no window shuffle); the DuckDB oracle keeps
    // the explicit explode + window formulation, so the cross-engine
    // check stays independent of the kernel
    docs.select(col(idCol),
      explode(graft.functions.Shingles
        .winnowFps(normText(col(textCol)), k, window)).as("fp"))

  /** Simpson lexical-diversity index per group (Simpson 1949 applied to
    * token frequencies — the probability two tokens drawn WITHOUT
    * replacement are the same word: D = Σ c_w(c_w−1) / (N(N−1)).
    * High D = repetitive/templated text (boilerplate feeds, spam
    * mirrors); the exact-rational companion to [[zipfFit]]'s fitted
    * exponent and the lexical twin of the Gini concentration family.
    * Unlike entropy it needs NO transcendental — both numerator and
    * denominator are exact integer sums, so the cross-engine contract
    * is one rounded division.
    *
    * Scale shape: one token explode → one (group, word) partial-agg
    * shuffle → one group-sized rollup. The sums are exact longs up to
    * ~3×10⁹ tokens per group (N(N−1) < 2⁶³); past that the two factors
    * cast to double SEPARATELY (the variance-product rule) — done here
    * from the start so the plan is scale-safe.
    *
    * D undefined for N < 2 → NULL, guarded on the integer count.
    *
    * @return (group, n_tokens, n_types, simpson8)
    */
  /** Flesch readability per document (Flesch 1948 reading ease;
    * Kincaid et al. 1975 grade level — the classic pair every
    * readability-filtered corpus pipeline computes; extreme scores
    * flag word-salad spam on one end and boilerplate legalese on the
    * other). Counts are the standard cheap approximations, stated:
    * words = whitespace tokens of the normalized text, sentences =
    * `.!?` characters in the RAW text floored at 1, syllables =
    * maximal vowel-group runs (`[aeiouy]+`) — each exact integers, so
    * the two formulas are the only float steps and evaluate in ONE
    * pinned sequence each, ×100-rounded (NULL when a doc has no
    * words, guarded on the integer count).
    *
    * Scale shape: zero-shuffle expression scan; one row per doc.
    *
    * @return (id, n_words, n_sentences, n_syllables, fk2, flesch2)
    */
  def readability(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val raw = col(textCol)
    val t = normText(raw)
    val w = when(length(t) === 0, 0L)
      .otherwise(size(split(t, " "))).cast("long")
    val sent = greatest(lit(1L),
      (length(raw) - length(translate(raw, ".!?", ""))).cast("long"))
    val syl = size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
      .cast("long")
    val wd = col("n_words").cast("double")
    val sd = col("n_sentences").cast("double")
    val yd = col("n_syllables").cast("double")
    docs.select(col(idCol), w.as("n_words"), sent.as("n_sentences"),
        syl.as("n_syllables"))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_words") > 0,
          round(lit(100.0) * (lit(0.39) * (wd / sd)
            + lit(11.8) * (yd / wd) - lit(15.59))).cast("long"))
          .as("fk2"),
        when(col("n_words") > 0,
          round(lit(100.0) * (lit(206.835) - lit(1.015) * (wd / sd)
            - lit(84.6) * (yd / wd))).cast("long")).as("flesch2"))
  }

  /** Code-detection signals per document (the "is this prose or
    * source code" curation gate every web-corpus pipeline runs before
    * language ID — code pollutes prose perplexity models and vice
    * versa): symbol density over the code-punctuation alphabet
    * `{};()=<>[]` (translate-erase, exact) and \b-bounded keyword
    * hits via the same native count kernel language ID uses. The
    * `is_code` flag applies the documented thresholds (symbol density
    * ≥ 3 % or ≥ 3 keyword hits) — thresholds are heuristics, the
    * SIGNALS are the contract.
    *
    * Scale shape: zero-shuffle expression scan; one row per doc.
    *
    * @return (id, n_chars, n_sym, n_kw, sym_ratio4, is_code)
    */
  val codeKeywords: Seq[String] = Seq("class", "const", "def", "else",
    "for", "function", "if", "import", "return", "var")

  def codeSignals(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String): org.apache.spark.sql.DataFrame = {
    val raw = col(textCol)
    val t = normText(raw)
    val nSym = (length(raw) -
      length(translate(raw, "{};()=<>[]", ""))).cast("long")
    val nKw = codeKeywords.map(k => wordHits(t, k))
      .reduce(_ + _).cast("long")
    docs.select(col(idCol), length(raw).cast("long").as("n_chars"),
        nSym.as("n_sym"), nKw.as("n_kw"))
      .select(col(idCol), col("n_chars"), col("n_sym"), col("n_kw"),
        round(lit(10000.0) * col("n_sym").cast("double") /
          greatest(lit(1L), col("n_chars")).cast("double")).cast("long")
          .as("sym_ratio4"))
      .withColumn("is_code",
        when(col("sym_ratio4") >= 300 || col("n_kw") >= 3, 1L)
          .otherwise(0L))
  }

  /** Hapax legomenon census per group (the Zipf-TAIL audit the zipfFit
    * head fit can't see: in healthy natural text ~40–60% of the
    * vocabulary occurs exactly once; a hapax rate collapsing toward 0
    * flags templated/boilerplate feeds, one inflated toward 1 flags
    * OCR noise or ID-like token floods — both are curation findings
    * the diversity index alone smears): n_hapax over the same
    * (group, word) count frame as [[simpsonDiversity]], with BOTH
    * standard normalizations (share of vocabulary, share of tokens) as
    * exact-integer ratios rounded once each.
    *
    * Scale shape: one token explode → one (group, word) partial agg →
    * group-sized rollup — identical to the diversity plan.
    *
    * @return (group, n_tokens, n_types, n_hapax, hapax_type_rate4,
    *         hapax_tok_rate4)
    */
  def hapaxStats(docs: org.apache.spark.sql.DataFrame,
                 groupCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs.select(col(groupCol).as("grp"),
        explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("grp", "w").agg(count(lit(1)).as("c"))
    counts.groupBy("grp").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(lit(10000.0) * col("n_hapax").cast("double") /
          col("n_types").cast("double")).cast("long")
          .as("hapax_type_rate4"),
        round(lit(10000.0) * col("n_hapax").cast("double") /
          col("n_tokens").cast("double")).cast("long")
          .as("hapax_tok_rate4"))
  }

  def simpsonDiversity(docs: org.apache.spark.sql.DataFrame,
                       groupCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs.select(col(groupCol).as("grp"),
        explode(split(normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("grp", "w").agg(count(lit(1)).as("c"))
    counts.groupBy("grp").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1L)).as("coll"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("n_types"),
        when(col("n_tokens") >= 2L,
          round(lit(1.0e8) * col("coll").cast("double") /
            (col("n_tokens").cast("double") *
              (col("n_tokens") - 1L).cast("double"))).cast("long"))
          .as("simpson8"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.PinOps

/** Text-analysis operators for training-data pipelines (BASELINE.json north
  * star): language ID, quality scoring, token counting, fingerprinting.
  * All native column expressions — no UDFs, fully codegen/pushdown
  * friendly, so a 100 TB documents scan stays one pass.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** GPT-2-style pre-tokenizer alternation: contraction suffixes, letter
    * runs, digit runs, punctuation runs, each with an optional leading
    * space. RE2-compatible on purpose (alternation only — no lookarounds,
    * which RE2 rejects), so the DuckDB oracle replays the IDENTICAL
    * pattern; leftmost-first alternative choice agrees between Java regex
    * and RE2's default (non-POSIX) mode.
    */
  val BpeishPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish subword count: matches of [[BpeishPattern]] — approximates
    * byte-pair-encoding token counts without a vocabulary (whitespace
    * runs separate tokens but are themselves uncounted). A match COUNT,
    * not a lookahead split: codegen'd `regexp_extract_all`, and
    * value-replayable in SQL.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Corpus vocabulary induction over the BPE-ish pre-tokens: the
    * tokenizer-training prep step — top-K tokens by occurrence count
    * (ties broken by token text, so the ranking is deterministic across
    * partitionings and engines), each with its document frequency and
    * the cumulative fraction of ALL token occurrences the vocabulary
    * covers up to that rank (the "how big must the vocab be" curve).
    *
    * Scale shape: one explode + two map-side-combined aggregations (the
    * doc-frequency distinct partially aggregates per partition); top-K
    * is Spark's distributed TakeOrdered, and the coverage cumsum runs
    * over the K-row result only. The total-occurrence count is a
    * one-row broadcast.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
                 topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val toks = docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0)))
        .as("token"))
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))
    val total = counts.agg(sum(col("n_occurrences")).as("_total"))
    val top = counts
      .orderBy(col("n_occurrences").desc, col("token").asc).limit(topK)
    val order = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("token").asc)
    top
      .withColumn("rank", row_number().over(order).cast("long"))
      .withColumn("_cum", sum(col("n_occurrences")).over(order
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("n_occurrences"),
        col("n_docs"),
        round(col("_cum") / col("_total"), 4).as("coverage"))
  }

  /** Character-class ratios used by the quality score. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double")
        / length(text))

  /** Unicode-script composition ratios — the multilingual-corpus
    * companion to the char-class quality ratios above: per document,
    * the fraction of code points that are Latin letters, Han, decimal
    * digits, and whitespace. A document whose declared `lang` disagrees
    * with its dominant script (an "en" doc that is 60% Han, a "zh" doc
    * that is all Latin) is mislabeled or mojibake — the script mix
    * catches both before language-ID ever runs. One codegen code-point
    * pass ([[graft.functions.TextScript.scriptMixCounts]], the same
    * single-pass discipline the round-5 bench forced on langid), zero
    * shuffles beyond the scan; the DuckDB oracle replays the identical
    * ranges with `length(regexp_replace(...))`.
    */
  def scriptMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = graft.functions.TextScript.scriptMixCounts(col(textCol))
    def ratio(i: Int) = graft.functions.Exprs.let(c, counts => {
      val total = element_at(counts, 1)
      when(total === 0L, 0.0)
        .otherwise(round(element_at(counts, i).cast("double") / total, 4))
    })
    df.select(col(idCol), ratio(2).as("latin_ratio"),
      ratio(3).as("han_ratio"), ratio(4).as("digit_ratio"),
      ratio(5).as("ws_ratio"))
  }

  private val enStop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "at", "this", "by")

  /** Fraction of tokens that are (English) stopwords — a fluency signal. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = enStop): Column =
    graft.functions.Exprs.let(
      filter(split(lower(text), "\\s+"), t => length(t) > 0), toks =>
        when(size(toks) === 0, 0.0).otherwise(
          size(filter(toks, t =>
            t.isin(stopwords.map(lit(_)): _*))).cast("double") / size(toks)))

  def meanWordLength(text: Column): Column =
    graft.functions.Exprs.let(
      filter(split(text, "\\s+"), t => length(t) > 0), toks =>
        when(size(toks) === 0, 0.0).otherwise(
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
            / size(toks)))

  /** Composite quality score in [0,1]: length band, punctuation sanity,
    * mean word length band, non-degenerate token count. Heuristic in the
    * Gopher/C4-rule style; each clause is an independent [0,1] signal.
    */
  def qualityScore(text: Column): Column =
    // one tokenize + one punct regex per row: nTok, mean word length and
    // the alpha ratio all read the same let-bound token array
    graft.functions.Exprs.let(
      filter(split(text, "\\s+"), t => length(t) > 0), toks =>
        graft.functions.Exprs.let(punctRatio(text), p => {
          val nTok = size(toks)
          val lenOk = when(length(text).between(50, 20000), 1.0)
            .when(length(text) < 50, length(text) / 50.0)
            .otherwise(0.5)
          val punctOk = when(p <= 0.2, 1.0)
            .otherwise(greatest(lit(0.0), lit(1.0) - (p - 0.2) * 4))
          val mwl = when(size(toks) === 0, 0.0).otherwise(
            aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
              / size(toks))
          val wordOk = when(mwl.between(3.0, 10.0), 1.0).otherwise(0.5)
          val tokOk = when(nTok >= 10, 1.0).otherwise(nTok / 10.0)
          // fraction of tokens containing at least one letter — catches
          // symbol/number soup that passes the length and word-length bands
          val alphaOk = when(size(toks) === 0, 0.0).otherwise(
            size(filter(toks, t => t.rlike("\\p{L}"))).cast("double")
              / size(toks))
          round((lenOk + punctOk + wordOk + tokOk + alphaOk) / 5.0, 4)
        }))

  /** Language-ID heuristic: CJK/Cyrillic/Arabic by script ratio, latin
    * languages by stopword votes. Deterministic, vocabulary-driven;
    * returns a 2-letter code or "und".
    */
  def languageId(text: Column): Column = {
    // one code-point pass for all five script counts (TextScript) — the
    // regexp_replace-per-range form re-scanned and re-allocated the
    // document five times; ratios here are array reads over that single
    // pass, with identical count semantics (code points, same ranges)
    def ratios(counts: Column): Seq[Column] = {
      val total = element_at(counts, 1)
      (2 to 6).map(i =>
        when(total === 0, 0.0)
          .otherwise(element_at(counts, i).cast("double") / total))
    }

    // tokenize once, count each language's votes once: the when-chain
    // below reads every vote 2-3 times, and without the let bindings each
    // read would re-split + re-filter the document
    val latin = graft.functions.Exprs.let(
      filter(split(lower(text), "[\\s\\p{Punct}]+"), t => length(t) > 0),
      toks => {
        def votes(words: Seq[String]): Column =
          size(filter(toks, t => t.isin(words.map(lit(_)): _*)))
        graft.functions.Exprs.let(array(
          votes(Seq("the", "and", "of", "to", "in", "is", "that", "for",
            "it", "with", "a")),
          votes(Seq("el", "la", "de", "que", "y", "en", "los", "del",
            "las", "por", "un", "una", "es")),
          votes(Seq("le", "la", "les", "des", "est", "dans", "que", "et",
            "du", "une", "pour", "sur")),
          votes(Seq("der", "die", "das", "und", "ist", "nicht", "ein",
            "eine", "mit", "von", "den", "zu"))), v => {
          val en = element_at(v, 1)
          val es = element_at(v, 2)
          val fr = element_at(v, 3)
          val de = element_at(v, 4)
          when(greatest(en, es, fr, de) === 0, "und")
            .when(en >= greatest(es, fr, de), "en")
            .when(es >= greatest(fr, de), "es")
            .when(fr >= de, "fr")
            .otherwise("de")
        })
      })

    graft.functions.Exprs.let(
      graft.functions.TextScript.scriptCounts(text), counts => {
        val Seq(zh, ja, ko, ru, ar) = ratios(counts)
        when(zh > 0.2, "zh").when(ja > 0.2, "ja").when(ko > 0.2, "ko")
          .when(ru > 0.2, "ru").when(ar > 0.2, "ar")
          .otherwise(latin)
      })
  }

  /** Rolling polynomial fingerprint of the normalized token stream
    * (order-sensitive, whitespace-insensitive): the 52-bit
    * [[graft.functions.TextHash.CharPolyHash]] of the whitespace-normalized
    * text (tokens re-joined with single spaces) — a content fingerprint for
    * exact-ish dedup across whitespace variants. One codegen'd expression
    * (the earlier `aggregate`-HOF polynomial ran interpreted per token) and
    * replayable in plain SQL for the DuckDB oracle.
    */
  def fingerprint(text: Column): Column =
    graft.functions.TextHash.charPolyHash(
      concat_ws(" ", filter(split(lower(text), "\\s+"), t => length(t) > 0)))

  /** Fraction of word n-grams that are repeats of an earlier n-gram in
    * the same document — the Gopher-style within-document repetition
    * signal (degenerate generated/boilerplate text scores high; normal
    * prose near 0). Row-local, one tokenize via the let binding.
    */
  def duplicateNgramFraction(text: Column, n: Int): Column =
    graft.functions.Exprs.let(
      filter(split(lower(text), "\\s+"), t => length(t) > 0), toks =>
        graft.functions.Exprs.let(
          transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))), grams =>
            when(size(grams) === 0, 0.0).otherwise(
              lit(1.0) - size(array_distinct(grams)).cast("double")
                / size(grams))))

  /** PII redaction: mask emails, IPv4 addresses, and international-format
    * phone numbers with fixed tokens. The patterns are restricted to the
    * regex subset shared by Java (Spark codegen) and RE2 (DuckDB/Go
    * scanners) so the scrub is reproducible across engines — a property a
    * compliance pipeline should test, not assume. Order matters: emails
    * first (contain digits), then IPs, then the greedier phone pattern.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\+[0-9][0-9 ()-]{6,}[0-9]"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "[EMAIL]"),
        Ipv4Pattern, "[IP]"),
      PhonePattern, "[PHONE]")

  /** Markup-cleanup patterns, like the PII patterns restricted to the
    * Java∩RE2 regex subset (no backreferences — RE2 has none, so the
    * script/style blocks are two literal patterns instead of one with
    * `\1`) so the DuckDB oracle replays them verbatim.
    */
  val ScriptPattern = "(?is)<script[^>]*>.*?</script>"
  val StylePattern = "(?is)<style[^>]*>.*?</style>"
  val TagPattern = "<[^>]+>"
  val EntityPattern = "&[A-Za-z]{2,8};|&#[0-9]{1,6};"

  /** C4/RefinedWeb-style markup cleanup: drop script/style blocks, strip
    * tags, blank character entities, squeeze whitespace, trim. Pure
    * codegen'd string expressions — row-local, no UDF, safe in any scan.
    */
  def stripMarkup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(text, ScriptPattern, " "),
            StylePattern, " "),
          TagPattern, " "),
        EntityPattern, " "),
      "\\s+", " "))

  /** Fraction of characters removed by [[stripMarkup]] — a cheap
    * boilerplate gate (a page that is mostly tags scores near 1).
    */
  def markupRatio(text: Column): Column = {
    val kept = length(stripMarkup(text)).cast("double")
    val total = length(text).cast("double")
    when(total === 0.0, 0.0).otherwise(lit(1.0) - kept / total)
  }

  /** One-pass document profile over a documents table. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      length(t).as("n_chars"),
      tokenCount(t).as("n_tokens"),
      bpeishTokenCount(t).as("n_bpeish_tokens"),
      round(punctRatio(t), 4).as("punct_ratio"),
      round(stopwordRatio(t), 4).as("stopword_ratio"),
      round(meanWordLength(t), 4).as("mean_word_len"),
      qualityScore(t).as("quality"),
      languageId(t).as("lang_pred"),
      fingerprint(t).as("fingerprint"))
  }

  /** Top-k TF-IDF keywords per document — the corpus-level term scoring a
    * per-row expression cannot produce (idf needs every document's
    * vocabulary). `tfidf = tf · ln(N / df)` with whitespace tokens,
    * lowercased, ties broken by term.
    *
    * Scale shape: explode → two map-side-combined groupBys (per-doc term
    * counts; document frequencies over the DISTINCT (doc, term) pairs) →
    * a join on term (document-frequency table is vocabulary-sized — far
    * smaller than the corpus; AQE broadcasts it when it fits) → a per-doc
    * top-k window (partitioned by doc, never global). The only driver
    * action is one count for N.
    */
  /** CCNet-style fluency scoring: fit an add-k-smoothed bigram LM on
    * `train`, score every `corpus` document with the average negative
    * log-likelihood of its bigrams (lower = more fluent under the
    * training distribution; threshold on `avg_nll` to filter junk).
    *
    * `P(w2|w1) = (c(w1,w2) + k) / (c(w1,·) + k·V)` where `c(w1,·)` is the
    * context count (sum of bigram counts starting at w1 — the proper
    * conditional normalizer) and V the training vocabulary size. Unseen
    * bigrams and unseen contexts degrade smoothly to `1/V`.
    *
    * Scale shape: the model IS two count tables — bigram counts (one
    * map-side-combined groupBy over the training corpus) and context
    * counts derived from them (a second groupBy over the already-small
    * bigram table, never re-scanning the corpus). Scoring is two joins
    * against those tables (vocabulary-sized; AQE broadcasts them when
    * they fit) and one per-doc aggregate. The only driver action is the
    * scalar vocabulary count. Documents with fewer than two tokens have
    * no bigrams and are omitted.
    */
  /** @param minCount CCNet-style count pruning: bigrams seen fewer than
    *                  `minCount` times in the training slice are dropped
    *                  from the count tables (they then score as unseen).
    *                  "Vocabulary-bounded" tables are only truly bounded
    *                  on clean text — web-scale corpora have hapax-heavy
    *                  vocabularies (typos, URLs, hashes) that grow
    *                  near-linearly with corpus size, and hapax BIGRAMS
    *                  dominate the table; `minCount = 2` typically shrinks
    *                  it by an order of magnitude, keeping both tables
    *                  genuinely broadcastable. Default 1 = no pruning
    *                  (byte-identical scores to the unpruned form).
    */
  def bigramLmScore(train: DataFrame, corpus: DataFrame,
                    idCol: String, textCol: String,
                    k: Double = 1.0, minCount: Long = 1L): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    require(!Set("bg", "w1", "w2", "_cbi", "_cctx", "_p").contains(idCol),
      s"id column '$idCol' collides with an internal name")
    // ONE scan of train, ever: token-adjacency pairs — each token
    // occurrence emits (w, next-or-null), so a single explode+groupBy
    // carries BOTH the bigram table (w2 non-null rows) and the exact
    // vocabulary (distinct w1). The bounded count table is checkpointed,
    // cutting lineage to train — a train frame that is itself an
    // expensive uncached pipeline (q82 passes its full cleaning chain
    // here, 22.6 s honest in round 7) is never re-evaluated per
    // consumer, and the vocab action, the two model joins, and every
    // later evaluation of the returned frame all read the ~KB-to-MB
    // table instead of re-running the corpus lineage.
    val pairCnt = train
      .select(explode(adjacentPairs(col(textCol))).as("_pr"))
      .select(col("_pr.w1").as("w1"), col("_pr.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("_cbi"))
      .pinned(true)
    val vocab = pairCnt.agg(countDistinct(col("w1"))).head().getLong(0).toDouble
    val counted = pairCnt.filter(col("w2").isNotNull)
    val biCnt =
      if (minCount > 1) counted.filter(col("_cbi") >= minCount) else counted
    val ctxCnt = biCnt.groupBy("w1").agg(sum("_cbi").as("_cctx"))
    val scored = corpus
      .select(col(idCol), explode(bigramsOf(col(textCol))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(biCnt, Seq("w1", "w2"), "left")
      .join(ctxCnt, Seq("w1"), "left")
      .withColumn("_p",
        (coalesce(col("_cbi"), lit(0L)) + lit(k)) /
          (coalesce(col("_cctx"), lit(0L)) + lit(k) * lit(vocab)))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(col("_p"))), 4).as("avg_nll"))
  }

  private def tokenized(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  // token-adjacency pairs: (t[i], t[i+1]) for each bigram position plus a
  // trailing (t[n], null), so one explode feeds both the bigram counts and
  // the exact vocabulary (every token occurrence appears as w1 exactly
  // once — including single-token documents, which have no bigrams). The
  // i < size guard keeps element_at in-bounds under ANSI mode; CaseWhen
  // branches evaluate lazily, so the out-of-range access never runs.
  private def adjacentPairs(c: Column): Column =
    graft.functions.Exprs.let(tokenized(c), t =>
      when(size(t) >= 1,
        transform(sequence(lit(1), size(t)),
          i => struct(element_at(t, i).as("w1"),
            when(i < size(t), element_at(t, i + 1)).as("w2")))))

  // the let binds the token array ONCE — element_at inside the transform
  // lambda would otherwise re-tokenize the document per bigram position
  // (O(tokens²); measured 4× on q79). sequence(1, 0) DESCENDS in Spark,
  // so the <2-token case yields a null array (explode emits no rows)
  // instead of an empty stop.
  private def bigramsOf(c: Column): Column =
    graft.functions.Exprs.let(tokenized(c), t =>
      when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("w1"),
            element_at(t, i + 1).as("w2")))))

  /** The LM's (bigram, context) count tables, with optional min-count
    * pruning — exposed for table-size inspection in specs. Context counts
    * are summed over the PRUNED bigram table so the two stay consistent
    * (a pruned bigram is fully unseen, in both numerator and denominator).
    */
  private[graft] def bigramCounts(train: DataFrame, textCol: String,
                                  minCount: Long): (DataFrame, DataFrame) = {
    require(minCount >= 1, "minCount must be at least 1")
    val trainBi = train.select(explode(bigramsOf(col(textCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counted = trainBi.groupBy("w1", "w2").agg(count(lit(1)).as("_cbi"))
    val biCnt =
      if (minCount > 1) counted.filter(col("_cbi") >= minCount) else counted
    val ctxCnt = biCnt.groupBy("w1").agg(sum("_cbi").as("_cctx"))
    (biCnt, ctxCnt)
  }

  /** Gopher-style quality rule battery (Rae et al. 2021, Appendix A —
    * the "MassiveText" document filters; the same family C4 and
    * RefinedWeb apply). Unlike [[qualityScore]], which blends its
    * signals into one number, every rule here is a NAMED boolean next to
    * the measured signal it gates on, so a curation pipeline can report
    * per-rule kill counts and a curator can retune one gate without
    * touching the others. Reference analog: the expectation-suite gate
    * over feature frames (python/hsfs/core/great_expectation_engine.py),
    * whose per-expectation results this mirrors for text.
    *
    * Row-local and codegen'd end-to-end: ONE let-bound tokenize feeds
    * every word-level rule, and the symbol counts are length-difference
    * arithmetic rather than extra regex scans. Nothing shuffles — at
    * 100 TB the whole battery rides the parquet scan.
    *
    * Gate flags are computed on the UNROUNDED signals; the reported
    * signal columns are rounded to 4 decimals for stable comparison.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0,
                  maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  minAlphaRatio: Double = 0.8,
                  minStopwords: Int = 2,
                  stopwords: Seq[String] = enStop): DataFrame = {
    require(!Set("_b").contains(idCol),
      s"id column '$idCol' collides with an internal name")
    val text = col(textCol)
    val battery = graft.functions.Exprs.let(
      filter(split(text, "\\s+"), t => length(t) > 0), toks => {
        val nWords = size(toks).cast("long")
        val mwl = when(nWords === 0, 0.0).otherwise(
          aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double")
            / nWords)
        // '#' and '…'-as-'...' are the Gopher symbol set; counting by
        // length difference keeps this in one codegen'd projection
        val nHash = (length(text) - length(translate(text, "#", "")))
          .cast("double")
        val nEllipsis =
          ((length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3)
            .cast("double")
        val symbolRatio = when(nWords === 0, 0.0)
          .otherwise((nHash + nEllipsis) / nWords)
        val alphaRatio = when(nWords === 0, 0.0).otherwise(
          size(filter(toks, t => t.rlike("\\p{L}"))).cast("double") / nWords)
        val nStop = size(filter(toks, t =>
          lower(t).isin(stopwords.map(lit(_)): _*))).cast("long")
        val okWords = nWords.between(minWords, maxWords)
        val okWordLen = mwl.between(minMeanWordLen, maxMeanWordLen)
        val okSymbol = symbolRatio <= maxSymbolRatio
        val okAlpha = alphaRatio >= minAlphaRatio
        val okStop = nStop >= minStopwords
        struct(
          nWords.as("n_words"),
          round(mwl, 4).as("mean_word_len"),
          round(symbolRatio, 4).as("symbol_ratio"),
          round(alphaRatio, 4).as("alpha_ratio"),
          nStop.as("n_stopwords"),
          okWords.as("ok_words"),
          okWordLen.as("ok_word_len"),
          okSymbol.as("ok_symbol"),
          okAlpha.as("ok_alpha"),
          okStop.as("ok_stopwords"),
          (okWords && okWordLen && okSymbol && okAlpha && okStop).as("pass"))
      })
    df.select(col(idCol), battery.as("_b")).select(col(idCol), col("_b.*"))
  }

  /** DSIR-style importance score (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): fit two hashed-unigram
    * multinomial models — one on a small TARGET corpus (the distribution
    * you want more of), one on the raw corpus — and score every raw
    * document by its average per-token log-likelihood ratio
    * `ln p_target(bucket) / ln p_raw(bucket)` (add-1 smoothed). Selecting
    * the top fraction by score resamples the corpus toward the target
    * distribution; composes with [[graft.ops.Splits.topFractionByGroup]]
    * or a threshold filter for the selection step.
    *
    * Scale shape: both models are `nBuckets`-row count tables regardless
    * of corpus size — explicitly broadcast — so scoring is a map-side
    * pipeline over the exploded tokens plus one per-doc aggregate; the
    * only driver actions are the two scalar total counts. The hash is
    * the SQL-replayable char-poly hash, so the whole score has a
    * value-level oracle.
    */
  def dsirScore(target: DataFrame, corpus: DataFrame, idCol: String,
                textCol: String, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(!Set("_bkt", "_ct", "_cr", "_llr", "_tok").contains(idCol),
      s"id column '$idCol' collides with an internal name")
    def bucketed(df: DataFrame): DataFrame = df
      .select(explode(tokenized(col(textCol))).as("_tok"))
      .select(pmod(graft.functions.TextHash.charPolyHash(col("_tok")),
        lit(nBuckets.toLong)).as("_bkt"))
    // the model tables are ≤ nBuckets rows — checkpoint them eagerly so
    // target and corpus are each scanned ONCE for model fitting (the
    // total-count actions and the two broadcast joins below would
    // otherwise re-run each input's full lineage per consumer: round 6/7
    // measured the scoring pass re-evaluating the corpus pipeline 3×)
    val tCnt = bucketed(target).groupBy("_bkt").agg(count(lit(1)).as("_ct"))
      .pinned(true)
    val rCnt = bucketed(corpus).groupBy("_bkt").agg(count(lit(1)).as("_cr"))
      .pinned(true)
    val nT = tCnt.agg(coalesce(sum("_ct"), lit(0L))).head().getLong(0)
    val nR = rCnt.agg(coalesce(sum("_cr"), lit(0L))).head().getLong(0)
    require(nT > 0, "target corpus has no tokens")
    require(nR > 0, "raw corpus has no tokens")
    corpus
      .select(col(idCol), explode(tokenized(col(textCol))).as("_tok"))
      .select(col(idCol), pmod(graft.functions.TextHash.charPolyHash(col("_tok")),
        lit(nBuckets.toLong)).as("_bkt"))
      .join(broadcast(tCnt), Seq("_bkt"), "left")
      .join(broadcast(rCnt), Seq("_bkt"), "left")
      .withColumn("_llr",
        log((coalesce(col("_ct"), lit(0L)) + lit(1.0)) /
          lit(nT.toDouble + nBuckets)) -
        log((coalesce(col("_cr"), lit(0L)) + lit(1.0)) /
          lit(nR.toDouble + nBuckets)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("_llr")), 4).as("dsir_score"))
  }

  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(!Set("term", "tf", "df", "_s", "rk").contains(idCol),
      s"id column '$idCol' collides with an internal name")
    import org.apache.spark.sql.expressions.Window
    val n = docs.count().toDouble
    val toks = docs.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "\\s+"),
        t => length(t) > 0)).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("_s", col("tf") * log(lit(n) / col("df")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_s").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), round(col("_s"), 4).as("tfidf"),
        col("rk"))
  }

  /** Overlapping token-window chunking — the RAG / context-window prep
    * step: split each document's token stream into chunks of
    * `chunkSize` tokens advancing by `chunkSize - overlap`, re-joined
    * with single spaces. Every token lands in at least one chunk; the
    * final chunk may be short; a document shorter than one chunk is one
    * chunk. Output: one row per (doc, chunk_idx) with the chunk text
    * and its token count.
    *
    * Scale shape: fully row-local — one tokenize (let-bound), chunk
    * starts from a `sequence`, slices via the array HOFs, then one
    * posexplode; zero shuffle, pushes through any downstream plan. All
    * codegen'd expressions, SQL-replayable (list_slice +
    * generate_series in the oracle).
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got $overlap/$chunkSize")
    val step = chunkSize - overlap
    val chunks = graft.functions.Exprs.let(tokenized(col(textCol)), toks =>
      graft.functions.Exprs.let(greatest(size(toks), lit(1)), n =>
        // starts: 0, step, 2·step, … while start < n (short docs → [0])
        transform(
          sequence(lit(0), floor((n - 1) / step).cast("int")),
          i => slice(toks, i * step + 1, lit(chunkSize)))))
    df.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx"),
        size(col("_c")).as("n_tokens"),
        concat_ws(" ", col("_c")).as("chunk_text"))
  }

  /** Okapi BM25 lexical retrieval scores: for every (query, document)
    * pair sharing at least one term, the classic
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with the
    * non-negative idf variant `ln(1 + (N−df+0.5)/(df+0.5))` (the form
    * Lucene standardized on — the raw Robertson-Spärck Jones idf goes
    * negative for terms in over half the corpus and lets one common term
    * subtract relevance). Query terms are deduplicated (repeating a term
    * in the query does not multiply its contribution). Documents
    * matching no query term are absent, not zero-scored — at corpus
    * scale the zero rows are the corpus.
    *
    * Scale shape: the corpus is tokenized ONCE, and the distinct query
    * terms — bounded by contract, it's a query set — are collected once
    * and pushed into the scan as a codegen InSet filter INSIDE the token
    * array, so only query-term occurrences ever explode (on a real
    * corpus the non-matching tokens are nearly all tokens; the 30×
    * probe's explode-then-join form paid 2× the scan floor for exactly
    * that volume). Document length is computed row-local BEFORE the
    * filter and carried as a grouping key, so no second corpus pass per
    * doc; the per-(doc, term) tf groupBy (map-side combined) is the only
    * data-sized shuffle. df re-aggregates that tf frame to ≤|terms|
    * rows; (N, total_len) is one column-pruned scalar agg broadcast back
    * as a 1-row frame ([[vocabulary]]'s pattern); per-term weights are
    * computed once and only then fanned out per query (broadcast), so
    * queries sharing a term share its weight. Final per-(query, doc) sum
    * is the second (small) shuffle.
    *
    * Float determinism: idf/tf algebra is pure double with binary-exact
    * constants where possible; scores round to 4 (family convention —
    * the per-term sum order is engine-arbitrary, q88's accepted slack).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, queryIdCol: String, queryTextCol: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(!Set("_term", "_dl", "_tf", "_df", "_nd", "_tl", "_w")
      .contains(idCol), s"id column '$idCol' collides with an internal name")
    // (query, distinct term) — the query side is small by contract, so
    // the distinct term set is one bounded collect (the IVF-train
    // rationale) and becomes a row-local codegen InSet inside the scan
    val qTerms = queries.select(col(queryIdCol),
      explode(array_distinct(tokenized(col(queryTextCol)))).as("_term"))
    val terms: Array[String] = qTerms.select("_term").distinct()
      .collect().map(_.getString(0))
    val isQueryTerm: Column => Column =
      if (terms.isEmpty) _ => lit(false) else _.isin(terms.toSeq: _*)
    // one corpus scan: row-local dl, keep query-term hits BEFORE the
    // explode. Two-step select on purpose: _toks is referenced twice
    // (size + generator input), so CollapseProject keeps the single
    // tokenize instead of inlining the split into both consumers (the
    // q58/q145 lesson).
    val docTf = docs
      .select(col(idCol), tokenized(col(textCol)).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("_dl"),
        explode(filter(col("_toks"), t => isQueryTerm(t))).as("_term"))
      .groupBy(col(idCol), col("_term"), col("_dl"))
      .agg(count(lit(1)).as("_tf"))
    val dfFrame = docTf.groupBy("_term").agg(count(lit(1)).as("_df"))
    val stats = docs.agg(count(lit(1)).as("_nd"),
      coalesce(sum(size(tokenized(col(textCol)))), lit(0L)).as("_tl"))
    val avgdl = col("_tl").cast("double") / col("_nd").cast("double")
    val idf = log(lit(1.0) +
      ((col("_nd") - col("_df")).cast("double") + lit(0.5)) /
        (col("_df").cast("double") + lit(0.5)))
    val tfTerm = col("_tf").cast("double") * lit(1.0 + k1) /
      (col("_tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl").cast("double") / avgdl))
    docTf
      .join(broadcast(dfFrame), Seq("_term"))
      .crossJoin(broadcast(stats))
      .withColumn("_w", idf * tfTerm)
      .join(broadcast(qTerms), Seq("_term"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("_w")), 4).as("bm25"))
  }

  /** Hashing-trick featurizer (Weinberger 2009): map each token to a
    * fixed bucket `charPolyHash(token) mod dim` and count term
    * frequency per (doc, bucket) — the unbounded-vocabulary-safe sparse
    * featurization (no vocabulary fit, no dictionary broadcast, new
    * tokens at serve time land in a deterministic bucket). Output is
    * the sparse triplet form (id, bucket, tf).
    *
    * Scale shape: one tokenize + explode, then a single
    * map-side-combined groupBy to |docs × occupied buckets| — the hash
    * is the codegen'd 52-bit char-poly ([[fingerprint]]'s), so the
    * bucket algebra replays exactly in SQL.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  dim: Int): DataFrame = {
    require(dim > 0, "featureHash needs a positive dimension")
    df.select(col(idCol),
        explode(tokenized(col(textCol))).as("_tok"))
      .select(col(idCol),
        pmod(graft.functions.TextHash.charPolyHash(col("_tok")),
          lit(dim.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Out-of-vocabulary rate: fit a top-K whitespace-token vocabulary on
    * `train` (count desc, token asc — [[vocabulary]]'s deterministic
    * ranking), then score every `corpus` document with the fraction of
    * its token OCCURRENCES outside that vocabulary. The standard
    * tokenizer-coverage / domain-shift gate before training-data export:
    * a corpus slice whose oov_rate jumps is either a new domain or
    * mojibake, and either way it needs review before it reaches the
    * tokenizer.
    *
    * Scale shape: the vocabulary is ≤ topK rows by construction, so the
    * scoring join is ALWAYS a broadcast — the 100 TB corpus side never
    * reshuffles at token grain; the per-doc groupBy partial-aggregates
    * map-side to |docs| rows. The fit side is one explode + one
    * map-side-combined count + a distributed TakeOrdered(topK).
    * Empty-token documents (no tokens at all) are absent from the
    * output, matching the grain "documents with ≥ 1 token".
    */
  def oovRate(train: DataFrame, corpus: DataFrame, idCol: String,
              textCol: String, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val vocab = train
      .select(explode(tokenized(col(textCol))).as("_vtok"))
      .groupBy(col("_vtok")).agg(count(lit(1)).as("_vn"))
      .orderBy(col("_vn").desc, col("_vtok").asc)
      .limit(topK)
      .select(col("_vtok"))
    val toks = corpus.select(col(idCol),
      explode(tokenized(col(textCol))).as("_tok"))
    toks.join(broadcast(vocab), toks("_tok") === vocab("_vtok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov") / col("n_tokens").cast("double"), 6))
  }

  /** Per-document character-distribution entropy (bits): H = −Σ_c
    * (n_c/N)·log₂(n_c/N) over the document's characters. The
    * compression-ratio proxy of the quality battery — natural prose
    * sits in a narrow entropy band; repeated-character degenerate text
    * scores low, uniform gibberish/base64 blobs score high — and it
    * needs no vocabulary, no model, no language assumption.
    *
    * Scale shape: one explode to character grain, one map-side-combined
    * (doc, char) count (alphabet-bounded, so the combine is maximally
    * effective), then |doc × alphabet| algebra. Empty documents emit no
    * row (no distribution to score).
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol),
        explode(filter(split(col(textCol), ""), c => length(c) > 0))
          .as("_ch"))
      .groupBy(col(idCol), col("_ch"))
      .agg(count(lit(1)).as("_n"))
    val totals = counts.groupBy(col(idCol))
      .agg(sum(col("_n")).as("_tot"),
        count(lit(1)).as("n_distinct_chars"))
    counts.join(totals, Seq(idCol))
      .groupBy(col(idCol))
      .agg(max(col("_tot")).as("n_chars_c"),
        max(col("n_distinct_chars")).as("n_distinct_chars"),
        round(-sum((col("_n") / col("_tot").cast("double")) *
          log(2.0, col("_n") / col("_tot").cast("double"))), 4)
          .as("char_entropy"))
  }

  /** Zipf rank–frequency diagnostic: least-squares slope of
    * ln(frequency) against ln(rank) over the top-K [[vocabulary]] —
    * natural-language corpora sit near slope −1 (Zipf's law); a slope
    * far off it flags template spam (too flat) or a degenerate
    * vocabulary (too steep) before the corpus reaches a tokenizer.
    * One output row: n_terms, slope, intercept.
    *
    * Scale shape: everything beyond the vocabulary fit (one explode +
    * combined count + TakeOrdered(topK)) is a ≤ topK-row aggregation —
    * five sums and two divisions.
    */
  def zipfSlope(docs: DataFrame, idCol: String, textCol: String,
                topK: Int): DataFrame = {
    val pts = vocabulary(docs, idCol, textCol, topK)
      .select(log(col("rank").cast("double")).as("_x"),
        log(col("n_occurrences").cast("double")).as("_y"))
    pts.agg(count(lit(1)).as("n_terms"), sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"), sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_x") * col("_y")).as("_sxy"))
      .select(col("n_terms"),
        round((col("n_terms") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("n_terms") * col("_sxx") - col("_sx") * col("_sx")), 6)
          .as("slope"),
        round((col("_sy") - (col("n_terms") * col("_sxy") -
          col("_sx") * col("_sy")) /
          (col("n_terms") * col("_sxx") - col("_sx") * col("_sx")) *
          col("_sx")) / col("n_terms").cast("double"), 6).as("intercept"))
  }

  /** Distinct-vocabulary overlap of every group against a reference
    * group: |V_g ∩ V_ref|, the two sizes, and the Jaccard index — the
    * corpus-level companion to [[oovRate]] (OOV scores documents at
    * occurrence grain; this scores whole slices at type grain: "how
    * much of German's vocabulary does the English slice share").
    *
    * Scale shape: one distinct (group, token) collapse (map-side
    * combined) is the only data-sized shuffle; the overlap join is
    * type-grain (vocabulary-sized, zipf-bounded) and AQE broadcasts
    * the reference side when it is small. The reference group itself
    * is excluded from the output (its jaccard is 1 by construction).
    */
  def vocabOverlap(df: DataFrame, textCol: String, groupCol: Column,
                   refGroup: String): DataFrame = {
    val toks = df.select(groupCol.cast("string").as("_g"),
        explode(tokenized(col(textCol))).as("_tok"))
      .filter(col("_g").isNotNull)
      .distinct()
    val ref = toks.filter(col("_g") === refGroup)
      .select(col("_tok").as("_rtok"))
    val refSize = ref.agg(count(lit(1)).as("n_ref_tokens"))
    val sizes = toks.filter(col("_g") =!= refGroup)
      .groupBy(col("_g")).agg(count(lit(1)).as("n_tokens"))
    val common = toks.filter(col("_g") =!= refGroup)
      .join(ref, col("_tok") === col("_rtok"))
      .groupBy(col("_g")).agg(count(lit(1)).as("n_common"))
    sizes.join(common, Seq("_g"), "left")
      .crossJoin(broadcast(refSize))
      .select(col("_g").as("group_key"), col("n_tokens"),
        col("n_ref_tokens"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)) /
          (col("n_tokens") + col("n_ref_tokens") -
            coalesce(col("n_common"), lit(0L))).cast("double"), 6)
          .as("jaccard"))
  }

  /** Jensen–Shannon divergence between the unigram token distributions
    * of two corpus slices (ref vs det, e.g. last month's crawl vs this
    * month's): the TOKEN-GRAIN member of the drift battery —
    * [[graft.ops.Monitoring.jsdDrift]] bins a numeric column; this
    * compares what the corpus is actually made of. Smoothing is the
    * battery's +0.5 Laplace over the UNION vocabulary (a token absent
    * from one side gets its half-count, so the score is finite and
    * symmetric), JSD ∈ [0, ln 2]. One row out: union-vocabulary size,
    * both totals, jsd.
    *
    * Scale shape: ONE conditional-aggregation pass over one exploded
    * scan (the psiDrift shape at token grain) to |union vocabulary|
    * count rows — zipf-bounded, grows sublinearly with the corpus —
    * then tiny-frame algebra.
    */
  def tokenJsd(df: DataFrame, textCol: Column, isRef: Column): DataFrame = {
    val counts = df
      .select(explode(tokenized(textCol)).as("_tok"), isRef.as("_r"))
      .filter(col("_r").isNotNull)
      .groupBy(col("_tok"))
      .agg(sum(when(col("_r"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(!col("_r"), 1L).otherwise(0L)).as("det_n"))
    val tot = counts.agg(count(lit(1)).as("_vocab"),
      sum(col("ref_n")).as("_rt"), sum(col("det_n")).as("_dt"))
    val p = (col("ref_n") + lit(0.5)) /
      (col("_rt") + lit(0.5) * col("_vocab"))
    val q = (col("det_n") + lit(0.5)) /
      (col("_dt") + lit(0.5) * col("_vocab"))
    val m = (p + q) / lit(2.0)
    counts.crossJoin(broadcast(tot))
      .agg(max(col("_vocab")).as("n_vocab"),
        max(col("_rt")).as("ref_total"),
        max(col("_dt")).as("det_total"),
        round(sum(p * log(p / m) + q * log(q / m)) / lit(2.0), 4)
          .as("jsd"))
  }

  /** Positive pointwise mutual information over within-window word
    * co-occurrence: for ordered token positions i < j with j − i ≤
    * `window`, count pairs under the CANONICAL (least, greatest) word
    * order, then PPMI(a, b) = max(0, ln(n_ab · N / (n_a · n_b))) where
    * n_a/n_b are windowed-occurrence totals (each pair endpoint counted
    * once per pair, so the marginals and N come from the SAME pair
    * frame and the PMI identity Σ p(a,b) = 1 holds exactly). The
    * classic distributional-similarity association score — the word
    * analog of [[graft.ops.Associations.pairRules]]'s basket lift.
    *
    * Scale shape: tokens explode to |tokens| · window candidate rows
    * via ONE equi-join on (doc, position + offset) — position banding,
    * never a per-document cartesian — then everything collapses to
    * |vocab²∩seen| count rows with map-side combine. The pair frame is
    * pinned ([[Materialize]]) because BOTH the pair counts and the
    * marginals fold from it — one materialized pass instead of
    * recomputing the explode+join lineage twice (the q171 fix pattern,
    * r12 verdict #6). `minPairCount` prunes the hapax tail early (the
    * count filter runs before the marginal join).
    */
  def ppmiPairs(docs: DataFrame, idCol: String, textCol: String,
                window: Int, minPairCount: Long = 1L): DataFrame = {
    require(window >= 1, "window must be ≥ 1")
    val toks = docs
      .select(col(idCol).as("_doc"),
        posexplode(tokenized(col(textCol))).as(Seq("_pos", "_tok")))
    // (doc, pos + k) for k = 1..window: the banded join key — each token
    // meets exactly its next `window` positions, one shuffle, fan-out w
    val left = toks.select(col("_doc"), col("_tok").as("_ta"),
      explode(sequence(col("_pos") + 1, col("_pos") + window)).as("_tgt"))
    val right = toks.select(col("_doc"), col("_tok").as("_tb"),
      col("_pos").as("_tgt"))
    val pairs = left.join(right, Seq("_doc", "_tgt"))
      .select(least(col("_ta"), col("_tb")).as("word_a"),
        greatest(col("_ta"), col("_tb")).as("word_b"))
      .pinned()
    val counts = pairs.groupBy(col("word_a"), col("word_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    // marginals over the SAME pair population (both endpoints of every
    // pair), so N = Σ marginals = 2·|pairs| and the PMI identity is
    // exact; N folds from the tiny marginal frame instead of a third
    // pass over the pair population
    val occ = pairs.select(col("word_a").as("_w"))
      .unionByName(pairs.select(col("word_b").as("_w")))
      .groupBy(col("_w")).agg(count(lit(1)).as("_nw"))
    val total = occ.agg(sum(col("_nw")).as("_n"))
    counts
      .join(occ.withColumnRenamed("_w", "word_a")
        .withColumnRenamed("_nw", "n_a"), Seq("word_a"))
      .join(occ.withColumnRenamed("_w", "word_b")
        .withColumnRenamed("_nw", "n_b"), Seq("word_b"))
      .crossJoin(broadcast(total))
      .select(col("word_a"), col("word_b"), col("n_ab"),
        col("n_a"), col("n_b"),
        // the ratio is formed in DOUBLE (not long × long, which wraps
        // past 9.2·10¹⁸ once n_ab·N crosses ~10¹⁹ on a web corpus) —
        // same fixed dag the SQL oracle replays
        round(greatest(lit(0.0),
          log((col("n_ab").cast("double") * col("_n").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double")))), 6)
          .as("ppmi"))
  }
}

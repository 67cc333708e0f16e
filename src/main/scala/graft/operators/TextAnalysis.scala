package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{StoreSpec, StoreTable}
import graft.sources.StoreSpec.Table

/** [EXT] Text-analysis operators for a training-data pipeline (north star in
  * BASELINE.json): language ID, quality scoring, token counting, document
  * fingerprinting, token frequency. Everything is built from
  * `org.apache.spark.sql.functions` — whole-stage-codegen'd, no UDFs — so the
  * plans stay pipelined at 100 TB (a pure map over the documents scan; the
  * only shuffles are in explicit aggregations like [[topTokens]]).
  */
object TextAnalysis {

  /** whitespace tokenizer (lowercased). */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** token count: whitespace tokenization. */
  def tokenCount(text: Column): Column =
    size(tokens(text))

  /** BPE-ish subword count estimate: alphanumeric runs and single non-space
    * punctuation each count as one token. Formulated as regexp_extract_all
    * (RE2-compatible — no lookaround) so the DuckDB oracle can run the exact
    * same pattern, and cheaper than a lookaround split. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** stopword ratio against a fixed small list (expressible in the oracle). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  /** count of tokens exactly equal to one of `words` — a codegen'd
    * single-scan kernel ([[graft.functions.TokenSetHitsExpr]]) over the
    * lowered trimmed text. History of this hot spot: the r20 `filter` HOF
    * was CodegenFallback (interpreted, 0.52 s single-task gate stage at
    * sf0.1); the r21 `regexp_count` rewrite restored codegen but paid one
    * FULL alternation-regex scan of the document per word set — langId +
    * qualityScore together ran 5+ regex passes on the serial scan side of
    * every curation query (r22 probe: 0.73 s single-task). The kernel
    * tokenizes once (byte scan over `\s` runs — the exact java-regex
    * class `tokens` splits on) and does one hash-set lookup per token.
    * Semantics are the same "token == w" ⇔ "w flanked by \s on the padded
    * text" equivalence the r21 rewrite proved; NULL text → NULL, like the
    * regex form's NULL propagation through concat. The whole-token
    * contract (non-empty, whitespace-free words — the r21 ADVICE item) is
    * require-pinned here and in the kernel: a whitespace-carrying marker
    * would have matched across token boundaries under the regex form and
    * can never equal a token, so it is a caller bug either way. */
  private[operators] def tokenHits(text: Column, words: Seq[String]): Column =
    tokenSetHits(text, Seq(words)).getItem(0)

  /** one [[graft.functions.TokenSetHitsExpr]] over several word sets: the
    * text is tokenized once and each set's count is one item of the array */
  private[operators] def tokenSetHits(text: Column,
                                      sets: Seq[Seq[String]]): Column = {
    require(sets.forall(_.forall(w => w.nonEmpty && !w.exists(_.isWhitespace))),
      s"tokenHits: words must be non-empty and whitespace-free, got $sets")
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.TokenSetHitsExpr(
      GraftSqlBridge.expression(lower(trim(text))),
      sets.map(_.toArray).toArray))
  }

  def stopwordRatio(text: Column): Column =
    stopwordRatioOf(text, tokenHits(text, Stopwords))

  private def stopwordRatioOf(text: Column, stopHits: Column): Column =
    round(stopHits.cast(DoubleType) / size(tokens(text)), 6)

  /** composite quality score in [0,1]: length band + stopword presence +
    * punctuation sanity. Deterministic, closed-form, oracle-expressible. */
  def qualityScore(text: Column): Column =
    qualityOf(text, tokenHits(text, Stopwords))

  /** [[qualityScore]] given the text's [[Stopwords]] hit count */
  private[operators] def qualityOf(text: Column, stopHits: Column): Column = {
    val n = length(text).cast(DoubleType)
    val lenScore = when(n >= 100 && n <= 10000, 1.0)
      .when(n >= 20, 0.5).otherwise(0.0)
    val stopScore = when(stopwordRatioOf(text, stopHits) > 0.05, 1.0)
      .otherwise(0.0)
    val punct = (n - length(regexp_replace(text, "[.,;:!?]", "")).cast(DoubleType)) / n
    val punctScore = when(punct <= 0.2, 1.0).otherwise(0.0)
    round((lenScore + stopScore + punctScore) / 3.0, 6)
  }

  /** Language GUESS — honestly a marker-token heuristic, not real language
    * identification: it counts hits from small per-language stopword marker
    * sets over whitespace tokens and takes the argmax (ties broken by marker
    * list order, deterministic). It can only ever distinguish languages whose
    * markers are disjoint Latin-script tokens — CJK or anything unsegmented is
    * out of scope by construction (a real n-gram language model would replace
    * the marker table; the plan shape — a pure codegen'd map, no shuffle —
    * stays the same). Closed-form, so the DuckDB oracle runs identical
    * CASE/list logic.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "los", "las", "es"),
    "fr" -> Seq("le", "les", "est", "une"),
    "de" -> Seq("der", "die", "das", "ist"))

  def langId(text: Column): Column =
    // all four marker sets in ONE TokenSetHitsExpr scan (r22): separate
    // tokenHits calls would be four kernel instances with different sets,
    // so the text would be tokenized four times. One multi-set kernel
    // tokenizes once. Its four getItem references share one evaluation in a
    // projection only: a filter predicate evaluates each reference
    // separately (Curation's front scan evaluates it once in a Generate).
    langOf(tokenSetHits(text, LangMarkers.map(_._2)))

  /** [[langId]] given a [[tokenSetHits]] array whose first items are the
    * [[LangMarkers]] sets' counts, in order */
  private[operators] def langOf(hits: Column): Column = {
    // argmax as `greatest` over (score, -index, lang) structs — fully
    // whole-stage-codegen'd (the r20 aggregate-HOF fold was CodegenFallback
    // via filter/aggregate: the gate projection evaluated interpreted,
    // re-splitting the text once per language; r21 profile: 0.52 s
    // single-task CPU on 5000 docs). Semantics are identical to the fold:
    // struct comparison is lexicographic, so max (s, -i) = highest score
    // with ties broken by marker-list order (earlier language wins —
    // strictly-greater never displaced it in the fold); 'und' when every
    // score is 0, and for NULL text `s > 0` is NULL so the otherwise
    // branch returns 'und' exactly like the fold's never-displaced init.
    val entries = LangMarkers.zipWithIndex.map { case ((langCode, _), i) =>
      struct(hits.getItem(i).as("s"), lit(-i).as("r"), lit(langCode).as("l"))
    }
    val best = greatest(entries: _*)
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** normalization for fingerprinting: lowercase, strip non-alphanumerics to
    * single spaces, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** document fingerprint: md5 of the normalized text (content-defined key
    * for exact-after-normalization dedup; md5 exists in both engines). */
  def fingerprint(text: Column): Column = fingerprintOfNormalized(normalized(text))

  private[operators] def fingerprintOfNormalized(norm: Column): Column =
    md5(to_binary(norm, lit("utf-8")))

  /** rolling (polynomial) hash over normalized tokens — order-sensitive
    * fingerprint: h' = (h*31 + (xxhash64(token) mod 2^31)) mod (2^31-1), as a
    * fold. Every term is reduced into a 31-bit domain BEFORE the multiply so
    * intermediates stay < 2^36 — no Long overflow, safe under Spark 4's
    * default ANSI mode. */
  def rollingHash(text: Column): Column = {
    val p = lit((1L << 31) - 1)
    aggregate(tokens(normalized(text)), lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(xxhash64(t), lit(1L << 31)), p))
  }

  /** global token frequency: explode + count. Shuffle is on the token key
    * (high cardinality → well-spread); partial aggregation happens map-side. */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token")).limit(k)

  /** within-document repetition: fraction of duplicate word n-grams,
    * 1 − |distinct n-grams| / |n-grams| — the Gopher/C4-style quality signal
    * that flags boilerplate and degenerate (looping) text. Pure codegen'd
    * map over the scan, no shuffle. */
  def repetitionRatio(text: Column, n: Int = 2): Column = {
    val grams = Dedup.shinglesFromTokens(tokens(text), n, distinct = false)
    round(lit(1.0) -
      size(array_distinct(grams)).cast(DoubleType) / size(grams), 6)
  }

  /** Gopher-style n-gram repetition REPORT (Rae et al. 2021 §A1.1 rules,
    * the ones meaningful on unsegmented text): per document, the character
    * mass of (a) the single most frequent 2-/3-gram and (b) all DUPLICATED
    * 3-/4-grams, each as a fraction of the normalized text's characters —
    * the signals that separate looping/boilerplate generation from merely
    * wordy text, beyond [[repetitionRatio]]'s single distinct-ratio.
    * Definitions (deterministic, engine-replicable): top-n fraction =
    * count·len(gram)/n_chars for the (count DESC, gram ASC)-first gram;
    * dup-n fraction = Σ_{count ≥ 2} count·len(gram)/n_chars. A document
    * with FEWER than n tokens has no n-grams and scores 0 for that n —
    * guarded per n before shingling (shinglesFromTokens emits one
    * degenerate sub-n window otherwise, which would score a 1-token doc
    * top2_frac = 1.0, inverting the semantics: Gopher repetition gates
    * must never drop short clean docs; the exactDecontaminate minRun
    * pattern). Line-based Gopher rules need line-segmented corpora and
    * are out of scope here.
    *
    * Plan shape: ONE tokenize pass feeding a two-level explode ((n, gram)
    * for n ∈ {2,3,4}), one (doc, n, gram) count aggregate, one (doc, n)
    * aggregate (top via min-struct, dup via conditional sum), a 4-way
    * conditional pivot, and one id-keyed join back to the per-doc
    * char/word counts — all shuffles on the doc key.
    */
  def gopherRepetitionReport(df: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("__id"), normalized(col(textCol)).as("__nt"))
      .select(col("__id"),
        length(col("__nt")).cast(LongType).as("n_chars"),
        size(tokens(col("__nt"))).cast(LongType).as("n_words"),
        tokens(col("__nt")).as("__t"))
    val grams = base.select(col("__id"),
        explode(array(Seq(2, 3, 4).map(n => struct(lit(n).as("n"),
          when(size(col("__t")) >= n,
            Dedup.shinglesFromTokens(col("__t"), n, distinct = false))
            .otherwise(array().cast(ArrayType(StringType)))
            .as("g"))): _*)).as("__e"))
      .select(col("__id"), col("__e.n").as("__n"),
        explode(col("__e.g")).as("__g"))
    val perN = grams.groupBy("__id", "__n", "__g")
      .agg(count(lit(1)).as("__cnt"))
      .groupBy("__id", "__n")
      .agg(
        min(struct((lit(0L) - col("__cnt")).as("nc"), col("__g").as("g")))
          .as("__top"),
        sum(when(col("__cnt") >= 2, col("__cnt") * length(col("__g")))
          .otherwise(0L)).as("__dup"))
      .withColumn("__topc",
        (lit(0L) - col("__top.nc")) * length(col("__top.g")))
    val stats = perN.groupBy("__id").agg(
      max(when(col("__n") === 2, col("__topc"))).as("__t2"),
      max(when(col("__n") === 3, col("__topc"))).as("__t3"),
      max(when(col("__n") === 3, col("__dup"))).as("__d3"),
      max(when(col("__n") === 4, col("__dup"))).as("__d4"))
    def frac(c: Column) = round(coalesce(c, lit(0L)).cast(DoubleType)
      / greatest(col("n_chars"), lit(1L)), 6)
    base.join(stats, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_words"), col("n_chars"),
        frac(col("__t2")).as("top2_char_frac"),
        frac(col("__t3")).as("top3_char_frac"),
        frac(col("__d3")).as("dup3_char_frac"),
        frac(col("__d4")).as("dup4_char_frac"))
      .orderBy(idCol)
  }

  /** top-k TF-IDF terms per document: tf = in-doc term count, idf =
    * ln(N / doc-frequency), ranked per doc on the ROUNDED score (term asc
    * tiebreak) so the ordering is reproducible across engines. Scale shape:
    * two hash aggregates keyed on (doc, term) and (term) — both map-side
    * combined — then a per-doc top-k window; the doc-frequency table is tiny
    * (vocabulary-sized) and AQE broadcasts the join.
    *
    * The `tf` doc-term matrix is the operator's working set and is consumed
    * THREE times (scoring join, doc-frequency, N); it is localCheckpoint'd
    * so the corpus is scanned and tokenized exactly ONCE per call — the
    * same materialize-TF-then-derive-IDF shape as MLlib's CountVectorizer →
    * IDF. (Leaving it lazy is worse: column pruning specializes each tf
    * reference differently, defeating exchange reuse → 3 corpus scans.)
    * N is derived from the checkpoint as countDistinct(id) (= documents
    * contributing ≥1 term; a token-less document has no tf rows and never
    * appears in the output anyway) and cross-joined as a broadcast 1-row
    * frame — no df.count() action, no driver synchronization. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    val tf = df
      .select(col(idCol),
        explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nRow = tf.agg(countDistinct(col(idCol)).as("__n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(nRow))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n_docs").cast(DoubleType) / col("df")), 6))
    Relational.topNPerGroup(scored, Seq(idCol),
        Seq(desc("tfidf"), asc("term")), k)
      .select(col(idCol), col("term"), col("tfidf"))
  }

  /** PII scrubbing — the pre-training redaction pass. Patterns are kept in
    * the common Java-regex ∩ RE2 subset (no lookaround, no backrefs) so the
    * DuckDB oracle runs the IDENTICAL patterns, and the whole thing is a pure
    * codegen'd map over the scan — no shuffle, no UDF. Emails are replaced
    * before URLs so `mailto:`-style overlaps resolve deterministically. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^\\s]+"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      UrlPattern, "[URL]")

  def piiCounts(text: Column): (Column, Column) = (
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))),
    size(regexp_extract_all(text, lit(UrlPattern), lit(0))))

  /** URL handling for web-crawl pipelines — extraction, host, and canonical
    * form as pure codegen'd regex chains in the Java ∩ RE2 subset (the
    * [[redactPii]] rule), so the DuckDB oracle runs IDENTICAL patterns.
    * Canonicalization is the dedup-key step of crawl processing: the same
    * page arrives under fragment/tracking-param variants that a byte-exact
    * URL key would treat as distinct documents. */
  /** default tracking params stripped by [[canonicalizeUrl]]. Deliberately
    * EXCLUDES bare `ref`: on many sites it is content-bearing (GitHub's
    * `?ref=branch` selects a different resource), so stripping it would
    * conflate genuinely distinct pages into one dedup key. Callers that
    * crawl referral-tagged corpora can pass their own alternation. */
  val TrackingParams = "utm_[A-Za-z]+|fbclid|gclid"

  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  /** lowercased host — no port, path, query, or fragment. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^https?://([^/:?#]+)", 1))

  /** canonical URL: fragment stripped, standard tracking params
    * ([[TrackingParams]]) removed with their separators tidied, scheme and
    * host lowercased. Path/query CASE and remaining param ORDER are
    * preserved — reordering or lowercasing them would conflate genuinely
    * distinct URLs on case-sensitive servers. */
  def canonicalizeUrl(url: Column,
                      trackingParams: String = TrackingParams): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // tracking params mid-query ("&k=v"), then leading ("?k=v&" → "?"),
    // then the only-param case ("?k=v" at end) — in this order a URL like
    // ?utm_a=1&utm_b=2&x=3 tidies to ?x=3 with no stray separators
    val noMid = regexp_replace(noFrag, s"&(?:$trackingParams)=[^&]*", "")
    val noLead = regexp_replace(noMid, s"\\?(?:$trackingParams)=[^&]*&", "?")
    val noOnly = regexp_replace(noLead, s"\\?(?:$trackingParams)=[^&]*$$", "")
    concat(
      lower(regexp_extract(noOnly, "^(https?://[^/?#]+)", 1)),
      regexp_extract(noOnly, "^https?://[^/?#]+(.*)$", 1))
  }

  /** Unigram language-model score: mean ln p(token) per document, with
    * p(token) = corpus_count(token) / corpus_total — the cheap perplexity
    * proxy used to rank documents for quality filtering (CCNet-style, with
    * the KenLM swapped for the corpus's own unigram table).
    *
    * Scale shape: one explode + two hash aggregates build the frequency
    * table (map-side combined, keyed on the token — high cardinality, well
    * spread), then tokens join the table and average per doc. The table is
    * vocabulary-sized (Zipf: millions of rows at 100 TB, not billions), so
    * AQE broadcasts the join at any realistic vocab; `vocabCap > 0`
    * additionally truncates to the top-`vocabCap` tokens and scores the tail
    * at the out-of-vocabulary floor ln(1 / (total + 1)) — bounding the
    * broadcast no matter how degenerate the corpus.
    *
    * Determinism: each token's ln is fixed to integer NANOS (round to
    * integer is boundary-safe across engines; ln itself is correctly-
    * rounded-adjacent in both) so the per-doc sum is order-independent
    * integer addition — no float accumulation-order sensitivity across
    * partitionings — and the mean divides back out at the end. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     vocabCap: Int = 0): DataFrame = {
    val tok = df.select(col(idCol),
      explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("term"))
    // localCheckpoint the vocabulary aggregate (vocabulary-sized — tiny by
    // Zipf even at 100 TB): `total` is then a scan of the checkpoint, not a
    // second pass over the corpus, and the scoring join below reads the
    // checkpoint too — so the final job tokenizes the corpus exactly ONCE
    // (previously: tok was re-derived for the vocab branch AND the join
    // branch, plus a third full pass for the total).
    val fullVocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val vocab =
      if (vocabCap <= 0) fullVocab
      else fullVocab.orderBy(desc("cnt"), asc("term")).limit(vocabCap)
    // corpus token total fully IN-PLAN: a 1-row aggregate off the vocab
    // checkpoint, broadcast-cross-joined into the scoring plan (the TF-IDF
    // `nRow` pattern) — no driver action, no synchronization point
    val totalRow = fullVocab.agg(sum("cnt").as("__total"))
    val totalD = col("__total").cast(DoubleType)
    val oovNanos = round(log(lit(1.0) / (totalD + 1.0)) * 1e9).cast(LongType)
    tok.join(vocab, Seq("term"), "left")
      .crossJoin(broadcast(totalRow))
      .groupBy(col(idCol))
      .agg(round(
        sum(coalesce(
          round(log(col("cnt") / totalD) * 1e9).cast(LongType), oovNanos))
          .cast(DoubleType) / count(lit(1)) / 1e9, 6).as("avg_logp"))
  }

  /** Bigram language-model score: mean ln p(next | context) per document —
    * one step up the CCNet ladder from [[unigramLogProb]]: it measures
    * FLUENCY, not just vocabulary frequency (scrambling a document's
    * tokens preserves its unigram score and destroys its bigram score).
    * p(b | a) = pair_count(a b) / context_count(a), with context counts
    * derived from the SAME pair table (occurrences of `a` followed by
    * anything), so per-context probabilities sum exactly to 1 and the
    * whole scorer is one tokenize pass. Self-scored corpus → every pair
    * exists, no OOV path. Documents with < 2 tokens have no pairs and are
    * absent from the output (no fluency evidence either way).
    *
    * Scale shape: the pair HOF is row-local (no positional self-join);
    * the two frequency tables are pair-/context-vocabulary-sized hash
    * aggregates (Zipf-bounded at 100 TB) checkpointed off one exploded
    * pass, then pairs join both tables and average per doc. Determinism:
    * per-pair ln is fixed to integer NANOS before the per-doc sum (the
    * [[unigramLogProb]] doctrine — order-independent integer addition). */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the token array into a column FIRST: referencing the
    // split() expression from inside a lambda would re-tokenize the whole
    // document per element (an O(n²)-per-doc trap, measured 10.8 s vs
    // 0.9 s at sf0.1); pairs then come from one zip of two array slices —
    // strictly row-local, no positional self-join
    val t = col("__toks")
    val pairsArr = when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("t1"),
            concat(a, lit(" "), b).as("pair"))))
      .otherwise(array().cast("array<struct<t1:string,pair:string>>"))
    val prs = df
      .select(col(idCol),
        filter(tokens(col(textCol)), x => length(x) > 0).as("__toks"))
      .select(col(idCol), explode(pairsArr).as("p"))
      .select(col(idCol), col("p.t1").as("t1"), col("p.pair").as("pair"))
      .localCheckpoint()
    val pairCnt = prs.groupBy("pair").agg(count(lit(1)).as("cnt_ab"))
    val ctxCnt = prs.groupBy("t1").agg(count(lit(1)).as("cnt_a"))
    prs.join(pairCnt, Seq("pair")).join(ctxCnt, Seq("t1"))
      .groupBy(col(idCol))
      .agg(round(
        sum(round(log(col("cnt_ab").cast(DoubleType) / col("cnt_a")) * 1e9)
          .cast(LongType))
          .cast(DoubleType) / count(lit(1)) / 1e9, 6).as("avg_logp"))
  }

  /** CCNet-style LM-PERPLEXITY quality filter — the step the n-gram LM
    * family ([[unigramLogProb]]/[[bigramLogProb]]) stops short of: score
    * each document's mean per-bigram negative log-likelihood under the
    * corpus's own add-one-smoothed bigram LM and GATE on a perplexity
    * threshold (fluent text ≈ low perplexity; gibberish, boilerplate
    * soup, and wrong-language residue score high — the Wenzek et al.
    * CCNet filter, with the corpus's own LM standing in for the external
    * Wikipedia model, which composes identically).
    *
    * Add-k smoothing with k = 1 (Laplace) keeps every probability a ratio
    * of two exact longs — p(b|a) = (c(ab)+1)/(c(a)+V), V = the context
    * vocabulary size — and each per-pair ln is nanos-fixed before the
    * per-doc sum (the PMI determinism doctrine); the KEEP decision then
    * compares exact integers (−Σ ≤ ln(maxPpl)·n, the plan-time literal
    * shared with the oracle), immune to last-ulp drift. Documents with no
    * bigram (< 2 tokens) cannot be scored: ln_ppl NULL, kept false — the
    * agreementKappa degenerate-case doctrine.
    *
    * Scale shape: ONE tokenize+pair pass (checkpointed — the
    * bigramLogProb precedent), two vocab-bounded count aggregates, the
    * pair join back, one per-doc aggregate; V rides as a broadcast 1-row
    * frame. Output is docs-sized. */
  def lmPerplexityFilter(df: DataFrame, idCol: String, textCol: String,
                         maxPpl: Double = 500.0): DataFrame = {
    require(maxPpl > 1.0, s"lmPerplexityFilter: maxPpl must be > 1: $maxPpl")
    val prs = lmPairRows(df, Seq(col(idCol)), textCol).localCheckpoint()
    val pairCnt = prs.groupBy("pair").agg(count(lit(1)).as("cnt_ab"))
    val ctxCnt = prs.groupBy("t1").agg(count(lit(1)).as("cnt_a"))
    // own-corpus fit: every scored pair exists in the counts, so the plain
    // inner joins here and lmPerplexityAgainst's coalesced left joins are
    // the SAME scoring function — parity asserted in ProfilingSpec
    lmScore(df, idCol, prs, pairCnt, ctxCnt, maxPpl)
  }

  /** the (t1, pair) adjacent-bigram rows under the LM tokenization —
    * shared by [[lmPerplexityFilter]] and the persisted-LM store family so
    * fit and gate can never tokenize differently. */
  private def lmPairRows(df: DataFrame, keep: Seq[Column],
                         textCol: String): DataFrame = {
    val t = col("__toks")
    val pairsArr = when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("t1"),
            concat(a, lit(" "), b).as("pair"))))
      .otherwise(array().cast("array<struct<t1:string,pair:string>>"))
    // fan before the tokenize+pair projection: the pass is the LM family's
    // cost center (r21 profile: 0.57 s single-task in q_lm_store) and both
    // downstream count aggregates / per-doc scores are key-based
    Fan.out(df.select(keep :+ col(textCol): _*))
      .select(keep :+
        filter(tokens(col(textCol)), x => length(x) > 0).as("__toks"): _*)
      .select(keep :+ explode(pairsArr).as("p"): _*)
      .select(keep :+ col("p.t1").as("t1") :+ col("p.pair").as("pair"): _*)
  }

  /** score `prs` (the per-doc pair rows) against bigram/context count
    * tables and emit the (idCol, n_bigrams, ln_ppl, kept) gate frame —
    * the shared scoring tail of the refit and store-backed paths. Counts
    * are LEFT-joined and coalesced to 0 so a pair the LM has never seen
    * scores ln(1/(c(a)+V)) — the add-one floor — instead of dropping. */
  private def lmScore(df: DataFrame, idCol: String, prs: DataFrame,
                      pairCnt: DataFrame, ctxCnt: DataFrame,
                      maxPpl: Double): DataFrame = {
    val lnMaxNanos = math.round(math.log(maxPpl) * 1e9)
    val v = ctxCnt.agg(count(lit(1)).cast(LongType).as("__v"))
    // ln p under add-one smoothing: both operands exact longs cast to
    // double BEFORE the division (the groupJsDivergence IEEE-shape rule)
    val termNanos = round(log(
        (coalesce(col("cnt_ab"), lit(0L)).cast(DoubleType) + lit(1.0)) /
          (coalesce(col("cnt_a"), lit(0L)).cast(DoubleType) +
            col("__v").cast(DoubleType)))
      * lit(1e9)).cast(LongType)
    val scored = prs.join(pairCnt, Seq("pair"), "left")
      .join(ctxCnt, Seq("t1"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_bigrams"),
        sum(termNanos).as("__sn"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-col("__sn").cast(DoubleType) / col("n_bigrams") / 1e9, 6)
          .as("ln_ppl"),
        coalesce(-col("__sn") <= lit(lnMaxNanos) * col("n_bigrams"),
          lit(false)).as("kept"))
  }

  /** create/replace the PERSISTED corpus LM — the deployment shape CCNet
    * gating actually runs on (Wenzek et al.: the perplexity LM is FIXED,
    * fit once on a reference corpus, and every curation pass gates against
    * it), where [[lmPerplexityFilter]] refits from its own input per
    * invocation (batch-relative semantics — the threshold moves with batch
    * composition). Two accreting bucketed count tables, the
    * frequency-store pattern with EXACT adds: `<store>_pairs (pair, cnt,
    * __batch)` and `<store>_ctx (t1, cnt, __batch)`; estimates over the
    * store sum counts across batches, so append ≡ rebuild exactly (exact
    * integers, no sketch error). Bucketed on the probe join keys so a
    * gate's count joins never reshuffle the store. */
  def writeLmStore(df: DataFrame, textCol: String, store: String,
                   nBuckets: Int = 8): Unit =
    // both count tables aggregate the same checkpointed pair rows
    lmStore(store).create(lmPairRows(df, Seq.empty, textCol).localCheckpoint(),
      nBuckets)

  /** the LM store: pair and context counts of a batch of [[lmPairRows]],
    * bucketed on the gate's join keys, properties on both tables */
  private def lmStore(store: String): StoreSpec =
    StoreSpec(store, Map("kind" -> "lm_bigram", "enc" -> "lm_v1"),
      Seq(Table("_pairs", "pair",
          _.groupBy("pair").agg(count(lit(1)).as("cnt")), tagged = true),
        Table("_ctx", "t1",
          _.groupBy("t1").agg(count(lit(1)).as("cnt")), tagged = true)),
      required = Set("enc"), propsOnEvery = true)

  /** append one ingest batch's pair/context counts exactly once under the
    * required `batchTag`, per table. Estimates downstream sum across
    * batches, so a replayed tag would double every count it touches — the
    * tag gate is correctness, not hygiene. */
  def appendLmCounts(spark: org.apache.spark.sql.SparkSession, store: String,
                     df: DataFrame, textCol: String, batchTag: Long): Unit = {
    StoreTable.requireTag("appendLmCounts", store, batchTag)
    // both tables count the same pair rows, pinned LAZILY: the tag gates run
    // first, so a replayed batch tokenizes nothing, and the first table's
    // write materializes the pin for the second
    lmStore(store).appendOnce(
      lmPairRows(df, Seq.empty, textCol).localCheckpoint(eager = false),
      batchTag)
  }

  /** Compact an accreting LM store IN PLACE ([[StoreSpec.compact]]): fold
    * every key's batch rows into ONE row per pair / context. The fold is an
    * exact integer SUM — every count [[lmPerplexityAgainst]] can ever read
    * is provably unchanged — while the gate's count joins drop from
    * keys×batches rows to keys. Distributed: a vocabulary at web scale is
    * not driver-sized. */
  def compactLmStore(spark: org.apache.spark.sql.SparkSession,
                     store: String): Unit =
    lmStore(store).compact(spark, sum("cnt").cast(LongType).as("cnt"))

  /** the perplexity gate against the PERSISTED LM ([[writeLmStore]]) —
    * CCNet semantics: the threshold is absolute (the LM does not move with
    * batch composition), the corpus pays ONE tokenize+pair pass, and the
    * count joins read the bucketed store without reshuffling it. Pairs and
    * contexts the LM has never seen score at the add-one floor (cnt 0);
    * output shape is [[lmPerplexityFilter]]'s, and gating a corpus against
    * a store fit on that same corpus is EXACTLY the refit filter (parity
    * asserted in ProfilingSpec). */
  def lmPerplexityAgainst(df: DataFrame, idCol: String, textCol: String,
                          store: String,
                          maxPpl: Double = 500.0): DataFrame = {
    require(maxPpl > 1.0, s"lmPerplexityAgainst: maxPpl must be > 1: $maxPpl")
    val spark = df.sparkSession
    lmStore(store).check(spark)
    val prs = lmPairRows(df, Seq(col(idCol)), textCol).localCheckpoint()
    val pairCnt = spark.table(s"${store}_pairs")
      .groupBy("pair").agg(sum("cnt").as("cnt_ab"))
    val ctxCnt = spark.table(s"${store}_ctx")
      .groupBy("t1").agg(sum("cnt").as("cnt_a"))
    lmScore(df, idCol, prs, pairCnt, ctxCnt, maxPpl)
  }

  /** Top-k PMI collocations: adjacent token pairs ranked by pointwise
    * mutual information PMI(a,b) = ln(p(a,b)/(p(a)p(b))) with p(a,b) over
    * the bigram table and p(·) over unigrams — the corpus-analysis pass
    * that surfaces multiword expressions ("new york", "machine learning")
    * for tokenizer vocab curation and boilerplate phrase review.
    * `minPairCount` is the standard hapax guard (raw PMI is maximized by
    * pairs seen once).
    *
    * Determinism: the PMI argument is one fixed-shape double product
    * ratio (cnt_ab·N·N)/(M·cnt_a·cnt_b) — all six factors exact longs cast
    * to double, so both engines evaluate the identical IEEE expression;
    * the value is fixed to integer NANOS and ordering/ties run entirely on
    * (pmi_nanos DESC, t1, t2) integers. Double products keep the operator
    * safe where long products (N² at a 10¹³-token corpus) would overflow.
    *
    * Scale shape: ONE tokenize pass (checkpointed) feeds both the pair and
    * unigram aggregates (row-local zip pairs, the bigramLogProb HOF-trap
    * doctrine); totals are 1-row broadcasts; the final cut is a top-k
    * TakeOrdered, never a full sort. */
  def topPmiBigrams(df: DataFrame, textCol: String, k: Int,
                    minPairCount: Long = 5L): DataFrame = {
    require(k > 0, s"topPmiBigrams: k must be positive: $k")
    require(minPairCount >= 1, s"topPmiBigrams: minPairCount $minPairCount")
    val t = col("__toks")
    val pairsArr = when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("t1"), b.as("t2"))))
      .otherwise(array().cast("array<struct<t1:string,t2:string>>"))
    val base = df
      .select(filter(tokens(col(textCol)), x => length(x) > 0).as("__toks"))
      .localCheckpoint()
    val prs = base.select(explode(pairsArr).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
    val pairCnt = prs.groupBy("t1", "t2")
      .agg(count(lit(1)).cast(LongType).as("cnt_ab"))
      .filter(col("cnt_ab") >= minPairCount)
      .localCheckpoint()
    val uniCnt = base.select(explode(t).as("tok"))
      .groupBy("tok").agg(count(lit(1)).cast(LongType).as("cnt"))
      .localCheckpoint()
    val nTok = uniCnt.agg(sum("cnt").cast(LongType).as("__n"))
    val mPairs = prs.agg(count(lit(1)).cast(LongType).as("__m"))
    val pmiNanos = round(log(
      (col("cnt_ab").cast(DoubleType) * col("__n").cast(DoubleType)
        * col("__n").cast(DoubleType))
      / (col("__m").cast(DoubleType) * col("__ca").cast(DoubleType)
        * col("__cb").cast(DoubleType))) * lit(1e9)).cast(LongType)
    pairCnt
      .join(uniCnt.select(col("tok").as("t1"), col("cnt").as("__ca")), "t1")
      .join(uniCnt.select(col("tok").as("t2"), col("cnt").as("__cb")), "t2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(mPairs))
      .select(col("t1"), col("t2"), col("cnt_ab"),
        pmiNanos.as("pmi_nanos"))
      .orderBy(col("pmi_nanos").desc, col("t1").asc, col("t2").asc)
      .limit(k)
  }

  /** Sequence packing (concat-and-chunk): lay each group's documents end to
    * end in deterministic (`orderCol`) order and assign every document the
    * training chunk its FIRST token lands in — chunk = floor(start_offset /
    * budget). This is the standard pre-tokenization packing pass (documents
    * are concatenated into fixed-size training sequences; a document
    * straddling a boundary is split downstream by the loader).
    *
    * Scale shape: the running offset is a window per `groupCol` — each
    * group packs independently, so parallelism = number of groups (at 100 TB
    * the group is a shard/domain key, thousands of them; NEVER a global
    * window, which would serialize on one partition). */
  def chunkAssignments(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, budget: Int): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), col(groupCol),
        subwordCount(col(textCol)).cast(LongType).as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("chunk_id", floor(col("start_offset") / budget))
  }

  /** RAG-style overlapping token-window chunking: split each document into
    * windows of `chunkTokens` whitespace tokens advancing by `strideTokens`
    * (overlap = chunkTokens − strideTokens), the retrieval-index chunker in
    * front of every embedding pipeline. Chunk count per doc is the closed
    * form 1 + ceil(max(n − chunk, 0) / stride) — the canonical cover-all-
    * tokens contract: the last window always reaches the final token and no
    * window is fully contained in its predecessor (an empty doc yields one
    * empty chunk, mirrored exactly by the oracle).
    *
    * Scale shape: a pure per-row projection + one Generate (explode of the
    * per-doc start sequence) — no shuffle, no join; output rows ≈ n/stride
    * per doc and each carries only its own window's text. Row width stays
    * bounded by chunkTokens, so downstream embedding batches see uniform
    * work regardless of document length skew. Being stateless it composes
    * onto a STREAM unchanged — pass `ordered = false` (streams cannot
    * global-sort; batch callers keep the deterministic dump order). */
  def chunkTokenWindows(df: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int, strideTokens: Int,
                        ordered: Boolean = true): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(strideTokens > 0 && strideTokens <= chunkTokens,
      s"strideTokens must be in (0, chunkTokens]: $strideTokens")
    val toks = filter(split(trim(col(textCol)), "\\s+"),
      t => length(t) > lit(0))
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")).cast(LongType))
      // integer `div`, not true-division + truncating cast: exact by
      // construction (and textually the oracle's `//` form) instead of
      // leaning on correctly-rounded double division below ~2^52 tokens
      .withColumn("__nchunks",
        lit(1L) + expr(s"(greatest(__n - ${chunkTokens}L, 0L) " +
          s"+ ${strideTokens - 1}L) div ${strideTokens}L"))
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0L), col("__nchunks") - 1)).as("chunk_idx"))
      .withColumn("start_token", col("chunk_idx") * strideTokens)
      .withColumn("n_chunk_tokens",
        least(col("__n") - col("start_token"), lit(chunkTokens.toLong)))
      .withColumn("chunk_text", array_join(
        slice(col("__toks"), (col("start_token") + 1).cast(IntegerType),
          col("n_chunk_tokens").cast(IntegerType)), " "))
      .select(col(idCol), col("chunk_idx"), col("start_token"),
        col("n_chunk_tokens"), col("chunk_text")) match {
      case out if ordered => out.orderBy(col(idCol), col("chunk_idx"))
      case out => out
    }
  }

  /** Pairwise Jensen-Shannon divergence (in bits) between the unigram token
    * distributions of each pair of `groupCol` values — the corpus-mixing
    * diagnostic that tells you how lexically different two sources really
    * are before you weight them (0 = identical distributions, 1 = disjoint
    * vocabularies). Uses the algebraic reduction
    * JSD = ln2 + ½·Σ_common [p·ln(p/(p+q)) + q·ln(q/(p+q))] (nats): tokens
    * present in only one side contribute exactly their ln2 mass, so ONLY
    * the common-vocabulary inner join is ever materialized.
    *
    * Integer-NANOS doctrine (the q_token_entropy pattern): each per-token
    * term is fixed to a BIGINT nanos value before the sum, making the
    * aggregate order-independent and cross-engine exact; the ln argument is
    * a ratio of cross products c_a·t_b vs the pooled denominator, each
    * factor cast to DOUBLE BEFORE the multiply (the topPmiBigrams shape —
    * a long·long product would silently wrap past 2^63 in non-ANSI Spark
    * while the oracle's HUGEINT would not; double·double is the identical
    * IEEE op on both engines at any corpus size).
    *
    * Scale shape: one (group, token) hash aggregate with map-side combine,
    * a vocabulary-sized self-join on the token key (never corpus-sized),
    * group totals broadcast back, and a groups²-sized result. */
  def groupJsDivergence(df: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val tok = df.select(col(groupCol).as("__g"),
      explode(filter(split(lower(trim(col(textCol))), "\\s+"),
        t => length(t) > lit(0))).as("__term"))
    val dist = tok.groupBy("__g", "__term").agg(count(lit(1)).as("__c"))
    val totals = dist.groupBy("__g").agg(sum("__c").as("__t"))
    val a = dist.join(broadcast(totals), "__g").select(
      col("__g").as("__ga"), col("__term"),
      col("__c").as("__ca"), col("__t").as("__ta"))
    val b = dist.join(broadcast(totals), "__g").select(
      col("__g").as("__gb"), col("__term"),
      col("__c").as("__cb"), col("__t").as("__tb"))
    val pa = col("__ca").cast(DoubleType) * col("__tb").cast(DoubleType)
    val pb = col("__cb").cast(DoubleType) * col("__ta").cast(DoubleType)
    val den = pa + pb
    val termNanos = round((
      col("__ca").cast(DoubleType) / col("__ta") * log(pa / den)
      + col("__cb").cast(DoubleType) / col("__tb") * log(pb / den)
      ) * lit(1e9)).cast(LongType)
    val common = a.join(b, Seq("__term"))
      .filter(col("__ga") < col("__gb"))
      .select(col("__ga"), col("__gb"), termNanos.as("__tn"))
      .groupBy("__ga", "__gb")
      .agg(count(lit(1)).as("n_common"), sum("__tn").as("__sn"))
    val pairs = totals.select(col("__g").as("__ga"))
      .crossJoin(totals.select(col("__g").as("__gb")))
      .filter(col("__ga") < col("__gb"))
    pairs.join(common, Seq("__ga", "__gb"), "left")
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(lit(1.0) + coalesce(col("__sn"), lit(0L)) / lit(1e9) / lit(2.0)
          / lit(0.6931471805599453), 6).as("jsd_bits"))
      .orderBy("group_a", "group_b")
  }

  /** Pairwise token-SET Jaccard between groups — the set-overlap
    * complement of [[groupJsDivergence]] (JSD weighs frequency mass; this
    * asks only "how much vocabulary do two sources share", the corpus
    * pre-merge diagnostic). Entirely integer-exact: |A∩B| from one
    * vocab-keyed self-join of the distinct (group, token) table,
    * |A∪B| = |A| + |B| − |A∩B| by inclusion-exclusion — one final
    * correctly-rounded division. Pairs sharing nothing keep a 0 row.
    *
    * Scale shape: one distinct aggregate (map-side combined) over
    * (group, token), a vocabulary-keyed join, sizes broadcast,
    * groups²-sized output — the groupJsDivergence plan with set
    * semantics. */
  def groupTokenJaccard(df: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val sets = df.select(col(groupCol).as("__g"),
        explode(filter(split(lower(trim(col(textCol))), "\\s+"),
          t => length(t) > lit(0))).as("__term"))
      .distinct()
    val sizes = sets.groupBy("__g")
      .agg(count(lit(1)).cast(LongType).as("__sz"))
    val common = sets.select(col("__g").as("__ga"), col("__term"))
      .join(sets.select(col("__g").as("__gb"), col("__term")), Seq("__term"))
      .filter(col("__ga") < col("__gb"))
      .groupBy("__ga", "__gb")
      .agg(count(lit(1)).cast(LongType).as("__inter"))
    val pairs = sizes.select(col("__g").as("__ga"), col("__sz").as("__sa"))
      .crossJoin(sizes.select(col("__g").as("__gb"), col("__sz").as("__sb")))
      .filter(col("__ga") < col("__gb"))
    pairs.join(common, Seq("__ga", "__gb"), "left")
      .withColumn("__i", coalesce(col("__inter"), lit(0L)))
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        col("__i").as("n_common"),
        (col("__sa") + col("__sb") - col("__i")).as("n_union"),
        round(col("__i").cast(DoubleType)
          / (col("__sa") + col("__sb") - col("__i")), 6).as("jaccard"))
      .orderBy("group_a", "group_b")
  }

  /** GLOBAL shard planning — [[chunkAssignments]] without a group key:
    * lay the WHOLE corpus end to end in `idCol` order and assign each
    * document the output shard its first token lands in (shard =
    * floor(global_start_offset / budget)) — how a training run's writer
    * decides which of its N token-balanced output files each document
    * belongs to when there is no natural partition key.
    *
    * The global running offset is NOT a global window (one-task
    * serialization at 100 TB) but [[Relational.globalPrefixSum]]'s
    * two-phase scan: range-bucketed partial sums, a bucket-count-sized
    * offset broadcast, and per-bucket windows — identical answer, corpus
    * never funneled through one partition. */
  def shardAssignments(df: DataFrame, idCol: String, textCol: String,
                       budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    Relational.globalPrefixSum(
        df.select(col(idCol),
          subwordCount(col(textCol)).cast(LongType).as("n_tokens")),
        idCol, "n_tokens", prefixCol = "start_offset")
      .withColumn("shard_id", floor(col("start_offset") / budget))
  }

  /** micros sum + token count → logit: round the mean to integer micros at
    * scale 0 (cross-engine boundary-safe), then one exact IEEE ÷1e6 —
    * shared by [[hashedQualityScore]], [[hashedQualityKeep]] and
    * [[hashedClassify]], so the scorers cannot silently diverge on the
    * rounding. */
  private[graft] def logitFromMicros(sumMicros: Column,
                                     nTokens: Column): Column =
    round(sumMicros.cast(DoubleType) / nTokens).cast(LongType) / lit(1e6)

  /** the fused per-row (n_tokens, sum_micros) kernel —
    * [[graft.functions.HashedQualityExpr]] over the token array; NULL for
    * docs with no tokens (they must vanish from the score, the explode
    * form's absence semantics). */
  private def hashedQualityNS(textCol: Column,
                              weightsMicros: Seq[Long]): Column =
    hashedQualityOfTokens(tokens(normalized(textCol)), weightsMicros)

  /** the same kernel over an already-projected `tokens(normalized(text))` */
  private[operators] def hashedQualityOfTokens(toks: Column,
                                               weightsMicros: Seq[Long]): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.HashedQualityExpr(
      GraftSqlBridge.expression(toks), weightsMicros.toArray))
  }

  /** the keep decision from a (n_tokens, sum_micros) kernel result */
  private[operators] def logitKeep(ns: Column, keepThreshold: Double): Column =
    logitFromMicros(ns.getItem(1), ns.getItem(0)) >= keepThreshold

  /** MODEL-BASED quality scoring — the learned-filter pass of every large
    * curation pipeline (GPT-3's LR quality classifier over CommonCrawl,
    * fastText in CCNet/RedPajama): a linear model over a HASHED bag of
    * words (the hashing trick — a fixed `weightsMicros.length`-dimensional
    * model, no vocabulary join, out-of-vocabulary impossible), mean-pooled
    * over the document's tokens.
    *
    * The trained weights ship as a LITERAL array inside the plan — an
    * offline model is kilobytes, so it rides the task binary to every
    * executor; scoring is tokenize → md5-bucket → weight lookup → per-document
    * sum, all inside ONE row-local codegen'd kernel
    * ([[graft.functions.HashedQualityExpr]]) — no explode, no shuffle.
    *
    * The emitted score is the LOGIT (mean bucket weight): monotone in the
    * classifier probability, so thresholding it ≡ thresholding sigmoid(·),
    * WITHOUT a cross-engine exp() rounding hazard. Weights are integer
    * MICROS: the per-document sum is exact integer arithmetic
    * (order-independent); the mean is rounded to integer micros at SCALE 0
    * (scale-6 rounding of a fraction hits the cross-engine decimal-boundary
    * hazard — observed at sf0.1 — while scale-0 never does, the
    * labelCentroids rule) and only then divided by 1e6, an exact IEEE
    * division both engines do identically — `keep` is decided on those
    * identical bits. */
  def hashedQualityScore(df: DataFrame, idCol: String, textCol: String,
                         weightsMicros: Seq[Long],
                         keepThreshold: Double = 0.0): DataFrame = {
    require(weightsMicros.nonEmpty,
      "hashedQualityScore requires a non-empty weight vector")
    // one codegen'd row-local kernel (r22) instead of explode + hash-
    // aggregate shuffle: the score never needs to leave its row. Same
    // bucket math, same rounding, same output frame — docs with no tokens
    // score NULL and are dropped, exactly the explode form's absence
    df.select(col(idCol),
        hashedQualityNS(col(textCol), weightsMicros).as("__ns"))
      .filter(col("__ns").isNotNull)
      .select(col(idCol), col("__ns").getItem(0).as("n_tokens"),
        logitFromMicros(col("__ns").getItem(1), col("__ns").getItem(0))
          .as("logit"))
      .withColumn("keep", col("logit") >= keepThreshold)
  }

  /** [[hashedQualityScore]]'s KEEP decision as a row-local boolean Column —
    * what the curation compositions filter on directly (r22: the agg +
    * semi-join form shuffled the corpus to compute a per-row predicate).
    * NULL (→ filter-drop) for token-less docs, like the score's absence. */
  def hashedQualityKeep(textCol: Column, weightsMicros: Seq[Long],
                        keepThreshold: Double): Column = {
    logitKeep(hashedQualityNS(textCol, weightsMicros), keepThreshold)
  }

  /** multi-class hashed-BOW linear classifier — the DOMAIN-TAGGING stage
    * (fastText-style routing of each document to a domain/topic for
    * dataset mixing, the DCLM/DoReMi companion to [[hashedQualityScore]]'s
    * binary keep/drop): one weight vector per class as plan literals,
    * md5-bucketed tokens, per-class mean logit in integer micros, argmax
    * label with a deterministic tiebreak (first class in declaration order
    * wins ties — plan literals, so the tie policy is part of the model).
    *
    * Scale shape: ONE row-local codegen'd kernel
    * ([[graft.functions.HashedClassifyExpr]]) — per token one md5 bucket,
    * then one add per class, giving (n_tokens, K sums) per row with no
    * explode and no shuffle (the [[hashedQualityScore]] kernel widened to K
    * classes) — then a pure argmax projection. K is the number of DOMAINS
    * (tens), never data-sized.
    *
    * Precondition (shared with [[hashedQualityScore]]): a document with
    * NULL or token-less text gets a NULL kernel result and is ABSENT
    * from the output — there is no mean logit to compute for it. Route
    * such docs explicitly upstream (e.g. the curation length gate) rather
    * than joining this frame and silently losing them. */
  def hashedClassify(df: DataFrame, idCol: String, textCol: String,
                     classWeights: Seq[(String, Seq[Long])]): DataFrame = {
    require(classWeights.nonEmpty, "hashedClassify requires >= 1 class")
    val nb = classWeights.head._2.length
    require(nb > 0 && classWeights.forall(_._2.length == nb),
      "all class weight vectors must share one nonzero bucket count")
    // one codegen'd row-local kernel (r22, the hashedQualityScore rewrite
    // at K classes): the explode + K-sum hash-aggregate shuffled the
    // corpus — and re-derived the md5 bucket once PER CLASS per token —
    // for per-row scores. Same bucket math, same rounding, same output;
    // token-less docs score NULL and filter-drop, exactly the explode
    // form's absence (see the precondition above).
    val ns = {
      import org.apache.spark.sql.GraftSqlBridge
      GraftSqlBridge.column(graft.functions.HashedClassifyExpr(
        GraftSqlBridge.expression(tokens(normalized(col(textCol)))),
        classWeights.map(_._2.toArray).toArray))
    }
    val scored = df.select(col(idCol), ns.as("__ns"))
      .filter(col("__ns").isNotNull)
      .select(col(idCol) +: col("__ns").getItem(0).as("n_tokens") +:
        classWeights.indices.map(k =>
          col("__ns").getItem(k + 1).as(s"__s$k")): _*)
    val logits = classWeights.indices.map(k =>
      logitFromMicros(col(s"__s$k"), col("n_tokens")).as(s"__l$k"))
    // argmax with first-class-wins ties: array_max over (logit, -k, label)
    // structs compares fields in order — highest logit, then smallest k
    val packed = array(classWeights.zipWithIndex.map { case ((lbl, _), k) =>
      struct(col(s"__l$k").as("l"), lit(-k).as("nk"), lit(lbl).as("lbl"))
    }: _*)
    scored.select(col(idCol) +: col("n_tokens") +: logits: _*)
      .withColumn("__best", array_max(packed))
      .select(col(idCol), col("n_tokens"),
        col("__best").getField("lbl").as("label"),
        col("__best").getField("l").as("logit"))
  }

  /** deterministic stand-in for an offline-trained quality model: seeded
    * uniform weights in ±1.0 (integer micros). Production callers pass
    * their fastText/LR weights; the fixture pipeline and the DuckDB oracle
    * both embed THESE literals, which is what makes q_quality_model
    * oracle-exact. */
  def syntheticQualityModel(nBuckets: Int = 256,
                            seed: Long = 20260812L): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBuckets)((rnd.nextInt(2000001) - 1000000).toLong)
  }

  /** Host-level boilerplate LINE removal — the CCNet/trafilatura-style
    * template-stripping pass: a line appearing in more than
    * `maxLineDocRatio` of a host's documents (and in ≥ `minLineDocFreq` of
    * them) is site chrome (navigation, cookie banners, footers), not
    * content — drop it from every document of that host; every other line
    * is kept in original order. Documents keep their row even when every
    * line is boilerplate (empty `clean` text), so downstream length/quality
    * gates see them rather than silently losing rows.
    *
    * `minLineDocFreq` (default 2) is the single-doc-host guard: with one
    * document, every line's ratio is 1.0 and the doc would be erased;
    * a line must repeat across documents before it can be template.
    *
    * Scale shape: split+posexplode to (host, line, id, pos) postings — a
    * pure pipelined map derived once per consumer (doc-freq and the
    * anti-join side; two scans of the text column beat pinning a
    * corpus-sized postings frame in executor storage); line doc-frequency
    * is a map-side-combined aggregate keyed on (host, line) — high
    * cardinality, well spread; per-host doc counts are a HOSTS-sized
    * aggregate AQE broadcasts; only the BOILER set (hosts × chrome lines,
    * tiny) is checkpointed, feeding the anti-join; reassembly is one
    * per-document aggregate (array_sort by position — per doc, never a
    * global window). The same shape as span dedup's postings, with the
    * ratio cap playing the maxWindowDocFreq role from the start. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             hostCol: String, maxLineDocRatio: Double = 0.5,
                             minLineDocFreq: Int = 2): DataFrame = {
    require(maxLineDocRatio > 0.0 && maxLineDocRatio <= 1.0,
      s"maxLineDocRatio must be in (0,1], got $maxLineDocRatio")
    require(minLineDocFreq >= 2,
      s"minLineDocFreq must be >= 2, got $minLineDocFreq")
    // \r?\n: real crawls mix CRLF and LF — splitting on \n alone would
    // leave \r on some docs' copies of a chrome line, split its doc-freq
    // across two byte forms, and keep the boilerplate everywhere
    val lines = df.select(col(idCol), col(hostCol),
      posexplode(split(col(textCol), "\\r?\\n")).as(Seq("__pos", "__line")))
    val hostDocs = df.groupBy(col(hostCol))
      .agg(countDistinct(col(idCol)).as("__n"))
    // checkpoint only the BOILER set (hosts × chrome lines — tiny), not the
    // corpus-sized line postings: the two postings consumers re-derive
    // `lines` with one pruned scan each rather than pinning every line of
    // every document in executor storage for the operator's lifetime
    val boiler = lines.select(col(hostCol), col("__line"), col(idCol))
      .distinct()
      .groupBy(col(hostCol), col("__line"))
      .agg(count(lit(1)).as("__df"))
      .join(hostDocs, Seq(hostCol))
      .filter(col("__df") >= minLineDocFreq &&
        col("__df").cast(DoubleType) / col("__n") > maxLineDocRatio)
      .select(col(hostCol), col("__line"))
      .localCheckpoint()
    val kept = lines.join(boiler, Seq(hostCol, "__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos").as("p"),
          col("__line").as("l")))), x => x.getField("l")),
        "\n").as("__clean"))
    df.select(col(idCol), col(hostCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col(hostCol),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** corpus-GLOBAL duplicate-paragraph removal — the RefinedWeb/CCNet
    * global line-and-paragraph dedup stage, and the corpus-wide sibling of
    * the host-keyed [[removeBoilerplateLines]] (which needs a host column
    * and a per-host ratio; this one needs neither): a paragraph appearing
    * in more than `maxDocFreq` DISTINCT documents is removed from every
    * document EXCEPT its first occurrence (minimum (doc id, position) —
    * deterministic keep-first, so exactly one copy of each duplicated
    * paragraph survives corpus-wide). In-document repeats of a non-global
    * paragraph are left alone (that is repetition scoring's job).
    *
    * Scale shape: one posexplode builds (doc, pos, paragraph) postings;
    * doc-freq AND the first occurrence come from ONE hash aggregate keyed
    * on the paragraph's md5 (high cardinality, well spread; min over a
    * (doc, pos) struct is the lexicographic first); only the
    * duplicated-paragraph set — the Zipf head, tiny relative to the corpus
    * — is checkpointed; removal is a postings join against it and
    * reassembly the same per-doc sort as boilerplate. The corpus-sized
    * postings are never pinned. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      maxDocFreq: Int = 1): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val posts = df.select(col(idCol),
        posexplode(split(col(textCol), "\\r?\\n")).as(Seq("__pos", "__para")))
      .withColumn("__ph", md5(to_binary(col("__para"), lit("utf-8"))))
    // blank paragraphs (consecutive newlines) are SEPARATORS, not content:
    // RefinedWeb/CCNet-style line dedup excludes empty lines, so they never
    // enter the doc-freq aggregate and ride through reassembly verbatim —
    // otherwise a blank line (df = corpus size) would be stripped from every
    // doc but one, collapsing paragraph structure corpus-wide
    val dup = posts.filter(trim(col("__para")) =!= "")
      .groupBy(col("__ph"))
      .agg(countDistinct(col(idCol)).as("__df"),
        min(struct(col(idCol).as("d"), col("__pos").as("p"))).as("__first"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__ph"), col("__first"))
      .localCheckpoint()
    val kept = posts.join(dup, Seq("__ph"), "left")
      .filter(col("__first").isNull ||
        (col(idCol) === col("__first.d") && col("__pos") === col("__first.p")))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos").as("p"),
          col("__para").as("l")))), x => x.getField("l")),
        "\n").as("__clean"))
    df.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** WITHIN-document repeated-paragraph removal (the Dolma/C4-style
    * intra-doc pre-pass): each non-blank paragraph survives only at its
    * FIRST occurrence inside its own document; blank lines are separators,
    * not content, and ride through verbatim (same doctrine as
    * [[dedupParagraphs]], which handles the corpus-GLOBAL rule).
    *
    * Scale shape: a pure per-row projection over higher-order array
    * functions — zero shuffles, zero joins, embarrassingly parallel, so it
    * is the cheap pre-pass that runs BEFORE corpus-global paragraph dedup
    * and shrinks its postings (an in-doc repeat contributes doc-freq 1
    * either way, but reassembly and postings width drop). Work per doc is
    * O(P²) string compares in the worst case (array_position scans for the
    * first occurrence per paragraph) — P = paragraphs per doc, tens in
    * practice, and never a corpus-dimension cost. */
  def dedupParagraphsIntra(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__paras", split(col(textCol), "\\r?\\n"))
      .select(col(idCol), array_join(
        filter(col("__paras"), (x, i) =>
          (trim(x) === "") || (array_position(col("__paras"), x) === (i + 1))),
        "\n").as("clean_text"))

  /** Corpus-level lexical statistics in one row: token count, vocabulary
    * size, type/token ratio, and the Shannon entropy (bits) of the unigram
    * distribution — the "is this corpus degenerate" gate (a crawl stuck on
    * one template shows up as entropy collapse long before a human reads a
    * sample).
    *
    * H = ln N − (Σ c·ln c)/N, in bits by dividing with the ln 2 literal
    * (embedding the constant dodges any cross-engine `log2` disagreement).
    * Σ c·ln c follows the [[unigramLogProb]] integer-NANOS doctrine: each
    * vocabulary row contributes round(c·ln(c)·1e9) as a LONG, so the sum is
    * order-independent integer addition, never float accumulation.
    *
    * Plan shape: explode → one vocabulary hash aggregate (map-side
    * combined) → one single-row reduce over the vocabulary. Zero joins. */
  def corpusLexicalStats(df: DataFrame, textCol: String): DataFrame = {
    val Ln2 = 0.6931471805599453 // nearest double to ln 2; also in oracles
    df.select(explode(filter(tokens(col(textCol)), t => length(t) > 0))
        .as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .agg(
        count(lit(1)).cast(LongType).as("n_types"),
        sum("cnt").cast(LongType).as("n_tokens"),
        sum(round(col("cnt").cast(DoubleType) *
            log(col("cnt").cast(DoubleType)) * 1e9).cast(LongType))
          .as("__clogc_nanos"))
      .select(
        col("n_types"), col("n_tokens"),
        round((log(col("n_tokens").cast(DoubleType)) -
          col("__clogc_nanos").cast(DoubleType) / 1e9 /
            col("n_tokens")) / Ln2, 6).as("entropy_bits"),
        round(col("n_types").cast(DoubleType) / col("n_tokens"), 6)
          .as("ttr"))
  }

  /** Corpus-mix report: per group (source × language, typically) the doc
    * and token counts plus each group's share of the corpus — the table a
    * pretraining mix is tuned against ("src3 is 40% of tokens but 8% of
    * docs") and the input to [[graft.operators.Sampling]]'s temperature
    * mixing. ONE grouped aggregate over a projection carrying only the
    * group key and a per-doc token count (map-side combined), then a
    * broadcast of the 1-row totals; shares divide exact integers, rounded
    * to 6 places (engine-identical). */
  def corpusMixReport(df: DataFrame, groupCols: Seq[String],
                      textCol: String): DataFrame = {
    require(groupCols.nonEmpty, "corpusMixReport: no group columns")
    val base = df.select(groupCols.map(col) :+
      size(filter(tokens(col(textCol)), t => length(t) > 0))
        .cast(LongType).as("__nt"): _*)
    val grouped = base.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum("__nt").cast(LongType).as("n_tokens"))
    val totals = grouped.agg(sum("n_docs").as("__td"),
      sum("n_tokens").as("__tt"))
    grouped.crossJoin(broadcast(totals))
      .withColumn("share_docs",
        round(col("n_docs").cast(DoubleType) / col("__td"), 6))
      .withColumn("share_tokens",
        round(col("n_tokens").cast(DoubleType) / col("__tt"), 6))
      .drop("__td", "__tt")
      .orderBy(groupCols.map(col): _*)
  }

  /** Blocked fuzzy self-join (record linkage): emit pairs of rows whose
    * `keyExpr` strings are within `maxDist` Levenshtein edits, with
    * candidates restricted to pairs sharing a BLOCK key — the standard
    * blocking architecture every entity-resolution system uses, because the
    * unblocked form is all-pairs O(n²) at any scale. The block key here is
    * deliberately part of the SEMANTICS (pairs in different blocks are not
    * compared, by contract), which is what makes the operator exactly
    * oracle-checkable rather than best-effort.
    *
    * Plan shape: one shuffle on the block key, bucket-local self-join
    * (`id_a < id_b` halves the candidate mass), then the O(|s|·|t|)
    * Levenshtein verify per candidate — the candidates×verify cost law of
    * the dedup families. Block-key skew is the caller's lever: a prefix
    * block over natural-language text yields near-uniform buckets; a
    * degenerate block (constant key) degrades to all-pairs and the skew
    * belongs in [[graft.operators.Profiling.skewReport]] first.
    *
    * Keys are truncated to `keyLen` chars BEFORE comparison so the verify
    * cost per pair is bounded (edit distance on full documents is both
    * quadratic and semantically wrong for linkage — use the minhash/simhash
    * families for whole-document similarity).
    */
  def fuzzyJoin(df: DataFrame, idCol: String, keyExpr: Column,
                blockExpr: Column, maxDist: Int,
                keyLen: Int = 40): DataFrame = {
    require(maxDist >= 0, s"fuzzyJoin: maxDist < 0: $maxDist")
    require(keyLen > 0, s"fuzzyJoin: keyLen must be positive: $keyLen")
    // fan the probe projection: at fixture scale the block join broadcasts
    // its build side, so the O(keyLen²) verify otherwise runs on the
    // unsplittable scan's single task (r21 profile: 1.7 s of 2.3 s wall)
    val base = Fan.out(df.select(col(idCol).as("__id"),
      substring(keyExpr, 1, keyLen).as("__k"),
      blockExpr.as("__blk")))
    val a = base.select(col("__id").as("id_a"), col("__k").as("__ka"),
      col("__blk"))
    val b = base.select(col("__id").as("id_b"), col("__k").as("__kb"),
      col("__blk"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__ka"), col("__kb"))
        .cast(LongType))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
      .orderBy("id_a", "id_b")
  }

  /** Jaro-Winkler similarity as a Column — the native codegen'd
    * [[graft.functions.JaroWinklerExpr]] kernel (DuckDB
    * `jaro_winkler_similarity` semantics; see its scaladoc for the pinned
    * algorithm). Levenshtein ([[fuzzyJoin]]) charges every edit equally;
    * Jaro-Winkler weights agreement density and shared prefixes, the
    * standard scorer for name/title/URL linkage. */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.JaroWinklerExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Jaro-Winkler similarity in integer MICROS (round(jw·1e6)): all
    * thresholding and ordering downstream happens on this integer, so the
    * row SET is immune to last-ulp double drift between engines — the same
    * integer-score doctrine as the nanos-entropy queries. */
  def jaroWinklerMicros(a: Column, b: Column): Column =
    round(jaroWinkler(a, b) * lit(1000000L)).cast(LongType)

  /** Blocked Jaro-Winkler record linkage: pairs of rows sharing a block key
    * whose `keyExpr` prefixes score at least `minSimMicros` (similarity in
    * integer micros, e.g. 900000L = 0.90). Same blocking architecture,
    * candidate-mass law, and `id_a < id_b` halving as [[fuzzyJoin]] — only
    * the verify kernel differs: the codegen'd O(keyLen·window) Jaro-Winkler
    * scorer instead of O(keyLen²) Levenshtein, so the per-candidate verify
    * is ~keyLen-times cheaper on long keys at 100 TB candidate mass. */
  def jaroWinklerLinkage(df: DataFrame, idCol: String, keyExpr: Column,
                         blockExpr: Column, minSimMicros: Long,
                         keyLen: Int = 40): DataFrame = {
    require(minSimMicros >= 0 && minSimMicros <= 1000000L,
      s"jaroWinklerLinkage: minSimMicros out of [0, 1e6]: $minSimMicros")
    require(keyLen > 0, s"jaroWinklerLinkage: keyLen must be positive: $keyLen")
    val base = Fan.out(df.select(col(idCol).as("__id"),
      substring(keyExpr, 1, keyLen).as("__k"),
      blockExpr.as("__blk")))
    val a = base.select(col("__id").as("id_a"), col("__k").as("__ka"),
      col("__blk"))
    val b = base.select(col("__id").as("id_b"), col("__k").as("__kb"),
      col("__blk"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim_micros", jaroWinklerMicros(col("__ka"), col("__kb")))
      .filter(col("sim_micros") >= minSimMicros)
      .select("id_a", "id_b", "sim_micros")
      .orderBy("id_a", "id_b")
  }

  /** Best-match resolution on top of [[jaroWinklerLinkage]] blocking: for
    * every record, the single highest-scoring OTHER record in its block
    * (ties broken by smaller candidate id — deterministic because the score
    * is integer micros). This is the golden-record "survivor → canonical"
    * assignment step of entity resolution; emitting one row per matched
    * record keeps the output linear in input size no matter how dense the
    * candidate graph gets. */
  def jaroWinklerBestMatch(df: DataFrame, idCol: String, keyExpr: Column,
                           blockExpr: Column, minSimMicros: Long,
                           keyLen: Int = 40): DataFrame = {
    val base = Fan.out(df.select(col(idCol).as("__id"),
      substring(keyExpr, 1, keyLen).as("__k"),
      blockExpr.as("__blk")))
    val a = base.select(col("__id").as("id"), col("__k").as("__ka"),
      col("__blk"))
    val b = base.select(col("__id").as("match_id"), col("__k").as("__kb"),
      col("__blk"))
    val scored = a.join(b, Seq("__blk"))
      .filter(col("id") =!= col("match_id"))
      .withColumn("sim_micros", jaroWinklerMicros(col("__ka"), col("__kb")))
      .filter(col("sim_micros") >= minSimMicros)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id")
      .orderBy(col("sim_micros").desc, col("match_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("id", "match_id", "sim_micros")
      .orderBy("id")
  }

  /** per-document stats frame (used by q_text_* queries). */
  def docStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      tokenCount(col(textCol)).as("n_tokens"),
      stopwordRatio(col(textCol)).as("stop_ratio"),
      qualityScore(col(textCol)).as("quality"),
      langId(col(textCol)).as("lang_pred"),
      fingerprint(col(textCol)).as("fp"))

  /** HTML → text extraction, the web-corpus curation front door: drop
    * script/style/comment subtrees, strip remaining tags, decode the six
    * ubiquitous entities, collapse whitespace. Built entirely from
    * codegen'd `regexp_replace`/`replace` columns (one projection, no
    * UDF), and every pattern is deliberately RE2-compatible — lazy
    * quantifiers and inline (?is) flags only, NO backreferences — so a
    * DuckDB oracle replays the identical chain (q_html_extract verifies
    * engine-for-engine). Entity order: `&amp;` is decoded LAST (the
    * single-pass decode convention — `&amp;lt;` must yield the literal
    * `&lt;`, not `<`). This is the markup-STRIP tier (the C4/CC-Net
    * preprocessing shape): a DOM-fidelity extractor (tables, links,
    * block-level newlines) is a different, parser-backed component. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTag = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTag) { case (c, (ent, ch)) =>
        // literal (non-regex) replace — exists in both engines
        call_function("replace", c, lit(ent), lit(ch))
      }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** HTML → text with BLOCK STRUCTURE, the DOM-fidelity tier above
    * [[htmlToText]] (which collapses all structure to spaces and thereby
    * starves paragraph-keyed consumers like [[dedupParagraphs]]): block-
    * level boundaries (`<br>` plus open/close of
    * p/div/h1-6/li/tr/ul/ol/table/blockquote) become newlines, table-cell
    * CLOSES (`</td>`/`</th>`) become tabs, THEN the strip/decode/collapse
    * chain runs — so the emitted text is newline-per-block,
    * tab-between-cells: exactly what a web-corpus pipeline feeds to
    * paragraph dedup and table-aware extractors.
    *
    * Still one codegen'd projection of RE2-compatible regex/replace
    * columns (lazy quantifiers, alternation, NO backreferences), so a
    * DuckDB oracle replays the chain engine-for-engine (q_html_blocks).
    * Mechanics: boundaries are first rewritten to the non-whitespace
    * sentinels \x11 (cell) and \x12 (block) — any pre-existing \x11/\x12
    * in the input maps to space up front, keeping the operator total —
    * which survive the single `\s+`→' ' collapse; then cell sentinels
    * become tabs (consecutive empty cells keep their tabs — TSV
    * semantics), block-sentinel RUNS become one newline, row-trailing
    * tabs drop, and outer whitespace strips. Tag-name matching is
    * whole-name by construction (`(\s[^>]*)?>` — `<pre>`/`<link>` fall to
    * the generic strip, never to the p/li rules). */
  def htmlToBlocks(html: Column): Column = {
    val clean0 = regexp_replace(html, "[\\x11\\x12]", " ")
    val noScript = regexp_replace(clean0,
      "(?is)<script[^>]*>.*?</script\\s*>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    // cell closes BEFORE the block rule (tr close is a block break, cell
    // closes inside it are column separators)
    val cells = regexp_replace(noComment, "(?is)</(td|th)\\s*>", "\u0011")
    val blocks = regexp_replace(cells,
      "(?is)<br\\s*/?\\s*>|" +
        "</?(p|div|h[1-6]|li|tr|ul|ol|table|blockquote)(\\s[^>]*)?>",
      "\u0012")
    val noTag = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTag) { case (c, (ent, ch)) =>
        call_function("replace", c, lit(ent), lit(ch))
      }
    val oneSpace = regexp_replace(decoded, "\\s+", " ")
    val tabs = regexp_replace(oneSpace, " ?\\x11 ?", "\t")
    val newlines = regexp_replace(tabs, "( ?\\x12 ?)+", "\n")
    val noEdgeTabs = regexp_replace(newlines, "\\t+\\n", "\n")
    regexp_replace(regexp_replace(noEdgeTabs, "^\\s+", ""), "\\s+$", "")
  }

  /** deflate compression ratio per document — the classic repetition /
    * low-entropy quality signal (boilerplate, keyword stuffing, and
    * generated spam compress far below clean prose). One
    * `java.util.zip.Deflater` per PARTITION, `reset()` between rows (the
    * codec-reuse shape: allocation-free inner loop, the decodeFeatures
    * doctrine); raw/deflated byte counts are exact integers and the ratio
    * rounds 6-dp half-up. Empty documents report ratio 1.0 (nothing to
    * compress ≠ suspicious). No shuffle — pipelines with the scan.
    *
    * Determinism: zlib at a FIXED level is deterministic for a given
    * implementation; the verify-side oracle recomputes with the same JVM
    * library (the IndependentOracles sketch precedent), which checks the
    * distributed plumbing (partitioning, reuse, no row mixing) — the
    * codec itself is pinned by unit tests on known strings. */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
                       level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9,
      s"compressionRatio: level must be in [1,9], got $level")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(textCol).cast(StringType))
      .as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(level, true /* raw, no header */)
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          d.reset()
          d.setInput(raw)
          d.finish()
          var out = 0L
          while (!d.finished()) out += d.deflate(buf)
          val ratio =
            if (raw.isEmpty) 1.0
            else math.floor(out.toDouble / raw.length * 1e6 + 0.5) / 1e6
          (id, raw.length.toLong, out, ratio)
        }
      }
      .select(col("_1").as("doc_id"), col("_2").as("n_bytes"),
        col("_3").as("n_deflated"), col("_4").as("compress_ratio"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] End-to-end corpus curation — the composed training-data pass every
  * LLM pipeline runs, as ONE operator: language gate → quality gate →
  * (learned quality filter → benchmark decontamination →) exact
  * (fingerprint) dedup → MinHash-LSH near-dedup (→ shared-span dedup) →
  * deterministic hash sample. Every composition's answer equals the chain
  * of the already-verified stage functions (`TextAnalysis` gates,
  * [[Dedup.decontaminate]], [[Dedup.exactDedup]],
  * [[Dedup.minhashDedupPortable]], [[Dedup.spanDedup]],
  * [[Sampling.hashSample]]; CurationSpec pins it), and each carries a full
  * DuckDB oracle built from the same verified CTE chains.
  *
  * The pass is one row-local FRONT scan plus two dedup decisions:
  *
  *  - The front ([[front]]) is the only checkpoint. It decides every
  *    per-row stage and computes what every dedup stage needs, evaluating
  *    each kernel ONCE per row: one `TokenSetHitsExpr` covers the four
  *    language marker sets and the stopwords, and one
  *    `tokens(normalized(text))` feeds the learned-quality, contamination,
  *    fingerprint, MinHash and span-window kernels. The gate kernels run in
  *    one `inline(array(struct(...)))` Generate ([[Dedup.evalOnce]]): whole-
  *    stage codegen shares no subexpressions inside a filter, so a gate
  *    filter over the kernels themselves ran the token-set kernel 9 times
  *    and the learned-quality kernel twice per row. The dedup kernels run
  *    in the projection after the gate decision, only for rows that pass
  *    it, and no filter sits above them before the checkpoint.
  *  - Exact + near dedup is ONE dropped-id set: every id above the minimum
  *    id of its fingerprint, united with the higher id of every
  *    band-sharing pair whose estimate reaches the threshold
  *    ([[Dedup.portableNearDupIds]]), taken over ALL front rows rather
  *    than over the exact survivors. This equals the sequential
  *    exact-then-near order: if `a < b` pass the near test, the minimum
  *    `a' ≤ a` of `a`'s fingerprint group survives exact dedup and has
  *    `a`'s normalized text, so the same tokens, signature, band keys and
  *    estimate against `b`. So `b` is dropped by near dedup over the exact
  *    survivors too, or was already an exact drop. The converse holds
  *    because the exact survivors are front rows, and an estimate depends
  *    only on the two signatures.
  *  - Span dedup is the second decision, over the first one's survivors:
  *    each row's DISTINCT k-token window hashes, exploded, with `min(id)`
  *    and `count(*)` per window; a row whose id is above the minimum of a
  *    window shared by at most [[Dedup.MaxWindowDocFreq]] rows is dropped.
  *    With unique ids, `count(*)` over distinct windows is
  *    [[Dedup.spanDedup]]'s distinct-document count, and the in-place test
  *    is its join back.
  *
  * Precondition: `idCol` is unique and non-NULL, since both decisions
  * identify a document by its id. Every composition checks the whole
  * input in the plan and fails by name on a NULL or repeated id: a
  * `raise_error` guard over `count(*) over (partition by id)`, with no
  * extra action. When the front fans a narrow input out, it hash-partitions
  * it by id, so the guard plans no exchange of its own; otherwise its
  * exchange follows the kernels. */
object Curation {

  /** language + quality gates → fingerprint dedup → portable MinHash-LSH
    * near-dedup → hash sample. Returns surviving rows of `df` unchanged. */
  def curate(df: DataFrame, idCol: String, textCol: String,
             lang: String = "en", minQuality: Double = 0.6,
             nearDupThreshold: Double = 0.5,
             sampleFraction: Double = 0.5): DataFrame = {
    val scan = front(df, idCol, textCol, lang, minQuality, signatures = true)
      .localCheckpoint()
    Sampling.hashSample(
      strip(kept(scan, dropped(scan, idCol, nearDupThreshold), idCol)),
      col(idCol), sampleFraction)
  }

  /** the FULL curation pass, composing every round-8 stage the short
    * [[curate]] pipeline predates: heuristic gates → LEARNED quality filter
    * ([[TextAnalysis.hashedQualityKeep]], keep ⇔ logit ≥ `keepLogit`) →
    * benchmark DECONTAMINATION ([[Dedup.decontaminate]] vs `bench`) →
    * exact (fingerprint) dedup → MinHash-LSH near-dedup → SUBSTRING
    * (shared-span) dedup → deterministic hash sample. Returns surviving
    * rows unchanged. */
  def curateFull(df: DataFrame, idCol: String, textCol: String,
                 bench: DataFrame, benchTextCol: String,
                 modelWeightsMicros: Seq[Long],
                 keepLogit: Double = 0.0,
                 lang: String = "en", minQuality: Double = 0.6,
                 maxContamination: Double = 0.8,
                 nearDupThreshold: Double = 0.5,
                 minRun: Int = 8,
                 sampleFraction: Double = 0.5): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    val scan = front(df, idCol, textCol, lang, minQuality,
        Some((modelWeightsMicros, keepLogit)),
        Some((bench, benchTextCol, maxContamination)), signatures = true,
        spanRun = Some(minRun))
      .localCheckpoint()
    // one anti-join with both decisions' ids: the first decision's ids
    // appear twice in the one plan, and its fingerprint shuffle and band
    // broadcast each run once (adaptive execution reuses the stages)
    val first = dropped(scan, idCol, nearDupThreshold)
    val span = spanDropped(kept(scan, first, idCol), idCol)
    Sampling.hashSample(strip(kept(scan, first.union(span), idCol)),
      col(idCol), sampleFraction)
  }

  /** [[curateFull]] with the substring stage upgraded from doc-drop to
    * span EXCISION ([[Dedup.spanExcise]] — the Lee et al. ExactSubstr
    * remedy): documents sharing a ≥ `minRun`-token verbatim run with an
    * earlier doc lose the RUN, not the document, so yield survives
    * boilerplate sharing. Because excision is a text TRANSFORM, the
    * output contract narrows to (idCol, textCol) with the excised
    * (normalized-token) text; fully-excised husks are dropped by an
    * explicit empty-text gate before the final sample — the only stage
    * where this pipeline discards a substring-flagged document. */
  def curateFullExcise(df: DataFrame, idCol: String, textCol: String,
                       bench: DataFrame, benchTextCol: String,
                       modelWeightsMicros: Seq[Long],
                       keepLogit: Double = 0.0,
                       lang: String = "en", minQuality: Double = 0.6,
                       maxContamination: Double = 0.8,
                       nearDupThreshold: Double = 0.5,
                       minRun: Int = 8,
                       sampleFraction: Double = 0.5): DataFrame = {
    val scan = front(df, idCol, textCol, lang, minQuality,
        Some((modelWeightsMicros, keepLogit)),
        Some((bench, benchTextCol, maxContamination)), signatures = true)
      .localCheckpoint()
    val near = strip(kept(scan, dropped(scan, idCol, nearDupThreshold), idCol))
    val excised = Dedup.spanExcise(near, idCol, textCol, minRun)
      .filter(length(col(textCol)) > 0)
    Sampling.hashSample(excised, col(idCol), sampleFraction)
  }

  /** MULTIMODAL curation over caption+image PAIRS — the LAION-shape
    * pipeline: text gates + caption (fingerprint) dedup on the caption
    * side, perceptual wide-dHash near-dedup on the image side, ONE
    * survivor set — a pair survives only if BOTH modalities survive.
    *
    * Stage order is the cost law: the codegen'd language/quality gates and
    * the caption fingerprint dedup shrink the pair set BEFORE any image
    * byte is decoded (the decode mapPartitions is the expensive stage at
    * 100 TB — images are ~10³× caption bytes), so the image chain hashes
    * only text-surviving pairs. Image near-dups are therefore resolved
    * WITHIN the text survivors (keep-min), which is the right semantics
    * for pairs: an image whose only duplicates were text-dropped carries
    * no remaining pair-level redundancy. `media` joins `docs` by id
    * (caption i ↔ media i). Returns the surviving caption rows unchanged. */
  def curateMultimodal(docs: DataFrame, idCol: String, textCol: String,
                       media: DataFrame, mediaIdCol: String,
                       lang: String = "en", minQuality: Double = 0.6,
                       maxHamming: Int = 6): DataFrame = {
    val scan = front(docs, idCol, textCol, lang, minQuality).localCheckpoint()
    val textKept = strip(exactMarked(scan, idCol).filter(!col("__dup"))
      .drop("__dup"))
    val gatedMedia = media.join(
      textKept.select(col(idCol).as(mediaIdCol)), Seq(mediaIdCol),
      "left_semi")
    val mediaKept = Dedup.imageDedupFromHashesWide(
      Multimodal.imageDHashWide(gatedMedia), mediaIdCol, maxHamming)
    textKept.join(mediaKept.select(col(mediaIdCol).as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** the front scan, before its checkpoint: `df`'s rows that pass the
    * language and quality gates, plus the learned-quality filter
    * (`model` = weights, keep logit) and decontamination (`bench` =
    * benchmark frame, its text column, max contamination) when given, with
    * the dedup columns appended: `__fp` (the fingerprint), `__sig` (the
    * portable MinHash signature) when `signatures`, and `__ws` (the
    * distinct `spanRun`-token window hashes) when `spanRun` is given. It
    * fails by name on a NULL or repeated id anywhere in `df`. */
  private[graft] def front(df: DataFrame, idCol: String, textCol: String,
                           lang: String, minQuality: Double,
                           model: Option[(Seq[Long], Double)] = None,
                           bench: Option[(DataFrame, String, Double)] = None,
                           signatures: Boolean = false,
                           spanRun: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val text = col(textCol)
    val toks = col("__toks")
    val hits = col("__th")
    val kernels =
      Seq(TextAnalysis.tokenSetHits(text,
        TextAnalysis.LangMarkers.map(_._2) :+ TextAnalysis.Stopwords).as("__th")) ++
        model.map { case (w, _) =>
          TextAnalysis.hashedQualityOfTokens(toks, w).as("__hq") } ++
        bench.map { case (b, bText, _) =>
          Dedup.benchShingleHits(toks, b, bText, ngram = 3).as("__sh") }
    val keep =
      Seq(TextAnalysis.langOf(hits) === lang,
        TextAnalysis.qualityOf(text,
          hits.getItem(TextAnalysis.LangMarkers.length)) >= minQuality) ++
        model.map { case (_, logit) => TextAnalysis.logitKeep(col("__hq"), logit) } ++
        bench.map { case (_, _, max) =>
          Dedup.belowContamination(col("__sh.n_shingles"), col("__sh.n_hits"), max) }
    // the dedup kernels run for gate survivors only, and before the
    // guard's exchange: on the fanned (or the input's own) partitions
    val dedupCols =
      Seq("__fp" -> TextAnalysis.fingerprintOfNormalized(col("__norm"))) ++
        Seq("__sig" -> Dedup.tokensSig(toks, 3, Dedup.PortableHashes,
          portable = true)).filter(_ => signatures) ++
        spanRun.map(k => "__ws" -> GraftSqlBridge.column(graft.functions
          .SpanWindowHashesExpr(GraftSqlBridge.expression(toks), k)))
    val passes = col("__keep")
    val tokenized = Fan.out(df, col(idCol))
      .select(col("*"), TextAnalysis.normalized(text).as("__norm"))
      .select(col("*"), TextAnalysis.tokens(col("__norm")).as("__toks"))
    val scored = Dedup.evalOnce(tokenized, kernels: _*)
      .withColumn("__keep", keep.reduce(_ && _))
      .select(col("*") +: dedupCols.map { case (name, c) =>
        when(passes, c).as(name) }: _*)
    uniqueIds(scored, idCol).filter(passes)
      .drop("__norm", "__toks", "__th", "__hq", "__sh", "__keep")
  }

  /** `df` unchanged, or a named failure at the first NULL or repeated
    * `idCol` — in the plan, as a guard over the id's row count */
  private def uniqueIds(df: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val n = col("__idn")
    def fail(msg: Column): Column = raise_error(msg).cast("boolean")
    df.withColumn("__idn", count(lit(1)).over(Window.partitionBy(id)))
      .filter(
        when(id.isNull, fail(lit(s"curation: NULL $idCol — the dedup " +
            "decisions keep the lowest id, so every document needs a " +
            "unique non-NULL id")))
          .when(n > 1, fail(format_string(s"curation: $idCol %s appears %s " +
            "times — the dedup decisions keep the lowest id, so every " +
            "document needs a unique id", id.cast("string"),
            n.cast("string"))))
          .otherwise(lit(true)))
      .drop("__idn")
  }

  /** a checkpointed [[front]] with `__dup`: true on every row but the
    * first (lowest id) of its fingerprint */
  private def exactMarked(scan: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    scan.withColumn("__dup", id > min(id).over(Window.partitionBy(col("__fp"))))
  }

  /** the ids the first decision drops from a checkpointed [[front]]: the
    * exact duplicates, and the near-dups of the whole front (see the
    * object scaladoc) */
  private def dropped(scan: DataFrame, idCol: String,
                      nearDupThreshold: Double): DataFrame =
    exactMarked(scan, idCol).filter(col("__dup")).select(col(idCol))
      .union(Dedup.portableNearDupIds(
        scan.select(col(idCol), col("__sig").as("sig")), idCol, nearDupThreshold))

  /** the ids the span decision drops from the first decision's survivors
    * (see the object scaladoc) */
  private def spanDropped(survivors: DataFrame, idCol: String): DataFrame = {
    val id = col(idCol)
    val w = Window.partitionBy(col("__s"))
    survivors.select(id, explode(col("__ws")).as("__s"))
      .select(id, min(id).over(w).as("__min"), count(lit(1)).over(w).as("__n"))
      .filter(id > col("__min") && col("__n") <= Dedup.MaxWindowDocFreq)
      .select(id)
  }

  /** the rows of `scan` whose ids are not in `ids` */
  private def kept(scan: DataFrame, ids: DataFrame, idCol: String): DataFrame =
    scan.join(ids, Seq(idCol), "left_anti")

  /** the input's columns: the front's dedup columns dropped */
  private def strip(df: DataFrame): DataFrame = df.drop("__fp", "__sig", "__ws")
}

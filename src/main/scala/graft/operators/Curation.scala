package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [EXT] End-to-end corpus curation — the composed training-data pass every
  * LLM pipeline runs, as ONE operator: language gate → quality gate → exact
  * (fingerprint) dedup → MinHash-LSH near-dedup → deterministic hash
  * sample. Exists to prove the engine's operators COMPOSE: each stage is
  * the already-verified primitive, and the composition itself carries a
  * full DuckDB oracle (q_curation) built from the same verified CTE chains.
  *
  * Scale shape: the two gates are pure codegen'd filters that reach the
  * scan; each dedup stage then operates on the SURVIVORS of the previous
  * one (filters first = the cheap stages shrink the corpus before the
  * shuffling stages touch it); the final sample is a content-hash filter,
  * reproducible under any partitioning. */
object Curation {

  /** language + quality gates → fingerprint dedup → portable MinHash-LSH
    * near-dedup → hash sample. Returns surviving rows of `df` unchanged. */
  def curate(df: DataFrame, idCol: String, textCol: String,
             lang: String = "en", minQuality: Double = 0.6,
             nearDupThreshold: Double = 0.5,
             sampleFraction: Double = 0.5): DataFrame = {
    val exact = exactKeep(gate(df, textCol, lang, minQuality), idCol, textCol)
    val near = Dedup.minhashDedupPortable(exact, idCol, textCol, nearDupThreshold)
    Sampling.hashSample(near, col(idCol), sampleFraction)
  }

  /** the language + quality gates over the fanned corpus, materialized
    * ONCE, for two reasons. (1) Catalyst pushes deterministic filters below
    * [[Fan.out]]'s repartition (see its scaladoc), so without this barrier
    * every filter stacked on the gate — [[curateFull]]'s learned-quality
    * model and decontamination filters — would sink to the unsplittable
    * scan side and run on one task; the checkpoint keeps them on the fanned
    * partitions. (2) [[exactKeep]] reads its input twice (the fingerprint
    * group and the semi-join), and [[curate]] hands it the gate output
    * directly — one materialized input instead of two gate passes. At
    * 100 TB this is the standard "write the filtered corpus once"
    * checkpoint between pipeline phases. */
  private def gate(df: DataFrame, textCol: String, lang: String,
                   minQuality: Double): DataFrame =
    Fan.out(df.filter(
      TextAnalysis.langId(col(textCol)) === lang &&
        TextAnalysis.qualityScore(col(textCol)) >= minQuality))
      .localCheckpoint()

  /** fingerprint (exact) dedup, checkpointed: the survivors feed the next
    * stage TWICE (e.g. signature build + final anti-join), so the
    * fingerprint groupBy + semi-join must not re-run per reference. */
  private def exactKeep(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.exactDedup(
        df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
        col("__fp"), idCol)
      .drop("__fp")
      .localCheckpoint()

  /** the stages [[curateFull]] and [[curateFullExcise]] share: gates →
    * learned quality filter → decontamination → exact dedup → md5
    * MinHash-LSH near-dedup. Returns the checkpointed near-dup survivors. */
  private def nearSurvivors(df: DataFrame, idCol: String, textCol: String,
                            bench: DataFrame, benchTextCol: String,
                            modelWeightsMicros: Seq[Long], keepLogit: Double,
                            lang: String, minQuality: Double,
                            maxContamination: Double,
                            nearDupThreshold: Double): DataFrame = {
    // the learned-quality stage as a ROW-LOCAL codegen'd filter (r22): the
    // hashedQualityScore + semi-join form shuffled the gated corpus through
    // an explode + hash aggregate and joined it back — for a per-row
    // decision. Same kernel, same keep set (NULL for token-less docs drops
    // under filter exactly as absence dropped under the semi-join).
    val modeled = gate(df, textCol, lang, minQuality).filter(
      TextAnalysis.hashedQualityKeep(col(textCol), modelWeightsMicros,
        keepLogit))
    val cleaned = Dedup.decontaminate(modeled, idCol, textCol,
        bench, benchTextCol, maxContamination)
      .localCheckpoint()
    Dedup.minhashDedupPortable(exactKeep(cleaned, idCol, textCol), idCol,
        textCol, nearDupThreshold)
      .localCheckpoint()
  }

  /** the FULL curation pass, composing every round-8 stage the short
    * [[curate]] pipeline predates: heuristic gates → LEARNED quality filter
    * ([[TextAnalysis.hashedQualityScore]], keep ⇔ logit ≥ 0) → benchmark
    * DECONTAMINATION ([[Dedup.decontaminate]] vs `bench`) → exact
    * (fingerprint) dedup → MinHash-LSH near-dedup → SUBSTRING (shared-span)
    * dedup → deterministic hash sample. Returns surviving rows unchanged.
    *
    * Stage order is cost-ordered, cheap filters first: the two codegen'd
    * gates and the model filter shrink the corpus before any shuffling
    * stage; decontamination is a row-local filter against the broadcast
    * benchmark shingle set (no shuffle); the three dedup stages each
    * consume the previous survivors. Checkpoints sit where a stage's output
    * feeds multiple downstream references (gate survivors, decontaminated
    * corpus, exact survivors, near survivors) — at 100 TB each is the
    * standard write-the-filtered-corpus materialization between pipeline
    * phases. */
  def curateFull(df: DataFrame, idCol: String, textCol: String,
                 bench: DataFrame, benchTextCol: String,
                 modelWeightsMicros: Seq[Long],
                 keepLogit: Double = 0.0,
                 lang: String = "en", minQuality: Double = 0.6,
                 maxContamination: Double = 0.8,
                 nearDupThreshold: Double = 0.5,
                 minRun: Int = 8,
                 sampleFraction: Double = 0.5): DataFrame = {
    val near = nearSurvivors(df, idCol, textCol, bench, benchTextCol,
      modelWeightsMicros, keepLogit, lang, minQuality, maxContamination,
      nearDupThreshold)
    val span = Dedup.spanDedup(near, idCol, textCol, minRun)
    Sampling.hashSample(span, col(idCol), sampleFraction)
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
    val near = nearSurvivors(df, idCol, textCol, bench, benchTextCol,
      modelWeightsMicros, keepLogit, lang, minQuality, maxContamination,
      nearDupThreshold)
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
    val textKept = exactKeep(gate(docs, textCol, lang, minQuality), idCol,
      textCol)
    val gatedMedia = media.join(
      textKept.select(col(idCol).as(mediaIdCol)), Seq(mediaIdCol),
      "left_semi")
    val mediaKept = Dedup.imageDedupFromHashesWide(
      Multimodal.imageDHashWide(gatedMedia), mediaIdCol, maxHamming)
    textKept.join(mediaKept.select(col(mediaIdCol).as(idCol)),
      Seq(idCol), "left_semi")
  }
}

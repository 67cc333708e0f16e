package graft
package queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.rd
import graft.operators.{Multimodal, TextAnalysis}
import graft.queries.DedupQueries.minhashDedupChainSql
import graft.queries.MediaQueries.ImageWideHashChainSql
import graft.queries.TextQueries.{boilerplateChainSql, lmPplChainSql,
  lmStoreChainSql, LmPerplexityMaxPpl, LmStoreMaxPpl, plantWebPages}

/** The registry's curation queries, each declared with its DuckDB oracle:
  * the composed curation passes. */
object CurationQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_curation_web", (s, dir) => {
      // WEB-SHAPED curation: the boilerplate strip feeding the verified
      // curation chain (gates → fingerprint dedup → near-dedup → sample)
      // over the CLEANED text. Composition is discriminative end to end:
      // the kept promo-line variant changes length/stopword inputs to the
      // gates, so a wrong boilerplate decision flips gate outcomes
      val cleaned = TextAnalysis.removeBoilerplateLines(
          plantWebPages(rd(s, dir, "documents")), "doc_id", "text", "source",
          maxLineDocRatio = 0.5)
        .withColumnRenamed("clean_text", "text")
      graft.operators.Curation.curate(cleaned, "doc_id", "text",
          lang = "en", minQuality = 0.6, nearDupThreshold = 0.5,
          sampleFraction = 0.5)
        .select("doc_id", "source").orderBy("doc_id")
    }, CurationWebOracle),
    QuerySpec("q_curation_ppl", (s, dir) => {
      // curation with the CCNet-style perplexity gate UP FRONT: only
      // fluent docs (kept under the corpus bigram LM) enter the verified
      // gate→dedup→sample chain. Discriminative composition: the ppl
      // threshold sits at the corpus median, so the fluency gate halves
      // the curation input and every downstream stage sees different
      // frequencies than q_curation's
      val docs = rd(s, dir, "documents")
      val fluent = TextAnalysis.lmPerplexityFilter(docs, "doc_id", "text",
          maxPpl = LmPerplexityMaxPpl)
        .filter(col("kept")).select("doc_id")
      // fan the corpus scan BEFORE the semi-join (r22): curate's own gate
      // fan-out refuses join-rooted inputs (Fan.isNarrow), so the gate +
      // survivor checkpoint otherwise run single-task on the unsplittable
      // scan (probe: 0.58 s serial). The fluent id set broadcasts, so the
      // fanned width flows through the join into the gate stage.
      graft.operators.Curation.curate(
          graft.operators.Fan.out(docs).join(fluent, Seq("doc_id"),
            "left_semi"),
          "doc_id", "text", lang = "en", minQuality = 0.6,
          nearDupThreshold = 0.5, sampleFraction = 0.5)
        .select("doc_id", "source").orderBy("doc_id")
    }, CurationPplOracle),
    QuerySpec("q_curation_mm", (s, dir) => {
      // MULTIMODAL (caption+image) curation — the LAION shape: language +
      // quality gates and caption fingerprint dedup shrink the pairs
      // BEFORE any image decode (plan-audited: the decode mapPartitions
      // sits above the text survivors' semi-join), then wide-dHash image
      // near-dedup; a pair survives iff BOTH modalities survive. Oracle
      // composes the verified gate/fingerprint/image-hash CTE fragments
      val docs = rd(s, dir, "documents")
      graft.operators.Curation.curateMultimodal(docs, "doc_id", "text",
          Multimodal.encodeSyntheticPngGroups(docs, "doc_id"), "media_id",
          lang = "en", minQuality = 0.6, maxHamming = 6)
        .select("doc_id", "source").orderBy("doc_id")
    }, CurationMmOracle),
    QuerySpec("q_curation_ppl_store", (s, dir) => {
      // q_curation_ppl's PRODUCTION twin: the fluency gate reads the
      // persisted src0-fit LM instead of refitting from its own input —
      // one corpus tokenize pass in the gate (the refit path pays two)
      // and CCNet's absolute-threshold semantics (the gate no longer
      // moves with batch composition)
      val docs = rd(s, dir, "documents")
      TextAnalysis.writeLmStore(docs.filter(col("source") === "src0"),
        "text", "graft_lm_cur", nBuckets = 4)
      val fluent = TextAnalysis.lmPerplexityAgainst(docs, "doc_id", "text",
          "graft_lm_cur", maxPpl = LmStoreMaxPpl)
        .filter(col("kept")).select("doc_id")
      graft.operators.Curation.curate(
          docs.join(fluent, Seq("doc_id"), "left_semi"),
          "doc_id", "text", lang = "en", minQuality = 0.6,
          nearDupThreshold = 0.5, sampleFraction = 0.5)
        .select("doc_id", "source").orderBy("doc_id")
    }, CurationPplStoreOracle),
    QuerySpec("q_curation_excise", (s, dir) => {
      // curateFull with the substring stage upgraded to span EXCISION:
      // boilerplate-sharing docs lose the run, not the document; empty
      // husks gated out before the final hash sample
      val docs = rd(s, dir, "documents")
      graft.operators.Curation.curateFullExcise(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          TextAnalysis.syntheticQualityModel(), keepLogit = -0.15)
        .orderBy("doc_id")
    }, CurationExciseOracle),
    QuerySpec("q_curation_full", (s, dir) => {
      // the FULL composed pass: gates → learned quality filter → benchmark
      // decontamination → fingerprint dedup → MinHash-LSH near-dedup →
      // shared-span dedup → hash sample — every round-8 stage chained, the
      // oracle composed from the same verified CTE fragments
      val docs = rd(s, dir, "documents")
      // keepLogit = the synthetic model's median logit over this corpus
      // family (a trained classifier's calibrated operating point) — keeps
      // the filter discriminative instead of degenerate
      graft.operators.Curation.curateFull(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          TextAnalysis.syntheticQualityModel(), keepLogit = -0.15)
        .select("doc_id", "source").orderBy("doc_id")
    }, CurationFullOracle),
    QuerySpec("q_curation", (s, dir) =>
      // the COMPOSED curation pass: language gate → quality gate →
      // fingerprint dedup → portable MinHash-LSH near-dedup → hash sample.
      // Each stage is an already-verified operator; this verifies they
      // CHAIN (the oracle composes the same verified CTE fragments)
      graft.operators.Curation.curate(rd(s, dir, "documents"),
          "doc_id", "text", lang = "en", minQuality = 0.6,
          nearDupThreshold = 0.5, sampleFraction = 0.5)
        .select("doc_id", "source").orderBy("doc_id"), CurationOracle)
  )

  /** the language+quality gate CTE ("gate") — the q_quality_score /
    * q_lang_guess CASE logic over `src`, shared by q_curation,
    * q_curation_full, and (over the boilerplate-cleaned `web`)
    * q_curation_web. */
  private def gateCte(src: String): String =
    s"""gate AS (
         SELECT doc_id, text, source FROM (
           SELECT doc_id, text, source,
             CAST(length(text) AS DOUBLE) AS n,
             round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                 t -> list_contains(['the','a','an','of','to','and','in','is','it','that'], t)))
               / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS sr,
             string_split_regex(lower(trim(text)), '\\s+') AS tt
           FROM $src)
         WHERE round((
             CASE WHEN n >= 100 AND n <= 10000 THEN 1.0
                  WHEN n >= 20 THEN 0.5 ELSE 0.0 END
           + CASE WHEN sr > 0.05 THEN 1.0 ELSE 0.0 END
           + CASE WHEN (n - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / n <= 0.2
                  THEN 1.0 ELSE 0.0 END) / 3.0, 6) >= 0.6
           AND (SELECT CASE
                  WHEN he = 0 AND hs = 0 AND hf = 0 AND hd = 0 THEN 'und'
                  WHEN he >= hs AND he >= hf AND he >= hd THEN 'en'
                  WHEN hs >= hf AND hs >= hd THEN 'es'
                  WHEN hf >= hd THEN 'fr' ELSE 'de' END
                FROM (SELECT
                  len(list_filter(tt, x -> list_contains(['the','and','of','is'], x))) AS he,
                  len(list_filter(tt, x -> list_contains(['el','los','las','es'], x))) AS hs,
                  len(list_filter(tt, x -> list_contains(['le','les','est','une'], x))) AS hf,
                  len(list_filter(tt, x -> list_contains(['der','die','das','ist'], x))) AS hd)) = 'en')"""

  /** q_curation_ppl_store in DuckDB: the persisted-LM gate (fit on src0,
    * absolute threshold) feeding the SAME composed curation chain as
    * [[CurationPplOracle]]. */
  private def CurationPplStoreOracle: String = {
    val lnMaxNanos = math.round(math.log(LmStoreMaxPpl) * 1e9)
    s"""WITH ${lmStoreChainSql(
        "(SELECT * FROM documents WHERE source = 'src0')", "documents")},
       fluent AS (
         SELECT d.* FROM documents d JOIN lsc USING (doc_id)
         WHERE -lsc.sn <= $lnMaxNanos * lsc.n_bigrams),
       ${gateCte("fluent")},
       exact AS (
         SELECT doc_id, text, source FROM gate WHERE doc_id IN (
           SELECT min(doc_id) FROM gate
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))),
       ${minhashDedupChainSql("exact", 0.5)}
       SELECT doc_id, source FROM exact
       WHERE doc_id NOT IN (SELECT id_b FROM dups)
         AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 < 5000
       ORDER BY doc_id"""
  }

  /** q_curation_ppl in DuckDB: the perplexity gate ([[lmPplChainSql]],
    * same integer threshold literal) feeding the SAME composed curation
    * chain as [[CurationOracle]] — the fluent survivors are the chain's
    * input corpus. */
  private def CurationPplOracle: String = {
    val lnMaxNanos = math.round(math.log(LmPerplexityMaxPpl) * 1e9)
    s"""WITH ${lmPplChainSql("documents")},
       fluent AS (
         SELECT d.* FROM documents d JOIN sc USING (doc_id)
         WHERE -sc.sn <= $lnMaxNanos * sc.n_bigrams),
       ${gateCte("fluent")},
       exact AS (
         SELECT doc_id, text, source FROM gate WHERE doc_id IN (
           SELECT min(doc_id) FROM gate
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))),
       ${minhashDedupChainSql("exact", 0.5)}
       SELECT doc_id, source FROM exact
       WHERE doc_id NOT IN (SELECT id_b FROM dups)
         AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 < 5000
       ORDER BY doc_id"""
  }

  /** q_curation in DuckDB: the COMPOSED curation pass — quality + language
    * gates (the q_quality_score / q_lang_guess CASE logic), fingerprint
    * dedup (min doc_id per md5 of normalized text), the portable
    * MinHash-LSH near-dedup chain over the SURVIVORS, then the md5
    * hash-sample filter. Every stage is the already-verified oracle
    * fragment; the composition verifies that the operators chain. */
  private val CurationOracle: String =
    s"""WITH ${gateCte("documents")},
       exact AS (
         SELECT doc_id, text, source FROM gate WHERE doc_id IN (
           SELECT min(doc_id) FROM gate
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))),
       ${minhashDedupChainSql("exact", 0.5)}
       SELECT doc_id, source FROM exact
       WHERE doc_id NOT IN (SELECT id_b FROM dups)
         AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 < 5000
       ORDER BY doc_id"""

  /** q_curation_web in DuckDB: the boilerplate strip feeding the SAME
    * composed curation chain as [[CurationOracle]], with the gates /
    * dedups / sample running over the CLEANED text (`web` from
    * [[boilerplateChainSql]] instead of raw `documents`). */
  private val CurationWebOracle: String =
    s"""WITH ${boilerplateChainSql("documents")},
       ${gateCte("web")},
       exact AS (
         SELECT doc_id, text, source FROM gate WHERE doc_id IN (
           SELECT min(doc_id) FROM gate
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))),
       ${minhashDedupChainSql("exact", 0.5)}
       SELECT doc_id, source FROM exact
       WHERE doc_id NOT IN (SELECT id_b FROM dups)
         AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 < 5000
       ORDER BY doc_id"""

  /** q_curation_full in DuckDB: the full composed pass — gate → learned
    * quality filter (the q_quality_model scorer over gate survivors) →
    * benchmark decontamination (pooled src0 shingles from the FULL corpus,
    * the q_contamination logic) → fingerprint dedup → portable MinHash-LSH
    * near-dedup → shared-span (8-token window) dedup → hash sample. Every
    * fragment is an already-verified oracle chain; the composition verifies
    * the stages CHAIN in the order the Spark pipeline runs them. */
  /** the shared full-curation prefix (gate → learned filter →
    * decontamination → fingerprint dedup → MinHash near-dedup), ending at
    * `near (doc_id, text, source)` — q_curation_full appends the span
    * doc-DROP tail, q_curation_excise the span EXCISION tail. */
  private val CurationFullChainSql: String = {
    val qvals = TextAnalysis.syntheticQualityModel().zipWithIndex
      .map { case (w, b) => s"($b, $w)" }.mkString(", ")
    s"""WITH ${gateCte("documents")},
       qw(b, wm) AS (VALUES $qvals),
       qsc AS (
         SELECT qbx.doc_id, count(*) AS nt, CAST(sum(qw.wm) AS BIGINT) AS sw
         FROM (SELECT doc_id,
                 CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                   % 2147483648 % 256 AS b
               FROM (SELECT doc_id, unnest(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+')) AS t
                     FROM gate) qtk) qbx
         JOIN qw ON qw.b = qbx.b
         GROUP BY qbx.doc_id),
       mq AS (
         SELECT g.doc_id, g.text, g.source FROM gate g
         JOIN qsc ON qsc.doc_id = g.doc_id
         WHERE CAST(round(CAST(qsc.sw AS DOUBLE) / qsc.nt) AS BIGINT) / 1e6
                 >= -0.15),
       cbs AS (
         SELECT DISTINCT concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
         FROM (SELECT t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM (SELECT string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+') AS t
                     FROM documents WHERE source = 'src0') cbt) cbu),
       cds AS (
         SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
           FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
                 FROM (SELECT doc_id, string_split_regex(
                         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                         '\\s+') AS t
                       FROM mq) ctk) csh0) csh1),
       csc AS (
         SELECT doc_id, count(*) AS ns,
           CAST(sum(CASE WHEN s IN (SELECT s FROM cbs) THEN 1 ELSE 0 END)
             AS BIGINT) AS nh
         FROM cds GROUP BY doc_id),
       dec AS (
         SELECT m.doc_id, m.text, m.source FROM mq m
         WHERE m.doc_id NOT IN (
           SELECT doc_id FROM csc
           WHERE round(CAST(nh AS DOUBLE) / ns, 6) >= 0.8)),
       exact AS (
         SELECT doc_id, text, source FROM dec WHERE doc_id IN (
           SELECT min(doc_id) FROM dec
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))),
       ${minhashDedupChainSql("exact", 0.5)},
       near AS (
         SELECT doc_id, text, source FROM exact
         WHERE doc_id NOT IN (SELECT id_b FROM dups)),
       ssh AS (
         SELECT doc_id, i AS pos,
           concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4],
                          t[i+5], t[i+6], t[i+7], t[i+8]) AS s
         FROM (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i
               FROM (SELECT doc_id, string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+') AS t
                     FROM near) stk
               WHERE len(t) >= 8) ssg)"""
  }

  private val CurationFullOracle: String = CurationFullChainSql + """,
       sfl AS (
         SELECT DISTINCT b.doc_id AS id_b
         FROM ssh a JOIN ssh b ON a.s = b.s AND a.doc_id < b.doc_id)
       SELECT doc_id, source FROM near
       WHERE doc_id NOT IN (SELECT id_b FROM sfl)
         AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 < 5000
       ORDER BY doc_id"""

  /** q_curation_excise in DuckDB: the same composed prefix, with the span
    * stage upgraded from doc-drop to EXCISION — matched-window coverage in
    * the later doc, ordered reassembly, empty-husk gate, then the same
    * hash sample. */
  private val CurationExciseOracle: String = CurationFullChainSql + """,
       sm AS (
         SELECT b.doc_id AS id_b, b.pos AS pb
         FROM ssh a JOIN ssh b ON a.s = b.s AND a.doc_id < b.doc_id),
       scov AS (
         SELECT DISTINCT id_b AS doc_id, pb + j AS pos
         FROM sm, range(0, 8) rj(j)),
       ntk AS (
         SELECT doc_id, i AS pos, t[i+1] AS tok
         FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS i
               FROM (SELECT doc_id, string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+') AS t
                     FROM near) ntk0) ntk1),
       keptn AS (
         SELECT n.doc_id, n.pos, n.tok
         FROM ntk n LEFT JOIN scov c ON c.doc_id = n.doc_id AND c.pos = n.pos
         WHERE c.doc_id IS NULL),
       aggn AS (
         SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
         FROM keptn GROUP BY doc_id)
       SELECT n.doc_id, coalesce(aggn.text, '') AS text
       FROM near n LEFT JOIN aggn USING (doc_id)
       WHERE length(coalesce(aggn.text, '')) > 0
         AND CAST(concat('0x', substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 < 5000
       ORDER BY n.doc_id"""

  /** q_curation_mm in DuckDB: the gate + caption-fingerprint-dedup
    * fragments of [[CurationOracle]], the wide image-hash chain
    * ([[ImageWideHashChainSql]]) restricted to the text survivors, keep-min
    * image near-dedup within them — a pair survives iff BOTH modalities
    * survive. A def (not val): it references ImageWideHashChainSql, which
    * is declared later in the object. */
  private def CurationMmOracle: String =
    s"""WITH ${gateCte("documents")},
       exact AS (
         SELECT doc_id, text, source FROM gate WHERE doc_id IN (
           SELECT min(doc_id) FROM gate
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))),
       $ImageWideHashChainSql,
       mmh AS (
         SELECT iwh.media_id, iwh.lo, iwh.hi
         FROM iwh JOIN exact ON iwh.media_id = exact.doc_id),
       mmp AS (
         SELECT b.media_id AS id_b
         FROM mmh a JOIN mmh b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6)
       SELECT doc_id, source FROM exact
       WHERE doc_id NOT IN (SELECT id_b FROM mmp)
       ORDER BY doc_id"""
}

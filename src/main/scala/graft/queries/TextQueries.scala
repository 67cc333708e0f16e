package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkEntry.rd
import graft.operators.TextAnalysis
import graft.queries.Offline._
import graft.queries.QuerySpec.derived

/** The registry's text queries, each declared with its DuckDB oracle:
  * token counts, quality signals, HTML extraction, n-gram LMs,
  * BPE and record linkage. */
object TextQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_token_count", (s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q_subword_count", (s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.subwordCount(col("text")).cast(LongType).as("n_subwords"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT)
             AS n_subwords
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q_stopword_ratio", (s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
           round(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               t -> list_contains(['the','a','an','of','to','and','in','is','it','that'], t)))
             / len(string_split_regex(lower(trim(text)), '\s+')), 6) AS stop_ratio
         FROM documents ORDER BY doc_id"""),
    QuerySpec("q_quality_score", (s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    },
      """WITH q AS (
           SELECT doc_id, text, CAST(length(text) AS DOUBLE) AS n,
             round(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 t -> list_contains(['the','a','an','of','to','and','in','is','it','that'], t)))
               / len(string_split_regex(lower(trim(text)), '\s+')), 6) AS sr
           FROM documents)
         SELECT doc_id, round((
             CASE WHEN n >= 100 AND n <= 10000 THEN 1.0
                  WHEN n >= 20 THEN 0.5 ELSE 0.0 END
           + CASE WHEN sr > 0.05 THEN 1.0 ELSE 0.0 END
           + CASE WHEN (n - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / n <= 0.2
                  THEN 1.0 ELSE 0.0 END) / 3.0, 6) AS quality
         FROM q ORDER BY doc_id"""),
    QuerySpec("q_lang_guess", (s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
      """WITH tk AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         c AS (
           SELECT doc_id,
             len(list_filter(t, x -> list_contains(['the','and','of','is'], x))) AS he,
             len(list_filter(t, x -> list_contains(['el','los','las','es'], x))) AS hs,
             len(list_filter(t, x -> list_contains(['le','les','est','une'], x))) AS hf,
             len(list_filter(t, x -> list_contains(['der','die','das','ist'], x))) AS hd
           FROM tk)
         SELECT doc_id,
           CASE WHEN he = 0 AND hs = 0 AND hf = 0 AND hd = 0 THEN 'und'
                WHEN he >= hs AND he >= hf AND he >= hd THEN 'en'
                WHEN hs >= hf AND hs >= hd THEN 'es'
                WHEN hf >= hd THEN 'fr' ELSE 'de' END AS lang_pred
         FROM c ORDER BY doc_id"""),
    QuerySpec("q_top_tokens", (s, dir) =>
      TextAnalysis.topTokens(rd(s, dir, "documents"), "text", 20),
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
           FROM documents)
         WHERE len(token) > 0
         GROUP BY token ORDER BY cnt DESC, token LIMIT 20"""),
    QuerySpec("q_gopher_rep", (s, dir) =>
      // the Gopher n-gram repetition rule set (top-2/3-gram char mass,
      // duplicated-3/4-gram char mass): one tokenize pass, doc-keyed
      // shuffles only
      TextAnalysis.gopherRepetitionReport(rd(s, dir, "documents"),
        "doc_id", "text"),
      // per-(doc, n, gram) counts from the shared range/slice shingle shape;
      // top gram via (cnt DESC, gram ASC) row_number, dup mass via
      // conditional sum; fractions of the NORMALIZED char count
      """WITH tk AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
           FROM documents),
         tt AS (SELECT doc_id, nt, string_split_regex(nt, '\s+') AS t
                FROM tk),
         b AS (SELECT doc_id, CAST(length(nt) AS BIGINT) AS n_chars,
                 CAST(len(t) AS BIGINT) AS n_words
               FROM tt),
         g AS (
           SELECT doc_id, 2 AS n, concat_ws(' ', t[i+1], t[i+2]) AS gr
           FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 1, 0))) AS i
                 FROM tt)
           UNION ALL
           SELECT doc_id, 3, concat_ws(' ', t[i+1], t[i+2], t[i+3])
           FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 2, 0))) AS i
                 FROM tt)
           UNION ALL
           SELECT doc_id, 4, concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4])
           FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 3, 0))) AS i
                 FROM tt)),
         c AS (SELECT doc_id, n, gr, count(*) AS cnt
               FROM g GROUP BY 1, 2, 3),
         p AS (
           SELECT doc_id, n,
             max(CASE WHEN rn = 1 THEN cnt * length(gr) END) AS topc,
             sum(CASE WHEN cnt >= 2 THEN cnt * length(gr) ELSE 0 END) AS dupc
           FROM (SELECT doc_id, n, gr, cnt,
                   row_number() OVER (PARTITION BY doc_id, n
                     ORDER BY cnt DESC, gr) AS rn
                 FROM c)
           GROUP BY doc_id, n),
         s AS (
           SELECT doc_id,
             max(CASE WHEN n = 2 THEN topc END) AS t2,
             max(CASE WHEN n = 3 THEN topc END) AS t3,
             max(CASE WHEN n = 3 THEN dupc END) AS d3,
             max(CASE WHEN n = 4 THEN dupc END) AS d4
           FROM p GROUP BY doc_id)
         SELECT b.doc_id, b.n_words, b.n_chars,
           round(CAST(coalesce(t2, 0) AS DOUBLE) / greatest(b.n_chars, 1), 6)
             AS top2_char_frac,
           round(CAST(coalesce(t3, 0) AS DOUBLE) / greatest(b.n_chars, 1), 6)
             AS top3_char_frac,
           round(CAST(coalesce(d3, 0) AS DOUBLE) / greatest(b.n_chars, 1), 6)
             AS dup3_char_frac,
           round(CAST(coalesce(d4, 0) AS DOUBLE) / greatest(b.n_chars, 1), 6)
             AS dup4_char_frac
         FROM b LEFT JOIN s USING (doc_id) ORDER BY b.doc_id"""),
    QuerySpec("q_repetition", (s, dir) => {
      rd(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text"), 2).as("rep_ratio"))
        .orderBy("doc_id")
    },
      """WITH tk AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
         g AS (
           SELECT doc_id, list(concat_ws(' ', t[i+1], t[i+2])) AS gs
           FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 2, 0) + 1)) AS i
                 FROM tk)
           GROUP BY doc_id)
         SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
             AS rep_ratio
         FROM g ORDER BY doc_id"""),
    QuerySpec("q_tfidf", (s, dir) => {
      TextAnalysis.tfIdfTopTerms(rd(s, dir, "documents"), "doc_id", "text", 5)
        .orderBy(asc("doc_id"), desc("tfidf"), asc("term"))
    },
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT doc_id, term, count(*) AS tf FROM tok
           WHERE len(term) > 0 GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         scored AS (
           SELECT doc_id, tf.term AS term,
             round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) AS tfidf
           FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
         ranked AS (
           SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, term) AS rn
           FROM scored)
         SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 5
         ORDER BY doc_id, tfidf DESC, term"""),
    QuerySpec("q_html_extract", (s, dir) => {
      // HTML → text extraction (round 17): wrap each doc in a synthetic
      // page (script/style/comment subtrees, heading, entity samples) and
      // run the codegen'd strip/decode/collapse chain. The oracle replays
      // BOTH the synthesis and the extraction in DuckDB — every regex is
      // RE2-compatible by design, so the chain is engine-for-engine
      val html = concat(
        lit("<html><head><title>t</title><style type=\"text/css\">" +
          "p{margin:0}</style><script>if(a<b){c&&d}</script></head>" +
          "<body><h1>"),
        col("source"),
        lit("</h1>\n<p>"), col("text"),
        lit("</p><!-- hidden -->\n<div>x &amp; y &lt;tag&gt; " +
          "&quot;q&quot; &#39;s&#39; a&nbsp;b</div></body></html>"))
      rd(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.htmlToText(html).as("text_clean"))
        .withColumn("n_chars", length(col("text_clean")).cast(LongType))
        .orderBy("doc_id")
    },
      // full engine-for-engine replay: DuckDB re-synthesizes the page AND
      // re-runs the strip/decode/collapse chain (RE2-compatible patterns by
      // construction; 'g' = replace-all, Spark's default)
      """WITH h AS (
           SELECT doc_id,
             '<html><head><title>t</title><style type="text/css">p{margin:0}</style><script>if(a<b){c&&d}</script></head><body><h1>'
             || source || '</h1>' || chr(10) || '<p>' || text ||
             '</p><!-- hidden -->' || chr(10) ||
             '<div>x &amp; y &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b</div></body></html>'
             AS html
           FROM documents),
         x AS (
           SELECT doc_id, trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 html,
                 '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]*>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
             '\s+', ' ', 'g')) AS text_clean
           FROM h)
         SELECT doc_id, text_clean,
           CAST(length(text_clean) AS BIGINT) AS n_chars
         FROM x ORDER BY doc_id"""),
    QuerySpec("q_html_blocks", (s, dir) => {
      // DOM-tier HTML extraction (round 18): block-level structure
      // preserved — headings/paragraphs/list items/table rows become
      // newline-separated blocks, table cells tab-separate — where
      // q_html_extract's strip tier collapses everything to spaces. The
      // synthetic page exercises every rule: script/style/comment drops,
      // a heading, two paragraphs, a 3-row table (th + td cells), a list
      // with a <br> inside an item, and entity decode. The oracle replays
      // synthesis AND the whole sentinel chain engine-for-engine (all
      // patterns RE2-compatible by design)
      val html = concat(
        lit("<html><head><title>t</title><style>p{margin:0}</style>" +
          "<script>if(a<b){c&&d}</script></head><body><h1>"),
        col("source"),
        lit("</h1><p>intro &amp; summary</p>\n<p>"), col("text"),
        lit("</p><!-- hidden --><table><tr><th>key</th><th>val</th></tr>" +
          "<tr><td>id</td><td>"),
        col("doc_id"),
        lit("</td></tr><tr><td>source</td><td>"), col("source"),
        lit("</td></tr></table><ul><li>alpha</li><li>beta<br>gamma</li>" +
          "</ul></body></html>"))
      val blocksCol = TextAnalysis.htmlToBlocks(html)
      rd(s, dir, "documents")
        .select(col("doc_id"), blocksCol.as("text_blocks"))
        .withColumn("n_lines",
          (length(col("text_blocks")) -
            length(call_function("replace", col("text_blocks"), lit("\n"),
              lit("")))).cast(LongType) + 1L)
        .withColumn("n_cells",
          (length(col("text_blocks")) -
            length(call_function("replace", col("text_blocks"), lit("\t"),
              lit("")))).cast(LongType))
        .orderBy("doc_id")
    },
      // block-tier replay: DuckDB re-synthesizes the structured page and
      // re-runs the whole sentinel chain (cells→\x11, blocks→\x12, strip,
      // decode, collapse, sentinel resolution — htmlBlocksChainSql is the
      // single shared replay of TextAnalysis.htmlToBlocks)
      {
        val synth = "'<html><head><title>t</title><style>p{margin:0}</style>" +
          "<script>if(a<b){c&&d}</script></head><body><h1>' || source || " +
          "'</h1><p>intro &amp; summary</p>' || chr(10) || '<p>' || text || " +
          "'</p><!-- hidden --><table><tr><th>key</th><th>val</th></tr>" +
          "<tr><td>id</td><td>' || doc_id || '</td></tr><tr><td>source</td>" +
          "<td>' || source || '</td></tr></table><ul><li>alpha</li>" +
          "<li>beta<br>gamma</li></ul></body></html>'"
        s"""WITH h AS (SELECT doc_id, $synth AS html FROM documents),
         x AS (SELECT doc_id, ${htmlBlocksChainSql("html")} AS text_blocks
           FROM h)
         SELECT doc_id, text_blocks,
           CAST(length(text_blocks)
             - length(replace(text_blocks, chr(10), '')) + 1 AS BIGINT)
             AS n_lines,
           CAST(length(text_blocks)
             - length(replace(text_blocks, chr(9), '')) AS BIGINT)
             AS n_cells
         FROM x ORDER BY doc_id"""
      }),
    QuerySpec("q_html_paragraph_dedup", (s, dir) => {
      // the COMPOSITION the block tier exists for (round 18): block-level
      // extraction feeding corpus-global paragraph dedup. Each doc's page
      // carries a boilerplate paragraph shared by every doc (df = N →
      // only the lowest doc keeps it), a group paragraph shared by ~1/50
      // of docs (one survivor per group), and the doc's own text — as
      // <p> blocks, which htmlToBlocks must turn into the newline-keyed
      // paragraphs dedupParagraphs operates on (the strip tier would fuse
      // them into one line and starve the dedup)
      val html = concat(
        lit("<div><p>shared global paragraph</p><p>group "),
        col("doc_id") % 50,
        lit("</p><p>"), col("text"), lit("</p></div>"))
      val pages = rd(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.htmlToBlocks(html).as("text"))
      TextAnalysis.dedupParagraphs(pages, "doc_id", "text", maxDocFreq = 2)
        .orderBy("doc_id")
    },
      // composition oracle: the block chain feeding the q_paragraph_dedup
      // keep-first replay (df > 2 drops to one survivor corpus-wide; blanks
      // would ride through, though this plant produces none)
      {
        val synth = "'<div><p>shared global paragraph</p><p>group ' || " +
          "(doc_id % 50) || '</p><p>' || text || '</p></div>'"
        s"""WITH h AS (SELECT doc_id, $synth AS html FROM documents),
         p AS (SELECT doc_id, ${htmlBlocksChainSql("html")} AS text FROM h),
         post AS (
           SELECT doc_id, u['pos'] AS pos, u['para'] AS para FROM (
             SELECT doc_id,
               unnest(list_transform(string_split(text, chr(10)),
                 (x, i) -> {'pos': i - 1, 'para': x})) AS u
             FROM p)),
         ranked AS (
           SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
           FROM post),
         dfreq AS (SELECT para, count(DISTINCT doc_id) AS df
           FROM post GROUP BY para),
         kept AS (
           SELECT r.doc_id, r.pos, r.para
           FROM ranked r JOIN dfreq USING (para)
           WHERE trim(r.para) = '' OR dfreq.df <= 2 OR r.rn = 1),
         agg AS (
           SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT p.doc_id, coalesce(agg.clean_text, '') AS clean_text
         FROM p LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""
      }),
    QuerySpec.recomputed("q_compress_ratio", (s, dir) => {
      // deflate compression ratio per doc — the repetition/low-entropy
      // quality signal; oracle = plain-JVM fresh-Deflater recompute
      // embedded as literals (n_bytes cross-checked by DuckDB's strlen)
      TextAnalysis.compressionRatio(rd(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, compressOracleFor),
    QuerySpec("q_boilerplate", (s, dir) => {
      // host-level boilerplate line removal. The corpus is single-line, so
      // each doc plants a 4-line page (the q_redact pattern): a nav header
      // and copyright footer shared by ALL of the host's docs (dropped), a
      // promo line whose variant splits the host's docs just above/below
      // the 0.5 ratio (one variant dropped, the other kept — the
      // discriminative case), and the doc's own unique text (kept)
      TextAnalysis.removeBoilerplateLines(plantWebPages(rd(s, dir, "documents")),
          "doc_id", "text", "source", maxLineDocRatio = 0.5)
        .withColumnRenamed("source", "host")
        .orderBy("doc_id")
    },
      s"""WITH ${boilerplateChainSql("documents")}
         SELECT doc_id, source AS host, text AS clean_text FROM web
         ORDER BY doc_id"""),
    QuerySpec("q_paragraph_dedup", (s, dir) => {
      // corpus-GLOBAL duplicate-paragraph removal (RefinedWeb/CCNet global
      // line dedup — keep-first, one survivor corpus-wide), vs
      // q_boilerplate's HOST-keyed ratio rule. The raw corpus is one
      // paragraph per doc, so the query plants the structure: a paragraph
      // shared by EVERY doc (df = N → only the lowest doc keeps it), a
      // group paragraph shared by ~1/50th of docs (df ≈ N/50 > maxDocFreq
      // → one survivor per group), a BLANK separator line in every doc
      // (df = N but blanks are separators, not content — must survive
      // verbatim in every doc), then the doc's own unique text (kept)
      val planted = rd(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", lit("shared global paragraph"),
          concat(lit("group "), col("doc_id") % 50), lit(""),
          col("text")).as("text"))
      TextAnalysis.dedupParagraphs(planted, "doc_id", "text", maxDocFreq = 2)
        .orderBy("doc_id")
    },
      // full replication of dedupParagraphs: postings with 0-based positions
      // (index lambda), corpus doc-freq per paragraph, keep-first via
      // row_number ordered (doc_id, pos) — identical to Spark's
      // min(struct(doc, pos)) — blank separator lines excluded from the
      // doc-freq rule (kept verbatim, mirroring the Spark-side exclusion),
      // and ordered string_agg reassembly with '' for fully-emptied docs
      """WITH p AS (
           SELECT doc_id, concat('shared global paragraph', chr(10),
             'group ', doc_id % 50, chr(10), chr(10), text) AS text
           FROM documents),
         post AS (
           SELECT doc_id, u['pos'] AS pos, u['para'] AS para FROM (
             SELECT doc_id,
               unnest(list_transform(string_split(text, chr(10)),
                 (x, i) -> {'pos': i - 1, 'para': x})) AS u
             FROM p)),
         ranked AS (
           SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
           FROM post),
         dfreq AS (SELECT para, count(DISTINCT doc_id) AS df FROM post GROUP BY para),
         kept AS (
           SELECT r.doc_id, r.pos, r.para
           FROM ranked r JOIN dfreq USING (para)
           WHERE trim(r.para) = '' OR dfreq.df <= 2 OR r.rn = 1),
         agg AS (
           SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT p.doc_id, coalesce(agg.clean_text, '') AS clean_text
         FROM p LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""),
    QuerySpec("q_paragraph_dedup_intra", (s, dir) => {
      // WITHIN-doc repeated-paragraph removal (the per-row pre-pass that
      // runs before q_paragraph_dedup's corpus-global rule). The raw corpus
      // is one paragraph per doc, so the query plants the structure: a
      // repeated intro (positions 0 and 2 — second copy dropped), the doc's
      // own text appearing twice (second copy dropped), TWO blank separator
      // lines (both must ride through verbatim — blank multiplicity is
      // preserved), and a group line unique WITHIN the doc (kept: cross-doc
      // duplication is q_paragraph_dedup's business, not the intra rule's)
      val planted = rd(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", lit("repeated intro"), col("text"),
          lit("repeated intro"), lit(""),
          concat(lit("group "), col("doc_id") % 50), lit(""),
          col("text")).as("text"))
      TextAnalysis.dedupParagraphsIntra(planted, "doc_id", "text")
        .orderBy("doc_id")
    },
      // full replication of dedupParagraphsIntra: keep a paragraph iff it is
      // blank (separator — survives verbatim, every copy) or this index is
      // its FIRST occurrence in its own doc (list_position = 1-based first
      // match, DuckDB lambda index i is 1-based; Spark's array_position ==
      // i+1 over a 0-based index is the same predicate)
      """WITH p AS (
           SELECT doc_id, concat_ws(chr(10), 'repeated intro', text,
             'repeated intro', '', concat('group ', doc_id % 50), '', text)
             AS text
           FROM documents),
         f AS (
           SELECT doc_id, list_filter(string_split(text, chr(10)),
             (x, i) -> trim(x) = ''
               OR list_position(string_split(text, chr(10)), x) = i) AS kept
           FROM p)
         SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text
         FROM f ORDER BY doc_id"""),
    QuerySpec("q_url_extract", (s, dir) => {
      // per-host crawl stats over extracted + CANONICALIZED urls. The
      // corpus has no urls, so each doc plants two (the q_redact pattern):
      // one with mixed-case host, tracking params, and a fragment — which
      // must all normalize away — and one already-clean http url
      val planted = rd(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://WWW."), col("source"),
          lit(".Example.com/Page/"), col("doc_id"),
          lit("?id="), col("doc_id"),
          lit("&utm_source=feed&fbclid=x"), col("doc_id"),
          lit("#s"), col("doc_id"),
          lit(" and http://"), col("source"), lit(".example/d/"),
          col("doc_id")).as("text"))
      planted
        .select(explode(TextAnalysis.extractUrls(col("text"))).as("url"))
        .select(TextAnalysis.urlHost(col("url")).as("host"),
          TextAnalysis.canonicalizeUrl(col("url")).as("curl"))
        .groupBy("host")
        .agg(count(lit(1)).cast(LongType).as("n_urls"),
          countDistinct(col("curl")).cast(LongType).as("n_canonical"),
          min(col("curl")).as("sample_url"))
        .orderBy("host")
    },
      """WITH p AS (
           SELECT doc_id,
             concat(text, ' see https://WWW.', source, '.Example.com/Page/',
               doc_id, '?id=', doc_id, '&utm_source=feed&fbclid=x', doc_id,
               '#s', doc_id, ' and http://', source, '.example/d/', doc_id)
               AS text
           FROM documents),
         u AS (
           SELECT unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
           FROM p),
         c AS (
           SELECT
             lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)) AS host,
             concat(
               lower(regexp_extract(t3, '^(https?://[^/?#]+)', 1)),
               regexp_extract(t3, '^https?://[^/?#]+(.*)$', 1)) AS curl
           FROM (
             SELECT url,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(url, '#.*$', '', 'g'),
                     '&(?:utm_[A-Za-z]+|fbclid|gclid)=[^&]*', '', 'g'),
                   '\?(?:utm_[A-Za-z]+|fbclid|gclid)=[^&]*&', '?', 'g'),
                 '\?(?:utm_[A-Za-z]+|fbclid|gclid)=[^&]*$', '', 'g') AS t3
             FROM u))
         SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical,
           min(curl) AS sample_url
         FROM c GROUP BY host ORDER BY host"""),
    QuerySpec("q_redact", (s, dir) => {
      // the fixture corpus carries no PII, so the query PLANTS a synthetic
      // email/URL trailer per doc (derived from its own fields) and then
      // redacts it — exercising match+replace+count on every row rather
      // than vacuously passing on clean text
      val planted = rd(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact "), col("source"), lit("-"),
          col("doc_id"), lit("@example.com or https://"), col("source"),
          lit(".example/d/"), col("doc_id")).as("text"))
      val (emails, urls) = TextAnalysis.piiCounts(col("text"))
      planted.select(col("doc_id"),
          emails.cast(LongType).as("n_emails"), urls.cast(LongType).as("n_urls"),
          TextAnalysis.redactPii(col("text")).as("clean_text"))
        .orderBy("doc_id")
    },
      """WITH p AS (
           SELECT doc_id,
             concat(text, ' contact ', source, '-', doc_id,
               '@example.com or https://', source, '.example/d/', doc_id) AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
             AS n_urls,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             'https?://[^\s]+', '[URL]', 'g') AS clean_text
         FROM p ORDER BY doc_id"""),
    QuerySpec("q_unigram_lm", (s, dir) =>
      TextAnalysis.unigramLogProb(rd(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tk AS (SELECT doc_id, term FROM tok WHERE len(term) > 0),
         vocab AS (SELECT term, count(*) AS cnt FROM tk GROUP BY term),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab)
         SELECT doc_id,
           round(CAST(sum(CAST(round(ln(cnt / CAST(total AS DOUBLE)) * 1e9)
               AS BIGINT)) AS DOUBLE) / count(*) / 1e9, 6)
             AS avg_logp
         FROM tk JOIN vocab USING (term) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id"""),
    QuerySpec("q_bigram_lm", (s, dir) =>
      // fluency scoring: mean ln p(next|context) from the corpus's own
      // bigram table — row-local pair HOF, two Zipf-bounded aggregates off
      // one exploded pass, per-pair nanos before the per-doc sum
      TextAnalysis.bigramLogProb(rd(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      """WITH tok AS (
           SELECT doc_id, u['t'] AS t, u['p'] AS p FROM (
             SELECT doc_id, unnest(list_transform(
               string_split_regex(lower(trim(text)), '\s+'),
               (x, i) -> {'t': x, 'p': i})) AS u
             FROM documents)
           WHERE len(u['t']) > 0),
         pairs AS (
           SELECT a.doc_id, a.t AS t1, a.t || ' ' || b.t AS pair
           FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
         pc AS (SELECT pair, count(*) AS cnt_ab FROM pairs GROUP BY pair),
         uc AS (SELECT t1, count(*) AS cnt_a FROM pairs GROUP BY t1)
         SELECT doc_id,
           round(CAST(sum(CAST(round(ln(CAST(cnt_ab AS DOUBLE) / cnt_a)
               * 1e9) AS BIGINT)) AS DOUBLE) / count(*) / 1e9, 6)
             AS avg_logp
         FROM pairs JOIN pc USING (pair) JOIN uc USING (t1)
         GROUP BY doc_id ORDER BY doc_id"""),
    QuerySpec("q_lm_store", (s, dir) => {
      // the PERSISTED corpus LM (CCNet deployment shape): fit on src0 in
      // TWO tagged batches (doc_id parity — accretion exercised: a
      // dropped/doubled batch changes counts and the oracle hash), then
      // gate the whole corpus against the FIXED store — absolute
      // threshold, one corpus scan, unseen pairs at the add-one floor
      val docs = rd(s, dir, "documents")
      val ref = docs.filter(col("source") === "src0")
      TextAnalysis.writeLmStore(
        ref.filter(pmod(col("doc_id"), lit(2)) === 0), "text",
        "graft_lm_store", nBuckets = 4)
      TextAnalysis.appendLmCounts(s, "graft_lm_store",
        ref.filter(pmod(col("doc_id"), lit(2)) === 1), "text", batchTag = 0L)
      TextAnalysis.lmPerplexityAgainst(docs, "doc_id", "text",
          "graft_lm_store", maxPpl = LmStoreMaxPpl)
        .orderBy("doc_id")
    }, LmStoreOracle),
    QuerySpec("q_lm_perplexity", (s, dir) =>
      // the CCNet-style perplexity GATE the LM family feeds: add-one
      // smoothed bigram LM, per-pair nanos terms, keep ⇔ −Σ ≤ ln(maxPpl)·n
      // in exact integers (threshold literal shared with the oracle);
      // short docs (no bigram) score NULL and drop
      TextAnalysis.lmPerplexityFilter(rd(s, dir, "documents"),
          "doc_id", "text", maxPpl = LmPerplexityMaxPpl)
        .orderBy("doc_id"),
      // bigram fluency: adjacency via original split positions (p+1 — the
      // split can't produce interior empties, so filtered positions stay
      // adjacent); context counts from the SAME pair table (per-context
      // probabilities sum to 1); per-pair ln in integer nanos, like unigram
      LmPerplexityOracle),
    QuerySpec("q_pack_chunks", (s, dir) =>
      TextAnalysis.chunkAssignments(rd(s, dir, "documents"),
          "doc_id", "text", "source", budget = 2048)
        .orderBy("doc_id"),
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
               AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
           FROM t)
         SELECT doc_id, source, n_tokens, start_offset,
           CAST(floor(start_offset / 2048.0) AS BIGINT) AS chunk_id
         FROM o ORDER BY doc_id"""),
    QuerySpec("q_shard_plan", (s, dir) =>
      // GLOBAL token-budget shard assignment: the corpus-wide exclusive
      // prefix sum runs as range-bucketed partials + offset broadcast +
      // per-bucket windows (Relational.globalPrefixSum) — bit-identical to
      // the oracle's single global window, which Spark-side would
      // serialize the corpus through one task
      TextAnalysis.shardAssignments(rd(s, dir, "documents"),
          "doc_id", "text", budget = 4096)
        .orderBy("doc_id"),
      // the oracle IS the naive global window — DuckDB single-node sorts it
      // fine; the Spark side must reproduce it exactly from bucketed partials
      """WITH t AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
               AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
           FROM t)
         SELECT doc_id, n_tokens, start_offset,
           CAST(floor(start_offset / 4096.0) AS BIGINT) AS shard_id
         FROM o ORDER BY doc_id"""),
    QuerySpec.recomputed("q_bpe_count", (s, dir) => {
      // REAL BPE token counts per doc (round 18): the distributed GPT-2
      // encode loop under the corpus-learned 200-merge table, via the
      // DICTIONARY-JOIN path: each distinct word encodes exactly once
      // (vocab-bounded — the q_pmi cost law — vs the memo kernel's
      // measured 14.6x at 100x when the memo hit rate collapsed), then
      // per-word lengths join back to (doc, word) counts. Oracle =
      // memo-free sequential recompute by an independently-coded encoder
      // over the SAME merges table, embedded as per-doc literals —
      // diverges if the join path ever mis-counts or drops a word
      graft.operators.Bpe.tokenCountsDict(rd(s, dir, "documents"), "doc_id",
          "text", bpeModelFor(s, dir))
        .orderBy("doc_id")
    }, bpeOracleFor),
    QuerySpec("q_quality_model", (s, dir) =>
      // learned quality filter (hashing-trick linear model): weights are
      // plan literals, score is the mean bucket weight (logit — monotone in
      // sigmoid, no cross-engine exp hazard), keep decided on rounded bits
      TextAnalysis.hashedQualityScore(rd(s, dir, "documents"), "doc_id",
          "text", TextAnalysis.syntheticQualityModel())
        .orderBy("doc_id"), QualityModelOracle),
    QuerySpec("q_domain_classify", (s, dir) =>
      // multi-class domain tagger (hashing-trick linear classifier): one
      // explode + one K-sum aggregate + argmax projection; same integer-
      // micros determinism as q_quality_model, tie broken by class order
      TextAnalysis.hashedClassify(rd(s, dir, "documents"), "doc_id", "text",
          DomainClassifyModels)
        .orderBy("doc_id"), DomainClassifyOracle),
    QuerySpec("q_token_entropy", (s, dir) =>
      // corpus unigram Shannon entropy + type/token ratio in one row —
      // the crawl-degeneracy gate; integer-NANOS c·ln c terms keep the
      // sum order-independent (the q_unigram_lm doctrine)
      TextAnalysis.corpusLexicalStats(rd(s, dir, "documents"), "text"),
      // H = ln N − (Σ c·ln c)/N over the unigram table, in bits via the ln 2
      // double literal (shared with corpusLexicalStats — no cross-engine
      // log2); per-type terms fixed to integer nanos before summing
      """WITH tok AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tk AS (SELECT term FROM tok WHERE len(term) > 0),
         vocab AS (SELECT term, count(*) AS cnt FROM tk GROUP BY term)
         SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           round((ln(CAST(sum(cnt) AS DOUBLE))
             - CAST(sum(CAST(round(cnt * ln(cnt) * 1e9) AS BIGINT)) AS DOUBLE)
               / 1e9 / sum(cnt)) / 0.6931471805599453, 6) AS entropy_bits,
           round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS ttr
         FROM vocab"""),
    QuerySpec("q_fuzzy_join", (s, dir) =>
      // blocked Levenshtein record linkage over 40-char text prefixes:
      // candidates share a (lang, 4-char-prefix) block — one shuffle on
      // the block key, bucket-local self-join, O(40²) verify per pair;
      // blocking is part of the semantics (exactly oracle-checkable).
      // FIXED profile — quadratic past fixture scale by the block-size
      // law (measured 10.1x at 10x data); the scaled twin below is the
      // production form
      graft.operators.TextAnalysis.fuzzyJoin(rd(s, dir, "documents"),
        "doc_id", col("text"),
        concat_ws("|", col("lang"), substring(col("text"), 1, 4)),
        maxDist = 12, keyLen = 40),
      // blocked Levenshtein linkage: identical blocking + verify; both
      // engines' levenshtein is the classic unit-cost edit distance
      fuzzyJoinOracleSql(4)),
    QuerySpec("q_fuzzy_join_scaled", (s, dir) => {
      // the corpus-scaled blocking profile (the simhash_hamming_scaled
      // pattern): prefix length grows +1 char per 4x corpus, holding
      // expected block size — and the candidates×verify term — near
      // constant; resolves to the legacy profile at the test SFs, and the
      // generated oracle pins the SAME derived length
      val len = fuzzyPrefixLen(docCountFor(s, dir))
      graft.operators.TextAnalysis.fuzzyJoin(rd(s, dir, "documents"),
        "doc_id", col("text"),
        concat_ws("|", col("lang"), substring(col("text"), 1, len)),
        maxDist = 12, keyLen = 40)
    },
      // the scaled-blocking twin: generated with the SAME corpus-derived
      // prefix length the query resolves
      derived((s, dir) =>
        fuzzyJoinOracleSql(fuzzyPrefixLen(docCountFor(s, dir))))),
    QuerySpec("q_pmi", (s, dir) =>
      // top-30 PMI collocations (min pair count 5): one checkpointed
      // tokenize pass feeds pair + unigram aggregates; the PMI argument is
      // one fixed-shape double product ratio of six exact longs, fixed to
      // integer nanos; final cut is TakeOrdered on integer keys
      graft.operators.TextAnalysis.topPmiBigrams(rd(s, dir, "documents"),
        "text", k = 30, minPairCount = 5L),
      // same positional pair fragment as q_bigram_lm; PMI argument mirrors
      // the Spark side's exact double-product shape factor for factor
      """WITH tok AS (
           SELECT doc_id, u['t'] AS t, u['p'] AS p FROM (
             SELECT doc_id, unnest(list_transform(
               string_split_regex(lower(trim(text)), '\s+'),
               (x, i) -> {'t': x, 'p': i})) AS u
             FROM documents)
           WHERE len(u['t']) > 0),
         pairs AS (
           SELECT a.t AS t1, b.t AS t2
           FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
         pc AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cnt_ab
                FROM pairs GROUP BY t1, t2 HAVING count(*) >= 5),
         uc AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
                FROM tok GROUP BY t),
         tot AS (SELECT (SELECT sum(cnt) FROM uc) AS n,
                        (SELECT count(*) FROM pairs) AS m)
         SELECT t1, t2, cnt_ab,
           CAST(round(ln(
             (CAST(cnt_ab AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(ca.cnt AS DOUBLE)
                * CAST(cb.cnt AS DOUBLE))) * 1e9) AS BIGINT) AS pmi_nanos
         FROM pc JOIN uc ca ON ca.t = pc.t1 JOIN uc cb ON cb.t = pc.t2
         CROSS JOIN tot
         ORDER BY pmi_nanos DESC, t1, t2 LIMIT 30"""),
    QuerySpec("q_chunk_overlap", (s, dir) =>
      // RAG chunker: 24-token windows advancing by 16 (8-token overlap),
      // cover-all-tokens contract — pure projection + one Generate, no
      // shuffle; chunk width bounded so embedding batches see uniform work
      graft.operators.TextAnalysis.chunkTokenWindows(rd(s, dir, "documents"),
        "doc_id", "text", chunkTokens = 24, strideTokens = 16),
      // closed-form chunk count 1 + ceil(max(n-24,0)/16) via integer-exact
      // (x+15)//16; list_slice is 1-based with INCLUSIVE end
      """WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               t -> len(t) > 0) AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt,
             1 + (greatest(CAST(len(toks) AS BIGINT) - 24, 0) + 15) // 16
               AS nchunks
           FROM d),
         c AS (
           SELECT doc_id, toks, nt,
             unnest(generate_series(0, nchunks - 1)) AS i
           FROM n)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 16 AS BIGINT) AS start_token,
           least(nt - i * 16, 24) AS n_chunk_tokens,
           array_to_string(list_slice(toks, i * 16 + 1,
             i * 16 + least(nt - i * 16, 24)), ' ') AS chunk_text
         FROM c
         ORDER BY doc_id, chunk_idx"""),
    QuerySpec("q_source_jaccard", (s, dir) =>
      // pairwise token-SET Jaccard between sources: integer-exact
      // inclusion-exclusion over one distinct (source, token) aggregate +
      // one vocab-keyed join — the set complement of q_js_divergence
      graft.operators.TextAnalysis.groupTokenJaccard(rd(s, dir, "documents"),
        "source", "text"),
      """WITH sets AS (
           SELECT DISTINCT g, term FROM (
             SELECT source AS g,
               unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 t -> len(t) > 0)) AS term
             FROM documents)),
         sz AS (SELECT g, CAST(count(*) AS BIGINT) AS s FROM sets GROUP BY g),
         com AS (
           SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS i
           FROM sets a JOIN sets b ON a.term = b.term AND a.g < b.g
           GROUP BY a.g, b.g),
         pairs AS (SELECT a.g AS ga, a.s AS sa, b.g AS gb, b.s AS sb
                   FROM sz a JOIN sz b ON a.g < b.g)
         SELECT pairs.ga AS group_a, pairs.gb AS group_b,
           coalesce(i, 0) AS n_common,
           sa + sb - coalesce(i, 0) AS n_union,
           round(CAST(coalesce(i, 0) AS DOUBLE)
             / (sa + sb - coalesce(i, 0)), 6) AS jaccard
         FROM pairs LEFT JOIN com ON pairs.ga = com.ga AND pairs.gb = com.gb
         ORDER BY group_a, group_b"""),
    QuerySpec("q_js_divergence", (s, dir) =>
      // pairwise Jensen-Shannon divergence between source unigram
      // distributions — the mixing diagnostic; ln2-reduction keeps the join
      // common-vocabulary-sized, per-token terms fixed to integer nanos
      graft.operators.TextAnalysis.groupJsDivergence(rd(s, dir, "documents"),
        "source", "text"),
      // same ln2-reduction and literal ln2 divisor as the Spark side; the ln
      // argument's cross products are DOUBLE·DOUBLE (each factor cast before
      // the multiply — the identical IEEE expression shape as the Spark plan,
      // immune to BIGINT wrap at any corpus size), per-token terms fixed to
      // integer nanos before the sum (q_token_entropy doctrine)
      """WITH tok AS (
           SELECT source AS g,
             unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
               t -> len(t) > 0)) AS term
           FROM documents),
         dist AS (SELECT g, term, count(*) AS c FROM tok GROUP BY g, term),
         tot AS (SELECT g, sum(c) AS t FROM dist GROUP BY g),
         j AS (
           SELECT a.g AS ga, b.g AS gb,
             CAST(round((
               CAST(a.c AS DOUBLE) / ta.t
                 * ln((CAST(a.c AS DOUBLE) * CAST(tb.t AS DOUBLE))
                     / (CAST(a.c AS DOUBLE) * CAST(tb.t AS DOUBLE)
                        + CAST(b.c AS DOUBLE) * CAST(ta.t AS DOUBLE)))
               + CAST(b.c AS DOUBLE) / tb.t
                 * ln((CAST(b.c AS DOUBLE) * CAST(ta.t AS DOUBLE))
                     / (CAST(a.c AS DOUBLE) * CAST(tb.t AS DOUBLE)
                        + CAST(b.c AS DOUBLE) * CAST(ta.t AS DOUBLE)))
             ) * 1e9) AS BIGINT) AS tn
           FROM dist a JOIN dist b ON a.term = b.term AND a.g < b.g
           JOIN tot ta ON ta.g = a.g JOIN tot tb ON tb.g = b.g),
         agg AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_common,
                   sum(tn) AS sn
                 FROM j GROUP BY ga, gb),
         pairs AS (SELECT a.g AS ga, b.g AS gb
                   FROM tot a JOIN tot b ON a.g < b.g)
         SELECT pairs.ga AS group_a, pairs.gb AS group_b,
           coalesce(n_common, 0) AS n_common,
           round(1.0 + coalesce(sn, 0) / 1e9 / 2.0 / 0.6931471805599453, 6)
             AS jsd_bits
         FROM pairs LEFT JOIN agg ON pairs.ga = agg.ga AND pairs.gb = agg.gb
         ORDER BY group_a, group_b"""),
    QuerySpec("q_jw_linkage", (s, dir) =>
      // blocked Jaro-Winkler record linkage over the same (lang, 4-char
      // prefix) blocks as q_fuzzy_join, scored by the native codegen'd
      // JaroWinklerExpr in integer MICROS — thresholding on the integer
      // keeps the row set immune to last-ulp double drift vs the oracle.
      // Verify kernel is O(keyLen·window) vs Levenshtein's O(keyLen²):
      // the cheap scorer for the same candidate mass at 100 TB
      graft.operators.TextAnalysis.jaroWinklerLinkage(rd(s, dir, "documents"),
        "doc_id", col("text"),
        concat_ws("|", col("lang"), substring(col("text"), 1, 4)),
        minSimMicros = 850000L, keyLen = 40),
      // DuckDB's jaro_winkler_similarity IS the pinned semantics of
      // JaroWinklerExpr (boost only above 0.7, prefix cap 4, empty → 0);
      // both sides round to integer micros BEFORE the threshold compare
      jwLinkageOracleSql(4)),
    QuerySpec("q_jw_linkage_scaled", (s, dir) => {
      // the corpus-scaled blocking profile (shared fuzzyPrefixLen law with
      // q_fuzzy_join_scaled: prefix +1 char per 4x corpus holds expected
      // block size — and candidates×verify — near constant); resolves to
      // the legacy 4-char profile at the test SFs, and the generated
      // oracle pins the SAME derived length
      val len = fuzzyPrefixLen(docCountFor(s, dir))
      graft.operators.TextAnalysis.jaroWinklerLinkage(rd(s, dir, "documents"),
        "doc_id", col("text"),
        concat_ws("|", col("lang"), substring(col("text"), 1, len)),
        minSimMicros = 850000L, keyLen = 40)
    },
      // same fuzzyPrefixLen law, same generated-oracle pinning
      derived((s, dir) =>
        jwLinkageOracleSql(fuzzyPrefixLen(docCountFor(s, dir))))),
    QuerySpec("q_jw_best_match", (s, dir) =>
      // entity-resolution survivor assignment: each record's single best
      // Jaro-Winkler match within its block (integer-micros score, ties →
      // smaller id, row_number window per record) — output stays linear in
      // input no matter how dense the candidate graph gets
      graft.operators.TextAnalysis.jaroWinklerBestMatch(rd(s, dir, "documents"),
        "doc_id", col("text"),
        concat_ws("|", col("lang"), substring(col("text"), 1, 4)),
        minSimMicros = 800000L, keyLen = 40),
      """WITH d AS (
           SELECT doc_id, substr(text, 1, 40) AS k,
             lang || '|' || substr(text, 1, 4) AS blk
           FROM documents),
         scored AS (
           SELECT a.doc_id AS id, b.doc_id AS match_id,
             CAST(round(jaro_winkler_similarity(a.k, b.k) * 1e6) AS BIGINT)
               AS sim_micros
           FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id <> b.doc_id)
         SELECT id, match_id, sim_micros FROM (
           SELECT id, match_id, sim_micros, row_number() OVER (
             PARTITION BY id ORDER BY sim_micros DESC, match_id ASC) AS rn
           FROM scored WHERE sim_micros >= 800000)
         WHERE rn = 1 ORDER BY id"""),
    QuerySpec("q_corpus_mix", (s, dir) =>
      // the pretraining-mix table: per (source, lang) docs/tokens and
      // exact-integer corpus shares — one grouped aggregate + a 1-row
      // totals broadcast
      TextAnalysis.corpusMixReport(rd(s, dir, "documents"),
        Seq("source", "lang"), "text"),
      // per (source, lang) docs/tokens + exact-integer corpus shares; the
      // same len>0-filtered whitespace tokens as q_token_entropy
      """WITH b AS (
           SELECT source, lang,
             CAST(len(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               t -> len(t) > 0)) AS BIGINT) AS nt
           FROM documents),
         g AS (
           SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
           FROM b GROUP BY source, lang),
         t AS (SELECT sum(n_docs) AS td, sum(n_tokens) AS tt FROM g)
         SELECT source, lang, n_docs, n_tokens,
           round(CAST(n_docs AS DOUBLE) / td, 6) AS share_docs,
           round(CAST(n_tokens AS DOUBLE) / tt, 6) AS share_tokens
         FROM g CROSS JOIN t ORDER BY source, lang""")
  )

  /** the synthetic web-page plant shared by q_boilerplate and
    * q_curation_web (and replicated by [[boilerplateChainSql]]): nav header
    * + content + ratio-straddling promo variant + copyright footer. */
  private[queries] def plantWebPages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat_ws("\n",
        concat(lit("nav "), col("source"), lit(" home")),
        col("text"),
        when(col("doc_id") % 40 < 20, "promo sale")
          .otherwise("no promo today"),
        concat(lit("copyright "), col("source"))).as("text"))

  /** the planted-web-page + boilerplate-strip CTE chain, replicating
    * [[plantWebPages]] + [[TextAnalysis.removeBoilerplateLines]] (ratio 0.5,
    * minLineDocFreq 2) over `src`. Yields `web(doc_id, source, text)` —
    * the cleaned corpus — for q_boilerplate and the composed
    * q_curation_web. */
  private[queries] def boilerplateChainSql(src: String): String =
    s"""bp AS (
         SELECT doc_id, source,
           concat_ws(chr(10), concat('nav ', source, ' home'), text,
             CASE WHEN doc_id % 40 < 20 THEN 'promo sale'
                  ELSE 'no promo today' END,
             concat('copyright ', source)) AS text
         FROM $src),
       bl AS (
         SELECT doc_id, source, i AS pos, xs[i + 1] AS line
         FROM (SELECT doc_id, source, xs,
                 unnest(range(0, len(xs))) AS i
               FROM (SELECT doc_id, source,
                       string_split(text, chr(10)) AS xs FROM bp))),
       bnd AS (SELECT source, count(DISTINCT doc_id) AS n
               FROM bp GROUP BY source),
       bldf AS (SELECT source, line, count(DISTINCT doc_id) AS df
                FROM bl GROUP BY source, line),
       boiler AS (
         SELECT source, line FROM bldf JOIN bnd USING (source)
         WHERE df >= 2 AND CAST(df AS DOUBLE) / n > 0.5),
       bkept AS (
         SELECT bl.doc_id, bl.pos, bl.line
         FROM bl LEFT JOIN boiler b
           ON bl.source = b.source AND bl.line = b.line
         WHERE b.line IS NULL),
       bagg AS (
         SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
         FROM bkept GROUP BY doc_id),
       web AS (
         SELECT bp.doc_id, bp.source, coalesce(a.clean_text, '') AS text
         FROM bp LEFT JOIN bagg a ON a.doc_id = bp.doc_id)"""

  /** q_lm_perplexity's threshold, ln-fixed at plan time and shared with
    * the oracle (the rboWeightsNanos literal-sharing pattern). Chosen so
    * the fixture corpus SPLITS (both kept outcomes occur at every test
    * SF) — a threshold past the distribution edge would verify the gate
    * vacuously. */
  private[queries] val LmPerplexityMaxPpl: Double = 30.0

  /** the store-gated twin's threshold (fit on src0, score everything):
    * ln 34 ≈ 3.526 sits between the sf0.001 corpus median ln_ppl (3.541)
    * and the sf0.01 one (3.514), so BOTH kept outcomes occur at every
    * test SF on both sides of the median — the same split-the-fixture
    * doctrine as [[LmPerplexityMaxPpl]]. */
  private[queries] val LmStoreMaxPpl: Double = 34.0

  /** add-one bigram scoring of `scoreSrc` against an LM fit on `fitSrc`
    * (ends with `lsc`: doc_id, n_bigrams, sn) — the persisted-LM (CCNet)
    * shape: unseen pairs/contexts coalesce to count 0 (the add-one
    * floor). Shared by q_lm_store and the composed q_curation_ppl_store.
    * Replays the ACCRETED store exactly: batch-split fit counts sum to
    * these whole-fit counts, so a dropped or double-applied batch surfaces
    * as a hash mismatch. */
  private[queries] def lmStoreChainSql(fitSrc: String, scoreSrc: String): String =
    s"""lftok AS (
         SELECT doc_id, u['t'] AS t, u['p'] AS p FROM (
           SELECT doc_id, unnest(list_transform(
             string_split_regex(lower(trim(text)), '\\s+'),
             (x, i) -> {'t': x, 'p': i})) AS u
           FROM $fitSrc)
         WHERE len(u['t']) > 0),
       lfpairs AS (
         SELECT a.doc_id, a.t AS t1, a.t || ' ' || b.t AS pair
         FROM lftok a JOIN lftok b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
       lfpc AS (SELECT pair, count(*) AS cnt_ab FROM lfpairs GROUP BY pair),
       lfuc AS (SELECT t1, count(*) AS cnt_a FROM lfpairs GROUP BY t1),
       lfvv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM lfuc),
       lstok AS (
         SELECT doc_id, u['t'] AS t, u['p'] AS p FROM (
           SELECT doc_id, unnest(list_transform(
             string_split_regex(lower(trim(text)), '\\s+'),
             (x, i) -> {'t': x, 'p': i})) AS u
           FROM $scoreSrc)
         WHERE len(u['t']) > 0),
       lspairs AS (
         SELECT a.doc_id, a.t AS t1, a.t || ' ' || b.t AS pair
         FROM lstok a JOIN lstok b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
       lsc AS (
         SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           sum(CAST(round(ln((CAST(coalesce(lfpc.cnt_ab, 0) AS DOUBLE) + 1.0)
               / (CAST(coalesce(lfuc.cnt_a, 0) AS DOUBLE)
                  + CAST(lfvv.v AS DOUBLE))) * 1e9)
             AS BIGINT)) AS sn
         FROM lspairs s LEFT JOIN lfpc USING (pair) LEFT JOIN lfuc USING (t1)
         CROSS JOIN lfvv
         GROUP BY s.doc_id)"""

  private def LmStoreOracle: String = {
    val lnMaxNanos = math.round(math.log(LmStoreMaxPpl) * 1e9)
    s"""WITH ${lmStoreChainSql(
        "(SELECT * FROM documents WHERE source = 'src0')", "documents")}
       SELECT d.doc_id,
         coalesce(lsc.n_bigrams, 0) AS n_bigrams,
         round(-CAST(lsc.sn AS DOUBLE) / lsc.n_bigrams / 1e9, 6) AS ln_ppl,
         coalesce(-lsc.sn <= $lnMaxNanos * lsc.n_bigrams, false) AS kept
       FROM documents d LEFT JOIN lsc USING (doc_id)
       ORDER BY d.doc_id"""
  }

  /** the add-one-smoothed bigram scoring CTEs over `src` (ends with `sc`:
    * doc_id, n_bigrams, sn) — shared by q_lm_perplexity and the composed
    * q_curation_ppl so the gate and its composition cannot drift. Same
    * tok/pairs/pc/uc shapes as q_bigram_lm; V = context-vocabulary size
    * rides as a 1-row cross join. */
  private[queries] def lmPplChainSql(src: String): String =
    s"""ptok AS (
         SELECT doc_id, u['t'] AS t, u['p'] AS p FROM (
           SELECT doc_id, unnest(list_transform(
             string_split_regex(lower(trim(text)), '\\s+'),
             (x, i) -> {'t': x, 'p': i})) AS u
           FROM $src)
         WHERE len(u['t']) > 0),
       ppairs AS (
         SELECT a.doc_id, a.t AS t1, a.t || ' ' || b.t AS pair
         FROM ptok a JOIN ptok b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
       ppc AS (SELECT pair, count(*) AS cnt_ab FROM ppairs GROUP BY pair),
       puc AS (SELECT t1, count(*) AS cnt_a FROM ppairs GROUP BY t1),
       pvv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM puc),
       sc AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           sum(CAST(round(ln((CAST(cnt_ab AS DOUBLE) + 1.0)
               / (CAST(cnt_a AS DOUBLE) + CAST(v AS DOUBLE))) * 1e9)
             AS BIGINT)) AS sn
         FROM ppairs JOIN ppc USING (pair) JOIN puc USING (t1)
         CROSS JOIN pvv
         GROUP BY doc_id)"""

  private def LmPerplexityOracle: String = {
    val lnMaxNanos = math.round(math.log(LmPerplexityMaxPpl) * 1e9)
    s"""WITH ${lmPplChainSql("documents")}
       SELECT d.doc_id,
         coalesce(sc.n_bigrams, 0) AS n_bigrams,
         round(-CAST(sc.sn AS DOUBLE) / sc.n_bigrams / 1e9, 6) AS ln_ppl,
         coalesce(-sc.sn <= $lnMaxNanos * sc.n_bigrams, false) AS kept
       FROM documents d LEFT JOIN sc USING (doc_id)
       ORDER BY d.doc_id"""
  }

  /** the hashing-trick QUALITY-MODEL chain, parameterized by source CTE/
    * table: same md5 31-bit bucket hash as the portable-minhash base, same
    * weight literals (integer micros → exact order-independent sums).
    * Yields `qsc(doc_id, n_tokens, s)`; consumers apply the rounded-micros
    * logit expression [[qualityLogitSql]]. */
  private def qualityChainSql(src: String): String = {
    val vals = TextAnalysis.syntheticQualityModel().zipWithIndex
      .map { case (w, b) => s"($b, $w)" }.mkString(", ")
    s"""qw(b, wm) AS (VALUES $vals),
       qsc AS (
         SELECT qbx.doc_id, count(*) AS n_tokens, CAST(sum(qw.wm) AS BIGINT) AS s
         FROM (SELECT doc_id,
                 CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                   % 2147483648 % 256 AS b
               FROM (SELECT doc_id, unnest(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+')) AS t
                     FROM $src) qtk) qbx
         JOIN qw ON qw.b = qbx.b
         GROUP BY qbx.doc_id)"""
  }

  /** the scale-0 rounded-micros logit over qsc columns — one expression,
    * shared so the standalone and composed oracles can never diverge. */
  private val qualityLogitSql: String =
    "CAST(round(CAST(s AS DOUBLE) / n_tokens) AS BIGINT) / 1e6"

  /** q_quality_model in DuckDB: the identical hashing-trick scorer, logit
    * and keep decided from the same rounded bits as the Spark side. */
  private val QualityModelOracle: String =
    s"""WITH ${qualityChainSql("documents")}
       SELECT doc_id, n_tokens,
         $qualityLogitSql AS logit,
         $qualityLogitSql >= 0.0 AS keep
       FROM qsc ORDER BY doc_id"""

  /** three deterministic synthetic domain models (distinct seeds) — the
    * multi-class twin of [[TextAnalysis.syntheticQualityModel]]; the Spark
    * query and the DuckDB oracle embed the SAME literals. */
  private val DomainClassifyModels: Seq[(String, Seq[Long])] = Seq(
    "news" -> TextAnalysis.syntheticQualityModel(256, 101L),
    "code" -> TextAnalysis.syntheticQualityModel(256, 102L),
    "chat" -> TextAnalysis.syntheticQualityModel(256, 103L))

  /** q_domain_classify in DuckDB: per-(doc, class) mean hashed-bucket logit
    * from the same weight literals, argmax with the same tie policy
    * (highest logit, then first class in declaration order). */
  private val DomainClassifyOracle: String = {
    val vals = DomainClassifyModels.zipWithIndex.flatMap { case ((lbl, ws), k) =>
      ws.zipWithIndex.map { case (w, b) => s"($k, '$lbl', $b, $w)" }
    }.mkString(", ")
    s"""WITH cw(k, lbl, b, wm) AS (VALUES $vals),
       tb AS (
         SELECT doc_id,
           CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
             % 2147483648 % 256 AS b
         FROM (SELECT doc_id, unnest(string_split_regex(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 '\\s+')) AS t
               FROM documents) x),
       sc AS (
         SELECT tb.doc_id, cw.k, cw.lbl, count(*) AS n,
           CAST(sum(cw.wm) AS BIGINT) AS s
         FROM tb JOIN cw ON cw.b = tb.b
         GROUP BY 1, 2, 3),
       best AS (
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, lbl AS label,
           CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) / 1e6 AS logit,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) DESC,
               k ASC) AS rn
         FROM sc)
       SELECT doc_id, n_tokens, label, logit
       FROM best WHERE rn = 1 ORDER BY doc_id"""
  }

  /** q_fuzzy_join (+ the scaled twin) in DuckDB: identical (lang, L-char
    * prefix) blocking and 40-char-key Levenshtein verify; the scaled form
    * is generated with the SAME docCount-derived L the query resolved. */
  private def fuzzyJoinOracleSql(prefixLen: Int): String =
    s"""WITH d AS (
         SELECT doc_id, substr(text, 1, 40) AS k,
           lang || '|' || substr(text, 1, $prefixLen) AS blk
         FROM documents)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
       FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
       WHERE levenshtein(a.k, b.k) <= 12
       ORDER BY id_a, id_b"""

  private def jwLinkageOracleSql(prefixLen: Int): String =
    s"""WITH d AS (
         SELECT doc_id, substr(text, 1, 40) AS k,
           lang || '|' || substr(text, 1, $prefixLen) AS blk
         FROM documents)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(round(jaro_winkler_similarity(a.k, b.k) * 1e6) AS BIGINT)
           AS sim_micros
       FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
       WHERE CAST(round(jaro_winkler_similarity(a.k, b.k) * 1e6) AS BIGINT)
         >= 850000
       ORDER BY id_a, id_b"""

  /** q_compress_ratio's generated oracle: deflated sizes + ratios from the
    * single-threaded fresh-Deflater recompute
    * ([[graft.verify.IndependentOracles.deflatedSizes]]) embedded as a
    * VALUES literal; n_bytes deliberately left to DuckDB's own strlen so
    * the raw-byte side is cross-engine, not an echo. */
  private def compressOracle(s: SparkSession, dir: String): Map[String, String] = {
    import graft.verify.IndependentOracles
    val corpus = rd(s, dir, "documents").select("doc_id", "text")
    requireTestScale(corpus, "compressOracle",
      "the deflate oracle is a test-SF recompute by design")
    val docs = corpus.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    val rows = IndependentOracles.deflatedSizes(docs, level = 6)
      .map { case (id, out) =>
        val raw = docs.find(_._1 == id).get._2.getBytes("UTF-8").length
        val ratio = if (raw == 0) 1.0
          else math.floor(out.toDouble / raw * 1e6 + 0.5) / 1e6
        s"($id, $out, $ratio)"
      }
    Map("q_compress_ratio" ->
      s"""WITH exp(doc_id, n_deflated, compress_ratio) AS (
           VALUES ${rows.mkString(", ")})
         SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
           CAST(strlen(d.text) AS BIGINT) AS n_bytes,
           CAST(e.n_deflated AS BIGINT) AS n_deflated,
           CAST(e.compress_ratio AS DOUBLE) AS compress_ratio
         FROM exp e JOIN documents d ON d.doc_id = e.doc_id
         ORDER BY doc_id""")
  }

  /** the DuckDB replay of [[graft.operators.TextAnalysis.htmlToBlocks]]'s
    * sentinel chain around an input SQL expression — shared by the
    * q_html_blocks and q_html_paragraph_dedup oracles so the chain and its
    * replays can never drift apart one-sidedly without a loud mismatch. */
  private def htmlBlocksChainSql(input: String): String = {
    def rr(x: String, pat: String, rep: String) =
      s"regexp_replace($x, '$pat', $rep, 'g')"
    def lrep(x: String, from: String, to: String) =
      s"replace($x, '$from', $to)"
    var x = input
    x = rr(x, """[\x11\x12]""", "' '")
    x = rr(x, """(?is)<script[^>]*>.*?</script\s*>""", "' '")
    x = rr(x, """(?is)<style[^>]*>.*?</style\s*>""", "' '")
    x = rr(x, """(?s)<!--.*?-->""", "' '")
    x = rr(x, """(?is)</(td|th)\s*>""", "chr(17)")
    x = rr(x, """(?is)<br\s*/?\s*>|""" +
      """</?(p|div|h[1-6]|li|tr|ul|ol|table|blockquote)(\s[^>]*)?>""",
      "chr(18)")
    x = rr(x, """(?s)<[^>]*>""", "' '")
    x = lrep(x, "&nbsp;", "' '")
    x = lrep(x, "&lt;", "'<'")
    x = lrep(x, "&gt;", "'>'")
    x = lrep(x, "&quot;", "'\"'")
    x = lrep(x, "&#39;", "chr(39)")
    x = lrep(x, "&amp;", "'&'")
    x = rr(x, """\s+""", "' '")
    x = rr(x, """ ?\x11 ?""", "chr(9)")
    x = rr(x, """( ?\x12 ?)+""", "chr(10)")
    x = rr(x, """\t+\n""", "chr(10)")
    x = rr(x, """^\s+""", "''")
    rr(x, """\s+$""", "''")
  }

  /** q_bpe_count's generated oracle: per-doc BPE token counts from the
    * independently-coded sequential encoder
    * ([[graft.verify.IndependentOracles.bpeCounts]]) over the SAME
    * memoized merges table (merges are data, like fitted centroids),
    * embedded as VALUES literals — the cdcOracle pattern, cap-guarded. */
  private def bpeOracle(s: SparkSession, dir: String): Map[String, String] = {
    import graft.verify.IndependentOracles
    val corpus = rd(s, dir, "documents").select("doc_id", "text")
    requireTestScale(corpus, "bpeOracle",
      "the BPE oracle is a test-SF recompute by design")
    val docs = corpus.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    val counts = IndependentOracles.bpeCounts(docs, bpeModelFor(s, dir).merges)
    val values = counts.map { case (id, n) => s"($id, $n)" }
    Map("q_bpe_count" ->
      s"""WITH exp(doc_id, n_bpe) AS (VALUES ${values.mkString(", ")})
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_bpe AS BIGINT) AS n_bpe
         FROM exp ORDER BY doc_id""")
  }

  /** the deflate and BPE recomputes, each run once per sf dir. */
  private val compressOracleFor = perDir(compressOracle)
  private val bpeOracleFor = perDir(bpeOracle)
}

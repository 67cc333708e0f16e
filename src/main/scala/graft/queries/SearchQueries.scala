package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkEntry.rd
import graft.operators.{LinkGraph, TextAnalysis}
import graft.queries.Offline._

/** The registry's search queries, each declared with its DuckDB oracle:
  * inverted-index search, the link graph and ranking metrics. */
object SearchQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_search_index", (s, dir) =>
      // conjunctive keyword search against the persisted inverted index:
      // the scan reads only the two query terms' postings buckets (never
      // the corpus), ranking in integer tf space — the text-retrieval
      // sibling of the ANN store twins
      graft.operators.Search.searchAll(s, searchStoreFor(s, dir),
        Seq("scan", "join"), 20),
      // exact heavy hitters: the sketch+confirm pipeline's RESULT is exactly
      // the true {token : freq ≥ ceil(support·N)} set, so the oracle is the
      // plain threshold aggregate (same whitespace tokenization as
      // q_top_tokens)
      // inverted-index conjunctive search: postings re-derived from the raw
      // corpus with the proven tokenizer chain; docs containing BOTH terms
      // ranked by total tf (integer), id ties
      """WITH post AS (
           SELECT doc_id, t AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY doc_id, t),
         m AS (
           SELECT doc_id, count(*) AS matched, sum(tf) AS total_tf
           FROM post WHERE term IN ('scan', 'join') GROUP BY doc_id)
         SELECT doc_id, CAST(total_tf AS BIGINT) AS total_tf
         FROM m WHERE matched = 2
         ORDER BY total_tf DESC, doc_id LIMIT 20"""),
    QuerySpec("q_search_any", (s, dir) =>
      // disjunctive variant: one common + one rare term, so the
      // matched-count rank tier is exercised (docs with both terms beat
      // higher-tf docs with only one)
      graft.operators.Search.searchAny(s, searchStoreFor(s, dir),
        Seq("scan", "dup"), 20),
      """WITH post AS (
           SELECT doc_id, t AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY doc_id, t)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS matched,
                CAST(sum(tf) AS BIGINT) AS total_tf
         FROM post WHERE term IN ('scan', 'dup') GROUP BY doc_id
         ORDER BY matched DESC, total_tf DESC, doc_id LIMIT 20"""),
    QuerySpec("q_search_weighted", (s, dir) =>
      // integer-idf ranking: floor(N/df) weights — 'dup' (rare) dominates
      // 'scan' (ubiquitous, weight ~1), so one 'dup' hit outranks any
      // pile-up of 'scan' tf; exact integers keep the rank oracle-stable
      // where ln-idf would flip marginal rows on cross-engine ulps
      graft.operators.Search.searchWeighted(s, searchStoreFor(s, dir),
        Seq("scan", "dup"), 20, docCountFor(s, dir)),
      // integer-idf weighted rank: weight_t = N // df_t (floor division both
      // engines), score = sum(tf_t * weight_t) — exact integers end to end
      """WITH post AS (
           SELECT doc_id, t AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY doc_id, t),
         n AS (SELECT count(*) AS nd FROM documents),
         w AS (SELECT term, count(*) AS df FROM post GROUP BY term),
         m AS (
           SELECT p.doc_id,
             sum(p.tf * ((SELECT nd FROM n) // w.df)) AS score
           FROM post p JOIN w USING (term)
           WHERE p.term IN ('scan', 'dup') GROUP BY p.doc_id)
         SELECT doc_id, CAST(score AS BIGINT) AS score
         FROM m ORDER BY score DESC, doc_id LIMIT 20"""),
    QuerySpec("q_bm25", (s, dir) =>
      // Okapi BM25 (k1=1.2, b=0.75, Lucene-style idf) over the same
      // inverted-index store: postings carry dl inline and N/avgdl ride
      // the store's build properties, so the probe reads ONLY the two
      // query terms' buckets; per-contribution doubles are rounded to
      // integer nanos before the per-doc sum (order-independent ranking)
      graft.operators.Search.searchBM25(s, searchStoreFor(s, dir),
        Seq("scan", "dup"), 20),
      // BM25: every constant subexpression written SYMBOLICALLY (1.2*(1-0.75),
      // never 0.3) and in the same operand order as the Spark expression, so
      // both engines fold identical doubles; contributions round to integer
      // nanos before the per-doc sum (exact, order-independent)
      """WITH post AS (
           SELECT doc_id, t AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY doc_id, t),
         dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                FROM post GROUP BY doc_id),
         n AS (SELECT count(*) AS nd,
                 (SELECT CAST(sum(tf) AS DOUBLE) FROM post) / count(*)
                   AS avgdl
               FROM documents),
         w AS (SELECT term, count(*) AS df FROM post GROUP BY term),
         contrib AS (
           SELECT p.doc_id,
             CAST(round(ln(1.0 + (nd - df + 0.5) / (df + 0.5))
               * (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75) + 1.2 * 0.75 * d.dl / avgdl)
               * 1e9) AS BIGINT) AS nanos
           FROM post p JOIN w USING (term) JOIN dl d USING (doc_id)
           CROSS JOIN n
           WHERE p.term IN ('scan', 'dup')),
         m AS (SELECT doc_id, CAST(sum(nanos) AS BIGINT) AS nanos
               FROM contrib GROUP BY doc_id)
         SELECT doc_id, CAST(nanos AS DOUBLE) / 1e9 AS score
         FROM m ORDER BY nanos DESC, doc_id LIMIT 20"""),
    QuerySpec("q_hard_negatives", (s, dir) =>
      // retrieval-training hard negatives: the BM25 top-20 for the query
      // EXCLUDING the labeled positives (the src0 docs) — the anti-join
      // runs BEFORE the top-k cut so positives free slots for the
      // next-best negatives; positives broadcast, probe stays
      // postings-bucket-pruned
      graft.operators.Search.searchBM25HardNegatives(s,
        searchStoreFor(s, dir), Seq("scan", "dup"),
        rd(s, dir, "documents").filter(col("source") === "src0"),
        "doc_id", k = 20),
      // the BM25 chain with the labeled-positive exclusion BEFORE the top-k
      // cut — q_bm25's oracle plus one NOT IN
      """WITH post AS (
           SELECT doc_id, t AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY doc_id, t),
         dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                FROM post GROUP BY doc_id),
         n AS (SELECT count(*) AS nd,
                 (SELECT CAST(sum(tf) AS DOUBLE) FROM post) / count(*)
                   AS avgdl
               FROM documents),
         w AS (SELECT term, count(*) AS df FROM post GROUP BY term),
         contrib AS (
           SELECT p.doc_id,
             CAST(round(ln(1.0 + (nd - df + 0.5) / (df + 0.5))
               * (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75) + 1.2 * 0.75 * d.dl / avgdl)
               * 1e9) AS BIGINT) AS nanos
           FROM post p JOIN w USING (term) JOIN dl d USING (doc_id)
           CROSS JOIN n
           WHERE p.term IN ('scan', 'dup')),
         m AS (SELECT doc_id, CAST(sum(nanos) AS BIGINT) AS nanos
               FROM contrib GROUP BY doc_id)
         SELECT doc_id, CAST(nanos AS DOUBLE) / 1e9 AS score
         FROM m
         WHERE doc_id NOT IN
           (SELECT doc_id FROM documents WHERE source = 'src0')
         ORDER BY nanos DESC, doc_id LIMIT 20"""),
    QuerySpec("q_hybrid_search", (s, dir) =>
      // two-tower retrieval fusion: BM25 text leg + cosine vector leg
      // (query = the corpus's own vector 0, broadcast in-plan), fused by
      // Reciprocal Rank Fusion 1/(60+rank) — integer ranks from both
      // already-oracle-pinned orderings, so the fused doubles are
      // engine-identical without rounding
      graft.operators.Search.hybridSearchRRF(s, searchStoreFor(s, dir),
        Seq("scan", "dup"), rd(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 20),
      // RRF fusion of the two leg rankings (same BM25 CTE chain; cosine vs
      // the corpus's vector 0, round-6 like CosineTopkOracle); integer ranks
      // -> 1.0/(60+rank) doubles are engine-identical
      """WITH post AS (
           SELECT doc_id, t AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '\s+')) AS t
             FROM documents)
           WHERE len(t) > 0 GROUP BY doc_id, t),
         dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
                FROM post GROUP BY doc_id),
         n AS (SELECT count(*) AS nd,
                 (SELECT CAST(sum(tf) AS DOUBLE) FROM post) / count(*)
                   AS avgdl
               FROM documents),
         w AS (SELECT term, count(*) AS df FROM post GROUP BY term),
         contrib AS (
           SELECT p.doc_id,
             CAST(round(ln(1.0 + (nd - df + 0.5) / (df + 0.5))
               * (p.tf * (1.2 + 1))
               / (p.tf + 1.2 * (1 - 0.75) + 1.2 * 0.75 * d.dl / avgdl)
               * 1e9) AS BIGINT) AS nanos
           FROM post p JOIN w USING (term) JOIN dl d USING (doc_id)
           CROSS JOIN n
           WHERE p.term IN ('scan', 'dup')),
         m AS (SELECT doc_id, CAST(sum(nanos) AS BIGINT) AS nanos
               FROM contrib GROUP BY doc_id),
         tr AS (
           SELECT doc_id, rt FROM (
             SELECT doc_id, row_number() OVER (ORDER BY nanos DESC, doc_id)
               AS rt FROM m)
           WHERE rt <= 100),
         vr AS (
           SELECT doc_id, rv FROM (
             SELECT c.vec_id AS doc_id, row_number() OVER (ORDER BY
               round(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                     CAST(c.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                     CAST(q.embedding AS DOUBLE[])))), 6) DESC,
               c.vec_id) AS rv
             FROM embeddings c JOIN embeddings q
               ON q.vec_id = 0 AND c.vec_id != 0)
           WHERE rv <= 100)
         SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id,
           coalesce(1.0 / (60 + rt), 0.0) + coalesce(1.0 / (60 + rv), 0.0)
             AS rrf
         FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20"""),
    QuerySpec("q_search_phrase", (s, dir) =>
      // exact-phrase probe against the POSITIONAL index: consecutive
      // positions via an array-intersect fold over shifted posting lists —
      // a capability the tf index cannot express (bag-of-words conjunction
      // would also match 'column ... stream' reversals)
      graft.operators.Search.searchPhrase(s, posStoreFor(s, dir),
        Seq("stream", "column"), 20),
      // exact phrase: per (doc, term) sorted position lists (DuckDB lambda
      // index is 1-based → pos = i − 1 matches Spark's 0-based posexplode);
      // occurrences = |pos(t0) ∩ (pos(t1) − 1)|
      """WITH post AS (
           SELECT doc_id, u['t'] AS term, u['p'] AS pos FROM (
             SELECT doc_id, unnest(list_transform(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               '\s+'), (x, i) -> {'t': x, 'p': i - 1})) AS u
             FROM documents)
           WHERE len(u['t']) > 0),
         pos AS (
           SELECT doc_id, term, list_sort(list(pos)) AS ps
           FROM post GROUP BY doc_id, term),
         a0 AS (SELECT doc_id, ps AS p0 FROM pos WHERE term = 'stream'),
         a1 AS (SELECT doc_id, ps AS p1 FROM pos WHERE term = 'column'),
         m AS (
           SELECT a0.doc_id,
             len(list_intersect(p0, list_transform(p1, x -> x - 1)))
               AS phrase_count
           FROM a0 JOIN a1 USING (doc_id))
         SELECT doc_id, CAST(phrase_count AS BIGINT) AS phrase_count
         FROM m WHERE phrase_count > 0
         ORDER BY phrase_count DESC, doc_id LIMIT 20"""),
    QuerySpec("q_link_extract", (s, dir) => {
      // anchor-href extraction over synthetic linked pages (round 18):
      // every href surfaces with its position and lowercased host —
      // including the relative href, whose empty host downstream edge
      // building must filter. Pure codegen'd regex projection + explode
      plantLinkedPages(rd(s, dir, "documents"))
        .select(col("doc_id"),
          posexplode(LinkGraph.extractHrefs(col("html")))
            .as(Seq("link_no", "url")))
        .select(col("doc_id"), col("link_no").cast(LongType), col("url"),
          TextAnalysis.urlHost(col("url")).as("dst_host"))
        .orderBy("doc_id", "link_no")
    },
      // anchor extraction replay: identical plant, identical RE2 patterns;
      // link_no from the 1-based lambda index (Spark's posexplode is 0-based)
      s"""WITH $LinkPagesSql,
         post AS (
           SELECT doc_id, u['no'] AS link_no, u['url'] AS url FROM (
             SELECT doc_id, unnest(list_transform(
               regexp_extract_all(html, '$HrefPatternSql', 1),
               (x, i) -> {'no': i - 1, 'url': x})) AS u
             FROM pages))
         SELECT doc_id, CAST(link_no AS BIGINT) AS link_no, url,
           lower(regexp_extract(url, '$HostPatternSql', 1)) AS dst_host
         FROM post ORDER BY doc_id, link_no"""),
    QuerySpec("q_host_graph", (s, dir) =>
      // host-level link edges: hostless hrefs and self-loops dropped,
      // (src, dst) pair counts map-side combined — the crawl-graph
      // aggregation a web corpus ranks hosts with
      LinkGraph.hostEdges(plantLinkedPages(rd(s, dir, "documents")),
          "src_host", "html")
        .orderBy("src_host", "dst_host"),
      s"""WITH $LinkPagesSql,
         links AS (
           SELECT src_host,
             unnest(regexp_extract_all(html, '$HrefPatternSql', 1)) AS url
           FROM pages),
         e0 AS (
           SELECT src_host,
             lower(regexp_extract(url, '$HostPatternSql', 1)) AS dst_host
           FROM links)
         SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
         FROM e0 WHERE dst_host <> '' AND dst_host <> src_host
         GROUP BY 1, 2 ORDER BY src_host, dst_host"""),
    QuerySpec("q_host_rank", (s, dir) =>
      // 3-iteration weighted PageRank in exact integer nanos (d = 17/20):
      // hubs and the portal accumulate authority from the source hosts,
      // which stay at the dangling base — the oracle unrolls the SAME
      // three iterations in SQL (floor division ≡ div on non-negatives),
      // so every rank matches bit-for-bit
      LinkGraph.pageRankHosts(
          LinkGraph.hostEdges(plantLinkedPages(rd(s, dir, "documents")),
            "src_host", "html"),
          iterations = 3)
        .orderBy("host"), hostRankOracleSql(3)),
    QuerySpec("q_host_rank_dangling", (s, dir) =>
      // the full random-surfer model: hub/portal sinks' rank mass is
      // redistributed uniformly each iteration (D_t from one hosts-sized
      // anti-join aggregate, broadcast back) instead of leaking — total
      // mass conserved up to floor residue, ranks comparable across
      // graphs; same exact-integer unroll, oracle replays every iteration
      LinkGraph.pageRankHostsDangling(
          LinkGraph.hostEdges(plantLinkedPages(rd(s, dir, "documents")),
            "src_host", "html"),
          iterations = 3)
        .orderBy("host"), hostRankDanglingOracleSql(3)),
    QuerySpec("q_rank_convergence", (s, dir) =>
      // the stopping-evidence report: per-iteration dangling inflow and
      // L1 rank delta, exact integer nanos — callers read the decay curve
      // to pick `iterations` instead of guessing
      LinkGraph.pageRankDanglingReport(
          LinkGraph.hostEdges(plantLinkedPages(rd(s, dir, "documents")),
            "src_host", "html"),
          iterations = 3), rankConvergenceOracleSql(3)),
    QuerySpec("q_anchor_text", (s, dir) =>
      // anchor-text postings by target host — the retrieval-corpus mining
      // signal (anchor text ≈ human queries for the target page). Two
      // positional regex passes zipped, self-loops KEPT (text is content,
      // not endorsement), hostless/blank rows dropped
      LinkGraph.anchorTexts(plantLinkedPages(rd(s, dir, "documents")), "html")
        .orderBy("dst_host", "anchor"),
      // anchor-text replay: the same two-group pattern, lists zipped
      // positionally (numeric struct indexes — DuckDB list_zip structs are
      // unnamed), self-loops kept by construction
      s"""WITH $LinkPagesSql,
         a AS (
           SELECT unnest(list_zip(
             regexp_extract_all(html, '$AnchorPairSql', 1),
             regexp_extract_all(html, '$AnchorPairSql', 2))) AS z
           FROM pages),
         t AS (
           SELECT lower(regexp_extract(z[1], '$HostPatternSql', 1))
                    AS dst_host,
                  trim(lower(z[2])) AS anchor
           FROM a)
         SELECT dst_host, anchor, CAST(count(*) AS BIGINT) AS n
         FROM t WHERE dst_host <> '' AND anchor <> ''
         GROUP BY 1, 2 ORDER BY dst_host, anchor"""),
    QuerySpec("q_ndcg", (s, dir) => {
      // nDCG@10 of the quality ranking against length-derived graded
      // relevance (quartile thresholds as literals): exact integer DCG/IDCG
      // dot products over nanos-fixed discounts, ONE division at the end
      import org.apache.spark.sql.expressions.Window
      val sc = rd(s, dir, "documents").select(col("source"), col("doc_id"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("__qs"),
        col("n_chars"))
      val wA = Window.partitionBy("source")
        .orderBy(col("__qs").desc, col("doc_id").asc)
      val ranked = sc.select(col("source"), col("doc_id"),
        row_number().over(wA).as("rnk"),
        when(col("n_chars") >= 420, 3L).when(col("n_chars") >= 300, 2L)
          .when(col("n_chars") >= 180, 1L).otherwise(0L).as("rel"))
      graft.operators.Profiling.ndcgAtK(ranked, "source", "doc_id", "rnk",
        "rel", k = 10)
    }, ndcgOracleSql(10)),
    QuerySpec("q_rbo", (s, dir) => {
      // rank-biased overlap between two per-source top-10 rankings (quality
      // ranker vs naive length ranker): per-item W(max(ra,rb)) weights in
      // integer nanos, one (source, doc) equi-join + one hash aggregate —
      // cost ∝ groups·k, never corpus-sized
      import org.apache.spark.sql.expressions.Window
      val sc = rd(s, dir, "documents").select(col("source"), col("doc_id"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("__qs"),
        col("n_chars"))
      val wA = Window.partitionBy("source")
        .orderBy(col("__qs").desc, col("doc_id").asc)
      val wB = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      graft.operators.Profiling.rankRbo(
        sc.select(col("source"), col("doc_id"),
          row_number().over(wA).as("rnk")),
        sc.select(col("source"), col("doc_id"),
          row_number().over(wB).as("rnk")),
        "source", "doc_id", "rnk", k = 10, p = 0.9)
    }, rboOracleSql(10, 0.9))
  )

  /** the synthetic LINKED web pages shared by the q_link_extract /
    * q_host_graph / q_host_rank family (and replicated verbatim by their
    * oracles): each doc's page links to a hub host keyed by doc_id mod 5,
    * carries a RELATIVE href (no host — must be filtered by the edge
    * builder), and links to portal.example (even ids) or its OWN host
    * (odd ids — a self-loop the edge builder must drop). */
  private def plantLinkedPages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("source"), lit(".example")).as("src_host"),
      concat(
        lit("<html><body><p>"), col("text"),
        lit("</p><a href=\"https://hub"), pmod(col("doc_id"), lit(5)),
        lit(".example/p/"), col("doc_id"),
        lit("\">h</a> <a href=\"/relative/skip\">r</a><a href=\"https://"),
        when(col("doc_id") % 2 === 0, lit("portal.example"))
          .otherwise(concat(col("source"), lit(".example"))),
        lit("/x\">p</a></body></html>")).as("html"))

  /** generated RBO oracle: the k weight nanos and the normalizer come from
    * the SAME Profiling.rboWeightsNanos/rboScale the operator uses, so both
    * engines sum identical integers (the pqChainSql literal pattern). */
  private def rboOracleSql(k: Int, p: Double): String = {
    val wts = graft.operators.Profiling.rboWeightsNanos(k, p).zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    val scale = graft.operators.Profiling.rboScale(k, p)
    s"""WITH qx AS (
         SELECT doc_id, source, n_chars, text,
           CAST(length(text) AS DOUBLE) AS n,
           round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               t -> list_contains(['the','a','an','of','to','and','in','is','it','that'], t)))
             / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS sr
         FROM documents),
       sc AS (
         SELECT doc_id, source, n_chars, round((
             CASE WHEN n >= 100 AND n <= 10000 THEN 1.0
                  WHEN n >= 20 THEN 0.5 ELSE 0.0 END
           + CASE WHEN sr > 0.05 THEN 1.0 ELSE 0.0 END
           + CASE WHEN (n - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / n <= 0.2
                  THEN 1.0 ELSE 0.0 END) / 3.0, 6) AS quality
         FROM qx),
       ra AS (SELECT source, doc_id, row_number() OVER (
                PARTITION BY source ORDER BY quality DESC, doc_id) AS r
              FROM sc),
       rb AS (SELECT source, doc_id, row_number() OVER (
                PARTITION BY source ORDER BY n_chars DESC, doc_id) AS r
              FROM sc),
       wts(m, wn) AS (VALUES $wts),
       j AS (SELECT ra.source, greatest(ra.r, rb.r) AS mx
             FROM ra JOIN rb ON ra.source = rb.source
               AND ra.doc_id = rb.doc_id
             WHERE ra.r <= $k AND rb.r <= $k),
       agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_overlap,
                 sum(wn) AS sn
               FROM j JOIN wts ON wts.m = j.mx GROUP BY source),
       gs AS (SELECT DISTINCT source FROM sc)
       SELECT gs.source, coalesce(n_overlap, 0) AS n_overlap,
         round(coalesce(sn, 0) / 1e9 * CAST($scale AS DOUBLE), 6) AS rbo
       FROM gs LEFT JOIN agg USING (source) ORDER BY source"""
  }

  /** generated nDCG oracle: position discounts from the SAME
    * Profiling.ndcgDiscountsNanos the operator uses (the rboOracleSql
    * pattern); grades + quality ranking replicated from verified
    * fragments. */
  private def ndcgOracleSql(k: Int): String = {
    val disc = graft.operators.Profiling.ndcgDiscountsNanos(k).zipWithIndex
      .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
    s"""WITH qx AS (
         SELECT doc_id, source, n_chars, text,
           CAST(length(text) AS DOUBLE) AS n,
           round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               t -> list_contains(['the','a','an','of','to','and','in','is','it','that'], t)))
             / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS sr
         FROM documents),
       sc AS (
         SELECT doc_id, source, n_chars, round((
             CASE WHEN n >= 100 AND n <= 10000 THEN 1.0
                  WHEN n >= 20 THEN 0.5 ELSE 0.0 END
           + CASE WHEN sr > 0.05 THEN 1.0 ELSE 0.0 END
           + CASE WHEN (n - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / n <= 0.2
                  THEN 1.0 ELSE 0.0 END) / 3.0, 6) AS quality
         FROM qx),
       ra AS (SELECT source, doc_id, n_chars, row_number() OVER (
                PARTITION BY source ORDER BY quality DESC, doc_id) AS r
              FROM sc),
       g AS (SELECT source, r,
               CASE WHEN n_chars >= 420 THEN 3
                    WHEN n_chars >= 300 THEN 2
                    WHEN n_chars >= 180 THEN 1 ELSE 0 END AS rel
             FROM ra),
       gg AS (SELECT source, r,
                (CAST(1 AS BIGINT) << rel) - 1 AS gain,
                row_number() OVER (PARTITION BY source
                  ORDER BY rel DESC, r) AS ir
              FROM g),
       disc(m, dn) AS (VALUES $disc),
       t AS (SELECT gg.source,
               coalesce(CASE WHEN gg.r <= $k THEN gg.gain * d1.dn END, 0)
                 AS dcg_t,
               coalesce(CASE WHEN gg.ir <= $k THEN gg.gain * d2.dn END, 0)
                 AS idcg_t
             FROM gg LEFT JOIN disc d1 ON d1.m = gg.r
             LEFT JOIN disc d2 ON d2.m = gg.ir),
       agg AS (SELECT source, sum(dcg_t) AS dcg, sum(idcg_t) AS idcg
               FROM t GROUP BY source)
       SELECT source, CASE WHEN idcg = 0 THEN NULL
         ELSE round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) END
         AS ndcg
       FROM agg ORDER BY source"""
  }

  /** the linked-pages synthesis + href/host regexes shared by the three
    * q_link_* / q_host_* oracles — one definition so the plant and its
    * replays cannot drift apart one-sidedly. */
  private val LinkPagesSql: String =
    """pages AS (
         SELECT doc_id, source || '.example' AS src_host,
           '<html><body><p>' || text || '</p><a href="https://hub' ||
           (doc_id % 5) || '.example/p/' || doc_id ||
           '">h</a> <a href="/relative/skip">r</a><a href="https://' ||
           CASE WHEN doc_id % 2 = 0 THEN 'portal.example'
                ELSE source || '.example' END ||
           '/x">p</a></body></html>' AS html
         FROM documents)"""
  private val HrefPatternSql = """(?is)<a\s[^>]*?href\s*=\s*"([^"]*)""""
  private val HostPatternSql = """^https?://([^/:?#]+)"""
  private val AnchorPairSql =
    """(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>"""

  /** q_host_rank's oracle: the SAME fixed-iteration integer-nanos PageRank
    * unrolled in SQL — `//` (DuckDB floor division) ≡ Spark `div` on the
    * non-negative ranks, N computed by the oracle itself, no generated
    * literals. */
  private def hostRankOracleSql(iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      val prev = if (k == 1) "r0" else s"it${k - 1}"
      s"""it$k AS (
           SELECT nd.host,
             (3000000000 // (20 * p.n)) +
               (17 * coalesce(s.sm, CAST(0 AS BIGINT))) // 20 AS rank_nanos
           FROM nodes nd CROSS JOIN params p
           LEFT JOIN (
             SELECT e.dst_host AS host,
               sum((r.rank_nanos * e.n_links) // o.outn) AS sm
             FROM e JOIN out_t o USING (src_host)
                    JOIN $prev r ON r.host = e.src_host
             GROUP BY 1) s ON s.host = nd.host)"""
    }.mkString(", ")
    s"""WITH $LinkPagesSql,
       links AS (
         SELECT src_host,
           unnest(regexp_extract_all(html, '$HrefPatternSql', 1)) AS url
         FROM pages),
       e0 AS (
         SELECT src_host,
           lower(regexp_extract(url, '$HostPatternSql', 1)) AS dst_host
         FROM links),
       e AS (
         SELECT src_host, dst_host, count(*) AS n_links
         FROM e0 WHERE dst_host <> '' AND dst_host <> src_host
         GROUP BY 1, 2),
       out_t AS (SELECT src_host, sum(n_links) AS outn FROM e GROUP BY 1),
       nodes AS (SELECT DISTINCT host FROM (
         SELECT src_host AS host FROM e
         UNION ALL SELECT dst_host FROM e)),
       params AS (SELECT count(*) AS n FROM nodes),
       r0 AS (SELECT host, 1000000000 // p.n AS rank_nanos
              FROM nodes CROSS JOIN params p),
       $steps
       SELECT host, CAST(rank_nanos AS BIGINT) AS rank_nanos
       FROM it$iterations ORDER BY host"""
  }

  /** the dangling-variant CTE chain shared by q_host_rank_dangling and
    * q_rank_convergence: each iteration k gets a dg$k scalar (the previous
    * ranks' mass on hosts with no out-edge) redistributed uniformly —
    * `(17·dm) // (20·n)` per node, the same integer floor the Spark plan
    * takes — so ranks AND the per-iteration report replay bit-for-bit. */
  private def hostRankDanglingCtes(iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      val prev = if (k == 1) "r0" else s"it${k - 1}"
      s"""dg$k AS (
           SELECT CAST(coalesce(sum(rank_nanos), 0) AS BIGINT) AS dm
           FROM $prev r
           WHERE r.host NOT IN (SELECT src_host FROM out_t)),
         it$k AS (
           SELECT nd.host,
             (3000000000 // (20 * p.n)) +
               (17 * coalesce(s.sm, CAST(0 AS BIGINT))) // 20 +
               (17 * d.dm) // (20 * p.n) AS rank_nanos
           FROM nodes nd CROSS JOIN params p CROSS JOIN dg$k d
           LEFT JOIN (
             SELECT e.dst_host AS host,
               sum((r.rank_nanos * e.n_links) // o.outn) AS sm
             FROM e JOIN out_t o USING (src_host)
                    JOIN $prev r ON r.host = e.src_host
             GROUP BY 1) s ON s.host = nd.host)"""
    }.mkString(", ")
    s"""WITH $LinkPagesSql,
       links AS (
         SELECT src_host,
           unnest(regexp_extract_all(html, '$HrefPatternSql', 1)) AS url
         FROM pages),
       e0 AS (
         SELECT src_host,
           lower(regexp_extract(url, '$HostPatternSql', 1)) AS dst_host
         FROM links),
       e AS (
         SELECT src_host, dst_host, count(*) AS n_links
         FROM e0 WHERE dst_host <> '' AND dst_host <> src_host
         GROUP BY 1, 2),
       out_t AS (SELECT src_host, sum(n_links) AS outn FROM e GROUP BY 1),
       nodes AS (SELECT DISTINCT host FROM (
         SELECT src_host AS host FROM e
         UNION ALL SELECT dst_host FROM e)),
       params AS (SELECT count(*) AS n FROM nodes),
       r0 AS (SELECT host, 1000000000 // p.n AS rank_nanos
              FROM nodes CROSS JOIN params p),
       $steps"""
  }

  private def hostRankDanglingOracleSql(iterations: Int): String =
    s"""${hostRankDanglingCtes(iterations)}
       SELECT host, CAST(rank_nanos AS BIGINT) AS rank_nanos
       FROM it$iterations ORDER BY host"""

  private def rankConvergenceOracleSql(iterations: Int): String = {
    val rows = (1 to iterations).map { k =>
      val prev = if (k == 1) "r0" else s"it${k - 1}"
      s"""SELECT CAST($k AS BIGINT) AS iteration,
           (SELECT dm FROM dg$k) AS dangling_in_nanos,
           CAST((SELECT sum(abs(a.rank_nanos - b.rank_nanos))
                 FROM it$k a JOIN $prev b USING (host)) AS BIGINT)
             AS l1_delta_nanos"""
    }.mkString(" UNION ALL ")
    s"""${hostRankDanglingCtes(iterations)}
       SELECT * FROM ($rows) ORDER BY iteration"""
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.StoreSpec
import graft.sources.StoreSpec.Table

/** [EXT] Inverted-index keyword search over the corpus — the text-retrieval
  * sibling of the embedding ANN stores. At 100 TB a keyword lookup must not
  * scan the corpus: the index persists postings (term, doc_id, tf) BUCKETED
  * BY TERM, so a query's scan touches only the query terms' buckets (the
  * writeMinhashStore/writeInt8Store store-family pattern applied to text),
  * and ranking stays in integer term-frequency space so results are
  * deterministic and oracle-replicable.
  *
  * Build: one explode + one (term, doc) hash aggregate — the postings shape
  * every dedup operator here already uses — plus a per-term doc-freq table
  * (for stop-term pruning / IDF-style reweighting downstream). Appends for
  * new batches ride the same bucketed-append + compactBucketed maintenance
  * story as the dedup stores.
  */
object Search {

  /** per-doc token arrays (normalized, empty tokens dropped) — shared by
    * the postings build and the corpus-stats aggregate so dl and tf can
    * never disagree on tokenization. */
  private def tokensOf(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      filter(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
        t => length(t) > 0).as("__toks"))

  /** postings of a [[tokensOf]] frame. They carry the DOC LENGTH
    * denormalized into every row (Lucene stores norms in a separate
    * doc-keyed file; an impact-style index inlines them) — 8 bytes/posting
    * buys BM25 probes that touch ONLY the query terms' buckets, with no
    * corpus-sized doc-norms join. */
  private def postingsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))

  /** the inverted index: `store`_postings (term, doc_id, tf, dl, __batch)
    * and `store`_terms (term, df, __batch), both bucketed by term; the
    * batch is a postings frame. The postings table carries the kind and
    * the BM25 corpus stats. */
  private def indexStore(store: String): StoreSpec =
    StoreSpec(store, Map("kind" -> "inverted_index"),
      Seq(Table("_postings", "term", identity, tagged = true),
        Table("_terms", "term",
          _.groupBy("term").agg(count(lit(1)).as("df")), tagged = true)))

  /** persist the inverted index for `df` ([[indexStore]]); readers never
    * select `__batch`. */
  def writeInvertedIndex(df: DataFrame, idCol: String, textCol: String,
                         store: String, nBuckets: Int = 64): Unit = {
    val toks = tokensOf(df, idCol, textCol)
    // materialize the postings once: both table writes consume them
    val posts = postingsOf(toks).localCheckpoint()
    // corpus stats for BM25 length normalization (docCount incl. token-less
    // docs, total token count) — two exact longs in table properties, so a
    // probe never scans the corpus (or the full postings) to learn avgdl
    val (docCount, totalDl) = corpusStats(toks)
    indexStore(store).create(posts, nBuckets,
      Map("docCount" -> docCount, "totalDl" -> totalDl))
  }

  /** (docCount, total token count) over per-doc token arrays, in ONE job:
    * an RDD fold needs no exchange, where a global aggregate under AQE runs
    * its shuffle stage as a second job. */
  private def corpusStats(toks: DataFrame): (Long, Long) =
    toks.select(coalesce(size(col("__toks")), lit(0)).cast("long")).rdd
      .map(_.getLong(0))
      .aggregate((0L, 0L))((acc, dl) => (acc._1 + 1, acc._2 + dl),
        (a, b) => (a._1 + b._1, a._2 + b._2))

  /** append a NEW batch's postings to an existing index — per-batch
    * bucketed APPENDS (never a rewrite; one file per bucket per batch,
    * collapsed by `Sources.compactBucketed` in the maintenance window).
    * Contract (same as every store append here): the batch's doc ids are
    * NEW — re-appending a doc double-counts its term frequencies. The terms
    * table accretes per-batch (term, df) rows; doc-freq readers SUM by
    * term, which is exact because batches are disjoint doc sets.
    *
    * `batchId ≥ 0` makes the append exactly-once per table through
    * [[graft.sources.StoreTable.appendOnce]] (its scaladoc states the crash
    * contract): a redelivered batch can never double-count tf/df, and a
    * crash BETWEEN the postings and terms appends recovers exactly. Default
    * −1 appends un-probed; pre-`__batch` stores append untagged.
    *
    * Torn-window READ semantics (crash between the postings and terms
    * appends, before the replay): batch-N docs are already visible to the
    * postings probes — [[searchAll]]/[[searchAny]] exactly, and
    * [[searchWeighted]] with STALE weights: a term new in batch N has no
    * terms row yet, so its postings drop out of the weight join and
    * contribute 0; a pre-existing term keeps its pre-batch doc-freq, so
    * `docCount div df` is overstated until replay. Never a crash or a
    * phantom doc — a bounded, replay-converging staleness (tested in
    * OperatorsSpec "partial crashes recover"). */
  def appendInvertedIndex(df: DataFrame, idCol: String, textCol: String,
                          store: String, batchId: Long = -1L): Unit = {
    val spark = df.sparkSession
    val spec = indexStore(store)
    // one token frame feeds both tables' postings and the corpus stats.
    // Pinning it costs more jobs than re-tokenizing (measured: a checkpoint
    // adds one to the append and to a replay, a cache two to the append)
    val toks = tokensOf(df, idCol, textCol)
    // roll the BM25 corpus stats forward only when the postings append ran
    // (a replayed batch must not double-count). The property write follows
    // the append commit, so a crash between them leaves stats stale by one
    // batch — the same bounded, replay-NON-converging staleness class as
    // the torn terms window above, except healing requires a rebuild (a
    // later batch adds only its own stats); avgdl drifts by one batch's
    // tokens, which perturbs BM25 scores marginally and never correctness
    // of membership.
    if (spec.appendOnce(postingsOf(toks), batchId)) {
      val props = spec.props(spark)
      props.get("docCount").foreach { dc =>
        val (docCount, totalDl) = corpusStats(toks)
        spec.setProps(spark, Map("docCount" -> (dc.toLong + docCount),
          "totalDl" -> (props("totalDl").toLong + totalDl)))
      }
    }
  }

  /** per-term corpus doc frequency from the accreted terms table (SUM over
    * per-batch rows — exact under the disjoint-batch append contract). */
  def termDocFreq(spark: SparkSession, store: String): DataFrame =
    spark.table(s"${store}_terms").groupBy("term")
      .agg(sum("df").as("df"))

  /** positional index: per (term, doc) the sorted token-position list —
    * what exact-phrase search needs. Separate table from the tf postings
    * (phrase probes pay for positions only when they ask for them); same
    * bucketing-by-term layout and metadata contract. */
  def writePositionalIndex(df: DataFrame, idCol: String, textCol: String,
                           store: String, nBuckets: Int = 64): Unit = {
    val posts = df
      .select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
          .as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    positionalStore(store).create(posts, nBuckets)
  }

  private def positionalStore(store: String): StoreSpec =
    StoreSpec(store, Map("kind" -> "positional_index"),
      Seq(Table("_pos", "term", identity)))

  /** exact-PHRASE search against a [[writePositionalIndex]] store: the
    * phrase's terms must appear at consecutive positions. Candidate scan =
    * the phrase terms' buckets only (same pruned shape as the tf probes);
    * per doc, phrase occurrences = |positions(t₀) ∩ (positions(t₁)−1) ∩ …
    * ∩ (positions(tₙ)−n)| — an array-intersect fold over query-sized
    * shifted position lists, one codegen'd projection after an n-way
    * doc-keyed join of query-sized posting slices. Ranked by occurrence
    * count, id ties. Duplicate terms in the phrase join the same posting
    * slice twice (self-adjacent phrases work). */
  def searchPhrase(spark: SparkSession, store: String, phrase: Seq[String],
                   k: Int): DataFrame = {
    require(phrase.length >= 2, "searchPhrase: need at least a 2-term phrase")
    positionalStore(store).check(spark)
    val norm = phrase.map(_.toLowerCase)
    val pos = spark.table(s"${store}_pos")
      .filter(col("term").isin(norm.distinct: _*))
    val joined = norm.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"__p$i"))
    }.reduce((a, b) => a.join(b, Seq("doc_id")))
    val matched = norm.indices.map { i =>
      if (i == 0) col("__p0")
      else transform(col(s"__p$i"), p => p - i)
    }.reduce(array_intersect)
    joined
      .select(col("doc_id"), size(matched).cast("long").as("phrase_count"))
      .filter(col("phrase_count") > 0)
      .orderBy(desc("phrase_count"), col("doc_id"))
      .limit(k)
  }

  /** conjunctive (every term must match) keyword search against a
    * [[writeInvertedIndex]] store: read ONLY the query terms' postings (a
    * literal IN filter on the bucket column — bucket-prunable, row-group-
    * prunable), one hash aggregate per doc, keep docs matching all terms,
    * rank by total term frequency with id ties. Query cost scales with the
    * query terms' posting lists, never the corpus. */
  def searchAll(spark: SparkSession, store: String, terms: Seq[String],
                k: Int): DataFrame = {
    require(terms.nonEmpty, "searchAll: empty term list")
    indexStore(store).check(spark)
    val norm = terms.map(_.toLowerCase).distinct
    spark.table(s"${store}_postings")
      .filter(col("term").isin(norm: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("__matched"), sum("tf").as("total_tf"))
      .filter(col("__matched") === norm.length)
      .orderBy(desc("total_tf"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("total_tf"))
  }

  /** rare-term-weighted disjunctive search: score = Σ_t tf_t · (N div
    * df_t), an INTEGER idf surrogate — floor(N/df) weights rare terms like
    * ln(N/df) does directionally, but stays in exact integer space so the
    * ranking is deterministic and oracle-replicable (ln-based idf differs
    * in ulps across engines and flips marginal ranks). Term doc-freqs come
    * from the store's accreted terms table ([[termDocFreq]], broadcast —
    * the filtered weight side is query-terms-sized); `docCount` is the
    * corpus size the index was built over. Same bucket-pruned postings
    * scan as the other probes. */
  def searchWeighted(spark: SparkSession, store: String, terms: Seq[String],
                     k: Int, docCount: Long): DataFrame = {
    require(terms.nonEmpty, "searchWeighted: empty term list")
    require(docCount > 0, s"searchWeighted: docCount must be > 0, got $docCount")
    indexStore(store).check(spark)
    val norm = terms.map(_.toLowerCase).distinct
    val weights = termDocFreq(spark, store)
      .filter(col("term").isin(norm: _*))
      .withColumn("__w", expr(s"${docCount}L div df"))
    spark.table(s"${store}_postings")
      .filter(col("term").isin(norm: _*))
      .join(broadcast(weights.select(col("term"), col("__w"))), Seq("term"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("__w")).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score"))
  }

  /** Okapi BM25 ranking against a [[writeInvertedIndex]] store — the
    * standard retrieval scorer (Robertson/Spärck Jones; Lucene's default
    * similarity), with the Lucene-style non-negative idf
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`. Same bucket-pruned scan as the
    * other probes: postings carry `dl` inline, so the only non-postings
    * input is the query-terms-sized broadcast weight side; `N`/`avgdl`
    * come from the store's build-time properties, never a corpus scan.
    *
    * Float determinism (the q_unigram_lm nanos doctrine): each per-
    * (term, doc) contribution is computed in double with a FIXED operand
    * order, rounded to integer NANOS, and the per-doc reduction sums
    * longs — exact and order-independent, so ranking can't flip on
    * partition-order float addition. The oracle mirrors the identical
    * expression shape; constant subexpressions are written symbolically
    * (`k1·(1−b)`, not `0.3`) so both engines fold the same doubles.
    *
    * This is the shared scoring leg — (doc_id, __nanos) over the query
    * terms' postings buckets, pre-ranking: [[searchBM25]] cuts top-k
    * directly; [[searchBM25HardNegatives]] anti-joins the labeled
    * positives first. */
  private def bm25Nanos(spark: SparkSession, store: String,
                        terms: Seq[String], k1: Double,
                        b: Double): DataFrame = {
    require(terms.nonEmpty, "searchBM25: empty term list")
    indexStore(store).check(spark)
    val props = indexStore(store).props(spark)
    def stat(name: String) = props.getOrElse(name,
      sys.error(s"$store: no graft.$name property — a pre-BM25 index; " +
        "rebuild with writeInvertedIndex to record corpus stats")).toLong
    val n = stat("docCount")
    require(n > 0, s"searchBM25: $store was built over an empty corpus")
    val avgdl = stat("totalDl").toDouble / n
    val norm = terms.map(_.toLowerCase).distinct
    val weights = termDocFreq(spark, store)
      .filter(col("term").isin(norm: _*))
      .withColumn("__idf",
        log(lit(1.0) +
          (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    spark.table(s"${store}_postings")
      .filter(col("term").isin(norm: _*))
      .join(broadcast(weights.select(col("term"), col("__idf"))), Seq("term"))
      .withColumn("__nanos",
        round(col("__idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1 * (1 - b)) + lit(k1 * b) * col("dl") / lit(avgdl))
          * lit(1e9)).cast("long"))
      .groupBy("doc_id")
      .agg(sum("__nanos").as("__nanos"))
  }

  def searchBM25(spark: SparkSession, store: String, terms: Seq[String],
                 k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Nanos(spark, store, terms, k1, b)
      .orderBy(desc("__nanos"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        (col("__nanos").cast("double") / lit(1e9)).as("score"))

  /** HARD-NEGATIVE mining for retrieval training (DPR / sentence-encoder
    * recipes): the top-k BM25 matches for the query EXCLUDING the labeled
    * positives — lexically similar non-relevant docs, the negatives that
    * actually teach a dual encoder something (random negatives are too
    * easy). The anti-join runs BEFORE the top-k cut, so positives inside
    * the raw top-k free slots for the next-best negatives rather than
    * silently shrinking the result.
    *
    * Scale shape: the scoring leg reads only the query terms' postings
    * buckets (the [[searchBM25]] probe); the positives side is a labeled
    * training set — small by construction — and broadcasts into the
    * anti-join, so the probe never shuffles. */
  def searchBM25HardNegatives(spark: SparkSession, store: String,
                              terms: Seq[String], positives: DataFrame,
                              posIdCol: String, k: Int, k1: Double = 1.2,
                              b: Double = 0.75): DataFrame =
    bm25Nanos(spark, store, terms, k1, b)
      .join(broadcast(positives.select(col(posIdCol).as("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
      .orderBy(desc("__nanos"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"),
        (col("__nanos").cast("double") / lit(1e9)).as("score"))

  /** Hybrid retrieval: Reciprocal Rank Fusion (Cormack/Clarke/Büttcher) of
    * the BM25 text leg and an embedding-cosine vector leg over the same
    * id-aligned corpus — the standard two-tower retrieval fusion. Each leg
    * contributes 1/(rrfK + rank) (0 when the doc misses the leg's top
    * `kEach`); ranks are integers from already-deterministic orderings, so
    * the fused score is two fixed-order IEEE divisions plus one addition —
    * oracle-replicable without a rounding step.
    *
    * Scale shape: both legs are top-k probes (the BM25 leg reads only the
    * query terms' postings buckets; the vector leg is the brute-force
    * kernel here and swaps for the IVF/int8 store probes at corpus scale
    * — same (id, rank) contract). The rank windows and the fusion join
    * run on ≤ kEach rows per leg — bounded by the PARAMETER, never the
    * corpus, which is why the single-partition window is acceptable
    * exactly here. `queryId`'s own vector seeds the vector leg fully
    * in-plan (1-row broadcast, no driver round-trip) and is excluded from
    * its candidates. */
  def hybridSearchRRF(spark: SparkSession, store: String, terms: Seq[String],
                      emb: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, k: Int, kEach: Int = 100,
                      rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tr = searchBM25(spark, store, terms, kEach)
      .withColumn("__rt",
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))))
      .select(col("doc_id"), col("__rt"))
    // a missing query id would silently degrade the fusion to text-only,
    // and a DUPLICATED id would make first(vecCol) pick a partition-order-
    // dependent query vector (a silent determinism violation) — fail loudly
    // on both, but IN-PLAN (the former eager `require(!isEmpty)` probe cost
    // one extra Spark job per call): the global aggregate always yields
    // exactly one row, and the guarded projection raises at ACTION time
    // (SparkRuntimeException when the frame executes), not at call time —
    // callers that need the error must run the plan. raise_error NullType
    // coerces to the vector branch's array type.
    val qv = emb.filter(col(idCol) === queryId)
      .agg(count(lit(1)).as("__qn"), first(col(vecCol)).as("__qv"))
      .select(
        when(col("__qn") === 0,
          raise_error(lit(s"hybridSearchRRF: query id $queryId not found " +
            "in the embedding side")))
          .when(col("__qn") > 1,
            raise_error(lit(s"hybridSearchRRF: query id $queryId is " +
              "duplicated in the embedding side — query vector would be " +
              "partition-order-dependent")))
          .otherwise(col("__qv")).as("__q"))
    val vr = emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col(idCol).as("doc_id"),
        round(Similarity.cosine(col(vecCol), col("__q")), 6).as("__cos"))
      .orderBy(desc("__cos"), col("doc_id")).limit(kEach)
      .withColumn("__rv",
        row_number().over(Window.orderBy(desc("__cos"), col("doc_id"))))
      .select(col("doc_id"), col("__rv"))
    tr.join(vr, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("__rt")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("__rv")), lit(0.0)))
      .orderBy(desc("rrf"), col("doc_id")).limit(k)
      .select(col("doc_id"), col("rrf"))
  }

  /** disjunctive (ANY term) search: docs ranked by how many query terms
    * they contain, then total term frequency, then id — the recall-side
    * complement of [[searchAll]], same bucket-pruned scan shape. */
  def searchAny(spark: SparkSession, store: String, terms: Seq[String],
                k: Int): DataFrame = {
    require(terms.nonEmpty, "searchAny: empty term list")
    indexStore(store).check(spark)
    val norm = terms.map(_.toLowerCase).distinct
    spark.table(s"${store}_postings")
      .filter(col("term").isin(norm: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched"), sum("tf").as("total_tf"))
      .orderBy(desc("matched"), desc("total_tf"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("matched"), col("total_tf"))
  }
}

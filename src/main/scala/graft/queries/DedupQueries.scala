package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.SparkEntry.{cents, rd}
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}
import graft.queries.Offline._
import graft.queries.QuerySpec.derived
import graft.queries.SimilarityQueries.hyperplaneValues

/** The registry's dedup queries, each declared with its DuckDB oracle:
  * exact, MinHash/SimHash, embedding, chunk, span and contamination
  * dedup, batch and incremental against stores. */
object DedupQueries {

  lazy val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", (s, dir) => {
      Dedup.exactDedup(rd(s, dir, "documents"), col("text"), "doc_id")
        .select("doc_id").orderBy("doc_id")
    },
      """SELECT doc_id FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id"""),
    QuerySpec("q_dedup_fingerprint", (s, dir) => {
      val docs = rd(s, dir, "documents")
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      Dedup.exactDedup(docs, col("fp"), "doc_id")
        .select("doc_id").orderBy("doc_id")
    },
      """SELECT doc_id FROM documents WHERE doc_id IN (
           SELECT min(doc_id) FROM documents
           GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
         ORDER BY doc_id"""),
    QuerySpec("q_ngram_jaccard", (s, dir) => {
      // scale-safe blocking: MinHash-LSH candidates (md5-portable, 3-gram
      // shingles so the S-curve approximates the verified shingle-set
      // jaccard) + exact-jaccard verification on candidates only. Attribute
      // blocks (lang, length band) are O(block²) — a single (en, band-k)
      // block is O(corpus) at 100 TB; LSH bucket size is set by band-key
      // collisions. (Unigram jaccard is useless on this corpus: shared vocab
      // puts 73% of ALL pairs above 0.5 — 3-gram shingles discriminate.)
      // numHashes/bands from the corpus-size profile: legacy (16, 8) at
      // the test SFs (oracle SQL matches), rows-per-band grows past 8k docs
      val (nh, bd) = jaccardLshParams(docCountFor(s, dir))
      Dedup.ngramJaccardLsh(rd(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, numHashes = nh, bands = bd, ngram = 3,
          portable = true)
        .orderBy("id_a", "id_b")
    }, NgramJaccardLshOracle),
    // xxhash64/HLL sketches are not DuckDB-derivable from the raw tables —
    // their oracles are instead generated at Verify time by the
    // Spark-INDEPENDENT pipeline recompute in
    // [[graft.verify.IndependentOracles]] (public-spec xxHash64, plain-Scala
    // minhash/simhash/HLL++), with expected survivor ids / the expected
    // estimate embedded as literals — the fitted-centroid technique the
    // q_ivf_*/q_semdedup oracles use:
    QuerySpec.recomputed("q_minhash_dedup", (s, dir) => {
      // 32 hashes / 8 bands: at threshold 0.5 the LSH S-curve is nearly
      // identical to 64/16 (band width 4 either way) at half the signature
      // and shuffle volume
      Dedup.minhashDedup(rd(s, dir, "documents"), "doc_id", "text",
          MinhashDedupThreshold, numHashes = MinhashDedupHashes,
          bands = MinhashDedupBands)
        .select("doc_id").orderBy("doc_id")
    }, sketchOraclesFor),
    QuerySpec("q_minhash_oracle", (s, dir) => {
      // md5-based MinHash-LSH variant whose ENTIRE pipeline (shingling,
      // affine min-hash, banding, candidate join, jaccard estimate,
      // dedup policy) is replicated exactly in the DuckDB oracle
      Dedup.minhashDedupPortable(rd(s, dir, "documents"), "doc_id", "text", 0.5)
        .select("doc_id").orderBy("doc_id")
    }, MinhashOracle),
    QuerySpec("q_dedup_incremental", (s, dir) => {
      // incremental dedup against a PERSISTED signature store — the
      // production deployment shape: source src0 is the already-kept
      // corpus (seeds the bucketed store tables), every other source is
      // the new crawl batch deduped against it. md5-portable so the
      // oracle replicates store sigs + banding + cross-store candidates
      // + est-jaccard threshold + survivor anti-join exactly.
      val docs = rd(s, dir, "documents")
      Dedup.writeMinhashStore(
        Dedup.minhashSigs(docs.filter(col("source") === "src0"),
          "doc_id", "text", numHashes = 16, portable = true),
        "doc_id", "graft_incr_store", bands = 4, numHashes = 16,
        nBuckets = 4, portable = true)
      Dedup.minhashDedupAgainst(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          "graft_incr_store", threshold = 0.5, numHashes = 16, bands = 4,
          updateStore = false, portable = true)
        .select("doc_id").orderBy("doc_id")
    }, DedupIncrementalOracle),
    QuerySpec("q_dedup_incr_exact", (s, dir) => {
      // the exact-fingerprint sibling of q_dedup_incremental: the store
      // holds DISTINCT normalized-content fingerprints of the kept corpus
      // (src0); new docs whose content is already stored are dropped via
      // an anti-join on the store's bucket column. The raw corpus has ZERO
      // exact cross-source duplicates, so the new batch additionally
      // carries every src0 doc re-keyed (+1e6) — planted duplicates that
      // MUST all drop (the q_redact plant-your-own-positives pattern)
      val docs = rd(s, dir, "documents")
      val existing = docs.filter(col("source") === "src0")
      Dedup.writeFingerprintStore(existing, "text", "graft_fp_store",
        nBuckets = 4)
      val newBatch = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
        .unionAll(existing.select(
          (col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exactDedupAgainst(newBatch, "text", "graft_fp_store",
          updateStore = false)
        .select("doc_id").orderBy("doc_id")
    }, DedupIncrExactOracle),
    QuerySpec("q_dedup_incr_bloom", (s, dir) => {
      // bloom-prefiltered twin of q_dedup_incr_exact (same plant, same
      // oracle): the store is sketched once, only might-contain positives
      // touch the bucketed table — no false negatives, so the result is
      // identical and the SAME oracle verifies the whole probe path
      val docs = rd(s, dir, "documents")
      val existing = docs.filter(col("source") === "src0")
      Dedup.writeFingerprintStore(existing, "text", "graft_fp_store",
        nBuckets = 4)
      val newBatch = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
        .unionAll(existing.select(
          (col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exactDedupAgainstBloom(newBatch, "text", "graft_fp_store",
          expectedItems = 10000L, numBits = 1L << 17)
        .select("doc_id").orderBy("doc_id")
    },
      // the bloom prefilter has no false negatives, so prefilter + exact
      // anti-join ≡ exact anti-join: ONE shared oracle for both queries
      DedupIncrExactOracle),
    QuerySpec("q_dedup_incr_simhash", (s, dir) => {
      // the SIMHASH member of the store family: catches token-set-identical
      // near-copies the exact fingerprint store misses. The plant makes
      // that distinction REAL: every src0 doc re-keyed with its tokens
      // REVERSED — same distinct token set (same simhash, dropped here)
      // but a different normalized byte sequence (the fingerprint store
      // would keep it)
      val docs = rd(s, dir, "documents")
      val existing = docs.filter(col("source") === "src0")
      Dedup.writeSimhashStore(existing, "doc_id", "text", "graft_sh_store",
        portable = true, nBuckets = 4)
      val newBatch = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
        .unionAll(existing.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text")))
      Dedup.simhashDedupAgainst(newBatch, "doc_id", "text", "graft_sh_store",
          portable = true, updateStore = false)
        .select("doc_id").orderBy("doc_id")
    },
      s"""WITH p AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             array_to_string(list_reverse(string_split(text, ' ')), ' '),
             source
           FROM documents WHERE source = 'src0'),
         ${simhashSigChainSql("p")},
         stored AS (
           SELECT DISTINCT sg.sig FROM sg
           JOIN p e ON e.doc_id = sg.doc_id
           WHERE e.source = 'src0' AND e.doc_id < 1000000)
         SELECT p.doc_id FROM p
         JOIN sg n ON n.doc_id = p.doc_id
         WHERE (p.source <> 'src0' OR p.doc_id >= 1000000)
           AND n.sig NOT IN (SELECT sig FROM stored)
         ORDER BY p.doc_id"""),
    QuerySpec("q_dedup_incr_embedding", (s, dir) => {
      // the EMBEDDING member of the store family (semantic space): even
      // vec_ids seed the banded-hyperplane store, odd ids are the new
      // batch — plus every stored vector re-keyed (+1e6) as a planted
      // exact near-dup (cosine 1.0) that MUST drop through the banded
      // candidate + exact-cosine verify path
      val emb = rd(s, dir, "embeddings")
      val existing = emb.filter(col("vec_id") % 2 === 0)
      Dedup.writeEmbeddingStore(existing, "vec_id", "embedding",
        "graft_emb_store", dim = 64, bandBits = 12, bands = 5, nBuckets = 4)
      val newBatch = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
        .unionAll(existing.select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding")))
      Dedup.embeddingNearDupAgainst(newBatch, "vec_id", "embedding",
          "graft_emb_store", threshold = 0.35, dim = 64, bandBits = 12,
          bands = 5, updateStore = false)
        .select("vec_id").orderBy("vec_id")
    }, DedupIncrEmbeddingOracle),
    QuerySpec("q_cluster_dedup", (s, dir) => {
      // transitive connected-components dedup (md5-portable candidates) —
      // the DuckDB oracle replicates the components as a recursive CTE
      Dedup.clusterDedup(rd(s, dir, "documents"), "doc_id", "text", 0.5,
          numHashes = 16, bands = 4, portable = true)
        .select("doc_id").orderBy("doc_id")
    }, ClusterDedupOracle),
    QuerySpec("q_cluster_keep_best", (s, dir) => {
      // same candidate chain and components as q_cluster_dedup, different
      // survivor policy: each near-dup component keeps its LONGEST member
      // (n_chars, ties toward the smaller doc_id) instead of its minimum
      // id — the policy production dedup wants (clusters mix a complete
      // original with truncated copies; min-id keeps an arbitrary one)
      val docs = rd(s, dir, "documents")
      Dedup.clusterDedupFromPairsKeepBest(docs, "doc_id", col("n_chars"),
          portablePairs(docs))
        .select("doc_id").orderBy("doc_id")
    }, ClusterKeepBestOracle),
    QuerySpec("q_cluster_sizes", (s, dir) => {
      // the rollout diagnostic over the same components: how many clusters
      // of each size (singletons included) — a fat tail here means a
      // too-loose threshold is gluing the corpus together, visible BEFORE
      // a dedup pass drops the difference
      val docs = rd(s, dir, "documents")
      Dedup.clusterSizeHistogramFromPairs(docs, "doc_id", portablePairs(docs))
    }, ClusterSizesOracle),
    QuerySpec("q_golden_record", (s, dir) => {
      // entity-resolution survivorship over the same components: one
      // canonical row per cluster, each field independently from the
      // longest member that has it (per-field max-struct aggregate, no
      // per-component sort); singletons pass through as themselves
      val docs = rd(s, dir, "documents")
      Dedup.goldenRecord(docs, "doc_id", portablePairs(docs), col("n_chars"),
        Seq("lang", "source"))
    }, GoldenRecordOracle),
    QuerySpec("q_split_leakage", (s, dir) => {
      // eval-integrity audit: near-dup pairs (same md5 candidate chain)
      // that CROSS the hash-interval train/val/test assignment — silent
      // eval contamination external decontamination never sees; split pair
      // normalized lexicographically, cost ∝ |pairs|
      val docs = rd(s, dir, "documents")
      Dedup.splitLeakageFromPairs(portablePairs(docs),
        Sampling.assignSplit(docs.select(col("doc_id")), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
        "doc_id", "split")
    }, SplitLeakageOracle),
    QuerySpec.recomputed("q_simhash_dedup", (s, dir) => {
      Dedup.simhashDedup(rd(s, dir, "documents"), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }, sketchOraclesFor),
    QuerySpec("q_simhash_oracle", (s, dir) => {
      // md5-based 60-bit SimHash — full pipeline replicated in the oracle
      Dedup.simhashDedup(rd(s, dir, "documents"), "doc_id", "text",
          portable = true)
        .select("doc_id").orderBy("doc_id")
    },
      s"""WITH ${simhashSigChainSql("documents")},
         keep AS (SELECT min(doc_id) AS doc_id FROM sg GROUP BY sig)
         SELECT doc_id FROM documents
         WHERE doc_id IN (SELECT doc_id FROM keep) ORDER BY doc_id"""),
    QuerySpec("q_simhash_hamming", (s, dir) => {
      // Manku-style banded hamming ≤ 3 near-dup search on the portable
      // 60-bit signatures — upgrades simhash from exact-signature matching
      // to a real near-dup operator; the oracle replicates banding,
      // bucket-local candidates, and the bit_count verify
      Dedup.simhashHammingPairs(rd(s, dir, "documents"), "doc_id", "text",
          maxHamming = 3, portable = true)
        .orderBy("id_a", "id_b")
    },
      // banded hamming ≤ 3 search over the same 60-bit portable signatures:
      // 4 disjoint 15-bit bands (pigeonhole recall), bucket-local band
      // self-join, bit_count verify — DuckDB's xor()/bit_count replicate the
      // Spark kernel exactly (DuckDB's ^ is power, hence xor())
      s"""WITH ${simhashSigChainSql("documents")},
         banded AS (
           SELECT doc_id, sig, b, (sig >> (b * 15)) & 32767 AS bb
           FROM sg CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs),
         pairs AS (
           SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
           FROM banded l JOIN banded r
             ON l.b = r.b AND l.bb = r.bb AND l.doc_id < r.doc_id
           WHERE bit_count(xor(l.sig, r.sig)) <= 3)
         SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b"""),
    QuerySpec("q_simhash_hamming_scaled", (s, dir) => {
      // the PRODUCTION profile of q_simhash_hamming: signature width
      // 4·simhashBandBits(corpus) — the legacy 60-bit degenerate at
      // sf0.01's 500 docs, the WIDE two-long 64-bit path at sf0.1's 5000
      // (so the straddling-band slicing is itself oracle-pinned), 84 bits
      // at the 30× corpus where the fixed 15-bit bands measured 15.1×.
      // Oracle SQL is generated with the SAME derived width.
      val w = simhashBandBits(docCountFor(s, dir))
      Dedup.simhashHammingPairsWide(rd(s, dir, "documents"), "doc_id", "text",
          nBits = 4 * w, maxHamming = 3, portable = true)
        .orderBy("id_a", "id_b")
    },
      // the oracle's signature width — and its straddling band slices —
      // derive from the SAME corpus count the query resolves
      derived((s, dir) =>
        simhashWideOracleSql(4 * simhashBandBits(docCountFor(s, dir))))),
    QuerySpec("q_embedding_neardup_oracle", (s, dir) => {
      // blocked on (label, id-allocation shard) so the pair set is
      // oracle-expressible with DuckDB's list arithmetic AND the blocking
      // key's cardinality GROWS with the corpus: ids are allocated in 10M
      // ranges per generation batch (TESTDATA/GenScale contract), so shard
      // count scales with the data and block sizes stay bounded — the
      // label alone is constant-cardinality, quadratic at scale (the
      // round-10 12.6×-at-10× finding). maxBlockRows enforces the bound
      // in-plan: an oversized block fails loudly, never burns quadratic.
      Dedup.embeddingNearDupPairs(rd(s, dir, "embeddings"), "vec_id",
          "embedding", 0.35,
          Seq(col("label"), expr("vec_id div 10000000")),
          maxBlockRows = 1000)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    },
      // blocked on (label, vec_id // 10000000): the id-allocation shard joins
      // the label in the block key, mirroring the Spark side exactly
      """WITH e AS (
           SELECT vec_id, label, vec_id // 10000000 AS shard,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
           FROM e a JOIN e b ON a.label = b.label AND a.shard = b.shard
             AND a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(c, 6) AS cos FROM p
         WHERE c >= 0.35 ORDER BY id_a, id_b"""),
    QuerySpec("q_embedding_neardup", (s, dir) => {
      // banded-LSH blocking: 5 bands × 12-bit signatures (4096 buckets per
      // band — bandBits grows with log₂(corpus), bands hold recall). The old
      // single 4-bit table was 16 global buckets: a 1/16 reduction of an
      // O(n²) join is still O(n²) at 100×. The synthetic embeddings contain
      // no true near-dups (max pairwise cosine ≈ 0.51), so the threshold
      // surfaces the genuinely most-similar bucket-local pairs.
      val emb = rd(s, dir, "embeddings")
      Dedup.embeddingNearDupLsh(emb, "vec_id", "embedding", 0.35,
          dim = 64, bandBits = 12, bands = 5)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    }, EmbeddingNearDupLshOracle),
    QuerySpec("q_embedding_neardup_scaled", (s, dir) => {
      // the PRODUCTION profile of q_embedding_neardup: bandBits derived
      // from the corpus size (the containmentFreqCap/jaccardLshParams
      // pattern — 12 at the fixture SFs, growing with log₂(corpus)), bands
      // at the 4-band production default; the oracle SQL is generated with
      // the SAME derived bandBits, so the scaled path is oracle-pinned
      // rather than scaladoc guidance
      val bb = embeddingBandBits(embCountFor(s, dir))
      Dedup.embeddingNearDupLsh(rd(s, dir, "embeddings"), "vec_id",
          "embedding", 0.35, dim = 64, bandBits = bb, bands = 4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    },
      // generated with the SAME corpus-derived bandBits the query resolves —
      // the profile itself is what this oracle pins
      derived((s, dir) => embeddingNearDupLshOracleSql(
        embeddingBandBits(embCountFor(s, dir)), bands = 4))),
    QuerySpec("q_diff_curate", (s, dir) => {
      // the end-to-end incremental re-crawl pass q_dataset_diff exists
      // for: snapshot diff → ONLY the |Δ|-sized added/changed slice flows
      // into dedup-against-the-prev-snapshot's fingerprint store; the
      // unchanged bulk of the corpus is never read past the hash
      // projection. The store build is timed (the incr-family deployment-
      // cycle contract). Planted positives: every prev doc re-keyed +1e6
      // rides the batch and MUST drop (its fingerprint is stored).
      val docs = rd(s, dir, "documents")
      val cur = docs.filter(col("doc_id") % 11 =!= 5)
        .select(col("doc_id"), col("text"))
      val prev = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit("OLD "), col("text")))
            .otherwise(col("text")).as("text"))
      Dedup.writeFingerprintStore(prev, "text", "graft_diff_store",
        nBuckets = 4)
      val delta = graft.sources.Sources
        .datasetDiff(cur, prev, "doc_id", Seq("text"))
        .filter(col("status") =!= "removed").select("doc_id")
      val fresh = cur.join(delta, Seq("doc_id"), "left_semi")
        .unionAll(prev.select((col("doc_id") + 1000000L).as("doc_id"),
          col("text")))
      Dedup.exactDedupAgainst(fresh, "text", "graft_diff_store",
          updateStore = false)
        .select("doc_id").orderBy("doc_id")
    },
      // diff (added/changed only) → batch with planted re-keyed prev docs →
      // normalized-fingerprint NOT IN the prev snapshot (the store contents)
      """WITH cur AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 5),
         prev AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'OLD ' || text ELSE text END
               AS text
           FROM documents WHERE doc_id % 10 <> 3),
         delta AS (
           SELECT cur.doc_id, cur.text
           FROM cur LEFT JOIN prev ON cur.doc_id = prev.doc_id
           WHERE prev.doc_id IS NULL OR cur.text <> prev.text),
         batch AS (
           SELECT doc_id, text FROM delta
           UNION ALL
           SELECT doc_id + 1000000, text FROM prev)
         SELECT doc_id FROM batch
         WHERE md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           NOT IN (
             SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
             FROM prev)
         ORDER BY doc_id"""),
    QuerySpec.recomputed("q_cdc_chunks", (s, dir) => {
      // content-defined chunking (round 17): per-doc chunk structure of
      // the UTF-8 blob, summarized exactly (count / partitioned length /
      // distinct hashes / order-sensitive checksum); oracle = plain-JVM
      // re-chunk from the gear-hash spec, total_len cross-checked against
      // DuckDB's own strlen
      Dedup.cdcChunks(
          rd(s, dir, "documents")
            .select(col("doc_id"), col("text").cast(BinaryType).as("blob")),
          "doc_id", "blob")
        .toDF().groupBy("doc_id")
        .agg(count(lit(1)).cast(LongType).as("n_chunks"),
          sum("chunk_len").cast(LongType).as("total_len"),
          countDistinct("chunk_hash").cast(LongType).as("n_distinct"),
          sum((col("chunk_no") + 1) *
            pmod(col("chunk_hash"), lit(1L << 31)))
            .cast(LongType).as("chunk_sig"))
        .orderBy("doc_id")
    }, cdcOraclesFor),
    QuerySpec.recomputed("q_cdc_dedup", (s, dir) => {
      // the storage-dedup savings report a chunk store runs before
      // admitting blobs: distinct vs total chunk bytes corpus-wide
      Dedup.cdcDedupStats(Dedup.cdcChunks(
        rd(s, dir, "documents")
          .select(col("doc_id"), col("text").cast(BinaryType).as("blob")),
        "doc_id", "blob"))
    }, cdcOraclesFor),
    QuerySpec.recomputed("q_cdc_incr", (s, dir) => {
      // incremental byte-level admission against the persisted chunk
      // store: batch 1 (the corpus) is stored; batch 2 is every blob
      // re-ingested with a 1-byte front edit — the CDC property means
      // most bytes are already held (shift resistance), so dup_bytes
      // dominates. Oracle = plain-JVM replay of store + keep-first walk
      val blobs = rd(s, dir, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("blob"))
      val store = s"graft_cdc_store_${java.lang.Integer.toHexString(dir.hashCode)}"
      s.sql(s"DROP TABLE IF EXISTS ${store}_chunks")
      Dedup.writeChunkStore(Dedup.cdcChunks(blobs, "doc_id", "blob"), store)
      val batch2 = rd(s, dir, "documents")
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("x"), col("text")).cast(BinaryType).as("blob"))
      Dedup.cdcDedupAgainst(batch2, "doc_id", "blob", store,
          updateStore = false)
        .orderBy("doc_id")
    }, cdcOraclesFor),
    QuerySpec("q_containment", (s, dir) =>
      // asymmetric near-dup: |A∩B| / min(|A|,|B|) catches small-doc-inside-
      // big-doc duplication that symmetric jaccard misses. Candidates via
      // LOSSLESS prefix filtering (rarest shingles of the smaller side), so
      // the oracle below is ground truth, not a blocking replica
      // freq cap from the corpus-size profile: uncapped (lossless, the
      // ground-truth-oracle contract) at the test SFs, boilerplate-shingle
      // drop past 10k docs
      Dedup.ngramContainmentPrefix(rd(s, dir, "documents"), "doc_id", "text",
          threshold = 0.7, ngram = 3,
          maxShingleDocFreq = containmentFreqCap(docCountFor(s, dir)))
        .orderBy("id_a", "id_b"), NgramContainmentPrefixOracle),
    QuerySpec("q_containment_capped", (s, dir) =>
      // the PRODUCTION containment profile (round-12 verdict item 4): the
      // corpus-scaled boilerplate cap engaged at EVERY size, not just past
      // 10k docs. At the correctness SFs the floor keeps it lossless (the
      // same ground-truth oracle as q_containment must stay exact); on
      // replica-heavy corpora it trims the O(f²) candidate fan-out of the
      // mid-frequency boilerplate band the lossless valve admits
      Dedup.ngramContainmentPrefix(rd(s, dir, "documents"), "doc_id", "text",
          threshold = 0.7, ngram = 3,
          maxShingleDocFreq = containmentFreqCapScaled(docCountFor(s, dir)))
        .orderBy("id_a", "id_b"),
      // same GROUND-TRUTH oracle: at the correctness SFs the scaled cap's
      // floor (32) sits above the max observed shingle doc-freq, so the
      // capped query must reproduce the exact all-pairs answer — a cap that
      // drops a true pair at these SFs hash-mismatches here
      NgramContainmentPrefixOracle),
    QuerySpec("q_semdedup_pairs", (s, dir) =>
      // SemDeDup: cluster-blocked pairwise cosine — k-means cells bound the
      // quadratic term; reuses the memoized offline IVF fit, so the oracle
      // can replicate assignment from the same centroid literals
      Dedup.semanticNearDupPairs(rd(s, dir, "embeddings"), "vec_id",
          "embedding", ivfModelFor(s, dir), threshold = 0.35)
        .orderBy("id_a", "id_b"),
      derived((s, dir) => semDedupPairsOracle(ivfModelFor(s, dir)))),
    QuerySpec("q_semdedup", (s, dir) =>
      // keep-first semantic dedup over the cluster-blocked pairs
      Dedup.semanticDedup(rd(s, dir, "embeddings"), "vec_id", "embedding",
          ivfModelFor(s, dir), threshold = 0.35)
        .select("vec_id", "label").orderBy("vec_id"),
      derived((s, dir) => semDedupOracle(ivfModelFor(s, dir)))),
    QuerySpec("q_span_overlap", (s, dir) =>
      // substring-level duplication: longest verbatim shared token run per
      // pair (≥8 tokens), via positional 8-window postings + per-diagonal
      // gaps-and-islands — the overlap Jaccard/containment dilute away
      Dedup.spanOverlapPairs(rd(s, dir, "documents"), "doc_id", "text",
          minRun = 8)
        .orderBy("id_a", "id_b"), SpanOverlapOracle),
    QuerySpec("q_span_dedup", (s, dir) =>
      // keep-first substring dedup: drop every doc sharing a ≥8-token
      // verbatim run with a lower-id'd doc
      Dedup.spanDedup(rd(s, dir, "documents"), "doc_id", "text", minRun = 8)
        .select("doc_id", "source").orderBy("doc_id"), SpanDedupOracle),
    QuerySpec("q_span_excise", (s, dir) =>
      // the ExactSubstr REMEDY: cut each ≥8-token shared run out of the
      // later doc and keep the reassembled remainder (one row per input
      // doc, empty text when fully excised) — the oracle replays cut
      // positions and reassembly order, not just survivor ids
      Dedup.spanExcise(rd(s, dir, "documents"), "doc_id", "text",
          minRun = 8)
        .orderBy("doc_id"), SpanExciseOracle),
    QuerySpec("q_contamination", (s, dir) => {
      // benchmark-overlap scores: src0 plays the eval set; every doc scores
      // |shingles ∩ pooled-src0-shingles| / |shingles| in one broadcast pass
      val docs = rd(s, dir, "documents")
      Dedup.contaminationScores(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", ngram = 3)
        .orderBy("doc_id")
    }, ContaminationOracle),
    QuerySpec("q_decontaminate", (s, dir) => {
      // end-to-end decontamination: drop docs ≥0.8 contaminated vs src0
      // (src0 itself + its cross-source near-copies), keep survivors
      val docs = rd(s, dir, "documents")
      Dedup.decontaminate(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          maxContamination = 0.8, ngram = 3)
        .select("doc_id", "source").orderBy("doc_id")
    },
      s"""WITH ${contaminationChainSql("documents", "")}
       SELECT d.doc_id, d.source FROM documents d
       WHERE d.doc_id NOT IN (
         SELECT doc_id FROM sc
         WHERE round(CAST(n_hits AS DOUBLE) / n_shingles, 6) >= 0.8)
       ORDER BY d.doc_id"""),
    QuerySpec("q_decontaminate_exact", (s, dir) => {
      // EXACT substring decontamination: drop every doc sharing a VERBATIM
      // ≥8-token run with any src0 (benchmark) doc — the exactness upgrade
      // over q_decontaminate's pooled-shingle Jaccard score (a verbatim
      // eval quote inside a long original dilutes below any Jaccard
      // threshold but is still contamination; a shared 7-token run shares
      // NO 8-window and passes). Broadcast bench window hashes, one corpus
      // projection + semi/anti join; the string-exact oracle verifies the
      // xxhash64 window shortcut
      val docs = rd(s, dir, "documents")
      Dedup.exactDecontaminate(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", minRun = 8)
        .select("doc_id", "source").orderBy("doc_id")
    }, ExactDecontaminateOracle)
  )

  /** q_minhash_dedup parameters, shared between the query and
    * [[sketchOracles]]'s independent recompute so the pipeline and its
    * oracle can never drift apart silently (a one-sided edit surfaces as a
    * loud CORRECTNESS failure either way, but sharing removes the footgun). */
  private val MinhashDedupThreshold = 0.5
  private val MinhashDedupHashes = 32
  private val MinhashDedupBands = 8

  /** the md5 MinHash-LSH near-dup pairs (threshold 0.5, 16 hashes, 4 bands)
    * behind the q_cluster_keep_best / q_cluster_sizes / q_golden_record /
    * q_split_leakage components — the candidate chain their oracles share
    * with q_cluster_dedup's. */
  private def portablePairs(docs: DataFrame): DataFrame =
    Dedup.minhashPairs(docs, "doc_id", "text", 0.5, numHashes = 16, bands = 4,
      portable = true)

  /** full MinHash-LSH dedup pipeline in DuckDB SQL, generated with the SAME
    * seed-42 affine parameters as Dedup.minhashDedupPortable. 16 hashes,
    * 4 bands × 4 rows, threshold 0.5, 3-gram shingles. */
  /** the portable MinHash signature + banding CTE chain (16 hashes / 4
    * bands, seed-42 affine params), reading (doc_id, text) from `src`.
    * Yields CTEs up to `banded` (doc_id, b, bk) with `sigs` available —
    * shared by [[minhashDedupChainSql]] and the incremental-store oracle. */
  private def minhashSigChainSql(src: String): String = {
    val params = Dedup.hashParams(16)
    val valuesList = params.zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""tk AS (
         SELECT doc_id, string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS t
         FROM $src),
       sh AS (
         SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
         FROM (SELECT doc_id, t,
                 unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM tk)),
       xs AS (
         SELECT doc_id,
           CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % 2147483648 AS x
         FROM sh),
       hs AS (
         SELECT doc_id, hp.i AS i, min((hp.a * x + hp.b) % 2147483647) AS h
         FROM xs CROSS JOIN (VALUES $valuesList) AS hp(i, a, b)
         GROUP BY doc_id, hp.i),
       sigs AS (
         SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY doc_id),
       banded AS (
         SELECT doc_id, b,
           md5(concat_ws(',',
             CAST(sig[b*4+1] AS VARCHAR), CAST(sig[b*4+2] AS VARCHAR),
             CAST(sig[b*4+3] AS VARCHAR), CAST(sig[b*4+4] AS VARCHAR))) AS bk
         FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bs)"""
  }

  /** the portable MinHash-LSH dedup CTE chain (est-jaccard ≥ threshold,
    * drop-higher-id) over [[minhashSigChainSql]] — parameterized so composed
    * pipelines (q_curation) can run the IDENTICAL verified chain over a
    * filtered source. Yields CTEs up to `dups` (the distinct id_b set to
    * drop). */
  private[queries] def minhashDedupChainSql(src: String, threshold: Double): String =
    s"""${minhashSigChainSql(src)},
       pairs AS (
         SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM banded l JOIN banded r
           ON l.b = r.b AND l.bk = r.bk AND l.doc_id < r.doc_id),
       dups AS (
         SELECT DISTINCT id_b FROM (
           SELECT p.id_a, p.id_b,
             len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 AS e
           FROM pairs p
           JOIN sigs sa ON sa.doc_id = p.id_a
           JOIN sigs sb ON sb.doc_id = p.id_b)
         WHERE e >= $threshold)"""

  private val MinhashOracle: String =
    s"""WITH ${minhashDedupChainSql("documents", 0.5)}
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (SELECT id_b FROM dups) ORDER BY doc_id"""

  /** incremental-store dedup oracle: sigs/banding over ALL documents (per-doc
    * results are independent of the split), candidates restricted to
    * new-batch × stored (src0) rows — exactly the cross-store join of
    * [[Dedup.minhashDedupAgainst]] with `portable = true`; survivors = new docs below the
    * est-jaccard threshold against EVERY stored doc. */
  private val DedupIncrementalOracle: String =
    s"""WITH ${minhashSigChainSql("documents")},
       cpairs AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM banded n
         JOIN documents dn ON dn.doc_id = n.doc_id AND dn.source <> 'src0'
         JOIN banded o ON n.b = o.b AND n.bk = o.bk
         JOIN documents de ON de.doc_id = o.doc_id AND de.source = 'src0'),
       dups AS (
         SELECT DISTINCT new_id FROM cpairs p
         JOIN sigs sa ON sa.doc_id = p.new_id
         JOIN sigs sb ON sb.doc_id = p.old_id
         WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.5)
       SELECT doc_id FROM documents
       WHERE source <> 'src0' AND doc_id NOT IN (SELECT new_id FROM dups)
       ORDER BY doc_id"""

  /** transitive (connected-components) MinHash-LSH dedup in DuckDB SQL —
    * same seed-42 portable pipeline as MinhashOracle up to the thresholded
    * candidate pairs, then components via a recursive CTE (min reachable id
    * per node) instead of the greedy drop-id_b policy. */
  /** the md5-portable MinHash-LSH → similarity edges → recursive
    * connected-components CTE chain (documents → `labels(id, label)`),
    * shared by q_cluster_dedup (keep-min survivor) and q_cluster_keep_best
    * (keep-longest survivor) — only the final survivor-policy SELECT
    * differs. */
  private val ClusterLabelsChainSql: String = {
    val params = Dedup.hashParams(16)
    val valuesList = params.zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH RECURSIVE tk AS (
         SELECT doc_id, string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS t
         FROM documents),
       sh AS (
         SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
         FROM (SELECT doc_id, t,
                 unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM tk)),
       xs AS (
         SELECT doc_id,
           CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % 2147483648 AS x
         FROM sh),
       hs AS (
         SELECT doc_id, hp.i AS i, min((hp.a * x + hp.b) % 2147483647) AS h
         FROM xs CROSS JOIN (VALUES $valuesList) AS hp(i, a, b)
         GROUP BY doc_id, hp.i),
       sigs AS (
         SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY doc_id),
       banded AS (
         SELECT doc_id, b,
           md5(concat_ws(',',
             CAST(sig[b*4+1] AS VARCHAR), CAST(sig[b*4+2] AS VARCHAR),
             CAST(sig[b*4+3] AS VARCHAR), CAST(sig[b*4+4] AS VARCHAR))) AS bk
         FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bs),
       pairs AS (
         SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM banded l JOIN banded r
           ON l.b = r.b AND l.bk = r.bk AND l.doc_id < r.doc_id),
       sim AS (
         SELECT p.id_a, p.id_b FROM pairs p
         JOIN sigs sa ON sa.doc_id = p.id_a
         JOIN sigs sb ON sb.doc_id = p.id_b
         WHERE len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) / 16.0 >= 0.5),
       edges AS (
         SELECT id_a AS src, id_b AS dst FROM sim
         UNION SELECT id_b, id_a FROM sim),
       reach(id, r) AS (
         SELECT src, src FROM edges
         UNION
         SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id),
       labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)"""
  }

  private val ClusterDedupOracle: String =
    s"""$ClusterLabelsChainSql
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (SELECT id FROM labels WHERE label < id)
       ORDER BY doc_id"""

  /** keep-best survivor policy over the same components: each component
    * keeps its member with max n_chars (ties toward the smaller id) —
    * row_number over (n_chars DESC, id) replicates Spark's
    * max(struct(score, −id, id)) aggregate exactly. */
  private val ClusterKeepBestOracle: String =
    s"""$ClusterLabelsChainSql,
       scored AS (
         SELECT l.id, l.label, d.n_chars
         FROM labels l JOIN documents d ON d.doc_id = l.id),
       best AS (
         SELECT id FROM (
           SELECT id, row_number() OVER (
             PARTITION BY label ORDER BY n_chars DESC, id) AS rn
           FROM scored)
         WHERE rn = 1)
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (
         SELECT id FROM scored WHERE id NOT IN (SELECT id FROM best))
       ORDER BY doc_id"""

  /** cluster-size histogram over the same components: per-label member
    * counts → size histogram, plus the singleton row (docs in no pair) —
    * pair-derived components are ≥ 2 members so the rows never collide. */
  private val ClusterSizesOracle: String =
    s"""$ClusterLabelsChainSql,
       sizes AS (SELECT label, count(*) AS cluster_size FROM labels GROUP BY label),
       hist AS (SELECT cluster_size, count(*) AS n_clusters
                FROM sizes GROUP BY cluster_size),
       singles AS (
         SELECT 1 AS cluster_size, count(*) AS n_clusters FROM documents
         WHERE doc_id NOT IN (SELECT id FROM labels))
       SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
              CAST(n_clusters AS BIGINT) AS n_clusters
       FROM (SELECT * FROM hist
             UNION ALL SELECT * FROM singles WHERE n_clusters > 0)
       ORDER BY cluster_size"""

  /** q_golden_record's oracle: the shared component chain, membership with
    * singleton fallback (coalesce to own id — component labels are min ids,
    * so cluster_id stays the min member id everywhere), then per-field
    * survivorship as row_number over (n_chars DESC, id) — replicating the
    * max-struct aggregate exactly (documents' fields are never null, so the
    * non-null rank flag is constant on this fixture; null-skipping is
    * ScalaTest-pinned). */
  private val GoldenRecordOracle: String =
    s"""$ClusterLabelsChainSql,
       mem AS (
         SELECT d.doc_id AS id, coalesce(l.label, d.doc_id) AS cl,
                d.n_chars, d.lang, d.source
         FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
       r AS (
         SELECT cl, lang, source,
           row_number() OVER (PARTITION BY cl ORDER BY n_chars DESC, id)
             AS rn
         FROM mem),
       cnt AS (
         SELECT cl, CAST(count(*) AS BIGINT) AS n_members
         FROM mem GROUP BY cl)
       SELECT CAST(r.cl AS BIGINT) AS cluster_id, cnt.n_members,
              r.lang, r.source
       FROM r JOIN cnt ON cnt.cl = r.cl WHERE r.rn = 1
       ORDER BY cluster_id"""

  /** q_split_leakage's oracle: the shared candidate chain's `sim` pair set
    * (threshold 0.5) crossed with the q_split_assign hash-interval
    * assignment; split pair normalized lexicographically. The chain's
    * unused component CTEs cost nothing — CTEs are lazy. */
  private val SplitLeakageOracle: String =
    s"""$ClusterLabelsChainSql,
       sa AS (
         SELECT doc_id, CASE WHEN b < 8000 THEN 'train'
                             WHEN b < 9000 THEN 'val'
                             WHEN b < 10000 THEN 'test'
                             ELSE 'holdout' END AS sp
         FROM (SELECT doc_id,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000 AS b
               FROM documents))
       SELECT least(a.sp, b2.sp) AS split_a,
              greatest(a.sp, b2.sp) AS split_b,
              CAST(count(*) AS BIGINT) AS n_pairs
       FROM sim
       JOIN sa a ON a.doc_id = sim.id_a
       JOIN sa b2 ON b2.doc_id = sim.id_b
       WHERE a.sp <> b2.sp
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** the md5-portable 60-bit SimHash signature CTE chain (documents →
    * (doc_id, sig)) — shared by q_simhash_oracle (hamming-0 dedup) and
    * q_simhash_hamming (banded hamming ≤ 3 search). Distinct tokens, token
    * hash = first 15 md5 hex chars (= the kernel's hash60Md5), per-bit
    * majority vote over 60 positions. */
  private def simhashSigChainSql(src: String): String =
    s"""tk AS (
         SELECT doc_id, list_distinct(string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS t
         FROM $src),
       tx AS (
         SELECT doc_id,
           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS x
         FROM (SELECT doc_id, unnest(t) AS tok FROM tk)),
       vb AS (
         SELECT doc_id, i,
           sum(CASE WHEN ((x >> i) & 1) = 1 THEN 1 ELSE -1 END) AS v
         FROM tx CROSS JOIN (SELECT unnest(range(0, 60)) AS i) bits
         GROUP BY doc_id, i),
       sg AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS sig
         FROM vb GROUP BY doc_id)"""

  /** q_simhash_hamming_scaled in DuckDB: the WIDE two-long signature chain
    * for any nBits ≤ 120 — same tokenizer CTE as [[simhashSigChainSql]],
    * token hashes from BOTH md5 halves (hex chars 1-15 and 17-31, matching
    * the kernel's single-digest lo/hi split), votes over nBits positions,
    * the two-long (lo, hi) assembly, and 4 banded bucket keys whose
    * lo/hi-straddling slices are generated with the SAME constants as
    * [[graft.operators.Dedup.wideBandBits]]. */
  private def simhashWideOracleSql(nBits: Int): String = {
    require(nBits >= 1 && nBits <= 120, s"wide oracle supports <=120 bits, got $nBits")
    val bands = 4
    val base = nBits / bands
    val rem = nBits % bands
    val widths = (0 until bands).map(b => base + (if (b < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandCases = (0 until bands).map { b =>
      val off = offsets(b); val w = widths(b)
      val loTake = math.max(0, math.min(60 - off, w))
      val hiTake = w - loTake
      val loPart =
        if (loTake > 0) s"((lo >> $off) & ${(1L << loTake) - 1})" else "0"
      val hiPart =
        if (hiTake > 0)
          s"(((hi >> ${math.max(0, off - 60)}) & ${(1L << hiTake) - 1}) << $loTake)"
        else "0"
      s"WHEN $b THEN $loPart | $hiPart"
    }.mkString(" ")
    s"""WITH tk AS (
         SELECT doc_id, list_distinct(string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS t
         FROM documents),
       tx AS (
         SELECT doc_id,
           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS xlo,
           CAST(concat('0x', substr(md5(tok), 17, 15)) AS BIGINT) AS xhi
         FROM (SELECT doc_id, unnest(t) AS tok FROM tk)),
       vb AS (
         SELECT doc_id, i,
           sum(CASE WHEN ((CASE WHEN i < 60 THEN (xlo >> i)
                           ELSE (xhi >> (i - 60)) END) & 1) = 1
               THEN 1 ELSE -1 END) AS v
         FROM tx CROSS JOIN (SELECT unnest(range(0, $nBits)) AS i) bits
         GROUP BY doc_id, i),
       sg AS (
         SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 AND i < 60
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo,
           CAST(sum(CASE WHEN v > 0 AND i >= 60
             THEN (CAST(1 AS BIGINT) << (i - 60)) ELSE 0 END) AS BIGINT) AS hi
         FROM vb GROUP BY doc_id),
       banded AS (
         SELECT doc_id, lo, hi, b, CASE b $bandCases END AS bb
         FROM sg CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) bs),
       pairs AS (
         SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           CAST(bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi))
             AS BIGINT) AS hamming
         FROM banded l JOIN banded r
           ON l.b = r.b AND l.bb = r.bb AND l.doc_id < r.doc_id
         WHERE bit_count(xor(l.lo, r.lo)) + bit_count(xor(l.hi, r.hi)) <= 3)
       SELECT id_a, id_b, hamming FROM pairs ORDER BY id_a, id_b"""
  }

  /** LSH-blocked n-gram similarity pipeline in DuckDB SQL, generated with
    * the SAME seed-42 affine parameters as Dedup.ngramJaccardLsh with
    * `portable = true`:
    * 3-gram md5 min-hash (16 hashes), 8 bands
    * × 2 rows, bucket-local candidate pairs, then the exact pair score
    * (`scoreExpr` over distinct shingle lists `a.t` / `b.t`, aliased
    * `scoreName`) ≥ threshold on candidates only. */
  private def ngramLshOracle(scoreExpr: String, scoreName: String,
                             threshold: Double): String = {
    val params = Dedup.hashParams(16)
    val valuesList = params.zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    s"""WITH tk AS (
         SELECT doc_id, string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS t
         FROM documents),
       sh AS (
         SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
         FROM (SELECT doc_id, t,
                 unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM tk)),
       xs AS (
         SELECT doc_id,
           CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % 2147483648 AS x
         FROM sh),
       hs AS (
         SELECT doc_id, hp.i AS i, min((hp.a * x + hp.b) % 2147483647) AS h
         FROM xs CROSS JOIN (VALUES $valuesList) AS hp(i, a, b)
         GROUP BY doc_id, hp.i),
       sigs AS (
         SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY doc_id),
       banded AS (
         SELECT doc_id, b,
           md5(concat_ws(',',
             CAST(sig[b*2+1] AS VARCHAR), CAST(sig[b*2+2] AS VARCHAR))) AS bk
         FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bs),
       pairs AS (
         SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM banded l JOIN banded r
           ON l.b = r.b AND l.bk = r.bk AND l.doc_id < r.doc_id),
       dt AS (
         SELECT doc_id, list_distinct(list(s)) AS t FROM sh GROUP BY doc_id)
       SELECT id_a, id_b, $scoreName FROM (
         SELECT p.id_a, p.id_b,
           $scoreExpr AS $scoreName
         FROM pairs p
         JOIN dt a ON a.doc_id = p.id_a
         JOIN dt b ON b.doc_id = p.id_b)
       WHERE $scoreName >= $threshold ORDER BY id_a, id_b"""
  }

  private val NgramJaccardLshOracle: String = ngramLshOracle(
    """round(len(list_filter(a.t, x -> list_contains(b.t, x)))
             / (len(a.t) + len(b.t) - len(list_filter(a.t, x -> list_contains(b.t, x)))), 6)""",
    "jaccard", 0.5)

  /** CONTAMINATION chain, parameterized by corpus CTE/table and name
    * prefix `p` (so composed pipelines can instantiate it beside other
    * chains without CTE-name collisions): distinct 3-gram shingles per
    * corpus doc (same tokenize/shingle shape as the containment oracle),
    * pooled src0 shingles from the FULL documents table as the benchmark
    * set, per-doc hit counts in `${p}sc`. DuckDB sum() returns HUGEINT —
    * cast to BIGINT for the schema/hash compare. */
  private def contaminationChainSql(corpusSrc: String, p: String): String =
    s"""${p}bs AS (
         SELECT DISTINCT concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
         FROM (SELECT t, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM (SELECT string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+') AS t
                     FROM documents WHERE source = 'src0') ${p}bt) ${p}bu),
       ${p}ds AS (
         SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
           FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
                 FROM (SELECT doc_id, string_split_regex(
                         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                         '\\s+') AS t
                       FROM $corpusSrc) ${p}tk) ${p}sh0) ${p}sh1),
       ${p}sc AS (
         SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN s IN (SELECT s FROM ${p}bs) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits
         FROM ${p}ds GROUP BY doc_id)"""

  private val ContaminationOracle: String =
    s"""WITH ${contaminationChainSql("documents", "")}
       SELECT doc_id, n_shingles, n_hits,
         round(CAST(n_hits AS DOUBLE) / n_shingles, 6) AS contamination
       FROM sc ORDER BY doc_id"""

  /** GROUND-TRUTH containment oracle: ALL pairs sharing ≥1 shingle (the
    * only pairs with containment > 0), overlap counted by a pair-grouped
    * aggregate over distinct postings (|A∩B| = count of shared shingles —
    * no per-pair list_intersect, which is 30× slower at sf0.1). Because the
    * Spark side's prefix filter is lossless, this checks the blocking's
    * COMPLETENESS, not merely replicates it — a recall bug on either side
    * hash-mismatches. */
  private val NgramContainmentPrefixOracle: String =
    """WITH tk AS (
         SELECT doc_id, string_split_regex(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
         FROM documents),
       sh AS (
         SELECT doc_id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS s
         FROM (SELECT doc_id, t,
                 unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i
               FROM tk)),
       ds AS (SELECT DISTINCT doc_id, s FROM sh),
       sz AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
       ov AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ov
         FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b,
         round(CAST(ov AS DOUBLE) / least(x.sz, y.sz), 6) AS containment
       FROM ov JOIN sz x ON x.doc_id = id_a JOIN sz y ON y.doc_id = id_b
       WHERE round(CAST(ov AS DOUBLE) / least(x.sz, y.sz), 6) >= 0.7
       ORDER BY id_a, id_b"""

  /** q_dedup_incr_exact AND q_dedup_incr_bloom: the planted incremental
    * exact dedup — src0 fingerprints are the store, the new batch is every
    * other source plus every src0 doc re-keyed (+1e6) as a guaranteed
    * duplicate. One definition, two queries (the bloom prefilter is
    * result-identical by no-false-negatives). */
  private val DedupIncrExactOracle: String =
    """WITH newb AS (
         SELECT doc_id, text FROM documents WHERE source <> 'src0'
         UNION ALL
         SELECT doc_id + 1000000, text FROM documents WHERE source = 'src0')
       SELECT doc_id FROM newb
       WHERE md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
         NOT IN (
           SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           FROM documents WHERE source = 'src0')
       ORDER BY doc_id"""

  /** shared CTE chain for the span-overlap oracles: positional 8-token
    * windows (NO distinct — positions are the signal), window-equality
    * self-join, per-(pair, diagonal) gaps-and-islands via row_number. A
    * shared run of L ≥ 8 tokens is L−7 consecutive windows on one diagonal,
    * so max(island)+7 is the longest verbatim shared run — ground truth for
    * the Spark side's freq≥2-pruned join (the pruning is lossless, so this
    * checks completeness, not merely the blocking). */
  /** positional 8-token-window CTE (NO distinct — positions are the
    * signal), parameterized by source and CTE name so the standalone and
    * composed span oracles share one window definition. */
  private def spanWindowsSql(src: String, cte: String): String =
    s"""$cte AS (
         SELECT doc_id, i AS pos,
           concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4],
                          t[i+5], t[i+6], t[i+7], t[i+8]) AS s
         FROM (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS i
               FROM (SELECT doc_id, string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+') AS t
                     FROM $src) ${cte}tk
               WHERE len(t) >= 8) ${cte}g)"""

  private val SpanOverlapCte: String =
    s"""WITH ${spanWindowsSql("documents", "sh")},
       m AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
           a.pos - b.pos AS d
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id),
       runs AS (
         SELECT id_a, id_b, count(*) AS c
         FROM (SELECT id_a, id_b, d, pa,
                 pa - row_number() OVER (
                   PARTITION BY id_a, id_b, d ORDER BY pa) AS grp
               FROM m)
         GROUP BY id_a, id_b, d, grp)"""

  private val SpanOverlapOracle: String = SpanOverlapCte + """
       SELECT id_a, id_b, CAST(max(c) + 7 AS BIGINT) AS max_run,
         CAST(sum(c) AS BIGINT) AS n_windows
       FROM runs GROUP BY id_a, id_b ORDER BY id_a, id_b"""

  private val SpanDedupOracle: String = SpanOverlapCte + """
       SELECT doc_id, source FROM documents
       WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM m)
       ORDER BY doc_id"""

  /** q_span_excise's oracle: the same detection chain, then the REMEDY —
    * coverage = union of [pb, pb+8) over each matched window's position in
    * the LATER doc, ordered reassembly of the uncovered normalized tokens,
    * one row per input doc (empty text when fully excised). Verifies cut
    * positions AND reassembly order, not just survivor ids. */
  private val SpanExciseOracle: String = SpanOverlapCte + """,
       cov AS (
         SELECT DISTINCT id_b AS doc_id, pa - d + j AS pos
         FROM m, range(0, 8) rj(j)),
       dtk AS (
         SELECT doc_id, i AS pos, t[i+1] AS tok
         FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS i
               FROM (SELECT doc_id, string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+') AS t
                     FROM documents) dtk0) dtk1),
       keptx AS (
         SELECT n.doc_id, n.pos, n.tok
         FROM dtk n LEFT JOIN cov c ON c.doc_id = n.doc_id AND c.pos = n.pos
         WHERE c.doc_id IS NULL),
       aggx AS (
         SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
         FROM keptx GROUP BY doc_id)
       SELECT d.doc_id, coalesce(aggx.text, '') AS text
       FROM documents d LEFT JOIN aggx USING (doc_id)
       ORDER BY doc_id"""

  /** q_decontaminate_exact's STRING-exact ground truth: corpus and
    * benchmark (src0) 8-token windows from the same shared window CTE,
    * a doc is dropped iff any of its windows appears among the benchmark
    * windows — verifying both the Spark side's xxhash64 window shortcut
    * (a collision would flag a clean doc → hash mismatch) and the
    * existence-only decision rule. */
  private val ExactDecontaminateOracle: String =
    s"""WITH ${spanWindowsSql("documents", "cw")},
       ${spanWindowsSql(
        "(SELECT doc_id, text FROM documents WHERE source = 'src0')", "bw")}
       SELECT doc_id, source FROM documents
       WHERE doc_id NOT IN (
         SELECT DISTINCT c.doc_id FROM cw c JOIN bw b ON c.s = b.s)
       ORDER BY doc_id"""

  /** q_semdedup_pairs / q_semdedup in DuckDB: the full SemDeDup path from
    * the same fitted centroid literals as the IVF oracles — argmin
    * assignment (bit-identical ranking, ties to lower cluster id), within-
    * cluster pairs, raw-cosine threshold, rounded emission. Cluster blocking
    * is part of the SEMANTICS here (pairs in different cells are out of
    * scope by design), so the oracle replicates the assignment exactly
    * rather than approximating it. */
  private def semDedupChainSql(model: Similarity.IvfModel,
                               threshold: Double): String = {
    val cents = model.centers.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (w, j) => s"($i, $j, $w)" }
    }.mkString(", ")
    val norms = model.centers.zipWithIndex.map { case (c, i) =>
      s"($i, ${Similarity.sqNorm(c)})"
    }.mkString(", ")
    s"""cents(ci, cj, cw) AS (VALUES $cents),
       cl AS (SELECT ci, list(cw ORDER BY cj) AS cv FROM cents GROUP BY ci),
       cn(ci, n2) AS (VALUES $norms),
       e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
       assign AS (
         SELECT vec_id, ci FROM (
           SELECT e.vec_id, cl.ci,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY cn.n2 - 2.0 * list_dot_product(e.v, cl.cv), cl.ci) AS rn
           FROM e CROSS JOIN cl JOIN cn ON cn.ci = cl.ci)
         WHERE rn = 1),
       sd AS (
         SELECT id_a, id_b, round(raw, 6) AS cos FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))) AS raw
           FROM assign a JOIN assign b
             ON a.ci = b.ci AND a.vec_id < b.vec_id
           JOIN e x ON x.vec_id = a.vec_id
           JOIN e y ON y.vec_id = b.vec_id)
         WHERE raw >= $threshold)"""
  }

  private def semDedupPairsOracle(model: Similarity.IvfModel): String =
    s"""WITH ${semDedupChainSql(model, 0.35)}
       SELECT id_a, id_b, cos FROM sd ORDER BY id_a, id_b"""

  private def semDedupOracle(model: Similarity.IvfModel): String =
    s"""WITH ${semDedupChainSql(model, 0.35)}
       SELECT vec_id, label FROM embeddings
       WHERE vec_id NOT IN (SELECT DISTINCT id_b FROM sd)
       ORDER BY vec_id"""

  /** q_embedding_neardup / q_embedding_neardup_scaled in DuckDB: the full
    * banded-LSH near-dup for any (bandBits, bands) — one pooled
    * `bandBits·bands`-bit signature from the seed-42 planes, bands sliced
    * by shift/mask, bucket-local distinct pairs, exact-cosine verify. The
    * threshold filters on the RAW cosine exactly like the Spark operator
    * (identical IEEE accumulation both sides); the emitted score is
    * rounded to 6 for engine-stable hashing. bandBits·bands ≤ 62 keeps the
    * DuckDB `1 << b` sum clear of BIGINT sign-bit overflow. */
  private def embeddingNearDupLshOracleSql(bandBits: Int, bands: Int): String = {
    require(bandBits * bands <= 62,
      s"oracle signature ${bandBits * bands} bits overflows DuckDB BIGINT shifts")
    val mask = (1L << bandBits) - 1
    s"""WITH planes(b, j, w) AS (VALUES ${hyperplaneValues(bandBits * bands)}),
       pl AS (SELECT b, list(w ORDER BY j) AS pw FROM planes GROUP BY b),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       sigs AS (
         SELECT e.vec_id,
           CAST(sum(CASE WHEN list_dot_product(e.v, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS fs
         FROM e CROSS JOIN pl GROUP BY e.vec_id),
       banded AS (
         SELECT vec_id, bb AS band, (fs >> (bb * $bandBits)) & $mask AS sig
         FROM sigs CROSS JOIN (SELECT unnest(range(0, $bands)) AS bb) bs),
       pairs AS (
         SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
         FROM banded l JOIN banded r
           ON l.band = r.band AND l.sig = r.sig AND l.vec_id < r.vec_id),
       scored AS (
         SELECT p.id_a, p.id_b,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS raw
         FROM pairs p
         JOIN e a ON a.vec_id = p.id_a
         JOIN e b ON b.vec_id = p.id_b)
       SELECT id_a, id_b, round(raw, 6) AS cos FROM scored
       WHERE raw >= 0.35 ORDER BY id_a, id_b"""
  }

  private val EmbeddingNearDupLshOracle: String =
    embeddingNearDupLshOracleSql(bandBits = 12, bands = 5)

  /** q_dedup_incr_embedding in DuckDB: the banded-hyperplane store probe —
    * same plane literals, bands, and exact-cosine verify as
    * [[EmbeddingNearDupLshOracle]], with candidates restricted to
    * new-batch × stored vectors (the cross-store join of
    * [[Dedup.embeddingNearDupAgainst]]). */
  private val DedupIncrEmbeddingOracle: String = {
    s"""WITH planes(b, j, w) AS (VALUES ${hyperplaneValues(60)}),
       pl AS (SELECT b, list(w ORDER BY j) AS pw FROM planes GROUP BY b),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       ex AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       nw AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1
              UNION ALL SELECT vec_id + 1000000, v FROM ex),
       sx AS (
         SELECT ex.vec_id,
           CAST(sum(CASE WHEN list_dot_product(ex.v, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS fs
         FROM ex CROSS JOIN pl GROUP BY ex.vec_id),
       sn AS (
         SELECT nw.vec_id,
           CAST(sum(CASE WHEN list_dot_product(nw.v, pl.pw) >= 0
                    THEN (CAST(1 AS BIGINT) << pl.b) ELSE 0 END) AS BIGINT) AS fs
         FROM nw CROSS JOIN pl GROUP BY nw.vec_id),
       bx AS (SELECT vec_id, bb AS band, (fs >> (bb * 12)) & 4095 AS sig
              FROM sx CROSS JOIN (SELECT unnest(range(0, 5)) AS bb) bs),
       bn AS (SELECT vec_id, bb AS band, (fs >> (bb * 12)) & 4095 AS sig
              FROM sn CROSS JOIN (SELECT unnest(range(0, 5)) AS bb) bs),
       cand AS (
         SELECT DISTINCT n.vec_id AS nid, x.vec_id AS sid
         FROM bn n JOIN bx x ON n.band = x.band AND n.sig = x.sig),
       dups AS (
         SELECT DISTINCT nid FROM cand
         JOIN nw a ON a.vec_id = cand.nid
         JOIN ex b ON b.vec_id = cand.sid
         WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))) >= 0.35)
       SELECT vec_id FROM nw
       WHERE vec_id NOT IN (SELECT nid FROM dups)
       ORDER BY vec_id"""
  }

  /** q_cdc_chunks / q_cdc_dedup generated oracles: the plain-JVM re-chunk
    * ([[graft.verify.IndependentOracles.cdcSummaries]]) embedded as
    * literals; per-doc total_len deliberately taken from DuckDB's own
    * strlen (chunk lengths must PARTITION the blob, so the engine's sum
    * must land on the byte count DuckDB sees). */
  private def cdcOracle(s: SparkSession, dir: String): Map[String, String] = {
    import graft.verify.IndependentOracles
    val corpus = rd(s, dir, "documents").select("doc_id", "text")
    requireTestScale(corpus, "cdcOracle",
      "the CDC oracle is a test-SF recompute by design")
    val docs = corpus.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    val (rows, totals) = IndependentOracles.cdcSummaries(
      docs, minLen = 32, maxLen = 256, maskBits = 5)
    val values = rows.map { case (id, n, _, nd, sig) =>
      s"($id, $n, $nd, $sig)"
    }
    val incr = IndependentOracles.cdcIncrReport(
      docs, docs.map { case (id, t) => (id + 1000000L, "x" + t) },
      minLen = 32, maxLen = 256, maskBits = 5)
    val incrValues = incr.map { case (id, n, tot, nb, db) =>
      s"($id, $n, $tot, $nb, $db)"
    }
    Map(
      "q_cdc_incr" ->
        s"""WITH exp(doc_id, n_chunks, total_bytes, new_bytes, dup_bytes) AS (
             VALUES ${incrValues.mkString(", ")})
           SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(n_chunks AS BIGINT) AS n_chunks,
             CAST(total_bytes AS BIGINT) AS total_bytes,
             CAST(new_bytes AS BIGINT) AS new_bytes,
             CAST(dup_bytes AS BIGINT) AS dup_bytes
           FROM exp ORDER BY doc_id""",
      "q_cdc_chunks" ->
        s"""WITH exp(doc_id, n_chunks, n_distinct, chunk_sig) AS (
             VALUES ${values.mkString(", ")})
           SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
             CAST(e.n_chunks AS BIGINT) AS n_chunks,
             CAST(strlen(d.text) AS BIGINT) AS total_len,
             CAST(e.n_distinct AS BIGINT) AS n_distinct,
             CAST(e.chunk_sig AS BIGINT) AS chunk_sig
           FROM exp e JOIN documents d ON d.doc_id = e.doc_id
           ORDER BY doc_id""",
      "q_cdc_dedup" ->
        s"""SELECT CAST(${totals._1} AS BIGINT) AS total_chunks,
             CAST(${totals._2} AS BIGINT) AS distinct_chunks,
             CAST(${totals._3} AS BIGINT) AS total_bytes,
             CAST(${totals._4} AS BIGINT) AS distinct_bytes""")
  }

  /** q_minhash_dedup / q_simhash_dedup / q_approx_distinct oracles from the
    * Spark-INDEPENDENT pipeline recompute ([[graft.verify.IndependentOracles]]
    * — public-spec xxHash64, plain-Scala tokenize/shingle/band/vote/HLL++,
    * zero calls into graft.operators or Spark expressions): expected
    * survivor ids / the expected estimate become literals in plain DuckDB
    * SQL, exactly like the fitted-centroid q_ivf_* oracles. Spark is used
    * only to READ the corpus. The HLL entry is omitted (pre-round-10
    * rows-only behavior) if the estimate leaves the raw regime — see
    * [[graft.verify.IndependentOracles.hllRawEstimate]]. */
  private[graft] def sketchOracles(dir: String): Map[String, String] = {
    import graft.verify.IndependentOracles
    val s = SparkSession.active
    // Verify-only tooling still deserves the DF.maxDriverRows guard: the
    // independent recompute collects the whole documents table, which is
    // fine at the driver's test SFs but an OOM if Verify is ever pointed at
    // a production sf — fail loudly instead.
    val corpus = rd(s, dir, "documents").select("doc_id", "text")
    requireTestScale(corpus, "sketchOracles",
      "sketch oracles are a test-SF recompute by design")
    val docs: Seq[(Long, Array[String])] =
      corpus.collect().toSeq
        .map(r => (r.getLong(0), IndependentOracles.tokenize(r.getString(1))))
    def notIn(dropped: Set[Long]): String =
      if (dropped.isEmpty) "SELECT doc_id FROM documents ORDER BY doc_id"
      else "SELECT doc_id FROM documents WHERE doc_id NOT IN (" +
        dropped.toSeq.sorted.mkString(", ") + ") ORDER BY doc_id"
    val keys = rd(s, dir, "lineitem").filter(col("l_orderkey").isNotNull)
      .select("l_orderkey").distinct().collect().map(_.getLong(0))
    Map(
      "q_minhash_dedup" -> notIn(IndependentOracles.minhashDroppedIds(
        docs, threshold = MinhashDedupThreshold,
        numHashes = MinhashDedupHashes, bands = MinhashDedupBands)),
      "q_simhash_dedup" -> notIn(IndependentOracles.simhashDroppedIds(docs))
    ) ++ IndependentOracles.hllRawEstimate(keys).map(v =>
      "q_approx_distinct" -> s"SELECT CAST($v AS BIGINT) AS n_approx")
  }

  /** the sketch recompute, run once per sf dir for q_minhash_dedup,
    * q_simhash_dedup and q_approx_distinct. */
  private[queries] val sketchOraclesFor = perDir((_, dir) => sketchOracles(dir))

  /** the CDC recompute, run once per sf dir for the three q_cdc_* queries. */
  private val cdcOraclesFor = perDir(cdcOracle)
}

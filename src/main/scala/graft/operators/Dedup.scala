package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.StoreSpec
import graft.sources.StoreSpec.Table

/** [EXT] Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup = hash aggregate on the dedup key — one shuffle, map-side
  *    partial aggregation, AQE handles skewed keys;
  *  - MinHash: signatures are computed in a single codegen'd projection
  *    (`transform`/`aggregate` over the shingle array — no UDF); LSH banding
  *    explodes to (band, bandHash) keys and joins WITHIN buckets only, so the
  *    candidate set is ~linear in input (never the O(n²) cross join);
  *  - SimHash: 64-bit signature via a fold over token hashes; near-dup =
  *    same signature bucket (hamming 0) or, Manku-style, hamming ≤ k via
  *    banded search ([[simhashHammingPairs]]: k+1 disjoint bands, pigeonhole
  *    recall guarantee, bucket-local self-join, bit_count verify);
  *  - verification (exact Jaccard on candidates) touches only candidate
  *    pairs.
  *
  * All hash functions are Spark-native (`xxhash64`) — deterministic across
  * runs and executors. The MinHash/SimHash pipelines take
  * `portable: Boolean` to run on an md5-derived hash base instead, whose
  * every primitive DuckDB also has, so an exact SQL oracle replicates them.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** exact dedup on a key expression: keep the lowest id per group.
    * groupBy+min is deterministic (unlike dropDuplicates, which keeps an
    * arbitrary row) and oracle-expressible. One shuffle on the dedup key. */
  def exactDedup(df: DataFrame, dedupKey: Column, idCol: String): DataFrame = {
    val keep = df.groupBy(dedupKey.as("__k")).agg(min(col(idCol)).as(idCol))
    df.join(keep.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** word n-gram shingles over an ALREADY-MATERIALIZED token-array column.
    * Callers must compute the token array in its own projection first:
    * expressions referenced inside a higher-order-function lambda are NOT
    * subexpression-eliminated, so passing `tokens(normalized(text))` directly
    * would re-run the regex/split per lambda reference (measured 2-3× cost).
    */
  def shinglesFromTokens(toks: Column, n: Int = 3,
                         distinct: Boolean = true): Column = {
    val idxs = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    val raw = transform(idxs, i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    // array_distinct is O(shingles²) string compares per doc — skip it where
    // set semantics aren't required (MinHash: min over a multiset ≡ min over
    // its set, so duplicates are harmless)
    if (distinct) array_distinct(raw) else raw
  }

  /** word n-gram shingles of the normalized text, distinct. Convenience
    * Column form — inlines the tokenization into the lambda (one reference);
    * prefer a two-step projection + [[shinglesFromTokens]] in pipelines. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(TextAnalysis.normalized(text)), n)

  // Affine permutation constants: h_i(x) = (a_i*x + b_i) mod p over a 31-bit
  // domain. p = 2^31-1 (Mersenne prime). Keeping x < 2^31 and a,b < 2^31
  // bounds a*x + b < 2^62 + 2^31 — fits a Long with room to spare, so the
  // expression is safe under Spark 4's default ANSI mode (no
  // ARITHMETIC_OVERFLOW) and the universal-hash math is exact.
  private val P: Long = (1L << 31) - 1
  private[graft] def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42) // fixed seed: signatures reproducible
    Seq.fill(numHashes)((Math.floorMod(rnd.nextLong(), P - 1) + 1, Math.floorMod(rnd.nextLong(), P)))
  }

  /** MinHash signature as a single Column, reference HOF formulation: array
    * of `numHashes` min-hashed shingle values. NOTE: this inlines `numHashes`
    * array traversals into one projection (planning grows linearly and the
    * HOF lambdas are CodegenFallback) — kept as the cross-check reference
    * for [[minhashSignatureNative]] (the fused codegen'd kernel), the way
    * `Similarity.cosineFns` backs `CosineSimilarityExpr`. Corpus-scale
    * signature tables use [[minhashSigs]] (explode + one hash aggregate). */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64): Column = {
    val hs = hashParams(numHashes).map { case (a, b) =>
      array_min(transform(shingleCol,
        s => pmod(pmod(xxhash64(s), lit(1L << 31)) * lit(a) + lit(b), lit(P))))
    }
    // empty input → NULL, matching the native kernel's contract (no shingles,
    // no signature) — a bare array(hs) would yield numHashes NULLs instead
    // and the two forms would disagree on zero-shingle documents
    when(size(shingleCol) > 0, array(hs: _*)).otherwise(lit(null))
  }

  /** MinHash signature as a single Column via the NATIVE fused kernel
    * ([[graft.functions.MinHashSigExpr]]): one expression node and one pass
    * over the shingle array regardless of numHashes — replaces the
    * numHashes-tree [[minhashSignature]] for per-row/inline uses (streaming
    * ingest, signatures inside wider projections). Bit-identical values. */
  def minhashSignatureNative(shingleCol: Column, numHashes: Int = 64): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.MinHashSigExpr(
      GraftSqlBridge.expression(shingleCol), numHashes))
  }

  /** shared signature assembly: from one row per (doc, 31-bit shingle hash)
    * to (idCol, sig) in a SINGLE hash aggregate — `numHashes` tiny
    * `min(a_i·x + b_i mod P)` aggregate columns over the shingle-hash rows.
    *
    * This is the scale shape: the shingle explode is a pure pipelined map,
    * each affine hash is applied once per shingle inside a partial (map-side)
    * min, and the shuffle carries exactly `numHashes` longs per doc per
    * partition. Earlier rounds posexploded `numHashes` rows per shingle
    * (64× the intermediate volume) and needed a second aggregate to
    * re-assemble the array — measured 85 s at sf0.1 in the round-2 driver
    * bench vs this one-aggregate form. */
  private def sigsFromShingleHash(perShingle: DataFrame, idCol: String,
                                  numHashes: Int): DataFrame = {
    val params = hashParams(numHashes)
    val mins = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__x") * lit(a) + lit(b), lit(P))).as(s"__h$i")
    }
    perShingle.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** (idCol, __x) rows: one 31-bit xxhash64 per shingle occurrence. Tokens
    * are materialized in their own projection so the shingle lambda's
    * references don't re-run the regex/split (no CSE inside HOF lambdas). */
  private def shingleHashRows(df: DataFrame, idCol: String, textCol: String,
                              shingleSize: Int): DataFrame = df
    .select(col(idCol),
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("__toks"))
    .select(col(idCol),
      explode(shinglesFromTokens(col("__toks"), shingleSize, distinct = false)).as("__sh"))
    .select(col(idCol), pmod(xxhash64(col("__sh")), lit(1L << 31)).as("__x"))

  /** MinHash signatures as a DataFrame (idCol, sig), computed ROW-LOCALLY by
    * the fused tokens→signature kernel
    * ([[graft.functions.MinHashTokensSigExpr]]): each document's tokens
    * already live in one row, so the whole doc→signature pipeline is a pure
    * codegen'd projection — NO shingle-array HOF (whose lambda would both
    * fall out of codegen and re-run the tokenizer per reference under
    * projection collapse), NO explode, NO shuffle, one pass regardless of
    * numHashes. Bit-identical to [[minhashSigsAgg]] (same shingle strings,
    * same affine family, same seed-42 xxhash64; min over a multiset ≡ min
    * over its set) — asserted in OperatorsSpec. Measured at sf0.1:
    * 0.4 s vs 1.6 s for the explode+aggregate form.
    *
    * `portable = true` runs the same kernel on the md5-derived hash base
    * (first 4 digest bytes ≡ the oracle's `conv(substring(md5(s),1,8),16,10)`),
    * so the projection stays row-local and codegen'd while remaining
    * exactly DuckDB-replicable; the default is the xxhash64 production base. */
  def minhashSigs(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 64, shingleSize: Int = 3,
                  portable: Boolean = false): DataFrame = {
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))
    // fan before the fused kernel: the projection is the pipeline's single
    // heaviest per-row stage and otherwise rides the unsplittable scan's
    // one task (r21 profile; every consumer is an id-keyed join/aggregate)
    Fan.out(df.select(col(idCol), col(textCol))).select(col(idCol),
      tokensSig(toks, shingleSize, numHashes, portable).as("sig"))
  }

  /** the [[graft.functions.MinHashTokensSigExpr]] signature of a token
    * array column */
  private[operators] def tokensSig(toks: Column, shingleSize: Int,
                                   numHashes: Int, portable: Boolean): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.MinHashTokensSigExpr(
      GraftSqlBridge.expression(toks), shingleSize, numHashes,
      md5Portable = portable))
  }

  /** MinHash signatures via explode + ONE wide hash aggregate — the shape for
    * inputs that arrive as a shingle/token TABLE (one row per occurrence,
    * e.g. a materialized shingle table shared across pipelines) rather than a
    * per-doc text column: each affine hash applies inside a partial
    * (map-side) min and the shuffle carries `numHashes` longs per doc per
    * partition. For per-doc text input [[minhashSigs]]'s row-local kernel
    * needs no shuffle at all and replaces this. */
  def minhashSigsAgg(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 64, shingleSize: Int = 3): DataFrame =
    sigsFromShingleHash(shingleHashRows(df, idCol, textCol, shingleSize),
      idCol, numHashes)

  /** LSH banding: (docId, band, bandHash) rows. Two docs are candidates iff
    * they share a bandHash in some band. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, numHashes: Int = 64): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands): a " +
        "trailing partial band would slice past the signature end, hash the " +
        "empty slice identically for every doc, and degenerate that band " +
        "into one corpus-wide O(n²) bucket")
    val rows = math.max(1, numHashes / bands)
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col(sigCol), b * lit(rows) + lit(1), lit(rows)), b)))
      .as(Seq("band", "band_hash")))
  }

  /** md5-portable LSH banding: (idCol, band, band_key) rows with
    * md5-of-concat band keys so DuckDB can reproduce them. */
  private def portableBands(sigs: DataFrame, idCol: String,
                            numHashes: Int, bands: Int,
                            carry: Seq[String] = Nil): DataFrame = {
    val rows = numHashes / bands
    sigs.select((col(idCol) +: carry.map(col)) :+ posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => md5(to_binary(concat_ws(",",
            transform(slice(col("sig"), b * rows + 1, lit(rows)), h => h.cast(StringType))), lit("utf-8")))))
      .as(Seq("band", "band_key")): _*)
  }

  /** LSH banding of a (idCol, sig) frame on one hash base — the only code
    * that knows the two band layouts. Returns the (idCol, band, key) rows
    * and the key columns a band STORE persists and joins on (bucketed on
    * the last): [[lshBands]] mixes the band index into the xxhash64 seed,
    * so `band_hash` alone is the key; the md5 band key is a plain
    * md5-of-concat a DuckDB oracle rebuilds, so `band` stays beside
    * `band_key`. */
  private def bandRows(sigs: DataFrame, idCol: String, numHashes: Int,
                       bands: Int, portable: Boolean): (DataFrame, Seq[String]) =
    (if (portable) portableBands(sigs, idCol, numHashes, bands)
      else lshBands(sigs, idCol, "sig", bands, numHashes), bandKeys(portable))

  private def bandKeys(portable: Boolean): Seq[String] =
    if (portable) Seq("band", "band_key") else Seq("band_hash")

  /** bucket-local candidate self-join over banded rows (idCol, band, key):
    * distinct (id_a, id_b) pairs sharing a band key. Both sides are the same
    * subplan shuffled on the same keys, so Spark's exchange reuse computes the
    * banding once even when `banded` is uncached. */
  private def bandSelfJoinPairs(banded: DataFrame, idCol: String,
                                keyCol: String): DataFrame =
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col(s"l.$keyCol") === col(s"r.$keyCol") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b")).distinct()

  /** MinHash-LSH candidate pairs of a (idCol, sig) frame: [[bandRows]] +
    * the bucket-local self-join on (band, key). */
  private def bandPairs(sigs: DataFrame, idCol: String, numHashes: Int,
                        bands: Int, portable: Boolean): DataFrame = {
    val (banded, keys) = bandRows(sigs, idCol, numHashes, bands, portable)
    bandSelfJoinPairs(banded, idCol, keys.last)
  }

  /** MinHash-LSH candidate pairs with estimated Jaccard (signature agreement
    * fraction). The self-join is bucket-local: shuffle on the band keys
    * only. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleSize: Int = 3): DataFrame =
    minhashCandidatesWithSigs(df, idCol, textCol, numHashes, bands, shingleSize)._1

  /** as [[minhashCandidates]] but also returns the signature frame the
    * candidates join, `localCheckpoint`ed ONCE: the pairs' banding and both
    * estimate joins read it, and a checkpoint (unlike a cache) pins nothing
    * for the session — its blocks are freed by the ContextCleaner once the
    * frames are unreferenced, so no caller has to `unpersist`. Band rows
    * carry ids only, never the signature (that would grow the band shuffle
    * by `numHashes` longs per band row). `portable` picks the hash base (see
    * [[minhashSigs]]). */
  def minhashCandidatesWithSigs(df: DataFrame, idCol: String, textCol: String,
                                numHashes: Int = 64, bands: Int = 16,
                                shingleSize: Int = 3,
                                portable: Boolean = false): (DataFrame, DataFrame) = {
    val sigs = minhashSigs(df, idCol, textCol, numHashes, shingleSize, portable)
      .localCheckpoint()
    val withEst = bandPairs(sigs, idCol, numHashes, bands, portable)
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        estJaccard(col("sig_a"), col("sig_b"), numHashes, portable))
      .select("id_a", "id_b", "est_jaccard")
    (withEst, sigs)
  }

  /** estimated Jaccard of two signatures: the fraction of agreeing
    * positions. Each hash base keeps the estimate its oracle replicates:
    * xxhash64 rounds to 6 dp over the signature width, md5 divides by
    * numHashes. */
  private def estJaccard(a: Column, b: Column, numHashes: Int,
                         portable: Boolean): Column = {
    val agree = aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast(DoubleType)
    if (portable) agree / numHashes else round(agree / size(a), 6)
  }

  /** MinHash-LSH dedup: drop every doc that is LSH-similar (est. Jaccard ≥
    * threshold) to a lower-id doc. (Greedy min-id representative — the
    * standard single-pass policy; full transitive clustering would need
    * iterative connected components.) `portable = true` is the md5 hash
    * base whose WHOLE pipeline (shingle → affine min-hash → banding →
    * bucket-local candidates → estimated-Jaccard threshold → drop higher
    * id) a DuckDB SQL oracle replicates exactly.
    *
    * The signatures are the one materialization (see
    * [[minhashCandidatesWithSigs]]); the dup-id set stays lazy, because its
    * only consumer is the anti-join below. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, numHashes: Int = 64,
                   bands: Int = 16, portable: Boolean = false): DataFrame = {
    val dupIds = minhashCandidatesWithSigs(df, idCol, textCol, numHashes,
        bands, portable = portable)._1
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    // no broadcast hint: the dup-id set can be a large fraction of the corpus
    // at scale — let AQE pick broadcast vs shuffle from the observed size.
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** [[minhashDedup]]'s md5 preset — 16 hashes, 4 bands × 4 rows, 3-gram
    * shingles — the exact pipeline the q_minhash_oracle and curation DuckDB
    * oracles replicate (same seed-42 (a,b) parameters, embedded in the
    * generated oracle SQL). */
  def minhashDedupPortable(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double = 0.5): DataFrame =
    minhashDedup(df, idCol, textCol, threshold, numHashes = PortableHashes,
      bands = PortableBands, portable = true)

  private[graft] val PortableHashes = 16
  private val PortableBands = 4

  /** [[minhashDedupPortable]]'s dropped ids over a (idCol, sig) frame of
    * its signatures, in ONE band self-join: the band rows carry the
    * signature, so the estimate is filtered inside the join — no distinct
    * pairs and no signature joins. Returns the higher id of every
    * candidate pair at or above `threshold`, once per matching band row;
    * as a set it is exactly the set [[minhashDedup]] anti-joins. The join
    * is a LEFT SEMI join of the higher-id side: Spark sizes a semi join as
    * its left input, not as a pair product, so a consumer that anti-joins
    * these ids plans a broadcast of them from the start instead of two
    * shuffles that adaptive execution later turns into one. */
  private[graft] def portableNearDupIds(sigs: DataFrame, idCol: String,
                                        threshold: Double): DataFrame = {
    val banded = portableBands(sigs, idCol, PortableHashes, PortableBands,
      carry = Seq("sig"))
    banded.as("r").join(banded.as("l"),
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col(s"l.$idCol") < col(s"r.$idCol") &&
          estJaccard(col("l.sig"), col("r.sig"), PortableHashes,
            portable = true) >= threshold, "left_semi")
      .select(col(s"r.$idCol").as(idCol))
  }

  /** MinHash-LSH near-dup pairs (id_a, id_b) with est. Jaccard ≥ threshold,
    * materialized (`localCheckpoint`: the policies below read the pairs
    * more than once) — the candidate chain the
    * corpus-level compositions share: feed it to [[clusterDedupFromPairs]],
    * [[clusterDedupFromPairsKeepBest]], [[clusterSizeHistogramFromPairs]],
    * [[goldenRecord]] or [[splitLeakageFromPairs]]. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, numHashes: Int = 64,
                   bands: Int = 16, shingleSize: Int = 3,
                   portable: Boolean = false): DataFrame = {
    minhashCandidatesWithSigs(df, idCol, textCol, numHashes, bands,
        shingleSize, portable)._1
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b").localCheckpoint()
  }

  // ---------------------------------------------------------------------
  // Incremental dedup against a PERSISTED signature store — the most common
  // production deployment shape: each new crawl is deduped against the
  // already-kept corpus, not re-deduped from scratch. The store is two
  // bucketed parquet tables:
  //   <store>_sigs  (idCol, sig)             bucketed by idCol
  //   <store>_bands (idCol, band key cols)   bucketed by the band key
  // At 100 TB the store is the BIG side (the whole kept corpus) and the new
  // crawl is comparatively small, so the layout is chosen to never reshuffle
  // the store: the candidate join keys on the bands table's bucket column
  // (pre-partitioned scan, no Exchange — BucketingSpec asserts this) and the
  // signature verify keys on the sigs table's idCol bucket. Only the new
  // batch — the small side — is shuffled, and appending survivors is an
  // additive bucket-file write, never a rewrite of history.

  /** core of [[minhashDedupAgainst]] on either hash base:
    * bucket-local candidate join (new banded rows × STORE banded rows on the
    * band key) + signature-agreement verify against the store sigs table.
    * Returns the LAZY dup new-batch id frame; the updateStore branch pins
    * the survivors it derives ([[StoreSpec.keep]]), and the read-only path
    * keeps it as one job. */
  private def dedupAgainstCore(idCol: String,
                               newSigs: DataFrame, newBanded: DataFrame,
                               storeBanded: DataFrame, storeSigs: DataFrame,
                               bandKeys: Seq[String], threshold: Double,
                               numHashes: Int): DataFrame = {
    val cands = newBanded.select((bandKeys :+ idCol).map(col): _*)
      .join(storeBanded.select(bandKeys.map(col) :+ col(idCol).as("__sid"): _*),
        bandKeys)
      .select(col(idCol), col("__sid")).distinct()
    cands
      .join(newSigs.select(col(idCol), col("sig")), idCol)
      .join(storeSigs.select(col(idCol).as("__sid"), col("sig").as("__ssig")),
        "__sid")
      .withColumn("__est",
        // width guard INSIDE the est expression (an unused assert column
        // would be pruned): a probe/store signature-length mismatch means
        // the caller's numHashes differs from the store build — zip_with
        // would null-pad and count every padded slot as disagreement,
        // silently letting true duplicates survive. The store spec's check
        // catches this at probe entry for stores carrying build properties;
        // this backstops pre-property stores and hand-built frames.
        when(size(col("sig")) === size(col("__ssig")),
          aggregate(zip_with(col("sig"), col("__ssig"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast(DoubleType) / numHashes)
          .otherwise(raise_error(concat(
            lit("minhash store signature width mismatch: new-batch sig has "),
            size(col("sig")).cast(StringType),
            lit(" hashes, store sig has "),
            size(col("__ssig")).cast(StringType),
            lit(" — probe with the store's numHashes/bands")))))
      .filter(col("__est") >= threshold)
      .select(idCol).distinct()
  }

  /** the MinHash store: `_sigs` (the signature frame as given) bucketed by
    * id, and [[bandRows]]' store key columns in `_bands`, bucketed on the
    * last key. The batch is an (id, sig) frame. */
  private def minhashStore(store: String, idCol: String, numHashes: Int,
                           bands: Int, portable: Boolean): StoreSpec =
    StoreSpec(store,
      Map("numHashes" -> numHashes, "bands" -> bands, "portable" -> portable),
      Seq(Table("_sigs", idCol, identity),
        Table("_bands", bandKeys(portable).last, sigs =>
          bandRows(sigs, idCol, numHashes, bands, portable)._1
            .select((idCol +: bandKeys(portable)).map(col): _*))))

  /** create/replace a MinHash signature store from a signature frame (e.g.
    * [[minhashSigs]] over the initial corpus, on the hash base `portable`
    * names). The bands table keeps [[bandRows]]' store key columns:
    * `band_hash` alone on xxhash64, `band` + `band_key` on md5 (a DuckDB
    * oracle can rebuild those store contents exactly). */
  def writeMinhashStore(sigs: DataFrame, idCol: String, store: String,
                        bands: Int, numHashes: Int = 64,
                        nBuckets: Int = 8, portable: Boolean = false): Unit = {
    // materialize the signature kernel ONCE — both table writes consume it
    // (the un-checkpointed form re-ran the minhash kernel per write)
    val s = sigs.localCheckpoint()
    minhashStore(store, idCol, numHashes, bands, portable).create(s, nBuckets)
    s.unpersist(blocking = false)
  }

  /** incremental MinHash-LSH dedup of `newBatch` against the persisted store
    * written by [[writeMinhashStore]]: drop every new doc LSH-similar
    * (est. Jaccard ≥ threshold) to ANY stored doc, and (when `updateStore`)
    * append the survivors' signatures and band rows to the store so the next
    * batch dedups against them too. `newBatch` is assumed internally deduped
    * (compose [[minhashDedup]] first) and its ids disjoint from the store's.
    * On the md5 base the WHOLE incremental flow (store sigs + banding +
    * cross-store candidates + est-jaccard threshold + survivor anti-join)
    * is verified by an exact SQL oracle. */
  def minhashDedupAgainst(newBatch: DataFrame, idCol: String, textCol: String,
                          store: String, threshold: Double = 0.8,
                          numHashes: Int = 64, bands: Int = 16,
                          updateStore: Boolean = true,
                          portable: Boolean = false): DataFrame = {
    val spark = newBatch.sparkSession
    val spec = minhashStore(store, idCol, numHashes, bands, portable)
    spec.check(spark)
    // localCheckpoint: the new-batch signatures feed the candidate join, the
    // verify join, and the store append — compute the fused kernel once.
    val newSigs = minhashSigs(newBatch, idCol, textCol, numHashes,
      portable = portable).localCheckpoint()
    val (newBanded, keys) = bandRows(newSigs, idCol, numHashes, bands, portable)
    val dupIds = dedupAgainstCore(idCol, newSigs, newBanded,
      spark.table(s"${store}_bands"), spark.table(s"${store}_sigs"),
      keys, threshold, numHashes)
    // every doc has a signature, so the surviving signatures name the
    // surviving docs
    if (updateStore) newBatch.join(
      spec.keep(newSigs.join(dupIds, Seq(idCol), "left_anti"), update = true)
        .select(idCol), Seq(idCol), "left_semi")
    else newBatch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** the key-set stores: one table of distinct keys bucketed on the key,
    * which the batch carries as `__<key>` ([[keyed]]) */
  private def keySetStore(store: String, suffix: String, key: String,
                          params: Map[String, Any]): StoreSpec =
    StoreSpec(store, params, Seq(Table(suffix, key,
      _.select(col(s"__$key").as(key)).distinct())))

  /** the EXACT-dedup store `<store>_fps (fp)`: distinct normalized-content
    * fingerprints ([[TextAnalysis.fingerprint]]) of the kept corpus */
  private[graft] def fingerprintStore(store: String): StoreSpec =
    keySetStore(store, "_fps", "fp", Map.empty)

  /** the SIMHASH store `<store>_sigs (sig)`: the kept corpus's distinct
    * signatures on the hash base `portable` names */
  private[graft] def simhashStore(store: String, portable: Boolean): StoreSpec =
    keySetStore(store, "_sigs", "sig", Map("portable" -> portable))

  /** `df` with the key-set store's key column `__<key>` */
  private[graft] def keyed(df: DataFrame, spec: StoreSpec,
                           key: Column): DataFrame =
    df.withColumn(s"__${spec.tables.head.key}", key)

  /** drop every row of `newBatch` whose `key` the key-set store already
    * holds — an anti-join on the store's own bucket column, so the store is
    * never reshuffled — and, when `updateStore`, append the survivors'
    * distinct keys as new bucket files. Two new rows sharing a key both
    * pass: the batch is deduped first. */
  private def keySetAgainst(newBatch: DataFrame, key: Column, spec: StoreSpec,
                            updateStore: Boolean): DataFrame = {
    val spark = newBatch.sparkSession
    spec.check(spark)
    val k = spec.tables.head.key
    spec.keep(keyed(newBatch, spec, key)
        .join(spark.table(spec.table).withColumnRenamed(k, s"__$k"),
          Seq(s"__$k"), "left_anti"), updateStore)
      .drop(s"__$k")
  }

  /** create/replace the EXACT-dedup store ([[fingerprintStore]]) — the
    * lightweight sibling of [[writeMinhashStore]] for the exact-duplicate
    * pass that precedes near-dup in every pipeline. */
  def writeFingerprintStore(df: DataFrame, textCol: String, store: String,
                            nBuckets: Int = 8): Unit = {
    val spec = fingerprintStore(store)
    spec.create(keyed(df, spec, TextAnalysis.fingerprint(col(textCol))),
      nBuckets)
  }

  /** incremental EXACT dedup against the fingerprint store
    * ([[keySetAgainst]]); the new batch is assumed internally deduped first
    * ([[exactDedup]] on the fingerprint). */
  def exactDedupAgainst(newBatch: DataFrame, textCol: String, store: String,
                        updateStore: Boolean = true): DataFrame =
    keySetAgainst(newBatch, TextAnalysis.fingerprint(col(textCol)),
      fingerprintStore(store), updateStore)

  /** [[exactDedupAgainst]] with a BLOOM prefilter on store membership — the
    * 100 TB probe shape: the store's fingerprints are sketched ONCE into a
    * bloom filter (megabytes even for billions of rows), every new doc
    * probes the sketch inside its own scan stage (~ns/row, no join), and
    * only the might-contain positives — true dups plus the fpp fraction —
    * ever touch the store's bucketed table for the exact anti-join. A
    * bloom filter has no false negatives, so the result is IDENTICAL to
    * [[exactDedupAgainst]] (asserted in BucketingSpec; q_dedup_incr_bloom
    * shares q_dedup_incr_exact's oracle). Read-only by design — updates
    * flow through [[exactDedupAgainst]]'s append, and a sketch staler than
    * the store only costs extra exact checks, never correctness. The
    * fingerprint projection is recomputed on each branch rather than
    * checkpointing the batch: md5-per-row is the cheap part, pinning the
    * whole new crawl in executor storage is not. */
  def exactDedupAgainstBloom(newBatch: DataFrame, textCol: String,
                             store: String,
                             expectedItems: Long = 1000000L,
                             numBits: Long = 8388608L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val spark = newBatch.sparkSession
    val storeFps = spark.table(s"${store}_fps")
    val bloomAgg = GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(col("fp"))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression)
    val sketch: Array[Byte] = storeFps.agg(bloomAgg.as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val withFp = newBatch
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    // empty store → null sketch (aggregate over zero rows): all docs survive
    if (sketch == null) return withFp.drop("__fp")
    val mightContain = GraftSqlBridge.column(BloomFilterMightContain(
      GraftSqlBridge.expression(lit(sketch)),
      GraftSqlBridge.expression(xxhash64(col("__fp")))))
    // project the probe ONCE into a boolean column: both branch filters
    // reference __mc, so the megabyte-scale sketch literal appears in the
    // plan once, not once per branch
    val probed = withFp.withColumn("__mc", mightContain)
    val negatives = probed.filter(!col("__mc")).drop("__mc") // provably not stored
    val positives = probed.filter(col("__mc")).drop("__mc")
      .join(storeFps.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
    // unionByName: the using-column anti-join moves __fp first, so a
    // positional union would misalign every other column
    negatives.unionByName(positives).drop("__fp")
  }

  /** create/replace the SIMHASH near-dup store ([[simhashStore]]) — the
    * middle member of the store family: broader than the exact fingerprint
    * store (word REORDERINGS and anything else preserving the distinct
    * token set collapse to one signature) but cheaper than the banded
    * minhash store (one 8-byte key, no banding explosion). */
  def writeSimhashStore(df: DataFrame, idCol: String, textCol: String,
                        store: String, portable: Boolean = false,
                        nBuckets: Int = 8): Unit = {
    val spec = simhashStore(store, portable)
    spec.create(keyed(Fan.out(df.select(col(idCol), col(textCol))), spec,
      simhashCol(col(textCol), portable)), nBuckets)
  }

  /** incremental SimHash dedup against [[writeSimhashStore]]'s table
    * ([[keySetAgainst]]): drops every new doc whose signature the kept
    * corpus already holds (hamming-0 near-copies — token-set-identical
    * variants the exact fingerprint store misses). */
  def simhashDedupAgainst(newBatch: DataFrame, idCol: String, textCol: String,
                          store: String, portable: Boolean = false,
                          updateStore: Boolean = true): DataFrame =
    keySetAgainst(newBatch, simhashCol(col(textCol), portable),
      simhashStore(store, portable), updateStore)

  /** the embedding bands table's single JOIN KEY: (band, sig) packed into
    * one long — the same fix as [[packedBandKey]]: a two-column join on a
    * sig-only bucket spec re-exchanged BOTH sides (the store included).
    * Injective under lshBandSignatures' own `bandBits·bands ≤ 64` require
    * (bands ≥ 2 ⇒ bandBits ≤ 32, so band·2^bandBits never overflows;
    * bands = 1 ⇒ band = 0 and the key IS the sig). */
  private def packedEmbBandKey(band: Column, sig: Column,
                               bandBits: Int): Column =
    if (bandBits >= 63) sig
    else band.cast(LongType) * lit(1L << bandBits) + sig

  /** the EMBEDDING store: `<store>_bands (id, __bs)` (banded hyperplane
    * signatures under the packed band key [[packedEmbBandKey]], bucketed by
    * `__bs` — ONE equi-key, so the probe's candidate join reads the store's
    * buckets without reshuffling them, plan-pinned in BucketingSpec) and
    * `<store>_vecs (id, vec, fullsig)` (bucketed by id — the exact-cosine
    * verify side; the pooled full signature is persisted because the
    * STREAMING twin equi-joins on it every micro-batch). */
  private[graft] def embeddingStore(store: String, idCol: String,
                                    vecCol: String, dim: Int, bandBits: Int,
                                    bands: Int, seed: Long): StoreSpec =
    StoreSpec(store,
      Map("dim" -> dim, "bandBits" -> bandBits, "bands" -> bands,
        "seed" -> seed, "enc" -> "bands_packed_v2"),
      Seq(Table("_bands", "__bs", embeddingBands(_, idCol, vecCol, dim,
          bandBits, bands, seed)),
        Table("_vecs", idCol, _.select(col(idCol), col(vecCol).as("vec"),
          Similarity.lshSignature(col(vecCol), dim, bandBits * bands, seed)
            .as("fullsig")))),
      required = Set("enc"))

  private def embeddingBands(df: DataFrame, idCol: String, vecCol: String,
                             dim: Int, bandBits: Int, bands: Int,
                             seed: Long): DataFrame =
    Similarity.lshBandSignatures(df, idCol, vecCol, dim, bandBits, bands, seed)
      .select(col(idCol),
        packedEmbBandKey(col("band"), col("sig"), bandBits).as("__bs"))

  /** create/replace the EMBEDDING near-dup store ([[embeddingStore]]) — the
    * fourth store member, covering semantic/representation space. Same
    * banding math as [[embeddingNearDupLsh]]. Bands tables written before
    * the packed key (layout (id, band, sig)) refuse at probe time with
    * rebuild advice — unlike the vecs-side fullsig upgrade, the key layout
    * cannot be bridged at read time. */
  def writeEmbeddingStore(df: DataFrame, idCol: String, vecCol: String,
                          store: String, dim: Int, bandBits: Int = 16,
                          bands: Int = 4, seed: Long = 42L,
                          nBuckets: Int = 8): Unit =
    embeddingStore(store, idCol, vecCol, dim, bandBits, bands, seed)
      .create(df, nBuckets)

  /** incremental EMBEDDING near-dup against [[writeEmbeddingStore]]: new
    * vectors are banded with the SAME planes, candidates come from the
    * packed band-key match against the store's banded table (bucketed on
    * `__bs` — the store never reshuffles; only the new batch does,
    * plan-pinned), the exact-cosine
    * verify joins the store's vecs table on its id bucket, and every new
    * id with cosine ≥ threshold against ANY stored vector is dropped.
    * Survivors' bands and vectors append as new bucket files when
    * `updateStore`. */
  def embeddingNearDupAgainst(newBatch: DataFrame, idCol: String,
                              vecCol: String, store: String,
                              threshold: Double, dim: Int,
                              bandBits: Int = 16, bands: Int = 4,
                              seed: Long = 42L,
                              updateStore: Boolean = true): DataFrame = {
    val spark = newBatch.sparkSession
    val spec = embeddingStore(store, idCol, vecCol, dim, bandBits, bands, seed)
    spec.check(spark)
    val cands = embeddingBands(newBatch, idCol, vecCol, dim, bandBits, bands,
        seed)
      .join(spark.table(s"${store}_bands")
          .withColumnRenamed(idCol, "__sid"),
        Seq("__bs"))
      .select(col(idCol), col("__sid")).distinct()
    val dupIds = cands
      .join(newBatch.select(col(idCol), col(vecCol).as("__nv")), idCol)
      .join(spark.table(s"${store}_vecs")
          .select(col(idCol).as("__sid"), col("vec").as("__sv")),
        "__sid")
      .filter(Similarity.cosine(col("__nv"), col("__sv")) >= threshold)
      .select(idCol).distinct()
    spec.keep(newBatch.join(dupIds, Seq(idCol), "left_anti"), updateStore)
  }

  /** connected components over a candidate pair graph by iterative min-label
    * propagation WITH pointer-doubling: every node starts labeled with its
    * own id; each round takes the min of its label and its neighbors' labels
    * (one-hop relax), then shortcuts label ← min(label, label(label)) — so
    * the propagation distance roughly DOUBLES per round and convergence is
    * O(log diameter) rounds, not O(diameter). A 50-long duplicate chain
    * (pathological but real: serial near-copies of near-copies) converges in
    * ~7 rounds where pure relaxation needs 49 — proven in Round4OpsSpec. The
    * default maxIter = 20 therefore covers diameters to ~2^20 instead of 20.
    * Each round is three shuffles (edge join + min aggregate + the shortcut
    * self-join) over constant-size checkpointed plans. The shortcut join
    * keys on the current label — inside a giant component that key
    * concentrates toward the component min as rounds progress; AQE's skew
    * split handles the hot key (the alternative, Kiveris large-star/
    * small-star, rewrites edges instead and needs the same skew handling).
    * Returns (id, label) for every node that appears in `pairs`. */
  def clusterLabels(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                    maxIter: Int = 20): DataFrame = {
    // truncate lineage up front: the pair set usually carries a deep
    // candidate-generation plan (minhash signatures, banding, self-join) and
    // an iterative loop must not re-analyze that whole tree every round —
    // measured minutes of pure Catalyst analysis at sf0.01 without this.
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // rounds are bounded by component diameter; each is two bucket-local
      // shuffles over constant-size checkpointed plans, so iterating to the
      // fixpoint is cheap — maxIter is only a runaway guard (see below)
      val nbrMin = edges.as("e")
        .join(labels.as("l"), col("e.src") === col("l.id"))
        .groupBy(col("e.dst").as("id"))
        .agg(min(col("l.label")).as("nl"))
      val relaxed = labels.as("l").join(nbrMin.as("n"), Seq("id"), "left")
        .select(col("id"),
          least(col("l.label"), coalesce(col("n.nl"), col("l.label"))).as("label"),
          col("l.label").as("__old"))
      // pointer-doubling shortcut: label ← min(label, label(label)). The
      // right side is `relaxed` keyed by id-renamed-to-label (one row per
      // id, so the join is N:1); at the fixpoint every component min labels
      // itself, so the shortcut is the identity there and convergence
      // detection below is unaffected. Engaged from round 2 only: the
      // common near-dup graph (shallow stars and short chains) converges
      // under pure relaxation within two rounds, and paying the shortcut's
      // extra join there would add a shuffle per round for nothing — a
      // graph still changing at round 2 is exactly the deep-chain case the
      // doubling exists for.
      // localCheckpoint materializes eagerly AND keeps every round's plan
      // constant-size (labels_i never references labels_{i-1}'s plan); the
      // old label rides along so convergence is a filter on the checkpointed
      // frame, not another join
      val next = (if (iter < 2) relaxed.localCheckpoint()
        else {
          // materialize the relax step BEFORE the shortcut self-join:
          // joining `relaxed` with a projection of itself would otherwise
          // evaluate the relax subtree (edge join + min aggregate) twice
          // per round — checkpointed, both join sides read the one
          // materialized result
          val relaxedCp = relaxed.localCheckpoint()
          relaxedCp
            .join(relaxedCp.select(col("id").as("label"), col("label").as("__ll")),
              Seq("label"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("__ll"), col("label"))).as("label"),
              col("__old"))
            .localCheckpoint()
        })
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.drop("__old")
      iter += 1
    }
    // exiting on iter with changed > 0 would silently return PARTIAL labels —
    // downstream dedup would keep docs a converged run drops, breaking the
    // "identical results either way" contract of clusterDedupFromPairs. Fail
    // loudly instead: a component diameter above maxIter means the caller
    // should raise maxIter (rounds are cheap), not ship a wrong answer.
    if (changed > 0)
      throw new IllegalStateException(
        s"clusterLabels: min-label propagation did not converge in $maxIter " +
          s"rounds ($changed labels still changing) — component diameter " +
          "exceeds maxIter; raise maxIter (each round is two bucket-local " +
          "shuffles over constant-size checkpointed plans)")
    log.info(s"clusterLabels: converged in $iter rounds")
    labels
  }

  /** pair count below which components are solved with a driver-side
    * union-find instead of the iterative distributed loop: 2M pairs ≈ 32 MB
    * of longs — trivially driver-safe. LSH keeps non-dup collisions ~linear,
    * so the candidate count tracks the TRUE near-dup count — which at 100 TB
    * of crawl data (dup rates of 20-50% are normal) far exceeds 2M: the
    * distributed min-label loop is the EXPECTED regime at that scale, and the
    * driver path is the small-corpus / interactive fast path. The switch is
    * automatic either way. */
  val DriverUnionFindMaxPairs: Long = 2L * 1000 * 1000

  /** driver-side union-find over a collected pair list → (node, component
    * root) for every node. Union by min, so each root is its component's
    * minimum id: the label [[clusterLabels]] converges to. */
  private def unionFind(pairRows: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val nodes: Set[Long] = pairRows.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    nodes.iterator.map(n => (n, find(n))).toSeq
  }

  /** transitive dedup over an explicit candidate pair set: keep only each
    * connected component's minimum id (plus every unpaired doc). This is the
    * policy production near-dup dedup uses; the greedy drop-id_b policy in
    * [[minhashDedup]] keeps a doc that is similar to a dropped doc's
    * neighbor — e.g. pairs (1,3),(2,3): greedy keeps {1,2}, clustering
    * collapses the whole component to {1}.
    *
    * Hybrid execution ([[componentLabels]]): a driver union-find under the
    * pair budget ([[DriverUnionFindMaxPairs]]), the distributed min-label
    * propagation ([[clusterLabels]]) above it. Identical results either way
    * (`maxDriverPairs = 0` forces the distributed path — used in tests). */
  def clusterDedupFromPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                            maxDriverPairs: Long = DriverUnionFindMaxPairs): DataFrame =
    df.join(componentLabels(pairs, maxDriverPairs, "clusterDedupFromPairs")
        .filter(col("label") =!= col("id")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** keep-BEST-per-component variant of [[clusterDedupFromPairs]]: instead
    * of each component's minimum id, the survivor is the component member
    * maximizing `score` (ties broken toward the smaller id, so the result
    * is deterministic). This is the policy production corpus dedup actually
    * wants — near-dup clusters usually mix a complete original with
    * truncated or boilerplate-wrapped copies, and min-id keeps an arbitrary
    * one while keep-best keeps the longest / highest-quality copy.
    *
    * Same hybrid execution as [[clusterDedupFromPairs]] (driver union-find
    * under the pair budget, distributed min-label propagation above it;
    * identical results either way). The extra work over keep-min is one
    * hash aggregate + one anti-join over CLUSTERED docs only — the pair
    * graph's nodes, not the corpus. Ids must be INTEGRAL (Byte/Short/Int/
    * Long): the Long cast that aligns them with the pair graph truncates
    * fractional Double/Decimal ids, which could collide distinct ids and
    * mismatch the graph — rejected loudly instead. A NULL score ranks
    * BELOW every non-null score (a doc with no score is never preferred
    * over one with a score; among all-null components the smallest id
    * survives) — explicit in the aggregate, not left to struct-null
    * ordering. */
  def clusterDedupFromPairsKeepBest(df: DataFrame, idCol: String, score: Column,
                                    pairs: DataFrame,
                                    maxDriverPairs: Long = DriverUnionFindMaxPairs): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"clusterDedupFromPairsKeepBest needs an integral id column " +
        s"(Byte/Short/Int/Long — the Long alignment cast must be lossless), " +
        s"got $idType for '$idCol'")
    val labels = componentLabels(pairs, maxDriverPairs,
      "clusterDedupFromPairsKeepBest")
    // clustered docs only: inner join against the labeling, then ONE hash
    // aggregate picks each component's (non-null-first, max score, then min
    // id) survivor — max over struct(score IS NOT NULL, score, -id, id) is
    // exactly that ordering, computed with map-side partials, never a
    // per-component sort
    val scored = df.select(col(idCol).cast(LongType).as("id"), score.as("__score"))
      .join(labels, Seq("id"))
    val best = scored.groupBy(col("label"))
      .agg(max(struct(col("__score").isNotNull.as("nn"),
        col("__score").as("s"), (lit(0L) - col("id")).as("negid"),
        col("id").as("id"))).as("__b"))
      .select(col("__b.id").as("__keep"))
    val drop = scored.join(best, scored("id") === best("__keep"), "left_anti")
      .select(col("id").cast(df.schema(idCol).dataType).as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** [[minhashPairs]] + transitive connected-components dedup. On the md5
    * base (`portable = true`) the DuckDB oracle replicates the whole
    * pipeline, with the connected components as a recursive CTE. */
  def clusterDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, numHashes: Int = 64,
                   bands: Int = 16, portable: Boolean = false): DataFrame =
    clusterDedupFromPairs(df, idCol, minhashPairs(df, idCol, textCol,
      threshold, numHashes, bands, portable = portable))

  /** the (id, component-label) frame for a pair set — the label is the
    * component MINIMUM id — under one hybrid regime: driver union-find below
    * the pair budget (two jobs: bounded probe + collect), distributed
    * min-label propagation above it. The pair is the frame's first two
    * columns, whatever their names, in both regimes, so the answer never
    * depends on the pair count. */
  private def componentLabels(pairs: DataFrame, maxDriverPairs: Long,
                              caller: String): DataFrame = {
    val p = pairs.select(col(pairs.columns(0)).as("id_a"),
      col(pairs.columns(1)).as("id_b"))
    val longIds = p.schema.fields.forall(_.dataType == LongType)
    // regime probe bounded by the budget: limit(budget+1).count() stops
    // scanning once budget+1 rows exist, so a 100 TB-scale candidate set
    // never pays a full count just to learn "too big for the driver" (the
    // answer is exact within the only range that matters, 0..budget+1)
    val probeCap = math.min(maxDriverPairs + 1, Int.MaxValue.toLong).toInt
    val probed = if (longIds) p.limit(probeCap).count() else -1L
    val useDriver = longIds && probed <= maxDriverPairs
    log.info(s"$caller: ${
      if (probed > maxDriverPairs) s"> $maxDriverPairs" else s"$probed"
    } candidate pairs (driver budget $maxDriverPairs) -> ${
      if (useDriver) "driver union-find" else "distributed min-label propagation"}")
    if (useDriver) {
      val spark = pairs.sparkSession
      import spark.implicits._
      broadcast(unionFind(p.collect().map(r => (r.getLong(0), r.getLong(1))))
        .toDF("id", "label"))
    } else clusterLabels(p)
  }

  /** cluster-SIZE histogram of the near-dup graph: (cluster_size,
    * n_clusters) rows including size-1 singletons (docs in no candidate
    * pair). This is the diagnostic surface a dedup rollout actually reads
    * — a fat tail of giant components means boilerplate or a too-loose
    * threshold is gluing the corpus together, and it must be visible
    * BEFORE a dedup pass drops (corpus − components) docs.
    *
    * Scale shape: label propagation over the pair set (e.g.
    * [[minhashPairs]]), then two hash aggregates (label → size,
    * size → count) and one anti-join for the singleton count — every
    * aggregate map-side partial, output rows = distinct cluster sizes
    * (tens), never corpus-sized. */
  def clusterSizeHistogramFromPairs(df: DataFrame, idCol: String,
                                    pairs: DataFrame): DataFrame = {
    val labels = componentLabels(pairs, DriverUnionFindMaxPairs,
      "clusterSizeHistogramFromPairs")
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    // pair-derived components are always ≥ 2 members, so the singleton row
    // never collides with a hist row
    val singles = df
      .join(labels.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
      .filter(col("n_clusters") > 0)
    hist.unionAll(singles).orderBy("cluster_size")
  }

  /** Entity-resolution SURVIVORSHIP ("golden record"): collapse each
    * near-dup component to ONE canonical row whose fields are chosen
    * per-field independently — for every requested field, the value comes
    * from the component member ranked first by (`prefer` DESC, id ASC)
    * among members where that field is NON-NULL. This is the step after
    * linkage (fuzzy join / minhash pairs → components): keep-best keeps one
    * whole row, survivorship assembles the most complete row — a cluster
    * mixing a long record with a null `lang` and a short one that has it
    * yields a golden record with BOTH.
    *
    * Singletons (rows in no pair) pass through as their own cluster, so
    * the output is a full canonical table: one row per entity.
    *
    * Plan shape: component labels via the [[clusterDedupFromPairs]] hybrid
    * (driver union-find under the pair budget, distributed min-label
    * propagation above), one left join to attach labels (pair-graph-sized
    * build side), then ONE hash aggregate over all fields — each field is
    * a max over struct(non-null, prefer, −id, value), computed with
    * map-side partials; no per-component sort, no windows. NULL `prefer`
    * ranks below every non-null prefer (same doctrine as
    * [[clusterDedupFromPairsKeepBest]]).
    *
    * Output: (cluster_id = component min id BIGINT, n_members BIGINT,
    * fields…) ordered by cluster_id. Ids must be integral — the Long
    * alignment cast with the pair graph must be lossless. */
  def goldenRecord(df: DataFrame, idCol: String, pairs: DataFrame,
                   prefer: Column, fields: Seq[String],
                   maxDriverPairs: Long = DriverUnionFindMaxPairs): DataFrame = {
    require(fields.nonEmpty, "goldenRecord: no fields requested")
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"goldenRecord needs an integral id column (Byte/Short/Int/Long — " +
        s"the Long alignment cast must be lossless), got $idType for '$idCol'")
    val labels = componentLabels(pairs, maxDriverPairs, "goldenRecord")
    val base = df.select(
      (col(idCol).cast(LongType).as("id") +:
        prefer.as("__prefer") +:
        fields.map(f => col(f))): _*)
      .join(labels, Seq("id"), "left")
      // a singleton is its own component; component labels are min ids, so
      // coalescing to the row id keeps cluster_id = min member id everywhere
      .withColumn("__cl", coalesce(col("label"), col("id")))
    val fieldAggs = fields.map { f =>
      max(struct(
        col(f).isNotNull.as("fnn"),
        col("__prefer").isNotNull.as("pnn"),
        col("__prefer").as("p"),
        (lit(0L) - col("id")).as("negid"),
        col(f).as("v"))).getField("v").as(f)
    }
    base.groupBy(col("__cl").as("cluster_id"))
      .agg(count(lit(1)).cast(LongType).as("n_members"), fieldAggs: _*)
      .orderBy("cluster_id")
  }

  /** Cross-SPLIT leakage audit: near-dup pairs whose members landed in
    * DIFFERENT train/val/test splits — the eval-integrity check every
    * pipeline should run AFTER split assignment (hash-interval splits are
    * content-blind: a near-duplicate of a test doc in train is silent eval
    * contamination that decontamination-vs-external-benchmarks never sees).
    * Takes the already-computed near-dup pair set (any candidate family)
    * and the per-id split assignment; returns (split_a, split_b, n_pairs)
    * with the split pair NORMALIZED lexicographically (train→val ≡
    * val→train) and same-split pairs dropped.
    *
    * Plan shape: two co-partitioned joins keyed on the pair ids (the
    * assignment side carries (id, split) only — column-pruned, never
    * documents), one small aggregate. Cost ∝ |pairs|, never corpus². */
  def splitLeakageFromPairs(pairs: DataFrame, assign: DataFrame,
                            idCol: String, splitCol: String): DataFrame = {
    val sp = assign.select(col(idCol).as("__sid"), col(splitCol).as("__sp"))
    pairs.select(col("id_a"), col("id_b"))
      .join(sp.withColumnRenamed("__sp", "__spa"),
        col("id_a") === col("__sid")).drop("__sid")
      .join(sp.withColumnRenamed("__sp", "__spb"),
        col("id_b") === col("__sid")).drop("__sid")
      .filter(col("__spa") =!= col("__spb"))
      .select(least(col("__spa"), col("__spb")).as("split_a"),
        greatest(col("__spa"), col("__spb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).cast(LongType).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  /** 64-bit SimHash over tokens: per-bit majority vote of token hashes,
    * computed as one fold over the token array into a 64-long vote vector —
    * single codegen'd projection, no shuffle. */
  def simhash64(text: Column): Column = {
    val toks = array_distinct(TextAnalysis.tokens(TextAnalysis.normalized(text)))
    val bits = (0 until 64).map { i =>
      val vote = aggregate(toks, lit(0),
        (acc, t) => acc +
          when(shiftright(xxhash64(t), i).bitwiseAND(1L) === 1L, 1).otherwise(-1))
      when(vote > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** the fused tokens→signature kernel as a COLUMN — a pure per-row
    * projection usable with `withColumn` (no join against a signature
    * frame; [[simhashDedupAgainst]] relies on this to avoid re-scanning
    * the batch). */
  private[graft] def simhashCol(textCol: Column,
                                portable: Boolean = false): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(textCol))
    GraftSqlBridge.column(graft.functions.SimHashTokensExpr(
      GraftSqlBridge.expression(toks), md5Portable = portable))
  }

  /** SimHash signatures as a DataFrame (idCol, simhash), computed ROW-LOCALLY
    * by the fused tokens→signature kernel
    * ([[graft.functions.SimHashTokensExpr]]): distinct-token dedup, xxhash64,
    * and all 64 majority votes in one codegen'd pass — no explode, no
    * shuffle. Bit-identical to [[simhash64]] and to [[simhashSigsAgg]]
    * (asserted in OperatorsSpec). Measured at sf0.1: the aggregate form
    * shipped 64 shuffle rows PER TOKEN through two hash aggregates.
    * `portable = true` gives 60-bit signatures on the md5 hash base DuckDB
    * can replicate (first 15 md5 hex chars = 60 bits keeps the value
    * positive in a signed BIGINT for both engines). */
  def simhashSigs(df: DataFrame, idCol: String, textCol: String,
                  portable: Boolean = false): DataFrame =
    Fan.out(df.select(col(idCol), col(textCol)))
      .select(col(idCol), simhashCol(col(textCol), portable).as("simhash"))

  /** SimHash via explode + majority-vote hash aggregates — the shape for
    * inputs that arrive as one-row-per-token tables; for per-doc text input
    * [[simhashSigs]]'s row-local kernel needs no shuffle and replaces this. */
  def simhashSigsAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perTok = df.select(col(idCol), explode(array_distinct(
        TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))).as("__tok"))
      .select(col(idCol), xxhash64(col("__tok")).as("__x"))
    val perBit = perTok
      .select(col(idCol), col("__x"), explode(sequence(lit(0), lit(63))).as("__i"))
      .groupBy(col(idCol), col("__i"))
      .agg(sum(expr("CASE WHEN (shiftright(__x, __i) & 1) = 1 THEN 1 ELSE -1 END")).as("__v"))
    // bit 63 as a sum would overflow a signed Long — use bit_or to assemble
    perBit.groupBy(col(idCol))
      .agg(bit_or(expr(
        "CASE WHEN __v > 0 THEN shiftleft(CAST(1 AS BIGINT), __i) ELSE CAST(0 AS BIGINT) END"))
        .as("simhash"))
  }

  /** SimHash near-dup groups at hamming distance 0: bucket by full
    * signature. For hamming distance > 0 (real Manku-style near-dup
    * matching) use [[simhashHammingPairs]] / [[simhashDedupHamming]]. On
    * the md5 base (`portable = true`) the whole pipeline gets an exact SQL
    * oracle; the explode+vote aggregate formulation the kernel replaced
    * survives as that oracle's CTE chain. */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   portable: Boolean = false): DataFrame = {
    // unfanned sigs on purpose: hamming-0 dedup is one projection + a tiny
    // groupBy — the fan-out's per-task constant exceeds the kernel cost
    // here (measured +0.4 s at sf0.1), unlike the banded-hamming paths
    val sig = df.select(col(idCol), simhashCol(col(textCol), portable).as("simhash"))
    exactDedup(sig, col("simhash"), idCol).join(df, Seq(idCol))
  }

  /** low-`width` ones mask. A full-width band (maxHamming=0 over a 64-bit
    * signature) needs an explicit all-ones mask — the JVM shift is mod 64,
    * so `(1L << 64) - 1` would be 0 and every row would share bucket 0,
    * silently degrading the bucket-local self-join to an O(n^2) cross join
    * (results stay correct via the hamming verify, but the linear-
    * candidate guarantee is lost). */
  private[graft] def bandMask(width: Int): Long =
    if (width >= 64) -1L else (1L << width) - 1

  /** the two-long (wide) signature columns: bits 0-59 in `sim_lo`, bits
    * 60..nBits−1 in `sim_hi` */
  private val WideSig = Seq("sim_lo", "sim_hi")

  /** The Manku band layout of a hamming ≤ `maxHamming` search over a
    * signature held in one long (`sigCols = Seq(sig)`, ≤ 64 bits) or in two
    * ([[WideSig]], ≤ 120 bits). The low `nBits` bits split into
    * `maxHamming + 1` disjoint bands — pigeonhole: two signatures differing
    * in ≤ maxHamming bits agree EXACTLY on at least one band, whichever
    * bits differ — with widths differing by at most 1 so selectivity stays
    * balanced. Band width sets bucket selectivity: at 60 bits and
    * maxHamming 3 each band has 2^15 buckets, and a larger corpus wants a
    * wider signature (two longs), not a lower maxHamming. A two-long band
    * is capped at 30 bits, which keeps every bucket key non-negative in a
    * DuckDB BIGINT and packable under [[packedBandKey]]. */
  private[graft] final case class HammingLayout(sigCols: Seq[String], nBits: Int,
                                                maxHamming: Int) {
    private val maxBits = if (sigCols.length == 2) 120 else 64
    require(maxHamming >= 0 && maxHamming < nBits,
      s"maxHamming ($maxHamming) must be in [0, nBits=$nBits)")
    require(nBits <= maxBits,
      s"a ${sigCols.length}-long signature supports ≤ $maxBits bits, got $nBits")
    private val bands = maxHamming + 1
    private val widths =
      (0 until bands).map(b => nBits / bands + (if (b < nBits % bands) 1 else 0))
    require(maxBits == 64 || widths.max <= 30,
      s"band width ${widths.max} > 30 bits: bucket keys would not be " +
        "DuckDB-BIGINT-shift-safe; raise maxHamming or narrow the signature")
    private val offsets = widths.scanLeft(0)(_ + _)

    /** band `b`'s bucket key. The unsigned shift keeps a set bit 63 from
      * smearing sign bits into the top band's key. */
    private def bandBits(b: Int): Column = sigCols.map(col) match {
      case Seq(lo, hi) => wideBandBits(lo, hi, offsets(b), widths(b))
      case Seq(sig) =>
        shiftrightunsigned(sig, offsets(b)).bitwiseAND(lit(bandMask(widths(b))))
    }

    /** (idCol, carry…, signature…, band, band_bits): one row per band */
    def banded(sigs: DataFrame, idCol: String, carry: Seq[String] = Nil): DataFrame =
      sigs.select((idCol +: carry ++: sigCols).map(col) :+
        posexplode(array(widths.indices.map(bandBits): _*)).as(Seq("band", "band_bits")): _*)

    /** hamming distance between the signatures of the rows aliased `l`, `r` */
    def distance(l: String, r: String): Column =
      hamming(sigCols.map(c => col(s"$l.$c")), sigCols.map(c => col(s"$r.$c")))
  }

  /** the one hamming-distance column: popcount of the XOR, summed over the
    * signature's longs */
  private def hamming(a: Seq[Column], b: Seq[Column]): Column =
    a.zip(b).map { case (x, y) => bit_count(x.bitwiseXOR(y)) }.reduce(_ + _)
      .cast(LongType)

  /** The one banded self-join of the hamming family: pairs (id_a < id_b)
    * sharing a band bucket — and every `carry` column (frame alignment) —
    * verified at hamming ≤ maxHamming, one row per colliding band, so callers
    * `distinct` what they keep. Banded rows carry the signature, so the
    * verify is a per-row expression on the join output (no join back to the
    * corpus), and both join sides are one subplan that exchange reuse bands
    * once.
    *
    * `guard = Some((fn, maxCandidateMass, advice))` first runs the eager,
    * EXACT candidate-mass guard — the containment lossless-profile
    * precedent, measured: the 64-bit dHash banding at hamming ≤ 6 has 9-bit
    * buckets and went quadratic-DNF at 100x data. Σ over the self-join's own
    * keys of c² bounds its output; one bucket-histogram aggregate over
    * n·bands key rows, linear and tiny next to the join, fails by name with
    * profile advice instead of spilling for minutes before dying. */
  private[graft] def hammingPairs(sigs: DataFrame, idCol: String,
                                  layout: HammingLayout, carry: Seq[String] = Nil,
                                  guard: Option[(String, Long, String)] = None): DataFrame = {
    val banded = layout.banded(sigs, idCol, carry)
    val keys = carry :+ "band" :+ "band_bits"
    guard.foreach { case (fn, maxCandidateMass, advice) =>
      val mass: java.math.BigDecimal = Option(
        banded.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).cast(DecimalType(38, 0)).as("__c"))
          .agg(sum(col("__c") * col("__c"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
      require(mass.compareTo(new java.math.BigDecimal(maxCandidateMass)) <= 0,
        s"$fn: banded candidate mass $mass exceeds " +
          s"maxCandidateMass=$maxCandidateMass — the bucket self-join would " +
          s"go quadratic. $advice; or raise maxCandidateMass explicitly " +
          "for an audit run")
    }
    banded.as("l").join(banded.as("r"),
        keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(Seq(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b")) ++
        carry.map(c => col(s"l.$c").as(c)) :+
        layout.distance("l", "r").as("hamming"): _*)
      .filter(col("hamming") <= layout.maxHamming)
  }

  /** the one keep-min drop: `df` without every id that is some pair's id_b
    * (a higher id within reach of a lower one — the MinHash-chain
    * convention, `WHERE id NOT IN (SELECT id_b FROM dups)`); `pin`
    * materializes the drop set once */
  private def keepMin(df: DataFrame, idCol: String, pairs: DataFrame,
                      pin: Boolean = false): DataFrame = {
    val dups = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(if (pin) dups.localCheckpoint() else dups, Seq(idCol), "left_anti")
  }

  /** keep-min survivors of a checkpointed signature frame under the
    * guarded banded search — the body of the image and wide-hash dedups */
  private def hammingDedup(sigs: DataFrame, idCol: String, layout: HammingLayout,
                           fn: String, maxCandidateMass: Long,
                           advice: String): DataFrame =
    keepMin(sigs, idCol, hammingPairs(sigs, idCol, layout,
      guard = Some((fn, maxCandidateMass, advice))).distinct()).select(idCol)

  /** candidate pairs (id_a, id_b, hamming) within hamming distance ≤
    * maxHamming over an existing one-long signature frame (idCol, sigCol):
    * the Manku banded search of [[HammingLayout]] over the low `nBits`
    * bits, candidates from the bucket-local band self-join, one hamming
    * verify per candidate ([[hammingPairs]]). */
  def simhashHammingPairsFromSigs(sigs: DataFrame, idCol: String, sigCol: String,
                                  nBits: Int, maxHamming: Int): DataFrame =
    hammingPairs(sigs, idCol, HammingLayout(Seq(sigCol), nBits, maxHamming))
      .distinct()

  /** SimHash near-dup pairs at hamming distance ≤ maxHamming straight from a
    * text column — signature kernel + banded search. `portable = true` uses
    * the 60-bit md5 hash base so the whole pipeline (tokenize → vote →
    * banding → bucket-local candidates → hamming verify) is replicable by
    * a DuckDB SQL oracle; the default is the 64-bit xxhash64 production
    * base. */
  def simhashHammingPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          portable: Boolean = false): DataFrame =
    simhashHammingPairsFromSigs(simhashSigs(df, idCol, textCol, portable),
      idCol, "simhash", nBits = if (portable) 60 else 64, maxHamming = maxHamming)

  /** IMAGE near-dup dedup over 64-bit perceptual-hash signatures
    * ([[graft.operators.Multimodal.imageDHash]] dHashes) — the one dedup
    * modality that was missing an image-side instance: the Manku banded
    * hamming search of text SimHash reused verbatim (a dHash IS a 64-bit
    * locality signature) finds pairs within `maxHamming` under the
    * candidate-mass guard, then survivors keep the smallest id per near-dup
    * relation ([[keepMin]]).
    *
    * NULL hashes (undecodable blobs) are excluded from matching and from
    * the survivor set — count them upstream via the hash frame. Signatures
    * are checkpointed first so the expensive DECODE runs once, not once
    * per banding/anti-join reference (ids + longs — kilobytes per million
    * images). Never all-pairs: candidates come from the pigeonhole band
    * buckets, the same linear-candidate guarantee as text SimHash. */
  def imageDedupFromHashes(hashes: DataFrame, idCol: String,
                           hashCol: String,
                           maxHamming: Int = 6,
                           maxCandidateMass: Long = 200000000L): DataFrame =
    hammingDedup(hashes.filter(col(hashCol).isNotNull).localCheckpoint(), idCol,
      HammingLayout(Seq(hashCol), 64, maxHamming), "imageDedupFromHashes",
      maxCandidateMass,
      "switch to the WIDE profile (Multimodal.imageDHashWide + " +
        "imageDedupFromHashesWide — 120-bit signatures keep the band " +
        "buckets ~17 bits at the same hamming budget)")

  /** [[imageDedupFromHashes]] over WIDE (120-bit) dHashes
    * ([[graft.operators.Multimodal.imageDHashWide]]) — the corpus-scaled
    * image-dedup profile: same keep-min survivor rule, but banding runs
    * over the two-long layout (7 ~17-bit bands at hamming ≤ 6 → ≈131k
    * buckets vs the 64-bit profile's 512 — the measured 100x-data
    * quadratic fixed by signature WIDTH, not by dropping the hamming
    * budget). Input columns: (idCol, dh_lo, dh_hi); NULL-hash rows
    * (undecodable) are excluded as in the 64-bit form. */
  def imageDedupFromHashesWide(hashes: DataFrame, idCol: String,
                               maxHamming: Int = 6,
                               maxCandidateMass: Long = 200000000L): DataFrame =
    wideHashDedup(hashes, idCol, maxHamming, maxCandidateMass,
      fn = "imageDedupFromHashesWide",
      adviceOnBlowup = "the corpus is clustered past even 17-bit buckets " +
        "— pre-block on metadata (dims/source) before hashing")

  /** modality-agnostic wide-hash (120-bit two-long) near-dup dedup — the
    * shared engine under [[imageDedupFromHashesWide]] (dHash) and the
    * audio energy-hash dedup: any perceptual signature expressed as
    * (idCol, dh_lo, dh_hi) gets the same Manku banding, exact
    * candidate-mass fail-fast, and keep-min survivor rule. NULL-lo rows
    * (undecodable media) are excluded from matching and survival. */
  def wideHashDedup(hashes: DataFrame, idCol: String,
                    maxHamming: Int = 6,
                    maxCandidateMass: Long = 200000000L,
                    fn: String = "wideHashDedup",
                    adviceOnBlowup: String =
                      "pre-block on metadata before hashing"): DataFrame =
    hammingDedup(wideSigs(hashes, idCol).localCheckpoint(), idCol,
      HammingLayout(WideSig, 120, maxHamming), fn, maxCandidateMass,
      adviceOnBlowup)

  /** VIDEO clip-level near-dup dedup over per-frame wide dHashes
    * ([[graft.operators.Multimodal.videoDHashWide]]) — the aligned-copy
    * detector that closes the last dedup-less modality: two clips are
    * near-dups when at least `minMatchedFrames` of their sampled frames
    * match at the SAME frame index within `maxHamming` bits (re-encodes,
    * brightness shifts, and single-frame edits survive; temporal
    * re-cuts are out of scope by contract — that is shot-level matching,
    * a different operator). Candidates come from the wide Manku banding
    * keyed on (frame_no, band, band_bits) — frame-aligned, so the
    * candidate space is per-frame-corpus-sized, never clips² — and the
    * per-pair frame-match count is one hash aggregate over verified
    * candidates. Keep-min survivors (drop id_b), NULL-hash frames
    * excluded, the family conventions throughout. */
  def videoDedupFromFrameHashes(frameHashes: DataFrame, idCol: String,
                                maxHamming: Int = 6,
                                minMatchedFrames: Int = 3,
                                // the signature table is frames-per-clip×
                                // larger than a per-item hash table, and
                                // candidate mass scales linearly with it
                                // (measured: 4-frame clips at 100x = 5.9e8
                                // vs the image profile's 1.5e8) — the
                                // default budget scales the same way
                                maxCandidateMass: Long = 800000000L): DataFrame = {
    require(minMatchedFrames >= 1,
      s"videoDedupFromFrameHashes: minMatchedFrames $minMatchedFrames")
    videoDedup(frameHashes, idCol, maxHamming, maxCandidateMass,
      "videoDedupFromFrameHashes")((_, matched) =>
      matched.filter(col("__mf") >= minMatchedFrames))
  }

  /** [[videoDedupFromFrameHashes]] with the vote threshold SCALED to clip
    * length — the knob-honest profile: a fixed `minMatchedFrames` both
    * dilutes on long clips (3 shared frames flag a 100-frame clip) and
    * over-reaches on short ones, so the per-PAIR threshold here is
    * ceil(matchFrac * min(n_frames_a, n_frames_b)) — the fraction vote
    * over the frames the SHORTER clip can even offer. `matchFrac` should
    * be a dyadic rational (3/4, 7/8): the product is then IEEE-exact for
    * any frame count an engine can hold, so the threshold replays exactly
    * in the oracle (the fixture-doctrine rule). Same frame-aligned banding
    * + mass guard + keep-min survivors as the fixed-vote form. */
  def videoDedupFromFrameHashesFrac(frameHashes: DataFrame, idCol: String,
                                    maxHamming: Int = 6,
                                    matchFrac: Double = 0.75,
                                    maxCandidateMass: Long = 800000000L): DataFrame = {
    require(matchFrac > 0.0 && matchFrac <= 1.0,
      s"videoDedupFromFrameHashesFrac: matchFrac $matchFrac not in (0, 1]")
    videoDedup(frameHashes, idCol, maxHamming, maxCandidateMass,
      "videoDedupFromFrameHashesFrac") { (sigs, matched) =>
      val nf = sigs.select(col(idCol), col("frame_no")).distinct()
        .groupBy(col(idCol)).agg(count(lit(1)).as("__nf"))
      matched
        .join(nf.select(col(idCol).as("id_a"), col("__nf").as("__nfa")),
          Seq("id_a"))
        .join(nf.select(col(idCol).as("id_b"), col("__nf").as("__nfb")),
          Seq("id_b"))
        .filter(col("__mf") >=
          ceil(lit(matchFrac) * least(col("__nfa"), col("__nfb"))))
    }
  }

  /** the one body of the two video dedups: the checkpointed per-frame wide
    * signatures, the frame-aligned guarded banded search, the count of
    * DISTINCT matched frames per pair (`__mf` on (id_a, id_b)), and keep-min
    * survivors over the pairs `vote(sigs, matched)` keeps */
  private def videoDedup(frameHashes: DataFrame, idCol: String, maxHamming: Int,
                         maxCandidateMass: Long, fn: String)(
                          vote: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val sigs = wideSigs(frameHashes, idCol, Seq(col("frame_no"))).localCheckpoint()
    val matched = hammingPairs(sigs, idCol, HammingLayout(WideSig, 120, maxHamming),
        Seq("frame_no"), Some((fn, maxCandidateMass,
          "pre-block on clip metadata (duration/dims/source) before hashing")))
      .select("id_a", "id_b", "frame_no").distinct()
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("__mf"))
    keepMin(sigs.select(col(idCol)).distinct(), idCol, vote(sigs, matched))
  }

  /** the store family's single JOIN KEY: (band, band_bits) packed into one
    * long (band_bits < 2^30 by the wideBandBits width cap, so the packing
    * is injective). One bucketed equi-key is what lets the probe's
    * candidate join read the store's buckets WITHOUT reshuffling them — a
    * two-column join on a one-column bucket spec forces Spark to
    * re-exchange BOTH sides on the full key pair (measured: 2 exchanges
    * in the pre-fix plan, BucketingSpec pins 1), and at 100 TB the store
    * is the big side. The same design as the minhash store's band_hash. */
  private def packedBandKey(band: Column, bandBits: Column): Column =
    band.cast(LongType) * lit(1L << 30) + bandBits

  /** the WIDE-HASH store — the modality-agnostic deployment shape under the
    * image/audio members of the store family: one bucketed table
    * `<store>_bands (__bk, sim_lo, sim_hi)` of banded WIDE (120-bit
    * two-long) perceptual hashes, keyed and bucketed on the PACKED band key
    * ([[packedBandKey]]) so a probe's candidate join never reshuffles the
    * store (plan-pinned). `maxHamming` fixes the band layout; `kind` tags
    * the modality so an audio probe against an image store refuses instead
    * of matching garbage. The batch is [[wideSigs]]' (id, sim_lo, sim_hi). */
  private def wideHashStore(store: String, idCol: String, kind: String,
                            maxHamming: Int): StoreSpec =
    StoreSpec(store,
      Map("kind" -> kind, "maxHamming" -> maxHamming, "enc" -> "dhash120_v2"),
      Seq(Table("_bands", "__bk", wideKeyed(_, idCol, maxHamming, video = false)
        .select("__bk", "sim_lo", "sim_hi").distinct())),
      required = Set("enc"))

  /** a wide store's batch banded under the store's packed key `__bk`
    * ([[packedBandKey]], or [[videoPackedKey]] with each row's frame) */
  private def wideKeyed(sigs: DataFrame, idCol: String, maxHamming: Int,
                        video: Boolean): DataFrame = {
    val carry = if (video) Seq("frame_no") else Nil
    val key =
      if (video) videoPackedKey(col("frame_no"), col("band"), col("band_bits"))
      else packedBandKey(col("band"), col("band_bits"))
    HammingLayout(WideSig, 120, maxHamming).banded(sigs, idCol, carry)
      .select((idCol +: carry ++: WideSig).map(col) :+ key.as("__bk"): _*)
  }

  /** the batch's [[wideKeyed]] rows within `maxHamming` of a stored hash
    * under the same key — a single-key equi-join on the store's own bucket
    * column, so the store side reads its buckets in place and only the new
    * batch exchanges (BucketingSpec pins the 1-exchange plan) */
  private def wideMatches(sigs: DataFrame, idCol: String, store: String,
                          maxHamming: Int, video: Boolean): DataFrame =
    wideKeyed(sigs, idCol, maxHamming, video).as("n")
      .join(sigs.sparkSession.table(s"${store}_bands").as("s"), Seq("__bk"))
      .filter(HammingLayout(WideSig, 120, maxHamming).distance("n", "s") <= maxHamming)

  /** any signature expressed as (idCol, dh_lo, dh_hi) — the same
    * generalization as [[wideHashDedup]] over the batch path — as the wide
    * store's (idCol, carry…, sim_lo, sim_hi) batch; NULL hashes
    * (undecodable) are excluded from matching and from the store. */
  private def wideSigs(hashes: DataFrame, idCol: String,
                       carry: Seq[Column] = Nil): DataFrame =
    hashes.filter(col("dh_lo").isNotNull).select(col(idCol) +: carry :+
      col("dh_lo").as("sim_lo") :+ col("dh_hi").as("sim_hi"): _*)

  /** create/replace an incremental WIDE-HASH near-dup store
    * ([[wideHashStore]]). */
  def writeWideHashStore(hashes: DataFrame, idCol: String, store: String,
                         kind: String, maxHamming: Int = 6,
                         nBuckets: Int = 8): Unit =
    wideHashStore(store, idCol, kind, maxHamming)
      .create(wideSigs(hashes, idCol), nBuckets)

  /** append a batch of wide hashes' bands to [[writeWideHashStore]]'s bands
    * table — the store half of `updateStore = true`, exposed so the media
    * streaming passes can order their writes crash-safely (survivor
    * manifest FIRST, then this append — the content-keyed replay contract
    * on [[graft.streaming.Streams]]' ingest driver). Duplicate band rows
    * from an at-least-once replay are harmless (they cannot change an
    * anti-join). */
  def appendWideHashes(hashes: DataFrame, idCol: String, store: String,
                       kind: String, maxHamming: Int = 6): Unit =
    wideHashStore(store, idCol, kind, maxHamming)
      .appendOnce(wideSigs(hashes, idCol))

  /** incremental wide-hash near-dup dedup against [[writeWideHashStore]]:
    * the new batch's wide hashes are banded with the SAME layout,
    * candidates come from the (band, band_bits) match against the store's
    * bucketed bands table (the store never reshuffles; only the new batch
    * does), verification is the two-long bit_count on the join output, and
    * every new id within `maxHamming` of ANY stored hash is dropped.
    * Survivors' bands append as new bucket files when `updateStore`. In-batch
    * near-dups are the caller's batch-level pass ([[wideHashDedup]]) — the
    * same division of labor as the simhash/minhash stores. */
  def wideHashDedupAgainst(newHashes: DataFrame, idCol: String,
                           store: String, kind: String,
                           maxHamming: Int = 6,
                           updateStore: Boolean = true): DataFrame = {
    val spark = newHashes.sparkSession
    val spec = wideHashStore(store, idCol, kind, maxHamming)
    spec.check(spark)
    val sigs = wideSigs(newHashes, idCol).localCheckpoint()
    val dupIds = wideMatches(sigs, idCol, store, maxHamming, video = false)
      .select(col(idCol)).distinct()
    spec.keep(sigs.join(dupIds, Seq(idCol), "left_anti"), updateStore)
      .select(col(idCol))
  }

  /** the VIDEO frame-hash store: one bucketed table `<store>_bands (__sid,
    * __bk, sim_lo, sim_hi)` of banded per-frame WIDE dHashes
    * ([[graft.operators.Multimodal.videoDHashWide]]). Unlike the scalar
    * wide-hash stores the stored CLIP id (`__sid`) is kept: the probe's
    * ≥ `minMatchedFrames` vote counts matched frames per (new clip, stored
    * clip) PAIR, which an anonymous hash bag cannot express. Keyed and
    * bucketed on the frame-packed band key ([[videoPackedKey]]), so a
    * probe's candidate join never reshuffles the store (plan-pinned).
    * `everyK` (the frame-sampling rate the hashes were built with) is a
    * build parameter like `maxHamming`: differently-sampled frames misalign
    * frame_no keys and silently dilute the match vote. The batch is
    * [[videoSigs]]' (id, frame_no, sim_lo, sim_hi). */
  private def videoStore(store: String, idCol: String, maxHamming: Int,
                         everyK: Int): StoreSpec = {
    require(maxHamming <= 7,
      s"video store: maxHamming $maxHamming > 7 breaks the packed band key")
    require(everyK >= 1, s"video store: everyK $everyK")
    StoreSpec(store,
      Map("kind" -> "video_dhash", "maxHamming" -> maxHamming,
        "everyK" -> everyK, "enc" -> "dhash120_v2"),
      Seq(Table("_bands", "__bk", wideKeyed(_, idCol, maxHamming, video = true)
        .select(col(idCol).as("__sid"), col("__bk"), col("sim_lo"),
          col("sim_hi"))
        .distinct())),
      required = Set("enc"))
  }

  /** the video key packs the FRAME index in with the band: one bucketed
    * equi-key keeps the probe shuffle-free on the store side, and
    * frame-alignment rides the key instead of a second join column.
    * band < 8 (maxHamming ≤ 7 — the defaults) and frame_no < 2^20 keep
    * the packing injective inside a long (guarded in [[videoStore]] and
    * [[videoSigs]]). */
  private def videoPackedKey(frameNo: Column, band: Column,
                             bandBits: Column): Column =
    (frameNo.cast(LongType) * lit(8L) + band.cast(LongType)) *
      lit(1L << 30) + bandBits

  /** per-frame hashes as the video store's batch, NULL-hash frames
    * excluded. Build and probe share the frame_no < 2^20 guard: an aliased
    * (frame, band) packed key would silently match wrong frame alignments. */
  private def videoSigs(frameHashes: DataFrame, idCol: String): DataFrame =
    wideSigs(frameHashes, idCol, Seq(
      when(col("frame_no") < (1L << 20), col("frame_no"))
        .otherwise(raise_error(concat(lit("video store: frame_no "),
          col("frame_no").cast(StringType),
          lit(" >= 2^20 breaks the packed band key"))))
        .as("frame_no")))

  /** create/replace the incremental VIDEO frame-hash near-dup store
    * ([[videoStore]]). */
  def writeVideoHashStore(frameHashes: DataFrame, idCol: String,
                          store: String, maxHamming: Int = 6,
                          nBuckets: Int = 8, everyK: Int = 1): Unit =
    videoStore(store, idCol, maxHamming, everyK)
      .create(videoSigs(frameHashes, idCol), nBuckets)

  /** append a batch of clips' banded frame hashes to
    * [[writeVideoHashStore]]'s bands table — the video form of
    * [[appendWideHashes]], exposed for crash-safe streaming write order. */
  def appendVideoFrameHashes(frameHashes: DataFrame, idCol: String,
                             store: String, maxHamming: Int = 6,
                             everyK: Int = 1): Unit =
    videoStore(store, idCol, maxHamming, everyK)
      .appendOnce(videoSigs(frameHashes, idCol))

  /** incremental VIDEO clip-level near-dup dedup against
    * [[writeVideoHashStore]]: the new batch's per-frame wide dHashes are
    * banded with the store's layout, candidates come from the (frame_no,
    * band, band_bits) match against the bucketed bands table —
    * frame-aligned, so the candidate space is per-frame-corpus-sized,
    * never clips² — verification is the per-frame two-long bit_count, and
    * a new clip is dropped when ≥ min(`minMatchedFrames`, its own frame
    * count) of its frames match a SINGLE stored clip at the same frame
    * index within `maxHamming` (the [[videoDedupFromFrameHashes]] vote,
    * replayed against the store). The `least` clamp is load-bearing, not
    * a convenience: it makes the probe CONTENT-keyed under at-least-once
    * replay — a re-delivered clip's every frame self-matches its stored
    * rows, and without the clamp a clip shorter than `minMatchedFrames`
    * frames could never accumulate enough votes to recognize ITSELF, so
    * a replayed micro-batch would emit a different survivor set than the
    * original run (the streaming twin's idempotence contract). Survivors'
    * banded frame rows append when `updateStore`. */
  def videoDedupAgainst(newFrameHashes: DataFrame, idCol: String,
                        store: String, maxHamming: Int = 6,
                        minMatchedFrames: Int = 3,
                        updateStore: Boolean = true,
                        everyK: Int = 1): DataFrame = {
    require(minMatchedFrames >= 1,
      s"videoDedupAgainst: minMatchedFrames $minMatchedFrames")
    val spark = newFrameHashes.sparkSession
    val spec = videoStore(store, idCol, maxHamming, everyK)
    spec.check(spark)
    val sigs = videoSigs(newFrameHashes, idCol).localCheckpoint()
    val newFrameCounts = sigs.select(col(idCol), col("frame_no")).distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("__nf"))
    // frame-alignment rides the packed key, so this is the same
    // single-bucket-key equi-join as the scalar store
    val dupIds = wideMatches(sigs, idCol, store, maxHamming, video = true)
      // a band match is evidence once per (new clip, stored clip, frame);
      // count DISTINCT matched frames per pair, then vote with the
      // short-clip clamp (see the docstring — replay idempotence)
      .select(col(idCol), col("__sid"), col("frame_no")).distinct()
      .groupBy(col(idCol), col("__sid"))
      .agg(count(lit(1)).as("__mf"))
      .join(newFrameCounts, Seq(idCol))
      .filter(col("__mf") >= least(lit(minMatchedFrames.toLong), col("__nf")))
      .select(col(idCol)).distinct()
    spec.keep(sigs.join(dupIds, Seq(idCol), "left_anti"), updateStore)
      .select(col(idCol)).distinct()
  }

  /** WIDE (two-long) SimHash signatures (idCol, sim_lo, sim_hi) — the
    * corpus-scaled signature ([[graft.functions.SimHashWideExpr]]): sig_lo
    * carries bits 0-59, sig_hi bits 60..nBits−1 (0 when nBits ≤ 60). Same
    * tokenizer, same fused row-local kernel shape as [[simhashSigs]]. */
  def simhashSigsWide(df: DataFrame, idCol: String, textCol: String,
                      nBits: Int, portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))
    val sig = GraftSqlBridge.column(graft.functions.SimHashWideExpr(
      GraftSqlBridge.expression(toks), nBits, md5Portable = portable))
    Fan.out(df.select(col(idCol), col(textCol)))
      .select(col(idCol), sig.getItem(0).as("sim_lo"), sig.getItem(1).as("sim_hi"))
  }

  /** one band's bucket key sliced out of the two-long signature — band
    * [off, off+w) may STRADDLE the 60-bit lo/hi boundary, in which case the
    * lo remainder fills the key's low bits and the hi head is shifted on
    * top. w ≤ 30 keeps every key non-negative (DuckDB-BIGINT-safe). */
  private[graft] def wideBandBits(lo: Column, hi: Column, off: Int, w: Int): Column = {
    val loTake = math.max(0, math.min(60 - off, w))
    val hiTake = w - loTake
    val loPart =
      if (loTake > 0) shiftrightunsigned(lo, off).bitwiseAND(lit(bandMask(loTake)))
      else lit(0L)
    val hiPart =
      if (hiTake > 0) shiftrightunsigned(hi, math.max(0, off - 60))
        .bitwiseAND(lit(bandMask(hiTake)))
      else lit(0L)
    if (hiTake > 0) loPart.bitwiseOR(shiftleft(hiPart, loTake)) else loPart
  }

  /** Manku banded hamming ≤ maxHamming pairs over WIDE two-long signatures
    * (idCol, sim_lo, sim_hi) — [[simhashHammingPairsFromSigs]] generalized
    * past 64 bits. The pigeonhole guarantee is unchanged (maxHamming + 1
    * disjoint bands), but band width — and with it bucket selectivity
    * 2^width — now grows with the signature: the rule "a larger corpus
    * wants a wider signature, not a lower maxHamming" made executable. At
    * 150k docs the 15-bit legacy bands hold ~4.6 docs per bucket on a
    * uniform corpus and far more under replica clustering (measured 15.1×
    * at 30× data); 21-bit bands put expected occupancy back under 0.1. */
  def simhashHammingPairsWideFromSigs(sigs: DataFrame, idCol: String,
                                      nBits: Int, maxHamming: Int): DataFrame =
    hammingPairs(sigs, idCol, HammingLayout(WideSig, nBits, maxHamming))
      .distinct()

  /** wide-signature SimHash near-dup pairs straight from a text column —
    * signature width is the caller's corpus-derived profile knob (see
    * graft.queries.Offline.simhashBandBits: width 4·bandWidth,
    * legacy-degenerate 60 bits at the fixture SFs). `portable = true` is
    * the md5 base the DuckDB oracle replicates; default is the two-seed
    * xxhash64 production base. */
  def simhashHammingPairsWide(df: DataFrame, idCol: String, textCol: String,
                              nBits: Int, maxHamming: Int = 3,
                              portable: Boolean = false): DataFrame =
    simhashHammingPairsWideFromSigs(
      simhashSigsWide(df, idCol, textCol, nBits, portable),
      idCol, nBits, maxHamming)

  /** SimHash near-dup dedup at hamming distance ≤ maxHamming: drop every doc
    * within maxHamming bits of a lower-id doc (greedy min-id policy, like
    * [[minhashDedup]]; feed [[simhashHammingPairs]] to
    * [[clusterDedupFromPairs]] for the transitive variant). */
  def simhashDedupHamming(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          portable: Boolean = false): DataFrame =
    keepMin(df, idCol, simhashHammingPairs(df, idCol, textCol, maxHamming,
      portable), pin = true)

  /** the wide-signature twin of [[simhashDedupHamming]] — greedy min-id
    * drop over [[simhashHammingPairsWide]] pairs, the corpus-scaled dedup
    * form (callers derive `nBits` from the corpus, e.g. 4·bandWidth with
    * graft.queries.Offline.simhashBandBits). */
  def simhashDedupHammingWide(df: DataFrame, idCol: String, textCol: String,
                              nBits: Int, maxHamming: Int = 3,
                              portable: Boolean = false): DataFrame =
    keepMin(df, idCol, simhashHammingPairsWide(df, idCol, textCol, nBits,
      maxHamming, portable), pin = true)

  /** exact token-set Jaccard similarity between two token arrays. */
  def jaccard(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)), 6)

  /** n-gram Jaccard near-dup pairs over a blocked candidate set: block on
    * (lang, length band) so the self-join is block-local, then verify with
    * exact Jaccard. Blocking keys keep the pair count ~linear. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[Column], threshold: Double,
                        ngram: Int = 1): DataFrame = {
    require(blockCols.nonEmpty,
      "ngramJaccardPairs requires non-empty blockCols: an unblocked self-join " +
        "is an O(n²) cartesian product — block on e.g. (lang, length band) " +
        "or an LSH sign bucket")
    val toks =
      if (ngram == 1) array_distinct(TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))))
      else shingles(col(textCol), ngram)
    val prepared = df.select(
      (Seq(col(idCol), toks.as("__toks")) ++ blockCols.zipWithIndex.map {
        case (c, i) => c.as(s"__b$i")
      }): _*)
    val bk = blockCols.indices.map(i => s"__b$i")
    val joined = prepared.as("l").join(prepared.as("r"),
      bk.map(k => col(s"l.$k") === col(s"r.$k"))
        .reduce(_ && _) && col(s"l.$idCol") < col(s"r.$idCol"))
    jaccardAtLeast(joined, Seq(col(s"l.$idCol").as("id_a"),
      col(s"r.$idCol").as("id_b")), col("l.__toks"), col("r.__toks"), threshold)
  }

  /** the one Jaccard verify: `ids` plus round(|a∩b| / |a∪b|, 6) as
    * `jaccard` for the `joined` rows at ≥ threshold, over DISTINCT arrays
    * `a`, `b`. A cheap size-ratio prefilter runs before the expensive
    * intersect: jaccard ≥ t implies min(|a|,|b|) ≥ t·max(|a|,|b|) (inter ≤
    * min, union ≥ max), so it prunes pairs without changing the result set.
    * Distinct inputs give |a∪b| = |a|+|b|−|a∩b|: one array_intersect per
    * pair instead of intersect + union (union allocates a second array). */
  private def jaccardAtLeast(joined: DataFrame, ids: Seq[Column], a: Column,
                             b: Column, threshold: Double): DataFrame = {
    val sa = size(a).cast(DoubleType)
    val sb = size(b).cast(DoubleType)
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    joined.filter(least(sa, sb) >= greatest(sa, sb) * threshold)
      .select(ids :+ round(inter / (sa + sb - inter), 6).as("jaccard"): _*)
      .filter(col("jaccard") >= threshold)
  }

  /** per-doc DISTINCT n-gram shingle arrays (idCol, __sh), materialized once
    * (`localCheckpoint`; blocks freed by the ContextCleaner when
    * unreferenced) — the projection SHARED by LSH candidate generation and
    * exact verification in the ngram*Lsh pipelines. Measured trade at sf0.1:
    * one upfront materialization keeps the whole pipeline (signatures off
    * the arrays via the fused kernel, banding self-join, verify joins) in
    * TWO scheduler jobs — the candidates-only alternative (signatures from
    * text, a semi-join re-shingling just the candidate vertex set) needed
    * four sequential materializations and measured ~2× slower. At 100 TB,
    * where a corpus-wide shingle write is the bigger cost, that
    * candidate-bounded alternative is the trade to revisit. */
  private def shingleArrays(df: DataFrame, idCol: String, textCol: String,
                            ngram: Int): DataFrame =
    Fan.out(df.select(col(idCol), col(textCol)))
    .select(col(idCol),
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("__toks"))
    .select(col(idCol),
      shinglesFromTokens(col("__toks"), ngram, distinct = true).as("__sh"))
    .localCheckpoint()

  /** MinHash signatures straight off pre-materialized shingle arrays
    * (idCol, __sh) via the fused kernel — one codegen'd projection over the
    * checkpointed arrays. */
  private def sigsFromShingleArrays(sh: DataFrame, idCol: String,
                                    numHashes: Int, portable: Boolean): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    sh.select(col(idCol),
      GraftSqlBridge.column(graft.functions.MinHashSigExpr(
        GraftSqlBridge.expression(col("__sh")), numHashes,
        md5Portable = portable)).as("sig"))
  }

  /** candidate pairs (id_a, id_b) joined to each side's PRE-MATERIALIZED
    * distinct shingle array (idCol, __sh) as `__ta`/`__tb` — no re-tokenize;
    * the one pair-sides join of the Jaccard and containment verifies.
    *
    * The pairs are spread across the session's cores first (r22, guide
    * §2.5/§2.2): the paired shingle ARRAYS are few megabytes, so AQE's
    * byte-based partition coalescing squeezes the verify join's output to
    * 1-2 tasks — but each row costs an array_intersect over hundreds of
    * longs, so the stage is CPU-dense far beyond its bytes (measured:
    * q_containment_capped's verify ran 2 tasks, 2.3 s task time, 1.2 s
    * straggler). An explicit repartition of the PAIRS table (16 bytes/row)
    * before the array joins pins the stage's width to defaultParallelism —
    * scale-adaptive, not a local constant — so the shuffle moves ids only
    * and the broadcast-hash array lookups + intersect all run at the
    * fanned width, the §8 "decide on light rows, move heavy bytes once"
    * shape. ROUND-ROBIN, not hash-by-pair: the candidate distinct()
    * already hash-partitions by (id_a, id_b) at shuffle.partitions, so a
    * same-key repartition is elided by EnsureRequirements at plan time and
    * the verify silently inherits the distinct's AQE-coalesced width (the
    * measured 2-task stage) — round-robin with an explicit count can never
    * be satisfied-away or coalesced. Downstream is a row-local projection
    * + filter, so partitioning is semantics-free. */
  private def pairSides(sh: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    pairs.select("id_a", "id_b")
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism)
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__ta")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__tb")), "id_b")

  /** n-gram Jaccard near-dup pairs with LSH candidate blocking — the
    * scale-safe replacement for attribute blocking: candidates come from
    * MinHash-LSH over the SAME n-gram shingles whose exact Jaccard is then
    * verified (the LSH S-curve approximates the verified similarity), so
    * block size is governed by the band-key collision rate, not by how many
    * documents share an attribute. Signatures come from the fused kernel
    * over ONE materialized shingle projection shared with verification
    * (see [[shingleArrays]] for the measured job-count rationale).
    * `portable = true` is the md5 MinHash base, whose WHOLE pipeline
    * (n-gram min-hash, banding, bucket-local candidates, exact jaccard ≥
    * threshold) a DuckDB SQL oracle replicates; the default is xxhash64. */
  def ngramJaccardLsh(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5, numHashes: Int = 16,
                      bands: Int = 8, ngram: Int = 3,
                      portable: Boolean = false): DataFrame = {
    val sh = shingleArrays(df, idCol, textCol, ngram)
    val sigs = sigsFromShingleArrays(sh, idCol, numHashes, portable)
    jaccardAtLeast(pairSides(sh, idCol, bandPairs(sigs, idCol, numHashes,
      bands, portable)), Seq(col("id_a"), col("id_b")), col("__ta"),
      col("__tb"), threshold)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: containment(A,B) =
    * |A∩B| / min(|A|,|B|) over distinct n-gram shingle sets — flags a
    * document largely CONTAINED in another (quote farms, boilerplate
    * wrappers, page-of-a-book extracts) that symmetric Jaccard misses
    * (a 100-shingle doc inside a 10k-shingle doc has jaccard ≈ 0.01 but
    * containment 1.0).
    *
    * Candidates come from PREFIX FILTERING, not MinHash banding: banding
    * collides on JACCARD, so it silently misses exactly the small-in-big
    * pairs this operator exists for (their jaccard sits below any useful
    * band S-curve). Prefix-filter theorem (the ssjoin/PPJoin family): if
    * containment(A,B) ≥ t with |A| ≤ |B|, B contains ≥ ⌈t·|A|⌉ of A's
    * shingles, i.e. misses at most |A| − ⌈t·|A|⌉ of them — so ANY
    * |A| − ⌈t·|A|⌉ + 1 of A's shingles must include a shared one.
    * Candidates = (designated-smaller side's prefix shingles) ⋈ (other
    * side's full postings); LOSSLESS for containment ≥ t, which is why the
    * q_containment oracle can be ground truth (all shingle-sharing pairs)
    * rather than a replica of the blocking. Prefix shingles are chosen
    * globally-RAREST-first (document frequency asc, shingle asc —
    * deterministic), so the candidate join probes the short posting lists,
    * not the stopword-n-gram ones.
    *
    * Scale shape: the doc-frequency table is vocabulary-sized (AQE
    * broadcasts it); the prefix rank is a per-document window (parallelism
    * = documents, never a global window); the candidate join keys on the
    * shingle with fan-out bounded by RARE posting lists; exact verify runs
    * on candidates only, off the same checkpointed shingle projection. At
    * t=0.7 the probe side carries ~30% of postings — the standard
    * containment-index shape at 100 TB.
    *
    * Two further lossless candidate/verify cuts were IMPLEMENTED, MEASURED
    * on the 10×/30× GenScale corpora, and REVERTED as net losses (round
    * 12; BASELINE.md "30x probe" section keeps the numbers): (a) the
    * PPJoin positional upper bound (overlap ≤ m_p + min(⌈t·|A|⌉−1,
    * |B|−j*)) aggregated per pair with count/max — the per-pair
    * aggregation nearly DOUBLED candidate-phase cost (31→58 s at 10×)
    * while pruning ~nothing, because matched shingles are globally rare
    * and rank early on the full side (j* small ⇒ the |B|−j* arm is
    * vacuous); (b) a shared-vocabulary verify (arrays restricted to
    * doc-freq ≥ 2 shingles, original sizes as denominators) — the
    * restricted arrays intersect ~60% cheaper, but BUILDING them is a
    * postings-wide join + collect_list + checkpoint that costs more than
    * the whole full-array verify (15→39 s at 10×, 81→201 s at 30×). The
    * straightforward shape below beat both at every measured scale.
    *
    * Round-14 scale verdict on the freq-cap profiles (BASELINE.md
    * "Containment capped-vs-lossless"): at 30× the production
    * 3·log₂ n cap runs 15.5 s vs 52.8 s lossless in the SAME draw
    * (the (3·log₂ n, 8·log₂ n] doc-freq band it removes carried ~⅔ of
    * the O(f²) candidate mass); at 100× the lossless profile DNFs —
    * its candidate-join spill exhausts a 75 GB scratch disk (verified
    * disk-bound, not heap: identical failure at 8g and 48g driver
    * heap) — while the capped profile completes in 232.9 s at ~70 GB
    * peak spill, growing ~linearly with data (the corpus's true-pair
    * mass itself grows 100×, so linear is the honest floor). The cap
    * is not an optimization at that scale; it is the difference
    * between finishing and dying.
    *
    * BEHAVIOR NOTES for lossless-profile callers (round 17+): (1) this
    * call is NOT fully lazy — constructing the frame runs two small eager
    * Spark actions (the shared-vocab checkpoint plus a one-row
    * candidate-mass aggregate) so that an over-budget audit run fails at
    * CALL time in seconds, not after an hour of candidate-join spill; and
    * (2) `maxCandidateMass` now defaults to the FINITE
    * [[DefaultMaxCandidateMass]] (6e8, the geometric mean between the
    * largest measured completing probe, 3.69e8 / 52.8 s, and the smallest
    * measured DNF, 9.55e8) — an uncapped audit over a corpus in or above
    * that band must SIZE the budget explicitly
    * (`maxCandidateMass = Long.MaxValue` accepts unbounded spill risk). */
  def ngramContainmentPrefix(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double = 0.7, ngram: Int = 3,
                             maxShingleDocFreq: Long = Long.MaxValue,
                             maxCandidateMass: Long = DefaultMaxCandidateMass): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0,1], got $threshold")
    require(maxShingleDocFreq >= 2,
      s"maxShingleDocFreq must be >= 2 (got $maxShingleDocFreq): " +
        "freq-2 shingles are the minimum that can witness a pair")
    require(maxCandidateMass >= 1,
      s"maxCandidateMass must be >= 1, got $maxCandidateMass")
    // shingles are carried as xxhash64 LONGS end to end: the freq window,
    // candidate join, and array_intersect verify all move 8-byte keys
    // instead of ~20-byte strings (~2.5× less shuffle, cheaper compares).
    // A hash collision would perturb a set size (P ≈ n²/2⁶⁵ per corpus —
    // none at any tested SF) and the STRING-exact ground-truth oracle
    // would catch it as a hash mismatch, so the shortcut is verified, not
    // assumed.
    val sh = Fan.out(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("__toks"))
      .select(col(idCol), array_distinct(transform(
          shinglesFromTokens(col("__toks"), ngram, distinct = false),
          s => xxhash64(s))).as("__sh"))
      .localCheckpoint()
    val ex = sh.select(col(idCol), size(col("__sh")).as("__sz"),
      explode(col("__sh")).as("__s"))
    // SHARED vocabulary only: a shingle with document frequency 1 cannot
    // witness a pair (no second document holds it), so restricting BOTH
    // candidate-join sides to freq ≥ 2 shingles is lossless — and in a
    // natural corpus most shingles are unique, so this collapses the join.
    // Checkpointed because it feeds two joins and is small (shared vocab),
    // which also lets AQE broadcast it instead of shuffling the postings.
    val shared = ex.groupBy("__s").agg(count(lit(1)).as("__freq"))
      .filter(col("__freq") >= 2)
      .localCheckpoint()
    // rank still runs over ALL of a doc's shingles (freq-1 ones coalesce to
    // frequency 1) so the prefix is the same rarest-first set as before;
    // freq-1 members of the prefix are then dropped — they match nothing
    val exf = ex.join(shared, Seq("__s"), "left")
      .withColumn("__f", coalesce(col("__freq"), lit(1L)))
    val w = Window.partitionBy(col(idCol)).orderBy(asc("__f"), asc("__s"))
    // maxShingleDocFreq is the Lee-et-al super-frequent-n-gram drop applied
    // to candidate generation (the spanOverlap maxWindowDocFreq pattern,
    // grown with log₂(corpus) by callers): a shingle in more documents than
    // the cap is template/boilerplate vocabulary whose posting list — and
    // the candidate join's fan-out — scales WITH the corpus rather than
    // with true duplication. Dropped AFTER the rank (the prefix stays the
    // same rarest-first |A|−⌈t·|A|⌉+1 set), so a pair is missed only when
    // every rarest-prefix witness of its smaller side is above the cap —
    // i.e. the pair's entire shared material is boilerplate. The default
    // (no cap) keeps the filter LOSSLESS, which the ground-truth oracle
    // requires at the correctness SFs.
    val prefix = exf
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__sz") - ceil(lit(threshold) * col("__sz")) + lit(1))
      .filter(col("__f") >= 2 && col("__f") <= maxShingleDocFreq)
      .select(col(idCol).as("__pid"), col("__sz").as("__psz"), col("__s"))
    // designated smaller side = lexicographically smaller (size, id); its
    // size IS min(|A|,|B|), so the pigeonhole guarantee above applies
    val full = ex.join(shared.filter(col("__freq") <= maxShingleDocFreq)
        .select("__s"), "__s")
      .select(col(idCol).as("__fid"), col("__sz").as("__fsz"), col("__s"))
    // FAIL-FAST candidate-mass budget (the blockSizeGuard doctrine, applied
    // to the whole join instead of one block): the candidate join's fan-out
    // is Σ_s |prefix(s)|·|postings(s)| ≤ Σ_s f_s² over the retained shared
    // vocabulary — computable from the CHECKPOINTED vocab table for
    // milliseconds, BEFORE any heavy stage runs. The round-14 100× probe
    // showed the lossless profile burning scratch disk for ~an hour before
    // dying (>75 GB spill); the EAGER check below turns that into an
    // immediate, actionable error at operator-call time (the vocab
    // checkpoint has already run an action, so one more tiny aggregate is
    // free and deterministic — an in-plan-only guard is scheduled by AQE
    // alongside the expensive stages, too late to save them). Decimal
    // accumulation: Σ f² can pass BIGINT at exactly the corpus sizes the
    // guard exists for.
    def massAdvice(mass: Any): String =
      s"ngramContainmentPrefix: candidate-mass bound $mass exceeds " +
        s"maxCandidateMass=$maxCandidateMass — the candidate join would " +
        "spill for minutes before dying (the round-14 100x lossless DNF). " +
        "Apply the production doc-freq cap (maxShingleDocFreq ≈ " +
        "3·log₂ corpusDocs, the q_containment_capped profile) or raise " +
        "maxCandidateMass explicitly for an audit run"
    val retainedVocab = shared.filter(col("__freq") <= maxShingleDocFreq)
    val massBound: java.math.BigDecimal = Option(
      retainedVocab
        .agg(sum(col("__freq").cast(DecimalType(38, 0)) * col("__freq")))
        .head().getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO)
    require(massBound.compareTo(
      new java.math.BigDecimal(maxCandidateMass)) <= 0, massAdvice(massBound))
    // belt-and-braces IN-PLAN twin of the eager check (visible in the
    // audit plan; re-fires if the returned frame is re-executed in some
    // future context where the eager check was bypassed) — a 1-row
    // broadcast riding the candidate join, negligible cost
    val massGuard = retainedVocab
      .agg(sum(col("__freq").cast(DecimalType(38, 0)) * col("__freq"))
        .as("__mass"))
      .select(when(col("__mass") > maxCandidateMass,
        raise_error(format_string(massAdvice("%s"),
          col("__mass").cast("string"))).cast("boolean"))
        .otherwise(lit(true)).as("__mass_ok"))
    val cands = prefix.join(full, "__s")
      .crossJoin(broadcast(massGuard)).filter(col("__mass_ok"))
      .filter(col("__psz") < col("__fsz") ||
        (col("__psz") === col("__fsz") && col("__pid") < col("__fid")))
      .select(least(col("__pid"), col("__fid")).as("id_a"),
        greatest(col("__pid"), col("__fid")).as("id_b"))
      .distinct()
    // exact containment over the pre-materialized arrays; NO size-ratio
    // prefilter (size mismatch is the signal)
    val inter = size(array_intersect(col("__ta"), col("__tb"))).cast(DoubleType)
    pairSides(sh, idCol, cands).select(col("id_a"), col("id_b"),
        round(inter / least(size(col("__ta")), size(col("__tb"))).cast(DoubleType), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Verbatim SHARED-SPAN pairs: documents sharing an exact run of at least
    * `minRun` consecutive tokens, with the longest such run per pair —
    * substring-level duplication (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better") that set-based Jaccard/containment
    * DILUTE away: a 50-token verbatim quote shared by two long documents
    * moves set overlap toward 0 yet is exactly what substring dedup targets.
    *
    * Detection identity: a shared run of L ≥ k tokens ⟺ L−k+1 consecutive
    * shared k-token windows lying on one (pos_a − pos_b) DIAGONAL. So:
    *  1. positional k-shingle postings (id, pos, window) — order kept, no
    *     array_distinct (positions are the signal);
    *  2. both join sides restricted to windows occurring ≥ 2 times globally
    *     (lossless superset: a window occurring once in the corpus cannot be
    *     shared — the same pruning as [[ngramContainmentPrefix]]; occurrence
    *     count over-approximates document frequency, which only keeps a few
    *     same-doc repeats, never drops a true pair);
    *  3. window-keyed self-join (id_a < id_b) → matching position pairs;
    *  4. gaps-and-islands per (pair, diagonal): row_number by pos_a, group by
    *     pos_a − rn; an island of c consecutive windows is a shared run of
    *     c + k − 1 tokens; the per-pair max is the longest shared run.
    *
    * Scale shape: the postings table is one row-local projection; the
    * shared-vocabulary filter is a checkpointed aggregate (AQE broadcasts
    * it); the self-join keys on k-token windows, whose posting lists at
    * k ≥ 8 are far shorter than 3-gram lists (fan-out per window is tiny);
    * the islands window partitions by (pair, diagonal) — parallelism =
    * matched diagonals, never a global window. Documents shorter than k
    * tokens cannot contain a k-run and are dropped up front. Pathological
    * window frequencies (boilerplate) are bounded by `maxWindowDocFreq`:
    * a window shared by more than that many DOCUMENTS is dropped from
    * candidate generation entirely, so a template k-gram shared by f ≫ cap
    * documents emits ZERO position pairs instead of f(f−1)/2, and total
    * candidates are O(corpus positions · cap), never quadratic. Recall trade: a k-run
    * appearing in >cap documents is boilerplate (headers, license text,
    * navigation chrome), not a duplication signal between any particular
    * pair — the same argument as [[ngramContainmentPrefix]]'s
    * rarest-shingle prefix, per Lee et al. 2021's super-frequent-n-gram
    * drop. Pairs whose ONLY shared material is such boilerplate are no
    * longer flagged; pairs sharing any sub-cap window are unaffected.
    *
    * Returns (id_a, id_b, max_run, n_windows): longest shared token run and
    * the total count of matching k-windows across all diagonals. */
  /** matched k-window position pairs (id_a, id_b, __pa, __d) — the shared
    * candidate stage of [[spanOverlapPairs]] and [[spanExcise]]
    * ([[spanDedup]] needs no pairs, only the windows). Windows are
    * carried as xxhash64 LONGS (8 bytes vs ~50-byte k-token strings through
    * the shared-vocab aggregate and the self-join — the same shortcut as
    * [[ngramContainmentPrefix]]); a collision would fabricate a match
    * (P ≈ windows²/2⁶⁵ per corpus — none at any tested SF) and the
    * STRING-exact ground-truth oracle would surface it as a hash mismatch,
    * so the shortcut is verified, not assumed. (The oracle covers fixture
    * corpora; for a production run where a false [[spanDedup]] drop is
    * costly, the cheap mitigation is a string-equality recheck of FLAGGED
    * pairs — candidate-sized, not corpus-sized — or widening the window
    * key to two independent hashes.) */
  private def spanWindowMatches(df: DataFrame, idCol: String, textCol: String,
                                k: Int, maxWindowDocFreq: Int): DataFrame = {
    val ex = spanWindowHashes(df, idCol, textCol, k)
      .select(col(idCol), posexplode(col("__ws")))
      .toDF(idCol, "__pos", "__s")
    // lower bound (lossless): a window occurring once cannot be shared.
    // upper bound (the boilerplate cap): document frequency > cap ⇒ the
    // window is template text, not pairwise duplication signal — dropping
    // it caps every surviving posting list at ≤ cap documents, so the
    // self-join below emits O(total positions · cap) pairs, never O(f²)
    // for a hot window.
    val shared = ex.groupBy("__s")
      .agg(count(lit(1)).as("__n"), countDistinct(col(idCol)).as("__df"))
      .filter(col("__n") >= 2 && col("__df") <= maxWindowDocFreq)
      .select("__s")
      .localCheckpoint()
    val exs = ex.join(shared, "__s")
    exs.select(col(idCol).as("id_a"), col("__pos").as("__pa"), col("__s"))
      .join(exs.select(col(idCol).as("id_b"), col("__pos").as("__pb"), col("__s")),
        "__s")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__pa"),
        (col("__pa") - col("__pb")).as("__d"))
  }

  /** (idCol, __ws) per-doc arrays of xxhash64'd k-token windows in position
    * order, checkpointed — docs shorter than k tokens have no window. The
    * arrays are doc-sized rows (the containment `sh` pattern) that feed
    * several consumers (the shared-window aggregate and the join or
    * self-join sides), so without the checkpoint the tokenize+hash
    * projection runs once per consumer; the cheap explode re-runs instead.
    * Fan.out before the tokenize: the projection is the query's single
    * heaviest stage (r21 profile: 0.98 s single-task on the unsplittable
    * fixture scan) and is partitioning-independent. */
  private def spanWindowHashes(df: DataFrame, idCol: String, textCol: String,
                               k: Int): DataFrame =
    Fan.out(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), transform(
        shinglesFromTokens(col("__toks"), k, distinct = false),
        s => xxhash64(s)).as("__ws"))
      .localCheckpoint()

  def spanOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                       minRun: Int = 8,
                       maxWindowDocFreq: Int = 1000): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    require(maxWindowDocFreq >= 2,
      s"maxWindowDocFreq must be >= 2, got $maxWindowDocFreq")
    val k = minRun
    val m = spanWindowMatches(df, idCol, textCol, k, maxWindowDocFreq)
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("__d"))
      .orderBy(col("__pa"))
    val islands = m
      .withColumn("__grp", col("__pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("__d"), col("__grp"))
      .agg(count(lit(1)).as("__c"))
    islands.groupBy(col("id_a"), col("id_b"))
      .agg((max(col("__c")) + lit(k - 1)).as("max_run"),
        sum(col("__c")).cast(LongType).as("n_windows"))
  }

  /** remove every document that shares a ≥ `minRun`-token verbatim run with
    * a LOWER-id'd document — the keep-first policy of [[exactDedup]] applied
    * to substring duplication. Survivor rows are returned unchanged.
    *
    * Only EXISTENCE of a match matters (ONE shared k-window already implies
    * a shared run ≥ k tokens), and a doc has a lower-id'd partner on a
    * window exactly when its id is above the window's MINIMUM id. So the
    * decision needs no pairs at all: one aggregate per window gives
    * (min id, distinct docs), windows with 2 ≤ docs ≤ `maxWindowDocFreq`
    * (the [[spanOverlapPairs]] sharing rule and boilerplate cap) join back
    * to their postings, and every posting above its window's minimum is
    * flagged — Σf rows instead of the self-join's Σf² pairs, with exactly
    * the flagged set of [[spanOverlapPairs]]' `id_b`s, repeated ids
    * included (Round4OpsSpec). The flagged set anti-joins WITHOUT a forced
    * broadcast: in a duplication-heavy crawl it can be a large fraction of
    * the corpus, and AQE already broadcasts it when its measured size
    * allows — forcing the hint would OOM the driver exactly when dedup
    * matters most. */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                minRun: Int = 8,
                maxWindowDocFreq: Int = MaxWindowDocFreq): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    require(maxWindowDocFreq >= 2,
      s"maxWindowDocFreq must be >= 2, got $maxWindowDocFreq")
    val ex = spanWindowHashes(df, idCol, textCol, minRun)
      .select(col(idCol), explode(col("__ws")).as("__s"))
    val shared = ex.groupBy("__s")
      .agg(min(col(idCol)).as("__min"), countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxWindowDocFreq)
    val flagged = ex.join(shared, "__s")
      .filter(col(idCol) > col("__min"))
      .select(col(idCol)).distinct()
    df.join(flagged, Seq(idCol), "left_anti")
  }

  /** [[spanDedup]]'s boilerplate cap: a window shared by more documents
    * is template text, not duplication signal */
  private[graft] val MaxWindowDocFreq = 1000

  /** substring span EXCISION — the Lee et al. 2021 ExactSubstr REMEDY that
    * [[spanDedup]]'s whole-doc drop only approximates: cut every shared
    * ≥ `minRun`-token verbatim run out of the LATER document of each
    * matched pair (keep-first precedent — the earlier document keeps the
    * text) and reassemble the remaining tokens in order, so a long book
    * sharing one boilerplate paragraph loses the paragraph, not the book
    * (at 100 TB the yield difference is the whole point of the remedy).
    *
    * Output contract: one row per INPUT document, (idCol, text), where
    * `text` is the space-joined remaining NORMALIZED tokens — the
    * transform normalizes uniformly (unmatched documents too), which is
    * what makes it IDEMPOTENT: excising an excised corpus is a no-op on
    * the fixture (OperatorsSpec pins this; re-tokenizing a reassembled
    * text yields the same token list). A fully-excised document keeps an
    * EMPTY-text row rather than disappearing — span excision is a
    * transform, not a filter; compose a length gate downstream to drop
    * husks.
    *
    * Cut-set identity: a shared run of L ≥ k tokens is covered exactly by
    * its L−k+1 matched k-windows, so the union of [pb, pb+k) over matched
    * window positions IS the shared-run token coverage — no explicit
    * islands/interval-merge stage is needed. Scale shape: the
    * explode-and-reassemble path (the only shuffling stage) runs ONLY over
    * FLAGGED documents — in a healthy crawl a small fraction of the corpus
    * — while every untouched document takes a row-local normalize
    * projection (codegen'd, no explode, no shuffle); the coverage explode
    * is O(matched windows · k), and candidate generation inherits
    * [[spanWindowMatches]]'s freq ≥ 2 + doc-freq ≤ `maxWindowDocFreq`
    * pruning. */
  def spanExcise(df: DataFrame, idCol: String, textCol: String,
                 minRun: Int = 8,
                 maxWindowDocFreq: Int = 1000): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    require(maxWindowDocFreq >= 2,
      s"maxWindowDocFreq must be >= 2, got $maxWindowDocFreq")
    val k = minRun
    val covered = spanWindowMatches(df, idCol, textCol, k, maxWindowDocFreq)
      .select(col("id_b").as(idCol), (col("__pa") - col("__d")).as("__pb"))
      .distinct()
      .select(col(idCol),
        explode(sequence(col("__pb"), col("__pb") + lit(k - 1))).as("__pos"))
      .distinct()
      .localCheckpoint()
    val flaggedIds = covered.select(col(idCol)).distinct()
    val normToks =
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol)))
    // the reassembly (flagged docs) and the untouched-doc normalize below
    // both re-tokenize from the corpus — fan the (id, text) projection so
    // the normalize pass isn't serialized on the unsplittable fixture scan
    // (both consumers are id-keyed joins/aggregates: partitioning-free)
    val base = Fan.out(df.select(col(idCol), col(textCol)))
    val rebuilt = base.join(flaggedIds, Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(normToks).as(Seq("__pos", "__tok")))
      .join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok"))).as("__text"))
    // fully-excised docs vanish from the grouped reassembly — restore them
    // as empty-text rows (excision is a transform, not a filter)
    val excised = flaggedIds
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol))
    val untouched = base.join(flaggedIds, Seq(idCol), "left_anti")
      .select(col(idCol), concat_ws(" ", normToks).as(textCol))
    untouched.unionByName(excised)
  }

  /** EXACT substring decontamination against a benchmark set: drop every
    * corpus document sharing a VERBATIM run of ≥ `minRun` tokens with ANY
    * benchmark document — the exact N-token-overlap rule (the GPT-3
    * appendix-C / Lee et al. 2021 "deduplicate at the 50-token level"
    * form) that [[decontaminate]]'s pooled-shingle Jaccard score only
    * approximates: a doc quoting one eval item verbatim inside a long
    * original text dilutes its Jaccard below any threshold, but is still
    * contaminated.
    *
    * Exactness: a shared verbatim run of L ≥ minRun tokens contains a
    * shared minRun-token window, and any shared window IS such a run —
    * so EXISTENCE of one matching window decides, with no run-length
    * measurement needed (the [[spanDedup]] argument). A shared run of
    * exactly minRun−1 tokens shares NO window and passes through. Windows
    * ride as xxhash64 longs with the same collision caveat + string-
    * recheck mitigation as [[spanWindowMatches]]; the STRING-exact oracle
    * verifies the shortcut.
    *
    * Scale shape: the benchmark is small by definition (eval sets are
    * thousands of items; the corpus is 100 TB), so its DISTINCT window-
    * hash set is explicitly broadcast; the corpus side is ONE
    * tokenize+hash projection, a broadcast LEFT SEMI join for the flagged
    * ids, and an anti-join — no corpus self-join, no shuffle of corpus
    * text. Docs shorter than minRun tokens cannot contain a run and are
    * never flagged. Unlike the corpus-internal span family, no
    * boilerplate doc-freq cap applies: against an eval set, even a window
    * shared by the whole corpus is real contamination. */
  def exactDecontaminate(corpus: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         minRun: Int = 8): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    // filter on token count BEFORE shingling: shinglesFromTokens emits one
    // degenerate sub-minRun window for a shorter doc (sequence floors at 0),
    // and two short texts matching on it would be a false contamination
    // flag. array_distinct BEFORE exploding: existence is the only signal,
    // so collapsing a doc's repeated windows up front shrinks the join input
    def windowRows(df: DataFrame, tcol: String, keep: Seq[Column]): DataFrame =
      df.select(keep :+
          TextAnalysis.tokens(TextAnalysis.normalized(col(tcol))).as("__toks"): _*)
        .filter(size(col("__toks")) >= minRun)
        .select(keep :+ explode(array_distinct(transform(
          shinglesFromTokens(col("__toks"), minRun, distinct = false),
          s => xxhash64(s)))).as("__s"): _*)
    val bw = windowRows(bench, benchTextCol, Seq.empty).distinct()
    // fan the corpus side only: its tokenize+window+hash projection is the
    // whole query's cost (r21 profile: 0.9 s of 1.8 s wall, one task) and
    // everything downstream is a broadcast semi-join + id aggregate; the
    // benchmark side is small by contract and feeds a broadcast build
    val cw = windowRows(Fan.out(corpus.select(col(idCol), col(textCol))),
      textCol, Seq(col(idCol)))
    val flagged = cw.join(broadcast(bw), Seq("__s"), "left_semi")
      .select(idCol).distinct()
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Benchmark DECONTAMINATION scores — the training-data hygiene pass every
    * LLM pipeline runs before training: score each corpus document's n-gram
    * overlap against a pooled BENCHMARK/eval shingle set, so the model is
    * not trained on its own test set (the GPT-3 appendix-C / Gopher-style
    * n-gram decontamination).
    *
    * contamination(doc) = |shingles(doc) ∩ benchShingles| / |shingles(doc)|
    * with benchmark shingles pooled across all benchmark rows — a document
    * stitching together pieces of several eval items still scores high.
    *
    * Scale shape: the benchmark is SMALL by definition (eval sets are
    * thousands of items; the corpus is 100 TB), so its distinct shingle set
    * is explicitly broadcast and the corpus side is ONE shingle-postings
    * pass (row-local projection + broadcast-hash left join + per-doc
    * aggregate) — no shuffle of the corpus text, no self-join, and a doc
    * with zero benchmark overlap scores 0 without special-casing. */
  def contaminationScores(corpus: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          ngram: Int = 3): DataFrame = {
    val benchSh = bench
      .select(explode(shingles(col(benchTextCol), ngram)).as("__s"))
      .distinct().withColumn("__hit", lit(1))
    // fan the corpus projection before the tokenize+shingle pass (the cost
    // of the whole score: one row-local projection otherwise serialized on
    // an unsplittable single-file scan); the per-doc aggregate below keys
    // by id, so partitioning does not affect results
    val ex = Fan.out(corpus.select(col(idCol), col(textCol)))
      .select(col(idCol),
        TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))).as("__toks"))
      .select(col(idCol),
        explode(shinglesFromTokens(col("__toks"), ngram, distinct = true)).as("__s"))
    ex.join(broadcast(benchSh), Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast(LongType).as("n_hits"))
      .withColumn("contamination",
        round(col("n_hits").cast(DoubleType) / col("n_shingles"), 6))
  }

  /** remove corpus documents whose [[contaminationScores]] contamination is
    * ≥ `maxContamination` — returns surviving corpus rows unchanged.
    *
    * A ROW-LOCAL filter: the benchmark's distinct shingle set (the rows
    * [[contaminationScores]] broadcasts) is collected once on the driver and
    * shipped as a Spark broadcast, and the fused
    * [[graft.functions.ShingleSetHitsExpr]] counts each row's distinct
    * shingles and benchmark hits in one codegen'd pass over its token
    * array — no explode, no join, no aggregate, no shuffle of the corpus
    * (PlanAuditSpec pins the Exchange-free plan). The score itself stays in
    * Spark's expressions, `round(n_hits / n_shingles, 6)`, so rounding is
    * [[contaminationScores]]' own and a NULL comparison keeps the row.
    *
    * Per-row semantics: [[contaminationScores]] aggregates by `idCol`, so
    * the two disagree only when `idCol` repeats (each row is decided on its
    * own shingles, not on its id's pooled ones) or is NULL (a contaminated
    * NULL-id row is dropped). With a unique non-null id the kept rows are
    * exactly those scoring below `maxContamination` (Round4OpsSpec). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    maxContamination: Double = 0.8, ngram: Int = 3): DataFrame = {
    val hits = benchShingleHits(
      TextAnalysis.tokens(TextAnalysis.normalized(col(textCol))),
      bench, benchTextCol, ngram)
    evalOnce(corpus, hits.as("__k"))
      .filter(belowContamination(col("__k.n_shingles"), col("__k.n_hits"),
        maxContamination))
      .drop("__k")
  }

  /** `df` plus one column per named kernel, each evaluated ONCE per row: a
    * one-row `inline(array(struct(kernels)))` Generate. A filter that
    * referenced a kernel's fields directly would run the kernel once per
    * reference (whole-stage codegen shares no subexpressions in filter
    * predicates), and predicate pushdown would substitute a projected
    * alias back into the filter; a generator's output is an attribute
    * neither can inline. */
  private[operators] def evalOnce(df: DataFrame, kernels: Column*): DataFrame =
    df.select(col("*"), inline(array(struct(kernels: _*))))

  /** the [[graft.functions.ShingleSetHitsExpr]] kernel over a token-array
    * column, against `bench`'s distinct shingle set: collected once on the
    * driver (one job) and shipped as a Spark broadcast. */
  private[operators] def benchShingleHits(toks: Column, bench: DataFrame,
                                          benchTextCol: String,
                                          ngram: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.unsafe.types.UTF8String
    val benchSet = new java.util.HashSet[UTF8String]()
    bench.select(shingles(col(benchTextCol), ngram)).collect()
      .filterNot(_.isNullAt(0))
      .foreach(_.getSeq[String](0).foreach(s => benchSet.add(UTF8String.fromString(s))))
    GraftSqlBridge.column(graft.functions.ShingleSetHitsExpr(
      GraftSqlBridge.expression(toks), ngram,
      bench.sparkSession.sparkContext.broadcast(benchSet)))
  }

  /** [[decontaminate]]'s keep predicate on the kernel's two fields: the
    * [[contaminationScores]] rounding, and a NULL comparison keeps the row */
  private[operators] def belowContamination(nShingles: Column, nHits: Column,
                                            maxContamination: Double): Column =
    not(coalesce(
      round(nHits.cast(DoubleType) / nShingles, 6) >= maxContamination,
      lit(false)))

  /** embedding-cosine near-dup pairs with banded-LSH blocking — the scale
    * path when no natural blocking key exists. Candidates = pairs sharing a
    * bandBits-bit random-hyperplane signature in ANY of `bands` bands
    * (bucket-local self-join per band, like MinHash banding); exact cosine
    * verifies candidates only. A single flat table needs tiny buckets for
    * selectivity but then misses near-dups that disagree on one plane —
    * banding buys that recall back without shrinking buckets. Bucket count
    * per band is 2^bandBits: raise bandBits with log₂(corpus) so the
    * bucket-local join stays ~linear, raise bands to hold recall. */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, dim: Int, bandBits: Int = 16,
                          bands: Int = 4, seed: Long = 42L): DataFrame = {
    val banded = Similarity.lshBandSignatures(df, idCol, vecCol, dim,
      bandBits, bands, seed)
    val cands = bandSelfJoinPairs(banded, idCol, "sig")
    val vecs = df.select(col(idCol), col(vecCol))
    cands
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("__va"), col("__vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** default per-block row bound for the blocked pairwise families: a 10k
    * block is ~50M within-block pairs — the outer edge of tractable; past
    * it the quadratic term dominates everything else in the job. The guard
    * is IN-PLAN (a runtime `raise_error` riding the block-count join, zero
    * extra jobs), so an oversized block fails loudly at execution instead
    * of silently burning the cluster — the maxWindowDocFreq pattern applied
    * to pairwise blocks, where dropping the block (the span-window cap's
    * answer) would silently change dedup semantics. */
  val DefaultMaxBlockRows: Long = 10000L

  /** default candidate-mass budget for the lossless containment profile
    * (Σ f² over the RETAINED shared vocabulary — i.e. post-`maxShingleDocFreq`,
    * exactly what the guard computes — an upper bound on the prefix⋈postings
    * fan-out, read from the checkpointed vocab table before the join runs).
    * Calibrated by ProbeContainmentMass (round 17) against what the guard
    * actually SEES under q_containment's 8·log₂ lossless valve: sf0.1
    * measures 2.8e6 (valve inactive ≤ 10k docs), the 30× GenScale corpus —
    * where the lossless profile still COMPLETES (52.8 s, BASELINE.md
    * round-14 table) — measures 3.69e8 under its valve (f ≤ 137), and the
    * 100× corpus — where it DNFs exhausting a 75 GB scratch disk — measures
    * 9.55e8 under its valve (f ≤ 151). (Raw un-valved masses are 1.28e9 /
    * 1.18e10 — irrelevant to the guard, which sieves after the freq cap.)
    * The default sits at the geometric middle of the completes/dies pair
    * (√(3.69e8·9.55e8) ≈ 5.9e8): a no-op at every correctness/bench/probe
    * scale, an immediate loud failure where the join would otherwise spill
    * for an hour and die. */
  val DefaultMaxCandidateMass: Long = 600_000_000L

  /** the in-plan oversized-block guard: `true` for every row of a block
    * within bound, raise_error (named block, its size, the advice) above
    * it. Used as a join-side filter so Catalyst cannot prune it away. */
  private def blockSizeGuard(op: String, blockKey: Column, n: Column,
                             maxRows: Long, advice: String): Column =
    when(n > maxRows,
      raise_error(format_string(
        s"$op: block %s has %s rows, above maxBlockRows=$maxRows — " +
          s"within-block pairwise cost is QUADRATIC in block size; $advice " +
          "or raise maxBlockRows explicitly",
        blockKey.cast("string"), n.cast("string"))).cast("boolean"))
      .otherwise(lit(true))

  /** embedding-cosine near-dup pairs: normalized-vector dot product over a
    * blocked candidate set. Blocking is REQUIRED (an unblocked self-join is
    * cartesian); use [[Similarity.lshSignature]] as a ready-made LSH
    * sign-bucket block when no natural key exists. The blocking key's
    * cardinality must GROW with the corpus (constant-cardinality keys make
    * block sizes — and the quadratic within-block term — scale with it);
    * `maxBlockRows` enforces that contract at runtime, failing loudly on
    * the first oversized block. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, blockCols: Seq[Column],
                            maxBlockRows: Long = DefaultMaxBlockRows): DataFrame = {
    require(blockCols.nonEmpty,
      "embeddingNearDupPairs requires non-empty blockCols: an unblocked " +
        "self-join is an O(n²) cartesian product — pass an LSH sign bucket " +
        "(Similarity.lshSignature) or a domain blocking key")
    val prepared = df.select(
      (Seq(col(idCol), col(vecCol).as("__v")) ++ blockCols.zipWithIndex.map {
        case (c, i) => c.as(s"__b$i")
      }): _*)
    val bk = blockCols.indices.map(i => s"__b$i")
    val counts = prepared.groupBy(bk.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
    val guarded = prepared.join(counts, bk)
      .filter(blockSizeGuard("embeddingNearDupPairs",
        concat_ws("/", bk.map(col): _*), col("__bn"), maxBlockRows,
        "refine the blocking key (its cardinality must grow with the corpus)"))
      .drop("__bn")
    val cond = (bk.map(k => col(s"l.$k") === col(s"r.$k")) :+
      (col(s"l.$idCol") < col(s"r.$idCol"))).reduce(_ && _)
    guarded.as("l").join(guarded.as("r"), cond)
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        Similarity.cosine(col("l.__v"), col("r.__v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style SEMANTIC near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space offline, then
    * compare pairwise cosine only WITHIN each cluster — the quadratic term
    * is bounded per cluster, and near-semantic duplicates land in the same
    * cluster by construction (they are near each other, hence near the same
    * centroid). Complements [[embeddingNearDupLsh]]: LSH banding targets
    * tight near-copies (cos ≳ 0.95) with per-band recall; cluster blocking
    * stays effective down at the "semantically redundant but differently
    * phrased" regime (the paper dedups at cos ≈ 0.93–0.95 on normalized
    * embeddings) where hyperplane buckets would need too many probes.
    *
    * Scale shape: the model is the offline sampled [[Similarity.ivfFit]]
    * (k-scaled sample, driver-local at fixture sizes, distributed-sample
    * Lloyd's past 2048 rows — never an iterative job over the corpus);
    * assignment is one
    * codegen'd argmin projection; the within-cluster self-join shuffles on
    * cluster id. Scale k with the corpus (the paper runs ~11k clusters on
    * LAION-scale data) so per-cluster row counts — and the bucket-local
    * join — stay bounded ([[Similarity.autoK]] computes k ≈
    * corpus/targetCellRows; the paper runs ~11k clusters on LAION-scale
    * data); AQE's skew split handles a moderately oversized cluster, and
    * `maxCellRows` fails loudly — in-plan, before any pairs are emitted —
    * on a cell past the quadratic-blowup bound.
    *
    * Pair emission matches the other near-dup families: (id_a < id_b,
    * rounded cosine), threshold applied to the RAW cosine. */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           model: Similarity.IvfModel,
                           threshold: Double = 0.95,
                           maxCellRows: Long = DefaultMaxBlockRows): DataFrame = {
    val assigned = Similarity.ivfAssign(
      df.select(col(idCol), col(vecCol)), vecCol, model)
    // enforce the "k grows with the corpus" contract at runtime: a fixed k
    // over a growing corpus makes cells — and the quadratic within-cell
    // term — grow linearly with it. Size k with Similarity.autoK at fit
    // time; this guard turns a mis-sized model into a loud failure instead
    // of a silently quadratic job.
    val cells = assigned.groupBy(col("__cluster"))
      .agg(count(lit(1)).as("__cn"))
    val guarded = assigned.join(cells, "__cluster")
      .filter(blockSizeGuard("semanticNearDupPairs", col("__cluster"),
        col("__cn"), maxCellRows,
        "refit with k ≈ corpus/targetCellRows (Similarity.autoK)"))
      .drop("__cn")
    val a = guarded.select(col(idCol).as("id_a"), col("__cluster"),
      col(vecCol).as("__va"))
    val b = guarded.select(col(idCol).as("id_b"), col("__cluster"),
      col(vecCol).as("__vb"))
    a.join(b, "__cluster")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("__va"), col("__vb")).as("__raw"))
      .filter(col("__raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__raw"), 6).as("cos"))
  }

  /** SemDeDup keep-one policy over [[semanticNearDupPairs]]: drop every row
    * whose embedding has a semantic near-dup with a LOWER id — deterministic
    * keep-first, consistent with [[exactDedup]]/[[spanDedup]] (the paper
    * keeps the example farthest from the centroid; min-id is deterministic,
    * order-independent, and exactly SQL-verifiable). The flagged set
    * anti-joins without a forced broadcast — the paper's operating points
    * drop up to 50% of the corpus, far past driver-broadcast size; AQE
    * broadcasts it when it is actually small. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    model: Similarity.IvfModel,
                    threshold: Double = 0.95,
                    maxCellRows: Long = DefaultMaxBlockRows): DataFrame = {
    val flagged = semanticNearDupPairs(df, idCol, vecCol, model, threshold,
        maxCellRows)
      .select(col("id_b").as(idCol)).distinct()
    df.join(flagged, Seq(idCol), "left_anti")
  }

  // ------------------------- content-defined chunking (byte-level dedup)

  /** deterministic gear table for [[cdcBoundaries]]: gear[b] =
    * xxh64(b, fixed seed) via the repo's spec-faithful reimplementation —
    * reproducible from the xxHash spec alone, no RNG state to ship. */
  private[graft] val CdcGear: Array[Long] =
    Array.tabulate(256)(b =>
      graft.verify.XxH64Portable.hashLong(b.toLong, 0x67E6C7D5CDC17L))

  /** FastCDC-style content-defined chunk boundaries (gear rolling hash;
    * cf. Xia et al., USENIX ATC'16): h ← (h << 1) + gear[byte]; cut when
    * the low `maskBits` bits are zero and the chunk has reached `minLen`,
    * force-cut at `maxLen`, and RESET h at each cut — so boundaries
    * depend only on bytes since the last cut, giving the CDC property
    * that matters for dedup: after an insertion/deletion, boundaries
    * resynchronize at the next natural cut and every downstream chunk
    * hashes identically (shift resistance — a fixed-width chunker would
    * shift every subsequent chunk). Returns END offsets (exclusive); the
    * final partial chunk is always emitted. Expected chunk length ≈
    * minLen + 2^maskBits. */
  private[graft] def cdcBoundaries(bytes: Array[Byte], minLen: Int,
                                   maxLen: Int, maskBits: Int): Array[Int] = {
    val mask = (1L << maskBits) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + CdcGear(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= minLen && (h & mask) == 0L) || len >= maxLen) {
        out += i + 1; start = i + 1; h = 0L
      }
      i += 1
    }
    if (start < bytes.length) out += bytes.length
    out.toArray
  }

  /** one content-defined chunk of a blob: `chunk_hash` is xxh64 of the
    * chunk bytes (seed 0) — the dedup key a chunk store indexes by. */
  case class CdcChunk(doc_id: Long, chunk_no: Int, offset: Long,
                      chunk_len: Long, chunk_hash: Long)

  /** content-defined chunking over a binary column — the STORAGE-dedup
    * primitive for a 100 TB blob/media lake: near-identical blobs (same
    * file re-crawled with a small edit, same video re-encoded container
    * metadata, boilerplate-wrapped documents) share every chunk outside
    * the edit region, so a chunk-hash store dedupes at sub-blob
    * granularity where whole-blob hashing sees 0% savings. Kernel work
    * only — one mapPartitions flatMap, no shuffle; emitted rows are the
    * answer's own size (Σ chunks). Empty/NULL blobs emit no rows.
    *
    * Parameters: expected chunk ≈ minLen + 2^maskBits bytes; maxLen
    * bounds the worst case (pathological byte runs that never hit the
    * mask). Chunk hashes use the spec-faithful xxh64 on both the
    * operator and oracle sides; boundary structure, length accounting,
    * and order are what the cross-engine check verifies (plus known-
    * vector and shift-resistance unit tests). */
  def cdcChunks(df: DataFrame, idCol: String, bytesCol: String,
                minLen: Int = 32, maxLen: Int = 256,
                maskBits: Int = 5): org.apache.spark.sql.Dataset[CdcChunk] = {
    require(minLen >= 1 && maxLen >= minLen,
      s"cdcChunks: need 1 <= minLen <= maxLen, got $minLen/$maxLen")
    require(maskBits >= 1 && maskBits <= 30,
      s"cdcChunks: maskBits must be in [1,30], got $maskBits")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(bytesCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val b = Option(bytes).getOrElse(Array.emptyByteArray)
          val ends = cdcBoundaries(b, minLen, maxLen, maskBits)
          var start = 0
          ends.iterator.zipWithIndex.map { case (end, no) =>
            val h = graft.verify.XxH64Portable.hashBytes(
              java.util.Arrays.copyOfRange(b, start, end), 0L)
            val c = CdcChunk(id, no, start.toLong, (end - start).toLong, h)
            start = end
            c
          }
        }
      }
  }

  /** corpus-level CDC dedup report: how many bytes a chunk store would
    * actually hold. `distinct_bytes` sums each distinct chunk hash's
    * length ONCE (lengths agree per hash absent a 64-bit collision);
    * savings = 1 − distinct/total. One shuffle on the chunk hash. */
  def cdcDedupStats(chunks: org.apache.spark.sql.Dataset[CdcChunk]): DataFrame =
    chunks.toDF()
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("__n"), first(col("chunk_len")).as("__len"))
      .agg(
        sum(col("__n")).cast(LongType).as("total_chunks"),
        count(lit(1)).cast(LongType).as("distinct_chunks"),
        sum(col("__n") * col("__len")).cast(LongType).as("total_bytes"),
        sum(col("__len")).cast(LongType).as("distinct_bytes"))

  /** persisted CDC chunk store (the incremental-store family,
    * [[writeFingerprintStore]] conventions): `<store>_chunks`
    * (chunk_hash, chunk_len, __batch), bucketed on the hash so every later
    * probe joins bucket-local without reshuffling the store. `__batch` is
    * the [[graft.sources.StoreTable.appendOnce]] tag (−1 for the initial
    * build) — [[cdcDedupAgainst]] skips a replayed batch append exactly. */
  def writeChunkStore(chunks: org.apache.spark.sql.Dataset[CdcChunk],
                      store: String, nBuckets: Int = 8): Unit =
    chunkStore(store).create(
      chunks.toDF().groupBy("chunk_hash")
        .agg(first(col("chunk_len")).as("chunk_len"))
        .withColumn("__first", lit(true)),
      nBuckets)

  /** the chunk store's rows are a batch's `__first` (store-new) chunks */
  private def chunkStore(store: String): StoreSpec =
    StoreSpec(store, Map.empty, Seq(Table("_chunks", "chunk_hash",
      _.filter(col("__first")).select(col("chunk_hash"), col("chunk_len")),
      tagged = true)))

  /** incremental byte-level dedup of a new blob batch against the chunk
    * store: per blob, how many of its bytes the store ALREADY holds
    * (`dup_bytes`) vs must newly admit (`new_bytes`) — the ingest
    * admission report for a 100 TB blob lake, where "is this crawl worth
    * storing" is a bytes question, not a whole-blob-identity question.
    * In-batch repeats count as stored after their first occurrence (the
    * keep-first convention: min (doc, chunk_no) owns a batch-new hash).
    * When `updateStore`, the batch's store-new distinct chunks append as
    * new bucket files ([[exactDedupAgainst]]'s append shape); append ≡
    * rebuild is pinned in BucketingSpec-style tests. One shuffle on the
    * chunk hash; the store side stays bucket-local.
    *
    * `batchId` ≥ 0 makes the call EXACTLY-ONCE under replay (streaming
    * retry, crash-recovery re-delivery): the probe excludes the store's own
    * `__batch == batchId` rows — so a replayed batch reports the SAME
    * admission numbers it reported the first time, not all-dup — and the
    * append goes through [[graft.sources.StoreTable.appendOnce]], so a
    * replayed batch never double-inserts a chunk hash. The probe side
    * additionally distincts the stored hashes (bucket-local — no shuffle on
    * a bucketed store), so even a store that accreted duplicate hashes
    * through untagged concurrent appends cannot multiply probed chunk rows
    * and inflate the report. */
  def cdcDedupAgainst(newBatch: DataFrame, idCol: String, bytesCol: String,
                      store: String, updateStore: Boolean = true,
                      minLen: Int = 32, maxLen: Int = 256,
                      maskBits: Int = 5, batchId: Long = -1L): DataFrame = {
    val spark = newBatch.sparkSession
    val chunks = cdcChunks(newBatch, idCol, bytesCol, minLen, maxLen, maskBits)
      .toDF().localCheckpoint() // chunk once: probed, aggregated, appended
    val storeTbl0 = spark.table(s"${store}_chunks")
    // self-exclusion: a replayed tagged batch must probe the store AS OF
    // before its own (possibly already-committed) append
    val storeTbl = if (batchId >= 0)
      storeTbl0.filter(col("__batch") =!= batchId) else storeTbl0
    val stored = storeTbl.select(col("chunk_hash")).distinct()
      .withColumn("__stored", lit(true))
    val probed = chunks.join(stored, Seq("chunk_hash"), "left")
    // first in-batch occurrence of each not-stored hash (keep-first)
    val w = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_no"))
    // the report reads the pinned probe: re-evaluated after the append, it
    // would see the batch's own chunks as already stored (every byte "dup")
    val marked = chunkStore(store).keep(probed.withColumn("__first",
      row_number().over(w) === 1 && col("__stored").isNull),
      updateStore, batchId)
    marked.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast(LongType).as("n_chunks"),
        sum(col("chunk_len")).cast(LongType).as("total_bytes"),
        sum(when(col("__first"), col("chunk_len")).otherwise(0L))
          .cast(LongType).as("new_bytes"),
        sum(when(col("__first"), lit(0L)).otherwise(col("chunk_len")))
          .cast(LongType).as("dup_bytes"))
  }
}

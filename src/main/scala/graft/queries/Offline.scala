package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.rd
import graft.operators.{Layout, Sampling, Similarity, TextAnalysis}

/** Per-sf-dir offline artifacts shared by queries and their oracles:
  * fitted models, persisted stores, derived rates, row counts and the
  * corpus-size parameter profiles. Each is memoized per dir, so a query
  * and its oracle read the same value whichever runs first. */
object Offline {

  /** a value derived from an sf dir's data */
  type PerDir[A] = (SparkSession, String) => A

  /** `f` memoized per sf dir: each dir's value is computed on first use. */
  private[queries] def perDir[A](f: PerDir[A]): PerDir[A] = {
    val memo = new scala.collection.concurrent.TrieMap[String, A]
    (s, dir) => memo.getOrElseUpdate(dir, f(s, dir))
  }

  /** a plain-JVM oracle recompute collects its whole table: refuse
    * above [[DF.maxDriverRows]] with a bounded limit probe, never a full
    * count (the clusterDedupFromPairs regime-probe pattern). */
  private[queries] def requireTestScale(df: DataFrame, op: String, reason: String): Unit = {
    val cap = DF.maxDriverRows
    val probed = df.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).count()
    if (probed > cap)
      throw new DriverMaterializationException(op, probed, cap,
        s"the rows-only check ($reason)")
  }

  /** offline-built IVF models, one per sf dir (q_ivf_ann times probing, not
    * index construction — the sampled fit runs once per JVM).
    *
    * Memoized deterministic IVF index build: the fit sample is the first
    * `fitSampleCap` rows in vec_id order (TakeOrdered, not an unordered
    * limit — bulletproof against parquet split/scheduling order), so the
    * fitted centroids are reproducible doubles that the generated DuckDB
    * oracle can embed as exact literals. */
  private[queries] val ivfModelFor: PerDir[Similarity.IvfModel] = perDir { (s, dir) =>
    // k grows with the corpus (k ≈ rows/128, floor 16) so SemDeDup cell
    // sizes — and the within-cell quadratic term — stay bounded as the
    // data scales; at the driver's test SFs (≤2000 embeddings) this
    // resolves to the legacy k=16, keeping the fitted-centroid oracles
    // and baseline shares unchanged. The count is one column-pruned scan,
    // part of the offline index build (untimed via warmOffline).
    val emb = rd(s, dir, "embeddings")
    Similarity.ivfFit(emb.orderBy("vec_id"), "embedding",
      k = Similarity.autoK(emb.count()))
  }

  /** memoized per-dir IVF STORE build (the persisted cell-partitioned
    * index — an offline step like the fit itself, warmed with it): table
    * name derived from the dir so multi-sf sessions don't collide. */
  private[queries] val ivfStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_ivf_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    Similarity.writeIvfStore(rd(s, dir, "embeddings"), "vec_id", "embedding",
      ivfModelFor(s, dir), name)
    name
  }

  /** memoized per-dir LSH signature store (same offline-index contract). */
  private[queries] val lshStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_lsh_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    Similarity.writeLshStore(rd(s, dir, "embeddings"), "vec_id", "embedding",
      name, dim = 64, nBits = 16)
    name
  }

  /** memoized deterministic PQ codebook fit (offline index build, like the
    * IVF fit — sample rows in vec_id order so the fitted codebooks are
    * reproducible doubles the generated oracle embeds as exact literals). */
  private[queries] val pqModelFor: PerDir[Similarity.PqModel] = perDir { (s, dir) =>
    Similarity.pqFit(rd(s, dir, "embeddings").orderBy("vec_id"),
      "embedding")
  }

  /** memoized per-dir PQ code store (the persisted m-bytes-per-vector
    * index — an offline step like the fit itself). */
  private[queries] val pqStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_pq_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    Similarity.writePqStore(rd(s, dir, "embeddings"), "vec_id", "embedding",
      pqModelFor(s, dir), name)
    name
  }

  /** memoized per-dir IVF-PQ composite store (cell-partitioned code bytes
    * — the FAISS IVFADC shape; offline build like its two parents). */
  private[queries] val ivfPqStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_ivfpq_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    Similarity.writeIvfPqStore(rd(s, dir, "embeddings"), "vec_id",
      "embedding", ivfModelFor(s, dir), pqModelFor(s, dir), name)
    name
  }

  private[queries] val int8StoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_int8_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    Similarity.writeInt8Store(rd(s, dir, "embeddings"), "vec_id", "embedding",
      name)
    name
  }

  private[queries] val searchStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_search_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.operators.Search.writeInvertedIndex(rd(s, dir, "documents"),
      "doc_id", "text", name)
    name
  }

  /** accreting cardinality sketch store, one per sf dir: slice 0 of a
    * doc_id-mod-3 split seeds it, slices 1-2 append (tagged, idempotent) —
    * the 3-batch ingest history q_card_store's estimates probe never
    * rescans. */
  private[queries] val cardStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_card_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    val tok = rd(s, dir, "documents").select(col("source"), col("doc_id"),
      explode(filter(split(lower(trim(col("text"))), "\\s+"),
        t => length(t) > lit(0))).as("__tok"))
    graft.operators.Profiling.writeCardinalityStore(
      tok.filter(pmod(col("doc_id"), lit(3)) === 0),
      "source", col("__tok"), name, lgK = 12)
    Seq(1, 2).foreach { b =>
      graft.operators.Profiling.appendCardinalitySketches(s, name,
        tok.filter(pmod(col("doc_id"), lit(3)) === b),
        "source", col("__tok"), lgK = 12, batchTag = b.toLong)
    }
    name
  }

  /** accreting CMS frequency store, one per sf dir: same 3-batch mod-slice
    * ingest history as [[cardStoreFor]] — the heavy-hitter twin. */
  private[queries] val freqStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_freq_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    val tok = rd(s, dir, "documents").select(col("source"), col("doc_id"),
      explode(filter(split(lower(trim(col("text"))), "\\s+"),
        t => length(t) > lit(0))).as("__tok"))
    graft.operators.Profiling.writeFrequencyStore(
      tok.filter(pmod(col("doc_id"), lit(3)) === 0), col("__tok"), name,
      eps = 0.001, confidence = 0.99, seed = 42)
    Seq(1, 2).foreach { b =>
      graft.operators.Profiling.appendFrequencySketch(s, name,
        tok.filter(pmod(col("doc_id"), lit(3)) === b), col("__tok"),
        eps = 0.001, confidence = 0.99, seed = 42, batchTag = b.toLong)
    }
    name
  }

  private[queries] val posStoreFor: PerDir[String] = perDir { (s, dir) =>
    val name = s"graft_pos_store_${java.lang.Integer.toHexString(dir.hashCode)}"
    graft.operators.Search.writePositionalIndex(rd(s, dir, "documents"),
      "doc_id", "text", name)
    name
  }

  /** offline-derived token-budget mixing rates, one per sf dir (the
    * domains-sized aggregate runs once per JVM; the q_token_budget oracle
    * embeds the resulting basis-point thresholds as literals — the
    * ivfModelFor pattern).
    * Budget 10k tokens at target shares src0=0.25, src1=0.15, uniform rest:
    * exercises the kept-whole cap, the weighted path, and downsampling. */
  private[queries] val budgetRatesFor: PerDir[Map[String, Double]] = perDir { (s, dir) =>
    Sampling.tokenBudgetRates(rd(s, dir, "documents"), "text", "source",
      budgetTokens = 10000L,
      weights = Map("src0" -> 0.25, "src1" -> 0.15))
  }

  /** the raw corpus is punctuation-free (subword ≡ whitespace counts —
    * verified, the variant would not discriminate), so the subword query
    * plants a doc_id-varying punctuated suffix: " ... ok?! " × (doc_id % 4)
    * counts 2 whitespace tokens but 6 subwords per repeat, skewing the
    * per-source totals differently under each tokenizer. */
  private[queries] def plantPunctuated(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"), repeat(lit(" ... ok?! "), pmod(col("doc_id"), lit(4))
        .cast("int"))))

  /** the same rates derived over BPE-ish SUBWORD counts (the production
    * budget unit) via the tokenizer-as-a-parameter overload —
    * [[TextAnalysis.subwordCount]] stands in for a real BPE tokenizer; on
    * the planted corpus the subword rates diverge from whitespace rates,
    * so the q_token_budget_subword oracle pins a genuinely different kept
    * set. */
  private[queries] val budgetSubwordRatesFor: PerDir[Map[String, Double]] = perDir { (s, dir) =>
    Sampling.tokenBudgetRates(plantPunctuated(rd(s, dir, "documents")),
      TextAnalysis.subwordCount(col("text")), "source",
      budgetTokens = 10000L,
      weights = Map("src0" -> 0.25, "src1" -> 0.15))
  }

  /** memoized REAL-BPE model (round 18 — the tokenizer the token-budget
    * hook existed for): Sennrich merges learned offline from the corpus's
    * capped word-frequency head (the ivfFit offline-index shape; fit cost
    * is vocab-sized, never corpus-sized). The merges table is plain data —
    * the oracle side re-runs an independently-coded GPT-2 encode loop over
    * the SAME table (a production merges file), so the distributed
    * kernel's counts are externally pinned per doc.
    *
    * The merge budget is deliberately SMALL relative to the fixture's
    * vocabulary (the synthetic corpus has ~31 words; ~109 merges would
    * fully fuse all of them, collapsing BPE counts onto whitespace counts
    * and making the q_bpe_count / q_token_budget_bpe rows vacuous — 200
    * merges MEASURED exactly that degeneracy). 24 merges leave the vocab
    * partially merged: frequent short words fuse to one unit, longer/rarer
    * words stay split 2-4 ways, so per-doc counts — and the budget rates
    * derived from them — genuinely differ from both the whitespace and
    * subword siblings. The kernel itself is merge-count-agnostic; a
    * production fit would pass 32k-50k. */
  private[queries] val bpeModelFor: PerDir[graft.operators.Bpe.BpeModel] =
    perDir((s, dir) => graft.operators.Bpe.fit(rd(s, dir, "documents"), "text",
      numMerges = 24, maxVocab = 20000))

  /** token-budget rates over REAL BPE counts (the production budget unit):
    * the same 10k-token budget and weights as [[budgetRatesFor]], with the
    * per-doc counts from the distributed BPE kernel — BPE merges compress
    * frequent words to fewer units than subwordCount's one-per-run, so the
    * totals, rates, and kept set all differ from both siblings. */
  private[queries] val budgetBpeRatesFor: PerDir[Map[String, Double]] = perDir { (s, dir) =>
    val docs = rd(s, dir, "documents")
    val counted = docs.select(col("doc_id"), col("source"))
      .join(graft.operators.Bpe.tokenCountsDict(docs, "doc_id", "text",
        bpeModelFor(s, dir)), Seq("doc_id"))
    Sampling.tokenBudgetRates(counted, col("n_bpe"), "source",
      budgetTokens = 10000L,
      weights = Map("src0" -> 0.25, "src1" -> 0.15))
  }

  /** WATERFILL rates (budget as exact TARGET, not cap): budget = half the
    * corpus tokens with src0 claiming 0.6 of it — src0's tokens (~5% of the
    * corpus) fit inside that allocation, so it saturates (kept whole) and
    * its unclaimed mass redistributes; src1 at 0.08 saturates only AFTER
    * round-1 redistribution lifts its allocation past its totals — a
    * two-round cascade, so the oracle pins the iterative waterfill loop,
    * not just the plain-rates formula (plain rates here would be ~0.21 for
    * unspecified domains; waterfill lands ~0.44). */
  private[queries] val budgetWaterfillRatesFor: PerDir[Map[String, Double]] = perDir { (s, dir) =>
    val docs = rd(s, dir, "documents")
    val total = docs
      .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")))
      .head().getLong(0)
    Sampling.tokenBudgetRatesWaterfill(docs, "text", "source",
      budgetTokens = math.max(1L, total / 2),
      weights = Map("src0" -> 0.6, "src1" -> 0.08))
  }

  /** offline-derived Z-order dimension bounds over orders (one 4-value
    * min/max scan per sf dir, memoized); q_zorder's oracle embeds (lo, hi,
    * shift) as literals and re-derives the bit interleave in SQL — the
    * budgetRates / ivfModelFor pattern. 8 bits/dim keeps the generated
    * oracle's unrolled interleave short while still splitting both
    * dimensions far below file granularity. */
  private[graft] val ZorderBits = 8
  private[queries] def zorderDay: Column =
    datediff(col("o_orderdate").cast(org.apache.spark.sql.types.DateType),
      to_date(lit("1970-01-01")))
  private[queries] val zorderBoundsFor: PerDir[(Layout.DimBounds, Layout.DimBounds)] =
    perDir((s, dir) =>
      Layout.bounds2(rd(s, dir, "orders"), col("o_custkey"), zorderDay, ZorderBits))

  /** offline-derived α-temperature mixing rates (same lazy-literal
    * mechanism as [[budgetRatesFor]]): the fixture's sources are uniform,
    * so the query derives a SKEWED domain from doc_id (8:4:2:2 per 16 ids)
    * to give the temperature flattening something to flatten; α = 0.5 at a
    * 0.4-of-corpus budget downsamples the head hardest (head rate < mid <
    * tail — the signature of q_i ∝ n_i^α). */
  private[queries] def skewedDomain: Column =
    when(col("doc_id") % 16 < 8, "head")
      .when(col("doc_id") % 16 < 12, "mid")
      .when(col("doc_id") % 16 < 14, "tail1")
      .otherwise("tail2")
  private[queries] val tempRatesFor: PerDir[Map[String, Double]] = perDir { (s, dir) =>
    Sampling.temperatureRates(
      rd(s, dir, "documents").withColumn("__dom", skewedDomain),
      "__dom", alpha = 0.5, targetFraction = 0.4)
  }

  /** memoized documents row count per sf dir (one column-pruned count job,
    * warmed with the other offline artifacts) — feeds the corpus-size-
    * derived parameter profile below. */
  private[queries] val docCountFor: PerDir[Long] =
    perDir((s, dir) => rd(s, dir, "documents").count())

  private def log2(n: Long): Double = math.log(math.max(n, 1).toDouble) / math.log(2.0)

  /** CORPUS-SIZE-DERIVED parameter profile for the candidate-pair-bound
    * dedup queries (round-10 verdict item 2): the knobs the operator
    * scaladocs prescribe to grow with log₂(corpus), frozen until round 10
    * at the sf0.1 fixture values. At the driver's test SFs (≤8192 docs)
    * every knob resolves to the legacy constant — the static oracle SQL and
    * the baseline shares are unchanged — and past that they engage (the 10×
    * stress corpus is the first to see them).
    *
    * MinHash rows-per-band for the n-gram jaccard LSH: r grows by 1 per 8×
    * corpus, steepening the band S-curve (midpoint (1/bands)^(1/r)) so the
    * false-candidate mass — ∝ n² · P(collide at the background jaccard) —
    * stays bounded while recall at the 0.5 threshold stays on the curve's
    * upper shoulder. */
  private[graft] def jaccardLshParams(n: Long): (Int, Int) = {
    val bands = 8
    val extra = math.max(0, math.ceil((log2(n) - 13.0) / 3.0).toInt)
    ((2 + extra) * bands, bands)
  }

  /** containment candidate-generation freq cap: boilerplate shingles (doc
    * freq past ~8·log₂(corpus)) leave candidate generation — their posting
    * lists scale with the corpus, not with true duplication. Uncapped (the
    * lossless ground-truth contract) at the correctness SFs. */
  private[graft] def containmentFreqCap(n: Long): Long =
    if (n <= 10000) Long.MaxValue else math.max(64L, (8.0 * log2(n)).toLong)

  /** PRODUCTION containment cap profile (q_containment_capped): engaged at
    * EVERY corpus size, and materially tighter than [[containmentFreqCap]]'s
    * 8·log₂ valve — 3·log₂(corpus) with a floor of 32. The candidate join's
    * fan-out on a shingle of document frequency f is O(f²), so the cost of
    * the band f ∈ (3·log₂ n, 8·log₂ n] that [[containmentFreqCap]] admits
    * grows ~7× faster than what this profile admits; on a replica-heavy
    * corpus that band is exactly where template/boilerplate vocabulary
    * lands. Lossy ONLY for pairs whose every rarest-prefix witness is
    * boilerplate at this tighter bar. At the correctness SFs the floor
    * keeps it a no-op (max observed shingle doc-freq: 7 at sf0.01, 25 at
    * sf0.1 — both under 32), so the ground-truth oracle stays exact. */
  private[graft] def containmentFreqCapScaled(n: Long): Long =
    math.max(32L, (3.0 * log2(n)).toLong)

  /** memoized embeddings row count per sf dir (same shape as [[docCountFor]]),
    * feeding the corpus-scaled banding profile below. */
  private[queries] val embCountFor: PerDir[Long] =
    perDir((s, dir) => rd(s, dir, "embeddings").count())

  /** corpus-size-derived bandBits for the banded-hyperplane embedding
    * near-dup ([[Dedup.embeddingNearDupLsh]]'s scaladoc rule made a
    * PROFILE): per-band bucket count is 2^bandBits, so bandBits must grow
    * with log₂(corpus) for the bucket-local join to stay ~linear —
    * ceil(log₂ n)+3 keeps expected bucket occupancy under ~n/8·2^-log₂(n)
    * ≈ ⅛ row as the corpus grows. Floor 12 pins the fixture corpora
    * (500-2k embeddings) at the q_embedding_neardup static-oracle
    * parameter; cap 15 holds the 4-band pooled signature at 60 bits, clear
    * of the 64-bit pack and the DuckDB oracle's sign-bit ceiling (past
    * ~4k× the fixture, raise `bands` to buy recall back instead). */
  private[graft] def embeddingBandBits(n: Long): Int =
    math.min(15, math.max(12, math.ceil(log2(n)).toInt + 3))

  /** corpus-size-derived per-band width for the Manku banded simhash
    * hamming search ([[Dedup.simhashHammingPairsWide]]): bucket selectivity
    * is 2^width per band, so width grows with log₂(corpus) —
    * ceil(log₂ n)+3 keeps expected band-bucket occupancy under ~⅛ doc.
    * Floor 15 pins the fixture floor to the legacy 60-bit signature
    * (4 × 15; [[graft.functions.SimHashWideExpr]] at 60 bits is
    * bit-identical to the legacy portable kernel); cap 30 holds the
    * 4-band signature at 120 bits — the two-long pack and the DuckDB
    * BIGINT shift ceiling (past ~2^27 docs per partition-of-interest,
    * widen `bands`/maxHamming instead). 500 docs (sf0.01) → 15 (legacy
    * degenerate); 5000 (sf0.1) → 16, so the WIDE two-long path itself is
    * oracle-pinned at the driver's SFs; 150k (30×) → 21. */
  private[graft] def simhashBandBits(n: Long): Int =
    math.min(30, math.max(15, math.ceil(log2(n)).toInt + 3))

  /** corpus-scaled fuzzy-join BLOCK prefix length: +1.5 chars per corpus
    * DOUBLING past the fixture scale. Fixed-prefix blocking is quadratic
    * in data (block count constant ⇒ block size ∝ n ⇒ pairs ∝ n² —
    * measured: q_fuzzy_join 1.9 s → 19.2 s → 256 s at 10×/30×); each
    * added prefix char multiplies the distinct-block count by the text's
    * effective branching factor, holding expected pair mass — and the
    * candidates×verify term — bounded. The slope is calibrated to
    * measured branching (~0.7 bits/char through the first word, where
    * salted-replica suffixes split late): a gentler +0.5 chars/doubling
    * left 260 M pairs at 100× (probe DNF-class, 598 s); this profile
    * measures 105 k → 911 k → 229 k → 311 k pairs at sf0.1/10×/30×/100×.
    * ≤ 8192 docs resolves to the legacy 4 (static oracle and baseline
    * shares unchanged). The trade is recall at the BLOCK boundary: pairs
    * differing inside the first L chars are out of scope by contract —
    * exactly the [[graft.operators.TextAnalysis.fuzzyJoin]] blocking
    * semantics, which is what keeps the scaled form oracle-checkable. */
  private[graft] def fuzzyPrefixLen(n: Long): Int = {
    val excess = log2(math.max(n, 1)) - 13.0 // log2(8192)
    4 + math.max(0, math.ceil(1.5 * excess).toInt)
  }

  /** memoized exact per-column distinct counts of the profiled table —
    * the offline AUDIT ARTIFACT q_profile_prod's contract flag compares
    * the production one-pass HLL estimates against
    * ([[graft.operators.Profiling.profileTableApproxAgainst]]). One exact
    * profile pass per sf dir (the k× Expand), run once per JVM on the
    * audit cadence — warmOffline pre-builds it so the benched query times
    * ONLY the production HLL plan. */
  private[queries] val profileExactDistinctFor: PerDir[Map[String, Long]] = perDir { (s, dir) =>
    graft.operators.Profiling.profileTable(rd(s, dir, "lineitem"),
        exact = true)
      .select("column_name", "n_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** pre-build every memoized OFFLINE artifact for `dir` — the IVF model
    * (sampled Lloyd's fit), token-budget rates, and temperature rates — so
    * a bench's timed queries measure probing/filtering, not index
    * construction. Without this the FIRST ivf/budget query in iteration
    * order paid the one-time build inside its timed window (measured: a
    * reverse-order draw put 1.8 s of fit on q_ivf_recall instead of
    * q_ivf_ann — order-dependent numbers, the round-3 lesson). Bench's
    * warmup calls this; Verify doesn't need to (correctness is
    * time-independent, and the memo makes it run-once either way). */
  def warmOffline(s: SparkSession, dir: String): Unit = {
    ivfModelFor(s, dir)
    budgetRatesFor(s, dir)
    budgetSubwordRatesFor(s, dir)
    budgetWaterfillRatesFor(s, dir)
    tempRatesFor(s, dir)
    docCountFor(s, dir)
    embCountFor(s, dir)
    ivfStoreFor(s, dir)
    lshStoreFor(s, dir)
    int8StoreFor(s, dir)
    pqStoreFor(s, dir)
    ivfPqStoreFor(s, dir)
    searchStoreFor(s, dir)
    posStoreFor(s, dir)
    cardStoreFor(s, dir)
    freqStoreFor(s, dir)
    zorderBoundsFor(s, dir)
    profileExactDistinctFor(s, dir)
    bpeModelFor(s, dir)
    budgetBpeRatesFor(s, dir)
  }
}

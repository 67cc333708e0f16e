package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Relational, Sampling, Similarity, TextAnalysis}

/** [EXT] operator semantics: dedup, text analysis, similarity, relational
  * (as-of), multimodal plumbing — small fixtures with known answers. */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog", "en"),   // near dup of 1
    (4L, "completely different text about spark engines", "en"),
    (5L, "El perro corre por el parque y el gato duerme", "es")
  ).toDF("doc_id", "text", "lang")

  test("exactDedup keeps the lowest id per group, deterministically") {
    val kept = Dedup.exactDedup(docs, col("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L)) // 2 dropped (dup of 1)
  }

  test("minhash signatures: identical texts get identical sigs, length = numHashes") {
    val sigs = Dedup.minhashSigs(docs, "doc_id", "text", numHashes = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the row-local native path must be bit-identical to the explode+agg
    // form (same affine family; min over multiset ≡ min over set)
    val aggSigs = Dedup.minhashSigsAgg(docs, "doc_id", "text", numHashes = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs == aggSigs)
    assert(sigs(1L).length == 32)
    assert(sigs(1L) == sigs(2L))           // identical text → identical sig
    assert(sigs(1L) != sigs(4L))           // different text → different sig
    // near-dup estimate tracks true Jaccard: docs 1/3 differ in 1 of 9 words
    // → 3-gram shingle Jaccard = 4/10 = 0.4 → expect ≈ 0.4*32 agreements,
    // and strictly more than an unrelated pair
    val agreeNear = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val agreeFar = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agreeNear >= 8, s"near-dup agreement only $agreeNear/32")
    assert(agreeNear > agreeFar)
  }

  test("minhashDedup removes exact duplicate, keeps distinct docs") {
    val kept = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(!kept.contains(2L))
    assert(kept.contains(4L) && kept.contains(5L))
  }

  test("simhash: equal for identical, near for near-dups (hamming)") {
    val sh = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // all three formulations must agree bit-for-bit: the 64-fold Column
    // form, the fused kernel, and the explode+vote aggregate
    val kernel = Dedup.simhashSigs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashSigsAgg(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == sh && agg == sh)
    assert(sh(1L) == sh(2L))
    val hammingNear = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hammingFar = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hammingNear < hammingFar)
  }

  test("simhashHammingPairsFromSigs: pigeonhole recall at d<=k, rejects d>k") {
    // signatures engineered around a 60-bit base: every pair at hamming <= 3
    // MUST be found (banding is guaranteed-recall by pigeonhole, regardless
    // of WHICH bits differ), pairs at hamming > 3 must be rejected even when
    // they share a band bucket
    val base = 0x0123456789ABCDL // 60-bit value
    val sigs = Seq(
      1L -> base,
      2L -> (base ^ 1L),                               // d=1 (band 0)
      3L -> (base ^ ((1L << 14) | (1L << 29) | (1L << 59))), // d=3, one flip in bands 0,1,3
      4L -> (base ^ ((1L << 5) | (1L << 20) | (1L << 35) | (1L << 50))), // d=4: one flip in EVERY band
      5L -> (base ^ 0xFFL)                             // d=8, all in band 0
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashHammingPairsFromSigs(sigs, "doc_id", "simhash",
        nBits = 60, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1L)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) == 3L)
    assert(!pairs.contains((1L, 4L))) // d=4 > maxHamming: no band agrees anyway
    assert(!pairs.contains((1L, 5L))) // candidate via bands 1-3, killed by verify
    assert(!pairs.contains((2L, 3L))) // 2 vs 3 differ in bits {0,14,29,59}: d=4
    // the full-width band (maxHamming 0 over 64 bits): one 64-bit band, so
    // the banded pairs are exactly the brute-force equal signatures — a
    // bit-63 flip (sign bit) included among the must-not-pair near misses
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(20)(rnd.nextLong())
    val full64 = vals.indices.map(i => i.toLong -> vals(i)) ++
      (0 until 5).map(i => (100L + i) -> vals(i)) ++
      (0 until 5).map(i => (200L + i) -> (vals(i) ^ Long.MinValue)) ++
      (0 until 5).map(i => (300L + i) -> (vals(i) ^ 1L))
    val brute0 = (for ((a, x) <- full64; (b, y) <- full64 if a < b && x == y)
      yield (a, b)).toSet
    val banded0 = Dedup.simhashHammingPairsFromSigs(
        full64.toDF("doc_id", "simhash"), "doc_id", "simhash",
        nBits = 64, maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute0.size == 5 && banded0 == brute0, s"banded $banded0")
  }

  test("bandMask: full-width band keeps all 64 bits (JVM shift-mod-64 trap)") {
    // (1L << 64) - 1 is 0 on the JVM — a width-64 band (maxHamming=0 over a
    // 64-bit signature) must mask to all-ones or every row lands in bucket 0
    // and the bucket-local self-join degrades to an O(n^2) cross join
    assert(Dedup.bandMask(64) == -1L)
    assert(Dedup.bandMask(63) == Long.MaxValue)
    assert(Dedup.bandMask(15) == 0x7FFFL)
    assert(Dedup.bandMask(1) == 1L)
    // end-to-end at the trap configuration: maxHamming=0, nBits=64, high bit
    // set — exact-equal signatures pair, any differing signature must not
    val sigs = Seq(
      1L -> 0x8000000000000001L, // bit 63 set: distinguishes signed smear too
      2L -> 0x8000000000000001L, // exact dup of 1
      3L -> 0x8000000000000000L, // d=1 from 1/2 — must NOT pair at maxHamming=0
      4L -> 0x0000000000000001L  // d=1 from 1/2 in the top bit
    ).toDF("doc_id", "simhash")
    val pairs = Dedup.simhashHammingPairsFromSigs(sigs, "doc_id", "simhash",
        nBits = 64, maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhashHammingPairs finds a planted near-copy exact matching misses") {
    // a long doc and a near-copy differing in ONE token: enough shared
    // tokens that the majority votes move by <= 3 bits — the planted pair
    // exact-signature dedup cannot see
    val words = (1 to 80).map(i => s"w$i").mkString(" ")
    val nearCopy = (1 to 80).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val planted = Seq(
      (1L, words), (2L, nearCopy),
      (3L, "completely unrelated text about spark engines and parquet files")
    ).toDF("doc_id", "text")
    // ground truth from the signatures themselves
    val sigs = Dedup.simhashSigs(planted, "doc_id", "text", portable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d12 = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    assert(sigs(1L) != sigs(2L), "near-copy must NOT be an exact signature match")
    val k = math.max(3, d12) // plant guarantees small-but-nonzero distance
    val pairs = Dedup.simhashHammingPairs(planted, "doc_id", "text",
        maxHamming = k, portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      s"planted pair at hamming $d12 not found at maxHamming=$k")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // brute-force cross-check on the 3-doc corpus: banded search result ==
    // all-pairs bit_count filter (recall guarantee, not just spot hits)
    val ids = sigs.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= k
    } yield (a, b)).toSet
    assert(pairs == brute)
    // and the greedy dedup drops exactly the higher id of the planted pair
    val kept = Dedup.simhashDedupHamming(planted, "doc_id", "text",
        maxHamming = k, portable = true)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("wide simhash at 60 bits is bit-identical to the legacy portable kernel") {
    // the corpus-scaled profile's fixture-floor degenerate: the two-long
    // kernel at nBits=60 must reproduce the legacy 60-bit signature exactly
    // (same md5 lo half, same votes), with the hi long all-zero — this is
    // what keeps q_simhash_hamming_scaled on the legacy parameters at the
    // smallest SFs
    val legacy = Dedup.simhashSigs(docs, "doc_id", "text", portable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = Dedup.simhashSigsWide(docs, "doc_id", "text",
        nBits = 60, portable = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wide.keySet == legacy.keySet)
    wide.foreach { case (id, (lo, hi)) =>
      assert(lo == legacy(id), s"doc $id: wide lo != legacy sig")
      assert(hi == 0L, s"doc $id: 60-bit wide signature must have hi = 0")
    }
  }

  test("wide banded search (straddling bands) ≡ brute-force hamming at 84 bits") {
    // 84 bits / 4 bands = 21-bit bands: band 2 covers bits [42, 63) and
    // STRADDLES the lo/hi long boundary at bit 60 — the slicing under test.
    // Recall is pigeonhole-guaranteed, so banded results must equal the
    // all-pairs bit_count filter exactly on a corpus with planted near-dups.
    val varied = (0 until 12).map { d =>
      // doc d mutates tokens d, d+1 (overlapping mutation sets → a spread
      // of pairwise hamming distances)
      (d.toLong, (1 to 60).map { i =>
        if (i == d || i == d + 1) s"mut${d}_$i" else s"tok$i"
      }.mkString(" "))
    }
    // exact re-keys guarantee hamming-0 pairs exist, so the ≤3 result set
    // is provably non-empty whatever the vote arithmetic does to the rest
    val corpus = (varied ++ varied.take(3).map { case (d, t) => (100L + d, t) })
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSigsWide(corpus, "doc_id", "text",
        nBits = 84, portable = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val brute = (for {
      a <- sigs.keys.toSeq.sorted; b <- sigs.keys.toSeq.sorted if a < b
      d = java.lang.Long.bitCount(sigs(a)._1 ^ sigs(b)._1) +
        java.lang.Long.bitCount(sigs(a)._2 ^ sigs(b)._2)
      if d <= 3
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture must contain pairs at hamming <= 3")
    val banded = Dedup.simhashHammingPairsWide(corpus, "doc_id", "text",
        nBits = 84, maxHamming = 3, portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded == brute,
      s"banded ${banded.size} pairs != brute-force ${brute.size}")
    // the hi long genuinely participates (bits past 60 are populated)
    assert(sigs.values.exists(_._2 != 0L), "84-bit signatures must use hi")
    // greedy dedup twin: drops exactly the higher id of every found pair
    val kept = Dedup.simhashDedupHammingWide(corpus, "doc_id", "text",
        nBits = 84, maxHamming = 3, portable = true)
      .select("doc_id").as[Long].collect().toSet
    val expectedDropped = brute.map(_._2)
    assert(kept == sigs.keySet -- expectedDropped,
      s"greedy wide dedup kept $kept")
    // 120 bits in 7 bands (maxHamming 6): widths 18,17,…,17 — bands straddle
    // the lo/hi boundary and reach the hi long's top bit 119
    def ham(x: (Long, Long), y: (Long, Long)) =
      java.lang.Long.bitCount(x._1 ^ y._1) + java.lang.Long.bitCount(x._2 ^ y._2)
    val sigs120 = Dedup.simhashSigsWide(corpus, "doc_id", "text",
        nBits = 120, portable = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ids = sigs120.keys.toSeq.sorted
    val brute120 = (for (a <- ids; b <- ids if a < b && ham(sigs120(a), sigs120(b)) <= 6)
      yield (a, b)).toSet
    val banded120 = Dedup.simhashHammingPairsWide(corpus, "doc_id", "text",
        nBits = 120, maxHamming = 6, portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute120.nonEmpty && banded120 == brute120,
      s"banded ${banded120.size} pairs != brute-force ${brute120.size}")
    assert(sigs120.values.exists(_._2 >>> 50 != 0L), "120-bit signatures must use bits past 110")
    // frame-aligned search (the video layout): clip c's frame f carries the
    // signature of doc (c + 5f) mod n, so a clip pair matches at some frames
    // and not at others; the banded (id_a, id_b, frame_no) set must equal
    // the brute-force pairs within 6 bits at the SAME frame index
    val frames = for (c <- ids.indices; f <- 0 until 3)
      yield (c.toLong, f, sigs120(ids((c + 5 * f) % ids.size)))
    val bruteF = (for {
      (a, fa, x) <- frames; (b, fb, y) <- frames
      if fa == fb && a < b && ham(x, y) <= 6
    } yield (a, b, fa)).toSet
    val bandedF = Dedup.hammingPairs(
        frames.map { case (c, f, (lo, hi)) => (c, f, lo, hi) }
          .toDF("clip", "frame_no", "sim_lo", "sim_hi"),
        "clip", Dedup.HammingLayout(Seq("sim_lo", "sim_hi"), 120, 6),
        carry = Seq("frame_no"))
      .select("id_a", "id_b", "frame_no").as[(Long, Long, Int)].collect().toSet
    assert(bruteF.map(_._3).size == 3 && bandedF == bruteF,
      s"frame-aligned banded $bandedF != brute-force $bruteF")
  }

  test("wide simhash kernel participates in whole-stage codegen") {
    // same contract as the other native kernels (MinHashExprSpec pattern):
    // the signature is one codegen'd projection over the scan, not a
    // CodegenFallback island
    val dir = java.nio.file.Files.createTempDirectory("graft_shw").toString + "/t"
    docs.write.mode("overwrite").parquet(dir)
    val plan = Dedup.simhashSigsWide(spark.read.parquet(dir), "doc_id", "text",
        nBits = 84, portable = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("graft_simhash_wide"), plan)
  }

  test("hashedQualityScore and hashedClassify evaluate their kernel once per row") {
    // both filter on the kernel result and then project its fields; a
    // filter pushed below the projection runs the kernel a second time
    val dir = java.nio.file.Files.createTempDirectory("graft_k1").toString + "/t"
    docs.write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    val model = TextAnalysis.syntheticQualityModel(64)
    val classes = Seq("a" -> TextAnalysis.syntheticQualityModel(64, 1L),
      "b" -> TextAnalysis.syntheticQualityModel(64, 2L))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for ((kernel, df) <- Seq(
        "HashedQualityExpr" -> TextAnalysis.hashedQualityScore(in, "doc_id", "text", model),
        "HashedClassifyExpr" -> TextAnalysis.hashedClassify(in, "doc_id", "text", classes))) {
      val code = org.apache.spark.sql.execution.debug.codegenString(
        df.queryExecution.executedPlan)
      val calls = code.split(java.util.regex.Pattern.quote(
        s"graft.functions.$kernel.compute("), -1).length - 1
      assert(calls == 1, s"$kernel.compute appears $calls times:\n$code")
      assert(df.count() == 5)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("one hamming-distance function and one union-find in the operators") {
    // the same source scan StoreTableSpec runs for setProps
    val root = new java.io.File("src/main/scala/graft/operators")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val files = root.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> scala.io.Source.fromFile(f, "UTF-8").getLines().toVector)
      .toMap
    // each hit's enclosing def: the nearest `def` line above it
    val owners = for {
      (name, src) <- files.toSeq
      (line, n) <- src.zipWithIndex if line.contains("bit_count(")
    } yield name -> src.take(n + 1).reverse.find(_.contains(" def ")).getOrElse("")
    assert(owners.length == 1 && owners.head._1 == "Dedup.scala" &&
      owners.head._2.contains("def hamming("),
      s"bit_count( outside the one hamming-distance function: $owners")
    val finds = files("Dedup.scala").count(_.contains("def find("))
    assert(finds == 1, s"Dedup.scala defines $finds union-find `find`s")
  }

  test("ngramJaccardPairs requires blocking and finds the dup pairs") {
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", Nil, 0.5)
    }
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("lang")), 0.5, 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 3L))) // near dup (8/10 shared tokens)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("clusterLabels: transitive components collapse to the min id") {
    // component {1,2,3} via 3; chain 4-5-6-7 (diameter 3); isolated pair 10-11
    val pairs = Seq((1L, 3L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 7L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusterLabels(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 4L, 10L -> 10L, 11L -> 10L))
  }

  test("clusterDedupFromPairs collapses what greedy min-id keeps") {
    // A~C and B~C but not A~B: greedy (drop id_b per pair) keeps {1,2,4};
    // transitive clustering keeps only the component min {1} plus unpaired 4
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val frame = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "t")
    val kept = Dedup.clusterDedupFromPairs(frame, "id", pairs)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("clusterLabels fails loudly when maxIter is below the component diameter") {
    // a silent partial result would keep dups the converged run drops —
    // the loop must throw, not return, when it exits unconverged
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.clusterLabels(chain, maxIter = 1).collect()
    }
    // and the same chain converges fine under the default budget
    val labels = Dedup.clusterLabels(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.values.toSet == Set(1L))
  }

  test("pointer doubling: a 60-node chain (diameter 59) converges under default maxIter") {
    // pure one-hop relaxation needs diameter rounds (59 > 20 would throw);
    // the shortcut step doubles propagation distance per round, so the
    // default budget covers diameters to ~2^20. This is the round-9 verdict
    // stress: serial near-copies of near-copies forming a long chain.
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.clusterLabels(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 60 && labels.values.toSet == Set(0L))
    // the unconverged guard still fires when the budget is genuinely too
    // small even for doubled propagation (2 rounds reach ≲ 4 hops)
    intercept[IllegalStateException] {
      Dedup.clusterLabels(chain, maxIter = 2).collect()
    }
  }

  test("driver union-find path ≡ distributed propagation path") {
    val rnd = new scala.util.Random(3)
    // random graph over 80 nodes: chains, triangles, isolated pairs
    val pairs = (1 to 120).map { _ =>
      val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(80).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val frame = (0L until 80L).map(i => (i, s"d$i")).toDF("id", "t")
    val viaDriver = Dedup.clusterDedupFromPairs(frame, "id", pairs)
      .select("id").as[Long].collect().toSet
    val viaDistributed = Dedup.clusterDedupFromPairs(frame, "id", pairs,
        maxDriverPairs = 0)
      .select("id").as[Long].collect().toSet
    assert(viaDriver == viaDistributed)
  }

  test("component labels read a renamed pair frame by position in both regimes") {
    // a Long pair frame named (a, b): the driver union-find read its columns
    // by position, the distributed propagation by name — so the same frame
    // worked under the pair budget and failed above it
    val pairs = Seq((1L, 3L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val frame = (1L to 6L).map(i => (i, s"d$i")).toDF("id", "t")
    for (budget <- Seq(Dedup.DriverUnionFindMaxPairs, 0L)) {
      val kept = Dedup.clusterDedupFromPairs(frame, "id", pairs,
          maxDriverPairs = budget)
        .select("id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L, 6L), s"budget $budget kept $kept")
      val best = Dedup.clusterDedupFromPairsKeepBest(frame, "id", -col("id"),
          pairs, maxDriverPairs = budget)
        .select("id").as[Long].collect().toSet
      assert(best == kept, s"budget $budget keep-best kept $best")
    }
  }

  test("ngramJaccardLsh: LSH-blocked candidates verified with exact jaccard") {
    val pairs = Dedup.ngramJaccardLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)))                        // exact dup pair
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L))    // unrelated doc
    // reported jaccard is the EXACT shingle-set value, not the LSH estimate
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
    // md5-portable variant agrees on the sure pair
    val portable = Dedup.ngramJaccardLsh(docs, "doc_id", "text",
        threshold = 0.5, portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(portable.contains((1L, 2L)))
    assert(!portable.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("lshBands rejects a numHashes/bands mismatch (partial-band hazard)") {
    val sigs = Dedup.minhashSigs(docs, "doc_id", "text", numHashes = 32)
    intercept[IllegalArgumentException] {
      Dedup.lshBands(sigs, "doc_id", "sig", bands = 5, numHashes = 32)
    }
  }

  test("embeddingNearDupPairs requires blocking") {
    val emb = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairs(emb, "id", "v", 0.9, Nil)
    }
  }

  test("text analysis: token count, stopword ratio, fingerprint invariance") {
    val d = Seq((1L, "The quick brown fox!")).toDF("id", "text")
    val r = d.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.fingerprint(col("text")).as("fp")).head()
    assert(r.getInt(0) == 4)
    // fingerprint ignores case/punctuation differences
    val fp2 = Seq((1L, "the QUICK, brown fox"))
      .toDF("id", "text")
      .select(TextAnalysis.fingerprint(col("text"))).head().getString(0)
    assert(r.getString(1) == fp2)
  }

  test("dedup invariants: output ⊆ input, identity-free, idempotent") {
    import org.apache.spark.sql.DataFrame
    def ids(d: DataFrame) = d.select("doc_id").as[Long].collect().toSet
    val all = ids(docs)
    // every dedup flavor returns a subset of the input ids
    val outs = Seq(
      Dedup.minhashDedup(docs, "doc_id", "text", 0.5),
      Dedup.minhashDedupPortable(docs, "doc_id", "text", 0.5),
      Dedup.simhashDedup(docs, "doc_id", "text"),
      Dedup.clusterDedup(docs, "doc_id", "text", 0.5))
    outs.foreach(o => assert(ids(o).subsetOf(all)))
    // exactDedup is idempotent: deduping a deduped frame changes nothing
    val once = Dedup.exactDedup(docs, col("text"), "doc_id")
    val twice = Dedup.exactDedup(once, col("text"), "doc_id")
    assert(ids(once) == ids(twice))
  }

  test("hashSample boundary fractions: 0 keeps nothing, 1 keeps everything") {
    val d = (1L to 100L).toDF("id")
    assert(Sampling.hashSample(d, col("id"), 0.0).count() == 0L)
    assert(Sampling.hashSample(d, col("id"), 1.0).count() == 100L)
  }

  test("hashSample is deterministic, rate-accurate, partition-independent") {
    val d = (1L to 2000L).toDF("id")
    val s1 = Sampling.hashSample(d, col("id"), 0.3).as[Long].collect().toSet
    val s2 = Sampling.hashSample(d.repartition(7), col("id"), 0.3)
      .as[Long].collect().toSet
    assert(s1 == s2)                         // layout-independent selection
    assert(math.abs(s1.size / 2000.0 - 0.3) < 0.05)
    // monotone: a bigger sample contains the smaller one (same hash basis)
    val s3 = Sampling.hashSample(d, col("id"), 0.6).as[Long].collect().toSet
    assert(s1.subsetOf(s3))
    // stratified: per-stratum rates respected
    val strat = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val out = Sampling.stratifiedHashSample(strat, col("id"), col("lang"),
        Map("en" -> 0.8), default = 0.1)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("en") / 1000.0 - 0.8) < 0.08)
    assert(math.abs(out.getOrElse("de", 0L) / 1000.0 - 0.1) < 0.08)
  }

  test("tokenBudgetRates: under-allocated domains kept whole, others to share") {
    // dom a: 100 tokens across 10 docs; dom b: 1000 tokens across 10 docs
    val docs = ((1L to 10L).map(i => (i, "a", (1 to 10).map(j => s"t$j").mkString(" "))) ++
      (11L to 20L).map(i => (i, "b", (1 to 100).map(j => s"t$j").mkString(" "))))
      .toDF("doc_id", "source", "text")
    // uniform weights, budget 400: each domain targets 200 tokens —
    // a (100 tokens) is under-allocated → rate 1.0; b → 200/1000 = 0.2
    val rates = Sampling.tokenBudgetRates(docs, "text", "source", 400L)
    assert(rates("a") == 1.0)
    assert(math.abs(rates("b") - 0.2) < 1e-9)
    // explicit weights shift the allocation: all of the budget to b
    val wRates = Sampling.tokenBudgetRates(docs, "text", "source", 400L,
      weights = Map("a" -> 0.0, "b" -> 1.0))
    assert(wRates("a") == 0.0)
    assert(math.abs(wRates("b") - 0.4) < 1e-9)
    // applying the rates keeps every a-doc and a hash-stable subset of b
    val kept = Sampling.tokenBudgetSample(docs, "doc_id", "source", rates)
      .select("doc_id", "source").as[(Long, String)].collect()
    assert(kept.count(_._2 == "a") == 10)
    val keptB = kept.collect { case (i, "b") => i }.toSet
    val again = Sampling.tokenBudgetSample(docs.repartition(5), "doc_id",
        "source", rates)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet) // partitioning-independent
    assert(keptB.size < 10)               // b actually downsampled
    // int-coded domain column: rates come back string-keyed and apply —
    // no ClassCastException at the driver collect
    val intDom = docs.withColumn("source",
      when(col("source") === "a", 1).otherwise(2))
    val intRates = Sampling.tokenBudgetRates(intDom, "text", "source", 400L)
    assert(intRates("1") == 1.0 && math.abs(intRates("2") - 0.2) < 1e-9)
    assert(Sampling.tokenBudgetSample(intDom, "doc_id", "source", intRates)
      .filter(col("source") === 1).count() == 10)
    // tokenizer-as-a-parameter overload: a punctuation-heavy corpus counts
    // differently under subwordCount (production budgets are BPE tokens),
    // shifting the realized rates; a precomputed count column also works
    val punct = docs.withColumn("text",
      concat(col("text"), lit(", x! y? z."))) // +6 subword-only tokens/doc
    val ws = Sampling.tokenBudgetRates(punct, "text", "source", 400L)
    val sub = Sampling.tokenBudgetRates(punct,
      TextAnalysis.subwordCount(col("text")), "source", 400L, Map.empty)
    assert(sub("b") < ws("b"), s"subword rates should be tighter: $sub vs $ws")
    val pre = punct.withColumn("n_bpe", TextAnalysis.subwordCount(col("text")))
    val preRates = Sampling.tokenBudgetRates(pre, col("n_bpe"), "source",
      400L, Map.empty)
    assert(preRates == sub)
    // waterfill twin: the BPE-unit budget is hit EXACTLY (a's slack
    // redistributes onto b's subword total)
    val wf = Sampling.tokenBudgetRatesWaterfill(punct,
      TextAnalysis.subwordCount(col("text")), "source", 400L, Map.empty)
    val subTotals = punct.groupBy("source")
      .agg(org.apache.spark.sql.functions.sum(
        TextAnalysis.subwordCount(col("text"))).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val realized = subTotals.map { case (d, t) => wf(d) * t }.sum
    assert(math.abs(realized - 400.0) < 1e-6, s"waterfill realized $realized")
  }

  test("assignSplit: disjoint covering intervals, stable under corpus growth") {
    val docs = (1L to 400L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Sampling.assignSplit(docs, col("id"), splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(got.size == 400) // every row labeled, none dropped
    // fractions approximately honored (content-hash, so not exact)
    val byLabel = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel("train") > 280 && byLabel("train") < 360)
    assert(byLabel.getOrElse("holdout", 0) == 0) // fractions sum to 1
    // GROWTH STABILITY: doubling the corpus never moves an existing row
    val grown = Sampling.assignSplit((1L to 800L).toDF("id"), col("id"), splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    got.foreach { case (i, s) => assert(grown(i) == s, s"row $i moved") }
    // partial fractions leave a holdout
    val held = Sampling.assignSplit(docs, col("id"), Seq("train" -> 0.5))
      .select("split").as[String].collect()
    assert(held.contains("holdout") && held.contains("train"))
  }

  test("tokenBudgetRatesWaterfill hits the budget exactly where base rates undershoot") {
    // a: 20 tokens, b: 200, c: 200; budget 180 at uniform thirds (60 each):
    // a is kept whole on 20, leaving 40 unclaimed
    val doc10 = (1 to 10).map(j => s"t$j").mkString(" ")
    val docs = ((1L to 2L).map(i => (i, "a", doc10)) ++
      (11L to 30L).map(i => (i, "b", doc10)) ++
      (41L to 60L).map(i => (i, "c", doc10)))
      .toDF("doc_id", "source", "text")
    // base: min(1, w·B/T) strands a's unclaimed 40 tokens → kept 20+60+60
    val base = Sampling.tokenBudgetRates(docs, "text", "source", 180L)
    assert(base("a") == 1.0)
    assert(math.abs(base("b") - 0.3) < 1e-9 && math.abs(base("c") - 0.3) < 1e-9)
    // waterfill: a's slack re-splits over b,c → 80 each → kept 20+80+80 = B
    val wf = Sampling.tokenBudgetRatesWaterfill(docs, "text", "source", 180L)
    assert(wf("a") == 1.0)
    assert(math.abs(wf("b") - 0.4) < 1e-9 && math.abs(wf("c") - 0.4) < 1e-9)
    // budget beyond the corpus: everything kept whole
    val all = Sampling.tokenBudgetRatesWaterfill(docs, "text", "source", 100000L)
    assert(all.values.forall(_ == 1.0))
    // explicit weights still respected among the unsaturated
    val wfw = Sampling.tokenBudgetRatesWaterfill(docs, "text", "source", 180L,
      weights = Map("b" -> 0.75, "c" -> 0.25))
    // a unweighted → share 0, rate 0... but with residual redistribution a
    // gets nothing and stays downsampled at 0: weights claim the whole
    // budget for b (135 < 200) and c (45 < 200)
    assert(wfw("a") == 0.0)
    assert(math.abs(wfw("b") - 0.675) < 1e-9 && math.abs(wfw("c") - 0.225) < 1e-9)
  }

  test("repetitionRatio flags degenerate text, near-zero for varied text") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),     // one distinct bigram of 5
      (2L, "one two three four five six")        // all bigrams distinct
    ).toDF("id", "text")
    val r = d.select(col("id"),
        TextAnalysis.repetitionRatio(col("text"), 2).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 0.8)   // 1 - 1/5
    assert(r(2L) == 0.0)
  }

  test("gopherRepetitionReport: hand-computed char fractions, looping vs varied, short-doc edge") {
    val d = Seq(
      (1L, "spam spam spam spam"), // n_chars 19: top2 = 3*9/19, top3 = dup3 = 2*14/19, dup4 = 0
      (2L, "a b c d"),             // all unique: top2 = 3/7 ('a b'), top3 = 5/7, dups 0
      (3L, "x"),                   // 1 token: no n-grams exist → all fractions 0
      (4L, "ab cd")                // 2 tokens: one 2-gram, no 3-/4-grams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetitionReport(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    def f(a: Long, b: Long) = math.rint(a.toDouble / b * 1e6) / 1e6
    assert(got(1L) == ((4L, 19L, f(27, 19), f(28, 19), f(28, 19), 0.0)))
    assert(got(2L) == ((4L, 7L, f(3, 7), f(5, 7), 0.0, 0.0)))
    // a doc with fewer than n tokens has NO n-grams: a degenerate sub-n
    // window would score it 1.0 and a repetition threshold would drop
    // short clean docs — the guard emits 0 instead
    assert(got(3L) == ((1L, 1L, 0.0, 0.0, 0.0, 0.0)))
    assert(got(4L) == ((2L, 5L, 1.0, 0.0, 0.0, 0.0)))
  }

  test("tfIdfTopTerms ranks distinctive terms above ubiquitous ones") {
    val d = Seq(
      (1L, "zebra zebra common"),
      (2L, "common common apple"),
      (3L, "common banana banana")
    ).toDF("id", "text")
    val top = TextAnalysis.tfIdfTopTerms(d, "id", "text", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "common" appears in every doc → idf = ln(1) = 0; the distinctive term
    // wins each doc
    assert(top == Map(1L -> "zebra", 2L -> "apple", 3L -> "banana"))
  }

  test("rollingHash is order-sensitive, fingerprint-stable") {
    val d = Seq(("alpha beta", 1), ("beta alpha", 2)).toDF("text", "i")
    val hs = d.select(TextAnalysis.rollingHash(col("text"))).as[Long].collect()
    assert(hs(0) != hs(1))
    assert(hs.forall(h => h >= 0 && h < (1L << 31))) // bounded domain, no overflow
  }

  test("langId marker heuristic picks the dominant marker language") {
    val d = Seq(
      ("the cat and the dog is here", "en"),
      ("el perro es grande y el gato es pequeno los dos", "es"),
      ("der hund ist das tier die katze ist hier", "de"),
      ("xyzzy plugh", "und")
    ).toDF("text", "expected")
    val out = d.select(TextAnalysis.langId(col("text")).as("got"), col("expected"))
      .collect()
    out.foreach { r => assert(r.getString(0) == r.getString(1), r.toString) }
  }

  test("cosine similarity and brute-force top-k ordering") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 3).select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L, 3L)) // cos: 1.0, ~0.994, 0.0 (−1 excluded)
    val self = emb.filter(col("vec_id") === 1)
      .select(Similarity.cosine(col("embedding"), col("embedding"))).head().getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("lshTopK returns bucket-mates ranked by exact cosine") {
    val vecs = (0 until 50).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.0f, 0.0f) else Seq(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.map(v => v + i * 1e-4f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val res = Similarity.lshTopK(emb, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 5, dim = 4, nBits = 4)
      .select("vec_id").as[Long].collect()
    assert(res.nonEmpty)
    assert(res.forall(_ % 2 == 0)) // only the e1-aligned bucket
  }

  test("as-of join: most recent right row at-or-before left time, else null") {
    val left = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 12:00:00")),
      (3L, 200L, ts("2024-01-01 09:00:00"))
    ).toDF("oid", "k", "lt")
    val right = Seq(
      (100L, ts("2024-01-01 09:30:00"), 1.0),
      (100L, ts("2024-01-01 12:00:00"), 2.0), // equal timestamp: matched
      (200L, ts("2024-01-01 10:00:00"), 9.9)  // after left row 3: no match
    ).toDF("k", "rt", "value")
    val out = Relational.asofJoin(left, right, Seq("k"), "lt", "rt", Seq("value"))
      .select("oid", "value").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).contains(1.0))
    assert(out(2L).contains(2.0)) // rt == lt picks the equal-time row
    assert(out(3L).isEmpty)      // nothing at-or-before
  }

  test("asofJoinDirected: forward/backward, tolerance nulls, tie rule") {
    val left = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 12:00:00")),
      (3L, 200L, ts("2024-01-01 09:00:00")),
      (4L, 300L, ts("2024-01-01 10:00:00"))
    ).toDF("oid", "k", "lt")
    val right = Seq(
      (10L, 100L, ts("2024-01-01 10:30:00"), 1.0),
      (11L, 100L, ts("2024-01-01 12:00:00"), 2.0), // equal ts: forward match
      (12L, 200L, ts("2024-01-01 08:00:00"), 9.9), // before left 3: no fwd
      // two right rows at the SAME instant: min event id must win forward
      (13L, 300L, ts("2024-01-01 10:15:00"), 5.0),
      (14L, 300L, ts("2024-01-01 10:15:00"), 6.0)
    ).toDF("rid", "k", "rt", "value")
    def run(dir: String, tolSec: Long) =
      Relational.asofJoinDirected(left, right, Seq("k"), "lt", "rt",
          Seq("value"), direction = dir, toleranceSeconds = tolSec,
          rightTiebreak = Some("rid"))
        .select("oid", "value").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val fwd = run("forward", 86400L)
    assert(fwd(1L).contains(1.0))  // earliest at-or-after 10:00 is 10:30
    assert(fwd(2L).contains(2.0))  // exact-time match included
    assert(fwd(3L).isEmpty)        // only earlier rows exist
    assert(fwd(4L).contains(5.0))  // tie at 10:15 → min rid (13)
    // 20-minute tolerance: left 1's nearest forward match (30 min) nulls out
    val tight = run("forward", 1200L)
    assert(tight(1L).isEmpty && tight(4L).contains(5.0))
    // backward ≡ asofJoin where defined; tie at same ts → max rid
    val bwd = run("backward", 86400L)
    assert(bwd(1L).isEmpty)        // nothing at-or-before 10:00 for k=100
    assert(bwd(2L).contains(2.0))
    assert(bwd(3L).contains(9.9))
    assert(bwd(4L).isEmpty)        // 10:15 is after 10:00
    val e = intercept[IllegalArgumentException](run("sideways", 1L))
    assert(e.getMessage.contains("direction"))
  }

  test("topNPerGroup and runningAgg windows") {
    val d = Seq(("a", 1, 10), ("a", 2, 30), ("a", 3, 20), ("b", 4, 5))
      .toDF("g", "id", "x")
    val top = Relational.topNPerGroup(d, Seq("g"), Seq(desc("x"), asc("id")), 2)
      .select("id").as[Int].collect().toSet
    assert(top == Set(2, 3, 4))
    val run = Relational.runningAgg(d, Seq("g"), Seq(asc("id")), sum(col("x")), "rs")
      .filter(col("g") === "a").orderBy("id").select("rs").as[Long].collect()
    assert(run.toSeq == Seq(10L, 40L, 60L))
  }

  test("movingAgg bounded ROWS frame: partition-start truncation, cross-group isolation") {
    val d = Seq(("a", 1, 1), ("a", 2, 2), ("a", 3, 3), ("a", 4, 4), ("a", 5, 5),
        ("b", 6, 100))
      .toDF("g", "id", "x")
    val mv = Relational.movingAgg(d, Seq("g"), Seq(asc("id")),
        sum(col("x")), precedingRows = 2, "ms")
      .filter(col("g") === "a").orderBy("id").select("ms").as[Long].collect()
    // frames truncate at the partition start: 1, 1+2, 1+2+3, 2+3+4, 3+4+5;
    // group b's 100 never leaks into group a's frames
    assert(mv.toSeq == Seq(1L, 3L, 6L, 9L, 12L))
  }

  test("movingAggRange: value-based frame, equal order values share a frame") {
    val d = Seq(("a", 0L, 1), ("a", 50L, 2), ("a", 100L, 4), ("a", 100L, 8),
        ("a", 250L, 16))
      .toDF("g", "t", "x")
    val got = Relational.movingAggRange(d, Seq("g"), col("t"),
        sum(col("x")), precedingRange = 100L, "s")
      .select("t", "s").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sorted
    // frame = [t-100, t] by VALUE: t=0 → 1; t=50 → 1+2; the two t=100 rows
    // share one frame (1+2+4+8 = 15 for BOTH — no tiebreak dependence);
    // t=250 → only itself (nothing in [150, 250) besides it)
    assert(got == Seq((0L, 1L), (50L, 3L), (100L, 15L), (100L, 15L),
      (250L, 16L)))
  }

  test("groupingSetsAgg: per-set groupings, null fill, grand total") {
    val d = Seq(("x", "p", 1), ("x", "q", 2), ("y", "p", 4)).toDF("a", "b", "v")
    val got = Relational.groupingSetsAgg(d,
        Seq(Seq("a"), Seq("b"), Seq.empty), Seq("a", "b"),
        Seq(sum(col("v")).as("s")))
      .collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)))
      .toSet
    assert(got == Set(
      (Some("x"), None, 3L), (Some("y"), None, 4L),       // (a) set
      (None, Some("p"), 5L), (None, Some("q"), 2L),       // (b) set
      (None, None, 7L)))                                  // () grand total
  }

  test("multimodal: decode plumbing, metadata shape, corrupt blobs mark") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    assert(media.columns.toSeq ==
      Seq("media_id", "kind", "bytes", "n_bytes", "mime"))
    // text blobs are NOT images: the real codec must mark them
    // undecodable (-1 dims), never throw — a corrupt blob in a 100 TB
    // scan marks, not kills, the job
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == 5)
    assert(feats.forall(f => f.width == -1 && f.height == -1 &&
      f.mean_intensity == 0.0 && f.pixel_sum == 0L))
    // text blobs are not AVI containers either: one marker row each
    val vf = Multimodal.videoFrames(media, everyK = 2).collect()
    assert(vf.length == 5 && vf.forall(f => f.frame_no == -1 &&
      f.width == -1 && f.pixel_sum == 0L))
    val stats = Multimodal.metadataStats(media).collect()
    assert(stats.length == 1 && stats.head.getAs[Long]("n") == 5L)
    // truncateBlob (the byte-budget cap): bytes and metadata stay
    // consistent after the cap
    val capped = Multimodal.truncateBlob(media, 10).collect()
    assert(capped.forall(r => r.getAs[Array[Byte]]("bytes").length <= 10 &&
      r.getAs[Long]("n_bytes") <= 10L))
  }

  test("multimodal: real AVI/MPNG clips round-trip the frame pixel law") {
    // encode → container parse → every-2nd sample → per-frame PNG decode:
    // frame counts, dims, and pixel sums must match the closed-form law
    val ids = Seq(0L, 3L, 44L, 170L, 401L)
    val media = Multimodal.encodeSyntheticAvi(ids.toDF("doc_id"), "doc_id")
    // genuine RIFF/AVI containers (magic tags)
    val blobs = media.select("bytes").collect().map(_.getAs[Array[Byte]](0))
    assert(blobs.forall(b => new String(b, 0, 4, "US-ASCII") == "RIFF" &&
      new String(b, 8, 4, "US-ASCII") == "AVI "))
    // container parse recovers declared dims + frame count, and every
    // frame payload is a genuine PNG stream
    blobs.zip(ids).foreach { case (b, id) =>
      val Some((w, h, declared, frames)) = Multimodal.parseAviFrames(b)
      val (ew, eh) = Multimodal.synthDims(id)
      assert((w, h) == ((ew, eh)), s"id $id dims: ($w,$h) vs ($ew,$eh)")
      assert(declared == Multimodal.synthVideoFrameCount(id) &&
        frames.length == declared, s"id $id frames: $declared/${frames.length}")
      assert(frames.forall(p => (p(0) & 0xff) == 0x89 && p(1) == 'P'))
    }
    // sampled decode: frames 0, 2, 4 only, each pixel-exact per the law
    val got = Multimodal.videoFrames(media, everyK = 2).collect()
      .map(f => (f.media_id, f.frame_no) -> f).toMap
    ids.foreach { id =>
      val (w, h) = Multimodal.synthDims(id)
      val nf = Multimodal.synthVideoFrameCount(id)
      val sampled = (0 until nf).filter(_ % 2 == 0)
      assert(got.keys.count(_._1 == id) == sampled.size,
        s"id $id sampled-frame count")
      sampled.foreach { f =>
        var want = 0L
        for (y <- 0 until h; x <- 0 until w)
          want += Multimodal.synthGray(id + 97L * f, x, y)
        val vf = got((id, f))
        assert((vf.width, vf.height, vf.pixel_sum) == ((w, h, want)),
          s"id $id frame $f: $vf vs ($w, $h, $want)")
      }
    }
    // everyK = 1 keeps every frame
    val all = Multimodal.videoFrames(media, everyK = 1).collect()
    assert(all.length == ids.map(Multimodal.synthVideoFrameCount).sum)
    // a structurally broken container (truncated mid-chunk) marks
    val broken = Seq((9L, blobs.head.take(40))).toDF("media_id", "bytes")
    val mk = Multimodal.videoFrames(broken, 1).collect()
    assert(mk.length == 1 && mk.head.frame_no == -1)
  }

  test("multimodal: real PNG bytes decode to exact pixel stats via javax.imageio") {
    // hand-rendered 2x2 gray PNG with known samples — the decode kernel
    // must recover the REAL pixel values, not a fingerprint of the bytes
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val samples = Seq((0, 0, 10), (1, 0, 20), (0, 1, 30), (1, 1, 240))
    samples.foreach { case (x, y, v) => img.getRaster.setSample(x, y, 0, v) }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq((7L, "image", bos.toByteArray))
      .toDF("media_id", "kind", "bytes")
    val f = Multimodal.decodeFeatures(media).collect().head
    assert((f.width, f.height, f.pixel_sum) == ((2, 2, 300L)), f.toString)
    assert(f.mean_intensity == 75.0, f.toString)
    // the synthetic fixture generator: encode → decode round-trips the
    // closed-form pixel law for every id (incl. ids past one 256 wrap)
    val ids = Seq(0L, 5L, 86L, 400L).toDF("doc_id")
    val rt = Multimodal.decodeFeatures(
        Multimodal.encodeSyntheticPng(ids, "doc_id"))
      .collect().map(f => f.media_id -> f).toMap
    Seq(0L, 5L, 86L, 400L).foreach { id =>
      val (w, h) = Multimodal.synthDims(id)
      var want = 0L
      for (y <- 0 until h; x <- 0 until w)
        want += Multimodal.synthGray(id, x, y)
      val f = rt(id)
      assert((f.width, f.height, f.pixel_sum) == ((w, h, want)),
        s"id $id: ${f.toString} vs ($w, $h, $want)")
      assert(f.mean_intensity ==
        math.floor(want.toDouble / (w * h) * 1e6 + 0.5) / 1e6)
    }
    // PNG bytes are genuinely PNG (magic header), and encode is stable
    val bytes = Multimodal.encodeSyntheticPng(ids, "doc_id")
      .select("bytes").collect().map(_.getAs[Array[Byte]](0))
    assert(bytes.forall(b => (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G'))
  }

  test("multimodal: real NN resize recovers the exact resampled pixel law") {
    // decode → NN resample → re-encode → decode: target (x, y) must carry
    // source sample (x·w div tw, y·h div th) exactly
    val ids = Seq(3L, 44L, 170L).toDF("doc_id")
    val rt = Multimodal.decodeFeatures(
        Multimodal.resizeImages(
          Multimodal.encodeSyntheticPng(ids, "doc_id"), 6, 10))
      .collect().map(f => f.media_id -> f).toMap
    Seq(3L, 44L, 170L).foreach { id =>
      val (w, h) = Multimodal.synthDims(id)
      var want = 0L
      for (y <- 0 until 10; x <- 0 until 6)
        want += Multimodal.synthGray(id,
          (x.toLong * w / 6).toInt, (y.toLong * h / 10).toInt)
      val f = rt(id)
      assert((f.width, f.height, f.pixel_sum) == ((6, 10, want)),
        s"id $id: $f vs (6, 10, $want)")
    }
    // undecodable blobs mark (null bytes, n_bytes = -1), never throw
    val junk = Seq((9L, "image", "not a png".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
    val r = Multimodal.resizeImages(junk, 6, 10).collect().head
    assert(r.getAs[Array[Byte]]("bytes") == null &&
      r.getAs[Long]("n_bytes") == -1L)
  }

  test("multimodal: real WAV clips decode to exact PCM stats via javax.sound") {
    // hand-built mono PCM16 WAV with known samples — the decode kernel
    // must recover the REAL sample values (incl. negatives), rate, depth
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val samples = Seq[Short](100, -200, 32767, -32768, 0)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = Seq((5L, "audio", bos.toByteArray))
      .toDF("media_id", "kind", "bytes")
    val f = Multimodal.decodeAudioFeatures(media).collect().head
    assert((f.sample_rate, f.channels, f.n_samples) == ((8000, 1, 5L)), f.toString)
    assert(f.sample_sum == samples.map(_.toLong).sum, f.toString)
    assert(f.peak == 32768, f.toString)
    // synthetic fixture round-trip: encode → decode replays the PCM law,
    // and mean_sample follows the signed floor(x·1e6 + 0.5) rule
    val ids = Seq(0L, 7L, 250L).toDF("doc_id")
    val rt = Multimodal.decodeAudioFeatures(
        Multimodal.encodeSyntheticWav(ids, "doc_id"))
      .collect().map(a => a.media_id -> a).toMap
    Seq(0L, 7L, 250L).foreach { id =>
      val n = Multimodal.synthAudioLen(id)
      val vals = (0 until n).map(i => Multimodal.synthPcm(id, i).toLong)
      val a = rt(id)
      assert((a.sample_rate, a.channels, a.n_samples) == ((8000, 1, n.toLong)))
      assert(a.sample_sum == vals.sum, s"id $id: $a")
      assert(a.peak == vals.map(math.abs).max.toInt)
      assert(a.mean_sample ==
        math.floor(vals.sum.toDouble / n * 1e6 + 0.5) / 1e6)
    }
    // WAV bytes are genuinely RIFF/WAVE: magic + SPEC CONFORMANCE — the
    // reference javax.sound codec must parse the hand-written header and
    // recover the identical stream (rate/frames/samples), pinning that the
    // fast-path encoder and the JVM's own reader agree byte-for-byte
    val wav = Multimodal.encodeSyntheticWav(ids, "doc_id")
      .select("media_id", "bytes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    wav.foreach { case (id, b) =>
      assert(new String(b.take(4), "US-ASCII") == "RIFF" &&
        new String(b.slice(8, 12), "US-ASCII") == "WAVE")
      val ref = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      assert(ref.getFormat.getSampleRate == 8000f &&
        ref.getFormat.getChannels == 1 &&
        ref.getFrameLength == Multimodal.synthAudioLen(id).toLong,
        s"id $id: reference codec disagrees with the fast-path header")
      val refSum = ref.readAllBytes().grouped(2)
        .map(p => (((p(1) & 0xff) << 8) | (p(0) & 0xff)).toShort.toLong).sum
      assert(refSum == rt(id).sample_sum)
    }
    // the AudioSystem FALLBACK path (non-RIFF container): the same PCM
    // packaged as big-endian AIFF must decode to identical statistics
    val aiffFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val vals7 = (0 until Multimodal.synthAudioLen(7L))
      .map(i => Multimodal.synthPcm(7L, i))
    val bePcm = new Array[Byte](vals7.length * 2)
    vals7.zipWithIndex.foreach { case (v, i) =>
      bePcm(2 * i) = ((v >> 8) & 0xff).toByte
      bePcm(2 * i + 1) = (v & 0xff).toByte
    }
    val aiffBos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bePcm), aiffFmt, vals7.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, aiffBos)
    val aiff = Multimodal.decodeAudioFeatures(
        Seq((7L, "audio", aiffBos.toByteArray))
          .toDF("media_id", "kind", "bytes"))
      .collect().head
    assert((aiff.n_samples, aiff.sample_sum, aiff.peak) ==
      ((rt(7L).n_samples, rt(7L).sample_sum, rt(7L).peak)),
      s"AIFF fallback diverged: $aiff vs ${rt(7L)}")
    val junk = Seq((9L, "audio", "not a wav".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
    val j = Multimodal.decodeAudioFeatures(junk).collect().head
    assert((j.sample_rate, j.channels, j.n_samples) == ((-1, -1, -1L)))
  }

  test("multimodal: audioFrames windows real decoded PCM by the hop law") {
    val ids = Seq(0L, 13L).toDF("doc_id")
    val frames = Multimodal.audioFrames(
        Multimodal.encodeSyntheticWav(ids, "doc_id"), frameLen = 32, hop = 16)
      .collect().groupBy(_.media_id)
    Seq(0L, 13L).foreach { id =>
      val n = Multimodal.synthAudioLen(id)
      val want = (n - 32) / 16 + 1
      val fs = frames(id).sortBy(_.frame_no)
      assert(fs.length == want, s"id $id: ${fs.length} frames, want $want")
      fs.foreach { fr =>
        assert(fr.start_sample == fr.frame_no.toLong * 16)
        val vals = (fr.frame_no * 16 until fr.frame_no * 16 + 32)
          .map(i => Multimodal.synthPcm(id, i).toLong)
        assert(fr.sample_sum == vals.sum, s"id $id frame ${fr.frame_no}")
        assert(fr.peak == vals.map(math.abs).max.toInt)
      }
    }
    // a clip shorter than one frame emits NOTHING (no degenerate window —
    // the gopherRepetitionReport short-doc rule); junk marks with -1
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](20)), fmt, 10L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val shortMedia = Seq((1L, "audio", bos.toByteArray))
      .toDF("media_id", "kind", "bytes")
    assert(Multimodal.audioFrames(shortMedia, 32, 16).collect().isEmpty)
    val junk2 = Seq((2L, "audio", "nope".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
    val marks = Multimodal.audioFrames(junk2, 32, 16).collect()
    assert(marks.length == 1 && marks.head.frame_no == -1)
  }

  test("linkGraph: href extraction, edge filtering, hand-computed integer PageRank") {
    import graft.operators.LinkGraph
    val pages = Seq(
      ("a.x", "<a href=\"https://b.x/1\">l</a><a href=\"https://c.x/1\">l</a>" +
        "<a href=\"https://c.x/2\">l</a><a href=\"https://c.x/3\">l</a>" +
        "<a href=\"/rel\">skip</a><a href=\"https://a.x/self\">loop</a>"),
      ("b.x", "<A HREF=\"https://c.x/z\">case-insensitive</A>"))
      .toDF("src_host", "html")
    val edges = LinkGraph.hostEdges(pages, "src_host", "html")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // relative href (no host) and the a.x→a.x self-loop are dropped;
    // uppercase anchor matched by (?i)
    assert(edges == Map(("a.x", "b.x") -> 1L, ("a.x", "c.x") -> 3L,
      ("b.x", "c.x") -> 1L), edges.toString)
    // one iteration, hand-derived in exact integer nanos: N=3,
    // init = 1e9 div 3 = 333333333, base = 3e9 div 60 = 50000000, out(a)=4,
    // out(b)=1; contrib(b) = 333333333 div 4 = 83333333; contrib(c) =
    // (333333333·3) div 4 + 333333333 = 249999999 + 333333333 = 583333332;
    // rank = base + (17·contrib) div 20
    val r1 = LinkGraph.pageRankHosts(edges.toSeq.map { case ((s, d), n) =>
        (s, d, n) }.toDF("src_host", "dst_host", "n_links"), iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("a.x" -> 50000000L, "b.x" -> 120833333L,
      "c.x" -> 545833332L), r1.toString)
    // more iterations keep the authority ordering: sink > middle > source
    val r3 = LinkGraph.pageRankHosts(edges.toSeq.map { case ((s, d), n) =>
        (s, d, n) }.toDF("src_host", "dst_host", "n_links"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r3("c.x") > r3("b.x") && r3("b.x") > r3("a.x"), r3.toString)
    // anchor-text postings: href+text zipped positionally, SELF-LOOP text
    // kept (content, not endorsement), relative href dropped, lowercased
    val anchors = LinkGraph.anchorTexts(pages, "html")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(anchors == Map(("b.x", "l") -> 1L, ("c.x", "l") -> 3L,
      ("a.x", "loop") -> 1L, ("c.x", "case-insensitive") -> 1L),
      anchors.toString)
  }

  test("imageDHash: codec round-trip matches the closed-form law; groups plant near-dups") {
    import graft.operators.{Dedup, Multimodal}
    val docs = (0L until 16L).toDF("doc_id")
    val hashes = Multimodal.imageDHash(
        Multimodal.encodeSyntheticPngGroups(docs, "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent sequential recompute: the pixel law through the exact
    // NN mapping (source (2x, 2y)) into gradient bits — the real
    // PNG-encode → ImageIO-decode round trip must land on these exactly
    def law(id: Long): Long = {
      val base = id - id % 4
      val k = (2L * ((base * 2654435761L) % 127L) + 1L).toInt
      val c = ((base * 40503L) % 251L).toInt
      val k3 = ((base * 69069L) % 256L).toInt
      val m = (id % 4).toInt
      def p(x: Int, y: Int): Int = {
        val i = x + 18 * y + 1
        (i * i * k + i * c + y * y * k3 +
          (if (x == 2 * m && y == 2 * m) 128 else 0)) % 256
      }
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (p(2 * x, 2 * y) < p(2 * (x + 1), 2 * y)) h |= 1L << (y * 8 + x)
      h
    }
    (0L until 16L).foreach(id =>
      assert(hashes(id) == law(id), s"id $id: ${hashes(id)} != law ${law(id)}"))
    // the planted structure: one-pixel member perturbations flip ≤ 4 bits
    for (b <- Seq(0L, 4L, 8L, 12L); m <- 1 to 3)
      assert(java.lang.Long.bitCount(hashes(b) ^ hashes(b + m)) <= 4,
        s"group $b member $m drifted past 4 bits")
    // undecodable blobs hash NULL and are excluded from the survivor set
    val junk = Seq((99L, "image", "nope".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
    val jh = Multimodal.imageDHash(junk).collect()
    assert(jh.length == 1 && jh.head.isNullAt(1), "junk must hash NULL")
    val survivors = Dedup.imageDedupFromHashes(
        Multimodal.imageDHash(Multimodal.encodeSyntheticPngGroups(docs,
          "doc_id")).unionByName(Multimodal.imageDHash(junk)),
        "media_id", "dhash", maxHamming = 6)
      .collect().map(_.getLong(0)).toSet
    assert(!survivors.contains(99L), "undecodable id must not survive")
    // non-min members are always within hamming 4 of their group min, so
    // only group mins can survive; a min survives iff no SMALLER group
    // shares its k class (same k + unperturbed base member ⇒ hamming 0)
    assert(survivors.subsetOf(Set(0L, 4L, 8L, 12L)), survivors.toString)
    assert(survivors.size ==
      Seq(0L, 4L, 8L, 12L)
        .map(b => ((b * 2654435761L) % 127L, (b * 40503L) % 251L,
          (b * 69069L) % 256L))
        .distinct.length,
      s"one survivor per distinct (k, c, k3) class: $survivors")
    // the WIDE (120-bit) profile sees the same group structure (one-pixel
    // perturbations still flip ≤ 2 bits; same-k groups still collide on
    // the unperturbed base) → identical survivor set on this fixture
    val wide = Dedup.imageDedupFromHashesWide(
        Multimodal.imageDHashWide(
          Multimodal.encodeSyntheticPngGroups(docs, "doc_id")),
        "media_id", maxHamming = 6)
      .collect().map(_.getLong(0)).toSet
    assert(wide == survivors, s"wide survivors $wide != narrow $survivors")
    // the candidate-mass guard aborts fast with profile advice instead of
    // letting a clustered corpus go quadratic (the containment precedent)
    val e = intercept[IllegalArgumentException] {
      Dedup.imageDedupFromHashes(
        Multimodal.imageDHash(Multimodal.encodeSyntheticPngGroups(docs,
          "doc_id")),
        "media_id", "dhash", maxHamming = 6, maxCandidateMass = 1L)
    }
    assert(e.getMessage.contains("imageDHashWide"), e.getMessage)
  }

  test("audioEnergyHashWide: codec round-trip matches the energy law; groups plant near-dups") {
    import graft.operators.{Dedup, Multimodal}
    val docs = (0L until 16L).toDF("doc_id")
    val hashes = Multimodal.audioEnergyHashWide(
        Multimodal.encodeSyntheticWavGroups(docs, "doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // independent sequential recompute of PCM law → window energies →
    // gradient bits → two-long pack (the real RIFF encode/decode round
    // trip must land exactly here)
    def law(id: Long): (Long, Long) = {
      val base = id - id % 4
      val k = (2L * ((base * 2654435761L) % 127L) + 1L).toInt
      val c = ((base * 40503L) % 251L).toInt
      val m = (id % 4).toInt
      val e = new Array[Long](121)
      for (i <- 0 until 1936) {
        val raw = ((i + 1).toLong * (i + 1) * k + (i + 1).toLong * c) % 4001L - 2000L
        val v = if (i == m * 16) 2000L else raw
        e(i / 16) += math.abs(v)
      }
      var lo = 0L; var hi = 0L
      for (w <- 0 until 120 if e(w) < e(w + 1))
        if (w < 60) lo |= 1L << w else hi |= 1L << (w - 60)
      (lo, hi)
    }
    (0L until 16L).foreach(id =>
      assert(hashes(id) == law(id), s"id $id: ${hashes(id)} != ${law(id)}"))
    // one-window member perturbation flips ≤ 4 bits within each group
    for (b <- Seq(0L, 4L, 8L, 12L); m <- 1 to 3) {
      val (al, ah) = hashes(b); val (bl, bh) = hashes(b + m)
      assert(java.lang.Long.bitCount(al ^ bl) +
        java.lang.Long.bitCount(ah ^ bh) <= 4,
        s"group $b member $m drifted past 4 bits")
    }
    // non-WAV bytes and short clips hash NULL; survivors = group mins
    val junk = Seq((99L, "audio", "nope".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
    assert(Multimodal.audioEnergyHashWide(junk).collect().head.isNullAt(1))
    val survivors = Dedup.wideHashDedup(
        Multimodal.audioEnergyHashWide(
          Multimodal.encodeSyntheticWavGroups(docs, "doc_id")),
        "media_id", maxHamming = 6)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 4L, 8L, 12L), survivors.toString)
  }

  test("videoDedupFromFrameHashes: frame-aligned matching, threshold exercised, junk marks") {
    import graft.operators.{Dedup, Multimodal}
    val docs = (0L until 16L).toDF("doc_id")
    val fh = Multimodal.videoDHashWide(
        Multimodal.encodeSyntheticAviGroups(docs, "doc_id"), everyK = 1)
      .localCheckpoint()
    // the fixture plants EXACTLY 3 matching frames per intra-group pair
    // (frame 0 of non-base members is structurally scrambled): at
    // minMatchedFrames = 3 each group collapses to its min id...
    val at3 = Dedup.videoDedupFromFrameHashes(fh, "media_id",
        maxHamming = 6, minMatchedFrames = 3)
      .collect().map(_.getLong(0)).toSet
    assert(at3 == Set(0L, 4L, 8L, 12L), at3.toString)
    // ...while demanding all 4 frames keeps every clip — the threshold is
    // load-bearing, not vacuous
    val at4 = Dedup.videoDedupFromFrameHashes(fh, "media_id",
        maxHamming = 6, minMatchedFrames = 4)
      .collect().map(_.getLong(0)).toSet
    assert(at4 == (0L until 16L).toSet, at4.toString)
    // an unparseable container marks (frame_no −1, NULL hashes) and is
    // excluded from matching and survival
    val junk = Seq((99L, "video", "not-avi".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
    val jh = Multimodal.videoDHashWide(junk).collect()
    assert(jh.length == 1 && jh.head.getInt(1) == -1 && jh.head.isNullAt(2))
    val withJunk = Dedup.videoDedupFromFrameHashes(
        fh.unionByName(Multimodal.videoDHashWide(junk)), "media_id",
        maxHamming = 6, minMatchedFrames = 3)
      .collect().map(_.getLong(0)).toSet
    assert(withJunk == Set(0L, 4L, 8L, 12L), withJunk.toString)
  }

  test("candidate-mass guards of the wide and video dedups fail by name with their exact mass") {
    import graft.operators.{Dedup, Multimodal}
    val docs = (0L until 16L).toDF("doc_id")
    // Σ c² over the self-join's own keys, recomputed on the driver: the
    // 120-bit layout at maxHamming 6 is 7 bands of widths 18,17,…,17 over
    // the value lo | hi << 60, keyed with the frame for video
    def mass(rows: Seq[(Int, Long, Long)]): BigInt = {
      val widths = 18 +: Seq.fill(6)(17)
      val offsets = widths.scanLeft(0)(_ + _)
      rows.flatMap { case (frame, lo, hi) =>
        val v = BigInt(lo) | (BigInt(hi) << 60)
        widths.indices.map(b =>
          (frame, b, (v >> offsets(b)) & ((BigInt(1) << widths(b)) - 1)))
      }.groupBy(identity).values.map(g => BigInt(g.size).pow(2)).sum
    }
    def failure(fn: String)(run: => Unit): BigInt = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains(s"$fn: banded candidate mass"), e.getMessage)
      BigInt("candidate mass (\\d+) exceeds".r
        .findFirstMatchIn(e.getMessage).get.group(1))
    }
    val audio = Multimodal.audioEnergyHashWide(
      Multimodal.encodeSyntheticWavGroups(docs, "doc_id")).localCheckpoint()
    val audioMass = mass(audio.collect().toSeq.filter(!_.isNullAt(1))
      .map(r => (0, r.getLong(1), r.getLong(2))))
    assert(audioMass > 1)
    assert(failure("wideHashDedup")(Dedup.wideHashDedup(audio, "media_id",
      maxHamming = 6, maxCandidateMass = 1L)) == audioMass)
    val video = Multimodal.videoDHashWide(
      Multimodal.encodeSyntheticAviGroups(docs, "doc_id"), everyK = 1)
      .localCheckpoint()
    val videoMass = mass(video.collect().toSeq.filter(!_.isNullAt(2))
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))))
    assert(videoMass > 1)
    assert(failure("videoDedupFromFrameHashes")(Dedup.videoDedupFromFrameHashes(
      video, "media_id", maxCandidateMass = 1L)) == videoMass)
    assert(failure("videoDedupFromFrameHashesFrac")(
      Dedup.videoDedupFromFrameHashesFrac(video, "media_id",
        maxCandidateMass = 1L)) == videoMass)
  }

  test("image hash store: probe ≡ brute force, appended survivors block replays, params validated") {
    import graft.operators.{Dedup, Multimodal}
    val docs = (0L until 16L).toDF("doc_id")
    val hashes = Multimodal.imageDHashWide(
        Multimodal.encodeSyntheticPngGroups(docs, "doc_id"))
      .localCheckpoint()
    val all = hashes.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def ham(a: (Long, Long, Long), b: (Long, Long, Long)) =
      java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
    val store = "graft_img_store_spec"
    spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
    Dedup.writeWideHashStore(hashes.filter(col("media_id") < 8), "media_id",
      store, "image_dhash", maxHamming = 6, nBuckets = 2)
    val seed = all.filter(_._1 < 8)
    val probe = all.filter(_._1 >= 8)
    val expected = probe.filter(p => !seed.exists(s => ham(p, s) <= 6))
      .map(_._1).toSet
    val got = Dedup.wideHashDedupAgainst(hashes.filter(col("media_id") >= 8),
        "media_id", store, "image_dhash", maxHamming = 6, updateStore = true)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, s"probe $got != brute force $expected")
    // survivors were APPENDED: replaying the same batch (fresh ids so the
    // anti-join can't hide a miss behind id equality — matching is by
    // hash, ids never join) now drops everything that survived
    import org.apache.spark.sql.functions.{col => c}
    val replay = Dedup.wideHashDedupAgainst(
        hashes.filter(col("media_id") >= 8)
          .select((c("media_id") + 100L).as("media_id"), c("dh_lo"),
            c("dh_hi")),
        "media_id", store, "image_dhash", maxHamming = 6, updateStore = false)
      .collect().map(_.getLong(0)).toSet
    // every replayed row is hamming 0 from its own appended hash (if it
    // survived) or still within 6 of the seed (if it didn't) → empty
    assert(replay.isEmpty, s"replay must drop everything: $replay")
    // mismatched build parameter refuses loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.wideHashDedupAgainst(hashes, "media_id", store, "image_dhash",
        maxHamming = 3)
    }
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
    spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
  }

  test("pageRankHostsDangling: sink mass redistributed, total conserved, report exact") {
    import graft.operators.LinkGraph
    val edges = Seq(("a.x", "b.x", 1L), ("a.x", "c.x", 3L),
      ("b.x", "c.x", 1L)).toDF("src_host", "dst_host", "n_links")
    // hand-derived, N=3: init=333333333, base=50000000; c.x is the only
    // dangling host, D_0 = 333333333, per-node share (17·D_0) div 60 =
    // 94444444; contribs as in the leaking variant (83333333 to b,
    // 583333332 to c)
    val r1 = LinkGraph.pageRankHostsDangling(edges, iterations = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map("a.x" -> 144444444L, "b.x" -> 215277777L,
      "c.x" -> 640277776L), r1.toString)
    // the property the term buys: total mass stays ~1e9 (floor residue
    // only — ≤ 2 nanos per division per node), where the simplified
    // variant leaked 283M nanos on this graph in one iteration
    assert(math.abs(r1.values.sum - 1000000000L) < 100L, r1.values.sum.toString)
    val rep = LinkGraph.pageRankDanglingReport(edges, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rep.head == ((1L, 333333333L, 613888888L)), rep.head.toString)
    // convergence evidence: the L1 delta DECAYS across iterations
    assert(rep(1)._3 < rep(0)._3, rep.mkString(","))
  }

  test("htmlToText: strips subtrees and tags, decodes entities, collapses whitespace") {
    import graft.operators.TextAnalysis
    val cases = Seq(
      // script content with < and && inside must vanish WHOLE, not leave
      // fragments after the first >
      ("<html><script>if(a<b){c&&d}</script><p>Hello</p></html>", "Hello"),
      ("<style>p{a:1} .x>y{b:2}</style>text", "text"),
      ("a<!-- <p>not this</p> -->b", "a b"),
      ("<div class=\"x\" data-y='1'>inner</div>", "inner"),
      // entity decode, &amp; LAST: &amp;lt; is the literal string "&lt;"
      ("x &amp; y &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b &amp;lt;",
        "x & y <tag> \"q\" 's' a b &lt;"),
      ("  spaced \n\t out  ", "spaced out"),
      // multi-line script (the (?s) flag) and case-insensitive tags
      ("<SCRIPT>\nvar x;\n</SCRIPT>kept", "kept"))
    val got = TextAnalysis.htmlToText(col("h"))
    val rows = cases.map(_._1).toDF("h").select(got.as("t"))
      .collect().map(_.getString(0))
    cases.zip(rows).foreach { case ((in, want), t) =>
      assert(t == want, s"htmlToText($in) = '$t', want '$want'")
    }
  }

  test("htmlToBlocks: block newlines, cell tabs, sentinel safety, name boundaries") {
    import graft.operators.TextAnalysis
    val cases = Seq(
      // paragraphs become separate lines (the strip tier would fuse them)
      ("<p>one</p><p>two</p>", "one\ntwo"),
      // heading + br + list items
      ("<h2>T</h2>a<br>b<ul><li>x</li><li>y</li></ul>", "T\na\nb\nx\ny"),
      // table: cells tab-separated, rows on their own lines, the
      // row-trailing cell tab dropped
      ("<table><tr><th>k</th><th>v</th></tr><tr><td>a</td><td>1</td></tr></table>",
        "k\tv\na\t1"),
      // empty cell keeps its tab (TSV semantics: column positions survive)
      ("<tr><td>a</td><td></td><td>b</td></tr>", "a\t\tb"),
      // consecutive block closes collapse to ONE newline; outer strip
      ("<div><p>x</p></div><div><p>y</p></div>", "x\ny"),
      // entities + inline (non-block) tags behave like the strip tier
      ("<p>x &amp; <b>y</b></p><p>z</p>", "x & y\nz"),
      // script/style/comment subtrees vanish whole
      ("<script>if(a<b){c&&d}</script><p>kept</p><!-- <p>no</p> -->", "kept"),
      // tag-name boundaries: <pre>/<link> are NOT block/cell tags — they
      // strip to spaces, not newlines
      ("a<pre>b</pre>c<link href='x'>d", "a b c d"),
      // pre-existing sentinel control chars in the input map to space
      // (the operator is total: no input can forge a block boundary)
      ("x\u0011y\u0012z<p>w</p>", "x y z\nw"),
      // attributes on block tags still break blocks
      ("<p class=\"a\">x</p><div data-z='1'>y</div>", "x\ny"))
    val got = TextAnalysis.htmlToBlocks(col("h"))
    val rows = cases.map(_._1).toDF("h").select(got.as("t"))
      .collect().map(_.getString(0))
    cases.zip(rows).foreach { case ((in, want), t) =>
      assert(t == want, s"htmlToBlocks($in) = '${t.replace("\n", "\\n")
        .replace("\t", "\\t")}', want '${want.replace("\n", "\\n")
        .replace("\t", "\\t")}'")
    }
  }

  test("compressionRatio: repetition compresses, prose doesn't, reuse leaks nothing") {
    import graft.operators.TextAnalysis
    val boiler = ("lorem ipsum " * 200).trim          // highly repetitive
    val prose = (1 to 150).map(i =>
      Integer.toString(i * 2654435761L.toInt, 36)).mkString(" ") // high entropy
    val docs = Seq((1L, boiler), (2L, prose), (3L, ""), (4L, boiler))
      .toDF("doc_id", "text")
    val r = TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L)._3 < 0.1, s"boilerplate should compress hard: ${r(1L)}")
    assert(r(2L)._3 > 0.5, s"high-entropy text should not: ${r(2L)}")
    // empty input still emits the 2-byte empty-deflate-block terminator;
    // the ratio convention pins 1.0 (nothing to compress ≠ suspicious)
    assert(r(3L) == ((0L, 2L, 1.0)), s"empty doc convention: ${r(3L)}")
    // per-partition Deflater REUSE must not leak state across rows: the
    // two identical docs (different rows, same partition or not) deflate
    // to identical sizes, equal to a fresh single-use Deflater's
    assert(r(1L) == r(4L), s"reuse leaked state: ${r(1L)} vs ${r(4L)}")
    val fresh = graft.verify.IndependentOracles
      .deflatedSizes(Seq((9L, boiler)), level = 6).head._2
    assert(r(1L)._2 == fresh,
      s"partition-reused deflate ${r(1L)._2} != fresh $fresh")
  }

  test("temperatureRates: alpha flattens the head, alpha=1 is natural, caps at 1") {
    // skewed corpus: head 64 docs, mid 16, tail 4
    val docs = ((1L to 64L).map(i => (i, "head")) ++
      (65L to 80L).map(i => (i, "mid")) ++ (81L to 84L).map(i => (i, "tail")))
      .toDF("doc_id", "source")
    // α = 1: q_i ∝ n_i — every domain keeps the same fraction (natural
    // composition preserved), here the 0.5 target itself
    val natural = Sampling.temperatureRates(docs, "source", alpha = 1.0,
      targetFraction = 0.5)
    assert(natural.values.forall(r => math.abs(r - 0.5) < 1e-9))
    // α = 0.5: q_i ∝ √n_i — head keeps a SMALLER fraction than mid than
    // tail (the flattening), and realized size ≈ the target budget
    val flat = Sampling.temperatureRates(docs, "source", alpha = 0.5,
      targetFraction = 0.5)
    assert(flat("head") < flat("mid") && flat("mid") < flat("tail"),
      s"no flattening: $flat")
    // exact hand-computed rates: √n = (8, 4, 2), z = 14, T = 42 →
    // head 24/64 = 0.375, mid 12/16 = 0.75, tail 6/4 = 1.5 CAPPED to 1.0;
    // realized 24 + 12 + 4 = 40 < 42 — the tail saturates and capped mass
    // is NOT redistributed (budget as upper bound, the tokenBudgetRates
    // contract; upsampling would mean duplicating documents)
    assert(math.abs(flat("head") - 0.375) < 1e-9 &&
      math.abs(flat("mid") - 0.75) < 1e-9 && flat("tail") == 1.0, s"$flat")
    val realized = flat("head") * 64 + flat("mid") * 16 + flat("tail") * 4
    assert(math.abs(realized - 40.0) < 1e-9)
    // α → small at a generous budget: tail rate caps at 1.0, never above
    val capped = Sampling.temperatureRates(docs, "source", alpha = 0.1,
      targetFraction = 0.9)
    assert(capped("tail") == 1.0 && capped.values.forall(_ <= 1.0))
  }

  test("dedupParagraphs: one survivor per global duplicate, first position wins") {
    val fixture = Seq(
      (1L, "shared\nunique one"),
      (2L, "shared\nunique two\nshared"), // in-doc repeats of a GLOBAL dup
      (3L, "solo\nrepeat\nrepeat")        // in-doc repeats of a df=1 para
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupParagraphs(fixture, "doc_id", "text",
        maxDocFreq = 1)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out(0) == (1L, "shared\nunique one")) // first occurrence survives
    assert(out(1) == (2L, "unique two"))         // every other copy removed
    assert(out(2) == (3L, "solo\nrepeat\nrepeat")) // non-global repeats stay
    // a doc that is ENTIRELY duplicated paragraphs empties, not disappears
    val wiped = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "text")
    val w = TextAnalysis.dedupParagraphs(wiped, "doc_id", "text", 1)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(w.toSeq == Seq((1L, "x"), (2L, "")))
    // blank lines are separators, not content: even with df = corpus size
    // they survive verbatim in EVERY doc (RefinedWeb/CCNet exclude empty
    // lines from line dedup) — only the non-blank global dup is collapsed
    val sep = Seq((1L, "a\n\nshared"), (2L, "b\n\nshared"), (3L, "c\n \nd"))
      .toDF("doc_id", "text")
    val so = TextAnalysis.dedupParagraphs(sep, "doc_id", "text", 1)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(so.toSeq == Seq((1L, "a\n\nshared"), (2L, "b\n"), (3L, "c\n \nd")))
  }

  test("dedupParagraphsIntra: first in-doc occurrence wins, blanks ride through") {
    val fixture = Seq(
      (1L, "intro\nbody one\nintro\n\nend\n\nbody one"), // repeats at 2 and 6
      (2L, "solo"),
      (3L, "x\nx\nx"),         // wholly repeated doc collapses to one copy
      (4L, "a\n \n \na")       // whitespace-only lines are blanks: all kept
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupParagraphsIntra(fixture, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out(0) == (1L, "intro\nbody one\n\nend\n"))
    assert(out(1) == (2L, "solo"))
    assert(out(2) == (3L, "x"))
    assert(out(3) == (4L, "a\n \n "))
    // CROSS-doc duplication is the corpus-global rule's business, not the
    // intra rule's: identical docs pass through untouched
    val cross = Seq((1L, "same"), (2L, "same")).toDF("doc_id", "text")
    val c = TextAnalysis.dedupParagraphsIntra(cross, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(c.toSeq == Seq((1L, "same"), (2L, "same")))
  }

  test("clusterDedupFromPairsKeepBest: max score survives, min id on ties, paths agree") {
    val frame = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (4L, 1.0), (5L, 2.0))
      .toDF("id", "q")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    // component {1,2,3}: highest q is doc 2 (min-id policy would keep 1);
    // unpaired docs 4 and 5 always survive
    val kept = Dedup.clusterDedupFromPairsKeepBest(frame, "id", col("q"), pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L))
    // all-tie component → smaller id wins (deterministic tie-break)
    val tie = Seq((1L, 7.0), (2L, 7.0), (3L, 7.0)).toDF("id", "q")
    val tiePairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val tieKept = Dedup.clusterDedupFromPairsKeepBest(tie, "id", col("q"), tiePairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(tieKept == Set(1L))
    // distributed min-label path (driver budget 0) returns the same sets
    val distKept = Dedup.clusterDedupFromPairsKeepBest(frame, "id", col("q"),
        pairs, maxDriverPairs = 0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(distKept == kept)
  }

  test("clusterDedupFromPairsKeepBest: null scores rank below scored; fractional ids rejected") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // component {1,2,3}: doc 2 has NO score — the survivor must be the best
    // SCORED member (doc 3), never the null
    val frame = Seq((1L, Some(5.0)), (2L, Option.empty[Double]),
      (3L, Some(7.0))).toDF("id", "q")
    val kept = Dedup.clusterDedupFromPairsKeepBest(frame, "id", col("q"), pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
    // all-null component → documented fallback: smallest id survives
    val allNull = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]),
      (3L, Option.empty[Double])).toDF("id", "q")
    val nKept = Dedup.clusterDedupFromPairsKeepBest(allNull, "id", col("q"), pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(nKept == Set(1L))
    // fractional ids would truncate in the Long alignment cast (distinct
    // ids could collide / not match the pair graph) — loud reject
    val frac = Seq((1.5, 5.0), (2.5, 9.0)).toDF("id", "q")
    val e = intercept[IllegalArgumentException](
      Dedup.clusterDedupFromPairsKeepBest(frac, "id", col("q"), pairs))
    assert(e.getMessage.contains("integral"))
  }

  test("goldenRecord: per-field survivorship assembles across members, singletons pass through") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // component {1,2,3}: the longest member (1) is missing lang; the golden
    // record must take source from 1 (highest prefer with source non-null)
    // and lang from 2 (highest prefer among lang-bearing members) — a row
    // NO single member equals
    val frame = Seq(
      (1L, 10.0, Option.empty[String], Some("a")),
      (2L, 5.0, Some("en"), Option.empty[String]),
      (3L, 1.0, Some("fr"), Some("b")),
      (9L, 2.0, Some("de"), Some("c"))) // singleton
      .toDF("id", "len", "lang", "source")
    val got = Dedup.goldenRecord(frame, "id", pairs, col("len"),
        Seq("lang", "source"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSeq
    assert(got == Seq((1L, 3L, "en", "a"), (9L, 1L, "de", "c")))
    // all-null field stays null; null prefer ranks below every scored member
    val f2 = Seq(
      (1L, Option.empty[Double], Some("x")),
      (2L, Some(1.0), Some("y")),
      (3L, Option.empty[Double], Option.empty[String]))
      .toDF("id", "len", "tag")
    val g2 = Dedup.goldenRecord(f2, "id", pairs, col("len"), Seq("tag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(g2 == Seq((1L, 3L, "y")))
    // distributed-label path (driver budget 0) agrees
    val dist = Dedup.goldenRecord(frame, "id", pairs, col("len"),
        Seq("lang", "source"), maxDriverPairs = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSeq
    assert(dist == got)
    // fractional ids reject loudly (Long alignment with the pair graph)
    val frac = Seq((1.5, 1.0, "z")).toDF("id", "len", "tag")
    val e2 = intercept[IllegalArgumentException](
      Dedup.goldenRecord(frac, "id", pairs, col("len"), Seq("tag")))
    assert(e2.getMessage.contains("integral"))
    // empty field list rejects
    val e3 = intercept[IllegalArgumentException](
      Dedup.goldenRecord(frame, "id", pairs, col("len"), Seq.empty))
    assert(e3.getMessage.contains("no fields"))
  }

  test("splitLeakageFromPairs: lexicographic pair normalization, same-split pairs dropped") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("id_a", "id_b")
    val assign = Seq((1L, "train"), (2L, "test"), (3L, "test"), (4L, "train"),
      (5L, "train"), (6L, "train"), (7L, "val"), (8L, "train"))
      .toDF("doc_id", "split")
    val got = Dedup.splitLeakageFromPairs(pairs, assign, "doc_id", "split")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // (1,2) train↔test and (3,4) test↔train normalize to the SAME bucket;
    // (5,6) same-split is dropped; (7,8) train↔val normalizes train-first
    assert(got == Seq(("test", "train", 2L), ("train", "val", 1L)))
  }

  test("inverted index search: conjunctive match, integer tf ranking") {
    import graft.operators.Search
    val d = Seq(
      (1L, "spark scan join scan"), // scan tf 2 + join tf 1 = 3
      (2L, "join scan"),            // 2
      (3L, "scan only here"),       // fails conjunction
      (4L, "join alone")            // fails conjunction
    ).toDF("doc_id", "text")
    Search.writeInvertedIndex(d, "doc_id", "text", "graft_search_test",
      nBuckets = 2)
    try {
      val got = Search.searchAll(spark, "graft_search_test",
          Seq("scan", "join"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 3L), (2L, 2L)))
      // case-insensitive, duplicate query terms collapse
      val ci = Search.searchAll(spark, "graft_search_test",
          Seq("SCAN", "scan"), 10)
        .collect().map(_.getLong(0)).toSet
      assert(ci == Set(1L, 2L, 3L))
      // probing a table that is not an inverted index fails loudly
      intercept[Exception] {
        Search.searchAll(spark, "graft_nope", Seq("x"), 5).collect()
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_search_test_postings")
      spark.sql("DROP TABLE IF EXISTS graft_search_test_terms")
    }
  }

  test("histogramDrift: shared buckets, zero-filled outer join, edge clamping") {
    val a = Seq(5L, 100L, 100L, 350L).toDF("v")   // buckets 0,1,1,3 at span 1000/10
    val b = Seq(5L, 350L, 350L, 2000L).toDF("v")  // buckets 0,3,3, clamp->9
    val got = graft.Summary.histogramDrift(a, b, "v", 0L, 999L, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 1L, 1L), (1L, 2L, 0L), (3L, 1L, 2L), (9L, 0L, 1L)))
    // identical corpora → n_a == n_b everywhere (no false drift)
    val same = graft.Summary.histogramDrift(a, a, "v", 0L, 999L, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(same.forall { case (x, y) => x == y })
  }

  test("searchPhrase: consecutive positions only, reversals and gaps rejected") {
    import graft.operators.Search
    val d = Seq(
      (1L, "big scan runs a big scan today"), // "big scan" twice -> 2
      (2L, "big red scan"),                   // gap -> no match
      (3L, "scan big"),                       // reversal -> no match
      (4L, "big scan"),                       // once -> 1
      (5L, "big big big")                     // self-adjacent dup-term case
    ).toDF("doc_id", "text")
    Search.writePositionalIndex(d, "doc_id", "text", "graft_pos_t", nBuckets = 2)
    try {
      val got = Search.searchPhrase(spark, "graft_pos_t",
          Seq("big", "scan"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 2L), (4L, 1L)))
      // duplicate-term phrase: "big big" matches at positions 0 and 1 of
      // doc 5 ("big big big") and nowhere else (doc 1's bigs are apart)
      val dup = Search.searchPhrase(spark, "graft_pos_t",
          Seq("big", "big"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(dup == Seq((5L, 2L)), s"dup-term phrase wrong: $dup")
    } finally spark.sql("DROP TABLE IF EXISTS graft_pos_t_pos")
  }

  test("searchWeighted: integer idf makes one rare hit beat common-term pileup") {
    import graft.operators.Search
    val d = Seq(
      (1L, "dup scan"),               // rare 'dup' (w=N/1=4) + scan -> 5
      (2L, "scan scan scan scan"),    // tf 4 of common 'scan' (w=4/3=1) -> 4
      (3L, "scan"),                   // -> 1
      (4L, "other words only")
    ).toDF("doc_id", "text")
    Search.writeInvertedIndex(d, "doc_id", "text", "graft_search_w", nBuckets = 2)
    try {
      val got = Search.searchWeighted(spark, "graft_search_w",
          Seq("scan", "dup"), 10, docCount = 4L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 5L), (2L, 4L), (3L, 1L)))
    } finally Seq("graft_search_w_postings", "graft_search_w_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bigramLogProb: fluency scoring — exact nanos, scramble-sensitive") {
    import graft.operators.TextAnalysis
    val d = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the dog sat"),
      (4L, "solo")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // pairs: "the cat"x2, "the dog"x1, "cat sat"x1, "cat ran"x1,
    // "dog sat"x1; contexts: the=3, cat=2, dog=1
    def nl(ab: Long, a: Long) =
      math.round(math.log(ab.toDouble / a) * 1e9)
    def mean(xs: Long*) = {
      val s = xs.sum.toDouble / xs.size / 1e9
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(1L) == mean(nl(2, 3), nl(1, 2)))  // the cat, cat sat
    assert(got(3L) == mean(nl(1, 3), nl(1, 1)))  // the dog, dog sat
    assert(!got.contains(4L), "single-token doc has no fluency evidence")
    // the motivating property: scrambling tokens preserves the unigram
    // score and DESTROYS the bigram score (novel pairs -> rarer -> lower)
    val fluent = Seq((1L, "a b a b a b a b")).toDF("doc_id", "text")
    val scrambled = Seq((1L, "a a b b a b b a")).toDF("doc_id", "text")
    def bi(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bigramLogProb(df, "doc_id", "text")
        .collect().head.getDouble(1)
    def uni(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.unigramLogProb(df, "doc_id", "text")
        .collect().head.getDouble(1)
    assert(uni(fluent) == uni(scrambled), "unigram must not see order")
    assert(bi(fluent) > bi(scrambled), "bigram must punish broken order")
  }

  test("globalPrefixSum: equals the single-window answer, without one") {
    import graft.operators.{Relational, TextAnalysis}
    import org.apache.spark.sql.expressions.Window
    // clustered, gappy, unordered ids over many partitions — the shapes
    // uniform range-bucketing must still get exactly right
    val ids = (Seq(1L, 2L, 3L) ++ Seq(500L, 501L) ++ Seq(90000L, 90007L) ++
      (1000L to 1100L by 7)).distinct
    val df = ids.map(i => (i, i % 13)).toDF("id", "v").repartition(8)
    val naive = df.withColumn("p",
        coalesce(sum(col("v")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "p").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (nb <- Seq(1, 4, 256)) { // degenerate single bucket through sparse
      val got = Relational.globalPrefixSum(df, "id", "v", nBuckets = nb)
        .select("id", "prefix").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == naive, s"nBuckets=$nb diverges from the global window")
    }
    // empty input: schema-stable, zero rows
    val empty = Relational.globalPrefixSum(
      df.filter(col("id") < 0), "id", "v")
    assert(empty.columns.contains("prefix") && empty.count() == 0)
    // shard assignment rides the prefix: boundaries at exact budget edges
    val docs = Seq((1L, "a b c d"), (2L, "e f"), (3L, "g h i"))
      .toDF("doc_id", "text")
    val shards = TextAnalysis.shardAssignments(docs, "doc_id", "text", 4L)
      .select("doc_id", "shard_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // offsets 0,4,6 with budget 4 → shards 0,1,1
    assert(shards == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("globalPrefixSums: fused multi-column ≡ sequential singles + totals") {
    import graft.operators.Relational
    val ids = (Seq(2L, 7L, 9L) ++ (100L to 160L by 9) ++ Seq(5000L)).distinct
    val df = ids.map(i => (i, i % 5, i % 3)).toDF("id", "a", "b")
      .repartition(5)
    val seqA = Relational.globalPrefixSum(df, "id", "a", "pa")
    val seqBoth = Relational.globalPrefixSum(seqA, "id", "b", "pb")
      .select("id", "pa", "pb").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val (fused, totals) = Relational.globalPrefixSums(df, "id",
      Seq("a", "b"), Seq("pa", "pb"))
    val got = fused.select("id", "pa", "pb").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == seqBoth, "fused prefixes diverge from sequential calls")
    assert(totals == Seq(ids.map(_ % 5).sum, ids.map(_ % 3).sum),
      "totals must equal the grand sums, for zero extra jobs")
    // empty input: schema-stable, zero rows, zero totals
    val (empty, et) = Relational.globalPrefixSums(
      df.filter(col("id") < 0), "id", Seq("a", "b"), Seq("pa", "pb"))
    assert(empty.columns.contains("pa") && empty.count() == 0 &&
      et == Seq(0L, 0L))
  }

  test("globalPrefixSums: NULL order keys fail by name, some or all of them") {
    import graft.operators.Relational
    val some = Seq((Some(1L), 5L), (None, 7L), (Some(3L), 2L))
      .toDF("id", "v").repartition(2)
    val all = Seq((Option.empty[Long], 5L), (None, 7L)).toDF("id", "v")
    Seq(some -> 1, all -> 2).foreach { case (df, nulls) =>
      val e = intercept[IllegalArgumentException] {
        val (out, _) = Relational.globalPrefixSums(df, "id", Seq("v"), Seq("p"))
        out.collect()
      }
      assert(e.getMessage.contains(s"$nulls NULL key") &&
        e.getMessage.contains("'id'"), e.getMessage)
    }
  }

  test("searchBM25: Okapi ranking with inline dl, nanos-exact scores") {
    import graft.operators.Search
    val d = Seq(
      (1L, "dup scan"),               // one rare 'dup' hit
      (2L, "scan scan scan scan"),    // tf-saturation case
      (3L, "scan"),
      (4L, "other words only")
    ).toDF("doc_id", "text")
    Search.writeInvertedIndex(d, "doc_id", "text", "graft_bm25_t", nBuckets = 2)
    try {
      // replicate the kernel's exact double math (same operand order) —
      // the result must be bit-identical, nanos are exact longs
      val n = 4L; val avgdl = 10.0 / 4
      def c(tf: Long, dl: Long, df: Long): Long =
        math.round(math.log(1.0 + (n.toDouble - df + 0.5) / (df + 0.5)) *
          (tf * (1.2 + 1)) /
          (tf + 1.2 * (1 - 0.75) + 1.2 * 0.75 * dl / avgdl) * 1e9)
      val exp = Map(
        1L -> (c(1, 2, 1) + c(1, 2, 3)),
        2L -> c(4, 4, 3),
        3L -> c(1, 1, 3))
      val got = Search.searchBM25(spark, "graft_bm25_t", Seq("scan", "dup"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // rare-term hit dominates; BM25 tf saturation keeps doc 2's scan
      // pile-up above doc 3's single scan but below doc 1
      assert(got.map(_._1) == Seq(1L, 2L, 3L))
      got.foreach { case (id, s) =>
        assert(s == exp(id) / 1e9, s"doc $id: got $s want ${exp(id) / 1e9}") }
      // corpus stats roll forward on a real append…
      def stats = spark.sql("SHOW TBLPROPERTIES graft_bm25_t_postings")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      Search.appendInvertedIndex(Seq((5L, "fresh dup")).toDF("doc_id", "text"),
        "doc_id", "text", "graft_bm25_t", batchId = 1L)
      assert(stats("graft.docCount") == "5" && stats("graft.totalDl") == "12")
      // …and a replayed batch leaves them alone
      Search.appendInvertedIndex(Seq((5L, "fresh dup")).toDF("doc_id", "text"),
        "doc_id", "text", "graft_bm25_t", batchId = 1L)
      assert(stats("graft.docCount") == "5" && stats("graft.totalDl") == "12")
    } finally Seq("graft_bm25_t_postings", "graft_bm25_t_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("searchBM25HardNegatives: positives excluded BEFORE the cut, empty set ≡ plain BM25") {
    import graft.operators.Search
    val d = Seq(
      (1L, "dup scan"),
      (2L, "scan scan scan scan"),
      (3L, "scan"),
      (4L, "other words only")
    ).toDF("doc_id", "text")
    Search.writeInvertedIndex(d, "doc_id", "text", "graft_hneg_t",
      nBuckets = 2)
    try {
      // plain top-2 is (1, 2); excluding positive doc 1 must PROMOTE doc 3
      // into the k=2 cut, not return a 1-row result
      val pos = Seq(1L).toDF("doc_id")
      val got = Search.searchBM25HardNegatives(spark, "graft_hneg_t",
          Seq("scan", "dup"), pos, "doc_id", k = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(got == Seq(2L, 3L))
      // empty positives ≡ searchBM25 (ids and scores)
      val none = Seq.empty[Long].toDF("doc_id")
      val a = Search.searchBM25HardNegatives(spark, "graft_hneg_t",
          Seq("scan", "dup"), none, "doc_id", k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = Search.searchBM25(spark, "graft_hneg_t", Seq("scan", "dup"), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b)
    } finally Seq("graft_hneg_t_postings", "graft_hneg_t_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("mmrSelect: diversity beats a relevance pile-up, order deterministic") {
    import graft.operators.Similarity
    // query (1,0,0); a tight cluster of near-duplicates hugging the query
    // (ids 1-3) and one moderately-relevant outlier (id 4). Pure top-3 by
    // relevance returns the whole cluster; MMR must break out to the
    // outlier by pick 2 or 3.
    val emb = Seq(
      (1L, Array(0.99f, 0.10f, 0.00f)),
      (2L, Array(0.98f, 0.11f, 0.00f)),
      (3L, Array(0.99f, 0.09f, 0.01f)),
      (4L, Array(0.60f, 0.00f, 0.80f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(emb, "vec_id", "embedding",
        Seq(1.0, 0.0, 0.0), k = 3, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(_._2) == Seq(1L, 2L, 3L), "pos must be 1..k in order")
    val picks = got.map(_._1)
    assert(picks.head == 3L || picks.head == 1L) // most relevant first
    assert(picks.contains(4L), s"MMR must escape the cluster: $picks")
    // the Spark-independent mirror reproduces the selection exactly
    val mirror = graft.verify.IndependentOracles.mmrOrder(
      Seq(1L -> Array(0.99, 0.10, 0.00), 2L -> Array(0.98, 0.11, 0.00),
        3L -> Array(0.99, 0.09, 0.01), 4L -> Array(0.60, 0.00, 0.80))
        .map { case (id, a) => (id, a.map(_.toFloat.toDouble)) },
      Array(1.0, 0.0, 0.0), k = 3, lambda = 0.5)
    assert(mirror == picks, s"mirror $mirror != spark $picks")
    // k larger than the corpus terminates with everything selected
    assert(Similarity.mmrSelect(emb, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), k = 10).count() == 4)
  }

  test("mmrSelectBatched: m=1 ≡ greedy exactly; m>1 deterministic, mirror-pinned") {
    import graft.operators.Similarity
    // 8 vectors: two tight clusters plus scattered singletons — enough
    // structure that batching order actually matters at m=3
    val vecs = Seq(
      (1L, Array(0.99f, 0.10f, 0.00f)), (2L, Array(0.98f, 0.11f, 0.00f)),
      (3L, Array(0.99f, 0.09f, 0.01f)), (4L, Array(0.60f, 0.00f, 0.80f)),
      (5L, Array(0.58f, 0.02f, 0.81f)), (6L, Array(0.10f, 0.99f, 0.00f)),
      (7L, Array(0.50f, 0.50f, 0.70f)), (8L, Array(0.30f, 0.30f, 0.90f)))
    val emb = vecs.toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.0, 0.0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("pos").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the batched relaxation VANISHES at m=1: selection identical to greedy
    // (max of rounded sims is associative, so the folded running max is
    // exact — this is the property that licenses the batched plan shape)
    val greedy = rows(Similarity.mmrSelect(emb, "vec_id", "embedding", q,
      k = 6, lambda = 0.5))
    val b1 = rows(Similarity.mmrSelectBatched(emb, "vec_id", "embedding", q,
      k = 6, lambda = 0.5, m = 1))
    assert(b1 == greedy, s"batched(m=1) $b1 != greedy $greedy")
    // m=3: positions dense 1..k, ids distinct, round 1 = top-3 by pure
    // relevance (scores frozen per round), and the Spark-independent
    // batched mirror reproduces the full order
    val b3 = rows(Similarity.mmrSelectBatched(emb, "vec_id", "embedding", q,
      k = 6, lambda = 0.5, m = 3))
    assert(b3.map(_._2) == (1L to 6L), "pos must be dense 1..k")
    assert(b3.map(_._1).distinct.size == 6)
    assert(b3.head._1 == greedy.head._1, "first pick must match greedy")
    val mirror = graft.verify.IndependentOracles.mmrOrderBatched(
      vecs.map { case (id, a) => (id, a.map(_.toDouble)) }.toSeq,
      Array(1.0, 0.0, 0.0), k = 6, lambda = 0.5, m = 3)
    assert(mirror == b3.map(_._1), s"mirror $mirror != spark ${b3.map(_._1)}")
    // k larger than the corpus terminates with everything selected
    assert(Similarity.mmrSelectBatched(emb, "vec_id", "embedding", q,
      k = 20, lambda = 0.5, m = 3).count() == 8)
  }

  test("hybridSearchRRF: both-leg docs outrank single-leg, fusion exact") {
    import graft.operators.Search
    val docs = Seq(
      (1L, "dup scan both"),            // text hit
      (2L, "scan scan scan"),           // text hit (weaker)
      (3L, "nothing relevant here"),    // vector-only candidate
      (4L, "other words")
    ).toDF("doc_id", "text")
    // vectors: id 0 is the query; 1 is nearly parallel to it (vector rank
    // 1), 3 close (rank 2), others orthogonal-ish
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.9f, 0.4f, 0.1f)),
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    Search.writeInvertedIndex(docs, "doc_id", "text", "graft_hybrid_t",
      nBuckets = 2)
    try {
      val got = Search.hybridSearchRRF(spark, "graft_hybrid_t",
          Seq("scan", "dup"), emb, "vec_id", "embedding",
          queryId = 0L, k = 10, kEach = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // doc 1: text rank 1 (rare 'dup') + vector rank 1 → top by fusion;
      // exact RRF arithmetic mirrored here
      def rrf(rs: Int*) = rs.map(r => 1.0 / (60 + r)).sum
      assert(got.head._1 == 1L)
      assert(got.head._2 == rrf(1, 1))
      val m = got.toMap
      // doc 2: text rank 2 + vector rank 3 (cos 0 still makes the kEach=3
      // cut, id-tiebroken past doc 4); doc 3: vector-only rank 2
      assert(m(2L) == rrf(2, 3), s"doc 2 fused wrong: ${m(2L)}")
      assert(m(3L) == rrf(2), s"doc 3 fused wrong: ${m(3L)}")
      // doc 4 misses both legs' top-kEach entirely
      assert(!m.contains(4L))
      // a missing query id fails loudly instead of degrading to text-only.
      // The guard is IN-PLAN (raise_error), so the error surfaces at ACTION
      // time as a Spark runtime exception, not at call time — execute the
      // returned frame to trip it
      val e = intercept[Exception] {
        Search.hybridSearchRRF(spark, "graft_hybrid_t", Seq("scan"),
          emb, "vec_id", "embedding", queryId = 999L, k = 5).collect()
      }
      assert(e.getMessage.contains("999"))
      // a DUPLICATED query id fails loudly too: first(vec) over >1 row
      // would be partition-order-dependent
      val embDup = emb.unionAll(emb.filter($"vec_id" === 0L))
      val e2 = intercept[Exception] {
        Search.hybridSearchRRF(spark, "graft_hybrid_t", Seq("scan"),
          embDup, "vec_id", "embedding", queryId = 0L, k = 5).collect()
      }
      assert(e2.getMessage.contains("duplicated"))
    } finally Seq("graft_hybrid_t_postings", "graft_hybrid_t_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("inverted index append + compaction: ingest loop equals full rebuild") {
    import graft.operators.Search
    import graft.sources.Sources
    val b1 = Seq((1L, "scan join scan"), (2L, "join alone")).toDF("doc_id", "text")
    val b2 = Seq((3L, "scan join join join"), (4L, "scan solo")).toDF("doc_id", "text")
    Search.writeInvertedIndex(b1, "doc_id", "text", "graft_search_incr",
      nBuckets = 2)
    Search.appendInvertedIndex(b2, "doc_id", "text", "graft_search_incr")
    Search.writeInvertedIndex(b1.unionAll(b2), "doc_id", "text",
      "graft_search_full", nBuckets = 2)
    try {
      def res(store: String) = Search.searchAll(spark, store,
          Seq("scan", "join"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(res("graft_search_incr") == res("graft_search_full"))
      // accreted doc-freqs SUM to the rebuild's (disjoint-batch contract)
      val dfIncr = Search.termDocFreq(spark, "graft_search_incr")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val dfFull = Search.termDocFreq(spark, "graft_search_full")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(dfIncr == dfFull)
      // maintenance-window compaction preserves results
      Sources.compactBucketed(spark, "graft_search_incr_postings")
      assert(res("graft_search_incr") == res("graft_search_full"))
    } finally Seq("graft_search_incr_postings", "graft_search_incr_terms",
      "graft_search_full_postings", "graft_search_full_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("appendInvertedIndex(batchId): replays never double-count, partial crashes recover") {
    import graft.operators.Search
    val b1 = Seq((1L, "scan join scan"), (2L, "join alone")).toDF("doc_id", "text")
    val b2 = Seq((3L, "scan join join")).toDF("doc_id", "text")
    Search.writeInvertedIndex(b1, "doc_id", "text", "graft_search_idem",
      nBuckets = 2)
    try {
      def state = (spark.table("graft_search_idem_postings").count(),
        Search.termDocFreq(spark, "graft_search_idem").collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap)
      Search.appendInvertedIndex(b2, "doc_id", "text", "graft_search_idem",
        batchId = 7L)
      val after = state
      // at-least-once redelivery (crash after both table appends, before
      // the ingest loop's marker): the full replay must be a no-op — under
      // the old marker-after-append ordering this double-counted tf/df
      Search.appendInvertedIndex(b2, "doc_id", "text", "graft_search_idem",
        batchId = 7L)
      assert(state == after, "replayed batch must not change the index")
      // crash BETWEEN the postings and terms appends: batch 9's postings
      // committed, its terms did not — the replay must skip the committed
      // postings and append ONLY the missing terms rows
      val b3 = Seq((4L, "scan solo")).toDF("doc_id", "text")
      val b3posts = Seq(("scan", 4L, 1L, 2L), ("solo", 4L, 1L, 2L))
        .toDF("term", "doc_id", "tf", "dl")
      graft.sources.StoreTable.appendOnce(b3posts, "graft_search_idem_postings",
        batchId = 9L)
      val partial = state
      // torn-window READ semantics (postings visible, terms missing): a
      // term new in batch 9 has no terms row → its postings drop out of
      // the weight join and score 0 (doc invisible to searchWeighted)…
      assert(Search.searchWeighted(spark, "graft_search_idem", Seq("solo"),
        10, docCount = 4L).count() == 0L,
        "new-in-batch term must contribute 0 until the terms append")
      // …while searchAll sees the committed postings immediately
      assert(Search.searchAll(spark, "graft_search_idem", Seq("solo"), 10)
        .collect().map(_.getLong(0)).toSeq == Seq(4L))
      // a PRE-existing term keeps its stale (pre-batch) doc-freq: "scan"
      // df=2 not 3 → weight 4 div 2 = 2, so the new doc scores tf·2 = 2
      val torn = Search.searchWeighted(spark, "graft_search_idem",
          Seq("scan"), 10, docCount = 4L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(torn(4L) == 2L, "torn window scores with the stale df weight")
      Search.appendInvertedIndex(b3, "doc_id", "text", "graft_search_idem",
        batchId = 9L)
      // replay converges the weights: df("scan")=3 → weight 4 div 3 = 1
      val healed = Search.searchWeighted(spark, "graft_search_idem",
          Seq("scan"), 10, docCount = 4L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(healed(4L) == 1L)
      assert(Search.searchWeighted(spark, "graft_search_idem", Seq("solo"),
        10, docCount = 4L).collect().map(_.getLong(0)).toSeq == Seq(4L))
      val recovered = state
      assert(recovered._1 == partial._1, "committed postings must not double")
      assert(recovered._2("solo") == 1L, "missing terms rows must append")
      // recovered index ≡ a from-scratch rebuild over all three batches
      Search.writeInvertedIndex(b1.unionAll(b2).unionAll(b3), "doc_id",
        "text", "graft_search_idem_full", nBuckets = 2)
      def res(store: String) = Search.searchAll(spark, store,
          Seq("scan", "join"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(res("graft_search_idem") == res("graft_search_idem_full"))
      assert(recovered._2 == Search.termDocFreq(spark, "graft_search_idem_full")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    } finally Seq("graft_search_idem_postings", "graft_search_idem_terms",
      "graft_search_idem_full_postings", "graft_search_idem_full_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("clusterSizeHistogramPortable: component sizes plus the singleton row") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact copy → pair with 1
      (3L, "totally different content with no shared shingles at all")
    ).toDF("doc_id", "text")
    def md5Pairs(df: org.apache.spark.sql.DataFrame) = Dedup.minhashPairs(df,
      "doc_id", "text", 0.5, numHashes = 16, bands = 4, portable = true)
    val hist = Dedup.clusterSizeHistogramFromPairs(d, "doc_id", md5Pairs(d))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hist == Seq((1L, 1L), (2L, 1L))) // one singleton, one 2-cluster
    // no pairs at all → a single size-1 row covering the whole corpus
    val solo = Seq((1L, "one two three four"), (2L, "five six seven eight"))
      .toDF("doc_id", "text")
    val h2 = Dedup.clusterSizeHistogramFromPairs(solo, "doc_id", md5Pairs(solo))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(h2 == Seq((1L, 2L)))
  }

  test("heavyHitters: exact threshold set, sketch false positives filtered out") {
    val rows = Seq.fill(50)("a") ++ Seq.fill(10)("b") ++ Seq.fill(5)("c") ++
      (0 until 35).map(i => s"d$i") // N = 100
    val frame = rows.toDF("tok")
    val got = Relational.heavyHitters(frame, "tok", support = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 50L), ("b", 10L))) // thresh = 10: c and tail fail
    // exactly the brute-force answer (the sketch must add nothing)
    val brute = frame.groupBy("tok").count().filter(col("count") >= 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == brute)
    // a support no item reaches → empty result, schema intact
    val none = Relational.heavyHitters(frame, "tok", support = 0.9)
    assert(none.columns.toSeq == Seq("item", "cnt") && none.count() == 0)
    // empty input exercises the empty-candidate branch
    val empty = Relational.heavyHitters(frame.limit(0), "tok", support = 0.5)
    assert(empty.columns.toSeq == Seq("item", "cnt") && empty.count() == 0)
  }

  test("minhash store probe with mismatched build parameters fails loudly") {
    // the store persists numHashes/bands as table properties at write time;
    // probing with different parameters must throw, not silently
    // under-estimate jaccard and let true duplicates through
    val d = docs.select(col("doc_id"), col("text"))
    Dedup.writeMinhashStore(
      Dedup.minhashSigs(d, "doc_id", "text", numHashes = 16, portable = true),
      "doc_id", "graft_param_store", bands = 4, numHashes = 16, nBuckets = 2,
      portable = true)
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashDedupAgainst(d, "doc_id", "text", "graft_param_store",
        threshold = 0.5, numHashes = 8, bands = 4, updateStore = false,
        portable = true)
    }
    assert(e.getMessage.contains("numHashes"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashDedupAgainst(d, "doc_id", "text", "graft_param_store",
        threshold = 0.5, numHashes = 16, bands = 2, updateStore = false,
        portable = true)
    }
    assert(e2.getMessage.contains("bands"))
    // the hash base is a build parameter too: an xxhash64 probe of an md5
    // store (whose bands table has no band_hash column) fails by name
    val e2b = intercept[IllegalArgumentException] {
      Dedup.minhashDedupAgainst(d, "doc_id", "text", "graft_param_store",
        threshold = 0.5, numHashes = 16, bands = 4, updateStore = false)
    }
    assert(e2b.getMessage.contains("portable"))
    // the whole store family shares the hazard: simhash's hash base flag
    // (60-bit md5 sigs never equal 64-bit xxhash64 sigs — every probe would
    // silently "survive") …
    Dedup.writeSimhashStore(d, "doc_id", "text", "graft_sh_param_store",
      portable = true, nBuckets = 2)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.simhashDedupAgainst(d, "doc_id", "text", "graft_sh_param_store",
        portable = false, updateStore = false)
    }
    assert(e3.getMessage.contains("portable"))
    // … and the embedding store's plane geometry (different bandBits means
    // band keys can never collide with the store's)
    val emb = (1L to 8L).map(i =>
      (i, (0 until 8).map(j => if (j == (i % 4).toInt) 1.0f else 0.0f).toSeq))
      .toDF("vec_id", "embedding")
    Dedup.writeEmbeddingStore(emb, "vec_id", "embedding",
      "graft_emb_param_store", dim = 8, bandBits = 8, bands = 2, nBuckets = 2)
    val e4 = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupAgainst(emb, "vec_id", "embedding",
        "graft_emb_param_store", threshold = 0.9, dim = 8, bandBits = 12,
        bands = 2, updateStore = false)
    }
    assert(e4.getMessage.contains("bandBits"))
  }

  test("signature width mismatch vs a property-less store raises in-plan") {
    // stores written before the build-parameter properties existed (or
    // hand-built frames) skip the entry check — the width guard inside the
    // est expression must still refuse to count null-padded slots as
    // disagreement. Construct the pathological case directly: band rows
    // that DO collide with the probe's, but 8-wide stored sigs vs the
    // probe's 16-wide.
    import graft.sources.Sources
    val d = docs.select(col("doc_id"), col("text"))
    val sigs16 = Dedup.minhashSigs(d, "doc_id", "text", numHashes = 16)
    Sources.writeBucketed(
      sigs16.select(col("doc_id"), slice(col("sig"), 1, 8).as("sig")),
      "graft_widthstore_sigs", "doc_id", 2)
    Sources.writeBucketed(
      Dedup.lshBands(sigs16, "doc_id", "sig", bands = 4, numHashes = 16)
        .select(col("doc_id"), col("band_hash")),
      "graft_widthstore_bands", "band_hash", 2)
    val e = intercept[Exception] {
      Dedup.minhashDedupAgainst(d, "doc_id", "text", "graft_widthstore",
        threshold = 0.1, numHashes = 16, bands = 4, updateStore = false)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(_.contains("width mismatch")), e.toString)
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}

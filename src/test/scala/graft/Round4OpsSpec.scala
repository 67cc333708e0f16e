package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}

/** [EXT] round-4 operators: full-outer join, bloom-prefiltered semi join,
  * PII redaction, unigram LM scoring, sequence packing, label centroids. */
class Round4OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fullJoin keeps unmatched rows from BOTH sides with nulls") {
    val l = Seq((1L, "a"), (2L, "b")).toDF("k", "lv")
    val r = Seq((2L, "x"), (3L, "y")).toDF("k", "rv")
    val rows = Relational.fullJoin(l, r, Seq("k"))
      .orderBy("k").collect()
      .map(x => (x.getLong(0), Option(x.getString(1)), Option(x.getString(2))))
    assert(rows.toSeq == Seq(
      (1L, Some("a"), None), (2L, Some("b"), Some("x")), (3L, None, Some("y"))))
  }

  test("bloomSemiJoin is result-identical to the plain semi join") {
    val fact = spark.range(0, 5000)
      .select(col("id").as("k"), (col("id") % 97).as("payload"))
    val dim = spark.range(0, 5000).filter(col("id") % 17 === 0)
      .select(col("id").as("dk"))
    val viaBloom = Relational.bloomSemiJoin(fact, dim, "k", "dk",
        expectedItems = 1000L, numBits = 1L << 14)
      .select("k").as[Long].collect().sorted.toSeq
    val plain = fact.join(dim.select(col("dk").as("k")), Seq("k"), "left_semi")
      .select("k").as[Long].collect().sorted.toSeq
    assert(viaBloom == plain)
    assert(viaBloom.nonEmpty && viaBloom.forall(_ % 17 == 0))
  }

  test("bloomSemiJoin with an empty build side returns empty, not an error") {
    val fact = spark.range(0, 100).select(col("id").as("k"))
    val dim = spark.range(0, 100).filter(col("id") < 0).select(col("id").as("dk"))
    val out = Relational.bloomSemiJoin(fact, dim, "k", "dk",
      expectedItems = 10L, numBits = 1L << 10)
    assert(out.count() == 0)
  }

  test("redactPii replaces emails and urls, counts match") {
    val df = Seq(
      (1L, "mail me at jane.doe+x@sub.example.org thanks"),
      (2L, "see https://example.com/a?b=1 and http://t.co/x"),
      (3L, "no pii here at all")
    ).toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.redactPii(col("text")).as("clean"),
        TextAnalysis.piiCounts(col("text"))._1.as("ne"),
        TextAnalysis.piiCounts(col("text"))._2.as("nu"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "mail me at [EMAIL] thanks")
    assert(out(0).getInt(2) == 1 && out(0).getInt(3) == 0)
    assert(out(1).getString(1) == "see [URL] and [URL]")
    assert(out(1).getInt(2) == 0 && out(1).getInt(3) == 2)
    assert(out(2).getString(1) == "no pii here at all")
    assert(out(2).getInt(2) == 0 && out(2).getInt(3) == 0)
  }

  test("hashedClassify: dominant weights win, ties go to declaration order") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("id", "text")
    val up = Seq.fill(16)(1000000L)
    val down = Seq.fill(16)(-1000000L)
    // class separation: every bucket of "pos" outweighs "neg"
    val out = TextAnalysis.hashedClassify(docs, "id", "text",
        Seq("neg" -> down, "pos" -> up))
      .orderBy("id").collect()
    assert(out.forall(_.getAs[String]("label") == "pos"))
    assert(out(0).getAs[Long]("n_tokens") == 3L)
    assert(out(0).getAs[Double]("logit") == 1.0)
    // exact tie (identical weight vectors): FIRST declared class wins
    val tie = TextAnalysis.hashedClassify(docs, "id", "text",
        Seq("b_second" -> up, "a_first" -> up))
      .collect()
    assert(tie.forall(_.getAs[String]("label") == "b_second"))
  }

  test("removeBoilerplateLines: host chrome dropped, content kept in order, guards hold") {
    val docs = Seq(
      // host A (3 docs): "menu" in all 3 → dropped; "sale" in 2/3 (0.67 >
      // 0.5) → dropped; content lines unique → kept, order preserved
      (1L, "a", "menu\nalpha one\nsale\nomega one"),
      (2L, "a", "menu\nalpha two\nsale"),
      (3L, "a", "menu\nalpha three"),
      // host B, SINGLE doc: minLineDocFreq=2 guard — nothing can be
      // template in a one-doc host, even at ratio 1.0
      (4L, "b", "menu\nbeta content"),
      // host C (2 docs): doc 6 is ALL boilerplate → survives as empty row
      (5L, "c", "promo\ngamma content"),
      (6L, "c", "promo")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text",
        "source", maxLineDocRatio = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(out.toSeq == Seq(
      (1L, "alpha one\nomega one"),
      (2L, "alpha two"),
      (3L, "alpha three"),
      (4L, "menu\nbeta content"), // host B untouched despite host A's menu
      (5L, "gamma content"),
      (6L, "")))                  // row kept, text emptied
  }

  test("canonicalizeUrl: fragment/tracking removal, scheme+host lowercase, path case kept") {
    val cases = Seq(
      // mixed-case host + tracking + fragment: all normalize; path case kept
      ("https://WWW.Ex.COM/Path/P?utm_a=1&x=2#frag", "https://www.ex.com/Path/P?x=2"),
      ("http://a.b/p?utm_campaign=news", "http://a.b/p"),             // only-param
      ("https://H.io/p?x=1&gclid=z&y=2", "https://h.io/p?x=1&y=2"),   // mid-param
      ("https://Ex.com/p?utm_a=1&utm_b=2&x=3", "https://ex.com/p?x=3"), // leading run
      ("https://Ex.com/p?utm_a=1&utm_b=2", "https://ex.com/p"),       // all tracking
      // bare `ref` is content-bearing (GitHub `?ref=branch` selects a
      // different resource) — it must SURVIVE canonicalization
      ("https://GH.com/r/tree?ref=main", "https://gh.com/r/tree?ref=main"),
      ("https://Ex.com/", "https://ex.com/"))                         // no-op body
    val got = cases.toDF("url", "want")
      .select(TextAnalysis.canonicalizeUrl(col("url")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got ${r.getString(0)}, want ${r.getString(1)}"))
    // host: lowercased, port excluded
    val h = Seq(("https://User.Ex.com:8080/x", "")).toDF("u", "x")
      .select(TextAnalysis.urlHost(col("u"))).head.getString(0)
    assert(h == "user.ex.com")
  }

  test("unigramLogProb: uniform corpus scores ln(1/V); rare-token doc scores lower") {
    // 4 docs over a 2-token uniform vocab: every token has p = 1/2
    val uniform = Seq((1L, "aa bb"), (2L, "bb aa")).toDF("doc_id", "text")
    val u = TextAnalysis.unigramLogProb(uniform, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = BigDecimal(math.rint(math.log(0.5) * 1e9) / 1e9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(u(1L) == expected && u(2L) == expected)

    val skewed = Seq(
      (1L, "common common common common"),
      (2L, "common common common rareword")).toDF("doc_id", "text")
    val s = TextAnalysis.unigramLogProb(skewed, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(2L) < s(1L), s"rare-token doc should score lower: $s")
  }

  test("unigramLogProb vocabCap floors out-of-vocabulary tokens") {
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common rareword")).toDF("doc_id", "text")
    // cap = 1 keeps only "common"; "rareword" takes the OOV floor
    val capped = TextAnalysis.unigramLogProb(df, "doc_id", "text", vocabCap = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // OOV floor ln(1/(total+1)) is below the true ln(1/6) for rareword
    assert(capped(2L) < full(2L))
    assert(capped(1L) == full(1L)) // all-in-vocab doc unchanged
  }

  test("chunkAssignments packs per group in id order with correct boundaries") {
    val df = Seq(
      (1L, "a b c d", "s1"),   // 4 tokens, offset 0,  chunk 0
      (2L, "e f g", "s1"),     // 3 tokens, offset 4,  chunk 0
      (3L, "h i j k l", "s1"), // 5 tokens, offset 7,  chunk 1 (budget 5)
      (4L, "m n", "s2")        // other group restarts at 0
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.chunkAssignments(df, "doc_id", "text", "source", budget = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 4L, 0L, 0L), (2L, 3L, 4L, 0L), (3L, 5L, 7L, 1L), (4L, 2L, 0L, 0L)))
  }

  test("containment flags a small doc inside a big one that jaccard misses") {
    import graft.operators.Dedup
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 120).map(i => s"filler$i word$i").mkString(" ")
    val docs = Seq(
      (1L, small),
      (2L, small + " " + filler), // contains ALL of doc 1 + much more
      (3L, "completely unrelated content about engines")
    ).toDF("doc_id", "text")
    // verify stage directly (candidate pairs supplied): containment sees the
    // subset relation at 1.0 while jaccard on the same pair is far below 0.5
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val sh = docs.select(col("doc_id"),
      Dedup.shinglesFromTokens(
        graft.operators.TextAnalysis.tokens(col("text")), 3, distinct = true).as("t"))
    val joined = pairs
      .join(sh.select(col("doc_id").as("id_a"), col("t").as("ta")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("t").as("tb")), "id_b")
    val inter = size(array_intersect(col("ta"), col("tb"))).cast("double")
    val scored = joined.select(col("id_a"), col("id_b"),
        (inter / least(size(col("ta")), size(col("tb"))).cast("double")).as("cont"),
        (inter / (size(col("ta")) + size(col("tb")) - inter).cast("double")).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val (cont12, jac12) = scored((1L, 2L))
    assert(cont12 > 0.9, s"subset pair containment $cont12 should be ~1")
    assert(jac12 < 0.2, s"subset pair jaccard $jac12 should be small")
    assert(scored((1L, 3L))._1 < 0.2)
  }

  test("prefix-filter containment finds a small-in-big pair that jaccard banding misses") {
    import graft.operators.Dedup
    // doc 1's shingles are a strict subset of doc 2's (containment = 1.0),
    // but jaccard ≈ 10/250 ≈ 0.04 — far below the 16-hash/8-band S-curve
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val filler = (1 to 120).map(i => s"filler$i word$i").mkString(" ")
    val docs = Seq(
      (1L, small),
      (2L, small + " " + filler),
      (3L, "completely unrelated content about spark engines and planning")
    ).toDF("doc_id", "text")
    // the q_containment-r7 banding config provably yields ZERO candidates
    // for the planted pair: the md5-portable signatures (seed-42 affine
    // params, deterministic) collide in no band
    val (bandCands, _) = Dedup.minhashCandidatesWithSigs(
      docs, "doc_id", "text", numHashes = 16, bands = 8, shingleSize = 3,
      portable = true)
    val banded = bandCands.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!banded.contains((1L, 2L)),
      "planted pair unexpectedly collided in a band — pick a smaller jaccard fixture")
    // the prefix-filter operator finds it end-to-end with containment 1.0
    val pairs = Dedup.ngramContainmentPrefix(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)),
      s"prefix filter missed the planted small-in-big pair; found ${pairs.keySet}")
    assert(pairs((1L, 2L)) == 1.0, s"containment should be exactly 1.0, got ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair with anything")
  }

  test("containment freq cap drops boilerplate-only pairs, keeps true-witness pairs") {
    import graft.operators.Dedup
    // boiler: one identical sentence in EVERY doc (doc freq = corpus size).
    // Docs 100/101 are near-identical beyond the boilerplate (rare
    // witnesses); docs 1..20 share ONLY the boilerplate with each other.
    val boiler = "all rights reserved contact us terms of service apply here today"
    val unique = (1 to 20).map(i =>
      (i.toLong, s"$boiler document body $i talks about topic${i}a topic${i}b topic${i}c"))
    val twins = Seq(
      (100L, s"$boiler rare alpha beta gamma delta epsilon zeta eta theta"),
      (101L, s"$boiler rare alpha beta gamma delta epsilon zeta eta thetaX"))
    val docs = (unique ++ twins).toDF("doc_id", "text")
    def run(cap: Long) =
      Dedup.ngramContainmentPrefix(docs, "doc_id", "text", threshold = 0.5,
          maxShingleDocFreq = cap)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = run(Long.MaxValue)
    // uncapped finds the twins AND the boilerplate-induced 1..20 pairs
    // (every doc shares the 8-token boilerplate run; with short bodies the
    // boilerplate dominates min-side shingle sets past the 0.5 threshold)
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.exists(p => p._1 <= 20 && p._2 <= 20),
      s"fixture should produce boilerplate-only pairs uncapped, got $uncapped")
    // cap below the boilerplate doc-freq (22) but above the twin-witness
    // freq (2): boilerplate-only pairs vanish, the true pair survives with
    // identical emission
    val capped = run(10)
    assert(capped.contains((100L, 101L)), s"capped run lost the true pair: $capped")
    assert(!capped.exists(p => p._1 <= 20 && p._2 <= 20),
      s"cap failed to drop boilerplate-only pairs: $capped")
  }

  test("containment candidate-mass guard: over-budget fails fast and loud, in-budget is a no-op") {
    import graft.operators.Dedup
    // shared boilerplate across all 30 docs → Σ f² over the shared vocab is
    // in the hundreds; a budget of 100 must trip BEFORE any pair verifies
    val boiler = "every document carries this exact same template sentence today"
    val docs = (1 to 30).map(i =>
      (i.toLong, s"$boiler body $i item${i}a item${i}b")).toDF("doc_id", "text")
    val e = intercept[Exception](
      Dedup.ngramContainmentPrefix(docs, "doc_id", "text", threshold = 0.5,
        maxCandidateMass = 100L).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("candidate-mass") &&
      m.contains("maxShingleDocFreq")),
      s"expected the actionable mass-guard error, got: ${msgs(e)}")
    // the guard rides the plan (broadcast 1-row bound frame) — visible in
    // the audit, and a NO-OP under the default budget: identical pairs
    val guarded = Dedup.ngramContainmentPrefix(docs, "doc_id", "text", 0.5)
    assert(guarded.queryExecution.analyzed.toString.contains("__mass_ok"),
      "mass guard missing from the containment plan")
    val unbounded = Dedup.ngramContainmentPrefix(docs, "doc_id", "text", 0.5,
        maxCandidateMass = Long.MaxValue)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = guarded.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == unbounded, s"default-budget guard changed results: $got vs $unbounded")
  }

  test("CDC chunking: partition law, bounds, dedup at sub-blob granularity, shift resistance") {
    import graft.operators.Dedup
    // deterministic pseudo-random bytes (fixed recurrence, not Random)
    def mkBytes(n: Int, seed: Long): Array[Byte] = {
      var x = seed
      Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte }
    }
    val base = mkBytes(4000, 7L)
    val shifted = Array[Byte](99) ++ base // 1-byte insertion at the front
    val docs = Seq(
      (1L, base), (2L, base),             // exact dup pair
      (3L, shifted),                      // shifted near-dup
      (4L, Array.fill[Byte](1000)(0)),    // pathological run: maxLen forcing
      (5L, Array.emptyByteArray))         // empty: no rows
      .toDF("doc_id", "blob")
    val chunks = Dedup.cdcChunks(docs, "doc_id", "blob").collect()
      .groupBy(_.doc_id).map { case (k, v) => k -> v.sortBy(_.chunk_no) }
    // chunks PARTITION the blob: contiguous offsets, lengths sum to size,
    // every length within [minLen, maxLen] except a possibly-short tail
    for ((id, n) <- Seq(1L -> 4000, 3L -> 4001, 4L -> 1000)) {
      val cs = chunks(id)
      assert(cs.map(_.chunk_len).sum == n.toLong, s"doc $id length law")
      cs.sliding(2).foreach { case Array(a, b) =>
        assert(a.offset + a.chunk_len == b.offset, s"doc $id contiguity")
      case _ => }
      assert(cs.init.forall(c => c.chunk_len >= 32 && c.chunk_len <= 256),
        s"doc $id interior bounds: ${cs.map(_.chunk_len).mkString(",")}")
      assert(cs.last.chunk_len <= 256)
    }
    assert(!chunks.contains(5L), "empty blob must emit no rows")
    // the all-zero run never hits the mask naturally -> every cut is the
    // maxLen forcing, and all chunks hash identically (ONE stored chunk)
    assert(chunks(4L).init.forall(_.chunk_len == 256))
    assert(chunks(4L).init.map(_.chunk_hash).distinct.length == 1)
    // exact dup: identical chunk-hash sequences
    assert(chunks(1L).map(c => (c.chunk_no, c.chunk_hash)).toSeq ==
      chunks(2L).map(c => (c.chunk_no, c.chunk_hash)).toSeq)
    // SHIFT RESISTANCE (the reason CDC exists): after a 1-byte front
    // insertion the boundaries resynchronize and the suffix chunks hash
    // identically — a fixed-width chunker would share ~nothing
    val h1 = chunks(1L).map(_.chunk_hash).toSeq
    val h3 = chunks(3L).map(_.chunk_hash).toSeq
    val commonSuffix = h1.reverse.zip(h3.reverse).takeWhile(t => t._1 == t._2).length
    assert(commonSuffix >= h1.length - 2,
      s"expected resync within ~1 chunk: suffix $commonSuffix of ${h1.length}")
    // the dedup report sees the sharing: distinct bytes well under total
    val stats = Dedup.cdcDedupStats(Dedup.cdcChunks(docs, "doc_id", "blob"))
      .collect().head
    val (tot, dist) = (stats.getAs[Long]("total_bytes"),
      stats.getAs[Long]("distinct_bytes"))
    assert(tot == 4000L + 4000L + 4001L + 1000L, s"total $tot")
    assert(dist < 4000L + 300L + 300L, s"dedup saw no sharing: $dist of $tot")
  }

  test("CDC chunk store: admission report, keep-first in batch, append, re-probe all-dup") {
    import graft.operators.Dedup
    def mkBytes(n: Int, seed: Long): Array[Byte] = {
      var x = seed
      Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte }
    }
    val a = mkBytes(3000, 1L)
    val b = mkBytes(3000, 2L)
    val store = "graft_cdc_test_store"
    spark.sql(s"DROP TABLE IF EXISTS ${store}_chunks")
    try {
      Dedup.writeChunkStore(Dedup.cdcChunks(
        Seq((1L, a)).toDF("doc_id", "blob"), "doc_id", "blob"), store,
        nBuckets = 2)
      // batch: a 1-byte-edited replica of the stored blob (mostly dup
      // bytes), a fresh blob (all new), and that fresh blob AGAIN under a
      // higher id (keep-first: second copy is all-dup within the batch)
      val batch = Seq(
        (10L, Array[Byte](42) ++ a), (11L, b), (12L, b))
        .toDF("doc_id", "blob")
      val r = Dedup.cdcDedupAgainst(batch, "doc_id", "blob", store,
          updateStore = true)
        .collect().map(x => x.getLong(0) ->
          (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
      val (tot10, new10, dup10) = r(10L)
      assert(tot10 == 3001L && new10 + dup10 == tot10)
      assert(dup10 > tot10 * 8 / 10,
        s"shift resistance should keep most bytes stored: $r")
      assert(r(11L) == ((3000L, 3000L, 0L)), s"fresh blob all new: ${r(11L)}")
      assert(r(12L) == ((3000L, 0L, 3000L)),
        s"in-batch second copy all dup (keep-first): ${r(12L)}")
      // after the append, re-probing the same batch holds every byte
      val again = Dedup.cdcDedupAgainst(batch, "doc_id", "blob", store,
          updateStore = false)
        .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
      assert(again.values.forall(_ == 0L), s"re-probe saw new bytes: $again")
      // tagged batch: exactly-once under replay — the appendPqStore
      // contract carried to the chunk store. The replayed call excludes
      // its own __batch rows from the probe (same report as the first
      // run, NOT all-dup) and skips the double-append.
      val c = mkBytes(2000, 3L)
      val tagged = Seq((20L, c)).toDF("doc_id", "blob")
      def runTagged() = Dedup.cdcDedupAgainst(tagged, "doc_id", "blob",
          store, updateStore = true, batchId = 7L)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
          x.getLong(3), x.getLong(4))).toSeq.sorted
      val first = runTagged()
      assert(first.head._4 == 2000L, s"tagged fresh blob all new: $first")
      val nRows = spark.table(s"${store}_chunks").count()
      val replay = runTagged()
      assert(replay == first,
        s"replayed tagged batch changed its report: $first vs $replay")
      assert(spark.table(s"${store}_chunks").count() == nRows,
        "replayed tagged batch double-appended chunk rows")
      // duplicate store hashes (e.g. legacy untagged concurrent appends)
      // cannot multiply probed rows: force duplicates in, then check the
      // report still counts each batch chunk once (store-side distinct)
      spark.sql(s"INSERT INTO ${store}_chunks SELECT chunk_hash, " +
        s"chunk_len, CAST(99 AS BIGINT) FROM ${store}_chunks " +
        "WHERE __batch = 7")
      val r20 = Dedup.cdcDedupAgainst(tagged, "doc_id", "blob", store,
          updateStore = false)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      val nChunks20 = first.head._2
      assert(r20(20L) == nChunks20,
        s"probe multiplied chunk rows: ${r20(20L)} vs $nChunks20")
    } finally spark.sql(s"DROP TABLE IF EXISTS ${store}_chunks")
  }

  test("SQL kernels: graft_minhash_tokens / graft_simhash_tokens match operators") {
    import graft.operators.{Dedup, TextAnalysis}
    GraftExtensions.register(spark)
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "a different doc"))
      .toDF("doc_id", "text")
    val toks = TextAnalysis.tokens(TextAnalysis.normalized(col("text")))
    val viaSql = docs.select(col("doc_id"),
        call_function("graft_minhash_tokens", toks, lit(3), lit(16)).as("sig"),
        call_function("graft_simhash_tokens", toks).as("sh"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val opSigs = Dedup.minhashSigs(docs, "doc_id", "text", 16, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val opSims = Dedup.simhashSigs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaSql.foreach { case (id, (sig, sh)) =>
      assert(sig == opSigs(id) && sh == opSims(id))
    }
  }

  test("redactPii is idempotent and leaves no matchable pattern behind") {
    import graft.operators.TextAnalysis
    val df = Seq(
      "nested bob@x.org text", "u: https://a.b/c?d=e end",
      "both a@b.co and http://x.y", "clean").toDF("text")
    val once = df.select(TextAnalysis.redactPii(col("text")).as("text"))
    // no residual matches after one pass...
    val residual = once.select(
      (TextAnalysis.piiCounts(col("text"))._1 +
        TextAnalysis.piiCounts(col("text"))._2).as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(residual == 0L)
    // ...so a second pass is the identity
    val twice = once.select(TextAnalysis.redactPii(col("text")).as("text"))
    assert(once.collect().toSeq == twice.collect().toSeq)
  }

  test("chunkAssignments: offsets are monotone and gapless per group") {
    import graft.operators.TextAnalysis
    val docs = (1L to 200L).map(i =>
      (i, Seq.fill((i % 7 + 1).toInt)("tok").mkString(" "), s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.chunkAssignments(docs, "doc_id", "text", "source", 32)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    out.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      var expected = 0L
      sorted.foreach { case (_, _, n, off) =>
        assert(off == expected, s"offset gap: $sorted")
        expected += n
      }
    }
  }

  test("decontaminate: benchmark copies and quotes are flagged, clean docs survive") {
    import graft.operators.Dedup
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bid", "btext")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),       // exact eval item
      (2L, "he said the quick brown fox jumps over it and left"), // partial quote
      (3L, "completely unrelated prose about spark query planning")
    ).toDF("doc_id", "text")
    val scores = Dedup.contaminationScores(corpus, "doc_id", "text", bench, "btext")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1L) == 1.0, s"exact copy must score 1.0, got ${scores(1L)}")
    assert(scores(2L) > 0.0 && scores(2L) < 0.8,
      s"partial quote should score in (0, 0.8), got ${scores(2L)}")
    assert(scores(3L) == 0.0, s"clean doc must score 0.0, got ${scores(3L)}")
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", bench, "btext",
        maxContamination = 0.8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
    // the benchmark side must broadcast — the corpus is never shuffled
    val plan = Dedup.contaminationScores(corpus, "doc_id", "text", bench, "btext")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop") ||
      plan.contains("broadcast"), s"benchmark set not broadcast:\n$plan")
  }

  test("decontaminate keeps exactly the rows contaminationScores scores < max") {
    val corpus = Seq[(Long, String)](
      (1L, null),                                             // NULL text
      (2L, "!!! ... ???"),                                    // punctuation only
      (3L, "quick brown"),                                    // shorter than ngram
      (4L, "the quick brown fox jumps over the lazy dog"),    // verbatim bench copy
      (5L, "he said the quick brown fox jumps over it and left"),
      (6L, "fox jumps over fox jumps over fox jumps over"),   // repeated shingles
      (7L, "completely unrelated prose about spark query planning"),
      (8L, "")
    ).toDF("doc_id", "text")
    val clean = Seq("the quick brown fox jumps over the lazy dog", "quick brown")
    // a NULL or empty bench row contributes the "" shingle NULL and
    // punctuation-only docs consist of
    val benches = Seq(clean, clean :+ null, clean :+ "")
      .map(_.map(Option(_)).toDF("btext"))
    def kept(bench: org.apache.spark.sql.DataFrame, max: Double) =
      Dedup.decontaminate(corpus, "doc_id", "text", bench, "btext",
          maxContamination = max)
        .select("doc_id").as[Long].collect().sorted.toSeq
    for (bench <- benches) {
      val scores = Dedup.contaminationScores(corpus, "doc_id", "text", bench, "btext")
        .select("doc_id", "contamination").as[(Long, Double)].collect()
      for (max <- Seq(0.0, 0.3, 0.5, 0.8, 1.0)) {
        val expected = scores.filter(_._2 < max).map(_._1).sorted.toSeq
        assert(kept(bench, max) == expected, s"max=$max bench=${bench.collect().toSeq}")
      }
    }
    // the kernel's interpreted path agrees with its generated code
    val key = "spark.sql.codegen.wholeStage"
    val codegen = kept(benches(1), 0.5)
    spark.conf.set(key, "false")
    try assert(kept(benches(1), 0.5) == codegen)
    finally spark.conf.unset(key)
  }

  test("exactDecontaminate: verbatim ≥N-token run caught, N−1 near-miss passes") {
    import graft.operators.Dedup
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("bid", "btext") // exactly 8 tokens — one window
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim item
      // the case the Jaccard decontaminate MISSES: a verbatim 8-token quote
      // buried in a long original (diluted far below any Jaccard threshold)
      (2L, "intro words then alpha beta gamma delta epsilon zeta eta theta" +
        " followed by a very long completely original tail that keeps the" +
        " pooled shingle overlap ratio tiny for this document overall"),
      // 7 shared tokens then divergence: NO shared 8-window — must pass
      (3L, "alpha beta gamma delta epsilon zeta eta iota different ending"),
      (4L, "alpha beta gamma"), // shorter than minRun: can't contain a run
      (5L, "completely unrelated prose about spark query planning")
    ).toDF("doc_id", "text")
    val kept = Dedup.exactDecontaminate(corpus, "doc_id", "text",
        bench, "btext", minRun = 8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L, 5L), s"kept: ${kept.toSeq}")
    // the gap this closes: the pooled-Jaccard score of the buried quote is
    // diluted under 0.8, so q_decontaminate-style filtering would KEEP doc 2
    val jaccardKept = Dedup.decontaminate(corpus, "doc_id", "text",
        bench, "btext", maxContamination = 0.8, ngram = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(jaccardKept.contains(2L),
      "fixture should demonstrate the dilution gap (doc 2 survives Jaccard)")
    // scale shape: the benchmark window set must broadcast
    val plan = Dedup.exactDecontaminate(corpus, "doc_id", "text",
      bench, "btext", minRun = 8).queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"bench windows not broadcast:\n$plan")
  }

  test("hashedQualityScore: deterministic, partitioning-independent, keep ≡ logit ≥ t") {
    val model = TextAnalysis.syntheticQualityModel()
    assert(model.length == 256 && model == TextAnalysis.syntheticQualityModel())
    val docs = (1L to 60L).map(i =>
      (i, (1 to 20).map(j => s"tok${(i * 7 + j) % 41}").mkString(" ")))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.hashedQualityScore(df, "doc_id", "text", model)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getBoolean(3))))
        .toMap
    val a = run(docs)
    val b = run(docs.repartition(7)) // content-derived: layout must not matter
    assert(a == b)
    assert(a.size == 60)
    a.values.foreach { case (n, logit, keep) =>
      assert(n == 20L)
      assert(keep == (logit >= 0.0))
      assert(logit.abs <= 1.0) // mean of ±1.0-micro weights
    }
    // the model discriminates: not all docs land on one side
    assert(a.values.exists(_._3) && a.values.exists(!_._3))
  }

  test("spanOverlapPairs: longest run exact, islands summed, sub-minRun pair absent") {
    def filler(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val run12 = (1 to 12).map(i => s"shared$i").mkString(" ")
    val run8 = (1 to 8).map(i => s"eight$i").mkString(" ")
    val run7 = (1 to 7).map(i => s"seven$i").mkString(" ")
    val docs = Seq(
      // docs 1,2 share a 12-token run AND a separate 8-token run at
      // different offsets (two diagonals); docs 3,4 share only a 7-token
      // run — below minRun, must be absent
      (1L, s"${filler("a", 30)} $run12 ${filler("b", 30)} $run8 ${filler("c", 10)}"),
      (2L, s"${filler("d", 20)} $run12 ${filler("e", 40)} $run8 ${filler("f", 5)}"),
      (3L, s"${filler("g", 25)} $run7 ${filler("h", 25)}"),
      (4L, s"${filler("i", 25)} $run7 ${filler("j", 25)}")
    ).toDF("doc_id", "text")
    val pairs = Dedup.spanOverlapPairs(docs, "doc_id", "text", minRun = 8)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(pairs.keySet == Set((1L, 2L)), s"expected only (1,2), got $pairs")
    // longest shared run is the planted 12; windows: 12-8+1=5 on the run12
    // diagonal + exactly 1 on the run8 diagonal
    assert(pairs((1L, 2L)) == ((12L, 6L)), s"got ${pairs((1L, 2L))}")
    // the same pair's set-level jaccard is diluted far below any useful
    // near-dup threshold — the regime this operator exists for
    val jac = Dedup.ngramJaccardLsh(docs, "doc_id", "text",
      threshold = 0.5, portable = true).count()
    assert(jac == 0, "jaccard near-dup should miss the span-sharing pair")
  }

  test("spanOverlapPairs property: matches token-level brute force on a random corpus") {
    // small alphabet forces organic shared runs; seeded for reproducibility
    val rnd = new scala.util.Random(20260812L)
    val k = 3
    val corpus = (1L to 14L).map { i =>
      (i, Seq.fill(20 + rnd.nextInt(12))(s"s${rnd.nextInt(6)}"))
    }
    // brute force: every (pa, pb) window-equality match; longest shared run
    // per pair via diagonal scan over exact token equality
    def windows(t: Seq[String]) = t.sliding(k).map(_.mkString(" ")).toVector
    val brute = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      wa = windows(ta); wb = windows(tb)
      matches = for {
        pa <- wa.indices; pb <- wb.indices if wa(pa) == wb(pb)
      } yield (pa, pb)
      if matches.nonEmpty
    } yield {
      val runs = matches.groupBy { case (pa, pb) => pa - pb }.values.flatMap { diag =>
        val ps = diag.map(_._1).sorted
        // islands of consecutive pa within one diagonal
        ps.foldLeft(List.empty[(Int, Int)]) { case (acc, p) =>
          acc match {
            case (st, en) :: rest if p == en + 1 => (st, p) :: rest
            case _ => (p, p) :: acc
          }
        }.map { case (st, en) => en - st + 1 + k - 1 }
      }
      ((ia, ib), (runs.max.toLong, matches.size.toLong))
    }).toMap
    val docs = corpus.map { case (i, t) => (i, t.mkString(" ")) }.toDF("doc_id", "text")
    val got = Dedup.spanOverlapPairs(docs, "doc_id", "text", minRun = k)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == brute,
      s"mismatch: only-got ${(got.toSet -- brute.toSet).take(3)}, " +
        s"only-brute ${(brute.toSet -- got.toSet).take(3)} " +
        s"(${got.size} vs ${brute.size} pairs)")
    assert(brute.nonEmpty, "seeded corpus should produce shared runs")
  }

  test("spanDedup keeps the first doc, drops later substring-duplicated docs") {
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, base),                                    // original
      (2L, s"pre1 pre2 $base post1"),                // contains the original
      (3L, (1 to 40).map(i => s"u$i").mkString(" ")) // clean
    ).toDF("doc_id", "text")
    val kept = Dedup.spanDedup(docs, "doc_id", "text", minRun = 8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("spanExcise cuts planted 12/8-token runs from later docs, keeps 7-token runs, is idempotent") {
    val r12 = (1 to 12).map(i => s"dup$i").mkString(" ")
    val r8 = (1 to 8).map(i => s"oct$i").mkString(" ")
    val r7 = (1 to 7).map(i => s"sep$i").mkString(" ")
    def filler(p: String, n: Int) = (1 to n).map(j => s"$p$j").mkString(" ")
    val docs = Seq(
      // doc 1 (earliest) carries all three runs and KEEPS its text
      (1L, s"${filler("a", 4)} $r12 $r8 $r7 ${filler("b", 3)}"),
      // doc 2 shares the 12-token run: exactly those 12 tokens cut,
      // prefix + suffix reassembled in order
      (2L, s"${filler("c", 5)} $r12 ${filler("d", 5)}"),
      // doc 3 IS the 8-token run: fully excised -> EMPTY-text row kept
      (3L, r8),
      // doc 4 shares only the 7-token run (< minRun=8): untouched
      (4L, s"${filler("e", 5)} $r7 ${filler("f", 5)}")
    ).toDF("doc_id", "text")
    val once = Dedup.spanExcise(docs, "doc_id", "text", minRun = 8)
    val got = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == s"${filler("a", 4)} $r12 $r8 $r7 ${filler("b", 3)}")
    assert(got(2L) == s"${filler("c", 5)} ${filler("d", 5)}",
      s"12-run not cut cleanly: '${got(2L)}'")
    assert(got(3L) == "", s"fully-excised doc must keep an empty row: '${got(3L)}'")
    assert(got(4L) == s"${filler("e", 5)} $r7 ${filler("f", 5)}")
    // idempotence: excising the excised corpus changes nothing (the
    // reassembled texts re-tokenize to themselves; no new >=8 shared runs)
    val twice = Dedup.spanExcise(once, "doc_id", "text", minRun = 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice == got, s"not idempotent: ${twice.toSet -- got.toSet}")
  }

  test("span dedup maxWindowDocFreq drops planted boilerplate, keeps genuine runs") {
    // 60 docs all ending in the SAME template 8-gram (footer boilerplate);
    // docs 1,2 additionally share a RARE 10-token run (genuine duplication).
    // Unique per-doc filler prefixes (w{i}x…) guarantee no accidental runs.
    def filler(p: String, n: Int) = (1 to n).map(j => s"$p$j").mkString(" ")
    val boiler = (1 to 8).map(i => s"footer$i").mkString(" ")
    val rare = (1 to 10).map(i => s"dup$i").mkString(" ")
    val docs = (1L to 60L).map { i =>
      val body =
        if (i <= 2) s"${filler(s"u${i}x", 15)} $rare ${filler(s"v${i}x", 10)}"
        else filler(s"w${i}x", 25)
      (i, s"$body $boiler")
    }.toDF("doc_id", "text")
    // uncapped (default 1000 ≫ 60): the boilerplate window pairs EVERY doc
    // with every other — the O(N²) fan-out the cap exists to prevent
    val uncapped = Dedup.spanOverlapPairs(docs, "doc_id", "text", minRun = 8)
      .count()
    assert(uncapped == 60L * 59 / 2, s"got $uncapped")
    // capped below the boilerplate doc-freq (60): the template window is
    // dropped from candidate generation, so candidates collapse from
    // O(N²) to the one genuine pair — O(N·cap) by construction
    val capped = Dedup.spanOverlapPairs(docs, "doc_id", "text", minRun = 8,
        maxWindowDocFreq = 10)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(capped.keySet == Set((1L, 2L)), s"got $capped")
    assert(capped((1L, 2L)) == 10L) // the planted rare run, exact length
    // spanDedup under the cap: only the genuine later duplicate is dropped;
    // the 58 boilerplate-only docs all survive
    val kept = Dedup.spanDedup(docs, "doc_id", "text", minRun = 8,
        maxWindowDocFreq = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == (1L to 60L).toSet - 2L)
  }

  test("spanDedup drops exactly the id_b side of spanOverlapPairs") {
    // a 12-word vocabulary makes many 4-token windows shared; ids repeat
    // (rows 30..39 reuse ids 0..9) and one 4-token boilerplate run sits in
    // every third doc, so caps 2 and 3 sit below its doc frequency
    val rnd = new scala.util.Random(5)
    val boiler = "hdr one two three"
    val docs = (0 until 40).map { i =>
      val body = Seq.fill(3 + rnd.nextInt(12))(s"v${rnd.nextInt(12)}").mkString(" ")
      ((i % 30).toLong, if (i % 3 == 0) s"$boiler $body" else body)
    }.toDF("doc_id", "text")
    for (cap <- Seq(2, 3, 1000)) {
      val flagged = Dedup.spanOverlapPairs(docs, "doc_id", "text", minRun = 4,
          maxWindowDocFreq = cap)
        .select("id_b").as[Long].collect().toSet
      val expected = docs.collect().map(_.getLong(0)).filterNot(flagged).sorted.toSeq
      val kept = Dedup.spanDedup(docs, "doc_id", "text", minRun = 4,
          maxWindowDocFreq = cap)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == expected, s"cap=$cap")
      assert(flagged.nonEmpty && kept.nonEmpty, s"cap=$cap: degenerate fixture")
    }
  }

  test("xxhash64 dedup survivors track their md5-portable oracle twins") {
    // q_minhash_dedup / q_simhash_dedup are rows-only in CORRECTNESS (seeded
    // xxhash64 is not expressible in DuckDB) — bound them here instead, like
    // the HLL test below: switching the hash base changes WHICH individual
    // bucket collisions occur, not the aggregate dedup behavior, so the
    // xxhash64 survivor set must differ from the oracle-exact md5-portable
    // twin's by at most a few percent of the corpus.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val n = docs.count().toDouble
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    // same parameterizations as the registered queries
    val mh = ids(Dedup.minhashDedup(docs, "doc_id", "text", 0.5,
      numHashes = 32, bands = 8))
    val mhP = ids(Dedup.minhashDedupPortable(docs, "doc_id", "text", 0.5))
    val mhDelta = ((mh diff mhP) ++ (mhP diff mh)).size
    assert(mhDelta <= 0.05 * n,
      s"minhash survivor sets diverge by $mhDelta of $n docs " +
        s"(xxhash64 ${mh.size}, portable ${mhP.size})")
    val sh = ids(Dedup.simhashDedup(docs, "doc_id", "text"))
    val shP = ids(Dedup.simhashDedup(docs, "doc_id", "text", portable = true))
    val shDelta = ((sh diff shP) ++ (shP diff sh)).size
    assert(shDelta <= 0.05 * n,
      s"simhash survivor sets diverge by $shDelta of $n docs " +
        s"(xxhash64 ${sh.size}, portable ${shP.size})")
  }

  test("approx_count_distinct (q_approx_distinct) is within the HLL rsd bound of exact") {
    // q_approx_distinct (raw-estimate regime) is oracle-exact since round 10
    // via the Spark-independent HLL++ recompute; this test pins the BIAS
    // regime instead — l_partkey's 2000 distinct at sf0.01 sits below 5m =
    // 2560, exercising the bias-interpolation branch the independent
    // estimator deliberately refuses (hllRawEstimate → None). Default
    // rsd = 0.05, assert |estimate − exact| ≤ 3·rsd·exact (the sketch is
    // deterministic for a fixed column, so this cannot flake).
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val li = spark.read.parquet(s"/root/testdata/$sf/lineitem.parquet")
      val est = li.agg(approx_count_distinct(col("l_partkey")).as("n"))
        .head().getLong(0)
      val exact = li.agg(countDistinct(col("l_partkey")).as("n"))
        .head().getLong(0)
      val rtol = 3 * 0.05
      assert(math.abs(est - exact) <= rtol * exact,
        s"$sf: HLL estimate $est outside ±${rtol * 100}% of exact $exact")
    }
  }

  test("curate: every stage only shrinks the set; survivors pass every gate") {
    import graft.operators.{Curation, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = Curation.curate(docs, "doc_id", "text",
      lang = "en", minQuality = 0.6, nearDupThreshold = 0.5, sampleFraction = 0.5)
    val n = docs.count()
    val survivors = out.count()
    assert(survivors > 0 && survivors < n)
    // survivors all satisfy both gates (the filters really composed)
    val violating = out.filter(
      TextAnalysis.langId(col("text")) =!= "en" ||
        TextAnalysis.qualityScore(col("text")) < 0.6).count()
    assert(violating == 0)
    // deterministic: a rerun (and a repartitioned rerun) yields the same set
    val ids = out.select("doc_id").as[Long].collect().sorted.toSeq
    val again = Curation.curate(docs.repartition(5), "doc_id", "text",
        lang = "en", minQuality = 0.6, nearDupThreshold = 0.5, sampleFraction = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == again)
  }

  test("labelCentroids: hand-computed means, invariant under repartitioning") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), "x"),
      (2L, Seq(3.0f, 6.0f), "x"),
      (3L, Seq(10.0f, 20.0f), "y")
    ).toDF("vec_id", "embedding", "label")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.labelCentroids(d, "label", "embedding")
        .orderBy("label", "pos").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    val base = run(df)
    assert(base == Seq(("x", 0, 2.0), ("x", 1, 4.0), ("y", 0, 10.0), ("y", 1, 20.0)))
    // integer-micros fixing makes the mean order-independent: any partition
    // layout must produce bit-identical centroids
    assert(run(df.repartition(7)) == base)
  }
}

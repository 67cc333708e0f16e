package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.Sources

/** Bucketed writes co-locate join keys: a join of two tables bucketed the
  * same way on the join key plans WITHOUT a shuffle exchange — the
  * pre-partitioned buckets satisfy the join's distribution requirement.
  * This is the offline-prep path for repeated fact-fact joins at 100 TB. */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("same-bucketed join has no shuffle; unbucketed join does") {
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    Sources.writeBucketed(a, "graft_bkt_a", "k", 4)
    Sources.writeBucketed(b, "graft_bkt_b", "k", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val joined = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
      joined.collect() // finalize the adaptive plan
      val bucketedPlan = joined.queryExecution.executedPlan.toString
      assert(!bucketedPlan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$bucketedPlan")

      val plain = a.join(b, "k")
      plain.collect()
      val plainPlan = plain.queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange hashpartitioning"),
        s"control join unexpectedly shuffle-free:\n$plainPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  private def mkText(i: Int, p: String): String =
    (1 to 30).map(j => s"$p${i}t$j").mkString(" ")

  private def dropStore(store: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${store}_sigs")
    spark.sql(s"DROP TABLE IF EXISTS ${store}_bands")
  }

  test("minhashDedupAgainst drops store dups, keeps fresh docs, grows the store") {
    import spark.implicits._
    val existing = (1L to 40L).map(i => (i, mkText(i.toInt, "e")))
      .toDF("doc_id", "text")
    // new batch: 41..50 fresh, 51..55 exact copies of stored docs 1..5
    val newBatch = ((41L to 50L).map(i => (i, mkText(i.toInt, "n"))) ++
      (51L to 55L).map(i => (i, mkText((i - 50).toInt, "e"))))
      .toDF("doc_id", "text")
    try {
      Dedup.writeMinhashStore(
        Dedup.minhashSigs(existing, "doc_id", "text", numHashes = 32),
        "doc_id", "graft_incr_test", bands = 8, numHashes = 32, nBuckets = 4)
      val survivors = Dedup.minhashDedupAgainst(newBatch, "doc_id", "text",
          "graft_incr_test", threshold = 0.8, numHashes = 32, bands = 8,
          updateStore = true)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(survivors == (41L to 50L))
      // the survivors' signatures were APPENDED: a third batch duplicating a
      // batch-2 survivor (not a seed doc) is now dropped against the store
      val third = Seq((60L, mkText(41, "n")), (61L, mkText(61, "x")))
        .toDF("doc_id", "text")
      val kept3 = Dedup.minhashDedupAgainst(third, "doc_id", "text",
          "graft_incr_test", threshold = 0.8, numHashes = 32, bands = 8,
          updateStore = false)
        .select("doc_id").as[Long].collect().toSeq
      assert(kept3 == Seq(61L))
      // store tables grew by exactly the 10 batch-2 survivors
      assert(spark.table("graft_incr_test_sigs").count() == 50L)
    } finally dropStore("graft_incr_test")
  }

  test("exactDedupAgainst drops stored content, appends survivors' fingerprints") {
    import spark.implicits._
    val existing = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    // 4 is a normalized copy of stored doc 1 (case/punct differences only)
    val newBatch = Seq((3L, "eta theta iota"), (4L, "Alpha,  BETA gamma!"),
      (5L, "kappa lambda mu")).toDF("doc_id", "text")
    try {
      Dedup.writeFingerprintStore(existing, "text", "graft_fp_test",
        nBuckets = 2)
      val kept = Dedup.exactDedupAgainst(newBatch, "text", "graft_fp_test",
          updateStore = true)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(3L, 5L))
      // a third batch duplicating batch-2 survivor 3 drops against the
      // APPENDED fingerprints; its fresh doc passes
      val third = Seq((6L, "ETA theta iota?"), (7L, "nu xi omicron"))
        .toDF("doc_id", "text")
      val kept3 = Dedup.exactDedupAgainst(third, "text", "graft_fp_test",
          updateStore = false)
        .select("doc_id").as[Long].collect().toSeq
      assert(kept3 == Seq(7L))
      // 2 seed + 2 appended survivor fingerprints
      assert(spark.table("graft_fp_test_fps").count() == 4L)
      // bloom-prefiltered probe ≡ plain anti-join (no false negatives),
      // including against the grown store
      val plainIds = Dedup.exactDedupAgainst(third, "text", "graft_fp_test",
          updateStore = false).select("doc_id").as[Long].collect().sorted.toSeq
      val bloomIds = Dedup.exactDedupAgainstBloom(third, "text",
          "graft_fp_test", expectedItems = 64L, numBits = 1L << 12)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(bloomIds == plainIds)
      // the anti-join keys on the store's bucket column: under forced SMJ
      // only the new batch shuffles, the store reads its buckets directly
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val surv = Dedup.exactDedupAgainst(newBatch, "text", "graft_fp_test",
          updateStore = false)
        surv.collect()
        val plan = surv.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(nEx == 1, s"expected 1 exchange (new side), got $nEx:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        prevThreshold)
    } finally spark.sql("DROP TABLE IF EXISTS graft_fp_test_fps")
  }

  test("simhashDedupAgainst drops token-set near-copies the fingerprint store keeps") {
    import spark.implicits._
    val existing = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta"))
      .toDF("doc_id", "text")
    // 3: REVERSED tokens of stored doc 1 — same distinct token set (same
    // simhash), different byte sequence (different fingerprint); 4: fresh
    val newBatch = Seq((3L, "delta gamma beta alpha"), (4L, "theta iota"))
      .toDF("doc_id", "text")
    try {
      Dedup.writeSimhashStore(existing, "doc_id", "text", "graft_sh_test",
        nBuckets = 2)
      val kept = Dedup.simhashDedupAgainst(newBatch, "doc_id", "text",
          "graft_sh_test", updateStore = true)
        .select("doc_id").as[Long].collect().toSeq
      assert(kept == Seq(4L)) // the reordering is caught
      // the EXACT fingerprint store would have kept the reordered doc —
      // that is the gap this store member exists to close
      Dedup.writeFingerprintStore(existing, "text", "graft_sh_fp", nBuckets = 2)
      val fpKept = Dedup.exactDedupAgainst(newBatch, "text", "graft_sh_fp",
          updateStore = false)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(fpKept == Seq(3L, 4L))
      // survivor signature appended: a copy of doc 4 now drops
      val third = Seq((5L, "iota theta"), (6L, "kappa lambda"))
        .toDF("doc_id", "text")
      val kept3 = Dedup.simhashDedupAgainst(third, "doc_id", "text",
          "graft_sh_test", updateStore = false)
        .select("doc_id").as[Long].collect().toSeq
      assert(kept3 == Seq(6L))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_sh_test_sigs")
      spark.sql("DROP TABLE IF EXISTS graft_sh_fp_fps")
    }
  }

  test("embeddingNearDupAgainst drops near-vectors, store grows with survivors") {
    import spark.implicits._
    def unit(i: Int): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) 1.0f else 0.0f)
    val existing = Seq((2L, unit(0)), (4L, unit(1))).toDF("vec_id", "embedding")
    // 5 duplicates stored vec 2 exactly (cosine 1.0); 7 is orthogonal
    val newBatch = Seq((5L, unit(0)), (7L, unit(2))).toDF("vec_id", "embedding")
    try {
      Dedup.writeEmbeddingStore(existing, "vec_id", "embedding",
        "graft_emb_test", dim = 8, bandBits = 4, bands = 2, nBuckets = 2)
      val kept = Dedup.embeddingNearDupAgainst(newBatch, "vec_id", "embedding",
          "graft_emb_test", threshold = 0.9, dim = 8, bandBits = 4, bands = 2,
          updateStore = true)
        .select("vec_id").as[Long].collect().toSeq
      assert(kept == Seq(7L))
      // survivor 7's vector+bands were appended: its copy now drops
      val third = Seq((9L, unit(2)), (11L, unit(3))).toDF("vec_id", "embedding")
      val kept3 = Dedup.embeddingNearDupAgainst(third, "vec_id", "embedding",
          "graft_emb_test", threshold = 0.9, dim = 8, bandBits = 4, bands = 2,
          updateStore = false)
        .select("vec_id").as[Long].collect().toSeq
      assert(kept3 == Seq(11L))
      assert(spark.table("graft_emb_test_vecs").count() == 3L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_emb_test_bands")
      spark.sql("DROP TABLE IF EXISTS graft_emb_test_vecs")
    }
  }

  test("embeddingNearDupAgainst append honors a pre-fullsig 2-column store") {
    import spark.implicits._
    def unit(i: Int): Seq[Float] =
      Seq.tabulate(8)(j => if (j == i) 1.0f else 0.0f)
    val existing = Seq((2L, unit(0)), (4L, unit(1))).toDF("vec_id", "embedding")
    try {
      Dedup.writeEmbeddingStore(existing, "vec_id", "embedding",
        "graft_emb_old", dim = 8, bandBits = 4, bands = 2, nBuckets = 2)
      // simulate a store written before the fullsig column existed: rewrite
      // the vecs table with only (id, vec) — checkStoreParams documents such
      // stores as accepted, so the append path must match their schema
      val old2col = spark.table("graft_emb_old_vecs")
        .select("vec_id", "vec").collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      spark.sql("DROP TABLE graft_emb_old_vecs")
      Sources.writeBucketed(old2col.toDF("vec_id", "vec"),
        "graft_emb_old_vecs", "vec_id", 2)
      val newBatch = Seq((5L, unit(0)), (7L, unit(2))).toDF("vec_id", "embedding")
      val kept = Dedup.embeddingNearDupAgainst(newBatch, "vec_id", "embedding",
          "graft_emb_old", threshold = 0.9, dim = 8, bandBits = 4, bands = 2,
          updateStore = true) // append must NOT throw
        .select("vec_id").as[Long].collect().toSeq
      assert(kept == Seq(7L))
      // store grew by the survivor, still 2 columns (existing schema wins)
      assert(spark.table("graft_emb_old_vecs").count() == 3L)
      assert(spark.table("graft_emb_old_vecs").columns.sorted.toSeq ==
        Seq("vec", "vec_id"))
      // and the probe side still works against the upgraded-append store
      val third = Seq((9L, unit(2))).toDF("vec_id", "embedding")
      val kept3 = Dedup.embeddingNearDupAgainst(third, "vec_id", "embedding",
          "graft_emb_old", threshold = 0.9, dim = 8, bandBits = 4, bands = 2,
          updateStore = false)
        .select("vec_id").as[Long].collect().toSeq
      assert(kept3 == Seq())
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_emb_old_bands")
      spark.sql("DROP TABLE IF EXISTS graft_emb_old_vecs")
    }
  }

  test("store family property: survivors match direct membership on a random corpus") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(20260813L)
    // small vocab forces organic token-set collisions alongside the plants
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc() = Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")
    val existing = (1L to 40L).map(i => (i, doc()))
    val newRows = (41L to 80L).map { i =>
      if (rnd.nextInt(4) == 0) (i, existing(rnd.nextInt(existing.size))._2)
      else (i, doc())
    }
    val exDf = existing.toDF("doc_id", "text")
    val nwDf = newRows.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    try {
      // EXACT + BLOOM: reference = fingerprint set membership
      Dedup.writeFingerprintStore(exDf, "text", "graft_prop_fp", nBuckets = 2)
      val fpEx = exDf.select(TextAnalysis.fingerprint(col("text")))
        .as[String].collect().toSet
      val wantExact = nwDf
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")))
        .as[(Long, String)].collect()
        .collect { case (i, f) if !fpEx.contains(f) => i }.toSet
      assert(ids(Dedup.exactDedupAgainst(nwDf, "text", "graft_prop_fp",
        updateStore = false)) == wantExact)
      assert(ids(Dedup.exactDedupAgainstBloom(nwDf, "text", "graft_prop_fp",
        expectedItems = 64L, numBits = 1L << 12)) == wantExact)
      assert(wantExact.size < newRows.size) // the plants actually dropped
      // SIMHASH: reference = signature set membership
      Dedup.writeSimhashStore(exDf, "doc_id", "text", "graft_prop_sh",
        nBuckets = 2)
      val shEx = Dedup.simhashSigs(exDf, "doc_id", "text")
        .select("simhash").as[Long].collect().toSet
      val wantSh = Dedup.simhashSigs(nwDf, "doc_id", "text")
        .as[(Long, Long)].collect()
        .collect { case (i, s) if !shEx.contains(s) => i }.toSet
      assert(ids(Dedup.simhashDedupAgainst(nwDf, "doc_id", "text",
        "graft_prop_sh", updateStore = false)) == wantSh)
      assert(wantSh.subsetOf(wantExact)) // simhash reach ⊇ exact reach
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_prop_fp_fps")
      spark.sql("DROP TABLE IF EXISTS graft_prop_sh_sigs")
    }
  }

  test("incremental store candidate join never reshuffles the store side") {
    import spark.implicits._
    val existing = (1L to 200L).map(i => (i, mkText(i.toInt, "e")))
      .toDF("doc_id", "text")
    val probe = (201L to 260L).map(i => (i, mkText(i.toInt, "p")))
      .toDF("doc_id", "text")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      Dedup.writeMinhashStore(
        Dedup.minhashSigs(existing, "doc_id", "text", numHashes = 32),
        "doc_id", "graft_incr_shuf", bands = 8, numHashes = 32, nBuckets = 4)
      val newBands = Dedup.lshBands(
        Dedup.minhashSigs(probe, "doc_id", "text", numHashes = 32),
        "doc_id", "sig", bands = 8, numHashes = 32)
        .select($"doc_id".as("new_id"), $"band_hash")
      // the candidate join of minhashDedupAgainst: new bands × STORE bands
      // on the store's bucket key. At 100 TB the store is the big side —
      // only the new batch may shuffle.
      val joined = newBands
        .join(spark.table("graft_incr_shuf_bands"), "band_hash")
      joined.collect() // finalize the adaptive plan
      // AdaptiveSparkPlan.toString appends the pre-adaptive "Initial Plan"
      // section — count exchanges in the FINAL plan only
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(nExchanges == 1, // the probe side only; the store reads buckets
        s"expected exactly 1 exchange (new side), got $nExchanges:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropStore("graft_incr_shuf")
    }
  }

  test("media wide-hash store probe never reshuffles the store side") {
    import graft.operators.Multimodal
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val hashes = Multimodal.audioEnergyHashWide(
        Multimodal.encodeSyntheticWavGroups((0L to 199L).toDF("doc_id"),
          "doc_id"))
      Dedup.writeWideHashStore(hashes, "media_id", "graft_shuf_au",
        "audio_ehash", maxHamming = 6, nBuckets = 4)
      val probeSigs = Multimodal.audioEnergyHashWide(
          Multimodal.encodeSyntheticWavGroups((300L to 359L).toDF("doc_id"),
            "doc_id"))
        .select(col("media_id"), col("dh_lo").as("sim_lo"),
          col("dh_hi").as("sim_hi"))
      // the candidate join of wideHashDedupAgainst: new bands x STORE
      // bands on the store's OWN packed bucket key. At 100 TB the store
      // is the big side - only the new batch may shuffle. (A two-column
      // (band, band_bits) join on a band_bits-only bucket spec measured
      // TWO exchanges - both sides re-keyed - which is why the key is
      // packed.)
      val joined = Dedup.HammingLayout(Seq("sim_lo", "sim_hi"), 120, 6)
          .banded(probeSigs, "media_id")
        .select(col("media_id").as("new_id"),
          (col("band").cast("long") * (1L << 30) + col("band_bits"))
            .as("__bk"))
        .join(spark.table("graft_shuf_au_bands"), Seq("__bk"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(nExchanges == 1,
        s"expected exactly 1 exchange (new side), got $nExchanges:\n$plan")
      // the video store's frame-aligned probe rides the same single
      // packed key (frame in the key) - same 1-exchange contract
      val vh = Multimodal.videoDHashWide(
        Multimodal.encodeSyntheticAviGroups((0L to 99L).toDF("doc_id"),
          "doc_id"))
      Dedup.writeVideoHashStore(vh, "media_id", "graft_shuf_vi",
        maxHamming = 6, nBuckets = 4)
      val vprobe = Multimodal.videoDHashWide(
          Multimodal.encodeSyntheticAviGroups(
            (300L to 319L).toDF("doc_id"), "doc_id"))
        .select(col("media_id"), col("frame_no"),
          col("dh_lo").as("sim_lo"), col("dh_hi").as("sim_hi"))
      val vjoined = Dedup.HammingLayout(Seq("sim_lo", "sim_hi"), 120, 6)
          .banded(vprobe, "media_id", carry = Seq("frame_no"))
        .select(col("media_id").as("new_id"),
          ((col("frame_no").cast("long") * 8L + col("band")) * (1L << 30)
            + col("band_bits")).as("__bk"))
        .join(spark.table("graft_shuf_vi_bands"), Seq("__bk"))
      vjoined.collect()
      val vplan = vjoined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val vEx = "Exchange hashpartitioning".r.findAllIn(vplan).length
      assert(vEx == 1,
        s"video probe: expected exactly 1 exchange, got $vEx:\n$vplan")
      // the embedding store's packed (band, sig) key: same contract
      import graft.operators.Similarity
      def unit(i: Int): Seq[Float] =
        Seq.tabulate(8)(j => if (j == i % 8) (1.0f + i) else 0.1f * i)
      val vecs = (0 to 199).map(i => (i.toLong, unit(i)))
        .toDF("vec_id", "embedding")
      Dedup.writeEmbeddingStore(vecs, "vec_id", "embedding",
        "graft_shuf_em", dim = 8, bandBits = 4, bands = 2, nBuckets = 4)
      val eprobe = (300 to 359).map(i => (i.toLong, unit(i)))
        .toDF("vec_id", "embedding")
      val ejoined = Similarity.lshBandSignatures(eprobe, "vec_id",
          "embedding", dim = 8, bandBits = 4, bands = 2)
        .select(col("vec_id").as("new_id"),
          (col("band").cast("long") * 16L + col("sig")).as("__bs"))
        .join(spark.table("graft_shuf_em_bands"), Seq("__bs"))
      ejoined.collect()
      val eplan = ejoined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val eEx = "Exchange hashpartitioning".r.findAllIn(eplan).length
      assert(eEx == 1,
        s"embedding probe: expected exactly 1 exchange, got $eEx:\n$eplan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_shuf_au_bands")
      spark.sql("DROP TABLE IF EXISTS graft_shuf_vi_bands")
      spark.sql("DROP TABLE IF EXISTS graft_shuf_em_bands")
      spark.sql("DROP TABLE IF EXISTS graft_shuf_em_vecs")
    }
  }

  test("compactBucketed: many appended bucket files collapse to one per bucket, results and props intact") {
    import spark.implicits._
    def fps(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, mkText(i.toInt, "c"))).toDF("doc_id", "text")
    try {
      // seed + 6 appended batches: the incremental-store accretion pattern
      Dedup.writeFingerprintStore(fps(1, 40), "text", "graft_compact", nBuckets = 2)
      spark.sql("ALTER TABLE graft_compact_fps SET TBLPROPERTIES " +
        "('graft.testProp' = 'keepme')")
      (1 to 6).foreach { b =>
        Sources.writeBucketed(
          spark.range(40L * b + 1, 40L * b + 41)
            .select(graft.operators.TextAnalysis.fingerprint(
              org.apache.spark.sql.functions.concat_ws(" ",
                col("id").cast("string"), org.apache.spark.sql.functions.lit("batch"))).as("fp")),
          "graft_compact_fps", "fp", 2, org.apache.spark.sql.SaveMode.Append)
      }
      val before = spark.table("graft_compact_fps").collect().map(_.getString(0)).sorted
      def fileCount = {
        val loc = spark.sql("DESCRIBE EXTENDED graft_compact_fps").collect()
          .find(_.getString(0) == "Location").get.getString(1)
        val dir = new java.io.File(new java.net.URI(loc))
        dir.listFiles().count(f => f.getName.endsWith(".parquet"))
      }
      val filesBefore = fileCount
      assert(filesBefore > 2, s"append pattern should accrete files, got $filesBefore")
      Sources.compactBucketed(spark, "graft_compact_fps")
      // identical contents, one file per bucket, properties preserved
      val after = spark.table("graft_compact_fps").collect().map(_.getString(0)).sorted
      assert(after.toSeq == before.toSeq)
      assert(fileCount == 2, s"expected 2 files (one per bucket), got $fileCount")
      val props = spark.sql("SHOW TBLPROPERTIES graft_compact_fps").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("graft.testProp").contains("keepme"))
      // the compacted table still satisfies joins bucket-locally: the probe
      // path (exactDedupAgainst) runs unchanged against it
      val kept = Dedup.exactDedupAgainst(fps(1, 10).unionAll(fps(1000, 1009)),
        "text", "graft_compact", updateStore = false)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == (1000L to 1009L).toSet) // stored 1-10 drop, fresh keep
    } finally dropStore("graft_compact")
  }

  // ---- compaction parity across the store family (round-10 verdict #6):
  // the fingerprint store's contents-identical + file-count + probe-path
  // assertions, repeated verbatim for each remaining modality ----

  private def tableFileCount(table: String): Int = {
    val loc = spark.sql(s"DESCRIBE EXTENDED $table").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    new java.io.File(new java.net.URI(loc)).listFiles()
      .count(_.getName.endsWith(".parquet"))
  }
  private def tableSnapshot(table: String): Seq[String] =
    spark.table(table).collect().map(_.toString).sorted.toSeq

  /** append batches, assert accretion, compact every store table, assert
    * identical contents + one file per bucket + graft.* props intact. */
  private def compactionParity(tables: Seq[(String, String)], nBuckets: Int)
                              (append: Int => Unit)(probe: => Unit): Unit = {
    (1 to 4).foreach(append)
    val before = tables.map { case (t, _) => tableSnapshot(t) }
    tables.foreach { case (t, _) =>
      assert(tableFileCount(t) > nBuckets,
        s"$t: append pattern should accrete files") }
    val propsBefore = tables.map { case (t, _) =>
      spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1))
        .filter(_._1.startsWith("graft.")).toMap }
    tables.foreach { case (t, _) => Sources.compactBucketed(spark, t) }
    tables.zipWithIndex.foreach { case ((t, _), i) =>
      assert(tableSnapshot(t) == before(i), s"$t: contents changed")
      assert(tableFileCount(t) == nBuckets,
        s"$t: expected $nBuckets files, got ${tableFileCount(t)}")
      val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1))
        .filter(_._1.startsWith("graft.")).toMap
      assert(props == propsBefore(i), s"$t: graft.* properties changed") }
    probe
  }

  test("compactBucketed parity: minhash store (sigs + bands)") {
    def docs(lo: Long, hi: Long, p: String) =
      (lo to hi).map(i => (i, mkText(i.toInt, p))).toDF("doc_id", "text")
    try {
      Dedup.writeMinhashStore(
        Dedup.minhashSigs(docs(1, 40, "e"), "doc_id", "text", numHashes = 32),
        "doc_id", "graft_cmp_mh", bands = 8, numHashes = 32, nBuckets = 2)
      compactionParity(
        Seq(("graft_cmp_mh_sigs", "doc_id"), ("graft_cmp_mh_bands", "band_hash")), 2) {
        b => Dedup.minhashDedupAgainst(docs(100L * b, 100L * b + 9, s"b$b"),
          "doc_id", "text", "graft_cmp_mh", threshold = 0.8,
          numHashes = 32, bands = 8, updateStore = true).count()
      } {
        // probe path unchanged: copies of a seed doc AND of an appended
        // batch doc drop; a fresh doc passes
        val probe = Seq((9001L, mkText(3, "e")), (9002L, mkText(105, "b1")),
          (9003L, mkText(77, "z"))).toDF("doc_id", "text")
        val kept = Dedup.minhashDedupAgainst(probe, "doc_id", "text",
            "graft_cmp_mh", threshold = 0.8, numHashes = 32, bands = 8,
            updateStore = false)
          .select("doc_id").as[Long].collect().toSeq
        assert(kept == Seq(9003L), s"probe after compaction kept $kept")
      }
    } finally dropStore("graft_cmp_mh")
  }

  test("compactBucketed parity: simhash store") {
    def docs(lo: Long, hi: Long, p: String) =
      (lo to hi).map(i => (i, mkText(i.toInt, p))).toDF("doc_id", "text")
    try {
      Dedup.writeSimhashStore(docs(1, 40, "e"), "doc_id", "text",
        "graft_cmp_sh", nBuckets = 2)
      compactionParity(Seq(("graft_cmp_sh_sigs", "sig")), 2) {
        b => Dedup.simhashDedupAgainst(docs(100L * b, 100L * b + 9, s"b$b"),
          "doc_id", "text", "graft_cmp_sh", updateStore = true).count()
      } {
        val probe = Seq((9001L, mkText(3, "e")), (9002L, mkText(105, "b1")),
          (9003L, mkText(77, "z"))).toDF("doc_id", "text")
        val kept = Dedup.simhashDedupAgainst(probe, "doc_id", "text",
            "graft_cmp_sh", updateStore = false)
          .select("doc_id").as[Long].collect().toSeq
        assert(kept == Seq(9003L), s"probe after compaction kept $kept")
      }
    } finally dropStore("graft_cmp_sh")
  }

  test("compactBucketed parity: CDC chunk store") {
    // the fifth store modality in the shared maintenance harness
    // (round 18): gear-hash chunk hashes bucketed on chunk_hash, accreted
    // by tagged cdcDedupAgainst appends, compacted to one file per bucket
    // with contents (incl. the __batch idempotence tags) and probe path
    // unchanged
    def mkBytes(n: Int, seed: Long): Array[Byte] = {
      var x = seed
      Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte }
    }
    def blobs(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, mkBytes(2000, i))).toDF("doc_id", "blob")
    try {
      Dedup.writeChunkStore(
        Dedup.cdcChunks(blobs(1, 10), "doc_id", "blob"),
        "graft_cmp_cdc", nBuckets = 2)
      compactionParity(Seq(("graft_cmp_cdc_chunks", "chunk_hash")), 2) {
        b => Dedup.cdcDedupAgainst(blobs(100L * b, 100L * b + 4), "doc_id",
          "blob", "graft_cmp_cdc", updateStore = true,
          batchId = b.toLong).count()
      } {
        // probe path unchanged after compaction: a stored seed blob and an
        // appended-batch blob are all-dup; a fresh blob is all-new
        val probe = Seq((9001L, mkBytes(2000, 3L)),
          (9002L, mkBytes(2000, 102L)), (9003L, mkBytes(2000, 777L)))
          .toDF("doc_id", "blob")
        val r = Dedup.cdcDedupAgainst(probe, "doc_id", "blob",
            "graft_cmp_cdc", updateStore = false)
          .collect().map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4))))
          .toMap
        assert(r(9001L)._1 == 0L && r(9002L)._1 == 0L,
          s"stored/appended blobs must probe all-dup after compaction: $r")
        assert(r(9003L)._2 == 0L && r(9003L)._1 == 2000L,
          s"fresh blob must probe all-new after compaction: $r")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_cmp_cdc_chunks")
  }

  test("compactBucketed parity: embedding store (bands + vecs)") {
    // seed outside the per-id seed space below (Random(5) IS vec(5))
    val rnd = new scala.util.Random(987654321L)
    def vec(i: Long): Seq[Float] = {
      val r = new scala.util.Random(i) // deterministic per id
      Seq.fill(8)(r.nextGaussian().toFloat)
    }
    def emb(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    try {
      Dedup.writeEmbeddingStore(emb(1, 40), "vec_id", "embedding",
        "graft_cmp_em", dim = 8, bandBits = 4, bands = 4, nBuckets = 2)
      compactionParity(
        Seq(("graft_cmp_em_bands", "__bs"), ("graft_cmp_em_vecs", "vec_id")), 2) {
        b => Dedup.embeddingNearDupAgainst(emb(100L * b, 100L * b + 9),
          "vec_id", "embedding", "graft_cmp_em", threshold = 0.999,
          dim = 8, bandBits = 4, bands = 4, updateStore = true).count()
      } {
        // cosine-1.0 re-keys of a seed vector and an appended vector drop;
        // a fresh vector passes
        val probe = Seq((9001L, vec(3)), (9002L, vec(105)),
          (9003L, Seq.fill(8)(rnd.nextGaussian().toFloat)))
          .toDF("vec_id", "embedding")
        val kept = Dedup.embeddingNearDupAgainst(probe, "vec_id", "embedding",
            "graft_cmp_em", threshold = 0.999, dim = 8, bandBits = 4,
            bands = 4, updateStore = false)
          .select("vec_id").as[Long].collect().toSeq
        assert(kept == Seq(9003L), s"probe after compaction kept $kept")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cmp_em_bands")
      spark.sql("DROP TABLE IF EXISTS graft_cmp_em_vecs")
    }
  }

  test("compactBucketed parity: audio wide-hash store") {
    import graft.operators.Multimodal
    def hashes(ids: Seq[Long]) = Multimodal.audioEnergyHashWide(
      Multimodal.encodeSyntheticWavGroups(ids.toDF("doc_id"), "doc_id"))
    try {
      Dedup.writeWideHashStore(hashes(0L to 39L), "media_id",
        "graft_cmp_au", "audio_ehash", maxHamming = 6, nBuckets = 2)
      compactionParity(Seq(("graft_cmp_au_bands", "__bk")), 2) {
        b => Dedup.wideHashDedupAgainst(hashes(100L * b to 100L * b + 9),
          "media_id", "graft_cmp_au", "audio_ehash", maxHamming = 6,
          updateStore = true).count()
      } {
        // group-mates of a seed clip and of an appended clip drop
        // (identical group law => hamming 0-ish); a far-group clip passes
        // iff brute force says so -- expectation computed, not hardcoded
        val probeIds = Seq(2L, 402L, 777779L)
        val probe = hashes(probeIds).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val storedIds = (0L to 39L) ++
          (1 to 4).flatMap(b => 100L * b to 100L * b + 9)
        val stored = hashes(storedIds).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        def ham(a: (Long, Long, Long), b: (Long, Long, Long)) =
          java.lang.Long.bitCount(a._2 ^ b._2) +
            java.lang.Long.bitCount(a._3 ^ b._3)
        val expected = probe
          .filter(p => !stored.exists(s => ham(p, s) <= 6)).map(_._1).toSet
        val kept = Dedup.wideHashDedupAgainst(hashes(probeIds), "media_id",
            "graft_cmp_au", "audio_ehash", maxHamming = 6, updateStore = false)
          .select("media_id").as[Long].collect().toSet
        assert(kept == expected, s"probe after compaction kept $kept != $expected")
        assert(expected == Set(777779L), s"fixture drift: $expected")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_cmp_au_bands")
  }

  test("compactBucketed parity: video frame-hash store") {
    import graft.operators.Multimodal
    def hashes(ids: Seq[Long]) = Multimodal.videoDHashWide(
      Multimodal.encodeSyntheticAviGroups(ids.toDF("doc_id"), "doc_id"),
      everyK = 1)
    try {
      Dedup.writeVideoHashStore(hashes(0L to 39L), "media_id",
        "graft_cmp_vi", maxHamming = 6, nBuckets = 2)
      compactionParity(Seq(("graft_cmp_vi_bands", "__bk")), 2) {
        b => Dedup.videoDedupAgainst(hashes(100L * b to 100L * b + 9),
          "media_id", "graft_cmp_vi", maxHamming = 6, minMatchedFrames = 3,
          updateStore = true).count()
      } {
        // a group-mate of a seed clip (>= 3 of 4 frames match its stored
        // group base) and of an appended clip drop; a far-group clip passes
        val kept = Dedup.videoDedupAgainst(
            hashes(Seq(2L, 402L, 777779L)), "media_id", "graft_cmp_vi",
            maxHamming = 6, minMatchedFrames = 3, updateStore = false)
          .select("media_id").as[Long].collect().toSet
        assert(kept == Set(777779L), s"probe after compaction kept $kept")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_cmp_vi_bands")
  }

  // ---- the store contract, table-driven: every store kind is built at a
  // non-default bucket count, then probed, appended and compacted WITHOUT
  // being told its layout (the catalog's bucket spec is the only source),
  // and the result must equal a one-shot rebuild (append ≡ rebuild) ----

  /** one store kind of the round trip: `build(store, both)` builds from
    * batch 1 (or batches 1 + 2, the rebuild) at [[RtBuckets]] buckets;
    * `append` adds batch 2 through the kind's own append path; `view` is
    * the kind's observable state (table contents without batch tags, plus
    * a probe's answer); `compact` defaults to [[Sources.compactBucketed]]
    * on every table. `layout` pins each table's on-disk format after
    * `build`: its exact `graft.*` properties and its columns. Each of
    * `mismatch` runs a probe or an append of the built store with one
    * build parameter changed (or against a store retagged as another
    * kind, for kinds without caller parameters) and must refuse by name. */
  private case class StoreKind(name: String, tables: Seq[String],
                               build: (String, Boolean) => Unit,
                               append: String => Unit,
                               view: String => Seq[String],
                               layout: Seq[(Map[String, String], Seq[String])],
                               mismatch: Seq[String => Any] = Nil,
                               compact: Option[String => Unit] = None)

  /** retag a built store table as another kind: every probe and append of
    * the real kind must then refuse it by name */
  private def retag(table: String): Unit =
    graft.sources.StoreTable.setProps(spark, table, Map("kind" -> "other_kind"))

  /** `run` must fail with an IllegalArgumentException that names a table of
    * `store` */
  private def assertRefuses(what: String, store: String)(run: => Any): Unit = {
    val e = intercept[IllegalArgumentException](run)
    assert(e.getMessage.contains(store), s"$what: refusal does not name the store: ${e.getMessage}")
  }

  /** `table`'s exact graft.* properties and its columns */
  private def layoutOf(table: String): (Map[String, String], Seq[String]) =
    (graft.sources.StoreTable.props(spark, table), spark.table(table).columns.toSeq)

  private val RtBuckets = 3

  private def rows(table: String): Seq[String] = {
    val t = spark.table(table).drop("__batch")
    // binary cells (PQ codes) print as identity hashes: compare them as hex
    t.select(t.schema.fields.map(f =>
        if (f.dataType == org.apache.spark.sql.types.BinaryType)
          org.apache.spark.sql.functions.hex(col(f.name)).as(f.name)
        else col(f.name)).toIndexedSeq: _*)
      .distinct().collect().map(_.toString).sorted.toSeq
  }

  private def storeKinds: Seq[StoreKind] = {
    import graft.operators.{Multimodal, Profiling, Search, Similarity, TextAnalysis}
    import org.apache.spark.sql.DataFrame
    def docs(lo: Long, hi: Long, p: String) =
      (lo to hi).map(i => (i, mkText(i.toInt, p))).toDF("doc_id", "text")
    val d1 = docs(1, 30, "e")
    val d2 = docs(101, 115, "n")
    val dProbe = docs(1, 5, "e").union(docs(101, 105, "n"))
      .union(docs(901, 905, "z"))
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    def ids(df: DataFrame, c: String): Seq[String] =
      df.select(c).collect().map(_.get(0).toString).sorted.toSeq
    def vec(i: Long): Seq[Float] = {
      val r = new scala.util.Random(i)
      Seq.fill(8)(r.nextGaussian().toFloat)
    }
    def emb(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val e1 = emb(1, 30)
    val e2 = emb(101, 115)
    val eProbe = Seq(3L, 104L, 9001L).map(i => (i + 10000L, vec(i)))
      .toDF("vec_id", "embedding")
    def media(enc: (DataFrame, String) => DataFrame,
              hash: DataFrame => DataFrame)(ids: Seq[Long]) =
      hash(enc(ids.toDF("doc_id"), "doc_id")).localCheckpoint()
    val image = media(Multimodal.encodeSyntheticPngGroups,
      Multimodal.imageDHashWide) _
    val audio = media(Multimodal.encodeSyntheticWavGroups,
      Multimodal.audioEnergyHashWide) _
    val video = media(Multimodal.encodeSyntheticAviGroups,
      Multimodal.videoDHashWide(_)) _
    val (m1, m2, mProbe) = (0L to 15L, 400L to 407L, Seq(2L, 402L, 777779L))
    def wideHash(kind: String, h: Seq[Long] => DataFrame) = {
      val (h1, h2, hp) = (h(m1), h(m2), h(mProbe))
      StoreKind(s"wide-hash $kind", Seq("_bands"),
        (st, both) => Dedup.writeWideHashStore(
          if (both) h1.union(h2) else h1, "media_id", st, kind,
          nBuckets = RtBuckets),
        st => Dedup.wideHashDedupAgainst(h2, "media_id", st, kind).count(),
        st => rows(s"${st}_bands") ++ ids(Dedup.wideHashDedupAgainst(hp,
          "media_id", st, kind, updateStore = false), "media_id"),
        Seq((Map("kind" -> kind, "maxHamming" -> "6", "enc" -> "dhash120_v2"),
          Seq("__bk", "sim_lo", "sim_hi"))),
        Seq(st => Dedup.wideHashDedupAgainst(hp, "media_id", st, "other_kind",
            updateStore = false).count(),
          st => Dedup.appendWideHashes(h2, "media_id", st, kind, maxHamming = 5)))
    }
    def mkBytes(n: Int, seed: Long): Array[Byte] = {
      var x = seed
      Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte }
    }
    def blobs(ids: Seq[Long]) = ids.map(i => (i, mkBytes(600, i)))
      .toDF("doc_id", "blob")
    val (c1, c2, cProbe) = (blobs(1L to 6L), blobs(101L to 104L),
      blobs(Seq(3L, 102L, 9001L)))
    val pqModel = Similarity.pqFit(e1.orderBy("vec_id"), "embedding",
      m = 2, ksub = 4)
    val pqModel2 = Similarity.pqFit(e2.orderBy("vec_id"), "embedding",
      m = 2, ksub = 4)
    val cards1 = (1 to 90).map(i => (s"g${i % 3}", s"v${i % 23}")).toDF("g", "v")
    val cards2 = (1 to 60).map(i => (s"g${i % 3}", s"w${i % 17}")).toDF("g", "v")
    def minhash(portable: Boolean) = StoreKind(
      s"minhash portable=$portable", Seq("_sigs", "_bands"),
      (st, both) => Dedup.writeMinhashStore(
        Dedup.minhashSigs(if (both) d1.union(d2) else d1, "doc_id", "text",
          numHashes = 32, portable = portable),
        "doc_id", st, bands = 8, numHashes = 32, nBuckets = RtBuckets,
        portable = portable),
      st => Dedup.minhashDedupAgainst(d2, "doc_id", "text", st,
        numHashes = 32, bands = 8, portable = portable).count(),
      st => rows(s"${st}_sigs") ++ rows(s"${st}_bands") ++
        ids(Dedup.minhashDedupAgainst(dProbe, "doc_id", "text", st,
          numHashes = 32, bands = 8, updateStore = false,
          portable = portable), "doc_id"),
      Seq((Map("numHashes" -> "32", "bands" -> "8", "portable" -> portable.toString),
          Seq("doc_id", "sig")),
        (Map.empty[String, String],
          if (portable) Seq("doc_id", "band", "band_key") else Seq("doc_id", "band_hash"))),
      Seq(st => Dedup.minhashDedupAgainst(dProbe, "doc_id", "text", st,
          numHashes = 32, bands = 4, updateStore = false, portable = portable).count(),
        st => Dedup.minhashDedupAgainst(d2, "doc_id", "text", st,
          numHashes = 32, bands = 8, portable = !portable).count()))
    Seq(
      StoreKind("fingerprint", Seq("_fps"),
        (st, both) => Dedup.writeFingerprintStore(
          if (both) d1.union(d2) else d1, "text", st, nBuckets = RtBuckets),
        st => Dedup.exactDedupAgainst(d2, "text", st).count(),
        st => rows(s"${st}_fps") ++ ids(Dedup.exactDedupAgainst(dProbe,
          "text", st, updateStore = false), "doc_id"),
        Seq((Map.empty[String, String], Seq("fp")))),
      StoreKind("simhash", Seq("_sigs"),
        (st, both) => Dedup.writeSimhashStore(if (both) d1.union(d2) else d1,
          "doc_id", "text", st, nBuckets = RtBuckets),
        st => Dedup.simhashDedupAgainst(d2, "doc_id", "text", st).count(),
        st => rows(s"${st}_sigs") ++ ids(Dedup.simhashDedupAgainst(dProbe,
          "doc_id", "text", st, updateStore = false), "doc_id"),
        Seq((Map("portable" -> "false"), Seq("sig"))),
        Seq(st => Dedup.simhashDedupAgainst(dProbe, "doc_id", "text", st,
            portable = true, updateStore = false).count(),
          st => Dedup.simhashDedupAgainst(d2, "doc_id", "text", st,
            portable = true).count())),
      minhash(portable = false),
      minhash(portable = true),
      StoreKind("embedding", Seq("_bands", "_vecs"),
        (st, both) => Dedup.writeEmbeddingStore(if (both) e1.union(e2) else e1,
          "vec_id", "embedding", st, dim = 8, bandBits = 4, bands = 4,
          nBuckets = RtBuckets),
        st => Dedup.embeddingNearDupAgainst(e2, "vec_id", "embedding", st,
          threshold = 0.999, dim = 8, bandBits = 4, bands = 4).count(),
        st => rows(s"${st}_bands") ++ rows(s"${st}_vecs") ++
          ids(Dedup.embeddingNearDupAgainst(eProbe, "vec_id", "embedding", st,
            threshold = 0.999, dim = 8, bandBits = 4, bands = 4,
            updateStore = false), "vec_id"),
        Seq((Map("dim" -> "8", "bandBits" -> "4", "bands" -> "4", "seed" -> "42",
            "enc" -> "bands_packed_v2"), Seq("vec_id", "__bs")),
          (Map.empty[String, String], Seq("vec_id", "vec", "fullsig"))),
        Seq(st => Dedup.embeddingNearDupAgainst(eProbe, "vec_id", "embedding", st,
            threshold = 0.999, dim = 8, bandBits = 4, bands = 4, seed = 7L,
            updateStore = false).count(),
          st => Dedup.embeddingNearDupAgainst(e2, "vec_id", "embedding", st,
            threshold = 0.999, dim = 8, bandBits = 4, bands = 2).count())),
      wideHash("image_dhash", image),
      wideHash("audio_ehash", audio),
      {
        val (v1, v2, vp) = (video(m1), video(m2), video(mProbe))
        StoreKind("video", Seq("_bands"),
          (st, both) => Dedup.writeVideoHashStore(
            if (both) v1.union(v2) else v1, "media_id", st,
            nBuckets = RtBuckets),
          st => Dedup.videoDedupAgainst(v2, "media_id", st).count(),
          st => rows(s"${st}_bands") ++ ids(Dedup.videoDedupAgainst(vp,
            "media_id", st, updateStore = false), "media_id"),
          Seq((Map("kind" -> "video_dhash", "maxHamming" -> "6", "everyK" -> "1",
              "enc" -> "dhash120_v2"), Seq("__sid", "__bk", "sim_lo", "sim_hi"))),
          Seq(st => Dedup.videoDedupAgainst(vp, "media_id", st, everyK = 2,
              updateStore = false).count(),
            st => Dedup.appendVideoFrameHashes(v2, "media_id", st, maxHamming = 5)))
      },
      StoreKind("CDC chunks", Seq("_chunks"),
        (st, both) => Dedup.writeChunkStore(
          Dedup.cdcChunks(if (both) c1.union(c2) else c1, "doc_id", "blob"),
          st, nBuckets = RtBuckets),
        st => Dedup.cdcDedupAgainst(c2, "doc_id", "blob", st,
          batchId = 1L).count(),
        st => rows(s"${st}_chunks") ++ Dedup.cdcDedupAgainst(cProbe,
          "doc_id", "blob", st, updateStore = false)
          .collect().map(_.toString).sorted.toSeq,
        Seq((Map.empty[String, String], Seq("chunk_hash", "chunk_len", "__batch")))),
      StoreKind("LM", Seq("_pairs", "_ctx"),
        (st, both) => TextAnalysis.writeLmStore(
          if (both) d1.union(d2) else d1, "text", st, nBuckets = RtBuckets),
        st => TextAnalysis.appendLmCounts(spark, st, d2, "text", batchTag = 1L),
        // a compacted store folds batches into one row per key
        st => rows(s"${st}_pairs") ++ rows(s"${st}_ctx") ++
          TextAnalysis.lmPerplexityAgainst(dProbe, "doc_id", "text", st)
            .collect().map(_.toString).sorted.toSeq,
        Seq((Map("kind" -> "lm_bigram", "enc" -> "lm_v1"), Seq("pair", "cnt", "__batch")),
          (Map("kind" -> "lm_bigram", "enc" -> "lm_v1"), Seq("t1", "cnt", "__batch"))),
        Seq(st => { retag(s"${st}_ctx")
            TextAnalysis.lmPerplexityAgainst(dProbe, "doc_id", "text", st).count() },
          st => TextAnalysis.appendLmCounts(spark, st, d2, "text", batchTag = 2L)),
        compact = Some(st => TextAnalysis.compactLmStore(spark, st))),
      StoreKind("PQ", Seq("_pq"),
        (st, both) => Similarity.writePqStore(if (both) e1.union(e2) else e1,
          "vec_id", "embedding", pqModel, st, nBuckets = RtBuckets),
        st => Similarity.appendPqStore(e2, "vec_id", "embedding", pqModel, st,
          batchId = 1L),
        st => rows(s"${st}_pq") ++ Similarity.pqAdcTopKAgainstStore(spark, st,
          "vec_id", vec(7L).map(_.toDouble), pqModel, k = 50)
          .collect().map(_.toString).toSeq,
        Seq((Map("kind" -> "pq", "fp" -> Similarity.pqFingerprint(pqModel).toString,
          "enc" -> "bias128"), Seq("vec_id", "codes", "__batch"))),
        Seq(st => Similarity.pqAdcTopKAgainstStore(spark, st, "vec_id",
            vec(7L).map(_.toDouble), pqModel2, k = 5).count(),
          st => Similarity.appendPqStore(e2, "vec_id", "embedding", pqModel2, st,
            batchId = 2L))),
      StoreKind("inverted index", Seq("_postings", "_terms"),
        (st, both) => Search.writeInvertedIndex(if (both) d1.union(d2) else d1,
          "doc_id", "text", st, nBuckets = RtBuckets),
        st => Search.appendInvertedIndex(d2, "doc_id", "text", st,
          batchId = 1L),
        st => rows(s"${st}_postings") ++
          Search.termDocFreq(spark, st).collect().map(_.toString).sorted ++
          Search.searchBM25(spark, st, Seq("e3t1", "n103t2", "z1t1"), 10)
            .collect().map(_.toString).toSeq,
        Seq((Map("kind" -> "inverted_index", "docCount" -> "30", "totalDl" -> "900"),
            Seq("term", "doc_id", "tf", "dl", "__batch")),
          (Map.empty[String, String], Seq("term", "df", "__batch"))),
        Seq(st => { retag(s"${st}_postings")
            Search.searchBM25(spark, st, Seq("e3t1"), 10).count() },
          st => Search.appendInvertedIndex(d2, "doc_id", "text", st, batchId = 2L))),
      StoreKind("cardinality", Seq(""),
        (st, both) => Profiling.writeCardinalityStore(
          if (both) cards1.union(cards2) else cards1, "g", col("v"), st,
          nBuckets = RtBuckets),
        st => Profiling.appendCardinalitySketches(spark, st, cards2, "g",
          col("v"), lgK = 12, batchTag = 1L),
        st => Profiling.cardinalityEstimates(spark, st)
          .select("group_key", "estimate", "n_rows")
          .collect().map(_.toString).toSeq,
        Seq((Map("kind" -> "cardinality_hll", "lgK" -> "12", "enc" -> "ds_hll_v1"),
          Seq("__g", "__sketch", "__n", "__batch"))),
        Seq(st => Profiling.appendCardinalitySketches(spark, st, cards2, "g",
          col("v"), lgK = 10, batchTag = 2L)),
        compact = Some(st => Profiling.compactCardinalityStore(spark, st))))
  }

  test("store contract round trip: every kind probes, appends and compacts under its own bucket spec") {
    import graft.sources.StoreTable
    storeKinds.foreach { k =>
      val st = "graft_rt_" + k.name.replaceAll("[^a-z0-9]+", "_")
      val re = s"${st}_re"
      def drop(): Unit = Seq(st, re).foreach(s => k.tables.foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $s$t")))
      drop()
      try {
        k.build(st, false)
        k.tables.zip(k.layout).foreach { case (t, pin) =>
          assert(layoutOf(st + t) == pin, s"${k.name}$t: on-disk format changed")
        }
        val layout = k.tables.map(t => StoreTable.bucketSpec(spark, st + t))
        assert(layout.forall(_._2 == RtBuckets), s"${k.name}: $layout")
        k.view(st) // a probe reads the layout it was built with
        k.append(st)
        val props = k.tables.map(t => StoreTable.props(spark, st + t))
        k.compact.getOrElse((s: String) =>
          k.tables.foreach(t => Sources.compactBucketed(spark, s + t)))(st)
        k.tables.zipWithIndex.foreach { case (t, i) =>
          assert(StoreTable.bucketSpec(spark, st + t) == layout(i),
            s"${k.name}$t: bucket spec changed")
          assert(tableFileCount(st + t) <= RtBuckets,
            s"${k.name}$t: ${tableFileCount(st + t)} files after compaction")
          assert(props(i).toSet.subsetOf(StoreTable.props(spark, st + t).toSet),
            s"${k.name}$t: graft.* properties lost")
        }
        k.build(re, true)
        assert(k.view(st) == k.view(re), s"${k.name}: append ≢ rebuild")
        k.mismatch.zipWithIndex.foreach { case (m, i) =>
          assertRefuses(s"${k.name} mismatch $i", st)(m(st))
        }
      } finally drop()
    }
  }

  test("store kinds outside the round trip keep their on-disk format and refuse mismatched parameters by name") {
    import graft.operators.{Profiling, Search, Similarity}
    import Similarity.IvfModel
    def vec(i: Long): Seq[Double] = {
      val r = new scala.util.Random(i)
      Seq.fill(4)(r.nextGaussian())
    }
    val e = (1L to 24L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val q = vec(3L)
    val ivf = IvfModel(Array(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0),
      Array(0, 0, 1.0, 0)))
    val ivf2 = IvfModel(ivf.centers.map(_.map(_ * 2)))
    val pq = Similarity.pqFit(e.orderBy("vec_id"), "embedding", m = 2, ksub = 4)
    val pq2 = Similarity.pqFit(e.filter(col("vec_id") > 12L).orderBy("vec_id"),
      "embedding", m = 2, ksub = 4)
    val text = (1 to 6).map(i => (i.toLong, mkText(i, "p"))).toDF("doc_id", "text")
    // (table, build, exact graft.* properties, columns, refusals)
    val kinds = Seq[(String, () => Unit, Map[String, String], Seq[String], Seq[() => Any])](
      ("graft_ok_ivf_cells",
        () => Similarity.writeIvfStore(e, "vec_id", "embedding", ivf, "graft_ok_ivf"),
        Map("k" -> "3", "dim" -> "4",
          "fingerprint" -> Similarity.modelFingerprint(ivf).toString),
        Seq("vec_id", "vec", "__cluster"),
        Seq(() => Similarity.ivfTopKAgainstStore(spark, "graft_ok_ivf", ivf2,
            "vec_id", q, 3).count(),
          () => Similarity.appendToIvfStore(e, "vec_id", "embedding", ivf2,
            "graft_ok_ivf"))),
      ("graft_ok_ivfpq_pqcells",
        () => Similarity.writeIvfPqStore(e, "vec_id", "embedding", ivf, pq,
          "graft_ok_ivfpq"),
        Map("kind" -> "ivfpq", "ivfFp" -> Similarity.modelFingerprint(ivf).toString,
          "pqFp" -> Similarity.pqFingerprint(pq).toString, "enc" -> "bias128"),
        Seq("vec_id", "codes", "__cluster"),
        Seq(() => Similarity.ivfPqTopK(spark, "graft_ok_ivfpq", ivf, pq2,
          "vec_id", q, 3).count())),
      ("graft_ok_lsh_sigs",
        () => Similarity.writeLshStore(e, "vec_id", "embedding", "graft_ok_lsh",
          dim = 4, nBits = 8, nBuckets = 2),
        Map("dim" -> "4", "nBits" -> "8", "seed" -> "42"),
        Seq("vec_id", "vec", "sig"),
        Seq(() => Similarity.lshTopKAgainstStore(spark, "graft_ok_lsh", "vec_id",
          q, 3, dim = 4, nBits = 8, seed = 7L).count())),
      ("graft_ok_i8_q",
        () => Similarity.writeInt8Store(e, "vec_id", "embedding", "graft_ok_i8",
          nBuckets = 2),
        Map("kind" -> "int8"),
        Seq("vec_id", "qvec", "scale"),
        Seq(() => { retag("graft_ok_i8_q")
          Similarity.int8TopKAgainstStore(spark, "graft_ok_i8", "vec_id", q, 3)
            .count() })),
      ("graft_ok_pos_pos",
        () => Search.writePositionalIndex(text, "doc_id", "text", "graft_ok_pos",
          nBuckets = 2),
        Map("kind" -> "positional_index"),
        Seq("term", "doc_id", "positions"),
        Seq(() => { retag("graft_ok_pos_pos")
          Search.searchPhrase(spark, "graft_ok_pos", Seq("p1t1", "p1t2"), 3)
            .count() })),
      ("graft_ok_freq",
        () => Profiling.writeFrequencyStore(text, col("text"), "graft_ok_freq"),
        Map("kind" -> "frequency_cms", "eps" -> "0.001", "confidence" -> "0.99",
          "seed" -> "42", "enc" -> "cms_v1"),
        Seq("__sketch", "__n", "__batch"),
        Seq(() => Profiling.appendFrequencySketch(spark, "graft_ok_freq", text,
          col("text"), eps = 0.01, confidence = 0.99, seed = 42, batchTag = 1L))))
    try kinds.foreach { case (t, build, props, cols, refusals) =>
      build()
      assert(layoutOf(t) == ((props, cols)), s"$t: on-disk format changed")
      refusals.zipWithIndex.foreach { case (r, i) => assertRefuses(s"$t refusal $i", t)(r()) }
    } finally kinds.foreach(k => spark.sql(s"DROP TABLE IF EXISTS ${k._1}"))
  }

  test("mergeIntoStore / scd2MergeIntoStore keep the table's bucket spec and graft.* properties") {
    import graft.sources.StoreTable
    val t = "graft_rt_merge"
    val base = (1L to 12L).map(i => (i, s"v$i")).toDF("k", "v")
    val delta = Seq((2L, "v2b", "upsert"), (3L, null, "delete"),
      (40L, "v40", "upsert")).toDF("k", "v", "op")
    def check(): Unit = {
      assert(StoreTable.bucketSpec(spark, t) == ("k", RtBuckets))
      assert(StoreTable.props(spark, t) == Map("kind" -> "rt", "enc" -> "rt_v1"))
    }
    try {
      Sources.writeBucketed(base, t, "k", RtBuckets)
      StoreTable.setProps(spark, t, Map("kind" -> "rt", "enc" -> "rt_v1"))
      Sources.mergeIntoStore(spark, t, delta, "k")
      check()
      assert(spark.table(t).count() == 12L)
      spark.sql(s"DROP TABLE $t")
      Sources.writeBucketed(Sources.scd2Init(base, 0L), t, "k", RtBuckets)
      StoreTable.setProps(spark, t, Map("kind" -> "rt", "enc" -> "rt_v1"))
      Sources.scd2MergeIntoStore(spark, t, delta, "k", 1L)
      check()
      assert(Sources.scd2SnapshotAsOf(spark.table(t), 1L).count() == 12L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("videoDedupFromFrameHashesFrac: threshold scales with the SHORTER clip of each pair") {
    // clip 1: 4 frames. clip 2: 2 frames, both matching clip 1 ->
    // min(4,2)=2, ceil(0.75*2)=2 <= 2 matched -> drops. clip 3: 4 frames,
    // only frames 2-3 matching clip 1 (nothing shared with clip 2) ->
    // ceil(0.75*4)=3 > 2 -> survives (a fixed minMatchedFrames=2 knob
    // would have dropped it).
    val hashes = Seq(
        (1L, 0L, 0x111111L, 0x1L), (1L, 1L, 0x222222L, 0x2L),
        (1L, 2L, 0x333333L, 0x3L), (1L, 3L, 0x444444L, 0x4L),
        (2L, 0L, 0x111111L, 0x1L), (2L, 1L, 0x222222L, 0x2L),
        (3L, 0L, 0xccccccL, 0xcL), (3L, 1L, 0xddddddL, 0xdL),
        (3L, 2L, 0x333333L, 0x3L), (3L, 3L, 0x444444L, 0x4L))
      .toDF("media_id", "frame_no", "dh_lo", "dh_hi")
    val kept = Dedup.videoDedupFromFrameHashesFrac(hashes, "media_id",
        maxHamming = 6, matchFrac = 0.75)
      .select("media_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"frac vote kept $kept")
  }

  test("videoDedupAgainst short-clip vote clamp: a clip with fewer frames than minMatchedFrames can still self-match") {
    try {
      // stored clip 1 has TWO frames; probe clip 2 duplicates both frame
      // hashes exactly. min(minMatchedFrames=3, n_frames=2) = 2 => dropped.
      // Without the clamp mf=2 < 3 would let the duplicate through -- and a
      // replayed streaming micro-batch would emit a different survivor set
      // than its first delivery (the content-keyed idempotence contract).
      val stored = Seq((1L, 0L, 0x3c3c3cL, 0x5a5aL),
          (1L, 1L, 0x111111L, 0x2222L))
        .toDF("media_id", "frame_no", "dh_lo", "dh_hi")
      Dedup.writeVideoHashStore(stored, "media_id", "graft_clamp_vi",
        maxHamming = 6, nBuckets = 2)
      val probe = Seq(
          (2L, 0L, 0x3c3c3cL, 0x5a5aL), (2L, 1L, 0x111111L, 0x2222L),
          // clip 3: four frames, only frame 0 matches stored clip 1 ->
          // mf=1 < min(3, 4) -> survives
          (3L, 0L, 0x3c3c3cL, 0x5a5aL), (3L, 1L, 0x777777L, 0x1111L),
          (3L, 2L, 0x0f0f0fL, 0x3333L), (3L, 3L, 0x123456L, 0x4444L))
        .toDF("media_id", "frame_no", "dh_lo", "dh_hi")
      val kept = Dedup.videoDedupAgainst(probe, "media_id",
          "graft_clamp_vi", maxHamming = 6, minMatchedFrames = 3,
          updateStore = false)
        .select("media_id").as[Long].collect().toSet
      assert(kept == Set(3L), s"clamp probe kept $kept")
    } finally spark.sql("DROP TABLE IF EXISTS graft_clamp_vi_bands")
  }

  test("video store everyK is persisted and a mismatched probe refuses loudly") {
    try {
      val stored = Seq((1L, 0L, 0x3c3c3cL, 0x5a5aL))
        .toDF("media_id", "frame_no", "dh_lo", "dh_hi")
      Dedup.writeVideoHashStore(stored, "media_id", "graft_ek_vi",
        maxHamming = 6, nBuckets = 2, everyK = 2)
      val probe = Seq((2L, 0L, 0x3c3c3cL, 0x5a5aL))
        .toDF("media_id", "frame_no", "dh_lo", "dh_hi")
      // matching everyK probes fine
      Dedup.videoDedupAgainst(probe, "media_id", "graft_ek_vi",
        maxHamming = 6, minMatchedFrames = 3, updateStore = false,
        everyK = 2).count()
      // a probe sampled at a different rate would misalign frame_no keys
      // and silently dilute the vote — must refuse at checkStoreParams
      val e = intercept[IllegalArgumentException] {
        Dedup.videoDedupAgainst(probe, "media_id", "graft_ek_vi",
          maxHamming = 6, minMatchedFrames = 3, updateStore = false,
          everyK = 1).count()
      }
      assert(e.getMessage.contains("everyK"), s"wrong refusal: ${e.getMessage}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_ek_vi_bands")
  }

  test("videoDedupAgainst probe refuses frame_no >= 2^20 (packed-key aliasing)") {
    try {
      val stored = Seq((1L, 0L, 0x3c3c3cL, 0x5a5aL))
        .toDF("media_id", "frame_no", "dh_lo", "dh_hi")
      Dedup.writeVideoHashStore(stored, "media_id", "graft_fg_vi",
        maxHamming = 6, nBuckets = 2)
      val probe = Seq((2L, 1L << 20, 0x3c3c3cL, 0x5a5aL))
        .toDF("media_id", "frame_no", "dh_lo", "dh_hi")
      val e = intercept[Exception] {
        Dedup.videoDedupAgainst(probe, "media_id", "graft_fg_vi",
          maxHamming = 6, minMatchedFrames = 3, updateStore = false).count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("2^20"), s"wrong refusal: $msgs")
    } finally spark.sql("DROP TABLE IF EXISTS graft_fg_vi_bands")
  }
}

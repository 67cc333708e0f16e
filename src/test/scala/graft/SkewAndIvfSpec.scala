package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Similarity}
import graft.queries.Offline

/** Skew-salted join equivalence and IVF ANN recall. */
class SkewAndIvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin ≡ plain join (same rows, spread over salted reducers)") {
    // skewed fact: 90% of rows share key 1
    val fact = ((1 to 90).map(i => (1L, i.toLong)) ++ Seq((2L, 91L), (3L, 92L)))
      .toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "warm"), (3L, "cold")).toDF("k", "label")
    val plain = fact.join(dim, Seq("k")).select("k", "payload", "label")
      .as[(Long, Long, String)].collect().toSet
    val salted = Relational.saltedJoin(fact, dim, "k", buckets = 8,
        saltSource = col("payload"))
      .select("k", "payload", "label")
      .as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
    assert(plain.count(_._3 == "hot") == 90)
  }

  test("multi-probe LSH ANN: recall ≥ 0.8 vs brute force and ≥ single-probe") {
    // 200 vectors in 4 tight clusters + jitter — a corpus with real neighbor
    // structure (recall against random vectors is meaningless: no sub-linear
    // method can hit it when true neighbors sit at cosine ~0.4)
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 200).map { i =>
      val base = Array.fill(16)(0.0f)
      base(i % 4 * 4) = 1.0f
      (i.toLong, base.map(v => v + rnd.nextGaussian().toFloat * 0.05f).toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val query = vecs.head._2.map(_.toDouble)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val k = 10
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", query, k)
      .select("vec_id").as[Long].collect().toSet
    def recallAt(maxFlips: Int): Double = {
      val got = Similarity.lshTopK(corpus, "vec_id", "embedding", query, k,
        dim = 16, nBits = 12, maxFlips = maxFlips)
        .select("vec_id").as[Long].collect().toSet
      got.intersect(brute).size.toDouble / k
    }
    val single = recallAt(0)
    val multi = recallAt(2)
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
    assert(multi >= 0.8, s"multi-probe recall@$k = $multi < 0.8")
  }

  test("lshTopK probe-literal cap: maxFlips=4 runs, past-cap configurations refuse") {
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.fill(16)(if (i % 2 == 0) 1.0f else -1.0f).toSeq))
    val emb = vecs.toDF("vec_id", "embedding")
    val query = Seq.fill(16)(1.0)
    // (16,4) = ΣC(16,0..4) = 2517 literals — inside the 4096 cap, must run
    val ok = Similarity.lshTopK(emb, "vec_id", "embedding", query, 5,
      dim = 16, nBits = 16, maxFlips = 4).collect()
    assert(ok.length <= 5)
    // (16,8) = 39 203 literals would bloat the plan ~16x past the cap — a
    // caller reaching for that much probing needs banding, not flips
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(emb, "vec_id", "embedding", query, 5,
        dim = 16, nBits = 16, maxFlips = 8)
    }
    assert(e.getMessage.contains("plan-literal cap"))
  }

  test("banded near-dup LSH finds planted near-dup pairs, candidates stay bucket-local") {
    val rnd = new scala.util.Random(11)
    // 60 random unit-ish vectors + 5 planted near-duplicates of the first 5
    val baseVecs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }
    val dups = (0 until 5).map { i =>
      (100L + i, baseVecs(i)._2.map(v => v + rnd.nextGaussian().toFloat * 0.02f))
    }
    val emb = (baseVecs ++ dups).toDF("vec_id", "embedding")
    val pairs = graft.operators.Dedup.embeddingNearDupLsh(emb, "vec_id",
        "embedding", threshold = 0.9, dim = 16, bandBits = 8, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every planted pair recovered, nothing else at cosine ≥ 0.9
    assert((0 until 5).forall(i => pairs.contains((i.toLong, 100L + i))),
      s"missing planted pairs: $pairs")
    assert(pairs.size == 5, s"unexpected extra pairs: $pairs")
  }

  test("IVF ANN: probing nprobe clusters finds the true nearest neighbors") {
    // two tight clusters around e1 and e2
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
                 else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + (i * (j + 1)) * 1e-4f }.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val (model, assigned) = Similarity.ivfBuild(emb, "embedding", k = 4)
    val res = Similarity.ivfTopK(assigned, model, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), topK = 5, nprobe = 2)
      .select("vec_id").as[Long].collect()
    assert(res.length == 5)
    assert(res.forall(_ % 2 == 0), s"wrong cluster members: ${res.mkString(",")}")
    // brute force agrees on the result set
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), 5).select("vec_id").as[Long].collect()
    assert(res.toSet == brute.toSet)
  }

  test("IVF store: partition-pruned probe ≡ in-memory probe; wrong model refused") {
    // the persisted-index twin: same clusters fixture as the ANN test
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
                 else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + (i * (j + 1)) * 1e-4f }.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val (model, assigned) = Similarity.ivfBuild(emb, "embedding", k = 4)
    val q = Seq(1.0, 0.0, 0.0, 0.0)
    try {
      Similarity.writeIvfStore(emb, "vec_id", "embedding", model, "graft_ivf_spec")
      val mem = Similarity.ivfTopK(assigned, model, "vec_id", "embedding",
        q, topK = 5, nprobe = 2).select("vec_id", "cos")
        .as[(Long, Double)].collect().toSeq
      val store = Similarity.ivfTopKAgainstStore(spark, "graft_ivf_spec",
        model, "vec_id", q, topK = 5, nprobe = 2)
      val viaStore = store.select("vec_id", "cos")
        .as[(Long, Double)].collect().toSeq
      assert(viaStore == mem, s"store probe $viaStore != in-memory $mem")
      // THE point of the store: the cluster membership test is a PARTITION
      // filter on the scan — pruning, not a per-row filter over all cells
      val plan = store.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("__cluster"),
        s"probe is not partition-pruned:\n$plan")
      // a DIFFERENT fitted model must be refused: its assignment disagrees
      // with the partition values, so probing would read the WRONG cells
      val other = Similarity.IvfModel(model.centers.map(_.map(_ + 0.25)))
      val err = intercept[IllegalArgumentException](
        Similarity.ivfTopKAgainstStore(spark, "graft_ivf_spec", other,
          "vec_id", q, topK = 5, nprobe = 2))
      assert(err.getMessage.contains("fingerprint"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ivf_spec_cells")
  }

  test("IVF store ingest loop: appends accrete per-cell files, compactPartitioned collapses them, probe parity") {
    import graft.sources.Sources
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
                 else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + (i * (j + 1)) * 1e-4f }.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val (model, _) = Similarity.ivfBuild(emb, "embedding", k = 4)
    def cellFiles: Int = {
      val loc = spark.sql("DESCRIBE EXTENDED graft_ivf_ing_cells").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(new java.net.URI(loc)))
    }
    try {
      Similarity.writeIvfStore(emb, "vec_id", "embedding", model, "graft_ivf_ing")
      // 3 ingest batches (fresh ids, same vector population → same cells):
      // each append adds new files under the touched cell partitions
      (1 to 3).foreach { b =>
        val batch = vecs.map { case (id, v) => (id + 1000L * b, v) }
          .toDF("vec_id", "embedding")
        Similarity.appendToIvfStore(batch, "vec_id", "embedding", model,
          "graft_ivf_ing")
      }
      val q = Seq(1.0, 0.0, 0.0, 0.0)
      def probe = Similarity.ivfTopKAgainstStore(spark, "graft_ivf_ing",
          model, "vec_id", q, topK = 8, nprobe = 2)
        .collect().map(_.toString).toSeq
      val before = probe
      assert(before.size == 8)
      val accreted = cellFiles
      val nCells = spark.table("graft_ivf_ing_cells")
        .select("__cluster").distinct().count().toInt
      assert(accreted > nCells, s"appends should accrete files: $accreted")
      Sources.compactPartitioned(spark, "graft_ivf_ing_cells", "__cluster")
      // one file per populated cell, identical probe results, fingerprint
      // property preserved (the probe's checkStoreParams still passes)
      assert(cellFiles == nCells,
        s"expected $nCells files (one per cell), got $cellFiles")
      assert(probe == before, "compaction changed probe results")
      // a DIFFERENT model must be refused on the append path too — its
      // assignment would scatter rows into cells the probe never ranks
      val other = Similarity.IvfModel(model.centers.map(_.map(_ + 0.5)))
      val err = intercept[IllegalArgumentException](
        Similarity.appendToIvfStore(emb, "vec_id", "embedding", other,
          "graft_ivf_ing"))
      assert(err.getMessage.contains("fingerprint"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ivf_ing_cells")
  }

  test("LSH store: pre-signed probe ≡ in-memory probe; bucket pruning; wrong params refused") {
    // 4-cluster corpus (the multi-probe fixture shape, smaller)
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0), Array(0.0, 0.0, 0.0, 1.0))
    val vecs = (0 until 80).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => (v + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val q = centers(0).toSeq
    try {
      Similarity.writeLshStore(emb, "vec_id", "embedding", "graft_lsh_spec",
        dim = 4, nBits = 8, nBuckets = 8)
      for (flips <- Seq(0, 2)) {
        val mem = Similarity.lshTopK(emb, "vec_id", "embedding", q, 5,
            dim = 4, nBits = 8, maxFlips = flips)
          .select("vec_id", "cos").as[(Long, Double)].collect().toSeq
        val viaStore = Similarity.lshTopKAgainstStore(spark, "graft_lsh_spec",
            "vec_id", q, 5, dim = 4, nBits = 8, maxFlips = flips)
          .select("vec_id", "cos").as[(Long, Double)].collect().toSeq
        assert(viaStore == mem, s"flips=$flips: store $viaStore != mem $mem")
      }
      // the probe's sig predicate reaches the parquet scan in every plan
      // (row-group stats skip on the sig-SORTED files)...
      val plan = Similarity.lshTopKAgainstStore(spark, "graft_lsh_spec",
          "vec_id", q, 5, dim = 4, nBits = 8, maxFlips = 0)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(sig), EqualTo(sig,") ||
        plan.contains("PushedFilters: [IsNotNull(sig), In(sig,"),
        s"sig probe not pushed to the scan:\n$plan")
      // ...and with auto-bucketed-scan disabled (the planner otherwise
      // drops bucketed reading when no join wants the distribution), the
      // single-probe scan BUCKET-prunes to 1 of the 8 buckets
      val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, "false")
        val pruned = Similarity.lshTopKAgainstStore(spark, "graft_lsh_spec",
            "vec_id", q, 5, dim = 4, nBits = 8, maxFlips = 0)
          .queryExecution.executedPlan.toString
        assert(pruned.contains("SelectedBucketsCount: 1 out of 8"),
          s"single-probe scan not bucket-pruned:\n$pruned")
      } finally spark.conf.set(key, prev)
      // mismatched build parameters fail loudly (a different nBits signs
      // differently — the probe would silently miss everything)
      val err = intercept[IllegalArgumentException](
        Similarity.lshTopKAgainstStore(spark, "graft_lsh_spec", "vec_id",
          q, 5, dim = 4, nBits = 16))
      assert(err.getMessage.contains("nBits"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_lsh_spec_sigs")
  }

  test("semanticNearDupPairs/semanticDedup: planted near-pair found, keep-first") {
    import graft.operators.Dedup
    // two tight clusters; within cluster A, ids 1 and 2 are nearly identical
    // (cos > 0.999) while 3 is same-cluster but distinct (cos < 0.99)
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.010f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0102f, 0.0f)),
      (3L, Seq(0.95f, 0.0f, 0.31f, 0.0f)),
      (10L, Seq(0.0f, 1.0f, 0.0f, 0.02f)),
      (11L, Seq(0.0f, 0.95f, 0.0f, 0.31f)))
    val emb = vecs.toDF("vec_id", "embedding")
    val model = Similarity.ivfFit(emb.orderBy("vec_id"), "embedding", k = 2)
    val pairs = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
        model, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
        model, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 10L, 11L))
    // the cluster-blocked pair set at this threshold equals brute force over
    // ALL pairs: near-identical vectors land in the same cell by construction
    val all = vecs.map { case (i, v) => (i, v.map(_.toDouble).toArray) }
    val brutePairs = (for {
      (ia, va) <- all; (ib, vb) <- all if ia < ib
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      cos = dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      if cos >= 0.99
    } yield (ia, ib)).toSet
    assert(pairs == brutePairs)
  }

  test("ivfAssign native kernel ≡ functions formulation (every row, tie-break included)") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    // planted EXACT tie: two centroids equidistant from vec 999 must both
    // resolve to the lower cluster id
    val emb = (vecs :+ (999L, Seq.fill(16)(0.0f))).toDF("vec_id", "embedding")
    val model = Similarity.ivfFit(emb.orderBy("vec_id"), "embedding", k = 23)
    val native = Similarity.ivfAssign(emb, "embedding", model)
      .select("vec_id", "__cluster").as[(Long, Int)].collect().toMap
    val fns = Similarity.ivfAssignFns(emb, "embedding", model)
      .select("vec_id", "__cluster").as[(Long, Int)].collect().toMap
    assert(native == fns)
  }

  test("ivfAssign kernel participates in whole-stage codegen") {
    val rnd = new scala.util.Random(3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/t"
    (1 to 50).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val emb = spark.read.parquet(dir)
    val model = Similarity.ivfFit(emb.orderBy("vec_id"), "embedding", k = 4)
    val plan = Similarity.ivfAssign(emb, "embedding", model)
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks membership in a WholeStageCodegen span
    val line = plan.linesIterator.find(_.contains("graft_ivf_argmin"))
      .getOrElse("")
    assert(line.trim.startsWith("*("), s"argmin not in a codegen span:\n$plan")
  }

  test("autoK: k grows with the corpus, cell size stays bounded") {
    // test-SF corpora resolve to the legacy fixture k (oracle stability)
    assert(Similarity.autoK(500) == 16 && Similarity.autoK(2000) == 16)
    // 10× the sf0.1 corpus: k grows so expected cell size stays ~128
    assert(Similarity.autoK(20000) == 157)
    assert(Similarity.autoK(20000) * 128 >= 20000)
    // k keeps tracking corpus/128 well past the old 2048 ceiling (the
    // SemDeDup paper's ~11k clusters are reachable without an override)…
    assert(Similarity.autoK(1000 * 1000) == 7813)
    // …up to the default centroid-matrix cap
    assert(Similarity.autoK(10L * 1000 * 1000) == 16384)
  }

  test("ivfFit distributed-sample path: planted centers recovered, bit-deterministic, k > 2048 capable") {
    // 4 well-separated planted centers in dim 4, 4000 jittered points;
    // fitSampleCap > 2048 forces the distributed-sample path
    val base = Seq(
      Seq(10.0, 0.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 0.0), Seq(0.0, 0.0, 0.0, 10.0))
    val rows = (0 until 4000).map { i =>
      (i.toLong, base(i % 4).map(x => x + (i % 7) * 0.01))
    }
    val emb = rows.toDF("vec_id", "embedding")
    def fit() = Similarity.ivfFit(emb.orderBy("vec_id"), "embedding",
      k = 4, fitSampleCap = 4096, maxIter = 5)
    val m1 = fit()
    assert(m1.centers.length == 4)
    // order-independent integer-micros means ⇒ refitting is bit-identical
    // despite the distributed aggregation — the property the generated
    // centroid-literal oracles rely on
    val m2 = fit()
    assert(m1.centers.map(_.toSeq) sameElements m2.centers.map(_.toSeq))
    // every planted center recovered well inside the jitter envelope
    base.foreach { c =>
      val d = m1.centers.map(f =>
        math.sqrt(c.zip(f).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(d < 0.5, s"planted center $c not recovered (nearest at $d)")
    }
    // k past the old 2048 ceiling actually fits (and returns k centers)
    val big = (0 until 9000).map(i =>
      (i.toLong, Seq.tabulate(4)(j => ((i * 31 + j * 7) % 100).toDouble)))
      .toDF("vec_id", "embedding")
    val mk = Similarity.ivfFit(big.orderBy("vec_id"), "embedding",
      k = 2100, fitSampleCap = 8192, maxIter = 2)
    assert(mk.centers.length == 2100)
  }

  test("centroidDrift: self-identity 1.0, one-sided labels NULL, planted shift detected") {
    val ref = Seq(
      (1L, 0L, Seq(1.0f, 0.0f)), (2L, 0L, Seq(1.0f, 0.2f)),
      (3L, 1L, Seq(0.0f, 1.0f)), (4L, 1L, Seq(0.2f, 1.0f)),
      (5L, 9L, Seq(0.5f, 0.5f))) // label 9 only in ref
      .toDF("vec_id", "label", "embedding")
    val self = Similarity.centroidDrift(ref, ref, "label", "embedding")
      .collect().map(r => r.getLong(0) -> r.get(3)).toMap
    assert(self(0L) == 1.0 && self(1L) == 1.0 && self(9L) == 1.0)
    // cur: label 0 unchanged, label 1 flipped to the x-axis (big drift),
    // label 9 absent, label 7 new
    val cur = Seq(
      (1L, 0L, Seq(1.0f, 0.0f)), (2L, 0L, Seq(1.0f, 0.2f)),
      (3L, 1L, Seq(1.0f, 0.0f)), (4L, 1L, Seq(1.0f, 0.2f)),
      (6L, 7L, Seq(0.3f, 0.3f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidDrift(ref, cur, "label", "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), Option(r.get(3))))).toMap
    assert(got(0L) == ((true, true, Some(1.0))))
    val (ir, ic, cos1) = got(1L)
    assert(ir && ic && cos1.exists(_.asInstanceOf[Double] < 0.25))
    assert(got(9L) == ((true, false, None)))
    assert(got(7L) == ((false, true, None)))
  }

  test("kmeansRefine: hand-computed floor-micros means, empty-cluster carry, range guard") {
    // two tight groups; init centers already separate them, so one refine
    // iteration must land each center on the group's exact floor-micros mean
    val pts = Seq(
      (1L, Seq(0.1, 0.2)), (2L, Seq(0.3, 0.4)), (3L, Seq(0.2, 0.3)),
      (4L, Seq(3.1, 3.0)), (5L, Seq(2.9, 3.2)))
    val emb = pts.toDF("vec_id", "embedding")
    val init = Similarity.IvfModel(Array(Array(0.0, 0.0), Array(3.0, 3.0)))
    val got = Similarity.kmeansRefine(emb, "embedding", init, iters = 1)
    def floorMean(xs: Seq[Double]): Double = {
      val micros = xs.map(x => math.round(x * 1000000L) + 4000000L)
      (micros.sum / micros.size - 4000000L) / 1000000.0
    }
    val want = Array(
      Array(floorMean(Seq(0.1, 0.3, 0.2)), floorMean(Seq(0.2, 0.4, 0.3))),
      Array(floorMean(Seq(3.1, 2.9)), floorMean(Seq(3.0, 3.2))))
    assert(got.centers.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    // determinism: a second refine run is bit-identical
    val again = Similarity.kmeansRefine(emb, "embedding", init, iters = 1)
    assert(again.centers.map(_.toSeq).toSeq == got.centers.map(_.toSeq).toSeq)
    // a centroid no point assigns to keeps its init coordinates
    val init3 = Similarity.IvfModel(
      Array(Array(0.0, 0.0), Array(3.0, 3.0), Array(100.0, 100.0)))
    val g3 = Similarity.kmeansRefine(emb, "embedding", init3, iters = 2)
    assert(g3.centers(2).toSeq == Seq(100.0, 100.0))
    // components below the −4 offset domain raise loudly, not silently wrap
    val bad = Seq((1L, Seq(-5.0, 0.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.kmeansRefine(bad, "embedding", init, iters = 1))
    assert(e.getMessage.contains("offset-shifted"))
    // parameter guards
    val e2 = intercept[IllegalArgumentException](
      Similarity.kmeansRefine(emb, "embedding", init, iters = 0))
    assert(e2.getMessage.contains("iters"))
  }

  test("corpus-size parameter profile: legacy constants at test SFs, log2 growth past them") {
    // the oracle-stability contract: every driver test SF (500 / 5000 docs)
    // must resolve to the constants the static oracle SQL encodes
    assert(Offline.jaccardLshParams(500) == (16, 8))
    assert(Offline.jaccardLshParams(5000) == (16, 8))
    assert(Offline.jaccardLshParams(8192) == (16, 8))
    // +1 row-per-band per 8x corpus past 8k docs
    assert(Offline.jaccardLshParams(50000) == (24, 8))
    assert(Offline.jaccardLshParams(150000) == (32, 8))
    assert(Offline.containmentFreqCap(500) == Long.MaxValue)
    assert(Offline.containmentFreqCap(10000) == Long.MaxValue)
    // 8·log2(n) past 10k docs
    assert(Offline.containmentFreqCap(50000) == 124L)
    assert(Offline.containmentFreqCap(150000) == 137L)
    // the PRODUCTION capped profile: floor 32 covers the correctness SFs
    // (max observed shingle doc-freq 7 / 25 — the ground-truth oracle
    // stays exact), 3·log2(n) past the floor
    assert(Offline.containmentFreqCapScaled(500) == 32L)
    assert(Offline.containmentFreqCapScaled(5000) == 36L)
    assert(Offline.containmentFreqCapScaled(150000) == 51L)
    // banded-hyperplane bandBits: fixture floor 12 at the test SFs (500 /
    // 2000 embeddings), ceil(log2 n)+3 past them, 60-bit pack cap 15
    assert(Offline.embeddingBandBits(500) == 12)
    assert(Offline.embeddingBandBits(2000) == 14)
    assert(Offline.embeddingBandBits(20000) == 15)
    assert(Offline.embeddingBandBits(100L * 1000 * 1000) == 15)
    // wide-simhash per-band width: legacy 15 (60-bit signature) at the
    // fixture floor, ceil(log2 n)+3 past it, 30 (120-bit) at the cap
    assert(Offline.simhashBandBits(500) == 15)
    assert(Offline.simhashBandBits(5000) == 16)
    assert(Offline.simhashBandBits(150000) == 21)
    assert(Offline.simhashBandBits(1L << 40) == 30)
  }

  test("oversized blocks fail loudly, in-plan, before any pairwise work") {
    import graft.operators.Dedup
    // 40 vectors, ONE constant block key — the planted mis-use: a blocking
    // key whose cardinality does not grow with the corpus
    val vecs = (1 to 40).map(i => (i.toLong, "all", Seq(1.0f, i.toFloat)))
    val emb = vecs.toDF("vec_id", "label", "embedding")
    val e = intercept[Exception] {
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.0,
        Seq(col("label")), maxBlockRows = 10).count()
    }
    assert(e.getMessage.contains("maxBlockRows"), e.getMessage)
    // within bound → same pairs as before the guard existed
    val n = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.999,
      Seq(col("label")), maxBlockRows = 100).count()
    assert(n > 0)
    // the SemDeDup twin: a model whose k is too small for the corpus trips
    // the cell guard; autoK-sized cells pass
    val emb2 = emb.select(col("vec_id"), col("embedding"))
    val tiny = Similarity.ivfFit(emb2.orderBy("vec_id"), "embedding", k = 1)
    val e2 = intercept[Exception] {
      Dedup.semanticNearDupPairs(emb2, "vec_id", "embedding", tiny,
        threshold = 0.0, maxCellRows = 10).count()
    }
    assert(e2.getMessage.contains("maxBlockRows"), e2.getMessage)
    assert(Dedup.semanticNearDupPairs(emb2, "vec_id", "embedding", tiny,
      threshold = 0.999, maxCellRows = 100).count() > 0)
  }

  test("int8 quantization: exact cells, and int8 top-k tracks exact cosine") {
    import spark.implicits._
    // known cells: maxabs 1.0 -> scale 1/127; round-half-AWAY on negatives
    val q = Seq(Tuple1(Seq(1.0f, -0.5f, 0.25f, 0.0f))).toDF("v")
      .select(Similarity.int8Quantize(col("v"),
        Similarity.int8Scale(col("v"))).as("q"))
      .head().getSeq[Int](0)
    assert(q == Seq(127, -64, 32, 0)) // -0.5/ (1/127) = -63.5 -> -64
    // all-zero vector: epsilon floor, quantizes to zeros (no div-by-zero)
    val z = Seq(Tuple1(Seq(0.0f, 0.0f))).toDF("v")
      .select(Similarity.int8Quantize(col("v"),
        Similarity.int8Scale(col("v"))).as("q"))
      .head().getSeq[Int](0)
    assert(z == Seq(0, 0))
    // ranking fidelity on the real fixture: int8 top-10 overlaps the exact
    // float-cosine top-10 in >= 7 of 10 (quantization error ~1/254 per
    // component; the fixture's neighbor gaps dwarf it)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val rest = emb.filter(col("vec_id") =!= 1)
    val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0)).toSet
    val int8 = Similarity.int8TopK(rest, "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(int8).size >= 7,
      s"int8 recall too low: ${exact.intersect(int8).size}/10")
  }

  test("int8 store twin: pre-quantized probe equals the on-the-fly path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    Similarity.writeInt8Store(emb, "vec_id", "embedding", "graft_i8_test",
      nBuckets = 4)
    try {
      val fly = Similarity.int8TopK(emb.filter(col("vec_id") =!= 1),
          "vec_id", "embedding", qv, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val store = Similarity.int8TopKAgainstStore(spark, "graft_i8_test",
          "vec_id", qv, 10, extraFilter = col("vec_id") =!= 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fly == store, s"store twin diverged: $fly vs $store")
      // byte storage really happened: qvec is array<tinyint> in the store
      val t = spark.table("graft_i8_test_q")
      assert(t.schema("qvec").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ByteType, containsNull = false) ||
        t.schema("qvec").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ByteType, containsNull = true))
    } finally spark.sql("DROP TABLE IF EXISTS graft_i8_test_q")
  }

  test("IVF-PQ composite: pruned code probe ≡ restrict-then-ADC; byte scan") {
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
                 else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + (i * (j + 1)) * 1e-4f }.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val (ivfM, assigned) = Similarity.ivfBuild(emb, "embedding", k = 4)
    val pqM = Similarity.pqFit(emb.orderBy("vec_id"), "embedding",
      m = 2, ksub = 4)
    val q = Seq(1.0, 0.0, 0.0, 0.0)
    try {
      Similarity.writeIvfPqStore(emb, "vec_id", "embedding", ivfM, pqM,
        "graft_ivfpq_spec")
      val got = Similarity.ivfPqTopK(spark, "graft_ivfpq_spec", ivfM, pqM,
        "vec_id", q, k = 5, nprobe = 2)
      val rows = got.as[(Long, Double)].collect().toSeq
      // reference: restrict the corpus to the probed cells in memory, then
      // run plain PQ-ADC over that restriction — the composite must equal it
      val probes = ivfM.centers.indices
        .map(i => (i, Similarity.sqNorm(ivfM.centers(i)) -
          2.0 * ivfM.centers(i).zip(q).map { case (a, b) => a * b }.sum))
        .sortBy { case (i, d) => (d, i) }.take(2).map(_._1).toSet
      val restricted = assigned
        .filter(col("__cluster").isin(probes.map(Int.box).toSeq: _*))
      val want = Similarity.pqAdcTopK(restricted, "vec_id", "embedding",
        q, pqM, k = 5).as[(Long, Double)].collect().toSeq
      assert(rows == want, s"composite $rows != restrict-then-ADC $want")
      // partition pruning + bytes-only scan: the probe must never read a
      // float 'embedding' column and must prune on __cluster
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("__cluster"),
        s"ivfpq probe not partition-pruned:\n$plan")
      assert(!plan.contains("embedding"),
        s"ivfpq probe reads float vectors:\n$plan")
      // either wrong model is refused
      val otherIvf = Similarity.IvfModel(ivfM.centers.map(_.map(_ + 0.25)))
      intercept[IllegalArgumentException](
        Similarity.ivfPqTopK(spark, "graft_ivfpq_spec", otherIvf, pqM,
          "vec_id", q, k = 5))
      val otherPq = Similarity.PqModel(pqM.codebooks.map(_.map(_.map(_ + 1))))
      intercept[IllegalArgumentException](
        Similarity.ivfPqTopK(spark, "graft_ivfpq_spec", ivfM, otherPq,
          "vec_id", q, k = 5))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_pqcells")
  }

  test("pqCodes ≡ plain-Scala per-subspace argmin recompute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.pqFit(emb.orderBy("vec_id"), "embedding")
    val got = emb.select(col("vec_id"),
        Similarity.pqCodes(col("embedding"), model).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val sub = model.subDim
    vecs.foreach { case (id, v) =>
      val want = (0 until model.m).map { j =>
        val sv = java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)
        // the kernel's exact formula: n2 − 2·dot, strict <, first minimum
        var best = 0; var bestD = Double.MaxValue
        model.codebooks(j).zipWithIndex.foreach { case (c, ci) =>
          var d = 0.0; var t = 0
          while (t < sub) { d += sv(t) * c(t); t += 1 }
          val dist = Similarity.sqNorm(c) - 2.0 * d
          if (dist < bestD) { bestD = dist; best = ci }
        }
        (best - 128).toByte // the storage bias shift (Similarity.pqCodes)
      }
      assert(got(id) == want, s"codes diverged for vec $id")
    }
  }

  test("pq codes >= 128 survive the byte round-trip (ksub = 256)") {
    // handcrafted model: per subspace, 256 centroids at distinct scalar
    // positions, so a vector placed AT centroid c encodes to code c — in
    // particular codes >= 128, which a plain ByteType cast corrupts (ANSI
    // raise at encode, or wrapped-negative LUT indexing with ANSI off).
    // The assertion is end-to-end: pqAdcTopK must rank the vector sitting
    // at the query's own centroid first with its exact LUT distance.
    val cb = Array.tabulate(1, 256, 1)((_, c, _) => c.toDouble)
    val model = Similarity.PqModel(cb)
    val emb = Seq(
      (1L, Seq(200.0f)), // encodes to code 200 (> 127)
      (2L, Seq(10.0f)),
      (3L, Seq(255.0f))
    ).toDF("vec_id", "embedding")
    val codes = emb.select(col("vec_id"),
        Similarity.pqCodes(col("embedding"), model).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1).head).toMap
    assert(codes(1L) == (200 - 128).toByte && codes(3L) == (255 - 128).toByte,
      s"bias-shifted storage bytes wrong: $codes")
    val got = Similarity.pqAdcTopK(emb, "vec_id", "embedding",
        query = Seq(200.0), model, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // ADC distance at the matching centroid: |c|^2 - 2*q*c + |q|^2 =
    // (200-200)^2 = 0; next nearest is 255 → (255-200)^2 = 3025
    assert(got.head == ((1L, 0.0)), s"ksub=256 ADC broken: ${got.toSeq}")
    assert(got(1) == ((3L, 3025.0)), s"ksub=256 ADC broken: ${got.toSeq}")
  }

  test("pq ADC: top-10 overlaps exact L2 top-10; store twin bit-identical") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.pqFit(emb.orderBy("vec_id"), "embedding")
    val qv = emb.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val corpus = emb.filter(col("vec_id") =!= 1)
    val fly = Similarity.pqAdcTopK(corpus, "vec_id", "embedding", qv, model,
        k = 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Similarity.bruteL2TopK(corpus, "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0)).toSet
    // pure ADC is cell-resolution-limited on structure-free random vectors
    // (~0.3 recall@10, the Similarity scaladoc) — the floor here pins
    // "better than chance", the rerank assertion below pins quality
    assert(fly.map(_._1).toSet.intersect(exact).size >= 2,
      s"PQ recall too low: ${fly.map(_._1).toSet.intersect(exact).size}/10")
    // ADC top-50 → exact re-rank recovers the true neighbors
    val rr = Similarity.pqAdcRerankTopK(corpus, "vec_id", "embedding", qv,
        model, k = 10, rerank = 50).collect().map(_.getLong(0)).toSet
    assert(rr.intersect(exact).size >= 8,
      s"PQ+rerank recall too low: ${rr.intersect(exact).size}/10")
    Similarity.writePqStore(emb, "vec_id", "embedding", model,
      "graft_pq_test", nBuckets = 4)
    try {
      val store = Similarity.pqAdcTopKAgainstStore(spark, "graft_pq_test",
          "vec_id", qv, model, k = 10, extraFilter = col("vec_id") =!= 1)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(fly == store, s"PQ store twin diverged: $fly vs $store")
      // code storage really happened: m bytes per vector
      val t = spark.table("graft_pq_test_pq")
      assert(t.schema("codes").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType == org.apache.spark.sql.types.ByteType)
      // probing under a DIFFERENT model fails loudly (fingerprint check)
      val other = Similarity.PqModel(
        model.codebooks.map(_.map(_.map(_ + 1.0))))
      val e = intercept[IllegalArgumentException](
        Similarity.pqAdcTopKAgainstStore(spark, "graft_pq_test", "vec_id",
          qv, other, k = 10))
      assert(e.getMessage.toLowerCase.contains("param") ||
        e.getMessage.contains("fp"))
      // a store missing the byte-encoding version tag (i.e. written by a
      // pre-bias128 build whose raw-cast codes this decoder would read at
      // wrong LUT slots) fails LOUDLY at probe time with rebuild advice —
      // enc is a REQUIRED property, unlike the back-compat-optional ones
      spark.sql(
        "ALTER TABLE graft_pq_test_pq UNSET TBLPROPERTIES ('graft.enc')")
      val encErr = intercept[IllegalArgumentException](
        Similarity.pqAdcTopKAgainstStore(spark, "graft_pq_test", "vec_id",
          qv, model, k = 10))
      assert(encErr.getMessage.contains("graft.enc") &&
        encErr.getMessage.toLowerCase.contains("rebuild"),
        s"pre-enc store must demand a rebuild: ${encErr.getMessage}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_pq_test_pq")
  }

  test("jlProjectMicros: exact integer sums, partition-immune, JL geometry holds") {
    import graft.operators.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vecs = (1L to 40L).map(i =>
      (i, Seq.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    // hand case: inDim 2 → outDim 1 with the actual sign literals
    val signs = Similarity.jlSigns(2, 1, seed = 42L)
    val tiny = Seq((1L, Seq(0.5f, -0.25f))).toDF("vec_id", "embedding")
    val y = Similarity.jlProjectMicros(tiny, "vec_id", "embedding", 2, 1)
      .head().getLong(2)
    assert(y == signs(0)(0) * 500000L + signs(0)(1) * -250000L, y)
    // partitioning immunity: exact integer sums can't drift
    val a = Similarity.jlProjectMicros(vecs, "vec_id", "embedding", 64, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val b = Similarity.jlProjectMicros(vecs.repartition(7), "vec_id",
      "embedding", 64, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a == b)
    // JL geometry for THIS fixed seed/data (deterministic, not a flake):
    // ||ya−yb||² / (m·||xa−xb||²) concentrates near 1
    val xm = vecs.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(v =>
        math.round(v.toDouble * 1e6)).toArray
    }.toMap
    val proj = a.toSeq.groupBy(_._1._1).map { case (id, kv) =>
      id -> kv.sortBy(_._1._2).map(_._2).toArray
    }
    val ratios = for (i <- 1L to 20L; j <- (i + 1) to 21L) yield {
      val dx = xm(i).zip(xm(j)).map { case (p, q) => (p - q).toDouble }
        .map(d => d * d).sum
      val dy = proj(i).zip(proj(j)).map { case (p, q) => (p - q).toDouble }
        .map(d => d * d).sum
      dy / (16.0 * dx)
    }
    assert(ratios.forall(r => r > 0.2 && r < 2.5),
      s"JL distortion out of band: min=${ratios.min} max=${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL mean ratio drifted: $mean")
  }
}

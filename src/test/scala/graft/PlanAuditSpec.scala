package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale-critical physical-plan properties
  * (parquet predicate pushdown, column pruning, no single-partition
  * exchanges) asserted on executed plans, so a wrapper change that silently
  * breaks them fails CI instead of only showing up in a manual
  * `runMain graft.Explain` audit. */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_plan_audit").toString
    (1L to 500L).map(i => (i, i % 7, s"name_$i", i * 1.5))
      .toDF("id", "grp", "name", "x")
      .write.mode("overwrite").parquet(d)
    d
  }

  /** executed-plan string (collect() finalizes the AQE plan). */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  test("filter through the DF wrapper reaches the parquet scan (PushedFilters)") {
    val df = DF.fromSpark(spark.read.parquet(dir))
    val plan = finalPlan(df.filter(col("grp") === 3).toSpark)
    assert(plan.contains("PushedFilters: ["),
      s"no pushed filters section in:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(grp,3\\).*"),
      s"grp=3 not pushed to the scan:\n$plan")
  }

  test("projection through the DF wrapper prunes the read schema") {
    val df = DF.fromSpark(spark.read.parquet(dir))
    val plan = finalPlan(df.columns(Sel.Names(Seq("id", "x"))).toSpark)
    // ReadSchema must contain only the projected columns
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("id") && read.contains("x") &&
      !read.contains("name") && !read.contains("grp"),
      s"scan reads unprojected columns: $read")
  }

  test("wrapper aggregate keeps whole-stage codegen and avoids SinglePartition") {
    val df = DF.fromSpark(spark.read.parquet(dir))
    val plan = finalPlan(
      df.toSpark.groupBy("grp").agg(sum("x").as("sx")).orderBy("grp"))
    assert(plan.contains("[codegen id :"), s"no codegen span in:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange in:\n$plan")
  }

  test("bloomSemiJoin: might_contain filters the fact scan stage, codegen'd") {
    import graft.operators.Relational
    val fact = spark.read.parquet(dir)
    val dim = spark.read.parquet(dir).filter(col("grp") === 0).select(col("id").as("dk"))
    val plan = finalPlan(Relational.bloomSemiJoin(fact, dim, "id", "dk",
      expectedItems = 100L, numBits = 1L << 12))
    // the bloom probe must sit in a Filter on the fact side (same codegen
    // stage as the scan), not after the join
    assert(plan.contains("might_contain"), s"no bloom probe in:\n$plan")
    assert(plan.contains("[codegen id :"), s"no codegen span in:\n$plan")
  }

  test("chunkAssignments window partitions by the group key (no SinglePartition)") {
    import graft.operators.TextAnalysis
    val docs = (1L to 300L).map(i => (i, s"tok$i word another t$i", s"s${i % 5}"))
      .toDF("doc_id", "text", "source")
    val plan = finalPlan(
      TextAnalysis.chunkAssignments(docs, "doc_id", "text", "source", budget = 16))
    assert(!plan.contains("SinglePartition"),
      s"global window would serialize packing:\n$plan")
  }

  test("shardAssignments: global prefix sum runs bucketed, no SinglePartition") {
    import graft.operators.TextAnalysis
    val docs = (1L to 300L).map(i => (i, s"tok$i word another t$i"))
      .toDF("doc_id", "text")
    // the corpus-wide running offset must come from the two-phase scan
    // (bucket partials + offset broadcast + per-bucket windows) — the
    // naive Window.orderBy(no partitionBy) form plans SinglePartition
    val plan = finalPlan(
      TextAnalysis.shardAssignments(docs, "doc_id", "text", budget = 64))
    assert(!plan.contains("SinglePartition"),
      s"global window would serialize shard planning:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"bucket offsets must broadcast, not shuffle:\n$plan")
  }

  test("labelCentroids aggregates with partial (map-side) combine") {
    import graft.operators.Similarity
    val emb = (1L to 200L).map(i =>
      (i, Seq.fill(8)((i % 13).toFloat), s"l${i % 3}")).toDF("id", "embedding", "label")
    val plan = finalPlan(Similarity.labelCentroids(emb, "label", "embedding"))
    // two HashAggregates (partial + final) around one exchange — the shuffle
    // carries labels × dim rows, not corpus × dim
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"missing partial aggregate in:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-partition agg in:\n$plan")
  }

  // parquet corpus fixture for the single-scan text-operator audits: scan
  // counting needs a real file source ("Scan parquet" nodes), not a LocalRelation
  private lazy val docsDir: String = {
    val d = Files.createTempDirectory("graft_plan_docs").toString
    (1L to 300L).map(i =>
        (i, s"alpha tok$i beta gamma${i % 7} delta common words here t$i"))
      .toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(d)
    d
  }

  private def countInGroup(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, "job-count assertion")
    try body finally spark.sparkContext.clearJobGroup()
    def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    Thread.sleep(200) // absorb trailing job-start events (event-bus fed)
    jobs
  }

  /** the Final-Plan section only — formatted AQE explain repeats every node
    * in the Initial-Plan and node-detail sections, so substring counts over
    * the whole string overcount scans 3×. */
  private def finalSection(plan: String): String =
    plan.split("== Initial Plan ==")(0)

  test("tfIdfTopTerms scans the corpus ONCE (tf checkpointed, no df.count action)") {
    import graft.operators.TextAnalysis
    val corpus = spark.read.parquet(docsDir)
    var result: org.apache.spark.sql.DataFrame = null
    // construction = the tf-matrix checkpoint, ONE aggregate pass over the
    // corpus (≤2 AQE scheduler jobs: partial-agg shuffle stage + final).
    // The old implementation additionally ran a full df.count() corpus scan
    // + driver sync, and left tf lazy → 3 corpus scans in the scoring job.
    val buildJobs = countInGroup("tfidf-build") {
      result = TextAnalysis.tfIdfTopTerms(corpus, "doc_id", "text", 3)
    }
    assert(buildJobs <= 2,
      s"tfIdfTopTerms ran $buildJobs jobs at construction, expected <= 2 (one corpus pass)")
    val plan = finalSection(finalPlan(result))
    // scoring job reads only the checkpointed tf matrix — zero parquet scans
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0, s"scoring job re-scans the corpus ($scans scans) in:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"tf matrix not read from the checkpoint in:\n$plan")
    assert(result.count() > 0)
  }

  test("bigramLogProb scans/tokenizes the corpus ONCE (pair table checkpointed)") {
    import graft.operators.TextAnalysis
    val corpus = spark.read.parquet(docsDir)
    var result: org.apache.spark.sql.DataFrame = null
    val buildJobs = countInGroup("bigram-build") {
      result = TextAnalysis.bigramLogProb(corpus, "doc_id", "text")
    }
    assert(buildJobs <= 2,
      s"bigramLogProb ran $buildJobs jobs at construction, expected <= 2 " +
        "(one tokenize+pair pass into the checkpoint)")
    val plan = finalSection(finalPlan(result))
    // the scoring job joins the two frequency tables and the pairs, ALL off
    // the one checkpoint — zero parquet scans, no re-tokenization
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0, s"scoring job re-scans the corpus ($scans scans) in:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"pair table not read from the checkpoint in:\n$plan")
    assert(result.count() > 0)
  }

  test("attachId/reindex stay multi-partition (distributed zipWithIndex, no global funnel)") {
    val df = (1L to 4000L).map(i => (i, s"v$i")).toDF("k", "v").repartition(8)
    val withId = DF.attachId(df)
    // zipWithIndex preserves the input partitioning — a Window.orderBy
    // row_number formulation would funnel all rows through ONE partition
    assert(withId.rdd.getNumPartitions == df.rdd.getNumPartitions,
      s"attachId changed partitioning: ${withId.rdd.getNumPartitions}")
    assert(df.rdd.getNumPartitions > 1)
    val ids = withId.select(DF.ROW_ID).as[Long].collect().sorted
    assert(ids.toSeq == (0L until 4000L), "ids not dense 0..n-1")
    // reindex: sparse → dense, order preserved, still range-partitioned.
    // AQE legitimately coalesces 4000 tiny rows to one partition, so switch
    // coalescing off for the assertion — the invariant is that reindex's
    // range-repartition NEVER REQUIRES a single partition (a global sort /
    // window would), not that AQE can't right-size small data.
    val sparse = withId.withColumn(DF.ROW_ID, col(DF.ROW_ID) * 7 + 3)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val re =
      try { spark.conf.set(coalesceKey, "false"); DF.reindex(sparse) }
      finally spark.conf.set(coalesceKey, prev)
    assert(re.rdd.getNumPartitions > 1,
      s"reindex collapsed to ${re.rdd.getNumPartitions} partition(s)")
    val pairs = re.select(col("k"), col(DF.ROW_ID)).as[(Long, Long)].collect()
    // original k order (which dense ids followed) must be preserved
    val byNewId = pairs.sortBy(_._2).map(_._1)
    val byOldId = withId.select(col("k"), col(DF.ROW_ID)).as[(Long, Long)]
      .collect().sortBy(_._2).map(_._1)
    assert(byNewId.toSeq == byOldId.toSeq, "reindex broke row order")
    assert(pairs.map(_._2).sorted.toSeq == (0L until 4000L), "reindex ids not dense")
  }

  test("unigramLogProb scoring plan reads the corpus ONCE (vocab from checkpoint)") {
    import graft.operators.TextAnalysis
    val corpus = spark.read.parquet(docsDir)
    var result: org.apache.spark.sql.DataFrame = null
    // construction = the vocab checkpoint only (≤2 AQE jobs, one corpus
    // pass). The old implementation additionally ran a driver `.head` over
    // the checkpoint for the corpus total; it is now a broadcast 1-row
    // aggregate inside the scoring plan — zero extra jobs, no driver sync.
    val buildJobs = countInGroup("unigram-build") {
      result = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
    }
    assert(buildJobs <= 2,
      s"unigramLogProb ran $buildJobs jobs at construction, expected <= 2")
    val plan = finalSection(finalPlan(result))
    // vocab side must come from the localCheckpoint (ExistingRDD), leaving a
    // single parquet scan — previously the corpus was tokenized twice in the
    // scoring job (vocab branch + join branch) plus once for the total
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 corpus scan, found $scans in:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"vocabulary not read from the checkpoint in:\n$plan")
  }

  test("removeBoilerplateLines: postings from the checkpoint, residual scans pruned of text") {
    import graft.operators.TextAnalysis
    val corpus = spark.read.parquet(docsDir)
      .withColumn("host", (col("doc_id") % 3).cast("string"))
    val full = finalPlan(TextAnalysis.removeBoilerplateLines(
      corpus, "doc_id", "text", "host"))
    val plan = finalSection(full)
    // the BOILER set (hosts × chrome lines, tiny) is the checkpointed
    // frame feeding the anti-join — never a corpus-sized postings pin.
    // (AQE prints reused query-stage subtrees only in the full details.)
    assert(full.contains("ExistingRDD"),
      s"boiler set not read from the checkpoint in:\n$full")
    // exactly ONE scan in the scoring plan reads the text column (the
    // anti-join postings side); the skeleton and doc-count scans must be
    // PRUNED of it. (ReadSchema lives in the detail section, so scan the
    // FULL formatted output.)
    // details list every node once for the final AND once for the initial
    // plan — judge DISTINCT schemas
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(full).toList.distinct
    assert(reads.nonEmpty, s"no ReadSchema details in:\n$full")
    val textReads = reads.count(_.contains("text"))
    assert(textReads == 1,
      s"expected exactly 1 text-reading scan shape, got $textReads: $reads")
    // reassembly groups by doc id — never a global window/single partition
    assert(!plan.contains("SinglePartition"), s"global exchange in:\n$plan")
  }

  test("hashedClassify: row-local kernel projection, no aggregate, no join") {
    import graft.operators.TextAnalysis
    val corpus = spark.read.parquet(docsDir)
    val models = Seq(
      "a" -> TextAnalysis.syntheticQualityModel(64, 1L),
      "b" -> TextAnalysis.syntheticQualityModel(64, 2L),
      "c" -> TextAnalysis.syntheticQualityModel(64, 3L))
    val plan = finalSection(finalPlan(
      TextAnalysis.hashedClassify(corpus, "doc_id", "text", models)))
    // weights are plan literals riding the HashedClassifyExpr kernel (r22):
    // classification must be scan → kernel filter/projection — per-class
    // sums never leave their row, so NO join, NO aggregate, NO exchange
    assert(!plan.contains("Join"), s"unexpected join (weights should be literals):\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Exchange"),
      s"classification must be row-local (r22 kernel), got:\n$plan")
    assert(plan.contains("graft_hashed_classify"),
      s"expected the fused kernel in the plan:\n$plan")
    // exchange-free plans print tree AND numbered details in one section —
    // count the numbered operator headers, not every textual mention
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 corpus scan, got $scans:\n$plan")
  }

  test("spanOverlapPairs: keyed joins only, diagonal windows stay partitioned") {
    import graft.operators.Dedup
    val run = (1 to 10).map(i => s"shared$i").mkString(" ")
    val docs = (1L to 120L).map { i =>
      val base = (1 to 30).map(j => s"w${i}x$j").mkString(" ")
      (i, if (i % 2 == 0) s"$base $run tail$i" else base)
    }.toDF("doc_id", "text")
    val plan = finalPlan(Dedup.spanOverlapPairs(docs, "doc_id", "text", minRun = 8))
    // the self-join must key on the window hash and the islands window must
    // partition by (pair, diagonal) — a global window or an unkeyed join
    // would serialize/explode at scale
    assert(!plan.contains("SinglePartition"), s"global funnel in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unkeyed join in:\n$plan")
  }

  test("semanticNearDupPairs: cluster-keyed join, argmin assignment is a projection") {
    import graft.operators.{Dedup, Similarity}
    val emb = (1L to 200L).map { i =>
      (i, (0 until 8).map(j => (if (j == (i % 4).toInt) 1.0f else 0.0f) +
        (i % 7) * 1e-3f).toSeq)
    }.toDF("vec_id", "embedding")
    val model = Similarity.ivfFit(emb.orderBy("vec_id"), "embedding", k = 4)
    val plan = finalPlan(
      Dedup.semanticNearDupPairs(emb, "vec_id", "embedding", model, 0.999))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairing must join ON the cluster id:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global funnel in:\n$plan")
  }

  test("contaminationScores: benchmark side broadcasts; corpus join is BHJ") {
    import graft.operators.Dedup
    val corpus = spark.read.parquet(docsDir)
    val bench = corpus.filter(col("doc_id") % 50 === 0)
    val plan = finalPlan(
      Dedup.contaminationScores(corpus, "doc_id", "text", bench, "text"))
    // the pooled eval-set shingles must reach the corpus as a broadcast —
    // a sort-merge join here would shuffle the full corpus postings
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus postings shuffled for the benchmark join:\n$plan")
  }

  test("attributionJoin (batch form): equi-keyed join with range condition, no cartesian") {
    import graft.streaming.Streams
    val events = (1L to 400L).map { i =>
      (i, new java.sql.Timestamp(1700000000000L + i * 60000L), i % 20,
        if (i % 3 == 0) "click" else "purchase", i * 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val plan = finalPlan(
      Streams.attributionJoin(events, "click", "purchase", "1 hour"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"attribution join lost its user_id equi-key:\n$plan")
  }

  test("heavy dedup family: plan invariants hold unchanged at a 10x corpus") {
    // the round-10 empirical scale stress in miniature: the same fixture
    // corpus at 1x and at 10x (GenScale's salting scheme — every 5th token
    // suffixed per replica, so the dup RATE stays constant instead of every
    // doc becoming a 10-clique), asserting the scale invariants the 1x
    // plan-audit tests pin do not degrade as statistics grow: all joins
    // stay keyed (no Cartesian/BNLJ fallback) and no window/aggregate
    // funnels to a single partition.
    import graft.operators.Dedup
    val run = (1 to 10).map(i => s"shared$i").mkString(" ")
    val base = (1L to 60L).map { i =>
      val body = (1 to 30).map(j => s"w${i}x$j").mkString(" ")
      (i, if (i % 2 == 0) s"$body $run tail$i" else body)
    }
    def replicate(factor: Int) = (0 until factor).flatMap { r =>
      base.map { case (id, text) =>
        val toks = text.split(" ").zipWithIndex.map { case (t, i) =>
          if (r > 0 && i % 5 == 0) s"${t}_$r" else t
        }
        (id + r * 10000000L, toks.mkString(" "))
      }
    }.toDF("doc_id", "text")
    for (factor <- Seq(1, 10)) {
      val docs = replicate(factor)
      val plans = Seq(
        "span"    -> finalPlan(Dedup.spanOverlapPairs(docs, "doc_id", "text", minRun = 8)),
        "minhash" -> finalPlan(Dedup.minhashDedup(docs, "doc_id", "text", 0.5,
          numHashes = 32, bands = 8)),
        "minhash_md5" -> finalPlan(Dedup.minhashDedup(docs, "doc_id", "text", 0.5,
          numHashes = 16, bands = 4, portable = true)),
        "contain" -> finalPlan(Dedup.ngramContainmentPrefix(docs, "doc_id", "text", 0.7)),
        "simhash_wide" -> finalPlan(Dedup.simhashHammingPairsWide(
          docs, "doc_id", "text", nBits = 84, maxHamming = 3, portable = true)))
      plans.foreach { case (name, plan) =>
        assert(!plan.contains("CartesianProduct"),
          s"$name lost its join key at ${factor}x:\n$plan")
        // a BNLJ is a lost join key — EXCEPT the containment mass guard,
        // a deliberate 1-row broadcast (round 17) that must stay visible
        // in the audited plan; assert it is that guard and nothing else
        if (name == "contain") {
          // the round-17 candidate-mass guard is a DELIBERATE exception to
          // both blanket bans below: a 1-row Σf² aggregate over the
          // checkpointed vocab, broadcast onto the candidate join. Assert
          // it is present (the __mass_ok alias is projection-collapsed in
          // the physical plan; the surviving markers are the raise_error
          // message and the __mass sum) and that every SinglePartition
          // exchange is THAT guard — a single-column partial-sum input —
          // never a corpus-wide funnel.
          assert(plan.contains("candidate-mass"),
            s"$name: mass guard missing from the audited plan at ${factor}x:\n$plan")
          val blocks = plan.split("\n\n").filter(_.contains("SinglePartition"))
          blocks.foreach { b =>
            // the decimal sum's partial state is [sum#N, isEmpty#N]
            assert("Input \\[[12]\\]: \\[sum#\\d+(, isEmpty#\\d+)?\\]".r
                .findFirstIn(b).isDefined,
              s"$name: SinglePartition beyond the mass-guard sum " +
                s"at ${factor}x:\n$b")
          }
        } else {
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"$name lost its join key at ${factor}x:\n$plan")
          assert(!plan.contains("SinglePartition"),
            s"$name funnels to one partition at ${factor}x:\n$plan")
        }
      }
    }
  }

  test("search probe: term IN-filter reaches the postings scan, corpus untouched") {
    import graft.operators.Search
    val docs = (1L to 200L)
      .map(i => (i, s"alpha tok$i ${if (i % 3 == 0) "beta" else "gamma"}"))
      .toDF("doc_id", "text")
    Search.writeInvertedIndex(docs, "doc_id", "text", "graft_plan_search",
      nBuckets = 4)
    try {
      val plan = finalPlan(Search.searchAll(spark, "graft_plan_search",
        Seq("alpha", "beta"), 5))
      assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(term.*"),
        s"term IN not pushed to the postings scan:\n$plan")
      // the probe must read the index, never re-tokenize a corpus: exactly
      // one scan relation, the postings table
      assert(plan.contains("graft_plan_search_postings"), plan)
      assert(!plan.contains("Generate"), // no explode = no tokenization
        s"probe re-tokenizes instead of reading postings:\n$plan")
    } finally Seq("graft_plan_search_postings", "graft_plan_search_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("BM25 probe: same pruned-postings shape, weights broadcast, no corpus") {
    import graft.operators.Search
    val docs = (1L to 200L)
      .map(i => (i, s"alpha tok$i ${if (i % 3 == 0) "beta" else "gamma"}"))
      .toDF("doc_id", "text")
    Search.writeInvertedIndex(docs, "doc_id", "text", "graft_plan_bm25",
      nBuckets = 4)
    try {
      val plan = finalPlan(Search.searchBM25(spark, "graft_plan_bm25",
        Seq("alpha", "beta"), 5))
      assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(term.*"),
        s"term IN not pushed to the postings scan:\n$plan")
      assert(plan.contains("graft_plan_bm25_postings"), plan)
      assert(!plan.contains("Generate"),
        s"probe re-tokenizes instead of reading postings + inline dl:\n$plan")
      // the terms-derived idf weight side joins as a BROADCAST (query-terms
      // sized), never a shuffle of the postings
      assert(plan.contains("BroadcastHashJoin"),
        s"idf weights must broadcast:\n$plan")
    } finally Seq("graft_plan_bm25_postings", "graft_plan_bm25_terms")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("int8 store probe scans quantized bytes, never the float vectors") {
    import graft.operators.Similarity
    val emb = (1L to 100L).map(i =>
        (i, Array.tabulate(8)(j => math.sin(i * (j + 1)).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    Similarity.writeInt8Store(emb, "vec_id", "embedding", "graft_plan_i8",
      nBuckets = 2)
    try {
      val q = (0 until 8).map(j => math.sin(j + 1.0))
      val plan = finalPlan(Similarity.int8TopKAgainstStore(spark,
        "graft_plan_i8", "vec_id", q, 5))
      assert(plan.contains("graft_plan_i8_q"), plan)
      // the probe plan must not reference a float 'embedding' column — the
      // whole point of the store is scanning bytes + one scale
      assert(!plan.contains("embedding"),
        s"int8 store probe still reads float vectors:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS graft_plan_i8_q")
  }

  test("pq store probe scans code bytes, never the float vectors") {
    import graft.operators.Similarity
    val emb = (1L to 100L).map(i =>
        (i, Array.tabulate(8)(j => math.sin(i * (j + 1)).toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val model = Similarity.pqFit(emb.orderBy("vec_id"), "embedding",
      m = 2, ksub = 4)
    Similarity.writePqStore(emb, "vec_id", "embedding", model,
      "graft_plan_pq", nBuckets = 2)
    try {
      val q = (0 until 8).map(j => math.sin(j + 1.0))
      val plan = finalPlan(Similarity.pqAdcTopKAgainstStore(spark,
        "graft_plan_pq", "vec_id", q, model, 5))
      assert(plan.contains("graft_plan_pq_pq"), plan)
      assert(!plan.contains("embedding"),
        s"pq store probe still reads float vectors:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS graft_plan_pq_pq")
  }

  test("attributionLastTouch: window partitions by user, no SinglePartition") {
    import graft.operators.Analytics
    val ev = (1L to 200L).map(i => (i, new java.sql.Timestamp(i * 60000),
        i % 20, if (i % 5 == 0) "purchase" else "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val plan = finalPlan(Analytics.attributionLastTouch(ev, "user_id", "ts",
      "event_type", expr("cast(round(value * 100) as bigint)"), "event_id",
      Seq("view"), "purchase", 3600L))
    assert(!plan.contains("SinglePartition"),
      s"attribution funnels through one partition:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("rocAuc: rank window runs bucket-partitioned, never globally") {
    import graft.operators.Profiling
    val df = spark.read.parquet(dir)
    val plan = finalPlan(Profiling.rocAuc(df, col("id") % 50, col("grp") < 3))
    // the prefix-sum window must sit on a hash-partitioned (__bucket)
    // exchange; the only SinglePartition allowed is the final 1-row
    // scalar aggregate over map-side partials
    assert(plan.contains("hashpartitioning(__bucket"),
      s"rocAuc prefix sum not bucket-partitioned:\n$plan")
    val windowSection = plan.linesIterator.dropWhile(!_.contains(") Window"))
      .take(6).mkString("\n")
    assert(!windowSection.contains("SinglePartition"),
      s"rocAuc rank window is global:\n$plan")
  }

  test("chiSquare + histogram: margins/bounds broadcast back, codegen'd aggs") {
    import graft.operators.Profiling
    val df = spark.read.parquet(dir)
    val chi = finalPlan(Profiling.chiSquare(df, col("grp"), col("id") % 3))
    assert(chi.contains("BroadcastExchange"), chi)
    assert(!chi.contains("SortMergeJoin"),
      s"chiSquare margins should broadcast, not SMJ:\n$chi")
    val hist = finalPlan(Profiling.histogramEquiWidth(df, col("id"), 8))
    assert(hist.contains("BroadcastExchange"), hist)
    assert(hist.contains("[codegen id :"), hist)
  }

  test("fuzzyJoin: ONE equi-exchange per side on the block key, no cartesian") {
    import graft.operators.TextAnalysis
    val docs = (1L to 300L).map(i => (i, s"prefix_${i % 9} body $i"))
      .toDF("doc_id", "text")
    val plan = finalPlan(TextAnalysis.fuzzyJoin(docs, "doc_id", col("text"),
      substring(col("text"), 1, 8), maxDist = 20))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"fuzzyJoin degenerated to all-pairs:\n$plan")
  }

  test("jaroWinklerLinkage: block-keyed equi-join, scorer inside codegen, no cartesian") {
    import graft.operators.TextAnalysis
    val docs = (1L to 300L).map(i => (i, s"prefix_${i % 9} body $i"))
      .toDF("doc_id", "text")
    val plan = finalPlan(TextAnalysis.jaroWinklerLinkage(docs, "doc_id",
      col("text"), substring(col("text"), 1, 8), minSimMicros = 500000L))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"jaroWinklerLinkage degenerated to all-pairs:\n$plan")
    // the verify kernel is the native expression, not a UDF fallback
    assert(plan.contains("graft_jaro_winkler"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // best-match variant: the rank window hash-partitions by record id
    // (scales with records), never a single global partition
    val best = finalPlan(TextAnalysis.jaroWinklerBestMatch(docs, "doc_id",
      col("text"), substring(col("text"), 1, 8), minSimMicros = 500000L))
    assert(best.contains("hashpartitioning(id"),
      s"best-match window should partition by id:\n$best")
    assert(!best.contains("CartesianProduct") &&
      !best.contains("BroadcastNestedLoopJoin"), best)
  }

  test("topPmiBigrams / jlProjectMicros: one tokenize pass, pure projection — no stray shuffles") {
    import graft.operators.{Similarity, TextAnalysis}
    val docs = (1L to 200L).map(i => (i, s"w${i % 9} w${(i + 1) % 9} w${(i + 2) % 9}"))
      .toDF("doc_id", "text")
    val pmi = finalPlan(TextAnalysis.topPmiBigrams(docs, "text", k = 10,
      minPairCount = 2L))
    // totals ride broadcasts; the vocab joins must never be cartesian
    assert(!pmi.contains("CartesianProduct"), pmi)
    assert(pmi.contains("TakeOrderedAndProject") || pmi.contains("TakeOrdered"),
      s"top-k cut must be TakeOrdered, not a full sort:\n$pmi")
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 100L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val jl = Similarity.jlProjectMicros(vecs, "vec_id", "embedding", 8, 4,
      seed = 1L)
    jl.collect()
    val jlPlan = jl.queryExecution.executedPlan.toString
    // a pure projection + Generate: the only exchange is the output sort
    assert(!jlPlan.contains("hashpartitioning"),
      s"JL projection must not hash-shuffle:\n$jlPlan")
    assert(!jlPlan.contains("Join"), jlPlan)
  }

  test("rollingActive / intervalCoverage: key-partitioned windows, broadcast max-day, no SinglePartition") {
    import graft.operators.Analytics
    val ev = (1L to 300L).map(i => (i, new java.sql.Timestamp(i * 7200000),
        i % 12, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val ra = finalPlan(Analytics.rollingActive(ev, "user_id", "ts", 7))
    // the lead window must hash-partition on the user; the only
    // SinglePartition is the 1-row max-day aggregate that broadcasts
    val raWin = ra.linesIterator.dropWhile(!_.contains(") Window"))
      .take(6).mkString("\n")
    assert(!raWin.contains("SinglePartition"),
      s"rollingActive lead window is global:\n$ra")
    assert(ra.contains("BroadcastExchange"), ra)
    val ic = finalPlan(Analytics.intervalCoverage(ev, "user_id", "ts", 3600L))
    assert(ic.contains("hashpartitioning(__k"),
      s"intervalCoverage windows not key-partitioned:\n$ic")
    assert(!ic.contains("SinglePartition"),
      s"intervalCoverage funnels through one partition:\n$ic")
  }

  test("trendFit / decayedSum: one hash aggregate with partial combine, no joins beyond the broadcast") {
    import graft.operators.{Analytics, Profiling}
    val df = spark.read.parquet(dir)
    val tf = finalPlan(Profiling.trendFit(df, "grp", col("id"), col("id") % 9))
    assert(tf.contains("partial_"),
      s"trendFit missing map-side partial aggregation:\n$tf")
    assert(!tf.contains("SortMergeJoin") && !tf.contains("CartesianProduct"),
      tf)
    val ev = (1L to 200L).map(i => (i, new java.sql.Timestamp(i * 3600000),
        i % 10, 2.5)).toDF("event_id", "ts", "user_id", "value")
    val ds = finalPlan(Analytics.decayedSum(ev, "user_id", "ts",
      expr("cast(round(value * 100) as bigint)"), 7))
    assert(ds.contains("BroadcastExchange"), ds)
    assert(!ds.contains("SortMergeJoin"),
      s"decayedSum max-day should broadcast, not SMJ:\n$ds")
  }

  test("approx-percentile twins: partial sketch aggregates, no exact buffer, no sort window") {
    import graft.operators.Profiling
    val df = spark.read.parquet(dir)
    // a plan is sketch-only when stripping approx_percentile leaves no
    // bare percentile( call — exact `percentile` buffers the full value
    // multiset per aggregation buffer, the 100 TB hazard these twins
    // exist to retire
    def assertSketchOnly(name: String, plan: String): Unit = {
      assert(plan.contains("partial_approx_percentile"),
        s"$name: sketch aggregate not partially merged map-side:\n$plan")
      assert(!plan.replace("approx_percentile", "").contains("percentile("),
        s"$name: exact percentile buffer present:\n$plan")
    }
    val qb = finalPlan(Profiling.quantileBinsApprox(df, col("id")))
    assertSketchOnly("quantileBinsApprox", qb)
    val wz = finalPlan(Profiling.winsorizedAggApprox(df, "grp", col("id")))
    assertSketchOnly("winsorizedAggApprox", wz)
    // the approx twin also kills the exact form's per-group sort window —
    // the skewed-group task that dies first at 100 TB
    assert(!wz.contains("Window"),
      s"winsorizedAggApprox still sorts per group:\n$wz")
    val ps = finalPlan(Profiling.psiDriftApprox(
      df.filter(col("grp") < 3), df.filter(col("grp") >= 3), col("id")))
    assertSketchOnly("psiDriftApprox", ps)
    val ck = finalPlan(Profiling.winsorizedAggApproxChecked(
      df, "grp", col("id")))
    assertSketchOnly("winsorizedAggApproxChecked", ck)
    assert(!ck.contains("Window"), ck)
  }

  test("media pipeline: metadata scan prunes the blob column; codec chain never shuffles") {
    import graft.operators.Multimodal
    val mediaDir = Files.createTempDirectory("graft_media_audit").toString
    Multimodal.encodeSyntheticPng(
        spark.range(1, 65).select(col("id").as("doc_id")), "doc_id")
      .write.mode("overwrite").parquet(mediaDir)
    // at 100 TB the blob column IS the table: a metadata aggregate that
    // drags `bytes` through the scan reads orders of magnitude more than
    // it needs — ReadSchema must carry only the scalar metadata columns
    val meta = finalPlan(Multimodal.metadataStats(spark.read.parquet(mediaDir)))
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(meta).toList.distinct
    assert(reads.nonEmpty, s"no ReadSchema details in:\n$meta")
    // the blob column is `bytes:binary` — match the typed form, since the
    // legitimate scalar `n_bytes:bigint` contains "bytes" as a substring
    assert(reads.forall(!_.contains("bytes:binary")),
      s"metadata stats read the blob column: $reads")
    // decode→resize→decode is per-row kernel work: it must pipeline with
    // the scan in one stage — an Exchange here would shuffle the (huge)
    // blob bytes for no reason
    val chain = finalPlan(
      Multimodal.decodeFeatures(Multimodal.resizeImages(
        spark.read.parquet(mediaDir), 6, 10)).toDF())
    assert(!chain.contains("Exchange"),
      s"codec chain shuffles blob bytes:\n$chain")
  }

  test("round-18 kernels: video mux+sample, BPE count, block extraction never shuffle") {
    import graft.operators.{Bpe, Multimodal, TextAnalysis}
    val docs = spark.range(1, 65)
      .select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma doc "), col("id")).as("text"))
    // video: synth AVI mux → container parse → sampled per-frame decode is
    // per-row kernel work end to end — blob bytes must never enter an
    // Exchange (at 100 TB the container bytes ARE the table)
    val video = finalPlan(Multimodal.videoFrames(
      Multimodal.encodeSyntheticAvi(docs, "doc_id"), everyK = 2).toDF())
    assert(!video.contains("Exchange"),
      s"video mux/parse/decode chain shuffles blob bytes:\n$video")
    // BPE: the encode kernel is a pure projection; the merges table rides
    // the closure, so there is no join and no shuffle anywhere
    val model = Bpe.BpeModel(Vector(("a", "l"), ("al", "p")))
    val bpe = finalPlan(Bpe.tokenCounts(docs, "doc_id", "text", model))
    assert(!bpe.contains("Exchange") && !bpe.contains("Join"),
      s"BPE count kernel must be a pure projection:\n$bpe")
    // block-tier HTML extraction: ONE codegen'd projection over the scan —
    // no Exchange, and the whole sentinel chain stays inside one
    // WholeStageCodegen span (the strip-tier contract, q_html_extract)
    val blocks = finalPlan(docs.select(col("doc_id"),
      TextAnalysis.htmlToBlocks(col("text")).as("t")))
    assert(!blocks.contains("Exchange"),
      s"block extraction shuffles:\n$blocks")
    assert(blocks.contains("codegen id"),
      s"block extraction fell out of codegen:\n$blocks")
  }

  test("curateMultimodal: image decode consumes the TEXT-GATED semi-join; no all-pairs anywhere") {
    import graft.operators.{Curation, Multimodal}
    import spark.implicits._
    val docs = (0L until 24L)
      .map(i => (i, s"the quick brown fox document number $i runs and jumps over things", "srcA"))
      .toDF("doc_id", "text", "source")
    val media = Multimodal.encodeSyntheticPngGroups(
      docs.select("doc_id"), "doc_id")
    // the decode fragment: MapPartitions must sit ABOVE the left-semi gate
    // (cheap text filters first — image bytes of text-dropped pairs are
    // never decoded); in the plan string a parent prints before its child
    val ids = docs.select(col("doc_id").as("media_id")).limit(10)
    val frag = finalPlan(Multimodal.imageDHashWide(
      media.join(ids, Seq("media_id"), "left_semi")))
    val mp = frag.indexOf("MapPartitions")
    val semi = frag.indexOf("LeftSemi")
    assert(mp >= 0 && semi >= 0 && mp < semi,
      s"decode does not consume the gated side:\n$frag")
    val full = finalPlan(Curation.curateMultimodal(
      docs, "doc_id", "text", media, "media_id", minQuality = 0.0))
    assert(!full.contains("CartesianProduct") &&
      !full.contains("BroadcastNestedLoopJoin"),
      s"multimodal curation degenerated to all-pairs:\n$full")
  }

  test("image dHash dedup: banded candidates, never all-pairs; decode runs pre-shuffle") {
    import graft.operators.{Dedup, Multimodal}
    val docs = (0L until 24L).toDF("doc_id")
    val hashes = Multimodal.imageDHash(
      Multimodal.encodeSyntheticPngGroups(docs, "doc_id"))
    // the hash kernel itself: decode + NN grid + bit pack is one pure
    // mapPartitions projection — blob bytes never enter an Exchange
    val hp = finalPlan(hashes)
    assert(!hp.contains("Exchange"),
      s"dHash kernel shuffles blob bytes:\n$hp")
    val plan = finalPlan(
      Dedup.imageDedupFromHashes(hashes, "media_id", "dhash", maxHamming = 6))
    // Manku banding: candidates from band-bucket equality, NEVER a
    // cartesian; the join keys are (band, band_bits)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"image dedup degenerated to all-pairs:\n$plan")
    // the wide (120-bit) scaled profile: same banded-join shape over the
    // two-long signature
    val wide = finalPlan(Dedup.imageDedupFromHashesWide(
      Multimodal.imageDHashWide(
        Multimodal.encodeSyntheticPngGroups(docs, "doc_id")),
      "media_id", maxHamming = 6))
    assert(!wide.contains("CartesianProduct") &&
      !wide.contains("BroadcastNestedLoopJoin"),
      s"wide image dedup degenerated to all-pairs:\n$wide")
    // audio + video ride the same banded engine: never all-pairs
    val audio = finalPlan(Dedup.wideHashDedup(
      Multimodal.audioEnergyHashWide(
        Multimodal.encodeSyntheticWavGroups(docs, "doc_id")),
      "media_id", maxHamming = 6))
    assert(!audio.contains("CartesianProduct") &&
      !audio.contains("BroadcastNestedLoopJoin"),
      s"audio dedup degenerated to all-pairs:\n$audio")
    val video = finalPlan(Dedup.videoDedupFromFrameHashes(
      Multimodal.videoDHashWide(
        Multimodal.encodeSyntheticAviGroups(docs, "doc_id")),
      "media_id", maxHamming = 6, minMatchedFrames = 3))
    assert(!video.contains("CartesianProduct") &&
      !video.contains("BroadcastNestedLoopJoin"),
      s"video dedup degenerated to all-pairs:\n$video")
  }
}

package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Profiling, Search, Similarity, TextAnalysis}

/** Spark-job budgets of the composed pipelines: at this scale a pass is
  * bound by per-job latency, so a change that adds a job to a pipeline must
  * show up here, not only in a traced benchmark run. Jobs are counted by a
  * listener on a job tag, which broadcast and adaptive-stage jobs inherit,
  * so concurrent work elsewhere in the session cannot inflate a count. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft-job-budget"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try { body; TestBus.drain(sc) }
    finally { sc.removeJobTag(tag); sc.removeSparkListener(listener) }
    n.get
  }

  private lazy val fixture = CurationFixtures.budget(spark)

  test("curateFull runs within its job budget") {
    val (docs, bench) = fixture
    val model = TextAnalysis.syntheticQualityModel()
    // 36 before the row-local decontamination filter, the min-id span
    // dedup and the single-checkpoint MinHash; 21 (curateFull) and 37
    // (curateFullExcise) before the one front scan and the fused decisions
    val budgets = Seq[(String, () => Int, Int)](
      ("curateFull", () => Curation.curateFull(docs, "doc_id", "text", bench,
        "text", model, keepLogit = -0.15).select("doc_id").collect().length, 8),
      ("curateFullExcise", () => Curation.curateFullExcise(docs, "doc_id",
        "text", bench, "text", model, keepLogit = -0.15).select("doc_id")
        .collect().length, 28))
    budgets.foreach { case (name, run, budget) =>
      var kept = 0
      val jobs = jobsOf { kept = run() }
      assert(kept > 0 && kept < 240, s"degenerate fixture: $kept $name survivors")
      assert(jobs <= budget, s"$name ran $jobs Spark jobs, budget $budget")
    }
  }

  test("tagged store appends run within their job budgets, replays cheaper") {
    val docs = (1 to 40).map(i => (s"g${i % 3}", s"v${i % 17}")).toDF("g", "v")
    val text = (1 to 30).map(i => (i.toLong, s"the cat sat on mat $i and ran t${i % 4}"))
      .toDF("doc_id", "text")
    def vec(s: Int): Seq[Float] = Array.tabulate(8)(j => math.sin(s * 7 + j).toFloat).toSeq
    val vecs = (1L to 20L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val model = Similarity.pqFit(vecs.orderBy("vec_id"), "embedding", m = 2, ksub = 4)
    val tables = Seq("jb_card", "jb_lm_pairs", "jb_lm_ctx", "jb_pq_pq",
      "jb_idx_postings", "jb_idx_terms")
    try {
      Profiling.writeCardinalityStore(docs, "g", col("v"), "jb_card", lgK = 12, nBuckets = 4)
      TextAnalysis.writeLmStore(text, "text", "jb_lm", nBuckets = 4)
      Similarity.writePqStore(vecs, "vec_id", "embedding", model, "jb_pq", nBuckets = 4)
      Search.writeInvertedIndex(text, "doc_id", "text", "jb_idx", nBuckets = 4)
      // (append, replay) budgets: one presence probe (two jobs under AQE)
      // per table, plus the append itself
      val budgets = Seq[(String, Long => Unit, (Int, Int))](
        ("sketch", t => Profiling.appendCardinalitySketches(spark, "jb_card", docs,
          "g", col("v"), 12, t), (5, 2)),
        ("LM", t => TextAnalysis.appendLmCounts(spark, "jb_lm", text, "text", t), (10, 4)),
        ("PQ", t => Similarity.appendPqStore(vecs, "vec_id", "embedding", model,
          "jb_pq", t), (4, 2)),
        ("inverted index", t => Search.appendInvertedIndex(text, "doc_id", "text",
          "jb_idx", t), (12, 4)))
      budgets.foreach { case (name, append, (first, replay)) =>
        val jobs = (jobsOf(append(1L)), jobsOf(append(1L)))
        assert(jobs._1 <= first && jobs._2 <= replay,
          s"$name append ran ${jobs._1} jobs (budget $first), replay ${jobs._2} " +
            s"(budget $replay)")
      }
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

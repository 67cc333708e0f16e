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

  /** 240 English-looking docs with planted exact, near and shared-span
    * duplicates and benchmark copies: the learned-quality filter,
    * decontamination and the three dedup stages each drop docs
    * (240 → 181 → 161 → 145 → 131 → 120 before the sample). */
  private lazy val fixture = {
    val rnd = new scala.util.Random(11)
    val stop = Vector("the", "and", "of", "is", "a", "to", "in", "that")
    def doc(words: Int) = (0 until words).map { i =>
      val w = if (rnd.nextDouble() < 0.25) stop(rnd.nextInt(stop.length))
        else s"w${rnd.nextInt(400)}x"
      if (i % 9 == 8) w + "." else w
    }.mkString(" ")
    val bench = (0 until 8).map(_ => doc(40))
    val boiler = doc(12)
    val texts = (0 until 240).map { i =>
      i % 12 match {
        case 0 => "Note " + bench(i % bench.length)
        case 1 => s"$boiler ${doc(40)}"
        case _ => doc(40 + rnd.nextInt(30))
      }
    }.toArray
    (2 until 240 by 12).foreach(i => texts(i + 1) = texts(i).toUpperCase)
    (5 until 240 by 12).foreach(i => texts(i + 1) = texts(i).reverse.dropWhile(_ != ' ').reverse + "tail")
    (texts.indices.map(_.toLong) zip texts).toDF("doc_id", "text") -> bench.toDF("text")
  }

  test("curateFull runs within its job budget") {
    val (docs, bench) = fixture
    val model = TextAnalysis.syntheticQualityModel()
    var kept = 0
    val jobs = jobsOf {
      kept = Curation.curateFull(docs, "doc_id", "text", bench, "text", model,
        keepLogit = -0.15).select("doc_id").collect().length
    }
    assert(kept > 0 && kept < 240, s"degenerate fixture: $kept survivors")
    // 36 before the row-local decontamination filter, the min-id span
    // dedup and the single-checkpoint MinHash
    assert(jobs <= 21, s"curateFull ran $jobs Spark jobs, budget 21")
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
        ("LM", t => TextAnalysis.appendLmCounts(spark, "jb_lm", text, "text", t), (11, 5)),
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

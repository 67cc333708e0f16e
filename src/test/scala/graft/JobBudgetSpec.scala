package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, TextAnalysis}

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
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup, Fan, Multimodal, Sampling, TextAnalysis}

/** The curation compositions against the chain of public stage functions
  * they fuse, their unique-id precondition, and the one-evaluation-per-row
  * contract of their front scan. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Model = TextAnalysis.syntheticQualityModel()
  private val KeepLogit = -0.15

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** the stage chain a traced benchmark pass replays, one public function
    * per stage, each stage materialized before the next */
  private def chain(docs: DataFrame, bench: Option[DataFrame],
                    span: Option[Boolean]): DataFrame = {
    val text = col("text")
    val gated = Fan.out(docs.filter(TextAnalysis.langId(text) === "en" &&
      TextAnalysis.qualityScore(text) >= 0.6)).localCheckpoint()
    val cleaned = bench.fold(gated)(b => Dedup.decontaminate(
        gated.filter(TextAnalysis.hashedQualityKeep(text, Model, KeepLogit)),
        "doc_id", "text", b, "text", 0.8)
      .localCheckpoint())
    val exact = Dedup.exactDedup(
        cleaned.withColumn("__fp", TextAnalysis.fingerprint(text)),
        col("__fp"), "doc_id")
      .drop("__fp").localCheckpoint()
    val near = Dedup.minhashDedupPortable(exact, "doc_id", "text", 0.5)
      .localCheckpoint()
    val spanned = span match {
      case None => near
      case Some(false) => Dedup.spanDedup(near, "doc_id", "text", 8)
      case Some(true) => Dedup.spanExcise(near, "doc_id", "text", 8)
        .filter(length(text) > 0)
    }
    Sampling.hashSample(spanned, col("doc_id"), 0.5)
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("doc_id").collect().toSeq

  test("curate, curateFull and curateFullExcise equal the public stage chain under any width or AQE") {
    val corpora = Seq("job-budget fixture" -> CurationFixtures.budget(spark),
      "planted corpus, seed 5" -> CurationFixtures.planted(spark, 5))
    val confs = Seq(Seq.empty[(String, String)],
      Seq("spark.sql.shuffle.partitions" -> "3"),
      Seq("spark.sql.adaptive.enabled" -> "false"))
    for ((name, (docs, bench)) <- corpora; conf <- confs) withConf(conf: _*) {
      val full = rows(Curation.curateFull(docs, "doc_id", "text", bench, "text",
        Model, keepLogit = KeepLogit))
      assert(full == rows(chain(docs, Some(bench), Some(false))),
        s"curateFull differs from the chain on the $name under $conf")
      assert(full.nonEmpty && full.length < docs.count() / 2,
        s"degenerate $name: ${full.length} survivors")
      val excised = rows(Curation.curateFullExcise(docs, "doc_id", "text",
        bench, "text", Model, keepLogit = KeepLogit))
      assert(excised == rows(chain(docs, Some(bench), Some(true))),
        s"curateFullExcise differs from the chain on the $name under $conf")
      assert(rows(Curation.curate(docs, "doc_id", "text")) ==
        rows(chain(docs, None, None)),
        s"curate differs from the chain on the $name under $conf")
    }
  }

  test("every curation composition fails by name on a repeated or NULL id") {
    import spark.implicits._
    val (docs, bench) = CurationFixtures.budget(spark)
    val media = Multimodal.encodeSyntheticPngGroups(docs.select("doc_id"), "doc_id")
    val runs = Seq[(String, DataFrame => DataFrame)](
      "curate" -> (d => Curation.curate(d, "doc_id", "text")),
      "curateFull" -> (d => Curation.curateFull(d, "doc_id", "text", bench,
        "text", Model, keepLogit = KeepLogit)),
      "curateFullExcise" -> (d => Curation.curateFullExcise(d, "doc_id", "text",
        bench, "text", Model, keepLogit = KeepLogit)),
      "curateMultimodal" -> (d => Curation.curateMultimodal(d, "doc_id", "text",
        media, "media_id")))
    // a repeat of a gated-out doc counts too: the check covers the input
    val repeated = docs.union(Seq((7L, "x")).toDF("doc_id", "text"))
    val nullId = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .union(Seq((None: Option[Long], "the cat and the dog")).toDF("doc_id", "text"))
    for ((name, run) <- runs) {
      val dup = intercept[Exception](run(repeated).collect())
      assert(dup.getMessage.contains("curation: doc_id 7 appears 2 times"),
        s"$name on a repeated id: ${dup.getMessage}")
      val nul = intercept[Exception](run(nullId).collect())
      assert(nul.getMessage.contains("curation: NULL doc_id"),
        s"$name on a NULL id: ${nul.getMessage}")
    }
  }

  test("the front scan evaluates each row kernel once per row") {
    val (docs, bench) = CurationFixtures.budget(spark)
    val code = withConf("spark.sql.adaptive.enabled" -> "false") {
      val front = Curation.front(docs, "doc_id", "text", "en", 0.6,
        Some((Model, KeepLogit)), Some((bench, "text", 0.8)), signatures = true,
        spanRun = Some(8))
      org.apache.spark.sql.execution.debug.codegenString(
        front.queryExecution.executedPlan)
    }
    // a gate filter over the kernels themselves ran TokenSetHitsExpr 9 times
    // and HashedQualityExpr twice per row
    for (kernel <- Seq("TokenSetHitsExpr", "HashedQualityExpr",
        "ShingleSetHitsExpr", "MinHashTokensSigExpr", "SpanWindowHashesExpr")) {
      val calls = code.split(java.util.regex.Pattern.quote(
        s"graft.functions.$kernel.compute("), -1).length - 1
      assert(calls == 1, s"$kernel.compute appears $calls times in the " +
        s"front scan's generated code:\n$code")
    }
  }
}

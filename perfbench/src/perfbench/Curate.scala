package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Fan, Sampling, TextAnalysis}

/** `curate`: one pass is `Curation.curateFull` over a generated corpus with
  * planted exact duplicates, near duplicates, shared spans, docs copied
  * from a benchmark set, and fixed non-English and low-quality shares.
  * Per-row kernels and dedup shuffles dominate it; driver latency barely
  * touches it. */
final class Curate extends Workload {
  val name = "curate"
  val Docs = 2000
  private val Model = TextAnalysis.syntheticQualityModel()
  private val KeepLogit = -0.15

  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private var dir: Path = _
  /** (pass, replayed, survivor ids) */
  private val results = ArrayBuffer.empty[(Int, Boolean, Set[Long])]
  private var stages: Seq[(String, DataFrame)] = Nil
  private val stageRows = ArrayBuffer.empty[Map[String, Long]]

  def generate(spark: SparkSession, out: Path, seed: Long): Map[String, Any] = {
    import spark.implicits._
    val r = Gen.rng(seed, 1)
    val benchSet = (0 until 40).map(_ => Gen.englishDoc(r, 40, 60))
    val boiler = (0 until 6).map(_ => Gen.englishDoc(r, 12, 12).stripSuffix("."))
    val docs = ArrayBuffer.empty[(String, String, Long)] // text, kind, group
    var group = 0L
    while (docs.length < Docs) {
      val u = r.nextDouble()
      if (u < 0.08) docs += ((Gen.englishDoc(r, 40, 90, Gen.SpanishStop), "non_english", -1L))
      else if (u < 0.14) {
        val junk = (0 until 2).map(_ => Gen.Vocab(r.nextInt(Gen.Vocab.length))).mkString(" ")
        docs += ((junk, "low_quality", -1L))
      } else if (u < 0.18)
        docs += (("Note " + benchSet(r.nextInt(benchSet.length)), "contaminated", -1L))
      else if (u < 0.23) {
        val t = Gen.englishDoc(r, 40, 90); group += 1
        docs += ((t, "exact", group))
        (1 to 1 + r.nextInt(2)).foreach(k => docs += ((Gen.exactCopy(t, k), "exact", group)))
      } else if (u < 0.28) {
        val t = Gen.englishDoc(r, 40, 90); group += 1
        docs += ((t, "near", group))
        (1 to 1 + r.nextInt(2)).foreach(_ => docs += ((Gen.nearCopy(t, r), "near", group)))
      } else if (u < 0.33)
        docs += ((boiler(r.nextInt(boiler.length)) + ". " + Gen.englishDoc(r, 40, 80), "span", -1L))
      else docs += ((Gen.englishDoc(r, 40, 90), "unique", -1L))
    }
    // ids are a seeded permutation, so planted copies are not adjacent
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0L until docs.length.toLong).toVector)
    val rows = docs.zip(ids).map { case ((t, k, g), id) => (id, t, k, g) }.sortBy(_._1)
    rows.toSeq.map(x => (x._1, x._2)).toDF("doc_id", "text")
      .write.parquet(out.resolve("corpus.parquet").toString)
    rows.toSeq.map(x => (x._1, x._3, x._4)).toDF("doc_id", "kind", "grp")
      .coalesce(1).write.parquet(out.resolve("truth.parquet").toString)
    benchSet.toDF("text").coalesce(1).write.parquet(out.resolve("bench.parquet").toString)
    val kinds = rows.groupBy(_._3).map { case (k, xs) => k -> xs.length }
    Map("docs" -> rows.length,
      "corpus_bytes" -> Gen.bytesUnder(out.resolve("corpus.parquet")),
      "bench_passages" -> benchSet.length) ++
      kinds.map { case (k, n) => s"planted_rate.$k" -> n.toDouble / rows.length }
  }

  def open(spark: SparkSession, in: Path): Unit = {
    dir = in
    corpus = spark.read.parquet(in.resolve("corpus.parquet").toString)
    bench = spark.read.parquet(in.resolve("bench.parquet").toString)
  }

  override def minPasses: Int = 3
  override def replays: Boolean = true

  def pass(ctx: Ctx, record: Boolean): Unit = {
    val replay = ctx.tracer.isDefined && ctx.replay
    val ids =
      if (replay) replayPass(ctx)
      else ctx.call("Curation.curateFull") {
        Curation.curateFull(corpus, "doc_id", "text", bench, "text", Model,
          keepLogit = KeepLogit).select("doc_id").collect().map(_.getLong(0)).toSet
      }
    if (record) ids.foreach(s => results += ((ctx.pass, replay, s)))
  }

  /** `curateFull` replayed as timed calls to the stage functions it
    * composes, in the same order and with the same checkpoints. Lazy
    * stages run inside the next materializing call: the learned-quality
    * filter inside `Dedup.decontaminate`'s checkpoint, and the sample
    * filter inside the final collect, which is attributed to
    * `Dedup.spanDedup` because the span dedup is the work it runs. */
  private def replayPass(ctx: Ctx): Option[Set[Long]] = {
    val text = col("text")
    for {
      gated <- ctx.call("TextAnalysis.qualityGates") {
        Fan.out(corpus.filter(TextAnalysis.langId(text) === "en" &&
          TextAnalysis.qualityScore(text) >= 0.6)).localCheckpoint()
      }
      modeled <- ctx.call("TextAnalysis.hashedQualityKeep") {
        gated.filter(TextAnalysis.hashedQualityKeep(text, Model, KeepLogit))
      }
      cleaned <- ctx.call("Dedup.decontaminate") {
        Dedup.decontaminate(modeled, "doc_id", "text", bench, "text", 0.8)
          .localCheckpoint()
      }
      exact <- ctx.call("Dedup.exactDedup") {
        Dedup.exactDedup(cleaned.withColumn("__fp", TextAnalysis.fingerprint(text)),
          col("__fp"), "doc_id").drop("__fp").localCheckpoint()
      }
      near <- ctx.call("Dedup.minhashDedupPortable") {
        Dedup.minhashDedupPortable(exact, "doc_id", "text", 0.5).localCheckpoint()
      }
      span <- ctx.call("Dedup.spanDedup")(Dedup.spanDedup(near, "doc_id", "text", 8))
      sampled <- ctx.call("Sampling.hashSample")(Sampling.hashSample(span, col("doc_id"), 0.5))
      ids <- ctx.call("Dedup.spanDedup") {
        sampled.select("doc_id").collect().map(_.getLong(0)).toSet
      }
    } yield {
      stages = Seq("input" -> corpus, "modeled" -> modeled, "cleaned" -> cleaned,
        "exact" -> exact, "near" -> near, "span" -> span)
      ids
    }
  }

  /** stage sizes of the last replayed pass, counted outside timing */
  override def afterPass(spark: SparkSession): Unit = if (stages.nonEmpty) {
    stageRows += stages.map { case (k, d) => k -> d.count() }.toMap
    stages = Nil
  }

  def check(spark: SparkSession, tally: Tally): Unit = {
    val truth = spark.read.parquet(dir.resolve("truth.parquet").toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val all = truth.map(_._1).toSet
    val groups = truth.filter(t => t._2 == "exact" || t._2 == "near")
      .groupBy(t => (t._2, t._3)).values.map(_.map(_._1).toSet).toSeq
    val mustGo = truth.filter(t => Set("contaminated", "non_english",
      "low_quality")(t._2)).map(_._1).toSet
    val reference = results.headOption.map(_._3)
    results.foreach { case (p, replay, s) =>
      val problems = Seq(
        "survivor outside the corpus" -> !s.subsetOf(all),
        "two survivors in one planted duplicate group" ->
          groups.exists(g => (g intersect s).size > 1),
        "contaminated, non-English or low-quality doc kept" ->
          (s intersect mustGo).nonEmpty,
        "fewer than 5% of docs kept" -> (s.size < all.size / 20),
        "survivors differ from the first pass" -> !reference.contains(s))
        .collect { case (what, true) => what }
      tally.wrong(problems.isEmpty,
        s"curate pass $p${if (replay) " (replay)" else ""}: ${problems.mkString("; ")}")
    }
  }

  def injectFault(): Unit = if (results.nonEmpty) {
    val (p, r, s) = results.last
    results(results.length - 1) = (p, r, s + Long.MaxValue)
  }

  def layerFigures(tracer: Tracer,
                   untraced: Seq[CallRec]): Map[String, Double] = {
    def ratio(a: String, b: String) =
      Stats.mean(stageRows.map(m => m(a).toDouble / math.max(m(b), 1L)).toSeq)
    if (stageRows.isEmpty) Map.empty
    else Map(
      "TextAnalysis.gate_keep_ratio" -> ratio("modeled", "input"),
      "Dedup.keep_ratio.decontaminate" -> ratio("cleaned", "modeled"),
      "Dedup.keep_ratio.exact" -> ratio("exact", "cleaned"),
      "Dedup.keep_ratio.near" -> ratio("near", "exact"),
      "Dedup.keep_ratio.span" -> ratio("span", "near"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpora for the curation compositions: (docs (doc_id, text), bench
  * (text)). Each plants every kind of document a stage drops. */
object CurationFixtures {

  /** 240 English-looking docs with planted exact, near and shared-span
    * duplicates and benchmark copies: the learned-quality filter,
    * decontamination and the three dedup stages each drop docs
    * (240 → 181 → 161 → 145 → 131 → 120 before the sample). */
  def budget(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
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

  /** `n` docs under a seeded id permutation (planted copies are not
    * adjacent), with a `source` column riding along: exact copies that
    * differ in case and punctuation, near copies with one word changed,
    * docs opening with one of three shared 12-word spans, benchmark
    * copies, Spanish docs and two-word junk. */
  def planted(spark: SparkSession, seed: Long, n: Int = 300): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val stop = Vector("the", "and", "of", "is", "a", "to", "in", "that")
    val spanish = Vector("el", "los", "las", "es", "de", "que")
    def doc(words: Int, markers: Vector[String] = stop) = (0 until words).map { i =>
      val w = if (rnd.nextDouble() < 0.3) markers(rnd.nextInt(markers.length))
        else s"v${rnd.nextInt(300)}"
      if (i % 8 == 7) w + "," else w
    }.mkString(" ")
    val bench = (0 until 10).map(_ => doc(45))
    val spans = (0 until 3).map(_ => doc(12))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (texts.length < n) {
      val u = rnd.nextDouble()
      if (u < 0.08) texts += doc(50, spanish)
      else if (u < 0.13) texts += s"v${rnd.nextInt(9)} v${rnd.nextInt(9)}"
      else if (u < 0.19) texts += "Quote: " + bench(rnd.nextInt(bench.length))
      else if (u < 0.27) {
        val t = doc(40 + rnd.nextInt(40)); texts += t
        texts += t.toUpperCase.replace(",", ";")
      } else if (u < 0.35) {
        val ws = doc(60 + rnd.nextInt(30)).split(" ")
        texts += ws.mkString(" ")
        ws(rnd.nextInt(ws.length)) = "changed"
        texts += ws.mkString(" ")
      } else if (u < 0.45) texts += spans(rnd.nextInt(spans.length)) + " " + doc(40)
      else texts += doc(40 + rnd.nextInt(50))
    }
    val ids = new scala.util.Random(seed + 1).shuffle((0L until texts.length).toVector)
    (ids zip texts).map { case (id, t) => (id, t, s"src${id % 3}") }
      .toDF("doc_id", "text", "source") -> bench.toDF("text")
  }
}

package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded generators for every workload's inputs. Everything is drawn from
  * `SplittableRandom(seed, stream)`, so one seed gives the same inputs. */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream * 0xBF58476D1CE4E5B9L))

  /** tokens the language and quality gates key on; vocabulary words avoid
    * them so that only the planted markers decide a doc's language */
  val EnglishStop = Vector("the", "and", "of", "is", "a", "to", "in", "it", "that")
  val SpanishStop = Vector("el", "los", "las", "es", "con", "por", "una", "del")
  private val Reserved = (EnglishStop ++ SpanishStop ++
    Seq("le", "les", "est", "une", "der", "die", "das", "ist", "an")).toSet

  /** a fixed 4000-word vocabulary of 2–3 syllable pseudo-words */
  val Vocab: Vector[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vows = "aeiou"
    val out = Vector.newBuilder[String]
    var i = 0; val seen = scala.collection.mutable.HashSet.empty[String]
    while (seen.size < 4000) {
      var x = i * 7919 + 13; val b = new StringBuilder
      val syll = 2 + (i % 2)
      (0 until syll).foreach { _ =>
        b += cons(x % cons.length); x /= cons.length
        b += vows(x % vows.length); x /= vows.length
      }
      if (i % 3 == 0) b += cons((i / 3) % cons.length)
      val w = b.toString
      if (!Reserved(w) && seen.add(w)) out += w
      i += 1
    }
    out.result()
  }

  /** Zipf(1.0) ranks over the vocabulary: rank 0 is the most frequent */
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / (r + 1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = zipfCdf.length - 1
    while (lo < hi) { val m = (lo + hi) / 2; if (zipfCdf(m) < u) lo = m + 1 else hi = m }
    Vocab(lo)
  }

  /** an English-looking doc: sentences of 6–12 words, about a fifth of
    * them stopwords (so the quality gate's stopword test passes) */
  def englishDoc(r: SplittableRandom, minWords: Int, maxWords: Int,
                 stop: Vector[String] = EnglishStop): String = {
    val n = minWords + r.nextInt(maxWords - minWords + 1)
    val b = new StringBuilder
    var inSentence = 0; var sentenceLen = 6 + r.nextInt(7)
    (0 until n).foreach { i =>
      val w = if (r.nextDouble() < 0.22) stop(r.nextInt(stop.length)) else zipfWord(r)
      if (b.nonEmpty) b += ' '
      b ++= (if (inSentence == 0) w.capitalize else w)
      inSentence += 1
      if (inSentence == sentenceLen || i == n - 1) {
        b += '.'; inSentence = 0; sentenceLen = 6 + r.nextInt(7)
      }
    }
    b.toString
  }

  /** replace the last word of a doc: a near duplicate that differs in
    * exactly its last shingle */
  def nearCopy(text: String, r: SplittableRandom): String = {
    val body = text.stripSuffix(".")
    val cut = body.lastIndexOf(' ')
    var w = zipfWord(r)
    while (body.endsWith(" " + w)) w = zipfWord(r)
    body.substring(0, cut + 1) + w + "."
  }

  /** same normalized content (case and punctuation differ) */
  def exactCopy(text: String, k: Int): String =
    if (k % 2 == 0) text.toUpperCase else text.replace(".", ";")

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def filesUnder(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)).count()
      finally s.close()
    }

  /** an 18×16 grayscale PNG with seeded pixels: distinct images are far
    * apart in dHash space (no chance near duplicates) */
  def png(r: SplittableRandom): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val ras = img.getRaster
    (0 until 18 * 16).foreach(i => ras.setSample(i % 18, i / 18, 0, r.nextInt(256)))
    val bos = new java.io.ByteArrayOutputStream(512)
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}

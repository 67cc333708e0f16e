package graft

import org.apache.spark.sql.functions._

/** One-off stage breakdown for the MinHash dedup pipeline. */
object ProfileMinhash {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = ToolSession.start()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    spark.read.parquet(s"$sfDir/region.parquet").count() // warm session

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[mh] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }

    t("shingle explode count") {
      docs.select(explode(operators.Dedup.shingles(col("text"), 3))).count()
    }
    val sigs = t("minhashSigs materialize") {
      val s0 = operators.Dedup.minhashSigs(docs, "doc_id", "text").cache()
      s0.count(); s0
    }
    val banded = t("lshBands") {
      val b = operators.Dedup.lshBands(sigs, "doc_id", "sig", 16)
      b.count(); b
    }
    t("band self-join + distinct pairs") {
      banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id"), col("r.doc_id")).distinct().count()
    }
    t("full minhashCandidates") {
      operators.Dedup.minhashCandidates(docs, "doc_id", "text").count()
    }
    t("full minhashDedup") {
      operators.Dedup.minhashDedup(docs, "doc_id", "text", 0.5).count()
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** One-off scale-up generator for the round-10 empirical stress (verdict
  * item #2): replicate the documents/embeddings corpora `factor`× while
  * holding the DUPLICATE RATE constant, so heavy-family runtimes can be
  * compared against a 10× corpus without the quadratic pair blow-up a naive
  * copy would plant (10 exact copies of every doc = 100× the candidate
  * pairs — that would measure the dup-rate change, not the scale-up).
  *
  *  - documents: replica r > 0 suffixes every 5th token with `_r`. A
  *    3-shingle survives only if none of its tokens is salted → shingle
  *    Jaccard(original, replica) ≈ 0.4/1.6 = 0.25 < every dedup threshold
  *    in use, and different replicas' salts differ, so replicas are NOT
  *    near-dups of each other or of the originals — while each replica
  *    internally preserves the original corpus's near-dup pairs (same salt
  *    positions on both members). Corpus grows 10×, true-pair count grows
  *    10×, vocabulary grows ~3× (suffixed variants).
  *  - embeddings: replica r rotates the vector by r positions. Rotation
  *    preserves norms and within-replica inner products (pair structure
  *    intact), while cross-replica cosines decorrelate. vec_id/doc_id
  *    offset by r·10M keeps the r = 0 originals addressable (the ANN query
  *    vectors, src0 store seeds, etc. all still exist verbatim).
  *  - every other table is symlinked from the source dir — the TPC-H side
  *    is not under stress here.
  *
  * Usage: runMain graft.GenScale <srcSfDir> <outDir> <factor>
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    require(factor >= 1 && factor <= 100, s"factor $factor out of range")
    val spark = ToolSession.start()
    Files.createDirectories(Paths.get(out))

    val docs = spark.read.parquet(s"$src/documents.parquet")
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
    val salted = array_join(
      transform(split(col("text"), " "), (t, i) =>
        when(col("__r") > 0 && pmod(i, lit(5)) === 0,
          concat(t, lit("_"), col("__r"))).otherwise(t)),
      " ")
    docs.select(
        (col("doc_id") + col("__r") * 10000000L).as("doc_id"),
        salted.as("text"), col("lang"), col("source"),
        length(salted).cast("long").as("n_chars"))
      .repartition(col("doc_id"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
    val dim = size(col("embedding"))
    // rotate by __r mod dim: factor may exceed the embedding dimension
    // (factor up to 100 vs e.g. 64-dim vectors), where a raw __r would make
    // the slice length negative and fail at runtime
    val rot = pmod(col("__r"), dim)
    val rotated = concat(
      slice(col("embedding"), rot + 1, dim - rot),
      slice(col("embedding"), lit(1), rot))
    emb.select(
        (col("vec_id") + col("__r") * 10000000L).as("vec_id"),
        rotated.as("embedding"), col("label"))
      .repartition(col("vec_id"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // the join-side TPC-H tables (round-11 verdict item #6): replicate with
    // ONE consistent key offset (r·10M on orderkey AND custkey, the same
    // allocation-shard constant the doc/vec ids use) so every replica joins
    // only within itself — join cardinality scales exactly `factor`×, fanout
    // per key is UNCHANGED, and the r = 0 originals stay addressable. The
    // broadcast dims (nation/region) are deliberately NOT scaled: a dim that
    // grows with the fact table isn't a broadcast dim.
    val off = col("__r") * 10000000L
    def replicate(table: String, bump: Map[String, String => org.apache.spark.sql.Column]): Unit = {
      val src0 = spark.read.parquet(s"$src/$table.parquet")
        .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      val out0 = src0.columns.filter(_ != "__r").foldLeft(src0) { (d, c) =>
        bump.get(c).map(f => d.withColumn(c, f(c))).getOrElse(d)
      }
      out0.drop("__r")
        .repartition(col(bump.keys.head))
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    val bumped: String => org.apache.spark.sql.Column = c => col(c) + off
    replicate("customer", Map("c_custkey" -> bumped))
    replicate("orders", Map("o_orderkey" -> bumped, "o_custkey" -> bumped))
    replicate("lineitem", Map("l_orderkey" -> bumped))
    // the event log (round 16, for the event-analytics probes): same r·10M
    // offset on event_id AND user_id — each replica is a DISJOINT user
    // population with identical per-user histories, so funnel/retention/
    // transition counts scale exactly factor× while per-user event counts
    // (the per-key state law) are unchanged. Timestamps untouched: scale
    // here means more users, not longer history (ts round-trips as raw
    // Long nanos under nanosAsLong, or as timestamp in newer fixtures —
    // either way unmodified).
    replicate("events", Map("event_id" -> bumped, "user_id" -> bumped))

    val scaled = Set("documents.parquet", "embeddings.parquet",
      "customer.parquet", "orders.parquet", "lineitem.parquet",
      "events.parquet")
    Files.list(Paths.get(src)).forEach { p =>
      val name = p.getFileName.toString
      val link = Paths.get(out, name)
      if (!scaled(name) && !Files.exists(link))
        Files.createSymbolicLink(link, p.toAbsolutePath)
    }
    println(s"[genscale] wrote $out at ${factor}x documents/embeddings")
    spark.stop()
  }
}

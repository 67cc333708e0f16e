package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the accreting HLL/CMS sketch stores' COMPACTION
  * (round-18 verdict item #1): split the corpus into `batches` doc_id
  * slices, seed each store from slice 0, append the rest tagged, then time
  * the estimates probe at full accretion, compact, and time the probe
  * again — the claim under test is that the probe's read drops from
  * groups×batches sketch rows to groups (cardinality) / batches rows to 1
  * (frequency) with estimates unchanged, so a year-long ingest history
  * stops taxing every probe. Prints per-step seconds, store row counts,
  * and an estimates-parity check across the compaction.
  *
  * Usage: runMain graft.ProbeSketchStore <sfDir> [batches] */
object ProbeSketchStore {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(8)
    require(batches >= 2, s"need >= 2 batches, got $batches")
    val spark = ToolSession.start()
    import graft.operators.Profiling

    val tok = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), col("doc_id"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"),
          t => length(t) > lit(0))).as("__tok"))
      .localCheckpoint()
    def slice(b: Int) = tok.filter(pmod(col("doc_id"), lit(batches)) === b)
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[sk-probe] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // ---- cardinality (HLL) store --------------------------------------
    val card = "graft_probe_card"
    spark.sql(s"DROP TABLE IF EXISTS $card")
    timed("card: seed (slice 0)") {
      Profiling.writeCardinalityStore(slice(0), "source", col("__tok"),
        card, lgK = 12)
    }
    (1 until batches).foreach { b =>
      timed(s"card: append batch $b") {
        Profiling.appendCardinalitySketches(spark, card, slice(b),
          "source", col("__tok"), lgK = 12, batchTag = b.toLong)
      }
    }
    def cardProbe() = Profiling.cardinalityEstimates(spark, card).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cardRowsBefore = spark.table(card).count()
    val estBefore = timed(s"card: probe at $batches batches")(cardProbe())
    timed("card: COMPACT")(Profiling.compactCardinalityStore(spark, card))
    val cardRowsAfter = spark.table(card).count()
    val estAfter = timed("card: probe after compaction")(cardProbe())
    println(s"[sk-probe] card rows $cardRowsBefore -> $cardRowsAfter; " +
      s"estimates identical: ${estBefore == estAfter}")

    // ---- frequency (CMS) store ----------------------------------------
    val freq = "graft_probe_freq"
    spark.sql(s"DROP TABLE IF EXISTS $freq")
    val cands = tok.groupBy("__tok")
      .agg(count(lit(1)).as("n")).orderBy(desc("n"), asc("__tok"))
      .limit(50).select(col("__tok").as("item")).localCheckpoint()
    timed("freq: seed (slice 0)") {
      Profiling.writeFrequencyStore(slice(0), col("__tok"), freq,
        eps = 0.001, confidence = 0.99, seed = 42)
    }
    (1 until batches).foreach { b =>
      timed(s"freq: append batch $b") {
        Profiling.appendFrequencySketch(spark, freq, slice(b), col("__tok"),
          eps = 0.001, confidence = 0.99, seed = 42, batchTag = b.toLong)
      }
    }
    def freqProbe() = Profiling.frequencyEstimates(spark, freq, cands, "item")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val freqRowsBefore = spark.table(freq).count()
    val fBefore = timed(s"freq: probe at $batches batches")(freqProbe())
    timed("freq: COMPACT")(Profiling.compactFrequencyStore(spark, freq))
    val freqRowsAfter = spark.table(freq).count()
    val fAfter = timed("freq: probe after compaction")(freqProbe())
    println(s"[sk-probe] freq rows $freqRowsBefore -> $freqRowsAfter; " +
      s"estimates identical: ${fBefore == fAfter}")
    spark.stop()
  }
}

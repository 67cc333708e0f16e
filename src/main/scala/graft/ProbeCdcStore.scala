package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the MULTI-BATCH accreted CDC chunk store (round-18
  * verdict item #3): split the corpus into `batches` disjoint doc_id
  * slices, seed the store from slice 0, then run the tagged
  * `cdcDedupAgainst` ingest (probe + append) for each later slice in turn —
  * so batch b probes a store accreted from b prior batches — and finally
  * time a no-append admission probe of a shifted replica batch against the
  * FULLY accreted store (the steady-state ingest shape; the single-batch
  * Appendix B row covered only a fresh store). Prints per-step seconds,
  * store row counts, and the final report's byte split.
  *
  * Usage: runMain graft.ProbeCdcStore <sfDir> [batches] */
object ProbeCdcStore {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batches = args.lift(1).map(_.toInt).getOrElse(4)
    require(batches >= 2, s"need >= 2 batches, got $batches")
    val spark = ToolSession.start()
    import graft.operators.Dedup

    val store = "graft_probe_cdc"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .localCheckpoint()
    def slice(b: Int) = docs.filter(pmod(col("doc_id"), lit(batches)) === b)
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[cdc-probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    spark.sql(s"DROP TABLE IF EXISTS ${store}_chunks")
    timed("seed store (slice 0)") {
      Dedup.writeChunkStore(Dedup.cdcChunks(slice(0), "doc_id", "blob"), store)
    }
    (1 until batches).foreach { b =>
      timed(s"ingest batch $b (probe+append)") {
        Dedup.cdcDedupAgainst(slice(b), "doc_id", "blob", store,
          updateStore = true, batchId = b.toLong).count()
      }
    }
    println(s"[cdc-probe] accreted store rows: " +
      spark.table(s"${store}_chunks").count())
    // steady-state admission probe: a 1-byte-shifted replica of slice 0
    // (mostly dup bytes — the CDC shift-resistance shape) + fresh salt ids
    val shifted = slice(0)
      .select((col("doc_id") + 900000000L).as("doc_id"),
        concat(lit(Array[Byte](42)), col("blob")).as("blob"))
    val rep = timed("steady-state probe (no append)") {
      val r = Dedup.cdcDedupAgainst(shifted, "doc_id", "blob", store,
          updateStore = false)
        .agg(sum("total_bytes"), sum("new_bytes"), sum("dup_bytes"))
        .head()
      r
    }
    println(s"[cdc-probe] shifted-replica bytes: total=${rep.getLong(0)} " +
      s"new=${rep.getLong(1)} dup=${rep.getLong(2)} " +
      f"(dup share ${rep.getLong(2).toDouble / rep.getLong(0)}%.3f)")
    spark.sql(s"DROP TABLE IF EXISTS ${store}_chunks")
    spark.stop()
  }
}

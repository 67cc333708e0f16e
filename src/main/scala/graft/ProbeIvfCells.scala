package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Cell-size probe for the corpus-scaled IVF blocking (round-12 verdict
  * item 3's residual): fit at autoK(corpus) via the distributed-sample
  * Lloyd's, assign the full corpus, and report the cell-size distribution —
  * the evidence that expected cells stay ~targetCellRows (and the
  * `maxCellRows` quadratic guard stays clear) as autoK tracks the corpus
  * past the old 2048 ceiling.
  *
  * Usage: runMain graft.ProbeIvfCells <sfDir>
  */
object ProbeIvfCells {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = ToolSession.start()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val k = Similarity.autoK(n)
    val t0 = System.nanoTime()
    val model = Similarity.ivfFit(emb.orderBy("vec_id"), "embedding", k = k)
    val fitSec = (System.nanoTime() - t0) / 1e9
    val cells = Similarity.ivfAssign(emb, "embedding", model)
      .groupBy("__cluster").agg(count(lit(1)).as("c"))
    val stats = cells.agg(
      count(lit(1)).as("nonempty"), max(col("c")).as("max"),
      expr("percentile(c, 0.99)").as("p99"),
      avg(col("c")).as("mean")).head()
    println(s"""{"probe_ivf_cells":{"dir":"$dir","rows":$n,"autoK":$k,""" +
      s""""fit_sec":${math.round(fitSec * 10) / 10.0},""" +
      s""""nonempty_cells":${stats.getLong(0)},"max_cell":${stats.getLong(1)},""" +
      s""""p99_cell":${stats.getDouble(2)},"mean_cell":${math.round(stats.getDouble(3) * 10) / 10.0}}}""")
    spark.stop()
  }
}

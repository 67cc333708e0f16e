package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Calibration probe for [[graft.operators.Dedup.DefaultMaxCandidateMass]]:
  * computes the lossless containment candidate-mass bound Σ f² over the
  * freq ≥ 2 shared 3-gram vocabulary of a documents corpus (plus the mass
  * under the production 3·log₂ n doc-freq cap) — the exact quantity the
  * fail-fast guard in Dedup.ngramContainmentPrefix compares against its
  * budget, measured here so BASELINE.md can anchor the default to data
  * rather than to a guess.
  *
  * Usage: runMain graft.ProbeContainmentMass <dir> [<dir> ...]
  */
object ProbeContainmentMass {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeContainmentMass <sfDir> [...]")
    val spark = ToolSession.start()
    args.foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val nDocs = docs.count()
      val lg = math.log(math.max(nDocs, 2L).toDouble) / math.log(2.0)
      // the two registered profiles: q_containment's lossless VALVE
      // (8·log₂ past 10k docs, the graft.queries.Offline.containmentFreqCap rule) and
      // q_containment_capped's production cap (3·log₂, floor 32)
      val valve = if (nDocs <= 10000) Long.MaxValue
        else math.max(64L, (8.0 * lg).toLong)
      val cap = math.max(32L, (3.0 * lg).toLong)
      val freqs = docs
        .select(graft.operators.TextAnalysis.tokens(
          graft.operators.TextAnalysis.normalized(col("text"))).as("__toks"))
        .select(explode(array_distinct(transform(
          graft.operators.Dedup.shinglesFromTokens(
            col("__toks"), 3, distinct = false),
          s => xxhash64(s)))).as("__s"))
        .groupBy("__s").agg(count(lit(1)).as("f"))
        .filter(col("f") >= 2)
      val r = freqs.agg(
        sum(col("f").cast(DecimalType(38, 0)) * col("f")).as("mass"),
        sum(when(col("f") <= valve,
          col("f").cast(DecimalType(38, 0)) * col("f"))).as("mass_valve"),
        sum(when(col("f") <= cap,
          col("f").cast(DecimalType(38, 0)) * col("f"))).as("mass_capped"),
        count(lit(1)).as("shared_vocab"), max("f").as("max_f")).head()
      println(s"""{"dir":"$dir","n_docs":$nDocs,"valve":$valve,"cap":$cap,""" +
        s""""mass":${r.getDecimal(0)},"mass_valve":${r.getDecimal(1)},""" +
        s""""mass_capped":${r.getDecimal(2)},""" +
        s""""shared_vocab":${r.getLong(3)},"max_f":${r.getLong(4)}}""")
    }
    spark.stop()
  }
}
